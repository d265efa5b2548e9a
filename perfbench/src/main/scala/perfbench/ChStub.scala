package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentLinkedQueue, ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** One POST as the stub saw it. `startUs` is when the handler began
  * reading the body, `ackUs` when it answered.
  */
final case class Post(seq: Int, startUs: Long, ackUs: Long, bytes: Int, rows: IndexedSeq[String],
    status: Int)

/** In-process stand-in for ClickHouse's HTTP interface: accepts
  * JSONEachRow INSERT bodies on loopback and records each POST's rows,
  * bytes, receive interval and ack time. After [[failAt]]`(k)` the k-th
  * POST from then on is answered 500 and its rows are not acked.
  */
final class ChStub(threads: Int) {
  require(threads >= 1, "stub needs at least one handler thread")
  private val posts = new ConcurrentLinkedQueue[Post]()
  private val seq = new AtomicInteger()
  @volatile private var failSeq = 0
  private val pool: ExecutorService = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => {
    val t0 = Clock.nowUs
    val body = ex.getRequestBody.readAllBytes()
    val n = seq.incrementAndGet()
    val status = if (n == failSeq) 500 else 200
    val text = new String(body, StandardCharsets.UTF_8)
    val rows = if (text.isEmpty) IndexedSeq.empty else text.split('\n').toIndexedSeq
    val ack = Clock.nowUs
    posts.add(Post(n, t0, ack, body.length, rows, status))
    ex.sendResponseHeaders(status, -1)
    ex.close()
  })
  server.start()

  def port: Int = server.getAddress.getPort
  def sink: String = s"clickhouse:127.0.0.1:$port"

  def all: IndexedSeq[Post] = posts.asScala.toIndexedSeq.sortBy(_.seq)
  def acked: IndexedSeq[Post] = all.filter(_.status == 200)
  def errors: Int = all.count(_.status != 200)
  /** Forget recorded POSTs (an armed failure stays armed). */
  def reset(): Unit = posts.clear()

  /** Answer 500 to the `k`-th POST (1-based) received from now on. */
  def failAt(k: Int): Unit = failSeq = seq.get + k

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object ChStub {

  /** Rows of `expected` missing from `acked` and rows acked more often
    * than expected, each with how many copies are off. Both empty means
    * the two are equal as multisets.
    */
  def diff[T](expected: Seq[T], acked: Seq[T]): (Map[T, Int], Map[T, Int]) = {
    val want = expected.groupMapReduce(identity)(_ => 1)(_ + _)
    val got = acked.groupMapReduce(identity)(_ => 1)(_ + _)
    val missing = want.map { case (r, n) => r -> (n - got.getOrElse(r, 0)) }.filter(_._2 > 0)
    val extra = got.map { case (r, n) => r -> (n - want.getOrElse(r, 0)) }.filter(_._2 > 0)
    (missing, extra)
  }
}
