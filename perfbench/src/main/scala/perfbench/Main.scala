package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark run in one JVM: a cold set-up, a measurement for
  * `--seconds`, optionally repeated traced, with the outputs checked.
  * The result goes as JSON to `--result`. `run.py` makes the inputs,
  * checks the query outputs against DuckDB and prints the final line.
  */
object Main {

  final case class Args(
      workload: String, seconds: Int, trace: Boolean, work: String,
      cores: Int, queries: Seq[String], failPost: Int,
      result: String) {
    def data: String = s"$work/data"
    def backlog: String = s"$work/backlog"
  }

  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, s"expected --key value pairs, got: ${argv.mkString(" ")}")
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seconds").toInt, get("trace") == "1",
      get("work"), get("cores").toInt,
      m.get("queries").toSeq.flatMap(_.split(',')).filter(_.nonEmpty),
      m.getOrElse("fail-post", "0").toInt, get("result"))
  }

  /** One session at local[cores]; with injected sink failures each task
    * may be tried twice, so the failed POST is retried.
    */
  def session(a: Args): SparkSession = {
    val master = if (a.failPost > 0) s"local[${a.cores},2]" else s"local[${a.cores}]"
    val s = SparkSession.builder().master(master).appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The JVM's one set-up: a session started cold, then `warmUp` on it.
    * Reports it as `setup_s` and returns the open session.
    */
  def setup(a: Args, r: Result)(warmUp: SparkSession => Unit): SparkSession = {
    val t0 = System.nanoTime()
    val spark = session(a)
    warmUp(spark)
    val dt = (System.nanoTime() - t0) / 1e9
    log(f"cold set-up took $dt%.2f s")
    r.metric("setup_s", dt, "s")
    spark
  }

  /** Untimed passes (query_floor) or drains (ingest_cdc) between the
    * set-up and the measurement: after a cold set-up the JIT is still
    * compiling, and the first measured passes ran 20-50% slower than the
    * later ones.
    */
  val WarmPasses = 2

  private val t0 = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  /** Heap in use after a full collection: what the run keeps live. */
  def liveHeapMb(): Double = {
    // the second collection frees what Spark's ContextCleaner released
    // after the first one made its references unreachable
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** VmHWM: the process's resident-set high-water mark, in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Listeners attached for a traced measurement. */
  final class Listeners(spark: SparkSession) {
    val tracer = new Tracer
    val sched = new SchedulerTrace(tracer)
    val plan = new PlanTrace(tracer)
    val stream = new StreamTrace(tracer)
    spark.sparkContext.addSparkListener(sched)
    spark.listenerManager.register(plan)
    spark.streams.addListener(stream)

    /** Wait until the shared listener queue has delivered everything up
      * to now: a marker job's end arrives after every earlier event.
      */
    def barrier(): Unit = {
      val sc = spark.sparkContext
      sc.setCallSite("perfbench-barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearCallSite()
      val deadline = System.currentTimeMillis() + 30000L
      while (sched.lastSite != "perfbench-barrier" && System.currentTimeMillis() < deadline)
        Thread.sleep(5)
      require(sched.lastSite == "perfbench-barrier", "listener bus did not drain within 30 s")
    }

    def spans: IndexedSeq[Span] = tracer.spans.filterNot(_.name == "perfbench-barrier")

    def remove(): Unit = {
      spark.sparkContext.removeSparkListener(sched)
      spark.listenerManager.unregister(plan)
      spark.streams.removeListener(stream)
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val r = new Result
    try a.workload match {
      case "query_floor" => QueryFloor.run(a, r)
      case "ingest_cdc" => Ingest.run(a, r)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    } catch {
      case e: Throwable =>
        r.fail(s"run aborted: $e")
        e.printStackTrace()
    }
    Files.writeString(Paths.get(a.result), r.json)
    SparkSession.getActiveSession.foreach(_.stop())
  }
}

/** What one run reports back to run.py. */
final class Result {
  var attempted = 0L
  var failed = 0L
  private val errors = mutable.ArrayBuffer.empty[String]
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val report = mutable.ArrayBuffer.empty[String]

  def fail(msg: String): Unit = errors += msg
  def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)
  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def note(line: String): Unit = report += line
  def correct: Boolean = errors.isEmpty

  def json: String = {
    import Json.str
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val ms = metrics.map { case (k, (v, u)) => s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""errors": [${errors.map(str).mkString(", ")}], "metrics": {${ms.mkString(", ")}}, """ +
      s""""report": [${report.map(str).mkString(", ")}]}"""
  }
}

object Json {
  /** A JSON string literal. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
