package perfbench

import graft.IngestorCli
import graft.pipeline.IngestConfig
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The CDC drain against the stub, with one POST answered 500: the
  * failure shows in the stub's errors and in Spark's task retries, and
  * the retried task still delivers every row exactly once.
  */
class IngestSpec extends AnyFunSuite {

  private val ts = 1700000000000000L // 2023-11-14 22:13:20 UTC, in microseconds

  private def env(op: String, before: String, after: String, lsn: Long) =
    s"""{"before":$before,"after":$after,"source":{"lsn":$lsn},"op":"$op","ts_us":$ts}"""

  test("an injected 500 is counted as a sink error and a task retry; the retry acks every row") {
    val dir = Files.createTempDirectory("perfbench-ingest")
    val topic = Files.createDirectories(dir.resolve("topic"))
    val keyed = env("d", """{"id":0,"name":"x","email":"y"}""", "null", 101)
    Files.writeString(topic.resolve("part-0.jsonl"), Seq(
      env("c", "null", """{"id":7,"name":"n7","email":"e7"}""", 100),
      s"""{"key":"{\\"id\\":9}","value":${Json.str(keyed)}}""",
      "{not json",
      env("x", "null", """{"id":8,"name":"n8","email":"e8"}""", 102)).mkString("", "\n", "\n"))
    val expected = Seq(
      """{"id":7,"name":"n7","email":"e7","is_deleted":0,"_op":1,"_lsn":100,"_ts":"2023-11-14 22:13:20"}""",
      """{"id":9,"name":"","email":"","is_deleted":1,"_op":3,"_lsn":101,"_ts":"2023-11-14 22:13:20"}""")

    val spark = SparkSession.builder().master("local[2,2]").appName("perfbench-spec")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val stub = new ChStub(2)
    stub.failAt(1)
    try {
      val l = new Main.Listeners(spark)
      IngestorCli.run(spark, IngestorCli.Args(mode = "cdc",
        cfg = IngestConfig(brokers = Seq(s"file:$topic"), metricsPort = 0),
        sink = stub.sink, checkpoint = dir.resolve("ckpt").toString))
      l.barrier()
      assert(stub.errors === 1)
      assert(l.sched.failedTasks.get === 1L)
      assert(l.sched.retriedTasks.get === 1L)
      assert(ChStub.diff(expected, stub.acked.flatMap(_.rows)) === ((Map.empty, Map.empty)))
    } finally {
      stub.stop()
      spark.stop()
    }
  }
}
