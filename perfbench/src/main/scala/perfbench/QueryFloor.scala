package perfbench

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** Closed loop over a query mix, one query at a time: each query is
  * built through its registry thunk and materialized with a `noop`
  * write, so the whole result is computed and nothing is collected.
  */
object QueryFloor {
  type Query = (SparkSession, String) => DataFrame

  final case class Sample(name: String, wallMs: Double, constructMs: Double)

  /** The reported tail, and the samples a measurement takes at least so
    * that ten of them lie beyond it.
    */
  val TailP = 75.0
  val MinSamples: Int = Stats.samplesFor(TailP)

  def run(a: Main.Args, r: Result): Unit = {
    require(a.queries.nonEmpty, "query_floor needs --queries")
    val mix = a.queries.map(n => n -> SparkEntry.queries.getOrElse(n,
      throw new IllegalArgumentException(s"no registered query $n")))
    def pass(spark: SparkSession): Unit = mix.foreach { case (n, f) => execute(spark, a, r, n, f, None) }
    val spark = Main.setup(a, r)(pass)
    (1 to Main.WarmPasses).foreach(_ => pass(spark))
    val plain = loop(spark, a, r, mix, None)
    val heap = Main.liveHeapMb()
    val walls = plain.map(_.wallMs)
    r.metric("throughput_per_s", walls.size / (walls.sum / 1000.0), "1/s")
    r.metric("latency_p50_ms", Stats.median(walls), "ms")
    r.metric("latency_tail_ms", Stats.percentile(walls, TailP), "ms")
    r.metric("live_heap_mb", heap, "MB")
    val perQuery = plain.groupBy(_.name).map { case (n, ss) => n -> Stats.median(ss.map(_.wallMs)) }
    r.note(f"query_floor: ${mix.size} queries, ${walls.size} timed executions in ${walls.sum / 1000}%.2f s; " +
      f"tail = p$TailP%.0f; peak RSS ${Main.peakRssMb()}%.0f MB")
    r.note("pass walls: " + plain.grouped(mix.size).map(p => f"${p.map(_.wallMs).sum}%.0f").mkString(" ") + " ms")
    r.note("median ms per query: " + a.queries.map(n => f"$n ${perQuery.getOrElse(n, Double.NaN)}%.0f").mkString(", "))
    Main.log("measured")
    if (a.trace) {
      val tracedWalls = traced(spark, a, r, mix)
      // untraced again after the traced pass, so warm-up drift cancels
      val again = loop(spark, a, r, mix, None).map(_.wallMs)
      Layers.overhead(r, Stats.median(walls ++ again), Stats.median(tracedWalls))
      Main.log("traced")
    }
  }

  /** Build and materialize one query; a failure is counted, not thrown. */
  def execute(spark: SparkSession, a: Main.Args, r: Result, name: String, f: Query,
      tracer: Option[Tracer]): Option[Sample] = {
    r.attempted += 1
    try {
      val t0 = Clock.nowUs
      val df = f(spark, a.data)
      val t1 = Clock.nowUs
      df.write.format("noop").mode("overwrite").save()
      val t2 = Clock.nowUs
      tracer.foreach { tr =>
        tr.add(Span("query", "driver", name, t0, t2))
        tr.add(Span("construct", "queries", name, t0, t1))
        tr.add(Span("action", "driver", name, t1, t2))
      }
      Some(Sample(name, (t2 - t0) / 1000.0, (t1 - t0) / 1000.0))
    } catch {
      case e: Exception =>
        r.failed += 1
        r.fail(s"$name failed: ${String.valueOf(e.getMessage).take(300)}")
        None
    } finally spark.catalog.clearCache()
  }

  /** Whole passes over the mix, in order, until `seconds` have passed
    * and there are at least [[MinSamples]] samples: every query is
    * sampled equally often whatever the order.
    */
  def loop(spark: SparkSession, a: Main.Args, r: Result, mix: Seq[(String, Query)],
      tracer: Option[Tracer]): Seq[Sample] = {
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    val out = ArrayBuffer.empty[Sample]
    while (System.nanoTime() < deadline || out.size < MinSamples)
      mix.foreach { case (n, f) => out ++= execute(spark, a, r, n, f, tracer) }
    out.toSeq
  }

  /** The loop again with listeners and spans; returns its walls. */
  private def traced(spark: SparkSession, a: Main.Args, r: Result,
      mix: Seq[(String, Query)]): Seq[Double] = {
    val l = new Main.Listeners(spark)
    val t0 = Clock.nowUs
    val samples = loop(spark, a, r, mix, Some(l.tracer))
    l.tracer.add(Span("run", "driver", "measure", t0, Clock.nowUs))
    l.barrier()
    val spans = l.spans
    val n = samples.size.toDouble
    Layers.common(r, l, spans, n, a)
    val par = Trace.parents(spans)
    val jobs = spans.indices.filter(spans(_).kind == "job")
    r.metric("tables.schema_jobs", jobs.count(spans(_).name.contains("Tables.scala")) / n, "count")
    r.metric("queries.construct_ms", samples.map(_.constructMs).sum / n, "ms")
    r.metric("queries.construct_p50_ms", Stats.median(samples.map(_.constructMs)), "ms")
    r.metric("queries.construct_jobs",
      jobs.count(i => par(i) >= 0 && spans(par(i)).kind == "construct") / n, "count")
    // direct resolution of every fixture table, after the query loop
    val resolveMs = for (_ <- 1 to 3; t <- Tables.names) yield {
      val s0 = Clock.nowUs
      Tables.table(spark, a.data, t)
      (Clock.nowUs - s0) / 1000.0
    }
    l.remove()
    r.metric("tables.resolve_ms", Stats.median(resolveMs), "ms")
    Layers.bypassed(r, "stream.batches" -> "count", "stream.rows_per_batch" -> "rows",
      "stream.backlog_rows" -> "rows", "pipeline.rows_out_ratio" -> "ratio", "sink.posts" -> "count",
      "sink.rows_per_post" -> "rows", "sink.bytes_per_row" -> "bytes", "sink.errors" -> "count",
      "sink.task_retries" -> "count")
    samples.map(_.wallMs)
  }
}
