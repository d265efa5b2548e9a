package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.IngestorCli
import graft.pipeline.{Debezium, IngestConfig}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The CDC ingest path through `IngestorCli.run` into the ClickHouse
  * stub: repeated drains of a pre-written Debezium backlog (`--brokers
  * file:<dir>`), each from a fresh checkpoint, for `--seconds`. Every
  * row of a drain is due when the drain starts, so a row's latency is
  * its wait behind the backlog plus its trip through the pipeline.
  */
object Ingest {

  /** One drain, kept small: the rows themselves are checked and dropped
    * as soon as the drain ends, so they do not count as live heap.
    */
  final case class Op(startUs: Long, endUs: Long, latenciesMs: Array[Double], posts: IndexedSeq[PostStat]) {
    def rows: Int = posts.filter(_.ok).map(_.rows).sum
    def wallS: Double = (endUs - startUs) / 1e6
  }

  /** Median over drains of each drain's median row latency. */
  def latencyP50(ops: Seq[Op]): Double = Stats.median(ops.map(op => Stats.median(op.latenciesMs.toSeq)))
  final case class PostStat(startUs: Long, ackUs: Long, bytes: Int, rows: Int, ok: Boolean)

  def run(a: Main.Args, r: Result): Unit = {
    val stub = new ChStub(a.cores)
    val expected = Files.readAllLines(Paths.get(s"${a.backlog}/expected_rows.jsonl")).asScala.toIndexedSeq
    var runs = 0
    def drain(spark: SparkSession): Option[Op] = {
      runs += 1
      val args = IngestorCli.Args(mode = "cdc",
        cfg = IngestConfig(brokers = Seq(s"file:${a.backlog}/topic"), metricsPort = 0),
        sink = stub.sink, checkpoint = s"${a.work}/ckpt-$runs")
      stub.reset()
      r.attempted += 1
      val t0 = Clock.nowUs
      try {
        IngestorCli.run(spark, args)
        val t1 = Clock.nowUs
        val posts = stub.all
        r.attempted += posts.size
        r.failed += posts.count(_.status != 200)
        val acked = posts.filter(_.status == 200)
        check(r, acked.flatMap(_.rows), expected)
        if (runs == 1) checkState(r, acked.flatMap(_.rows), s"${a.backlog}/expected_state.json")
        Some(Op(t0, t1, acked.flatMap(p => Array.fill(p.rows.size)((p.ackUs - t0) / 1000.0)).toArray,
          posts.map(p => PostStat(p.startUs, p.ackUs, p.bytes, p.rows.size, p.status == 200))))
      } catch {
        case e: Exception =>
          r.failed += 1
          r.fail(s"ingest run failed: ${String.valueOf(e.getMessage).take(300)}")
          None
      } finally stub.reset()
    }
    def measure(spark: SparkSession): Seq[Op] = {
      val deadline = System.nanoTime() + a.seconds * 1000000000L
      val ops = ArrayBuffer.empty[Op]
      ops ++= drain(spark)
      while (System.nanoTime() < deadline) ops ++= drain(spark)
      ops.toSeq
    }
    try {
      val spark = Main.setup(a, r)(spark => drain(spark))
      (1 to Main.WarmPasses).foreach(_ => drain(spark))
      // an injected failure lands in the measurement that reports it
      if (a.failPost > 0 && !a.trace) stub.failAt(a.failPost)
      val plain = measure(spark)
      require(plain.nonEmpty, "no drain completed")
      val heap = Main.liveHeapMb()
      // each figure is the median over drains of that drain's figure, so
      // one drain caught in a noise burst does not set the run's value
      val tails = plain.map(op => Stats.tail(op.latenciesMs.toSeq))
      r.metric("throughput_per_s", Stats.median(plain.map(op => op.rows / op.wallS)), "1/s")
      r.metric("latency_p50_ms", latencyP50(plain), "ms")
      r.metric("latency_tail_ms", Stats.median(tails.map(_._2)), "ms")
      r.metric("live_heap_mb", heap, "MB")
      r.note(f"ingest_cdc: ${plain.size} drains of ${expected.size} rows, ${plain.map(_.posts.size).sum} POSTs; " +
        f"tail = p${tails.head._1}%.0f of each drain's rows; peak RSS ${Main.peakRssMb()}%.0f MB")
      r.note("drain walls: " + plain.map(op => f"${op.wallS * 1000}%.0f").mkString(" ") + " ms")
      Main.log("measured")
      if (a.trace) {
        if (a.failPost > 0) stub.failAt(a.failPost)
        val traced = this.traced(spark, a, r, measure, expected)
        // untraced again after the traced drains, so warm-up drift cancels
        val again = measure(spark)
        Layers.overhead(r, latencyP50(plain ++ again), latencyP50(traced))
      }
    } finally stub.stop()
  }

  private def traced(spark: SparkSession, a: Main.Args, r: Result,
      measure: SparkSession => Seq[Op], expected: IndexedSeq[String]): Seq[Op] = {
    val l = new Main.Listeners(spark)
    val t0 = Clock.nowUs
    val ops = measure(spark)
    l.tracer.add(Span("run", "driver", "measure", t0, Clock.nowUs))
    Main.log("traced measurement done")
    // wait for the last query's progress events, then the shared queue
    val deadline = System.currentTimeMillis() + 30000L
    while (l.stream.terminated.get < ops.size && System.currentTimeMillis() < deadline) Thread.sleep(5)
    l.barrier()
    Main.log("listener bus drained")
    for (op <- ops) {
      l.tracer.add(Span("drain", "driver", "drain", op.startUs, op.endUs))
      op.posts.foreach(p => l.tracer.add(Span("post", "sink", "post", p.startUs, p.ackUs)))
    }
    val spans = l.spans
    val n = ops.size.toDouble
    Layers.common(r, l, spans, n, a)
    val progress = l.stream.progress.asScala.toSeq
    val withRows = progress.filter(_._1 > 0)
    val triggers = withRows.map(_._2.getOrElse("triggerExecution", 0L).toDouble)
    def phaseMs(k: String) = progress.map(_._2.getOrElse(k, 0L)).sum.toDouble / math.max(1, progress.size)
    r.metric("stream.batches", progress.size / n, "count")
    r.metric("stream.rows_per_batch", withRows.map(_._1).sum.toDouble / math.max(1, withRows.size), "rows")
    if (triggers.nonEmpty) r.metric("stream.trigger_p50_ms", Stats.median(triggers), "ms")
    tailMetric(r, "stream.trigger_tail_ms", triggers, "batches with rows")
    for ((k, m) <- Seq("latestOffset" -> "latest_offset", "getBatch" -> "get_batch",
        "queryPlanning" -> "query_planning", "addBatch" -> "add_batch", "walCommit" -> "wal_commit",
        "commitOffsets" -> "commit"))
      r.metric(s"stream.${m}_ms", phaseMs(k), "ms")
    r.metric("stream.backlog_rows", (expected.size.toLong * ops.size - ops.map(_.rows).sum).toDouble, "rows")
    val posts = ops.flatMap(_.posts.filter(_.ok))
    val postMs = ops.flatMap(_.posts).map(p => (p.ackUs - p.startUs) / 1000.0)
    r.metric("sink.posts", ops.map(_.posts.size).sum / n, "count")
    r.metric("sink.rows_per_post", posts.map(_.rows).sum.toDouble / math.max(1, posts.size), "rows")
    r.metric("sink.bytes_per_row", posts.map(_.bytes.toLong).sum.toDouble /
      math.max(1, posts.map(_.rows).sum), "bytes")
    if (postMs.nonEmpty) r.metric("sink.post_p50_ms", Stats.median(postMs), "ms")
    tailMetric(r, "sink.post_tail_ms", postMs, "POSTs")
    r.metric("sink.errors", ops.map(_.posts.count(!_.ok)).sum.toDouble, "count")
    r.metric("sink.task_retries", l.sched.retriedTasks.get.toDouble, "count")
    Layers.bypassed(r, "tables.schema_jobs" -> "count", "queries.construct_jobs" -> "count")
    pipelineProbe(spark, a, r)
    Main.log("pipeline probe done")
    l.remove()
    ops
  }

  /** A tail timing, reported only when the sample has a tail above its
    * median; otherwise a note says why it is missing.
    */
  private def tailMetric(r: Result, name: String, xs: Seq[Double], what: String): Unit =
    if (xs.nonEmpty && Stats.tailPercentile(xs.size) > 50) {
      val (p, v) = Stats.tail(xs)
      r.metric(name, v, "ms")
      r.note(f"$name is p$p%.0f of ${xs.size} $what")
    } else r.note(s"$name not reported: ${xs.size} $what leave no tail above the median")

  /** The translate and serialize stages alone, as batch `noop` writes
    * over the whole backlog (median of three each).
    */
  private def pipelineProbe(spark: SparkSession, a: Main.Args, r: Result): Unit = {
    // the file transport's record shape: a keyed record or a bare envelope
    val lines = spark.read.text(s"${a.backlog}/topic")
    val rec = from_json(col("value"), "key STRING, value STRING", Map.empty[String, String])
    val raw = lines.select(rec.getField("key").as("key"),
      coalesce(rec.getField("value"), col("value")).as("value"))
    def timeMs(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
    val translateMs = (1 to 3).map(_ => timeMs(
      Debezium.translateRows(raw, col("value"), col("key")).write.format("noop").mode("overwrite").save()))
    val rows = Debezium.translateRows(raw, col("value"), col("key")).localCheckpoint()
    val serializeMs = (1 to 3).map(_ => timeMs(
      Debezium.toJsonEachRow(rows).write.format("noop").mode("overwrite").save()))
    r.metric("pipeline.translate_ms", Stats.median(translateMs), "ms")
    r.metric("pipeline.serialize_ms", Stats.median(serializeMs), "ms")
    r.metric("pipeline.rows_out_ratio", rows.count().toDouble / lines.count(), "ratio")
  }

  /** A drain must ack exactly the expected rows, as a multiset. */
  def check(r: Result, acked: Seq[String], expected: IndexedSeq[String]): Unit = {
    val (missing, extra) = ChStub.diff(expected, acked)
    r.check(missing.isEmpty, s"cdc: ${missing.values.sum} expected rows not acked, e.g. ${missing.keys.take(2)}")
    r.check(extra.isEmpty, s"cdc: ${extra.values.sum} unexpected rows acked, e.g. ${extra.keys.take(2)}")
  }

  /** The acked rows, folded to current state (max `_lsn` per id, deletes
    * dropped), must equal the source table the generator simulated.
    */
  def checkState(r: Result, acked: Seq[String], expectedFile: String): Unit = {
    val mapper = new ObjectMapper()
    val state = acked.map(mapper.readTree).groupBy(_.get("id").asLong)
      .map { case (id, vs) => id -> vs.maxBy(_.get("_lsn").asLong) }
      .collect { case (id, v) if v.get("is_deleted").asInt == 0 =>
        id -> (v.get("name").asText, v.get("email").asText, v.get("_lsn").asLong)
      }
    val want = mapper.readTree(Files.readString(Paths.get(expectedFile))).fields().asScala.map { e =>
      e.getKey.toLong -> (e.getValue.get(0).asText, e.getValue.get(1).asText, e.getValue.get(2).asLong)
    }.toMap
    r.check(state == want, s"cdc: current state has ${state.size} rows, expected ${want.size}; " +
      s"${(state.toSet diff want.toSet).size} differ")
  }
}
