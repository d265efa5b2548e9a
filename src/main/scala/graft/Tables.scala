package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Parquet table loader for the driver-provided star schema
  * (TESTDATA.md). At 100 TB these would be partitioned directories
  * (e.g. events partitioned by day); `spark.read.parquet` on a
  * directory picks that up unchanged, and every query in this library
  * filters/prunes through Catalyst so partition pruning and predicate
  * pushdown apply automatically.
  *
  * Each `SparkSession` keeps a schema catalog: a table's footer schema
  * is inferred once (one small Spark job), and every later `table`
  * call reads with that schema, so it launches no job. The catalog is
  * keyed on the qualified path plus the modification time and length
  * of that path, so a table rewritten in place is inferred again. A
  * failed resolve caches nothing. The catalog holds schemas, not
  * DataFrames: every call still builds a fresh relation with fresh
  * attribute ids, so a query can self-join two `table` calls.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private type Key = (String, Long, Long) // qualified path, mtime, length

  private val catalogs = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[Key, StructType]]())

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Fixture generations have typed events.ts two ways: parquet
    // TIMESTAMP(NANOS), which Spark 4 refuses to read as a timestamp
    // (the legacy conf reads it as a nanosecond LongType), and plain
    // timestamp[us] (TIMESTAMP_NTZ). Downstream code is written against
    // one contract — ts is nanos-since-epoch as LongType — so normalize
    // a timestamp-typed ts here: under the pinned-UTC session,
    // unix_micros over the NTZ→TZ cast is the same wall-clock instant.
    // The conf governs the scan as well as the inference, so it is set
    // on every call, cached or not.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val df = schemaOf(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      // missing: let the reader raise its usual PATH_NOT_FOUND
      case None => spark.read.parquet(path)
    }
    if (df.columns.contains("ts") &&
        df.schema("ts").dataType.typeName.startsWith("timestamp"))
      df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
    else df
  }

  /** The session's cached footer schema of `path`, inferred on a miss;
    * None when the path does not exist.
    */
  private def schemaOf(spark: SparkSession, path: String): Option[StructType] = {
    val p = new Path(path)
    val status =
      try Some(p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p))
      catch { case _: FileNotFoundException => None }
    status.map { st =>
      val key = (st.getPath.toString, st.getModificationTime, st.getLen)
      catalogs.computeIfAbsent(spark, _ => new ConcurrentHashMap[Key, StructType]())
        .computeIfAbsent(key, _ => spark.read.parquet(path).schema)
    }
  }

  /** events.ts (nanos-as-long) → epoch seconds. The ns value (~1.7e18
    * for 2024) exceeds double's 2^53 mantissa, so float division would
    * corrupt it: strip the sub-second part with exact long arithmetic
    * first, then the decimal division is integral and exact. Matches
    * DuckDB `epoch(date_trunc('second', ts))` on the original ns
    * timestamp.
    */
  def epochSeconds(tsNanos: Column): Column = {
    val whole = tsNanos - pmod(tsNanos, lit(1000000000L))
    (whole.cast("decimal(38,0)") / lit(1000000000L)).cast("long")
  }

  /** events.ts (nanos-as-long) → second-truncated TimestampType. */
  def tsSeconds(tsNanos: Column): Column = timestamp_seconds(epochSeconds(tsNanos))
}
