package graft

import java.nio.file.Files
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

/** `Tables.table`'s session schema catalog: a hit launches no job and
  * returns what an uncached read returns; a rewritten or newly written
  * path is resolved again; each call is a fresh relation.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def tempDir(): String = Files.createTempDirectory("graft-tables").toString

  /** The uncached reference: a plain footer-inferring read plus the
    * `ts` normalization, written out independently of `Tables`.
    */
  private def uncached(dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (df.schema.fieldNames.contains("ts") &&
        df.schema("ts").dataType.typeName.startsWith("timestamp"))
      df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
    else df
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("every fixture table: a cached resolve matches an uncached read in schema and rows") {
    requireTestdata()
    val dir = SparkSpec.fixtureDir
    for (name <- Tables.names) {
      Tables.table(spark, dir, name)
      val cached = Tables.table(spark, dir, name)
      val expected = uncached(dir, name)
      assert(cached.schema === expected.schema, name)
      assert(rows(cached) === rows(expected), name)
    }
  }

  test("a cache hit launches zero Spark jobs; the first resolve infers once") {
    val dir = tempDir()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    assert(jobsDuring(Tables.table(spark, dir, "t")) >= 1,
      "the first resolve must run the footer-inference job")
    assert(jobsDuring(Tables.table(spark, dir, "t")) === 0)
    assert(jobsDuring(Tables.table(spark, dir, "t").schema) === 0)
  }

  test("a table rewritten at the same path with other columns is resolved again") {
    val dir = tempDir()
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq === Seq("id", "s"))
    Seq((7L, 2.5, true)).toDF("id", "x", "flag")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables.table(spark, dir, "t")
    assert(again.columns.toSeq === Seq("id", "x", "flag"))
    assert(rows(again) === Seq("[7,2.5,true]"))
  }

  test("a missing table fails and caches nothing; once written it resolves") {
    val dir = tempDir()
    intercept[AnalysisException](Tables.table(spark, dir, "late"))
    Seq((3L, "c")).toDF("id", "s").write.parquet(s"$dir/late.parquet")
    assert(rows(Tables.table(spark, dir, "late")) === Seq("[3,c]"))
  }

  test("a timestamp ts in a cached table is still normalized to nanos-since-epoch") {
    val dir = tempDir()
    Seq((1L, java.time.LocalDateTime.parse("2024-01-02T03:04:05.123456")))
      .toDF("event_id", "ts").write.parquet(s"$dir/ev.parquet")
    Tables.table(spark, dir, "ev")
    val ts = Tables.table(spark, dir, "ev").select("ts").as[Long].head()
    assert(ts === 1704164645123456000L)
  }

  test("two table(events) calls self-join: fresh attribute ids per call") {
    requireTestdata()
    val dir = SparkSpec.fixtureDir
    val a = Tables.table(spark, dir, "events")
    val b = Tables.table(spark, dir, "events")
    val joined = a.join(b, a("event_id") === b("event_id"))
      .select(a("event_id"), a("ts"), b("user_id"))
    val expected = a.groupBy("event_id").count()
      .select(sum(col("count") * col("count"))).as[Long].head()
    assert(joined.count() === expected)
  }
}
