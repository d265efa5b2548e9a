package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (SURVEY.md §5.2#2). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared across suites

  /** Driver-generated parquet fixtures live outside the repo and are
    * absent on CI runners. Call as the first statement of any test
    * that reads them: the test CANCELS (visible in the report as
    * canceled, not silently green) instead of failing on a machine
    * without the fixtures.
    */
  protected def requireTestdata(): Unit =
    assume(SparkSpec.testdataPresent,
      "driver-generated /root/testdata not present — fixture-bound test skipped")

  /** Number of Spark jobs that `build` launches. */
  protected def jobsDuring(build: => Any): Int = SparkSpec.jobsDuring(spark)(build)
}

/** Mixin for suites where EVERY test reads the driver fixtures:
  * cancels the whole suite's tests on machines without them.
  */
trait NeedsTestdata extends SparkSpec {
  override protected def withFixture(test: NoArgTest): org.scalatest.Outcome =
    if (SparkSpec.testdataPresent) super.withFixture(test)
    else org.scalatest.Canceled(new org.scalatest.exceptions.TestCanceledException(
      "driver-generated /root/testdata not present — fixture-bound suite skipped", 0))
}

object SparkSpec {
  private val JobsDuringTag = "graft.test.jobsDuring"

  /** Marker protocol for counting the jobs `build` launches. `build`
    * runs with a fresh tag in the thread's local properties, which
    * SQL executions, broadcast futures and threads started by `build`
    * inherit; jobs of other threads (a still-running stream, say) lack
    * it and are not counted. After `build`, one RDD count runs as the
    * marker (exactly ONE job; a DataFrame count is 2+ under AQE) under
    * a description of its own. The listener bus delivers JobStart
    * events in submission order, so once the marker's own event is
    * seen, every job `build` submitted has been seen too.
    */
  def jobsDuring(spark: SparkSession)(build: => Any): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val marker = s"jobsDuring marker $tag"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).foreach { p =>
          if (p.getProperty("spark.job.description") == marker) markerSeen.countDown()
          else if (p.getProperty(JobsDuringTag) == tag) jobs.incrementAndGet()
        }
    }
    val (outerTag, outerDescription) =
      (sc.getLocalProperty(JobsDuringTag), sc.getLocalProperty("spark.job.description"))
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(JobsDuringTag, tag)
      build
      sc.setJobDescription(marker)
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(10, java.util.concurrent.TimeUnit.SECONDS),
        "marker job never observed")
      jobs.get
    } finally {
      sc.setLocalProperty(JobsDuringTag, outerTag)
      sc.setJobDescription(outerDescription)
      sc.removeSparkListener(listener)
    }
  }

  /** The sf0.001 fixture tables (TESTDATA.md). */
  val fixtureDir = "/root/testdata/sf0.001"

  lazy val testdataPresent: Boolean = new java.io.File(fixtureDir).isDirectory

  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tests")
    // the engine's SparkSessionExtensions hook — exercised in LayoutSpec
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // Spark 4.1's async checkpoint-file checksum writer deadlocks its
    // close() future under rapid stateful micro-batches (all executor
    // task threads park in ChecksumCancellableFSDataOutputStream.close
    // awaiting a result that never arrives); corruption detection on
    // local-disk test checkpoints is not worth a hung suite.
    .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    .getOrCreate()
}
