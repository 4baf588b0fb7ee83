package graft.sinks

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import graft.TestSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** K1 layout tests (SURVEY.md §2 K1, §7.4): one CSV per reporting date,
  * header, no date column in the file, exact reference filenames, and G2
  * last-write-wins across filings sharing a date. */
class HoldingsCsvSinkSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private def freshDir(): Path = Files.createTempDirectory("graft_sink_")

  private def sample() = {
    import s.implicits._
    Seq(
      // filing 1 and filing 2 share 2023-03-31; filing 2 must win wholesale
      (1L, "2023-03-31", "Stale Corp", "1", "10", "0.1"),
      (2L, "2023-03-31", "Fresh Corp", "2", "20", "0.2"),
      (2L, "2023-03-31", "Fresh LLC", "3", "30", "0.3"),
      (3L, "2023-06-30", "Solo Inc", "4", "40", "0.4"))
      .toDF("filing_seq", "reporting_date", "issuer", "shares", "value_usd", "pct_net_assets")
  }

  test("reference filename layout + LWW + header + no date column") {
    val out = freshDir()
    HoldingsCsvSink.write(sample(), out.toString, exactFilenames = true)
    val files = Files.list(out).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".csv")).toList.sorted
    assert(files == List("2023-03-31_NPORT-P_HOLDINGS.csv", "2023-06-30_NPORT-P_HOLDINGS.csv"))
    val march = Files.readAllLines(out.resolve("2023-03-31_NPORT-P_HOLDINGS.csv")).asScala.toList
    assert(march.head == "issuer,shares,value_usd,pct_net_assets") // header, no index, no date
    assert(march.tail.toSet == Set("Fresh Corp,2,20,0.2", "Fresh LLC,3,30,0.3")) // filing 1 gone
    val june = Files.readAllLines(out.resolve("2023-06-30_NPORT-P_HOLDINGS.csv")).asScala.toList
    assert(june.tail == List("Solo Inc,4,40,0.4"))
  }

  test("spark-native layout keeps partition directories") {
    val out = freshDir()
    HoldingsCsvSink.write(sample(), out.toString)
    val dirs = Files.list(out).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("reporting_date=")).toList.sorted
    assert(dirs == List("reporting_date=2023-03-31", "reporting_date=2023-06-30"))
  }

  test("reference layout reads back with reporting_date from the file name") {
    val out = freshDir()
    HoldingsCsvSink.write(sample(), out.toString, exactFilenames = true)
    val rows = HoldingsCsvSink.readReferenceLayout(s, out.toString)
      .select("reporting_date", "issuer", "shares", "value_usd", "pct_net_assets")
      .collect().map(_.toSeq).toSet
    assert(rows == Set(
      Seq("2023-03-31", "Fresh Corp", "2", "20", "0.2"),
      Seq("2023-03-31", "Fresh LLC", "3", "30", "0.3"),
      Seq("2023-06-30", "Solo Inc", "4", "40", "0.4")))
  }

  /** Spark jobs started on this thread while `body` runs. Job starts
    * reach listeners asynchronously but in order, so a marker job run
    * after `body` flushes every earlier start. */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = s.sparkContext
    val group = s"jobs-started-by-${System.nanoTime}"
    val started = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(g) if g == group => started.incrementAndGet()
          case Some(g) if g == group + "-marker" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "body")
      body
      sc.setJobGroup(group + "-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(30, TimeUnit.SECONDS), "marker job never reached the listener")
      started.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("constructing the reference-layout reader over >32 dates starts no Spark job") {
    import s.implicits._
    val dates = (1 to 40).map(i => java.time.LocalDate.of(2020, 1, 1).plusDays(i.toLong).toString)
    val df = dates.map(d => (1L, d, "Issuer", "1", "10", "0.1"))
      .toDF("filing_seq", "reporting_date", "issuer", "shares", "value_usd", "pct_net_assets")
    val flat = freshDir()
    HoldingsCsvSink.write(df, flat.toString, exactFilenames = true)
    var reader: org.apache.spark.sql.DataFrame = null
    assert(jobsStartedBy { reader = HoldingsCsvSink.readReferenceLayout(s, flat.toString) } == 0)
    assert(reader.count() == 40)
    // control: the same dates as partition directories, read with an
    // explicit schema, list through a Spark job on construction alone
    val nested = freshDir()
    HoldingsCsvSink.write(df, nested.toString)
    assert(jobsStartedBy {
      s.read.option("header", "true")
        .schema("issuer STRING, shares STRING, value_usd STRING, pct_net_assets STRING, reporting_date STRING")
        .csv(nested.toString)
    } >= 1)
  }
}
