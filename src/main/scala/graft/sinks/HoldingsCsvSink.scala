package graft.sinks

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** K1 — the reference's partitioned CSV sink
  * (ETFQuarterlyHoldingsExtractor.py:136-143): one CSV per reporting date,
  * header row, no index column, the date carried in the filename only (the
  * holdings frame itself has no date column).
  *
  * G2 last-write-wins is applied first: when two filings share a reporting
  * date, only the rows of the highest `filing_seq` survive — the
  * distributed form of the reference's dict overwrite
  * (`master_df_list[reporting_date] = df`, :28,:158).
  *
  * Two layouts, one write: `repartition($"reporting_date")` co-locates
  * each date in one task, so `partitionBy` emits exactly one file per date
  * (the LWW window shuffles on the same key, so AQE reuses the
  * partitioning).
  *   - Spark's `reporting_date=D/part-*.csv` (the default) — what other
  *     Spark jobs read, with the date recovered by partition discovery.
  *   - The reference's flat `D_NPORT-P_HOLDINGS.csv`
  *     (`exactFilenames = true`), read back by [[readReferenceLayout]]
  *     with the date taken from the file name. A flat directory lists on
  *     the driver; one directory per date starts a parallel listing job
  *     once the dates exceed
  *     `spark.sql.sources.parallelPartitionDiscovery.threshold` (32).
  */
object HoldingsCsvSink {

  /** Drop all rows of superseded filings: keep rows whose `filing_seq`
    * equals the max seq for their reporting date.
    *
    * CONTRACT: `filing_seq` must be unique per reporting_date (it is a
    * processing sequence number, the analog of the reference's dict-insert
    * order). With duplicate max seqs this keeps ALL tied filings' rows —
    * a merged CSV the reference's dict overwrite could never produce; the
    * reference keeps whichever filing happened to be processed last, an
    * order that doesn't exist in a distributed run. Callers that can't
    * guarantee uniqueness should extend the key (e.g. accession number)
    * to make the order total. */
  def lastFilingWins(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("reporting_date"))
    df.withColumn("__max_seq", max(col("filing_seq")).over(w))
      .filter(col("filing_seq") === col("__max_seq"))
      .drop("__max_seq", "filing_seq")
  }

  /** Write `df` (must carry `reporting_date` + `filing_seq`) as one CSV
    * per reporting date under `outDir`. With `exactFilenames` the Spark
    * `reporting_date=D/part-*.csv` layout is post-renamed to the
    * reference's `D_NPORT-P_HOLDINGS.csv`. */
  def write(df: DataFrame, outDir: String, exactFilenames: Boolean = false): Unit = {
    lastFilingWins(df)
      .repartition(col("reporting_date"))
      .write
      .partitionBy("reporting_date")
      .option("header", "true")
      .mode(SaveMode.Overwrite)
      .csv(outDir)
    if (exactFilenames) renameToReferenceLayout(outDir)
  }

  /** Files.list streams hold a directory fd until closed — drain and
    * close eagerly (large date counts would otherwise leak fds). */
  private def listDir(p: java.nio.file.Path): List[java.nio.file.Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toList finally s.close()
  }

  private val ReferenceSuffix = "_NPORT-P_HOLDINGS.csv"

  /** The reference layout under `outDir` as (issuer, shares, value_usd,
    * pct_net_assets, reporting_date), all strings: the date is the file
    * name minus `_NPORT-P_HOLDINGS.csv`. Explicit schema, so constructing
    * the reader runs no inference job. */
  def readReferenceLayout(s: SparkSession, outDir: String): DataFrame =
    s.read
      .option("header", "true")
      .schema("issuer STRING, shares STRING, value_usd STRING, pct_net_assets STRING")
      .csv(outDir)
      .withColumn("reporting_date", regexp_replace(col("_metadata.file_name"),
        java.util.regex.Pattern.quote(ReferenceSuffix) + "$", ""))

  /** `reporting_date=D/part-*.csv` → `D_NPORT-P_HOLDINGS.csv` (single data
    * file per partition guaranteed by the repartition above). */
  def renameToReferenceLayout(outDir: String): Unit = {
    val root = Paths.get(outDir)
    listDir(root)
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("reporting_date="))
      .foreach { dir =>
        val date = dir.getFileName.toString.stripPrefix("reporting_date=")
        val parts = listDir(dir).filter(_.getFileName.toString.endsWith(".csv"))
        require(parts.size == 1, s"expected 1 csv in $dir, found ${parts.size}")
        Files.move(parts.head, root.resolve(date + ReferenceSuffix),
          StandardCopyOption.REPLACE_EXISTING)
        listDir(dir).foreach(Files.delete)
        Files.delete(dir)
      }
  }
}
