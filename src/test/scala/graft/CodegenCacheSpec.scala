package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** A long-lived session runs the same queries over and over; the compiled
  * whole-stage-codegen classes must stay cached between passes instead of
  * being evicted and recompiled (GraftSession sizes the cache above the
  * engine's working set). The mix is the holdings ops plus the catalog
  * ops: together they need well over Spark's default of 100 entries
  * (126 and 178 distinct classes on the benchmark's inputs), so with that
  * default the second round recompiles. */
class CodegenCacheSpec extends AnyFunSuite {

  private val Mix = Seq("x_filing_index", "x_extract_holdings", "x_pipeline_e2e",
    "x_csv_roundtrip",
    "x_catalog_sql", "x_filing_index_v2_topn", "x_filing_index_v2_agg",
    "x_filing_index_v2_prune", "x_filing_index_v2_dpp", "r_topk_perkey", "r_sql_text",
    "r_window_rank", "k_stats_prune", "k_merge_sql", "k_dsv2_write", "k_timetravel_sql")

  private def round(): Unit = Mix.foreach { q =>
    SparkEntry.queries(q)(TestSpark.spark, TestSpark.sf)
      .write.format("noop").mode("overwrite").save()
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a second round of the same queries compiles no generated class") {
    round()
    val c1 = compiles
    round()
    assert(compiles == c1, s"the second round recompiled ${compiles - c1} classes")
  }
}
