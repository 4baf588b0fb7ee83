package graft

import org.apache.spark.sql.SparkSession

/** One place for engine SparkSession config so Verify, Bench, and tests
  * agree. Values chosen for the local[N] harness but with the 1000-executor
  * deployment in mind: AQE re-plans shuffles at runtime (partition
  * coalescing + skew-join splitting), shuffle partitions sized to the
  * parallelism instead of the 200 default, UTC so timestamp semantics match
  * the DuckDB oracle.
  */
object GraftSession {
  def configure(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // events.ts is parquet TIMESTAMP(NANOS); read as Long nanos (Tables
      // .events converts to TimestampType micros).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", s"${64L * 1024 * 1024}")
      // many-small-files sources (the wholetext doc corpus): the default
      // 4 MiB per-file open cost packs only ~32 files per split →
      // thousands of near-empty tasks. 64 KiB reflects the real open cost.
      // Session-level on purpose: queries must not mutate shared conf.
      .config("spark.sql.files.openCostInBytes", s"${64L * 1024}")
      // managed tables (bucketed-join staging) land in /tmp, not the repo
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      // engine SQL surface: custom expressions (cosine_similarity, ...)
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      // file:// sets permissions in-process instead of forking chmod per
      // file (GraftLocalFileSystem); an engine constant, not an option
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)
      // Compiled whole-stage-codegen classes, keyed by generated source.
      // Spark's default of 100 is below the engine's working set (126
      // distinct classes for the holdings ops, 178 for the catalog ops), so
      // a long session evicts in a loop and re-runs Janino on every pass.
      // 1,024 is over 5x the largest measured set; an entry holds ~20 KB
      // of live heap. Static conf: read once when CodeGenerator loads, so
      // it is set here on the builder, never through conf.set.
      .config("spark.sql.codegen.cache.maxEntries", "1024")

  def local(cpus: String, appName: String): SparkSession = {
    val s = configure(
      SparkSession.builder().master(s"local[$cpus]").appName(appName), cpus)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
