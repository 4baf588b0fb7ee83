package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{GraftSession, QueryDsl, SparkEntry, Staging}
import graft.extract.{NportKernel, XmlLite}
import graft.sinks.HoldingsCsvSink
import graft.sources.{FilingDocs, FilingIndex}
import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark harness for one workload in one JVM: `PerfBench <workload>
  * <dataDir> <outDir> <seconds> <trace 0|1> <seed> <cpus>`.
  *
  * Every query call is timed from outside the engine as three steps:
  * construct (`SparkEntry.queries(name)(spark, dir)`), plan
  * (`queryExecution.executedPlan`) and execute (a noop-format write). The
  * JVM writes raw timings to `<outDir>/raw.json`; `run.py` turns them into
  * metrics and checks the outputs written under `<outDir>/check`.
  *
  * With trace 1 the timed window is split: its first half runs as in an
  * untraced run, then a listener is registered and the second half records
  * spans (pass → op → construct/plan/execute) and Spark task totals, and
  * the layer probes run after it. With trace 0 no listener is registered
  * and no probe runs. */
object PerfBench {

  val HoldingsOps = Seq("x_filing_index", "x_extract_holdings", "x_pipeline_e2e", "x_csv_roundtrip")
  val CorpusOps = Seq("t_pipeline_e2e", "d_minhash_sig", "d_dup_clusters_star",
    "t_decontaminate", "t_release_board", "v_rag_e2e")
  val CatalogReads = Seq("x_catalog_sql", "x_filing_index_v2_topn", "x_filing_index_v2_agg",
    "x_filing_index_v2_prune", "x_filing_index_v2_dpp", "r_topk_perkey", "r_sql_text",
    "r_window_rank", "k_stats_prune")
  val CatalogWrites = Seq("k_merge_sql", "k_dsv2_write", "k_timetravel_sql")
  /** The queries whose kernel reruns the trace counts. */
  val KernelQueries = Seq("x_extract_holdings", "x_pipeline_e2e")

  final case class OpRec(pass: Int, op: String, kind: String, tag: String, startMs: Long,
      constructS: Double, planS: Double, executeS: Double, cpuS: Double, ok: Boolean) {
    def wallS: Double = constructS + planS + executeS
  }

  final case class Span(id: Int, name: String, layer: String, parent: Int, pass: Int,
      startNs: Long, endNs: Long)

  private val bean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS(): Double = bean.getProcessCpuTime / 1e9
  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Live heap: used heap after full collections, with pauses between them
    * so Spark's ContextCleaner can drop blocks whose RDDs the first
    * collection found unreachable. */
  def liveHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** In-memory span recorder; a no-op until enabled. */
  final class Tracer {
    var on = false
    val spans = mutable.ArrayBuffer.empty[Span]
    private var stack = List(-1)
    var pass = -1
    def apply[T](name: String, layer: String)(body: => T): T =
      if (!on) body
      else {
        val id = spans.size
        spans += null
        val parent = stack.head
        stack = id :: stack
        val t0 = System.nanoTime()
        try body
        finally {
          spans(id) = Span(id, name, layer, parent, pass, t0, System.nanoTime())
          stack = stack.tail
        }
      }
  }

  /** Task, stage and job totals per op tag (the `perfbench.op` local
    * property), plus the stages that ran the kernel's MapPartitions node. */
  final class Totals extends SparkListener {
    final class Acc {
      var jobs, tasks, failedTasks = 0L
      var runMs, schedMs, taskMs = 0L
      var cpuNs, shuffleRead, shuffleWrite, spill = 0L
      var peakMem = 0L
      var kernelStages = 0
      val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    }
    val byTag = mutable.Map.empty[String, Acc]
    private val stageTag = mutable.Map.empty[Int, String]
    private val jobTag = mutable.Map.empty[Int, (String, Long)]
    private def acc(tag: String) = byTag.getOrElseUpdate(tag, new Acc)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op"))).getOrElse("-")
      e.stageIds.foreach(stageTag(_) = tag)
      jobTag(e.jobId) = (tag, e.time)
      acc(tag).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobTag.remove(e.jobId).foreach { case (tag, t0) => acc(tag).jobSpans += ((t0, e.time)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val tag = stageTag.getOrElse(e.stageInfo.stageId, "-")
      if (PerfbenchAccess.scopeNames(e.stageInfo).contains("MapPartitions")) acc(tag).kernelStages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = acc(stageTag.getOrElse(e.stageId, "-"))
      a.tasks += 1
      if (!e.taskInfo.successful) a.failedTasks += 1
      val m = e.taskMetrics
      val dur = e.taskInfo.finishTime - e.taskInfo.launchTime
      a.taskMs += dur
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.schedMs += math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - e.taskInfo.gettingResultTime)
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, outDir, secondsS, traceS, seedS, cpus) = args
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val seed = seedS.toLong
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(Paths.get(outDir))
    val tracer = new Tracer
    val out = mutable.LinkedHashMap.empty[String, Any]
    out("workload") = workload
    out("seed") = seed
    out("cpus") = cpus.toInt

    val t0 = System.nanoTime()
    val build = Paths.get(outDir).toAbsolutePath.getParent.getParent
    val spark = GraftSession.configure(
        SparkSession.builder().master(s"local[$cpus]").appName(s"perfbench-$workload"), cpus)
      .config("spark.sql.warehouse.dir", build.resolve("warehouse").toString)
      .config("spark.local.dir", build.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    out("session_start_s") = since(t0)
    val sc = spark.sparkContext

    // catalog_mix: each pass is every catalog op once (9 reads, 3 writes) in a
    // seeded order, so passes share one composition and only the order varies
    val rng = new java.util.SplittableRandom(seed)
    val distinctOps: Seq[String] = workload match {
      case "holdings_etl" => HoldingsOps
      case "corpus_prep" => CorpusOps
      case "catalog_mix" => CatalogReads ++ CatalogWrites
    }
    def passOps(): Seq[String] =
      if (workload != "catalog_mix") distinctOps
      else {
        val ops = distinctOps.toArray
        for (i <- ops.indices.reverse) {
          val j = rng.nextInt(i + 1)
          val t = ops(i); ops(i) = ops(j); ops(j) = t
        }
        ops.toSeq
      }

    val recs = mutable.ArrayBuffer.empty[OpRec]
    val passes = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
    var opSeq = 0
    // the second set-up pass writes each result as parquet for the output
    // check instead of a noop write; every other call writes noop
    def runOp(pass: Int, q: String, checkDir: Option[String]): OpRec = {
      opSeq += 1
      val tag = s"op$opSeq"
      if (tracer.on) sc.setLocalProperty("perfbench.op", tag)
      val startMs = System.currentTimeMillis()
      val c0 = cpuS()
      val start = System.nanoTime()
      val t = Array.fill(4)(start)
      val ok = tracer(q, "op") {
        try {
          val df = tracer("construct", "construct") { SparkEntry.queries(q)(spark, dataDir) }
          t(1) = System.nanoTime()
          tracer("plan", "plan") { df.queryExecution.executedPlan }
          t(2) = System.nanoTime()
          tracer("execute", "execute") {
            checkDir match {
              case Some(dir) => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$q")
              case None => noop(df)
            }
          }
          t(3) = System.nanoTime()
          true
        } catch { case e: Exception =>
          System.err.println(s"[perfbench] pass $pass $q failed: ${e.getMessage}")
          for (i <- 1 to 3 if t(i) == start) t(i) = System.nanoTime()
          false
        } finally sc.setLocalProperty("perfbench.op", null)
      }
      OpRec(pass, q, kindOf(q), tag, startMs, (t(1) - t(0)) / 1e9, (t(2) - t(1)) / 1e9,
        (t(3) - t(2)) / 1e9, cpuS() - c0, ok)
    }
    def runPass(pass: Int, ops: Seq[String], timed: Boolean,
        checkDir: Option[String] = None): Seq[OpRec] = {
      tracer.pass = pass
      val c0 = cpuS()
      val a = System.nanoTime()
      val rs = tracer(s"pass$pass", "pass") { ops.map(runOp(pass, _, checkDir)) }
      val wall = since(a)
      val cpu = cpuS() - c0
      if (timed) {
        recs ++= rs
        val p = mutable.LinkedHashMap[String, Any]("pass" -> pass, "wall_s" -> wall,
          "cpu_s" -> cpu, "traced" -> tracer.on)
        // drift series, sampled between passes (outside the pass wall)
        p("heap_live_mb") = liveHeapMb()
        val infos = sc.getRDDStorageInfo
        p("persisted_rdds_n") = sc.getPersistentRDDs.size
        p("storage_mb") = infos.map(i => i.memSize + i.diskSize).sum / 1048576.0
        passes += p
      }
      rs
    }

    // warm-up: a cold pass over every op the workload runs (it builds this
    // input's stages), then one warm pass so the JIT has compiled the hot
    // paths before the timed window (a first warm pass runs ~30% slower)
    runPass(-2, distinctOps, timed = false)
    val checked = runPass(-1, distinctOps, timed = false, checkDir = Some(s"$outDir/check"))
    out("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3
    out("stage_builds") = Staging.buildsSnapshot.map(b => Map("dir" -> b.dir, "s" -> b.sec))

    // timed window, at least two passes (trace: the second half runs
    // traced, at least one pass each half)
    val totals = new Totals
    val windowStart = System.nanoTime()
    val (untracedUntil, minPasses) = if (trace) (seconds / 2, 1) else (seconds, 2)
    var pass = 0
    while (pass < minPasses || since(windowStart) < untracedUntil) {
      runPass(pass, passOps(), timed = true)
      pass += 1
    }
    var tracedWall = 0.0
    var gcTraced = 0.0
    if (trace) {
      sc.addSparkListener(totals)
      tracer.on = true
      val tw = System.nanoTime()
      val g0 = gcS()
      do { runPass(pass, passOps(), timed = true); pass += 1 } while (since(windowStart) < seconds)
      gcTraced = gcS() - g0
      tracedWall = since(tw)
      PerfbenchAccess.drainListenerBus(sc)
    }
    out("passes") = passes
    out("ops") = recs.map(r => Map("pass" -> r.pass, "op" -> r.op, "kind" -> r.kind,
      "construct_s" -> r.constructS, "plan_s" -> r.planS, "execute_s" -> r.executeS,
      "wall_s" -> r.wallS, "cpu_s" -> r.cpuS, "tag" -> r.tag, "start_ms" -> r.startMs,
      "ok" -> r.ok))

    if (trace) {
      out("spark") = sparkTotals(totals, passes.count(_("traced") == true),
        tracedWall, cpus.toInt, gcTraced, sc)
      tracer.pass = -1
      out("probes") = probes(spark, dataDir, outDir, seed, tracer, totals)
      writeSpans(tracer.spans.toSeq, s"$outDir/spans.jsonl")
    }

    out("checked_ops") = distinctOps
    out("failed_ops") = checked.filterNot(_.ok).map(_.op)
    out("oracle_sql") = distinctOps.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    out("total_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(s"$outDir/raw.json"), mapper.writeValueAsString(out))
    spark.stop()
  }

  /** Writes commit files, views or catalogs on every call; every other op only reads. */
  def kindOf(q: String): String =
    if (CatalogWrites.contains(q) || q == "x_csv_roundtrip") "write" else "read"

  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Layer probes, run after the timed passes with the listener on. */
  def probes(spark: SparkSession, d: String, outDir: String, seed: Long, tracer: Tracer,
      totals: Totals): Map[String, Any] = {
    import spark.implicits._
    val sc = spark.sparkContext
    val p = mutable.LinkedHashMap.empty[String, Any]
    def timed(name: String, layer: String)(body: => Unit): Double = {
      sc.setLocalProperty("perfbench.op", s"probe:$name")
      val a = System.nanoTime()
      tracer(name, layer)(body)
      sc.setLocalProperty("perfbench.op", null)
      since(a)
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    p("staging.probe_s") = median((1 to 9).map(_ =>
      timed("staging.probe", "staging") { Staging.fingerprint(Seq(s"$d/orders.parquet")) }))
    p("sources.render_s") = timed("sources.render", "sources") { noop(FilingDocs.docs(spark, d).toDF()) }
    p("sources.index_s") = timed("sources.index", "sources") { noop(FilingIndex.filingIndex(spark, d)) }
    p("sources.doc_mb") =
      FilingDocs.docs(spark, d).select(sum(length(col("_2")))).head().getLong(0) / 1048576.0

    // kernel standalone, one thread, over a seeded sample of rendered docs
    val sample = FilingDocs.docs(spark, d).sample(false, 0.2, seed).limit(400).collect().map(_._2)
    val bytes = sample.map(_.length.toLong).sum
    p("extract.parse_s") = timed("extract.parse", "extract") { sample.foreach(XmlLite.parse) }
    var rows = 0L
    val kernelS = timed("extract.kernel", "extract") {
      sample.foreach(x => rows += NportKernel.extractRows(x).size)
    }
    p("extract.kernel_s") = kernelS
    p("extract.kernel_mb_per_s") = bytes / 1048576.0 / kernelS
    p("extract.rows_n") = rows

    // kernel reruns: executed stages holding the typed flatMap, per query
    KernelQueries.foreach { q =>
      timed(s"kernel.$q", "extract") { noop(SparkEntry.queries(q)(spark, d)) }
    }

    // QueryDsl.pin on the kernel frame, then the sink on the pinned frame
    var pinned: DataFrame = null
    p("pin.extract_s") = timed("pin.extract", "pin") {
      pinned = QueryDsl.pin(FilingDocs.docs(spark, d)
        .flatMap { case (_, doc) => NportKernel.extractRows(doc) }.toDF())
    }
    p("pin.readback_s") = timed("pin.readback", "pin") { noop(pinned) }
    val csvDir = s"${Paths.get(outDir).toAbsolutePath}/sink_probe"
    val sinkIn = pinned.withColumn("filing_seq", lit(1L))
    val nRows = pinned.count()
    val sinkS = timed("sinks.csv_write", "sinks") { HoldingsCsvSink.write(sinkIn, csvDir) }
    p("sinks.csv_write_s") = sinkS
    p("sinks.rows_per_s") = nRows / sinkS
    val csvFiles = Files.walk(Paths.get(csvDir)).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".csv")).toSeq
    p("sinks.files_n") = csvFiles.size
    p("sinks.mb_written") = csvFiles.map(Files.size).sum / 1048576.0
    deleteRecursively(new java.io.File(csvDir))

    PerfbenchAccess.drainListenerBus(sc)
    KernelQueries.foreach { q =>
      p(s"extract.kernel_stages_n.$q") =
        totals.byTag.get(s"probe:kernel.$q").map(_.kernelStages).getOrElse(0)
    }
    p.toMap
  }

  /** Spark runtime totals over the traced passes, per pass. */
  def sparkTotals(t: Totals, nPasses: Int, wallS: Double, cpus: Int,
      gc: Double, sc: org.apache.spark.SparkContext): Map[String, Any] = {
    val ops = t.byTag.filter(_._1.startsWith("op")).values.toSeq
    val n = math.max(1, nPasses).toDouble
    def sumL(f: t.Acc => Long): Double = ops.map(f).sum.toDouble
    val infos = sc.getRDDStorageInfo
    Map(
      "jobs_n" -> sumL(_.jobs) / n,
      "tasks_n" -> sumL(_.tasks) / n,
      "executor_run_s" -> sumL(_.runMs) / 1e3 / n,
      "executor_cpu_s" -> sumL(_.cpuNs) / 1e9 / n,
      "scheduler_delay_s" -> sumL(_.schedMs) / 1e3 / n,
      "core_idle_frac" -> (1.0 - sumL(_.taskMs) / 1e3 / (cpus * math.max(wallS, 1e-9))),
      "shuffle_read_mb" -> sumL(_.shuffleRead) / 1048576.0 / n,
      "shuffle_write_mb" -> sumL(_.shuffleWrite) / 1048576.0 / n,
      "spill_mb" -> sumL(_.spill) / 1048576.0 / n,
      "peak_exec_mem_mb" -> (if (ops.isEmpty) 0.0 else ops.map(_.peakMem).max / 1048576.0),
      "gc_s" -> gc / n,
      "persisted_rdds_n" -> sc.getPersistentRDDs.size,
      "storage_mb" -> infos.map(i => i.memSize + i.diskSize).sum / 1048576.0,
      "failed_tasks_n" -> t.byTag.values.map(_.failedTasks).sum,
      "by_op" -> t.byTag.filter(_._1.startsWith("op")).map { case (k, a) =>
        k -> Map("jobs_n" -> a.jobs, "job_spans" -> a.jobSpans.map { case (x, y) => Seq(x, y) })
      }.toMap)
  }

  def writeSpans(spans: Seq[Span], path: String): Unit = {
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val lines = spans.map(s => mapper.writeValueAsString(Map(
      "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
      "pass" -> s.pass, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}
