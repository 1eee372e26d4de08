package iotbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.iot.{IotPipeline, RunDag, Transforms}
import graft.streaming.IotStream

/** The benchmark's JVM half: one session, a cold pass, warm passes until
  * the run length is spent, and (traced) the per-layer figures.
  *
  * Usage: iotbench.Main <workload> <workDir> <seconds> <trace 0|1> <cpus>
  *          [sfDir] [query,query,...]
  *
  * Reads the generated inputs under `workDir/input`, writes every output
  * under `workDir`, and leaves `workDir/result.json` for `run.py`, which
  * checks the outputs and prints the metrics. */
object Main {

  private val MB = 1024.0 * 1024.0

  def main(args: Array[String]): Unit = {
    val Array(workload, workDir, secondsArg, traceArg, cpus) = args.take(5)
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val sessionStart = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"iotbench-$workload")
      // the program's own session settings (graft.Verify / graft.Bench)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // everything the session writes stays under the run's work area
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/local")
      .getOrCreate()
    val sessionBuildS = (System.nanoTime() - sessionStart) / 1e9
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    spark.sparkContext.setLogLevel("ERROR")

    val layers = new LayerListener
    val progress = new ProgressListener
    val wl: Workload = workload match {
      case "iot_dag" => new DagWorkload(spark, workDir)
      case "iot_stream" => new StreamWorkload(spark, workDir)
      case "query_mix" => new QueryMixWorkload(spark, workDir, args(5),
        args(6).split(",").toSeq, layers)
      case other => sys.error(s"unknown workload: $other")
    }
    def attach(): Unit = {
      layers.attached = true
      spark.sparkContext.addSparkListener(layers)
      spark.listenerManager.register(layers)
      spark.streams.addListener(progress)
    }
    def detach(): Unit = {
      layers.attached = false
      spark.sparkContext.removeSparkListener(layers)
      spark.listenerManager.unregister(layers)
      spark.streams.removeListener(progress)
    }
    // every pass is timed alone; the task CPU of untraced passes comes
    // from a bare task-metrics listener, which stays attached throughout
    val cpu = new CpuListener
    spark.sparkContext.addSparkListener(cpu)

    final case class Pass(index: Int, seconds: Double, cpuS: Double,
        traced: Boolean, layer: Option[Snapshot], batches: Seq[Batch])
    val passes = mutable.ArrayBuffer.empty[Pass]
    def runPass(i: Int, withTrace: Boolean): Unit = {
      if (withTrace) attach()
      BusDrain(spark.sparkContext)
      val cpu0 = cpu.cpuNs
      val before = layers.snapshot()
      val batches0 = progress.count
      val wallStart = System.currentTimeMillis()
      val t0 = System.nanoTime()
      wl.pass(i)
      val s = (System.nanoTime() - t0) / 1e9
      val wallEnd = System.currentTimeMillis()
      BusDrain(spark.sparkContext)
      if (withTrace) detach()
      val p = Pass(i, s, (cpu.cpuNs - cpu0) / 1e9, withTrace,
        if (withTrace) Some(layers.snapshot().minus(before, wallStart, wallEnd))
        else None,
        progress.since(batches0))
      passes += p
      wl.afterPass(i)
    }

    val runStart = System.nanoTime()
    runPass(0, traced)
    val storedMb = wl.storedBytes() / MB
    // warm passes until the run length is spent. A traced run traces the
    // first warm pass (the `.warm` layer figures, the same pass as an
    // untraced run's warm_s), then alternates untraced (even) and traced
    // (odd) passes and ends on an untraced one. The overhead compares each
    // later traced pass with the mean of its two untraced neighbours, past
    // the steep first steps of the JIT warm-up, so the trend cancels.
    var i = 1
    def spent = (System.nanoTime() - runStart) / 1e9 >= seconds
    def more = if (traced) i < 5 || i % 2 == 0 || !spent else i == 1 || !spent
    while (more) {
      runPass(i, traced && (i == 1 || i % 2 == 1))
      i += 1
    }
    val overheadPct = median(passes.filter(p => p.traced && p.index >= 3).map { t =>
      val around = passes.filter(p => (p.index - t.index).abs == 1)
      100.0 * (t.seconds / (around.map(_.seconds).sum / around.size) - 1.0)
    }.toSeq)

    val probe = if (traced) wl.probe(layers, attach _, detach _) else Map.empty
    val rssMb = vmHwmMb()
    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / MB

    val warm = passes.filter(_.index > 0)
    val result = Map[String, Any](
      "setup_s" -> setupS,
      "session_build_s" -> sessionBuildS,
      "cold_s" -> passes.head.seconds,
      "cold_cpu_s" -> passes.head.cpuS,
      "warm" -> warm.map(p => Map("s" -> p.seconds, "cpu_s" -> p.cpuS,
        "traced" -> p.traced)),
      "stored_mb" -> storedMb,
      "peak_rss_mb" -> rssMb,
      "jvm_gc_s" -> gcS,
      "jvm_heap_used_peak_mb" -> heapPeakMb,
      "ops_per_pass" -> wl.opsPerPass,
      "trace_overhead_pct" -> overheadPct,
      "failed" -> wl.failed,
      "cold_layer" -> passes.head.layer.map(_.toMap).orNull,
      "warm_layer" -> warm.find(_.traced).flatMap(_.layer).map(_.toMap).orNull,
      "cold_batches" -> passes.head.batches.map(_.toMap),
      "warm_batches" -> warm.find(_.traced).map(_.batches.map(_.toMap)).orNull,
      "workload" -> wl.report,
      "probe" -> probe,
      // the program's own oracle programs, for the checks in run.py
      "fixture_path" -> graft.queries.IotParity.FixturePath,
      "oracle_sql" -> (wl.oracleQueries :+ "q28_iot_transform")
        .map(q => q -> SparkEntry.oracleSql(q)).toMap,
    )
    Files.writeString(Paths.get(workDir, "result.json"), Json(result))
    spark.stop()
  }

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def dirBytes(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def copyDir(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  def deleteDir(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  // ---------------------------------------------------------------- workloads

  trait Workload {
    /** One operation per unit (a DAG cycle, a drain, or one query). */
    def opsPerPass: Int
    def failed: Int = 0
    def oracleQueries: Seq[String] = Nil
    def pass(i: Int): Unit
    def afterPass(i: Int): Unit = ()
    /** Bytes under the workload's output directories after the cold pass. */
    def storedBytes(): Long
    def report: Any
    /** The traced run's layer probes: each module's public function timed
      * by a call from outside. */
    def probe(l: LayerListener, attach: () => Unit, detach: () => Unit): Map[String, Any] =
      Map.empty
  }

  /** The iot layers, each called once over `csvDir`, lazy ones written to
    * the `noop` sink. Write times are self times: the call minus the
    * scan and transform it re-runs. */
  def probeIot(spark: SparkSession, workDir: String, csvDir: String,
      l: LayerListener, attach: () => Unit, detach: () => Unit): Map[String, Any] = {
    val probeDir = s"$workDir/probe"
    def scan = IotPipeline.readCsv(spark, csvDir)
    val scanS = timed(noop(scan))
    val scanTxS = timed(noop(Transforms.transform(scan)))
    val parquetS = timed(IotPipeline.writeParquet(Transforms.transform(scan),
      s"$probeDir/parquet"))
    attach()
    val before = l.snapshot()
    val t0 = System.currentTimeMillis()
    val sortedS = timed(IotPipeline.writeSortedByUid(Transforms.transform(scan),
      s"$probeDir/sorted"))
    BusDrain(spark.sparkContext)
    detach()
    val sortLayer = l.snapshot().minus(before, t0, System.currentTimeMillis())
    val servingS = timed(IotPipeline.refreshServing(spark,
      spark.read.parquet(s"$probeDir/sorted"), "iot_probe_serving"))
    val csvBytes = dirBytes(csvDir)
    Map(
      "csv_scan_s" -> scanS,
      "transform_s" -> (scanTxS - scanS),
      "parquet_write_s" -> (parquetS - scanTxS),
      "sorted_write_s" -> (sortedS - scanTxS),
      "serving_load_s" -> servingS,
      "sort_shuffle_write_mb" -> sortLayer.shuffleWrite / MB,
      "sort_spill_mb" -> sortLayer.spill / MB,
      "csv_mb" -> csvBytes / MB,
      "csv_mb_per_s" -> csvBytes / MB / parquetS)
  }

  final class DagWorkload(spark: SparkSession, workDir: String) extends Workload {
    private val csvDir = s"$workDir/input"
    private val storeDir = s"$workDir/store"
    private val table = "iot_serving"
    private val servingDir = s"$workDir/warehouse/$table"
    private val reports = mutable.ArrayBuffer.empty[RunDag.DagReport]
    val opsPerPass = 1
    def pass(i: Int): Unit =
      reports += RunDag.runDag(spark, csvDir, storeDir, table)
    override def afterPass(i: Int): Unit = if (i == 0) {
      // the cold cycle's store and serving table, kept for the checks
      copyDir(storeDir, s"$workDir/cold/store")
      copyDir(servingDir, s"$workDir/cold/serving")
    }
    def storedBytes(): Long = dirBytes(storeDir) + dirBytes(servingDir)
    def report: Any = Map(
      "reports" -> reports.map(r => Map(
        "rows_written" -> r.rowsWritten, "null_durations" -> r.nullDurations,
        "malicious_rows" -> r.maliciousRows, "serving_count" -> r.servingCount)))
    override def probe(l: LayerListener, attach: () => Unit,
        detach: () => Unit): Map[String, Any] =
      probeIot(spark, workDir, csvDir, l, attach, detach)
  }

  final class StreamWorkload(spark: SparkSession, workDir: String) extends Workload {
    private val inDir = s"$workDir/input"
    private def sink(i: Int) = s"$workDir/${sinkName(i)}"
    private def sinkName(i: Int) = s"stream/sink_$i"
    private def ckpt(i: Int) = s"$workDir/stream/ckpt_$i"
    private var last = 0
    val opsPerPass = 1
    def pass(i: Int): Unit = {
      val q = IotStream.run(spark, inDir, sink(i), ckpt(i))
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }
    override def afterPass(i: Int): Unit = {
      // the cold drain and the latest warm drain are kept for the checks
      if (last > 0) { deleteDir(sink(last)); deleteDir(ckpt(last)) }
      last = i
    }
    def storedBytes(): Long = dirBytes(sink(0)) + dirBytes(ckpt(0))
    def report: Any = Map(
      "cold_sink" -> sinkName(0), "warm_sink" -> sinkName(last),
      "sink_files" -> new File(sink(0)).listFiles()
        .count(_.getName.endsWith(".parquet")),
      "checkpoint_mb" -> dirBytes(ckpt(0)) / MB)
    override def probe(l: LayerListener, attach: () => Unit,
        detach: () => Unit): Map[String, Any] =
      probeIot(spark, workDir, inDir, l, attach, detach)
  }

  final class QueryMixWorkload(spark: SparkSession, workDir: String,
      sfDir: String, names: Seq[String], tracer: LayerListener) extends Workload {
    private val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n,
      sys.error(s"unknown query: $n")))
    private def dirName(i: Int) = s"results/pass_$i"
    private def dir(i: Int) = s"$workDir/${dirName(i)}"
    private var last = 0
    private var nFailed = 0
    /** Queries that threw in any pass; the checks leave them out. */
    private val failedNames = mutable.SortedSet.empty[String]
    /** Per-query wall seconds, jobs and compile ms of each traced pass. */
    val perQuery = mutable.ArrayBuffer.empty[Map[String, Any]]
    val opsPerPass = names.size
    override def failed: Int = nFailed
    override def oracleQueries: Seq[String] = names
    def pass(i: Int): Unit = fns.foreach { case (name, fn) =>
      val jobs0 = tracer.jobs
      val c0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      try {
        // written the way graft.Verify writes each result
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"${dir(i)}/$name")
      } catch {
        case e: Exception =>
          nFailed += 1
          failedNames += name
          System.err.println(s"[iotbench] $name failed: ${e.getMessage}")
      }
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.sharedState.cacheManager.clearCache()
      val s = (System.nanoTime() - t0) / 1e9
      if (tracer.attached) {
        BusDrain(spark.sparkContext)
        perQuery += Map("pass" -> i, "query" -> name, "s" -> s,
          "compile_ms" -> (CodeGenerator.compileTime - c0) / 1e6,
          "jobs" -> (tracer.jobs - jobs0))
      }
    }
    override def afterPass(i: Int): Unit = {
      if (last > 0) deleteDir(dir(last))
      last = i
    }
    def storedBytes(): Long = dirBytes(dir(0))
    def report: Any = Map("cold_dir" -> dirName(0), "warm_dir" -> dirName(last),
      "failed_queries" -> failedNames, "per_query" -> perQuery)
  }

  // ---------------------------------------------------------------- listeners

  final case class Batch(triggerMs: Long, durations: Map[String, Long], rows: Long) {
    def toMap: Map[String, Any] = durations ++ Map("numInputRows" -> rows)
  }

  /** Streaming progress events: the per-batch phase durations. */
  final class ProgressListener extends StreamingQueryListener {
    private val events = mutable.ArrayBuffer.empty[Batch]
    def count: Int = synchronized(events.size)
    def since(n: Int): Seq[Batch] = synchronized(events.drop(n).toSeq)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      synchronized(events += Batch(d.getOrElse("triggerExecution", 0L), d,
        p.numInputRows))
    }
  }

  final class CpuListener extends SparkListener {
    @volatile var cpuNs = 0L
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) synchronized(cpuNs += e.taskMetrics.executorCpuTime)
  }

  /** Running totals of one traced span of passes; `minus` turns two
    * totals into the figures of the span between them. */
  final case class Snapshot(jobs: Int, intervals: Seq[(Long, Long)],
      taskRunMs: Long, taskCpuNs: Long, taskGcMs: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, exchanges: Int, actions: Int, compileNs: Long,
      compileCount: Long, wallMs: Long = 0L) {
    def minus(b: Snapshot, wallStart: Long, wallEnd: Long): Snapshot =
      Snapshot(jobs - b.jobs, intervals.drop(b.intervals.size),
        taskRunMs - b.taskRunMs, taskCpuNs - b.taskCpuNs, taskGcMs - b.taskGcMs,
        shuffleRead - b.shuffleRead, shuffleWrite - b.shuffleWrite,
        spill - b.spill, analysisMs - b.analysisMs,
        optimizationMs - b.optimizationMs, planningMs - b.planningMs,
        exchanges - b.exchanges, actions - b.actions, compileNs - b.compileNs,
        compileCount - b.compileCount, wallEnd - wallStart)
    /** Wall time not covered by any job: the union of job intervals, not
      * their sum, since jobs (broadcasts) overlap. */
    def driverGapMs: Long = {
      var covered = 0L; var end = Long.MinValue
      intervals.sortBy(_._1).foreach { case (s, e) =>
        val from = s.max(end)
        if (e > from) covered += e - from
        end = end.max(e)
      }
      wallMs - covered
    }
    def toMap: Map[String, Any] = Map(
      "compile_ms" -> compileNs / 1e6, "compile_count" -> compileCount,
      "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
      "planning_ms" -> planningMs, "jobs" -> jobs,
      "driver_gap_s" -> driverGapMs / 1000.0,
      "task_run_s" -> taskRunMs / 1000.0, "task_cpu_s" -> taskCpuNs / 1e9,
      "gc_s" -> taskGcMs / 1000.0, "shuffle_read_mb" -> shuffleRead / MB,
      "shuffle_write_mb" -> shuffleWrite / MB, "spill_mb" -> spill / MB,
      "exchanges" -> exchanges, "actions" -> actions)
  }

  /** Jobs, task metrics, Catalyst phases and final-plan exchanges. */
  final class LayerListener extends SparkListener with QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    @volatile var attached = false
    @volatile var jobs = 0
    private val open = mutable.Map.empty[Int, Long]
    private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    private var runMs, cpuNs, gcMs, shR, shW, spill = 0L
    private var analysisMs, optimizationMs, planningMs = 0L
    private var exchanges, actions = 0

    def snapshot(): Snapshot = synchronized(Snapshot(jobs, intervals.toSeq,
      runMs, cpuNs, gcMs, shR, shW, spill, analysisMs, optimizationMs,
      planningMs, exchanges, actions, CodeGenerator.compileTime,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += 1; open(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      open.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime; cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        shR += m.shuffleReadMetrics.totalBytesRead
        shW += m.shuffleWriteMetrics.bytesWritten
        spill += m.diskBytesSpilled
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)

    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val n = collectWithSubqueries(qe.executedPlan) {
        case e: ShuffleExchangeLike => e
        case e: BroadcastExchangeLike => e
      }.size
      synchronized {
        actions += 1
        analysisMs += ms(QueryPlanningTracker.ANALYSIS)
        optimizationMs += ms(QueryPlanningTracker.OPTIMIZATION)
        planningMs += ms(QueryPlanningTracker.PLANNING)
        exchanges += n
      }
    }
  }

  // ---------------------------------------------------------------- output

  /** Minimal JSON rendering of maps, sequences, numbers and strings. */
  object Json {
    def apply(v: Any): String = v match {
      case null | None => "null"
      case Some(x) => apply(x)
      case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
      case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case f: Float => apply(f.toDouble)
      case n: Number => n.toString
      case b: Boolean => b.toString
      case s => quote(s.toString)
    }
    def quote(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  }
}
