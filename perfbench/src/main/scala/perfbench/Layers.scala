package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{DataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** The per-layer metrics of one traced phase.
  *
  * Times are seconds per call of the layer (mean); counts are per call,
  * per commit or per operation, so two phases doing the same operations
  * compare directly. `storeBefore` is the store's (data files, bytes)
  * when the phase began. */
final class Layers(ctx: Ctx, storeBefore: (Long, Long)) {
  import Layers._

  private val (spans, childNs) = Trace.snapshot()
  private def byName(n: String) = spans.filter(_.name == n)
  private def meanS(ss: Seq[Trace.Span]): Double =
    if (ss.isEmpty) 0.0 else ss.map(_.dur).sum / 1e9 / ss.size
  private def selfNs(s: Trace.Span): Long = s.dur - childNs.getOrElse(s.id, 0L)
  private val parentOf: Map[Long, Long] = spans.map(s => s.id -> s.parent).toMap
  /** True when span `id` is `anc` or lies under it. */
  @annotation.tailrec
  private def under(id: Long, anc: Set[Long]): Boolean =
    if (id == 0) false else if (anc.contains(id)) true else under(parentOf.getOrElse(id, 0L), anc)

  private val jobs = ctx.counters.jobs.values.asScala.toSeq
  private val stageSpan: Map[Int, Long] =
    ctx.counters.stageSpan.asScala.map { case (s, sp) => s.intValue -> sp.longValue }.toMap
  private val tasks = ctx.counters.tasks.asScala.toSeq

  /** Top-level operations on the client thread, in order. */
  def opIds: Seq[Long] = {
    val client = Thread.currentThread.getName
    spans.filter(s => s.parent == 0 && s.thread == client).map(_.id)
  }

  /** Log replay seconds within one operation. */
  def replayS(op: Long): Double =
    spans.filter(s => s.op == op && s.name == "sink.log_replay").map(_.dur).sum / 1e9

  /** `overhead` is traced over untraced time for the same work, `wall`
    * the traced phase's wall time, `ops` its operations. */
  def finish(overhead: Double, wall: Double, ops: Int, store: Path,
      stream: Option[StreamFigures] = None): Map[String, Double] = {
    val per = (x: Double, n: Int) => if (n == 0) 0.0 else x / n
    val fetch = byName("fetch")
    val ingest = byName("ingest")
    val ingestIds = ingest.map(_.id).toSet
    val commits = byName("sink.commit")
    val commitIds = commits.map(_.id).toSet
    val commitJobsS = jobs.filter(j => j.end >= 0 && under(j.span, commitIds))
      .map(j => (j.end - j.start) / 1e3).sum
    val stateReads = spans.filter(s => (s.name == "sink.log_replay" || s.name == "sink.read_plan") &&
      ingestIds.contains(s.parent))
    // rows read by the jobs Pipeline.run itself starts, not its commit's
    val scanned = tasks.filter(t => ingestIds.contains(stageSpan.getOrElse(t.stage, 0L)))
      .map(_.recordsRead).sum.toDouble
    val newArticles = Trace.countOf("ingest.new").toDouble
    val sinkRefresh = byName("op.refresh.sink")
    val graftRefresh = byName("op.refresh.graft")
    val (dataFiles, allBytes) = storeFigures(store)
    val (dataBefore, bytesBefore) = storeBefore
    val analyzeRows = ctx.analyzeRows.sum.toDouble
    val appends = ingest.size + stream.map(_.dataBatches).getOrElse(0)
    val m = Map[String, Double](
      "fetch.busy_s" -> meanS(fetch),
      "fetch.entries" -> per(Trace.countOf("fetch.entries").toDouble, fetch.size),
      "ingest.self_s" -> per(ingest.map(selfNs).sum / 1e9, ingest.size),
      "ingest.state_read_s" -> per(stateReads.map(_.dur).sum / 1e9, ingest.size),
      "ingest.rows_scanned" -> per(scanned, ingest.size),
      "ingest.new_per_scanned" -> (if (scanned == 0) 0.0 else newArticles / scanned),
      "analyze.busy_s" -> per(ctx.analyzeBusyNs.sum / 1e9, appends),
      "analyze.rows" -> per(analyzeRows, appends),
      "analyze.null_share" -> per(ctx.analyzeNulls.sum.toDouble, analyzeRows.toInt),
      "sink.commit_s" -> meanS(commits),
      "sink.write_jobs_s" -> per(commitJobsS, commits.size),
      "sink.claim_s" -> (meanS(commits) - per(commitJobsS, commits.size)),
      "sink.log_replay_s" -> meanS(byName("sink.log_replay")),
      "sink.read_plan_s" -> meanS(byName("sink.read_plan")),
      "sink.files_opened" -> per(Trace.countOf("sink.files_opened").toDouble, sinkRefresh.size),
      "sink.files_written" -> per((dataFiles - dataBefore).toDouble, commits.size),
      "sink.bytes_written" -> per((allBytes - bytesBefore).toDouble, commits.size),
      "sink.log_bytes" -> logBytes(store).toDouble,
      "sink.data_files" -> dataFiles.toDouble,
      "graft.read_plan_s" -> meanS(byName("graft.read_plan")),
      "graft.files_opened" -> per(Trace.countOf("graft.files_opened").toDouble, graftRefresh.size),
      "spark.jobs" -> per(jobs.size.toDouble, ops),
      "spark.stages" -> per(stageSpan.size.toDouble, ops),
      "spark.tasks" -> per(tasks.size.toDouble, ops),
      "spark.executor_cpu_s" -> per(tasks.map(_.cpuNs).sum / 1e9, ops),
      "spark.executor_run_s" -> per(tasks.map(_.runMs).sum / 1e3, ops),
      "spark.shuffle_write_bytes" -> per(tasks.map(_.shuffleWrite).sum.toDouble, ops),
      "spark.input_bytes" -> per(tasks.map(_.bytesRead).sum.toDouble, ops),
      "spark.gc_s" -> per(tasks.map(_.gcMs).sum / 1e3, ops),
      "jvm.heap_peak_mb" -> heapPeakMb(),
      "trace.overhead" -> overhead) ++
      DashActions.map { case (metric, span) => metric -> meanS(byName(span)) } ++
      StreamNames.map(n => n -> stream.flatMap(_.values.get(n)).getOrElse(0.0))
    val unattributed = stream.map(_.unattributedShare).getOrElse {
      val client = Thread.currentThread.getName
      val top = spans.filter(s => s.parent == 0 && s.thread == client).map(_.dur).sum / 1e9
      (wall - top) / wall
    }
    m + ("trace.unattributed_share" -> unattributed)
  }
}

/** Streaming figures of the traced phase, see [[FeedStream]]. */
final case class StreamFigures(values: Map[String, Double], dataBatches: Int,
    unattributedShare: Double)

object Layers {
  val DashActions: Seq[(String, String)] = Seq(
    "dash.bounds_s" -> "dash.bounds", "dash.metrics_s" -> "dash.metrics",
    "dash.timeline_s" -> "dash.timeline", "dash.top_actors_s" -> "dash.top_actors",
    "dash.top_roles_s" -> "dash.top_roles", "dash.categories_s" -> "dash.categories",
    "dash.detail_s" -> "dash.detail")
  val StreamPhases: Seq[String] = Seq("addBatch", "queryPlanning", "latestOffset",
    "getBatch", "walCommit", "commitOffsets", "triggerExecution")
  val StreamNames: Seq[String] = StreamPhases.map(p => s"stream.${p}_ms") ++ Seq(
    "stream.batches", "stream.snapshots_per_batch", "stream.state_rows",
    "stream.state_bytes", "stream.backlog_end")

  /** Files the scans of an executed DataFrame opened. */
  def filesRead(df: DataFrame): Long = {
    def scans(p: SparkPlan): Seq[DataSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: DataSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan).flatMap(_.metrics.get("numFiles")).map(_.value).sum
  }

  /** (parquet data files, bytes of every file) under a store. */
  def storeFigures(store: Path): (Long, Long) =
    (Stats.filesUnder(store, p => p.toString.endsWith(".parquet") && !p.toString.contains("/_")),
      Stats.bytesUnder(store))

  /** Bytes of every table's `_commits` log under a store. */
  def logBytes(store: Path): Long =
    if (!Files.isDirectory(store)) 0L
    else {
      val s = Files.list(store)
      try s.iterator.asScala.map(t => Stats.bytesUnder(t.resolve("_commits"))).sum
      finally s.close()
    }

  private def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Run `body` with tracing on: spans, Spark listeners, analyzer
    * counters. Returns the body's result and the recorder to finish. */
  def traced[T](ctx: Ctx, store: Path)(body: => T): (T, Layers) = {
    val spark = ctx.spark
    val before = storeFigures(store)
    spark.sparkContext.addSparkListener(ctx.counters)
    spark.streams.addListener(ctx.progress)
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    Seq(ctx.analyzeBusyNs, ctx.analyzeRows, ctx.analyzeNulls).foreach(_.reset())
    Trace.start(spark)
    val r = try body finally {
      Trace.stop()
      ctx.counters.drain()
      spark.sparkContext.removeSparkListener(ctx.counters)
      spark.streams.removeListener(ctx.progress)
    }
    (r, new Layers(ctx, before))
  }
}
