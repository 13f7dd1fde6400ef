package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.util.LongAccumulator

import graft.engine.{Analyze, TableSink, VersionedParquetSink}

/** In-memory spans around the calls the benchmark makes into each layer.
  *
  * A span has a name, start, end, parent and operation id (the id of the
  * top-level span on its thread: a poll round, a refresh, a micro-batch
  * commit). While a span is open its id is the SparkContext local property
  * [[SpanProp]], so the listener below can charge every Spark job, stage
  * and task to it. With tracing off, [[apply]] only runs its body.
  */
object Trace {
  final case class Span(id: Long, parent: Long, op: Long, name: String,
      thread: String, t0: Long, t1: Long) {
    def dur: Long = t1 - t0
  }

  val SpanProp = "perfbench.span"
  @volatile var enabled = false
  @volatile private var sc: SparkContext = _
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)
  val spans = new ConcurrentLinkedQueue[Span]()

  val counts = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  def start(spark: SparkSession): Unit = { sc = spark.sparkContext; enabled = true }
  def stop(): Unit = enabled = false

  /** Adds `n` to the named counter while tracing. */
  def count(name: String, n: Long): Unit =
    if (enabled) counts.merge(name, n, (a: Long, b: Long) => a + b)
  def countOf(name: String): Long = counts.getOrDefault(name, 0L)

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val (parent, op) = outer.headOption.map { case (p, o) => (p, o) }.getOrElse((0L, id))
      stack.set((id, op) :: outer)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, op, name, Thread.currentThread.getName, t0, System.nanoTime()))
        stack.set(outer)
        sc.setLocalProperty(SpanProp, if (parent == 0) null else parent.toString)
      }
    }

  /** Spans by id, and each span's summed child time (same thread). */
  def snapshot(): (Seq[Span], Map[Long, Long]) = {
    val all = spans.asScala.toSeq.sortBy(_.t0)
    val child = all.filter(_.parent != 0).groupMapReduce(_.parent)(_.dur)(_ + _)
    (all, child)
  }
}

/** Spark job/stage/task counters, charged to the span open when each job
  * was submitted. */
final class SparkCounters extends SparkListener {
  import SparkCounters._

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  private val started = new AtomicLong(0)
  private val ended = new AtomicLong(0)

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Trace.SpanProp))).map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = spanOf(e.properties)
    jobs.put(e.jobId, Job(e.jobId, span, e.time))
    e.stageIds.foreach(s => stageSpan.put(s, span))
    started.incrementAndGet()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    ended.incrementAndGet()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      tasks.add(Task(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten))
    }

  /** The listener bus is asynchronous: wait until every started job has
    * been seen ending and no event arrived for a moment. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    var last = -1L
    while (System.nanoTime() < deadline) {
      val now = started.get + ended.get + tasks.size
      if (now == last && started.get == ended.get) return
      last = now
      Thread.sleep(200)
    }
  }
}

object SparkCounters {
  final case class Job(id: Int, span: Long, start: Long, var end: Long = -1)
  final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      recordsRead: Long, bytesRead: Long, shuffleWrite: Long)
}

/** Micro-batch progress reports, kept for the traced run. */
final class StreamProgress extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = events.add(e)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** A TableSink that forwards every call to a [[VersionedParquetSink]],
  * inside a span when tracing is on, and notes when each transaction
  * returned: that is the moment its rows become readable. */
final class BenchSink(val inner: VersionedParquetSink) extends TableSink {
  /** (transaction key, nanoTime when the commit returned, commit wall ns). */
  val commits = new ConcurrentLinkedQueue[(String, Long, Long)]()

  override def append(df: DataFrame, table: String): Unit =
    Trace("sink.commit")(inner.append(df, table))
  override def appendPartitioned(df: DataFrame, table: String, cols: Seq[String]): Unit =
    Trace("sink.commit")(inner.appendPartitioned(df, table, cols))
  override def overwrite(df: DataFrame, table: String): Unit =
    Trace("sink.commit")(inner.overwrite(df, table))
  override def read(spark: SparkSession, table: String): DataFrame =
    Trace("sink.read_plan")(inner.read(spark, table))
  override def exists(spark: SparkSession, table: String): Boolean =
    Trace("sink.log_replay")(inner.exists(spark, table))
  override def appendOnce(df: DataFrame, table: String, key: String): Boolean =
    Trace("sink.commit")(inner.appendOnce(df, table, key))
  override def multiAppendOnce(writes: Seq[(DataFrame, String)], key: String): Boolean =
    Trace("sink.commit") {
      val t0 = System.nanoTime()
      val r = inner.multiAppendOnce(writes, key)
      val t1 = System.nanoTime()
      commits.add((key, t1, t1 - t0))
      r
    }
  def latestVersion(spark: SparkSession, table: String): Option[Long] =
    Trace("sink.log_replay")(inner.latestVersion(spark, table))
}

/** Forwards `analyze` to the rule-based analyzer and counts its calls,
  * busy time and empty results in accumulators. `analyzeBatch` stays the
  * trait default, which is the batching the rule-based analyzer uses. */
final class CountingAnalyzer(busyNs: LongAccumulator, rows: LongAccumulator,
    nulls: LongAccumulator) extends Analyze.TextAnalyzer {
  override def analyze(title: String, description: String): Option[Analyze.Analysis] = {
    val t0 = System.nanoTime()
    val r = Analyze.RuleBasedAnalyzer.analyze(title, description)
    busyNs.add(System.nanoTime() - t0)
    rows.add(1)
    if (r.isEmpty) nulls.add(1)
    r
  }
}
