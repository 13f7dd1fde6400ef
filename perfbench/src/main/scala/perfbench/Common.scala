package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.engine.{Analyze, Schemas, VersionedParquetSink}

/** One benchmark run: the session, its private work directory, the seed,
  * the measured window and whether this is the traced run. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
    val seconds: Int, val traced: Boolean) {
  /** Seconds since the JVM started: read when the measured window begins,
    * it is the run's set-up time. */
  def sinceStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  val counters = new SparkCounters
  val progress = new StreamProgress
  private lazy val sc = spark.sparkContext
  lazy val analyzeBusyNs = sc.longAccumulator("analyze.busy_ns")
  lazy val analyzeRows = sc.longAccumulator("analyze.rows")
  lazy val analyzeNulls = sc.longAccumulator("analyze.nulls")

  /** The analyzer handed to the pipeline: the engine's own when untraced,
    * the counting delegate when traced. */
  def analyzer(tracedPhase: Boolean): Analyze.TextAnalyzer =
    if (tracedPhase) new CountingAnalyzer(analyzeBusyNs, analyzeRows, analyzeNulls)
    else Analyze.RuleBasedAnalyzer

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
  def newSink(name: String): BenchSink =
    new BenchSink(new VersionedParquetSink(dir(name).resolve("store").toString))
}

/** What a workload hands back to [[Main]]. `metrics` are the end-to-end
  * metrics, `layers` the per-layer ones (traced run only), `trace` the
  * extra readings written to the trace file, `notes` figures for the
  * summary line only. */
final case class Outcome(attempted: Int, failed: Int, checksPassed: Boolean,
    metrics: Map[String, Double], layers: Map[String, Double] = Map.empty,
    trace: Map[String, Any] = Map.empty, notes: Map[String, Double] = Map.empty)

object Loop {
  /** Runs `op` back to back, one client: `n` times when given, else until
    * `seconds` have passed and `atLeast` operations ran (the operation
    * under way when time runs out completes). Returns the results and the
    * wall time. */
  def closed[T](seconds: Int, n: Option[Int], atLeast: Int = 1)(op: Int => T): (Seq[T], Double) = {
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    val out = Seq.newBuilder[T]
    var i = 0
    while (n.fold(i < atLeast || System.nanoTime() < deadline)(i < _)) { out += op(i); i += 1 }
    (out.result(), Stats.secs(System.nanoTime() - t0))
  }
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val r = p * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  /** The highest whole percentile with at least ten of `n` samples beyond
    * it; the slowest sample when `n` is too small for any. */
  def tailPct(n: Int): Double = math.max(0.0, math.floor(100.0 * (1 - 10.0 / n)) / 100)
  def tail(xs: Seq[Double]): Double =
    if (xs.size <= 10) xs.max else pct(xs, tailPct(xs.size))

  def secs(ns: Long): Double = ns / 1e9
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secs(System.nanoTime() - t0))
  }

  /** Bytes of every regular file under `p`. */
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  def filesUnder(p: Path, pred: Path => Boolean): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.count(f => Files.isRegularFile(f) && pred(f)).toLong
      finally s.close()
    }
}

/** Table contents against the generator's ground truth. */
object Checks {
  import FeedGen.Article

  /** A news row as (title, published_time, description, link, id,
    * thumbnail_url, category), whatever the table's column order. */
  def newsRow(a: Article): Seq[Any] = Seq(a.title, Timestamp.from(a.published),
    a.description, a.link, a.guid, a.thumbnail.orNull, a.feed)
  def newsRow(r: Row): Seq[Any] = Schemas.curatedColumns.map(c => r.get(r.fieldIndex(c)))
  def actorRow(r: Row): Seq[Any] = Schemas.actors.fieldNames.toSeq.map(c => r.get(r.fieldIndex(c)))

  /** raw, curated and actors, read back through `sink.read`, or through
    * `format("graft")` when `graftStore` (the store's directory) is given. */
  def readBack(spark: SparkSession, sink: VersionedParquetSink,
      graftStore: Option[Path] = None): Map[String, Seq[Row]] =
    Seq("raw", "curated", "actors").map { t =>
      t -> (if (!sink.exists(spark, t)) Seq.empty
        else graftStore.fold(sink.read(spark, t))(s =>
          spark.read.format("graft").load(s.resolve(t).toString)).collect().toSeq)
    }.toMap

  /** The same rows, whatever their order and column order. */
  def sameRows(a: Map[String, Seq[Row]], b: Map[String, Seq[Row]]): Boolean = {
    def key(r: Row) = r.schema.fieldNames.zip(r.toSeq).sortBy(_._1).mkString("\u0001")
    a.keySet == b.keySet && a.forall { case (t, rs) => rs.map(key).sorted == b(t).map(key).sorted }
  }

  /** GUIDs whose rows in raw, curated, actors and (batch path) state
    * differ from the truth: missing, extra, duplicated or changed. Empty
    * when correct. The streaming path keeps its processed ids in the
    * state store, not in a table. `tables` is a [[readBack]]. */
  def badGuids(spark: SparkSession, sink: VersionedParquetSink,
      truth: Iterable[Article], withState: Boolean,
      tables: Option[Map[String, Seq[Row]]] = None): Set[String] = {
    val want = truth.map(a => a.guid -> a).toMap
    val read = tables.getOrElse(readBack(spark, sink))
    def rows(t: String): Seq[Row] = read.getOrElse(t,
      if (sink.exists(spark, t)) sink.read(spark, t).collect().toSeq else Seq.empty)
    val bad = Set.newBuilder[String]
    for (t <- Seq("raw", "curated")) {
      val got = rows(t).map(newsRow).groupBy(_(4).asInstanceOf[String])
      bad ++= want.keySet.diff(got.keySet)
      got.foreach { case (id, rs) =>
        if (rs.length != 1 || !want.get(id).map(newsRow).contains(rs.head)) bad += id
      }
    }
    def key(r: Seq[Any]) = r.mkString("|")
    val gotActors = rows("actors").toSeq.map(actorRow).groupBy(_.head.asInstanceOf[String])
      .map { case (id, rs) => id -> rs.sortBy(key) }
    val wantActors = want.values.filter(_.actors.nonEmpty)
      .map(a => a.guid -> a.actorRows.map(_.productIterator.toSeq).sortBy(key)).toMap
    (gotActors.keySet ++ wantActors.keySet).foreach { id =>
      if (gotActors.get(id) != wantActors.get(id)) bad += id
    }
    if (withState) {
      val state = rows("state").map(_.getString(0)).toSeq
      state.groupBy(identity).foreach { case (id, xs) =>
        if (xs.size != 1 || !want.contains(id)) bad += id }
      bad ++= want.keySet.diff(state.toSet)
    }
    val out = bad.result()
    if (out.nonEmpty) System.err.println(s"perfbench: ${out.size} articles wrong in the " +
      s"tables, e.g. ${out.take(3).map(g => g -> want.get(g)).mkString("; ")}")
    out
  }
}
