package perfbench

import java.sql.{Date, Timestamp}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}

import graft.engine.{Analytics, Schemas}
import FeedGen.Article

/** One client alternating a dashboard refresh through each read path,
  * `sink.read` then `format("graft")`, with one batch poll round, over a
  * store whose log was pre-loaded in set-up (closed loop). Each refresh is
  * checked against the same answers computed in plain Scala from the
  * generator's ground truth. */
object Dashboard {

  /** Commits pre-loaded into curated and actors before the window. */
  val PreloadCommits = 6
  /** Top-k for the actor charts. */
  val TopK = 10

  /** A refresh's results, normalized for comparison. */
  type Answer = Seq[(String, Seq[Seq[Any]])]

  final case class Query(categories: Seq[String], from: Date, to: Date)

  def query(gen: FeedGen, seed: Long): Query = {
    val cats = new Random(seed).shuffle(FeedGen.Feeds.toList).take(3).sorted
    Query(cats, Date.valueOf(gen.firstDay), Date.valueOf(gen.firstDay.plusDays(30)))
  }

  private def norm(v: Any): Any = v match {
    case t: Timestamp => t.toInstant
    case d: Date => d.toString
    case other => other
  }
  /** Collects `df`; while tracing, counts the files its scans opened
    * under `filesKey`. */
  private def rows(df: DataFrame, filesKey: String): Seq[Seq[Any]] = {
    val out = df.collect().toSeq.map(_.toSeq.map(norm))
    if (Trace.enabled) Trace.count(filesKey, Layers.filesRead(df))
    out
  }

  /** One refresh through the engine: the seven dashboard actions. */
  def refresh(news: DataFrame, actors: DataFrame, q: Query, filesKey: String): Answer = {
    def rows(df: DataFrame) = Dashboard.rows(df, filesKey)
    val filtered = Analytics.filterNews(news, q.categories, q.from, q.to)
    val relevant = Analytics.relevantActors(actors, filtered)
    Seq(
      "bounds" -> Trace("dash.bounds")(rows(Analytics.dateBounds(news))),
      "metrics" -> Trace("dash.metrics")(rows(Analytics.metrics(filtered, relevant))),
      "timeline" -> Trace("dash.timeline")(rows(Analytics.timeline(filtered))),
      "top_actors" -> Trace("dash.top_actors")(rows(Analytics.topActors(relevant, TopK))),
      "top_roles" -> Trace("dash.top_roles")(rows(Analytics.topActorRoles(relevant, TopK))),
      "categories" -> Trace("dash.categories")(rows(Analytics.categoryDistribution(filtered))),
      "detail" -> Trace("dash.detail")(rows(Analytics.detailView(filtered, relevant))))
  }

  /** The same seven answers from the ground truth, without the engine. */
  def expected(truth: Iterable[Article], q: Query): Answer = {
    val news = truth.toSeq
    val day = (a: Article) => a.published.atZone(java.time.ZoneOffset.UTC).toLocalDate
    val filtered = news.filter(a => q.categories.contains(a.feed) &&
      !day(a).isBefore(q.from.toLocalDate) && !day(a).isAfter(q.to.toLocalDate))
    val relevant = filtered.flatMap(_.actorRows).filter { case (_, name, role, _) =>
      !name.toLowerCase.contains("bbc") && !role.toLowerCase.contains("reporter") }
    val mentions = relevant.groupBy(_._2).map { case (n, rs) => (n, rs.size.toLong) }.toSeq
      .sortBy { case (n, c) => (-c, n) }
    val top = mentions.take(TopK)
    val topNames = top.map(_._1).toSet
    val roles = relevant.filter(r => topNames.contains(r._2)).groupBy(r => (r._2, r._3))
      .map { case ((n, r), rs) => (n, r, rs.size.toLong) }.toSeq
      .sortBy { case (n, r, c) => (-c, n, r) }
    val byNews = relevant.groupBy(_._1)
    val detail = filtered.sortBy(_.guid).flatMap { a =>
      val acts = byNews.getOrElse(a.guid, Seq.empty).sortBy(r => (r._2, r._3))
      if (acts.isEmpty) Seq(Seq[Any](a.guid, a.title, a.published, a.feed, null, null, null))
      else acts.map(r => Seq[Any](a.guid, a.title, a.published, a.feed, r._2, r._3, r._4))
    }
    Seq(
      "bounds" -> Seq(Seq(news.map(_.published).min, news.map(_.published).max)),
      "metrics" -> Seq(Seq(filtered.size.toLong, relevant.map(_._2).distinct.size.toLong,
        relevant.count(_._4).toLong)),
      "timeline" -> filtered.groupBy(a => day(a).toString).toSeq.sortBy(_._1)
        .map { case (d, as) => Seq(d, as.size.toLong) },
      "top_actors" -> top.map { case (n, c) => Seq(n, c) },
      "top_roles" -> roles.map { case (n, r, c) => Seq(n, r, c) },
      "categories" -> filtered.groupBy(_.feed).map { case (f, as) => (f, as.size.toLong) }
        .toSeq.sortBy { case (f, c) => (-c, f) }.map { case (f, c) => Seq(f, c) },
      "detail" -> detail)
  }

  /** Pre-load, one transaction per round into curated and actors, the
    * tables the dashboard reads; raw and state get all pre-loaded
    * articles in one last transaction. Returns seconds per transaction. */
  private def preload(ctx: Ctx, feed: Feed.Store): Seq[Double] = {
    val spark = ctx.spark
    def news(arts: Seq[Article]) = spark.createDataFrame(
      java.util.Arrays.asList(arts.map(a => Row.fromSeq(Checks.newsRow(a))): _*), Schemas.news)
    val perRound = (0 until PreloadCommits).map { _ =>
      val round = feed.gen.nextRound()
      val arts = round.newGuids.map(feed.gen.truth)
      val actors = spark.createDataFrame(java.util.Arrays.asList(
        arts.flatMap(_.actorRows).map(r => Row.fromTuple(r)): _*), Schemas.actors)
      Stats.timed(feed.sink.inner.multiAppendOnce(Seq(news(arts) -> "curated",
        actors -> "actors"), s"preload-${round.index}"))._2
    }
    val all = news(feed.gen.truth.values.toSeq)
    val raw = all.select("id", Schemas.curatedColumns.filter(_ != "id"): _*)
    perRound :+ Stats.timed(feed.sink.inner.multiAppendOnce(
      Seq(raw -> "raw", all.select("id") -> "state"), "preload-raw-state"))._2
  }

  /** A pre-loaded store with its client. */
  final class Board(ctx: Ctx, name: String) {
    val feed = new Feed.Store(ctx, name)
    val q: Query = query(feed.gen, ctx.seed)
    private val spark = ctx.spark
    private var cycles = 0

    /** Seconds per pre-load transaction. */
    val preloadS: Seq[Double] = preload(ctx, feed)

    /** One refresh, through `format("graft")` or `sink.read`. A dashboard
      * first polls each table's latest version, as it would to decide
      * whether to redraw. */
    def refreshOnce(viaGraft: Boolean): Op = {
      val (answer, s) = Stats.timed(Trace(if (viaGraft) "op.refresh.graft" else "op.refresh.sink") {
        Seq("curated", "actors").foreach(t => feed.sink.latestVersion(spark, t))
        def load(t: String) =
          if (viaGraft) Trace("graft.read_plan")(
            spark.read.format("graft").load(feed.store.resolve(t).toString))
          else feed.sink.read(spark, t)
        refresh(load("curated"), load("actors"), q,
          if (viaGraft) "graft.files_opened" else "sink.files_opened")
      })
      val want = expected(feed.gen.truth.values, q)
      if (answer != want) System.err.println(s"perfbench: refresh in cycle $cycles " +
        s"(${if (viaGraft) "graft" else "sink"}) wrong in " +
        answer.zip(want).filter(p => p._1 != p._2).map(_._1._1).mkString(", "))
      Op(None, viaGraft, s, 0L, answer == want)
    }

    /** Finishes warming up: the first poll round and one refresh per
      * read path. */
    def warm(): Unit = { feed.round(false); refreshOnce(false); refreshOnce(true) }

    /** One cycle: a refresh through each read path, then a poll round;
      * `before` runs ahead of each. The path that refreshes first, right
      * after a commit, alternates: the `format("graft")` refresh ran ~3.1 s
      * right after a `sink.read` one and ~4.4 s right after a round, so a
      * fixed order would favour one path. */
    def cycle(tracedPhase: Boolean, before: () => Unit = () => ()): Seq[Op] = {
      val order = if (cycles % 2 == 0) Seq(false, true) else Seq(true, false)
      val refreshed = order.map { viaGraft => before(); refreshOnce(viaGraft) }
      cycles += 1
      before()
      val r = feed.round(tracedPhase)
      refreshed :+ Op(Some(r.index), viaGraft = false, r.runS, r.articles, r.ok)
    }

  /** Log length (versions of curated) and `_commits` bytes. */
    def logFigures(): (Long, Long) =
      (feed.sink.inner.latestVersion(spark, "curated").map(_ + 1).getOrElse(0L),
        Layers.logBytes(feed.store))
  }

  /** A refresh (no round index; through `format("graft")` or
    * `sink.read`) or a poll round. */
  final case class Op(round: Option[Int], viaGraft: Boolean, seconds: Double,
      articles: Long, ok: Boolean) {
    def refresh: Boolean = round.isEmpty
  }

  /** Cycles in each phase of the traced run: fixed, so two traced runs of
    * one seed do identical work. */
  def tracedCycles(seconds: Int): Int = math.max(1, seconds / 10)

  def run(ctx: Ctx): Outcome = {
    val sessionS = ctx.sinceStart()
    val board = new Board(ctx, "board")
    val warmS = Stats.timed(board.warm())._2
    def outcome(ops: Seq[Op], boards: Seq[Board]) = {
      val bad = boards.flatMap(_.feed.badRounds()).toSet
      (ops.size, ops.count(o => !o.ok || o.round.exists(bad.contains)), bad.isEmpty)
    }
    if (!ctx.traced) {
      val setupS = ctx.sinceStart()
      // two cycles at least, so each read path is timed twice
      val (cycles, wall) = Loop.closed(ctx.seconds, None, atLeast = 2)(_ =>
        board.cycle(tracedPhase = false))
      val ops = cycles.flatten
      val refreshes = ops.filter(_.refresh)
      // the client's operation is one cycle: a refresh and the round after it
      val cycleS = cycles.map(_.map(_.seconds).sum)
      val (attempted, failed, ok) = outcome(ops, Seq(board))
      Outcome(attempted, failed, ok, Map(
        "setup_s" -> setupS,
        "op_p50_s" -> Stats.median(cycleS),
        "op_tail_s" -> Stats.tail(cycleS),
        "read_sink_s" -> Stats.median(refreshes.filterNot(_.viaGraft).map(_.seconds)),
        "read_graft_s" -> Stats.median(refreshes.filter(_.viaGraft).map(_.seconds)),
        "append_p50_s" -> Stats.median(ops.filterNot(_.refresh).map(_.seconds)),
        "articles_per_s" -> ops.map(_.articles).sum / wall,
        "store_bytes_per_article" -> board.feed.bytesPerArticle),
        notes = Map("session_s" -> sessionS, "preload_s" -> board.preloadS.sum, "warm_s" -> warmS))
    } else {
      // the same number of cycles untraced, then traced, on one store
      val n = tracedCycles(ctx.seconds)
      val (cyclesA, wallA) = Loop.closed(0, Some(n))(_ => board.cycle(tracedPhase = false))
      // log-growth readings: before each operation the log length, its
      // `_commits` bytes and the files opened so far
      val readings = Seq.newBuilder[(Long, Long, Long)]
      def opened() = Trace.countOf("sink.files_opened") + Trace.countOf("graft.files_opened")
      def read(): Unit = { val (len, logB) = board.logFigures(); readings += ((len, logB, opened())) }
      val ((cycles, wallB), layers) = Layers.traced(ctx, board.feed.store)(
        Loop.closed(0, Some(n))(_ => board.cycle(tracedPhase = true, read)))
      val ops = cycles.flatten
      val opsA = cyclesA.flatten
      val at = readings.result()
      val filesOpened = (at.map(_._3) :+ opened()).sliding(2).map(w => w(1) - w(0)).toSeq
      val growth = ops.lazyZip(at).lazyZip(layers.opIds).lazyZip(filesOpened).map {
        case (o, (len, logB, _), op, files) =>
          Map("log_length" -> len, "log_bytes" -> logB,
            "op" -> (if (o.refresh) "refresh" else "append"), "seconds" -> o.seconds,
            "log_replay_s" -> layers.replayS(op), "files_opened" -> files)
      }
      val (attempted, failed, ok) = outcome(opsA ++ ops, Seq(board))
      // the pre-load passes through the short log lengths: commit i of
      // curated and actors is log length i + 1
      val preload = board.preloadS.init.zipWithIndex.map { case (s, i) =>
        Map("log_length" -> (i + 1), "op" -> "preload", "seconds" -> s) }
      Outcome(attempted, failed, ok, Map.empty,
        layers.finish(wallB / wallA, wallB, ops = n, store = board.feed.store),
        Map("log_growth" -> (preload ++ growth)))
    }
  }
}
