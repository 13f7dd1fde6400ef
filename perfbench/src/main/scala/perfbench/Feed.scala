package perfbench

import java.nio.file.Path

import org.apache.spark.sql.Row

import graft.engine.{Pipeline, RssFetcher}

/** A poll round of the batch path, the paper's path as written:
  * `RssFetcher.fetchOnce` + `Pipeline.run`. */
object Feed {
  /** `runS` is the `Pipeline.run` part of the round. */
  final case class Round(index: Int, runS: Double, articles: Long, ok: Boolean)

  /** A store fed by one generator: RSS files, snapshot directory, sink. */
  final class Store(ctx: Ctx, name: String) {
    val gen = new FeedGen(ctx.seed)
    val rss: Path = ctx.dir(s"$name/rss")
    val ingest: String = ctx.dir(s"$name/ingest").toString
    val sink: BenchSink = ctx.newSink(name)
    val store: Path = ctx.work.resolve(name).resolve("store")

    /** Generate the next round's feeds, then time the client's poll. */
    def round(tracedPhase: Boolean): Round = {
      val r = gen.nextRound()
      val specs = FeedGen.writeRss(rss, r).map { case (u, n) => RssFetcher.FeedSpec(u, n) }
      val analyzer = ctx.analyzer(tracedPhase)
      Trace("op.round") {
        val f = Trace("fetch")(RssFetcher.fetchOnce(specs, ingest))
        val (res, runS) = Stats.timed(Trace("ingest")(
          Pipeline.run(ctx.spark, ingest, sink, analyzer)))
        Trace.count("fetch.entries", f.entriesWritten.toLong)
        Trace.count("ingest.new", res.newArticles)
        val ok = f.failures.isEmpty &&
          f.entriesWritten == r.windows.map(_._2.size).sum &&
          res.newArticles == r.newGuids.size
        if (!ok) System.err.println(s"perfbench: round ${r.index} wrong: fetched " +
          s"${f.entriesWritten} (failures ${f.failures}), committed ${res.newArticles} " +
          s"new of ${r.newGuids.size}")
        Round(r.index, runS, res.newArticles, ok)
      }
    }

    /** Round indexes whose articles are wrong in the final tables, read
      * now or given as a [[Checks.readBack]]. */
    def badRounds(withState: Boolean = true,
        tables: Option[Map[String, Seq[Row]]] = None): Set[Int] =
      Checks.badGuids(ctx.spark, sink.inner, gen.truth.values, withState, tables)
        .map(g => gen.truth.get(g).map(_.round).getOrElse(-1))

    def bytesPerArticle: Double = Stats.bytesUnder(store).toDouble / gen.truth.size
  }
}
