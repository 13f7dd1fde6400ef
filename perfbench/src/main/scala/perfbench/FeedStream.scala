package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.engine.RssFetcher
import graft.streaming.StreamingPipeline

/** The same generated feeds through one long-running
  * `StreamingPipeline.stream` with a processing-time trigger. Open loop: a
  * generator drops one snapshot every [[DropMs]] on a fixed schedule that
  * does not slow when the engine does, twelve per trigger interval, so the
  * file source batches them. The interval is longer than a micro-batch
  * takes, and the schedule starts half a drop after a trigger tick (Spark
  * ticks at multiples of the interval since the epoch), so every batch
  * holds the same drops from run to run and a slower engine shows as
  * later commits, not as a different batching. */
object FeedStream {
  val DropMs = 250
  val TriggerMs = 3000
  /** Snapshots dropped through each measured stream before its window, so
    * the window's first micro-batches do not pay for JIT compilation. */
  val WarmDrops: Int = TriggerMs / DropMs
  /** How long a window waits for its last micro-batch. */
  val DrainS = 60

  final case class Drop(round: Int, due: Long, at: Long, guids: Seq[String])

  final class Stream(ctx: Ctx, name: String, tracedPhase: Boolean) {
    val feed = new Feed.Store(ctx, name)
    val checkpoint: Path = ctx.dir(s"$name/checkpoint")
    // the set-up snapshot (round 0) is in place before the query starts,
    // so its first trigger picks it up at once
    drop(System.nanoTime())
    val query: StreamingQuery = StreamingPipeline.stream(ctx.spark, feed.ingest, feed.sink,
      checkpoint.toString, analyzer = ctx.analyzer(tracedPhase),
      trigger = Trigger.ProcessingTime(s"$TriggerMs milliseconds"))

    /** Generate the next round and drop it as one snapshot. */
    def drop(due: Long): Drop = {
      val r = feed.gen.nextRound()
      val specs = FeedGen.writeRss(feed.rss, r).map { case (u, n) => RssFetcher.FeedSpec(u, n) }
      val f = Trace("op.snapshot")(Trace("fetch")(RssFetcher.fetchOnce(specs, feed.ingest)))
      Trace.count("fetch.entries", f.entriesWritten.toLong)
      Drop(r.index, due, System.nanoTime(), r.newGuids)
    }

    /** Micro-batch transaction key -> (nanoTime its commit returned,
      * commit seconds). */
    def commits(): Map[String, (Long, Double)] =
      feed.sink.commits.asScala.map { case (k, end, ns) => k -> (end, ns / 1e9) }.toMap

    /** When each drop's new articles had all become readable: the return
      * of the commit that added the last of them to `raw`. Read from the
      * table itself, one version per micro-batch since `since`. */
    def readableAt(drops: Seq[Drop], since: Long): Seq[Option[Long]] = {
      val spark = ctx.spark
      val ends = commits().filter(_._2._1 >= since)
      val sink = feed.sink.inner
      val added = sink.history(spark, "raw").select("version", "commitKey").collect()
        .filter(r => ends.contains(r.getString(1))).flatMap { r =>
          val v = r.getLong(0)
          sink.changesBetween(spark, "raw", v - 1, v).select("id").collect()
            .map(_.getString(0) -> ends(r.getString(1))._1)
        }.toMap
      drops.map(d => d.guids.map(added.get).foldLeft(Option(Long.MinValue)) {
        case (acc, t) => for (a <- acc; x <- t) yield math.max(a, x) })
    }

    /** Drops `n` snapshots on the fixed schedule, then waits until the
      * stream has processed everything: (drops, when each became
      * readable, nanoTime the schedule ended). */
    def window(n: Int, measure: Boolean = true): (Seq[Drop], Seq[Option[Long]], Long) = {
      val nowMs = System.currentTimeMillis()
      val startMs = (nowMs / TriggerMs + 1) * TriggerMs + DropMs / 2
      val t0 = System.nanoTime() + (startMs - nowMs) * 1000000L
      val drops = (0 until n).map { k =>
        val due = t0 + k * DropMs * 1000000L
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        drop(due)
      }
      val end = System.nanoTime()
      // every drop is in by the next tick; done once a batch that started
      // at or after that tick has completed
      val tick = (System.currentTimeMillis() / TriggerMs + 1) * TriggerMs
      val deadline = System.nanoTime() + DrainS * 1000000000L
      def started(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
        java.time.Instant.parse(p.timestamp).toEpochMilli
      while (!Option(query.lastProgress).exists(started(_) >= tick) &&
          System.nanoTime() < deadline) {
        query.exception.foreach(e => throw e)
        Thread.sleep(20)
      }
      (drops, if (measure) readableAt(drops, t0) else Nil, end)
    }

    /** Waits until the set-up snapshot (round 0) is committed. */
    def first(): Unit = {
      val deadline = System.nanoTime() + DrainS * 1000000000L
      while (feed.sink.commits.isEmpty && System.nanoTime() < deadline) {
        query.exception.foreach(e => throw e)
        Thread.sleep(20)
      }
      require(!feed.sink.commits.isEmpty, s"stream $name did not commit its first snapshot")
    }

    def stop(): Unit = { query.stop(); query.awaitTermination() }

    /** raw, curated and actors read back through one path: (rows,
      * seconds, through `format("graft")`). */
    def readBack(viaGraft: Boolean): (Map[String, Seq[Row]], Double, Boolean) = {
      val (rows, s) = Stats.timed(Checks.readBack(ctx.spark, feed.sink.inner,
        if (viaGraft) Some(feed.store) else None))
      (rows, s, viaGraft)
    }

    def bytesPerArticle: Double =
      (Stats.bytesUnder(feed.store) + Stats.bytesUnder(checkpoint)).toDouble / feed.gen.truth.size
  }

  /** Drops per window: the schedule is fixed, so two runs of one seed
    * offer the same snapshots. */
  def drops(seconds: Int): Int = seconds * 1000 / DropMs

  /** Reads of the store after the window, per read path. */
  val ReadBacks = 3

  def run(ctx: Ctx): Outcome = {
    // set-up: generate the inputs, start the stream on a fresh store, wait
    // for its first snapshot's commit, then warm it with a window
    val stream = new Stream(ctx, "stream", tracedPhase = false)
    stream.first()
    stream.window(WarmDrops, measure = false)
    val n = drops(ctx.seconds)

    def fresh(drops: Seq[Drop], ready: Seq[Option[Long]]): Seq[Double] =
      drops.zip(ready).collect { case (d, Some(t)) => (t - d.due) / 1e9 }
    /** (failed drops, tables correct): a drop fails when it was never
      * committed or any of its articles is wrong in the tables. */
    def check(s: Stream, drops: Seq[Drop], ready: Seq[Option[Long]],
        tables: Option[Map[String, Seq[Row]]] = None): (Int, Boolean) = {
      val bad = s.feed.badRounds(withState = false, tables)
      (drops.zip(ready).count { case (d, r) => r.isEmpty || bad.contains(d.round) },
        bad.isEmpty)
    }

    if (!ctx.traced) {
      // a read through each path warms them, as the window warmed the stream
      stream.readBack(viaGraft = false); stream.readBack(viaGraft = true)
      val setupS = ctx.sinceStart()
      val (drops, ready, _) = stream.window(n)
      stream.stop()
      val f = fresh(drops, ready)
      val windowCommits = stream.commits().filter(_._2._1 >= drops.head.due).values.toSeq
      val lastReady = ready.flatten.maxOption.getOrElse(System.nanoTime())
      val articles = drops.zip(ready).collect { case (d, Some(_)) => d.guids.size }.sum
      val late = drops.map(d => (d.at - d.due) / 1e6).max
      // the stream's output read back through each path in turn; both
      // paths must return the same rows, and those are checked below
      val reads = (0 until 2 * ReadBacks).map(i => stream.readBack(viaGraft = i % 2 == 1))
      val (viaSink, viaGraft) = reads.partition(!_._3)
      val disagree = reads.count(r => !Checks.sameRows(r._1, reads.head._1))
      if (disagree > 0) System.err.println(s"perfbench: $disagree read-backs differ")
      val (failed, ok) = check(stream, drops, ready, Some(reads.head._1))
      Outcome(drops.size + reads.size, failed + disagree, ok && disagree == 0, Map(
        "setup_s" -> setupS,
        "op_p50_s" -> Stats.median(f),
        "op_tail_s" -> Stats.tail(f),
        "read_sink_s" -> Stats.median(viaSink.map(_._2)),
        "read_graft_s" -> Stats.median(viaGraft.map(_._2)),
        "append_p50_s" -> Stats.median(windowCommits.map(_._2)),
        "articles_per_s" -> articles / ((lastReady - drops.head.due) / 1e9),
        "store_bytes_per_article" -> stream.bytesPerArticle),
        notes = Map("generator_late_max_ms" -> late))
    } else {
      // the same window untraced, then on a fresh traced stream
      val (dropsA, readyA, _) = stream.window(n)
      stream.stop()
      val traced = new Stream(ctx, "traced", tracedPhase = true)
      traced.first()
      traced.window(WarmDrops, measure = false)
      val fromBatch = traced.query.lastProgress.batchId + 1
      val ((drops, ready, end), layers) = Layers.traced(ctx, traced.feed.store) {
        val w = traced.window(n)
        Thread.sleep(500) // let the last progress report arrive
        w
      }
      traced.stop()
      val overhead = Stats.median(fresh(drops, ready)) / Stats.median(fresh(dropsA, readyA))
      val figures = streamFigures(ctx, fromBatch, drops, ready, end)
      val (failed, ok) = check(traced, drops, ready)
      val (failedA, okA) = check(stream, dropsA, readyA)
      Outcome(drops.size, failed + failedA, ok && okA, Map.empty,
        layers.finish(overhead, (end - drops.head.due) / 1e9, ops = drops.size, store = traced.feed.store,
          stream = Some(figures)))
    }
  }

  /** Micro-batch phases and state figures of the traced window. */
  private def streamFigures(ctx: Ctx, fromBatch: Long, drops: Seq[Drop],
      ready: Seq[Option[Long]], end: Long): StreamFigures = {
    val progress = ctx.progress.events.asScala.map(_.progress).toSeq
      .filter(p => p.batchId >= fromBatch && p.numInputRows > 0)
    val phase = (k: String) => progress.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    val trigger = phase("triggerExecution").sum
    val parts = progress.flatMap(_.durationMs.asScala.collect {
      case (k, v) if k != "triggerExecution" => v.doubleValue }).sum
    val batches = progress.size
    val last = progress.lastOption
    val state = last.flatMap(_.stateOperators.headOption)
    val values = Layers.StreamPhases.map(k =>
      s"stream.${k}_ms" -> (if (progress.isEmpty) 0.0 else phase(k).sum / progress.size)).toMap ++ Map(
      "stream.batches" -> progress.size.toDouble,
      "stream.snapshots_per_batch" -> (if (batches == 0) 0.0 else drops.size.toDouble / batches),
      "stream.state_rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "stream.state_bytes" -> state.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "stream.backlog_end" -> ready.count(_.forall(_ > end)).toDouble)
    StreamFigures(values, progress.size,
      if (trigger == 0) 0.0 else (trigger - parts) / trigger)
  }
}
