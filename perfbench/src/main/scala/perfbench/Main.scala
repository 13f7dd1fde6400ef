package perfbench

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SessionDefaults

/** The pipeline benchmark's entry point:
  * {{{
  *   perfbench.Main --workload dashboard --seed 1 --seconds 10 --trace 0 \
  *     --work <scratch dir> [--trace-dir <dir>]
  * }}}
  * Prints as its last line the JSON result, with each metric as a bare
  * number: end-to-end metrics with `--trace 0`, per-layer metrics with
  * `--trace 1`. `run.py` adds the units BENCHMARK.json declares. */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "feed_stream" -> FeedStream.run,
    "dashboard" -> Dashboard.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload; have ${Workloads.keys.mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Files.createDirectories(Paths.get(opts("work")).toAbsolutePath)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)

    val spark = SessionDefaults.builder(cpus)
      .appName("perfbench")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, work, seed, seconds, traced)
    val out = try run(ctx) catch {
      case e: Throwable =>
        // no result line: a harness failure must not read as a measurement
        e.printStackTrace()
        spark.streams.active.foreach(_.stop())
        spark.stop()
        sys.exit(1)
    }

    val metrics = if (traced) out.layers else out.metrics
    if (out.notes.nonEmpty) println(s"$workload seed=$seed " +
      out.notes.toSeq.sorted.map { case (k, v) => s"$k=${"%.6g".format(v)}" }.mkString(" "))
    opts.get("trace-dir").filter(_ => traced).foreach(d =>
      writeTrace(Files.createDirectories(Paths.get(d)).resolve(s"$workload-seed$seed.json"),
        workload, seed, out))
    val mapper = new ObjectMapper()
    val json = mapper.createObjectNode()
    json.put("correct", out.checksPassed && out.failed == 0)
    json.put("attempted", out.attempted)
    json.put("failed", out.failed)
    val m = json.putObject("metrics")
    metrics.toSeq.sortBy(_._1).foreach { case (k, v) => m.put(k, v) }
    spark.stop()
    println(mapper.writeValueAsString(json))
  }

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] => val o = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => o.put(k.toString, toJava(x)) }; o
    case s: Iterable[_] => val o = new java.util.ArrayList[Any]()
      s.foreach(x => o.add(toJava(x))); o
    case other => other
  }

  /** Spans and readings of a traced run, written once it has ended. */
  private def writeTrace(p: Path, workload: String, seed: Long, out: Outcome): Unit = {
    val (spans, _) = Trace.snapshot()
    val t0 = spans.headOption.map(_.t0).getOrElse(0L)
    val doc = new java.util.LinkedHashMap[String, Any]()
    doc.put("workload", workload)
    doc.put("seed", seed)
    doc.put("layers", scala.jdk.CollectionConverters.MapHasAsJava(out.layers).asJava)
    out.trace.foreach { case (k, v) => doc.put(k, toJava(v)) }
    doc.put("spans", scala.jdk.CollectionConverters.SeqHasAsJava(spans.map { s =>
      val o = new java.util.LinkedHashMap[String, Any]()
      o.put("id", s.id); o.put("parent", s.parent); o.put("op", s.op)
      o.put("name", s.name); o.put("thread", s.thread)
      o.put("start_us", (s.t0 - t0) / 1000); o.put("end_us", (s.t1 - t0) / 1000)
      o
    }).asJava)
    new ObjectMapper().writerWithDefaultPrettyPrinter().writeValue(p.toFile, doc)
  }
}
