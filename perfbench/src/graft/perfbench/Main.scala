package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.operators.Ddl

/** Seed-derived values the workloads share. */
object Workloads {
  /** A lineage instant within 2026, in whole seconds. */
  def loadDttm(rng: scala.util.Random): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2026, 1, 1, 0, 0)
      .plusSeconds(rng.nextInt(365 * 86400).toLong))

  val Names: Seq[String] = Seq("ingest", "query_heavy")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "ingest" => new Ingest(ctx)
    case "query_heavy" => new QueryHeavy(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (expected one of ${Names.mkString(", ")})")
  }
}

/**
 * The benchmark's main:
 *
 *   graft.perfbench.Main --workload W --seed N --seconds S --trace 0|1
 *     --data DIR --work DIR
 *
 * Set-up is session start, the workload's own preparation and one warm-up
 * iteration; `setup_s` is its time. It runs once per run: a repeat costs
 * a whole warm-up iteration, and the time budget of a full measurement
 * (22 runs per workload plus four, in 3420 s) is better spent on timed
 * iterations. Iterations then run until `S` seconds have passed and at least
 * the workload's `minIterations` untraced ones ran: untraced with
 * `--trace 0`; with `--trace 1` traced ones between untraced ones, at
 * least one, and then, for a workload that replays public calls when
 * traced, one untimed reference iteration of those calls (the drift
 * guard). Outputs are checked after the timed span.
 * Every metric is printed as `metric <name> <value> <unit>`; the last
 * line is one JSON object.
 */
object Main {
  final case class Iteration(dir: String, seconds: Double, ops: Seq[Op],
      filesBefore: Set[java.nio.file.Path])

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    def arg(k: String): String = {
      val i = args.indexOf(s"--$k")
      require(i >= 0 && i + 1 < args.length, s"missing --$k")
      args(i + 1)
    }
    val workDir = Paths.get(arg("work"))
    Files.createDirectories(workDir)
    val seed = arg("seed").toLong
    val ctx = Ctx(Runtime.getRuntime.availableProcessors, arg("data"), workDir,
      new scala.util.Random(seed))
    val w = Workloads(arg("workload"), ctx)
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"

    val t0 = System.nanoTime()
    val spark = w.session(ctx)
    val t1 = System.nanoTime()
    w.prepare(spark)
    val t2 = System.nanoTime()
    val warmDir = ctx.freshDir("warm")
    Ddl.clearProbeCache()
    w.warmUp(spark, warmDir).flatMap(_.problem)
      .foreach(p => System.err.println(s"[perfbench] warm-up: $p"))
    val setupS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] set-up: session ${(t1 - t0) / 1e9}%.2f s, " +
      f"prepare ${(t2 - t1) / 1e9}%.2f s, warm-up ${(System.nanoTime() - t2) / 1e9}%.2f s")
    Workload.deleteTree(warmDir)

    val untraced = ArrayBuffer.empty[Iteration]
    val traced = ArrayBuffer.empty[(Iteration, String)]
    val tracer = new Tracer(spark.sparkContext)
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    def tracedIteration(): Unit = {
      val label = s"it${traced.size}"
      spark.sparkContext.addSparkListener(tracer)
      traced += runIteration(spark, w, ctx, Some((tracer, label))) -> label
      tracer.labelled(s"$label/attr")(w.attribute(spark, tracer, label))
      tracer.stats()
      spark.sparkContext.removeSparkListener(tracer)
    }
    // traced runs interleave untraced, traced, untraced, …: iterations
    // still speed up after set-up, and a traced iteration between two
    // untraced ones is compared with their mean, so that trend is not
    // charged to the tracing
    untraced += runIteration(spark, w, ctx, None)
    while (untraced.size < w.minIterations || elapsed < seconds ||
        (trace && traced.isEmpty)) {
      if (trace) tracedIteration()
      untraced += runIteration(spark, w, ctx, None)
    }

    val all = (untraced ++ traced.map(_._1)).toSeq
    val measured = elapsed
    // drift guard: the public calls once more, untimed, with the tracer
    // listening; a replay that ran other jobs or stages fails its traced
    // operations, so stale per-layer figures cannot pass as the program's
    val reference = if (!trace) Nil else {
      val dir = ctx.freshDir("ref")
      w.beforeIteration(dir)
      Ddl.clearProbeCache()
      spark.sparkContext.addSparkListener(tracer)
      val ops = w.reference(spark, dir, tracer, "ref")
      val stats = tracer.stats()
      spark.sparkContext.removeSparkListener(tracer)
      for ((it, label) <- traced; (name, why) <- w.drift(stats, "ref", label);
           op <- it.ops if op.name == name)
        op.fail(s"drift: $why")
      Workload.deleteTree(dir)
      ops
    }
    w.check(spark, all.map(i => i.dir -> i.ops))
    System.err.println(f"[perfbench] measured $measured%.2f s, checked ${elapsed - measured}%.2f s")
    val ops = all.flatMap(_.ops) ++ reference
    ops.flatMap(_.problem).distinct.foreach(p => System.err.println(s"[perfbench] FAILED $p"))
    val failed = ops.count(_.problem.nonEmpty)

    val spans = tracer.stats()
    val metrics: Seq[(String, Double, String)] =
      if (!trace) endToEnd(w, untraced.toSeq, setupS)
      else perLayer(w, ctx, untraced.toSeq, traced.toSeq, spans)
    val walls = untraced.map(_.seconds).sorted
    println(s"[perfbench] workload=${w.name} seed=$seed cores=${ctx.cores} " +
      s"iterations=${walls.size} traced=${traced.size} " +
      s"source_rows=${w.sourceRows} source_bytes=${w.sourceBytes}")
    spans.foreach { case (label, s) =>
      println(f"span $label wall_s=${s.wallS}%.6f jobs=${s.jobs} stages=${s.stages} " +
        f"tasks=${s.tasks} run_ms=${s.runMs} shuffle_bytes=${s.shuffleBytes} spill_bytes=${s.spillBytes}")
    }
    println(f"metric failed_share ${failed.toDouble / ops.size}%.6f ratio")
    println(f"metric wall_s_max ${walls.last}%.6f s (largest of ${walls.size} samples; " +
      "wall_s is their median)")
    metrics.foreach { case (n, v, u) => println(f"metric $n $v%.6f $u") }
    all.foreach(i => Workload.deleteTree(i.dir))
    spark.stop()

    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": $v, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": ${ops.size}, """ +
      s""""failed": $failed, "metrics": {$body}}""")
  }

  /** One iteration into a fresh directory, timed around the workload's
    * calls only. */
  def runIteration(spark: SparkSession, w: Workload, ctx: Ctx,
      tracer: Option[(Tracer, String)]): Iteration = {
    val dir = ctx.freshDir("iter")
    w.beforeIteration(dir)
    val before = Workload.parquetFiles(dir).toSet
    // an IngestMain user pays the width probe once per JVM, i.e. per load
    Ddl.clearProbeCache()
    val t0 = System.nanoTime()
    val ops = tracer match {
      case None => w.iteration(spark, dir, None)
      case Some((tr, label)) => tr.labelled(s"$label/gap")(w.iteration(spark, dir, tracer))
    }
    Iteration(dir, (System.nanoTime() - t0) / 1e9, ops, before)
  }

  def endToEnd(w: Workload, its: Seq[Iteration],
      setupS: Double): Seq[(String, Double, String)] = {
    val wall = median(its.map(_.seconds))
    Seq(
      ("wall_s", wall, "s"),
      ("rows_per_s", w.sourceRows / wall, "rows/s"),
      ("sink_bytes_per_source_byte",
        median(its.map(i => w.sinkBytes(i.dir).toDouble)) / w.sourceBytes, "ratio"),
      ("setup_s", setupS, "s"))
  }

  /** Per-layer metric names and units, in report order. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "SnapshotScan.probe_s" -> "s", "SnapshotScan.watermark_s" -> "s",
    "SnapshotScan.scan_s" -> "s", "SnapshotScan.scan_tasks" -> "count",
    "ConsistencyCheck.source_count_s" -> "s", "ConsistencyCheck.verify_s" -> "s",
    "ConsistencyCheck.verify_tasks" -> "count", "ConsistencyCheck.verify_busy_ratio" -> "ratio",
    "Enrich.kernel_s" -> "s", "Enrich.tasks" -> "count",
    "Ddl.width_probe_s" -> "s", "Ddl.write_s" -> "s",
    "Ddl.files_written" -> "count", "Ddl.bytes_written" -> "B",
    "JdbcSource.metadata_s" -> "s", "JdbcSource.watermark_s" -> "s",
    "JdbcSource.count_s" -> "s", "JdbcSource.scan_s" -> "s",
    "JdbcSource.scan_tasks" -> "count",
    "IngestJob.driver_gap_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_busy_ratio" -> "ratio", "spark.shuffle_bytes" -> "B",
    "spark.spill_bytes" -> "B",
    "trace.iteration_s" -> "s", "trace.span_coverage" -> "ratio",
    "trace.overhead_share" -> "ratio") ++
    QueryHeavy.Ids.flatMap(id => Seq(s"$id.build_s" -> "s", s"$id.plan_s" -> "s",
      s"$id.exec_s" -> "s", s"$id.stages" -> "count", s"$id.tasks" -> "count",
      s"$id.shuffle_bytes" -> "B"))

  def perLayer(w: Workload, ctx: Ctx, untraced: Seq[Iteration],
      traced: Seq[(Iteration, String)],
      stats: Map[String, SpanStats]): Seq[(String, Double, String)] = {
    val perIteration: Seq[Map[String, Double]] = traced.map { case (it, label) =>
      // span names below the iteration's label: `<layer>`, or
      // `<load>/<layer>` for a workload with several loads
      val mine = stats.collect { case (k, v) if k.startsWith(label + "/") =>
        k.stripPrefix(label + "/") -> v }
      def layer(n: String): String = n.split('/').last
      def s(n: String): SpanStats = {
        val total = new SpanStats
        mine.foreach { case (k, v) => if (layer(k) == n) total += v }
        total
      }
      val timed = mine.filter { case (n, _) => !layer(n).startsWith("attr") }
      val spanned = timed.filter { case (n, _) => layer(n) != "gap" }.values.map(_.wallS).sum
      val total = new SpanStats
      timed.values.foreach(total += _)
      val written = Workload.parquetFiles(it.dir).filterNot(it.filesBefore)
      val ingest = w.isInstanceOf[Ingest]
      val base = Map(
        "SnapshotScan.probe_s" -> s("SnapshotScan.probe_s").wallS,
        "SnapshotScan.watermark_s" -> s("SnapshotScan.watermark_s").wallS,
        "SnapshotScan.scan_s" -> s("attr.scan").wallS,
        "SnapshotScan.scan_tasks" -> s("attr.scan").tasks.toDouble,
        "ConsistencyCheck.source_count_s" -> s("ConsistencyCheck.source_count_s").wallS,
        "ConsistencyCheck.verify_s" -> s("ConsistencyCheck.verify_s").wallS,
        "ConsistencyCheck.verify_tasks" -> s("ConsistencyCheck.verify_s").tasks.toDouble,
        "ConsistencyCheck.verify_busy_ratio" -> busy(s("ConsistencyCheck.verify_s"), ctx.cores),
        // enrich forced on top of the forced scan, minus that scan
        "Enrich.kernel_s" -> (s("attr.enrich").wallS - s("attr.scan").wallS +
          s("attr.jdbc_enrich").wallS - s("attr.jdbc_scan").wallS),
        "Enrich.tasks" -> (s("attr.enrich").tasks + s("attr.jdbc_enrich").tasks).toDouble,
        "Ddl.width_probe_s" -> s("Ddl.width_probe_s").wallS,
        "Ddl.write_s" -> s("Ddl.write_s").wallS,
        "Ddl.files_written" -> (if (ingest) written.size.toDouble else 0.0),
        "Ddl.bytes_written" -> (if (ingest) written.map(Files.size).sum.toDouble else 0.0),
        "JdbcSource.metadata_s" -> s("JdbcSource.metadata_s").wallS,
        "JdbcSource.watermark_s" -> s("JdbcSource.watermark_s").wallS,
        "JdbcSource.count_s" -> s("JdbcSource.count_s").wallS,
        "JdbcSource.scan_s" -> s("attr.jdbc_scan").wallS,
        "JdbcSource.scan_tasks" -> s("attr.jdbc_scan").tasks.toDouble,
        "IngestJob.driver_gap_s" -> (if (ingest) it.seconds - spanned else 0.0),
        "spark.jobs" -> total.jobs.toDouble,
        "spark.stages" -> total.stages.toDouble,
        "spark.tasks" -> total.tasks.toDouble,
        "spark.executor_busy_ratio" -> total.runMs / 1000.0 / (it.seconds * ctx.cores),
        "spark.shuffle_bytes" -> total.shuffleBytes.toDouble,
        "spark.spill_bytes" -> total.spillBytes.toDouble,
        "trace.iteration_s" -> it.seconds,
        "trace.span_coverage" -> spanned / it.seconds)
      base ++ QueryHeavy.Ids.flatMap { id =>
        val parts = Seq("build_s", "plan_s", "exec_s").map(p => s(s"$id.$p"))
        Seq(s"$id.build_s" -> parts(0).wallS, s"$id.plan_s" -> parts(1).wallS,
          s"$id.exec_s" -> parts(2).wallS,
          s"$id.stages" -> parts.map(_.stages).sum.toDouble,
          s"$id.tasks" -> parts.map(_.tasks).sum.toDouble,
          s"$id.shuffle_bytes" -> parts.map(_.shuffleBytes).sum.toDouble)
      }
    }
    val overhead = median(traced.map(_._1.seconds)) / median(untraced.map(_.seconds)) - 1
    LayerMetrics.map { case (n, u) =>
      val v = if (n == "trace.overhead_share") overhead else median(perIteration.map(_(n)))
      (n, v, u)
    }
  }

  private def busy(s: SpanStats, cores: Int): Double =
    if (s.wallS <= 0) 0.0 else s.runMs / 1000.0 / (s.wallS * cores)
}
