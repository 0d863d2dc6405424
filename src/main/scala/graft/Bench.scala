package graft

import java.lang.management.ManagementFactory

/**
 * Benchmark main: runs the headline queries (Queries.Q.bench = true) on
 * `SPARK_GRAFT_SF_DIR` and prints a `[bench-details]`-prefixed
 * diagnostics line followed by ONE compact JSON metric line (the final
 * line of output — sized to survive a recorder that keeps only the last
 * ~2 KB of stdout).
 *
 * Honesty notes:
 *   - the action is a noop-format write, which materializes EVERY output
 *     column — `.count()` would let Catalyst prune the md5/enrichment
 *     work out of the plan entirely;
 *   - a small warmup action first, so session/codegen startup isn't
 *     charged to the first query;
 *   - each query runs its one declared frame (`Q.runForBench`) — the
 *     frame the oracle gate checks, minus the query's `compareAs` (the
 *     ORDER BY, or the projection into the oracle's columns, that only
 *     the comparison needs); most queries declare none, so they run
 *     exactly as `SparkEntry.queries` returns them.
 *
 * Noise robustness: a single-shot timing races whatever else the host is
 * doing — round 4's official artifact recorded 67.7 s for a run a quiet
 * host reproduces at 37.3 s, selectively inflating two queries whose code
 * had not changed. Each query therefore runs `SPARK_GRAFT_BENCH_REPS`
 * times (default 3) and reports the MINIMUM — the best observed time is
 * the one bounded below by the actual work, so host contention can only
 * push it UP, never fake an improvement.
 *
 * Self-arbitration (rounds 8/9 lesson — two artifacts in a row taken at
 * load 6–8 needed a side-channel reconciliation to interpret): the JSON
 * now carries enough evidence to adjudicate itself, per query:
 *
 *   - `times`: EVERY rep's seconds (not just the min) — a 18.1/5.0/4.8
 *     sequence reads as "first rep hit contention", three tight high
 *     reps read as "the code is that slow";
 *   - `rep_loads`: the 1-minute load average sampled right after each
 *     rep — the context each number was taken under;
 *   - AUTO-EXTENSION: a query whose relative spread ((max-min)/min)
 *     exceeds [[SpreadBound]] WHILE the host is loaded (latest rep's
 *     load > [[HighLoad]]) gets extra reps, up to [[MaxReps]] — buying
 *     more chances to catch a quiet window. High spread at LOW load is
 *     left alone: that is code-real variance the artifact should show,
 *     not average away. Queries whose best rep is already under
 *     [[ExtendFloor]] seconds never extend — sub-second spread is
 *     first-rep JIT noise (the recorded c1/j3 pattern), and spending the
 *     run's wall-clock there would starve the heavy queries the bands
 *     actually track.
 *
 * The min stays the headline (work-bounded-below); `reps_run` records
 * how many reps each query actually took, so an extended query is
 * visibly flagged as "measured under contention, best-of-N".
 */
object Bench {
  val SpreadBound = 0.25
  val HighLoad = 2.0
  val MaxReps = 9
  val ExtendFloor = 0.5

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = GraftSession()

    def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val loadStart = loadAvg

    // warmup: JVM/codegen/file-listing, charged to nobody
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()

    // dev subset filter: SPARK_GRAFT_BENCH_ONLY=t2_...,t3_... runs only the
    // named headline queries (before/after timing of one family without the
    // full sweep). Guard rails so a subset run can never masquerade as an
    // official artifact: unknown names are FATAL (a typo must not silently
    // shrink the set), and the emitted JSON carries a "subset" marker
    // whenever the filter is active.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val allHeadline = Queries.all.filter(_._2.bench).toSeq.sortBy(_._1)
    only.foreach { names =>
      // subset runs may name ANY registered query (scaling audits time
      // non-headline operators too); the "subset" marker below already
      // keeps such a run from masquerading as an official artifact
      val unknown = names -- Queries.all.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names unknown queries: " +
          s"${unknown.toSeq.sorted.mkString(", ")}")
    }
    val headline = only match {
      case Some(names) =>
        Queries.all.toSeq.sortBy(_._1).filter { case (n, _) => names.contains(n) }
      case None => allHeadline
    }
    val maxReps = MaxReps.max(reps)
    var failed = List.empty[String]
    val results = headline.map { case (name, q) =>
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      val repLoads = scala.collection.mutable.ArrayBuffer.empty[Double]
      var broken = false
      def runOnce(): Unit = {
        val t0 = System.nanoTime()
        // the runner's scoped frame: barrier release is CHARGED to the
        // query (unpersist is part of its real cost; non-blocking
        // bookkeeping) and isolated from every other query's barriers
        try q.execute(spark, sfDir, forBench = true)(
          _.write.format("noop").mode("overwrite").save())
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          failed ::= name
          broken = true
        }
        if (!broken) {
          times += (System.nanoTime() - t0) / 1e9
          repLoads += loadAvg
        }
      }
      def spread: Double =
        if (times.size < 2) 0.0 else (times.max - times.min) / times.min
      // a STILL-IMPROVING tail: the global minimum was set within the
      // last 3 reps AND was a real improvement (>2%) over the best
      // before it — the JVM is still warming. JIT descent is NOT
      // monotone (t33's settles 5.9 → 6.2 → 6.8 → 4.7 → … → 4.5, round
      // 13), so requiring the LATEST rep to be the best stops mid-
      // descent; a min that has stood for 3 straight reps has converged.
      def improving: Boolean = times.size >= 2 && {
        val minIdx = times.indexOf(times.min)
        minIdx >= times.size - 3 && {
          val before = times.take(minIdx)
          before.nonEmpty && (before.min - times.min) / times.min > 0.02
        }
      }
      while (!broken && times.size < reps) runOnce()
      // auto-extension, two triggers:
      //   1. noisy spread under a loaded host buys extra reps (a
      //      quiet-host spread is code-real and stands as measured);
      //   2. a still-improving tail extends REGARDLESS of load —
      //      otherwise min-of-reps depends on the rep count, not the
      //      code: the round-10→11 c1 "regression" was r10's loaded
      //      host extending to 9 reps (deep JIT warm, 0.56) while
      //      r11's quiet host stopped at 3 (0.75), rep-for-rep equal.
      // A sub-floor minimum never extends (JIT noise, wall-clock guard).
      while (!broken && times.size < maxReps && times.min > ExtendFloor &&
        ((spread > SpreadBound && repLoads.last > HighLoad) || improving))
        runOnce()
      name -> ((times.toSeq, repLoads.toSeq))
    }
    def jmap(pairs: Seq[(String, Double)]): String =
      pairs.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    def jmapArr(pairs: Seq[(String, Seq[Double])]): String =
      pairs.map { case (k, vs) =>
        "\"" + k + "\":" + vs.map(v => f"$v%.3f").mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    val mins = results.map { case (k, (ts, _)) => k -> (if (ts.isEmpty) 0.0 else ts.min) }
    val spreads = results.collect { case (k, (ts, _)) if ts.size >= 2 =>
      k -> (ts.max - ts.min) / ts.min }
    val qs = jmap(mins)
    val spreadJson = jmap(spreads)
    val timesJson = jmapArr(results.map { case (k, (ts, _)) => k -> ts })
    val repLoadsJson = jmapArr(results.map { case (k, (_, ls)) => k -> ls })
    val repsRun = results.map { case (k, (ts, _)) => s""""$k":${ts.size}""" }
      .mkString("{", ",", "}")
    val failedJson = failed.reverse.distinct.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = mins.map(_._2).sum
    val loadEnd = loadAvg
    // A failed query must be VISIBLE (in the JSON) and FATAL (non-zero
    // exit) — otherwise a broken headline silently shrinks the total.
    val subsetMarker =
      if (only.isDefined) s""","subset":${headline.length}""" else ""
    // Two-line output (round-14 fix): the harness that records this run
    // keeps only the LAST ~2000 characters of stdout and parses the
    // metric line out of that window — a single line carrying the full
    // per-rep diagnostics (~6 KB at 50 queries × 9 reps) gets cut
    // mid-line and parses as nothing (BENCH_r10–r13 all record
    // "parsed": null). So: full self-arbitration evidence first, on a
    // prefixed line that cannot be mistaken for the metric line (and
    // mostly scrolls out of the window), then ONE compact final line —
    // metric/value/queries-min/failed/sf — sized to fit the window with
    // room for the launcher's trailing status line.
    println(f"""[bench-details] {"times":$timesJson,"rep_loads":$repLoadsJson,"spread":$spreadJson,"reps_run":$repsRun,"reps":$reps,"load":{"start":$loadStart%.2f,"end":$loadEnd%.2f}}""")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$failedJson$subsetMarker,"sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
