package graft

import graft.operators.FuzzyJoin

class FuzzyJoinSpec extends SparkSpec {

  import spark.implicits._

  private def run(probes: Seq[(Long, String)], base: Seq[(Long, String)],
      d: Int): Set[(Long, Long, Long)] =
    FuzzyJoin.fuzzyJoin(
        probes.toDF("qid", "q"), "qid", "q",
        base.toDF("sid", "s"), "sid", "s", d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  /** Plain-Scala Wagner–Fischer, the independent verify. */
  private def lev(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1)(i => i)
    for (j <- 1 to b.length) {
      var prev = dp(0); dp(0) = j
      for (i <- 1 to a.length) {
        val cur = dp(i)
        dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
    }
    dp(a.length)
  }

  test("hand cases: deletion, substitution, insertion, transposition, miss") {
    val base = Seq((1L, "chocolate"), (2L, "lavender"), (3L, "xy"))
    val probes = Seq(
      (10L, "chocolte"),   // deletion: dist 1
      (11L, "lavendor"),   // substitution: dist 1
      (12L, "chocolatess"), // two insertions: dist 2
      (13L, "lavedner"),   // transposition = 2 unit edits
      (14L, "sprinkle"),   // no match within 2
      (15L, "xyz"))        // short-string path: dist 1 to "xy"
    val got = run(probes, base, d = 2)
    assert(got === Set(
      (10L, 1L, 1L), (11L, 2L, 1L), (12L, 1L, 2L), (13L, 2L, 2L),
      (15L, 3L, 1L)))
  }

  test("property: segment blocking loses NO pair vs a brute-force cross join") {
    val rnd = new scala.util.Random(987654L)
    val alpha = "abcde"
    def word(n: Int) = (0 until n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    // base strings of varied length, incl. very short ones; probes are
    // random edits of base strings plus fresh randoms
    val base = (0 until 120).map(i =>
      (i.toLong, word(1 + rnd.nextInt(12))))
    def mutate(s: String): String = {
      var r = s
      (0 until rnd.nextInt(3)).foreach { _ =>
        if (r.isEmpty) r = word(1)
        else rnd.nextInt(3) match {
          case 0 => val p = rnd.nextInt(r.length) // substitute
            r = r.updated(p, alpha(rnd.nextInt(alpha.length)))
          case 1 => val p = rnd.nextInt(r.length) // delete
            r = r.take(p) + r.drop(p + 1)
          case 2 => val p = rnd.nextInt(r.length + 1) // insert
            r = r.take(p) + alpha(rnd.nextInt(alpha.length)) + r.drop(p)
        }
      }
      r
    }
    val probes = (0 until 120).map(i =>
      (1000L + i, if (i % 2 == 0) mutate(base(i % base.size)._2)
        else word(1 + rnd.nextInt(12))))
    for (d <- Seq(1, 2)) {
      val expected = (for {
        (qid, q) <- probes
        (sid, s) <- base
        dist = lev(q, s) if dist <= d
      } yield (qid, sid, dist.toLong)).toSet
      val got = run(probes, base, d)
      assert(got === expected, s"d=$d")
      assert(expected.nonEmpty)
    }
  }

  test("stream-static fuzzy join equals the batch operator over all waves") {
    import org.apache.spark.sql.types._
    import java.nio.file.Files
    val base = Seq((1L, "chocolate"), (2L, "lavender"), (3L, "goldenrod"))
    val probes = Seq((10L, "chocolte"), (11L, "lavendor"),
      (12L, "goldenros"), (13L, "nomatch"))
    val baseDf = base.toDF("sid", "s")
    val dir = new java.io.File(tmp("fuzzy-stream"))
    probes.grouped(2).zipWithIndex.foreach { case (rows, i) =>
      val staging = tmp(s"fuzzy-wave$i")
      rows.toDF("qid", "q").coalesce(1)
        .write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir, s"wave$i.parquet").toPath
      Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = StructType(Seq(StructField("qid", LongType),
      StructField("q", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val got = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    val q = graft.streaming.StreamingIngest.streamingFuzzyJoin(
        stream, "qid", "q", baseDf, "sid", "s", maxDist = 2) { df =>
      got ++= df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    }
    q.processAllAvailable(); q.stop()
    assert(got.toSet === run(probes, base, d = 2))
    assert(got.nonEmpty)
  }

  test("persisted segment index: probe equals the in-query join; index scan stays bucketed") {
    import graft.operators.FuzzyJoin
    val rnd = new scala.util.Random(24680L)
    val alpha = "abcdef"
    def word(n: Int) = (0 until n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val base = (0 until 80).map(_ => word(2 + rnd.nextInt(10))).distinct
    val probes = base.map { s => // one- or two-edit variants + noise
      if (s.length > 2) s.take(1) + s.drop(2) else s + "x"
    } ++ (0 until 40).map(_ => word(2 + rnd.nextInt(10)))
    val baseDf = base.map(Tuple1(_)).toDF("s")
    val probeDf = probes.map(Tuple1(_)).toDF("q")
    val table = "graft_fuzzy_seg_spec"
    try {
      FuzzyJoin.writeSegmentIndex(baseDf, "s", table, maxDist = 2)
      val fromIndex = FuzzyJoin.probeSegmentIndex(spark, table, probeDf)
      val inQuery = FuzzyJoin.fuzzyJoinStrings(probeDf, baseDf, maxDist = 2)
      def set(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val got = set(fromIndex)
      assert(got === set(inQuery))
      assert(got.exists(_._3 == 2L)) // distance-2 matches really occur
      // the probe's index side must USE the bucket layout (no exchange
      // over the persisted table); force the join path that would
      // otherwise broadcast away the evidence
      val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.get(thresholdKey)
      spark.conf.set(thresholdKey, "-1")
      try {
        val plan = FuzzyJoin.probeSegmentIndex(spark, table, probeDf)
          .queryExecution.executedPlan.toString
        assert(plan.contains("Bucketed: true"),
          s"index scan should be bucket-aware:\n$plan")
      } finally spark.conf.set(thresholdKey, prev)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_meta")
    }
  }

  test("plan gate: no cartesian product — candidates meet on an equi-join") {
    val probes = (0L to 50L).map(i => (i, s"string-number-$i")).toDF("qid", "q")
    val base = (0L to 50L).map(i => (i, s"string-number-${i * 7 % 50}")).toDF("sid", "s")
    val plan = FuzzyJoin.fuzzyJoin(probes, "qid", "q", base, "sid", "s", 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"fuzzy join must block via equi-join keys, not a cross join:\n$plan")
  }
}
