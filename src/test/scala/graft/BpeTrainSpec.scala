package graft

import org.apache.spark.sql.functions._

import graft.operators.BpeTrain

class BpeTrainSpec extends SparkSpec {

  import spark.implicits._

  private def applied(syms: Seq[String], a: String, b: String): Seq[String] =
    Seq(Tuple1(syms)).toDF("syms")
      .select(BpeTrain.applyMerge(col("syms"), a, b).as("m"))
      .as[Seq[String]].head()

  test("applyMerge is greedy left-to-right and non-overlapping") {
    assert(applied(Seq("a", "b", "c"), "a", "b") === Seq("ab", "c"))
    assert(applied(Seq("a", "a", "a"), "a", "a") === Seq("aa", "a"))
    assert(applied(Seq("a", "a", "a", "a"), "a", "a") === Seq("aa", "aa"))
    assert(applied(Seq("x", "a", "b", "a", "b"), "a", "b") === Seq("x", "ab", "ab"))
    // a merged symbol never chains within the same round
    assert(applied(Seq("a", "b", "b"), "a", "b") === Seq("ab", "b"))
    // no occurrences → unchanged
    assert(applied(Seq("q", "r"), "a", "b") === Seq("q", "r"))
  }

  test("pair counts weight by word frequency and count overlapping occurrences") {
    val docs = Seq("aa aa aa ab", "aa zz").toDF("text")
    val (merges, _) = BpeTrain.train(docs, "text", rounds = 1)
    // "aa"×4 contributes 4 to (a,a); "ab"×1 gives (a,b)=1; "zz"×1 gives (z,z)=1
    assert(merges.head === BpeTrain.Merge(1, "a", "a", 4L))
  }

  test("ties break on (count desc, left asc, right asc) and rounds chain") {
    // both ("ab" and "cd") appear twice; (a,b) < (c,d) lexicographically
    val docs = Seq("ab cd", "ab cd").toDF("text")
    val (merges, words) = BpeTrain.train(docs, "text", rounds = 2)
    assert(merges.map(m => (m.round, m.left, m.right, m.count)) ===
      Seq((1, "a", "b", 2L), (2, "c", "d", 2L)))
    // after both rounds every word is a single symbol
    val syms = words.select("syms").as[Seq[String]].collect()
    assert(syms.forall(_.length == 1))
  }

  test("training stops early when no pairs remain") {
    val docs = Seq("a b c").toDF("text") // all words single-char
    val (merges, _) = BpeTrain.train(docs, "text", rounds = 5)
    assert(merges.isEmpty)
  }

  test("local fast path ≡ distributed fallback: merges and word tables, ties included") {
    // tie-heavy corpus: equal-count pairs force the UTF-8 tie-break in
    // every round; maxLocalWords = 0 forces the distributed loop on the
    // SAME input so the two paths must produce identical rule sequences
    val docs = Seq("ab cd ab cd ef", "xy xy ef abab", "cdcd q abab")
      .toDF("text")
    val rounds = 6
    val (lm, lw) = BpeTrain.train(docs, "text", rounds)
    val (dm, dw) = BpeTrain.train(docs, "text", rounds, maxLocalWords = 0L)
    assert(lm === dm)
    assert(lm.nonEmpty)
    def table(df: org.apache.spark.sql.DataFrame) =
      df.select("w", "cnt", "syms").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2)))
        .sortBy(_._1).toSeq
    assert(table(lw) === table(dw))
  }

  test("local fast path runs deep merge schedules: 64 rounds on a small corpus") {
    // a real tokenizer trains tens of thousands of merges; the local
    // path must keep chaining until the corpus is fully merged and then
    // stop early, never burning a distributed barrier per round
    val docs = Seq("abcdefgh ijklmnop", "abcdefgh qrstuvwx",
      "ijklmnop qrstuvwx yz").toDF("text")
    val (merges, words) = BpeTrain.train(docs, "text", rounds = 64)
    // every word collapses to one symbol: 7 merges per 8-char word ×3 +1
    assert(merges.size === 22)
    assert(words.select("syms").as[Seq[String]].collect().forall(_.length == 1))
    // rounds are consecutively numbered from 1
    assert(merges.map(_.round) === (1 to merges.size))
  }

  test("encodeWords: rank-order replay reproduces trained syms in-vocab and encodes unseen words") {
    val docs = Seq("ab ab ab abc abc cd").toDF("text")
    val (merges, trained) = BpeTrain.train(docs, "text", rounds = 4)
    // law: replaying the merge list over the TRAINING vocab reproduces
    // the trained word table symbol-for-symbol
    val replay = BpeTrain.encodeWords(trained.select("w"), "w", merges)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    trained.select("w", "syms").collect()
      .foreach(r => assert(replay(r.getString(0)) === r.getSeq[String](1),
        s"word ${r.getString(0)}"))
    // unseen words: learned pairs merge in rank order, unknown chars
    // stay singletons
    val unseen = BpeTrain.encodeWords(
      Seq("abcd", "xab", "zz", "").toDF("w"), "w", merges)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(merges.map(m => (m.left, m.right)).contains(("a", "b")))
    assert(unseen("xab") === Seq("x", "ab"))
    assert(unseen("zz") === Seq("z", "z"))
    assert(unseen("") === Seq())
    // "abcd": rank order decides whether abc forms — whatever it is,
    // concatenating the symbols must reconstruct the word
    assert(unseen("abcd").mkString === "abcd")
  }

  test("encodeStats: per-doc word/symbol/char counts under the trained merges") {
    val docs = Seq((1L, "ab ab cd"), (2L, "ab")).toDF("doc_id", "text")
    val (merges, words) = BpeTrain.train(docs, "text", rounds = 1)
    assert(merges.head === BpeTrain.Merge(1, "a", "b", 3L))
    val r = BpeTrain.encodeStats(docs, "doc_id", "text", words)
      .orderBy("id")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    // doc 1: ab→[ab](1 sym), ab→1, cd→[c,d](2 syms); doc 2: ab→1
    assert(r === Array((1L, 3L, 4L, 6L), (2L, 1L, 1L, 2L)))
  }

  test("byte-level alphabet: GPT-2 bytes_to_unicode invariants, multi-byte segmentation, and merge reassembly") {
    // the published table's invariants: 256 DISTINCT 1-char spellings;
    // printable non-space bytes spell themselves; the 68 shifted bytes
    // land at 256+n in byte order
    val bc = BpeTrain.ByteChars
    assert(bc.length === 256 && bc.distinct.length === 256)
    assert(bc.forall(_.length == 1))
    assert(bc('a'.toInt) === "a" && bc('!'.toInt) === "!")
    assert(bc(0) === 256.toChar.toString) // NUL is the first shifted byte
    assert(bc(' '.toInt) !== " ")         // space is shifted (GPT-2's Ġ class)
    // multi-byte segmentation: 'é' is C3 A9 → exactly the two
    // high-byte self-spellings; trained merges reassemble it
    val docs = Seq((1L, "éé éé xé")).toDF("doc_id", "text")
    val (merges, words) = BpeTrain.trainByteLevel(docs, "text", rounds = 2)
    val syms0 = BpeTrain.encodeWordsByteLevel(
        Seq("é").toDF("w"), "w", Nil)
      .head().getSeq[String](1)
    assert(syms0 === Seq(bc(0xC3), bc(0xA9)))
    // round 1 must merge the dominant adjacent pair (Ã, ©) — 5
    // occurrences (2+2 in "éé" twice, 1 in "xé")
    assert((merges.head.left, merges.head.right) ===
      ((bc(0xC3), bc(0xA9))))
    assert(merges.head.count === 5L)
    // losslessness: mapping each trained symbol back through the
    // table recovers the original UTF-8 bytes
    val back = bc.zipWithIndex.map { case (c, b) => c -> b.toByte }.toMap
    words.collect().foreach { r =>
      val w = r.getString(0)
      val bytes = r.getSeq[String](2).flatMap(sym =>
        sym.map(ch => back(ch.toString))).toArray
      assert(new String(bytes, "UTF-8") === w, s"word $w")
    }
    // encode stats count BYTES, and the encode equals the trained table
    val st = BpeTrain.encodeStatsByteLevelWithMerges(docs, "doc_id",
      "text", merges).head()
    assert(st.getLong(1) === 3L) // words
    assert(st.getLong(3) === 4L + 4L + 3L) // bytes: éé=4, éé=4, xé=3
    // byte-level merges ride the public interchange format untouched:
    // every ByteChars spelling is non-whitespace by construction
    val out = tmp("graft-bytelevel-merges")
    graft.operators.TokenizerInterchange.exportBpeMerges(
      s"$out/merges.txt", merges)
    val back2 = graft.operators.TokenizerInterchange.importBpeMerges(
      s"$out/merges.txt")
    assert(back2.map(m => (m.round, m.left, m.right)) ===
      merges.map(m => (m.round, m.left, m.right)))
  }

  test("bounded-broadcast probe: shuffle-join fallback (maxBroadcastWords = 0) is value-identical and drops the broadcast") {
    val docs = Seq((1L, "ab ab cd"), (2L, "ab")).toDF("doc_id", "text")
    val (merges, words) = BpeTrain.train(docs, "text", rounds = 1)
    graft.operators.Staging.scoped {
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("id").collect().map(_.toString).toSeq
      // the HINT at the logical layer, not AQE's runtime choice —
      // on a tiny test table AQE re-broadcasts the shuffle join
      // anyway (which is exactly the desired degrade-gracefully
      // behavior at scale, where stats would forbid it)
      def hasBcast(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.optimizedPlan.toString
          .contains("strategy=broadcast")
      val bc = BpeTrain.encodeStats(docs, "doc_id", "text", words)
      val sh = BpeTrain.encodeStats(docs, "doc_id", "text", words,
        maxBroadcastWords = 0L)
      assert(rows(bc) === rows(sh))
      assert(hasBcast(bc) && !hasBcast(sh))
      val bcM = BpeTrain.encodeStatsWithMerges(docs, "doc_id", "text",
        merges)
      val shM = BpeTrain.encodeStatsWithMerges(docs, "doc_id", "text",
        merges, maxBroadcastWords = 0L)
      assert(rows(bcM) === rows(shM))
      assert(hasBcast(bcM) && !hasBcast(shM))
    }
  }

  test("probe routing is job-free on known counts: trained tables carry an exact row-count tag, knownWords steers the route, and encode construction launches no Spark job") {
    val docs = Seq((1L, "ab ab cd"), (2L, "ab xy")).toDF("doc_id", "text")
    val (_, words) = BpeTrain.train(docs, "text", rounds = 1)
    // the tag equals the actual distinct-word count (ab, cd, xy)
    assert(BpeTrain.taggedRowCount(words) === Some(3L))
    assert(words.count() === 3L)
    def hasBcast(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.toString.contains("strategy=broadcast")
    graft.operators.Staging.scoped {
      // knownWords steers the route without a job: a claimed count
      // over the bound forces the shuffle join even on a tiny table,
      // under it keeps the broadcast — values identical either way
      val viaTag = BpeTrain.encodeStats(docs, "doc_id", "text", words)
      val forcedShuffle = BpeTrain.encodeStats(docs, "doc_id", "text",
        words.withColumn("w", col("w")), // still tagged (metadata rides w)
        maxBroadcastWords = 2L)
      assert(hasBcast(viaTag) && !hasBcast(forcedShuffle))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("id").collect().map(_.toString).toSeq
      assert(rows(viaTag) === rows(forcedShuffle))
      // constructing the tagged-route encode launches ZERO jobs (the
      // r18 bound ran an eager count() here; r19 reads the tag)
      // Deterministic drain, no sleep: the listener bus is FIFO, so
      // once the MARKER job's start event (tagged via job description)
      // arrives, every job started before it has been delivered — and
      // only jobs between listener registration and the marker count,
      // so a stray action elsewhere in the session can't trip it.
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val marker = "graft-bpe-spec-listener-drain-marker"
      val markerSeen = new java.util.concurrent.CountDownLatch(1)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          if (Option(j.properties).exists(
              _.getProperty("spark.job.description") == marker))
            markerSeen.countDown()
          else { jobs.incrementAndGet(); () }
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val constructedOnly =
          BpeTrain.encodeStats(docs, "doc_id", "text", words)
        assert(constructedOnly.queryExecution.optimizedPlan != null)
        spark.sparkContext.setJobDescription(marker)
        try spark.range(1).count()
        finally spark.sparkContext.setJobDescription(null)
        assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS),
          "marker job event not delivered within 60s")
        assert(jobs.get() === 0,
          "probe routing on a tagged word table must not launch a job")
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("knownWords on the WithMerges entry points steers probe routing without the eager count: an exact count keeps the broadcast, an over-bound claim routes to shuffle, values identical") {
    val docs = Seq((1L, "ab ab cd"), (2L, "ab xy")).toDF("doc_id", "text")
    val (merges, _) = BpeTrain.train(docs, "text", rounds = 1)
    def hasBcast(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.toString.contains("strategy=broadcast")
    graft.operators.Staging.scoped {
      // a marker-scoped listener pins that knownWords short-circuits
      // the routing count: construction launches no job
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val marker = "graft-bpe-spec-knownwords-drain-marker"
      val markerSeen = new java.util.concurrent.CountDownLatch(1)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          if (Option(j.properties).exists(
              _.getProperty("spark.job.description") == marker))
            markerSeen.countDown()
          else { jobs.incrementAndGet(); () }
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val (bc, sh) = try {
        val bc0 = BpeTrain.encodeStatsWithMerges(docs, "doc_id", "text",
          merges, knownWords = Some(3L))
        // an over-bound CLAIM (safe upper bound) forces the shuffle
        val sh0 = BpeTrain.encodeStatsWithMerges(docs, "doc_id", "text",
          merges, maxBroadcastWords = 2L, knownWords = Some(3L))
        assert(bc0.queryExecution.optimizedPlan != null)
        assert(sh0.queryExecution.optimizedPlan != null)
        spark.sparkContext.setJobDescription(marker)
        try spark.range(1).count()
        finally spark.sparkContext.setJobDescription(null)
        assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS),
          "marker job event not delivered within 60s")
        assert(jobs.get() === 0,
          "knownWords must retire the eager routing count")
        (bc0, sh0)
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(hasBcast(bc) && !hasBcast(sh))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("id").collect().map(_.toString).toSeq
      assert(rows(bc) === rows(sh))
    }
  }

  test("dropRowCountTag strips the stale-prone tag: a union keeps the left child's metadata (the under-estimate trap), dropping it restores honest shuffle routing") {
    val docs = Seq((1L, "ab ab cd"), (2L, "ab xy")).toDF("doc_id", "text")
    val (_, words) = BpeTrain.train(docs, "text", rounds = 1)
    assert(BpeTrain.taggedRowCount(words) === Some(3L))
    // Spark's union keeps the LEFT child's column metadata: the grown
    // table still claims 3 rows — the documented under-estimate trap
    val extra = Seq(("zz", 1L, Seq("z", "z"))).toDF("w", "cnt", "syms")
    val grown = words.union(extra)
    assert(grown.count() === 4L)
    assert(BpeTrain.taggedRowCount(grown) === Some(3L))
    val honest = BpeTrain.dropRowCountTag(grown)
    assert(BpeTrain.taggedRowCount(honest) === None)
    assert(honest.count() === 4L)
    // idempotent no-op on an untagged table
    assert(BpeTrain.taggedRowCount(
      BpeTrain.dropRowCountTag(honest)) === None)
  }
}
