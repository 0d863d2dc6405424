package graft

import org.apache.spark.sql.functions._

import graft.operators.{TextDedup, VectorOps}

class DedupSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")

  test("LSH candidates achieve full recall on high-jaccard pairs") {
    val truth = Queries.t2_ngram_jaccard_pairs.run(spark, sf("sf0.01"))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Queries.t3_minhash_lsh_pairs.run(spark, sf("sf0.01"))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    assert(truth === lsh) // 16 hashes / 4 bands catches jaccard ≳ 0.7 w.h.p.
  }

  test("near-duplicate pairs have small simhash hamming distance") {
    val sim = Queries.t4_simhash.run(spark, sf("sf0.01"))
    val pairs = Queries.t2_ngram_jaccard_pairs.run(spark, sf("sf0.01"))
    val joined = pairs
      .join(sim.select(col("doc_id").as("id_a"), col("simhash").as("h_a")), Seq("id_a"))
      .join(sim.select(col("doc_id").as("id_b"), col("simhash").as("h_b")), Seq("id_b"))
      .select(TextDedup.hamming(col("h_a"), col("h_b")).as("d"))
    val dists = joined.collect().map(_.getInt(0))
    // SimHash of ~99%-similar docs should collide on nearly every bit
    assert(dists.forall(_ <= 6), s"distances: ${dists.mkString(",")}")
  }

  test("prefix-filtered jaccard equals the direct exploded join (lossless candidates)") {
    val withSh = TextDedup.shingleSets(docs, "doc_id", "text", 3).persist()
    val direct = TextDedup.jaccardPairs(withSh, "id", "s", 0.5)
      .select("id_a", "id_b", "jaccard")
    val prefix = TextDedup.jaccardPairsPrefix(withSh, 0.5)
      .select("id_a", "id_b", "jaccard")
    assert(direct.count() > 0)
    assert(direct.except(prefix).count() === 0L)
    assert(prefix.except(direct).count() === 0L)
  }

  test("hashed 64-bit shingle currency equals the string currency on every operator") {
    val strings = TextDedup.shingleSets(docs, "doc_id", "text", 3).persist()
    val hashed = TextDedup.hashedShingles(docs, "doc_id", "text", 3).persist()
    // same docs survive the ≥n-token filter; same per-doc set sizes
    assert(strings.select(col("id"), size(col("s")).as("n"))
      .except(hashed.select(col("id"), size(col("s")).as("n"))).count() === 0L)
    // pairwise operators agree across currencies (hash at the edges,
    // ids inside the joins — semantically invisible)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      TextDedup.jaccardPairs(df, "id", "s", 0.5).select("id_a", "id_b", "jaccard")
    assert(pairs(strings).except(pairs(hashed)).count() === 0L)
    assert(pairs(hashed).except(pairs(strings)).count() === 0L)
    def decont(df: org.apache.spark.sql.DataFrame) =
      TextDedup.decontaminate(df, col("id") % 37 === 0, 0.1)
    assert(decont(strings).except(decont(hashed)).count() === 0L)
    assert(decont(hashed).except(decont(strings)).count() === 0L)
    def prefix(df: org.apache.spark.sql.DataFrame) =
      TextDedup.jaccardPairsPrefix(df, 0.5).select("id_a", "id_b", "jaccard")
    assert(prefix(hashed).except(pairs(strings)).count() === 0L)
    assert(pairs(strings).except(prefix(hashed)).count() === 0L)
    strings.unpersist(); hashed.unpersist()
  }

  test("LSH stop-bucket cap: generous cap is a no-op; tight cap yields a subset") {
    import graft.operators.Staging
    Staging.scoped {
      val frame = Staging.barrier(TextDedup.shingleLshFrame(
        docs, "doc_id", "text", 3, 16, 4, 4))
      val uncapped = TextDedup.minhashLshPairsFromFrame(frame, 0.5)
      val generous = TextDedup.minhashLshPairsFromFrame(frame, 0.5,
        maxBucket = Some(Int.MaxValue))
      val tight = TextDedup.minhashLshPairsFromFrame(frame, 0.5,
        maxBucket = Some(1)) // every ≥2-doc bucket dropped → no candidates
      assert(uncapped.count() > 0)
      assert(generous.except(uncapped).count() === 0L)
      assert(uncapped.except(generous).count() === 0L)
      assert(tight.except(uncapped).count() === 0L) // subset guarantee
      assert(tight.count() === 0L)
    }
  }

  test("adaptive jaccard routes both ways and both routes equal the direct join") {
    val withSh = TextDedup.shingleSets(docs, "doc_id", "text", 3).persist()
    val direct = TextDedup.jaccardPairs(withSh, "id", "s", 0.5)
      .select("id_a", "id_b", "jaccard")
    // high cap → sampled probe stays under it → direct route
    val flat = TextDedup.jaccardPairsAdaptive(withSh, 0.5, dfCap = Long.MaxValue)
    // cap 0 → any observed shingle exceeds it → prefix route
    val skewed = TextDedup.jaccardPairsAdaptive(withSh, 0.5, dfCap = 0L)
    for (routed <- Seq(flat, skewed)) {
      assert(routed.except(direct).count() === 0L)
      assert(direct.except(routed.select("id_a", "id_b", "jaccard")).count() === 0L)
    }
  }

  test("span duplication: planted shared span found; within-doc repeats don't count") {
    import spark.implicits._
    // doc 1 and 2 share a verbatim 7-token span inside otherwise-unique
    // text; doc 3 repeats its own phrase (within-doc only); doc 4 is
    // unique; doc 5 is shorter than the gram size
    val shared = "the quick brown fox jumps over dog"
    val fixture = Seq(
      (1L, s"alpha beta gamma $shared delta epsilon"),
      (2L, s"one two three four $shared five six"),
      (3L, "red green blue red green blue red green blue red green blue"),
      (4L, "entirely unique words without any overlap anywhere here"),
      (5L, "too few tokens")).toDF("doc_id", "text")
    val out = graft.operators.Staging.scoped {
      TextDedup.spanDuplication(fixture, "doc_id", "text", gram = 5)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    }
    // 7-token shared span = 3 duplicated 5-grams; span length reported 7
    val (n1, d1, f1, s1) = out(1L)
    assert(n1 === 8L && d1 === 3L && s1 === 7L && math.abs(f1 - 3.0 / 8) < 1e-15)
    assert(out(2L) === ((9L, 3L, 3.0 / 9, 7L)))
    // within-doc repetition is NOT cross-doc duplication
    assert(out(3L) === ((8L, 0L, 0.0, 0L)))
    assert(out(4L) === ((4L, 0L, 0.0, 0L)))
    // short doc: zero grams, zero fraction (no ANSI division error)
    assert(out(5L) === ((0L, 0L, 0.0, 0L)))
  }

  test("connected components: a planted A~B~C chain collapses to one survivor") {
    import spark.implicits._
    // A~B and B~C but NOT A~C, plus a disjoint pair and a long chain
    // (exercises the pointer-doubling shortcut past one-hop propagation)
    val chain = (20L until 29L).map(i => (i, i + 1)) // 20~21~…~29
    val pairs = (Seq((1L, 2L), (2L, 3L), (10L, 11L)) ++ chain).toDF("id_a", "id_b")
    val out = graft.operators.Staging.scoped {
      val cc = TextDedup.connectedComponents(pairs)
      cc.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    }
    val byDoc = out.map(t => t._1 -> (t._2, t._3)).toMap
    // one cluster {1,2,3} with survivor 1 — A and C joined transitively
    assert(Seq(1L, 2L, 3L).map(byDoc(_)).toSet === Set((1L, 3L)))
    assert(byDoc(10L) === ((10L, 2L)) && byDoc(11L) === ((10L, 2L)))
    // the 10-node chain collapses to min id 20
    assert((20L to 29L).map(byDoc(_)).toSet === Set((20L, 10L)))
    // exactly one survivor (doc_id == cluster_id) per cluster
    val survivors = out.filter(t => t._1 == t._2).map(_._1).toSet
    assert(survivors === Set(1L, 10L, 20L))
    assert(out.length === 15)
  }

  test("connected components: driver union-find fast path equals the distributed loop") {
    // corpus-scale near-dup pairs, BOTH paths: same fixpoint (min
    // reachable id per node, sizes included) — the gates cannot tell
    // which path ran
    def run(threshold: Long): Set[(Long, Long, Long)] =
      graft.operators.Staging.scoped {
        val pairs = TextDedup.minhashLshPairs(docs, "doc_id", "text",
          n = 3, k = 16, bandSize = 4, numBands = 4, threshold = 0.5)
          .select("id_a", "id_b")
        TextDedup.connectedComponents(pairs, smallGraphEdges = threshold)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      }
    val fast = run(TextDedup.SmallGraphEdges)
    val distributed = run(0L)
    assert(fast.nonEmpty)
    assert(fast === distributed)
  }

  test("connected components: reliable checkpoint path equals the local default") {
    import spark.implicits._
    import graft.operators.CheckpointStrategy
    val chain = (20L until 29L).map(i => (i, i + 1))
    val pairs = (Seq((1L, 2L), (2L, 3L), (10L, 11L)) ++ chain).toDF("id_a", "id_b")
    // smallGraphEdges = 0 forces the DISTRIBUTED loop — this test exists
    // to exercise the checkpointer, which the fast path never touches
    def run(s: CheckpointStrategy): Set[(Long, Long, Long)] =
      graft.operators.Staging.scoped {
        TextDedup.connectedComponents(pairs, checkpointer = s,
            smallGraphEdges = 0L)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      }
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
    try {
      val local = run(CheckpointStrategy.Local)
      val reliable = run(CheckpointStrategy.Reliable(ckptDir.toString))
      assert(local.nonEmpty)
      assert(reliable === local)
      // the reliable path actually wrote checkpoint state to the dir
      val wrote = java.nio.file.Files.walk(ckptDir).count() > 1
      assert(wrote, "reliable checkpoint left no files under its dir")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(ckptDir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("let-bound bandedDigests equals the staged batch band pipeline") {
    import graft.operators.Staging
    val (n, k, bandSize, numBands) = (3, 16, 4, 4)
    val bound = docs.select(col("doc_id"),
        TextDedup.bandedDigests(col("text"), n, k, bandSize, numBands).as("bands"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap
    val staged = Staging.scoped {
      TextDedup.shingleSets(docs, "doc_id", "text", n)
        .select(col("id"), TextDedup.bandHashes(
          TextDedup.minhashSignature(col("s"), k), bandSize, numBands).as("bands"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    }
    assert(staged.nonEmpty)
    // every bandable doc: identical digests; shorter-than-n docs: NULL
    staged.foreach { case (id, bands) => assert(bound(id) === Some(bands)) }
    (bound.keySet -- staged.keySet).foreach(id => assert(bound(id).isEmpty))
  }

  test("filteredTopK equals per-label brute force over the restricted corpus") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    val filtered = VectorOps.filteredTopK(emb, queries,
        "vec_id", "embedding", Seq("label"), k = 3)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val perLabel = queries.select("vec_id", "label").collect().flatMap { q =>
      val (qid, lbl) = (q.getLong(0), q.getInt(1))
      VectorOps.bruteForceTopK(emb.filter(col("label") === lbl),
          queries.filter(col("vec_id") === qid), "vec_id", "embedding", k = 3)
        .select("query_id", "neighbor_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    }.toSet
    assert(filtered.nonEmpty)
    assert(filtered === perLabel)
  }

  test("IVF search-time filter: full probe equals exact filtered search; partial probe stays label-pure") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val pred = col("vec_id") < 10
    // nprobe = kClusters ⇒ every cell probed ⇒ candidates are the whole
    // corpus within the filter ⇒ must equal the exact filtered search
    val full = VectorOps.kmeansIvfTopK(emb, "vec_id", "embedding", pred,
        k = 3, kClusters = 4, iters = 2, nprobe = 4, matchCols = Seq("label"))
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = VectorOps.filteredTopK(emb, emb.filter(pred),
        "vec_id", "embedding", Seq("label"), k = 3)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full.nonEmpty)
    assert(full === exact)
    // partial probe: recall may drop but every neighbor still matches
    // the query's label (the filter is inside candidate generation)
    val labels = emb.select("vec_id", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    VectorOps.kmeansIvfTopK(emb, "vec_id", "embedding", pred,
        k = 3, kClusters = 4, iters = 2, nprobe = 1, matchCols = Seq("label"))
      .select("query_id", "neighbor_id")
      .collect().foreach { r =>
        assert(labels(r.getLong(0)) === labels(r.getLong(1))) }
  }

  test("keepSurvivors drops exactly the non-survivor cluster members") {
    import spark.implicits._
    val corpus = (1L to 30L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val kept = graft.operators.Staging.scoped {
      TextDedup.keepSurvivors(corpus, "doc_id",
        TextDedup.connectedComponents(pairs))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    // dropped: 2,3 (cluster 1) and 11 (cluster 10); singletons untouched
    assert(kept === (1L to 30L).toSet -- Set(2L, 3L, 11L))
  }

  test("soft dedup: 1/n weights, md5-exact sample membership, and the report agrees with both operators") {
    import spark.implicits._
    val corpus = (1L to 30L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    graft.operators.Staging.scoped {
      val clusters = graft.operators.Staging.barrier(
        TextDedup.connectedComponents(pairs))
      val w = TextDedup.softDedupWeights(corpus, "doc_id", clusters)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3)))).toMap
      // cluster {1,2,3}: size 3, weight 1e6 div 3; {10,11}: size 2;
      // singletons: own id, size 1, weight 1e6
      assert(w(2L) === ((1L, 3L, 333333L)))
      assert(w(10L) === ((10L, 2L, 500000L)))
      assert(w(7L) === ((7L, 1L, 1000000L)))
      // the sample is exactly the md5-prefix predicate over the weights
      // (driver replay of the same arithmetic — seedless, retry-stable)
      def md5Uint(id: Long): BigInt = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
        BigInt(1, d.take(8))
      }
      val expected = w.collect { case (id, (_, n, _))
        if md5Uint(id) * BigInt(n) < (BigInt(1) << 64) => id }.toSet
      val kept = TextDedup.softDedupSample(corpus, "doc_id", clusters)
        .collect().map(_.getLong(0)).toSet
      assert(kept === expected)
      assert(kept.size < 30) // the weight genuinely bit on this fixture
      // singletons always keep (P = 1)
      assert(((4L to 9L).toSet ++ (12L to 30L)).subsetOf(kept))
      // the report's totals agree with both operators (each doc has
      // 2 whitespace tokens)
      val rep = TextDedup.softDedupReport(corpus, "doc_id", "text",
        clusters).head()
      val nHard = TextDedup.keepSurvivors(corpus, "doc_id", clusters)
        .count()
      assert(rep.getLong(0) === 30L && rep.getLong(1) === 60L)
      assert(rep.getLong(2) === nHard)
      assert(rep.getLong(3) === nHard * 2L)
      assert(rep.getLong(4) === kept.size.toLong)
      assert(rep.getLong(5) === kept.size * 2L)
    }
  }

  test("soft dedup overflow is loud: a cluster_size past the DECIMAL(38,0) domain raises instead of silently dropping, and a hopeless rateDen is rejected at plan time") {
    import spark.implicits._
    val corpus = Seq((1L, "doc one")).toDF("doc_id", "text")
    // rateDen = 1e18 leaves room for cluster_size <= 4
    // (10^38 div (2^64 * 1e18) - 1); size 5 must raise, size 4 must not
    val den = 1000000000000000000L
    val ok = Seq((1L, 1L, 4L)).toDF("doc_id", "cluster_id", "cluster_size")
    TextDedup.softDedupSample(corpus, "doc_id", ok, 1L, den).collect()
    val over = Seq((1L, 1L, 5L)).toDF("doc_id", "cluster_id", "cluster_size")
    val e = intercept[Exception] {
      TextDedup.softDedupSample(corpus, "doc_id", over, 1L, den).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++
        msgs(x.getCause))
    assert(msgs(e).exists(_.contains("overflows the exact DECIMAL(38,0)")))
    // a rateDen so large no cluster_size fits fails loudly at plan time
    val e2 = intercept[IllegalArgumentException] {
      TextDedup.softDedupSample(corpus, "doc_id", ok, 1L, 8000000000000000000L)
    }
    assert(e2.getMessage.contains("headroom"))
  }

  test("exact dedup keeps every distinct text exactly once") {
    val out = TextDedup.exactDedup(docs, "doc_id", "text")
    assert(out.count() === docs.select("text").distinct().count())
    assert(out.agg(sum("dup_count")).head.getLong(0) === docs.count())
  }

  test("hard negatives: nNeg per query, drawn strictly from the (k, m] rank band") {
    val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
    val out = graft.operators.Staging.scoped {
      VectorOps.hardNegatives(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 3, m = 20, nNeg = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3), r.getString(4)))
    }
    val byQuery = out.groupBy(_._1)
    assert(byQuery.size === 5)
    byQuery.foreach { case (q, rows) =>
      val (pos, neg) = rows.partition(_._4 == "pos")
      assert(pos.length === 3 && neg.length === 4, s"query $q")
      assert(pos.forall(_._3 <= 3) && neg.forall(r => r._3 > 3 && r._3 <= 20))
      // pos and neg never overlap on neighbor ids
      assert(pos.map(_._2).toSet.intersect(neg.map(_._2).toSet).isEmpty)
    }
  }

  test("brute-force top-k is self-consistent and k-bounded") {
    val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val topk = VectorOps.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 3)
    val counts = topk.groupBy("query_id").count().collect()
    assert(counts.length === 5)
    assert(counts.forall(_.getLong(1) === 3L))
    // rank 1 must have the max cosine per query
    val r = topk.filter(col("rank") === 1)
      .join(topk.groupBy("query_id").agg(max("cos").as("m")), Seq("query_id"))
      .filter(col("cos") =!= col("m")).count()
    assert(r === 0L)
  }

  test("IVF ANN: neighbors come from the query's assigned cell; k-bounded per query") {
    val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
    val ivf = VectorOps.ivfTopK(emb, "vec_id", "embedding", "label",
      col("vec_id") < 10, k = 5)
    val counts = ivf.groupBy("query_id").count().collect()
    assert(counts.length === 10)
    assert(counts.forall(_.getLong(1) === 5L))
    // every neighbor shares the label cell chosen for the query — and the
    // centroid table has one row per label
    val cent = VectorOps.labelCentroids(emb, "embedding", "label")
    assert(cent.count() === emb.select("label").distinct().count())
    val labels = emb.select(col("vec_id").as("neighbor_id"), col("label"))
    val cells = ivf.join(labels, Seq("neighbor_id"))
      .groupBy("query_id").agg(countDistinct("label").as("cells")).collect()
    assert(cells.forall(_.getLong(1) === 1L))
  }

  test("k-means IVF: deterministic centroids, cell-partitioned corpus, multi-probe recall ≥ single-probe") {
    val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
    val c1 = VectorOps.kmeansCentroids(emb, "vec_id", "embedding", k = 10, iters = 5)
    val c2 = VectorOps.kmeansCentroids(emb, "vec_id", "embedding", k = 10, iters = 5)
    // bit-identical across runs (decimal sums + deterministic seeds)
    assert(c1.map(_._1) === c2.map(_._1))
    assert(c1.zip(c2).forall { case ((_, a), (_, b)) => a.sameElements(b) })
    assert(c1.size <= 10 && c1.nonEmpty)

    val truth = VectorOps.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5).select("query_id", "neighbor_id")
    def recall(nprobe: Int): Double = {
      val ivf = VectorOps.kmeansIvfTopK(emb, "vec_id", "embedding",
        col("vec_id") < 10, k = 5, kClusters = 10, iters = 5, nprobe = nprobe)
        .select("query_id", "neighbor_id")
      truth.join(ivf, Seq("query_id", "neighbor_id"), "left_semi").count().toDouble /
        truth.count()
    }
    val r1 = recall(1); val r2 = recall(2)
    assert(r2 >= r1, s"multi-probe recall $r2 < single-probe $r1")
    assert(r2 > 0.5, s"recall@5 with nprobe=2 unexpectedly low: $r2")
  }

  test("SQ8 ANN: 8-bit candidates + exact re-rank recall nearly all brute-force neighbors") {
    val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
    val truth = VectorOps.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5).select("query_id", "neighbor_id")
    val sq8 = VectorOps.sq8TopK(emb, "vec_id", "embedding",
      col("vec_id") < 10, k = 5, candidates = 20)
    val counts = sq8.groupBy("query_id").count().collect()
    assert(counts.length === 10 && counts.forall(_.getLong(1) === 5L))
    val hits = truth.join(sq8.select("query_id", "neighbor_id"),
      Seq("query_id", "neighbor_id"), "left_semi").count()
    val recall = hits.toDouble / truth.count()
    assert(recall >= 0.8, s"SQ8 recall@5 too low: $recall")
  }

  test("IVF+SQ8 composed index: k-bounded, recall within reach of its IVF ceiling") {
    val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
    val truth = VectorOps.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5).select("query_id", "neighbor_id")
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      truth.join(df.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi").count().toDouble / truth.count()
    val composed = VectorOps.ivfSq8TopK(emb, "vec_id", "embedding",
      col("vec_id") < 10, k = 5, kClusters = 10, iters = 5, nprobe = 2)
    val counts = composed.groupBy("query_id").count().collect()
    assert(counts.length === 10 && counts.forall(_.getLong(1) === 5L))
    val ivfOnly = VectorOps.kmeansIvfTopK(emb, "vec_id", "embedding",
      col("vec_id") < 10, k = 5, kClusters = 10, iters = 5, nprobe = 2)
    // quantization can only lose candidates relative to exact scoring
    // within the same probed cells — but not much
    assert(recallOf(composed) >= recallOf(ivfOnly) - 0.1,
      s"composed ${recallOf(composed)} vs ivf ${recallOf(ivfOnly)}")
    assert(recallOf(composed) > 0.5)
  }

  test("PQ-ADC ANN: dense codebooks, k-bounded output, candidate cut recovers most brute-force neighbors") {
    val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
    val p = VectorOps.prepared(emb, "vec_id", "embedding")
    val books = VectorOps.pqCodebooks(p, m = 8, ksub = 16, iters = 2)
    assert(books.length === 8)
    // codes must be DENSE 0..n-1 per subspace: ADC lookup tables index by
    // code+1, so a hole from a dropped-out Lloyd cluster would misindex
    books.foreach { cs =>
      assert(cs.map(_._1) === cs.indices.toSeq)
      assert(cs.forall(_._2.length === 8)) // 64 / m
    }
    val pq = VectorOps.pqTopK(emb, "vec_id", "embedding",
      col("vec_id") < 10, k = 5, m = 8, ksub = 16, iters = 2,
      candidates = 50)
    val counts = pq.groupBy("query_id").count().collect()
    assert(counts.length === 10 && counts.forall(_.getLong(1) === 5L))
    val truth = VectorOps.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5).select("query_id", "neighbor_id")
    val hits = truth.join(pq.select("query_id", "neighbor_id"),
      Seq("query_id", "neighbor_id"), "left_semi").count()
    // near-uniform synthetic embeddings are PQ's worst case (no cluster
    // structure to quantize); 0.66 measured at these params — gate at 0.5
    val recall = hits.toDouble / truth.count()
    assert(recall >= 0.5, s"PQ recall@5 too low: $recall")
  }

  test("banded near-dup is a lossless subset of the quadratic baseline, with full recall here") {
    val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
    // the gate's banding must actually cover distinct dimension ranges:
    // if the fixture dim ever shrank below bits×bands the bands would
    // silently degenerate — the operator refuses, and this asserts the
    // fixture keeps the gate meaningful
    val dim = VectorOps.prepared(emb, "vec_id", "embedding")
      .select(size(col("v"))).head.getInt(0)
    assert(dim >= 4 * 16, s"fixture dim $dim < bits*bands of the t5 gate")
    intercept[IllegalArgumentException] {
      VectorOps.bucketedNearDupPairs(emb, "vec_id", "embedding", 0.45,
        bits = 8, bands = dim) // bits*bands > dim must refuse at build
    }
    val truth = VectorOps.cosineNearDupPairs(emb, "vec_id", "embedding", 0.45)
    val banded = VectorOps.bucketedNearDupPairs(emb, "vec_id", "embedding", 0.45)
    val nTruth = truth.count(); val nBanded = banded.count()
    assert(nBanded > 0)
    // identical cosine values for every pair found (same fold order both paths)
    assert(banded.except(truth).count() === 0L)
    // planted near-dups are sign-stable across the first 16 dims → full recall
    assert(nBanded === nTruth, s"recall ${nBanded.toDouble / nTruth}")
  }

  test("fused minhash kernel equals the composed k-lambda formulation byte-for-byte") {
    val withSh = TextDedup.shingleSets(docs, "doc_id", "text", 3)
    // include an empty-set doc AND a NULL-array doc: both must yield the
    // k-NULLs signature the composed outer array(...) produces (the
    // shingleSets filter normally removes them, but SQL graft_minhash
    // users can hit either)
    val withEmpty = withSh.unionByName(
      withSh.sparkSession.range(1).select(lit(-1L).as("id"),
        array().cast("array<string>").as("s")))
      .unionByName(withSh.sparkSession.range(1).select(lit(-2L).as("id"),
        lit(null).cast("array<string>").as("s")))
    val both = withEmpty.select(col("id"),
      TextDedup.minhashSignature(col("s"), 16).as("fused"),
      TextDedup.minhashSignatureComposed(col("s"), 16).as("composed"))
    val bad = both.filter(!(col("fused") <=> col("composed"))).count()
    assert(bad === 0L)
    assert(both.count() > 0)
  }

  test("fused gram-md5 kernel equals the composed transform+md5 byte-for-byte") {
    import spark.implicits._
    val fixtures = Seq(
      "the quick brown fox jumps over the lazy dog",
      "café 中文 😀 unicode grams stay exact",
      "a b",          // shorter than gram → empty array
      "",             // no tokens
      "x  y   z w v"  // collapsed whitespace from the tokenizer
    ).toDF("text").select(TextDedup.tokens(col("text")).as("t"))
    val both = fixtures.select(
      graft.functions.GramMd5s(col("t"), 3).as("fused"),
      transform(TextDedup.gramOccurrences(col("t"), 3), g => md5(g))
        .as("composed"))
    assert(both.filter(!(col("fused") <=> col("composed"))).count() === 0L)
    // non-degenerate: at least one row actually produced grams
    assert(both.filter(size(col("fused")) > 0).count() > 0L)
  }

  test("paragraph dedup keeps first occurrences only and reassembles documents") {
    import spark.implicits._
    // chunkTokens=2 → doc 1 owns "a b","c d","e f"; doc 2 repeats two of
    // them around its own "x y"; doc 3 repeats a chunk WITHIN itself
    val fixture = Seq(
      (1L, "a b c d e f"),
      (2L, "a b x y c d"),
      (3L, "p q p q r s")
    ).toDF("doc_id", "text")
    val out = TextDedup.paragraphDedup(fixture, "doc_id", "text", 2)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out === Array(
      (1L, 3L, 3L, "a b c d e f"),
      (2L, 3L, 1L, "x y"),
      (3L, 3L, 2L, "p q r s")))
    // corpus is non-degenerate: the planted exact-dup docs actually lose chunks
    val corpus = TextDedup.paragraphDedup(docs, "doc_id", "text", 8)
    assert(corpus.filter(col("n_kept") < col("n_chunks")).count() > 0L)
  }

  test("span removal cuts all but the first occurrence and reassembles losslessly") {
    import spark.implicits._
    // gram=2: docs 1 and 2 share the maximal run "a b c" (grams "a b",
    // "b c"); doc 1 owns the first occurrence, doc 2 loses tokens 1-3;
    // doc 3 shares nothing and must round-trip byte-identical
    val fixture = Seq(
      (1L, "a b c d e"),
      (2L, "x a b c y"),
      (3L, "p q r")
    ).toDF("doc_id", "text")
    val out = TextDedup.spanDedup(fixture, "doc_id", "text", gram = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out === Array(
      (1L, 5L, 5L, "a b c d e"),
      (2L, 5L, 2L, "x y"),
      (3L, 3L, 3L, "p q r")))
    // t48's lossless-reassembly law at span granularity, corpus-wide:
    // any doc that loses nothing rebuilds EXACTLY its normalized text,
    // and kept counts never exceed totals
    val corpus = TextDedup.spanDedup(docs, "doc_id", "text", gram = 5)
    val norm = docs.select(col("doc_id"),
      concat_ws(" ", TextDedup.tokens(col("text"))).as("norm"))
    assert(corpus.join(norm, Seq("doc_id"))
      .filter(col("n_kept") === col("n_tokens") &&
        col("clean_text") =!= col("norm")).count() === 0L)
    assert(corpus.filter(col("n_kept") > col("n_tokens")).count() === 0L)
    // non-degenerate on the corpus: some doc actually loses a span
    assert(corpus.filter(col("n_kept") < col("n_tokens")).count() > 0L)
  }

  test("fuzzy paragraph dedup removes NEAR-duplicate chunks, not just exact ones") {
    import spark.implicits._
    // chunkTokens=8: doc 2's first chunk differs from doc 1's in its
    // LAST token only — 5 of 7 distinct 3-gram shingles shared
    // (jaccard ≈ 0.714 ≥ 0.5), text NOT equal, so t48's exact rule
    // keeps it and only the fuzzy rule can remove it
    val fixture = Seq(
      (1L, "a b c d e f g h p q r s t u v w"),
      (2L, "a b c d e f g z m n o m n o m n")
    ).toDF("doc_id", "text")
    // bandSize=1 × 16 bands: any agreeing signature element makes the
    // pair a candidate — recall misses need all 16 minhashes to differ
    // ((2/7)^16, and deterministic for this fixed fixture: verified hit)
    val out = TextDedup.fuzzyParagraphDedup(fixture, "doc_id", "text",
        chunkTokens = 8, n = 3, k = 16, bandSize = 1, numBands = 16,
        threshold = 0.5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out === Array(
      (1L, 2L, 2L, "a b c d e f g h p q r s t u v w"),
      (2L, 2L, 1L, "m n o m n o m n")))
    // exact rule would NOT have removed it
    val exact = TextDedup.paragraphDedup(fixture, "doc_id", "text", 8)
      .orderBy("doc_id").collect()
    assert(exact.forall(r => r.getLong(1) === r.getLong(2)))
  }

  test("reassembly-buffer contract: docs at the token bound pass, over it fail loudly") {
    import spark.implicits._
    val atBound = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val overBound = Seq((2L, "a b c d e")).toDF("doc_id", "text")
    // at the bound: both rewriting operators run normally
    assert(TextDedup.paragraphDedup(atBound, "doc_id", "text", 2,
      maxDocTokens = 4).count() === 1L)
    assert(TextDedup.spanDedup(atBound, "doc_id", "text", 2,
      maxDocTokens = 4).count() === 1L)
    // over the bound: loud per-row failure naming the contract, not an
    // opaque aggregation OOM
    for (run <- Seq(
        () => TextDedup.paragraphDedup(overBound, "doc_id", "text", 2,
          maxDocTokens = 4).collect(),
        () => TextDedup.spanDedup(overBound, "doc_id", "text", 2,
          maxDocTokens = 4).collect())) {
      val e = intercept[Exception](run())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("maxDocTokens")), e.toString)
    }
  }

  test("fused tokenizer equals the composed trim+lower+split+filter byte-for-byte") {
    import spark.implicits._
    // corpus rows + adversarial edges: multi-byte case mappings (İ→i̇,
    // ẞ→ß, Σ final-sigma), every ASCII \s class byte, unicode NBSP
    // (U+00A0 is NOT Java \s — must stay inside a token), empties,
    // pure-whitespace, leading/trailing runs, and NULL
    val fixtures = Seq(
      "  Leading and TRAILING   ",
      "tabs\tand\nnewlinesvtab\ffeed\rcr mixed",
      "İstanbul STRASSE ẞharp ΣΙΣΥΦΟΣ ΟΔΟΣ café 中文 😀",
      "nbsp stays joined",
      "",
      " \t\r\n ",
      "x"
    ).toDF("text")
      .unionByName(Seq(1).toDF("one").select(lit(null).cast("string").as("text")))
      .unionByName(docs.limit(200).select(col("text")))
    val both = fixtures.select(
      TextDedup.tokens(col("text")).as("fused"),
      TextDedup.tokensComposed(col("text")).as("composed"))
    assert(both.filter(!(col("fused") <=> col("composed"))).count() === 0L)
    assert(both.filter(size(col("fused")) > 1).count() > 0L)
  }

  test("fused shingle kernels equal the composed shingle pipeline byte-for-byte") {
    import spark.implicits._
    // corpus rows + adversarial edges: unicode multi-byte tokens,
    // duplicate grams (distinct order must be first-occurrence), fewer
    // tokens than n, empty text, collapsed whitespace, a NULL token
    // element (concat_ws skips it and its separator), a NULL array
    val corpusToks = docs.limit(200)
      .select(TextDedup.tokens(col("text")).as("t"))
    val edgeToks = Seq(
      Seq("a", "b", "a", "b", "a", "b"),          // duplicate grams
      Seq("café", "中文", "😀", "x", "café", "中文", "😀"),
      Seq("only", "two"),
      Seq.empty[String],
      Seq("x", "", "y", "", "x", "", "y")         // empty tokens
    ).toDF("t")
      .unionByName(Seq(1).toDF("one")
        .select(array(lit("a"), lit(null), lit("b"), lit("c")).as("t")))
      .unionByName(Seq(1).toDF("one")
        .select(lit(null).cast("array<string>").as("t")))
    val toks = corpusToks.unionByName(edgeToks)
    val sl = graft.functions.ShingleLshBands(col("t"), 3, 16, 4, 4)
    val both = toks.select(
      graft.functions.ShingleIds(col("t"), 3).as("fused_ids"),
      transform(TextDedup.shingles(col("t"), 3), x => xxhash64(x))
        .as("composed_ids"),
      sl.getField("s").as("lsh_ids"),
      sl.getField("bands").as("fused_bands"),
      TextDedup.bandHashes(
        TextDedup.minhashSignatureComposed(TextDedup.shingles(col("t"), 3), 16),
        4, 4).as("composed_bands"))
    assert(both.filter(!(col("fused_ids") <=> col("composed_ids"))).count() === 0L)
    assert(both.filter(!(col("lsh_ids") <=> col("composed_ids"))).count() === 0L)
    assert(both.filter(!(col("fused_bands") <=> col("composed_bands"))).count() === 0L)
    // non-degenerate: grams actually produced, and dup grams actually dedup'd
    assert(both.filter(size(col("fused_ids")) > 0).count() > 0L)
    val dup = Seq(Seq("a", "b", "a", "b", "a", "b")).toDF("t")
      .select(graft.functions.ShingleIds(col("t"), 3).as("ids")).head().getSeq[Long](0)
    assert(dup.length === 2 && dup.distinct.length === 2) // "a b a","b a b"
  }

  test("persisted ANN index: load-and-probe equals build-and-probe; bucketed cell reads are exchange-free") {
    import graft.operators.Staging
    val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
    val table = "graft_ann_idx_spec"
    try {
      Staging.scoped {
        VectorOps.writeIndex(emb, "vec_id", "embedding", table,
          kClusters = 10, iters = 5, numBuckets = 4)
      }
      val idx = VectorOps.loadIndex(spark, table)
      val loaded = Staging.scoped {
        VectorOps.ivfSq8TopKFromIndex(idx, col("id") < 10, k = 5,
          nprobe = 2, candidates = 20).collect().toSet
      }
      val built = Staging.scoped {
        VectorOps.ivfSq8TopK(emb, "vec_id", "embedding",
          col("vec_id") < 10, k = 5, kClusters = 10, iters = 5,
          nprobe = 2, candidates = 20).collect().toSet
      }
      assert(loaded.nonEmpty)
      assert(loaded === built) // bit-exact: parquet round-trip + shared probe
      // the write-time bucketing shuffle was the LAST one: a per-cell
      // aggregation over the loaded index plans with NO Exchange
      val agg = idx.coded.groupBy("cell").count()
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed index read should not shuffle:\n$plan")
      assert(agg.count() > 0)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_centroids")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_stats")
    }
  }

  test("semDedup keep flags satisfy the min-id survivor rule within cells") {
    val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
    val sd = VectorOps.semDedup(emb, "vec_id", "embedding",
      kClusters = 10, iters = 5, threshold = 0.40).cache()
    assert(sd.count() === emb.count()) // total function: one row per vector
    // independently recompute the defining property from the quadratic
    // baseline restricted to same-cell pairs: dropped ⇔ ∃ lower-id
    // cell-mate with cos ≥ θ
    val cells = sd.select(col("id"), col("cell"))
    val pairs = VectorOps.cosineNearDupPairs(emb, "vec_id", "embedding", 0.40)
      .join(cells.select(col("id").as("id_a"), col("cell").as("ca")), Seq("id_a"))
      .join(cells.select(col("id").as("id_b"), col("cell").as("cb")), Seq("id_b"))
      .filter(col("ca") === col("cb"))
    val expectDropped = pairs.select(col("id_b").as("id")).distinct()
    val gotDropped = sd.filter(!col("keep")).select("id")
    assert(gotDropped.except(expectDropped).count() === 0L)
    assert(expectDropped.except(gotDropped).count() === 0L)
    assert(gotDropped.count() > 0, "fixture should contain semantic dups")
    sd.unpersist()
  }

  test("semDedupAuto derives the cost-minimizing k and equals the explicit-k run") {
    val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
    val n = emb.count()
    val k = VectorOps.semDedupAutoK(n, iters = 3)
    // k minimizes (iters+1)·N·k + N²/(2k): the closed form √(N/(2(i+1)))
    assert(k === math.max(2,
      math.ceil(math.sqrt(n.toDouble / (2.0 * 4))).toInt))
    val auto = VectorOps.semDedupAuto(emb, "vec_id", "embedding",
      threshold = 0.40, iters = 3)
    val explicit = VectorOps.semDedup(emb, "vec_id", "embedding",
      kClusters = k, iters = 3, threshold = 0.40)
    assert(auto.orderBy("id").collect() === explicit.orderBy("id").collect())
    // clamp arithmetic: floor 2 and the broadcast-expression cap
    assert(VectorOps.semDedupAutoK(1, iters = 3) === 2)
    assert(VectorOps.semDedupAutoK(Long.MaxValue, iters = 3)
      === VectorOps.SemDedupMaxClusters)
  }

  test("bucketed ANN recalls the planted cosine near-dup pairs partially") {
    val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
    val ann = VectorOps.bucketedTopK(emb, "vec_id", "embedding",
      col("vec_id") < 100, k = 5, bits = 4)
    assert(ann.count() > 0)
    // every reported neighbor shares the 4-bit sign bucket by construction
    val p = VectorOps.prepared(emb, "vec_id", "embedding")
      .withColumn("bkt", VectorOps.signBucket(col("v"), 4))
      .select(col("id"), col("bkt"))
    val bad = ann
      .join(p.select(col("id").as("query_id"), col("bkt").as("qb")), Seq("query_id"))
      .join(p.select(col("id").as("neighbor_id"), col("bkt").as("nb")), Seq("neighbor_id"))
      .filter(col("qb") =!= col("nb")).count()
    assert(bad === 0L)
  }

  test("leakageSafeSplit: near-dup clusters never straddle splits; every doc assigned") {
    import spark.implicits._
    val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
    val pairs = TextDedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, k = 16, bandSize = 4, numBands = 4, threshold = 0.5)
      .select("id_a", "id_b").cache()
    try {
      val split = TextDedup.leakageSafeSplit(docs, "doc_id",
        TextDedup.connectedComponents(pairs), trainPct = 80, valPct = 10)
      val rows = split.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2)))
      assert(rows.length === docs.count())
      // the leakage guarantee itself: one split per cluster…
      val byCluster = rows.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
      assert(byCluster.values.forall(_.size == 1))
      // …and therefore per LSH near-dup pair
      val splitOf = rows.map(r => r._1 -> r._3).toMap
      pairs.collect().foreach { p =>
        assert(splitOf(p.getLong(0)) === splitOf(p.getLong(1)),
          s"pair ${p.getLong(0)}/${p.getLong(1)} straddles splits")
      }
      // proportions in the hash-split ballpark (cluster granularity)
      val frac = rows.count(_._3 == "train").toDouble / rows.length
      assert(frac > 0.7 && frac < 0.9, s"train fraction $frac")
      assert(Set("train", "val", "test").subsetOf(rows.map(_._3).toSet))
    } finally pairs.unpersist()
  }

  test("dupGramFractions: cross-doc duplicate share; short docs emit no row") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y z"),   // 2-grams {x y, y z}
      (2L, "x y q"),   // 2-grams {x y, y q} — shares "x y" with doc 1
      (3L, "p q"),     // 2-gram  {p q} — unique
      (4L, "solo")     // shorter than n: no grams, no row
    ).toDF("doc_id", "text")
    val r = TextDedup.dupGramFractions(docs, "doc_id", "text", n = 2)
      .orderBy("id")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r === Array(
      (1L, 2L, 1L, 500000L),
      (2L, 2L, 1L, 500000L),
      (3L, 1L, 0L, 0L)))
  }

  test("persisted minhash index: self-probe equals the in-query LSH pairs") {
    val table = "graft_minhash_index_spec"
    TextDedup.writeMinhashIndex(docs, "doc_id", "text", n = 3, k = 16,
      bandSize = 4, numBands = 4, threshold = 0.5, table = table)
    val probed = TextDedup
      .probeMinhashIndex(spark, table, docs, "doc_id", "text")
      .filter(col("q_id") < col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inQuery = TextDedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, k = 16, bandSize = 4, numBands = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inQuery.nonEmpty)
    assert(probed === inQuery)
  }

  test("persisted minhash index: subset probe is the symmetric slice plus self-matches") {
    val table = "graft_minhash_index_spec2"
    TextDedup.writeMinhashIndex(docs, "doc_id", "text", n = 3, k = 16,
      bandSize = 4, numBands = 4, threshold = 0.5, table = table)
    val sub = docs.filter(col("doc_id") % 7 === 0)
    val probed = TextDedup
      .probeMinhashIndex(spark, table, sub, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairs = TextDedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, k = 16, bandSize = 4, numBands = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val subIds = sub.collect().map(_.getLong(0)).toSet
    // indexed docs with >= n tokens self-match at jaccard 1.0
    val indexed = TextDedup.shingleSets(docs, "doc_id", "text", n = 3)
      .collect().map(_.getLong(0)).toSet
    val expected =
      subIds.intersect(indexed).map(q => (q, q)) ++
      pairs.collect { case (a, b) if subIds.contains(a) => (a, b) } ++
      pairs.collect { case (a, b) if subIds.contains(b) => (b, a) }
    assert(probed === expected)
  }

  test("random projection: deterministic sign matrix, composed-fold equality, map-only shape") {
    val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
    val signs = VectorOps.projectionSigns(64, 16)
    assert(signs.length === 16 && signs.forall(_.length === 64))
    assert(signs.flatten.forall(s => s == 1.0 || s == -1.0))
    assert(signs.flatten.count(_ == 1.0) > 200) // both signs well-represented
    assert(signs.flatten.count(_ == -1.0) > 200)
    val native = VectorOps.randomProjection(emb, "vec_id", "embedding", 64, 16)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    // composed aggregate∘zip_with fold must agree bit-for-bit
    val composed = emb.select(col("vec_id").as("id"),
        VectorOps.asDouble(col("embedding")).as("v"))
      .select(col("id"), array((0 until 16).map(j =>
        VectorOps.dotComposed(col("v"), typedLit(signs(j).toSeq))): _*).as("proj"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    assert(native.nonEmpty)
    assert(native === composed)
  }

  test("minhash probe: the index scan stays bucketed (no exchange over the persisted table)") {
    val table = "graft_minhash_bucket_spec"
    TextDedup.writeMinhashIndex(docs, "doc_id", "text", n = 3, k = 16,
      bandSize = 4, numBands = 4, threshold = 0.5, table = table)
    // force the sort-merge path that would otherwise broadcast away
    // the evidence (the t82 plan-pin methodology)
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thresholdKey)
    spark.conf.set(thresholdKey, "-1")
    try {
      val plan = TextDedup
        .probeMinhashIndex(spark, table, docs, "doc_id", "text")
        .queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"index scan should be bucket-aware:\n${plan.take(4000)}")
    } finally spark.conf.set(thresholdKey, prev)
  }

  test("minhash index lifecycle: committed append replay is a no-op; compact restores the fresh-build state") {
    val table = "graft_minhash_lc_spec"
    val base = docs.filter(col("doc_id") % 3 =!= 0)
    val add = docs.filter(col("doc_id") % 3 === 0)
    TextDedup.writeMinhashIndex(base, "doc_id", "text", n = 3, k = 16,
      bandSize = 4, numBands = 4, threshold = 0.5, table = table)
    assert(TextDedup.appendToMinhashIndexCommitted(add, "doc_id", "text",
      table, batchId = 1L))
    // replaying the same batch id must refuse (idempotent per-batch)
    assert(!TextDedup.appendToMinhashIndexCommitted(add, "doc_id", "text",
      table, batchId = 1L))
    def probeAll = TextDedup
      .probeMinhashIndex(spark, table, docs, "doc_id", "text")
      .filter(col("q_id") < col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val beforeCompact = probeAll
    // no duplicated rows from the replayed batch: equal the one-shot build
    val oneShot = TextDedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, k = 16, bandSize = 4, numBands = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(beforeCompact === oneShot)
    graft.operators.IndexStore.delete(docs.filter(col("doc_id") % 5 === 2),
      "doc_id", table)
    graft.operators.IndexStore.compact(spark, table)
    // compact folded the batch and cleared log + tombstones
    assert(graft.operators.CommitLog.committedBatches(spark, table).isEmpty)
    assert(!spark.catalog.tableExists(
      graft.operators.Ddl.tombstoneTable(table)))
    // a deleted doc is gone from the INDEX side but remains a legal
    // probe — restrict the probe to survivors to compare against a
    // from-scratch survivor build (the t88/t89 gate shape)
    val afterCompact = TextDedup
      .probeMinhashIndex(spark, table,
        docs.filter(col("doc_id") % 5 =!= 2), "doc_id", "text")
      .filter(col("q_id") < col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val survivors = TextDedup.minhashLshPairs(
        docs.filter(col("doc_id") % 5 =!= 2), "doc_id", "text",
        n = 3, k = 16, bandSize = 4, numBands = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(afterCompact === survivors)
    // and a deleted doc probing the compacted index matches only survivors
    val delProbe = TextDedup.probeMinhashIndex(spark, table,
        docs.filter(col("doc_id") % 5 === 2), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(delProbe.forall { case (_, id) => id % 5 != 2 })
  }

  test("streaming minhash probe: waves against the persisted index equal the one-shot probe") {
    import spark.implicits._
    import java.nio.file.Files
    val table = "graft_minhash_stream_spec"
    TextDedup.writeMinhashIndex(docs, "doc_id", "text", n = 3, k = 16,
      bandSize = 4, numBands = 4, threshold = 0.5, table = table)
    // probes: actual corpus docs (guaranteed index matches) + noise
    val probeRows = docs.filter(col("doc_id") % 9 === 1)
      .select(col("doc_id") + 100000L, col("text")).as[(Long, String)]
      .collect().toSeq :+ ((999999L, "zz qq xx yy ww vv uu"))
    val dir = new java.io.File(tmp("mh-stream"))
    probeRows.grouped((probeRows.size + 1) / 2).zipWithIndex.foreach {
      case (rows, i) =>
        val staging = tmp(s"mh-wave$i")
        rows.toDF("doc_id", "text").coalesce(1)
          .write.mode("overwrite").parquet(staging)
        val part = new java.io.File(staging).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(dir, s"wave$i.parquet").toPath
        Files.copy(part.toPath, dst)
        dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val got = scala.collection.mutable.Set.empty[(Long, Long)]
    val q = graft.streaming.StreamingIngest.streamingMinhashProbe(
        stream, "doc_id", "text", table) { df =>
      got ++= df.collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    q.processAllAvailable(); q.stop()
    val oneShot = TextDedup.probeMinhashIndex(spark, table,
        probeRows.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(oneShot.nonEmpty)
    assert(got.toSet === oneShot)
  }

  test("incremental near-dup ingest: cross-batch dups dropped, within-batch deduped, replay appends nothing") {
    import spark.implicits._
    val table = "graft_minhash_ingest_spec"
    val seed = docs.filter(col("doc_id") % 4 === 0)
    TextDedup.writeMinhashIndex(seed, "doc_id", "text", n = 3, k = 16,
      bandSize = 4, numBands = 4, threshold = 0.5, table = table)
    val seedTexts = seed.filter(col("doc_id") % 8 === 0)
      .select((col("doc_id") + 300000L).as("doc_id"), col("text"))
    val fresh1 = docs.filter(col("doc_id") % 4 === 1)
      .select("doc_id", "text")
    // wave 1: fresh docs + copies of seed texts (cross-batch dups)
    val wave1 = fresh1.unionByName(seedTexts)
    val r1 = TextDedup.minhashDedupIngestStep(wave1, "doc_id", "text",
      table, batchId = 1L)
    assert(r1.committed) // first life of batch 1 really appended
    val dup1 = r1.matches.select("q_id").as[Long].collect().toSet
    // every planted copy is flagged (jaccard 1.0 vs its seed source)
    val planted1 = seedTexts.select("doc_id").as[Long].collect().toSet
    assert(planted1.subsetOf(dup1))
    val docsAfter1 = TextDedup.loadMinhashIndex(spark, table)
      .docs.select("id").as[Long].collect().toSet
    // no flagged doc was appended
    assert(dup1.intersect(docsAfter1).isEmpty)
    // wave 2: copies of wave-1 FRESH texts (dups vs the grown index) +
    // a within-batch dup pair (two copies of one unindexed text)
    val wave1Copies = fresh1.filter(col("doc_id") % 8 === 1)
      .select((col("doc_id") + 400000L).as("doc_id"), col("text"))
    // synthetic texts that cannot near-dup the corpus; 500001 is a
    // verbatim twin of 500000 (within-batch dup, min id survives)
    val novel = Seq(
      (500000L, "zq wv xk pj mn bd fg hs lt rc"),
      (500001L, "zq wv xk pj mn bd fg hs lt rc"),
      (500002L, "aa bb cc dd ee ff gg hh ii jj kk")).toDF("doc_id", "text")
    val wave2 = wave1Copies.unionByName(novel)
    val r2 = TextDedup.minhashDedupIngestStep(wave2, "doc_id", "text",
      table, batchId = 2L)
    assert(r2.committed)
    val dup2 = r2.matches.select("q_id").as[Long].collect().toSet
    val planted2 = wave1Copies.select("doc_id").as[Long].collect().toSet
    assert(planted2.subsetOf(dup2)) // wave-1 appends are probe-visible
    val docsAfter2 = TextDedup.loadMinhashIndex(spark, table)
      .docs.select("id").as[Long].collect().toSet
    // within-batch dup: only the min id of the twin pair was appended
    assert(docsAfter2.contains(500000L))
    assert(!docsAfter2.contains(500001L))
    assert(docsAfter2.contains(500002L))
    // replaying batch 2 appends nothing (CommitLog refusal) — and the
    // refusal is now VISIBLE to the caller (round-13 advisor)
    val replay = TextDedup.minhashDedupIngestStep(wave2, "doc_id", "text",
      table, batchId = 2L)
    assert(!replay.committed)
    replay.matches.collect()
    val docsReplay = TextDedup.loadMinhashIndex(spark, table)
      .docs.select("id").as[Long].collect().toSet
    assert(docsReplay === docsAfter2)
  }

  test("streaming near-dup ingest equals the batch-step fold, wave for wave") {
    import spark.implicits._
    import java.nio.file.Files
    val tableS = "graft_minhash_ingest_stream"
    val tableB = "graft_minhash_ingest_batch"
    val seed = docs.filter(col("doc_id") % 4 === 0)
    for (t <- Seq(tableS, tableB))
      TextDedup.writeMinhashIndex(seed, "doc_id", "text", n = 3, k = 16,
        bandSize = 4, numBands = 4, threshold = 0.5, table = t)
    val waves = Seq(
      docs.filter(col("doc_id") % 4 === 1).limit(30)
        .select("doc_id", "text"),
      docs.filter(col("doc_id") % 8 === 0).limit(10)
        .select((col("doc_id") + 600000L).as("doc_id"), col("text")))
    val dir = new java.io.File(tmp("mh-ingest-stream"))
    waves.zipWithIndex.foreach { case (w, i) =>
      val staging = tmp(s"mh-ingest-wave$i")
      w.coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir, s"wave$i.parquet").toPath
      Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val gotDups = scala.collection.mutable.Set.empty[(Long, Long)]
    val q = graft.streaming.StreamingIngest.streamingMinhashDedupIngest(
        stream, "doc_id", "text", tableS) { res =>
      assert(res.committed) // fresh checkpoint: every append must land
      gotDups ++= res.matches.collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    q.processAllAvailable(); q.stop()
    val batchDups = scala.collection.mutable.Set.empty[(Long, Long)]
    waves.zipWithIndex.foreach { case (w, i) =>
      batchDups ++= TextDedup.minhashDedupIngestStep(w, "doc_id", "text",
        tableB, batchId = i.toLong)
        .matches.collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    assert(gotDups.toSet === batchDups.toSet)
    assert(gotDups.nonEmpty) // wave-2 copies really flagged
    def indexDocs(t: String) = TextDedup.loadMinhashIndex(spark, t)
      .docs.select("id").as[Long].collect().toSet
    assert(indexDocs(tableS) === indexDocs(tableB))
  }

  test("streaming near-dup ingest across a restart: batch ids continue, second-life appends land") {
    import spark.implicits._
    import java.nio.file.Files
    val table = "graft_minhash_ingest_restart"
    val seed = docs.filter(col("doc_id") % 4 === 0)
    TextDedup.writeMinhashIndex(seed, "doc_id", "text", n = 3, k = 16,
      bandSize = 4, numBands = 4, threshold = 0.5, table = table)
    val dir = new java.io.File(tmp("mh-restart-src"))
    val ckpt = tmp("mh-restart-ckpt")
    def writeWave(w: org.apache.spark.sql.DataFrame, i: Int): Unit = {
      val staging = tmp(s"mh-restart-wave$i")
      w.coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir, s"wave$i.parquet").toPath
      Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      // checkpointed foreachBatch: the second life resumes the batch-id
      // sequence from the checkpoint — if ids RESET, the CommitLog
      // would refuse the second life's appends as replays
      val q = stream.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          graft.operators.Staging.scoped {
            TextDedup.minhashDedupIngestStep(batch, "doc_id", "text",
              table, bid).matches.collect()
          }
          ()
        }.start()
      q.processAllAvailable(); q.stop()
    }
    // materialize ONCE: limit() without orderBy is not stable across
    // evaluations, and w0Head below must come from the WRITTEN wave
    val wave0 = docs.filter(col("doc_id") % 4 === 1).limit(20)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
      .toDF("doc_id", "text")
    writeWave(wave0, 0)
    runOnce()
    val afterLife1 = TextDedup.loadMinhashIndex(spark, table)
      .docs.select("id").as[Long].collect().toSet
    // life 2: a dup of a wave-0 doc (+700000) and a synthetic fresh doc
    val w0Head = wave0.orderBy("doc_id").limit(1)
    val wave1 = w0Head
      .select((col("doc_id") + 700000L).as("doc_id"), col("text"))
      .unionByName(Seq((800000L, "qx wz lv kp jm nh bt fd rs cg"))
        .toDF("doc_id", "text"))
    writeWave(wave1, 1)
    runOnce()
    val afterLife2 = TextDedup.loadMinhashIndex(spark, table)
      .docs.select("id").as[Long].collect().toSet
    val w0HeadId = w0Head.select("doc_id").as[Long].collect().head
    assert(afterLife2.contains(800000L), "second-life append must land")
    assert(!afterLife2.contains(w0HeadId + 700000L), "dup still dropped")
    assert(afterLife1.subsetOf(afterLife2))
  }

  test("RP candidate filter + exact re-rank recovers most true neighbors (JL sanity)") {
    val recalls = Queries.t85_rp_rerank_recall.run(spark, sf("sf0.01"))
      .collect().map(_.getDouble(1))
    assert(recalls.length === 10)
    // top-250-of-5000 projected candidates + exact re-rank: containment
    // becomes recall (measured 0.88 mean on this corpus); raw projected
    // top-5 is ~0.04 — the re-rank is the load-bearing stage
    assert(recalls.sum / recalls.length > 0.7)
  }
}
