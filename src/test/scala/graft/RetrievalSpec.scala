package graft

import org.apache.spark.sql.functions._

import graft.operators.{IndexStore, Retrieval}

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  test("rrfFuse: hand-checked scores, both-list consensus outranks single-list presence") {
    val kw = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "rank")
    val vec = Seq((20L, 1), (40L, 2), (10L, 3)).toDF("id", "rank")
    val fused = Retrieval.rrfFuse(Seq(kw, vec), k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    def nano(ranks: Seq[Int]): Long =
      roundHalf(1e9 * ranks.map(r => 1.0 / (60.0 + r)).sum)
    // doc 20: ranks (2,1); doc 10: ranks (1,3); doc 30: kw-only 3; doc 40: vec-only 2
    assert(fused.toSeq === Seq(
      (20L, nano(Seq(2, 1)), 1),
      (10L, nano(Seq(1, 3)), 2),
      (40L, nano(Seq(2)), 3),
      (30L, nano(Seq(3)), 4)))
    // consensus property: 20 (in both, best ranks) leads everything
    assert(fused.head._1 === 20L)
  }

  test("rrfFuse ties break on id; k bounds the output") {
    val a = Seq((5L, 1), (3L, 2)).toDF("id", "rank")
    val b = Seq((3L, 1), (5L, 2)).toDF("id", "rank")
    // symmetric ranks → equal scores → id ascending
    val fused = Retrieval.rrfFuse(Seq(a, b), k = 1).collect()
    assert(fused.length === 1)
    assert(fused.head.getLong(0) === 3L)
  }

  test("hybridTopK: k-bounded, probe excluded, every hit from one of the two lists") {
    val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
    val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
    val terms = Seq("spark", "query", "stream", "filter")
    val out = Retrieval.hybridTopK(docs, emb, "doc_id", "text", "vec_id",
      "embedding", terms, queryVecId = 0L, n = 50, k = 15).collect()
    assert(out.length === 15)
    assert(out.map(_.getInt(2)).toSeq === (1 to 15))
    assert(!out.exists(_.getLong(0) === 0L), "probe doc must be excluded")
    // provenance: each fused hit is in the kw top-50 or the vector top-50
    val kwIds = operators.TextAnalysis
      .bm25TopK(docs.filter(col("doc_id") =!= 0L), "doc_id", "text", terms, 50)
      .select("id").as[Long].collect().toSet
    val vecIds = operators.VectorOps
      .bruteForceTopK(emb, emb.filter(col("vec_id") === 0L), "vec_id",
        "embedding", 50)
      .select("neighbor_id").as[Long].collect().toSet
    assert(out.forall(r => kwIds(r.getLong(0)) || vecIds(r.getLong(0))))
    // the fusion is genuinely hybrid on this fixture: at least one hit
    // from each side that the other side did not surface
    assert(out.exists(r => kwIds(r.getLong(0)) && !vecIds(r.getLong(0))))
    assert(out.exists(r => vecIds(r.getLong(0)) && !kwIds(r.getLong(0))))
  }

  /** Parquet leaf files of a cataloged table: name → mtime. */
  private def tableFiles(table: String): Map[String, Long] = {
    val uri = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).location
    new java.io.File(uri).listFiles
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified).toMap
  }

  test("BM25 append: existing postings untouched, probe equals a full rebuild") {
    val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
    val table = "graft_bm25_append_spec"
    Retrieval.writeBm25Index(docs.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", table)
    val before = tableFiles(table)
    val docsBefore = tableFiles(s"${table}_docs")
    assert(Retrieval.appendToBm25IndexCommitted(
      docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", table, 0L))
    // no rewrite: every base file survives byte-identical (same name,
    // same mtime); the batch lives in the commit log
    assert(tableFiles(table) === before)
    assert(tableFiles(s"${table}_docs") === docsBefore)
    // probe-equivalence on terms the t54 gate never sees: the appended
    // index must answer ANY query exactly as the independent in-query
    // scorer does over the full corpus
    for (terms <- Seq(Seq("data", "model"), Seq("join", "window", "the"))) {
      val probe = Retrieval
        .bm25TopKFromIndex(Retrieval.loadBm25Index(spark, table), terms, k = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val inQuery = operators.TextAnalysis
        .bm25TopK(docs, "doc_id", "text", terms, k = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(probe === inQuery, s"terms=$terms")
    }
  }

  test("BM25 committed append: atomic replay no-op; as-of probe equals a prefix rebuild with prefix stats") {
    val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
    val table = "graft_bm25_asof_spec"
    Retrieval.writeBm25Index(docs.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", table)
    val b0 = docs.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0)
    val b1 = docs.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 1)
    assert(Retrieval.appendToBm25IndexCommitted(b0, "doc_id", "text", table, 0L))
    assert(Retrieval.appendToBm25IndexCommitted(b1, "doc_id", "text", table, 1L))
    // replaying a committed batch id runs nothing and changes nothing
    assert(!Retrieval.appendToBm25IndexCommitted(b1, "doc_id", "text", table, 1L))
    // base tables untouched by committed appends: the base-only snapshot
    // (as of before batch 0) still answers exactly for the BUILD corpus
    val baseProbe = Retrieval.bm25TopKFromIndex(
      Retrieval.loadBm25Index(spark, table, asOf = Some(-1L)),
      Seq("data", "model"), k = 15).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val baseOracle = operators.TextAnalysis.bm25TopK(
      docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text",
      Seq("data", "model"), k = 15).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(baseProbe === baseOracle)
    // as-of batch 0: scores AND stats must be the prefix corpus's —
    // compare against the independent in-query scorer on base ∪ b0
    val prefix = docs.filter(col("doc_id") % 3 =!= 0 ||
      col("doc_id") % 2 === 0)
    for (terms <- Seq(Seq("data", "model"), Seq("join", "window", "the"))) {
      val asOf = Retrieval.bm25TopKFromIndex(
        Retrieval.loadBm25Index(spark, table, asOf = Some(0L)), terms, k = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val rebuilt = operators.TextAnalysis.bm25TopK(prefix, "doc_id",
        "text", terms, k = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(asOf === rebuilt, s"asOf(0) terms=$terms")
      // and the LIVE load sees every batch = the full-corpus scorer
      val live = Retrieval.bm25TopKFromIndex(
        Retrieval.loadBm25Index(spark, table), terms, k = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val full = operators.TextAnalysis.bm25TopK(docs, "doc_id", "text",
        terms, k = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(live === full, s"live terms=$terms")
    }
    // a fresh build clears the commit log: rebuilding leaves no batches
    Retrieval.writeBm25Index(docs.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", table)
    assert(operators.CommitLog.committedBatches(spark, table).isEmpty)
  }

  test("BM25 load with an EMPTY visible snapshot returns an empty index, not an NPE") {
    // advisor pin: avg(dl) over zero documents is NULL — the loader
    // must default avgdl and answer probes with zero rows
    val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
      .filter(col("doc_id") < 20)
    val table = "graft_bm25_empty_spec"
    Retrieval.writeBm25Index(docs, "doc_id", "text", table)
    IndexStore.delete(docs, "doc_id", table)
    val idx = Retrieval.loadBm25Index(spark, table)
    assert(idx.nDocs === 0L)
    assert(idx.avgdl === 0.0)
    assert(Retrieval.bm25TopKFromIndex(idx, Seq("data", "model"), k = 5)
      .count() === 0L)
  }

  test("ANN append: existing cell buckets untouched, frozen metadata unchanged") {
    import graft.operators.VectorOps
    val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
    val table = "graft_ann_append_spec"
    VectorOps.writeIndex(emb.filter(col("vec_id") % 3 =!= 0), "vec_id",
      "embedding", table, kClusters = 8, iters = 2, numBuckets = 8)
    val idxBefore = VectorOps.loadIndex(spark, table)
    val before = tableFiles(table)
    assert(VectorOps.appendToIndexCommitted(emb.filter(col("vec_id") % 3 === 0),
      "vec_id", "embedding", table, 0L))
    assert(tableFiles(table) === before)
    val idxAfter = VectorOps.loadIndex(spark, table)
    // quantizers are FROZEN: centroids and SQ8 stats byte-identical
    assert(idxAfter.cent.map(_._1) === idxBefore.cent.map(_._1))
    assert(idxAfter.cent.map(_._2.toSeq) === idxBefore.cent.map(_._2.toSeq))
    assert(idxAfter.lo.toSeq === idxBefore.lo.toSeq)
    assert(idxAfter.hi.toSeq === idxBefore.hi.toSeq)
    // the combined relation now carries exactly the union of ids
    val ids = idxAfter.coded.select("id").collect().map(_.getLong(0)).toSet
    val want = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids === want)
    // appended rows were coded against the frozen quantizers: recode the
    // appended batch independently and compare cell+code per id
    val recoded = VectorOps.prepared(
        emb.filter(col("vec_id") % 3 === 0), "vec_id", "embedding")
      .select(col("id"),
        VectorOps.assignCell(col("v"), col("nrm"), idxBefore.cent).as("cell"),
        VectorOps.sq8Code(col("v"), idxBefore.lo, idxBefore.hi).as("code"))
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getSeq[Int](2)))).toMap
    val stored = idxAfter.coded.filter(col("id") % 3 === 0)
      .select(col("id"), col("cell"), col("code"))
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getSeq[Int](2)))).toMap
    assert(stored === recoded)
  }

  test("ANN delete is merge-on-read; compact rewrites survivors and clears tombstones") {
    import graft.operators.{Ddl, VectorOps}
    val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
    val table = "graft_ann_delete_spec"
    VectorOps.writeIndex(emb, "vec_id", "embedding", table,
      kClusters = 8, iters = 2, numBuckets = 8)
    val before = tableFiles(table)
    IndexStore.delete(emb.filter(col("vec_id") % 7 === 3), "vec_id", table)
    // merge-on-read: the delete wrote NO index files — every data file
    // survives name+mtime identical
    assert(tableFiles(table) === before)
    // probes see only survivors, and exactly what a manually-filtered
    // coded relation under the same quantizers sees
    val idx = VectorOps.loadIndex(spark, table)
    val probe = VectorOps.ivfSq8TopKFromIndex(idx, col("id") < 20, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
    assert(probe.nonEmpty)
    assert(!probe.exists { case (q, n, _) => q % 7 == 3 || n % 7 == 3 })
    val manual = idx.copy(coded =
      spark.table(table).filter(col("id") % 7 =!= 3))
    val expect = VectorOps.ivfSq8TopKFromIndex(manual, col("id") < 20, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
    assert(probe === expect)
    // compact: physically removes the tombstoned rows, keeps the bucket
    // spec, clears the delete list
    IndexStore.compact(spark, table)
    assert(!spark.catalog.tableExists(Ddl.tombstoneTable(table)))
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    assert(meta.bucketSpec.map(_.numBuckets).contains(8))
    val ids = spark.table(table).select("id").collect()
      .map(_.getLong(0)).toSet
    assert(!ids.exists(_ % 7 == 3))
    // probe results are unchanged by compaction
    val after = VectorOps.ivfSq8TopKFromIndex(
        VectorOps.loadIndex(spark, table), col("id") < 20, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
    assert(after === probe)
    // post-compaction, a previously deleted id may be re-appended and
    // becomes visible again
    VectorOps.appendToIndexCommitted(emb.filter(col("vec_id") === 3),
      "vec_id", "embedding", table, 0L)
    val back = VectorOps.loadIndex(spark, table).coded
      .filter(col("id") === 3).count()
    assert(back === 1L)
  }

  test("PQ delete: probe excludes tombstoned ids, equals survivors under frozen codebooks") {
    import graft.operators.VectorOps
    val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
    val table = "graft_pq_delete_spec"
    VectorOps.writePqIndex(emb, "vec_id", "embedding", table,
      m = 4, ksub = 8, iters = 1)
    IndexStore.delete(emb.filter(col("vec_id") % 7 === 3), "vec_id", table)
    val idx = VectorOps.loadPqIndex(spark, table)
    val probe = VectorOps.pqTopKFromIndex(idx, col("id") < 20, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
    assert(probe.nonEmpty)
    assert(!probe.exists { case (q, n, _) => q % 7 == 3 || n % 7 == 3 })
    val manual = idx.copy(coded =
      spark.table(table).filter(col("id") % 7 =!= 3))
    val expect = VectorOps.pqTopKFromIndex(manual, col("id") < 20, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
    assert(probe === expect)
    IndexStore.compact(spark, table)
    assert(!spark.catalog.tableExists(
      graft.operators.Ddl.tombstoneTable(table)))
    val after = VectorOps.pqTopKFromIndex(
        VectorOps.loadPqIndex(spark, table), col("id") < 20, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
    assert(after === probe)
  }

  test("BM25 delete refreshes stats exactly: probe equals the in-query scorer over survivors") {
    val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
    val table = "graft_bm25_delete_spec"
    Retrieval.writeBm25Index(docs, "doc_id", "text", table)
    IndexStore.delete(docs.filter(col("doc_id") % 7 === 3), "doc_id", table)
    val survivors = docs.filter(col("doc_id") % 7 =!= 3)
    // terms the t57 gate never sees: the deleted index must answer ANY
    // query exactly as a from-scratch build over the survivors would —
    // this fails if (n_docs, avgdl, df) are stale by even one document
    for (terms <- Seq(Seq("data", "model"), Seq("join", "window", "the"))) {
      val probe = Retrieval
        .bm25TopKFromIndex(Retrieval.loadBm25Index(spark, table), terms, k = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val inQuery = operators.TextAnalysis
        .bm25TopK(survivors, "doc_id", "text", terms, k = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(probe === inQuery, s"terms=$terms")
    }
    // compact then re-check: physically removed, same answers
    IndexStore.compact(spark, table)
    assert(!spark.catalog.tableExists(
      graft.operators.Ddl.tombstoneTable(table)))
    assert(spark.table(s"${table}_docs").filter(col("id") % 7 === 3)
      .count() === 0L)
    val probe2 = Retrieval
      .bm25TopKFromIndex(Retrieval.loadBm25Index(spark, table),
        Seq("data", "model"), k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val inQuery2 = operators.TextAnalysis
      .bm25TopK(survivors, "doc_id", "text", Seq("data", "model"), k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(probe2 === inQuery2)
  }

  test("batched BM25 equals N single-query probes; fused plan has no single-partition window") {
    import graft.operators.TextAnalysis
    val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
    val table = "graft_bm25_batch_spec"
    Retrieval.writeBm25Index(docs, "doc_id", "text", table)
    val querySets = Seq(
      10L -> Seq("data", "model"),
      20L -> Seq("join", "window", "the"))
    val qt = querySets
      .flatMap { case (q, ts) => ts.map(q -> _) }
      .toDF("query_id", "term")
    val batched = Retrieval.bm25ScoreBatchedFromIndex(
        Retrieval.loadBm25Index(spark, table), qt)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // per-query singles through the INDEPENDENT in-query scorer: every
    // batched (query, doc, score) must be what that query scores alone
    val singles = querySets.flatMap { case (q, ts) =>
      TextAnalysis.bm25TopK(docs, "doc_id", "text", ts, k = Int.MaxValue)
        .collect().map(r => (q, r.getLong(0), r.getLong(1)))
    }.toSet
    assert(batched === singles)
    // the fusion cut is a PARTITIONED rank window: one plan for N
    // queries, no Exchange SinglePartition anywhere (the per-query loop
    // smell t52 exists to eliminate)
    val lists = Seq(
      qt.select(col("query_id"), (col("query_id") + 1).as("id"), lit(1).as("rank")),
      qt.select(col("query_id"), (col("query_id") + 2).as("id"), lit(1).as("rank")))
    val fused = Retrieval.rrfFuseBatched(lists, k = 5)
    val plan = fused.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"batched fusion must not plan a single-partition window:\n$plan")
    assert(fused.count() > 0)
  }

  test("BM25 index probe equals the in-query scorer for ARBITRARY terms") {
    val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
    Retrieval.writeBm25Index(docs, "doc_id", "text", "graft_bm25_spec")
    // terms the index was NOT gated on — the point of persisting is
    // that any probe works without a corpus scan
    for (terms <- Seq(Seq("data", "model"), Seq("join", "window", "the"))) {
      val probe = Retrieval
        .bm25TopKFromIndex(Retrieval.loadBm25Index(spark, "graft_bm25_spec"),
          terms, k = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val inQuery = operators.TextAnalysis
        .bm25TopK(docs, "doc_id", "text", terms, k = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(probe === inQuery, s"terms=$terms")
    }
  }
}
