package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval: independent ranked lists fused by reciprocal rank
  * fusion (Cormack, Clarke & Buettcher, SIGIR 2009 — "Reciprocal rank
  * fusion outperforms Condorcet and individual rank learning methods").
  * RRF is THE standard way production search stacks combine a keyword
  * (BM25) retriever with a vector retriever: rank-only fusion needs no
  * score calibration between incommensurable scorers.
  *
  * Scale shape: fusion operates on already-cut top-N lists — list-sized
  * joins, never corpus-sized. The corpus-scale work lives inside the
  * retrievers that PRODUCE the lists ([[graft.operators.TextAnalysis.bm25TopK]]:
  * zero corpus shuffles; [[VectorOps.bruteForceTopK]]/[[VectorOps.ivfSq8TopK]]:
  * broadcast query side), so fusing adds no new shuffle of corpus data.
  */
object Retrieval {

  /** Fuse ranked lists — each `(id, rank)`, rank 1-based, top-N-bounded —
    * into the top `k` ids by RRF score `Σ_lists 1/(kRrf + rank)`, an id
    * absent from a list contributing 0. The score is emitted in integer
    * NANO-units (`round(1e9·Σ)` as BIGINT) so the differential gate
    * compares longs, not float strings — the t32/t42 fixed-point rule;
    * the underlying sum is the same IEEE expression tree in both
    * engines (list order fixed, one terminal round).
    *
    * Ties are impossible to cut ambiguously: (score desc, id asc) is a
    * total order. The final rank window runs over the k-limited frame
    * (single partition of ≤ Σ|lists| rows — the k3 top-k shape, never a
    * corpus-wide window). */
  def rrfFuse(lists: Seq[DataFrame], k: Int, kRrf: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    val renamed = lists.zipWithIndex.map { case (l, i) =>
      l.select(col("id"), col("rank").cast("double").as(s"rk_$i"))
    }
    val joined = renamed.reduce((a, b) => a.join(b, Seq("id"), "full_outer"))
    val score = lists.indices
      .map(i => coalesce(lit(1.0) / (lit(kRrf.toDouble) + col(s"rk_$i")),
        lit(0.0)))
      .reduce(_ + _)
    val fused = joined
      .select(col("id"), round(lit(1e9) * score).cast("long").as("rrf_nano"))
      .orderBy(col("rrf_nano").desc, col("id").asc)
      .limit(k)
    val w = Window.orderBy(col("rrf_nano").desc, col("id").asc)
    fused.withColumn("rank", row_number().over(w))
  }

  /** Hybrid top-k over a corpus with BOTH a text and an embedding
    * representation (joined on id): a BM25 keyword list for `terms` and
    * an exact-cosine list for the probe document `queryVecId`'s
    * embedding, RRF-fused. The probe document is excluded from both
    * sides (query-by-example semantics), so the BM25 statistics are
    * over corpus-minus-probe — deterministic and mirrored verbatim by
    * the differential oracle. `n` is the per-retriever list depth; the
    * fused cut is `k`. */
  def hybridTopK(docs: DataFrame, embeddings: DataFrame,
      docIdCol: String, textCol: String, vecIdCol: String, vecCol: String,
      terms: Seq[String], queryVecId: Long, n: Int, k: Int,
      kRrf: Int = 60): DataFrame = {
    val kwRanked = TextAnalysis
      .bm25TopK(docs.filter(col(docIdCol) =!= queryVecId),
        docIdCol, textCol, terms, n)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_micro").desc, col("id").asc)))
      .select("id", "rank")
    val vecRanked = VectorOps
      .bruteForceTopK(embeddings,
        embeddings.filter(col(vecIdCol) === queryVecId),
        vecIdCol, vecCol, n)
      .select(col("neighbor_id").as("id"), col("rank"))
    rrfFuse(Seq(kwRanked, vecRanked), k, kRrf)
  }

  /** Persist an INVERTED INDEX for BM25 — the keyword side of the
    * build-once/probe-many family (t40 IVF+SQ8, t45 PQ, this):
    *   - `table`: postings (term, id, tf, dl), BUCKETED by term
    *     ([[Ddl.writeBucketedTable]]) so a probe for a handful of query
    *     terms prunes to their buckets instead of scanning the corpus;
    *   - `table_docs`: (id, dl) for EVERY document (zero-token docs
    *     included — they shape n_docs/avgdl exactly as the in-query
    *     scorer's).
    * Both are [[IndexStore]] relations (`main`, `docs`). No statistic is
    * persisted: (n_docs, avgdl) are recomputed at load from the visible
    * `docs` rows, and per-term df is counted at probe time from the
    * bucket-pruned postings — always exact, never stale. Rerunnable:
    * existing tables are dropped first. */
  def writeBm25Index(docs: DataFrame, idCol: String, textCol: String,
      table: String, numBuckets: Int = 8): Unit = {
    val spark = docs.sparkSession
    val toks = tokenized(docs, idCol, textCol)
    Ddl.dropTableAndLocation(spark, s"${table}_docs")
    toks.select(col("id"), col("dl"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(s"${table}_docs")
    Ddl.writeBucketedTable(postingsOf(toks), table, "term", numBuckets)
    IndexStore.reset(spark, table, Bm25Relations)
  }

  private val Bm25Relations = Seq(IndexStore.Main, "docs")

  /** (id, t, dl): each document's tokens, staged once for both
    * relations. */
  private def tokenized(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    Staging.barrier(docs.select(col(idCol).as("id"),
      TextDedup.tokens(col(textCol)).as("t"))
      .select(col("id"), col("t"), size(col("t")).as("dl")))

  /** (term, id, tf, dl) postings of [[tokenized]] rows. */
  private def postingsOf(toks: DataFrame): DataFrame =
    toks.select(col("id"), col("dl"), explode(col("t")).as("term"))
      .groupBy(col("term"), col("id"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))

  /** INCREMENTAL maintenance of a persisted [[writeBm25Index]] index,
    * as one atomic [[IndexStore.append]] batch: only the new documents
    * are tokenized, and their postings and `docs` rows commit under ONE
    * rename — a crash leaves nothing or the whole batch, and a replayed
    * id is a no-op (returns false). BM25 has no trained state, so
    * nothing is lost: a probe of the loaded index equals a probe over a
    * from-scratch build on the union (t54 gates it on t42's oracle).
    * Postings side runs are term-clustered (`sortWithinPartitions`) for
    * tight row-group stats under term predicates. Caller contract: doc
    * ids are new. */
  def appendToBm25IndexCommitted(docs: DataFrame, idCol: String,
      textCol: String, table: String, batchId: Long): Boolean =
    IndexStore.append(docs.sparkSession, table, batchId) {
      val toks = tokenized(docs, idCol, textCol)
      Seq(IndexStore.Main -> postingsOf(toks).sortWithinPartitions("term"),
        "docs" -> toks.select(col("id"), col("dl")))
    }

  /** A loaded BM25 index snapshot: the visible postings (base ∪
    * committed batches, minus deletes) plus the corpus statistics
    * recomputed EXACTLY for the visible documents — the keyword twin of
    * [[graft.operators.VectorOps.AnnIndex]]. There is no frozen trained
    * state: every statistic is an exact aggregate of the visible
    * corpus, so appends, deletes and as-of reads all score exactly as a
    * from-scratch build on the visible corpus would. */
  final case class Bm25Index(posts: DataFrame, nDocs: Long, avgdl: Double)

  /** Load a [[writeBm25Index]] index; `asOf` reads it as it stood after
    * that committed batch, with that prefix's own (n_docs, avgdl) and,
    * at probe time, df (t77 gates it). */
  def loadBm25Index(spark: org.apache.spark.sql.SparkSession,
      table: String, asOf: Option[Long] = None): Bm25Index = {
    val Seq(posts, docs) = IndexStore.visible(spark, table, Bm25Relations, asOf)
    // integer token counts sum exactly in double, so this equals a
    // from-scratch build's statistics bit-for-bit
    val st = docs.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
      .collect().head
    // an empty visible snapshot (all docs deleted, or an as-of prefix
    // before any append) has NULL avg(dl) — return an empty index, not
    // an NPE
    Bm25Index(posts, st.getLong(0), if (st.isNullAt(1)) 0.0 else st.getDouble(1))
  }

  /** BM25 top-k over a LOADED index, for ARBITRARY query terms — the
    * production probe shape: cost is proportional to the query terms'
    * postings (bucket-pruned equi-filter on the bucketed term column,
    * side runs term-clustered), never the corpus. Scores are
    * bit-identical to [[TextAnalysis.bm25TopK]] on the visible corpus:
    * the per-term contribution is the SAME shared float tree
    * ([[TextAnalysis.bm25Contrib]]) with the snapshot's stats as
    * literals, df is counted from the visible postings, absent terms
    * contribute exactly 0L in both forms, and the k cut is the same
    * total (score desc, id) order. */
  def bm25TopKFromIndex(idx: Bm25Index, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopKFromIndex needs at least one term")
    val posts = idx.posts.filter(col("term").isin(terms: _*))
    val dfs = posts.groupBy("term").agg(count(lit(1)).as("df"))
    posts
      .join(broadcast(dfs), Seq("term"))
      .select(col("id"), TextAnalysis.bm25Contrib(col("tf"), col("df"),
        lit(idx.nDocs), lit(idx.avgdl), col("dl"), k1, b).as("c"))
      .groupBy(col("id"))
      .agg(sum(col("c")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("id").asc)
      .limit(k)
  }

  /** BATCHED multi-query BM25 scoring over a LOADED [[writeBm25Index]]
    * index: `queryTerms` is a (query_id, term) relation — N queries
    * score in ONE plan, no per-query job loop. The postings relation is
    * term-bucketed, so the semi-join term restriction, the per-term df
    * count and the per-(query, doc) contribution sum all run without
    * re-shuffling postings; the query side (terms, dfs) is broadcast.
    * Per-posting contributions are the SAME shared float tree as the
    * single-query probe ([[TextAnalysis.bm25Contrib]], integer
    * micro-units), so batched scores equal N single probes exactly.
    * Returns (query_id, id, score_micro) — docs with no hit on a
    * query's terms are absent (they contribute exactly 0);
    * ranking/cutting is the caller's (a per-query rank window — the
    * t28 shape — never a global sort). */
  def bm25ScoreBatchedFromIndex(idx: Bm25Index, queryTerms: DataFrame,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qt = queryTerms.select(col("query_id"), col("term"))
    val posts = idx.posts
      .join(broadcast(qt.select("term").distinct()), Seq("term"), "left_semi")
    val dfs = posts.groupBy("term").agg(count(lit(1)).as("df"))
    posts
      .join(broadcast(dfs), Seq("term"))
      .join(broadcast(qt), Seq("term"))
      .select(col("query_id"), col("id"),
        TextAnalysis.bm25Contrib(col("tf"), col("df"), lit(idx.nDocs),
          lit(idx.avgdl), col("dl"), k1, b).as("c"))
      .groupBy(col("query_id"), col("id"))
      .agg(sum(col("c")).as("score_micro"))
  }

  /** BATCHED [[rrfFuse]]: each list is (query_id, id, rank) — rank
    * 1-based PER QUERY, top-N-bounded — and fusion joins on
    * (query_id, id) with the final cut a rank window PARTITIONED by
    * query_id: one plan fuses N queries, no single-partition window,
    * no per-query loop. Scores in integer nano-units, ties cut on
    * (score desc, id) — the rrfFuse contract per query. */
  def rrfFuseBatched(lists: Seq[DataFrame], k: Int,
      kRrf: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuseBatched needs at least one ranked list")
    val renamed = lists.zipWithIndex.map { case (l, i) =>
      l.select(col("query_id"), col("id"),
        col("rank").cast("double").as(s"rk_$i"))
    }
    val joined = renamed.reduce((a, b) =>
      a.join(b, Seq("query_id", "id"), "full_outer"))
    val score = lists.indices
      .map(i => coalesce(lit(1.0) / (lit(kRrf.toDouble) + col(s"rk_$i")),
        lit(0.0)))
      .reduce(_ + _)
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_nano").desc, col("id").asc)
    joined
      .select(col("query_id"), col("id"),
        round(lit(1e9) * score).cast("long").as("rrf_nano"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
