package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Training-data deduplication operators (builder-prompt extension surface;
 * not present in the reference, which ingests RDBMS rows — these are the
 * operators a 100 TB document pipeline needs on top of it).
 *
 * All builders are pure Column-expression trees (codegen'd, no UDFs):
 *   - exact dedup: hash-groupBy on md5(text)
 *   - MinHash+LSH: shingle → k md5-minhashes → banded bucket join.
 *     The minhash uses the LEXICOGRAPHIC MIN of seeded md5 hex strings —
 *     same uniform-min property as numeric minhash, but portable
 *     bit-for-bit across engines (the DuckDB oracle computes the
 *     identical strings).
 *   - SimHash: per-bit majority over 60-bit token hashes
 *   - n-gram Jaccard: exploded shingle equi-join (NOT a cross join)
 *
 * Scale notes (100 TB):
 *   - Exact dedup shuffles digests only (32-byte keys), not documents.
 *   - LSH candidate generation shuffles (band_idx, band_hash) pairs; the
 *     quadratic jaccard verification runs only within buckets. Hot
 *     buckets (boilerplate shingles) are the skew hazard — AQE skew-join
 *     handles moderate skew; degenerate shingles should be stopworded
 *     upstream.
 *   - SimHash is embarrassingly parallel (map-only, no shuffle).
 */
/** Lineage-truncation medium for driver-iterated loops
  * ([[TextDedup.connectedComponents]]): both variants produce identical
  * results (the checkpoint only truncates the plan); they differ in where
  * the materialized iteration state lives. */
sealed trait CheckpointStrategy
object CheckpointStrategy {
  /** `Dataset.localCheckpoint` — blocks on executor local storage. The
    * fast in-process default; an executor lost mid-loop loses its blocks
    * (unrecomputable — lineage was truncated) and fails the job, which
    * must then re-run. */
  case object Local extends CheckpointStrategy
  /** `Dataset.checkpoint` into `dir` (sets the context checkpoint
    * directory) — survives executor loss, the right medium for long
    * loops on a real cluster. Checkpoint FILES are not removed by
    * unpersist; they live under `dir` until the application cleans it
    * (or `spark.cleaner.referenceTracking.cleanCheckpoints=true`). */
  final case class Reliable(dir: String) extends CheckpointStrategy
}

object TextDedup {

  /** Whitespace tokens of lowercased trimmed text; empty tokens dropped
    * (split produces them at string edges in both Spark and DuckDB).
    * Fused kernel ([[graft.functions.GraftTokens]]) — contract-identical
    * to [[tokensComposed]] (DedupSpec byte-equality). */
  def tokens(text: Column): Column =
    graft.functions.GraftTokens(text)

  /** The composed-built-ins tokenizer — retained as the semantic
    * baseline the fused kernel is equivalence-tested against, and the
    * direct transliteration of the DuckDB oracle's spelling. */
  def tokensComposed(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), x => x =!= lit(""))

  /** Distinct word n-gram shingles. Guarded so docs shorter than n tokens
    * yield an empty set (Spark's `sequence` would otherwise count DOWN for
    * a negative span and throw under ANSI).
    *
    * PASS A MATERIALIZED ATTRIBUTE, not an expression: the lambda
    * references `toks` from outside `transform`, and Catalyst re-evaluates
    * an outer EXPRESSION per element — feeding `tokens(col)` directly
    * makes the column quadratic in the tokenizer (measured 8–18 s for the
    * shingle stage at sf0.1 vs 1–2 s with a staged token column).
    * [[minhashLshPairs]] / the t2 query stage tokens for this reason.
    * Uses O(1) `element_at` accesses rather than per-position `slice`
    * copies. */
  def shingles(toks: Column, n: Int): Column =
    array_distinct(gramOccurrences(toks, n))

  /** All word n-gram OCCURRENCES in order (no distinct) — the raw form
    * behind [[shingles]]; repetition scoring ([[TextAnalysis
    * .repetitionScores]]) needs occurrence counts, not the set. Same
    * closure rule as [[shingles]]: pass a materialized attribute. */
  def gramOccurrences(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + lit(j + 1))): _*)))
      .otherwise(array().cast(ArrayType(StringType)))

  /** Staged (id, shingle-set) table: tokens are MATERIALIZED (persist)
    * before the shingle projection — a plain select gets merged by
    * CollapseProject, re-inlining the tokenizer into the shingle lambda,
    * which Catalyst then re-evaluates per element (quadratic; measured
    * 8–18 s → 3.4 s for token+shingle stages at sf0.1). */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val withToks = Staging.barrier(
      df.select(col(idCol).as("id"), tokens(col(textCol)).as("t")))
    // size(t) >= n ⟺ size(shingles) > 0 (gramOccurrences is empty exactly
    // when the doc is shorter than n tokens) — filtering on the CHEAP
    // token count keeps predicate pushdown from re-evaluating the shingle
    // lambda a second time under the projection
    withToks.filter(size(col("t")) >= n)
      .select(col("id"), shingles(col("t"), n).as("s"))
  }

  /** [[shingleSets]] in the dedup family's 64-bit JOIN CURRENCY: `s` is
    * `array<bigint>` — each distinct shingle string hashed to its
    * xxhash64 — computed map-side in the same pass as the shingle
    * construction, so shingle STRINGS are never persisted and never
    * shuffled (at 100 TB the staged shingle table and every
    * verification join carry 8-byte ids instead of ~20-byte UTF-8; the
    * join-key width IS the shuffle volume). Downstream consumers
    * ([[jaccardPairs]], [[jaccardPairsAdaptive]], [[decontaminate]])
    * accept either currency and join on hashes in both, so results are
    * identical modulo the documented ~2⁻⁶⁴ birthday collision. */
  def hashedShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val withToks = Staging.barrier(
      df.select(col(idCol).as("id"), tokens(col(textCol)).as("t")))
    // fused kernel ([[graft.functions.ShingleIds]]): gram construction,
    // exact byte-dedup, and xxhash64 in one walk — contract-identical to
    // `transform(shingles(t, n), xxhash64)` (DedupSpec byte-equality)
    withToks.filter(size(col("t")) >= n)
      .select(col("id"), graft.functions.ShingleIds(col("t"), n).as("s"))
  }

  /** The staged LSH input frame `(id, s: array<bigint>, bands)` built in
    * ONE pass over the staged token table: shingle strings are consumed
    * map-side into (a) their xxhash64 ids (the verification currency) and
    * (b) the MinHash band digests, then dropped — never persisted, never
    * shuffled. The caller barriers the result; it is the frame
    * [[minhashLshPairsFromFrame]] and [[decontaminate]] share (p1's
    * one-corpus-shingle-pass rationale). Both consumers are fused into
    * ONE kernel walk ([[graft.functions.ShingleLshBands]]): each gram is
    * built once and feeds id dedup and signature minima from the same
    * bytes — contract-identical to the composed
    * shingles→xxhash64 / →minhash→bandHashes pair (DedupSpec
    * byte-equality), which previously evaluated the shingle expression
    * twice per row. The struct unwrap is a separate projection so
    * CollapseProject (which refuses to duplicate non-cheap expressions)
    * keeps the kernel evaluated once. */
  def shingleLshFrame(df: DataFrame, idCol: String, textCol: String, n: Int,
      k: Int, bandSize: Int, numBands: Int): DataFrame = {
    val withToks = Staging.barrier(
      df.select(col(idCol).as("id"), tokens(col(textCol)).as("t")))
    withToks.filter(size(col("t")) >= n)
      .select(col("id"),
        graft.functions.ShingleLshBands(col("t"), n, k, bandSize, numBands)
          .as("sl"))
      .select(col("id"), col("sl.s").as("s"), col("sl.bands").as("bands"))
  }

  /** The dedup family's join currency: string shingle arrays hash
    * elementwise to xxhash64; already-hashed (bigint) arrays pass
    * through. Lets every pair/containment operator accept either a
    * string [[shingleSets]] frame (specs, streaming unions) or a
    * [[hashedShingles]] frame (the gated batch queries). */
  private def asHashes(df: DataFrame, c: String): Column =
    df.schema(c).dataType match {
      case ArrayType(StringType, _) => transform(col(c), x => xxhash64(x))
      case _ => col(c)
    }

  /** Winnowing-based near-dup CANDIDATE pairs: documents sharing at
    * least `minShared` rare winnowing fingerprints
    * ([[graft.functions.WinnowFingerprints]]) — the MOSS index shape for
    * span-level overlap detection, complementing the whole-doc MinHash
    * route (t3) with fingerprints that localize WHERE docs overlap.
    *
    * The DF-CAP is the load-bearing scale control: a fingerprint
    * appearing in more than `maxDf` documents is a stop-gram — it
    * carries no overlap signal and would contribute O(df²) candidate
    * pairs. Dropping capped hashes BEFORE the self-join bounds each
    * join key's fan-out at maxDf², so the candidate space is
    * Σ_h min(df_h, maxDf)² — the same boundedness argument as t2's
    * prefix filter and the LSH band join. The (id, hash) list is
    * deduplicated before everything, so document frequency and shared
    * counts are set semantics on both engines. */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      gram: Int, w: Int, maxDf: Int, minShared: Int): DataFrame = {
    require(maxDf > 1 && minShared > 0, "need maxDf > 1 and minShared > 0")
    val fp = Staging.barrier(df.select(col(idCol).as("id"),
        explode(graft.functions.WinnowFingerprints(
          lower(trim(col(textCol))), gram, w)).as("f"))
      .select(col("id"), col("f.h").as("h"))
      .distinct())
    val rareHashes = fp.groupBy("h").agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") <= maxDf)
      .select("h")
    val rare = fp.join(rareHashes, Seq("h"), "left_semi")
    rare.as("a").join(rare.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Exact dedup: keep the lowest id per identical text digest. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("text_md5"), col(idCol))
      .groupBy("text_md5")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** k-element MinHash signature: element i = min over shingles of
    * md5("<i>:" ++ shingle), as hex string. The fused kernel
    * ([[graft.functions.MinhashSignature]]) — contract-identical to
    * [[minhashSignatureComposed]] (DedupSpec asserts byte-equality)
    * INCLUDING null input: both map a NULL shingle array to k NULL
    * elements (the composed outer `array(...)` is never null) — one
    * static call per row instead of k lambda transforms + string mins. */
  def minhashSignature(sh: Column, k: Int): Column =
    graft.functions.MinhashSignature(sh, k)

  /** The composed-built-ins formulation — retained as the semantic
    * baseline the fused kernel is equivalence-tested against (the
    * [[graft.operators.VectorOps.dotComposed]] precedent), and the
    * direct transliteration of the DuckDB oracle's per-i min. */
  def minhashSignatureComposed(sh: Column, k: Int): Column =
    array((0 until k).map(i =>
      array_min(transform(sh, s => md5(concat(lit(s"$i:"), s))))): _*)

  /** LSH band digests: md5 over each contiguous band of the signature. */
  def bandHashes(sig: Column, bandSize: Int, numBands: Int): Column =
    array((0 until numBands).map(b =>
      md5(concat_ws(",", slice(sig, b * bandSize + 1, bandSize)))): _*)

  /** The full text → LSH band-digest pipeline as ONE scalar Column —
    * byte-identical to the staged batch pipeline ([[shingleSets]] +
    * [[minhashSignature]] + [[bandHashes]]; DedupSpec asserts equality),
    * but with every intermediate [[bound]] as a lambda variable instead
    * of persisted behind a [[Staging.barrier]]. That makes it legal where
    * persist() is not: STREAMING plans (the `dropDuplicatesWithinWatermark`
    * near-dup twin, [[graft.streaming.StreamingIngest.streamingNearDupClaims]])
    * and any single-Column call site. Each stage (tokens, shingles,
    * signature) is evaluated once per row; without the binding, Catalyst
    * re-evaluates closed-over expressions per lambda element (tokens
    * inside the shingle lambda = quadratic in document length, signature
    * inside each band slice = ×numBands).
    *
    * NULL (not an empty array) for docs shorter than `n` tokens — the
    * caller decides the policy for un-bandable docs (the streaming twin
    * passes them through unconditionally, mirroring how the batch LSH
    * path never pairs them). */
  def bandedDigests(text: Column, n: Int, k: Int, bandSize: Int,
      numBands: Int): Column =
    ExprUtil.bound(tokens(text)) { t =>
      // size(t) >= n ⟺ the doc has at least one gram ⟺ size(shingles) > 0;
      // the fused kernel evaluates its child once, so only the token stage
      // still needs the let-binding. Bands-ONLY kernel: this path never
      // consumes shingle ids, so it skips the dedup table and id array
      // entirely (min over the gram multiset = min over the distinct set)
      when(size(t) >= n,
        graft.functions.ShingleBands(t, n, k, bandSize, numBands))
    }

  /** Candidate pairs (id_a < id_b) sharing at least one LSH band bucket.
    * Input: (idCol, bandsCol: array<string>). The join key is
    * (band index, band hash) — shuffle carries only ids and digests.
    *
    * `maxBucket` is the optional STOP-BUCKET control (the t39 df-cap
    * twin): a bucket holding more than `maxBucket` documents is
    * boilerplate slop — its df² candidate pairs are exactly the LSH
    * skew hazard — and is dropped BEFORE the self-join, bounding every
    * join key's fan-out at maxBucket². Capping is an explicit
    * approximation (pairs inside dropped buckets that share no other
    * bucket are lost), so the GATED queries run uncapped and stay exact
    * against the DuckDB oracle; DedupSpec gates the subset guarantee
    * (capped ⊆ uncapped, and a generous cap changes nothing). */
  def candidatePairs(df: DataFrame, idCol: String, bandsCol: String,
      maxBucket: Option[Int] = None): DataFrame = {
    val exploded = df.select(col(idCol).as("id"), posexplode(col(bandsCol)).as(Seq("band_idx", "bh")))
    val joinable = maxBucket match {
      case Some(cap) =>
        val ok = exploded.groupBy("band_idx", "bh")
          .agg(count(lit(1)).as("bn")).filter(col("bn") <= cap)
          .select("band_idx", "bh")
        exploded.join(ok, Seq("band_idx", "bh"), "left_semi")
      case None => exploded
    }
    val a = joinable.as("a")
    val b = joinable.as("b")
    a.join(b, col("a.band_idx") === col("b.band_idx") &&
        col("a.bh") === col("b.bh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Exact Jaccard over two distinct-shingle arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    (inter * lit(1.0)) / (size(a) + size(b) - inter)
  }

  /** All-pairs n-gram Jaccard ≥ threshold via exploded shingle equi-join
    * (the scalable formulation: inter-counts from a shuffle on shingle,
    * sizes from a map-side projection — no cross join anywhere). */
  def jaccardPairs(df: DataFrame, idCol: String, shCol: String,
      threshold: Double): DataFrame = {
    // join on 64-bit shingle hashes, not the strings: same intersection
    // counts modulo a ~2⁻⁶⁴ birthday collision (shingles are distinct
    // per doc), and the shuffle carries 8-byte keys instead of ~20-byte
    // UTF-8 — at 100 TB the join key width IS the shuffle volume. A
    // [[hashedShingles]] input is already in that currency (asHashes
    // passes it through), so nothing re-hashes.
    val sized = df.select(col(idCol).as("id"), asHashes(df, shCol).as("s"))
      .withColumn("n", size(col("s")))
    val ex = sized.select(col("id"), col("n"), explode(col("s")).as("sh"))
    val inter = ex.as("a").join(ex.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(count(lit(1)).as("i"))
    inter.select(col("id_a"), col("id_b"),
        (col("i") * lit(1.0) / (col("n_a") + col("n_b") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /**
   * EXACT all-pairs Jaccard ≥ t via PREFIX FILTERING (PPJoin family):
   * order each document's shingles by a global canonical order (document
   * frequency asc, then hash) and join only on each document's first
   * `n - ⌈t·n⌉ + 1` shingles. Theorem: two sets with Jaccard ≥ t MUST
   * share at least one element within these prefixes, so candidate
   * generation is lossless; candidates are then verified exactly on the
   * full sets. Unlike the naive exploded join this (a) shrinks the join
   * input ~2× at t=0.5 and (b) excludes precisely the highest-frequency
   * shingles — the skewed join keys — from the join.
   *
   * Measured trade-off: on the synthetic corpus (small vocabulary → FLAT
   * shingle document-frequency, no heavy tail) the extra df-ranking
   * shuffles cost more than the candidate reduction saves (11 s vs 6 s
   * at sf0.1), so [[jaccardPairs]] backs the gated query; on a natural
   * heavy-tailed corpus — the 100 TB case — the quadratic blowup of hot
   * shingles is exactly what this variant removes. Result-equality with
   * [[jaccardPairs]] is asserted in DedupSpec.
   *
   * Input: (id, s) with DISTINCT shingles (string or 64-bit hashed
   * currency), persisted by the caller.
   */
  def jaccardPairsPrefix(withSh: DataFrame, threshold: Double): DataFrame = {
    // normalize to the 64-bit currency up front: the df ranking, the
    // prefix join keys, and the verification arrays all carry 8-byte ids
    // (for a string input the canonical order (df, xxhash64(str)) is the
    // same order as (df, hash) here — the hash IS xxhash64(str))
    val hashed = withSh.select(col("id"), asHashes(withSh, "s").as("s"))
    val ex = hashed.select(col("id"), explode(col("s")).as("sh"))
    val dfreq = ex.groupBy("sh").agg(count(lit(1)).as("df"))
    // per-doc shingles sorted by (df, hash): rare-first canonical order;
    // prefix length n - ⌈t·n⌉ + 1 (≥ the |A|-α+1 the lemma needs for
    // α = ⌈t·max(|A|,|B|)⌉, so lossless)
    val prefixes = ex.join(dfreq, "sh")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("df"), col("sh").as("h"))))
        .as("ordered"))
      .join(hashed.select(col("id"), size(col("s")).as("n")), "id")
      .select(col("id"), col("n"),
        explode(slice(col("ordered"), lit(1),
          greatest((col("n") - ceil(col("n") * threshold) + 1).cast("int"), lit(1))))
          .as("p"))
      .select(col("id"), col("p.h").as("sh"))
    val cand = prefixes.as("a").join(prefixes.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(hashed.select(col("id").as("id_a"), col("s").as("s_a")), Seq("id_a"))
      .join(hashed.select(col("id").as("id_b"), col("s").as("s_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), jaccard(col("s_a"), col("s_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /**
   * Skew-adaptive exact Jaccard: route between [[jaccardPairs]] (direct
   * exploded join — cheapest on a FLAT shingle document-frequency, where
   * the prefix machinery's extra shuffles outweigh its candidate
   * reduction; measured 6 s vs 11 s at sf0.1 on the synthetic corpus) and
   * [[jaccardPairsPrefix]] (prefix-filtered — removes the hot-shingle
   * quadratic blowup a natural heavy-tailed corpus produces).
   *
   * The route is decided by the hottest shingle frequency observed in a
   * SAMPLE of the exploded (id, shingle) pairs — a hot shingle (df ≫
   * cap) is exactly the thing a uniform sample cannot miss: its sampled
   * count concentrates around df·fraction. A full df computation would
   * cost the same shuffle the direct path is trying to avoid, so at
   * 100 TB the sample IS the affordable probe. Fixed seed: the route (and
   * thus the plan) is deterministic; both routes produce identical
   * results (DedupSpec asserts equality), so correctness never depends on
   * the routing decision.
   */
  def jaccardPairsAdaptive(withSh: DataFrame, threshold: Double,
      dfCap: Long = 1000L, sampleFraction: Double = 0.1): DataFrame = {
    // probe on 64-bit shingle hashes: the sample agg shuffles 8-byte keys,
    // not ~25-byte strings (a hash collision merges two shingles' counts —
    // it can only OVERstate the hottest df, nudging toward the skew-safe
    // route, never hide a hot shingle)
    val ex = withSh.select(explode(asHashes(withSh, "s")).as("sh"))
    val sampled =
      if (sampleFraction >= 1.0) ex else ex.sample(sampleFraction, seed = 42L)
    val hottestSampled = Option(
      sampled.groupBy("sh").count().agg(max("count")).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val estHottest = (hottestSampled / math.min(sampleFraction, 1.0)).toLong
    if (estHottest > dfCap) jaccardPairsPrefix(withSh, threshold)
    else jaccardPairs(withSh, "id", "s", threshold)
  }

  /**
   * Composite MinHash+LSH near-dup pipeline: shingle → signature → band
   * buckets → candidate join → exact-Jaccard verification.
   *
   * The shingle and band stages are PERSISTED deliberately: without a
   * materialization barrier, Catalyst's projection collapse inlines the
   * full shingle pipeline into each of the k minhash elements and both
   * sides of the self-join — a ~64× recompute observed as 142 s → ~4 s
   * at sf0.1. At cluster scale the same staging applies (cache or
   * checkpoint the signature table; it is tiny relative to the corpus —
   * k hashes + band digests per doc, not the documents themselves).
   */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bandSize: Int, numBands: Int,
      threshold: Double): DataFrame =
    minhashLshPairsFromFrame(
      Staging.barrier(shingleLshFrame(df, idCol, textCol, n, k, bandSize, numBands)),
      threshold)

  /** [[minhashLshPairs]] over an ALREADY-STAGED [[shingleLshFrame]]
    * `(id, s: array<bigint>, bands)` — for pipelines that reuse the one
    * corpus shingle pass across operators (p1 shares it with
    * [[decontaminate]]; at 100 TB the shingle projection is a full
    * corpus scan, so sharing it is a whole-stage saving, not a
    * micro-optimization). Candidate generation joins band digests;
    * verification joins carry the 8-byte hashed-shingle arrays — no
    * string shuffles anywhere. */
  def minhashLshPairsFromFrame(frame: DataFrame, threshold: Double,
      maxBucket: Option[Int] = None): DataFrame = {
    val cand = candidatePairs(frame, "id", "bands", maxBucket)
    cand
      .join(frame.select(col("id").as("id_a"), col("s").as("s_a")), Seq("id_a"))
      .join(frame.select(col("id").as("id_b"), col("s").as("s_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), jaccard(col("s_a"), col("s_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /**
   * Persist the MinHash-LSH BAND INDEX over a corpus — the near-dup
   * family's build-once/probe-many form, completing the retrieval-
   * family symmetry (BM25 t46, IVF+SQ8 t40, PQ t45, fuzzy segments
   * t82): the production cadence is "index the existing corpus once,
   * then dedup every NEW batch against it" rather than re-running the
   * within-corpus self-join per batch. Three tables:
   *   - `table`: (bkey, id) — one row per band entry of every indexed
   *     document, `bkey` the packed `band_idx#band_hash` key (both
   *     fields fixed-width-free but unambiguous: band_idx has no '#'),
   *     BUCKETED AND SORTED by it ([[Ddl.writeBucketedTable]]) so a
   *     probe's index side is pre-hash-partitioned — the probe plan
   *     shuffles only the (new-batch-sized) probe entries, the index
   *     scan is exchange-free;
   *   - `table_docs`: (id, s) — the 64-bit hashed-shingle arrays,
   *     bucketed by id, feeding the exact-Jaccard verification join
   *     without touching the original text;
   *   - `table_meta`: the build's (n, k, band_size, num_bands,
   *     threshold) — LSH parameters are BUILD properties; a probe must
   *     shingle and band with the identical arithmetic, so it reads
   *     them from here.
   * Rerunnable: existing tables are dropped first.
   */
  def writeMinhashIndex(df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bandSize: Int, numBands: Int, threshold: Double,
      table: String, numBuckets: Int = 8): Unit = {
    val spark = df.sparkSession
    // one shingle+signature pass feeds both writes
    val staged = Staging.barrier(
      shingleLshFrame(df, idCol, textCol, n, k, bandSize, numBands))
    Ddl.writeBucketedTable(minhashEntriesOf(staged), table, "bkey", numBuckets)
    Ddl.writeBucketedTable(staged.select("id", "s"), s"${table}_docs",
      "id", numBuckets)
    Ddl.dropTableAndLocation(spark, s"${table}_meta")
    spark.range(1).select(lit(n).as("n"), lit(k).as("k"),
        lit(bandSize).as("band_size"), lit(numBands).as("num_bands"),
        lit(threshold).as("threshold"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(s"${table}_meta")
    IndexStore.reset(spark, table, MinhashRelations)
  }

  private val MinhashRelations = Seq(IndexStore.Main, "docs")

  /** (bkey, id) band entries of a staged [[shingleLshFrame]] — the
    * build's and every append's shared relation shape. */
  private def minhashEntriesOf(frame: DataFrame): DataFrame =
    frame
      .select(col("id"), posexplode(col("bands")).as(Seq("band_idx", "bh")))
      .select(concat_ws("#", col("band_idx"), col("bh")).as("bkey"), col("id"))

  /** A loaded minhash-index snapshot: band entries and hashed-shingle
    * docs (base ∪ committed batches, minus deletes — the [[IndexStore]]
    * relations `main` and `docs`) plus the build's LSH parameters — the
    * near-dup twin of [[Retrieval.Bm25Index]] / [[VectorOps.AnnIndex]].
    * No trained state beyond the parameters, so every snapshot is exact
    * by construction. Tombstones are unversioned: an as-of read taken
    * after a delete is the historical append set minus the CURRENT
    * delete set. */
  final case class MinhashIndex(entries: DataFrame, docs: DataFrame,
      n: Int, k: Int, bandSize: Int, numBands: Int, threshold: Double)

  /** Result of one [[minhashDedupIngestStep]]: the cross-batch dup
    * report plus whether the survivors' append COMMITTED. `committed
    * = false` means the CommitLog refused the batch id — expected on a
    * checkpointed streaming replay, but a signal of misconfiguration
    * when a NEW stream (fresh checkpoint, ids restarting at 0) writes
    * to an already-populated table: its batches silently no-op. */
  final case class IngestStepResult(matches: DataFrame, committed: Boolean)

  /** Append a document batch to a persisted [[writeMinhashIndex]]
    * corpus as one atomic [[IndexStore.append]] batch: band entries and
    * hashed-shingle rows commit under one rename — a crash leaves
    * either nothing or the whole batch, and replaying a committed batch
    * id is a no-op (returns false). The batch is shingled/banded with
    * the BUILD's persisted parameters; entry-side runs are
    * bkey-clustered for tight row-group stats. */
  def appendToMinhashIndexCommitted(docs: DataFrame, idCol: String,
      textCol: String, table: String, batchId: Long): Boolean = {
    val spark = docs.sparkSession
    IndexStore.append(spark, table, batchId)(
      minhashBatch(docs, idCol, textCol, loadMinhashIndex(spark, table)))
  }

  /** A batch's relations, shingled and banded with `idx`'s parameters. */
  private def minhashBatch(docs: DataFrame, idCol: String, textCol: String,
      idx: MinhashIndex): Seq[(String, DataFrame)] = {
    val staged = Staging.barrier(shingleLshFrame(docs, idCol, textCol,
      idx.n, idx.k, idx.bandSize, idx.numBands))
    Seq(IndexStore.Main -> minhashEntriesOf(staged).sortWithinPartitions("bkey"),
      "docs" -> staged.select("id", "s"))
  }

  /** Load a [[writeMinhashIndex]] index: the build's parameters plus
    * the visible entry and doc relations; `asOf` reads it as it stood
    * after that committed batch. With an empty log and no tombstones
    * this is exactly the base bucketed tables — the fresh-build probe
    * plan is unchanged. */
  def loadMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, asOf: Option[Long] = None): MinhashIndex = {
    val meta = spark.table(s"${table}_meta").collect().head
    val Seq(entries, docs) =
      IndexStore.visible(spark, table, MinhashRelations, asOf)
    MinhashIndex(entries, docs, meta.getInt(0), meta.getInt(1),
      meta.getInt(2), meta.getInt(3), meta.getDouble(4))
  }

  /** Probe a LOADED minhash snapshot with a batch of documents:
    * identical shingle → signature → band pipeline (the snapshot's
    * parameters), candidate generation by equi-join on the packed band
    * key, exact-Jaccard verification against the snapshot's
    * hashed-shingle relation. Emits every (q_id, id, jaccard ≥
    * threshold) match INCLUDING q_id = id self-matches when the probe
    * overlaps the indexed corpus — within-corpus dedup filters
    * `q_id < id` (t83 gates that restriction against t3's oracle
    * verbatim); new-batch dedup keeps all matches and drops the
    * flagged q_ids. */
  def probeMinhashLoaded(idx: MinhashIndex, probes: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val pf = Staging.barrier(shingleLshFrame(probes, idCol, textCol,
      idx.n, idx.k, idx.bandSize, idx.numBands))
    val pEntries = pf
      .select(col("id").as("q_id"), posexplode(col("bands")).as(Seq("band_idx", "bh")))
      .select(concat_ws("#", col("band_idx"), col("bh")).as("bkey"), col("q_id"))
    val cand = pEntries.join(idx.entries, Seq("bkey"))
      .select("q_id", "id").distinct()
    cand
      .join(idx.docs.select(col("id"), col("s").as("s_b")), Seq("id"))
      .join(pf.select(col("id").as("q_id"), col("s").as("s_a")), Seq("q_id"))
      .select(col("q_id"), col("id"), jaccard(col("s_a"), col("s_b")).as("jaccard"))
      .filter(col("jaccard") >= idx.threshold)
  }

  /** Probe the LIVE persisted index ([[loadMinhashIndex]] ∘
    * [[probeMinhashLoaded]]). */
  def probeMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, probes: DataFrame, idCol: String,
      textCol: String): DataFrame =
    probeMinhashLoaded(loadMinhashIndex(spark, table), probes, idCol, textCol)

  /**
   * ONE step of the incremental near-dup INGEST pipeline — the
   * operation a growing 100 TB corpus actually runs per arriving
   * batch, composing the whole index family:
   *   1. probe the persisted index for cross-batch near-dups of the
   *      batch (materialized EAGERLY, before the append below can make
   *      the probe see the batch itself);
   *   2. drop the flagged documents;
   *   3. near-dup the REMAINDER within the batch (LSH pairs →
   *      connected components → min-id survivor, the t16/t19 path);
   *   4. append the survivors as ONE committed batch
   *      ([[appendToMinhashIndexCommitted]]).
   * Returns the cross-batch matches (q_id, id, jaccard) PLUS the
   * append's commit Boolean ([[IngestStepResult]]) — a refused append
   * is an intended no-op on a checkpointed replay but a
   * misconfiguration signal on a fresh stream whose ids restart at 0,
   * and the two are indistinguishable without it.
   *
   * Exactly-once under replay: the CommitLog refuses a committed
   * batchId, so a Structured Streaming restart that replays a batch
   * appends NOTHING twice — the INDEX is exactly-once while the
   * returned dup REPORT is at-least-once (a replayed batch re-probes
   * an index that already contains its own survivors, so its report
   * additionally self-matches them — the standard foreachBatch
   * side-output contract).
   *
   * Scale shape: per-batch cost is batch-sized everywhere — the probe
   * shuffles only the batch's band entries against the bucketed index
   * scan, the within-batch LSH is batch², the append writes the
   * batch's survivors. The corpus is never re-scanned.
   */
  def minhashDedupIngestStep(batch: DataFrame, idCol: String,
      textCol: String, table: String, batchId: Long): IngestStepResult = {
    val spark = batch.sparkSession
    // ONE index load serves the probe, the within-batch LSH parameters
    // and the append — not three meta collects + log listings per batch
    val idx = loadMinhashIndex(spark, table)
    val matches = Staging.adopt(
      probeMinhashLoaded(idx, batch, idCol, textCol)
        .localCheckpoint(eager = true))
    val dupIds = matches.select(col("q_id").as("__dup_id")).distinct()
    val fresh = batch.join(dupIds, batch(idCol) === col("__dup_id"), "left_anti")
    val pairs = minhashLshPairs(fresh, idCol, textCol, idx.n, idx.k,
      idx.bandSize, idx.numBands, idx.threshold).select("id_a", "id_b")
    val survivors = keepSurvivors(fresh, idCol, connectedComponents(pairs))
    val committed = IndexStore.append(spark, table, batchId)(
      minhashBatch(survivors, idCol, textCol, idx))
    IngestStepResult(matches, committed)
  }

  /**
   * Train/eval DECONTAMINATION: for every (train doc, eval doc) pair,
   * the shingle CONTAINMENT |S_train ∩ S_eval| / |S_eval| — the standard
   * LLM-pipeline hygiene check that a training corpus does not contain an
   * evaluation benchmark (asymmetric on purpose: a long train doc fully
   * containing a short eval doc is contamination even though Jaccard is
   * tiny). Emits pairs at/above `threshold`; dropping the flagged
   * `train_id`s is the caller's one-line filter.
   *
   * Shape: the same hashed-shingle equi-join as [[jaccardPairs]], but
   * BIPARTITE — the join is train-side × eval-side only, so the shuffle
   * is |corpus shingles| + |eval shingles| with the candidate space
   * bounded by the (small) eval set, never corpus². At 100 TB the eval
   * side is broadcast-scale and the join is effectively a semi-join probe
   * of the corpus shingle stream.
   *
   * Input: the staged (id, s) shingle-set table ([[shingleSets]] strings
   * or [[hashedShingles]] / [[shingleLshFrame]] 64-bit currency — the
   * join runs on hashes either way); `evalPred` splits it (rows failing
   * the predicate are the train side).
   */
  def decontaminate(withSh: DataFrame, evalPred: Column,
      threshold: Double): DataFrame = {
    val evalSide = withSh.filter(evalPred)
      .select(col("id").as("eval_id"), size(col("s")).as("n_e"),
        explode(asHashes(withSh, "s")).as("sh"))
    val trainSide = withSh.filter(!evalPred)
      .select(col("id").as("train_id"),
        explode(asHashes(withSh, "s")).as("sh"))
    trainSide.join(evalSide, Seq("sh"))
      .groupBy("train_id", "eval_id", "n_e")
      .agg(count(lit(1)).as("overlap"))
      .select(col("train_id"), col("eval_id"), col("overlap"),
        (col("overlap") * lit(1.0) / col("n_e")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /**
   * Connected components over near-dup pair edges: every document in a
   * pair gets the MINIMUM id reachable through pairs as its `cluster_id`
   * — the transitive closure a corpus dedup needs on top of t2/t3/t5's
   * PAIR lists to pick one survivor per duplicate cluster (the doc whose
   * id equals the cluster id). Docs in no pair are singleton clusters by
   * definition and are not emitted.
   *
   * Algorithm: min-label propagation with a POINTER-DOUBLING shortcut,
   * driver-iterated like [[VectorOps.kmeansCentroids]] — per iteration
   * (a) every node takes the min of its own and its neighbors' labels
   * (one equi-join + min-aggregation on the edge list), then (b) labels
   * shortcut through themselves (`lbl := lbl(lbl)`, one self-join), which
   * contracts label chains geometrically: convergence in O(log diameter)
   * iterations instead of O(diameter). All per-iteration state is the
   * (id, lbl) relation — two longs per paired doc, metadata-scale next to
   * the corpus — and the convergence probe is a changed-row count.
   *
   * Each iteration's labels are CHECKPOINTED, not merely persisted: the
   * shortcut self-join embeds the previous iteration's plan TWICE, so
   * without lineage truncation the logical plan doubles per iteration
   * and Catalyst analysis time grows exponentially (measured: 3.3 s →
   * 6.0 s for two iterations over 477 nodes with persist-only;
   * sub-second with checkpointing). Superseded label tables are
   * unpersisted in-loop; the final one is adopted into the [[Staging]]
   * frame for release after the consuming action. The checkpoint medium
   * is injectable ([[CheckpointStrategy]]): the default
   * [[CheckpointStrategy.Local]] keeps blocks on executors (fastest; a
   * lost executor mid-loop fails the job, which then simply re-runs) —
   * on a cluster where a multi-hour loop must survive executor loss,
   * pass [[CheckpointStrategy.Reliable]] with a durable (HDFS-grade)
   * directory: same truncation, same results (DedupSpec asserts
   * equality), recomputation-free recovery.
   *
   * Determinism: min() over label longs is associative and the iteration
   * count only affects WHEN the fixpoint is reached, not its value — the
   * fixpoint (min reachable id) is what the DuckDB `WITH RECURSIVE`
   * oracle computes directly, so results are engine-exact. Throws if
   * `maxIters` (default 25 ⇒ diameter ~2²⁵) did not converge rather than
   * returning partial labels.
   */
  /** Edge-count bound for [[connectedComponents]]' driver union-find
    * fast path: 2M edges ≈ 32 MB of longs — far under broadcast-scale
    * driver memory, far over any test corpus. Near-dup PAIR lists are
    * metadata-scale by construction (a pair exists only per verified
    * near-duplicate), so most real corpora take the fast path; past the
    * bound the distributed min-label loop engages automatically. */
  val SmallGraphEdges: Long = 2L * 1000 * 1000

  def connectedComponents(pairs: DataFrame, maxIters: Int = 25,
      checkpointer: CheckpointStrategy = CheckpointStrategy.Local,
      smallGraphEdges: Long = SmallGraphEdges): DataFrame = {
    // Driver union-find fast path: the distributed loop costs a fixed
    // ~3 actions + one lineage checkpoint PER ITERATION — pure latency
    // when the edge list is metadata-sized. Under the bound, collect the
    // (id, id) longs and run path-compressed union-find with MIN-id
    // representatives: the result is the same fixpoint the loop (and
    // the recursive-CTE oracle) computes — every node labeled with the
    // minimum id reachable through pairs — so the gates cannot tell the
    // paths apart (DedupSpec asserts equality on corpus pairs).
    val p = Staging.barrier(
      pairs.select(col("id_a").cast("long"), col("id_b").cast("long")))
    if (p.count() <= smallGraphEdges) {
      val es = p.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        // union by MIN id: the smaller root stays the representative
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val labeled = parent.keys.toSeq.map(id => (id, find(id)))
      val sizes = labeled.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val spark = pairs.sparkSession
      import spark.implicits._
      return labeled
        .map { case (id, lbl) => (id, lbl, sizes(lbl)) }
        .toDF("doc_id", "cluster_id", "cluster_size")
    }
    val ckpt: DataFrame => DataFrame = checkpointer match {
      case CheckpointStrategy.Local =>
        df => df.localCheckpoint(eager = true)
      case CheckpointStrategy.Reliable(dir) =>
        pairs.sparkSession.sparkContext.setCheckpointDir(dir)
        df => df.checkpoint(eager = true)
    }
    // cached PRE-PARTITIONED on the join key: every iteration's neighbor
    // join reads the edge list hash-partitioned by dst straight from
    // cache, so only the (small, changing) label side shuffles per
    // iteration — the edge list, the big side at scale, shuffles once
    val edges = Staging.barrier(
      p.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
        .repartition(col("dst")))
    var cur = Staging.barrier(
      edges.select(col("src").as("id")).distinct().withColumn("lbl", col("id")))
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIters) {
      val nbrMin = edges
        .join(cur.select(col("id").as("dst"), col("lbl").as("dlbl")), Seq("dst"))
        .groupBy("src").agg(min("dlbl").as("nlbl"))
      val prop = cur
        .join(nbrMin.withColumnRenamed("src", "id"), Seq("id"), "left")
        .select(col("id"), least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
      // pointer doubling: follow the label one hop (labels are node ids,
      // so lbl(lbl) is defined whenever the label is itself paired).
      // the eager checkpoint materializes AND truncates lineage —
      // see the scaladoc on exponential plan growth
      val next = ckpt(prop.as("x")
        .join(prop.select(col("id").as("lid"), col("lbl").as("llbl")),
          col("x.lbl") === col("lid"), "left")
        .select(col("x.id").as("id"), coalesce(col("llbl"), col("x.lbl")).as("lbl")))
      changed = next
        .join(cur.select(col("id"), col("lbl").as("plbl")), Seq("id"))
        .filter(col("lbl") =!= col("plbl")).count()
      // superseded: drop both the Dataset cache entry and (for
      // checkpointed iterations) the underlying checkpoint RDD blocks
      org.apache.spark.sql.graft.bridge.checkpointedRdd(cur)
        .foreach(_.unpersist(blocking = false))
      cur.unpersist(blocking = false)
      cur = next
      it += 1
    }
    require(changed == 0,
      s"connected components did not converge in $maxIters iterations")
    Staging.adopt(cur) // checkpointed blocks release with the query's frame
    val sizes = cur.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
    cur.join(sizes, Seq("lbl"))
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"), col("cluster_size"))
  }

  /** Apply a clustering to the corpus: keep every doc that is NOT a
    * non-survivor — i.e. docs outside any cluster (singletons) plus each
    * cluster's `doc_id == cluster_id` member. LEFT ANTI against the
    * (small) non-survivor id list, so the corpus streams through one
    * broadcast-able join; composes [[connectedComponents]] into an actual
    * corpus dedup (`keepSurvivors(corpus, id, connectedComponents(pairs))`). */
  def keepSurvivors(corpus: DataFrame, idCol: String, clusters: DataFrame): DataFrame =
    corpus.join(
      clusters.filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id").as("drop_id")),
      corpus(idCol) === col("drop_id"), "left_anti")

  /**
   * SOFT dedup — duplicate-aware REWEIGHTING instead of hard removal,
   * the documented alternative in recent corpus work (e.g. the
   * duplicate-count reweighting discussed alongside SemDeDup/D4-style
   * pruning): rather than privileging one survivor per near-dup
   * cluster, every copy gets keep-probability `(rateNum/rateDen)·1/n`
   * for cluster size n, so a cluster contributes rate·1 EXPECTED
   * document and the sampled corpus preserves cluster-internal
   * diversity. Per-document annotation: `(idCol, cluster_id,
   * cluster_size, keep_prob_micro)` with `keep_prob_micro =
   * (1e6·rateNum div rateDen) div n` (singletons — docs outside every
   * cluster — are their own size-1 cluster). One LEFT join of the
   * corpus against the (pair-derived, small) cluster table; map-only
   * past it.
   */
  def softDedupWeights(corpus: DataFrame, idCol: String,
      clusters: DataFrame, rateNum: Long = 1L, rateDen: Long = 1L)
      : DataFrame = {
    require(rateNum > 0 && rateDen > 0 && rateNum <= rateDen,
      "need 0 < rateNum/rateDen <= 1")
    val rateMicro = 1000000L * rateNum / rateDen
    corpus.select(col(idCol))
      .join(clusters.select(col("doc_id").as(idCol), col("cluster_id"),
        col("cluster_size")), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      .withColumn("keep_prob_micro",
        expr(s"${rateMicro}L div cluster_size"))
  }

  /**
   * The integer-exact Bernoulli SAMPLE at [[softDedupWeights]]'s
   * keep-probability — [[CorpusStats.weightedSample]]'s seedless
   * md5-uniform discipline with the per-cluster weight: keep doc iff
   *
   *   uint64(md5(id)[0:16]) · rateDen · cluster_size
   *     < 2^64 · rateNum
   *
   * all in DECIMAL(38,0)/HUGEINT (exact cross-engine, retry-stable;
   * P = rate/n per doc exactly). Hard dedup keeps exactly one doc per
   * cluster; this keeps rate·1 in expectation with no privileged
   * survivor. Returns the kept docs' annotation rows ([[
   * softDedupWeights]]'s shape). The guard mirrors weightedSample's:
   * both comparison sides must stay inside 38 digits — cluster sizes
   * are data, not a plan-time constant, so the bound is ENFORCED at
   * runtime ([[clusterSizeChecked]]): a `cluster_size` over
   * 10^38 / (2^64 · rateDen) raises a loud error instead of letting
   * the decimal product go null and silently drop the doc.
   */
  def softDedupSample(corpus: DataFrame, idCol: String,
      clusters: DataFrame, rateNum: Long = 1L, rateDen: Long = 1L)
      : DataFrame = {
    val weights = softDedupWeights(corpus, idCol, clusters, rateNum,
      rateDen)
    val lhs = CorpusStats.hexUint(CorpusStats.hex16(
        col(idCol).cast(StringType))) *
      lit(new java.math.BigDecimal(rateDen)) *
      clusterSizeChecked("softDedupSample", rateDen)
    val rhs = lit(new java.math.BigDecimal((BigInt(1) << 64).bigInteger)) *
      lit(new java.math.BigDecimal(rateNum))
    weights.filter(lhs < rhs)
  }

  /** The runtime DECIMAL(38,0) domain guard the soft-dedup predicates
    * share — [[CorpusStats.weightedSample]]'s plan-time `require`
    * translated to the data-dependent factor: the keep predicate's
    * LHS is `uint64(md5) · rateDen · cluster_size`, exact only while
    * `2^64 · rateDen · cluster_size < 10^38`; past that Spark's
    * decimal multiply returns null and a null comparison would
    * SILENTLY drop the document. So the bound is enforced per row:
    * a `cluster_size` above `10^38 div (2^64 · rateDen)` raises a
    * loud `raise_error` naming the function, the size and the
    * ceiling. Plan-time `require` rejects a `rateDen` so large no
    * cluster fits at all. */
  private def clusterSizeChecked(fn: String, rateDen: Long): Column = {
    // the `- 1` is a DELIBERATE one-count safety margin below the exact
    // DECIMAL(38,0) ceiling (r20 ADVICE noted floor(10^38/(2^64·rateDen))
    // itself is still exactly representable because hexUint < 2^64
    // strictly): the guard fires one cluster early rather than trusting
    // the open-bound argument on every engine's decimal overflow edge.
    // DedupSpec's boundary constants encode the same margin.
    val maxN = (BigInt(10).pow(38) /
      ((BigInt(1) << 64) * BigInt(rateDen)) - 1).min(BigInt(Long.MaxValue))
    require(maxN >= 1,
      s"$fn: rateDen=$rateDen leaves no exact DECIMAL(38,0) headroom " +
        "(need 2^64 * rateDen * cluster_size < 10^38)")
    val n = coalesce(col("cluster_size"), lit(1L))
    when(n > lit(maxN.toLong), raise_error(concat(
        lit(s"$fn: cluster_size "), n.cast(StringType),
        lit(s" overflows the exact DECIMAL(38,0) domain " +
          s"(rateDen=$rateDen allows cluster_size <= ${maxN.toLong})"))))
      .otherwise(n).cast(DecimalType(38, 0))
  }

  /**
   * The survivors-vs-reweighted CORPUS-SIZE report — one row comparing
   * hard dedup ([[keepSurvivors]]: exactly one doc per cluster) with
   * the soft sample ([[softDedupSample]] at rate 1): document and
   * whitespace-token totals for the full corpus, the hard survivors,
   * and the soft-kept set. One corpus pass (LEFT join to the cluster
   * table, conditional sums); the flags spell keepSurvivors'
   * semantics (survivor = singleton or the cluster's min-id member)
   * and the sample predicate inline, so the report is consistent with
   * both operators by construction.
   */
  def softDedupReport(corpus: DataFrame, idCol: String, textCol: String,
      clusters: DataFrame): DataFrame = {
    val lhs = CorpusStats.hexUint(CorpusStats.hex16(
        col(idCol).cast(StringType))) *
      clusterSizeChecked("softDedupReport", rateDen = 1L)
    val rhs = lit(new java.math.BigDecimal((BigInt(1) << 64).bigInteger))
    corpus.select(col(idCol), TextAnalysis.tokenCount(col(textCol))
        .as("ws"))
      .join(clusters.select(col("doc_id").as(idCol), col("cluster_id"),
        col("cluster_size")), Seq(idCol), "left")
      .select(col("ws"),
        (col("cluster_id").isNull || col("cluster_id") === col(idCol))
          .as("surv"),
        (lhs < rhs).as("kept"))
      .agg(count(lit(1)).as("n_docs"),
        sum("ws").as("ws_tokens"),
        sum(when(col("surv"), 1L).otherwise(0L)).as("n_hard_survivors"),
        sum(when(col("surv"), col("ws")).otherwise(0L))
          .as("hard_ws_tokens"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_soft_kept"),
        sum(when(col("kept"), col("ws")).otherwise(0L))
          .as("soft_ws_tokens"))
  }

  /** Paragraph-level dedup with DOCUMENT REASSEMBLY (the Dolma / CCNet
    * pipeline shape): every duplicated paragraph loses all but its FIRST
    * occurrence — global order (doc_id, chunk_idx) — and each document
    * is rebuilt from its surviving paragraphs. Corpus cleaning at
    * sub-document granularity: doc-level survivors (t19/[[keepSurvivors]])
    * drop whole documents, span duplication (t27) only FLAGS repeated
    * grams; this operator actually rewrites the text.
    *
    * The synthetic corpus has no newline boundaries, so "paragraph" is a
    * fixed NON-OVERLAPPING token chunk ([[TextAnalysis.chunkDocuments]]
    * with overlap 0 — non-overlap makes reassembly lossless); with a
    * natural paragraph splitter the pipeline is unchanged (the chunker
    * is the injectable boundary). Dedup is exact on chunk text (md5
    * groups — the t1 exact-dedup precedent), INCLUDING within-document
    * repeats: a paragraph repeated inside one doc keeps only its first
    * copy, as in Dolma's paragraph dedup.
    *
    * Shape at 100 TB: one md5-keyed aggregation carrying digests + two
    * longs (map-side combinable `min(struct(doc_id, chunk_idx))` — the
    * CDC struct-max pattern), one h-equi join to flag occurrences (the
    * only shuffle that moves chunk text), one doc_id shuffle to
    * reassemble. No corpus-wide windows, no sort of text rows; the
    * per-doc `sort_array` orders only that doc's surviving chunks.
    *
    * Output: (doc_id, n_chunks, n_kept, clean_text) for every doc with
    * at least one chunk; a doc whose every paragraph was seen earlier
    * reassembles to the empty string (the caller's drop-or-keep policy).
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int,
      maxDocTokens: Int = DefaultMaxDocTokens): DataFrame = {
    // chunk boundaries come from the ONE shared spelling
    // (TextAnalysis.chunkStructs) the streaming twin also uses; tokens
    // are a materialized attribute per the lambda-closure rule, guarded
    // by the reassembly-buffer contract ([[DefaultMaxDocTokens]])
    val toks = Staging.barrier(
      df.select(col(idCol).as("doc_id"),
        guardedTokens(col(textCol), col(idCol), maxDocTokens,
          "paragraphDedup").as("t")))
    val chunks = Staging.barrier(
      toks.select(col("doc_id"),
          explode(TextAnalysis.chunkStructs(col("t"), chunkTokens)).as("c"))
        .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
          col("c.chunk_text").as("chunk_text"),
          md5(col("c.chunk_text")).as("h")))
    val first = chunks.groupBy("h")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("f"))
    chunks.join(first, Seq("h"))
      .select(col("doc_id"), col("chunk_idx"), col("chunk_text"),
        (col("f.doc_id") === col("doc_id") &&
          col("f.chunk_idx") === col("chunk_idx")).as("keep"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        count(when(col("keep"), 1)).as("n_kept"),
        concat_ws(" ", transform(
          sort_array(collect_list(when(col("keep"),
            struct(col("chunk_idx"), col("chunk_text"))))),
          x => x.getField("chunk_text"))).as("clean_text"))
  }

  /** Reassembly-buffer contract shared by the document-rewriting
    * operators ([[paragraphDedup]], [[spanDedup]]): their final per-doc
    * aggregate holds one document's surviving text in a single buffer
    * row, so an unbounded document is an executor-OOM hazard, not a
    * correctness hazard. Mirroring the F13 1000-char token-cap
    * discipline, the bound is EXPLICIT: a document over `maxDocTokens`
    * fails the job loudly (`assert_true`, map-side, before any shuffle)
    * instead of dying opaquely in an aggregation spill. 2^20 tokens
    * (several MB of text) is far above any sane training document;
    * callers with bigger rows should chunk first (t30). */
  val DefaultMaxDocTokens: Int = 1 << 20

  /** Tokens of `textCol`, guarded by the [[DefaultMaxDocTokens]]
    * contract: evaluates the token array once (let-bound), asserts the
    * bound, and returns the array unchanged. */
  private def guardedTokens(textCol: Column, idCol: Column,
      maxDocTokens: Int, op: String): Column =
    ExprUtil.bound(tokens(textCol)) { tt =>
      when(assert_true(size(tt) <= lit(maxDocTokens),
        concat(lit(s"$op: document "), idCol.cast("string"), lit(" has "),
          size(tt).cast("string"),
          lit(s" tokens > maxDocTokens=$maxDocTokens (reassembly-buffer " +
            "contract; chunk oversized docs first)"))).isNull, tt)
    }

  /** Chunk-id stride for [[fuzzyParagraphDedup]]: chunk id =
    * `doc_id · 2²¹ + chunk_idx`. 2²¹ > [[DefaultMaxDocTokens]] bounds
    * chunk_idx (even 1-token chunks), so the encoding is collision-free
    * and ORDER-PRESERVING — min chunk id ≡ min (doc_id, chunk_idx), the
    * keep-first rule's total order. Contract: doc ids fit 42 bits
    * (4·10¹² documents — beyond any current corpus). */
  val ChunkIdStride: Long = 1L << 21

  /** FUZZY paragraph dedup (CCNet's near-duplicate paragraph removal on
    * top of t48's exact rule): chunks are rows, so the WHOLE document
    * near-dup stack applies unchanged at chunk granularity —
    * [[minhashLshPairs]] (shingle → minhash → banded candidates → exact
    * Jaccard ≥ `threshold`) finds near-dup chunk PAIRS,
    * [[connectedComponents]] closes them into clusters, each cluster
    * keeps only its first (doc_id, chunk_idx) member (singletons pass),
    * and documents reassemble exactly as [[paragraphDedup]]. Exact
    * duplicates are a subcase (identical text ⇒ identical signature ⇒
    * banded candidate ⇒ Jaccard 1), so this strictly widens t48.
    *
    * Scale shape: exact-duplicate chunks COLLAPSE to one representative
    * per distinct text before LSH (see the in-body comment — provably
    * result-identical, and it removes the M² candidate clique a
    * verbatim-repeated chunk would otherwise cost), so the LSH stack
    * shuffles one signature row per DISTINCT chunk, never text and
    * never per-occurrence; cluster state is two longs per paired
    * representative. Chunk text moves exactly twice — the h-flag join
    * and the doc_id reassembly — t48's budget. */
  def fuzzyParagraphDedup(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, n: Int, k: Int, bandSize: Int, numBands: Int,
      threshold: Double,
      maxDocTokens: Int = DefaultMaxDocTokens): DataFrame = {
    val toks = Staging.barrier(
      df.select(col(idCol).as("doc_id"),
        guardedTokens(col(textCol), col(idCol), maxDocTokens,
          "fuzzyParagraphDedup").as("t")))
    val chunks = Staging.barrier(
      toks.select(col("doc_id"),
          explode(TextAnalysis.chunkStructs(col("t"), chunkTokens)).as("c"))
        .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
          col("c.chunk_text").as("chunk_text"))
        .withColumn("cid",
          col("doc_id") * lit(ChunkIdStride) + col("chunk_idx"))
        .withColumn("h", md5(col("chunk_text"))))
    // EXACT-COLLAPSE before LSH — the clique killer: a chunk duplicated
    // verbatim across M documents would put M ids in one LSH bucket and
    // cost M²/2 candidate pairs (fatal at corpus scale, where exact
    // repetition is the dominant duplication mode). Identical text ⇒
    // identical signature AND identical verified Jaccard against any
    // third chunk, so LSH over one representative per distinct text
    // (the group's min cid) yields EXACTLY the same connected
    // components, and each component's min representative IS the global
    // min cid (representatives are group minima; the encoding is order-
    // preserving). `first(s/bands)` is deterministic: every value in an
    // h-group is byte-identical by construction.
    val chFrame =
      chunks.select(col("cid"), col("h"), tokens(col("chunk_text")).as("ct"))
        .filter(size(col("ct")) >= n)
        .select(col("cid"), col("h"),
          graft.functions.ShingleLshBands(col("ct"), n, k, bandSize, numBands)
            .as("sl"))
        .select(col("cid"), col("h"),
          col("sl.s").as("s"), col("sl.bands").as("bands"))
    val repFrame = Staging.barrier(
      chFrame.groupBy("h")
        .agg(min(col("cid")).as("id"),
          first(col("s")).as("s"), first(col("bands")).as("bands")))
    val pairs = minhashLshPairsFromFrame(repFrame, threshold)
      .select("id_a", "id_b")
    val cc = connectedComponents(pairs)
      .select(col("doc_id").as("rcid"), col("cluster_id"))
    // (h → effective cluster) for every distinct chunk text: the CC
    // label when the representative paired, else the representative
    // itself (pure exact-dup group). Distinct-chunk-sized, digests+longs.
    val hMap = repFrame.select(col("h"), col("id").as("rcid"))
      .join(cc, Seq("rcid"), "left")
      .select(col("h"), coalesce(col("cluster_id"), col("rcid")).as("eff"))
    // chunks too short to shingle never enter the frame → no h match →
    // always kept (mirrors the oracle's empty-shingle exclusion)
    chunks.join(hMap, Seq("h"), "left")
      .select(col("doc_id"), col("chunk_idx"), col("chunk_text"),
        (col("eff").isNull || col("eff") === col("cid")).as("keep"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        count(when(col("keep"), 1)).as("n_kept"),
        concat_ws(" ", transform(
          sort_array(collect_list(when(col("keep"),
            struct(col("chunk_idx"), col("chunk_text"))))),
          x => x.getField("chunk_text"))).as("clean_text"))
  }

  /** 60-bit token hash: first 15 hex chars of md5, parsed base-16 —
    * portable (DuckDB: CAST('0x'||substr(md5(t),1,15) AS BIGINT)). */
  def tokenHash60(tok: Column): Column =
    conv(substring(md5(tok), 1, 15), 16, 10).cast(LongType)

  /** SimHash over the low `bits` bits of the 60-bit token hashes: bit b is
    * set iff the majority of tokens have bit b set (ties → unset).
    * Prefer [[simhashFromHashes]] over a MATERIALIZED hash column — this
    * convenience form re-evaluates the token-hash pipeline in each of the
    * `bits` per-bit aggregates. */
  def simhash(toks: Column, bits: Int = 32): Column =
    simhashFromHashes(transform(toks, tokenHash60(_)), bits)

  /** SimHash from a (materialized) array<long> token-hash column. */
  def simhashFromHashes(hs: Column, bits: Int = 32): Column = {
    val bitCols = (0 until bits).map { b =>
      val contrib = aggregate(hs, lit(0),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1).otherwise(-1))
      when(contrib > 0, lit(1L << b)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup PAIRS with PIGEONHOLE-EXACT banding: the
    * `bits`-bit simhash splits into `bands` contiguous bit bands; two
    * hashes within hamming distance `maxDist` < bands differ in at most
    * `maxDist` bands, so they MUST agree on at least one — the band
    * bucket join has provably FULL recall at the distance bound, unlike
    * minhash banding's probabilistic recall (the t26 oracle exploits
    * this: it is the exhaustive quadratic join, and the driver hash
    * proves the banded plan reproduces it exactly). Candidates are
    * verified with the exact popcount hamming; the self-join shuffles
    * (band_idx, band_value, id, hash) — 8-byte keys, never documents. */
  def simhashPairs(sh: DataFrame, idCol: String, simhashCol: String,
      bits: Int = 32, bands: Int = 4, maxDist: Int = 3): DataFrame = {
    require(maxDist < bands, "pigeonhole recall needs maxDist < bands")
    require(bits % bands == 0, "bits must divide evenly into bands")
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    val ex = sh.select(col(idCol).as("id"), col(simhashCol).as("h"))
      .select(col("id"), col("h"),
        posexplode(array((0 until bands).map(b =>
          shiftright(col("h"), b * bandBits).bitwiseAND(lit(mask))): _*))
          .as(Seq("band_idx", "bv")))
    val a = ex.as("a")
    val b = ex.as("b")
    a.join(b, col("a.band_idx") === col("b.band_idx") &&
        col("a.bv") === col("b.bv") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming(col("a.h"), col("b.h")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  /** Span-level duplication metrics — the substring analogue of document
    * dedup (ExactSubstr: "Deduplicating Training Data Makes Language
    * Models Better", Lee et al. 2022). A token n-gram is DUPLICATED when
    * it occurs in ≥ 2 distinct documents; per document we report how much
    * of it is built from duplicated grams and the longest contiguous
    * duplicated span. Unlike the suffix-array formulation, this
    * gram-frequency formulation is a pure shuffle-aggregation pipeline —
    * no pairwise joins, no global sort:
    *
    *   1. tokens staged (materialized attribute — lambda-closure rule),
    *      gram occurrences posexploded with their position;
    *   2. duplicated-gram set = groupBy(gram digest) HAVING
    *      count(DISTINCT doc) ≥ 2 — shuffles 16-byte digests, never text.
    *      A 128-bit digest stands in for the gram (collision odds over
    *      even 10^12 distinct grams ~ 10^-15, far below hardware error);
    *   3. LEFT SEMI join of positions against the duplicated set (AQE
    *      broadcasts it when small, shuffle-hash otherwise);
    *   4. run-length of consecutive duplicated positions via the
    *      pos − row_number trick under a PARTITIONED window (per-doc,
    *      no global sort), then one per-doc aggregate.
    *
    * Returns (doc_id, n_grams, dup_grams, dup_fraction,
    * max_dup_span_tokens): `dup_fraction` is a single division of exact
    * integers (bit-identical across engines — the t24 rationale);
    * `max_dup_span_tokens` = longest duplicated run + (gram−1), i.e. the
    * token length of the longest substring shared verbatim with another
    * document (0 when none). Docs shorter than `gram` tokens report all
    * zeros. The cross-doc threshold is distinct DOCUMENTS, so a phrase
    * repeated only within one doc does not count (that is
    * [[graft.operators.TextAnalysis.repetitionScores]]'s job). */
  def spanDuplication(df: DataFrame, idCol: String, textCol: String,
      gram: Int): DataFrame = {
    val toks = Staging.barrier(
      df.select(col(idCol).as("id"), tokens(col(textCol)).as("t")))
    // (id, pos, gram-digest) — staged: consumed by the dup-set aggregate,
    // the semi join probe, and the per-doc totals. The digests come from
    // the fused kernel (one static call streaming each gram's bytes),
    // byte-equal to the composed transform(gramOccurrences)+md5 it
    // replaced (DedupSpec)
    val ex = Staging.barrier(
      toks.select(col("id"),
          posexplode(graft.functions.GramMd5s(col("t"), gram))
            .as(Seq("pos", "gh"))))
    val dupSet = ex.groupBy("gh")
      .agg(count_distinct(col("id")).as("ndocs"))
      .filter(col("ndocs") >= 2)
      .select("gh")
    val flagged = ex.join(dupSet, Seq("gh"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("pos")
    val runs = flagged
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("id", "grp").agg(count(lit(1)).as("run"))
      .groupBy("id").agg(max(col("run")).as("max_run"),
        sum(col("run")).as("dup_grams"))
    val totals = ex.groupBy("id").agg(count(lit(1)).as("n_grams"))
    df.select(col(idCol).as("id"))
      .join(totals, Seq("id"), "left")
      .join(runs, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0.0))
          .otherwise(coalesce(col("dup_grams"), lit(0L)) * lit(1.0)
            / col("n_grams")).as("dup_fraction"),
        coalesce(col("max_run") + lit(gram - 1L), lit(0L))
          .as("max_dup_span_tokens"))
  }

  /** Span REMOVAL — true ExactSubstr dedup (Lee et al. 2022, §3:
    * "deduplicating training data makes language models better" CUTS
    * every duplicated byte range and rejoins the remainder; t27's
    * [[spanDuplication]] only FLAGS them). Composes t27's run-length
    * spans with t48's reassembly:
    *
    *   1. duplicated-gram runs exactly as t27 (gram-digest aggregation,
    *      cross-doc df ≥ 2, pos − row_number runs under a per-doc
    *      window) — corpus-sized shuffles carry 16-byte digests only;
    *   2. each maximal run becomes a SPAN `[start, start+run+gram−2]`
    *      keyed by md5 over its ordered gram-digest sequence — equal
    *      span text ⇔ equal digest sequence (128-bit digests stand in
    *      for grams, the t27 collision rule), so the key is computed
    *      from digests already in flight and the corpus text is never
    *      joined, never shuffled;
    *   3. keep-first: per span key, min(doc_id, start) survives (the
    *      t48 rule at span granularity); every other occurrence's token
    *      range is removed;
    *   4. reassembly is MAP-SIDE: removal ranges aggregate to one tiny
    *      (doc_id, ranges) row per affected doc, join back to the token
    *      arrays (AQE broadcasts the small side), and a positional
    *      `filter` drops covered tokens — no token-level explode, no
    *      text shuffle at all.
    *
    * Overlap semantics: removal is the UNION of removed ranges — a kept
    * first-occurrence span partially covered by some other removed
    * range loses the intersection (document order, not span identity,
    * is what reassembly preserves). Docs shorter than `gram` tokens
    * pass through untouched; a fully-duplicated later doc reassembles
    * to the empty string (caller's drop-or-keep policy, as t48).
    *
    * Output: (doc_id, n_tokens, n_kept, clean_text). */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
      gram: Int, maxDocTokens: Int = DefaultMaxDocTokens): DataFrame = {
    val toks = Staging.barrier(
      df.select(col(idCol).as("doc_id"),
        guardedTokens(col(textCol), col(idCol), maxDocTokens,
          "spanDedup").as("t")))
    val ex = Staging.barrier(
      toks.select(col("doc_id"),
        posexplode(graft.functions.GramMd5s(col("t"), gram))
          .as(Seq("pos", "gh"))))
    val dupSet = ex.groupBy("gh")
      .agg(count_distinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= 2)
      .select("gh")
    val flagged = ex.join(dupSet, Seq("gh"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val spans = flagged
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "grp")
      .agg(min(col("pos")).as("start"), count(lit(1)).as("run"),
        md5(concat_ws("", transform(
          sort_array(collect_list(struct(col("pos"), col("gh")))),
          x => x.getField("gh")))).as("sh"))
      .select(col("doc_id"), col("start"),
        (col("start") + col("run") + lit(gram - 2L)).as("last"), col("sh"))
    val firsts = spans.groupBy("sh")
      .agg(min(struct(col("doc_id"), col("start"))).as("f"))
    val rmRanges = spans.join(firsts, Seq("sh"))
      .filter(!(col("f.doc_id") === col("doc_id") &&
        col("f.start") === col("start")))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("start"), col("last"))).as("rm"))
    toks.join(rmRanges, Seq("doc_id"), "left")
      .select(col("doc_id"), col("t"),
        coalesce(col("rm"),
          array().cast("array<struct<start:int,last:bigint>>")).as("rm"))
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
        ExprUtil.bound(filter(col("t"), (_, i) =>
          !exists(col("rm"), r =>
            i >= r.getField("start") && i <= r.getField("last")))) { kept =>
          struct(size(kept).cast("long").as("n_kept"),
            concat_ws(" ", kept).as("clean_text"))
        }.as("k"))
      .select(col("doc_id"), col("n_tokens"),
        col("k.n_kept").as("n_kept"), col("k.clean_text").as("clean_text"))
  }

  /**
   * Leakage-safe train/val/test split — the evaluation-hygiene twin of
   * the dedup pipeline: the split is assigned per NEAR-DUP CLUSTER,
   * not per document, so two near-duplicates can never straddle the
   * train/test boundary (the classic benchmark-contamination leak that
   * per-document hash splits silently commit). Documents outside any
   * cluster are their own singleton cluster.
   *
   * Deterministic by construction: the bucket is the repo's md5-prefix
   * hash of the cluster id mod 100, cut at `trainPct` /
   * `trainPct + valPct` — rerunning on the same corpus reproduces the
   * split bit-for-bit, and appending new documents never moves an
   * existing cluster (hash of a stable id). The cluster table is
   * pair-participant-sized (≪ corpus); the assignment join is
   * doc-keyed and AQE-broadcastable.
   */
  def leakageSafeSplit(docs: DataFrame, idCol: String, clusters: DataFrame,
      trainPct: Int, valPct: Int): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      s"need 0 < trainPct($trainPct) and trainPct+valPct < 100")
    val bucket = conv(substring(md5(col("cluster_id").cast("string")), 1, 4),
      16, 10).cast("long") % 100
    docs.select(col(idCol).as("doc_id"))
      .join(clusters.select("doc_id", "cluster_id"), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split",
        when(bucket < trainPct, "train")
          .when(bucket < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /**
   * Cross-document duplicate n-gram fraction — the RefinedWeb /
   * MassiveText `dup_ngram` corpus-quality metric: for each document,
   * the share of its DISTINCT word n-grams that also occur in at least
   * one OTHER document. (Intra-document repetition is the separate
   * [[TextAnalysis.repetitionScores]] family; this one measures
   * corpus-level boilerplate pressure per document and is the standard
   * pre-filter signal before span-level dedup.)
   *
   * Plan: per-doc distinct gram IDS ([[hashedShingles]] — 8-byte
   * xxhash64 currency, strings never shuffle), explode once into a
   * persisted (id, g) frame, document-frequency aggregate by gram,
   * join back by gram, per-doc count aggregate. The df groupBy and the
   * join shuffle on the SAME key (g), so the exploded frame moves
   * twice but partitions identically; the final aggregate shuffles
   * doc-keyed counts only. At 100 TB the persisted exploded frame is
   * corpus-scale — swap the barrier for a `Reliable` checkpoint or
   * drop it and let ReuseExchange share the gram-keyed shuffle.
   *
   * `dup_frac_micro` is integer fixed-point (`n_dup·10⁶ div n_grams`,
   * both non-negative — `div` agrees cross-engine); docs shorter than
   * `n` tokens have no grams and produce no row (mirrored by the
   * oracle).
   */
  def dupGramFractions(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val ex = Staging.barrier(
      hashedShingles(df, idCol, textCol, n)
        .select(col("id"), explode(col("s")).as("g")))
    val dfCounts = ex.groupBy("g").agg(count(lit(1)).as("df"))
    ex.join(dfCounts, Seq("g"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac_micro", expr("n_dup * 1000000 div n_grams"))
  }
}
