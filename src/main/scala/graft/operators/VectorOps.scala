package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Embedding similarity operators (builder-prompt extension surface).
 *
 * The dot product folds LEFT-TO-RIGHT in index order over doubles
 * (`aggregate` ∘ `zip_with`), which is bit-identical to DuckDB's
 * `list_dot_product` over DOUBLE[] — verified empirically — so the
 * differential oracle compares exactly, no tolerance needed.
 *
 * Scale notes (100 TB):
 *   - Brute-force top-k is a broadcast NESTED-loop only when the query
 *     set is small (broadcast the queries, stream the corpus — one pass,
 *     no shuffle of the big side; the per-partition top-k is folded by
 *     TakeOrdered). It is the CORRECTNESS baseline.
 *   - The scale path is sign-LSH bucketing: an 8-bit signature from the
 *     sign pattern of fixed dimensions buckets the corpus; candidate
 *     generation is a bucket equi-join. Recall tuning = more/rotated
 *     signatures (multi-probe), still shuffle-light.
 */
object VectorOps {

  /** float[] → double[] (exact widening; keeps FP folds deterministic). */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Dot product over two double arrays — the native fused-loop
    * expression ([[graft.functions.DotProduct]]); bit-identical to the
    * composed fold it replaced (kept below for the equivalence test). */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct(a, b)

  /** The composed-built-ins formulation (`aggregate ∘ zip_with`):
    * allocates an intermediate product array per row — retained as the
    * semantic baseline the native expression is property-tested against. */
  def dotComposed(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(v: Column): Column = sqrt(dot(v, v))

  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** Corpus with precomputed double vector + norm. */
  def prepared(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))

  /** Deterministic ±1 sign matrix for [[randomProjection]]:
    * `signs(j)(i)` is +1.0 when the first hex digit of `md5("i:j")` is
    * even, else −1.0 — reproducible on any engine from md5 alone (the
    * DuckDB oracle regenerates the identical matrix in SQL), so a
    * retried or cross-engine run projects bit-identically. No RNG
    * state anywhere (the t18/hardNegatives determinism rationale). */
  def projectionSigns(inDim: Int, outDim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(outDim) { j =>
      Array.tabulate(inDim) { i =>
        val d = md.digest(s"$i:$j".getBytes("UTF-8"))
        // first hex digit = high nibble of byte 0
        if (((d(0) >> 4) & 0xf) % 2 == 0) 1.0 else -1.0
      }
    }
  }

  /**
   * Random-projection dimensionality reduction (Achlioptas-style ±1
   * matrix): each output coordinate j is `dot(v, signs_j)` — the
   * Johnson–Lindenstrauss scale path that shrinks an embedding column
   * BEFORE index build / pair generation, cutting every downstream
   * shuffle and scan by inDim/outDim.
   *
   * Scale shape: MAP-ONLY — `outDim` fused codegen dot products per
   * row ([[graft.functions.DotProduct]]), zero shuffles; the sign
   * matrix is an `inDim × outDim` driver-side literal (metadata scale,
   * e.g. 64×16 doubles), never a join side. The unscaled sum is kept
   * (no 1/√outDim factor): downstream cosine is scale-invariant and
   * the integer-micro gate stays exact.
   */
  def randomProjection(df: DataFrame, idCol: String, vecCol: String,
      inDim: Int, outDim: Int): DataFrame = {
    val signs = projectionSigns(inDim, outDim)
    df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .select(col("id"), array((0 until outDim).map(j =>
        dot(col("v"), typedLit(signs(j).toSeq))): _*).as("proj"))
  }

  /**
   * RP-filtered exact search — the production shape for
   * [[randomProjection]]: score the corpus in the CHEAP projected
   * space (outDim-wide dot products, inDim/outDim less arithmetic and
   * shuffle width per comparison), keep the top `nCand` candidates per
   * query, then re-rank ONLY those candidates with exact full-space
   * cosine and emit the top `k`. Any true neighbor inside the
   * candidate set survives the exact re-rank by construction, so
   * recall@k equals candidate containment — the JL knob is `nCand`
   * (t85 gates the measured recall against the DuckDB twin).
   *
   * At 100 TB the projected pass composes with the IVF/PQ family
   * (project, then coarse-quantize the projected space); here it is
   * the one-pass broadcast scan [[bruteForceTopK]] uses, at a quarter
   * of the width.
   */
  def rpRerankTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, inDim: Int, outDim: Int, nCand: Int, k: Int): DataFrame = {
    val pc = randomProjection(corpus, idCol, vecCol, inDim, outDim)
    val pq = randomProjection(queries, idCol, vecCol, inDim, outDim)
    val cand = bruteForceTopK(pc, pq, "id", "proj", nCand)
      .select(col("query_id"), col("neighbor_id"))
    val c = prepared(corpus, idCol, vecCol)
    val q = prepared(queries, idCol, vecCol)
      .select(col("id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = cand
      .join(c.select(col("id").as("neighbor_id"), col("v"), col("nrm")),
        Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** All pairs (id_a < id_b) with cosine ≥ threshold — near-duplicate
    * detection by embedding. QUADRATIC (corpus×corpus nested loop):
    * test-only oracle baseline. The gated, scale-safe form is
    * [[bucketedNearDupPairs]] (banded sign-LSH candidates → exact
    * verify); DedupSpec asserts the two agree on the planted pairs. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val p = prepared(df, idCol, vecCol)
    val a = p.as("a"); val b = p.as("b")
    a.join(b, col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosine(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (excluding itself). Queries side is broadcast. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = prepared(corpus, idCol, vecCol)
    val q = prepared(queries, idCol, vecCol)
      .withColumnRenamed("id", "query_id")
      .withColumnRenamed("v", "qv").withColumnRenamed("nrm", "qnrm")
    val scored = c.join(broadcast(q), col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive training pairs (the DPR /
    * SimCSE data-prep step): per query, POSITIVES are the top-`k` cosine
    * neighbors and NEGATIVES are `nNeg` vectors sampled from the "hard"
    * band of ranks (k, m] — similar enough to be informative, ranked too
    * low to be positives. Sampling is a DETERMINISTIC md5 order over
    * (query_id, neighbor_id) — the t18 rationale: a retried job emits the
    * same pairs, no RNG state to carry.
    *
    * Gated on brute-force scoring (exact ranks); at 100 TB swap the
    * `ranked` stage for the IVF probe ([[ivfSq8TopK]] with k = m) — the
    * banding + hash-sample stages are index-agnostic, and the window is
    * PARTITIONED by query (no global sort). */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int, nNeg: Int): DataFrame = {
    require(m > k, s"negative band (k=$k, m=$m] is empty")
    require(nNeg > 0, "nNeg must be positive")
    val ranked = bruteForceTopK(corpus, queries, idCol, vecCol, m)
    val pos = ranked.filter(col("rank") <= k).withColumn("role", lit("pos"))
    val wNeg = Window.partitionBy("query_id").orderBy(
      md5(concat_ws(":", col("query_id"), col("neighbor_id"))),
      col("neighbor_id"))
    val neg = ranked.filter(col("rank") > k)
      .withColumn("srn", row_number().over(wNeg))
      .filter(col("srn") <= nNeg)
      .drop("srn").withColumn("role", lit("neg"))
    pos.unionByName(neg)
  }

  /** FILTERED cosine top-k — vector search restricted by a metadata
    * predicate: each query's neighbors must match it on every column in
    * `matchCols` (the "search within category/tenant/language" shape a
    * vector store exposes). The predicate lives IN the join condition,
    * so non-matching vectors are never scored; at 100 TB this composes
    * with clustering the corpus by the filter columns, turning the
    * predicate into partition pruning before the scan. With an IVF
    * index, apply the same predicate to the probed cells' members
    * (search-time filter) rather than re-training per filter value. */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, matchCols: Seq[String], k: Int): DataFrame = {
    require(matchCols.nonEmpty, "filteredTopK needs at least one match column")
    def prep(df: DataFrame, p: String): DataFrame =
      df.select(Seq(col(idCol).as(p + "id"), asDouble(col(vecCol)).as(p + "v"))
          ++ matchCols.map(m => col(m).as(p + m)): _*)
        .withColumn(p + "nrm", norm(col(p + "v")))
    val c = prep(corpus, "c_")
    val q = prep(queries, "q_")
    val cond = (col("c_id") =!= col("q_id")) +: matchCols.map(m =>
      col("c_" + m) === col("q_" + m))
    val scored = c.join(broadcast(q), cond.reduce(_ && _))
      .select(Seq(col("q_id").as("query_id"), col("c_id").as("neighbor_id")) ++
        matchCols.map(m => col("q_" + m).as(m)) :+
        cosine(col("q_v"), col("c_v"), col("q_nrm"), col("c_nrm")).as("cos"): _*)
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /**
   * IVF coarse quantizer: one centroid per `labelCol` cell, computed with
   * EXACT decimal per-dimension sums (a double-sum groupBy is
   * order-nondeterministic; decimal sums are associative, and the final
   * decimal→double cast + division is deterministic — so centroids are
   * bit-identical across engines and runs). In an unsupervised setting
   * the label is replaced by a k-means assignment; the index structure
   * (centroid table → cell assignment → probe) is identical.
   */
  def labelCentroids(df: DataFrame, vecCol: String, labelCol: String): DataFrame = {
    val ex = df.select(col(labelCol).as("label"),
      posexplode(asDouble(col(vecCol))).as(Seq("pos", "v")))
    ex.groupBy("label", "pos")
      .agg(sum(col("v").cast("decimal(27,12)")).as("s"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        (col("s").cast("double") / col("n")).as("cv"))
      .groupBy("label")
      .agg(sort_array(collect_list(struct(col("pos"), col("cv")))).as("pc"))
      .select(col("label"), transform(col("pc"), x => x("cv")).as("c"))
  }

  /** IVF ANN: assign each query to its nearest centroid (cosine,
    * label-ascending tie-break), then exact top-k within that single
    * cell (nprobe = 1). Scale shape: the centroid table is broadcast;
    * the corpus is partitioned by cell; a probe touches one partition. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, labelCol: String,
      queryPred: Column, k: Int): DataFrame = {
    val cent = labelCentroids(df, vecCol, labelCol)
      .withColumn("cnrm", norm(col("c")))
    val p = df.select(col(idCol).as("id"), col(labelCol).as("cell"),
        asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = p.filter(queryPred)
      .select(col("id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scoredCent = q.join(broadcast(cent))
      .select(col("query_id"), col("qv"), col("qnrm"), col("label"),
        cosine(col("qv"), col("c"), col("qnrm"), col("cnrm")).as("cs"))
    val wq = Window.partitionBy("query_id").orderBy(col("cs").desc, col("label").asc)
    val assigned = scoredCent.withColumn("rn", row_number().over(wq))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("qv"), col("qnrm"), col("label").as("cell"))
    val scored = assigned.join(p, Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  // -------------------------------------------------------------------
  // Trained coarse quantizer: deterministic k-means (Lloyd)
  // -------------------------------------------------------------------

  /** Per-vector scores against a LITERAL centroid table, as an array of
    * struct(negcs, label) — negated cosine so an ASCENDING struct sort
    * (and `least`) yields "cos desc, label asc", matching the oracle's
    * `ORDER BY cs DESC, label`. Centroids are literals, so this is
    * map-side: ZERO shuffle for assignment/probing, the property that
    * makes the index usable at corpus scale. */
  private def centScores(v: Column, nrm: Column,
      cent: Seq[(Int, Array[Double])]): Column =
    array(cent.map { case (label, c) =>
      val cl = typedLit(c.toSeq)
      struct((-(dot(v, cl) / (nrm * norm(cl)))).as("negcs"),
        lit(label).as("label"))
    }: _*)

  /** The `nprobe` nearest cells for a vector (cos desc, label asc). */
  def probeCells(v: Column, nrm: Column, cent: Seq[(Int, Array[Double])],
      nprobe: Int): Column =
    transform(slice(sort_array(centScores(v, nrm, cent)), 1, nprobe),
      x => x("label"))

  /** Nearest-cell assignment (argmax cosine, ties → lowest label). */
  def assignCell(v: Column, nrm: Column,
      cent: Seq[(Int, Array[Double])]): Column =
    element_at(probeCells(v, nrm, cent, 1), 1)

  /**
   * Deterministic k-means (Lloyd) coarse quantizer, expressed as
   * DataFrame jobs:
   *
   *   - SEEDS: the k vectors with the smallest `(md5(id), id)` — a
   *     pseudo-random but engine-portable draw (the DuckDB oracle
   *     replicates it exactly; xxhash64 would not port);
   *   - ASSIGN: map-side argmax cosine against literal centroids (no
   *     shuffle — see [[centScores]]);
   *   - UPDATE: per-dimension mean from EXACT decimal sums (double sums
   *     are order-nondeterministic; decimal sums are associative), so
   *     iterated centroids are bit-identical across runs AND engines;
   *   - empty clusters drop out (both engines compute "group-by of the
   *     assignment", so the policy ports by construction).
   *
   * The centroid table is collected per iteration: it is k·dim doubles of
   * index METADATA (the thing every IVF implementation broadcasts), not
   * data — the corpus is never collected. Each iteration costs one scan +
   * one (label, pos)-keyed aggregation, the minimal Lloyd step.
   */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): Seq[(Int, Array[Double])] =
    // barrier: every Lloyd iteration re-reads this projection (seed draw
    // + iters× assignment scans) — unstaged, each iteration re-runs the
    // source scan and the norm computation; staged, the corpus is read
    // once and the loop iterates over the materialization
    kmeansCentroidsPrepared(Staging.barrier(prepared(df, idCol, vecCol)), k, iters)

  /** Row bound for [[kmeansCentroidsPrepared]]'s driver fast path:
    * 100k vectors ≈ 64 MB of doubles at dim 64 — broadcast-scale driver
    * memory. Training state (centroids) was ALWAYS driver-side; under
    * the bound the training DATA pass joins it, turning `iters`
    * distributed jobs of pure fixed latency into one in-memory loop.
    * Past the bound the distributed Lloyd loop engages automatically —
    * and at real corpus scale production trains on a SAMPLE anyway
    * (FAISS's train/add split), which this bound models honestly. */
  val SmallCorpusRows: Long = 100L * 1000

  /** Left-to-right sequential dot — byte-identical to the
    * [[graft.functions.DotProduct]] kernel's accumulation order. */
  private def dotSeq(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  private val HexChars = "0123456789abcdef".toCharArray

  private def md5HexStr(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** The md5-ordered seed draw shared by both local trainers, with the
    * sort key computed ONCE per row — `sortBy(md5…)` re-derives the
    * digest on EVERY comparison (~2·n·log n of them), which measured as
    * ~4.5 s of pure key recomputation at n = 20k, dwarfing the Lloyd
    * loop itself. */
  private def md5OrderedIds(ids: Array[Long]): Array[Int] =
    ids.indices.toArray
      .map(i => (md5HexStr(ids(i).toString), ids(i), i))
      .sortBy { case (h, id, _) => (h, id) }
      .map(_._3)

  /** The Lloyd loop in driver memory — REPLICATES the distributed jobs
    * operation-for-operation so the result is bit-identical (the t12/
    * t15/t40/t47 oracles cannot tell which path trained): md5-ordered
    * seed draw; argmax-cosine assignment with the same sequential dot,
    * the same `-(cos)` negation and `java.lang.Double.compare` tie
    * order; per-dimension means as EXACT java BigDecimal sums of the
    * same HALF_UP scale-12 casts, cast back through `doubleValue`
    * (correctly rounded, = Spark's Decimal→Double) and divided by the
    * count.
    *
    * PARALLEL over fixed row chunks (round-11): assignment is per-row
    * independent, and the per-(cluster, dim) accumulators are exact
    * arbitrary-precision sums — associative and commutative — so
    * chunked partials merged in any order are BIT-IDENTICAL to the
    * sequential loop (the property the distributed path already relies
    * on for its partition-order-independent decimal aggregation). At
    * the 100k-row fast-path ceiling this turns the training wall-clock
    * from cores×-serial into ~one chunk's worth. */
  private def kmeansCentroidsLocal(rows: Array[(Long, Array[Double], Double)],
      k: Int, iters: Int): Seq[(Int, Array[Double])] = {
    var cent: Seq[(Int, Array[Double])] =
      md5OrderedIds(rows.map(_._1)).take(k).toSeq
        .map(rows(_)._2).zipWithIndex.map { case (v, i) => (i, v) }
    val nThreads = math.max(1,
      math.min(Runtime.getRuntime.availableProcessors(), 32))
    def chunkBounds(n: Int): Seq[(Int, Int)] = (0 until nThreads).map { t =>
      ((n.toLong * t / nThreads).toInt, (n.toLong * (t + 1) / nThreads).toInt)
    }.filter { case (lo, hi) => hi > lo }
    def inParallel[A](work: Seq[() => A]): Seq[A] =
      if (work.lengthCompare(1) <= 0) work.map(_.apply())
      else {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        Await.result(Future.sequence(work.map(w => Future(w()))), Duration.Inf)
      }
    // the HALF_UP scale-12 decimal image of every coordinate, built ONCE:
    // BigDecimal.valueOf routes through Double.toString — by far the
    // loop's hottest call when repeated per iteration (measured 7.8 s →
    // the dominant share at the 20k×64 probe); the cached decimals are
    // immutable and shared by every iteration's accumulators
    val bdRows: Array[Array[java.math.BigDecimal]] =
      new Array[Array[java.math.BigDecimal]](rows.length)
    inParallel(chunkBounds(rows.length).map { case (lo, hi) => () => {
      var i = lo
      while (i < hi) {
        val v = rows(i)._2
        val a = new Array[java.math.BigDecimal](v.length)
        var pos = 0
        while (pos < v.length) {
          a(pos) = java.math.BigDecimal.valueOf(v(pos))
            .setScale(12, java.math.RoundingMode.HALF_UP)
          pos += 1
        }
        bdRows(i) = a
        i += 1
      }
    }})
    for (_ <- 0 until iters) {
      val kNow = cent.length
      // slot kNow is the degenerate all-NaN-cosine bucket (a zero-norm
      // row): the sequential loop filed it under label Int.MaxValue,
      // and label order puts it last — preserved verbatim
      val labels = cent.map(_._1).toArray :+ Int.MaxValue
      val cvecs = cent.map(_._2).toArray
      val cnrms = cvecs.map(c => math.sqrt(dotSeq(c, c)))
      def accumulate(lo: Int, hi: Int)
          : (Array[Long], Array[Array[java.math.BigDecimal]]) = {
        val counts = new Array[Long](kNow + 1)
        val sums = new Array[Array[java.math.BigDecimal]](kNow + 1)
        var i = lo
        while (i < hi) {
          val (_, v, nrm) = rows(i)
          var bestNeg = Double.PositiveInfinity
          var bestIdx = kNow
          var j = 0
          while (j < kNow) {
            val neg = -(dotSeq(v, cvecs(j)) / (nrm * cnrms(j)))
            val cmp = java.lang.Double.compare(neg, bestNeg)
            if (cmp < 0 || (cmp == 0 && labels(j) < labels(bestIdx))) {
              bestNeg = neg; bestIdx = j
            }
            j += 1
          }
          counts(bestIdx) += 1L
          var s = sums(bestIdx)
          if (s == null || s.length < v.length) {
            val ns = new Array[java.math.BigDecimal](v.length)
            if (s != null) System.arraycopy(s, 0, ns, 0, s.length)
            sums(bestIdx) = ns; s = ns
          }
          val bd = bdRows(i)
          var pos = 0
          while (pos < v.length) {
            val d = bd(pos)
            s(pos) = if (s(pos) == null) d else s(pos).add(d)
            pos += 1
          }
          i += 1
        }
        (counts, sums)
      }
      val partials = inParallel(chunkBounds(rows.length)
        .map { case (lo, hi) => () => accumulate(lo, hi) })
      val counts = new Array[Long](kNow + 1)
      val sums = new Array[Array[java.math.BigDecimal]](kNow + 1)
      partials.foreach { case (pc, ps) =>
        var j = 0
        while (j <= kNow) {
          counts(j) += pc(j)
          val s = ps(j)
          if (s != null) {
            var m = sums(j)
            if (m == null || m.length < s.length) {
              val nm = new Array[java.math.BigDecimal](s.length)
              if (m != null) System.arraycopy(m, 0, nm, 0, m.length)
              sums(j) = nm; m = nm
            }
            var pos = 0
            while (pos < s.length) {
              if (s(pos) != null)
                m(pos) = if (m(pos) == null) s(pos) else m(pos).add(s(pos))
              pos += 1
            }
          }
          j += 1
        }
      }
      cent = (0 to kNow).filter(counts(_) > 0L).map { j =>
        val n = counts(j)
        val s = sums(j)
        // the sequential loop's takeWhile(sums.contains): dimension ends
        // at the first position no assigned row reached
        val dim = Iterator.from(0)
          .takeWhile(p => p < s.length && s(p) != null).size
        (labels(j), Array.tabulate(dim)(p => s(p).doubleValue / n))
      }
    }
    cent
  }

  /** [[kmeansCentroids]] over an ALREADY-staged (id, v, nrm) frame —
    * callers that also consume the prepared corpus downstream
    * ([[semDedup]]) stage it once and share instead of holding two
    * corpus-scale materializations. Under [[SmallCorpusRows]] (and a
    * long id column) training runs the bit-identical driver loop
    * ([[kmeansCentroidsLocal]]); past it, the distributed jobs. */
  def kmeansCentroidsPrepared(p: DataFrame,
      k: Int, iters: Int,
      smallCorpusRows: Long = SmallCorpusRows): Seq[(Int, Array[Double])] = {
    val idIsLong = p.schema("id").dataType ==
      org.apache.spark.sql.types.LongType
    if (idIsLong && p.count() <= smallCorpusRows) {
      val rows = p.select("id", "v", "nrm").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      return kmeansCentroidsLocal(rows, k, iters)
    }
    var cent: Seq[(Int, Array[Double])] = p
      .orderBy(md5(col("id").cast("string")), col("id")).limit(k)
      .select("v").collect().toSeq.zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](0).toArray) }
    for (_ <- 0 until iters) {
      val assigned = p.withColumn("label", assignCell(col("v"), col("nrm"), cent))
      cent = assigned
        .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg(sum(col("x").cast("decimal(27,12)")).as("s"), count(lit(1)).as("n"))
        .select(col("label"), col("pos"),
          (col("s").cast("double") / col("n")).as("cv"))
        .groupBy("label")
        .agg(sort_array(collect_list(struct(col("pos"), col("cv")))).as("pc"))
        .select(col("label"), transform(col("pc"), x => x("cv")).as("c"))
        .collect().toSeq
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
    }
    cent
  }

  /** IVF ANN over TRAINED centroids with multi-probe: each query scans
    * its `nprobe` nearest cells (recall knob), candidates come from a
    * cell equi-join, and the exact top-k is taken over the union. A
    * neighbor lives in exactly one cell, so multi-probe never duplicates
    * a (query, neighbor) pair. Scale shape: centroids broadcast as
    * literals (map-side assign/probe), corpus partitioned by cell. */
  def kmeansIvfTopK(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, kClusters: Int = 8, iters: Int = 3,
      nprobe: Int = 2, matchCols: Seq[String] = Nil): DataFrame = {
    // matchCols = SEARCH-TIME metadata filter (the production filtered-
    // ANN shape): the index stays ONE index over the full corpus —
    // centroids are trained unfiltered — and the predicate prunes the
    // probed cells' candidates before scoring. Recall within a filter
    // value degrades only if that value's vectors are spread across more
    // cells than nprobe reaches; raise nprobe, never re-train per value.
    // one staged projection shared by the Lloyd trainer and the index
    // build (extra matchCols ride along; the trainer reads id/v/nrm) —
    // scan × 1, not scan × (iters + 1)
    val corpus0 = Staging.barrier(df.select(Seq(col(idCol).as("id"),
        asDouble(col(vecCol)).as("v")) ++ matchCols.map(col): _*)
      .withColumn("nrm", norm(col("v"))))
    val cent = kmeansCentroidsPrepared(corpus0, kClusters, iters)
    val corpus = corpus0
      .withColumn("cell", assignCell(col("v"), col("nrm"), cent))
    val probed = corpus.filter(queryPred)
      .select(Seq(col("id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm")) ++ matchCols.map(m => col(m).as("q_" + m)) :+
        explode(probeCells(col("v"), col("nrm"), cent, nprobe)).as("cell"): _*)
    val candidates = matchCols.foldLeft(
        probed.join(corpus, Seq("cell")).filter(col("id") =!= col("query_id"))) {
      (d, m) => d.filter(col("q_" + m) === col(m))
    }
    val scored = candidates
      .select(Seq(col("query_id"), col("id").as("neighbor_id")) ++
        matchCols.map(m => col("q_" + m).as(m)) :+
        cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("cos"): _*)
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means cells BOUND the pair space — pairwise
    * cosine is computed only within a cell, never corpus² — and a vector
    * is kept iff no lower-id vector in its cell is ≥ `threshold` similar
    * (the deterministic min-id survivor rule, same tie-break as t5/t16).
    *
    * Scale shape (100 TB): centroids are broadcast literals, so the cell
    * assignment is map-side; the within-cell self-join is an ordinary
    * equi-join on `cell` that shuffles each vector once. Cell population
    * is ≈ N/k, so the per-cell quadratic verify is bounded by raising
    * `kClusters` with corpus size (the paper runs k = 11k on LAION) —
    * [[semDedupAuto]] derives that k = ⌈√N⌉ automatically and is the
    * scale-safe entry point; this explicit-k overload is for replaying
    * a known quantizer (the t34 oracle bakes its k into static SQL);
    * skewed cells are AQE-splittable because the join key is the cell id.
    * The prepared corpus is staged ONCE ([[Staging.barrier]]) and shared
    * by the Lloyd trainer, both self-join sides and the keep-join; the
    * cell assignment re-derives map-side from that cache.
    *
    * Returns (id, cell, keep) for every input vector. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      kClusters: Int, iters: Int, threshold: Double): DataFrame =
    // ONE staged prepared frame shared by the Lloyd trainer and every
    // downstream consumer; the cell column derives map-side from the
    // cache (broadcast-literal centroids), so re-deriving it per join
    // side costs CPU on cached rows, never a second corpus-scale
    // materialization or source scan
    semDedupPrepared(Staging.barrier(prepared(df, idCol, vecCol)),
      kClusters, iters, threshold)

  /** Cap on [[semDedupAuto]]'s derived k: centroids are broadcast as
    * literal arrays inside one assignment expression, so k is bounded
    * by expression size, not executor memory. Past this, cell
    * assignment needs a broadcast-join quantizer (or train on a
    * sample and shard) — raise deliberately, not by default. */
  val SemDedupMaxClusters: Int = 4096

  /** The k [[semDedupAuto]] derives for a corpus of `n` vectors at
    * `iters` Lloyd iterations: total cosine work is training+assignment
    * `(iters+1)·N·k` plus within-cell pairwise `N²/(2k)`, minimized at
    * k = √(N / (2·(iters+1))) — both terms then grow O(N^1.5), never
    * quadratic, and cell population grows only as √N. (Plain ⌈√N⌉
    * ignores the iters factor and over-spends ~2× on training at any
    * scale; the SMALLER derived k also means larger cells → MORE pairs
    * verified → recall can only improve over ⌈√N⌉.) Clamped to
    * [2, maxClusters]. */
  def semDedupAutoK(n: Long, iters: Int,
      maxClusters: Int = SemDedupMaxClusters): Int =
    math.min(maxClusters.toLong, math.max(2L,
      math.ceil(math.sqrt(n.toDouble / (2.0 * (iters + 1)))).toLong)).toInt

  /** [[semDedup]] with kClusters DERIVED from the corpus count — the
    * scale-safe default. A FIXED k turns 10× data into ~100× pairwise
    * work (the round-10 audit's 11.8× runtime row); [[semDedupAutoK]]'s
    * cost-minimizing k keeps every term O(N^1.5) (SemDeDup itself runs
    * k ≈ 11k on LAION-233M — the same √N order). The count is free: it
    * reads the same staged materialization the trainer uses. */
  def semDedupAuto(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, iters: Int = 3,
      maxClusters: Int = SemDedupMaxClusters): DataFrame = {
    val p = Staging.barrier(prepared(df, idCol, vecCol))
    semDedupPrepared(p, semDedupAutoK(p.count(), iters, maxClusters),
      iters, threshold)
  }

  private def semDedupPrepared(p: DataFrame, kClusters: Int, iters: Int,
      threshold: Double): DataFrame = {
    val cent = kmeansCentroidsPrepared(p, kClusters, iters)
    val corpus = p.withColumn("cell", assignCell(col("v"), col("nrm"), cent))
    val dropped = corpus.as("a").join(corpus.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .filter(cosine(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")) >= threshold)
      .select(col("b.id").as("id")).distinct()
    // the dropped-id list is bounded by the near-dup population — small
    // next to the corpus (t19's keepSurvivors rationale) — so the keep
    // flag is a broadcast outer join, not a corpus-wide sort-merge
    corpus.select(col("id"), col("cell"))
      .join(broadcast(dropped.withColumn("drp", lit(true))), Seq("id"), "left")
      .select(col("id"), col("cell"), col("drp").isNull.as("keep"))
  }

  // -------------------------------------------------------------------
  // SQ8 scalar quantization: 8-bit codes, integer candidate scoring
  // -------------------------------------------------------------------

  /** Per-dimension [min, max] over the corpus — the SQ8 training
    * statistics. Metadata (2·dim doubles), collected like centroids;
    * min/max are associative so the values are deterministic. */
  def sq8Stats(p: DataFrame): (Array[Double], Array[Double]) = {
    val rows = p.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("pos").agg(min("x").as("lo"), max("x").as("hi"))
      .orderBy("pos").collect()
    (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  /** 8-bit code per dimension: `floor((x-lo)/(hi-lo)·255)` clamped to
    * [0,255]; a constant dimension codes to 0. Literal stats → map-side,
    * zero shuffle. The arithmetic is plain IEEE double ops, so codes are
    * bit-identical across engines given identical stats. */
  def sq8Code(v: Column, lo: Array[Double], hi: Array[Double]): Column =
    array(lo.indices.map { i =>
      val span = hi(i) - lo(i)
      if (span == 0) lit(0)
      else greatest(lit(0), least(lit(255),
        floor((element_at(v, i + 1) - lit(lo(i))) / lit(span) * 255).cast("int")))
    }: _*)

  /** Dequantized value array: `lo_i + code_i · ((hi_i-lo_i)/255)`. The
    * per-dim scale is a DRIVER-side literal, and the op order matches the
    * oracle SQL exactly (`lo + code * ((hi - lo) / 255.0)`), so decoded
    * values are bit-identical across engines. */
  def sq8Decode(code: Column, lo: Array[Double], hi: Array[Double]): Column =
    array(lo.indices.map { i =>
      lit(lo(i)) + element_at(code, i + 1) * lit((hi(i) - lo(i)) / 255.0)
    }: _*)

  /**
   * SQ8 ANN: candidate generation over the 8-bit index — per vector just
   * (code: dim bytes, norm: 1 double), ~8× smaller than the raw double
   * vectors, the memory shape that lets a 100 TB corpus's index stay
   * RAM-resident — then exact cosine re-rank of the top `candidates`.
   * The candidate score is the cosine of the DEQUANTIZED vectors (a raw
   * integer code dot is a poor proxy: the `-lo` shift dominates it;
   * measured recall 0.16 vs ≈1 decoded). Full vectors are joined back
   * only for the surviving candidate set.
   */
  def sq8TopK(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, candidates: Int = 20): DataFrame = {
    // staged: the stats pass, both code sides and the two re-rank
    // lookups read one materialization, not four source scans
    val p = Staging.barrier(prepared(df, idCol, vecCol))
    val (lo, hi) = sq8Stats(p)
    val coded = p.select(col("id"), col("nrm"),
      sq8Code(col("v"), lo, hi).as("code"))
    val q = coded.filter(queryPred)
      .select(col("id").as("query_id"), col("code").as("qcode"),
        col("nrm").as("qnrm"))
    val qscored = coded
      .join(broadcast(q), col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        (dot(sq8Decode(col("code"), lo, hi), sq8Decode(col("qcode"), lo, hi))
          / (col("nrm") * col("qnrm"))).as("qscore"))
    val wc = Window.partitionBy("query_id")
      .orderBy(col("qscore").desc, col("neighbor_id").asc)
    val cand = qscored.withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= candidates)
      .select(col("query_id"), col("neighbor_id"))
    val rescored = cand
      .join(p.select(col("id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm")), Seq("query_id"))
      .join(p.select(col("id").as("neighbor_id"), col("v").as("nv"),
        col("nrm").as("nnrm")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("nv"), col("qnrm"), col("nnrm")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    rescored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /**
   * Composed IVF+SQ8 index — the production ANN shape: trained k-means
   * cells bound WHICH vectors a query touches (multi-probe), 8-bit codes
   * bound HOW MUCH is read per touched vector (dequantized-cosine
   * scoring), and only the top `candidates` get exact re-ranking against
   * full vectors. Per indexed vector the scan state is (cell, code,
   * norm) ≈ dim+12 bytes; full vectors live cold until re-rank.
   */
  def ivfSq8TopK(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, kClusters: Int = 8, iters: Int = 3,
      nprobe: Int = 2, candidates: Int = 20): DataFrame = {
    // one staged prepared frame shared by the trainer, the SQ8 stats
    // pass, the index build, the query side and the re-rank lookups
    val p = Staging.barrier(prepared(df, idCol, vecCol))
    val cent = kmeansCentroidsPrepared(p, kClusters, iters)
    val (lo, hi) = sq8Stats(p)
    val indexed = p.select(col("id"), col("v"), col("nrm"),
      assignCell(col("v"), col("nrm"), cent).as("cell"),
      sq8Code(col("v"), lo, hi).as("code"))
    ivfSq8Probe(indexed, cent, lo, hi, queryPred, k, nprobe, candidates)
  }

  /** The IVF+SQ8 PROBE pipeline over an `(id, v, nrm, cell, code)` index
    * relation — shared verbatim by the build-and-probe path
    * ([[ivfSq8TopK]]) and the load-and-probe path
    * ([[ivfSq8TopKFromIndex]]), so the two are equal by construction
    * (t40 gates the loaded path on t15's oracle). Queries are drawn from
    * the index by `queryPred`, their stored codes reused; the candidate
    * join broadcasts the (tiny) probe side, so the index relation
    * streams through map-side — no shuffle of the corpus. */
  private def ivfSq8Probe(indexed: DataFrame, cent: Seq[(Int, Array[Double])],
      lo: Array[Double], hi: Array[Double], queryPred: Column, k: Int,
      nprobe: Int, candidates: Int): DataFrame = {
    val qSide = indexed.filter(queryPred).select(col("id").as("query_id"),
      col("nrm").as("qnrm"), col("code").as("qcode"),
      explode(probeCells(col("v"), col("nrm"), cent, nprobe)).as("cell"))
    val qscored = indexed.join(broadcast(qSide), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        (dot(sq8Decode(col("code"), lo, hi), sq8Decode(col("qcode"), lo, hi))
          / (col("nrm") * col("qnrm"))).as("qscore"))
    val wc = Window.partitionBy("query_id")
      .orderBy(col("qscore").desc, col("neighbor_id").asc)
    val cand = qscored.withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= candidates)
      .select(col("query_id"), col("neighbor_id"))
    val rescored = cand
      .join(indexed.select(col("id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm")), Seq("query_id"))
      .join(indexed.select(col("id").as("neighbor_id"), col("v").as("nv"),
        col("nrm").as("nnrm")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("nv"), col("qnrm"), col("nnrm")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    rescored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  // -------------------------------------------------------------------
  // Persistable IVF+SQ8 index: build ONCE, probe many times
  // -------------------------------------------------------------------

  /** A loaded [[writeIndex]] index: broadcastable metadata (centroids +
    * SQ8 stats, exactly what the in-query builders collect) plus the
    * cell-bucketed coded corpus relation. */
  final case class AnnIndex(cent: Seq[(Int, Array[Double])],
      lo: Array[Double], hi: Array[Double], coded: DataFrame)

  /** Persist the IVF+SQ8 index a production pipeline builds once and
    * probes many times (t12/t15 rebuild theirs inside every query; this
    * is the build-once seam). Three catalog tables:
    *
    *   - `<table>`            — (id, v, nrm, cell, code), BUCKETED by
    *     `cell` ([[Ddl.writeBucketedTable]]): the write-time shuffle is
    *     the last one — a probe or per-cell aggregation reads the cell's
    *     buckets exchange-free (asserted in DedupSpec), and a
    *     corpus-as-queries probe sort-merge-joins on `cell` without
    *     re-shuffling the index;
    *   - `<table>_centroids`  — (label, c): k·dim doubles of metadata;
    *   - `<table>_stats`      — (pos, lo, hi): 2·dim doubles.
    *
    * Everything persisted is EXACT (parquet doubles/ints round-trip
    * bit-identically), so load-and-probe equals build-and-probe
    * bit-for-bit — t40 gates the loaded path against t15's oracle. */
  def writeIndex(df: DataFrame, idCol: String, vecCol: String, table: String,
      kClusters: Int = 8, iters: Int = 3, numBuckets: Int = 8): Unit = {
    val spark = df.sparkSession
    val p = Staging.barrier(prepared(df, idCol, vecCol))
    val cent = kmeansCentroidsPrepared(p, kClusters, iters)
    val (lo, hi) = sq8Stats(p)
    Ddl.dropTableAndLocation(spark, s"${table}_centroids")
    spark.createDataFrame(cent.map { case (l, c) => (l, c.toSeq) })
      .toDF("label", "c")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(s"${table}_centroids")
    Ddl.dropTableAndLocation(spark, s"${table}_stats")
    spark.createDataFrame(lo.indices.map(i => (i, lo(i), hi(i))))
      .toDF("pos", "lo", "hi")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(s"${table}_stats")
    val indexed = p.select(col("id"), col("v"), col("nrm"),
      assignCell(col("v"), col("nrm"), cent).as("cell"),
      sq8Code(col("v"), lo, hi).as("code"))
    Ddl.writeBucketedTable(indexed, table, "cell", numBuckets)
    IndexStore.reset(spark, table, Seq(IndexStore.Main))
  }

  /** Load a [[writeIndex]] index: metadata is collected (the same k·dim
    * doubles every IVF implementation broadcasts); the coded corpus
    * stays a lazy relation — the bucketed base ∪ committed appends,
    * minus deletes ([[IndexStore.visible]]). `asOf` reads the index as
    * it stood after that committed batch: probing it equals probing an
    * index whose appends stopped there (same frozen quantizers — they
    * never change after the build), which t73 gates. */
  def loadIndex(spark: org.apache.spark.sql.SparkSession, table: String,
      asOf: Option[Long] = None): AnnIndex = {
    val cent = spark.table(s"${table}_centroids").orderBy("label").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toSeq
    val st = spark.table(s"${table}_stats").orderBy("pos").collect()
    val Seq(coded) = IndexStore.visible(spark, table, Seq(IndexStore.Main), asOf)
    AnnIndex(cent, st.map(_.getDouble(1)), st.map(_.getDouble(2)), coded)
  }

  /** [[ivfSq8TopK]] over a LOADED index — no training, no stats pass, no
    * write: the probe pipeline runs as-is against the bucketed relation.
    * `queryPred` addresses the stored schema (`id`, `v`, `nrm`, `cell`,
    * `code`). */
  def ivfSq8TopKFromIndex(idx: AnnIndex, queryPred: Column, k: Int,
      nprobe: Int = 2, candidates: Int = 20): DataFrame =
    ivfSq8Probe(idx.coded, idx.cent, idx.lo, idx.hi, queryPred, k,
      nprobe, candidates)

  /** INCREMENTAL maintenance of a persisted [[writeIndex]] index, as
    * one atomic [[IndexStore.append]] batch: `df`'s vectors are coded
    * against the FROZEN quantizers (the stored centroids and SQ8 stats
    * — neither is retrained) and committed as a side run. This is the
    * production ingest shape: quantizers train once on a sample,
    * additions only code and route (FAISS `IndexIVF.add`, Jégou et al.
    * 2011 §V); no existing index file is rewritten. Out-of-range values
    * clamp into [lo,hi] by [[sq8Code]]'s saturation, so frozen stats
    * stay valid for any batch. Caller contract: ids are new. Returns
    * false on a replayed batch id. Probe-equivalence — a probe over
    * build(A)+append(B) equals a probe over build(A∪B) with quantizers
    * trained on A — is gated value-level by t62. */
  def appendToIndexCommitted(df: DataFrame, idCol: String, vecCol: String,
      table: String, batchId: Long): Boolean = {
    val spark = df.sparkSession
    IndexStore.append(spark, table, batchId) {
      val idx = loadIndex(spark, table)
      // side runs cannot carry the catalog bucket spec; sorting each
      // task's rows by cell (free — within the batch's existing
      // partitions) keeps every run cell-clustered: tight row-group
      // min/max stats for any STATIC cell predicate and cell-contiguous
      // input for compaction's bucketed rewrite. The probe restricts
      // cells through the same broadcast join the bucketed base uses,
      // so probe cost over side runs is bounded by compaction cadence
      Seq(IndexStore.Main -> prepared(df, idCol, vecCol)
        .select(col("id"), col("v"), col("nrm"),
          assignCell(col("v"), col("nrm"), idx.cent).as("cell"),
          sq8Code(col("v"), idx.lo, idx.hi).as("code"))
        .sortWithinPartitions("cell"))
    }
  }

  // ---------- Product quantization (PQ / ADC) ----------

  /** Subvector slice `[off+1, off+len]` (1-based, like DuckDB `l[a:b]`). */
  private def subvec(v: Column, off: Int, len: Int): Column =
    slice(v, off + 1, len)

  private def dotSelf(c: Array[Double]): Double = {
    var i = 0; var a = 0.0
    while (i < c.length) { a += c(i) * c(i); i += 1 }
    a
  }

  /** Per-centroid ADJUSTED L2 scores for a subvector: the argmin over
    * `‖s−c‖²` needs only `dot(c,c) − 2·dot(s,c)` (the `dot(s,s)` term is
    * constant per row) — fewer float ops AND a smaller expression tree
    * to mirror in the oracle. Ties → lowest code, via the same
    * sort_array(struct) idiom as [[centScores]]. */
  private def pqScores(s: Column, cents: Seq[(Int, Array[Double])]): Column =
    array(cents.map { case (code, c) =>
      struct((lit(dotSelf(c)) - lit(2.0) * dot(s, typedLit(c.toSeq))).as("d2adj"),
        lit(code).as("code"))
    }: _*)

  /** argmin-L2 centroid code for one subspace (ties → lowest code). */
  private def pqAssign(s: Column, cents: Seq[(Int, Array[Double])]): Column =
    element_at(transform(slice(sort_array(pqScores(s, cents)), 1, 1),
      x => x("code")), 1)

  /** Per-subspace deterministic Lloyd (L2) product-quantizer codebooks
    * over an ALREADY-staged `(id, v, nrm)` frame: dim splits into `m`
    * equal subspaces; each trains `ksub` centroids with the SAME
    * engine-portable recipe as the coarse quantizer
    * ([[kmeansCentroidsPrepared]]) — `(md5(id), id)`-ordered seeds,
    * map-side argmin against literal centroids, exact-decimal means —
    * except the metric is L2 (the quantity PQ reconstruction error
    * minimizes), not cosine. Codebooks are m·ksub·(dim/m) doubles of
    * collected index METADATA; the corpus is never collected. */
  /** [[pqCodebooks]]' driver twin — the [[kmeansCentroidsLocal]]
    * pattern under the L2 metric: same seed order, same
    * `dotSelf(c) − 2·dot(s,c)` adjusted score with
    * `java.lang.Double.compare` tie order, same exact-decimal means —
    * bit-identical to the distributed jobs (the t43/t45/t63 oracles
    * gate it). */
  private def pqCodebooksLocal(rows: Array[(Long, Array[Double])],
      m: Int, ksub: Int, iters: Int,
      dim: Int): Seq[Seq[(Int, Array[Double])]] = {
    val sub = dim / m
    val seedRows = md5OrderedIds(rows.map(_._1)).take(ksub).map(rows(_)._2)
    var books: Seq[Seq[(Int, Array[Double])]] = (0 until m).map { si =>
      seedRows.toSeq.zipWithIndex.map { case (v, i) =>
        (i, v.slice(si * sub, si * sub + sub))
      }
    }
    // r21 (the kmeansCentroidsLocal treatment, measured there first):
    //   - the HALF_UP scale-12 decimal image of every coordinate built
    //     ONCE, not per (row, pos, iteration) — BigDecimal.valueOf
    //     routes through Double.toString, the loop's hottest call;
    //   - dense [code][pos] accumulator arrays instead of boxed
    //     (si, code, pos) tuple-key HashMap lookups;
    //   - PARALLEL over subquantizers: each si owns disjoint
    //     accumulators and reads its own column slice, and the per-
    //     (code, pos) sums are exact decimals — associative and
    //     commutative — so any execution order is BIT-IDENTICAL to the
    //     sequential loop (the same property the distributed path's
    //     decimal aggregation relies on). ProfileQuery measured t43's
    //     bench wall as 1.3–1.5 s of driver gap = exactly this loop.
    val bdRows: Array[Array[java.math.BigDecimal]] =
      Array.tabulate(rows.length) { i =>
        val v = rows(i)._2
        val a = new Array[java.math.BigDecimal](v.length)
        var pos = 0
        while (pos < v.length) {
          a(pos) = java.math.BigDecimal.valueOf(v(pos))
            .setScale(12, java.math.RoundingMode.HALF_UP)
          pos += 1
        }
        a
      }
    def inParallel[A](work: Seq[() => A]): Seq[A] =
      if (work.lengthCompare(1) <= 0) work.map(_.apply())
      else {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        Await.result(Future.sequence(work.map(w => Future(w()))), Duration.Inf)
      }
    for (_ <- 0 until iters) {
      val pre = books.map(_.map { case (code, c) => (code, c, dotSelf(c)) })
      val perSub = inParallel((0 until m).map { si => () =>
        val cands = pre(si).toArray
        val counts = new Array[Long](ksub)
        val sums = Array.ofDim[java.math.BigDecimal](ksub, sub)
        val s = new Array[Double](sub)
        var i = 0
        while (i < rows.length) {
          val v = rows(i)._2
          System.arraycopy(v, si * sub, s, 0, sub)
          var bestD2 = Double.PositiveInfinity
          var bestCode = Int.MaxValue
          var ci = 0
          while (ci < cands.length) {
            val (code, c, cc) = cands(ci)
            val d2 = cc - 2.0 * dotSeq(s, c)
            val cmp = java.lang.Double.compare(d2, bestD2)
            if (cmp < 0 || (cmp == 0 && code < bestCode)) {
              bestD2 = d2; bestCode = code
            }
            ci += 1
          }
          counts(bestCode) += 1L
          val bd = bdRows(i)
          val row = sums(bestCode)
          var pos = 0
          while (pos < sub) {
            val d = bd(si * sub + pos)
            row(pos) = if (row(pos) == null) d else row(pos).add(d)
            pos += 1
          }
          i += 1
        }
        (counts, sums)
      })
      books = (0 until m).map { si =>
        val (counts, sums) = perSub(si)
        (0 until ksub).filter(counts(_) > 0L).map { code =>
          val n = counts(code)
          val s = sums(code)
          val d = Iterator.from(0)
            .takeWhile(p => p < s.length && s(p) != null).size
          (code, Array.tabulate(d)(p => s(p).doubleValue / n))
        }
      }
    }
    books.map(_.zipWithIndex.map { case ((_, c), i) => (i, c) })
  }

  def pqCodebooks(p: DataFrame, m: Int, ksub: Int,
      iters: Int): Seq[Seq[(Int, Array[Double])]] = {
    val dim = p.select(size(col("v"))).head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    if (p.schema("id").dataType == org.apache.spark.sql.types.LongType &&
        p.count() <= SmallCorpusRows) {
      val rows = p.select("id", "v").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      return pqCodebooksLocal(rows, m, ksub, iters, dim)
    }
    // ONE seed pass for all m subspaces: the (md5(id), id) seed order is
    // subspace-independent, so the same ksub rows slice into every
    // subspace's initial codebook
    val seedRows = p.orderBy(md5(col("id").cast("string")), col("id"))
      .limit(ksub).select("v").collect()
      .map(_.getSeq[Double](0).toArray)
    var books: Seq[Seq[(Int, Array[Double])]] = (0 until m).map { si =>
      seedRows.toSeq.zipWithIndex.map { case (v, i) =>
        (i, v.slice(si * sub, si * sub + sub))
      }
    }
    // ONE corpus pass per Lloyd iteration for ALL subspaces (not m):
    // assign every subvector map-side against its literal codebook,
    // explode (subspace, code, pos, x), aggregate exact-decimal means
    // keyed by (subspace, code, pos). Values are identical to training
    // each subspace separately — decimal sums are order-exact and the
    // keys partition the same groups — so the t43 oracle (which replays
    // per-subspace training) is untouched; only the pass count changes.
    for (_ <- 0 until iters) {
      val perSub = (0 until m).map { si =>
        val s = subvec(col("v"), si * sub, sub)
        struct(lit(si).as("si"), pqAssign(s, books(si)).as("code"),
          s.as("s")).as(s"a_$si")
      }
      val rows = p.select(explode(array(perSub: _*)).as("a"))
        .select(col("a.si"), col("a.code"),
          posexplode(col("a.s")).as(Seq("pos", "x")))
        .groupBy("si", "code", "pos")
        .agg(sum(col("x").cast("decimal(27,12)")).as("sm"),
          count(lit(1)).as("n"))
        .select(col("si"), col("code"), col("pos"),
          (col("sm").cast("double") / col("n")).as("cv"))
        .collect()
      books = (0 until m).map { si =>
        rows.filter(_.getInt(0) == si)
          .groupBy(_.getInt(1)).toSeq
          .map { case (code, rs) =>
            (code, rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray)
          }
          .sortBy(_._1)
      }
    }
    // dense renumbering (order-preserving): a dropped-out cluster must
    // not leave a hole, because ADC lookup tables index by code+1
    books.map(_.zipWithIndex.map { case ((_, c), i) => (i, c) })
  }

  /** m-element PQ code array for a vector (one argmin per subspace). */
  def pqCode(v: Column, books: Seq[Seq[(Int, Array[Double])]],
      sub: Int): Column =
    array(books.zipWithIndex.map { case (cs, si) =>
      pqAssign(subvec(v, si * sub, sub), cs)
    }: _*)

  /**
   * PQ-ADC ANN — the memory shape below SQ8: per indexed vector just
   * (m codes, norm) ≈ m+8 bytes vs dim+12 for SQ8 and 8·dim raw — the
   * regime where a 100 TB corpus's ANN index fits a modest cluster's
   * RAM. Scoring is asymmetric distance computation (ADC, Jégou et al.
   * 2011, "Product Quantization for Nearest Neighbor Search"): each
   * query precomputes per-subspace lookup tables `LUT[s][j] =
   * dot(codebook_sj, q_s)` ON THE TINY QUERY SIDE (before broadcast), so
   * the corpus-side estimated dot is m array lookups + m−1 additions per
   * row — no per-row decode, no per-row dot. Exact cosine re-rank of the
   * top `candidates` restores precision (the [[sq8TopK]] contract).
   *
   * Scale shape: codebooks train on the staged frame (m·iters bounded
   * driver jobs), coding and LUT build are map-side against literal
   * codebooks, the candidate join broadcasts the query side, and both
   * top-k cuts are per-query windows over the candidate stream.
   */
  def pqTopK(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, m: Int = 4, ksub: Int = 8,
      iters: Int = 2, candidates: Int = 20): DataFrame = {
    // one staged prepared frame: codebook training (iters+1 scans), the
    // coding pass, the query/LUT side, and both re-rank lookups
    val p = Staging.barrier(prepared(df, idCol, vecCol))
    val books = pqCodebooks(p, m, ksub, iters)
    val sub = books.head.head._2.length
    pqProbe(p.withColumn("code", pqCode(col("v"), books, sub)), books,
      queryPred, k, candidates)
  }

  /** The shared PQ-ADC probe over a coded frame (`id`, `v`, `nrm`,
    * `code`) — used by [[pqTopK]] (in-query build) and
    * [[pqTopKFromIndex]] (loaded index), so the two are equal by
    * construction. Per-query ADC lookup tables are built on the (tiny)
    * query side before broadcast; the corpus side pays m array lookups
    * + m−1 adds per row; exact cosine re-ranks the candidate cut. */
  private def pqProbe(stored: DataFrame,
      books: Seq[Seq[(Int, Array[Double])]], queryPred: Column, k: Int,
      candidates: Int): DataFrame = {
    val m = books.length
    val sub = books.head.head._2.length
    val luts = (0 until m).map { si =>
      array(books(si).map { case (_, c) =>
        dot(subvec(col("v"), si * sub, sub), typedLit(c.toSeq))
      }: _*).as(s"lut_$si")
    }
    val q = stored.filter(queryPred).select(
      col("id").as("query_id") +: col("nrm").as("qnrm") +: luts: _*)
    val est = (0 until m).map(si =>
      element_at(col(s"lut_$si"), element_at(col("code"), si + 1) + 1))
      .reduce(_ + _)
    val qscored = stored.select(col("id"), col("nrm"), col("code"))
      .join(broadcast(q), col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        (est / (col("nrm") * col("qnrm"))).as("qscore"))
    val wc = Window.partitionBy("query_id")
      .orderBy(col("qscore").desc, col("neighbor_id").asc)
    val cand = qscored.withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= candidates)
      .select(col("query_id"), col("neighbor_id"))
    val rescored = cand
      .join(stored.select(col("id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm")), Seq("query_id"))
      .join(stored.select(col("id").as("neighbor_id"), col("v").as("nv"),
        col("nrm").as("nnrm")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("nv"), col("qnrm"), col("nnrm")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    rescored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** A loaded [[writePqIndex]] index: codebook METADATA (m·ksub·(dim/m)
    * doubles) + the lazy coded-corpus relation. */
  final case class PqIndex(books: Seq[Seq[(Int, Array[Double])]],
      coded: DataFrame)

  /** Persist a PQ index as catalog tables — build ONCE, probe many
    * times (the t40 production shape, one memory tier down): the coded
    * corpus (`id`, `v`, `nrm`, `code`) as `table`, the trained
    * codebooks as `table_codebooks` (si, code, c). Rerunnable:
    * existing tables are dropped with their locations first. */
  def writePqIndex(df: DataFrame, idCol: String, vecCol: String,
      table: String, m: Int = 4, ksub: Int = 8, iters: Int = 2): Unit = {
    val spark = df.sparkSession
    val p = Staging.barrier(prepared(df, idCol, vecCol))
    val books = pqCodebooks(p, m, ksub, iters)
    val sub = books.head.head._2.length
    Ddl.dropTableAndLocation(spark, s"${table}_codebooks")
    spark.createDataFrame(books.zipWithIndex.flatMap { case (cs, si) =>
      cs.map { case (code, c) => (si, code, c.toSeq) }
    }).toDF("si", "code", "c")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(s"${table}_codebooks")
    Ddl.dropTableAndLocation(spark, table)
    p.withColumn("code", pqCode(col("v"), books, sub))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(table)
    IndexStore.reset(spark, table, Seq(IndexStore.Main))
  }

  /** Load a [[writePqIndex]] index: codebooks are collected (broadcast-
    * sized metadata); the coded corpus stays a lazy relation (base ∪
    * committed appends, minus deletes — `asOf` as in [[loadIndex]]). */
  def loadPqIndex(spark: org.apache.spark.sql.SparkSession, table: String,
      asOf: Option[Long] = None): PqIndex = {
    val rows = spark.table(s"${table}_codebooks")
      .orderBy("si", "code").collect()
    val books = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map {
      case (_, rs) =>
        rs.sortBy(_.getInt(1))
          .map(r => (r.getInt(1), r.getSeq[Double](2).toArray)).toSeq
    }
    val Seq(coded) = IndexStore.visible(spark, table, Seq(IndexStore.Main), asOf)
    PqIndex(books, coded)
  }

  /** [[pqTopK]] over a LOADED index — no training, no coding pass:
    * the shared probe runs as-is. `queryPred` addresses the stored
    * schema (`id`, `v`, `nrm`, `code`). */
  def pqTopKFromIndex(idx: PqIndex, queryPred: Column, k: Int,
      candidates: Int = 20): DataFrame =
    pqProbe(idx.coded, idx.books, queryPred, k, candidates)

  /** INCREMENTAL maintenance of a persisted [[writePqIndex]] index, as
    * one atomic [[IndexStore.append]] batch: `df`'s vectors are coded
    * against the FROZEN codebooks (no retraining — the
    * [[appendToIndexCommitted]] contract one memory tier down). Returns
    * false on a replayed batch id. t63 gates probe-equivalence against
    * the frozen-training PQ oracle. */
  def appendToPqIndexCommitted(df: DataFrame, idCol: String, vecCol: String,
      table: String, batchId: Long): Boolean = {
    val spark = df.sparkSession
    IndexStore.append(spark, table, batchId) {
      val books = loadPqIndex(spark, table).books
      Seq(IndexStore.Main -> prepared(df, idCol, vecCol)
        .withColumn("code", pqCode(col("v"), books, books.head.head._2.length)))
    }
  }

  /** Sign-LSH signature over dims [offset+1, offset+bits]: bit i = sign
    * of dimension offset+i. Deterministic and oracle-portable (no random
    * hyperplanes). */
  def signBucketAt(v: Column, offset: Int, bits: Int): Column =
    (0 until bits).map { i =>
      when(element_at(v, offset + i + 1) >= 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Sign-LSH signature: bit i = sign of dimension i (first `bits` dims). */
  def signBucket(v: Column, bits: Int = 8): Column = signBucketAt(v, 0, bits)

  /** Candidate-based cosine near-dup: banded sign-LSH candidate
    * generation (OR-amplification over `bands` disjoint dimension
    * ranges) → distinct pairs → exact cosine verification. The
    * scale-safe gated form of [[cosineNearDupPairs]]: candidates come
    * from a bucket equi-join over an (id, band, bkt) relation — three
    * narrow columns, never corpus×corpus — and only the surviving pairs
    * rejoin the vectors. Recall is tuned by `bands`/`bits`: per-band
    * collision probability is (1-θ/π)^bits, total 1-(1-p)^bands; at
    * production near-dup thresholds (cos ≥ 0.85, p_bit ≥ 0.93) bits=8+
    * prunes orders of magnitude while keeping recall ≈ 1. The defaults
    * (4 bits × 16 bands) are sized for the adversarially low fixture
    * threshold (0.45, sign agreement ~62 %) where LSH theory says full
    * recall costs near-quadratic candidates — the PLAN stays an
    * equi-join either way; only the bucket occupancy changes. */
  def bucketedNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 4, bands: Int = 16): DataFrame = {
    val p = prepared(df, idCol, vecCol)
    // every band must read a DISTINCT dimension range: with dim <
    // bits×bands the tail bands would index past the vector (NULL signs →
    // degenerate buckets) and recall silently collapses. O(1) first-row
    // probe at build time (embedding columns are fixed-dim).
    p.select(size(col("v"))).head(1).headOption.foreach { r =>
      require(r.getInt(0) >= bits * bands,
        s"embedding dim ${r.getInt(0)} < bits*bands = ${bits * bands}: " +
          "banded sign-LSH would read past the vector; lower bits or bands")
    }
    val banded = p.select(col("id"),
        explode(array((0 until bands).map { j =>
          struct(lit(j).as("band"), signBucketAt(col("v"), j * bits, bits).as("bkt"))
        }: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bkt").as("bkt"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkt") === col("b.bkt") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    cand
      .join(p.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na")), Seq("id_a"))
      .join(p.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        cosine(col("va"), col("vb"), col("na"), col("nb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Bucketed ANN: candidates share the sign bucket; exact cosine + top-k
    * within bucket. Trades recall for a shuffle-light equi-join.
    *
    * RECALL BASELINE ONLY — superseded at scale by [[kmeansIvfTopK]] /
    * [[ivfSq8TopK]]: the bucket space is fixed (2^bits), so with the
    * whole corpus as the query set the within-bucket join is O(n²/2^bits)
    * — still quadratic in corpus size. `queryPred` therefore BOUNDS the
    * query side (the gated query uses an id range, like t6/t12); an
    * unbounded corpus-as-queries run is a deliberate small-corpus
    * benchmark choice, not a production plan. */
  def bucketedTopK(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, bits: Int = 8): DataFrame = {
    val p = prepared(df, idCol, vecCol).withColumn("bkt", signBucket(col("v"), bits))
    val a = p.filter(queryPred).as("a"); val b = p.as("b")
    val scored = a.join(b, col("a.bkt") === col("b.bkt") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("query_id"), col("b.id").as("neighbor_id"),
        cosine(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
