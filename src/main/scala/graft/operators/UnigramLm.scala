package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Distributed UNIGRAM-LM (SentencePiece-style) tokenizer training
 * (Kudo, ACL 2018) — the BPE sibling: instead of greedy merge rules,
 * the tokenizer is a PIECE VOCABULARY with log-probabilities, trained
 * by EM and applied by Viterbi segmentation.
 *
 * The scale shape is [[BpeTrain]]'s exactly: the corpus is touched
 * ONCE (the word-frequency `groupBy`); seeding adds one substring
 * explode over the word table (≤ `maxWordLen·maxPieceLen` rows per
 * distinct word, collapsed by a piece-keyed aggregation); every EM
 * round thereafter is one map-only Viterbi pass over the word table
 * plus a piece-keyed usage aggregation whose result is VOCAB-sized —
 * the only driver-collected values are vocab tables (the ANN-centroid
 * metadata class). Under `maxLocalWords` the word table itself is
 * collected and the whole EM loop runs on the driver ([[BpeTrain
 * .LocalWordBound]]'s rationale); both paths share the ONE Scala
 * Viterbi/M-step implementation, so they are bit-identical by
 * construction (spec-asserted).
 *
 * Deterministic departures from full SentencePiece, chosen so the
 * DuckDB oracle can replay training bit-for-bit (all scores are
 * INTEGER micro-log10-probs, the t32/t92 fixed-point discipline;
 * log10 is the one libm function gated as cross-engine exact):
 *   - Viterbi-EM (hard assignment), not forward-backward: the E-step
 *     counts each word's single best segmentation, weighted by word
 *     frequency. Ties prefer the LONGER last piece (argmax by score,
 *     then piece length, descending — one fixed total order both
 *     engines spell).
 *   - Seeding by substring frequency: every substring of a training
 *     word up to `maxPieceLen` chars, keeping ALL single characters
 *     (coverage) plus the `seedSize` most frequent multi-character
 *     pieces (count desc, then UTF-8 piece order — binary-collation
 *     deterministic).
 *   - Pruning by usage once, after `emIters` EM rounds: keep all
 *     single characters plus the `vocabMulti` highest-usage
 *     multi-character pieces, then ONE final EM round over the pruned
 *     vocabulary re-estimates the emitted scores (SentencePiece
 *     prunes iteratively by loss; usage-ranked single-shot pruning is
 *     the deterministic simplification, documented here on purpose).
 *   - Words longer than `maxWordLen` are excluded from TRAINING (the
 *     reference trainer likewise bounds sentence/piece lengths);
 *     [[encodeStats]] falls back to character-count for them.
 *   - An M-step drops multi-char pieces with zero usage and floors
 *     every character's usage at 1 (coverage must survive
 *     re-estimation); scores are `round(log10(usage/total)·1e6)` as
 *     BIGINT micro.
 */
object UnigramLm {

  /** One vocabulary entry as learned data: the piece, its final
    * E-step usage (word-frequency-weighted), and its integer
    * micro-log10-prob score. */
  final case class Piece(piece: String, usage: Long, scoreMicro: Long)

  /** Training knobs; defaults match the gated t101/t102 configuration
    * (small enough that the DuckDB oracle's unrolled EM chain stays
    * readable, large enough that pruning and ties genuinely bite). */
  final case class Params(
      maxPieceLen: Int = 4,
      maxWordLen: Int = 16,
      seedSize: Int = 120,
      emIters: Int = 2,
      vocabMulti: Int = 60,
      maxLocalWords: Long = BpeTrain.LocalWordBound)

  /** `round(log10(cnt/total)·1e6)` with Spark/DuckDB `round`
    * semantics (HALF_UP, away from zero — Scala `math.round` is NOT
    * that on negative halves, and every value here is negative). */
  private[graft] def microLog10(cnt: Long, total: Long): Long =
    BigDecimal(math.log10(cnt.toDouble / total.toDouble) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact

  /**
   * Deterministic Viterbi segmentation of `w` under integer piece
   * scores: maximize the score sum; ties prefer the longer LAST piece
   * at every position (iterate candidate lengths ascending, later
   * wins on `>=` — the oracle spells it `ORDER BY s DESC, l DESC`).
   * `unk` is the score assumed for a single character absent from the
   * vocabulary (encode-time robustness; None = training, where full
   * character coverage is an invariant and a miss is a loud error).
   */
  private[graft] def viterbi(w: String,
      score: scala.collection.Map[String, Long], maxPieceLen: Int,
      unk: Option[Long]): List[String] = {
    // positions and piece lengths count CODE POINTS, as Spark's
    // length/substr do on the seed side: at(i) is the UTF-16 index
    // where code point i starts, so a non-BMP character is one piece
    val L = w.codePointCount(0, w.length)
    val at = new Array[Int](L + 1)
    var k = 0
    while (k < L) {
      at(k + 1) = at(k) + Character.charCount(w.codePointAt(at(k)))
      k += 1
    }
    val best = new Array[Long](L + 1)
    val choice = new Array[Int](L + 1)
    var i = 1
    while (i <= L) {
      var bl = 0
      var bs = 0L
      var l = 1
      val maxL = math.min(i, maxPieceLen)
      while (l <= maxL) {
        val piece = w.substring(at(i - l), at(i))
        val s = score.get(piece) match {
          case Some(v) => Some(v)
          case None if l == 1 => unk
          case None => None
        }
        s match {
          case Some(v) =>
            val cand = best(i - l) + v
            if (bl == 0 || cand >= bs) { bs = cand; bl = l }
          case None =>
        }
        l += 1
      }
      require(bl > 0,
        s"unigram trainer invariant violated: no piece covers position " +
          s"$i of '$w' — single-character coverage must survive every " +
          "M-step")
      best(i) = bs
      choice(i) = bl
      i += 1
    }
    var pos = L
    var path = List.empty[String]
    while (pos > 0) {
      val l = choice(pos)
      path = w.substring(at(pos - l), at(pos)) :: path
      pos -= l
    }
    path
  }

  /** One local E-step: Viterbi-segment every word under `scores` and
    * accumulate frequency-weighted piece usage — PARALLEL over word
    * chunks (r22, the kmeansCentroidsLocal/pqCodebooksLocal
    * treatment: the driver EM loop was single-threaded and dominated
    * t101/t102's bench wall). Bit-identical to the serial fold by
    * construction: each word's Viterbi result depends only on
    * (word, scores); per-chunk accumulators are disjoint maps merged
    * by EXACT Long addition, which is associative and commutative, so
    * the merged (piece → Σ cnt) table is the same whatever the chunk
    * boundaries or merge order (spec-asserted in UnigramLmSpec). */
  private[graft] def localUsage(local: Array[(String, Long)],
      maxPieceLen: Int,
      scores: scala.collection.Map[String, Long])
      : scala.collection.Map[String, Long] = {
    val nThreads = math.max(1,
      math.min(Runtime.getRuntime.availableProcessors(), 32))
    val n = local.length
    val bounds = (0 until nThreads).map { t =>
      ((n.toLong * t / nThreads).toInt, (n.toLong * (t + 1) / nThreads).toInt)
    }.filter { case (lo, hi) => hi > lo }
    def chunkUsage(lo: Int, hi: Int): scala.collection.mutable.HashMap[String, Long] = {
      val usage = scala.collection.mutable.HashMap.empty[String, Long]
      var i = lo
      while (i < hi) {
        val (w, cnt) = local(i)
        viterbi(w, scores, maxPieceLen, None).foreach { pc =>
          usage.update(pc, usage.getOrElse(pc, 0L) + cnt) }
        i += 1
      }
      usage
    }
    val partials =
      if (bounds.lengthCompare(1) <= 0) bounds.map { case (lo, hi) => chunkUsage(lo, hi) }
      else {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        Await.result(Future.sequence(bounds.map { case (lo, hi) =>
          Future(chunkUsage(lo, hi)) }), Duration.Inf)
      }
    val merged = scala.collection.mutable.HashMap.empty[String, Long]
    partials.foreach(_.foreach { case (pc, u) =>
      merged.update(pc, merged.getOrElse(pc, 0L) + u) })
    merged
  }

  /** A single character: one code point, which is what Spark's
    * `length` counts (a non-BMP character is two UTF-16 units). */
  private def isChar(piece: String): Boolean =
    piece.codePointCount(0, piece.length) == 1

  /** The M-step re-estimation: keep every character (usage floored at
    * 1 — coverage survives) plus multi-char pieces with positive
    * usage; scores re-normalize over the kept total. Returns
    * (piece → (usage, scoreMicro)). */
  private def mStep(usage: scala.collection.Map[String, Long],
      chars: Seq[String]): Map[String, (Long, Long)] = {
    val kept: Seq[(String, Long)] =
      chars.map(c => c -> math.max(usage.getOrElse(c, 0L), 1L)) ++
        usage.toSeq.filter { case (p, u) => !isChar(p) && u > 0 }
    val total = kept.map(_._2).sum
    kept.map { case (p, u) => p -> ((u, microLog10(u, total))) }.toMap
  }

  /** Shared EM driver over an abstract E-step (`usageOf(scores)` —
    * the local loop or one distributed job): seed scores → `emIters`
    * EM rounds → usage-ranked prune → one final EM round over the
    * pruned vocabulary. `seedChars`/`seedMulti` are (piece, count)
    * with multi already cut to `seedSize`. */
  private def emLoop(seedChars: Seq[(String, Long)],
      seedMulti: Seq[(String, Long)], p: Params,
      usageOf: scala.collection.Map[String, Long] => scala.collection.Map[String, Long])
      : Seq[Piece] = {
    val chars = seedChars.map(_._1).sortWith(BpeTrain.utf8Less)
    val seed = seedChars ++ seedMulti
    val total0 = seed.map(_._2).sum
    var scores: Map[String, Long] =
      seed.map { case (pc, c) => pc -> microLog10(c, total0) }.toMap
    var lastUsage: Map[String, (Long, Long)] = Map.empty
    for (_ <- 1 to p.emIters) {
      lastUsage = mStep(usageOf(scores), chars)
      scores = lastUsage.map { case (pc, (_, s)) => pc -> s }
    }
    // usage-ranked prune: all chars + top `vocabMulti` multi pieces
    val keptMulti = lastUsage.toSeq
      .filter(pu => !isChar(pu._1))
      .map { case (pc, (u, _)) => (pc, u) }
      .sortWith { case ((p1, u1), (p2, u2)) =>
        u1 > u2 || (u1 == u2 && BpeTrain.utf8Less(p1, p2)) }
      .take(p.vocabMulti)
      .map(_._1).toSet
    val pruned = scores.filter { case (pc, _) =>
      isChar(pc) || keptMulti(pc) }
    // final EM round over the pruned vocabulary → emitted scores
    val finalTable = mStep(usageOf(pruned), chars)
    finalTable.toSeq
      .map { case (pc, (u, s)) => Piece(pc, u, s) }
      .sortWith((a, b) => BpeTrain.utf8Less(a.piece, b.piece))
  }

  /**
   * Train the unigram vocabulary. One corpus pass builds the
   * length-bounded word-frequency table; the substring seed and every
   * EM usage aggregation are piece-keyed shuffles whose results are
   * vocab-sized driver metadata. Under `maxLocalWords` the word table
   * collects and EM runs on the driver — over it, each E-step is one
   * distributed flatMap(Viterbi) + groupBy(piece) job with the scores
   * broadcast (the word table is staged once, so EM rounds never
   * re-read the corpus). Both paths share [[viterbi]]/[[mStep]].
   */
  def train(df: DataFrame, textCol: String,
      p: Params = Params()): Seq[Piece] =
    trainAndCount(df, textCol, p)._1

  /** [[train]] plus the corpus' UNFILTERED distinct-word count (all
    * words, before the `maxWordLen` cut) — exactly the row count of
    * the probe side [[encodeStats]]/[[docScores]] build over the same
    * corpus, measured inside the aggregation pass training already
    * pays. Same-corpus callers pass it as `knownWords` and the encode
    * probe routes its broadcast-vs-shuffle decision with zero extra
    * jobs. The word table now groups ALL words and training filters
    * the distinct table afterwards (filter-per-distinct-word, same
    * training results; the map-side combine keeps the extra shuffle
    * volume at the long-word tail's distinct size). */
  def trainAndCount(df: DataFrame, textCol: String,
      p: Params = Params()): (Seq[Piece], Long) = {
    val spark = df.sparkSession
    Staging.scoped {
      val allWords = Staging.barrier(
        df.select(explode(TextDedup.tokens(col(textCol))).as("w"))
          .groupBy("w").agg(count(lit(1)).as("cnt")))
      val cnts = allWords.agg(
        count(lit(1)).as("n_all"),
        count(when(length(col("w")) <= p.maxWordLen, 1)).as("n_train"))
        .head()
      val (nAll, nWords) = (cnts.getLong(0), cnts.getLong(1))
      val words = allWords.filter(length(col("w")) <= p.maxWordLen)
      // substring seed: every (position, length ≤ maxPieceLen) window
      val sub = words.select(explode(transform(
          sequence(lit(0), length(col("w")) - 1), i =>
            transform(
              sequence(lit(1), least(lit(p.maxPieceLen),
                length(col("w")) - i)),
              l => substr(col("w"), i + 1, l)))).as("ps"),
          col("cnt"))
        .select(explode(col("ps")).as("piece"), col("cnt"))
        .groupBy("piece").agg(sum("cnt").as("cnt"))
      // chars + top-multi seeds in ONE driver job (r22, guide §5: the
      // two separate collects were two serial driver-gated passes over
      // the same piece table). The multi side keeps its deterministic
      // (cnt desc, piece asc) selection via the inner sort+limit; row
      // ORDER after the union is irrelevant — emLoop consumes the seed
      // as a map and an order-independent sum.
      val seedRows = sub.filter(length(col("piece")) === 1)
        .unionByName(sub.filter(length(col("piece")) > 1)
          .orderBy(desc("cnt"), asc("piece")).limit(p.seedSize))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val (seedChars, seedMulti) = seedRows.partition(r => isChar(r._1))
      val vocab = if (nWords <= p.maxLocalWords) {
        val local = words.collect().map(r =>
          (r.getString(0), r.getLong(1)))
        emLoop(seedChars, seedMulti, p,
          localUsage(local, p.maxPieceLen, _))
      } else {
        import spark.implicits._
        val ds = words.as[(String, Long)]
        emLoop(seedChars, seedMulti, p, { scores =>
          val b = spark.sparkContext.broadcast(scores)
          try {
            ds.flatMap { case (w, cnt) =>
              viterbi(w, b.value, p.maxPieceLen, None).map(pc => (pc, cnt))
            }.toDF("piece", "cnt")
              .groupBy("piece").agg(sum("cnt").as("cnt"))
              .collect().map(r => (r.getString(0), r.getLong(1))).toMap
          } finally b.destroy()
        })
      }
      (vocab, nAll)
    }
  }

  /**
   * Per-document encoding statistics under a trained vocabulary —
   * [[BpeTrain.encodeStats]]'s unigram twin: every DISTINCT corpus
   * word is Viterbi-segmented exactly once (words over `maxWordLen`
   * fall back to character count; a single character missing from the
   * vocabulary scores one order of magnitude below the vocabulary
   * minimum — same-corpus encoding never hits it), and every
   * occurrence pays one probe — broadcast under
   * [[BpeTrain.MaxBroadcastWords]], shuffle join over it. Output per
   * document:
   * `(id, n_words, n_pieces, n_chars)`.
   */
  /**
   * Per-document LM score under a trained vocabulary — the
   * quality-filtering signal (a CCNet-style "perplexity bucket" uses
   * exactly this): each word contributes its Viterbi-best
   * segmentation's total micro-log10 score (= the DP's `best[L]`,
   * since Viterbi maximizes the score sum), summed per document.
   * Words over `maxWordLen` fall back to per-character scores;
   * unknown single characters score one decade below the vocabulary
   * floor. All integers — gated hash-exact (t103). Same scale shape
   * as [[encodeStats]]: distinct words score once, occurrences pay a
   * bounded-broadcast probe. Output: `(id, n_words, score_micro_total)`.
   *
   * Pass `knownWords` (the corpus' distinct-word count —
   * [[trainAndCount]]'s second member when scoring the training
   * corpus) and the probe routes with no extra job; without it,
   * routing runs one EAGER count() job at DataFrame-construction time
   * (the staged probe's work is then reused by the join). */
  /** Partition count for the DISTINCT-WORD Viterbi stage: the per-row
    * kernel is expensive (a DP over the word), so AQE's byte-sized
    * coalescing undersizes it — a vocab-sized table is KBs and
    * collapses to one task, serializing the whole encode (measured
    * r22: t102 +0.19 s under the 256 KB floor). Row-derived instead:
    * ~1k words per task, capped at the session's core count — scales
    * from a few tasks at gate vocabularies to cores-wide at a 100 TB
    * corpus's distinct words. */
  private def viterbiPartitions(spark: org.apache.spark.sql.SparkSession,
      nWords: Long): Int =
    ((nWords + 1023) / 1024)
      .min(spark.sparkContext.defaultParallelism.toLong).max(1L).toInt

  def docScores(docs: DataFrame, idCol: String, textCol: String,
      vocab: Seq[Piece], p: Params = Params(),
      maxBroadcastWords: Long = BpeTrain.MaxBroadcastWords,
      knownWords: Option[Long] = None): DataFrame = {
    require(vocab.nonEmpty, "need a trained vocabulary")
    val spark = docs.sparkSession
    import spark.implicits._
    val scores = vocab.map(v => v.piece -> v.scoreMicro).toMap
    val unk = scores.values.min - 1000000L
    val b = spark.sparkContext.broadcast(scores)
    val maxPiece = p.maxPieceLen
    val maxWord = p.maxWordLen
    val distinctWords = docs
      .select(explode(TextDedup.tokens(col(textCol))).as("w")).distinct()
    val ws = knownWords.map(n =>
        distinctWords.repartition(viterbiPartitions(spark, n)))
      .getOrElse(distinctWords).as[String]
      .map { w =>
        // the maxWordLen cut and the fallback walk count CODE POINTS,
        // as training's cut does: a non-BMP character is one
        // character, never two lone surrogates
        val s =
          if (w.codePointCount(0, w.length) > maxWord)
            w.codePoints().toArray.map(cp =>
              b.value.getOrElse(new String(Character.toChars(cp)), unk)).sum
          else viterbi(w, b.value, maxPiece, Some(unk))
            .map(pc => b.value.getOrElse(pc, unk)).sum
        (w, s)
      }
      .toDF("w", "s")
    BpeTrain.boundedProbeJoin(
        docs.select(col(idCol).as("id"),
          explode(TextDedup.tokens(col(textCol))).as("w")),
        ws, maxBroadcastWords, stage = true, knownWords)
      .groupBy("id")
      .agg(count(lit(1)).as("n_words"),
        sum("s").as("score_micro_total"))
  }

  /** See the twin scaladoc above [[docScores]]; same `knownWords`
    * contract (the count is the ENCODE corpus' distinct words —
    * [[trainAndCount]]'s second member when encoding the training
    * corpus; absent it, one eager routing count() job runs at
    * construction time). */
  def encodeStats(docs: DataFrame, idCol: String, textCol: String,
      vocab: Seq[Piece], p: Params = Params(),
      maxBroadcastWords: Long = BpeTrain.MaxBroadcastWords,
      knownWords: Option[Long] = None): DataFrame = {
    require(vocab.nonEmpty, "need a trained vocabulary")
    val spark = docs.sparkSession
    import spark.implicits._
    val scores = vocab.map(v => v.piece -> v.scoreMicro).toMap
    val unk = scores.values.min - 1000000L
    val b = spark.sparkContext.broadcast(scores)
    val maxPiece = p.maxPieceLen
    val maxWord = p.maxWordLen
    val distinctWords = docs
      .select(explode(TextDedup.tokens(col(textCol))).as("w")).distinct()
    // row-derived parallelism for the expensive per-word DP — see
    // viterbiPartitions
    val enc = knownWords.map(n =>
        distinctWords.repartition(viterbiPartitions(spark, n)))
      .getOrElse(distinctWords).as[String]
      .map { w =>
        val cps = w.codePointCount(0, w.length) // docScores' cut
        (w, if (cps > maxWord) cps.toLong
          else viterbi(w, b.value, maxPiece, Some(unk)).length.toLong)
      }
      .toDF("w", "n_pieces")
    BpeTrain.boundedProbeJoin(
        docs.select(col(idCol).as("id"),
          explode(TextDedup.tokens(col(textCol))).as("w")),
        enc, maxBroadcastWords, stage = true, knownWords)
      .groupBy("id")
      .agg(count(lit(1)).as("n_words"),
        sum("n_pieces").as("n_pieces"),
        sum(length(col("w"))).as("n_chars"))
  }
}
