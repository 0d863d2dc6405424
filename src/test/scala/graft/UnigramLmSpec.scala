package graft

import graft.operators.UnigramLm
import org.apache.spark.sql.functions._

class UnigramLmSpec extends SparkSpec {

  import spark.implicits._

  private val docs = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the cats sat on the mats"),
    (3L, "a cat and a hat and a mat"),
    (4L, "concatenation of the catalogue"),
    (5L, "the the the cat cat mat"),
    (6L, "supercalifragilistic expialidocious"), // > 16 chars: excluded
    (7L, "on on on a a the")).toDF("doc_id", "text")

  test("local and distributed EM paths produce the identical vocabulary (forced distributed via maxLocalWords = 0)") {
    val p = UnigramLm.Params(seedSize = 40, vocabMulti = 20)
    val local = UnigramLm.train(docs, "text", p)
    val dist = UnigramLm.train(docs, "text",
      p.copy(maxLocalWords = 0L))
    assert(local === dist)
    assert(local.nonEmpty)
    // every single character of every training word is covered
    val chars = local.filter(_.piece.length == 1).map(_.piece).toSet
    val trainWords = docs.select(explode(
        graft.operators.TextDedup.tokens(col("text"))).as("w"))
      .filter(length(col("w")) <= p.maxWordLen)
      .distinct().as[String].collect()
    assert(trainWords.flatMap(_.toSeq).map(_.toString).toSet
      .subsetOf(chars))
    // the multi-piece budget held
    assert(local.count(_.piece.length > 1) <= p.vocabMulti)
    // scores are negative micro-log10-probs, usage positive
    assert(local.forall(v => v.scoreMicro < 0 && v.usage >= 1))
  }

  test("a non-BMP character is ONE character: it keeps the coverage floor and stays in the vocab on both EM paths") {
    val emoji = "\uD83D\uDE00" // U+1F600: one code point, two UTF-16 units
    val withEmoji = Seq((1L, s"the cat ${emoji}cat"), (2L, s"a $emoji mat"),
      (3L, "the mat sat")).toDF("doc_id", "text")
    // vocabMulti = 0 prunes every multi-character piece, so only the
    // character set (each usage floored at 1) survives
    val p = UnigramLm.Params(seedSize = 40, vocabMulti = 0)
    for (params <- Seq(p, p.copy(maxLocalWords = 0L))) {
      val vocab = UnigramLm.train(withEmoji, "text", params)
      assert(vocab.exists(v => v.piece == emoji && v.usage >= 1),
        s"$emoji missing from ${vocab.map(_.piece)}")
      assert(vocab.forall(v => v.piece.codePointCount(0, v.piece.length) == 1))
      val scores = vocab.map(v => v.piece -> v.scoreMicro).toMap
      assert(UnigramLm.viterbi(s"${emoji}cat", scores, params.maxPieceLen,
        None) === List(emoji, "c", "a", "t"))
    }
  }

  test("encode side counts code points: a word of exactly maxWordLen non-BMP characters is Viterbi-scored and never over-counted") {
    val a = "\uD83D\uDE00" // U+1F600, two UTF-16 units
    val b = "\uD83D\uDE01" // U+1F601
    val w = a * 4 // 4 code points = maxWordLen, 8 UTF-16 units
    val corpus = Seq((1L, s"$a$a $a$b $b$a $w"), (2L, s"$w the cat"),
      (3L, s"$b $a$a$b $w")).toDF("doc_id", "text")
    val p = UnigramLm.Params(maxPieceLen = 2, maxWordLen = 4, seedSize = 40,
      vocabMulti = 10)
    val vocab = UnigramLm.train(corpus, "text", p)
    val scores = vocab.map(v => v.piece -> v.scoreMicro).toMap
    val unk = scores.values.min - 1000000L
    val best = UnigramLm.viterbi(w, scores, p.maxPieceLen, Some(unk))
    assert(best.nonEmpty && best.length <= p.maxWordLen)
    val one = Seq((9L, w)).toDF("doc_id", "text")
    val stats = UnigramLm.encodeStats(one, "doc_id", "text", vocab, p)
      .collect().head
    // (id, n_words, n_pieces, n_chars): the word's own Viterbi pieces,
    // not one piece per UTF-16 unit
    assert(stats.getLong(2) === best.length.toLong)
    assert(stats.getLong(2) <= p.maxWordLen)
    assert(stats.getLong(3) === 4L)
    val score = UnigramLm.docScores(one, "doc_id", "text", vocab, p)
      .collect().head.getLong(2)
    assert(score === best.map(pc => scores.getOrElse(pc, unk)).sum)
    assert(score > 8 * unk) // not eight lone surrogates at the UNK floor
  }

  test("parallel local E-step equals a serial fold whatever the chunking (exact Long merge is order-independent)") {
    // the r22 parallelization argument: per-chunk usage maps merged by
    // exact Long addition give the same (piece -> Σ cnt) table as one
    // serial pass, because each word's Viterbi result depends only on
    // (word, scores) and Long addition is associative/commutative
    val p = UnigramLm.Params(seedSize = 40, vocabMulti = 20)
    val vocab = UnigramLm.train(docs, "text", p)
    val scores = vocab.map(v => v.piece -> v.scoreMicro).toMap
    val words = docs.select(explode(
        graft.operators.TextDedup.tokens(col("text"))).as("w"))
      .filter(length(col("w")) <= p.maxWordLen)
      .groupBy("w").count()
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val serial = {
      val usage = scala.collection.mutable.HashMap.empty[String, Long]
      words.foreach { case (w, cnt) =>
        UnigramLm.viterbi(w, scores, p.maxPieceLen, None).foreach { pc =>
          usage.update(pc, usage.getOrElse(pc, 0L) + cnt) }
      }
      usage.toMap
    }
    val parallel = UnigramLm.localUsage(words, p.maxPieceLen, scores)
    assert(parallel.toMap === serial)
    // permutation invariance: a different word order merges identically
    val shuffled = UnigramLm.localUsage(words.reverse, p.maxPieceLen, scores)
    assert(shuffled.toMap === serial)
  }

  test("Viterbi tie-break prefers the longer last piece; missing coverage fails loudly in training; scores drive the split") {
    // equal scores: "abc" as [ab, c] vs [a, bc] vs [a, b, c] — the
    // two-piece splits win on total, and between them the longer LAST
    // piece wins the tie: [a, bc]
    val eq = Map("a" -> -10L, "b" -> -10L, "c" -> -10L,
      "ab" -> -10L, "bc" -> -10L)
    assert(UnigramLm.viterbi("abc", eq, 4, None) === List("a", "bc"))
    // score asymmetry flips the choice: make [ab, c] strictly better
    val ab = eq.updated("ab", -1L)
    assert(UnigramLm.viterbi("abc", ab, 4, None) === List("ab", "c"))
    // starved multi pieces: chars win
    val charsOnly = Map("a" -> -1L, "b" -> -1L, "c" -> -1L,
      "ab" -> -1000L, "bc" -> -1000L)
    assert(UnigramLm.viterbi("abc", charsOnly, 4, None) ===
      List("a", "b", "c"))
    // training (no UNK) with a missing character is a loud error
    intercept[IllegalArgumentException] {
      UnigramLm.viterbi("axc", eq, 4, None)
    }
    // encode (UNK floor) segments through the unknown character
    assert(UnigramLm.viterbi("axc", eq, 4, Some(-1000000L)) ===
      List("a", "x", "c"))
    // microLog10 is HALF_UP away from zero (Spark/DuckDB round), not
    // math.round: log10(1/2)*1e6 = -301029.995... -> -301030
    assert(UnigramLm.microLog10(1L, 2L) === -301030L)
  }

  test("encodeStats: per-doc word/piece/char sums; over-long words fall back to character count; unknown chars don't crash") {
    val p = UnigramLm.Params(seedSize = 40, vocabMulti = 20)
    val vocab = UnigramLm.train(docs, "text", p)
    val stats = UnigramLm.encodeStats(docs, "doc_id", "text", vocab, p)
      .orderBy("id").collect()
    assert(stats.length === 7)
    val byId = stats.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1: 6 words, 17 chars (3+3+3+2+3+3)
    assert(byId(1L)._1 === 6L)
    assert(byId(1L)._3 === 17L)
    // pieces never exceed chars, never undercut words
    byId.values.foreach { case (w, pcs, ch) =>
      assert(pcs <= ch && pcs >= w)
    }
    // doc 6: the 20-char word falls back to char count
    val long6 = "supercalifragilistic"
    assert(byId(6L)._3 === (long6.length + "expialidocious".length).toLong)
    // encoding a corpus with an unseen character works via the UNK floor
    val out = UnigramLm.encodeStats(
      Seq((9L, "zzzq")).toDF("doc_id", "text"), "doc_id", "text", vocab, p)
      .collect().head
    assert(out.getLong(1) === 1L && out.getLong(3) === 4L)
  }

  test("trainAndCount: the count is the UNFILTERED distinct-word total (maxWordLen-excluded words included) and the vocabulary equals train's") {
    val p = UnigramLm.Params(seedSize = 40, vocabMulti = 20)
    val (vocab, nAll) = UnigramLm.trainAndCount(docs, "text", p)
    assert(vocab === UnigramLm.train(docs, "text", p))
    val words = docs.select(
      explode(graft.operators.TextDedup.tokens(col("text"))).as("w"))
    assert(nAll === words.distinct().count())
    // the count covers the long words the training table drops — it
    // describes the ENCODE probe side (all distinct words), so routing
    // by it can never under-estimate the broadcast
    assert(nAll >
      words.filter(length(col("w")) <= p.maxWordLen).distinct().count())
  }

  test("bounded-broadcast probe: forcing the shuffle-join fallback (maxBroadcastWords = 0) is value-identical, and the plans genuinely differ") {
    val p = UnigramLm.Params(seedSize = 40, vocabMulti = 20)
    val vocab = UnigramLm.train(docs, "text", p)
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
      val bc = UnigramLm.encodeStats(docs, "doc_id", "text", vocab, p)
      val sh = UnigramLm.encodeStats(docs, "doc_id", "text", vocab, p,
        maxBroadcastWords = 0L)
      assert(rows(bc) === rows(sh))
      assert(hasBcast(bc) && !hasBcast(sh))
      val bcS = UnigramLm.docScores(docs, "doc_id", "text", vocab, p)
      val shS = UnigramLm.docScores(docs, "doc_id", "text", vocab, p,
        maxBroadcastWords = 0L)
      assert(rows(bcS) === rows(shS))
      assert(hasBcast(bcS) && !hasBcast(shS))
    }
  }

  test("docScores: per-doc sum equals a driver replay of Viterbi best scores; unknown chars take the UNK floor") {
    val p = UnigramLm.Params(seedSize = 40, vocabMulti = 20)
    val vocab = UnigramLm.train(docs, "text", p)
    val scores = vocab.map(v => v.piece -> v.scoreMicro).toMap
    val unk = scores.values.min - 1000000L
    val got = UnigramLm.docScores(docs, "doc_id", "text", vocab, p)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    def wordScore(w: String): Long =
      if (w.length > p.maxWordLen)
        w.map(c => scores.getOrElse(c.toString, unk)).sum
      else UnigramLm.viterbi(w, scores, p.maxPieceLen, Some(unk))
        .map(pc => scores.getOrElse(pc, unk)).sum
    val expect = docs.collect().map { r =>
      val ws = r.getString(1).trim.toLowerCase.split("\\s+")
        .filter(_.nonEmpty)
      r.getLong(0) -> ((ws.length.toLong, ws.map(wordScore).sum))
    }.toMap
    assert(got === expect)
    // a better-matching doc scores higher (less negative) per word
    // than one full of unknowns
    val probe = UnigramLm.docScores(
      Seq((1L, "the the the"), (2L, "zq zq zq")).toDF("doc_id", "text"),
      "doc_id", "text", vocab, p)
      .collect().map(r => r.getLong(0) -> r.getLong(2) / r.getLong(1))
      .toMap
    assert(probe(1L) > probe(2L))
  }
}
