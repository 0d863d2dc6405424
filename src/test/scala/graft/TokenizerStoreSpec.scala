package graft

import graft.operators.{BpeTrain, CommitLog, TokenizerStore, UnigramLm, WordPiece}

class TokenizerStoreSpec extends SparkSpec {

  import spark.implicits._

  test("models round-trip field-exactly; versions replace; as-of and latest resolve from both sides") {
    val docs = Seq("abab abab cd", "abab zz qq").toDF("text")
    val sub = Seq("abab abab cd").toDF("text")

    // WordPiece: two versions, full fidelity both directions
    val wpT = "tokstore_spec_wp"
    CommitLog.clear(spark, wpT)
    val (m1, w1) = WordPiece.train(sub, "text", rounds = 3)
    val v1 = WordPiece.vocab(w1, m1)
    assert(TokenizerStore.saveWordPiece(spark, wpT, 1L, m1, v1))
    // replayed save is a no-op (the CommitLog contract)
    assert(!TokenizerStore.saveWordPiece(spark, wpT, 1L, m1, v1))
    val (m2, w2) = WordPiece.train(docs, "text", rounds = 3)
    val v2 = WordPiece.vocab(w2, m2)
    assert(TokenizerStore.saveWordPiece(spark, wpT, 2L, m2, v2))
    assert(TokenizerStore.versions(spark, wpT) === Seq(1L, 2L))
    assert(TokenizerStore.loadWordPieceVocab(spark, wpT, Some(1L)) === v1)
    assert(TokenizerStore.loadWordPieceVocab(spark, wpT) === v2)
    assert(TokenizerStore.loadWordPieceMerges(spark, wpT, Some(1L)) === m1)
    assert(TokenizerStore.loadWordPieceMerges(spark, wpT) === m2)

    // BPE: training order preserved (rank order is load-bearing)
    val bpeT = "tokstore_spec_bpe"
    CommitLog.clear(spark, bpeT)
    val (bm, _) = BpeTrain.train(docs, "text", rounds = 4)
    TokenizerStore.saveBpe(spark, bpeT, 7L, bm)
    assert(TokenizerStore.loadBpe(spark, bpeT) === bm)

    // unigram: usage + scores bit-exact
    val ugT = "tokstore_spec_ug"
    CommitLog.clear(spark, ugT)
    val uv = UnigramLm.train(docs, "text")
    TokenizerStore.saveUnigram(spark, ugT, 1L, uv)
    assert(TokenizerStore.loadUnigram(spark, ugT) === uv)

    // loud resolution: no version at or below the pin, or none at all
    intercept[IllegalArgumentException] {
      TokenizerStore.loadWordPieceVocab(spark, wpT, Some(0L))
    }
    val emptyT = "tokstore_spec_empty"
    CommitLog.clear(spark, emptyT)
    intercept[IllegalArgumentException] {
      TokenizerStore.loadBpe(spark, emptyT)
    }
  }

  test("interchange: foreign hand-authored model files load and encode (merges.txt, piece TSV, vocab.txt); malformed lines fail loudly") {
    import graft.operators.{BpeTrain, TokenizerInterchange, UnigramLm, WordPiece}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = tmp("graft-foreign-models")
    def write(name: String, lines: Seq[String]): String = {
      val pth = java.nio.file.Paths.get(dir, name)
      java.nio.file.Files.write(pth,
        scala.jdk.CollectionConverters.SeqHasAsJava(lines).asJava,
        java.nio.charset.StandardCharsets.UTF_8)
      pth.toString
    }
    val docs = Seq((1L, "abab cd")).toDF("doc_id", "text")
    // a foreign merges.txt, HF layout: header, then ranked pairs
    val mergesPath = write("merges.txt",
      Seq("#version: 0.2", "a b", "ab ab"))
    val merges = TokenizerInterchange.importBpeMerges(mergesPath)
    assert(merges.map(m => (m.round, m.left, m.right)) ===
      Seq((1, "a", "b"), (2, "ab", "ab")))
    val enc = BpeTrain.encodeStatsWithMerges(docs, "doc_id", "text",
      merges).head()
    // "abab" -> chars, a+b merges twice, ab+ab merges once -> 1 sym;
    // "cd" stays 2 chars
    assert((enc.getLong(1), enc.getLong(2), enc.getLong(3)) ===
      ((2L, 3L, 6L)))
    // a foreign SentencePiece-style TSV (micro-log10 integer scores)
    val tsvPath = write("unigram.tsv",
      Seq("a\t-100000", "ab\t-50000", "b\t-200000", "c\t-300000",
        "d\t-300000"))
    val pieces = TokenizerInterchange.importUnigramTsv(tsvPath)
    assert(pieces.find(_.piece == "ab").get.scoreMicro === -50000L)
    val uEnc = UnigramLm.encodeStats(docs, "doc_id", "text", pieces)
      .head()
    // "abab" -> ab|ab (2 pieces beats a|b|a|b), "cd" -> c|d
    assert((uEnc.getLong(1), uEnc.getLong(2)) === ((2L, 4L)))
    // a foreign BERT vocab.txt
    val vocabPath = write("vocab.txt",
      Seq("ab", "##ab", "c", "##d"))
    val vocab = TokenizerInterchange.importWordPieceVocab(vocabPath)
    val wEnc = WordPiece.encodeStats(docs, "doc_id", "text", vocab)
      .head()
    assert((wEnc.getLong(1), wEnc.getLong(2), wEnc.getLong(3)) ===
      ((2L, 4L, 0L)))
    // malformed lines are loud, not silently skipped — and the error
    // cites the ACTUAL file line (header/blank lines included), not
    // the post-filter index
    val badMerges = write("bad_merges.txt", Seq("#version: 0.2", "a b c"))
    assert(intercept[IllegalArgumentException](
      TokenizerInterchange.importBpeMerges(badMerges))
      .getMessage.contains("line 2"))
    val badTsv = write("bad_unigram.tsv", Seq("a\t1\t2"))
    assert(intercept[IllegalArgumentException](
      TokenizerInterchange.importUnigramTsv(badTsv))
      .getMessage.contains("line 1"))
    // a non-integer score fails with the same located loudness
    val badScore = write("bad_score.tsv", Seq("", "a\tnot_a_number"))
    val badScoreMsg = intercept[IllegalArgumentException](
      TokenizerInterchange.importUnigramTsv(badScore)).getMessage
    assert(badScoreMsg.contains("line 2") &&
      badScoreMsg.contains("not_a_number"))
    // whitespace-bearing pieces cannot export
    intercept[IllegalArgumentException](
      TokenizerInterchange.exportWordPieceVocab(
        s"$dir/nope.txt", Set("a b")))
  }
}
