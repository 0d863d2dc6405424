package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.JsonlCorpus

class JsonlCorpusSpec extends SparkSpec {

  private val cols = Seq("doc_id", "text", "lang", "source", "n_chars")

  test("gzip-compressed shards round-trip identically (the shipping format)") {
    val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
    val path = tmp("jsonl-gz") + "/docs"
    docs.select(to_json(struct(cols.map(col): _*)).as("value"))
      .write.option("compression", "gzip")
      .mode(org.apache.spark.sql.SaveMode.Overwrite).text(path)
    val back = JsonlCorpus.readJsonl(spark, path,
      docs.select(cols.map(col): _*).schema)
    assert(back.count() === docs.count())
    assert(back.except(docs.select(cols.map(col): _*)).count() === 0L)
    assert(docs.select(cols.map(col): _*).except(back).count() === 0L)
  }

  test("FAILFAST surfaces a malformed line instead of a null row") {
    val path = tmp("jsonl-bad")
    Files.write(java.nio.file.Paths.get(s"$path/part.jsonl"),
      "{\"doc_id\": 1, \"text\": \"ok\"}\nnot json at all\n".getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val err = intercept[Exception] {
      JsonlCorpus.readJsonl(spark, path, schema).collect()
    }
    assert(err.getMessage.toLowerCase.contains("malformed") ||
      Option(err.getCause).exists(_.getMessage.toLowerCase.contains("malformed")))
  }

  test("documents with embedded newlines stay one line per document") {
    import spark.implicits._
    val tricky = Seq(
      (1L, "line one\nline two\r\nline three", "en", "s", 30L),
      (2L, "tabs\tand \"quotes\" and \\ backslashes", "en", "s", 35L),
      (3L, "unicode: café 中文 😀", "und", "s", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val path = tmp("jsonl-nl") + "/docs"
    JsonlCorpus.writeJsonl(tricky, cols, path)
    // one JSON object per document, however many newlines the text had
    val lines = spark.read.text(path).count()
    assert(lines === 3L)
    val back = JsonlCorpus.readJsonl(spark, path, tricky.schema)
      .orderBy("doc_id").collect()
    assert(back.map(_.getString(1)).toSeq ===
      tricky.orderBy("doc_id").collect().map(_.getString(1)).toSeq)
  }

  test("CSV round-trip: RFC 4180 quoting survives commas/quotes/newlines/unicode; the null-vs-empty seam is pinned") {
    import spark.implicits._
    val tricky = Seq(
      (1L, "comma, separated, values", "en", "s", 24L),
      (2L, "she said \"hi, there\" twice", "en", "s", 26L),
      (3L, "first line\nsecond line", "en", "s", 22L),
      (4L, "unicode: café 中文 😀", "und", "s", 20L),
      (5L, null.asInstanceOf[String], "en", "s", 0L),
      (6L, "", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val path = tmp("csv-rt") + "/docs"
    JsonlCorpus.writeCsv(tricky, cols, path)
    val back = JsonlCorpus.readCsv(spark, path, tricky.schema)
      .orderBy("doc_id").collect()
    // values with commas, quotes, newlines and unicode survive exactly
    (0 to 3).foreach { i =>
      assert(back(i).getString(1) ===
        tricky.orderBy("doc_id").collect()(i).getString(1), s"row $i")
    }
    // THE CSV SEAM: null and "" are the same on the wire — both read
    // back as null (ship JSONL when the distinction matters)
    assert(back(4).isNullAt(1) && back(5).isNullAt(1))
    // every other column of those rows is intact
    assert(back(4).getLong(0) === 5L && back(5).getLong(4) === 0L)
  }
}
