package graft

import java.nio.file.Files

import graft.operators.Pattern
import graft.streaming.StreamingIngest

/** Runnable streaming demo: exactly-once ingest of the events stream, a
  * complete-mode windowed aggregation, and stateful sessionization.
  * Usage: runMain graft.StreamDemo [sfDir]  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession()

    val sink = Files.createTempDirectory("stream-sink").toString
    val ckpt = Files.createTempDirectory("stream-ckpt").toString
    val q = StreamingIngest.ingestStream(spark, dir, sink, ckpt)
    q.awaitTermination()
    val n = spark.read.parquet(sink).count()
    println(s"[stream-demo] ingested $n events exactly-once into $sink")

    val agg = StreamingIngest.windowedAgg(StreamingIngest.readEvents(spark, dir))
    val mq = agg.writeStream.outputMode("complete")
      .format("memory").queryName("windows").start()
    mq.processAllAvailable(); mq.stop()
    val w = spark.table("windows")
    println(s"[stream-demo] windowed-agg groups: ${w.count()}")
    w.orderBy("window_start", "event_type").show(5, truncate = false)

    val sq = StreamingIngest.sessionize(spark, StreamingIngest.readEvents(spark, dir))
      .writeStream.outputMode("update").format("memory").queryName("sessions").start()
    sq.processAllAvailable(); sq.stop()
    println(s"[stream-demo] users sessionized: ${spark.table("sessions").count()}")

    val dq = StreamingIngest.streamingDedup(StreamingIngest.readEvents(spark, dir),
        Seq("event_id", "user_id", "event_type"), watermark = "10 days")
      .writeStream.outputMode("append").format("memory").queryName("deduped").start()
    dq.processAllAvailable(); dq.stop()
    println(s"[stream-demo] deduped stream rows: ${spark.table("deduped").count()}")

    val wq = StreamingIngest.sessionWindowAgg(
        StreamingIngest.readEvents(spark, dir).withWatermark("ts", "1 hour"))
      .writeStream.outputMode("complete").format("memory").queryName("sessions_w").start()
    wq.processAllAvailable(); wq.stop()
    println(s"[stream-demo] session windows: ${spark.table("sessions_w").count()}")

    // update-mode windowed sketch profile: per-trigger deltas under a
    // watermark (bounded state); the memory sink in update mode keeps
    // every delta, so the count is >= the number of distinct groups
    val pq = StreamingIngest.streamingWindowedSketch(
        StreamingIngest.readEvents(spark, dir), "event_type",
        graft.functions.MisraGriesAgg(
          org.apache.spark.sql.functions.col("user_id").cast("string"), 64),
        window = "1 hour", watermark = "2 hours")
      .writeStream.outputMode("update").format("memory")
      .queryName("profile_upd").start()
    pq.processAllAvailable(); pq.stop()
    println(s"[stream-demo] update-mode sketch deltas: ${spark.table("profile_upd").count()}")

    // streaming NEAR-dup: documents streamed once, LSH bucket claims
    // deduped within the watermark, survivors = docs that kept all claims
    val docsStream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType))))
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .withColumn("ts", org.apache.spark.sql.functions.lit("2024-01-01 00:00:00").cast("timestamp"))
    val nq = StreamingIngest.streamingNearDupClaims(docsStream, "doc_id", "text",
        "ts", n = 3, k = 16, bandSize = 4, numBands = 4, watermark = "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("neardup").start()
    nq.processAllAvailable(); nq.stop()
    val survivors = StreamingIngest.nearDupSurvivors(spark.table("neardup"), "doc_id").count()
    println(s"[stream-demo] near-dup survivors: $survivors")

    // contiguity NFA pattern (next/notNext/optional) over the events stream
    val cq = StreamingIngest.streamingCep(StreamingIngest.readEvents(spark, dir),
        Pattern.pattern(Seq(
          graft.operators.Funnel.PatternStage("view", notNextAfter = Some("error")),
          graft.operators.Funnel.PatternStage("click", optional = true),
          graft.operators.Funnel.PatternStage("purchase", strict = true))),
        watermark = "2 hours")
      .writeStream.outputMode("update").format("memory")
      .queryName("pattern_funnel").start()
    cq.processAllAvailable(); cq.stop()
    println(s"[stream-demo] contiguity-funnel updates: ${spark.table("pattern_funnel").count()}")

    // match enumeration (AFTER MATCH SKIP PAST LAST EVENT)
    val mmq = StreamingIngest.streamingCep(StreamingIngest.readEvents(spark, dir),
        Pattern.matches(Seq("view", "click", "purchase"), maxMatches = 12),
        watermark = "2 hours")
      .writeStream.outputMode("update").format("memory")
      .queryName("multi_matches").start()
    mmq.processAllAvailable(); mmq.stop()
    println(s"[stream-demo] enumerated matches: ${spark.table("multi_matches").count()}")

    // loop-until pattern (greedy repetition with a boundary condition)
    val luq = StreamingIngest.streamingCep(StreamingIngest.readEvents(spark, dir),
        Pattern.loopUntil(Seq(("view", 1, Some("signup")), ("click", 2, None),
          ("purchase", 1, Some("error")))),
        watermark = "2 hours")
      .writeStream.outputMode("update").format("memory")
      .queryName("loop_until").start()
    luq.processAllAvailable(); luq.stop()
    println(s"[stream-demo] loop-until updates: ${spark.table("loop_until").count()}")
    spark.stop()
  }
}
