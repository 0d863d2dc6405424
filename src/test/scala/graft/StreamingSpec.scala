package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.StreamingIngest

/** Structured-Streaming execution: exactly-once ingest, windowed agg, and
  * stateful sessionization — each validated against its batch
  * equivalent. */
class StreamingSpec extends SparkSpec {

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("streaming ingest: exactly-once parquet sink matches batch count; restart is idempotent") {
    val sink = tmp("stream-sink")
    val ckpt = tmp("stream-ckpt")
    val q = StreamingIngest.ingestStream(spark, sf(), sink, ckpt)
    q.awaitTermination()

    val batchCount = spark.read.parquet(sf() + "/events.parquet").count()
    val out = spark.read.parquet(sink)
    assert(out.count() === batchCount)
    // full lineage envelope present, hashes populated
    assert(out.columns.contains("row_hash"))
    assert(out.filter(col("row_hash").isNull).count() === 0L)
    // streaming sink shares the batch sink's month-partitioned layout
    assert(new java.io.File(sink).listFiles()
      .exists(_.getName.startsWith("load_month=")),
      "streaming sink should be load_month-partitioned")

    // restart with same checkpoint: no new input → no duplicates
    val q2 = StreamingIngest.ingestStream(spark, sf(), sink, ckpt)
    q2.awaitTermination()
    assert(spark.read.parquet(sink).count() === batchCount)
  }

  test("continuous-trigger ingest (ProcessingTime + rate limit) is exactly-once across restart") {
    import org.apache.spark.sql.streaming.Trigger
    val sink = tmp("stream-pt-sink")
    val ckpt = tmp("stream-pt-ckpt")
    val cfg = StreamingIngest.StreamConfig(
      trigger = Trigger.ProcessingTime("50 milliseconds"),
      maxFilesPerTrigger = Some(1),
      queryName = Some("pt_ingest"))
    val q = StreamingIngest.ingestStream(spark, sf(), sink, ckpt, cfg)
    q.processAllAvailable(); q.stop()

    val batchCount = spark.read.parquet(sf() + "/events.parquet").count()
    assert(spark.read.parquet(sink).count() === batchCount)

    // restart with the same checkpoint under the continuous trigger:
    // no new input → no duplicate output
    val q2 = StreamingIngest.ingestStream(spark, sf(), sink, ckpt, cfg)
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(sink).count() === batchCount)
  }

  test("runResilient restarts a failed query up to maxRestarts and then succeeds") {
    val sink = tmp("stream-res-sink")
    val ckpt = tmp("stream-res-ckpt")
    var calls = 0
    StreamingIngest.runResilient(maxRestarts = 2) { () =>
      calls += 1
      if (calls <= 2) throw new RuntimeException("simulated start failure")
      StreamingIngest.ingestStream(spark, sf(), sink, ckpt)
    }
    assert(calls === 3)
    val batchCount = spark.read.parquet(sf() + "/events.parquet").count()
    assert(spark.read.parquet(sink).count() === batchCount)
  }

  test("streaming windowed agg (complete mode) equals the batch window query") {
    val events = StreamingIngest.readEvents(spark, sf())
    val agg = StreamingIngest.windowedAgg(events)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("w1_stream").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("w1_stream")
      .withColumn("window_start", col("window_start").cast("timestamp_ntz"))
    val batch = Queries.w1_windowed_agg.run(spark, sf())
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0L)
    assert(batch.except(streamed).count() === 0L)
  }

  test("streaming exact dedup drops cross-microbatch duplicates with bounded state") {
    // stage a source dir with the SAME events file twice → every row is
    // duplicated across two files; one file per trigger forces the
    // duplicate to arrive in a LATER micro-batch, exercising state
    val src = tmp("dedup-src")
    Files.copy(java.nio.file.Paths.get(sf() + "/events.parquet"),
      java.nio.file.Paths.get(s"$src/events1.parquet"))
    Files.copy(java.nio.file.Paths.get(sf() + "/events.parquet"),
      java.nio.file.Paths.get(s"$src/events2.parquet"))
    val stream = StreamingIngest.normalizeEventTs(spark.readStream
      .schema(StreamingIngest.eventsRawSchema(spark, src))
      .option("maxFilesPerTrigger", "1")
      .parquet(src))
    val deduped = StreamingIngest.streamingDedup(stream,
      Seq("event_id", "user_id", "event_type"), watermark = "10 days")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream").start()
    q.processAllAvailable(); q.stop()

    val n = spark.table("dedup_stream").count()
    val distinct = spark.read.parquet(sf() + "/events.parquet").count()
    assert(n === distinct) // 2N in, N out
  }

  test("streaming Misra-Gries profile (complete mode) equals the batch sketch across micro-batches") {
    // split events across two files so maxFilesPerTrigger=1 forces the
    // per-key sketches to MERGE state across micro-batches
    val src = tmp("mg-src")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = spark.read.parquet(sf() + "/events.parquet")
    events.filter(col("event_id") % 2 === 0)
      .write.parquet(s"$src/half1.parquet")
    events.filter(col("event_id") % 2 === 1)
      .write.parquet(s"$src/half2.parquet")
    val stream = spark.readStream
      .schema(StreamingIngest.eventsRawSchema(spark, s"$src/half1.parquet"))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$src/*.parquet")
      .withColumn("user_str", col("user_id").cast("string"))
    val q = StreamingIngest
      .streamingTopValues(stream, "event_type", "user_str",
        numCounters = 4096)
      .writeStream.outputMode("complete")
      .format("memory").queryName("mg_stream").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("mg_stream")
    val batch = events.withColumn("user_str", col("user_id").cast("string"))
      .filter(col("user_str").isNotNull)
      .groupBy(col("event_type"))
      .agg(graft.functions.MisraGriesAgg(col("user_str"), 4096).as("hh"))
    // under capacity both sides are exact counting, so the full sorted
    // (value, count) arrays are identical however the rows were batched
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0L)
    assert(batch.except(streamed).count() === 0L)
  }

  test("streaming quantile sketch (complete mode) equals the batch sketch across micro-batches") {
    val src = tmp("qs-src")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = spark.read.parquet(sf() + "/events.parquet")
    events.filter(col("event_id") % 2 === 0)
      .write.parquet(s"$src/half1.parquet")
    events.filter(col("event_id") % 2 === 1)
      .write.parquet(s"$src/half2.parquet")
    val probs = Seq(0.25, 0.5, 0.9)
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("value").isNotNull)
        .groupBy(col("event_type"))
        .agg(graft.functions.QuantileSketchAgg(col("value").cast("double"),
          8192, probs).as("qs"))
    val stream = spark.readStream
      .schema(StreamingIngest.eventsRawSchema(spark, s"$src/half1.parquet"))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$src/*.parquet")
    val q = agg(stream).writeStream.outputMode("complete")
      .format("memory").queryName("qs_stream").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("qs_stream")
    val batch = agg(events)
    // under capacity both are the exact percentile, however batched
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0L)
    assert(batch.except(streamed).count() === 0L)
  }

  test("streaming HLL sketch (complete mode) equals the batch sketch across micro-batches") {
    // HLL registers are element-wise max — commutative, associative AND
    // idempotent — so the streamed state must equal the batch sketch
    // EXACTLY (every column, including the float-corrected est) however
    // rows split across micro-batches. This exercises the
    // TypedImperativeAggregate's serialize/merge through the state
    // store, the same guarantee chain as the MG/quantile twins above.
    val src = tmp("hll-src")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = spark.read.parquet(sf() + "/events.parquet")
    events.filter(col("event_id") % 2 === 0)
      .write.parquet(s"$src/half1.parquet")
    events.filter(col("event_id") % 2 === 1)
      .write.parquet(s"$src/half2.parquet")
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("user_str", col("user_id").cast("string"))
        .filter(col("user_str").isNotNull)
        .groupBy(col("event_type"))
        .agg(graft.functions.HllAgg(col("user_str"), 9).as("hll"))
    val stream = spark.readStream
      .schema(StreamingIngest.eventsRawSchema(spark, s"$src/half1.parquet"))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$src/*.parquet")
    val q = agg(stream).writeStream.outputMode("complete")
      .format("memory").queryName("hll_stream").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("hll_stream")
    val batch = agg(events)
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0L)
    assert(batch.except(streamed).count() === 0L)
  }

  test("streaming KMV sketch (complete mode) equals the batch sketch across micro-batches") {
    // bottom-k of distinct hashes is commutative, associative and
    // idempotent, so the streamed sketch — including the full retained
    // hash array — must equal the batch sketch exactly however rows
    // split across micro-batches (serialize/merge through the state
    // store, the same guarantee chain as the HLL twin above).
    val src = tmp("kmv-src")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = spark.read.parquet(sf() + "/events.parquet")
    events.filter(col("event_id") % 2 === 0)
      .write.parquet(s"$src/half1.parquet")
    events.filter(col("event_id") % 2 === 1)
      .write.parquet(s"$src/half2.parquet")
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("user_str", col("user_id").cast("string"))
        .filter(col("user_str").isNotNull)
        .groupBy(col("event_type"))
        .agg(graft.functions.KmvAgg(col("user_str"), 64).as("kmv"))
    val stream = spark.readStream
      .schema(StreamingIngest.eventsRawSchema(spark, s"$src/half1.parquet"))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$src/*.parquet")
    val q = agg(stream).writeStream.outputMode("complete")
      .format("memory").queryName("kmv_stream").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("kmv_stream")
    val batch = agg(events)
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0L)
    assert(batch.except(streamed).count() === 0L)
  }

  test("update-mode windowed sketch: per-trigger deltas, late-drop, closed window equals batch") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(StructField("event_type", StringType),
      StructField("user_str", StringType), StructField("ts", TimestampType)))
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // wave 1/2: the 10:00 window fills across TWO triggers (state must
    // merge); wave 3 jumps event time to 14:00, pushing the watermark
    // (2h) to 12:00 — past the 10:00 window's end, closing it; wave 4
    // is a LATE 10:20 row behind the watermark and must be dropped
    val waves = Seq(
      Seq(Row("click", "u1", t("2024-01-01 10:05:00")),
        Row("click", "u1", t("2024-01-01 10:10:00")),
        Row("view", "u3", t("2024-01-01 10:12:00"))),
      Seq(Row("click", "u2", t("2024-01-01 10:20:00"))),
      Seq(Row("click", "u9", t("2024-01-01 14:00:00"))),
      Seq(Row("click", "u7", t("2024-01-01 10:20:00"))))
    val src = tmp("upd-sketch-src")
    waves.zipWithIndex.foreach { case (rows, i) =>
      val staging = tmp(s"upd-sketch-wave$i")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$src/wave$i.parquet")
      Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val profiled = StreamingIngest.streamingWindowedSketch(stream,
      "event_type", graft.functions.MisraGriesAgg(col("user_str"), 16),
      window = "1 hour", watermark = "2 hours")
    // collect each trigger's emitted delta rows with their batch id
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Seq[Row])]
    val q = profiled.writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.collect().foreach(r => emitted.synchronized {
          emitted += ((id, r.getTimestamp(0).toString, r.getString(1),
            r.getSeq[Row](2)))
        })
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    val w10 = "2024-01-01 10:00:00.0"
    val w14 = "2024-01-01 14:00:00.0"
    // DELTAS, not complete re-emission: wave 2 changed only the click
    // row (view's unchanged state must NOT re-emit); wave 3 emitted
    // only the new 14:00 window, never the untouched 10:00 rows
    val byBatch = emitted.groupBy(_._1).view
      .mapValues(_.map(e => (e._2, e._3)).toSet).toMap
    assert(byBatch(0L) === Set((w10, "click"), (w10, "view")))
    assert(byBatch(1L) === Set((w10, "click")))
    assert(byBatch(2L) === Set((w14, "click")))
    // FINALIZE-AT-CLOSE: wave 3's 14:00 event pushed the watermark to
    // 12:00, past the 10:00 window's end — the window closed at batch 2.
    // The consumer contract for update-mode sinks is to finalize each
    // window when the watermark passes it; the last emission AT OR
    // BEFORE the closing batch must equal the batch sketch over the
    // window's on-time rows. (Spark's drop of later-arriving rows for
    // an already-evicted window is best-effort — wave 4 may surface as
    // a fresh partial state — so post-close emissions are exactly what
    // the finalize rule exists to ignore.)
    val finalAtClose = emitted.filter(_._1 <= 2L).groupBy(e => (e._2, e._3))
      .view.mapValues(_.maxBy(_._1)._4.map(r =>
        (r.getString(0), r.getLong(1))).toSeq).toMap
    val onTime = spark.createDataFrame(
      spark.sparkContext.parallelize(waves.take(3).flatten), schema)
    val batch = StreamingIngest.streamingWindowedSketch(onTime,
        "event_type", graft.functions.MisraGriesAgg(col("user_str"), 16))
      .collect().map(r => ((r.getTimestamp(0).toString, r.getString(1)),
        r.getSeq[Row](2).map(x => (x.getString(0), x.getLong(1))).toSeq)).toMap
    assert(finalAtClose === batch)
    assert(finalAtClose((w10, "click")).toMap === Map("u1" -> 2L, "u2" -> 1L))
    // BOUNDED STATE: after the watermark passed, the closed 10:00
    // window's state rows were EVICTED — the store ends with only the
    // open 14:00 window's single row, however many rows the stream saw
    val lastState = q.recentProgress.reverse
      .find(_.stateOperators.nonEmpty).get.stateOperators.head
    assert(lastState.numRowsTotal === 1L)
  }

  test("streaming index append equals one-shot batch append; replayed batches are no-ops") {
    import graft.operators.{Staging, VectorOps}
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val buildSide = emb.filter(col("vec_id") % 3 =!= 0)
    val appendSide = emb.filter(col("vec_id") % 3 === 0)
    // reference: one-shot batch append (the t50 path)
    val batchTable = "graft_stream_ann_ref"
    val probeRef = Staging.scoped {
      VectorOps.writeIndex(buildSide, "vec_id", "embedding", batchTable,
        kClusters = 8, iters = 2, numBuckets = 8)
      VectorOps.appendToIndex(appendSide, "vec_id", "embedding", batchTable)
      VectorOps.ivfSq8TopKFromIndex(VectorOps.loadIndex(spark, batchTable),
        col("id") < 10, k = 5, nprobe = 2, candidates = 20).collect().toSet
    }
    // stream the SAME append batch in two waves through foreachBatch
    val streamTable = "graft_stream_ann"
    Staging.scoped {
      VectorOps.writeIndex(buildSide, "vec_id", "embedding", streamTable,
        kClusters = 8, iters = 2, numBuckets = 8)
    }
    val src = tmp("idx-append-src")
    Seq(col("vec_id") % 2 === 0, col("vec_id") % 2 === 1)
      .zipWithIndex.foreach { case (pred, i) =>
        val staging = tmp(s"idx-append-wave$i")
        appendSide.filter(pred).coalesce(1)
          .write.mode("overwrite").parquet(staging)
        val part = new java.io.File(staging).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = java.nio.file.Paths.get(s"$src/wave$i.parquet")
        Files.copy(part.toPath, dst)
        dst.toFile.setLastModified(1700000000000L + i * 60000L)
      }
    val stream = spark.readStream.schema(appendSide.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = StreamingIngest.streamingIndexSink(stream,
      tmp("idx-append-ckpt"))(VectorOps.appendToIndexCommitted(_,
      "vec_id", "embedding", streamTable, _))
    q.processAllAvailable(); q.stop()
    val probeStream = Staging.scoped {
      VectorOps.ivfSq8TopKFromIndex(VectorOps.loadIndex(spark, streamTable),
        col("id") < 10, k = 5, nprobe = 2, candidates = 20).collect().toSet
    }
    assert(probeStream === probeRef)
    // idempotence: replaying an already-committed batch id is a no-op
    import graft.operators.CommitLog
    def codedCount(): Long = Staging.scoped {
      VectorOps.loadIndex(spark, streamTable).coded.count()
    }
    val before = codedCount()
    VectorOps.appendToIndexCommitted(appendSide, "vec_id", "embedding",
      streamTable, batchId = 0L)
    assert(codedCount() === before)
    // a NEW batch id with an empty frame commits without adding rows
    VectorOps.appendToIndexCommitted(appendSide.limit(0), "vec_id",
      "embedding", streamTable, batchId = 99L)
    assert(codedCount() === before)
    assert(CommitLog.committedBatches(spark, streamTable) === Seq(0L, 1L, 99L))
    // COMPACTION folds the committed side runs into the bucketed base
    // (the LSM merge) and clears the log; probes are unchanged
    Staging.scoped { VectorOps.compactIndex(spark, streamTable) }
    assert(CommitLog.committedBatches(spark, streamTable).isEmpty)
    // every formerly-side row now lives in the bucketed base itself
    assert(spark.table(streamTable).count() === before)
    val probeCompacted = Staging.scoped {
      VectorOps.ivfSq8TopKFromIndex(VectorOps.loadIndex(spark, streamTable),
        col("id") < 10, k = 5, nprobe = 2, candidates = 20).collect().toSet
    }
    assert(probeCompacted === probeRef)
  }

  test("vector append commit is atomic: a crash between data write and commit leaves nothing; replay is exactly-once") {
    import graft.operators.{CommitLog, Staging, VectorOps}
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val buildSide = emb.filter(col("vec_id") % 3 =!= 0)
    val appendSide = emb.filter(col("vec_id") % 3 === 0)
    val table = "graft_atomic_ann"
    Staging.scoped {
      VectorOps.writeIndex(buildSide, "vec_id", "embedding", table,
        kClusters = 8, iters = 2, numBuckets = 8)
    }
    def probe(): Set[org.apache.spark.sql.Row] = Staging.scoped {
      VectorOps.ivfSq8TopKFromIndex(VectorOps.loadIndex(spark, table),
        col("id") < 10, k = 5, nprobe = 2, candidates = 20).collect().toSet
    }
    val probeBase = probe()
    // CRASH INJECTION at the old protocol's fatal point: the batch's
    // data files are fully written, the commit has not happened. With
    // the ledger recipe this was the one-batch duplication window; with
    // the rename protocol the staged files must be INVISIBLE.
    val boom = intercept[RuntimeException] {
      CommitLog.commit(spark, table, batchId = 0L) { dir =>
        appendSide.limit(5).write.parquet(dir)
        throw new RuntimeException("crash after data write, before commit")
      }
    }
    assert(boom.getMessage.contains("before commit"))
    assert(!CommitLog.isCommitted(spark, table, 0L))
    assert(probe() === probeBase) // staged rows never became visible
    // RESTART: Structured Streaming replays batch 0 with the same rows;
    // the stale staging debris is cleared and the batch commits once
    VectorOps.appendToIndexCommitted(appendSide, "vec_id", "embedding",
      table, batchId = 0L)
    assert(CommitLog.isCommitted(spark, table, 0L))
    val afterReplay = probe()
    // the replayed result equals a ONE-SHOT batch append (exactly-once)
    val refTable = "graft_atomic_ann_ref"
    val probeRef = Staging.scoped {
      VectorOps.writeIndex(buildSide, "vec_id", "embedding", refTable,
        kClusters = 8, iters = 2, numBuckets = 8)
      VectorOps.appendToIndex(appendSide, "vec_id", "embedding", refTable)
      VectorOps.ivfSq8TopKFromIndex(VectorOps.loadIndex(spark, refTable),
        col("id") < 10, k = 5, nprobe = 2, candidates = 20).collect().toSet
    }
    assert(afterReplay === probeRef)
    // and a second replay of the committed id is a no-op
    val n = Staging.scoped { VectorOps.loadIndex(spark, table).coded.count() }
    VectorOps.appendToIndexCommitted(appendSide, "vec_id", "embedding",
      table, batchId = 0L)
    assert(Staging.scoped {
      VectorOps.loadIndex(spark, table).coded.count() } === n)
  }

  test("streaming PQ append/delete equal their one-shot batch twins; replays are no-ops") {
    import graft.operators.{CommitLog, Ddl, Staging, VectorOps}
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val buildSide = emb.filter(col("vec_id") % 3 =!= 0)
    val appendSide = emb.filter(col("vec_id") % 3 === 0)
    // reference: one-shot batch append (the t55 path)
    val refTable = "graft_stream_pq_ref"
    val probeRef = Staging.scoped {
      VectorOps.writePqIndex(buildSide, "vec_id", "embedding", refTable,
        m = 4, ksub = 8, iters = 2)
      VectorOps.appendToPqIndex(appendSide, "vec_id", "embedding", refTable)
      VectorOps.pqTopKFromIndex(VectorOps.loadPqIndex(spark, refTable),
        col("id") < 10, k = 5, candidates = 20).collect().toSet
    }
    // stream the SAME append batch in two waves through foreachBatch
    val streamTable = "graft_stream_pq"
    Staging.scoped {
      VectorOps.writePqIndex(buildSide, "vec_id", "embedding", streamTable,
        m = 4, ksub = 8, iters = 2)
    }
    val src = tmp("pq-append-src")
    Seq(col("vec_id") % 2 === 0, col("vec_id") % 2 === 1)
      .zipWithIndex.foreach { case (pred, i) =>
        val staging = tmp(s"pq-append-wave$i")
        appendSide.filter(pred).coalesce(1)
          .write.mode("overwrite").parquet(staging)
        val part = new java.io.File(staging).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = java.nio.file.Paths.get(s"$src/wave$i.parquet")
        Files.copy(part.toPath, dst)
        dst.toFile.setLastModified(1700000000000L + i * 60000L)
      }
    val stream = spark.readStream.schema(appendSide.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = StreamingIngest.streamingIndexSink(stream,
      tmp("pq-append-ckpt"))(VectorOps.appendToPqIndexCommitted(_,
      "vec_id", "embedding", streamTable, _))
    q.processAllAvailable(); q.stop()
    def probePq(): Set[org.apache.spark.sql.Row] = Staging.scoped {
      VectorOps.pqTopKFromIndex(VectorOps.loadPqIndex(spark, streamTable),
        col("id") < 10, k = 5, candidates = 20).collect().toSet
    }
    assert(probePq() === probeRef)
    // replayed batch id is a no-op
    def codedCount(): Long = Staging.scoped {
      VectorOps.loadPqIndex(spark, streamTable).coded.count()
    }
    val before = codedCount()
    VectorOps.appendToPqIndexCommitted(appendSide, "vec_id", "embedding",
      streamTable, batchId = 0L)
    assert(codedCount() === before)
    assert(CommitLog.committedBatches(spark, streamTable) === Seq(0L, 1L))
    // DELETE twin: stream-fed tombstones equal the one-shot t60 path
    val doomed = emb.filter(col("vec_id") % 7 === 3)
    val delSrc = tmp("pq-del-src")
    val delStaging = tmp("pq-del-wave0")
    doomed.select("vec_id").coalesce(1)
      .write.mode("overwrite").parquet(delStaging)
    val delPart = new java.io.File(delStaging).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(delPart.toPath,
      java.nio.file.Paths.get(s"$delSrc/wave0.parquet"))
    val delStream = spark.readStream
      .schema(doomed.select("vec_id").schema).parquet(delSrc)
    val dq = StreamingIngest.streamingIndexSink(delStream,
      tmp("pq-del-ckpt"))(StreamingIngest.deletePqBatch(_, _, "vec_id",
      streamTable))
    dq.processAllAvailable(); dq.stop()
    val refDel = Staging.scoped {
      VectorOps.deleteFromPqIndex(doomed, "vec_id", refTable)
      VectorOps.pqTopKFromIndex(VectorOps.loadPqIndex(spark, refTable),
        col("id") < 10, k = 5, candidates = 20).collect().toSet
    }
    assert(probePq() === refDel)
    // replayed delete batch leaves the tombstone list untouched
    val tsTable = Ddl.tombstoneTable(streamTable)
    val tsBefore = spark.table(tsTable).count()
    StreamingIngest.deletePqBatch(doomed, batchId = 0L, "vec_id",
      streamTable)
    assert(spark.table(tsTable).count() === tsBefore)
    // COMPACTION folds side runs, drops tombstoned rows, clears both
    Staging.scoped { VectorOps.compactPqIndex(spark, streamTable) }
    assert(CommitLog.committedBatches(spark, streamTable).isEmpty)
    assert(!spark.catalog.tableExists(tsTable))
    assert(probePq() === refDel)
  }

  test("streaming index deletes equal a one-shot delete; replayed delete batches are no-ops") {
    import graft.operators.{Ddl, Retrieval, Staging, VectorOps}
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val doomed = emb.filter(col("vec_id") % 7 === 3)
    // reference: one-shot batch delete (the t56 path)
    val refTable = "graft_stream_anndel_ref"
    val probeRef = Staging.scoped {
      VectorOps.writeIndex(emb, "vec_id", "embedding", refTable,
        kClusters = 8, iters = 2, numBuckets = 8)
      VectorOps.deleteFromIndex(doomed, "vec_id", refTable)
      VectorOps.ivfSq8TopKFromIndex(VectorOps.loadIndex(spark, refTable),
        col("id") < 20, k = 5, nprobe = 2, candidates = 20).collect().toSet
    }
    // stream the SAME delete set in two waves through foreachBatch
    val streamTable = "graft_stream_anndel"
    Staging.scoped {
      VectorOps.writeIndex(emb, "vec_id", "embedding", streamTable,
        kClusters = 8, iters = 2, numBuckets = 8)
    }
    val src = tmp("idx-del-src")
    Seq(col("vec_id") % 2 === 0, col("vec_id") % 2 === 1)
      .zipWithIndex.foreach { case (pred, i) =>
        val staging = tmp(s"idx-del-wave$i")
        doomed.filter(pred).select("vec_id").coalesce(1)
          .write.mode("overwrite").parquet(staging)
        val part = new java.io.File(staging).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = java.nio.file.Paths.get(s"$src/wave$i.parquet")
        Files.copy(part.toPath, dst)
        dst.toFile.setLastModified(1700000000000L + i * 60000L)
      }
    val stream = spark.readStream
      .schema(doomed.select("vec_id").schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = StreamingIngest.streamingIndexSink(stream,
      tmp("idx-del-ckpt"))(StreamingIngest.deleteVectorBatch(_, _,
      "vec_id", streamTable))
    q.processAllAvailable(); q.stop()
    val probeStream = Staging.scoped {
      VectorOps.ivfSq8TopKFromIndex(VectorOps.loadIndex(spark, streamTable),
        col("id") < 20, k = 5, nprobe = 2, candidates = 20).collect().toSet
    }
    assert(probeStream === probeRef)
    assert(probeStream.nonEmpty)
    // idempotence: a replayed delete batch id leaves the tombstone list
    // untouched (the ledger's job — unbounded retries must not grow it)
    val tsTable = Ddl.tombstoneTable(streamTable)
    val before = spark.table(tsTable).count()
    StreamingIngest.deleteVectorBatch(doomed, batchId = 0L, "vec_id",
      streamTable)
    assert(spark.table(tsTable).count() === before)
    // BM25 twin: stream-fed deletes answer probes exactly like the
    // one-shot t57 path (stats refresh included per batch)
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val bmTable = "graft_stream_bm25del"
    Staging.scoped {
      Retrieval.writeBm25Index(docs, "doc_id", "text", bmTable)
    }
    val bmSrc = tmp("bm25-del-src")
    val bmDoomed = docs.filter(col("doc_id") % 7 === 3).select("doc_id")
    val staging = tmp("bm25-del-wave0")
    bmDoomed.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$bmSrc/wave0.parquet"))
    val bmStream = spark.readStream.schema(bmDoomed.schema)
      .parquet(bmSrc)
    val bq = StreamingIngest.streamingIndexSink(bmStream,
      tmp("bm25-del-ckpt"))(StreamingIngest.deleteDocBatch(_, _, "doc_id",
      bmTable))
    bq.processAllAvailable(); bq.stop()
    val probe = Retrieval
      .bm25TopKFromIndex(spark, bmTable, Seq("data", "model"), k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val inQuery = Staging.scoped {
      operators.TextAnalysis
        .bm25TopK(docs.filter(col("doc_id") % 7 =!= 3), "doc_id", "text",
          Seq("data", "model"), k = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    assert(probe === inQuery)
  }

  test("streaming forget-everywhere equals one-shot batch forget across all four modalities; replay is a no-op") {
    import graft.operators.{Ddl, Forget, Retrieval, Staging, TextDedup, VectorOps}
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val doomedVec = emb.filter(col("vec_id") % 5 === 2).select("vec_id")
    val doomedDoc = docs.filter(col("doc_id") % 5 === 2).select("doc_id")
    def buildAll(sfx: String): (String, String, String, String) = {
      val (annT, pqT, bmT, mhT) = (s"graft_sforget_ann$sfx",
        s"graft_sforget_pq$sfx", s"graft_sforget_bm25$sfx",
        s"graft_sforget_mh$sfx")
      Staging.scoped {
        VectorOps.writeIndex(emb, "vec_id", "embedding", annT,
          kClusters = 8, iters = 2, numBuckets = 8)
        VectorOps.writePqIndex(emb, "vec_id", "embedding", pqT,
          m = 4, ksub = 16, iters = 2)
        Retrieval.writeBm25Index(docs, "doc_id", "text", bmT)
        TextDedup.writeMinhashIndex(docs, "doc_id", "text", n = 3, k = 16,
          bandSize = 4, numBands = 4, threshold = 0.5, table = mhT)
      }
      (annT, pqT, bmT, mhT)
    }
    // reference: the t95 one-shot path
    val (rAnn, rPq, rBm, rMh) = buildAll("_ref")
    Forget.forgetEverywhere(doomedVec, "vec_id",
      Forget.CorpusIndexes(ann = Some(rAnn), pq = Some(rPq)))
    Forget.forgetEverywhere(doomedDoc, "doc_id",
      Forget.CorpusIndexes(bm25 = Some(rBm), minhash = Some(rMh)))
    // stream: one sink per id space, ids split across two waves
    val (sAnn, sPq, sBm, sMh) = buildAll("_str")
    def waves(ids: org.apache.spark.sql.DataFrame, keyCol: String,
        dirName: String): String = {
      val src = tmp(dirName)
      Seq(col(keyCol) % 2 === 0, col(keyCol) % 2 === 1)
        .zipWithIndex.foreach { case (pred, i) =>
          val staging = tmp(s"$dirName-wave$i")
          ids.filter(pred).coalesce(1)
            .write.mode("overwrite").parquet(staging)
          val part = new java.io.File(staging).listFiles()
            .find(_.getName.endsWith(".parquet")).get
          val dst = java.nio.file.Paths.get(s"$src/wave$i.parquet")
          Files.copy(part.toPath, dst)
          dst.toFile.setLastModified(1700000000000L + i * 60000L)
        }
      src
    }
    val q1 = StreamingIngest.streamingForget(
      spark.readStream.schema(doomedVec.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(waves(doomedVec, "vec_id", "sforget-vec-src")),
      "vec_id", Forget.CorpusIndexes(ann = Some(sAnn), pq = Some(sPq)),
      tmp("sforget-vec-ckpt"))
    q1.processAllAvailable(); q1.stop()
    val q2 = StreamingIngest.streamingForget(
      spark.readStream.schema(doomedDoc.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(waves(doomedDoc, "doc_id", "sforget-doc-src")),
      "doc_id", Forget.CorpusIndexes(bm25 = Some(sBm), minhash = Some(sMh)),
      tmp("sforget-doc-ckpt"))
    q2.processAllAvailable(); q2.stop()
    // every modality's tombstone set equals the one-shot reference's
    for ((r, s) <- Seq(rAnn -> sAnn, rPq -> sPq, rBm -> sBm, rMh -> sMh)) {
      val ref = spark.table(Ddl.tombstoneTable(r))
        .collect().map(_.getLong(0)).sorted.toSeq
      val got = spark.table(Ddl.tombstoneTable(s))
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got === ref, s"tombstones $s")
      assert(got.nonEmpty)
    }
    // probes agree end-to-end (merge-on-read anti-join picks them up)
    val probeRef = Staging.scoped {
      VectorOps.ivfSq8TopKFromIndex(VectorOps.loadIndex(spark, rAnn),
        col("id") < 10, k = 5, nprobe = 2, candidates = 20)
        .collect().map(_.toString).toSet
    }
    val probeStr = Staging.scoped {
      VectorOps.ivfSq8TopKFromIndex(VectorOps.loadIndex(spark, sAnn),
        col("id") < 10, k = 5, nprobe = 2, candidates = 20)
        .collect().map(_.toString).toSet
    }
    assert(probeStr === probeRef && probeStr.nonEmpty)
    val bmRef = Retrieval.bm25TopKFromIndex(spark, rBm,
      Seq("data", "model"), k = 20).collect().map(_.toString).toSeq
    val bmStr = Retrieval.bm25TopKFromIndex(spark, sBm,
      Seq("data", "model"), k = 20).collect().map(_.toString).toSeq
    assert(bmStr === bmRef && bmStr.nonEmpty)
    // replay: re-running wave 0's batch id across the composed sink
    // leaves every tombstone list untouched (per-modality ledgers)
    val before = Seq(sAnn, sPq).map(t => spark.table(Ddl.tombstoneTable(t)).count())
    StreamingIngest.deleteVectorBatch(doomedVec, batchId = 0L, "vec_id", sAnn)
    StreamingIngest.deletePqBatch(doomedVec, batchId = 0L, "vec_id", sPq)
    val after = Seq(sAnn, sPq).map(t => spark.table(Ddl.tombstoneTable(t)).count())
    assert(after === before)
  }

  test("streaming BM25 append equals one-shot batch append on arbitrary probes") {
    import graft.operators.{Retrieval, Staging}
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val buildSide = docs.filter(col("doc_id") % 3 =!= 0)
    val appendSide = docs.filter(col("doc_id") % 3 === 0)
    val terms = Seq("data", "model", "the")
    val refTable = "graft_stream_bm25_ref"
    val probeRef = Staging.scoped {
      Retrieval.writeBm25Index(buildSide, "doc_id", "text", refTable)
      Retrieval.appendToBm25Index(appendSide, "doc_id", "text", refTable)
      Retrieval.bm25TopKFromIndex(spark, refTable, terms, k = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val streamTable = "graft_stream_bm25"
    Staging.scoped {
      Retrieval.writeBm25Index(buildSide, "doc_id", "text", streamTable)
    }
    val src = tmp("bm25-append-src")
    Seq(col("doc_id") % 2 === 0, col("doc_id") % 2 === 1)
      .zipWithIndex.foreach { case (pred, i) =>
        val staging = tmp(s"bm25-append-wave$i")
        appendSide.filter(pred).coalesce(1)
          .write.mode("overwrite").parquet(staging)
        val part = new java.io.File(staging).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = java.nio.file.Paths.get(s"$src/wave$i.parquet")
        Files.copy(part.toPath, dst)
        dst.toFile.setLastModified(1700000000000L + i * 60000L)
      }
    val stream = spark.readStream.schema(appendSide.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = StreamingIngest.streamingIndexSink(stream,
      tmp("bm25-append-ckpt"))(StreamingIngest.appendDocBatch(_, _,
      "doc_id", "text", streamTable))
    q.processAllAvailable(); q.stop()
    val probeStream = Staging.scoped {
      Retrieval.bm25TopKFromIndex(spark, streamTable, terms, k = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    assert(probeStream === probeRef)
    assert(probeStream.nonEmpty)
  }

  test("streaming committed BM25 append: atomic batches, loaded probe equals the full-corpus scorer") {
    import graft.operators.{CommitLog, Retrieval, Staging}
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val buildSide = docs.filter(col("doc_id") % 3 =!= 0)
    val appendSide = docs.filter(col("doc_id") % 3 === 0)
    val terms = Seq("data", "model", "the")
    val table = "graft_stream_bm25_commit"
    Staging.scoped {
      Retrieval.writeBm25Index(buildSide, "doc_id", "text", table)
    }
    val src = tmp("bm25-commit-src")
    Seq(col("doc_id") % 2 === 0, col("doc_id") % 2 === 1)
      .zipWithIndex.foreach { case (pred, i) =>
        val staging = tmp(s"bm25-commit-wave$i")
        appendSide.filter(pred).coalesce(1)
          .write.mode("overwrite").parquet(staging)
        val part = new java.io.File(staging).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = java.nio.file.Paths.get(s"$src/wave$i.parquet")
        Files.copy(part.toPath, dst)
        dst.toFile.setLastModified(1700000000000L + i * 60000L)
      }
    val stream = spark.readStream.schema(appendSide.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = StreamingIngest.streamingIndexSink(stream,
      tmp("bm25-commit-ckpt"))(Retrieval.appendToBm25IndexCommitted(_,
      "doc_id", "text", table, _))
    q.processAllAvailable(); q.stop()
    // one atomic commit per micro-batch; the base tables are untouched
    assert(CommitLog.committedBatches(spark, table).size === 2)
    val baseOnly = Staging.scoped {
      Retrieval.bm25TopKFromIndex(spark, table, terms, k = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val buildOracle = Staging.scoped {
      operators.TextAnalysis
        .bm25TopK(buildSide, "doc_id", "text", terms, k = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    assert(baseOnly === buildOracle)
    // the LOADED probe sees both committed batches = full-corpus scorer
    val loaded = Staging.scoped {
      Retrieval.bm25TopKFromLoaded(Retrieval.loadBm25Index(spark, table),
          terms, k = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val fullOracle = Staging.scoped {
      operators.TextAnalysis
        .bm25TopK(docs, "doc_id", "text", terms, k = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    assert(loaded === fullOracle)
  }

  test("streaming CEP funnel: event-time ordering via watermark buffer equals the batch funnel") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType)))
    // THE CEP ordering trap, on purpose: u1's click (event time 10:01)
    // ARRIVES AFTER its view (event time 10:05). Folding in arrival
    // order would see view→click and wrongly reach stage 2; the correct
    // event-time order is click→view = stage 1. u2 mirrors it with both
    // rows in one wave. Waves 2 and 4 are watermark pushers (2h lag).
    val waves = Seq(
      Seq(Row(1L, 1L, t("2024-01-01 10:05:00"), "view"),
        Row(2L, 10L, t("2024-01-01 10:00:00"), "click"),
        Row(2L, 11L, t("2024-01-01 10:01:00"), "view")),
      Seq(Row(1L, 2L, t("2024-01-01 10:01:00"), "click")),
      Seq(Row(9L, 90L, t("2024-01-01 14:00:00"), "error")),
      Seq(Row(1L, 3L, t("2024-01-01 12:30:00"), "click"),
        Row(1L, 4L, t("2024-01-01 13:00:00"), "purchase")),
      Seq(Row(9L, 91L, t("2024-01-01 16:00:00"), "error")))
    val src = tmp("funnel-src")
    waves.zipWithIndex.foreach { case (rows, i) =>
      val staging = tmp(s"funnel-wave$i")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$src/wave$i.parquet")
      Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val stages = Seq("view", "click", "purchase")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val updates = StreamingIngest.streamingFunnel(spark, stream, stages, "2 hours")
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int, Seq[Long])]
    val q = updates.toDF().writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.collect().foreach(r => emitted.synchronized {
          emitted += ((id, r.getLong(0), r.getInt(1), r.getSeq[Long](2)))
        })
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    // final emission per user == the batch funnel over the same rows
    val batch = graft.operators.Funnel.funnel(
        spark.createDataFrame(spark.sparkContext.parallelize(waves.flatten), schema),
        "user_id", "event_type", "ts", "event_id", stages)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), (2 to 4).map(r.get).filter(_ != null).map(_.asInstanceOf[Long]))))
      .toMap
    val lastByUser = emitted.groupBy(_._2).view
      .mapValues(es => { val e = es.maxBy(_._1); (e._3, e._4) }).toMap
    assert(lastByUser.keySet === batch.keySet)
    lastByUser.foreach { case (u, got) => assert(got === batch(u), s"user $u") }
    // the trap specifically: u1 completes, but its stage-2 witness is the
    // 12:30 click — an arrival-order fold would have claimed the 10:01
    // click that in EVENT time precedes the first view
    assert(lastByUser(1L) === ((3, Seq(t("2024-01-01 10:05:00"),
      t("2024-01-01 12:30:00"), t("2024-01-01 13:00:00"))
      .map(_.getTime * 1000L))))
    assert(lastByUser(2L)._1 === 1)
  }

  test("streaming CEP funnel property: ARBITRARY on-time arrival order equals batch") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType)))
    val rnd = new scala.util.Random(31337L)
    val types = Array("view", "click", "purchase", "error")
    // 120 events over one hour, SHUFFLED into 6 random waves — with a
    // 2-day watermark nothing is ever late, so every arrival order is
    // on-time and the buffer must reorder ALL of it; a final far-future
    // pusher advances the watermark past everything and flushes
    val events = (0 until 120).map { i =>
      Row(rnd.nextInt(8).toLong, i.toLong,
        t(f"2024-01-01 10:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d"),
        types(rnd.nextInt(types.length)))
    }
    val waves = rnd.shuffle(events).grouped(20).toSeq :+
      Seq(Row(99L, 9999L, t("2024-01-05 10:00:00"), "error"))
    val src = tmp("funnel-prop-src")
    waves.zipWithIndex.foreach { case (rows, i) =>
      val staging = tmp(s"funnel-prop-wave$i")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$src/wave$i.parquet")
      Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val stages = Seq("view", "click", "purchase")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val updates = StreamingIngest.streamingFunnel(spark, stream, stages, "2 days")
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int, Seq[Long])]
    val q = updates.toDF().writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.collect().foreach(r => emitted.synchronized {
          emitted += ((id, r.getLong(0), r.getInt(1), r.getSeq[Long](2)))
        })
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    val batch = graft.operators.Funnel.funnel(
        spark.createDataFrame(
          spark.sparkContext.parallelize(waves.flatten), schema),
        "user_id", "event_type", "ts", "event_id", stages)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), (2 to 4).map(r.get).filter(_ != null)
          .map(_.asInstanceOf[Long]))))
      .toMap
    val lastByUser = emitted.groupBy(_._2).view
      .mapValues(es => { val e = es.maxBy(_._1); (e._3, e._4) }).toMap
    assert(lastByUser.keySet === batch.keySet)
    lastByUser.foreach { case (u, got) => assert(got === batch(u), s"user $u") }
    // the shuffle must actually have exercised completion somewhere
    assert(batch.values.exists(_._1 == 3))
  }

  test("streaming iterative funnel: arbitrary on-time arrival order equals batch for both anchors") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType), StructField("v", LongType)))
    val rnd = new scala.util.Random(5088L)
    val types = Array("view", "click", "purchase", "error")
    val events = (0 until 120).map { i =>
      Row(rnd.nextInt(8).toLong, i.toLong,
        t(f"2024-01-01 10:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d"),
        types(rnd.nextInt(types.length)), rnd.nextInt(2000).toLong)
    }
    val waves = rnd.shuffle(events).grouped(20).toSeq :+
      Seq(Row(99L, 9999L, t("2024-01-05 10:00:00"), "error", 0L))
    val src = tmp("funnel-iter-src")
    waves.zipWithIndex.foreach { case (rows, i) =>
      val staging = tmp(s"funnel-iter-wave$i")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$src/wave$i.parquet")
      Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val stages = Seq(graft.operators.Funnel.IterStage("view"),
      graft.operators.Funnel.IterStage("click",
        Some(graft.operators.Funnel.RelGt(3, 1))),
      graft.operators.Funnel.IterStage("purchase",
        Some(graft.operators.Funnel.RelGt(2, 1))))
    for (anchor <- Seq(graft.operators.Funnel.AnchorFirst,
        graft.operators.Funnel.AnchorPrev)) {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      val updates = StreamingIngest.streamingFunnelIterative(spark,
        stream, "v", stages, anchor, "2 days")
      val emitted = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Int, Seq[Option[Long]])]
      val q = updates.toDF().writeStream.outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          df.collect().foreach(r => emitted.synchronized {
            emitted += ((id, r.getLong(0), r.getInt(1),
              r.getSeq[Any](2).map(x =>
                Option(x).map(_.asInstanceOf[Long]))))
          })
          ()
        }.start()
      q.processAllAvailable(); q.stop()
      val batch = graft.operators.Funnel.funnelIterative(
          spark.createDataFrame(
            spark.sparkContext.parallelize(waves.flatten), schema),
          "user_id", "event_type", "ts", "event_id", "v", stages, anchor)
        .collect().map(r => r.getLong(0) ->
          ((r.getInt(1), (2 to 4).map(r.get)
            .map(Option(_).map(_.asInstanceOf[Long])))))
        .toMap
      val lastByUser = emitted.groupBy(_._2).view
        .mapValues(es => { val e = es.maxBy(_._1); (e._3, e._4) }).toMap
      assert(lastByUser.keySet === batch.keySet, s"anchor $anchor")
      lastByUser.foreach { case (u, got) =>
        assert(got === batch(u), s"anchor $anchor user $u") }
      assert(batch.values.exists(_._1 >= 2), "corpus must advance somewhere")
    }
  }

  test("streaming predicate funnel: shuffled on-time arrival equals the batch funnelWhere with the same conditions") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType), StructField("v", LongType)))
    val rnd = new scala.util.Random(5328L)
    val types = Array("view", "view.promo", "click", "purchase")
    val events = (0 until 120).map { i =>
      Row(rnd.nextInt(8).toLong, i.toLong,
        t(f"2024-01-01 10:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d"),
        types(rnd.nextInt(types.length)), rnd.nextInt(12).toLong)
    }
    val waves = rnd.shuffle(events).grouped(20).toSeq :+
      Seq(Row(99L, 9999L, t("2024-01-05 10:00:00"), "error", 0L))
    val src = tmp("funnel-where-src")
    waves.zipWithIndex.foreach { case (rows, i) =>
      val staging = tmp(s"funnel-where-wave$i")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$src/wave$i.parquet")
      Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    // subtype + value gate, then a plain click — the w53 shape
    val scalaStages: Seq[(String, Long) => Boolean] = Seq(
      (tp, v) => tp.startsWith("view") && v >= 5L,
      (tp, v) => tp == "click")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val updates = StreamingIngest.streamingFunnelWhere(spark, stream,
      "v", scalaStages, "2 days")
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int, Seq[Long])]
    val q = updates.toDF().writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.collect().foreach(r => emitted.synchronized {
          emitted += ((id, r.getLong(0), r.getInt(1), r.getSeq[Long](2)))
        })
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    val colStages: Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column] =
      Seq(
        e => e.getField("event_type").startsWith("view") &&
          e.getField("v") >= 5L,
        e => e.getField("event_type") === "click")
    val batch = graft.operators.Funnel.funnelWhere(
        spark.createDataFrame(
          spark.sparkContext.parallelize(waves.flatten), schema),
        "user_id", "ts", "event_id", Seq("event_type", "v"), colStages)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), (2 to 3).map(r.get).filter(_ != null)
          .map(_.asInstanceOf[Long]))))
      .toMap
    val lastByUser = emitted.groupBy(_._2).view
      .mapValues(es => { val e = es.maxBy(_._1); (e._3, e._4) }).toMap
    assert(lastByUser.keySet === batch.keySet)
    lastByUser.foreach { case (u, got) => assert(got === batch(u), s"user $u") }
    assert(batch.values.exists(_._1 == 2), "corpus must complete somewhere")
    assert(batch.values.exists(_._1 < 2), "corpus must also fail somewhere")
  }

  test("streaming CEP funnel: finite match retention frees completed state; a later event starts a new instance") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType)))
    // u1 completes at 10:10; retention 30 min ⇒ tombstone freed once the
    // watermark passes 10:40 in a batch with no u1 data (timers only fire
    // for data-less keys). The 15:30 pusher's batch carries wm 13:00 and
    // fires the cleanup; u1's 14:00 view then finds NO state and starts a
    // NEW funnel instance (AFTER MATCH SKIP + TTL semantics). Without
    // removal the view would be absorbed silently (stage already k).
    val waves = Seq(
      Seq(Row(1L, 1L, t("2024-01-01 10:00:00"), "view"),
        Row(1L, 2L, t("2024-01-01 10:05:00"), "click"),
        Row(1L, 3L, t("2024-01-01 10:10:00"), "purchase")),
      Seq(Row(9L, 90L, t("2024-01-01 12:30:00"), "error")), // next wm 10:30
      Seq(Row(9L, 91L, t("2024-01-01 15:00:00"), "error")), // wm 10:30: u1 flushes, completes
      Seq(Row(9L, 92L, t("2024-01-01 15:30:00"), "error")), // wm 13:00: cleanup fires
      Seq(Row(1L, 4L, t("2024-01-01 14:00:00"), "view")),   // fresh instance, buffered
      Seq(Row(9L, 93L, t("2024-01-01 17:00:00"), "error"))) // wm 15:00 flushes the view
    val src = tmp("funnel-ttl-src")
    waves.zipWithIndex.foreach { case (rows, i) =>
      val staging = tmp(s"funnel-ttl-wave$i")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$src/wave$i.parquet")
      Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val stages = Seq("view", "click", "purchase")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val updates = StreamingIngest.streamingFunnel(spark, stream, stages,
      "2 hours", matchRetentionMs = 30L * 60 * 1000)
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int, Seq[Long])]
    val q = updates.toDF().writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.collect().foreach(r => emitted.synchronized {
          emitted += ((id, r.getLong(0), r.getInt(1), r.getSeq[Long](2)))
        })
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    val u1 = emitted.filter(_._2 == 1L).sortBy(_._1)
    // first instance completes at stage 3…
    assert(u1.exists(_._3 == 3))
    // …and the post-retention view RE-EMITS as a fresh stage-1 instance
    // (retained completed state would have absorbed it with no emission)
    val last = u1.last
    assert(last._3 === 1)
    assert(last._4 === Seq(t("2024-01-01 14:00:00").getTime * 1000L))
  }

  test("retention property: every completing CEP twin frees its completed state once the watermark passes completion + retention, and a later event starts a new instance") {
    import org.apache.spark.sql.{DataFrame, Row}
    import graft.operators.Funnel.{IterStage, PatternStage}
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // 2-hour lag, 30-minute retention; the comments give the watermark
    // each wave's batch runs with. u1 completes at 10:10 (batch 1), is
    // freed once the watermark passes 10:40 (batch 2) and its 14:00
    // view starts a NEW instance (stage 1 after the wm-15:10 flush). u2
    // completes at 12:50 (batch 2); batch 3 runs at wm 13:05 without u2
    // data (a timer set short of 12:50 + 30 min would fire there) and
    // u2's 13:15 view arrives at wm 13:10 — both before completion +
    // retention — so u2 must neither be freed nor restart.
    val waves = Seq(
      Seq(Row(1L, 1L, t("2024-01-01 10:00:00"), "view"),
        Row(1L, 2L, t("2024-01-01 10:05:00"), "click"),
        Row(1L, 3L, t("2024-01-01 10:10:00"), "purchase"),
        Row(2L, 4L, t("2024-01-01 12:40:00"), "view"),
        Row(2L, 5L, t("2024-01-01 12:45:00"), "click"),
        Row(2L, 6L, t("2024-01-01 12:50:00"), "purchase")),
      Seq(Row(9L, 90L, t("2024-01-01 15:00:00"), "error")), // wm 10:50
      Seq(Row(9L, 91L, t("2024-01-01 15:05:00"), "error")), // wm 13:00
      Seq(Row(9L, 92L, t("2024-01-01 15:10:00"), "error")), // wm 13:05
      Seq(Row(1L, 7L, t("2024-01-01 14:00:00"), "view"),    // wm 13:10
        Row(2L, 8L, t("2024-01-01 13:15:00"), "view")),
      Seq(Row(9L, 93L, t("2024-01-01 17:10:00"), "error")), // wm 13:10
      Seq(Row(9L, 94L, t("2024-01-01 17:20:00"), "error"))) // wm 15:10
    val src = tmp("retention-prop-src")
    writeWaves(src, waves)
    val ret = 30L * 60 * 1000
    val hour = 3600L * 1000 * 1000
    val abc = Seq("view", "click", "purchase")
    val twins: Seq[(String, DataFrame => DataFrame)] = Seq(
      "Within" -> (s => StreamingIngest.streamingFunnelWithin(spark, s,
        abc, hour, "2 hours", ret).toDF()),
      "Guarded" -> (s => StreamingIngest.streamingFunnelGuarded(spark, s,
        abc, Seq(Some("error"), Some("error")), "2 hours", ret).toDF()),
      "PatternWithin" -> (s => StreamingIngest.streamingFunnelPatternWithin(
        spark, s, abc.map(PatternStage(_)), hour, "2 hours", ret).toDF()),
      "WithinGuarded" -> (s => StreamingIngest.streamingFunnelWithinGuarded(
        spark, s, abc, hour, Seq(None, Some("error")), "2 hours",
        ret).toDF()),
      "Loop" -> (s => StreamingIngest.streamingFunnelLoop(spark, s,
        abc.map(_ -> 1), "2 hours", ret).toDF()),
      "LoopUntil" -> (s => StreamingIngest.streamingFunnelLoopUntil(spark,
        s, abc.map(tp => (tp, 1, None)), "2 hours", ret).toDF()),
      "Pattern" -> (s => StreamingIngest.streamingFunnelPattern(spark, s,
        abc.map(PatternStage(_)), "2 hours", ret).toDF()),
      "Iterative" -> (s => StreamingIngest.streamingFunnelIterative(spark,
        s, "v", abc.map(IterStage(_)),
        graft.operators.Funnel.AnchorFirst, "2 hours", ret).toDF()),
      "Where" -> (s => StreamingIngest.streamingFunnelWhere(spark, s, "v",
        abc.map(want => (tp: String, _: Long) => tp == want), "2 hours",
        ret).toDF()),
      "Times" -> (s => StreamingIngest.streamingFunnelTimes(spark, s,
        abc.map(_ -> 1), "2 hours", ret)))
    for ((name, run) <- twins) {
      val emitted = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Int)]
      val q = run(spark.readStream.schema(funnelWaveSchema)
          .option("maxFilesPerTrigger", "1").parquet(src)
          .withColumn("v", lit(1L)))
        .writeStream.outputMode("update")
        .foreachBatch { (df: DataFrame, id: Long) =>
          df.collect().foreach(r => emitted.synchronized {
            emitted += ((id, r.getLong(0), r.getInt(1)))
          })
          ()
        }.start()
      q.processAllAvailable(); q.stop()
      def stages(u: Long): Seq[Int] =
        emitted.filter(_._2 == u).sortBy(_._1).map(_._3).toSeq
      val u1 = stages(1L)
      val u2 = stages(2L)
      // u1: completed, freed, then a fresh instance at stage 1
      assert(u1.contains(3) && u1.last === 1, s"$name u1 $u1")
      // u2: completed and still retained — nothing after completion
      assert(u2.contains(3) && u2.drop(u2.indexOf(3) + 1).isEmpty,
        s"$name u2 $u2")
    }
  }

  test("streaming CEP funnel survives a checkpoint restart: resumed state equals batch") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType)))
    // u1's funnel spans the RESTART: view+click land before the stop,
    // the purchase after it — the resumed state must carry stage 2
    val preWaves = Seq(
      Seq(Row(1L, 1L, t("2024-01-01 10:00:00"), "view"),
        Row(2L, 2L, t("2024-01-01 10:01:00"), "view")),
      Seq(Row(1L, 3L, t("2024-01-01 10:10:00"), "click")),
      Seq(Row(9L, 90L, t("2024-01-01 14:00:00"), "error"))) // wm → 12:00
    val postWaves = Seq(
      Seq(Row(1L, 4L, t("2024-01-01 14:30:00"), "purchase"),
        Row(2L, 5L, t("2024-01-01 14:31:00"), "click")),
      Seq(Row(9L, 91L, t("2024-01-01 20:00:00"), "error"))) // wm → 18:00
    val src = tmp("funnel-restart-src")
    val ckpt = tmp("funnel-restart-ckpt")
    def writeWaves(waves: Seq[Seq[Row]], offset: Int): Unit =
      waves.zipWithIndex.foreach { case (rows, i) =>
        val staging = tmp(s"funnel-restart-wave${offset + i}")
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
          .coalesce(1).write.mode("overwrite").parquet(staging)
        val part = new java.io.File(staging).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = java.nio.file.Paths.get(s"$src/wave${offset + i}.parquet")
        Files.copy(part.toPath, dst)
        dst.toFile.setLastModified(1700000000000L + (offset + i) * 60000L)
      }
    val stages = Seq("view", "click", "purchase")
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Int, Seq[Long])]
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      val q = StreamingIngest.streamingFunnel(spark, stream, stages, "2 hours")
        .toDF().writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => emitted.synchronized {
            emitted += ((r.getLong(0), r.getInt(1), r.getSeq[Long](2)))
          })
          ()
        }.start()
      q.processAllAvailable(); q.stop()
    }
    writeWaves(preWaves, 0)
    runOnce() // first life: u1 reaches stage 2, u2 stage 1 (flushed at wm 12:00)
    writeWaves(postWaves, preWaves.length)
    runOnce() // second life resumes the SAME state store
    val all = spark.createDataFrame(
      spark.sparkContext.parallelize((preWaves ++ postWaves).flatten), schema)
    val batch = graft.operators.Funnel.funnel(all, "user_id", "event_type",
        "ts", "event_id", stages)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), (2 to 4).map(r.get).filter(_ != null)
          .map(_.asInstanceOf[Long]))))
      .toMap
    val lastByUser = emitted.zipWithIndex.groupBy(_._1._1).view
      .mapValues(es => { val e = es.maxBy(_._2)._1; (e._2, e._3) }).toMap
    assert(lastByUser.keySet === batch.keySet)
    lastByUser.foreach { case (u, got) => assert(got === batch(u), s"user $u") }
    // the cross-restart funnel really completed: u1 at stage 3 with the
    // pre-restart view/click witnesses intact
    assert(lastByUser(1L)._1 === 3)
    assert(lastByUser(1L)._2.take(2) === Seq(t("2024-01-01 10:00:00"),
      t("2024-01-01 10:10:00")).map(_.getTime * 1000L))
  }

  test("streaming windowed funnel: DP over the watermark buffer equals batch funnelWithin, across a restart") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType)))
    val W = 3600000000L // within(1 hour)
    // u1 is the windowed trap ACROSS ARRIVAL ORDER: its restart view
    // (event time 11:50) arrives BEFORE the original view (10:00) and
    // the click (12:30) arrives last — only the restart's window
    // reaches the click, and only event-time folding sees that. u2's
    // chain spans the RESTART (view+click before, purchase after, all
    // inside one window). u3 converts pre-restart; its straggler view
    // after the restart must not re-emit (stage already terminal).
    val preWaves = Seq(
      Seq(Row(1L, 10L, t("2024-01-01 11:50:00"), "view"),
        Row(2L, 20L, t("2024-01-01 10:30:00"), "view"),
        Row(3L, 30L, t("2024-01-01 10:00:00"), "view")),
      Seq(Row(1L, 11L, t("2024-01-01 10:00:00"), "view"),
        Row(2L, 21L, t("2024-01-01 10:50:00"), "click"),
        Row(3L, 31L, t("2024-01-01 10:05:00"), "click"),
        Row(3L, 32L, t("2024-01-01 10:10:00"), "purchase")),
      Seq(Row(9L, 90L, t("2024-01-01 13:00:00"), "error"))) // wm → 11:00
    val postWaves = Seq(
      Seq(Row(1L, 12L, t("2024-01-01 12:40:00"), "click"),
        Row(2L, 22L, t("2024-01-01 11:25:00"), "purchase"),
        Row(3L, 33L, t("2024-01-01 11:10:00"), "view")),
      Seq(Row(9L, 91L, t("2024-01-01 20:00:00"), "error"))) // wm → 18:00
    val src = tmp("funnel-win-src")
    val ckpt = tmp("funnel-win-ckpt")
    def writeWaves(waves: Seq[Seq[Row]], offset: Int): Unit =
      waves.zipWithIndex.foreach { case (rows, i) =>
        val staging = tmp(s"funnel-win-wave${offset + i}")
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
          .coalesce(1).write.mode("overwrite").parquet(staging)
        val part = new java.io.File(staging).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = java.nio.file.Paths.get(s"$src/wave${offset + i}.parquet")
        Files.copy(part.toPath, dst)
        dst.toFile.setLastModified(1700000000000L + (offset + i) * 60000L)
      }
    val stages = Seq("view", "click", "purchase")
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int, Option[Long])]
    var batchNo = 0L
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      val q = StreamingIngest.streamingFunnelWithin(spark, stream, stages,
          W, "2 hours")
        .toDF().writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val id = emitted.synchronized { batchNo += 1; batchNo }
          df.collect().foreach(r => emitted.synchronized {
            emitted += ((id, r.getLong(0), r.getInt(1),
              Option(r.get(2)).map(_.asInstanceOf[Long])))
          })
          ()
        }.start()
      q.processAllAvailable(); q.stop()
    }
    writeWaves(preWaves, 0)
    runOnce()
    writeWaves(postWaves, preWaves.length)
    runOnce() // resumes the same state store
    val batch = graft.operators.Funnel.funnelWithin(
        spark.createDataFrame(spark.sparkContext.parallelize(
          (preWaves ++ postWaves).flatten), schema),
        "user_id", "event_type", "ts", "event_id", stages, W)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
    val lastByUser = emitted.zipWithIndex.groupBy(_._1._2).view
      .mapValues(es => { val e = es.maxBy(x => (x._1._1, x._2))._1
        (e._3, e._4) }).toMap
    assert(lastByUser.keySet === batch.keySet)
    lastByUser.foreach { case (u, got) => assert(got === batch(u), s"user $u") }
    // the trap resolved by event-time order: u1's click is claimed by
    // the 11:50 restart (the 10:00 window expired), cross-restart
    def us(s: String) = t(s).getTime * 1000L
    assert(lastByUser(1L) === ((2, Some(us("2024-01-01 11:50:00")))))
    assert(lastByUser(2L) === ((3, Some(us("2024-01-01 10:30:00")))))
    assert(lastByUser(3L) === ((3, Some(us("2024-01-01 10:00:00")))))
  }

  test("streaming guarded and quantified funnels equal their batch operators") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType)))
    // u1: the guard trap in EVENT time — the error (10:02) ARRIVES
    // after the click (10:05) but sits between view and click, so the
    // buffered fold must kill the first chain; the restart (10:10
    // view, 10:15 click) is clean. u2: quantified counts — two views
    // and two clicks complete only after the second click arrives in
    // a later wave.
    val waves = Seq(
      Seq(Row(1L, 1L, t("2024-01-01 10:00:00"), "view"),
        Row(1L, 3L, t("2024-01-01 10:05:00"), "click"),
        Row(2L, 20L, t("2024-01-01 10:00:00"), "view")),
      Seq(Row(1L, 2L, t("2024-01-01 10:02:00"), "error"),
        Row(1L, 4L, t("2024-01-01 10:10:00"), "view"),
        Row(2L, 21L, t("2024-01-01 10:01:00"), "view"),
        Row(2L, 22L, t("2024-01-01 10:02:00"), "click")),
      Seq(Row(1L, 5L, t("2024-01-01 10:15:00"), "click"),
        Row(2L, 23L, t("2024-01-01 10:03:00"), "click"),
        Row(2L, 24L, t("2024-01-01 10:04:00"), "purchase")),
      Seq(Row(9L, 90L, t("2024-01-01 14:00:00"), "error")),
      Seq(Row(9L, 91L, t("2024-01-01 20:00:00"), "error")))
    val src = tmp("funnel-gq-src")
    waves.zipWithIndex.foreach { case (rows, i) =>
      val staging = tmp(s"funnel-gq-wave$i")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$src/wave$i.parquet")
      Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val all = spark.createDataFrame(
      spark.sparkContext.parallelize(waves.flatten), schema)
    val stages = Seq("view", "click", "purchase")
    val nb = Seq(Some("error"), Some("error"))
    // guarded twin
    val gEmitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int)]
    val gq = StreamingIngest.streamingFunnelGuarded(spark,
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(src), stages, nb, "2 hours")
      .toDF().writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.collect().foreach(r => gEmitted.synchronized {
          gEmitted += ((id, r.getLong(0), r.getInt(1)))
        })
        ()
      }.start()
    gq.processAllAvailable(); gq.stop()
    val gLast = gEmitted.groupBy(_._2).view
      .mapValues(_.maxBy(_._1)._3).toMap
    val gBatch = graft.operators.Funnel.funnelGuarded(all, "user_id",
        "event_type", "ts", "event_id", stages, nb)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(gLast === gBatch)
    assert(gLast(1L) === 2) // the restart chain, not the poisoned one
    // quantified twin
    val qstages = Seq(("view", 2), ("click", 2), ("purchase", 1))
    val qEmitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int, Seq[Option[Long]])]
    val qq = StreamingIngest.streamingFunnelTimes(spark,
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(src), qstages, "2 hours")
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.collect().foreach(r => qEmitted.synchronized {
          qEmitted += ((id, r.getLong(0), r.getInt(1),
            (2 to 4).map(i => Option(r.get(i)).map(_.asInstanceOf[Long]))))
        })
        ()
      }.start()
    qq.processAllAvailable(); qq.stop()
    val qLast = qEmitted.groupBy(_._2).view
      .mapValues(es => { val e = es.maxBy(_._1); (e._3, e._4) }).toMap
    val qBatch = graft.operators.Funnel.funnelTimes(all, "user_id",
        "event_type", "ts", "event_id", qstages)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1),
          (2 to 4).map(i => Option(r.get(i)).map(_.asInstanceOf[Long])))))
      .toMap
    assert(qLast.keySet === qBatch.keySet)
    qLast.foreach { case (u, got) => assert(got === qBatch(u), s"user $u") }
    assert(qLast(2L)._1 === 3) // completed only once the 2nd click landed
  }

  test("streaming looping-quantifier funnel equals the batch operator") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType)))
    // u1 exercises the loop observables ACROSS waves and out of
    // arrival order: the second view (10:01) and third click (10:03)
    // arrive after later events, so the buffered fold must absorb
    // them into the right loops; trailing purchase 10:07 absorbs into
    // the completed last stage. u2 stalls mid-block (1 of 2 clicks).
    // u9 is the watermark pusher (errors match nothing).
    val waves = Seq(
      Seq(Row(1L, 1L, t("2024-01-01 10:00:00"), "view"),
        Row(1L, 3L, t("2024-01-01 10:02:00"), "click"),
        Row(2L, 20L, t("2024-01-01 10:00:00"), "view")),
      Seq(Row(1L, 2L, t("2024-01-01 10:01:00"), "view"),
        Row(1L, 6L, t("2024-01-01 10:06:00"), "purchase"),
        Row(2L, 21L, t("2024-01-01 10:05:00"), "click")),
      Seq(Row(1L, 4L, t("2024-01-01 10:03:00"), "click"),
        Row(1L, 5L, t("2024-01-01 10:04:00"), "click"),
        Row(1L, 7L, t("2024-01-01 10:07:00"), "purchase")),
      Seq(Row(9L, 90L, t("2024-01-01 14:00:00"), "error")),
      Seq(Row(9L, 91L, t("2024-01-01 20:00:00"), "error")))
    val src = tmp("funnel-loop-src")
    waves.zipWithIndex.foreach { case (rows, i) =>
      val staging = tmp(s"funnel-loop-wave$i")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$src/wave$i.parquet")
      Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val stages = Seq(("view", 1), ("click", 2), ("purchase", 1))
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int, Seq[Long], Seq[Long])]
    val q = StreamingIngest.streamingFunnelLoop(spark,
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(src), stages, "2 hours")
      .toDF().writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.collect().foreach(r => emitted.synchronized {
          emitted += ((id, r.getLong(0), r.getInt(1),
            r.getSeq[Long](2), r.getSeq[Long](3)))
        })
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    val last = emitted.groupBy(_._2).view
      .mapValues(es => { val e = es.maxBy(_._1); (e._3, e._4, e._5) }).toMap
    val all = spark.createDataFrame(
      spark.sparkContext.parallelize(waves.flatten), schema)
    val batch = graft.operators.Funnel.funnelLoop(all, "user_id",
        "event_type", "ts", "event_id", stages)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1),
        (2 to 6 by 2).map(r.getLong).toSeq,
        (3 to 7 by 2).flatMap(i =>
          Option(r.get(i)).map(_.asInstanceOf[Long])).toSeq)))
      .toMap
    assert(last.keySet === batch.keySet)
    last.foreach { case (u, got) => assert(got === batch(u), s"user $u") }
    // the loop observables really bit: u1 absorbed one extra view,
    // one extra click, one trailing purchase
    val us = (s: String) => t(s).getTime * 1000L
    assert(last(1L) === ((3, Seq(2L, 3L, 2L),
      Seq(us("2024-01-01 10:01:00"), us("2024-01-01 10:04:00"),
        us("2024-01-01 10:07:00")))))
    assert(last(2L)._1 === 1)
    assert(last(2L)._2 === Seq(1L, 1L, 0L))
  }

  test("streaming times(m,n) funnel equals the batch operator; caps bite") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType)))
    // u1's second out-of-order view (10:01) must absorb (cap 2) while
    // the third (10:03) overflows; the trailing purchase (10:07) is
    // ignored by the purchase cap 1 — both across waves
    val waves = Seq(
      Seq(Row(1L, 1L, t("2024-01-01 10:00:00"), "view"),
        Row(1L, 4L, t("2024-01-01 10:04:00"), "click"),
        Row(2L, 20L, t("2024-01-01 10:00:00"), "view")),
      Seq(Row(1L, 2L, t("2024-01-01 10:01:00"), "view"),
        Row(1L, 6L, t("2024-01-01 10:06:00"), "purchase"),
        Row(2L, 21L, t("2024-01-01 10:05:00"), "click")),
      Seq(Row(1L, 3L, t("2024-01-01 10:03:00"), "view"),
        Row(1L, 5L, t("2024-01-01 10:05:00"), "click"),
        Row(1L, 7L, t("2024-01-01 10:07:00"), "purchase")),
      Seq(Row(9L, 90L, t("2024-01-01 14:00:00"), "error")),
      Seq(Row(9L, 91L, t("2024-01-01 20:00:00"), "error")))
    val src = tmp("funnel-range-src")
    waves.zipWithIndex.foreach { case (rows, i) =>
      val staging = tmp(s"funnel-range-wave$i")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$src/wave$i.parquet")
      Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val stages = Seq(("view", 1, 2), ("click", 1, 2), ("purchase", 1, 1))
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int, Seq[Long], Seq[Long])]
    val q = StreamingIngest.streamingFunnelTimesRange(spark,
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(src), stages, "2 hours")
      .toDF().writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.collect().foreach(r => emitted.synchronized {
          emitted += ((id, r.getLong(0), r.getInt(1),
            r.getSeq[Long](2), r.getSeq[Long](3)))
        })
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    val last = emitted.groupBy(_._2).view
      .mapValues(es => { val e = es.maxBy(_._1); (e._3, e._4, e._5) }).toMap
    val all = spark.createDataFrame(
      spark.sparkContext.parallelize(waves.flatten), schema)
    val batch = graft.operators.Funnel.funnelTimesRange(all, "user_id",
        "event_type", "ts", "event_id", stages)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1),
        (2 to 6 by 2).map(r.getLong).toSeq,
        (3 to 7 by 2).flatMap(i =>
          Option(r.get(i)).map(_.asInstanceOf[Long])).toSeq)))
      .toMap
    assert(last.keySet === batch.keySet)
    last.foreach { case (u, got) => assert(got === batch(u), s"user $u") }
    // caps really bit across waves: u1 kept 2 of 3 views, 1 of 2
    // purchases, with the capped last-times
    val us = (s: String) => t(s).getTime * 1000L
    assert(last(1L) === ((3, Seq(2L, 2L, 1L),
      Seq(us("2024-01-01 10:01:00"), us("2024-01-01 10:05:00"),
        us("2024-01-01 10:06:00")))))
  }

  test("streaming loop funnel: flush timer on a completed spine folds the buffered trailing absorption") {
    // the r13 review bug: a COMPLETE spine with a buffered immature
    // last-stage event sets a pending-flush timer; when that timer
    // fires on a batch with NO data for the user, the old guard
    // treated it as the retention cleanup and removed the state —
    // losing the trailing absorption (and the tombstone). The fold
    // must run instead: final emission equals the batch operator.
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType)))
    val waves = Seq(
      // u1 completes the spine; u9 pushes wm to 11:30
      Seq(Row(1L, 1L, t("2024-01-01 10:00:00"), "view"),
        Row(1L, 2L, t("2024-01-01 10:01:00"), "click"),
        Row(1L, 3L, t("2024-01-01 10:02:00"), "purchase"),
        Row(9L, 90L, t("2024-01-01 13:30:00"), "error")),
      // trailing purchase above wm (11:30) -> buffered, flush timer set
      Seq(Row(1L, 4L, t("2024-01-01 12:00:00"), "purchase")),
      // wm -> 13:00 (> 12:00); u1 gets a timeout invocation, no data
      Seq(Row(9L, 91L, t("2024-01-01 15:00:00"), "error")),
      Seq(Row(9L, 92L, t("2024-01-01 20:00:00"), "error")))
    val src = tmp("funnel-loop-flush-src")
    waves.zipWithIndex.foreach { case (rows, i) =>
      val staging = tmp(s"funnel-loop-flush-wave$i")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$src/wave$i.parquet")
      Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val stages = Seq(("view", 1), ("click", 1), ("purchase", 1))
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int, Seq[Long], Seq[Long])]
    val q = StreamingIngest.streamingFunnelLoop(spark,
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(src), stages, "2 hours")
      .toDF().writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.collect().foreach(r => emitted.synchronized {
          emitted += ((id, r.getLong(0), r.getInt(1),
            r.getSeq[Long](2), r.getSeq[Long](3)))
        })
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    val u1 = emitted.filter(_._2 == 1L).maxBy(_._1)
    val us = (s: String) => t(s).getTime * 1000L
    // trailing purchase folded: 2 purchases, last at 12:00
    assert(u1._3 === 3)
    assert(u1._4 === Seq(1L, 1L, 2L))
    assert(u1._5.last === us("2024-01-01 12:00:00"))
    val all = spark.createDataFrame(
      spark.sparkContext.parallelize(waves.flatten), schema)
    val batch = graft.operators.Funnel.funnelLoop(all, "user_id",
        "event_type", "ts", "event_id", stages)
      .filter(col("user_id") === 1L).collect().head
    // flattened (user_id, stage, c1, l1, c2, l2, c3, l3): purchase
    // count at 6, last purchase time at 7 — batch agrees with stream
    assert(batch.getLong(6) === 2L)
    assert(batch.getLong(7) === us("2024-01-01 12:00:00"))
  }

  test("streaming combined windowed+guarded funnel equals the batch operator") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType)))
    val W = 3600000000L // within(1 hour)
    // u1: first chain poisoned by a LATE-ARRIVING error; the restart
    // (10:30 view) is clean and in-window for the 10:40 click. u2:
    // clean chain whose purchase lands OUT of window → stage 2 with
    // the original start.
    val waves = Seq(
      Seq(Row(1L, 1L, t("2024-01-01 10:00:00"), "view"),
        Row(1L, 3L, t("2024-01-01 10:40:00"), "click"),
        Row(2L, 20L, t("2024-01-01 10:00:00"), "view")),
      Seq(Row(1L, 2L, t("2024-01-01 10:05:00"), "error"),
        Row(1L, 4L, t("2024-01-01 10:30:00"), "view"),
        Row(2L, 21L, t("2024-01-01 10:20:00"), "click"),
        Row(2L, 22L, t("2024-01-01 11:30:00"), "purchase")),
      Seq(Row(9L, 90L, t("2024-01-01 14:00:00"), "error")),
      Seq(Row(9L, 91L, t("2024-01-01 20:00:00"), "error")))
    val src = tmp("funnel-wg-src")
    waves.zipWithIndex.foreach { case (rows, i) =>
      val staging = tmp(s"funnel-wg-wave$i")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$src/wave$i.parquet")
      Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val stages = Seq("view", "click", "purchase")
    val nb = Seq(Some("error"), Some("error"))
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int, Option[Long])]
    val q = StreamingIngest.streamingFunnelWithinGuarded(spark,
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(src), stages, W, nb, "2 hours")
      .toDF().writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.collect().foreach(r => emitted.synchronized {
          emitted += ((id, r.getLong(0), r.getInt(1),
            Option(r.get(2)).map(_.asInstanceOf[Long])))
        })
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    val last = emitted.groupBy(_._2).view
      .mapValues(es => { val e = es.maxBy(_._1); (e._3, e._4) }).toMap
    val batch = graft.operators.Funnel.funnelWithinGuarded(
        spark.createDataFrame(
          spark.sparkContext.parallelize(waves.flatten), schema),
        "user_id", "event_type", "ts", "event_id", stages, W, nb)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
    assert(last.keySet === batch.keySet)
    last.foreach { case (u, got) => assert(got === batch(u), s"user $u") }
    def us(s: String) = t(s).getTime * 1000L
    assert(last(1L) === ((2, Some(us("2024-01-01 10:30:00")))))
    assert(last(2L) === ((2, Some(us("2024-01-01 10:00:00")))))
  }

  test("streaming notFollowedBy: timer-based absence verdicts equal the batch join") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType)))
    val rnd = new scala.util.Random(777L)
    // random views and purchases over an hour, shuffled into waves —
    // including purchases that ARRIVE before their view; 2-day
    // watermark keeps everything on-time, the pusher closes all windows
    val events = (0 until 150).map { i =>
      Row(rnd.nextInt(6).toLong, i.toLong,
        t(f"2024-01-01 10:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d"),
        if (rnd.nextBoolean()) "view" else "purchase")
    }
    val waves = rnd.shuffle(events).grouped(30).toSeq :+
      Seq(Row(99L, 9999L, t("2024-01-08 10:00:00"), "purchase"))
    val src = tmp("absence-src")
    waves.zipWithIndex.foreach { case (rows, i) =>
      val staging = tmp(s"absence-wave$i")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$src/wave$i.parquet")
      Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val windowMicros = 10L * 60 * 1000000 // 10 minutes
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val verdicts = StreamingIngest.streamingNotFollowedBy(spark, stream,
      windowMicros, "2 days")
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Boolean)]
    val q = verdicts.toDF().writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => emitted.synchronized {
          emitted += ((r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        })
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    val all = spark.createDataFrame(
      spark.sparkContext.parallelize(waves.flatten), schema)
    val batch = graft.operators.TemporalJoin.notFollowedBy(
        all.filter(col("event_type") === "view"),
        all.filter(col("event_type") === "purchase"),
        "user_id", "event_id", "ts", "ts", windowMicros)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    // the pusher's own view-less purchase emits nothing; every real view
    // got exactly ONE final verdict equal to the batch join's
    assert(emitted.size === emitted.toSet.size, "duplicate verdicts")
    assert(emitted.toSet === batch)
    assert(batch.exists(_._4) && batch.exists(!_._4))
  }

  test("streaming paragraph dedup (chunk-hash claims) equals the batch t48 reassembly") {
    import org.apache.spark.sql.types._
    import graft.operators.{Staging, TextDedup}
    val chunkTokens = 2
    // doc 1 owns "a b","c d","e f"; doc 2 repeats two around its own
    // "x y"; doc 3 repeats a chunk within itself; doc 4 is all-repeats
    // (batch emits it with empty text, the claims form omits it)
    val docs = Seq(
      1L -> "a b c d e f",
      2L -> "a b x y c d",
      3L -> "p q p q r s",
      4L -> "a b c d")
    // one file per doc, arrival order = id order, so the stream's
    // first-claim rule matches the batch (doc_id, chunk_idx) minimum
    val src = tmp("para-src")
    docs.zipWithIndex.foreach { case ((id, text), i) =>
      val rows = Seq(org.apache.spark.sql.Row(id, text,
        java.sql.Timestamp.valueOf(s"2024-01-01 10:0$i:00")))
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("ts", TimestampType)))
      val staging = tmp(s"para-wave$i")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$src/wave$i.parquet")
      Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("ts", TimestampType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    val claims = StreamingIngest.streamingParagraphClaims(stream, "doc_id",
      "text", "ts", chunkTokens, watermark = "10 days")
    val q = claims.writeStream.outputMode("append")
      .format("memory").queryName("para_stream").start()
    q.processAllAvailable(); q.stop()
    val streamed = StreamingIngest.paragraphSurvivorText(
      spark.table("para_stream"), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    import spark.implicits._
    val batch = Staging.scoped {
      TextDedup.paragraphDedup(docs.toDF("doc_id", "text"), "doc_id", "text",
        chunkTokens).collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSeq
    }
    // every doc with a surviving chunk reassembles identically; the
    // zero-survivor doc (4) appears only on the batch side, empty
    val batchKept = batch.collect { case (id, nKept, text) if nKept > 0 => id -> text }.toMap
    assert(streamed === batchKept)
    assert(batch.collectFirst { case (4L, n, t) => (n, t) } === Some((0L, "")))
    assert(streamed === Map(1L -> "a b c d e f", 2L -> "x y", 3L -> "p q r s"))
  }

  test("streaming near-dup (LSH bucket claims) equals the batch t3-pipeline survivors") {
    import org.apache.spark.sql.types._
    import graft.operators.{Staging, TextDedup}
    val (n, k, bandSize, numBands) = (3, 16, 2, 8)
    val base = "the quick brown fox jumps over the lazy dog while seventeen " +
      "green turtles slowly cross the wide sunny river delta alpha"
    val clusterB = "completely different corpus about distributed query engines " +
      "optimizing shuffle partitions broadcast joins adaptive execution plans " +
      "cost models vectorized readers and columnar caching layers zeta"
    val docs = Seq(
      1L -> base,
      2L -> (base.dropRight(5) + "omega"),             // last token changed
      3L -> (base.dropRight(5) + "sigma"),             // last token changed
      10L -> clusterB,
      11L -> clusterB.replace("zeta", "theta"),        // last token changed
      20L -> "unrelated short poem about mountains snow peaks and quiet winter mornings in the high valleys",
      21L -> "grocery list bananas apples twelve eggs oat milk dark chocolate espresso beans and rye bread for sunday",
      30L -> "tiny")                                   // < n tokens: un-bandable
    // one file per arrival wave (oldest mod-time first ⇒ batch order):
    // cluster minima arrive before their near-duplicates
    val waves = Seq(Seq(1L, 10L, 20L, 30L), Seq(2L, 11L, 21L), Seq(3L))
    val src = tmp("neardup-src")
    waves.zipWithIndex.foreach { case (ids, i) =>
      val rows = docs.filter(d => ids.contains(d._1)).map { case (id, text) =>
        org.apache.spark.sql.Row(id, text,
          java.sql.Timestamp.valueOf(s"2024-01-01 10:0$i:00"))
      }
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("ts", TimestampType)))
      val staging = tmp(s"neardup-wave$i")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$src/wave$i.parquet")
      Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }

    val stream = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("ts", TimestampType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    val claims = StreamingIngest.streamingNearDupClaims(stream, "doc_id", "text",
      "ts", n, k, bandSize, numBands, watermark = "10 days")
    val q = claims.writeStream.outputMode("append")
      .format("memory").queryName("neardup_stream").start()
    q.processAllAvailable(); q.stop()
    // a doc's claims all land in its own micro-batch, so reducing the
    // whole sink equals the per-batch (foreachBatch) reduction
    val streamed = StreamingIngest.nearDupSurvivors(
      spark.table("neardup_stream"), "doc_id")
      .collect().map(_.getLong(0)).toSet

    // batch twin on the same fixture: verified LSH pairs → connected
    // components → min-id survivors
    import spark.implicits._
    val batchDocs = docs.toDF("doc_id", "text")
    val batchSurvivors = Staging.scoped {
      val pairs = TextDedup.minhashLshPairs(batchDocs, "doc_id", "text",
          n, k, bandSize, numBands, threshold = 0.5)
        .select("id_a", "id_b")
      TextDedup.keepSurvivors(batchDocs, "doc_id",
          TextDedup.connectedComponents(pairs))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(batchSurvivors.size < docs.size, "fixture must contain near-dups")
    assert(streamed === batchSurvivors)
    assert(streamed === Set(1L, 10L, 20L, 21L, 30L))
  }

  test("streaming CDC materializer equals the batch merge; stale changes are ignored") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    // wave 0: update k=2, insert k=5, delete k=3
    // wave 1: delete-then-shadowing-reinsert ordering for k=4 happened
    //         across waves; stale update for k=2 (seq 1 < applied 2) must
    //         be IGNORED because the state remembers its sequence
    val waves = Seq(
      Seq((2L, "b2", 21.0, "U", 2L), (5L, "e", 50.0, "I", 3L),
        (3L, "c", 30.0, "D", 4L), (4L, "d", 40.0, "D", 5L)),
      Seq((4L, "d2", 42.0, "I", 6L), (2L, "bStale", 99.0, "U", 1L)))
    val src = tmp("cdc-src")
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("name", StringType), StructField("v", DoubleType),
      StructField("op", StringType), StructField("seq", LongType)))
    waves.zipWithIndex.foreach { case (rows, i) =>
      val staging = tmp(s"cdc-wave$i")
      rows.toDF("k", "name", "v", "op", "seq")
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$src/wave$i.parquet")
      Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0)).toDF("k", "name", "v")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val (q, readState) = StreamingIngest.cdcMaterialize(
      stream, base, Seq("k"), "op", "seq")
    q.processAllAvailable(); q.stop()
    val streamed = readState().collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(streamed === Map(
      1L -> (("a", 10.0)),    // untouched
      2L -> (("b2", 21.0)),   // updated; the later-arriving STALE image lost
      4L -> (("d2", 42.0)),   // deleted in wave 0, re-inserted in wave 1
      5L -> (("e", 50.0))))   // inserted; 3 stays deleted
    // equals the batch operator over the full in-order log (minus the
    // stale change, which applyChanges' latest-seq-wins also discards)
    val batch = graft.operators.Cdc.applyChanges(base,
        waves.flatten.toDF("k", "name", "v", "op", "seq"),
        Seq("k"), "op", "seq")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(batch === streamed)
  }

  test("streaming SCD2 materializer equals the batch history across splits and a restart") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    // the full log covers update chains, delete-closes, a
    // delete-then-reinsert SPLIT ACROSS the restart, a new key after
    // the restart, and a stale replayed change that the seq guard
    // must ignore
    val preWaves = Seq(
      Seq((1L, "a1", "I", 0L), (2L, "b1", "I", 0L), (5L, "e1", "I", 0L)),
      Seq((1L, "a2", "U", 2L), (2L, "b2", "U", 1L), (3L, "c1", "I", 1L)),
      Seq((2L, "b2", "D", 3L), (3L, "c1", "D", 4L)))
    val postWaves = Seq(
      Seq((1L, "a3", "U", 5L), (3L, "c2", "I", 6L),
        (1L, "aStale", "U", 2L)), // stale: seq 2 already applied
      Seq((4L, "d1", "I", 7L)))
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType), StructField("op", StringType),
      StructField("seq", LongType)))
    val src = tmp("scd2-src")
    def writeWaves(waves: Seq[Seq[(Long, String, String, Long)]],
        offset: Int): Unit =
      waves.zipWithIndex.foreach { case (rows, i) =>
        val staging = tmp(s"scd2-wave${offset + i}")
        rows.toDF("k", "v", "op", "seq")
          .coalesce(1).write.mode("overwrite").parquet(staging)
        val part = new java.io.File(staging).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = java.nio.file.Paths.get(s"$src/wave${offset + i}.parquet")
        Files.copy(part.toPath, dst)
        dst.toFile.setLastModified(1700000000000L + (offset + i) * 60000L)
      }
    writeWaves(preWaves, 0)
    val stream1 = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val (q1, read1) = StreamingIngest.scd2Materialize(
      stream1, None, Seq("k"), "op", "seq")
    q1.processAllAvailable(); q1.stop()
    val captured = read1().collect()
    // second life: re-seed from the captured history (the table a real
    // deployment wrote per batch) and continue over the new waves
    writeWaves(postWaves, preWaves.length)
    val stream2 = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val seed = spark.createDataFrame(
      spark.sparkContext.parallelize(captured.toSeq), read1().schema)
    val (q2, read2) = StreamingIngest.scd2Materialize(
      stream2, Some(seed), Seq("k"), "op", "seq")
    q2.processAllAvailable(); q2.stop()
    val streamed = read2().collect().map(_.toString).sorted.toSeq
    // the batch one-shot over the in-order log, stale replay excluded
    // by scd2's own semantics? No — scd2 has no dedup; the stream's seq
    // GUARD dropped it, so the reference log excludes the replayed row
    val log = (preWaves ++ postWaves).flatten
      .filterNot(_ == ((1L, "aStale", "U", 2L)))
      .toDF("k", "v", "op", "seq")
    val batch = graft.operators.Cdc.scd2(log, Seq("k"), "op", "seq")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed === batch)
    // spot-check the cross-restart chain: key 3 has a closed first
    // version and an open reincarnation
    val k3 = read2().filter(col("k") === 3L)
      .orderBy("valid_from").collect()
      .map(r => (r.getString(1), Option(r.get(3)), r.getBoolean(4)))
    assert(k3 === Array(("c1", Some(4L), false), ("c2", None, true)))
  }

  test("streaming SCD2 materializer preserves a non-long seq type (timestamp LSN)") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    // advisor pin: the empty initial history must carry the seq
    // column's NATIVE type — a hardcoded long would break the first
    // scd2Step's unionByName for a timestamp LSN
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val waves = Seq(
      Seq((1L, "a1", "I", t("2024-01-01 10:00:00")),
        (2L, "b1", "I", t("2024-01-01 10:00:00"))),
      Seq((1L, "a2", "U", t("2024-01-01 11:00:00")),
        (2L, "b1", "D", t("2024-01-01 12:00:00"))))
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType), StructField("op", StringType),
      StructField("seq", TimestampType)))
    val src = tmp("scd2-ts-src")
    waves.zipWithIndex.foreach { case (rows, i) =>
      val staging = tmp(s"scd2-ts-wave$i")
      rows.toDF("k", "v", "op", "seq")
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$src/wave$i.parquet")
      Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val (q, read) = StreamingIngest.scd2Materialize(
      stream, None, Seq("k"), "op", "seq")
    q.processAllAvailable(); q.stop()
    val hist = read()
    assert(hist.schema("valid_from").dataType === TimestampType)
    assert(hist.schema("valid_to").dataType === TimestampType)
    val batch = graft.operators.Cdc.scd2(
      waves.flatten.toDF("k", "v", "op", "seq"), Seq("k"), "op", "seq")
    assert(hist.collect().map(_.toString).sorted.toSeq ===
      batch.collect().map(_.toString).sorted.toSeq)
  }

  test("streaming decontamination (stream-static foreachBatch) equals the batch operator") {
    import org.apache.spark.sql.types._
    import graft.operators.{Staging, TextDedup}
    val (n, modulus, threshold) = (3, 37, 0.1)
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text")
    // static eval side, staged once and reused by every micro-batch;
    // the shingling barrier lives in this frame until the test's end
    Staging.scoped {
      val evalSh = TextDedup.shingleSets(
        docs.filter(col("doc_id") % modulus === 0), "doc_id", "text", n).persist()
      // train docs arrive as a stream in two waves (split by parity —
      // per-doc verdicts are independent, so wave layout must not matter)
      val src = tmp("decont-src")
      Seq(0, 1).foreach { parity =>
        val staging = tmp(s"decont-wave$parity")
        docs.filter(col("doc_id") % modulus =!= 0)
          .filter(col("doc_id") % 2 === parity)
          .coalesce(1).write.mode("overwrite").parquet(staging)
        val part = new java.io.File(staging).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = java.nio.file.Paths.get(s"$src/wave$parity.parquet")
        Files.copy(part.toPath, dst)
        dst.toFile.setLastModified(1700000000000L + parity * 60000L)
      }
      val stream = spark.readStream
        .schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
      val flagged = scala.collection.mutable.Set.empty[(Long, Long, Long)]
      val q = StreamingIngest.streamingDecontaminate(stream, "doc_id", "text",
          evalSh, n, threshold) { df =>
        flagged ++= df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      }
      q.awaitTermination()

      val batch = Staging.scoped {
        val withSh = Staging.barrier(TextDedup.shingleSets(docs, "doc_id", "text", n))
        TextDedup.decontaminate(withSh, col("id") % modulus === 0, threshold)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      }
      evalSh.unpersist()
      assert(batch.nonEmpty, "fixture must contain contamination")
      assert(flagged.toSet === batch)
    }
  }

  test("session-window agg (stream, complete mode) equals the batch w4 query") {
    val events = StreamingIngest.readEvents(spark, sf())
    val agg = StreamingIngest.sessionWindowAgg(
      events.withWatermark("ts", "1 hour"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("w4_stream").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("w4_stream")
      .withColumn("session_start", col("session_start").cast("timestamp_ntz"))
      .withColumn("session_end", col("session_end").cast("timestamp_ntz"))
    val batch = Queries.w4_session_window.run(spark, sf())
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0L)
  }

  test("streaming latest-state (mapGroupsWithState) equals the batch w5 query") {
    val events = StreamingIngest.readEvents(spark, sf())
    val latest = StreamingIngest.latestState(spark, events)
    val q = latest.writeStream.outputMode("update")
      .format("memory").queryName("w5_stream").start()
    q.processAllAvailable(); q.stop()

    // last update per user is the final latest row
    val streamed = spark.table("w5_stream")
      .groupBy("user_id")
      .agg(max(struct(col("last_ts"), col("last_event_id"),
        col("last_event_type"), col("last_value"))).as("m"))
      .select(col("user_id"), col("m.last_ts").cast("timestamp_ntz").as("last_ts"),
        col("m.last_event_id").as("last_event_id"),
        col("m.last_event_type").as("last_event_type"),
        col("m.last_value").as("last_value"))
    val batch = Queries.w5_latest_state.run(spark, sf())
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0L)
    assert(batch.except(streamed).count() === 0L)
  }

  test("streaming as-of enrichment equals the batch j3 temporal join") {
    val events = StreamingIngest.readEvents(spark, sf())
    val asof = StreamingIngest.streamingAsOf(spark, events)
    val q = asof.writeStream.outputMode("update")
      .format("memory").queryName("asof_stream").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("asof_stream")
    val batch = Queries.all("j3_asof_join").run(spark, sf())
      .select("event_id", "user_id", "ts", "last_purchase_id",
        "last_purchase_ts", "last_purchase_value")
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0L)
    assert(batch.except(streamed).count() === 0L)
    // some clicks have a preceding purchase, some don't — both paths live
    assert(streamed.filter(col("last_purchase_id").isNotNull).count() > 0)
    assert(streamed.filter(col("last_purchase_id").isNull).count() > 0)
  }

  test("flatMapGroupsWithState sessionization equals the batch lag/cumsum query") {
    val events = StreamingIngest.readEvents(spark, sf())
    val sess = StreamingIngest.sessionize(spark, events)
    val q = sess.writeStream.outputMode("update")
      .format("memory").queryName("sess_stream").start()
    q.processAllAvailable(); q.stop()

    // last update per user is the final session count
    import org.apache.spark.sql.expressions.Window
    val streamed = spark.table("sess_stream")
      .groupBy("user_id").agg(max("n_sessions").as("n_sessions"))
    val batch = Queries.w2_sessionization.run(spark, sf())
    assert(streamed.except(batch).count() === 0L)
    assert(batch.except(streamed).count() === 0L)
  }

  // -------------------------------------------------------------------
  // Contiguity NFA + match-enumeration streaming twins
  // -------------------------------------------------------------------

  private val funnelWaveSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType)))
  }

  private def writeWaves(src: String,
      waves: Seq[Seq[org.apache.spark.sql.Row]]): Unit =
    waves.zipWithIndex.foreach { case (rows, i) =>
      val staging = tmp(s"funnel-wave$i")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
          funnelWaveSchema)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$src/wave$i.parquet")
      Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }

  test("streaming contiguity funnel equals batch funnelPattern, including the post-satisfaction optional stamp") {
    import org.apache.spark.sql.Row
    import graft.operators.Funnel.PatternStage
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def us(s: String) = t(s).getTime * 1000L
    val stages = Seq(PatternStage("view", notNextAfter = Some("error")),
      PatternStage("click", optional = true),
      PatternStage("purchase", strict = true))
    // u1: first view poisoned by its successor error (which ARRIVES a
    // wave late — the buffer must reorder); the second view's immediate
    // successor is the purchase (skip path, reached 3 with ts2 NULL);
    // the click in the LAST wave then stamps ts2 AFTER the prefix was
    // already satisfied. u2: actual click match, skip-strict through
    // the second view. u3: the strict purchase hop dies on a gap event.
    val waves = Seq(
      Seq(Row(1L, 1L, t("2024-01-01 10:00:00"), "view"),
        Row(1L, 3L, t("2024-01-01 10:05:00"), "view"),
        Row(2L, 20L, t("2024-01-01 10:00:00"), "view"),
        Row(3L, 30L, t("2024-01-01 10:00:00"), "view")),
      Seq(Row(1L, 2L, t("2024-01-01 10:01:00"), "error"),
        Row(1L, 4L, t("2024-01-01 10:06:00"), "purchase"),
        Row(2L, 21L, t("2024-01-01 10:01:00"), "click"),
        Row(3L, 31L, t("2024-01-01 10:01:00"), "click"),
        Row(3L, 32L, t("2024-01-01 10:02:00"), "error")),
      Seq(Row(1L, 5L, t("2024-01-01 10:20:00"), "click"),
        Row(2L, 22L, t("2024-01-01 10:02:00"), "view"),
        Row(2L, 23L, t("2024-01-01 10:03:00"), "purchase"),
        Row(3L, 33L, t("2024-01-01 10:04:00"), "purchase")),
      Seq(Row(9L, 90L, t("2024-01-01 20:00:00"), "error")))
    val src = tmp("funnel-pattern-src")
    writeWaves(src, waves)
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int, Seq[Option[Long]])]
    val q = StreamingIngest.streamingFunnelPattern(spark,
        spark.readStream.schema(funnelWaveSchema)
          .option("maxFilesPerTrigger", "1").parquet(src),
        stages, "2 hours")
      .toDF().writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.collect().foreach(r => emitted.synchronized {
          // the Option elements encode as a nullable-element array
          emitted += ((id, r.getLong(0), r.getInt(1),
            r.getSeq[Any](2).map(v =>
              Option(v).map(_.asInstanceOf[Long])).toSeq))
        })
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    val last = emitted.groupBy(_._2).view
      .mapValues(es => { val e = es.maxBy(_._1); (e._3, e._4) }).toMap
    val batch = graft.operators.Funnel.funnelPattern(
        spark.createDataFrame(
          spark.sparkContext.parallelize(waves.flatten), funnelWaveSchema),
        "user_id", "event_type", "ts", "event_id", stages)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1),
          (2 to 4).map(i => Option(r.get(i)).map(_.asInstanceOf[Long])).toSeq)))
      .toMap
    for (u <- Seq(1L, 2L, 3L))
      assert(last(u) === batch(u), s"user $u")
    assert(last(1L) === ((3, Seq(Some(us("2024-01-01 10:00:00")),
      Some(us("2024-01-01 10:20:00")), Some(us("2024-01-01 10:06:00"))))))
    assert(last(3L)._1 === 2) // strict hop cannot bridge the gap event
  }

  test("streaming absence alarm (trailing notFollowedBy + within): matches emit only when the tail window closes blocker-free, late blockers kill held matches, equals batch after drain") {
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val stages = Seq("view", "click", "purchase")
    val winUs = 3600L * 1000000L // 1 hour from the match's first event
    // u1: completes 10:00→10:02; the error at 10:30 sits in the tail
    //     (10:02, 11:00] and arrives in a LATER wave than the
    //     completion — the held match must wait and die on the late
    //     blocker. u2: completes 10:00→10:10; its error at 11:30 is
    //     OUTSIDE the tail → emits when the watermark passes 11:00.
    // u3: span 10:00→11:30 exceeds the window → cut at completion.
    // u4: completes, no error at all → emits purely on TIMEOUT (the
    //     alarm fires with no further u4 event — two far-future waves
    //     drive the watermark past the deadline and fire the timer).
    val waves = Seq(
      Seq(Row(1L, 1L, t("2024-01-01 10:00:00"), "view"),
        Row(1L, 2L, t("2024-01-01 10:01:00"), "click"),
        Row(1L, 3L, t("2024-01-01 10:02:00"), "purchase"),
        Row(2L, 20L, t("2024-01-01 10:00:00"), "view"),
        Row(3L, 30L, t("2024-01-01 10:00:00"), "view"),
        Row(4L, 40L, t("2024-01-01 10:00:00"), "view")),
      Seq(Row(1L, 4L, t("2024-01-01 10:30:00"), "error"),
        Row(2L, 21L, t("2024-01-01 10:05:00"), "click"),
        Row(2L, 22L, t("2024-01-01 10:10:00"), "purchase"),
        Row(3L, 31L, t("2024-01-01 10:30:00"), "click"),
        Row(4L, 41L, t("2024-01-01 10:10:00"), "click"),
        Row(4L, 42L, t("2024-01-01 10:20:00"), "purchase")),
      Seq(Row(2L, 23L, t("2024-01-01 11:30:00"), "error"),
        Row(3L, 32L, t("2024-01-01 11:30:00"), "purchase")),
      Seq(Row(9L, 90L, t("2024-01-01 14:00:00"), "error")),
      Seq(Row(9L, 91L, t("2024-01-01 20:00:00"), "error")))
    val src = tmp("funnel-absence-src")
    writeWaves(src, waves)
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Seq[Long])]
    val q = StreamingIngest.streamingFunnelMatchesAbsence(spark,
        spark.readStream.schema(funnelWaveSchema)
          .option("maxFilesPerTrigger", "1").parquet(src),
        stages, maxMatches = 4, winUs, "error", "2 hours")
      .toDF().writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => emitted.synchronized {
          emitted += ((r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
        })
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    // exactly-once per surviving match
    assert(emitted.size === emitted.toSet.size)
    // u2 and u4 survive; u1 (tail blocker) and u3 (span) do not
    assert(emitted.map(_._1).toSet === Set(2L, 4L))
    // batch equality after drain (witnesses included)
    val all = spark.createDataFrame(
      spark.sparkContext.parallelize(waves.flatten), funnelWaveSchema)
    val batch = graft.operators.Funnel.funnelMatchesAbsence(all,
        "user_id", "event_type", "ts", "event_id", stages,
        maxMatches = 4, windowMicros = winUs, absentType = "error")
      .collect()
    assert(emitted.toSet === batch.map(r => (r.getLong(0), r.getLong(1),
      (3 to 5).map(i => r.getLong(i)).toSeq)).toSet)
    // drain-time recount law: per-user emitted counts equal the batch
    // n_matches column
    val batchNm = batch.map(r => r.getLong(0) -> r.getLong(2)).toMap
    emitted.groupBy(_._1).foreach { case (u, es) =>
      assert(es.size.toLong === batchNm(u), s"user $u") }
  }

  test("streaming range-quantified group absence: full matches stream through the holding pen (tail blocker kills, span cuts, timer fires), the trailing short match is a stream-end object recovered by the batch composition") {
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val grp = Seq("view", "click")
    val winUs = 3600L * 1000000L // 1 hour from the match's first event
    // u1: 3 full reps 10:00..10:05 → FULL match, clean tail → emits on
    //     the timer when the watermark passes 11:00.
    // u2: 2 reps only → the trailing SHORT match (reps = 2): silent on
    //     the stream (no watermark can certify the chain never
    //     extends), recovered by the batch composition.
    // u3: full match with an error at 10:30 in its tail → killed.
    // u4: full match 10:00..10:05 PLUS two more reps 10:10..10:13 →
    //     the stream emits only the full match; batch adds the short
    //     match 2.
    // u5: full match spanning 10:00..11:30 → over the window, cut.
    val waves = Seq(
      Seq(Row(1L, 1L, t("2024-01-01 10:00:00"), "view"),
        Row(1L, 2L, t("2024-01-01 10:01:00"), "click"),
        Row(1L, 3L, t("2024-01-01 10:02:00"), "view"),
        Row(1L, 4L, t("2024-01-01 10:03:00"), "click"),
        Row(2L, 20L, t("2024-01-01 10:00:00"), "view"),
        Row(2L, 21L, t("2024-01-01 10:01:00"), "click"),
        Row(3L, 30L, t("2024-01-01 10:00:00"), "view"),
        Row(3L, 31L, t("2024-01-01 10:01:00"), "click"),
        Row(4L, 40L, t("2024-01-01 10:00:00"), "view"),
        Row(4L, 41L, t("2024-01-01 10:01:00"), "click"),
        Row(5L, 50L, t("2024-01-01 10:00:00"), "view"),
        Row(5L, 51L, t("2024-01-01 10:01:00"), "click")),
      Seq(Row(1L, 5L, t("2024-01-01 10:04:00"), "view"),
        Row(1L, 6L, t("2024-01-01 10:05:00"), "click"),
        Row(2L, 22L, t("2024-01-01 10:02:00"), "view"),
        Row(2L, 23L, t("2024-01-01 10:03:00"), "click"),
        Row(3L, 32L, t("2024-01-01 10:02:00"), "view"),
        Row(3L, 33L, t("2024-01-01 10:03:00"), "click"),
        Row(3L, 34L, t("2024-01-01 10:04:00"), "view"),
        Row(3L, 35L, t("2024-01-01 10:05:00"), "click"),
        Row(4L, 42L, t("2024-01-01 10:02:00"), "view"),
        Row(4L, 43L, t("2024-01-01 10:03:00"), "click"),
        Row(4L, 44L, t("2024-01-01 10:04:00"), "view"),
        Row(4L, 45L, t("2024-01-01 10:05:00"), "click"),
        Row(5L, 52L, t("2024-01-01 10:02:00"), "view"),
        Row(5L, 53L, t("2024-01-01 10:03:00"), "click"),
        Row(5L, 54L, t("2024-01-01 11:29:00"), "view"),
        Row(5L, 55L, t("2024-01-01 11:30:00"), "click")),
      Seq(Row(3L, 36L, t("2024-01-01 10:30:00"), "error"),
        Row(4L, 46L, t("2024-01-01 10:10:00"), "view"),
        Row(4L, 47L, t("2024-01-01 10:11:00"), "click"),
        Row(4L, 48L, t("2024-01-01 10:12:00"), "view"),
        Row(4L, 49L, t("2024-01-01 10:13:00"), "click")),
      Seq(Row(9L, 90L, t("2024-01-01 14:00:00"), "error")),
      Seq(Row(9L, 91L, t("2024-01-01 20:00:00"), "error")))
    val src = tmp("funnel-range-absence-src")
    writeWaves(src, waves)
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int, Seq[Option[Long]])]
    val q = StreamingIngest.streamingFunnelGroupMatchesRangeAbsence(spark,
        spark.readStream.schema(funnelWaveSchema)
          .option("maxFilesPerTrigger", "1").parquet(src),
        grp, minTimes = 2, maxTimes = 3, maxMatches = 12, winUs,
        "error", "2 hours")
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => emitted.synchronized {
          emitted += ((r.getLong(0), r.getLong(1), r.getInt(2),
            (3 until 9).map(j => Option(r.get(j)).map(_.asInstanceOf[Long]))))
        })
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    assert(emitted.size === emitted.toSet.size) // exactly-once
    // the stream carries exactly the FULL (maxTimes-rep) survivors
    assert(emitted.forall(_._3 === 3))
    assert(emitted.map(_._1).toSet === Set(1L, 4L))
    // batch composition law: streamed rows == the batch output's
    // reps = maxTimes rows (witnesses included), and the batch
    // remainder is ONLY short matches — the drain-time objects
    val all = spark.createDataFrame(
      spark.sparkContext.parallelize(waves.flatten), funnelWaveSchema)
    val batch = graft.operators.Funnel.funnelGroupMatchesRangeAbsence(
        all, "user_id", "event_type", "ts", "event_id", grp,
        minTimes = 2, maxTimes = 3, maxMatches = 12,
        windowMicros = winUs, absentType = "error")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3),
        (4 until 10).map(j => Option(r.get(j)).map(_.asInstanceOf[Long]))))
    assert(emitted.toSet === batch.filter(_._3 === 3).toSet)
    val shortOnly = batch.filterNot(b => emitted.toSet.contains(b))
    assert(shortOnly.nonEmpty && shortOnly.forall(_._3 < 3))
    assert(shortOnly.map(_._1).toSet === Set(2L, 4L))
  }

  test("streaming match enumeration: every non-overlapping match emits exactly once, capped like batch") {
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val stages = Seq("view", "click", "purchase")
    // u1: three full matches (the third stays silent under cap 2);
    // u2: one match with a non-advancing purchase interleaved. Types
    // arrive OUT of event-time order across waves.
    val waves = Seq(
      Seq(Row(1L, 2L, t("2024-01-01 10:01:00"), "click"),
        Row(1L, 1L, t("2024-01-01 10:00:00"), "view"),
        Row(1L, 6L, t("2024-01-01 10:05:00"), "purchase"),
        Row(1L, 4L, t("2024-01-01 10:03:00"), "view"),
        Row(2L, 20L, t("2024-01-01 10:00:00"), "view")),
      Seq(Row(1L, 3L, t("2024-01-01 10:02:00"), "purchase"),
        Row(1L, 5L, t("2024-01-01 10:04:00"), "click"),
        Row(1L, 7L, t("2024-01-01 10:06:00"), "view"),
        Row(2L, 21L, t("2024-01-01 10:01:00"), "purchase"),
        Row(2L, 22L, t("2024-01-01 10:02:00"), "click")),
      Seq(Row(1L, 8L, t("2024-01-01 10:07:00"), "click"),
        Row(1L, 9L, t("2024-01-01 10:08:00"), "purchase"),
        Row(2L, 23L, t("2024-01-01 10:03:00"), "purchase")),
      Seq(Row(9L, 90L, t("2024-01-01 20:00:00"), "error")))
    val src = tmp("funnel-multi-src")
    writeWaves(src, waves)
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Seq[Long])]
    val q = StreamingIngest.streamingFunnelMulti(spark,
        spark.readStream.schema(funnelWaveSchema)
          .option("maxFilesPerTrigger", "1").parquet(src),
        stages, maxMatches = 2, "2 hours")
      .toDF().writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => emitted.synchronized {
          emitted += ((r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
        })
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    // exactly-once per match
    assert(emitted.size === emitted.toSet.size)
    val batch = graft.operators.Funnel.funnelMulti(
        spark.createDataFrame(
          spark.sparkContext.parallelize(waves.flatten), funnelWaveSchema),
        "user_id", "event_type", "ts", "event_id", stages, maxMatches = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        (3 to 5).map(i => r.getLong(i)).toSeq)).toSet
    assert(emitted.toSet === batch)
    // the cap really bit (u1 has 3 matches, only 2 emitted)
    assert(emitted.count(_._1 == 1L) === 2)
    // the GROUP enumeration twin is the same machine over the
    // expansion with rep/stage labels: view→click group, times 2,
    // over the SAME source files
    val emittedG = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Seq[Long])]
    val qg = StreamingIngest.streamingFunnelGroupMatches(spark,
        spark.readStream.schema(funnelWaveSchema)
          .option("maxFilesPerTrigger", "1").parquet(src),
        Seq("view", "click"), times = 2, maxMatches = 2, "2 hours")
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => emittedG.synchronized {
          emittedG += ((r.getLong(0), r.getLong(1),
            (2 to 5).map(i => r.getLong(i)).toSeq))
        })
        ()
      }.start()
    qg.processAllAvailable(); qg.stop()
    val batchG = graft.operators.Funnel.funnelGroupMatches(
        spark.createDataFrame(
          spark.sparkContext.parallelize(waves.flatten), funnelWaveSchema),
        "user_id", "event_type", "ts", "event_id", Seq("view", "click"),
        times = 2, maxMatches = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        (3 to 6).map(i => r.getLong(i)).toSeq)).toSet
    assert(emittedG.toSet === batchG)
    assert(batchG.nonEmpty)
    // the SPAN-BOUNDED twin filters the same stream: the corpus' one
    // group match spans exactly 4 minutes (10:00→10:04), so a wide
    // bound keeps it and a narrow bound cuts it — stream ≡ batch at
    // both windows
    def runWithin(winUs: Long): Set[(Long, Long, Seq[Long])] = {
      val emittedW = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Seq[Long])]
      val qw = StreamingIngest.streamingFunnelGroupMatchesWithin(spark,
          spark.readStream.schema(funnelWaveSchema)
            .option("maxFilesPerTrigger", "1").parquet(src),
          Seq("view", "click"), times = 2, maxMatches = 2,
          windowMicros = winUs, "2 hours")
        .writeStream.outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => emittedW.synchronized {
            emittedW += ((r.getLong(0), r.getLong(1),
              (2 to 5).map(i => r.getLong(i)).toSeq))
          })
          ()
        }.start()
      qw.processAllAvailable(); qw.stop()
      emittedW.toSet
    }
    def batchWithin(winUs: Long): Set[(Long, Long, Seq[Long])] =
      graft.operators.Funnel.funnelGroupMatchesWithin(
          spark.createDataFrame(spark.sparkContext
            .parallelize(waves.flatten), funnelWaveSchema),
          "user_id", "event_type", "ts", "event_id",
          Seq("view", "click"), times = 2, maxMatches = 2,
          windowMicros = winUs)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          (3 to 6).map(i => r.getLong(i)).toSeq)).toSet
    val wide = 600L * 1000000L
    val narrow = 180L * 1000000L
    assert(runWithin(wide) === batchWithin(wide))
    assert(batchWithin(wide).nonEmpty)
    assert(runWithin(narrow) === batchWithin(narrow))
    assert(batchWithin(narrow).isEmpty) // the bound bit
    // window-close RECOUNT law (r19): the streaming twin honestly
    // omits `n_matches` (not final mid-stream) — but once the stream
    // drains, recounting its matured matches per user must equal the
    // batch recount column (the windowed-sketch finalize contract's
    // analogue for match enumeration)
    val streamCounts = runWithin(wide).groupBy(_._1).view
      .mapValues(_.size.toLong).toMap
    val batchNm = graft.operators.Funnel.funnelGroupMatchesWithin(
        spark.createDataFrame(spark.sparkContext
          .parallelize(waves.flatten), funnelWaveSchema),
        "user_id", "event_type", "ts", "event_id",
        Seq("view", "click"), times = 2, maxMatches = 2,
        windowMicros = wide)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(streamCounts.keySet === batchNm.keySet)
    streamCounts.foreach { case (u, c) =>
      assert(c === batchNm(u), s"recount law, user $u") }
  }

  test("streaming after-match skip equals batch funnelSkip across out-of-order waves, online pruning included") {
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val stages = Seq("view" -> 1, "click" -> 2, "purchase" -> 1)
    // u1 re-creates the A/B/C chain overlap (B starts between A's first
    // and last click, so SkipToLast(2) kills it ONLINE when A completes);
    // events arrive OUT of event-time order across waves. u2: a single
    // chain split across waves.
    val waves = Seq(
      Seq(Row(1L, 2L, t("2024-01-01 10:01:00"), "click"),
        Row(1L, 1L, t("2024-01-01 10:00:00"), "view"),
        Row(1L, 4L, t("2024-01-01 10:03:00"), "click"),
        Row(2L, 20L, t("2024-01-01 10:00:00"), "view")),
      Seq(Row(1L, 3L, t("2024-01-01 10:02:00"), "view"),
        Row(1L, 6L, t("2024-01-01 10:05:00"), "purchase"),
        Row(1L, 5L, t("2024-01-01 10:04:00"), "click"),
        Row(2L, 21L, t("2024-01-01 10:01:00"), "click")),
      Seq(Row(1L, 7L, t("2024-01-01 10:06:00"), "view"),
        Row(1L, 8L, t("2024-01-01 10:07:00"), "click"),
        Row(1L, 9L, t("2024-01-01 10:08:00"), "click"),
        Row(1L, 10L, t("2024-01-01 10:09:00"), "purchase"),
        Row(2L, 22L, t("2024-01-01 10:02:00"), "click"),
        Row(2L, 23L, t("2024-01-01 10:03:00"), "purchase")),
      Seq(Row(9L, 90L, t("2024-01-01 20:00:00"), "error")))
    val src = tmp("funnel-skip-src")
    writeWaves(src, waves)
    for (skip <- Seq[graft.operators.Funnel.SkipStrategy](
        graft.operators.Funnel.SkipToLast(2),
        graft.operators.Funnel.SkipToFirst(2),
        graft.operators.Funnel.SkipToNext)) {
      val emitted = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Seq[Long])]
      val q = StreamingIngest.streamingFunnelSkip(spark,
          spark.readStream.schema(funnelWaveSchema)
            .option("maxFilesPerTrigger", "1").parquet(src),
          stages, skip, maxMatches = 8, "2 hours")
        .toDF().writeStream.outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => emitted.synchronized {
            emitted += ((r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
          })
          ()
        }.start()
      q.processAllAvailable(); q.stop()
      assert(emitted.size === emitted.toSet.size, s"$skip exactly-once")
      val batch = graft.operators.Funnel.funnelSkip(
          spark.createDataFrame(
            spark.sparkContext.parallelize(waves.flatten), funnelWaveSchema),
          "user_id", "event_type", "ts", "event_id", stages, skip,
          maxMatches = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          (3 to 6).map(i => r.getLong(i)).toSeq)).toSet
      assert(emitted.toSet === batch, s"$skip")
      assert(batch.nonEmpty, s"$skip must have matches")
    }
  }

  test("streaming followedByAny count equals the batch path-counting fold across out-of-order waves") {
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val stages = Seq("view", "click", "purchase")
    // u1: 2 views × 2 clicks × 1 purchase, every view before every
    // click → 4 combinations; one click ARRIVES before its views, so
    // the buffer must reorder or the count undershoots
    val waves = Seq(
      Seq(Row(1L, 3L, t("2024-01-01 10:02:00"), "click"),
        Row(1L, 1L, t("2024-01-01 10:00:00"), "view"),
        Row(2L, 20L, t("2024-01-01 10:00:00"), "view")),
      Seq(Row(1L, 2L, t("2024-01-01 10:01:00"), "view"),
        Row(1L, 4L, t("2024-01-01 10:03:00"), "click"),
        Row(1L, 5L, t("2024-01-01 10:04:00"), "purchase"),
        Row(2L, 21L, t("2024-01-01 10:01:00"), "purchase")),
      Seq(Row(9L, 90L, t("2024-01-01 20:00:00"), "error")))
    val src = tmp("funnel-any-src")
    writeWaves(src, waves)
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long)]
    val q = StreamingIngest.streamingFunnelAnyCount(spark,
        spark.readStream.schema(funnelWaveSchema)
          .option("maxFilesPerTrigger", "1").parquet(src),
        stages, "2 hours")
      .toDF().writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.collect().foreach(r => emitted.synchronized {
          emitted += ((id, r.getLong(0), r.getLong(1)))
        })
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    val last = emitted.groupBy(_._2).view
      .mapValues(_.maxBy(_._1)._3).toMap
    val batch = graft.operators.Funnel.funnelAnyCount(
        spark.createDataFrame(
          spark.sparkContext.parallelize(waves.flatten), funnelWaveSchema),
        "user_id", "event_type", "ts", "event_id", stages)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (u <- Seq(1L, 2L)) assert(last.get(u).contains(batch(u)), s"user $u")
    // the out-of-order click really counted: 2 views × 2 clicks × 1
    assert(last(1L) === 4L)
    assert(last(2L) === 0L) // view then purchase, no click — count 0, retained via buffer then emitted once
  }

  test("streaming combinations count equals the batch loop fold across out-of-order waves") {
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val stages = Seq("view" -> false, "click" -> true, "purchase" -> false)
    // u1: v c c p with the SECOND click arriving before the first —
    // the buffer must reorder or the subset count undershoots (order
    // changes nothing for the count of subsets, but the pre-state rule
    // does: a click processed before its view would not extend it)
    val waves = Seq(
      Seq(Row(1L, 3L, t("2024-01-01 10:02:00"), "click"),
        Row(1L, 1L, t("2024-01-01 10:00:00"), "view")),
      Seq(Row(1L, 2L, t("2024-01-01 10:01:00"), "click"),
        Row(1L, 4L, t("2024-01-01 10:03:00"), "purchase"),
        Row(2L, 20L, t("2024-01-01 10:00:00"), "view"),
        Row(2L, 21L, t("2024-01-01 10:01:00"), "purchase")),
      Seq(Row(9L, 90L, t("2024-01-01 20:00:00"), "error")))
    val src = tmp("funnel-combi-src")
    writeWaves(src, waves)
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long)]
    val q = StreamingIngest.streamingFunnelCombinations(spark,
        spark.readStream.schema(funnelWaveSchema)
          .option("maxFilesPerTrigger", "1").parquet(src),
        stages, "2 hours")
      .toDF().writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.collect().foreach(r => emitted.synchronized {
          emitted += ((id, r.getLong(0), r.getLong(1)))
        })
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    val last = emitted.groupBy(_._2).view
      .mapValues(_.maxBy(_._1)._3).toMap
    val batch = graft.operators.Funnel.funnelCombinations(
        spark.createDataFrame(
          spark.sparkContext.parallelize(waves.flatten), funnelWaveSchema),
        "user_id", "event_type", "ts", "event_id", stages)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (u <- Seq(1L, 2L)) assert(last.get(u).contains(batch(u)), s"user $u")
    assert(last(1L) === 3L) // {c1},{c2},{c1,c2}
    assert(last(2L) === 0L) // no click between
  }

  test("streaming loop-until funnel equals the batch operator, including late-arriving stalls") {
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val stages = Seq(("view", 1, Some("signup")), ("click", 2, None),
      ("purchase", 1, Some("error")))
    // u1: the stall — the signup (10:00) ARRIVES a wave after the
    // views; the buffered fold must reorder and freeze the pattern at
    // 0 despite a full event chain following. u2: loop-open close —
    // the error truncates the purchase loop; the later purchase must
    // NOT count (and the error itself arrives out of order). u3:
    // clean completion.
    val waves = Seq(
      Seq(Row(1L, 2L, t("2024-01-01 10:05:00"), "view"),
        Row(1L, 3L, t("2024-01-01 10:10:00"), "click"),
        Row(2L, 20L, t("2024-01-01 10:00:00"), "view"),
        Row(3L, 30L, t("2024-01-01 10:00:00"), "view")),
      Seq(Row(1L, 1L, t("2024-01-01 10:00:00"), "signup"),
        Row(1L, 4L, t("2024-01-01 10:15:00"), "click"),
        Row(1L, 5L, t("2024-01-01 10:20:00"), "purchase"),
        Row(2L, 21L, t("2024-01-01 10:01:00"), "click"),
        Row(2L, 22L, t("2024-01-01 10:02:00"), "click"),
        Row(3L, 31L, t("2024-01-01 10:01:00"), "click")),
      Seq(Row(2L, 23L, t("2024-01-01 10:03:00"), "purchase"),
        Row(2L, 25L, t("2024-01-01 10:05:00"), "error"),
        Row(2L, 24L, t("2024-01-01 10:04:00"), "purchase"),
        Row(2L, 26L, t("2024-01-01 10:06:00"), "purchase"),
        Row(3L, 32L, t("2024-01-01 10:02:00"), "click"),
        Row(3L, 33L, t("2024-01-01 10:03:00"), "purchase")),
      Seq(Row(9L, 90L, t("2024-01-01 20:00:00"), "signup")))
    val src = tmp("funnel-until-src")
    writeWaves(src, waves)
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int, Seq[Long], Seq[Long])]
    val q = StreamingIngest.streamingFunnelLoopUntil(spark,
        spark.readStream.schema(funnelWaveSchema)
          .option("maxFilesPerTrigger", "1").parquet(src),
        stages, "2 hours")
      .toDF().writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.collect().foreach(r => emitted.synchronized {
          emitted += ((id, r.getLong(0), r.getInt(1),
            r.getSeq[Long](2), r.getSeq[Long](3)))
        })
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    val last = emitted.groupBy(_._2).view
      .mapValues(es => { val e = es.maxBy(_._1); (e._3, e._4, e._5) }).toMap
    val batch = graft.operators.Funnel.funnelLoopUntil(
        spark.createDataFrame(
          spark.sparkContext.parallelize(waves.flatten), funnelWaveSchema),
        "user_id", "event_type", "ts", "event_id", stages)
      .collect().map { r =>
        r.getLong(0) -> ((r.getInt(1),
          (0 until 3).map(j => r.getLong(2 + 2 * j)).toSeq,
          (0 until 3).flatMap(j =>
            Option(r.get(3 + 2 * j)).map(_.asInstanceOf[Long])).toSeq))
      }.toMap
    for (u <- Seq(1L, 2L, 3L))
      assert(last(u) === batch(u), s"user $u")
    assert(last(1L)._1 === 0) // the late signup really stalled it
    assert(last(2L)._2 === Seq(1L, 2L, 2L)) // error cut the 3rd purchase
    assert(last(3L)._1 === 3)
  }

  test("streaming consecutive-loop funnel equals batch across out-of-order waves: run breaks, loop closes") {
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def us(s: String) = t(s).getTime * 1000L
    val stages = Seq("view" -> 2, "click" -> 2)
    // u1: an out-of-order error lands BETWEEN two views — the buffered
    // fold must reorder and RESET the run (batch adjacency); the later
    // adjacent view pair completes, clicks follow. u2: loop-open close
    // arrives out of order (the error truncates view absorption). u3:
    // never-adjacent views — stage 0 with a trailing partial.
    val waves = Seq(
      Seq(Row(1L, 1L, t("2024-01-01 10:00:00"), "view"),
        Row(1L, 3L, t("2024-01-01 10:02:00"), "view"),
        Row(2L, 20L, t("2024-01-01 10:00:00"), "view"),
        Row(3L, 30L, t("2024-01-01 10:00:00"), "view")),
      Seq(Row(1L, 2L, t("2024-01-01 10:01:00"), "error"),
        Row(1L, 4L, t("2024-01-01 10:03:00"), "view"),
        Row(1L, 5L, t("2024-01-01 10:04:00"), "click"),
        Row(2L, 21L, t("2024-01-01 10:01:00"), "view"),
        Row(2L, 23L, t("2024-01-01 10:03:00"), "view"),
        Row(3L, 31L, t("2024-01-01 10:01:00"), "error")),
      Seq(Row(1L, 6L, t("2024-01-01 10:05:00"), "click"),
        Row(2L, 22L, t("2024-01-01 10:02:00"), "error"),
        Row(2L, 24L, t("2024-01-01 10:04:00"), "click"),
        Row(3L, 32L, t("2024-01-01 10:02:00"), "view")),
      Seq(Row(9L, 90L, t("2024-01-01 20:00:00"), "signup")))
    val src = tmp("funnel-consec-src")
    writeWaves(src, waves)
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int, Seq[Long], Seq[Long])]
    val q = StreamingIngest.streamingFunnelConsecutive(spark,
        spark.readStream.schema(funnelWaveSchema)
          .option("maxFilesPerTrigger", "1").parquet(src),
        stages, "2 hours")
      .toDF().writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.collect().foreach(r => emitted.synchronized {
          emitted += ((id, r.getLong(0), r.getInt(1),
            r.getSeq[Long](2), r.getSeq[Long](3)))
        })
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    val last = emitted.groupBy(_._2).view
      .mapValues(es => { val e = es.maxBy(_._1); (e._3, e._4, e._5) }).toMap
    val batch = graft.operators.Funnel.funnelLoopConsecutive(
        spark.createDataFrame(
          spark.sparkContext.parallelize(waves.flatten), funnelWaveSchema),
        "user_id", "event_type", "ts", "event_id", stages)
      .collect().map { r =>
        r.getLong(0) -> ((r.getInt(1),
          (0 until 2).map(j => r.getLong(2 + 2 * j)).toSeq,
          (0 until 2).flatMap(j =>
            Option(r.get(3 + 2 * j)).map(_.asInstanceOf[Long])).toSeq))
      }.toMap
    for (u <- Seq(1L, 2L, 3L))
      assert(last(u) === batch(u), s"user $u")
    // the out-of-order error really reset u1's first pair
    assert(last(1L) === ((2, Seq(2L, 2L),
      Seq(us("2024-01-01 10:03:00"), us("2024-01-01 10:05:00")))))
    // u2's error closed the view loop at 2, the later view ignored —
    // wait: the later views RESTART nothing (loop closed); the click
    // run is the trailing partial
    assert(last(2L)._1 === 1)
    assert(last(3L) === ((0, Seq(1L, 0L), Seq(us("2024-01-01 10:02:00")))))
  }

  test("completed funnel's infinite-retention tombstone survives flush timers, no-data batches and stragglers") {
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // wave 0 buffers the full funnel (immature → flush timer set);
    // wave 1 pushes the watermark past it; wave 2 is a DATA invocation
    // for u1 that folds to completion (GroupState clears the un-renewed
    // flush timer here — the reason no stale timer can fire on the
    // tombstone); waves 3–4 then probe that the tombstone HOLDS: a
    // no-data pass plus a post-completion straggler must not restart
    // the instance or emit a lower-stage row.
    val waves = Seq(
      Seq(Row(1L, 1L, t("2024-01-01 10:00:00"), "view"),
        Row(1L, 2L, t("2024-01-01 10:01:00"), "click"),
        Row(1L, 3L, t("2024-01-01 10:02:00"), "purchase")),
      Seq(Row(9L, 90L, t("2024-01-01 13:00:00"), "error")),
      Seq(Row(1L, 4L, t("2024-01-01 11:30:00"), "view")),
      Seq(Row(9L, 91L, t("2024-01-01 13:10:00"), "error")),
      Seq(Row(1L, 5L, t("2024-01-01 11:45:00"), "view"),
        Row(9L, 92L, t("2024-01-01 20:00:00"), "error")))
    val src = tmp("funnel-stale-timer-src")
    writeWaves(src, waves)
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int)]
    val q = StreamingIngest.streamingFunnel(spark,
        spark.readStream.schema(funnelWaveSchema)
          .option("maxFilesPerTrigger", "1").parquet(src),
        Seq("view", "click", "purchase"), "2 hours")
      .toDF().writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.collect().foreach(r => emitted.synchronized {
          emitted += ((id, r.getLong(0), r.getInt(1)))
        })
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    val u1 = emitted.filter(_._2 == 1L).sortBy(_._1)
    assert(u1.nonEmpty && u1.last._3 === 3,
      s"u1's final emission must stay at the completed stage: $u1")
    // the straggler after completion must NOT restart the instance
    val afterComplete = u1.dropWhile(_._3 < 3).drop(1)
    assert(afterComplete.isEmpty,
      s"no post-completion re-emission allowed: $u1")
  }

  /** Shared consume-mode harness: run the given streaming query over
    * out-of-order waves, return the LAST emission per user as
    * (stage, reps, last-times). */
  private def runLoopStream(src: String,
      mk: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.Dataset[StreamingIngest.FunnelLoopUpdate])
      : Map[Long, (Int, Seq[Long], Seq[Long])] = {
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int, Seq[Long], Seq[Long])]
    val q = mk(spark.readStream.schema(funnelWaveSchema)
        .option("maxFilesPerTrigger", "1").parquet(src))
      .toDF().writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.collect().foreach(r => emitted.synchronized {
          emitted += ((id, r.getLong(0), r.getInt(1),
            r.getSeq[Long](2), r.getSeq[Long](3)))
        })
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    emitted.groupBy(_._2).view
      .mapValues(es => { val e = es.maxBy(_._1); (e._3, e._4, e._5) }).toMap
  }

  /** Batch loop-family rows as (stage, reps, last-times) per user —
    * the [[runLoopStream]] observable. */
  private def loopObs(df: org.apache.spark.sql.DataFrame, k: Int)
      : Map[Long, (Int, Seq[Long], Seq[Long])] =
    df.collect().map { r =>
      r.getLong(0) -> ((r.getInt(1),
        (0 until k).map(j => r.getLong(2 + 2 * j)).toSeq,
        (0 until k).flatMap(j =>
          Option(r.get(3 + 2 * j)).map(_.asInstanceOf[Long])).toSeq))
    }.toMap

  test("streaming reluctant loop funnel equals batch funnelLoopMode(Reluctant) across out-of-order waves; greedy genuinely differs") {
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def us(s: String) = t(s).getTime * 1000L
    val stages = Seq(("view", 1), ("click", 2), ("purchase", 1))
    // u1 offers every absorption: a second view, a third click, a
    // second purchase — all arriving out of order across waves
    val waves = Seq(
      Seq(Row(1L, 1L, t("2024-01-01 10:00:00"), "view"),
        Row(1L, 4L, t("2024-01-01 10:03:00"), "click"),
        Row(2L, 20L, t("2024-01-01 10:00:00"), "view")),
      Seq(Row(1L, 2L, t("2024-01-01 10:01:00"), "view"),
        Row(1L, 6L, t("2024-01-01 10:06:00"), "purchase"),
        Row(1L, 3L, t("2024-01-01 10:02:00"), "click")),
      Seq(Row(1L, 5L, t("2024-01-01 10:04:00"), "click"),
        Row(1L, 7L, t("2024-01-01 10:07:00"), "purchase")),
      Seq(Row(9L, 90L, t("2024-01-01 14:00:00"), "error")),
      Seq(Row(9L, 91L, t("2024-01-01 20:00:00"), "error")))
    val src = tmp("funnel-rel-loop-src")
    writeWaves(src, waves)
    val last = runLoopStream(src, st =>
      StreamingIngest.streamingFunnelLoop(spark, st, stages, "2 hours",
        mode = graft.operators.Funnel.Reluctant))
    val all = spark.createDataFrame(
      spark.sparkContext.parallelize(waves.flatten), funnelWaveSchema)
    val batch = loopObs(graft.operators.Funnel.funnelLoop(all,
      "user_id", "event_type", "ts", "event_id", stages,
      graft.operators.Funnel.Reluctant), 3)
    assert(last.keySet === batch.keySet)
    last.foreach { case (u, got) => assert(got === batch(u), s"user $u") }
    // reluctant really bit: exactly the mandatory picks, none of the
    // absorptions greedy takes
    assert(last(1L) === ((3, Seq(1L, 2L, 1L),
      Seq(us("2024-01-01 10:00:00"), us("2024-01-01 10:03:00"),
        us("2024-01-01 10:06:00")))))
    val greedy = loopObs(graft.operators.Funnel.funnelLoop(all,
      "user_id", "event_type", "ts", "event_id", stages,
      graft.operators.Funnel.Greedy), 3)
    assert(greedy(1L) !== last(1L))
  }

  test("streaming reluctant consecutive-loop funnel equals batch mode twin; open-loop absorption is the one dead branch") {
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def us(s: String) = t(s).getTime * 1000L
    val stages = Seq("view" -> 2, "click" -> 2)
    // u1: both stages complete their runs and then offer one
    // absorption each (the third adjacent view / click); events land
    // out of order so the buffered fold must reorder before folding.
    // u2: an out-of-order breaker resets a partial run — the run
    // machine must stay mode-independent.
    val waves = Seq(
      Seq(Row(1L, 1L, t("2024-01-01 10:00:00"), "view"),
        Row(1L, 3L, t("2024-01-01 10:02:00"), "view"),
        Row(2L, 20L, t("2024-01-01 10:00:00"), "view")),
      Seq(Row(1L, 2L, t("2024-01-01 10:01:00"), "view"),
        Row(1L, 5L, t("2024-01-01 10:04:00"), "click"),
        Row(2L, 22L, t("2024-01-01 10:02:00"), "view")),
      Seq(Row(1L, 4L, t("2024-01-01 10:03:00"), "click"),
        Row(1L, 6L, t("2024-01-01 10:05:00"), "click"),
        Row(2L, 21L, t("2024-01-01 10:01:00"), "error")),
      Seq(Row(9L, 90L, t("2024-01-01 20:00:00"), "signup")))
    val src = tmp("funnel-rel-consec-src")
    writeWaves(src, waves)
    val last = runLoopStream(src, st =>
      StreamingIngest.streamingFunnelConsecutive(spark, st, stages,
        "2 hours", graft.operators.Funnel.Reluctant))
    val all = spark.createDataFrame(
      spark.sparkContext.parallelize(waves.flatten), funnelWaveSchema)
    val batch = loopObs(graft.operators.Funnel.funnelLoopConsecutive(
      all, "user_id", "event_type", "ts", "event_id", stages,
      graft.operators.Funnel.Reluctant), 2)
    assert(last.keySet === batch.keySet)
    last.foreach { case (u, got) => assert(got === batch(u), s"user $u") }
    // the mandatory blocks, not the absorbed runs
    assert(last(1L) === ((2, Seq(2L, 2L),
      Seq(us("2024-01-01 10:01:00"), us("2024-01-01 10:04:00")))))
    // the breaker reset is mode-independent: u2's trailing partial
    assert(last(2L) === ((0, Seq(1L, 0L), Seq(us("2024-01-01 10:02:00")))))
    val greedy = loopObs(graft.operators.Funnel.funnelLoopConsecutive(
      all, "user_id", "event_type", "ts", "event_id", stages,
      graft.operators.Funnel.Greedy), 2)
    assert(greedy(1L) === ((2, Seq(3L, 3L),
      Seq(us("2024-01-01 10:02:00"), us("2024-01-01 10:05:00")))))
    assert(greedy(1L) !== last(1L))
  }

  test("streaming reluctant loop-until funnel equals batch mode twin across a checkpoint restart; until close/stall machinery is mode-independent") {
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def us(s: String) = t(s).getTime * 1000L
    val stages = Seq(("view", 1, Some("signup")),
      ("purchase", 2, Some("error")))
    // u1 spans the restart: view + first purchase before the stop, the
    // block's second purchase plus two absorbable purchases and the
    // closing error after it. u2 stalls (signup lands mid-block,
    // out of order). u3 completes cleanly pre-restart.
    val preWaves = Seq(
      Seq(Row(1L, 1L, t("2024-01-01 10:00:00"), "view"),
        Row(1L, 2L, t("2024-01-01 10:01:00"), "purchase"),
        Row(2L, 20L, t("2024-01-01 10:05:00"), "view"),
        Row(3L, 30L, t("2024-01-01 10:00:00"), "view"),
        Row(3L, 31L, t("2024-01-01 10:01:00"), "purchase"),
        Row(3L, 32L, t("2024-01-01 10:02:00"), "purchase")),
      Seq(Row(2L, 21L, t("2024-01-01 10:00:00"), "signup")),
      Seq(Row(9L, 90L, t("2024-01-01 14:00:00"), "error"))) // wm → 12:00
    val postWaves = Seq(
      Seq(Row(1L, 3L, t("2024-01-01 14:30:00"), "purchase"),
        Row(1L, 5L, t("2024-01-01 14:32:00"), "purchase")),
      Seq(Row(1L, 4L, t("2024-01-01 14:31:00"), "purchase"),
        Row(1L, 6L, t("2024-01-01 14:33:00"), "error")),
      Seq(Row(9L, 91L, t("2024-01-01 20:00:00"), "error"))) // wm → 18:00
    val src = tmp("funnel-rel-until-src")
    val ckpt = tmp("funnel-rel-until-ckpt")
    def writeOffsetWaves(waves: Seq[Seq[Row]], offset: Int): Unit =
      waves.zipWithIndex.foreach { case (rows, i) =>
        val staging = tmp(s"funnel-rel-until-wave${offset + i}")
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
            funnelWaveSchema)
          .coalesce(1).write.mode("overwrite").parquet(staging)
        val part = new java.io.File(staging).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = java.nio.file.Paths.get(s"$src/wave${offset + i}.parquet")
        Files.copy(part.toPath, dst)
        dst.toFile.setLastModified(1700000000000L + (offset + i) * 60000L)
      }
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Int, Seq[Long], Seq[Long])]
    def runOnce(): Unit = {
      val q = StreamingIngest.streamingFunnelLoopUntil(spark,
          spark.readStream.schema(funnelWaveSchema)
            .option("maxFilesPerTrigger", "1").parquet(src),
          stages, "2 hours", mode = graft.operators.Funnel.Reluctant)
        .toDF().writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => emitted.synchronized {
            emitted += ((r.getLong(0), r.getInt(1),
              r.getSeq[Long](2), r.getSeq[Long](3)))
          })
          ()
        }.start()
      q.processAllAvailable(); q.stop()
    }
    writeOffsetWaves(preWaves, 0)
    runOnce()
    writeOffsetWaves(postWaves, preWaves.length)
    runOnce() // second life resumes the SAME state store
    val last = emitted.zipWithIndex.groupBy(_._1._1).view
      .mapValues(es => { val e = es.maxBy(_._2)._1; (e._2, e._3, e._4) })
      .toMap
    val all = spark.createDataFrame(spark.sparkContext.parallelize(
      (preWaves ++ postWaves).flatten), funnelWaveSchema)
    val batch = loopObs(graft.operators.Funnel.funnelLoopUntil(all,
      "user_id", "event_type", "ts", "event_id", stages,
      graft.operators.Funnel.Reluctant), 2)
    assert(last.keySet === batch.keySet)
    last.foreach { case (u, got) => assert(got === batch(u), s"user $u") }
    // cross-restart reluctant block: the pre-restart purchase is the
    // block's first pick, the post-restart one completes it, the two
    // absorbable purchases are ignored
    assert(last(1L) === ((2, Seq(1L, 2L),
      Seq(us("2024-01-01 10:00:00"), us("2024-01-01 14:30:00")))))
    // the stall is mode-independent (u2 frozen at 0 by the late signup)
    assert(last(2L)._1 === 0)
    // greedy absorbs u1's trailing purchases up to the error
    val greedy = loopObs(graft.operators.Funnel.funnelLoopUntil(all,
      "user_id", "event_type", "ts", "event_id", stages,
      graft.operators.Funnel.Greedy), 2)
    assert(greedy(1L) === ((2, Seq(1L, 4L),
      Seq(us("2024-01-01 10:00:00"), us("2024-01-01 14:32:00")))))
    assert(greedy(1L) !== last(1L))
  }

  test("streaming reluctant GROUP loop equals batch funnelGroupLoopMode(Reluctant) across out-of-order waves; greedy genuinely differs") {
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val group = Seq(graft.operators.Funnel.PatternStage("view"),
      graft.operators.Funnel.PatternStage("click"))
    // u1 chains THREE sequential view→click traversals, delivered out
    // of order — the floor-2 reluctant stream must saturate at 2 while
    // greedy reports 3. u2 has one traversal (below the floor: partial
    // progress shows uncapped). u9 only pushes the watermark.
    val waves = Seq(
      Seq(Row(1L, 1L, t("2024-01-01 10:00:00"), "view"),
        Row(1L, 4L, t("2024-01-01 10:03:00"), "click"),
        Row(2L, 20L, t("2024-01-01 10:00:00"), "view")),
      Seq(Row(1L, 2L, t("2024-01-01 10:01:00"), "click"),
        Row(1L, 5L, t("2024-01-01 10:04:00"), "view"),
        Row(2L, 21L, t("2024-01-01 10:02:00"), "click")),
      Seq(Row(1L, 3L, t("2024-01-01 10:02:00"), "view"),
        Row(1L, 6L, t("2024-01-01 10:05:00"), "click")),
      Seq(Row(9L, 90L, t("2024-01-01 14:00:00"), "error")),
      Seq(Row(9L, 91L, t("2024-01-01 20:00:00"), "error")))
    val src = tmp("funnel-rel-group-loop-src")
    writeWaves(src, waves)
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = StreamingIngest.streamingFunnelGroupLoop(spark,
        spark.readStream.schema(funnelWaveSchema)
          .option("maxFilesPerTrigger", "1").parquet(src),
        group, "2 hours", mode = graft.operators.Funnel.Reluctant,
        minTimes = 2)
      .toDF().writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => emitted.synchronized {
          emitted += ((r.getLong(0), r.getLong(1)))
        })
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    val last = emitted.zipWithIndex.groupBy(_._1._1).view
      .mapValues(es => es.maxBy(_._2)._1._2).toMap
    val all = spark.createDataFrame(
      spark.sparkContext.parallelize(waves.flatten), funnelWaveSchema)
    val batch = graft.operators.Funnel.funnelGroupLoop(all,
        "user_id", "event_type", "ts", "event_id", group,
        mode = graft.operators.Funnel.Reluctant, minTimes = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(last.keySet === batch.keySet)
    last.foreach { case (u, got) => assert(got === batch(u), s"user $u") }
    // the floor bit: saturated at 2, not greedy's 3
    assert(last(1L) === 2L)
    assert(last(2L) === 1L) // below the floor: partial progress
    val greedy = graft.operators.Funnel.funnelGroupLoop(all, "user_id",
        "event_type", "ts", "event_id", group)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(greedy(1L) === 3L)
    assert(greedy(1L) !== last(1L))
  }

  test("streaming group loop with a TRAILING seam guard equals batch: a completion followed by the blocker dies across waves") {
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val group = Seq(graft.operators.Funnel.PatternStage("view"),
      graft.operators.Funnel.PatternStage("click",
        notNextAfter = Some("error")))
    // u1: view click ERROR view click — the first completion's
    // immediate successor is the blocker (dead), the second completes
    // clean → reps 1 (unguarded would be 2); the error arrives LATE so
    // the buffered fold must reorder before killing. u2: one clean
    // traversal.
    val waves = Seq(
      Seq(Row(1L, 1L, t("2024-01-01 10:00:00"), "view"),
        Row(1L, 2L, t("2024-01-01 10:01:00"), "click"),
        Row(1L, 4L, t("2024-01-01 10:03:00"), "view"),
        Row(2L, 20L, t("2024-01-01 10:00:00"), "view")),
      Seq(Row(1L, 3L, t("2024-01-01 10:02:00"), "error"),
        Row(1L, 5L, t("2024-01-01 10:04:00"), "click"),
        Row(2L, 21L, t("2024-01-01 10:02:00"), "click")),
      Seq(Row(9L, 90L, t("2024-01-01 14:00:00"), "error")),
      Seq(Row(9L, 91L, t("2024-01-01 20:00:00"), "error")))
    val src = tmp("funnel-seam-guard-src")
    writeWaves(src, waves)
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = StreamingIngest.streamingFunnelGroupLoop(spark,
        spark.readStream.schema(funnelWaveSchema)
          .option("maxFilesPerTrigger", "1").parquet(src),
        group, "2 hours")
      .toDF().writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => emitted.synchronized {
          emitted += ((r.getLong(0), r.getLong(1)))
        })
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    val last = emitted.zipWithIndex.groupBy(_._1._1).view
      .mapValues(es => es.maxBy(_._2)._1._2).toMap
    val all = spark.createDataFrame(
      spark.sparkContext.parallelize(waves.flatten), funnelWaveSchema)
    val batch = graft.operators.Funnel.funnelGroupLoop(all, "user_id",
        "event_type", "ts", "event_id", group)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(last.keySet === batch.keySet)
    last.foreach { case (u, got) => assert(got === batch(u), s"user $u") }
    assert(last(1L) === 1L) // the guard bit: 2 traversals, 1 survives
    assert(last(2L) === 1L)
    // the GUARDED bounded range rides the same machine (r19 routing):
    // the PUBLIC streaming times(m,n) surface routes the trailing
    // guard through the capped dominance twin and its matured report
    // equals the batch route row-for-row
    for ((m, n) <- Seq((1, 2), (2, 3))) {
      val emittedR = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Int, Boolean)]
      val qr = StreamingIngest.streamingFunnelGroupTimesRange(spark,
          spark.readStream.schema(funnelWaveSchema)
            .option("maxFilesPerTrigger", "1").parquet(src),
          group, minTimes = m, maxTimes = n, "2 hours")
        .writeStream.outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => emittedR.synchronized {
            emittedR += ((r.getLong(0), r.getInt(1), r.getBoolean(2)))
          })
          ()
        }.start()
      qr.processAllAvailable(); qr.stop()
      val lastR = emittedR.zipWithIndex.groupBy(_._1._1).view
        .mapValues(es => es.maxBy(_._2)._1).toMap
      val batchR = graft.operators.Funnel.funnelGroupTimesRange(all,
          "user_id", "event_type", "ts", "event_id", group, m, n)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(0), r.getInt(1),
          r.getBoolean(2)))).toMap
      assert(lastR.keySet === batchR.keySet, s"times($m,$n)")
      lastR.foreach { case (u, got) =>
        assert(got === batchR(u), s"times($m,$n) user $u") }
    }
  }

  test("streaming contiguity-within product funnel equals batch funnelPatternWithin: strict hops, notNext kills, optional skips and window expiry across out-of-order waves") {
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def us(s: String) = t(s).getTime * 1000L
    val stages = Seq(
      graft.operators.Funnel.PatternStage("view",
        notNextAfter = Some("error")),
      graft.operators.Funnel.PatternStage("click", optional = true),
      graft.operators.Funnel.PatternStage("purchase", strict = true))
    val win = 7200L * 1000000L // 2 hours
    // u1: the first chain expires (purchase lands > 2h from its view);
    // the RESTART's view arrives in a LATE wave and must still realize
    // the match with the later window start. u2: an out-of-order error
    // poisons the first view's immediate slot — sticky prefix stays at
    // 2 (optional atop the matched view), purchase unreachable. u3:
    // clean full chain, click skipped (optional) — strict purchase
    // rides directly on the view.
    val waves = Seq(
      Seq(Row(1L, 1L, t("2024-01-01 10:00:00"), "view"),
        Row(1L, 2L, t("2024-01-01 10:01:00"), "click"),
        Row(2L, 20L, t("2024-01-01 10:00:00"), "view"),
        Row(3L, 30L, t("2024-01-01 10:00:00"), "view")),
      Seq(Row(1L, 4L, t("2024-01-01 12:30:00"), "click"),
        Row(1L, 5L, t("2024-01-01 12:31:00"), "purchase"),
        Row(2L, 22L, t("2024-01-01 10:02:00"), "purchase"),
        Row(3L, 31L, t("2024-01-01 10:01:00"), "purchase")),
      Seq(Row(1L, 3L, t("2024-01-01 12:00:00"), "view"),
        Row(1L, 6L, t("2024-01-01 13:30:00"), "purchase"),
        Row(2L, 21L, t("2024-01-01 10:01:00"), "error")),
      Seq(Row(9L, 90L, t("2024-01-01 17:00:00"), "error")),
      Seq(Row(9L, 91L, t("2024-01-01 23:00:00"), "error")))
    val src = tmp("funnel-pwin-src")
    writeWaves(src, waves)
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int, Option[Long])]
    val q = StreamingIngest.streamingFunnelPatternWithin(spark,
        spark.readStream.schema(funnelWaveSchema)
          .option("maxFilesPerTrigger", "1").parquet(src),
        stages, win, "2 hours")
      .toDF().writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.collect().foreach(r => emitted.synchronized {
          emitted += ((id, r.getLong(0), r.getInt(1),
            Option(r.get(2)).map(_.asInstanceOf[Long])))
        })
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    val last = emitted.groupBy(_._2).view
      .mapValues(es => { val e = es.maxBy(_._1); (e._3, e._4) }).toMap
    val all = spark.createDataFrame(
      spark.sparkContext.parallelize(waves.flatten), funnelWaveSchema)
    val batch = graft.operators.Funnel.funnelPatternWithin(all,
        "user_id", "event_type", "ts", "event_id", stages, win)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1),
        Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
    assert(last.keySet === batch.keySet)
    last.foreach { case (u, got) => assert(got === batch(u), s"user $u") }
    // the late restart really realized the fresh window
    assert(last(1L) === ((3, Some(us("2024-01-01 12:00:00")))))
    // the out-of-order error really poisoned u2 (sticky optional prefix)
    assert(last(2L)._1 === 2)
    assert(last(3L) === ((3, Some(us("2024-01-01 10:00:00")))))
  }

  test("streaming group-within twin equals batch funnelGroupTimesWithin; the window spans all repetitions") {
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def us(s: String) = t(s).getTime * 1000L
    val group = Seq(graft.operators.Funnel.PatternStage("view"),
      graft.operators.Funnel.PatternStage("click", strict = true))
    val win = 1200L * 1000000L // 20 minutes
    // u1: several overlapping double-matches — the 10:10 restart
    // (whose events arrive LAST, out of order) is the max-start
    // realizer the window observable must report. u2: reps exist but
    // never share one 20-minute window
    val waves = Seq(
      Seq(Row(1L, 1L, t("2024-01-01 10:00:00"), "view"),
        Row(1L, 2L, t("2024-01-01 10:01:00"), "click"),
        Row(2L, 20L, t("2024-01-01 10:00:00"), "view"),
        Row(2L, 21L, t("2024-01-01 10:01:00"), "click")),
      Seq(Row(1L, 5L, t("2024-01-01 10:13:00"), "view"),
        Row(1L, 6L, t("2024-01-01 10:14:00"), "click"),
        Row(2L, 22L, t("2024-01-01 11:30:00"), "view"),
        Row(2L, 23L, t("2024-01-01 11:31:00"), "click")),
      Seq(Row(1L, 3L, t("2024-01-01 10:10:00"), "view"),
        Row(1L, 4L, t("2024-01-01 10:11:00"), "click")),
      Seq(Row(9L, 90L, t("2024-01-01 17:00:00"), "error")),
      Seq(Row(9L, 91L, t("2024-01-01 23:00:00"), "error")))
    val src = tmp("funnel-gwin-src")
    writeWaves(src, waves)
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int, Option[Long])]
    val q = StreamingIngest.streamingFunnelGroupTimesWithin(spark,
        spark.readStream.schema(funnelWaveSchema)
          .option("maxFilesPerTrigger", "1").parquet(src),
        group, times = 2, windowMicros = win, watermark = "2 hours")
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.collect().foreach(r => emitted.synchronized {
          emitted += ((id, r.getLong(0), r.getInt(1),
            Option(r.get(2)).map(_.asInstanceOf[Long])))
        })
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    val last = emitted.groupBy(_._2).view
      .mapValues(es => { val e = es.maxBy(_._1); (e._3, e._4) }).toMap
    val all = spark.createDataFrame(
      spark.sparkContext.parallelize(waves.flatten), funnelWaveSchema)
    val batch = graft.operators.Funnel.funnelGroupTimesWithin(all,
        "user_id", "event_type", "ts", "event_id", group, times = 2,
        windowMicros = win)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1),
        Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
    assert(last.keySet === batch.keySet)
    last.foreach { case (u, got) => assert(got === batch(u), s"user $u") }
    // the late-arriving restart realized both reps inside one window
    assert(last(1L) === ((2, Some(us("2024-01-01 10:10:00")))))
    // u2's reps never share a window
    assert(last(2L)._1 === 1)
  }

  test("streaming group pattern equals batch funnelGroupTimes across out-of-order waves; the seam stays relaxed") {
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def us(s: String) = t(s).getTime * 1000L
    val group = Seq(graft.operators.Funnel.PatternStage("view"),
      graft.operators.Funnel.PatternStage("click", strict = true))
    // u1: the seam trap, with the intervening error ARRIVING LAST —
    // the buffered fold must reorder it back between the copies where
    // it is harmless (relaxed seam) yet would break a leaked-strict
    // seam. u2: the second copy's internal strict hop broken by an
    // out-of-order error. u3: clean double match split across waves.
    val waves = Seq(
      Seq(Row(1L, 1L, t("2024-01-01 10:00:00"), "view"),
        Row(1L, 4L, t("2024-01-01 10:03:00"), "view"),
        Row(3L, 11L, t("2024-01-01 10:00:00"), "view"),
        Row(2L, 6L, t("2024-01-01 10:00:00"), "view")),
      Seq(Row(1L, 2L, t("2024-01-01 10:01:00"), "click"),
        Row(1L, 5L, t("2024-01-01 10:04:00"), "click"),
        Row(2L, 7L, t("2024-01-01 10:01:00"), "click"),
        Row(2L, 8L, t("2024-01-01 10:02:00"), "view"),
        Row(2L, 10L, t("2024-01-01 10:04:00"), "click"),
        Row(3L, 12L, t("2024-01-01 10:01:00"), "click")),
      Seq(Row(1L, 3L, t("2024-01-01 10:02:00"), "error"),
        Row(2L, 9L, t("2024-01-01 10:03:00"), "error"),
        Row(3L, 13L, t("2024-01-01 10:02:00"), "view"),
        Row(3L, 14L, t("2024-01-01 10:03:00"), "click")),
      Seq(Row(9L, 90L, t("2024-01-01 14:00:00"), "error")),
      Seq(Row(9L, 91L, t("2024-01-01 20:00:00"), "error")))
    val src = tmp("funnel-group-src")
    writeWaves(src, waves)
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int, Seq[Option[Long]])]
    val q = StreamingIngest.streamingFunnelGroupTimes(spark,
        spark.readStream.schema(funnelWaveSchema)
          .option("maxFilesPerTrigger", "1").parquet(src),
        group, times = 2, watermark = "2 hours")
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.collect().foreach(r => emitted.synchronized {
          emitted += ((id, r.getLong(0), r.getInt(1),
            (2 to 5).map(i => Option(r.get(i))
              .map(_.asInstanceOf[Long]))))
        })
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    val last = emitted.groupBy(_._2).view
      .mapValues(es => { val e = es.maxBy(_._1); (e._3, e._4) }).toMap
    val all = spark.createDataFrame(
      spark.sparkContext.parallelize(waves.flatten), funnelWaveSchema)
    val batch = graft.operators.Funnel.funnelGroupTimes(all, "user_id",
        "event_type", "ts", "event_id", group, times = 2)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1),
        (2 to 5).map(i => Option(r.get(i))
          .map(_.asInstanceOf[Long])).toSeq))).toMap
    assert(last.keySet === batch.keySet)
    last.foreach { case (u, got) => assert(got === batch(u), s"user $u") }
    // the reordered error landed at the seam and stayed harmless
    assert(last(1L) === ((2, Seq(Some(us("2024-01-01 10:00:00")),
      Some(us("2024-01-01 10:01:00")), Some(us("2024-01-01 10:03:00")),
      Some(us("2024-01-01 10:04:00"))))))
    // ... but broke u2's in-copy strict hop
    assert(last(2L)._1 === 1)
    assert(last(3L)._1 === 2)
  }

  test("streaming group-loop equals batch funnelGroupLoop across out-of-order waves and a checkpoint restart; the consecutive-seam trap survives reordering") {
    import org.apache.spark.sql.Row
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val group = Seq(graft.operators.Funnel.PatternStage("view"),
      graft.operators.Funnel.PatternStage("click"))
    // u1 is THE TRAP under consecutive seams: the earliest traversal
    // (10:00 view, 10:01 click) is followed by an error, so a greedy
    // chain stops at 1 — but the chain starting at 10:03 completes two
    // adjacent traversals (the post-restart 10:05/10:06 pair sits
    // immediately after the 10:04 click). The error ARRIVES LATE and
    // must be reordered back between the traversals. u2 completes one
    // pre-restart traversal; u3's single traversal SPANS the restart
    // (view before, click after — internal contiguity is relaxed).
    // the pre-run watermark pusher sits at 12:00 (wm → 10:00) so the
    // post-restart 10:05/10:06 traversal is NOT late when it arrives
    // in the second life
    val preWaves = Seq(
      Seq(Row(1L, 1L, t("2024-01-01 10:00:00"), "view"),
        Row(1L, 2L, t("2024-01-01 10:01:00"), "click"),
        Row(1L, 4L, t("2024-01-01 10:03:00"), "view"),
        Row(2L, 20L, t("2024-01-01 10:00:00"), "view"),
        Row(2L, 21L, t("2024-01-01 10:01:00"), "click"),
        Row(3L, 30L, t("2024-01-01 10:07:00"), "view")),
      Seq(Row(1L, 3L, t("2024-01-01 10:02:00"), "error"),
        Row(1L, 5L, t("2024-01-01 10:04:00"), "click")),
      Seq(Row(9L, 90L, t("2024-01-01 12:00:00"), "error"))) // wm → 10:00
    val postWaves = Seq(
      Seq(Row(1L, 6L, t("2024-01-01 10:05:00"), "view"),
        Row(1L, 7L, t("2024-01-01 10:06:00"), "click"),
        Row(3L, 31L, t("2024-01-01 14:30:00"), "click")),
      Seq(Row(9L, 91L, t("2024-01-01 20:00:00"), "error"))) // wm → 18:00
    val src = tmp("funnel-group-loop-src")
    val ckpt = tmp("funnel-group-loop-ckpt")
    def writeOffsetWaves(waves: Seq[Seq[Row]], offset: Int): Unit =
      waves.zipWithIndex.foreach { case (rows, i) =>
        val staging = tmp(s"funnel-group-loop-wave${offset + i}")
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
            funnelWaveSchema)
          .coalesce(1).write.mode("overwrite").parquet(staging)
        val part = new java.io.File(staging).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = java.nio.file.Paths.get(s"$src/wave${offset + i}.parquet")
        Files.copy(part.toPath, dst)
        dst.toFile.setLastModified(1700000000000L + (offset + i) * 60000L)
      }
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def runOnce(): Unit = {
      val q = StreamingIngest.streamingFunnelGroupLoop(spark,
          spark.readStream.schema(funnelWaveSchema)
            .option("maxFilesPerTrigger", "1").parquet(src),
          group, "2 hours", consecutiveSeams = true)
        .toDF().writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => emitted.synchronized {
            emitted += ((r.getLong(0), r.getLong(1)))
          })
          ()
        }.start()
      q.processAllAvailable(); q.stop()
    }
    writeOffsetWaves(preWaves, 0)
    runOnce()
    writeOffsetWaves(postWaves, preWaves.length)
    runOnce() // second life resumes the SAME state store
    val last = emitted.zipWithIndex.groupBy(_._1._1).view
      .mapValues(es => es.maxBy(_._2)._1._2).toMap
    val all = spark.createDataFrame(spark.sparkContext.parallelize(
      (preWaves ++ postWaves).flatten), funnelWaveSchema)
    val batch = graft.operators.Funnel.funnelGroupLoop(all, "user_id",
        "event_type", "ts", "event_id", group, consecutiveSeams = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(last.keySet === batch.keySet)
    last.foreach { case (u, got) => assert(got === batch(u), s"user $u") }
    // the trap: 2 via the later chain, not greedy's 1
    assert(last(1L) === 2L)
    assert(last(2L) === 1L)
    // u3's traversal spanned the restart
    assert(last(3L) === 1L)
    // relaxed seams on the same corpus: all of u1's three traversals
    // chain sequentially
    val relaxed = graft.operators.Funnel.funnelGroupLoop(all, "user_id",
        "event_type", "ts", "event_id", group)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(relaxed(1L) === 3L)
    // the threshold twin is a reporting projection over the same
    // machine: timesOrMore(2) flags exactly the users the batch
    // wrapper flags
    val emitted2 = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Boolean)]
    val q2 = StreamingIngest.streamingFunnelGroupTimesOrMore(spark,
        spark.readStream.schema(funnelWaveSchema)
          .option("maxFilesPerTrigger", "1").parquet(src),
        group, minTimes = 2, "2 hours", consecutiveSeams = true)
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => emitted2.synchronized {
          emitted2 += ((r.getLong(0), r.getLong(1), r.getBoolean(2)))
        })
        ()
      }.start()
    q2.processAllAvailable(); q2.stop()
    val last2 = emitted2.zipWithIndex.groupBy(_._1._1).view
      .mapValues(es => { val e = es.maxBy(_._2)._1; (e._2, e._3) }).toMap
    val batch2 = graft.operators.Funnel.funnelGroupTimesOrMore(all,
        "user_id", "event_type", "ts", "event_id", group, minTimes = 2,
        consecutiveSeams = true)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        r.getBoolean(2)))).toMap
    assert(last2 === batch2)
    assert(last2(1L) === ((2L, true)) && last2(2L) === ((1L, false)))
  }
}
