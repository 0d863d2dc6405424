package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.ColumnMeta
import graft.operators.Enrich

/**
 * Structured-Streaming surface (SURVEY §2 "Streaming semantics" + north-
 * star extensions).
 *
 * The reference is a batch job on a streaming runtime whose only true
 * streaming feature is the exactly-once checkpointed source offset
 * (`ListState<Long>`, FB:1014–1047, emit+increment under the checkpoint
 * lock FB:1089). Spark-natively that is the Structured Streaming offset
 * log: `readStream` + `checkpointLocation` + a file sink gives
 * end-to-end exactly-once for free — [[ingestStream]] reproduces the
 * reference's ingest (lineage envelope + canonical hashes) as a stream.
 *
 * On top (capabilities the reference lacks, driver north-star):
 * watermarked tumbling-window aggregation and arbitrary-stateful
 * sessionization via `flatMapGroupsWithState` — the Flink
 * keyed-state/timer analogue.
 */
object StreamingIngest {

  /** Legacy raw schema of a TIMESTAMP(NANOS) events corpus: streamed as
    * raw nanos (LongType) and converted to TimestampType (µs
    * truncation) — pinned UTC session makes this wall-clock-stable.
    * Newer corpora carry µs timestamps natively; [[eventsRawSchema]]
    * reads whichever flavor the files actually have. */
  val EventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The actual on-disk schema of an events parquet file/dir, as a batch
    * read sees it (legacy ns corpora surface `ts` as LongType under
    * `nanosAsLong`; µs corpora as TIMESTAMP_NTZ). File streams require
    * an upfront schema — deriving it from the footer instead of pinning
    * a literal keeps the stream surface corpus-flavor-agnostic. */
  def eventsRawSchema(spark: SparkSession, path: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // a stream may legitimately be declared BEFORE any file arrives
    // (continuous ingest watches an empty directory); fall back to the
    // legacy literal schema until a footer exists to infer from
    try spark.read.parquet(path).schema
    catch { case _: org.apache.spark.sql.AnalysisException => EventsRawSchema }
  }

  /** Normalize a raw `ts` column to TimestampType whatever flavor the
    * corpus carries: nanos-as-long (integer DIV truncation — a `/`
    * would detour through DOUBLE and ~1.7e18 ns exceeds 2^53),
    * TIMESTAMP_NTZ (cast is wall-clock-preserving under the pinned UTC
    * session), or already TimestampType. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast(TimestampType))
    }

  /**
   * O6 checkpoint/trigger knob surface — the Spark analogues of the
   * reference's checkpoint config block (FB:144–153):
   *
   *   - checkpointing INTERVAL + min-pause → `trigger`: each micro-batch
   *     commits the offset log once, so the trigger cadence IS the
   *     checkpoint cadence (`Trigger.ProcessingTime(interval)` for a
   *     continuous job, `Trigger.AvailableNow` for catch-up-and-stop);
   *   - checkpoint TIMEOUT → no per-commit timeout exists in Structured
   *     Streaming (commits are synchronous with the batch); the batch
   *     itself is bounded via `maxFilesPerTrigger` rate limiting;
   *   - TOLERABLE checkpoint failures → [[runResilient]]: a failed query
   *     is restarted from the last committed offsets up to `maxRestarts`
   *     times (exactly-once holds across restarts — the offset log +
   *     file-sink transaction log replay deterministically).
   */
  final case class StreamConfig(
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None,
      queryName: Option[String] = None,
      maxRestarts: Int = 0)

  def readEvents(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    // the file-stream source requires a directory: stream the corpus dir
    // filtered down to the events table
    val reader = spark.readStream
      .schema(eventsRawSchema(spark, s"$dir/events.parquet"))
      .option("pathGlobFilter", "events.parquet")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    normalizeEventTs(reader.parquet(dir))
  }

  /** S1/S2 streaming analogue: enrich each event with the 11-column
    * lineage envelope and write exactly-once to a parquet sink. Resume =
    * restart with the same checkpointLocation (the offset log replaces
    * the reference's ListState + SKIP-offset machinery). */
  def ingestStream(spark: SparkSession, dir: String, sinkPath: String,
      checkpointPath: String,
      cfg: StreamConfig = StreamConfig()): StreamingQuery = {
    val events = readEvents(spark, dir, cfg.maxFilesPerTrigger)
    // derive the envelope metas from the normalized stream schema (ts is
    // TimestampType after normalizeEventTs, whatever the files carried)
    val metas = events.schema.fields.toSeq.map(ColumnMeta.fromField)
    // month-partitioned like the batch sink (Ddl.writePartitioned) — the
    // streaming and batch paths share one on-disk contract
    val writer = Enrich.enrich(events, metas)
      .withColumn(graft.operators.Ddl.PartitionColumn,
        date_format(col("load_dttm"), "yyyy-MM"))
      .writeStream
      .format("parquet")
      .partitionBy(graft.operators.Ddl.PartitionColumn)
      .option("path", sinkPath)
      .option("checkpointLocation", checkpointPath)
      .outputMode(OutputMode.Append)
      .trigger(cfg.trigger)
    cfg.queryName.foreach(writer.queryName)
    writer.start()
  }

  /** Tolerated-failure loop (FB:151–153's tolerableCheckpointFailures):
    * run `start` to termination, restarting after a failure up to
    * `maxRestarts` times. Restarts resume from the last committed offset
    * (exactly-once preserved); the final failure propagates. */
  def runResilient(maxRestarts: Int)(start: () => StreamingQuery): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      try { start().awaitTermination(); done = true }
      catch { case e: Exception =>
        if (attempt >= maxRestarts) throw e
        attempt += 1
      }
    }
  }

  /** Watermarked tumbling-window aggregation (event-time). Decimal sums
    * keep results exactly comparable across engines; the emitted
    * `sum_value` uses the SAME cents-rounded DOUBLE rendering as the
    * batch twin (Queries.money), so the twin-equality test compares
    * identical types and values rather than leaning on set-op type
    * widening plus cent-exact corpus luck. */
  def windowedAgg(events: DataFrame, window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value").cast(DecimalType(18, 6))), 2)
          .cast(DoubleType).as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"), col("min_value"), col("max_value"))

  /** Streaming profiling twin: the Misra–Gries heavy-hitter sketch
    * ([[graft.functions.MisraGriesAgg]]) as a streaming aggregation —
    * per-key top values over an unbounded stream with fixed state. The
    * sketch is an ordinary `TypedImperativeAggregate`, so complete-mode
    * streaming runs it like any built-in imperative agg: partial
    * buffers serialize into the state store and merge across
    * micro-batches; state per key is `numCounters` counters, NEVER the
    * value domain — the same at-scale rationale as the batch p8. Under
    * capacity the sketch is exact counting, so the streamed result
    * equals the batch profile regardless of how rows split across
    * micro-batches (StreamingSpec proves exactly that); over capacity
    * the mergeable-summaries guarantees hold per key with N = that
    * key's rows seen so far. */
  def streamingTopValues(stream: DataFrame, keyCol: String, c: String,
      numCounters: Int): DataFrame =
    stream.filter(col(c).isNotNull)
      .groupBy(col(keyCol))
      .agg(graft.functions.MisraGriesAgg(col(c), numCounters).as("hh"))

  /** UPDATE-MODE windowed sketch profile — the production monitoring
    * shape the complete-mode twins ([[streamingTopValues]]) are not:
    * complete mode re-emits EVERY group per trigger and keeps every
    * group's state forever; this groups by EVENT-TIME window under a
    * watermark, so each trigger emits only the (window, key) rows that
    * CHANGED (per-trigger deltas) and state for windows older than the
    * watermark is EVICTED — bounded state over an unbounded stream.
    * `sketch` is any of the repo's mergeable `TypedImperativeAggregate`
    * sketch columns (Misra–Gries `p7`/`p8`, KLL-style quantiles `p9`,
    * Count-Min `p10`, HLL `p11`): partial buffers merge through the state store
    * exactly as in batch, so once a window CLOSES (the watermark passes
    * its end) its last emitted row equals the batch sketch over the
    * window's on-time rows. Consumer contract: FINALIZE each window
    * when the watermark passes it — Spark's dropping of rows that
    * arrive after eviction is best-effort (a very-late row may surface
    * once more as a fresh partial state), and the finalize rule is what
    * makes that harmless. StreamingSpec proves delta emission,
    * at-close equality with batch, and state eviction. */
  def streamingWindowedSketch(stream: DataFrame, keyCol: String,
      sketch: Column, window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col(keyCol))
      .agg(sketch.as("sketch"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("sketch"))

  /** One micro-batch of STREAMING ANN-index maintenance, EXACTLY-ONCE
    * by batch id: the batch is coded against the frozen quantizers and
    * committed through [[graft.operators.CommitLog]] — data visibility
    * and commit are one atomic directory rename, the replay check is
    * the committed directory's existence, and there is no second write
    * for a crash to land between (the round-9 one-batch duplication
    * window is structurally gone; StreamingSpec's crash-injection row
    * proves it). The committed batch is an unbucketed L0 side run the
    * probes union in; a periodic
    * [[graft.operators.VectorOps.compactIndex]] folds runs into the
    * bucketed base, restoring fully exchange-free probes. `numBuckets`
    * is retired by that design (the side run is unbucketed until
    * compaction, which reads the bucket spec from the catalog). */
  def appendVectorBatch(batch: DataFrame, batchId: Long, idCol: String,
      vecCol: String, table: String): Unit =
    graft.operators.VectorOps.appendToIndexCommitted(batch, idCol, vecCol,
      table, batchId)

  /** [[appendVectorBatch]]'s PQ twin: one exactly-once micro-batch of
    * PQ-index maintenance
    * ([[graft.operators.VectorOps.appendToPqIndexCommitted]] — frozen
    * codebooks, atomic CommitLog rename). */
  def appendPqBatch(batch: DataFrame, batchId: Long, idCol: String,
      vecCol: String, table: String): Unit =
    graft.operators.VectorOps.appendToPqIndexCommitted(batch, idCol, vecCol,
      table, batchId)

  /** [[appendVectorBatch]]'s keyword twin: one idempotent micro-batch of
    * BM25-index maintenance
    * ([[graft.operators.Retrieval.appendToBm25Index]] under a
    * `<table>_appends` ledger). The BM25 append spans THREE tables
    * (postings, docs, stats overwrite), which a single-directory rename
    * cannot cover — this path keeps the ledger recipe and its one-batch
    * crash window; the honest remedy is a multi-table transactional
    * format (the documented Iceberg seam, DESIGN.md). */
  def appendDocBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, table: String, numBuckets: Int = 8): Unit =
    ledgered(batch, batchId, s"${table}_appends")(
      graft.operators.Retrieval.appendToBm25Index(_, idCol, textCol,
        table, numBuckets))

  /** [[appendDocBatch]] WITHOUT the crash window: the atomic
    * [[graft.operators.Retrieval.appendToBm25IndexCommitted]] commit —
    * the batch's postings and docs land under ONE CommitLog rename, so
    * replay idempotence comes from the log itself (no side ledger) and
    * a crash leaves either nothing or the whole batch. Probes read the
    * committed batches via `loadBm25Index[AsOf]`; the trade vs the
    * ledgered path is that the base-table-only
    * [[graft.operators.Retrieval.bm25TopKFromIndex]] does not see side
    * batches until a compaction folds them. */
  def appendDocBatchCommitted(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, table: String): Unit = {
    graft.operators.Retrieval.appendToBm25IndexCommitted(batch, idCol,
      textCol, table, batchId)
    ()
  }

  /** The streaming BM25 maintenance sink over the atomic committed
    * path — [[streamingBm25Append]]'s exactly-once-by-rename twin. */
  def streamingBm25AppendCommitted(stream: DataFrame, idCol: String,
      textCol: String, table: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.operators.Staging.scoped {
          appendDocBatchCommitted(batch, id, idCol, textCol, table)
        }
      }
      .trigger(trigger)
      .start()

  /** [[appendVectorBatch]]'s DELETE twin: one idempotent micro-batch of
    * tombstones ([[graft.operators.VectorOps.deleteFromIndex]] under a
    * SEPARATE `<table>_deletes` ledger — append and delete streams have
    * independent batch-id sequences). Replaying a committed batch id is
    * a no-op; within a fresh batch the tombstone write itself is
    * idempotent anyway (anti-join semantics are insensitive to
    * duplicate tombstones), so the ledger's real job is keeping the
    * delete list metadata-sized under retries. Ordering between a
    * concurrent append stream and this delete stream is the CALLER's
    * contract (the [[graft.operators.Ddl.appendTombstones]] rule: a
    * deleted id must not be re-appended before a compaction). */
  def deleteVectorBatch(batch: DataFrame, batchId: Long, idCol: String,
      table: String): Unit =
    ledgered(batch, batchId, s"${table}_deletes")(
      graft.operators.VectorOps.deleteFromIndex(_, idCol, table))

  /** [[deleteVectorBatch]]'s PQ twin: idempotent micro-batch tombstones
    * against a persisted PQ index
    * ([[graft.operators.VectorOps.deleteFromPqIndex]] under the same
    * separate `<table>_deletes` ledger; duplicate tombstones are
    * harmless, the ledger keeps the list metadata-sized). */
  def deletePqBatch(batch: DataFrame, batchId: Long, idCol: String,
      table: String): Unit =
    ledgered(batch, batchId, s"${table}_deletes")(
      graft.operators.VectorOps.deleteFromPqIndex(_, idCol, table))

  /** [[deleteVectorBatch]]'s keyword twin: tombstone the documents AND
    * refresh the BM25 stats row over the survivors
    * ([[graft.operators.Retrieval.deleteFromBm25Index]]) — per-batch
    * cost is the tombstone write plus the `_docs`-sized (two tiny
    * columns) stats aggregate, never the postings. */
  def deleteDocBatch(batch: DataFrame, batchId: Long, idCol: String,
      table: String): Unit =
    ledgered(batch, batchId, s"${table}_deletes")(
      graft.operators.Retrieval.deleteFromBm25Index(_, idCol, table))

  /** Shared batch-id ledger guard: run `append` once per (ledger,
    * batchId); replays are no-ops. Used where the write is either
    * idempotent anyway (tombstones) or multi-table (BM25 — see
    * [[appendDocBatch]]'s atomicity note); the single-relation vector
    * appends use the atomic [[graft.operators.CommitLog]] instead. */
  private def ledgered(batch: DataFrame, batchId: Long,
      ledger: String)(append: DataFrame => Unit): Unit = {
    val spark = batch.sparkSession
    val exists = spark.catalog.tableExists(ledger)
    // a ledger DIRECTORY invisible to the catalog is stale by
    // definition (this session's index build dropped ITS tables the
    // same way): clear it before the first write, or the managed-table
    // create fails with LOCATION_ALREADY_EXISTS. With a persistent
    // metastore (production), the cataloged ledger survives restarts
    // and this branch never fires.
    if (!exists) graft.operators.Ddl.dropTableAndLocation(spark, ledger)
    val replay = exists &&
      !spark.table(ledger).filter(col("batch_id") === batchId).isEmpty
    if (!replay) {
      if (!batch.isEmpty) append(batch)
      import spark.implicits._
      Seq(batchId).toDF("batch_id").write
        .mode(org.apache.spark.sql.SaveMode.Append)
        .format("parquet").saveAsTable(ledger)
    }
  }

  /** CONTINUOUS index maintenance: the t50 append path as a streaming
    * sink — each micro-batch of new vectors is coded against the frozen
    * quantizers and appended to the cell-bucketed index, idempotently
    * per batch id ([[appendVectorBatch]]). This closes the production
    * loop for the build-once/probe-many family: build once, probe many,
    * and INGEST FOREVER, with per-batch cost proportional to the batch
    * (one coding pass + one atomic directory commit) — never the index.
    * StreamingSpec proves stream-fed equals one-shot batch append, that
    * a replayed batch id leaves the index untouched, and that a crash
    * mid-batch leaves NOTHING visible (exactly-once, not just
    * replay-safe). `numBuckets` kept for source compatibility; the
    * committed side runs are unbucketed until compaction. */
  def streamingIndexAppend(stream: DataFrame, idCol: String,
      vecCol: String, table: String, checkpoint: String,
      numBuckets: Int = 8): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendVectorBatch(batch, batchId, idCol, vecCol, table)
      }
      .start()

  /** [[streamingIndexAppend]]'s PQ twin: continuous PQ-index
    * maintenance — each micro-batch is coded against the frozen
    * codebooks and atomically committed ([[appendPqBatch]]).
    * StreamingSpec proves stream-fed ≡ one-shot batch append and
    * replayed-batch no-op. */
  def streamingPqAppend(stream: DataFrame, idCol: String,
      vecCol: String, table: String, checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendPqBatch(batch, batchId, idCol, vecCol, table)
      }
      .start()

  /** [[streamingIndexAppend]]'s keyword twin: continuous BM25-index
    * maintenance — each micro-batch of new documents appends its
    * term-bucketed postings and refreshes the corpus stats,
    * idempotently per batch id ([[appendDocBatch]]). StreamingSpec
    * proves the stream-fed index answers probes exactly as a one-shot
    * batch append. */
  def streamingBm25Append(stream: DataFrame, idCol: String,
      textCol: String, table: String, checkpoint: String,
      numBuckets: Int = 8): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendDocBatch(batch, batchId, idCol, textCol, table, numBuckets)
      }
      .start()

  /** CONTINUOUS index deletes — the delete stream (GDPR erasure feed,
    * a CDC delete topic) as a streaming sink: each micro-batch of ids
    * is tombstoned idempotently per batch id ([[deleteVectorBatch]]).
    * Per-batch cost is the tombstone write — never the index; a
    * periodic [[graft.operators.VectorOps.compactIndex]] (maintenance
    * cadence, not per-batch) physically removes the rows and keeps the
    * probe-time anti-join metadata-sized. */
  def streamingIndexDelete(stream: DataFrame, idCol: String,
      table: String, checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        deleteVectorBatch(batch, batchId, idCol, table)
      }
      .start()

  /** [[streamingIndexDelete]]'s PQ twin: continuous tombstones against
    * a persisted PQ index ([[deletePqBatch]]); a periodic
    * [[graft.operators.VectorOps.compactPqIndex]] physically removes
    * the rows. */
  def streamingPqDelete(stream: DataFrame, idCol: String,
      table: String, checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        deletePqBatch(batch, batchId, idCol, table)
      }
      .start()

  /** [[streamingIndexDelete]]'s keyword twin: continuous BM25 deletes
    * with the per-batch exact stats refresh ([[deleteDocBatch]]). */
  def streamingBm25Delete(stream: DataFrame, idCol: String,
      table: String, checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        deleteDocBatch(batch, batchId, idCol, table)
      }
      .start()

  /** [[deleteVectorBatch]]'s minhash twin: idempotent micro-batch
    * tombstones against a persisted near-dup index
    * ([[graft.operators.TextDedup.deleteFromMinhashIndex]] under the
    * same separate `<table>_deletes` ledger). */
  def deleteMinhashBatch(batch: DataFrame, batchId: Long, idCol: String,
      table: String): Unit =
    ledgered(batch, batchId, s"${table}_deletes")(
      graft.operators.TextDedup.deleteFromMinhashIndex(_, idCol, table))

  /** CONTINUOUS forget-everywhere — the t95 takedown operation
    * ([[graft.operators.Forget.forgetEverywhere]]) as a streaming sink,
    * because takedown requests arrive as a stream in production (a
    * GDPR erasure feed, a trust-and-safety queue): each micro-batch of
    * ids is tombstoned across EVERY configured index of the corpus
    * under one foreachBatch, each modality guarded by its own
    * per-table batch-id ledger — so a replayed batch is a no-op per
    * modality, and a crash between modality writes completes exactly
    * the missing ones on replay (per-modality exactly-once; the
    * composition is idempotent because tombstone writes are). Per-batch
    * cost stays O(|ids|) × modalities, never index-sized. All
    * configured indexes must share the stream's id space — run one
    * sink per id space when corpora differ (the t95 rule). */
  def streamingForget(stream: DataFrame, idCol: String,
      ix: graft.operators.Forget.CorpusIndexes,
      checkpoint: String): StreamingQuery = {
    require(ix.productIterator.exists(_ != None),
      "streamingForget with no indexes is a no-op — pass at least one")
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ix.ann.foreach(deleteVectorBatch(batch, batchId, idCol, _))
        ix.pq.foreach(deletePqBatch(batch, batchId, idCol, _))
        ix.bm25.foreach(deleteDocBatch(batch, batchId, idCol, _))
        ix.minhash.foreach(deleteMinhashBatch(batch, batchId, idCol, _))
      }
      .start()
  }

  /** Streaming exact deduplication — the dedup family's streaming twin:
    * drops rows whose digest was already seen, with state expired by the
    * watermark (`dropDuplicatesWithinWatermark`), so the dedup table
    * never grows unboundedly. At 100 TB-of-stream this is the only
    * viable exact-dedup shape: state holds one digest per UNIQUE key
    * within the watermark horizon. */
  def streamingDedup(events: DataFrame, byCols: Seq[String],
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .withColumn("dedup_key",
        md5(concat_ws("|", byCols.map(col): _*)))
      .dropDuplicatesWithinWatermark("dedup_key")
      .drop("dedup_key")

  /** Streaming NEAR-dup deduplication (the t3/t16/t19 family's streaming
    * twin): a doc's MinHash/LSH band digests become
    * `dropDuplicatesWithinWatermark` keys, so state is k digests per
    * unique doc within the watermark horizon — the only viable near-dup
    * shape on an unbounded stream (the batch pair→cluster resolution
    * needs the full pair graph; a stream gets first-claimant-wins
    * semantics instead).
    *
    * Emits the per-(band_idx, digest) CLAIM rows that survived the dedup:
    * a doc that claimed ALL of its bands collided with nobody inside the
    * horizon and is a survivor; any lost claim means an earlier doc
    * already held that LSH bucket. Because bucket claims persist even for
    * docs that were themselves dropped, chains resolve transitively
    * exactly like the batch connected components when docs arrive in id
    * order (a→b via one bucket, b→c via another ⇒ b and c both drop).
    * Un-bandable docs (< n tokens) claim a single sentinel bucket keyed
    * by their own id — always kept, mirroring the batch LSH path which
    * never pairs them. Reduce per-doc rows with [[nearDupSurvivors]]
    * (inside `foreachBatch`, or over the whole sink — a doc's claims all
    * land in its own micro-batch).
    *
    * The band digests are computed with [[TextDedup.bandedDigests]] —
    * the let-bound form of the batch pipeline (persist barriers are
    * illegal on streams; lambda-variable binding gives the same
    * evaluate-once guarantee per row). */
  def streamingNearDupClaims(docs: DataFrame, idCol: String, textCol: String,
      tsCol: String, n: Int, k: Int, bandSize: Int, numBands: Int,
      watermark: String = "2 hours"): DataFrame =
    docs
      .withWatermark(tsCol, watermark)
      .withColumn("bands",
        graft.operators.TextDedup.bandedDigests(col(textCol), n, k, bandSize, numBands))
      .select(col(idCol), col(tsCol),
        posexplode_outer(col("bands")).as(Seq("band_idx", "bh")))
      // expected claim count rides along so the survivor reduction needs
      // no side channel: banded docs must win numBands buckets, short
      // docs exactly their one sentinel bucket
      .withColumn("expected_claims",
        when(col("bh").isNull, lit(1)).otherwise(lit(numBands)))
      .withColumn("band_idx", coalesce(col("band_idx"), lit(-1)))
      .withColumn("bh",
        coalesce(col("bh"), concat(lit("unbanded:"), col(idCol).cast(StringType))))
      .dropDuplicatesWithinWatermark("band_idx", "bh")

  /** Batch-side reduction of [[streamingNearDupClaims]] output to
    * surviving doc ids: kept ⇔ every band claim survived. */
  def nearDupSurvivors(claims: DataFrame, idCol: String): DataFrame =
    claims.groupBy(col(idCol))
      .agg(count(lit(1)).as("claimed"),
        first(col("expected_claims")).as("expected"))
      .filter(col("claimed") === col("expected"))
      .select(col(idCol))

  /** Streaming twin of [[graft.operators.TextDedup.paragraphDedup]] —
    * the claims form (the near-dup twin's pattern): each arriving doc's
    * non-overlapping token chunks CLAIM their chunk hash, and
    * `dropDuplicatesWithinWatermark` keeps only the first claim per
    * hash, so a paragraph that already streamed by — in this doc or any
    * earlier one — is dropped exactly as the batch operator drops later
    * occurrences. First-occurrence order is ARRIVAL order (the stream's
    * only notion of "first"); when docs arrive in id order the claims
    * equal the batch keep set (StreamingSpec asserts it). State is one
    * row per distinct chunk hash inside the watermark — the same
    * digest-cardinality bound as the batch aggregation.
    *
    * Chunk boundaries are the ONE shared spelling
    * ([[graft.operators.TextAnalysis.chunkStructs]]) the batch operator
    * also explodes — the twins cannot drift apart — here under a
    * [[graft.operators.ExprUtil.bound]] token binding (persist barriers
    * are illegal on streams); docs shorter than one token emit nothing,
    * as in batch. Output claims: (id, ts, chunk_idx, chunk_text, h);
    * reassemble with [[paragraphSurvivorText]]. */
  def streamingParagraphClaims(docs: DataFrame, idCol: String,
      textCol: String, tsCol: String, chunkTokens: Int,
      watermark: String = "2 hours"): DataFrame =
    docs.withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol),
        explode(graft.operators.ExprUtil.bound(
          graft.operators.TextDedup.tokens(col(textCol))) { t =>
          graft.operators.TextAnalysis.chunkStructs(t, chunkTokens)
        }).as("c"))
      .select(col(idCol), col(tsCol), col("c.chunk_idx"),
        col("c.chunk_text"), md5(col("c.chunk_text")).as("h"))
      .dropDuplicatesWithinWatermark("h")

  /** Batch-side reduction of [[streamingParagraphClaims]] output:
    * reassemble each document's surviving paragraphs in chunk order —
    * the `clean_text` the batch operator emits (docs whose every chunk
    * lost do not appear; the batch twin emits them with empty text). */
  def paragraphSurvivorText(claims: DataFrame, idCol: String): DataFrame =
    claims.groupBy(col(idCol))
      .agg(concat_ws(" ", transform(
        sort_array(collect_list(struct(col("chunk_idx"), col("chunk_text")))),
        x => x.getField("chunk_text"))).as("clean_text"))

  /** Streaming train/eval DECONTAMINATION — the third member of the
    * streaming corpus-prep trio (exact dedup, near-dup, decontamination).
    * Unlike the other two this needs NO cross-batch state: each incoming
    * train doc is judged only against the STATIC eval corpus, so the
    * Spark-native shape is a stream-static composition via
    * `foreachBatch` — every micro-batch runs the exact BATCH operator
    * ([[graft.operators.TextDedup.decontaminate]], shingle-containment
    * bipartite join) against the once-staged eval shingle table. At
    * scale the eval side is broadcast-sized by definition; the per-batch
    * join is a semi-join probe of the arriving docs' shingle stream.
    *
    * `evalSh` is the staged `(id, s)` eval shingle table
    * ([[graft.operators.TextDedup.shingleSets]]; persist it — it is
    * reused every batch). `onFlagged` receives each batch's flagged
    * (train_id, eval_id, overlap, containment) frame and must consume it
    * EAGERLY (write/collect) — the batch's staging frame is released
    * when the callback returns. */
  def streamingDecontaminate(docs: DataFrame, idCol: String, textCol: String,
      evalSh: DataFrame, n: Int, threshold: Double,
      trigger: Trigger = Trigger.AvailableNow())(
      onFlagged: DataFrame => Unit): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Staging.scoped {
          val batchSh = graft.operators.TextDedup
            .shingleSets(batch, idCol, textCol, n)
          val withSh = batchSh.withColumn("is_eval", lit(false))
            .unionByName(evalSh.select(col("id"), col("s"))
              .withColumn("is_eval", lit(true)))
          onFlagged(graft.operators.TextDedup
            .decontaminate(withSh, col("is_eval"), threshold))
        }
      }
      .trigger(trigger)
      .start()

  /** Stream-static FUZZY JOIN — [[graft.operators.FuzzyJoin]]'s
    * streaming twin, the live record-linkage shape: each micro-batch
    * of arriving records blocks and verifies against the STATIC
    * reference relation (PassJoin segment keys + levenshtein,
    * dedupe-before-verify — per-batch cost is the batch's distinct
    * strings, never the reference corpus re-scanned quadratically).
    * `onMatches` receives each batch's (left_id, right_id, dist)
    * matches EAGERLY (the [[streamingDecontaminate]] contract: write
    * or collect before returning). */
  def streamingFuzzyJoin(stream: DataFrame, idCol: String, strCol: String,
      reference: DataFrame, refIdCol: String, refStrCol: String,
      maxDist: Int, trigger: Trigger = Trigger.AvailableNow())(
      onMatches: DataFrame => Unit): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Staging.scoped {
          onMatches(graft.operators.FuzzyJoin.fuzzyJoin(
            batch, idCol, strCol, reference, refIdCol, refStrCol, maxDist))
        }
      }
      .trigger(trigger)
      .start()

  /** Streaming near-dup probe against a PERSISTED minhash band index
    * ([[graft.operators.TextDedup.writeMinhashIndex]]) — the
    * [[streamingFuzzyJoin]] shape for the LSH modality, and the live
    * corpus-hygiene cadence: every arriving micro-batch of documents
    * shingles/bands with the index's persisted build parameters and
    * probes the bucketed tables, so per-batch cost is the batch's band
    * entries joined against a pre-partitioned index scan — the corpus
    * is never re-scanned quadratically. The index is re-loaded per
    * batch, so committed appends and deletes landing BETWEEN batches
    * are visible to the next batch (stream-static with a moving static
    * side, the t33 incremental-dedup contract). `onMatches` receives
    * each batch's (q_id, id, jaccard) matches EAGERLY (the
    * [[streamingDecontaminate]] contract: write or collect before
    * returning). */
  def streamingMinhashProbe(stream: DataFrame, idCol: String,
      textCol: String, table: String,
      trigger: Trigger = Trigger.AvailableNow())(
      onMatches: DataFrame => Unit): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Staging.scoped {
          onMatches(graft.operators.TextDedup.probeMinhashIndex(
            batch.sparkSession, table, batch, idCol, textCol))
        }
      }
      .trigger(trigger)
      .start()

  /** Streaming incremental near-dup INGEST — the self-building dedup
    * index: every micro-batch runs
    * [[graft.operators.TextDedup.minhashDedupIngestStep]] (probe the
    * persisted index for cross-batch dups → drop them → dedup within
    * the batch → append the survivors as ONE committed batch keyed by
    * the STREAMING BATCH ID). The CommitLog refuses a replayed batch
    * id, so a restart that re-runs a batch appends nothing twice: the
    * index is exactly-once, the `onDups` report at-least-once (the
    * step's documented side-output contract). `onDups` receives the
    * step's [[graft.operators.TextDedup.IngestStepResult]] — its
    * `committed` Boolean distinguishes an intended replay no-op from a
    * misconfigured fresh stream (ids restarting at 0 against a
    * populated table) whose appends would otherwise be silently
    * refused. Per-batch cost is batch-sized everywhere; the corpus is
    * never re-scanned. */
  def streamingMinhashDedupIngest(stream: DataFrame, idCol: String,
      textCol: String, table: String,
      trigger: Trigger = Trigger.AvailableNow())(
      onDups: graft.operators.TextDedup.IngestStepResult => Unit): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        graft.operators.Staging.scoped {
          onDups(graft.operators.TextDedup.minhashDedupIngestStep(
            batch, idCol, textCol, table, bid))
        }
      }
      .trigger(trigger)
      .start()

  /** Streaming CDC materializer — the stream twin of
    * [[graft.operators.Cdc.applyChanges]]: consume a change-event stream
    * and maintain the merged snapshot across micro-batches. Each batch
    * runs one [[graft.operators.Cdc.mergeStep]] (state carries the
    * applied sequence, so stale/replayed changes are ignored — see its
    * scaladoc for the delete-ordering assumption), then the new state is
    * `localCheckpoint`ed: the checkpoint truncates lineage (without it
    * the state plan grows by one merge per batch — the
    * connectedComponents exponential-growth trap) and the superseded
    * state's blocks are released deterministically. On a real cluster
    * swap the sink for a table write per batch (foreachBatch → MERGE
    * INTO) — the in-memory state here is the test/demo medium; the merge
    * shape is the same.
    *
    * `initial` is the base snapshot; a missing `seqCol` is added as 0
    * (every real change wins over the base). Returns the running query
    * and a thunk reading the CURRENT state (call after
    * `processAllAvailable()` for a settled view). */
  def cdcMaterialize(changes: DataFrame, initial: DataFrame,
      keyCols: Seq[String], opCol: String, seqCol: String,
      trigger: Trigger = Trigger.AvailableNow())
      : (StreamingQuery, () => DataFrame) = {
    val seeded =
      if (initial.columns.contains(seqCol)) initial
      else initial.withColumn(seqCol, lit(0L))
    var state = seeded.localCheckpoint(eager = true)
    val q = changes.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val next = graft.operators.Cdc
          .mergeStep(state, batch, keyCols, opCol, seqCol)
          .localCheckpoint(eager = true)
        org.apache.spark.sql.graft.bridge.checkpointedRdd(state)
          .foreach(_.unpersist(blocking = false))
        state.unpersist(blocking = false)
        state = next
      }
      .trigger(trigger)
      .start()
    (q, () => state)
  }

  /** Streaming SCD2 history materializer — the stream twin of
    * [[graft.operators.Cdc.scd2]], closing the asymmetry where c1's
    * merge had a streaming counterpart but the type-2 history did not:
    * consume a change-event stream and maintain the FULL version
    * history across micro-batches. Each batch runs one seq-guarded
    * [[graft.operators.Cdc.scd2Step]] (untouched keys pass through an
    * anti-join; only the batch's keys re-fold; replayed/stale seqs are
    * ignored via the per-key frontier), then the new history is
    * `localCheckpoint`ed — the same lineage-truncation and
    * deterministic block-release discipline as [[cdcMaterialize]]. On
    * a real cluster the sink is a table write per batch; the step
    * shape is the same.
    *
    * `initial` is a previously materialized history ([[graft.operators
    * .Cdc.scd2]] output) or None for an empty start. Returns the
    * running query and a thunk reading the CURRENT history (call after
    * `processAllAvailable()` for a settled view). Contract
    * (StreamingSpec): stream-fed history ≡ batch scd2 over the same
    * rows for ANY micro-batch split, including across a checkpoint
    * restart re-seeded from the captured history. */
  def scd2Materialize(changes: DataFrame, initial: Option[DataFrame],
      keyCols: Seq[String], opCol: String, seqCol: String,
      trigger: Trigger = Trigger.AvailableNow())
      : (StreamingQuery, () => DataFrame) = {
    val payload = changes.columns.toSeq
      .filterNot(c => c == opCol || c == seqCol)
    val empty = changes.sparkSession.createDataFrame(
      changes.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(
        // the seq column's NATIVE type — Cdc.scd2 preserves it, so a
        // non-long seq (timestamp LSN, decimal) must shape the empty
        // history identically or the first scd2Step unionByName drifts
        changes.select((payload.map(col) :+
          col(seqCol).as("valid_from") :+
          col(seqCol).as("valid_to")): _*).schema.fields :+
          org.apache.spark.sql.types.StructField("is_current",
            org.apache.spark.sql.types.BooleanType, nullable = true)))
    var state = initial.getOrElse(empty).localCheckpoint(eager = true)
    val q = changes.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // scoped: scd2Step barriers its touched/ht intermediates into
        // the CURRENT thread's frame, and a micro-batch thread has no
        // releasing frame of its own — the eager checkpoint inside the
        // scope materializes `next` before the barriers release
        graft.operators.Staging.scoped {
          val next = graft.operators.Cdc
            .scd2Step(state, batch, keyCols, opCol, seqCol)
            .localCheckpoint(eager = true)
          org.apache.spark.sql.graft.bridge.checkpointedRdd(state)
            .foreach(_.unpersist(blocking = false))
          state.unpersist(blocking = false)
          state = next
        }
      }
      .trigger(trigger)
      .start()
    (q, () => state)
  }

  /** True session-window aggregation (gap-merged event-time windows) —
    * works identically over a stream or a batch frame. */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  // -------------------------------------------------------------------
  // Streaming latest-state compaction (the w5 batch query's twin)
  // -------------------------------------------------------------------

  final case class LatestState(tsMicros: Long, eventId: Long,
      eventType: String, value: Double)

  /** Streaming CDC-style latest-state: per key, keep the row with the
    * greatest (ts, event_id); emits the current latest on every batch
    * (Update mode). State is ONE row per key — the minimal possible for
    * this semantics. */
  def latestState(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    def update(userId: Long, rows: Iterator[(Long, Long, Long, String, Double)],
        state: GroupState[LatestState]): (Long, LatestState) = {
      var cur = state.getOption.orNull
      rows.foreach { case (_, eventId, tsMicros, eventType, value) =>
        if (cur == null || tsMicros > cur.tsMicros ||
            (tsMicros == cur.tsMicros && eventId > cur.eventId))
          cur = LatestState(tsMicros, eventId, eventType, value)
      }
      state.update(cur)
      (userId, cur)
    }
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tsMicros"),
        col("event_type"), col("value"))
      .as[(Long, Long, Long, String, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)
      .toDF("user_id", "latest")
      .select(col("user_id"), timestamp_micros(col("latest.tsMicros")).as("last_ts"),
        col("latest.eventId").as("last_event_id"),
        col("latest.eventType").as("last_event_type"),
        col("latest.value").as("last_value"))
  }

  // -------------------------------------------------------------------
  // Arbitrary stateful processing: gap-based sessionization
  // -------------------------------------------------------------------

  final case class EventRow(event_id: Long, user_id: Long, tsMicros: Long)
  final case class SessionState(lastTsMicros: Long, sessions: Long)
  final case class SessionCount(user_id: Long, n_sessions: Long)

  val SessionGapMicros: Long = 30L * 60 * 1000 * 1000 // 30 minutes

  /** flatMapGroupsWithState update function: counts gap-delimited
    * sessions per user. Emits the running per-user session count on
    * every batch (Update mode). */
  def updateSessions(
      userId: Long,
      events: Iterator[EventRow],
      state: GroupState[SessionState]): Iterator[SessionCount] = {
    var s = state.getOption.getOrElse(SessionState(Long.MinValue, 0L))
    events.toSeq.sortBy(_.tsMicros).foreach { e =>
      if (s.lastTsMicros == Long.MinValue || e.tsMicros - s.lastTsMicros > SessionGapMicros)
        s = SessionState(e.tsMicros, s.sessions + 1)
      else s = SessionState(e.tsMicros, s.sessions)
    }
    state.update(s)
    Iterator(SessionCount(userId, s.sessions))
  }

  /** Streaming sessionization over the events stream. */
  def sessionize(spark: SparkSession, events: DataFrame): Dataset[SessionCount] = {
    import spark.implicits._
    events
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tsMicros"))
      .as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(updateSessions)
  }

  // -------------------------------------------------------------------
  // Streaming CEP: watermark-ordered funnel matching (the w6 twin)
  // -------------------------------------------------------------------

  final case class FunnelEvent(user_id: Long, usMicros: Long,
      eventId: Long, tp: String, ts: java.sql.Timestamp)
  final case class FunnelCepState(stage: Int, witnessUs: Seq[Long],
      pending: Seq[(Long, Long, String)])
  final case class FunnelUpdate(user_id: Long, stage_reached: Int,
      witness_us: Seq[Long])

  /**
   * Streaming CEP funnel — the [[graft.operators.Funnel]] batch
   * operator's twin, and the honest answer to CEP's ordering problem
   * in a streaming runtime: the greedy stage fold is ORDER-SENSITIVE
   * (an early `view` arriving after a later `click` changes the
   * verdict), so events cannot be folded in arrival order. Flink's CEP
   * library buffers by event time behind the watermark; this operator
   * does exactly that with Spark primitives — per-user state holds a
   * PENDING buffer of not-yet-mature events, and each invocation folds
   * only the prefix at or below the current watermark, in (event-time,
   * event_id) order. An event-time timeout re-invokes the group when
   * the watermark passes its earliest pending event even if no new
   * data arrives, so buffered events always flush.
   *
   * Contract (spec-asserted): with any on-time arrival order, the last
   * Update-mode emission per user equals the batch [[graft.operators
   * .Funnel.funnel]] over the same rows. Emission is delta-style: a
   * row only when the stage advances, plus a first-sight stage-0 row
   * for users whose entry is RETAINED (pending buffer or witnesses) —
   * users with only non-matching mature events emit nothing (their
   * entry is never created, so a first-sight row would repeat on
   * every touching batch; emit-once requires suppressing it).
   * State is bounded per ACTIVE user: witness + stage are O(k);
   * pending holds at most the user's events inside the watermark lag
   * (the same bound as any event-time buffer); a COMPLETED funnel
   * drops its buffer and stops emitting. Late events (behind the
   * watermark on arrival) are dropped by the stream's watermark
   * filter — standard CEP best-effort lateness.
   *
   * State RETENTION: an informationally-empty entry (stage 0, no
   * witnesses, no buffer) is removed immediately — losslessly, since
   * re-creating it from scratch folds identically (dormant users cost
   * nothing). In-progress funnels must keep their witnesses. Completed
   * funnels keep a k-sized tombstone so post-completion stragglers
   * don't restart the pattern; with the default infinite
   * `matchRetentionMs` that tombstone lives for the stream's life
   * (one O(k) entry per COMPLETED user — the documented trade for
   * exactly-once match semantics). A finite `matchRetentionMs` frees
   * it once the watermark passes `completion + retention` — Flink's
   * AFTER MATCH SKIP PAST LAST ROW with a TTL: an event arriving
   * later than that starts a NEW funnel instance (spec-asserted).
   */
  def updateFunnel(stages: IndexedSeq[String],
      matchRetentionMs: Long = Long.MaxValue)(
      userId: Long, rows: Iterator[FunnelEvent],
      state: GroupState[FunnelCepState]): Iterator[FunnelUpdate] = {
    val k = stages.length
    val first = state.getOption.isEmpty
    val prev = state.getOption.getOrElse(FunnelCepState(0, Nil, Nil))
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    // cleanup timer on a completed funnel: retention elapsed, free the
    // tombstone (any later event for this user starts a new instance).
    // Reachable only via the finite-retention timer: GroupState CLEARS
    // a pending timeout on every invocation that does not re-set it,
    // so a pre-completion flush timer cannot fire here stale
    if (prev.stage == k && state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    val all = prev.pending ++ rows.map(e => (e.usMicros, e.eventId, e.tp))
    val (mature, immature) = all.partition(_._1 <= wmUs)
    var stage = prev.stage
    var wit = prev.witnessUs
    mature.sortBy(e => (e._1, e._2)).foreach { case (us, _, tp) =>
      if (stage < k && tp == stages(stage)) { wit = wit :+ us; stage += 1 }
    }
    val rest = if (stage == k) Nil else immature
    val removable = stage == 0 && wit.isEmpty && rest.isEmpty
    if (removable) {
      // nothing worth remembering — drop (or never create) the entry
      if (!first) state.remove()
    } else {
      state.update(FunnelCepState(stage, wit, rest))
      if (rest.nonEmpty)
        state.setTimeoutTimestamp(rest.map(_._1).min / 1000L + 1L)
      else if (stage == k && matchRetentionMs != Long.MaxValue)
        // EventTimeTimeout rejects timestamps at/behind the watermark —
        // clamp for funnels completing long after their last witness
        state.setTimeoutTimestamp(math.max(
          wit.last / 1000L + matchRetentionMs,
          state.getCurrentWatermarkMs() + 1L))
    }
    // first-sight stage-0 rows only for RETAINED entries — an
    // immediately-removable entry leaves no state, so emitting for it
    // would repeat on every touching batch (at-least-once) instead of
    // the emit-once delta contract; such users emit nothing until a
    // stage advances
    if ((first && !removable) || stage != prev.stage)
      Iterator(FunnelUpdate(userId, stage, wit))
    else Iterator.empty
  }

  /** DP-slot sentinel for "no partial match at this stage" — the state
    * encoder carries plain longs, not options. */
  private val NoStart = Long.MinValue

  final case class FunnelWinState(b: Seq[Long],
      pending: Seq[(Long, Long, String)])
  final case class FunnelWinUpdate(user_id: Long, stage_reached: Int,
      win_start_us: Option[Long])

  /**
   * Streaming WINDOWED funnel — [[graft.operators.Funnel.funnelWithin]]'s
   * twin, completing the CEP family's batch/stream symmetry for the
   * `within(T)` bound. Same watermark-buffer discipline as
   * [[updateFunnel]] (the DP is order-sensitive too: a late-but-on-time
   * stage-1 event can RAISE the max feasible start retroactively), but
   * the per-user state is the max-start DP vector instead of the greedy
   * stage pointer: B[j] = the latest stage-1 time among in-window
   * chains at stage j (NoStart when none) — k longs however many
   * restarts the user's history holds.
   *
   * Emission is delta-style on the OBSERVABLE pair: a row whenever
   * (stage_reached, win_start_us) changes — the window start can move
   * to a later restart without the stage changing, and the last
   * emission must equal the batch operator (spec contract). State
   * retention mirrors [[updateFunnel]]: empty entries drop losslessly,
   * completed funnels tombstone with the optional after-match TTL.
   */
  def updateFunnelWithin(stages: IndexedSeq[String], windowMicros: Long,
      matchRetentionMs: Long = Long.MaxValue)(
      userId: Long, rows: Iterator[FunnelEvent],
      state: GroupState[FunnelWinState]): Iterator[FunnelWinUpdate] = {
    val k = stages.length
    val first = state.getOption.isEmpty
    val prev = state.getOption.getOrElse(
      FunnelWinState(Seq.fill(k)(NoStart), Nil))
    def stageOf(b: Seq[Long]): Int = b.count(_ != NoStart)
    def winOf(b: Seq[Long]): Option[Long] = {
      val s = stageOf(b); if (s > 0) Some(b(s - 1)) else None
    }
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    if (stageOf(prev.b) == k && state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    val all = prev.pending ++ rows.map(e => (e.usMicros, e.eventId, e.tp))
    val (mature, immature) = all.partition(_._1 <= wmUs)
    val b = prev.b.toArray
    mature.sortBy(e => (e._1, e._2)).foreach { case (us, _, tp) =>
      // pre-event values: an event never extends a chain containing
      // itself (matches the batch DP's transform-over-pre-state)
      val pre = b.clone()
      var j = k
      while (j >= 2) {
        if (tp == stages(j - 1) && pre(j - 2) != NoStart &&
            us <= pre(j - 2) + windowMicros)
          b(j - 1) = math.max(b(j - 1), pre(j - 2))
        j -= 1
      }
      if (tp == stages(0)) b(0) = math.max(b(0), us)
    }
    val stage = stageOf(b)
    val rest = if (stage == k) Nil else immature
    val removable = stage == 0 && rest.isEmpty
    if (removable) {
      if (!first) state.remove()
    } else {
      state.update(FunnelWinState(b.toSeq, rest))
      if (rest.nonEmpty)
        state.setTimeoutTimestamp(rest.map(_._1).min / 1000L + 1L)
      else if (stage == k && matchRetentionMs != Long.MaxValue)
        state.setTimeoutTimestamp(math.max(
          b(k - 1) / 1000L + matchRetentionMs,
          state.getCurrentWatermarkMs() + 1L))
    }
    val out = (stage, winOf(b.toSeq))
    // same retained-entry first-sight rule as updateFunnel
    if ((first && !removable) || out != ((stageOf(prev.b), winOf(prev.b))))
      Iterator(FunnelWinUpdate(userId, stage, out._2))
    else Iterator.empty
  }

  /** The streaming windowed funnel over an events stream — the
    * [[streamingFunnel]] plumbing with [[updateFunnelWithin]]'s DP
    * state. */
  def streamingFunnelWithin(spark: SparkSession, events: DataFrame,
      stages: Seq[String], windowMicros: Long, watermark: String,
      matchRetentionMs: Long = Long.MaxValue): Dataset[FunnelWinUpdate] = {
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), unix_micros(col("ts")).as("usMicros"),
        col("event_id").as("eventId"), col("event_type").as("tp"), col("ts"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(
        updateFunnelWithin(stages.toIndexedSeq, windowMicros,
          matchRetentionMs))
  }

  final case class FunnelGuardState(o: Seq[Boolean], e: Seq[Boolean],
      pending: Seq[(Long, Long, String)], completionUs: Long)
  final case class FunnelGuardUpdate(user_id: Long, stage_reached: Int)

  /**
   * Streaming GUARDED funnel — [[graft.operators.Funnel.funnelGuarded]]'s
   * twin (CEP `notFollowedBy` inside the pattern): per-user state is
   * the NFA's open-clean and sticky ever-reached bit vectors plus the
   * event-time pending buffer; mature events fold in watermark order
   * (blocker kills are order-sensitive). Emission on stage_reached
   * change (sticky — it only grows). Retention mirrors the family:
   * lossless empty-entry removal, completed-match tombstone with the
   * optional after-match TTL.
   */
  def updateFunnelGuarded(stages: IndexedSeq[String],
      notBetween: IndexedSeq[Option[String]],
      matchRetentionMs: Long = Long.MaxValue)(
      userId: Long, rows: Iterator[FunnelEvent],
      state: GroupState[FunnelGuardState]): Iterator[FunnelGuardUpdate] = {
    val k = stages.length
    val first = state.getOption.isEmpty
    val prev = state.getOption.getOrElse(
      FunnelGuardState(Seq.fill(k)(false), Seq.fill(k)(false), Nil, 0L))
    def stageOf(e: Seq[Boolean]): Int = e.count(identity)
    if (stageOf(prev.e) == k && state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val all = prev.pending ++ rows.map(e => (e.usMicros, e.eventId, e.tp))
    val (mature, immature) = all.partition(_._1 <= wmUs)
    val o = prev.o.toArray
    val ev = prev.e.toArray
    var comp = prev.completionUs
    mature.sortBy(e => (e._1, e._2)).foreach { case (us, _, tp) =>
      val pre = o.clone()
      var j = 0
      while (j < k) {
        val adv = tp == stages(j) && (j == 0 || pre(j - 1))
        if (adv) { o(j) = true; ev(j) = true }
        j += 1
      }
      j = 0
      while (j < k - 1) {
        if (notBetween(j).contains(tp) &&
            !(tp == stages(j) && (j == 0 || pre(j - 1))))
          o(j) = false
        j += 1
      }
      // the stage-k witness time — the NFA carries no witnesses, so
      // the completion instant is captured here, once, so the cleanup
      // timer keys to COMPLETION + retention (post-completion
      // stragglers must not keep pushing the tombstone expiry out)
      if (comp == 0L && ev(k - 1)) comp = us
    }
    val stage = stageOf(ev.toSeq)
    val rest = if (stage == k) Nil else immature
    val removable = stage == 0 && !o.exists(identity) && rest.isEmpty
    if (removable) {
      if (!first) state.remove()
    } else {
      state.update(FunnelGuardState(o.toSeq, ev.toSeq, rest, comp))
      if (rest.nonEmpty)
        state.setTimeoutTimestamp(rest.map(_._1).min / 1000L + 1L)
      else if (stage == k && matchRetentionMs != Long.MaxValue && comp > 0)
        state.setTimeoutTimestamp(math.max(
          comp / 1000L + matchRetentionMs,
          state.getCurrentWatermarkMs() + 1L))
    }
    // same retained-entry first-sight rule as updateFunnel
    if ((first && !removable) || stage != stageOf(prev.e))
      Iterator(FunnelGuardUpdate(userId, stage))
    else Iterator.empty
  }

  /** The streaming guarded funnel over an events stream — the
    * [[streamingFunnel]] plumbing with [[updateFunnelGuarded]]'s NFA
    * state. */
  def streamingFunnelGuarded(spark: SparkSession, events: DataFrame,
      stages: Seq[String], notBetween: Seq[Option[String]],
      watermark: String,
      matchRetentionMs: Long = Long.MaxValue): Dataset[FunnelGuardUpdate] = {
    import spark.implicits._
    require(notBetween.length == stages.length - 1,
      "need one (optional) blocker per gap")
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), unix_micros(col("ts")).as("usMicros"),
        col("event_id").as("eventId"), col("event_type").as("tp"), col("ts"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(
        updateFunnelGuarded(stages.toIndexedSeq, notBetween.toIndexedSeq,
          matchRetentionMs))
  }

  final case class FunnelPatternWinState(l: Seq[Long], o: Seq[Long],
      m: Seq[Long], pending: Seq[(Long, Long, String)], completionUs: Long)

  /**
   * Streaming CONTIGUITY × WITHIN product funnel —
   * [[graft.operators.Funnel.funnelPatternWithin]]'s twin, closing
   * the last batch-only gap in the CEP product family: per-user state
   * is the max-start product NFA's three vectors (`l[j]` — latest
   * start among chains whose prefix-j match ends at the immediately
   * previous event; `o[j]` — latest start among chains matched
   * strictly before it; `m[j]` — the STICKY latest start ever to
   * actually match stage j, the observable) plus the event-time
   * pending buffer. Mature events fold in watermark order (strict
   * hops, notNext kills and window expiry are all order-sensitive);
   * every advance reads the PRE state (an event never extends the
   * partials it just created — the guarded-fold rule) and checks the
   * `within` deadline against the max eligible predecessor (the w8
   * dominance: the max is also the easiest to satisfy). Emission is
   * delta-style on (stage_reached, win_start_us); completed funnels
   * drop their buffer and tombstone with the optional after-match TTL
   * (the family's documented finality trade, as [[updateFunnelWithin]]).
   */
  def updateFunnelPatternWithin(
      stages: IndexedSeq[graft.operators.Funnel.PatternStage],
      windowMicros: Long, matchRetentionMs: Long = Long.MaxValue)(
      userId: Long, rows: Iterator[FunnelEvent],
      state: GroupState[FunnelPatternWinState])
      : Iterator[FunnelWinUpdate] = {
    val k = stages.length
    val first = state.getOption.isEmpty
    val prev = state.getOption.getOrElse(FunnelPatternWinState(
      Seq.fill(k)(NoStart), Seq.fill(k)(NoStart), Seq.fill(k)(NoStart),
      Nil, 0L))
    // trailing-optional run after each stage (for the win realizer)
    val tOpt = (1 to k).map(j => stages.drop(j).takeWhile(_.optional).length)
    def satUpTo(m: Seq[Long]): Int = {
      def sat(j: Int): Boolean =
        if (j == 0) true
        else if (stages(j - 1).optional) m(j - 1) != NoStart || sat(j - 1)
        else m(j - 1) != NoStart
      (1 to k).count(sat)
    }
    def winOf(m: Seq[Long]): Option[Long] = {
      val r = satUpTo(m)
      val cands = (1 to k).filter(j => r <= j + tOpt(j - 1))
        .map(j => m(j - 1)).filter(_ != NoStart)
      if (cands.nonEmpty) Some(cands.max) else None
    }
    if (satUpTo(prev.m) == k && state.hasTimedOut && prev.pending.isEmpty) {
      state.remove()
      return Iterator.empty
    }
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val all = prev.pending ++ rows.map(e => (e.usMicros, e.eventId, e.tp))
    val (mature, immature) = all.partition(_._1 <= wmUs)
    val l = prev.l.toArray
    val o = prev.o.toArray
    val m = prev.m.toArray
    var comp = prev.completionUs
    mature.sortBy(e => (e._1, e._2)).foreach { case (us, _, tp) =>
      val preL = l.clone(); val preO = o.clone()
      def effLast(j: Int): Long =
        if (j == 0) NoStart
        else if (stages(j - 1).optional)
          math.max(preL(j - 1), effLast(j - 1))
        else preL(j - 1)
      def effAny(j: Int): Long =
        if (j == 0) NoStart
        else if (stages(j - 1).optional)
          math.max(math.max(preL(j - 1), preO(j - 1)), effAny(j - 1))
        else math.max(preL(j - 1), preO(j - 1))
      def adv(j: Int): Long =
        if (tp != stages(j - 1).tp) NoStart
        else if (j == 1) us
        else {
          val base = if (stages(j - 1).strict) effLast(j - 1)
            else effAny(j - 1)
          val pred = if (base != NoStart && us - base <= windowMicros)
            base else NoStart
          if (stages.take(j - 1).forall(_.optional)) math.max(pred, us)
          else pred
        }
      var j = 1
      while (j <= k) {
        val a = adv(j)
        l(j - 1) = a
        o(j - 1) =
          if (stages(j - 1).notNextAfter.contains(tp)) preO(j - 1)
          else math.max(preO(j - 1), preL(j - 1))
        m(j - 1) = math.max(m(j - 1), a)
        j += 1
      }
      if (comp == 0L && satUpTo(m.toSeq) == k) comp = us
    }
    val reached = satUpTo(m.toSeq)
    val rest = if (reached == k) Nil else immature
    val removable = reached == 0 && m.forall(_ == NoStart) &&
      l.forall(_ == NoStart) && o.forall(_ == NoStart) && rest.isEmpty
    if (removable) {
      if (!first) state.remove()
    } else {
      state.update(FunnelPatternWinState(l.toSeq, o.toSeq, m.toSeq,
        rest, comp))
      if (rest.nonEmpty)
        state.setTimeoutTimestamp(rest.map(_._1).min / 1000L + 1L)
      else if (reached == k && matchRetentionMs != Long.MaxValue &&
          comp > 0)
        state.setTimeoutTimestamp(math.max(
          comp / 1000L + matchRetentionMs,
          state.getCurrentWatermarkMs() + 1L))
    }
    val out = (reached, winOf(m.toSeq))
    if ((first && !removable) ||
        out != ((satUpTo(prev.m), winOf(prev.m))))
      Iterator(FunnelWinUpdate(userId, reached, out._2))
    else Iterator.empty
  }

  /** The streaming contiguity × within funnel over an events stream —
    * the [[streamingFunnel]] plumbing with
    * [[updateFunnelPatternWithin]]'s product-NFA state. */
  def streamingFunnelPatternWithin(spark: SparkSession,
      events: DataFrame,
      stages: Seq[graft.operators.Funnel.PatternStage],
      windowMicros: Long, watermark: String,
      matchRetentionMs: Long = Long.MaxValue): Dataset[FunnelWinUpdate] = {
    import spark.implicits._
    graft.operators.Funnel.patternRequire(stages)
    require(windowMicros > 0, "need windowMicros > 0")
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), unix_micros(col("ts")).as("usMicros"),
        col("event_id").as("eventId"), col("event_type").as("tp"), col("ts"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(
        updateFunnelPatternWithin(stages.toIndexedSeq, windowMicros,
          matchRetentionMs))
  }

  /** Streaming GROUP pattern under `within(T)` —
    * [[graft.operators.Funnel.funnelGroupTimesWithin]]'s twin: the
    * stage-list expansion composes with
    * [[streamingFunnelPatternWithin]] unchanged; the flat observables
    * project to repetitions. */
  def streamingFunnelGroupTimesWithin(spark: SparkSession,
      events: DataFrame,
      group: Seq[graft.operators.Funnel.PatternStage], times: Int,
      windowMicros: Long, watermark: String,
      consecutiveSeams: Boolean = false,
      matchRetentionMs: Long = Long.MaxValue): DataFrame = {
    graft.operators.Funnel.groupRequire(group, times)
    val k = group.length
    streamingFunnelPatternWithin(spark, events,
        graft.operators.Funnel.groupExpand(group, times, consecutiveSeams),
        windowMicros, watermark, matchRetentionMs)
      .toDF()
      .select(col("user_id"),
        expr(s"stage_reached div $k").cast("int").as("reps_completed"),
        col("win_start_us"))
  }

  final case class FunnelWinGuardState(b: Seq[Long], m: Seq[Long],
      pending: Seq[(Long, Long, String)], completionUs: Long)

  /**
   * Streaming COMBINED windowed+guarded funnel —
   * [[graft.operators.Funnel.funnelWithinGuarded]]'s twin, keeping the
   * family's batch/stream symmetry complete: per-user state is the
   * alive max-start vector (killable by gap blockers), the sticky
   * ever-reached max-start vector (the observable), and the
   * event-time pending buffer; folding is watermark-ordered (both
   * window expiry and blocker kills are order-sensitive). Emission on
   * (stage_reached, win_start_us) change; retention as in the rest of
   * the family.
   */
  def updateFunnelWithinGuarded(stages: IndexedSeq[String],
      windowMicros: Long, notBetween: IndexedSeq[Option[String]],
      matchRetentionMs: Long = Long.MaxValue)(
      userId: Long, rows: Iterator[FunnelEvent],
      state: GroupState[FunnelWinGuardState]): Iterator[FunnelWinUpdate] = {
    val k = stages.length
    val first = state.getOption.isEmpty
    val prev = state.getOption.getOrElse(FunnelWinGuardState(
      Seq.fill(k)(NoStart), Seq.fill(k)(NoStart), Nil, 0L))
    def stageOf(m: Seq[Long]): Int = m.count(_ != NoStart)
    def winOf(m: Seq[Long]): Option[Long] = {
      val s = stageOf(m); if (s > 0) Some(m(s - 1)) else None
    }
    if (stageOf(prev.m) == k && state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val all = prev.pending ++ rows.map(e => (e.usMicros, e.eventId, e.tp))
    val (mature, immature) = all.partition(_._1 <= wmUs)
    val b = prev.b.toArray
    val m = prev.m.toArray
    var comp = prev.completionUs
    mature.sortBy(e => (e._1, e._2)).foreach { case (us, _, tp) =>
      val pre = b.clone()
      val adv = Array.tabulate(k) { j =>
        if (j == 0) { if (tp == stages(0)) us else NoStart }
        else if (tp == stages(j) && pre(j - 1) != NoStart &&
          us <= pre(j - 1) + windowMicros) pre(j - 1)
        else NoStart
      }
      var j = 0
      while (j < k) {
        val kill = j < k - 1 && notBetween(j).contains(tp)
        b(j) = if (kill) adv(j) else math.max(b(j), adv(j))
        m(j) = math.max(m(j), adv(j))
        j += 1
      }
      // capture the completion instant once (see updateFunnelGuarded)
      if (comp == 0L && m(k - 1) != NoStart) comp = us
    }
    val stage = stageOf(m.toSeq)
    val rest = if (stage == k) Nil else immature
    val removable = stage == 0 && !b.exists(_ != NoStart) && rest.isEmpty
    if (removable) {
      if (!first) state.remove()
    } else {
      state.update(FunnelWinGuardState(b.toSeq, m.toSeq, rest, comp))
      if (rest.nonEmpty)
        state.setTimeoutTimestamp(rest.map(_._1).min / 1000L + 1L)
      else if (stage == k && matchRetentionMs != Long.MaxValue && comp > 0)
        state.setTimeoutTimestamp(math.max(
          comp / 1000L + matchRetentionMs,
          state.getCurrentWatermarkMs() + 1L))
    }
    val out = (stage, winOf(m.toSeq))
    // same retained-entry first-sight rule as updateFunnel
    if ((first && !removable) || out != ((stageOf(prev.m), winOf(prev.m))))
      Iterator(FunnelWinUpdate(userId, stage, out._2))
    else Iterator.empty
  }

  /** The streaming combined windowed+guarded funnel — the
    * [[streamingFunnel]] plumbing with [[updateFunnelWithinGuarded]]'s
    * DP state. */
  def streamingFunnelWithinGuarded(spark: SparkSession, events: DataFrame,
      stages: Seq[String], windowMicros: Long,
      notBetween: Seq[Option[String]], watermark: String,
      matchRetentionMs: Long = Long.MaxValue): Dataset[FunnelWinUpdate] = {
    import spark.implicits._
    require(notBetween.length == stages.length - 1,
      "need one (optional) blocker per gap")
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), unix_micros(col("ts")).as("usMicros"),
        col("event_id").as("eventId"), col("event_type").as("tp"), col("ts"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(
        updateFunnelWithinGuarded(stages.toIndexedSeq, windowMicros,
          notBetween.toIndexedSeq, matchRetentionMs))
  }

  /** Streaming QUANTIFIED funnel — CEP `times(n)` over a stream. The
    * batch reduction (quantifiers ≡ stage-list expansion,
    * [[graft.operators.Funnel.funnelTimes]]) composes with
    * [[streamingFunnel]] unchanged: run the stream over the EXPANDED
    * stages and project sub-stage results back to full stages. */
  def streamingFunnelTimes(spark: SparkSession, events: DataFrame,
      stages: Seq[(String, Int)], watermark: String,
      matchRetentionMs: Long = Long.MaxValue): DataFrame = {
    require(stages.nonEmpty && stages.forall(_._2 >= 1),
      "need stages with counts >= 1")
    val expanded = stages.flatMap { case (t, n) => Seq.fill(n)(t) }
    val bounds = stages.map(_._2).scanLeft(0)(_ + _).tail
    val raw = streamingFunnel(spark, events, expanded, watermark,
      matchRetentionMs).toDF()
    val full = bounds.map(b => when(col("stage_reached") >= b, 1)
      .otherwise(0)).reduce(_ + _)
    raw.select(col("user_id") +: full.as("stage_reached") +:
      stages.indices.map(j =>
        when(size(col("witness_us")) >= bounds(j),
          element_at(col("witness_us"), bounds(j))).as(s"ts${j + 1}_us")): _*)
  }

  final case class FunnelLoopState(s: Int, c: Seq[Long], l: Seq[Long],
      pending: Seq[(Long, Long, String)], completionUs: Long)
  final case class FunnelLoopUpdate(user_id: Long, stage_reached: Int,
      reps: Seq[Long], last_us: Seq[Long])

  /**
   * Streaming LOOPING-quantifier funnel — [[graft.operators.Funnel
   * .funnelLoop]]'s twin (CEP `oneOrMore`/`timesOrMore` with greedy
   * repetition). The times(n) trick (compose with the expanded
   * [[streamingFunnel]]) does not carry over: the loop counters are
   * NOT a projection of the expanded witnesses, so this runs the
   * batch fold's state machine directly — per-user state is the
   * expanded-list spine pointer plus the per-stage (count, last-time)
   * loop slots and the event-time pending buffer; mature events fold
   * in (event-time, event_id) order behind the watermark, exactly the
   * family's buffer discipline.
   *
   * The LAST stage's loop never closes (batch absorbs to end of log),
   * so a "completed" funnel keeps absorbing its type's mature events
   * instead of freezing — state stays O(K) (the buffer keeps only
   * last-stage-type events once the spine is complete), and with the
   * default infinite retention the final emission equals the batch
   * operator over the same rows (spec contract). A finite
   * `matchRetentionMs` frees the entry at completion + retention —
   * trailing absorptions after that are dropped with the tombstone
   * (the documented TTL trade, as across the family). Emission:
   * delta-style on the full observable (stage, counts, last-times),
   * retained-entry first-sight rule as [[updateFunnel]].
   */
  def updateFunnelLoop(stages: IndexedSeq[(String, Int)],
      matchRetentionMs: Long = Long.MaxValue,
      caps: Option[IndexedSeq[Int]] = None)
      : (Long, Iterator[FunnelEvent], GroupState[FunnelLoopState]) =>
        Iterator[FunnelLoopUpdate] = {
    // everything derivable from `stages` is computed ONCE here, not
    // per user per micro-batch (the family's precompute discipline)
    val k = stages.length
    val expanded = stages.flatMap { case (t, n) => Seq.fill(n)(t) }
    val kx = expanded.length
    val bounds = stages.map(_._2).scanLeft(0)(_ + _).tail
    def stageOf(s: Int): Int = bounds.count(_ <= s)
    (userId: Long, rows: Iterator[FunnelEvent],
        state: GroupState[FunnelLoopState]) => {
    val first = state.getOption.isEmpty
    val prev = state.getOption.getOrElse(FunnelLoopState(0,
      Seq.fill(k)(0L), Seq.fill(k)(NoStart), Nil, 0L))
    // a timeout on a COMPLETE spine is the retention cleanup ONLY when
    // nothing is buffered (with pending events the set timer was the
    // pending-flush timer — fall through and fold the matured buffer,
    // else trailing absorptions are lost and the tombstone dropped)
    if (stageOf(prev.s) == k && state.hasTimedOut && prev.pending.isEmpty) {
      state.remove()
      Iterator.empty
    } else {
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val all = prev.pending ++ rows.map(e => (e.usMicros, e.eventId, e.tp))
    val (mature, immature) = all.partition(_._1 <= wmUs)
    var s = prev.s
    val c = prev.c.toArray
    val l = prev.l.toArray
    var comp = prev.completionUs
    mature.sortBy(e => (e._1, e._2)).foreach { case (us, _, tp) =>
      if (s < kx && tp == expanded(s)) {
        s += 1
        val j = bounds.indexWhere(_ >= s)
        c(j) += 1; l(j) = us
        if (comp == 0L && s == kx) comp = us
      } else {
        val j = bounds.indexOf(s)
        // times(m, n): absorb only below the stage's cap (None = ∞)
        if (j >= 0 && tp == stages(j)._1 &&
            caps.forall(cs => c(j) < cs(j))) { c(j) += 1; l(j) = us }
      }
    }
    val complete = s == kx
    // a complete spine can only absorb last-stage-type events — the
    // rest of the buffer is dead weight (and nothing at all once the
    // last stage's loop is capped out)
    val rest =
      if (complete) immature.filter(e => e._3 == stages(k - 1)._1 &&
        caps.forall(cs => c(k - 1) < cs(k - 1)))
      else immature
    val removable = s == 0 && rest.isEmpty
    if (removable) {
      if (!first) state.remove()
    } else {
      state.update(FunnelLoopState(s, c.toSeq, l.toSeq, rest, comp))
      if (rest.nonEmpty)
        state.setTimeoutTimestamp(rest.map(_._1).min / 1000L + 1L)
      else if (complete && matchRetentionMs != Long.MaxValue && comp > 0)
        state.setTimeoutTimestamp(math.max(
          comp / 1000L + matchRetentionMs,
          state.getCurrentWatermarkMs() + 1L))
    }
    def obs(sv: Int, cv: Seq[Long], lv: Seq[Long]) =
      (stageOf(sv), cv, lv.filter(_ != NoStart))
    val out = obs(s, c.toSeq, l.toSeq)
    if ((first && !removable) || out != obs(prev.s, prev.c, prev.l))
      Iterator(FunnelLoopUpdate(userId, out._1, out._2, out._3))
    else Iterator.empty
    }
    }
  }

  /** The streaming looping-quantifier funnel over an events stream —
    * the [[streamingFunnel]] plumbing with [[updateFunnelLoop]]'s
    * state machine; [[graft.operators.Funnel.funnelLoop]]'s streaming
    * twin, `mode` included. Reluctant reuses the batch reduction
    * verbatim: the minimal loop is the bounded quantifier at its floor
    * (`times(m, m)`), so the reluctant stream IS
    * [[streamingFunnelTimesRange]] with cap = minReps — no third state
    * machine. */
  def streamingFunnelLoop(spark: SparkSession, events: DataFrame,
      stages: Seq[(String, Int)], watermark: String,
      matchRetentionMs: Long = Long.MaxValue,
      mode: graft.operators.Funnel.ConsumeMode =
        graft.operators.Funnel.Greedy): Dataset[FunnelLoopUpdate] = {
    import spark.implicits._
    graft.operators.Funnel.loopRequire(stages)
    if (mode == graft.operators.Funnel.Reluctant)
      streamingFunnelTimesRange(spark, events,
        stages.map { case (t, m) => (t, m, m) }, watermark,
        matchRetentionMs)
    else events
      .withWatermark("ts", watermark)
      .select(col("user_id"), unix_micros(col("ts")).as("usMicros"),
        col("event_id").as("eventId"), col("event_type").as("tp"), col("ts"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(
        updateFunnelLoop(stages.toIndexedSeq, matchRetentionMs))
  }

  final case class FunnelConsecState(j: Int, open: Boolean, c: Seq[Long],
      l: Seq[Long], pending: Seq[(Long, Long, String)])

  /**
   * Streaming CONSECUTIVE-loop funnel —
   * [[graft.operators.Funnel.funnelLoopConsecutive]]'s twin (CEP
   * `oneOrMore.consecutive()`): per-user state is the run machine
   * (stage pointer, open-loop bit, per-stage count/last-time) plus the
   * event-time pending buffer; mature events fold in watermark order,
   * which preserves run ADJACENCY across flushes for the same reason
   * the contiguity NFA's does — maturity is a prefix of the event-time
   * total order, so "immediately consecutive" means the same thing
   * batch and streamed. Late events are dropped (a late event inside
   * a run would break it retroactively — the family's best-effort
   * lateness contract). A machine past its last stage (`j > K`) is
   * final: the buffer drops; an open LAST loop keeps the full buffer
   * (the next event either absorbs or permanently closes, and the
   * close silently changes future absorption). Emission: delta-style
   * on the observable (stage_reached, counts, last-times).
   */
  def updateFunnelConsecutive(stages: IndexedSeq[(String, Int)],
      reluctant: Boolean = false)(
      userId: Long, rows: Iterator[FunnelEvent],
      state: GroupState[FunnelConsecState]): Iterator[FunnelLoopUpdate] = {
    val types = stages.map(_._1)
    val m = stages.map(_._2)
    val k = stages.length
    val first = state.getOption.isEmpty
    val prev = state.getOption.getOrElse(FunnelConsecState(1, false,
      Seq.fill(k)(0L), Seq.fill(k)(NoStart), Nil))
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val all = prev.pending ++ rows.map(e => (e.usMicros, e.eventId, e.tp))
    val (mature, immature) = all.partition(_._1 <= wmUs)
    var j = prev.j
    var open = prev.open
    val c = prev.c.toArray
    val l = prev.l.toArray
    mature.sortBy(e => (e._1, e._2)).foreach { case (us, _, tp) =>
      if (j <= k) {
        if (open) {
          // reluctant consume mode: the open loop never absorbs — the
          // batch fold's dead absorb branch (consecStep's `absorb =
          // st`); the run machine and close/start transitions are
          // mode-independent
          if (tp == types(j - 1)) {
            if (!reluctant) { c(j - 1) += 1; l(j - 1) = us }
          } else {
            j += 1
            open = false
            if (j <= k && tp == types(j - 1)) {
              c(j - 1) = 1; l(j - 1) = us; open = m(j - 1) == 1
            }
          }
        } else {
          if (tp == types(j - 1)) {
            c(j - 1) += 1; l(j - 1) = us
            if (c(j - 1) == m(j - 1)) open = true
          } else { c(j - 1) = 0; l(j - 1) = NoStart }
        }
      }
    }
    // a reluctant machine with the LAST stage's block complete is
    // observationally final even while the loop is formally open: the
    // open loop never absorbs and a breaker only moves j past k with
    // c/l untouched — so the buffer is dead weight and drops
    val rest =
      if (j > k || (reluctant && j == k && open)) Nil else immature
    val removable = j == 1 && !open && c.forall(_ == 0L) && rest.isEmpty
    if (removable) {
      if (!first) state.remove()
    } else {
      state.update(FunnelConsecState(j, open, c.toSeq, l.toSeq, rest))
      if (rest.nonEmpty)
        state.setTimeoutTimestamp(rest.map(_._1).min / 1000L + 1L)
    }
    def obs(jv: Int, ov: Boolean, cv: Seq[Long], lv: Seq[Long]) =
      (jv - 1 + (if (ov) 1 else 0), cv, lv.filter(_ != NoStart))
    val out = obs(j, open, c.toSeq, l.toSeq)
    if ((first && !removable) || out != obs(prev.j, prev.open, prev.c, prev.l))
      Iterator(FunnelLoopUpdate(userId, out._1, out._2, out._3))
    else Iterator.empty
  }

  /** The streaming consecutive-loop funnel over an events stream — the
    * [[streamingFunnel]] plumbing with [[updateFunnelConsecutive]]'s
    * run machine; [[graft.operators.Funnel.funnelLoopConsecutive]]'s
    * streaming twin, `mode` included: reluctant is one dead absorb
    * branch in the open phase, run machine and spine mode-independent. */
  def streamingFunnelConsecutive(spark: SparkSession, events: DataFrame,
      stages: Seq[(String, Int)], watermark: String,
      mode: graft.operators.Funnel.ConsumeMode =
        graft.operators.Funnel.Greedy): Dataset[FunnelLoopUpdate] = {
    import spark.implicits._
    graft.operators.Funnel.loopRequire(stages)
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), unix_micros(col("ts")).as("usMicros"),
        col("event_id").as("eventId"), col("event_type").as("tp"), col("ts"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(
        updateFunnelConsecutive(stages.toIndexedSeq,
          reluctant = mode == graft.operators.Funnel.Reluctant))
  }

  final case class FunnelLoopUntilState(s: Int, c: Seq[Long], l: Seq[Long],
      x: Boolean, pending: Seq[(Long, Long, String)], completionUs: Long)

  /**
   * Streaming loop funnel WITH Flink's `until` boundary —
   * [[graft.operators.Funnel.funnelLoopUntil]]'s twin. State adds one
   * boolean to the loop machine: the CURRENT stage's repetition is
   * closed (set by the stage's until event, cleared on crossing into
   * a new stage). Three terminal shapes instead of one:
   *   - complete spine, last loop open — keeps absorbing last-stage
   *     events AND watching for the last stage's until type (closing
   *     the loop changes FUTURE observables, so both stay buffered);
   *   - complete spine, last loop closed — fully final, buffer drops;
   *   - STALLED (closed during a mandatory block) — frozen forever,
   *     buffer drops, and the entry is a tombstone even at stage 0
   *     (dropping a stage-0 stall would forget that the pattern can
   *     never start — the one case where an "empty-looking" entry is
   *     informationally LOADED). Retention TTL applies to completed
   *     funnels only; stalled tombstones live for the stream's life.
   */
  def updateFunnelLoopUntil(
      stages: IndexedSeq[(String, Int, Option[String])],
      matchRetentionMs: Long = Long.MaxValue,
      reluctant: Boolean = false)
      : (Long, Iterator[FunnelEvent], GroupState[FunnelLoopUntilState]) =>
        Iterator[FunnelLoopUpdate] = {
    val mst = stages.map { case (t, m, _) => (t, m) }
    val k = stages.length
    val expanded = mst.flatMap { case (t, n) => Seq.fill(n)(t) }
    val kx = expanded.length
    val bounds = mst.map(_._2).scanLeft(0)(_ + _).tail
    val subOf = mst.zipWithIndex.flatMap { case ((_, n), j) =>
      Seq.fill(n)(j + 1) }
    val loopOf = (0 to kx).map(s => bounds.indexOf(s) + 1)
    val curOf = (0 to kx).map(s => if (loopOf(s) > 0) loopOf(s) else subOf(s))
    def stageOf(s: Int): Int = bounds.count(_ <= s)
    (userId: Long, rows: Iterator[FunnelEvent],
        state: GroupState[FunnelLoopUntilState]) => {
    val first = state.getOption.isEmpty
    val prev = state.getOption.getOrElse(FunnelLoopUntilState(0,
      Seq.fill(k)(0L), Seq.fill(k)(NoStart), x = false, Nil, 0L))
    if (stageOf(prev.s) == k && state.hasTimedOut && prev.pending.isEmpty) {
      state.remove()
      Iterator.empty
    } else {
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val all = prev.pending ++ rows.map(e => (e.usMicros, e.eventId, e.tp))
    val (mature, immature) = all.partition(_._1 <= wmUs)
    var s = prev.s
    var x = prev.x
    val c = prev.c.toArray
    val l = prev.l.toArray
    var comp = prev.completionUs
    mature.sortBy(e => (e._1, e._2)).foreach { case (us, _, tp) =>
      val curJ = curOf(s)
      val advT = s < kx && tp == expanded(s)
      val jAdv = if (s < kx) subOf(s) else 0
      val adv = advT && (jAdv != curJ || !x)
      val jLoop = loopOf(s)
      // reluctant consume mode: absorption is the one dead branch —
      // the until close/stall machinery reads only the pointer and
      // the bit and is mode-independent (the batch fold's contract)
      val absorb = !reluctant && !adv && jLoop > 0 && !x &&
        tp == mst(jLoop - 1)._1
      if (adv) {
        c(jAdv - 1) += 1; l(jAdv - 1) = us; s += 1
        if (comp == 0L && s == kx) comp = us
      } else if (absorb) { c(jLoop - 1) += 1; l(jLoop - 1) = us }
      val newCurJ = curOf(s)
      if (newCurJ != curJ) x = false
      if (stages(newCurJ - 1)._3.contains(tp)) x = true
    }
    val complete = s == kx
    val frozen = x && (loopOf(s) == 0 || complete)
    val rest =
      if (frozen) Nil
      // a complete reluctant spine is observationally final: loop
      // absorption is dead and a last-stage until close only stops
      // absorption that already never happens — buffer drops
      else if (complete && reluctant) Nil
      else if (complete) immature.filter(e =>
        e._3 == mst(k - 1)._1 || stages(k - 1)._3.contains(e._3))
      else immature
    val removable = s == 0 && !x && rest.isEmpty
    if (removable) {
      if (!first) state.remove()
    } else {
      state.update(FunnelLoopUntilState(s, c.toSeq, l.toSeq, x, rest, comp))
      if (rest.nonEmpty)
        state.setTimeoutTimestamp(rest.map(_._1).min / 1000L + 1L)
      else if (complete && matchRetentionMs != Long.MaxValue && comp > 0)
        state.setTimeoutTimestamp(math.max(
          comp / 1000L + matchRetentionMs,
          state.getCurrentWatermarkMs() + 1L))
    }
    def obs(sv: Int, cv: Seq[Long], lv: Seq[Long]) =
      (stageOf(sv), cv, lv.filter(_ != NoStart))
    val out = obs(s, c.toSeq, l.toSeq)
    if ((first && !removable) || out != obs(prev.s, prev.c, prev.l))
      Iterator(FunnelLoopUpdate(userId, out._1, out._2, out._3))
    else Iterator.empty
    }
    }
  }

  /** The streaming loop-until funnel over an events stream — the
    * [[streamingFunnelLoop]] plumbing with [[updateFunnelLoopUntil]]'s
    * closed-bit state machine; [[graft.operators.Funnel.funnelLoopUntil]]'s
    * streaming twin, `mode` included: absorption is the one dead
    * branch, the until close/stall machinery (pointer + bit) is
    * mode-independent. */
  def streamingFunnelLoopUntil(spark: SparkSession, events: DataFrame,
      stages: Seq[(String, Int, Option[String])], watermark: String,
      matchRetentionMs: Long = Long.MaxValue,
      mode: graft.operators.Funnel.ConsumeMode =
        graft.operators.Funnel.Greedy): Dataset[FunnelLoopUpdate] = {
    import spark.implicits._
    graft.operators.Funnel.untilRequire(stages)
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), unix_micros(col("ts")).as("usMicros"),
        col("event_id").as("eventId"), col("event_type").as("tp"), col("ts"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(
        updateFunnelLoopUntil(stages.toIndexedSeq, matchRetentionMs,
          reluctant = mode == graft.operators.Funnel.Reluctant))
  }

  /** The streaming BOUNDED quantifier times(m, n) — the
    * [[streamingFunnelLoop]] plumbing with the absorb cap threaded
    * into [[updateFunnelLoop]] (one extra comparison in the state
    * machine; pointer and spine untouched, the
    * [[graft.operators.Funnel.funnelTimesRange]] contract). */
  def streamingFunnelTimesRange(spark: SparkSession, events: DataFrame,
      stages: Seq[(String, Int, Int)], watermark: String,
      matchRetentionMs: Long = Long.MaxValue): Dataset[FunnelLoopUpdate] = {
    import spark.implicits._
    graft.operators.Funnel.rangeRequire(stages)
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), unix_micros(col("ts")).as("usMicros"),
        col("event_id").as("eventId"), col("event_type").as("tp"), col("ts"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(
        updateFunnelLoop(stages.map { case (t, m, _) => (t, m) }.toIndexedSeq,
          matchRetentionMs, Some(stages.map(_._3).toIndexedSeq)))
  }

  /** The streaming funnel over an events stream (`user_id`, `event_id`,
    * `ts`, `event_type`). `watermark` is the allowed lateness — and
    * therefore the event-time reordering window the buffer absorbs. */
  def streamingFunnel(spark: SparkSession, events: DataFrame,
      stages: Seq[String], watermark: String,
      matchRetentionMs: Long = Long.MaxValue): Dataset[FunnelUpdate] = {
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      // the watermarked ts column must SURVIVE the projection — the
      // unsupported-operation checker requires a watermark-tagged
      // event-time column in the stateful operator's child
      .select(col("user_id"), unix_micros(col("ts")).as("usMicros"),
        col("event_id").as("eventId"), col("event_type").as("tp"), col("ts"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(
        updateFunnel(stages.toIndexedSeq, matchRetentionMs))
  }

  // -------------------------------------------------------------------
  // Streaming contiguity NFA (funnelPattern's twin) + match enumeration
  // (funnelMulti's twin)
  // -------------------------------------------------------------------

  /** `ts` slots use [[NoStart]] as the unset sentinel (state encoders
    * carry plain longs). */
  final case class FunnelPatternState(l: Seq[Boolean], o: Seq[Boolean],
      ts: Seq[Long], pending: Seq[(Long, Long, String)], completionUs: Long)
  final case class FunnelPatternUpdate(user_id: Long, stage_reached: Int,
      ts_us: Seq[Option[Long]])

  /**
   * Streaming contiguity funnel —
   * [[graft.operators.Funnel.funnelPattern]]'s twin (CEP `next` /
   * `notNext` / `optional`). Per-user state is the l/o NFA (chains
   * ending at the immediately previous event vs earlier) plus the
   * family's event-time pending buffer; mature events fold in
   * watermark order, which preserves IMMEDIATE-successor adjacency
   * across flushes (the fold's `l` bits always refer to the last
   * FOLDED event, and maturity is a prefix of the event-time order).
   * Emission on any (stage_reached, ts vector) change — unlike the
   * plain funnel, a pattern with an optional stage can stamp that
   * stage's first actual match AFTER the prefix is already satisfied,
   * so completion here means reached == k AND every ts slot set; only
   * then does the buffer drop and the retention tombstone start. Late
   * events (behind the watermark) are dropped — if a late event sat
   * between two folded events, batch adjacency would differ: the same
   * best-effort lateness contract as the rest of the family, here
   * extended to contiguity.
   */
  def updateFunnelPattern(
      stages: IndexedSeq[graft.operators.Funnel.PatternStage],
      matchRetentionMs: Long = Long.MaxValue)(
      userId: Long, rows: Iterator[FunnelEvent],
      state: GroupState[FunnelPatternState]): Iterator[FunnelPatternUpdate] = {
    val k = stages.length
    val first = state.getOption.isEmpty
    val prev = state.getOption.getOrElse(FunnelPatternState(
      Seq.fill(k)(false), Seq.fill(k)(false), Seq.fill(k)(NoStart), Nil, 0L))
    def reached(ts: Seq[Long]): Int = {
      def sat(j: Int): Boolean =
        j == 0 || ts(j - 1) != NoStart ||
          (stages(j - 1).optional && sat(j - 1))
      (1 to k).count(sat)
    }
    def isFinal(ts: Seq[Long]): Boolean = ts.forall(_ != NoStart)
    // reachable only via the finite-retention timer (GroupState
    // clears an un-renewed timeout on every invocation)
    if (isFinal(prev.ts) && state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val all = prev.pending ++ rows.map(e => (e.usMicros, e.eventId, e.tp))
    val (mature, immature) = all.partition(_._1 <= wmUs)
    val l = prev.l.toArray
    val o = prev.o.toArray
    val ts = prev.ts.toArray
    var comp = prev.completionUs
    mature.sortBy(e => (e._1, e._2)).foreach { case (us, _, tp) =>
      val preL = l.clone()
      val preO = o.clone()
      def effLast(j: Int): Boolean =
        if (j == 0) true
        else if (stages(j - 1).optional) preL(j - 1) || effLast(j - 1)
        else preL(j - 1)
      def effAny(j: Int): Boolean =
        if (j == 0) true
        else if (stages(j - 1).optional)
          preL(j - 1) || preO(j - 1) || effAny(j - 1)
        else preL(j - 1) || preO(j - 1)
      var j = 1
      while (j <= k) {
        val st = stages(j - 1)
        val adv = tp == st.tp &&
          (j == 1 || (if (st.strict) effLast(j - 1) else effAny(j - 1)))
        l(j - 1) = adv
        o(j - 1) = preO(j - 1) ||
          (preL(j - 1) && !st.notNextAfter.contains(tp))
        if (adv && ts(j - 1) == NoStart) ts(j - 1) = us
        j += 1
      }
      if (comp == 0L && isFinal(ts.toSeq)) comp = us
    }
    val rest = if (isFinal(ts.toSeq)) Nil else immature
    val removable = !l.exists(identity) && !o.exists(identity) &&
      ts.forall(_ == NoStart) && rest.isEmpty
    if (removable) {
      if (!first) state.remove()
    } else {
      state.update(FunnelPatternState(l.toSeq, o.toSeq, ts.toSeq, rest, comp))
      if (rest.nonEmpty)
        state.setTimeoutTimestamp(rest.map(_._1).min / 1000L + 1L)
      else if (isFinal(ts.toSeq) && matchRetentionMs != Long.MaxValue &&
          comp > 0)
        state.setTimeoutTimestamp(math.max(
          comp / 1000L + matchRetentionMs,
          state.getCurrentWatermarkMs() + 1L))
    }
    val out = FunnelPatternUpdate(userId, reached(ts.toSeq),
      ts.toSeq.map(v => if (v == NoStart) None else Some(v)))
    if ((first && !removable) ||
        reached(ts.toSeq) != reached(prev.ts) || ts.toSeq != prev.ts)
      Iterator(out)
    else Iterator.empty
  }

  /** The streaming contiguity funnel over an events stream — the
    * [[streamingFunnel]] plumbing with [[updateFunnelPattern]]'s l/o
    * NFA state. */
  def streamingFunnelPattern(spark: SparkSession, events: DataFrame,
      stages: Seq[graft.operators.Funnel.PatternStage], watermark: String,
      matchRetentionMs: Long = Long.MaxValue): Dataset[FunnelPatternUpdate] = {
    import spark.implicits._
    graft.operators.Funnel.patternRequire(stages)
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), unix_micros(col("ts")).as("usMicros"),
        col("event_id").as("eventId"), col("event_type").as("tp"), col("ts"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(
        updateFunnelPattern(stages.toIndexedSeq, matchRetentionMs))
  }

  /** Streaming GROUP pattern — [[graft.operators.Funnel
    * .funnelGroupTimes]]'s twin: the batch reduction (group
    * quantifier ≡ [[graft.operators.Funnel.groupExpand]]'s stage-list
    * expansion with relaxed-or-consecutive seams) composes with
    * [[streamingFunnelPattern]] unchanged — run the stream over the
    * EXPANDED stages and project the flat observables back to
    * repetitions (`reps_completed` = satisfiable prefix in whole
    * copies; per-copy first-match times `ts_r<r>_s<i>_us`). */
  def streamingFunnelGroupTimes(spark: SparkSession, events: DataFrame,
      group: Seq[graft.operators.Funnel.PatternStage], times: Int,
      watermark: String, consecutiveSeams: Boolean = false,
      matchRetentionMs: Long = Long.MaxValue): DataFrame = {
    graft.operators.Funnel.groupRequire(group, times)
    val k = group.length
    val raw = streamingFunnelPattern(spark, events,
      graft.operators.Funnel.groupExpand(group, times, consecutiveSeams),
      watermark, matchRetentionMs).toDF()
    raw.select(col("user_id") +:
      expr(s"stage_reached div $k").cast("int").as("reps_completed") +:
      (for (r <- 1 to times; i <- 1 to k) yield
        element_at(col("ts_us"), (r - 1) * k + i)
          .as(s"ts_r${r}_s${i}_us")): _*)
  }

  /** Group-loop dominance state: rep values use [[NoStart]] as the
    * −∞ sentinel (state encoders carry plain longs; every live value
    * is ≥ 0). */
  final case class FunnelGroupLoopState(bo: Long, bl: Long, l: Seq[Long],
      o: Seq[Long], pending: Seq[(Long, Long, String)])
  final case class FunnelGroupLoopUpdate(user_id: Long, reps: Long)

  /**
   * Streaming GROUP oneOrMore — [[graft.operators.Funnel
   * .funnelGroupLoop]]'s twin. The unbounded quantifier has no finite
   * stage-list expansion, so unlike [[streamingFunnelGroupTimes]]
   * this is its own state machine: the batch dominance fold
   * (max-completed-reps per (stage, l/o) slot, idle chains in
   * `bl`/`bo`) replayed over mature events in watermark order, which
   * preserves the immediate-successor adjacency `bl` and the strict
   * in-group hops rely on (the [[updateFunnelPattern]] argument).
   * There is NO final state — a loop can always extend — so there is
   * no completion tombstone either; the state the entry retains
   * forever is 2k+2 longs plus the immature buffer (the same
   * unbounded-operator contract as the batch machine's, where `reps`
   * likewise never stops growing). Emission: delta-style on `reps`.
   */
  def updateFunnelGroupLoop(
      group: IndexedSeq[graft.operators.Funnel.PatternStage],
      consecutiveSeams: Boolean, cap: Option[Long] = None)(
      userId: Long, rows: Iterator[FunnelEvent],
      state: GroupState[FunnelGroupLoopState])
      : Iterator[FunnelGroupLoopUpdate] = {
    val k = group.length
    val first = state.getOption.isEmpty
    val prev = state.getOption.getOrElse(FunnelGroupLoopState(0L, NoStart,
      Seq.fill(k)(NoStart), Seq.fill(k)(NoStart), Nil))
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val all = prev.pending ++ rows.map(e => (e.usMicros, e.eventId, e.tp))
    val (mature, immature) = all.partition(_._1 <= wmUs)
    var bo = prev.bo
    var bl = prev.bl
    val l = prev.l.toArray
    val o = prev.o.toArray
    def vmax(a: Long, b: Long): Long = if (a >= b) a else b
    mature.sortBy(e => (e._1, e._2)).foreach { case (_, _, tp) =>
      val preL = l.clone(); val preO = o.clone()
      val preBo = bo; val preBl = bl
      // the trailing SEAM guard — the batch fold's `seamKill`,
      // verbatim: at the blocker event a freshly-completed chain dies
      val preBlAlive =
        if (group.last.notNextAfter.contains(tp)) NoStart else preBl
      def effLastV(j: Int): Long =
        if (j == 0) NoStart
        else if (group(j - 1).optional) vmax(preL(j - 1), effLastV(j - 1))
        else preL(j - 1)
      def effAnyV(j: Int): Long =
        if (j == 0) NoStart
        else if (group(j - 1).optional)
          vmax(vmax(preL(j - 1), preO(j - 1)), effAnyV(j - 1))
        else vmax(preL(j - 1), preO(j - 1))
      def adv(j: Int): Long =
        if (tp != group(j - 1).tp) NoStart
        else if (j == 1) {
          if (!consecutiveSeams) vmax(preBo, preBlAlive)
          else vmax(preBlAlive, 0L)
        } else if (group(j - 1).strict) effLastV(j - 1)
        else effAnyV(j - 1)
      var j = 1
      while (j <= k) {
        l(j - 1) = adv(j)
        o(j - 1) =
          if (group(j - 1).notNextAfter.contains(tp)) preO(j - 1)
          else vmax(preO(j - 1), preL(j - 1))
        j += 1
      }
      bo = vmax(preBo, preBlAlive)
      val compBase = adv(k)
      // reluctant consume mode caps the completion step — the batch
      // fold's policy point (groupLoopStep's `cap`), verbatim
      bl = if (compBase == NoStart) NoStart
        else cap.fold(compBase + 1L)(m => math.min(compBase + 1L, m))
    }
    val reps = math.max(vmax(bo, bl), 0L)
    val prevReps = math.max(vmax(prev.bo, prev.bl), 0L)
    val untouched = bo == 0L && bl == NoStart &&
      l.forall(_ == NoStart) && o.forall(_ == NoStart)
    val removable = untouched && immature.isEmpty
    if (removable) {
      if (!first) state.remove()
    } else {
      state.update(FunnelGroupLoopState(bo, bl, l.toSeq, o.toSeq,
        immature))
      if (immature.nonEmpty)
        state.setTimeoutTimestamp(immature.map(_._1).min / 1000L + 1L)
    }
    if ((first && !removable) || reps != prevReps)
      Iterator(FunnelGroupLoopUpdate(userId, reps))
    else Iterator.empty
  }

  /** The streaming group-loop funnel over an events stream — the
    * [[streamingFunnel]] plumbing with [[updateFunnelGroupLoop]]'s
    * dominance machine; [[graft.operators.Funnel.funnelGroupLoop]]'s
    * streaming twin, `mode` included: reluctant caps the completion
    * step at `minTimes` (the SAME policy point as the batch fold), so
    * the streamed `reps` saturates at the floor while partial progress
    * below it stays observable — stream ≡ batch by construction,
    * StreamingSpec-pinned across out-of-order waves. */
  def streamingFunnelGroupLoop(spark: SparkSession, events: DataFrame,
      group: Seq[graft.operators.Funnel.PatternStage], watermark: String,
      consecutiveSeams: Boolean = false,
      mode: graft.operators.Funnel.ConsumeMode =
        graft.operators.Funnel.Greedy, minTimes: Int = 1)
      : Dataset[FunnelGroupLoopUpdate] = {
    import spark.implicits._
    graft.operators.Funnel.groupLoopRequire(group)
    require(minTimes >= 1, "need minTimes >= 1")
    val cap = mode match {
      case graft.operators.Funnel.Greedy => None
      case graft.operators.Funnel.Reluctant => Some(minTimes.toLong)
    }
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), unix_micros(col("ts")).as("usMicros"),
        col("event_id").as("eventId"), col("event_type").as("tp"), col("ts"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(
        updateFunnelGroupLoop(group.toIndexedSeq, consecutiveSeams, cap))
  }

  /** Streaming `times(m, n)` on a GROUP — [[graft.operators.Funnel
    * .funnelGroupTimesRange]]'s twin: the batch reduction is pure
    * reporting over the expansion machine, so the stream is
    * [[streamingFunnelGroupTimes]] at the ceiling plus the threshold
    * column. A TRAILING seam guard routes through
    * [[streamingFunnelGroupTimesRangeGuarded]] — the batch routing
    * mirrored, same guarded report shape (counts, no per-copy
    * timestamps). `matchRetentionMs` applies ONLY to the expansion
    * route: the guarded dominance machine holds a rep COUNT, never
    * materialized matches, so there is nothing to retain and the
    * setting is inapplicable (ignored, not an error — the guard is a
    * property of the pattern, and failing on an orthogonal tuning
    * knob would make routing observable as a crash). */
  def streamingFunnelGroupTimesRange(spark: SparkSession,
      events: DataFrame, group: Seq[graft.operators.Funnel.PatternStage],
      minTimes: Int, maxTimes: Int, watermark: String,
      consecutiveSeams: Boolean = false,
      matchRetentionMs: Long = Long.MaxValue): DataFrame = {
    require(minTimes >= 1 && maxTimes >= minTimes,
      "need 1 <= minTimes <= maxTimes")
    if (group.nonEmpty && group.last.notNextAfter.nonEmpty)
      streamingFunnelGroupTimesRangeGuarded(spark, events, group,
        minTimes, maxTimes, watermark, consecutiveSeams)
    else streamingFunnelGroupTimes(spark, events, group, maxTimes,
        watermark, consecutiveSeams, matchRetentionMs)
      .withColumn("matched", col("reps_completed") >= minTimes)
      .select(Seq(col("user_id"), col("reps_completed"),
        col("matched")) ++
        (for (r <- 1 to maxTimes; i <- 1 to group.length)
          yield col(s"ts_r${r}_s${i}_us")): _*)
  }

  /** Streaming twin of the GUARDED bounded range ([[graft.operators
    * .Funnel.funnelGroupTimesRange]] with a trailing seam guard) — the
    * batch composition
    * verbatim: the CAPPED streaming dominance machine at cap =
    * `maxTimes` (the loop state machine carries the trailing seam
    * kill and the completion-step saturation) plus the threshold
    * report. Output `(user_id, reps_completed, matched)` — stream ≡
    * batch across out-of-order waves, StreamingSpec-pinned. */
  def streamingFunnelGroupTimesRangeGuarded(spark: SparkSession,
      events: DataFrame, group: Seq[graft.operators.Funnel.PatternStage],
      minTimes: Int, maxTimes: Int, watermark: String,
      consecutiveSeams: Boolean = false): DataFrame = {
    require(minTimes >= 1 && maxTimes >= minTimes,
      "need 1 <= minTimes <= maxTimes")
    streamingFunnelGroupLoop(spark, events, group, watermark,
        consecutiveSeams, graft.operators.Funnel.Reluctant,
        minTimes = maxTimes)
      .select(col("user_id"),
        col("reps").cast("int").as("reps_completed"),
        (col("reps") >= lit(minTimes.toLong)).as("matched"))
  }

  /** Streaming `timesOrMore(n)` on a GROUP — [[graft.operators.Funnel
    * .funnelGroupTimesOrMore]]'s twin: the dominance machine plus the
    * threshold column; `mode = Reluctant` caps `reps` at the floor
    * exactly as the batch side. */
  def streamingFunnelGroupTimesOrMore(spark: SparkSession,
      events: DataFrame, group: Seq[graft.operators.Funnel.PatternStage],
      minTimes: Int, watermark: String,
      consecutiveSeams: Boolean = false,
      mode: graft.operators.Funnel.ConsumeMode =
        graft.operators.Funnel.Greedy): DataFrame = {
    require(minTimes >= 1, "need minTimes >= 1")
    streamingFunnelGroupLoop(spark, events, group, watermark,
        consecutiveSeams, mode, minTimes)
      .withColumn("matched", col("reps") >= minTimes)
  }

  /** [[FunnelEvent]] with the stage-condition VALUE (integer
    * fixed-point, the caller's conversion) — the iterative-condition
    * twin's event shape. */
  final case class FunnelValueEvent(user_id: Long, usMicros: Long,
      eventId: Long, tp: String, v: Long, ts: java.sql.Timestamp)
  /** `d` is valid exactly where `ts != NoStart` (the set flags
    * coincide: both are first written by the same advance). */
  final case class FunnelIterState(d: Seq[Long], ts: Seq[Long],
      pending: Seq[(Long, Long, String, Long)])
  final case class FunnelIterUpdate(user_id: Long, stage_reached: Int,
      ts_us: Seq[Option[Long]])

  /**
   * Streaming ITERATIVE-condition funnel —
   * [[graft.operators.Funnel.funnelIterative]]'s twin: per-user state
   * is the min-anchor dominance vector (`d[j]` = minimal anchor among
   * chains completing stage j, lossless under the `num >= 0`
   * monotonicity contract — the batch fold's argument verbatim) plus
   * the family's event-time pending buffer; mature events fold in
   * watermark order with the pre-state rule. Emission on any ts-slot
   * change (stage progress; `d`-only improvements move no
   * observable). The ts slots fill strictly in stage order, so
   * completion is `reached == k`; completed funnels drop their buffer
   * and tombstone with the family's optional retention TTL. Late
   * events drop — best-effort lateness, as everywhere in the family.
   */
  def updateFunnelIterative(
      stages: IndexedSeq[graft.operators.Funnel.IterStage],
      anchorFirst: Boolean, matchRetentionMs: Long = Long.MaxValue)(
      userId: Long, rows: Iterator[FunnelValueEvent],
      state: GroupState[FunnelIterState]): Iterator[FunnelIterUpdate] = {
    val k = stages.length
    val first = state.getOption.isEmpty
    val prev = state.getOption.getOrElse(
      FunnelIterState(Seq.fill(k)(0L), Seq.fill(k)(NoStart), Nil))
    def reached(ts: Seq[Long]): Int = ts.count(_ != NoStart)
    if (reached(prev.ts) == k && state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val all = prev.pending ++ rows.map(e => (e.usMicros, e.eventId, e.tp, e.v))
    val (mature, immature) = all.partition(_._1 <= wmUs)
    val d = prev.d.toArray
    val ts = prev.ts.toArray
    mature.sortBy(e => (e._1, e._2)).foreach { case (us, _, tp, v) =>
      // descending stage order = the pre-state rule with zero
      // allocations (stage j reads only slot j-1, not yet written)
      var j = k - 1
      while (j >= 0) {
        val passes = tp == stages(j).tp && (j == 0 ||
          (ts(j - 1) != NoStart && (stages(j).cond match {
            case Some(graft.operators.Funnel.RelGt(num, den)) =>
              v * den > d(j - 1) * num
            case None => true
          })))
        if (passes) {
          val cand = if (j == 0 || !anchorFirst) v else d(j - 1)
          d(j) = if (ts(j) != NoStart) math.min(d(j), cand) else cand
          if (ts(j) == NoStart) ts(j) = us
        }
        j -= 1
      }
    }
    val done = reached(ts.toSeq) == k
    val rest = if (done) Nil else immature
    val removable = ts.forall(_ == NoStart) && rest.isEmpty
    if (removable) {
      if (!first) state.remove()
    } else {
      state.update(FunnelIterState(d.toSeq, ts.toSeq, rest))
      if (rest.nonEmpty)
        state.setTimeoutTimestamp(rest.map(_._1).min / 1000L + 1L)
      else if (done && matchRetentionMs != Long.MaxValue)
        state.setTimeoutTimestamp(math.max(
          ts(k - 1) / 1000L + matchRetentionMs,
          state.getCurrentWatermarkMs() + 1L))
    }
    if ((first && !removable) || ts.toSeq != prev.ts)
      Iterator(FunnelIterUpdate(userId, reached(ts.toSeq),
        ts.toSeq.map(x => if (x == NoStart) None else Some(x))))
    else Iterator.empty
  }

  /** The streaming iterative-condition funnel over an events stream —
    * the [[streamingFunnel]] plumbing with [[updateFunnelIterative]]'s
    * dominance state; `valCol` must already be integer fixed-point
    * (the batch operator's contract). */
  def streamingFunnelIterative(spark: SparkSession, events: DataFrame,
      valCol: String, stages: Seq[graft.operators.Funnel.IterStage],
      anchor: graft.operators.Funnel.IterAnchor, watermark: String,
      matchRetentionMs: Long = Long.MaxValue): Dataset[FunnelIterUpdate] = {
    import spark.implicits._
    graft.operators.Funnel.iterRequire(stages)
    events
      .withWatermark("ts", watermark)
      // iterVal raises LOUDLY on a NULL value — the typed encoder
      // would otherwise fail opaquely and the batch twins would
      // diverge (the shared non-null contract)
      .select(col("user_id"), unix_micros(col("ts")).as("usMicros"),
        col("event_id").as("eventId"), col("event_type").as("tp"),
        graft.operators.Funnel.iterVal(valCol).as("v"), col("ts"))
      .as[FunnelValueEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(
        updateFunnelIterative(stages.toIndexedSeq,
          anchor == graft.operators.Funnel.AnchorFirst, matchRetentionMs))
  }

  /** State of the PREDICATE funnel twin — the greedy pointer +
    * witnesses, with the pending buffer carrying the value the
    * predicates read. */
  final case class FunnelWhereState(stage: Int, witnessUs: Seq[Long],
      pending: Seq[(Long, Long, String, Long)])

  /**
   * Streaming PREDICATE funnel —
   * [[graft.operators.Funnel.funnelWhere]]'s twin for per-stage
   * SIMPLE conditions (Flink `where(SimpleCondition)` / `subtype`):
   * stage j advances on the first mature event satisfying an
   * arbitrary SERIALIZABLE predicate over (event type, value) — the
   * streaming surface trades the batch side's Column predicates for
   * Scala functions of the standard [[FunnelValueEvent]] fields,
   * since a closure must ship to the state store where a Column
   * cannot. Same watermark-buffer, emission and retention discipline
   * as [[updateFunnel]] (greedy pointer + witnesses; conditions are
   * event-local, so greedy-earliest stays exact).
   */
  def updateFunnelWhere(stages: IndexedSeq[(String, Long) => Boolean],
      matchRetentionMs: Long = Long.MaxValue)(
      userId: Long, rows: Iterator[FunnelValueEvent],
      state: GroupState[FunnelWhereState]): Iterator[FunnelUpdate] = {
    val k = stages.length
    val first = state.getOption.isEmpty
    val prev = state.getOption.getOrElse(FunnelWhereState(0, Nil, Nil))
    if (prev.stage == k && state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val all = prev.pending ++ rows.map(e => (e.usMicros, e.eventId, e.tp, e.v))
    val (mature, immature) = all.partition(_._1 <= wmUs)
    var stage = prev.stage
    var wit = prev.witnessUs
    mature.sortBy(e => (e._1, e._2)).foreach { case (us, _, tp, v) =>
      if (stage < k && stages(stage)(tp, v)) { wit = wit :+ us; stage += 1 }
    }
    val rest = if (stage == k) Nil else immature
    val removable = stage == 0 && wit.isEmpty && rest.isEmpty
    if (removable) {
      if (!first) state.remove()
    } else {
      state.update(FunnelWhereState(stage, wit, rest))
      if (rest.nonEmpty)
        state.setTimeoutTimestamp(rest.map(_._1).min / 1000L + 1L)
      else if (stage == k && matchRetentionMs != Long.MaxValue)
        state.setTimeoutTimestamp(math.max(
          wit.last / 1000L + matchRetentionMs,
          state.getCurrentWatermarkMs() + 1L))
    }
    if ((first && !removable) || stage != prev.stage)
      Iterator(FunnelUpdate(userId, stage, wit))
    else Iterator.empty
  }

  /** The streaming predicate funnel over an events stream — the
    * [[streamingFunnel]] plumbing with [[updateFunnelWhere]]'s
    * pointer; `valCol` is the one carried value column (integer
    * domain, the batch contract). NULL (or unparseable) values fail
    * LOUDLY via the family's shared non-null guard
    * ([[graft.operators.Funnel.iterVal]]) — the typed state encoder
    * cannot represent a NULL long, and a silent per-surface default
    * would diverge from the batch predicate's NULL-is-false Column
    * semantics with no signal; filter or default NULLs first. */
  def streamingFunnelWhere(spark: SparkSession, events: DataFrame,
      valCol: String, stages: Seq[(String, Long) => Boolean],
      watermark: String,
      matchRetentionMs: Long = Long.MaxValue): Dataset[FunnelUpdate] = {
    import spark.implicits._
    require(stages.nonEmpty, "need at least one stage")
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), unix_micros(col("ts")).as("usMicros"),
        col("event_id").as("eventId"), col("event_type").as("tp"),
        graft.operators.Funnel.iterVal(valCol, "streamingFunnelWhere")
          .as("v"), col("ts"))
      .as[FunnelValueEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(
        updateFunnelWhere(stages.toIndexedSeq, matchRetentionMs))
  }

  final case class FunnelAnyState(c: Seq[Long],
      pending: Seq[(Long, Long, String)])
  final case class FunnelAnyUpdate(user_id: Long, n_any: Long)

  /**
   * Streaming `followedByAny` combination COUNT —
   * [[graft.operators.Funnel.funnelAnyCount]]'s twin: per-user state
   * is the k-slot path-counting vector plus the family's event-time
   * buffer; mature events fold in watermark order with the same
   * pre-state rule (an event never extends the combinations it just
   * created). Emission on count change (monotone — it only grows).
   * A user whose vector is all-zero with nothing buffered drops
   * losslessly; an active user's state is k longs forever (the count
   * never "completes" — the same persistence contract as the match
   * enumerator).
   */
  def updateFunnelAnyCount(stages: IndexedSeq[String])(
      userId: Long, rows: Iterator[FunnelEvent],
      state: GroupState[FunnelAnyState]): Iterator[FunnelAnyUpdate] = {
    val k = stages.length
    val first = state.getOption.isEmpty
    val prev = state.getOption.getOrElse(FunnelAnyState(Seq.fill(k)(0L), Nil))
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val all = prev.pending ++ rows.map(e => (e.usMicros, e.eventId, e.tp))
    val (mature, immature) = all.partition(_._1 <= wmUs)
    val c = prev.c.toArray
    mature.sortBy(e => (e._1, e._2)).foreach { case (_, _, tp) =>
      val pre = c.clone()
      stages.indices.foreach { j =>
        if (tp == stages(j)) c(j) += (if (j == 0) 1L else pre(j - 1))
      }
    }
    val removable = c.forall(_ == 0L) && immature.isEmpty
    if (removable) {
      if (!first) state.remove()
    } else {
      state.update(FunnelAnyState(c.toSeq, immature))
      if (immature.nonEmpty)
        state.setTimeoutTimestamp(immature.map(_._1).min / 1000L + 1L)
    }
    if ((first && !removable) || c(k - 1) != prev.c(k - 1))
      Iterator(FunnelAnyUpdate(userId, c(k - 1)))
    else Iterator.empty
  }

  /**
   * Streaming `allowCombinations()` loop-stage multiplicity —
   * [[graft.operators.Funnel.funnelCombinations]]'s twin: the
   * [[updateFunnelAnyCount]] fold with the loop rule (a loop-stage
   * event also re-adds the stage's own pre-count — every existing
   * combination may absorb it), same buffer discipline, emission on
   * count change.
   */
  def updateFunnelCombinations(stages: IndexedSeq[(String, Boolean)])(
      userId: Long, rows: Iterator[FunnelEvent],
      state: GroupState[FunnelAnyState]): Iterator[FunnelAnyUpdate] = {
    val k = stages.length
    val first = state.getOption.isEmpty
    val prev = state.getOption.getOrElse(FunnelAnyState(Seq.fill(k)(0L), Nil))
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val all = prev.pending ++ rows.map(e => (e.usMicros, e.eventId, e.tp))
    val (mature, immature) = all.partition(_._1 <= wmUs)
    val c = prev.c.toArray
    mature.sortBy(e => (e._1, e._2)).foreach { case (_, _, tp) =>
      val pre = c.clone()
      stages.indices.foreach { j =>
        val (t, loop) = stages(j)
        if (tp == t)
          c(j) += (if (j == 0) 1L else pre(j - 1)) +
            (if (loop) pre(j) else 0L)
      }
    }
    val removable = c.forall(_ == 0L) && immature.isEmpty
    if (removable) {
      if (!first) state.remove()
    } else {
      state.update(FunnelAnyState(c.toSeq, immature))
      if (immature.nonEmpty)
        state.setTimeoutTimestamp(immature.map(_._1).min / 1000L + 1L)
    }
    if ((first && !removable) || c(k - 1) != prev.c(k - 1))
      Iterator(FunnelAnyUpdate(userId, c(k - 1)))
    else Iterator.empty
  }

  /** The streaming combinations counter over an events stream. */
  def streamingFunnelCombinations(spark: SparkSession, events: DataFrame,
      stages: Seq[(String, Boolean)],
      watermark: String): Dataset[FunnelAnyUpdate] = {
    import spark.implicits._
    require(stages.nonEmpty, "need at least one stage")
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), unix_micros(col("ts")).as("usMicros"),
        col("event_id").as("eventId"), col("event_type").as("tp"), col("ts"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(
        updateFunnelCombinations(stages.toIndexedSeq))
  }

  /** The streaming combination counter over an events stream — the
    * [[streamingFunnel]] plumbing with [[updateFunnelAnyCount]]'s
    * path-counting state. */
  def streamingFunnelAnyCount(spark: SparkSession, events: DataFrame,
      stages: Seq[String], watermark: String): Dataset[FunnelAnyUpdate] = {
    import spark.implicits._
    require(stages.nonEmpty, "need at least one stage")
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), unix_micros(col("ts")).as("usMicros"),
        col("event_id").as("eventId"), col("event_type").as("tp"), col("ts"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(
        updateFunnelAnyCount(stages.toIndexedSeq))
  }

  /** `partial` holds the in-progress match's witnesses (length =
    * advances mod k). */
  final case class FunnelMultiState(n: Long, partial: Seq[Long],
      pending: Seq[(Long, Long, String)])
  final case class FunnelMatchEmit(user_id: Long, match_idx: Long,
      ts_us: Seq[Long])

  /**
   * Streaming match ENUMERATION —
   * [[graft.operators.Funnel.funnelMulti]]'s twin (AFTER MATCH SKIP
   * PAST LAST EVENT): each completed non-overlapping match emits
   * exactly ONE `(user_id, match_idx, witnesses)` row at the moment
   * its last stage matures, up to `maxMatches` per user (later
   * matches still advance the counter silently, the batch cap
   * contract; the batch `n_matches` total is the stream's running
   * high-water mark and is not re-emitted per row). State is O(k)
   * forever for an active user — the pointer must persist because
   * skip-past-last matching never "completes" — plus the event-time
   * buffer; a user whose counter is 0 with nothing buffered is
   * dropped losslessly.
   */
  def updateFunnelMulti(stages: IndexedSeq[String], maxMatches: Int)(
      userId: Long, rows: Iterator[FunnelEvent],
      state: GroupState[FunnelMultiState]): Iterator[FunnelMatchEmit] = {
    val k = stages.length
    val first = state.getOption.isEmpty
    val prev = state.getOption.getOrElse(FunnelMultiState(0L, Nil, Nil))
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val all = prev.pending ++ rows.map(e => (e.usMicros, e.eventId, e.tp))
    val (mature, immature) = all.partition(_._1 <= wmUs)
    var n = prev.n
    var partial = prev.partial
    val emits = scala.collection.mutable.ArrayBuffer.empty[FunnelMatchEmit]
    mature.sortBy(e => (e._1, e._2)).foreach { case (us, _, tp) =>
      if (tp == stages((n % k).toInt)) {
        n += 1
        partial = partial :+ us
        if (partial.length == k) {
          val matchIdx = n / k
          if (matchIdx <= maxMatches)
            emits += FunnelMatchEmit(userId, matchIdx, partial)
          partial = Nil
        }
      }
    }
    val removable = n == 0L && immature.isEmpty
    if (removable) {
      if (!first) state.remove()
    } else {
      state.update(FunnelMultiState(n, partial, immature))
      if (immature.nonEmpty)
        state.setTimeoutTimestamp(immature.map(_._1).min / 1000L + 1L)
    }
    emits.iterator
  }

  /** The streaming match enumerator over an events stream — the
    * [[streamingFunnel]] plumbing with [[updateFunnelMulti]]'s
    * witness-stream state. */
  def streamingFunnelMulti(spark: SparkSession, events: DataFrame,
      stages: Seq[String], maxMatches: Int,
      watermark: String): Dataset[FunnelMatchEmit] = {
    import spark.implicits._
    require(stages.nonEmpty && maxMatches >= 1,
      "need stages and maxMatches >= 1")
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), unix_micros(col("ts")).as("usMicros"),
        col("event_id").as("eventId"), col("event_type").as("tp"), col("ts"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(
        updateFunnelMulti(stages.toIndexedSeq, maxMatches))
  }

  /** [[updateFunnelMulti]]'s state plus the ABSENCE-alarm holding pen:
    * `held` carries completed, span-fit matches `(match_idx,
    * witnesses)` whose tail window (completion, start + T] is not yet
    * fully below the watermark — a blocker maturing inside the tail
    * kills them; the window closing blocker-free emits them. */
  final case class FunnelAbsenceState(n: Long, partial: Seq[Long],
    held: Seq[(Long, Seq[Long])], pending: Seq[(Long, Long, String)])

  /**
   * Streaming ABSENCE alarm — [[graft.operators.Funnel
   * .funnelMatchesAbsence]]'s twin (Flink's trailing
   * `notFollowedBy(B).within(T)`, the one pattern shape whose match
   * can only emit on TIME — the moment the window closes without the
   * blocker — which is exactly Flink's timed-out-partial-match
   * emission). The [[updateFunnelMulti]] pointer machine enumerates
   * skip-past-last matches over the mature (watermark-ordered) event
   * stream; a completed match whose span fits the window enters the
   * holding pen instead of emitting; a mature `absentType` event at
   * time t kills every held match with completion < t ≤ start + T
   * (time comparisons, the batch contract — a blocker sharing the
   * completion's exact timestamp does not kill); once the watermark
   * passes start + T the tail is fully observed and the match emits.
   * The state requests an event-time timeout at the earliest held
   * deadline, so matches mature even when the user's stream goes
   * quiet — the ALARM fires without a further event, the absence
   * semantics' whole point. Held state is bounded by `maxMatches`;
   * `match_idx` gaps mark window-cut or blocker-killed matches
   * (batch contract; the batch `n_matches` recount is deliberately
   * absent mid-stream — StreamingSpec pins the drain-time recount
   * law instead).
   */
  def updateFunnelMatchesAbsence(stages: IndexedSeq[String],
      maxMatches: Int, windowMicros: Long, absentType: String)(
      userId: Long, rows: Iterator[FunnelEvent],
      state: GroupState[FunnelAbsenceState]): Iterator[FunnelMatchEmit] = {
    val k = stages.length
    val first = state.getOption.isEmpty
    val prev = state.getOption.getOrElse(
      FunnelAbsenceState(0L, Nil, Nil, Nil))
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val all = prev.pending ++ rows.map(e => (e.usMicros, e.eventId, e.tp))
    val (mature, immature) = all.partition(_._1 <= wmUs)
    var n = prev.n
    var partial = prev.partial
    var held = prev.held
    mature.sortBy(e => (e._1, e._2)).foreach { case (us, _, tp) =>
      if (tp == stages((n % k).toInt)) {
        n += 1
        partial = partial :+ us
        if (partial.length == k) {
          val matchIdx = n / k
          if (matchIdx <= maxMatches &&
              partial.last - partial.head <= windowMicros)
            held = held :+ ((matchIdx, partial))
          partial = Nil
        }
      }
      if (tp == absentType)
        held = held.filterNot { case (_, w) =>
          w.last < us && us <= w.head + windowMicros }
    }
    val (matured, stillHeld) = held.partition { case (_, w) =>
      w.head + windowMicros <= wmUs }
    held = stillHeld
    val removable = n == 0L && immature.isEmpty && held.isEmpty
    if (removable) {
      if (!first) state.remove()
    } else {
      state.update(FunnelAbsenceState(n, partial, held, immature))
      val wakeups = immature.map(_._1) ++
        held.map { case (_, w) => w.head + windowMicros }
      if (wakeups.nonEmpty)
        state.setTimeoutTimestamp(wakeups.min / 1000L + 1L)
    }
    matured.sortBy(_._1)
      .map { case (idx, w) => FunnelMatchEmit(userId, idx, w) }
      .iterator
  }

  /** The streaming absence alarm over an events stream — the
    * [[streamingFunnel]] plumbing with
    * [[updateFunnelMatchesAbsence]]'s holding-pen state. */
  def streamingFunnelMatchesAbsence(spark: SparkSession,
      events: DataFrame, stages: Seq[String], maxMatches: Int,
      windowMicros: Long, absentType: String,
      watermark: String): Dataset[FunnelMatchEmit] = {
    import spark.implicits._
    require(stages.nonEmpty && maxMatches >= 1 && windowMicros > 0,
      "need stages, maxMatches >= 1 and windowMicros > 0")
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), unix_micros(col("ts")).as("usMicros"),
        col("event_id").as("eventId"), col("event_type").as("tp"), col("ts"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(
        updateFunnelMatchesAbsence(stages.toIndexedSeq, maxMatches,
          windowMicros, absentType))
  }

  /** Streaming GROUP match enumeration — [[graft.operators.Funnel
    * .funnelGroupMatches]]'s twin: the batch reduction is pure
    * composition (the cyclic witness machine over the `times`-fold
    * type expansion), so the stream is [[streamingFunnelMulti]] over
    * the same expansion with the flat witnesses relabeled to
    * `ts_r<rep>_s<stage>_us`. */
  def streamingFunnelGroupMatches(spark: SparkSession, events: DataFrame,
      groupTypes: Seq[String], times: Int, maxMatches: Int,
      watermark: String): DataFrame = {
    require(groupTypes.nonEmpty && times >= 1 && maxMatches >= 1,
      "need groupTypes, times >= 1 and maxMatches >= 1")
    val k = groupTypes.length
    streamingFunnelMulti(spark, events,
        Seq.fill(times)(groupTypes).flatten, maxMatches, watermark)
      .toDF()
      .select(col("user_id") +: col("match_idx") +:
        (for (r <- 1 to times; i <- 1 to k) yield
          element_at(col("ts_us"), (r - 1) * k + i)
            .as(s"ts_r${r}_s${i}_us")): _*)
  }

  /** Streaming span-bounded group-match enumeration —
    * [[graft.operators.Funnel.funnelGroupMatchesWithin]]'s twin: the
    * canonical skip-past-last matches stream out as they mature, and
    * the whole-match span bound filters them row-by-row (the span is
    * known the moment a match completes — no extra state).
    * `match_idx` keeps its enumeration index, so a cut match leaves a
    * visible gap, exactly the batch contract; the batch side's
    * `n_matches` recount has no streaming analogue (the count is not
    * final until the stream ends) and is deliberately absent. */
  def streamingFunnelGroupMatchesWithin(spark: SparkSession,
      events: DataFrame, groupTypes: Seq[String], times: Int,
      maxMatches: Int, windowMicros: Long,
      watermark: String): DataFrame = {
    require(windowMicros > 0, "need windowMicros > 0")
    val k = groupTypes.length
    streamingFunnelGroupMatches(spark, events, groupTypes, times,
        maxMatches, watermark)
      .filter(col(s"ts_r${times}_s${k}_us") - col("ts_r1_s1_us") <=
        windowMicros)
  }

  /**
   * Streaming RANGE-quantified group absence —
   * [[graft.operators.Funnel.funnelGroupMatchesRangeAbsence]]'s twin
   * (`begin(group).times(m, n).notFollowedBy(B).within(T)`). FULL
   * (`maxTimes`-repetition) matches stream exactly like the fixed
   * form's: [[updateFunnelMatchesAbsence]]'s holding pen over the
   * `maxTimes`-fold expansion — span-fit at completion, killed by a
   * mature tail blocker, emitted on the event-time timer when the
   * watermark closes the tail — with the flat witnesses relabeled
   * `ts_r<rep>_s<stage>_us` and `reps = maxTimes`.
   *
   * THE TRAILING SHORT MATCH IS DELIBERATELY NOT STREAMED: under the
   * batch contract a short match (m ≤ reps < n repetitions) exists
   * iff the greedy chain NEVER extends to its next repetition — a
   * property of the whole remaining stream that no finite watermark
   * can certify (the extension's events may carry any future
   * timestamp; the match window bounds the span FILTER, not
   * consumption). It is a STREAM-END object, like the batch
   * `n_matches` recount the family already keeps off the stream
   * (w70's convention) — a bounded stream recovers it by running the
   * batch operator over the drained corpus, and StreamingSpec pins
   * exactly that composition law: streamed rows ≡ the batch output's
   * `reps = maxTimes` rows, and the batch remainder is only short
   * matches.
   */
  def streamingFunnelGroupMatchesRangeAbsence(spark: SparkSession,
      events: DataFrame, groupTypes: Seq[String], minTimes: Int,
      maxTimes: Int, maxMatches: Int, windowMicros: Long,
      absentType: String, watermark: String): DataFrame = {
    require(groupTypes.nonEmpty && minTimes >= 1 && maxTimes >= minTimes,
      "need groupTypes and 1 <= minTimes <= maxTimes")
    val k = groupTypes.length
    streamingFunnelMatchesAbsence(spark, events,
        Seq.fill(maxTimes)(groupTypes).flatten, maxMatches,
        windowMicros, absentType, watermark)
      .toDF()
      .select(col("user_id") +: col("match_idx") +:
        lit(maxTimes).as("reps") +:
        (for (r <- 1 to maxTimes; i <- 1 to k) yield
          element_at(col("ts_us"), (r - 1) * k + i)
            .as(s"ts_r${r}_s${i}_us")): _*)
  }

  /** Chains are flat `Seq[Long]` of interleaved (us, oid) pairs;
    * `buckets(j-1)` holds the prefixes that matched stages 1..j.
    * (mu, mo) is the running after-match-skip threshold. */
  final case class FunnelSkipState(n: Long, mu: Long, mo: Long,
      buckets: Seq[Seq[Seq[Long]]], pending: Seq[(Long, Long, String)])

  /**
   * Streaming after-match-skip enumeration —
   * [[graft.operators.Funnel.funnelSkip]]'s twin: per-user state is
   * the per-start branch NFA's buckets (all branches in a bucket
   * advance together) plus the running anchor threshold, so the
   * pruning scan happens ONLINE — each completion is checked against
   * the threshold the moment its last stage matures, which is exactly
   * the batch completion-order scan because mature events fold in
   * watermark order. Each surviving match emits exactly ONE
   * `(user_id, match_idx, witnesses)` row, up to `maxMatches` (later
   * survivors advance the counter silently, the batch cap contract).
   * Branches whose start falls behind the threshold can never emit
   * and are garbage-collected from the buckets at each flush — under
   * an anchored strategy the live state is bounded by the branches
   * started since the last emitted match's anchor (SkipToNext keeps
   * every live branch, the batch contract). A user with no branches,
   * no count and nothing buffered drops losslessly.
   */
  def updateFunnelSkip(stages: Seq[(String, Int)],
      skip: graft.operators.Funnel.SkipStrategy, maxMatches: Int)(
      userId: Long, rows: Iterator[FunnelEvent],
      state: GroupState[FunnelSkipState]): Iterator[FunnelMatchEmit] = {
    val types = graft.operators.Funnel.expandStages(stages)
    val k = types.length
    val (anchor, inclusive) = graft.operators.Funnel.skipAnchor(stages, skip)
    val first = state.getOption.isEmpty
    val prev = state.getOption.getOrElse(FunnelSkipState(0L, Long.MinValue,
      Long.MinValue, Seq.fill(k - 1)(Nil), Nil))
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val all = prev.pending ++ rows.map(e => (e.usMicros, e.eventId, e.tp))
    val (mature, immature) = all.partition(_._1 <= wmUs)
    var n = prev.n
    var mu = prev.mu
    var mo = prev.mo
    val buckets = prev.buckets.toArray
    val emits = scala.collection.mutable.ArrayBuffer.empty[FunnelMatchEmit]
    mature.sortBy(e => (e._1, e._2)).foreach { case (us, oid, tp) =>
      val pre = buckets.clone()
      (1 to k - 1).foreach { j =>
        val stay = if (tp == types(j)) Nil else pre(j - 1)
        val arrive =
          if (j == 1) { if (tp == types.head) Seq(Seq(us, oid)) else Nil }
          else if (tp == types(j - 1)) pre(j - 2).map(_ :+ us :+ oid)
          else Nil
        buckets(j - 1) = stay ++ arrive
      }
      val completions =
        if (tp == types(k - 1)) pre(k - 2).map(_ :+ us :+ oid) else Nil
      completions.foreach { c =>
        val (su, so) = (c(0), c(1))
        val surv = if (inclusive) su > mu || (su == mu && so >= mo)
          else su > mu || (su == mu && so > mo)
        if (surv) {
          n += 1
          if (n <= maxMatches)
            emits += FunnelMatchEmit(userId, n,
              c.indices.collect { case i if i % 2 == 0 => c(i) })
          anchor.foreach { a =>
            val (au, ao) = (c(2 * (a - 1)), c(2 * (a - 1) + 1))
            if (au > mu || (au == mu && ao > mo)) { mu = au; mo = ao }
          }
        }
      }
    }
    // semantic GC: a branch whose start is behind the threshold can
    // never survive the pruning scan — drop it (output-invariant)
    val gcd = buckets.map(_.filter { c =>
      val (su, so) = (c(0), c(1))
      if (inclusive) su > mu || (su == mu && so >= mo)
      else su > mu || (su == mu && so > mo)
    })
    val removable = n == 0L && gcd.forall(_.isEmpty) && immature.isEmpty
    if (removable) {
      if (!first) state.remove()
    } else {
      state.update(FunnelSkipState(n, mu, mo, gcd.toSeq, immature))
      if (immature.nonEmpty)
        state.setTimeoutTimestamp(immature.map(_._1).min / 1000L + 1L)
    }
    emits.iterator
  }

  /** The streaming after-match-skip enumerator over an events stream —
    * the [[streamingFunnel]] plumbing with [[updateFunnelSkip]]'s
    * branch-bucket state. */
  def streamingFunnelSkip(spark: SparkSession, events: DataFrame,
      stages: Seq[(String, Int)],
      skip: graft.operators.Funnel.SkipStrategy, maxMatches: Int,
      watermark: String): Dataset[FunnelMatchEmit] = {
    import spark.implicits._
    graft.operators.Funnel.skipRequire(stages, skip, maxMatches)
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), unix_micros(col("ts")).as("usMicros"),
        col("event_id").as("eventId"), col("event_type").as("tp"), col("ts"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(
        updateFunnelSkip(stages, skip, maxMatches))
  }

  // -------------------------------------------------------------------
  // Streaming absence detection (the j6 batch notFollowedBy's twin)
  // -------------------------------------------------------------------

  final case class AbsenceState(pendingViews: Seq[(Long, Long)],
      purchases: Seq[Long])
  final case class AbsenceVerdict(user_id: Long, event_id: Long,
      ts_us: Long, followed: Boolean)

  /**
   * Timer-based absence alerts — Flink CEP's `notFollowedBy` with a
   * timer per pattern head, on Spark primitives: each left event
   * ("view") registers an event-time deadline `ts + window`; when the
   * WATERMARK passes the deadline, every on-time right event
   * ("purchase") that could discharge it has arrived, so the verdict
   * is final — emit `(view, followed)` exactly once and drop the view
   * from state. Right events buffer just long enough to serve
   * undecided and future views: a pending view has `lus > wm − W` and
   * a future (on-time) view has `lus > wm`, so any purchase with
   * `rus ≤ wm − W` can never match again and is pruned — state is
   * bounded by the (lateness + window) horizon per key.
   *
   * Ordering care: verdicts are computed against the UNPRUNED buffer
   * (a matching purchase may sit exactly in the slice the new
   * watermark is about to prune), then the prune runs for the next
   * state. Decided views emit in (ts, event_id) order for
   * deterministic artifacts. Late views/purchases are dropped by the
   * stream's watermark filter — standard CEP best-effort lateness.
   */
  def updateAbsence(windowMicros: Long)(
      userId: Long, rows: Iterator[FunnelEvent],
      state: GroupState[AbsenceState]): Iterator[AbsenceVerdict] = {
    val st = state.getOption.getOrElse(AbsenceState(Nil, Nil))
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val evs = rows.toSeq
    val buffered = st.purchases ++
      evs.filter(_.tp == "purchase").map(_.usMicros)
    val allViews = st.pendingViews ++
      evs.filter(_.tp == "view").map(e => (e.eventId, e.usMicros))
    val (decided, pending) =
      allViews.partition { case (_, lus) => lus + windowMicros <= wmUs }
    val out = decided.sortBy { case (lid, lus) => (lus, lid) }
      .map { case (lid, lus) =>
        AbsenceVerdict(userId, lid, lus,
          buffered.exists(r => r > lus && r <= lus + windowMicros))
      }
    state.update(AbsenceState(pending,
      buffered.filter(_ > wmUs - windowMicros)))
    if (pending.nonEmpty)
      state.setTimeoutTimestamp(
        (pending.map(_._2).min + windowMicros) / 1000L + 1L)
    out.iterator
  }

  /** The streaming absence detector over an events stream; emits one
    * final verdict per "view" once its window closes under the
    * watermark. */
  def streamingNotFollowedBy(spark: SparkSession, events: DataFrame,
      windowMicros: Long, watermark: String): Dataset[AbsenceVerdict] = {
    import spark.implicits._
    events
      .filter(col("event_type").isin("view", "purchase"))
      .withWatermark("ts", watermark)
      .select(col("user_id"), unix_micros(col("ts")).as("usMicros"),
        col("event_id").as("eventId"), col("event_type").as("tp"), col("ts"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(updateAbsence(windowMicros))
  }

  // -------------------------------------------------------------------
  // Streaming AS-OF enrichment (the j3 batch temporal join's twin)
  // -------------------------------------------------------------------

  final case class AsOfEvent(event_id: Long, user_id: Long, tsMicros: Long,
      event_type: String, value: Double)
  final case class PurchaseState(id: Long, tsMicros: Long, value: Double)
  final case class AsOfMatch(event_id: Long, user_id: Long, tsMicros: Long,
      last_purchase_id: Option[Long], last_purchase_ts: Option[Long],
      last_purchase_value: Option[Double])

  /** flatMapGroupsWithState update: per user, clicks enriched with the
    * most recent purchase AT-OR-BEFORE them — the streaming twin of the
    * [[graft.operators.TemporalJoin.asOf]] batch join (j3), with ONE
    * purchase row of state per user (the minimal possible).
    *
    * Within a batch, rows are replayed in `(ts, purchases-first,
    * event_id)` order, which reproduces the batch tie-break exactly: a
    * purchase at the same timestamp as a click IS eligible (`p.ts <=
    * c.ts`), and among equal-ts purchases the greatest event_id wins
    * (they replay in id order; the last update survives).
    *
    * Cross-batch, correctness holds for event-time-ordered arrival — a
    * purchase arriving in a later batch than a click it precedes in
    * event time cannot retro-enrich the already-emitted click. That is
    * the standard streaming-join late-data boundary; bound it the usual
    * way (watermark + delayed emission) if the source can reorder across
    * batches. */
  def updateAsOf(
      userId: Long,
      events: Iterator[AsOfEvent],
      state: GroupState[PurchaseState]): Iterator[AsOfMatch] = {
    var cur = state.getOption.orNull
    val out = scala.collection.mutable.ArrayBuffer.empty[AsOfMatch]
    events.toSeq
      .sortBy(e => (e.tsMicros, if (e.event_type == "purchase") 0 else 1, e.event_id))
      .foreach { e =>
        if (e.event_type == "purchase") {
          if (cur == null || e.tsMicros > cur.tsMicros ||
              (e.tsMicros == cur.tsMicros && e.event_id > cur.id))
            cur = PurchaseState(e.event_id, e.tsMicros, e.value)
        } else {
          out += AsOfMatch(e.event_id, userId, e.tsMicros,
            Option(cur).map(_.id), Option(cur).map(_.tsMicros),
            Option(cur).map(_.value))
        }
      }
    if (cur != null) state.update(cur)
    out.iterator
  }

  /** Streaming as-of enrichment: click events joined to the user's
    * latest preceding purchase. Non-participating event types are
    * filtered before the stateful operator (less shuffle, less state). */
  def streamingAsOf(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tsMicros"),
        col("event_type"), col("value"))
      .as[AsOfEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(updateAsOf)
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("tsMicros")).as("ts"),
        col("last_purchase_id"),
        timestamp_micros(col("last_purchase_ts")).as("last_purchase_ts"),
        col("last_purchase_value"))
  }
}
