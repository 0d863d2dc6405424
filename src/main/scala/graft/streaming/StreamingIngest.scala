package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import scala.reflect.runtime.universe.TypeTag

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
 *
 * Serializable because the CEP machine values ([[Cep]]) are closures
 * over this object's helpers that ship to the executors; a Scala 2.13
 * module serializes as a proxy naming its class, never its fields.
 */
object StreamingIngest extends Serializable {

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

  /** One idempotent micro-batch of BM25-index maintenance
    * ([[graft.operators.Retrieval.appendToBm25Index]] under a
    * `<table>_appends` ledger) — a [[streamingIndexSink]] writer. The
    * BM25 append spans THREE tables (postings, docs, stats overwrite),
    * which a single-directory rename cannot cover — this path keeps the
    * ledger recipe and its one-batch crash window; the honest remedy is
    * a multi-table transactional format (the documented Iceberg seam,
    * DESIGN.md). [[graft.operators.Retrieval.appendToBm25IndexCommitted]]
    * is the writer WITHOUT the crash window: the batch's postings and
    * docs land under ONE CommitLog rename, and probes read the committed
    * batches via `loadBm25Index[AsOf]` (the base-table-only
    * [[graft.operators.Retrieval.bm25TopKFromIndex]] does not see them
    * until a compaction folds them). */
  def appendDocBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, table: String, numBuckets: Int = 8): Unit =
    ledgered(batch, batchId, s"${table}_appends")(
      graft.operators.Retrieval.appendToBm25Index(_, idCol, textCol,
        table, numBuckets))

  /** One idempotent micro-batch of tombstones against a persisted ANN
    * index ([[graft.operators.VectorOps.deleteFromIndex]] under a
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

  /** [[deleteVectorBatch]]'s minhash twin: idempotent micro-batch
    * tombstones against a persisted near-dup index
    * ([[graft.operators.TextDedup.deleteFromMinhashIndex]] under the
    * same separate `<table>_deletes` ledger). */
  def deleteMinhashBatch(batch: DataFrame, batchId: Long, idCol: String,
      table: String): Unit =
    ledgered(batch, batchId, s"${table}_deletes")(
      graft.operators.TextDedup.deleteFromMinhashIndex(_, idCol, table))

  /** CONTINUOUS index maintenance — the one streaming sink for every
    * index writer: each micro-batch runs `perBatch(batch, batchId)` in
    * its own [[graft.operators.Staging]] scope, with the batch id from
    * the offset log under `checkpoint` (so a restart replays a batch
    * under the id it had). This closes the production loop for the
    * build-once/probe-many family — build once, probe many, INGEST
    * FOREVER — with per-batch cost proportional to the batch, never
    * the index. The writers:
    *   - appends, exactly-once by one atomic CommitLog rename per batch
    *     (a replayed id is refused, a crash mid-batch leaves NOTHING
    *     visible): [[graft.operators.VectorOps.appendToIndexCommitted]]
    *     and [[graft.operators.VectorOps.appendToPqIndexCommitted]]
    *     (coded against the frozen quantizers/codebooks; the committed
    *     side runs are unbucketed L0 runs the probes union in until
    *     [[graft.operators.VectorOps.compactIndex]] /
    *     `compactPqIndex` folds them into the bucketed base) and
    *     [[graft.operators.Retrieval.appendToBm25IndexCommitted]];
    *   - appends and deletes idempotent per batch id by a ledger:
    *     [[appendDocBatch]], [[deleteVectorBatch]], [[deletePqBatch]],
    *     [[deleteDocBatch]] (a periodic compaction — maintenance
    *     cadence, not per batch — physically removes tombstoned rows
    *     and keeps the probe-time anti-join metadata-sized).
    * StreamingSpec proves each stream-fed index answers probes exactly
    * as its one-shot batch twin, that replayed batch ids are no-ops,
    * and that a crash before the commit leaves nothing. */
  def streamingIndexSink(stream: DataFrame, checkpoint: String)(
      perBatch: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Staging.scoped { perBatch(batch, batchId) }
      }
      .start()

  /** CONTINUOUS forget-everywhere — the t95 takedown operation
    * ([[graft.operators.Forget.forgetEverywhere]]) as a streaming sink,
    * because takedown requests arrive as a stream in production (a
    * GDPR erasure feed, a trust-and-safety queue): each micro-batch of
    * ids is tombstoned across EVERY configured index of the corpus
    * under one [[streamingIndexSink]] batch, each modality guarded by
    * its own per-table batch-id ledger — so a replayed batch is a no-op
    * per modality, and a crash between modality writes completes
    * exactly the missing ones on replay (per-modality exactly-once; the
    * composition is idempotent because tombstone writes are). Per-batch
    * cost stays O(|ids|) × modalities, never index-sized. All
    * configured indexes must share the stream's id space — run one
    * sink per id space when corpora differ (the t95 rule). */
  def streamingForget(stream: DataFrame, idCol: String,
      ix: graft.operators.Forget.CorpusIndexes,
      checkpoint: String): StreamingQuery = {
    require(ix.productIterator.exists(_ != None),
      "streamingForget with no indexes is a no-op — pass at least one")
    streamingIndexSink(stream, checkpoint) { (batch, batchId) =>
      ix.ann.foreach(deleteVectorBatch(batch, batchId, idCol, _))
      ix.pq.foreach(deletePqBatch(batch, batchId, idCol, _))
      ix.bm25.foreach(deleteDocBatch(batch, batchId, idCol, _))
      ix.minhash.foreach(deleteMinhashBatch(batch, batchId, idCol, _))
    }
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
  // Streaming CEP: one event-time buffer driving one machine per shape
  // -------------------------------------------------------------------

  /** One CEP input row: event time, event_id, type and the stage
    * condition VALUE (integer fixed-point, the caller's conversion; 0
    * for the typed shapes, whose machines never read it). */
  final case class FunnelValueEvent(user_id: Long, usMicros: Long,
      eventId: Long, tp: String, v: Long, ts: java.sql.Timestamp)

  /** A buffered event: (event time µs, event_id, type, value). */
  private type Ev = (Long, Long, String, Long)

  /** DP-slot sentinel for "no partial match at this stage" — the state
    * encoder carries plain longs, not options. */
  private val NoStart = Long.MinValue

  /** The driver's per-key state: the machine's own state, the events
    * the watermark has not passed yet, and the event time at which the
    * machine first became done ([[NoStart]] before that). */
  final case class CepBuffer[S](machine: S,
      pending: Seq[(Long, Long, String, Long)], doneUs: Long)

  /** A streaming CEP twin as a value: everything in which the pattern
    * shapes differ. The buffer, timer and retention work is
    * [[cepUpdate]]'s alone.
    *
    * @param init       the state of a key seen for the first time
    * @param step       fold one mature event into the state
    * @param idle       the state holds nothing worth keeping: the
    *                   entry is dropped while nothing is buffered, and
    *                   re-creating it from `init` folds identically
    * @param done       the match is complete: the retention TTL runs
    *                   and the buffer drops
    * @param keeps      which immature events stay buffered (default:
    *                   all until `done`, none after) — the loop shapes
    *                   keep the events a complete spine can still absorb
    * @param retainFrom the event time the TTL counts from, given the
    *                   state and the time it first became done
    * @param retentionMs the TTL of a done entry; `Long.MaxValue` keeps
    *                   it for the stream's life
    * @param wakeUps    event times (µs) at which the key must re-run
    *                   even without data (the absence holding pen)
    * @param row        the observable row: emitted on first sight of a
    *                   retained entry and whenever it changes
    * @param drain      the per-match rows the folded state owes at the
    *                   watermark (µs), and the state without them
    */
  private final case class Cep[S, O](
      init: S,
      step: (S, Ev) => S,
      idle: S => Boolean,
      done: S => Boolean = (_: S) => false,
      keeps: Option[(S, Ev) => Boolean] = None,
      retainFrom: (S, Long) => Long = (_: S, doneUs: Long) => doneUs,
      retentionMs: Long = Long.MaxValue,
      wakeUps: S => Seq[Long] = (_: S) => Nil,
      row: Option[(Long, S) => O] = None,
      drain: (Long, S, Long) => (S, Seq[O]) =
        (_: Long, s: S, _: Long) => (s, Nil))

  /**
   * The one event-time buffer behind every streaming CEP twin — Flink
   * CEP's keyed buffer flushed at the watermark, on Spark primitives.
   * Pattern folds are ORDER-SENSITIVE (an early `view` arriving after a
   * later `click` changes the verdict), so events are never folded in
   * arrival order: the key's `pending` buffer holds the events the
   * watermark has not passed, and each invocation folds only the
   * mature prefix, in (event time, event_id) order. Late events
   * (behind the watermark on arrival) are dropped by the stream's
   * watermark filter — standard CEP best-effort lateness.
   *
   * One invocation:
   *   - a timeout on a done entry with nothing buffered is its
   *     retention timer: the entry is freed and a later event starts a
   *     new instance (Flink's AFTER MATCH SKIP PAST LAST ROW with a
   *     TTL). With events buffered the timer was their flush timer, so
   *     the invocation folds them instead (a complete loop spine can
   *     still absorb);
   *   - the new rows join `pending`; the mature part folds through
   *     `step`, and the first event after which the state is `done`
   *     stamps `doneUs`;
   *   - the immature events the machine still `keeps` stay buffered;
   *   - an `idle` state with nothing buffered is removed (or never
   *     created) — losslessly;
   *   - otherwise the timeout is the earliest of the oldest buffered
   *     event, the machine's `wakeUps` and — for a done entry with
   *     nothing buffered (the only kind the retention timer frees) and
   *     a finite retention — `retainFrom + retentionMs`, clamped past
   *     the watermark, which the timer must not sit behind. GroupState
   *     clears a timeout that an invocation does not re-set, so no
   *     stale flush timer can fire on a done entry;
   *   - the output is the drained per-match rows, plus the observable
   *     row when it changed or on first sight of a retained entry (an
   *     entry removed at once emits no first-sight row: it would repeat
   *     on every touching batch, breaking emit-once).
   */
  private def cepUpdate[S, O](m: Cep[S, O])(key: Long,
      rows: Iterator[FunnelValueEvent],
      state: GroupState[CepBuffer[S]]): Iterator[O] = {
    val first = !state.exists
    val prev = state.getOption.getOrElse(CepBuffer(m.init, Nil, NoStart))
    if (state.hasTimedOut && prev.pending.isEmpty && m.done(prev.machine)) {
      state.remove()
      return Iterator.empty
    }
    val wmMs = state.getCurrentWatermarkMs()
    val (mature, immature) = (prev.pending ++
      rows.map(e => (e.usMicros, e.eventId, e.tp, e.v)))
      .partition(_._1 <= wmMs * 1000L)
    var s = prev.machine
    var doneUs = prev.doneUs
    mature.sortBy(e => (e._1, e._2)).foreach { e =>
      s = m.step(s, e)
      if (doneUs == NoStart && m.done(s)) doneUs = e._1
    }
    val (settled, matches) = m.drain(key, s, wmMs * 1000L)
    s = settled
    val rest = immature.filter(e => m.keeps.fold(!m.done(s))(_(s, e)))
    val removable = m.idle(s) && rest.isEmpty
    if (removable) {
      if (!first) state.remove()
    } else {
      state.update(CepBuffer(s, rest, doneUs))
      val retention =
        if (m.done(s) && rest.isEmpty && m.retentionMs != Long.MaxValue)
          Seq(math.max(m.retainFrom(s, doneUs) / 1000L + m.retentionMs,
            wmMs + 1L))
        else Nil
      val timers =
        (rest.map(_._1) ++ m.wakeUps(s)).map(_ / 1000L + 1L) ++ retention
      if (timers.nonEmpty) state.setTimeoutTimestamp(timers.min)
    }
    val changed = m.row.map(r => r(key, s)).filter(out =>
      (first && !removable) || out != m.row.get(key, prev.machine))
    (matches ++ changed).iterator
  }

  /** The streaming plumbing every CEP twin shares: watermark the
    * stream, project the [[FunnelValueEvent]] (`v` is the value the
    * stage conditions read), key by user and run the machine through
    * [[cepUpdate]]. */
  private def runCep[S <: Product : TypeTag, O <: Product : TypeTag](
      events: DataFrame, watermark: String, m: Cep[S, O],
      v: Column = lit(0L)): Dataset[O] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      // the watermarked ts column must SURVIVE the projection — the
      // unsupported-operation checker requires a watermark-tagged
      // event-time column in the stateful operator's child
      .select(col("user_id"), unix_micros(col("ts")).as("usMicros"),
        col("event_id").as("eventId"), col("event_type").as("tp"),
        v.as("v"), col("ts"))
      .as[FunnelValueEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(cepUpdate(m))
  }

  /** Stage reached by a max-start vector (its set slots are a prefix). */
  private def slotsSet(b: Seq[Long]): Int = b.count(_ != NoStart)

  /** The window start a max-start vector reports: its deepest set slot. */
  private def deepestStart(b: Seq[Long]): Option[Long] = {
    val s = slotsSet(b); if (s > 0) Some(b(s - 1)) else None
  }

  final case class FunnelUpdate(user_id: Long, stage_reached: Int,
      witness_us: Seq[Long])
  /** The greedy stage pointer and its witnesses. */
  final case class FunnelWhereState(stage: Int, witnessUs: Seq[Long])

  /** Greedy pointer + witnesses: stage j advances on the first mature
    * event its predicate accepts. Conditions are event-local, so
    * greedy-earliest stays exact. */
  private def whereMachine(stages: IndexedSeq[(String, Long) => Boolean],
      retentionMs: Long): Cep[FunnelWhereState, FunnelUpdate] = {
    val k = stages.length
    Cep[FunnelWhereState, FunnelUpdate](
      init = FunnelWhereState(0, Nil),
      step = { case (s, (us, _, tp, v)) =>
        if (s.stage < k && stages(s.stage)(tp, v))
          FunnelWhereState(s.stage + 1, s.witnessUs :+ us)
        else s
      },
      idle = _.stage == 0,
      done = _.stage == k,
      retentionMs = retentionMs,
      row = Some((u, s) => FunnelUpdate(u, s.stage, s.witnessUs)))
  }

  /**
   * Streaming CEP funnel — the [[graft.operators.Funnel.funnel]] batch
   * operator's twin: [[streamingFunnelWhere]] with one type test per
   * stage, through the [[cepUpdate]] buffer. `watermark` is the allowed
   * lateness — and therefore the event-time reordering window the
   * buffer absorbs.
   *
   * Contract (spec-asserted): with any on-time arrival order, the last
   * Update-mode emission per user equals the batch funnel over the same
   * rows. Emission is delta-style: a row when the stage advances, plus
   * a first-sight stage-0 row for users whose entry is RETAINED (a
   * pending buffer) — users with only non-matching mature events emit
   * nothing. State per active user is the O(k) pointer + witnesses plus
   * the events inside the watermark lag; a COMPLETED funnel drops its
   * buffer and stops emitting, and keeps a k-sized tombstone so
   * stragglers don't restart the pattern — for the stream's life with
   * the default infinite `matchRetentionMs`, else until the watermark
   * passes `completion + retention`, after which a new event starts a
   * NEW instance (spec-asserted).
   */
  def streamingFunnel(spark: SparkSession, events: DataFrame,
      stages: Seq[String], watermark: String,
      matchRetentionMs: Long = Long.MaxValue): Dataset[FunnelUpdate] =
    runCep(events, watermark, whereMachine(
      stages.map(t => (tp: String, _: Long) => tp == t).toIndexedSeq,
      matchRetentionMs))

  /** The max-start DP vector: B[j] = the latest stage-1 time among
    * in-window chains at stage j ([[NoStart]] when none). */
  final case class FunnelWinState(b: Seq[Long])
  final case class FunnelWinUpdate(user_id: Long, stage_reached: Int,
      win_start_us: Option[Long])

  private def withinMachine(stages: IndexedSeq[String], windowMicros: Long,
      retentionMs: Long): Cep[FunnelWinState, FunnelWinUpdate] = {
    val k = stages.length
    Cep[FunnelWinState, FunnelWinUpdate](
      init = FunnelWinState(Seq.fill(k)(NoStart)),
      step = { case (s, (us, _, tp, _)) =>
        // pre-event values: an event never extends a chain containing
        // itself (the batch DP's transform-over-pre-state)
        val pre = s.b.toArray
        val b = pre.clone()
        var j = k
        while (j >= 2) {
          if (tp == stages(j - 1) && pre(j - 2) != NoStart &&
              us <= pre(j - 2) + windowMicros)
            b(j - 1) = math.max(b(j - 1), pre(j - 2))
          j -= 1
        }
        if (tp == stages(0)) b(0) = math.max(b(0), us)
        FunnelWinState(b.toSeq)
      },
      idle = s => slotsSet(s.b) == 0,
      done = s => slotsSet(s.b) == k,
      // the TTL counts from the completing chain's window start
      retainFrom = (s, _) => s.b(k - 1),
      retentionMs = retentionMs,
      row = Some((u, s) =>
        FunnelWinUpdate(u, slotsSet(s.b), deepestStart(s.b))))
  }

  /**
   * Streaming WINDOWED funnel — [[graft.operators.Funnel.funnelWithin]]'s
   * twin. The DP is order-sensitive too (a late-but-on-time stage-1
   * event can RAISE the max feasible start retroactively), so it runs
   * behind the [[cepUpdate]] buffer; the state is k longs however many
   * restarts the user's history holds. Emission is delta-style on the
   * OBSERVABLE pair (stage_reached, win_start_us) — the window start
   * can move to a later restart without the stage changing, and the
   * last emission must equal the batch operator (spec contract).
   */
  def streamingFunnelWithin(spark: SparkSession, events: DataFrame,
      stages: Seq[String], windowMicros: Long, watermark: String,
      matchRetentionMs: Long = Long.MaxValue): Dataset[FunnelWinUpdate] =
    runCep(events, watermark, withinMachine(stages.toIndexedSeq,
      windowMicros, matchRetentionMs))

  /** The NFA's open-clean and sticky ever-reached bit vectors. */
  final case class FunnelGuardState(o: Seq[Boolean], e: Seq[Boolean])
  final case class FunnelGuardUpdate(user_id: Long, stage_reached: Int)

  private def guardedMachine(stages: IndexedSeq[String],
      notBetween: IndexedSeq[Option[String]], retentionMs: Long)
      : Cep[FunnelGuardState, FunnelGuardUpdate] = {
    val k = stages.length
    Cep[FunnelGuardState, FunnelGuardUpdate](
      init = FunnelGuardState(Seq.fill(k)(false), Seq.fill(k)(false)),
      step = { case (s, (_, _, tp, _)) =>
        val pre = s.o.toArray
        val o = pre.clone()
        val ev = s.e.toArray
        var j = 0
        while (j < k) {
          if (tp == stages(j) && (j == 0 || pre(j - 1))) {
            o(j) = true; ev(j) = true
          } else if (j < k - 1 && notBetween(j).contains(tp)) o(j) = false
          j += 1
        }
        FunnelGuardState(o.toSeq, ev.toSeq)
      },
      idle = s => !s.e.contains(true) && !s.o.contains(true),
      done = _.e.forall(identity),
      retentionMs = retentionMs,
      row = Some((u, s) => FunnelGuardUpdate(u, s.e.count(identity))))
  }

  /**
   * Streaming GUARDED funnel — [[graft.operators.Funnel.funnelGuarded]]'s
   * twin (CEP `notFollowedBy` inside the pattern): the NFA's bit
   * vectors behind the [[cepUpdate]] buffer (blocker kills are
   * order-sensitive). Emission on stage_reached change (sticky — it
   * only grows).
   */
  def streamingFunnelGuarded(spark: SparkSession, events: DataFrame,
      stages: Seq[String], notBetween: Seq[Option[String]],
      watermark: String,
      matchRetentionMs: Long = Long.MaxValue): Dataset[FunnelGuardUpdate] = {
    require(notBetween.length == stages.length - 1,
      "need one (optional) blocker per gap")
    runCep(events, watermark, guardedMachine(stages.toIndexedSeq,
      notBetween.toIndexedSeq, matchRetentionMs))
  }

  /** The max-start product NFA's three vectors (see
    * [[streamingFunnelPatternWithin]]). */
  final case class FunnelPatternWinState(l: Seq[Long], o: Seq[Long],
      m: Seq[Long])

  private def patternWithinMachine(
      stages: IndexedSeq[graft.operators.Funnel.PatternStage],
      windowMicros: Long, retentionMs: Long)
      : Cep[FunnelPatternWinState, FunnelWinUpdate] = {
    val k = stages.length
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
    Cep[FunnelPatternWinState, FunnelWinUpdate](
      init = FunnelPatternWinState(Seq.fill(k)(NoStart),
        Seq.fill(k)(NoStart), Seq.fill(k)(NoStart)),
      step = { case (s, (us, _, tp, _)) =>
        val preL = s.l.toArray; val preO = s.o.toArray
        val l = new Array[Long](k); val o = new Array[Long](k)
        val m = s.m.toArray
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
        FunnelPatternWinState(l.toSeq, o.toSeq, m.toSeq)
      },
      idle = s => satUpTo(s.m) == 0 &&
        (s.l ++ s.o ++ s.m).forall(_ == NoStart),
      done = s => satUpTo(s.m) == k,
      retentionMs = retentionMs,
      row = Some((u, s) => FunnelWinUpdate(u, satUpTo(s.m), winOf(s.m))))
  }

  /**
   * Streaming CONTIGUITY × WITHIN product funnel —
   * [[graft.operators.Funnel.funnelPatternWithin]]'s twin: per-user
   * state is the max-start product NFA's three vectors (`l[j]` —
   * latest start among chains whose prefix-j match ends at the
   * immediately previous event; `o[j]` — latest start among chains
   * matched strictly before it; `m[j]` — the STICKY latest start ever
   * to actually match stage j, the observable) behind the
   * [[cepUpdate]] buffer (strict hops, notNext kills and window expiry
   * are all order-sensitive). Every advance reads the PRE state (an
   * event never extends the partials it just created — the
   * guarded-fold rule) and checks the `within` deadline against the
   * max eligible predecessor (the w8 dominance: the max is also the
   * easiest to satisfy). Emission is delta-style on (stage_reached,
   * win_start_us).
   */
  def streamingFunnelPatternWithin(spark: SparkSession,
      events: DataFrame,
      stages: Seq[graft.operators.Funnel.PatternStage],
      windowMicros: Long, watermark: String,
      matchRetentionMs: Long = Long.MaxValue): Dataset[FunnelWinUpdate] = {
    graft.operators.Funnel.patternRequire(stages)
    require(windowMicros > 0, "need windowMicros > 0")
    runCep(events, watermark, patternWithinMachine(stages.toIndexedSeq,
      windowMicros, matchRetentionMs))
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

  /** The alive max-start vector (killable by gap blockers) and the
    * sticky ever-reached one (the observable). */
  final case class FunnelWinGuardState(b: Seq[Long], m: Seq[Long])

  private def withinGuardedMachine(stages: IndexedSeq[String],
      windowMicros: Long, notBetween: IndexedSeq[Option[String]],
      retentionMs: Long): Cep[FunnelWinGuardState, FunnelWinUpdate] = {
    val k = stages.length
    Cep[FunnelWinGuardState, FunnelWinUpdate](
      init = FunnelWinGuardState(Seq.fill(k)(NoStart), Seq.fill(k)(NoStart)),
      step = { case (s, (us, _, tp, _)) =>
        val pre = s.b.toArray
        val b = pre.clone()
        val m = s.m.toArray
        var j = 0
        while (j < k) {
          val adv =
            if (j == 0) { if (tp == stages(0)) us else NoStart }
            else if (tp == stages(j) && pre(j - 1) != NoStart &&
              us <= pre(j - 1) + windowMicros) pre(j - 1)
            else NoStart
          val kill = j < k - 1 && notBetween(j).contains(tp)
          b(j) = if (kill) adv else math.max(b(j), adv)
          m(j) = math.max(m(j), adv)
          j += 1
        }
        FunnelWinGuardState(b.toSeq, m.toSeq)
      },
      idle = s => slotsSet(s.m) == 0 && s.b.forall(_ == NoStart),
      done = s => slotsSet(s.m) == k,
      retentionMs = retentionMs,
      row = Some((u, s) =>
        FunnelWinUpdate(u, slotsSet(s.m), deepestStart(s.m))))
  }

  /**
   * Streaming COMBINED windowed+guarded funnel —
   * [[graft.operators.Funnel.funnelWithinGuarded]]'s twin: the alive
   * max-start vector (killable by gap blockers) and the sticky
   * ever-reached one (the observable) behind the [[cepUpdate]] buffer
   * (window expiry and blocker kills are both order-sensitive).
   * Emission on (stage_reached, win_start_us) change.
   */
  def streamingFunnelWithinGuarded(spark: SparkSession, events: DataFrame,
      stages: Seq[String], windowMicros: Long,
      notBetween: Seq[Option[String]], watermark: String,
      matchRetentionMs: Long = Long.MaxValue): Dataset[FunnelWinUpdate] = {
    require(notBetween.length == stages.length - 1,
      "need one (optional) blocker per gap")
    runCep(events, watermark, withinGuardedMachine(stages.toIndexedSeq,
      windowMicros, notBetween.toIndexedSeq, matchRetentionMs))
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

  /** The expanded-list spine pointer plus the per-stage (count,
    * last-time) loop slots. */
  final case class FunnelLoopState(s: Int, c: Seq[Long], l: Seq[Long])
  final case class FunnelLoopUpdate(user_id: Long, stage_reached: Int,
      reps: Seq[Long], last_us: Seq[Long])

  /** The loop family's observable row: slot counts and the set
    * last-times. */
  private def loopRow(u: Long, stage: Int, c: Seq[Long],
      l: Seq[Long]): FunnelLoopUpdate =
    FunnelLoopUpdate(u, stage, c, l.filter(_ != NoStart))

  /** The loop fold; `caps` bounds each stage's absorption (times(m, n);
    * None = ∞). Everything derivable from `stages` is computed once
    * here, not per user per micro-batch. */
  private def loopMachine(stages: IndexedSeq[(String, Int)],
      retentionMs: Long, caps: Option[IndexedSeq[Int]])
      : Cep[FunnelLoopState, FunnelLoopUpdate] = {
    val k = stages.length
    val expanded = stages.flatMap { case (t, n) => Seq.fill(n)(t) }
    val kx = expanded.length
    val bounds = stages.map(_._2).scanLeft(0)(_ + _).tail
    def stageOf(s: Int): Int = bounds.count(_ <= s)
    def underCap(c: Seq[Long], j: Int): Boolean =
      caps.forall(cs => c(j) < cs(j))
    Cep[FunnelLoopState, FunnelLoopUpdate](
      init = FunnelLoopState(0, Seq.fill(k)(0L), Seq.fill(k)(NoStart)),
      step = { case (st, (us, _, tp, _)) =>
        val j = bounds.indexOf(st.s)
        if (st.s < kx && tp == expanded(st.s)) {
          val a = bounds.indexWhere(_ >= st.s + 1)
          FunnelLoopState(st.s + 1, st.c.updated(a, st.c(a) + 1),
            st.l.updated(a, us))
        } else if (j >= 0 && tp == stages(j)._1 && underCap(st.c, j))
          st.copy(c = st.c.updated(j, st.c(j) + 1), l = st.l.updated(j, us))
        else st
      },
      idle = _.s == 0,
      done = _.s == kx,
      // a complete spine can only absorb last-stage-type events — the
      // rest of the buffer is dead weight (and nothing at all once the
      // last stage's loop is capped out)
      keeps = Some((st, e) => st.s < kx ||
        (e._3 == stages(k - 1)._1 && underCap(st.c, k - 1))),
      retentionMs = retentionMs,
      row = Some((u, st) => loopRow(u, stageOf(st.s), st.c, st.l)))
  }

  /**
   * Streaming LOOPING-quantifier funnel — [[graft.operators.Funnel
   * .funnelLoop]]'s twin (CEP `oneOrMore`/`timesOrMore` with greedy
   * repetition), `mode` included. The times(n) trick does not carry
   * over (the loop counters are NOT a projection of the expanded
   * witnesses), so this runs the batch fold's state machine directly:
   * the expanded-list spine pointer plus the per-stage (count,
   * last-time) loop slots, behind the [[cepUpdate]] buffer.
   *
   * The LAST stage's loop never closes (batch absorbs to end of log),
   * so a "completed" funnel keeps absorbing its type's mature events
   * instead of freezing — the buffer keeps only last-stage-type events
   * once the spine is complete, and with the default infinite
   * retention the final emission equals the batch operator over the
   * same rows (spec contract). A finite `matchRetentionMs` frees the
   * entry at completion + retention — trailing absorptions after that
   * are dropped with the tombstone (the documented TTL trade).
   * Emission: delta-style on (stage, counts, last-times).
   *
   * Reluctant reuses the batch reduction verbatim: the minimal loop is
   * the bounded quantifier at its floor (`times(m, m)`), so the
   * reluctant stream IS [[streamingFunnelTimesRange]] with cap =
   * minReps.
   */
  def streamingFunnelLoop(spark: SparkSession, events: DataFrame,
      stages: Seq[(String, Int)], watermark: String,
      matchRetentionMs: Long = Long.MaxValue,
      mode: graft.operators.Funnel.ConsumeMode =
        graft.operators.Funnel.Greedy): Dataset[FunnelLoopUpdate] = {
    graft.operators.Funnel.loopRequire(stages)
    if (mode == graft.operators.Funnel.Reluctant)
      streamingFunnelTimesRange(spark, events,
        stages.map { case (t, m) => (t, m, m) }, watermark,
        matchRetentionMs)
    else runCep(events, watermark,
      loopMachine(stages.toIndexedSeq, matchRetentionMs, None))
  }

  /** The run machine: stage pointer, open-loop bit, per-stage
    * count/last-time. */
  final case class FunnelConsecState(j: Int, open: Boolean, c: Seq[Long],
      l: Seq[Long])

  private def consecutiveMachine(stages: IndexedSeq[(String, Int)],
      reluctant: Boolean): Cep[FunnelConsecState, FunnelLoopUpdate] = {
    val types = stages.map(_._1)
    val m = stages.map(_._2)
    val k = stages.length
    Cep[FunnelConsecState, FunnelLoopUpdate](
      init = FunnelConsecState(1, false, Seq.fill(k)(0L),
        Seq.fill(k)(NoStart)),
      step = { case (st, (us, _, tp, _)) =>
        var j = st.j
        var open = st.open
        val c = st.c.toArray
        val l = st.l.toArray
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
        FunnelConsecState(j, open, c.toSeq, l.toSeq)
      },
      idle = st => st.j == 1 && !st.open && st.c.forall(_ == 0L),
      // a machine past its last stage is final; a reluctant one with the
      // LAST stage's block complete is observationally final even while
      // the loop is formally open (the open loop never absorbs and a
      // breaker only moves j past k with c/l untouched) — either way
      // the buffer is dead weight
      keeps = Some((st, _) =>
        st.j <= k && !(reluctant && st.j == k && st.open)),
      row = Some((u, st) =>
        loopRow(u, st.j - 1 + (if (st.open) 1 else 0), st.c, st.l)))
  }

  /**
   * Streaming CONSECUTIVE-loop funnel —
   * [[graft.operators.Funnel.funnelLoopConsecutive]]'s twin (CEP
   * `oneOrMore.consecutive()`), `mode` included: the run machine
   * (stage pointer, open-loop bit, per-stage count/last-time) behind
   * the [[cepUpdate]] buffer. Folding mature events in watermark order
   * preserves run ADJACENCY across flushes for the same reason the
   * contiguity NFA's does — maturity is a prefix of the event-time
   * total order, so "immediately consecutive" means the same thing
   * batch and streamed. A late event inside a run would break it
   * retroactively; it is dropped (best-effort lateness). An open LAST
   * loop keeps the full buffer (the next event either absorbs or
   * permanently closes). Reluctant is one dead absorb branch in the
   * open phase. No retention: the machine never completes. Emission:
   * delta-style on (stage_reached, counts, last-times).
   */
  def streamingFunnelConsecutive(spark: SparkSession, events: DataFrame,
      stages: Seq[(String, Int)], watermark: String,
      mode: graft.operators.Funnel.ConsumeMode =
        graft.operators.Funnel.Greedy): Dataset[FunnelLoopUpdate] = {
    graft.operators.Funnel.loopRequire(stages)
    runCep(events, watermark, consecutiveMachine(stages.toIndexedSeq,
      reluctant = mode == graft.operators.Funnel.Reluctant))
  }

  /** The loop machine plus `x`: the CURRENT stage's repetition is
    * closed. */
  final case class FunnelLoopUntilState(s: Int, c: Seq[Long], l: Seq[Long],
      x: Boolean)

  private def loopUntilMachine(
      stages: IndexedSeq[(String, Int, Option[String])], retentionMs: Long,
      reluctant: Boolean): Cep[FunnelLoopUntilState, FunnelLoopUpdate] = {
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
    Cep[FunnelLoopUntilState, FunnelLoopUpdate](
      init = FunnelLoopUntilState(0, Seq.fill(k)(0L), Seq.fill(k)(NoStart),
        x = false),
      step = { case (st, (us, _, tp, _)) =>
        var s = st.s
        var x = st.x
        val c = st.c.toArray
        val l = st.l.toArray
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
        if (adv) { c(jAdv - 1) += 1; l(jAdv - 1) = us; s += 1 }
        else if (absorb) { c(jLoop - 1) += 1; l(jLoop - 1) = us }
        val newCurJ = curOf(s)
        if (newCurJ != curJ) x = false
        if (stages(newCurJ - 1)._3.contains(tp)) x = true
        FunnelLoopUntilState(s, c.toSeq, l.toSeq, x)
      },
      // a stage-0 STALL is a tombstone: dropping it would forget that
      // the pattern can never start
      idle = st => st.s == 0 && !st.x,
      done = _.s == kx,
      keeps = Some { (st, e) =>
        val complete = st.s == kx
        val frozen = st.x && (loopOf(st.s) == 0 || complete)
        // a complete reluctant spine is observationally final: loop
        // absorption is dead and a last-stage until close only stops
        // absorption that already never happens
        !frozen && !(complete && reluctant) && (!complete ||
          e._3 == mst(k - 1)._1 || stages(k - 1)._3.contains(e._3))
      },
      retentionMs = retentionMs,
      row = Some((u, st) => loopRow(u, stageOf(st.s), st.c, st.l)))
  }

  /**
   * Streaming loop funnel WITH Flink's `until` boundary —
   * [[graft.operators.Funnel.funnelLoopUntil]]'s twin, `mode`
   * included. State adds one boolean to the loop machine: the CURRENT
   * stage's repetition is closed (set by the stage's until event,
   * cleared on crossing into a new stage). Three terminal shapes:
   *   - complete spine, last loop open — keeps absorbing last-stage
   *     events AND watching for the last stage's until type (closing
   *     the loop changes FUTURE observables, so both stay buffered);
   *   - complete spine, last loop closed — fully final, buffer drops;
   *   - STALLED (closed during a mandatory block) — frozen forever,
   *     buffer drops, and the entry is a tombstone even at stage 0.
   * Retention TTL applies to completed funnels only; stalled
   * tombstones live for the stream's life. Reluctant: absorption is
   * the one dead branch, the until close/stall machinery (pointer +
   * bit) is mode-independent.
   */
  def streamingFunnelLoopUntil(spark: SparkSession, events: DataFrame,
      stages: Seq[(String, Int, Option[String])], watermark: String,
      matchRetentionMs: Long = Long.MaxValue,
      mode: graft.operators.Funnel.ConsumeMode =
        graft.operators.Funnel.Greedy): Dataset[FunnelLoopUpdate] = {
    graft.operators.Funnel.untilRequire(stages)
    runCep(events, watermark, loopUntilMachine(stages.toIndexedSeq,
      matchRetentionMs, reluctant = mode == graft.operators.Funnel.Reluctant))
  }

  /** The streaming BOUNDED quantifier times(m, n) — the loop machine
    * with the absorb cap (one extra comparison; pointer and spine
    * untouched, the [[graft.operators.Funnel.funnelTimesRange]]
    * contract). */
  def streamingFunnelTimesRange(spark: SparkSession, events: DataFrame,
      stages: Seq[(String, Int, Int)], watermark: String,
      matchRetentionMs: Long = Long.MaxValue): Dataset[FunnelLoopUpdate] = {
    graft.operators.Funnel.rangeRequire(stages)
    runCep(events, watermark,
      loopMachine(stages.map { case (t, m, _) => (t, m) }.toIndexedSeq,
        matchRetentionMs, Some(stages.map(_._3).toIndexedSeq)))
  }

  // -------------------------------------------------------------------
  // Streaming contiguity NFA (funnelPattern's twin) + match enumeration
  // (funnelMulti's twin)
  // -------------------------------------------------------------------

  /** The l/o NFA (chains ending at the immediately previous event vs
    * earlier) plus the first-match time per stage; `ts` slots use
    * [[NoStart]] as the unset sentinel. */
  final case class FunnelPatternState(l: Seq[Boolean], o: Seq[Boolean],
      ts: Seq[Long])
  final case class FunnelPatternUpdate(user_id: Long, stage_reached: Int,
      ts_us: Seq[Option[Long]])

  private def patternMachine(
      stages: IndexedSeq[graft.operators.Funnel.PatternStage],
      retentionMs: Long): Cep[FunnelPatternState, FunnelPatternUpdate] = {
    val k = stages.length
    def reached(ts: Seq[Long]): Int = {
      def sat(j: Int): Boolean =
        j == 0 || ts(j - 1) != NoStart ||
          (stages(j - 1).optional && sat(j - 1))
      (1 to k).count(sat)
    }
    Cep[FunnelPatternState, FunnelPatternUpdate](
      init = FunnelPatternState(Seq.fill(k)(false), Seq.fill(k)(false),
        Seq.fill(k)(NoStart)),
      step = { case (s, (us, _, tp, _)) =>
        val preL = s.l.toArray
        val preO = s.o.toArray
        val l = new Array[Boolean](k)
        val o = new Array[Boolean](k)
        val ts = s.ts.toArray
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
        FunnelPatternState(l.toSeq, o.toSeq, ts.toSeq)
      },
      idle = s => !s.l.contains(true) && !s.o.contains(true) &&
        s.ts.forall(_ == NoStart),
      done = _.ts.forall(_ != NoStart),
      retentionMs = retentionMs,
      row = Some((u, s) => FunnelPatternUpdate(u, reached(s.ts),
        s.ts.map(v => if (v == NoStart) None else Some(v)))))
  }

  /**
   * Streaming contiguity funnel —
   * [[graft.operators.Funnel.funnelPattern]]'s twin (CEP `next` /
   * `notNext` / `optional`): the l/o NFA behind the [[cepUpdate]]
   * buffer. Folding mature events in watermark order preserves
   * IMMEDIATE-successor adjacency across flushes (the fold's `l` bits
   * always refer to the last FOLDED event, and maturity is a prefix of
   * the event-time order). Emission on any (stage_reached, ts vector)
   * change — unlike the plain funnel, a pattern with an optional stage
   * can stamp that stage's first actual match AFTER the prefix is
   * already satisfied, so completion here means every ts slot set;
   * only then does the buffer drop and the retention tombstone start.
   * A late event between two folded events would change batch
   * adjacency; it is dropped (best-effort lateness, here extended to
   * contiguity).
   */
  def streamingFunnelPattern(spark: SparkSession, events: DataFrame,
      stages: Seq[graft.operators.Funnel.PatternStage], watermark: String,
      matchRetentionMs: Long = Long.MaxValue): Dataset[FunnelPatternUpdate] = {
    graft.operators.Funnel.patternRequire(stages)
    runCep(events, watermark,
      patternMachine(stages.toIndexedSeq, matchRetentionMs))
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
      o: Seq[Long])
  final case class FunnelGroupLoopUpdate(user_id: Long, reps: Long)

  private def groupLoopMachine(
      group: IndexedSeq[graft.operators.Funnel.PatternStage],
      consecutiveSeams: Boolean, cap: Option[Long])
      : Cep[FunnelGroupLoopState, FunnelGroupLoopUpdate] = {
    val k = group.length
    def vmax(a: Long, b: Long): Long = if (a >= b) a else b
    Cep[FunnelGroupLoopState, FunnelGroupLoopUpdate](
      init = FunnelGroupLoopState(0L, NoStart, Seq.fill(k)(NoStart),
        Seq.fill(k)(NoStart)),
      step = { case (s, (_, _, tp, _)) =>
        val preL = s.l.toArray; val preO = s.o.toArray
        val l = new Array[Long](k); val o = new Array[Long](k)
        // the trailing SEAM guard — the batch fold's `seamKill`,
        // verbatim: at the blocker event a freshly-completed chain dies
        val preBlAlive =
          if (group.last.notNextAfter.contains(tp)) NoStart else s.bl
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
            if (!consecutiveSeams) vmax(s.bo, preBlAlive)
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
        val compBase = l(k - 1)
        // reluctant consume mode caps the completion step — the batch
        // fold's policy point (groupLoopStep's `cap`), verbatim
        val bl = if (compBase == NoStart) NoStart
          else cap.fold(compBase + 1L)(m => math.min(compBase + 1L, m))
        FunnelGroupLoopState(vmax(s.bo, preBlAlive), bl, l.toSeq, o.toSeq)
      },
      idle = s => s.bo == 0L && s.bl == NoStart &&
        s.l.forall(_ == NoStart) && s.o.forall(_ == NoStart),
      row = Some((u, s) =>
        FunnelGroupLoopUpdate(u, math.max(vmax(s.bo, s.bl), 0L))))
  }

  /**
   * Streaming GROUP oneOrMore — [[graft.operators.Funnel
   * .funnelGroupLoop]]'s twin, `mode` included. The unbounded
   * quantifier has no finite stage-list expansion, so unlike
   * [[streamingFunnelGroupTimes]] this is its own state machine: the
   * batch dominance fold (max-completed-reps per (stage, l/o) slot,
   * idle chains in `bl`/`bo`) behind the [[cepUpdate]] buffer, which
   * preserves the immediate-successor adjacency `bl` and the strict
   * in-group hops rely on. There is NO final state — a loop can always
   * extend — so there is no completion tombstone and no retention; the
   * entry keeps 2k+2 longs (the batch machine's unbounded-operator
   * contract, where `reps` likewise never stops growing). Reluctant
   * caps the completion step at `minTimes` (the SAME policy point as
   * the batch fold), so `reps` saturates at the floor while partial
   * progress below it stays observable — stream ≡ batch by
   * construction. Emission: delta-style on `reps`.
   */
  def streamingFunnelGroupLoop(spark: SparkSession, events: DataFrame,
      group: Seq[graft.operators.Funnel.PatternStage], watermark: String,
      consecutiveSeams: Boolean = false,
      mode: graft.operators.Funnel.ConsumeMode =
        graft.operators.Funnel.Greedy, minTimes: Int = 1)
      : Dataset[FunnelGroupLoopUpdate] = {
    graft.operators.Funnel.groupLoopRequire(group)
    require(minTimes >= 1, "need minTimes >= 1")
    val cap = mode match {
      case graft.operators.Funnel.Greedy => None
      case graft.operators.Funnel.Reluctant => Some(minTimes.toLong)
    }
    runCep(events, watermark,
      groupLoopMachine(group.toIndexedSeq, consecutiveSeams, cap))
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

  /** The min-anchor dominance vector of
    * [[graft.operators.Funnel.iterAdvance]]: `d` is valid exactly where
    * `ts` is set. */
  final case class FunnelIterState(d: Seq[Long], ts: Seq[Long])
  final case class FunnelIterUpdate(user_id: Long, stage_reached: Int,
      ts_us: Seq[Option[Long]])

  private def iterativeMachine(
      stages: IndexedSeq[graft.operators.Funnel.IterStage],
      anchorFirst: Boolean, retentionMs: Long)
      : Cep[FunnelIterState, FunnelIterUpdate] = {
    val k = stages.length
    val st = stages.toArray
    val unreached = graft.operators.Funnel.IterUnreached
    def reached(ts: Seq[Long]): Int = ts.count(_ != unreached)
    Cep[FunnelIterState, FunnelIterUpdate](
      init = FunnelIterState(Seq.fill(k)(0L), Seq.fill(k)(unreached)),
      step = { case (s, (us, _, tp, v)) =>
        val d = s.d.toArray
        val ts = s.ts.toArray
        graft.operators.Funnel.iterAdvance(st, anchorFirst, d, ts, us, tp, v)
        FunnelIterState(d.toSeq, ts.toSeq)
      },
      idle = _.ts.forall(_ == unreached),
      done = s => reached(s.ts) == k,
      retentionMs = retentionMs,
      row = Some((u, s) => FunnelIterUpdate(u, reached(s.ts),
        s.ts.map(x => if (x == unreached) None else Some(x)))))
  }

  /**
   * Streaming ITERATIVE-condition funnel —
   * [[graft.operators.Funnel.funnelIterative]]'s twin: the min-anchor
   * dominance vector (`d[j]` = minimal anchor among chains completing
   * stage j, lossless under the `num >= 0` monotonicity contract)
   * behind the [[cepUpdate]] buffer, folded by the batch sorted route's
   * own [[graft.operators.Funnel.iterAdvance]]. Emission on any
   * ts-slot change (stage progress; `d`-only improvements move no
   * observable). The ts slots fill strictly in stage order, so
   * completion is `reached == k`. `valCol` must already be integer
   * fixed-point (the batch operator's contract); a NULL fails LOUDLY
   * ([[graft.operators.Funnel.iterVal]]) — the typed encoder would
   * otherwise fail opaquely and the batch twins would diverge.
   */
  def streamingFunnelIterative(spark: SparkSession, events: DataFrame,
      valCol: String, stages: Seq[graft.operators.Funnel.IterStage],
      anchor: graft.operators.Funnel.IterAnchor, watermark: String,
      matchRetentionMs: Long = Long.MaxValue): Dataset[FunnelIterUpdate] = {
    graft.operators.Funnel.iterRequire(stages)
    runCep(events, watermark, iterativeMachine(stages.toIndexedSeq,
        anchor == graft.operators.Funnel.AnchorFirst, matchRetentionMs),
      graft.operators.Funnel.iterVal(valCol))
  }

  /**
   * Streaming PREDICATE funnel —
   * [[graft.operators.Funnel.funnelWhere]]'s twin for per-stage
   * SIMPLE conditions (Flink `where(SimpleCondition)` / `subtype`):
   * stage j advances on the first mature event satisfying an arbitrary
   * SERIALIZABLE predicate over (event type, value) — the streaming
   * surface trades the batch side's Column predicates for Scala
   * functions, since a closure must ship to the state store where a
   * Column cannot. Same machine and contract as [[streamingFunnel]].
   * `valCol` is the one carried value column (integer domain, the
   * batch contract). NULL (or unparseable) values fail LOUDLY via the
   * family's shared non-null guard ([[graft.operators.Funnel.iterVal]])
   * — the typed state encoder cannot represent a NULL long, and a
   * silent per-surface default would diverge from the batch
   * predicate's NULL-is-false Column semantics with no signal; filter
   * or default NULLs first.
   */
  def streamingFunnelWhere(spark: SparkSession, events: DataFrame,
      valCol: String, stages: Seq[(String, Long) => Boolean],
      watermark: String,
      matchRetentionMs: Long = Long.MaxValue): Dataset[FunnelUpdate] = {
    require(stages.nonEmpty, "need at least one stage")
    runCep(events, watermark,
      whereMachine(stages.toIndexedSeq, matchRetentionMs),
      graft.operators.Funnel.iterVal(valCol, "streamingFunnelWhere"))
  }

  /** The k-slot path-counting vector. */
  final case class FunnelAnyState(c: Seq[Long])
  final case class FunnelAnyUpdate(user_id: Long, n_any: Long)

  private def combinationsMachine(stages: IndexedSeq[(String, Boolean)])
      : Cep[FunnelAnyState, FunnelAnyUpdate] = {
    val k = stages.length
    Cep[FunnelAnyState, FunnelAnyUpdate](
      init = FunnelAnyState(Seq.fill(k)(0L)),
      step = { case (s, (_, _, tp, _)) =>
        val pre = s.c.toArray
        val c = pre.clone()
        var j = 0
        while (j < k) {
          val (t, loop) = stages(j)
          if (tp == t)
            c(j) += (if (j == 0) 1L else pre(j - 1)) +
              (if (loop) pre(j) else 0L)
          j += 1
        }
        FunnelAnyState(c.toSeq)
      },
      idle = _.c.forall(_ == 0L),
      row = Some((u, s) => FunnelAnyUpdate(u, s.c(k - 1))))
  }

  /**
   * Streaming `allowCombinations()` loop-stage multiplicity —
   * [[graft.operators.Funnel.funnelCombinations]]'s twin: the k-slot
   * path-counting vector behind the [[cepUpdate]] buffer, with the
   * pre-state rule (an event never extends the combinations it just
   * created) and the loop rule (a loop-stage event also re-adds the
   * stage's own pre-count — every existing combination may absorb
   * it). Emission on count change (monotone — it only grows). The
   * count never "completes": an active user's state is k longs
   * forever, an all-zero one drops losslessly.
   */
  def streamingFunnelCombinations(spark: SparkSession, events: DataFrame,
      stages: Seq[(String, Boolean)],
      watermark: String): Dataset[FunnelAnyUpdate] = {
    require(stages.nonEmpty, "need at least one stage")
    runCep(events, watermark, combinationsMachine(stages.toIndexedSeq))
  }

  /** Streaming `followedByAny` combination COUNT —
    * [[graft.operators.Funnel.funnelAnyCount]]'s twin: the
    * combinations counter with no loop stage. */
  def streamingFunnelAnyCount(spark: SparkSession, events: DataFrame,
      stages: Seq[String], watermark: String): Dataset[FunnelAnyUpdate] =
    streamingFunnelCombinations(spark, events, stages.map(_ -> false),
      watermark)

  /** The skip-past-last pointer machine: `n` advances, `partial` the
    * in-progress match's witnesses (length = advances mod k), `held`
    * the completed matches `(match_idx, witnesses)` not yet emitted. */
  final case class FunnelMatchesState(n: Long, partial: Seq[Long],
      held: Seq[(Long, Seq[Long])])
  final case class FunnelMatchEmit(user_id: Long, match_idx: Long,
      ts_us: Seq[Long])

  /** Skip-past-last enumeration; `absence` = (window µs, blocker type)
    * turns the emit-on-completion into the absence alarm's holding
    * pen. */
  private def matchesMachine(stages: IndexedSeq[String], maxMatches: Int,
      absence: Option[(Long, String)])
      : Cep[FunnelMatchesState, FunnelMatchEmit] = {
    val k = stages.length
    def deadlines(s: FunnelMatchesState): Seq[Long] =
      absence.fold(Seq.empty[Long])(a => s.held.map(_._2.head + a._1))
    Cep[FunnelMatchesState, FunnelMatchEmit](
      init = FunnelMatchesState(0L, Nil, Nil),
      step = { case (s, (us, _, tp, _)) =>
        var n = s.n
        var partial = s.partial
        var held = s.held
        if (tp == stages((n % k).toInt)) {
          n += 1
          partial = partial :+ us
          if (partial.length == k) {
            val matchIdx = n / k
            if (matchIdx <= maxMatches &&
                absence.forall(a => partial.last - partial.head <= a._1))
              held = held :+ ((matchIdx, partial))
            partial = Nil
          }
        }
        absence.foreach { case (w, absentType) =>
          if (tp == absentType)
            held = held.filterNot { case (_, m) =>
              m.last < us && us <= m.head + w }
        }
        FunnelMatchesState(n, partial, held)
      },
      idle = s => s.n == 0L && s.held.isEmpty,
      wakeUps = deadlines,
      drain = { (u, s, wmUs) =>
        val (matured, held) = s.held.partition { case (_, w) =>
          absence.forall(a => w.head + a._1 <= wmUs) }
        (s.copy(held = held),
          matured.sortBy(_._1).map { case (i, w) => FunnelMatchEmit(u, i, w) })
      })
  }

  /**
   * Streaming match ENUMERATION —
   * [[graft.operators.Funnel.funnelMulti]]'s twin (AFTER MATCH SKIP
   * PAST LAST EVENT): each completed non-overlapping match emits
   * exactly ONE `(user_id, match_idx, witnesses)` row at the moment its
   * last stage matures behind the [[cepUpdate]] buffer, up to
   * `maxMatches` per user (later matches still advance the counter
   * silently, the batch cap contract; the batch `n_matches` total is
   * the stream's running high-water mark and is not re-emitted per
   * row). State is O(k) forever for an active user — the pointer must
   * persist because skip-past-last matching never "completes"; a user
   * whose counter is 0 with nothing buffered is dropped losslessly.
   */
  def streamingFunnelMulti(spark: SparkSession, events: DataFrame,
      stages: Seq[String], maxMatches: Int,
      watermark: String): Dataset[FunnelMatchEmit] = {
    require(stages.nonEmpty && maxMatches >= 1,
      "need stages and maxMatches >= 1")
    runCep(events, watermark,
      matchesMachine(stages.toIndexedSeq, maxMatches, None))
  }

  /**
   * Streaming ABSENCE alarm — [[graft.operators.Funnel
   * .funnelMatchesAbsence]]'s twin (Flink's trailing
   * `notFollowedBy(B).within(T)`, the one pattern shape whose match
   * can only emit on TIME — the moment the window closes without the
   * blocker — which is exactly Flink's timed-out-partial-match
   * emission). The [[streamingFunnelMulti]] pointer machine enumerates
   * skip-past-last matches over the mature (watermark-ordered) event
   * stream; a completed match whose span fits the window enters the
   * holding pen instead of emitting; a mature `absentType` event at
   * time t kills every held match with completion < t ≤ start + T
   * (time comparisons, the batch contract — a blocker sharing the
   * completion's exact timestamp does not kill); once the watermark
   * passes start + T the tail is fully observed and the match emits.
   * The held deadlines are the machine's wake-ups, so matches mature
   * even when the user's stream goes quiet — the ALARM fires without
   * a further event, the absence semantics' whole point. Held state is
   * bounded by `maxMatches`; `match_idx` gaps mark window-cut or
   * blocker-killed matches (batch contract; the batch `n_matches`
   * recount is deliberately absent mid-stream — StreamingSpec pins the
   * drain-time recount law instead).
   */
  def streamingFunnelMatchesAbsence(spark: SparkSession,
      events: DataFrame, stages: Seq[String], maxMatches: Int,
      windowMicros: Long, absentType: String,
      watermark: String): Dataset[FunnelMatchEmit] = {
    require(stages.nonEmpty && maxMatches >= 1 && windowMicros > 0,
      "need stages, maxMatches >= 1 and windowMicros > 0")
    runCep(events, watermark, matchesMachine(stages.toIndexedSeq,
      maxMatches, Some((windowMicros, absentType))))
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
   * form's: [[streamingFunnelMatchesAbsence]]'s holding pen over the
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
    * (mu, mo) is the running after-match-skip threshold; `ready` the
    * surviving matches `(match_idx, witnesses)` not yet emitted. */
  final case class FunnelSkipState(n: Long, mu: Long, mo: Long,
      buckets: Seq[Seq[Seq[Long]]], ready: Seq[(Long, Seq[Long])])

  private def skipMachine(stages: Seq[(String, Int)],
      skip: graft.operators.Funnel.SkipStrategy, maxMatches: Int)
      : Cep[FunnelSkipState, FunnelMatchEmit] = {
    val types = graft.operators.Funnel.expandStages(stages)
    val k = types.length
    val (anchor, inclusive) = graft.operators.Funnel.skipAnchor(stages, skip)
    def survives(c: Seq[Long], mu: Long, mo: Long): Boolean = {
      val (su, so) = (c(0), c(1))
      if (inclusive) su > mu || (su == mu && so >= mo)
      else su > mu || (su == mu && so > mo)
    }
    Cep[FunnelSkipState, FunnelMatchEmit](
      init = FunnelSkipState(0L, Long.MinValue, Long.MinValue,
        Seq.fill(k - 1)(Nil), Nil),
      step = { case (s, (us, oid, tp, _)) =>
        var n = s.n
        var mu = s.mu
        var mo = s.mo
        var ready = s.ready
        val pre = s.buckets.toArray
        val buckets = pre.clone()
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
          if (survives(c, mu, mo)) {
            n += 1
            if (n <= maxMatches)
              ready = ready :+ ((n, c.indices.collect {
                case i if i % 2 == 0 => c(i) }))
            anchor.foreach { a =>
              val (au, ao) = (c(2 * (a - 1)), c(2 * (a - 1) + 1))
              if (au > mu || (au == mu && ao > mo)) { mu = au; mo = ao }
            }
          }
        }
        FunnelSkipState(n, mu, mo, buckets.toSeq, ready)
      },
      idle = s => s.n == 0L && s.buckets.forall(_.isEmpty),
      // semantic GC: a branch whose start is behind the threshold can
      // never survive the pruning scan — drop it (output-invariant)
      drain = (u, s, _) => (
        s.copy(buckets = s.buckets.map(_.filter(survives(_, s.mu, s.mo))),
          ready = Nil),
        s.ready.map { case (i, w) => FunnelMatchEmit(u, i, w) }))
  }

  /**
   * Streaming after-match-skip enumeration —
   * [[graft.operators.Funnel.funnelSkip]]'s twin: per-user state is
   * the per-start branch NFA's buckets (all branches in a bucket
   * advance together) plus the running anchor threshold, so the
   * pruning scan happens ONLINE — each completion is checked against
   * the threshold the moment its last stage matures, which is exactly
   * the batch completion-order scan because the [[cepUpdate]] buffer
   * folds mature events in watermark order. Each surviving match emits
   * exactly ONE `(user_id, match_idx, witnesses)` row, up to
   * `maxMatches` (later survivors advance the counter silently, the
   * batch cap contract). Branches whose start falls behind the
   * threshold can never emit and are garbage-collected at each flush —
   * under an anchored strategy the live state is bounded by the
   * branches started since the last emitted match's anchor
   * (SkipToNext keeps every live branch, the batch contract). A user
   * with no branches, no count and nothing buffered drops losslessly.
   */
  def streamingFunnelSkip(spark: SparkSession, events: DataFrame,
      stages: Seq[(String, Int)],
      skip: graft.operators.Funnel.SkipStrategy, maxMatches: Int,
      watermark: String): Dataset[FunnelMatchEmit] = {
    graft.operators.Funnel.skipRequire(stages, skip, maxMatches)
    runCep(events, watermark, skipMachine(stages, skip, maxMatches))
  }

  // -------------------------------------------------------------------
  // Streaming absence detection (the j6 batch notFollowedBy's twin)
  // -------------------------------------------------------------------

  /** A view/purchase event of the absence detector. */
  final case class FunnelEvent(user_id: Long, usMicros: Long,
      eventId: Long, tp: String, ts: java.sql.Timestamp)
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
