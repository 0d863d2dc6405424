package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import scala.reflect.runtime.universe.TypeTag

import graft.ColumnMeta
import graft.operators.{Cep, Enrich, Pattern}

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
 * keyed-state/timer analogue. [[streamingCep]] runs any CEP
 * [[graft.operators.Pattern]] — the batch runner's own machine
 * ([[graft.operators.Cep]]) — through one event-time buffer,
 * [[cepUpdate]].
 *
 * Serializable because the CEP buffer's closures are closures over
 * this object's helpers that ship to the executors; a Scala 2.13
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

  /** One idempotent micro-batch of deletes against a persisted index
    * of any family ([[graft.operators.IndexStore.delete]] under a
    * `<table>_deletes` ledger of batch ids) — a [[streamingIndexSink]]
    * writer. Replaying a committed batch id is a no-op; within a fresh
    * batch the tombstone write is idempotent anyway (anti-join
    * semantics are insensitive to duplicate tombstones), so the
    * ledger's job is keeping the delete list metadata-sized under
    * retries. Ordering between a concurrent append stream and this
    * delete stream is the CALLER's contract (a deleted id must not be
    * re-appended before a compaction). */
  def deleteBatch(batch: DataFrame, batchId: Long, idCol: String,
      table: String): Unit = {
    val spark = batch.sparkSession
    val ledger = s"${table}_deletes"
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
      if (!batch.isEmpty)
        graft.operators.IndexStore.delete(batch, idCol, table)
      import spark.implicits._
      Seq(batchId).toDF("batch_id").write
        .mode(org.apache.spark.sql.SaveMode.Append)
        .format("parquet").saveAsTable(ledger)
    }
  }

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
    *     visible, and a multi-relation batch — BM25 postings and docs,
    *     MinHash entries and docs — commits all its relations at once):
    *     [[graft.operators.VectorOps.appendToIndexCommitted]],
    *     [[graft.operators.VectorOps.appendToPqIndexCommitted]],
    *     [[graft.operators.Retrieval.appendToBm25IndexCommitted]] and
    *     [[graft.operators.TextDedup.appendToMinhashIndexCommitted]];
    *     the committed side runs are read by every load until
    *     [[graft.operators.IndexStore.compact]] folds them into the base;
    *   - deletes, idempotent per batch id by a ledger: [[deleteBatch]]
    *     (a periodic compaction — maintenance cadence, not per batch —
    *     physically removes tombstoned rows and keeps the probe-time
    *     anti-join metadata-sized).
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
    * ids is tombstoned in EVERY listed index of the corpus under one
    * [[streamingIndexSink]] batch, each index guarded by its own
    * [[deleteBatch]] ledger — so a replayed batch is a no-op per
    * index, and a crash between index writes completes exactly the
    * missing ones on replay (per-index exactly-once; the composition is
    * idempotent because tombstone writes are). Per-batch cost stays
    * O(|ids|) × indexes, never index-sized. All listed indexes must
    * share the stream's id space — run one sink per id space when
    * corpora differ (the t95 rule). */
  def streamingForget(stream: DataFrame, idCol: String,
      tables: Seq[String], checkpoint: String): StreamingQuery = {
    require(tables.nonEmpty,
      "streamingForget with no indexes is a no-op — pass at least one")
    streamingIndexSink(stream, checkpoint) { (batch, batchId) =>
      tables.foreach(deleteBatch(batch, batchId, idCol, _))
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
  // Streaming CEP: one event-time buffer driving a Pattern's machine
  // -------------------------------------------------------------------

  /** One CEP input row: event time, event_id, type and the stage
    * condition VALUE (integer fixed-point, the caller's conversion; 0
    * for the typed shapes, whose machines never read it). */
  final case class FunnelValueEvent(user_id: Long, usMicros: Long,
      eventId: Long, tp: String, v: Long, ts: java.sql.Timestamp)

  /** The driver's per-key state: the machine's own state, the events
    * the watermark has not passed yet, and the event time at which the
    * machine first became done ([[Cep.NoStart]] before that). */
  final case class CepBuffer[S](machine: S,
      pending: Seq[(Long, Long, String, Long)], doneUs: Long)

  /**
   * The one event-time buffer behind [[streamingCep]] — Flink CEP's
   * keyed buffer flushed at the watermark, on Spark primitives. The
   * machine is the batch runner's own ([[Cep]]). Pattern folds are
   * ORDER-SENSITIVE (an early `view` arriving after a later `click`
   * changes the verdict), so events are never folded in arrival order:
   * the key's `pending` buffer holds the events the watermark has not
   * passed, and each invocation folds only the mature prefix, in (event
   * time, event_id) order. Late events (behind the watermark on
   * arrival) are dropped by the stream's watermark filter — standard
   * CEP best-effort lateness.
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
   *     a finite `retentionMs` — `retainFrom + retentionMs`, clamped
   *     past the watermark, which the timer must not sit behind.
   *     GroupState clears a timeout that an invocation does not re-set,
   *     so no stale flush timer can fire on a done entry;
   *   - the output is one row per drained match for a `perMatch`
   *     pattern; otherwise the state's row when it changed, or on first
   *     sight of a retained entry (an entry removed at once emits no
   *     first-sight row: it would repeat on every touching batch,
   *     breaking emit-once).
   */
  private def cepUpdate[S](m: Cep.Machine[S], retentionMs: Long,
      perMatch: Boolean, rows: (S, Seq[Cep.Match]) => Seq[Seq[Any]])(
      key: Long, in: Iterator[FunnelValueEvent],
      state: GroupState[CepBuffer[S]]): Iterator[Row] = {
    val first = !state.exists
    val prev = state.getOption.getOrElse(CepBuffer(m.init, Nil, Cep.NoStart))
    if (state.hasTimedOut && prev.pending.isEmpty && m.done(prev.machine)) {
      state.remove()
      return Iterator.empty
    }
    val wmMs = state.getCurrentWatermarkMs()
    val (mature, immature) = (prev.pending ++
      in.map(e => (e.usMicros, e.eventId, e.tp, e.v)))
      .partition(_._1 <= wmMs * 1000L)
    var s = prev.machine
    var doneUs = prev.doneUs
    mature.sortBy(e => (e._1, e._2)).foreach { e =>
      s = m.step(s, e)
      if (doneUs == Cep.NoStart && m.done(s)) doneUs = e._1
    }
    val (settled, matches) = m.drain(s, wmMs * 1000L)
    s = settled
    val rest = immature.filter(e => m.keeps.fold(!m.done(s))(_(s, e)))
    val removable = m.idle(s) && rest.isEmpty
    if (removable) {
      if (!first) state.remove()
    } else {
      state.update(CepBuffer(s, rest, doneUs))
      val retention =
        if (m.done(s) && rest.isEmpty && retentionMs != Long.MaxValue)
          Seq(math.max(m.retainFrom(s, doneUs) / 1000L + retentionMs,
            wmMs + 1L))
        else Nil
      val timers =
        (rest.map(_._1) ++ m.wakeUps(s)).map(_ / 1000L + 1L) ++ retention
      if (timers.nonEmpty) state.setTimeoutTimestamp(timers.min)
    }
    val out =
      if (perMatch) rows(s, matches)
      else {
        val now = rows(s, Nil)
        if ((first && !removable) || now != rows(prev.machine, Nil)) now
        else Nil
      }
    out.iterator.map(vs => Row.fromSeq(key +: vs))
  }

  /** The streaming plumbing: watermark the stream, project the
    * [[FunnelValueEvent]] (`tp` and `v` are the columns the machine reads
    * as the event type and value), key by user and run the machine
    * through [[cepUpdate]], emitting `(user_id, fields..)` rows. */
  private def runCep[S <: Product](events: DataFrame, watermark: String,
      m: Cep.Machine[S], tp: Column, v: Column, fields: Seq[StructField],
      perMatch: Boolean, retentionMs: Long)(
      rows: (S, Seq[Cep.Match]) => Seq[Seq[Any]])(
      implicit tag: TypeTag[S]): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      // the watermarked ts column must SURVIVE the projection — the
      // unsupported-operation checker requires a watermark-tagged
      // event-time column in the stateful operator's child
      .select(col("user_id"), unix_micros(col("ts")).as("usMicros"),
        col("event_id").as("eventId"), tp.as("tp"), v.as("v"), col("ts"))
      .as[FunnelValueEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(
        cepUpdate(m, retentionMs, perMatch, rows))(
        implicitly[Encoder[CepBuffer[S]]],
        Encoders.row(StructType(StructField("user_id", LongType) +: fields)))
      .toDF()
  }

  /**
   * Run `pattern` over an event stream (`user_id`, `event_id`, `ts`,
   * `event_type` and any column the pattern reads) — the streaming
   * runner of every [[graft.operators.Pattern]], the batch runner's
   * ([[graft.operators.Funnel.run]]) twin. `watermark` is the allowed
   * lateness, and therefore the event-time reordering window the buffer
   * absorbs. Rows come in the batch layout minus the pattern's
   * drain-time columns (`n_matches`, final only once the input ends), in
   * Update mode: a state pattern emits its row whenever it changes, a
   * match pattern one row per match once the match is final.
   *
   * Contract (StreamingSpec's stream≡batch table): with any on-time
   * arrival order, the last emission per user (every emission, for a
   * match pattern) equals the batch runner's rows over the same events.
   * A COMPLETED match keeps a tombstone so stragglers don't restart the
   * pattern — for the stream's life with the default infinite
   * `matchRetentionMs`, else until the watermark passes `completion +
   * retention`, after which a new event starts a NEW instance; patterns
   * that never complete keep their state for the stream's life.
   *
   * A pattern whose answer exists only once the input ends (the
   * `followedByAny` enumeration join and the range enumerations'
   * trailing short match) is refused.
   */
  def streamingCep(events: DataFrame, pattern: Pattern, watermark: String,
      matchRetentionMs: Long = Long.MaxValue): DataFrame = {
    require(pattern.streamEndOnly.isEmpty,
      s"${pattern.name} does not stream: " +
        pattern.streamEndOnly.getOrElse(""))
    val in = Pattern.Input(events, "user_id", "event_type", "ts", "event_id")
    def folded[S <: Product](f: Pattern.Fold[S]): DataFrame =
      runCep(events, watermark, f.machine, f.tp(in), f.v, f.fields,
        f.perMatch, matchRetentionMs)(f.rows)(f.tag)
    val out = pattern.plan match {
      case f: Pattern.Fold[_] => folded(f)
      case _: Pattern.Join => throw new IllegalStateException(pattern.name)
    }
    pattern.post(out).drop(pattern.drainCols: _*)
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
