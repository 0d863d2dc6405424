package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.{ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{OutputFile, PositionOutputStream}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils, ParquetWriteSupport}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import graft.TypeMapping

/**
 * Generated DDL + partitioned-parquet sink (SURVEY §2 O3–O4, S6).
 *
 * The reference generates `CREATE TABLE IF NOT EXISTS … WITH
 * (format-version=2, partitioning=month(load_dttm), parquet, zstd,
 * target-file-size 512MB)` (FB:884–909) and writes via `INSERT INTO …
 * SELECT` (FB:914–935). Spark-natively: DDL falls out of
 * `StructType.toDDL`; the month(load_dttm) partition transform becomes a
 * derived `load_month` column (plain parquet has no transform
 * partitioning — an Iceberg catalog would accept `PARTITIONED BY
 * (months(load_dttm))` unchanged); zstd + file-size-targeting are writer
 * options.
 *
 * Scale note (100 TB): month(load_dttm) yields one partition per load
 * month — analytic reads prune on it (comment FB:900: "for StarRocks
 * analytical reads"). 512 MB file targeting keeps file counts sane at
 * scale; with AQE enabled Spark coalesces shuffle output to match.
 */
object Ddl {
  val ParquetCompression = "zstd"
  val TargetFileSizeBytes: Long = 512L * 1024 * 1024 // FB:80
  val PartitionColumn = "load_month"

  /** O3: CREATE TABLE statement for the enriched schema (FB:884–909). */
  def buildCreateTableSql(table: String, schema: StructType): String = {
    val cols = schema.fields.map { f =>
      val notNull = if (f.nullable) "" else " NOT NULL"
      s"  `${f.name}` ${TypeMapping.ddlType(f.dataType)}$notNull"
    }.mkString(",\n")
    s"""CREATE TABLE IF NOT EXISTS `$table` (
       |$cols,
       |  `$PartitionColumn` STRING
       |)
       |USING parquet
       |PARTITIONED BY (`$PartitionColumn`)
       |TBLPROPERTIES (
       |  'parquet.compression' = '$ParquetCompression',
       |  'write.target-file-size-bytes' = '$TargetFileSizeBytes'
       |)""".stripMargin
  }

  /** Probe results keyed by (schema, target): one bounded probe job per
    * distinct row layout, not per write — bytes/row is a property of the
    * schema + encoding, so multi-table batches and append streams reuse
    * the measurement instead of re-executing their upstream plan. */
  private val probeCache =
    scala.collection.concurrent.TrieMap.empty[(StructType, Long), Long]

  /** Number of probe JOBS actually executed (test observability for the
    * cache: a second write of the same schema must not re-probe). */
  @volatile private[graft] var probesRun: Int = 0

  private[graft] def clearProbeCache(): Unit = { probeCache.clear(); probesRun = 0 }

  /** Measure compressed bytes/row on a bounded sample and derive the
    * `maxRecordsPerFile` cap that yields ~`target`-sized files
    * (`target * rows / bytes`). Returns None when the sample is empty.
    * The measurement is [[encodedSize]] of `df.limit(sampleRows)`: the
    * bytes the sink's own zstd parquet writer produces for the sample,
    * counted in memory by the tasks that encode it. Nothing is written,
    * listed, read back or deleted, and the count cannot disagree with a
    * listing, on any cluster. The probe costs one bounded action — O(1)
    * relative to the table — and is cached per (schema, target).
    *
    * `dest` is unused; it stays in the signature for positional callers. */
  def estimateRecordsPerFile(df: DataFrame, dest: String,
      target: Long = TargetFileSizeBytes, sampleRows: Int = 10000): Option[Long] = {
    val key = (df.schema, target)
    probeCache.get(key).orElse {
      probesRun += 1
      val (rows, bytes) = encodedSize(df.limit(sampleRows))
      val measured = if (rows == 0) None else Some(math.max(1L, target * rows / bytes))
      // an empty sample is NOT cached: the width of a schema whose first
      // write happened to be empty should be measured on the next
      // non-empty write, not disabled forever
      measured.foreach(v => probeCache.put(key, v))
      measured
    }
  }

  /** Rows of `df` and the bytes of the zstd parquet files Spark's writer
    * would produce for them, one file per non-empty partition, in one
    * action. Each task encodes its rows with Spark's `ParquetWriteSupport`
    * under the conf `ParquetUtils.prepareWrite` gives a
    * [[writePartitioned]] write, into a [[ByteCountingOutputFile]] that
    * keeps only the count. */
  private[graft] def encodedSize(df: DataFrame): (Long, Long) = {
    val spark = df.sparkSession
    val sqlConf = spark.sessionState.conf
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    ParquetUtils.prepareWrite(sqlConf, job, df.schema,
      new ParquetOptions(Map("compression" -> ParquetCompression), sqlConf))
    val codec = CompressionCodecName.fromConf(
      job.getConfiguration.get(ParquetOutputFormat.COMPRESSION))
    val conf = new SerializableConfiguration(job.getConfiguration)
    df.queryExecution.toRdd.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val out = new ByteCountingOutputFile
        val writer = new SampleWriterBuilder(out).withConf(conf.value)
          .withCompressionCodec(codec).build()
        var rows = 0L
        try it.foreach { r => writer.write(r); rows += 1 } finally writer.close()
        Iterator((rows, out.bytes))
      }
    }.collect().foldLeft((0L, 0L)) { case ((r, b), (r1, b1)) => (r + r1, b + b1) }
  }

  private final class SampleWriterBuilder(out: OutputFile)
      extends ParquetWriter.Builder[InternalRow, SampleWriterBuilder](out) {
    override protected def self(): SampleWriterBuilder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  /** A parquet [[OutputFile]] that discards what is written to it and
    * counts the bytes. */
  private final class ByteCountingOutputFile extends OutputFile {
    var bytes = 0L
    private def stream: PositionOutputStream = new PositionOutputStream {
      override def getPos: Long = bytes
      override def write(b: Int): Unit = bytes += 1
      override def write(b: Array[Byte], off: Int, len: Int): Unit = bytes += len
    }
    override def create(blockSizeHint: Long): PositionOutputStream = stream
    override def createOrOverwrite(blockSizeHint: Long): PositionOutputStream = stream
    override def supportsBlockSize(): Boolean = false
    override def defaultBlockSize(): Long = 0L
  }

  /** S6 + O4: write the enriched frame as month-partitioned zstd parquet.
    * `replace` drops-and-recreates (SaveMode.Overwrite); `append` is
    * create-if-not-exists (FB:254–259).
    *
    * File-size targeting (FB:80 / FB:904's 512 MB): `maxRecordsPerFile`
    * derived from a measured sample caps files at ~`targetFileSizeBytes`.
    * The cap bounds the LARGE side only — small files from fine-grained
    * shuffle output are AQE's `coalescePartitions` job (enabled in the
    * session config), the Spark analogue of Iceberg's bin-packing. */
  def writePartitioned(
      df: DataFrame,
      path: String,
      mode: SaveMode = SaveMode.Append,
      loadDttmCol: String = "load_dttm",
      targetFileSizeBytes: Option[Long] = Some(TargetFileSizeBytes)): Unit = {
    val partitioned =
      df.withColumn(PartitionColumn, date_format(col(loadDttmCol), "yyyy-MM"))
    val writer = partitioned.write
      .mode(mode)
      .option("compression", ParquetCompression)
      .partitionBy(PartitionColumn)
    val sized = targetFileSizeBytes
      .flatMap(t => estimateRecordsPerFile(partitioned.drop(PartitionColumn), path, t))
      .map(n => writer.option("maxRecordsPerFile", n))
      .getOrElse(writer)
    sized.parquet(path)
  }

  /** Read back a table written by [[writePartitioned]]. */
  def readTable(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop(PartitionColumn)

  /**
   * Bucketed catalog table: pre-shuffle the data ONCE at write time so
   * every later equi-join/aggregation on `key` is exchange-free — the
   * 100 TB technique for a table joined repeatedly on the same key (the
   * dedup pair tables, the enriched sink joined back by order key). Both
   * sides bucketed by the same key and count → `SortMergeJoin` with NO
   * Exchange on either side (asserted in DdlSpec). Spark bucketing
   * requires the session catalog, hence `saveAsTable` rather than a bare
   * path write.
   *
   * Layout gate: rows are clustered onto their bucket before the write
   * (one file per bucket) only while the estimated bytes per bucket stay
   * at or below [[ClusterMaxBucketBytesConf]]; above it the write keeps
   * its input parallelism. The estimate is the optimizer's
   * `sizeInBytes`, except when that is the unknown-stats sentinel
   * (`spark.sql.defaultSizeInBytes`, what an RDD-backed frame reports):
   * then the frame is persisted, materialized, and the gate reads its
   * materialized size, so unknown stats never pick a layout by accident.
   */
  def writeBucketedTable(df: DataFrame, table: String, key: String,
      numBuckets: Int, mode: SaveMode = SaveMode.Overwrite): Unit = {
    if (mode == SaveMode.Overwrite) dropTableAndLocation(df.sparkSession, table)
    // cluster rows onto their bucket BEFORE the write: a bucketed write
    // from P input partitions otherwise emits up to P×numBuckets files
    // (each task opens one file per bucket it sees), and every later
    // bucket-pruned probe pays one task per file (guide §6 small-files;
    // measured r21: t83's probe read 104 tasks over the splintered
    // layout vs 18 over the clustered one). Repartitioning by the
    // bucket key with numBuckets partitions uses the same Murmur3 hash
    // as the bucket assignment, so each task holds exactly one bucket —
    // one file per bucket, and the per-file sortBy sorts once per
    // bucket. Layout-only: rows, bucket membership, and in-file order
    // are unchanged.
    //
    // THRESHOLD-GATED (r22): clustering caps write parallelism at
    // numBuckets and makes each bucket ONE file, so it only applies
    // while a bucket fits the target file size; above that the
    // splintered-but-parallel default write is the right trade (many
    // tasks, several files per bucket, no single-task sort of a
    // corpus-scale bucket).
    val spark = df.sparkSession
    val maxBucketBytes = spark.conf.getOption(ClusterMaxBucketBytesConf)
      .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
      .getOrElse(DefaultClusterMaxBucketBytes)
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val unknown = est >= spark.sessionState.conf.defaultSizeInBytes
    val src = if (unknown) df.persist() else df
    try {
      val estBytes = if (!unknown) est else {
        src.count()
        // a fresh plan of the persisted frame reads the cache's real size
        spark.sessionState.executePlan(src.queryExecution.logical)
          .optimizedPlan.stats.sizeInBytes
      }
      val clustered =
        if (estBytes / numBuckets <= BigInt(maxBucketBytes))
          src.repartition(numBuckets, col(key))
        else src
      clustered
        .write
        .mode(mode)
        .option("compression", ParquetCompression)
        .bucketBy(numBuckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    } finally if (unknown) src.unpersist(blocking = false)
  }

  /** [[writeBucketedTable]] clusters rows onto their bucket before the
    * write ONLY while the estimated per-bucket bytes stay at or below
    * this conf (default 512 MB, the guide-§6 target file size): the
    * clustered write emits exactly ONE file per bucket and caps write
    * parallelism at numBuckets, which is the small-files win at
    * index/metadata scale but a straggler-and-spill machine when a
    * bucket is hundreds of GB (one task would sort and write all of
    * it — r21 verdict item 4). Byte-suffixed values ("512m") accepted. */
  val ClusterMaxBucketBytesConf = "spark.graft.write.bucket.clusterMaxBytes"
  val DefaultClusterMaxBucketBytes: Long = 512L << 20

  /** Make an Overwrite `saveAsTable` idempotent ACROSS sessions: the
    * session catalog is per-JVM, so a warehouse directory left by a
    * previous run is invisible to `SaveMode.Overwrite` (which only
    * replaces CATALOGED tables) and `saveAsTable` fails with
    * LOCATION_ALREADY_EXISTS. Drop the catalog entry if present AND
    * clear the default location — rebuild-over-a-prior-run is the normal
    * production cadence for a persisted index, not an error. */
  def dropTableAndLocation(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    val cat = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser
      .parseMultipartIdentifier(table) match {
      case Seq(t) => org.apache.spark.sql.catalyst.TableIdentifier(t)
      case Seq(db, t) =>
        org.apache.spark.sql.catalyst.TableIdentifier(t, Some(db))
      case parts => throw new IllegalArgumentException(
        s"dropTableAndLocation supports 1- or 2-part names, got " +
          parts.mkString("."))
    }
    // Resolve the CATALOGED location before dropping (a custom-LOCATION
    // table's data is not at the default path); only when the table is
    // absent fall back to the default path — that clears the leftover
    // warehouse directory of a previous JVM's managed table, which is
    // exactly the cross-session idempotency this helper exists for.
    val loc = (if (cat.tableExists(ident)) {
      cat.getTableMetadata(ident).storage.locationUri
        .map(u => new org.apache.hadoop.fs.Path(u))
    } else None).getOrElse(
      new org.apache.hadoop.fs.Path(cat.defaultTablePath(ident)))
    spark.sql(s"DROP TABLE IF EXISTS ${ident.quotedString}")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  // ------------------------------------------------------------------
  // Tombstone deletes for persisted append-only indexes (merge-on-read)
  // ------------------------------------------------------------------

  /** Side table holding the DELETED ids of `<table>` — the Iceberg-v2
    * equality-delete-file shape on the session catalog: parquet data
    * files are immutable, so a delete writes the doomed ids to a tiny
    * side relation and every probe anti-joins it until a compaction
    * physically rewrites the survivors. */
  def tombstoneTable(table: String): String = s"${table}_deleted"

  /** Record `ids` (one column, renamed `id`) as deleted from `table`.
    * Append-mode: repeated deletes accumulate; [[IndexStore.compact]]
    * clears them.
    * Caller contract (the Iceberg sequence-number rule, which a side
    * table cannot express): a deleted id must not be RE-appended until
    * a compaction has cleared the tombstones — the anti-join cannot
    * distinguish the resurrected row from the dead one. */
  def appendTombstones(spark: org.apache.spark.sql.SparkSession,
      table: String, ids: DataFrame, idCol: String): Unit = {
    val ts = tombstoneTable(table)
    // same cross-JVM guard as the streaming append ledger: a tombstone
    // DIRECTORY invisible to this session's catalog is a previous run's
    // leftover, not state
    if (!spark.catalog.tableExists(ts)) dropTableAndLocation(spark, ts)
    ids.select(col(idCol).cast("long").as("id")).distinct()
      .write.mode(SaveMode.Append).format("parquet").saveAsTable(ts)
  }

  /** `df` minus the tombstoned rows of `table` (no-op when no deletes
    * are recorded). The delete list is broadcast: it is metadata-sized
    * BY CONTRACT — compaction is the pressure valve that keeps it so
    * (the same bound Iceberg puts on accumulated delete files before a
    * rewrite). BroadcastHashJoin LeftAnti preserves the probe side's
    * partitioning, so bucket-pruned index probes stay exchange-free. */
  def withoutDeleted(spark: org.apache.spark.sql.SparkSession,
      table: String, df: DataFrame, idCol: String): DataFrame = {
    val ts = tombstoneTable(table)
    if (!spark.catalog.tableExists(ts)) df
    else {
      val del = spark.table(ts)
      df.join(org.apache.spark.sql.functions.broadcast(del),
        df(idCol) === del("id"), "left_anti")
    }
  }

  /** Drop the tombstone table of `table` (post-compaction, or on a
    * fresh index build — a rebuild starts with zero deletes). */
  def dropTombstones(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit =
    dropTableAndLocation(spark, tombstoneTable(table))

  /** Rewrite `table` to hold exactly `rows`, preserving the catalog
    * bucketing spec (read from the table's own metadata, so a
    * build/compact bucket-count mismatch cannot happen) — Iceberg's
    * rewrite_data_files on the session catalog. `rows` may read `table`
    * itself: it is written to a side table first, then swapped in.
    * [[IndexStore.compact]] passes base ∪ side batches minus
    * tombstones, which also merges append-accumulated small files. */
  def compactTable(spark: org.apache.spark.sql.SparkSession,
      table: String, rows: DataFrame): Unit = {
    val cat = spark.sessionState.catalog
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(table)
    val bucketSpec = cat.getTableMetadata(ident).bucketSpec
    val tmp = s"${table}_compacting"
    bucketSpec match {
      case Some(bs) =>
        writeBucketedTable(rows, tmp, bs.bucketColumnNames.head,
          bs.numBuckets)
      case None =>
        dropTableAndLocation(spark, tmp)
        rows.write.mode(SaveMode.Overwrite)
          .option("compression", ParquetCompression)
          .format("parquet").saveAsTable(tmp)
    }
    // swap: the rename moves the managed location under the original
    // name and carries the bucket spec with the metadata
    dropTableAndLocation(spark, table)
    spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
  }
}
