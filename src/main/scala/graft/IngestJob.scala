package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.operators._
import graft.sources.JdbcSource

/**
 * Orchestration (SURVEY §2 O1–O9, §3 E1): the reference's `main`
 * (FB:98–417) re-expressed over Spark actions, as ONE table-load
 * pipeline, [[IngestJob.load]], for both sources — parquet standing in
 * for the database ([[IngestJob.IngestConfig]]) and a live JDBC database
 * ([[graft.sources.JdbcIngest.JdbcConfig]]). Per table: access probe →
 * schema discovery → order-by resolution → watermark freeze → frozen
 * source COUNT → watermark-bounded (resumable) scan → 11-column lineage
 * enrichment with canonical hashes → month-partitioned zstd parquet
 * write (append/replace) → count + dual-hash consistency check with
 * drill-down. The source value ([[IngestJob.Source]]) answers only the
 * questions on which the two sources differ.
 *
 * The reference batches ≤N tables per Flink job graph and rebuilds the
 * whole environment between batches (FB:177–413) purely to bound DAG size
 * and isolate failures; Spark submits one action per table from a
 * long-lived session, so "batching" degenerates to a loop with per-table
 * failure isolation — the 60-line env-rebuild block (FB:302–352) has no
 * Spark analogue and is intentionally absent.
 */
object IngestJob {

  /** O2: source-table → sink-table mapping (`TableMapping` FB:471–484).
    * MIS semantics: case-preserving, no `$`→`_` mangling (MIS:437–468). */
  final case class TableMapping(source: String, sink: String)

  object TableMapping {
    /** Parse `--tables A,B,SRC:dst` (FB:438–466 / MIS:437–468). */
    def parse(spec: String): Seq[TableMapping] =
      spec.split(",").filter(_.nonEmpty).toSeq.map { t =>
        t.split(":") match {
          case Array(s, d) => TableMapping(s.trim, d.trim)
          case Array(s)    => TableMapping(s.trim, s.trim)
          case _ => throw new IllegalArgumentException(s"bad table spec: $t")
        }
      }

    /** Iceberg rejects `$` in table names (Firebird system/legacy tables
      * carry it): `sanitizeIcebergName` FB:427–429. */
    def sanitizeSinkName(name: String): String = name.replace("$", "_")

    /** FB-variant normalization (FB:438–466): the SOURCE name is
      * uppercased (Firebird stores unquoted identifiers uppercase), the
      * SINK name lowercased — auto-derived sinks additionally get
      * `$`→`_`; an EXPLICIT `src:dst` sink is lowercased but not
      * sanitized, exactly as the reference does it. */
    def parseFb(spec: String): Seq[TableMapping] =
      spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { t =>
        t.split(":", 2) match {
          case Array(s, d) => TableMapping(s.trim.toUpperCase, d.trim.toLowerCase)
          case Array(s) =>
            TableMapping(s.trim.toUpperCase, sanitizeSinkName(s.trim.toLowerCase))
          case _ => throw new IllegalArgumentException(s"bad table spec: $t")
        }
      }

    /** Mode dispatch: `fb` → [[parseFb]], anything else → MIS
      * case-preserving [[parse]]. */
    def parse(spec: String, namingMode: String): Seq[TableMapping] =
      if (namingMode != null && namingMode.equalsIgnoreCase("fb")) parseFb(spec)
      else parse(spec)
  }

  /** The settings of a load that do not depend on its source: what
    * [[IngestConfig]] (parquet) and [[graft.sources.JdbcIngest.JdbcConfig]]
    * (live JDBC) have in common, plus the table as each reads it. */
  private[graft] trait LoadConfig {
    def warehouseDir: String
    def tables: Seq[TableMapping]
    def orderByOverride: Map[String, String]
    def replace: Boolean
    def failOnConsistencyError: Boolean
    def offsetRows: Map[String, Long]
    def lineage: Enrich.Lineage
    /** Source table `m` as this config reads it. */
    def source(spark: SparkSession, m: TableMapping): Source
  }

  final case class IngestConfig(
      sourceDir: String,                       // parquet dir standing in for the JDBC source
      warehouseDir: String,                    // sink root
      tables: Seq[TableMapping],
      orderByOverride: Map[String, String] = Map.empty, // --order-by per table
      replace: Boolean = false,                // O4 append/replace
      failOnConsistencyError: Boolean = true,  // FB:112–114
      offsetRows: Map[String, Long] = Map.empty, // S2 resume offsets
      lineage: Enrich.Lineage = Enrich.Lineage()) extends LoadConfig {
    def source(spark: SparkSession, m: TableMapping): Source =
      new Source.Parquet(spark, sourcePath(this, m))
  }

  final case class TableResult(
      mapping: TableMapping,
      skipped: Boolean,
      report: Option[ConsistencyCheck.ConsistencyReport],
      error: Option[String],
      // non-fatal per-table notices (e.g. a requested parallel scan
      // silently degrading to single-stream) — surfaced so a many-hour
      // 100 TB ingest can't hide a 1-connection fallback in its report
      warnings: Seq[String] = Nil)

  /**
   * One source table, answering only the questions on which the parquet
   * stand-in and a live database differ. Everything else about a load —
   * the phase order, the order-key chain, the resume rule, enrich, write
   * and check — is [[load]]'s.
   */
  sealed trait Source {
    /** S3: can the table be read (FB:494–525). */
    def readable: Boolean
    /** S4: its columns, in source order (FB:530–586). */
    def columns: Seq[ColumnMeta]
    /** S5: its primary-key column, if it declares one (FB:598–626). */
    def primaryKey: Option[String]
    /** A3 + A1: the frozen `MAX(k)` watermark (FB:628–643), then the
      * row count bounded by it (FB:1359–1380). */
    def freeze(orderBy: String): (Option[Any], Long)
    /** S1/S2: the bounded scan from row `offset` of the total order
      * (`orderBy`, then `tieBreakers`), with the warnings it raises. */
    def scan(orderBy: String, watermark: Option[Any], offset: Long,
        tieBreakers: Seq[String]): (DataFrame, Seq[String])
  }

  object Source {
    /** A parquet file standing in for the database. Parquet carries no
      * PK metadata, so the conventional `<prefix>key` column stands in
      * for PK detection. The scan is ordered only when resuming: no
      * resume, no sort. */
    final class Parquet(spark: SparkSession, path: String) extends Source {
      def readable: Boolean = SnapshotScan.probeAccess(spark.read.parquet(path))
      private lazy val df = spark.read.parquet(path)
      def columns: Seq[ColumnMeta] = ColumnMeta.fromSchema(df.schema)
      def primaryKey: Option[String] = parquetKey(df.columns.toSeq)
      def freeze(orderBy: String): (Option[Any], Long) = {
        val wm = SnapshotScan.freezeWatermark(df, orderBy)
        (wm, ConsistencyCheck.sourceCount(SnapshotScan.bounded(df, orderBy, wm)))
      }
      def scan(orderBy: String, watermark: Option[Any], offset: Long,
          tieBreakers: Seq[String]): (DataFrame, Seq[String]) =
        (if (offset > 0) SnapshotScan.resumableScan(df, orderBy, watermark, offset, tieBreakers)
         else SnapshotScan.bounded(df, orderBy, watermark), Nil)
    }

    /** A table over a live JDBC connection: metadata, watermark and count
      * are scalar queries pushed down to the database. With `partitions`
      * > 1 the scan reads key ranges over that many connections
      * ([[JdbcSource.scanPartitioned]]); where it cannot, it falls back
      * to one stream and says why in a warning. */
    final class Jdbc(spark: SparkSession, url: String, table: String,
        partitions: Int) extends Source {
      def readable: Boolean = JdbcSource.checkTableAccess(url, table)
      lazy val columns: Seq[ColumnMeta] = JdbcSource.readTableMetadata(url, table)
      def primaryKey: Option[String] = JdbcSource.detectPrimaryKeyColumn(url, table)
      def freeze(orderBy: String): (Option[Any], Long) = {
        val wm = JdbcSource.readWatermarkValue(url, table, orderBy)
        (wm, JdbcSource.readBoundedCount(url, table, orderBy, wm))
      }

      def scan(orderBy: String, watermark: Option[Any], offset: Long,
          tieBreakers: Seq[String]): (DataFrame, Seq[String]) = {
        def single = JdbcSource.scan(spark, url, table, columns, orderBy,
          watermark, offset, tieBreakers = tieBreakers)
        if (partitions <= 1) (single, Nil)
        else parallel(orderBy, watermark, offset) match {
          case Right(df) => (df, Nil)
          case Left(why) => (single, Seq(s"table $table: requested $partitions " +
            s"scan partitions but falling back to a single-stream scan — $why"))
        }
      }

      /** The range-parallel scan, or the reason it cannot run. */
      private def parallel(orderBy: String, watermark: Option[Any],
          offset: Long): Either[String, DataFrame] = {
        def integral(bound: String, v: Option[Any]): Either[String, Long] = v match {
          case Some(n: java.lang.Number) => Right(n.longValue())
          case other => Left(s"order key '$orderBy' has no integral $bound " +
            s"(${other.getOrElse("NULL")}): range strides need a numeric key")
        }
        for {
          _ <- Either.cond(offset == 0L, (), s"row-offset resume ($offset) is " +
            "single-stream by design (a per-stride offset would skip rows per partition)")
          _ <- watermark.toRight("NULL watermark (empty source): nothing to range-split")
          ub <- integral("watermark", watermark)
          lb <- integral("MIN", JdbcSource.readMinValue(url, table, orderBy))
        } yield JdbcSource.scanPartitioned(spark, url, table, columns, orderBy,
          watermark, partitions, lb, ub)
      }
    }
  }

  /** Parquet's stand-in for a primary key: the first `<prefix>key` column. */
  private def parquetKey(columns: Seq[String]): Option[String] =
    columns.find(_.toLowerCase.endsWith("key"))

  /** S5 order-by resolution chain (FB:224–235): explicit `--order-by` →
    * primary key → first column. */
  private[graft] def orderKey(overrides: Map[String, String], m: TableMapping,
      primaryKey: => Option[String], columns: Seq[String]): String =
    overrides.get(m.source).orElse(primaryKey).getOrElse(columns.head)

  /** [[orderKey]] over a parquet schema. */
  def resolveOrderBy(mapping: TableMapping, schema: Seq[String],
      overrides: Map[String, String]): String =
    orderKey(overrides, mapping, parquetKey(schema), schema)

  def sourcePath(cfg: IngestConfig, m: TableMapping): String =
    s"${cfg.sourceDir}/${m.source}.parquet"

  def sinkPath(cfg: IngestConfig, m: TableMapping): String =
    s"${cfg.warehouseDir}/${m.sink}"

  /**
   * The table load, whatever the source (FB:98–417): access probe →
   * columns → order key → frozen watermark → frozen count → bounded scan
   * (resumable) → lineage envelope → partitioned write → isolated count +
   * dual-hash check. Returns a structured result instead of failing the
   * whole run (per-table failure isolation, FB:302–352); only a failed
   * check under `failOnConsistencyError` escapes.
   */
  private[graft] def load(spark: SparkSession, cfg: LoadConfig,
      m: TableMapping): TableResult = {
    try {
      val source = cfg.source(spark, m)
      if (!source.readable) return TableResult(m, skipped = true, None, None)

      val metas = source.columns
      val names = metas.map(_.name)
      val orderBy = orderKey(cfg.orderByOverride, m, source.primaryKey, names)

      // F2/A3 + A1: the snapshot bound and its baseline count (FB:237–246)
      val (wm, srcCount) = source.freeze(orderBy)

      // S1/S2/K1/K2: the other columns break ties on the order key, so a
      // resume order is TOTAL on either source even when the key repeats
      // (the reference's latent flaw, FB:1084)
      val offset = cfg.offsetRows.getOrElse(m.source, 0L)
      val (scanned, warnings) = source.scan(orderBy, wm, offset,
        tieBreakers = names.filterNot(_ == orderBy))
      warnings.foreach(w => System.err.println(s"[ingest] WARN $w"))

      // F1 + F5–F13: lineage envelope + canonical hashes
      val enriched = Enrich.enrich(scanned, metas, cfg.lineage)

      // O3/O4 + S6: partitioned write. A resume (offset > 0) ALWAYS
      // appends — the first `offset` rows are already in the sink, and an
      // overwrite would silently drop them (the reference's SKIP-n resume
      // appends the suffix, FB:1220–1258).
      val mode =
        if (offset > 0 || !cfg.replace) SaveMode.Append else SaveMode.Overwrite
      val sink = s"${cfg.warehouseDir}/${m.sink}"
      Ddl.writePartitioned(enriched, sink, mode)

      // A2 + O7: isolated read-back (FB:1330–1341), count + dual-hash
      // check against the FULL frozen count: on resume the sink holds
      // prefix + suffix (FB:1261–1328)
      val metrics = ConsistencyCheck.isolatedSinkMetrics(spark, sink)
      val report = ConsistencyCheck.check(m.sink, srcCount, metrics,
        cfg.failOnConsistencyError)
      TableResult(m, skipped = false, Some(report), None, warnings)
    } catch {
      case e: ConsistencyCheck.ConsistencyCheckException => throw e
      case e: Exception =>
        TableResult(m, skipped = false, None, Some(e.getMessage))
    }
  }

  /** Ingest + verify one parquet table ([[load]]). */
  def ingestTable(spark: SparkSession, cfg: IngestConfig, m: TableMapping): TableResult =
    load(spark, cfg, m)

  /** O5: the multi-table loop, for either source. */
  def run(spark: SparkSession, cfg: LoadConfig): Seq[TableResult] =
    cfg.tables.map(load(spark, cfg, _))
}
