package graft.sources

import org.apache.spark.sql.SparkSession

import graft.IngestJob
import graft.IngestJob.{TableMapping, TableResult}
import graft.operators.Enrich

/**
 * The table load over a LIVE JDBC source — the reference's actual
 * deployment shape (Firebird → warehouse, FB:98–417). The load itself is
 * [[graft.IngestJob.load]], the same phase sequence the parquet stand-in
 * runs; this config picks the source ([[graft.IngestJob.Source.Jdbc]]),
 * which answers the source's questions with pushed-down SQL: a `SELECT 1`
 * access probe (FB:494–525), `DatabaseMetaData` columns with LOBs skipped
 * (FB:530–586), `getPrimaryKeys` for the order key (FB:598–626), the
 * frozen `MAX(k)` watermark (FB:628–643) and its bounded COUNT
 * (FB:1359–1380), and the watermark-bounded scan SQL (FB:1072–1084). A
 * resume orders that scan by the key and then every other column, as the
 * parquet path does, so a key with duplicates still resumes exactly.
 *
 * Scale: by default the scan arrives as ONE JDBC partition per table
 * (the reference's single-reader semantics, FB:262–275); `--scan-
 * partitions table=n` switches a table to the range-parallel path
 * ([[JdbcSource.scanPartitioned]]): bounds come from two scalar
 * queries (MIN(k), and the already-frozen MAX(k) watermark), n
 * stride-predicated connections read concurrently, and the frozen
 * watermark keeps every partition on one snapshot — so the COUNT/hash
 * consistency check verifies the parallel read against the same
 * frozen baseline as the single-stream one. Non-numeric order keys
 * and offset resumes fall back to the single-stream scan (an offset
 * inside a stride is per-partition, not global), with a warning in the
 * table's result.
 */
object JdbcIngest {

  final case class JdbcConfig(
      url: String,
      warehouseDir: String,
      tables: Seq[TableMapping],
      orderByOverride: Map[String, String] = Map.empty,
      replace: Boolean = false,
      failOnConsistencyError: Boolean = true,
      offsetRows: Map[String, Long] = Map.empty,
      lineage: Enrich.Lineage = Enrich.Lineage(),
      scanPartitions: Map[String, Int] = Map.empty) extends IngestJob.LoadConfig {
    def source(spark: SparkSession, m: TableMapping): IngestJob.Source =
      new IngestJob.Source.Jdbc(spark, url, m.source, scanPartitions.getOrElse(m.source, 1))
  }

  /** S5 resolution chain against live metadata: explicit override →
    * `getPrimaryKeys` → first discovered column (FB:224–235). */
  def resolveOrderBy(cfg: JdbcConfig, m: TableMapping,
      columnNames: Seq[String]): String =
    IngestJob.orderKey(cfg.orderByOverride, m,
      JdbcSource.detectPrimaryKeyColumn(cfg.url, m.source), columnNames)

  /** Ingest + verify one table over JDBC ([[graft.IngestJob.load]]). */
  def ingestTable(spark: SparkSession, cfg: JdbcConfig, m: TableMapping): TableResult =
    IngestJob.load(spark, cfg, m)
}
