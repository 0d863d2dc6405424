package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Snapshot-consistent, resumable, deterministic ordered scan (SURVEY §2
 * S1–S2, F2, K1–K2).
 *
 * The reference freezes `MAX(orderBy)` before the load
 * (`readWatermarkValue` FB:628–643) and bounds BOTH the ingest scan and
 * every verification query with `k <= watermark` so the snapshot is immune
 * to concurrent inserts (FB:237–246, FB:645–657). NULL watermark (empty
 * table) degenerates to the empty-set predicate `1 = 0` (FB:648).
 * Resume-after-failure skips the already-ingested prefix with `SKIP n`
 * under a total `ORDER BY k` (FB:1072–1084).
 *
 * Scale note (100 TB): the watermark predicate is a plain comparison on a
 * column, so Catalyst pushes it into the parquet/JDBC scan
 * (`PushedFilters`), and partition pruning applies when `k` correlates
 * with partitioning. The global `orderBy` is only needed on the RESUME
 * path (deterministic offset); first-attempt ingest uses the unordered
 * bounded scan — no range-partition shuffle is paid unless a restart
 * actually happens.
 */
object SnapshotScan {

  /** A3: freeze the watermark — `SELECT MAX(k) FROM t` (FB:628–643). */
  def freezeWatermark(df: DataFrame, orderBy: String): Option[Any] =
    Option(df.agg(max(col(orderBy))).head().get(0))

  /** F2: the frozen bounded-snapshot predicate; NULL watermark → `1=0`. */
  def watermarkPredicate(orderBy: String, watermark: Option[Any]): Column =
    watermark.map(w => col(orderBy) <= lit(w)).getOrElse(lit(false))

  /** Watermark-bounded scan, unordered (the fast path: filter pushed to
    * the scan, no sort, no shuffle). */
  def bounded(df: DataFrame, orderBy: String, watermark: Option[Any]): DataFrame =
    df.filter(watermarkPredicate(orderBy, watermark))

  /**
   * S1+S2+K1+K2: the resumable ordered scan —
   * `SELECT … WHERE k <= wm ORDER BY k OFFSET n`.
   *
   * Determinism contract: identical to the reference's — the order must be
   * TOTAL for offset-resume to be exactly-once; ties on `orderBy` make the
   * skipped prefix nondeterministic (the reference has the same latent
   * flaw, FB:1084). Callers should pass a unique key (or key list) via
   * `tieBreakers`.
   *
   * Implementation: `offset` ∘ `orderBy` uses Spark's native GlobalLimit/
   * Offset operators (Spark ≥3.4) instead of a row_number window. This
   * does NOT keep the rows off one partition: on Spark 4.1.2 the sort
   * range-partitions, but the offset then runs as a final 1-task stage
   * (`GlobalLimit`) above enrich and write, so a resume enriches,
   * hashes and writes its whole suffix in one task. ROADMAP item 8
   * replaces the offset with a filter past the n-th row's key tuple.
   */
  def resumableScan(
      df: DataFrame,
      orderBy: String,
      watermark: Option[Any],
      offsetRows: Long = 0L,
      tieBreakers: Seq[String] = Nil): DataFrame = {
    val keys = (orderBy +: tieBreakers).map(col)
    val ordered = bounded(df, orderBy, watermark).orderBy(keys: _*)
    if (offsetRows <= 0) ordered
    else if (offsetRows <= Int.MaxValue) ordered.offset(offsetRows.toInt)
    else {
      // >2B-row prefix: fall back to a row_number filter over the same
      // total order. Window over unpartitioned order is a scale hazard —
      // documented trade-off, only reachable on a resume past 2^31 rows.
      val w = Window.orderBy(keys: _*)
      ordered.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") > offsetRows).drop("__rn")
    }
  }

  /** S3: access probe (`SELECT FIRST 1 1 FROM t`, FB:494–525) — returns
    * false instead of failing when the source is unreadable/absent, so the
    * orchestration loop can skip the table gracefully. Reads the first row
    * in one job (`head(1)`; `limit(1).count()` took two). */
  def probeAccess(read: => DataFrame): Boolean =
    scala.util.Try(read.head(1)).isSuccess
}
