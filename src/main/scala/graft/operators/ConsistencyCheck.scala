package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ColumnMeta
import graft.functions.CanonicalHash

/**
 * Aggregation-based consistency verification (SURVEY §2 A1–A2, K3–K4,
 * O7–O9): the reference's built-in differential test, executed after every
 * load — frozen source row count vs sink row count, plus per-row agreement
 * of the two independently computed hashes, with top-K sampling and a
 * first-differing-column drill-down on mismatch (FB:1261–1565).
 *
 * Scale note: A1/A2 are single-pass ungrouped aggregations — map-side
 * partial aggregation, one tiny shuffle of partial buffers, no row
 * movement. K3 is filter + global top-K (`TakeOrderedAndProject`, no full
 * sort). O9 is a key-equi-join executed only on the (small) mismatching
 * subset.
 */
object ConsistencyCheck {

  /** Frozen snapshot metrics (reference `SnapshotMetrics`, FB:1245–1253). */
  final case class SnapshotMetrics(rowCount: Long, hashMismatchCount: Long)

  final case class ConsistencyReport(
      table: String,
      sourceCount: Long,
      sinkCount: Long,
      hashMismatches: Long) {
    def ok: Boolean = sourceCount == sinkCount && hashMismatches == 0L
  }

  class ConsistencyCheckException(msg: String) extends RuntimeException(msg)

  /** A1: frozen source baseline — `SELECT COUNT(1) FROM t WHERE wm`
    * (FB:1359–1380). Caller applies the watermark bound. */
  def sourceCount(bounded: DataFrame): Long = bounded.count()

  /** A2: single-pass sink count + hash-mismatch count (FB:1382–1408):
    * `COUNT(*), COALESCE(SUM(CASE WHEN LOWER(h1)=LOWER(h2) THEN 0 ELSE 1
    * END), 0)`. */
  def sinkMetrics(sink: DataFrame,
      h1: String = "row_hash", h2: String = "row_hash_iceberg"): SnapshotMetrics = {
    val row = sink.agg(
      count(lit(1)).as("cnt"),
      coalesce(sum(
        when(lower(col(h1).cast("string")) === lower(col(h2).cast("string")), 0L)
          .otherwise(1L)), lit(0L)).as("mismatches")
    ).head()
    SnapshotMetrics(row.getLong(0), row.getLong(1))
  }

  /** The reference pins its verify pass to parallelism 1
    * (CONSISTENCY_CHECK_PARALLELISM, FB:81). */
  val VerifyParallelism = 1

  /**
   * O7 verification-read isolation (FB:1330–1341 + the
   * `read.parquet.vectorization.enabled=false` hint FB:1394): the verify
   * pass re-reads the sink with the VECTORIZED parquet reader disabled
   * (row-by-row decode — predictable memory on large/wide row groups, the
   * reference's stated motivation) and the aggregation coalesced to a
   * fixed low parallelism so the check has a bounded footprint next to
   * the main job. The session conf is scoped to this call and restored —
   * safe because [[sinkMetrics]] executes its action eagerly. The sink is
   * read with an explicit schema of the two hash columns, so the read
   * runs no schema-inference job; a sink that lacks one of them reads it
   * as NULL, and every row counts as a mismatch.
   */
  def isolatedSinkMetrics(spark: org.apache.spark.sql.SparkSession, path: String,
      h1: String = "row_hash", h2: String = "row_hash_iceberg",
      parallelism: Int = VerifyParallelism): SnapshotMetrics = {
    val key = "spark.sql.parquet.enableVectorizedReader"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try sinkMetrics(spark.read.schema(s"`$h1` STRING, `$h2` STRING").parquet(path)
      .coalesce(parallelism), h1, h2)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** K3/O8: first-N hash mismatches ordered by key, for diagnostics
    * (FB:1410–1458: `… WHERE LOWER(h1) <> LOWER(h2) ORDER BY k FETCH
    * FIRST n ROWS ONLY`). Plans as TakeOrderedAndProject — no global sort. */
  def mismatchSamples(sink: DataFrame, key: String,
      h1: String = "row_hash", h2: String = "row_hash_iceberg",
      n: Int = 10): DataFrame =
    sink.filter(lower(col(h1)) =!= lower(col(h2)))
      .orderBy(col(key))
      .select(col(key), col(h1), col(h2))
      .limit(n)

  /**
   * O9 `printFirstColumnTokenMismatch` (FB:1460–1565), expressed
   * relationally: for mismatching keys, render every column through the
   * SAME canonical-token expressions on both sides, and report the FIRST
   * differing column (source order) with both token values.
   *
   * Returns (key, column_name, src_token, dst_token) for the first `n`
   * mismatching keys.
   */
  def firstColumnTokenMismatch(
      src: DataFrame, dst: DataFrame, key: String,
      metas: Seq[ColumnMeta], n: Int = 1): DataFrame = {
    val cmp = metas.filter(_.name != key)
    def tokens(df: DataFrame, side: String): DataFrame =
      df.select(col(key) +:
        cmp.map(m => CanonicalHash.tokenExpr(col(m.name), m).as(s"${side}_${m.name}")): _*)
    val joined = tokens(src, "s").join(tokens(dst, "d"), Seq(key), "inner")
    // first differing column = head of the array of (name, s, d) triples
    // whose tokens differ, evaluated in declared column order
    val diffs: Column = filter(
      array(cmp.map(m => struct(
        lit(m.name).as("column_name"),
        col(s"s_${m.name}").as("src_token"),
        col(s"d_${m.name}").as("dst_token"))): _*),
      x => x("src_token") =!= x("dst_token"))
    joined
      .withColumn("__diffs", diffs)
      .filter(size(col("__diffs")) > 0)
      .select(col(key), col("__diffs").getItem(0).as("d"))
      .select(col(key), col("d.column_name"), col("d.src_token"), col("d.dst_token"))
      .orderBy(col(key))
      .limit(n)
  }

  /** O7 driver: compare frozen source metrics vs sink metrics; throw on
    * mismatch when failOnError (FB:1255–1328, `--fail-on-consistency-error`
    * FB:112–114). */
  def check(table: String, srcCount: Long, sink: SnapshotMetrics,
      failOnError: Boolean = true): ConsistencyReport = {
    val report = ConsistencyReport(table, srcCount, sink.rowCount, sink.hashMismatchCount)
    if (!report.ok && failOnError)
      throw new ConsistencyCheckException(
        s"consistency check failed for $table: source=${report.sourceCount} " +
        s"sink=${report.sinkCount} hashMismatches=${report.hashMismatches}")
    report
  }
}
