package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ColumnMeta
import graft.functions.CanonicalHash
import graft.operators.Ddl

/**
 * Output check for one ingested table, independent of the load's own
 * consistency report (whose hash half compares `row_hash` with
 * `row_hash_iceberg`, a copy of it):
 *
 *   1. `row_hash` is recomputed with [[CanonicalHash.rowHashExprComposed]]
 *      — built-in `md5(concat_ws(…))`, not the fused kernel the load
 *      writes with — over the sink's source columns and must equal the
 *      stored value on every row;
 *   2. the stored `row_hash` column must have the fingerprint recorded in
 *      `expected_row_hashes.tsv` when the benchmark was added. `row_hash`
 *      covers source columns only and every sink holds the whole table,
 *      so the value does not depend on the seed; it catches a hash change
 *      that the kernel and its composed twin would share;
 *   3. the sink's row count must equal the frozen source count;
 *   4. the sink's source columns must equal the bounded source as
 *      multisets, compared through an order-insensitive fingerprint: the
 *      row count and the exact sums of two independent row hashes
 *      (xxhash64 and murmur3). Equal multisets always agree; a changed,
 *      lost or duplicated row moves both sums.
 *
 * The sink side is one aggregate pass; the source side is computed once
 * per load ([[expect]]) and reused for every iteration's sink.
 */
object SinkCheck {
  final case class Rows(count: Long, xx: BigDecimal, mm: BigDecimal)
  /** `hashes`: the recorded fingerprint of the stored `row_hash` column. */
  final case class Expected(metas: Seq[ColumnMeta], frozenCount: Long, rows: Rows,
      hashes: Option[BigDecimal])

  private val Zero = lit(0).cast(DecimalType(38, 0))

  private def sums(cols: Seq[Column]): Seq[Column] = Seq(
    count(lit(1)),
    coalesce(sum(xxhash64(cols: _*).cast(DecimalType(38, 0))), Zero),
    coalesce(sum(hash(cols: _*).cast(DecimalType(38, 0))), Zero))

  /** Order-insensitive fingerprint of a table's stored `row_hash`. */
  val storedHashes: Column = coalesce(sum(xxhash64(col("row_hash")).cast(DecimalType(38, 0))), Zero)

  def composedHash(metas: Seq[ColumnMeta]): Column =
    CanonicalHash.rowHashExprComposed(metas.map(m => col(m.name)), metas)

  def expect(bounded: DataFrame, metas: Seq[ColumnMeta], frozenCount: Long,
      hashes: Option[BigDecimal]): Expected = {
    val aggs = sums(metas.map(m => col(m.name)))
    val r = bounded.agg(aggs.head, aggs.tail: _*).head()
    Expected(metas, frozenCount,
      Rows(r.getLong(0), BigDecimal(r.getDecimal(1)), BigDecimal(r.getDecimal(2))), hashes)
  }

  /** What is wrong with the sink at `sinkPath`; `recompute` is the hash
    * the stored `row_hash` is compared with (the self-test swaps it). */
  def problems(spark: SparkSession, sinkPath: String, e: Expected,
      recompute: Seq[ColumnMeta] => Column = composedHash): Seq[String] = {
    val sink = Ddl.readTable(spark, sinkPath)
    val cols = e.metas.map(m => col(m.name))
    val badHash = sum(when(recompute(e.metas) <=> col("row_hash"), 0L).otherwise(1L))
    val aggs = sums(cols) ++ Seq(coalesce(badHash, lit(0L)), storedHashes)
    val r = sink.agg(aggs.head, aggs.tail: _*).head()
    val rows = Rows(r.getLong(0), BigDecimal(r.getDecimal(1)), BigDecimal(r.getDecimal(2)))
    val badHashes = r.getLong(3)
    val stored = BigDecimal(r.getDecimal(4))
    Seq(
      (badHashes > 0) -> s"$badHashes rows whose row_hash differs from the recomputed hash",
      (!e.hashes.contains(stored)) -> (s"stored row_hash fingerprint $stored, " +
        s"recorded ${e.hashes.getOrElse("nothing")}"),
      (rows.count != e.frozenCount) ->
        s"sink has ${rows.count} rows, frozen source count is ${e.frozenCount}",
      (rows != e.rows) -> (s"sink rows differ from the bounded source as multisets " +
        s"(sink $rows, source ${e.rows})")
    ).collect { case (true, msg) => s"$sinkPath: $msg" }
  }

  /** Recorded stored-`row_hash` fingerprints by load, from
    * `expected_row_hashes.tsv` next to the benchmark's sources. */
  def recorded(): Map[String, BigDecimal] = {
    val path = Paths.get(sys.props.getOrElse("perfbench.expected.hashes",
      "perfbench/expected_row_hashes.tsv"))
    if (!Files.exists(path)) Map.empty
    else scala.io.Source.fromFile(path.toFile).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(load, fp) = l.split("\t")
        load -> BigDecimal(fp)
      }.toMap
  }
}
