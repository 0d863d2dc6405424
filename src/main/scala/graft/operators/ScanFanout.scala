package graft.operators

import org.apache.spark.sql.DataFrame

/**
 * Small-input scan fan-out (optimization guide §2.5 "input skew: one huge
 * unsplittable file … otherwise repartition immediately after the read").
 *
 * The driver corpus writes every table as ONE parquet row group, and a
 * row group is consumed by exactly one task no matter how many byte
 * splits `spark.sql.files.maxPartitionBytes` cuts the file into (the
 * split that contains the row-group midpoint gets all the rows; the rest
 * scan footers and exit). Every map-heavy kernel that runs before the
 * first exchange — canonical-hash MD5s, tokenization, shingling,
 * bit-interleaving — was therefore running on ONE core of the 32
 * available (ProfileQuery round-21 measurement: t33's hash stage 4.9 s
 * on 1 working task of 21; t97's tokenize barrier 3.5 s on 1 of 2).
 *
 * The fix is the guide's: repartition immediately after the read — but
 * ONLY when that is provably cheap. A keyless round-robin repartition of
 * the whole table is a full shuffle of its bytes, which at 100 TB is
 * exactly the waste §2.3/§2.4 forbid (and at that scale the input is
 * thousands of row groups, so the scan already parallelizes naturally).
 * The rule is therefore scale-adaptive, not a local[32] constant:
 *
 *   - fan out only when the relation's optimizer size estimate (= file
 *     bytes for a fresh parquet read) is at most
 *     `spark.graft.scan.fanout.maxBytes` (default 256 MB) — inputs whose
 *     full shuffle costs less than a second on any node, and whose
 *     natural row-group parallelism cannot be assumed;
 *   - skip relations under [[ScanFanout.MinBytes]] (32 KB) — tiny
 *     dimension tables, where an extra exchange is pure overhead and
 *     there is no map work to spread (32 KB also keeps the sf0.01
 *     oracle corpus ABOVE the floor for documents/embeddings/
 *     lineitem, so the oracle differential exercises the fanned-out
 *     plan shape, not just the bare one);
 *   - the partition count is `ceil(bytes / [[ScanFanout.TargetBytes]])`
 *     (64 KB of compressed parquet per partition — tokenize/MD5
 *     kernels cost far more per byte than the shuffle) capped at
 *     `sparkContext.defaultParallelism`, so the fan-out follows the
 *     session's core count (the driver re-runs the bench at lower core
 *     counts to measure scaling; a constant would
 *     poison that measurement) while iteration-heavy consumers of
 *     smaller tables (Lloyd loops over the embeddings, tokenizer
 *     encode chains) don't pay 32 near-empty tasks per downstream
 *     stage (measured r21: a flat cores-wide fan-out regressed
 *     t34a/t72/t32 by 1.4–1.5× on exactly that overhead);
 *   - `spark.graft.scan.fanout.maxBytes=0` disables the mechanism.
 *
 * Result-neutral by construction: round-robin repartition changes only
 * physical placement (Spark sorts rows locally before round-robin
 * assignment — SPARK-23207 — so placement is deterministic under
 * retries), and every declared query is already partitioning-insensitive
 * (explicit total ORDER BY or order-free aggregation; the oracle gates
 * run at a different core count than the bench and must agree).
 * Catalyst pushes filters and column pruning through Repartition, so
 * PushedFilters/ReadSchema at the scan are unchanged.
 */
object ScanFanout {
  val MaxBytesConf = "spark.graft.scan.fanout.maxBytes"
  val DefaultMaxBytes: Long = 256L << 20
  /** Relations smaller than this are never fanned out. */
  val MinBytes: Long = 32L << 10
  /** Compressed parquet bytes per fanned-out partition. */
  val TargetBytes: Long = 64L << 10

  /** `df` repartitioned (size/targetBytes partitions, capped at the
    * session's default parallelism) when the size gate says the shuffle
    * is cheap and useful; `df` unchanged otherwise.
    *
    * `key`: hash-partition by this (unique-ish) column instead of
    * round-robin. Preferred when the relation has a natural id — it
    * skips round-robin's defensive per-task input sort (SPARK-23207
    * `sortBeforeRepartition`, charged to the single task that owns the
    * row group — the exact task this operator exists to relieve) and
    * is deterministic under retries BY VALUE, not by input order. A
    * unique key hashes uniformly, so the spread matches round-robin's. */
  def apply(df: DataFrame, key: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    // byteStringAsBytes accepts both plain numbers and the
    // "256m"-style suffixed values the adjacent spark.sql.files.*
    // confs use (a bare .toLong threw NumberFormatException at
    // plan-build time on suffixed input)
    val maxBytes = spark.conf.getOption(MaxBytesConf)
      .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
      .getOrElse(DefaultMaxBytes)
    if (maxBytes <= 0) return df
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes < MinBytes || bytes > maxBytes) df
    else {
      val parts = ((bytes + TargetBytes - 1) / TargetBytes).toLong
        .min(spark.sparkContext.defaultParallelism.toLong).max(2L).toInt
      key match {
        case Some(k) => df.repartition(parts,
          org.apache.spark.sql.functions.col(k))
        case None => df.repartition(parts)
      }
    }
  }
}
