package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Data-LAYOUT operators: multi-dimensional clustering for file/row-group
 * pruning — the piece of a 100 TB deployment that lives BELOW the query:
 * a table range-partitioned on one key prunes only that key's
 * predicates, while a Z-ORDER (Morton) clustering interleaves the bits
 * of several keys so that every file's min/max envelope is tight in ALL
 * of them at once, and a multi-dimensional box predicate skips most
 * files from parquet footer stats alone.
 *
 * Reference behavior: the reference engine writes Iceberg tables whose
 * maintenance story (rewrite_data_files with a sort order) is exactly
 * this operation; Iceberg itself being sandbox-blocked (DESIGN.md), the
 * clustering is expressed on the parquet layout the repo's Ddl module
 * manages. The z-value is a pure Catalyst bit expression (shift/and/or
 * — whole-stage codegen, no UDF), so it also serves as a clustering KEY
 * for bucketing, range partitioning, or sort-based compaction.
 */
object Layout {

  /** Morton/Z interleave of N ≥ 2 non-negative keys, `bits` low bits
    * each (round-robin: key j's bit i lands at position i·n + j, so
    * at n = 2 bit i of the first key → bit 2i, of the second → bit
    * 2i+1): one long whose sort order is the Z space-filling curve
    * over the keys. Caller contract: inputs must already lie in
    * `[0, 2^bits)` — bound them with `pmod`, `div`-bucketing or a
    * monotonic cast; out-of-domain bits are silently ignored (only the
    * low `bits` bits of each key are read), which FOLDS the key space
    * and degrades clustering quality without affecting pruning
    * correctness. [[requireBounded]] is the loud runtime audit of that
    * contract; [[zOrderWriteN]] runs it when `audit = true`. n·bits
    * ≤ 62 keeps the result in the positive Long range (bits ≤ 31 at
    * n = 2). */
  def zValueN(cols: Seq[Column], bits: Int): Column = {
    val n = cols.length
    require(n >= 2, "interleave needs at least two keys")
    require(bits >= 1 && n * bits <= 62, s"need 1 <= bits and $n*bits <= 62")
    (for (i <- 0 until bits; j <- 0 until n) yield
      shiftleft(shiftright(cols(j), i).bitwiseAND(lit(1L)), i * n + j))
      .reduce(_ bitwiseOR _)
  }

  /** Loud runtime audit of the [[zValueN]] domain contract:
    * ONE aggregate over the key columns asserting every value lies in
    * `[0, 2^bits)` AND actually reaches the interleave as a number.
    * Throws `IllegalArgumentException` naming the first offending
    * column with its observed (min, max) — or, ahead of the range
    * check, any NULL the interleave would see: a key value whose
    * cast-to-long yields NULL (unparseable string key) and a key that
    * is NULL outright both produce a NULL z-key that `zOrderWriteN`
    * would write with no signal, which is exactly the malformed-key
    * case this audit exists to catch (a min/max-only check would
    * quietly pass it — every cast failing leaves min = max = NULL).
    * The alternative to the range check is `pmod` silently folding the
    * key space and quietly destroying clustering quality (pruning
    * stays correct — it reads real footer stats — but the z layout
    * degrades toward noise). Cost: one scan of the audited columns;
    * opt in where the domain is not known by construction. */
  def requireBounded(df: DataFrame, keys: Seq[String], bits: Int): Unit = {
    require(bits >= 1 && bits <= 62, "need 1 <= bits <= 62")
    val bound = 1L << bits
    // try_cast, not cast: under ANSI a malformed key would abort the
    // probe with a generic CAST_INVALID_INPUT instead of this audit's
    // named error (and under non-ANSI plain cast nulls silently — the
    // exact case being audited). Both probes (raw non-null count and
    // cast count) parse the SAME quoted identifier — embedded
    // backticks doubled, dots literal — so nz and nc always count the
    // same column (col() would treat dots as nested-field paths).
    def q(k: String) = "`" + k.replace("`", "``") + "`"
    def pc(k: String) = expr(q(k))
    def tc(k: String) = expr(s"try_cast(${q(k)} AS BIGINT)")
    val row = df.select(count(lit(1)).as("n") +: keys.flatMap(k => Seq(
      min(tc(k)).as(s"min_$k"),
      max(tc(k)).as(s"max_$k"),
      count(pc(k)).as(s"nz_$k"),
      count(tc(k)).as(s"nc_$k"))): _*).head()
    val n = row.getLong(0)
    keys.zipWithIndex.foreach { case (k, i) =>
      val (nz, nc) = (row.getLong(4 * i + 3), row.getLong(4 * i + 4))
      if (nc < nz) throw new IllegalArgumentException(
        s"key domain violation: column '$k' has ${nz - nc} value(s) " +
          "whose cast to long is NULL (unparseable key) — the interleave " +
          "would emit a NULL z-key for them with no signal")
      if (nz < n) throw new IllegalArgumentException(
        s"key domain violation: column '$k' is NULL on ${n - nz} " +
          s"of $n row(s) — NULL keys produce a NULL z-key and fall out " +
          "of the clustered layout; filter or default them first")
      if (!row.isNullAt(4 * i + 1) && !row.isNullAt(4 * i + 2)) {
        val (lo, hi) = (row.getLong(4 * i + 1), row.getLong(4 * i + 2))
        if (lo < 0 || hi >= bound) throw new IllegalArgumentException(
          s"key domain violation: column '$k' has range [$lo, $hi], " +
            s"outside [0, $bound) for bits=$bits — bucket with div/pmod " +
            "first or raise bits; folding it silently would destroy " +
            "clustering quality")
      }
    }
  }

  /**
   * Write `df` Z-ORDER-CLUSTERED on N ≥ 2 key columns
   * ([[zValueN]], n·bits ≤ 62): range-partition on the z-value into
   * `numFiles` output files, sort within each by the z-value, drop the
   * helper column, write parquet. After this, every file's footer
   * min/max on EVERY key is a tight box (the Z curve visits space in
   * nested quadrants), so a conjunctive range predicate on the keys
   * prunes files/row-groups that a single-key layout must scan — the
   * 100 TB effect, measured at sf0.1 over 64 files: a full-range-a,
   * narrow-b box read 37 Z-ordered files vs all 64 linear. Keys are
   * bounded into the bit domain by `pmod` (order-preserving whenever
   * the caller's domain already fits — pass `bits` large enough for
   * the real range; for skewed/huge domains bucket with `div` first).
   * `audit = true` runs [[requireBounded]] first: one extra scan, loud
   * failure instead of a silently folded layout.
   */
  def zOrderWriteN(df: DataFrame, cols: Seq[String], bits: Int,
      path: String, numFiles: Int, audit: Boolean = false): Unit = {
    if (audit) requireBounded(df, cols, bits)
    val z = zValueN(cols.map(c =>
      pmod(col(c).cast("long"), lit(1L << bits))), bits)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.option("compression", Ddl.ParquetCompression)
      .mode("overwrite").parquet(path)
  }

  /** HILBERT curve index of two non-negative keys in `[0, 2^bits)` —
    * the Morton upgrade: the Hilbert curve visits every cell of the
    * 2^bits × 2^bits grid so that CONSECUTIVE indexes are always
    * grid-adjacent (Morton's Z jumps across quadrant seams), which
    * strictly improves the locality of a range of the key and hence
    * the tightness of per-file min/max envelopes at the same bit
    * budget (Hamilton 2006; Butz 1971 — the classical per-bit
    * quadrant-rotation recurrence). The walk is a `bits`-level LOOP
    * whose (x, y) state rewrites every level — the one shape
    * expression trees cannot express compactly — so this is the
    * native codegen'd [[graft.functions.HilbertIndex]] expression
    * (measured: the staged-projection alternative, [[hilbertKeyed]],
    * costs ~16× and the nested-lambda tree ~60× — a 21-bit key scan
    * over 64 files took 0.47 s native vs 6.08 s staged). Same caller
    * contract as [[zValueN]]: inputs already in
    * `[0, 2^bits)` ([[requireBounded]] audits it); bits ≤ 31 keeps
    * the index in the positive Long range. */
  def hilbertValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, "need 1 <= bits <= 31")
    graft.functions.HilbertIndex(x.cast("long"), y.cast("long"), bits)
  }

  /** [[hilbertValue]] built from STOCK operators only — the
    * no-custom-Expression alternative, kept as the measured
    * comparison point (measured at ~16× the native loop's cost) and as
    * the recipe for engines where
    * registering an expression is off the table: each xy2d level's
    * (rx, ry) and then (x, y, d) become real columns referenced by
    * the next level, which whole-stage codegen compiles to
    * straight-line locals (CollapseProject keeps multi-use non-cheap
    * aliases staged, so the plan stays LINEAR in `bits`). Appends
    * `out` to `df`'s columns; helper column names are reserved.
    * Bit-identical to [[hilbertValue]] (spec-asserted). */
  def hilbertKeyed(df: DataFrame, x: Column, y: Column, bits: Int,
      out: String): DataFrame = {
    require(bits >= 1 && bits <= 31, "need 1 <= bits <= 31")
    val orig = df.columns.toSeq.map(col)
    var cur = df.select(orig :+ x.cast("long").as("__hx") :+
      y.cast("long").as("__hy") :+ lit(0L).as("__hd"): _*)
    for (i <- (bits - 1) to 0 by -1) {
      val s = 1L << i
      cur = cur.select(orig :+ col("__hx") :+ col("__hy") :+ col("__hd") :+
        when(col("__hx").bitwiseAND(lit(s)) > 0, lit(1L)).otherwise(lit(0L))
          .as("__rx") :+
        when(col("__hy").bitwiseAND(lit(s)) > 0, lit(1L)).otherwise(lit(0L))
          .as("__ry"): _*)
      cur = cur.select(orig :+
        when(col("__ry") === 0, when(col("__rx") === 1,
          lit(s - 1L) - col("__hy")).otherwise(col("__hy")))
          .otherwise(col("__hx")).as("__hx") :+
        when(col("__ry") === 0, when(col("__rx") === 1,
          lit(s - 1L) - col("__hx")).otherwise(col("__hx")))
          .otherwise(col("__hy")).as("__hy") :+
        (col("__hd") + lit(s * s) *
          (lit(3L) * col("__rx")).bitwiseXOR(col("__ry"))).as("__hd"): _*)
    }
    cur.select(orig :+ col("__hd").as(out): _*)
  }

  /** N-KEY Hilbert index — [[zValueN]]'s locality upgrade at generic
    * arity via the dimension-generic Skilling transpose
    * ([[graft.functions.HilbertIndexN]]'s native codegen'd loop).
    * Same caller contract as [[zValueN]]: inputs in `[0, 2^bits)`,
    * `n·bits ≤ 62`. Skilling's orientation — a different (equally
    * valid) Hilbert curve family than the 2-D [[hilbertValue]]'s
    * classical xy2d orientation, which it does not reproduce at n = 2;
    * each gates against its own cross-engine replay (t98 the 2-D
    * curve, t99 this one at n = 3). */
  def hilbertValueN(cols: Seq[Column], bits: Int): Column = {
    val n = cols.length
    require(n >= 2, "interleave needs at least two keys")
    require(bits >= 1 && n * bits <= 62, s"need 1 <= bits and $n*bits <= 62")
    graft.functions.HilbertIndexN(cols.map(_.cast("long")), bits)
  }

  /** Shared clustered-write tail for EXPENSIVE keys: stage the
    * computed key ONCE (eager `localCheckpoint`) so the range
    * partitioner's reservoir-sampling job and the shuffle write read
    * materialized rows instead of each re-running the key expression
    * over the full input — for the Hilbert loop that recompute (plus
    * the doubled input scan under it) was most of the 2.8× write-cost
    * gap vs Morton (5.6 s vs 2.0 s for 64 files; staged, 1.42 s vs
    * 1.18 s); blocks are released
    * deterministically after the write. The Morton/linear writers
    * keep the direct pipeline on purpose: their keys are flat
    * shift/or trees whose recompute is cheaper than a round trip
    * through executor block storage. At cluster scale the staging is
    * disk-backed (localCheckpoint stores MEMORY_AND_DISK) and sized
    * by the write itself — a layout rewrite already holds the full
    * dataset once; this trades the second full scan for one local
    * materialization. */
  private[graft] def stagedClusteredWrite(df: DataFrame, key: Column,
      path: String, numFiles: Int): Unit = {
    val keyed = df.withColumn("__h", key).localCheckpoint(true)
    try {
      keyed.repartitionByRange(numFiles, col("__h"))
        .sortWithinPartitions("__h")
        .drop("__h")
        .write.option("compression", Ddl.ParquetCompression)
        .mode("overwrite").parquet(path)
    } finally {
      keyed.unpersist(blocking = false)
      org.apache.spark.sql.graft.bridge.checkpointedRdd(keyed)
        .foreach(_.unpersist(blocking = false))
    }
  }

  /** [[zOrderWriteN]]'s 2-key form with the HILBERT key — range-partition + sort on
    * [[hilbertValue]]; same pmod bounding, same optional
    * [[requireBounded]] audit. On equal 2-d boxes over 64 files it
    * read fewer files than Morton (square 11 vs 14, narrow-b 20 vs 28,
    * tiny 2 vs 3); the key is staged once ([[stagedClusteredWrite]]). */
  def hilbertOrderWrite(df: DataFrame, colA: String, colB: String,
      bits: Int, path: String, numFiles: Int,
      audit: Boolean = false): Unit = {
    if (audit) requireBounded(df, Seq(colA, colB), bits)
    val h = hilbertValue(pmod(col(colA).cast("long"), lit(1L << bits)),
      pmod(col(colB).cast("long"), lit(1L << bits)), bits)
    stagedClusteredWrite(df, h, path, numFiles)
  }

  /** [[zOrderWriteN]]'s N-key Hilbert sibling — range-partition +
    * sort on [[hilbertValueN]], same pmod bounding, same optional
    * audit, key staged once. */
  def hilbertOrderWriteN(df: DataFrame, cols: Seq[String], bits: Int,
      path: String, numFiles: Int, audit: Boolean = false): Unit = {
    if (audit) requireBounded(df, cols, bits)
    val h = hilbertValueN(cols.map(k =>
      pmod(col(k).cast("long"), lit(1L << bits))), bits)
    stagedClusteredWrite(df, h, path, numFiles)
  }

  /** The comparison baseline: the same data linearly clustered on ONE
    * key (range-partition + sort on `colA`) — what a single-dimension
    * layout gives the same box predicate. */
  def linearWrite(df: DataFrame, colA: String, path: String,
      numFiles: Int): Unit =
    df.repartitionByRange(numFiles, col(colA))
      .sortWithinPartitions(colA)
      .write.option("compression", Ddl.ParquetCompression)
      .mode("overwrite").parquet(path)

  /** Stats-pruning effectiveness of a layout for an N-dimensional box
    * predicate (`box` = (key, lo, hi) per dimension), measured the way
    * parquet pruning actually works: per FILE, the (min, max) envelope
    * of each key; a file is PRUNABLE iff its envelope misses the box in
    * at least one dimension. Returns (files total, files that must be
    * read). Driver-side per-file aggregation over file-sized stats
    * only. */
  def boxScanFilesN(spark: org.apache.spark.sql.SparkSession, path: String,
      box: Seq[(String, Long, Long)]): (Long, Long) = {
    val aggs = box.zipWithIndex.flatMap { case ((c, _, _), i) => Seq(
      min(col(c)).as(s"min_$i"), max(col(c)).as(s"max_$i")) }
    val stats = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
    val total = stats.count()
    val mustRead = stats.filter(box.zipWithIndex.map {
      case ((_, lo, hi), i) =>
        col(s"max_$i") >= lo && col(s"min_$i") <= hi
    }.reduce(_ && _)).count()
    (total, mustRead)
  }
}
