package graft

import graft.operators.Enrich

/**
 * CLI entry point (SURVEY §2 O1–O7) — the reference's `main` UX:
 *
 *   runMain graft.IngestMain --source-dir /root/testdata/sf0.001 \
 *     --warehouse /tmp/wh --tables lineitem,region:region_ice \
 *     --mode replace --order-by lineitem=l_orderkey \
 *     --fail-on-consistency-error true
 *
 * `--jdbc-url <url>` switches the source from the parquet stand-in to a
 * live database connection ([[graft.sources.JdbcIngest]] — the
 * reference's actual deployment shape); `--offset table=n` resumes a
 * table at row offset n (S2, resume always appends);
 * `--scan-partitions table=n` reads a table over n range-parallel JDBC
 * connections (the at-scale ingest path the reference's single-reader
 * source lacks — see [[graft.sources.JdbcSource.scanPartitioned]]).
 *
 * Prints a per-table report plus the aggregate batch counters
 * (rows_read / rows_written / delta, FB:1283–1327) and exits non-zero on
 * failure when --fail-on-consistency-error is set.
 */
object IngestMain {

  /** Port of `getArg` (FB:1729–1736): positional `--key value` scan. */
  def getArg(args: Array[String], key: String, default: String = null): String = {
    val i = args.indexOf(s"--$key")
    if (i >= 0 && i + 1 < args.length) args(i + 1) else default
  }

  /** `--order-by table=col,table2=col2` → map. */
  def parseOverrides(spec: String): Map[String, String] =
    if (spec == null || spec.isEmpty) Map.empty
    else spec.split(",").map { kv =>
      kv.split("=") match {
        case Array(t, c) => t.trim -> c.trim
        case _ => throw new IllegalArgumentException(s"bad --order-by entry: $kv")
      }
    }.toMap

  def main(args: Array[String]): Unit = {
    val sourceDir = getArg(args, "source-dir", "/root/testdata/sf0.001")
    val warehouse = getArg(args, "warehouse",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    val tables = getArg(args, "tables", "region,nation")
    val mode = getArg(args, "mode", "append")
    // --naming fb: FB-variant identifier normalization (uppercase source,
    // lowercase + $-sanitized sink); default preserves case (MIS)
    val naming = getArg(args, "naming", "mis")
    val failOnErr = getArg(args, "fail-on-consistency-error", "true").toBoolean
    val orderBy = parseOverrides(getArg(args, "order-by", ""))
    val spark = GraftSession()

    val jdbcUrl = getArg(args, "jdbc-url", null)
    val offsets = parseOverrides(getArg(args, "offset", ""))
      .map { case (t, n) => t -> n.toLong }
    val scanParts = parseOverrides(getArg(args, "scan-partitions", ""))
      .map { case (t, n) => t -> n.toInt }
    val mappings = IngestJob.TableMapping.parse(tables, naming)
    val lineage = Enrich.Lineage(
      loadDttm = new java.sql.Timestamp(System.currentTimeMillis()))

    val t0 = System.nanoTime()
    val results =
      try {
        if (jdbcUrl != null)
          sources.JdbcIngest.run(spark, sources.JdbcIngest.JdbcConfig(
            url = jdbcUrl,
            warehouseDir = warehouse,
            tables = mappings,
            orderByOverride = orderBy,
            replace = mode == "replace",
            failOnConsistencyError = failOnErr,
            offsetRows = offsets,
            lineage = lineage,
            scanPartitions = scanParts))
        else
          IngestJob.run(spark, IngestJob.IngestConfig(
            sourceDir = sourceDir,
            warehouseDir = warehouse,
            tables = mappings,
            orderByOverride = orderBy,
            replace = mode == "replace",
            failOnConsistencyError = failOnErr,
            offsetRows = offsets,
            lineage = lineage))
      } catch {
        case e: graft.operators.ConsistencyCheck.ConsistencyCheckException =>
          System.err.println(s"[ingest] ABORT: ${e.getMessage}")
          spark.stop(); sys.exit(2)
      }

    results.foreach { r =>
      val status =
        if (r.skipped) "SKIPPED (no access)"
        else r.error.map(e => s"ERROR: $e").getOrElse(
          r.report.map(rep =>
            s"rows_read=${rep.sourceCount} rows_written=${rep.sinkCount} " +
            s"hash_mismatches=${rep.hashMismatches} " +
            (if (rep.ok) "OK" else "MISMATCH")).getOrElse("?"))
      println(s"[ingest] ${r.mapping.source} -> ${r.mapping.sink}: $status")
    }
    val reps = results.flatMap(_.report)
    val read = reps.map(_.sourceCount).sum
    val written = reps.map(_.sinkCount).sum
    println(f"[ingest] batch total: tables=${results.size} " +
      f"rows_read=$read rows_written=$written delta=${written - read} " +
      f"elapsed=${(System.nanoTime() - t0) / 1e9}%.1fs warehouse=$warehouse")
    spark.stop()
    if (failOnErr && (results.exists(_.error.nonEmpty) || reps.exists(!_.ok))) sys.exit(1)
  }
}
