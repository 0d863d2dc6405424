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
 * Both sources run the same load ([[graft.IngestJob.load]]). Prints a
 * per-table report plus the aggregate batch counters (rows_read /
 * rows_written / delta, FB:1283–1327) and exits non-zero on failure when
 * --fail-on-consistency-error is set. Arguments it would otherwise
 * misread — a `--mode` other than `append` or `replace`, or
 * `--scan-partitions` without `--jdbc-url` — exit with status 2 before
 * any work.
 */
object IngestMain {

  /** Port of `getArg` (FB:1729–1736): positional `--key value` scan. */
  def getArg(args: Array[String], key: String, default: String = null): String = {
    val i = args.indexOf(s"--$key")
    if (i >= 0 && i + 1 < args.length) args(i + 1) else default
  }

  /** `table=value,table2=value2` (`--order-by`, `--offset`,
    * `--scan-partitions`) → map. */
  def parseOverrides(spec: String): Map[String, String] =
    if (spec == null || spec.isEmpty) Map.empty
    else spec.split(",").map { kv =>
      kv.split("=") match {
        case Array(t, c) => t.trim -> c.trim
        case _ => throw new IllegalArgumentException(s"bad table=value entry: $kv")
      }
    }.toMap

  /** The run the arguments ask for: a parquet load, or with `--jdbc-url`
    * a live JDBC load; `Left` with the reason for arguments that would
    * otherwise be misread (`--mode replce` is not an append, and
    * `--scan-partitions` needs a JDBC source). */
  def config(args: Array[String]): Either[String, IngestJob.LoadConfig] = {
    val sourceDir = getArg(args, "source-dir", "/root/testdata/sf0.001")
    val mode = getArg(args, "mode", "append")
    val jdbcUrl = Option(getArg(args, "jdbc-url"))
    val scanSpec = getArg(args, "scan-partitions", "")
    if (mode != "append" && mode != "replace")
      Left(s"--mode must be append or replace, not '$mode'")
    else if (scanSpec.nonEmpty && jdbcUrl.isEmpty)
      Left("--scan-partitions needs --jdbc-url: a parquet source has no range-parallel scan")
    else scala.util.Try {
      val warehouse = Option(getArg(args, "warehouse"))
        .getOrElse(java.nio.file.Files.createTempDirectory("graft-wh").toString)
      // --naming fb: FB-variant identifier normalization (uppercase source,
      // lowercase + $-sanitized sink); default preserves case (MIS)
      val mappings = IngestJob.TableMapping.parse(
        getArg(args, "tables", "region,nation"), getArg(args, "naming", "mis"))
      val orderBy = parseOverrides(getArg(args, "order-by", ""))
      val replace = mode == "replace"
      val failOnErr = getArg(args, "fail-on-consistency-error", "true").toBoolean
      val offsets = parseOverrides(getArg(args, "offset", ""))
        .map { case (t, n) => t -> n.toLong }
      val lineage = Enrich.Lineage(
        loadDttm = new java.sql.Timestamp(System.currentTimeMillis()))
      jdbcUrl match {
        case Some(url) =>
          val scanParts = parseOverrides(scanSpec).map { case (t, n) => t -> n.toInt }
          sources.JdbcIngest.JdbcConfig(url, warehouse, mappings, orderBy, replace,
            failOnErr, offsets, lineage, scanParts)
        case None =>
          IngestJob.IngestConfig(sourceDir, warehouse, mappings, orderBy, replace,
            failOnErr, offsets, lineage)
      }
    }.toEither.left.map(_.getMessage)
  }

  def main(args: Array[String]): Unit = {
    val cfg = config(args).fold(
      why => { System.err.println(s"[ingest] $why"); sys.exit(2) }, identity)
    val spark = GraftSession()
    val t0 = System.nanoTime()
    val results =
      try IngestJob.run(spark, cfg)
      catch {
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
      f"elapsed=${(System.nanoTime() - t0) / 1e9}%.1fs warehouse=${cfg.warehouseDir}")
    spark.stop()
    if (cfg.failOnConsistencyError && (results.exists(_.error.nonEmpty) || reps.exists(!_.ok))) sys.exit(1)
  }
}
