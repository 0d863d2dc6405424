package graft

import graft.IngestJob._
import graft.operators._

/** End-to-end minimum slice (SURVEY §7): snapshot-ingest with enrichment +
  * self-verification — count equality and zero dual-hash mismatches. */
class IngestJobSpec extends SparkSpec {

  private def cfg(tables: String, replace: Boolean = true) = IngestConfig(
    sourceDir = sf(),
    warehouseDir = tmp("graft-wh"),
    tables = TableMapping.parse(tables),
    replace = replace)

  test("lineitem ingest: count + dual-hash consistency check passes") {
    val results = IngestJob.run(spark, cfg("lineitem"))
    assert(results.size === 1)
    val r = results.head
    assert(r.error.isEmpty, r.error)
    assert(!r.skipped)
    assert(r.report.get.ok, r.report)
    assert(r.report.get.sourceCount === 6000L)
  }

  test("multi-table batch with graceful skip of missing table") {
    val results = IngestJob.run(spark, cfg("region,nation,does_not_exist"))
    assert(results.map(_.skipped) === Seq(false, false, true))
    assert(results.take(2).forall(_.report.exists(_.ok)))
  }

  test("source:sink mapping renames the sink table") {
    val c = cfg("region:region_renamed")
    IngestJob.run(spark, c)
    val sink = Ddl.readTable(spark, s"${c.warehouseDir}/region_renamed")
    assert(sink.count() === 5)
    // 2 source cols + 11 tech cols
    assert(sink.columns.length === 2 + Enrich.TechColsCount)
  }

  test("resume offset appends the suffix to an existing prefix; full-count verify") {
    import org.apache.spark.sql.SaveMode
    // Simulate a run that died after 20 rows: write the enriched prefix
    // under the same total order the resume path uses.
    val c = cfg("nation", replace = true).copy(offsetRows = Map("nation" -> 20L))
    val src = spark.read.parquet(sf() + "/nation.parquet")
    val metas = ColumnMeta.fromSchema(src.schema)
    val wm = SnapshotScan.freezeWatermark(src, "n_nationkey")
    val prefix = SnapshotScan.resumableScan(src, "n_nationkey", wm).limit(20)
    Ddl.writePartitioned(Enrich.enrich(prefix, metas, c.lineage),
      s"${c.warehouseDir}/nation", SaveMode.Append)

    // Resume: must APPEND (even with replace=true) and verify the FULL
    // frozen source count against the full sink.
    val r = IngestJob.run(spark, c).head
    assert(r.error.isEmpty, r.error)
    assert(r.report.get.ok, r.report)
    assert(r.report.get.sourceCount === 25L)
    assert(r.report.get.sinkCount === 25L) // prefix(20) + suffix(5)
  }

  test("resume order is TOTAL with duplicate order keys (tie-breaker columns)") {
    import spark.implicits._
    val df = Seq((1, "b"), (1, "a"), (2, "c"), (2, "a"), (3, "z")).toDF("k", "v")
    val wm = SnapshotScan.freezeWatermark(df, "k")
    val full = SnapshotScan.resumableScan(df, "k", wm, 0, Seq("v")).collect().toSeq
    // duplicate k values: tie-breaker v pins the order; the reference
    // leaves this nondeterministic (FB:1084)
    assert(full.map(r => (r.getInt(0), r.getString(1))) ===
      Seq((1, "a"), (1, "b"), (2, "a"), (2, "c"), (3, "z")))
    val resumed = SnapshotScan.resumableScan(df, "k", wm, 2, Seq("v")).collect().toSeq
    assert(resumed === full.drop(2))
  }

  test("empty source → NULL watermark → empty-set predicate (FB:645–657)") {
    import spark.implicits._
    val empty = spark.createDataFrame(Seq.empty[(Int, String)]).toDF("k", "v")
    val wm = SnapshotScan.freezeWatermark(empty, "k")
    assert(wm.isEmpty)
    val li = spark.read.parquet(sf() + "/lineitem.parquet")
    assert(SnapshotScan.bounded(li, "l_orderkey", wm).count() === 0L)
  }

  test("isolated verify read (vectorization off, parallelism 1) matches plain metrics; conf restored") {
    val c = cfg("region")
    IngestJob.run(spark, c)
    val path = s"${c.warehouseDir}/region"
    val key = "spark.sql.parquet.enableVectorizedReader"
    val before = spark.conf.getOption(key)
    val iso = ConsistencyCheck.isolatedSinkMetrics(spark, path)
    val plain = ConsistencyCheck.sinkMetrics(Ddl.readTable(spark, path))
    assert(iso === plain)
    assert(iso.rowCount === 5L)
    assert(spark.conf.getOption(key) === before)
  }

  test("a sink without row_hash_iceberg fails the isolated verify: its nulls count as mismatches") {
    import org.apache.spark.sql.SaveMode
    val c = cfg("region")
    IngestJob.run(spark, c)
    val path = s"${c.warehouseDir}/region"
    val stripped = s"${c.warehouseDir}/region_stripped"
    spark.read.parquet(path).drop("row_hash_iceberg")
      .write.mode(SaveMode.Overwrite).partitionBy(Ddl.PartitionColumn).parquet(stripped)
    val iso = ConsistencyCheck.isolatedSinkMetrics(spark, stripped)
    assert(iso === ConsistencyCheck.SnapshotMetrics(rowCount = 5L, hashMismatchCount = 5L))
    assert(!ConsistencyCheck.check("region", 5L, iso, failOnError = false).ok)
  }

  test("a replace ingestTable of sf0.01 lineitem runs at most 10 Spark jobs") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    // jobs tagged by a local property; the marker job drains the FIFO
    // listener bus, so every job start of the load is delivered first
    val tagKey = "graft.spec.ingest"
    val marker = "graft-ingest-spec-drain-marker"
    val jobs = new AtomicInteger(0)
    val markerSeen = new CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).foreach { props =>
          if (props.getProperty("spark.job.description") == marker) markerSeen.countDown()
          else if (props.getProperty(tagKey) != null) { jobs.incrementAndGet(); () }
        }
    }
    val c = cfg("lineitem").copy(sourceDir = sf("sf0.01"))
    val sc = spark.sparkContext
    Ddl.clearProbeCache()
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tagKey, "lineitem")
      val r = try IngestJob.ingestTable(spark, c, c.tables.head)
        finally sc.setLocalProperty(tagKey, null)
      assert(r.report.exists(_.ok), r)
      sc.setJobDescription(marker)
      try spark.range(1).count()
      finally sc.setJobDescription(null)
      assert(markerSeen.await(60, TimeUnit.SECONDS), "marker job event not delivered within 60s")
    } finally sc.removeSparkListener(listener)
    assert(jobs.get() <= 10, s"${jobs.get()} jobs: a new job on the load path")
  }

  test("FB naming mode: uppercase source, lowercase $-sanitized sink (FB:427–466)") {
    assert(TableMapping.parseFb("MIS$DOC, ref$pat:Patients ,Orders") === Seq(
      TableMapping("MIS$DOC", "mis_doc"),   // auto sink: lower + $→_
      TableMapping("REF$PAT", "patients"),  // explicit sink: lower, NOT sanitized
      TableMapping("ORDERS", "orders")))
    // mode dispatch: "fb" routes to parseFb, default preserves case
    assert(TableMapping.parse("A$x:B", "fb") === Seq(TableMapping("A$X", "b")))
    assert(TableMapping.parse("A$x:B", "mis") === Seq(TableMapping("A$x", "B")))
  }

  test("consistency failure throws when failOnError, reports when not (FB:112–114)") {
    val bad = ConsistencyCheck.SnapshotMetrics(rowCount = 9L, hashMismatchCount = 1L)
    intercept[ConsistencyCheck.ConsistencyCheckException] {
      ConsistencyCheck.check("t", srcCount = 10L, bad, failOnError = true)
    }
    val rep = ConsistencyCheck.check("t", srcCount = 10L, bad, failOnError = false)
    assert(!rep.ok && rep.sinkCount === 9L && rep.hashMismatches === 1L)
  }

  test("tech-column name collision gets __ prefix (FB:862–879)") {
    val resolved = Enrich.resolveTechColumnNames(Seq("id", "OP", "row_hash"))
    assert(resolved.contains("__op"))
    assert(resolved.contains("__row_hash"))
    assert(resolved.contains("load_dttm"))
  }
}
