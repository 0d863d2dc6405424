package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ddl, Enrich}

class DdlSpec extends SparkSpec {

  test("generated CREATE TABLE executes in Spark SQL and round-trips the schema") {
    val li = spark.read.parquet(sf() + "/lineitem.parquet")
    val enriched = Enrich.enrich(li, ColumnMeta.fromSchema(li.schema))
    val loc = tmp("ddl-exec")
    val ddl = Ddl.buildCreateTableSql("graft_ddl_exec", enriched.schema)
      // external location so the managed-table warehouse isn't involved
      .replace("TBLPROPERTIES", s"LOCATION '$loc'\nTBLPROPERTIES")
    spark.sql(ddl) // must parse and execute
    try {
      val cat = spark.table("graft_ddl_exec")
      // created table carries source + tech + partition column
      assert(cat.columns.toSeq ===
        enriched.columns.toSeq :+ Ddl.PartitionColumn)
      // and is writable through the declared schema
      Ddl.writePartitioned(enriched.limit(10), loc)
      spark.sql("REFRESH TABLE graft_ddl_exec")
      assert(spark.table("graft_ddl_exec").count() >= 0) // readable
    } finally spark.sql("DROP TABLE IF EXISTS graft_ddl_exec")
  }

  test("month partitioning: reads with a load_month filter prune partitions") {
    val li = spark.read.parquet(sf() + "/lineitem.parquet").limit(100)
    val metas = ColumnMeta.fromSchema(li.schema)
    val path = tmp("ddl-prune")
    // two distinct load months
    Ddl.writePartitioned(Enrich.enrich(li, metas,
      Enrich.Lineage(loadDttm = java.sql.Timestamp.valueOf("2026-01-15 00:00:00"))), path)
    Ddl.writePartitioned(Enrich.enrich(li, metas,
      Enrich.Lineage(loadDttm = java.sql.Timestamp.valueOf("2026-02-15 00:00:00"))), path)

    val all = spark.read.parquet(path)
    assert(all.count() === 200)
    val pruned = all.filter(col(Ddl.PartitionColumn) === "2026-01")
    assert(pruned.count() === 100)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(load_month"),
      s"partition filter not pushed:\n$plan")
  }

  test("file-size targeting: maxRecordsPerFile derived from measured row width") {
    Ddl.clearProbeCache()
    val li = spark.read.parquet(sf() + "/lineitem.parquet")
    val metas = ColumnMeta.fromSchema(li.schema)
    val enriched = Enrich.enrich(li, metas)
    val probeDest = tmp("ddl-probe")

    // the probe measures real compressed bytes/row on a sample
    val est = Ddl.estimateRecordsPerFile(enriched, probeDest, target = 20 * 1024).get
    assert(est > 0 && est < 6000, s"estimate $est should force splits on 6000 rows")

    // a tiny target forces the writer to split within the partition
    val path = tmp("ddl-size")
    Ddl.writePartitioned(enriched, path, targetFileSizeBytes = Some(20 * 1024))
    val dataFiles = new java.io.File(path).listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet"))
    assert(dataFiles.length > 1, "target below table size must yield multiple files")
    // every file respects the cap (within parquet metadata slack): no
    // file should exceed ~2x the target
    val maxBytes = dataFiles.map(_.length()).max
    assert(maxBytes < 2L * 20 * 1024 + 8192,
      s"largest file $maxBytes exceeds the 20KB target envelope")
    // and nothing was lost
    assert(spark.read.parquet(path).count() === 6000)

    // empty input → no estimate (and NOT cached as a permanent disable:
    // the same schema still measures on the next non-empty call)
    val emptyDest = tmp("ddl-empty")
    assert(Ddl.estimateRecordsPerFile(enriched.limit(0), emptyDest).isEmpty)
    assert(Ddl.estimateRecordsPerFile(enriched, emptyDest).isDefined)
  }

  test("width probe writes nothing under dest and runs once per schema") {
    Ddl.clearProbeCache()
    val li = spark.read.parquet(sf() + "/lineitem.parquet").limit(200)
    val enriched = Enrich.enrich(li, ColumnMeta.fromSchema(li.schema))
    val path = tmp("ddl-cache")

    // the probe measures in memory: nothing appears under `dest`
    assert(Ddl.estimateRecordsPerFile(enriched, path).isDefined)
    assert(Ddl.probesRun === 1, "first call must run exactly one probe")
    assert(new java.io.File(path).list().isEmpty, "the probe wrote under the destination")
    // a write of the same schema reuses the cached width — the upstream
    // plan is NOT re-executed by a second probe
    Ddl.writePartitioned(enriched, path)
    assert(Ddl.probesRun === 1, "same-schema write re-ran the width probe")
    // a different target is a different measurement
    Ddl.writePartitioned(enriched, path, targetFileSizeBytes = Some(64 * 1024))
    assert(Ddl.probesRun === 2)
    assert(spark.read.parquet(path).count() === 400)

    // an empty sample measures nothing and is not cached
    assert(Ddl.estimateRecordsPerFile(enriched.limit(0), path, target = 1L << 20).isEmpty)
    assert(Ddl.estimateRecordsPerFile(enriched, path, target = 1L << 20).isDefined)
    assert(Ddl.probesRun === 4, "an empty sample was cached")
  }

  test("in-memory width measurement equals the bytes of Spark's own zstd write of the sample") {
    val li = spark.read.parquet(sf("sf0.01") + "/lineitem.parquet")
    val sample = Enrich.enrich(li, ColumnMeta.fromSchema(li.schema)).limit(10000)
    val (rows, bytes) = Ddl.encodedSize(sample)
    val path = tmp("ddl-width") + "/sample"
    sample.write.option("compression", Ddl.ParquetCompression).parquet(path)
    val written = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    assert(rows === 10000L)
    assert(bytes === written, "measured bytes differ from the written sample's")
  }

  test("bucketed tables join exchange-free (co-located sort-merge join)") {
    val orders = spark.read.parquet(sf() + "/orders.parquet")
    val li = spark.read.parquet(sf() + "/lineitem.parquet")
    // force the sort-merge path: the fixture tables are broadcast-sized,
    // and a BroadcastExchange would mask the co-location being tested
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prevThreshold = spark.conf.get(thresholdKey)
    spark.conf.set(thresholdKey, "-1")
    try {
      Ddl.writeBucketedTable(orders, "graft_b_orders", "o_orderkey", 4)
      Ddl.writeBucketedTable(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "graft_b_lineitem",
        "o_orderkey", 4)
      val joined = spark.table("graft_b_orders")
        .join(spark.table("graft_b_lineitem"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() === li.count()) // every lineitem has its order
    } finally {
      spark.conf.set(thresholdKey, prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_b_orders")
      spark.sql("DROP TABLE IF EXISTS graft_b_lineitem")
    }
  }

  test("bucket-clustered write is threshold-gated: small input = one file per bucket, over-threshold input = parallel splintered write, identical table content") {
    val orders = spark.read.parquet(sf() + "/orders.parquet")
      .repartition(6) // several input partitions so splintering is visible
    def bucketFiles(table: String): Int = {
      val loc = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
        .location
      new java.io.File(loc).listFiles()
        .count(f => f.getName.startsWith("part-"))
    }
    val confKey = Ddl.ClusterMaxBucketBytesConf
    try {
      // default threshold (512 MB/bucket): clustered, exactly one file
      // per bucket
      Ddl.writeBucketedTable(orders, "graft_gate_small", "o_orderkey", 4)
      assert(bucketFiles("graft_gate_small") === 4,
        "clustered write should emit one file per bucket")
      // force the gate shut (estimated bucket bytes exceed 1 byte):
      // the parallel splintered write runs instead
      spark.conf.set(confKey, "1")
      Ddl.writeBucketedTable(orders, "graft_gate_big", "o_orderkey", 4)
      assert(bucketFiles("graft_gate_big") > 4,
        "over-threshold write should keep input parallelism (several files per bucket)")
      // both layouts hold the same rows and bucket metadata
      val a = spark.table("graft_gate_small").orderBy("o_orderkey")
        .collect().map(_.toString).toSeq
      val b = spark.table("graft_gate_big").orderBy("o_orderkey")
        .collect().map(_.toString).toSeq
      assert(a === b)
    } finally {
      spark.conf.unset(confKey)
      spark.sql("DROP TABLE IF EXISTS graft_gate_small")
      spark.sql("DROP TABLE IF EXISTS graft_gate_big")
    }
  }

  test("bucket-clustering gate with unknown stats: an RDD-backed frame is sized by materializing it, so a small one still gets one file per bucket") {
    val orders = spark.read.parquet(sf() + "/orders.parquet").repartition(6)
    val fromRdd = spark.createDataFrame(orders.rdd, orders.schema)
    // the optimizer cannot size an RDD: it reports the sentinel
    assert(fromRdd.queryExecution.optimizedPlan.stats.sizeInBytes >=
      spark.sessionState.conf.defaultSizeInBytes)
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    try {
      Ddl.writeBucketedTable(fromRdd, "graft_gate_rdd", "o_orderkey", 4)
      val loc = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("graft_gate_rdd"))
        .location
      assert(new java.io.File(loc).listFiles()
        .count(_.getName.startsWith("part-")) === 4,
        "a small frame with unknown stats should get the clustered layout")
      assert(spark.table("graft_gate_rdd").count() === orders.count())
      // the sizing barrier is released after the write
      assert(spark.sparkContext.getPersistentRDDs.size === persistedBefore)
    } finally spark.sql("DROP TABLE IF EXISTS graft_gate_rdd")
  }

  test("uppercase tech-column mode (MIS naming, MIS:89–90)") {
    val li = spark.read.parquet(sf() + "/region.parquet")
    val metas = ColumnMeta.fromSchema(li.schema)
    val up = Enrich.enrich(li, metas, uppercase = true)
    assert(up.columns.contains("LOAD_DTTM"))
    assert(up.columns.contains("ROW_HASH_ICEBERG"))
    // hash values identical regardless of naming mode
    val lo = Enrich.enrich(li, metas)
    val a = up.select(col("r_regionkey"), col("ROW_HASH").as("h"))
    val b = lo.select(col("r_regionkey"), col("row_hash").as("h"))
    assert(a.except(b).count() === 0L)
  }
}
