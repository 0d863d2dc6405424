package graft

/** Sanity coverage for the named query surface at sf0.001: every query
  * runs and yields the expected shape. Oracle-value parity is the driver's
  * t2 harness (tools/check_oracle.py locally). */
class QueriesSpec extends SparkSpec {

  test("every declared query runs non-empty at sf0.001") {
    Queries.all.foreach { case (name, q) =>
      val df = q.run(spark, sf())
      assert(df.count() > 0, s"query $name returned 0 rows")
    }
  }

  test("the runner executes each query under its declared AQE floor, whatever the build order") {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    val key = GraftSession.AqeFloorKey
    val t51 = Queries.t51_span_removal
    val plain = Queries.s1_resumable_scan
    assert(t51.conf.get(key).contains("64k") && plain.conf.isEmpty)
    // tag = which query's action started the job; the marker job drains
    // the FIFO listener bus (every earlier job start is delivered first)
    val tagKey = "graft.spec.query"
    val marker = "graft-runner-spec-drain-marker"
    val floors = new ConcurrentLinkedQueue[(String, String)]()
    val markerSeen = new CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).foreach { props =>
          if (props.getProperty("spark.job.description") == marker)
            markerSeen.countDown()
          else Option(props.getProperty(tagKey)).foreach(tag =>
            floors.add(tag -> props.getProperty(key)))
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try graft.operators.Staging.scoped {
      // t51 first, then a default-floor query: the later build resets
      // the session floor, which t51's action must not inherit
      val df51 = t51.run(spark, sf())
      val dfPlain = plain.run(spark, sf())
      val before = spark.conf.get(key)
      for ((tag, q, df) <- Seq(("t51", t51, df51), ("plain", plain, dfPlain))) {
        sc.setLocalProperty(tagKey, tag)
        try q.withConf(spark)(df.write.format("noop").mode("overwrite").save())
        finally sc.setLocalProperty(tagKey, null)
      }
      assert(spark.conf.get(key) === before, "the runner restores the session conf")
      sc.setJobDescription(marker)
      try spark.range(1).count()
      finally sc.setJobDescription(null)
      assert(markerSeen.await(60, TimeUnit.SECONDS),
        "marker job event not delivered within 60s")
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val byQuery = floors.asScala.toSeq.groupMap(_._1)(_._2)
    assert(byQuery.keySet === Set("t51", "plain"))
    assert(byQuery("t51").toSet === Set("64k"))
    assert(byQuery("plain").toSet === Set(GraftSession.AqeFloor))
  }

  test("oracleSql declared for every query") {
    val missing = Queries.all.collect {
      case (n, q) if q.oracle.isEmpty => n
    }.toSet
    assert(missing === Set.empty)
  }

  test("w3 approx-distinct twin lands within the rsd band of the exact answer") {
    import org.apache.spark.sql.functions._
    val rsd = 0.05
    val exact = Queries.w3_distinct_users.run(spark, sf())
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = Queries.w3ApproxDistinct(spark, sf(), rsd)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (k, e) =>
      val a = approx(k)
      // 3×rsd: the documented HLL++ error band with slack for small groups
      assert(math.abs(a - e).toDouble / e <= 3 * rsd,
        s"$k: approx $a vs exact $e exceeds ${3 * rsd}")
    }
  }

  test("unrounded DECIMAL q1 sums match DuckDB golden values row-by-row (sub-cent differential)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DecimalType, TimestampNTZType}
    // The gated q1 rounds final aggregates to cents (driver decimal-hash
    // workaround), which coarsens that gate to half a cent. This test is
    // the EXACT-decimal differential: Spark's unrounded DECIMAL sums vs
    // golden values computed once with DuckDB (same SQL as the q1 oracle
    // minus the money() rounding) on the immutable sf0.001 corpus — a
    // sub-cent cross-engine regression fails HERE even though the driver
    // hash can no longer see it.
    val d6 = DecimalType(18, 6)
    def dec6(c: org.apache.spark.sql.Column) = c.cast(d6)
    val dp = dec6(dec6(col("l_extendedprice")) * (lit(1).cast(d6) - dec6(col("l_discount"))))
    val charge = dec6(dp * (lit(1).cast(d6) + dec6(col("l_tax"))))
    val cutoff = java.sql.Timestamp.valueOf("1998-09-02 00:00:00")
    val rows = spark.read.parquet(sf() + "/lineitem.parquet")
      .filter(col("l_shipdate") <= lit(cutoff).cast(TimestampNTZType))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(dec6(col("l_quantity"))).as("sum_qty"),
        sum(dec6(col("l_extendedprice"))).as("sum_base_price"),
        sum(dp).as("sum_disc_price"),
        sum(charge).as("sum_charge"))
      .orderBy("l_returnflag", "l_linestatus")
      .collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getDecimal(2).toPlainString, r.getDecimal(3).toPlainString,
        r.getDecimal(4).toPlainString, r.getDecimal(5).toPlainString))
    // duckdb 2026-08-12, sf0.001 (tools/check_oracle.py's engine)
    val golden = Seq(
      ("A", "F", "13096.000000", "26731890.140000", "25368762.519800", "26387936.886050"),
      ("A", "O", "13173.000000", "27267029.090000", "25899278.959000", "26902747.506373"),
      ("N", "F", "15619.000000", "31788102.130000", "30158055.965000", "31390089.181047"),
      ("N", "O", "13130.000000", "27778238.790000", "26325536.758700", "27397179.923584"),
      ("R", "F", "13038.000000", "28543439.970000", "27069022.859200", "28154229.084096"),
      ("R", "O", "13188.000000", "27674702.110000", "26333407.778800", "27397110.851996"))
    assert(rows.toSeq === golden)
  }

  test("money magnitudes stay inside the double-exact band (2^53 cents)") {
    import org.apache.spark.sql.functions._
    // money()'s cents-rounded-DOUBLE rendering is only engine-exact while
    // sums stay ≤ ~15 significant digits (2^53 cents ≈ $9e13) — a corpus
    // assumption, not a law (see the money scaladoc). Assert it against
    // the largest money aggregate so a bigger corpus fails loudly here
    // instead of hashing differently at the driver.
    val maxAbs = Queries.q1_pricing_summary.run(spark, sf())
      .agg(max(abs(col("sum_charge")))).head.getDouble(0)
    assert(maxAbs < 9.0e13,
      f"money sum $maxAbs%.2f approaches 2^53 cents; emit DECIMAL instead")
  }

  test("o3 golden DDL contains the reference's physical-layout choices") {
    val ddl = Queries.o3_create_table_ddl.run(spark, sf()).head.getString(0)
    assert(ddl.contains("CREATE TABLE IF NOT EXISTS `lineitem_sink`"))
    assert(ddl.contains("`row_hash` STRING"))
    assert(ddl.contains("`row_hash_iceberg` STRING"))
    assert(ddl.contains("PARTITIONED BY (`load_month`)"))
    assert(ddl.contains("'parquet.compression' = 'zstd'"))
    assert(ddl.contains(s"'write.target-file-size-bytes' = '${536870912L}'"))
    // all 11 source + 11 tech columns present
    Seq("l_orderkey", "l_shipdate", "load_dttm", "op", "src_system_code")
      .foreach(c => assert(ddl.contains(s"`$c`"), s"missing $c in DDL"))
  }

  test("s1 offset-resume: offset N drops exactly the first N ordered rows") {
    val df0 = Queries.s1_resumable_scan.run(spark, sf())
    // full (offset 1000 already applied); re-run manual scan at offset 0
    val li = spark.read.parquet(sf() + "/lineitem.parquet")
    val wm = operators.SnapshotScan.freezeWatermark(li, "l_orderkey")
      .map(m => math.floor(m.asInstanceOf[Long] * 0.8).toLong)
    val full = operators.SnapshotScan.resumableScan(
      li.select("l_orderkey", "l_linenumber", "l_quantity"),
      "l_orderkey", wm, 0, Seq("l_linenumber"))
    assert(df0.count() === full.count() - 1000)
  }
}
