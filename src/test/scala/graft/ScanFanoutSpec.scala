package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ddl, ScanFanout}

/** Gate behavior of the r21 small-input scan fan-out plus the
  * bucket-clustered index write it interacts with. */
class ScanFanoutSpec extends SparkSpec {

  private def freshRead() = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"${sf("sf0.01")}/lineitem.parquet")
  }

  private def shufflePartitions(df: org.apache.spark.sql.DataFrame): Option[Int] =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition =>
        r.numPartitions
    }

  test("fan-out repartitions an in-range relation by bytes/targetBytes, " +
    "capped at defaultParallelism") {
    val df = freshRead() // sf0.01 lineitem ~1.0 MB
    val out = ScanFanout(df)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val expect = ((bytes + ScanFanout.TargetBytes - 1) /
      ScanFanout.TargetBytes)
      .min(BigInt(spark.sparkContext.defaultParallelism)).max(2).toInt
    assert(shufflePartitions(out).contains(expect))
  }

  test("fan-out is a no-op below minBytes, above maxBytes, and when disabled") {
    val tiny = spark.read.parquet(s"${sf("sf0.01")}/region.parquet")
    assert(shufflePartitions(ScanFanout(tiny)).isEmpty)
    spark.conf.set(ScanFanout.MaxBytesConf, "10")
    try assert(shufflePartitions(ScanFanout(freshRead())).isEmpty)
    finally spark.conf.unset(ScanFanout.MaxBytesConf)
    spark.conf.set(ScanFanout.MaxBytesConf, "0")
    try assert(shufflePartitions(ScanFanout(freshRead())).isEmpty)
    finally spark.conf.unset(ScanFanout.MaxBytesConf)
  }

  test("fan-out keeps results identical (order-insensitive)") {
    val df = freshRead().select("l_orderkey", "l_linenumber", "l_quantity")
    // multiset equality: (l_orderkey, l_linenumber) is NOT unique in the
    // corpus, so row order among key-ties is partitioning-dependent on
    // BOTH sides — the oracle harness compares sorted rows for the same
    // reason
    val a = df.collect().map(_.toString).sorted
    val b = ScanFanout(df).collect().map(_.toString).sorted
    assert(a.toSeq == b.toSeq)
  }

  test("bucketed write from a fanned-out frame stays one file per bucket") {
    import spark.implicits._
    val table = "graft_fanout_bucket_spec"
    val df = (1L to 5000L).map(i => (s"k$i", i)).toDF("bkey", "id")
      .repartition(32) // the splinter-prone shape: 32 input partitions
    Ddl.writeBucketedTable(df, table, "bkey", 4)
    try {
      val loc = new java.io.File(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table)).location)
      val files = loc.listFiles().count(_.getName.endsWith(".parquet"))
      assert(files == 4, s"expected one file per bucket, got $files")
      // and the rows survive intact
      assert(spark.table(table).count() == 5000L)
    } finally Ddl.dropTableAndLocation(spark, table)
  }
}
