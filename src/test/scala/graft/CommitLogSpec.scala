package graft

import org.apache.spark.sql.functions.col

import graft.operators.CommitLog

/** Unit contract of the atomic batch-commit protocol, independent of
  * the index machinery (StreamingSpec proves the composed behavior):
  * replay detection, crash-debris invisibility, numeric batch order,
  * empty-batch commits, and log clearing. */
class CommitLogSpec extends SparkSpec {

  import spark.implicits._

  /** Every committed batch's rows (None when nothing is committed). */
  private def sideRows(table: String,
      schema: org.apache.spark.sql.types.StructType) =
    CommitLog.sideRowsFor(spark, table, schema,
      CommitLog.committedBatches(spark, table))

  test("commit is exactly-once per id, numeric-ordered, and clears cleanly") {
    val table = "graft_commitlog_unit"
    CommitLog.clear(spark, table)
    def write(n: Int)(dir: String): Unit =
      (1 to n).toDF("x").write.parquet(dir)
    // first commit runs the write and reports true; replay reports
    // false and runs NOTHING (the write fn would throw if invoked)
    assert(CommitLog.commit(spark, table, 7L)(write(3)))
    assert(!CommitLog.commit(spark, table, 7L)(_ =>
      fail("replayed batch id must not re-run the write")))
    assert(CommitLog.isCommitted(spark, table, 7L))
    assert(!CommitLog.isCommitted(spark, table, 8L))
    // batch ids order NUMERICALLY, not lexicographically (10 > 9)
    Seq(10L, 2L, 9L).foreach(id =>
      assert(CommitLog.commit(spark, table, id)(write(1))))
    assert(CommitLog.committedBatches(spark, table) === Seq(2L, 7L, 9L, 10L))
    // side rows see every committed batch exactly once
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.IntegerType)))
    assert(sideRows(table, schema).get.count() === 6L)
    CommitLog.clear(spark, table)
    assert(CommitLog.committedBatches(spark, table).isEmpty)
    assert(sideRows(table, schema).isEmpty)
  }

  test("a crashed attempt leaves nothing visible; the retry rewrites its debris") {
    val table = "graft_commitlog_crash"
    CommitLog.clear(spark, table)
    // crash AFTER the data write, BEFORE the rename — the old ledger
    // protocol's fatal window
    intercept[RuntimeException] {
      CommitLog.commit(spark, table, 0L) { dir =>
        (1 to 100).toDF("x").write.parquet(dir)
        throw new RuntimeException("boom")
      }
    }
    assert(!CommitLog.isCommitted(spark, table, 0L))
    assert(CommitLog.committedBatches(spark, table).isEmpty)
    // retry with DIFFERENT (smaller) content: the stale staging debris
    // must be cleared, not merged — exactly the retried batch commits
    assert(CommitLog.commit(spark, table, 0L) { dir =>
      (1 to 5).toDF("x").write.parquet(dir)
    })
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.IntegerType)))
    assert(sideRows(table, schema).get.count() === 5L)
    // empty batches commit a visible (empty) batch directory
    assert(CommitLog.commit(spark, table, 1L) { dir =>
      spark.emptyDataset[Int].toDF("x").write.parquet(dir)
    })
    assert(CommitLog.committedBatches(spark, table) === Seq(0L, 1L))
    assert(sideRows(table, schema).get.count() === 5L)
    CommitLog.clear(spark, table)
  }

  test("a batch committed after the compaction snapshot survives the fold's delete") {
    val table = "graft_commitlog_concurrent"
    CommitLog.clear(spark, table)
    def write(lo: Int, hi: Int)(dir: String): Unit =
      (lo to hi).toDF("x").write.parquet(dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.IntegerType)))
    // the compactor's view: snapshot ids, fold exactly those rows
    assert(CommitLog.commit(spark, table, 1L)(write(1, 3)))
    assert(CommitLog.commit(spark, table, 2L)(write(4, 5)))
    val snapshot = CommitLog.committedBatches(spark, table)
    assert(snapshot === Seq(1L, 2L))
    assert(CommitLog.sideRowsFor(spark, table, schema, snapshot)
      .get.count() === 5L)
    // a streaming append lands BETWEEN the snapshot and the post-swap
    // delete — the race the whole-log clear used to lose
    assert(CommitLog.commit(spark, table, 3L)(write(6, 9)))
    // scoped sideRows never see the unfolded batch
    assert(CommitLog.sideRowsFor(spark, table, schema, snapshot)
      .get.count() === 5L)
    CommitLog.deleteBatches(spark, table, snapshot)
    // folded batches are gone; the concurrent batch is intact and is
    // exactly what the next load/compaction sees
    assert(CommitLog.committedBatches(spark, table) === Seq(3L))
    assert(sideRows(table, schema).get.count() === 4L)
    // deleting an already-deleted (or never-committed) id is a no-op
    CommitLog.deleteBatches(spark, table, Seq(1L, 99L))
    assert(CommitLog.committedBatches(spark, table) === Seq(3L))
    CommitLog.clear(spark, table)
  }

  test("loadIndex asOf: snapshot sees appends <= N; full load sees all; compaction expires history") {
    import graft.operators.{IndexStore, Staging, VectorOps}
    val table = "graft_ann_asof_spec"
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    Staging.scoped {
      VectorOps.writeIndex(emb.filter(col("vec_id") % 3 =!= 0), "vec_id",
        "embedding", table, kClusters = 4, iters = 2, numBuckets = 4)
    }
    val batch = emb.filter(col("vec_id") % 3 === 0)
    assert(VectorOps.appendToIndexCommitted(
      batch.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", table, 0L))
    assert(VectorOps.appendToIndexCommitted(
      batch.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", table, 1L))
    def ids(idx: VectorOps.AnnIndex): Set[Long] =
      idx.coded.select("id").collect().map(_.getLong(0)).toSet
    val baseIds = emb.filter(col("vec_id") % 3 =!= 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val b0 = batch.filter(col("vec_id") % 2 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val b1 = batch.filter(col("vec_id") % 2 === 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids(VectorOps.loadIndex(spark, table, Some(-1L))) === baseIds)
    assert(ids(VectorOps.loadIndex(spark, table, Some(0L))) === baseIds ++ b0)
    assert(ids(VectorOps.loadIndex(spark, table, Some(1L))) === baseIds ++ b0 ++ b1)
    assert(ids(VectorOps.loadIndex(spark, table)) === baseIds ++ b0 ++ b1)
    // compaction = expire_snapshots: history collapses into the base
    IndexStore.compact(spark, table)
    assert(ids(VectorOps.loadIndex(spark, table, Some(-1L))) === baseIds ++ b0 ++ b1)
  }
}
