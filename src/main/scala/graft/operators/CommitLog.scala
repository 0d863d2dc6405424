package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * Atomic per-batch commit log for persisted-index side batches — the
 * filesystem-native answer to the streaming append/ledger atomicity
 * window (previously documented as an Iceberg seam).
 *
 * The old recipe (append rows into the index table, then record the
 * batch id in a ledger table) had a one-batch duplication window: a
 * crash BETWEEN the two writes left the rows visible but the batch
 * unrecorded, so Structured Streaming's replay appended them again.
 * This module removes the window by making data visibility and commit
 * the SAME event, the classic staging-directory + atomic-rename
 * protocol (what Hadoop's FileOutputCommitter v1 does per job, and what
 * an Iceberg snapshot commit does via its catalog pointer swap):
 *
 *   1. the batch's rows are written under `_staging/b<batchId>` —
 *      a path NO reader ever lists, so a crash mid-write (or after the
 *      write, before step 2) leaves garbage that is invisible and is
 *      cleared on the next attempt;
 *   2. the staging directory is RENAMEd to `b<batchId>` — one
 *      filesystem metadata operation, atomic on HDFS and POSIX
 *      local filesystems (object stores need their own committer —
 *      that seam is Iceberg's, documented in DESIGN.md);
 *   3. the ledger is DERIVED, not written: a batch id is committed iff
 *      its directory exists. Replay check = directory existence; there
 *      is no second write to race with.
 *
 * Readers: [[IndexStore.visible]] unions the committed batches of
 * every index relation with its base table, and
 * [[TokenizerStore]] reads one committed version. A compaction
 * ([[IndexStore.compact]]) snapshots [[committedBatches]] once, folds
 * exactly those batches into the (bucketed) base and
 * [[deleteBatches]] only them — the LSM shape: streamed batches are
 * immutable L0 runs, compaction is the merge that restores the base
 * layout (and, for the ANN index, full bucket-pruned exchange-free
 * probes over everything again; until then the side fraction is
 * scanned unpruned, bounded by compaction cadence).
 *
 * The log lives at `<warehouse>/<table>_commits` — next to the managed
 * table, deliberately NOT a catalog table: the protocol's whole point
 * is that the filesystem state IS the source of truth.
 */
object CommitLog {

  /** Root directory of `table`'s commit log. */
  def rootPath(spark: SparkSession, table: String): Path =
    new Path(spark.conf.get("spark.sql.warehouse.dir"),
      s"${table.toLowerCase(java.util.Locale.ROOT)}_commits")

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def committedPath(root: Path, batchId: Long): Path =
    new Path(root, s"b$batchId")

  /** True iff `batchId` has been committed for `table`. */
  def isCommitted(spark: SparkSession, table: String, batchId: Long): Boolean = {
    val root = rootPath(spark, table)
    fsOf(spark, root).exists(committedPath(root, batchId))
  }

  /** Run `write` against a staging path and atomically commit it as
    * `batchId`. Returns false (and runs nothing) on a replayed id.
    * Crash-safe at every point: before the rename nothing is visible;
    * after it the batch is durably committed and a replay is a no-op. */
  def commit(spark: SparkSession, table: String, batchId: Long)(
      write: String => Unit): Boolean = {
    val root = rootPath(spark, table)
    val fs = fsOf(spark, root)
    val committed = committedPath(root, batchId)
    if (fs.exists(committed)) return false
    val staging = new Path(root, s"_staging/b$batchId")
    // a stale staging dir is a previous attempt's crash debris — it was
    // never visible, so clearing and rewriting is exactly-once
    if (fs.exists(staging)) fs.delete(staging, true)
    write(staging.toString)
    if (!fs.rename(staging, committed))
      throw new IllegalStateException(
        s"CommitLog: rename $staging -> $committed failed")
    true
  }

  /** Committed batch ids, ascending. */
  def committedBatches(spark: SparkSession, table: String): Seq[Long] = {
    val root = rootPath(spark, table)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches("b\\d+"))
      .map(_.getPath.getName.drop(1).toLong).sorted
  }

  /** Rows of EXACTLY the given batch ids (explicit schema — an empty
    * batch commits a directory with no data files), or None for no
    * ids. A reader that snapshots [[committedBatches]] once and reads
    * those ids never sees a batch committed after its snapshot. */
  def sideRowsFor(spark: SparkSession, table: String, schema: StructType,
      batchIds: Seq[Long]): Option[DataFrame] = {
    val root = rootPath(spark, table)
    val dirs = batchIds.map(id => committedPath(root, id).toString)
    if (dirs.isEmpty) None
    else Some(spark.read.schema(schema).parquet(dirs: _*))
  }

  /** Remove exactly the given committed batch directories (post-fold).
    * Batches committed after the caller's snapshot are untouched.
    *
    * Crash contract: each delete is independent, so a crash mid-way
    * leaves some folded batches still in the log — the next
    * [[IndexStore.visible]] union then DUPLICATES those rows against the folded
    * base until a re-run compacts again (which removes the debris: its
    * rewrite deduplicates nothing, but its delete clears the dirs).
    * Closing that last window needs an atomic multi-file metadata swap
    * — the Iceberg-snapshot seam documented in DESIGN.md. Until then:
    * one compactor at a time, and rerun compaction after a mid-swap
    * crash before serving probes. */
  def deleteBatches(spark: SparkSession, table: String,
      batchIds: Seq[Long]): Unit = {
    val root = rootPath(spark, table)
    val fs = fsOf(spark, root)
    batchIds.foreach { id =>
      val p = committedPath(root, id)
      if (fs.exists(p)) fs.delete(p, true)
    }
  }

  /** Drop the whole log — ONLY for a fresh build
    * ([[IndexStore.reset]]: a rebuild starts with zero streamed
    * batches). Compactions use the snapshot-scoped [[deleteBatches]]
    * instead: clearing the whole log would drop a batch committed after
    * the compaction's snapshot. */
  def clear(spark: SparkSession, table: String): Unit = {
    val root = rootPath(spark, table)
    val fs = fsOf(spark, root)
    if (fs.exists(root)) fs.delete(root, true)
  }
}
