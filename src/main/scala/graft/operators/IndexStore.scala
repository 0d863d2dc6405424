package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The one lifecycle of a persisted index (ANN, PQ, BM25, MinHash):
 * rows enter only through an atomic [[CommitLog]] batch, readers see
 * "base ∪ committed side batches, minus tombstones", deletes are
 * tombstones, and compaction folds everything back into the base.
 * Each family keeps only what is its own — the build and its metadata
 * tables, coding a batch against its frozen state, loading its
 * metadata, and its probe.
 *
 * Layout. An index is `<table>` plus sibling catalog tables, and its
 * id-keyed RELATIONS are named by their catalog suffix: [[Main]] is
 * `<table>` itself, `docs` is `<table>_docs`. Every relation has an
 * `id` column. A committed batch holds one subdirectory per relation,
 * `<table>_commits/b<id>/<relation>`, so one rename commits all of a
 * batch's relations together. A build records the relation list in
 * the log root ([[reset]]), and compaction folds exactly those.
 *
 * Deletes are tombstones ([[Ddl.appendTombstones]]): parquet files are
 * immutable, so doomed ids land in `<table>_deleted` and every read
 * anti-joins them until a compaction rewrites the survivors. Caller
 * contract: a deleted id is not re-appended before a compaction.
 *
 * History bounds: an as-of read keeps only batches `≤ asOf`, so it
 * reaches back to the last compaction (compaction is
 * `expire_snapshots`), and tombstones are unversioned — they apply to
 * every snapshot (per-batch delete files are the Iceberg v2 seam).
 */
object IndexStore {

  /** The relation stored as `<table>` itself. */
  val Main = "main"

  private def relationTable(table: String, rel: String): String =
    if (rel == Main) table else s"${table}_$rel"

  private def relationsFile(spark: SparkSession, table: String): Path =
    new Path(CommitLog.rootPath(spark, table), "_relations")

  /** Start a freshly built index: zero tombstones, an empty log, and
    * `relations` recorded as the set compaction folds. */
  def reset(spark: SparkSession, table: String,
      relations: Seq[String]): Unit = {
    Ddl.dropTombstones(spark, table)
    CommitLog.clear(spark, table)
    val f = relationsFile(spark, table)
    val out = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(f, true)
    try out.write(relations.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def relations(spark: SparkSession, table: String): Seq[String] = {
    val f = relationsFile(spark, table)
    val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(f), s"'$table' is not a persisted index (no $f)")
    val in = fs.open(f)
    try new String(in.readAllBytes(), "UTF-8").split("\n").toSeq
    finally in.close()
  }

  /** Commit one batch atomically: `rows` (relation → rows, evaluated
    * only when `batchId` is new) are written under one staging
    * directory whose rename is the commit. Returns false, writing
    * nothing, on a replayed id. */
  def append(spark: SparkSession, table: String, batchId: Long)(
      rows: => Seq[(String, DataFrame)]): Boolean =
    CommitLog.commit(spark, table, batchId) { dir =>
      rows.foreach { case (rel, df) =>
        df.write.option("compression", Ddl.ParquetCompression)
          .parquet(s"$dir/$rel")
      }
    }

  private def sideRows(spark: SparkSession, table: String, rel: String,
      base: DataFrame, batchIds: Seq[Long]): DataFrame = {
    val root = CommitLog.rootPath(spark, table)
    val dirs = batchIds.map(id => new Path(root, s"b$id/$rel").toString)
    // an empty log keeps the exact base-table plan (bucket pruning
    // included); explicit schema because an empty batch has no files
    if (dirs.isEmpty) base
    else base.unionByName(spark.read.schema(base.schema).parquet(dirs: _*))
  }

  /** The visible rows of each of `rels`, in order, from ONE listing of
    * the log: base ∪ committed batches (those `≤ asOf` when given),
    * minus tombstones. */
  def visible(spark: SparkSession, table: String, rels: Seq[String],
      asOf: Option[Long] = None): Seq[DataFrame] = {
    val ids = CommitLog.committedBatches(spark, table)
      .filter(id => asOf.forall(id <= _))
    rels.map { rel =>
      val rows = sideRows(spark, table, rel,
        spark.table(relationTable(table, rel)), ids)
      Ddl.withoutDeleted(spark, table, rows, "id")
    }
  }

  /** Tombstone `ids(idCol)` in `table` — O(|ids|), no index file is
    * written. */
  def delete(ids: DataFrame, idCol: String, table: String): Unit =
    Ddl.appendTombstones(ids.sparkSession, table, ids, idCol)

  /** Fold every committed batch into the base and drop tombstoned
    * rows: snapshot the committed ids ONCE, rewrite every relation from
    * base ∪ exactly those batches minus tombstones (bucket spec kept),
    * delete exactly those batches, then the tombstones. A batch
    * committed during the compaction stays in the log for the next one.
    * A crash between a relation swap and the batch delete leaves the
    * folded batches visible twice until compaction is rerun (see
    * [[CommitLog.deleteBatches]]): one compactor at a time. */
  def compact(spark: SparkSession, table: String): Unit = {
    val folded = CommitLog.committedBatches(spark, table)
    relations(spark, table).foreach { rel =>
      val t = relationTable(table, rel)
      Ddl.compactTable(spark, t, Ddl.withoutDeleted(spark, table,
        sideRows(spark, table, rel, spark.table(t), folded), "id"))
    }
    CommitLog.deleteBatches(spark, table, folded)
    Ddl.dropTombstones(spark, table)
  }
}
