package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{CommitLog, Ddl, IndexStore, Retrieval, Staging,
  TextDedup, VectorOps}

object IndexStoreSpec {
  /** One family's lifecycle hooks. `ids` lists every id the loaded
    * index shows; `probe` answers a fixed probe from the loaded index
    * and `fresh` the same probe from an index built fresh on
    * `survivors` (for ANN and PQ: the survivors coded under the built
    * index's frozen quantizers, which is what such a build holds). */
  final case class Family(name: String, corpus: () => DataFrame,
      idCol: String, build: (DataFrame, String) => Unit,
      append: (DataFrame, String) => Boolean, ids: String => Set[Long],
      probe: String => Set[Row], fresh: (DataFrame, String) => Set[Row])
}

/** The persisted-index lifecycle every family shares through
  * [[IndexStore]]: build, committed append, delete, compact, load. */
class IndexStoreSpec extends SparkSpec {
  import IndexStoreSpec.Family

  private lazy val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
  private lazy val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")

  private def idsOf(df: DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  private val bm25Terms = Seq("data", "model", "the")

  private val families = Seq(
    Family("ann", () => emb, "vec_id",
      (df, t) => VectorOps.writeIndex(df, "vec_id", "embedding", t,
        kClusters = 8, iters = 2, numBuckets = 4),
      (df, t) => VectorOps.appendToIndexCommitted(df, "vec_id", "embedding",
        t, batchId = 0L),
      t => idsOf(VectorOps.loadIndex(spark, t).coded),
      t => VectorOps.ivfSq8TopKFromIndex(VectorOps.loadIndex(spark, t),
        col("id") < 30, k = 5).collect().toSet,
      (survivors, t) => {
        val idx = VectorOps.loadIndex(spark, t)
        val coded = VectorOps.prepared(survivors, "vec_id", "embedding")
          .select(col("id"), col("v"), col("nrm"),
            VectorOps.assignCell(col("v"), col("nrm"), idx.cent).as("cell"),
            VectorOps.sq8Code(col("v"), idx.lo, idx.hi).as("code"))
        VectorOps.ivfSq8TopKFromIndex(idx.copy(coded = coded),
          col("id") < 30, k = 5).collect().toSet
      }),
    Family("pq", () => emb, "vec_id",
      (df, t) => VectorOps.writePqIndex(df, "vec_id", "embedding", t,
        m = 4, ksub = 8, iters = 2),
      (df, t) => VectorOps.appendToPqIndexCommitted(df, "vec_id",
        "embedding", t, batchId = 0L),
      t => idsOf(VectorOps.loadPqIndex(spark, t).coded),
      t => VectorOps.pqTopKFromIndex(VectorOps.loadPqIndex(spark, t),
        col("id") < 30, k = 5).collect().toSet,
      (survivors, t) => {
        val idx = VectorOps.loadPqIndex(spark, t)
        val coded = VectorOps.prepared(survivors, "vec_id", "embedding")
          .withColumn("code", VectorOps.pqCode(col("v"), idx.books,
            idx.books.head.head._2.length))
        VectorOps.pqTopKFromIndex(idx.copy(coded = coded), col("id") < 30,
          k = 5).collect().toSet
      }),
    Family("bm25", () => docs, "doc_id",
      (df, t) => Retrieval.writeBm25Index(df, "doc_id", "text", t),
      (df, t) => Retrieval.appendToBm25IndexCommitted(df, "doc_id", "text",
        t, batchId = 0L),
      t => idsOf(Retrieval.loadBm25Index(spark, t).posts),
      t => Retrieval.bm25TopKFromIndex(Retrieval.loadBm25Index(spark, t),
        bm25Terms, k = 50).collect().toSet,
      (survivors, t) => {
        Retrieval.writeBm25Index(survivors, "doc_id", "text", s"${t}_fresh")
        Retrieval.bm25TopKFromIndex(
          Retrieval.loadBm25Index(spark, s"${t}_fresh"), bm25Terms, k = 50)
          .collect().toSet
      }),
    Family("minhash", () => docs, "doc_id",
      (df, t) => TextDedup.writeMinhashIndex(df, "doc_id", "text", n = 3,
        k = 16, bandSize = 4, numBands = 4, threshold = 0.5, table = t,
        numBuckets = 4),
      (df, t) => TextDedup.appendToMinhashIndexCommitted(df, "doc_id",
        "text", t, batchId = 0L),
      t => {
        val idx = TextDedup.loadMinhashIndex(spark, t)
        idsOf(idx.entries) ++ idsOf(idx.docs)
      },
      t => TextDedup.probeMinhashIndex(spark, t, docs, "doc_id", "text")
        .collect().toSet,
      (survivors, t) => {
        TextDedup.writeMinhashIndex(survivors, "doc_id", "text", n = 3,
          k = 16, bandSize = 4, numBands = 4, threshold = 0.5,
          table = s"${t}_fresh", numBuckets = 4)
        TextDedup.probeMinhashIndex(spark, s"${t}_fresh", docs, "doc_id",
          "text").collect().toSet
      }))

  test("lifecycle table: in every index family, ids deleted from a committed batch are gone after compaction, the log and tombstones are empty, and the probe equals a fresh build on the survivors") {
    val failures = families.flatMap { f =>
      val table = s"graft_lifecycle_${f.name}"
      val key = col(f.idCol)
      val corpus = f.corpus()
      // the doomed ids live only in the committed batch, and some are
      // probe queries (id < 30)
      val doomedPred = key % 3 === 0 && key % 5 === 2
      Staging.scoped {
        f.build(corpus.filter(key % 3 =!= 0), table)
        assert(f.append(corpus.filter(key % 3 === 0), table), f.name)
        IndexStore.delete(corpus.filter(doomedPred), f.idCol, table)
        IndexStore.compact(spark, table)
        val doomed = corpus.filter(doomedPred).select(key)
          .collect().map(_.getLong(0)).toSet
        assert(doomed.exists(_ < 30), "fixture: a doomed id is a probe query")
        val survivors = corpus.filter(!doomedPred)
        Seq(
          (f.ids(table) & doomed).isEmpty -> "a deleted id is visible",
          CommitLog.committedBatches(spark, table).isEmpty ->
            "the commit log is not empty",
          !spark.catalog.tableExists(Ddl.tombstoneTable(table)) ->
            "the tombstones are not dropped",
          (f.probe(table) == f.fresh(survivors, table)) ->
            "the probe differs from a fresh build on the survivors")
          .collect { case (false, what) => s"${f.name}: $what" }
      }
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }
}
