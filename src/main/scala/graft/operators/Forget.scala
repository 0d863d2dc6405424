package graft.operators

import org.apache.spark.sql.DataFrame

/**
 * Cross-modality DELETE PROPAGATION — "forget these documents
 * everywhere": one call tombstones an id set across every persisted
 * index built over the corpus (IVF/SQ8 vectors, PQ vectors, BM25
 * keyword postings, minhash near-dup bands). This is the production
 * takedown / right-to-be-forgotten operation: deleting from the base
 * table alone leaves the document retrievable through every derived
 * index until each is updated — the propagation has to be one
 * operation, or some index is forgotten.
 *
 * Semantics per index are the [[IndexStore]] merge-on-read delete
 * (tombstones anti-joined by every load; [[IndexStore.compact]] makes
 * them physical later): the ids land in each index's OWN tombstone
 * list, so per-index lifecycles (append, as-of, compact) stay
 * independent. All listed indexes must share the id space of
 * `ids(idCol)` — pass one call per id space when corpora differ (the
 * t95 gate does: vector ids for ann/pq, document ids for bm25/minhash).
 *
 * Scale shape: one metadata append of the id list per index (each
 * tombstone write is id-list-sized, never index-sized) — the whole
 * operation is O(|ids|) regardless of corpus size.
 */
object Forget {

  /** Tombstone `ids(idCol)` in every index of `tables`. */
  def forgetEverywhere(ids: DataFrame, idCol: String,
      tables: Seq[String]): Unit = {
    require(tables.nonEmpty,
      "forgetEverywhere with no indexes is a no-op — pass at least one")
    tables.foreach(IndexStore.delete(ids, idCol, _))
  }
}
