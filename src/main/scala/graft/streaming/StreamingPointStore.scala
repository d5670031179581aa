package graft.streaming

import graft.sources.PointStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming maintenance of a persisted [[PointStore]] — the reference's
  * consume→crunch→upsert worker loop (worker.js:119-165) pointed at the
  * LSM point table instead of a rewrite-per-batch frame: each
  * micro-batch aggregates to its key-grain partial (`partialOf`, the
  * crunch) and commits through [[PointStore.appendTagged]] (the ON
  * DUPLICATE KEY fold), so the table's merge-on-read snapshot is
  * current to the last ingested batch at O(batch) write cost.
  * [[IncrementalCruncher]] is the same loop with the reference's fixed
  * point-table layout; THIS one takes any `partialOf` and carries every
  * measure class the store supports, sketch columns included (a
  * streaming vocabulary/quantile tracker is just a store with sketch
  * measures — StreamingStoreSpec drives exactly that).
  *
  * Exactly-once under foreachBatch's at-least-once redeliveries comes
  * from the store's tagged manifest flip, the contract shared with
  * [[StreamingSigIndexer]]/[[StreamingIndexer]]: a crashed attempt's
  * half-written delta dir is invisible until the manifest publishes it,
  * and a redelivered batch id is a no-op. There is no quantizer or
  * kernel parameter to go stale, so an offline [[PointStore.compact]]
  * between batches needs no heal path — the tag ledger survives the
  * flip. Between-batch compaction is AUTOMATED here at a delta-count
  * bound (fold-before-commit, the [[graft.operators.DedupIndex]] rule):
  * unbounded nightly appends would otherwise grow every snapshot's
  * member union one branch per batch. */
object StreamingPointStore {

  /** Delta-dir bound before a fold ([[graft.operators.DedupIndex.AutoCompactMembers]]
    * rationale: two weeks of nightly drops between folds). */
  val AutoCompactDeltas = 16

  /** Fold one batch into the store; redeliveries of a committed batch id
    * are no-ops. Compaction runs BEFORE the append past the bound, so
    * tonight's delta always survives the fold and a crash mid-fold
    * loses nothing (the fold commits atomically or not at all). */
  def foldBatch(store: PointStore, partialOf: DataFrame => DataFrame,
                batch: DataFrame, batchId: Long,
                autoCompactAt: Int = AutoCompactDeltas): Unit = {
    if (store.deltaCount >= autoCompactAt) store.compact()
    // empty batches (the watermark-advance half of every maintained
    // lifecycle) become ledger-only commits INSIDE the store's write —
    // it reads the written footers driver-side, so this stays ONE plan
    // execution per batch (an earlier r20 variant counted the partial
    // first: +1 job per batch, measurably slower than the write it
    // saved)
    store.appendTagged(s"b$batchId", partialOf(batch))
  }

  /** Attach to a streaming source; `partialOf` maps a raw micro-batch to
    * the store's (keys ++ measures) grain — any aggregation, including
    * sketch-building ones. */
  def run(store: PointStore, stream: DataFrame,
          partialOf: DataFrame => DataFrame,
          checkpoint: String): StreamingQuery =
    stream.writeStream
      .foreachBatch((batch: DataFrame, id: Long) =>
        foldBatch(store, partialOf, batch, id))
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
}
