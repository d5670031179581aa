package graft.streaming

import graft.operators.Merge
import graft.sources.PointStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's worker loop (consume batch → crunch → additive upsert
  * into the point table; worker.js:119-165) as Structured Streaming.
  *
  * Each micro-batch is aggregated to the dimension tuple and folded into
  * a [[graft.sources.PointStore]] — an O(batch) delta append, NOT a
  * rewrite of the table (the pre-r5 implementation re-read and re-wrote
  * the whole point table per micro-batch: correct, but O(table) per
  * batch). Every `compactEvery` deltas the store compacts, bounding
  * merge-on-read width; the additive-merge law (MergeSpec)
  * makes batch boundaries and compaction points invisible in
  * [[result]], which IncrementalSpec equates with the one-shot aggregate.
  *
  * Delivery is exactly-once under foreachBatch's at-least-once retries:
  * batch id `N` is appended as the store's tagged delta `bN`, and the
  * store's manifest flip commits the delta and its tag together — the
  * one ledger and the one commit point. A redelivered id is a no-op
  * (the tag stays in the manifest's `#tag:` ledger across compaction),
  * and a half-written delta directory from a crashed attempt is
  * overwritten on retry, never read (only the manifest makes a delta
  * visible).
  */
/** @param onCommit worker.js:184-190's `crunch_update` publish as a
  *   hook: invoked with (batchId, store content version) once per
  *   COMMITTED batch, exactly when the store's append commits — a
  *   redelivered already-committed batch id is a no-op and does not
  *   re-notify, so a consumer (the web tier's cache refresh in the
  *   reference) observes each commit at most once. Fires after the
  *   commit point, like the reference's notify-after-ack: a crash
  *   between the manifest flip and the notify loses the notification,
  *   not the data, and the store version (also served by
  *   [[graft.server.QueryServer]]'s `/version`) lets a consumer
  *   re-sync. */
final class IncrementalCruncher(spark: SparkSession, stateDir: String,
                                compactEvery: Int = 8,
                                onCommit: (Long, Long) => Unit = (_, _) => ()) {

  private val store = new PointStore(spark, stateDir,
    keys = Seq("game_mode", "role"),
    sums = Seq("played", "wins", "time_spent_d", "gold_d"),
    maxes = Seq("last_match"))

  private val BatchTag = "b([0-9]+)".r

  /** Batch ids already folded into the store: its consumed `bN` tags. */
  def committedBatches: Set[Long] =
    store.consumedTags.collect { case BatchTag(id) => id.toLong }

  /** The live point table (None before the first batch). */
  def pointTable(): Option[DataFrame] = store.snapshotIfAny

  /** Fold one batch of fact rows into the point table; re-deliveries of
    * an already-committed batch id are no-ops. Compaction leaves the
    * superseded directories on disk: a snapshot previously handed out by
    * [[pointTable]]/[[result]] is a LAZY plan that still references them
    * until executed. Call [[vacuum]] from the owner at a point where no
    * such plan is outstanding. */
  def mergeBatch(batch: DataFrame, batchId: Long): Unit =
    if (store.appendTagged(s"b$batchId", Merge.pointAgg(batch))) {
      onCommit(batchId, store.version)
      if (store.deltaCount >= compactEvery) store.compact()
    }

  /** Reclaim compacted-away directories — only safe once every snapshot
    * frame handed out before the last compaction has been executed or
    * dropped (Spark reads files lazily at execution time). */
  def vacuum(): Unit = store.vacuum()

  /** Attach to a streaming source of fact rows. */
  def run(stream: DataFrame, checkpoint: String): StreamingQuery =
    stream.writeStream
      .foreachBatch((batch: DataFrame, id: Long) => mergeBatch(batch, id))
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Finished point table in the driver-contract shape. */
  def result(): Option[DataFrame] = pointTable().map(Merge.finish)
}
