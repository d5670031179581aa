package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Downstream changefeed consumer: maintains a DERIVED point store that
  * converges to `derive(upstream content)` by reading O(changes) per
  * [[poll]] — the consumer half of [[PointStore.changesSince]]'s CDC
  * contract, and the piece that lets 100 TB point tables CHAIN (raw
  * point table → coarser rollup → dashboard table) without any stage
  * ever re-scanning its input table.
  *
  * `derive` must be an additive homomorphism on the upstream's key-grain
  * partials (a key-coarsening aggregate whose sums re-sum and maxes
  * re-fold — the same law [[graft.operators.Merge]] proves for the
  * upstream itself). Then folding derive(changes) per window equals
  * deriving the whole table, whatever the batch/compaction boundaries.
  * The law covers EVERY measure class the stores support: the sketch
  * merges (distinct / quantile / topk) are associative, commutative,
  * and state-exact, so a sketch-merging `derive` is exactly such a
  * homomorphism — "vocabulary per lang, derived from the per-night
  * health table, maintained at O(changes) per poll" chains the same
  * way a SUM rollup does (PointStoreSpec pins it).
  *
  * Exactly-once without a separate ledger: each poll folds the window
  * `(checkpoint, upstream.version]` as a delta TAGGED `v<toVersion>` —
  * the tag ledger that already survives compaction IS the checkpoint
  * store, and the tagged append is the one atomic commit point. A crash
  * after commit re-polls the next window; a retry of a committed window
  * is a manifest-level no-op. Single poller per derived store (the
  * store's single-writer contract).
  *
  * A follower that falls behind [[PointStore.vacuum]]'s retention
  * horizon fails loudly on [[poll]]; [[resync]] rebuilds from the
  * upstream snapshot — O(table) once, then O(changes) again.
  */
final class ChangefeedFollower(spark: SparkSession, upstream: PointStore,
                               path: String, derive: DataFrame => DataFrame,
                               keys: Seq[String], sums: Seq[String],
                               maxes: Seq[String],
                               sketches: Seq[String] = Nil,
                               quantiles: Seq[String] = Nil,
                               mins: Seq[String] = Nil,
                               topks: Seq[String] = Nil) {

  /** The derived store (all state on disk — a follower restart just
    * reconstructs this wrapper). Carries every measure class, sketch
    * columns included. */
  val store = new PointStore(spark, path, keys, sums, maxes,
    sketches, quantiles, mins, topks)

  /** Upstream version this follower has folded through. Only this
    * class's own `v<N>` tags count — a caller's unrelated tags on the
    * (public) derived store are ignored, not misparsed. */
  def checkpoint: Long =
    store.consumedTags.collect { case t if t.matches("v[0-9]+") =>
      t.drop(1).toLong
    }.foldLeft(0L)(math.max)

  /** Fold upstream changes since [[checkpoint]] into the derived store;
    * a no-op when caught up. Returns the new checkpoint. The window is
    * bounded above by the version captured for the tag — a writer
    * committing concurrently with the poll is picked up by the NEXT
    * poll, never folded now and re-folded later. Throws (via
    * [[PointStore.changesSince]]) if the checkpoint has been vacuumed
    * past — call [[resync]]. */
  def poll(compactEvery: Int = 8): Long = {
    val from = checkpoint
    val to = upstream.version
    if (to > from) {
      store.appendTagged(s"v$to", derive(upstream.changesSince(from, to)))
      if (store.deltaCount >= compactEvery) store.compact()
    }
    to
  }

  /** Rebuild the derived store from the upstream snapshot at its current
    * version (the fell-behind-retention escape hatch). Atomic: the new
    * base replaces the old content in one manifest flip
    * ([[PointStore.overwriteTagged]]) — a reader mid-resync, or a crash,
    * sees the previous derived table or the new one, never an empty
    * store — and the derived store's own changefeed horizon advances so
    * ITS consumers resync in turn. */
  def resync(): Long = {
    val to = upstream.version
    store.overwriteTagged(s"v$to", derive(upstream.snapshot))
    to
  }

  /** Merge-on-read view of the derived table (None before first fold). */
  def result: Option[DataFrame] = store.snapshotIfAny
}

object ChangefeedFollower {

  /** `point_store_follower`: a two-stage CDC chain on disk — the
    * reference-shaped (game_mode, role) point store upstream, a
    * game_mode-grain rollup follower downstream. Upstream takes three
    * batches with a compaction mid-stream; the follower polls mid-way,
    * again at the end, and once more caught-up (a no-op); a rebuilt
    * wrapper proves the checkpoint lives in the manifest. The oracle is
    * the one-shot game_mode aggregate of the whole fact table, so a
    * hash match proves the chained O(changes) folds converge to the
    * derived truth. */
  def follower(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Merge
    val base = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      "graft_pointstore_follow_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    PointStore.deleteRec(base); base.mkdirs()
    val upstream = new PointStore(s, s"$base/up",
      keys = Seq("game_mode", "role"),
      sums = Seq("played", "wins", "time_spent_d", "gold_d"),
      maxes = Seq("last_match"))
    def rollup(changes: DataFrame): DataFrame =
      changes.groupBy(col("game_mode")).agg(
        sum(col("played")).as("played"),
        sum(col("wins")).as("wins"),
        sum(col("time_spent_d")).as("time_spent_d"),
        sum(col("gold_d")).as("gold_d"),
        max(col("last_match")).as("last_match"))
    val follow = new ChangefeedFollower(s, upstream, s"$base/down", rollup,
      keys = Seq("game_mode"),
      sums = Seq("played", "wins", "time_spent_d", "gold_d"),
      maxes = Seq("last_match"))
    val li = graft.Tables.lineitem(s, d)
    def batch(m: Int) = Merge.pointAgg(li.filter(col("l_orderkey") % 3 === m))
    upstream.append(batch(0))
    upstream.append(batch(1))
    follow.poll() // mid-stream fold: versions (0, 2]
    upstream.compact() // invisible to the feed
    upstream.append(batch(2))
    follow.poll() // tail fold: versions (2, 3]
    follow.poll() // caught up: no-op
    val restarted = new ChangefeedFollower(s, upstream, s"$base/down", rollup,
      Seq("game_mode"), Seq("played", "wins", "time_spent_d", "gold_d"),
      Seq("last_match"))
    restarted.result.get.select(
      col("game_mode"), col("played"), col("wins"),
      col("time_spent_d").cast("double").as("time_spent"),
      col("gold_d").cast("double").as("gold"),
      col("last_match"))
  }

  def followerOracle: String =
    graft.operators.Merge.pointOracle(Seq("l_returnflag AS game_mode"))
}
