package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.math.Ordering.Implicits.seqOrdering

/** Streaming twin of `Windows.funnelDeepestOf(by = ...)`: the ANCHORED
  * deepest-chain funnel SEGMENTED by N user attributes — the last
  * funnel flavor onto the family's segment axes, maintained.
  * [[StreamingFunnelDeepest]]'s existential law, bounded-anchor state
  * and eager depth-increase emission are unchanged (its scaladoc
  * carries the finality argument); what this twin adds is the ENTRY
  * SEGMENT `(seg₁…segₙ)` riding the fold:
  *
  *   - the segment is the user's FIRST step-1 event's attributes (the
  *     family's defining-moment rule, stated on the batch operator) —
  *     NOT the converting anchor's. Entry is the only sample point
  *     final at watermark: the converting anchor isn't known until the
  *     depth stops growing, and an emission must never be retracted;
  *   - the fold processes finalized events in ascending
  *     `(ts, step, seg₁…segₙ)` order, so among duplicate-timestamp entry
  *     events the lexicographically smallest segment folds first — the
  *     batch operator's min-over-(ts, struct) tie law, stream ≡ batch;
  *   - the segment pins at the user's first anchor creation and is
  *     immortal beside `emitted` (the same floor as the chained
  *     segmented twin); every depth-increase emission carries it, so
  *     the (seg₁…segₙ, step) cells are additive and the "all" members
  *     are a read-time rollup (`funnelSegmentedReportFrom` — the
  *     deepest store shares the chained segmented store's shape). */
object StreamingFunnelDeepestSegmented {

  val Steps: Seq[String] = graft.operators.Windows.FunnelSteps

  final case class Ev(user_id: Long, ts: java.sql.Timestamp,
                      event_type: String, seg: Seq[String])
  final case class Reach(user_id: Long, seg: Seq[String], step: Int,
                         step_name: String, ts: java.sql.Timestamp)
  /** [[StreamingFunnelDeepest.DeepState]] plus the pinned entry
    * segment (empty until the first anchor folds); buf carries seg
    * uniformly — it matters only for step-1 candidates, but one shape
    * keeps the hold buffer simple. */
  final case class SegDeepState(
    emitted: Int, entrySeg: Seq[String],
    anchors: Seq[(Long, Int, Long)], buf: Seq[(Long, Int, Seq[String])])

  def step(steps: Seq[String], horizonMs: Long)(
      userId: Long, events: Iterator[Ev],
      state: GroupState[SegDeepState]): Iterator[Reach] = {
    val wm = try state.getCurrentWatermarkMs() catch {
      case _: UnsupportedOperationException => Long.MaxValue
    }
    val wmUs = EventTime.msToUsSat(wm)
    val hUs = EventTime.msToUsSat(horizonMs)
    val stepIdx = steps.zipWithIndex.toMap
    val prior = state.getOption.getOrElse(SegDeepState(0, Nil, Nil, Nil))
    val incoming = events.flatMap(e =>
      stepIdx.get(e.event_type).map(i => (EventTime.usOf(e.ts), i, e.seg)))
    val (ready, hold) = (prior.buf ++ incoming).partition(_._1 < wmUs)
    var emitted = prior.emitted
    var entrySeg = prior.entrySeg
    var anchors = prior.anchors.toVector
    val out = Vector.newBuilder[Reach]
    def reach(depth: Int, tUs: Long): Unit =
      if (depth > emitted) {
        // entrySeg is set before any reach can fire: depth 1 requires
        // an anchor creation (which pins it), higher depths require a
        // live anchor (whose creation pinned it in an earlier sweep)
        out += Reach(userId, entrySeg, depth, steps(depth - 1),
          EventTime.tsOfUs(tUs))
        emitted = depth
      }
    // ascending (ts, step, seg₁…segₙ): the segment tie-break IS the
    // batch operator's min-over-(ts, struct) law at the entry; for
    // chaining it is inert (same-µs events never chain — strict >)
    ready.sorted.foreach { case (t, i, seg) =>
      anchors = anchors.map { case a @ (t1, d, tl) =>
        if (d < steps.size && i == d && t > tl && t - t1 <= hUs) {
          reach(d + 1, t)
          (t1, d + 1, t)
        } else a
      }
      if (i == 0 && !anchors.exists(_._1 == t)) { // new anchor (dedup on t1)
        if (entrySeg.isEmpty) entrySeg = seg // the defining moment
        anchors :+= ((t, 1, t))
        reach(1, t)
      }
    }
    anchors = anchors.filter { case (t1, _, _) => wmUs - t1 <= hUs }
    if (emitted == 0 && anchors.isEmpty && hold.isEmpty)
      state.remove() // entrySeg is empty here: no step-1 ever folded
    else {
      state.update(SegDeepState(emitted, entrySeg, anchors, hold))
      val wake = (hold.map(_._1 / 1000 + 1) ++
        anchors.map { case (t1, _, _) =>
          val exp = if (hUs >= Long.MaxValue - t1) Long.MaxValue - 1000 else t1 + hUs
          exp / 1000 + 1
        }).minOption
      if (wm != Long.MaxValue)
        wake.foreach(w => state.setTimeoutTimestamp(math.max(w, wm + 1)))
    }
    out.result().iterator
  }

  /** Wire the stateful fold — [[StreamingFunnelDeepest.funnel]]'s
    * contract with the segment payload; the horizon stays REQUIRED
    * (the search is anchored). */
  def funnel(s: SparkSession, events: Dataset[Ev], horizon: String,
             steps: Seq[String] = Steps): Dataset[Reach] = {
    import s.implicits._
    val h = graft.operators.Windows.parseHorizon(horizon)
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      s"steps must be non-empty and distinct, got $steps")
    events
      .withWatermark("ts", "1 minute")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(step(steps, h))
  }
}
