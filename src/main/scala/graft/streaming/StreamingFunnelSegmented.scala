package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.math.Ordering.Implicits.seqOrdering

/** Streaming twin of `Windows.funnelOf(by = ...)`: the ordered
  * conversion funnel SEGMENTED by N user attributes at once — the
  * reference's simultaneous dimension expansion (crunch_global.sql:
  * 38-50) carried into the maintained-analytics loop. [[StreamingFunnel]]'s
  * chained-min law and state design are unchanged (see its scaladoc for
  * the finality argument, the hold-buffer screens, and the eviction
  * contract); what this twin adds is the ENTRY SEGMENT riding the fold
  * as a payload:
  *
  *   - each event carries its attribute values `seg = (seg₁…segₙ)` in
  *     axis order (for a maintained wire store, one STRING column per
  *     axis in the drop schema);
  *   - the user's segment is fixed by the event that folds as their
  *     step-1 reach. The fold processes finalized events in ascending
  *     `(ts, step, seg₁…segₙ)` order, so among duplicate-timestamp
  *     entry events the LEXICOGRAPHICALLY smallest segment folds first —
  *     exactly the batch operator's `min over (ts, struct(a₁…aₙ))` tie
  *     law (struct ordering is field-by-field), which is what makes the
  *     sample deterministic and stream ≡ batch;
  *   - every later reach of that user emits the entry segment, so the
  *     downstream cells aggregate additively at (seg₁…segₙ, step)
  *     grain: a user contributes to exactly ONE cell per step, which is
  *     why every "all" member is a read-time GROUPING SETS rollup over
  *     the store rows (2^N sets), never a second materialization.
  *
  * State per user beyond [[StreamingFunnel]]'s: the entry segment (set
  * once at the step-1 fold) and one segment per held step-1 candidate —
  * both bounded by the same screens that bound the fin vector and hold
  * buffer. */
object StreamingFunnelSegmented {

  /** The registered path, shared with the batch operator. */
  val Steps: Seq[String] = graft.operators.Windows.FunnelSteps

  final case class Ev(user_id: Long, ts: java.sql.Timestamp,
                      event_type: String, seg: Seq[String])
  /** `lat_us` = µs since the previous step's reach (-1 at step 1), the
    * plain twin's free ride ([[StreamingFunnel.Reach]]'s scaladoc):
    * the previous reach time sits in the fin vector at fold time, so
    * the SEGMENTED hop-latency report (`latency_segmented_maintained`)
    * is one more additive fold downstream, never a second stateful
    * pairing. */
  final case class Reach(user_id: Long, seg: Seq[String], step: Int,
                         step_name: String, ts: java.sql.Timestamp,
                         lat_us: Long)
  /** fin(i) = finalized reach time of step i+1 (-1 = unreached);
    * entrySeg = the step-1 fold's segment (empty until reached); buf =
    * (tsUs, stepIdx, seg) events still admissible — seg matters only
    * for held step-1 candidates, but carrying it uniformly keeps the
    * buffer one shape. Times are epoch µs ([[EventTime]]). */
  final case class SegState(fin: Seq[Long], entrySeg: Seq[String],
                            buf: Seq[(Long, Int, Seq[String])])

  def step(horizonMs: Option[Long], steps: Seq[String] = Steps)(
           userId: Long, events: Iterator[Ev],
           state: GroupState[SegState]): Iterator[Reach] = {
    val wm = try state.getCurrentWatermarkMs() catch {
      case _: UnsupportedOperationException => Long.MaxValue
    }
    val wmUs = EventTime.msToUsSat(wm)
    val hUs = horizonMs.map(EventTime.msToUsSat)
    val stepIdx = steps.zipWithIndex.toMap
    val prior = state.getOption
      .getOrElse(SegState(Seq.fill(steps.size)(-1L), Nil, Nil))
    val fin = prior.fin.toArray
    var entrySeg = prior.entrySeg
    def folds(t: Long, i: Int): Boolean =
      fin(i) < 0 && (i == 0 || (fin(i - 1) >= 0 && t > fin(i - 1) &&
        hUs.forall(h => t - fin(i - 1) <= h)))
    def deadVsFinal(t: Long, i: Int): Boolean =
      fin(i) >= 0 || (i > 0 && fin(i - 1) >= 0 && (t <= fin(i - 1) ||
        hUs.exists(h => t - fin(i - 1) > h)))
    val incoming = events
      .flatMap(e => stepIdx.get(e.event_type)
        .map(i => (EventTime.usOf(e.ts), i, e.seg)))
      .filterNot { case (t, i, _) => deadVsFinal(t, i) }
    val (ready, hold) = (prior.buf ++ incoming).partition(_._1 < wmUs)
    val emitted = Vector.newBuilder[Reach]
    // ascending (ts, step, seg₁…segₙ): the segment tie-break IS the
    // batch operator's min-over-(ts, struct) law at the entry
    ready.sorted.foreach { case (t, i, seg) =>
      if (folds(t, i)) {
        fin(i) = t
        if (i == 0) entrySeg = seg
        emitted += Reach(userId, entrySeg, i + 1, steps(i),
          EventTime.tsOfUs(t), if (i == 0) -1L else t - fin(i - 1))
      }
    }
    val pending = hold.filterNot { case (t, i, _) => deadVsFinal(t, i) }
    if (fin.forall(_ < 0) && pending.isEmpty)
      state.remove()
    else {
      state.update(SegState(fin.toSeq, entrySeg, pending))
      if (pending.nonEmpty)
        state.setTimeoutTimestamp(
          math.max(pending.map(_._1).min / 1000 + 1, wm + 1))
    }
    emitted.result().iterator
  }

  /** Wire the stateful fold over a (streaming or batch) event Dataset —
    * [[StreamingFunnel.funnel]]'s contract with the segment payload. */
  def funnel(s: SparkSession, events: Dataset[Ev],
             horizon: Option[String] = None,
             steps: Seq[String] = Steps): Dataset[Reach] = {
    import s.implicits._
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      s"steps must be non-empty and distinct, got $steps")
    val h = horizon.map(graft.operators.Windows.parseHorizon)
    events
      .withWatermark("ts", "1 minute")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(step(h, steps))
  }
}
