package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of `Windows.pathsSegmentedOf`'s law: the
  * path-transition matrix with each pair attributed to its FROM event's
  * N attributes (the segmented family's defining-moment rule — a
  * transition "belongs" to where it started). [[StreamingPaths]]'s fold
  * is unchanged (events finalize under the watermark, chain off the
  * last finalized event in ascending (ts, seq) order, optional gap
  * bound); the segment `(seg₁…segₙ)` simply rides each event, and the
  * emitted pair carries the from-event's — no new finality argument is
  * needed because the from event IS finalized when its pair emits. The
  * (seg₁…segₙ, from, to) counts stay additive, with every "all" member a
  * read-time 2^N rollup. State grows by one segment on the last-event
  * link and one per held event. */
object StreamingPathsSegmented {

  final case class Ev(user_id: Long, ts: java.sql.Timestamp, seq: Long,
                      event_type: String, seg: Seq[String])
  final case class Pair(user_id: Long, seg: Seq[String], from_step: String,
                        to_step: String)
  /** last = (tsUs, seq, type, seg) of the last finalized event; buf =
    * held events. Times are epoch MICROSECONDS ([[EventTime]] — the
    * plain twin's grain argument). */
  final case class SegPathState(
    last: Option[(Long, Long, String, Seq[String])],
    buf: Seq[(Long, Long, String, Seq[String])])

  /** `gapMs` bounds adjacency to the gap-session grain exactly as
    * [[StreamingPaths.step]] does. */
  def step(gapMs: Option[Long])(userId: Long, events: Iterator[Ev],
           state: GroupState[SegPathState]): Iterator[Pair] = {
    val wm = try state.getCurrentWatermarkMs() catch {
      case _: UnsupportedOperationException => Long.MaxValue
    }
    val wmUs = EventTime.msToUsSat(wm)
    val gapUs = gapMs.map(EventTime.msToUsSat)
    val prior = state.getOption.getOrElse(SegPathState(None, Nil))
    val (ready, hold) = (prior.buf ++
        events.map(e => (EventTime.usOf(e.ts), e.seq, e.event_type, e.seg)))
      .partition(_._1 < wmUs)
    val emitted = Vector.newBuilder[Pair]
    var last = prior.last
    ready.sortBy(e => (e._1, e._2)).foreach { e =>
      last.filter(p => gapUs.forall(e._1 - p._1 <= _))
        .foreach(p => emitted += Pair(userId, p._4, p._3, e._3))
      last = Some(e)
    }
    if (last.isEmpty && hold.isEmpty) state.remove() // ≡ default
    else {
      state.update(SegPathState(last, hold))
      if (hold.nonEmpty)
        state.setTimeoutTimestamp(
          math.max(hold.map(_._1).min / 1000 + 1, wm + 1))
    }
    emitted.result().iterator
  }

  /** Wire the stateful fold over a (streaming or batch) event Dataset. */
  def pairs(s: SparkSession, events: Dataset[Ev],
            gapMs: Option[Long] = None): Dataset[Pair] = {
    import s.implicits._
    require(gapMs.forall(_ > 0), s"gap must be positive, got $gapMs")
    events
      .withWatermark("ts", "1 minute")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(step(gapMs))
  }
}
