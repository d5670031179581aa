package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.time.{LocalDate, ZoneOffset}
import scala.math.Ordering.Implicits.seqOrdering

/** Streaming twin of `Windows.retentionSegmentedOf`'s law: the cohort
  * retention matrix SEGMENTED by the N attributes the user's
  * COHORT-DEFINING event carries. [[StreamingRetention]]'s design is
  * unchanged (cohort pins off the finalized minimum, cells emit exactly
  * once per (user, offset), state bounded by the calendar); what this
  * twin adds is the entry segment `(seg₁…segₙ)` riding the pin:
  *
  *   - the segment FINALIZES with the cohort, by the same argument: at
  *     pin time every admissible event with `ts < wm` has arrived, so
  *     the minimum (ts, seg₁…segₙ) tuple among them is the global
  *     minimum — no later admissible event can tie the ts, let alone
  *     beat it — and its segment is exactly the batch operator's
  *     deterministic min-over-(ts, struct) entry sample (lexicographic,
  *     so among duplicate-timestamp cohort events ONE event's segment is
  *     sampled; independent per-attribute mins would fabricate a
  *     segment no event carried);
  *   - every cell emits the pinned segment, so the (seg₁…segₙ, cohort,
  *     offset) counts are additive (one segment per user) and every
  *     "all" member is a read-time 2^N rollup over the store rows.
  *
  * State per user beyond the classic twin's: the pinned segment and a
  * segment per held event (the pin needs the tuple, not the time
  * alone). */
object StreamingRetentionSegmented {
  import StreamingRetention.{offsetOf, truncDay}

  final case class Ev(user_id: Long, ts: java.sql.Timestamp, seg: Seq[String])
  final case class Cell(user_id: Long, seg: Seq[String],
                        cohort: java.sql.Timestamp, offset: Int)
  /** cohortDay = epoch day of the truncated cohort period (-1 =
    * unpinned); seg = the entry segment (pinned with the cohort);
    * offsets = cells already emitted; buf = held (ms, seg) pairs. */
  final case class SegRetState(cohortDay: Long, seg: Seq[String],
                               offsets: Seq[Int],
                               buf: Seq[(Long, Seq[String])])

  def step(period: String)(userId: Long, events: Iterator[Ev],
           state: GroupState[SegRetState]): Iterator[Cell] = {
    val wm = try state.getCurrentWatermarkMs() catch {
      case _: UnsupportedOperationException => Long.MaxValue
    }
    val prior = state.getOption.getOrElse(SegRetState(-1L, Nil, Nil, Nil))
    val (ready, hold) =
      (prior.buf ++ events.map(e => (e.ts.getTime, e.seg))).partition(_._1 < wm)
    var cohortDay = prior.cohortDay
    var seg = prior.seg
    var offsets = prior.offsets
    val emitted = Vector.newBuilder[Cell]
    if (ready.nonEmpty) {
      if (cohortDay < 0) {
        // the pin takes the minimum (ts, seg₁…segₙ) tuple — the batch
        // entry sample's tie law, final by the watermark argument above
        val e = ready.min
        cohortDay = truncDay(e._1, period)
        seg = e._2
      }
      val cohortTs = new java.sql.Timestamp(
        LocalDate.ofEpochDay(cohortDay).atStartOfDay
          .toInstant(ZoneOffset.UTC).toEpochMilli)
      ready.foreach { case (ms, _) =>
        val off = offsetOf(truncDay(ms, period), cohortDay, period)
        if (!offsets.contains(off)) {
          offsets = offsets :+ off
          emitted += Cell(userId, seg, cohortTs, off)
        }
      }
    }
    if (cohortDay < 0 && hold.isEmpty) state.remove() // ≡ default: evict
    else {
      state.update(SegRetState(cohortDay, seg, offsets, hold))
      if (hold.nonEmpty)
        state.setTimeoutTimestamp(math.max(hold.map(_._1).min + 1, wm + 1))
    }
    emitted.result().iterator
  }

  /** Wire the stateful fold over a (streaming or batch) event Dataset. */
  def cells(s: SparkSession, events: Dataset[Ev],
            period: String = "week"): Dataset[Cell] = {
    require(Set("day", "week", "month")(period),
      s"period must be day|week|month, got '$period'")
    import s.implicits._
    events
      .withWatermark("ts", "1 minute")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(step(period))
  }
}
