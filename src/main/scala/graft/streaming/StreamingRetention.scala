package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.time.{DayOfWeek, Instant, LocalDate, ZoneOffset}

/** Streaming twin of `Windows.retentionOf`: the cohort retention matrix
  * maintained per user across micro-batches. Emits one `(user, cohort,
  * offset)` CELL the first time the user is seen active `offset`
  * periods after their cohort — exactly once per (user, offset), so a
  * plain additive count fold downstream (`groupBy(cohort, offset)
  * .count`, or a PointStore sum) IS the batch matrix, maintained.
  *
  * The batch law (cohort = the calendar period of the user's FIRST
  * event) depends on global event-time order exactly like the funnel's:
  * an out-of-order earlier event arriving later would retroactively
  * shift the cohort and invalidate every cell already attributed to the
  * old one. The watermark is the finality contract: events buffer until
  * `ts < wm`, and the first fold pins the cohort off the buffered
  * minimum — final, because truncation is monotone and every admissible
  * future event has `ts >= wm >` that minimum, so it can never land in
  * an earlier period.
  *
  * State per user: the cohort period (one long) + the offset set
  * already emitted — bounded by the CALENDAR (≤ 52 cells for a year of
  * weekly periods), never by the user's event count — + only the held
  * events above the watermark. A user whose state is indistinguishable
  * from the default (no cohort pinned, nothing held) is evicted
  * outright, the same rule StreamingFunnel applies.
  *
  * Periods truncate in UTC exactly as Spark's `date_trunc` under the
  * family's UTC session convention (weeks start Monday), so stream ≡
  * batch is exact, not approximate (StreamingSpec).
  */
object StreamingRetention {

  final case class Ev(user_id: Long, ts: java.sql.Timestamp)
  final case class Cell(
    user_id: Long, cohort: java.sql.Timestamp, offset: Int)
  /** cohortDay = epoch day of the truncated cohort period (-1 =
    * unpinned); offsets = cells already emitted; buf = held event ms. */
  final case class RetState(cohortDay: Long, offsets: Seq[Int], buf: Seq[Long])

  private[streaming] def truncDay(ms: Long, period: String): Long = {
    val d = LocalDate.ofInstant(Instant.ofEpochMilli(ms), ZoneOffset.UTC)
    (period match {
      case "day"   => d
      case "week"  => d.`with`(java.time.temporal.TemporalAdjusters
        .previousOrSame(DayOfWeek.MONDAY))
      case "month" => d.withDayOfMonth(1)
    }).toEpochDay
  }

  private[streaming] def offsetOf(evDay: Long, cohortDay: Long, period: String): Int =
    period match {
      case "day"  => (evDay - cohortDay).toInt
      case "week" => ((evDay - cohortDay) / 7).toInt
      case "month" =>
        val e = LocalDate.ofEpochDay(evDay); val c = LocalDate.ofEpochDay(cohortDay)
        (e.getYear - c.getYear) * 12 + (e.getMonthValue - c.getMonthValue)
    }

  def step(period: String)(userId: Long, events: Iterator[Ev],
           state: GroupState[RetState]): Iterator[Cell] = {
    val wm = try state.getCurrentWatermarkMs() catch {
      case _: UnsupportedOperationException => Long.MaxValue
    }
    val prior = state.getOption.getOrElse(RetState(-1L, Nil, Nil))
    val (ready, hold) =
      (prior.buf ++ events.map(_.ts.getTime)).partition(_ < wm)
    var cohortDay = prior.cohortDay
    var offsets = prior.offsets
    val emitted = Vector.newBuilder[Cell]
    if (ready.nonEmpty) {
      if (cohortDay < 0) cohortDay = truncDay(ready.min, period)
      ready.foreach { ms =>
        val off = offsetOf(truncDay(ms, period), cohortDay, period)
        if (!offsets.contains(off)) {
          offsets = offsets :+ off
          emitted += Cell(userId, new java.sql.Timestamp(
            LocalDate.ofEpochDay(cohortDay).atStartOfDay
              .toInstant(ZoneOffset.UTC).toEpochMilli), off)
        }
      }
    }
    if (cohortDay < 0 && hold.isEmpty) state.remove() // ≡ default: evict
    else {
      state.update(RetState(cohortDay, offsets, hold))
      if (hold.nonEmpty)
        state.setTimeoutTimestamp(math.max(hold.min + 1, wm + 1))
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

  /** ROLLING (churn-curve) state: the cohort pin plus the single max
    * offset already emitted through (-1 = none) — strictly smaller
    * than the classic twin's offset set, because the rolling law only
    * needs the FRONTIER. */
  final case class RollState(cohortDay: Long, maxOff: Int, buf: Seq[Long])

  /** The rolling twin's fold: emit the (cohort, k] INCREMENTS. A
    * rolling cell (cohort, k) counts users active at offset k OR
    * LATER — i.e. users whose max offset is ≥ k — so a user
    * contributes exactly the cells 0..maxOff, and emitting
    * `(prevMax, newMax]` as their max advances yields each (user, k)
    * exactly once; the additive count fold downstream IS
    * [[graft.operators.Windows.retentionRollingOf]]'s matrix. Eager
    * emission is safe by the deepest-funnel twin's existential
    * argument ([[StreamingFunnelDeepest]]): the max offset is MONOTONE
    * under event insertion once the cohort is final, and the cohort
    * pins at watermark finality exactly as the classic twin's does (a
    * late earlier event would shift every offset — the one
    * retroactive hazard, closed the same way). */
  def stepRolling(period: String)(userId: Long, events: Iterator[Ev],
                  state: GroupState[RollState]): Iterator[Cell] = {
    val wm = try state.getCurrentWatermarkMs() catch {
      case _: UnsupportedOperationException => Long.MaxValue
    }
    val prior = state.getOption.getOrElse(RollState(-1L, -1, Nil))
    val (ready, hold) =
      (prior.buf ++ events.map(_.ts.getTime)).partition(_ < wm)
    var cohortDay = prior.cohortDay
    var maxOff = prior.maxOff
    val emitted = Vector.newBuilder[Cell]
    if (ready.nonEmpty) {
      if (cohortDay < 0) cohortDay = truncDay(ready.min, period)
      val newMax = ready
        .map(ms => offsetOf(truncDay(ms, period), cohortDay, period)).max
      if (newMax > maxOff) {
        val cohortTs = new java.sql.Timestamp(
          LocalDate.ofEpochDay(cohortDay).atStartOfDay
            .toInstant(ZoneOffset.UTC).toEpochMilli)
        ((maxOff + 1) to newMax).foreach(k => emitted += Cell(userId, cohortTs, k))
        maxOff = newMax
      }
    }
    if (cohortDay < 0 && hold.isEmpty) state.remove() // ≡ default: evict
    else {
      state.update(RollState(cohortDay, maxOff, hold))
      if (hold.nonEmpty)
        state.setTimeoutTimestamp(math.max(hold.min + 1, wm + 1))
    }
    emitted.result().iterator
  }

  /** Wire the rolling fold over a (streaming or batch) event Dataset. */
  def rollingCells(s: SparkSession, events: Dataset[Ev],
                   period: String = "week"): Dataset[Cell] = {
    require(Set("day", "week", "month")(period),
      s"period must be day|week|month, got '$period'")
    import s.implicits._
    events
      .withWatermark("ts", "1 minute")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(stepRolling(period))
  }
}
