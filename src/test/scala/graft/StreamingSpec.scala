package graft

import graft.streaming.{EventAggregator, Sessionizer}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming twins must agree with their batch operators on the same
  * events. MemoryStream drives the micro-batches; a far-future sentinel
  * event advances the watermark so event-time timeouts fire and all
  * sessions/windows close. */
class StreamingSpec extends SparkSpec {

  // offset from the epoch: the initial watermark is epoch 0 and a stateful
  // op drops rows at-or-before it, so a ts(0) event would silently vanish
  private def ts(min: Long): Timestamp = new Timestamp((1440 + min) * 60000L)

  test("EventAggregator on a bounded stream equals the batch window agg") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      (ts(0), "view", 1.0), (ts(10), "view", 2.0), (ts(20), "click", 3.0),
      (ts(70), "view", 4.0), (ts(80), "click", 5.0), (ts(200), "view", 6.0))

    val stream = MemoryStream[(Timestamp, String, Double)]
    stream.addData(events)
    stream.addData(Seq((ts(100000), "sentinel", 0.0))) // push watermark far ahead
    val q = EventAggregator.aggregate(
        stream.toDF.toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("agg_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("agg_out")
      .filter(col("event_type") =!= "sentinel")
      .collect().map(_.mkString("|")).toSet
    val batch = EventAggregator.aggregate(
        events.toDF("ts", "event_type", "value"))
      .collect().map(_.mkString("|")).toSet
    assert(got == batch)
  }

  test("Sessionizer on a bounded stream equals batch gap sessionization") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // user 1: two sessions (gap 40 min > 30); user 2: one session
    val events = Seq(
      Sessionizer.Ev(1, ts(0), 1.0), Sessionizer.Ev(1, ts(10), 2.0),
      Sessionizer.Ev(1, ts(50), 3.0),
      Sessionizer.Ev(2, ts(5), 4.0), Sessionizer.Ev(2, ts(25), 5.0))

    val stream = MemoryStream[Sessionizer.Ev]
    stream.addData(events)
    stream.addData(Seq(Sessionizer.Ev(99, ts(100000), 0.0))) // sentinel
    val q = Sessionizer.sessionize(spark, stream.toDS)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("sess_out").filter(col("user_id") =!= 99)
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().map(_.mkString("|")).toSet
    assert(got == Set(
      s"1|${ts(0)}|${ts(10)}|2",
      s"1|${ts(50)}|${ts(50)}|1",
      s"2|${ts(5)}|${ts(25)}|2"))
  }

  test("StreamingFunnel on a bounded stream equals the batch funnel, " +
      "out-of-order chunks included; reaches finalize via timeout") {
    import spark.implicits._
    import graft.streaming.StreamingFunnel
    import graft.streaming.StreamingFunnel.Ev
    implicit val sqlCtx = spark.sqlContext
    val chunk1 = Seq(
      // user 1 converts in order across the two chunks
      Ev(1, ts(1), "view"), Ev(1, ts(2), "click"),
      // user 2's purchase precedes its view: view+click only
      Ev(2, ts(1), "purchase"), Ev(2, ts(2), "view"),
      // user 5's click+purchase arrive BEFORE its view (next chunk,
      // earlier event time): the held fold must still convert all three
      Ev(5, ts(2), "click"), Ev(5, ts(3), "purchase"),
      // user 3 never views
      Ev(3, ts(1), "click"))
    val chunk2 = Seq(
      Ev(1, ts(3), "purchase"), Ev(2, ts(3), "click"),
      Ev(5, ts(1), "view"),
      // user 4: click ties the view exactly — strict > rejects it
      Ev(4, ts(5), "view"), Ev(4, ts(5), "click"))

    val stream = MemoryStream[Ev]
    stream.addData(chunk1)
    stream.addData(chunk2)
    stream.addData(Seq(Ev(99, ts(100000), "sentinel")))
    val q = StreamingFunnel.funnel(spark, stream.toDS)
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("funnel_out").filter(col("user_id") =!= 99)
      .select("user_id", "step", "ts")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getTimestamp(2))).toSet
    val batch = graft.operators.Windows
      .funnelOf((chunk1 ++ chunk2).toDF("user_id", "ts", "event_type"),
        StreamingFunnel.Steps)
      .zipWithIndex.flatMap { case (df, i) =>
        df.collect().map(r => (r.getLong(0), i + 1, r.getTimestamp(1)))
      }.toSet
    assert(got == batch)
    // the crafted frame exercises every semantic branch — make sure the
    // interesting conversions actually happened
    assert(got.count(_._2 == 3) == 2)                 // users 1 and 5
    assert(!got.exists(t => t._1 == 4L && t._2 == 2)) // the strict tie
    // the hop-latency law: every reach carries µs-since-previous-reach
    // (-1 at step 1) — derivable from the reaches themselves
    val withLat = spark.table("funnel_out").filter(col("user_id") =!= 99)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getTimestamp(3), r.getLong(4))).toMap
    withLat.foreach { case ((u, step), (t, lat)) =>
      if (step == 1) assert(lat == -1L, s"step 1 must carry -1: $u")
      else {
        val (pt, _) = withLat((u, step - 1))
        assert(lat == (t.getTime - pt.getTime) * 1000L,
          s"lat_us must be the µs hop gap: user $u step $step")
      }
    }
  }

  test("StreamingFunnelSegmented ≡ the batch segmented funnel: the " +
      "entry segment fixes at the step-1 fold with the (ts, seg) tie " +
      "law, and every later reach carries it") {
    import spark.implicits._
    import graft.streaming.StreamingFunnelSegmented
    import graft.streaming.StreamingFunnelSegmented.Ev
    implicit val sqlCtx = spark.sqlContext
    def ev(u: Long, t: Timestamp, typ: String, seg: String*) = Ev(u, t, typ, seg)
    val chunk1 = Seq(
      // user 1 converts in order across the two chunks
      ev(1, ts(1), "view", "AUTO"), ev(1, ts(2), "click", "AUTO"),
      // user 2's purchase precedes its view: view+click only
      ev(2, ts(1), "purchase", "BLDG"), ev(2, ts(2), "view", "BLDG"),
      // user 5's click+purchase arrive BEFORE its view (next chunk,
      // earlier event time): the held fold converts all three under
      // the view's segment
      ev(5, ts(2), "click", "MACH"), ev(5, ts(3), "purchase", "MACH"),
      // user 6: the ENTRY TIE — two views at the same instant with
      // different segments, across chunks; min-(ts, seg) picks "AAA"
      ev(6, ts(4), "view", "BBB"),
      // user 3 never views
      ev(3, ts(1), "click", "HSLD"))
    val chunk2 = Seq(
      ev(1, ts(3), "purchase", "AUTO"), ev(2, ts(3), "click", "BLDG"),
      ev(5, ts(1), "view", "MACH"),
      ev(6, ts(4), "view", "AAA"), ev(6, ts(6), "click", "ZZZ"),
      // user 7's events carry DIFFERENT segments: the entry one rides
      ev(7, ts(1), "view", "X"), ev(7, ts(2), "click", "Y"))

    val stream = MemoryStream[Ev]
    stream.addData(chunk1)
    stream.addData(chunk2)
    stream.addData(Seq(ev(99, ts(100000), "sentinel", "")))
    val q = StreamingFunnelSegmented.funnel(spark, stream.toDS)
      .writeStream.format("memory").queryName("segfun_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("segfun_out").filter(col("user_id") =!= 99)
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).head, r.getInt(2),
        r.getTimestamp(4))).toSet
    val batch = graft.operators.Windows
      .funnelOf((chunk1 ++ chunk2).toDF("user_id", "ts", "event_type", "seg")
          .withColumn("seg", col("seg")(0)),
        StreamingFunnelSegmented.Steps, by = Some(col("seg")))
      .zipWithIndex.flatMap { case (df, i) =>
        df.collect().map(r => (r.getLong(0), r.getString(2), i + 1,
          r.getTimestamp(1)))
      }.toSet
    assert(got == batch, s"stream=$got\nbatch=$batch")
    // the crafted branches actually fired
    assert(got.contains((6L, "AAA", 1, ts(4))))       // the entry tie
    assert(got.contains((6L, "AAA", 2, ts(6))))       // ...and it rides
    assert(got.contains((7L, "X", 2, ts(2))))         // entry, not hop seg
    assert(got.count(_._3 == 3) == 2)                 // users 1 and 5
    // the lat_us law rides the segmented reaches exactly as on the
    // plain twin: -1 at step 1, µs since the previous reach after
    val lats = spark.table("segfun_out").filter(col("user_id") === 1L)
      .collect().map(r => r.getInt(2) -> r.getLong(5)).toMap
    assert(lats == Map(1 -> -1L, 2 -> 60000000L, 3 -> 60000000L),
      lats.toString)
  }

  test("StreamingFunnelSegmented2 ≡ the batch two-axis funnel: the " +
      "entry (seg, seg2) PAIR pins at the step-1 fold with the " +
      "lexicographic TUPLE tie law — one event's pair, never " +
      "per-attribute mins") {
    import spark.implicits._
    import graft.streaming.StreamingFunnelSegmented
    import graft.streaming.StreamingFunnelSegmented.Ev
    implicit val sqlCtx = spark.sqlContext
    def ev(u: Long, t: Timestamp, typ: String, seg: String*) = Ev(u, t, typ, seg)
    val chunk1 = Seq(
      // user 1 converts in order across the two chunks
      ev(1, ts(1), "view", "AUTO", "N1"), ev(1, ts(2), "click", "AUTO", "N1"),
      // user 6: the PAIR TIE — duplicate-ts entries carrying (B, A)
      // and (A, Z), across chunks; the tuple law samples ONE event's
      // pair, the lexicographically smaller (A, Z) — per-attribute
      // mins would fabricate (A, A), a pair no event carried
      ev(6, ts(4), "view", "B", "A"))
    val chunk2 = Seq(
      ev(1, ts(3), "purchase", "AUTO", "N1"),
      ev(6, ts(4), "view", "A", "Z"), ev(6, ts(6), "click", "Q", "Q"),
      // user 7's later events carry different pairs: the entry's rides
      ev(7, ts(1), "view", "X", "N2"), ev(7, ts(2), "click", "Y", "N3"))

    val stream = MemoryStream[Ev]
    stream.addData(chunk1)
    stream.addData(chunk2)
    stream.addData(Seq(ev(99, ts(100000), "sentinel", "", "")))
    val q = StreamingFunnelSegmented.funnel(spark, stream.toDS)
      .writeStream.format("memory").queryName("seg2fun_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("seg2fun_out").filter(col("user_id") =!= 99)
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)(0),
        r.getSeq[String](1)(1), r.getInt(2), r.getTimestamp(4))).toSet
    val batch = graft.operators.Windows
      .funnelOf(
        (chunk1 ++ chunk2).toDF("user_id", "ts", "event_type", "seg")
          .withColumn("seg2", col("seg")(1)).withColumn("seg", col("seg")(0)),
        StreamingFunnelSegmented.Steps,
        by = Some(struct(col("seg").as("seg"), col("seg2").as("seg2"))))
      .zipWithIndex.flatMap { case (df, i) =>
        df.select(col("user_id"), col("t"), col("_seg.seg"),
            col("_seg.seg2"))
          .collect().map(r => (r.getLong(0), r.getString(2),
            r.getString(3), i + 1, r.getTimestamp(1)))
      }.toSet
    assert(got == batch, s"stream=$got\nbatch=$batch")
    // the crafted branches actually fired
    assert(got.contains((6L, "A", "Z", 1, ts(4))))  // the tuple tie law
    assert(got.contains((6L, "A", "Z", 2, ts(6))))  // ...and the pair rides
    assert(got.contains((7L, "X", "N2", 2, ts(2)))) // entry, not hop pair
    assert(got.count(_._4 == 3) == 1)               // user 1 converts
  }

  test("StreamingFunnelSessions equals the batch session funnel — " +
      "per-visit reaches, cross-visit conversions refused, non-step " +
      "events holding sessions open, disorder across chunks") {
    import spark.implicits._
    import graft.streaming.StreamingFunnelSessions
    import graft.streaming.StreamingFunnelSessions.Ev
    implicit val sqlCtx = spark.sqlContext
    val gapMs = 600000L // 10 min — tighter than registered, sharper splits
    // seconds grain for the in-slack disorder case (user 3)
    def tsS(min: Long, sec: Long): Timestamp =
      new Timestamp((1440 + min) * 60000L + sec * 1000L)
    val chunk1 = Seq(
      // user 1, visit A: full in-order conversion in one session
      Ev(1, ts(1), "view"), Ev(1, ts(3), "click"), Ev(1, ts(5), "purchase"),
      // user 2: view now, click 19 min later — TWO visits, so the
      // cross-visit conversion must NOT count (the decisive semantic
      // against the plain chained funnel, which converts it)
      Ev(2, ts(1), "view"), Ev(2, ts(20), "click"),
      // user 3's click+purchase arrive a chunk BEFORE its view, whose
      // earlier event time stays INSIDE the 1-min watermark slack (the
      // admissible disorder — beyond the slack the gap law's lateness
      // drop applies): the held fold must still convert all three
      Ev(3, tsS(21, 30), "click"), Ev(3, tsS(21, 40), "purchase"),
      // user 4: a NON-step event bridges view→click across 16 min —
      // the gap law counts every event, so this is ONE session
      Ev(4, ts(0), "view"), Ev(4, ts(8), "browse"), Ev(4, ts(16), "click"),
      // user 5: click ties the view exactly — strict > rejects it
      Ev(5, ts(5), "view"), Ev(5, ts(5), "click"),
      // user 6: two single-view visits — two step-1 cells, one first_user
      Ev(6, ts(1), "view"))
    val chunk2 = Seq(
      // user 1, visit B (25 min after visit A's last event): converts
      // to step 2 only — new cells, but first_user false throughout
      Ev(1, ts(30), "view"), Ev(1, ts(32), "click"),
      Ev(3, tsS(21, 0), "view"),
      Ev(6, ts(25), "view"))

    val stream = MemoryStream[Ev]
    stream.addData(chunk1)
    stream.addData(chunk2)
    stream.addData(Seq(Ev(99, ts(100000), "sentinel")))
    val q = StreamingFunnelSessions.reaches(spark, stream.toDS, gapMs)
      .writeStream.format("memory").queryName("sfunnel_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val reaches = spark.table("sfunnel_out").filter(col("user_id") =!= 99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getTimestamp(4), r.getBoolean(5)))
    val got = reaches.map(t => (t._1, t._3, t._4)).toSet
    val batchStages = graft.operators.Windows.funnelSessionsOf(
      (chunk1 ++ chunk2).zipWithIndex
        .map { case (e, i) => (e.user_id, e.ts, i.toLong, e.event_type) }
        .toDF("user_id", "ts", "event_id", "event_type"),
      graft.streaming.StreamingFunnel.Steps, gapMs)
    val want = batchStages.zipWithIndex.flatMap { case (df, i) =>
      df.collect().map(r => (r.getStruct(0).getLong(0), i + 1,
        r.getTimestamp(1)))
    }.toSet
    assert(got == want)
    // the crafted semantics actually happened
    assert(got.count(t => t._1 == 1L && t._2 == 2) == 2)   // both visits
    assert(!got.exists(t => t._1 == 2L && t._2 == 2))      // cross-visit
    assert(got.exists(t => t._1 == 4L && t._2 == 2))       // bridged
    assert(!got.exists(t => t._1 == 5L && t._2 == 2))      // strict tie
    assert(got.count(t => t._1 == 6L && t._2 == 1) == 2)   // two visits
    // sid is the visit's first event time: distinct per (user, visit),
    // so the cells are exactly-once at (user, sid, step)
    assert(reaches.map(t => (t._1, t._2, t._3)).distinct.length ==
      reaches.length)
    // first_user sums to the batch DISTINCT-user count per step — the
    // flag that makes the maintained store's users measure additive
    val firstBySte = reaches.groupBy(_._3)
      .map { case (k, v) => k -> v.count(_._5) }
    val wantUsers = batchStages.zipWithIndex.map { case (df, i) =>
      (i + 1) -> df.select(col("user_id.u")).distinct().count()
    }.toMap.filter(_._2 > 0)
    assert(firstBySte == wantUsers.map { case (k, v) => k -> v.toInt })
  }

  test("StreamingFunnel with a conversion horizon equals the windowed " +
      "batch funnel; never-reached users evict without changing reaches") {
    import spark.implicits._
    import graft.streaming.StreamingFunnel
    import graft.streaming.StreamingFunnel.{Ev, FunnelState}
    implicit val sqlCtx = spark.sqlContext
    val horizon = "10m"
    val chunk1 = Seq(
      // user 1: click inside, purchase past the CLICK's deadline
      Ev(1, ts(1), "view"), Ev(1, ts(5), "click"), Ev(1, ts(30), "purchase"),
      // user 2: click at exactly view+10m (boundary inclusive), then
      // purchase inside the click's window — full conversion
      Ev(2, ts(1), "view"), Ev(2, ts(11), "click"), Ev(2, ts(12), "purchase"),
      // user 3: first view now; its click arrives chunks later, far
      // past the deadline — the expiry path (state shrinks to the
      // reach vector once the watermark passes ts(1)+10m)
      Ev(3, ts(1), "view"),
      // user 6: clicks only — never reaches step 1, state evicts
      Ev(6, ts(2), "click"), Ev(6, ts(3), "click"))
    val chunk2 = Seq(Ev(98, ts(25), "noise")) // advance the watermark
    val chunk3 = Seq(
      // arrive AFTER user 3 expired and user 6 evicted: the click must
      // not convert (deadline long gone), the view must emit exactly
      // one (first) reach for the recreated user-6 state
      Ev(3, ts(45), "click"), Ev(6, ts(50), "view"))

    val stream = MemoryStream[Ev]
    stream.addData(chunk1)
    stream.addData(chunk2)
    stream.addData(chunk3)
    stream.addData(Seq(Ev(99, ts(100000), "sentinel")))
    val q = StreamingFunnel.funnel(spark, stream.toDS, Some(horizon))
      .writeStream.format("memory").queryName("funnel_win_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("funnel_win_out")
      .filter(!col("user_id").isin(98L, 99L))
      .select("user_id", "step", "ts")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getTimestamp(2))).toSet
    val batch = graft.operators.Windows
      .funnelOf((chunk1 ++ chunk2 ++ chunk3).toDF("user_id", "ts", "event_type"),
        StreamingFunnel.Steps,
        Some(graft.operators.Windows.parseHorizon(horizon)))
      .zipWithIndex.flatMap { case (df, i) =>
        df.collect().filter(r => r.getLong(0) != 98L)
          .map(r => (r.getLong(0), i + 1, r.getTimestamp(1)))
      }.toSet
    assert(got == batch)
    assert(got.count(_._2 == 3) == 1)                  // only user 2
    assert(got.contains((2L, 2, ts(11))))              // the boundary hop
    assert(!got.exists(t => t._1 == 1L && t._2 == 3))  // past deadline
    assert(got.count(t => t._1 == 6L && t._2 == 1) == 1) // one first reach
    assert(!got.exists(t => t._1 == 3L && t._2 == 2))

    // the state-machine claims, driven directly: a user folding to
    // nothing REMOVES state; an expired user's hold-buffer dies
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val h = Some(graft.operators.Windows.parseHorizon(horizon))
    def st(prior: Option[FunnelState], wmMin: Long) =
      TestGroupState.create[FunnelState](
        prior.map(Optional.of[FunnelState]).getOrElse(Optional.empty()),
        GroupStateTimeout.EventTimeTimeout, 0L,
        Optional.of((1440 + wmMin) * 60000L), false)
    // clicks below the watermark with no view ever: nothing emits and
    // the state slot is removed, not stored as K longs of -1
    val s1 = st(None, 10)
    assert(StreamingFunnel.step(h)(6L,
      Iterator(Ev(6, ts(2), "click"), Ev(6, ts(3), "click")), s1).isEmpty)
    assert(s1.isRemoved, "never-reached user must evict")
    // a reached user past its conversion deadline drops every held
    // event (each must land past reach+horizon by finality) and keeps
    // only the reach vector, with no re-fire timeout
    val s2 = st(Some(FunnelState(Seq(ts(1).getTime * 1000, -1L, -1L), Nil)), 20)
    assert(StreamingFunnel.step(h)(3L,
      Iterator(Ev(3, ts(21), "click")), s2).isEmpty)
    assert(!s2.isRemoved && s2.get.buf.isEmpty,
      "expired user must shrink to the reach vector")
    assert(!s2.getTimeoutTimestampMs.isPresent,
      "an expired user must not re-fire")
  }

  test("StreamingFunnelDeepest ≡ the batch anchored deepest-chain funnel " +
      "per stage, including the chained-disagreement frame; bounded-anchor " +
      "state shrinks to one int; re-attained depths never re-emit") {
    import spark.implicits._
    import graft.streaming.StreamingFunnelDeepest
    import graft.streaming.StreamingFunnelDeepest.{DeepState, Ev}
    implicit val sqlCtx = spark.sqlContext
    val horizon = "10m"
    val chunk1 = Seq(
      // user 1's FIRST hop misses its deadline (click@15 > view@1+10m)
      // but the view@12 anchor fits the whole chain — deepest converts
      // where chained stalls at step 1 (the EngineSpec disagreement)
      Ev(1, ts(1), "view"),
      // user 2: plain in-window conversion
      Ev(2, ts(2), "view"), Ev(2, ts(3), "click"), Ev(2, ts(4), "purchase"),
      // user 3: anchor only; user 4: never anchored (no view) — evicts
      Ev(3, ts(5), "view"), Ev(4, ts(2), "click"), Ev(4, ts(3), "purchase"))
    val chunk2 = Seq( // user 1's late anchor and its chain, cross-batch
      Ev(1, ts(12), "view"), Ev(1, ts(15), "click"), Ev(1, ts(16), "purchase"))
    val stream = MemoryStream[Ev]
    stream.addData(chunk1); stream.addData(chunk2)
    stream.addData(Seq(Ev(99, ts(100000), "sentinel")))
    val q = StreamingFunnelDeepest.funnel(spark, stream.toDS, horizon)
      .writeStream.format("memory").queryName("deep_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("deep_out").filter(col("user_id") =!= 99)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(got.length == got.distinct.length, s"duplicate reaches: ${got.toSeq}")
    val gotBySet = got.groupBy(_._2).view
      .mapValues(_.map(_._1).toSet).toMap.withDefaultValue(Set.empty[Long])
    val h = graft.operators.Windows.parseHorizon(horizon)
    val all = (chunk1 ++ chunk2).toDF("user_id", "ts", "event_type")
    val batch = graft.operators.Windows
      .funnelDeepestOf(all, StreamingFunnelDeepest.Steps, h)
      .zipWithIndex.map { case (df, i) =>
        (i + 1) -> df.select("user_id").as[Long].collect().toSet }.toMap
    assert((1 to 3).forall(k => gotBySet(k) == batch(k)),
      s"got=$gotBySet batch=$batch")
    // the disagreement really happened: chained stalls user 1 at step 1
    val chained = graft.operators.Windows
      .funnelOf(all, StreamingFunnelDeepest.Steps, Some(h))
      .map(_.select("user_id").as[Long].collect().toSet)
    assert(gotBySet(3).contains(1L) && !chained(1).contains(1L))
    assert(!gotBySet.contains(0) && !gotBySet.values.exists(_.contains(4L)))

    // state-machine claims, driven directly
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    def st(prior: Option[DeepState], wmMin: Long) =
      TestGroupState.create[DeepState](
        prior.map(Optional.of[DeepState]).getOrElse(Optional.empty()),
        GroupStateTimeout.EventTimeTimeout, 0L,
        Optional.of((1440 + wmMin) * 60000L), false)
    val steps = StreamingFunnelDeepest.Steps
    // never-anchored user: no emission, state removed
    val s1 = st(None, 10)
    assert(StreamingFunnelDeepest.step(steps, h)(4L,
      Iterator(Ev(4, ts(2), "click"), Ev(4, ts(3), "purchase")), s1).isEmpty)
    assert(s1.isRemoved, "never-anchored user must evict")
    // an expired anchor vanishes: the state shrinks to the one
    // emitted-depth int, with no re-fire timeout
    val s2 = st(Some(DeepState(2,
      Seq((ts(1).getTime * 1000, 2, ts(3).getTime * 1000)), Nil)), 30)
    assert(StreamingFunnelDeepest.step(steps, h)(5L, Iterator.empty, s2).isEmpty)
    assert(!s2.isRemoved && s2.get == DeepState(2, Nil, Nil),
      s"expired anchor must shrink to the int: ${s2.get}")
    assert(!s2.getTimeoutTimestampMs.isPresent, "no anchors, no holds — no wake")
    // a re-attained depth never re-emits: a fresh full chain against
    // emitted=3 folds anchors but outputs nothing
    val s3 = st(Some(DeepState(3, Nil, Nil)), 60)
    assert(StreamingFunnelDeepest.step(steps, h)(6L,
      Iterator(Ev(6, ts(40), "view"), Ev(6, ts(41), "click"),
        Ev(6, ts(42), "purchase")), s3).isEmpty)
    assert(s3.get.emitted == 3)
  }

  test("StreamingFunnelDeepestSegmented pins the ENTRY segment (first " +
      "step-1 event, tie on the value) even when a LATER anchor " +
      "converts — aggregated reaches through the read-time rollup " +
      "equal the batch segmented deepest report") {
    import spark.implicits._
    import graft.streaming.StreamingFunnelDeepestSegmented
    import graft.streaming.StreamingFunnelDeepestSegmented.Ev
    implicit val sqlCtx = spark.sqlContext
    def ev(u: Long, t: Timestamp, typ: String, seg: String*) = Ev(u, t, typ, seg)
    val horizon = "10m"
    val chunk1 = Seq(
      // user 1: the entry view carries seg A; only the view@12 (seg B)
      // anchors the converting window — every emission must still read
      // A (the defining-moment rule; the converting anchor is unknown
      // until the depth stops growing)
      ev(1, ts(1), "view", "A"),
      // user 2: plain conversion, one segment
      ev(2, ts(2), "view", "C"), ev(2, ts(3), "click", "C"),
      ev(2, ts(4), "purchase", "C"),
      // user 6: the entry tie — two views at the SAME instant, the
      // smaller segment value must pin (the batch min-pair law)
      ev(6, ts(5), "view", "ZZ"), ev(6, ts(5), "view", "BB"),
      ev(6, ts(6), "click", "ZZ"))
    val chunk2 = Seq(
      ev(1, ts(12), "view", "B"), ev(1, ts(15), "click", "B"),
      ev(1, ts(16), "purchase", "B"))
    val stream = MemoryStream[Ev]
    stream.addData(chunk1); stream.addData(chunk2)
    stream.addData(Seq(ev(99, ts(100000), "sentinel", "")))
    val q = StreamingFunnelDeepestSegmented
      .funnel(spark, stream.toDS, horizon)
      .writeStream.format("memory").queryName("segdeep_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val out = spark.table("segdeep_out").filter(col("user_id") =!= 99)
    val raw = out.collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).head, r.getInt(2)))
    assert(raw.distinct.length == raw.length, s"dup reaches: ${raw.toSeq}")
    // entry pins: user 1 reaches depth 3 via the seg-B anchor but
    // reports A; user 6's same-instant tie broke to BB
    assert(raw.filter(_._1 == 1L).map(_._2).distinct.toSeq == Seq("A"))
    assert(raw.exists(r => r._1 == 1L && r._3 == 3))
    assert(raw.filter(_._1 == 6L).map(_._2).distinct.toSeq == Seq("BB"))
    // aggregated reaches through the read-time rollup ≡ the batch
    // segmented deepest report (fine rows AND "all" members)
    val fine = out.groupBy(col("seg")(0).as("seg"), col("step"), col("step_name"))
      .agg(count(lit(1)).as("users"))
    val got = graft.streaming.Maintained
      .funnelSegmentedReportFrom(spark, fine)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .toSet
    val all = (chunk1 ++ chunk2).toDF("user_id", "ts", "event_type", "seg")
      .withColumn("seg", col("seg")(0))
    val h = graft.operators.Windows.parseHorizon(horizon)
    val stages = graft.operators.Windows.funnelDeepestOf(all,
      StreamingFunnelDeepestSegmented.Steps, h,
      by = Some(graft.operators.Windows.segPayload(Seq("seg"))))
    val batch = graft.operators.Windows.segmentedFunnelReport(stages,
        StreamingFunnelDeepestSegmented.Steps, Seq("seg" -> "segment"),
        Seq(countDistinct(col("user_id")).as("users")), Seq("users"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(got == batch, s"got=$got\nbatch=$batch")
  }

  test("StreamingRetention emits each (user, cohort, offset) cell exactly " +
      "once; the aggregated cells equal the batch retention matrix, " +
      "out-of-order cohort shifts included") {
    import spark.implicits._
    import graft.streaming.StreamingRetention
    import graft.streaming.StreamingRetention.Ev
    implicit val sqlCtx = spark.sqlContext
    // minutes offset from a DAY grain: use day-period retention with
    // events spread over several days (1440 min = 1 day)
    val chunk1 = Seq(
      // user 1: active on days 1, 1 (dup period), 3
      Ev(1, ts(1500)), Ev(1, ts(1600)), Ev(1, ts(1440 * 3 + 10)),
      // user 2: FIRST event arrives in chunk 2 with an earlier time —
      // the cohort must pin to the earlier day, not the first-seen one
      Ev(2, ts(1440 * 2 + 5)))
    val chunk2 = Seq(
      Ev(2, ts(200)), // earlier than chunk1's day-2 event: shifts cohort
      Ev(3, ts(1440 * 4 + 1)))
    val stream = MemoryStream[Ev]
    stream.addData(chunk1)
    stream.addData(chunk2)
    stream.addData(Seq(Ev(99, ts(100000))))
    val q = StreamingRetention.cells(spark, stream.toDS, "day")
      .writeStream.format("memory").queryName("ret_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val cells = spark.table("ret_out").filter(col("user_id") =!= 99)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getInt(2)))
    assert(cells.distinct.length == cells.length, "cells must be unique")
    // aggregate the cells → the batch matrix on the same events (render
    // cohorts in UTC explicitly — the session tz, not the JVM default)
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
    val gotMatrix = cells
      .map(c => (java.time.Instant.ofEpochMilli(c._2.getTime)
        .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.format(fmt), c._3))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val batch = graft.operators.Windows.retentionOf(
        (chunk1 ++ chunk2).map(e => (e.user_id, e.ts))
          .toDF("user_id", "ts"), "day")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    assert(gotMatrix == batch, s"got=$gotMatrix batch=$batch")
    // the out-of-order cohort shift really happened: user 2's cohort is
    // day 0's date, with activity at offset 2
    assert(cells.exists(c => c._1 == 2L && c._3 == 2))
  }

  test("StreamingRetention.rollingCells emits each (user, cohort, offset) " +
      "cell exactly once as the max-offset frontier advances; the " +
      "aggregated cells equal the batch ROLLING matrix") {
    import spark.implicits._
    import graft.streaming.StreamingRetention
    import graft.streaming.StreamingRetention.Ev
    implicit val sqlCtx = spark.sqlContext
    val chunk1 = Seq(
      // user 1: days 1 and 3 — the first fold emits offsets 0..2 at
      // once (the frontier jumps; the gaps fill eagerly)
      Ev(1, ts(1500)), Ev(1, ts(1440 * 3 + 10)),
      // user 2: day 2 first-seen; chunk 2 shifts the cohort earlier
      Ev(2, ts(1440 * 2 + 5)))
    val chunk2 = Seq(
      Ev(2, ts(200)), // earlier event: cohort pins to day 0
      Ev(3, ts(1440 * 4 + 1)),
      Ev(1, ts(1440 * 3 + 99))) // same frontier: must emit NOTHING new
    val stream = MemoryStream[Ev]
    stream.addData(chunk1)
    stream.addData(chunk2)
    stream.addData(Seq(Ev(99, ts(100000))))
    val q = StreamingRetention.rollingCells(spark, stream.toDS, "day")
      .writeStream.format("memory").queryName("roll_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val cells = spark.table("roll_out").filter(col("user_id") =!= 99)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getInt(2)))
    assert(cells.distinct.length == cells.length, "cells must be unique")
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
    val gotMatrix = cells
      .map(c => (java.time.Instant.ofEpochMilli(c._2.getTime)
        .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.format(fmt), c._3))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val batch = graft.operators.Windows.retentionRollingOf(
        (chunk1 ++ chunk2).map(e => (e.user_id, e.ts))
          .toDF("user_id", "ts"), "day")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    assert(gotMatrix == batch, s"got=$gotMatrix batch=$batch")
    // the frontier semantics really happened: user 1 has GAP day 2
    // (no activity) yet carries the rolling cell at offset 2
    assert(cells.exists(c => c._1 == 1L && c._3 == 2),
      "rolling cells must fill the inactive gap up to the frontier")
    // user 2's shifted cohort: offset 2 against the day-0 cohort
    assert(cells.exists(c => c._1 == 2L && c._3 == 2))
  }

  test("StreamingRetentionSegmented pins the entry segment WITH the " +
      "cohort — aggregated cells through the read-time rollup equal " +
      "the batch segmented matrix, cohort shifts and entry ties included") {
    import spark.implicits._
    import graft.streaming.StreamingRetentionSegmented
    import graft.streaming.StreamingRetentionSegmented.Ev
    implicit val sqlCtx = spark.sqlContext
    def ev(u: Long, t: Timestamp, seg: String*) = Ev(u, t, seg)
    val chunk1 = Seq(
      // user 1: days 1, 1 (dup period), 3 — one segment throughout
      ev(1, ts(1500), "A"), ev(1, ts(1600), "A"),
      ev(1, ts(1440 * 3 + 10), "A"),
      // user 2: first event arrives in chunk 2 with an EARLIER time
      // and a different segment — cohort AND segment must re-pin
      ev(2, ts(1440 * 2 + 5), "B"),
      // user 6: the entry tie — same instant, different segments
      ev(6, ts(1440 + 30), "BBB"))
    val chunk2 = Seq(
      ev(2, ts(200), "C"), // shifts user 2's cohort to day 0, seg to C
      ev(6, ts(1440 + 30), "AAA"), // ties user 6's entry: min seg wins
      ev(3, ts(1440 * 4 + 1), "D"))
    val stream = MemoryStream[Ev]
    stream.addData(chunk1)
    stream.addData(chunk2)
    stream.addData(Seq(ev(99, ts(100000), "")))
    val q = StreamingRetentionSegmented.cells(spark, stream.toDS, "day")
      .writeStream.format("memory").queryName("segret_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val cells = spark.table("segret_out").filter(col("user_id") =!= 99)
    val raw = cells.collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).head, r.getTimestamp(2),
        r.getInt(3)))
    assert(raw.distinct.length == raw.length, "cells must be unique")
    // entry pins: user 2 re-pinned to C, user 6's tie broke to AAA
    assert(raw.filter(_._1 == 2L).map(_._2).distinct.toSeq == Seq("C"))
    assert(raw.filter(_._1 == 6L).map(_._2).distinct.toSeq == Seq("AAA"))
    // the aggregated cells through the read-time rollup ≡ the batch
    // segmented matrix (fine rows AND the "all" members)
    val fine = cells.groupBy(col("seg")(0).as("seg"), col("cohort"), col("offset"))
      .agg(count(lit(1)).as("users"))
    val got = graft.streaming.Maintained
      .retentionSegmentedReportFrom(spark, fine, Seq("seg"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3)))
      .toSet
    val batch = graft.operators.Windows.retentionSegmentedOf(
        (chunk1 ++ chunk2).map(e => (e.user_id, e.ts, e.seg.head))
          .toDF("user_id", "ts", "seg"), "day")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(got == batch, s"got=$got\nbatch=$batch")
  }

  test("StreamingPathsSegmented attributes each pair to its FROM " +
      "event's segment — aggregated pairs through the read-time rollup " +
      "equal the batch segmented matrix, out-of-order splices included") {
    import spark.implicits._
    import graft.streaming.StreamingPathsSegmented
    import graft.streaming.StreamingPathsSegmented.Ev
    implicit val sqlCtx = spark.sqlContext
    def ev(u: Long, t: Timestamp, seq: Long, typ: String, seg: String*) =
      Ev(u, t, seq, typ, seg)
    val chunk1 = Seq(
      // user 1: a → b → c with the MIDDLE event arriving late (next
      // chunk) — the finalized fold must splice it in, and the pairs
      // must carry the from-events' segments (X then Y)
      ev(1, ts(1), 1, "a", "X"), ev(1, ts(3), 3, "c", "X"),
      // user 2: one event, no pair
      ev(2, ts(1), 4, "a", "Z"))
    val chunk2 = Seq(
      ev(1, ts(2), 2, "b", "Y"),
      // user 3: a strict (ts, seq) tie-break pair, same segment
      ev(3, ts(5), 6, "b", "W"), ev(3, ts(5), 5, "a", "W"))
    val stream = MemoryStream[Ev]
    stream.addData(chunk1)
    stream.addData(chunk2)
    stream.addData(Seq(ev(99, ts(100000), 0, "sentinel", "")))
    val q = StreamingPathsSegmented.pairs(spark, stream.toDS)
      .writeStream.format("memory").queryName("segpath_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val pairs = spark.table("segpath_out").filter(col("user_id") =!= 99)
    val raw = pairs.collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).head, r.getString(2),
        r.getString(3)))
    // the splice carried the from segments: (X, a→b) and (Y, b→c)
    assert(raw.toSet.contains((1L, "X", "a", "b")) &&
      raw.toSet.contains((1L, "Y", "b", "c")), raw.toSeq.toString)
    val fine = pairs.groupBy(col("seg")(0).as("seg"), col("from_step"), col("to_step"))
      .agg(count(lit(1)).as("n"))
    val got = graft.streaming.Maintained
      .pathsSegmentedReportFrom(spark, fine, Seq("seg"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    val batch = graft.operators.Windows.pathsSegmentedOf(
        (chunk1 ++ chunk2).map(e => (e.user_id, e.ts, e.seq, e.event_type, e.seg.head))
          .toDF("user_id", "ts", "event_id", "event_type", "seg"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(got == batch, s"got=$got\nbatch=$batch")
  }

  test("StreamingRetentionSegmented over TWO axes pins the entry " +
      "(seg, seg2) tuple WITH the cohort — aggregated cells through the " +
      "2^2 read-time rollup equal the batch two-axis matrix") {
    import spark.implicits._
    import graft.streaming.StreamingRetentionSegmented
    import graft.streaming.StreamingRetentionSegmented.Ev
    implicit val sqlCtx = spark.sqlContext
    def ev(u: Long, t: Timestamp, seg: String*) = Ev(u, t, seg)
    val chunk1 = Seq(
      // user 1: days 1 and 3, one pair throughout
      ev(1, ts(1500), "A", "N1"), ev(1, ts(1440 * 3 + 10), "A", "N1"),
      // user 2: the first event arrives in chunk 2 with an EARLIER time
      // and another pair — cohort AND pair must re-pin
      ev(2, ts(1440 * 2 + 5), "B", "N1"),
      // user 6: the tuple tie — (B, A) and (A, Z) at one instant; the
      // tuple law pins (A, Z), never the per-attribute mins (A, A)
      ev(6, ts(1440 + 30), "B", "A"))
    val chunk2 = Seq(
      ev(2, ts(200), "C", "N2"),
      ev(6, ts(1440 + 30), "A", "Z"), ev(6, ts(1440 * 2 + 1), "Q", "Q"),
      ev(3, ts(1440 * 4 + 1), "A", "N2"))
    val stream = MemoryStream[Ev]
    stream.addData(chunk1)
    stream.addData(chunk2)
    stream.addData(Seq(ev(99, ts(100000), "", "")))
    val q = StreamingRetentionSegmented.cells(spark, stream.toDS, "day")
      .writeStream.format("memory").queryName("seg2ret_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val cells = spark.table("seg2ret_out").filter(col("user_id") =!= 99)
    val raw = cells.collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    assert(raw.filter(_._1 == 2L).map(_._2).distinct.toSeq == Seq(Seq("C", "N2")))
    assert(raw.filter(_._1 == 6L).map(_._2).distinct.toSeq == Seq(Seq("A", "Z")))
    val fine = cells.groupBy(col("seg")(0).as("seg"), col("seg")(1).as("seg2"),
        col("cohort"), col("offset"))
      .agg(count(lit(1)).as("users"))
    val got = graft.streaming.Maintained
      .retentionSegmentedReportFrom(spark, fine, Seq("seg", "seg2"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3),
        r.getLong(4)))
      .toSet
    val batch = graft.operators.Windows.retentionSegmentedOf(
        (chunk1 ++ chunk2).map(e => (e.user_id, e.ts, e.seg(0), e.seg(1)))
          .toDF("user_id", "ts", "seg", "seg2"), "day",
        by = Seq("seg" -> "segment", "seg2" -> "segment2"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3),
        r.getLong(4)))
      .toSet
    assert(got == batch, s"got=$got\nbatch=$batch")
    // all four grouping sets are present: the (A, all) and (all, Z)
    // members sum over the other axis
    assert(got.exists(r => r._1 == "A" && r._2 == "all"))
    assert(got.exists(r => r._1 == "all" && r._2 == "Z"))
  }

  test("StreamingPathsSegmented over TWO axes attributes each pair to " +
      "its FROM event's (seg, seg2) — aggregated pairs through the 2^2 " +
      "read-time rollup equal the batch two-axis matrix") {
    import spark.implicits._
    import graft.streaming.StreamingPathsSegmented
    import graft.streaming.StreamingPathsSegmented.Ev
    implicit val sqlCtx = spark.sqlContext
    def ev(u: Long, t: Timestamp, seq: Long, typ: String, seg: String*) =
      Ev(u, t, seq, typ, seg)
    val chunk1 = Seq(
      // user 1: a → b → c with the middle event late; the pairs carry
      // the from-events' pairs, (X, N1) then (Y, N1)
      ev(1, ts(1), 1, "a", "X", "N1"), ev(1, ts(3), 3, "c", "X", "N2"),
      ev(2, ts(1), 4, "a", "Z", "N1"))
    val chunk2 = Seq(
      ev(1, ts(2), 2, "b", "Y", "N1"),
      // user 3: a strict (ts, seq) tie-break pair
      ev(3, ts(5), 6, "b", "W", "N3"), ev(3, ts(5), 5, "a", "W", "N3"))
    val stream = MemoryStream[Ev]
    stream.addData(chunk1)
    stream.addData(chunk2)
    stream.addData(Seq(ev(99, ts(100000), 0, "sentinel", "", "")))
    val q = StreamingPathsSegmented.pairs(spark, stream.toDS)
      .writeStream.format("memory").queryName("seg2path_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val pairs = spark.table("seg2path_out").filter(col("user_id") =!= 99)
    val raw = pairs.collect()
      .map(r => (r.getLong(0), r.getSeq[String](1), r.getString(2), r.getString(3)))
      .toSet
    assert(raw.contains((1L, Seq("X", "N1"), "a", "b")) &&
      raw.contains((1L, Seq("Y", "N1"), "b", "c")), raw.toString)
    val fine = pairs.groupBy(col("seg")(0).as("seg"), col("seg")(1).as("seg2"),
        col("from_step"), col("to_step"))
      .agg(count(lit(1)).as("n"))
    val got = graft.streaming.Maintained
      .pathsSegmentedReportFrom(spark, fine, Seq("seg", "seg2"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
      .toSet
    val batch = graft.operators.Windows.pathsSegmentedOf(
        (chunk1 ++ chunk2)
          .map(e => (e.user_id, e.ts, e.seq, e.event_type, e.seg(0), e.seg(1)))
          .toDF("user_id", "ts", "event_id", "event_type", "seg", "seg2"),
        by = Seq("seg" -> "segment", "seg2" -> "segment2"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
      .toSet
    assert(got == batch, s"got=$got\nbatch=$batch")
    assert(got.contains(("all", "N1", "a", "b", 1L)) &&
      got.contains(("all", "all", "a", "b", 2L)), got.toString)
  }

  test("StreamingPaths emits each adjacency exactly once; aggregated " +
      "pairs equal the batch transition matrix — including an " +
      "out-of-order event SPLICING between already-seen neighbors") {
    import spark.implicits._
    import graft.streaming.StreamingPaths
    import graft.streaming.StreamingPaths.Ev
    implicit val sqlCtx = spark.sqlContext
    val chunk1 = Seq(
      // user 1's a and c arrive first; b (between them in TIME) lands
      // in the next chunk — the final pairs must be a→b, b→c, never
      // the a→c an eager fold would have emitted
      Ev(1, ts(1), 1, "a"), Ev(1, ts(9), 3, "c"),
      // user 2: duplicate timestamps order by seq (the tie-break)
      Ev(2, ts(5), 10, "x"), Ev(2, ts(5), 11, "y"), Ev(2, ts(6), 12, "z"),
      // user 3: a single event pairs with nothing
      Ev(3, ts(2), 1, "solo"))
    val chunk2 = Seq(Ev(1, ts(5), 2, "b"), Ev(99, ts(30), 0, "wm"))
    val chunk3 = Seq(
      // user 1 continues AFTER the earlier events finalized: the held
      // last event links the next pair across batches
      Ev(1, ts(40), 4, "d"))
    val stream = MemoryStream[Ev]
    stream.addData(chunk1); stream.addData(chunk2); stream.addData(chunk3)
    stream.addData(Seq(Ev(99, ts(100000), 0, "sentinel")))
    val q = StreamingPaths.pairs(spark, stream.toDS)
      .writeStream.format("memory").queryName("paths_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("paths_out").filter(col("user_id") =!= 99)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got.length == got.distinct.length)
    val batch = graft.operators.Windows.pathTransitionsOf(
        (chunk1 ++ chunk2 ++ chunk3).filter(_.user_id != 99)
          .map(e => (e.user_id, e.ts, e.seq, e.event_type))
          .toDF("user_id", "ts", "event_id", "event_type"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val gotMatrix = got.map(p => (p._2, p._3))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(gotMatrix == batch, s"got=$gotMatrix batch=$batch")
    // the splice really happened, and the tie-break held
    assert(got.contains((1L, "a", "b")) && got.contains((1L, "b", "c")) &&
      !got.contains((1L, "a", "c")))
    assert(got.contains((2L, "x", "y")))
    assert(got.contains((1L, "c", "d")), "pairs must link across batches")
  }

  test("StreamingPaths gap-bounded mode ≡ pathTransitionsOf(withinGapMs): " +
      "a boundary-exact pair emits, an over-gap pair is suppressed but " +
      "still advances the chain") {
    import spark.implicits._
    import graft.streaming.StreamingPaths
    import graft.streaming.StreamingPaths.Ev
    implicit val sqlCtx = spark.sqlContext
    val gapMs = 30L * 60000L
    val chunk1 = Seq(
      // a→b exactly AT the 30-min boundary (inclusive: emits); b→c 40
      // min (suppressed — but c still chains); c→d 5 min (emits)
      Ev(1, ts(0), 1, "a"), Ev(1, ts(70), 3, "c"),
      Ev(2, ts(5), 10, "x"), Ev(2, ts(5), 11, "y"))
    val chunk2 = Seq(
      Ev(1, ts(30), 2, "b"), Ev(1, ts(75), 4, "d"),
      Ev(99, ts(200), 0, "wm"))
    val stream = MemoryStream[Ev]
    stream.addData(chunk1); stream.addData(chunk2)
    stream.addData(Seq(Ev(99, ts(100000), 0, "sentinel")))
    val q = StreamingPaths.pairs(spark, stream.toDS, Some(gapMs))
      .writeStream.format("memory").queryName("paths_gap_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("paths_gap_out").filter(col("user_id") =!= 99)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got.length == got.distinct.length)
    val gotMatrix = got.map(p => (p._2, p._3))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val batch = graft.operators.Windows.pathTransitionsOf(
        (chunk1 ++ chunk2).filter(_.user_id != 99)
          .map(e => (e.user_id, e.ts, e.seq, e.event_type))
          .toDF("user_id", "ts", "event_id", "event_type"),
        Some(gapMs))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(gotMatrix == batch, s"got=$gotMatrix batch=$batch")
    assert(got.contains((1L, "a", "b")), "boundary-exact pair must emit")
    assert(!got.contains((1L, "b", "c")), "over-gap pair must be suppressed")
    assert(got.contains((1L, "c", "d")), "chain must advance past a suppression")
  }

  test("composed chain: StreamingRetention cells fold into a persisted " +
      "PointStore — the cohort matrix maintained as an LSM table") {
    import spark.implicits._
    import graft.streaming.{StreamingRetention, StreamingPointStore}
    import graft.streaming.StreamingRetention.Ev
    import graft.sources.PointStore
    implicit val sqlCtx = spark.sqlContext
    val evs = Seq(
      Ev(1, ts(100)), Ev(1, ts(1440 * 2)), Ev(2, ts(200)),
      Ev(2, ts(1440 * 5)), Ev(3, ts(1440 * 3 + 7)))
    val root = java.nio.file.Files.createTempDirectory("graft_retchain")
    val store = new PointStore(spark, s"$root/ret",
      keys = Seq("cohort", "offset"), sums = Seq("users"), maxes = Nil)
    def partialOf(b: org.apache.spark.sql.DataFrame) =
      b.filter(col("user_id") =!= 99)
        .groupBy("cohort", "offset").agg(count(lit(1)).as("users"))
    val stream = MemoryStream[Ev]
    val q = StreamingRetention.cells(spark, stream.toDS, "day")
      .writeStream
      .foreachBatch(
        (b: org.apache.spark.sql.Dataset[StreamingRetention.Cell], id: Long) =>
          StreamingPointStore.foldBatch(store, partialOf, b.toDF, id))
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("append").start()
    stream.addData(evs.take(3)); q.processAllAvailable()
    stream.addData(evs.drop(3))
    stream.addData(Seq(Ev(99, ts(100000))))
    q.processAllAvailable(); q.stop()

    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
    val snap = store.snapshot.collect().map(r =>
      (java.time.Instant.ofEpochMilli(r.getTimestamp(0).getTime)
        .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.format(fmt),
        r.getInt(1)) -> r.getLong(2)).toMap
    val reference = graft.operators.Windows.retentionOf(
        evs.map(e => (e.user_id, e.ts)).toDF("user_id", "ts"), "day")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    assert(snap == reference, s"snap=$snap reference=$reference")
  }

  test("composed chain: StreamingPaths pairs fold into a persisted " +
      "PointStore — the transition matrix maintained as an LSM table") {
    import spark.implicits._
    import graft.streaming.{StreamingPaths, StreamingPointStore}
    import graft.streaming.StreamingPaths.Ev
    import graft.sources.PointStore
    implicit val sqlCtx = spark.sqlContext
    // both chunks stay ADMISSIBLE (at/above the watermark when they
    // arrive — chunk 1 tops out at ts(5), so wm = ts(4) when chunk 2's
    // ts(6)/ts(9) land); the inadmissible-splice case is the dedicated
    // StreamingPaths test's job, this one pins cells→store ≡ batch
    // with cross-batch chain linking
    val evs = Seq(
      Ev(1, ts(1), 1, "a"), Ev(1, ts(5), 2, "b"), Ev(2, ts(5), 10, "a"),
      Ev(1, ts(9), 3, "c"), Ev(2, ts(6), 11, "b"))
    val root = java.nio.file.Files.createTempDirectory("graft_pathchain")
    val store = new PointStore(spark, s"$root/paths",
      keys = Seq("from_step", "to_step"), sums = Seq("n"), maxes = Nil)
    def partialOf(b: org.apache.spark.sql.DataFrame) =
      b.filter(col("user_id") =!= 99)
        .groupBy("from_step", "to_step").agg(count(lit(1)).as("n"))
    val stream = MemoryStream[Ev]
    val q = StreamingPaths.pairs(spark, stream.toDS)
      .writeStream
      .foreachBatch(
        (b: org.apache.spark.sql.Dataset[StreamingPaths.Pair], id: Long) =>
          StreamingPointStore.foldBatch(store, partialOf, b.toDF, id))
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("append").start()
    stream.addData(evs.take(3)); q.processAllAvailable()
    stream.addData(evs.drop(3))
    stream.addData(Seq(Ev(99, ts(100000), 0, "wm")))
    q.processAllAvailable(); q.stop()

    val snap = store.snapshot
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val reference = graft.operators.Windows.pathTransitionsOf(
        evs.map(e => (e.user_id, e.ts, e.seq, e.event_type))
          .toDF("user_id", "ts", "event_id", "event_type"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(snap == reference, s"snap=$snap reference=$reference")
  }

  test("composed chain: StreamingFunnel reaches fold into a persisted " +
      "PointStore — the funnel report maintained as an LSM table") {
    import spark.implicits._
    import graft.streaming.{StreamingFunnel, StreamingPointStore}
    import graft.streaming.StreamingFunnel.Ev
    import graft.sources.PointStore
    implicit val sqlCtx = spark.sqlContext
    val evs = Seq(
      Ev(1, ts(1), "view"), Ev(1, ts(2), "click"), Ev(1, ts(3), "purchase"),
      Ev(2, ts(1), "purchase"), Ev(2, ts(2), "view"), Ev(2, ts(3), "click"),
      Ev(3, ts(1), "click"), Ev(4, ts(5), "view"), Ev(4, ts(6), "click"))
    val root = java.nio.file.Files.createTempDirectory("graft_funnelchain")
    val store = new PointStore(spark, s"$root/funnel",
      keys = Seq("step", "step_name"), sums = Seq("users"), maxes = Nil)
    // reaches are emitted exactly once per (user, step) in append mode,
    // so a plain additive count partial folds them; batch-id redelivery
    // rides the store's tag ledger as everywhere else in the family
    def partialOf(b: org.apache.spark.sql.DataFrame) =
      b.filter(col("user_id") =!= 99)
        .groupBy("step", "step_name").agg(count(lit(1)).as("users"))
    val stream = MemoryStream[Ev]
    val q = StreamingFunnel.funnel(spark, stream.toDS)
      .writeStream
      .foreachBatch(
        (b: org.apache.spark.sql.Dataset[StreamingFunnel.Reach], id: Long) =>
          StreamingPointStore.foldBatch(store, partialOf, b.toDF, id))
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("append").start()
    stream.addData(evs.take(5)); q.processAllAvailable()
    stream.addData(evs.drop(5))
    stream.addData(Seq(Ev(99, ts(100000), "sentinel"))) // finalize all
    q.processAllAvailable(); q.stop()

    val snap = store.snapshot
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    // the maintained table IS the batch report (absent row = 0 reached)
    val reference = graft.operators.Windows
      .funnelOf(evs.toDF("user_id", "ts", "event_type"),
        StreamingFunnel.Steps)
      .zip(StreamingFunnel.Steps).zipWithIndex
      .map { case ((df, name), i) => (i + 1, name) -> df.count() }
      .filter(_._2 > 0).toMap
    assert(snap == reference, s"snap=$snap reference=$reference")
  }
}
