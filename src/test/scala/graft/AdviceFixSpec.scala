package graft

import graft.operators.AsOf
import org.apache.spark.sql.functions._

/** Regression tests for the round-3 ADVICE findings. */
class AdviceFixSpec extends SparkSpec {

  test("nanos→micros conversion is exact beyond double's 2^53 range") {
    import spark.implicits._
    // 2024-epoch nanos ~1.7e18: double's ulp there is 256, so the old
    // (ns / 1000).cast("long") path truncated ~1.6% of values 1 µs low
    val adversarial = Seq(
      1700000000000001000L, 1700000000000001999L, 1704067199999999001L,
      1234567890123456789L, 999999999999999999L, 0L, 1000L, 999L)
    val got = adversarial.toDF("ns")
      .select(unix_micros(Tables.nanosToTimestamp(col("ns"))))
      .collect().map(_.getLong(0))
    assert(got.toSeq == adversarial.map(_ / 1000L))
  }

  test("events.ts keeps exact microseconds (no double round-trip)") {
    import spark.implicits._
    // end-to-end: the loaded events table must agree with integral
    // ns/1000. The testdata stores ts as a timestamp now, so the test
    // writes its own events.parquet in the LONG-nanosecond profile:
    // 2024-epoch nanos, past double's 2^53 exact range
    val dir = java.nio.file.Files.createTempDirectory("graft_events_ns").toString
    (0L until 2000L).map(i => (i, 1704067199999999001L + i * 999999937L))
      .toDF("event_id", "ts").write.parquet(s"$dir/events.parquet")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    val mismatches = Tables.events(spark, dir).select(col("event_id"), col("ts"))
      .join(raw.select(col("event_id"), col("ts").as("ns")), "event_id")
      .filter(unix_micros(col("ts")) =!= call_function("div", col("ns"), lit(1000L)))
      .count()
    assert(mismatches == 0)
  }

  test("as-of join rejects carry names that collide with left columns") {
    import spark.implicits._
    val left = Seq((1L, 10L, "x")).toDF("k", "t", "payload")
    val right = Seq((1L, 5L, "y")).toDF("k", "t", "payload")
    val e = intercept[IllegalArgumentException] {
      AsOf.join(left, right, key = "k", time = "t", tieBreak = "t",
        carry = Seq("payload"))
    }
    assert(e.getMessage.contains("payload"))
    val en = intercept[IllegalArgumentException] {
      AsOf.joinNative(spark, left, right, key = "k", time = "t", tieBreak = "t",
        carry = Seq("payload"))
    }
    assert(en.getMessage.contains("payload"))
  }

  test("sessionizer holds a late out-of-order island instead of emitting it") {
    import graft.streaming.Sessionizer
    import graft.streaming.Sessionizer.{Ev, PendingSessions, SessState}
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    def ts(min: Long) = new java.sql.Timestamp((1440 + min) * 60000L)
    def state(prior: Option[PendingSessions], wmMin: Long, timedOut: Boolean = false) =
      TestGroupState.create[PendingSessions](
        prior.map(Optional.of[PendingSessions]).getOrElse(Optional.empty()),
        GroupStateTimeout.EventTimeTimeout, 0L,
        Optional.of((1440 + wmMin) * 60000L),
        timedOut)

    // event at t=100 opens a session
    val s1 = state(None, 0)
    assert(Sessionizer.step(1, Iterator(Ev(1, ts(100), 1.0)), s1).isEmpty)
    val p1 = s1.get

    // LATE event t=60: >gap before the open session's start. The old code
    // emitted it immediately as a closed single-event session; it must be
    // HELD — a bridging event may still arrive
    val s2 = state(Some(p1), 70)
    assert(Sessionizer.step(1, Iterator(Ev(1, ts(60), 2.0)), s2).isEmpty)
    assert(s2.get.sessions.size == 2)

    // bridging event t=80 merges the islands into ONE session [60,100] —
    // exactly what the batch operator computes on {100, 60, 80}
    val s3 = state(Some(s2.get), 95)
    assert(Sessionizer.step(1, Iterator(Ev(1, ts(80), 3.0)), s3).isEmpty)
    assert(s3.get.sessions == Seq(SessState(ts(60).getTime, ts(100).getTime, 3, 6.0)))

    // watermark passes end+gap: the merged session closes whole
    val s4 = state(Some(s3.get), 200, timedOut = true)
    val out = Sessionizer.step(1, Iterator.empty, s4).toList
    assert(out.map(o => (o.session_start, o.session_end, o.n_events, o.sum_value))
      == List((ts(60), ts(100), 3L, 6.0)))
    assert(s4.isRemoved)
  }

  test("as-of join rejects carry named after the key or time column") {
    import spark.implicits._
    val left = Seq((1L, 10L, "x")).toDF("k", "t", "payload")
    val right = Seq((1L, 5L, 2.0)).toDF("k", "t", "v")
    val e = intercept[IllegalArgumentException] {
      AsOf.join(left, right, key = "k", time = "t", tieBreak = "t", carry = Seq("t"))
    }
    assert(e.getMessage.contains("t"))
  }

  test("as-of join rejects a reserved _side column") {
    import spark.implicits._
    val left = Seq((1L, 10L, 1)).toDF("k", "t", "_side")
    val right = Seq((1L, 5L, 2.0)).toDF("k", "t", "v")
    intercept[IllegalArgumentException] {
      AsOf.join(left, right, key = "k", time = "t", tieBreak = "t", carry = Seq("v"))
    }
  }

  // ---- round-4 ADVICE fixes ----

  test("sessionize runs in batch execution and emits every session") {
    import graft.streaming.Sessionizer
    import graft.streaming.Sessionizer.Ev
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp((1440 + min) * 60000L)
    // user 1: two sessions (gap 31 > 30 min); user 2: one session
    val events = Seq(
      Ev(1, ts(0), 1.0), Ev(1, ts(10), 2.0), Ev(1, ts(41), 3.0),
      Ev(2, ts(5), 4.0)).toDS()
    val got = Sessionizer.sessionize(spark, events).collect()
      .map(s => (s.user_id, s.session_start, s.session_end, s.n_events, s.sum_value))
      .toSet
    assert(got == Set(
      (1L, ts(0), ts(10), 2L, 3.0),
      (1L, ts(41), ts(41), 1L, 3.0),
      (2L, ts(5), ts(5), 1L, 4.0)))
  }

  test("cell scoring fails loudly on a dimension-drifted vector") {
    import spark.implicits._
    import org.apache.spark.sql.GraftShim
    val matrix = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    def scores(df: org.apache.spark.sql.DataFrame) = df.select(GraftShim.column(
      graft.functions.CellScores(GraftShim.expression(col("v")), matrix)))
    // matching dim: fine
    assert(scores(Seq(Seq(3.0, 4.0)).toDF("v")).collect()
      .head.getSeq[Double](0) == Seq(3.0, 4.0))
    // drifted dim: must throw, not truncate to a plausible partial score
    val e = intercept[Exception] {
      scores(Seq(Seq(3.0, 4.0, 5.0)).toDF("v")).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).toSeq
    assert(chain(e).exists(_.getMessage != null) &&
      chain(e).exists(c => Option(c.getMessage).exists(_.contains("quantizer dimensionality"))))
    val er = intercept[Exception] {
      Seq(Seq(1.0, 2.0, 3.0)).toDF("v").select(GraftShim.column(
        graft.functions.CellRank(GraftShim.expression(col("v")), matrix, Array(0, 1))))
        .collect()
    }
    assert(chain(er).exists(c => Option(c.getMessage).exists(_.contains("quantizer dimensionality"))))
  }

  test("cosineTopK keeps an id-colliding corpus row when excludeSelf=false") {
    import graft.api._
    import spark.implicits._
    val corpus = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))).toDF("id", "v")
    // query id 1 is an UNRELATED id space; its nearest corpus vector is
    // corpus id 1 — excludeSelf=false must keep it, default must drop it
    val queries = Seq((1L, Seq(1.0, 0.1))).toDF("qid", "qv")
    val kept = corpus.cosineTopK(queries, "id", "v", "qid", "qv", k = 1,
      excludeSelf = false).collect().map(_.getLong(2)).toSeq
    assert(kept == Seq(1L))
    val dropped = corpus.cosineTopK(queries, "id", "v", "qid", "qv", k = 1)
      .collect().map(_.getLong(2)).toSeq
    assert(dropped == Seq(2L))
  }

  test("sessionized NTZ gaps are timezone-invariant across a DST transition") {
    import spark.implicits._
    import graft.api._
    import java.time.LocalDateTime
    // naive 01:30 -> 03:10 on the US spring-forward date: 100 naive
    // minutes, but only 40 INSTANT minutes in America/New_York (02:00
    // EST jumps to 03:00 EDT). Value-based NTZ gap math must split at
    // gap=60 in EVERY session timezone; the old cast-through-session-tz
    // path saw 40 minutes under New York and merged the sessions.
    val df = Seq(
      (1L, LocalDateTime.parse("2021-03-14T01:30:00"), 1L),
      (1L, LocalDateTime.parse("2021-03-14T03:10:00"), 2L),
      // fall-back ambiguity: 01:30 occurs twice on Nov 7; naive math
      // has one well-defined 75-minute gap
      (2L, LocalDateTime.parse("2021-11-07T00:15:00"), 3L),
      (2L, LocalDateTime.parse("2021-11-07T01:30:00"), 4L))
      .toDF("uid", "t", "eid")
    assert(df.schema("t").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    def sessions(zone: String): Seq[(Long, Long)] = {
      val prev = spark.conf.get("spark.sql.session.timeZone")
      spark.conf.set("spark.sql.session.timeZone", zone)
      try df.sessionized("uid", "t", gapMinutes = 60, tieBreak = Seq("eid"))
        .orderBy("eid").select("eid", "session_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      finally spark.conf.set("spark.sql.session.timeZone", prev)
    }
    val utc = sessions("UTC")
    assert(sessions("America/New_York") == utc,
      "NTZ session gaps moved with the session timezone")
    assert(utc == Seq((1L, 1L), (2L, 2L), (3L, 1L), (4L, 2L)),
      s"value-based gaps wrong: $utc")
  }

  test("sketch merges over an empty/all-null group yield NULL, not a crash") {
    import spark.implicits._
    import graft.functions.SketchOps
    // one group has real sketches, one is entirely NULL — the all-null
    // group must come back as a NULL measure instead of aborting the job
    val sk = Seq(("a", 1L), ("a", 2L)).toDF("g", "v")
      .groupBy($"g")
      .agg(SketchOps.distinctSketch($"v", 12, 1024).as("dsk"),
        SketchOps.quantileSketch($"v", 64).as("qsk"))
      .select($"g", $"dsk", $"qsk")
      .unionByName(Seq("b").toDF("g")
        .select($"g", lit(null).cast("binary").as("dsk"),
          lit(null).cast("binary").as("qsk")))
    val out = sk.groupBy($"g")
      .agg(SketchOps.sketchMerge($"dsk").as("dm"),
        SketchOps.quantileMerge($"qsk").as("qm"))
      .orderBy($"g").collect()
    assert(out.length == 2)
    assert(!out(0).isNullAt(1) && !out(0).isNullAt(2))
    assert(out(1).isNullAt(1) && out(1).isNullAt(2),
      "all-null group should merge to NULL sketches")
    // and the surviving group's merged sketch is still sound
    assert(graft.functions.DistinctSketch
      .estimateBytes(out(0).getAs[Array[Byte]]("dm")) == 2L)
  }

  test("distinct sketch refuses an overflow-prone sparseCap at construction") {
    val e = intercept[IllegalArgumentException] {
      new graft.functions.DistinctSketch(12, (1 << 27) + 1)
    }
    assert(e.getMessage.contains("sparseCap"))
    // the bound itself is accepted
    new graft.functions.DistinctSketch(12, 1 << 27)
  }

  test("appendTagged no-ops on a historically-committed tag before the namespace check") {
    import graft.sources.PointStore
    import spark.implicits._
    val dir = graft.operators.DedupIndex.freshRunDir("graft_advice_tag_", sf)
    val store = new PointStore(spark, dir.getPath,
      keys = Seq("k"), sums = Seq("n"), maxes = Nil)
    val batch = Seq(("a", 1L)).toDF("k", "n")
    store.appendTagged("b0", batch)
    // simulate a store written before the non-numeric-tag contract: a
    // purely numeric tag sits in the ledger from a legal historical commit
    val mf = java.nio.file.Paths.get(dir.getPath, "_MANIFEST")
    java.nio.file.Files.writeString(mf,
      java.nio.file.Files.readString(mf) + "\n#tag:20260814")
    // an at-least-once redelivery of that tag must stay the documented
    // no-op instead of crashing on the (fresh-tag) namespace require
    assert(!store.appendTagged("20260814", batch))
    // fresh numeric tags are still refused loudly
    val e = intercept[IllegalArgumentException] {
      store.appendTagged("123", batch)
    }
    assert(e.getMessage.contains("non-numeric"))
    // including a zero-padded one COLLIDING with a sequence-numbered
    // member (store.append wrote delta-000002 above... an untagged
    // append's namespace): swallowing it as "already committed" would
    // silently drop the batch
    store.append(batch) // creates the next sequence-numbered delta dir
    val seqName = store.members.filter(_.matches("delta-[0-9]+")).head
    val e2 = intercept[IllegalArgumentException] {
      store.appendTagged(seqName.stripPrefix("delta-"), batch)
    }
    assert(e2.getMessage.contains("non-numeric"),
      "a colliding numeric tag must fail loudly, not no-op")
    assert(store.snapshot.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq == Seq(("a", 2L)))
  }

  test("trending_incremental names its exact-regime violation instead of " +
    "surfacing an opaque oracle hash mismatch") {
    import spark.implicits._
    // 900 single-token docs in one lang → each of the three nightly
    // batches (doc_id % 3) holds ~300 distinct tokens ≥ SketchK=256:
    // SpaceSaving eviction would begin, so the fold must abort NAMING
    // the assumption, not lawfully diverge from the shared oracle
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_test_trend_regime")
    graft.sources.PointStore.deleteRec(dir)
    (0L until 900L).map(i => (i, s"tok$i", "xx")).toDF("doc_id", "text", "lang")
      .write.parquet(new java.io.File(dir, "documents.parquet").getPath)
    val e = intercept[Exception] {
      graft.operators.TextOps.trendingIncremental(spark, dir.getPath)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("exact-regime assumption violated")),
      s"expected the named assertion, got: ${messages(e).mkString(" | ")}")
  }
}
