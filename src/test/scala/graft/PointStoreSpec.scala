package graft

import graft.operators.Merge
import graft.sources.PointStore
import org.apache.spark.sql.functions._

/** The LSM point-table store: append/compact/vacuum must be invisible in
  * the snapshot (the additive-merge law through real disk round-trips),
  * recovery must come from the manifest alone, and the merge-on-read
  * plan must stay one shuffle. */
class PointStoreSpec extends SparkSpec {

  private def freshDir(tag: String): String = {
    val d = new java.io.File("/tmp", s"graft_pointstore_spec_$tag")
    PointStore.deleteRec(d)
    d.getPath
  }

  private def oneShot = Merge.finish(
    Merge.merge(Seq(Merge.pointAgg(Tables.lineitem(spark, sf)))))
    .collect().map(_.mkString("|")).toSet

  private def build(dir: String): PointStore = new PointStore(spark, dir,
    keys = Seq("game_mode", "role"),
    sums = Seq("played", "wins", "time_spent_d", "gold_d"),
    maxes = Seq("last_match"))

  test("append/compact/append snapshot equals the one-shot aggregate") {
    val dir = freshDir("law")
    val store = build(dir)
    val li = Tables.lineitem(spark, sf)
    def batch(m: Int) = Merge.pointAgg(li.filter(col("l_orderkey") % 3 === m))
    store.append(batch(0))
    store.append(batch(1))
    store.compact()
    store.append(batch(2))
    assert(Merge.finish(store.snapshot).collect().map(_.mkString("|")).toSet
      == oneShot)
    // base + one post-compaction delta are both live
    assert(store.members.size == 2 && store.members.head.startsWith("base-"))
  }

  test("sketch measures fold through append/compact/changefeed like sums") {
    import graft.functions.SketchOps
    import spark.implicits._
    // (grp, v): 600 distinct values across two groups, batched 4 ways
    val rows = (0 until 600).map(i => (if (i % 2 == 0) "a" else "b", i.toLong))
    def batch(m: Int) = rows.filter(_._2 % 4 == m).toDF("grp", "v")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        SketchOps.distinctSketch(col("v"), 12, 4096).as("sk"))
    val dir = freshDir("sketch")
    val store = new PointStore(spark, dir, keys = Seq("grp"),
      sums = Seq("n"), maxes = Nil, sketches = Seq("sk"))
    store.appendTagged("s0", batch(0))
    store.appendTagged("s1", batch(1))
    val checkpoint = store.version
    store.compact()
    store.appendTagged("s2", batch(2))
    store.appendTagged("s2", batch(2)) // redelivery: no-op
    store.append(batch(3))
    def est(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Long)] =
      df.select(col("grp"), col("n"), SketchOps.sketchEst(col("sk")).as("d"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
    // snapshot: batch boundaries, the compaction, and the redelivery are
    // invisible — counts additive, distinct counts union-exact
    assert(est(store.snapshot) == Map("a" -> ((300L, 300L)), "b" -> ((300L, 300L))))
    // changefeed window since the checkpoint: exactly batches 2+3's fold,
    // sketch measures merging like any other column
    assert(est(store.changesSince(checkpoint)) ==
      Map("a" -> ((150L, 150L)), "b" -> ((150L, 150L))))
    // a reopened handle reads the same state from the manifest alone
    val reopened = new PointStore(spark, dir, keys = Seq("grp"),
      sums = Seq("n"), maxes = Nil, sketches = Seq("sk"))
    assert(est(reopened.snapshot) == est(store.snapshot))
  }

  test("topk measures fold through append/compact/changefeed like sums") {
    import graft.functions.SketchOps
    import spark.implicits._
    // skewed token stream across two groups, batched 4 ways; k=32 is the
    // exact regime (8 distinct tokens), so every folded count is exact
    val rows = (0 until 600).map { i =>
      (if (i % 2 == 0) "a" else "b", s"t${i % 16 / 2}", i.toLong) }
    def batch(m: Int) = rows.filter(_._3 % 4 == m).toDF("grp", "token", "i")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        SketchOps.topkSketch(col("token"), 32).as("tk"))
    def open(dir: String) = new PointStore(spark, dir, keys = Seq("grp"),
      sums = Seq("n"), maxes = Nil, topks = Seq("tk"))
    val dir = freshDir("topk")
    val store = open(dir)
    store.appendTagged("t0", batch(0))
    store.appendTagged("t1", batch(1))
    val checkpoint = store.version
    store.compact()
    store.appendTagged("t2", batch(2))
    store.appendTagged("t2", batch(2)) // redelivery: no-op
    store.append(batch(3))
    def top(df: org.apache.spark.sql.DataFrame): Map[String, Seq[(String, Long, Long)]] =
      df.select(col("grp"), SketchOps.topkRead(col("tk")).as("e"))
        .collect().map(r => r.getString(0) ->
          r.getSeq[org.apache.spark.sql.Row](1)
            .map(e => (e.getString(0), e.getLong(1), e.getLong(2))).toSeq)
        .toMap
    // each group saw tokens t0..t7, 75 hits over 2 batches... exact
    // counts: group "a" gets even i → tokens t0..t7 each 600/2/8 = 37 or 38
    // — assert against a directly computed truth instead
    val truth = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.groupBy(_._2).map { case (t, ts) => (t, ts.size.toLong, 0L) }
        .toSeq.sortBy { case (t, c, _) => (-c, t) }
    }
    val snap = top(store.snapshot)
    assert(snap == truth,
      s"folded ranking diverged from the one-shot truth: $snap vs $truth")
    // changefeed window: exactly batches 2+3's fold, topk merging like
    // any other measure
    val cfTruth = rows.filter(_._3 % 4 >= 2).groupBy(_._1).map { case (g, rs) =>
      g -> rs.groupBy(_._2).map { case (t, ts) => (t, ts.size.toLong, 0L) }
        .toSeq.sortBy { case (t, c, _) => (-c, t) }
    }
    assert(top(store.changesSince(checkpoint)) == cfTruth)
    // a reopened handle reads the same state from the manifest alone
    assert(top(open(dir).snapshot) == snap)
    // mismatched k refuses to fold rather than yield boundless counts
    val e = intercept[Exception] {
      store.append(rows.take(4).toDF("grp", "token", "i")
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n"),
          SketchOps.topkSketch(col("token"), 8).as("tk")))
      store.snapshot.collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + chain(t.getCause)
    assert(chain(e).contains("different k"), chain(e))
  }

  test("a reopened store recovers the snapshot from the manifest alone") {
    val dir = freshDir("reopen")
    val store = build(dir)
    val li = Tables.lineitem(spark, sf)
    store.append(Merge.pointAgg(li.filter(col("l_orderkey") % 2 === 0)))
    store.append(Merge.pointAgg(li.filter(col("l_orderkey") % 2 =!= 0)))
    val reopened = build(dir)
    assert(Merge.finish(reopened.snapshot).collect().map(_.mkString("|")).toSet
      == oneShot)
  }

  test("vacuum reclaims compacted-away deltas without changing the snapshot") {
    val dir = freshDir("vacuum")
    val store = build(dir)
    val li = Tables.lineitem(spark, sf)
    store.append(Merge.pointAgg(li.filter(col("l_orderkey") % 2 === 0)))
    store.append(Merge.pointAgg(li.filter(col("l_orderkey") % 2 =!= 0)))
    store.compact()
    store.vacuum()
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.toSeq == store.members) // only the manifest's base survives
    assert(Merge.finish(store.snapshot).collect().map(_.mkString("|")).toSet
      == oneShot)
  }

  test("merge-on-read snapshot is one shuffle over parallel member scans") {
    val dir = freshDir("plan")
    val store = build(dir)
    val li = Tables.lineitem(spark, sf)
    (0 to 2).foreach(m =>
      store.append(Merge.pointAgg(li.filter(col("l_orderkey") % 3 === m))))
    val plan = store.snapshot.queryExecution.executedPlan.toString
    val shuffles = "ShuffleExchange|Exchange hashpartitioning".r
      .findAllIn(plan).size
    assert(shuffles == 1, s"expected one exchange, got $shuffles in:\n$plan")
  }

  test("empty store fails loudly") {
    val dir = freshDir("empty")
    intercept[IllegalArgumentException](build(dir).snapshot)
  }

  test("changefeed: O(changes) reads survive compaction; vacuum bounds the horizon") {
    val dir = freshDir("cdc")
    val store = build(dir)
    val li = Tables.lineitem(spark, sf)
    def batch(m: Int) = Merge.pointAgg(li.filter(col("l_orderkey") % 3 === m))
    assert(store.version == 0)
    store.append(batch(0))
    store.append(batch(1))
    assert(store.version == 2)
    store.compact()
    assert(store.version == 2) // compaction reorganizes, never a content change
    val checkpoint = store.version
    store.append(batch(2))
    assert(store.version == 3)
    // changes since the checkpoint = exactly batch 2, across the compaction
    val changes = Merge.finish(store.changesSince(checkpoint))
      .collect().map(_.mkString("|")).toSet
    val direct = Merge.finish(Merge.merge(Seq(batch(2))))
      .collect().map(_.mkString("|")).toSet
    assert(changes == direct && changes.nonEmpty)
    // caught-up consumer sees an empty (schema-stable) feed
    assert(store.changesSince(store.version).count() == 0)
    // bounded window: a concurrent commit past `until` stays out
    assert(Merge.finish(store.changesSince(checkpoint, 3))
      .collect().map(_.mkString("|")).toSet
      == Merge.finish(store.changesSince(checkpoint))
        .collect().map(_.mkString("|")).toSet)
    assert(store.changesSince(0, 2).count() > 0) // v1+v2 only
    assert(Merge.finish(store.changesSince(0, 2))
      .collect().map(_.mkString("|")).toSet
      != Merge.finish(store.changesSince(0)).collect().map(_.mkString("|")).toSet)
    // an empty store has no schema to serve and says so
    intercept[IllegalArgumentException](
      build(freshDir("cdc_empty")).changesSince(0))
    // a reopened store serves the same feed from the manifest alone
    assert(Merge.finish(build(dir).changesSince(checkpoint))
      .collect().map(_.mkString("|")).toSet == direct)
    // from version 0 the feed replays everything — including the two
    // deltas compaction folded away (their dirs are retained until vacuum)
    assert(Merge.finish(store.changesSince(0L))
      .collect().map(_.mkString("|")).toSet == oneShot)
    // retention: keep 1 version readable, prune the rest
    store.vacuum(retainVersions = 1)
    assert(store.vacuumedThrough == 2)
    assert(Merge.finish(store.changesSince(2))
      .collect().map(_.mkString("|")).toSet == direct)
    intercept[IllegalArgumentException](store.changesSince(1))
    // full vacuum: feed fully pruned, snapshot intact, version still counts
    store.vacuum()
    intercept[IllegalArgumentException](store.changesSince(2))
    assert(store.version == 3)
    assert(Merge.finish(store.snapshot).collect().map(_.mkString("|")).toSet
      == oneShot)
    store.append(batch(0)) // versions keep ascending past the pruned log
    assert(store.version == 4)
  }

  test("follower falls behind the retention horizon, fails loudly, resyncs") {
    import graft.sources.ChangefeedFollower
    val dir = freshDir("follow")
    new java.io.File(dir).mkdirs()
    val up = new graft.sources.PointStore(spark, s"$dir/up",
      keys = Seq("game_mode", "role"),
      sums = Seq("played", "wins", "time_spent_d", "gold_d"),
      maxes = Seq("last_match"))
    def rollup(c: org.apache.spark.sql.DataFrame) =
      c.groupBy(col("game_mode")).agg(
        sum(col("played")).as("played"), sum(col("wins")).as("wins"),
        sum(col("time_spent_d")).as("time_spent_d"),
        sum(col("gold_d")).as("gold_d"), max(col("last_match")).as("last_match"))
    val f = new ChangefeedFollower(spark, up, s"$dir/down", rollup,
      Seq("game_mode"), Seq("played", "wins", "time_spent_d", "gold_d"),
      Seq("last_match"))
    val li = Tables.lineitem(spark, sf)
    def batch(m: Int) = Merge.pointAgg(li.filter(col("l_orderkey") % 2 === m))
    up.append(batch(0))
    assert(f.poll() == 1 && f.checkpoint == 1)
    // upstream moves on and vacuums the follower's window away
    up.append(batch(1))
    up.compact()
    up.vacuum() // retains nothing: horizon = 2 > checkpoint 1
    intercept[IllegalArgumentException](f.poll())
    // a caller's own tag on the derived store must not confuse the
    // checkpoint parser (it is NOT a v<N> checkpoint tag)
    f.store.appendTagged("vip-batch", rollup(batch(0)).limit(0))
    assert(f.checkpoint == 1)
    assert(f.resync() == 2 && f.checkpoint == 2)
    val expectRollup = rollup(Merge.pointAgg(li))
      .collect().map(_.mkString("|")).toSet
    assert(f.result.get.collect().map(_.mkString("|")).toSet == expectRollup)
    // resync replaced content atomically: single fresh base in the
    // manifest, pre-resync dirs still on disk for in-flight readers
    assert(f.store.members.size == 1 && f.store.members.head.startsWith("base-"))
    assert(new java.io.File(s"$dir/down").listFiles().count(_.isDirectory)
      > f.store.members.size)
    // ...and the derived store's own feed horizon advanced (cascading
    // resync contract for ITS consumers)
    intercept[IllegalArgumentException](f.store.changesSince(0))
    // polling stays a no-op until new upstream content arrives
    assert(f.poll() == 2)
    assert(f.result.get.collect().map(_.mkString("|")).toSet == expectRollup)
  }

  test("additive schema evolution: a store grows a measure without " +
    "rewriting history; time travel reads each version's own schema") {
    import spark.implicits._
    val dir = freshDir("evolve")
    def narrow() = new PointStore(spark, dir,
      keys = Seq("k"), sums = Seq("n"), maxes = Nil)
    def wide() = new PointStore(spark, dir,
      keys = Seq("k"), sums = Seq("n", "m"), maxes = Nil)

    narrow().appendTagged("b0", Seq(("a", 1L), ("b", 2L)).toDF("k", "n"))
    narrow().appendTagged("b1", Seq(("a", 10L)).toDF("k", "n"))
    // the table grows measure m: same directory, wider handle
    wide().appendTagged("b2", Seq(("a", 100L, 5L), ("c", 1L, 7L))
      .toDF("k", "n", "m"))

    // current snapshot: n folds across the epoch boundary; m is NULL for
    // keys no post-evolution delta covered (never a crash, never a zero)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1),
        if (r.length < 3 || r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(rows(wide().snapshot.select("k", "n", "m")) == Set(
      ("a", 111L, Some(5L)), ("b", 2L, None), ("c", 1L, Some(7L))))
    // a pre-evolution reader (old handle) still reads its own schema
    assert(rows(narrow().snapshot.select("k", "n")) == Set(
      ("a", 111L, None), ("b", 2L, None), ("c", 1L, None)))

    // TIME TRAVEL: version 2 predates m — its snapshot has no m column
    val at2 = wide().snapshotAt(2)
    assert(!at2.columns.contains("m"))
    assert(rows(at2.select("k", "n")) == Set(("a", 11L, None), ("b", 2L, None)))
    // version 3 is the present
    assert(rows(wide().snapshotAt(3).select("k", "n", "m"))
      == rows(wide().snapshot.select("k", "n", "m")))
    // compaction folds the evolved schema and history stays readable
    wide().compact()
    assert(rows(wide().snapshot.select("k", "n", "m")) == Set(
      ("a", 111L, Some(5L)), ("b", 2L, None), ("c", 1L, Some(7L))))
    assert(rows(wide().snapshotAt(2).select("k", "n"))
      == Set(("a", 11L, None), ("b", 2L, None)))
    // the future refuses loudly
    intercept[IllegalArgumentException] { wide().snapshotAt(9) }
    // a vacuum whose retention covers the WHOLE log keeps history
    // readable (space reclaim without ending time travel)...
    wide().vacuum(retainVersions = 99)
    assert(rows(wide().snapshotAt(2).select("k", "n"))
      == Set(("a", 11L, None), ("b", 2L, None)))
    // ...but ANY pruning refuses historical reads outright — a partial
    // change-window fold would silently miss pre-horizon content
    wide().vacuum() // retains nothing: horizon = current version
    intercept[IllegalArgumentException] { wide().snapshotAt(2) }
    // writes stay strict: a partial missing a declared measure is loud
    intercept[Exception] {
      wide().appendTagged("b3", Seq(("a", 1L)).toDF("k", "n"))
    }
  }

  test("self-describing manifest: open() needs no configuration; " +
    "cross-class and key drift refuse at construction") {
    import graft.functions.SketchOps
    import spark.implicits._
    val dir = freshDir("schema")
    val store = new PointStore(spark, dir, keys = Seq("k"),
      sums = Seq("n"), maxes = Nil, sketches = Seq("sk"))
    store.appendTagged("b0", Seq(("a", 1L, 10L), ("b", 2L, 20L))
      .toDF("k", "n", "v")
      .groupBy("k").agg(sum(col("n")).as("n"),
        SketchOps.distinctSketch(col("v"), 12, 100).as("sk")))

    // zero-configuration open: layout from the manifest record
    val opened = graft.sources.PointStore.open(spark, dir)
    assert(opened.snapshot
      .select(col("k"), col("n"), SketchOps.sketchEst(col("sk")).as("d"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      == Set(("a", 1L, 1L), ("b", 2L, 1L)))

    // evolution is recorded: a wider handle appends, open() sees m...
    new PointStore(spark, dir, keys = Seq("k"), sums = Seq("n", "m"),
      maxes = Nil, sketches = Seq("sk"))
      .appendTagged("b1", Seq(("a", 5L, 7L, 30L)).toDF("k", "n", "m", "v")
        .groupBy("k").agg(sum(col("n")).as("n"), sum(col("m")).as("m"),
          SketchOps.distinctSketch(col("v"), 12, 100).as("sk")))
    assert(graft.sources.PointStore.open(spark, dir)
      .snapshot.columns.contains("m"))
    // ...and a NARROW handle's later commit must not erase it
    new PointStore(spark, dir, keys = Seq("k"), sums = Seq("n"),
      maxes = Nil, sketches = Seq("sk"))
      .appendTagged("b2", Seq(("c", 9L, 40L)).toDF("k", "n", "v")
        .groupBy("k").agg(sum(col("n")).as("n"),
          SketchOps.distinctSketch(col("v"), 12, 100).as("sk")))
    assert(graft.sources.PointStore.open(spark, dir)
      .snapshot.columns.contains("m"))

    // a column cannot move between merge classes (sums→maxes would
    // silently fold wrong), and the key tuple cannot change
    val e = intercept[IllegalArgumentException] {
      new PointStore(spark, dir, keys = Seq("k"), sums = Nil,
        maxes = Seq("n"))
    }
    assert(e.getMessage.contains("cross-class"), e.getMessage)
    intercept[IllegalArgumentException] {
      new PointStore(spark, dir, keys = Seq("z"), sums = Seq("n"), maxes = Nil)
    }
    // an empty directory has no store to open
    intercept[IllegalArgumentException] {
      graft.sources.PointStore.open(spark, freshDir("schema_none"))
    }
  }

  test("a follower derives a sketch-measured rollup at O(changes) per poll") {
    import graft.functions.SketchOps
    import graft.sources.ChangefeedFollower
    import spark.implicits._
    // upstream: the per-(night, lang) health-table shape — counts plus
    // distinct/quantile/topk sketch measures; downstream: the lang-grain
    // rollup a dashboard reads, maintained by changefeed polls. The
    // sketch merges are state-exact homomorphisms, so the chained
    // O(changes) folds must land on the one-shot answer exactly.
    val rows = (0 until 600).map { i =>
      (s"n${i % 3}", if (i % 2 == 0) "en" else "de", (i % 97).toLong) }
    def partial(night: String) = rows.filter(_._1 == night)
      .toDF("night", "lang", "v")
      .groupBy(col("night"), col("lang"))
      .agg(count(lit(1)).as("n"),
        SketchOps.distinctSketch(col("v"), 12, 4096).as("dsk"),
        SketchOps.quantileSketch(col("v"), 1024).as("qsk"),
        SketchOps.topkSketch(pmod(col("v"), lit(5L)).cast("string"), 16).as("tk"))
    val dir = freshDir("skfollow")
    val upstream = new PointStore(spark, s"$dir/up",
      keys = Seq("night", "lang"), sums = Seq("n"), maxes = Nil,
      sketches = Seq("dsk"), quantiles = Seq("qsk"), topks = Seq("tk"))
    def rollup(changes: org.apache.spark.sql.DataFrame) =
      changes.groupBy(col("lang")).agg(
        sum(col("n")).as("n"),
        SketchOps.sketchMerge(col("dsk")).as("dsk"),
        SketchOps.quantileMerge(col("qsk")).as("qsk"),
        SketchOps.topkMerge(col("tk")).as("tk"))
    def follow() = new ChangefeedFollower(spark, upstream, s"$dir/down",
      rollup, keys = Seq("lang"), sums = Seq("n"), maxes = Nil,
      sketches = Seq("dsk"), quantiles = Seq("qsk"), topks = Seq("tk"))

    upstream.appendTagged("n0", partial("n0"))
    upstream.appendTagged("n1", partial("n1"))
    follow().poll()           // mid-stream fold
    upstream.compact()        // invisible to the feed
    upstream.appendTagged("n2", partial("n2"))
    follow().poll()           // tail fold (a RESTARTED wrapper)
    follow().poll()           // caught up: no-op

    val got = follow().result.get
      .select(col("lang"), col("n"),
        SketchOps.sketchEst(col("dsk")).as("d"),
        SketchOps.quantileAt(col("qsk"), 0.5).as("m"),
        SketchOps.topkRead(col("tk")).getItem(0).getField("item").as("top"))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    val want = rows.groupBy(_._2).map { case (lang, rs) =>
      val vs = rs.map(_._3)
      val sorted = vs.sorted
      val med = sorted(math.max(1, math.ceil(0.5 * sorted.size).toInt) - 1)
      val top = vs.groupBy(_ % 5).map { case (k, g) => (k.toString, g.size) }
        .toSeq.sortBy { case (k, c) => (-c, k) }.head._1
      lang -> ((vs.size.toLong, vs.distinct.size.toLong, med, top))
    }
    assert(got == want, s"chained sketch rollup diverged: $got vs $want")
  }

  test("clustered compaction z-orders the base: keyed slices prune files") {
    val dir = freshDir("zcompact")
    // numeric 2-key store with enough key-tuple cardinality to spread files
    val store = new PointStore(spark, dir,
      keys = Seq("k1", "k2"), sums = Seq("v"), maxes = Seq.empty)
    val partial = Tables.lineitem(spark, sf)
      .groupBy((col("l_orderkey") % 64).as("k1"), (col("l_partkey") % 64).as("k2"))
      .agg(sum(col("l_quantity").cast("long")).as("v"))
    store.append(partial.filter(col("k1") % 2 === 0))
    store.append(partial.filter(col("k1") % 2 =!= 0))
    val before = store.snapshot.collect().map(_.mkString("|")).toSet
    store.compact(clusterFiles = 8)
    // layout only: content identical, one base member
    assert(store.snapshot.collect().map(_.mkString("|")).toSet == before)
    assert(store.members.size == 1 && store.members.head.startsWith("base-"))

    // per-file bounding boxes of the base — the stats a scan skips on
    def stats(c: String): Array[(Long, Long)] =
      spark.read.parquet(s"$dir/${store.members.head}")
        .withColumn("f", input_file_name())
        .groupBy(col("f"))
        .agg(min(col(c)).cast("long").as("lo"), max(col(c)).cast("long").as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
    def hits(c: String, lo: Long, hi: Long): Int =
      stats(c).count { case (flo, fhi) => fhi >= lo && flo <= hi }
    val files = stats("k1").length
    assert(files >= 4, s"want >=4 base files, got $files")
    // a narrow slice on EITHER key touches at most half the files —
    // the multi-dim pruning a single-key sort cannot give
    assert(hits("k1", 0, 7) <= files / 2, s"k1 slice hits ${hits("k1", 0, 7)}/$files")
    assert(hits("k2", 0, 7) <= files / 2, s"k2 slice hits ${hits("k2", 0, 7)}/$files")
  }

  test("clustered compaction works on string keys (7-byte prefix quantize)") {
    val dir = freshDir("zcompact_str")
    val store = build(dir)
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_linestatus")
    store.append(Merge.pointAgg(li.filter(col("l_orderkey") % 2 === 0)))
    store.append(Merge.pointAgg(li.filter(col("l_orderkey") % 2 =!= 0)))
    store.compact(clusterFiles = 2)
    // content unchanged through the string-keyed z-rewrite
    assert(Merge.finish(store.snapshot).collect().map(_.mkString("|")).toSet
      == oneShot)
  }

  test("appendTagged refuses numeric tags — they collide with the " +
    "sequence-numbered delta namespace and would vanish from the ledger") {
    val store = build(freshDir("numtag"))
    val e = intercept[IllegalArgumentException] {
      store.appendTagged("20260814", Merge.pointAgg(Tables.lineitem(spark, sf)))
    }
    assert(e.getMessage.contains("non-numeric"), e.getMessage)
  }

  test("appendTagged idempotence survives compaction and reopen (ADVICE r5)") {
    val dir = freshDir("tags")
    val store = build(dir)
    val li = Tables.lineitem(spark, sf)
    def batch(m: Int) = Merge.pointAgg(li.filter(col("l_orderkey") % 2 === m))
    assert(store.appendTagged("b0", batch(0)))
    assert(!store.appendTagged("b0", batch(0))) // live-delta redelivery
    assert(store.appendTagged("b1", batch(1)))
    store.compact()
    // post-compaction redelivery: the tag ledger, not the member list,
    // must block the re-fold — this double-counted before the fix
    assert(!store.appendTagged("b0", batch(0)))
    assert(!store.appendTagged("b1", batch(1)))
    val reopened = build(dir) // ledger is manifest state, survives reopen
    assert(!reopened.appendTagged("b0", batch(0)))
    assert(reopened.consumedTags == Set("b0", "b1"))
    assert(Merge.finish(reopened.snapshot).collect().map(_.mkString("|")).toSet
      == oneShot)
    // a second compact keeps the ledger
    reopened.append(batch(0)); reopened.compact()
    assert(!reopened.appendTagged("b1", batch(1)))
  }

  test("a written member's memoized schema is the one its footer reads " +
      "back, for every measure class") {
    import graft.functions.SketchOps
    import graft.sources.StoreFs
    import spark.implicits._
    val rows = (0 until 200).map(i =>
      (if (i % 2 == 0) "en" else "de", i.toLong, BigDecimal(i) / 4))
    def partial(m: Int) = rows.filter(_._2 % 2 == m).toDF("lang", "v", "q")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("q").cast("decimal(18,2)")).as("qs"),
        max(col("v")).as("mx"), min(col("v")).as("mn"),
        SketchOps.distinctSketch(col("v"), 12, 4096).as("dsk"),
        SketchOps.quantileSketch(col("v"), 1024).as("qsk"),
        SketchOps.topkSketch(pmod(col("v"), lit(5L)).cast("string"), 16).as("tk"))
    val dir = freshDir("memo")
    val store = new PointStore(spark, dir, keys = Seq("lang"),
      sums = Seq("n", "qs"), maxes = Seq("mx"), sketches = Seq("dsk"),
      quantiles = Seq("qsk"), mins = Seq("mn"), topks = Seq("tk"))
    store.appendTagged("t0", partial(0))
    store.appendTagged("t1", partial(1))
    store.compact()
    store.appendTagged("t2", partial(0).withColumn("n", col("n") + 1))
    val sfs = StoreFs(spark, dir)
    assert(store.members.size == 2)
    store.members.map(sfs.pathOf).foreach { p =>
      val memo = PointStore.memberSchemaMemo.get(p)
      assert(memo != null, s"$p was not memoized at write")
      assert(memo == spark.read.parquet(p).schema, p)
    }
    assert(store.snapshotSchema == store.snapshot.schema)
  }

  test("type-widened decimal members read at the wider type by default") {
    import spark.implicits._
    val dir = freshDir("widened")
    val store = new PointStore(spark, dir, keys = Seq("k"), sums = Seq("d"),
      maxes = Nil)
    def part(k: String, t: String) = Seq((k, BigDecimal("1.50"))).toDF("k", "d")
      .withColumn("d", col("d").cast(t))
    // the sums settle at decimal(30,2) and decimal(38,2)
    store.appendTagged("t0", part("a", "decimal(20,2)"))
    store.appendTagged("t1", part("b", "decimal(38,2)"))
    store.appendTagged("t2", part("a", "decimal(20,2)"))
    assert(store.snapshotSchema == store.snapshot.schema)
    assert(store.snapshotSchema("d").dataType.sql == "DECIMAL(38,2)")
    val vectorized = "spark.sql.parquet.enableVectorizedReader"
    val before = spark.conf.get(vectorized)
    for (on <- Seq("true", "false")) {
      spark.conf.set(vectorized, on)
      try assert(store.snapshot.collect().map(r =>
          r.getString(0) -> r.getDecimal(1).toPlainString).toMap ==
        Map("a" -> "3.00", "b" -> "1.50"), s"vectorized reader $on")
      finally spark.conf.set(vectorized, before)
    }
  }

  test("a compaction between decimal(20,2) appends reads back the one-shot sum") {
    import spark.implicits._
    val dir = freshDir("deccompact")
    val store = new PointStore(spark, dir, keys = Seq("k"), sums = Seq("d"),
      maxes = Nil)
    val batches = Seq(Seq("a" -> "1.25", "b" -> "2.50"), Seq("a" -> "0.75"),
      Seq("b" -> "10.05", "c" -> "3.10"))
    def frame(rows: Seq[(String, String)]) = rows.toDF("k", "d")
      .withColumn("d", col("d").cast("decimal(20,2)"))
    def decimals(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      r.getString(0) -> r.getDecimal(1).toPlainString).toMap
    // delta-t0 and delta-t1 hold decimal(30,2); the compacted base re-sums
    // them to decimal(38,2), beside delta-t2 at decimal(30,2) again
    store.appendTagged("t0", frame(batches(0)))
    store.appendTagged("t1", frame(batches(1)))
    store.compact()
    store.appendTagged("t2", frame(batches(2)))
    assert(decimals(store.snapshot) ==
      decimals(frame(batches.flatten).groupBy("k").agg(sum("d"))))
  }

  test("a member type change the parquet reader cannot widen fails loudly") {
    import spark.implicits._
    val dir = freshDir("unwidenable")
    val store = new PointStore(spark, dir, keys = Seq("k"), sums = Nil,
      maxes = Seq("n"))
    // int then long widens to long...
    store.appendTagged("t0", Seq(("a", 1)).toDF("k", "n"))
    store.appendTagged("t1", Seq(("b", 5L)).toDF("k", "n"))
    assert(store.snapshot.schema("n").dataType.sql == "BIGINT")
    assert(store.snapshot.collect().map(r => r.getString(0) -> r.getLong(1))
      .toMap == Map("a" -> 1L, "b" -> 5L))
    // ...but no reader turns a string into a long
    store.appendTagged("t2", Seq(("c", "x")).toDF("k", "n"))
    val e = intercept[IllegalArgumentException](store.snapshot)
    assert(e.getMessage.contains("member 'delta-t2'") &&
      e.getMessage.contains("column 'n' as STRING") &&
      e.getMessage.contains("earlier member holds BIGINT"), e.getMessage)
  }

  test("ledger-only empty delta: version bumps, tag consumed, no member, " +
    "changefeed windows and snapshot unchanged (r20)") {
    val dir = freshDir("emptydelta")
    val store = build(dir)
    val li = Tables.lineitem(spark, sf)
    def batch(m: Int) = Merge.pointAgg(li.filter(col("l_orderkey") % 2 === m))
    assert(store.appendTagged("b0", batch(0)))
    val v0 = store.version
    val membersBefore = store.members
    val snapBefore = Merge.finish(store.snapshot)
      .collect().map(_.mkString("|")).toSet
    // the empty commit: version axis moves, ledger consumes, storage doesn't
    assert(store.appendTaggedEmpty("b1"))
    assert(store.version == v0 + 1)
    assert(store.members == membersBefore)
    assert(store.consumedTags == Set("b0", "b1"))
    assert(!store.appendTaggedEmpty("b1")) // redelivery: no-op
    assert(!store.appendTagged("b1", batch(1))) // cross-path redelivery too
    // reads: the empty window holds no rows; the snapshot is untouched
    assert(store.changesSince(v0).isEmpty)
    assert(store.changesSince(0).count() > 0) // mixed window: real delta rows
    assert(Merge.finish(store.snapshot).collect().map(_.mkString("|")).toSet
      == snapBefore)
    assert(Merge.finish(store.snapshotAt(v0)).collect().map(_.mkString("|"))
      .toSet == snapBefore) // time travel across the empty version
    // appendTagged of an all-empty partial flips to the SAME ledger-only
    // commit (writeDelta reads the written footers driver-side): version
    // bumps, tag consumed, no member dir joins the snapshot
    assert(store.appendTagged("bEmpty",
      batch(0).filter(col("game_mode") === "no-such-mode")))
    assert(store.version == v0 + 2)
    assert(store.members == membersBefore)
    assert(store.consumedTags == Set("b0", "b1", "bEmpty"))
    assert(!new java.io.File(dir, "delta-bEmpty").exists)
    assert(store.changesSince(v0 + 1).isEmpty)
    // the ledger survives compaction and reopen like any tag
    store.appendTagged("b2", batch(1))
    store.compact()
    val reopened = build(dir)
    assert(!reopened.appendTaggedEmpty("b1"))
    assert(reopened.consumedTags == Set("b0", "b1", "b2", "bEmpty"))
    assert(Merge.finish(reopened.snapshot).collect().map(_.mkString("|")).toSet
      == oneShot)
    // vacuum: the empty log entry prunes like any other, no stray dirs
    reopened.vacuum()
    assert(Merge.finish(reopened.snapshot).collect().map(_.mkString("|")).toSet
      == oneShot)
  }
}
