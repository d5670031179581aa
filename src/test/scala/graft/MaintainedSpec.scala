package graft

import org.apache.spark.sql.functions._
import graft.streaming.Maintained
import graft.sources.PointStore

/** Library-face coverage of the wire-maintained verbs (the served faces
  * are ServerSpec's; the full lifecycle is the registered
  * `report_takedown` oracle): the config pin's roundtrip and the
  * takedown's crash-heal contract, which no happy path reaches. */
class MaintainedSpec extends SparkSpec {

  test("configOf / foldOfConfig roundtrip every report type's " +
      "configuration and refuse inapplicable parameters") {
    for (cfg <- Seq(
        Maintained.configOf("funnel"),
        Maintained.configOf("funnel", windowMs = Some(60000L),
          steps = Some(Seq("a", "b"))),
        Maintained.configOf("funnel_deepest", windowMs = Some(86400000L)),
        Maintained.configOf("funnel_deepest_segmented",
          windowMs = Some(86400000L)),
        Maintained.configOf("retention", period = Some("week")),
        Maintained.configOf("retention_rolling", period = Some("day")),
        Maintained.configOf("paths", gapMs = Some(1800000L)),
        Maintained.configOf("latency"),
        Maintained.configOf("latency_segmented"),
        Maintained.configOf("funnel_segmented2"),
        Maintained.configOf("retention_segmented2", period = Some("day")),
        Maintained.configOf("paths_segmented2", gapMs = Some(1800000L)),
        Maintained.configOf("latency_segmented2")))
      Maintained.foldOfConfig(spark, cfg) // parses and validates
    intercept[IllegalArgumentException](
      Maintained.foldOfConfig(spark, "type=nope"))
    intercept[IllegalArgumentException](
      Maintained.foldOfConfig(spark, "type=retention;gap_ms=5"))
    intercept[IllegalArgumentException]( // anchored: window required
      Maintained.foldOfConfig(spark, "type=funnel_deepest_segmented"))
    intercept[IllegalArgumentException](
      Maintained.foldOfConfig(spark, "window_ms=5"))
  }

  test("takedownUsers heals a crash between purge and flip — the " +
      ".pending marker forces the rebuild even when nothing is left " +
      "to purge") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tkdheal")
      .resolve("report").toFile
    val cfg = Maintained.configOf("funnel")
    def ev(u: Long, t: String, id: Long, typ: String) =
      (u, java.sql.Timestamp.valueOf(t), id, typ)
    val cols = Seq("user_id", "ts", "event_id", "event_type")
    Maintained.ingestDrop(spark, dir, cfg, "n1", Seq(
      ev(1, "2024-01-01 10:00:00.000001", 1, "view"),
      ev(2, "2024-01-01 11:00:00.000002", 2, "view")).toDF(cols: _*))
    Maintained.ingestDrop(spark, dir, cfg, "s1",
      Seq(ev(-1, "2024-01-05 00:00:00.0", 0, "_watermark")).toDF(cols: _*))
    def step1Users: Long = Maintained
      .funnelReportFrom(spark, PointStore.open(spark, dir.getPath))
      .filter(col("step") === 1).head.getLong(2)
    assert(step1Users == 2L)
    // simulate the crash: the purge of u2 completed (the drop rewritten
    // by hand, exactly what the first attempt would have left) and the
    // .pending marker was laid, but the flip never ran — the store
    // still reports u2
    val n1 = new java.io.File(dir, "_stream/drops/n1.parquet")
    val stage = java.nio.file.Files.createTempDirectory("graft_tkdstage")
    spark.read.parquet(n1.getPath).filter(col("user_id") =!= 2)
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    java.nio.file.Files.move(
      stage.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .head.toPath,
      n1.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val td = new java.io.File(dir, "_stream/takedowns"); td.mkdirs()
    java.nio.file.Files.createFile(new java.io.File(td, "r1.pending").toPath)
    assert(step1Users == 2L) // the flip never happened
    // the redelivered request finds nothing left to purge — the pending
    // marker alone forces the rebuild
    val r = Maintained.takedownUsers(spark, dir, Seq(2L).toDF("user_id"), "r1")
    assert(r.committed && r.removed == 0L, r.toString)
    assert(step1Users == 1L)
    // the committed marker now closes the tag: a redelivery is a no-op
    assert(!Maintained.takedownUsers(spark, dir,
      Seq(2L).toDF("user_id"), "r1").committed)
  }

  test("takedownUsers erases HELD state — a takedown BETWEEN ingests " +
      "(roster events inside the watermark slack) leaves the report " +
      "≡ never-ingested, without losing an innocent user's held reach") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tkdheld")
      .resolve("report").toFile
    val cfg = Maintained.configOf("funnel")
    def ev(u: Long, t: String, id: Long, typ: String) =
      (u, java.sql.Timestamp.valueOf(t), id, typ)
    val cols = Seq("user_id", "ts", "event_id", "event_type")
    // u1 far below the drop's max ts (finalized by n1's own watermark);
    // u3 ninety seconds below the max (finalized too — but HELD by the
    // purged drops' LOWER max, the reach a naive rebuild loses); u2 (the
    // roster) holds the max ts with a view+click pair inside the slack
    // — the held state that must never re-enter
    Maintained.ingestDrop(spark, dir, cfg, "n1", Seq(
      ev(1, "2024-01-01 10:00:00.0", 1, "view"),
      ev(3, "2024-01-01 11:58:00.0", 2, "view"),
      ev(2, "2024-01-01 12:00:00.0", 3, "view"),
      ev(2, "2024-01-01 12:00:01.0", 4, "click")).toDF(cols: _*))
    def users: Map[Int, Long] = Maintained
      .funnelReportFrom(spark, PointStore.open(spark, dir.getPath))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    // n1's watermark (max - 1 min) finalized u1 and u3; u2's pair is held
    assert(users == Map(1 -> 2L, 2 -> 0L, 3 -> 0L), users.toString)
    val td = Maintained.takedownUsers(spark, dir,
      Seq(2L).toDF("user_id"), "r1")
    assert(td.committed && td.removed == 2L, td.toString)
    // the sentinel advances the watermark past every hold: were u2's
    // held pair still able to emit, step 2 would read 1; were u3's
    // reach lost with the rebuild's checkpoint, step 1 would read 1
    Maintained.ingestDrop(spark, dir, cfg, "s1",
      Seq(ev(-1, "2024-01-09 00:00:00.0", 0, "_watermark")).toDF(cols: _*))
    assert(users == Map(1 -> 2L, 2 -> 0L, 3 -> 0L), users.toString)
  }

  test("takedownUsers bakes a landed-but-unfolded drop (the ingest " +
      "crash window) into the rebuild, and the healing redelivery " +
      "does not double-fold it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tkdcrash")
      .resolve("report").toFile
    val cfg = Maintained.configOf("funnel")
    def ev(u: Long, t: String, id: Long, typ: String) =
      (u, java.sql.Timestamp.valueOf(t), id, typ)
    val cols = Seq("user_id", "ts", "event_id", "event_type")
    Maintained.ingestDrop(spark, dir, cfg, "n1", Seq(
      ev(1, "2024-01-01 10:00:00.0", 1, "view")).toDF(cols: _*))
    // simulate the crash between landing and folding: the drop file
    // sits in _stream/drops exactly as ingestDrop would have left it,
    // but no maintenance pass ever consumed it
    val xRows = Seq(
      ev(5, "2024-01-02 10:00:00.0", 2, "view"),
      ev(-1, "2024-01-09 00:00:00.0", 0, "_watermark")).toDF(cols: _*)
    Maintained.dropFile(xRows, new java.io.File(dir, "_stream/drops"), "x")
    val td = Maintained.takedownUsers(spark, dir,
      Seq(1L).toDF("user_id"), "r1")
    assert(td.committed && td.removed == 1L, td.toString)
    def step1Users: Long = Maintained
      .funnelReportFrom(spark, PointStore.open(spark, dir.getPath))
      .filter(org.apache.spark.sql.functions.col("step") === 1)
      .head.getLong(2)
    assert(step1Users == 1L) // u5 baked in by the rebuild, u1 purged
    // the healing redelivery finds the drop landed AND consumed
    val re = Maintained.ingestDrop(spark, dir, cfg, "x", xRows)
    assert(!re.landed && !re.committed, re.toString)
    assert(step1Users == 1L) // no double-fold
  }

  test("a drop lands as MULTIPLE files (the parallel landing) — " +
      "exactly-once survives a crash mid-landing, and a takedown " +
      "purges across the split") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tkdmulti")
      .resolve("report").toFile
    val cfg = Maintained.configOf("funnel")
    def ev(u: Long, t: String, id: Long, typ: String) =
      (u, java.sql.Timestamp.valueOf(t), id, typ)
    val cols = Seq("user_id", "ts", "event_id", "event_type")
    val rows = (1L to 12L).map(u =>
      ev(u, f"2024-01-01 10:${u}%02d:00.0", u, "view")) :+
      ev(-1, "2024-01-05 00:00:00.0", 0, "_watermark")
    val drops = new java.io.File(dir, "_stream/drops")
    // crash mid-landing: the files staged and moved, but neither the
    // landed marker nor any maintenance pass — exactly what a death
    // between the last move and the marker leaves behind
    Maintained.dropFiles(rows.toDF(cols: _*), {drops.mkdirs(); drops},
      "n1", parts = 3)
    val files = drops.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length > 1, s"split landing expected, got ${files.length}")
    java.nio.file.Files.delete(files.head.toPath) // one move "didn't happen"
    // the redelivery re-stages deterministically, fills the gap,
    // markers the tag, folds ONCE
    val r = Maintained.ingestDrop(spark, dir, cfg, "n1",
      rows.toDF(cols: _*), landParts = Some(3))
    assert(r.landed && r.committed, r.toString)
    def step1Users: Long = Maintained
      .funnelReportFrom(spark, PointStore.open(spark, dir.getPath))
      .filter(col("step") === 1).head.getLong(2)
    assert(step1Users == 12L)
    val re = Maintained.ingestDrop(spark, dir, cfg, "n1",
      rows.toDF(cols: _*), landParts = Some(3))
    assert(!re.landed && !re.committed, re.toString)
    assert(step1Users == 12L)
    // the landing WIDTH survives a crash: a redelivery that omits
    // landParts (auto width would be 1 here) must complete the
    // original 3-file layout off the pinned .width, not stage a
    // second layout beside it and double-fold
    def dropNames = new java.io.File(dir, "_stream/drops").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq
    val landedNames = dropNames
    java.nio.file.Files.delete(
      new java.io.File(dir, "_stream/landed/n1").toPath)
    val rw = Maintained.ingestDrop(spark, dir, cfg, "n1",
      rows.toDF(cols: _*)) // no landParts
    assert(rw.landed && !rw.committed, rw.toString)
    assert(step1Users == 12L)
    assert(dropNames == landedNames, s"layout changed: $dropNames")
    // the purge walks every file of the split drop
    val td = Maintained.takedownUsers(spark, dir,
      (1L to 9L).toDF("user_id"), "r1")
    assert(td.committed && td.removed == 9L, td.toString)
    assert(step1Users == 3L)
  }

  test("a split landing keys files by PARTITION ID, not a dense " +
      "re-index — a takedown that empties a partition between a crash " +
      "and its redelivery must not shift later partitions onto " +
      "already-consumed names") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tkdshift")
      .resolve("report").toFile
    val cfg = Maintained.configOf("funnel")
    def ev(u: Long, t: String, id: Long, typ: String) =
      (u, java.sql.Timestamp.valueOf(t), id, typ)
    val cols = Seq("user_id", "ts", "event_id", "event_type")
    // discover which landing partition each user hashes to at width 3
    // (the test must empty exactly one MIDDLE partition)
    val users = (1L to 24L).toSeq
    val byPart = users.toDF("user_id").repartition(3, col("user_id"))
      .select(col("user_id"), spark_partition_id().as("p"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toSeq
      .groupBy(_._2).map { case (p, xs) => p -> xs.map(_._1) }
    assert(byPart.keySet == Set(0, 1, 2), s"need all widths hit: $byPart")
    // pin config with an initial unrelated drop, as production would
    Maintained.ingestDrop(spark, dir, cfg, "n0",
      Seq(ev(100, "2024-01-01 09:00:00.0", 0, "view")).toDF(cols: _*))
    val n1Rows = users.map(u =>
      ev(u, f"2024-01-01 10:${u % 60}%02d:00.0", u, "view"))
    val drops = new java.io.File(dir, "_stream/drops")
    val landedDir = new java.io.File(dir, "_stream/landed"); landedDir.mkdirs()
    // first attempt: width pinned, files staged, but the LAST
    // partition's move never happened (crash mid-landing, no marker)
    java.nio.file.Files.write(
      new java.io.File(landedDir, "n1.width").toPath, "3".getBytes)
    Maintained.dropFiles(n1Rows.toDF(cols: _*), drops, "n1", 3)
    val lastName = drops.listFiles().map(_.getName)
      .filter(_.startsWith("n1-p")).max
    java.nio.file.Files.delete(new java.io.File(drops, lastName).toPath)
    // a takedown commits between the attempts, emptying partition 1
    // of the tag's rows (its drop file survives as a zero-row purge
    // image — which is exactly why a dense re-index shifts)
    val td = Maintained.takedownUsers(spark, dir,
      byPart(1).toDF("user_id"), "r1")
    assert(td.committed, td.toString)
    // the redelivery re-stages the purged frame: partition 1 is now
    // EMPTY, so the writer emits no part-00001 file — partition 2's
    // file must still land under p00002 (its own number), never shift
    // onto the consumed p00001 name and silently vanish
    val r = Maintained.ingestDrop(spark, dir, cfg, "n1",
      n1Rows.toDF(cols: _*))
    assert(r.landed, r.toString)
    Maintained.ingestDrop(spark, dir, cfg, "s1",
      Seq(ev(-1, "2024-01-05 00:00:00.0", 0, "_watermark")).toDF(cols: _*))
    val step1 = Maintained
      .funnelReportFrom(spark, PointStore.open(spark, dir.getPath))
      .filter(col("step") === 1).head.getLong(2)
    // every surviving user exactly once: partitions 0 and 2 of n1,
    // plus the config-pinning drop's user — partition 2 missing here
    // is the dense-index shift this spec pins against
    assert(step1 == byPart(0).size + byPart(2).size + 1,
      s"expected ${byPart(0).size + byPart(2).size + 1} step-1 users, " +
        s"got $step1 (partition sizes: ${byPart.view.mapValues(_.size).toMap})")
  }

  test("a takedown rebuild re-folds a >7-day drop history completely — " +
      "the pinned maxFileAge and the original-mtime restore keep old " +
      "nights visible and consumed-exactly-once") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tkdaged")
      .resolve("report").toFile
    val cfg = Maintained.configOf("funnel")
    def ev(u: Long, t: String, id: Long, typ: String) =
      (u, java.sql.Timestamp.valueOf(t), id, typ)
    val cols = Seq("user_id", "ts", "event_id", "event_type")
    Maintained.ingestDrop(spark, dir, cfg, "n1", Seq(
      ev(1, "2024-01-01 10:00:00.0", 1, "view"),
      ev(2, "2024-01-01 11:00:00.0", 2, "view")).toDF(cols: _*))
    Maintained.ingestDrop(spark, dir, cfg, "s1",
      Seq(ev(-1, "2024-01-20 00:00:00.0", 0, "_watermark")).toDF(cols: _*))
    // age the history: the first night's file is 30 days older than
    // the sentinel's — the shape a month of nightly drops has. The
    // file source's DEFAULT maxFileAge (7d, relative to the newest
    // file) would silently skip n1 on any fresh-checkpoint pass —
    // exactly the takedown rebuild — which is why maintainOnce pins
    // it off.
    val drops = new java.io.File(dir, "_stream/drops")
    val now = System.currentTimeMillis()
    val n1 = new java.io.File(drops, "n1.parquet")
    n1.setLastModified(now - 30L * 86400000L)
    val preMtimes = drops.listFiles().map(f => f.getName -> f.lastModified).toMap
    def step1Users: Long = Maintained
      .funnelReportFrom(spark, PointStore.open(spark, dir.getPath))
      .filter(col("step") === 1).head.getLong(2)
    assert(step1Users == 2L)
    val td = Maintained.takedownUsers(spark, dir, Seq(2L).toDF("user_id"), "r1")
    assert(td.committed && td.removed == 1L, td.toString)
    // u1 lives in the 30-day-old drop: the rebuild must still fold it
    assert(step1Users == 1L)
    // and the purge preserved every file's ORIGINAL timestamp (order
    // AND age): a re-stamp to fresh times would make an aged-out
    // consumed drop look NEW to the next ingest and double-count
    val postMtimes = drops.listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(postMtimes == preMtimes,
      s"mtimes changed: $preMtimes -> $postMtimes")
    // the next ingest consumes only its own drop — history stays folded
    // exactly once through the swapped-in checkpoint
    Maintained.ingestDrop(spark, dir, cfg, "s2",
      Seq(ev(-1, "2024-02-20 00:00:00.0", 0, "_watermark")).toDF(cols: _*))
    assert(step1Users == 1L)
  }

  test("deferred takedowns amortize: k rosters + ONE flush ≡ k eager " +
      "takedowns, forward exclusion live from the deferral, erasure " +
      "pending until the flush") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_tkddefer")
    val cfg = Maintained.configOf("funnel")
    def ev(u: Long, t: String, id: Long, typ: String) =
      (u, java.sql.Timestamp.valueOf(t), id, typ)
    val cols = Seq("user_id", "ts", "event_id", "event_type")
    val n1 = Seq(
      ev(1, "2024-01-01 10:00:00.000001", 1, "view"),
      ev(1, "2024-01-01 10:01:00.000002", 2, "click"),
      ev(1, "2024-01-01 10:02:00.000003", 3, "purchase"),
      ev(2, "2024-01-01 11:00:00.000004", 4, "view"))
    val n2 = Seq(
      ev(2, "2024-01-02 09:00:00.000005", 5, "click"),
      ev(3, "2024-01-02 10:00:00.000006", 6, "view"))
    val late = Seq(
      ev(2, "2024-01-08 10:00:00.000007", 7, "view"),
      ev(4, "2024-01-08 11:00:00.000008", 8, "view"))
    def sentinel(day: Int) =
      Seq(ev(-1, f"2024-01-$day%02d 00:00:00.0", 0, "_watermark"))
    def drive(name: String): java.io.File = {
      val dir = new java.io.File(base.toFile, name)
      Maintained.ingestDrop(spark, dir, cfg, "n1", n1.toDF(cols: _*))
      Maintained.ingestDrop(spark, dir, cfg, "n2", n2.toDF(cols: _*))
      Maintained.ingestDrop(spark, dir, cfg, "s1",
        sentinel(5).toDF(cols: _*))
      dir
    }
    def report(dir: java.io.File): Seq[(Int, String, Long)] = Maintained
      .funnelReportFrom(spark, PointStore.open(spark, dir.getPath))
      .orderBy(col("step")).as[(Int, String, Long)].collect().toSeq
    def dropUsers(dir: java.io.File): Set[Long] =
      spark.read.parquet(s"$dir/_stream/drops").filter(col("user_id") > 0)
        .select("user_id").distinct().as[Long].collect().toSet

    // store A: two DEFERRED rosters, then one flush
    val a = drive("a")
    val d1 = Maintained.takedownUsers(spark, a, Seq(2L).toDF("user_id"),
      "d1", defer = true)
    assert(d1.committed && d1.removed == 0L, d1.toString)
    // erasure is PENDING: the drops still hold u2, the report still
    // carries u2's past contributions
    assert(dropUsers(a).contains(2L))
    assert(report(a).find(_._1 == 1).get._3 == 3L)
    assert(Maintained.takedownUsers(spark, a, Seq(3L).toDF("user_id"),
      "d2", defer = true).committed)
    // but the forward EXCLUSION is live from the deferral: a later
    // drop mixing u2's event with a fresh user's folds only the fresh
    Maintained.ingestDrop(spark, a, cfg, "late", late.toDF(cols: _*))
    Maintained.ingestDrop(spark, a, cfg, "s2", sentinel(12).toDF(cols: _*))
    assert(dropUsers(a).contains(4L)) // the fresh user's event landed
    assert(spark.read.parquet(s"$a/_stream/drops")
      .filter(col("user_id") === 2 && col("event_id") === 7).count() == 0)
    assert(report(a).find(_._1 == 1).get._3 == 4L) // u1,u2,u3 held + u4
    // a deferred tag redelivered — eagerly or deferred — is a no-op
    assert(!Maintained.takedownUsers(spark, a,
      Seq(2L).toDF("user_id"), "d1").committed)
    assert(!Maintained.takedownUsers(spark, a,
      Seq(2L).toDF("user_id"), "d1", defer = true).committed)
    // ONE flush settles both rosters: one purge walk, one rebuild
    val f = Maintained.takedownFlush(spark, a, "f1")
    assert(f.committed && f.flushed == Seq("d1", "d2") && f.removed == 3L,
      f.toString)
    assert((dropUsers(a) & Set(2L, 3L)).isEmpty) // erasure now physical
    // a redelivered flush tag commits nothing; an empty flush no-ops
    assert(!Maintained.takedownFlush(spark, a, "f1").committed)
    assert(!Maintained.takedownFlush(spark, a, "f2").committed)

    // store B: the SAME rosters taken down eagerly, k rebuilds — the
    // flush's report must be indistinguishable
    val b = drive("b")
    Maintained.ingestDrop(spark, b, cfg, "late", late.toDF(cols: _*))
    Maintained.ingestDrop(spark, b, cfg, "s2", sentinel(12).toDF(cols: _*))
    assert(Maintained.takedownUsers(spark, b,
      Seq(2L).toDF("user_id"), "d1").committed)
    assert(Maintained.takedownUsers(spark, b,
      Seq(3L).toDF("user_id"), "d2").committed)
    assert(report(a) == report(b),
      s"flush diverged from eager: ${report(a)} vs ${report(b)}")
  }

  test("ingestDrop refuses while a takedown is mid-flight (a .pending " +
      "marker without its committed record)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tkdpend")
      .resolve("report").toFile
    val cfg = Maintained.configOf("funnel")
    Maintained.ingestDrop(spark, dir, cfg, "n1", Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00.0"), 1L, "view"))
      .toDF("user_id", "ts", "event_id", "event_type"))
    val td = new java.io.File(dir, "_stream/takedowns"); td.mkdirs()
    java.nio.file.Files.createFile(new java.io.File(td, "r9.pending").toPath)
    val e = intercept[IllegalStateException](
      Maintained.ingestDrop(spark, dir, cfg, "n2", Seq(
        (2L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00.0"), 2L, "view"))
        .toDF("user_id", "ts", "event_id", "event_type")))
    assert(e.getMessage.contains("mid-flight"), e.getMessage)
    // ...but a pending WHOSE COMMITTED MARKER EXISTS is stale residue
    // of the one crash point after the marker write (the pending
    // delete itself): it must not block ingests forever — the client
    // never saw a response and may not redeliver — and a redelivered
    // takedown no-ops AND cleans it
    java.nio.file.Files.write(new java.io.File(td, "r9.jsonl").toPath,
      """{"user_id":9}""".getBytes)
    val r = Maintained.ingestDrop(spark, dir, cfg, "n2", Seq(
      (2L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00.0"), 2L, "view"))
      .toDF("user_id", "ts", "event_id", "event_type"))
    assert(r.landed, r.toString)
    assert(!Maintained.takedownUsers(spark, dir,
      Seq(9L).toDF("user_id"), "r9").committed)
    assert(!new java.io.File(td, "r9.pending").exists,
      "a committed redelivery must clean the stale pending")
  }

  test("takedownUsers rebuilds through the store's own pinned config — " +
      "a retention store's purge re-derives the cohort matrix as if " +
      "the user never existed") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tkdret")
      .resolve("report").toFile
    val cfg = Maintained.configOf("retention", period = Some("day"))
    def ev(u: Long, t: String, id: Long, typ: String) =
      (u, java.sql.Timestamp.valueOf(t), id, typ)
    val cols = Seq("user_id", "ts", "event_id", "event_type")
    // u1 cohort day1 active day1+day3; u2 cohort day1 active day1+day2;
    // u3 cohort day2 active day2 — u2's purge must shrink BOTH its
    // cells, not just a count somewhere
    val events = Seq(
      ev(1, "2024-01-01 08:00:00.0", 1, "view"),
      ev(2, "2024-01-01 09:00:00.0", 2, "view"),
      ev(2, "2024-01-02 09:30:00.0", 3, "click"),
      ev(3, "2024-01-02 10:00:00.0", 4, "view"),
      ev(1, "2024-01-03 11:00:00.0", 5, "purchase"))
    Maintained.ingestDrop(spark, dir, cfg, "n1", events.toDF(cols: _*))
    Maintained.ingestDrop(spark, dir, cfg, "s1",
      Seq(ev(-1, "2024-01-09 00:00:00.0", 0, "_watermark")).toDF(cols: _*))
    def served = graft.sources.PointStore.open(spark, dir.getPath)
      .snapshot.select(graft.Tables.tstr(col("cohort")).as("cohort"),
        col("offset").cast("int").as("offset"), col("users"))
      .orderBy("cohort", "offset").toJSON.collect().mkString(",")
    def batch(rows: Seq[(Long, java.sql.Timestamp, Long, String)]) =
      graft.operators.Windows.retentionOf(rows.toDF(cols: _*), "day")
        .select(col("cohort"), col("offset").cast("int").as("offset"),
          col("users"))
        .orderBy("cohort", "offset").toJSON.collect().mkString(",")
    assert(served == batch(events))
    val r = Maintained.takedownUsers(spark, dir, Seq(2L).toDF("user_id"), "r1")
    assert(r.committed && r.removed == 2L, r.toString)
    assert(served == batch(events.filter(_._1 != 2L)))
  }

  test("takedownUsers rebuilds a SESSION-funnel store — both measures " +
      "(distinct users via first_user, visits) re-derive from the " +
      "surviving users' visits alone") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tkdsess")
      .resolve("report").toFile
    val cfg = Maintained.configOf("funnel_sessions", gapMs = Some(600000L))
    def ev(u: Long, t: String, id: Long, typ: String) =
      (u, java.sql.Timestamp.valueOf(t), id, typ)
    val cols = Seq("user_id", "ts", "event_id", "event_type")
    // u1: two converting visits (visits=2, users=1 at every step);
    // u2: one converting visit — purging u2 must shrink users AND
    // visits at each step by exactly one
    Maintained.ingestDrop(spark, dir, cfg, "n1", Seq(
      ev(1, "2024-01-01 08:00:00.0", 1, "view"),
      ev(1, "2024-01-01 08:01:00.0", 2, "click"),
      ev(1, "2024-01-01 09:00:00.0", 3, "view"),
      ev(1, "2024-01-01 09:02:00.0", 4, "click"),
      ev(2, "2024-01-01 10:00:00.0", 5, "view"),
      ev(2, "2024-01-01 10:01:00.0", 6, "click")).toDF(cols: _*))
    Maintained.ingestDrop(spark, dir, cfg, "s1",
      Seq(ev(-1, "2024-01-05 00:00:00.0", 0, "_watermark")).toDF(cols: _*))
    def report: Map[Int, (Long, Long)] = Maintained
      .funnelSessionsReportFrom(spark,
        PointStore.open(spark, dir.getPath).snapshot)
      .collect().map(r => r.getInt(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(report == Map(1 -> (2L, 3L), 2 -> (2L, 3L), 3 -> (0L, 0L)),
      report.toString)
    val td = Maintained.takedownUsers(spark, dir, Seq(2L).toDF("user_id"), "r1")
    assert(td.committed && td.removed == 2L, td.toString)
    assert(report == Map(1 -> (1L, 2L), 2 -> (1L, 2L), 3 -> (0L, 0L)),
      report.toString)
  }

  test("takedownUsers rebuilds a SEGMENTED-funnel store — the purged " +
      "user leaves their segment's counts and the read-time all-member " +
      "follows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tkdsegf")
      .resolve("report").toFile
    val cfg = Maintained.configOf("funnel_segmented")
    def ev(u: Long, t: String, id: Long, typ: String, g: String) =
      (u, java.sql.Timestamp.valueOf(t), id, typ, g)
    val cols = Seq("user_id", "ts", "event_id", "event_type", "seg")
    Maintained.ingestDrop(spark, dir, cfg, "n1", Seq(
      ev(1, "2024-01-01 08:00:00.0", 1, "view", "A"),
      ev(1, "2024-01-01 08:01:00.0", 2, "click", "A"),
      ev(2, "2024-01-01 10:00:00.0", 3, "view", "B"),
      ev(3, "2024-01-01 11:00:00.0", 4, "view", "B")).toDF(cols: _*))
    Maintained.ingestDrop(spark, dir, cfg, "s1",
      Seq(ev(-1, "2024-01-05 00:00:00.0", 0, "_watermark", ""))
        .toDF(cols: _*))
    def report: Map[(String, Int), Long] = Maintained
      .funnelSegmentedReportFrom(spark,
        PointStore.open(spark, dir.getPath).snapshot)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(3))
      .toMap
    assert(report == Map(("A", 1) -> 1L, ("B", 1) -> 2L, ("all", 1) -> 3L,
      ("A", 2) -> 1L, ("all", 2) -> 1L), report.toString)
    val td = Maintained.takedownUsers(spark, dir, Seq(3L).toDF("user_id"), "r1")
    assert(td.committed && td.removed == 1L, td.toString)
    assert(report == Map(("A", 1) -> 1L, ("B", 1) -> 1L, ("all", 1) -> 2L,
      ("A", 2) -> 1L, ("all", 2) -> 1L), report.toString)
  }

  test("takedownUsers rebuilds a TWO-AXIS segmented store — the purge " +
      "re-derives BOTH axes' counts and all four read-time grouping " +
      "sets follow") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tkdseg2f")
      .resolve("report").toFile
    val cfg = Maintained.configOf("funnel_segmented2")
    def ev(u: Long, t: String, id: Long, typ: String, g: String,
           g2: String) = (u, java.sql.Timestamp.valueOf(t), id, typ, g, g2)
    val cols = Seq("user_id", "ts", "event_id", "event_type", "seg", "seg2")
    Maintained.ingestDrop(spark, dir, cfg, "n1", Seq(
      ev(1, "2024-01-01 08:00:00.0", 1, "view", "A", "N1"),
      ev(1, "2024-01-01 08:01:00.0", 2, "click", "A", "N1"),
      ev(2, "2024-01-01 10:00:00.0", 3, "view", "A", "N2"),
      ev(3, "2024-01-01 11:00:00.0", 4, "view", "B", "N1")).toDF(cols: _*))
    Maintained.ingestDrop(spark, dir, cfg, "s1",
      Seq(ev(-1, "2024-01-05 00:00:00.0", 0, "_watermark", "", ""))
        .toDF(cols: _*))
    def report: Map[(String, String, Int), Long] = Maintained
      .funnelSegmentedReportFrom(spark,
        PointStore.open(spark, dir.getPath).snapshot, Seq("seg", "seg2"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)) ->
        r.getLong(4)).toMap
    assert(report == Map(
      ("A", "N1", 1) -> 1L, ("A", "N2", 1) -> 1L, ("B", "N1", 1) -> 1L,
      ("A", "all", 1) -> 2L, ("B", "all", 1) -> 1L,
      ("all", "N1", 1) -> 2L, ("all", "N2", 1) -> 1L,
      ("all", "all", 1) -> 3L,
      ("A", "N1", 2) -> 1L, ("A", "all", 2) -> 1L,
      ("all", "N1", 2) -> 1L, ("all", "all", 2) -> 1L), report.toString)
    // purging user 2 must re-derive the (A, N2) cell away on BOTH
    // rollup axes — the seg-axis 'A' totals and the seg2-axis 'N2'
    // totals each drop, and (all, all) follows
    val td = Maintained.takedownUsers(spark, dir, Seq(2L).toDF("user_id"), "r1")
    assert(td.committed && td.removed == 1L, td.toString)
    assert(report == Map(
      ("A", "N1", 1) -> 1L, ("B", "N1", 1) -> 1L,
      ("A", "all", 1) -> 1L, ("B", "all", 1) -> 1L,
      ("all", "N1", 1) -> 2L, ("all", "all", 1) -> 2L,
      ("A", "N1", 2) -> 1L, ("A", "all", 2) -> 1L,
      ("all", "N1", 2) -> 1L, ("all", "all", 2) -> 1L), report.toString)
  }

  test("takedownUsers purges through a SKETCH-measure store — the " +
      "latency distributions re-derive from the surviving users alone") {
    import spark.implicits._
    import graft.functions.SketchOps
    val dir = java.nio.file.Files.createTempDirectory("graft_tkdlat")
      .resolve("report").toFile
    val cfg = Maintained.configOf("latency")
    def ev(u: Long, t: String, id: Long, typ: String) =
      (u, java.sql.Timestamp.valueOf(t), id, typ)
    val cols = Seq("user_id", "ts", "event_id", "event_type")
    // u1 converts in 60 s then 120 s; u2 in 30 s then 300 s — after
    // u2's purge every hop's distribution must be exactly u1's values
    val events = Seq(
      ev(1, "2024-01-01 10:00:00.0", 1, "view"),
      ev(1, "2024-01-01 10:01:00.0", 2, "click"),
      ev(1, "2024-01-01 10:03:00.0", 3, "purchase"),
      ev(2, "2024-01-01 11:00:00.0", 4, "view"),
      ev(2, "2024-01-01 11:00:30.0", 5, "click"),
      ev(2, "2024-01-01 11:05:30.0", 6, "purchase"))
    Maintained.ingestDrop(spark, dir, cfg, "n1", events.toDF(cols: _*))
    Maintained.ingestDrop(spark, dir, cfg, "s1",
      Seq(ev(-1, "2024-01-05 00:00:00.0", 0, "_watermark")).toDF(cols: _*))
    def report: Map[String, (Long, Long)] = graft.sources.PointStore
      .open(spark, dir.getPath).snapshot
      .select(org.apache.spark.sql.functions.col("hop"),
        org.apache.spark.sql.functions.col("n_users"),
        SketchOps.quantileAt(org.apache.spark.sql.functions.col("sk"), 0.5)
          .as("p50"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(report("view->click") == (2L, 30000000L) ||
      report("view->click") == (2L, 60000000L)) // exact-regime median pick
    val r = Maintained.takedownUsers(spark, dir, Seq(2L).toDF("user_id"), "r1")
    assert(r.committed && r.removed == 3L, r.toString)
    assert(report == Map(
      "view->click" -> (1L, 60000000L),
      "click->purchase" -> (1L, 120000000L)))
  }

  test("ledger-collision guards: a legacy -pNNNNN single-file drop is " +
      "never sidelined as mid-flight, a flush refuses a deferred tag's " +
      "name, and a deferral refuses over an open .pending") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tkdguards")
      .resolve("report").toFile
    val cfg = Maintained.configOf("funnel")
    def ev(u: Long, t: String, id: Long, typ: String) =
      (u, java.sql.Timestamp.valueOf(t), id, typ)
    val cols = Seq("user_id", "ts", "event_id", "event_type")
    // a LEGACY-shaped tag: valid under [A-Za-z0-9._-]+ but ends in
    // -p + five digits, and lands as ONE file (n-p00001.parquet, no
    // 'n.width' pin) — SplitName captures prefix 'n', so an ungated
    // sideline would treat it as another tag's crashed partial landing
    // on every pass and a rebuild would drop its rows permanently
    Maintained.ingestDrop(spark, dir, cfg, "n-p00001", Seq(
      ev(1, "2024-01-01 10:00:00.0", 1, "view"),
      ev(2, "2024-01-01 10:30:00.0", 2, "view")).toDF(cols: _*))
    Maintained.ingestDrop(spark, dir, cfg, "s1",
      Seq(ev(-1, "2024-01-05 00:00:00.0", 0, "_watermark")).toDF(cols: _*))
    def step1Users: Long = Maintained
      .funnelReportFrom(spark, PointStore.open(spark, dir.getPath))
      .filter(col("step") === 1).head.getLong(2)
    assert(step1Users == 2L)
    // the takedown's rebuild sidelines mid-flight files — the legacy
    // drop must be classified landed and survive with u1's row
    val r = Maintained.takedownUsers(spark, dir, Seq(2L).toDF("user_id"), "r1")
    assert(r.committed && r.removed == 1L, r.toString)
    assert(step1Users == 1L, "legacy -pNNNNN drop rows lost in rebuild")
    assert(new java.io.File(dir, "_stream/drops/n-p00001.parquet").exists,
      "legacy single-file drop sidelined as mid-flight")
    // flush-marker collision: a flush under a DEFERRED roster's tag
    // would graduate the roster to d1.jsonl and then replace it with
    // the flush's empty marker — refused before any work
    assert(Maintained.takedownUsers(spark, dir, Seq(3L).toDF("user_id"),
      "d1", defer = true).committed)
    val clash = intercept[IllegalStateException](
      Maintained.takedownFlush(spark, dir, "d1"))
    assert(clash.getMessage.contains("d1"), clash.getMessage)
    val f = Maintained.takedownFlush(spark, dir, "f1")
    assert(f.committed && f.flushed == Seq("d1"), f.toString)
    // a deferral over an open .pending (an eager takedown crashed
    // mid-rebuild): refused — landing it would make this tag's later
    // redelivery a no-op that deletes the pending over an incomplete
    // swap. The pending survives the refusal; the eager redelivery
    // heals and closes the tag.
    val td = new java.io.File(dir, "_stream/takedowns")
    java.nio.file.Files.createFile(new java.io.File(td, "d2.pending").toPath)
    intercept[IllegalStateException](Maintained.takedownUsers(spark, dir,
      Seq(4L).toDF("user_id"), "d2", defer = true))
    assert(new java.io.File(td, "d2.pending").exists,
      "a refused deferral must not clean the pending")
    assert(Maintained.takedownUsers(spark, dir,
      Seq(4L).toDF("user_id"), "d2").committed)
    assert(!new java.io.File(td, "d2.pending").exists)
  }

  test("fold partitioning derives >1 state partition from the drop " +
      "bytes (Hadoop FS listing, r21) and never mutates the caller's " +
      "session conf") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_foldparts")
      .resolve("report").toFile
    val cfg = Maintained.configOf("funnel")
    val sessionPartsBefore = spark.conf.get("spark.sql.shuffle.partitions")
    // shrink the derivation unit so a KB-scale drop derives several
    // partitions, capped at 4 — the same arithmetic a 1 TB night runs
    // against the 128 MB default
    spark.conf.set("spark.graft.fold.bytesPerPartition", "64")
    spark.conf.set("spark.graft.fold.maxPartitions", "4")
    try {
      def ev(u: Long, t: String, id: Long, typ: String) =
        (u, java.sql.Timestamp.valueOf(t), id, typ)
      val cols = Seq("user_id", "ts", "event_id", "event_type")
      Maintained.ingestDrop(spark, dir, cfg, "n1", Seq(
        ev(1, "2024-01-01 10:00:00.000001", 1, "view"),
        ev(1, "2024-01-01 10:01:00.000001", 2, "click"),
        ev(2, "2024-01-01 11:00:00.000002", 3, "view")).toDF(cols: _*))
      Maintained.ingestDrop(spark, dir, cfg, "s1",
        Seq(ev(-1, "2024-01-05 00:00:00.0", 0, "_watermark")).toDF(cols: _*))
      // the derived count pinned the NEW checkpoint's state layout:
      // with a multi-KB drop over a 64-byte unit, the cap (4) engages —
      // the state dir carries one partition dir per derived partition
      val stateDir = new java.io.File(dir, "_stream/ckpt/state/0")
      val parts = Option(stateDir.listFiles())
        .getOrElse(Array.empty[java.io.File])
        .count(f => f.isDirectory && f.getName.forall(_.isDigit))
      assert(parts == 4, s"state partitions: $parts (want the cap, 4)")
      // the overrides were scoped to the fold's cloned session — the
      // caller's conf reads back untouched (ADVICE r20)
      assert(spark.conf.get("spark.sql.shuffle.partitions")
        == sessionPartsBefore)
      // registered confs report their default through getOption, so
      // assert the fold's "false" override did not leak over it
      assert(spark.conf.get(
        "spark.sql.streaming.checkpoint.fileChecksum.enabled") == "true")
      // and the fold's RESULT is partition-count-independent
      val rep = Maintained.funnelReportFrom(spark,
        PointStore.open(spark, dir.getPath))
      assert(rep.filter(col("step") === 1).head.getLong(2) == 2L)
      assert(rep.filter(col("step") === 2).head.getLong(2) == 1L)
    } finally {
      spark.conf.unset("spark.graft.fold.bytesPerPartition")
      spark.conf.unset("spark.graft.fold.maxPartitions")
    }
  }
}
