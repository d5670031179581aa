package graft.streaming

import graft.sources.PointStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The product-analytics reports as MAINTAINED tables — the
  * [[IncrementalCruncher]]/[[StreamingPointStore]] loop applied to the
  * analytics family: the streaming twins' exactly-once emitted cells
  * ([[StreamingFunnel]] reaches, [[StreamingRetention]] cohort cells,
  * [[StreamingPaths]] adjacency pairs) fold into persisted PointStores
  * as each micro-batch lands, so the report READ is O(store) — a
  * handful of key-grain rows — instead of the O(events) re-scan every
  * GET /funnel //retention//paths otherwise pays. At 100 TB of events
  * the difference is the whole point: the scan happens once, in the
  * stream, and the dashboard read never touches it.
  *
  * Exactly-once end to end: the twins emit each cell once by the
  * watermark-finality contract (StreamingSpec), and
  * [[StreamingPointStore.foldBatch]] commits each micro-batch's
  * additive partial under the store's tag ledger, so a foreachBatch
  * redelivery is a no-op and the snapshot is always a prefix-exact
  * report.
  *
  * The registered lifecycles (`funnel_maintained`,
  * `retention_maintained`, `paths_maintained`) drive the loop the way
  * production would: the events table lands as three parquet "nightly
  * drops" sliced by TIME tertiles — a night's file holds that night's
  * events, the shape a watermark is a contract about. (A content-hash
  * slice was tried first and is exactly what the watermark promises
  * NOT to survive: whole files of data arrive below the watermark the
  * previous file advanced, and the engine rightly drops them as late —
  * at this SF the funnel's saturated counts masked it, the
  * paths/retention matrices did not. Cross-batch DISORDER coverage
  * belongs to the twins' own specs, which drive admissible disorder;
  * the lifecycle models the drop cadence.) Each night runs its own
  * maintenance pass with `Trigger.AvailableNow` and the engine
  * RESTARTS between nights — the watermark and file ledger ride the
  * on-disk checkpoint, so the per-night runs also guarantee file order
  * (a consumed night is in the ledger before the next lands). Two
  * far-future watermark-advance sentinels finalize the tail, and each
  * query returns its maintained report — oracled against the one-shot
  * batch SQL over the same events.
  *
  * ==The compliance contract==
  * A user-grain takedown cannot SUBTRACT from an additive count store:
  * the counts are anonymous aggregates, so nothing in the store says
  * which rows a user contributed. The faithful remedy is re-derivation
  * from purged inputs, and which face owns it follows from who holds
  * the inputs: a WIRE-maintained store retains every ingested drop
  * (`_stream/drops` is its provenance), so [[takedownUsers]] purges the
  * roster from the retained files and re-folds — served as
  * POST /takedown/report; a LIBRARY-maintained store's inputs live with
  * the driving lifecycle, so its remedy is re-running that lifecycle
  * over the purged upstream events (the verb refuses such a store with
  * the reason named). Tag-grain rollback — the curate family's other
  * undo — is deliberately NOT offered here: a user's events span many
  * drops, so no tag subtraction expresses "this user never existed". */
object Maintained {

  /** Sentinel rows advance the watermark; the funnel twin never folds
    * them (not a step), and the retention/paths partials filter the
    * sentinel user before the store commit. */
  val SentinelType = "_watermark"
  val SentinelUser = -1L

  /** The wire drop schema every report type reads — the segmented
    * types extend it with their segment column. */
  val DefaultWireSchema: String =
    "user_id LONG, ts TIMESTAMP, event_id LONG, event_type STRING"

  /** A maintained report's fold recipe: the streaming twin's wiring
    * plus the store grain it folds into — ONE definition per report
    * type, shared by the registered lifecycles below and the served
    * ingest face (QueryServer's POST /ingest/report), so the two
    * drive the exact same exactly-once chain. `schema` is the drop
    * files' read schema (the wire shape this materialization consumes
    * — a segmented store's drops carry one more column, and the served
    * write derives its JSON field set from it). */
  final case class ReportFold(keys: Seq[String], sums: Seq[String],
                              quantiles: Seq[String],
                              wire: DataFrame => DataFrame,
                              partialOf: DataFrame => DataFrame,
                              schema: String = DefaultWireSchema) {
    /** The wire field names, in schema order. */
    def wireFields: Seq[String] =
      schema.split(",").toSeq.map(_.trim.split(" ")(0))
  }

  /** The segment axis columns, in order: axis k is `seg<k>` (the first
    * one plain `seg`) on the wire and in the store, and reads as
    * `segment<k>` in a report. A `<family>_segmented` type folds the
    * first axis, `<family>_segmented<n>` the first n. */
  private def axisNames(n: Int): Seq[String] =
    (1 to n).map(k => if (k == 1) "seg" else s"seg$k")

  /** The report column axis `a` reads as: `seg<k>` → `segment<k>`. */
  def reportAxis(a: String): String = "segment" + a.stripPrefix("seg")

  /** The segment axes among a store's or fold's columns. */
  def segAxes(cols: Seq[String]): Seq[String] =
    cols.filter(_.matches("seg[0-9]*"))

  /** `<family>_segmented[<n>]` → (family, its axis columns). */
  private object Segmented {
    private val Type = "(.+)_segmented([0-9]*)".r
    def unapply(typ: String): Option[(String, Seq[String])] = typ match {
      case Type(family, n) =>
        Some((family, axisNames(if (n.isEmpty) 1 else n.toInt)))
      case _ => None
    }
  }

  /** A segmented type's drop schema: one more STRING column per axis. */
  private def wireSchema(axes: Seq[String]): String =
    DefaultWireSchema + axes.map(a => s", $a STRING").mkString

  /** The twin's input: `cols` plus the axis values as ONE ordered `seg`
    * payload, so a single operator serves every arity. */
  private def segmentedEvents(df: DataFrame, axes: Seq[String],
                              cols: String*): DataFrame =
    df.select(cols.map(col) :+ array(axes.map(col): _*).as("seg"): _*)

  /** The store keys of a segmented fold's cells: the payload split back
    * into one column per axis, then the report's own `grain`. */
  private def axisKeys(axes: Seq[String], grain: String*) =
    axes.zipWithIndex.map { case (a, i) => col("seg").getItem(i).as(a) } ++
      grain.map(col)

  /** Report types a maintained store can hold, with their applicable
    * configuration: `windowMs` = the funnel conversion horizon
    * (REQUIRED for funnel_deepest — the search is anchored — optional
    * for funnel/latency), `period` = the retention calendar grain,
    * `gapMs` = the paths session bound. Inapplicable parameters are
    * refused loudly (a maintained store is one materialization; its
    * configuration must be exact, not silently defaulted). */
  val ReportTypes: Set[String] = Set("funnel", "funnel_deepest",
    "funnel_deepest_segmented", "funnel_sessions", "funnel_segmented",
    "funnel_segmented2", "retention", "retention_rolling",
    "retention_segmented", "retention_segmented2", "paths",
    "paths_segmented", "paths_segmented2", "latency",
    "latency_segmented", "latency_segmented2")

  def foldOf(s: SparkSession, typ: String, windowMs: Option[Long] = None,
             period: Option[String] = None,
             gapMs: Option[Long] = None,
             steps: Option[Seq[String]] = None): ReportFold = {
    import s.implicits._
    require(ReportTypes(typ),
      s"report type must be ${ReportTypes.toSeq.sorted.mkString("|")}, got '$typ'")
    def no(p: Option[_], name: String): Unit =
      require(p.isEmpty, s"$name does not apply to report type '$typ'")
    // the funnel family's ordered path is a parameter exactly as on
    // the batch/read faces (an analyst's custom path is configuration,
    // not a redeploy) — and the custom-path read discipline
    // (funnelReportFrom serves a custom store's rows alone) already
    // matches on the way out
    val path = steps.getOrElse(StreamingFunnel.Steps)
    require(path.nonEmpty && path.distinct.size == path.size,
      s"steps must be non-empty and distinct, got $path")
    def funnelEvs(df: DataFrame) =
      df.select(col("user_id"), col("ts"), col("event_type"))
        .as[StreamingFunnel.Ev]
    val notSentinel = (cells: DataFrame) =>
      cells.filter(col("user_id") =!= SentinelUser)
    typ match {
      case "funnel" =>
        no(period, "period"); no(gapMs, "gap")
        ReportFold(Seq("step", "step_name"), Seq("users"), Nil,
          df => StreamingFunnel.funnel(s, funnelEvs(df),
            windowMs.map(ms => s"${ms}ms"), path).toDF,
          _.groupBy("step", "step_name").agg(count(lit(1)).as("users")))
      case "funnel_deepest" =>
        no(period, "period"); no(gapMs, "gap")
        val h = windowMs.getOrElse(throw new IllegalArgumentException(
          "funnel_deepest requires a window (the search is anchored)"))
        ReportFold(Seq("step", "step_name"), Seq("users"), Nil,
          df => StreamingFunnelDeepest.funnel(s,
            df.select(col("user_id"), col("ts"), col("event_type"))
              .as[StreamingFunnelDeepest.Ev], s"${h}ms", path).toDF,
          _.groupBy("step", "step_name").agg(count(lit(1)).as("users")))
      case Segmented("funnel_deepest", axes) =>
        no(period, "period"); no(gapMs, "gap")
        val h = windowMs.getOrElse(throw new IllegalArgumentException(
          s"$typ requires a window (the search is anchored)"))
        // the entry segment pins at the user's FIRST anchor (the only
        // sample point final at watermark — the converting anchor
        // isn't known until the depth stops growing), so the
        // (seg₁…segₙ, step) counts are additive and the "all" members
        // are the same read-time rollup the chained segmented store uses
        ReportFold(axes ++ Seq("step", "step_name"), Seq("users"), Nil,
          df => StreamingFunnelDeepestSegmented.funnel(s,
            segmentedEvents(df, axes, "user_id", "ts", "event_type")
              .as[StreamingFunnelDeepestSegmented.Ev],
            s"${h}ms", path).toDF,
          _.groupBy(axisKeys(axes, "step", "step_name"): _*)
            .agg(count(lit(1)).as("users")),
          schema = wireSchema(axes))
      case Segmented("funnel", axes) =>
        no(period, "period"); no(gapMs, "gap")
        // one more STRING on the wire and one more key in the store per
        // axis: the twin fixes each user's ENTRY segment at their step-1
        // fold (lexicographic tie law ≡ the batch struct min), so the
        // (seg₁…segₙ, step) cell counts are additive and every "all"
        // member is a read-time rollup (funnelSegmentedReportFrom)
        ReportFold(axes ++ Seq("step", "step_name"), Seq("users"), Nil,
          df => StreamingFunnelSegmented.funnel(s,
            segmentedEvents(df, axes, "user_id", "ts", "event_type")
              .as[StreamingFunnelSegmented.Ev],
            windowMs.map(ms => s"${ms}ms"), path).toDF,
          _.groupBy(axisKeys(axes, "step", "step_name"): _*)
            .agg(count(lit(1)).as("users")),
          schema = wireSchema(axes))
      case "funnel_sessions" =>
        no(period, "period"); no(windowMs, "window")
        val g = gapMs.getOrElse(throw new IllegalArgumentException(
          "funnel_sessions requires a gap (the session is the funnel's " +
            "conversion unit — defaulting it would pin a materialization " +
            "the caller never chose)"))
        ReportFold(Seq("step", "step_name"), Seq("users", "visits"), Nil,
          df => StreamingFunnelSessions.reaches(s,
            df.select(col("user_id"), col("ts"), col("event_type"))
              .as[StreamingFunnelSessions.Ev], g, path).toDF,
          _.groupBy("step", "step_name").agg(
            sum(when(col("first_user"), 1L).otherwise(0L)).as("users"),
            count(lit(1)).as("visits")))
      case "retention" | "retention_rolling" =>
        no(steps, "steps"); no(windowMs, "window"); no(gapMs, "gap")
        val evs = (df: DataFrame) =>
          df.select(col("user_id"), col("ts")).as[StreamingRetention.Ev]
        val p = period.getOrElse("week")
        ReportFold(Seq("cohort", "offset"), Seq("users"), Nil,
          df => (if (typ == "retention") StreamingRetention.cells(s, evs(df), p)
                 else StreamingRetention.rollingCells(s, evs(df), p)).toDF,
          cells => notSentinel(cells)
            .groupBy("cohort", "offset").agg(count(lit(1)).as("users")))
      case Segmented("retention", axes) =>
        no(steps, "steps"); no(windowMs, "window"); no(gapMs, "gap")
        // the entry segment pins WITH the cohort (min over (ts, seg₁…segₙ)
        // tuples — the batch entry law, same finality argument), so the
        // (seg₁…segₙ, cohort, offset) counts stay additive and the "all"
        // members are retentionSegmentedReportFrom's read-time rollup
        ReportFold(axes ++ Seq("cohort", "offset"), Seq("users"), Nil,
          df => StreamingRetentionSegmented.cells(s,
            segmentedEvents(df, axes, "user_id", "ts")
              .as[StreamingRetentionSegmented.Ev],
            period.getOrElse("week")).toDF,
          cells => notSentinel(cells)
            .groupBy(axisKeys(axes, "cohort", "offset"): _*)
            .agg(count(lit(1)).as("users")),
          schema = wireSchema(axes))
      case "paths" =>
        no(steps, "steps"); no(windowMs, "window"); no(period, "period")
        ReportFold(Seq("from_step", "to_step"), Seq("n"), Nil,
          df => StreamingPaths.pairs(s,
            df.select(col("user_id"), col("ts"),
              col("event_id").as("seq"), col("event_type"))
              .as[StreamingPaths.Ev], gapMs).toDF,
          cells => notSentinel(cells)
            .groupBy("from_step", "to_step").agg(count(lit(1)).as("n")))
      case Segmented("paths", axes) =>
        no(steps, "steps"); no(windowMs, "window"); no(period, "period")
        // each pair carries its from-event's segment — no new finality
        // argument (the from event is final when its pair emits)
        ReportFold(axes ++ Seq("from_step", "to_step"), Seq("n"), Nil,
          df => StreamingPathsSegmented.pairs(s,
            segmentedEvents(df.withColumn("seq", col("event_id")), axes,
              "user_id", "ts", "seq", "event_type")
              .as[StreamingPathsSegmented.Ev], gapMs).toDF,
          cells => notSentinel(cells)
            .groupBy(axisKeys(axes, "from_step", "to_step"): _*)
            .agg(count(lit(1)).as("n")),
          schema = wireSchema(axes))
      case "latency" =>
        no(period, "period"); no(gapMs, "gap")
        import graft.functions.SketchOps
        require(path.size >= 2,
          s"latency needs at least two steps (a hop), got $path")
        val hops = array(path.sliding(2).map { case Seq(a, b) =>
          lit(s"$a->$b") }.toSeq: _*)
        ReportFold(Seq("hop"), Seq("n_users"), Seq("sk"),
          df => StreamingFunnel.funnel(s, funnelEvs(df),
            windowMs.map(ms => s"${ms}ms"), path).toDF.filter(col("step") > 1),
          _.withColumn("hop", element_at(hops, col("step") - 1))
            .groupBy("hop").agg(count(lit(1)).as("n_users"),
              SketchOps.quantileSketch(col("lat_us"),
                graft.operators.TextOps.QuantileK).as("sk")))
      case Segmented("latency", axes) =>
        no(period, "period"); no(gapMs, "gap")
        import graft.functions.SketchOps
        require(path.size >= 2,
          s"$typ needs at least two steps (a hop), got $path")
        val hops = array(path.sliding(2).map { case Seq(a, b) =>
          lit(s"$a->$b") }.toSeq: _*)
        // the segmented twin's reaches carry lat_us exactly like the
        // plain twin's (the fin vector holds the previous reach), so
        // the segmented hop-latency store is one additive fold at
        // (seg₁…segₙ, hop) grain with a mergeable sketch measure; the
        // "all" members are latencySegmentedReportFrom's read-time
        // rollup (counts sum, sketches merge)
        ReportFold(axes :+ "hop", Seq("n_users"), Seq("sk"),
          df => StreamingFunnelSegmented.funnel(s,
            segmentedEvents(df, axes, "user_id", "ts", "event_type")
              .as[StreamingFunnelSegmented.Ev],
            windowMs.map(ms => s"${ms}ms"), path).toDF
            .filter(col("step") > 1),
          _.withColumn("hop", element_at(hops, col("step") - 1))
            .groupBy(axisKeys(axes, "hop"): _*)
            .agg(count(lit(1)).as("n_users"),
              SketchOps.quantileSketch(col("lat_us"),
                graft.operators.TextOps.QuantileK).as("sk")),
          schema = wireSchema(axes))
    }
  }

  /** The canonical configuration string a WIRE-maintained store pins in
    * `_stream/CONFIG` at first ingest — durations normalized to ms, so
    * "30m" and "1800s" pin the same materialization. ONE producer for
    * the string (shared by the served write face and the library
    * verbs) so [[foldOfConfig]] is its exact inverse. */
  def configOf(typ: String, windowMs: Option[Long] = None,
               period: Option[String] = None, gapMs: Option[Long] = None,
               steps: Option[Seq[String]] = None): String =
    s"type=$typ" + windowMs.fold("")(ms => s";window_ms=$ms") +
      period.fold("")(p => s";period=$p") +
      gapMs.fold("")(ms => s";gap_ms=$ms") +
      steps.fold("")(p => s";steps=${p.mkString(",")}")

  /** Parse a pinned `_stream/CONFIG` back into its fold recipe — the
    * store self-describes its materialization, so a takedown rebuild
    * (or any later maintenance pass) needs no out-of-band knowledge of
    * how the store was configured. */
  def foldOfConfig(s: SparkSession, config: String): ReportFold = {
    val kv = config.split(";").toSeq.map { part =>
      val i = part.indexOf('=')
      require(i > 0, s"malformed maintained-store config entry '$part'")
      part.take(i) -> part.drop(i + 1)
    }.toMap
    foldOf(s, kv.getOrElse("type",
        throw new IllegalArgumentException(s"config '$config' has no type")),
      windowMs = kv.get("window_ms").map(_.toLong),
      period = kv.get("period"),
      gapMs = kv.get("gap_ms").map(_.toLong),
      steps = kv.get("steps").map(_.split(",", -1).toSeq))
  }

  private def storedConfig(dir: java.io.File): Option[String] = {
    val f = new java.io.File(new java.io.File(dir, "_stream"), "CONFIG")
    if (f.exists) Some(new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8))
    else None
  }

  /** Land a frame as ONE parquet file — the "nightly file lands in the
    * bucket" shape a streaming file source consumes. */
  private[graft] def dropFile(df: DataFrame, dir: java.io.File, name: String): Unit = {
    val stage = new java.io.File(dir.getParentFile,
      s"stage_${dir.getName}_$name")
    df.coalesce(1).write.mode("overwrite").parquet(stage.getPath)
    val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      new java.io.File(dir, s"$name.parquet").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    PointStore.deleteRec(stage)
  }

  /** Target rows per landed drop file when the landing width is not
    * pinned by the caller: a nightly drop lands across
    * ceil(rows / this) write tasks instead of one. */
  val DropFileRows: Long = 1L << 21

  /** Land a frame as the tag's drop, across one OR MORE parquet files
    * (`<tag>-pNNNNN.parquet`) — the 100 TB landing shape: a single
    * `coalesce(1)` write is the one serial stage in the wire path, so
    * past [[DropFileRows]] the landing spreads over hash-partitioned
    * write tasks. Exactly-once stays intact at BOTH grains because the
    * split is DETERMINISTIC and each file move is atomic:
    *   - rows → files by `repartition(parts, user_id)` with `parts`
    *     derived from the row count (or pinned by the caller), so a
    *     redelivery that re-stages after a crash mid-landing assigns
    *     every row to the SAME partition number, and each staged file
    *     lands under its own partition number (`<tag>-p<i>`, parsed
    *     from the writer's part-NNNNN name — see the move below), so
    *     the skip-if-exists move never pairs a consumed file with a
    *     different partition's content;
    *   - the maintenance stream's file ledger is per FILE, so a
    *     partially-landed drop that somehow folded early double-counts
    *     nothing when the remaining files land — they are new files;
    *   - the TAG grain ("this drop already landed") moves to a marker
    *     in `_stream/landed/<tag>`, written only after every file move
    *     (the legacy single-file name still counts as landed, so
    *     pre-split stores keep their redelivery contract). */
  private[graft] def dropFiles(df: DataFrame, dir: java.io.File, tag: String,
                               parts: Int): Unit = {
    require(parts >= 1, s"landing width must be >= 1, got $parts")
    if (parts == 1) {
      if (!new java.io.File(dir, s"$tag.parquet").exists)
        dropFile(df, dir, tag)
    } else {
      val stage = new java.io.File(dir.getParentFile,
        s"stage_${dir.getName}_$tag")
      df.repartition(parts, col("user_id"))
        .write.mode("overwrite").parquet(stage.getPath)
      // the target suffix derives from the staged file's OWN part-NNNNN
      // partition number, never a dense re-index: Spark writes no file
      // for an empty non-first partition, so a dense index is only
      // stable while the set of NON-EMPTY partitions repeats across
      // attempts — and the exact interleaving the .width pin exists for
      // (crash mid-landing, a committed takedown empties a partition,
      // redelivery) breaks that: re-staged files would shift down an
      // index, the skip-if-exists move would find the shifted target
      // already present, and a later partition's rows would silently
      // never land while the tag still got its marker. Partition i
      // always lands as <tag>-p<i>; sparse p-numbers are fine (readers
      // glob the directory, names carry no contiguity contract).
      stage.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        val digits = f.getName.stripPrefix("part-").takeWhile(_.isDigit)
        require(f.getName.startsWith("part-") && digits.nonEmpty,
          s"staged drop file '${f.getName}' carries no part-NNNNN number")
        val target = new java.io.File(dir, f"$tag-p${digits.toInt}%05d.parquet")
        if (!target.exists)
          java.nio.file.Files.move(f.toPath, target.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      PointStore.deleteRec(stage)
    }
  }

  /** The staged drop files, built ONCE per (JVM, sf dir) and shared by
    * the three lifecycles — the `historicalBase` fixture doctrine: the
    * drops are immutable INPUTS (hardlinked, never mutated, into each
    * query's own watched dir), so in production terms each entry times
    * the maintenance loop, not the upstream export that produced the
    * night files. Five files: the three time-tertile nights plus the
    * two watermark sentinels (max+2d, max+4d). */
  private val stagedDrops =
    new java.util.concurrent.ConcurrentHashMap[String, java.io.File]()

  /** Bench hook (the CurateStore/DedupIndex convention): the staged
    * drops are the upstream exporter's output, not the maintenance
    * loop any entry measures — warm them untimed so the first
    * maintained entry doesn't pay the one-time export. */
  def warmLifecycleFixture(s: SparkSession, d: String): Unit =
    // the segmented night exports are the same fixture doctrine as the
    // plain one (immutable upstream INPUTS, hardlinked into each
    // lifecycle's own watched dir) — warm every arity, so the
    // alphabetically-first segmented entry doesn't pay the one-time
    // export the plain entries never paid (r20: it was paying ~1-2 s
    // of broadcast-dim export inside its timed region)
    Seq(0, 1, 2).foreach(n => nightsFixtureOf(s, d, axisNames(n)))

  private def nightsFixture(s: SparkSession, d: String): java.io.File =
    nightsFixtureOf(s, d, Nil)

  /** Measurement hook (graft.ProfMaint): the staged plain-night drops. */
  private[graft] def stagedDropsDirFor(s: SparkSession, d: String): java.io.File =
    nightsFixture(s, d)

  /** The customer attribute each lifecycle axis rides: the market
    * segment, then the customer's nation. */
  private val FixtureAxes = Map("seg" -> "c_mktsegment", "seg2" -> "n_name")

  /** Non-empty `axes` stage the SEGMENTED variant: the same tertile
    * nights with the customer's attributes riding each event (the
    * `*_segmented[2]` wire shape — one broadcast dim join at export
    * time; sentinels carry empty axes, they are never folded). The
    * nation joins DIM-side before the one broadcast, the segmentDim2
    * discipline. */
  private def nightsFixtureOf(s: SparkSession, d: String,
                              axes: Seq[String]): java.io.File =
    stagedDrops.computeIfAbsent((d +: axes).mkString("#"), _ => {
      import s.implicits._
      val dir = graft.operators.DedupIndex.freshRunDir(
        s"graft_night${if (axes.isEmpty) "s" else axes.mkString}_", d)
      dir.mkdirs()
      val base = graft.Tables.events(s, d)
        .select(col("user_id").cast("long").as("user_id"),
          col("ts").cast("timestamp").as("ts"),
          col("event_id").cast("long").as("event_id"), col("event_type"))
      val cust = graft.Tables.customer(s, d)
      val dim = (if (axes.contains("seg2")) cust.join(graft.Tables.nation(s, d),
          col("c_nationkey") === col("n_nationkey")) else cust)
        .select(col("c_custkey").cast("long").as("user_id") +:
          axes.map(a => col(FixtureAxes(a)).as(a)): _*)
      val ev = if (axes.isEmpty) base
        else base.join(broadcast(dim), Seq("user_id"))
      // time-tertile nights off the two-value bound (driver scalars)
      val b = ev.agg(min(unix_micros(col("ts"))),
        max(unix_micros(col("ts"))), max(col("ts"))).head
      val (mnUs, spanUs) = (b.getLong(0), b.getLong(1) - b.getLong(0) + 1)
      val maxTs = b.getTimestamp(2)
      val night = least(
        floor((unix_micros(col("ts")) - mnUs) * 3.0 / spanUs), lit(2L))
      (0 to 2).foreach(i => dropFile(ev.filter(night === i), dir, s"n$i"))
      Seq(("s1", 2), ("s2", 4)).foreach { case (n, plusDays) =>
        val row = Seq((SentinelUser,
            new java.sql.Timestamp(maxTs.getTime + plusDays * 86400000L),
            0L, SentinelType)).toDF("user_id", "ts", "event_id", "event_type")
        dropFile(axes.foldLeft(row)(_.withColumn(_, lit(""))), dir, n)
      }
      dir
    })

  /** The funnel report read from a maintained (step, step_name)/users
    * store. A store maintained over the DEFAULT path zero-fills its
    * absent steps (the batch report's exact shape, every step present
    * — an unreached step is zero users, it never vanishes). A store
    * maintained over a CUSTOM path serves ITS rows alone: interleaving
    * default-step zeros into a custom path's rows would read as a
    * funnel nobody maintained (e.g. (1,'land',n) beside (1,'view',0)),
    * so the zero-fill applies only when every store step is on the
    * default list. The step set is key-grain store metadata (a
    * handful of rows), so the custom check is an O(store) read like
    * the report itself. */
  def funnelReportFrom(s: SparkSession, store: PointStore): DataFrame =
    funnelReportFrom(s, store.snapshot)

  /** The frame-shaped overload: any (step, step_name, users) snapshot —
    * current or a [[PointStore.snapshotAt]] time travel — renders the
    * same way (the served ?version= read). */
  def funnelReportFrom(s: SparkSession, snapshot: DataFrame): DataFrame = {
    import s.implicits._
    val defaults = StreamingFunnel.Steps.zipWithIndex
      .map { case (n, i) => (i + 1, n) }
    val snap = snapshot
      .select(col("step").cast("int").as("step"), col("step_name"),
        col("users"))
    val custom = snap.select(col("step"), col("step_name"))
      .as[(Int, String)].collect().exists(!defaults.contains(_))
    if (custom) snap
    else {
      val steps = defaults.toDF("step", "step_name")
        .select(col("step").cast("int").as("step"), col("step_name"))
      steps.join(snap, Seq("step", "step_name"), "left")
        .select(col("step"), col("step_name"),
          coalesce(col("users"), lit(0L)).as("users"))
    }
  }

  /** The session-funnel report read from a maintained (step, step_name)
    * /(users, visits) store — [[funnelReportFrom]]'s discipline with
    * both measures: default-path stores zero-fill absent steps (an
    * unreached step is zero users AND zero visits, it never vanishes),
    * custom-path stores serve their rows alone. */
  def funnelSessionsReportFrom(s: SparkSession, snapshot: DataFrame): DataFrame = {
    import s.implicits._
    val defaults = StreamingFunnel.Steps.zipWithIndex
      .map { case (n, i) => (i + 1, n) }
    val snap = snapshot
      .select(col("step").cast("int").as("step"), col("step_name"),
        col("users"), col("visits"))
    // bounded collect: the step set is key-grain store metadata (a
    // handful of rows — the funnelReportFrom custom-path discipline)
    val custom = snap.select(col("step"), col("step_name"))
      .as[(Int, String)].collect().exists(!defaults.contains(_))
    if (custom) snap
    else defaults.toDF("step", "step_name")
      .select(col("step").cast("int").as("step"), col("step_name"))
      .join(snap, Seq("step", "step_name"), "left")
      .select(col("step"), col("step_name"),
        coalesce(col("users"), lit(0L)).as("users"),
        coalesce(col("visits"), lit(0L)).as("visits"))
  }

  /** One maintenance pass: consume whatever NEW files sit in `watched`
    * (the checkpoint's file ledger decides what is new — a consumed
    * file is a no-op forever), fold the twin's cells into `store`
    * exactly-once on the store's batch-tag ledger. The unit the
    * registered lifecycles run per night and the served ingest
    * (POST /ingest/report) runs per posted drop.
    *
    * `maxFileAge` is pinned effectively-off: the source's default (7d,
    * relative to the NEWEST file) would silently skip the older nights
    * of a >7d drop history on any fresh-checkpoint pass — exactly the
    * takedown rebuild's shape — and would age consumed entries out of
    * the seen-files map. The cost is that map holding one entry per
    * drop file forever: drops are nightly-grain, so hundreds of
    * entries a year, never a scale term.
    *
    * `exclude` is the store's cumulative takedown roster, anti-joined
    * at the CELL grain (every twin's cells carry `user_id`) before the
    * key-grain aggregation: the landing filter in [[ingestDrop]]
    * already keeps roster rows out of the drops, and the takedown's
    * checkpoint swap erases their held state, so this filter is
    * defense in depth — it makes "an erased user's cells never fold"
    * a property of the fold itself, not of any one caller's
    * choreography. Broadcast: the roster is human-scale. */
  private[graft] def maintainOnce(s: SparkSession, fold: ReportFold,
                                  store: PointStore, watched: String,
                                  ckpt: String,
                                  exclude: Option[DataFrame] = None): Unit =
    withFoldTuning(s, watched) { tuned =>
      val stream = tuned.readStream
        .schema(fold.schema)
        .option("maxFileAge", "36500d")
        .parquet(watched)
      val q = fold.wire(stream).writeStream
        .foreachBatch((b: DataFrame, id: Long) => {
          val cells = exclude.fold(b)(r =>
            b.join(broadcast(r), Seq("user_id"), "left_anti"))
          StreamingPointStore.foldBatch(store, fold.partialOf, cells, id)
        })
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

  /** Scale-adaptive fold partitioning (r20 optimization; guide §2.2,
    * §2.4): one maintenance pass is a micro-batch pipeline over this
    * pass's drop files, so its shuffle/state partition count derives
    * from those files' BYTES — ceil(bytes / bytesPerPartition), the
    * scan-split convention — instead of inheriting the session's
    * fact-scale constant. A bench-SF night (a few hundred KB) folds in
    * one partition instead of 32 (the state store commits ONE delta
    * file per partition per micro-batch, so the constant-partitioned
    * fold paid 32 state commits — plus Spark 4.1's checksum companion
    * files — per batch to move a handful of report cells); a 1 TB
    * production night derives ~8k partitions and keeps every property
    * the fold relies on (partials are order- and partition-independent:
    * sums, counts, mergeable sketches). The derived value pins a NEW
    * checkpoint's state partitioning; an existing checkpoint keeps the
    * partitioning it was created with (Spark reads it back from the
    * offset log), so a store ingesting varying drop sizes stays
    * self-consistent. Knobs, all overridable per session:
    * `spark.graft.fold.bytesPerPartition` (default 128 MB),
    * `spark.graft.fold.maxPartitions` (default 16384),
    * `spark.graft.fold.ckptChecksum` (default false — the checkpoint
    * corruption guard writes two companion files per state/offset/
    * commit file; on the local-fs deployment the parquet CRCs already
    * cover the data files, and a lost checkpoint heals by rebuild, so
    * the guard is priced off by default; set true on storage without
    * end-to-end integrity). State-store maintenance (snapshot
    * re-uploads) is deferred past a pass's lifetime — a pass is a
    * handful of versions long, so replaying deltas on reopen is cheaper
    * than snapshotting mid-pass. Restore is best-effort under
    * concurrency: two concurrent passes on one session could leave the
    * smaller value set — partition count never changes any fold's
    * RESULT (the partial laws above), only its task layout. */
  private def withFoldTuning[T](s: SparkSession, watched: String)(body: SparkSession => T): T = {
    def confL(key: String, dflt: Long): Long =
      s.conf.getOption(key).map(_.toLong).getOrElse(dflt)
    // r21 (VERDICT/ADVICE): size the drop bytes through the Hadoop FS
    // API — the r20 java.io.File.listFiles returned null for any
    // non-local URI (hdfs://, s3a://), deriving ONE partition for a
    // 1 TB production night. A failed listing now falls back to the
    // SESSION's partition count (scale-unknown is not scale-tiny),
    // never to 1.
    val bytesOpt: Option[Long] =
      try {
        val p = new org.apache.hadoop.fs.Path(watched)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(p))
          Some(fs.listStatus(p).filter(_.isFile).map(_.getLen).sum)
        else Some(0L)
      } catch { case scala.util.control.NonFatal(_) => None }
    val perPart = confL("spark.graft.fold.bytesPerPartition", 128L << 20)
    val maxParts = confL("spark.graft.fold.maxPartitions", 16384L)
    val parts = bytesOpt.map(b =>
      math.min(maxParts, math.max(1L, (b + perPart - 1) / perPart)))
    // r21 (ADVICE): scope the overrides to a CLONED session instead of
    // mutate-and-restore on the shared one — a concurrent query started
    // on `s` mid-pass no longer inherits the fold's derived partition
    // count (a NEW streaming checkpoint created then would pin it
    // forever) or the checkpoint-checksum polarity. The clone shares
    // the SparkContext; the caller's session-level SQL overrides are
    // carried over first (static confs refuse the set and keep their
    // shared value, which is exactly right).
    val tuned = s.newSession()
    s.conf.getAll.foreach { case (k, v) =>
      try tuned.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    parts.foreach(p =>
      tuned.conf.set("spark.sql.shuffle.partitions", p.toString))
    tuned.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled",
      s.conf.getOption("spark.graft.fold.ckptChecksum").getOrElse("false"))
    tuned.conf.set("spark.sql.streaming.stateStore.maintenanceInterval",
      "600s")
    body(tuned)
  }

  /** A split-landing file name: `<tag>-pNNNNN.parquet`. */
  private val SplitName = "(.+)-p\\d{5}\\.parquet".r

  /** MID-FLIGHT drop files: split-landing files of a tag whose landed
    * marker is not yet written — a crash mid-landing's residue. A
    * maintenance pass must NEVER consume them: folding part of a night
    * advances the watermark past that night's event times (the files
    * of one drop share a time range — that is what a nightly drop IS),
    * so the completing files' rows on the healing redelivery would
    * arrive below the watermark and be dropped as late — a permanent,
    * silent undercount. Every [[maintainOnce]] caller sidelines them
    * into `_stream/midflight` for the duration of its pass and
    * restores them after; the restore also runs FIRST on every verb
    * (heal), so a crash mid-pass cannot strand them. Single-file
    * landings are never mid-flight — theirs is one atomic move. */
  private def sidelineMidflight(sdir: java.io.File): Unit = {
    val drops = new java.io.File(sdir, "drops")
    val landed = new java.io.File(sdir, "landed")
    val victims = Option(drops.listFiles())
      .getOrElse(Array.empty[java.io.File]).filter(f => f.getName match {
        // the width pin is the split-landing's own birth certificate
        // (written BEFORE any file move): without it the name is a
        // LEGACY single-file drop whose tag merely ends in -pNNNNN —
        // sidelining that would exclude its rows from every rebuild
        // forever (no marker under the captured prefix ever lands)
        case SplitName(tag) =>
          new java.io.File(landed, s"$tag.width").exists &&
            !new java.io.File(landed, tag).exists
        case _ => false
      })
    if (victims.nonEmpty) {
      val mid = new java.io.File(sdir, "midflight"); mid.mkdirs()
      victims.foreach(f => java.nio.file.Files.move(f.toPath,
        new java.io.File(mid, f.getName).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE))
    }
  }

  /** Undo [[sidelineMidflight]] — also the heal for a crash that left
    * files sidelined (every verb restores before it reads the drops).
    * `Files.move` keeps mtimes, so a sideline round-trip never re-ages
    * a drop. A restore target can only exist if landing choreography
    * broke (the restore runs before any landing in every verb), so it
    * fails loudly rather than guess which copy is real. */
  private def restoreMidflight(sdir: java.io.File): Unit = {
    val mid = new java.io.File(sdir, "midflight")
    Option(mid.listFiles()).getOrElse(Array.empty[java.io.File]).foreach { f =>
      val target = new java.io.File(new java.io.File(sdir, "drops"), f.getName)
      require(!target.exists,
        s"midflight restore collision on '${f.getName}' — a sidelined " +
          "drop file coexists with a landed one of the same name")
      java.nio.file.Files.move(f.toPath, target.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  final case class IngestResult(landed: Boolean, committed: Boolean,
                                version: Long)

  /** One WIRE-shape ingest — the unit POST /ingest/report serves, and
    * the library face for a caller who drives the same layout without
    * HTTP: land `rows` as the tag's drop file(s) in `_stream/drops`
    * (filtered through the cumulative takedown roster — an opted-out
    * user never re-enters, see [[takedownUsers]]; landing width auto
    * from the row count or pinned via `landParts` — [[dropFiles]]'s
    * parallel-landing contract) and run one
    * maintenance pass over whatever the checkpoint's file ledger says
    * is new. Exactly-once at both grains: a redelivered tag finds its
    * drop file landed and ledgered (landed=false, nothing re-folds); a
    * crash between landing and folding heals on redelivery because the
    * pass always runs. The fold configuration pins at first ingest in
    * `_stream/CONFIG` — a different configuration later throws (one
    * materialization), and a store that exists WITHOUT a config was
    * materialized by a library lifecycle whose checkpoint lives with
    * that driver (folding a fresh one here would double-count), so the
    * ingest refuses with the reason named. The maintenance stream
    * (`_stream`: drops + checkpoint + config + landed markers/widths +
    * takedowns ledger) is owned through its own
    * writer lease for the whole call; the store's lease is taken per
    * batch commit by appendTagged on the STREAMING thread (lease
    * reentrancy is per-thread — a cross-thread hold would deadlock). */
  def ingestDrop(s: SparkSession, dir: java.io.File, config: String,
                 tag: String, rows: DataFrame,
                 landParts: Option[Int] = None,
                 leaseWaitMs: Long = 0L): IngestResult = {
    val fold = foldOfConfig(s, config)
    val sdir = new java.io.File(dir, "_stream")
    // leaseWaitMs > 0 = the double-firing-scheduler convenience
    // (StoreFs.withWriterLease's bounded poll): the second firing of a
    // nightly job waits out the first and then no-ops on the ledgers,
    // instead of surfacing a 409 the scheduler must retry
    graft.sources.StoreFs(s, sdir.getPath)
      .withWriterLease(waitMs = leaseWaitMs) {
      // heal first: a crashed pass may have left mid-flight files
      // sidelined — restored, they are this very tag's partial landing
      // to complete, or another tag's to sideline again below
      restoreMidflight(sdir)
      val cfgFile = new java.io.File(sdir, "CONFIG")
      val manifest = new java.io.File(dir, "_MANIFEST")
      if (manifest.exists && !cfgFile.exists)
        throw new IllegalStateException(s"store at '$dir' exists but " +
          "carries no ingest config — it is maintained by a library " +
          "lifecycle (its checkpoint lives with that driver; a fresh " +
          "one here would double-count); fold through the lifecycle " +
          "or ingest into a fresh store")
      val stored = storedConfig(dir).getOrElse(config)
      require(stored == config,
        s"store is maintained as '$stored' — a maintained store is one " +
          s"materialization; this ingest asked for '$config'")
      val store =
        if (manifest.exists) PointStore.open(s, dir.getPath)
        else new PointStore(s, dir.getPath, keys = fold.keys,
          sums = fold.sums, maxes = Nil, quantiles = fold.quantiles)
      val drops = new java.io.File(sdir, "drops"); drops.mkdirs()
      if (!cfgFile.exists) {
        val tmp = new java.io.File(sdir, "CONFIG.tmp")
        java.nio.file.Files.write(tmp.toPath,
          config.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Files.move(tmp.toPath, cfgFile.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      // a .pending takedown without its committed record means a
      // takedown crashed mid-flight — between its purge and its
      // checkpoint swap the maintenance checkpoint may be mid-replace,
      // so folding now could consume through a ledger about to be
      // discarded; the heal is the takedown's own redelivery. A pending
      // WHOSE COMMITTED MARKER EXISTS is stale residue (the one crash
      // point after the marker write is the pending delete itself, and
      // the marker is written only after the swap completed) — it must
      // not block ingests forever, because the client never saw a
      // response and may not redeliver
      val td = new java.io.File(sdir, "takedowns")
      val pend = Option(td.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(".pending"))
        .filterNot(p => new java.io.File(td,
          s"${p.getName.stripSuffix(".pending")}.jsonl").exists)
      if (pend.nonEmpty) throw new IllegalStateException(
        s"a takedown is mid-flight on this store (pending: ${
          pend.map(_.getName.stripSuffix(".pending")).mkString(",")
        }) — redeliver POST /takedown/report with that tag first")
      val roster = exclusionRoster(s, dir)
      // the tag's landed grain: the marker (multi-file landings) or the
      // legacy single-file name — written AFTER every file move, so a
      // crash mid-landing re-lands idempotently on redelivery
      val landedDir = new java.io.File(sdir, "landed"); landedDir.mkdirs()
      val marker = new java.io.File(landedDir, tag)
      val landed = !marker.exists &&
        !new java.io.File(drops, s"$tag.parquet").exists
      if (landed) {
        val kept = roster.fold(rows)(r =>
          rows.join(broadcast(r), Seq("user_id"), "left_anti"))
        // the tag's landing WIDTH pins in a .width file BEFORE any
        // move: a redelivery after a crash mid-landing must complete
        // the original layout, and neither the caller's &parts nor the
        // auto width can be trusted to repeat (the auto count shifts
        // if a takedown landed between attempts) — a different width
        // would stage a second layout beside the first and double-fold
        val widthFile = new java.io.File(landedDir, s"$tag.width")
        val parts =
          if (widthFile.exists)
            new String(java.nio.file.Files.readAllBytes(widthFile.toPath),
              java.nio.charset.StandardCharsets.UTF_8).trim.toInt
          else {
            val p = landParts.getOrElse(
              (1L + (kept.count() - 1).max(0L) / DropFileRows).toInt)
            val tmp = new java.io.File(landedDir, s"$tag.width.tmp")
            java.nio.file.Files.write(tmp.toPath, p.toString.getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
            java.nio.file.Files.move(tmp.toPath, widthFile.toPath,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            p
          }
        dropFiles(kept, drops, tag, parts)
        java.nio.file.Files.createFile(marker.toPath)
      }
      // another tag's crashed partial landing must not fold in this
      // pass (the mid-flight watermark hazard — sidelineMidflight's
      // scaladoc); it folds whole when its own redelivery completes it
      sidelineMidflight(sdir)
      val before = store.version
      try maintainOnce(s, fold, store, drops.getPath,
        new java.io.File(sdir, "ckpt").getPath, exclude = roster)
      finally restoreMidflight(sdir)
      IngestResult(landed, store.version != before, store.version)
    }
  }

  /** The cumulative takedown roster of a wire-maintained store — the
    * union of every committed takedown's id record, read back from the
    * `_stream/takedowns` ledger. Every [[ingestDrop]] filters it before
    * landing, so an opted-out user never re-enters the store. */
  private[graft] def exclusionRoster(s: SparkSession,
                                     dir: java.io.File): Option[DataFrame] = {
    val td = new java.io.File(new java.io.File(dir, "_stream"), "takedowns")
    val files = Option(td.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".jsonl")).map(_.getPath).toSeq
    if (files.isEmpty) None
    else Some(s.read.schema("user_id LONG").json(files: _*).distinct())
  }

  /** Atomically replace a retained drop file with its purged image:
    * the staged write fully materializes `kept` BEFORE the rename, and
    * the rename replaces in one filesystem op — a crash leaves the old
    * file or the new, never neither (the retained drops are the
    * store's provenance; losing one would break every later rebuild). */
  private def rewriteDrop(kept: DataFrame, file: java.io.File): Unit = {
    val stage = new java.io.File(file.getParentFile.getParentFile,
      s"stage_purge_${file.getName}")
    kept.coalesce(1).write.mode("overwrite").parquet(stage.getPath)
    val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, file.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    PointStore.deleteRec(stage)
  }

  /** The per-file purge half of a takedown: rewrite `ids`' rows out of
    * every retained drop file — broadcast semi-count to leave unhit
    * files untouched (the common case for a human-scale roster),
    * broadcast anti-rewrite on hits, each file's ORIGINAL mtime
    * restored (see [[takedownUsers]]'s aging scaladoc). Returns rows
    * removed. */
  private def purgeDrops(s: SparkSession, sdir: java.io.File,
                         ids: DataFrame): Long = {
    // heal any crashed pass's sidelined files first — the purge must
    // walk EVERY retained file, mid-flight ones included (erasure
    // covers a crashed landing's residue too)
    restoreMidflight(sdir)
    val drops = Option(new java.io.File(sdir, "drops").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.lastModified).toSeq
    var removed = 0L
    drops.foreach { f =>
      val mtime = f.lastModified // the rewrite must not re-age the drop
      val df = s.read.parquet(f.getPath)
      val hit = df.join(broadcast(ids), Seq("user_id"), "left_semi").count()
      if (hit > 0) {
        rewriteDrop(df.join(broadcast(ids), Seq("user_id"), "left_anti"), f)
        f.setLastModified(mtime)
        removed += hit
      }
    }
    removed
  }

  /** The re-derivation half of a takedown: fold the (purged) drops
    * through the store's pinned config into a scratch store under a
    * fresh checkpoint, flip it in via the ledger-replacing
    * [[PointStore.overwriteTagged]], and SWAP IN the scratch
    * checkpoint ([[takedownUsers]]'s three-wrongs scaladoc). The
    * scratch fold also screens cells against the CUMULATIVE roster
    * (prior takedowns — deferred included — plus `ids`): redundant
    * with the purge, load-bearing only if a drop rewrite is ever
    * undone out-of-band, but it makes the rebuild's contract local. */
  private def rebuildAndSwap(s: SparkSession, dir: java.io.File,
                             sdir: java.io.File, cfg: String,
                             ids: DataFrame, flipTag: String): Unit = {
    val fold = foldOfConfig(s, cfg)
    val scratchRoot = new java.io.File(sdir, "rebuild")
    PointStore.deleteRec(scratchRoot); scratchRoot.mkdirs()
    val scratch = new PointStore(s,
      new java.io.File(scratchRoot, "report").getPath,
      keys = fold.keys, sums = fold.sums, maxes = Nil,
      quantiles = fold.quantiles)
    val cumulative = exclusionRoster(s, dir)
      .fold(ids)(_.unionByName(ids)).distinct()
    // the rebuild folds exactly the LANDED drops: a crashed partial
    // landing is sidelined, else its partial fold advances the
    // watermark past the night and the completing files' rows would
    // drop as late on the healing redelivery (the mid-flight hazard —
    // pinned red-then-green in MaintainedSpec's partition-id spec)
    sidelineMidflight(sdir)
    try maintainOnce(s, fold, scratch,
      new java.io.File(sdir, "drops").getPath,
      new java.io.File(scratchRoot, "ckpt").getPath,
      exclude = Some(cumulative))
    finally restoreMidflight(sdir)
    val real =
      if (new java.io.File(dir, "_MANIFEST").exists)
        PointStore.open(s, dir.getPath)
      else new PointStore(s, dir.getPath, keys = fold.keys,
        sums = fold.sums, maxes = Nil, quantiles = fold.quantiles)
    real.overwriteTagged(flipTag, scratch.snapshot,
      keep = t => !t.matches("b\\d+"), adopt = scratch.consumedTags)
    // swap in the scratch checkpoint: the old one holds the roster's
    // slack-held events, has finalized reaches the flip just
    // discarded, and disagrees with the rebuild about any landed-but-
    // unfolded drop ([[takedownUsers]] scaladoc) — all three heal only
    // by adopting the checkpoint that PRODUCED the new base
    val ckpt = new java.io.File(sdir, "ckpt")
    val old = new java.io.File(sdir, "ckpt.old")
    PointStore.deleteRec(old)
    if (ckpt.exists) java.nio.file.Files.move(ckpt.toPath, old.toPath)
    java.nio.file.Files.move(
      new java.io.File(scratchRoot, "ckpt").toPath, ckpt.toPath)
    PointStore.deleteRec(old)
    PointStore.deleteRec(scratchRoot)
  }

  final case class TakedownResult(committed: Boolean, removed: Long,
                                  version: Long)

  /** COMPLIANCE for maintained analytics stores — the user-grain
    * takedown (opt-out, erasure) an additive count store cannot express
    * as a subtraction: the counts are anonymous aggregates (nothing in
    * a (step, users) row says WHICH users contributed), so the faithful
    * remedies are exactly two.
    *   (a) Re-derive the store from PURGED inputs — possible exactly
    *       when the inputs are retained, which is what the wire layout
    *       does: `_stream/drops` holds every ingested night. This verb
    *       is (a).
    *   (b) For a LIBRARY-maintained store, whose inputs live with the
    *       driving lifecycle, re-run that lifecycle over the purged
    *       upstream events. This verb refuses such a store with the
    *       reason named — it cannot see inputs it does not hold.
    *
    * It is a PURGE, not a mask: the roster's rows are first rewritten
    * OUT of the retained drop files (after this the store's entire
    * on-disk footprint holds none of the user's events — what erasure
    * means; the drop rewrites are individually atomic), then the report
    * is re-derived by folding the purged drops through the store's own
    * pinned fold recipe into a scratch store under a fresh checkpoint,
    * and committed in ONE atomic manifest flip via
    * [[PointStore.overwriteTagged]] — readers see the old report or the
    * new, never a partial, and the vacuum horizon advances so
    * changefeed followers resync rather than mis-reading a replacement
    * as an incremental window (the cascading-resync contract).
    *
    * ==The checkpoint swap==
    * The rebuild REPLACES the maintenance checkpoint (`_stream/ckpt`)
    * with the scratch fold's, not just the report — the old checkpoint
    * is wrong in three ways the report flip alone cannot heal, all
    * pinned red-then-green in MaintainedSpec:
    *   - it HOLDS the roster's not-yet-final events (the watermark
    *     slack at takedown time): the next ingest's watermark advance
    *     would finalize them and fold the erased user back into the
    *     rebuilt store;
    *   - it remembers innocent users' reaches the flip DISCARDED: an
    *     event final under the old watermark but held under the purged
    *     drops' lower one is in the old state's fin vector, so it would
    *     never re-emit — the reach is lost forever;
    *   - its file ledger disagrees with the rebuild about a
    *     landed-but-unfolded drop (the ingest crash window): the
    *     rebuild bakes it in, so a healing redelivery through the old
    *     ledger would fold it a second time.
    * The scratch checkpoint is right on all three by construction: it
    * folded exactly the purged drops, holds exactly their open tail,
    * and has ledgered every current drop file. Its batch ids restart
    * at 0, so the flip goes through the ledger-replacing
    * [[PointStore.overwriteTagged]] overload: the store drops its old
    * stream's `bN` tags (they would swallow the new stream's future
    * batches) and adopts the scratch's. The swap itself stages the old
    * checkpoint aside (`ckpt.old`) before the rename; the only
    * non-atomic window leaves no checkpoint, which [[ingestDrop]]
    * refuses to fold through (the `.pending` marker is still laid) and
    * the takedown's own redelivery heals. After the swap the store's
    * entire `_stream` footprint — drops, checkpoint state, ledger —
    * holds none of the roster's data: erasure includes the residue.
    *
    * Exactly-once on the request tag rides the `_stream/takedowns`
    * ledger: the committed marker doubles as the roster's durable
    * record (the forward exclusion [[ingestDrop]] applies), and a
    * `.pending` marker laid before the first rewrite forces the rebuild
    * on redelivery even when the re-run finds nothing left to purge —
    * the crash may have hit between the purge and the flip.
    * overwriteTagged's own tag ledger makes the flip itself idempotent.
    *
    * Each rewritten drop gets its ORIGINAL modification timestamp back
    * (order AND age, not a fresh re-stamp): the file source's seen-map
    * ages entries relative to the newest file, so re-stamping a >7d
    * history to "now" would make aged-out consumed drops look NEW to
    * the next ingest and double-count the store — the failure
    * [[maintainOnce]]'s pinned maxFileAge also forecloses.
    *
    * The roster is a posted request (human-scale, like every takedown
    * face in the family); it broadcasts into the per-file anti-joins
    * and collects only for the marker record.
    *
    * ==Deferral (the cost amortization)==
    * The purge + rebuild is O(retained history) — at 100 TB a full
    * corpus-scale re-derivation per compliance ticket, and k separate
    * rosters would cost k rebuilds. `defer = true` splits the remedy
    * along its cost line: the roster LANDS exactly-once on the
    * `_stream/takedowns` ledger immediately (as `<tag>.deferred.jsonl`
    * — [[exclusionRoster]] unions every `*.jsonl` record, so the
    * FORWARD EXCLUSION is live from this call on: the user's events
    * never enter another drop or fold), while the expensive half —
    * purge of the retained drops + the one rebuild — waits for
    * [[takedownFlush]], which settles ALL deferred rosters in ONE
    * O(history) pass. Between landing and flush the retained drops
    * still hold the roster's rows and the report still carries their
    * past contributions (an additive store cannot subtract — erasure
    * is PENDING, and GET /health/report names the pending-purge
    * rosters); `committed = true` on a deferred call means the roster
    * landed durably, not that erasure completed. A deferred tag
    * redelivered — eagerly or deferred — is a no-op. */
  def takedownUsers(s: SparkSession, dir: java.io.File, roster: DataFrame,
                    tag: String, defer: Boolean = false,
                    leaseWaitMs: Long = 0L): TakedownResult = {
    val sdir = new java.io.File(dir, "_stream")
    graft.sources.StoreFs(s, sdir.getPath)
      .withWriterLease(waitMs = leaseWaitMs) {
      val cfg = storedConfig(dir).getOrElse(throw new IllegalStateException(
        s"store at '$dir' carries no ingest config — it is maintained by " +
          "a library lifecycle whose inputs live upstream; re-run that " +
          "lifecycle over the purged events instead"))
      val td = new java.io.File(sdir, "takedowns"); td.mkdirs()
      val marker = new java.io.File(td, s"$tag.jsonl")
      val deferredMarker = new java.io.File(td, s"$tag.deferred.jsonl")
      def versionNow = PointStore.versionOf(dir.getPath).getOrElse(0L)
      def landRoster(target: java.io.File): DataFrame = {
        val ids = roster.select(col("user_id").cast("long").as("user_id"))
          .distinct().localCheckpoint(true)
        val tmp = new java.io.File(td, s"${target.getName}.tmp")
        java.nio.file.Files.write(tmp.toPath, ids.toJSON.collect()
          .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Files.move(tmp.toPath, target.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        ids
      }
      if (marker.exists) {
        // a crash between the marker write and the pending delete
        // leaves stale residue that would read as mid-flight forever —
        // the committed redelivery is the cleanup point. The cleanup
        // is gated on the COMMITTED marker alone: only it is written
        // after the rebuild's checkpoint swap completed, so only it
        // proves the pending is residue rather than a live wound (a
        // deferred record says nothing about a crashed eager rebuild)
        java.nio.file.Files.deleteIfExists(
          new java.io.File(td, s"$tag.pending").toPath)
        TakedownResult(committed = false, 0L, versionNow)
      } else if (deferredMarker.exists) {
        TakedownResult(committed = false, 0L, versionNow)
      } else if (defer) {
        // an open .pending without a committed marker = an eager
        // takedown under this tag crashed mid-rebuild (checkpoint
        // possibly mid-replace). Landing a deferred record now would
        // make a later redelivery of THIS tag read as a no-op and
        // delete the pending — unblocking ingest over a store whose
        // swap never completed. Refuse; the eager redelivery heals.
        if (new java.io.File(td, s"$tag.pending").exists)
          throw new IllegalStateException(
            s"takedown '$tag' crashed mid-rebuild on this store — " +
              "redeliver it eagerly (no &defer) to complete the " +
              "rebuild before deferring under this tag")
        landRoster(deferredMarker)
        TakedownResult(committed = true, 0L, versionNow)
      } else {
        val pending = new java.io.File(td, s"$tag.pending")
        val crashed = pending.exists
        if (!crashed) java.nio.file.Files.createFile(pending.toPath)
        val ids = roster.select(col("user_id").cast("long").as("user_id"))
          .distinct().localCheckpoint(true)
        val removed = purgeDrops(s, sdir, ids)
        if (removed > 0 || crashed)
          rebuildAndSwap(s, dir, sdir, cfg, ids, s"takedown-$tag")
        // the committed marker doubles as the cumulative-roster record
        val tmp = new java.io.File(td, s"$tag.jsonl.tmp")
        java.nio.file.Files.write(tmp.toPath, ids.toJSON.collect()
          .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Files.move(tmp.toPath, marker.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        java.nio.file.Files.deleteIfExists(pending.toPath)
        TakedownResult(committed = true, removed, versionNow)
      }
    }
  }

  final case class FlushResult(committed: Boolean, flushed: Seq[String],
                               removed: Long, version: Long)

  /** Settle every DEFERRED takedown roster in ONE purge + rebuild —
    * the other half of [[takedownUsers]]'s `defer`: k rosters deferred
    * since the last flush cost one O(history) re-derivation instead of
    * k, which is what makes per-ticket compliance affordable against a
    * 100 TB retained history. The union roster purges the retained
    * drops (per-file atomic rewrites, original mtimes kept), the
    * report re-folds once through the store's pinned config, the
    * checkpoint swaps once, and each deferred record GRADUATES to a
    * committed one under its own request tag — so per-request
    * redelivery (eager or deferred) stays a no-op forever, and the
    * cumulative exclusion roster reads identically before and after.
    *
    * Exactly-once on the flush's own `tag` rides the same ledger
    * choreography as the eager verb: a `.pending` marker laid before
    * the first rewrite forces the rebuild on redelivery even when the
    * re-run finds nothing left to purge or graduate (the crash may
    * have hit between the purge and the flip, or mid-graduation), and
    * [[ingestDrop]] refuses to fold while the flush is mid-flight. A
    * flush that finds nothing deferred — and is not itself such a
    * redelivery — is a no-op (`committed = false`, no rebuild). */
  def takedownFlush(s: SparkSession, dir: java.io.File, tag: String,
                    leaseWaitMs: Long = 0L): FlushResult = {
    import s.implicits._
    val sdir = new java.io.File(dir, "_stream")
    graft.sources.StoreFs(s, sdir.getPath)
      .withWriterLease(waitMs = leaseWaitMs) {
      val cfg = storedConfig(dir).getOrElse(throw new IllegalStateException(
        s"store at '$dir' carries no ingest config — it is maintained by " +
          "a library lifecycle whose inputs live upstream; re-run that " +
          "lifecycle over the purged events instead"))
      val td = new java.io.File(sdir, "takedowns"); td.mkdirs()
      val marker = new java.io.File(td, s"$tag.jsonl")
      def versionNow = PointStore.versionOf(dir.getPath).getOrElse(0L)
      if (marker.exists) {
        // same stale-pending cleanup as the eager verb's no-op branch
        java.nio.file.Files.deleteIfExists(
          new java.io.File(td, s"$tag.pending").toPath)
        FlushResult(committed = false, Nil, 0L, versionNow)
      } else if (new java.io.File(td, s"$tag.deferred.jsonl").exists) {
        // the flush marker lands at <tag>.jsonl — the SAME name this
        // deferred roster would graduate to. Proceeding would graduate
        // the roster and then ATOMIC_MOVE the flush's EMPTY marker
        // over it, erasing those user ids from the cumulative
        // exclusion roster with redelivery a no-op forever. Refuse;
        // the flush needs a tag of its own.
        throw new IllegalStateException(
          s"flush tag '$tag' names a deferred takedown roster — its " +
            "graduated record and the flush marker would collide at " +
            s"'$tag.jsonl'; flush under a tag of its own")
      } else {
        val pending = new java.io.File(td, s"$tag.pending")
        val crashed = pending.exists
        val deferred = Option(td.listFiles())
          .getOrElse(Array.empty[java.io.File])
          .filter(_.getName.endsWith(".deferred.jsonl"))
          .sortBy(_.getName).toSeq
        if (deferred.isEmpty && !crashed)
          FlushResult(committed = false, Nil, 0L, versionNow)
        else {
          if (!crashed) java.nio.file.Files.createFile(pending.toPath)
          val ids = (if (deferred.isEmpty) Seq.empty[Long].toDF("user_id")
            else s.read.schema("user_id LONG")
              .json(deferred.map(_.getPath): _*))
            .select(col("user_id").cast("long").as("user_id"))
            .distinct().localCheckpoint(true)
          val removed = purgeDrops(s, sdir, ids)
          rebuildAndSwap(s, dir, sdir, cfg, ids, s"takedown-$tag")
          val flushedTags =
            deferred.map(_.getName.stripSuffix(".deferred.jsonl"))
          deferred.foreach { f =>
            java.nio.file.Files.move(f.toPath, new java.io.File(td,
              s"${f.getName.stripSuffix(".deferred.jsonl")}.jsonl").toPath,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          }
          // the flush's own committed marker: an EMPTY roster record —
          // its durable roster content is the graduated per-request
          // files, which keep their own tags
          val tmp = new java.io.File(td, s"$tag.jsonl.tmp")
          java.nio.file.Files.write(tmp.toPath, Array.empty[Byte])
          java.nio.file.Files.move(tmp.toPath, marker.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          java.nio.file.Files.deleteIfExists(pending.toPath)
          FlushResult(committed = true, flushedTags, removed, versionNow)
        }
      }
    }
  }

  /** Drive one report's whole maintenance lifecycle against the events
    * table: hardlink the staged drops into this query's watched dir
    * cycle by cycle, run the maintenance job once per cycle (a full
    * engine RESTART between — the checkpoint carries the watermark and
    * file ledger, so consumed files are in the ledger before the next
    * lands), return the maintained store. `fold` is the report type's
    * recipe ([[foldOf]]); `cycles` is the drop schedule — files
    * landing in one cycle share a batch (a set; within-batch order
    * can't matter), files in later cycles see the watermark the
    * earlier ones advanced. */
  private def driveMaintained(s: SparkSession, d: String, prefix: String,
                              fold: ReportFold,
                              cycles: Seq[Seq[String]]): PointStore = {
    // a segmented fold's store keys name the axes its drops must carry
    val fixture = nightsFixtureOf(s, d, segAxes(fold.keys))
    val root = graft.operators.DedupIndex.freshRunDir(prefix, d)
    val watched = new java.io.File(root, "drops"); watched.mkdirs()
    val store = new PointStore(s, new java.io.File(root, "report").getPath,
      keys = fold.keys, sums = fold.sums, maxes = Nil,
      quantiles = fold.quantiles)
    val ckpt = new java.io.File(root, "ckpt").getPath
    cycles.foreach { names =>
      names.foreach(n => java.nio.file.Files.createLink(
        new java.io.File(watched, s"$n.parquet").toPath,
        new java.io.File(fixture, s"$n.parquet").toPath))
      maintainOnce(s, fold, store, watched.getPath, ckpt)
    }
    store
  }

  /** The flagship per-night choreography: one cycle per night, then
    * each sentinel alone — five engine restarts, the full nightly
    * cadence. */
  private val PerNight =
    Seq(Seq("n0"), Seq("n1"), Seq("n2"), Seq("s1"), Seq("s2"))
  /** The condensed choreography retention/paths use: same proof
    * obligations (fold across restarts, watermark finality, sentinel
    * tail flush) in three cycles — the per-night cadence is the funnel
    * flagship's job, and a cycle's files share one batch (a set), so
    * grouping loses nothing the twins' own specs don't cover. */
  private val Condensed = Seq(Seq("n0", "n1"), Seq("n2", "s1"), Seq("s2"))

  /** `funnel_maintained`: the chained funnel report as a maintained
    * table. Oracle = the one-shot staged-min funnel SQL. */
  def funnelMaintained(s: SparkSession, d: String): DataFrame = {
    val store = driveMaintained(s, d, "graft_funmaint_",
      foldOf(s, "funnel"), cycles = PerNight)
    funnelReportFrom(s, store)
  }

  /** `funnel_deepest_maintained`: the anchored deepest-chain funnel as
    * a maintained table — the [[StreamingFunnelDeepest]] twin driven
    * against real events. Its reaches are exactly-once per (user,
    * step), so the additive count fold IS the distinct-user depth
    * report, and the read face is the same (step, step_name, users)
    * shape GET /funnel?store= already serves. Oracle = the anchor-
    * grain staged SQL at the registered 1-day horizon. */
  def funnelDeepestMaintained(s: SparkSession, d: String): DataFrame = {
    val store = driveMaintained(s, d, "graft_deepmaint_",
      foldOf(s, "funnel_deepest", windowMs = Some(graft.operators.Windows
        .parseHorizon(graft.operators.Windows.FunnelHorizon))),
      cycles = Condensed)
    funnelReportFrom(s, store)
  }

  /** `funnel_sessions_maintained`: the per-visit funnel — the flavor
    * product teams usually mean by "the signup funnel" — as a
    * maintained table, at the registered 30-minute session gap. The
    * [[StreamingFunnelSessions]] twin emits one cell per (user,
    * session, step) reach with the first-ever-per-user flag riding
    * along, so BOTH report measures fold additively: `visits` counts
    * cells, `users` sums the flag — no distinct aggregation anywhere
    * downstream of the stream. Oracle = the one-shot sessionized
    * staged-min funnel SQL at (user, sid) grain
    * ([[graft.operators.Windows.eventsFunnelSessionsOracle]]). */
  def funnelSessionsMaintained(s: SparkSession, d: String): DataFrame = {
    val store = driveMaintained(s, d, "graft_sfunmaint_",
      foldOf(s, "funnel_sessions", gapMs = Some(1800000L)),
      cycles = Condensed)
    funnelSessionsReportFrom(s, store.snapshot)
  }

  /** A segmented report read from a maintained store keyed on the axis
    * columns `axes` plus the report's `grain`: the per-segment rows plus
    * an "all" member on EVERY axis from one 2^N GROUPING SETS pass over
    * the key-grain store rows (a handful), never the events. The twins
    * pin each user's entry segment (each pair's from-event's, for
    * paths), so every partial is over disjoint contributions and every
    * rollup is a plain sum — or a sketch merge. Axis `seg<k>` reads as
    * `segment<k>`: which attributes a store folds is its
    * materialization's business. */
  private def axesRollup(snapshot: DataFrame, axes: Seq[String],
                         grain: Seq[String], aggs: Seq[Column],
                         out: Seq[Column]): DataFrame =
    snapshot
      .groupingSets(graft.operators.Windows.segGroupingSets(grain.map(col), axes),
        (axes ++ grain).map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(axes.map(a => coalesce(col(a), lit("all")).as(reportAxis(a))) ++
        out: _*)

  /** The segmented-funnel report read from a maintained
    * (seg₁…segₙ, step, step_name)/users store — [[axesRollup]] at step
    * grain. Shape ≡ `events_funnel_segmented[2]` (the second axis named
    * `segment2`). */
  def funnelSegmentedReportFrom(s: SparkSession, snapshot: DataFrame,
                                axes: Seq[String] = axisNames(1)): DataFrame =
    axesRollup(snapshot.withColumn("step", col("step").cast("int")), axes,
      Seq("step", "step_name"), Seq(sum(col("users")).as("users")),
      Seq(col("step"), col("step_name"), col("users")))

  /** The segmented cohort matrix read from a maintained
    * (seg₁…segₙ, cohort, offset)/users store. */
  def retentionSegmentedReportFrom(s: SparkSession, snapshot: DataFrame,
                                   axes: Seq[String]): DataFrame =
    axesRollup(snapshot.withColumn("cohort", graft.Tables.tstr(col("cohort"))),
      axes, Seq("cohort", "offset"), Seq(sum(col("users")).as("users")),
      Seq(col("cohort"), col("offset"), col("users")))

  /** The segmented transition matrix read from a maintained
    * (seg₁…segₙ, from_step, to_step)/n store. */
  def pathsSegmentedReportFrom(s: SparkSession, snapshot: DataFrame,
                               axes: Seq[String]): DataFrame =
    axesRollup(snapshot, axes, Seq("from_step", "to_step"),
      Seq(sum(col("n")).as("n")),
      Seq(col("from_step"), col("to_step"), col("n")))

  /** The segmented hop-latency report read from a maintained
    * (seg₁…segₙ, hop)/(n_users, sk) store: counts SUM across segments,
    * sketches MERGE (the compactor is mergeable; in the exact regime the
    * merged sketch holds every latency, so an "all" member's percentiles
    * equal quantile_disc over its users). Shape ≡
    * `funnel_latency_segmented[2]`. */
  def latencySegmentedReportFrom(s: SparkSession, snapshot: DataFrame,
                                 axes: Seq[String]): DataFrame = {
    import graft.functions.SketchOps
    axesRollup(snapshot, axes, Seq("hop"),
      Seq(sum(col("n_users")).as("n_users"),
        SketchOps.quantileMerge(col("sk")).as("sk")),
      col("hop") +: col("n_users") +:
        graft.operators.TextOps.QuantilePoints.map { case (q, n) =>
          SketchOps.quantileAt(col("sk"), q).as(n) })
  }

  /** One segmented lifecycle: drive `typ`'s fold through the condensed
    * cycles over the nights staged with its axes, then read the store
    * through `report`. The registered second axis is the customer's
    * nation, so it reads as the batch oracle's `region`. */
  private def segmentedMaintained(s: SparkSession, d: String, prefix: String,
                                  fold: ReportFold)(
      report: (DataFrame, Seq[String]) => DataFrame): DataFrame = {
    val store = driveMaintained(s, d, prefix, fold, cycles = Condensed)
    report(store.snapshot, segAxes(fold.keys))
      .withColumnRenamed("segment2", "region")
  }

  /** `funnel_segmented_maintained`: the segmented funnel as a
    * maintained table — the reference's dimension expansion carried
    * into the maintenance loop: the [[StreamingFunnelSegmented]] twin
    * fixes each user's entry segment at their step-1 fold, the store
    * keys on (seg, step, step_name) with an additive user count, and
    * the "all" member rolls up at read time. Oracle = the segmented
    * staged-min SQL with its GROUPING SETS rollup (the batch query's
    * oracle, unchanged — the two must agree row for row). */
  def funnelSegmentedMaintained(s: SparkSession, d: String): DataFrame =
    segmentedMaintained(s, d, "graft_segmaint_",
      foldOf(s, "funnel_segmented"))(funnelSegmentedReportFrom(s, _, _))

  /** `funnel_segmented2_maintained`: the TWO-axis segmented funnel — the
    * reference's SIMULTANEOUS dimension expansion (crunch_global.sql:
    * 38-50) in the maintenance loop: the same twin pins each user's
    * entry (segment, region) pair, the store keys on
    * (seg, seg2, step, step_name), and both "all" axes roll up at read
    * time (2^2 grouping sets over store rows). Oracle = the batch
    * `events_funnel_segmented2` query's staged SQL, UNCHANGED. */
  def funnelSegmented2Maintained(s: SparkSession, d: String): DataFrame =
    segmentedMaintained(s, d, "graft_seg2maint_",
      foldOf(s, "funnel_segmented2"))(funnelSegmentedReportFrom(s, _, _))

  /** `funnel_deepest_segmented_maintained`: the segmented deepest
    * funnel as a maintained table — the
    * [[StreamingFunnelDeepestSegmented]] twin's entry-segment reaches
    * (exactly-once per (user, depth)) folded at (seg, step, step_name)
    * grain; the read face is [[funnelSegmentedReportFrom]] UNCHANGED
    * (the store shares the chained segmented store's shape, so
    * GET /funnel?store= dispatches it for free). Oracle = the batch
    * query's anchor-grain staged SQL with its GROUPING SETS rollup at
    * the registered 1-day horizon. */
  def funnelDeepestSegmentedMaintained(s: SparkSession,
                                       d: String): DataFrame =
    segmentedMaintained(s, d, "graft_segdeepmaint_",
      foldOf(s, "funnel_deepest_segmented",
        windowMs = Some(graft.operators.Windows
          .parseHorizon(graft.operators.Windows.FunnelHorizon))))(
      funnelSegmentedReportFrom(s, _, _))

  /** `retention_segmented_maintained` / `retention_segmented2_maintained`:
    * the segmented cohort matrix as a maintained table — the
    * [[StreamingRetentionSegmented]] twin's entry-segment cells folded
    * at (seg₁…segₙ, cohort, offset) grain. Oracle = the batch query's
    * cohort SQL with its GROUPING SETS rollup, unchanged. */
  def retentionSegmentedMaintained(s: SparkSession, d: String): DataFrame =
    segmentedMaintained(s, d, "graft_segretmaint_",
      foldOf(s, "retention_segmented", period = Some("week")))(
      retentionSegmentedReportFrom(s, _, _))

  def retentionSegmented2Maintained(s: SparkSession, d: String): DataFrame =
    segmentedMaintained(s, d, "graft_segret2maint_",
      foldOf(s, "retention_segmented2", period = Some("week")))(
      retentionSegmentedReportFrom(s, _, _))

  /** `paths_segmented_maintained` / `paths_segmented2_maintained`: the
    * segmented transition matrix as a maintained table — the
    * [[StreamingPathsSegmented]] twin's from-attributed pairs folded at
    * (seg₁…segₙ, from, to) grain. Oracle = the batch query's
    * lead-window SQL with its rollup, unchanged. */
  def pathsSegmentedMaintained(s: SparkSession, d: String): DataFrame =
    segmentedMaintained(s, d, "graft_segpathmaint_",
      foldOf(s, "paths_segmented"))(pathsSegmentedReportFrom(s, _, _))

  def pathsSegmented2Maintained(s: SparkSession, d: String): DataFrame =
    segmentedMaintained(s, d, "graft_segpath2maint_",
      foldOf(s, "paths_segmented2"))(pathsSegmentedReportFrom(s, _, _))

  /** `latency_segmented_maintained` / `latency_segmented2_maintained`:
    * time-to-convert BY SEGMENT as a maintained table. The
    * [[StreamingFunnelSegmented]] reaches carry `lat_us` for free (the
    * fin vector holds the previous reach at fold time — the plain
    * twin's trick), so the store is one additive (seg₁…segₙ, hop) fold
    * with a mergeable sketch measure and no second stateful pairing.
    * Oracle = the batch query's segment-riding staged SQL with its
    * GROUPING SETS quantile_disc rollup. */
  def latencySegmentedMaintained(s: SparkSession, d: String): DataFrame =
    segmentedMaintained(s, d, "graft_seglatmaint_",
      foldOf(s, "latency_segmented"))(latencySegmentedReportFrom(s, _, _))

  def latencySegmented2Maintained(s: SparkSession, d: String): DataFrame =
    segmentedMaintained(s, d, "graft_seglat2maint_",
      foldOf(s, "latency_segmented2"))(latencySegmentedReportFrom(s, _, _))

  /** `retention_maintained`: the weekly cohort matrix as a maintained
    * table. Oracle = the one-shot retention SQL (the cells are emitted
    * exactly once per (user, offset), so the additive fold IS the
    * matrix). */
  def retentionMaintained(s: SparkSession, d: String): DataFrame = {
    val store = driveMaintained(s, d, "graft_retmaint_",
      foldOf(s, "retention", period = Some("week")), cycles = Condensed)
    store.snapshot.select(graft.Tables.tstr(col("cohort")).as("cohort"),
      col("offset"), col("users"))
  }

  /** `retention_rolling_maintained`: the churn curve as a maintained
    * table — the rolling reading ("active at offset k OR LATER")
    * beside the classic matrix. The rolling twin emits the (cohort, k]
    * INCREMENTS as each user's max offset advances (exactly once per
    * (user, offset), eager-safe because the frontier is monotone —
    * [[StreamingRetention.stepRolling]]'s scaladoc), so the same
    * additive (cohort, offset)/users store grain serves both readings;
    * which one a store holds is fixed by the lifecycle that maintains
    * it (a store is ONE materialization — the read face is identical).
    * Oracle = the one-shot rolling SQL over the same events. */
  def retentionRollingMaintained(s: SparkSession, d: String): DataFrame = {
    val store = driveMaintained(s, d, "graft_rollmaint_",
      foldOf(s, "retention_rolling", period = Some("week")),
      cycles = Condensed)
    store.snapshot.select(graft.Tables.tstr(col("cohort")).as("cohort"),
      col("offset"), col("users"))
  }

  /** `paths_maintained`: the transition matrix as a maintained table.
    * Oracle = the one-shot lead-window SQL (pairs are emitted exactly
    * once per adjacency; the µs state grain makes the stream's
    * (ts, event_id) ordering identical to the batch window's). */
  def pathsMaintained(s: SparkSession, d: String): DataFrame = {
    val store = driveMaintained(s, d, "graft_pathmaint_",
      foldOf(s, "paths"), cycles = Condensed)
    store.snapshot.select(col("from_step"), col("to_step"), col("n"))
  }

  /** `paths_sessionized_maintained`: the transition matrix bounded to
    * the registered 30-minute gap-session, as a maintained table — the
    * [[StreamingPaths]] twin's `gapMs` (batch parity with
    * `events_paths_sessionized`'s `withinGapMs`) driven through the
    * nightly lifecycle. Same (from_step, to_step)/n store grain as the
    * unbounded matrix: suppression changes which pairs EMIT, never the
    * fold, so GET /paths?store= serves either store unchanged (which
    * one it holds is the lifecycle's configuration). Oracle = the
    * one-shot sessionized lead-window SQL. */
  def pathsSessionizedMaintained(s: SparkSession, d: String): DataFrame = {
    val store = driveMaintained(s, d, "graft_spathmaint_",
      foldOf(s, "paths", gapMs = Some(1800000L)), cycles = Condensed)
    store.snapshot.select(col("from_step"), col("to_step"), col("n"))
  }

  /** `latency_maintained`: the funnel hop-latency distributions as a
    * maintained table. Every reach the funnel twin emits carries its
    * hop latency (`Reach.lat_us` — the previous reach time was in the
    * fin vector, so it rides for free), so the per-hop p25/p50/p75/p95
    * is ONE more additive fold: a (hop)-keyed store with a count sum
    * and a mergeable QuantileSketch measure, no second stateful
    * pairing, no user-grain join. Exact-regime at the oracle SF (per-
    * hop counts ≪ the sketch's k=4096), so the quantile_disc oracle
    * hash-matches — the quantiles_by_lang convention applied to the
    * funnel's time-to-convert. */
  def latencyMaintained(s: SparkSession, d: String): DataFrame = {
    import graft.functions.SketchOps
    val store = driveMaintained(s, d, "graft_latmaint_",
      foldOf(s, "latency"), cycles = Condensed)
    store.snapshot.select(col("hop") +: col("n_users") +:
      graft.operators.TextOps.QuantilePoints.map { case (q, n) =>
        SketchOps.quantileAt(col("sk"), q).as(n) }: _*)
  }

  /** `report_takedown`: the compliance story for a maintained analytics
    * store, end to end — drive a WIRE-shape funnel store through
    * [[ingestDrop]] (the served face's exact chain: tag-named retained
    * drops, config pinned at first ingest, one maintenance pass per
    * drop), then [[takedownUsers]] purges every user with
    * `user_id % 7 == 3` (the "users who filed requests" roster): their
    * rows rewritten out of the retained drops, the report re-derived
    * from the purged drops and committed in one atomic flip. A
    * redelivered takedown tag commits nothing, and a LATER ingest of a
    * roster user's events (inside the open watermark tail, finalized by
    * a following sentinel) never enters the store — the forward
    * exclusion a production opt-out implies; if either guarantee broke,
    * the report would drift off the oracle. Oracle = the one-shot
    * staged-min funnel SQL over `events WHERE user_id % 7 <> 3`. */
  def reportTakedown(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fixture = nightsFixture(s, d)
    val root = graft.operators.DedupIndex.freshRunDir("graft_tkdrep_", d)
    val dir = new java.io.File(root, "report")
    val config = configOf("funnel")
    def rowsOf(ns: String*) = ns.map(n => s.read.parquet(
      new java.io.File(fixture, s"$n.parquet").getPath)).reduce(_ unionByName _)
    // the condensed drop schedule (the Condensed choreography over the
    // wire-shape verb: a cycle's files share one drop)
    ingestDrop(s, dir, config, "n01", rowsOf("n0", "n1"))
    ingestDrop(s, dir, config, "n2s1", rowsOf("n2", "s1"))
    ingestDrop(s, dir, config, "fin", rowsOf("s2"))
    val roster = graft.Tables.events(s, d)
      .select(col("user_id").cast("long").as("user_id")).distinct()
      .filter(col("user_id") % 7 === 3)
    val td = takedownUsers(s, dir, roster, "req-1")
    require(td.committed && td.removed > 0,
      s"takedown must purge the roster's events, got $td")
    val re = takedownUsers(s, dir, roster, "req-1")
    require(!re.committed && re.removed == 0,
      "a redelivered takedown tag must commit nothing")
    // forward exclusion: a roster user's event lands in a LATER drop
    // above the current watermark, with a +7d sentinel in the same
    // drop to finalize it — were it admitted, step 1 would count one
    // extra user and the oracle would catch it (the exclusion filter
    // runs at LANDING, before any batching, so one drop suffices)
    val uid = roster.agg(min(col("user_id"))).head.getLong(0)
    val maxTs = graft.Tables.events(s, d)
      .agg(max(col("ts").cast("timestamp"))).head.getTimestamp(0)
    def at(plusDays: Int) =
      new java.sql.Timestamp(maxTs.getTime + plusDays * 86400000L)
    ingestDrop(s, dir, config, "late",
      Seq((uid, at(5), 0L, "view"), (SentinelUser, at(7), 0L, SentinelType))
        .toDF("user_id", "ts", "event_id", "event_type"))
    funnelReportFrom(s, PointStore.open(s, dir.getPath))
  }

  /** The staged-min funnel SQL over the surviving users — what a store
    * that never saw the roster's events reports. */
  def reportTakedownOracle: String = """
    WITH ev AS (SELECT * FROM events WHERE user_id % 7 <> 3),
    s1 AS (
      SELECT user_id, min(ts) AS t FROM ev
      WHERE event_type = 'view' GROUP BY 1),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t FROM ev e
      JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t FROM ev e
      JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1)
    SELECT CAST(1 AS INT) AS step, 'view' AS step_name,
           count(*) AS users FROM s1
    UNION ALL SELECT 2, 'click', count(*) FROM s2
    UNION ALL SELECT 3, 'purchase', count(*) FROM s3"""
}
