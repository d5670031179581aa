package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.SparkEntry
import graft.operators.{CurateStore, DedupIndex, IvfIndex, Mix, Profile, Windows}
import graft.sources.{PointStore, Recipe, RecipeStore, StoreFs}
import graft.streaming.Maintained
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import java.io.File
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import scala.util.Try
import scala.util.control.{ControlThrowable, NonFatal}
import QueryServer._

/** The query server: the registered queries and the persisted stores over
  * HTTP (the reference's web tier, `worker.js:184-190`), on the JDK
  * `HttpServer` with 4 request threads sharing ONE SparkSession, so
  * concurrent requests are concurrent Spark jobs. Row payloads are
  * `df.limit(n).toJSON` on the executors, `n` at most [[MaxLimit]].
  *
  * Every path is one [[Route]] in the table [[start]] registers: the
  * methods it accepts, the hint a wrong method gets back, and a handler
  * from a parsed [[Req]] to a [[QueryServer.Reply]]. The combinator
  * around the handlers owns what every route shares: the method guard,
  * the query string (typed params, the clamped limit, names resolved
  * under a root), one exception-to-status mapping, and one JSON escape
  * for echoed strings. Every answer that is not a 200 is a JSON object
  * with an `"error"` field. A handler ends early with
  * [[QueryServer.fail]].
  *
  * `storeRoot` holds point, report, profile and recipe stores;
  * `indexRoot` holds dedup, ivf and curate stores. A store is named by a
  * plain directory name under its root, never by a path; `sf` may only
  * name a sibling `sf*` scale dir of `defaultSf`. Writes are exactly-once
  * on each store's own tag ledger: a redelivered tag answers
  * `"committed":false`. The route contracts are documented on the
  * library verbs each handler calls.
  */
final class QueryServer(spark: SparkSession, defaultSf: String, port: Int = 0,
                        storeRoot: Option[String] = None,
                        indexRoot: Option[String] = None) {

  QueryServer.preferNoDelay()
  private val server = HttpServer.create(new InetSocketAddress(port), 0)

  /** The request threads; [[stop]] shuts them down. */
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4)

  /** Max rows a single request may collect onto the driver. */
  val MaxLimit = 10000

  /** `sf` names a directory the parquet loaders read, so only sibling
    * `sf*` scale dirs of the configured default are allowed
    * (canonicalized, so `..` cannot escape). */
  private val sfRoot =
    new File(defaultSf).getCanonicalFile.getParentFile

  private val stores = Root("store", storeRoot)
  private val indexes = Root("index", indexRoot)

  /** One path: its handler, the methods it accepts (empty: any) and the
    * hint a wrong method gets. */
  private final class Route(val path: String, val serve: Req => Reply,
                            val methods: Set[String] = Set.empty,
                            val hint: String = "")

  private val Get = Set("GET")
  private val Post = Set("POST")

  /** One request: the exchange and its query string, split once. A value
    * decodes when it is read, so a malformed escape in a param the route
    * reads is a 400. */
  private final class Req(val ex: HttpExchange) {
    private val pairs: Seq[(String, Option[String])] =
      Option(ex.getRequestURI.getQuery).toSeq.flatMap(_.split("&")).map { kv =>
        val i = kv.indexOf('=')
        if (i < 0) (kv, None) else (kv.take(i), Some(kv.drop(i + 1)))
      }

    private def decode(key: String, v: String): String =
      try java.net.URLDecoder.decode(v, "UTF-8")
      catch { case _: IllegalArgumentException =>
        fail(400, s"$key is not a well-formed URL-encoded value") }

    def param(key: String): Option[String] =
      pairs.collectFirst { case (`key`, Some(v)) => decode(key, v) }

    def has(key: String): Boolean = param(key).isDefined

    def need(key: String): String =
      param(key).getOrElse(fail(400, s"$key param required"))

    /** A valued boolean flag: bare `key`, 1 or true is on; 0, false or
      * absent is off; a typo is a 400, never a silent enable. */
    def flag(key: String): Boolean =
      pairs.collectFirst { case (`key`, v) => v }.fold(false) {
        case None => true
        case Some(v) => decode(key, v).toLowerCase match {
          case "1" | "true" => true
          case "0" | "false" => false
          case _ => fail(400, s"$key must be 1|true|0|false (or bare $key)")
        }
      }

    def int(key: String, min: Int = Int.MinValue): Option[Int] =
      integral(key, min)(_.toInt)

    def long(key: String, min: Long = Long.MinValue): Option[Long] =
      integral(key, min)(_.toLong)

    private def integral[T](key: String, min: Long)(parse: String => T)(
        implicit n: Numeric[T]): Option[T] =
      param(key).map { p =>
        Try(parse(p)).toOption.filter(v => n.toLong(v) >= min).getOrElse(
          fail(400, s"$key must be " + (min match {
            case 0L => "a non-negative integer"
            case 1L => "a positive integer"
            case _ => "an integer"
          })))
      }

    def double(key: String): Option[Double] =
      param(key).map(p =>
        Try(p.toDouble).getOrElse(fail(400, s"$key must be a number")))

    /** A compact duration (`<n><ms|s|m|h|d>`) in ms. */
    def horizon(key: String, eg: String): Option[Long] =
      param(key).map(p => Try(Windows.parseHorizon(p)).getOrElse(
        fail(400, s"$key must be <n><ms|s|m|h|d>, e.g. $eg")))

    /** `&wait=`: a bounded wait for a served write's writer lease, so the
      * second firing of a nightly job waits out the first and then no-ops
      * on the tag ledger instead of answering 409. */
    def leaseWait: Long = horizon("wait", "30s").getOrElse(0L)

    /** Rows to answer: `&limit=`, default 1000, clamped to [1, MaxLimit]. */
    def limit: Int = int("limit").getOrElse(1000).max(1).min(MaxLimit)

    /** The scale dir to read: the default, or an allowed `&sf=`. */
    def sf: String = param("sf") match {
      case None => defaultSf
      case Some(p) =>
        val f = new File(p).getCanonicalFile
        if (f.getParentFile == sfRoot && f.getName.startsWith("sf")) f.getPath
        else fail(403, "sf not in the allowed scale dirs")
    }

    /** `?key=<name>` resolved to its directory under `root`. */
    def under(root: Root, key: String): (String, File) =
      child(root, key, need(key))

    /** `?key=<name>`, a plain directory name for a lookup under either
      * root. */
    def plain(key: String): String = {
      val n = need(key)
      if (!plainName(n)) fail(400, s"$key must be a plain name under the root")
      n
    }

    /** `?tag=`, a filesystem-safe batch id. */
    def tag: String = {
      val t = need("tag")
      if (!t.matches("[A-Za-z0-9._-]+"))
        fail(400, "tag must be filesystem-safe ([A-Za-z0-9._-]+)")
      t
    }

    /** The non-blank lines of the request body. */
    def lines: Seq[String] = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      .linesIterator.filter(_.trim.nonEmpty).toSeq
  }

  /** The combinator every route runs in: method guard, then the handler;
    * any exception becomes a JSON error reply, so every request gets an
    * answer. A `NumberFormatException` that escapes a handler comes from
    * stored data, not from the request (typed params answer their own
    * 400), so it is a 500. */
  private def serve(route: Route)(ex: HttpExchange): Unit = {
    val reply =
      try {
        if (route.methods.nonEmpty &&
            !route.methods(ex.getRequestMethod.toUpperCase))
          fail(405, route.hint)
        route.serve(new Req(ex))
      } catch {
        case h: Halt => h.reply
        case e: NumberFormatException => Reply(500, error(e.getClass.getSimpleName))
        case e: IllegalArgumentException =>
          val msg = Option(e.getMessage).getOrElse("bad request")
          Reply(if (msg.contains("no point store")) 404 else 400,
            error(unrooted(msg)))
        case e: IllegalStateException =>
          Reply(409, error(unrooted(Option(e.getMessage).getOrElse("write-locked"))))
        case NonFatal(e) => Reply(500, error(e.getClass.getSimpleName))
      }
    val bytes = reply.body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", reply.ctype)
    ex.sendResponseHeaders(reply.code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** `msg` with each configured root's path cut from the paths it names,
    * so an error names the store under its root, never the server's
    * filesystem layout. */
  private def unrooted(msg: String): String =
    Seq(storeRoot, indexRoot).flatten
      .flatMap(r => Seq(new File(r).getCanonicalPath, new File(r).getAbsolutePath, r))
      .distinct.sortBy(-_.length)
      .foldLeft(msg)((m, r) => m.replace(r + File.separator, ""))

  private def ok(body: String): Reply = Reply(200, body)

  private def jsonRows(df: DataFrame): String =
    df.toJSON.collect().mkString("[", ",", "]")

  private def rows(df: DataFrame): Reply = ok(jsonRows(df))

  /** A plain single-segment child name. The charset already forbids
    * separators, but "." and ".." pass it and traverse — and
    * `new File(root, "..").getParentFile` is textually the root again, so
    * the parent check alone does not catch them. */
  private def plainName(n: String): Boolean =
    n.matches("[A-Za-z0-9._-]+") && n != "." && n != ".."

  /** `name` under `root`, canonicalized: 404 without the root, 403 when
    * the name is not a plain child of it. */
  private def child(root: Root, key: String, name: => String): (String, File) = {
    val r = new File(root.path.getOrElse(
      fail(404, s"no ${root.kind} root configured"))).getCanonicalFile
    val n = name
    val dir = new File(r, n).getCanonicalFile
    if (!plainName(n) || dir.getParentFile != r)
      fail(403, s"$key not under the ${root.kind} root")
    (n, dir)
  }

  /** The directory `name` under the first of `roots` where `is` holds. */
  private def lookup(name: String, roots: Option[String]*)(
      is: File => Boolean): Option[File] =
    roots.flatten.map(new File(_, name)).find(is)

  private def recipeDir(name: String): Option[File] =
    lookup(name, storeRoot, indexRoot)(
      new File(_, RecipeStore.ManifestName).exists())

  private def read(f: File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), UTF_8)

  /** A store's kind from its own on-disk markers; curate, ivf and dedup
    * markers win over a `_MANIFEST` they may also carry. */
  private def kindOf(d: File): Option[String] = {
    def has(n: String) = new File(d, n).exists()
    if (has("_CURATE")) Some("curate")
    else if (new File(d, "centroids").isDirectory ||
      new File(d, "index").isDirectory) Some("ivf")
    else if (has("_MEMBERS")) Some("dedup")
    else if (has("_MANIFEST")) Some("point")
    else if (has(RecipeStore.ManifestName)) Some("recipe")
    else None
  }

  /** Whether `dir` holds trained ivf quantizers (a dedup index carries a
    * `_MEMBERS` manifest too). */
  private def quantized(dir: File): Boolean =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .exists(f => f.isDirectory && f.getName.startsWith("centroids"))

  private def curateStore(name: String, dir: File): CurateStore =
    try CurateStore.load(spark, dir.getPath)
    catch { case e: RuntimeException
        if Option(e.getMessage).exists(_.contains("no curate store")) =>
      fail(404, s"no curate store named '$name'")
    }

  /** An ivf index: a freshly built one has no `_MEMBERS` until its first
    * tagged append, so its build-time `index` dir marks it too. */
  private def ivfIndex(name: String, dir: File): IvfIndex = {
    if (!new File(dir, "_MEMBERS").exists() &&
        !new File(dir, "index").isDirectory)
      fail(404, s"no ivf index named '$name'")
    IvfIndex.load(spark, dir.getPath)
  }

  private def dedupIndex(name: String, dir: File): DedupIndex = {
    if (!new File(dir, "_MEMBERS").exists() || quantized(dir))
      fail(404, s"no dedup index named '$name'")
    DedupIndex.load(spark, dir.getPath)
  }

  /** The posted rows (JSON lines or arrays) read under `schema` and cached
    * for `f`; no rows, or a null in any column, is a 400. */
  private def posted(req: Req, schema: String, shape: String)(
      f: DataFrame => Reply): Reply = {
    import spark.implicits._
    val df = spark.read.schema(schema).json(req.lines.toDS()).cache()
    try {
      if (df.count() == 0 ||
          df.filter(df.columns.map(col(_).isNull).reduce(_ || _)).count() > 0)
        fail(400, s"body must be JSON rows of $shape")
      f(df)
    } finally df.unpersist(false)
  }

  /** The `&by=` segment registry of /funnel, /retention, /paths and
    * /latency: each name is one user attribute from the customer-grain
    * dims, attached by one broadcast join. Two names expand both axes
    * at once, with "all" members on each. */
  private val SegmentRegistry: Map[String, org.apache.spark.sql.Column] =
    scala.collection.immutable.ListMap(
      "segment" -> col("c_mktsegment"),
      "region" -> col("n_name"))

  private def byNames(req: Req): Seq[String] =
    req.param("by").fold(Seq.empty[String]) { b =>
      val names = b.split(",", -1).toSeq
      if (names.size > 2) fail(400, "by takes at most two attributes " +
        "(the registered 2^2 grouping-set cap)")
      names
    }

  /** `&by=` names → (attribute column, report column): one attribute
    * reports as `segment`, several under their own names. */
  private def byAxes(by: Seq[String]): Seq[(String, String)] =
    if (by.size == 1) Seq(by.head -> "segment") else by.map(n => n -> n)

  /** The order columns `&by=` adds to a computed report. */
  private def segOrder(by: Seq[String]): Seq[String] = byAxes(by).map(_._2)

  private def segmentedEvents(sf: String, names: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    if (names.isEmpty || names.distinct.size != names.size ||
        names.exists(!SegmentRegistry.contains(_)))
      fail(400, s"by must name distinct attributes from ${
        SegmentRegistry.keys.mkString("|")} (the served user attributes)")
    val base = graft.Tables.customer(spark, sf)
    val dim = (if (names.contains("region"))
        base.join(graft.Tables.nation(spark, sf),
          col("c_nationkey") === col("n_nationkey"))
      else base)
      .select(col("c_custkey").as("user_id") +:
        names.map(n => SegmentRegistry(n).as(n)): _*)
    graft.Tables.events(spark, sf).join(broadcast(dim), Seq("user_id"))
  }

  /** `?store=` of an analytics read: one maintained materialization, so
    * the compute params are refused with it, and `&version=` (its time
    * travel) needs it. */
  private def storeFace(req: Req, compute: Seq[String]): Option[String] = {
    val store = req.param("store")
    if (store.isDefined && compute.exists(req.has))
      fail(400, "store= serves one maintained materialization — " +
        s"${compute.mkString("/")} don't apply")
    if (store.isEmpty && req.has("version"))
      fail(400, "version= applies to store= reads (a maintained store's time travel)")
    store
  }

  /** A maintained report store's rows at its current version or
    * `&version=`. A store keyed on segment axes (`seg`, `seg2`, …)
    * serves `segmented` over those axes: its per-segment rows plus the
    * read-time "all" members. Any other store serves `plain`. */
  private def maintained(req: Req, name: String, needed: Seq[String],
                         keys: Seq[String],
                         segmented: (DataFrame, Seq[String]) => DataFrame)(
                         plain: DataFrame => DataFrame): Reply = {
    val (_, dir) = child(stores, "store", name)
    val store = PointStore.open(spark, dir.getPath)
    val missing = needed.filterNot(store.snapshot.columns.contains)
    if (missing.nonEmpty)
      fail(400, s"store '$name' is not a maintained report — missing " +
        s"column(s) ${missing.mkString(", ")}")
    val snap = req.long("version").fold(store.snapshot)(store.snapshotAt)
    val axes = Maintained.segAxes(store.keys)
    val report = if (axes.isEmpty) plain(snap) else segmented(snap, axes)
    rows(report.orderBy((keys ++ axes.map(Maintained.reportAxis)).map(col): _*)
      .limit(req.limit))
  }

  private def stepsOf(req: Req): Option[Seq[String]] =
    req.param("steps").map { s =>
      val parts = s.split(",", -1).toSeq
      if (parts.isEmpty || parts.exists(!_.matches("[A-Za-z0-9_-]+")) ||
          parts.distinct.size != parts.size)
        fail(400, "steps must be distinct plain names (steps=view,click,purchase)")
      parts
    }

  /** `&key=k:v,k:v` with distinct step numbers k and values `value`
    * accepts. */
  private def stepMap[V](req: Req, key: String, what: String)(
      value: String => Option[V]): Option[Map[Int, V]] =
    req.param(key).map { s =>
      val parsed = s.split(",", -1).toSeq.map(_.split(":", -1) match {
        case Array(k, v) if k.matches("[0-9]{1,2}") => value(v).map(k.toInt -> _)
        case _ => None
      })
      if (parsed.contains(None) ||
          parsed.flatten.map(_._1).distinct.size != parsed.size)
        fail(400, s"$key must be distinct $what")
      parsed.flatten.toMap
    }

  /** `&epochs=en:2.3,de:1.5`: langs in the id charset, numeric weights
    * (the range is the mixer's own check). */
  private def epochsOf(req: Req): Option[Seq[(String, Double)]] =
    req.param("epochs").map { s =>
      val parts = s.split(",", -1).toSeq.map(_.split(":", 2))
      if (parts.exists(a => a.length != 2 || !a(0).matches("[A-Za-z0-9_-]+") ||
          Try(a(1).toDouble).isFailure))
        fail(400, "epochs must be lang:weight[,lang:weight...]")
      parts.map(a => (a(0), a(1).toDouble))
    }

  // ---- routes ----

  private def version(req: Req): Reply = {
    val (name, dir) = req.under(stores, "store")
    PointStore.versionOf(dir.getPath) match {
      case None => fail(404, s"no store named '$name'")
      case Some(v) => ok(s"""{"store":"$name","version":$v}""")
    }
  }

  /** GET /store/<name>[?version=V]: a point store's rows, current or time
    * travel; its layout comes from its self-describing manifest. */
  private def storeRows(req: Req): Reply = {
    val (_, dir) = child(stores, "store",
      req.ex.getRequestURI.getPath.stripPrefix("/store/"))
    val ver = req.long("version")
    val limit = req.limit
    val store = PointStore.open(spark, dir.getPath)
    rows(ver.fold(store.snapshot)(store.snapshotAt)
      .orderBy(store.keys.map(col): _*).limit(limit))
  }

  /** GET /funnel?steps=a,b,c[&window=&mode=chained|deepest|sessions&gap=
    * &by=&exclude=2:error&minval=2:20]: the ordered funnel over the events
    * table for any step path, or a maintained funnel store. */
  private def funnel(req: Req): Reply = {
    import org.apache.spark.sql.functions.{count, countDistinct, lit}
    val steps = stepsOf(req)
    val limit = req.limit
    req.long("version")
    val win = req.horizon("window", "30m")
    val gap = req.horizon("gap", "30m")
    val excl = stepMap(req, "exclude", "step:type pairs (exclude=2:error,3:error)")(
      t => Some(t).filter(_.matches("[A-Za-z0-9_-]+")))
    // per-step value thresholds: the safe wire form of funnelOf's
    // stepWhere (no expression parsing crosses the wire)
    val minval = stepMap(req, "minval", "step:threshold pairs (minval=2:20,3:50)")(
      v => Some(v).filter(_.matches("-?[0-9]+(\\.[0-9]+)?")).map(_.toDouble))
    val by = byNames(req)
    storeFace(req, Seq("steps", "window", "gap", "mode", "by", "exclude",
        "minval", "sf")) match {
      case Some(name) =>
        maintained(req, name, Seq("step", "step_name", "users"), Seq("step"),
          Maintained.funnelSegmentedReportFrom(spark, _, _)) { snap =>
          // a session store carries visits beside users
          if (snap.columns.contains("visits"))
            Maintained.funnelSessionsReportFrom(spark, snap)
          else Maintained.funnelReportFrom(spark, snap)
        }
      case None =>
        val mode = req.param("mode").getOrElse("chained")
        if (!Set("chained", "deepest", "sessions")(mode))
          fail(400, "mode must be chained|deepest|sessions")
        if (mode == "deepest" && win.isEmpty)
          fail(400, "mode=deepest requires a window (the search is anchored)")
        if (mode == "sessions" && win.isDefined)
          fail(400, "mode=sessions takes &gap (the visit bound), not &window " +
            "— a session already bounds the visit")
        if (mode != "sessions" && gap.isDefined)
          fail(400, "&gap only applies to mode=sessions (use &window)")
        if (minval.isDefined && mode != "chained")
          fail(400, "&minval rides the chained law (per-step predicates on " +
            "the deepest/per-visit searches are a library-level API)")
        val sf = req.sf
        val names = steps.getOrElse(Windows.FunnelSteps)
        val ev = if (by.isEmpty) graft.Tables.events(spark, sf)
                 else segmentedEvents(sf, by)
        val seg = if (by.isEmpty) None else Some(Windows.segPayload(by))
        val exclMap = excl.getOrElse(Map.empty)
        val stages = mode match {
          case "deepest" => Windows.funnelDeepestOf(ev, names, win.get,
            by = seg, exclude = exclMap)
          case "sessions" => Windows.funnelSessionsOf(ev, names,
            gap.getOrElse(1800000L), by = seg, exclude = exclMap)
          case _ => Windows.funnelOf(ev, names, win, by = seg,
            exclude = exclMap, stepWhere = minval.getOrElse(Map.empty)
              .map { case (k, v) => k -> (col("value") > v) })
        }
        // sessions count distinct users and visits; deepest stages are
        // (user, anchor) grain, so users is a distinct count there too
        val (aggs, outs) = mode match {
          case "deepest" =>
            (Seq(countDistinct(col("user_id")).as("users")), Seq("users"))
          case "sessions" => (Seq(countDistinct(col("user_id.u")).as("users"),
            count(lit(1)).as("visits")), Seq("users", "visits"))
          case _ => (Seq(count(lit(1)).as("users")), Seq("users"))
        }
        val report =
          if (by.nonEmpty)
            Windows.segmentedFunnelReport(stages, names, byAxes(by), aggs, outs)
          else stages.zip(names).zipWithIndex.map { case ((df, name), i) =>
            df.agg(aggs.head, aggs.tail: _*)
              .select(lit(i + 1).cast("int").as("step") +:
                lit(name).as("step_name") +: outs.map(col): _*)
          }.reduce(_ unionByName _)
        rows(report.orderBy(("step" +: segOrder(by)).map(col): _*).limit(limit))
    }
  }

  /** GET /paths[?gap=30m&by=]: the path-transition matrix (the sankey
    * input), or a maintained paths store. */
  private def paths(req: Req): Reply = {
    val limit = req.limit
    req.long("version")
    val gap = req.horizon("gap", "30m")
    val by = byNames(req)
    storeFace(req, Seq("gap", "by", "sf")) match {
      case Some(name) =>
        maintained(req, name, Seq("from_step", "to_step", "n"),
          Seq("from_step", "to_step"),
          Maintained.pathsSegmentedReportFrom(spark, _, _))(
          _.select("from_step", "to_step", "n"))
      case None =>
        val sf = req.sf
        val matrix = by match {
          case Nil => Windows.pathTransitionsOf(graft.Tables.events(spark, sf), gap)
          case _ => Windows.pathsSegmentedOf(segmentedEvents(sf, by), gap,
            by = byAxes(by))
        }
        rows(matrix.orderBy((Seq("from_step", "to_step") ++ segOrder(by))
          .map(col): _*).limit(limit))
    }
  }

  /** GET /retention?period=day|week|month[&mode=classic|rolling&by=&tz=]:
    * the cohort retention matrix over the events table, or a maintained
    * retention store. */
  private def retention(req: Req): Reply = {
    val period = req.param("period").getOrElse("week")
    if (!Set("day", "week", "month")(period))
      fail(400, "period must be day|week|month")
    val mode = req.param("mode").getOrElse("classic")
    if (!Set("classic", "rolling")(mode))
      fail(400, "mode must be classic|rolling")
    val limit = req.limit
    req.long("version")
    val by = byNames(req)
    if (by.nonEmpty && mode == "rolling")
      fail(400, "segmented retention serves the classic reading — " +
        "mode=rolling doesn't take &by")
    val tz = req.param("tz")
    storeFace(req, Seq("period", "mode", "by", "tz", "sf")) match {
      case Some(name) =>
        maintained(req, name, Seq("cohort", "offset", "users"),
          Seq("cohort", "offset"),
          Maintained.retentionSegmentedReportFrom(spark, _, _))(
          _.select(graft.Tables.tstr(col("cohort")).as("cohort"),
            col("offset"), col("users")))
      case None =>
        val sf = req.sf
        val matrix = by match {
          case Nil =>
            val ev = graft.Tables.events(spark, sf)
            if (mode == "rolling") Windows.retentionRollingOf(ev, period, tz)
            else Windows.retentionOf(ev, period, tz)
          case _ => Windows.retentionSegmentedOf(segmentedEvents(sf, by),
            period, tz, by = byAxes(by))
        }
        rows(matrix.orderBy((Seq("cohort", "offset") ++ segOrder(by))
          .map(col): _*).limit(limit))
    }
  }

  /** GET /latency[?by=]: per-hop time-to-convert quantiles, or a
    * maintained (hop, n_users, sk) store. */
  private def latency(req: Req): Reply = {
    val limit = req.limit
    req.long("version")
    val by = byNames(req)
    storeFace(req, Seq("by", "sf")) match {
      case Some(name) =>
        maintained(req, name, Seq("hop", "n_users", "sk"), Seq("hop"),
          Maintained.latencySegmentedReportFrom(spark, _, _))(
          _.select(col("hop") +: col("n_users") +:
            graft.operators.TextOps.QuantilePoints.map { case (q, n) =>
              graft.functions.SketchOps.quantileAt(col("sk"), q).as(n) }: _*))
      case None =>
        val sf = req.sf
        val report = by match {
          case Nil => Windows.funnelLatency(spark, sf)
          case _ => Windows.funnelLatencySegmentedOf(segmentedEvents(sf, by),
            by = byAxes(by))
        }
        rows(report.orderBy(("hop" +: segOrder(by)).map(col): _*).limit(limit))
    }
  }

  /** GET /window?period=hour|day|week|month[&tz=Zone]: the tumbling
    * calendar series. */
  private def window(req: Req): Reply = {
    val period = req.param("period").getOrElse("hour")
    val tz = req.param("tz")
    if (!Set("hour", "day", "week", "month")(period))
      fail(400, "period must be hour|day|week|month")
    val limit = req.limit
    rows(Windows.eventsWindowOf(spark, req.sf, period, tz)
      .orderBy(col("window_start"), col("event_type")).limit(limit))
  }

  /** GET /profile?store=[&version=V]: the derived profile of any version of
    * a persisted profile store. */
  private def profile(req: Req): Reply = {
    val (_, dir) = req.under(stores, "store")
    val ver = req.long("version")
    val store = PointStore.open(spark, dir.getPath)
    rows(Profile.profileFromStored(ver.fold(store.snapshot)(store.snapshotAt))
      .orderBy(col("column")).limit(MaxLimit))
  }

  /** GET /drift?store=&from=V[&to=V][&gate]: per-column drift between two
    * versions of a profile store (`to` defaults to the live snapshot);
    * `&gate` answers Profile.checkDrift's verdicts instead. */
  private def drift(req: Req): Reply = {
    val (_, dir) = req.under(stores, "store")
    val from = req.long("from").getOrElse(fail(400, "from param required"))
    val to = req.long("to")
    val gate = req.flag("gate")
    val store = PointStore.open(spark, dir.getPath)
    val drift = Profile.driftBetween(store.snapshotAt(from),
      to.fold(store.snapshot)(store.snapshotAt))
    rows((if (gate) Profile.checkDrift(drift).orderBy(col("rule"))
          else drift.orderBy(col("column"))).limit(MaxLimit))
  }

  /** POST /poll/drift?store=&mirror=[&gate][&resync]: one DriftFollower
    * poll, holding the mirror's writer lease for the whole poll (a second
    * poller gets 409). Falling behind the upstream's vacuumed changefeed
    * is a 409 naming `&resync`, which rebuilds the mirror. */
  private def pollDrift(req: Req): Reply = {
    val (up, upDir) = req.under(stores, "store")
    val (mir, mirDir) = req.under(stores, "mirror")
    if (up == mir) fail(400, "the mirror must not be the upstream itself")
    val gate = req.flag("gate")
    val resync = req.flag("resync")
    // a resync folds no window, so there is no drift frame to gate
    if (resync && gate)
      fail(400, "resync rebuilds the mirror and folds no window — &gate does not apply")
    val limit = req.limit
    val upstream = PointStore.open(spark, upDir.getPath)
    val needed = Seq("column", "n_rows", "n_null", "sum_len", "max_num",
      "max_str", "dsk", "min_num", "min_str")
      .filterNot(upstream.snapshot.columns.contains)
    if (needed.nonEmpty)
      fail(400, s"store '$up' is not a profile store — missing column(s) " +
        needed.mkString(", "))
    try {
      val follower = new graft.sources.DriftFollower(spark, upstream, mirDir.getPath)
      StoreFs(spark, mirDir.getPath).withWriterLease() {
        if (resync)
          ok(s"""{"store":"$up","mirror":"$mir","resynced":true,""" +
            s""""checkpoint":${follower.resync()}}""")
        else {
          val before = follower.checkpoint
          val frame = if (gate) follower.pollGate() else follower.poll()
          val after = follower.checkpoint
          val head = s"""{"store":"$up","mirror":"$mir","from":$before,""" +
            s""""checkpoint":$after,"folded":${after != before}"""
          frame match {
            case Some(f) => ok(head + ""","drift":""" + jsonRows(
              f.orderBy(col(if (gate) "rule" else "column")).limit(limit)) + "}")
            // folded without a frame: the baseline fold; not folded: a
            // redelivered or caught-up poll
            case None => ok(head + (if (after != before) ""","baseline":true}""" else "}"))
          }
        }
      }
    } catch {
      case e: IllegalArgumentException
          if Option(e.getMessage).exists(_.contains("vacuumed through")) =>
        Reply(409, s"""{"error":${str(firstLine(e.getMessage))},""" +
          """"resync":"POST again with &resync=1 to rebuild the mirror"}""")
    }
  }

  /** POST /probe/perplexity?store=: score a posted {doc_id, text} batch
    * against a persisted count store — trigram backoff for a (w1,w2,w3)/c3
    * store, add-one bigrams for a (w1,w2)/c2 one. */
  private def probePerplexity(req: Req): Reply = {
    val (name, dir) = req.under(stores, "store")
    val limit = req.limit
    val counts = PointStore.open(spark, dir.getPath).snapshot
    val isTrigram = Seq("w1", "w2", "w3", "c3").forall(counts.columns.contains)
    val needed = Seq("w1", "w2", "c2").filterNot(counts.columns.contains)
    if (!isTrigram && needed.nonEmpty)
      fail(400, s"store '$name' is neither a trigram (w1,w2,w3/c3) nor a " +
        s"bigram count store — missing column(s) ${needed.mkString(", ")}")
    posted(req, "doc_id LONG, text STRING", "{doc_id, text}") { batch =>
      val scored =
        if (isTrigram) graft.operators.TextOps.perplexityTrigramProbeAgainst(counts, batch)
        else graft.operators.TextOps.perplexityProbeAgainst(counts, batch)
      rows(scored.orderBy(col("doc_id")).limit(limit))
    }
  }

  /** POST /probe/dedup?index=[&threshold=T]: which indexed docs the posted
    * batch duplicates, without appending; verified (a=probe, b=indexed)
    * pairs with exact Jaccard. */
  private def probeDedup(req: Req): Reply = {
    val (name, dir) = req.under(indexes, "index")
    val thr = req.double("threshold")
    val limit = req.limit
    val idx =
      try DedupIndex.load(spark, dir.getPath)
      catch { case e: IllegalArgumentException
          if Option(e.getMessage).exists(_.contains("_MEMBERS")) =>
        fail(404, s"no dedup index named '$name'")
      }
    posted(req, "doc_id LONG, text STRING", "{doc_id, text}") { docs =>
      rows(idx.probe(docs, thr.getOrElse(0.5))
        .orderBy(col("a"), col("b")).limit(limit))
    }
  }

  /** GET /health/curate?store=: the curate store's per-night corpus-health
    * series, read from its sketch state alone. */
  private def healthCurate(req: Req): Reply = {
    val (name, dir) = req.under(indexes, "store")
    val limit = req.limit
    rows(curateStore(name, dir).health()
      .orderBy(col("night"), col("lang")).limit(limit))
  }

  /** POST /probe/ann?index=[&k=&nprobe=&mode=exact|pq|refine&kRefine=
    * &allowed=1,2,3]: top-k neighbors of the posted {qid, qv} batch,
    * restricted to `allowed` ids when given. */
  private def probeAnn(req: Req): Reply = {
    val (name, dir) = req.under(indexes, "index")
    val k = req.int("k", min = 1)
    val nprobe = req.int("nprobe", min = 1)
    val kRefine = req.int("kRefine", min = 1)
    val mode = req.param("mode").getOrElse("exact")
    if (!Seq("exact", "pq", "refine").contains(mode))
      fail(400, "mode must be exact|pq|refine")
    val allowed = req.param("allowed").map { s =>
      val ids = s.split(",").toSeq.map(v => Try(v.trim.toLong).toOption)
      if (ids.isEmpty || ids.contains(None))
        fail(400, "allowed must be a comma-separated id list")
      ids.flatten
    }
    val idx = ivfIndex(name, dir)
    posted(req, "qid LONG, qv ARRAY<DOUBLE>", "{qid, qv:[...]}") { qs =>
      import spark.implicits._
      val queries = qs.select(col("qid"),
        graft.functions.VectorOps.normalize(col("qv")).as("qv"))
      val kk = k.getOrElse(graft.operators.Ann.K)
      val np = nprobe.getOrElse(graft.operators.Ann.NProbe)
      val allowedDf = allowed.map(_.toDF("vec_id"))
      val res = mode match {
        case "exact" => idx.search(queries, kk, np, allowedDf)
        case "pq" => idx.searchPq(queries, kk, np, allowedDf)
        case "refine" => idx.searchPqRefine(queries, kk, np,
          kRefine.getOrElse(kk * 8), allowedDf)
      }
      rows(res.orderBy(col("query_id"), col("rank")).limit(MaxLimit))
    }
  }

  /** POST /probe/curate?store=: whether curation would keep the posted
    * {doc_id, text, lang} batch, against the stored state, without
    * committing. */
  private def probeCurate(req: Req): Reply = {
    val (name, dir) = req.under(indexes, "store")
    val limit = req.limit
    val store = curateStore(name, dir)
    posted(req, "doc_id LONG, text STRING, lang STRING", "{doc_id, text, lang}") {
      docs => rows(store.probe(docs).orderBy(col("doc_id")).limit(limit))
    }
  }

  /** POST /ingest/curate?store=&tag=: fold the posted batch into the curate
    * store as one night. `committed` is curateNight's own answer, taken
    * inside its writer lease, so of two deliveries of one tag exactly one
    * reports true. */
  private def ingestCurate(req: Req): Reply = {
    val (name, dir) = req.under(indexes, "store")
    val tag = req.need("tag")
    if (!tag.matches("[A-Za-z0-9._-]+") || tag.forall(_.isDigit) ||
        tag == "base" || tag.matches("compact-[0-9]+"))
      fail(400, "tag must be filesystem-safe, non-numeric, and outside the " +
        "base/compact-N namespaces")
    val store = curateStore(name, dir)
    posted(req, "doc_id LONG, text STRING, lang STRING", "{doc_id, text, lang}") { docs =>
      val committed = store.curateNight(tag, docs, leaseWaitMs = req.leaseWait)
      ok(s"""{"store":"$name","tag":"$tag","committed":$committed,""" +
        s""""doc_count":${store.docCount}}""")
    }
  }

  /** POST /backup?store=&dest=: StoreFs.cloneTo under the source's writer
    * lease, for a store under either root; the dest must not exist. */
  private def backup(req: Req): Reply = {
    val name = req.plain("store")
    val dest = req.plain("dest")
    val src = lookup(name, indexRoot, storeRoot)(_.isDirectory)
      .getOrElse(fail(404, s"no store named '$name'"))
    StoreFs.cloneTo(spark, src.getPath, new File(src.getParent, dest).getPath)
    ok(s"""{"store":"$name","dest":"$dest","cloned":true}""")
  }

  /** POST /compact and /vacuum: a point store's maintenance verbs, under
    * its writer lease. Other kinds carry their own verbs and are refused. */
  private def maintenance(numParam: String)(
      run: (PointStore, Option[Long]) => String)(req: Req): Reply = {
    val name = req.plain("store")
    val num = req.long(numParam, min = 0)
    val dir = lookup(name, indexRoot, storeRoot)(_.isDirectory)
      .getOrElse(fail(404, s"no store named '$name'"))
    if (!kindOf(dir).contains("point"))
      fail(400, s"'$name' is not a point store — the other kinds carry " +
        "their own maintenance verbs")
    ok(s"""{"store":"$name",""" + run(PointStore.open(spark, dir.getPath), num) + "}")
  }

  /** ?index= of an ivf index with trained quantizers. */
  private def ivfDir(req: Req): (String, File) = {
    val (name, dir) = req.under(indexes, "index")
    if (!quantized(dir)) fail(404, s"no ivf index named '$name'")
    (name, dir)
  }

  private def occJson(o: IvfIndex.Occupancy): String =
    s""""cells":${o.cells},"populated":${o.populated},""" +
      s""""total":${o.total},"max":${o.max},""" +
      f""""imbalance":${o.imbalance}%.4f"""

  private def healthAnn(req: Req): Reply = {
    val (name, dir) = ivfDir(req)
    ok(s"""{"index":"$name",""" +
      occJson(IvfIndex.load(spark, dir.getPath).occupancy) + "}")
  }

  /** POST /rebalance?index=: retrain the quantizers over the live members
    * with tombstones applied, in one manifest flip under the index's
    * writer lease. */
  private def rebalance(req: Req): Reply = {
    val (name, dir) = ivfDir(req)
    val after = IvfIndex.load(spark, dir.getPath).rebalance()
    ok(s"""{"index":"$name","rebalanced":true,""" + occJson(after.occupancy) + "}")
  }

  /** GET /health/report?store=: a wire-maintained report store's health:
    * pinned config, version, key-grain rows, retained drops, landed tags
    * and the takedown ledger. */
  private def healthReport(req: Req): Reply = {
    val (name, dir) = req.under(stores, "store")
    val cfgFile = new File(dir, "_stream/CONFIG")
    if (!cfgFile.exists)
      fail(404, s"no wire-maintained report store named '$name' (no " +
        "_stream/CONFIG — a library-maintained store's health lives with " +
        "its lifecycle)")
    val cfg = read(cfgFile)
    // a pinned config whose first fold never committed is a describable
    // state: created but unfolded
    val (version, rowCount) =
      if (new File(dir, "_MANIFEST").exists) {
        val store = PointStore.open(spark, dir.getPath)
        (store.version, store.snapshot.count())
      } else (0L, 0L)
    def files(sub: String, suffix: String) =
      Option(new File(dir, sub).listFiles()).getOrElse(Array.empty[File])
        .filter(_.getName.endsWith(suffix))
    val drops = files("_stream/drops", ".parquet")
    // a landed tag is a marker file (not a .width pin) or a single-file
    // drop name without a part suffix
    val markers = files("_stream/landed", "")
      .filterNot(_.getName.contains(".width")).map(_.getName)
    val legacy = drops.map(_.getName.stripSuffix(".parquet"))
      .filterNot(_.matches(".*-p\\d{5}"))
    // a deferred roster excludes its users now; its purge waits for the
    // next flush
    def names(suffix: String) = files("_stream/takedowns", suffix)
      .map(f => str(f.getName.stripSuffix(suffix))).mkString(",")
    val committed = files("_stream/takedowns", ".jsonl")
      .filterNot(_.getName.endsWith(".deferred.jsonl"))
    // the config echoes whole, newlines escaped: a scheduler asserts on it
    ok(s"""{"store":"$name","config":${str(cfg)},"version":$version,""" +
      s""""rows":$rowCount,"drop_files":${drops.length},""" +
      s""""drop_bytes":${drops.map(_.length).sum},""" +
      s""""landed_tags":${(markers ++ legacy).distinct.length},""" +
      s""""takedowns_committed":${committed.length},""" +
      s""""takedowns_deferred":[${names(".deferred.jsonl")}],""" +
      s""""takedowns_pending":[${names(".pending")}]}""")
  }

  private def recipeJson(name: String, v: Long, tag: Option[String],
                         r: Recipe, deprecated: Option[String]): String =
    s"""{"store":"$name","version":$v""" +
      tag.map(t => s""","tag":${str(t)}""").getOrElse("") +
      deprecated.map(w => s""","deprecated":${str(w)}""").getOrElse("") +
      s""","seed":${str(r.seed)},"budget":${r.budget}""" +
      s""","default":${r.defaultEpochs},"pack_shard_size":${r.packShardSize}""" +
      r.epochs.map { case (l, w) => s"${str(l)}:$w" }
        .mkString(""","epochs":{""", ",", "}}")

  /** GET|POST /recipe?store=: the training-mix recipe store. POST commits a
    * new version under an exactly-once tag (omitted params are the
    * registered constants); GET reads any version with its tag. */
  private def recipe(req: Req): Reply = {
    val name = req.plain("store")
    if (req.ex.getRequestMethod.equalsIgnoreCase("GET")) {
      val dir = recipeDir(name).getOrElse(fail(404, s"no recipe store named '$name'"))
      val store = RecipeStore(spark, dir.getPath)
      val v = req.long("version").getOrElse(store.version)
      ok(recipeJson(name, v, store.tagOf(v), store.recipeAt(v), store.deprecationOf(v)))
    } else {
      val tag = req.tag
      val budget = req.long("budget")
      val dflt = req.double("default")
      val shard = req.long("shard")
      val epochs = epochsOf(req)
      // commit into the existing store under either root (a same-named
      // second store would fork it); a new store goes under the first root
      val dir = recipeDir(name)
        .orElse(Seq(storeRoot, indexRoot).flatten.headOption.map(new File(_, name)))
        .getOrElse(fail(403, "no store root configured"))
      val recipe = Recipe(epochs.getOrElse(Mix.Epochs),
        dflt.getOrElse(Mix.DefaultEpochs), req.param("seed").getOrElse(Mix.ShuffleSeed),
        budget.getOrElse(graft.operators.Sampling.Budget), shard.getOrElse(1L << 20))
      val store = RecipeStore(spark, dir.getPath)
      val committed = store.commit(tag, recipe)
      ok(s"""{"store":"$name","committed":$committed,"version":${store.version}}""")
    }
  }

  /** GET /stores: every store under both roots, classified by its own
    * markers; point and recipe stores carry their version, and a
    * wire-maintained report store its pinned fold. */
  private def listStores(req: Req): Reply = {
    def entries(root: Option[String], role: String): Seq[String] =
      root.toSeq.flatMap { r =>
        Option(new File(r).listFiles()).getOrElse(Array.empty[File])
          .filter(_.isDirectory).sortBy(_.getName).toSeq.flatMap { d =>
          kindOf(d).map { kind =>
            val cfg = new File(d, "_stream/CONFIG")
            val report =
              if (kind == "point" && cfg.exists())
                Try(read(cfg)).toOption
                  .map(c => s""","maintained":${str(firstLine(c))}""").getOrElse("")
              else ""
            val ver = kind match {
              case "point" => PointStore.versionOf(d.getPath)
              // one manifest line per version; ledger lines start with #
              case "recipe" => Try {
                val src = scala.io.Source.fromFile(
                  new File(d, RecipeStore.ManifestName))
                try src.getLines().count(l => l.nonEmpty && !l.startsWith("#")).toLong
                finally src.close()
              }.toOption
              case _ => None
            }
            s"""{"name":${str(d.getName)},"kind":"$kind","root":"$role"""" +
              ver.map(v => s""","version":$v""").getOrElse("") + report + "}"
          }
        }
      }
    ok((entries(storeRoot, "store") ++ entries(indexRoot, "index"))
      .mkString("[", ",", "]"))
  }

  /** POST /ingest/ann?index=&tag=: append a posted {vec_id, embedding}
    * batch to an ivf index under its writer lease. */
  private def ingestAnn(req: Req): Reply = {
    val (name, dir) = req.under(indexes, "index")
    val tag = req.tag
    val idx = ivfIndex(name, dir)
    posted(req, "vec_id LONG, embedding ARRAY<DOUBLE>", "{vec_id, embedding:[...]}") { emb =>
      val committed = idx.appendTagged(tag, emb, leaseWaitMs = req.leaseWait)
      ok(s"""{"index":"$name","tag":"$tag","committed":$committed}""")
    }
  }

  /** POST /ingest/dedup?index=&tag=[&verify]: append a posted {doc_id,
    * text} night to a dedup index; `&verify` refuses doc_ids already
    * indexed or repeated in the body. */
  private def ingestDedup(req: Req): Reply = {
    val (name, dir) = req.under(indexes, "index")
    val tag = req.tag
    val verify = req.flag("verify")
    val idx = dedupIndex(name, dir)
    posted(req, "doc_id LONG, text STRING", "{doc_id, text}") { docs =>
      // a doc_id posted twice double-appends its signatures, like a
      // replayed night
      val dupes =
        if (verify) docs.count() - docs.select(col("doc_id")).distinct().count()
        else 0L
      if (dupes > 0)
        fail(400, s"body repeats $dupes doc_id(s) — a doc_id may appear once " +
          "per ingest (double-appended signatures skew intersection counts)")
      val committed = idx.appendTagged(tag, docs, verifyDisjoint = verify,
        leaseWaitMs = req.leaseWait)
      ok(s"""{"index":"$name","tag":"$tag","committed":$committed}""")
    }
  }

  /** Top-level field names of one `/ingest/point` body line, as Spark's
    * JSON reader infers them: an object's own names, or the names of an
    * array's object elements (nulls skipped). A malformed line, a scalar,
    * or an array holding anything else names nothing — the typed parse
    * refuses it. */
  private def fieldNamesOf(line: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    def names(n: com.fasterxml.jackson.databind.JsonNode) =
      n.fieldNames.asScala.toSeq
    Try(jsonMapper.readTree(line)).toOption match {
      case Some(n) if n.isObject => names(n)
      case Some(n) if n.isArray =>
        val elems = n.elements.asScala.filterNot(_.isNull).toSeq
        if (elems.forall(_.isObject)) elems.flatMap(names) else Nil
      case _ => Nil
    }
  }

  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** FAILFAST typed parse of `/ingest/point` body lines in the server JVM,
    * by Spark's own JSON parser: `from_json` over a local relation, which
    * the optimizer evaluates while planning, so no Spark job runs. A line
    * holding an array is a batch of rows, one per element, as with
    * `spark.read.json`. None when any line or element fails to parse or
    * to coerce to the store's types. */
  private def parseRows(lines: Seq[String],
                        schema: org.apache.spark.sql.types.StructType)
      : Option[Seq[org.apache.spark.sql.Row]] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.from_json
    import org.apache.spark.sql.types.{ArrayType, DataType}
    import spark.implicits._
    def parse(ls: Seq[String], dt: DataType) =
      if (ls.isEmpty) Seq.empty[Any]
      else ls.toDF("line")
        .select(from_json(col("line"), dt, Map("mode" -> "FAILFAST")))
        .collect().toSeq.map(_.get(0))
    val (arrays, objects) = lines.partition(_.trim.startsWith("["))
    try {
      val rows = parse(objects, schema) ++ parse(arrays, ArrayType(schema))
        .flatMap(_.asInstanceOf[scala.collection.Seq[Any]])
      // a null array element is a malformed row to the reader too
      if (rows.contains(null)) None else Some(rows.map(_.asInstanceOf[Row]))
    } catch {
      case _: org.apache.spark.SparkException => None
      case e: org.apache.spark.SparkThrowable
          if Option(e.getCondition).exists(_.startsWith("MALFORMED_RECORD")) =>
        None
    }
  }

  /** POST /ingest/point?store=&tag=: append a posted partial batch, rows in
    * the store's self-described schema, to a point store. The write is
    * strict: unknown fields, values that fail coercion, no rows or a null
    * key are 400s, never silent nulls; the only Spark jobs are
    * appendTagged's. */
  private def ingestPoint(req: Req): Reply = {
    import scala.jdk.CollectionConverters._
    val (name, dir) = req.under(stores, "store")
    val tag = req.tag
    val store = PointStore.open(spark, dir.getPath)
    val schema = store.snapshotSchema
    val lines = req.lines
    val known = schema.fieldNames.toSet
    val unknown = lines.flatMap(fieldNamesOf).toSet.diff(known)
    if (unknown.nonEmpty)
      fail(400, s"unknown field(s) ${unknown.toSeq.sorted.mkString(", ")} — " +
        s"store carries ${known.toSeq.sorted.mkString(", ")}")
    val parsed = parseRows(lines, schema).getOrElse(fail(400,
      "row(s) failed schema coercion — measure values must match the store's types"))
    val keyIdx = store.keys.map(schema.fieldIndex)
    if (parsed.isEmpty || parsed.exists(r => keyIdx.exists(r.isNullAt)))
      fail(400, s"body must be JSON rows with non-null key(s) ${store.keys.mkString(", ")}")
    val committed = store.appendTagged(tag,
      spark.createDataFrame(parsed.asJava, schema), leaseWaitMs = req.leaseWait)
    ok(s"""{"store":"$name","tag":"$tag","committed":$committed,""" +
      s""""version":${store.version}}""")
  }

  /** POST /ingest/report?store=&tag=&type=[&window=&period=&gap=&steps=
    * &parts=N]: fold a posted nightly events drop into a maintained report
    * store through the registered lifecycles' streaming chain
    * (Maintained.ingestDrop, whose scaladoc holds the contracts: nightly
    * order, exactly-once at both grains, one materialization pinned at
    * first ingest, one writer). */
  private def ingestReport(req: Req): Reply = {
    import org.apache.spark.sql.functions.{expr, lit}
    val (name, dir) = req.under(stores, "store")
    val tag = req.tag
    val typ = req.param("type").filter(Maintained.ReportTypes).getOrElse(
      fail(400, "type must be " + Maintained.ReportTypes.toSeq.sorted.mkString("|")))
    val win = req.horizon("window", "1d")
    val gap = req.horizon("gap", "30m")
    val wait = req.leaseWait
    val parts = req.int("parts", min = 1)
    val per = req.param("period")
    if (per.exists(p => !Set("day", "week", "month")(p)))
      fail(400, "period must be day|week|month")
    val steps = stepsOf(req)
    val fold = Maintained.foldOf(spark, typ, windowMs = win, period = per,
      gapMs = gap, steps = steps)
    // durations normalized to ms: "30m" and "1800s" pin one materialization
    val config = Maintained.configOf(typ, win, per, gap, steps)
    val cfgFile = new File(dir, "_stream/CONFIG")
    if (new File(dir, "_MANIFEST").exists && !cfgFile.exists)
      fail(409, s"store '$name' exists but carries no ingest config — it is " +
        "maintained by a library lifecycle (its checkpoint lives with that " +
        "lifecycle; a fresh one here would double-count); fold through the " +
        "lifecycle or ingest into a fresh store name")
    if (cfgFile.exists) {
      val stored = read(cfgFile)
      if (stored != config)
        fail(400, s"store '$name' is maintained as '${firstLine(stored)}' — a " +
          "maintained store is one materialization; this POST asked for " +
          s"'${firstLine(config)}'")
    }
    import spark.implicits._
    val lines = req.lines.toDS()
    // strict like /ingest/point: the field set is the fold's wire shape,
    // so a segmented store accepts (and requires) its seg columns
    val known = fold.wireFields.toSet
    val unknown = (spark.read.json(lines).schema.fieldNames.toSet -
      "_corrupt_record").diff(known)
    if (unknown.nonEmpty)
      fail(400, s"unknown field(s) ${unknown.toSeq.sorted.mkString(", ")} — " +
        s"event rows carry ${known.toSeq.sorted.mkString(", ")}")
    // ts reads as a string and casts: the JSON reader's timestamps are
    // millisecond-grain, the cast keeps µs; try_cast so that a malformed
    // ts is a null (a 400 below), not a mid-scan ANSI failure
    val rows = spark.read
      .schema(fold.schema.replace("ts TIMESTAMP", "ts STRING"))
      .option("mode", "FAILFAST").json(lines)
      .withColumn("ts", expr("try_cast(ts AS TIMESTAMP)"))
      .cache()
    try {
      val n = try rows.count() catch { case _: org.apache.spark.SparkException =>
        fail(400, "row(s) failed schema coercion — ids must be integral") }
      // every segment axis is required on rows that fold (a null would
      // fold under a null key); watermark sentinels never fold
      val segCols = fold.wireFields.filterNot(
        Seq("user_id", "ts", "event_id", "event_type").contains(_))
      val segNull =
        if (segCols.isEmpty) lit(false)
        else segCols.map(c => col(c).isNull).reduce(_ || _) &&
          col("event_type") =!= Maintained.SentinelType
      if (n == 0 || rows.filter(col("user_id").isNull || col("ts").isNull ||
          segNull).count() > 0)
        fail(400, "body must be JSON event rows with non-null user_id and an " +
          "ISO8601/SQL ts (fractional seconds preserved to µs)" +
          (if (segCols.nonEmpty)
            s" and a non-null ${segCols.mkString("/")} on every non-sentinel row"
          else ""))
      val r = Maintained.ingestDrop(spark, dir, config, tag, rows,
        landParts = parts, leaseWaitMs = wait)
      ok(s"""{"store":"$name","tag":"$tag","type":"$typ",""" +
        s""""landed":${r.landed},"committed":${r.committed},""" +
        s""""version":${r.version}}""")
    } finally rows.unpersist(false)
  }

  /** POST /takedown/curate?store=&tag=: delete a posted {doc_id} roster
    * from a curate store under its writer lease, exactly-once on the tag. */
  private def takedownCurate(req: Req): Reply = {
    val (name, dir) = req.under(indexes, "store")
    val tag = req.tag
    val store = curateStore(name, dir)
    posted(req, "doc_id LONG", "{doc_id}") { ids =>
      val committed = store.deleteDocs(tag, ids, leaseWaitMs = req.leaseWait)
      ok(s"""{"store":"$name","tag":"$tag","committed":$committed,""" +
        s""""doc_count":${store.docCount}}""")
    }
  }

  /** POST /takedown/ann?index=&tag=: tombstone a {vec_id} roster; the next
    * rebalance reclaims it physically. */
  private def takedownAnn(req: Req): Reply = {
    val (name, dir) = req.under(indexes, "index")
    val tag = req.tag
    val idx = ivfIndex(name, dir)
    posted(req, "vec_id LONG", "{vec_id}") { ids =>
      val committed = idx.delete(tag, ids, leaseWaitMs = req.leaseWait)
      ok(s"""{"index":"$name","tag":"$tag","committed":$committed}""")
    }
  }

  /** POST /takedown/dedup?index=&tag=: tombstone a {doc_id} roster; deleted
    * ids are retired for good. */
  private def takedownDedup(req: Req): Reply = {
    val (name, dir) = req.under(indexes, "index")
    val tag = req.tag
    val idx = dedupIndex(name, dir)
    posted(req, "doc_id LONG", "{doc_id}") { ids =>
      val committed = idx.delete(tag, ids, leaseWaitMs = req.leaseWait)
      ok(s"""{"index":"$name","tag":"$tag","committed":$committed}""")
    }
  }

  /** POST /takedown/report?store=&tag=[&defer|&flush]: purge a {user_id}
    * roster from a wire-maintained report store's retained drops and
    * re-derive the report in one flip (Maintained.takedownUsers);
    * `&defer` lands the roster for one later `&flush`. */
  private def takedownReport(req: Req): Reply = {
    val (name, dir) = req.under(stores, "store")
    val tag = req.tag
    if (!dir.isDirectory) fail(404, s"no report store named '$name'")
    val defer = req.flag("defer")
    val flush = req.flag("flush")
    if (defer && flush)
      fail(400, "defer and flush are different verbs — land rosters with " +
        "defer, settle them with flush")
    val wait = req.leaseWait
    if (flush) {
      val r = Maintained.takedownFlush(spark, dir, tag, leaseWaitMs = wait)
      ok(s"""{"store":"$name","tag":"$tag","committed":${r.committed},""" +
        s""""flushed":[${r.flushed.map(str).mkString(",")}],""" +
        s""""rows_removed":${r.removed},"version":${r.version}}""")
    } else posted(req, "user_id LONG", "{user_id}") { ids =>
      val r = Maintained.takedownUsers(spark, dir, ids, tag, defer = defer,
        leaseWaitMs = wait)
      ok(s"""{"store":"$name","tag":"$tag","committed":${r.committed},""" +
        s""""deferred":${defer && r.committed},""" +
        s""""rows_removed":${r.removed},"version":${r.version}}""")
    }
  }

  /** GET /assemble[?seed=&budget=&epochs=en:2.3&default=W] or
    * ?recipe=<store>[&version=V]: the training-mix layout (mix, shuffle,
    * pack) of an inline or a stored recipe, ordered by batch layout. */
  private def assemble(req: Req): Reply = {
    val seed = req.param("seed").getOrElse(Mix.ShuffleSeed)
    val budget = req.long("budget", min = 1)
    val dflt = req.double("default")
    val limit = req.limit
    val epochs = epochsOf(req)
    if (!seed.matches("[A-Za-z0-9._:-]{1,64}"))
      fail(400, "seed must be short and filesystem-safe")
    val recipe = req.param("recipe")
    val recipeVer = req.long("version")
    if (recipeVer.isDefined && recipe.isEmpty)
      fail(400, "version only applies with recipe=<store>")
    // a half-overridden stored recipe is no longer the recipe of record
    if (recipe.isDefined && (req.has("seed") || budget.isDefined ||
        dflt.isDefined || epochs.isDefined))
      fail(400, "recipe=<store> and inline recipe params are mutually exclusive")
    if (recipe.exists(n => !plainName(n)))
      fail(400, "recipe must be a plain name under the root")
    val sf = req.sf
    val frame = recipe match {
      case Some(rs) =>
        val dir = recipeDir(rs).getOrElse(fail(400, s"no recipe store named '$rs'"))
        val store = RecipeStore(spark, dir.getPath)
        store.assembleAt(graft.Tables.documents(spark, sf),
          recipeVer.getOrElse(store.version))
      case None => Mix.assembleWith(graft.Tables.documents(spark, sf),
        epochs.getOrElse(Mix.Epochs), dflt.getOrElse(Mix.DefaultEpochs), seed,
        budget.getOrElse(graft.operators.Sampling.Budget))
    }
    rows(frame.orderBy(col("lang"), col("bin"), col("bin_offset"),
      col("shuffle_rank")).limit(limit))
  }

  private def registered(req: Req, prefix: String) = {
    val name = req.ex.getRequestURI.getPath.stripPrefix(prefix)
    SparkEntry.queries.getOrElse(name, fail(404, s"unknown query '$name'"))
  }

  /** GET /explain/<name>: the formatted physical plan of a registered
    * query, without running it (queries that drive on-disk lifecycles
    * run their writes while planning). */
  private def explain(req: Req): Reply = {
    val fn = registered(req, "/explain/")
    Reply(200, fn(spark, req.sf).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")),
      "text/plain; charset=utf-8")
  }

  private def query(req: Req): Reply = {
    val fn = registered(req, "/query/")
    val sf = req.sf
    val limit = req.limit
    rows(fn(spark, sf).limit(limit))
  }

  private val routes: Seq[Route] = Seq(
    new Route("/health", _ => ok("""{"status":"ok"}""")),
    new Route("/queries", _ => ok(SparkEntry.queries.keys.toSeq.sorted.map(str)
      .mkString("[", ",", "]"))),
    new Route("/query/", query),
    new Route("/explain/", explain),
    new Route("/version", version),
    new Route("/store/", storeRows),
    new Route("/stores", listStores),
    new Route("/funnel", funnel),
    new Route("/paths", paths),
    new Route("/retention", retention),
    new Route("/latency", latency),
    new Route("/window", window),
    new Route("/profile", profile),
    new Route("/drift", drift),
    new Route("/assemble", assemble),
    new Route("/recipe", recipe, Set("GET", "POST"), "GET or POST with ?store="),
    new Route("/poll/drift", pollDrift, Post,
      "POST with ?store=&mirror=[&gate][&resync]"),
    new Route("/probe/perplexity", probePerplexity, Post,
      "POST a JSON batch of {doc_id, text}"),
    new Route("/probe/dedup", probeDedup, Post, "POST a JSON batch of {doc_id, text}"),
    new Route("/probe/ann", probeAnn, Post, "POST a JSON batch of {qid, qv}"),
    new Route("/probe/curate", probeCurate, Post,
      "POST a JSON batch of {doc_id, text, lang}"),
    new Route("/health/curate", healthCurate),
    new Route("/health/ann", healthAnn, Get,
      "GET with ?index= (the read half; the write verb is POST /rebalance)"),
    new Route("/health/report", healthReport, Get, "GET with ?store="),
    new Route("/rebalance", rebalance, Post, "POST with ?index="),
    new Route("/backup", backup, Post, "POST with ?store=&dest="),
    new Route("/compact", maintenance("cluster") { (store, cluster) =>
      val before = store.deltaCount
      store.compact(cluster.getOrElse(0L).toInt)
      s""""compacted":true,"deltas_folded":$before,"version":${store.version}"""
    }, Post, "POST with ?store=[&cluster=N]"),
    new Route("/vacuum", maintenance("retain") { (store, retain) =>
      store.vacuum(retain.getOrElse(0L))
      s""""vacuumed":true,"vacuumed_through":${store.vacuumedThrough},""" +
        s""""version":${store.version}"""
    }, Post, "POST with ?store=[&retain=N]"),
    new Route("/ingest/curate", ingestCurate, Post,
      "POST a JSON batch of {doc_id, text, lang} with ?tag="),
    new Route("/ingest/ann", ingestAnn, Post,
      "POST JSON rows of {vec_id, embedding:[...]} with ?index=&tag="),
    new Route("/ingest/dedup", ingestDedup, Post,
      "POST JSON rows of {doc_id, text} with ?index=&tag="),
    new Route("/ingest/point", ingestPoint, Post,
      "POST JSON rows in the store's schema with ?store=&tag="),
    new Route("/ingest/report", ingestReport, Post,
      "POST JSON event rows with ?store=&tag=&type="),
    new Route("/takedown/curate", takedownCurate, Post,
      "POST JSON rows of {doc_id} with ?store=&tag="),
    new Route("/takedown/ann", takedownAnn, Post,
      "POST JSON rows of {vec_id} with ?index=&tag="),
    new Route("/takedown/dedup", takedownDedup, Post,
      "POST JSON rows of {doc_id} with ?index=&tag="),
    new Route("/takedown/report", takedownReport, Post,
      "POST JSON rows of {user_id} with ?store=&tag= (&defer=1 lands the " +
        "roster for a later &flush=1)"))

  def boundPort: Int = server.getAddress.getPort

  def start(): Unit = {
    routes.foreach(r => server.createContext(r.path, serve(r)(_)))
    server.setExecutor(pool)
    server.start()
  }

  /** Stop listening, then let in-flight requests finish (bounded) and end
    * the request threads, so a stopped server keeps no JVM alive. */
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    if (!pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS))
      pool.shutdownNow()
  }

  /** Whether [[stop]] has ended every request thread. */
  private[graft] def isTerminated: Boolean = pool.isTerminated
}

object QueryServer {

  /** A configured root and the word replies use for it. */
  private[server] final case class Root(kind: String, path: Option[String])

  /** A route's answer. */
  private[server] final case class Reply(code: Int, body: String,
                                         ctype: String = "application/json")

  /** Ends a request early with its reply; see [[fail]]. */
  private[server] final class Halt(val reply: Reply) extends ControlThrowable

  /** End the request with `code` and `{"error": msg}`. */
  private[server] def fail(code: Int, msg: String): Nothing =
    throw new Halt(Reply(code, error(msg)))

  /** `{"error": ...}` carrying the message's first line. */
  private[server] def error(msg: String): String =
    s"""{"error":${str(firstLine(msg))}}"""

  private[server] def firstLine(s: String): String = s.takeWhile(_ != '\n')

  /** `s` as a JSON string literal. */
  private[server] def str(s: String): String = "\"" + esc(s) + "\""

  /** RFC 8259 string escape: `\`, `"` and every control character
    * U+0000–U+001F. */
  private[graft] def esc(s: String): String = {
    val b = new java.lang.StringBuilder(s.length + 8)
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.toString
  }

  /** TCP_NODELAY on the JDK server's sockets: it writes a response's
    * headers and body separately, and without NODELAY the body waits out
    * the client's delayed ACK (~40 ms per small response). The JDK reads
    * the property once, when the first `HttpServer` is created; a value
    * the user set is kept. */
  private def preferNoDelay(): Unit =
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")

  def main(args: Array[String]): Unit = {
    val port = sys.env.getOrElse("GRAFT_PORT", "8080").toInt
    val sf = sys.env.getOrElse("GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val srv = new QueryServer(spark, sf, port,
      storeRoot = sys.env.get("GRAFT_STORE_ROOT"),
      indexRoot = sys.env.get("GRAFT_INDEX_ROOT"))
    srv.start()
    println(s"[graft] query server on :${srv.boundPort}")
    Thread.currentThread.join()
  }
}
