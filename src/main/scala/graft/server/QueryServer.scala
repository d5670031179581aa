package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** Thin HTTP wrapper over the registered query surface — the microservice
  * face of the engine (the reference is a queue-worker microservice; its
  * query semantics are the SparkEntry registry, its transport is
  * environment — this is the REST flavor).
  *
  * Routes:
  *   GET /health                     → {"status":"ok"}
  *   GET /queries                    → registered query names
  *   GET /query/<name>?sf=DIR&limit=N → run query, JSON rows (default
  *                                      limit 1000; collect is bounded)
  *   GET /explain/<name>?sf=DIR      → formatted physical plan, text/plain
  *   GET /version?store=<name>       → content version of a point store
  *                                      under `storeRoot` — the web
  *                                      tier's "did anything change?"
  *                                      poll that pairs with the
  *                                      crunch_update notify hook
  *                                      (worker.js:184-190)
  *   GET /store/<name>[?version=V&limit=N]
  *                                   → rows of that point store, at the
  *                                      current version or a TIME-TRAVEL
  *                                      one (poll /version, then read
  *                                      the version you saw — a
  *                                      consistent read without any
  *                                      server-side pinning); zero
  *                                      configuration, the layout comes
  *                                      from the store's self-describing
  *                                      manifest
  *   POST /probe/perplexity?store=<name>[&limit=N]
  *                                   → score a posted {doc_id, text}
  *                                      batch against a persisted
  *                                      bigram count store (the LM
  *                                      quality filter served without
  *                                      the corpus; total add-one
  *                                      smoothing covers unseen
  *                                      bigrams).
  *   GET /paths[?gap=30m&sf=DIR&limit=N]
  *                                   → path-transition matrix (the
  *                                      sankey input); &gap bounds
  *                                      adjacency to the session grain.
  *   GET /retention?period=week[&mode=classic|rolling&sf=DIR&limit=N]
  *                                   → cohort retention matrix over the
  *                                      events table (day|week|month
  *                                      calendar cohorts) — the /funnel
  *                                      convention applied to the
  *                                      second product-analytics shape.
  *   GET /funnel?steps=a,b,c[&window=30m&mode=chained|deepest|sessions
  *                           &gap=30m&sf=DIR&limit=N]
  *                                   → ordered conversion funnel over
  *                                      the events table for ANY step
  *                                      path (default = the registered
  *                                      view→click→purchase); per-step
  *                                      (step, step_name, users) report
  *                                      — or ?store= to read a
  *                                      MAINTAINED funnel store (a
  *                                      session-funnel store serves its
  *                                      users AND visits measures)
  *   GET /health/report?store=<name>
  *                                   → the wire-maintained report
  *                                      store's health: pinned config,
  *                                      version, key-grain row count,
  *                                      retained drop files/bytes,
  *                                      landed tag count, takedown
  *                                      ledger (committed + any
  *                                      mid-flight pending, the state
  *                                      where ingests refuse)
  *   GET /profile?store=<name>[&version=V]
  *                                   → the derived profile (nulls,
  *                                      distinct estimates, typed
  *                                      extremes, mean lengths) of any
  *                                      version of a persisted profile
  *                                      store — /drift's companion
  *                                      absolute read
  *   GET /drift?store=<name>&from=V[&to=V][&gate]
  *                                   → per-column drift between two
  *                                      versions of a persisted PROFILE
  *                                      store (profilePartial-shaped
  *                                      PointStore; `to` defaults to
  *                                      the live snapshot) — the
  *                                      alerting read served without a
  *                                      corpus re-scan; &gate returns
  *                                      Profile.checkDrift's (rule,
  *                                      observed, passed) report
  *                                      instead of the raw deltas
  *   POST /probe/dedup?index=<name>[&threshold=T&limit=N]
  *                                   → probe a persisted [[graft.operators
  *                                      .DedupIndex]] under `indexRoot`
  *                                      with the posted batch (JSON array
  *                                      or JSONL of {"doc_id","text"}):
  *                                      "does this batch duplicate the
  *                                      corpus?" ahead of ingest — the
  *                                      nightly question, served without
  *                                      appending (read-only; O(batch)
  *                                      kernel work against the stored
  *                                      band table). Returns verified
  *                                      (a=probe, b=indexed) pairs with
  *                                      exact Jaccard. Probe doc_ids
  *                                      should be disjoint from indexed
  *                                      ids (the index contract; equal
  *                                      ids are dropped as self-matches).
  *   POST /probe/curate?store=<name>[&limit=N]
  *                                   → screen the posted batch (JSON
  *                                      rows of {"doc_id","text","lang"})
  *                                      against a persisted
  *                                      [[graft.operators.CurateStore]]
  *                                      under `indexRoot` WITHOUT
  *                                      committing: per doc the quality /
  *                                      repetition scores, the
  *                                      boilerplate + contamination
  *                                      verdicts vs the stored state as
  *                                      it stands, the stored near-dup
  *                                      count, and the composite `keep`
  *                                      — "would curation keep this
  *                                      crawl?" ahead of ingest.
  *   GET /health/curate?store=<name>[&limit=N]
  *                                   → the store's per-night corpus-
  *                                      health series (doc counts,
  *                                      vocabulary size, token-length
  *                                      p50/p95 per lang) — the
  *                                      dashboard poll; state-only, no
  *                                      text or kernels touched.
  *   POST /ingest/curate?store=<name>&tag=<tag>
  *                                   → the WRITE face (worker.js
  *                                      delivered writes, 119-165):
  *                                      fold the posted batch into the
  *                                      persisted CurateStore as one
  *                                      night under the caller's tag.
  *                                      Idempotent by the store's
  *                                      consumed-tag ledger — a queue
  *                                      redelivery or client retry of a
  *                                      committed tag reports
  *                                      committed=false and changes
  *                                      nothing.
  *   POST /probe/ann?index=<name>[&k=&nprobe=&mode=exact|pq|refine
  *                  &kRefine=&allowed=1,2,3]
  *                                   → top-k neighbors for the posted
  *                                      query batch (JSON rows of
  *                                      {"qid","qv":[...]}) from a
  *                                      persisted [[graft.operators
  *                                      .IvfIndex]] under `indexRoot`:
  *                                      the vector-search service face.
  *                                      mode picks the read path
  *                                      (exact cosine over probed
  *                                      cells / ADC over PQ codes /
  *                                      ADC + exact re-rank); `allowed`
  *                                      restricts neighbors to an id
  *                                      set (attribute-filtered
  *                                      search — any metadata predicate
  *                                      reduces to one).
  *   POST /backup?store=<name>&dest=<name>
  *                                   → StoreFs.cloneTo over the wire:
  *                                      a consistent point-in-time
  *                                      backup under the source's
  *                                      writer lease (one committed
  *                                      generation, independent
  *                                      thereafter). Plain names under
  *                                      the owning root only; existing
  *                                      dest → 400, live writer on the
  *                                      source → 409 naming the holder.
  *   POST /compact?store=<name>[&cluster=N]
  *   POST /vacuum?store=<name>[&retain=N]
  *                                   → the point-store MAINTENANCE
  *                                      verbs served: compact folds the
  *                                      delta list into one base
  *                                      (content/version identical;
  *                                      &cluster Z-ORDERS it into N
  *                                      files), vacuum reclaims folded
  *                                      directories and prunes the
  *                                      changefeed to the last N
  *                                      versions — an explicit
  *                                      retention choice (time travel /
  *                                      changefeed reads below the
  *                                      horizon refuse loudly). Lease-
  *                                      owned; live writer → 409;
  *                                      non-point kinds → 400 (they
  *                                      carry their own verbs).
  *   GET /health/ann?index=<name>
  *   POST /rebalance?index=<name>    → the vector index's operational
  *                                      pair: occupancy (cells,
  *                                      populated, total, fullest,
  *                                      imbalance — the when-to-
  *                                      rebalance signal) and the
  *                                      physical rebalance (quantizer
  *                                      retrain over live members with
  *                                      tombstones applied — the
  *                                      reclaim /takedown/ann points
  *                                      at), lease-owned, one atomic
  *                                      manifest flip.
  *   GET /stores                     → discovery: every persisted store
  *                                      under both roots, classified by
  *                                      its own on-disk markers (kind =
  *                                      point|curate|dedup|ivf|recipe;
  *                                      point and recipe stores carry
  *                                      their current version) —
  *                                      operators and clients never
  *                                      guess names.
  *   POST /ingest/ann?index=<name>&tag=<batchid>
  *                                   → append a posted embedding batch
  *                                      (JSON rows of {vec_id,
  *                                      embedding:[...]}) to a
  *                                      persisted IvfIndex under its
  *                                      writer lease — the streaming
  *                                      foreachBatch write path over
  *                                      the wire, ledger-idempotent
  *                                      like /ingest/curate.
  *   POST /ingest/dedup?index=<name>&tag=<night>[&verify=1]
  *                                   → append a posted {doc_id, text}
  *                                      night to a persisted DedupIndex
  *                                      (signatures at the index's own
  *                                      pinned width, ledger-idempotent,
  *                                      auto-compacted past the member
  *                                      bound); &verify=1 refuses
  *                                      already-indexed doc_ids with
  *                                      the overlap named. The write
  *                                      half of /probe/dedup — probe
  *                                      the night, ingest the
  *                                      survivors.
  *   POST /ingest/point?store=<name>&tag=<batchid>
  *                                   → append a posted partial batch
  *                                      (JSON rows in the store's own
  *                                      self-described schema) to a
  *                                      persisted PointStore — the
  *                                      plain point table's write face
  *                                      (the reference's upsert worker
  *                                      shape), completing the family:
  *                                      every persisted store now has
  *                                      a served write. Ledger-
  *                                      idempotent like its siblings.
  *                                      The body (one JSON row, or an
  *                                      array of rows, per line) is
  *                                      checked and parsed in the server
  *                                      — field names by Jackson, values
  *                                      FAILFAST by Spark's own JSON
  *                                      parser folded at planning — so
  *                                      the only Spark jobs are
  *                                      appendTagged's write; unknown
  *                                      fields, failed coercion, no rows
  *                                      or a null key are 400s.
  *   POST /ingest/report?store=<name>&tag=<night>&type=funnel|
  *        funnel_deepest|funnel_sessions|retention|retention_rolling|
  *        paths|latency [&window=1d][&period=week][&gap=30m][&wait=30s]
  *        [&parts=N]
  *                                   → fold a posted nightly EVENTS drop
  *                                      (JSON rows of {user_id, ts,
  *                                      event_id, event_type}) into a
  *                                      MAINTAINED analytics report
  *                                      store through the registered
  *                                      lifecycles' own streaming-twin
  *                                      chain — the write face of the
  *                                      /funnel //retention //paths
  *                                      //latency ?store= reads. The
  *                                      fold configuration pins at
  *                                      first ingest; the maintenance
  *                                      stream is owned through its
  *                                      lease for the whole call;
  *                                      exactly-once on the drop-file
  *                                      ledger + the checkpoint's
  *                                      batch ledger.
  *   POST /takedown/curate?store=<name>&tag=<reqid>
  *   POST /takedown/ann?index=<name>&tag=<reqid>
  *   POST /takedown/dedup?index=<name>&tag=<reqid>
  *                                   → doc-grain deletion over the wire
  *                                      (the compliance write: takedown
  *                                      / opt-out / PII removal arrives
  *                                      as an API call in production).
  *                                      Body = JSON rows of {doc_id} /
  *                                      {vec_id}; the store's own
  *                                      takedown verb runs under its
  *                                      writer lease, committed derives
  *                                      from the verb's return, and a
  *                                      redelivered request tag answers
  *                                      committed=false — exactly-once
  *                                      on the store's ledger, zero
  *                                      server state.
  *   POST /takedown/report?store=<name>&tag=<reqid>
  *                                   → user-grain takedown for a WIRE-
  *                                      maintained analytics store.
  *                                      Body = JSON rows of {user_id};
  *                                      the roster's rows purge
  *                                      PHYSICALLY from the retained
  *                                      _stream/drops files, the report
  *                                      re-derives from the purged
  *                                      drops and commits in one atomic
  *                                      flip that also REPLACES the
  *                                      maintenance checkpoint (held
  *                                      state erased, not aged out),
  *                                      and every later /ingest/report
  *                                      filters the cumulative roster
  *                                      (forward opt-out). Library-
  *                                      maintained stores 409 with the
  *                                      remedy named. Exactly-once on
  *                                      the _stream/takedowns ledger.
  *   GET /assemble[?sf=DIR&seed=S&budget=N&epochs=en:2.3,de:1.5
  *                 &default=W&limit=N]
  *                                   → the training-mix assembly
  *                                      RECIPE, parameterized: mix the
  *                                      documents table under the given
  *                                      epoch weights, shuffle under
  *                                      the seed, pack to budget-token
  *                                      contexts ([[graft.operators.Mix
  *                                      .assembleWith]]); every omitted
  *                                      param falls back to the
  *                                      oracle-proven assemble_epochs
  *                                      constants. Rows ordered by
  *                                      batch layout (lang, bin,
  *                                      bin_offset), bounded like
  *                                      /query. With recipe=<store>
  *                                      [&version=V] the layout replays
  *                                      a STORED recipe version instead
  *                                      (the provenance read: "exactly
  *                                      what run N trained on");
  *                                      stored-vs-inline mixing is
  *                                      refused.
  *   POST /recipe?store=<name>&tag=<t>[&epochs=..&seed=..&budget=..
  *                &default=..&shard=..]
  *   GET  /recipe?store=<name>[&version=V]
  *                                   → the assembly-recipe CONFIG store
  *                                      ([[graft.sources.RecipeStore]])
  *                                      over the wire: POST commits a
  *                                      new immutable version under an
  *                                      exactly-once tag (redelivery →
  *                                      committed=false; store created
  *                                      on first commit; omitted params
  *                                      = registered constants), GET
  *                                      reads any version with its
  *                                      version→tag provenance link.
  *                                      /stores lists it as
  *                                      kind=recipe with its version.
  *
  * The server holds ONE SparkSession; queries are declarative DataFrames,
  * so concurrent requests are just concurrent Spark jobs under the
  * session's scheduler. Row payloads go through df.limit(n).toJSON on the
  * executors — the driver only concatenates bounded output.
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

  /** The `sf` query param is a filesystem path; unvalidated it lets any
    * HTTP client point the parquet loaders at an arbitrary directory.
    * Whitelist: only sibling `sf*` scale dirs of the configured default
    * (canonicalized, so `..` traversal can't escape). */
  private val sfRoot =
    new java.io.File(defaultSf).getCanonicalFile.getParentFile

  private def resolveSf(requested: Option[String]): Option[String] =
    requested match {
      case None => Some(defaultSf)
      case Some(p) =>
        val f = new java.io.File(p).getCanonicalFile
        if (f.getParentFile == sfRoot && f.getName.startsWith("sf")) Some(f.getPath)
        else None
    }

  /** The `&by=` segment registry shared by the compute faces of
    * /funnel, /retention and /paths — ad-hoc segmentation over the
    * wire, the /assemble convention applied to the segment axis (an
    * analyst's breakdown column is a parameter, not a redeploy). Each
    * name maps to ONE user attribute served from the star schema's
    * customer-grain dims; the attach is one broadcast join (a column
    * per requested name), so the fact table never shuffles for it and
    * the segmented operators carry the payload from there. /funnel
    * takes a comma list (`by=segment,region` — every attribute
    * expanded at once with "all" members on each axis, the registered
    * events_funnel_segmented2 shape; capped at 2 like the registered
    * query — crunch_global_full's 2^5 governs anything larger);
    * /retention and /paths take one name. `?store=` reads refuse
    * `&by` at every route — a store is one materialization (its own
    * segmented stores dispatch on their columns). */
  private val SegmentRegistry: Map[String, org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.col
    scala.collection.immutable.ListMap(
      "segment" -> col("c_mktsegment"),
      "region" -> col("n_name"))
  }

  private val SegmentRegistryMsg =
    s""""by must name distinct attributes from ${
      SegmentRegistry.keys.mkString("|")} (the served user attributes)""""

  private def segmentedEvents(sf: String, names: Seq[String])
      : Either[String, org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    if (names.isEmpty || names.distinct.size != names.size ||
        names.exists(!SegmentRegistry.contains(_)))
      Left(s"""{"error":$SegmentRegistryMsg}""")
    else {
      val base = graft.Tables.customer(spark, sf)
      val dim = (if (names.contains("region"))
          base.join(graft.Tables.nation(spark, sf),
            col("c_nationkey") === col("n_nationkey"))
        else base)
        .select(col("c_custkey").as("user_id") +:
          names.map(n => SegmentRegistry(n).as(n)): _*)
      Right(graft.Tables.events(spark, sf)
        .join(broadcast(dim), Seq("user_id")))
    }
  }

  def boundPort: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, code: Int, body: String,
                      ctype: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", ctype)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** A plain single-segment child name under a store root. The charset
    * already forbids separators, but "." and ".." PASS it and traverse:
    * `new File(root, "..")` reaches the root's parent — and its
    * `getParentFile` is textually the root again, so the parent-dir
    * check alone does not catch them (a /backup of ".." once recursed
    * /tmp into itself unboundedly before this guard existed). */
  private def plainName(n: String): Boolean =
    n.matches("[A-Za-z0-9._-]+") && n != "." && n != ".."

  /** Canonicalize-under-root open of a MAINTAINED report store (the
    * analytics family's `?store=` reads): resolves under the store
    * root, opens the self-described PointStore, and refuses a store
    * that doesn't carry the report's columns — the shape check every
    * store-reading route performs, factored once. */
  private def openReportStore(root: String, name: String, needed: Seq[String])
      : Either[(Int, String), graft.sources.PointStore] = {
    val rootDir = new java.io.File(root).getCanonicalFile
    val dir = new java.io.File(rootDir, name).getCanonicalFile
    if (!plainName(name) || dir.getParentFile != rootDir)
      Left(403 -> """{"error":"store not under the store root"}""")
    else try {
      val store = graft.sources.PointStore.open(spark, dir.getPath)
      val missing = needed.filterNot(store.snapshot.columns.contains)
      if (missing.nonEmpty)
        Left(400 -> (s"""{"error":"store '$name' is not a maintained """ +
          s"""report — missing column(s) ${missing.mkString(", ")}"}"""))
      else Right(store)
    } catch {
      case e: IllegalArgumentException =>
        val msg = Option(e.getMessage).getOrElse("bad request")
        Left((if (msg.contains("no point store")) 404 else 400) ->
          s"""{"error":"${msg.takeWhile(_ != '\n')
            .replace("\\", "\\\\").replace("\"", "\\\"")}"}""")
    }
  }

  /** A VALUED boolean flag, never presence-only: a caller templating
    * `key=${enabled}` must get OFF for `key=0` / `key=false`, and a
    * typo (`key=yess`) must be a 400 (None), not a silent enable. Bare
    * `key` (no value) still means on; absent means off. */
  private def flagParam(ex: HttpExchange, key: String): Option[Boolean] =
    Option(ex.getRequestURI.getQuery).toSeq
      .flatMap(_.split("&"))
      .collectFirst {
        case `key` => Some(true)
        case kv if kv.startsWith(key + "=") =>
          kv.drop(key.length + 1).toLowerCase match {
            case "1" | "true"  => Some(true)
            case "0" | "false" => Some(false)
            case _             => None // unparseable -> 400
          }
      }.getOrElse(Some(false))

  private def param(ex: HttpExchange, key: String): Option[String] =
    Option(ex.getRequestURI.getQuery).toSeq
      .flatMap(_.split("&"))
      .collectFirst { case kv if kv.startsWith(key + "=") =>
        java.net.URLDecoder.decode(kv.drop(key.length + 1), "UTF-8") }

  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Top-level field names of one `/ingest/point` body line, as Spark's
    * JSON reader infers them: an object's own names, or the names of an
    * array's object elements (nulls skipped). A malformed line, a scalar,
    * or an array holding anything else names nothing — the typed parse
    * refuses it. */
  private def fieldNamesOf(line: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    def names(n: com.fasterxml.jackson.databind.JsonNode) =
      n.fieldNames.asScala.toSeq
    scala.util.Try(jsonMapper.readTree(line)).toOption match {
      case Some(n) if n.isObject => names(n)
      case Some(n) if n.isArray =>
        val elems = n.elements.asScala.filterNot(_.isNull).toSeq
        if (elems.forall(_.isObject)) elems.flatMap(names) else Nil
      case _ => Nil
    }
  }

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
    import org.apache.spark.sql.functions.{col, from_json}
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

  /** `&wait=` on a served write: a bounded poll on the target's writer
    * lease — the double-firing-scheduler convenience /ingest/report
    * introduced, uniform across every write face: the second firing of
    * a nightly job waits out the first and then no-ops on the tag
    * ledger, instead of surfacing a 409 the scheduler must retry
    * client-side. Left = the 400 body for a malformed value. */
  private def leaseWaitOf(ex: HttpExchange): Either[String, Long] =
    param(ex, "wait") match {
      case None => Right(0L)
      case Some(p) =>
        scala.util.Try(graft.operators.Windows.parseHorizon(p)).toOption
          .toRight("""{"error":"wait must be <n><ms|s|m|h|d>, e.g. 30s"}""")
    }

  def start(): Unit = {
    server.createContext("/health", (ex: HttpExchange) =>
      respond(ex, 200, """{"status":"ok"}"""))
    server.createContext("/queries", (ex: HttpExchange) =>
      respond(ex, 200,
        SparkEntry.queries.keys.toSeq.sorted.mkString("[\"", "\",\"", "\"]")))
    server.createContext("/version", (ex: HttpExchange) => {
      (storeRoot, param(ex, "store")) match {
        case (None, _) =>
          respond(ex, 404, """{"error":"no store root configured"}""")
        case (_, None) =>
          respond(ex, 400, """{"error":"store param required"}""")
        case (Some(root), Some(name)) =>
          // same canonicalize-under-root discipline as the sf whitelist:
          // the store param is a directory NAME, never a path (and it is
          // echoed into JSON, so the charset is clamped too)
          val rootDir = new java.io.File(root).getCanonicalFile
          val dir = new java.io.File(rootDir, name).getCanonicalFile
          if (!plainName(name) || dir.getParentFile != rootDir)
            respond(ex, 403, """{"error":"store not under the store root"}""")
          else graft.sources.PointStore.versionOf(dir.getPath) match {
            case None =>
              respond(ex, 404, s"""{"error":"no store named '$name'"}""")
            case Some(v) =>
              respond(ex, 200, s"""{"store":"$name","version":$v}""")
          }
      }
    })
    // the data-read face of the point-store family: rows of a store
    // under the store root, at the current version or a time-travel one
    // (pairs with /version's change poll — poll, then read the version
    // you saw). Zero configuration: the store's layout comes from its
    // self-describing manifest (PointStore.open). Bounded like /query.
    server.createContext("/store/", (ex: HttpExchange) => {
      val name = ex.getRequestURI.getPath.stripPrefix("/store/")
      (storeRoot, name) match {
        case (None, _) =>
          respond(ex, 404, """{"error":"no store root configured"}""")
        case (Some(root), n) =>
          val rootDir = new java.io.File(root).getCanonicalFile
          val dir = new java.io.File(rootDir, n).getCanonicalFile
          val ver = param(ex, "version")
            .map(p => scala.util.Try(p.toLong).toOption)
          val lim = param(ex, "limit")
            .map(p => scala.util.Try(p.toInt).toOption)
          if (!plainName(n) || dir.getParentFile != rootDir)
            respond(ex, 403, """{"error":"store not under the store root"}""")
          else if (ver.contains(None))
            respond(ex, 400, """{"error":"version must be an integer"}""")
          else if (lim.contains(None))
            respond(ex, 400, """{"error":"limit must be an integer"}""")
          else try {
            val store =
              try graft.sources.PointStore.open(spark, dir.getPath)
              catch { case e: IllegalArgumentException =>
                val msg = Option(e.getMessage).getOrElse("bad store")
                respond(ex,
                  if (msg.contains("no point store")) 404 else 400,
                  s"""{"error":"${msg.takeWhile(_ != '\n')
                    .replace("\\", "\\\\").replace("\"", "\\\"")}"}""")
                null
              }
            if (store != null) {
              import org.apache.spark.sql.functions.col
              val limit = lim.flatten.getOrElse(1000).max(1).min(MaxLimit)
              val frame = ver.flatten match {
                case Some(v) => store.snapshotAt(v)
                case None => store.snapshot
              }
              val keyCols = store.storedSchema.get("keys").map(col)
              val rows = frame.orderBy(keyCols: _*).limit(limit)
                .toJSON.collect()
              respond(ex, 200, rows.mkString("[", ",", "]"))
            }
          } catch {
            case e: IllegalArgumentException =>
              // future / vacuumed-past version asks are caller errors
              respond(ex, 400, s"""{"error":"${Option(e.getMessage)
                .getOrElse("bad request").takeWhile(_ != '\n')
                .replace("\\", "\\\\").replace("\"", "\\\"")}"}""")
            case e: Throwable =>
              respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
          }
      }
    })
    // the parameterized funnel: GET /funnel?steps=a,b,c[&window=30m&
    // sf=..&limit=N] serves Windows.funnelOf over the events table for
    // ANY ordered step path (the registered events_funnel runs the
    // fixed view→click→purchase path; an analyst's ad-hoc path is a
    // parameter, not a redeploy — the /assemble convention applied to
    // the funnel). &window bounds each hop to the conversion horizon;
    // &mode=deepest swaps in the anchored deepest-chain semantics.
    // Response = the per-step report rows.
    server.createContext("/funnel", (ex: HttpExchange) => {
      try {
        val steps = param(ex, "steps").map { s =>
          val parts = s.split(",", -1).toSeq
          if (parts.isEmpty || parts.exists(!_.matches("[A-Za-z0-9_-]+")) ||
              parts.distinct.size != parts.size) None
          else Some(parts)
        }
        val lim = param(ex, "limit")
          .map(p => scala.util.Try(p.toInt).toOption)
        // &window=30m bounds each hop (funnelOf's horizon) — compact
        // duration only, parsed by the operator's own parser
        val win = param(ex, "window").map(p =>
          scala.util.Try(graft.operators.Windows.parseHorizon(p)).toOption)
        // &mode=chained (default) | deepest | sessions — the three
        // windowFunnel semantics; deepest requires a window (it IS
        // anchored); sessions takes &gap (the visit bound), never
        // &window — a session already bounds the whole visit, so the
        // combination is refused explicitly instead of silently
        // picking one
        val mode = param(ex, "mode").getOrElse("chained")
        val gap = param(ex, "gap").map(p =>
          scala.util.Try(graft.operators.Windows.parseHorizon(p)).toOption)
        // &store=NAME serves the MAINTAINED funnel report (the
        // StreamingFunnel→PointStore chain) instead of re-scanning
        // events — O(store) per read; the store IS one materialized
        // configuration, so the compute parameters are refused with it.
        // &version=V time-travels the store (snapshotAt — the report
        // as of an earlier fold); a vacuumed-past ask is a 400, which
        // is also the compliance posture: a takedown's rebuild advances
        // the vacuum horizon, so time travel cannot resurrect a purged
        // user.
        val storeName = param(ex, "store")
        val ver = param(ex, "version")
          .map(p => scala.util.Try(p.toLong).toOption)
        // &by=segment runs the SEGMENTED operators parameterized —
        // the report gains (segment, ..., "all" members); names
        // resolve through the shared registry (segmentedEvents), and
        // a comma list expands EVERY attribute at once with "all"
        // members per axis (the events_funnel_segmented2 shape)
        val by = param(ex, "by")
        val byNames = by.map(_.split(",", -1).toSeq).getOrElse(Nil)
        // &exclude=2:error,3:error voids hops on an intervening event
        // (funnelOf's exclude on the chained/per-visit laws; on
        // mode=deepest it voids PER ANCHOR within the anchor's window
        // — funnelDeepestOf's exclude, r20)
        val excl = param(ex, "exclude").map { s =>
          val parsed = s.split(",", -1).toSeq.map(_.split(":", -1) match {
            case Array(k, t) if k.matches("[0-9]{1,2}") &&
                t.matches("[A-Za-z0-9_-]+") => Some(k.toInt -> t)
            case _ => None
          })
          if (parsed.contains(None) ||
              parsed.flatten.map(_._1).distinct.size != parsed.size) None
          else Some(parsed.flatten.toMap)
        }
        // &minval=2:20,3:50 is the SAFE wire form of funnelOf's
        // per-step predicates (stepWhere): step k's event must carry
        // value > X to count. A threshold registry beats arbitrary
        // predicate strings crossing the wire (no expression parsing,
        // no injection surface); richer predicates stay a library-level
        // Column API.
        val minval = param(ex, "minval").map { s =>
          val parsed = s.split(",", -1).toSeq.map(_.split(":", -1) match {
            case Array(k, v) if k.matches("[0-9]{1,2}") &&
                v.matches("-?[0-9]+(\\.[0-9]+)?") =>
              Some(k.toInt -> v.toDouble)
            case _ => None
          })
          if (parsed.contains(None) ||
              parsed.flatten.map(_._1).distinct.size != parsed.size) None
          else Some(parsed.flatten.toMap)
        }
        if (steps.contains(None))
          respond(ex, 400, """{"error":"steps must be distinct plain """ +
            """names (steps=view,click,purchase)"}""")
        else if (lim.contains(None))
          respond(ex, 400, """{"error":"limit must be an integer"}""")
        else if (ver.contains(None))
          respond(ex, 400, """{"error":"version must be an integer"}""")
        else if (win.contains(None))
          respond(ex, 400,
            """{"error":"window must be <n><ms|s|m|h|d>, e.g. 30m"}""")
        else if (gap.contains(None))
          respond(ex, 400,
            """{"error":"gap must be <n><ms|s|m|h|d>, e.g. 30m"}""")
        else if (excl.contains(None))
          respond(ex, 400, """{"error":"exclude must be distinct """ +
            """step:type pairs (exclude=2:error,3:error)"}""")
        else if (minval.contains(None))
          respond(ex, 400, """{"error":"minval must be distinct """ +
            """step:threshold pairs (minval=2:20,3:50)"}""")
        else if (by.isDefined && byNames.size > 2)
          respond(ex, 400, """{"error":"by takes at most two """ +
            """attributes (the registered 2^2 grouping-set cap)"}""")
        else if (storeName.isDefined &&
            (steps.isDefined || win.isDefined || gap.isDefined ||
              by.isDefined || excl.isDefined || minval.isDefined ||
              param(ex, "mode").isDefined || param(ex, "sf").isDefined))
          respond(ex, 400, """{"error":"store= serves one maintained """ +
            """materialization — steps/window/gap/mode/by/exclude/minval/sf don't apply"}""")
        else if (ver.isDefined && storeName.isEmpty)
          respond(ex, 400, """{"error":"version= applies to store= """ +
            """reads (a maintained store's time travel)"}""")
        else if (storeName.isDefined) (storeRoot, storeName) match {
          case (None, _) =>
            respond(ex, 404, """{"error":"server started without a store root"}""")
          case (Some(root), Some(name)) =>
            openReportStore(root, name, Seq("step", "step_name", "users")) match {
              case Left((code, body)) => respond(ex, code, body)
              case Right(store) =>
                import org.apache.spark.sql.functions.col
                val snap = ver.flatten.fold(store.snapshot)(store.snapshotAt)
                // which report a store holds is its materialization,
                // and the read serves its full shape: a SESSION store
                // carries the visits measure beside users; a SEGMENTED
                // store keys on seg and serves the per-segment rows
                // plus the read-time "all" rollup
                val (report, order) =
                  if (snap.columns.contains("seg2"))
                    // a TWO-axis segmented store: per-pair rows + "all"
                    // members on both axes (read-time 2^2 rollup)
                    (graft.streaming.Maintained
                      .funnelSegmented2ReportFrom(spark, snap),
                      Seq(col("step"), col("segment"), col("segment2")))
                  else if (snap.columns.contains("seg"))
                    (graft.streaming.Maintained
                      .funnelSegmentedReportFrom(spark, snap),
                      Seq(col("step"), col("segment")))
                  else if (snap.columns.contains("visits"))
                    (graft.streaming.Maintained
                      .funnelSessionsReportFrom(spark, snap),
                      Seq(col("step")))
                  else (graft.streaming.Maintained
                    .funnelReportFrom(spark, snap), Seq(col("step")))
                val limit = lim.flatten.getOrElse(1000).max(1).min(MaxLimit)
                respond(ex, 200, report.orderBy(order: _*).limit(limit)
                  .toJSON.collect().mkString("[", ",", "]"))
            }
          case _ => () // unreachable: storeName.isDefined
        }
        else if (!Set("chained", "deepest", "sessions")(mode))
          respond(ex, 400,
            """{"error":"mode must be chained|deepest|sessions"}""")
        else if (mode == "deepest" && win.flatten.isEmpty)
          respond(ex, 400,
            """{"error":"mode=deepest requires a window (the search is anchored)"}""")
        else if (mode == "sessions" && win.isDefined)
          respond(ex, 400, """{"error":"mode=sessions takes &gap (the """ +
            """visit bound), not &window — a session already bounds the visit"}""")
        else if (mode != "sessions" && gap.isDefined)
          respond(ex, 400,
            """{"error":"&gap only applies to mode=sessions (use &window)"}""")
        else if (minval.isDefined && mode != "chained")
          respond(ex, 400, """{"error":"&minval rides the chained """ +
            """law (per-step predicates on the deepest/per-visit """ +
            """searches are a library-level API)"}""")
        else resolveSf(param(ex, "sf")) match {
          case None =>
            respond(ex, 403, """{"error":"sf not in the allowed scale dirs"}""")
          case Some(sf) =>
            import org.apache.spark.sql.functions.{coalesce, col, count, countDistinct, lit, struct}
            val names = steps.flatten
              .getOrElse(graft.operators.Windows.FunnelSteps)
            val evOr =
              if (byNames.isEmpty) Right(graft.Tables.events(spark, sf))
              else segmentedEvents(sf, byNames)
            evOr match {
              case Left(err) => respond(ex, 400, err)
              case Right(ev) =>
                // the payload is opaque to the chain: one attribute
                // rides bare, several ride one struct (entry-sampled
                // together — the events_funnel_segmented2 composition)
                val seg = byNames match {
                  case Nil => None
                  case Seq(n) => Some(col(n))
                  case ns => Some(struct(ns.zipWithIndex.map {
                    case (n, i) => col(n).as(s"s$i") }: _*))
                }
                val exclMap = excl.flatten.getOrElse(Map.empty)
                val stages = mode match {
                  // r20: the deepest search takes &exclude too (the r19
                  // refusal decided — per-anchor voiding within the
                  // anchor's window, funnelDeepestOf's exclude)
                  case "deepest" => graft.operators.Windows
                    .funnelDeepestOf(ev, names, win.flatten.get, by = seg,
                      exclude = exclMap)
                  case "sessions" => graft.operators.Windows
                    .funnelSessionsOf(ev, names,
                      gap.flatten.getOrElse(1800000L), by = seg,
                      exclude = exclMap)
                  case _ => graft.operators.Windows
                    .funnelOf(ev, names, win.flatten, by = seg,
                      exclude = exclMap,
                      stepWhere = minval.flatten.getOrElse(Map.empty)
                        .map { case (k, v) => k -> (col("value") > v) })
                }
                // the measures per mode: sessions are the funnel unit
                // (distinct users + the visit count); the deepest
                // stages are (user, anchor) grain, so users is a
                // distinct count there too
                val (aggs, outs) = mode match {
                  case "deepest" => (Seq(countDistinct(col("user_id"))
                    .as("users")), Seq("users"))
                  case "sessions" => (Seq(
                    countDistinct(col("user_id.u")).as("users"),
                    count(lit(1)).as("visits")), Seq("users", "visits"))
                  case _ =>
                    (Seq(count(lit(1)).as("users")), Seq("users"))
                }
                val report =
                  if (byNames.size >= 2)
                    // every attribute expanded at once: cube over the
                    // payload fields, each member coalescing to 'all'
                    stages.zip(names).zipWithIndex.map {
                      case ((df, name), i) =>
                        df.select(col("user_id") +:
                            byNames.zipWithIndex.map { case (n, j) =>
                              col(s"_seg.s$j").as(n) }: _*)
                          .cube(byNames.map(col): _*)
                          .agg(aggs.head, aggs.tail: _*)
                          .select(byNames.map(n =>
                              coalesce(col(n), lit("all")).as(n)) ++
                            Seq(lit(i + 1).cast("int").as("step"),
                              lit(name).as("step_name")) ++
                            outs.map(col): _*)
                    }.reduce(_ unionByName _)
                  else if (byNames.size == 1)
                    graft.operators.Windows
                      .segmentedFunnelReport(stages, names, aggs, outs)
                  else stages.zip(names).zipWithIndex.map {
                    case ((df, name), i) =>
                      df.agg(aggs.head, aggs.tail: _*)
                        .select(lit(i + 1).cast("int").as("step") +:
                          lit(name).as("step_name") +: outs.map(col): _*)
                  }.reduce(_ unionByName _)
                val limit = lim.flatten.getOrElse(1000).max(1).min(MaxLimit)
                val order =
                  if (byNames.size >= 2) col("step") +: byNames.map(col)
                  else if (byNames.size == 1) Seq(col("step"), col("segment"))
                  else Seq(col("step"))
                respond(ex, 200, report.orderBy(order: _*).limit(limit)
                  .toJSON.collect().mkString("[", ",", "]"))
            }
        }
      } catch {
        case e: IllegalArgumentException =>
          // future / vacuumed-past version asks are caller errors
          respond(ex, 400, s"""{"error":"${Option(e.getMessage)
            .getOrElse("bad request").takeWhile(_ != '\n')
            .replace("\\", "\\\\").replace("\"", "\\\"")}"}""")
        case e: Throwable =>
          respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
      }
    })
    // the transition matrix served: GET /paths[?gap=30m&sf=..&limit=N]
    // — adjacency per user in time order (the sankey input); &gap
    // bounds pairs to the session grain via the operator's own parser
    server.createContext("/paths", (ex: HttpExchange) => {
      try {
        val lim = param(ex, "limit")
          .map(p => scala.util.Try(p.toInt).toOption)
        val gap = param(ex, "gap").map(p =>
          scala.util.Try(graft.operators.Windows.parseHorizon(p)).toOption)
        val storeName = param(ex, "store")
        val ver = param(ex, "version")
          .map(p => scala.util.Try(p.toLong).toOption)
        // &by=segment serves the segmented matrix (pairs attributed to
        // their from-event's segment, "all" members from grouping
        // sets); a comma list expands every attribute at once with
        // "all" members per axis (the events_paths_segmented2 shape,
        // same cap-2 discipline as /funnel)
        val by = param(ex, "by")
        val byNames = by.map(_.split(",", -1).toSeq).getOrElse(Nil)
        if (lim.contains(None))
          respond(ex, 400, """{"error":"limit must be an integer"}""")
        else if (ver.contains(None))
          respond(ex, 400, """{"error":"version must be an integer"}""")
        else if (gap.contains(None))
          respond(ex, 400,
            """{"error":"gap must be <n><ms|s|m|h|d>, e.g. 30m"}""")
        else if (by.isDefined && byNames.size > 2)
          respond(ex, 400, """{"error":"by takes at most two """ +
            """attributes (the registered 2^2 grouping-set cap)"}""")
        else if (storeName.isDefined &&
            (gap.isDefined || by.isDefined || param(ex, "sf").isDefined))
          respond(ex, 400, """{"error":"store= serves one maintained """ +
            """materialization — gap/by/sf don't apply"}""")
        else if (ver.isDefined && storeName.isEmpty)
          respond(ex, 400, """{"error":"version= applies to store= """ +
            """reads (a maintained store's time travel)"}""")
        else if (storeName.isDefined) (storeRoot, storeName) match {
          // the maintained matrix: StreamingPaths pairs folded into a
          // (from_step, to_step)/n PointStore — the read is O(types²)
          case (None, _) =>
            respond(ex, 404, """{"error":"server started without a store root"}""")
          case (Some(root), Some(name)) =>
            openReportStore(root, name,
                Seq("from_step", "to_step", "n")) match {
              case Left((code, body)) => respond(ex, code, body)
              case Right(store) =>
                import org.apache.spark.sql.functions.col
                val limit = lim.flatten.getOrElse(1000).max(1).min(MaxLimit)
                val snap = ver.flatten.fold(store.snapshot)(store.snapshotAt)
                // segmented stores serve per-segment rows + the
                // read-time "all" member (the /funnel?store= dispatch)
                val (report, order) =
                  if (snap.columns.contains("seg2"))
                    (graft.streaming.Maintained
                      .pathsSegmented2ReportFrom(spark, snap),
                      Seq(col("from_step"), col("to_step"),
                        col("segment"), col("segment2")))
                  else if (snap.columns.contains("seg"))
                    (graft.streaming.Maintained
                      .pathsSegmentedReportFrom(spark, snap),
                      Seq(col("from_step"), col("to_step"), col("segment")))
                  else (snap.select(col("from_step"), col("to_step"),
                    col("n")), Seq(col("from_step"), col("to_step")))
                respond(ex, 200, report.orderBy(order: _*).limit(limit)
                  .toJSON.collect().mkString("[", ",", "]"))
            }
          case _ => () // unreachable: storeName.isDefined
        }
        else resolveSf(param(ex, "sf")) match {
          case None =>
            respond(ex, 403, """{"error":"sf not in the allowed scale dirs"}""")
          case Some(sf) =>
            import org.apache.spark.sql.functions.col
            val matrixOr = byNames match {
              case Nil => Right(graft.operators.Windows.pathTransitionsOf(
                graft.Tables.events(spark, sf), gap.flatten))
              case Seq(b) => segmentedEvents(sf, Seq(b)).map(ev =>
                graft.operators.Windows.pathsSegmentedOf(
                  ev.withColumnRenamed(b, "seg"), gap.flatten))
              // every attribute expanded at once, each serving under
              // its own registry name (the events_paths_segmented2
              // composition — the operator cubes the axes)
              case bs => segmentedEvents(sf, bs).map(ev =>
                graft.operators.Windows.pathsSegmentedOf(
                  ev, gap.flatten, by = bs.map(n => n -> n)))
            }
            matrixOr match {
              case Left(err) => respond(ex, 400, err)
              case Right(matrix) =>
                val limit = lim.flatten.getOrElse(1000).max(1).min(MaxLimit)
                val order = col("from_step") +: col("to_step") +:
                  (if (byNames.size >= 2) byNames.map(col)
                   else if (byNames.size == 1) Seq(col("segment"))
                   else Nil)
                respond(ex, 200,
                  matrix.orderBy(order: _*).limit(limit)
                    .toJSON.collect().mkString("[", ",", "]"))
            }
        }
      } catch {
        case e: IllegalArgumentException =>
          respond(ex, 400, s"""{"error":"${Option(e.getMessage)
            .getOrElse("bad request").takeWhile(_ != '\n')
            .replace("\\", "\\\\").replace("\"", "\\\"")}"}""")
        case e: Throwable =>
          respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
      }
    })
    // the parameterized retention matrix: GET /retention?period=week
    // [&sf=..&limit=N] serves Windows.retentionOf over the events
    // table — the /funnel convention applied to the cohort matrix
    // (the analyst's period choice is a parameter, not a redeploy)
    server.createContext("/retention", (ex: HttpExchange) => {
      try {
        val period = param(ex, "period").getOrElse("week")
        // &mode=classic (active in exactly period k) | rolling (active
        // at k or later — the churn-curve reading)
        val mode = param(ex, "mode").getOrElse("classic")
        val lim = param(ex, "limit")
          .map(p => scala.util.Try(p.toInt).toOption)
        val storeName = param(ex, "store")
        val ver = param(ex, "version")
          .map(p => scala.util.Try(p.toLong).toOption)
        // &by=segment serves the segmented matrix (entry-sampled at
        // the cohort event, "all" members from grouping sets); a comma
        // list expands every attribute at once with "all" members per
        // axis (the events_retention_segmented2 shape, /funnel's cap-2
        // discipline); &tz= truncates cohorts on a market's own
        // calendar (retentionOf's tz — the zone id validates eagerly,
        // unknown zones 400)
        val by = param(ex, "by")
        val byNames = by.map(_.split(",", -1).toSeq).getOrElse(Nil)
        val tz = param(ex, "tz")
        if (!Set("day", "week", "month")(period))
          respond(ex, 400, """{"error":"period must be day|week|month"}""")
        else if (!Set("classic", "rolling")(mode))
          respond(ex, 400, """{"error":"mode must be classic|rolling"}""")
        else if (lim.contains(None))
          respond(ex, 400, """{"error":"limit must be an integer"}""")
        else if (ver.contains(None))
          respond(ex, 400, """{"error":"version must be an integer"}""")
        else if (by.isDefined && byNames.size > 2)
          respond(ex, 400, """{"error":"by takes at most two """ +
            """attributes (the registered 2^2 grouping-set cap)"}""")
        else if (by.isDefined && mode == "rolling")
          respond(ex, 400, """{"error":"segmented retention serves the """ +
            """classic reading — mode=rolling doesn't take &by"}""")
        else if (storeName.isDefined &&
            (param(ex, "period").isDefined || param(ex, "mode").isDefined ||
              by.isDefined || tz.isDefined || param(ex, "sf").isDefined))
          respond(ex, 400, """{"error":"store= serves one maintained """ +
            """materialization — period/mode/by/tz/sf don't apply"}""")
        else if (ver.isDefined && storeName.isEmpty)
          respond(ex, 400, """{"error":"version= applies to store= """ +
            """reads (a maintained store's time travel)"}""")
        else if (storeName.isDefined) (storeRoot, storeName) match {
          // the maintained cohort matrix: StreamingRetention cells
          // folded into a (cohort, offset)/users PointStore — the read
          // is O(cohorts × offsets), never an events re-scan
          case (None, _) =>
            respond(ex, 404, """{"error":"server started without a store root"}""")
          case (Some(root), Some(name)) =>
            openReportStore(root, name,
                Seq("cohort", "offset", "users")) match {
              case Left((code, body)) => respond(ex, code, body)
              case Right(store) =>
                import org.apache.spark.sql.functions.col
                val limit = lim.flatten.getOrElse(1000).max(1).min(MaxLimit)
                val snap = ver.flatten.fold(store.snapshot)(store.snapshotAt)
                // a SEGMENTED store serves its per-segment rows plus
                // the read-time "all" member (dispatch on the store's
                // own columns — the /funnel?store= discipline)
                val (report, order) =
                  if (snap.columns.contains("seg2"))
                    (graft.streaming.Maintained
                      .retentionSegmented2ReportFrom(spark, snap),
                      Seq(col("cohort"), col("offset"), col("segment"),
                        col("segment2")))
                  else if (snap.columns.contains("seg"))
                    (graft.streaming.Maintained
                      .retentionSegmentedReportFrom(spark, snap),
                      Seq(col("cohort"), col("offset"), col("segment")))
                  else (snap.select(
                    graft.Tables.tstr(col("cohort")).as("cohort"),
                    col("offset"), col("users")),
                    Seq(col("cohort"), col("offset")))
                respond(ex, 200, report.orderBy(order: _*).limit(limit)
                  .toJSON.collect().mkString("[", ",", "]"))
            }
          case _ => () // unreachable: storeName.isDefined
        }
        else resolveSf(param(ex, "sf")) match {
          case None =>
            respond(ex, 403, """{"error":"sf not in the allowed scale dirs"}""")
          case Some(sf) =>
            import org.apache.spark.sql.functions.col
            val matrixOr = byNames match {
              case Seq(b) => segmentedEvents(sf, Seq(b)).map(ev =>
                graft.operators.Windows.retentionSegmentedOf(
                  ev.withColumnRenamed(b, "seg"), period, tz))
              // every attribute expanded at once, each serving under
              // its own registry name (the events_retention_segmented2
              // composition — the operator cubes the axes)
              case bs if bs.size >= 2 => segmentedEvents(sf, bs).map(ev =>
                graft.operators.Windows.retentionSegmentedOf(
                  ev, period, tz, by = bs.map(n => n -> n)))
              case _ =>
                val ev = graft.Tables.events(spark, sf)
                Right(
                  if (mode == "rolling")
                    graft.operators.Windows.retentionRollingOf(ev, period, tz)
                  else graft.operators.Windows.retentionOf(ev, period, tz))
            }
            matrixOr match {
              case Left(err) => respond(ex, 400, err)
              case Right(matrix) =>
                val limit = lim.flatten.getOrElse(1000).max(1).min(MaxLimit)
                val order = col("cohort") +: col("offset") +:
                  (if (byNames.size >= 2) byNames.map(col)
                   else if (byNames.size == 1) Seq(col("segment"))
                   else Nil)
                respond(ex, 200,
                  matrix.orderBy(order: _*).limit(limit)
                    .toJSON.collect().mkString("[", ",", "]"))
            }
        }
      } catch {
        case e: IllegalArgumentException =>
          respond(ex, 400, s"""{"error":"${Option(e.getMessage)
            .getOrElse("bad request").takeWhile(_ != '\n')
            .replace("\\", "\\\\").replace("\"", "\\\"")}"}""")
        case e: Throwable =>
          respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
      }
    })
    // the absolute-profile read: GET /profile?store=<profile store>
    // [&version=V] derives the human-facing profile (null counts,
    // distinct estimates, typed extremes, mean lengths) from any
    // version of a persisted profilePartial-shaped PointStore — the
    // companion of /drift (which serves the deltas between two such
    // reads); same zero-config open, same non-profile refusal
    server.createContext("/profile", (ex: HttpExchange) => {
      try (storeRoot, param(ex, "store")) match {
        case (None, _) =>
          respond(ex, 404, """{"error":"server started without a store root"}""")
        case (_, None) =>
          respond(ex, 400, """{"error":"store param required"}""")
        case (Some(root), Some(n)) =>
          val rootDir = new java.io.File(root).getCanonicalFile
          val dir = new java.io.File(rootDir, n).getCanonicalFile
          val ver = param(ex, "version")
            .map(p => scala.util.Try(p.toLong).toOption)
          if (!plainName(n) || dir.getParentFile != rootDir)
            respond(ex, 403, """{"error":"store not under the store root"}""")
          else if (ver.contains(None))
            respond(ex, 400, """{"error":"version must be an integer"}""")
          else try {
            val store = graft.sources.PointStore.open(spark, dir.getPath)
            val stored = ver.flatten
              .map(store.snapshotAt).getOrElse(store.snapshot)
            val frame = graft.operators.Profile.profileFromStored(stored)
              .orderBy(org.apache.spark.sql.functions.col("column"))
            respond(ex, 200,
              frame.limit(MaxLimit).toJSON.collect().mkString("[", ",", "]"))
          } catch {
            case e: IllegalArgumentException =>
              val msg = Option(e.getMessage).getOrElse("bad request")
              respond(ex, if (msg.contains("no point store")) 404 else 400,
                s"""{"error":"${msg.takeWhile(_ != '\n')
                  .replace("\\", "\\\\").replace("\"", "\\\"")}"}""")
            case e: Throwable =>
              respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
          }
      }
    })
    // the drift face over the wire: GET /drift?store=<profile store>
    // &from=V[&to=V][&gate] opens a persisted profilePartial-shaped
    // PointStore (zero-config, self-describing) and serves the
    // per-column drift between any two of its versions — `to` defaults
    // to the live snapshot; &gate returns Profile.checkDrift's
    // long-format (rule, observed, passed) report instead of the raw
    // deltas. The read the nightly alerting loop actually makes:
    // "what changed between the version I last saw and now" without a
    // corpus re-scan, consistent with a prior /version poll.
    server.createContext("/drift", (ex: HttpExchange) => {
      try (storeRoot, param(ex, "store"), param(ex, "from")) match {
        case (None, _, _) =>
          respond(ex, 404, """{"error":"server started without a store root"}""")
        case (_, None, _) | (_, _, None) =>
          respond(ex, 400,
            """{"error":"store and from params required (GET /drift?store=<name>&from=V[&to=V][&gate])"}""")
        case (Some(root), Some(n), Some(fromS)) =>
          val rootDir = new java.io.File(root).getCanonicalFile
          val dir = new java.io.File(rootDir, n).getCanonicalFile
          val from = scala.util.Try(fromS.toLong).toOption
          val to = param(ex, "to").map(p => scala.util.Try(p.toLong).toOption)
          if (!plainName(n) || dir.getParentFile != rootDir)
            respond(ex, 403, """{"error":"store not under the store root"}""")
          else if (from.isEmpty || to.contains(None))
            respond(ex, 400,
              """{"error":"from and to must be integer versions"}""")
          else {
            val gateOn: Option[Boolean] = flagParam(ex, "gate")
            if (gateOn.isEmpty)
              respond(ex, 400,
                """{"error":"gate must be 1/true/0/false (or bare gate)"}""")
            else try {
            val store = graft.sources.PointStore.open(spark, dir.getPath)
            val drift = graft.operators.Profile.driftBetween(
              store.snapshotAt(from.get),
              to.flatten.map(store.snapshotAt).getOrElse(store.snapshot))
            val frame =
              if (gateOn.contains(true))
                graft.operators.Profile.checkDrift(drift)
                  .orderBy(org.apache.spark.sql.functions.col("rule"))
              else drift
                .orderBy(org.apache.spark.sql.functions.col("column"))
            // O(columns) and O(rules) frames — MaxLimit clamps anyway
            respond(ex, 200,
              frame.limit(MaxLimit).toJSON.collect().mkString("[", ",", "]"))
          } catch {
            case e: IllegalArgumentException =>
              // unknown store, non-profile store, version out of range
              // or past the vacuum horizon — caller errors, named
              val msg = Option(e.getMessage).getOrElse("bad request")
              respond(ex, if (msg.contains("no point store")) 404 else 400,
                s"""{"error":"${msg.takeWhile(_ != '\n')
                  .replace("\\", "\\\\").replace("\"", "\\\"")}"}""")
            case e: Throwable =>
              respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
          }
          }
      }
    })
    // the funnel's time-to-convert served: GET /latency returns the
    // per-hop latency distributions (p25/p50/p75/p95 µs + user count)
    // — computed from events by default, or ?store= reads a MAINTAINED
    // (hop, n_users, sk)-shaped store (latency_maintained's shape)
    server.createContext("/latency", (ex: HttpExchange) => {
      try {
        val lim = param(ex, "limit")
          .map(p => scala.util.Try(p.toInt).toOption)
        val storeName = param(ex, "store")
        val ver = param(ex, "version")
          .map(p => scala.util.Try(p.toLong).toOption)
        // &by=segment serves time-to-convert BY SEGMENT (the segmented
        // latency report, "all" members included); a comma list
        // expands every attribute at once (the funnel_latency_segmented2
        // shape, /funnel's cap-2 discipline)
        val by = param(ex, "by")
        val byNames = by.map(_.split(",", -1).toSeq).getOrElse(Nil)
        if (lim.contains(None))
          respond(ex, 400, """{"error":"limit must be an integer"}""")
        else if (ver.contains(None))
          respond(ex, 400, """{"error":"version must be an integer"}""")
        else if (by.isDefined && byNames.size > 2)
          respond(ex, 400, """{"error":"by takes at most two """ +
            """attributes (the registered 2^2 grouping-set cap)"}""")
        else if (storeName.isDefined &&
            (by.isDefined || param(ex, "sf").isDefined))
          respond(ex, 400, """{"error":"store= serves one maintained """ +
            """materialization — by/sf don't apply"}""")
        else if (ver.isDefined && storeName.isEmpty)
          respond(ex, 400, """{"error":"version= applies to store= """ +
            """reads (a maintained store's time travel)"}""")
        else if (storeName.isDefined) (storeRoot, storeName) match {
          case (None, _) =>
            respond(ex, 404, """{"error":"server started without a store root"}""")
          case (Some(root), Some(name)) =>
            openReportStore(root, name, Seq("hop", "n_users", "sk")) match {
              case Left((code, body)) => respond(ex, code, body)
              case Right(store) =>
                import org.apache.spark.sql.functions.col
                import graft.functions.SketchOps
                val limit = lim.flatten.getOrElse(1000).max(1).min(MaxLimit)
                val snap = ver.flatten.fold(store.snapshot)(store.snapshotAt)
                // a SEGMENTED latency store serves per-segment rows +
                // the read-time "all" member (counts sum, sketches
                // merge) — the family's column dispatch
                val (report, order) =
                  if (snap.columns.contains("seg2"))
                    (graft.streaming.Maintained
                      .latencySegmented2ReportFrom(spark, snap),
                      Seq(col("hop"), col("segment"), col("segment2")))
                  else if (snap.columns.contains("seg"))
                    (graft.streaming.Maintained
                      .latencySegmentedReportFrom(spark, snap),
                      Seq(col("hop"), col("segment")))
                  else (snap.select(col("hop") +: col("n_users") +:
                    graft.operators.TextOps.QuantilePoints.map {
                      case (q, n) =>
                        SketchOps.quantileAt(col("sk"), q).as(n) }: _*),
                    Seq(col("hop")))
                respond(ex, 200, report.orderBy(order: _*).limit(limit)
                  .toJSON.collect().mkString("[", ",", "]"))
            }
          case _ => () // unreachable: storeName.isDefined
        }
        else resolveSf(param(ex, "sf")) match {
          case None =>
            respond(ex, 403, """{"error":"sf not in the allowed scale dirs"}""")
          case Some(sf) =>
            import org.apache.spark.sql.functions.col
            val limit = lim.flatten.getOrElse(1000).max(1).min(MaxLimit)
            val reportOr = byNames match {
              case Nil =>
                Right((graft.operators.Windows.funnelLatency(spark, sf),
                  Seq(col("hop"))))
              case Seq(b) => segmentedEvents(sf, Seq(b)).map(ev =>
                (graft.operators.Windows.funnelLatencySegmentedOf(
                  ev.withColumnRenamed(b, "seg")),
                  Seq(col("hop"), col("segment"))))
              // every attribute expanded at once, each serving under
              // its own registry name (the funnel_latency_segmented2
              // composition — one struct payload, 2^2 grouping sets)
              case bs => segmentedEvents(sf, bs).map(ev =>
                (graft.operators.Windows.funnelLatencySegmentedOf(
                  ev, by = bs.map(n => n -> n)),
                  col("hop") +: bs.map(col)))
            }
            reportOr match {
              case Left(err) => respond(ex, 400, err)
              case Right((report, order)) =>
                respond(ex, 200, report.orderBy(order: _*).limit(limit)
                  .toJSON.collect().mkString("[", ",", "]"))
            }
        }
      } catch {
        case e: IllegalArgumentException =>
          respond(ex, 400, s"""{"error":"${Option(e.getMessage)
            .getOrElse("bad request").takeWhile(_ != '\n')
            .replace("\\", "\\\\").replace("\"", "\\\"")}"}""")
        case e: Throwable =>
          respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
      }
    })
    // the tumbling calendar series served: GET /window?period=hour|day
    // |week|month[&tz=Zone][&sf=..&limit=N] — events_window /
    // events_window_tz parameterized (the /funnel convention on the
    // calendar report; &tz truncates on a market's wall clock via
    // tzTrunc, zones validating eagerly so unknown ones 400)
    server.createContext("/window", (ex: HttpExchange) => {
      try {
        val period = param(ex, "period").getOrElse("hour")
        val tz = param(ex, "tz")
        val lim = param(ex, "limit")
          .map(p => scala.util.Try(p.toInt).toOption)
        if (!Set("hour", "day", "week", "month")(period))
          respond(ex, 400,
            """{"error":"period must be hour|day|week|month"}""")
        else if (lim.contains(None))
          respond(ex, 400, """{"error":"limit must be an integer"}""")
        else resolveSf(param(ex, "sf")) match {
          case None =>
            respond(ex, 403, """{"error":"sf not in the allowed scale dirs"}""")
          case Some(sf) =>
            import org.apache.spark.sql.functions.col
            val limit = lim.flatten.getOrElse(1000).max(1).min(MaxLimit)
            val report = graft.operators.Windows
              .eventsWindowOf(spark, sf, period, tz)
            respond(ex, 200, report
              .orderBy(col("window_start"), col("event_type"))
              .limit(limit).toJSON.collect().mkString("[", ",", "]"))
        }
      } catch {
        case e: IllegalArgumentException =>
          respond(ex, 400, s"""{"error":"${Option(e.getMessage)
            .getOrElse("bad request").takeWhile(_ != '\n')
            .replace("\\", "\\\\").replace("\"", "\\\"")}"}""")
        case e: Throwable =>
          respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
      }
    })
    // push-shaped drift alerting over the wire: POST /poll/drift
    // ?store=<upstream profile store>&mirror=<name>[&gate][&resync]
    // drives a DriftFollower poll — fold the upstream changes since the
    // mirror's checkpoint, return that window's drift frame (or
    // checkDrift verdicts with &gate). The mirror is OWNED through its
    // writer lease for the whole poll (capture + fold + drift read):
    // a second poller on another host 409s with the holder named (the
    // /backup pattern), and a scheduler double-fire is a caught-up
    // no-op (the checkpoint rides the mirror's own tag ledger, so the
    // redelivered poll folds nothing). Falling behind the upstream's
    // vacuumed changefeed is a 409 naming the fix; &resync rebuilds
    // the mirror from the upstream snapshot and the next window's
    // baseline is the resync point.
    server.createContext("/poll/drift", (ex: HttpExchange) => {
      def esc(s: String) = Option(s).getOrElse("").takeWhile(_ != '\n')
        .replace("\\", "\\\\").replace("\"", "\\\"")
      if (ex.getRequestMethod.toUpperCase != "POST")
        respond(ex, 405, """{"error":"POST with ?store=&mirror=[&gate][&resync]"}""")
      else (storeRoot, param(ex, "store"), param(ex, "mirror")) match {
        case (None, _, _) =>
          respond(ex, 404, """{"error":"server started without a store root"}""")
        case (_, None, _) | (_, _, None) =>
          respond(ex, 400, """{"error":"store and mirror params required"}""")
        case (Some(root), Some(up), Some(mir)) =>
          val rootDir = new java.io.File(root).getCanonicalFile
          val upDir = new java.io.File(rootDir, up).getCanonicalFile
          val mirDir = new java.io.File(rootDir, mir).getCanonicalFile
          val gateOn = flagParam(ex, "gate")
          val resyncOn = flagParam(ex, "resync")
          val lim = param(ex, "limit")
            .map(p => scala.util.Try(p.toInt).toOption)
          if (!plainName(up) || upDir.getParentFile != rootDir ||
              !plainName(mir) || mirDir.getParentFile != rootDir)
            respond(ex, 403, """{"error":"store not under the store root"}""")
          else if (up == mir)
            respond(ex, 400,
              """{"error":"the mirror must not be the upstream itself"}""")
          else if (gateOn.isEmpty || resyncOn.isEmpty)
            respond(ex, 400,
              """{"error":"gate/resync must be 1/true/0/false (or bare)"}""")
          // a resync rebuilds the mirror and folds no window, so there
          // is no drift frame to gate — refuse the combination loudly
          // (the route family's conflicting-parameter discipline)
          // instead of silently ignoring the gate flag
          else if (resyncOn.contains(true) && gateOn.contains(true))
            respond(ex, 400, """{"error":"resync rebuilds the mirror """ +
              """and folds no window — &gate does not apply"}""")
          else if (lim.contains(None))
            respond(ex, 400, """{"error":"limit must be an integer"}""")
          else try {
            val upstream = graft.sources.PointStore.open(spark, upDir.getPath)
            val needed = Seq("column", "n_rows", "n_null", "sum_len",
              "max_num", "max_str", "dsk", "min_num", "min_str")
              .filterNot(upstream.snapshot.columns.contains)
            if (needed.nonEmpty)
              respond(ex, 400, s"""{"error":"store '$up' is not a profile """ +
                s"""store — missing column(s) ${needed.mkString(", ")}"}""")
            else {
              val follower = new graft.sources.DriftFollower(
                spark, upstream, mirDir.getPath)
              // the single-poller contract: hold the mirror's writer
              // lease across the whole poll, not just the inner fold
              graft.sources.StoreFs(spark, mirDir.getPath).withWriterLease() {
                import org.apache.spark.sql.functions.col
                val limit = lim.flatten.getOrElse(1000).max(1).min(MaxLimit)
                if (resyncOn.contains(true)) {
                  val ckpt = follower.resync()
                  respond(ex, 200, s"""{"store":"$up","mirror":"$mir",""" +
                    s""""resynced":true,"checkpoint":$ckpt}""")
                } else {
                  val before = follower.checkpoint
                  val drift = if (gateOn.contains(true)) follower.pollGate()
                              else follower.poll()
                  val after = follower.checkpoint
                  val head = s"""{"store":"$up","mirror":"$mir",""" +
                    s""""from":$before,"checkpoint":$after,""" +
                    s""""folded":${after != before}"""
                  drift match {
                    case Some(frame) =>
                      val ord =
                        if (gateOn.contains(true)) col("rule") else col("column")
                      respond(ex, 200, head + s""","drift":""" +
                        frame.orderBy(ord).limit(limit)
                          .toJSON.collect().mkString("[", ",", "]") + "}")
                    case None =>
                      // folded-but-no-frame = the baseline fold; not
                      // folded = the redelivered/caught-up no-op
                      respond(ex, 200, head +
                        (if (after != before) ""","baseline":true}""" else "}"))
                  }
                }
              }
            }
          } catch {
            case e: IllegalStateException =>
              // a live poller holds the mirror — named, retry later
              respond(ex, 409, s"""{"error":"${esc(e.getMessage)}"}""")
            case e: IllegalArgumentException
                if Option(e.getMessage).exists(_.contains("vacuumed through")) =>
              // fell behind the upstream's changefeed retention: the
              // mirror can't fold the gap — resync is the fix
              respond(ex, 409, s"""{"error":"${esc(e.getMessage)}",""" +
                """"resync":"POST again with &resync=1 to rebuild the mirror"}""")
            case e: IllegalArgumentException =>
              val msg = Option(e.getMessage).getOrElse("bad request")
              respond(ex, if (msg.contains("no point store")) 404 else 400,
                s"""{"error":"${esc(msg)}"}""")
            case e: Throwable =>
              respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
          }
      }
    })
    // the probe face of the incremental dedup surface: POST a batch,
    // learn what it duplicates — without appending. The body parses
    // through Spark's own JSON reader (schema-enforced), the index
    // resolves under the canonicalize-under-root discipline of
    // /version, and the response is bounded like /query.
    // the LM probe face: POST a {doc_id, text} batch, get each doc's
    // add-one-smoothed bigram log-prob against a PERSISTED count store
    // (TextOps.bigramCountsOf's (w1, w2)/c2 PointStore under the store
    // root) — the quality filter served without the corpus, the
    // /probe/dedup convention applied to the perplexity signal
    server.createContext("/probe/perplexity", (ex: HttpExchange) => {
      if (ex.getRequestMethod.toUpperCase != "POST")
        respond(ex, 405, """{"error":"POST a JSON batch of {doc_id, text}"}""")
      else (storeRoot, param(ex, "store")) match {
        case (None, _) =>
          respond(ex, 404, """{"error":"server started without a store root"}""")
        case (_, None) =>
          respond(ex, 400, """{"error":"store param required"}""")
        case (Some(root), Some(name)) =>
          val rootDir = new java.io.File(root).getCanonicalFile
          val dir = new java.io.File(rootDir, name).getCanonicalFile
          val lim = param(ex, "limit")
            .map(p => scala.util.Try(p.toInt).toOption)
          if (!plainName(name) || dir.getParentFile != rootDir)
            respond(ex, 403, """{"error":"store not under the store root"}""")
          else if (lim.contains(None))
            respond(ex, 400, """{"error":"limit must be an integer"}""")
          else try {
            import org.apache.spark.sql.functions.col
            val store = graft.sources.PointStore.open(spark, dir.getPath)
            val counts = store.snapshot
            // dispatch on the store's self-described shape: a
            // (w1,w2,w3)/c3 store scores through the full trigram
            // backoff chain, a (w1,w2)/c2 store through the add-one
            // bigram estimator — one route, the order the store holds
            val isTrigram = Seq("w1", "w2", "w3", "c3")
              .forall(counts.columns.contains)
            val needed = Seq("w1", "w2", "c2").filterNot(counts.columns.contains)
            if (!isTrigram && needed.nonEmpty)
              respond(ex, 400, s"""{"error":"store '$name' is neither a """ +
                s"""trigram (w1,w2,w3/c3) nor a bigram count store — """ +
                s"""missing column(s) ${needed.mkString(", ")}"}""")
            else {
              val body = new String(ex.getRequestBody.readAllBytes(),
                StandardCharsets.UTF_8)
              import spark.implicits._
              val batch = spark.read.schema("doc_id LONG, text STRING")
                .json(body.linesIterator.toSeq.filter(_.trim.nonEmpty).toDS())
                .cache()
              try {
                val n = batch.count()
                val bad = batch
                  .filter(col("doc_id").isNull || col("text").isNull).count()
                if (n == 0 || bad > 0)
                  respond(ex, 400,
                    """{"error":"body must be JSON rows of {doc_id, text}"}""")
                else {
                  val scored =
                    if (isTrigram) graft.operators.TextOps
                      .perplexityTrigramProbeAgainst(counts, batch)
                    else graft.operators.TextOps
                      .perplexityProbeAgainst(counts, batch)
                  val limit = lim.flatten.getOrElse(1000).max(1).min(MaxLimit)
                  respond(ex, 200, scored.orderBy(col("doc_id")).limit(limit)
                    .toJSON.collect().mkString("[", ",", "]"))
                }
              } finally batch.unpersist(false)
            }
          } catch {
            case e: IllegalArgumentException =>
              val msg = Option(e.getMessage).getOrElse("bad request")
              respond(ex, if (msg.contains("no point store")) 404 else 400,
                s"""{"error":"${msg.takeWhile(_ != '\n')
                  .replace("\\", "\\\\").replace("\"", "\\\"")}"}""")
            case e: Throwable =>
              respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
          }
      }
    })
    server.createContext("/probe/dedup", (ex: HttpExchange) => {
      if (ex.getRequestMethod.toUpperCase != "POST")
        respond(ex, 405, """{"error":"POST a JSON batch of {doc_id, text}"}""")
      else (indexRoot, param(ex, "index")) match {
        case (None, _) =>
          respond(ex, 404, """{"error":"no index root configured"}""")
        case (_, None) =>
          respond(ex, 400, """{"error":"index param required"}""")
        case (Some(root), Some(name)) =>
          val rootDir = new java.io.File(root).getCanonicalFile
          val dir = new java.io.File(rootDir, name).getCanonicalFile
          val thr = param(ex, "threshold")
            .map(p => scala.util.Try(p.toDouble).toOption)
          val lim = param(ex, "limit")
            .map(p => scala.util.Try(p.toInt).toOption)
          if (!plainName(name) || dir.getParentFile != rootDir)
            respond(ex, 403, """{"error":"index not under the index root"}""")
          else if (thr.contains(None))
            respond(ex, 400, """{"error":"threshold must be a number"}""")
          else if (lim.contains(None))
            respond(ex, 400, """{"error":"limit must be an integer"}""")
          else try {
            import org.apache.spark.sql.functions.col
            val loaded =
              try Some(graft.operators.DedupIndex.load(spark, dir.getPath))
              catch { case e: IllegalArgumentException
                  if e.getMessage != null && e.getMessage.contains("_MEMBERS") =>
                None
              }
            loaded match {
              case None =>
                respond(ex, 404, s"""{"error":"no dedup index named '$name'"}""")
              case Some(idx) =>
                val body = new String(ex.getRequestBody.readAllBytes(),
                  StandardCharsets.UTF_8)
                import spark.implicits._
                // JSONL or one JSON array; schema-enforced, so junk rows
                // surface as nulls and are refused rather than probed
                val docs = spark.read.schema("doc_id LONG, text STRING")
                  .json(body.linesIterator.toSeq.filter(_.trim.nonEmpty).toDS())
                  .cache()
                try {
                  val bad = docs
                    .filter(col("doc_id").isNull || col("text").isNull).count()
                  if (docs.count() == 0 || bad > 0)
                    respond(ex, 400,
                      """{"error":"body must be JSON rows of {doc_id, text}"}""")
                  else {
                    val limit = lim.flatten.getOrElse(1000).max(1).min(MaxLimit)
                    val rows = idx.probe(docs, thr.flatten.getOrElse(0.5))
                      .orderBy(col("a"), col("b")).limit(limit).toJSON.collect()
                    respond(ex, 200, rows.mkString("[", ",", "]"))
                  }
                } finally docs.unpersist(false)
            }
          } catch { case e: Throwable =>
            respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
          }
      }
    })
    // the monitoring face of the curation surface: the per-night
    // corpus-health series (doc counts, vocabulary, length percentiles
    // per lang) a dashboard polls — GET, state-only (no text, no
    // kernels; CurateStore.health reads the nested sketch store), same
    // canonicalize-under-root + bounded-response discipline
    server.createContext("/health/curate", (ex: HttpExchange) => {
      (indexRoot, param(ex, "store")) match {
        case (None, _) =>
          respond(ex, 404, """{"error":"no index root configured"}""")
        case (_, None) =>
          respond(ex, 400, """{"error":"store param required"}""")
        case (Some(root), Some(name)) =>
          val rootDir = new java.io.File(root).getCanonicalFile
          val dir = new java.io.File(rootDir, name).getCanonicalFile
          val lim = param(ex, "limit")
            .map(p => scala.util.Try(p.toInt).toOption)
          if (!plainName(name) || dir.getParentFile != rootDir)
            respond(ex, 403, """{"error":"store not under the index root"}""")
          else if (lim.contains(None))
            respond(ex, 400, """{"error":"limit must be an integer"}""")
          else try {
            val loaded =
              try Some(graft.operators.CurateStore.load(spark, dir.getPath))
              catch { case e: RuntimeException
                  if e.getMessage != null &&
                    e.getMessage.contains("no curate store") =>
                None
              }
            loaded match {
              case None =>
                respond(ex, 404, s"""{"error":"no curate store named '$name'"}""")
              case Some(store) =>
                import org.apache.spark.sql.functions.col
                val limit = lim.flatten.getOrElse(1000).max(1).min(MaxLimit)
                val rows = store.health()
                  .orderBy(col("night"), col("lang"))
                  .limit(limit).toJSON.collect()
                respond(ex, 200, rows.mkString("[", ",", "]"))
            }
          } catch { case e: Throwable =>
            respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
          }
      }
    })
    // the vector-search face: POST query vectors, get top-k neighbors
    // from a persisted IvfIndex under the index root — exact, PQ, or
    // PQ+refine read path, with optional attribute filtering via an
    // allowed-id list (any metadata predicate reduces to an id set; the
    // service caller ships the set, the library caller ships a frame).
    // Same transport discipline as /probe/dedup.
    server.createContext("/probe/ann", (ex: HttpExchange) => {
      if (ex.getRequestMethod.toUpperCase != "POST")
        respond(ex, 405, """{"error":"POST a JSON batch of {qid, qv}"}""")
      else (indexRoot, param(ex, "index")) match {
        case (None, _) =>
          respond(ex, 404, """{"error":"no index root configured"}""")
        case (_, None) =>
          respond(ex, 400, """{"error":"index param required"}""")
        case (Some(root), Some(name)) =>
          val rootDir = new java.io.File(root).getCanonicalFile
          val dir = new java.io.File(rootDir, name).getCanonicalFile
          val k = param(ex, "k").map(p => scala.util.Try(p.toInt).toOption)
          val nprobe = param(ex, "nprobe")
            .map(p => scala.util.Try(p.toInt).toOption)
          val kRefine = param(ex, "kRefine")
            .map(p => scala.util.Try(p.toInt).toOption)
          val mode = param(ex, "mode").getOrElse("exact")
          val allowed = param(ex, "allowed").map { s =>
            val ids = s.split(",").toSeq.map(v => scala.util.Try(v.trim.toLong).toOption)
            if (ids.isEmpty || ids.contains(None)) None else Some(ids.flatten)
          }
          if (!plainName(name) || dir.getParentFile != rootDir)
            respond(ex, 403, """{"error":"index not under the index root"}""")
          else if (Seq(k, nprobe, kRefine).exists(_.contains(None)) ||
              Seq(k, nprobe, kRefine).exists(_.exists(_.exists(_ <= 0))))
            respond(ex, 400,
              """{"error":"k, nprobe, kRefine must be positive integers"}""")
          else if (!Seq("exact", "pq", "refine").contains(mode))
            respond(ex, 400, """{"error":"mode must be exact|pq|refine"}""")
          else if (allowed.contains(None))
            respond(ex, 400,
              """{"error":"allowed must be a comma-separated id list"}""")
          // a freshly BUILT index has no _MEMBERS yet (the manifest is
          // born at the first tagged append/rebalance) — the build-time
          // `index` member dir is the presence marker either way
          else if (!new java.io.File(dir, "_MEMBERS").exists() &&
              !new java.io.File(dir, "index").isDirectory)
            respond(ex, 404, s"""{"error":"no ivf index named '$name'"}""")
          else try {
            import org.apache.spark.sql.functions.col
            import graft.functions.VectorOps
            val idx = graft.operators.IvfIndex.load(spark, dir.getPath)
            val body = new String(ex.getRequestBody.readAllBytes(),
              StandardCharsets.UTF_8)
            import spark.implicits._
            val qs = spark.read.schema("qid LONG, qv ARRAY<DOUBLE>")
              .json(body.linesIterator.toSeq.filter(_.trim.nonEmpty).toDS())
              .cache()
            try {
              val bad = qs.filter(col("qid").isNull || col("qv").isNull).count()
              if (qs.count() == 0 || bad > 0)
                respond(ex, 400,
                  """{"error":"body must be JSON rows of {qid, qv:[...]}"}""")
              else {
                val queries = qs.select(col("qid"),
                  VectorOps.normalize(col("qv")).as("qv"))
                val kk = k.flatten.getOrElse(graft.operators.Ann.K)
                val np = nprobe.flatten.getOrElse(graft.operators.Ann.NProbe)
                val allowedDf = allowed.flatten
                  .map(ids => ids.toDF("vec_id"))
                val res = mode match {
                  case "exact" => idx.search(queries, kk, np, allowedDf)
                  case "pq"    => idx.searchPq(queries, kk, np, allowedDf)
                  case "refine" => idx.searchPqRefine(queries, kk, np,
                    kRefine.flatten.getOrElse(kk * 8), allowedDf)
                }
                val rows = res.orderBy(col("query_id"), col("rank"))
                  .limit(MaxLimit).toJSON.collect()
                respond(ex, 200, rows.mkString("[", ",", "]"))
              }
            } finally qs.unpersist(false)
          } catch {
            case e: IllegalArgumentException =>
              respond(ex, 400, s"""{"error":"${Option(e.getMessage)
                .getOrElse("bad request").takeWhile(_ != '\n')
                .replace("\\", "\\\\").replace("\"", "\\\"")}"}""")
            case e: Throwable =>
              respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
          }
      }
    })
    // the pre-ingest face of the curation surface: POST a batch, learn
    // whether curation would keep it — same transport discipline as
    // /probe/dedup (schema-enforced body, canonicalize-under-root store
    // resolution, bounded response)
    server.createContext("/probe/curate", (ex: HttpExchange) => {
      if (ex.getRequestMethod.toUpperCase != "POST")
        respond(ex, 405, """{"error":"POST a JSON batch of {doc_id, text, lang}"}""")
      else (indexRoot, param(ex, "store")) match {
        case (None, _) =>
          respond(ex, 404, """{"error":"no index root configured"}""")
        case (_, None) =>
          respond(ex, 400, """{"error":"store param required"}""")
        case (Some(root), Some(name)) =>
          val rootDir = new java.io.File(root).getCanonicalFile
          val dir = new java.io.File(rootDir, name).getCanonicalFile
          val lim = param(ex, "limit")
            .map(p => scala.util.Try(p.toInt).toOption)
          if (!plainName(name) || dir.getParentFile != rootDir)
            respond(ex, 403, """{"error":"store not under the index root"}""")
          else if (lim.contains(None))
            respond(ex, 400, """{"error":"limit must be an integer"}""")
          else try {
            import org.apache.spark.sql.functions.col
            val loaded =
              try Some(graft.operators.CurateStore.load(spark, dir.getPath))
              catch { case e: RuntimeException
                  if e.getMessage != null &&
                    e.getMessage.contains("no curate store") =>
                None
              }
            loaded match {
              case None =>
                respond(ex, 404, s"""{"error":"no curate store named '$name'"}""")
              case Some(store) =>
                val body = new String(ex.getRequestBody.readAllBytes(),
                  StandardCharsets.UTF_8)
                import spark.implicits._
                val docs = spark.read
                  .schema("doc_id LONG, text STRING, lang STRING")
                  .json(body.linesIterator.toSeq.filter(_.trim.nonEmpty).toDS())
                  .cache()
                try {
                  // lang participates in the verdicts, so a missing
                  // field is refused loudly rather than flowing a null
                  // quality_score / keep into the response
                  val bad = docs
                    .filter(col("doc_id").isNull || col("text").isNull ||
                      col("lang").isNull).count()
                  if (docs.count() == 0 || bad > 0)
                    respond(ex, 400,
                      """{"error":"body must be JSON rows of {doc_id, text, lang}"}""")
                  else {
                    val limit = lim.flatten.getOrElse(1000).max(1).min(MaxLimit)
                    val rows = store.probe(docs)
                      .orderBy(col("doc_id")).limit(limit).toJSON.collect()
                    respond(ex, 200, rows.mkString("[", ",", "]"))
                  }
                } finally docs.unpersist(false)
            }
          } catch { case e: Throwable =>
            respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
          }
      }
    })
    // the WRITE face of the curation surface — the reference's queue
    // delivered writes, not reads (worker.js:119-165): POST a crawl
    // drop with a caller-supplied batch tag and the server folds it
    // into the persisted store via curateNight. Exactly-once WITHOUT
    // server-side state: the tag rides the store's consumed-tag ledger,
    // so a queue redelivery (or a client retry after a lost response)
    // of a committed tag answers {"committed":false} and changes
    // nothing — the worker.js ack/redeliver loop's idempotence, held
    // by the store instead of the broker. Same transport discipline as
    // /probe/curate; the tag is pre-validated so contract violations
    // are a 400, not a 500 from inside the fold.
    server.createContext("/ingest/curate", (ex: HttpExchange) => {
      if (ex.getRequestMethod.toUpperCase != "POST")
        respond(ex, 405,
          """{"error":"POST a JSON batch of {doc_id, text, lang} with ?tag="}""")
      else (indexRoot, param(ex, "store"), param(ex, "tag")) match {
        case (None, _, _) =>
          respond(ex, 404, """{"error":"no index root configured"}""")
        case (_, None, _) =>
          respond(ex, 400, """{"error":"store param required"}""")
        case (_, _, None) =>
          respond(ex, 400, """{"error":"tag param required (the batch id
            redeliveries are judged by)"}""".linesIterator.map(_.trim)
            .mkString(" "))
        case (Some(root), Some(name), Some(tag)) =>
          val rootDir = new java.io.File(root).getCanonicalFile
          val dir = new java.io.File(rootDir, name).getCanonicalFile
          if (!plainName(name) || dir.getParentFile != rootDir)
            respond(ex, 403, """{"error":"store not under the index root"}""")
          else if (!tag.matches("[A-Za-z0-9._-]+") || tag.forall(_.isDigit) ||
              tag == "base" || tag.matches("compact-[0-9]+"))
            respond(ex, 400,
              """{"error":"tag must be filesystem-safe, non-numeric, and outside the base/compact-N namespaces"}""")
          else try {
            import org.apache.spark.sql.functions.col
            val loaded =
              try Some(graft.operators.CurateStore.load(spark, dir.getPath))
              catch { case e: RuntimeException
                  if e.getMessage != null &&
                    e.getMessage.contains("no curate store") =>
                None
              }
            loaded match {
              case None =>
                respond(ex, 404, s"""{"error":"no curate store named '$name'"}""")
              case Some(store) =>
                val body = new String(ex.getRequestBody.readAllBytes(),
                  StandardCharsets.UTF_8)
                import spark.implicits._
                val docs = spark.read
                  .schema("doc_id LONG, text STRING, lang STRING")
                  .json(body.linesIterator.toSeq.filter(_.trim.nonEmpty).toDS())
                  .cache()
                try {
                  val n = docs.count()
                  val bad = docs
                    .filter(col("doc_id").isNull || col("text").isNull ||
                      col("lang").isNull).count()
                  if (n == 0 || bad > 0)
                    respond(ex, 400,
                      """{"error":"body must be JSON rows of {doc_id, text, lang}"}""")
                  else leaseWaitOf(ex) match {
                    case Left(b) => respond(ex, 400, b)
                    case Right(w) =>
                      // committed comes from curateNight's OWN return —
                      // the ledger check runs inside the writer lease
                      // there, so of two concurrent deliveries of one
                      // tag exactly one reports true (a pre-check here
                      // would TOCTOU: both could pass it and both claim
                      // the commit)
                      val committed = store.curateNight(tag, docs,
                        leaseWaitMs = w)
                      respond(ex, 200, s"""{"store":"$name","tag":"$tag",""" +
                        s""""committed":$committed,"doc_count":${store.docCount}}""")
                  }
                } finally docs.unpersist(false)
            }
          } catch {
            case e: IllegalStateException =>
              // a live writer holds the store — the 409 &wait= bounds,
              // never an anonymous 500
              respond(ex, 409, s"""{"error":"${Option(e.getMessage)
                .getOrElse("store is write-locked").takeWhile(_ != '\n')
                .replace("\\", "\\\\").replace("\"", "\\\"")}"}""")
            case e: Throwable =>
              respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
          }
      }
    })
    // backup over the wire: POST /backup?store=<name>&dest=<name> runs
    // StoreFs.cloneTo for a store under either root — the
    // before-a-risky-operation verb (OPERATIONS.md), served. Both names
    // stay under the owning root (no caller-supplied paths), the dest
    // must not exist, and a live writer on the source refuses with the
    // holder named — the clone's own contract, surfaced as a 409.
    server.createContext("/backup", (ex: HttpExchange) => {
      if (ex.getRequestMethod.toUpperCase != "POST")
        respond(ex, 405, """{"error":"POST with ?store=&dest="}""")
      else (param(ex, "store"), param(ex, "dest")) match {
        case (None, _) => respond(ex, 400, """{"error":"store param required"}""")
        case (_, None) => respond(ex, 400, """{"error":"dest param required"}""")
        case (Some(name), Some(dest)) =>
          if (!plainName(name) || !plainName(dest))
            respond(ex, 400,
              """{"error":"store and dest must be plain names under the root"}""")
          else {
            // the source may live under either root; first match wins
            val src = Seq(indexRoot, storeRoot).flatten
              .map(r => (r, new java.io.File(r, name)))
              .find(_._2.isDirectory)
            src match {
              case None =>
                respond(ex, 404, s"""{"error":"no store named '$name'"}""")
              case Some((root, srcDir)) =>
                val dstDir = new java.io.File(root, dest)
                try {
                  graft.sources.StoreFs.cloneTo(spark,
                    srcDir.getPath, dstDir.getPath)
                  respond(ex, 200,
                    s"""{"store":"$name","dest":"$dest","cloned":true}""")
                } catch {
                  case e: IllegalArgumentException =>
                    respond(ex, 400, s"""{"error":"${Option(e.getMessage)
                      .getOrElse("bad request").takeWhile(_ != '\n')
                      .replace("\\", "\\\\").replace("\"", "\\\"")}"}""")
                  case e: IllegalStateException =>
                    // a live writer holds the source: caller retries later
                    respond(ex, 409, s"""{"error":"${Option(e.getMessage)
                      .getOrElse("source is write-locked").takeWhile(_ != '\n')
                      .replace("\\", "\\\\").replace("\"", "\\\"")}"}""")
                  case e: Throwable =>
                    respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
                }
            }
          }
      }
    })
    // the MAINTENANCE verbs served (the ops half of OPERATIONS.md's
    // daily loop, completing the write/compliance faces): POST
    // /compact?store=[&cluster=N] folds a point store's delta list
    // into one base (content and version identical — pure read
    // amplification repair after many nightly folds; &cluster=N
    // Z-ORDERS the new base into N files for keyed-slice pruning), and
    // POST /vacuum?store=[&retain=N] reclaims folded-away directories
    // and prunes the changefeed log to the last N versions — vacuum is
    // the caller's EXPLICIT retention choice, because it advances the
    // horizon past which time travel and changefeed reads refuse
    // (consumers that fell behind resync loudly, never silently skip).
    // Both verbs run under the store's own writer lease on this thread
    // (a live writer 409s with the holder named — the /backup
    // contract), and both apply to POINT-kind stores only: the other
    // kinds carry their own maintenance verbs (curate compaction rides
    // its night folds; the ivf retrain-and-reclaim is POST /rebalance
    // below) and are refused here with the reason named.
    def maintenanceVerb(path: String, run: (graft.sources.PointStore,
        Option[Long]) => String, numParam: String): Unit =
      server.createContext(path, (ex: HttpExchange) => {
        if (ex.getRequestMethod.toUpperCase != "POST")
          respond(ex, 405, s"""{"error":"POST with ?store=[&$numParam=N]"}""")
        else param(ex, "store") match {
          case None => respond(ex, 400, """{"error":"store param required"}""")
          case Some(name) =>
            val num = param(ex, numParam)
              .map(p => scala.util.Try(p.toLong).toOption)
            if (!plainName(name))
              respond(ex, 400,
                """{"error":"store must be a plain name under the root"}""")
            else if (num.contains(None) || num.exists(_.exists(_ < 0)))
              respond(ex, 400,
                s"""{"error":"$numParam must be a non-negative integer"}""")
            else Seq(indexRoot, storeRoot).flatten
                .map(r => new java.io.File(r, name))
                .find(_.isDirectory) match {
              case None =>
                respond(ex, 404, s"""{"error":"no store named '$name'"}""")
              case Some(dir) =>
                try {
                  // the /stores classifier's order: curate/ivf/dedup
                  // markers win over a _MANIFEST they may also carry
                  if (!new java.io.File(dir, "_MANIFEST").exists() ||
                      new java.io.File(dir, "_CURATE").exists() ||
                      new java.io.File(dir, "centroids").isDirectory ||
                      new java.io.File(dir, "index").isDirectory ||
                      new java.io.File(dir, "_MEMBERS").exists())
                    respond(ex, 400, s"""{"error":"'$name' is not a """ +
                      """point store — the other kinds carry their own """ +
                      """maintenance verbs"}""")
                  else {
                    val store = graft.sources.PointStore.open(spark, dir.getPath)
                    respond(ex, 200, s"""{"store":"$name",""" +
                      run(store, num.flatten) + "}")
                  }
                } catch {
                  case e: IllegalArgumentException =>
                    respond(ex, 400, s"""{"error":"${Option(e.getMessage)
                      .getOrElse("bad request").takeWhile(_ != '\n')
                      .replace("\\", "\\\\").replace("\"", "\\\"")}"}""")
                  case e: IllegalStateException =>
                    respond(ex, 409, s"""{"error":"${Option(e.getMessage)
                      .getOrElse("store is write-locked").takeWhile(_ != '\n')
                      .replace("\\", "\\\\").replace("\"", "\\\"")}"}""")
                  case e: Throwable =>
                    respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
                }
            }
        }
      })
    maintenanceVerb("/compact", (store, cluster) => {
      val before = store.deltaCount
      store.compact(cluster.getOrElse(0L).toInt)
      s""""compacted":true,"deltas_folded":$before,""" +
        s""""version":${store.version}"""
    }, numParam = "cluster")
    maintenanceVerb("/vacuum", (store, retain) => {
      store.vacuum(retain.getOrElse(0L))
      s""""vacuumed":true,"vacuumed_through":${store.vacuumedThrough},""" +
        s""""version":${store.version}"""
    }, numParam = "retain")
    // the vector index's operational pair, completing the maintenance
    // face across kinds: GET /health/ann?index= reads occupancy (cell
    // count, populated cells, stored total, fullest cell, imbalance —
    // the when-to-rebalance signal OPERATIONS.md's loop reads), and
    // POST /rebalance?index= runs the physical maintenance verb:
    // retrain the quantizers over the LIVE member set with tombstones
    // applied — the reclaim /takedown/ann points at — in one atomic
    // manifest flip, under the index's writer lease (a foreign live
    // writer 409s with the holder named). An ivf index is recognized
    // by its quantizer directory, so a dedup store's _MEMBERS manifest
    // never opens here.
    def ivfDirOf(ex: HttpExchange): Either[(Int, String), java.io.File] =
      (indexRoot, param(ex, "index")) match {
        case (None, _) =>
          Left(404 -> """{"error":"no index root configured"}""")
        case (_, None) =>
          Left(400 -> """{"error":"index param required"}""")
        case (Some(root), Some(name)) =>
          val rootDir = new java.io.File(root).getCanonicalFile
          val dir = new java.io.File(rootDir, name).getCanonicalFile
          val hasQuant = Option(dir.listFiles()).getOrElse(Array.empty)
            .exists(f => f.isDirectory && f.getName.startsWith("centroids"))
          if (!plainName(name) || dir.getParentFile != rootDir)
            Left(403 -> """{"error":"index not under the index root"}""")
          else if (!hasQuant)
            Left(404 -> s"""{"error":"no ivf index named '$name'"}""")
          else Right(dir)
      }
    def occJson(o: graft.operators.IvfIndex.Occupancy): String =
      s""""cells":${o.cells},"populated":${o.populated},""" +
        s""""total":${o.total},"max":${o.max},""" +
        f""""imbalance":${o.imbalance}%.4f"""
    server.createContext("/health/ann", (ex: HttpExchange) => {
      if (ex.getRequestMethod.toUpperCase != "GET")
        respond(ex, 405, """{"error":"GET with ?index= (the read half; the write verb is POST /rebalance)"}""")
      else try ivfDirOf(ex) match {
        case Left((c, b)) => respond(ex, c, b)
        case Right(dir) =>
          val idx = graft.operators.IvfIndex.load(spark, dir.getPath)
          respond(ex, 200, s"""{"index":"${param(ex, "index").get}",""" +
            occJson(idx.occupancy) + "}")
      } catch { case e: Throwable =>
        respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
      }
    })
    // the WIRE-maintained report store's health face — the operational
    // read beside /health/curate (docs) and /health/ann (vectors): one
    // GET answers "is the nightly loop healthy" without touching the
    // events table — the store's version and key-grain row count
    // (O(store), the report shape), the retained provenance (drop file
    // count + bytes — the takedown rebuild's input size), the landed
    // tag count (drops ≥ tags once a landing splits), the takedown
    // ledger (committed count + any MID-FLIGHT pending, which is the
    // one state where ingests refuse), and the pinned config echoed so
    // a scheduler can assert it is feeding the right materialization.
    server.createContext("/health/report", (ex: HttpExchange) => {
      // escape (never truncate) newlines: a multiline pinned config
      // must echo whole — a health face that silently drops the tail
      // of the one string a scheduler asserts against is worse than
      // none
      def esc(s: String) = Option(s).getOrElse("")
        .replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", "\\n").replace("\r", "\\r")
      if (ex.getRequestMethod.toUpperCase != "GET")
        respond(ex, 405, """{"error":"GET with ?store="}""")
      else (storeRoot, param(ex, "store")) match {
        case (None, _) =>
          respond(ex, 404, """{"error":"server started without a store root"}""")
        case (_, None) =>
          respond(ex, 400, """{"error":"store param required"}""")
        case (Some(root), Some(name)) =>
          val rootDir = new java.io.File(root).getCanonicalFile
          val dir = new java.io.File(rootDir, name).getCanonicalFile
          val cfgFile = new java.io.File(dir, "_stream/CONFIG")
          if (!plainName(name) || dir.getParentFile != rootDir)
            respond(ex, 403, """{"error":"store not under the store root"}""")
          else if (!cfgFile.exists)
            respond(ex, 404, s"""{"error":"no wire-maintained report """ +
              s"""store named '$name' (no _stream/CONFIG — a library-""" +
              """maintained store's health lives with its lifecycle)"}""")
          else try {
            val cfg = new String(java.nio.file.Files.readAllBytes(
              cfgFile.toPath), StandardCharsets.UTF_8)
            // a store whose CONFIG pinned but whose first fold never
            // committed (_MANIFEST absent — first-ingest crash) is a
            // DESCRIBABLE degraded state, not an error: report it as
            // created-but-unfolded (version 0, zero rows) instead of
            // erroring — and never leak the server's filesystem path
            val (version, rows) =
              if (new java.io.File(dir, "_MANIFEST").exists) {
                val store = graft.sources.PointStore.open(spark, dir.getPath)
                (store.version, store.snapshot.count()) // O(store) grain
              } else (0L, 0L)
            def files(sub: String, suffix: String) =
              Option(new java.io.File(dir, sub).listFiles())
                .getOrElse(Array.empty[java.io.File])
                .filter(_.getName.endsWith(suffix))
            val drops = files("_stream/drops", ".parquet")
            // a landed tag is a marker file (never the .width pins or a
            // crash-leftover .width.tmp) OR a legacy/pre-marker single-
            // file drop name: ingestDrop's own landed check honors a
            // bare <tag>.parquet, so it counts here too — that also
            // covers the parts==1 crash window between the file move
            // and the marker write
            val markers = files("_stream/landed", "")
              .filterNot(_.getName.contains(".width")).map(_.getName)
            val legacy = drops.map(_.getName.stripSuffix(".parquet"))
              .filterNot(_.matches(".*-p\\d{5}"))
            // deferred ≠ committed: a .deferred.jsonl roster is landed
            // (forward exclusion live) but its ERASURE is pending the
            // next flush — the retained drops still hold the user, so
            // the health face names these rosters (the number an
            // operator reads before promising a completion date)
            val deferred = files("_stream/takedowns", ".deferred.jsonl")
            val committed = files("_stream/takedowns", ".jsonl")
              .filterNot(_.getName.endsWith(".deferred.jsonl"))
            val pending = files("_stream/takedowns", ".pending")
              .map(f => "\"" + esc(f.getName.stripSuffix(".pending")) + "\"")
            respond(ex, 200, s"""{"store":"$name",""" +
              s""""config":"${esc(cfg)}","version":$version,""" +
              s""""rows":$rows,"drop_files":${drops.length},""" +
              s""""drop_bytes":${drops.map(_.length).sum},""" +
              s""""landed_tags":${(markers ++ legacy).distinct.length},""" +
              s""""takedowns_committed":${committed.length},""" +
              s""""takedowns_deferred":[${deferred.map(f => "\"" +
                esc(f.getName.stripSuffix(".deferred.jsonl")) + "\"")
                .mkString(",")}],""" +
              s""""takedowns_pending":[${pending.mkString(",")}]}""")
          } catch {
            case e: IllegalArgumentException =>
              respond(ex, 400, s"""{"error":"${esc(e.getMessage)}"}""")
            case e: Throwable =>
              respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
          }
      }
    })
    server.createContext("/rebalance", (ex: HttpExchange) => {
      if (ex.getRequestMethod.toUpperCase != "POST")
        respond(ex, 405, """{"error":"POST with ?index="}""")
      else try ivfDirOf(ex) match {
        case Left((c, b)) => respond(ex, c, b)
        case Right(dir) =>
          val after =
            graft.operators.IvfIndex.load(spark, dir.getPath).rebalance()
          respond(ex, 200, s"""{"index":"${param(ex, "index").get}",""" +
            s""""rebalanced":true,""" + occJson(after.occupancy) + "}")
      } catch {
        case e: IllegalStateException =>
          // a live writer holds the index, or its quantizers went
          // stale under this handle — retry from a fresh load
          respond(ex, 409, s"""{"error":"${Option(e.getMessage)
            .getOrElse("index is write-locked").takeWhile(_ != '\n')
            .replace("\\", "\\\\").replace("\"", "\\\"")}"}""")
        case e: Throwable =>
          respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
      }
    })
    // the assembly-recipe CONFIG store over the wire: POST commits a
    // new version under an exactly-once tag (creating the store on
    // first commit), GET reads any version — the config half of
    // training-run provenance served beside /assemble (which replays a
    // stored version's layout via recipe=<name>&version=). Omitted
    // recipe params default to the registered constants, the same
    // convention /assemble's inline face uses.
    server.createContext("/recipe", (ex: HttpExchange) => {
      def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      def recipeJson(name: String, v: Long, tag: Option[String],
                     r: graft.sources.Recipe,
                     deprecated: Option[String] = None): String = {
        val eps = r.epochs.map { case (l, w) => s""""$l":$w""" }
          .mkString("{", ",", "}")
        s"""{"store":"$name","version":$v""" +
          tag.map(t => s""","tag":"${esc(t)}"""").getOrElse("") +
          deprecated.map(w => s""","deprecated":"${esc(w)}"""").getOrElse("") +
          s""","seed":"${r.seed}","budget":${r.budget}""" +
          s""","default":${r.defaultEpochs}""" +
          s""","pack_shard_size":${r.packShardSize},"epochs":$eps}"""
      }
      try (param(ex, "store"), ex.getRequestMethod.toUpperCase) match {
        case (None, _) => respond(ex, 400, """{"error":"store param required"}""")
        case (Some(name), _) if !plainName(name) =>
          respond(ex, 400,
            """{"error":"store must be a plain name under the root"}""")
        case (Some(name), "GET") =>
          Seq(storeRoot, indexRoot).flatten
            .map(r => new java.io.File(r, name)).find(d =>
              new java.io.File(d,
                graft.sources.RecipeStore.ManifestName).exists()) match {
            case None =>
              respond(ex, 404, s"""{"error":"no recipe store named '$name'"}""")
            case Some(dir) =>
              val store = graft.sources.RecipeStore(spark, dir.getPath)
              val ver = param(ex, "version")
                .map(p => scala.util.Try(p.toLong).toOption)
              if (ver.contains(None))
                respond(ex, 400, """{"error":"version must be an integer"}""")
              else {
                val v = ver.flatten.getOrElse(store.version)
                try respond(ex, 200,
                  recipeJson(name, v, store.tagOf(v), store.recipeAt(v),
                    store.deprecationOf(v)))
                catch { case e: IllegalArgumentException =>
                  respond(ex, 400,
                    s"""{"error":"${esc(Option(e.getMessage)
                      .getOrElse("bad version").takeWhile(_ != '\n'))}"}""")
                }
              }
          }
        case (Some(name), "POST") => param(ex, "tag") match {
          case None => respond(ex, 400, """{"error":"tag param required"}""")
          case Some(tag) =>
            // same inline-recipe grammar as /assemble; omitted params
            // mean the registered constants
            val budget = param(ex, "budget")
              .map(p => scala.util.Try(p.toLong).toOption)
            val dflt = param(ex, "default")
              .map(p => scala.util.Try(p.toDouble).toOption)
            val shard = param(ex, "shard")
              .map(p => scala.util.Try(p.toLong).toOption)
            val epochs = param(ex, "epochs").map { s =>
              val parts = s.split(",", -1).toSeq.map(_.split(":", 2))
              if (parts.exists(a => a.length != 2 ||
                  !a(0).matches("[A-Za-z0-9_-]+") ||
                  scala.util.Try(a(1).toDouble).isFailure)) None
              else Some(parts.map(a => (a(0), a(1).toDouble)))
            }
            if (budget.contains(None))
              respond(ex, 400, """{"error":"budget must be an integer"}""")
            else if (dflt.contains(None))
              respond(ex, 400, """{"error":"default must be a number"}""")
            else if (shard.contains(None))
              respond(ex, 400, """{"error":"shard must be an integer"}""")
            else if (epochs.contains(None))
              respond(ex, 400,
                """{"error":"epochs must be lang:weight[,lang:weight...]"}""")
            else {
              // commit into the EXISTING store wherever it lives (GET
              // and /assemble?recipe= search both roots — a POST that
              // only looked at the first root would silently fork a
              // second same-named store under it); only a genuinely new
              // store is created under the first configured root
              val existing = Seq(storeRoot, indexRoot).flatten
                .map(r => new java.io.File(r, name)).find(d =>
                  new java.io.File(d,
                    graft.sources.RecipeStore.ManifestName).exists())
              val root = existing.map(_.getParent)
                .orElse(Seq(storeRoot, indexRoot).flatten.headOption)
              root match {
                case None => respond(ex, 403,
                  """{"error":"server started without a store root"}""")
                case Some(r) =>
                  try {
                    val recipe = graft.sources.Recipe(
                      epochs.flatten.getOrElse(graft.operators.Mix.Epochs),
                      dflt.flatten
                        .getOrElse(graft.operators.Mix.DefaultEpochs),
                      param(ex, "seed")
                        .getOrElse(graft.operators.Mix.ShuffleSeed),
                      budget.flatten
                        .getOrElse(graft.operators.Sampling.Budget),
                      shard.flatten.getOrElse(1L << 20))
                    val store = graft.sources.RecipeStore(spark,
                      new java.io.File(r, name).getPath)
                    val committed = store.commit(tag, recipe)
                    respond(ex, 200,
                      s"""{"store":"$name","committed":$committed,""" +
                        s""""version":${store.version}}""")
                  } catch {
                    case e: IllegalArgumentException =>
                      respond(ex, 400, s"""{"error":"${esc(
                        Option(e.getMessage).getOrElse("bad recipe")
                          .takeWhile(_ != '\n'))}"}""")
                    case e: IllegalStateException =>
                      // a live writer holds the store: retry later
                      respond(ex, 409, s"""{"error":"${esc(
                        Option(e.getMessage).getOrElse("write-locked")
                          .takeWhile(_ != '\n'))}"}""")
                  }
              }
            }
        }
        case _ =>
          respond(ex, 405, """{"error":"GET or POST with ?store="}""")
      } catch { case e: Throwable =>
        respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
      }
    })
    // discovery: what persisted stores does this server actually front?
    // One GET enumerates both roots with each child classified by its
    // own on-disk markers (the stores are self-describing — the same
    // property zero-config open() rides), so an operator or a client
    // never guesses names: point stores report their current content
    // version (the changefeed cursor), index-root entries their kind.
    server.createContext("/stores", (ex: HttpExchange) => {
      try {
        def classify(d: java.io.File): Option[String] =
          if (new java.io.File(d, "_CURATE").exists()) Some("curate")
          else if (new java.io.File(d, "centroids").isDirectory ||
            new java.io.File(d, "index").isDirectory) Some("ivf")
          else if (new java.io.File(d, "_MEMBERS").exists()) Some("dedup")
          else if (new java.io.File(d, "_MANIFEST").exists()) Some("point")
          else if (new java.io.File(d,
            graft.sources.RecipeStore.ManifestName).exists()) Some("recipe")
          else None
        def entries(root: Option[String], role: String): Seq[String] =
          root.toSeq.flatMap { r =>
            val dirs = Option(new java.io.File(r).listFiles()).getOrElse(Array())
            dirs.filter(_.isDirectory).sortBy(_.getName).flatMap { d =>
              classify(d).map { kind =>
                // a wire-maintained report store self-describes its
                // fold (the _stream/CONFIG pinned at first ingest) —
                // surface it so dashboards discover which maintained
                // reports exist without probing each store's shape
                val report = {
                  val cfg = new java.io.File(d, "_stream/CONFIG")
                  if (kind == "point" && cfg.exists())
                    scala.util.Try(new String(java.nio.file.Files
                        .readAllBytes(cfg.toPath), StandardCharsets.UTF_8))
                      .toOption
                      .map(c => s""","maintained":"${c.takeWhile(_ != '\n')
                        .replace("\\", "\\\\").replace("\"", "\\\"")}"""")
                      .getOrElse("")
                  else ""
                }
                val ver =
                  if (kind == "point")
                    graft.sources.PointStore.versionOf(d.getPath)
                      .map(v => s""","version":$v""").getOrElse("")
                  else if (kind == "recipe")
                    // recipe version = committed member count (one
                    // manifest line per version, ledger lines start #)
                    scala.util.Try {
                      val src = scala.io.Source.fromFile(new java.io.File(
                        d, graft.sources.RecipeStore.ManifestName))
                      try src.getLines()
                        .count(l => l.nonEmpty && !l.startsWith("#"))
                      finally src.close()
                    }.toOption.map(v => s""","version":$v""").getOrElse("")
                  else ""
                s"""{"name":"${d.getName}","kind":"$kind","root":"$role"$ver$report}"""
              }
            }.toSeq
          }
        val all = entries(storeRoot, "store") ++ entries(indexRoot, "index")
        respond(ex, 200, all.mkString("[", ",", "]"))
      } catch { case e: Throwable =>
        respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
      }
    })
    // the vector-ingest face: POST an embedding batch with a tag and
    // the index appends it under its writer lease — the streaming
    // foreachBatch write path, exposed over the wire with the same
    // ledger idempotence as /ingest/curate (a redelivered tag answers
    // committed=false, zero server state).
    server.createContext("/ingest/ann", (ex: HttpExchange) => {
      if (ex.getRequestMethod.toUpperCase != "POST")
        respond(ex, 405,
          """{"error":"POST JSON rows of {vec_id, embedding:[...]} with ?index=&tag="}""")
      else (indexRoot, param(ex, "index"), param(ex, "tag")) match {
        case (None, _, _) =>
          respond(ex, 404, """{"error":"no index root configured"}""")
        case (_, None, _) =>
          respond(ex, 400, """{"error":"index param required"}""")
        case (_, _, None) =>
          respond(ex, 400, """{"error":"tag param required (the batch id redeliveries are judged by)"}""")
        case (Some(root), Some(name), Some(tag)) =>
          val rootDir = new java.io.File(root).getCanonicalFile
          val dir = new java.io.File(rootDir, name).getCanonicalFile
          if (!plainName(name) || dir.getParentFile != rootDir)
            respond(ex, 403, """{"error":"index not under the index root"}""")
          else if (!tag.matches("[A-Za-z0-9._-]+"))
            respond(ex, 400,
              """{"error":"tag must be filesystem-safe ([A-Za-z0-9._-]+)"}""")
          else if (!new java.io.File(dir, "_MEMBERS").exists() &&
              !new java.io.File(dir, "index").isDirectory)
            respond(ex, 404, s"""{"error":"no ivf index named '$name'"}""")
          else try {
            import org.apache.spark.sql.functions.col
            val idx = graft.operators.IvfIndex.load(spark, dir.getPath)
            val body = new String(ex.getRequestBody.readAllBytes(),
              StandardCharsets.UTF_8)
            import spark.implicits._
            val emb = spark.read.schema("vec_id LONG, embedding ARRAY<DOUBLE>")
              .json(body.linesIterator.toSeq.filter(_.trim.nonEmpty).toDS())
              .cache()
            try {
              val n = emb.count()
              val bad = emb
                .filter(col("vec_id").isNull || col("embedding").isNull).count()
              if (n == 0 || bad > 0)
                respond(ex, 400,
                  """{"error":"body must be JSON rows of {vec_id, embedding:[...]}"}""")
              else leaseWaitOf(ex) match {
                case Left(b) => respond(ex, 400, b)
                case Right(w) =>
                  val committed = idx.appendTagged(tag, emb,
                    leaseWaitMs = w)
                  respond(ex, 200, s"""{"index":"$name","tag":"$tag",""" +
                    s""""committed":$committed}""")
              }
            } finally emb.unpersist(false)
          } catch {
            case e: IllegalArgumentException =>
              respond(ex, 400, s"""{"error":"${Option(e.getMessage)
                .getOrElse("bad request").takeWhile(_ != '\n')
                .replace("\\", "\\\\").replace("\"", "\\\"")}"}""")
            case e: IllegalStateException =>
              respond(ex, 409, s"""{"error":"${Option(e.getMessage)
                .getOrElse("index is write-locked").takeWhile(_ != '\n')
                .replace("\\", "\\\\").replace("\"", "\\\"")}"}""")
            case e: Throwable =>
              respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
          }
      }
    })
    // the dedup index's write face — the last persisted kind without a
    // served write: POST /ingest/dedup?index&tag[&verify=1] appends a
    // {doc_id, text} night through DedupIndex.appendTagged (signatures
    // computed at the index's own pinned shingle width, exactly-once on
    // the consumed-tag ledger, auto-compaction past the member bound —
    // fold-before-commit, so tonight's member survives its own fold).
    // &verify=1 runs the disjointness audit: already-indexed doc_ids
    // refuse with the count named (double-appending corrupts
    // intersection counts). The read half is POST /probe/dedup; the
    // pair serves the production loop — probe the night, ingest the
    // survivors.
    server.createContext("/ingest/dedup", (ex: HttpExchange) => {
      if (ex.getRequestMethod.toUpperCase != "POST")
        respond(ex, 405,
          """{"error":"POST JSON rows of {doc_id, text} with ?index=&tag="}""")
      else (indexRoot, param(ex, "index"), param(ex, "tag")) match {
        case (None, _, _) =>
          respond(ex, 404, """{"error":"no index root configured"}""")
        case (_, None, _) =>
          respond(ex, 400, """{"error":"index param required"}""")
        case (_, _, None) =>
          respond(ex, 400,
            """{"error":"tag param required (the night id redeliveries are judged by)"}""")
        case (Some(root), Some(name), Some(tag)) =>
          val rootDir = new java.io.File(root).getCanonicalFile
          val dir = new java.io.File(rootDir, name).getCanonicalFile
          val verify = flagParam(ex, "verify")
          // an ivf index also carries a _MEMBERS manifest — the
          // quantizer directory tells them apart (the /stores order)
          val isIvf = Option(dir.listFiles()).getOrElse(Array.empty)
            .exists(f => f.isDirectory && f.getName.startsWith("centroids"))
          if (!plainName(name) || dir.getParentFile != rootDir)
            respond(ex, 403, """{"error":"index not under the index root"}""")
          else if (!tag.matches("[A-Za-z0-9._-]+"))
            respond(ex, 400,
              """{"error":"tag must be filesystem-safe ([A-Za-z0-9._-]+)"}""")
          else if (verify.isEmpty && param(ex, "verify").isDefined)
            respond(ex, 400,
              """{"error":"verify must be a boolean flag (verify, verify=1, verify=true)"}""")
          else if (!new java.io.File(dir, "_MEMBERS").exists() || isIvf)
            respond(ex, 404, s"""{"error":"no dedup index named '$name'"}""")
          else try {
            import org.apache.spark.sql.functions.col
            val idx = graft.operators.DedupIndex.load(spark, dir.getPath)
            val body = new String(ex.getRequestBody.readAllBytes(),
              StandardCharsets.UTF_8)
            import spark.implicits._
            val docs = spark.read.schema("doc_id LONG, text STRING")
              .json(body.linesIterator.toSeq.filter(_.trim.nonEmpty).toDS())
              .cache()
            try {
              val n = docs.count()
              val bad = docs
                .filter(col("doc_id").isNull || col("text").isNull).count()
              // the audit also screens the body against ITSELF: a
              // doc_id posted twice in one night double-appends its
              // signatures exactly like a replayed night would — the
              // corruption the disjointness audit exists to refuse
              val dupes = if (verify.getOrElse(false))
                n - docs.select(col("doc_id")).distinct().count() else 0L
              if (n == 0 || bad > 0)
                respond(ex, 400,
                  """{"error":"body must be JSON rows of {doc_id, text}"}""")
              else if (dupes > 0)
                respond(ex, 400, s"""{"error":"body repeats $dupes doc_id(s) — a doc_id may appear once per ingest (double-appended signatures skew intersection counts)"}""")
              else leaseWaitOf(ex) match {
                case Left(b) => respond(ex, 400, b)
                case Right(w) =>
                  val committed = idx.appendTagged(tag, docs,
                    verifyDisjoint = verify.getOrElse(false),
                    leaseWaitMs = w)
                  respond(ex, 200, s"""{"index":"$name","tag":"$tag",""" +
                    s""""committed":$committed}""")
              }
            } finally docs.unpersist(false)
          } catch {
            case e: IllegalArgumentException =>
              // the disjointness audit's refusal (already-indexed ids)
              // or a malformed index — caller errors, named
              respond(ex, 400, s"""{"error":"${Option(e.getMessage)
                .getOrElse("bad request").takeWhile(_ != '\n')
                .replace("\\", "\\\\").replace("\"", "\\\"")}"}""")
            case e: IllegalStateException =>
              respond(ex, 409, s"""{"error":"${Option(e.getMessage)
                .getOrElse("index is write-locked").takeWhile(_ != '\n')
                .replace("\\", "\\\\").replace("\"", "\\\"")}"}""")
            case e: Throwable =>
              respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
          }
      }
    })
    // the plain point table's write face: POST a partial batch and the
    // store folds it under its writer lease — the reference's upsert
    // worker (worker.js:119-165's batch ack loop) as one route. The
    // body parses against the store's SELF-DESCRIBED schema (snapshot
    // types — binary sketch measures ride as base64, Spark's own JSON
    // encoding for them), so the server needs zero per-store config;
    // ledger idempotence via appendTagged's Boolean, committed derived
    // from the verb's own return (the curateNight pattern, no TOCTOU).
    server.createContext("/ingest/point", (ex: HttpExchange) => {
      if (ex.getRequestMethod.toUpperCase != "POST")
        respond(ex, 405,
          """{"error":"POST JSON rows in the store's schema with ?store=&tag="}""")
      else (storeRoot, param(ex, "store"), param(ex, "tag")) match {
        case (None, _, _) =>
          respond(ex, 404, """{"error":"server started without a store root"}""")
        case (_, None, _) =>
          respond(ex, 400, """{"error":"store param required"}""")
        case (_, _, None) =>
          respond(ex, 400,
            """{"error":"tag param required (the batch id redeliveries are judged by)"}""")
        case (Some(root), Some(name), Some(tag)) =>
          val rootDir = new java.io.File(root).getCanonicalFile
          val dir = new java.io.File(rootDir, name).getCanonicalFile
          if (!plainName(name) || dir.getParentFile != rootDir)
            respond(ex, 403, """{"error":"store not under the store root"}""")
          else if (!tag.matches("[A-Za-z0-9._-]+"))
            respond(ex, 400,
              """{"error":"tag must be filesystem-safe ([A-Za-z0-9._-]+)"}""")
          else try {
            val store = graft.sources.PointStore.open(spark, dir.getPath)
            val keyCols = store.keys
            val schema = store.snapshotSchema
            val lines = new String(ex.getRequestBody.readAllBytes(),
              StandardCharsets.UTF_8).linesIterator.filter(_.trim.nonEmpty).toSeq
            // a write face must be strict, not PERMISSIVE: a mistyped
            // measure value or a misspelled measure field would parse
            // to null and fold SILENTLY (sums skip nulls) — so first the
            // field names are checked against the store's, then the
            // typed parse runs FAILFAST so a value that fails coercion
            // is a 400, never a silent null.
            val known = schema.fieldNames.toSet
            val unknown = lines.flatMap(fieldNamesOf).toSet.diff(known)
            if (unknown.nonEmpty)
              respond(ex, 400,
                s"""{"error":"unknown field(s) ${unknown.toSeq.sorted
                  .mkString(", ")} — store carries ${known.toSeq.sorted
                  .mkString(", ")}"}""")
            else parseRows(lines, schema) match {
              case None =>
                respond(ex, 400,
                  """{"error":"row(s) failed schema coercion — """ +
                    """measure values must match the store's types"}""")
              case Some(rows) =>
                val keyIdx = keyCols.map(schema.fieldIndex)
                if (rows.isEmpty || rows.exists(r => keyIdx.exists(r.isNullAt)))
                  respond(ex, 400,
                    s"""{"error":"body must be JSON rows with non-null """ +
                      s"""key(s) ${keyCols.mkString(", ")}"}""")
                else leaseWaitOf(ex) match {
                  case Left(b) => respond(ex, 400, b)
                  case Right(w) =>
                    import scala.jdk.CollectionConverters._
                    val committed = store.appendTagged(tag,
                      spark.createDataFrame(rows.asJava, schema), leaseWaitMs = w)
                    respond(ex, 200, s"""{"store":"$name","tag":"$tag",""" +
                      s""""committed":$committed,"version":${store.version}}""")
                }
            }
          } catch {
            case e: IllegalArgumentException =>
              val msg = Option(e.getMessage).getOrElse("bad request")
              respond(ex, if (msg.contains("no point store")) 404 else 400,
                s"""{"error":"${msg.takeWhile(_ != '\n')
                  .replace("\\", "\\\\").replace("\"", "\\\"")}"}""")
            case e: IllegalStateException =>
              respond(ex, 409, s"""{"error":"${Option(e.getMessage)
                .getOrElse("store is write-locked").takeWhile(_ != '\n')
                .replace("\\", "\\\\").replace("\"", "\\\"")}"}""")
            case e: Throwable =>
              respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
          }
      }
    })
    // the maintained-analytics WRITE face: POST /ingest/report folds a
    // posted nightly events drop into a maintained report store through
    // the SAME streaming-twin chain the registered lifecycles drive
    // (Maintained.foldOf → maintainOnce). The drop lands as ONE parquet
    // file named by its tag in the store's _stream/drops dir; one
    // Trigger.AvailableNow maintenance pass consumes whatever is new
    // there, with the watermark and file ledger riding the store's own
    // _stream/ckpt checkpoint. The contracts, spelled out:
    //  - NIGHTLY ORDER: drops must land in event-time order — events
    //    below the watermark a previous night advanced are late data
    //    the engine rightly drops (the lesson recorded on
    //    streaming.Maintained); the tail inside the watermark delay
    //    stays pending until a later drop (or a posted far-future
    //    sentinel row: user_id -1, event_type "_watermark") advances it.
    //  - EXACTLY-ONCE at both grains: a redelivered tag finds its drop
    //    file already landed (landed=false) and already in the
    //    checkpoint's file ledger, so nothing re-folds; a crash between
    //    landing and folding heals on redelivery because the pass
    //    always runs and the ledgers decide (committed = the store
    //    version advanced in THIS call).
    //  - ONE MATERIALIZATION: the fold configuration (type + window/
    //    period/gap, normalized) pins at first ingest in _stream/CONFIG
    //    — a later POST with a different configuration is refused, the
    //    read faces' store= discipline applied to the write side. A
    //    store that exists WITHOUT an ingest config was materialized by
    //    a library lifecycle whose checkpoint lives with that driver —
    //    folding a fresh checkpoint over it would double-count, so the
    //    POST is refused with the reason named.
    //  - SINGLE WRITER: the maintenance stream (_stream: drops +
    //    checkpoint + config) is owned through its own writer lease for
    //    the whole call (the /poll/drift whole-call-ownership pattern —
    //    two engines on one checkpoint is the corruption no ledger can
    //    undo); a concurrent ingester 409s with the holder named. The
    //    store's own lease is taken per batch commit by appendTagged on
    //    the streaming thread.
    server.createContext("/ingest/report", (ex: HttpExchange) => {
      def esc(s: String) = Option(s).getOrElse("").takeWhile(_ != '\n')
        .replace("\\", "\\\\").replace("\"", "\\\"")
      if (ex.getRequestMethod.toUpperCase != "POST")
        respond(ex, 405,
          """{"error":"POST JSON event rows with ?store=&tag=&type="}""")
      else (storeRoot, param(ex, "store"), param(ex, "tag")) match {
        case (None, _, _) =>
          respond(ex, 404, """{"error":"server started without a store root"}""")
        case (_, None, _) =>
          respond(ex, 400, """{"error":"store param required"}""")
        case (_, _, None) =>
          respond(ex, 400,
            """{"error":"tag param required (the night id redeliveries are judged by)"}""")
        case (Some(root), Some(name), Some(tag)) =>
          val rootDir = new java.io.File(root).getCanonicalFile
          val dir = new java.io.File(rootDir, name).getCanonicalFile
          val typ = param(ex, "type")
          val win = param(ex, "window").map(p =>
            scala.util.Try(graft.operators.Windows.parseHorizon(p)).toOption)
          val gap = param(ex, "gap").map(p =>
            scala.util.Try(graft.operators.Windows.parseHorizon(p)).toOption)
          // &wait= bounds a polling wait on the maintenance stream's
          // lease (the double-firing-scheduler convenience): the second
          // firing waits out the first and no-ops on the ledgers
          // instead of eating a 409 it must retry client-side
          val leaseWait = param(ex, "wait").map(p =>
            scala.util.Try(graft.operators.Windows.parseHorizon(p)).toOption)
          // &parts= pins the landing width (dropFiles' parallel-landing
          // contract); default = auto from the row count
          val parts = param(ex, "parts").map(p =>
            scala.util.Try(p.toInt).toOption.filter(_ >= 1))
          val per = param(ex, "period")
          // &steps= maintains a CUSTOM funnel path (the /funnel read
          // face's validation; the custom-path read discipline already
          // serves such a store's rows alone)
          val steps = param(ex, "steps").map { p =>
            val parts = p.split(",", -1).toSeq
            if (parts.isEmpty || parts.exists(!_.matches("[A-Za-z0-9_-]+")) ||
                parts.distinct.size != parts.size) None
            else Some(parts)
          }
          if (!plainName(name) || dir.getParentFile != rootDir)
            respond(ex, 403, """{"error":"store not under the store root"}""")
          else if (!tag.matches("[A-Za-z0-9._-]+"))
            respond(ex, 400,
              """{"error":"tag must be filesystem-safe ([A-Za-z0-9._-]+)"}""")
          else if (typ.isEmpty ||
              !graft.streaming.Maintained.ReportTypes(typ.get))
            respond(ex, 400, """{"error":"type must be """ +
              graft.streaming.Maintained.ReportTypes.toSeq.sorted
                .mkString("|") + """"}""")
          else if (win.contains(None))
            respond(ex, 400,
              """{"error":"window must be <n><ms|s|m|h|d>, e.g. 1d"}""")
          else if (gap.contains(None))
            respond(ex, 400,
              """{"error":"gap must be <n><ms|s|m|h|d>, e.g. 30m"}""")
          else if (leaseWait.contains(None))
            respond(ex, 400,
              """{"error":"wait must be <n><ms|s|m|h|d>, e.g. 30s"}""")
          else if (parts.contains(None))
            respond(ex, 400,
              """{"error":"parts must be a positive integer (the landing width)"}""")
          else if (per.exists(p => !Set("day", "week", "month")(p)))
            respond(ex, 400, """{"error":"period must be day|week|month"}""")
          else if (steps.contains(None))
            respond(ex, 400, """{"error":"steps must be distinct plain """ +
              """names (steps=view,click,purchase)"}""")
          else try {
            import org.apache.spark.sql.functions.col
            // inapplicable params / missing deepest window refuse here;
            // the fold also carries this materialization's WIRE SHAPE
            // (a segmented store's drops carry a seg column)
            val fold = graft.streaming.Maintained.foldOf(spark, typ.get,
              windowMs = win.flatten, period = per, gapMs = gap.flatten,
              steps = steps.flatten)
            // the canonical configuration: durations normalized to ms,
            // so "30m" and "1800s" pin the same materialization
            val config = graft.streaming.Maintained.configOf(typ.get,
              win.flatten, per, gap.flatten, steps.flatten)
            val sdir = new java.io.File(dir, "_stream")
            val cfgFile = new java.io.File(sdir, "CONFIG")
            val manifest = new java.io.File(dir, "_MANIFEST")
            lazy val stored = new String(java.nio.file.Files
              .readAllBytes(cfgFile.toPath), StandardCharsets.UTF_8)
            if (manifest.exists && !cfgFile.exists)
              respond(ex, 409, s"""{"error":"store '$name' exists but """ +
                """carries no ingest config — it is maintained by a """ +
                """library lifecycle (its checkpoint lives with that """ +
                """driver; a fresh one here would double-count); fold """ +
                """through the lifecycle or ingest into a fresh store name"}""")
            else if (cfgFile.exists && stored != config)
              respond(ex, 400, s"""{"error":"store '$name' is maintained """ +
                s"""as '${esc(stored)}' — a maintained store is one """ +
                s"""materialization; this POST asked for '${esc(config)}'"}""")
            else {
              val body = new String(ex.getRequestBody.readAllBytes(),
                StandardCharsets.UTF_8)
              import spark.implicits._
              val lines = body.linesIterator.toSeq.filter(_.trim.nonEmpty).toDS()
              // the /ingest/point write-strictness discipline: reject
              // unknown field names (misspellings would silently drop
              // a column to null), then parse FAILFAST. The field set
              // is the FOLD's wire shape, so a segmented store accepts
              // (and requires) its seg column
              val known = fold.wireFields.toSet
              val inferred = spark.read.json(lines).schema.fieldNames.toSet
              val unknown = (inferred - "_corrupt_record").diff(known)
              if (unknown.nonEmpty)
                respond(ex, 400,
                  s"""{"error":"unknown field(s) ${unknown.toSeq.sorted
                    .mkString(", ")} — event rows carry ${known.toSeq.sorted
                    .mkString(", ")}"}""")
              else {
                // ts reads as a STRING and casts: the JSON reader's
                // default timestamp formatter is millisecond-grain,
                // and a wire ingest that silently truncated the events
                // table's µs timestamps would corrupt every µs-law
                // report (the hop-latency store caught it) — the CAST
                // preserves up to 6 fractional digits in any standard
                // form, and the null-after-cast check below keeps the
                // write face strict (a malformed ts is a 400, never a
                // silent null)
                val rows = spark.read
                  .schema(fold.schema.replace("ts TIMESTAMP", "ts STRING"))
                  .option("mode", "FAILFAST")
                  .json(lines)
                  // try_cast, not cast: under ANSI a malformed ts would
                  // throw mid-scan — null + the check below is the 400
                  .withColumn("ts",
                    org.apache.spark.sql.functions.expr(
                      "try_cast(ts AS TIMESTAMP)"))
                  .cache()
                try {
                  val parsed = try Right(rows.count()) catch {
                    case e: org.apache.spark.SparkException => Left(e)
                  }
                  parsed match {
                    case Left(_) =>
                      respond(ex, 400,
                        """{"error":"row(s) failed schema coercion — """ +
                          """ids must be integral"}""")
                    case Right(n) =>
                      // a segmented store's rows must carry EVERY
                      // segment axis (a null would fold under a null
                      // store key) — seg, and seg2 on a two-axis
                      // store; watermark sentinels are exempt — they
                      // are never folded
                      val segCols = fold.wireFields.filterNot(Seq(
                        "user_id", "ts", "event_id", "event_type")
                        .contains(_))
                      val segNull =
                        if (segCols.isEmpty) org.apache
                          .spark.sql.functions.lit(false)
                        else segCols.map(c => col(c).isNull)
                          .reduce(_ || _) && col("event_type") =!=
                          graft.streaming.Maintained.SentinelType
                      val bad = rows.filter(col("user_id").isNull ||
                        col("ts").isNull || segNull).count()
                      if (n == 0 || bad > 0)
                        respond(ex, 400,
                          """{"error":"body must be JSON event rows with """ +
                            """non-null user_id and an ISO8601/SQL ts """ +
                            """(fractional seconds preserved to µs)""" +
                            (if (segCols.nonEmpty)
                              s""" and a non-null ${segCols.mkString("/")
                              } on every non-sentinel row"""
                            else "") + """"}""")
                      else {
                        // the factored wire-ingest verb: owns the
                        // MAINTENANCE stream's lease for the whole
                        // call, pins the config, lands the drop
                        // (filtered through the cumulative takedown
                        // roster), runs one pass — the registered
                        // report_takedown query drives the same chain
                        val r = graft.streaming.Maintained.ingestDrop(
                          spark, dir, config, tag, rows,
                          landParts = parts.flatten,
                          leaseWaitMs = leaseWait.flatten.getOrElse(0L))
                        respond(ex, 200, s"""{"store":"$name",""" +
                          s""""tag":"$tag","type":"${typ.get}",""" +
                          s""""landed":${r.landed},""" +
                          s""""committed":${r.committed},""" +
                          s""""version":${r.version}}""")
                      }
                  }
                } finally rows.unpersist(false)
              }
            }
          } catch {
            case e: IllegalStateException =>
              // a live ingester holds the store — named, retry later
              respond(ex, 409, s"""{"error":"${esc(e.getMessage)}"}""")
            case e: IllegalArgumentException =>
              val msg = Option(e.getMessage).getOrElse("bad request")
              respond(ex, if (msg.contains("no point store")) 404 else 400,
                s"""{"error":"${esc(msg)}"}""")
            case e: Throwable =>
              respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
          }
      }
    })
    // the COMPLIANCE face of the persisted family: doc-grain deletion
    // (copyright takedown, opt-out, PII discovery) is the write that in
    // production arrives over an API, not a notebook — POST the id
    // roster with a request tag and the store's own takedown verb runs
    // under its writer lease. Exactly-once like /ingest/curate: the tag
    // rides the store's #deltag: / consumed-tag ledger, so a redelivered
    // request answers committed=false and changes nothing; committed
    // derives from the verb's OWN return (no pre-check TOCTOU).
    server.createContext("/takedown/curate", (ex: HttpExchange) => {
      if (ex.getRequestMethod.toUpperCase != "POST")
        respond(ex, 405,
          """{"error":"POST JSON rows of {doc_id} with ?store=&tag="}""")
      else (indexRoot, param(ex, "store"), param(ex, "tag")) match {
        case (None, _, _) =>
          respond(ex, 404, """{"error":"no index root configured"}""")
        case (_, None, _) =>
          respond(ex, 400, """{"error":"store param required"}""")
        case (_, _, None) =>
          respond(ex, 400, """{"error":"tag param required (the request id redeliveries are judged by)"}""")
        case (Some(root), Some(name), Some(tag)) =>
          val rootDir = new java.io.File(root).getCanonicalFile
          val dir = new java.io.File(rootDir, name).getCanonicalFile
          if (!plainName(name) || dir.getParentFile != rootDir)
            respond(ex, 403, """{"error":"store not under the index root"}""")
          else if (!tag.matches("[A-Za-z0-9._-]+"))
            respond(ex, 400,
              """{"error":"tag must be filesystem-safe ([A-Za-z0-9._-]+)"}""")
          else try {
            import org.apache.spark.sql.functions.col
            val loaded =
              try Some(graft.operators.CurateStore.load(spark, dir.getPath))
              catch { case e: RuntimeException
                  if e.getMessage != null &&
                    e.getMessage.contains("no curate store") =>
                None
              }
            loaded match {
              case None =>
                respond(ex, 404, s"""{"error":"no curate store named '$name'"}""")
              case Some(store) =>
                val body = new String(ex.getRequestBody.readAllBytes(),
                  StandardCharsets.UTF_8)
                import spark.implicits._
                val ids = spark.read.schema("doc_id LONG")
                  .json(body.linesIterator.toSeq.filter(_.trim.nonEmpty).toDS())
                  .cache()
                try {
                  val n = ids.count()
                  val bad = ids.filter(col("doc_id").isNull).count()
                  if (n == 0 || bad > 0)
                    respond(ex, 400,
                      """{"error":"body must be JSON rows of {doc_id}"}""")
                  else leaseWaitOf(ex) match {
                    case Left(b) => respond(ex, 400, b)
                    case Right(w) =>
                      val committed = store.deleteDocs(tag, ids,
                        leaseWaitMs = w)
                      respond(ex, 200, s"""{"store":"$name","tag":"$tag",""" +
                        s""""committed":$committed,"doc_count":${store.docCount}}""")
                  }
                } finally ids.unpersist(false)
            }
          } catch {
            case e: IllegalStateException =>
              respond(ex, 409, s"""{"error":"${Option(e.getMessage)
                .getOrElse("store is write-locked").takeWhile(_ != '\n')
                .replace("\\", "\\\\").replace("\"", "\\\"")}"}""")
            case e: Throwable =>
              respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
          }
      }
    })
    // the vector twin: tombstone a vec_id roster out of a persisted
    // IvfIndex — every read face subtracts immediately, the next
    // rebalance reclaims physically. Same ledger idempotence.
    server.createContext("/takedown/ann", (ex: HttpExchange) => {
      if (ex.getRequestMethod.toUpperCase != "POST")
        respond(ex, 405,
          """{"error":"POST JSON rows of {vec_id} with ?index=&tag="}""")
      else (indexRoot, param(ex, "index"), param(ex, "tag")) match {
        case (None, _, _) =>
          respond(ex, 404, """{"error":"no index root configured"}""")
        case (_, None, _) =>
          respond(ex, 400, """{"error":"index param required"}""")
        case (_, _, None) =>
          respond(ex, 400, """{"error":"tag param required (the request id redeliveries are judged by)"}""")
        case (Some(root), Some(name), Some(tag)) =>
          val rootDir = new java.io.File(root).getCanonicalFile
          val dir = new java.io.File(rootDir, name).getCanonicalFile
          if (!plainName(name) || dir.getParentFile != rootDir)
            respond(ex, 403, """{"error":"index not under the index root"}""")
          else if (!tag.matches("[A-Za-z0-9._-]+"))
            respond(ex, 400,
              """{"error":"tag must be filesystem-safe ([A-Za-z0-9._-]+)"}""")
          else if (!new java.io.File(dir, "_MEMBERS").exists() &&
              !new java.io.File(dir, "index").isDirectory)
            respond(ex, 404, s"""{"error":"no ivf index named '$name'"}""")
          else try {
            import org.apache.spark.sql.functions.col
            val idx = graft.operators.IvfIndex.load(spark, dir.getPath)
            val body = new String(ex.getRequestBody.readAllBytes(),
              StandardCharsets.UTF_8)
            import spark.implicits._
            val ids = spark.read.schema("vec_id LONG")
              .json(body.linesIterator.toSeq.filter(_.trim.nonEmpty).toDS())
              .cache()
            try {
              val n = ids.count()
              val bad = ids.filter(col("vec_id").isNull).count()
              if (n == 0 || bad > 0)
                respond(ex, 400,
                  """{"error":"body must be JSON rows of {vec_id}"}""")
              else leaseWaitOf(ex) match {
                case Left(b) => respond(ex, 400, b)
                case Right(w) =>
                  val committed = idx.delete(tag, ids, leaseWaitMs = w)
                  respond(ex, 200, s"""{"index":"$name","tag":"$tag",""" +
                    s""""committed":$committed}""")
              }
            } finally ids.unpersist(false)
          } catch {
            case e: IllegalStateException =>
              respond(ex, 409, s"""{"error":"${Option(e.getMessage)
                .getOrElse("index is write-locked").takeWhile(_ != '\n')
                .replace("\\", "\\\\").replace("\"", "\\\"")}"}""")
            case e: Throwable =>
              respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
          }
      }
    })
    // the dedup-index twin: tombstone a doc_id roster out of a
    // persisted DedupIndex — signatures and postings gone from every
    // read face immediately (one #tomb manifest line, O(takedown)),
    // the next compact reclaims physically. Same ledger idempotence;
    // deleted ids are RETIRED (re-appending is the documented contract
    // violation — re-ingest corrected content under a fresh id).
    server.createContext("/takedown/dedup", (ex: HttpExchange) => {
      if (ex.getRequestMethod.toUpperCase != "POST")
        respond(ex, 405,
          """{"error":"POST JSON rows of {doc_id} with ?index=&tag="}""")
      else (indexRoot, param(ex, "index"), param(ex, "tag")) match {
        case (None, _, _) =>
          respond(ex, 404, """{"error":"no index root configured"}""")
        case (_, None, _) =>
          respond(ex, 400, """{"error":"index param required"}""")
        case (_, _, None) =>
          respond(ex, 400, """{"error":"tag param required (the request id redeliveries are judged by)"}""")
        case (Some(root), Some(name), Some(tag)) =>
          val rootDir = new java.io.File(root).getCanonicalFile
          val dir = new java.io.File(rootDir, name).getCanonicalFile
          val isIvf = Option(dir.listFiles()).getOrElse(Array.empty)
            .exists(f => f.isDirectory && f.getName.startsWith("centroids"))
          if (!plainName(name) || dir.getParentFile != rootDir)
            respond(ex, 403, """{"error":"index not under the index root"}""")
          else if (!tag.matches("[A-Za-z0-9._-]+"))
            respond(ex, 400,
              """{"error":"tag must be filesystem-safe ([A-Za-z0-9._-]+)"}""")
          else if (!new java.io.File(dir, "_MEMBERS").exists() || isIvf)
            respond(ex, 404, s"""{"error":"no dedup index named '$name'"}""")
          else try {
            import org.apache.spark.sql.functions.col
            val idx = graft.operators.DedupIndex.load(spark, dir.getPath)
            val body = new String(ex.getRequestBody.readAllBytes(),
              StandardCharsets.UTF_8)
            import spark.implicits._
            val ids = spark.read.schema("doc_id LONG")
              .json(body.linesIterator.toSeq.filter(_.trim.nonEmpty).toDS())
              .cache()
            try {
              val n = ids.count()
              val bad = ids.filter(col("doc_id").isNull).count()
              if (n == 0 || bad > 0)
                respond(ex, 400,
                  """{"error":"body must be JSON rows of {doc_id}"}""")
              else leaseWaitOf(ex) match {
                case Left(b) => respond(ex, 400, b)
                case Right(w) =>
                  val committed = idx.delete(tag, ids, leaseWaitMs = w)
                  respond(ex, 200, s"""{"index":"$name","tag":"$tag",""" +
                    s""""committed":$committed}""")
              }
            } finally ids.unpersist(false)
          } catch {
            case e: IllegalStateException =>
              respond(ex, 409, s"""{"error":"${Option(e.getMessage)
                .getOrElse("index is write-locked").takeWhile(_ != '\n')
                .replace("\\", "\\\\").replace("\"", "\\\"")}"}""")
            case e: Throwable =>
              respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
          }
      }
    })
    // the maintained-analytics COMPLIANCE write: a user-grain takedown
    // for a WIRE-maintained report store. An additive count store can't
    // subtract a user (its counts are anonymous aggregates), so the
    // verb is a PURGE + re-derivation: the roster's rows are rewritten
    // out of the retained `_stream/drops` files (after it the store's
    // whole on-disk footprint holds none of the user's events), the
    // report re-folds from the purged drops through the store's pinned
    // config, and commits in one atomic manifest flip — readers see old
    // or new, never a partial. Exactly-once on the request tag via the
    // `_stream/takedowns` ledger, whose committed markers double as the
    // cumulative exclusion roster every later /ingest/report filters
    // (an opted-out user never re-enters). A LIBRARY-maintained store
    // (no ingest config) refuses with the remedy named: its inputs live
    // with the driving lifecycle, so the purge must happen there.
    server.createContext("/takedown/report", (ex: HttpExchange) => {
      def esc(s: String) = Option(s).getOrElse("").takeWhile(_ != '\n')
        .replace("\\", "\\\\").replace("\"", "\\\"")
      if (ex.getRequestMethod.toUpperCase != "POST")
        respond(ex, 405,
          """{"error":"POST JSON rows of {user_id} with ?store=&tag= (&defer=1 lands the roster for a later &flush=1)"}""")
      else (storeRoot, param(ex, "store"), param(ex, "tag")) match {
        case (None, _, _) =>
          respond(ex, 404, """{"error":"server started without a store root"}""")
        case (_, None, _) =>
          respond(ex, 400, """{"error":"store param required"}""")
        case (_, _, None) =>
          respond(ex, 400,
            """{"error":"tag param required (the request id redeliveries are judged by)"}""")
        case (Some(root), Some(name), Some(tag)) =>
          val rootDir = new java.io.File(root).getCanonicalFile
          val dir = new java.io.File(rootDir, name).getCanonicalFile
          // &defer=1: the cost amortization — the roster lands on the
          // ledger now (forward exclusion immediate), the purge and the
          // ONE rebuild wait for &flush=1, which settles every deferred
          // roster in one O(history) pass (Maintained.takedownUsers /
          // takedownFlush scaladoc)
          val defer = flagParam(ex, "defer")
          val flush = flagParam(ex, "flush")
          if (!plainName(name) || dir.getParentFile != rootDir)
            respond(ex, 403, """{"error":"store not under the store root"}""")
          else if (!tag.matches("[A-Za-z0-9._-]+"))
            respond(ex, 400,
              """{"error":"tag must be filesystem-safe ([A-Za-z0-9._-]+)"}""")
          else if (!dir.isDirectory)
            respond(ex, 404, s"""{"error":"no report store named '$name'"}""")
          else if ((defer.isEmpty && param(ex, "defer").isDefined) ||
              (flush.isEmpty && param(ex, "flush").isDefined))
            respond(ex, 400,
              """{"error":"defer/flush must be 1|true|0|false"}""")
          else if (defer.contains(true) && flush.contains(true))
            respond(ex, 400,
              """{"error":"defer and flush are different verbs — land rosters with defer, settle them with flush"}""")
          else if (leaseWaitOf(ex).isLeft)
            respond(ex, 400, leaseWaitOf(ex).swap.getOrElse(""))
          else if (flush.contains(true)) try {
            val r = graft.streaming.Maintained.takedownFlush(spark, dir, tag,
              leaseWaitMs = leaseWaitOf(ex).getOrElse(0L))
            respond(ex, 200, s"""{"store":"$name","tag":"$tag",""" +
              s""""committed":${r.committed},""" +
              s""""flushed":[${r.flushed.map(t => "\"" + esc(t) + "\"")
                .mkString(",")}],""" +
              s""""rows_removed":${r.removed},"version":${r.version}}""")
          } catch {
            case e: IllegalStateException =>
              respond(ex, 409, s"""{"error":"${esc(e.getMessage)}"}""")
            case e: Throwable =>
              respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
          }
          else try {
            import org.apache.spark.sql.functions.col
            val body = new String(ex.getRequestBody.readAllBytes(),
              StandardCharsets.UTF_8)
            import spark.implicits._
            val ids = spark.read.schema("user_id LONG")
              .json(body.linesIterator.toSeq.filter(_.trim.nonEmpty).toDS())
              .cache()
            try {
              val n = ids.count()
              val bad = ids.filter(col("user_id").isNull).count()
              if (n == 0 || bad > 0)
                respond(ex, 400,
                  """{"error":"body must be JSON rows of {user_id}"}""")
              else {
                val r = graft.streaming.Maintained.takedownUsers(
                  spark, dir, ids, tag, defer = defer.contains(true),
                  leaseWaitMs = leaseWaitOf(ex).getOrElse(0L))
                respond(ex, 200, s"""{"store":"$name","tag":"$tag",""" +
                  s""""committed":${r.committed},""" +
                  s""""deferred":${defer.contains(true) && r.committed},""" +
                  s""""rows_removed":${r.removed},"version":${r.version}}""")
              }
            } finally ids.unpersist(false)
          } catch {
            case e: IllegalStateException =>
              // a live holder of the maintenance stream, or a
              // library-maintained store — the message names which
              respond(ex, 409, s"""{"error":"${esc(e.getMessage)}"}""")
            case e: Throwable =>
              respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
          }
      }
    })
    // the recipe face of the training-mix assembly: the parameterized
    // mix → shuffle → pack DAG ([[graft.operators.Mix.assembleWith]])
    // over a scale dir's documents table — the thing a training-infra
    // caller actually asks for ("2.3 epochs of en under seed S, packed
    // to 2048-token contexts"), served without registering a query per
    // recipe. The registered assemble_epochs query carries the DuckDB
    // oracle for the same composed DAG, so every recipe served here
    // runs through a hash-proven composition; rows are bounded like
    // /query and ordered by batch layout (lang, bin, bin_offset).
    server.createContext("/assemble", (ex: HttpExchange) => {
      try {
        import org.apache.spark.sql.functions.col
        val seed = param(ex, "seed").getOrElse(graft.operators.Mix.ShuffleSeed)
        val budget = param(ex, "budget")
          .map(p => scala.util.Try(p.toLong).toOption)
        val dflt = param(ex, "default")
          .map(p => scala.util.Try(p.toDouble).toOption)
        val lim = param(ex, "limit")
          .map(p => scala.util.Try(p.toInt).toOption)
        // "en:2.3,de:1.5" — langs clamped to the id charset, weights
        // numeric here; the RANGE contract ([0,64], no duplicate
        // stratum) is mixOf's own require, surfaced below as a 400
        val epochs = param(ex, "epochs").map { s =>
          val parts = s.split(",", -1).toSeq.map(_.split(":", 2))
          if (parts.exists(a => a.length != 2 ||
              !a(0).matches("[A-Za-z0-9_-]+") ||
              scala.util.Try(a(1).toDouble).isFailure)) None
          else Some(parts.map(a => (a(0), a(1).toDouble)))
        }
        // recipe=<store>[&version=V]: replay a STORED recipe version's
        // layout instead of an inline recipe — the provenance read
        // ("serve me exactly what run N trained on"); mixing the two
        // faces is refused, because a half-overridden stored recipe is
        // no longer the recipe of record
        val recipeStore = param(ex, "recipe")
        val recipeVer = param(ex, "version")
          .map(p => scala.util.Try(p.toLong).toOption)
        if (budget.contains(None) || budget.exists(_.exists(_ <= 0)))
          respond(ex, 400, """{"error":"budget must be a positive integer"}""")
        else if (dflt.contains(None))
          respond(ex, 400, """{"error":"default must be a number"}""")
        else if (lim.contains(None))
          respond(ex, 400, """{"error":"limit must be an integer"}""")
        else if (epochs.contains(None))
          respond(ex, 400,
            """{"error":"epochs must be lang:weight[,lang:weight...]"}""")
        else if (!seed.matches("[A-Za-z0-9._:-]{1,64}"))
          respond(ex, 400, """{"error":"seed must be short and filesystem-safe"}""")
        else if (recipeVer.contains(None))
          respond(ex, 400, """{"error":"version must be an integer"}""")
        else if (recipeVer.isDefined && recipeStore.isEmpty)
          respond(ex, 400,
            """{"error":"version only applies with recipe=<store>"}""")
        else if (recipeStore.isDefined && (param(ex, "seed").isDefined ||
            budget.isDefined || dflt.isDefined || epochs.isDefined))
          respond(ex, 400, """{"error":"recipe=<store> and inline recipe """ +
            """params are mutually exclusive"}""")
        else if (recipeStore.exists(n => !plainName(n)))
          respond(ex, 400,
            """{"error":"recipe must be a plain name under the root"}""")
        else resolveSf(param(ex, "sf")) match {
          case None =>
            respond(ex, 403, """{"error":"sf not in the allowed scale dirs"}""")
          case Some(sf) =>
            try {
              val frame = recipeStore match {
                case Some(rs) =>
                  Seq(storeRoot, indexRoot).flatten
                    .map(r => new java.io.File(r, rs)).find(d =>
                      new java.io.File(d, graft.sources.RecipeStore
                        .ManifestName).exists()) match {
                    case None => throw new IllegalArgumentException(
                      s"no recipe store named '$rs'")
                    case Some(dir) =>
                      val store =
                        graft.sources.RecipeStore(spark, dir.getPath)
                      store.assembleAt(graft.Tables.documents(spark, sf),
                        recipeVer.flatten.getOrElse(store.version))
                  }
                case None => graft.operators.Mix.assembleWith(
                  graft.Tables.documents(spark, sf),
                  epochs.flatten.getOrElse(graft.operators.Mix.Epochs),
                  dflt.flatten.getOrElse(graft.operators.Mix.DefaultEpochs),
                  seed,
                  budget.flatten.getOrElse(graft.operators.Sampling.Budget))
              }
              val limit = lim.flatten.getOrElse(1000).max(1).min(MaxLimit)
              val rows = frame
                .orderBy(col("lang"), col("bin"), col("bin_offset"),
                  col("shuffle_rank"))
                .limit(limit).toJSON.collect()
              respond(ex, 200, rows.mkString("[", ",", "]"))
            } catch {
              // mixOf's weight-range / duplicate-stratum requires are
              // caller errors, not server faults
              case e: IllegalArgumentException =>
                respond(ex, 400, s"""{"error":"${Option(e.getMessage)
                  .getOrElse("bad recipe").takeWhile(_ != '\n')
                  .replace("\\", "\\\\").replace("\"", "\\\"")}"}""")
            }
        }
      } catch { case e: Throwable =>
        respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
      }
    })
    // plan visibility without execution cost: the FORMATTED physical
    // plan of a registered query — what an operator pastes into a scale
    // review (note: queries that drive on-disk lifecycles run their
    // writes during planning, same cost class as /query on them)
    server.createContext("/explain/", (ex: HttpExchange) => {
      val name = ex.getRequestURI.getPath.stripPrefix("/explain/")
      SparkEntry.queries.get(name) match {
        case None => respond(ex, 404, s"""{"error":"unknown query '$name'"}""")
        case Some(fn) =>
          try resolveSf(param(ex, "sf")) match {
            case None =>
              respond(ex, 403, """{"error":"sf not in the allowed scale dirs"}""")
            case Some(sf) =>
              val plan = fn(spark, sf).queryExecution.explainString(
                org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
              respond(ex, 200, plan, ctype = "text/plain; charset=utf-8")
          } catch { case e: Throwable =>
            respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
          }
      }
    })
    server.createContext("/query/", (ex: HttpExchange) => {
      val name = ex.getRequestURI.getPath.stripPrefix("/query/")
      SparkEntry.queries.get(name) match {
        case None => respond(ex, 404, s"""{"error":"unknown query '$name'"}""")
        case Some(fn) =>
          try {
            val limitParam = param(ex, "limit")
            val parsedLimit = limitParam.map(p => scala.util.Try(p.toInt).toOption)
            (resolveSf(param(ex, "sf")), parsedLimit) match {
              case (None, _) =>
                respond(ex, 403, """{"error":"sf not in the allowed scale dirs"}""")
              case (_, Some(None)) =>
                respond(ex, 400, """{"error":"limit must be an integer"}""")
              case (Some(sf), lim) =>
                val limit = lim.flatten.getOrElse(1000).max(1).min(MaxLimit)
                val rows = fn(spark, sf).limit(limit).toJSON.collect()
                respond(ex, 200, rows.mkString("[", ",", "]"))
            }
          } catch { case e: Throwable =>
            respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
          }
      }
    })
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
