package graft.bench

import com.fasterxml.jackson.databind.JsonNode
import graft.Tables.dec
import graft.server.QueryServer
import graft.sources.PointStore
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The web tier serving next to the queue worker: an in-process
  * `QueryServer` on loopback and a closed loop of four clients. Two poll
  * `GET /version` and read `GET /store/player_point`; the third posts
  * `POST /ingest/point` writes under unique tags and `POST /compact`
  * every few writes; the fourth is the worker (see [[IngestFold]]),
  * folding batches through `IncrementalCruncher.mergeBatch` into a store
  * of its own.
  *
  * When tracing, the readers' and the writer's operations cycle through
  * three modes: HTTP untraced, HTTP traced, and the same library call
  * in-process (traced). The server's share of an operation is the HTTP
  * latency minus the in-process one; the tracing overhead is traced HTTP
  * minus untraced HTTP. */
final class ServeMixed(spark: SparkSession, o: Main.Opts) extends Workload {
  import ServeMixed._

  private val star = s"${o.data}/star"
  private var root: String = _
  private var server: QueryServer = _
  private var base: Seq[Row] = Nil
  private var storeSchema: org.apache.spark.sql.types.StructType = _
  private val committed = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Point]]()
  private val worker = new IngestFold(spark, o)

  private def storeDir = s"$root/$Store"
  private def url(path: String) = s"http://127.0.0.1:${server.boundPort}$path"

  /** The player-grain point table of the reference's crunch_player,
    * folded from the generated star schema. */
  private def seedStore(): Unit = {
    val li = spark.read.parquet(s"$star/lineitem.parquet")
    val ord = spark.read.parquet(s"$star/orders.parquet")
    val agg = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("player_id"), col("l_returnflag").as("game_mode"))
      .agg(
        count(lit(1)).as("played"),
        sum(when(col("l_quantity") > 25, 1L).otherwise(0L)).as("wins"),
        sum(dec(col("l_quantity"))).as("time_spent_d"),
        sum(dec(col("l_extendedprice"))).as("gold_d"),
        max(col("l_orderkey")).as("last_match"))
      .cache()
    base = agg.collect().toSeq
    val store = new PointStore(spark, storeDir, keys = Keys,
      sums = Seq("played", "wins", "time_spent_d", "gold_d"), maxes = Seq("last_match"))
    store.appendTagged("seed", agg)
    store.compact()
    agg.unpersist()
    storeSchema = store.snapshot.schema
  }

  def setup(dir: String): Unit = {
    root = dir
    new java.io.File(root).mkdirs()
    committed.clear()
    seedStore()
    server = new QueryServer(spark, star, port = 0, storeRoot = Some(root))
    server.start()
    worker.setup(s"$dir-worker")
  }

  /** The worker's own warm-up, then the client loop, untimed, until the
    * writer has made `WarmWrites` writes and compacted: the timed loop
    * starts from a compacted store and a warm server. The writes are
    * committed writes like any other and are part of the final expected
    * table. */
  def warmUp(): Unit = {
    worker.warmUp()
    val warm = new Recorder(false, spark.sparkContext, new EngineCounters)
    clientLoop(warm, round = 1, writerDone = w => w.writes >= WarmWrites && w.compacted)
    warm.opList.flatMap(_.failure).foreach(f =>
      throw new IllegalStateException(s"warm-up failed: $f"))
  }

  override def teardown(): Unit = if (server != null) { server.stop(); server = null }

  def loop(rec: Recorder, deadline: Long): Unit = {
    val folds = new Thread(() => worker.loop(rec, deadline), "bench-worker")
    folds.start()
    clientLoop(rec, round = 0, writerDone = _ => System.nanoTime() >= deadline)
    folds.join()
  }

  /** Runs the readers and the writer until the writer says it is done;
    * readers stop with it. */
  private def clientLoop(rec: Recorder, round: Int, writerDone: Client => Boolean): Unit = {
    @volatile var done = false
    val clients = (0 to Readers).map(i => new Client(i, round, rec))
    val threads = clients.map { c =>
      val until = if (c.isWriter) () => { done = writerDone(c); done } else () => done
      val t = new Thread(() => c.run(until), s"bench-client-${c.id}")
      t.start()
      t
    }
    threads.foreach(_.join())
  }

  /** Every response was checked as it arrived; here the final `/store`
    * read, over HTTP and in-process, must equal the seeded base folded
    * with every committed write. */
  def check(rec: Recorder, outDir: String, corrupt: Boolean): Unit = {
    val expected = fold(base.map(Point.of) ++ committed.asScala.flatten)
    def compare(what: String, got0: Seq[Point]): Unit = {
      val got = if (corrupt) got0.updated(0, got0.head.copy(played = got0.head.played + 1)) else got0
      if (got != expected) rec.checkFailed(s"$what: ${got.size} rows differ from the " +
        s"${expected.size} expected (seeded base + ${committed.size} committed writes)")
    }
    val http = HttpClient.newHttpClient()
    val resp = http.send(HttpRequest.newBuilder(URI.create(url(s"/store/$Store?limit=10000"))).build(),
      HttpResponse.BodyHandlers.ofString())
    if (expected.size > 10000) rec.checkFailed("store outgrew the /store row limit")
    Json.parse(resp.body()).filter(_ => resp.statusCode() == 200 && expected.nonEmpty) match {
      case Some(arr) if arr.isArray => compare("GET /store", arr.elements().asScala.map(Point.of).toSeq)
      case _ => rec.checkFailed(s"final GET /store returned ${resp.statusCode()}")
    }
    compare("PointStore.snapshot",
      PointStore.open(spark, storeDir).snapshot.collect().toSeq.map(Point.of).sortBy(_.key))
    worker.check(rec, outDir, corrupt)
  }

  override def facts: Map[String, Any] = Map(
    "store_bytes" -> Workload.dirBytes(new java.io.File(storeDir)),
    "seeded_rows" -> base.size,
    "committed_writes" -> committed.size) ++
    worker.facts.map { case (k, v) => s"worker_$k" -> v }

  /** One closed-loop client. Client `Readers` writes; the others read. */
  private final class Client(val id: Int, round: Int, rec: Recorder) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    private val rnd = new scala.util.Random((o.seed * 31 + id) * 7 + round)
    var writes = 0
    var compacted = false
    private var lastVersion = -1L
    private var inProcess = false
    private var traced = false

    def isWriter: Boolean = id == Readers

    def run(stop: () => Boolean): Unit = {
      var n = 0
      // readers: blocks of PollsPerRead polls and one read, in seeded
      // order, so every run has the same mix
      var block = Iterator.empty[Boolean]
      while (!stop()) {
        inProcess = rec.tracing && n % 3 == 2
        traced = n % 3 != 0
        if (isWriter) {
          write()
          compacted = writes % CompactEvery == 0 || (round > 0 && writes >= WarmWrites)
          if (compacted) compact()
        } else {
          if (!block.hasNext)
            block = rnd.shuffle(true +: Seq.fill(PollsPerRead)(false)).iterator
          if (block.next()) read() else poll()
        }
        n += 1
      }
    }

    private def via = if (inProcess) "inproc" else "http"

    private def send(op: Op, req: HttpRequest): Option[JsonNode] = {
      val resp = rec.span(s"http.${op.kind}") { http.send(req, HttpResponse.BodyHandlers.ofString()) }
      val body = Json.parse(resp.body())
      if (resp.statusCode() / 100 != 2) op.fail(s"HTTP ${resp.statusCode()}: ${resp.body().take(200)}")
      else if (body.isEmpty) op.fail("response is not well-formed JSON")
      body
    }

    private def get(path: String) = HttpRequest.newBuilder(URI.create(url(path))).build()
    private def post(path: String, body: String) = HttpRequest.newBuilder(URI.create(url(path)))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()

    private def record(kind: String)(body: Op => Unit): Unit =
      rec.op(kind, via, traced = traced)(body)

    def poll(): Unit = record("poll") { op =>
      val v =
        if (inProcess) rec.span("PointStore.versionOf") { PointStore.versionOf(storeDir) }
        else send(op, get(s"/version?store=$Store")).map(_.path("version"))
          .filter(_.isIntegralNumber).map(_.asLong)
      v match {
        case Some(x) if x >= lastVersion => lastVersion = x
        case Some(x) => op.fail(s"version went back from $lastVersion to $x")
        case None => op.fail("no version in the response")
      }
    }

    def read(): Unit = record("read") { op =>
      val rows: Seq[JsonNode] =
        if (inProcess) {
          val store = rec.span("PointStore.open") { PointStore.open(spark, storeDir) }
          op.attrs("members") = store.members.size
          val frame = rec.span("PointStore.snapshot.plan") { store.snapshot }
          rec.span("PointStore.snapshot.exec") {
            frame.orderBy(Keys.map(col): _*).limit(ReadLimit).toJSON.collect()
          }.toSeq.flatMap(Json.parse)
        } else send(op, get(s"/store/$Store")).filter(_.isArray)
          .map(_.elements().asScala.toSeq).getOrElse(Nil)
      if (rows.isEmpty || rows.exists(r => !Fields.forall(r.has))) op.fail("malformed /store rows")
      op.attrs("rows") = rows.size
    }

    def write(): Unit = record("write") { op =>
      writes += 1
      val tag = s"w${o.seed}-$round-$writes"
      val points = Seq.fill(WriteRows)(Point(
        rnd.nextInt(base.size / 3 + 50).toLong, GameModes(rnd.nextInt(GameModes.size)),
        1 + rnd.nextInt(5), rnd.nextInt(3), BigDecimal(rnd.nextInt(5000), 2),
        BigDecimal(rnd.nextInt(10000000), 2), rnd.nextInt(1000000).toLong))
      val ok =
        if (inProcess) {
          val store = rec.span("PointStore.open") { PointStore.open(spark, storeDir) }
          val df = spark.createDataFrame(points.map(_.row).asJava, storeSchema)
          rec.span("PointStore.appendTagged") { store.appendTagged(tag, df) }
        } else send(op, post(s"/ingest/point?store=$Store&tag=$tag",
          points.map(_.json).mkString("\n"))).exists(_.path("committed").asBoolean(false))
      if (ok) committed.add(points) else op.fail(s"write $tag was not committed")
    }

    def compact(): Unit = record("compact") { op =>
      if (inProcess) rec.span("PointStore.compact") { PointStore.open(spark, storeDir).compact() }
      else if (!send(op, post(s"/compact?store=$Store", "")).exists(_.path("compacted").asBoolean(false)))
        op.fail("compaction not acknowledged")
    }
  }
}

object ServeMixed {
  val Store = "player_point"
  val Keys = Seq("player_id", "game_mode")
  val Fields = Seq("player_id", "game_mode", "played", "wins", "time_spent_d", "gold_d", "last_match")
  val GameModes = Seq("A", "N", "R")
  /** Readers; with the writer and the worker, four clients, no more than
    * a 4-core host serves without oversubscription. The mix below is an
    * assumption, not measured traffic: the server documents the read
    * pattern (poll `/version`, then read) but not how often a poll finds
    * a change. */
  val Readers = 2
  /** Assumed: polls per `/store` read. */
  val PollsPerRead = 2
  /** Assumed: rows per `/ingest/point` write. */
  val WriteRows = 50
  /** Writes per `/compact`: the library's own cadence (the default
    * `compactEvery` of `IncrementalCruncher` and the followers). */
  val CompactEvery = 8
  /** Writes in the warm-up, which then compacts. */
  val WarmWrites = 2
  /** The server's default `/store` page. */
  val ReadLimit = 1000

  final case class Point(player: Long, mode: String, played: Long, wins: Long,
                         time: BigDecimal, gold: BigDecimal, last: Long) {
    def key: (Long, String) = (player, mode)
    def row: Row = Row(player, mode, played, wins, time.bigDecimal, gold.bigDecimal, last)
    def json: String = s"""{"player_id":$player,"game_mode":"$mode","played":$played,""" +
      s""""wins":$wins,"time_spent_d":$time,"gold_d":$gold,"last_match":$last}"""
  }

  object Point {
    def of(r: Row): Point = Point(r.getAs[Long]("player_id"), r.getAs[String]("game_mode"),
      r.getAs[Long]("played"), r.getAs[Long]("wins"),
      BigDecimal(r.getAs[java.math.BigDecimal]("time_spent_d")),
      BigDecimal(r.getAs[java.math.BigDecimal]("gold_d")), r.getAs[Long]("last_match"))
    def of(n: JsonNode): Point = Point(n.path("player_id").asLong, n.path("game_mode").asText,
      n.path("played").asLong, n.path("wins").asLong, BigDecimal(n.path("time_spent_d").asText),
      BigDecimal(n.path("gold_d").asText), n.path("last_match").asLong)
  }

  /** The point-table upsert: sums add, last_match keeps the max. */
  def fold(points: Seq[Point]): Seq[Point] =
    points.groupBy(_.key).values.map(_.reduce((a, b) => a.copy(
      played = a.played + b.played, wins = a.wins + b.wins, time = a.time + b.time,
      gold = a.gold + b.gold, last = a.last max b.last))).toSeq.sortBy(_.key)
}
