package graft

import graft.server.QueryServer
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** Drive the HTTP face end-to-end on an ephemeral port. */
class ServerSpec extends SparkSpec {

  private def get(port: Int, path: String): (Int, String) = {
    val rsp = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (rsp.statusCode(), rsp.body())
  }

  test("query server serves health, listing, queries, and errors") {
    val srv = new QueryServer(spark, sf)
    srv.start()
    try {
      val port = srv.boundPort
      assert(get(port, "/health") == (200, """{"status":"ok"}"""))

      val (lc, listing) = get(port, "/queries")
      assert(lc == 200 && listing.contains("crunch_global") && listing.contains("ann_topk"))

      val (qc, body) = get(port, "/query/crunch_phases?limit=5")
      assert(qc == 200 && body.startsWith("[{") && body.contains("\"phase\""))

      val (nc, _) = get(port, "/query/nope")
      assert(nc == 404)

      val (sc, sfBody) = get(port, s"/query/dedup_exact?sf=$sf&limit=2")
      assert(sc == 200 && sfBody.contains("content_hash"))

      // sf whitelist: only sibling sf* dirs of the default are servable
      val (fc, _) = get(port, "/query/dedup_exact?sf=/etc")
      assert(fc == 403)
      val (tc, _) = get(port, s"/query/dedup_exact?sf=${sf}/../../etc")
      assert(tc == 403)

      // limit is clamped, not trusted: a huge/negative limit still answers
      val (hc, hugeBody) = get(port, "/query/crunch_phases?limit=2000000000")
      assert(hc == 200 && hugeBody.startsWith("[{"))
      val (negc, negBody) = get(port, "/query/crunch_phases?limit=-5")
      assert(negc == 200 && negBody.startsWith("[{"))
      val (badc, _) = get(port, "/query/crunch_phases?limit=abc")
      assert(badc == 400)

      // /version without a configured store root
      val (vnc, _) = get(port, "/version?store=x")
      assert(vnc == 404)

      // /explain serves the formatted physical plan without running rows
      val (ec, plan) = get(port, "/explain/crunch_global")
      assert(ec == 200 && plan.contains("== Physical Plan ==") &&
        plan.contains("ShuffledHashJoin"), plan.take(300))
      val (enc, _) = get(port, "/explain/nope")
      assert(enc == 404)
      val (esc, _) = get(port, "/explain/crunch_global?sf=/etc")
      assert(esc == 403)
    } finally srv.stop()
  }

  private def post(port: Int, path: String, body: String): (Int, String) = {
    val rsp = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (rsp.statusCode(), rsp.body())
  }

  test("POST /probe/dedup probes a persisted index over a real socket") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_indexes").toString
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0).limit(40)
    val idx = graft.operators.DedupIndex.build(corpus, s"$root/docs", 3)

    val srv = new QueryServer(spark, sf, indexRoot = Some(root))
    srv.start()
    try {
      val port = srv.boundPort
      // the posted batch: JSONL of {doc_id, text} — the nightly "does
      // this crawl duplicate the corpus?" question
      val body = batch.toJSON.collect().mkString("\n")
      val (pc, pBody) = post(port, "/probe/dedup?index=docs&threshold=0.5", body)
      assert(pc == 200, pBody)
      // the socket answer equals the direct probe, pair for pair
      val want = idx.probe(batch, 0.5).select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = """"a":(\d+),"b":(\d+)""".r.findAllMatchIn(pBody)
        .map(m => (m.group(1).toLong, m.group(2).toLong)).toSet
      assert(got == want, s"socket probe diverged: got $got want $want")
      assert(want.nonEmpty, "probe found no pairs — batch too clean to test")

      // guardrails: wrong method, unknown index, traversal, bad body
      val (mc, _) = get(port, "/probe/dedup?index=docs")
      assert(mc == 405)
      val (uc, _) = post(port, "/probe/dedup?index=nope", body)
      assert(uc == 404)
      val (tc, _) = post(port, "/probe/dedup?index=..%2Fdocs", body)
      assert(tc == 403)
      val (bc, _) = post(port, "/probe/dedup?index=docs", """{"junk": 1}""")
      assert(bc == 400)
      val (nc, _) = post(port, "/probe/dedup?index=docs&threshold=x", body)
      assert(nc == 400)

      // the WRITE half — probe the night, ingest the survivors:
      // POST /ingest/dedup appends the batch exactly-once on the tag
      val (ic, ib) = post(port, "/ingest/dedup?index=docs&tag=night1", body)
      assert(ic == 200 && ib.contains("\"committed\":true"), ib)
      val (ric, rib) = post(port, "/ingest/dedup?index=docs&tag=night1", body)
      assert(ric == 200 && rib.contains("\"committed\":false"), rib)
      // the batch is now IN the index: a fresh-tag re-ingest under the
      // &verify=1 disjointness audit refuses with the overlap named —
      // which is also the proof the first ingest indexed it
      val (vc2, vb2) = post(port,
        "/ingest/dedup?index=docs&tag=night2&verify=1", body)
      assert(vc2 == 400 && vb2.contains("already indexed"), vb2)
      assert(post(port,
        "/ingest/dedup?index=docs&tag=night2&verify=maybe", body)._1 == 400)
      // the audit also refuses a body that repeats a doc_id WITHIN
      // itself (in-body double-append skews intersection counts the
      // same way a replayed night would)
      val firstLine = body.linesIterator.next()
      val (dupc, dupb) = post(port,
        "/ingest/dedup?index=docs&tag=night3&verify=1",
        firstLine + "\n" + firstLine)
      assert(dupc == 400 && dupb.contains("repeats 1 doc_id"), dupb)
      assert(post(port, "/ingest/dedup?index=docs", body)._1 == 400)
      assert(get(port, "/ingest/dedup?index=docs&tag=x")._1 == 405)
      assert(post(port, "/ingest/dedup?index=nope&tag=x", body)._1 == 404)

      // served takedown: tombstone an indexed doc that currently forms
      // a probe pair — the index answers as if it was never appended
      val victim = want.head._2
      val (dc2, db2) = post(port, "/takedown/dedup?index=docs&tag=req1",
        s"""{"doc_id":$victim}""")
      assert(dc2 == 200 && db2.contains("\"committed\":true"), db2)
      val (_, pBody2) = post(port, "/probe/dedup?index=docs&threshold=0.5", body)
      assert(!pBody2.contains(s""""b":$victim"""), pBody2.take(200))
      assert(post(port, "/takedown/dedup?index=docs&tag=req1",
        s"""{"doc_id":$victim}""")._2.contains("\"committed\":false"))
      assert(post(port, "/takedown/dedup?index=docs&tag=req2", "")._1 == 400)
      assert(post(port, "/takedown/dedup?index=nope&tag=x",
        """{"doc_id":1}""")._1 == 404)
    } finally srv.stop()
  }

  test("POST /probe/ann serves vector search from a persisted index " +
      "over a real socket") {
    import org.apache.spark.sql.functions.col
    import graft.functions.VectorOps._
    import graft.operators.{Ann, IvfIndex}
    val root = java.nio.file.Files.createTempDirectory("graft_annroot").toString
    IvfIndex.build(spark, sf, s"$root/vecs")
    val idx = IvfIndex.load(spark, s"$root/vecs")
    val queries = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"),
        normalize(toDouble(col("embedding"))).as("qv"))

    val srv = new QueryServer(spark, sf, indexRoot = Some(root))
    srv.start()
    try {
      val port = srv.boundPort
      val body = queries.toJSON.collect().mkString("\n")
      def rows(s: String): Set[(Long, Long, Long)] =
        """"query_id":(\d+),"rank":(\d+),"neighbor_id":(\d+)""".r
          .findAllMatchIn(s)
          .map(m => (m.group(1).toLong, m.group(2).toLong, m.group(3).toLong))
          .toSet
      // exact full-probe over the socket ≡ the library's exact search
      val (ec, eBody) = post(port,
        s"/probe/ann?index=vecs&mode=exact&nprobe=${Ann.Cells}", body)
      assert(ec == 200, eBody)
      val want = idx.search(queries, Ann.K, Ann.Cells)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows(eBody) == want && want.nonEmpty)
      // refine path answers (approximate at partial probe — just shape
      // plus boundedness here; equivalences are IvfIndexSpec's)
      val (rc, rBody) = post(port, "/probe/ann?index=vecs&mode=refine&k=5", body)
      assert(rc == 200 && rows(rBody).nonEmpty &&
        rows(rBody).forall(_._2 <= 5))
      // attribute filter: all results inside the allowed list
      val allowedIds = Tables.embeddings(spark, sf)
        .filter(col("vec_id") % 3 === 0).select(col("vec_id"))
        .collect().map(_.getLong(0))
      val (fc, fBody) = post(port,
        s"/probe/ann?index=vecs&mode=exact&nprobe=${Ann.Cells}" +
          s"&allowed=${allowedIds.mkString(",")}", body)
      assert(fc == 200 && rows(fBody).nonEmpty &&
        rows(fBody).forall(t => allowedIds.contains(t._3)), fBody.take(200))

      // guardrails
      assert(get(port, "/probe/ann?index=vecs")._1 == 405)
      assert(post(port, "/probe/ann?index=nope", body)._1 == 404)
      assert(post(port, "/probe/ann?index=..%2Fvecs", body)._1 == 403)
      assert(post(port, "/probe/ann?index=vecs&k=0", body)._1 == 400)
      assert(post(port, "/probe/ann?index=vecs&mode=warp", body)._1 == 400)
      assert(post(port, "/probe/ann?index=vecs&allowed=a,b", body)._1 == 400)
      assert(post(port, "/probe/ann?index=vecs", """{"junk":1}""")._1 == 400)

      // the operational pair: /health/ann reads occupancy, /rebalance
      // runs the physical reclaim a takedown's tombstones wait for
      val n0 = Tables.embeddings(spark, sf).count()
      val (hc0, hb0) = get(port, "/health/ann?index=vecs")
      assert(hc0 == 200 && hb0.contains(s""""total":$n0"""), hb0)
      // the pair's method contract is symmetric: the read half is
      // GET-only exactly as the write half is POST-only
      assert(post(port, "/health/ann?index=vecs", "")._1 == 405)
      assert(post(port, "/takedown/ann?index=vecs&tag=tkd",
        """{"vec_id":1}""" + "\n" + """{"vec_id":2}""" + "\n" +
          """{"vec_id":3}""")._1 == 200)
      val (rc2, rb2) = post(port, "/rebalance?index=vecs", "")
      assert(rc2 == 200 && rb2.contains("\"rebalanced\":true") &&
        rb2.contains(s""""total":${n0 - 3}"""), rb2)
      val (hc1, hb1) = get(port, "/health/ann?index=vecs")
      assert(hc1 == 200 && hb1.contains(s""""total":${n0 - 3}"""), hb1)
      // guardrails: method, unknown index, missing param, a foreign
      // live writer on the index
      assert(get(port, "/rebalance?index=vecs")._1 == 405)
      assert(post(port, "/rebalance?index=nope", "")._1 == 404)
      assert(get(port, "/health/ann?index=nope")._1 == 404)
      assert(get(port, "/health/ann")._1 == 400)
      val isfs = graft.sources.StoreFs(spark, s"$root/vecs")
      isfs.atomicWrite(graft.sources.StoreFs.LeaseName,
        s"otherhost:1:live\n${System.currentTimeMillis()}".getBytes)
      val (flc, flb) = post(port, "/rebalance?index=vecs", "")
      assert(flc == 409 && flb.contains("otherhost:1:live"), flb)
      isfs.breakWriterLease()
    } finally srv.stop()
  }

  test("POST /ingest/ann appends an embedding batch over a real socket; " +
      "a redelivered tag is a committed=false no-op") {
    import org.apache.spark.sql.functions.col
    import graft.functions.VectorOps._
    import graft.operators.{Ann, IvfIndex}
    val root = java.nio.file.Files.createTempDirectory("graft_ingann").toString
    val emb = Tables.embeddings(spark, sf)
    // build on 80% of the corpus; the served append delivers the rest
    val cut = emb.agg(org.apache.spark.sql.functions.max(col("vec_id")))
      .head().getLong(0) * 4 / 5
    IvfIndex.buildFrom(emb.filter(col("vec_id") <= cut), s"$root/vecs")
    val delta = emb.filter(col("vec_id") > cut)
      .select(col("vec_id"), toDouble(col("embedding")).as("embedding"))

    val srv = new QueryServer(spark, sf, indexRoot = Some(root))
    srv.start()
    try {
      val port = srv.boundPort
      val body = delta.toJSON.collect().mkString("\n")
      val (ic, iBody) = post(port, "/ingest/ann?index=vecs&tag=nightly-1", body)
      assert(ic == 200 && iBody.contains("\"committed\":true"), iBody)
      val (rc, rBody) = post(port, "/ingest/ann?index=vecs&tag=nightly-1", body)
      assert(rc == 200 && rBody.contains("\"committed\":false"), rBody)

      // the served append is searchable: full-probe exact search over
      // the reloaded index sees old ∪ new — including delta ids as
      // neighbors of themselves excluded, queries drawn from both halves
      val idx = IvfIndex.load(spark, s"$root/vecs")
      val queries = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"),
          normalize(toDouble(col("embedding"))).as("qv"))
      val got = idx.search(queries, Ann.K, Ann.Cells).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = Ann.annTopk(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want,
        "served append + full-probe search diverged from brute force")

      // guardrails
      assert(get(port, "/ingest/ann?index=vecs&tag=x")._1 == 405)
      assert(post(port, "/ingest/ann?index=vecs", body)._1 == 400)
      assert(post(port, "/ingest/ann?index=nope&tag=x", body)._1 == 404)
      assert(post(port, "/ingest/ann?index=vecs&tag=x2", """{"junk":1}""")._1 == 400)
    } finally srv.stop()
  }

  test("POST /ingest/point folds a partial batch into a persisted point " +
      "store over a real socket; redelivered tag no-op; snapshot ≡ one-shot") {
    import org.apache.spark.sql.functions.{col, max, sum, count, lit}
    import graft.operators.Merge
    val root = java.nio.file.Files.createTempDirectory("graft_ingpoint").toString
    val li = Tables.lineitem(spark, sf)
    def batch(m: Int) = Merge.pointAgg(li.filter(col("l_orderkey") % 3 === m))
    // the store pre-exists with one committed batch (the open() contract:
    // the self-describing schema record rides the first commit)
    val store = new graft.sources.PointStore(spark, s"$root/points",
      keys = Seq("game_mode", "role"),
      sums = Seq("played", "wins", "time_spent_d", "gold_d"),
      maxes = Seq("last_match"))
    store.appendTagged("b0", batch(0))

    val srv = new QueryServer(spark, sf, storeRoot = Some(root))
    srv.start()
    try {
      val port = srv.boundPort
      val body1 = batch(1).toJSON.collect().mkString("\n")
      val (c1, b1) = post(port, "/ingest/point?store=points&tag=b1", body1)
      assert(c1 == 200 && b1.contains("\"committed\":true"), b1)
      val (cr, br) = post(port, "/ingest/point?store=points&tag=b1", body1)
      assert(cr == 200 && br.contains("\"committed\":false"), br)
      val (c2, _) = post(port, "/ingest/point?store=points&tag=b2",
        batch(2).toJSON.collect().mkString("\n"))
      assert(c2 == 200)

      // served appends fold exactly like the library write path: the
      // snapshot equals the one-shot aggregate of the whole fact table
      def m(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getString(1)) ->
          (2 until 7).map(i => String.valueOf(r.get(i)))).toMap
      assert(m(store.snapshot.select("game_mode", "role", "played", "wins",
          "time_spent_d", "gold_d", "last_match")) ==
        m(Merge.pointAgg(li).select("game_mode", "role", "played", "wins",
          "time_spent_d", "gold_d", "last_match")))

      // guardrails: methods, params, unknown store, null keys, traversal
      assert(get(port, "/ingest/point?store=points&tag=x")._1 == 405)
      assert(post(port, "/ingest/point?store=points", body1)._1 == 400)
      assert(post(port, "/ingest/point?tag=x", body1)._1 == 400)
      assert(post(port, "/ingest/point?store=nope&tag=x", body1)._1 == 404)
      assert(post(port, "/ingest/point?store=..&tag=x", body1)._1 == 403)
      assert(post(port, "/ingest/point?store=points&tag=bad:tag", body1)._1 == 400)
      assert(post(port, "/ingest/point?store=points&tag=x3",
        """{"junk":1}""")._1 == 400)
      assert(post(port, "/ingest/point?store=points&tag=x4", "")._1 == 400)
      // the write face is STRICT, never PERMISSIVE: a misspelled
      // measure field or a mistyped value must 400, not parse to null
      // and fold silently (sums skip nulls)
      val (cm, bm) = post(port, "/ingest/point?store=points&tag=x5",
        """{"game_mode":"m","role":"r","playedd":3}""")
      assert(cm == 400 && bm.contains("unknown field"), s"$cm $bm")
      assert(post(port, "/ingest/point?store=points&tag=x6",
        """{"game_mode":"m","role":"r","played":"not-a-number"}""")._1 == 400)
      // and none of the rejected batches committed anything
      assert(m(store.snapshot.select("game_mode", "role", "played", "wins",
          "time_spent_d", "gold_d", "last_match")) ==
        m(Merge.pointAgg(li).select("game_mode", "role", "played", "wins",
          "time_spent_d", "gold_d", "last_match")))
    } finally srv.stop()
  }

  test("POST /ingest/point pins the write face: array lines, malformed " +
      "lines, case-variant names, integral decimals and null keys") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_wface").toString
    // decimal(38,2) is the width a summed decimal settles at (the
    // benchmark's player store holds the same); a decimal(20,2) seed
    // sums to decimal(30,2), and the first served write commits
    // decimal(38,2) beside it
    val stores = Seq("wf" -> "decimal(38,2)", "wf20" -> "decimal(20,2)").map {
      case (name, seedType) =>
        val store = new graft.sources.PointStore(spark, s"$root/$name",
          keys = Seq("k"), sums = Seq("played", "time_spent_d"), maxes = Nil)
        store.appendTagged("b0", Seq(("a", 1L, BigDecimal("1.50")))
          .toDF("k", "played", "time_spent_d")
          .withColumn("time_spent_d", col("time_spent_d").cast(seedType)))
        name -> store
    }
    val srv = new QueryServer(spark, sf, storeRoot = Some(root))
    srv.start()
    try {
      val port = srv.boundPort
      for ((name, store) <- stores) {
        def rows = store.snapshot.collect().map(r =>
          r.getString(0) -> ((r.getLong(1), r.getDecimal(2).toPlainString))).toMap
        def ingest(tag: String, body: String) =
          post(port, s"/ingest/point?store=$name&tag=$tag", body)
        // a line holding a JSON array is a batch of rows, one per element
        val (ac, ab) = ingest("arr",
          """[{"k":"a","played":2,"time_spent_d":0.25},{"k":"b","played":3,"time_spent_d":4.10}]""")
        assert(ac == 200 && ab.contains("\"committed\":true"), s"$name $ab")
        // a decimal measure sent as an integer coerces exactly
        val (ic, ib) = ingest("int", """{"k":"c","played":1,"time_spent_d":7}""")
        assert(ic == 200 && ib.contains("\"committed\":true"), s"$name $ib")
        val folded = Map("a" -> ((3L, "1.75")), "b" -> ((3L, "4.10")),
          "c" -> ((1L, "7.00")))
        assert(rows == folded, name)
        // one malformed line among good ones refuses the whole body
        val (mc, mb) = ingest("mal",
          "{\"k\":\"d\",\"played\":1}\n{\"k\": oops\n{\"k\":\"e\",\"played\":1}")
        assert(mc == 400 && mb.contains("schema coercion"), s"$name $mc $mb")
        // field names are case-sensitive: `Played` is not `played`
        val (pc, pb) = ingest("case", """{"k":"a","Played":5}""")
        assert(pc == 400 && pb.contains("unknown field(s) Played"), s"$name $pc $pb")
        // a null key has no grain to fold into
        val (nc, nb) = ingest("nul", """{"k":null,"played":1}""")
        assert(nc == 400 && nb.contains("non-null key(s) k"), s"$name $nc $nb")
        // none of the refused bodies committed or consumed its tag
        assert(rows == folded, name)
        assert(store.consumedTags == Set("b0", "arr", "int"), name)
      }
    } finally srv.stop()
  }

  test("POST /ingest/point starts no Spark job beyond appendTagged's own") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_wjobs").toString
    val store = new graft.sources.PointStore(spark, s"$root/wj",
      keys = Seq("k"), sums = Seq("n"), maxes = Seq("m"))
    store.appendTagged("b0", Seq(("a", 1L, 1L)).toDF("k", "n", "m"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // listener events post asynchronously: count once the bus is quiet
    def settled(): Int = {
      var last = -1
      while (jobs.get != last) { last = jobs.get; Thread.sleep(300) }
      last
    }
    def jobsOf(f: => Unit): Int = { val j0 = settled(); f; settled() - j0 }
    val rows = Seq(("a", 2L, 5L), ("b", 3L, 7L))
    val srv = new QueryServer(spark, sf, storeRoot = Some(root))
    srv.start()
    spark.sparkContext.addSparkListener(listener)
    try {
      val inProcess = jobsOf(assert(
        store.appendTagged("p1", rows.toDF("k", "n", "m"))))
      val served = jobsOf {
        val (c, b) = post(srv.boundPort, "/ingest/point?store=wj&tag=p2",
          rows.map { case (k, n, m) => s"""{"k":"$k","n":$n,"m":$m}""" }
            .mkString("\n"))
        assert(c == 200 && b.contains("\"committed\":true"), b)
      }
      assert(inProcess > 0 && served == inProcess,
        s"served write ran $served jobs, in-process appendTagged $inProcess")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      srv.stop()
    }
  }

  test("GET /store stays fresh: writes, compaction, vacuum and " +
      "recreation all show") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_scache").toString
    def create(v: Long) = {
      val st = new graft.sources.PointStore(spark, s"$root/sc",
        keys = Seq("k"), sums = Seq("v"), maxes = Nil)
      st.appendTagged("n1", Seq(("a", v), ("b", v)).toDF("k", "v"))
      st
    }
    val store = create(1L)
    val srv = new QueryServer(spark, sf, storeRoot = Some(root))
    srv.start()
    try {
      val port = srv.boundPort
      val first = get(port, "/store/sc")
      assert(first == get(port, "/store/sc")) // a repeat read: same body
      assert(first._2.contains(""""k":"a","v":1"""), first._2)
      // a write made just before the read shows in it, in-process ...
      store.appendTagged("n2", Seq(("a", 2L)).toDF("k", "v"))
      val afterLib = get(port, "/store/sc")._2
      assert(afterLib.contains(""""k":"a","v":3"""), afterLib)
      // ... and over the wire; /version then reports at least the
      // version the POST did
      val (pc, pb) = post(port, "/ingest/point?store=sc&tag=n3",
        """{"k":"b","v":10}""")
      assert(pc == 200, pb)
      val posted = """"version":(\d+)""".r.findFirstMatchIn(pb).get.group(1).toLong
      val polled = """"version":(\d+)""".r
        .findFirstMatchIn(get(port, "/version?store=sc")._2).get.group(1).toLong
      assert(polled >= posted && posted == 3L)
      val current = get(port, "/store/sc")._2
      assert(current.contains(""""k":"b","v":11"""), current)
      val v1 = get(port, "/store/sc?version=1")
      assert(v1 == (200, first._2))
      // compaction rewrites the manifest, never the rows
      assert(post(port, "/compact?store=sc", "")._1 == 200)
      assert(get(port, "/store/sc")._2 == current)
      assert(get(port, "/store/sc?version=1") == v1)
      // vacuum ends time travel: the version-1 page is refused
      assert(post(port, "/vacuum?store=sc", "")._1 == 200)
      val (oc, ob) = get(port, "/store/sc?version=1")
      assert(oc == 400 && ob.contains("vacuumed"), ob)
      assert(get(port, "/store/sc")._2 == current)
      // the same name deleted and recreated under the running server:
      // the recreated store's rows, not the old ones
      graft.sources.PointStore.deleteRec(new java.io.File(root, "sc"))
      create(5L)
      val recreated = get(port, "/store/sc")._2
      assert(recreated.contains(""""k":"a","v":5""") &&
        !recreated.contains(""""v":11"""), recreated)
      assert(get(port, "/store/sc?version=1")._2 == recreated)
    } finally srv.stop()
  }

  test("stop() ends the server's request threads") {
    val srv = new QueryServer(spark, sf)
    srv.start()
    (1 to 6).foreach(_ => assert(get(srv.boundPort, "/health")._1 == 200))
    assert(!srv.isTerminated)
    srv.stop()
    assert(srv.isTerminated)
  }

  test("POST /probe/perplexity scores a batch against a persisted bigram " +
      "count store over a real socket ≡ the library probe") {
    import org.apache.spark.sql.functions.col
    import graft.operators.TextOps
    val root = java.nio.file.Files.createTempDirectory("graft_pplsrv").toString
    val docs = Tables.documents(spark, sf)
    val store = new graft.sources.PointStore(spark, s"$root/lm",
      keys = Seq("w1", "w2"), sums = Seq("c2"), maxes = Nil)
    store.appendTagged("n1",
      TextOps.bigramCountsOf(docs.filter(col("doc_id") % 5 =!= 0)))
    val batch = docs.filter(col("doc_id") % 5 === 0).limit(20)
      .select(col("doc_id"), col("text"))
    val srv = new QueryServer(spark, sf, storeRoot = Some(root))
    srv.start()
    try {
      val port = srv.boundPort
      val body = batch.toJSON.collect().mkString("\n")
      val (c, got) = post(port, "/probe/perplexity?store=lm&limit=5000", body)
      assert(c == 200, got)
      val lib = TextOps.perplexityProbeAgainst(store.snapshot, batch)
        .orderBy(col("doc_id")).toJSON.collect().mkString("[", ",", "]")
      assert(got == lib)
      // guardrails: method, params, unknown/non-LM stores, bad bodies
      assert(get(port, "/probe/perplexity?store=lm")._1 == 405)
      assert(post(port, "/probe/perplexity", body)._1 == 400)
      assert(post(port, "/probe/perplexity?store=nope&tag=x", body)._1 == 404)
      assert(post(port, "/probe/perplexity?store=..", body)._1 == 403)
      assert(post(port, "/probe/perplexity?store=lm", """{"junk":1}""")._1 == 400)
      assert(post(port, "/probe/perplexity?store=lm", "")._1 == 400)
      val other = new graft.sources.PointStore(spark, s"$root/notlm",
        keys = Seq("k"), sums = Seq("v"), maxes = Nil)
      import spark.implicits._
      other.appendTagged("t", Seq(("a", 1L)).toDF("k", "v"))
      val (nc, nb) = post(port, "/probe/perplexity?store=notlm", body)
      assert(nc == 400 && nb.contains("missing column"), nb)

      // the same route dispatches on shape: a (w1,w2,w3)/c3 store
      // scores through the trigram backoff chain
      val tstore = new graft.sources.PointStore(spark, s"$root/lm3",
        keys = Seq("w1", "w2", "w3"), sums = Seq("c3"), maxes = Nil)
      tstore.appendTagged("n1",
        TextOps.trigramCountsOf(docs.filter(col("doc_id") % 5 =!= 0)))
      val (tc, tgot) = post(port, "/probe/perplexity?store=lm3&limit=5000", body)
      assert(tc == 200, tgot)
      val tlib = TextOps.perplexityTrigramProbeAgainst(tstore.snapshot, batch)
        .orderBy(col("doc_id")).toJSON.collect().mkString("[", ",", "]")
      assert(tgot == tlib)
      assert(tgot.contains("n_trigrams") && got.contains("n_bigrams"),
        "the two orders must be distinguishable in the response shape")
    } finally srv.stop()
  }

  test("POST /takedown/curate and /takedown/ann delete doc rosters over " +
      "a real socket; redelivered request tags are committed=false no-ops") {
    import org.apache.spark.sql.functions.col
    import graft.functions.VectorOps._
    import graft.operators.{Ann, CurateStore, IvfIndex}
    val root = java.nio.file.Files.createTempDirectory("graft_tdroot").toString
    val docs = Tables.documents(spark, sf)
    CurateStore.build(docs, s"$root/docs")
    IvfIndex.build(spark, sf, s"$root/vecs")

    val srv = new QueryServer(spark, sf, indexRoot = Some(root))
    srv.start()
    try {
      val port = srv.boundPort
      // a takedown roster: every 17th doc (some kept, some already dead
      // to the funnel — absent/dead ids must be harmless)
      val gone = docs.filter(col("doc_id") % 17 === 0)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      val body = gone.toSeq.sorted.map(i => s"""{"doc_id":$i}""").mkString("\n")

      val (tc, tBody) = post(port, "/takedown/curate?store=docs&tag=req-9", body)
      assert(tc == 200 && tBody.contains("\"committed\":true"), tBody)
      // redelivery: no-op, the ledger answers
      val (rc2, rBody) = post(port, "/takedown/curate?store=docs&tag=req-9", body)
      assert(rc2 == 200 && rBody.contains("\"committed\":false"), rBody)
      // the served deletion ≡ a store that never held those docs
      val store = CurateStore.load(spark, s"$root/docs")
      def keyOf(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id", "cluster_id", "cleaned").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val want = keyOf(graft.operators.Pipeline.pipelineCurateOf(
        docs.filter(!col("doc_id").isin(gone.toSeq: _*))))
      assert(keyOf(store.snapshot()) == want,
        "server takedown diverged from the never-ingested funnel")

      // the vector twin: tombstone the same ids out of the index
      val vbody = gone.toSeq.sorted.map(i => s"""{"vec_id":$i}""").mkString("\n")
      val (vc, vBody) = post(port, "/takedown/ann?index=vecs&tag=req-9", vbody)
      assert(vc == 200 && vBody.contains("\"committed\":true"), vBody)
      val (vr, vrBody) = post(port, "/takedown/ann?index=vecs&tag=req-9", vbody)
      assert(vr == 200 && vrBody.contains("\"committed\":false"), vrBody)
      val queries = Tables.embeddings(spark, sf)
        .filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"),
          normalize(toDouble(col("embedding"))).as("qv"))
      val idx = IvfIndex.load(spark, s"$root/vecs")
      val res = idx.search(queries, Ann.K, Ann.Cells).collect()
      assert(res.nonEmpty && res.forall(r => !gone.contains(r.getLong(2))),
        "a tombstoned vec_id surfaced in post-takedown search")

      // discovery sees both index-root stores with their kinds
      val (dc, dBody) = get(port, "/stores")
      assert(dc == 200 &&
        dBody.contains(""""name":"docs","kind":"curate","root":"index"""") &&
        dBody.contains(""""name":"vecs","kind":"ivf","root":"index""""), dBody)

      // guardrails
      assert(get(port, "/takedown/curate?store=docs&tag=x")._1 == 405)
      assert(post(port, "/takedown/curate?store=docs", body)._1 == 400)
      assert(post(port, "/takedown/curate?store=docs&tag=no/slash", body)._1 == 400)
      assert(post(port, "/takedown/curate?store=nope&tag=x", body)._1 == 404)
      assert(post(port, "/takedown/curate?store=..%2Fdocs&tag=x", body)._1 == 403)
      assert(post(port, "/takedown/curate?store=docs&tag=x2", """{"junk":1}""")._1 == 400)
      assert(post(port, "/takedown/ann?index=nope&tag=x", vbody)._1 == 404)
      assert(post(port, "/takedown/ann?index=vecs&tag=x3", """{"junk":1}""")._1 == 400)
    } finally srv.stop()
  }

  test("POST /backup clones a store over the wire — pinned on a " +
      "CURATE root (nested sub-stores), with live-writer 409") {
    import org.apache.spark.sql.functions.col
    import graft.operators.CurateStore
    import graft.sources.StoreFs
    val root = java.nio.file.Files.createTempDirectory("graft_bkroot").toString
    val docs = Tables.documents(spark, sf)
    CurateStore.build(docs, s"$root/docs")

    val srv = new QueryServer(spark, sf, indexRoot = Some(root))
    srv.start()
    try {
      val port = srv.boundPort
      val (bc, bBody) = post(port, "/backup?store=docs&dest=docs-bk", "")
      assert(bc == 200 && bBody.contains("\"cloned\":true"), bBody)
      // the clone answers identically on the curate read faces — the
      // store-agnostic claim pinned on the NESTED-sub-store layout
      def keyOf(st: CurateStore) = st.snapshot()
        .select("doc_id", "cluster_id", "cleaned").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val src = CurateStore.load(spark, s"$root/docs")
      val clone = CurateStore.load(spark, s"$root/docs-bk")
      assert(keyOf(clone) == keyOf(src) && clone.docCount == src.docCount)
      // independence: a night into the source leaves the clone frozen
      val extra = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      src.curateNight("post-backup", extra)
      assert(CurateStore.load(spark, s"$root/docs-bk").docCount == clone.docCount)

      // guardrails: dest exists / unknown store / path-shaped names /
      // live writer on the source
      assert(post(port, "/backup?store=docs&dest=docs-bk", "")._1 == 400)
      assert(post(port, "/backup?store=nope&dest=x", "")._1 == 404)
      assert(post(port, "/backup?store=..&dest=x", "")._1 == 400)
      assert(post(port, "/backup?store=docs", "")._1 == 400)
      assert(get(port, "/backup?store=docs&dest=y")._1 == 405)
      val sfs = StoreFs(spark, s"$root/docs")
      sfs.atomicWrite(StoreFs.LeaseName,
        s"otherhost:1:live\n${System.currentTimeMillis()}".getBytes)
      val (lc, lBody) = post(port, "/backup?store=docs&dest=docs-bk2", "")
      assert(lc == 409 && lBody.contains("otherhost:1:live"), lBody)
      sfs.breakWriterLease()
    } finally srv.stop()
  }

  test("POST /probe/curate screens a batch against a persisted curate " +
    "store over a real socket") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_curates").toString
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") <= 399)
    val batch = docs.filter(col("doc_id") > 399).limit(40)
    val store = graft.operators.CurateStore.build(corpus, s"$root/docs")

    val srv = new QueryServer(spark, sf, indexRoot = Some(root))
    srv.start()
    try {
      val port = srv.boundPort
      val body = batch.select("doc_id", "text", "lang").toJSON.collect()
        .mkString("\n")
      val (pc, pBody) = post(port, "/probe/curate?store=docs", body)
      assert(pc == 200, pBody)
      // the socket answer equals the direct probe, verdict for verdict
      val want = store.probe(batch)
        .select("doc_id", "keep", "n_near_dup").collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toSet
      val got = """"doc_id":(\d+).*?"n_near_dup":(\d+),"keep":(true|false)""".r
        .findAllMatchIn(pBody)
        .map(m => (m.group(1).toLong, m.group(3).toBoolean, m.group(2).toLong))
        .toSet
      assert(got == want, s"socket probe diverged: got $got want $want")
      assert(want.exists(_._2) && want.exists(!_._2),
        "batch should mix keeps and drops at this SF")

      // guardrails: wrong method, unknown store, traversal, bad body
      val (mc, _) = get(port, "/probe/curate?store=docs")
      assert(mc == 405)
      val (uc, _) = post(port, "/probe/curate?store=nope", body)
      assert(uc == 404)
      val (tc, _) = post(port, "/probe/curate?store=..%2Fdocs", body)
      assert(tc == 403)
      val (bc, _) = post(port, "/probe/curate?store=docs", """{"junk": 1}""")
      assert(bc == 400)

      // GET /health/curate: the per-night series, state-only
      val (hc, hBody) = get(port, "/health/curate?store=docs")
      assert(hc == 200, hBody)
      val wantH = store.health().collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val gotH = """"night":"([^"]+)","lang":"([^"]+)","n_docs":(\d+)""".r
        .findAllMatchIn(hBody)
        .map(m => (m.group(1), m.group(2), m.group(3).toLong)).toSet
      assert(gotH == wantH && gotH.nonEmpty,
        s"health series diverged: got $gotH want $wantH")
      val (hu, _) = get(port, "/health/curate?store=nope")
      assert(hu == 404)
    } finally srv.stop()
  }

  test("POST /ingest/curate folds a drop into a persisted store over a " +
    "real socket; a redelivered tag is a committed=false no-op") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_ingests").toString
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") <= 399)
    val drop = docs.filter(col("doc_id") > 399)
    graft.operators.CurateStore.build(corpus, s"$root/docs")

    val srv = new QueryServer(spark, sf, indexRoot = Some(root))
    srv.start()
    try {
      val port = srv.boundPort
      val body = drop.select("doc_id", "text", "lang").toJSON.collect()
        .mkString("\n")

      // the write: one night under the caller's tag
      val (ic, iBody) = post(port, "/ingest/curate?store=docs&tag=drop-7", body)
      assert(ic == 200, iBody)
      assert(iBody.contains("\"committed\":true") &&
        iBody.contains("\"doc_count\":500"), iBody)

      // REDELIVERY of the same tag (queue redeliver / client retry after
      // a lost response): no fold, no state change, the no-op answer
      val (rc, rBody) = post(port, "/ingest/curate?store=docs&tag=drop-7", body)
      assert(rc == 200, rBody)
      assert(rBody.contains("\"committed\":false") &&
        rBody.contains("\"doc_count\":500"), rBody)

      // the ingested store now answers identically to the one-shot
      // funnel over everything — the same contract curateNight carries
      val store = graft.operators.CurateStore.load(spark, s"$root/docs")
      def keyOf(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id", "cluster_id", "cleaned").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val want = keyOf(graft.operators.Pipeline.pipelineCurateOf(docs))
      val got = keyOf(store.snapshot())
      assert(got == want, "server-ingested state diverged from the one-shot funnel")
      // and the health series is current to the ingested drop
      assert(store.health().collect().map(_.getString(0)).toSet
        == Set("base", "drop-7"))

      // guardrails: wrong method, missing/invalid tag, unknown store,
      // traversal, bad body — each refused before any fold starts
      val (mc, _) = get(port, "/ingest/curate?store=docs&tag=x1")
      assert(mc == 405)
      val (ntc, _) = post(port, "/ingest/curate?store=docs", body)
      assert(ntc == 400)
      val (numc, numBody) = post(port, "/ingest/curate?store=docs&tag=20260814", body)
      assert(numc == 400 && numBody.contains("non-numeric"), numBody)
      val (basec, _) = post(port, "/ingest/curate?store=docs&tag=base", body)
      assert(basec == 400)
      val (uc, _) = post(port, "/ingest/curate?store=nope&tag=x1", body)
      assert(uc == 404)
      val (tc, _) = post(port, "/ingest/curate?store=..%2Fdocs&tag=x1", body)
      assert(tc == 403)
      val (bc, _) = post(port, "/ingest/curate?store=docs&tag=x1", """{"junk": 1}""")
      assert(bc == 400)
    } finally srv.stop()
  }

  test("/probe/dedup without a configured index root answers 404") {
    val srv = new QueryServer(spark, sf)
    srv.start()
    try {
      val (c, _) = post(srv.boundPort, "/probe/dedup?index=docs", "{}")
      assert(c == 404)
    } finally srv.stop()
  }

  test("/version serves point-store content versions under the store root") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_stores").toString
    val c = new graft.streaming.IncrementalCruncher(spark, s"$root/points")
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_linestatus")
    c.mergeBatch(li.filter(col("l_orderkey") % 2 === 0), 0L)

    val srv = new QueryServer(spark, sf, storeRoot = Some(root))
    srv.start()
    try {
      val port = srv.boundPort
      assert(get(port, "/version?store=points") ==
        (200, """{"store":"points","version":1}"""))
      // a commit bumps the served version — the consumer's re-sync signal
      c.mergeBatch(li.filter(col("l_orderkey") % 2 =!= 0), 1L)
      assert(get(port, "/version?store=points") ==
        (200, """{"store":"points","version":2}"""))
      val (mc, _) = get(port, "/version?store=missing")
      assert(mc == 404)
      val (bc, _) = get(port, "/version")
      assert(bc == 400)
      // the store param is a NAME: traversal out of the root is refused
      val (tc, _) = get(port, "/version?store=..%2Fpoints")
      assert(tc == 403)

      // GET /store/<name>: the data-read face — rows at the current
      // version, zero configuration (layout from the self-describing
      // manifest), poll-then-read pairing with /version
      val (sc, sBody) = get(port, "/store/points?limit=5000")
      assert(sc == 200, sBody)
      val direct = graft.sources.PointStore.open(spark, s"$root/points")
      val rowsNow = """"game_mode":"([^"]+)"""".r
        .findAllMatchIn(sBody).map(_.group(1)).toSeq
      assert(rowsNow.nonEmpty &&
        rowsNow.size == direct.snapshot.count(), sBody.take(200))
      // TIME TRAVEL: version 1 is the first batch alone
      val (tc1, tBody) = get(port, "/store/points?version=1&limit=5000")
      assert(tc1 == 200, tBody)
      val at1 = direct.snapshotAt(1).collect().map(_.mkString("|")).toSet
      assert(at1.nonEmpty &&
        """"game_mode"""".r.findAllMatchIn(tBody).size == at1.size)
      // the future refuses as a caller error, not a 500
      val (fc, _) = get(port, "/store/points?version=99")
      assert(fc == 400)
      val (nsc, _) = get(port, "/store/missing")
      assert(nsc == 404)
      val (stc, _) = get(port, "/store/..%2Fpoints")
      assert(stc == 403)

      // discovery: /stores enumerates the root with kind + version
      val (lc, lBody) = get(port, "/stores")
      assert(lc == 200, lBody)
      assert(lBody.contains(""""name":"points","kind":"point","root":"store","version":2"""),
        lBody)
    } finally srv.stop()
  }

  test("GET /assemble serves the parameterized training-mix recipe") {
    import org.apache.spark.sql.functions.col
    val srv = new QueryServer(spark, sf)
    srv.start()
    try {
      val port = srv.boundPort
      // the default recipe IS the oracle-proven assemble_epochs layout
      // (same constants, same composed DAG) — byte-identical rows under
      // the route's total order
      val (c, body) = get(port, "/assemble?limit=8")
      assert(c == 200 && body.startsWith("[{") && body.contains("\"bin\""),
        body.take(200))
      val expect = graft.operators.Mix.assembleEpochs(spark, sf)
        .orderBy(col("lang"), col("bin"), col("bin_offset"),
          col("shuffle_rank"))
        .limit(8).toJSON.collect().mkString("[", ",", "]")
      assert(body == expect)
      // a custom recipe is served: only en survives default=0, and the
      // smaller budget re-bins the layout
      val (cc, custom) = get(port,
        "/assemble?epochs=en:1.0&default=0&budget=512&seed=alt&limit=8")
      assert(cc == 200 && custom.startsWith("[{") && custom != body)
      assert(!custom.contains("\"lang\":\"de\""), custom.take(200))
      // recipe errors are caller errors (400), never 500s
      assert(get(port, "/assemble?budget=0")._1 == 400)
      assert(get(port, "/assemble?budget=abc")._1 == 400)
      assert(get(port, "/assemble?epochs=en")._1 == 400)
      // weight past mixOf's [0,64] contract surfaces its require as 400
      assert(get(port, "/assemble?epochs=en:99")._1 == 400)
      assert(get(port, "/assemble?seed=" + ("x" * 80))._1 == 400)
      assert(get(port, "/assemble?sf=/etc")._1 == 403)
    } finally srv.stop()
  }

  test("the recipe store over the wire: POST /recipe versions, GET " +
      "/recipe reads, /assemble?recipe= replays — run provenance served") {
    val root = java.nio.file.Files.createTempDirectory("graft_rcproot").toString
    val srv = new QueryServer(spark, sf, storeRoot = Some(root))
    srv.start()
    try {
      val port = srv.boundPort
      // v1 = an explicit draft recipe; v2 = the registered constants
      // (every omitted param defaults, same convention as /assemble)
      val (c1, b1) = post(port, "/recipe?store=mix&tag=n1&epochs=en:1.0" +
        "&default=0&budget=512&seed=alt&shard=256", "")
      assert(c1 == 200 && b1.contains("\"committed\":true") &&
        b1.contains("\"version\":1"), b1)
      assert(post(port, "/recipe?store=mix&tag=n2", "")._2
        .contains("\"version\":2"))
      // at-least-once redelivery: committed=false, version axis unmoved
      val (c3, b3) = post(port, "/recipe?store=mix&tag=n2", "")
      assert(c3 == 200 && b3.contains("\"committed\":false") &&
        b3.contains("\"version\":2"), b3)
      // GET reads any version (latest by default), with the version→tag
      // provenance link
      val (g1, r1) = get(port, "/recipe?store=mix&version=1")
      assert(g1 == 200 && r1.contains("\"seed\":\"alt\"") &&
        r1.contains("\"budget\":512") && r1.contains("\"tag\":\"n1\"") &&
        r1.contains("\"epochs\":{\"en\":1.0}"), r1)
      val (g2, r2) = get(port, "/recipe?store=mix")
      assert(g2 == 200 && r2.contains("\"version\":2") &&
        r2.contains(s""""seed":"${graft.operators.Mix.ShuffleSeed}""""), r2)

      // replaying stored v2 ≡ the default inline face (same constants;
      // pack shard size is a plan knob, not semantics), and stored v1 ≡
      // the same recipe passed inline — version addressing reads the
      // version asked for, through the store
      val default8 = get(port, "/assemble?limit=8")._2
      assert(get(port, "/assemble?recipe=mix&limit=8")._2 == default8)
      assert(get(port, "/assemble?recipe=mix&version=2&limit=8")._2
        == default8)
      val inlineV1 = get(port,
        "/assemble?epochs=en:1.0&default=0&budget=512&seed=alt&limit=8")._2
      val (av, storedV1) =
        get(port, "/assemble?recipe=mix&version=1&limit=8")
      assert(av == 200 && storedV1 == inlineV1 && storedV1 != default8)

      // discovery: the store self-describes as kind=recipe at version 2
      val (dc, dirs) = get(port, "/stores")
      assert(dc == 200 && dirs.contains(
        """{"name":"mix","kind":"recipe","root":"store","version":2}"""), dirs)

      // a deprecated version: GET /recipe surfaces the marker; replay
      // over the wire answers 400 quoting the reason; live versions
      // and history reads are untouched
      val rs = graft.sources.RecipeStore(spark, s"$root/mix")
      assert(rs.deprecate(1L, "bad mixture shipped"))
      val (dg, dr) = get(port, "/recipe?store=mix&version=1")
      assert(dg == 200 &&
        dr.contains("\"deprecated\":\"bad mixture shipped\""), dr)
      val (dac, dab) = get(port, "/assemble?recipe=mix&version=1&limit=8")
      assert(dac == 400 && dab.contains("deprecated"), dab)
      assert(get(port, "/assemble?recipe=mix&version=2&limit=8")._2
        == default8)
      assert(!get(port, "/recipe?store=mix&version=2")._2
        .contains("deprecated"))

      // guardrails: half-overridden stored recipes refused, versions
      // range-checked, names stay plain, tags required
      assert(get(port, "/assemble?recipe=mix&seed=alt")._1 == 400)
      assert(get(port, "/assemble?version=2")._1 == 400)
      assert(get(port, "/assemble?recipe=nope")._1 == 400)
      assert(get(port, "/assemble?recipe=mix&version=9")._1 == 400)
      assert(get(port, "/recipe?store=nope")._1 == 404)
      assert(get(port, "/recipe?store=mix&version=9")._1 == 400)
      assert(get(port, "/recipe?store=mix&version=abc")._1 == 400)
      assert(get(port, "/recipe?store=..")._1 == 400)
      assert(post(port, "/recipe?store=mix", "")._1 == 400)
      assert(post(port, "/recipe?store=mix&tag=x&epochs=en", "")._1 == 400)
      assert(post(port, "/recipe?store=mix&tag=a:b", "")._1 == 400)
    } finally srv.stop()
  }

  test("GET /drift serves per-column profile drift between store " +
      "versions; &gate returns the thresholded report") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Profile
    val root = java.nio.file.Files.createTempDirectory("graft_driftroot").toString
    val docs = Tables.documents(spark, sf)
    val store = new graft.sources.PointStore(spark, s"$root/profile",
      keys = Seq("column"), sums = Seq("n_rows", "n_null", "sum_len"),
      maxes = Seq("max_num", "max_str"), sketches = Seq("dsk"),
      mins = Seq("min_num", "min_str"))
    store.appendTagged("n1",
      Profile.profilePartial(docs.filter(col("doc_id") % 3 =!= 2)))
    val v1 = store.version
    store.appendTagged("n2",
      Profile.profilePartial(docs.filter(col("doc_id") % 3 === 2)))
    val srv = new QueryServer(spark, sf, storeRoot = Some(root))
    srv.start()
    try {
      val port = srv.boundPort
      val (c, body) = get(port, s"/drift?store=profile&from=$v1")
      assert(c == 200 && body.contains("\"column\":\"doc_id\""), body)
      // served ≡ the library's own driftBetween at the same versions
      val lib = Profile.driftBetween(store.snapshotAt(v1), store.snapshot)
        .orderBy(col("column")).toJSON.collect().mkString("[", ",", "]")
      assert(body == lib)
      // an explicit to= equals the default live read
      assert(get(port,
        s"/drift?store=profile&from=$v1&to=${store.version}")._2 == body)
      // the gate face: the long-format report, all green on a healthy
      // night (same chain the drift_gate oracle proves at sf0.01)
      val (gc, gbody) = get(port, s"/drift?store=profile&from=$v1&gate")
      assert(gc == 200 && gbody.contains("\"rule\":\"rows_grew\"") &&
        !gbody.contains("\"passed\":false"), gbody)
      // the gate flag is VALUED: templated gate=${enabled} must honor
      // falsy values (gate=0/false ≡ absent) and 400 a typo, never
      // silently enable (the r13 ADVICE finding)
      assert(get(port, s"/drift?store=profile&from=$v1&gate=1")._2 == gbody)
      assert(get(port, s"/drift?store=profile&from=$v1&gate=true")._2 == gbody)
      assert(get(port, s"/drift?store=profile&from=$v1&gate=0")._2 == body)
      assert(get(port, s"/drift?store=profile&from=$v1&gate=false")._2 == body)
      assert(get(port, s"/drift?store=profile&from=$v1&gate=yess")._1 == 400)
      // guardrails: params required and integer, versions range-checked,
      // unknown stores 404, names stay under the root, non-profile
      // stores refused with the missing columns named
      assert(get(port, "/drift?store=profile")._1 == 400)
      assert(get(port, "/drift?store=profile&from=abc")._1 == 400)
      assert(get(port, "/drift?store=profile&from=99")._1 == 400)
      assert(get(port, "/drift?store=nope&from=1")._1 == 404)
      assert(get(port, "/drift?store=..&from=1")._1 == 403)
      val other = new graft.sources.PointStore(spark, s"$root/notprofile",
        keys = Seq("k"), sums = Seq("v"), maxes = Nil)
      import spark.implicits._
      other.appendTagged("t", Seq(("a", 1L)).toDF("k", "v"))
      val (nc, nbody) = get(port, s"/drift?store=notprofile&from=1")
      assert(nc == 400 && nbody.contains("missing column"), nbody)

      // the absolute read beside the deltas: /profile serves the derived
      // profile at any version, ≡ the library read at that version
      val (pc, pbody) = get(port, s"/profile?store=profile&version=$v1")
      assert(pc == 200, pbody)
      val plib = Profile.profileFromStored(store.snapshotAt(v1))
        .orderBy(col("column")).toJSON.collect().mkString("[", ",", "]")
      assert(pbody == plib)
      assert(get(port, "/profile?store=profile")._2 ==
        Profile.profileFromStored(store.snapshot)
          .orderBy(col("column")).toJSON.collect().mkString("[", ",", "]"))
      assert(get(port, "/profile?store=nope")._1 == 404)
      assert(get(port, "/profile?store=profile&version=99")._1 == 400)
      assert(get(port, "/profile?store=notprofile")._1 == 400)
    } finally srv.stop()
  }

  test("GET /funnel serves the parameterized ordered funnel: default " +
      "path ≡ the registered query, custom paths and guardrails work") {
    import org.apache.spark.sql.functions.col
    val srv = new QueryServer(spark, sf)
    srv.start()
    try {
      val port = srv.boundPort
      val (c, body) = get(port, "/funnel")
      assert(c == 200, body)
      val registered = graft.operators.Windows.eventsFunnel(spark, sf)
        .orderBy(col("step")).toJSON.collect().mkString("[", ",", "]")
      assert(body == registered)
      // a custom path: reordering the steps changes the counts (order
      // matters — that is the operator's defining property)
      val (rc, rbody) = get(port, "/funnel?steps=purchase,click,view")
      assert(rc == 200 && rbody != body, rbody)
      assert(rbody.contains("\"step_name\":\"purchase\""))
      // &window= bounds each hop: the served report equals the
      // registered windowed query at the same horizon
      val (wc, wbody) = get(port,
        s"/funnel?window=${graft.operators.Windows.FunnelHorizon}")
      assert(wc == 200, wbody)
      val windowed = graft.operators.Windows.eventsFunnelWindowed(spark, sf)
        .orderBy(col("step")).toJSON.collect().mkString("[", ",", "]")
      assert(wbody == windowed && wbody != body)
      // &mode=deepest serves the anchored-window semantics ≡ the
      // registered deepest report; it refuses to run unanchored
      val (mc, mbody) = get(port,
        s"/funnel?mode=deepest&window=${graft.operators.Windows.FunnelHorizon}")
      assert(mc == 200, mbody)
      val deepReg = graft.operators.Windows.eventsFunnelDeepest(spark, sf)
        .orderBy(col("step")).toJSON.collect().mkString("[", ",", "]")
      assert(mbody == deepReg && mbody != wbody)
      assert(get(port, "/funnel?mode=deepest")._1 == 400)
      assert(get(port, "/funnel?mode=widest&window=1d")._1 == 400)
      // &mode=sessions serves the per-visit semantics ≡ the registered
      // session-funnel report (the visit count rides along); the
      // window+sessions combination is refused explicitly, as is a
      // gap outside sessions mode
      val (sc2, sbody) = get(port, "/funnel?mode=sessions")
      assert(sc2 == 200, sbody)
      val sessReg = graft.operators.Windows.eventsFunnelSessions(spark, sf)
        .orderBy(col("step")).toJSON.collect().mkString("[", ",", "]")
      assert(sbody == sessReg && sbody.contains("\"visits\""), sbody)
      val (sgc, sgBody) = get(port, "/funnel?mode=sessions&gap=1m")
      assert(sgc == 200 && sgBody != sbody, sgBody)
      assert(get(port, "/funnel?mode=sessions&window=30m")._1 == 400)
      assert(get(port, "/funnel?gap=30m")._1 == 400)
      assert(get(port, "/funnel?mode=sessions&gap=10x")._1 == 400)

      // guardrails: malformed/duplicate steps, bad limit/window, foreign sf
      assert(get(port, "/funnel?steps=view,view")._1 == 400)
      assert(get(port, "/funnel?steps=a;b")._1 == 400)
      assert(get(port, "/funnel?steps=")._1 == 400)
      assert(get(port, "/funnel?limit=abc")._1 == 400)
      assert(get(port, "/funnel?window=10x")._1 == 400)
      assert(get(port, "/funnel?window=-5m")._1 == 400)
      assert(get(port, "/funnel?sf=/etc")._1 == 403)

      // the transition matrix beside it: served ≡ the registered
      // queries (raw and session-bounded), gap validated
      val (pc, pbody) = get(port, "/paths")
      assert(pc == 200 && pbody == graft.operators.Windows
        .eventsPaths(spark, sf)
        .orderBy(col("from_step"), col("to_step"))
        .toJSON.collect().mkString("[", ",", "]"), pbody)
      val (psc, psbody) = get(port, "/paths?gap=30m")
      assert(psc == 200 && psbody == graft.operators.Windows
        .eventsPathsSessionized(spark, sf)
        .orderBy(col("from_step"), col("to_step"))
        .toJSON.collect().mkString("[", ",", "]") && psbody != pbody, psbody)
      assert(get(port, "/paths?gap=30x")._1 == 400)
      assert(get(port, "/paths?limit=abc")._1 == 400)
      assert(get(port, "/paths?sf=/etc")._1 == 403)

      // the retention matrix beside it: served ≡ the registered query,
      // period validated, same sf guard
      val (tc, tbody) = get(port, "/retention")
      assert(tc == 200, tbody)
      val regRet = graft.operators.Windows.eventsRetention(spark, sf)
        .orderBy(col("cohort"), col("offset"))
        .toJSON.collect().mkString("[", ",", "]")
      assert(tbody == regRet)
      val (tdc, tdbody) = get(port, "/retention?period=day&limit=5000")
      assert(tdc == 200 && tdbody != tbody, tdbody)
      // the rolling reading ≡ its registered query (the testdata is
      // dense enough that classic == rolling here; the crafted-frame
      // difference is pinned in ApiSpec)
      val (trc, trbody) = get(port, "/retention?mode=rolling")
      assert(trc == 200 && trbody == graft.operators.Windows
        .eventsRetentionRolling(spark, sf)
        .orderBy(col("cohort"), col("offset"))
        .toJSON.collect().mkString("[", ",", "]"), trbody)
      assert(get(port, "/retention?mode=sticky")._1 == 400)
      assert(get(port, "/retention?period=fortnight")._1 == 400)
      assert(get(port, "/retention?limit=abc")._1 == 400)
      assert(get(port, "/retention?sf=/etc")._1 == 403)

      // the hop-latency report beside them: served ≡ the registered
      // funnel_latency query
      val (hc, hbody) = get(port, "/latency")
      assert(hc == 200 && hbody == graft.operators.Windows
        .funnelLatency(spark, sf).orderBy(col("hop"))
        .toJSON.collect().mkString("[", ",", "]"), hbody)
      assert(get(port, "/latency?limit=abc")._1 == 400)
      assert(get(port, "/latency?sf=/etc")._1 == 403)

      // a rootless server refuses ?store= with 404, never a re-scan
      assert(get(port, "/funnel?store=x")._1 == 404)
      assert(get(port, "/retention?store=x")._1 == 404)
      assert(get(port, "/paths?store=x")._1 == 404)
      assert(get(port, "/latency?store=x")._1 == 404)
    } finally srv.stop()
  }

  test("GET /funnel|/retention|/paths &by= serve the SEGMENTED reports " +
      "≡ the registered segmented queries; &tz= serves the market " +
      "calendar; the registry and the store combination are guarded") {
    import org.apache.spark.sql.functions.col
    val srv = new QueryServer(spark, sf)
    srv.start()
    try {
      val port = srv.boundPort
      def reg(df: org.apache.spark.sql.DataFrame,
              order: String*): String =
        df.orderBy(order.map(col): _*).toJSON.collect()
          .mkString("[", ",", "]")
      // the default path &by=segment ≡ events_funnel_segmented (the
      // whole wire shape, byte-equal under the route's own ordering)
      val (c, body) = get(port, "/funnel?by=segment")
      assert(c == 200, body)
      assert(body == reg(graft.operators.Windows
        .eventsFunnelSegmented(spark, sf), "step", "segment"))
      // the horizon, anchored and per-visit flavors all take &by — the
      // served report equals each registered segmented twin
      val (wc, wbody) = get(port,
        s"/funnel?window=${graft.operators.Windows.FunnelHorizon}&by=segment")
      assert(wc == 200 && wbody == reg(graft.operators.Windows
        .eventsFunnelWindowedSegmented(spark, sf), "step", "segment"), wbody)
      val (dc, dbody) = get(port,
        s"/funnel?mode=deepest&window=${graft.operators.Windows.FunnelHorizon}&by=segment")
      assert(dc == 200 && dbody == reg(graft.operators.Windows
        .eventsFunnelDeepestSegmented(spark, sf), "step", "segment"), dbody)
      val (vc, vbody) = get(port, "/funnel?mode=sessions&by=segment")
      assert(vc == 200 && vbody == reg(graft.operators.Windows
        .eventsFunnelSessionsSegmented(spark, sf), "step", "segment"), vbody)
      // the registry's second member resolves and differs
      val (gc, gbody) = get(port, "/funnel?by=region")
      assert(gc == 200 && gbody != body &&
        gbody.contains("NATION_"), gbody.take(300))
      // a COMMA list expands every attribute at once ≡ the registered
      // two-dimension query (2^2 grouping sets, 'all' per axis)
      val (mc, mbody) = get(port, "/funnel?by=segment,region")
      assert(mc == 200 && mbody == reg(graft.operators.Windows
        .eventsFunnelSegmented2(spark, sf),
        "step", "segment", "region"), mbody.take(300))
      // ...and the comma list composes with every mode (r20: the
      // deepest and per-visit flavors gained registered two-axis
      // twins, so the served cubes pin byte-equal)
      val (msc, msbody) = get(port, "/funnel?mode=sessions&by=segment,region")
      assert(msc == 200 && msbody == reg(graft.operators.Windows
        .eventsFunnelSessionsSegmented2(spark, sf),
        "step", "segment", "region"), msbody.take(300))
      val (mdc, mdbody) = get(port,
        s"/funnel?mode=deepest&window=${graft.operators.Windows.FunnelHorizon}&by=segment,region")
      assert(mdc == 200 && mdbody == reg(graft.operators.Windows
        .eventsFunnelDeepestSegmented2(spark, sf),
        "step", "segment", "region"), mdbody.take(300))
      // &exclude= serves the hop-voiding law ≡ the registered query,
      // and composes with &by
      val (xc, xbody) = get(port, "/funnel?exclude=2:error,3:error")
      assert(xc == 200 && xbody == reg(graft.operators.Windows
        .eventsFunnelExcluded(spark, sf), "step"), xbody.take(300))
      val (xbc, xbbody) = get(port,
        "/funnel?exclude=2:error,3:error&by=segment")
      assert(xbc == 200 && xbbody.contains("\"segment\":\"all\"") &&
        xbbody != body, xbbody.take(300))
      // &minval= serves the per-step predicate thresholds (stepWhere's
      // safe wire form) ≡ the registered filtered query; malformed,
      // repeated, out-of-range, wrong-mode and store combinations
      // refuse
      val (fvc, fvbody) = get(port, "/funnel?window=1d&minval=2:20,3:50")
      assert(fvc == 200 && fvbody == reg(graft.operators.Windows
        .eventsFunnelFiltered(spark, sf), "step"), fvbody.take(300))
      assert(get(port, "/funnel?minval=nope")._1 == 400)
      assert(get(port, "/funnel?minval=2:20,2:30")._1 == 400)
      assert(get(port, "/funnel?minval=9:20")._1 == 400)
      assert(get(port,
        "/funnel?minval=2:20&mode=deepest&window=1d")._1 == 400)
      assert(get(port, "/funnel?store=x&minval=2:20")._1 == 400)
      // retention: &by ≡ the registered segmented matrix, &tz ≡ the
      // registered Tokyo matrix, and the two COMPOSE (segment axis and
      // market calendar are orthogonal)
      val (rc, rbody) = get(port, "/retention?by=segment")
      assert(rc == 200 && rbody == reg(graft.operators.Windows
        .eventsRetentionSegmented(spark, sf),
        "cohort", "offset", "segment"), rbody.take(300))
      val (zc, zbody) = get(port, "/retention?period=day&tz=Asia/Tokyo")
      assert(zc == 200 && zbody == reg(graft.operators.Windows
        .eventsRetentionTz(spark, sf), "cohort", "offset"), zbody.take(300))
      val (bc, bbody) = get(port,
        "/retention?period=day&tz=Asia/Tokyo&by=segment")
      val both = graft.operators.Windows.retentionSegmentedOf(
        graft.Tables.events(spark, sf)
          .join(graft.operators.Windows.segmentDim(spark, sf),
            Seq("user_id")), "day", Some("Asia/Tokyo"))
      assert(bc == 200 &&
        bbody == reg(both, "cohort", "offset", "segment"), bbody.take(300))
      // latency: &by ≡ the registered segmented time-to-convert report
      val (lc, lbody) = get(port, "/latency?by=segment")
      assert(lc == 200 && lbody == reg(graft.operators.Windows
        .funnelLatencySegmented(spark, sf), "hop", "segment"),
        lbody.take(300))
      assert(get(port, "/latency?by=nope")._1 == 400)
      assert(get(port, "/latency?store=x&by=segment")._1 == 400)
      // paths: &by ≡ the registered segmented matrix
      val (pc, pbody) = get(port, "/paths?by=segment")
      assert(pc == 200 && pbody == reg(graft.operators.Windows
        .eventsPathsSegmented(spark, sf),
        "from_step", "to_step", "segment"), pbody.take(300))
      // r20: comma lists on the three non-funnel compute routes — each
      // served report ≡ its registered two-dimension twin (2^2 sets,
      // every attribute under its own registry name), cap-2 enforced
      val (r2c, r2body) = get(port, "/retention?by=segment,region")
      assert(r2c == 200 && r2body == reg(graft.operators.Windows
        .eventsRetentionSegmented2(spark, sf),
        "cohort", "offset", "segment", "region"), r2body.take(300))
      val (p2c, p2body) = get(port, "/paths?by=segment,region")
      assert(p2c == 200 && p2body == reg(graft.operators.Windows
        .eventsPathsSegmented2(spark, sf),
        "from_step", "to_step", "segment", "region"), p2body.take(300))
      val (l2c, l2body) = get(port, "/latency?by=segment,region")
      assert(l2c == 200 && l2body == reg(graft.operators.Windows
        .funnelLatencySegmented2(spark, sf),
        "hop", "segment", "region"), l2body.take(300))
      assert(get(port, "/retention?by=segment,region,segment2")._1 == 400)
      assert(get(port, "/paths?by=segment,segment")._1 == 400)
      assert(get(port, "/latency?by=segment,region,segment2")._1 == 400)
      // the tumbling series served (r20): default ≡ events_window, the
      // market calendar ≡ the registered Tokyo daily series, refusals
      // eager (period whitelist, zone validation)
      val (w0c, w0body) = get(port, "/window")
      assert(w0c == 200 && w0body == reg(graft.operators.Windows
        .eventsWindow(spark, sf), "window_start", "event_type"),
        w0body.take(300))
      val (wzc, wzbody) = get(port, "/window?period=day&tz=Asia/Tokyo")
      assert(wzc == 200 && wzbody == reg(graft.operators.Windows
        .eventsWindowTz(spark, sf), "window_start", "event_type"),
        wzbody.take(300))
      assert(get(port, "/window?period=minute")._1 == 400)
      assert(get(port, "/window?tz=Nope/Nope")._1 == 400)
      assert(get(port, "/window?limit=abc")._1 == 400)
      assert(get(port, "/window?sf=/etc")._1 == 403)
      // guardrails: an unknown &by names the registry; &by/&tz refuse
      // with ?store= on every route (a store is one materialization);
      // zones validate eagerly; rolling+by is an explicit refusal
      val (uc, ubody) = get(port, "/funnel?by=c_phone")
      assert(uc == 400 && ubody.contains("segment|region"), ubody)
      assert(get(port, "/funnel?by=segment,segment")._1 == 400)
      assert(get(port, "/funnel?by=segment,region,segment2")._1 == 400)
      // exclusions: malformed pairs, repeated hop indexes, out-of-range
      // hop (the operator's own require surfaces as the 400), wrong
      // modes, and the store combination all refuse
      assert(get(port, "/funnel?exclude=nope")._1 == 400)
      assert(get(port, "/funnel?exclude=2:error,2:signup")._1 == 400)
      assert(get(port, "/funnel?exclude=9:error")._1 == 400)
      // mode=deepest takes &exclude since r20 (per-anchor voiding):
      // served ≡ the registered events_funnel_deepest_excluded
      val (dxc, dxbody) = get(port,
        "/funnel?mode=deepest&window=1d&exclude=2:error,3:error")
      assert(dxc == 200 && dxbody == reg(graft.operators.Windows
        .eventsFunnelDeepestExcluded(spark, sf), "step"), dxbody.take(300))
      // the per-visit exclusion serves ≡ the registered query (the
      // SAME-VISIT void law at the registered 12 h gap)
      val (sxc, sxbody) = get(port,
        "/funnel?mode=sessions&gap=12h&exclude=2:error,3:error")
      assert(sxc == 200 && sxbody == reg(graft.operators.Windows
        .eventsFunnelSessionsExcluded(spark, sf), "step"),
        sxbody.take(300))
      assert(get(port, "/funnel?store=x&exclude=2:error")._1 == 400)
      assert(get(port, "/paths?by=nope")._1 == 400)
      assert(get(port, "/retention?by=nope")._1 == 400)
      assert(get(port, "/retention?tz=Mars/Olympus")._1 == 400)
      assert(get(port, "/retention?mode=rolling&by=segment")._1 == 400)
      assert(get(port, "/funnel?store=x&by=segment")._1 == 400)
      assert(get(port, "/retention?store=x&by=segment")._1 == 400)
      assert(get(port, "/retention?store=x&tz=UTC")._1 == 400)
      assert(get(port, "/paths?store=x&by=segment")._1 == 400)
    } finally srv.stop()
  }

  test("GET /funnel|/retention|/paths?store= serve the MAINTAINED report " +
      "stores (O(store) reads, no events re-scan); compute params refused " +
      "with store=") {
    import org.apache.spark.sql.functions.{col, count, lit}
    import graft.sources.PointStore
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_maint").toString
    // the funnel store as the StreamingFunnel→PointStore chain leaves
    // it (only reached steps present — the read face restores zeros)
    val fs = new PointStore(spark, s"$root/funrep",
      keys = Seq("step", "step_name"), sums = Seq("users"), maxes = Nil)
    fs.appendTagged("b0",
      Seq((1, "view", 4L), (2, "click", 2L)).toDF("step", "step_name", "users"))
    val rs = new PointStore(spark, s"$root/retrep",
      keys = Seq("cohort", "offset"), sums = Seq("users"), maxes = Nil)
    rs.appendTagged("b0", Seq(
        (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 0, 3L),
        (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1, 2L),
        (java.sql.Timestamp.valueOf("2024-01-08 00:00:00"), 0, 5L))
      .toDF("cohort", "offset", "users"))
    val ps = new PointStore(spark, s"$root/pathrep",
      keys = Seq("from_step", "to_step"), sums = Seq("n"), maxes = Nil)
    ps.appendTagged("b0",
      Seq(("view", "click", 7L), ("click", "purchase", 3L))
        .toDF("from_step", "to_step", "n"))
    val srv = new QueryServer(spark, sf, storeRoot = Some(root))
    srv.start()
    try {
      val port = srv.boundPort
      // served ≡ the library read of the same store
      val (fc, fbody) = get(port, "/funnel?store=funrep")
      assert(fc == 200, fbody)
      val flib = graft.streaming.Maintained.funnelReportFrom(spark, fs)
        .orderBy(col("step")).toJSON.collect().mkString("[", ",", "]")
      assert(fbody == flib, fbody)
      assert(fbody.contains("\"step\":3") && fbody.contains("\"users\":0"),
        "an unreached step must serve as zero, not vanish: " + fbody)
      // a store maintained over a CUSTOM path keeps its rows — and the
      // default zero-fill is suppressed: interleaved default zeros
      // would read as a funnel nobody maintained
      fs.appendTagged("b1",
        Seq((4, "refer", 1L)).toDF("step", "step_name", "users"))
      val (fc2, fbody2) = get(port, "/funnel?store=funrep")
      assert(fc2 == 200 && fbody2.contains("\"step_name\":\"refer\""),
        "custom-step rows must survive the report read: " + fbody2)
      assert(!fbody2.contains("\"step_name\":\"purchase\""),
        "a custom-path store must not interleave default zero rows: " + fbody2)
      val (rc2, rbody2) = get(port, "/retention?store=retrep")
      assert(rc2 == 200 && rbody2.contains("\"cohort\":\"2024-01-08 00:00:00\"")
        && rbody2.contains("\"users\":5"), rbody2)
      assert(rbody2.startsWith("""[{"cohort":"2024-01-01 00:00:00","offset":0"""))
      val (pc2, pbody2) = get(port, "/paths?store=pathrep")
      assert(pc2 == 200 &&
        pbody2 == """[{"from_step":"click","to_step":"purchase","n":3},""" +
          """{"from_step":"view","to_step":"click","n":7}]""", pbody2)

      // a store is ONE materialization: compute params are refused
      assert(get(port, "/funnel?store=funrep&mode=deepest&window=1d")._1 == 400)
      assert(get(port, "/funnel?store=funrep&steps=view,click")._1 == 400)
      assert(get(port, s"/funnel?store=funrep&sf=$sf")._1 == 400)
      assert(get(port, "/retention?store=retrep&period=day")._1 == 400)
      assert(get(port, "/retention?store=retrep&mode=rolling")._1 == 400)
      assert(get(port, "/paths?store=pathrep&gap=30m")._1 == 400)
      // unknown store, traversal, wrong-shape store
      assert(get(port, "/funnel?store=nope")._1 == 404)
      assert(get(port, "/funnel?store=..")._1 == 403)
      val (wc2, wb2) = get(port, "/funnel?store=retrep")
      assert(wc2 == 400 && wb2.contains("missing column"), wb2)
      assert(get(port, "/retention?store=pathrep")._1 == 400)
      assert(get(port, "/paths?store=funrep")._1 == 400)
      // &limit still applies to store reads
      val (lc2, lb2) = get(port, "/retention?store=retrep&limit=1")
      assert(lc2 == 200 && lb2.count(_ == '{') == 1, lb2)

      // the latency report store: served ≡ the library read of the
      // same (hop, n_users, sk) store
      import graft.functions.SketchOps
      val ls = new PointStore(spark, s"$root/latrep",
        keys = Seq("hop"), sums = Seq("n_users"), maxes = Nil,
        quantiles = Seq("sk"))
      ls.appendTagged("b0", Seq(
          ("view->click", 100L), ("view->click", 200L),
          ("view->click", 300L), ("click->purchase", 50L))
        .toDF("hop", "lat_us")
        .groupBy("hop").agg(count(lit(1)).as("n_users"),
          SketchOps.quantileSketch(col("lat_us"), 4096).as("sk")))
      val (hc2, hb2) = get(port, "/latency?store=latrep")
      assert(hc2 == 200, hb2)
      val hlib = ls.snapshot.select(col("hop") +: col("n_users") +:
          graft.operators.TextOps.QuantilePoints.map { case (q, n) =>
            SketchOps.quantileAt(col("sk"), q).as(n) }: _*)
        .orderBy(col("hop")).toJSON.collect().mkString("[", ",", "]")
      assert(hb2 == hlib && hb2.contains("\"p50\":200"), hb2)
      assert(get(port, "/latency?store=funrep")._1 == 400)
      assert(get(port, s"/latency?store=latrep&sf=$sf")._1 == 400)
    } finally srv.stop()
  }

  test("POST /ingest/report folds nightly event drops into maintained " +
      "report stores over the wire — exactly-once on the tag, config " +
      "pinned at first ingest, lease-owned, served report ≡ the batch " +
      "answer") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_wingest").toString
    var srv = new QueryServer(spark, sf, storeRoot = Some(root))
    srv.start()
    try {
      def port = srv.boundPort
      // the nightly drops: the events table in time tertiles (the
      // registered lifecycles' cadence), posted as JSON event rows
      val ev = Tables.events(spark, sf)
        .select(col("user_id").cast("long").as("user_id"),
          col("ts").cast("timestamp").as("ts"),
          col("event_id").cast("long").as("event_id"), col("event_type"))
      val b = ev.agg(min(unix_micros(col("ts"))),
        max(unix_micros(col("ts"))), max(col("ts"))).head
      val (mnUs, spanUs) = (b.getLong(0), b.getLong(1) - b.getLong(0) + 1)
      val maxTs = b.getTimestamp(2)
      val night = least(
        floor((unix_micros(col("ts")) - mnUs) * 3.0 / spanUs), lit(2L))
      // serialize at µs precision: Spark's default JSON timestamp
      // format is ms-grain and would silently truncate the events
      // table's µs grain — the latency store's percentiles prove the
      // precision survives the wire end to end
      def jsonOf(df: org.apache.spark.sql.DataFrame): String =
        df.select(to_json(struct(col("user_id"), col("ts"),
            col("event_id"), col("event_type")),
          Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")))
          .as[String].collect().mkString("\n")
      def drop(i: Int): String = jsonOf(ev.filter(night === i))
      def sentinel(plusDays: Int): String = jsonOf(Seq((-1L,
          new java.sql.Timestamp(maxTs.getTime + plusDays * 86400000L),
          0L, "_watermark"))
        .toDF("user_id", "ts", "event_id", "event_type"))

      // guardrails: type required + validated, inapplicable params and
      // the deepest twin's missing window refused, strict body
      assert(post(port, "/ingest/report?store=wfun&tag=n0", drop(0))._1 == 400)
      assert(post(port,
        "/ingest/report?store=wfun&tag=n0&type=nope", drop(0))._1 == 400)
      assert(post(port,
        "/ingest/report?store=wfun&tag=n0&type=funnel&period=week",
        drop(0))._1 == 400)
      assert(post(port,
        "/ingest/report?store=wfun&tag=n0&type=funnel&gap=30m",
        drop(0))._1 == 400)
      assert(post(port,
        "/ingest/report?store=wfun&tag=n0&type=funnel_deepest",
        drop(0))._1 == 400)
      assert(post(port,
        "/ingest/report?store=wfun&tag=n0&type=funnel&window=bogus",
        drop(0))._1 == 400)
      assert(post(port, "/ingest/report?store=wfun&tag=n0&type=funnel",
        """{"user_id":1,"nope":2}""")._1 == 400)
      assert(post(port, "/ingest/report?store=wfun&tag=n0&type=funnel",
        """{"user_id":1,"ts":"not a time"}""")._1 == 400)
      assert(post(port, "/ingest/report?store=wfun&tag=n0&type=funnel",
        "")._1 == 400)

      // the funnel lifecycle over the wire: three nights + the two
      // watermark sentinels, each post one maintenance pass
      val (c0, b0) = post(port,
        "/ingest/report?store=wfun&tag=n0&type=funnel", drop(0))
      assert(c0 == 200 && b0.contains("\"landed\":true") &&
        b0.contains("\"committed\":true"), b0)
      // a redelivered tag is a no-op at both grains
      val (cr, br) = post(port,
        "/ingest/report?store=wfun&tag=n0&type=funnel", drop(0))
      assert(cr == 200 && br.contains("\"landed\":false") &&
        br.contains("\"committed\":false"), br)
      // the store is ONE materialization: a different configuration
      // (or type) for the same store is refused
      assert(post(port,
        "/ingest/report?store=wfun&tag=n1&type=funnel&window=30m",
        drop(1))._1 == 400)
      assert(post(port,
        "/ingest/report?store=wfun&tag=n1&type=retention",
        drop(1))._1 == 400)
      assert(post(port,
        "/ingest/report?store=wfun&tag=n1&type=funnel", drop(1))._1 == 200)
      // the maintenance state is ALL on disk (watermark + file ledger in
      // _stream/ckpt, tag ledgers in the store manifest, config in
      // _stream/CONFIG): a brand-new server process continues the same
      // store exactly where the last one stopped
      srv.stop()
      srv = new QueryServer(spark, sf, storeRoot = Some(root))
      srv.start()
      assert(post(port,
        "/ingest/report?store=wfun&tag=n2&type=funnel", drop(2))._1 == 200)
      // the redelivery ledger survives the restart too
      val (cr2, br2) = post(port,
        "/ingest/report?store=wfun&tag=n0&type=funnel", drop(0))
      assert(cr2 == 200 && br2.contains("\"landed\":false") &&
        br2.contains("\"committed\":false"), br2)
      assert(post(port,
        "/ingest/report?store=wfun&tag=s1&type=funnel", sentinel(2))._1 == 200)
      assert(post(port,
        "/ingest/report?store=wfun&tag=s2&type=funnel", sentinel(4))._1 == 200)
      // the served report ≡ the one-shot batch funnel over the same events
      val (fc, fbody) = this.get(port, "/funnel?store=wfun")
      val expected = graft.operators.Windows.eventsFunnel(spark, sf)
        .orderBy(col("step")).toJSON.collect().mkString("[", ",", "]")
      assert(fc == 200 && fbody == expected,
        s"served=$fbody\nexpected=$expected")

      // a second store, retention with the period pinned at first ingest
      assert(post(port,
        "/ingest/report?store=wret&tag=n0&type=retention&period=week",
        Seq(drop(0), drop(1), drop(2)).mkString("\n"))._1 == 200)
      assert(post(port,
        "/ingest/report?store=wret&tag=n1&type=retention&period=day",
        sentinel(2))._1 == 400) // period mismatch vs the pinned config
      assert(post(port,
        "/ingest/report?store=wret&tag=n1&type=retention&period=week",
        sentinel(2))._1 == 200)
      assert(post(port,
        "/ingest/report?store=wret&tag=n2&type=retention&period=week",
        sentinel(4))._1 == 200)
      val (rc, rbody) = this.get(port, "/retention?store=wret")
      val rexpected = graft.operators.Windows
        .retentionOf(ev, "week").orderBy(col("cohort"), col("offset"))
        .toJSON.collect().mkString("[", ",", "]")
      assert(rc == 200 && rbody == rexpected,
        s"served=$rbody\nexpected=$rexpected")

      // the SESSION funnel maintained over the wire — &gap is required
      // (the visit bound is the materialization) and pins at first
      // ingest; the store carries BOTH measures and the /funnel read
      // serves its full (users, visits) shape
      assert(post(port,
        "/ingest/report?store=wsess&tag=n0&type=funnel_sessions",
        drop(0))._1 == 400) // gap required
      assert(post(port, // landing width must be a positive int
        "/ingest/report?store=wsess&tag=n0&type=funnel_sessions&gap=30m" +
          "&parts=0", drop(0))._1 == 400)
      assert(post(port, // &parts= pins the parallel-landing width
        "/ingest/report?store=wsess&tag=n0&type=funnel_sessions&gap=30m" +
          "&parts=2",
        Seq(drop(0), drop(1), drop(2)).mkString("\n"))._1 == 200)
      assert(new java.io.File(root, "wsess/_stream/drops").listFiles()
        .count(_.getName.startsWith("n0-p")) == 2)
      assert(post(port, // one materialization: a different gap refuses
        "/ingest/report?store=wsess&tag=s1&type=funnel_sessions&gap=10m",
        sentinel(2))._1 == 400)
      assert(post(port,
        "/ingest/report?store=wsess&tag=s1&type=funnel_sessions&gap=30m",
        sentinel(2))._1 == 200)
      assert(post(port,
        "/ingest/report?store=wsess&tag=s2&type=funnel_sessions&gap=30m",
        sentinel(4))._1 == 200)
      val (sc2, sbody) = this.get(port, "/funnel?store=wsess")
      val sexpected = graft.operators.Windows.eventsFunnelSessions(spark, sf)
        .orderBy(col("step")).toJSON.collect().mkString("[", ",", "]")
      assert(sc2 == 200 && sbody == sexpected,
        s"served=$sbody\nexpected=$sexpected")
      // the health face: one GET answers "is the nightly loop healthy"
      // — config echoed, provenance sized, ledgers counted (n0 landed
      // SPLIT as 2 files + the two sentinels = 4 files over 3 tags)
      val (hrc, hrb) = this.get(port, "/health/report?store=wsess")
      assert(hrc == 200, hrb)
      assert(hrb.contains("\"config\":\"type=funnel_sessions;gap_ms=1800000\""), hrb)
      assert(hrb.contains("\"drop_files\":4") &&
        hrb.contains("\"landed_tags\":3"), hrb)
      assert(hrb.contains("\"takedowns_committed\":0") &&
        hrb.contains("\"takedowns_pending\":[]"), hrb)
      assert(this.get(port, "/health/report")._1 == 400)
      assert(post(port, "/health/report?store=wsess", "")._1 == 405)
      assert(this.get(port, "/health/report?store=nope")._1 == 404)

      // a CUSTOM funnel path maintained over the wire — &steps= pins
      // into the config, the read face serves the custom rows alone
      // (no default zero interleave), served ≡ the ad-hoc batch funnel
      assert(post(port,
        "/ingest/report?store=wcust&tag=n0&type=funnel&steps=signup,purchase",
        Seq(drop(0), drop(1), drop(2)).mkString("\n"))._1 == 200)
      assert(post(port, // the path IS the materialization: reorder → 400
        "/ingest/report?store=wcust&tag=n1&type=funnel&steps=purchase,signup",
        sentinel(2))._1 == 400)
      assert(post(port,
        "/ingest/report?store=wcust&tag=n1&type=funnel&steps=signup,purchase",
        sentinel(2))._1 == 200)
      assert(post(port,
        "/ingest/report?store=wcust&tag=n2&type=funnel&steps=signup,purchase",
        sentinel(4))._1 == 200)
      val (cc2, cbody) = this.get(port, "/funnel?store=wcust")
      val cexpected = graft.operators.Windows
        .funnelOf(ev, Seq("signup", "purchase"), None)
        .zip(Seq("signup", "purchase")).zipWithIndex.map {
          case ((df, n), i) => df.agg(count(lit(1)).as("users"))
            .select(lit(i + 1).cast("int").as("step"),
              lit(n).as("step_name"), col("users")) }
        .reduce(_ unionByName _)
        .orderBy(col("step")).toJSON.collect().mkString("[", ",", "]")
      assert(cc2 == 200 && cbody == cexpected,
        s"served=$cbody\nexpected=$cexpected")
      assert(!cbody.contains("view"),
        "a custom-path store must not interleave default zero rows: " + cbody)

      // /stores surfaces the pinned fold config of wire-maintained
      // reports (dashboards discover them without probing shapes)
      val (dc, dbody) = this.get(port, "/stores")
      assert(dc == 200 && dbody.contains(""""name":"wfun","kind":"point"""")
        && dbody.contains(""""maintained":"type=funnel""""), dbody)

      // a quantile-sketch store type over the wire: latency creates
      // its (hop)/n_users+sk store at first ingest and GET
      // /latency?store= serves the maintained percentiles ≡ the
      // one-shot batch distributions
      assert(post(port,
        "/ingest/report?store=wlat&tag=n0&type=latency",
        Seq(drop(0), drop(1), drop(2)).mkString("\n"))._1 == 200)
      assert(post(port,
        "/ingest/report?store=wlat&tag=s1&type=latency", sentinel(2))._1 == 200)
      assert(post(port,
        "/ingest/report?store=wlat&tag=s2&type=latency", sentinel(4))._1 == 200)
      val (qc, qbody) = this.get(port, "/latency?store=wlat")
      val qexpected = graft.operators.Windows.funnelLatency(spark, sf)
        .orderBy(col("hop")).toJSON.collect().mkString("[", ",", "]")
      assert(qc == 200 && qbody == qexpected,
        s"served=$qbody\nexpected=$qexpected")

      // a store materialized by a LIBRARY lifecycle (manifest, no
      // ingest config) is refused: a fresh checkpoint over it would
      // double-count its nights
      val libStore = new graft.sources.PointStore(spark, s"$root/libfun",
        keys = Seq("step", "step_name"), sums = Seq("users"), maxes = Nil)
      libStore.appendTagged("b0",
        Seq((1, "view", 4L)).toDF("step", "step_name", "users"))
      val (lc0, lb0) = post(port,
        "/ingest/report?store=libfun&tag=n0&type=funnel", drop(0))
      assert(lc0 == 409 && lb0.contains("library lifecycle"), lb0)
      // ...and its health lives with its lifecycle, not this face
      assert(this.get(port, "/health/report?store=libfun")._1 == 404)

      // a live foreign ingester holds the maintenance stream → 409
      val sfs = graft.sources.StoreFs(spark, s"$root/wfun/_stream")
      sfs.atomicWrite(graft.sources.StoreFs.LeaseName,
        s"otherhost:7:live\n${System.currentTimeMillis()}".getBytes)
      val (hc, hb) = post(port,
        "/ingest/report?store=wfun&tag=n3&type=funnel", sentinel(6))
      assert(hc == 409 && hb.contains("otherhost:7:live"), hb)
      // &wait= bounds a polling wait before the refusal (the double-
      // firing-scheduler convenience) — the foreign holder never
      // releases here, so the 409 arrives only after the bound
      val t0 = System.nanoTime()
      val (wc, wb) = post(port,
        "/ingest/report?store=wfun&tag=n3&type=funnel&wait=1500ms",
        sentinel(6))
      val waitedMs = (System.nanoTime() - t0) / 1000000L
      assert(wc == 409 && wb.contains("otherhost:7:live"), wb)
      assert(waitedMs >= 1400L, s"bounded wait not honored: $waitedMs ms")
      assert(post(port,
        "/ingest/report?store=wfun&tag=n3&type=funnel&wait=soon",
        sentinel(6))._1 == 400)
      sfs.breakWriterLease()
    } finally srv.stop()
  }

  test("POST /poll/drift drives the push-shaped alerter over a real " +
      "socket: baseline, window drift ≡ library, redelivered no-op, " +
      "lease 409 naming the holder, fell-behind 409 + resync") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Profile
    import graft.sources.{PointStore, StoreFs}
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_polldrift").toString
    val up = new PointStore(spark, s"$root/up",
      keys = Seq("column"),
      sums = Seq("n_rows", "n_null", "sum_len"),
      maxes = Seq("max_num", "max_str"),
      sketches = Seq("dsk"),
      mins = Seq("min_num", "min_str"))
    val docs = Tables.documents(spark, sf)
    def night(n: Int) = Profile.profilePartial(
      docs.filter(col("doc_id") % 4 === n))
    up.appendTagged("n0", night(0))
    val srv = new QueryServer(spark, sf, storeRoot = Some(root))
    srv.start()
    try {
      val port = srv.boundPort
      // the first poll creates the mirror and establishes the baseline
      val (c0, b0) = post(port, "/poll/drift?store=up&mirror=mir", "")
      assert(c0 == 200 && b0.contains("\"folded\":true") &&
        b0.contains("\"baseline\":true"), b0)
      // a scheduler double-fire: caught-up no-op, mirror unchanged
      val v = PointStore.open(spark, s"$root/mir").version
      val (c1, b1) = post(port, "/poll/drift?store=up&mirror=mir", "")
      assert(c1 == 200 && b1.contains("\"folded\":false") &&
        !b1.contains("baseline"), b1)
      assert(PointStore.open(spark, s"$root/mir").version == v)
      // night 1: the served window drift ≡ the two-snapshot library
      // drift of exactly that upstream window
      val pre = up.snapshot
      up.appendTagged("n1", night(1))
      val expected = Profile.driftBetween(pre, up.snapshot)
        .orderBy(col("column")).toJSON.collect().mkString("[", ",", "]")
      val (c2, b2) = post(port, "/poll/drift?store=up&mirror=mir", "")
      assert(c2 == 200 && b2.contains(s""""drift":$expected"""), b2)
      // the gate face rides the same poll
      up.appendTagged("n2", night(2))
      val (c3, b3) = post(port, "/poll/drift?store=up&mirror=mir&gate=1", "")
      assert(c3 == 200 && b3.contains("\"rule\":") &&
        b3.contains("\"passed\":"), b3)
      // a live foreign poller holds the mirror → 409 naming it
      val sfs = StoreFs(spark, s"$root/mir")
      sfs.atomicWrite(StoreFs.LeaseName,
        s"otherhost:7:live\n${System.currentTimeMillis()}".getBytes)
      val (lc, lb) = post(port, "/poll/drift?store=up&mirror=mir", "")
      assert(lc == 409 && lb.contains("otherhost:7:live"), lb)
      sfs.breakWriterLease()
      // fell behind: vacuum the upstream past the mirror's checkpoint
      up.appendTagged("n3", night(3))
      up.compact(); up.vacuum()
      up.appendTagged("n5",
        Profile.profilePartial(docs.filter(col("doc_id") % 11 === 0)))
      val (fc, fb) = post(port, "/poll/drift?store=up&mirror=mir", "")
      assert(fc == 409 && fb.contains("vacuumed") && fb.contains("resync"), fb)
      // &resync folds no window, so there is nothing to gate — the
      // combination is refused loudly, never silently ignored
      assert(post(port,
        "/poll/drift?store=up&mirror=mir&resync=1&gate=1", "")._1 == 400)
      // &resync rebuilds the mirror; the next poll is caught up and a
      // fresh night drifts from the resync baseline
      val (rc, rb) = post(port, "/poll/drift?store=up&mirror=mir&resync=1", "")
      assert(rc == 200 && rb.contains("\"resynced\":true"), rb)
      val (cc, cb) = post(port, "/poll/drift?store=up&mirror=mir", "")
      assert(cc == 200 && cb.contains("\"folded\":false"), cb)
      val pre2 = up.snapshot
      up.appendTagged("n6",
        Profile.profilePartial(docs.filter(col("doc_id") % 11 === 1)))
      val expected2 = Profile.driftBetween(pre2, up.snapshot)
        .orderBy(col("column")).toJSON.collect().mkString("[", ",", "]")
      val (c4, b4) = post(port, "/poll/drift?store=up&mirror=mir", "")
      assert(c4 == 200 && b4.contains(s""""drift":$expected2"""), b4)

      // guardrails: method, params, identity, traversal, unknown
      // store, valued flags, non-profile upstream
      assert(get(port, "/poll/drift?store=up&mirror=mir")._1 == 405)
      assert(post(port, "/poll/drift?store=up", "")._1 == 400)
      assert(post(port, "/poll/drift?mirror=mir", "")._1 == 400)
      assert(post(port, "/poll/drift?store=up&mirror=up", "")._1 == 400)
      assert(post(port, "/poll/drift?store=nope&mirror=m2", "")._1 == 404)
      assert(post(port, "/poll/drift?store=..&mirror=m2", "")._1 == 403)
      assert(post(port, "/poll/drift?store=up&mirror=..", "")._1 == 403)
      assert(post(port, "/poll/drift?store=up&mirror=mir&gate=yess", "")._1 == 400)
      assert(post(port, "/poll/drift?store=up&mirror=mir&resync=maybe", "")._1 == 400)
      val plain = new PointStore(spark, s"$root/plain",
        keys = Seq("k"), sums = Seq("v"), maxes = Nil)
      plain.appendTagged("t", Seq(("a", 1L)).toDF("k", "v"))
      val (nc, nb) = post(port, "/poll/drift?store=plain&mirror=m3", "")
      assert(nc == 400 && nb.contains("not a profile store"), nb)
    } finally srv.stop()
  }

  test("POST /recipe commits into an EXISTING store under EITHER root — " +
      "never forks a same-named twin under the first one") {
    val sRoot = java.nio.file.Files.createTempDirectory("graft_rcp_s").toString
    val iRoot = java.nio.file.Files.createTempDirectory("graft_rcp_i").toString
    // the store pre-exists under the INDEX root (the second configured)
    graft.sources.RecipeStore(spark, s"$iRoot/mix")
      .commit("n1", graft.sources.Recipe(Seq("en" -> 1.0), 0.5, "s", 64L, 32L))
    val srv = new QueryServer(spark, sf,
      storeRoot = Some(sRoot), indexRoot = Some(iRoot))
    srv.start()
    try {
      val port = srv.boundPort
      val (c, b) = post(port, "/recipe?store=mix&tag=n2", "")
      assert(c == 200 && b.contains("\"version\":2"), b)
      // the existing store advanced; no twin materialized under sRoot
      assert(graft.sources.RecipeStore(spark, s"$iRoot/mix").version == 2L)
      assert(!new java.io.File(sRoot, "mix").exists())
      // a genuinely new name lands under the FIRST configured root
      assert(post(port, "/recipe?store=fresh&tag=n1", "")._1 == 200)
      assert(new java.io.File(sRoot, "fresh").isDirectory)
    } finally srv.stop()
  }

  test("POST /compact and /vacuum serve the point-store maintenance " +
      "verbs — content identical across compact, vacuum an explicit " +
      "retention choice that closes past-version reads") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_maint").toString
    val srv = new QueryServer(spark, sf, storeRoot = Some(root))
    srv.start()
    try {
      val port = srv.boundPort
      val store = new graft.sources.PointStore(spark, s"$root/pts",
        keys = Seq("k"), sums = Seq("v"), maxes = Nil)
      Seq("n1" -> 1L, "n2" -> 2L, "n3" -> 3L).foreach { case (tag, v) =>
        store.appendTagged(tag, Seq(("a", v), ("b", v)).toDF("k", "v")) }
      val before = this.get(port, "/store/pts")._2

      // guardrails first
      assert(this.get(port, "/compact?store=pts")._1 == 405)
      assert(post(port, "/compact", "")._1 == 400)
      assert(post(port, "/compact?store=nope", "")._1 == 404)
      assert(post(port, "/compact?store=pts&cluster=-1", "")._1 == 400)
      assert(post(port, "/vacuum?store=pts&retain=x", "")._1 == 400)
      graft.sources.RecipeStore(spark, s"$root/rcp").commit("t",
        graft.sources.Recipe(Seq("en" -> 1.0), 0.5, "s", 64L, 32L))
      val (kc, kb) = post(port, "/compact?store=rcp", "")
      assert(kc == 400 && kb.contains("not a point store"), kb)

      // compact folds the deltas; content and version identical, and
      // past versions stay readable (the horizon has not moved)
      val (cc, cb) = post(port, "/compact?store=pts", "")
      assert(cc == 200 && cb.contains("\"compacted\":true") &&
        cb.contains("\"deltas_folded\":3") && cb.contains("\"version\":3"), cb)
      assert(store.deltaCount == 0)
      assert(this.get(port, "/store/pts")._2 == before)
      assert(this.get(port, "/store/pts?version=1")._1 == 200)

      // vacuum reclaims and advances the horizon: the explicit
      // retention choice — past-version reads now refuse loudly
      val (vc, vb) = post(port, "/vacuum?store=pts", "")
      assert(vc == 200 && vb.contains("\"vacuumed\":true") &&
        vb.contains("\"vacuumed_through\":3"), vb)
      assert(this.get(port, "/store/pts")._2 == before)
      val (oc, ob) = this.get(port, "/store/pts?version=1")
      assert(oc == 400 && ob.contains("vacuumed"), ob)

      // a FOREIGN live writer refuses with the holder named (same-JVM
      // threads would queue on the reentrant lock instead — the
      // foreign-holder file is the cross-process case the 409 serves)
      val sfs = graft.sources.StoreFs(spark, s"$root/pts")
      sfs.atomicWrite(graft.sources.StoreFs.LeaseName,
        s"otherhost:1:live\n${System.currentTimeMillis()}".getBytes)
      val (hc, hb) = post(port, "/compact?store=pts", "")
      assert(hc == 409 && hb.contains("otherhost:1:live"), hb)
      assert(post(port, "/vacuum?store=pts", "")._1 == 409)
      sfs.breakWriterLease()
      assert(post(port, "/compact?store=pts", "")._1 == 200)
    } finally srv.stop()
  }

  test("POST /takedown/report purges a user roster from a wire-maintained " +
      "store: retained drops rewritten, report rebuilt in one flip, " +
      "forward exclusion on later ingests, exactly-once on the tag") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_wtkd").toString
    val srv = new QueryServer(spark, sf, storeRoot = Some(root))
    srv.start()
    try {
      val port = srv.boundPort
      // a small NON-SATURATED synthetic funnel (µs-grain timestamps):
      // u1 converts fully, u2 reaches click across the night boundary,
      // u3 only views — so every takedown effect is visible per step
      def ev(u: Long, t: String, id: Long, typ: String) =
        (u, java.sql.Timestamp.valueOf(t), id, typ)
      val night1 = Seq(
        ev(1, "2024-01-01 10:00:00.000001", 1, "view"),
        ev(1, "2024-01-01 10:01:00.000002", 2, "click"),
        ev(1, "2024-01-01 10:02:00.000003", 3, "purchase"),
        ev(2, "2024-01-01 11:00:00.000004", 4, "view"))
      val night2 = Seq(
        ev(2, "2024-01-02 09:00:00.000005", 5, "click"),
        ev(3, "2024-01-02 10:00:00.000006", 6, "view"))
      val cols = Seq("user_id", "ts", "event_id", "event_type")
      def jsonOf(rows: Seq[(Long, java.sql.Timestamp, Long, String)]): String =
        rows.toDF(cols: _*)
          .select(to_json(struct(col("user_id"), col("ts"),
              col("event_id"), col("event_type")),
            Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")))
          .as[String].collect().mkString("\n")
      def sentinel(day: Int) = jsonOf(Seq(
        ev(-1, f"2024-01-$day%02d 00:00:00.0", 0, "_watermark")))
      def funnelJson(rows: Seq[(Long, java.sql.Timestamp, Long, String)]): String =
        graft.operators.Windows
          .funnelOf(rows.toDF(cols: _*), graft.operators.Windows.FunnelSteps, None)
          .zip(graft.operators.Windows.FunnelSteps).zipWithIndex.map {
            case ((df, n), i) => df.agg(count(lit(1)).as("users"))
              .select(lit(i + 1).cast("int").as("step"),
                lit(n).as("step_name"), col("users")) }
          .reduce(_ unionByName _)
          .orderBy(col("step")).toJSON.collect().mkString("[", ",", "]")
      assert(post(port,
        "/ingest/report?store=wtd&tag=n1&type=funnel", jsonOf(night1))._1 == 200)
      val (cn2, bn2) = post(port,
        "/ingest/report?store=wtd&tag=n2&type=funnel", jsonOf(night2))
      assert(cn2 == 200, bn2)
      assert(post(port,
        "/ingest/report?store=wtd&tag=s1&type=funnel", sentinel(5))._1 == 200)
      assert(post(port,
        "/ingest/report?store=wtd&tag=s2&type=funnel", sentinel(7))._1 == 200)
      assert(this.get(port, "/funnel?store=wtd")._2 == funnelJson(night1 ++ night2))

      // ?version= time travel: night2's fold's version serves that
      // fold's report (the night-over-night dashboard diff) — served ≡
      // the library's snapshotAt render, and it genuinely differs from
      // live (u3's view was still inside the watermark tail)
      val vN2 = """"version":(\d+)""".r.findFirstMatchIn(bn2).get.group(1)
      val libN2 = graft.streaming.Maintained.funnelReportFrom(spark,
          graft.sources.PointStore.open(spark, s"$root/wtd")
            .snapshotAt(vN2.toLong))
        .orderBy(col("step")).toJSON.collect().mkString("[", ",", "]")
      val (vtc, vtb) = this.get(port, s"/funnel?store=wtd&version=$vN2")
      assert(vtc == 200 && vtb == libN2, vtb)
      assert(vtb != funnelJson(night1 ++ night2))
      assert(this.get(port, "/funnel?version=3")._1 == 400)
      assert(this.get(port, "/paths?version=3")._1 == 400)
      assert(this.get(port, "/retention?version=3")._1 == 400)
      assert(this.get(port, "/latency?version=3")._1 == 400)
      assert(this.get(port, "/funnel?store=wtd&version=abc")._1 == 400)
      assert(this.get(port, "/funnel?store=wtd&version=999999")._1 == 400)

      // guardrails: method, tag, body, unknown store
      assert(this.get(port, "/takedown/report?store=wtd&tag=r1")._1 == 405)
      assert(post(port, "/takedown/report?store=wtd",
        """{"user_id":2}""")._1 == 400)
      assert(post(port, "/takedown/report?store=wtd&tag=r1", "")._1 == 400)
      assert(post(port, "/takedown/report?store=wtd&tag=r1",
        """{"user_id":null}""")._1 == 400)
      assert(post(port, "/takedown/report?store=nope&tag=r1",
        """{"user_id":2}""")._1 == 404)

      // the takedown: u2's two events purge from the retained drops and
      // the served report re-derives as if u2 never existed
      val (tc, tb) = post(port, "/takedown/report?store=wtd&tag=r1",
        """{"user_id":2}""")
      assert(tc == 200 && tb.contains("\"committed\":true") &&
        tb.contains("\"rows_removed\":2"), tb)
      val survivors = (night1 ++ night2).filter(_._1 != 2L)
      assert(this.get(port, "/funnel?store=wtd")._2 == funnelJson(survivors))
      // the PURGE is physical: the store's whole on-disk footprint —
      // the retained drops included — holds none of u2's events
      assert(spark.read.parquet(s"$root/wtd/_stream/drops")
        .filter(col("user_id") === 2).count() == 0)
      // a redelivered request tag commits nothing
      val (rc, rb) = post(port, "/takedown/report?store=wtd&tag=r1",
        """{"user_id":2}""")
      assert(rc == 200 && rb.contains("\"committed\":false") &&
        rb.contains("\"rows_removed\":0"), rb)
      // the takedown's atomic flip advanced the vacuum horizon: time
      // travel cannot resurrect the purged user
      val (vc, vb) = this.get(port, s"/funnel?store=wtd&version=$vN2")
      assert(vc == 400 && vb.contains("vacuumed"), vb)

      // forward exclusion: a later drop mixing an opted-out user's event
      // with a fresh user's folds the fresh one and NEVER the roster's —
      // the filter is selective, not a dropped batch
      val late = Seq(
        ev(2, "2024-01-08 10:00:00.000007", 7, "view"),
        ev(4, "2024-01-08 11:00:00.000008", 8, "view"))
      assert(post(port,
        "/ingest/report?store=wtd&tag=late&type=funnel", jsonOf(late))._1 == 200)
      assert(post(port,
        "/ingest/report?store=wtd&tag=s3&type=funnel", sentinel(12))._1 == 200)
      assert(this.get(port, "/funnel?store=wtd")._2 ==
        funnelJson(survivors ++ late.filter(_._1 != 2L)))

      // a LIBRARY-maintained store (no ingest config) refuses: its
      // inputs live with the driving lifecycle, so the purge must too
      val lib = new graft.sources.PointStore(spark, s"$root/librep",
        keys = Seq("step"), sums = Seq("users"), maxes = Nil)
      lib.appendTagged("b0", Seq((1, 10L)).toDF("step", "users"))
      val (lc, lb) = post(port, "/takedown/report?store=librep&tag=r2",
        """{"user_id":2}""")
      assert(lc == 409 && lb.contains("library lifecycle"), lb)
    } finally srv.stop()
  }

  test("POST /takedown/report?defer=1 lands rosters for ONE later " +
      "&flush=1 settle, the health face names them, and a half-built " +
      "store describes itself instead of erroring") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_wdefer").toString
    val srv = new QueryServer(spark, sf, storeRoot = Some(root))
    srv.start()
    try {
      val port = srv.boundPort
      def ev(u: Long, t: String, id: Long, typ: String) =
        (u, java.sql.Timestamp.valueOf(t), id, typ)
      val cols = Seq("user_id", "ts", "event_id", "event_type")
      def jsonOf(rows: Seq[(Long, java.sql.Timestamp, Long, String)]): String =
        rows.toDF(cols: _*)
          .select(to_json(struct(col("user_id"), col("ts"),
              col("event_id"), col("event_type")),
            Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")))
          .as[String].collect().mkString("\n")
      assert(post(port, "/ingest/report?store=wdf&tag=n1&type=funnel",
        jsonOf(Seq(
          ev(1, "2024-01-01 10:00:00.000001", 1, "view"),
          ev(2, "2024-01-01 11:00:00.000002", 2, "view"))))._1 == 200)
      assert(post(port, "/ingest/report?store=wdf&tag=s1&type=funnel",
        jsonOf(Seq(ev(-1, "2024-01-05 00:00:00.0", 0, "_watermark"))))
        ._1 == 200)
      // malformed/conflicting verb flags refuse loudly
      assert(post(port, "/takedown/report?store=wdf&tag=d1&defer=maybe",
        """{"user_id":2}""")._1 == 400)
      assert(post(port, "/takedown/report?store=wdf&tag=d1&defer=1&flush=1",
        """{"user_id":2}""")._1 == 400)
      // the deferral: roster lands, nothing purges yet
      val (dc, db) = post(port, "/takedown/report?store=wdf&tag=d1&defer=1",
        """{"user_id":2}""")
      assert(dc == 200 && db.contains("\"committed\":true") &&
        db.contains("\"deferred\":true") &&
        db.contains("\"rows_removed\":0"), db)
      assert(spark.read.parquet(s"$root/wdf/_stream/drops")
        .filter(col("user_id") === 2).count() == 1) // erasure pending
      // the health face names the pending-purge roster — and a crash-
      // leftover .width.tmp must not inflate the landed-tag count
      java.nio.file.Files.createFile(java.nio.file.Paths.get(
        root, "wdf", "_stream", "landed", "ghost.width.tmp"))
      val (hc, hb) = this.get(port, "/health/report?store=wdf")
      assert(hc == 200 && hb.contains("\"takedowns_deferred\":[\"d1\"]") &&
        hb.contains("\"takedowns_committed\":0") &&
        hb.contains("\"landed_tags\":2"), hb)
      // ONE flush settles it: purge + single rebuild, roster graduates
      val (fc, fb) = post(port, "/takedown/report?store=wdf&tag=f1&flush=1", "")
      assert(fc == 200 && fb.contains("\"committed\":true") &&
        fb.contains("\"flushed\":[\"d1\"]") &&
        fb.contains("\"rows_removed\":1"), fb)
      assert(spark.read.parquet(s"$root/wdf/_stream/drops")
        .filter(col("user_id") === 2).count() == 0)
      val (h2c, h2b) = this.get(port, "/health/report?store=wdf")
      assert(h2c == 200 && h2b.contains("\"takedowns_deferred\":[]") &&
        h2b.contains("\"takedowns_committed\":2"), h2b) // d1 + f1
      // redelivered flush commits nothing; an empty flush no-ops
      assert(post(port, "/takedown/report?store=wdf&tag=f1&flush=1", "")
        ._2.contains("\"committed\":false"))
      assert(post(port, "/takedown/report?store=wdf&tag=f2&flush=1", "")
        ._2.contains("\"committed\":false"))
      // a store whose CONFIG pinned but whose first fold never
      // committed (first-ingest crash) is a describable degraded
      // state: 200 with zero rows/version, never a 400 that leaks the
      // server's filesystem path
      val half = new java.io.File(root, "half/_stream"); half.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(half, "CONFIG").toPath, "type=funnel".getBytes)
      val (uc, ub) = this.get(port, "/health/report?store=half")
      assert(uc == 200 && ub.contains("\"rows\":0") &&
        ub.contains("\"version\":0") && !ub.contains(root), ub)
    } finally srv.stop()
  }

  test("the segmented funnel over the wire: type=funnel_segmented " +
      "ingests seg-carrying rows, /funnel?store= serves the per-segment " +
      "rows plus the read-time all member, and null/unknown seg refuse") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_wsegf").toString
    val srv = new QueryServer(spark, sf, storeRoot = Some(root))
    srv.start()
    try {
      val port = srv.boundPort
      def ev(u: Long, t: String, id: Long, typ: String, g: String) =
        (u, java.sql.Timestamp.valueOf(t), id, typ, g)
      val cols = Seq("user_id", "ts", "event_id", "event_type", "seg")
      def jsonOf(rows: Seq[(Long, java.sql.Timestamp, Long, String, String)]) =
        rows.toDF(cols: _*)
          .select(to_json(struct(col("user_id"), col("ts"),
              col("event_id"), col("event_type"), col("seg")),
            Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")))
          .as[String].collect().mkString("\n")
      assert(post(port, "/ingest/report?store=wsg&tag=n1&type=funnel_segmented",
        jsonOf(Seq(
          ev(1, "2024-01-01 08:00:00.0", 1, "view", "A"),
          ev(1, "2024-01-01 08:01:00.0", 2, "click", "A"),
          ev(2, "2024-01-01 10:00:00.0", 3, "view", "B"),
          ev(3, "2024-01-01 11:00:00.0", 4, "view", "B"))))._1 == 200)
      assert(post(port, "/ingest/report?store=wsg&tag=s1&type=funnel_segmented",
        jsonOf(Seq(ev(-1, "2024-01-05 00:00:00.0", 0, "_watermark", ""))))
        ._1 == 200)
      val (rc, rb) = this.get(port, "/funnel?store=wsg")
      assert(rc == 200 && rb ==
        """[{"segment":"A","step":1,"step_name":"view","users":1},""" +
        """{"segment":"B","step":1,"step_name":"view","users":2},""" +
        """{"segment":"all","step":1,"step_name":"view","users":3},""" +
        """{"segment":"A","step":2,"step_name":"click","users":1},""" +
        """{"segment":"all","step":2,"step_name":"click","users":1}]""", rb)
      // a non-sentinel row with a null seg refuses (it would fold
      // under a null store key)
      val (nc, nb) = post(port,
        "/ingest/report?store=wsg&tag=n2&type=funnel_segmented",
        """{"user_id":9,"ts":"2024-01-06T00:00:00.000000Z","event_id":9,"event_type":"view"}""")
      assert(nc == 400 && nb.contains("non-null seg"), s"$nc $nb")
      // ...and a seg field on a PLAIN funnel store is an unknown field
      assert(post(port, "/ingest/report?store=wplain&tag=n1&type=funnel",
        """{"user_id":1,"ts":"2024-01-01T08:00:00.000000Z","event_id":1,"event_type":"view","seg":"A"}""")
        ._1 == 400)
      // the health face echoes the segmented materialization's config
      assert(this.get(port, "/health/report?store=wsg")._2
        .contains("\"config\":\"type=funnel_segmented\""))

      // the segmented RETENTION and PATHS stores serve their shapes
      // the same way (dispatch on the store's own seg column)
      assert(post(port,
        "/ingest/report?store=wsr&tag=n1&type=retention_segmented&period=day",
        jsonOf(Seq(
          ev(1, "2024-01-01 08:00:00.0", 1, "view", "A"),
          ev(1, "2024-01-02 08:00:00.0", 2, "view", "A"),
          ev(2, "2024-01-01 09:00:00.0", 3, "view", "B"))))._1 == 200)
      assert(post(port,
        "/ingest/report?store=wsr&tag=s1&type=retention_segmented&period=day",
        jsonOf(Seq(ev(-1, "2024-01-09 00:00:00.0", 0, "_watermark", ""))))
        ._1 == 200)
      val (rrc, rrb) = this.get(port, "/retention?store=wsr")
      assert(rrc == 200 && rrb ==
        """[{"segment":"A","cohort":"2024-01-01 00:00:00","offset":0,"users":1},""" +
        """{"segment":"B","cohort":"2024-01-01 00:00:00","offset":0,"users":1},""" +
        """{"segment":"all","cohort":"2024-01-01 00:00:00","offset":0,"users":2},""" +
        """{"segment":"A","cohort":"2024-01-01 00:00:00","offset":1,"users":1},""" +
        """{"segment":"all","cohort":"2024-01-01 00:00:00","offset":1,"users":1}]""",
        rrb)
      assert(post(port,
        "/ingest/report?store=wsp&tag=n1&type=paths_segmented",
        jsonOf(Seq(
          ev(1, "2024-01-01 08:00:00.0", 1, "view", "A"),
          ev(1, "2024-01-01 08:01:00.0", 2, "click", "A"),
          ev(2, "2024-01-01 09:00:00.0", 3, "view", "B"),
          ev(2, "2024-01-01 09:01:00.0", 4, "click", "B"))))._1 == 200)
      assert(post(port,
        "/ingest/report?store=wsp&tag=s1&type=paths_segmented",
        jsonOf(Seq(ev(-1, "2024-01-09 00:00:00.0", 0, "_watermark", ""))))
        ._1 == 200)
      val (ppc, ppb) = this.get(port, "/paths?store=wsp")
      assert(ppc == 200 && ppb ==
        """[{"segment":"A","from_step":"view","to_step":"click","n":1},""" +
        """{"segment":"B","from_step":"view","to_step":"click","n":1},""" +
        """{"segment":"all","from_step":"view","to_step":"click","n":2}]""",
        ppb)

      // the segmented DEEPEST funnel over the wire: same seg-carrying
      // shape, anchored window required; user 1's ENTRY view carries A
      // while only the later seg-B anchor converts — the served rows
      // must report A at every depth (the defining-moment rule, served)
      assert(post(port,
        "/ingest/report?store=wsd&tag=n1&type=funnel_deepest_segmented&window=1h",
        jsonOf(Seq(
          ev(1, "2024-01-01 08:00:00.0", 1, "view", "A"),
          ev(1, "2024-01-01 09:30:00.0", 2, "view", "B"),
          ev(1, "2024-01-01 09:45:00.0", 3, "click", "B"),
          ev(1, "2024-01-01 09:50:00.0", 4, "purchase", "B"),
          ev(2, "2024-01-01 10:00:00.0", 5, "view", "B"))))._1 == 200)
      assert(post(port,
        "/ingest/report?store=wsd&tag=s1&type=funnel_deepest_segmented&window=1h",
        jsonOf(Seq(ev(-1, "2024-01-05 00:00:00.0", 0, "_watermark", ""))))
        ._1 == 200)
      val (dc, db) = this.get(port, "/funnel?store=wsd")
      assert(dc == 200 && db ==
        """[{"segment":"A","step":1,"step_name":"view","users":1},""" +
        """{"segment":"B","step":1,"step_name":"view","users":1},""" +
        """{"segment":"all","step":1,"step_name":"view","users":2},""" +
        """{"segment":"A","step":2,"step_name":"click","users":1},""" +
        """{"segment":"all","step":2,"step_name":"click","users":1},""" +
        """{"segment":"A","step":3,"step_name":"purchase","users":1},""" +
        """{"segment":"all","step":3,"step_name":"purchase","users":1}]""",
        db)
      // anchored: the type refuses to pin without a window
      assert(post(port,
        "/ingest/report?store=wsd2&tag=n1&type=funnel_deepest_segmented",
        jsonOf(Seq(ev(1, "2024-01-01 08:00:00.0", 1, "view", "A"))))
        ._1 == 400)

      // the TWO-AXIS segmented funnel over the wire (r20):
      // type=funnel_segmented2 ingests (seg, seg2)-carrying rows, the
      // store keys on the pair, and /funnel?store= serves the 2^2
      // read-time rollup — per-pair rows plus "all" on EACH axis
      def ev2(u: Long, t: String, id: Long, typ: String, g: String,
              g2: String) = (u, java.sql.Timestamp.valueOf(t), id, typ, g, g2)
      def jsonOf2(rows: Seq[(Long, java.sql.Timestamp, Long, String,
          String, String)]) =
        rows.toDF("user_id", "ts", "event_id", "event_type", "seg", "seg2")
          .select(to_json(struct(col("user_id"), col("ts"),
              col("event_id"), col("event_type"), col("seg"), col("seg2")),
            Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")))
          .as[String].collect().mkString("\n")
      assert(post(port, "/ingest/report?store=ws2&tag=n1&type=funnel_segmented2",
        jsonOf2(Seq(
          ev2(1, "2024-01-01 08:00:00.0", 1, "view", "A", "N1"),
          ev2(1, "2024-01-01 08:01:00.0", 2, "click", "A", "N1"),
          ev2(2, "2024-01-01 10:00:00.0", 3, "view", "A", "N2"),
          ev2(3, "2024-01-01 11:00:00.0", 4, "view", "B", "N1"))))._1 == 200)
      assert(post(port, "/ingest/report?store=ws2&tag=s1&type=funnel_segmented2",
        jsonOf2(Seq(ev2(-1, "2024-01-05 00:00:00.0", 0, "_watermark", "", ""))))
        ._1 == 200)
      val (c2, b2) = this.get(port, "/funnel?store=ws2")
      assert(c2 == 200 && b2 ==
        """[{"segment":"A","segment2":"N1","step":1,"step_name":"view","users":1},""" +
        """{"segment":"A","segment2":"N2","step":1,"step_name":"view","users":1},""" +
        """{"segment":"A","segment2":"all","step":1,"step_name":"view","users":2},""" +
        """{"segment":"B","segment2":"N1","step":1,"step_name":"view","users":1},""" +
        """{"segment":"B","segment2":"all","step":1,"step_name":"view","users":1},""" +
        """{"segment":"all","segment2":"N1","step":1,"step_name":"view","users":2},""" +
        """{"segment":"all","segment2":"N2","step":1,"step_name":"view","users":1},""" +
        """{"segment":"all","segment2":"all","step":1,"step_name":"view","users":3},""" +
        """{"segment":"A","segment2":"N1","step":2,"step_name":"click","users":1},""" +
        """{"segment":"A","segment2":"all","step":2,"step_name":"click","users":1},""" +
        """{"segment":"all","segment2":"N1","step":2,"step_name":"click","users":1},""" +
        """{"segment":"all","segment2":"all","step":2,"step_name":"click","users":1}]""",
        b2)
      // a null seg2 on a non-sentinel row refuses, naming BOTH axes
      val (n2c, n2b) = post(port,
        "/ingest/report?store=ws2&tag=n2&type=funnel_segmented2",
        """{"user_id":9,"ts":"2024-01-06T00:00:00.000000Z","event_id":9,"event_type":"view","seg":"A"}""")
      assert(n2c == 400 && n2b.contains("seg/seg2"), s"$n2c $n2b")
      // ...and seg2 on a SINGLE-axis store is an unknown field
      assert(post(port, "/ingest/report?store=wsg&tag=n9&type=funnel_segmented",
        jsonOf2(Seq(ev2(1, "2024-01-06 08:00:00.0", 9, "view", "A", "N1"))))
        ._1 == 400)

      // the two-axis RETENTION store serves its 2^2 shape the same way
      // (dispatch on the store's seg2 column; paths/latency share the
      // dispatch code path and their lifecycles carry the oracles)
      assert(post(port,
        "/ingest/report?store=wr2&tag=n1&type=retention_segmented2&period=day",
        jsonOf2(Seq(
          ev2(1, "2024-01-01 08:00:00.0", 1, "view", "A", "N1"),
          ev2(1, "2024-01-02 08:00:00.0", 2, "view", "A", "N1"),
          ev2(2, "2024-01-01 09:00:00.0", 3, "view", "A", "N2"))))._1 == 200)
      assert(post(port,
        "/ingest/report?store=wr2&tag=s1&type=retention_segmented2&period=day",
        jsonOf2(Seq(ev2(-1, "2024-01-09 00:00:00.0", 0, "_watermark", "", ""))))
        ._1 == 200)
      val (r2c, r2b) = this.get(port, "/retention?store=wr2")
      assert(r2c == 200 && r2b ==
        """[{"segment":"A","segment2":"N1","cohort":"2024-01-01 00:00:00","offset":0,"users":1},""" +
        """{"segment":"A","segment2":"N2","cohort":"2024-01-01 00:00:00","offset":0,"users":1},""" +
        """{"segment":"A","segment2":"all","cohort":"2024-01-01 00:00:00","offset":0,"users":2},""" +
        """{"segment":"all","segment2":"N1","cohort":"2024-01-01 00:00:00","offset":0,"users":1},""" +
        """{"segment":"all","segment2":"N2","cohort":"2024-01-01 00:00:00","offset":0,"users":1},""" +
        """{"segment":"all","segment2":"all","cohort":"2024-01-01 00:00:00","offset":0,"users":2},""" +
        """{"segment":"A","segment2":"N1","cohort":"2024-01-01 00:00:00","offset":1,"users":1},""" +
        """{"segment":"A","segment2":"all","cohort":"2024-01-01 00:00:00","offset":1,"users":1},""" +
        """{"segment":"all","segment2":"N1","cohort":"2024-01-01 00:00:00","offset":1,"users":1},""" +
        """{"segment":"all","segment2":"all","cohort":"2024-01-01 00:00:00","offset":1,"users":1}]""",
        r2b)

      // the segmented LATENCY store: lat_us rides the segmented twin's
      // reaches, the store folds (seg, hop) sketches, and the read's
      // "all" member MERGES them — the served read must equal the
      // batch segmented latency operator over the same events
      val latEvs = Seq(
        ev(1, "2024-01-01 08:00:00.0", 1, "view", "A"),
        ev(1, "2024-01-01 08:01:00.0", 2, "click", "A"),
        ev(2, "2024-01-01 09:00:00.0", 3, "view", "B"),
        ev(2, "2024-01-01 09:02:00.0", 4, "click", "B"))
      assert(post(port,
        "/ingest/report?store=wsl&tag=n1&type=latency_segmented",
        jsonOf(latEvs))._1 == 200)
      assert(post(port,
        "/ingest/report?store=wsl&tag=s1&type=latency_segmented",
        jsonOf(Seq(ev(-1, "2024-01-05 00:00:00.0", 0, "_watermark", ""))))
        ._1 == 200)
      val (slc, slb) = this.get(port, "/latency?store=wsl")
      val slBatch = graft.operators.Windows.funnelLatencySegmentedOf(
          latEvs.toDF(cols: _*).select(col("user_id"), col("ts"),
            col("event_type"), col("seg")))
        .orderBy(col("hop"), col("segment"))
        .toJSON.collect().mkString("[", ",", "]")
      assert(slc == 200 && slb == slBatch, s"served=$slb\nbatch=$slBatch")
    } finally srv.stop()
  }

  test("&wait= is uniform across the served writes: a live foreign " +
      "holder bounds the poll before the 409, malformed values 400, " +
      "and a lease conflict is never an anonymous 500") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_wwait").toString
    val srv = new QueryServer(spark, sf, storeRoot = Some(root))
    srv.start()
    try {
      val port = srv.boundPort
      val store = new graft.sources.PointStore(spark, s"$root/wp",
        keys = Seq("k"), sums = Seq("n"), maxes = Nil)
      store.appendTagged("b0", Seq(("a", 1L)).toDF("k", "n"))
      // a live foreign writer holds the store (the lease FILE, never a
      // same-JVM hold — that would deadlock the serving thread)
      val sfs = graft.sources.StoreFs(spark, s"$root/wp")
      sfs.atomicWrite(graft.sources.StoreFs.LeaseName,
        s"otherhost:7:live\n${System.currentTimeMillis()}".getBytes)
      // without wait: immediate 409 naming the holder (never a 500)
      val (c0, b0) = post(port, "/ingest/point?store=wp&tag=t1",
        """{"k":"b","n":2}""")
      assert(c0 == 409 && b0.contains("otherhost:7:live"), s"$c0 $b0")
      // with wait: the 409 arrives only after the bound
      val t0 = System.nanoTime()
      val (c1, b1) = post(port, "/ingest/point?store=wp&tag=t1&wait=1200ms",
        """{"k":"b","n":2}""")
      val waited = (System.nanoTime() - t0) / 1000000L
      assert(c1 == 409 && b1.contains("otherhost:7:live"), s"$c1 $b1")
      assert(waited >= 1100L, s"bounded wait not honored: $waited ms")
      sfs.breakWriterLease()
      // released: the same call with wait commits
      assert(post(port, "/ingest/point?store=wp&tag=t1&wait=1200ms",
        """{"k":"b","n":2}""")._2.contains("\"committed\":true"))
      // malformed wait refuses on every face that takes it
      assert(post(port, "/ingest/point?store=wp&tag=t2&wait=soon",
        """{"k":"c","n":3}""")._1 == 400)
      assert(post(port, "/takedown/report?store=wp&tag=r1&wait=soon",
        """{"user_id":1}""")._1 == 400)
    } finally srv.stop()
  }
}
