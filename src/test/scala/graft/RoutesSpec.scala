package graft

import graft.server.QueryServer
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** The query server's request guards, one table row per case: every route
  * answers a wrong method, a missing required param, a `..` name and a
  * server started without the root it needs with a pinned status and a
  * JSON object carrying `"error"`. */
class RoutesSpec extends SparkSpec {

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Status and body, or the transport failure when the server closed the
    * connection without answering. */
  private def call(port: Int, method: String, path: String,
                   body: String = ""): Either[String, (Int, String)] =
    try {
      val rsp = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
          .method(method, HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      Right((rsp.statusCode(), rsp.body()))
    } catch { case e: java.io.IOException => Left(e.toString) }

  private def errorObject(body: String): Boolean =
    scala.util.Try(json.readTree(body))
      .toOption.exists(n => n.isObject && n.has("error"))

  /** Every mismatch among (method, path, expected status) rows. */
  private def mismatches(port: Int,
                         rows: Seq[(String, String, Int)]): Seq[String] =
    rows.flatMap { case (m, p, want) =>
      call(port, m, p) match {
        case Left(err) => Some(s"$m $p: no answer ($err)")
        case Right((got, body)) if got != want || !errorObject(body) =>
          Some(s"$m $p: want $want with an error object, got $got $body")
        case _ => None
      }
    }

  private def withServer[T](roots: Boolean)(f: (Int, String) => T): T = {
    val root = java.nio.file.Files.createTempDirectory("graft_routes").toString
    new java.io.File(root, "stores").mkdirs()
    new java.io.File(root, "indexes").mkdirs()
    val srv =
      if (roots) new QueryServer(spark, sf,
        storeRoot = Some(s"$root/stores"), indexRoot = Some(s"$root/indexes"))
      else new QueryServer(spark, sf)
    srv.start()
    try f(srv.boundPort, root) finally srv.stop()
  }

  // routes that take ?store= or ?index= under a root: (path, method, name
  // param, further required params)
  private val named = Seq(
    ("/version", "GET", "store", Nil),
    ("/profile", "GET", "store", Nil),
    ("/drift", "GET", "store", Seq("from")),
    ("/poll/drift", "POST", "store", Seq("mirror")),
    ("/probe/perplexity", "POST", "store", Nil),
    ("/probe/dedup", "POST", "index", Nil),
    ("/health/curate", "GET", "store", Nil),
    ("/probe/ann", "POST", "index", Nil),
    ("/probe/curate", "POST", "store", Nil),
    ("/ingest/curate", "POST", "store", Seq("tag")),
    ("/health/ann", "GET", "index", Nil),
    ("/health/report", "GET", "store", Nil),
    ("/rebalance", "POST", "index", Nil),
    ("/ingest/ann", "POST", "index", Seq("tag")),
    ("/ingest/dedup", "POST", "index", Seq("tag")),
    ("/ingest/point", "POST", "store", Seq("tag")),
    ("/ingest/report", "POST", "store", Seq("tag")),
    ("/takedown/curate", "POST", "store", Seq("tag")),
    ("/takedown/ann", "POST", "index", Seq("tag")),
    ("/takedown/dedup", "POST", "index", Seq("tag")),
    ("/takedown/report", "POST", "store", Seq("tag")))

  // routes whose method is guarded, and the method each refuses
  private val guarded = Map(
    "/poll/drift" -> "GET", "/probe/perplexity" -> "GET",
    "/probe/dedup" -> "GET", "/probe/ann" -> "GET", "/probe/curate" -> "GET",
    "/ingest/curate" -> "GET", "/health/ann" -> "POST",
    "/health/report" -> "POST", "/rebalance" -> "GET", "/ingest/ann" -> "GET",
    "/ingest/dedup" -> "GET", "/ingest/point" -> "GET",
    "/ingest/report" -> "GET", "/takedown/curate" -> "GET",
    "/takedown/ann" -> "GET", "/takedown/dedup" -> "GET",
    "/takedown/report" -> "GET", "/backup" -> "GET", "/compact" -> "GET",
    "/vacuum" -> "GET")

  private def query(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"$k=$v" }.mkString("?", "&", "")

  test("every route's guards answer a pinned status with a JSON error") {
    val noRoot = withServer(roots = false) { (port, _) =>
      mismatches(port, named.map { case (p, m, key, more) =>
        (m, p + query((key -> "x") +: more.map(_ -> "x")), 404)
      } ++ Seq(
        // the store= faces of the analytics reads
        ("GET", "/funnel?store=x", 404), ("GET", "/paths?store=x", 404),
        ("GET", "/retention?store=x", 404), ("GET", "/latency?store=x", 404),
        ("GET", "/store/x", 404),
        // routes that look a name up under either root
        ("POST", "/backup?store=x&dest=y", 404),
        ("POST", "/compact?store=x", 404), ("POST", "/vacuum?store=x", 404),
        ("GET", "/recipe?store=x", 404),
        ("POST", "/recipe?store=x&tag=t", 403),
        ("GET", "/assemble?recipe=x", 400)))
    }
    val withRoots = withServer(roots = true) { (port, _) =>
      mismatches(port, named.flatMap { case (p, m, key, more) =>
        val all = (key -> "x") +: more.map(_ -> "x")
        // each required param missing in turn, then a `..` name
        all.indices.map(i => (m, p + query(all.patch(i, Nil, 1)), 400)) :+
          ((m, p + query((key -> "..") +: more.map(_ -> "x")), 403))
      } ++ guarded.toSeq.map { case (p, m) => (m, p + "?store=x&index=x", 405) } ++
        Seq(
          ("POST", "/poll/drift?store=x&mirror=..", 403),
          ("GET", "/funnel?store=..", 403), ("GET", "/paths?store=..", 403),
          ("GET", "/retention?store=..", 403),
          ("GET", "/latency?store=..", 403),
          ("GET", "/store/..", 403), ("GET", "/store/", 403),
          ("POST", "/backup?dest=y", 400), ("POST", "/backup?store=x", 400),
          ("POST", "/backup?store=..&dest=y", 400),
          ("POST", "/backup?store=x&dest=..", 400),
          ("POST", "/compact", 400), ("POST", "/compact?store=..", 400),
          ("POST", "/vacuum", 400), ("POST", "/vacuum?store=..", 400),
          ("GET", "/recipe", 400), ("GET", "/recipe?store=..", 400),
          ("POST", "/recipe?store=x", 400),
          ("PUT", "/recipe?store=x", 405),
          ("GET", "/assemble?recipe=..", 400),
          ("GET", "/query/nope", 404), ("GET", "/explain/nope", 404),
          ("GET", "/query/crunch_phases?sf=/etc", 403),
          ("GET", "/explain/crunch_phases?sf=/etc", 403),
          ("GET", "/funnel?sf=/etc", 403), ("GET", "/window?sf=/etc", 403),
          // typed params: one bad integer per route that reads it
          ("GET", "/query/crunch_phases?limit=abc", 400),
          ("GET", "/store/x?limit=abc", 400),
          ("GET", "/store/x?version=abc", 400),
          ("GET", "/funnel?limit=abc", 400), ("GET", "/window?limit=abc", 400),
          ("GET", "/profile?store=x&version=abc", 400),
          ("GET", "/drift?store=x&from=abc", 400),
          ("POST", "/compact?store=x&cluster=abc", 400),
          ("POST", "/vacuum?store=x&retain=-1", 400)))
    }
    val bad = noRoot ++ withRoots
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("every request gets an answer: a malformed query string is a 400, " +
      "an unreadable store a 500, both with a JSON error") {
    withServer(roots = true) { (port, root) =>
      // _MANIFEST a directory, and a manifest whose change log is corrupt
      new java.io.File(s"$root/stores/dirman/_MANIFEST").mkdirs()
      val badLog = new java.io.File(s"$root/stores/badlog")
      badLog.mkdirs()
      java.nio.file.Files.write(new java.io.File(badLog, "_MANIFEST").toPath,
        "base\n#log:x:base\n".getBytes("UTF-8"))
      val bad = mismatches(port, Seq(
        ("GET", "/version?store=%25zz", 400),
        ("GET", "/store/x?limit=%25zz", 400),
        ("POST", "/ingest/point?store=x&tag=%25zz", 400),
        ("POST", "/compact?store=%25zz", 400),
        ("GET", "/version?store=dirman", 500),
        ("GET", "/version?store=badlog", 500)))
      assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
    }
  }

  test("strings echoed into JSON are escaped: quotes in a path name and a " +
      "control character in a recipe tag still give valid JSON") {
    withServer(roots = true) { (port, _) =>
      val echoed = Seq("/query/%22", "/explain/%22", "/query/%09").flatMap { p =>
        call(port, "GET", p) match {
          case Right((404, b)) if errorObject(b) && b.contains("unknown query") =>
            None
          case other => Some(s"GET $p: $other")
        }
      }
      // a recipe tag obeys the served-tag charset: a tab is refused with
      // a JSON error and commits nothing
      val posted = call(port, "POST", "/recipe?store=r&tag=a%09b")
      val read = call(port, "GET", "/recipe?store=r") match {
        case Right((404, body)) if errorObject(body) => None
        case other => Some(s"GET /recipe after a refused tab tag: $other")
      }
      val bad = echoed ++ read
      assert(posted.exists { case (c, b) => c == 400 && errorObject(b) }, posted)
      assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
    }
  }

  test("error replies name the store, never the server's filesystem path") {
    withServer(roots = true) { (port, root) =>
      val canonical = new java.io.File(root).getCanonicalPath
      assert(call(port, "POST", "/recipe?store=r&tag=t1").exists(_._1 == 200))
      new java.io.File(s"$root/stores/taken").mkdirs()
      val leaks = Seq(("GET", "/store/missing", 404),
          ("GET", "/recipe?store=r&version=9", 400),
          ("POST", "/backup?store=r&dest=taken", 400)).flatMap {
        case (m, p, want) => call(port, m, p) match {
          case Right((`want`, body)) if errorObject(body) &&
              !body.contains(root) && !body.contains(canonical) => None
          case other => Some(s"$m $p: want $want without the root, got $other")
        }
      }
      assert(leaks.isEmpty, leaks.mkString("\n", "\n", ""))
    }
  }
}
