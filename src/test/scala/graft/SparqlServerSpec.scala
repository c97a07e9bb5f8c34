package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import graft.server.SparqlServer

/** SPARQL 1.1 Protocol + Graph Store Protocol endpoint (SURVEY §2.1 /
  * §3.2: the reference's `serve` surface) — loopback round-trips with
  * the JDK HttpClient against a live server over a sample store.
  */
class SparqlServerSpec extends AnyFunSuite {
  import TestSpark._

  private def enc(s: String) =
    java.net.URLEncoder.encode(s, UTF_8)

  private lazy val server: SparqlServer = {
    val d = Files.createTempDirectory("srv")
    val nt = d.resolve("data.nt")
    Files.writeString(nt,
      """<http://x/a> <http://x/p> <http://x/b> .
        |<http://x/a> <http://x/name> "alpha" .
        |<http://x/b> <http://x/name> "beta" .
        |""".stripMargin)
    new SparqlServer(GraftStore.fromFile(spark, nt.toString, "nt")).start()
  }
  private lazy val client = HttpClient.newHttpClient()

  private def get(path: String, accept: String = ""): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(server.uri(path))).GET()
    client.send(
      (if (accept.nonEmpty) b.header("Accept", accept) else b).build(),
      BodyHandlers.ofString())
  }
  private def send(req: HttpRequest): HttpResponse[String] =
    client.send(req, BodyHandlers.ofString())

  test("GET /query: SELECT negotiates JSON (default) and TSV") {
    val q = "SELECT ?n WHERE { <http://x/a> <http://x/name> ?n }"
    val json = get(s"/query?query=${enc(q)}")
    assert(json.statusCode() == 200)
    assert(json.headers().firstValue("Content-Type").get
      .contains("sparql-results+json"))
    assert(json.body().contains("\"alpha\"") && json.body().contains("\"n\""))
    val tsv = get(s"/query?query=${enc(q)}", "text/tab-separated-values")
    assert(tsv.body().startsWith("?n") && tsv.body().contains("\"alpha\""))
  }

  test("POST /query with application/sparql-query body; ASK boolean") {
    val req = HttpRequest.newBuilder(URI.create(server.uri("/query")))
      .header("Content-Type", "application/sparql-query")
      .POST(BodyPublishers.ofString(
        "ASK { <http://x/a> <http://x/p> <http://x/b> }")).build()
    val r = send(req)
    assert(r.statusCode() == 200 && r.body().contains("\"boolean\":true"),
      r.body())
  }

  test("CONSTRUCT serves N-Triples") {
    val q = "CONSTRUCT { ?s <http://x/q> ?n } WHERE { ?s <http://x/name> ?n }"
    val r = get(s"/query?query=${enc(q)}")
    assert(r.headers().firstValue("Content-Type").get
      .contains("n-triples"))
    assert(r.body().contains(
      "<http://x/a> <http://x/q> \"alpha\" ."))
  }

  test("POST /update mutates the served store (urlencoded form)") {
    val upd = "INSERT DATA { <http://x/c> <http://x/name> \"gamma\" }"
    val req = HttpRequest.newBuilder(URI.create(server.uri("/update")))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(BodyPublishers.ofString(s"update=${enc(upd)}")).build()
    assert(send(req).statusCode() == 204)
    val r = get(s"/query?query=${enc(
      "SELECT ?n WHERE { <http://x/c> <http://x/name> ?n }")}")
    assert(r.body().contains("gamma"))
  }

  test("query error returns 400, not a hung response") {
    assert(get(s"/query?query=${enc("SELECT WHERE {")}").statusCode() == 400)
  }

  test("directional literals ride the protocol: JSON dir, XML its:dir, " +
      "update round-trip") {
    val upd = """INSERT DATA { <http://x/d> <http://x/lbl> "نص"@ar--rtl }"""
    val req = HttpRequest.newBuilder(URI.create(server.uri("/update")))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(BodyPublishers.ofString(s"update=${enc(upd)}")).build()
    assert(send(req).statusCode() == 204)
    val q = "SELECT ?l WHERE { <http://x/d> <http://x/lbl> ?l }"
    val json = get(s"/query?query=${enc(q)}")
    assert(json.body().contains(""""xml:lang":"ar","dir":"rtl""""),
      json.body())
    val xml = get(s"/query?query=${enc(q)}",
      "application/sparql-results+xml")
    assert(xml.body().contains("""its:dir="rtl""""), xml.body())
    val tsv = get(s"/query?query=${enc(q)}", "text/tab-separated-values")
    assert(tsv.body().contains("@ar--rtl"), tsv.body())
    // wave 28: dirLang nested INSIDE a quoted triple through the
    // protocol TSV path — the 1.2 edition (version=1.2 media-type
    // parameter) re-renders the term as <<( … )>>, keeping the
    // directional tag; plain TSV keeps the CG << >> lex
    val updQ = """INSERT DATA {
      <http://x/r2> <http://x/says> << <http://x/d> <http://x/lbl> "نص"@ar--rtl >> }"""
    val reqQ = HttpRequest.newBuilder(URI.create(server.uri("/update")))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(BodyPublishers.ofString(s"update=${enc(updQ)}")).build()
    assert(send(reqQ).statusCode() == 204)
    val q2 = "SELECT ?t WHERE { <http://x/r2> <http://x/says> ?t }"
    val tsvCg = get(s"/query?query=${enc(q2)}", "text/tab-separated-values")
    assert(tsvCg.body().contains("<<") && !tsvCg.body().contains("<<(") &&
      tsvCg.body().contains("@ar--rtl"), tsvCg.body())
    val tsv12 = get(s"/query?query=${enc(q2)}",
      "text/tab-separated-values;version=1.2")
    assert(tsv12.body().contains("<<(") && tsv12.body().contains(")>>") &&
      tsv12.body().contains("@ar--rtl"), tsv12.body())
    // LANGDIR filters work over protocol-inserted data
    val f = get(s"/query?query=${enc(
      "SELECT ?l WHERE { ?s <http://x/lbl> ?l FILTER(LANGDIR(?l) = \"rtl\") }")}")
    assert(f.body().contains("dir"), f.body())
  }

  test("bare GET /query returns the service description graph") {
    val nt = get("/query")
    assert(nt.statusCode() == 200)
    assert(nt.headers().firstValue("Content-Type").get
      .contains("n-triples"))
    assert(nt.body().contains(
      "http://www.w3.org/ns/sparql-service-description#Service"))
    assert(nt.body().contains("#endpoint"))
    assert(nt.body().contains("SPARQL_Results_JSON"))
    // negotiates like any graph document and parses back
    val ttl = get("/query", "text/turtle")
    assert(ttl.headers().firstValue("Content-Type").get
      .contains("text/turtle"))
    val d = Files.createTempDirectory("sd")
    val f = d.resolve("sd.ttl")
    Files.writeString(f, ttl.body())
    assert(graft.io.RdfIO.read(spark, f.toString, "ttl").count() >= 10)
    // POST without a query is still a client error
    val post = HttpRequest.newBuilder(URI.create(server.uri("/query")))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(BodyPublishers.ofString("")).build()
    assert(send(post).statusCode() == 400)
  }

  test("update protocol dataset: using-graph-uri scopes the WHERE match") {
    // seed a named graph through GSP
    val g = enc("http://x/gusing")
    val put = HttpRequest.newBuilder(
      URI.create(server.uri(s"/store?graph=$g")))
      .header("Content-Type", "application/n-triples")
      .method("PUT", BodyPublishers.ofString(
        "<http://x/u1> <http://x/up> \"uv\" .\n")).build()
    assert(send(put).statusCode() == 204)
    // INSERT ... WHERE matches against the protocol dataset (the named
    // graph promoted to the WHERE default graph), writes to the store
    val upd = "INSERT { ?s <http://x/copied> ?o } " +
      "WHERE { ?s <http://x/up> ?o }"
    val req = HttpRequest.newBuilder(URI.create(server.uri(
      s"/update?using-graph-uri=${enc("http://x/gusing")}")))
      .header("Content-Type", "application/sparql-update")
      .POST(BodyPublishers.ofString(upd)).build()
    assert(send(req).statusCode() == 204)
    val r = get(s"/query?query=${enc(
      "SELECT ?o WHERE { <http://x/u1> <http://x/copied> ?o }")}")
    assert(r.body().contains("uv"), r.body())
    // combining the parameter with textual USING — or WITH — is a
    // protocol error (§2.2.3 lists USING, USING NAMED, and WITH)
    val conflicted = HttpRequest.newBuilder(URI.create(server.uri(
      s"/update?using-graph-uri=${enc("http://x/gusing")}")))
      .header("Content-Type", "application/sparql-update")
      .POST(BodyPublishers.ofString(
        "INSERT { ?s <http://x/c2> ?o } USING <http://x/gusing> " +
          "WHERE { ?s <http://x/up> ?o }")).build()
    assert(send(conflicted).statusCode() == 400)
    val withConflict = HttpRequest.newBuilder(URI.create(server.uri(
      s"/update?using-graph-uri=${enc("http://x/gusing")}")))
      .header("Content-Type", "application/sparql-update")
      .POST(BodyPublishers.ofString(
        "WITH <http://x/gusing> INSERT { ?s <http://x/c3> ?o } " +
          "WHERE { ?s <http://x/up> ?o }")).build()
    assert(send(withConflict).statusCode() == 400)
  }

  test("GSP: PUT / GET / POST / DELETE round-trip on a named graph") {
    val g = enc("http://x/g1")
    def req(method: String, body: String) =
      HttpRequest.newBuilder(URI.create(server.uri(s"/store?graph=$g")))
        .header("Content-Type", "application/n-triples")
        .method(method, BodyPublishers.ofString(body)).build()
    assert(send(req("PUT",
      "<http://x/s1> <http://x/p> \"v1\" .\n")).statusCode() == 204)
    val got = get(s"/store?graph=$g")
    assert(got.statusCode() == 200 &&
      got.body().contains("<http://x/s1> <http://x/p> \"v1\" ."))
    // POST merges
    assert(send(req("POST",
      "<http://x/s2> <http://x/p> \"v2\" .\n")).statusCode() == 204)
    val merged = get(s"/store?graph=$g").body()
    assert(merged.contains("\"v1\"") && merged.contains("\"v2\""))
    // the graph participates in SPARQL over the served store
    val viaQuery = get(s"/query?query=${enc(
      "SELECT ?o WHERE { GRAPH <http://x/g1> { ?s <http://x/p> ?o } }")}")
    assert(viaQuery.body().contains("v1") && viaQuery.body().contains("v2"))
    // DELETE drops; subsequent GET is 404
    val del = HttpRequest.newBuilder(
      URI.create(server.uri(s"/store?graph=$g"))).DELETE().build()
    assert(send(del).statusCode() == 204)
    assert(get(s"/store?graph=$g").statusCode() == 404)
  }

  test("CONSTRUCT negotiates Turtle and expanded JSON-LD") {
    // subjects pinned: the shared server accretes triples from the
    // update/GSP tests, so an open ?s would make counts order-dependent
    val q = "CONSTRUCT { ?s <http://x/q> ?n } WHERE { " +
      "VALUES ?s { <http://x/a> <http://x/b> } ?s <http://x/name> ?n }"
    val ttl = get(s"/query?query=${enc(q)}", "text/turtle")
    assert(ttl.headers().firstValue("Content-Type").get
      .contains("text/turtle"))
    assert(ttl.body().contains("\"alpha\""), ttl.body())
    // the Turtle body parses back to the same graph
    val d = Files.createTempDirectory("neg")
    val f = d.resolve("got.ttl")
    Files.writeString(f, ttl.body())
    val parsed = graft.io.RdfIO.read(spark, f.toString, "ttl")
    assert(parsed.count() == 2)
    val ld = get(s"/query?query=${enc(q)}", "application/ld+json")
    assert(ld.headers().firstValue("Content-Type").get
      .contains("application/ld+json"))
    assert(ld.body().startsWith("[") && ld.body().contains("@id"), ld.body())
    val f2 = d.resolve("got.jsonld")
    Files.writeString(f2, ld.body())
    assert(graft.io.RdfIO.read(spark, f2.toString, "jsonld").count() == 2)
  }

  test("GSP GET negotiates Turtle; PUT accepts JSON-LD payloads") {
    val g = enc("http://x/gneg")
    val put = HttpRequest.newBuilder(
      URI.create(server.uri(s"/store?graph=$g")))
      .header("Content-Type", "application/ld+json")
      .method("PUT", BodyPublishers.ofString(
        """[{"@id":"http://x/j1","http://x/p":[{"@value":"jv"}]}]"""))
      .build()
    assert(send(put).statusCode() == 204)
    val ttl = get(s"/store?graph=$g", "text/turtle")
    assert(ttl.headers().firstValue("Content-Type").get
      .contains("text/turtle"))
    assert(ttl.body().contains("\"jv\""), ttl.body())
  }

  test("OPTIONS lists allowed methods; HEAD mirrors GET without a body") {
    val opts = send(HttpRequest.newBuilder(URI.create(server.uri("/query")))
      .method("OPTIONS", BodyPublishers.noBody()).build())
    assert(opts.statusCode() == 204)
    assert(opts.headers().firstValue("Allow").get.contains("POST"))
    val optsU = send(HttpRequest.newBuilder(URI.create(server.uri("/update")))
      .method("OPTIONS", BodyPublishers.noBody()).build())
    assert(optsU.headers().firstValue("Allow").get == "POST, OPTIONS")
    val q = "SELECT ?n WHERE { <http://x/a> <http://x/name> ?n }"
    val head = send(HttpRequest.newBuilder(
      URI.create(server.uri(s"/query?query=${enc(q)}")))
      .method("HEAD", BodyPublishers.noBody()).build())
    assert(head.statusCode() == 200 && head.body().isEmpty)
    assert(head.headers().firstValue("Content-Type").get
      .contains("sparql-results+json"))
  }

  test("CORS: Origin-bearing requests get Allow-Origin; preflight " +
      "echoes methods and headers; no Origin, no CORS headers") {
    val q = "SELECT ?n WHERE { <http://x/a> <http://x/name> ?n }"
    val withOrigin = send(HttpRequest.newBuilder(
      URI.create(server.uri(s"/query?query=${enc(q)}")))
      .header("Origin", "http://app.example").GET().build())
    assert(withOrigin.headers()
      .firstValue("Access-Control-Allow-Origin").orElse("") == "*")
    val preflight = send(HttpRequest.newBuilder(
      URI.create(server.uri("/query")))
      .header("Origin", "http://app.example")
      .header("Access-Control-Request-Method", "POST")
      .header("Access-Control-Request-Headers", "Content-Type")
      .method("OPTIONS", BodyPublishers.noBody()).build())
    assert(preflight.statusCode() == 204)
    assert(preflight.headers()
      .firstValue("Access-Control-Allow-Origin").orElse("") == "*")
    assert(preflight.headers()
      .firstValue("Access-Control-Allow-Methods").orElse("")
      .contains("POST"))
    assert(preflight.headers()
      .firstValue("Access-Control-Allow-Headers").orElse("")
      .contains("Content-Type"))
    val noOrigin = get(s"/query?query=${enc(q)}")
    assert(noOrigin.headers()
      .firstValue("Access-Control-Allow-Origin").isEmpty)
  }

  test("gzip response when the client advertises Accept-Encoding") {
    val q = "SELECT ?n WHERE { <http://x/a> <http://x/name> ?n }"
    val r = client.send(
      HttpRequest.newBuilder(URI.create(server.uri(s"/query?query=${enc(q)}")))
        .header("Accept-Encoding", "gzip").GET().build(),
      BodyHandlers.ofByteArray())
    assert(r.headers().firstValue("Content-Encoding")
      .orElse("") == "gzip")
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(r.body()))
    val body = new String(in.readAllBytes(), UTF_8)
    assert(body.contains("\"alpha\""), body)
  }

  test("GSP writes preserve the empty-graph registry; zero-triple PUT " +
    "creates its graph; DELETE of an absent graph is 404") {
    // CREATE an empty graph through /update, then do an unrelated GSP
    // write: the rebuilt store must keep the registry entry
    val mk = HttpRequest.newBuilder(URI.create(server.uri("/update")))
      .header("Content-Type", "application/sparql-update")
      .POST(BodyPublishers.ofString("CREATE GRAPH <http://x/created>"))
      .build()
    assert(send(mk).statusCode() == 204)
    assert(server.store.namedGraphs.contains("http://x/created"))
    val put = HttpRequest.newBuilder(
      URI.create(server.uri(s"/store?graph=${enc("http://x/gother")}")))
      .header("Content-Type", "application/n-triples")
      .method("PUT", BodyPublishers.ofString(
        "<http://x/o1> <http://x/p> \"ov\" .\n")).build()
    assert(send(put).statusCode() == 204)
    assert(server.store.namedGraphs.contains("http://x/created"),
      "GSP PUT wiped the CREATEd-graph registry")
    assert(get(s"/store?graph=${enc("http://x/created")}")
      .statusCode() == 200) // exists, empty
    // zero-triple PUT creates its target graph (GSP §5.3)
    val mkEmpty = HttpRequest.newBuilder(
      URI.create(server.uri(s"/store?graph=${enc("http://x/viaput")}")))
      .header("Content-Type", "application/n-triples")
      .method("PUT", BodyPublishers.ofString("")).build()
    assert(send(mkEmpty).statusCode() == 204)
    assert(get(s"/store?graph=${enc("http://x/viaput")}")
      .statusCode() == 200)
    // DELETE removes graph + registry entry; absent graph -> 404
    val del = HttpRequest.newBuilder(
      URI.create(server.uri(s"/store?graph=${enc("http://x/viaput")}")))
      .DELETE().build()
    assert(send(del).statusCode() == 204)
    assert(get(s"/store?graph=${enc("http://x/viaput")}")
      .statusCode() == 404)
    val delAbsent = HttpRequest.newBuilder(
      URI.create(server.uri(s"/store?graph=${enc("http://x/never")}")))
      .DELETE().build()
    assert(send(delAbsent).statusCode() == 404)
    // repeated DELETE of the same graph: the existence check runs
    // against the store AT MUTATION TIME (inside the write lock), so
    // the second request 404s even back-to-back (§5.7)
    val again = HttpRequest.newBuilder(
      URI.create(server.uri(s"/store?graph=${enc("http://x/twice")}")))
      .DELETE().build()
    val mkTwice = HttpRequest.newBuilder(
      URI.create(server.uri(s"/store?graph=${enc("http://x/twice")}")))
      .header("Content-Type", "application/n-triples")
      .method("PUT", BodyPublishers.ofString("")).build()
    assert(send(mkTwice).statusCode() == 204)
    assert(send(again).statusCode() == 204)
    assert(send(again).statusCode() == 404)
  }

  test("GSP indirect identification: ?default names the default graph; " +
    "graph+default together and relative graph IRIs are 400") {
    // ?default PUT replaces the default graph of a scratch server
    val d = Files.createTempDirectory("gspdef")
    val nt = d.resolve("seed.nt")
    Files.writeString(nt, "<http://x/s0> <http://x/p> \"seed\" .\n")
    val srv = new SparqlServer(
      GraftStore.fromFile(spark, nt.toString, "nt")).start()
    try {
      def u(p: String) = URI.create(srv.uri(p))
      val got = client.send(HttpRequest.newBuilder(u("/store?default"))
        .GET().build(), BodyHandlers.ofString())
      assert(got.statusCode() == 200 && got.body().contains("\"seed\""))
      val put = HttpRequest.newBuilder(u("/store?default"))
        .header("Content-Type", "application/n-triples")
        .method("PUT", BodyPublishers.ofString(
          "<http://x/s1> <http://x/p> \"repl\" .\n")).build()
      assert(send(put).statusCode() == 204)
      val after = client.send(HttpRequest.newBuilder(u("/store?default"))
        .GET().build(), BodyHandlers.ofString()).body()
      assert(after.contains("\"repl\"") && !after.contains("\"seed\""))
      // DELETE ?default clears the default graph (never 404: the
      // default graph always exists)
      assert(send(HttpRequest.newBuilder(u("/store?default"))
        .DELETE().build()).statusCode() == 204)
      assert(client.send(HttpRequest.newBuilder(u("/store?default"))
        .GET().build(), BodyHandlers.ofString()).body().trim.isEmpty)
      // both parameters at once: client error
      assert(client.send(HttpRequest.newBuilder(
        u(s"/store?default&graph=${enc("http://x/g")}"))
        .GET().build(), BodyHandlers.ofString()).statusCode() == 400)
      // relative graph IRI: client error
      assert(client.send(HttpRequest.newBuilder(
        u(s"/store?graph=${enc("relative/name")}"))
        .GET().build(), BodyHandlers.ofString()).statusCode() == 400)
      // duplicate graph parameter: client error
      val g2 = enc("http://x/g")
      assert(client.send(HttpRequest.newBuilder(
        u(s"/store?graph=$g2&graph=$g2"))
        .GET().build(), BodyHandlers.ofString()).statusCode() == 400)
    } finally srv.stop()
  }

  test("concurrent soak: parallel updates, GSP writes, and queries " +
      "stay consistent (writer-serialized, readers on a snapshot)") {
    val d = Files.createTempDirectory("soak")
    val nt = d.resolve("seed.nt")
    Files.writeString(nt, "<http://x/s0> <http://x/p> \"seed\" .\n")
    val srv = new SparqlServer(
      GraftStore.fromFile(spark, nt.toString, "nt")).start()
    try {
      val threads = 6
      val iters = 5
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val futures = (0 until threads).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = try {
            val g = s"http://x/soak$t"
            for (i <- 0 until iters) {
              // POST /update appends one triple to the thread's graph
              val upd = s"INSERT DATA { GRAPH <$g> { " +
                s"<http://x/s$t> <http://x/n> $i } }"
              val u = client.send(HttpRequest.newBuilder(
                URI.create(srv.uri("/update")))
                .header("Content-Type", "application/sparql-update")
                .POST(BodyPublishers.ofString(upd)).build(),
                BodyHandlers.ofString())
              if (u.statusCode() != 204)
                bad.add(s"t$t update $i -> ${u.statusCode()}")
              // a read in between must see a consistent snapshot
              val q = client.send(HttpRequest.newBuilder(URI.create(
                srv.uri(s"/query?query=${enc(
                  s"SELECT (COUNT(*) AS ?n) WHERE { GRAPH <$g> { ?s ?p ?o } }")}")))
                .GET().build(), BodyHandlers.ofString())
              if (q.statusCode() != 200)
                bad.add(s"t$t query $i -> ${q.statusCode()}")
              // GSP GET of another thread's graph: 200 or 404, never 5xx
              val other = client.send(HttpRequest.newBuilder(URI.create(
                srv.uri(s"/store?graph=${enc(
                  s"http://x/soak${(t + 1) % threads}")}")))
                .GET().build(), BodyHandlers.ofString())
              if (other.statusCode() >= 500)
                bad.add(s"t$t gsp $i -> ${other.statusCode()}")
            }
          } catch { case e: Exception => bad.add(s"t$t threw: $e") }
        })
      }
      futures.foreach(_.get())
      pool.shutdown()
      assert(bad.isEmpty, s"soak failures: ${bad.toArray.mkString(", ")}")
      // every INSERT survived: each graph holds exactly `iters` triples
      for (t <- 0 until threads) {
        val r = client.send(HttpRequest.newBuilder(URI.create(
          srv.uri(s"/query?query=${enc(
            s"SELECT ?o WHERE { GRAPH <http://x/soak$t> { ?s ?p ?o } }")}")))
          .GET().build(), BodyHandlers.ofString())
        val n = "\"o\":".r.findAllIn(r.body()).length
        assert(n == iters, s"thread $t graph has $n of $iters triples")
      }
    } finally srv.stop()
  }

  test("pattern writes compose into the store's delta: a star read " +
      "plans the same after 1 and after 3 DELETE/INSERT WHERE writes") {
    val d = Files.createTempDirectory("delta")
    val nt = d.resolve("star.nt")
    // 20 customers; BUILDING when even, nation n(i % 3), balance i
    Files.writeString(nt, (0 until 20).map { i =>
      val seg = if (i % 2 == 0) "BUILDING" else "AUTO"
      s"""<http://x/c$i> <http://x/seg> "$seg" .
         |<http://x/c$i> <http://x/inNation> <http://x/n${i % 3}> .
         |<http://x/c$i> <http://x/bal> "$i"^^<http://www.w3.org/2001/XMLSchema#integer> ."""
        .stripMargin
    }.mkString("", "\n", "\n"))
    val srv = new SparqlServer(
      GraftStore.fromFile(spark, nt.toString, "nt")).start()
    val probe =
      """SELECT ?c ?bal WHERE { ?c <http://x/seg> "BUILDING" ;
        |  <http://x/inNation> <http://x/n1> ; <http://x/bal> ?bal }"""
        .stripMargin
    def post(path: String, ct: String, body: String): Int =
      client.send(HttpRequest.newBuilder(URI.create(srv.uri(path)))
        .header("Content-Type", ct).POST(BodyPublishers.ofString(body))
        .build(), BodyHandlers.ofString()).statusCode()
    // move AUTO customer k of nation n1 to BUILDING
    def move(k: Int): Int = post("/update", "application/sparql-update",
      s"""DELETE { ?c <http://x/seg> "AUTO" }
         |INSERT { ?c <http://x/seg> "BUILDING" }
         |WHERE { ?c <http://x/seg> "AUTO" ; <http://x/inNation> <http://x/n1> ;
         |  <http://x/bal> ?b . FILTER(?b = $k) }""".stripMargin)
    def nodes: Int = srv.store.query(probe).queryExecution.optimizedPlan
      .collectWithSubqueries { case p => p }.size
    def answer: Set[String] = {
      val body = client.send(HttpRequest.newBuilder(URI.create(
        srv.uri(s"/query?query=${enc(probe)}"))).GET().build(),
        BodyHandlers.ofString()).body()
      "http://x/c[0-9]+".r.findAllIn(body).toSet
    }
    try {
      assert(answer == Set(4, 10, 16).map(i => s"http://x/c$i"))
      assert(move(1) == 204)
      val n1 = nodes
      assert(move(7) == 204 && move(13) == 204)
      assert(nodes == n1, s"plan grew with writes: $n1 nodes -> $nodes")
      assert(answer == Set(1, 4, 7, 10, 13, 16).map(i => s"http://x/c$i"))
      assert(srv.store.deltaRows == 6)
      // a GSP POST merge takes the same delta path
      assert(post("/store?default", "application/n-triples",
        """<http://x/c19> <http://x/seg> "BUILDING" .""" + "\n") == 204)
      assert(srv.store.deltaRows == 7 && nodes == n1)
      assert(answer.contains("http://x/c19"))
    } finally srv.stop()
  }

  test("graph dumps stream: a multi-partition graph round-trips " +
    "chunked (no Content-Length) in NT and Turtle") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 20k triples over 8 partitions — the dump path must never hold
    // the document driver-side (Fetch.rows holds at most the row gate's
    // rows plus one partition; chunked transfer carries it out)
    val quads = spark.range(20000).repartition(8).select(
      graft.model.Term.defaultGraph.as("g"),
      graft.model.Term.iri(concat(lit("http://x/s"), col("id"))).as("s"),
      graft.model.Term.iri(lit("http://x/p")).as("p"),
      graft.model.Term.strLit(concat(lit("v"), col("id"))).as("o"))
    val big = new SparqlServer(GraftStore(quads)).start()
    try {
      val nt = client.send(HttpRequest.newBuilder(
        URI.create(big.uri("/store"))).GET().build(),
        BodyHandlers.ofString())
      assert(nt.statusCode() == 200)
      assert(nt.headers().firstValue("Content-Length").isEmpty,
        "dump was not chunked")
      val lines = nt.body().linesIterator.toSeq
      assert(lines.size == 20000)
      assert(lines.forall(_.endsWith(" .")))
      val ttl = client.send(HttpRequest.newBuilder(
        URI.create(big.uri("/store"))).header("Accept", "text/turtle")
        .GET().build(), BodyHandlers.ofString())
      assert(ttl.statusCode() == 200)
      assert(ttl.headers().firstValue("Content-Length").isEmpty)
      val d = Files.createTempDirectory("big")
      val f = d.resolve("dump.ttl")
      Files.writeString(f, ttl.body())
      assert(graft.io.RdfIO.read(spark, f.toString, "ttl")
        .count() == 20000)
    } finally big.stop()
  }

  test("protocol dataset: default-graph-uri promotes a named graph") {
    val g = enc("http://x/g2")
    val put = HttpRequest.newBuilder(
      URI.create(server.uri(s"/store?graph=$g")))
      .header("Content-Type", "application/n-triples")
      .method("PUT", BodyPublishers.ofString(
        "<http://x/z> <http://x/p> \"zz\" .\n")).build()
    assert(send(put).statusCode() == 204)
    val q = "SELECT ?o WHERE { ?s <http://x/p> ?o }"
    // without the protocol dataset the default graph holds only x/a-x/b
    val plain = get(s"/query?query=${enc(q)}").body()
    assert(!plain.contains("zz"))
    val promoted = get(
      s"/query?query=${enc(q)}&default-graph-uri=${enc("http://x/g2")}")
      .body()
    assert(promoted.contains("zz") && !promoted.contains("http://x/b"),
      promoted)
  }

  test("protocol error matrix: 400/405/406/415 with Allow headers") {
    val q = enc("SELECT ?s WHERE { ?s ?p ?o }")
    // 400: malformed query, duplicate query param (a bare GET serves
    // the service description instead — see its own test)
    assert(get(s"/query?query=${enc("SELECT WHERE")}").statusCode() == 400)
    assert(get(s"/query?query=$q&query=$q").statusCode() == 400)
    // 405: method not allowed carries Allow
    val del = send(HttpRequest.newBuilder(URI.create(server.uri("/query")))
      .DELETE().build())
    assert(del.statusCode() == 405)
    assert(del.headers().firstValue("Allow").get.contains("POST"))
    val updGet = get("/update?update=" + enc("CLEAR ALL"))
    assert(updGet.statusCode() == 405)
    assert(updGet.headers().firstValue("Allow").get == "POST, OPTIONS")
    val storePatch = send(HttpRequest.newBuilder(
      URI.create(server.uri("/store")))
      .method("PATCH", BodyPublishers.noBody()).build())
    assert(storePatch.statusCode() == 405)
    assert(storePatch.headers().firstValue("Allow").get.contains("PUT"))
    // 406: unsatisfiable Accept on results and on graph documents
    assert(get(s"/query?query=$q", "image/png").statusCode() == 406)
    val cq = enc("CONSTRUCT { ?s ?p ?o } WHERE { ?s ?p ?o }")
    assert(get(s"/query?query=$cq", "image/png").statusCode() == 406)
    // ...but wildcards still negotiate
    assert(get(s"/query?query=$q", "text/html, */*;q=0.1")
      .statusCode() == 200)
    // 415: wrong media type on POST /query, /update, and GSP payloads
    val badQ = send(HttpRequest.newBuilder(URI.create(server.uri("/query")))
      .header("Content-Type", "text/csv")
      .POST(BodyPublishers.ofString("SELECT ?s WHERE { ?s ?p ?o }"))
      .build())
    assert(badQ.statusCode() == 415)
    val badU = send(HttpRequest.newBuilder(URI.create(server.uri("/update")))
      .header("Content-Type", "application/sparql-query") // wrong kind
      .POST(BodyPublishers.ofString("CLEAR ALL")).build())
    assert(badU.statusCode() == 415)
    val badG = send(HttpRequest.newBuilder(URI.create(server.uri("/store")))
      .header("Content-Type", "application/pdf")
      .method("PUT", BodyPublishers.ofString("x")).build())
    assert(badG.statusCode() == 415)
    // q-values order the negotiation: highest-q supported type wins
    // regardless of listing order
    val qv = get(s"/query?query=$q",
      "text/csv;q=0.1, application/sparql-results+json;q=0.9")
    assert(qv.headers().firstValue("Content-Type").get
      .contains("sparql-results+json"), qv.headers().map())
    val qv2 = get(s"/query?query=$q",
      "application/sparql-results+json;q=0.2, text/csv;q=0.8")
    assert(qv2.headers().firstValue("Content-Type").get
      .contains("text/csv"))
    // a q=0 range is an explicit exclusion
    assert(get(s"/query?query=$q", "text/csv;q=0").statusCode() == 406)
    val gq = get(s"/query?query=$cq",
      "application/n-triples;q=0.1, text/turtle;q=0.9")
    assert(gq.headers().firstValue("Content-Type").get
      .contains("text/turtle"))
    // 400: duplicate update parameter (urlencoded form)
    val dupU = send(HttpRequest.newBuilder(URI.create(server.uri("/update")))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(BodyPublishers.ofString(
        s"update=${enc("CLEAR ALL")}&update=${enc("CLEAR ALL")}")).build())
    assert(dupU.statusCode() == 400)
  }

  test("responses are not held back by Nagle's algorithm") {
    // GET /update never reaches Spark: a 405 whose body is written after
    // the headers. With Nagle on, that second small write waits for the
    // client's delayed ACK, some 40 ms on Linux, on every response.
    // The JDK reads the switch once, at the first HttpServer it creates.
    assert(System.getProperty("sun.net.httpserver.nodelay") == "true")
    val ms = (0 until 31).map { _ =>
      val t0 = System.nanoTime()
      val r = get("/update")
      assert(r.statusCode() == 405 && r.body().nonEmpty)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    // the median of 31 against the ~40 ms delayed-ACK floor: a GC pause
    // or a busy core moves a few samples, not the middle one
    assert(ms(ms.size / 2) < 30,
      ms.map(t => f"$t%.1f").mkString("", " ms, ", " ms"))
  }
}
