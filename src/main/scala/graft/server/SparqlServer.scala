package graft.server

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicReference

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftStore
import graft.algebra.Algebra._
import graft.io.{Fetch, JsonLdWriter, RdfIO, Results, TurtleWriter}
import graft.model.Term
import graft.parser.SparqlParser

/** SPARQL 1.1 Protocol + Graph Store Protocol endpoint over a
  * [[GraftStore]] (the reference's `serve` surface: /query, /update,
  * /store with content negotiation), on the JDK's built-in HTTP server
  * — zero new dependencies, binds loopback by default (the container
  * has no egress; a cluster deployment would front this with the
  * usual ingress).
  *
  * Every response body STREAMS: results and graph documents are
  * written chunk by chunk from writers that pull rows through
  * [[graft.io.Fetch.rows]]. A result within the row gate
  * (`Skew.BroadcastRowGate` rows) arrives in ONE Spark job over all
  * partitions; past it, each partition over its share of the gate is
  * fetched on its own, one resident driver-side at a time — a
  * `GET /store` of an arbitrarily large graph never materializes the
  * document (the reference streams its dumps the same way).
  * Dataset-scale export to files still goes through the RdfIO sinks.
  *
  * - `GET/POST /query` — `query` via query-string, urlencoded form, or
  *   `application/sparql-query` body; `default-graph-uri` /
  *   `named-graph-uri` override the query dataset (§2.1.4). SELECT/ASK
  *   negotiate sparql-results JSON (default) / XML / CSV / TSV;
  *   CONSTRUCT/DESCRIBE negotiate N-Triples (default) / Turtle /
  *   expanded JSON-LD.
  * - `POST /update` — urlencoded form or `application/sparql-update`
  *   body; 204 on success. Updates serialize through one lock (the
  *   store is immutable; the reference serializes writers too). Each
  *   write is evaluated once, at request time, and composed into the
  *   store's bounded insert/delete delta ([[GraftStore]]: base plus at
  *   most `Skew.BroadcastRowGate` delta rows), so later reads plan the
  *   same overlay however many writes came before; a write past the
  *   gate, or a CLEAR/DROP/COPY/MOVE, rebuilds the base instead.
  * - `/store` (GSP): `?graph=<iri>` or default graph. GET/HEAD dump
  *   N-Triples / Turtle / JSON-LD by Accept (404 for an absent named
  *   graph), PUT replaces, POST merges (through the delta, like
  *   `/update`), DELETE drops. Payload formats:
  *   N-Triples, Turtle, or JSON-LD by Content-Type.
  *
  * All contexts answer OPTIONS with their Allow set; HEAD mirrors the
  * GET headers without a body; any response gzips when the client
  * sends `Accept-Encoding: gzip`.
  */
final class SparqlServer(initial: GraftStore, port: Int = 0,
    host: String = "127.0.0.1") {

  private val ref = new AtomicReference[GraftStore](initial)
  def store: GraftStore = ref.get

  // The JDK server writes a response's headers and its body as separate
  // small segments. With Nagle's algorithm on, the body waits for the
  // client to ACK the headers, and a delayed ACK holds every response
  // back by tens of milliseconds. The JDK reads this property once, when
  // the first HttpServer of the JVM is created, so it must be set before
  // the create below.
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress(host, port), 0)
  def boundPort: Int = server.getAddress.getPort
  def uri(path: String): String = s"http://$host:$boundPort$path"

  // ---- wire helpers ---------------------------------------------------

  private def params(ex: HttpExchange): Map[String, Seq[String]] = {
    def parse(s: String): Seq[(String, String)] =
      if (s == null || s.isEmpty) Nil
      else s.split("&").toSeq.filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) =>
            URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8)
          case Array(k) => URLDecoder.decode(k, UTF_8) -> ""
        }
      }
    val fromQs = parse(ex.getRequestURI.getRawQuery)
    val ct = Option(ex.getRequestHeaders.getFirst("Content-Type"))
      .getOrElse("")
    val fromBody =
      if (ex.getRequestMethod == "POST" &&
        ct.startsWith("application/x-www-form-urlencoded"))
        parse(new String(ex.getRequestBody.readAllBytes(), UTF_8))
      else Nil
    (fromQs ++ fromBody).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  }

  /** Permissive CORS for cross-origin browser clients (the reference
    * CLI serves the same `*` policy): emitted only when the request
    * actually carries an Origin header.
    */
  private def cors(ex: HttpExchange): Unit =
    if (ex.getRequestHeaders.containsKey("Origin"))
      ex.getResponseHeaders.set("Access-Control-Allow-Origin", "*")

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String): Unit = {
    var bytes = body.getBytes(UTF_8)
    cors(ex)
    ex.getResponseHeaders.set("Content-Type", contentType)
    // transparent gzip when the client advertises it (RFC 9110 §12.5.3)
    val acceptsGzip = Option(
      ex.getRequestHeaders.getFirst("Accept-Encoding"))
      .exists(_.toLowerCase.contains("gzip"))
    if (acceptsGzip && bytes.nonEmpty) {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(bytes); gz.close()
      bytes = bos.toByteArray
      ex.getResponseHeaders.set("Content-Encoding", "gzip")
    }
    // HEAD: identical headers (incl. the length the GET would carry),
    // no body (RFC 9110 §9.3.2)
    if (ex.getRequestMethod == "HEAD") {
      if (bytes.nonEmpty)
        ex.getResponseHeaders.set("Content-Length", bytes.length.toString)
      ex.sendResponseHeaders(code, -1)
    } else {
      ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
      if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    }
    ex.close()
  }

  private def preflight(ex: HttpExchange, allow: String): Boolean =
    if (ex.getRequestMethod == "OPTIONS") {
      ex.getResponseHeaders.set("Allow", allow)
      if (ex.getRequestHeaders.containsKey("Origin")) {
        cors(ex)
        ex.getResponseHeaders.set("Access-Control-Allow-Methods", allow)
        // echo the requested headers (Content-Type/Accept in practice)
        Option(ex.getRequestHeaders
          .getFirst("Access-Control-Request-Headers"))
          .foreach(h => ex.getResponseHeaders
            .set("Access-Control-Allow-Headers", h))
      }
      ex.sendResponseHeaders(204, -1)
      ex.close()
      true
    } else false

  private def fail(ex: HttpExchange, code: Int, msg: String): Unit =
    // a streamed response may already have sent its headers — then the
    // only honest signal left is the truncated chunked body the closed
    // connection produces
    try respond(ex, code, msg + "\n", "text/plain; charset=utf-8")
    catch { case _: java.io.IOException => ex.close() }

  /** Typed escape for protocol error codes decided deep in a handler
    * (406 unsatisfiable Accept, 415 unsupported payload, 405): thrown
    * where detected, mapped to the response in [[handler]].
    */
  private final case class HttpError(code: Int, msg: String)
    extends RuntimeException(msg)

  /** Proper Accept negotiation (RFC 9110 §12.5.1): media ranges sorted
    * by q (unspecified = 1, q=0 excluded), first supported key wins;
    * wildcards `*&#47;*` and `type&#47;*` match; table order breaks
    * wildcard ties (so the server's preferred format answers `*&#47;*`).
    * Empty Accept → `default`; None → 406.
    */
  private def negotiate(accept: String,
      table: Seq[(String, Seq[String])], default: String): Option[String] =
    if (accept.trim.isEmpty) Some(default)
    else {
      val ranges = accept.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        .map { part =>
          val bits = part.split(";").map(_.trim)
          val q = bits.tail.collectFirst {
            case p if p.toLowerCase.startsWith("q=") =>
              try p.substring(2).toDouble
              catch { case _: NumberFormatException => 0.0 }
          }.getOrElse(1.0)
          (bits.head.toLowerCase, q)
        }
        .filter(_._2 > 0)
        .sortBy(-_._2)
      ranges.iterator.flatMap { case (r, _) =>
        table.collectFirst {
          case (key, types) if r == "*/*" || types.exists(t =>
            r == t || (r.endsWith("/*") &&
              t.startsWith(r.dropRight(1)))) => key
        }
      }.nextOption()
    }

  private def handler(f: HttpExchange => Unit): HttpHandler =
    (ex: HttpExchange) =>
      try f(ex)
      catch {
        case HttpError(code, msg) => fail(ex, code, msg)
        case e: SparqlParser#ParseError =>
          fail(ex, 400, "malformed query/update: " + e.getMessage)
        case e: IllegalArgumentException =>
          fail(ex, 400, "bad request: " + e.getMessage)
        case e: UnsupportedOperationException =>
          fail(ex, 400, "unsupported: " + e.getMessage)
        case e: Throwable => fail(ex, 500, "error: " + e.getMessage)
      } finally
        // the server is the canonical long-lived session: today's
        // endpoints don't invoke pipeline ops, but the first one that
        // does (a dedup-backed service) would otherwise leak scratch
        // persists per request — release after every response
        graft.ops.ScratchCaches.releaseAll()

  /** Chunked streaming response: `write` appends into a buffered
    * (optionally gzip) writer over the open exchange, so the document
    * is never whole in driver memory. HEAD short-circuits to headers
    * only (chunked bodies carry no Content-Length to mirror).
    */
  private def respondStream(ex: HttpExchange, code: Int,
      contentType: String)(write: Appendable => Unit): Unit = {
    cors(ex)
    ex.getResponseHeaders.set("Content-Type", contentType)
    val acceptsGzip = Option(
      ex.getRequestHeaders.getFirst("Accept-Encoding"))
      .exists(_.toLowerCase.contains("gzip"))
    if (acceptsGzip) ex.getResponseHeaders.set("Content-Encoding", "gzip")
    if (ex.getRequestMethod == "HEAD") {
      ex.sendResponseHeaders(code, -1); ex.close(); return
    }
    ex.sendResponseHeaders(code, 0) // 0 = chunked transfer
    try {
      val raw: java.io.OutputStream =
        if (acceptsGzip) new java.util.zip.GZIPOutputStream(
          ex.getResponseBody)
        else ex.getResponseBody
      val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(raw, UTF_8), 1 << 16)
      write(w)
      w.flush()
      raw match {
        case gz: java.util.zip.GZIPOutputStream => gz.finish()
        case _ =>
      }
    } finally ex.close()
  }

  /** Stream triples as N-Triples lines (formatting stays distributed —
    * the concat runs in executors; the driver only relays lines).
    */
  private def ntStream(triples: DataFrame, out: Appendable): Unit =
    Fetch.rows(triples.select(concat(
      RdfIO.formatTerm(col("s")), lit(" "),
      RdfIO.formatTerm(col("p")), lit(" "),
      RdfIO.formatTerm(col("o")), lit(" .")).as("l")))
      .foreach(r => out.append(r.getString(0)).append('\n'))

  // ---- /query ---------------------------------------------------------

  private val queryHandler = handler { ex =>
    if (!preflight(ex, "GET, POST, HEAD, OPTIONS")) {
      if (!Set("GET", "POST", "HEAD").contains(ex.getRequestMethod)) {
        ex.getResponseHeaders.set("Allow", "GET, POST, HEAD, OPTIONS")
        throw HttpError(405,
          s"query endpoint does not allow ${ex.getRequestMethod}")
      }
      val ps = params(ex)
      val ct = Option(ex.getRequestHeaders.getFirst("Content-Type"))
        .getOrElse("")
      // Protocol §2.1: a request with more than one query string is
      // malformed
      if (ps.get("query").exists(_.size > 1))
        throw new IllegalArgumentException("more than one query parameter")
      val queryOpt = ps.get("query").flatMap(_.headOption).orElse {
        if (ex.getRequestMethod == "POST" &&
          ct.startsWith("application/sparql-query"))
          Some(new String(ex.getRequestBody.readAllBytes(), UTF_8))
        else if (ex.getRequestMethod == "POST" && ct.nonEmpty &&
          !ct.startsWith("application/x-www-form-urlencoded"))
          throw HttpError(415, s"unsupported query media type: $ct")
        else if (ex.getRequestMethod == "POST")
          throw new IllegalArgumentException("missing query parameter")
        else None
      }
      // dereferencing the bare endpoint (GET/HEAD, no query) returns
      // its service description (SPARQL 1.1 Service Description §2)
      // as a content-negotiated RDF graph document
      if (queryOpt.isEmpty)
        respondGraph(ex, Option(
          ex.getRequestHeaders.getFirst("Accept")).getOrElse(""),
          serviceDescription())
      else serveQuery(ex, ps, queryOpt.get)
    }
  }

  private def serveQuery(ex: HttpExchange, ps: Map[String, Seq[String]],
      query: String): Unit = {
      val protoDefault = ps.getOrElse("default-graph-uri", Nil)
      val protoNamed = ps.getOrElse("named-graph-uri", Nil)
      val st = ref.get
      val form = SparqlParser.parse(query)
      val df = SparqlParser.executeProtocol(query, st.quads,
        protoDefault, protoNamed, st.emptyGraphs.toSeq.sorted)
      val accept = Option(ex.getRequestHeaders.getFirst("Accept"))
        .getOrElse("")
      form match {
        case _: Construct | _: Describe => respondGraph(ex, accept, df)
        case _ =>
          // results content negotiation by q-preference, JSON default
          negotiate(accept, Seq(
            "json" -> Seq("application/sparql-results+json",
              "application/json"),
            "xml" -> Seq("application/sparql-results+xml",
              "application/xml"),
            "csv" -> Seq("text/csv"),
            "tsv" -> Seq("text/tab-separated-values")), "json") match {
            case Some("tsv") =>
              // a `version=1.2` media-type parameter selects the RDF
              // 1.2 output edition (quoted terms as <<( )>> triple
              // terms); plain TSV keeps the CG lex
              val tsv12 = accept.toLowerCase.split(",").exists { r =>
                val t = r.replaceAll("\\s", "")
                t.startsWith("text/tab-separated-values") &&
                  t.contains("version=1.2")
              }
              respondStream(ex, 200,
                "text/tab-separated-values; charset=utf-8")(
                Results.writeSeparated(df, tsv = true, _,
                  edition12 = tsv12))
            case Some("csv") =>
              respondStream(ex, 200, "text/csv; charset=utf-8")(
                Results.writeSeparated(df, tsv = false, _))
            case Some("xml") =>
              respondStream(ex, 200, "application/sparql-results+xml")(
                Results.writeXml(df, _))
            case Some(_) =>
              respondStream(ex, 200, "application/sparql-results+json")(
                Results.writeJson(df, _))
            case None => // no supported results format and no wildcard
              throw HttpError(406,
                s"no acceptable results format in: $accept")
          }
      }
  }

  /** The endpoint's service-description graph (SPARQL 1.1 Service
    * Description): languages, result formats, input formats, features —
    * a tiny static triple table built once per request.
    */
  private def serviceDescription(): DataFrame = {
    val spark = ref.get.quads.sparkSession
    val sd = "http://www.w3.org/ns/sparql-service-description#"
    val fm = "http://www.w3.org/ns/formats/"
    val ep = uri("/query")
    val triples: Seq[(String, String)] =
      Seq(
        "http://www.w3.org/1999/02/22-rdf-syntax-ns#type" ->
          (sd + "Service"),
        (sd + "endpoint") -> ep,
        (sd + "supportedLanguage") -> (sd + "SPARQL11Query"),
        (sd + "supportedLanguage") -> (sd + "SPARQL11Update"),
        (sd + "feature") -> (sd + "BasicFederatedQuery"),
        (sd + "feature") -> (sd + "EmptyGraphs")) ++
      Seq("SPARQL_Results_JSON", "SPARQL_Results_XML",
        "SPARQL_Results_CSV", "SPARQL_Results_TSV")
        .map(f => (sd + "resultFormat") -> (fm + f)) ++
      Seq("N-Triples", "N-Quads", "Turtle", "TriG", "RDF_XML", "JSON-LD")
        .map(f => (sd + "inputFormat") -> (fm + f))
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    def iriRow(v: String) = Row(Term.IriKind.toByte, v, null, null)
    val rows = triples.map { case (p, o) =>
      Row(iriRow(ep), iriRow(p), iriRow(o)) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("s", Term.schema),
        StructField("p", Term.schema), StructField("o", Term.schema))))
  }

  /** Content-negotiated graph document (CONSTRUCT/DESCRIBE results and
    * GSP dumps): N-Triples default, Turtle, or expanded JSON-LD — all
    * three stream.
    */
  private def respondGraph(ex: HttpExchange, accept: String,
      triples: DataFrame): Unit =
    negotiate(accept, Seq(
      "nt" -> Seq("application/n-triples", "text/plain"),
      "ttl" -> Seq("text/turtle"),
      "jsonld" -> Seq("application/ld+json")), "nt") match {
      case Some("ttl") =>
        respondStream(ex, 200, "text/turtle; charset=utf-8") { out =>
          TurtleWriter.turtleLines(triples)
            .foreach(l => out.append(l).append('\n'))
        }
      case Some("jsonld") =>
        respondStream(ex, 200, "application/ld+json")(
          JsonLdWriter.writeJsonLd(
            triples.select(Term.defaultGraph.as("g"),
              col("s"), col("p"), col("o")), _))
      case Some(_) =>
        respondStream(ex, 200, "application/n-triples")(
          ntStream(triples, _))
      case None =>
        throw HttpError(406, s"no acceptable graph format in: $accept")
    }

  // ---- /update --------------------------------------------------------

  private val updateLock = new Object
  private val updateHandler = handler { ex =>
    if (preflight(ex, "POST, OPTIONS")) ()
    else if (ex.getRequestMethod != "POST") {
      ex.getResponseHeaders.set("Allow", "POST, OPTIONS")
      fail(ex, 405, "update requires POST")
    } else {
      val ct = Option(ex.getRequestHeaders.getFirst("Content-Type"))
        .getOrElse("")
      if (!ct.startsWith("application/sparql-update") &&
        !ct.startsWith("application/x-www-form-urlencoded"))
        throw HttpError(415, s"unsupported update media type: $ct")
      // params() reads the body only for urlencoded posts, so it runs
      // BEFORE the sparql-update branch drains the stream itself
      val ps = params(ex)
      val update =
        if (ct.startsWith("application/sparql-update"))
          new String(ex.getRequestBody.readAllBytes(), UTF_8)
        else {
          // Protocol §2.2: more than one update string is malformed
          if (ps.get("update").exists(_.size > 1))
            throw new IllegalArgumentException(
              "more than one update parameter")
          ps.get("update").flatMap(_.headOption).getOrElse(
            throw new IllegalArgumentException("missing update parameter"))
        }
      // Protocol §2.2.3: using-graph-uri / using-named-graph-uri act
      // as USING / USING NAMED on the request's operations
      val usingDefault = ps.getOrElse("using-graph-uri", Nil)
      val usingNamed = ps.getOrElse("using-named-graph-uri", Nil)
      updateLock.synchronized {
        ref.set(ref.get.update(update, usingDefault, usingNamed))
      }
      respond(ex, 204, "", "text/plain")
    }
  }

  // ---- /store (Graph Store Protocol) ----------------------------------

  private def gspFormat(ct: String): String =
    if (ct.startsWith("text/turtle")) "ttl"
    else if (ct.startsWith("application/ld+json")) "jsonld"
    else if (ct.startsWith("application/n-triples") ||
      ct.startsWith("text/plain") || ct.isEmpty) "nt"
    // GSP §5.6: unsupported payload media type → 415
    else throw HttpError(415, s"unsupported RDF payload: $ct")

  private def parseBody(ex: HttpExchange, graph: Option[String])
      : DataFrame = {
    val fmt = gspFormat(Option(
      ex.getRequestHeaders.getFirst("Content-Type")).getOrElse(""))
    val tmp = Files.createTempFile("gsp", "." + fmt)
    try {
      Files.write(tmp, ex.getRequestBody.readAllBytes())
      val spark = ref.get.quads.sparkSession
      val triples = RdfIO.read(spark, tmp.toString, fmt)
      val g = graph.map(iri => Term.iri(iri)).getOrElse(Term.defaultGraph)
      // localCheckpoint(eager) pins the rows so the temp file can go
      triples.select(g.as("g"), col("s"), col("p"), col("o"))
        .localCheckpoint(true)
    } finally Files.deleteIfExists(tmp)
  }

  private val storeHandler = handler { ex =>
    if (preflight(ex, "GET, PUT, POST, DELETE, HEAD, OPTIONS")) ()
    else storeRequest(ex)
  }

  private def storeRequest(ex: HttpExchange): Unit = {
    val ps = params(ex)
    // GSP §5.1 indirect identification: `?graph=<absolute-iri>` names a
    // graph; a valueless `?default` names the default graph. Both at
    // once is a client error, as is a relative graph IRI. A bare
    // /store with neither is treated as `?default` (documented; this
    // server has no direct-identification URI space).
    if (ps.contains("default") && ps.contains("graph"))
      throw HttpError(400, "both graph and default parameters given")
    if (ps.get("graph").exists(_.size > 1))
      throw HttpError(400, "more than one graph parameter")
    val graph: Option[String] = ps.get("graph").flatMap(_.headOption)
    graph.foreach { iri =>
      val c = iri.indexOf(':')
      if (c <= 0) throw HttpError(400, s"graph IRI must be absolute: $iri")
    }
    val st = ref.get
    def graphQuads(q: DataFrame): DataFrame = graph match {
      case Some(iri) => q.where(col("g")("kind") === Term.IriKind &&
        col("g")("lex") === iri)
      case None => q.where(col("g")("kind") === Term.DefaultGraphKind)
    }
    def restQuads(q: DataFrame): DataFrame = graph match {
      case Some(iri) => q.where(!(col("g")("kind") === Term.IriKind &&
        col("g")("lex") === iri))
      case None => q.where(col("g")("kind") =!= Term.DefaultGraphKind)
    }
    ex.getRequestMethod match {
      case "GET" | "HEAD" =>
        val existing = graphQuads(st.quads)
        if (graph.isDefined && existing.isEmpty &&
          !graph.exists(st.namedGraphs.contains))
          fail(ex, 404, s"no such graph: ${graph.get}")
        else {
          val accept = Option(ex.getRequestHeaders.getFirst("Accept"))
            .getOrElse("")
          respondGraph(ex, accept, existing.select("s", "p", "o"))
        }
      // PUT and DELETE rebuild the store around the transformed quad
      // table, POST merges through the store's delta (as INSERT DATA);
      // the empty-graph registry rides along (a GSP write must not
      // wipe CREATEd/CLEARed graphs), PUT/POST register their target
      // graph (GSP §5.3/§5.5: a request to a non-existent graph
      // creates it — including a zero-triple PUT), DELETE drops only
      // its own registry entry (§5.7: absent graph → 404).
      case "PUT" =>
        val triples = parseBody(ex, graph)
        updateLock.synchronized {
          val cur = ref.get
          ref.set(GraftStore(
            restQuads(cur.quads).unionByName(triples),
            cur.emptyGraphs ++ graph))
        }
        respond(ex, 204, "", "text/plain")
      case "POST" =>
        val triples = parseBody(ex, graph)
        updateLock.synchronized {
          val merged = ref.get.extend(triples)
          ref.set(graph.fold(merged)(merged.insertNamedGraph))
        }
        respond(ex, 204, "", "text/plain")
      case "DELETE" =>
        // §5.7 existence check runs INSIDE the lock against the store
        // being mutated: two racing DELETEs must not both pass (second
        // → 404), and a DELETE racing a PUT must see the PUT's graph
        val deleted = updateLock.synchronized {
          val cur = ref.get
          if (graph.isDefined && !graph.exists(cur.containsNamedGraph))
            false
          else {
            ref.set(GraftStore(restQuads(cur.quads),
              cur.emptyGraphs -- graph))
            true
          }
        }
        if (deleted) respond(ex, 204, "", "text/plain")
        else fail(ex, 404, s"no such graph: ${graph.get}")
      case m =>
        ex.getResponseHeaders.set("Allow",
          "GET, PUT, POST, DELETE, HEAD, OPTIONS")
        fail(ex, 405, s"unsupported method $m")
    }
  }

  server.createContext("/query", queryHandler)
  server.createContext("/update", updateHandler)
  server.createContext("/store", storeHandler)

  def start(): SparqlServer = { server.start(); this }
  def stop(): Unit = server.stop(0)
}

