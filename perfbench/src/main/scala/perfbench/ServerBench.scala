package perfbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions.{col, concat, lit}

import graft.GraftStore
import graft.algebra.Algebra.{Construct, Describe}
import graft.io.{RdfIO, Results}
import graft.parser.SparqlParser
import graft.server.SparqlServer

/** One completed request as the client saw it, with the store the
  * server held when it was sent (stores are immutable values).
  */
final case class Done(req: Req, startMs: Double, endMs: Double, ok: Boolean,
    store: GraftStore) {
  def ms: Double = endMs - startMs
}

/** `sparql-read` and `sparql-rw`: closed-loop HTTP clients against an
  * in-process SparqlServer over a bulk-loaded, saved and reopened store.
  * `sparql-read` runs 4 read-only clients (at most one per core);
  * `sparql-rw` runs one client whose every 4th request is a write.
  */
final class ServerBench(spark: SparkSession, cfg: Config, res: Result) {
  private val rw = cfg.workload == "sparql-rw"
  private val clients = if (rw) 1 else math.min(4, cfg.cores)
  private val tables = Tpch.tables(cfg.seed, Config.Customers)
  private val nq = cfg.work.resolve("tpch.nq")

  // ---- HTTP ---------------------------------------------------------

  private def send(port: Int, q: Req): (Int, String) = {
    val path = if (q.isUpdate) "/update" else "/query"
    val conn = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setReadTimeout(120000)
    if (q.isUpdate)
      conn.setRequestProperty("Content-Type", "application/sparql-update")
    else {
      conn.setRequestProperty("Content-Type",
        "application/x-www-form-urlencoded")
      conn.setRequestProperty("Accept",
        if (q.isGraph) "application/n-triples"
        else "application/sparql-results+json")
    }
    val body =
      if (q.isUpdate) q.text
      else "query=" + URLEncoder.encode(q.text, UTF_8)
    val os = conn.getOutputStream
    os.write(body.getBytes(UTF_8)); os.close()
    val code = conn.getResponseCode
    val in = if (code < 400) conn.getInputStream else conn.getErrorStream
    val text = if (in == null) "" else new String(in.readAllBytes(), UTF_8)
    if (in != null) in.close()
    (code, text)
  }

  /** Send, time and check one request; a non-2xx reply, an exception or
    * a wrong answer is a failure.
    */
  private def call(server: SparqlServer, q: Req): Done = {
    val store = server.store
    val t0 = Recorder.nowMs
    val ok =
      try {
        val (code, body) = send(server.boundPort, q)
        val good = code / 100 == 2 && (q.expect == Updated ||
          Answers.diff(q.expect, Answers.parse(body, q.expect)).isEmpty)
        if (!good) res.note(s"failed ${Req.Names(q.template)} ($code): " +
          (if (code / 100 == 2)
            Answers.diff(q.expect, Answers.parse(body, q.expect)).get
          else body.take(300)))
        good
      } catch {
        case e: Exception =>
          res.note(s"failed ${Req.Names(q.template)}: $e"); false
      }
    Done(q, t0, Recorder.nowMs, ok, store)
  }

  // ---- setup --------------------------------------------------------

  private final case class Setup(server: SparqlServer, dir: Path,
      parseS: Double, saveS: Double, openS: Double, totalS: Double)

  private def setUp(i: Int): Setup = {
    val dir = cfg.work.resolve(s"store$i")
    val t0 = System.nanoTime()
    val loaded = GraftStore.fromFile(spark, nq.toString, "nq")
    val t1 = System.nanoTime()
    loaded.save(dir.toString)
    val t2 = System.nanoTime()
    val opened = GraftStore.open(spark, dir.toString)
    val t3 = System.nanoTime()
    val server = new SparqlServer(opened).start()
    val t4 = System.nanoTime()
    Setup(server, dir, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
      (t4 - t0) / 1e9)
  }

  private def freshServer(dir: Path): SparqlServer =
    new SparqlServer(GraftStore.open(spark, dir.toString)).start()

  // ---- one measured phase -------------------------------------------

  private final case class Phase(done: Vector[Done], wallS: Double,
      probeNodes: Vector[Double]) {
    def reads: Vector[Done] = done.filterNot(_.req.isUpdate)
    def throughput: Double = done.size / wallS
    def p50: Double = Stats.median(reads.map(_.ms))
    def ++(o: Phase): Phase =
      Phase(done ++ o.done, wallS + o.wallS, probeNodes ++ o.probeNodes)
  }

  /** Closed-loop clients, each sending whole rounds of the eight read
    * templates (with the writes among them), as many rounds as fill
    * `seconds` to the nearest round — so every run sends the same blend.
    * Each phase starts from the model of the unchanged store, so give it
    * a freshly opened one.
    */
  private def phase(server: SparqlServer, probe: Boolean,
      seconds: Double): Phase = {
    val model = new Model(tables)
    val streams = (0 until clients).map(c =>
      new RequestStream(cfg.seed, c, model, if (rw) 4 else 0))
    val log = mutable.ArrayBuffer.empty[Done]
    val probes = mutable.ArrayBuffer.empty[Double]
    val start = Recorder.nowMs
    val deadline = start + seconds * 1000.0
    val threads = streams.map { s =>
      new Thread(() => {
        var rounds = 0
        var reads = 0
        var more = true
        while (more) {
          val q = s.next()
          val d = call(server, q)
          log.synchronized(log += d)
          if (probe && q.isUpdate)
            probes.synchronized(probes += probePlanNodes(server))
          if (!q.isUpdate) reads += 1
          if (reads == 8 * (rounds + 1)) {
            rounds += 1
            val now = Recorder.nowMs
            more = now + (now - start) / rounds / 2 <= deadline
          }
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val end = log.map(_.endMs).max
    Phase(log.toVector.sortBy(_.startMs), (end - start) / 1000.0,
      probes.toVector)
  }

  // ---- plan shape ---------------------------------------------------

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  private def planNodes(df: DataFrame): Int =
    nodes(df.queryExecution.executedPlan).size

  private def exchanges(df: DataFrame): Int =
    nodes(df.queryExecution.executedPlan).count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    }

  /** A fixed star read, planned (not run) on the server's current store:
    * its plan size tracks how the store's plan grows with each write.
    */
  private val probeQuery =
    s"""PREFIX : <${Tpch.Ns}>
       |SELECT ?c ?bal WHERE { ?c :mktsegment "BUILDING" ;
       |  :inNation <${Tpch.nation(7)}> ; :acctbal ?bal }""".stripMargin

  private def probePlanNodes(server: SparqlServer): Double = {
    val st = server.store
    planNodes(SparqlParser.executeProtocol(probeQuery, st.quads, Nil, Nil,
      st.emptyGraphs.toSeq.sorted)).toDouble
  }

  // ---- in-process replay --------------------------------------------

  private final case class Replay(done: Done, request: Span, nodes: Int,
      exchanges: Int, bytes: Int)

  /** Re-run a read with the calls and arguments the /query handler
    * uses, on the store it was sent to, one span per layer.
    */
  private def replay(rec: Recorder, d: Done): Replay = {
    val st = d.store
    val q = d.req.text
    var nN = 0; var nX = 0
    val out = new java.lang.StringBuilder
    rec.span("request/" + Req.Names(d.req.template)) {
      val form = rec.span("parse")(SparqlParser.parse(q))
      val df = rec.span("translate")(SparqlParser.executeProtocol(q,
        st.quads, Nil, Nil, st.emptyGraphs.toSeq.sorted))
      rec.span("optimize")(df.queryExecution.optimizedPlan)
      rec.span("plan")(df.queryExecution.executedPlan)
      nN = planNodes(df); nX = exchanges(df)
      rec.span("results") {
        form match {
          case _: Construct | _: Describe =>
            df.select(concat(RdfIO.formatTerm(col("s")), lit(" "),
              RdfIO.formatTerm(col("p")), lit(" "),
              RdfIO.formatTerm(col("o")), lit(" .")).as("l"))
              .toLocalIterator().asScala
              .foreach(r => out.append(r.getString(0)).append('\n'))
          case _ => Results.writeJson(df, out)
        }
      }
    }
    val root = rec.spans.filter(_.name.startsWith("request/")).maxBy(_.id)
    Replay(d, root, nN, nX, out.length)
  }

  // ---- the run ------------------------------------------------------

  def run(): Unit = {
    val nQuads = Tpch.writeNQuads(tables, nq)
    val sessionS = res.sessionS
    val setups = (0 until Config.Setups).map { i =>
      val s = setUp(i)
      if (i < Config.Setups - 1) s.server.stop()
      s
    }
    val last = setups.last
    res.e2e("setup_s", sessionS + Stats.median(setups.map(_.totalS)), "s")
    val storeBytes = Main.dirBytes(last.dir)
    val nqBytes = Files.size(nq)
    res.note(f"input: $nQuads quads, ${nqBytes / 1e6}%.1f MB N-Quads; " +
      f"store ${storeBytes / 1e6}%.1f MB; ${clients} client(s)")

    // warm-up: every template once, through HTTP, outside the window
    val warmModel = new Model(tables)
    val warm = new RequestStream(cfg.seed ^ 0xabcdefL, 99, warmModel)
    val w0 = System.nanoTime()
    (0 until 8).foreach(_ => res.count(call(last.server, warm.next()).ok))
    res.note(f"session ${sessionS}%.1f s; setups " +
      setups.map(s => f"${s.totalS}%.1f").mkString(" ") +
      f" s; warm-up ${(System.nanoTime() - w0) / 1e9}%.1f s")

    def measured(server: SparqlServer, probe: Boolean, seconds: Double) = {
      val p = phase(server, probe, seconds)
      server.stop()
      p.done.foreach(d => res.count(d.ok))
      p
    }
    if (!cfg.trace) {
      val a = measured(last.server, probe = false, cfg.seconds)
      report(a, "")
      res.e2e("throughput_per_s", a.throughput, "1/s")
      res.e2e("latency_p50_ms", a.p50, "ms")
      res.e2e("store_bytes_ratio", storeBytes.toDouble / nqBytes, "ratio")
    } else {
      // untraced halves before and after the traced window, so the
      // overhead is not confounded with warm-up
      val a1 = measured(last.server, probe = false, cfg.seconds / 2.0)
      val listener = new JobListener
      spark.sparkContext.addSparkListener(listener)
      val rec = new Recorder(spark.sparkContext)
      val b = measured(freshServer(last.dir), probe = rw, cfg.seconds)
      // replay the traced window's reads, each on the store it was sent to
      val budget = Recorder.nowMs + cfg.seconds * 500.0
      val replays = mutable.ArrayBuffer.empty[Replay]
      val it = b.reads.iterator
      while (it.hasNext && (replays.isEmpty || Recorder.nowMs < budget))
        replays += replay(rec, it.next())
      listener.drain()
      spark.sparkContext.removeSparkListener(listener)
      val a2 = measured(freshServer(last.dir), probe = false, cfg.seconds / 2.0)
      layers(a1 ++ a2, b, replays.toVector, rec, listener, setups)
    }
  }

  private def report(p: Phase, prefix: String): Unit = {
    val tail = Stats.tail(p.reads.map(_.ms))
    res.note(f"${prefix}requests ${p.done.size} in ${p.wallS}%.1f s " +
      f"(${p.reads.size} reads); read tail ${tail.value}%.0f ms = " +
      f"p${tail.percentile}%.1f of " +
      s"${tail.samples} read samples")
    val byT = p.done.groupBy(_.req.template).toSeq.sortBy(_._1)
    res.note(prefix + "median ms by template: " + byT.map { case (t, ds) =>
      f"${Req.Names(t)}=${Stats.median(ds.map(_.ms))}%.0f(${ds.size})"
    }.mkString(" "))
  }

  private def layers(a: Phase, b: Phase, rs: Vector[Replay], rec: Recorder,
      l: JobListener, setups: Seq[Setup]): Unit = {
    report(a, "untraced: ")
    report(b, "traced: ")
    val spans = rec.spans
    val jobs = l.all
    val kids = spans.groupBy(_.parent)
    def child(r: Replay, name: String): Span =
      kids(r.request.id).find(_.name == name).get
    def med(f: Replay => Double): Double = Stats.median(rs.map(f))
    val reqJobs = rs.map { r =>
      val ids = Recorder.subtree(r.request, spans)
      jobs.filter(j => ids(j.span))
    }
    val n = rs.size.toDouble
    def perReq(f: JobRec => Double): Double = reqJobs.map(_.map(f).sum).sum / n
    res.layer("server.overhead_ms", med(r => r.done.ms - r.request.durMs),
      "ms")
    res.layer("parser.parse_ms", med(child(_, "parse").durMs), "ms")
    res.layer("exec.translate_ms", med(child(_, "translate").durMs), "ms")
    res.layer("exec.translate_jobs",
      rs.map(r => jobs.count(_.span == child(r, "translate").id)).sum / n,
      "count")
    res.layer("catalyst.optimize_ms", med(child(_, "optimize").durMs), "ms")
    res.layer("catalyst.plan_ms", med(child(_, "plan").durMs), "ms")
    res.layer("catalyst.plan_nodes", med(_.nodes.toDouble), "count")
    res.layer("catalyst.exchanges", med(_.exchanges.toDouble), "count")
    res.layer("catalyst.probe_plan_nodes",
      if (b.probeNodes.isEmpty) 0.0 else b.probeNodes.last, "count")
    if (rw) res.note("probe plan nodes after each write: " +
      b.probeNodes.map(_.toInt).mkString(" "))
    res.sparkLayers(reqJobs.flatten, n,
      med(r => Recorder.driverOnlyMs(r.request, spans, jobs)))
    res.layer("io.results_ms",
      med(r => Recorder.selfMinusJobsMs(child(r, "results"), spans, jobs)),
      "ms")
    res.layer("io.result_kb", med(_.bytes / 1024.0), "KB")
    res.layer("io.parse_s", Stats.median(setups.map(_.parseS)), "s")
    res.layer("io.save_s", Stats.median(setups.map(_.saveS)), "s")
    res.layer("io.open_s", Stats.median(setups.map(_.openS)), "s")
    val writes = b.done.filter(_.req.isUpdate)
    res.layer("update.request_ms",
      if (writes.isEmpty) 0.0 else Stats.median(writes.map(_.ms)), "ms")
    // each template's latency in its last round ÷ in its first round
    // (rounds send the templates in a fixed order, so quarters of the run
    // would compare different templates)
    val growth = b.reads.groupBy(_.req.template).values
      .filter(_.size >= 2).map(ds => ds.last.ms / ds.head.ms).toSeq
    res.layer("update.read_slowdown",
      if (!rw || growth.isEmpty) 0.0 else Stats.median(growth), "ratio")
    res.traceOverhead(a.throughput, b.throughput, a.p50, b.p50)
    Recorder.writeSpans(cfg.spanFile, spans, jobs)
    res.note(s"replayed ${rs.size} reads; spans in ${cfg.spanFile}")
  }
}
