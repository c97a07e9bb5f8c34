package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.Term

/** Turtle / TriG serializer sinks (reference surface: oxigraph's
  * `RdfSerializer` writes Turtle and TriG alongside N-Triples/N-Quads —
  * SURVEY.md `path · symbol` convention: lib/oxttl/src/turtle.rs ·
  * TurtleSerializer, lib/oxttl/src/trig.rs · TriGSerializer).
  *
  * Spark-first split of the work:
  *   - everything per-TERM (escaping, prefix compaction, literal
  *     shorthand decisions) is pure codegen'd Column work computed
  *     BEFORE the sink — the hot path stays in whole-stage codegen;
  *   - run-length grouping (subject blocks with `;`/`,`, GRAPH blocks)
  *     is inherently sequential within a partition, so the final pass
  *     is one narrow mapPartitions over pre-rendered token strings: no
  *     shuffle beyond the single clustering exchange, per-subject
  *     buffering only (memory bounded by max subject degree).
  *
  * Each output part file is a self-contained Turtle/TriG document
  * (directives repeat per part — Turtle allows @prefix anywhere between
  * statements), so parts stay independently parseable AND their
  * concatenation is one valid document. A graph whose subjects span
  * partitions emits one GRAPH block per partition; TriG datasets are
  * the union of their blocks, so repetition is harmless.
  */
object TurtleWriter {

  /** Prefixes every emitted document declares (callers extend this map
    * with corpus-specific namespaces).
    */
  val DefaultPrefixes: Seq[(String, String)] = Seq(
    "rdf" -> "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs" -> "http://www.w3.org/2000/01/rdf-schema#",
    "xsd" -> "http://www.w3.org/2001/XMLSchema#")

  private val RdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
  // conservative PN_LOCAL subset: compact only names this engine (and
  // any Turtle 1.1 parser) re-reads unambiguously; anything else keeps
  // the full <iri> form
  private val SafeLocal = "^[A-Za-z_][A-Za-z0-9_-]*$"

  /** prefixed-name form of an IRI lexical, null when not compactable */
  private def pname(lex: Column, prefixes: Seq[(String, String)]): Column =
    prefixes.foldLeft(lit(null).cast("string")) { case (acc, (p, ns)) =>
      val local = lex.substr(lit(ns.length + 1), length(lex))
      coalesce(acc, when(lex.startsWith(ns) &&
        regexp_like(local, lit(SafeLocal)), concat_ws(":", lit(p), local)))
    }

  /** Turtle token of one term: prefixed IRIs, `a` for rdf:type in
    * predicate position, literal short forms left OFF (typed lexicals
    * always carry their datatype — lossless under every reader).
    */
  /** Subject token under the RDF 1.2 edition: a quoted-triple SUBJECT
    * has no 1.2 spelling (triple terms are object-only) — loud error.
    */
  private def subjTok(t: Column, prefixes: Seq[(String, String)],
      edition12: Boolean): Column =
    if (!edition12) ttlTerm(t, prefixes)
    else when(t("kind") === Term.QuotedKind, raise_error(concat(
      lit("RDF 1.2 edition: a quoted triple in SUBJECT position has " +
        "no triple-term spelling (object-only): "), t("lex"))))
      .otherwise(ttlTerm(t, prefixes, edition12 = true))

  private def ttlTerm(t: Column, prefixes: Seq[(String, String)],
      predicatePos: Boolean = false, edition12: Boolean = false): Column = {
    val iriTok =
      coalesce(pname(t("lex"), prefixes),
        concat(lit("<"), t("lex"), lit(">")))
    val iri =
      if (predicatePos) when(t("lex") === RdfType, lit("a")).otherwise(iriTok)
      else iriTok
    when(t("kind") === Term.IriKind, iri)
      .when(t("kind") === Term.BlankKind, concat(lit("_:"), t("lex")))
      // quoted triple lexicals already ARE canonical Turtle-star tokens;
      // the 1.2 edition re-renders them as <<( … )>> triple terms
      .when(t("kind") === Term.QuotedKind,
        if (edition12) graft.expr.TripleTermLex.convert(t("lex"))
        else t("lex"))
      .otherwise(concat(lit("\""), RdfIO.escape(t("lex")), lit("\""),
        when(t("lang").isNotNull, concat(lit("@"), t("lang")))
          .when(t("dt").isNotNull && t("dt") =!= Term.XsdString,
            concat(lit("^^"), coalesce(pname(t("dt"), prefixes),
              concat(lit("<"), t("dt"), lit(">")))))
          .otherwise(lit(""))))
  }

  private def header(prefixes: Seq[(String, String)]): Seq[String] =
    prefixes.map { case (p, ns) => s"@prefix $p: <$ns> ." }

  /** Shared grouped-emission core: rows pre-tokenized to (graph,
    * subject, predicate, object) strings, clustered so each (g, s) run
    * is contiguous within its partition.
    */
  private def emit(tok: DataFrame, prefixes: Seq[(String, String)],
      path: String): Unit =
    lineset(tok.repartition(col("gt"), col("st")), prefixes)
      .write.mode("overwrite").text(path)

  /** Tokenized rows -> serialized lines. The caller picks the
    * partitioning: subject-clustered for the distributed sink (each
    * partition is a self-contained document), a single partition for
    * the string form (one document, globally subject-grouped).
    */
  private def lineset(tok: DataFrame,
      prefixes: Seq[(String, String)], withHeader: Boolean = true) = {
    val spark = tok.sparkSession
    import spark.implicits._
    val hdr = if (withHeader) header(prefixes) else Nil
    tok
      .sortWithinPartitions("gt", "st", "pt", "ot")
      .as[(String, String, String, String)]
      .mapPartitions { it =>
        val out = scala.collection.mutable.Queue[String]()
        var started = false // header emitted (non-empty partitions only)
        var closed = false
        var curG: String = null // null = no open GRAPH block
        var curS: String = null
        var curP: String = null
        var sb: StringBuilder = null
        def indent = if (curG == null) "" else "  "
        def flushSubject(): Unit = if (sb != null) {
          out += sb.append(" .").result(); sb = null; curS = null; curP = null
        }
        def closeGraph(): Unit = {
          flushSubject()
          if (curG != null) { out += "}"; curG = null }
        }
        def push(g: String, s: String, p: String, o: String): Unit = {
          if (!started) { hdr.foreach(out += _); started = true }
          val gk = if (g.isEmpty) null else g
          if (gk != curG) {
            closeGraph()
            if (gk != null) { out += s"GRAPH $gk {"; curG = gk }
          }
          if (s != curS) {
            flushSubject()
            sb = new StringBuilder(indent).append(s)
              .append(' ').append(p).append(' ').append(o)
            curS = s; curP = p
          } else if (p != curP) {
            sb.append(" ;\n").append(indent).append("    ")
              .append(p).append(' ').append(o)
            curP = p
          } else sb.append(" , ").append(o)
        }
        new Iterator[String] {
          def hasNext: Boolean = {
            while (out.isEmpty && it.hasNext) {
              val r = it.next()
              push(r._1, r._2, r._3, r._4)
            }
            if (out.isEmpty && !closed) { closed = true; closeGraph() }
            out.nonEmpty
          }
          def next(): String = out.dequeue()
        }
      }
  }

  /** Serialize triples (s, p, o) as Turtle. `edition12` renders quoted
    * triples as RDF 1.2 triple terms (object-only; quoted subjects
    * error loudly).
    */
  def writeTurtle(triples: DataFrame, path: String,
      prefixes: Seq[(String, String)] = DefaultPrefixes,
      edition12: Boolean = false): Unit =
    emit(triples.select(lit("").as("gt"),
      subjTok(col("s"), prefixes, edition12).as("st"),
      ttlTerm(col("p"), prefixes, predicatePos = true).as("pt"),
      ttlTerm(col("o"), prefixes, edition12 = edition12).as("ot")),
      prefixes, path)

  /** Triples as ONE Turtle document string — protocol responses only
    * (interactive scale, driver-side by design); dataset-scale export
    * goes through [[writeTurtle]].
    */
  def turtleString(triples: DataFrame,
      prefixes: Seq[(String, String)] = DefaultPrefixes): String = {
    val lines = lineset(triples.select(lit("").as("gt"),
      ttlTerm(col("s"), prefixes).as("st"),
      ttlTerm(col("p"), prefixes, predicatePos = true).as("pt"),
      ttlTerm(col("o"), prefixes).as("ot")).repartition(1), prefixes)
      .collect()
    if (lines.isEmpty) header(prefixes).mkString("", "\n", "\n")
    else lines.mkString("", "\n", "\n")
  }

  /** Triples as ONE Turtle document streamed line by line — the
    * protocol dump path for graphs too large to hold driver-side.
    * Range-partitioning on the subject token keeps every subject's run
    * inside one partition with partitions globally ordered, and
    * [[Fetch.rows]] emits partitions in order, so the concatenation is a
    * single subject-grouped document (the header is emitted once,
    * driver-side). Within the row gate ([[graft.ops.Skew.BroadcastRowGate]])
    * the lines arrive in one job; past it, each over-bound partition is
    * fetched on its own, one resident at a time.
    */
  def turtleLines(triples: DataFrame,
      prefixes: Seq[(String, String)] = DefaultPrefixes)
      : Iterator[String] = {
    val tok = triples.select(lit("").as("gt"),
      ttlTerm(col("s"), prefixes).as("st"),
      ttlTerm(col("p"), prefixes, predicatePos = true).as("pt"),
      ttlTerm(col("o"), prefixes).as("ot"))
      .repartitionByRange(col("st"))
    header(prefixes).iterator ++
      Fetch.rows(lineset(tok, prefixes, withHeader = false).toDF())
        .map(_.getString(0))
  }

  /** Serialize quads (g, s, p, o) as TriG — default-graph rows become
    * bare triples, named graphs GRAPH blocks.
    */
  def writeTriG(quads: DataFrame, path: String,
      prefixes: Seq[(String, String)] = DefaultPrefixes,
      edition12: Boolean = false): Unit =
    emit(quads.select(
      when(col("g")("kind") === Term.DefaultGraphKind, lit(""))
        .otherwise(ttlTerm(col("g"), prefixes)).as("gt"),
      subjTok(col("s"), prefixes, edition12).as("st"),
      ttlTerm(col("p"), prefixes, predicatePos = true).as("pt"),
      ttlTerm(col("o"), prefixes, edition12 = edition12).as("ot")),
      prefixes, path)
}
