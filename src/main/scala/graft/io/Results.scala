package graft.io

import org.apache.spark.sql.{DataFrame, Row}
import scala.collection.mutable.ListBuffer
import scala.jdk.CollectionConverters._
import graft.model.{QuotedTriple, Term}

/** SPARQL Query Results serializers (oxigraph: lib/sparesults —
  * SURVEY.md §2.1 "results sinks"): solution DataFrames (one term-struct
  * column per variable) to the W3C JSON / CSV / TSV result formats.
  *
  * Serialization is an output boundary: rows stream through the driver
  * exactly like the reference streams solutions to its writer. For bulk
  * materialization the parquet path (Verify) is the scale sink; these
  * formats exist for SPARQL-protocol parity.
  */
object Results {

  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def termJson(t: Row): String = {
    val kind = t.getByte(0)
    val lex = jsonEscape(Option(t.getString(1)).getOrElse(""))
    kind match {
      case k if k == Term.IriKind.toByte =>
        s"""{"type":"uri","value":"$lex"}"""
      case k if k == Term.BlankKind.toByte =>
        s"""{"type":"bnode","value":"$lex"}"""
      case k if k == Term.QuotedKind.toByte =>
        // SPARQL-star JSON: nested triple object, recursively decoded
        // from the canonical lex
        Option(QuotedTriple.decode(t.getString(1))).map { parts =>
          def r(q: QuotedTriple.QTerm) =
            termJson(Row(q.kind, q.lex, q.dt, q.lang))
          s"""{"type":"triple","value":{"subject":${r(parts(0))},""" +
            s""""predicate":${r(parts(1))},"object":${r(parts(2))}}}"""
        }.getOrElse(s"""{"type":"triple","value":"$lex"}""")
      case _ =>
        val dt = Option(t.getString(2))
        val lang = Option(t.getString(3))
        // SPARQL 1.2 results JSON: a directional literal carries the
        // base language in "xml:lang" plus a "dir" member
        val extra = lang.map { l =>
          splitTag(l) match {
            case (base, Some(dir)) =>
              s""","xml:lang":"${jsonEscape(base)}","dir":"$dir""""
            case (base, None) => s""","xml:lang":"${jsonEscape(base)}""""
          }
        }.getOrElse(dt match {
            case Some(Term.XsdString) | None => ""
            case Some(d) => s""","datatype":"${jsonEscape(d)}""""
          })
        s"""{"type":"literal","value":"$lex"$extra}"""
    }
  }

  /** Split a stored tag into (base language, optional direction). */
  private def splitTag(l: String): (String, Option[String]) = {
    val i = l.indexOf("--")
    if (i < 0) (l, None) else (l.substring(0, i), Some(l.substring(i + 2)))
  }

  /** Boolean (ASK) result detection: QueryExec.ask yields one
    * BooleanType column; a round-tripped boolean document yields the
    * single `__ask` term column.
    */
  private def askValue(df: DataFrame): Option[Boolean] =
    df.schema.fields match {
      case Array(f) if f.dataType ==
        org.apache.spark.sql.types.BooleanType =>
        Some(df.head.getBoolean(0))
      case Array(f) if f.name == "__ask" =>
        Some(df.head.getAs[Row](0).getString(1) == "true")
      case _ => None
    }

  /** W3C SPARQL 1.1 Query Results JSON. */
  def toJson(solutions: DataFrame): String = {
    val sb = new java.lang.StringBuilder; writeJson(solutions, sb); sb.toString
  }

  /** JSON results streamed into `out` through [[Fetch.rows]] (one job
    * for a result within the row gate, one partition at a time past
    * it) — the endpoint path never holds the whole document driver-side.
    */
  def writeJson(solutions: DataFrame, out: Appendable): Unit = {
    askValue(solutions) match {
      case Some(b) =>
        out.append(s"""{"head":{},"boolean":$b}"""); return
      case None =>
    }
    val vars = solutions.columns
    val head = vars.map(v => s""""${jsonEscape(v)}"""").mkString("[", ",", "]")
    out.append(s"""{"head":{"vars":$head},"results":{"bindings":[""")
    var first = true
    Fetch.rows(solutions).foreach { row =>
      val entries = vars.zipWithIndex.flatMap { case (v, i) =>
        Option(row.getAs[Row](i)).map(t => s""""${jsonEscape(v)}":${termJson(t)}""")
      }
      if (!first) out.append(",")
      first = false
      out.append(entries.mkString("{", ",", "}"))
    }
    out.append("]}}")
  }

  private def termText(t: Row, tsv: Boolean,
      edition12: Boolean = false): String = {
    val kind = t.getByte(0)
    val lex = Option(t.getString(1)).getOrElse("")
    if (!tsv) lex // CSV: plain lexical forms (spec §4)
    else kind match { // TSV: full N-Triples terms (spec §3)
      case k if k == Term.IriKind.toByte => s"<$lex>"
      case k if k == Term.BlankKind.toByte => s"_:$lex"
      // quoted triple: lex already IS the canonical N-Triples-star
      // token; the RDF 1.2 results edition re-renders it as a
      // <<( … )>> triple term (results cells are object-position-free,
      // so no subject check applies). The canonical lex escapes
      // \\ \" \n \r but legally keeps TAB raw (N-Triples allows it) —
      // raw TAB is a CELL SEPARATOR here, so it must re-escape or the
      // row silently grows a column (wave 27 catch)
      case k if k == Term.QuotedKind.toByte =>
        (if (edition12) Option(QuotedTriple.tripleTermLex(lex)).getOrElse(lex)
         else lex).replace("\t", "\\t")
      case _ =>
        val esc = lex.replace("\\", "\\\\").replace("\"", "\\\"")
          .replace("\n", "\\n").replace("\t", "\\t")
        Option(t.getString(3)) match {
          case Some(lang) => s""""$esc"@$lang"""
          case None => Option(t.getString(2)) match {
            case Some(Term.XsdString) | None => s""""$esc""""
            case Some(dt) => s""""$esc"^^<$dt>"""
          }
        }
    }
  }

  private def csvEscape(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** W3C SPARQL 1.1 Query Results CSV / TSV. Boolean (ASK) results
    * serialize as a single true/false line (the sparesults convention —
    * the W3C CSV/TSV spec defines solution sequences only).
    */
  def toSeparated(solutions: DataFrame, tsv: Boolean): String = {
    val sb = new java.lang.StringBuilder
    writeSeparated(solutions, tsv, sb)
    sb.toString
  }

  /** CSV/TSV results streamed into `out` (line-oriented — the natural
    * endpoint streaming form).
    */
  def writeSeparated(solutions: DataFrame, tsv: Boolean,
      out: Appendable, edition12: Boolean = false): Unit = {
    askValue(solutions) match {
      case Some(b) => out.append(s"$b\r\n"); return
      case None =>
    }
    val vars = solutions.columns
    val sep = if (tsv) "\t" else ","
    out.append(
      (if (tsv) vars.map("?" + _) else vars).mkString(sep)).append("\r\n")
    Fetch.rows(solutions).foreach { row =>
      val cells = vars.indices.map { i =>
        Option(row.getAs[Row](i)) match {
          case None => ""
          case Some(t) =>
            val s = termText(t, tsv, edition12)
            if (tsv) s else csvEscape(s)
        }
      }
      out.append(cells.mkString(sep)).append("\r\n")
    }
  }

  def toCsv(solutions: DataFrame): String = toSeparated(solutions, tsv = false)
  def toTsv(solutions: DataFrame): String = toSeparated(solutions, tsv = true)

  /** TSV in the RDF 1.2 output edition: quoted terms render as
    * `<<( s p o )>>` triple terms instead of the CG `<< >>` lex.
    */
  def toTsv12(solutions: DataFrame): String = {
    val sb = new java.lang.StringBuilder
    writeSeparated(solutions, tsv = true, sb, edition12 = true)
    sb.toString
  }

  private def xmlEscape(s: String): String = s.flatMap {
    case '&' => "&amp;"; case '<' => "&lt;"; case '>' => "&gt;"
    case '"' => "&quot;"
    // a raw CR in element content is NORMALIZED to LF by every
    // conforming XML parser (XML 1.0 §2.11) — it only survives a
    // roundtrip as a character reference
    case '\r' => "&#13;"
    case c => c.toString
  }

  /** One term as its XML results element (recursive for RDF-star
    * quoted triples: the SPARQL 1.2 <triple> element).
    */
  private def termXml(kind: Byte, lex0: String, dt: String,
      lang: String): String = {
    val lex = xmlEscape(Option(lex0).getOrElse(""))
    if (kind == Term.IriKind.toByte) s"<uri>$lex</uri>"
    else if (kind == Term.BlankKind.toByte) s"<bnode>$lex</bnode>"
    else if (kind == Term.QuotedKind.toByte)
      Option(QuotedTriple.decode(lex0)).map { p =>
        def r(q: QuotedTriple.QTerm) = termXml(q.kind, q.lex, q.dt, q.lang)
        s"<triple><subject>${r(p(0))}</subject>" +
          s"<predicate>${r(p(1))}</predicate>" +
          s"<object>${r(p(2))}</object></triple>"
      }.getOrElse(s"<literal>$lex</literal>")
    else Option(lang) match {
      // SPARQL 1.2 results XML: direction as an its:dir attribute
      // (ITS 2.0 namespace, declared on the <sparql> root)
      case Some(l) => splitTag(l) match {
        case (base, Some(dir)) => s"""<literal xml:lang="${
          xmlEscape(base)}" its:dir="$dir">$lex</literal>"""
        case (base, None) =>
          s"""<literal xml:lang="${xmlEscape(base)}">$lex</literal>"""
      }
      case None => Option(dt) match {
        case Some(Term.XsdString) | None => s"<literal>$lex</literal>"
        case Some(d) => s"""<literal datatype="${xmlEscape(d)}">$lex</literal>"""
      }
    }
  }

  /** W3C SPARQL Query Results XML Format (the sparesults XML writer). */
  def toXml(solutions: DataFrame): String = {
    val sb = new java.lang.StringBuilder; writeXml(solutions, sb); sb.toString
  }

  /** XML results streamed into `out` through [[Fetch.rows]]. */
  def writeXml(solutions: DataFrame, out: Appendable): Unit = {
    askValue(solutions) match {
      case Some(b) =>
        out.append("""<?xml version="1.0"?><sparql xmlns=""" +
          s""""http://www.w3.org/2005/sparql-results#"><head/>""" +
          s"<boolean>$b</boolean></sparql>")
        return
      case None =>
    }
    val vars = solutions.columns
    out.append(
      """<?xml version="1.0"?><sparql xmlns="http://www.w3.org/2005/sparql-results#" xmlns:its="http://www.w3.org/2005/11/its"><head>""")
    vars.foreach(v => out.append(s"""<variable name="${xmlEscape(v)}"/>"""))
    out.append("</head><results>")
    Fetch.rows(solutions).foreach { row =>
      out.append("<result>")
      vars.zipWithIndex.foreach { case (v, i) =>
        Option(row.getAs[Row](i)).foreach { t =>
          out.append(s"""<binding name="${xmlEscape(v)}">""")
          val lex = xmlEscape(Option(t.getString(1)).getOrElse(""))
          t.getByte(0) match {
            case k if k == Term.IriKind.toByte =>
              out.append(s"<uri>$lex</uri>")
            case k if k == Term.BlankKind.toByte =>
              out.append(s"<bnode>$lex</bnode>")
            case k if k == Term.QuotedKind.toByte =>
              out.append(termXml(t.getByte(0), t.getString(1),
                t.getString(2), t.getString(3)))
            case _ =>
              (Option(t.getString(3)), Option(t.getString(2))) match {
                case (Some(lang), _) =>
                  out.append(termXml(t.getByte(0), t.getString(1),
                    t.getString(2), lang))
                case (None, Some(Term.XsdString)) | (None, None) =>
                  out.append(s"<literal>$lex</literal>")
                case (None, Some(dt)) =>
                  out.append(
                    s"""<literal datatype="${xmlEscape(dt)}">$lex</literal>""")
              }
          }
          out.append("</binding>")
        }
      }
      out.append("</result>")
    }
    out.append("</results></sparql>")
  }

  // ---- parse direction (oxigraph: lib/sparesults readers) ------------
  // Results documents are small by construction (they already passed
  // through a driver/endpoint); parsing is driver-side, the DataFrame is
  // for composing with the engine. Bulk interchange stays on parquet.

  /** Parse a W3C SPARQL 1.1 JSON results document into a solution
    * DataFrame (one Term-struct column per head var). Results documents
    * are driver-side protocol payloads (see section note above), so the
    * document parses with Jackson row-by-row — which also makes the
    * SPARQL 1.2 nested `"type":"triple"` objects (RDF-star) a simple
    * recursion. ASK documents yield a single `__ask` column.
    */
  def fromJson(spark: org.apache.spark.sql.SparkSession,
      json: String): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    import com.fasterxml.jackson.databind.JsonNode
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(json)
    if (root.has("boolean"))
      return askDf(spark, root.get("boolean").asBoolean)
    val vars = Option(root.get("head")).flatMap(h => Option(h.get("vars")))
      .map(_.elements.asScala.map(_.asText).toSeq).getOrElse(Nil)
    def term(n: JsonNode): Row =
      if (n == null || n.isNull || !n.has("type")) null
      else n.get("type").asText match {
        case "uri" => Row(Term.IriKind.toByte, n.get("value").asText,
          null, null)
        case "bnode" => Row(Term.BlankKind.toByte, n.get("value").asText,
          null, null)
        case "triple" =>
          val v = n.get("value")
          def q(r: Row) = QuotedTriple.QTerm(r.getByte(0), r.getString(1),
            r.getString(2), r.getString(3))
          val parts = Seq("subject", "predicate", "object")
            .map(f => Option(v.get(f)).map(term).orNull)
          if (parts.exists(_ == null)) null
          else Row(Term.QuotedKind.toByte,
            QuotedTriple.encode(q(parts(0)), q(parts(1)), q(parts(2))),
            null, null)
        case "literal" | "typed-literal" => // typed-literal is legacy
          val base = Option(n.get("xml:lang")).map(n => Term.normLang(n.asText))
          // SPARQL 1.2: a "dir" member makes it rdf:dirLangString
          val dir = Option(n.get("dir")).map(_.asText)
          dir.filter(d => d != "ltr" && d != "rtl").foreach(d =>
            throw new IllegalArgumentException(
              s"SPARQL JSON results: invalid dir '$d'"))
          if (dir.isDefined && base.isEmpty)
            throw new IllegalArgumentException(
              "SPARQL JSON results: dir without xml:lang")
          val lang = base.map(b => dir.map(b + "--" + _).getOrElse(b))
          val dt = Option(n.get("datatype")).map(_.asText)
            .getOrElse(lang.map(l => if (dir.isDefined)
              Term.RdfDirLangString else Term.RdfLangString)
              .getOrElse(Term.XsdString))
          Row(Term.LiteralKind.toByte, n.get("value").asText, dt,
            lang.orNull)
        case other => throw new IllegalArgumentException(
          s"SPARQL JSON results: unknown term type '$other'")
      }
    // a SELECT document REQUIRES results.bindings (an ASK's `boolean`
    // returned above) — treating its absence as zero solutions would
    // turn a malformed response into a silent empty result
    val bindings = Option(root.get("results"))
      .flatMap(r => Option(r.get("bindings")))
      .getOrElse(throw new IllegalArgumentException(
        "SPARQL JSON results: missing results.bindings"))
      .elements.asScala.toSeq
    val rows = bindings.map(b =>
      Row(vars.map(v => Option(b.get(v)).map(term).orNull): _*))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList),
      StructType(vars.map(v =>
        StructField(v, Term.schema, nullable = true)).toSeq))
  }

  /** Parse a W3C SPARQL Query Results XML document (the sparesults XML
    * reader direction; also the native expected-results format of the
    * W3C test suite) into a solution DataFrame. Driver-side DOM over a
    * protocol-sized document, namespace-tolerant (matches by local
    * name). ASK documents (`<boolean>`) yield a single `__ask` column.
    */
  def fromXml(spark: org.apache.spark.sql.SparkSession,
      xml: String): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    f.setNamespaceAware(true)
    f.setFeature("http://apache.org/xml/features/nonvalidating/load-external-dtd", false)
    val doc = f.newDocumentBuilder().parse(
      new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
    def children(n: org.w3c.dom.Node, local: String): Seq[org.w3c.dom.Element] = {
      val out = ListBuffer[org.w3c.dom.Element]()
      val cs = n.getChildNodes
      for (i <- 0 until cs.getLength) cs.item(i) match {
        case e: org.w3c.dom.Element if e.getLocalName == local => out += e
        case _ =>
      }
      out.toSeq
    }
    val root = doc.getDocumentElement
    children(root, "boolean").headOption match {
      case Some(b) => return askDf(spark, b.getTextContent.trim == "true")
      case None =>
    }
    val vars = children(root, "head").headOption
      .map(h => children(h, "variable").map(_.getAttribute("name")))
      .getOrElse(Nil)
    def termOf(holder: org.w3c.dom.Element): Row = {
      val uri = children(holder, "uri").headOption
      val bn = children(holder, "bnode").headOption
      val li = children(holder, "literal").headOption
      val tr = children(holder, "triple").headOption
      (uri, bn, li, tr) match {
        case (Some(u), _, _, _) =>
          Row(Term.IriKind.toByte, u.getTextContent, null, null)
        case (_, Some(b), _, _) =>
          Row(Term.BlankKind.toByte, b.getTextContent, null, null)
        case (_, _, Some(l), _) =>
          val base = Option(l.getAttributeNS(
            "http://www.w3.org/XML/1998/namespace", "lang")).filter(_.nonEmpty)
            .map(Term.normLang)
          // SPARQL 1.2: its:dir (ITS 2.0 ns; bare dir tolerated)
          val dir = Option(l.getAttributeNS(
            "http://www.w3.org/2005/11/its", "dir")).filter(_.nonEmpty)
            .orElse(Option(l.getAttribute("dir")).filter(_.nonEmpty))
          dir.filter(d => d != "ltr" && d != "rtl").foreach(d =>
            throw new IllegalArgumentException(
              s"SPARQL XML results: invalid its:dir '$d'"))
          if (dir.isDefined && base.isEmpty)
            throw new IllegalArgumentException(
              "SPARQL XML results: its:dir without xml:lang")
          val lang = base.map(b => dir.map(b + "--" + _).getOrElse(b))
          val dtAttr = Option(l.getAttribute("datatype")).filter(_.nonEmpty)
          // an RDF literal carries a language OR a datatype, never both
          if (lang.isDefined && dtAttr.isDefined)
            throw new IllegalArgumentException(
              "SPARQL XML results: literal with both xml:lang and datatype")
          val dt = dtAttr.getOrElse(lang.map(l0 => if (dir.isDefined)
            Term.RdfDirLangString else Term.RdfLangString)
            .getOrElse(Term.XsdString))
          Row(Term.LiteralKind.toByte, l.getTextContent, dt, lang.orNull)
        case (_, _, _, Some(t)) =>
          // SPARQL 1.2 <triple>: recursively re-encode to canonical lex
          def q(r: Row) = QuotedTriple.QTerm(r.getByte(0), r.getString(1),
            r.getString(2), r.getString(3))
          val parts = Seq("subject", "predicate", "object")
            .map(n => children(t, n).headOption.map(termOf).orNull)
          if (parts.exists(_ == null)) null
          else Row(Term.QuotedKind.toByte,
            QuotedTriple.encode(q(parts(0)), q(parts(1)), q(parts(2))),
            null, null)
        case _ => null
      }
    }
    val rows = for {
      rs <- children(root, "results")
      res <- children(rs, "result")
    } yield {
      val bound = children(res, "binding")
        .map(b => b.getAttribute("name") -> termOf(b)).toMap
      Row(vars.map(v => bound.get(v).orNull): _*)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList),
      StructType(vars.map(v =>
        StructField(v, Term.schema, nullable = true)).toSeq))
  }

  /** Parse W3C SPARQL 1.1 CSV results (plain lexical forms, RFC 4180
    * framing — the read half of sparesults' csv.rs) into a solution
    * DataFrame. CSV is lossy by design (spec §4): term kind and
    * datatype are not recoverable, so every non-empty cell comes back
    * as a plain xsd:string literal. An unquoted empty cell is unbound;
    * a quoted `""` is the empty string literal. Quoted cells may span
    * lines (embedded newlines), so the document is tokenized as a
    * whole, not line-split.
    */
  /** Single `__ask` column carrying the boolean, shared by every
    * boolean-document reader.
    */
  private def askDf(spark: org.apache.spark.sql.SparkSession,
      b: Boolean): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(Row(Term.LiteralKind.toByte, b.toString,
          Term.XsdBoolean, null)))),
      StructType(Seq(StructField("__ask", Term.schema, nullable = true))))
  }

  def fromCsv(spark: org.apache.spark.sql.SparkSession,
      csv: String): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    csv.trim match { // boolean (ASK) document: a bare true/false line
      case "true" => return askDf(spark, true)
      case "false" => return askDf(spark, false)
      case _ =>
    }
    // RFC 4180 tokenizer: records of (cellText, wasQuoted)
    val records = ListBuffer[Vector[(String, Boolean)]]()
    var cells = Vector.newBuilder[(String, Boolean)]
    val cell = new StringBuilder
    var quoted = false
    var inQuotes = false
    var sawAny = false
    def endCell(): Unit = {
      cells += ((cell.toString, quoted)); cell.clear(); quoted = false
    }
    def endRecord(): Unit = {
      endCell(); records += cells.result(); cells = Vector.newBuilder
    }
    var i = 0
    while (i < csv.length) {
      val c = csv.charAt(i)
      if (inQuotes) {
        if (c == '"') {
          if (i + 1 < csv.length && csv.charAt(i + 1) == '"') {
            cell.append('"'); i += 1
          } else inQuotes = false
        } else cell.append(c)
      } else c match {
        case '"' => inQuotes = true; quoted = true
        case ',' => endCell(); sawAny = true
        case '\r' => // consumed; LF (if any) handled next
          endRecord(); sawAny = false
          if (i + 1 < csv.length && csv.charAt(i + 1) == '\n') i += 1
        case '\n' => endRecord(); sawAny = false
        case ch => cell.append(ch)
      }
      i += 1
    }
    if (sawAny || cell.nonEmpty || quoted) endRecord()
    if (inQuotes)
      throw new IllegalArgumentException(
        "CSV results: unterminated quoted cell")
    val recs = records.toList
    if (recs.isEmpty)
      throw new IllegalArgumentException("CSV results: empty document")
    val vars = recs.head.map(_._1.stripPrefix("?")) // "?" tolerated
    val rows = recs.tail.map { r =>
      Row(vars.indices.map { i =>
        val (text, q) = if (i < r.length) r(i) else ("", false)
        if (text.isEmpty && !q) null
        else Row(Term.LiteralKind.toByte, text, Term.XsdString, null)
      }: _*)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows),
      StructType(vars.map(v =>
        StructField(v, Term.schema, nullable = true)).toSeq))
  }

  /** Parse W3C SPARQL 1.1 TSV results (N-Triples-syntax cells) into a
    * solution DataFrame; empty cells are unbound.
    */
  def fromTsv(spark: org.apache.spark.sql.SparkSession,
      tsv: String): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    tsv.trim match { // boolean (ASK) document: a bare true/false line
      case "true" => return askDf(spark, true)
      case "false" => return askDf(spark, false)
      case _ =>
    }
    val lines = tsv.split("\r?\n").filter(_.nonEmpty)
    val vars = lines.head.split("\t").map(_.stripPrefix("?"))
    val rows = lines.tail.map { ln =>
      val cells = ln.split("\t", -1)
      Row(vars.indices.map { i =>
        val c = if (i < cells.length) cells(i).trim else ""
        if (c.isEmpty) null
        else {
          // a binding cell is a standalone term: triple terms <<( )>>
          // are legal here (no object-position restriction applies)
          val t = new RdfIO.LineParser(c).parseTerm(objPos = true)
          Row(t.kind, t.lex, t.dt, t.lang)
        }
      }: _*)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList),
      StructType(vars.map(v =>
        StructField(v, Term.schema, nullable = true)).toSeq))
  }
}
