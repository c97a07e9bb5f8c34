package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.Term

/** Expanded JSON-LD serializer sink — the write direction of
  * [[RdfIO.readJsonLd]] (reference surface, SURVEY.md `path · symbol`
  * convention: lib/oxjsonld · JsonLdSerializer).
  *
  * Spark-first split: ONE expanded node object per QUAD, rendered with
  * pure codegen'd Column string ops — JSON-LD merges repeated `@id`s at
  * parse time, so no grouping pass is needed at all (contrast
  * [[TurtleWriter]], whose syntax forces per-subject runs and therefore
  * a clustering exchange). Named-graph quads wrap themselves in
  * `{"@id": g, "@graph": [...]}`. The only non-Column work is the
  * per-partition array framing (a narrow mapPartitions emitting "[",
  * ","-separated objects, "]"), so the hot path stays in whole-stage
  * codegen and nothing shuffles.
  *
  * Each part file is a self-contained expanded JSON-LD document — the
  * read side (`wholeTextFiles` + JsonLdParser per file) parses parts
  * independently; empty partitions emit `[]`.
  *
  * Literal values are escaped by `to_json` (full JSON escaping
  * including control characters); IRI / blank-node tokens are emitted
  * verbatim because the RDF grammars this engine parses forbid quotes,
  * backslashes, and control characters in them. RDF-star quoted terms
  * have no standard JSON-LD mapping (JSON-LD-star is a draft), so quads
  * carrying them fail loudly instead of being silently mangled.
  */
object JsonLdWriter {

  private val I18nNs = "https://www.w3.org/ns/i18n#"

  /** JSON token of an OBJECT-position term: literals through to_json
    * (null fields dropped, so plain / typed / lang forms emerge from
    * one struct), IRIs and bnodes as `{"@id": tok}`.
    *
    * When `rdfDirection` is Some("i18n-datatype"), literals typed
    * `https://www.w3.org/ns/i18n#{lang}_{dir}` are folded BACK into
    * `{"@value":…, "@language":…, "@direction":…}` value objects (the
    * RDF-to-JSON-LD §9 direction option, inverse of the parser's
    * `directedLit`); an empty lang slot drops `@language`. Other modes
    * (None, "compound-literal") leave the datatype as-is: compound
    * literals are plain reification TRIPLES on the RDF side and
    * round-trip through the default path unchanged.
    */
  private def objToken(t: Column,
      rdfDirection: Option[String] = None): Column = {
    val dt = when(t("lang").isNull && t("dt").isNotNull &&
      t("dt") =!= Term.XsdString, t("dt"))
    // a native rdf:dirLangString ("lang--dir" tag) splits into
    // @language + @direction — the combined tag must never leak
    val hasDir = t("lang").isNotNull && t("lang").contains("--")
    val plain = to_json(struct(
      t("lex").as("@value"), dt.as("@type"),
      when(hasDir, substring_index(t("lang"), "--", 1))
        .otherwise(t("lang")).as("@language"),
      when(hasDir, substring_index(t("lang"), "--", -1)).as("@direction")))
    val literal = rdfDirection match {
      case Some("i18n-datatype") =>
        val tag = substring(t("dt"), I18nNs.length + 1, 1 << 20)
        val i18nLang = regexp_extract(tag, "^(.*)_(ltr|rtl)$", 1)
        val i18nDir = regexp_extract(tag, "^(.*)_(ltr|rtl)$", 2)
        when(t("lang").isNull && t("dt").isNotNull &&
          t("dt").startsWith(I18nNs) && i18nDir =!= "",
          to_json(struct(t("lex").as("@value"),
            when(i18nLang =!= "", i18nLang).as("@language"),
            i18nDir.as("@direction"))))
          .otherwise(plain)
      case _ => plain
    }
    when(t("kind") === Term.LiteralKind, literal)
      .when(t("kind") === Term.QuotedKind, raise_error(concat(
        lit("JSON-LD has no quoted-triple form (JSON-LD-star is a " +
          "draft); cannot serialize "), t("lex"))))
      .otherwise(concat(lit("{\"@id\":\""), idToken(t), lit("\"}")))
  }

  /** `@id` token: IRI lexical, or `_:label` for blank nodes. */
  private def idToken(t: Column): Column =
    when(t("kind") === Term.QuotedKind, raise_error(concat(
      lit("JSON-LD has no quoted-triple form (JSON-LD-star is a " +
        "draft); cannot serialize "), t("lex"))))
      .otherwise(when(t("kind") === Term.BlankKind,
        concat(lit("_:"), t("lex"))).otherwise(t("lex")))

  /** One expanded node object for one quad (graph wrap when named). */
  private[io] def quadObject(g: Column, s: Column, p: Column,
      o: Column, rdfDirection: Option[String] = None): Column = {
    val node = concat(lit("{\"@id\":\""), idToken(s), lit("\",\""),
      p("lex"), lit("\":["), objToken(o, rdfDirection), lit("]}"))
    when(g("kind") === Term.DefaultGraphKind, node)
      .otherwise(concat(lit("{\"@id\":\""), idToken(g),
        lit("\",\"@graph\":["), node, lit("]}")))
  }

  /** Quads as ONE expanded JSON-LD document string — protocol
    * responses only (interactive scale, driver-side by design);
    * dataset-scale export goes through [[write]].
    */
  def jsonLdString(quads: DataFrame,
      rdfDirection: Option[String] = None): String = {
    val sb = new java.lang.StringBuilder
    writeJsonLd(quads, sb, rdfDirection)
    sb.toString
  }

  /** Stream quads as ONE expanded JSON-LD document into `out` —
    * node objects are independent, so the document streams through
    * [[Fetch.rows]]: one job while the document is within the row gate
    * ([[graft.ops.Skew.BroadcastRowGate]] node objects), one partition
    * at a time past it (the protocol dump path for datasets too large
    * to hold driver-side).
    */
  def writeJsonLd(quads: DataFrame, out: Appendable,
      rdfDirection: Option[String] = None): Unit = {
    val it = Fetch.rows(quads.select(
      quadObject(col("g"), col("s"), col("p"), col("o"), rdfDirection)
        .as("value")))
    out.append('[')
    var first = true
    it.foreach { r =>
      if (!first) out.append(',')
      first = false
      out.append(r.getString(0))
    }
    out.append(']')
  }

  /** Write quads as per-part expanded JSON-LD documents. */
  def write(quads: DataFrame, path: String,
      rdfDirection: Option[String] = None): Unit = {
    val spark = quads.sparkSession
    import spark.implicits._
    quads
      .select(quadObject(col("g"), col("s"), col("p"), col("o"),
        rdfDirection).as("value"))
      .as[String]
      .mapPartitions { it =>
        if (it.isEmpty) Iterator("[]")
        else Iterator("[") ++
          it.zipWithIndex.map { case (s, i) => if (i == 0) s else "," + s } ++
          Iterator("]")
      }
      .write.mode("overwrite").text(path)
  }
}
