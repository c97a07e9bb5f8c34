package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite
import graft.io.{RdfIO, TpchRdf}
import graft.model.Term

class RdfIOSpec extends AnyFunSuite {
  import TestSpark._

  test("N-Triples line parser handles escapes, datatypes, lang tags") {
    val q = RdfIO.parseLine(
      """<http://e/s> <http://e/p> "a\"b\ncé"^^<http://www.w3.org/2001/XMLSchema#string> .""",
      allowGraph = false).get
    assert(q.o.lex == "a\"b\ncé")
    val l = RdfIO.parseLine(
      """_:b1 <http://e/p> "hola"@es-419 .""", allowGraph = false).get
    assert(l.s.kind == 1 && l.o.lang == "es-419")
    assert(RdfIO.parseLine("# comment", allowGraph = false).isEmpty)
    assert(RdfIO.parseLine("   ", allowGraph = false).isEmpty)
    val nq = RdfIO.parseLine(
      """<http://e/s> <http://e/p> "x" <http://e/g> .""",
      allowGraph = true).get
    assert(nq.g.lex == "http://e/g")
  }

  test("N-Triples/N-Quads parse compiles to Java, with no interpreted " +
      "fallback, and keeps every quad") {
    val lines = Seq(
      """<http://e/s> <http://e/p> "a\"b\ncé"^^<http://www.w3.org/2001/XMLSchema#string> .""",
      """_:b1 <http://e/p> "hola"@es-419 <http://e/g> .""",
      "# comment",
      "",
      """<http://e/s> <http://e/q> _:b1 _:g .""",
      """<http://e/s> <http://e/n> "42"^^<http://www.w3.org/2001/XMLSchema#integer> .""",
      """<http://e/r> <http://e/t> << <http://e/s> <http://e/p> "v" >> .""")
    val dir = java.nio.file.Files.createTempDirectory("graft_nqgen")
    val nq = dir.resolve("d.nq")
    val nt = dir.resolve("d.nt")
    java.nio.file.Files.writeString(nq, lines.mkString("", "\n", "\n"))
    java.nio.file.Files.writeString(nt,
      lines.filterNot(_.contains("<http://e/g>"))
        .map(_.replace(" _:g .", " .")).mkString("", "\n", "\n"))
    def rowsOf(q: RdfIO.QuadRow): Seq[Row] = Seq(q.g, q.s, q.p, q.o)
      .map(t => Row(t.kind, t.lex, t.dt, t.lang))
    def expected(path: java.nio.file.Path, allowGraph: Boolean) =
      java.nio.file.Files.readAllLines(path).toArray.toSeq
        .flatMap(l => RdfIO.parseLine(l.toString, allowGraph))
        .map(rowsOf).sortBy(_.toString)
    def parsed(df: DataFrame) = df.collect().map(_.toSeq).toSeq
      .sortBy(_.toString)
    val confs = Seq("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val (quads, triples) = try (
      parsed(RdfIO.readNQuads(spark, nq.toString)),
      parsed(RdfIO.readNTriples(spark, nt.toString))
    ) finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    assert(quads == expected(nq, allowGraph = true) && quads.size == 5)
    assert(triples == expected(nt, allowGraph = false) && triples.size == 4)
  }

  test("RDF 1.2 output edition: quoted terms serialize as <<( )>> " +
      "triple terms, roundtrip losslessly, quoted subjects error") {
    import graft.model.QuotedTriple
    // lex conversion, incl. a nested quoted component
    assert(QuotedTriple.tripleTermLex(
      """<< <http://x/s> <http://x/p> "v" >>""") ==
      """<<( <http://x/s> <http://x/p> "v" )>>""")
    assert(QuotedTriple.tripleTermLex(
      "<< <http://x/s> <http://x/p> << <http://x/a> <http://x/b> " +
        "<http://x/c> >> >>") ==
      "<<( <http://x/s> <http://x/p> <<( <http://x/a> <http://x/b> " +
        "<http://x/c> )>> )>>")
    val dir = java.nio.file.Files.createTempDirectory("graft_ed12")
    java.nio.file.Files.writeString(dir.resolve("in.nt"),
      """<http://x/r> <http://x/reifies> << <http://x/s> <http://x/p> "v" >> .
        |<http://x/r> <http://x/q> << <http://x/s> <http://x/p> << <http://x/a> <http://x/b> <http://x/c> >> >> .
        |<http://x/plain> <http://x/p> "w" .
        |""".stripMargin)
    val quads = RdfIO.read(spark, dir.resolve("in.nt").toString, "nt")
    for (fmt <- Seq("nt", "ttl", "trig", "nq")) {
      val out = dir.resolve(s"out_$fmt").toString
      RdfIO.write(quads, out, fmt, edition12 = true)
      val text = spark.read.text(out).collect().map(_.getString(0))
        .mkString("\n")
      assert(text.contains("<<(") && text.contains(")>>"),
        s"$fmt: expected triple-term spelling in:\n$text")
      assert(!text.matches("(?s).*<<[^(].*"),
        s"$fmt: CG-star token leaked into 1.2-edition output:\n$text")
      val back = RdfIO.read(spark, out, fmt)
      assert(back.count() == quads.count() &&
        back.except(quads).count() == 0 &&
        quads.except(back).count() == 0,
        s"$fmt: 1.2-edition roundtrip must be lossless")
    }
    // the 1.2 edition has no spelling for a quoted SUBJECT — loud error
    java.nio.file.Files.writeString(dir.resolve("subj.nt"),
      """<< <http://x/s> <http://x/p> "v" >> <http://x/q> <http://x/o> .
        |""".stripMargin)
    val subj = RdfIO.read(spark, dir.resolve("subj.nt").toString, "nt")
    for (fmt <- Seq("nt", "ttl")) {
      val e = intercept[Exception] {
        RdfIO.write(subj, dir.resolve(s"bad_$fmt").toString, fmt,
          edition12 = true)
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("SUBJECT")), e.toString)
    }
    // other sinks reject the option rather than silently ignoring it
    assertThrows[IllegalArgumentException] {
      RdfIO.write(quads, dir.resolve("bad_rdf").toString, "rdf",
        edition12 = true)
    }
    // a NESTED quoted SUBJECT has no 1.2 spelling either (a triple
    // term's subject slot is IRI/bnode only at every depth) — the lex
    // converter errors loudly instead of emitting invalid <<( <<( …
    val nestedSubj = "<< << <http://x/a> <http://x/b> <http://x/c> >> " +
      "<http://x/p> <http://x/o> >>"
    val eL = intercept[IllegalArgumentException] {
      QuotedTriple.tripleTermLex(nestedSubj)
    }
    assert(eL.getMessage.contains("SUBJECT"), eL.getMessage)
    // …and the writer path surfaces it: such a term in OBJECT position
    // passes the top-level subject check but must still fail loudly
    java.nio.file.Files.writeString(dir.resolve("nsub.nt"),
      s"<http://x/r> <http://x/q> $nestedSubj .\n")
    val nsub = RdfIO.read(spark, dir.resolve("nsub.nt").toString, "nt")
    val eW = intercept[Exception] {
      RdfIO.write(nsub, dir.resolve("bad_nsub").toString, "nt",
        edition12 = true)
    }
    def wmsgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ wmsgs(t.getCause)
    assert(wmsgs(eW).exists(_.contains("SUBJECT")), eW.toString)
  }

  test("quads -> N-Quads -> quads roundtrip is lossless") {
    val dir = java.nio.file.Files.createTempDirectory("graft_nq").toString
    val quads = TpchRdf.quads(spark, sf)
    RdfIO.writeNQuads(quads, dir)
    val back = RdfIO.readNQuads(spark, dir)
    assert(back.count() == quads.count())
    assert(back.except(quads).count() == 0 &&
      quads.except(back).count() == 0, "roundtrip must be lossless")
  }

  test("LOAD / CREATE / graph management through the update parser") {
    import graft.update.UpdateExec
    val dir = java.nio.file.Files.createTempDirectory("graft_load")
    java.nio.file.Files.writeString(dir.resolve("extra.nt"),
      """<http://x/s1> <http://x/p> "v1" .
        |<http://x/s2> <http://x/p> "v2" .
        |""".stripMargin)
    val quads = TpchRdf.quads(spark, sf)
    val n0 = quads.count()
    // LOAD into a named graph, CREATE no-op, COPY to a second graph,
    // MOVE it onto a third, then DROP the source
    val updated = UpdateExec.executeText(
      s"""LOAD <${dir.resolve("extra.nt")}> INTO GRAPH <urn:g:a> ;
          CREATE GRAPH <urn:g:b> ;
          COPY GRAPH <urn:g:a> TO GRAPH <urn:g:b> ;
          MOVE GRAPH <urn:g:b> TO GRAPH <urn:g:c> ;
          DROP GRAPH <urn:g:a>""", quads)
    assert(updated.count() == n0 + 2)
    import org.apache.spark.sql.functions._
    val inC = updated.where(col("g")("lex") === "urn:g:c").count()
    assert(inC == 2, s"expected the 2 loaded triples in urn:g:c, got $inC")
    assert(updated.where(col("g")("lex").isin("urn:g:a", "urn:g:b"))
      .count() == 0)
    // LOAD without INTO lands in the default graph
    val viaDefault = UpdateExec.executeText(
      s"LOAD <${dir.resolve("extra.nt")}>", quads)
    assert(viaDefault.count() == n0 + 2)
  }

  test("INSERT DATA / DELETE DATA with quoted triples") {
    import org.apache.spark.sql.functions._
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.model.Term.quadSchema)
    val afterIns = graft.update.UpdateExec.executeText(
      """PREFIX : <http://x/>
        |INSERT DATA {
        |  << :a :age 30 >> :certainty 0.9 .
        |  :a :age 30 .
        |}""".stripMargin, empty)
    assert(afterIns.count() == 2)
    val qrow = afterIns.where(col("s")("kind") ===
      graft.model.Term.QuotedKind).collect()
    assert(qrow.length == 1)
    assert(qrow.head.getAs[org.apache.spark.sql.Row]("s").getString(1) ==
      "<< <http://x/a> <http://x/age> \"30\"^^<http://www.w3.org/2001/XMLSchema#integer> >>")
    // DELETE DATA with the same spelling removes exactly that quad
    val afterDel = graft.update.UpdateExec.executeText(
      """PREFIX : <http://x/>
        |DELETE DATA { << :a :age 30 >> :certainty 0.9 . }""".stripMargin,
      afterIns)
    assert(afterDel.count() == 1)
    assert(afterDel.where(col("s")("kind") ===
      graft.model.Term.QuotedKind).count() == 0)
  }

  test("UCHAR escapes in Turtle strings and IRIs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_uchar")
    java.nio.file.Files.writeString(dir.resolve("u.ttl"),
      "<http://e/s\\u00E9> <http://e/p> \"\\u00FCber \\U0001F600\" .\n")
    val rows = graft.io.RdfIO.readTurtle(spark, dir.resolve("u.ttl").toString)
      .select(org.apache.spark.sql.functions.col("s")("lex"),
        org.apache.spark.sql.functions.col("o")("lex"))
      .collect()
    assert(rows.length == 1)
    assert(rows(0).getString(0) == "http://e/s\u00E9")
    assert(rows(0).getString(1) ==
      "\u00FCber " + new String(Character.toChars(0x1F600)))
  }

  test("Turtle reader: prefixes, abbreviations, bnode lists, shorthand") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ttl")
    java.nio.file.Files.writeString(dir.resolve("data.ttl"),
      """@prefix ex: <http://e/> .
        |@base <http://base/> .
        |# a comment
        |ex:a a ex:Thing ;
        |   ex:name "Ann"@en , "Anne" ;
        |   ex:size 42 ;
        |   ex:score 3.5 ;
        |   ex:big 1.0E6 ;
        |   ex:ok true ;
        |   ex:knows [ ex:name "Bob" ] .
        |<rel> ex:p ex:a .
        |_:b1 ex:p "x"^^<http://www.w3.org/2001/XMLSchema#token> .
        |""".stripMargin)
    val df = RdfIO.read(spark, dir.toString + "/data.ttl", "ttl")
    val rows = df.collect()
    assert(rows.length == 11)
    def lexes(p: String) = rows.filter(_.getAs[org.apache.spark.sql.Row]("p")
      .getString(1) == s"http://e/$p")
      .map(_.getAs[org.apache.spark.sql.Row]("o"))
    assert(lexes("name").map(_.getString(1)).toSet == Set("Ann", "Anne", "Bob"))
    assert(lexes("size").head.getString(2).endsWith("integer"))
    assert(lexes("score").head.getString(2).endsWith("decimal"))
    assert(lexes("big").head.getString(2).endsWith("double"))
    assert(lexes("ok").head.getString(1) == "true")
    // @base resolution for relative IRIs
    assert(rows.exists(_.getAs[org.apache.spark.sql.Row]("s")
      .getString(1) == "http://base/rel"))
    // rdf:type via 'a'
    assert(rows.exists(_.getAs[org.apache.spark.sql.Row]("p")
      .getString(1).endsWith("#type")))
  }

  test("Turtle-star quoted triples and annotation syntax") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ttlstar")
    java.nio.file.Files.writeString(dir.resolve("data.ttl"),
      """@prefix ex: <http://e/> .
        |<< ex:a ex:age 30 >> ex:certainty 0.9 .
        |ex:b ex:age 25 {| ex:certainty 0.5 ; ex:src ex:wiki |} .
        |ex:c ex:says << ex:a ex:age 30 >> .
        |""".stripMargin)
    val df = RdfIO.read(spark, dir.toString + "/data.ttl", "ttl")
    val rows = df.collect()
    // annotation asserts the base triple AND two annotation triples
    assert(rows.length == 5)
    def term(r: org.apache.spark.sql.Row, f: String) =
      r.getAs[org.apache.spark.sql.Row](f)
    val quotedSubs = rows.filter(r => term(r, "s").getByte(0) ==
      graft.model.Term.QuotedKind.toByte)
    assert(quotedSubs.length == 3)
    // the annotated triple's quoted form is canonical and matches the
    // N-Triples-star spelling of the same triple
    val annCert = quotedSubs.filter(r =>
      term(r, "p").getString(1) == "http://e/certainty")
    assert(annCert.map(r => term(r, "s").getString(1)).toSet == Set(
      "<< <http://e/a> <http://e/age> \"30\"^^<http://www.w3.org/2001/XMLSchema#integer> >>",
      "<< <http://e/b> <http://e/age> \"25\"^^<http://www.w3.org/2001/XMLSchema#integer> >>"))
    // object-position quoted triple
    assert(rows.exists(r => term(r, "o").getByte(0) ==
      graft.model.Term.QuotedKind.toByte))
    // NT roundtrip: serialize + reparse preserves the quoted terms
    val out = java.nio.file.Files.createTempDirectory("graft_ntstar")
    RdfIO.writeNTriples(df, out.toString + "/out.nt")
    val back = RdfIO.readNTriples(spark, out.toString + "/out.nt")
    assert(back.count() == 5)
    assert(back.except(df).count() == 0 && df.except(back).count() == 0)
  }

  test("N3 mode: quick vars, operators, formulas, and paths") {
    val dir = java.nio.file.Files.createTempDirectory("graft_n3")
    java.nio.file.Files.writeString(dir.resolve("data.n3"),
      """@prefix ex: <http://e/> .
        |ex:a ex:knows ex:b .
        |ex:x = ex:y .
        |{ ?p ex:knows ?q } => { ?p ex:linked ?q } .
        |ex:a!ex:knows ex:name "via-path" .
        |ex:up^ex:parent ex:name "child-of-up" .
        |""".stripMargin)
    val df = RdfIO.read(spark, dir.toString + "/data.n3", "n3")
    val rows = df.collect()
    def p(r: org.apache.spark.sql.Row) =
      r.getAs[org.apache.spark.sql.Row]("p").getString(1)
    // '=' becomes owl:sameAs
    assert(rows.exists(r => p(r) == "http://www.w3.org/2002/07/owl#sameAs"))
    // '=>' becomes log:implies between two formula graphs
    assert(rows.exists(r =>
      p(r) == "http://www.w3.org/2000/10/swap/log#implies"))
    // path ex:a!ex:knows: bnode B with (ex:a knows B) and (B name "via-path")
    val viaName = rows.filter(r => p(r) == "http://e/name" &&
      r.getAs[org.apache.spark.sql.Row]("o").getString(1) == "via-path")
    assert(viaName.length == 1)
    val pathNode = viaName.head.getAs[org.apache.spark.sql.Row]("s")
    assert(pathNode.getByte(0) == graft.model.Term.BlankKind.toByte)
    assert(rows.exists { r =>
      val s = r.getAs[org.apache.spark.sql.Row]("s")
      val o = r.getAs[org.apache.spark.sql.Row]("o")
      s.getString(1) == "http://e/a" && p(r) == "http://e/knows" &&
        o.getByte(0) == graft.model.Term.BlankKind.toByte &&
        o.getString(1) == pathNode.getString(1)
    }, "path step triple (ex:a knows _:b) missing")
    // reverse path ex:up^ex:parent: (B parent ex:up) and (B name ...)
    val childName = rows.filter(r => p(r) == "http://e/name" &&
      r.getAs[org.apache.spark.sql.Row]("o").getString(1) == "child-of-up")
    assert(childName.length == 1)
    val revNode = childName.head.getAs[org.apache.spark.sql.Row]("s")
    assert(rows.exists { r =>
      val s = r.getAs[org.apache.spark.sql.Row]("s")
      val o = r.getAs[org.apache.spark.sql.Row]("o")
      s.getString(1) == revNode.getString(1) && p(r) == "http://e/parent" &&
        o.getString(1) == "http://e/up"
    }, "reverse path step triple (_:b parent ex:up) missing")
  }

  test("TriG-star: quoted triples inside named graph blocks") {
    val dir = java.nio.file.Files.createTempDirectory("graft_trigstar")
    java.nio.file.Files.writeString(dir.resolve("d.trig"),
      """@prefix ex: <http://e/> .
        |ex:g1 {
        |  << ex:a ex:p ex:b >> ex:conf 0.8 .
        |  ex:a ex:p ex:b .
        |}
        |""".stripMargin)
    val df = RdfIO.read(spark, dir.toString + "/d.trig", "trig")
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getAs[org.apache.spark.sql.Row]("g")
      .getString(1) == "http://e/g1"))
    assert(rows.exists(_.getAs[org.apache.spark.sql.Row]("s")
      .getByte(0) == graft.model.Term.QuotedKind.toByte))
  }

  test("Turtle collections desugar to rdf:first/rdf:rest chains") {
    val rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    val dir = java.nio.file.Files.createTempDirectory("graft_coll")
    java.nio.file.Files.writeString(dir.resolve("c.ttl"),
      """@prefix : <http://x/> .
        |:s :list (1 2 3) .
        |:t :list () .
        |""".stripMargin)
    val quads = RdfIO.readTurtle(spark, dir.resolve("c.ttl").toString)
    import org.apache.spark.sql.functions._
    assert(quads.where(col("p")("lex") === rdf + "first").count() == 3)
    assert(quads.where(col("p")("lex") === rdf + "rest").count() == 3)
    // () is rdf:nil directly; chain also ends in nil -> 2 nil objects
    assert(quads.where(col("o")("lex") === rdf + "nil").count() == 2)
    assert(quads.count() == 8) // 2 membership + 3 first + 3 rest
  }

  test("TriG graph blocks land triples in named graphs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_trig")
    java.nio.file.Files.writeString(dir.resolve("d.trig"),
      """@prefix : <http://x/> .
        |:s0 :p "default0" .
        |{ :s1 :p "default1" . }
        |:g1 { :s2 :p "in-g1" . :s3 :p "also-g1" ; :q "q" . }
        |GRAPH <http://x/g2> { :s4 :p "in-g2" . }
        |""".stripMargin)
    val quads = RdfIO.read(spark, dir.resolve("d.trig").toString, "trig")
    import org.apache.spark.sql.functions._
    assert(quads.count() == 6)
    assert(quads.where(col("g")("kind") === graft.model.Term.DefaultGraphKind)
      .count() == 2)
    assert(quads.where(col("g")("lex") === "http://x/g1").count() == 3)
    assert(quads.where(col("g")("lex") === "http://x/g2").count() == 1)
  }

  test("RDF/XML reader: typed nodes, nesting, datatypes, lang, bnodes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rdfxml")
    java.nio.file.Files.writeString(dir.resolve("d.rdf"),
      """<?xml version="1.0"?>
        |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://x/">
        |  <ex:Person rdf:about="http://x/alice" ex:nick="Al">
        |    <ex:name xml:lang="en">Alice</ex:name>
        |    <ex:age rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">30</ex:age>
        |    <ex:knows rdf:resource="http://x/bob"/>
        |    <ex:address>
        |      <rdf:Description rdf:nodeID="addr1">
        |        <ex:city>Berlin</ex:city>
        |      </rdf:Description>
        |    </ex:address>
        |  </ex:Person>
        |</rdf:RDF>
        |""".stripMargin)
    val quads = RdfIO.read(spark, dir.resolve("d.rdf").toString, "rdfxml")
    import org.apache.spark.sql.functions._
    // type + nick-attr + name + age + knows + address + city = 7 triples
    assert(quads.count() == 7)
    def byP(p: String) = quads.where(col("p")("lex") === "http://x/" + p)
    assert(quads.where(col("p")("lex") ===
      "http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
      .head().getAs[org.apache.spark.sql.Row]("o").getString(1) ==
      "http://x/Person")
    val name = byP("name").head().getAs[org.apache.spark.sql.Row]("o")
    assert(name.getString(1) == "Alice" && name.getString(3) == "en")
    val age = byP("age").head().getAs[org.apache.spark.sql.Row]("o")
    assert(age.getString(1) == "30" &&
      age.getString(2) == graft.model.Term.XsdInteger)
    assert(byP("knows").head().getAs[org.apache.spark.sql.Row]("o")
      .getString(1) == "http://x/bob")
    val addr = byP("address").head().getAs[org.apache.spark.sql.Row]("o")
    assert(addr.getByte(0) == graft.model.Term.BlankKind.toByte &&
      addr.getString(1) == "addr1")
    assert(byP("nick").count() == 1)
    assert(byP("city").head().getAs[org.apache.spark.sql.Row]("s")
      .getString(1) == "addr1")
  }

  test("JSON-LD expanded-form reader: values, types, lists, graphs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonld")
    java.nio.file.Files.writeString(dir.resolve("d.jsonld"),
      """[
        |  {"@id": "http://x/alice",
        |   "@type": ["http://x/Person"],
        |   "http://x/name": [{"@value": "Alice", "@language": "en"}],
        |   "http://x/age": [{"@value": 30}],
        |   "http://x/score": [{"@value": "7.5",
        |     "@type": "http://www.w3.org/2001/XMLSchema#decimal"}],
        |   "http://x/knows": [{"@id": "http://x/bob"}],
        |   "http://x/list": [{"@list": [{"@value": 1}, {"@value": 2}]}]},
        |  {"@id": "http://x/g1",
        |   "@graph": [
        |     {"@id": "http://x/s1", "http://x/p": [{"@value": "in-g1"}]}]}
        |]
        |""".stripMargin)
    val quads = RdfIO.read(spark, dir.resolve("d.jsonld").toString, "jsonld")
    import org.apache.spark.sql.functions._
    val rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    // type + name + age + score + knows + list-head + 2*(first+rest) + g1
    assert(quads.count() == 11)
    def o(p: String) = quads.where(col("p")("lex") === p)
      .head().getAs[org.apache.spark.sql.Row]("o")
    assert(o("http://x/name").getString(3) == "en")
    assert(o("http://x/age").getString(1) == "30" &&
      o("http://x/age").getString(2) == graft.model.Term.XsdInteger)
    assert(o("http://x/score").getString(2) ==
      graft.model.Term.XsdDecimal)
    assert(o("http://x/knows").getString(1) == "http://x/bob")
    assert(quads.where(col("p")("lex") === rdf + "first").count() == 2)
    assert(quads.where(col("g")("lex") === "http://x/g1").count() == 1)
  }

  test("RDF/XML residue: parseType, rdf:li, rdf:ID, xml:base, reification") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rdfxml2")
    java.nio.file.Files.writeString(dir.resolve("r.rdf"),
      """<?xml version="1.0"?>
        |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://x/" xml:base="http://base.org/doc">
        |  <rdf:Description rdf:ID="thing">
        |    <ex:rel rdf:parseType="Resource">
        |      <ex:a>1</ex:a>
        |      <ex:b rdf:resource="other"/>
        |    </ex:rel>
        |    <ex:items rdf:parseType="Collection">
        |      <rdf:Description rdf:about="http://x/i1"/>
        |      <rdf:Description rdf:about="http://x/i2"/>
        |    </ex:items>
        |    <ex:xml rdf:parseType="Literal"><b>bold</b></ex:xml>
        |    <ex:claim rdf:ID="st1" rdf:resource="http://x/o"/>
        |  </rdf:Description>
        |  <rdf:Seq rdf:about="http://x/seq">
        |    <rdf:li>first</rdf:li>
        |    <rdf:li>second</rdf:li>
        |  </rdf:Seq>
        |</rdf:RDF>
        |""".stripMargin)
    val quads = RdfIO.read(spark, dir.resolve("r.rdf").toString, "rdfxml")
    import org.apache.spark.sql.functions._
    val rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    def byP(p: String) = quads.where(col("p")("lex") === p)
    def o(p: String) = byP(p).head().getAs[org.apache.spark.sql.Row]("o")
    // rdf:ID resolves against xml:base
    assert(byP("http://x/rel").head()
      .getAs[org.apache.spark.sql.Row]("s")
      .getString(1) == "http://base.org/doc#thing")
    // parseType=Resource: object is a bnode carrying a/b
    assert(o("http://x/rel").getByte(0) == graft.model.Term.BlankKind.toByte)
    assert(o("http://x/a").getString(1) == "1")
    assert(o("http://x/b").getString(1) == "http://base.org/other")
    // parseType=Collection: first/rest chain over i1, i2
    assert(byP(rdf + "first").count() == 2)
    val firsts = byP(rdf + "first").collect()
      .map(_.getAs[org.apache.spark.sql.Row]("o").getString(1)).sorted
    assert(firsts.sameElements(Array("http://x/i1", "http://x/i2")))
    // parseType=Literal: XMLLiteral datatype with markup preserved
    val x = o("http://x/xml")
    assert(x.getString(2) == rdf + "XMLLiteral" &&
      x.getString(1).contains("<b>bold</b>"))
    // reification quad set for ex:claim
    assert(byP(rdf + "subject").count() == 1)
    assert(o(rdf + "predicate").getString(1) == "http://x/claim")
    assert(o(rdf + "object").getString(1) == "http://x/o")
    assert(byP(rdf + "subject").head()
      .getAs[org.apache.spark.sql.Row]("s")
      .getString(1) == "http://base.org/doc#st1")
    // rdf:li renumbering
    assert(o(rdf + "_1").getString(1) == "first")
    assert(o(rdf + "_2").getString(1) == "second")
  }

  test("JSON-LD scoped contexts: property-scoped and type-scoped") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonldscoped")
    java.nio.file.Files.writeString(dir.resolve("s.jsonld"),
      """{
        |  "@context": {
        |    "@vocab": "http://x/",
        |    "friend": {
        |      "@id": "http://x/friend",
        |      "@context": {"label": "http://inner/label"}
        |    },
        |    "Person": {
        |      "@type": "@id", "@id": "http://x/Person",
        |      "@context": {"born": "http://person/born"}
        |    }
        |  },
        |  "@id": "http://x/a",
        |  "@type": "Person",
        |  "born": "1990",
        |  "label": "outer",
        |  "friend": {"@id": "http://x/b", "label": "inner"}
        |}""".stripMargin)
    val quads = RdfIO.read(spark, dir.resolve("s.jsonld").toString, "jsonld")
    import org.apache.spark.sql.functions._
    def preds = quads.select(col("p")("lex")).collect().map(_.getString(0))
    // type-scoped: "born" maps through the Person term's @context
    assert(preds.contains("http://person/born"))
    // property-scoped: "label" inside the friend value maps to inner
    val inner = quads.where(col("p")("lex") === "http://inner/label")
      .collect()
    assert(inner.length == 1)
    assert(inner.head.getAs[org.apache.spark.sql.Row]("s")
      .getString(1) == "http://x/b")
    // outside the friend value, "label" still expands via @vocab
    val outer = quads.where(col("p")("lex") === "http://x/label").collect()
    assert(outer.length == 1)
    assert(outer.head.getAs[org.apache.spark.sql.Row]("s")
      .getString(1) == "http://x/a")
  }

  test("JSON-LD container maps: @index, @language, @set") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonldmaps")
    java.nio.file.Files.writeString(dir.resolve("m.jsonld"),
      """{
        |  "@context": {
        |    "@vocab": "http://x/",
        |    "byRegion": {"@id": "http://x/val", "@container": "@index"},
        |    "label": {"@id": "http://x/label", "@container": "@language"},
        |    "tags": {"@id": "http://x/tags", "@container": "@set"}
        |  },
        |  "@id": "http://x/a",
        |  "byRegion": {"eu": "one", "us": ["two", "three"]},
        |  "label": {"en": "hello", "de": "hallo"},
        |  "tags": ["t1", "t2"]
        |}""".stripMargin)
    val quads = RdfIO.read(spark, dir.resolve("m.jsonld").toString, "jsonld")
    import org.apache.spark.sql.functions._
    // @index: index keys dropped, all values kept
    assert(quads.where(col("p")("lex") === "http://x/val").count() == 3)
    // @language: keys become language tags
    val labels = quads.where(col("p")("lex") === "http://x/label").collect()
      .map(r => { val o = r.getAs[org.apache.spark.sql.Row]("o")
        (o.getString(3), o.getString(1)) }).toSet
    assert(labels == Set("en" -> "hello", "de" -> "hallo"))
    // @set: plain multi-values
    assert(quads.where(col("p")("lex") === "http://x/tags").count() == 2)
  }

  test("JSON-LD @context: terms, prefixes, vocab, coercion, aliases") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonldctx")
    java.nio.file.Files.writeString(dir.resolve("c.jsonld"),
      """{
        |  "@context": {
        |    "id": "@id",
        |    "foaf": "http://xmlns.com/foaf/0.1/",
        |    "xsd": "http://www.w3.org/2001/XMLSchema#",
        |    "@vocab": "http://x/",
        |    "@base": "http://base.org/people/",
        |    "@language": "en",
        |    "name": "foaf:name",
        |    "knows": {"@id": "foaf:knows", "@type": "@id"},
        |    "age": {"@id": "http://x/age", "@type": "xsd:integer"},
        |    "tags": {"@id": "http://x/tags", "@container": "@list"},
        |    "plain": {"@id": "http://x/plain", "@language": null}
        |  },
        |  "id": "alice",
        |  "name": "Alice",
        |  "plain": "raw",
        |  "knows": "bob",
        |  "age": "30",
        |  "hobby": "chess",
        |  "tags": ["a", "b"]
        |}
        |""".stripMargin)
    val quads = RdfIO.read(spark, dir.resolve("c.jsonld").toString, "jsonld")
    import org.apache.spark.sql.functions._
    def o(p: String) = quads.where(col("p")("lex") === p)
      .head().getAs[org.apache.spark.sql.Row]("o")
    val s = quads.where(col("p")("lex") === "http://xmlns.com/foaf/0.1/name")
      .head().getAs[org.apache.spark.sql.Row]("s")
    assert(s.getString(1) == "http://base.org/people/alice") // @base + alias
    val name = o("http://xmlns.com/foaf/0.1/name")
    assert(name.getString(1) == "Alice" && name.getString(3) == "en")
    assert(o("http://x/plain").getString(3) == null) // "@language": null
    val knows = o("http://xmlns.com/foaf/0.1/knows")
    assert(knows.getByte(0) == graft.model.Term.IriKind &&
      knows.getString(1) == "http://base.org/people/bob") // @type:@id + base
    assert(o("http://x/age").getString(2) == graft.model.Term.XsdInteger)
    assert(o("http://x/hobby").getString(1) == "chess") // @vocab key
    val rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    assert(quads.where(col("p")("lex") === rdf + "first").count() == 2)
    assert(quads.where(col("p")("lex") === "http://x/tags").count() == 1)
  }

  test("JSON-LD remote @context is rejected (zero egress)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonldrem")
    java.nio.file.Files.writeString(dir.resolve("r.jsonld"),
      """{"@context": "http://schema.org/", "@id": "http://x/a"}""")
    val ex = intercept[org.apache.spark.SparkException](
      RdfIO.read(spark, dir.resolve("r.jsonld").toString, "jsonld").count())
    assert(ex.getMessage != null)
  }

  test("format facade dispatches and rejects unknown formats") {
    intercept[IllegalArgumentException](RdfIO.read(spark, "/tmp/x", "xyz"))
  }

  test("quads -> JSON-LD -> quads roundtrip is lossless") {
    import graft.io.JsonLdWriter
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonldw").toString
    // cover: IRIs, bnodes, plain / typed / lang literals with JSON-hostile
    // characters, default AND named graphs
    val nq = Seq(
      """<http://x/a> <http://x/p> <http://x/b> .""",
      """_:b1 <http://x/p> "he said \"hi\"\n" .""",
      """<http://x/a> <http://x/n> "42"^^<http://www.w3.org/2001/XMLSchema#integer> .""",
      """<http://x/a> <http://x/l> "bonjour"@fr .""",
      """<http://x/a> <http://x/p> _:b1 <http://x/g1> .""").mkString("\n")
    val tmp = java.nio.file.Files.createTempDirectory("graft_jsonld_in")
    java.nio.file.Files.writeString(tmp.resolve("d.nq"), nq)
    val quads = RdfIO.readNQuads(spark, tmp.resolve("d.nq").toString)
    JsonLdWriter.write(quads, dir)
    val back = RdfIO.readJsonLd(spark, dir + "/part-*")
    assert(back.count() == quads.count())
    assert(back.except(quads).count() == 0 &&
      quads.except(back).count() == 0, "JSON-LD roundtrip must be lossless")
    // TPC-H scale sanity through the format facade
    val dir2 = java.nio.file.Files.createTempDirectory("graft_jsonldw2").toString
    val tq = TpchRdf.quads(spark, sf)
    RdfIO.write(tq, dir2, "jsonld")
    val back2 = RdfIO.read(spark, dir2 + "/part-*", "jsonld")
    assert(back2.count() == tq.count())
    assert(back2.except(tq).count() == 0 && tq.except(back2).count() == 0)
  }

  test("JSON-LD writer folds i18n datatypes back to @direction " +
      "(rdfDirection round-trip)") {
    import graft.io.{JsonLdParser, JsonLdWriter}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val doc =
      """[{"@id": "http://x/s",
        |  "http://x/p": [{"@value": "نص", "@language": "AR",
        |                  "@direction": "rtl"},
        |                 {"@value": "t", "@direction": "ltr"},
        |                 {"@value": "plain"}]}]""".stripMargin
    val rows = new JsonLdParser(doc, Some("i18n-datatype")).parse()
    val quads = spark.createDataset(rows).toDF()
      .select(col("g").cast(Term.schema), col("s").cast(Term.schema),
        col("p").cast(Term.schema), col("o").cast(Term.schema))
    // serialized form recovers @language/@direction value objects
    val out = JsonLdWriter.jsonLdString(quads, Some("i18n-datatype"))
    assert(out.contains(""""@direction":"rtl"""") &&
      out.contains(""""@language":"ar""""), out)
    // the no-language entry drops @language (i18n#_ltr has an empty slot)
    assert(out.contains(""""@direction":"ltr"""") &&
      !out.contains(""""@language":"ltr""""), out)
    assert(!out.contains("i18n#"), out)
    // full loop: write + re-read under the same mode is lossless
    val dir = java.nio.file.Files.createTempDirectory("graft_i18nw").toString
    JsonLdWriter.write(quads, dir, Some("i18n-datatype"))
    val back = RdfIO.readJsonLd(spark, dir + "/part-*",
      Some("i18n-datatype"))
    assert(back.except(quads).count() == 0 &&
      quads.except(back).count() == 0, "i18n round-trip must be lossless")
    // default mode leaves the typed-literal form intact (one-way is
    // still valid JSON-LD), and a NON-direction i18n-ns datatype never
    // folds even under the option
    assert(JsonLdWriter.jsonLdString(quads).contains("i18n#ar_rtl"))
    val odd = spark.createDataset(Seq(rows.head.copy(
      o = rows.head.o.copy(dt = "https://www.w3.org/ns/i18n#en_up")))).toDF()
      .select(col("g").cast(Term.schema), col("s").cast(Term.schema),
        col("p").cast(Term.schema), col("o").cast(Term.schema))
    assert(JsonLdWriter.jsonLdString(odd, Some("i18n-datatype"))
      .contains("i18n#en_up"))
  }

  test("quads -> TriG -> quads roundtrip is lossless (TPC-H graph)") {
    import graft.io.TurtleWriter
    val dir = java.nio.file.Files.createTempDirectory("graft_trigw").toString
    val quads = TpchRdf.quads(spark, sf)
    TurtleWriter.writeTriG(quads, dir)
    val back = RdfIO.readTurtle(spark, dir + "/part-*")
    assert(back.count() == quads.count())
    assert(back.except(quads).count() == 0 &&
      quads.except(back).count() == 0, "TriG roundtrip must be lossless")
  }

  test("Turtle writer: prefixes, `a`, `;`/`,` runs, langs, graphs, bnodes") {
    import graft.io.TurtleWriter
    import graft.model.Term
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_ttlw")
    // a dataset exercising every grouping shape, written then re-read
    val src = dir.resolve("src.trig")
    java.nio.file.Files.writeString(src,
      """@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
        |@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
        |<http://x/s1> rdf:type <http://x/T> ;
        |  <http://x/p> "a" , "b"@en , "3"^^xsd:integer .
        |_:b1 <http://x/p> "blank subject" .
        |<http://x/s1> <http://x/q> _:b1 .
        |GRAPH <http://x/g1> { <http://x/s2> <http://x/p> "in g1" . }
        |""".stripMargin)
    val quads = RdfIO.readTurtle(spark, src.toString)
    val out = dir.resolve("out").toString
    TurtleWriter.writeTriG(quads, out)
    val text = RdfIO.readTurtle(spark, out + "/part-*")
    assert(text.count() == quads.count())
    assert(text.except(quads).count() == 0 &&
      quads.except(text).count() == 0)
    // written form actually uses the compact syntax
    val rendered = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .toArray.map(_.toString).filter(_.contains("part-"))
      .map(p => java.nio.file.Files.readString(java.nio.file.Paths.get(p)))
      .mkString("\n")
    assert(rendered.contains("@prefix xsd:"))
    assert(rendered.contains(" a "), "rdf:type must render as `a`")
    assert(rendered.contains("^^xsd:integer"), "datatype must compact")
    assert(rendered.contains("GRAPH <http://x/g1> {"))
    assert(rendered.contains(" ;"), "shared-subject runs must use ;")
    assert(rendered.contains(" , "), "shared-predicate runs must use ,")
    // triples-only writer: default graph slice, same losslessness
    val tdir = dir.resolve("ttl").toString
    TurtleWriter.writeTurtle(
      quads.where(col("g")("kind") === Term.DefaultGraphKind)
        .select("s", "p", "o"), tdir)
    val t = RdfIO.readTurtle(spark, tdir + "/part-*")
    assert(t.count() ==
      quads.where(col("g")("kind") === Term.DefaultGraphKind).count())
  }

  test("triples -> RDF/XML -> triples roundtrip; refuses bad predicates") {
    import graft.io.RdfXmlWriter
    import graft.model.Term
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_rxw")
    val src = dir.resolve("src.ttl")
    java.nio.file.Files.writeString(src,
      """@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
        |<http://x/s1> <http://x/name> "Ada <&> \"q\"" ;
        |  <http://x/age> "36"^^xsd:integer ;
        |  <http://x/note> "salut"@fr ;
        |  <http://x/knows> _:b7 .
        |_:b7 <http://x/name> "Grace" .
        |""".stripMargin)
    val triples = RdfIO.readTurtle(spark, src.toString).select("s", "p", "o")
    val out = dir.resolve("out").toString
    RdfXmlWriter.write(triples, out)
    val back = RdfIO.readRdfXml(spark, out + "/part-*").select("s", "p", "o")
    assert(back.count() == triples.count())
    assert(back.except(triples).count() == 0 &&
      triples.except(back).count() == 0, "RDF/XML roundtrip must be lossless")
    // a predicate with no NCName tail must fail loudly, like oxrdfxml
    val bad = spark.range(1).select(
      Term.iri("http://x/s").as("s"),
      Term.iri("http://x/p#123").as("p"),
      Term.iri("http://x/o").as("o"))
    val err = intercept[Exception](
      RdfXmlWriter.write(bad, dir.resolve("bad").toString))
    assert(err.getMessage != null)
  }

  // --- probe wave 6 (r10): Turtle/N-Triples grammar corners ---------
  private def ttl(doc: String) =
    new graft.io.TurtleParser(doc).parse()
  private val p = "@prefix : <http://x/> .\n"

  test("Turtle positives: labels/locals with dots+escapes, ';;', " +
      "directive case rules") {
    // BLANK_NODE_LABEL interior dot; trailing dot terminates
    assert(ttl(p + "_:a.b :p 1 .").head.s.lex == "a.b")
    assert(ttl(p + "_:a.b :p _:c.").head.o.lex == "c")
    // PN_LOCAL: escapes resolve, PERCENT kept verbatim, ':' allowed
    assert(ttl(p + ":a\\~b :p 1 .").head.s.lex == "http://x/a~b")
    assert(ttl(p + ":a%41b :p 1 .").head.s.lex == "http://x/a%41b")
    assert(ttl(p + ":a:b :p 1 .").head.s.lex == "http://x/a:b")
    // empty ';' repetitions and a dangling ';'
    assert(ttl(p + ":s :p 1 ; ; :q 2 .").size == 2)
    assert(ttl(p + ":s :p 1 ; .").size == 1)
    // SPARQL-style directives: case-insensitive, no dot
    assert(ttl("pReFiX pp: <http://x/>\npp:s pp:p 1 .").size == 1)
    // '@prefix' with the empty prefix name, no space before ':'
    assert(ttl("@prefix: <http://x/> .\n:s :p 1 .").size == 1)
    // numbers: leading-dot decimals, integer+terminator, doubles
    assert(ttl(p + ":s :p .5 , +.5 , 1.5e0 , 1.").size == 4)
  }

  test("Turtle negatives: malformed numbers/tags/directives/subjects") {
    val bads = Seq(
      ":s :p 1.2.3 .",            // two dots in one numeric token
      ":s :p \"x\"@en- .",        // dangling langtag subtag
      ":s :p \"x\"@7up .",        // digit-led primary tag
      "3 :p 1 .",                 // literal subject
      ":s .",                     // statement with no predicate
      ":s :p 1e .")               // exponent without digits
    for (b <- bads)
      assert(
        try { ttl(p + b); false } catch { case _: Exception => true },
        s"should reject: $b")
    // '@PREFIX' is not '@prefix' (case-sensitive terminal)
    intercept[Exception](ttl("@PREFIX q: <http://x/> .\nq:s q:p 1 ."))
    // '@prefix' REQUIRES its dot, SPARQL-style PREFIX forbids one
    intercept[Exception](ttl("@prefix q: <http://x/>\nq:s q:p 1 ."))
    intercept[Exception](ttl("PREFIX q: <http://x/> .\nq:s q:p 1 ."))
  }

  test("formatTerm -> line parser roundtrip is the identity over the " +
      "term-shape cross product") {
    import graft.io.RdfIO.TermRow
    import org.apache.spark.sql.functions.{col, concat, lit}
    val L = Term.LiteralKind.toByte
    val lexes = Seq("v", "", "a\"b", "a\\b", "l1\nl2", "cr\rx", "t\tt",
      "é", "🙂", "x y z", "-1.5")
    val terms: Seq[TermRow] =
      lexes.flatMap(lex => Seq(
        TermRow(L, lex, Term.XsdString, null),
        TermRow(L, lex, "http://x/dt", null),
        TermRow(L, lex, Term.RdfLangString, "en"),
        TermRow(L, lex, Term.RdfLangString, "es-419"))) ++ Seq(
        TermRow(Term.IriKind.toByte, "http://x/a#frag?q=1", null, null),
        TermRow(Term.BlankKind.toByte, "b1.c-d", null, null),
        TermRow(Term.QuotedKind.toByte, graft.model.QuotedTriple.encode(
          graft.model.QuotedTriple.QTerm(Term.IriKind.toByte, "http://x/s",
            null, null),
          graft.model.QuotedTriple.QTerm(Term.IriKind.toByte, "http://x/p",
            null, null),
          graft.model.QuotedTriple.QTerm(L, "o\"v", Term.XsdString, null)),
          null, null))
    import spark.implicits._
    val df = terms.map(Tuple1(_)).toDF("o").select(concat(
      lit("<http://x/s> <http://x/p> "), RdfIO.formatTerm(col("o")),
      lit(" .")).as("line"))
    val back = df.collect().map(r =>
      RdfIO.parseLine(r.getString(0), allowGraph = false).get.o)
    for ((orig, got) <- terms.zip(back))
      assert(got == orig, s"roundtrip mangled $orig -> $got")
  }

  test("RDF/XML wave 7: rdf:type attribute, rdf:* property attrs, " +
      "malformed-document rejection") {
    import graft.io.RdfXmlParser
    val R = "xmlns:rdf=\"http://www.w3.org/1999/02/22-rdf-syntax-ns#\" " +
      "xmlns:ex=\"http://x/\""
    def doc(body: String, extra: String = "") =
      s"""<?xml version="1.0"?><rdf:RDF $R $extra>$body</rdf:RDF>"""
    // rdf:type ATTRIBUTE takes an IRI object (was silently dropped)
    val typed = new RdfXmlParser(doc(
      """<rdf:Description rdf:about="http://x/s" rdf:type="http://x/T"/>"""))
      .parse()
    assert(typed.size == 1 && typed.head.o.kind == 0 &&
      typed.head.o.lex == "http://x/T")
    // rdf:value is a legal property attribute (non-syntax rdf:* local)
    val rv = new RdfXmlParser(doc(
      """<rdf:Description rdf:about="http://x/s" rdf:value="v"/>""")).parse()
    assert(rv.size == 1 && rv.head.p.lex.endsWith("#value"))
    val bads = Seq(
      """<rdf:Description rdf:about="http://x/s" rdf:nodeID="a"/>""",
      """<rdf:Description rdf:about="http://x/s"><ex:p rdf:resource="http://x/o" rdf:nodeID="a"/></rdf:Description>""",
      """<rdf:Description rdf:ID="1bad" xml:base="http://b/"><ex:p>v</ex:p></rdf:Description>""",
      """<rdf:Description rdf:aboutEach="#x"><ex:p>v</ex:p></rdf:Description>""",
      """<rdf:Description rdf:ID="n" xml:base="http://b/"/><rdf:Description rdf:ID="n" xml:base="http://b/"/>""",
      """<rdf:li rdf:about="http://x/s"/>""",
      """<rdf:Description rdf:about="http://x/s"><ex:p rdf:parseType="Literal" rdf:resource="http://x/o"/></rdf:Description>""",
      """<rdf:Description rdf:about="http://x/s"><ex:p rdf:resource="http://x/o"><ex:q/></ex:p></rdf:Description>""",
      """<rdf:Description rdf:about="http://x/s"><rdf:Description>v</rdf:Description></rdf:Description>""")
    for (b <- bads)
      assert(
        try { new RdfXmlParser(doc(b)).parse(); false }
        catch { case _: Exception => true },
        s"should reject: $b")
  }

  test("wave 10: TriG block takes no trailing dot; annotation nesting; " +
      "JSON-LD containers; nested xml:base") {
    // wrappedGraph (TriG rule [5g]) ends at '}' — a '.' after it is a
    // new (malformed) statement
    intercept[Exception](ttl(p + "<http://g/> { :s :p 1 } ."))
    assert(ttl(p + "<http://g/> { :s :p 1 }").size == 1)
    assert(ttl(p + ":g { :s :p 1 }").size == 1)
    assert(ttl(p + "_:g { :s :p 1 }").size == 1)
    // Turtle-star: nested annotation blocks, annotations in object lists
    assert(ttl(p + ":a :b :c {| :q :r {| :x 1 |} |} .").size == 3)
    assert(ttl(p + ":a :b :c {| :q 1 |} , :d .").size == 3)
    // r11: CHAINED annotation blocks each annotate the same triple
    assert(ttl(p + ":a :b :c {| :q 1 |} {| :r 2 |} .").size == 3)
    // r11: a ';' may dangle before '|}'; an EMPTY block stays illegal
    assert(ttl(p + ":a :b :c {| :q 1 ; |} .").size == 2)
    intercept[Exception](ttl(p + ":a :b :c {| |} ."))
    // rdf:Bag/Seq/Alt are ordinary typed nodes; rdf:li renumbers
    val bag = new graft.io.RdfXmlParser(
      """<?xml version="1.0"?><rdf:RDF
        | xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">
        |<rdf:Bag rdf:about="http://x/b"><rdf:li>a</rdf:li>
        |<rdf:li>b</rdf:li></rdf:Bag></rdf:RDF>""".stripMargin).parse()
    assert(bag.size == 3 && bag.exists(_.p.lex.endsWith("#_2")))
    assert(bag.find(_.p.lex.endsWith("#type")).get.o.lex ==
      "http://www.w3.org/1999/02/22-rdf-syntax-ns#Bag")
    // JSON-LD containers
    import graft.io.JsonLdParser
    def ld(doc: String) = new JsonLdParser(doc).parse()
    assert(ld("""{"@context":{"p":{"@id":"http://x/p","@container":"@set"}},
      "@id":"http://x/s","p":["a","b"]}""").size == 2)
    assert(ld("""{"@graph":[{"@id":"http://x/s","http://x/p":"v"}]}""")
      .size == 1)
    // RDF/XML: nested xml:base overrides only its own node element
    val qs = new graft.io.RdfXmlParser(
      """<?xml version="1.0"?><rdf:RDF
        | xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        | xmlns:ex="http://x/" xml:base="http://b/">
        |<rdf:Description rdf:about="a"><ex:p>
        |  <rdf:Description xml:base="http://c/" rdf:about="z">
        |    <ex:q>v</ex:q></rdf:Description>
        |</ex:p></rdf:Description></rdf:RDF>""".stripMargin).parse()
    assert(qs.exists(q => q.s.lex == "http://b/a" &&
      q.o.lex == "http://c/z"))
    assert(qs.exists(q => q.s.lex == "http://c/z" && q.o.lex == "v"))
  }

  test("RDF/XML xml:base edges: relative nesting, fragment bases, " +
      "relative rdf:datatype") {
    val R = """xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
      | xmlns:ex="http://x/"""".stripMargin
    def p(doc: String) = new graft.io.RdfXmlParser(doc).parse()
    // a RELATIVE xml:base resolves against the parent's base (XML Base
    // §4.3) — it is not taken verbatim
    val rel = p(s"""<?xml version="1.0"?>
      |<rdf:RDF $R xml:base="http://b/dir/doc">
      |  <rdf:Description xml:base="sub/" rdf:about="a">
      |    <ex:p xml:base="deep" rdf:resource="z"/>
      |  </rdf:Description>
      |</rdf:RDF>""".stripMargin)
    assert(rel.exists(_.s.lex == "http://b/dir/sub/a"), rel)
    assert(rel.exists(_.o.lex == "http://b/dir/sub/z"), rel)
    // a fragment-bearing base never leaks its fragment: rdf:about=""
    // is the base minus fragment (RFC 3986 §5.3), rdf:ID replaces it
    val frag = p(s"""<?xml version="1.0"?>
      |<rdf:RDF $R xml:base="http://b/doc#top">
      |  <rdf:Description rdf:about=""><ex:p>v</ex:p></rdf:Description>
      |  <rdf:Description rdf:ID="part"><ex:p>w</ex:p></rdf:Description>
      |</rdf:RDF>""".stripMargin)
    assert(frag.exists(q => q.s.lex == "http://b/doc" && q.o.lex == "v"),
      frag)
    assert(frag.exists(q => q.s.lex == "http://b/doc#part" &&
      q.o.lex == "w"), frag)
    // rdf:datatype is a URI-reference: relative values resolve
    val dt = p(s"""<?xml version="1.0"?>
      |<rdf:RDF $R xml:base="http://types.org/base/">
      |  <rdf:Description rdf:about="http://x/s">
      |    <ex:p rdf:datatype="myType">v</ex:p>
      |  </rdf:Description>
      |</rdf:RDF>""".stripMargin)
    assert(dt.exists(_.o.dt == "http://types.org/base/myType"), dt)
  }

  test("JSON-LD context error taxonomy: remote, @version, typed " +
      "context entries") {
    import graft.io.JsonLdParser
    def bad(doc: String, code: String): Unit = {
      val ex = intercept[Exception](new JsonLdParser(doc).parse())
      assert(ex.getMessage.contains(code),
        s"expected '$code' in: ${ex.getMessage}")
    }
    // remote contexts fail with the API's taxonomy name (zero egress)
    bad("""{"@context": "http://remote/ctx", "http://x/p": "v"}""",
      "loading remote context failed")
    bad("""{"@context": ["http://remote/ctx", {}], "http://x/p": "v"}""",
      "loading remote context failed")
    // a context must be null / string / map (or array of those)
    bad("""{"@context": 42, "http://x/p": "v"}""", "invalid local context")
    bad("""{"@context": [true], "http://x/p": "v"}""",
      "invalid local context")
    // @version must be the NUMBER 1.1
    bad("""{"@context": {"@version": "1.1"}, "http://x/p": "v"}""",
      "invalid @version value")
    bad("""{"@context": {"@version": 1.0}, "http://x/p": "v"}""",
      "invalid @version value")
    assert(new JsonLdParser(
      """{"@context": {"@version": 1.1}, "http://x/p": "v"}""")
      .parse().size == 1)
    // @vocab / @base / @language take strings or null
    bad("""{"@context": {"@vocab": 5}, "p": "v"}""",
      "invalid vocab mapping")
    bad("""{"@context": {"@base": ["x"]}, "http://x/p": "v"}""",
      "invalid base IRI")
    bad("""{"@context": {"@language": 7}, "http://x/p": "v"}""",
      "invalid default language")
    // remote SCOPED contexts fail the same way at their use site
    bad("""{"@context": {"T": {"@id": "http://x/T",
      |  "@context": "http://remote/c2"}},
      | "@type": "T", "http://x/p": "v"}""".stripMargin,
      "loading remote context failed")
  }

  test("RDF 1.2 triple terms <<( s p o )>>: object-only, same term as " +
      "the star form; NT position validation") {
    // N-Triples 1.2: <<( )>> in object position === the CG << >> term
    val tt = RdfIO.parseLine(
      """<http://x/r> <http://x/reifies> <<( <http://x/s> <http://x/p> "v" )>> .""",
      allowGraph = false).get
    val cg = RdfIO.parseLine(
      """<http://x/r> <http://x/reifies> << <http://x/s> <http://x/p> "v" >> .""",
      allowGraph = false).get
    assert(tt.o == cg.o, "both spellings denote the same term")
    // nested triple term in the OBJECT slot of a triple term is legal
    assert(RdfIO.parseLine(
      """<http://x/r> <http://x/q> <<( <http://x/s> <http://x/p> <<( <http://x/a> <http://x/b> <http://x/c> )>> )>> .""",
      allowGraph = false).isDefined)
    val bads = Seq(
      // subject position (both at statement level and inside)
      """<<( <http://x/s> <http://x/p> "v" )>> <http://x/q> <http://x/o> .""",
      """<http://x/r> <http://x/q> <<( <<( <http://x/a> <http://x/b> <http://x/c> )>> <http://x/p> "v" )>> .""",
      // predicate / graph-label positions, unterminated
      """<http://x/s> <<( <http://x/a> <http://x/b> <http://x/c> )>> <http://x/o> .""",
      """<http://x/s> <http://x/p> <http://x/o> <<( <http://x/a> <http://x/b> <http://x/c> )>> .""",
      """<http://x/r> <http://x/q> <<( <http://x/s> <http://x/p> "v" >> .""",
      // plain-NT position rules (previously unchecked): literal
      // subject, non-IRI predicate
      """"lit" <http://x/p> <http://x/o> .""",
      """<http://x/s> _:b <http://x/o> .""",
      """<http://x/s> "p" <http://x/o> .""")
    for (b <- bads)
      assertThrows[Exception](RdfIO.parseLine(b, allowGraph = true))
    // Turtle: object + collection-item positions parse; subject errors
    def ttl(doc: String) =
      new graft.io.TurtleParser("@prefix : <http://x/> . " + doc).parse()
    val t1 = ttl(""":r :reifies <<( :s :p "v" )>> .""")
    assert(t1.size == 1 && t1.head.o.kind == Term.QuotedKind.toByte)
    assert(t1.head.o == ttl(""":r :reifies << :s :p "v" >> .""").head.o)
    val coll = ttl(""":r :q ( <<( :s :p :o )>> ) .""")
    assert(coll.exists(q => q.p.lex.endsWith("#first") &&
      q.o.kind == Term.QuotedKind.toByte))
    assertThrows[Exception](ttl("""<<( :s :p :o )>> :q :z ."""))
    assertThrows[Exception](ttl(""":a <<( :s :p :o )>> :z ."""))
    // star grammars: literal subject inside ANY quoted form rejected
    assertThrows[Exception](ttl(""":r :q << "l" :p :o >> ."""))
    assertThrows[Exception](ttl(""":r :q <<( "l" :p :o )>> ."""))
  }

  test("RDF 1.2 internal reifier form << s p o ~r >> (wave 28)") {
    val Reifies = "http://www.w3.org/1999/02/22-rdf-syntax-ns#reifies"
    def ttl(doc: String) =
      new graft.io.TurtleParser("@prefix : <http://x/> . " + doc).parse()
    // object position: the term denotes the REIFIER, rdf:reifies asserted
    val t = ttl(""":a :q << :s :p :o ~:r >> .""")
    assert(t.size == 2)
    val main = t.find(_.p.lex == "http://x/q").get
    assert(main.o.kind == Term.IriKind.toByte && main.o.lex == "http://x/r")
    val rq = t.find(_.p.lex == Reifies).get
    assert(rq.s.lex == "http://x/r" && rq.o.kind == Term.QuotedKind.toByte)
    // bare ~ mints a bnode reifier and the object IS that bnode
    val t2 = ttl(""":a :q << :s :p :o ~ >> .""")
    val r2 = t2.find(_.p.lex == Reifies).get.s
    assert(r2.kind == Term.BlankKind.toByte)
    assert(t2.find(_.p.lex == "http://x/q").get.o == r2)
    // ANON reifier form
    assert(ttl(""":a :q << :s :p :o ~[] >> .""")
      .find(_.p.lex == Reifies).get.s.kind == Term.BlankKind.toByte)
    // subject position too (reifiedTriple is an rtSubject)
    val t3 = ttl("""<< :s :p :o ~:r >> :note "n" .""")
    assert(t3.exists(q => q.s.lex == "http://x/r" &&
      q.p.lex == "http://x/note"))
    // a literal reifier is rejected
    assertThrows[Exception](ttl(""":a :q << :s :p :o ~"lit" >> ."""))
    // plain << s p o >> keeps the CG quoted-term reading
    val t4 = ttl(""":a :q << :s :p :o >> .""")
    assert(t4.size == 1 && t4.head.o.kind == Term.QuotedKind.toByte)
  }

  test("RDF 1.2 reifiers: ~r asserts the triple plus rdf:reifies; " +
      "blocks retarget") {
    val Reifies = "http://www.w3.org/1999/02/22-rdf-syntax-ns#reifies"
    def ttl(doc: String) =
      new graft.io.TurtleParser("@prefix : <http://x/> . " + doc).parse()
    // named reifier: triple asserted + r reifies <<(s p o)>>
    val named = ttl(""":s :p :o ~:r .""")
    assert(named.size == 2)
    assert(named.exists(q => q.s.lex == "http://x/s" && q.o.lex == "http://x/o"))
    val rq = named.find(_.p.lex == Reifies).get
    assert(rq.s.lex == "http://x/r" &&
      rq.o.kind == Term.QuotedKind.toByte)
    // bare ~ mints a fresh bnode reifier; [] form too
    assert(ttl(""":s :p :o ~ .""").find(_.p.lex == Reifies).get
      .s.kind == Term.BlankKind.toByte)
    assert(ttl(""":s :p :o ~[] .""").find(_.p.lex == Reifies).get
      .s.kind == Term.BlankKind.toByte)
    // a block after ~r annotates the REIFIER, not the quoted term
    val ann = ttl(""":s :p :o ~:r {| :note "n" |} .""")
    assert(ann.exists(q => q.s.lex == "http://x/r" &&
      q.p.lex == "http://x/note"))
    // without ~, the CG semantics stands: block annotates the quoted term
    val cg = ttl(""":s :p :o {| :note "n" |} .""")
    assert(cg.find(_.p.lex == "http://x/note").get
      .s.kind == Term.QuotedKind.toByte)
    // a run can mix: ~r1 {| |} ~r2 {| |} targets each reifier in turn
    val run = ttl(""":s :p :o ~:r1 {| :n 1 |} ~:r2 {| :n 2 |} .""")
    def noteOf(r: String) = run.find(q =>
      q.s.lex == s"http://x/$r" && q.p.lex == "http://x/n").get.o.lex
    assert(noteOf("r1") == "1" && noteOf("r2") == "2")
    assert(run.count(_.p.lex == Reifies) == 2)
    // reifier must be an IRI or blank node
    assertThrows[Exception](ttl(""":s :p :o ~"lit" ."""))
    // SPARQL side: ~?r pattern binds the reifier over Turtle-1.2 data
    val dir = java.nio.file.Files.createTempDirectory("graft_reif")
    java.nio.file.Files.writeString(dir.resolve("d.ttl"),
      """@prefix : <http://x/> .
        |:s :p :o ~:r {| :note "hello" |} .""".stripMargin)
    val quads = RdfIO.readTurtle(spark, dir.resolve("d.ttl").toString)
    val hit = graft.parser.SparqlParser.execute(
      """PREFIX : <http://x/>
        |SELECT ?r ?n WHERE { ?s :p ?o ~?r . ?r :note ?n }""".stripMargin,
      quads)
    val row = hit.head()
    assert(hit.count() == 1 &&
      row.getAs[Row]("r").getString(1) == "http://x/r" &&
      row.getAs[Row]("n").getString(1) == "hello")
    // SPARQL block-after-reifier also retargets
    val hit2 = graft.parser.SparqlParser.execute(
      """PREFIX : <http://x/>
        |SELECT ?r WHERE { ?s :p ?o ~?r {| :note "hello" |} }""".stripMargin,
      quads)
    assert(hit2.count() == 1 &&
      hit2.head().getAs[Row]("r").getString(1) == "http://x/r")
    // SPARQL internal-reifier pattern (wave 28): << s p o ~r >> denotes
    // the reifier and joins `r rdf:reifies <<(s p o)>>`
    val hit3 = graft.parser.SparqlParser.execute(
      """PREFIX : <http://x/>
        |SELECT ?s ?n WHERE { << ?s :p ?o ~?r >> :note ?n }""".stripMargin,
      quads)
    val row3 = hit3.head()
    assert(hit3.count() == 1 &&
      row3.getAs[Row]("s").getString(1) == "http://x/s" &&
      row3.getAs[Row]("n").getString(1) == "hello")
    // object position parses too (no matching data -> empty, no error)
    assert(graft.parser.SparqlParser.execute(
      """PREFIX : <http://x/>
        |SELECT ?x WHERE { ?x :q << :a :b :c ~:r2 >> }""".stripMargin,
      quads).count() == 0)
  }

  test("wave 27: reifier/annotation interaction corners (RDF 1.2)") {
    val Reifies = "http://www.w3.org/1999/02/22-rdf-syntax-ns#reifies"
    def ttl(doc: String) =
      new graft.io.TurtleParser("@prefix : <http://x/> . " + doc).parse()
    // multiple reifiers in one run: each reifies the SAME triple term
    val two = ttl(""":s :p :o ~:r1 ~:r2 .""")
    assert(two.count(_.p.lex == Reifies) == 2 &&
      two.filter(_.p.lex == Reifies).map(_.s.lex).toSet ==
        Set("http://x/r1", "http://x/r2") &&
      two.filter(_.p.lex == Reifies).map(_.o).distinct.size == 1)
    // reifiers distribute per OBJECT in an object list
    val ol = ttl(""":s :p :o1 ~:r1 , :o2 ~:r2 .""")
    def reified(r: String) = ol.find(q =>
      q.s.lex == s"http://x/$r" && q.p.lex == Reifies).get.o.lex
    assert(reified("r1").contains("o1") && !reified("r1").contains("o2"))
    assert(reified("r2").contains("o2") && !reified("r2").contains("o1"))
    // predicate-object list continues after a reifier
    val po = ttl(""":s :p :o ~:r ; :q :z .""")
    assert(po.exists(q => q.p.lex == "http://x/q" && q.o.lex == "http://x/z")
      && po.count(_.p.lex == Reifies) == 1)
    // explicit blank-node-label reifier
    val bl = ttl(""":s :p :o ~_:b7 .""")
    assert(bl.find(_.p.lex == Reifies).get.s.kind == Term.BlankKind.toByte)
    // whitespace/comment between ~ and the reifier term
    val ws = ttl(":s :p :o ~ # c\n :r .")
    assert(ws.find(_.p.lex == Reifies).get.s.lex == "http://x/r")
    // annotation of an annotation: the inner block's subject is the
    // quoted term of the OUTER annotation triple
    val nest = ttl(""":s :p :o {| :m :x {| :k :v |} |} .""")
    val inner = nest.find(_.p.lex == "http://x/k").get
    assert(inner.s.kind == Term.QuotedKind.toByte &&
      inner.s.lex.contains("http://x/m"))
    // reifier sugar inside an annotation block body reifies the
    // annotation triple itself
    val ra = ttl(""":s :p :o {| :q :z ~:r2 |} .""")
    val r2 = ra.find(q => q.s.lex == "http://x/r2").get
    assert(r2.p.lex == Reifies && r2.o.lex.contains("http://x/q"))
    // `a` keyword inside a block; triple term as a block object
    assert(ttl(""":s :p :o {| a :T |} .""")
      .exists(q => q.p.lex.endsWith("#type") &&
        q.s.kind == Term.QuotedKind.toByte))
    assert(ttl(""":s :p :o {| :sameAs <<( :a :b :c )>> |} .""")
      .exists(q => q.p.lex == "http://x/sameAs" &&
        q.o.kind == Term.QuotedKind.toByte))
    // reifier on a quoted-triple OBJECT reifies the full (nested) term
    val qq = ttl(""":s :p << :a :b :c >> ~:r .""")
    val rq = qq.find(_.p.lex == Reifies).get
    assert(rq.o.lex.contains("<< <http://x/a>"))
    // `~~:r` is TWO reifiers (grammar: reifier ::= '~' term?, and
    // annotations repeat): a fresh bare bnode plus :r
    val dbl = ttl(""":s :p :o ~~:r .""")
    assert(dbl.count(_.p.lex == Reifies) == 2 &&
      dbl.filter(_.p.lex == Reifies).exists(_.s.lex == "http://x/r") &&
      dbl.filter(_.p.lex == Reifies)
        .exists(_.s.kind == Term.BlankKind.toByte))
    // malformed runs stay loud
    for (bad <- Seq(
      ":s :p :o {| |} .",            // empty annotation block
      ":s :p :o , ~:r .",            // reifier with no object
      ":s :p ( :o ~:r ) .",          // reifier inside a collection
      ":s :p :o ~(:r) ."             // reifier must be IRI/bnode
    )) assertThrows[Exception](ttl(bad))
  }

  test("JSON-LD wave 8: value-object validity, null handling") {
    import graft.io.JsonLdParser
    def ld(doc: String) = new JsonLdParser(doc).parse()
    // nulls mean "no value": dropped from properties and lists
    assert(ld("""{"@id":"http://x/s","http://x/p":null}""").isEmpty)
    assert(ld("""{"@id":"http://x/s","http://x/p":{"@value":null}}""")
      .isEmpty)
    assert(ld("""{"@context":{"p":{"@id":"http://x/p","@container":"@list"}},
      "@id":"http://x/s","p":["a",null,"b"]}""".stripMargin).size == 5)
    val bads = Seq(
      """{"@id":"http://x/s","http://x/p":{"@value":"v","http://x/q":"w"}}""",
      """{"@id":"http://x/s","http://x/p":{"@value":"v","@type":"http://x/dt","@language":"en"}}""",
      """{"@id":"http://x/s","http://x/p":{"@value":{"k":1}}}""",
      """{"@id":42,"http://x/p":"v"}""")
    for (b <- bads)
      assert(try { ld(b); false } catch { case _: Exception => true },
        s"should reject: $b")
  }

  test("PN_CHARS beyond ASCII: combining marks, middle dot, undertie " +
      "(wave 14)") {
    // decomposed e + COMBINING ACUTE in locals, labels, prefixes
    assert(ttl(p + ":éx :p 1 .").head.s.lex == "http://x/éx")
    assert(ttl(p + ":a·b :p 1 .").head.s.lex == "http://x/a·b")
    assert(ttl(p + ":a‿b :p 1 .").head.s.lex == "http://x/a‿b")
    assert(ttl(p + "_:é :p 1 .").head.s.lex == "é")
    assert(ttl("@prefix p·x: <http://y/> .\np·x:s p·x:p 1 .")
      .head.s.lex == "http://y/s")
    assert(RdfIO.parseLine("_:é <http://e/p> \"v\" .",
      allowGraph = false).get.s.lex == "é")
  }

  test("N-Triples: bnode labels with interior dots, bad langtag") {
    val q = RdfIO.parseLine("_:a.b <http://e/p> _:c.d .",
      allowGraph = false).get
    assert(q.s.lex == "a.b" && q.o.lex == "c.d")
    assert(RdfIO.parseLine("_:x <http://e/p> _:y.", // trailing dot = '.'
      allowGraph = false).get.o.lex == "y")
    intercept[Exception](RdfIO.parseLine(
      "<http://e/s> <http://e/p> \"v\"@en- .", allowGraph = false))
  }

  test("wave 15: PN first-char strictness — prefixes, locals, labels") {
    // PN_PREFIX must start with PN_CHARS_BASE: no digits/'_'/'-'/marks
    intercept[Exception](ttl("@prefix 1a: <http://y/> .\n1a:s 1a:p 1 ."))
    intercept[Exception](ttl("@prefix _a: <http://y/> .\n_a:s _a:p 1 ."))
    intercept[Exception](ttl("@prefix ·a: <http://y/> .\n·a:s ·a:p 1 ."))
    // PN_LOCAL first char is PN_CHARS_U | ':' | [0-9] | PLX — a
    // leading '-' or '.' ends the token at the PNAME_NS colon and the
    // leftover fails downstream
    intercept[Exception](ttl(p + ":s :p :-x ."))
    intercept[Exception](ttl(p + ":s :p :.x ."))
    assert(ttl(p + ":s :p :9x .").head.o.lex == "http://x/9x")
    assert(ttl(p + ":s :p :_x .").head.o.lex == "http://x/_x")
    assert(ttl(p + ":s :p :%41x .").head.o.lex == "http://x/%41x")
    assert(ttl(p + ":s :p :\\-x .").head.o.lex == "http://x/-x")
    // BLANK_NODE_LABEL first char is PN_CHARS_U or [0-9]
    intercept[Exception](ttl(p + "_:-a :p 1 ."))
    intercept[Exception](ttl(p + "_:·a :p 1 ."))
    assert(ttl(p + "_:9a :p 1 .").head.s.lex == "9a")
    intercept[Exception](RdfIO.parseLine(
      "_:-a <http://e/p> \"v\" .", allowGraph = false))
    intercept[Exception](RdfIO.parseLine(
      "_: <http://e/p> \"v\" .", allowGraph = false))
    assert(RdfIO.parseLine("_:9a <http://e/p> \"v\" .",
      allowGraph = false).get.s.lex == "9a")
  }

  test("wave 15: RDF/XML NCName unicode + emptyPropertyElt property " +
      "attributes") {
    import graft.io.RdfXmlParser
    val R = "xmlns:rdf=\"http://www.w3.org/1999/02/22-rdf-syntax-ns#\" " +
      "xmlns:ex=\"http://x/\""
    def doc(body: String, extra: String = "") =
      s"""<?xml version="1.0"?><rdf:RDF $R $extra>$body</rdf:RDF>"""
    def parse(body: String, extra: String = "") =
      new RdfXmlParser(doc(body, extra)).parse()
    // NCName start/continuation beyond ASCII: é starts, · continues
    assert(parse("""<rdf:Description rdf:nodeID="éb"><ex:p>v</ex:p></rdf:Description>""")
      .head.s.lex == "éb")
    assert(parse("""<rdf:Description rdf:nodeID="a·b"><ex:p>v</ex:p></rdf:Description>""")
      .head.s.lex == "a·b")
    intercept[Exception](parse(
      """<rdf:Description rdf:nodeID="·a"><ex:p>v</ex:p></rdf:Description>"""))
    intercept[Exception](parse(
      """<rdf:Description rdf:nodeID="-a"><ex:p>v</ex:p></rdf:Description>"""))
    // emptyPropertyElt with propertyAttr*: implicit bnode object
    val b = parse("""<rdf:Description rdf:about="http://x/s"><ex:p ex:q="v" rdf:type="http://x/T"/></rdf:Description>""")
    assert(b.size == 3)
    val bn = b.find(_.p.lex == "http://x/p").get.o
    assert(bn.kind == Term.BlankKind.toByte)
    assert(b.exists(q => q.s == bn && q.p.lex == "http://x/q" &&
      q.o.lex == "v"))
    assert(b.exists(q => q.s == bn && q.p.lex.endsWith("#type") &&
      q.o.lex == "http://x/T"))
    // rdf:resource + propertyAttr: attributes attach to the resource
    val r = parse("""<rdf:Description rdf:about="http://x/s"><ex:p rdf:resource="http://x/o" ex:q="v"/></rdf:Description>""")
    assert(r.exists(q => q.s.lex == "http://x/o" &&
      q.p.lex == "http://x/q" && q.o.lex == "v"))
    // node-element property attributes carry the in-scope xml:lang
    val l = parse("""<rdf:Description rdf:about="http://x/s" xml:lang="en" ex:n="v"/>""")
    assert(l.head.o.dt == Term.RdfLangString && l.head.o.lang == "en")
    val bads = Seq(
      // propertyAttr never combines with parseType or rdf:datatype
      """<rdf:Description rdf:about="http://x/s"><ex:p rdf:parseType="Resource" ex:q="v"/></rdf:Description>""",
      """<rdf:Description rdf:about="http://x/s"><ex:p rdf:datatype="http://x/dt" ex:q="v">t</ex:p></rdf:Description>""",
      // property element with attributes must be EMPTY
      """<rdf:Description rdf:about="http://x/s"><ex:p ex:q="v">text</ex:p></rdf:Description>""",
      // rdf:Description / rdf:li are not property attributes
      """<rdf:Description rdf:about="http://x/s" rdf:Description="x"/>""",
      """<rdf:Description rdf:about="http://x/s" rdf:li="x"/>""")
    for (bad <- bads)
      assert(
        try { parse(bad); false } catch { case _: Exception => true },
        s"should reject: $bad")
  }

  test("wave 15: N3 quantifiers bind symbols to variables; N3-only " +
      "syntax is rejected in Turtle mode") {
    val dir = java.nio.file.Files.createTempDirectory("graft_n3q")
    java.nio.file.Files.writeString(dir.resolve("q.n3"),
      """@prefix ex: <http://e/> .
        |@forAll ex:u .
        |@forSome ex:v , ex:w .
        |ex:u ex:p ex:v .
        |ex:a ex:q ex:w .
        |""".stripMargin)
    val rows = RdfIO.read(spark, dir.toString + "/q.n3", "n3").collect()
    def part(r: org.apache.spark.sql.Row, f: String) =
      r.getAs[org.apache.spark.sql.Row](f)
    val r1 = rows.find(r => part(r, "p").getString(1) == "http://e/p").get
    val r2 = rows.find(r => part(r, "p").getString(1) == "http://e/q").get
    val B = graft.model.Term.BlankKind.toByte
    // quantified symbols become variable blank nodes wherever they occur
    assert(part(r1, "s").getByte(0) == B && part(r1, "o").getByte(0) == B)
    assert(part(r2, "s").getString(1) == "http://e/a" &&
      part(r2, "o").getByte(0) == B)
    // distinct symbols get distinct variables
    assert(part(r1, "o").getString(1) != part(r2, "o").getString(1))
    // Turtle/TriG mode rejects every N3-only form
    val n3Only = Seq(
      "?x :p 1 .",              // quick variable
      ":a!:b :c 1 .",           // forward path
      ":a^:b :c 1 .",           // reverse path
      ":x = :y .",              // owl:sameAs operator
      "{ :a :b :c } => { :d :e :f } .", // implication over formulas
      "@forAll :x .",
      "@forSome :x .")
    for (b <- n3Only)
      assert(
        try { ttl(p + b); false } catch { case _: Exception => true },
        s"Turtle mode should reject: $b")
  }

  test("wave 17: Turtle term-position rules — 'a' predicate-only, " +
      "case-sensitive booleans, collections, langtag-keyword overlap") {
    // 'a' is a predicate-only terminal; booleans are lowercase-only
    intercept[Exception](ttl(p + "a :p 1 ."))
    intercept[Exception](ttl(p + ":s :p a ."))
    intercept[Exception](ttl(p + ":s :p TRUE ."))
    assert(ttl(p + ":s :p true .").head.o.lex == "true")
    // predicates are IRIs only — never bnodes or collections
    intercept[Exception](ttl(p + ":s _:b 1 ."))
    intercept[Exception](ttl(p + ":s (1) 1 ."))
    // '()' is rdf:nil and is a legal subject
    assert(ttl(p + "() :p 1 .").head.s.lex.endsWith("#nil"))
    // '@prefix' after a literal is a LANGTAG, not the directive
    assert(ttl(p + ":s :p \"v\"@prefix .").head.o.lang == "prefix")
    // nested collections materialize their own rdf:first/rest chains:
    // 3 outer cells (6 quads) + 2 inner cells (4) + the statement (1)
    assert(ttl(p + ":s :p (1 (2 3) \"x\") .").size == 11)
  }

  test("wave 18: N-Quads graph labels are IRI/bnode only; RDF/XML " +
      "parseType corners") {
    // literal graph label violates N-Quads rule [6]
    intercept[Exception](RdfIO.parseLine(
      "<http://s> <http://p> \"o\" \"g\" .", allowGraph = true))
    assert(RdfIO.parseLine("<http://s> <http://p> \"o\" _:g .",
      allowGraph = true).get.g.lex == "g")
    import graft.io.RdfXmlParser
    val R = "xmlns:rdf=\"http://www.w3.org/1999/02/22-rdf-syntax-ns#\" " +
      "xmlns:ex=\"http://x/\""
    def parse(body: String) = new RdfXmlParser(
      s"""<?xml version="1.0"?><rdf:RDF $R>$body</rdf:RDF>""").parse()
    // unknown parseType values are treated as "Literal" (§7.2.20)
    val other = parse("""<rdf:Description rdf:about="http://x/s"><ex:p rdf:parseType="Bogus"><b>x</b></ex:p></rdf:Description>""")
    assert(other.head.o.dt.endsWith("#XMLLiteral") &&
      other.head.o.lex.contains("<b>x</b>"))
    // parseType="Literal" keeps markup + attributes verbatim
    val lit = parse("""<rdf:Description rdf:about="http://x/s"><ex:p rdf:parseType="Literal"><b x="1">bold</b> tail</ex:p></rdf:Description>""")
    assert(lit.head.o.lex == """<b x="1">bold</b> tail""")
    // rdf:li renumbers per subject ELEMENT (container membership)
    val li = parse("""<rdf:Description rdf:about="http://x/s"><rdf:li>a</rdf:li></rdf:Description><rdf:Description rdf:about="http://x/t"><rdf:li>b</rdf:li></rdf:Description>""")
    assert(li.forall(_.p.lex.endsWith("#_1")))
    // rdf:datatype beats the in-scope xml:lang (typed literal, no tag)
    val dt = parse("""<rdf:Description rdf:about="http://x/s" xml:lang="en"><ex:p rdf:datatype="http://x/dt">v</ex:p></rdf:Description>""")
    assert(dt.head.o.dt == "http://x/dt" && dt.head.o.lang == null)
  }

  test("wave 17: JSON-LD @reverse (map + term definition) and @included") {
    import graft.io.JsonLdParser
    def ld(doc: String) = new JsonLdParser(doc).parse()
    // @reverse map on a node object: triples point INTO the subject
    val rm = ld("""{"@id":"http://x/s",
      "@reverse":{"http://x/parent":{"@id":"http://x/c","http://x/n":"v"}}}""")
    assert(rm.exists(q => q.s.lex == "http://x/c" &&
      q.p.lex == "http://x/parent" && q.o.lex == "http://x/s"))
    assert(rm.exists(q => q.s.lex == "http://x/c" &&
      q.p.lex == "http://x/n" && q.o.lex == "v"))
    // {"@reverse": iri} term definition: values emit object-to-subject
    val rt = ld("""{"@context":{"children":{"@reverse":"http://x/parent"}},
      "@id":"http://x/s","children":[{"@id":"http://x/a"},{"@id":"http://x/b"}]}""")
    assert(rt.size == 2 && rt.forall(q => q.o.lex == "http://x/s" &&
      q.p.lex == "http://x/parent"))
    assert(rt.map(_.s.lex).sorted == Seq("http://x/a", "http://x/b"))
    // @type:@id coercion applies under reverse terms
    val rc = ld("""{"@context":{"children":{"@reverse":"http://x/parent",
      "@type":"@id"}},"@id":"http://x/s","children":"http://x/a"}""")
    assert(rc.head.s.lex == "http://x/a" && rc.head.o.lex == "http://x/s")
    // literal values under @reverse are invalid
    intercept[Exception](ld("""{"@context":{"children":{"@reverse":
      "http://x/parent"}},"@id":"http://x/s","children":"plain"}"""))
    intercept[Exception](ld("""{"@id":"http://x/s",
      "@reverse":{"http://x/parent":"plain"}}"""))
    // a term with both @reverse and @id, or a @list reverse container
    intercept[Exception](ld("""{"@context":{"t":{"@reverse":"http://x/p",
      "@id":"http://x/q"}},"@id":"http://x/s","t":{"@id":"http://x/a"}}"""))
    intercept[Exception](ld("""{"@context":{"t":{"@reverse":"http://x/p",
      "@container":"@list"}},"@id":"http://x/s","t":[{"@id":"http://x/a"}]}"""))
    // @included: sibling node objects land in the same graph
    val inc = ld("""{"@id":"http://x/s","http://x/p":"v",
      "@included":[{"@id":"http://x/t","http://x/q":"w"}]}""")
    assert(inc.size == 2 &&
      inc.exists(q => q.s.lex == "http://x/t" && q.o.lex == "w"))
  }

  test("wave 19: JSON-LD @json literals and @nest") {
    import graft.io.JsonLdParser
    def ld(doc: String) = new JsonLdParser(doc).parse()
    val J = "http://www.w3.org/1999/02/22-rdf-syntax-ns#JSON"
    // term-coerced @json: the whole value canonicalizes (sorted keys)
    val t1 = ld("""{"@context":{"p":{"@id":"http://x/p","@type":"@json"}},
      "@id":"http://x/s","p":{"b":1,"a":[true,null,"x"]}}""")
    assert(t1.head.o.dt == J &&
      t1.head.o.lex == """{"a":[true,null,"x"],"b":1}""")
    // expanded form: {"@value": <any JSON>, "@type": "@json"}
    val t2 = ld("""{"@id":"http://x/s",
      "http://x/p":{"@value":{"k":[1,2]},"@type":"@json"}}""")
    assert(t2.head.o.dt == J && t2.head.o.lex == """{"k":[1,2]}""")
    // scalars under @json stay JSON (not xsd typing)
    val t3 = ld("""{"@context":{"p":{"@id":"http://x/p","@type":"@json"}},
      "@id":"http://x/s","p":3}""")
    assert(t3.head.o.dt == J && t3.head.o.lex == "3")
    // @nest entries contribute as if on the parent node
    val n1 = ld("""{"@id":"http://x/s","http://x/top":"v",
      "@nest":{"http://x/inner":"w","@nest":{"http://x/deep":"d"}}}""")
    assert(n1.size == 3 && n1.forall(_.s.lex == "http://x/s"))
    assert(n1.exists(q => q.p.lex == "http://x/deep" && q.o.lex == "d"))
    // aliased @nest via the context
    val n2 = ld("""{"@context":{"meta":"@nest"},"@id":"http://x/s",
      "meta":{"http://x/inner":"w"}}""")
    assert(n2.size == 1 && n2.head.p.lex == "http://x/inner")
    // @nest values must be node objects, never value objects
    intercept[Exception](ld("""{"@id":"http://x/s","@nest":"x"}"""))
    intercept[Exception](ld(
      """{"@id":"http://x/s","@nest":{"@value":"x"}}"""))
  }

  test("wave 15: JSON-LD null-valued value objects drop out of lists") {
    import graft.io.JsonLdParser
    def ld(doc: String) = new JsonLdParser(doc).parse()
    val ctx = """{"p":{"@id":"http://x/p","@container":"@list"}}"""
    // a {"@value": null} entry drops exactly like a bare null
    assert(ld(s"""{"@context":$ctx,"@id":"http://x/s",
      "p":["a",{"@value":null},"b"]}""").size == 5)
    // all entries null-valued -> rdf:nil, no dangling rdf:first
    val nil = ld(s"""{"@context":$ctx,"@id":"http://x/s",
      "p":[{"@value":null}]}""")
    assert(nil.size == 1 && nil.head.o.lex.endsWith("#nil"))
    assert(!nil.exists(q => q.o == null))
  }

  test("wave 23: RDF/XML internal DTD entities expand; external " +
      "entities and expansion bombs stay blocked") {
    import graft.io.RdfXmlParser
    val R = "xmlns:rdf=\"http://www.w3.org/1999/02/22-rdf-syntax-ns#\" " +
      "xmlns:ex=\"http://x/\""
    // the classic namespace-shorthand DOCTYPE: entities in attribute
    // values (IRIs) and element text (literals) both expand
    val withDtd =
      s"""<?xml version="1.0"?>
         |<!DOCTYPE rdf:RDF [
         |  <!ENTITY xsd "http://www.w3.org/2001/XMLSchema#">
         |  <!ENTITY base "http://x/">
         |  <!ENTITY word "hello">
         |]>
         |<rdf:RDF $R>
         |  <rdf:Description rdf:about="&base;s">
         |    <ex:p rdf:datatype="&xsd;int">42</ex:p>
         |    <ex:q>&word; world</ex:q>
         |  </rdf:Description>
         |</rdf:RDF>""".stripMargin
    val quads = new RdfXmlParser(withDtd).parse()
    assert(quads.size == 2)
    assert(quads.forall(_.s.lex == "http://x/s"))
    assert(quads.exists(q =>
      q.o.dt == "http://www.w3.org/2001/XMLSchema#int" && q.o.lex == "42"))
    assert(quads.exists(_.o.lex == "hello world"))
    // an external (SYSTEM) entity must never be fetched: the parse
    // either fails or yields content WITHOUT the file's bytes
    val probe = java.nio.file.Files.createTempFile("xxe", ".txt")
    java.nio.file.Files.writeString(probe, "SECRET-BYTES")
    val xxe =
      s"""<?xml version="1.0"?>
         |<!DOCTYPE rdf:RDF [
         |  <!ENTITY leak SYSTEM "${probe.toUri}">
         |]>
         |<rdf:RDF $R>
         |  <rdf:Description rdf:about="http://x/s"><ex:p>&leak;</ex:p>
         |  </rdf:Description>
         |</rdf:RDF>""".stripMargin
    val leaked =
      try new RdfXmlParser(xxe).parse().exists(_.o.lex.contains("SECRET"))
      catch { case _: Exception => false }
    assert(!leaked, "external entity content leaked into the graph")
    // recursive expansion beyond the secure-processing cap is rejected
    val bomb =
      s"""<?xml version="1.0"?>
         |<!DOCTYPE rdf:RDF [
         |  <!ENTITY a "aaaaaaaaaa">
         |  <!ENTITY b "&a;&a;&a;&a;&a;&a;&a;&a;&a;&a;">
         |  <!ENTITY c "&b;&b;&b;&b;&b;&b;&b;&b;&b;&b;">
         |  <!ENTITY d "&c;&c;&c;&c;&c;&c;&c;&c;&c;&c;">
         |  <!ENTITY e "&d;&d;&d;&d;&d;&d;&d;&d;&d;&d;">
         |  <!ENTITY f "&e;&e;&e;&e;&e;&e;&e;&e;&e;&e;">
         |]>
         |<rdf:RDF $R>
         |  <rdf:Description rdf:about="http://x/s"><ex:p>&f;</ex:p>
         |  </rdf:Description>
         |</rdf:RDF>""".stripMargin
    assertThrows[Exception](new RdfXmlParser(bomb).parse())
  }

  test("wave 24: JSON-LD @direction under the three rdfDirection modes") {
    import graft.io.JsonLdParser
    val doc =
      """{"@context": {"@language": "AR", "@direction": "rtl",
        |  "p": "http://x/p"},
        | "@id": "http://x/s", "p": "text"}""".stripMargin
    // default mode: direction drops, the language survives (JSON-LD 1.0
    // consumer behavior)
    val plain = new JsonLdParser(doc).parse()
    assert(plain.size == 1 && plain.head.o.lang == "ar" &&
      plain.head.o.dt == graft.model.Term.RdfLangString)
    // i18n-datatype: https://www.w3.org/ns/i18n#{lang}_{dir}, no tag
    val i18n = new JsonLdParser(doc, Some("i18n-datatype")).parse()
    assert(i18n.size == 1 && i18n.head.o.lang == null &&
      i18n.head.o.dt == "https://www.w3.org/ns/i18n#ar_rtl", i18n)
    // ...and with no language the lang slot in the datatype is empty
    val noLang = new JsonLdParser(
      """{"@id": "http://x/s",
        | "http://x/p": {"@value": "t", "@direction": "ltr"}}""".stripMargin,
      Some("i18n-datatype")).parse()
    assert(noLang.head.o.dt == "https://www.w3.org/ns/i18n#_ltr")
    // term-level @direction: null clears the context default
    val cleared = new JsonLdParser(
      """{"@context": {"@language": "ar", "@direction": "rtl",
        |  "q": {"@id": "http://x/q", "@direction": null}},
        | "@id": "http://x/s", "q": "t"}""".stripMargin,
      Some("i18n-datatype")).parse()
    assert(cleared.head.o.lang == "ar" &&
      cleared.head.o.dt == graft.model.Term.RdfLangString)
    // compound-literal: a fresh bnode reifies value/language/direction
    val comp = new JsonLdParser(
      """{"@id": "http://x/s",
        | "http://x/p": {"@value": "hello", "@language": "AR",
        |   "@direction": "rtl"}}""".stripMargin,
      Some("compound-literal")).parse()
    assert(comp.size == 4)
    val main = comp.find(_.p.lex == "http://x/p").get
    assert(main.o.kind == graft.model.Term.BlankKind.toByte)
    def reif(local: String) = comp.find(_.p.lex ==
      s"http://www.w3.org/1999/02/22-rdf-syntax-ns#$local").get.o.lex
    assert(reif("value") == "hello" && reif("language") == "ar" &&
      reif("direction") == "rtl")
    assert(comp.filter(_.p.lex.endsWith("#value"))
      .forall(_.s.lex == main.o.lex))
    // validity: bad direction values, @type+@direction, non-string
    val bads = Seq(
      """{"@context": {"@direction": "up"}, "http://x/p": "v"}""",
      """{"http://x/p": {"@value": "v", "@type": "http://x/T",
        |  "@direction": "ltr"}}""".stripMargin,
      """{"http://x/p": {"@value": 5, "@direction": "ltr"}}""")
    for (b <- bads) assertThrows[Exception](new JsonLdParser(b).parse())
    assertThrows[Exception](
      new JsonLdParser("""{"http://x/p": "v"}""", Some("bogus")).parse())
  }

  test("wave 24: JSON-LD scoped-context propagation and @protected") {
    import graft.io.JsonLdParser
    // type-scoped contexts apply to the typed node only: the nested
    // node object reverts to the outer definition of "name"
    val typeScoped = new JsonLdParser(
      """{"@context": {"ex": "http://x/",
        |   "T": {"@id": "http://x/T",
        |         "@context": {"name": "http://typed/name"}},
        |   "name": "http://plain/name", "child": "http://x/child"},
        | "@id": "http://x/top", "@type": "T",
        | "name": "top", "child": {"@id": "http://x/kid",
        |   "name": "nested"}}""".stripMargin).parse()
    def pOf(s: String, o: String) = typeScoped
      .find(q => q.s.lex == s && q.o.lex == o).get.p.lex
    assert(pOf("http://x/top", "top") == "http://typed/name")
    assert(pOf("http://x/kid", "nested") == "http://plain/name")
    // ...unless the scoped context says @propagate: true
    val propagated = new JsonLdParser(
      """{"@context": {"ex": "http://x/",
        |   "T": {"@id": "http://x/T",
        |         "@context": {"@propagate": true,
        |                      "name": "http://typed/name"}},
        |   "name": "http://plain/name", "child": "http://x/child"},
        | "@id": "http://x/top", "@type": "T",
        | "name": "top", "child": {"@id": "http://x/kid",
        |   "name": "nested"}}""".stripMargin).parse()
    assert(propagated.find(q => q.s.lex == "http://x/kid" &&
      q.o.lex == "nested").get.p.lex == "http://typed/name")
    // property-scoped contexts DO reach nested node objects
    val propScoped = new JsonLdParser(
      """{"@context": {"name": "http://plain/name",
        |   "wrap": {"@id": "http://x/wrap",
        |            "@context": {"name": "http://inner/name"}}},
        | "@id": "http://x/top",
        | "wrap": {"@id": "http://x/a",
        |   "http://x/child": {"@id": "http://x/b",
        |     "name": "deep"}}}""".stripMargin).parse()
    assert(propScoped.find(q => q.s.lex == "http://x/b" &&
      q.o.lex == "deep").get.p.lex == "http://inner/name")
    // an embedded context with @propagate: false reverts at the child
    val embedded = new JsonLdParser(
      """{"@context": {"q": "http://outer/q", "p": "http://x/p"},
        | "@id": "http://x/top",
        | "p": {"@context": {"@propagate": false, "q": "http://over/q"},
        |   "@id": "http://x/mid", "q": "inner",
        |   "p": {"@id": "http://x/leaf", "q": "deep"}}}""".stripMargin)
      .parse()
    def qOf(s: String, o: String) = embedded
      .find(q => q.s.lex == s && q.o.lex == o).get.p.lex
    assert(qOf("http://x/mid", "inner") == "http://over/q")
    assert(qOf("http://x/leaf", "deep") == "http://outer/q")
    // @protected: conflicting redefinition errors; identical is fine;
    // property-scoped contexts may override; null reset is forbidden
    assertThrows[Exception](new JsonLdParser(
      """{"@context": [{"@protected": true, "name": "http://a/name"},
        |  {"name": "http://b/name"}],
        | "name": "v"}""".stripMargin).parse())
    val same = new JsonLdParser(
      """{"@context": [{"@protected": true, "name": "http://a/name"},
        |  {"name": "http://a/name"}],
        | "@id": "http://x/s", "name": "v"}""".stripMargin).parse()
    assert(same.head.p.lex == "http://a/name")
    val overridden = new JsonLdParser(
      """{"@context": {"@protected": true, "name": "http://a/name",
        |   "wrap": {"@id": "http://x/wrap",
        |            "@context": {"name": "http://b/name"}}},
        | "@id": "http://x/s", "wrap": {"@id": "http://x/t",
        |   "name": "v"}}""".stripMargin).parse()
    assert(overridden.find(_.o.lex == "v").get.p.lex == "http://b/name")
    assertThrows[Exception](new JsonLdParser(
      """{"@context": {"@protected": true, "name": "http://a/name"},
        | "http://x/sub": {"@context": null, "name": "x"}}""".stripMargin)
      .parse())
  }

  test("wave 27: JSON-LD 1.1 @id, @type, and @graph containers") {
    import graft.io.JsonLdParser
    val RdfT = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    // @id map: keys name the entry nodes; @none = anonymous; an
    // explicit @id inside the entry wins over the key
    val idMap = new JsonLdParser(
      """{"@context": {"p": {"@id": "http://x/p", "@container": "@id"},
        |   "name": "http://x/name"},
        | "@id": "http://x/top",
        | "p": {"http://x/a": {"name": "A"},
        |       "@none": {"name": "B"},
        |       "http://x/ignored": {"@id": "http://x/real",
        |         "name": "C"}}}""".stripMargin).parse()
    def named(o: String) =
      idMap.find(q => q.p.lex == "http://x/name" && q.o.lex == o).get.s
    assert(named("A").lex == "http://x/a")
    assert(named("B").kind == graft.model.Term.BlankKind.toByte)
    assert(named("C").lex == "http://x/real")
    val linked = idMap.filter(q => q.p.lex == "http://x/p" &&
      q.s.lex == "http://x/top").map(_.o.lex).toSet
    assert(linked.contains("http://x/a") && linked.contains("http://x/real"))
    // @type map: each entry node gains the key as rdf:type
    val tyMap = new JsonLdParser(
      """{"@context": {"p": {"@id": "http://x/p", "@container": "@type"}},
        | "@id": "http://x/top",
        | "p": {"http://x/T": {"@id": "http://x/a"},
        |       "@none": {"@id": "http://x/b"}}}""".stripMargin).parse()
    assert(tyMap.exists(q => q.s.lex == "http://x/a" && q.p.lex == RdfT &&
      q.o.lex == "http://x/T"))
    assert(!tyMap.exists(q => q.s.lex == "http://x/b" && q.p.lex == RdfT))
    assert(tyMap.count(q => q.p.lex == "http://x/p") == 2)
    // @graph container: content lands in a FRESH bnode-named graph,
    // the property links the subject to that graph name
    val gr = new JsonLdParser(
      """{"@context": {"claims": {"@id": "http://x/claims",
        |   "@container": "@graph"}},
        | "@id": "http://x/top",
        | "claims": {"@id": "http://x/s", "http://x/q": "v"}}"""
        .stripMargin).parse()
    val link = gr.find(_.p.lex == "http://x/claims").get
    assert(link.o.kind == graft.model.Term.BlankKind.toByte)
    val inner = gr.find(_.p.lex == "http://x/q").get
    assert(inner.g.kind == graft.model.Term.BlankKind.toByte &&
      inner.g.lex == link.o.lex, "content must sit in the linked graph")
    assert(link.g.kind == graft.model.Term.DefaultGraphKind.toByte)
    // @graph + @id: map keys NAME the graphs
    val grId = new JsonLdParser(
      """{"@context": {"claims": {"@id": "http://x/claims",
        |   "@container": ["@graph", "@id"]}},
        | "@id": "http://x/top",
        | "claims": {"http://x/g1": {"@id": "http://x/s",
        |   "http://x/q": "v"}}}""".stripMargin).parse()
    assert(grId.exists(q => q.p.lex == "http://x/claims" &&
      q.o.lex == "http://x/g1"))
    assert(grId.exists(q => q.p.lex == "http://x/q" &&
      q.g.lex == "http://x/g1"))
    // @set in an array container form behaves like no container
    val setC = new JsonLdParser(
      """{"@context": {"p": {"@id": "http://x/p", "@container": ["@set"]}},
        | "@id": "http://x/top", "p": ["a", "b"]}""".stripMargin).parse()
    assert(setC.count(_.p.lex == "http://x/p") == 2)
    // unknown container keyword is an error
    assertThrows[Exception](new JsonLdParser(
      """{"@context": {"p": {"@id": "http://x/p",
        |   "@container": "@bogus"}}, "p": "v"}""".stripMargin).parse())
  }

  test("wave 28: the @graph document wrapper is transparent; graph " +
      "objects in property position name a graph") {
    import graft.io.JsonLdParser
    import graft.model.Term
    // the most common JSON-LD document form: context + @graph wrapper
    // — triples belong to the DEFAULT graph, not a bnode-named one
    val wrapped = new JsonLdParser(
      """{"@context": {"p": "http://x/p"},
        | "@graph": [{"@id": "http://x/s", "p": "v"}]}""".stripMargin)
      .parse()
    assert(wrapped.size == 1 &&
      wrapped.head.g.kind == Term.DefaultGraphKind.toByte, wrapped)
    // an @id alongside @graph names the graph
    val named = new JsonLdParser(
      """{"@id": "http://x/G",
        | "@graph": [{"@id": "http://x/s", "http://x/p": "v"}]}"""
        .stripMargin).parse()
    assert(named.head.g.lex == "http://x/G")
    // a nested wrapper inside a named graph's @graph stays there
    val nested = new JsonLdParser(
      """{"@id": "http://x/G", "@graph": [
        |  {"@graph": [{"@id": "http://x/s", "http://x/p": "v"}]}]}"""
        .stripMargin).parse()
    assert(nested.size == 1 && nested.head.g.lex == "http://x/G")
    // @included blocks must hold node objects, never value objects
    assertThrows[Exception](new JsonLdParser(
      """{"@id": "http://x/s", "http://x/p": "v",
        | "@included": [{"@value": "nope"}]}""".stripMargin).parse())
    // in PROPERTY position the same @graph-only shape is a graph
    // object: fresh bnode graph, property links to it
    val propPos = new JsonLdParser(
      """{"@id": "http://x/top",
        | "http://x/claims": {"@graph": [
        |   {"@id": "http://x/s", "http://x/q": "v"}]}}""".stripMargin)
      .parse()
    val link2 = propPos.find(_.p.lex == "http://x/claims").get
    assert(link2.o.kind == Term.BlankKind.toByte)
    val content = propPos.find(_.p.lex == "http://x/q").get
    assert(content.g.lex == link2.o.lex)
  }

  test("RdfIO.readJsonLd threads the rdfDirection option") {
    val d = java.nio.file.Files.createTempDirectory("graft_dir")
    java.nio.file.Files.writeString(d.resolve("doc.jsonld"),
      """{"@id": "http://x/s",
        | "http://x/p": {"@value": "t", "@language": "ar",
        |   "@direction": "rtl"}}""".stripMargin)
    val dropped = RdfIO.readJsonLd(spark, d.toString + "/doc.jsonld")
      .collect()
    assert(dropped.length == 1 &&
      dropped(0).getAs[org.apache.spark.sql.Row]("o")
        .getAs[String]("lang") == "ar")
    val kept = RdfIO.readJsonLd(spark, d.toString + "/doc.jsonld",
      Some("i18n-datatype")).collect()
    assert(kept.length == 1 &&
      kept(0).getAs[org.apache.spark.sql.Row]("o")
        .getAs[String]("dt") == "https://www.w3.org/ns/i18n#ar_rtl")
  }

  test("RDF serializer roundtrip fuzz: hostile literals survive every " +
      "format (nt, nq, ttl, trig, rdfxml, jsonld)") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import graft.model.Term
    // framing quotes/backslashes, newlines/tabs/CRs (XML CR
    // normalization!), markup chars, astral unicode, term look-alikes
    val hostile = Seq("", "\"", "\\", "\n", "\t", "\r\n", "a\"b\\c",
      "line1\nline2", "col\tcol", "<x>&'y'", "中𐀀", "1", "true",
      "1.5e3", "\"\"\"", "'''", " padded ", "_:fake", "?var",
      "end with .", "# not a comment", "@en looks like a tag")
    val genO: Gen[Row] = Gen.frequency(
      5 -> (for {
        lex <- Gen.oneOf(hostile); shape <- Gen.choose(0, 2)
      } yield shape match {
        case 0 => Row(Term.LiteralKind.toByte, lex, Term.XsdString, null)
        case 1 => Row(Term.LiteralKind.toByte, lex, "http://dt/x", null)
        case _ =>
          Row(Term.LiteralKind.toByte, lex, Term.RdfLangString, "en-us")
      }),
      2 -> Gen.oneOf("http://x/α", "http://x/a?b=c&d=e", "http://x/𐀀")
        .map(i => Row(Term.IriKind.toByte, i, null, null)),
      1 -> Gen.oneOf("b0", "b1", "x.y").map(b =>
        Row(Term.BlankKind.toByte, b, null, null)))
    val dg = Row(Term.DefaultGraphKind.toByte, null, null, null)
    val genQuadRow: Gen[Row] = for {
      g <- Gen.frequency(
        3 -> Gen.const(dg),
        2 -> Gen.oneOf("http://x/g1", "http://x/g2").map(i =>
          Row(Term.IriKind.toByte, i, null, null)))
      s <- Gen.frequency(
        4 -> Gen.choose(0, 3).map(n =>
          Row(Term.IriKind.toByte, s"http://x/s$n", null, null)),
        1 -> Gen.oneOf("b0", "b1").map(b =>
          Row(Term.BlankKind.toByte, b, null, null)))
      p <- Gen.choose(0, 2).map(n =>
        Row(Term.IriKind.toByte, s"http://x/p$n", null, null))
      o <- genO
    } yield Row(g, s, p, o)
    val prop = Prop.forAllNoShrink(
      Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, genQuadRow))) {
      rows =>
        // distinct rows: Turtle subject-grouping and JSON-LD node
        // merging legitimately dedupe repeated identical triples
        val distinctRows = rows.distinct
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(distinctRows, 2),
          Term.quadSchema)
        def canon(d: org.apache.spark.sql.DataFrame): Seq[String] =
          d.select("g", "s", "p", "o").collect().map(_.toString)
            .sorted.toSeq
        // triple formats carry the default-graph slice only; quad
        // formats (nq, trig, jsonld) must keep named graphs
        val baseAll = canon(df)
        val baseDefault = canon(df.where(
          org.apache.spark.sql.functions.col("g")("kind") ===
            Term.DefaultGraphKind))
        Seq("nt", "nq", "ttl", "trig", "rdfxml", "jsonld").forall { fmt =>
          val quadFmt = Set("nq", "trig", "jsonld")(fmt)
          val base = if (quadFmt) baseAll else baseDefault
          val dir = java.nio.file.Files
            .createTempDirectory("graft_rt").resolve(fmt).toString
          RdfIO.write(df, dir, fmt)
          val readBack = RdfIO.read(spark, dir + "/part-*", fmt)
          val back = canon(
            if (readBack.columns.contains("g")) readBack
            else readBack.withColumn("g",
              graft.model.Term.defaultGraph))
          if (back != base)
            println(s"$fmt roundtrip: $base -> $back")
          back == base
        }
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(
        sys.env.getOrElse("GRAFT_RT_N", "12").toInt), prop)
    assert(result.passed, s"serializer roundtrip fuzz: ${result.status}")
  }
}
