package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.algebra.Algebra.{I, L}
import graft.model.Term

/** The Store façade (oxigraph Store / pyoxigraph parity — SURVEY §3.1):
  * load/query/update/dump/scan as one user-facing object, immutable
  * batch-dataset semantics instead of transactions.
  */
class GraftStoreSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpDir(): java.nio.file.Path =
    Files.createTempDirectory("graftstore")

  private def sampleStore(): GraftStore = {
    val d = tmpDir()
    val nt = d.resolve("data.nt")
    Files.writeString(nt,
      """<http://x/a> <http://x/p> <http://x/b> .
        |<http://x/b> <http://x/p> <http://x/c> .
        |<http://x/a> <http://x/name> "alpha" .
        |""".stripMargin)
    GraftStore.fromFile(spark, nt.toString, "nt")
  }

  test("fromFile + query + size") {
    val st = sampleStore()
    assert(st.size == 3 && !st.isEmpty)
    val rows = st.query(
      "SELECT ?o WHERE { <http://x/a> <http://x/p> ?o }")
      .select(col("o")("lex")).collect().map(_.getString(0))
    assert(rows.toSeq == Seq("http://x/b"))
  }

  test("ill-formed GRAPH slot bindings are skipped, not emitted (§16.2.3)") {
    val st = sampleStore()
    // ?g ranges over a literal and an IRI: only the IRI instantiation
    // may produce a quad — a literal graph term would be an invalid quad
    val st2 = st.update(
      """INSERT { GRAPH ?g { <http://x/n> <http://x/p> <http://x/m> } }
         WHERE { VALUES ?g { "notagraph" <http://x/ok> } }""")
    assert(st2.size == st.size + 1)
    val gs = st2.quads
      .where(col("s")("lex") === "http://x/n")
      .select(col("g")("kind"), col("g")("lex")).collect()
    assert(gs.length == 1 && gs(0).getByte(0) == Term.IriKind &&
      gs(0).getString(1) == "http://x/ok")
  }

  test("update returns a new store; original unchanged") {
    val st = sampleStore()
    val st2 = st.update(
      "INSERT DATA { <http://x/d> <http://x/p> <http://x/e> }")
    assert(st2.size == 4 && st.size == 3)
  }

  test("load into a named graph; namedGraphs reports it") {
    val d = tmpDir()
    val extra = d.resolve("extra.nt")
    Files.writeString(extra, "<http://y/s> <http://y/q> \"v\" .\n")
    val st = sampleStore().load(extra.toString, Some("urn:g:x"))
    assert(st.namedGraphs == Seq("urn:g:x"))
    val got = st.query(
      "SELECT ?s WHERE { GRAPH <urn:g:x> { ?s <http://y/q> ?v } }")
      .select(col("s")("lex")).collect().map(_.getString(0))
    assert(got.toSeq == Seq("http://y/s"))
  }

  test("dumpNQuads roundtrip") {
    val st = sampleStore()
    val out = tmpDir().resolve("dump").toString
    st.dumpNQuads(out)
    val back = GraftStore(graft.io.RdfIO.readNQuads(spark, out))
    assert(back.size == st.size)
  }

  test("save/open predicate-partitioned roundtrip") {
    val st = sampleStore()
    val out = tmpDir().resolve("store").toString
    st.save(out)
    val back = GraftStore.open(spark, out)
    assert(back.size == st.size)
    val rows = back.query(
      "SELECT ?n WHERE { ?s <http://x/name> ?n }")
      .select(col("n")("lex")).collect().map(_.getString(0))
    assert(rows.toSeq == Seq("alpha"))
  }

  test("updateInPlace: partition-delta parity with the full rebuild; " +
      "untouched partitions not rewritten; emptied partitions removed") {
    val d = tmpDir()
    val nt = d.resolve("data.nt")
    Files.writeString(nt,
      """<http://x/a> <http://x/p> <http://x/b> .
        |<http://x/b> <http://x/p> <http://x/c> .
        |<http://x/a> <http://x/name> "alpha" .
        |<http://x/a> <http://x/q> "1"^^<http://www.w3.org/2001/XMLSchema#integer> .
        |<http://x/b> <http://x/q> "2"^^<http://www.w3.org/2001/XMLSchema#integer> .
        |""".stripMargin)
    val st = GraftStore.fromFile(spark, nt.toString, "nt")
    val path = d.resolve("store").toString
    st.save(path)
    def partFiles(key: String): Set[String] = {
      val dir = new java.io.File(s"$path/p_key=$key")
      if (!dir.exists()) Set.empty
      else dir.listFiles().map(f => f.getName + ":" + f.lastModified())
        .toSet
    }
    val nameBefore = partFiles("name")
    val deltaOps =
      """INSERT DATA { <http://x/n1> <http://x/p> <http://x/n2> .
        |              <http://x/n1> <http://x/fresh> "v" } ;
        |DELETE { ?s <http://x/q> ?o } INSERT { ?s <http://x/q2> ?o }
        |WHERE { ?s <http://x/q> ?o } ;
        |CREATE GRAPH <http://x/g9>""".stripMargin
    GraftStore.updateInPlace(spark, path, deltaOps)
    // untouched partition: byte-for-byte the same files
    assert(partFiles("name") == nameBefore,
      "delta update rewrote an untouched partition")
    // emptied partition directory is gone; new predicates appeared
    assert(partFiles("q").isEmpty, "emptied partition left behind")
    assert(partFiles("q2").nonEmpty && partFiles("fresh").nonEmpty)
    // a non-delta op (COPY) falls back to the full rebuild
    GraftStore.updateInPlace(spark, path, "COPY DEFAULT TO <urn:two>")
    // parity: the same chain through the in-memory full-rebuild path
    val want = st.update(deltaOps).update("COPY DEFAULT TO <urn:two>")
    val got = GraftStore.open(spark, path)
    def canon(s: GraftStore): Seq[String] =
      s.quads.select(concat_ws("|",
        col("g")("kind"), col("g")("lex"), col("s")("lex"),
        col("p")("lex"), col("o")("kind"), col("o")("lex"),
        coalesce(col("o")("dt"), lit("")))
        .as("v")).collect().map(_.getString(0)).sorted.toSeq
    assert(canon(got) == canon(want))
    assert(got.emptyGraphs == want.emptyGraphs &&
      got.emptyGraphs("http://x/g9"))
  }

  // ---- base + bounded delta ---------------------------------------------

  private val Xsd = "http://www.w3.org/2001/XMLSchema#integer"

  /** 20 customers: segment, nation and balance facts. */
  private def starStore(): GraftStore = {
    val nt = tmpDir().resolve("star.nt")
    Files.writeString(nt, (0 until 20).map { i =>
      val seg = if (i % 2 == 0) "BUILDING" else "AUTO"
      s"""<http://x/c$i> <http://x/seg> "$seg" .
         |<http://x/c$i> <http://x/inNation> <http://x/n${i % 3}> .
         |<http://x/c$i> <http://x/bal> "$i"^^<$Xsd> .""".stripMargin
    }.mkString("", "\n", "\n"))
    GraftStore.fromFile(spark, nt.toString, "nt")
  }

  private val starProbe =
    """SELECT ?c ?bal WHERE { ?c <http://x/seg> "BUILDING" ;
      |  <http://x/inNation> <http://x/n1> ; <http://x/bal> ?bal }""".stripMargin

  private def planNodes(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collectWithSubqueries { case p => p }
      .size

  private def canon(q: org.apache.spark.sql.DataFrame): Seq[String] =
    q.select(concat_ws("|",
      col("g")("kind"), col("g")("lex"), col("s")("kind"), col("s")("lex"),
      col("p")("lex"), col("o")("kind"), col("o")("lex"),
      coalesce(col("o")("dt"), lit("")), coalesce(col("o")("lang"), lit("")))
      .as("v")).collect().map(_.getString(0)).sorted.toSeq

  /** The same updates folded through the full-rebuild path. */
  private def rebuilt(st: GraftStore, updates: Seq[String]): Seq[String] =
    canon(updates.foldLeft(st.quads)((q, u) =>
      graft.update.UpdateExec.executeText(u, q)))

  test("a star read plans the same overlay after 1 and after 10 " +
      "INSERT/DELETE DATA writes") {
    // customers 4, 10 and 16 are BUILDING in nation n1
    def write(k: Int): String =
      if (k % 2 == 1)
        s"""INSERT DATA { <http://x/new$k> <http://x/seg> "BUILDING" ;
           |  <http://x/inNation> <http://x/n1> ;
           |  <http://x/bal> "${100 + k}"^^<$Xsd> }""".stripMargin
      else {
        val c = Seq(4, 10, 16, 4, 10)(k / 2 - 1)
        s"""DELETE DATA { <http://x/c$c> <http://x/bal> "$c"^^<$Xsd> }"""
      }
    val st0 = starStore()
    val after = (1 to 10).scanLeft(st0)((st, k) => st.update(write(k)))
    val n1 = planNodes(after(1).query(starProbe))
    val n10 = planNodes(after(10).query(starProbe))
    assert(n1 == n10, s"plan grew with writes: $n1 nodes -> $n10")
    val got = after(10).query(starProbe)
      .select(col("c")("lex")).collect().map(_.getString(0)).toSet
    assert(got == Set(1, 3, 5, 7, 9).map(k => s"http://x/new$k"))
    // 5 inserts of 3 quads, 3 distinct deleted balances
    assert(after(10).deltaRows == 18)
    assert(canon(after(10).quads) == rebuilt(st0, (1 to 10).map(write)))
  }

  test("delta composition matches the full-rebuild fold") {
    val st0 = sampleStore()
    val cases = Seq(
      // insert an existing quad: no duplicate appears
      Seq("INSERT DATA { <http://x/a> <http://x/p> <http://x/b> }"),
      // delete an absent quad: nothing changes
      Seq("DELETE DATA { <http://x/zz> <http://x/p> <http://x/b> }"),
      // insert -> delete -> re-insert: present exactly once
      Seq("INSERT DATA { <http://x/n> <http://x/p> \"v\" }",
        "DELETE DATA { <http://x/n> <http://x/p> \"v\" }",
        "INSERT DATA { <http://x/n> <http://x/p> \"v\" }"),
      // delete a base quad, then put it back
      Seq("DELETE DATA { <http://x/a> <http://x/name> \"alpha\" }",
        "INSERT DATA { <http://x/a> <http://x/name> \"alpha\" }"),
      // GRAPH-targeted data, in and out of a named graph
      Seq("""INSERT DATA { GRAPH <urn:g:d> { <http://x/a> <http://x/p> <http://x/b> .
            |  <http://x/q> <http://x/p> "w" } }""".stripMargin,
        "DELETE DATA { GRAPH <urn:g:d> { <http://x/q> <http://x/p> \"w\" } }"),
      // pattern writes against the pre-state, chained with `;`
      Seq("""DELETE { ?s <http://x/p> ?o } INSERT { ?o <http://x/back> ?s }
            |WHERE { ?s <http://x/p> ?o } ;
            |INSERT { ?s <http://x/seen> "y" } WHERE { ?s <http://x/back> ?o }"""
        .stripMargin))
    cases.foreach { ups =>
      val st = ups.foldLeft(st0)(_ update _)
      val got = canon(st.quads)
      assert(got == rebuilt(st0, ups), ups.mkString(" ; "))
      assert(got.distinct == got, s"duplicate quads after $ups")
    }
    val g = Seq(cases(4).head).foldLeft(st0)(_ update _)
    assert(g.namedGraphs == Seq("urn:g:d") && g.deltaRows == 2)
  }

  test("INSERT DATA mints fresh bnodes per request, shared within one") {
    val ins = "INSERT DATA { _:b <http://x/k> \"v\" . _:b <http://x/k2> \"w\" }"
    val st = sampleStore().update(ins).update(ins)
    val subjects = st.quads.where(col("s")("kind") === Term.BlankKind)
      .select(col("s")("lex"), col("p")("lex")).collect()
      .map(r => r.getString(0) -> r.getString(1))
    assert(subjects.length == 4)
    val bySubject = subjects.groupBy(_._1)
    assert(bySubject.size == 2 && bySubject.values.forall(_.length == 2))
    // the delta holds the bnodes it minted: a re-read sees the same ones
    val again = st.quads.where(col("s")("kind") === Term.BlankKind)
      .select(col("s")("lex")).collect().map(_.getString(0)).toSet
    assert(again == bySubject.keySet)
  }

  test("a delta past the row gate folds into a new base") {
    val gate = graft.ops.Skew.BroadcastRowGate
    val rows = spark.range(gate + 10).select(
      Term.defaultGraph.as("g"),
      Term.iri(concat(lit("http://x/big/"), col("id").cast("string")))
        .as("s"),
      Term.iri(lit("http://x/big")).as("p"),
      Term.iri(lit("http://x/o")).as("o"))
    val st0 = sampleStore()
    val big = st0.extend(rows)
    assert(big.deltaRows == 0 && big.size == gate + 13)
    // a small write after the fold composes into a fresh delta again
    val next = big.update(
      "DELETE WHERE { ?s <http://x/big> ?o } ; " +
        "INSERT DATA { <http://x/a> <http://x/q> \"z\" }")
    assert(next.deltaRows == 1 && next.size == 4)
    val sm = st0.update("INSERT DATA { <http://x/a> <http://x/q> \"z\" }")
    assert(canon(next.quads) == canon(sm.quads))
  }

  test("quadsForPattern bound-prefix scan") {
    val st = sampleStore()
    assert(st.quadsForPattern(s = Some(I("http://x/a"))).count() == 2)
    assert(st.quadsForPattern(p = Some(I("http://x/name")),
      o = Some(L("alpha", Term.XsdString))).count() == 1)
    assert(st.quadsForPattern().count() == 3)
  }

  test("GRAPH ?g {} enumeration sees CREATEd zero-quad graphs") {
    val st = sampleStore()
      .update("INSERT DATA { GRAPH <urn:g:full> { <http://x/s> <http://x/p> \"v\" } }")
      .update("CREATE GRAPH <urn:g:empty>")
    val gs = st.query("SELECT ?g WHERE { GRAPH ?g {} } ORDER BY ?g")
      .collect().map(_.getStruct(0).getString(1)).toSeq
    assert(gs == Seq("urn:g:empty", "urn:g:full"), gs.toString)
    // fixed-name gating: a registered-but-empty graph EXISTS (unit
    // row), an absent one is the empty multiset (§18.2.2.3)
    assert(st.query("ASK { GRAPH <urn:g:empty> {} }")
      .collect().head.getBoolean(0))
    assert(!st.query("ASK { GRAPH <urn:g:absent> {} }")
      .collect().head.getBoolean(0))
  }

  test("CREATE registers an empty graph; CLEAR keeps it; DROP removes it") {
    val st = sampleStore().update("CREATE GRAPH <urn:g:e>")
    assert(st.namedGraphs == Seq("urn:g:e"))
    assert(st.containsNamedGraph("urn:g:e") && st.size == 3)
    val filled = st.update(
      "INSERT DATA { GRAPH <urn:g:e> { <http://x/s> <http://x/p> \"v\" } }")
    assert(filled.size == 4)
    val cleared = filled.update("CLEAR GRAPH <urn:g:e>")
    assert(cleared.size == 3 && cleared.namedGraphs == Seq("urn:g:e"))
    val dropped = filled.update("DROP GRAPH <urn:g:e>")
    assert(dropped.size == 3 && dropped.namedGraphs.isEmpty)
    assert(!dropped.containsNamedGraph("urn:g:e"))
  }

  test("CLEAR NAMED keeps graphs alive empty; DROP NAMED unregisters") {
    val st = sampleStore().update(
      """INSERT DATA { GRAPH <urn:g:a> { <http://x/s> <http://x/p> "1" }
                       GRAPH <urn:g:b> { <http://x/s> <http://x/p> "2" } }""")
    assert(st.namedGraphs == Seq("urn:g:a", "urn:g:b") && st.size == 5)
    val cleared = st.update("CLEAR NAMED")
    assert(cleared.size == 3)
    assert(cleared.namedGraphs == Seq("urn:g:a", "urn:g:b"))
    val dropped = st.update("DROP NAMED")
    assert(dropped.size == 3 && dropped.namedGraphs.isEmpty)
    val allGone = st.update("DROP ALL")
    assert(allGone.isEmpty && allGone.namedGraphs.isEmpty)
  }

  test("insert/remove named graph API parity") {
    val st = sampleStore().insertNamedGraph("urn:g:api")
    assert(st.containsNamedGraph("urn:g:api") && st.size == 3)
    assert(st.removeNamedGraph("urn:g:api").namedGraphs.isEmpty)
    // clearing a graph that never existed must NOT create it (CLEAR
    // keeps an existing graph alive; it never conjures one)
    assert(st.clearGraph("urn:g:other").namedGraphs == Seq("urn:g:api"))
    // but clearing a registered-empty graph keeps it registered
    assert(st.clearGraph("urn:g:api").namedGraphs == Seq("urn:g:api"))
  }

  test("CLEAR SILENT GRAPH of an absent graph does not register it") {
    val st = sampleStore().update("CLEAR SILENT GRAPH <urn:g:never>")
    assert(st.namedGraphs.isEmpty)
    assert(!st.containsNamedGraph("urn:g:never"))
  }

  test("save/open round-trips the empty-graph registry") {
    val st = sampleStore().update("CREATE GRAPH <urn:g:persisted>")
    val out = tmpDir().resolve("store_reg").toString
    st.save(out)
    val back = GraftStore.open(spark, out)
    assert(back.size == 3)
    assert(back.namedGraphs == Seq("urn:g:persisted"))
  }

  test("GRAPH-targeted templates, WITH, and graph variables in updates") {
    // data: a :p b, b :p c, a :name "alpha"
    val marked = sampleStore().update(
      """INSERT { GRAPH <urn:g:m> { ?s <http://x/mark> "hit" } }
         WHERE { ?s <http://x/p> ?o }""")
    assert(marked.query(
      "SELECT ?s WHERE { GRAPH <urn:g:m> { ?s <http://x/mark> ?v } }")
      .count() == 2)
    // WITH scopes both the delete template and the match to urn:g:m
    val pruned = marked.update(
      """WITH <urn:g:m> DELETE { ?s <http://x/mark> ?v }
         WHERE { ?s <http://x/mark> ?v .
                 FILTER(STR(?s) = "http://x/a") }""")
    assert(pruned.query(
      "SELECT ?s WHERE { GRAPH <urn:g:m> { ?s <http://x/mark> ?v } }")
      .count() == 1)
    // a variable graph in the template writes into the matched graph
    val tagged = pruned.update(
      """INSERT { GRAPH ?g { <http://x/seen> <http://x/in> ?g } }
         WHERE { GRAPH ?g { ?s <http://x/mark> ?v } }""")
    val tags = tagged.query(
      "SELECT ?x WHERE { GRAPH <urn:g:m> { <http://x/seen> <http://x/in> ?x } }")
      .collect()
    assert(tags.length == 1)
    // DELETE WHERE shorthand with a GRAPH block deletes from that graph
    val wiped = tagged.update(
      "DELETE WHERE { GRAPH <urn:g:m> { ?s ?p ?o } }")
    assert(wiped.query(
      "SELECT ?s WHERE { GRAPH <urn:g:m> { ?s ?p ?o } }").count() == 0)
    assert(wiped.size == 3, "default graph untouched")
  }

  test("USING overrides WITH for matching; effects hit the full store") {
    val st = sampleStore().update(
      """INSERT DATA { GRAPH <urn:g:src> { <http://x/n> <http://x/q> "v" } }""")
    // USING merges urn:g:src into the match default; WITH only targets
    // the template (writes land in urn:g:dst)
    val updated = st.update(
      """WITH <urn:g:dst> INSERT { ?s <http://x/copied> "y" }
         USING <urn:g:src> WHERE { ?s <http://x/q> ?v }""")
    val got = updated.query(
      "SELECT ?s WHERE { GRAPH <urn:g:dst> { ?s <http://x/copied> ?y } }")
      .collect()
    assert(got.length == 1)
    // default-graph triples were invisible under USING
    assert(updated.query(
      "SELECT ?s WHERE { GRAPH <urn:g:dst> { <http://x/a> ?p ?y } }")
      .count() == 0)
  }

  test("explain shows algebra and Spark plan") {
    val st = sampleStore()
    val e = st.explain("SELECT ?o WHERE { <http://x/a> <http://x/p> ?o }")
    assert(e.contains("== SPARQL algebra ==") && e.contains("Project"))
    assert(e.contains("== Spark plan ==") && e.contains("Scan"))
  }

  test("canonicalize/isIsomorphic: bnode-relabeled stores compare equal") {
    val a = sampleStore().update(
      "INSERT DATA { _:x <http://x/link> _:y . _:y <http://x/v> \"leaf\" }")
    val b = sampleStore().update(
      "INSERT DATA { _:m <http://x/link> _:n . _:n <http://x/v> \"leaf\" }")
    assert(a.isIsomorphic(b))
    assert(!a.isIsomorphic(sampleStore()))
    // canonical forms are bit-equal as quad sets
    val (ca, cb) = (a.canonicalize(), b.canonicalize())
    assert(ca.quads.exceptAll(cb.quads).isEmpty &&
      cb.quads.exceptAll(ca.quads).isEmpty)
    assert(ca.size == a.size)
  }

  test("dump facade roundtrips through trig") {
    val st = sampleStore()
    val dir = java.nio.file.Files.createTempDirectory("graft_dumpf")
    st.dump(dir.resolve("out").toString, "trig")
    val back = GraftStore(graft.io.RdfIO.readTurtle(spark,
      dir.resolve("out").toString + "/part-*"))
    assert(back.size == st.size)
  }
}
