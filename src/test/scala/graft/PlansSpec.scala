package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.algebra.Algebra._
import graft.exec.{PathExec, Translator}
import graft.io.{DfQuadSource, TpchRdf}
import graft.io.TpchRdf.P
import graft.model.Term

/** Plan-shape assertions: lock in the physical plans that survive
  * scale-up (hash joins, seeded fixpoints) so a regression to a
  * nested-loop or all-pairs shape fails loudly, not just slowly.
  */
class PlansSpec extends AnyFunSuite {
  import TestSpark._

  private def t(iri: String) = Row(Term.IriKind.toByte, iri, null, null)
  private val dg = Row(Term.DefaultGraphKind.toByte, null, null, null)
  private def quadsDf(edges: Seq[(String, String, String)]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        edges.map { case (s, p, o) => Row(dg, t(s), t(p), t(o)) }.toList, 2),
      Term.quadSchema)

  test("MINUS with sure shared vars compiles to a hash anti-join (no BNLJ)") {
    val gp = Minus(
      Bgp(TriplePattern(V("c"), I(P("name")), V("cname")),
        TriplePattern(V("c"), I(P("acctbal")), V("b"))),
      Bgp(TriplePattern(V("o"), I(P("orderedBy")), V("c")),
        TriplePattern(V("o"), I(P("totalprice")), V("tp"))))
    val df = Translator.translate(gp, TpchRdf.quads(spark, sf)).df
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"MINUS regressed to a nested-loop join:\n$plan")
    assert(plan.contains("LeftAnti"), s"expected an anti join:\n$plan")
  }

  test("per-binding EXISTS (sigma-domain MINUS inner) stays hash-joined") {
    // sp33's shape: the MINUS inside EXISTS shares only the outer var,
    // so the per-binding path runs — it must stay broadcast/hash joins
    // keyed on the row-id tag, never a nested-loop or cartesian product
    val gp = Filter(
      EExists(Minus(
        Bgp(TriplePattern(V("o"), I(P("orderedBy")), V("c"))),
        Bgp(TriplePattern(V("o2"), I(P("orderedBy")), V("c"))))),
      Bgp(TriplePattern(V("c"), I(P("name")), V("cname"))))
    val df = Translator.translate(gp, TpchRdf.quads(spark, sf)).df
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"per-binding EXISTS must stay hash-joinable:\n$plan")
    // semantics witness: sigma-domains are disjoint -> MINUS removes
    // nothing -> every customer with >=1 order survives
    val n = df.count()
    assert(n > 0, "expected customers with orders")
  }

  test("sp34 shape: EXISTS in a correlated LATERAL body stays hash-joined") {
    // the EXISTS correlates on the outer ?c AND the body's ?o, the
    // latter only in expression position — the full per-binding σ path
    // (markExists inside the LATERAL engine); must stay __lid-keyed
    // hash joins, never a nested-loop or cartesian product
    val gp = Lateral(
      Bgp(TriplePattern(V("c"), I(P("name")), V("cname")),
        TriplePattern(V("c"), I(P("acctbal")), V("b"))),
      Filter(
        EExists(Filter(EFn("!=", EVar("o2"), EVar("o")),
          Bgp(TriplePattern(V("o2"), I(P("orderedBy")), V("c"))))),
        Bgp(TriplePattern(V("o"), I(P("orderedBy")), V("c")),
          TriplePattern(V("o"), I(P("totalprice")), V("tp")))))
    val df = Translator.translate(gp, TpchRdf.quads(spark, sf)).df
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"LATERAL-EXISTS per-binding path must stay hash-joinable:\n$plan")
    // semantics witness: only orders with a sibling order survive —
    // every surviving customer contributes >= 2 rows
    val perC = df.groupBy(col("cname")("lex")).count()
      .collect().map(_.getLong(1))
    assert(perC.nonEmpty && perC.forall(_ >= 2),
      "each surviving customer must have >= 2 qualifying orders")
  }

  test("OPTIONAL with an EXISTS condition decomposes into hash joins") {
    val gp = LeftJoin(
      Bgp(TriplePattern(V("c"), I(P("name")), V("cname"))),
      Bgp(TriplePattern(V("c"), I(P("acctbal")), V("b"))),
      Some(EExists(Bgp(
        TriplePattern(V("o"), I(P("orderedBy")), V("c"))))))
    val df = Translator.translate(gp, TpchRdf.quads(spark, sf)).df
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"leftJoinFiltered must stay hash-joinable:\n$plan")
    // every customer appears exactly once: with ?b when it has an
    // order, bare otherwise (the Diff arm of §18.2.2.7)
    val rows = df.select(col("cname")("lex")).collect().map(_.getString(0))
    assert(rows.length == rows.distinct.length,
      "one row per customer expected")
  }

  test("MINUS with nullable shared vars keeps compatibility semantics") {
    // right side binds ?b only optionally -> not sure -> theta join path
    val gp = Minus(
      Bgp(TriplePattern(V("c"), I(P("name")), V("cname")),
        TriplePattern(V("c"), I(P("acctbal")), V("b"))),
      LeftJoin(
        Bgp(TriplePattern(V("c"), I(P("mktsegment")), V("seg"))),
        Bgp(TriplePattern(V("c"), I(P("acctbal")), V("b")))))
    // just needs to run correctly; every customer has both -> all removed
    val df = Translator.translate(gp, TpchRdf.quads(spark, sf)).df
    assert(df.count() == 0)
  }

  test("p+ closure with a constant subject stays seeded (no all-pairs)") {
    val p = "http://x/p"
    val edges = Seq(
      ("http://x/a", p, "http://x/b"), ("http://x/b", p, "http://x/c"),
      ("http://x/c", p, "http://x/d"),
      // a second component the seeded closure must never visit
      ("http://x/e", p, "http://x/f"), ("http://x/f", p, "http://x/g"))
    val seed = spark.createDataFrame(
      spark.sparkContext.parallelize(List(Row(t("http://x/a")))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n", Term.schema, true))))
    val pairs = PathExec.eval(POneOrMore(PLink(p)),
      DfQuadSource(quadsDf(edges)), Translator.DefaultG,
      Some(PathExec.Seed(seed, zeroIncludesSeed = true)), None)
    val got = pairs.collect().map(r =>
      (r.getAs[Row]("ps").getString(1), r.getAs[Row]("po").getString(1))).toSet
    // the closure OUTPUT itself (pre-filter) must only contain seed rows:
    // the old all-pairs shape would also emit (b,c), (e,f), ...
    assert(got == Set(
      ("http://x/a", "http://x/b"),
      ("http://x/a", "http://x/c"),
      ("http://x/a", "http://x/d")), s"closure not seeded: $got")
  }

  test("p+ closure with a constant object seeds backwards") {
    val p = "http://x/p"
    val edges = Seq(
      ("http://x/a", p, "http://x/b"), ("http://x/b", p, "http://x/c"),
      ("http://x/e", p, "http://x/f"))
    val seed = spark.createDataFrame(
      spark.sparkContext.parallelize(List(Row(t("http://x/c")))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n", Term.schema, true))))
    val pairs = PathExec.eval(POneOrMore(PLink(p)),
      DfQuadSource(quadsDf(edges)), Translator.DefaultG,
      None, Some(PathExec.Seed(seed, zeroIncludesSeed = true)))
    val got = pairs.collect().map(r =>
      (r.getAs[Row]("ps").getString(1), r.getAs[Row]("po").getString(1))).toSet
    assert(got == Set(
      ("http://x/a", "http://x/c"),
      ("http://x/b", "http://x/c")), s"backward closure not seeded: $got")
  }

  test("p* with constant subject includes the seed even off-graph") {
    // SPARQL §18.4 ALP: a term start node matches zero-length even when
    // absent from the graph
    val p = "http://x/p"
    val edges = Seq(("http://x/a", p, "http://x/b"))
    val sol = Translator.translate(
      PathPattern(I("http://x/zzz"), PZeroOrMore(PLink(p)), V("y")),
      quadsDf(edges))
    val got = sol.df.collect().map(_.getAs[Row]("y").getString(1)).toSet
    assert(got == Set("http://x/zzz"), s"got $got")
  }

  test("peelSliceShell finds sort keys under the parser's Project shell") {
    // The parser builds Slice(Distinct?(Project(OrderBy(…)))) for every
    // non-`SELECT *` subselect — matching OrderBy only as Slice's direct
    // child returns Nil sort keys, degrading a per-graph ordered LIMIT
    // to an arbitrary pick after any exchange.
    val bgp = Bgp(TriplePattern(V("s"), I("http://x/p"), V("x")))
    val keys = Seq((EVar("x"): Expr, true))
    val (core, ks, proj, dist) =
      Translator.peelSliceShell(Project(OrderBy(bgp, keys), Seq("x")))
    assert(ks == keys, "sort keys must survive the Project shell")
    assert(proj == Some(Seq("x")) && !dist && core == bgp)
    val (core2, ks2, _, dist2) = Translator.peelSliceShell(
      Distinct(Project(OrderBy(bgp, keys), Seq("x"))))
    assert(ks2 == keys && dist2 && core2 == bgp)
  }

  test("per-graph ordered LIMIT: real sort keys in the window, right rows") {
    val g1 = Row(Term.IriKind.toByte, "http://x/g1", null, null)
    val g2 = Row(Term.IriKind.toByte, "http://x/g2", null, null)
    def l(v: String) =
      Row(Term.LiteralKind.toByte, v, "http://www.w3.org/2001/XMLSchema#string", null)
    val quads = spark.createDataFrame(
      spark.sparkContext.parallelize(List(
        Row(g1, t("http://x/s1"), t("http://x/p"), l("b")),
        Row(g1, t("http://x/s2"), t("http://x/p"), l("a")),
        Row(g2, t("http://x/s3"), t("http://x/p"), l("d")),
        Row(g2, t("http://x/s4"), t("http://x/p"), l("c"))), 4),
      Term.quadSchema)
    val df = graft.parser.SparqlParser.execute(
      """SELECT ?g ?x WHERE { GRAPH ?g {
           SELECT ?x WHERE { ?s <http://x/p> ?x } ORDER BY ?x LIMIT 1
         } }""", quads)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("row_number"), s"expected a per-graph window:\n$plan")
    // literal-1 ordering only — an expression id like `_w0#41 ASC NULLS
    // FIRST` must NOT match (exprIds are a global counter, so a plain
    // substring check flakes depending on suite order)
    val lit1Order =
      java.util.regex.Pattern.compile("[^#0-9]1 ASC NULLS FIRST")
    assert(!lit1Order.matcher(plan).find(),
      s"window must order by the subselect's sort keys, not lit(1):\n$plan")
    val got = df.collect()
      .map(r => (r.getAs[Row]("g").getString(1),
        r.getAs[Row]("x").getString(1))).toSet
    assert(got == Set(("http://x/g1", "a"), ("http://x/g2", "c")),
      s"per-graph minimum must be deterministic, got $got")
  }

  test("GRAPH ?g implicit aggregate emits COUNT=0 rows for empty graphs") {
    val g1 = Row(Term.IriKind.toByte, "http://x/g1", null, null)
    val g2 = Row(Term.IriKind.toByte, "http://x/g2", null, null)
    val quads = spark.createDataFrame(
      spark.sparkContext.parallelize(List(
        Row(g1, t("http://x/s1"), t("http://x/p"), t("http://x/o1")),
        Row(g1, t("http://x/s2"), t("http://x/p"), t("http://x/o2")),
        // g2 exists but holds no <http://x/p> triples
        Row(g2, t("http://x/s3"), t("http://x/q"), t("http://x/o3"))), 2),
      Term.quadSchema)
    val df = graft.parser.SparqlParser.execute(
      """SELECT ?g ?c WHERE { GRAPH ?g {
           SELECT (COUNT(?s) AS ?c) WHERE { ?s <http://x/p> ?o }
         } }""", quads)
    val got = df.collect()
      .map(r => (r.getAs[Row]("g").getString(1),
        r.getAs[Row]("c").getString(1))).toSet
    assert(got == Set(("http://x/g1", "2"), ("http://x/g2", "0")),
      s"empty named graph must report COUNT=0, got $got")
  }

  test("correlated monotone LATERAL equals the equi-join") {
    val l = Bgp(TriplePattern(V("c"), I(P("name")), V("n")))
    val r = Bgp(TriplePattern(V("c"), I(P("acctbal")), V("b")))
    val quads = TpchRdf.quads(spark, sf)
    val lat = Translator.translate(Lateral(l, r), quads).df
    val join = Translator.translate(Join(l, r), quads).df
    assert(lat.count() == join.count() && lat.count() > 0)
    assert(lat.except(join).count() == 0)
  }

  test("cross-correlated OPTIONAL in LATERAL evaluates per binding") {
    val l = Bgp(TriplePattern(V("c"), I(P("mktsegment")), V("n")))
    // OPTIONAL whose right side correlates with the outer binding NOT
    // through its own left part: σ distributes over LeftJoin, so both
    // sides evaluate per binding and left-outer join on __lid
    val a = Bgp(TriplePattern(V("x"), I(P("inRegion")), V("y")))
    val r: GraphPattern = LeftJoin(a,
      Bgp(TriplePattern(V("c"), I(P("acctbal")), V("b"))))
    val quads = TpchRdf.quads(spark, sf)
    val lat = Translator.translate(Lateral(l, r), quads)
    val nCust = Translator.translate(l, quads).df.count()
    val nNat = Translator.translate(a, quads).df.count()
    // every customer has an acctbal, so the OPTIONAL always extends:
    // (customer × nation-in-region) rows, b bound everywhere
    assert(lat.df.count() == nCust * nNat && nCust > 0 && nNat > 0)
    assert(lat.df.where(col("b").isNull).count() == 0)
  }

  test("cross-correlated MINUS in LATERAL honors σ-domain disjointness") {
    val l = Bgp(TriplePattern(V("c"), I(P("mktsegment")), V("n")))
    val a = Bgp(TriplePattern(V("c"), I(P("acctbal")), V("av")))
    val quads = TpchRdf.quads(spark, sf)
    // b shares only the SUBSTITUTED outer var ?c with a: σ-domains are
    // disjoint ({av} vs {b0}), so MINUS must remove NOTHING — a naive
    // join on the carried ?c column would remove every row
    val bDisjoint = Bgp(TriplePattern(V("c"), I(P("name")), V("b0")))
    val kept = Translator.translate(Lateral(l, Minus(a, bDisjoint)), quads)
      .df.count()
    val base = Translator.translate(Lateral(l, a), quads).df.count()
    assert(kept == base && base > 0,
      s"disjoint σ-domains must keep all $base rows, kept $kept")
    // b re-binds the same live var ?av: every per-binding evaluation
    // matches itself, so MINUS removes everything
    val bSame = Bgp(TriplePattern(V("c"), I(P("acctbal")), V("av")))
    assert(Translator.translate(Lateral(l, Minus(a, bSame)), quads)
      .df.count() == 0)
  }

  test("NESTED cross-correlated OPTIONAL recurses per binding") {
    val l = Bgp(TriplePattern(V("c"), I(P("mktsegment")), V("n")))
    // OPTIONAL inside an OPTIONAL's own left part, cross-correlated —
    // σ distributes recursively, so the per-binding rewrite recurses
    val r: GraphPattern = LeftJoin(
      LeftJoin(
        Bgp(TriplePattern(V("x"), I(P("inRegion")), V("y"))),
        Bgp(TriplePattern(V("c"), I(P("acctbal")), V("b")))),
      Bgp(TriplePattern(V("y"), I(P("label")), V("cm"))))
    val quads = TpchRdf.quads(spark, sf)
    val lat = Translator.translate(Lateral(l, r), quads)
    val nCust = Translator.translate(l, quads).df.count()
    val nNat = Translator.translate(
      Bgp(TriplePattern(V("x"), I(P("inRegion")), V("y"))), quads)
      .df.count()
    val nLblPerRegion = Translator.translate(
      Bgp(TriplePattern(V("y"), I(P("label")), V("cm"))), quads)
      .df.count() / Translator.translate(
      Bgp(TriplePattern(V("y"), I(P("label")), V("z0"))), quads)
      .df.select(col("y")).distinct().count()
    // every nation is in a labeled region, every customer has acctbal:
    // (customer × nation) rows × labels per region, b and cm bound
    assert(lat.df.count() == nCust * nNat * nLblPerRegion && nCust > 0)
    assert(lat.df.where(col("b").isNull || col("cm").isNull).count() == 0)
  }

  test("cross-correlated UNION in LATERAL evaluates per binding") {
    val l = Bgp(TriplePattern(V("c"), I(P("mktsegment")), V("n")))
    val r: GraphPattern = Union(
      Bgp(TriplePattern(V("c"), I(P("acctbal")), V("v"))),
      Bgp(TriplePattern(V("c"), I(P("name")), V("v"))))
    val quads = TpchRdf.quads(spark, sf)
    val lat = Translator.translate(Lateral(l, r), quads)
    val nCust = Translator.translate(l, quads).df.count()
    // each customer contributes its own acctbal row and its own name row
    assert(lat.df.count() == 2 * nCust && nCust > 0)
  }

  test("cross-correlated FILTER (NOT) EXISTS in LATERAL is per binding") {
    val l = Bgp(TriplePattern(V("c"), I(P("mktsegment")), V("n")))
    val body = Bgp(TriplePattern(V("x"), I(P("inRegion")), V("y")))
    val probe = Bgp(TriplePattern(V("c"), I(P("acctbal")), V("b")))
    val quads = TpchRdf.quads(spark, sf)
    val nCust = Translator.translate(l, quads).df.count()
    val nNat = Translator.translate(body, quads).df.count()
    // every customer has an acctbal: EXISTS keeps all, NOT EXISTS none
    val ex = Translator.translate(
      Lateral(l, Filter(EExists(probe, true), body)), quads).df.count()
    assert(ex == nCust * nNat && ex > 0)
    val nex = Translator.translate(
      Lateral(l, Filter(EExists(probe, false), body)), quads).df.count()
    assert(nex == 0)
  }

  test("GRAPH <iri> around a cross-correlated core evaluates in that graph") {
    val g1 = Row(Term.IriKind.toByte, "http://x/g1", null, null)
    def l(v: String) = Row(Term.LiteralKind.toByte, v,
      "http://www.w3.org/2001/XMLSchema#string", null)
    val quads = spark.createDataFrame(
      spark.sparkContext.parallelize(List(
        Row(dg, t("http://x/c1"), t("http://x/k"), l("x")),
        Row(dg, t("http://x/c2"), t("http://x/k"), l("y")),
        Row(g1, t("http://x/c1"), t("http://x/bal"), l("5")),
        Row(g1, t("http://x/r1"), t("http://x/r"), l("v"))), 2),
      Term.quadSchema)
    val lat = Translator.translate(Lateral(
      Bgp(TriplePattern(V("c"), I("http://x/k"), V("x"))),
      GraphPat(I("http://x/g1"), LeftJoin(
        Bgp(TriplePattern(V("y"), I("http://x/r"), V("v"))),
        Bgp(TriplePattern(V("c"), I("http://x/bal"), V("b")))))), quads)
    val got = lat.df.collect().map(r =>
      (r.getAs[Row]("c").getString(1),
        Option(r.getAs[Row]("b")).map(_.getString(1)))).toSet
    assert(got == Set(("http://x/c1", Some("5")), ("http://x/c2", None)),
      s"got $got")
  }

  test("correlated LATERAL: BIND re-binding an outer var translates " +
      "(compatible merge); bare correlated OrderBy evaluates order-less") {
    val l = Bgp(TriplePattern(V("c"), I(P("mktsegment")), V("n")))
    // re-binding an outer variable: supported since r9 — the computed
    // value merges compatibly with the outer binding (semantics locked
    // in DifferentialSpec); here just lock that it translates
    val rebind: GraphPattern = Extend(
      Bgp(TriplePattern(V("x"), I(P("inRegion")), V("y"))),
      "n", EVar("y"))
    Translator.translate(Lateral(l, rebind), TpchRdf.quads(spark, sf))
    // a correlated BARE OrderBy nested under OPTIONAL (no enclosing
    // Slice): the inner order cannot survive the join, so since r10 it
    // evaluates IGNORING the sort — same rows as the order-less shape
    def shape(wrap: GraphPattern => GraphPattern): GraphPattern = LeftJoin(
      Bgp(TriplePattern(V("x"), I(P("inRegion")), V("y"))),
      wrap(Filter(EFn("=", EVar("n"), ELit("1", Term.XsdInteger)),
        Bgp(TriplePattern(V("x"), I(P("partOf")), V("z"))))),
      None)
    def rows(g: GraphPattern): Set[String] =
      Translator.translate(Lateral(l, g), TpchRdf.quads(spark, sf))
        .df.collect().map(_.toString).toSet
    val ordered = rows(shape(i =>
      OrderBy(i, Seq((EVar("z"), true)))))
    assert(ordered == rows(shape(identity)),
      "bare correlated OrderBy must evaluate as its order-less child")
  }

  test("LATERAL sliced aggregation: top segment per nation") {
    val l = Bgp(TriplePattern(V("n"), I(P("inRegion")), V("r")))
    val g: GraphPattern = Slice(
      OrderBy(
        Group(Bgp(TriplePattern(V("c"), I(P("inNation")), V("n")),
          TriplePattern(V("c"), I(P("mktsegment")), V("seg"))),
          Seq("seg"), Seq("cnt" -> AggCall("COUNT_STAR", None))),
        Seq((EVar("cnt"), false), (EVar("seg"), true))),
      0, 1)
    val sol = Translator.translate(Lateral(l, g), TpchRdf.quads(spark, sf))
    val got = sol.df.collect().map { row =>
      val nk = row.getAs[Row]("n").getString(1).split("/").last.toLong
      nk -> (row.getAs[Row]("seg").getString(1),
        row.getAs[Row]("cnt").getString(1).toLong)
    }.toMap
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("cnt").desc, col("c_mktsegment"))
    val expected = graft.io.Tables(spark, sf, "customer")
      .groupBy(col("c_nationkey").cast("long").as("nk"),
        col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("nk").orderBy(col("cnt").desc,
          col("c_mktsegment"))))
      .where(col("rn") === 1)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(got == expected, s"diff: ${got.toSet diff expected.toSet}")
  }

  test("LATERAL per-binding aggregation equals grouped left join") {
    // per nation: count + max balance of its customers; nations without
    // customers keep a row with unbound aggregates (keys-empty group)
    val l = Bgp(TriplePattern(V("n"), I(P("inRegion")), V("r")))
    val g: GraphPattern = Group(
      Bgp(TriplePattern(V("c"), I(P("inNation")), V("n")),
        TriplePattern(V("c"), I(P("acctbal")), V("b"))),
      Nil, Seq("cnt" -> AggCall("COUNT_STAR", None),
        "m" -> AggCall("MAX", Some(EVar("b")))))
    val sol = Translator.translate(Lateral(l, g), TpchRdf.quads(spark, sf))
    assert(sol.vars == Set("n", "r", "cnt", "m"))
    val got = sol.df.collect().map { row =>
      val nk = row.getAs[Row]("n").getString(1).split("/").last.toLong
      val cnt = row.getAs[Row]("cnt").getString(1).toLong
      val m = Option(row.getAs[Row]("m")).map(_.getString(1).toDouble)
      (nk, (cnt, m))
    }.toMap
    val nations = graft.io.Tables(spark, sf, "nation")
      .select(col("n_nationkey").cast("long")).collect().map(_.getLong(0))
    val exact = graft.io.Tables(spark, sf, "customer")
      .groupBy(col("c_nationkey").cast("long").as("nk"))
      .agg(count(lit(1)).as("cnt"),
        max(col("c_acctbal").cast("decimal(38,2)")).as("m"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        Some(r.getDecimal(2).doubleValue)))).toMap
    assert(got.keySet == nations.toSet)
    nations.foreach { nk =>
      assert(got(nk) == exact.getOrElse(nk, (0L, None)),
        s"nation $nk: ${got(nk)} vs ${exact.get(nk)}")
    }
  }

  test("LATERAL sliced subselect is a per-binding top-k window") {
    // for each nation, the 2 customers with the highest acctbal
    val l = Bgp(TriplePattern(V("n"), I(P("inRegion")), V("r")))
    val sub: GraphPattern = Slice(
      Project(
        OrderBy(
          Bgp(TriplePattern(V("c"), I(P("inNation")), V("n")),
            TriplePattern(V("c"), I(P("acctbal")), V("b"))),
          Seq((EVar("b"), false), (EVar("c"), true))),
        Seq("c", "b")),
      0, 2)
    val sol = Translator.translate(Lateral(l, sub), TpchRdf.quads(spark, sf))
    assert(sol.vars == Set("n", "r", "c", "b"))
    val perN = sol.df.groupBy(col("n")("lex")).count().collect()
    assert(perN.nonEmpty && perN.forall(_.getLong(1) <= 2))
    // spot-check against a direct computation
    import org.apache.spark.sql.expressions.Window
    val cust = graft.io.Tables(spark, sf, "customer")
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("bal").desc, col("c_custkey"))
    val expected = cust
      .select(col("c_nationkey"), col("c_custkey"),
        col("c_acctbal").cast("decimal(38,2)").as("bal"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 2)
      .count()
    assert(sol.df.count() == expected)
  }

  test("inferred VNum sort key prunes the temporal-parse branch") {
    // ORDER BY over :acctbal (catalog class VNum): the sort key must
    // not carry the dateTime regex/timestamp tree the dynamic dispatch
    // needs; without the catalog it must (the pruning is observable).
    val gp = OrderBy(
      Bgp(TriplePattern(V("c"), I(P("acctbal")), V("b"))),
      Seq(EVar("b") -> true))
    val hinted = Translator.translate(gp, TpchRdf.quads(spark, sf),
      TpchRdf.predClasses).df
    val unhinted = Translator.translate(gp, TpchRdf.quads(spark, sf)).df
    def hasTemporalParse(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains("to_timestamp")
    assert(!hasTemporalParse(hinted),
      "catalog-hinted numeric sort key still parses timestamps")
    assert(hasTemporalParse(unhinted),
      "control: un-hinted sort key should carry the temporal branch")
    // ordering identical either way
    val a = hinted.select(col("b")("lex")).collect().map(_.getString(0))
    val b = unhinted.select(col("b")("lex")).collect().map(_.getString(0))
    assert(a.sameElements(b))
  }

  test("class claims merge soundly across joins and filters prune compares") {
    // var-var compare: both sides catalog-numeric -> the compiled filter
    // carries no timestamp parse; results match the relational compute
    val gp = Filter(EFn("<", EVar("b"), EVar("tp")),
      Bgp(TriplePattern(V("c"), I(P("acctbal")), V("b")),
        TriplePattern(V("o"), I(P("orderedBy")), V("c")),
        TriplePattern(V("o"), I(P("totalprice")), V("tp"))))
    val df = Translator.translate(gp, TpchRdf.quads(spark, sf),
      TpchRdf.predClasses).df
    assert(!df.queryExecution.optimizedPlan.toString.contains("to_timestamp"),
      "numeric var-var compare still carries the temporal branch")
    val cust = graft.io.Tables(spark, sf, "customer")
    val ord = graft.io.Tables(spark, sf, "orders")
    val expected = ord.join(cust, col("o_custkey") === col("c_custkey"))
      .where(col("c_acctbal").cast("decimal(38,2)") <
        col("o_totalprice").cast("decimal(38,2)")).count()
    assert(df.count() == expected)
  }

  test("dd3 banding reuses the persisted signature table (no recompute)") {
    // the documented 18x-regression failure mode is the signature
    // projection being recomputed for the banding self-join and the two
    // verification joins; the persist must surface as InMemoryTableScans
    val docs = graft.io.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).limit(200)
    // gate 0: the banding join (within the gate the driver solves the
    // pairs and nothing stays cached); its plan is the deferred node's
    // inner child once the count has run it
    val pairs = graft.ops.Dedup.minhashLshPairsGated(docs, gate = 0)
    pairs.count() // materializes the cache
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      "persisted minhash signatures are not being reused:\n" + plan)
  }

  test("contamination broadcasts the probe side (corpus never shuffles)") {
    val docs = graft.io.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val hits = graft.ops.Dedup.contamination(
      docs.where(col("doc_id") >= 20), docs.where(col("doc_id") < 20), 3, 3)
    val plan = hits.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "probe side must broadcast:\n" + plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      "only the matched-pair count may shuffle:\n" + plan)
  }

  test("training order: single-partition exchange only on the 256-row " +
    "offsets side, data path joins by broadcast") {
    val docs = graft.io.Tables(spark, sf, "documents")
    val ord = graft.ops.Order.trainingOrder(docs, col("doc_id"), "s7")
    val plan = ord.queryExecution.executedPlan.toString
    // the bucket-offset table reaches the data path via broadcast ...
    assert(plan.contains("BroadcastHashJoin"),
      "offsets must broadcast-join back:\n" + plan)
    // ... and the only global convergence point is the <=256-row bucket
    // aggregate feeding the offsets window — never the document stream
    assert("Exchange SinglePartition".r.findAllIn(plan).length == 1,
      "exactly one single-partition exchange (the metadata side):\n" + plan)
    assert(plan.contains("Exchange hashpartitioning(__b"),
      "per-bucket rank must shuffle on the bucket id:\n" + plan)
  }

  test("stratified sample is a pure scan-time filter (no exchange)") {
    val docs = graft.io.Tables(spark, sf, "documents")
    val s = graft.ops.Sampling.stratifiedSample(docs, col("doc_id"),
      col("lang"), Map("en" -> 0.25), 0.5)
    val plan = s.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "sampling must not shuffle:\n" + plan)
  }

  test("IVF corpus assignment is pure map-side (no exchange, no window)") {
    val emb = graft.io.Tables(spark, sf, "embeddings")
    val cents = graft.ops.Similarity.ivfCentroidsLocal(emb, 8, 0)
    val assigned = graft.ops.Similarity.ivfAssignTo(emb, cents)
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      "IVF assignment must not shuffle the corpus:\n" + plan)
    assert(!plan.contains("Window"),
      "IVF assignment must not window the corpus:\n" + plan)
    assert(!plan.toLowerCase.contains("join"),
      "IVF assignment must not join the corpus:\n" + plan)
  }

  test("semdedup joins on list_id only; pair join reads the persisted " +
      "assignment") {
    val emb = graft.io.Tables(spark, sf, "embeddings")
    // gate 0: the distributed path (within the gate the driver answers)
    val df = graft.ops.Similarity.semdedupPairsGated(emb, 0.4, gate = 0)
    val plan = df.queryExecution.executedPlan.toString
    // both self-join sides must come from the InMemory assignment table
    // (the nlist-way soft-assign fold would otherwise run once per side)
    assert("InMemoryTableScan".r.findAllIn(plan).length >= 2,
      "semdedup pair join must read the persisted assignment:\n" + plan)
    // the candidate join keys on the short list_id, not on vectors
    assert(plan.contains("list_id"),
      "semdedup join must key on list_id:\n" + plan)
    df.sparkSession.sharedState.cacheManager.clearCache()
  }

  test("ngram decontamination broadcasts the benchmark n-gram union") {
    val docs = graft.io.Tables(spark, sf, "documents")
    val df = graft.ops.Dedup.ngramOverlapContamination(
      docs.where(col("doc_id") >= 20), docs.where(col("doc_id") < 20), 5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "benchmark n-grams must broadcast (corpus never shuffles):\n" + plan)
    assert(!plan.contains("SortMergeJoin"),
      "corpus-side n-grams must not sort-merge:\n" + plan)
  }

  test("sessionization is ONE exchange end-to-end") {
    // lag window, session-id window, per-session agg, per-user agg all
    // reuse the user_id hash partitioning (HashPartitioning(user)
    // satisfies every later ClusteredDistribution whose keys include
    // user_id) — the 10x growth of ev2 is the per-partition sort
    // floor, not shuffle width. Lock the single-exchange shape.
    val ev = graft.ops.Events.read(spark, sf)
    val plan = graft.ops.Events.sessions(ev)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"sessions must shuffle exactly once (got $exchanges):\n$plan")
  }

  test("grouping-sets family is Expand + ONE aggregation exchange") {
    // rollup/cube/grouping-sets expand the sets map-side (Expand) and
    // exchange once on the grouping-id-extended key — never one scan
    // or shuffle per set. At 100 TB this is the difference between
    // one pass and |sets| passes over lineitem.
    for (name <- Seq("q17_rollup", "q27_cube", "q28_grouping_sets")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("Expand"), s"$name lost its Expand:\n$plan")
      val aggExchanges = "Exchange hashpartitioning".r
        .findAllIn(plan).length
      assert(aggExchanges == 1,
        s"$name must aggregate with one hash exchange " +
          s"(got $aggExchanges):\n$plan")
    }
  }

  test("inferPredicateClasses derives the catalog from data") {
    val inferred = graft.io.QuadSource.inferPredicateClasses(
      TpchRdf.quads(spark, sf))
    assert(inferred.get(P("acctbal")).contains(Term.VNum))
    assert(inferred.get(P("orderdate")).contains(Term.VTemporal))
    assert(inferred.get(P("name")).contains(Term.VStr))
    // IRI-valued predicates come out VOther (uniform non-literal)
    assert(inferred.get(P("inNation")).contains(Term.VOther))
  }

  test("pipeline scans prune to needed columns (100 TB discipline)") {
    // documents.parquet carries doc_id/text/lang/source/n_chars; a
    // 2-column projection that reads all five at 100 TB pays ~2x the
    // scan for nothing — lock ReadSchema to the needed fields.
    def readSchemas(df: org.apache.spark.sql.DataFrame): Seq[String] =
      "ReadSchema: struct<([^>]*)>".r
        .findAllMatchIn(df.queryExecution.executedPlan.toString)
        .map(_.group(1)).toSeq
    for (name <- Seq("ts7_token_counts", "dd1_exact_dedup",
        "dd2_ngram_jaccard", "ts1_langid")) {
      val df = graft.SparkEntry.queries(name)(spark, sf)
      val schemas = readSchemas(df)
      assert(schemas.nonEmpty, s"$name: no file scan found")
      schemas.foreach { s =>
        assert(!s.contains("source") && !s.contains("n_chars"),
          s"$name reads unused columns: struct<$s>")
      }
      graft.ops.ScratchCaches.releaseAll()
    }
    // ann1 needs exactly vec_id + embedding — and nothing else exists,
    // so lock that the brute-force path has no extra scan of documents
    val ann = graft.SparkEntry.queries("ann1_brute_topk")(spark, sf)
    assert(!ann.queryExecution.executedPlan.toString.contains("documents"),
      "ann1 must not scan the documents table")
    graft.ops.ScratchCaches.releaseAll()
  }
}
