package graft

import org.apache.spark.TestJobs
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.algebra.Algebra._
import graft.exec.{PathExec, Translator}
import graft.io.DfQuadSource
import graft.model.Term

/** Property-path fuzzing: random directed graphs (with cycles), random
  * path expressions; the fixpoint/compose evaluation must equal a naive
  * in-memory closure — on both sides of the closure gate: within it
  * (the default gate, closures solved on the driver) and past it (gate
  * 0, the distributed fixpoint).
  */
class PathFuzzSpec extends AnyFunSuite {
  import TestSpark._

  private val preds = Seq("http://x/p0", "http://x/p1")
  private def node(n: Int) = s"http://x/n$n"

  private val genEdge: Gen[(String, String, String)] = for {
    s <- Gen.choose(0, 6); p <- Gen.oneOf(preds); o <- Gen.choose(0, 6)
  } yield (node(s), p, node(o))
  private val genGraph: Gen[Seq[(String, String, String)]] =
    Gen.chooseNum(0, 20).flatMap(n => Gen.listOfN(n, genEdge))

  private def genPath(depth: Int): Gen[Path] =
    if (depth == 0) Gen.oneOf(preds).map(PLink)
    else Gen.frequency(
      3 -> Gen.oneOf(preds).map(PLink),
      1 -> genPath(depth - 1).map(PInv),
      1 -> (for { a <- genPath(depth - 1); b <- genPath(depth - 1) }
        yield PSeq(a, b)),
      1 -> (for { a <- genPath(depth - 1); b <- genPath(depth - 1) }
        yield PAlt(a, b)),
      1 -> genPath(depth - 1).map(POneOrMore),
      1 -> genPath(depth - 1).map(PZeroOrMore),
      1 -> genPath(depth - 1).map(PZeroOrOne),
      1 -> Gen.oneOf(preds).map(p => PNeg(Seq(p))),
      1 -> (for { p <- Gen.oneOf(preds); q <- Gen.oneOf(preds) }
        yield PNeg(Seq(p), Seq(q))),
      1 -> Gen.oneOf(preds).map(p => PNeg(Nil, Seq(p))))

  // naive evaluation over edge set; nodes = all subjects/objects
  private def evalNaive(p: Path, edges: Seq[(String, String, String)])
      : Set[(String, String)] = p match {
    case PLink(iri) => edges.collect { case (s, `iri`, o) => (s, o) }.toSet
    case PInv(q) => evalNaive(q, edges).map(_.swap)
    case PSeq(a, b) =>
      val l = evalNaive(a, edges); val r = evalNaive(b, edges)
      for { (s, m) <- l; (m2, o) <- r if m == m2 } yield (s, o)
    case PAlt(a, b) => evalNaive(a, edges) ++ evalNaive(b, edges)
    case PNeg(iris, invIris) =>
      val fwd =
        if (iris.nonEmpty)
          edges.collect { case (s, p0, o) if !iris.contains(p0) => (s, o) }
        else Nil
      val inv =
        if (invIris.nonEmpty)
          edges.collect { case (s, p0, o) if !invIris.contains(p0) => (o, s) }
        else Nil
      (fwd ++ inv).toSet
    case PZeroOrOne(q) => evalNaive(q, edges) ++ allNodes(edges).map(n => (n, n))
    case POneOrMore(q) => closure(evalNaive(q, edges))
    case PZeroOrMore(q) =>
      closure(evalNaive(q, edges)) ++ allNodes(edges).map(n => (n, n))
  }
  private def allNodes(edges: Seq[(String, String, String)]): Set[String] =
    edges.flatMap(e => Seq(e._1, e._3)).toSet
  private def closure(e: Set[(String, String)]): Set[(String, String)] = {
    var acc = e
    var grew = true
    while (grew) {
      val next = for { (s, m) <- acc; (m2, o) <- acc if m == m2 } yield (s, o)
      val merged = acc ++ next
      grew = merged.size > acc.size
      acc = merged
    }
    acc
  }

  private def quadsDf(edges: Seq[(String, String, String)]) = {
    def t(iri: String) = Row(Term.IriKind.toByte, iri, null, null)
    val dg = Row(Term.DefaultGraphKind.toByte, null, null, null)
    val rows = edges.map { case (s, p, o) => Row(dg, t(s), t(p), t(o)) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList, 2), Term.quadSchema)
  }

  /** A path pattern's solutions the way the translator builds them
    * (constant endpoints seed the closure and filter the pairs), from
    * PathExec with closure gate `gate`.
    */
  private def viaPathExec(gate: Long)(pat: PathPattern,
      quads: DataFrame): DataFrame = {
    val PathPattern(s, path, o) = pat
    def seed(t: TermPat) = t match {
      case I(iri) => Some(PathExec.Seed(
        spark.range(1).select(Term.iri(iri).as("n")), zeroIncludesSeed = true))
      case _ => None
    }
    val ends = Seq(s -> "ps", o -> "po")
    val pairs = ends.foldLeft(PathExec.eval(path, DfQuadSource(quads),
      Translator.DefaultG, seed(s), seed(o), gate)) {
      case (df, (I(iri), c)) => df.where(col(c)("lex") === iri)
      case (df, _) => df
    }
    pairs.select(ends.collect { case (V(v), c) => col(c).as(v) }: _*)
  }

  private val sides: Seq[(String, (PathPattern, DataFrame) => DataFrame)] =
    Seq("" -> ((pat, quads) => Translator.translate(pat, quads).df),
      " (closure gate 0: distributed fixpoint)" -> viaPathExec(0L))

  for ((side, solve) <- sides) {
    test("distributed path evaluation equals naive closure on random graphs" +
        side) {
      val prop = Prop.forAllNoShrink(genGraph, genPath(2)) { (edges, path) =>
        val expected = evalNaive(path, edges)
        val df = solve(PathPattern(V("x"), path, V("y")), quadsDf(edges))
        val got = df.collect().map { r =>
          (r.getAs[Row]("x").getString(1), r.getAs[Row]("y").getString(1))
        }.toSet
        if (got != expected)
          println(s"MISMATCH path=$path edges=$edges\nexp=$expected\ngot=$got")
        got == expected
      }
      val result = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(
          sys.env.getOrElse("GRAFT_FUZZ_N", "20").toInt), prop)
      assert(result.passed, s"path fuzz failed: ${result.status}")
    }

    test("p+ fixpoint RAISES at the iteration cap instead of truncating" +
        side) {
      // diameter > cap: a silent exit here would return an incomplete
      // closure — a wrong answer with no signal. The cap must be loud.
      val p = "http://x/p"
      val chain = (0 until 70).map(i => (node(i), p, node(i + 1)))
      val quads = quadsDf(chain)
      val ex = intercept[IllegalStateException] {
        solve(PathPattern(V("x"), POneOrMore(PLink(p)), V("y")), quads)
          .count()
      }
      assert(ex.getMessage.contains("graft.path.maxIterations"))
      // seeded variant hits the same cap
      val ex2 = intercept[IllegalStateException] {
        solve(PathPattern(I(node(0)), POneOrMore(PLink(p)), V("y")), quads)
          .count()
      }
      assert(ex2.getMessage.contains("did not converge"))
      // raising the session cap completes the closure exactly
      spark.conf.set("graft.path.maxIterations", "128")
      try {
        val n = solve(
          PathPattern(I(node(0)), POneOrMore(PLink(p)), V("y")), quads)
          .count()
        assert(n == 70, s"expected the full 70-node tail, got $n")
      } finally spark.conf.unset("graft.path.maxIterations")
    }

    test("seeded evaluation with a bound endpoint equals filtered naive" +
        side) {
      val prop = Prop.forAllNoShrink(genGraph, genPath(2), Gen.choose(0, 6),
        Gen.oneOf(true, false)) { (edges, path, k, boundSubj) =>
        val x = node(k)
        // restrict to in-graph seeds: for off-graph terms the spec's ALP
        // includes the zero-length self-pair that the naive bottom-up
        // model (graph terms only) omits — covered by PlansSpec instead
        if (!allNodes(edges).contains(x)) true
        else {
          val expected = evalNaive(path, edges).collect {
            case (s, o) if (if (boundSubj) s == x else o == x) =>
              if (boundSubj) o else s
          }.toSet
          val pat =
            if (boundSubj) PathPattern(I(x), path, V("v"))
            else PathPattern(V("v"), path, I(x))
          val df = solve(pat, quadsDf(edges))
          val got = df.collect()
            .map(r => r.getAs[Row]("v").getString(1)).toSet
          if (got != expected)
            println(s"SEEDED MISMATCH x=$x subj=$boundSubj path=$path " +
              s"edges=$edges\nexp=$expected\ngot=$got")
          got == expected
        }
      }
      val result = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(
          sys.env.getOrElse("GRAFT_FUZZ_N", "20").toInt), prop)
      assert(result.passed, s"seeded path fuzz failed: ${result.status}")
    }
  }

  test("a closure whose first round passes the gate falls back to the " +
      "distributed fixpoint and equals naive") {
    // a hub: 20 edges fit a gate of 50, but one round of p+ reaches all
    // 10 × 10 (a_i, b_j) pairs, and the seeded q/p+ reaches them from 10
    // seeds at once; the driver rounds must stop inside that round
    val (p, q) = ("http://x/p", "http://x/q")
    val hub = (0 until 10).flatMap(i => Seq((s"http://x/a$i", p, node(0)),
      (node(0), p, s"http://x/b$i"), (node(1), q, s"http://x/a$i")))
    val quads = quadsDf(hub)
    def pairs(df: DataFrame, vs: String*) = df.collect().map(r =>
      vs.map(v => r.getAs[Row](v).getString(1))).toSet
    val plus = PathPattern(V("x"), POneOrMore(PLink(p)), V("y"))
    val all = evalNaive(POneOrMore(PLink(p)), hub)
    assert(all.size == 120)
    val seeded = PathPattern(I(node(1)), PSeq(PLink(q), POneOrMore(PLink(p))),
      V("y"))
    val fromSeed = evalNaive(seeded.path, hub).collect {
      case (s, o) if s == node(1) => Seq(o) }
    assert(fromSeed.size == 11)
    for (gate <- Seq(50L, graft.ops.Skew.BroadcastRowGate)) {
      val (got, jobs) = TestJobs.count(spark.sparkContext)(
        pairs(viaPathExec(gate)(plus, quads), "x", "y"))
      assert(got == all.map { case (s, o) => Seq(s, o) }, s"gate $gate")
      // the distributed loop's checkpoints and counts: more jobs than
      // the driver-side solve's edge read plus the answer's collect
      if (gate == 50L) assert(jobs > 3, s"$jobs jobs at gate 50")
      assert(pairs(viaPathExec(gate)(seeded, quads), "y") == fromSeed,
        s"seeded, gate $gate")
    }
  }

  test("a constant-seeded p+ within the closure gate runs at most 3 " +
      "jobs while translating") {
    // the distributed fixpoint runs a checkpoint and a count (and their
    // stages' jobs) per round: hundreds of jobs on this 30-edge chain
    val p = "http://x/p"
    val quads = quadsDf((0 until 30).map(i => (node(i), p, node(i + 1))))
    val (sol, jobs) = TestJobs.count(spark.sparkContext)(
      Translator.translate(
        PathPattern(I(node(0)), POneOrMore(PLink(p)), V("y")), quads))
    assert(jobs <= 3, s"$jobs jobs during translation")
    assert(sol.df.count() == 30)
  }
}
