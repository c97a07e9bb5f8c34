package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.algebra.Algebra._
import graft.model.Term

/** Differential testing mirroring the reference's fuzzing oracle
  * (oxigraph: fuzz/fuzz_targets/sparql_eval.rs compares optimized vs
  * unoptimized evaluation; SURVEY.md §5): random small quad sets and
  * random algebra trees, Translator-on-Spark vs a naive in-memory
  * evaluator implementing the SPARQL semantics directly.
  */
class DifferentialSpec extends AnyFunSuite {
  import TestSpark._

  // ---- replayable properties ------------------------------------------
  // Every property draws its own seed and names it in its failure
  // message. To replay a failure, paste that seed here: every property
  // then runs from it.
  private val ReplaySeed: Option[String] = None

  /** Checks `prop` on `n` cases (GRAFT_FUZZ_N overrides) from one seed;
    * a failure reports `failMsg`, the ScalaCheck status and the seed. An
    * error ScalaCheck does not catch (an OutOfMemoryError, say) is
    * rethrown with the seed too.
    */
  private def checkSeeded(prop: Prop, n: Int, failMsg: String): Unit = {
    val seed = ReplaySeed.fold(Seed.random())(Seed.fromBase64(_).get)
    val result =
      try SCTest.check(
        SCTest.Parameters.default
          .withMinSuccessfulTests(
            sys.env.getOrElse("GRAFT_FUZZ_N", n.toString).toInt)
          .withInitialSeed(seed), prop)
      catch {
        case e: Throwable => fail(s"$failMsg: $e (seed ${seed.toBase64})", e)
      }
    assert(result.passed,
      s"$failMsg: ${result.status} (seed ${seed.toBase64})")
  }

  // ---- tiny term universe -------------------------------------------
  type T = (Int, String, String) // kind, lex, dt(for literals)
  private def iri(n: Int): T = (0, s"http://x/i$n", null)
  private def int(n: Int): T = (2, n.toString, Term.XsdInteger)
  private def str(s: String): T = (2, s, Term.XsdString)

  private val genTerm: Gen[T] = Gen.oneOf(
    Gen.choose(0, 4).map(iri), Gen.choose(0, 5).map(int),
    Gen.oneOf("a", "b", "c").map(str))
  private val genPred: Gen[T] = Gen.choose(0, 2).map(n => iri(10 + n))
  // RDF-star: quoted-triple terms over the same universe (kind 4; lex =
  // canonical encoding, dt null) — appear as subjects/objects
  private def toQ(t: T) = graft.model.QuotedTriple.QTerm(
    t._1.toByte, t._2, t._3, null)
  private def qt(s: T, p: T, o: T): T =
    (4, graft.model.QuotedTriple.encode(toQ(s), toQ(p), toQ(o)), null)
  private val genQuoted: Gen[T] = for {
    s <- Gen.choose(0, 4).map(iri); p <- genPred; o <- genTerm
  } yield qt(s, p, o)
  private val genQuad: Gen[(T, T, T)] = for {
    s <- Gen.frequency(5 -> Gen.choose(0, 4).map(iri), 1 -> genQuoted)
    p <- genPred
    o <- Gen.frequency(5 -> genTerm, 1 -> genQuoted)
  } yield (s, p, o)
  private val genData: Gen[Seq[(T, T, T)]] =
    Gen.chooseNum(0, 25).flatMap(n => Gen.listOfN(n, genQuad))

  // ---- algebra generator --------------------------------------------
  private val varNames = Seq("a", "b", "c", "d")
  private val genVar: Gen[TermPat] = Gen.oneOf(varNames).map(V)
  private val genConstPat: Gen[TermPat] = Gen.frequency(
    1 -> Gen.choose(0, 4).map(n => I(s"http://x/i$n")),
    1 -> Gen.choose(0, 5).map(n => L(n.toString, Term.XsdInteger)))
  private val genTermPat: Gen[TermPat] = Gen.frequency(
    5 -> genVar,
    1 -> Gen.choose(0, 4).map(n => I(s"http://x/i$n")),
    1 -> Gen.choose(0, 5).map(n => L(n.toString, Term.XsdInteger)))
  // quoted-triple patterns, components var/constant (inner vars bind
  // through QuotedParts extraction on the Spark side)
  private val genQPat: Gen[TermPat] = for {
    s <- genTermPat
    p <- Gen.frequency(
      3 -> Gen.choose(0, 2).map(n => I(s"http://x/i${10 + n}")),
      1 -> genVar)
    o <- genTermPat
  } yield Q(s, p, o)
  private val genTriple: Gen[TriplePattern] = for {
    s <- Gen.frequency(6 -> genTermPat, 1 -> genQPat)
    p <- Gen.frequency(
      4 -> Gen.choose(0, 2).map(n => I(s"http://x/i${10 + n}")),
      1 -> genVar)
    o <- Gen.frequency(6 -> genTermPat, 1 -> genQPat)
  } yield TriplePattern(s, p, o)
  private val genBgp: Gen[GraphPattern] =
    Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, genTriple))
      .map(ps => Bgp(ps: _*))
  // value-expression leaves/trees (r10): arithmetic + string fns with
  // §17 error propagation — errors bubble to the comparison, which the
  // 3VL naive evaluator mirrors as None
  private val genValLeaf: Gen[Expr] = Gen.frequency(
    4 -> Gen.oneOf(varNames).map(EVar),
    2 -> Gen.choose(0, 5).map(n => ELit(n.toString, Term.XsdInteger)),
    1 -> Gen.oneOf("a", "b", "c").map(s => ELit(s, Term.XsdString)))
  private val genValExpr: Gen[Expr] = Gen.frequency(
    3 -> genValLeaf,
    3 -> (for { a <- genValLeaf; b <- genValLeaf
                op <- Gen.oneOf("+", "-", "*", "+", "/") }
      yield EFn(op, a, b)),
    1 -> genValLeaf.map(x => EFn("STRLEN", x)),
    1 -> (for { f <- Gen.oneOf("UCASE", "LCASE", "STR")
                x <- genValLeaf } yield EFn(f, x)),
    1 -> (for { a <- genValLeaf; b <- genValLeaf }
      yield EFn("CONCAT", a, b)))

  private val genFilterExpr: Gen[Expr] = Gen.frequency(
    4 -> (for {
      v <- Gen.oneOf(varNames); op <- Gen.oneOf("=", "<", ">", "!=")
      n <- Gen.choose(0, 5)
    } yield EFn(op, EVar(v), ELit(n.toString, Term.XsdInteger))),
    // var-var comparison: operator mapping over mixed kinds — numeric
    // and string value compares, RDFterm-equal corners, error→drop
    3 -> (for {
      v1 <- Gen.oneOf(varNames); v2 <- Gen.oneOf(varNames)
      op <- Gen.oneOf("=", "<", ">", "!=")
    } yield EFn(op, EVar(v1), EVar(v2))),
    // value-expression comparisons: arithmetic type/zero errors and
    // string-fn argument errors propagate into the 3VL filter
    3 -> (for {
      a <- genValExpr; b <- genValExpr
      op <- Gen.oneOf("=", "<", ">", "!=")
    } yield EFn(op, a, b)),
    1 -> Gen.oneOf(varNames).map(v => EFn("BOUND", EVar(v))),
    1 -> Gen.oneOf(varNames).map(v => EFn("!", EFn("BOUND", EVar(v)))))

  /** Filter trees exercising 3-valued logic: leaves from
    * [[genFilterExpr]] composed with !, &&, || (error propagation:
    * error && false = false, error || true = true), plus IN lists.
    */
  private val genFilterTree: Gen[Expr] = {
    val leaf = genFilterExpr
    Gen.frequency(
      3 -> leaf,
      2 -> leaf.map(EFn("!", _)),
      2 -> (for { a <- leaf; b <- leaf; op <- Gen.oneOf("&&", "||") }
        yield EFn(op, a, b)),
      1 -> (for { a <- leaf; b <- leaf; c <- leaf
                  o1 <- Gen.oneOf("&&", "||"); o2 <- Gen.oneOf("&&", "||") }
        yield EFn(o2, EFn(o1, a, b), c)),
      1 -> (for {
        v <- Gen.oneOf(varNames)
        ns <- Gen.chooseNum(0, 3).flatMap(n =>
          Gen.listOfN(n, Gen.choose(0, 5)))
      } yield EFn("IN", EVar(v) +:
        ns.map(n => ELit(n.toString, Term.XsdInteger): Expr): _*)))
  }
  private def genPattern(depth: Int): Gen[GraphPattern] =
    if (depth == 0) genBgp
    else Gen.frequency(
      4 -> genBgp,
      2 -> (for { l <- genPattern(depth - 1); r <- genPattern(depth - 1) }
        yield Join(l, r)),
      2 -> (for { l <- genPattern(depth - 1); r <- genPattern(depth - 1) }
        yield Union(l, r)),
      1 -> (for { l <- genPattern(depth - 1); r <- genPattern(depth - 1) }
        yield LeftJoin(l, r, None)),
      1 -> (for { l <- genPattern(depth - 1); r <- genPattern(depth - 1) }
        yield Minus(l, r)),
      1 -> (for { p <- genPattern(depth - 1); f <- genFilterTree }
        yield Filter(f, p)),
      // monotone right side: lateral substitution coincides with join
      1 -> (for { l <- genPattern(depth - 1); r <- genBgp }
        yield Lateral(l, r)),
      // cross-correlated OPTIONAL/MINUS right sides: the per-binding
      // __lid rewrite vs true substitution semantics (σ distributes
      // over LeftJoin; MINUS domain-overlap excludes substituted vars)
      1 -> (for { l <- genPattern(depth - 1); a <- genBgp; b <- genBgp }
        yield Lateral(l, LeftJoin(a, b, None))),
      1 -> (for { l <- genPattern(depth - 1); a <- genBgp; b <- genBgp }
        yield Lateral(l, Minus(a, b))),
      // sometimes-unbound MINUS-left vars: a Union inside the MINUS
      // left can leave an outer var unbound per row — bottom-up compat
      // is then vacuous where substitution pins the outer constant, so
      // joinSafe must route these to the per-binding rewrite
      1 -> (for { l <- genPattern(depth - 1)
                  a <- genBgp; b <- genBgp; c <- genBgp }
        yield Lateral(l, Minus(Union(a, b), c))),
      // nested σ-distribution: OPTIONAL inside an OPTIONAL's left part,
      // and UNION over a MINUS branch — the recursive per-binding path
      1 -> (for { l <- genPattern(depth - 1)
                  a <- genBgp; b <- genBgp; c <- genBgp }
        yield Lateral(l, LeftJoin(LeftJoin(a, b, None), c, None))),
      1 -> (for { l <- genPattern(depth - 1)
                  a <- genBgp; b <- genBgp; c <- genBgp }
        yield Lateral(l, Union(a, Minus(b, c)))),
      // nested DISTINCT under a correlated union branch: σ distributes
      // over Distinct (per-binding dedup via the __lid tag)
      1 -> (for { l <- genPattern(depth - 1); a <- genBgp; b <- genBgp }
        yield Lateral(l, Union(a, Distinct(b)))),
      // EXISTS inside a correlated LATERAL body (r11): §18.5
      // substitution and the per-__lid rewrite interact — outer vars
      // must pin inside the EXISTS inner as constants, per left row
      1 -> (for { l <- genPattern(depth - 1); body <- genBgp
                  inner <- genBgp; pos <- Gen.oneOf(true, false) }
        yield Lateral(l, Filter(EExists(inner, pos), body))),
      // ...with non-monotone EXISTS inners (r11s4): Union/OPTIONAL/
      // MINUS shapes inside the EXISTS route through the per-binding
      // σ machinery (existsSemi), incl. the σ-domain MINUS rule
      1 -> (for { l <- genPattern(depth - 1); body <- genBgp
                  a <- genBgp; b <- genBgp
                  mk <- Gen.oneOf[(GraphPattern, GraphPattern) =>
                    GraphPattern](Minus(_, _), Union(_, _),
                    LeftJoin(_, _, None))
                  pos <- Gen.oneOf(true, false) }
        yield Lateral(l, Filter(EExists(mk(a, b), pos), body))),
      // ...and the same under a correlated OPTIONAL arm
      1 -> (for { l <- genPattern(depth - 1); a <- genBgp; body <- genBgp
                  inner <- genBgp; pos <- Gen.oneOf(true, false) }
        yield Lateral(l,
          LeftJoin(a, Filter(EExists(inner, pos), body), None))),
      // TOP-LEVEL correlated subselect projection (the shell-peel
      // path): hidden sometimes-unbound outer vars must revert to the
      // outer value after the merge
      1 -> (for {
        l <- genPattern(depth - 1); b <- genBgp
        vs <- Gen.someOf(varNames)
      } yield Lateral(l, Project(b, vs.toSeq.sorted))),
      // nested PROJECT under a correlated OPTIONAL/UNION: substitution
      // descends through the projection, hidden vars drop after
      1 -> (for {
        l <- genPattern(depth - 1); a <- genBgp; b <- genBgp
        vs <- Gen.someOf(varNames)
        shape <- Gen.oneOf(true, false)
      } yield Lateral(l,
        if (shape) Union(a, Project(b, vs.toSeq.sorted))
        else LeftJoin(a, Project(b, vs.toSeq.sorted), None))),
      // correlated BIND inside LATERAL: the hoisted-Extend rewrite vs
      // true per-binding substitution in the naive evaluator
      1 -> (for {
        l <- genPattern(depth - 1); r <- genBgp
        v <- Gen.oneOf(varNames); nv <- Gen.oneOf("x", "y")
        n <- Gen.choose(0, 3)
      } yield Lateral(l,
        Extend(r, nv, EFn("+", EVar(v), ELit(n.toString, Term.XsdInteger))))),
      // BIND RE-BINDING an outer var (nv drawn from the left's names):
      // σ cannot substitute the AS position, so the computed value must
      // merge compatibly with the outer binding — drop on mismatch,
      // keep the outer value when the expression errors. nv must stay
      // out of the inner pattern's scope (Extend's in-scope rule).
      1 -> (for {
        l <- genPattern(depth - 1); r <- genBgp
        v <- Gen.oneOf(varNames); nv0 <- Gen.oneOf(varNames)
        n <- Gen.choose(0, 3)
      } yield {
        val nv = if (inScopeVars(r).contains(nv0)) "x" else nv0
        Lateral(l,
          Extend(r, nv, EFn("+", EVar(v), ELit(n.toString, Term.XsdInteger))))
      }),
      // VALUES joined in (incl. UNDEF cells -> compat-join semantics)
      1 -> (for {
        l <- genPattern(depth - 1)
        v1 <- Gen.oneOf(varNames); v2 <- Gen.oneOf(varNames.filter(_ != "a"))
        rows <- Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, for {
          o1 <- Gen.option(genConstPat); o2 <- Gen.option(genConstPat)
        } yield Seq(o1, o2)))
      } yield
        if (v1 == v2) Join(l, ValuesPat(Seq(v1), rows.map(_.take(1))))
        else Join(l, ValuesPat(Seq(v1, v2), rows))),
      // path-in-algebra (r11): property paths joined with other
      // patterns under BAG semantics (PathFuzzSpec covers paths
      // standalone; this covers the PathExec→Sol join composition)
      1 -> (for { s <- genPathEnd; p <- genPathExpr(1); o <- genTermPat }
        yield PathPattern(s, p, o)),
      1 -> (for { b <- genBgp; s <- genPathEnd
                  p <- genPathExpr(1); o <- genTermPat }
        yield Join(b, PathPattern(s, p, o))),
      // paths as correlated LATERAL right sides: substituted endpoint
      // vars pin as constants per left row
      1 -> (for { l <- genPattern(depth - 1); s <- genPathEnd
                  p <- genPathExpr(1); o <- genTermPat }
        yield Lateral(l, PathPattern(s, p, o))),
      // MINUS under double-nested LATERAL (r11 residue): σ applies
      // twice — the inner LATERAL's left extends the outer binding,
      // and the MINUS σ-domain must exclude BOTH substitution layers
      1 -> (for { l <- genPattern(depth - 1)
                  a <- genBgp; b <- genBgp; c <- genBgp }
        yield Lateral(l, Lateral(a, Minus(b, c)))),
      1 -> (for { l <- genPattern(depth - 1)
                  a <- genBgp; b <- genBgp; c <- genBgp }
        yield Lateral(l, Lateral(a, LeftJoin(b, c, None)))),
      1 -> genPattern(depth - 1).map(Distinct))

  private val genPathEnd: Gen[TermPat] = Gen.frequency(
    4 -> genVar, 1 -> Gen.choose(0, 4).map(n => I(s"http://x/i$n")))
  private def genPathExpr(depth: Int): Gen[Path] = {
    val link = Gen.choose(10, 12).map(n => PLink(s"http://x/i$n"))
    if (depth == 0) link
    else Gen.frequency(
      3 -> link,
      1 -> genPathExpr(depth - 1).map(PInv),
      1 -> (for { a <- genPathExpr(depth - 1); b <- genPathExpr(depth - 1) }
        yield PSeq(a, b)),
      1 -> (for { a <- genPathExpr(depth - 1); b <- genPathExpr(depth - 1) }
        yield PAlt(a, b)),
      1 -> link.map(POneOrMore(_)),
      // zero-length forms inside larger algebra (r11 residue): the
      // all-terms node set, constant-endpoint reflexivity, and their
      // composition under seq/alt/inv
      1 -> genPathExpr(depth - 1).map(PZeroOrOne(_)),
      1 -> link.map(PZeroOrMore(_)),
      // negated property sets composed in algebra (forward, inverse,
      // and mixed member sets)
      1 -> (for {
        fwd <- Gen.someOf(Seq(10, 11, 12).map(n => s"http://x/i$n"))
        inv <- Gen.someOf(Seq(10, 11, 12).map(n => s"http://x/i$n"))
        if fwd.nonEmpty || inv.nonEmpty
      } yield PNeg(fwd.toSeq, inv.toSeq)))
  }

  // named-graph wave: the same shapes wrapped in GRAPH — the graph name
  // is usually a fresh var ("g"), sometimes a pattern var ("a", so the
  // outer-bound / pattern-bound corners get hit), sometimes a constant
  private val graphTerms = Seq(iri(20), iri(21))
  private val genGName: Gen[TermPat] = Gen.frequency(
    4 -> Gen.const(V("g")),
    1 -> Gen.const(V("a")),
    2 -> Gen.oneOf(graphTerms).map { case (_, i, _) => I(i) })
  private def genPatternG(depth: Int): Gen[GraphPattern] = {
    // base for recursive positions: GRAPH-wrapped or plain subpattern
    // (depth-bounded so the generator tree stays finite)
    def genLeft: Gen[GraphPattern] =
      if (depth == 0) genBgp
      else Gen.lzy(genPatternG(depth - 1))
    Gen.frequency(
      3 -> genPattern(depth),
      3 -> (for { n <- genGName; i <- genPattern((depth - 1) max 0) }
        yield GraphPat(n, i)),
      // the §18.2.2.3 catalog-completion shapes: GRAPH ?g {} (graph
      // enumeration), nested GRAPH (inner overrides the active graph,
      // outer var ranges over the catalog), GRAPH over pure VALUES
      1 -> genGName.map(n => GraphPat(n, Bgp())),
      1 -> (for { n <- genGName; n2 <- genGName; i <- genBgp }
        yield GraphPat(n, GraphPat(n2, i))),
      1 -> (for {
        n <- genGName; v1 <- Gen.oneOf(varNames)
        // include graph IRIs so GRAPH ?g over VALUES ?g sometimes KEEPS
        // rows through the catalog semi-join, not only drops them
        rows <- Gen.chooseNum(1, 2).flatMap(k => Gen.listOfN(k,
          Gen.frequency(2 -> genConstPat,
            1 -> Gen.oneOf(graphTerms).map { case (_, i, _) => I(i) })
            .map(c => Seq(Option(c)))))
      } yield GraphPat(n, ValuesPat(Seq(v1), rows))),
      // GRAPH wrapping cross-correlated LATERAL cores: the per-binding
      // VarG/FixedG recursion vs the spec's union-over-graphs semantics
      2 -> (for { l <- genLeft; n <- genGName; a <- genBgp; b <- genBgp }
        yield Lateral(l, GraphPat(n, LeftJoin(a, b, None)))),
      2 -> (for { l <- genLeft; n <- genGName; a <- genBgp; b <- genBgp }
        yield Lateral(l, GraphPat(n, Minus(a, b)))),
      1 -> (for { l <- genLeft; n <- genGName
                  a <- genBgp; b <- genBgp; c <- genBgp }
        yield Lateral(l, GraphPat(n, Union(a, Minus(b, c))))),
      1 -> (for { l <- genLeft; n <- genGName
                  a <- genBgp; b <- genBgp; f <- genFilterTree }
        yield Lateral(l, GraphPat(n, Filter(f, LeftJoin(a, b, None))))))
  }

  // ---- naive reference evaluator ------------------------------------
  type Binding = Map[String, T]
  private def matchPat(pat: TermPat, t: T, b: Binding): Option[Binding] =
    pat match {
      case V(n) => b.get(n) match {
        case Some(x) => if (x == t) Some(b) else None
        case None => Some(b + (n -> t))
      }
      case I(i) => if (t == (0, i, null)) Some(b) else None
      case L(lex, dt, _) => if (t._1 == 2 && t._2 == lex && t._3 == dt)
        Some(b) else None
      case Q(qs, qp, qo) =>
        if (t._1 != 4) None
        else Option(graft.model.QuotedTriple.decode(t._2)).flatMap { ps =>
          def asT(q: graft.model.QuotedTriple.QTerm): T =
            (q.kind.toInt, q.lex, q.dt)
          for {
            b1 <- matchPat(qs, asT(ps(0)), b)
            b2 <- matchPat(qp, asT(ps(1)), b1)
            b3 <- matchPat(qo, asT(ps(2)), b2)
          } yield b3
        }
      case B(_) | DefaultGraphPat => None
    }
  private def compatible(a: Binding, b: Binding): Boolean =
    a.keySet.intersect(b.keySet).forall(k => a(k) == b(k))

  /** `data` is the ACTIVE graph's triples; `named` maps each named-graph
    * term to its triples (GRAPH switches the active set, §18.2.2.3).
    */
  private def evalNaive(gp: GraphPattern, data: Seq[(T, T, T)],
      named: Map[T, Seq[(T, T, T)]] = Map.empty): Seq[Binding] = gp match {
    case Bgp(ps @ _*) =>
      ps.foldLeft(Seq(Map.empty: Binding)) { (sols, tp) =>
        for {
          b <- sols; (s, p, o) <- data
          b1 <- matchPat(tp.s, s, b).toSeq
          b2 <- matchPat(tp.p, p, b1).toSeq
          b3 <- matchPat(tp.o, o, b2).toSeq
        } yield b3
      }
    case Join(l, r) =>
      for { a <- evalNaive(l, data, named); b <- evalNaive(r, data, named)
        if compatible(a, b) } yield a ++ b
    case Union(l, r) =>
      evalNaive(l, data, named) ++ evalNaive(r, data, named)
    // true substitution semantics: the right side evaluates once per
    // left solution with its bindings in scope (BIND sees left vars)
    case Lateral(l, r) =>
      evalNaive(l, data, named).flatMap(b => evalSubst(r, data, b, named))
    case LeftJoin(l, r, None) =>
      val rs = evalNaive(r, data, named)
      evalNaive(l, data, named).flatMap { a =>
        val m = rs.filter(compatible(a, _))
        if (m.isEmpty) Seq(a) else m.map(a ++ _)
      }
    case Minus(l, r) =>
      val rs = evalNaive(r, data, named)
      evalNaive(l, data, named).filter { a =>
        !rs.exists(b => compatible(a, b) &&
          a.keySet.intersect(b.keySet).nonEmpty)
      }
    // spec-exact join-OUTSIDE shape: Graph(g,P) = ⋃ over named graphs gi
    // of Join(eval(P, D[gi]), {g→gi}) — the graph binding joins after
    // the core evaluates, so a core that pattern-binds the same var
    // constrains by compatibility, exactly like the engine's VarG scan
    case GraphPat(np, i) =>
      named.toSeq.sortBy(_._1._2).flatMap { case (g, gdata) =>
        val sols = evalNaive(i, gdata, named)
        np match {
          case V(v) => sols.flatMap(b => matchPat(V(v), g, b).toSeq)
          case pat => sols.filter(_ => matchPat(pat, g, Map.empty).isDefined)
        }
      }
    // path-in-algebra (r11): BAG semantics for link/inv/seq/alt (the
    // spec's eval is multiset there), SET for the ALP closure forms
    case PathPattern(sp, path, op) =>
      pathBag(path, data, endpointConst(sp, Map.empty),
        endpointConst(op, Map.empty)).flatMap { case (sT, oT) =>
        matchPat(sp, sT, Map.empty).flatMap(b1 => matchPat(op, oT, b1))
      }
    case Filter(e: EFn, p) =>
      evalNaive(p, data, named).filter(evalFilterBool(e, _))
    // EXISTS over a BGP inner: substitution == compatibility with the
    // full current binding (the r10 top-level EXISTS model)
    case Filter(EExists(inner, positive), p) =>
      val innerSols = evalNaive(inner, data, named)
      evalNaive(p, data, named).filter { b =>
        val ex = innerSols.exists(compatible(b, _))
        if (positive) ex else !ex
      }
    case Distinct(p) => evalNaive(p, data, named).distinct
    case ValuesPat(vs, rows) =>
      rows.map { row =>
        vs.zip(row).collect {
          case (v, Some(I(i))) => v -> ((0, i, null): T)
          case (v, Some(L(lex, dt, _))) => v -> ((2, lex, dt): T)
        }.toMap: Binding
      }
    case other => fail(s"naive evaluator: unexpected $other")
  }

  /** Naive FILTER semantics over the generated shapes, THREE-valued
    * (None = type error, §17.2): comparisons, BOUND, !, &&, || (error
    * && false = false, error || true = true — SQL-null 3VL, which is
    * what compileBool maps them to), IN as the equality disjunction
    * (§17.4.1.9). FILTER keeps a row iff the EBV is Some(true).
    */
  private def evalFilterBool(e: Expr, b: Binding): Boolean =
    evalFilter3(e, b).contains(true)

  private def evalFilter3(e: Expr, b: Binding): Option[Boolean] = e match {
    case EFn("BOUND", EVar(v)) => Some(b.contains(v))
    case EFn("!", x) => evalFilter3(x, b).map(!_)
    case EFn("&&", x, y) =>
      (evalFilter3(x, b), evalFilter3(y, b)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true)) => Some(true)
        case _ => None
      }
    case EFn("||", x, y) =>
      (evalFilter3(x, b), evalFilter3(y, b)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false)) => Some(false)
        case _ => None
      }
    case EFn("IN", args @ _*) =>
      val eqs = args.tail.map(rhs =>
        evalFilter3(EFn("=", args.head, rhs), b))
      if (eqs.exists(_.contains(true))) Some(true)
      else if (eqs.exists(_.isEmpty)) None
      else Some(false) // incl. the empty list: false for every lhs
    case EFn(op, l, r) if Seq("=", "!=", "<", ">").contains(op) =>
      (evalVal3(l, b), evalVal3(r, b)) match {
        case (Some(x), Some(y)) => cmpVal3(op, x, y)
        case _ => None // unbound operand / value error: comparison error
      }
    case other => fail(s"filter evaluator: unexpected $other")
  }

  /** Naive VALUE evaluation (r10): Left = a computed numeric (exact
    * BigDecimal — integer ops stay exact, `/` is decimal division,
    * division by zero errors), Right = an RDF term. None = type error /
    * unbound, which the engine maps to NULL (§17.2 error propagation):
    * arithmetic needs numeric operands; STRLEN/UCASE/LCASE/CONCAT need
    * string literals (§17.4.3.1 argument compatibility); STR works on
    * any IRI or literal (and on quoted triples both sides agree on the
    * canonical encoding as the lexical form).
    */
  private def evalVal3(e: Expr, b: Binding)
      : Option[Either[BigDecimal, T]] = {
    def num(v: Either[BigDecimal, T]): Option[BigDecimal] = v match {
      case Left(n) => Some(n)
      case Right((2, l, Term.XsdInteger)) => Some(BigDecimal(l))
      case _ => None
    }
    def strOf(v: Either[BigDecimal, T]): Option[String] = v match {
      case Right((2, l, Term.XsdString)) => Some(l)
      case _ => None
    }
    e match {
      case EVar(v) => b.get(v).map(Right(_))
      case ELit(lex, dt, _) => Some(Right((2, lex, dt)))
      case EFn(op, x, y) if Seq("+", "-", "*", "/").contains(op) =>
        for {
          a <- evalVal3(x, b).flatMap(num)
          c <- evalVal3(y, b).flatMap(num)
          r <- op match {
            case "+" => Some(a + c)
            case "-" => Some(a - c)
            case "*" => Some(a * c)
            case "/" =>
              if (c == 0) None // op:numeric-divide exact: error
              else Some(BigDecimal(a.bigDecimal.divide(c.bigDecimal,
                java.math.MathContext.DECIMAL128)))
          }
        } yield Left(r)
      case EFn("STRLEN", x) => evalVal3(x, b).flatMap(strOf)
        .map(s => Left(BigDecimal(s.length)))
      case EFn("UCASE", x) => evalVal3(x, b).flatMap(strOf)
        .map(s => Right(str(s.toUpperCase)))
      case EFn("LCASE", x) => evalVal3(x, b).flatMap(strOf)
        .map(s => Right(str(s.toLowerCase)))
      case EFn("STR", x) => evalVal3(x, b).flatMap {
        case Right((k, l, _)) if k == 0 || k == 2 || k == 4 =>
          Some(Right(str(l)))
        case _ => None
      }
      case EFn("CONCAT", x, y) =>
        for {
          a <- evalVal3(x, b).flatMap(strOf)
          c <- evalVal3(y, b).flatMap(strOf)
        } yield Right(str(a + c))
      case other => fail(s"value evaluator: unexpected $other")
    }
  }

  /** Comparison over evaluated values: computed numerics compare in
    * value space against other numerics; against a non-numeric literal
    * the operator mapping has no entry (error); against an IRI/quoted
    * RDFterm-equal decides `=`/`!=` (mixed kinds: false/true) and
    * order errors. Term-term comparisons keep [[cmpTerms3]].
    */
  private def cmpVal3(op: String, x: Either[BigDecimal, T],
      y: Either[BigDecimal, T]): Option[Boolean] = {
    def asNum(t: T): Option[BigDecimal] = t match {
      case (2, l, Term.XsdInteger) => Some(BigDecimal(l))
      case _ => None
    }
    def numCmp(a: BigDecimal, c: BigDecimal): Option[Boolean] =
      Some(op match {
        case "=" => a == c; case "!=" => a != c
        case "<" => a < c; case ">" => a > c
      })
    (x, y) match {
      case (Left(a), Left(c)) => numCmp(a, c)
      case (Left(a), Right(t)) => asNum(t) match {
        case Some(c) => numCmp(a, c)
        case None => t match {
          case (2, _, _) => None // number vs non-numeric literal
          case _ => op match { // number vs IRI/quoted: never term-equal
            case "=" => Some(false); case "!=" => Some(true)
            case _ => None
          }
        }
      }
      case (Right(t), Left(c)) => asNum(t) match {
        case Some(a) => numCmp(a, c)
        case None => t match {
          case (2, _, _) => None
          case _ => op match {
            case "=" => Some(false); case "!=" => Some(true)
            case _ => None
          }
        }
      }
      case (Right(a), Right(c)) => cmpTerms3(op, a, c)
    }
  }

  /** Operator mapping between two BOUND terms (§17.3 table +
    * RDFterm-equal §17.4.1.7), three-valued: numeric/string value
    * compares; IRIs and quoted triples are term-equal comparable but
    * not order-comparable (error); literals of incomparable types
    * error on every op; mixed kinds are never RDFterm-equal (`=`
    * false, `!=` true, order error).
    */
  private def cmpTerms3(op: String, x: T, y: T): Option[Boolean] =
    (x, y) match {
      case ((2, lx, Term.XsdInteger), (2, ly, Term.XsdInteger)) =>
        val a = lx.toLong; val c = ly.toLong
        Some(op match {
          case "=" => a == c; case "!=" => a != c
          case "<" => a < c; case ">" => a > c
        })
      case ((2, lx, Term.XsdString), (2, ly, Term.XsdString)) =>
        Some(op match {
          case "=" => lx == ly; case "!=" => lx != ly
          case "<" => lx < ly; case ">" => lx > ly
        })
      case ((2, _, _), (2, _, _)) => None // int vs string: type error
      case ((kx, lx, _), (ky, ly, _)) if kx == ky && (kx == 0 || kx == 4) =>
        op match {
          case "=" => Some(lx == ly); case "!=" => Some(lx != ly)
          case _ => None // IRI/quoted order compare: type error
        }
      case _ => op match { // mixed kinds: never RDFterm-equal, no order
        case "=" => Some(false); case "!=" => Some(true); case _ => None
      }
    }

  /** Substitution evaluation of a LATERAL right side: every pattern
    * match starts from the left binding `b0`; BIND evaluates with the
    * left vars in scope (error leaves the variable unbound, matching
    * SPARQL error-as-unbound for Extend).
    */
  /** Path pair multiset over the edge data: BAG semantics for link/
    * inverse/seq/alt (duplicate quads multiply), SET for the closure
    * forms (?, +, *). `lc`/`rc` carry a CONSTANT endpoint facing this
    * subpath (query constant, or an outer-bound var under σ): §18.4's
    * ZeroLengthPath cases include a bound term reflexively whether or
    * not it occurs in the graph, while the var-var case ranges over
    * the graph's subject/object terms only.
    */
  private def pathBag(p: Path, data: Seq[(T, T, T)],
      lc: Option[T] = None, rc: Option[T] = None): Seq[(T, T)] = {
    def closure(edges: Set[(T, T)]): Set[(T, T)] = {
      var acc = edges
      var grew = true
      while (grew) {
        val next = for { (s, m) <- acc; (m2, o) <- acc if m == m2 }
          yield (s, o)
        val merged = acc ++ next
        grew = merged.size > acc.size; acc = merged
      }
      acc
    }
    def zeroNodes: Seq[T] =
      (data.flatMap(t => Seq(t._1, t._3)) ++ lc ++ rc).distinct
    p match {
      case PLink(iri) =>
        data.collect { case (s, (0, `iri`, _), o) => (s, o) }
      // NPS: forward edges with predicate outside the forward set,
      // plus swapped edges outside the inverse set (§9.3 — each arm
      // present only when its side lists members)
      case PNeg(iris, invIris) =>
        (if (iris.nonEmpty)
          data.collect { case (s, (0, p, _), o) if !iris.contains(p) =>
            (s, o) }
        else Seq.empty) ++
        (if (invIris.nonEmpty)
          data.collect { case (s, (0, p, _), o) if !invIris.contains(p) =>
            (o, s) }
        else Seq.empty)
      case PInv(q) => pathBag(q, data, rc, lc).map(_.swap)
      case PSeq(a, b) =>
        for { (s, m) <- pathBag(a, data, lc, None)
              (m2, o) <- pathBag(b, data, None, rc)
          if m == m2 } yield (s, o)
      case PAlt(a, b) =>
        pathBag(a, data, lc, rc) ++ pathBag(b, data, lc, rc)
      case POneOrMore(q) => closure(pathBag(q, data).toSet).toSeq
      case PZeroOrOne(q) =>
        (pathBag(q, data).toSet ++ zeroNodes.map(n => (n, n))).toSeq
      case PZeroOrMore(q) =>
        (closure(pathBag(q, data).toSet) ++
          zeroNodes.map(n => (n, n))).toSeq
      case other => fail(s"path model: unexpected $other")
    }
  }

  /** The constant a pattern endpoint denotes, if any: a query constant
    * or (under σ) an outer-bound variable.
    */
  private def endpointConst(pat: TermPat, b: Binding): Option[T] =
    pat match {
      case V(n) => b.get(n)
      case I(i) => Some((0, i, null))
      case L(lex, dt, _) => Some((2, lex, dt))
      case _ => None
    }

  private def evalSubst(gp: GraphPattern, data: Seq[(T, T, T)],
      b0: Binding, named: Map[T, Seq[(T, T, T)]] = Map.empty)
      : Seq[Binding] = gp match {
    case Bgp(ps @ _*) =>
      ps.foldLeft(Seq(b0)) { (sols, tp) =>
        for {
          b <- sols; (s, p, o) <- data
          b1 <- matchPat(tp.s, s, b).toSeq
          b2 <- matchPat(tp.p, p, b1).toSeq
          b3 <- matchPat(tp.o, o, b2).toSeq
        } yield b3
      }
    case Join(l, r) =>
      evalSubst(l, data, b0, named).flatMap(b => evalSubst(r, data, b, named))
    case Union(l, r) =>
      evalSubst(l, data, b0, named) ++ evalSubst(r, data, b0, named)
    // σ(PathPattern): substituted endpoint vars are constants — the
    // path pairs filter against the incoming binding, and a bound
    // endpoint seeds zero-length reflexivity like a query constant
    case PathPattern(sp, path, op) =>
      pathBag(path, data, endpointConst(sp, b0), endpointConst(op, b0))
        .flatMap { case (sT, oT) =>
          matchPat(sp, sT, b0).flatMap(b1 => matchPat(op, oT, b1))
        }
    // σ distributes over nested LATERAL: the inner left evaluates
    // under σ(μ), then the inner right under each extended binding
    case Lateral(l, r) =>
      evalSubst(l, data, b0, named)
        .flatMap(b => evalSubst(r, data, b, named))
    // σ semantics: substituted (left-bound) vars are CONSTANTS, not part
    // of the solution domains — strip them before the compatibility /
    // domain-overlap step, re-attach after (§18.5 over σ-domains)
    case LeftJoin(l, r, None) =>
      val ls = evalSubst(l, data, b0, named).map(_ -- b0.keySet)
      val rs = evalSubst(r, data, b0, named).map(_ -- b0.keySet)
      ls.flatMap { a =>
        val m = rs.filter(compatible(a, _))
        (if (m.isEmpty) Seq(a) else m.map(a ++ _)).map(b0 ++ _)
      }
    case Minus(l, r) =>
      val ls = evalSubst(l, data, b0, named).map(_ -- b0.keySet)
      val rs = evalSubst(r, data, b0, named).map(_ -- b0.keySet)
      ls.filter(a => !rs.exists(b => compatible(a, b) &&
        a.keySet.intersect(b.keySet).nonEmpty)).map(b0 ++ _)
    // σ(Graph(g,P),μ): the Graph union-and-join stays OUTSIDE the core —
    // evaluate the core per named graph under σ, then join the graph
    // binding against μ (an outer-bound g degenerates to one graph)
    case GraphPat(np, i) =>
      named.toSeq.sortBy(_._1._2).flatMap { case (g, gdata) =>
        val sols = evalSubst(i, gdata, b0, named)
        np match {
          case V(v) => sols.flatMap(b => matchPat(V(v), g, b).toSeq)
          case pat => sols.filter(_ => matchPat(pat, g, Map.empty).isDefined)
        }
      }
    // σ(Filter(F,P),μ) = Filter(σF, σP): the binding flows into both the
    // pattern and the expression (left vars visible = substitution)
    case Filter(e: EFn, p) =>
      evalSubst(p, data, b0, named).filter(evalFilterBool(e, _))
    // σ(Filter(EXISTS(P),Q),μ): substitution distributes into BOTH the
    // body and the EXISTS inner — outer vars are constants inside P.
    // Existence for a σ-solution b (b0 ⊆ b always) over a BGP inner is
    // "substitute(P, b) has a solution", i.e. evalSubst from b.
    case Filter(EExists(inner, positive), p) =>
      evalSubst(p, data, b0, named).filter { b =>
        val ex = evalSubst(inner, data, b, named).nonEmpty
        if (positive) ex else !ex
      }
    // σ distributes over Distinct: dedup per binding over the full
    // extension (b0 rides along, so distinct is per left solution)
    case Distinct(p) => evalSubst(p, data, b0, named).distinct
    // σ through a nested PROJECT: substitution descends (hidden vars
    // still correlate — the engine's subselect-shell rule); projection
    // then hides non-projected pattern vars, outer vars ride along
    case Project(p, vs) =>
      evalSubst(p, data, b0, named).map(b =>
        b.view.filterKeys(k => vs.contains(k) || b0.contains(k)).toMap)
    // BIND under σ: substitution never touches the AS position, so the
    // expression sees outer values but v binds in a σ-domain without
    // them; when v IS an outer var, LATERAL's final merge demands
    // term-equal values (compatible join, not replacement), and an
    // erroring expression leaves v unbound in the σ-solution — merges
    // freely, outer value kept.
    case Extend(i, v, EFn("+", EVar(x), ELit(lex, _, _))) =>
      evalSubst(i, data, b0, named).flatMap { b =>
        val computed: Option[T] = b.get(x) match {
          case Some((2, l, Term.XsdInteger)) =>
            Some(int((l.toLong + lex.toLong).toInt))
          case _ => None // type error / unbound -> v unbound in μ'
        }
        (b.get(v), computed) match {
          case (Some(old), Some(nw)) =>
            if (old == nw) Seq(b) else Seq.empty
          case (Some(_), None) => Seq(b)
          case (None, Some(nw)) => Seq(b + (v -> nw))
          case (None, None) => Seq(b)
        }
      }
    // σ(VALUES): the rows are ground — substitution leaves them alone,
    // they join compatibly with the incoming binding
    case ValuesPat(vs, rows) =>
      rows.flatMap { row =>
        val m = vs.zip(row).collect {
          case (v, Some(I(i))) => v -> ((0, i, null): T)
          case (v, Some(L(lex, dt, _))) => v -> ((2, lex, dt): T)
        }.toMap
        if (compatible(b0, m)) Some(b0 ++ m) else None
      }
    case other => fail(s"substitution evaluator: unexpected $other")
  }

  // ---- spark side ----------------------------------------------------
  private def quadsDf(data: Seq[(T, T, T)]) = {
    // sentinel dt "@tag" = language-tagged string (the 3-tuple T has no
    // lang slot): decodes to the engine's storage — combined tag in the
    // lang slot, dt = rdf:langString / rdf:dirLangString for "--" tags
    def row(t: T): Row = t match {
      case (2, lex, dt) if dt != null && dt.startsWith("@") =>
        val tag = dt.substring(1)
        Row(2.toByte, lex,
          if (tag.contains("--")) Term.RdfDirLangString
          else Term.RdfLangString, tag)
      case _ => Row(t._1.toByte, t._2, t._3, null)
    }
    val dg = Row(Term.DefaultGraphKind.toByte, null, null, null)
    val rows = data.map { case (s, p, o) => Row(dg, row(s), row(p), row(o)) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList, 2), Term.quadSchema)
  }

  // quads spread over the default graph and two named graphs
  private val genDataG: Gen[(Seq[(T, T, T)], Map[T, Seq[(T, T, T)]])] =
    for {
      d <- Gen.chooseNum(0, 10).flatMap(n => Gen.listOfN(n, genQuad))
      g0 <- Gen.chooseNum(0, 10).flatMap(n => Gen.listOfN(n, genQuad))
      g1 <- Gen.chooseNum(0, 10).flatMap(n => Gen.listOfN(n, genQuad))
      // a named graph with zero quads is unrepresentable in a quad
      // table (and therefore absent from the engine's catalog) — keep
      // the naive model's named-graph map consistent with that
    } yield (d, Map(graphTerms(0) -> g0, graphTerms(1) -> g1)
      .filter(_._2.nonEmpty))

  private def quadsDfG(data: Seq[(T, T, T)],
      named: Map[T, Seq[(T, T, T)]]) = {
    def row(t: T): Row = Row(t._1.toByte, t._2, t._3, null)
    val dg = Row(Term.DefaultGraphKind.toByte, null, null, null)
    val rows =
      data.map { case (s, p, o) => Row(dg, row(s), row(p), row(o)) } ++
      named.toSeq.flatMap { case (g, ts) =>
        ts.map { case (s, p, o) => Row(row(g), row(s), row(p), row(o)) } }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList, 2), Term.quadSchema)
  }

  private val cmpVars = varNames ++ Seq("x", "y", "g")
  private def canon(b: Binding): String =
    cmpVars.flatMap(v => b.get(v).map(t => s"$v=${t._1}:${t._2}:${t._3}"))
      .mkString("|")

  test("translator matches the naive evaluator on random algebra (bag semantics)") {
    val prop = Prop.forAllNoShrink(genData, genPattern(2)) { (data, gp) =>
      val expected = evalNaive(gp, data).map(canon).sorted
      try {
        val df = graft.exec.Translator.translate(gp, quadsDf(data)).df
        val got = df.collect().toSeq.map { r =>
          cmpVars.flatMap { v =>
            if (!df.columns.contains(v)) None
            else Option(r.getAs[Row](v)).map(t =>
              s"$v=${t.getByte(0)}:${t.getString(1)}:${t.getString(2)}")
          }.mkString("|")
        }.sorted
        if (got != expected) {
          println(s"MISMATCH for $gp\ndata=$data\nexpected=$expected\ngot=$got")
        }
        got == expected
      } catch {
        // throwing instead of silently decorrelating is the documented
        // contract for un-rewritable LATERAL shapes (e.g. a generated
        // re-binding of an outer var)
        case _: UnsupportedOperationException => true
      }
    }
    checkSeeded(prop, 30, "differential property failed")
  }

  test("LATERAL MINUS with a sometimes-unbound substituted var uses " +
      "substitution semantics (joinSafe sureIn guard)") {
    // σ = {a→i0} from the left. MINUS left is a Union whose second
    // branch does NOT bind ?a; MINUS right binds ?a=i4 only. Under
    // substitution, ?a is pinned to i0 in the right side, which then
    // matches nothing → both Union rows survive. A bottom-up Minus
    // instead sees the branch-2 row's unbound ?a as compatible with
    // the right row (overlap on ?b) and wrongly removes it.
    def p(n: Int) = s"http://x/p$n"
    val gp = Lateral(
      Bgp(TriplePattern(V("a"), I(p(0)), I("http://x/i1"))),
      Minus(
        Union(Bgp(TriplePattern(V("a"), I(p(1)), V("b"))),
              Bgp(TriplePattern(V("c"), I(p(2)), V("b")))),
        Bgp(TriplePattern(V("a"), I(p(3)), V("b")))))
    val data: Seq[(T, T, T)] = Seq(
      (iri(0), (0, p(0), null), iri(1)), // left: a→i0
      (iri(0), (0, p(1), null), iri(5)), // branch 1: {a→i0, b→i5}
      (iri(3), (0, p(2), null), iri(2)), // branch 2: {c→i3, b→i2}
      (iri(4), (0, p(3), null), iri(2))) // right: {a→i4, b→i2}
    val expected = evalNaive(gp, data).map(canon).sorted
    assert(expected.size == 2) // the model keeps both Union rows
    val df = graft.exec.Translator.translate(gp, quadsDf(data)).df
    val got = df.collect().toSeq.map { r =>
      cmpVars.flatMap { v =>
        if (!df.columns.contains(v)) None
        else Option(r.getAs[Row](v)).map(t =>
          s"$v=${t.getByte(0)}:${t.getString(1)}:${t.getString(2)}")
      }.mkString("|")
    }.sorted
    assert(got == expected)
  }

  test("LATERAL MINUS sometimes-unbound substituted var: the overlap " +
      "domain flips per row (substituted rows exclude it, live rows " +
      "count it)") {
    // left: Union binds ?a in one branch only. MINUS sides share ONLY
    // ?a. Row {a→i0}: ?a is a substituted constant → σ-domains {b} vs
    // {d} are DISJOINT → nothing removed. Row {c→i5} (?a unbound): ?a
    // is live → domains {a,b} vs {a,d} overlap on ?a → the compatible
    // A-row is removed. Always-live would wrongly empty row 1;
    // always-substituted would wrongly keep row 2.
    def p(n: Int) = s"http://x/p$n"
    val gp = Lateral(
      Union(Bgp(TriplePattern(V("a"), I(p(0)), I("http://x/i1"))),
            Bgp(TriplePattern(V("c"), I(p(4)), I("http://x/i1")))),
      Minus(Bgp(TriplePattern(V("a"), I(p(1)), V("b"))),
            Bgp(TriplePattern(V("a"), I(p(3)), V("d")))))
    val data: Seq[(T, T, T)] = Seq(
      (iri(0), (0, p(0), null), iri(1)), // left branch 1: a→i0
      (iri(5), (0, p(4), null), iri(1)), // left branch 2: a unbound
      (iri(0), (0, p(1), null), int(2)), // A: {a→i0, b→2}
      (iri(0), (0, p(3), null), int(3))) // B: {a→i0, d→3}
    val expected = evalNaive(gp, data).map(canon).sorted
    assert(expected.size == 1, expected) // only row 1's A-row survives
    val df = graft.exec.Translator.translate(gp, quadsDf(data)).df
    val got = df.collect().toSeq.map { r =>
      cmpVars.flatMap { v =>
        if (!df.columns.contains(v)) None
        else Option(r.getAs[Row](v)).map(t =>
          s"$v=${t.getByte(0)}:${t.getString(1)}:${t.getString(2)}")
      }.mkString("|")
    }.sorted
    assert(got == expected)
  }

  test("LATERAL BIND re-binding an outer var joins compatibly: " +
      "mismatching values drop, erroring expressions keep the outer value") {
    // left binds {a→int, b→2}; right BINDs ?b = ?a + 1. Substitution
    // can't touch the AS position, so the computed value must merge
    // with the outer ?b: a=1 computes 2 = outer → survives; a=3
    // computes 4 ≠ 2 → drops; a=i0 (an IRI) errors → ?b unbound in the
    // σ-solution → merges freely, outer ?b kept.
    def p(n: Int) = s"http://x/p$n"
    val gp = Lateral(
      Join(Bgp(TriplePattern(V("a"), I(p(0)), V("c"))),
        ValuesPat(Seq("b"), Seq(Seq(Some(L("2", Term.XsdInteger)))))),
      Extend(Bgp(TriplePattern(V("c"), I(p(1)), V("d"))), "b",
        EFn("+", EVar("a"), ELit("1", Term.XsdInteger))))
    val data: Seq[(T, T, T)] = Seq(
      (int(1), (0, p(0), null), iri(1)), // a=1 → 1+1=2 = outer b: keep
      (int(3), (0, p(0), null), iri(1)), // a=3 → 4 ≠ 2: drop
      (iri(0), (0, p(0), null), iri(1)), // a=i0 → error: keep outer b
      (iri(1), (0, p(1), null), iri(2))) // right-side match for ?c
    val expected = evalNaive(gp, data).map(canon).sorted
    assert(expected.size == 2, expected) // a=1 and a=i0 survive
    val df = graft.exec.Translator.translate(gp, quadsDf(data)).df
    val got = df.collect().toSeq.map { r =>
      cmpVars.flatMap { v =>
        if (!df.columns.contains(v)) None
        else Option(r.getAs[Row](v)).map(t =>
          s"$v=${t.getByte(0)}:${t.getString(1)}:${t.getString(2)}")
      }.mkString("|")
    }.sorted
    assert(got == expected)
  }

  test("property path as a correlated LATERAL right side pins the " +
      "substituted endpoint") {
    // left binds ?a ∈ {i0, i3}; right is ?a (i10)+ ?b — the closure
    // must seed from EACH left row's ?a: i0 reaches i1,i2; i3 reaches
    // nothing
    val P10 = "http://x/i10"
    val gp = Lateral(
      Bgp(TriplePattern(V("a"), I("http://x/i11"), V("c"))),
      PathPattern(V("a"), POneOrMore(PLink(P10)), V("b")))
    val data: Seq[(T, T, T)] = Seq(
      (iri(0), (0, "http://x/i11", null), int(1)), // left row: a→i0
      (iri(3), (0, "http://x/i11", null), int(2)), // left row: a→i3
      (iri(0), (0, P10, null), iri(1)),
      (iri(1), (0, P10, null), iri(2)))
    val expected = evalNaive(gp, data).map(canon).sorted
    assert(expected.size == 2, expected) // i0→i1, i0→i2; i3 none
    val df = graft.exec.Translator.translate(gp, quadsDf(data)).df
    val got = df.collect().toSeq.map { r =>
      cmpVars.flatMap { v =>
        if (!df.columns.contains(v)) None
        else Option(r.getAs[Row](v)).map(t =>
          s"$v=${t.getByte(0)}:${t.getString(1)}:${t.getString(2)}")
      }.mkString("|")
    }.sorted
    assert(got == expected, s"expected=$expected got=$got")
  }

  test("EXISTS nested in || inside a correlated LATERAL filter marks " +
      "per binding") {
    // r11s4: the mark-join path inside the per-binding engine — the
    // EXISTS sits in EXPRESSION position (`BOUND(?v) || [!]EXISTS{…}`),
    // so the Filter arm cannot turn it into a semi-join conjunct; the
    // marker must still evaluate under §18.6 substitution from the
    // COMBINED per-binding row. Expected side computed inline (the
    // 3VL model has no EXISTS case): BOUND is error-free and EXISTS
    // never errors, so the disjunction is 2-valued here.
    // r12 (verdict #3): widened beyond `BOUND(?v) || EXISTS{BGP}` — the
    // scalar side draws 3VL-error-capable comparisons over vars that may
    // be LATERAL-body-bound, outer-bound, or unbound; the EXISTS inner
    // draws non-monotone shapes (Union/Minus/OPTIONAL route through the
    // per-binding σ machinery); the disjunction runs in both orders.
    // 3VL model: error || true = true, error || false = error (row
    // drops); EXISTS never errors.
    val genScalar: Gen[Expr] = Gen.frequency(
      2 -> Gen.oneOf(varNames).map(v => EFn("BOUND", EVar(v))),
      3 -> (for {
        v <- Gen.oneOf(varNames); op <- Gen.oneOf("=", "<", ">", "!=")
        n <- Gen.choose(0, 5)
      } yield EFn(op, EVar(v), ELit(n.toString, Term.XsdInteger))),
      2 -> (for {
        v1 <- Gen.oneOf(varNames); v2 <- Gen.oneOf(varNames)
        op <- Gen.oneOf("=", "<")
      } yield EFn(op, EVar(v1), EVar(v2))))
    val genInner: Gen[GraphPattern] = Gen.frequency(
      3 -> genBgp,
      1 -> (for { a <- genBgp; b <- genBgp } yield Union(a, b)),
      1 -> (for { a <- genBgp; b <- genBgp } yield Minus(a, b)),
      1 -> (for { a <- genBgp; b <- genBgp } yield LeftJoin(a, b, None)))
    val genArm = for {
      l <- genBgp; body <- genBgp; inner <- genInner
      sc <- genScalar
      neg <- Gen.oneOf(true, false)
      exFirst <- Gen.oneOf(true, false)
    } yield (l, body, inner, sc, neg, exFirst)
    val prop = Prop.forAllNoShrink(genData, genArm) {
      case (data, (l, body, inner, sc, neg, exFirst)) =>
        val exPart: Expr =
          if (neg) EFn("!", EExists(inner, true)) else EExists(inner, true)
        val cond =
          if (exFirst) EFn("||", exPart, sc) else EFn("||", sc, exPart)
        val gp = Lateral(l, Filter(cond, body))
        val expected = evalNaive(l, data).flatMap { bl =>
          evalSubst(body, data, bl).filter { b =>
            val ex = evalSubst(inner, data, b).nonEmpty
            val ex3: Option[Boolean] = Some(if (neg) !ex else ex)
            val s3 = evalFilter3(sc, b)
            val or3 = (ex3, s3) match {
              case (Some(true), _) | (_, Some(true)) => Some(true)
              case (Some(false), Some(false)) => Some(false)
              case _ => None
            }
            or3.contains(true)
          }
        }.map(canon).sorted
        try {
          val df = graft.exec.Translator.translate(gp, quadsDf(data)).df
          val got = df.collect().toSeq.map { r =>
            cmpVars.flatMap { v2 =>
              if (!df.columns.contains(v2)) None
              else Option(r.getAs[Row](v2)).map(t =>
                s"$v2=${t.getByte(0)}:${t.getString(1)}:${t.getString(2)}")
            }.mkString("|")
          }.sorted
          if (got != expected)
            println(s"LATERAL-MARK-EXISTS MISMATCH for $gp\ndata=$data\n" +
              s"expected=$expected\ngot=$got")
          got == expected
        } catch {
          case _: UnsupportedOperationException => true // loud corners
        }
    }
    checkSeeded(prop, 40, "lateral mark-exists differential failed")
  }

  test("EXISTS inside a correlated LATERAL body pins outer vars per " +
      "left row") {
    // left binds ?a ∈ {i0, i1}. Body binds {c→i9, b→i2} regardless of
    // ?a. EXISTS inner {?a p3 ?b} must see ?a as a CONSTANT from the
    // current left row: only (i0 p3 i2) exists, so a=i0 keeps its body
    // row and a=i1 drops it. An implementation that correlates only on
    // the body's shared vars (ignoring the substituted ?a) would keep
    // both.
    def p(n: Int) = s"http://x/p$n"
    val gp = Lateral(
      Bgp(TriplePattern(V("a"), I(p(0)), I("http://x/i1"))),
      Filter(EExists(Bgp(TriplePattern(V("a"), I(p(3)), V("b"))), true),
        Bgp(TriplePattern(V("c"), I(p(1)), V("b")))))
    val data: Seq[(T, T, T)] = Seq(
      (iri(0), (0, p(0), null), iri(1)), // left row 1: a→i0
      (iri(10), (0, p(0), null), iri(1)), // left row 2: a→i10
      (iri(9), (0, p(1), null), iri(2)), // body: {c→i9, b→i2}
      (iri(0), (0, p(3), null), iri(2))) // inner witness for a=i0 only
    val expected = evalNaive(gp, data).map(canon).sorted
    assert(expected.size == 1, expected)
    val df = graft.exec.Translator.translate(gp, quadsDf(data)).df
    val got = df.collect().toSeq.map { r =>
      cmpVars.flatMap { v =>
        if (!df.columns.contains(v)) None
        else Option(r.getAs[Row](v)).map(t =>
          s"$v=${t.getByte(0)}:${t.getString(1)}:${t.getString(2)}")
      }.mkString("|")
    }.sorted
    assert(got == expected, s"expected=$expected got=$got")
    // NOT EXISTS flips it: only a=i10's body row survives
    val gpN = Lateral(
      Bgp(TriplePattern(V("a"), I(p(0)), I("http://x/i1"))),
      Filter(EExists(Bgp(TriplePattern(V("a"), I(p(3)), V("b"))), false),
        Bgp(TriplePattern(V("c"), I(p(1)), V("b")))))
    val expN = evalNaive(gpN, data).map(canon).sorted
    assert(expN.size == 1, expN)
    val dfN = graft.exec.Translator.translate(gpN, quadsDf(data)).df
    val gotN = dfN.collect().toSeq.map { r =>
      cmpVars.flatMap { v =>
        if (!dfN.columns.contains(v)) None
        else Option(r.getAs[Row](v)).map(t =>
          s"$v=${t.getByte(0)}:${t.getString(1)}:${t.getString(2)}")
      }.mkString("|")
    }.sorted
    assert(gotN == expN, s"expected=$expN got=$gotN")
  }

  test("hoisted BIND var referenced only inside an EXISTS interior's " +
      "expression stays LOUD (treeRefs sees through EExists)") {
    // LATERAL body: BIND(?n+1 AS ?z) correlates on the left's ?n, so it
    // hoists post-join; ?z is then referenced ONLY inside the EXISTS
    // interior's filter EXPRESSION — a position the bottom-up rewrite
    // cannot serve (the EXISTS compiles before the hoisted BIND
    // applies). exprVars' EExists case saw only the interior's
    // in-scope vars, so this shape used to evaluate with ?z UNBOUND —
    // constant-false EXISTS, silently wrong. checkNoDangling must
    // throw instead.
    def p(n: Int) = s"http://x/p$n"
    val gp = Lateral(
      Bgp(TriplePattern(V("a"), I(p(0)), V("n"))),
      Filter(
        EExists(Filter(EFn("=", EVar("u"), EVar("z")),
          Bgp(TriplePattern(V("q"), I(p(2)), V("u")))), true),
        Extend(Bgp(TriplePattern(V("c"), I(p(1)), V("b"))),
          "z", EFn("+", EVar("n"), ELit("1", Term.XsdInteger)))))
    val data: Seq[(T, T, T)] = Seq(
      (iri(0), (0, p(0), null), int(1)),
      (iri(9), (0, p(1), null), iri(2)),
      (iri(3), (0, p(2), null), int(2)))
    val e = intercept[UnsupportedOperationException] {
      graft.exec.Translator.translate(gp, quadsDf(data)).df.collect()
    }
    assert(e.getMessage.contains("z"), e.getMessage)
  }

  test("translator matches the naive evaluator on named-graph algebra") {
    val prop = Prop.forAllNoShrink(genDataG, genPatternG(2)) {
      case ((data, named), gp) =>
        val expected = evalNaive(gp, data, named).map(canon).sorted
        try {
          val df = graft.exec.Translator.translate(gp,
            quadsDfG(data, named)).df
          val got = df.collect().toSeq.map { r =>
            cmpVars.flatMap { v =>
              if (!df.columns.contains(v)) None
              else Option(r.getAs[Row](v)).map(t =>
                s"$v=${t.getByte(0)}:${t.getString(1)}:${t.getString(2)}")
            }.mkString("|")
          }.sorted
          if (got != expected) {
            println(
              s"MISMATCH for $gp\ndata=$data named=$named\n" +
                s"expected=$expected\ngot=$got")
          }
          got == expected
        } catch {
          case _: UnsupportedOperationException => true
        }
    }
    checkSeeded(prop, 30, "differential property failed")
  }

  // ---- ORDER BY total-order differential (r10) ----------------------
  // §15.1 fixes: kind buckets (blank < IRI < literal), IRI codepoint
  // order, and value order within each comparable literal space
  // (numeric incl. ±INF, string, boolean, dateTime/date, duration
  // subtypes). Pairs the spec leaves open (cross-space literals, NaN,
  // lang tags, bnode-vs-bnode) may fall anywhere, but the engine's
  // output must never INVERT a spec-fixed pair. Checked pairwise over
  // the full output — adjacent checks miss inversions bridged by an
  // incomparable middle element.
  private type OT = (Int, String, String, String) // kind, lex, dt, lang
  private val genOrdTerm: Gen[OT] = Gen.frequency[OT](
    2 -> Gen.choose(0, 5).map(n => (0, s"http://x/i$n", null, null)),
    1 -> Gen.choose(0, 3).map(n => (1, s"b$n", null, null)),
    3 -> Gen.choose(-6, 6).map(n => (2, n.toString, Term.XsdInteger, null)),
    2 -> Gen.choose(-30, 30).map(n =>
      (2, (BigDecimal(n) / 4).toString, Term.XsdDecimal, null)),
    2 -> Gen.oneOf("-2.5E0", "0.0E0", "1.5E0", "NaN", "INF", "-INF")
      .map(l => (2, l, Term.XsdDouble, null)),
    2 -> Gen.oneOf("true", "false", "1", "0")
      .map(l => (2, l, Term.XsdBoolean, null)),
    2 -> Gen.oneOf("a", "b", "ab", "B", "").map(l =>
      (2, l, Term.XsdString, null)),
    1 -> Gen.oneOf(("a", "en"), ("a", "de"), ("c", "en")).map { case (l, g) =>
      (2, l, Term.RdfLangString, g) },
    // RDF 1.2 directional strings: §15.1 leaves lang-tagged order open
    // (specLt returns None for them) but they must slot into the
    // literal bucket without inverting any spec-fixed pair
    1 -> Gen.oneOf(("a", "en--ltr"), ("a", "en--rtl"), ("c", "de--rtl"))
      .map { case (l, g) => (2, l, Term.RdfDirLangString, g) },
    2 -> (for { d <- Gen.choose(1, 28); h <- Gen.choose(0, 23) } yield
      (2, f"2020-03-$d%02dT$h%02d:00:00Z", Term.XsdDateTime, null)),
    1 -> Gen.choose(1, 28).map(d => (2, f"2020-03-$d%02d", Term.XsdDate, null)),
    1 -> Gen.oneOf("PT2H", "PT10H", "P1DT1H", "-PT30M")
      .map(l => (2, l, Term.XsdDayTimeDuration, null)),
    1 -> Gen.oneOf("P1Y", "P14M", "-P2M")
      .map(l => (2, l, Term.XsdYearMonthDuration, null)))

  /** Spec-fixed strict order a < b; None where §15.1 leaves it open. */
  private def specLt(a: OT, b: OT): Option[Boolean] = {
    def bucket(t: OT) = t._1 match {
      case 1 => 1; case 0 => 2; case 2 => 3; case _ => 4
    }
    val numTypes =
      Set(Term.XsdInteger, Term.XsdDecimal, Term.XsdDouble, Term.XsdFloat)
    def numVal(t: OT): Double = t._2 match {
      case "NaN" => Double.NaN
      case "INF" => Double.PositiveInfinity
      case "-INF" => Double.NegativeInfinity
      case l => l.toDouble
    }
    if (bucket(a) != bucket(b)) Some(bucket(a) < bucket(b))
    else if (a._1 == 0) Some(a._2 < b._2) // IRIs: simple-literal order
    else if (a._1 != 2) None // bnode pairs: implementation-defined
    else if (numTypes(a._3) && numTypes(b._3)) {
      val (va, vb) = (numVal(a), numVal(b))
      if (va.isNaN || vb.isNaN) None else Some(va < vb)
    } else if (a._3 == Term.XsdBoolean && b._3 == Term.XsdBoolean) {
      def bv(t: OT) = t._2 == "true" || t._2 == "1"
      Some(!bv(a) && bv(b))
    } else if (a._3 == Term.XsdString && b._3 == Term.XsdString)
      Some(a._2 < b._2)
    else if (a._3 == Term.XsdDateTime && b._3 == Term.XsdDateTime)
      Some(java.time.Instant.parse(a._2)
        .isBefore(java.time.Instant.parse(b._2)))
    else if (a._3 == Term.XsdDate && b._3 == Term.XsdDate)
      Some(a._2 < b._2) // ISO dates, no TZ: codepoint = chronological
    else if (a._3 == Term.XsdDayTimeDuration &&
      b._3 == Term.XsdDayTimeDuration)
      Some(java.time.Duration.parse(a._2)
        .compareTo(java.time.Duration.parse(b._2)) < 0)
    else if (a._3 == Term.XsdYearMonthDuration &&
      b._3 == Term.XsdYearMonthDuration)
      Some(java.time.Period.parse(a._2).toTotalMonths <
        java.time.Period.parse(b._2).toTotalMonths)
    else None
  }

  // ---- FILTER [NOT] EXISTS differential (r10) ------------------------
  // For monotone (BGP) inners, EXISTS-by-substitution coincides with
  // "some inner solution is join-compatible with the outer row" — the
  // semantics the engine's mark-join implements. The naive side
  // evaluates exactly that, over every generated outer/inner var
  // sharing pattern.
  test("FILTER [NOT] EXISTS with GRAPH inners over named-graph data") {
    def compatible(a: Binding, b: Binding): Boolean =
      (a.keySet & b.keySet).forall(v => a(v) == b(v))
    // EXISTS{ GRAPH ?g/<iri> { bgp } }: the semi/anti join must range
    // over the named graphs (and bind/constrain the graph var) exactly
    // like a free-standing GRAPH pattern
    val genInner: Gen[GraphPattern] =
      for { n <- genGName; b <- genBgp } yield GraphPat(n, b)
    val prop = Prop.forAllNoShrink(genDataG, genPatternG(1), genInner,
      Gen.oneOf(true, false)) {
      case ((data, named), outer, inner, positive) =>
        val gp = Filter(EExists(inner, positive), outer)
        val innerSols = evalNaive(inner, data, named)
        val expected = evalNaive(outer, data, named).filter { b =>
          val ex = innerSols.exists(compatible(b, _))
          if (positive) ex else !ex
        }.map(canon).sorted
        try {
          val df = graft.exec.Translator.translate(gp,
            quadsDfG(data, named)).df
          val got = df.collect().toSeq.map { r =>
            cmpVars.flatMap { v =>
              if (!df.columns.contains(v)) None
              else Option(r.getAs[Row](v)).map(t =>
                s"$v=${t.getByte(0)}:${t.getString(1)}:${t.getString(2)}")
            }.mkString("|")
          }.sorted
          if (got != expected)
            println(s"GRAPH-EXISTS MISMATCH for $gp\ndata=$data " +
              s"named=$named\nexpected=$expected\ngot=$got")
          got == expected
        } catch {
          case _: UnsupportedOperationException => true
        }
    }
    checkSeeded(prop, 40, "GRAPH-EXISTS differential failed")
    // directed witness that the shape truly executes (no USOE bail):
    // keep default-graph rows whose ?a appears as a subject in SOME
    // named graph
    val data: Seq[(T, T, T)] =
      Seq((iri(0), (0, "http://x/i10", null), int(1)),
        (iri(1), (0, "http://x/i10", null), int(2)))
    val named = Map(graphTerms(0) ->
      Seq((iri(0), (0, "http://x/i11", null), int(3)): (T, T, T)))
    val gp = Filter(
      EExists(GraphPat(V("g"), Bgp(
        TriplePattern(V("a"), I("http://x/i11"), V("c")))), true),
      Bgp(TriplePattern(V("a"), I("http://x/i10"), V("b"))))
    val df = graft.exec.Translator.translate(gp, quadsDfG(data, named)).df
    val rows = df.collect()
    assert(rows.length == 1 &&
      rows.head.getAs[Row]("a").getString(1) == "http://x/i0",
      rows.mkString(", "))
  }

  test("FILTER [NOT] EXISTS matches §18.6 substitution semantics " +
      "over Union/OPTIONAL/MINUS inners") {
    // r11s4: the model moved from join-compatibility to TRUE
    // substitution (evalSubst from each outer row) — they coincide on
    // monotone (BGP/Join/Union) inners, but diverge when the inner
    // holds a MINUS right side or an OPTIONAL-only binding of an outer
    // var: substitution pins the outer value INSIDE the inner (and a
    // substituted var leaves the MINUS overlap domain), where the old
    // semi-join only checked post-hoc compatibility. The engine routes
    // those shapes through the per-binding rewrite (existsSemi).
    val genInnerShape: Gen[GraphPattern] =
      Gen.frequency(2 -> genBgp, 3 -> genPattern(1))
    val prop = Prop.forAllNoShrink(genData, genPattern(1), genInnerShape,
      Gen.oneOf(true, false)) { (data, outer, innerB, positive) =>
      val gp = Filter(EExists(innerB, positive), outer)
      val expected = evalNaive(outer, data).filter { b =>
        val ex = evalSubst(innerB, data, b).nonEmpty
        if (positive) ex else !ex
      }.map(canon).sorted
      try {
        val df = graft.exec.Translator.translate(gp, quadsDf(data)).df
        val got = df.collect().toSeq.map { r =>
          cmpVars.flatMap { v =>
            if (!df.columns.contains(v)) None
            else Option(r.getAs[Row](v)).map(t =>
              s"$v=${t.getByte(0)}:${t.getString(1)}:${t.getString(2)}")
          }.mkString("|")
        }.sorted
        if (got != expected)
          println(s"EXISTS MISMATCH for $gp\ndata=$data\n" +
            s"expected=$expected\ngot=$got")
        got == expected
      } catch {
        case _: UnsupportedOperationException => true // lateral corners
      }
    }
    checkSeeded(prop, 40, "EXISTS differential failed")
  }

  test("EXISTS correlated only through inner expressions matches " +
      "substitution semantics") {
    // the inner never BINDS the outer var — it copies it via BIND and
    // filters on the copy, the shape the r11s3 fix covers: naive side
    // substitutes the outer value into the copy per outer binding
    val genArm = for {
      outer <- genBgp
      corrV <- Gen.oneOf(varNames)
      innerCore <- Gen.frequency(2 -> Gen.const(Bgp(): GraphPattern),
        3 -> genBgp.map { case Bgp(ps @ _*) =>
          // rename pattern vars so the inner never binds corrV (pure
          // expression correlation) — shared OTHER vars still join
          def ren(tp: TermPat): TermPat = tp match {
            case V(n) if n == corrV => V(n + "2")
            case other => other
          }
          Bgp(ps.map(t =>
            TriplePattern(ren(t.s), ren(t.p), ren(t.o))): _*)
        })
      rhs <- Gen.frequency(
        2 -> Gen.choose(0, 4).map(n => (EIri(s"http://x/i$n"): Expr)),
        1 -> Gen.choose(0, 5).map(n =>
          (ELit(n.toString, Term.XsdInteger): Expr)))
      positive <- Gen.oneOf(true, false)
    } yield (outer, corrV, innerCore, rhs, positive)
    val prop = Prop.forAllNoShrink(genData, genArm) {
      case (data, (outer, corrV, innerCore, rhs, positive)) =>
        val inner = Filter(EFn("=", EVar("z"), rhs),
          Extend(innerCore, "z", EVar(corrV)))
        val gp = Filter(EExists(inner, positive), outer)
        val rhsT: T = rhs match {
          case EIri(i) => (0, i, null)
          case ELit(lex, dt, _) => (2, lex, dt)
          case _ => fail("unreachable")
        }
        val innerRows = evalNaive(innerCore, data)
        val expected = evalNaive(outer, data).filter { b =>
          // substitution: z := b(corrV); unbound -> BIND errors ->
          // z unbound -> '=' errors -> row drops
          val ex = b.get(corrV).exists(zv => zv == rhsT &&
            innerRows.exists(ib =>
              (ib.keySet & b.keySet).forall(v => ib(v) == b(v))))
          if (positive) ex else !ex
        }.map(canon).sorted
        try {
          val df = graft.exec.Translator.translate(gp, quadsDf(data)).df
          val got = df.collect().toSeq.map { r =>
            cmpVars.flatMap { v =>
              if (!df.columns.contains(v)) None
              else Option(r.getAs[Row](v)).map(t =>
                s"$v=${t.getByte(0)}:${t.getString(1)}:${t.getString(2)}")
            }.mkString("|")
          }.sorted
          if (got != expected)
            println(s"EXISTS-SUBST MISMATCH for $gp\ndata=$data\n" +
              s"expected=$expected\ngot=$got")
          got == expected
        } catch {
          case _: UnsupportedOperationException => true // loud corners
        }
    }
    checkSeeded(prop, 40, "EXISTS substitution differential failed")
  }

  // ---- Group/aggregate differential (r10) ----------------------------
  // Mirrors the engine's documented §18.5 semantics: evaluation errors
  // (unbound vars) drop from the multiset, a PRESENT non-numeric term
  // errors SUM (-> unbound), empty SUM/AVG = integer 0, MIN/SAMPLE skip
  // unbound via nulls-last keys, MAX via the plain sort key, and
  // GROUP_CONCAT without ORDER BY sorts by term order with lex tiebreak
  // (the documented distributed-bag deviation).
  test("Group/aggregates match the naive §18.5 model") {
    // term order on the quoted-free universe: (cls, num, lex, dt) —
    // the dt tail mirrors sortKey's tiebreak for numerically-equal
    // terms of different datatypes (int 1 vs decimal 1)
    val numericDts = Set(Term.XsdInteger, Term.XsdDecimal,
      Term.XsdFloat, Term.XsdDouble)
    // the 5th slot mirrors sortKey's final lang tiebreak; the sentinel
    // "@tag" dt (see quadsDf) expands to the engine's stored
    // (dt = rdf:(dir)langString, lang = tag) pair
    def ordKey(t: T): (Int, Double, String, String, String) = t match {
      case (1, lex, _) => (1, Double.MaxValue, lex, "", "")
      case (0, lex, _) => (2, Double.MaxValue, lex, "", "")
      case (2, lex, dt) if dt != null && dt.startsWith("@") =>
        val tag = dt.substring(1)
        (3, Double.MaxValue, lex,
          if (tag.contains("--")) Term.RdfDirLangString
          else Term.RdfLangString, tag)
      case (2, lex, dt) if numericDts(dt) => (3, lex.toDouble, lex, dt, "")
      case (2, lex, dt) if dt == Term.XsdDateTime =>
        // sortKey ranks temporals at unix_timestamp SECOND granularity,
        // offsets normalized to UTC; a NAIVE dateTime reads as UTC (the
        // engine's session timezone) — the documented total-order
        // deviation from §17.3.2's ±14h indeterminacy
        val epoch = try {
          java.time.OffsetDateTime.parse(lex).toInstant.getEpochSecond
        } catch {
          case _: java.time.format.DateTimeParseException =>
            java.time.LocalDateTime.parse(lex)
              .toEpochSecond(java.time.ZoneOffset.UTC)
        }
        (3, epoch.toDouble, lex, dt, "")
      case (2, lex, dt) if dt == Term.XsdDate =>
        // tsVal: a date ranks at its midnight instant
        (3, java.time.LocalDate.parse(lex).atStartOfDay
          .toEpochSecond(java.time.ZoneOffset.UTC).toDouble, lex, dt, "")
      case (2, lex, dt) if dt == Term.XsdTime =>
        // tsVal anchors times on 1972-12-31 (a leap year's last day)
        (3, java.time.LocalDateTime.parse(s"1972-12-31T$lex")
          .toEpochSecond(java.time.ZoneOffset.UTC).toDouble, lex, dt, "")
      case (2, lex, dt) if dt == Term.XsdGYear =>
        (3, java.time.LocalDate.parse(s"$lex-01-01").atStartOfDay
          .toEpochSecond(java.time.ZoneOffset.UTC).toDouble, lex, dt, "")
      case (2, lex, dt) if dt == Term.XsdDayTimeDuration =>
        // sortKey ranks dayTimeDurations by signed seconds (durDtSecs:
        // D from the date part, H/M/S from the time part)
        val sign = if (lex.startsWith("-")) -1 else 1
        val (datePart, timePart) = lex.indexOf('T') match {
          case -1 => (lex, "")
          case i => (lex.substring(0, i), lex.substring(i + 1))
        }
        def comp(src: String, re: String): Long =
          re.r.findFirstMatchIn(src).map(_.group(1).toLong).getOrElse(0L)
        val secs = sign * (comp(datePart, "(\\d+)D") * 86400L +
          comp(timePart, "(\\d+)H") * 3600L +
          comp(timePart, "(\\d+)M") * 60L + comp(timePart, "(\\d+)S"))
        (3, secs.toDouble, lex, dt, "")
      case (2, lex, dt) => (3, Double.MaxValue, lex, dt, "")
      case (k, lex, _) => (4 + k, Double.MaxValue, lex, "", "")
    }
    implicit val ordT: Ordering[T] = Ordering.by(ordKey)
    def naiveAgg(group: Seq[Binding], call: AggCall,
        scope: Seq[String]): Option[T] = {
      val terms: Seq[T] = call.expr match {
        case Some(EVar(v)) => group.flatMap(_.get(v)) // errors drop
        case _ => Nil
      }
      call.fn match {
        case "COUNT_STAR" =>
          val n = if (call.distinct)
            group.map(b => scope.map(b.get)).distinct.size
          else group.size
          Some(int(n))
        case "COUNT" =>
          Some(int(if (call.distinct) terms.distinct.size else terms.size))
        case "SUM" | "AVG" =>
          val numeric = Set(Term.XsdInteger, Term.XsdDecimal,
            Term.XsdFloat, Term.XsdDouble)
          def rank(dt: String) = dt match {
            case Term.XsdInteger => 0; case Term.XsdDecimal => 1
            case Term.XsdFloat => 2; case _ => 3
          }
          def decStr(d: BigDecimal): String = {
            val q = d.bigDecimal.stripTrailingZeros.toPlainString
            if (q == "-0") "0" else q
          }
          if (terms.exists(t => !numeric(t._3))) None // type error
          else if (terms.isEmpty) Some(int(0))
          else {
            // mirror the engine's per-branch DISTINCT: decimal-space
            // values for the exact branches, double-space for r>=2
            val decs0 = terms.map(t =>
              BigDecimal(t._2).setScale(12, BigDecimal.RoundingMode.HALF_UP))
            val decs = if (call.distinct) decs0.distinct else decs0
            val dbls0 = terms.map(_._2.toDouble)
            val dbls = if (call.distinct) dbls0.distinct else dbls0
            val r = terms.map(t => rank(t._3)).max
            val cnt = decs.size // count over the decimal branch
            if (call.fn == "SUM") r match {
              case 3 => Some((2, dbls.sum.toString, Term.XsdDouble))
              case 2 => Some((2, dbls.sum.toFloat.toString, Term.XsdFloat))
              case 1 => Some((2, decStr(decs.sum), Term.XsdDecimal))
              case _ => Some(int(decs.sum.toInt))
            } else r match {
              case 3 => Some((2, (dbls.sum / cnt).toString, Term.XsdDouble))
              case 2 => Some((2, (dbls.sum / cnt).toFloat.toString,
                Term.XsdFloat))
              case _ =>
                val q = (decs.sum / cnt)
                  .setScale(12, BigDecimal.RoundingMode.HALF_UP)
                Some((2, decStr(q), Term.XsdDecimal))
            }
          }
        case "MIN" => terms.minOption
        case "MAX" => terms.maxOption
        // documented determinism: SAMPLE picks the nulls-last minimum
        case "SAMPLE" => terms.minOption
        case "GROUP_CONCAT" if call.orderBy.nonEmpty =>
          // `; ORDER BY ?w` extension: per-row key terms under the
          // requested direction (unbound key = (cls 0, MaxValue, ""),
          // first under ASC, last under DESC), element lex ASC tiebreak
          val vn = call.expr match {
            case Some(EVar(x)) => x; case other => fail(s"gc: $other") }
          val (we, asc) = call.orderBy.head
          val wn = we match {
            case EVar(x) => x; case other => fail(s"gc key: $other") }
          def key(k: Option[T]): (Int, Double, String, String, String) =
            k.map(ordKey).getOrElse((0, Double.MaxValue, "", "", ""))
          val elems = group.flatMap(b => b.get(vn).map(t => (t._2, b.get(wn))))
          val ord =
            implicitly[Ordering[(Int, Double, String, String, String)]]
          val sorted = elems.sortWith { case ((l1, k1), (l2, k2)) =>
            val (a, b2) = (key(k1), key(k2))
            if (a != b2) { if (asc) ord.lt(a, b2) else ord.gt(a, b2) }
            else l1 < l2
          }.map(_._1)
          Some(str(
            (if (call.distinct) sorted.distinct else sorted)
              .mkString(call.separator)))
        case "GROUP_CONCAT" =>
          val lexes = terms.sorted.map(_._2)
          Some(str(
            (if (call.distinct) lexes.distinct else lexes)
              .mkString(call.separator)))
        case other => fail(s"naiveAgg: $other")
      }
    }
    val genInner: Gen[GraphPattern] = Gen.frequency(
      3 -> genBgp,
      1 -> (for { a <- genBgp; b <- genBgp } yield LeftJoin(a, b, None)),
      // VALUES inside the GROUP body (r11 residue): UNDEF cells make
      // group keys sometimes-unbound, and the compat join can
      // multiply rows feeding the aggregate
      1 -> (for {
        a <- genBgp; v <- Gen.oneOf(varNames)
        rows <- Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n,
          Gen.option(genConstPat).map(Seq(_))))
      } yield Join(a, ValuesPat(Seq(v), rows))),
      // EXISTS inside the GROUP body: the filter prunes the
      // aggregation input, never the groups that survive
      1 -> (for { a <- genBgp; inner <- genBgp
                  pos <- Gen.oneOf(true, false) }
        yield Filter(EExists(inner, pos), a)))
    val genAgg: Gen[AggCall] = Gen.frequency(
      2 -> Gen.oneOf(true, false).map(d => AggCall("COUNT_STAR", None, d)),
      2 -> (for { v <- Gen.oneOf(varNames); d <- Gen.oneOf(true, false) }
        yield AggCall("COUNT", Some(EVar(v)), d)),
      2 -> (for { v <- Gen.oneOf(varNames); d <- Gen.oneOf(true, false) }
        yield AggCall("SUM", Some(EVar(v)), d)),
      1 -> Gen.oneOf(varNames).map(v => AggCall("MIN", Some(EVar(v)))),
      1 -> Gen.oneOf(varNames).map(v => AggCall("MAX", Some(EVar(v)))),
      1 -> Gen.oneOf(varNames).map(v => AggCall("SAMPLE", Some(EVar(v)))),
      1 -> (for { v <- Gen.oneOf(varNames); d <- Gen.oneOf(true, false) }
        yield AggCall("AVG", Some(EVar(v)), d)),
      1 -> (for { v <- Gen.oneOf(varNames); s <- Gen.oneOf(" ", "|")
                  d <- Gen.oneOf(true, false) }
        yield AggCall("GROUP_CONCAT", Some(EVar(v)), d, s)),
      1 -> (for { v <- Gen.oneOf(varNames); w <- Gen.oneOf(varNames)
                  asc <- Gen.oneOf(true, false); s <- Gen.oneOf(",", " ") }
        yield AggCall("GROUP_CONCAT", Some(EVar(v)), false, s,
          Seq((EVar(w): Expr) -> asc))))
    // quoted-free data (the naive term order above stays total), with
    // the full numeric-type spread so SUM/AVG promotion is exercised:
    // integer + decimal exact paths, float and double carrier paths
    val genAggObj: Gen[T] = Gen.frequency[T](
      3 -> Gen.choose(0, 5).map(int),
      2 -> Gen.oneOf("a", "b", "c").map(str),
      2 -> Gen.choose(0, 4).map(iri),
      2 -> Gen.choose(-10, 10).map(n =>
        (2, (BigDecimal(n) / 4).toString, Term.XsdDecimal)),
      1 -> Gen.oneOf("2.5", "-0.5", "4.0").map(l =>
        (2, l, Term.XsdDouble)),
      1 -> Gen.oneOf("1.5", "3.0").map(l => (2, l, Term.XsdFloat)),
      // language-tagged strings incl. RDF 1.2 directional tags (r11s4,
      // closing the dirLang aggregate blind spot): non-numeric for
      // SUM/AVG (error), lang is the LAST sortKey tiebreak for
      // MIN/MAX/SAMPLE and GROUP_CONCAT element order, and COUNT
      // DISTINCT must keep "a"@en / "a"@fr / "a"@en--ltr / "a" apart
      2 -> (for { l <- Gen.oneOf("a", "b", "c")
                  tag <- Gen.oneOf("@en", "@fr", "@en-gb",
                    "@en--ltr", "@ar--rtl") }
        yield (2, l, tag): T),
      // temporals: non-numeric for SUM/AVG (error), value-ranked for
      // MIN/MAX/SAMPLE and GROUP_CONCAT element order. Mixed timezone
      // presence (r11): Z, positive/negative offsets, and NAIVE values
      // in one multiset — §15.1/§17.3.2 leave zoned-vs-naive within
      // ±14h indeterminate; the engine totalizes by reading naive as
      // UTC, and MIN/MAX must agree with that documented order
      1 -> (for { d <- Gen.choose(1, 28); h <- Gen.choose(0, 23)
                  tz <- Gen.oneOf("Z", "+05:00", "-03:30", "") } yield
        (2, f"2020-03-$d%02dT$h%02d:00:00$tz", Term.XsdDateTime): T),
      // dayTimeDurations: value-ranked by signed seconds (PT10H after
      // PT2H despite the lex order), non-numeric for SUM/AVG
      1 -> Gen.oneOf("PT2H", "PT10H", "PT2H30M", "P1DT1S", "-PT1H",
        "PT90M").map(l => (2, l, Term.XsdDayTimeDuration): T),
      // the other temporal primitives (r11): dates at midnight, times
      // on the 1972-12-31 anchor, gYears at Jan 1 — the engine's
      // cross-type totalization of §15.1
      1 -> Gen.choose(1, 28).map(d =>
        (2, f"2020-03-$d%02d", Term.XsdDate): T),
      1 -> Gen.choose(0, 23).map(h =>
        (2, f"$h%02d:15:00", Term.XsdTime): T),
      1 -> Gen.choose(2010, 2019).map(y =>
        (2, y.toString, Term.XsdGYear): T))
    val genQuadPlain: Gen[(T, T, T)] = for {
      s <- Gen.choose(0, 4).map(iri); p <- genPred; o <- genAggObj
    } yield (s, p, o)
    val genDataPlain: Gen[Seq[(T, T, T)]] =
      Gen.chooseNum(0, 20).flatMap(n => Gen.listOfN(n, genQuadPlain))
    val prop = Prop.forAllNoShrink(genDataPlain, genInner,
      Gen.someOf(varNames.take(2)).map(_.take(1).toSeq),
      Gen.chooseNum(1, 2).flatMap(Gen.listOfN(_, genAgg))) {
      (data, inner, keys0, aggCalls) =>
        val aggs = aggCalls.zipWithIndex.map { case (c, i) => s"g$i" -> c }
        val scope = inScopeVars(inner).toSeq.sorted
        val keys = keys0.filter(scope.contains) // parser guarantees this
        val gp = Group(inner, keys, aggs)
        val sols = evalNaive(inner, data)
        val groups: Seq[(Seq[Option[T]], Seq[Binding])] =
          if (keys.isEmpty) Seq(Nil -> sols)
          else sols.groupBy(b => keys.map(b.get)).toSeq
            .map { case (k, g) => (k, g) }
        val expected = groups.map { case (kvals, g) =>
          (keys.zip(kvals).collect { case (k, Some(t)) => k -> t } ++
            aggs.flatMap { case (out, c) =>
              naiveAgg(g, c, scope).map(out -> _) }).toMap
        }.map(m => (keys ++ aggs.map(_._1)).flatMap(v =>
          m.get(v).map(t => s"$v=${t._1}:${t._2}:${t._3}")).mkString("|"))
          .sorted
        val df = graft.exec.Translator.translate(gp, quadsDf(data)).df
        val got = df.collect().toSeq.map { r =>
          (keys ++ aggs.map(_._1)).flatMap { v =>
            // lang-tagged rows canonicalize back to the sentinel form
            Option(r.getAs[Row](v)).map(t =>
              if (t.getString(3) != null)
                s"$v=${t.getByte(0)}:${t.getString(1)}:@${t.getString(3)}"
              else
                s"$v=${t.getByte(0)}:${t.getString(1)}:${t.getString(2)}")
          }.mkString("|")
        }.sorted
        if (got != expected)
          println(s"AGG MISMATCH for $gp\ndata=$data\n" +
            s"expected=$expected\ngot=$got")
        got == expected
    }
    checkSeeded(prop, 40, "aggregate differential failed")

    // aggregates under a correlated LATERAL (r11 residue): grouping is
    // per LEFT ROW — σ descends into the group input, keys-empty
    // groups yield exactly one row per binding (COUNT=0 for
    // match-less bindings via the engine's padding row), keyed groups
    // drop match-less bindings; outer vars ride along the output
    val propLat = Prop.forAllNoShrink(genDataPlain, genBgp, genInner,
      Gen.someOf(varNames.take(2)).map(_.take(1).toSeq),
      Gen.chooseNum(1, 2).flatMap(Gen.listOfN(_, genAgg))) {
      (data, left, inner, keys0, aggCalls) =>
        val aggs = aggCalls.zipWithIndex.map { case (c, i) => s"g$i" -> c }
        val scope = inScopeVars(inner).toSeq.sorted
        val keys = keys0.filter(scope.contains)
        val gp = Lateral(left, Group(inner, keys, aggs))
        val outVars =
          (inScopeVars(left).toSeq ++ keys ++ aggs.map(_._1)).distinct.sorted
        def canonB(m: Binding): String = outVars.flatMap(v =>
          m.get(v).map(t => s"$v=${t._1}:${t._2}:${t._3}")).mkString("|")
        val expected = evalNaive(left, data).flatMap { b =>
          val sols = evalSubst(inner, data, b)
          if (keys.isEmpty)
            Seq(b ++ aggs.flatMap { case (out, c) =>
              naiveAgg(sols, c, scope).map(out -> _) })
          else
            sols.groupBy(b2 => keys.map(b2.get)).toSeq.map { case (kv, g) =>
              b ++ keys.zip(kv).collect { case (k, Some(t)) => k -> t } ++
                aggs.flatMap { case (out, c) =>
                  naiveAgg(g, c, scope).map(out -> _) }
            }
        }.map(canonB).sorted
        val df = graft.exec.Translator.translate(gp, quadsDf(data)).df
        val got = df.collect().toSeq.map { r =>
          outVars.flatMap { v =>
            if (!df.columns.contains(v)) None
            // lang-tagged rows canonicalize back to the sentinel form
            else Option(r.getAs[Row](v)).map(t =>
              if (t.getString(3) != null)
                s"$v=${t.getByte(0)}:${t.getString(1)}:@${t.getString(3)}"
              else
                s"$v=${t.getByte(0)}:${t.getString(1)}:${t.getString(2)}")
          }.mkString("|")
        }.sorted
        if (got != expected)
          println(s"LATERAL-AGG MISMATCH for $gp\ndata=$data\n" +
            s"expected=$expected\ngot=$got")
        got == expected
    }
    checkSeeded(propLat, 40, "lateral aggregate differential failed")
  }

  test("protocol dataset parameters equal textual FROM / FROM NAMED") {
    import graft.parser.SparqlParser
    val gIris = Seq("http://x/i20", "http://x/i21", "http://x/i22")
    val bodies = Seq(
      "?a <http://x/i10> ?b .",
      "GRAPH ?g { ?a <http://x/i10> ?b . }",
      "GRAPH <http://x/i20> { ?a <http://x/i11> ?b . }",
      "?a <http://x/i10> ?b . GRAPH ?g { ?b <http://x/i11> ?c . }")
    val prop = Prop.forAllNoShrink(genDataG, Gen.oneOf(bodies.indices),
      Gen.someOf(gIris), Gen.someOf(gIris)) {
      case ((data, named), bi, dSel, nSel) =>
        if (dSel.isEmpty && nSel.isEmpty) true
        else {
          val quads = quadsDfG(data, named)
          val q = s"SELECT * WHERE { ${bodies(bi)} }"
          val fromText = (dSel.map(g => s"FROM <$g>") ++
            nSel.map(g => s"FROM NAMED <$g>")).mkString(" ")
          val qf = s"SELECT * $fromText WHERE { ${bodies(bi)} }"
          def rows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
            val cols = df.columns.sorted
            if (cols.isEmpty) Seq.fill(df.count().toInt)("[]")
            else df.select(cols.head, cols.tail: _*).collect()
              .map(_.toString).sorted.toSeq
          }
          val proto = rows(SparqlParser.executeProtocol(q, quads,
            dSel.toSeq, nSel.toSeq))
          val textual = rows(SparqlParser.execute(qf, quads))
          if (proto != textual)
            println(s"PROTOCOL DATASET MISMATCH body=${bodies(bi)} " +
              s"D=$dSel N=$nSel\nproto=$proto\ntextual=$textual")
          proto == textual
        }
    }
    checkSeeded(prop, 40, "protocol dataset differential")
  }

  test("ORDER BY output respects every spec-fixed §15.1 order pair") {
    val genTerms = Gen.chooseNum(2, 30).flatMap(Gen.listOfN(_, genOrdTerm))
    val prop = Prop.forAllNoShrink(genTerms, Gen.oneOf(true, false)) {
      (terms, asc) =>
        val rows = terms.zipWithIndex.map { case (t, i) =>
          Row(Row(Term.DefaultGraphKind.toByte, null, null, null),
            Row(0.toByte, s"http://x/s$i", null, null),
            Row(0.toByte, "http://x/p", null, null),
            Row(t._1.toByte, t._2, t._3, t._4))
        }
        val quads = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 2), Term.quadSchema)
        val gp = OrderBy(
          Bgp(TriplePattern(V("s"), I("http://x/p"), V("o"))),
          Seq((EVar("o"): Expr) -> asc))
        val df = graft.exec.Translator.translate(gp, quads).df
        val got: Seq[OT] = df.select("o").collect().toSeq.map { r =>
          val t = r.getAs[Row]("o")
          (t.getByte(0).toInt, t.getString(1), t.getString(2), t.getString(3))
        }
        val bad = (for {
          i <- got.indices; j <- (i + 1) until got.length
          // ascending: a later element must not be spec-below an
          // earlier one; descending: the mirror
          inv = if (asc) specLt(got(j), got(i)) else specLt(got(i), got(j))
          if inv.contains(true)
        } yield (got(i), got(j))).headOption
        bad.foreach { case (x, y) =>
          println(s"ORDER violation (asc=$asc): $x vs $y in $got")
        }
        bad.isEmpty
    }
    checkSeeded(prop, 60, "ORDER BY differential failed")
  }

  // ---- tagged-literal constant differential (r11 s3) -----------------
  // Pattern constants, sameTerm, and LANG/LANGDIR over the full tag
  // universe (plain / xsd:string / @lang / @lang--dir): the constant
  // paths (constFilter/constCol/compile) pick the datatype FROM the
  // tag shape — a wrong pick silently matches nothing or the wrong
  // bag. Naive side is exact term equality, which both RDF term
  // matching and sameTerm are defined as.
  test("tagged-literal constants match by exact term across the tag " +
      "universe") {
    type LT = (String, Option[String]) // lex, tag (None = xsd:string)
    val genLT: Gen[LT] = for {
      lex <- Gen.oneOf("a", "b", "")
      tag <- Gen.oneOf(None, Some("en"), Some("de"),
        Some("en--ltr"), Some("en--rtl"), Some("de--rtl"))
    } yield (lex, tag)
    def dtOf(tag: Option[String]): String = tag match {
      case None => Term.XsdString
      case Some(t) if t.contains("--") => Term.RdfDirLangString
      case Some(_) => Term.RdfLangString
    }
    def text(lt: LT): String = lt match {
      case (lex, None) => s""""$lex""""
      case (lex, Some(t)) => s""""$lex"@$t"""
    }
    val genData = Gen.chooseNum(0, 12).flatMap(Gen.listOfN(_,
      Gen.zip(Gen.choose(0, 3), genLT)))
    val prop = Prop.forAllNoShrink(genData, genLT) { (data, probe) =>
      val rows = data.map { case (si, (lex, tag)) =>
        Row(Row(Term.DefaultGraphKind.toByte, null, null, null),
          Row(0.toByte, s"http://x/s$si", null, null),
          Row(0.toByte, "http://x/p", null, null),
          Row(2.toByte, lex, dtOf(tag), tag.orNull))
      }
      val quads = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), Term.quadSchema)
      // 1. constant OBJECT pattern: exact term matching
      val pat = graft.parser.SparqlParser.execute(
        s"SELECT ?s WHERE { ?s <http://x/p> ${text(probe)} }", quads)
      val gotPat = pat.collect().map(_.getAs[Row]("s").getString(1))
        .sorted.toSeq
      val expPat = data.filter(_._2 == probe)
        .map(d => s"http://x/s${d._1}").sorted
      // 2. sameTerm against the constant
      val st = graft.parser.SparqlParser.execute(
        s"""SELECT ?s WHERE { ?s <http://x/p> ?o
           |FILTER(sameTerm(?o, ${text(probe)})) }""".stripMargin, quads)
      val gotSt = st.collect().map(_.getAs[Row]("s").getString(1))
        .sorted.toSeq
      // 3. LANG + LANGDIR recover the tag parts on every row
      val parts = graft.parser.SparqlParser.execute(
        """SELECT ?l ?d WHERE { ?s <http://x/p> ?o
          |BIND(LANG(?o) AS ?l) BIND(LANGDIR(?o) AS ?d) }""".stripMargin,
        quads)
      val gotParts = parts.collect().map { r =>
        (r.getAs[Row]("l").getString(1), r.getAs[Row]("d").getString(1))
      }.sorted.toSeq
      val expParts = data.map { case (_, (_, tag)) =>
        val t = tag.getOrElse("")
        val i = t.indexOf("--")
        if (i < 0) (t, "") else (t.substring(0, i), t.substring(i + 2))
      }.sorted
      val ok = gotPat == expPat && gotSt == expPat && gotParts == expParts
      if (!ok) println(s"TAGGED-LITERAL MISMATCH probe=$probe data=$data\n" +
        s"pat got=$gotPat exp=$expPat\nsameTerm got=$gotSt\n" +
        s"parts got=$gotParts exp=$expParts")
      ok
    }
    checkSeeded(prop, 40, "tagged-literal differential failed")
  }
}
