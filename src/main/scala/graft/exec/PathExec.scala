package graft.exec

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.model.Term
import graft.algebra.Algebra._
import graft.io.{Fetch, QuadSource}
import graft.ops.Skew
import Translator.{DefaultG, FixedG, GraphCtx, VarG}

/** Property-path evaluation (SURVEY.md §2.7).
  *
  * Mirrors the semantics of the reference's PathEvaluator (oxigraph:
  * lib/spareval/src/eval.rs · PathEvaluator; SPARQL 1.1 §9.1 ALP with
  * visited-set, i.e. SET semantics for closures) — realized as relational
  * composition plus a semi-naive fixpoint for `+`/`*`.
  *
  * The fixpoint is size-gated by [[graft.ops.Skew.BroadcastRowGate]], the
  * rule that gates every forced broadcast. The edges are read first with
  * `limit(gate + 1)` (one job; within the gate it replaces the checkpoint);
  * when the edges, the seeds and the growing result all stay within the
  * gate, the rounds run on the driver, the way the reference evaluates an
  * ALP closure in memory from its start node. Past the gate it is the
  * distributed loop, once the edge read, the seed read and at most
  * `gate` driver-side pair inserts have found that out (work the loop
  * does not reuse): each iteration joins the frontier against the
  * (reused, cached) edge relation, removes already-seen pairs, and
  * localCheckpoints to cut the lineage — the pattern that survives
  * scale-up (bounded lineage, AQE-planned joins, no driver-side data
  * movement beyond an empty-check).
  * Small closures thus cost a couple of jobs during translation instead
  * of two per round.
  *
  * Closures are SEEDED whenever an endpoint is known (the reference's
  * ALP-from-node shape): a bound subject/object — either a query constant
  * or the already-bound values of a join variable — restricts the fixpoint
  * to nodes actually reachable from the seed set, instead of materializing
  * the all-pairs closure and filtering afterwards. At 100 TB that is the
  * difference between O(reachable) and O(V·E) for a point query.
  */
object PathExec {

  /** Max fixpoint iterations (graph diameter bound); matches the spirit of
    * the reference's recursion limits without changing semantics for any
    * graph with diameter below the cap. Overridable per session via
    * `graft.path.maxIterations`. Hitting the cap with a non-empty
    * frontier RAISES — an incomplete closure is a silent wrong answer,
    * never an acceptable truncation (same discipline as the connected-
    * components cap in [[graft.ops.Dedup]]).
    */
  val MaxIterations = 64

  private def maxIters(df: DataFrame): Int =
    df.sparkSession.conf
      .get("graft.path.maxIterations", MaxIterations.toString).toInt

  private def raiseCap(cap: Int): Nothing =
    throw new IllegalStateException(
      s"property-path fixpoint did not converge in $cap iterations — " +
        "graph diameter exceeds the cap; raise graft.path.maxIterations")

  /** A set of known endpoint terms restricting a path evaluation.
    *
    * `nodes` is a single-column DataFrame("n") of term structs.
    * `zeroIncludesSeed`: for zero-length paths, SPARQL §18.4 includes a
    * *query constant* endpoint unconditionally (ALP starts from the term,
    * in or out of the graph), while a *variable* endpoint only matches
    * terms occurring in the graph — so acc-derived seeds (values of an
    * already-bound join variable) must be intersected with graph terms.
    */
  final case class Seed(nodes: DataFrame, zeroIncludesSeed: Boolean)

  /** True when evaluating `p` involves a fixpoint or zero-length step —
    * the cases where endpoint seeding changes complexity class.
    */
  def hasClosure(p: Path): Boolean = p match {
    case POneOrMore(_) | PZeroOrMore(_) | PZeroOrOne(_) => true
    case PInv(x) => hasClosure(x)
    case PSeq(a, b) => hasClosure(a) || hasClosure(b)
    case PAlt(a, b) => hasClosure(a) || hasClosure(b)
    case _ => false
  }

  private def gFilter(ctx: GraphCtx): Column = ctx match {
    case DefaultG => col("g")("kind") === Term.DefaultGraphKind
    case FixedG(iri) =>
      col("g")("kind") === Term.IriKind && col("g")("lex") === iri
    case VarG(_) => col("g")("kind") =!= Term.DefaultGraphKind
  }

  def eval(path: Path, src: QuadSource, ctx: GraphCtx): DataFrame =
    eval(path, src, ctx, None, None)

  def eval(path: Path, src: QuadSource, ctx: GraphCtx,
      sSeed: Option[Seed], oSeed: Option[Seed]): DataFrame =
    eval(path, src, ctx, sSeed, oSeed, Skew.BroadcastRowGate)

  /** Evaluate a path over the quad table -> DataFrame("pg", "ps", "po")
    * of (graph, connected term pair) rows. SET semantics per graph
    * (distinct rows). Path semantics are PER GRAPH (§18.1.7: GRAPH ?g
    * evaluates the pattern in each named graph separately), so every
    * composition join and closure fixpoint keys on the graph column —
    * for the constant-graph contexts pg is single-valued and the extra
    * key is a no-op. Seeds restrict closures/zero-length steps only;
    * plain links rely on Catalyst filter pushdown (constants) and the
    * enclosing equi-join (variables), which already reach the scans.
    * `gate` bounds the closures solved on the driver (the tests force
    * the distributed loop with 0).
    */
  private[graft] def eval(path: Path, src: QuadSource, ctx: GraphCtx,
      sSeed: Option[Seed], oSeed: Option[Seed],
      gate: Long): DataFrame = path match {
    case PLink(iri) =>
      // constant scopes attach their graph term as a literal: the scan
      // then materializes only (s, o) — g is filter-only, not read out
      src.byPredicate(iri).where(gFilter(ctx))
        .select(constG(ctx).getOrElse(col("g")).as("pg"),
          col("s").as("ps"), col("o").as("po"))

    case PInv(p) =>
      eval(p, src, ctx, oSeed, sSeed, gate)
        .select(col("pg"), col("po").as("ps"), col("ps").as("po"))

    case PSeq(a, b) =>
      if (sSeed.isDefined || oSeed.isEmpty) {
        // left-to-right: a's outputs seed a closure in b (dataflow ALP).
        // Seeds carry VALUES only (not graphs): a value reachable in one
        // graph may seed another graph's closure too — harmless, the
        // composition join below enforces same-graph.
        val l = eval(a, src, ctx, sSeed, None, gate)
          .select(col("pg"), col("ps"), col("po").as("mid"))
        val rSeed =
          if (hasClosure(b))
            Some(Seed(l.select(col("mid").as("n")).distinct(),
              zeroIncludesSeed = false))
          else None
        val r = eval(b, src, ctx, rSeed, oSeed, gate)
          .select(col("pg").as("pg2"), col("ps").as("mid2"), col("po"))
        dedup(l.join(r,
          col("mid") === col("mid2") && col("pg") === col("pg2"))
          .select(col("pg"), col("ps"), col("po")), ctx)
      } else {
        // right-to-left when only the object end is bound
        val r = eval(b, src, ctx, None, oSeed, gate)
          .select(col("pg").as("pg2"), col("ps").as("mid2"), col("po"))
        val lSeed =
          if (hasClosure(a))
            Some(Seed(r.select(col("mid2").as("n")).distinct(),
              zeroIncludesSeed = false))
          else None
        val l = eval(a, src, ctx, None, lSeed, gate)
          .select(col("pg"), col("ps"), col("po").as("mid"))
        dedup(l.join(r,
          col("mid") === col("mid2") && col("pg") === col("pg2"))
          .select(col("pg"), col("ps"), col("po")), ctx)
      }

    // §18.4: alt is MULTISET union (a pair connected by both arms
    // appears once per arm) — closures dedupe for themselves
    case PAlt(a, b) =>
      eval(a, src, ctx, sSeed, oSeed, gate)
        .union(eval(b, src, ctx, sSeed, oSeed, gate))

    case PNeg(iris, invIris) =>
      def nps(excl: Seq[String]): DataFrame =
        src.all.where(gFilter(ctx) && col("p")("kind") === Term.IriKind &&
          !col("p")("lex").isin(excl: _*))
          .select(constG(ctx).getOrElse(col("g")).as("pg"),
            col("s").as("ps"), col("o").as("po"))
      // §9.3: !(fwd…|^inv…) ≡ !(fwd…) | ^(!(inv…)) — and alt is a
      // multiset union, so a pair matched by an edge in each direction
      // appears twice (no distinct here; closures dedupe upstream)
      val fwd = if (iris.nonEmpty) Some(nps(iris)) else None
      val inv = if (invIris.nonEmpty)
        Some(nps(invIris).select(col("pg"),
          col("po").as("ps"), col("ps").as("po")))
      else None
      (fwd.toSeq ++ inv.toSeq).reduce(_ union _)

    case PZeroOrOne(p) =>
      dedup(eval(p, src, ctx, sSeed, oSeed, gate)
        .union(zeroPairs(src, ctx, sSeed.orElse(oSeed))), ctx)

    case POneOrMore(p) => plusClosure(p, src, ctx, sSeed, oSeed, gate)

    case PZeroOrMore(p) =>
      dedup(plusClosure(p, src, ctx, sSeed, oSeed, gate)
        .union(zeroPairs(src, ctx, sSeed.orElse(oSeed))), ctx)
  }

  /** Distinct rows; a constant-graph scope dedupes on the pair alone
    * (narrower exchange key) and reattaches its pg afterwards.
    */
  private def dedup(df: DataFrame, ctx: GraphCtx): DataFrame =
    constG(ctx) match {
      case Some(g) => df.select(col("ps"), col("po")).distinct()
        .select(g.as("pg"), col("ps"), col("po"))
      case None => df.distinct()
    }

  /** The graphs a zero-length step ranges over: the ctx's constant graph
    * term, or (GRAPH ?g) every named graph present in the quad table —
    * a graph-catalog-sized relation, broadcast by size. Registered-but-
    * empty named graphs are not iterated (documented corner: a
    * zero-length path can bind nothing in a graph with no quads to
    * anchor other patterns anyway, except the constant-endpoint form,
    * where the reference iterates live graphs all the same).
    */
  private def ctxGraphs(src: QuadSource, ctx: GraphCtx): DataFrame =
    ctx match {
      case DefaultG =>
        src.all.sparkSession.range(1).select(Term.defaultGraph.as("pg"))
      case FixedG(iri) =>
        src.all.sparkSession.range(1).select(Term.iri(iri).as("pg"))
      case VarG(_) =>
        src.all.where(gFilter(ctx)).select(col("g").as("pg")).distinct()
    }

  /** Zero-length path: (g, n, n) for every matching term, per graph of
    * the scope. With a seed only the seed terms matter (intersected with
    * each graph's terms unless the seed is a query constant — see
    * Seed.zeroIncludesSeed); unseeded, every term appearing as subject
    * or object in the graph.
    */
  private def zeroPairs(src: QuadSource, ctx: GraphCtx,
      seed: Option[Seed]): DataFrame = seed match {
    case Some(Seed(nodes, true)) =>
      // a query constant is included in EVERY graph of the scope,
      // whether or not it occurs there (§18.4 ALP from the term);
      // constant-graph scopes attach their graph term directly — the
      // broadcast product is only needed when ?g actually ranges
      ctx match {
        case DefaultG => nodes.distinct().select(
          Term.defaultGraph.as("pg"), col("n").as("ps"), col("n").as("po"))
        case FixedG(iri) => nodes.distinct().select(
          Term.iri(iri).as("pg"), col("n").as("ps"), col("n").as("po"))
        case VarG(_) =>
          nodes.distinct().crossJoin(broadcast(ctxGraphs(src, ctx)))
            .select(col("pg"), col("n").as("ps"), col("n").as("po"))
      }
    case Some(Seed(nodes, false)) => constG(ctx) match {
      // constant scope: cheap semi-join on the term only, constant pg
      // attached after — same plan as the pre-pg implementation.
      // graphTermsRaw: a semi-join right side needs no dedup, and the
      // dropped distinct was a full exchange+aggregate over every
      // subject/object of the graph (r12 — measured 7.9 MB of sp22's
      // 8 MB shuffle)
      case Some(g) =>
        nodes.join(graphTermsRaw(src, ctx).select("n"), Seq("n"),
            "left_semi")
          .distinct()
          .select(g.as("pg"), col("n").as("ps"), col("n").as("po"))
      case None =>
        nodes.distinct().join(graphTerms(src, ctx), Seq("n"))
          .select(col("pg"), col("n").as("ps"), col("n").as("po")).distinct()
    }
    case None =>
      graphTerms(src, ctx)
        .select(col("pg"), col("n").as("ps"), col("n").as("po"))
  }

  private def constG(ctx: GraphCtx): Option[Column] = ctx match {
    case DefaultG => Some(Term.defaultGraph)
    case FixedG(iri) => Some(Term.iri(iri))
    case VarG(_) => None
  }

  /** Every (graph, term) with the term appearing as subject or object of
    * the graph, within the scope. Constant scopes dedupe on the term
    * alone and attach pg afterwards (narrower exchange).
    */
  private def graphTerms(src: QuadSource, ctx: GraphCtx): DataFrame = {
    val g = src.all.where(gFilter(ctx))
    constG(ctx) match {
      case Some(c) =>
        g.select(col("s").as("n")).union(g.select(col("o").as("n")))
          .distinct().select(c.as("pg"), col("n"))
      case None =>
        g.select(col("g").as("pg"), col("s").as("n"))
          .union(g.select(col("g").as("pg"), col("o").as("n"))).distinct()
    }
  }

  /** [[graphTerms]] as a MULTISET (no dedup): for semi-join right sides
    * the distinct is semantics-free and costs a full exchange+aggregate
    * over every term of the graph.
    */
  private def graphTermsRaw(src: QuadSource, ctx: GraphCtx): DataFrame = {
    val g = src.all.where(gFilter(ctx))
    constG(ctx) match {
      case Some(c) =>
        g.select(col("s").as("n")).union(g.select(col("o").as("n")))
          .select(c.as("pg"), col("n"))
      case None =>
        g.select(col("g").as("pg"), col("s").as("n"))
          .union(g.select(col("g").as("pg"), col("o").as("n")))
    }
  }

  /** One-or-more closure of the inner path, per graph, seeded when an
    * endpoint is known. The edge relation itself stays unrestricted
    * (multi-hop walks may traverse anywhere within their graph), but the
    * fixpoint only ever visits nodes reachable from (or reaching, for
    * object seeds) the seed set.
    */
  private def plusClosure(p: Path, src: QuadSource, ctx: GraphCtx,
      sSeed: Option[Seed], oSeed: Option[Seed], gate: Long): DataFrame = {
    val edges = eval(p, src, ctx, None, None, gate)
    def flip(df: DataFrame) =
      df.select(col("pg"), col("po").as("ps"), col("ps").as("po"))
    (sSeed, oSeed) match {
      case (Some(sd), _) => closureFrom(edges, sd.nodes, gate)
      case (None, Some(od)) => flip(closureFrom(flip(edges), od.nodes, gate))
      case _ => closure(edges, gate)
    }
  }

  /** Scale-adaptive partition count for the fixpoint relations (r12,
    * guide §2): localCheckpoint materializes with the PLAN's
    * partitioning (AQE's coalescing does not reach the .rdd path), so
    * without this every iteration's stages run shuffle.partitions-many
    * near-empty tasks whose fixed cost dominates once the frontier is
    * small. ~64k rows per partition: 1 task at test scale, thousands at
    * 10^9-edge scale.
    */
  private def partsFor(rows: Long): Int =
    math.max(1L, (rows + 65535) / 65536).toInt

  /** Re-checkpoint the accumulated result union every this many
    * frontiers (r13): the per-round LEFT ANTI dedup re-scans every prior
    * frontier — O(depth²) block scans and an O(depth) plan on a deep
    * graph. Compaction bounds both at one extra materialization per K
    * rounds; a diameter-3 graph never triggers it.
    */
  private val CompactEvery = 8

  /** Seeded semi-naive closure: rows (g, s, t) with s in seed and t
    * reachable from s in >= 1 step within graph g. Frontier and result
    * carry only seed-reachable pairs — O(reachable), not O(V·E). On the
    * driver within the gate ([[localClosure]]), distributed past it.
    */
  private def closureFrom(edges0: DataFrame, seed: DataFrame,
      gate: Long): DataFrame =
    localClosure(edges0, Some(seed), gate).getOrElse {
      val edgesCp = edges0.distinct().localCheckpoint(true)
      val parts = partsFor(edgesCp.count())
      val edges = edgesCp.coalesce(parts) // narrow view over cached blocks
      val r0 = seed.select(col("n").as("ps")).distinct()
        .join(edges, Seq("ps"))
        .select(col("pg"), col("ps"), col("po")).distinct()
        .coalesce(parts).localCheckpoint(true)
      semiNaive(r0, r0.count(), edges, 1, maxIters(edges))
    }

  /** All-pairs semi-naive closure (both endpoints free), per graph: on
    * the driver within the gate, distributed past it.
    */
  private def closure(edges0: DataFrame, gate: Long): DataFrame =
    localClosure(edges0, None, gate).getOrElse {
      val edgesCp = edges0.distinct().localCheckpoint(true)
      val n = edgesCp.count()
      val edges = edgesCp.coalesce(partsFor(n)) // narrow view over cache
      semiNaive(edges, n, edges, 0, maxIters(edges))
    }

  /** The closure solved on the driver, when the edges, the seeds and the
    * growing result all stay within `gate` rows; None (the caller runs
    * the distributed loop) as soon as one passes it. The edges are read
    * as they come, duplicates and all (one job; the gate counts them,
    * the sets drop them). The result is a [[Fetch.frame]] with the
    * edges' schema.
    */
  private def localClosure(edges: DataFrame, seed: Option[DataFrame],
      gate: Long): Option[DataFrame] =
    for {
      edgeRows <- Fetch.atMost(edges, gate)
      seedRows <- seed.fold(Option(Array.empty[Row]))(s =>
        Fetch.atMost(s.select(col("n")), gate))
      result <- localSemiNaive(
        edgeRows.iterator.map(r => (r.getAs[Row]("pg"), r.getAs[Row]("ps"),
          r.getAs[Row]("po"))).toSet,
        seed.map(_ => seedRows.iterator.map(_.getStruct(0)).toSet),
        maxIters(edges), gate)
    } yield Fetch.frame(edges.sparkSession,
      result.iterator.map { case (g, s, o) => Row(g, s, o) }.toSeq,
      edges.schema)

  /** (pg, ps, po) on the driver. */
  private type Pair = (Row, Row, Row)

  /** [[semiNaive]]'s rounds over driver-side hash sets: the seeded form
    * (`seeds` defined) starts from the seeds' edges at iteration 1, the
    * unseeded one from all edges at iteration 0, and the cap raises
    * under exactly [[semiNaive]]'s condition. None as soon as the result
    * passes `gate` — checked per added pair, not per round: one round
    * over a hub can add |frontier| × out-degree pairs, far past the gate.
    */
  private def localSemiNaive(edges: Set[Pair], seeds: Option[Set[Row]],
      cap: Int, gate: Long): Option[Iterable[Pair]] = {
    val next = edges.groupMap(e => (e._1, e._2))(_._3)
    val result = mutable.LinkedHashSet.empty[Pair]
    var frontier: Iterable[Pair] =
      seeds.fold(edges)(ns => edges.filter(e => ns.contains(e._2)))
    result ++= frontier
    var i = if (seeds.isDefined) 1 else 0
    while (i < cap && frontier.nonEmpty && result.size <= gate) {
      val stepped = mutable.ArrayBuffer.empty[Pair]
      val reached = frontier.iterator.flatMap { case (g, s, m) =>
        next.getOrElse((g, m), Nil).iterator.map(o => (g, s, o))
      }
      while (reached.hasNext && result.size <= gate) {
        val pair = reached.next()
        if (result.add(pair)) stepped += pair
      }
      frontier = stepped
      i += 1
    }
    if (result.size > gate) None
    else if (i >= cap && frontier.nonEmpty) raiseCap(cap)
    else Some(result)
  }

  /** The shared semi-naive loop. The RESULT is kept as a lazy union of
    * the per-iteration frontier checkpoints instead of being
    * re-checkpointed every round (r12): each iteration then runs ONE
    * materialization job (the new frontier) plus one count over the
    * just-checkpointed blocks — the count IS the emptiness probe (same
    * cost as the old isEmpty against cached blocks) and additionally
    * feeds the next round's partition sizing (r13: the closure can
    * exceed |edges| by orders of magnitude, so parts re-derive from the
    * latest frontier's own materialized count each iteration instead of
    * freezing at the loop head). Frontier dedup against the accumulated
    * result is a LEFT ANTI join on the (pg, ps, po) columns — `stepped`
    * is already distinct, so EXCEPT's additional left-side aggregate was
    * a wasted exchange per round (struct equality is ordering-based in
    * Spark, so null-valued term FIELDS compare stably; the columns
    * themselves are never null — every row's terms come from quads or
    * seeds, and the anti-join would otherwise re-emit a null row every
    * round until the cap raised).
    */
  private def semiNaive(r0: DataFrame, n0: Long, edges: DataFrame,
      firstIter: Int, cap: Int): DataFrame = {
    var resultParts = List(r0)
    var resultCount = n0
    var frontier = r0
    var frontierCount = n0
    var i = firstIter
    while (i < cap && frontierCount > 0) {
      if (resultParts.length >= CompactEvery)
        resultParts = List(resultParts.reduce(_ union _)
          .coalesce(partsFor(resultCount)).localCheckpoint(true))
      val result = resultParts.reduce(_ union _)
      val stepped = frontier.select(col("pg"), col("ps"), col("po").as("mid"))
        .join(edges.select(col("pg").as("pg2"), col("ps").as("mid2"),
          col("po")), col("mid") === col("mid2") && col("pg") === col("pg2"))
        .select(col("pg"), col("ps"), col("po")).distinct()
      // the new frontier's size is unknown until materialized — size its
      // partitions from the last frontier (off at most by the per-round
      // growth factor, corrected next round)
      frontier = stepped.join(result, Seq("pg", "ps", "po"), "left_anti")
        .coalesce(partsFor(frontierCount)).localCheckpoint(true)
      frontierCount = frontier.count()
      resultCount += frontierCount
      resultParts ::= frontier
      i += 1
    }
    if (i >= cap && frontierCount > 0) raiseCap(cap)
    resultParts.reduce(_ union _)
  }
}
