package graft.update

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.Term
import graft.algebra.Algebra._

/** SPARQL Update as batch quad-table transformations (SURVEY.md §2.10;
  * oxigraph: lib/spargebra/src/update.rs · GraphUpdateOperation,
  * lib/oxigraph/src/sparql/update.rs · SimpleUpdateEvaluator).
  * Transactions/MVCC are out of scope — updates are pure DataFrame
  * set transforms; persistence = overwrite parquet.
  */
object UpdateExec {

  /** Parse and apply a SPARQL Update string (possibly `;`-chained). */
  def executeText(update: String, quads: DataFrame): DataFrame =
    graft.parser.SparqlParser.parseUpdateText(update)
      .foldLeft(quads)((q, op) => apply(op, q))

  /** The named-graph-registry effect of an op (oxigraph:
    * lib/oxigraph/src/storage · named graph set; Store::insert_named_graph),
    * shared by [[graft.GraftStore]] and the partition-delta path in
    * [[DeltaUpdate]], which must not materialize the transformed quad
    * table just to learn it. `graphs` holds graphs that exist while
    * possibly empty — explicitly CREATEd, or left behind by CLEAR — and
    * is metadata-scale (graph names only, like the predicate catalog).
    * Graphs that hold quads are implicit and never need registering;
    * DROP removes both quads and the registry entry, CLEAR removes quads
    * but keeps the graph alive. SILENT-tolerant by design: CREATE of an
    * existing graph and CLEAR/DROP of an absent one are no-ops, not
    * errors.
    */
  def graphsAfter(op: UpdateOp, quads: DataFrame,
      graphs: Set[String]): Set[String] = {
    def live: Set[String] = // non-empty named graphs, collected on demand
      quads.where(col("g")("kind") === Term.IriKind)
        .select(col("g")("lex")).distinct()
        .collect().map(_.getString(0)).toSet
    op match {
      case CreateGraph(i) => graphs + i
      case ClearGraph(Some(i)) =>
        // CLEAR keeps an EXISTING graph alive (empty) but must not
        // conjure one that never existed — only register the target if
        // it is already registered or currently holds quads
        if (graphs(i) || live(i)) graphs + i else graphs
      case ClearNamed | ClearAll => graphs ++ live
      case DropGraph(Some(i)) => graphs - i
      case DropNamed | DropAll => Set.empty[String]
      case CopyGraph(_, Some(t)) => graphs + t
      case MoveGraph(f, t) => graphs -- f.toSet ++ t.toSet
      case AddGraph(_, Some(t)) => graphs + t
      case LoadGraph(_, Some(t)) => graphs + t
      case _ => graphs
    }
  }

  /** The op's effect on a quad table. Delta-shaped ops (see
    * [[DeltaUpdate.delta]]) fold their (deletes, inserts) pair in with
    * [[applyDelta]]; graph management retargets the `g` column.
    */
  def apply(op: UpdateOp, quads: DataFrame): DataFrame =
    DeltaUpdate.delta(op, quads) match {
      case Some((d, i)) => applyDelta(quads, d, i)
      case None => op match {
        case ClearGraph(None) =>
          quads.where(col("g")("kind") =!= Term.DefaultGraphKind)
        case ClearGraph(Some(iri)) =>
          quads.where(!(col("g")("kind") === Term.IriKind &&
            col("g")("lex") === iri))
        // DROP has the same quad effect as CLEAR; the registry difference
        // (DROP unregisters, CLEAR leaves an empty graph) lives in
        // graphsAfter.
        case DropGraph(g) => apply(ClearGraph(g), quads)
        case ClearNamed | DropNamed =>
          quads.where(col("g")("kind") === Term.DefaultGraphKind)
        case ClearAll | DropAll => quads.limit(0)
        // graph management: pure relational retargeting of the g column
        case CopyGraph(f, t) =>
          if (f == t) quads
          else quads.where(!graphFilter(t)).unionByName(retarget(quads, f, t))
        case MoveGraph(f, t) =>
          if (f == t) quads
          else quads.where(!graphFilter(t) && !graphFilter(f))
            .unionByName(retarget(quads, f, t))
        case other => throw new IllegalArgumentException(
          s"no quad effect defined for $other")
      }
    }

  /** The full-rebuild fold of a (deletes, inserts) delta:
    * `((quads ∖ D) ∪ I)` as a set, deletes before inserts (§3.1.3).
    */
  def applyDelta(quads: DataFrame, deletes: Option[DataFrame],
      inserts: Option[DataFrame]): DataFrame = {
    val kept = deletes.fold(quads)(quads.except)
    inserts.fold(kept)(kept.unionByName(_).distinct())
  }

  private def graphFilter(g: Option[String]): Column = g match {
    case None => col("g")("kind") === Term.DefaultGraphKind
    case Some(iri) =>
      col("g")("kind") === Term.IriKind && col("g")("lex") === iri
  }
  private[update] def graphCol(g: Option[String]): Column = g match {
    case None => Term.defaultGraph
    case Some(iri) => Term.iri(iri)
  }
  private[update] def retarget(quads: DataFrame, f: Option[String],
      t: Option[String]): DataFrame =
    quads.where(graphFilter(f))
      .select(graphCol(t).as("g"), col("s"), col("p"), col("o"))

  private[update] def constQuads(quads: DataFrame,
      qs: Seq[(TermPat, TriplePattern)]): DataFrame = {
    import graft.model.QuotedTriple
    // request-scoped bnode freshness: a new salt per execution
    val bnodeSalt = java.util.UUID.randomUUID().toString
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def qt(tp: TermPat): QuotedTriple.QTerm = tp match {
      case I(iri) => QuotedTriple.QTerm(Term.IriKind.toByte, iri, null, null)
      case L(lex, dt, lang) => QuotedTriple.QTerm(
        Term.LiteralKind.toByte, lex, dt, lang.orNull)
      case Q(s2, p2, o2) => QuotedTriple.QTerm(
        Term.QuotedKind.toByte, enc(s2, p2, o2), null, null)
      case other => throw new IllegalArgumentException(
        s"ground term required in quoted triple, got $other")
    }
    def enc(s: TermPat, p: TermPat, o: TermPat): String =
      QuotedTriple.encode(qt(s), qt(p), qt(o))
    def c(tp: TermPat): Column = tp match {
      case I(iri) => Term.iri(iri)
      case L(lex, dt, lang) => lang match {
        case Some(l) => Term.taggedLit(lit(lex), l)
        case None => Term.typedLit(lit(lex), dt)
      }
      case Q(s, p, o) => Term.quoted(lit(enc(s, p, o)))
      // INSERT DATA bnode labels are request-scoped (§3.1.1): each
      // execution mints fresh bnodes, same label => same bnode within
      // the request. The parser rejects bnodes in DELETE DATA, so this
      // branch only ever fires on the insert side.
      case B(id) => Term.bnode(lit("db" + md5Hex(bnodeSalt + "#" + id)))
      case other => throw new IllegalArgumentException(
        s"ground term required in data block, got $other")
    }
    def g(tp: TermPat): Column = tp match {
      case I(iri) => Term.iri(iri)
      case _ => Term.defaultGraph
    }
    // one single-partition row expanded by one projection: the plan is
    // analyzed once, not once per quad plus a union per quad
    quads.sparkSession.range(0, 1, 1, 1).select(inline(array(qs.map {
      case (graph, t) =>
        struct(g(graph).as("g"), c(t.s).as("s"), c(t.p).as("p"),
          c(t.o).as("o"))
    }: _*)))
  }
}
