package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.algebra.Algebra._
import graft.io.{PartitionedQuadStore, RdfIO}
import graft.model.Term
import graft.ops.Skew
import graft.parser.SparqlParser
import graft.update.{DeltaUpdate, UpdateExec}

/** The reference's embedded store API re-expressed over a quad DataFrame
  * (oxigraph: lib/oxigraph/src/store.rs · Store; python · pyoxigraph
  * Store) — the top entry point of SURVEY.md §3.1, minus transactions
  * (out of scope by design: SURVEY §2.10). A `GraftStore` is immutable;
  * update operations return a NEW store, so "commit" is writing the
  * table out (`save`) — batch-dataset semantics instead of MVCC.
  *
  * A store is a BASE plus one bounded DELTA. The base is the opened (or
  * last rebuilt) quad DataFrame; the delta is two driver-side quad sets,
  * inserted `I` and deleted `D`, with `I ∩ D = ∅`. Reads see
  *
  *   quads = (base ▷ (I ∪ D)) ∪ I
  *
  * — one left-anti join against a broadcast `LocalRelation` plus one
  * union, the same shape after 1 write or 1,000 and no shuffle of the
  * base (the S2RDF split: the vertically partitioned store stays the
  * scan, writes are a small overlay on it). Oxigraph applies an update
  * once and later reads see a plain store; so here a write is
  * evaluated once, against the pre-state, and never re-run by reads.
  *
  * Every op [[graft.update.DeltaUpdate.delta]] factors into (deletes,
  * inserts) — INSERT/DELETE DATA, DELETE/INSERT WHERE (with
  * WITH/USING), LOAD, ADD — is collected (`limit(gate + 1)`) and
  * composed: `I' = (I ∖ Dop) ∪ Iop`, `D' = (D ∪ Dop) ∖ Iop`. The gate is
  * [[graft.ops.Skew.BroadcastRowGate]] rows for `|I'| + |D'|`, so the
  * broadcast side never exceeds the engine's one broadcast bound. Ops
  * with no delta shape (CLEAR/DROP/COPY/MOVE), and deltas past the gate,
  * take the full rebuild ([[graft.update.UpdateExec]]): the current
  * `quads` folds into a new base and the delta resets to empty.
  *
  * Untouched base quads are not deduplicated by a write: the base is
  * taken as the set it was loaded as.
  */
final class GraftStore private (base: DataFrame,
    inserted: Set[Row], deleted: Set[Row],
    /** Named graphs that exist while (possibly) holding no quads —
      * CREATEd or CLEARed; graphs with quads are implicit. Metadata-scale
      * (names only), so a driver-side set like the predicate catalog.
      */
    val emptyGraphs: Set[String]) {
  private def spark: SparkSession = base.sparkSession

  /** The dataset: the base overlaid with the delta (see the class doc). */
  lazy val quads: DataFrame =
    if (inserted.isEmpty && deleted.isEmpty) base
    else {
      val b = base.select(GraftStore.Cols.map(col): _*)
      // Term.quadSchema, not the base's: a base built from constant
      // columns may declare a term field non-nullable that a delta row
      // (an IRI's dt, say) leaves null
      def local(rows: Set[Row]): DataFrame =
        spark.createDataFrame(rows.toSeq.asJava, Term.quadSchema)
      val kept = b.join(broadcast(local(inserted ++ deleted)),
        GraftStore.Cols, "left_anti")
      if (inserted.isEmpty) kept else kept.union(local(inserted))
    }

  /** Rows in the delta (`|I| + |D|`); 0 right after open or a rebuild. */
  private[graft] def deltaRows: Int = inserted.size + deleted.size

  /** SELECT/ASK/CONSTRUCT/DESCRIBE over this store (Store::query).
    * Threads the empty-graph registry so the GRAPH catalog (graph
    * enumeration, absent-graph gating) sees CREATEd zero-quad graphs.
    */
  def query(sparql: String): DataFrame =
    SparqlParser.execute(sparql, quads, emptyGraphs.toSeq.sorted)

  /** SPARQL Update (possibly `;`-chained) → the updated store
    * (Store::update; see the class doc for the base+delta model).
    * CREATE/DROP/CLEAR also maintain the empty-graph registry, so
    * `namedGraphs` sees graphs CREATEd empty and graphs CLEARed down to
    * zero quads.
    */
  def update(sparql: String): GraftStore = update(sparql, Nil, Nil)

  /** Update with a protocol-supplied dataset (SPARQL 1.1 Protocol
    * §2.2.3): `usingDefault`/`usingNamed` act as USING / USING NAMED
    * on every pattern-matching operation. Combining them with an
    * update whose own text carries USING, USING NAMED, or WITH is an
    * error per the protocol.
    */
  def update(sparql: String, usingDefault: Seq[String],
      usingNamed: Seq[String]): GraftStore = {
    val ops0 = SparqlParser.parseUpdateText(sparql)
    val ops =
      if (usingDefault.isEmpty && usingNamed.isEmpty) ops0
      else ops0.map {
        case di: DeleteInsert =>
          if (di.using.nonEmpty || di.usingNamed.nonEmpty ||
            di.withGraph.nonEmpty)
            throw new IllegalArgumentException(
              "using-graph-uri parameters conflict with USING/WITH " +
                "in the update")
          di.copy(using = usingDefault, usingNamed = usingNamed)
        case op => op
      }
    ops.foldLeft(this)(_ applyOp _)
  }

  /** Insert the rows of a quad DataFrame (g/s/p/o term structs) —
    * Store::extend; the Graph Store Protocol's POST merge. Takes the
    * same delta path as INSERT DATA.
    */
  def extend(rows: DataFrame): GraftStore =
    withDelta(None, Some(rows), emptyGraphs)

  private def applyOp(op: UpdateOp): GraftStore = {
    val graphs = UpdateExec.graphsAfter(op, quads, emptyGraphs)
    DeltaUpdate.delta(op, quads) match {
      case Some((d, i)) => withDelta(d, i, graphs)
      case None => GraftStore(UpdateExec(op, quads), graphs)
    }
  }

  /** Compose an op's (deletes, inserts) into the delta, or fold it
    * into a new base when either side, or the composed delta, passes
    * the gate.
    */
  private def withDelta(del: Option[DataFrame], ins: Option[DataFrame],
      graphs: Set[String]): GraftStore = {
    val gate = Skew.BroadcastRowGate
    def rows(side: Option[DataFrame]): Option[Set[Row]] =
      side.fold(Option(Set.empty[Row])) { df =>
        val got = df.select(GraftStore.Cols.map(col): _*)
          .limit((gate + 1).toInt).collect()
        if (got.length > gate) None else Some(got.toSet)
      }
    val composed = for {
      d <- rows(del)
      i <- rows(ins)
      ins2 = (inserted -- d) ++ i
      del2 = (deleted ++ d) -- i
      if ins2.size + del2.size <= gate
    } yield new GraftStore(base, ins2, del2, graphs)
    composed.getOrElse(
      GraftStore(UpdateExec.applyDelta(quads, del, ins), graphs))
  }

  /** Parsed algebra + the Catalyst plan Spark will run — the analogue of
    * the reference's QueryExplanation (lib/oxigraph/src/sparql/mod.rs ·
    * explain support), with Spark's formatted physical plan standing in
    * for the evaluator node tree.
    */
  def explain(sparql: String): String = {
    val form = SparqlParser.parse(sparql)
    val df = SparqlParser.execute(sparql, quads, emptyGraphs.toSeq.sorted)
    val mode = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    s"== SPARQL algebra ==\n$form\n\n== Spark plan ==\n" +
      df.queryExecution.explainString(mode)
  }

  /** Bound-prefix quad scan (Store::quads_for_pattern — SURVEY §2.1).
    * `None` positions are wildcards; constant positions become pushed
    * Parquet predicates when the store is file-backed.
    */
  def quadsForPattern(s: Option[TermPat] = None, p: Option[TermPat] = None,
      o: Option[TermPat] = None, graph: Option[TermPat] = None): DataFrame = {
    def f(c: String, tp: Option[TermPat]): Column = tp match {
      case None => lit(true)
      case Some(I(iri)) =>
        col(c)("kind") === Term.IriKind && col(c)("lex") === iri
      case Some(L(lex, dt, lang)) =>
        // lang-bearing patterns: the L already carries the right dt
        // (rdf:langString, or rdf:dirLangString for `@en--ltr` tags)
        col(c)("kind") === Term.LiteralKind && col(c)("lex") === lex &&
          col(c)("dt") <=> lit(dt) && col(c)("lang") <=> lit(lang.orNull)
      case Some(DefaultGraphPat) =>
        col(c)("kind") === Term.DefaultGraphKind
      case Some(other) => throw new IllegalArgumentException(
        s"quadsForPattern takes constant terms, got $other")
    }
    quads.where(f("s", s) && f("p", p) && f("o", o) && f("g", graph))
  }

  /** Load an RDF file into the default or a named graph (Store::load). */
  def load(path: String, into: Option[String] = None): GraftStore =
    applyOp(LoadGraph(path, into))

  /** Serialize the full dataset as N-Quads (Store::dump). */
  def dumpNQuads(path: String): Unit = RdfIO.writeNQuads(quads, path)

  /** Serialize in any supported RDF format (Store::dump with RdfFormat —
    * nt/nq/ttl/trig/rdf; triple formats take the default graph).
    */
  def dump(path: String, format: String): Unit =
    RdfIO.write(quads, path, format)

  /** Blank-node canonicalization of the dataset (oxrdf
    * Dataset::canonicalize): relabels every bnode to its canonical
    * color-refinement label, so two isomorphic stores yield identical
    * quad sets. See [[graft.model.Canon]] for the algorithm and its
    * documented WL corner.
    */
  def canonicalize(): GraftStore =
    GraftStore(graft.model.Canon.canonicalize(quads), emptyGraphs)

  /** Dataset isomorphism against another store (bnode-renaming
    * invariant equality).
    */
  def isIsomorphic(other: GraftStore): Boolean =
    graft.model.Canon.isomorphic(quads, other.quads)

  /** Serialize one graph as N-Triples. */
  def dumpNTriples(path: String, graph: Option[String] = None): Unit = {
    val g = graph match {
      case None => col("g")("kind") === Term.DefaultGraphKind
      case Some(iri) => col("g")("kind") === Term.IriKind &&
        col("g")("lex") === iri
    }
    RdfIO.writeNTriples(quads.where(g).select(col("s"), col("p"), col("o")),
      path)
  }

  /** All named graphs — those holding quads plus registered empty ones
    * (Store::named_graphs, including graphs created empty).
    */
  def namedGraphs: Seq[String] =
    (quads.where(col("g")("kind") === Term.IriKind)
      .select(col("g")("lex")).distinct()
      .collect().map(_.getString(0)).toSet ++ emptyGraphs).toSeq.sorted

  /** Store::contains_named_graph. */
  def containsNamedGraph(iri: String): Boolean =
    emptyGraphs(iri) ||
      quads.where(col("g")("kind") === Term.IriKind &&
        col("g")("lex") === iri).limit(1).count() > 0

  /** Store::insert_named_graph — register `iri`, possibly empty. */
  def insertNamedGraph(iri: String): GraftStore =
    new GraftStore(base, inserted, deleted, emptyGraphs + iri)

  /** Store::remove_named_graph — drop quads AND the registry entry. */
  def removeNamedGraph(iri: String): GraftStore =
    applyOp(DropGraph(Some(iri)))

  /** Store::clear_graph — drop quads, keep the graph alive (empty).
    * Clearing a graph that never existed must NOT create it.
    */
  def clearGraph(iri: String): GraftStore = applyOp(ClearGraph(Some(iri)))

  /** Quad count (Store::len). */
  def size: Long = quads.count()

  def isEmpty: Boolean = quads.limit(1).count() == 0

  /** Persist as predicate-partitioned Parquet (the S2RDF-style layout
    * QuadSource scans with partition pruning); reopen with
    * `GraftStore.open`. Registered empty graphs ride along in a
    * `_empty_graphs` sidecar so the registry survives the round-trip.
    */
  def save(path: String): Unit = {
    PartitionedQuadStore.write(quads, path)
    val ss = spark
    import ss.implicits._
    emptyGraphs.toSeq.sorted.toDF("g")
      .coalesce(1).write.mode("overwrite")
      .parquet(path + "/_empty_graphs")
  }
}

object GraftStore {
  private val Cols = Seq("g", "s", "p", "o")

  /** Wrap an existing quad DataFrame (g/s/p/o term structs). */
  def apply(quads: DataFrame): GraftStore = apply(quads, Set.empty)

  /** Wrap a quad DataFrame, carrying an existing empty-graph registry
    * (stores rebuilt from a transformed quad table — e.g. Graph Store
    * Protocol writes — must NOT lose CREATEd/CLEARed graphs).
    */
  def apply(quads: DataFrame, emptyGraphs: Set[String]): GraftStore =
    new GraftStore(quads, Set.empty, Set.empty, emptyGraphs)

  /** Empty store. */
  def empty(spark: SparkSession): GraftStore =
    apply(spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      org.apache.spark.sql.types.StructType(Cols.map(
        n => org.apache.spark.sql.types.StructField(n, Term.schema, true)))))

  /** Apply a SPARQL update to a store saved at `path` IN PLACE:
    * delta-shaped ops (DATA, DELETE/INSERT WHERE, LOAD, ADD) rewrite
    * only the predicate partitions they touch — O(changed partitions),
    * not O(store) — while graph management falls back to the full
    * rebuild. See [[graft.update.DeltaUpdate]].
    */
  def updateInPlace(spark: SparkSession, path: String,
      sparql: String): Unit =
    graft.update.DeltaUpdate.updateInPlace(spark, path, sparql)

  /** Open a store saved with `save` (predicate-partitioned Parquet). */
  def open(spark: SparkSession, path: String): GraftStore = {
    val empties =
      try spark.read.parquet(path + "/_empty_graphs")
        .collect().map(_.getString(0)).toSet
      catch { case _: org.apache.spark.sql.AnalysisException =>
        Set.empty[String] } // pre-registry layout: no sidecar
    apply(PartitionedQuadStore(spark, path).all, empties)
  }

  /** Build a store from an RDF file in any supported format. */
  def fromFile(spark: SparkSession, path: String,
      format: String): GraftStore =
    apply(toQuads(RdfIO.read(spark, path, format)))

  private def toQuads(df: DataFrame): DataFrame =
    if (df.columns.contains("g")) df.select("g", "s", "p", "o")
    else df.select(Term.defaultGraph.as("g"), col("s"), col("p"), col("o"))
}
