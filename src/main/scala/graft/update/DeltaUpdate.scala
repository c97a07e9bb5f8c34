package graft.update

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.algebra.Algebra._
import graft.exec.{QueryExec, Translator}
import graft.io.PartitionedQuadStore
import graft.model.Term

/** The (deletes, inserts) factorization of SPARQL Update, and the
  * partition-delta update of a SAVED predicate-partitioned store
  * (SURVEY §2.10 at scale).
  *
  * [[delta]] is the one update model. Three callers consume it:
  *  - [[UpdateExec.apply]] folds it into a quad table as
  *    `((store ∖ D) ∪ I) distinct` (the full rebuild);
  *  - [[graft.GraftStore]] collects it (at most
  *    [[graft.ops.Skew.BroadcastRowGate]] rows) and composes it into
  *    the store's driver-side insert/delete delta, so reads see
  *    `(base ▷ (I ∪ D)) ∪ I` however many writes came before;
  *  - [[updateInPlace]] rewrites only the partition directories the
  *    delta touches: O(changed partitions), not O(store size) — the
  *    100× leg's pq11 cost.
  *
  * The full-rebuild semantics factor per partition because the
  * partition key (`p_key`, the predicate local name) is a pure
  * function of the quad row: a quad in D/I can only ever add to or
  * remove from its own key's directory, so every untouched directory
  * is byte-identical before and after — it is skipped, not rewritten.
  *
  * Delta-shaped ops: INSERT/DELETE DATA, DELETE/INSERT WHERE (incl.
  * WITH/USING), LOAD, ADD (insert-only deltas). Graph management that
  * clears whole graphs across every predicate (CLEAR/DROP/COPY/MOVE)
  * falls back to the full rebuild — their delete set spans all
  * partitions by construction. CREATE is registry-only (no quad
  * effect at all).
  *
  * Mechanics per op of [[updateInPlace]]:
  *  1. materialize the delta (`localCheckpoint`) BEFORE any write —
  *     the delta's WHERE pattern reads the very files being replaced;
  *  2. affected keys = distinct `p_key` over D ∪ I (metadata-scale:
  *     the update's predicates, collected driver-side);
  *  3. rebuilt rows for those keys only, written with DYNAMIC
  *     partition overwrite (untouched directories survive);
  *  4. keys the delete emptied entirely produce no rows — dynamic
  *     overwrite would leave their stale directories, so they are
  *     removed explicitly.
  */
object DeltaUpdate {

  /** The op as a (deletes, inserts) pair, both evaluated against the
    * pre-state `quads`, or None when it has no bounded-partition delta
    * shape. Neither side is materialized here.
    */
  def delta(op: UpdateOp, quads: DataFrame)
      : Option[(Option[DataFrame], Option[DataFrame])] = op match {
    case InsertData(qs) =>
      Some((None, Some(UpdateExec.constQuads(quads, qs))))
    case DeleteData(qs) =>
      Some((Some(UpdateExec.constQuads(quads, qs)), None))
    case DeleteInsert(del, ins, where, using, usingNamed, _) =>
      // USING builds the match dataset like FROM does for queries; the
      // delete/insert effects still apply to the FULL store
      val matchQuads =
        if (using.isEmpty && usingNamed.isEmpty) quads
        else QueryExec.applyDataset(quads, using, usingNamed)
      // one translation of the WHERE feeds both templates
      val sol = Translator.translate(where, matchQuads)
      def side(t: Seq[(TermPat, TriplePattern)]) =
        if (t.isEmpty) None else Some(QueryExec.instantiateQuads(t, sol))
      Some((side(del), side(ins)))
    case LoadGraph(source, into) =>
      val fmt = source.substring(source.lastIndexOf('.') + 1)
      val loaded = graft.io.RdfIO.read(quads.sparkSession, source, fmt)
      Some((None, Some(loaded.select(UpdateExec.graphCol(into).as("g"),
        col("s"), col("p"), col("o")))))
    case AddGraph(f, t) if f != t =>
      Some((None, Some(UpdateExec.retarget(quads, f, t))))
    case CreateGraph(_) | AddGraph(_, _) => Some((None, None))
    case _ => None // CLEAR/DROP/COPY/MOVE: whole-graph deletes
  }

  private val pKey: Column =
    when(col("p")("kind") === Term.IriKind, PartitionedQuadStore.keyCol)
      .otherwise("_other")

  /** Rewrite only the partitions of the store at `path` that the
    * (deletes, inserts) delta touches.
    */
  private def rewritePartitions(spark: SparkSession, path: String,
      del: Option[DataFrame], ins: Option[DataFrame]): Unit = {
    // pin the delta: its lineage reads the files about to be replaced
    val d = del.map(_.localCheckpoint(true))
    val i = ins.map(_.localCheckpoint(true))
    val affected = (d.toSeq ++ i.toSeq)
      .map(_.select(pKey.as("k")).distinct())
      .reduceOption(_ unionByName _)
      .map(_.distinct().collect().map(_.getString(0)).toSet)
      .getOrElse(Set.empty)
    if (affected.isEmpty) return

    val stored = spark.read.parquet(path)
      .where(col("p_key").isin(affected.toSeq: _*))
      .select(col("g"), col("s"), col("p"), col("o"))
    val next = UpdateExec.applyDelta(stored, d, i)
    // pin the rebuilt rows too (same self-overwrite reason), then write
    // only the affected directories
    val pinned = next.localCheckpoint(true)
    pinned.withColumn("p_key", pKey)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("p_key").parquet(path)
    // dynamic overwrite never touches a partition with zero output
    // rows — a delete that EMPTIED a key leaves its stale directory
    // behind; drop those explicitly (metadata-scale)
    val present = pinned.select(pKey.as("k")).distinct()
      .collect().map(_.getString(0)).toSet
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (affected -- present).foreach { k =>
      fs.delete(new org.apache.hadoop.fs.Path(path, s"p_key=$k"), true)
    }
  }

  /** Apply a SPARQL update (possibly `;`-chained) to the store saved at
    * `path` IN PLACE. Delta-shaped ops rewrite only their affected
    * partition directories; anything else falls back to the full
    * rebuild + save. The `_empty_graphs` registry sidecar is maintained
    * either way.
    */
  def updateInPlace(spark: SparkSession, path: String,
      sparql: String): Unit =
    graft.parser.SparqlParser.parseUpdateText(sparql).foreach { op =>
      val store = graft.GraftStore.open(spark, path)
      val g2 = UpdateExec.graphsAfter(op, store.quads, store.emptyGraphs)
      delta(op, store.quads) match {
        case Some((d, i)) =>
          rewritePartitions(spark, path, d, i)
          if (g2 != store.emptyGraphs) writeSidecar(spark, path, g2)
        case None =>
          // full rebuild: pin before save (save overwrites its input)
          val next = UpdateExec(op, store.quads).localCheckpoint(true)
          graft.GraftStore(next, g2).save(path)
      }
    }

  private def writeSidecar(spark: SparkSession, path: String,
      graphs: Set[String]): Unit = {
    import spark.implicits._
    graphs.toSeq.sorted.toDF("g")
      .coalesce(1).write.mode("overwrite")
      .parquet(path + "/_empty_graphs")
  }
}
