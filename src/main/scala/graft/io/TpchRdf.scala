package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Term

/** Derives an RDF quad table from the TPC-H-ish parquet tables so that
  * graph queries are DuckDB-oracle-checkable over the same inputs
  * (SURVEY.md §7.2 step 2).
  *
  * Everything is columnar DataFrame construction — no driver-side rows,
  * no UDFs — so the quad "store" scales with the input tables.
  *
  * Money columns become xsd:decimal literals with scale-2 lexical forms:
  * both engines round the binary double to 2 decimals, which is exact for
  * data generated on a 2-decimal grid, keeping aggregation oracle-exact.
  */
object TpchRdf {
  val ns = "http://example.org/"
  val G_SUPPLIERS: String = ns + "graph/suppliers"
  val WORLD: String = ns + "world"

  def P(local: String): String = ns + local

  /** Predicate -> object value-space catalog for this vocabulary (the
    * schema owner declares it; external data derives the same map once
    * at load via QuadSource.inferPredicateClasses). Drives comparison /
    * sort-key pruning in the translation-time type-inference lattice.
    * `label` is rdf:langString (VStr); the IRI-valued predicates
    * (inNation/inRegion/locatedIn/orderedBy) are deliberately absent —
    * IRI ordering has its own shortcut (Translator.iriOnly).
    */
  val predClasses: Map[String, Term.VClass] = Map(
    P("name") -> Term.VStr,
    P("label") -> Term.VStr,
    P("mktsegment") -> Term.VStr,
    P("status") -> Term.VStr,
    P("priority") -> Term.VStr,
    P("acctbal") -> Term.VNum,
    P("totalprice") -> Term.VNum,
    P("orderdate") -> Term.VTemporal)

  private def iriCol(prefix: String, key: Column): Column =
    Term.iri(concat(lit(ns + prefix + "/"), key.cast(StringType)))

  private def dec2Lit(c: Column): Column =
    Term.decimalLit(c.cast(DecimalType(38, 2)).cast(StringType))

  private def triple(s: Column, p: String, o: Column, g: Column): DataFrame => DataFrame =
    df => df.select(g.as("g"), s.as("s"), Term.iri(p).as("p"), o.as("o"))

  // one materialized quad table per (session, dir) — the "store is
  // loaded once" shape; cached like the reference keeps its indexes open
  private val cache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  def quads(spark: SparkSession, dir: String): DataFrame = {
    evictStopped()
    cache.getOrElseUpdate((spark, dir),
      buildQuads(spark, dir).persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  private val srcCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), graft.io.DfQuadSource]

  /** Drop cache entries whose SparkContext has stopped (r13, advice):
    * a long-lived JVM that cycles sessions (the test JVM) otherwise
    * accumulates dead DataFrame references forever. Unpersist is
    * pointless on a stopped context — the blocks died with it.
    */
  private def evictStopped(): Unit = {
    cache.keys.foreach { k =>
      if (k._1.sparkContext.isStopped) cache.remove(k)
    }
    srcCache.keys.foreach { k =>
      if (k._1.sparkContext.isStopped) srcCache.remove(k)
    }
  }

  /** Unpersist and forget this session's store caches (base quad table
    * + per-predicate index slices) for `dir`, or for every dir the
    * session has loaded when `dir` is null (r13, advice: the slices had
    * no release path — a leak in long-lived/shared JVMs), and delete
    * their on-disk parquet copies.
    */
  def release(spark: SparkSession, dir: String = null): Unit = {
    val keys = (cache.keys ++ srcCache.keys).toSet
      .filter(k => k._1 == spark && (dir == null || k._2 == dir))
    keys.foreach { k =>
      srcCache.remove(k).foreach { src =>
        src.index.values.foreach(_.unpersist())
        // another live session may still read the same dir's copy
        if (!srcCache.keys.exists(_._2 == k._2))
          deleteTree(new java.io.File(storePath(k._2)))
      }
      cache.remove(k).foreach(_.unpersist())
    }
    // the JVM's own store root goes with its last store
    val root = new java.io.File(pidRoot)
    if (Option(root.list()).exists(_.isEmpty)) root.delete()
  }

  /** The quad store as a QuadSource over an on-disk VERTICAL PARTITION
    * (r13, replacing r12's 12 persisted in-memory slices): the quad
    * table is written ONCE per (session, dir) as a predicate-partitioned
    * parquet store ([[PartitionedQuadStore]] layout — the reference
    * keeps exactly this index on disk) and every scan reads it back
    * through a pruned FileScan. Two wins over the cached slices:
    *
    *  - PLAN SIZE: a pattern scan's leaf is one 3-node parquet relation
    *    with PartitionFilters instead of a filtered 20-branch union
    *    subtree that Catalyst re-ANALYZED per reference (cache
    *    substitution happens after analysis) — driver-side planning was
    *    the dominant cost of the sub-second sp/pq queries (QBench:
    *    sp34 had ~1.1 s, pq11 ~1.3 s of non-stage wall).
    *  - MEMORY: nothing stays resident (r12 verdict #5 flagged the 12
    *    always-on MEMORY_AND_DISK slices as a possible session-wide
    *    pressure source); the OS page cache serves the hot files.
    *
    * Built untimed at store-load (bench warmup) like every other store
    * index; no query result or intermediate is reused across queries.
    */
  def source(spark: SparkSession, dir: String): graft.io.DfQuadSource =
    srcCache.getOrElseUpdate((spark, dir), {
      val all = quads(spark, dir)
      val path = storePath(dir)
      PartitionedQuadStore.write(all, path)
      val store = spark.read.parquet(path)
      def pruned(p: String): DataFrame = store
        .where(col("p_key") === PartitionedQuadStore.key(p) &&
          col("p")("kind") === Term.IriKind && col("p")("lex") === p)
        .select(col("g"), col("s"), col("p"), col("o"))
      val preds = Seq("name", "label", "mktsegment", "status", "priority",
        "acctbal", "totalprice", "orderdate", "inNation", "inRegion",
        "locatedIn", "orderedBy").map(P)
      // Slices stay PERSISTED like r12 (A/B r13: serving pattern scans
      // straight from the parquet partition regressed the heavy engine
      // queries — sp34 2.9→5.0 s — because a small p_key directory packs
      // into ONE scan task and the whole EXISTS/σ arm then runs serial,
      // and the runtime bloom filter stopped firing), but each slice is
      // now DERIVED FROM the on-disk partition instead of the 20-branch
      // union: its analyzed plan is a 4-node pruned FileScan, not a
      // ~200-node union subtree that Catalyst re-analyzed on every
      // pattern reference (planning was the dominant cost of the
      // sub-second sp/pq queries). `all` stays the cached union.
      val index = preds.map { p =>
        p -> pruned(p).coalesce(1)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }.toMap
      graft.io.DfQuadSource(all, predClasses, Nil, index)
    })

  /** Process-local path for the derived parquet store (under target/ —
    * never inside the read-only test data dir). Salted with the JVM pid
    * so concurrently forked test JVMs (build.sbt testGrouping) never
    * write the same directory, and a fresh process never reads a stale
    * store from a previous code version.
    */
  private def storePath(dir: String): String =
    pidRoot + "/" + dir.replaceAll("[^A-Za-z0-9._-]", "_")

  /** This JVM's store root. Removed by [[release]] once its last store
    * goes, and at JVM exit by a shutdown hook registered on first use,
    * so finished processes leave no copy behind.
    */
  private lazy val pidRoot: String = {
    val root = "target/quadstore/p" + ProcessHandle.current().pid()
    sys.addShutdownHook(deleteTree(new java.io.File(root)))
    root
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** The full quad table as a 3-node parquet scan over the on-disk
    * store (r13). For the UPDATE paths: a `;`-chained update folds each
    * op over the previous result, so the base table's logical subtree
    * appears O(2^ops) times in the final plan — with the 20-branch
    * union leaf Catalyst spent more wall re-analyzing the tree than
    * executing it (QBench pq11: 1.3 s of 1.85 s was non-stage driver
    * time). Read-only queries keep the cached union ([[quads]]).
    */
  def store(spark: SparkSession, dir: String): DataFrame = {
    source(spark, dir) // ensures the partitioned store is written
    spark.read.parquet(storePath(dir))
      .select(col("g"), col("s"), col("p"), col("o"))
  }

  /** Materialize the session's quad store (base cache + the on-disk
    * predicate-partitioned store) — the untimed "store load" of the
    * bench. The slice counts pull the hot files through the OS page
    * cache so the first timed query reads warm storage, matching the
    * in-memory-slice warmup contract of r12.
    */
  def warm(spark: SparkSession, dir: String): Unit = {
    quads(spark, dir).count()
    source(spark, dir).index.values.foreach(_.count())
  }

  /** Full quad table: customers/nations/regions/orders in the default
    * graph, suppliers in a named graph, plus a 3-level `:locatedIn`
    * chain (customer -> nation -> region -> :world) for path queries.
    */
  def buildQuads(spark: SparkSession, dir: String): DataFrame = {
    val dg = Term.defaultGraph
    val sg = Term.iri(G_SUPPLIERS)
    val c = Tables(spark, dir, "customer")
    val n = Tables(spark, dir, "nation")
    val r = Tables(spark, dir, "region")
    val o = Tables(spark, dir, "orders")
    val s = Tables(spark, dir, "supplier")

    val cs = iriCol("customer", col("c_custkey"))
    val nsub = iriCol("nation", col("c_nationkey"))
    val nn = iriCol("nation", col("n_nationkey"))
    val rr = iriCol("region", col("n_regionkey"))
    val rs = iriCol("region", col("r_regionkey"))
    val os = iriCol("order", col("o_orderkey"))
    val oc = iriCol("customer", col("o_custkey"))
    val ss = iriCol("supplier", col("s_suppkey"))
    val sn = iriCol("nation", col("s_nationkey"))

    val parts: Seq[DataFrame] = Seq(
      triple(cs, P("name"), Term.strLit(col("c_name")), dg)(c),
      triple(cs, P("acctbal"), dec2Lit(col("c_acctbal")), dg)(c),
      triple(cs, P("mktsegment"), Term.strLit(col("c_mktsegment")), dg)(c),
      triple(cs, P("inNation"), nsub, dg)(c),
      triple(cs, P("locatedIn"), nsub, dg)(c),
      triple(nn, P("name"), Term.strLit(col("n_name")), dg)(n),
      triple(nn, P("inRegion"), rr, dg)(n),
      triple(nn, P("locatedIn"), rr, dg)(n),
      triple(rs, P("name"), Term.strLit(col("r_name")), dg)(r),
      triple(rs, P("locatedIn"), Term.iri(WORLD), dg)(r),
      // language-tagged labels (exercises LANG/LANGMATCHES/lang joins)
      triple(rs, P("label"), Term.langLit(col("r_name"), lit("en")), dg)(r),
      triple(rs, P("label"),
        Term.langLit(lower(col("r_name")), lit("de")), dg)(r),
      triple(os, P("orderedBy"), oc, dg)(o),
      triple(os, P("totalprice"), dec2Lit(col("o_totalprice")), dg)(o),
      triple(os, P("orderdate"),
        Term.typedLit(date_format(col("o_orderdate"), "yyyy-MM-dd"),
          Term.XsdDate), dg)(o),
      triple(os, P("status"), Term.strLit(col("o_orderstatus")), dg)(o),
      triple(os, P("priority"), Term.strLit(col("o_orderpriority")), dg)(o),
      // suppliers live in a named graph to exercise GRAPH scoping
      triple(ss, P("name"), Term.strLit(col("s_name")), sg)(s),
      triple(ss, P("inNation"), sn, sg)(s),
      triple(ss, P("acctbal"), dec2Lit(col("s_acctbal")), sg)(s))
    parts.reduce(_ unionByName _)
  }
}
