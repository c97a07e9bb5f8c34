package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, graftbridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.io.Fetch
import graft.io.Tables.fanOut

/** Deduplication operators for training-data pipelines: exact,
  * n-gram-Jaccard, MinHash+LSH, SimHash, embedding-cosine.
  *
  * Scale design: every method is hash-bucket-based — candidate generation
  * shuffles on band/bucket keys (uniform by construction), never on raw
  * documents; verification touches only candidate pairs. The brute-force
  * exact paths (pairwise Jaccard / cosine) exist as correctness baselines
  * and for bounded probe blocks; LSH variants are the 100 TB path.
  */
object Dedup {

  /** Exact dedup: group identical texts, keep the smallest doc_id.
    * One hash-aggregate shuffle on a fingerprint (not the full text) —
    * group on the short key, verify within groups.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"),
      TextOps.fingerprint(col("text")).as("fp"))
      .groupBy(col("fp"), col("text"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), col("fp"))

  /** Shingle rows (doc_id, shingle): the shared input of the Jaccard and
    * MinHash paths.
    */
  def shingleRows(docs: DataFrame, k: Int = 3): DataFrame =
    fanOut(docs).select(col("doc_id"),
      explode(TextOps.shingles(TextOps.tokens(col("text")), k)).as("s"))

  /** Exact n-gram Jaccard near-dup pairs at `threshold` (as a rational
    * num/den to stay integer-exact): inverted-index self-join on shingles
    * for candidates, exact set verification per candidate pair.
    *
    * `dfCap` bounds the hottest posting list: a stop-shingle shared by a
    * large fraction of the corpus makes the self-join quadratic in its
    * document frequency while carrying no near-dup signal, so shingles
    * with df > dfCap are dropped from CANDIDATE GENERATION only —
    * verification still intersects the full shingle sets, keeping the
    * reported Jaccard exact. The default cap never binds at test scale;
    * at 100 TB set it to a small multiple of the expected dup-cluster
    * size.
    */
  def ngramJaccardPairs(docs: DataFrame, num: Int, den: Int,
      k: Int = 3, dfCap: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // filter ABOVE the persist barrier, not below it: a filter whose
    // predicate re-derives the shingle array pushes below any scan
    // fan-out exchange (Tables.fanOut) and re-computes every doc's
    // shingles in the pre-exchange task — measured 1.5 s single-task
    // at sf0.1. Cached: all docs; filtered view: identical rows as
    // before (r12, guide §2.5/§7.2).
    val withSh = fanOut(docs).select(col("doc_id"),
      TextOps.shingles(TextOps.tokens(col("text")), k).as("sh"))
      .select(col("doc_id"), col("sh"), size(col("sh")).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).transform(ScratchCaches.track)
      .where(col("n") > 0)
    // (r13 A/B note: persisting the exploded shingle relation as well —
    // it feeds the df aggregate AND the prefix pass — measured within
    // noise locally and tripped the cache-hygiene soak: a scratch cache
    // whose plan embeds ANOTHER tracked cache makes every releaseAll
    // unpersist trigger CacheManager dependent-recache churn. Scratch
    // persists stay a flat set over uncached subtrees.)
    val sh = withSh.select(col("doc_id"), col("n"),
      explode(col("sh")).as("s"))
    val dfTab = sh.groupBy("s").agg(count(lit(1)).as("df"))
    // Prefix filtering (PPJoin / prefix-filter lemma, Xiao et al.
    // WWW'08, public): under a GLOBAL total order on shingles, a pair
    // at Jaccard >= num/den must share a shingle within each side's
    // first (n - ceil(t*n) + 1) shingles — so only that prefix is
    // indexed. Ordering rarest-first (df, then lex) makes prefixes
    // maximally selective AND pushes stop-shingles to the order's tail,
    // out of every prefix; the df-cap remains as the governor for
    // pathological distributions (capped shingles leave candidate
    // generation ONLY — a doc's surviving true-prefix shingles always
    // sit inside its first prefLen survivors, so the cap's documented
    // recall caveat is unchanged). Verification below intersects FULL
    // shingle sets, keeping the reported Jaccard exact.
    val prefLen = col("n") -
      expr(s"((n * $num + ${den - 1}) div $den)") + 1
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    // persist: the candidate self-join consumes the prefix relation on
    // both sides, and the df-join + ranking window above it would run
    // twice (no ReusedExchange across join aliases — the dd4 lesson)
    val pref = sh.join(dfTab.where(col("df") <= dfCap), "s")
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= prefLen)
      .select(col("doc_id"), col("n"), col("s"), col("__rn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).transform(ScratchCaches.track)
    // candidates: prefixes intersect AND the length filter holds
    // (J >= t forces min(n) * den >= max(n) * num)
    val cand = pref.as("a").join(pref.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
        least(col("a.n"), col("b.n")) * den >=
          greatest(col("a.n"), col("b.n")) * num)
      // Positional filter (PPJoin's second filter), on the same exchange
      // the pair-dedup needs anyway: let (ra, rb) be the pair's FIRST
      // shared prefix positions in the global order. Every other
      // intersection element sorts after that shingle (else it would be
      // the first match), so it lies past position ra in A and rb in B:
      //   |A ∩ B| <= 1 + min(na - ra, nb - rb).
      // Prune when even that bound misses the threshold
      // (i * (den+num) >= num * (na+nb) is J >= t rearranged). __rn is
      // the position in the CAPPED order <= full-order position, so the
      // bound only overestimates — no false negatives.
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(min(col("a.__rn")).as("ra"), min(col("b.__rn")).as("rb"),
        first(col("a.n")).as("pna"), first(col("b.n")).as("pnb"))
      .where((lit(1) + least(col("pna") - col("ra"), col("pnb") - col("rb")))
        * (den + num) >= (col("pna") + col("pnb")) * num)
      .select(col("da"), col("db"))
    // exact verification on the full sets, candidates only
    cand
      .join(withSh.select(col("doc_id").as("da"), col("sh").as("sa"),
        col("n").as("na")), "da")
      .join(withSh.select(col("doc_id").as("db"), col("sh").as("sb"),
        col("n").as("nb")), "db")
      .select(col("da"), col("db"),
        size(array_intersect(col("sa"), col("sb"))).as("inter"),
        col("na"), col("nb"))
      .where(col("inter") * den >= (col("na") + col("nb") - col("inter")) * num)
  }

  /** Benchmark decontamination: corpus docs sharing at least
    * `minOverlap` distinct k-shingles with any probe (benchmark) doc.
    * The probe side is BROADCAST — benchmark suites are tiny next to a
    * 100 TB corpus, so the corpus never shuffles for the join; only the
    * matched (doc, probe) pairs ride the final count exchange.
    */
  def contamination(corpus: DataFrame, probes: DataFrame, k: Int = 3,
      minOverlap: Int = 2): DataFrame = {
    val c = shingleRows(corpus, k)
    val p = shingleRows(probes, k).withColumnRenamed("doc_id", "probe_id")
    c.join(broadcast(p), "s")
      .groupBy("doc_id", "probe_id")
      .agg(count(lit(1)).cast("int").as("n_overlap"))
      .where(col("n_overlap") >= minOverlap)
  }

  /** Fuzzy n-gram-overlap decontamination (the GPT-3 appendix-C shape,
    * public: mark a training doc contaminated by the FRACTION of its
    * distinct n-grams that appear anywhere in the benchmark set, not
    * just by sharing a few shingles with one probe doc). Returns per
    * corpus doc the distinct-n-gram count, how many of those occur in
    * the union of benchmark n-grams, and the overlap fraction
    * (int/int IEEE division — bit-exact cross-engine); filter at
    * `minFrac` to produce the contaminated list.
    *
    * Scale shape: the benchmark n-gram UNION is deduped first and
    * BROADCAST (benchmark suites are MBs against a 100 TB corpus); the
    * corpus n-gram stream is left-joined map-side against it, so the
    * only exchange is the per-doc count aggregation on `doc_id`. The
    * corpus never shuffles its text, and unlike [[contamination]] the
    * output is per-doc (not per doc×probe), so hot boilerplate shared
    * with many probes cannot blow up the row count.
    */
  def ngramOverlapContamination(corpus: DataFrame, bench: DataFrame,
      k: Int = 5, minFrac: Double = 0.0): DataFrame = {
    val c = shingleRows(corpus, k)
    val b = shingleRows(bench, k).select(col("s")).distinct()
      .withColumn("__hit", lit(1))
    val out = c.join(broadcast(b), Seq("s"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0))).as("n_contaminated"))
      .withColumn("overlap_frac",
        col("n_contaminated").cast(DoubleType) / col("n_grams"))
    if (minFrac > 0.0) out.where(col("overlap_frac") >= minFrac) else out
  }

  /** Bloom-gated exact decontamination: the CLEAN corpus — every doc
    * whose exact text fingerprint does NOT appear in the benchmark set.
    *
    * Scale story (the reason this exists next to [[contamination]]'s
    * broadcast join): a benchmark set too large to broadcast as a join
    * relation (1 B fingerprints ≈ 8 GB of longs + hashmap overhead)
    * still broadcasts as a Bloom filter (~10 bits/element at 1% fpp
    * ≈ 1.2 GB). The filter is built distributed (`stat.bloomFilter`
    * tree-aggregates; the driver only holds the final bits), broadcast
    * once, and applied map-side:
    *   - bloom-negative rows (the overwhelming majority of a 100 TB
    *     corpus) are emitted directly — they never shuffle;
    *   - bloom-positive rows (true hits + ~fpp false positives) go
    *     through an exact fingerprint anti-join, so the result is
    *     EXACT — the bloom only prunes definite negatives.
    * The shuffle therefore carries ~(hit-rate + fpp) of the corpus
    * instead of all of it. The corpus source is scanned twice (once
    * per branch), but the second scan's rows die at the bloom filter —
    * two map-only passes beat one full-data exchange.
    */
  def bloomDecontaminate(corpus: DataFrame, bench: DataFrame,
      fpp: Double = 0.01): DataFrame = {
    val spark = corpus.sparkSession
    val fpCorpus = corpus.select(col("doc_id"),
      TextOps.fingerprint(col("text")).as("fp"))
    val fpBench = bench.select(TextOps.fingerprint(col("text")).as("fp"))
    val expected = math.max(fpBench.count(), 1L)
    val bloom = fpBench.stat.bloomFilter("fp", expected, fpp)
    val bloomB = spark.sparkContext.broadcast(bloom)
    // No public Column-level bloom probe exists (BloomFilterMightContain
    // is internal to runtime filtering), so this is the one UDF in the
    // dedup stack: a row-local long probe against a broadcast bitset.
    val might = udf((fp: Long) => bloomB.value.mightContainLong(fp))
    val clean = fpCorpus.where(!might(col("fp")))
    val verified = fpCorpus.where(might(col("fp")))
      .join(fpBench, Seq("fp"), "left_anti")
    clean.unionByName(verified).select(col("doc_id"), col("fp"))
  }

  /** Winnowed fingerprint rows (doc_id, fp) — the document-sketch
    * relation partial-overlap detection joins on. See [[TextOps.winnow]]
    * for selection semantics and the SIGMOD'03 guarantee.
    */
  def winnowFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame =
    // gram hashes land in their own projection so the window-min lambda
    // reads a computed array, not a re-evaluated subtree (see
    // TextOps.winnowHashes) — CollapseProject leaves the stage split
    // because the array is non-cheap and referenced more than once
    fanOut(docs).select(col("doc_id"),
      TextOps.gramHashes(TextOps.tokens(col("text")), k).as("hs"))
      .select(col("doc_id"),
        explode(TextOps.winnowHashes(col("hs"), w)).as("fp"))

  /** Partial-overlap pairs by shared winnowed fingerprints: docs sharing
    * at least `minShared` selected fingerprints. The join shuffles
    * (doc_id, fp) rows on the 8-byte fp key only — documents never move;
    * the fingerprint relation is ~2/(w+1) the size of the gram relation
    * an inverted-index join (dd2) would shuffle, which is the scale
    * story: same guarantee-bearing overlap signal, ~w/2 times less
    * exchange volume. `dfCap` drops corpus-hot fingerprints (boilerplate
    * runs shared by a large corpus fraction) from pair generation, the
    * same governor as [[ngramJaccardPairs]]'s stop-shingle cap.
    */
  def winnowPairs(docs: DataFrame, minShared: Int = 2, k: Int = 3,
      w: Int = 4, dfCap: Long = 1L << 20): DataFrame = {
    // persist: the fingerprint relation feeds the df-cap aggregate AND
    // both sides of the self-join — without it the winnow projection
    // re-runs once per consumer (the dd2/dd3 persist discipline)
    val fps = winnowFingerprints(docs, k, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).transform(ScratchCaches.track)
    val keep = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .where(col("df") <= dfCap).select("fp")
    val pruned = fps.join(keep, "fp")
    pruned.as("a").join(pruned.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).cast("int").as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Rounds cap for [[dupClusters]] — alternating large-star/small-star
    * converges in O(log^2 n) rounds with high probability (O(log n) in
    * practice), so 64 double-rounds covers any feasible corpus; hitting
    * the cap raises instead of hanging a 100 TB job silently.
    */
  val MaxCcRounds = 64

  /** Apply the keep/drop decision of [[dupClusters]]: drop every
    * non-canonical cluster member (doc_id != cluster_id), keep canonical
    * members and all unclustered documents. The drop-list side carries
    * only ids of near-dup members — a small fraction of the corpus — so
    * the anti join broadcasts at real scale; documents never reshuffle.
    * When [[dupClusters]] solved within [[Skew.BroadcastRowGate]] pairs,
    * the drop list holds at most that many ids by construction (one per
    * spanning-forest edge); past the gate the broadcast is not gated.
    */
  def dedupApply(docs: DataFrame, clusters: DataFrame): DataFrame =
    // broadcast EXPLICITLY (r13): the drop list reaches here through the
    // CC fixpoint's checkpoints, whose size estimates are unknowable —
    // the documented broadcast contract should not hang on an estimate
    docs.join(
      broadcast(clusters.where(col("doc_id") =!= col("cluster_id"))
        .select("doc_id")),
      Seq("doc_id"), "left_anti")

  /** Incremental near-dup detection — the production shape for a
    * growing corpus: a new batch (daily crawl) is checked against the
    * EXISTING corpus and against itself, without re-running the corpus
    * self-join. Emits (da, db, inter, na, nb) like [[ngramJaccardPairs]],
    * where at least one side is an incoming doc; corpus-internal pairs
    * are assumed already handled by previous runs.
    *
    * Scale shape: the corpus side contributes only its PREFIX-FILTERED
    * inverted shingle index rows (at real scale a materialized table
    * updated per batch — here derived, the derivation is one map pass);
    * the join probes it with the INCOMING side's prefix shingles, so
    * candidate work is O(|incoming| · prefix-df), proportional to the
    * batch, not the corpus. The PPJoin prefix lemma holds across two
    * sets as long as both prefixes use ONE global order (combined df,
    * rarest first) — same guarantee as [[ngramJaccardPairs]], with the
    * length filter in the join and the positional filter on the
    * pair-dedup exchange. New-vs-new pairs reuse the full
    * prefix-filtered [[ngramJaccardPairs]] on the batch alone. Both
    * legs verify on full shingle sets (exact Jaccard); `dfCap` governs
    * pathological postings as everywhere.
    */
  def incrementalJaccardPairs(corpus: DataFrame, incoming: DataFrame,
      num: Int, den: Int, k: Int = 3, dfCap: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // filter above the persist barrier — same fan-out pushdown hazard
    // as [[ngramJaccardPairs]]'s withSh (r12)
    def withSh(d: DataFrame) = fanOut(d).select(col("doc_id"),
      TextOps.shingles(TextOps.tokens(col("text")), k).as("sh"))
      .select(col("doc_id"), col("sh"), size(col("sh")).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).transform(ScratchCaches.track)
      .where(col("n") > 0)
    val cs = withSh(corpus)
    val ns = withSh(incoming)
    val cIdx = cs.select(col("doc_id"), col("n"), explode(col("sh")).as("s"))
    val nIdx = ns.select(col("doc_id"), col("n"), explode(col("sh")).as("s"))
    // one GLOBAL order for both prefixes: combined-index df, rarest
    // first (a stop-shingle is hot globally and falls out of both).
    // persist: BOTH prefix() calls join against this aggregate — the
    // self-join persist discipline (no exchange reuse across aliases)
    val dfTab = cIdx.unionByName(nIdx).groupBy("s")
      .agg(count(lit(1)).as("df"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).transform(ScratchCaches.track)
    val prefLen = col("n") -
      expr(s"((n * $num + ${den - 1}) div $den)") + 1
    def prefix(idx: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
      idx.join(dfTab.where(col("df") <= dfCap), "s")
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") <= prefLen)
        .select(col("doc_id"), col("n"), col("s"), col("__rn"))
    }
    val cand = prefix(nIdx).as("a").join(prefix(cIdx).as("b"),
        col("a.s") === col("b.s") &&
        col("a.doc_id") =!= col("b.doc_id") &&
        least(col("a.n"), col("b.n")) * den >=
          greatest(col("a.n"), col("b.n")) * num)
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(min(col("a.__rn")).as("ra"), min(col("b.__rn")).as("rb"),
        first(col("a.n")).as("pna"), first(col("b.n")).as("pnb"))
      .where((lit(1) + least(col("pna") - col("ra"), col("pnb") - col("rb")))
        * (den + num) >= (col("pna") + col("pnb")) * num)
      .select(col("da"), col("db"))
    val newVsCorpus = cand
      .join(ns.select(col("doc_id").as("da"), col("sh").as("sa"),
        col("n").as("na")), "da")
      .join(cs.select(col("doc_id").as("db"), col("sh").as("sb"),
        col("n").as("nb")), "db")
      .select(col("da"), col("db"),
        size(array_intersect(col("sa"), col("sb"))).as("inter"),
        col("na"), col("nb"))
      .where(col("inter") * den >=
        (col("na") + col("nb") - col("inter")) * num)
    newVsCorpus.unionByName(
      ngramJaccardPairs(incoming, num, den, k, dfCap))
  }

  /** [[dedupApply]] with a POLICY: within each near-dup cluster keep
    * the member minimizing (priority, doc_id) instead of blindly the
    * lowest id — the real-pipeline shape where a cleaner source (e.g.
    * curated > crawl) should win the dedup, regardless of id order.
    *
    * Scale shape: priorities are looked up by joining the cluster
    * member list (near-dup ids only — a small fraction of the corpus)
    * against an (id, priority) projection of the docs; the canonical
    * pick is a window over that members-sized table, and the final
    * drop-list anti join broadcasts ids exactly like [[dedupApply]]
    * (at most [[Skew.BroadcastRowGate]] ids when the clusters were
    * solved within the gate, not gated past it). Documents never
    * reshuffle.
    */
  def dedupApplyByPriority(docs: DataFrame, clusters: DataFrame,
      priority: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val prio = docs.select(col("doc_id"), priority.as("__prio"))
    val members = clusters.join(prio, "doc_id")
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("__prio"), col("doc_id"))
    val drop = members.withColumn("__rn", row_number().over(w))
      .where(col("__rn") > 1).select("doc_id")
    // broadcast: same contract as [[dedupApply]] — the estimate through
    // the window + CC checkpoints picked a SortMergeJoin that sorted and
    // exchanged the whole corpus (r13 plan audit: SMJ LeftAnti → BHJ)
    docs.join(broadcast(drop), Seq("doc_id"), "left_anti")
  }

  /** Connected components over near-dup pairs — the clustering step
    * that turns pairwise matches into keep/drop decisions (cluster_id =
    * the smallest doc_id in the component; keep it, drop the rest).
    *
    * Within [[Skew.BroadcastRowGate]] pairs (integral ids, no nulls) the
    * pairs are read in one job and the components are solved on the
    * driver by a union-find ([[localClusters]]): the distributed loop
    * below pays two checkpoints, a count and a convergence probe per
    * round, about 21 jobs for 500 pairs. Past the gate, alternating
    * large-star / small-star (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14) instead of min-label propagation:
    * each round rewires edges toward the minimum neighbor, halving tree
    * height, so rounds are O(log n) in component DIAMETER — a
    * templated-spam chain of length n clusters in ~log n shuffles, not
    * n. Every shuffle carries (u, v) id pairs only; localCheckpoint cuts
    * lineage per round (the same discipline as the PathExec fixpoints).
    *
    *  - large-star: for each node u, connect every neighbor v > u to
    *    m(u) = min(N(u) ∪ {u});
    *  - small-star: for each node u, connect every neighbor v <= u
    *    (and u itself) to m(u).
    */
  def dupClusters(pairs: DataFrame): DataFrame =
    dupClustersWithRounds(pairs)._1

  /** [[dupClusters]] plus the number of (large-star, small-star) double
    * rounds it took (0 when solved on the driver) — exposed so tests can
    * assert the O(log n) bound; `gate` = 0 forces the loop.
    */
  private[graft] def dupClustersWithRounds(pairs: DataFrame,
      gate: Long = Skew.BroadcastRowGate): (DataFrame, Int) = {
    // persist BEFORE the symmetrization union — otherwise the (possibly
    // expensive) pair-generation subtree materializes once per branch;
    // the driver read below fills the cache the loop then reuses. No
    // result reads `p` (the driver frame holds its own rows, the loop's
    // its checkpoints), so it is released here, on every path.
    val p = pairs.select(col("da"), col("db"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try localClusters(p, gate).map(_ -> 0).getOrElse(starClusters(p))
    finally p.unpersist()
  }

  /** The id types the driver-side solvers accept ([[localClusters]],
    * [[simhashPairs]], [[Similarity.semdedupPairs]]): each compares ids
    * as longs and writes them back with their own type.
    */
  private[ops] val IntegralIds =
    Set[DataType](ByteType, ShortType, IntegerType, LongType)

  /** The components solved on the driver when `p` holds at most `gate`
    * pairs of integral, non-null ids; None (the caller runs the loop)
    * otherwise. One job reads the pairs; a union-find whose root is
    * always the smaller id leaves each component's min at its root. The
    * result is a [[Fetch.frame]] of the loop's schema.
    */
  private def localClusters(p: DataFrame, gate: Long): Option[DataFrame] = {
    val t = p.schema("da").dataType
    if (!IntegralIds(t) || p.schema("db").dataType != t) return None
    Fetch.atMost(p, gate)
      .filterNot(_.exists(r => r.isNullAt(0) || r.isNullAt(1)))
      .map { rows =>
        val parent = scala.collection.mutable.HashMap.empty[Any, Any]
        def id(x: Any): Long = x.asInstanceOf[Number].longValue
        def find(x: Any): Any = {
          var r = parent.getOrElseUpdate(x, x)
          while (parent(r) != r) { // path halving
            parent(r) = parent(parent(r)); r = parent(r)
          }
          r
        }
        rows.foreach { r =>
          val (a, b) = (find(r.get(0)), find(r.get(1)))
          if (id(a) < id(b)) parent(b) = a
          else if (id(b) < id(a)) parent(a) = b
        }
        val nullable = p.schema.exists(_.nullable) // as the loop's union
        Fetch.frame(p.sparkSession,
          parent.keys.toVector.map(x => Row(x, find(x))),
          StructType(Seq(StructField("doc_id", t, nullable),
            StructField("cluster_id", t, nullable))))
      }
  }

  /** The large-star / small-star loop of [[dupClusters]] over the
    * persisted pairs.
    */
  private def starClusters(p: DataFrame): (DataFrame, Int) = {
    val verts = p.select(col("da").as("id"))
      .unionByName(p.select(col("db").as("id"))).distinct()
      .localCheckpoint()
      // (verts stays plan-partitioned: it is touched once, by the final
      // left join — not worth an extra coalesce pass)
    // One star phase, join-formulated: m(u) = min(N(u) ∪ {u}) computed
    // by a groupBy — the neighborhood is never materialized as an array
    // (a giant component's root has component-sized degree; collect_*
    // there would OOM an executor). large keeps the strictly-larger
    // neighbors, small the smaller ones; both re-attach u itself.
    // Every emitted edge is parent < child, within u's closed
    // neighborhood — connectivity is preserved exactly.
    // `dedup`: the distinct between the two phases of a double round is
    // semantics-free (duplicate edges change neither neighborhood mins
    // nor connectivity; the small-star distinct dedups the round's
    // output) — dropping it saves one exchange per round (r12)
    // `parts`-wide EXPLICIT u-repartition at the phase head (r13, guide
    // §2.4): the loop body materializes through the .rdd path where
    // AQE's coalescing never runs, so the groupBy and the mins join
    // otherwise each plan a shuffle.partitions-wide exchange per phase —
    // hundreds of near-empty tasks per round at near-dup-pair scale.
    // hashpartitioning(u, parts) satisfies both downstream clusterings,
    // so each phase runs exactly ONE exchange at the loop's own width.
    def star(es: DataFrame, large: Boolean, dedup: Boolean,
        parts: Int): DataFrame = {
      val sym = es.unionByName(es.select(col("v").as("u"), col("u").as("v")))
        .repartition(parts, col("u"))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u").as("mu"), least(col("mn"), col("u")).as("m"))
      val side =
        if (large) sym.where(col("v") > col("u"))
        else sym.where(col("v") < col("u"))
      val out = side.join(mins, col("u") === col("mu"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(mins.select(col("mu").as("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
      // the round-closing distinct re-clusters on both columns at the
      // loop width; hashpartitioning(u, v, parts) satisfies it with no
      // further exchange
      if (dedup) out.repartition(parts, col("u"), col("v")).distinct()
      else out
    }
    // Scale-adaptive loop partitioning (r12, guide §2): localCheckpoint
    // materializes with the PLAN's partitioning — AQE's post-shuffle
    // coalescing does not reach the .rdd path — so each round's stages
    // otherwise run shuffle.partitions-many near-empty tasks whose fixed
    // cost dominates at near-dup-pair scale (pairs are a small fraction
    // of the corpus by construction). ~64k edges per partition keeps the
    // loop 1-task at test scale and thousands-of-tasks at 10^9 edges;
    // the count replaces (and is no dearer than) the old isEmpty probe.
    val nEdges = p.count()
    val parts = math.max(1L, (nEdges + 65535) / 65536).toInt
    var edges = p.select(col("da").as("u"), col("db").as("v"))
      .coalesce(parts).localCheckpoint()
    var rounds = 0
    var converged = nEdges == 0
    while (!converged) {
      rounds += 1
      if (rounds > MaxCcRounds)
        throw new IllegalStateException(
          s"dupClusters did not converge in $MaxCcRounds rounds")
      // the closing repartition(parts, u, v) already leaves the round
      // output parts-wide — no coalesce needed before the checkpoint
      edges = star(star(edges, large = true, dedup = false, parts),
          large = false, dedup = true, parts)
        .localCheckpoint()
      // all edges point parent < child; the set is a star forest (= the
      // joint fixpoint, with each center the component min) exactly when
      // no parent is itself a child AND no child has two parents. The
      // second half is not implied by the first: a small star can leave
      // a child under its own min and under a larger neighbor's min, two
      // centers of one component that the next round merges.
      val parentIsChild = edges.as("a").join(edges.as("b"),
        col("a.v") === col("b.u"), "left_semi").select(col("u"))
      val twoParents = edges.groupBy("u").count()
        .where(col("count") > 1).select(col("u"))
      converged = parentIsChild.unionByName(twoParents).isEmpty
    }
    val out = verts.join(edges, verts("id") === edges("u"), "left_outer")
      .select(verts("id").as("doc_id"),
        coalesce(col("v"), verts("id")).as("cluster_id"))
    (out, rounds)
  }

  /** MinHash signatures: numHashes seeded xxhash64 mins, computed in one
    * map-side projection (no explode, no shuffle) through the native
    * [[graft.expr.MinHashSig]] primitive loop (bit-identical to the
    * interpreted HOF nest it replaced — parity-locked in PipelineSpec).
    */
  def minhashSignatures(docs: DataFrame, numHashes: Int = 64,
      k: Int = 3): DataFrame =
    minhashSignaturesRaw(docs, numHashes, k).where(size(col("sh")) > 0)

  /** [[minhashSignatures]] WITHOUT the empty-doc filter (empty docs get
    * MinHashSig's all-null signature). Callers that persist the
    * signature table cache this and filter ABOVE the cache barrier: a
    * predicate re-deriving the shingle array pushes below the scan
    * fan-out exchange and serializes the whole shingle pass into one
    * pre-exchange task (r12; the ngramJaccardPairs withSh lesson).
    */
  private def minhashSignaturesRaw(docs: DataFrame, numHashes: Int,
      k: Int): DataFrame =
    fanOut(docs).select(col("doc_id"),
      TextOps.shingles(TextOps.tokens(col("text")), k).as("sh"))
      .select(col("doc_id"), col("sh"),
        graft.expr.MinHashSig.sigCol(col("sh"), numHashes).as("sig"))

  /** LSH banding: candidates = pairs agreeing on at least one band
    * (`numHashes / bands` signature entries per band), verified with
    * exact Jaccard on the shingle sets: `inter * den >= union * num`.
    *
    * The op is lazy: the returned frame is a [[Fetch.deferred]] one, and
    * every job below runs in the action that first needs its rows. The
    * unfiltered signature table is persisted there and read once as
    * (`doc_id`, band keys), 16 longs per doc at the defaults. Within
    * [[Skew.BroadcastRowGate]] signatures with integral, unique ids, the
    * driver buckets each band's keys, and as long as the candidates and
    * the docs they name stay within the gate, a second read fetches only
    * those docs' shingle arrays from the cache; the driver verifies them
    * with the join's Int arithmetic and the pairs come back as a
    * [[Fetch.frame]] of the join's schema, with nothing left cached.
    * Past the gate, or on input the driver path does not take, the
    * banding self-join below runs over the cached signatures, which stay
    * registered with [[ScratchCaches]]; such input pays one extra
    * limited read, which also fills the cache the join then reads.
    *
    * The join's shuffle key is (band, band key) — short and uniform —
    * and only (doc_id, band, key) rows flow through the band self-join:
    * the shingle arrays never ride the ×bands explode/exchange;
    * verification joins them back per candidate from the cached table
    * (without the persist, the joins recomputed the signature
    * projection and regressed 18×).
    */
  def minhashLshPairs(docs: DataFrame, numHashes: Int = 64, bands: Int = 16,
      num: Int = 8, den: Int = 10, k: Int = 3): DataFrame =
    minhashLshPairsGated(docs, numHashes, bands, num, den, k)

  /** [[minhashLshPairs]] with its gate: `gate` = 0 forces the banding
    * join.
    */
  private[graft] def minhashLshPairsGated(docs: DataFrame,
      numHashes: Int = 64, bands: Int = 16, num: Int = 8, den: Int = 10,
      k: Int = 3, gate: Long = Skew.BroadcastRowGate): DataFrame = {
    val rows = numHashes / bands
    // empty docs never reach banding or verification
    def nonEmpty(raw: DataFrame) = raw.where(size(col("sh")) > 0)
    val schema = bandedLshPairs(
      nonEmpty(minhashSignaturesRaw(docs, numHashes, k)), bands, rows, num,
      den).schema
    Fetch.deferred(docs.sparkSession, schema) {
      // cache the UNFILTERED signature pass, filter above the cache
      // barrier (see minhashSignaturesRaw)
      val raw = minhashSignaturesRaw(docs, numHashes, k)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sigs = nonEmpty(raw)
      val local =
        try localLshPairs(sigs, bands, rows, num, den, schema, gate)
        catch { case e: Throwable => raw.unpersist(); throw e }
      local match {
        case Some(pairs) => raw.unpersist(); pairs
        case None =>
          ScratchCaches.track(raw)
          bandedLshPairs(sigs, bands, rows, num, den)
      }
    }
  }

  /** The key of LSH band `b` (an int column): xxhash64 over the band's
    * `rows` signature entries.
    */
  private def bandKey(b: Column, rows: Int): Column =
    xxhash64((0 until rows).map(r =>
      element_at(col("sig"), b * rows + r + 1)): _*)

  /** The pairs of [[minhashLshPairs]] found on the driver, as a
    * [[Fetch.frame]] of `schema`, or None (the caller runs the banding
    * join, with its own answer or error). Rows with a null id are
    * skipped: the join's `<` never pairs them. The driver path does not
    * take ids that are not integral, a repeated id (the join pairs such
    * rows as a cross product), more than `gate` signatures, candidates or
    * candidate docs, or an Int overflow in the verification test (the
    * join raises its own ANSI error).
    */
  private def localLshPairs(sigs: DataFrame, bands: Int, rows: Int,
      num: Int, den: Int, schema: StructType,
      gate: Long): Option[DataFrame] = {
    if (!IntegralIds(sigs.schema("doc_id").dataType)) return None
    val keyed = Fetch.atMost(sigs.select(col("doc_id"),
        transform(sequence(lit(0), lit(bands - 1)), b => bandKey(b, rows))),
      gate).getOrElse(return None)
      .filterNot(r => r.isNullAt(0) || r.isNullAt(1))
    val n = keyed.length
    val ids = keyed.map(_.getAs[Number](0).longValue)
    if (ids.distinct.length < n) return None
    val keys = keyed.map(_.getSeq[Long](1).toArray)
    // candidates as (x << 32 | y) over row numbers, ids(x) < ids(y)
    val cands = scala.collection.mutable.HashSet.empty[Long]
    var b = 0
    while (b < bands && cands.size <= gate) {
      val byKey = Array.range(0, n).sortBy(i => keys(i)(b))
      var lo = 0
      while (lo < n && cands.size <= gate) {
        var hi = lo + 1
        while (hi < n && keys(byKey(hi))(b) == keys(byKey(lo))(b)) hi += 1
        var a = lo
        while (a < hi && cands.size <= gate) {
          for (c <- a + 1 until hi) {
            val (x, y) = (byKey(a), byKey(c))
            cands += (if (ids(x) < ids(y)) x.toLong << 32 | y
              else y.toLong << 32 | x)
          }
          a += 1
        }
        lo = hi
      }
      b += 1
    }
    if (cands.size > gate) return None
    val spark = sigs.sparkSession
    if (cands.isEmpty) return Some(Fetch.frame(spark, Nil, schema))
    val members = cands.iterator.flatMap(p => Iterator((p >>> 32).toInt,
      p.toInt)).toSet
    if (members.size > gate) return None
    val inSet = graftbridge.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.InSet(
        graftbridge.ColumnBridge.expression(col("doc_id")),
        members.map(keyed(_).get(0))))
    val sh = Fetch.atMost(sigs.where(inSet).select(col("doc_id"), col("sh")),
      gate).getOrElse(return None)
      .map(r => r.getAs[Number](0).longValue -> r.getSeq[Any](1)).toMap
    val out = cands.iterator.map { p =>
      val (x, y) = ((p >>> 32).toInt, p.toInt)
      val (sa, sb) = (sh(ids(x)), sh(ids(y)))
      val inter = sa.toSet.intersect(sb.toSet).size
      (x, y, inter, sa.length, sb.length)
    }.toVector
    try {
      val kept = out.filter { case (_, _, inter, na, nb) =>
        Math.multiplyExact(inter, den) >= Math.multiplyExact(
          Math.subtractExact(Math.addExact(na, nb), inter), num)
      }
      Some(Fetch.frame(spark, kept.map { case (x, y, inter, na, nb) =>
        Row(keyed(x).get(0), keyed(y).get(0), inter, na, nb)
      }, schema))
    } catch { case _: ArithmeticException => None }
  }

  /** The distributed banding self-join of [[minhashLshPairs]] over the
    * non-empty signatures `sigs`.
    */
  private def bandedLshPairs(sigs: DataFrame, bands: Int, rows: Int,
      num: Int, den: Int): DataFrame = {
    val banded = sigs.select(col("doc_id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"), bandKey(b, rows).as("bsig"))))
        .as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bsig"))
    val cands = banded.as("a").join(banded.as("b"),
      col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .dropDuplicates("da", "db")
    cands
      .join(sigs.select(col("doc_id").as("da"), col("sh").as("sa")), "da")
      .join(sigs.select(col("doc_id").as("db"), col("sh").as("sb")), "db")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("na", size(col("sa")))
      .withColumn("nb", size(col("sb")))
      .where(col("inter") * den >= (col("na") + col("nb") - col("inter")) * num)
      .select(col("da"), col("db"), col("inter"), col("na"), col("nb"))
  }

  /** 64-bit SimHash per doc from token-frequency-weighted bit votes:
    * one per-row projection through the native [[graft.expr.SimHash]]
    * loop — no explode, no aggregate, no exchange beyond the scan
    * fan-out. Rows with NULL text are dropped.
    *
    * `doc_id` must be unique per input row: each row yields its own
    * (doc_id, simhash), and rows sharing an id are not merged into one
    * vote.
    */
  def simhash(docs: DataFrame): DataFrame =
    fanOut(docs).where(col("text").isNotNull)
      .select(col("doc_id"),
        graft.expr.SimHash.simhashCol(TextOps.tokens(col("text")))
          .as("simhash"))

  /** Bit layout of the 64-bit simhash split into `m` near-equal blocks:
    * (shift, width) per block, widest blocks first.
    */
  private[graft] def simhashBlocks(m: Int): Seq[(Int, Int)] = {
    val base = 64 / m
    val extra = 64 % m
    var shift = 0
    (0 until m).map { i =>
      val w = base + (if (i < extra) 1 else 0)
      val b = (shift, w); shift += w; b
    }
  }

  /** Candidate tables for `simhashPairs`: each table keys on the
    * concatenation of a COMBINATION of blocks (Manku et al., WWW'07
    * "Detecting near-duplicates for web crawling" — the multi-table
    * block-permutation design, combinations instead of rotations).
    *
    * Pigeonhole exactness: a pair within hamming distance d dirties at
    * most d of the m blocks, so >= m - d blocks are clean, so some
    * r-combination (r <= m - d) is entirely clean and the pair collides
    * in that table. Table choice per maxDist d:
    *   - d <= 3: m = 4 blocks of 16 bits, r = 1 -> 4 tables, 65,536
    *     key values each (vs the former 8x8-bit chunks' 256);
    *   - d > 3:  m = d + 2, r = 2 -> C(m,2) tables keyed on two blocks
    *     (~14-21 bits). For d = 7: 36 tables, ~15-bit keys — 2^15 >> 2^8
    *     keeps within-bucket self-join population sub-linear in corpus
    *     size where the old 2,048-value key space saturated.
    */
  private[graft] def simhashTables(maxDist: Int): Seq[Seq[(Int, Int)]] = {
    val (m, r) = if (maxDist <= 3) (4, 1) else (maxDist + 2, 2)
    require(r <= m - maxDist, s"table spec broken for d=$maxDist")
    val blocks = simhashBlocks(m)
    (0 until m).combinations(r).map(_.map(blocks)).toSeq
  }

  /** SimHash near-dup pairs with hamming distance <= maxDist.
    * Candidate generation is multi-table block-combination banding
    * (see [[simhashTables]]) — exact (recall 1.0 over the simhash
    * space) by pigeonhole, with key spaces of 2^14..2^16 values per
    * table so bucket population stays bounded as the corpus grows.
    *
    * The signatures (`doc_id`, `simhash`: 16 bytes per doc) are
    * persisted and read in one job. Within [[Skew.BroadcastRowGate]]
    * signatures with integral ids, and as long as the pairs found stay
    * within it, the same tables bucket them on the driver and the pairs
    * come back as a [[Fetch.frame]] of the distributed path's schema;
    * nothing stays cached. Past the gate the banding self-join runs as a
    * distributed plan over the cached signatures, which stay registered
    * with [[ScratchCaches]] next to the keyed table; such input pays one
    * probe job, which also fills that cache. Verification computes the
    * true hamming distance per candidate and filters BEFORE the
    * pair-dedup exchange. The returned frame is a [[Fetch.deferred]] one:
    * all of this runs in the action that first needs its rows.
    */
  def simhashPairs(docs: DataFrame, maxDist: Int = 7): DataFrame = {
    val sigs = simhash(docs)
    Fetch.deferred(docs.sparkSession, pairsSchema(sigs))(
      signaturePairs(sigs, maxDist, Skew.BroadcastRowGate))
  }

  /** [[simhashPairs]] with its gate: `gate` = 0 forces the distributed
    * banding join.
    */
  private[graft] def simhashPairsGated(docs: DataFrame, maxDist: Int = 7,
      gate: Long = Skew.BroadcastRowGate): DataFrame =
    signaturePairs(simhash(docs), maxDist, gate)

  /** The pairs of [[simhashPairs]] over (`doc_id`, `simhash`) rows. */
  private[graft] def signaturePairs(sigs: DataFrame, maxDist: Int,
      gate: Long): DataFrame = {
    val sh = sigs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    localSimhashPairs(sh, maxDist, gate) match {
      case Some(pairs) => sh.unpersist(); pairs
      case None =>
        // registered after `keyed`, whose cached plan reads it, so a
        // release drops `keyed` first and never re-caches it
        val pairs = bandedPairs(sh, maxDist)
        ScratchCaches.track(sh)
        pairs
    }
  }

  /** The pairs of [[simhashPairs]] found on the driver, when `sh` holds
    * at most `gate` rows with integral ids and at most `gate` pairs come
    * out; None (the caller runs the banding join) otherwise. Rows with a
    * null id or signature are skipped: the join's `<` and key equality
    * never pair them. Per table, each row's key (packed as the join
    * packs it, at most 22 bits) goes above its row number in one long,
    * so after a primitive sort each bucket is a run.
    */
  private def localSimhashPairs(sh: DataFrame, maxDist: Int,
      gate: Long): Option[DataFrame] = {
    val t = sh.schema("doc_id").dataType
    if (!IntegralIds(t)) return None
    Fetch.atMost(sh, gate).flatMap { rows =>
      val sigs = rows.filterNot(r => r.isNullAt(0) || r.isNullAt(1))
      val n = sigs.length
      val ids = sigs.map(_.getAs[Number](0).longValue)
      val hs = sigs.map(_.getLong(1))
      val seen = scala.collection.mutable.HashSet.empty[(Long, Long)]
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      def pair(x: Int, y: Int): Unit = if (ids(x) < ids(y)) {
        val dist = java.lang.Long.bitCount(hs(x) ^ hs(y))
        if (dist <= maxDist && seen.add((ids(x), ids(y))))
          out += Row(sigs(x).get(0), sigs(y).get(0), dist)
      }
      val runs = new Array[Long](n)
      val tables = simhashTables(maxDist).iterator
      while (tables.hasNext && out.size <= gate) {
        val blocks = tables.next()
        for (i <- 0 until n)
          runs(i) = blocks.foldLeft(0L) { case (k, (s, w)) =>
            (k << w) | ((hs(i) >>> s) & ((1L << w) - 1))
          } << 32 | i
        java.util.Arrays.sort(runs)
        var lo = 0
        while (lo < n && out.size <= gate) {
          var hi = lo + 1
          while (hi < n && runs(hi) >>> 32 == runs(lo) >>> 32) hi += 1
          var a = lo
          while (a < hi && out.size <= gate) {
            for (b <- a + 1 until hi) {
              pair(runs(a).toInt, runs(b).toInt)
              pair(runs(b).toInt, runs(a).toInt)
            }
            a += 1
          }
          lo = hi
        }
      }
      if (out.size > gate) None
      else Some(Fetch.frame(sh.sparkSession, out.toSeq, pairsSchema(sh)))
    }
  }

  /** The schema of [[simhashPairs]] over (`doc_id`, `simhash`) rows:
    * the banding join's, with no analysis of it.
    */
  private def pairsSchema(sigs: DataFrame): StructType = {
    val id = sigs.schema("doc_id")
    StructType(Seq(id.copy(name = "da"), id.copy(name = "db"),
      StructField("dist", IntegerType, sigs.schema("simhash").nullable)))
  }

  /** The distributed banding self-join of [[simhashPairs]] over the
    * signatures `sh`.
    */
  private def bandedPairs(sh: DataFrame, maxDist: Int): DataFrame = {
    // per-doc array of (table_id, key) built in one codegen'd
    // projection; explode replaces the former crossJoin
    val entries = simhashTables(maxDist).zipWithIndex.map {
      case (blocks, tid) =>
        val key = blocks.foldLeft(lit(0L)) { case (acc, (s, w)) =>
          shiftleft(acc, w) +
            shiftright(col("simhash"), s).bitwiseAND(lit((1L << w) - 1))
        }
        struct(lit(tid).as("t"), key.as("k"))
    }
    // persisted: BOTH self-join sides read the keyed table — without
    // the barrier each side re-runs the Generate, whose 36-entry array
    // expression re-evaluates per OUTPUT row (the gramArr lesson), and
    // the join side feeding a broadcast build runs it single-threaded
    val keyed = sh.select(col("doc_id"), col("simhash"),
      explode(array(entries: _*)).as("e"))
      .select(col("doc_id"), col("simhash"),
        col("e.t").as("t"), col("e.k").as("k"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(ScratchCaches.track)
    keyed.as("a").join(keyed.as("b"),
      col("a.t") === col("b.t") && col("a.k") === col("b.k") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("dist"))
      // distance is pair-deterministic, so filtering BEFORE the dedup
      // exchange is equivalent — the shuffle then carries only the pairs
      // within maxDist instead of every banding candidate
      .where(col("dist") <= maxDist)
      .dropDuplicates("da", "db")
  }

  // -------------------------------------------------------------------
  // Exact duplicated-substring (span) dedup — the ExactSubstr family of
  // Lee et al. ACL'22, "Deduplicating Training Data Makes Language
  // Models Better" — re-expressed as a distributed k-gram dataflow
  // instead of the paper's single-node suffix array.
  // -------------------------------------------------------------------

  /** Per-start-position k-gram key rows (doc_id, n_tok, pos, g): `pos`
    * is 0-based, the window covers tokens [pos, pos+k-1], and `g` is a
    * 128-BIT key — a struct of two INDEPENDENT 64-bit channels, each an
    * xxhash64 over its own per-token hash stream (the second stream is
    * salted at the token level, so a token-level collision must also
    * hold on both channels to propagate). Every downstream exchange
    * carries a 16-byte key instead of gram text.
    *
    * Why 128 bits: span REMOVAL deletes text on key equality alone, so
    * a key collision deletes unrelated text. At 64 bits a trillion-gram
    * corpus makes birthday collisions certain (n²/2⁶⁵ ≈ 2.7·10⁷
    * expected colliding pairs at n=10¹²); at 128 bits the expectation
    * is n²/2¹²⁹ ≈ 1.5·10⁻¹⁵ — negligible against hardware error rates.
    * This keeps the linear no-pairwise-join dataflow intact (the
    * alternative — verifying gram text per candidate — would shuffle
    * ~k tokens of text per gram instead of 16 bytes).
    *
    * The gram array is PERSISTED before the explode — Generate
    * re-evaluates a non-trivial generator expression once per OUTPUT
    * row, so exploding the HOF-built array inline costs O(grams) per
    * gram (measured 26 s vs 0.9 s at sf0.1; the Generate-side sibling
    * of the ts8/dd8 window-lambda lesson, see [[TextOps.winnowHashes]]).
    * A projection split is NOT enough here — only a materialization
    * barrier stops the collapse. The persist also feeds both consumers
    * in [[duplicateSpans]]/[[removeDuplicateSpans]] (df aggregate +
    * join back) without recompute, the dd2/dd3 persist discipline.
    */
  /** Token-level salt for the second gram-key hash channel — any fixed
    * odd constant distinct from xxhash64's default seed path works; the
    * point is that channel 2 is NOT a function of channel 1's output.
    */
  private val GramSalt = 0x9E3779B97F4A7C15L

  private[graft] val gramKeyType: StructType = StructType(Seq(
    StructField("h1", LongType), StructField("h2", LongType)))

  /** Persisted per-doc gram arrays (doc_id, n_tok, gs) — the
    * pre-explode form. Exposed so consumers needing per-doc metadata
    * (short/empty-doc detection in [[containmentPairs]]) read the
    * persisted table instead of re-tokenizing the corpus.
    */
  /** Per-doc token-hash channels (doc_id, th1, th2) — ONE tokenization
    * from which gram tables of ANY width derive ([[gramsOfWidth]]), so
    * multi-width consumers ([[containmentPairs]]'s short-length passes)
    * never re-tokenize the corpus.
    */
  private def tokenHashArr(docs: DataFrame): DataFrame =
    fanOut(docs).select(col("doc_id"), TextOps.tokens(col("text")).as("__t"))
      .select(col("doc_id"),
        transform(col("__t"), t => xxhash64(t)).as("th1"),
        transform(col("__t"), t => xxhash64(lit(GramSalt), t)).as("th2"))

  /** Width-`k` gram structs (doc_id, n_tok, gs) from token hashes. */
  private def gramsOfWidth(th: DataFrame, k: Int): DataFrame =
    th.select(col("doc_id"), size(col("th1")).as("n_tok"),
      when(size(col("th1")) < k, array().cast(ArrayType(gramKeyType)))
        .otherwise(transform(sequence(lit(0), size(col("th1")) - k),
          i => struct(
            xxhash64((0 until k).map(j =>
              element_at(col("th1"), i + j + 1)): _*).as("h1"),
            xxhash64((0 until k).map(j =>
              element_at(col("th2"), i + j + 1)): _*).as("h2"))))
        .as("gs"))

  private[graft] def gramArr(docs: DataFrame, k: Int): DataFrame =
    gramsOfWidth(tokenHashArr(docs), k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).transform(ScratchCaches.track)

  private[graft] def gramKeyRows(docs: DataFrame, k: Int): DataFrame =
    gramKeyRows(gramArr(docs, k))

  private def gramKeyRows(arr: DataFrame): DataFrame =
    arr.select(col("doc_id"), col("n_tok"),
      posexplode(col("gs")).as(Seq("pos", "g")))

  /** Island-merge marked k-gram windows into maximal spans per document:
    * windows at `prev` and `pos` produce contiguous token coverage when
    * pos <= prev + k, so that is the merge rule (gaps-and-islands, one
    * doc_id window shuffle over the MARKED positions only). Output is
    * 0-based inclusive token indices.
    */
  private def spansFromHits(hits: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val prev = lag(col("pos"), 1).over(w)
    hits
      .withColumn("__brk",
        when(prev.isNull || col("pos") > prev + k, 1).otherwise(0))
      .withColumn("__isl", sum(col("__brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("n_tok"), col("__isl"))
      .agg(min("pos").as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"),
        col("n_tok"))
  }

  /** Maximal cross-document duplicated spans: mark every k-token window
    * whose gram occurs in >= 2 distinct documents, then merge
    * overlapping/adjacent marked windows per document. Guarantee: any
    * substring of >= k tokens shared verbatim by two documents has all
    * its windows marked, so it lands fully inside one reported span
    * (the k-gram approximation of the paper's suffix-array pass).
    *
    * Scale shape: there is NO pairwise join anywhere — the gram-df
    * aggregate and the hits join shuffle 8-byte gram keys (volume
    * linear in corpus token count), and the island merge shuffles only
    * marked positions on doc_id. Unlike the inverted-index self-join of
    * [[ngramJaccardPairs]], a corpus-hot duplicated gram costs linear,
    * not quadratic, work — no df-cap needed.
    */
  def duplicateSpans(docs: DataFrame, k: Int = 8): DataFrame = {
    val grams = gramKeyRows(docs, k)
    val dup = grams.groupBy("g")
      .agg(countDistinct(col("doc_id")).as("__ddf"))
      .where(col("__ddf") >= 2).select("g")
    spansFromHits(
      grams.join(dup, "g").select(col("doc_id"), col("n_tok"), col("pos")),
      k)
  }

  /** Per-document duplicated-span statistics (doc_id, n_spans,
    * dup_tokens, n_tok) for documents carrying at least one span.
    */
  def spanStats(docs: DataFrame, k: Int = 8): DataFrame =
    duplicateSpans(docs, k)
      .groupBy(col("doc_id"), col("n_tok"))
      .agg(count(lit(1)).as("n_spans"), sum(col("span_len")).as("dup_tokens"))
      .select(col("doc_id"), col("n_spans"), col("dup_tokens"), col("n_tok"))

  /** Containment dedup (full-document substring containment — the
    * news-wire / syndication case): pairs (inner_id, outer_id) where
    * inner's whole token sequence appears verbatim, token-aligned,
    * inside outer. Verification is ONE boundary-padded substring test
    * per candidate pair; equal texts contain each other, so exact dups
    * emit both directions.
    *
    * Candidate rule — RAREST-OF-FIRST-W gram, not head gram: every
    * gram of a contained doc must occur among its container's grams,
    * so any one of them is a valid (exact, no recall loss) probe key.
    * Probing with the rarest gram of the doc's first `HeadWindow`
    * positions (minimal occurrence count within head windows, earliest
    * position as tiebreak) avoids the head-gram cliff — a corpus-hot
    * opening-boilerplate gram would otherwise carry df-sized candidate
    * lists through the join (the skew lesson of [[ngramJaccardPairs]]'s
    * df-cap, without the cap's lossiness). Restricting BOTH the df
    * statistic and the selection to the head window keeps the two
    * probe-side exchanges at w/⟨doc len⟩ of the gram relation instead
    * of all of it — the full relation is shuffled only once, by the
    * candidate join that any probe scheme needs.
    *
    * Short docs (< k tokens) emit no k-grams, so each short LENGTH that
    * actually occurs gets its own pass: the whole token sequence is the
    * inner key, matched against outer windows of that length. The
    * length set is a metadata-scale driver collect (at most k-1
    * values); a corpus with a min-length filter pays nothing. Empty
    * inners (0 tokens) pad to two spaces and are containable only by
    * outers that are empty or carry adjacent/edge whitespace — a
    * filtered (output-sized) cross join covers them.
    *
    * Scale shape: candidate generation is gram-relation aggregates and
    * joins on 16-byte keys (volume linear in corpus tokens); full texts
    * move only for candidate pairs.
    */
  /** Probe-selection window for [[containmentPairs]]: the probe gram is
    * chosen among each doc's first `HeadWindow` gram positions.
    */
  val HeadWindow = 16

  def containmentPairs(docs: DataFrame, k: Int = 8): DataFrame = {
    // ONE tokenization, persisted: the k-gram table AND every
    // short-length pass derive from it (re-tokenizing per occurring
    // short length was a third of the op at 100×, and each pass leaked
    // its own persisted gram table)
    val th = tokenHashArr(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(ScratchCaches.track)
    val arr = gramsOfWidth(th, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(ScratchCaches.track)
    val grams = gramKeyRows(arr)
    val win = grams.where(col("pos") < HeadWindow)
    val dfTab = win.groupBy("g").agg(count(lit(1)).as("__gdf"))
    val probes = win.join(dfTab, "g")
      .groupBy("doc_id", "n_tok")
      .agg(min_by(col("g"), struct(col("__gdf"), col("pos"))).as("g"))
      .select(col("g"), col("doc_id").as("inner_id"),
        col("n_tok").as("__ni"))
    val longCands = probes
      .join(grams.select(col("g"), col("doc_id").as("outer_id"),
        col("n_tok").as("__no")), "g")
      .where(col("inner_id") =!= col("outer_id") &&
        col("__ni") <= col("__no"))
      .select("inner_id", "outer_id")
    // short/empty-doc detection reads the PERSISTED gram table's n_tok
    // (metadata-scale actions), not a fresh corpus tokenization — at
    // 100× the two avoided re-tokenize scans were ~a third of the op
    val shortLens = arr.where(col("n_tok") > 0 && col("n_tok") < k)
      .select("n_tok").distinct().collect().map(_.getInt(0)).sorted
    val shortCands = shortLens.toSeq.map { n =>
      val gn = gramKeyRows(gramsOfWidth(th, n))
      gn.where(col("n_tok") === n && col("pos") === 0)
        .select(col("g"), col("doc_id").as("inner_id"))
        .join(gn.select(col("g"), col("doc_id").as("outer_id")), "g")
        .where(col("inner_id") =!= col("outer_id"))
        .select("inner_id", "outer_id")
    }
    val hasEmpty = !arr.where(col("n_tok") === 0).isEmpty
    val emptyCands =
      if (!hasEmpty)
        Seq.empty[DataFrame]
      else Seq(arr.where(col("n_tok") === 0)
        .select(col("doc_id").as("inner_id"))
        .crossJoin(docs
          .where(contains(concat(lit(" "), col("text"), lit(" ")),
            lit("  ")))
          .select(col("doc_id").as("outer_id")))
        .where(col("inner_id") =!= col("outer_id")))
    val cands = ((longCands +: shortCands) ++ emptyCands)
      .reduce(_ unionByName _).distinct()
    val t = docs.select(col("doc_id"), col("text"))
    cands
      .join(t.select(col("doc_id").as("inner_id"), col("text").as("__ti")),
        "inner_id")
      .join(t.select(col("doc_id").as("outer_id"), col("text").as("__to")),
        "outer_id")
      .where(contains(concat(lit(" "), col("__to"), lit(" ")),
        concat(lit(" "), col("__ti"), lit(" "))))
      .select(col("inner_id"), col("outer_id"))
  }

  /** Remove duplicated spans keeping the earliest copy: for every
    * duplicated gram, the minimum doc_id containing it keeps its text;
    * every other document drops the tokens covered by that gram's
    * windows (island-merged first, so removals are maximal contiguous
    * spans). Returns every input document with `text` rebuilt and a
    * `kept_tokens` count appended; other columns pass through
    * (char-length metadata is the caller's to refresh).
    *
    * Deterministic by construction (min-doc_id ownership) and linear at
    * scale: the ownership aggregate and hits join shuffle 8-byte gram
    * keys, the span list per doc is spans-sized (broadcastable), and
    * the rebuild is a map-side (token, index) lambda.
    */
  def removeDuplicateSpans(docs: DataFrame, k: Int = 8): DataFrame = {
    val grams = gramKeyRows(docs, k)
    val own = grams.groupBy("g")
      .agg(countDistinct(col("doc_id")).as("__ddf"),
        min(col("doc_id")).as("__keep"))
      .where(col("__ddf") >= 2).select("g", "__keep")
    val hits = grams.join(own, "g")
      .where(col("doc_id") =!= col("__keep"))
      .select(col("doc_id"), col("n_tok"), col("pos"))
    val spans = spansFromHits(hits, k)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(
        struct(col("span_start").as("s"), col("span_end").as("e"))))
        .as("__spans"))
    val emptySpans = array().cast(ArrayType(StructType(Seq(
      StructField("s", IntegerType), StructField("e", IntegerType)))))
    val rebuilt = docs.join(spans, Seq("doc_id"), "left")
      .withColumn("__sp", coalesce(col("__spans"), emptySpans))
      .withColumn("__ws", TextOps.tokens(col("text")))
      .withColumn("__kept", filter(col("__ws"), (_, i) =>
        !exists(col("__sp"), sp => i >= sp("s") && i <= sp("e"))))
    val outCols = docs.columns.map {
      case "text" => concat_ws(" ", col("__kept")).as("text")
      case c      => col(c)
    } :+ size(col("__kept")).as("kept_tokens")
    rebuilt.select(outCols.toIndexedSeq: _*)
  }
}
