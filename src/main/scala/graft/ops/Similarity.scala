package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.io.Fetch

/** Similarity search over embedding columns (Array[Float]).
  *
  * Dot products are SEQUENTIAL double folds over the array order
  * (functions.aggregate): per-row work, no cross-row float accumulation,
  * so the result is bit-for-bit reproducible regardless of partitioning —
  * and identical to any engine folding the same IEEE ops in the same
  * order (the DuckDB oracle mirrors it with list_reduce).
  * Brute-force top-k is the correctness baseline; the random-hyperplane
  * LSH variant is the 100 TB path (bucket join instead of cross join).
  */
object Similarity {

  /** Deterministic (ordered-fold) double dot product of two float
    * arrays. Native codegen'd expression — the HOF formulation
    * (aggregate over zip_with) is CodegenFallback and ran interpreted
    * at 12–28 µs per 64-dim product; [[graft.expr.DotSeq]] does the
    * bit-identical arithmetic in a primitive loop (GoldenSpec locks
    * byte-exact outputs across the swap).
    */
  def dotSeq(a: Column, b: Column): Column =
    graft.expr.DotSeq.dotCol(a, b)

  /** Cosine similarity as a deterministic double. */
  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dotSeq(a, b) / (sqrt(normA) * sqrt(normB))

  /** Vectors with their squared norm (deterministic double). */
  def withNorm(emb: DataFrame): DataFrame =
    emb.withColumn("norm2", dotSeq(col("embedding"), col("embedding")))

  /** All pairs in a probe block with cosine >= threshold (near-dup scan).
    * `probe` bounds the left side so the quadratic stays a block, not a
    * full cross product.
    */
  def cosinePairs(emb: DataFrame, threshold: Double,
      probe: Column): DataFrame = {
    val v = withNorm(emb)
    val a = v.where(probe)
      .select(col("vec_id").as("va"), col("embedding").as("ea"),
        col("norm2").as("na"))
    val b = v.select(col("vec_id").as("vb"), col("embedding").as("eb"),
      col("norm2").as("nb"))
    a.join(b, col("va") < col("vb"))
      .withColumn("cos", cosine(col("ea"), col("eb"), col("na"), col("nb")))
      .where(col("cos") >= threshold)
      .select(col("va"), col("vb"), col("cos"))
  }

  /** Brute-force cosine top-k for each query vector (exact ANN baseline).
    * Ties broken by candidate id: fully deterministic.
    */
  def bruteTopK(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val v = withNorm(emb)
    val q = v.where(queryPred)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("norm2").as("qn"))
    val c = v.select(col("vec_id").as("cid"), col("embedding").as("ce"),
      col("norm2").as("cn"))
    val scored = q.join(c, col("qid") =!= col("cid"))
      .withColumn("cos", cosine(col("qe"), col("ce"), col("qn"), col("cn")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("cid").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("cid"), col("rank"), col("cos"))
  }

  /** Deterministic pseudo-random hyperplane sign for (plane j, dim i):
    * xxhash64 parity stands in for a N(0,1) draw's sign — public-knowledge
    * SRP-LSH (Charikar 2002) with a hash-derived plane.
    */
  private def planeSign(j: Int, i: Column): Column =
    when(pmod(xxhash64(lit(j), i), lit(2)) === 0, 1.0).otherwise(-1.0)

  /** Random-hyperplane LSH bucket key: `planes`-bit signature of sign
    * patterns. Same bucket => candidate. The scale path: shuffle on the
    * short bucket key, quadratic work only within buckets.
    */
  def srpBucket(e: Column, planes: Int): Column =
    (0 until planes).map { j =>
      val proj = aggregate(
        zip_with(e, sequence(lit(0), size(e) - 1),
          (x, i) => x.cast(DoubleType) * planeSign(j, i)),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, expr(s"shiftleft(cast(1 as bigint), $j)")).otherwise(0L)
    }.reduce(_ + _)

  /** A centroid held on the driver: centroids are nlist-sized by
    * definition (they get broadcast/compiled into expressions), never
    * data-path.
    */
  final case class Centroid(id: Long, vec: Seq[Float], norm2: Double)

  /** struct() whose field names survive inside higher-order-function
    * lambdas (plain `.as` aliases are stripped there — they come back
    * as col1/col2).
    */
  private def nstruct(fields: (String, Column)*): Column =
    call_function("named_struct",
      fields.flatMap { case (n, c) => Seq(lit(n), c) }: _*)

  /** Per-row centroid scores as an array column: the centroid table is
    * compiled INTO the expression, so scoring is pure map-side — no
    * join, no window, nothing shuffles the corpus. Each element is
    * struct(s = cosine, id = list id).
    */
  private def centScores(cents: Seq[Centroid], e: Column,
      norm2: Column): Column = {
    val arr = array(cents.map { c =>
      struct(typedlit(c.vec).as("vec"), lit(c.id).as("id"),
        lit(c.norm2).as("n2"))
    }: _*)
    transform(arr, c => nstruct(
      "s" -> cosine(e, c("vec"), norm2, c("n2")), "id" -> c("id")))
  }

  /** Top-`k` list ids per row (highest cosine first, ties to lowest
    * id), CHUNKED so centroid counts past a few hundred don't build one
    * giant compiled expression: each 256-centroid chunk scores and
    * keeps its own top-k in its own subtree, then the per-chunk winners
    * merge with one small sort — still pure map-side, nothing shuffles
    * the corpus, and per-chunk top-k == global top-k because k is at
    * most the chunk size. Raises the practical nlist ceiling ~16×
    * (the 100× scale leg caught the old 1024 cap letting cluster sizes
    * — and therefore quadratic within-cluster pair work — grow past
    * the linear-work target).
    */
  private[graft] def topStructs(cents: Seq[Centroid], e: Column, norm2: Column,
      k: Int): Column = {
    require(k <= 256, s"topStructs: k=$k exceeds the chunk size")
    val chunks = cents.grouped(256).toSeq.map { c =>
      slice(sort_array(transform(centScores(c, e, norm2),
        s => nstruct("s" -> s("s"), "nid" -> -s("id"))), asc = false),
        1, k)
    }
    if (chunks.length == 1) chunks.head
    else slice(sort_array(concat(chunks: _*), asc = false), 1, k)
  }

  private[graft] def topLists(cents: Seq[Centroid], e: Column, norm2: Column,
      k: Int): Column =
    transform(topStructs(cents, e, norm2, k), s => -s("nid"))

  /** Argmax list id (highest cosine, ties to lowest id) as a codegen'd
    * sequential fold — the per-row work replacing the old
    * crossJoin+Window argmax.
    */
  private def nearestList(cents: Seq[Centroid], e: Column,
      norm2: Column): Column =
    aggregate(centScores(cents, e, norm2),
      struct(lit(Double.NegativeInfinity).as("s"),
        lit(Long.MaxValue).as("id")),
      (acc, x) => when(x("s") > acc("s") ||
        (x("s") === acc("s") && x("id") < acc("id")), x).otherwise(acc))
      .getField("id")

  /** Driver-side sequential double fold — bit-identical to dotSeq's
    * aggregate over the same element order.
    */
  private def norm2Local(v: Seq[Float]): Double =
    v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)

  /** IVF centroids: seeded deterministically from the corpus (lowest
    * vec_ids), then refined with `refineIters` Lloyd iterations of
    * spherical k-means over a bounded deterministic training sample.
    *
    * The training set is collected and iterated DRIVER-side — the same
    * shape as FAISS's coarse-quantizer train(): at any corpus scale you
    * train the quantizer on a bounded sample (maxTrain rows, default
    * 16384 ≈ 1k/list at nlist=16), while corpus ASSIGNMENT stays
    * distributed and map-side (nearestList). Boundedness is by
    * construction: deterministicSample picks the hash-order sample and
    * ordering by the same md5 bucket makes "first maxTrain of it"
    * reproducible bit-for-bit across runs and partitionings. Local
    * Lloyd (fixed iteration order, plain double sums) is likewise
    * deterministic. Lists capturing no train vectors keep their
    * previous centroid.
    */
  def ivfCentroidsLocal(emb: DataFrame, nlist: Int, refineIters: Int = 3,
      sampleRate: Double = 0.25, maxTrain: Int = 16384): Seq[Centroid] = {
    val seed = withNorm(emb).orderBy(col("vec_id")).limit(nlist)
      .select(col("vec_id"), col("embedding"), col("norm2")).collect()
      .map(r => Centroid(r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
      .toSeq
    if (refineIters <= 0) return seed
    val train = withNorm(
      Sampling.deterministicSample(emb, col("vec_id"), sampleRate))
      .orderBy(Sampling.bucket(col("vec_id")), col("vec_id"))
      .limit(maxTrain)
      .select(col("embedding"), col("norm2")).collect()
      .map(r => (r.getSeq[Float](0).map(_.toDouble).toArray, r.getDouble(1)))
    if (train.isEmpty) return seed
    val dim = train.head._1.length
    var cents = seed.map(c =>
      (c.id, c.vec.map(_.toDouble).toArray, c.norm2))
    for (_ <- 1 to refineIters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Long](cents.length)
      for ((v, n2) <- train) {
        // argmax cosine, ties to lowest list id (cents are id-ascending)
        var best = -1; var bestS = Double.NegativeInfinity
        var j = 0
        while (j < cents.length) {
          val (_, cv, cn2) = cents(j)
          var dot = 0.0; var i = 0
          while (i < dim) { dot += v(i) * cv(i); i += 1 }
          val s = dot / (math.sqrt(n2) * math.sqrt(cn2))
          if (s > bestS) { bestS = s; best = j }
          j += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.zipWithIndex.map { case ((id, cv, cn2), j) =>
        if (counts(j) == 0) (id, cv, cn2) // empty: keep previous
        else {
          val m = sums(j).map(_ / counts(j))
          (id, m, m.foldLeft(0.0)((a, x) => a + x * x))
        }
      }
    }
    // back to float vectors, norm recomputed exactly as dotSeq folds it
    cents.map { case (id, cv, _) =>
      val f = cv.map(_.toFloat).toSeq
      Centroid(id, f, norm2Local(f))
    }
  }

  /** DataFrame view of the centroid table (list_id, cent, cnorm2). */
  def ivfCentroids(emb: DataFrame, nlist: Int, refineIters: Int = 3,
      sampleRate: Double = 0.25): DataFrame = {
    val rows = ivfCentroidsLocal(emb, nlist, refineIters, sampleRate)
      .map(c => Row(c.id, c.vec, c.norm2))
    Fetch.frame(emb.sparkSession, rows,
      StructType(Seq(
        StructField("list_id", LongType, nullable = false),
        StructField("cent", ArrayType(FloatType), nullable = false),
        StructField("cnorm2", DoubleType, nullable = false))))
  }

  /** IVF coarse quantizer: every vector assigned to its nearest list.
    * Pure map-side (nearestList fold) — the corpus is never shuffled
    * or joined for assignment.
    */
  def ivfAssignTo(emb: DataFrame, cents: Seq[Centroid]): DataFrame =
    withNorm(emb).withColumn("list_id",
        nearestList(cents, col("embedding"), col("norm2")))
      .select(col("vec_id"), col("embedding"), col("norm2"), col("list_id"))

  def ivfAssign(emb: DataFrame, nlist: Int): DataFrame =
    ivfAssignTo(emb, ivfCentroidsLocal(emb, nlist))

  /** ANN top-k via IVF: queries probe their `nprobe` nearest centroid
    * lists and rerank exactly within them. The 100 TB shape: candidate
    * generation shuffles on the short list_id key; the corpus is scanned
    * once for assignment (persist the assignment table in practice).
    */
  def ivfTopK(emb: DataFrame, queryPred: Column, k: Int,
      nlist: Int = 16, nprobe: Int = 4, refineIters: Int = 3): DataFrame = {
    val cents = ivfCentroidsLocal(emb, nlist, refineIters)
    val assigned = ivfAssignTo(emb, cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).transform(ScratchCaches.track)
    val q = withNorm(emb).where(queryPred)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("norm2").as("qn"))
    // top-nprobe lists per query, map-side: sort scores desc (ties to
    // lowest id via negated-id key), slice, explode — no join, no window
    val scored = transform(centScores(cents, col("qe"), col("qn")),
      s => nstruct("s" -> s("s"), "nid" -> -s("id")))
    val probes = q
      .withColumn("list_id",
        explode(transform(
          slice(sort_array(scored, asc = false), 1, nprobe),
          s => -s("nid"))))
    val cands = probes.join(assigned, Seq("list_id"))
      .where(col("qid") =!= col("vec_id"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    cands
      .withColumn("cos", cosine(col("qe"), col("embedding"), col("qn"),
        col("norm2")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("vec_id").as("cid"), col("rank"), col("cos"))
  }

  /** Semantic dedup pairs (the SemDeDup shape — Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", public): k-means-cluster the embedding space with
    * the trained IVF coarse quantizer, then compare pairs ONLY within a
    * cluster and report those with cosine >= `tau`. Recall < 1 by
    * construction (cross-cluster near-dups are unseen — the paper's own
    * trade); every reported pair's cosine is exact.
    *
    * Within [[Skew.BroadcastRowGate]] vectors (by the count the list
    * sizing takes anyway) the vectors are read in one job and assigned
    * and compared on the driver ([[localSemdedup]]), with the
    * distributed path's arithmetic, so the same pairs and bit-equal
    * cosines come back as a [[graft.io.Fetch.frame]] of its schema.
    * Past the gate, or on input the driver path does not accept, the
    * distributed path runs as it did, with no job added. Its shape is
    * the IVF one: centroids train on a bounded deterministic sample,
    * assignment is a pure map-side fold (no corpus shuffle), and the
    * within-cluster self-join shuffles on the short `list_id` key —
    * quadratic only within a cluster, and nlist is the knob that bounds
    * cluster population (set nlist ~ corpus/10k at real scale; 25k
    * clusters over 8M docs in the paper). The returned frame is a
    * [[graft.io.Fetch.deferred]] one: all of this, the count included,
    * runs in the action that first needs its rows.
    */
  def semdedupPairs(emb: DataFrame, tau: Double, nlist: Int = 16,
      refineIters: Int = 3, assign: Int = 2,
      targetClusterSize: Long = 256): DataFrame =
    Fetch.deferred(emb.sparkSession, semdedupSchema(emb, tau))(
      semdedupPairsGated(emb, tau, nlist, refineIters, assign,
        targetClusterSize))

  /** [[semdedupPairs]] with its gate: `gate` = 0 forces the distributed
    * list self-join.
    */
  private[graft] def semdedupPairsGated(emb: DataFrame, tau: Double,
      nlist: Int = 16, refineIters: Int = 3, assign: Int = 2,
      targetClusterSize: Long = 256,
      gate: Long = Skew.BroadcastRowGate): DataFrame = {
    // Within-cluster pair work is ~(n/nlist)² per cluster — quadratic in
    // CLUSTER SIZE, so a fixed nlist turns linear corpus growth into
    // quadratic cost (measured: 2.8 s → 58 s at 10× input with nlist
    // pinned at 16). The paper's own answer: cluster COUNT scales with
    // the corpus (25k clusters / 8M docs), cluster SIZE stays bounded —
    // so nlist grows to hold targetClusterSize and total pair work is
    // n · targetClusterSize · assign², linear in n (default 256 ≈ the
    // paper's ~320 docs/cluster). The count() here sizes the lists and
    // also picks the path: driver within the gate, distributed past it.
    // Ceiling 4096: centroids compile into the assignment expression
    // in 256-centroid CHUNKS (see topLists), so the per-subtree codegen
    // stays bounded; past this, switch to a broadcast centroid table
    // (or the PQ path) — the ceiling exists so cluster sizes, and with
    // them the quadratic within-cluster pair work, stay near target.
    val n = emb.count()
    val effNlist = math.min(4096L,
      math.max(nlist.toLong, n / targetClusterSize)).toInt
    val cents = ivfCentroidsLocal(emb, effNlist, refineIters)
    val local =
      if (n <= gate)
        localSemdedup(emb, cents, tau, assign, semdedupSchema(emb, tau), gate)
      else None
    if (local.isDefined) return local.get
    // persist BEFORE the explode: Generate re-evaluates a non-trivial
    // generator once per OUTPUT row (the dd15 lesson), so the nlist-way
    // scoring fold must land in the cache as an `assign`-element array
    // and the explode read the stored column; both self-join sides then
    // share the materialized assignment (dd2/dd3 discipline)
    // soft assignment to the `assign` nearest centroids (the multi-probe
    // trick from the IVF query path, applied to BOTH sides): a pair
    // whose members sit just across a cluster boundary still meets in
    // the boundary cluster. Chunked map-side top-k — the corpus still
    // never shuffles for assignment; candidate work scales by assign²,
    // the recall knob next to nlist.
    val assignedArr = withNorm(emb)
      .withColumn("__lists",
        topLists(cents, col("embedding"), col("norm2"), assign))
      .select(col("vec_id"), col("embedding"), col("norm2"), col("__lists"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).transform(ScratchCaches.track)
    listPairs(assignedArr.select(col("vec_id"), col("embedding"),
      col("norm2"), explode(col("__lists")).as("list_id")), tau)
  }

  /** The list self-join of [[semdedupPairs]] over (`vec_id`,
    * `embedding`, `norm2`, `list_id`) rows.
    */
  private def listPairs(assigned: DataFrame, tau: Double): DataFrame = {
    val a = assigned.select(col("list_id"), col("vec_id").as("va"),
      col("embedding").as("ea"), col("norm2").as("na"))
    val b = assigned.select(col("list_id"), col("vec_id").as("vb"),
      col("embedding").as("eb"), col("norm2").as("nb"))
    a.join(b, Seq("list_id")).where(col("va") < col("vb"))
      .withColumn("cos", cosine(col("ea"), col("eb"), col("na"), col("nb")))
      .where(col("cos") >= tau)
      .select(col("va"), col("vb"), col("cos"))
      .dropDuplicates("va", "vb")
  }

  /** The schema of [[listPairs]] over `emb`, by analysis alone: the
    * list ids never reach the output, so one constant list stands in.
    */
  private def semdedupSchema(emb: DataFrame, tau: Double): StructType =
    listPairs(withNorm(emb).select(col("vec_id"), col("embedding"),
      col("norm2"), lit(0).as("list_id")), tau).schema

  /** The pairs of [[semdedupPairs]] computed on the driver, or None (the
    * caller runs the distributed path, with its own answer or error).
    * One job reads (`vec_id`, `embedding`), at most `gate` rows. Each
    * vector goes to its top `assign` lists as [[topLists]] ranks them:
    * [[graft.expr.DotSeq]]'s sequential float→double fold,
    * `dot / (sqrt(n2) * sqrt(cn2))`, score descending, ties to the
    * lowest list id, with scores compared as Spark orders finite
    * doubles (`-0.0 == 0.0`). Pairs are compared only within a
    * list, in the first list they share: `va < vb`, `cos >= tau`, one
    * row per pair.
    *
    * The driver path does not take a null id or embedding, a null or
    * non-finite element, mixed dimensions, a zero vector or centroid
    * (where the distributed path divides by zero), ids that are not
    * integral, or an answer of more than `gate` pairs.
    */
  private def localSemdedup(emb: DataFrame, cents: Seq[Centroid],
      tau: Double, assign: Int, schema: StructType,
      gate: Long): Option[DataFrame] = {
    val idField = emb.schema("vec_id")
    val floats = emb.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (!Dedup.IntegralIds(idField.dataType) || !floats ||
        assign < 0 || assign > 256) return None
    val rows = Fetch.atMost(emb.select(col("vec_id"), col("embedding")),
      gate).getOrElse(return None)
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1) ||
        r.getSeq[Any](1).exists(x => x == null ||
          !java.lang.Float.isFinite(x.asInstanceOf[Float])))) return None
    val n = rows.length
    val ids = rows.map(_.getAs[Number](0).longValue)
    val vecs = rows.map(_.getSeq[Float](1).toArray)
    val cv = cents.map(_.vec.toArray).toArray
    val cn2 = cents.map(_.norm2).toArray
    val dims = (vecs.iterator ++ cv.iterator).map(_.length).toSet
    if (dims.size > 1 || cn2.contains(0.0)) return None
    val n2 = vecs.map(v => dot(v, v))
    if (n2.contains(0.0)) return None
    // each vector's top `assign` (score, list id), best first: a list
    // enters above every entry it beats and pushes the last one out.
    // Finite elements and nonzero norms keep every score finite.
    val k = math.min(assign, cv.length)
    val lists = Array.tabulate(n) { x =>
      val topS = Array.fill(k)(Double.NegativeInfinity)
      val topId = new Array[Long](k)
      for (j <- cv.indices) {
        val (s, id) =
          (dot(vecs(x), cv(j)) / (math.sqrt(n2(x)) * math.sqrt(cn2(j))),
            cents(j).id)
        var at = k
        while (at > 0 &&
            (s > topS(at - 1) || s == topS(at - 1) && id < topId(at - 1)))
          at -= 1
        if (at < k) {
          System.arraycopy(topS, at, topS, at + 1, k - 1 - at)
          System.arraycopy(topId, at, topId, at + 1, k - 1 - at)
          topS(at) = s; topId(at) = id
        }
      }
      topId
    }
    // each list's member rows, lists in id order
    val members = (0 until n).flatMap(x => lists(x).map(_ -> x))
      .groupMap(_._1)(_._2).toSeq.sortBy(_._1)
      .map { case (l, m) => (l, m.toArray) }
    // a pair sharing several lists is compared in the lowest one only
    def sharesEarlier(x: Int, y: Int, list: Long): Boolean = {
      val (lx, ly) = (lists(x), lists(y))
      var shared = false
      var i = 0
      while (!shared && i < lx.length) {
        if (lx(i) < list) {
          var j = 0
          while (!shared && j < ly.length) { shared = ly(j) == lx(i); j += 1 }
        }
        i += 1
      }
      shared
    }
    // lists are compared in parallel, each keeping its (x, y, cos) in
    // member order; they merge in list order, one row per pair
    type Found = scala.collection.mutable.ArrayBuffer[(Int, Int, Double)]
    val emitted = new java.util.concurrent.atomic.AtomicLong
    val found = java.util.stream.IntStream.range(0, members.length)
      .parallel().mapToObj[Found] { li =>
        val (list, m) = members(li)
        val got: Found = scala.collection.mutable.ArrayBuffer.empty
        var a = 0
        while (a < m.length && emitted.get <= gate) {
          var b = a + 1
          while (b < m.length) {
            val (x, y) =
              if (ids(m(a)) < ids(m(b))) (m(a), m(b)) else (m(b), m(a))
            if (ids(x) < ids(y) && !sharesEarlier(x, y, list)) {
              val cos =
                dot(vecs(x), vecs(y)) / (math.sqrt(n2(x)) * math.sqrt(n2(y)))
              if (cos >= tau) { got += ((x, y, cos)); emitted.incrementAndGet() }
            }
            b += 1
          }
          a += 1
        }
        got
      }.toArray(new Array[Found](_))
    val seen = scala.collection.mutable.HashSet.empty[(Long, Long)]
    val out = for {
      got <- found.iterator; (x, y, cos) <- got
      if seen.add((ids(x), ids(y)))
    } yield Row(rows(x).get(0), rows(y).get(0), cos)
    val pairs = out.take(gate.toInt + 1).toVector
    if (pairs.size > gate) None
    else Some(Fetch.frame(emb.sparkSession, pairs, schema))
  }

  /** [[graft.expr.DotSeq]]'s fold over equal-length float arrays. */
  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** Product-quantization codebooks: `m` subspaces of `subDim` dims,
    * `ksub` sub-centroids each (Jégou, Douze, Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011 — public).
    * Driver-held like [[Centroid]]s: m*ksub*subDim floats total, far
    * below data scale; they compile into expressions.
    */
  final case class PqBooks(m: Int, ksub: Int, subDim: Int,
      books: Seq[Seq[Seq[Float]]])

  private def pqSub(e: Column, j: Int, subDim: Int): Column =
    slice(e, j * subDim + 1, subDim)

  /** Train PQ codebooks FAISS-style: bounded deterministic training
    * sample collected once (same discipline and machinery as
    * [[ivfCentroidsLocal]]), then per-subspace local Lloyd under L2.
    * Seeds are the first `ksub` sample subvectors in deterministic
    * hash order; empty clusters keep their previous centroid. Fully
    * bit-reproducible across runs and partitionings.
    */
  def pqTrainLocal(emb: DataFrame, m: Int = 16, ksub: Int = 16,
      iters: Int = 5, sampleRate: Double = 0.5,
      maxTrain: Int = 16384): PqBooks = {
    val train = Sampling.deterministicSample(emb, col("vec_id"), sampleRate)
      .orderBy(Sampling.bucket(col("vec_id")), col("vec_id"))
      .limit(maxTrain)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(train.nonEmpty, "PQ training sample is empty")
    val dim = train.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val books = (0 until m).map { j =>
      val sub = train.map(v => v.slice(j * subDim, (j + 1) * subDim))
      var cents = (0 until ksub).map(c => sub(c % sub.length).clone()).toArray
      for (_ <- 1 to iters) {
        val sums = Array.fill(ksub)(new Array[Double](subDim))
        val counts = new Array[Long](ksub)
        for (v <- sub) {
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < ksub) {
            var d = 0.0; var i = 0
            while (i < subDim) {
              val t = v(i) - cents(c)(i); d += t * t; i += 1
            }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          var i = 0
          while (i < subDim) { sums(best)(i) += v(i); i += 1 }
          counts(best) += 1
        }
        cents = cents.zipWithIndex.map { case (prev, c) =>
          if (counts(c) == 0) prev else sums(c).map(_ / counts(c))
        }
      }
      cents.map(_.map(_.toFloat).toSeq).toSeq
    }
    PqBooks(m, ksub, subDim, books)
  }

  /** Encode the corpus: per subspace the L2-nearest sub-centroid index,
    * as one map-side fold per subspace with the codebook compiled into
    * the expression — nothing shuffles. The per-centroid L2 rides the
    * native DotSeq through ‖x−c‖² = ‖x‖² − 2·x·c + ‖c‖² with the
    * row-constant ‖x‖² dropped (argmin-invariant: a per-row constant
    * shift preserves both the order and the tie set); ‖c‖² folds in as
    * a driver-side literal. This replaced an interpreted zip_with +
    * aggregate square-difference per (subspace, centroid) — the same
    * interpreted-HOF hot spot DotSeq removed from the similarity
    * family. 64 floats (256 B) become m code bytes + one stored norm
    * (m=16: ~16x): the 100 TB draw is an order-of-magnitude smaller
    * scan for the distance pass.
    */
  def pqEncode(emb: DataFrame, b: PqBooks): DataFrame = {
    def codeFor(j: Int): Column = {
      val scored = array((0 until b.ksub).map { c =>
        val book = b.books(j)(c)
        val d = lit(norm2Local(book)) - lit(2.0) *
          dotSeq(pqSub(col("embedding"), j, b.subDim), typedlit(book))
        struct(d.as("d"), lit(c).as("c"))
      }: _*)
      aggregate(scored,
        struct(lit(Double.MaxValue).as("d"), lit(Int.MaxValue).as("c")),
        (acc, x) => when(x("d") < acc("d") ||
          (x("d") === acc("d") && x("c") < acc("c")), x).otherwise(acc))
        .getField("c")
    }
    withNorm(emb).select(col("vec_id"),
      array((0 until b.m).map(codeFor): _*).as("code"), col("norm2"))
  }

  /** Per-query ADC lookup table: tab[j][c] = dot(q_j, book_j[c]),
    * computed once per query row (m*ksub sequential-fold dots), so each
    * (query, code) pair costs O(m) array lookups instead of O(dim)
    * multiplies.
    */
  private def pqQueryTab(qe: Column, b: PqBooks): Column =
    array((0 until b.m).map { j =>
      array((0 until b.ksub).map { c =>
        dotSeq(pqSub(qe, j, b.subDim), typedlit(b.books(j)(c)))
      }: _*)
    }: _*)

  /** ANN top-k via product quantization with exact rerank: ADC
    * approximate cosine (table-looked-up dot over the code scan, exact
    * stored norms) ranks candidates, the top rerank*k per query are
    * reranked with exact cosine against the true vectors. The corpus
    * rides the distance pass as (vec_id, m-byte code, norm2) — vectors
    * are touched only for the candidate set.
    */
  def pqTopK(emb: DataFrame, queryPred: Column, k: Int, m: Int = 16,
      ksub: Int = 16, iters: Int = 5, rerank: Int = 8): DataFrame = {
    val b = pqTrainLocal(emb, m, ksub, iters)
    val codes = pqEncode(emb, b)
    val q = withNorm(emb).where(queryPred)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("norm2").as("qn"))
      .withColumn("tab", pqQueryTab(col("qe"), b))
    val approx = (0 until b.m).map { j =>
      element_at(element_at(col("tab"), j + 1),
        element_at(col("code"), j + 1) + 1)
    }.reduce(_ + _) / (sqrt(col("qn")) * sqrt(col("norm2")))
    val wa = Window.partitionBy(col("qid"))
      .orderBy(col("acos").desc, col("vec_id").asc)
    val cands = q.join(codes, col("qid") =!= col("vec_id"))
      .withColumn("acos", approx)
      .withColumn("arank", row_number().over(wa))
      .where(col("arank") <= k * rerank)
      .select(col("qid"), col("qe"), col("qn"), col("vec_id").as("cid"))
    val full = withNorm(emb)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"),
        col("norm2").as("cn"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("cid").asc)
    cands.join(full, "cid")
      .withColumn("cos", cosine(col("qe"), col("ce"), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("cid"), col("rank"), col("cos"))
  }

  /** Bucket signature for one LSH table: `bits` sign bits drawn from
    * the table's own plane range (table t uses planes t·bits …
    * t·bits+bits−1), so tables are independent hash functions.
    */
  private def srpBucketAt(e: Column, table: Int, bits: Int): Column =
    (0 until bits).map { j =>
      val proj = aggregate(
        zip_with(e, sequence(lit(0), size(e) - 1),
          (x, i) => x.cast(DoubleType) * planeSign(table * bits + j, i)),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)

  /** ANN top-k via multi-table SRP-LSH (Charikar 2002; the classic
    * L-tables amplification): each vector lands in one bucket per
    * table, candidates are same-bucket-in-ANY-table pairs, reranked by
    * exact cosine. Single-table SRP at a bucket width that keeps work
    * sub-quadratic has near-zero recall on near-orthogonal embeddings
    * (measured 0.1 at 8 planes / 500 vecs); L independent coarser
    * tables recover it at the same asymptotic cost. Candidate
    * generation shuffles only (id, table, bucket) triples — embeddings
    * re-join by id for the rerank, so the bucket join never carries
    * vectors. Recall < 1 by construction; pair with bruteTopK to
    * measure. At corpus scale, grow `bits` ~ log2(n / target bucket
    * size) and keep `tables` as the recall knob.
    */
  def lshTopK(emb: DataFrame, queryPred: Column, k: Int,
      tables: Int = 8, bits: Int = 5): DataFrame = {
    // persist: bucket signatures and norms feed both join sides —
    // without it the interpreted projection folds run once per side
    // (no ReusedExchange across join aliases; the dd4 lesson)
    val v = withNorm(emb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).transform(ScratchCaches.track)
    val bk = v.select(col("vec_id"), explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"),
          srpBucketAt(col("embedding"), t, bits).as("b"))): _*)).as("tb"))
      .select(col("vec_id"), col("tb")("t").as("t"), col("tb")("b").as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).transform(ScratchCaches.track)
    val qb = bk.join(v.where(queryPred).select("vec_id"), "vec_id")
      .select(col("vec_id").as("qid"), col("t"), col("b"))
    val cands = qb
      .join(bk.select(col("vec_id").as("cid"), col("t"), col("b")),
        Seq("t", "b"))
      .where(col("qid") =!= col("cid"))
      .select("qid", "cid").distinct()
    val q = v.select(col("vec_id").as("qid"), col("embedding").as("qe"),
      col("norm2").as("qn"))
    val c = v.select(col("vec_id").as("cid"), col("embedding").as("ce"),
      col("norm2").as("cn"))
    val scored = cands.join(q, "qid").join(c, "cid")
      .withColumn("cos", cosine(col("qe"), col("ce"), col("qn"), col("cn")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("cid").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("cid"), col("rank"), col("cos"))
  }
}
