package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.Tables
import graft.ops._

class PipelineSpec extends AnyFunSuite {
  import TestSpark._

  lazy val docs = Tables(spark, sf, "documents")
  lazy val emb = Tables(spark, sf, "embeddings")

  test("minhash LSH finds every exact-jaccard pair (recall = 1 here)") {
    val exact = Dedup.ngramJaccardPairs(docs, 8, 10)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain near-dup pairs")
    for (gate <- Seq(Skew.BroadcastRowGate, 0L)) {
      val lsh = Dedup.minhashLshPairsGated(docs, 64, 16, 8, 10, gate = gate)
        .select("da", "db").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(lsh == exact, s"gate $gate: LSH verified output must equal " +
        "exact pairs")
    }
    ScratchCaches.releaseAll()
  }

  test("native MinHashSig is bit-identical to the HOF formulation") {
    // the contract the native expression must keep: per (i, s) the
    // Spark hash chain xxhash64(i, s) (seed 42, children in order),
    // NULL shingles skipped by the chain, empty arrays -> all-null sig
    val sh = TextOps.shingles(TextOps.tokens(col("text")), 3)
    val hof = transform(sequence(lit(0), lit(64 - 1)),
      i => array_min(transform(col("sh"), s => xxhash64(i, s))))
    val both = docs.select(col("doc_id"), sh.as("sh"))
      .select(col("doc_id"),
        graft.expr.MinHashSig.sigCol(col("sh"), 64).as("native"),
        hof.as("hof"))
    assert(both.where(not(col("native") <=> col("hof"))).isEmpty,
      "native minhash signature diverged from the HOF formulation")
    // null-shingle and empty-array corners (filtered out upstream in
    // minhashSignatures, but the expression must still match)
    import spark.implicits._
    val corner = Seq(
      (1L, Seq("a b c", null, "d e f")),
      (2L, Seq.empty[String])).toDF("doc_id", "sh")
    val c2 = corner.select(
      graft.expr.MinHashSig.sigCol(col("sh"), 8).as("native"),
      transform(sequence(lit(0), lit(7)),
        i => array_min(transform(col("sh"), s => xxhash64(i, s))))
        .as("hof"))
    assert(c2.where(not(col("native") <=> col("hof"))).isEmpty,
      "corner-case minhash parity failed")
  }

  // ---- the formulations the native sketch kernels replaced ----------
  // Test-only references: each kernel must equal its reference bit for
  // bit, on the fixture corpus and on the corner rows below.

  private def hofShingles(ws: Column, k: Int): Column =
    when(size(ws) < k, array().cast(ArrayType(StringType)))
      .otherwise(array_distinct(transform(
        sequence(lit(1), size(ws) - (k - 1)),
        i => concat_ws(" ", slice(ws, i, lit(k))))))

  private def hofFingerprint(text: Column): Column =
    aggregate(split(text, ""), lit(0L),
      (h, c) => pmod(h * 31 + ascii(c), lit(TextOps.FingerprintMod)))

  /** The explode + 64-aggregate SimHash over (doc_id, ws) rows. */
  private def aggSimhash(rows: DataFrame): DataFrame = {
    val votes = (0 until 64).map(j =>
      sum(when(expr(s"shiftright(h, $j) % 2 != 0"), 1L).otherwise(-1L))
        .as(s"b$j"))
    rows.select(col("doc_id"), explode(col("ws")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
      .groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(j =>
          when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  private lazy val cornerTexts = {
    import spark.implicits._
    Seq[(Long, String)](
      (9001L, null), (9002L, ""), (9003L, "solo"), (9004L, "two words"),
      (9005L, "a b c a b c"), (9006L, "a  b   c  d "), (9007L, "  lead x y"),
      (9008L, "x \uD835\uDCB3 y \uD83D\uDE00 z"), // non-BMP code points
      (9009L, "cafe\u0301 e\u0301 x y"), // combining acute accent
      (9010L, "\u00e9t\u00e9 na\u00efve \u4e2d\u6587 \u0000 end"))
      .toDF("doc_id", "text")
  }

  private lazy val cornerArrays = {
    import spark.implicits._
    Seq[(Long, Seq[String])](
      (1L, Seq("a", null, "b", "c", "d")), (2L, Seq(null, null, null)),
      (3L, Seq("a", "b", null)), (4L, Seq.empty[String]), (5L, null),
      (6L, Seq("x", "", "y", "", "x", "", "y")))
      .toDF("doc_id", "ws")
  }

  private def allTexts: DataFrame =
    docs.select(col("doc_id"), col("text")).unionByName(cornerTexts)

  test("native shingles are bit-identical to the HOF formulation") {
    val ws = allTexts.select(TextOps.tokens(col("text")).as("ws"))
      .unionByName(cornerArrays.select(col("ws")))
    for (k <- Seq(1, 2, 3, 5)) {
      val both = ws.select(TextOps.shingles(col("ws"), k).as("native"),
        hofShingles(col("ws"), k).as("hof"))
      assert(both.schema("native").dataType == both.schema("hof").dataType)
      val bad = both.where(not(col("native") <=> col("hof"))).take(3)
      assert(bad.isEmpty, s"k=$k shingles diverged: ${bad.mkString("; ")}")
    }
    // null text gives null, fewer than k tokens give []
    val corner = cornerTexts.select(col("doc_id"),
      TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(corner(9001L) == null)
    assert(corner(9004L) == Seq.empty)
    assert(corner(9005L) == Seq("a b c", "b c a", "c a b"))
  }

  test("native text fingerprint is bit-identical to the HOF fold") {
    val both = allTexts.select(col("doc_id"),
      TextOps.fingerprint(col("text")).as("native"),
      hofFingerprint(col("text")).as("hof"))
    val bad = both.where(not(col("native") <=> col("hof"))).take(3)
    assert(bad.isEmpty, s"fingerprint diverged: ${bad.mkString("; ")}")
    val fp = both.collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(fp(9001L) == null && fp(9002L) == 0L)
    // winnowing's gram hashes call the fingerprint inside a lambda
    val ws = TextOps.tokens(col("text"))
    val grams = allTexts.select(TextOps.gramHashes(ws, 3).as("native"),
      transform(TextOps.ngrams(ws, 3), g => hofFingerprint(g)).as("hof"))
    assert(grams.where(not(col("native") <=> col("hof"))).isEmpty,
      "gram hashes diverged from the HOF fingerprint")
  }

  test("native SimHash is bit-identical to the explode + aggregate form") {
    def pairs(df: DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val texts = allTexts
    val ref = pairs(aggSimhash(
      texts.select(col("doc_id"), TextOps.tokens(col("text")).as("ws"))))
    val got = pairs(Dedup.simhash(texts))
    assert(got.size == texts.where(col("text").isNotNull).count())
    assert(got == ref,
      s"simhash diverged: ${(got -- ref).take(3)} vs ${(ref -- got).take(3)}")
    // null tokens hash to the seed, as xxhash64(NULL) does; an empty
    // array votes nothing (the reference drops it) and a NULL array is NULL
    val arr = pairs(cornerArrays.where(col("doc_id") =!= 5L)
      .select(col("doc_id"), graft.expr.SimHash.simhashCol(col("ws"))))
    assert(arr - (4L -> 0L) == pairs(aggSimhash(cornerArrays)))
    assert(arr.contains(4L -> 0L))
    assert(cornerArrays.where(col("doc_id") === 5L)
      .select(graft.expr.SimHash.simhashCol(col("ws"))).head().isNullAt(0))
  }

  test("native sketch kernels compile to Java, with no interpreted fallback") {
    val confs = Seq("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val ws = TextOps.tokens(col("text"))
      val n = allTexts.select(TextOps.shingles(ws, 3).as("sh"),
          graft.expr.SimHash.simhashCol(ws).as("simhash"),
          TextOps.fingerprint(col("text")).as("fp"))
        .where(col("sh").isNotNull || col("simhash").isNotNull ||
          col("fp").isNotNull)
        .count()
      assert(n == allTexts.where(col("text").isNotNull).count())
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("Dedup.simhash plans no aggregate, no generate and no shuffle " +
    "beyond the scan fan-out") {
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    object H extends AdaptiveSparkPlanHelper
    val sh = Dedup.simhash(docs)
    sh.collect()
    val plan: SparkPlan = sh.queryExecution.executedPlan
    assert(H.collect(plan) { case a: BaseAggregateExec => a }.isEmpty, plan)
    assert(H.collect(plan) { case g: GenerateExec => g }.isEmpty, plan)
    val shuffles = H.collect(plan) { case e: ShuffleExchangeExec => e }
    assert(shuffles.forall(_.outputPartitioning
      .isInstanceOf[RoundRobinPartitioning]), plan)
    assert(shuffles.size <= 1, plan)
  }

  test("simhashPairs registers its two scratch persists past the gate " +
      "(the signatures and the keyed table) and none within it") {
    ScratchCaches.releaseAll()
    val before = ScratchCaches.activeCount
    val pairs = Dedup.simhashPairsGated(docs, 7, gate = 0)
    assert(ScratchCaches.activeCount - before == 2)
    assert(pairs.count() > 0)
    ScratchCaches.releaseAll()
    val local = Dedup.simhashPairs(docs, 7)
    assert(ScratchCaches.activeCount == 0)
    assert(local.count() == pairs.count())
  }

  test("df-cap drops stop-shingle-only candidates but keeps exact Jaccard") {
    import spark.implicits._
    // docs 1/2 are near-dups; 3/4 share ONLY the stop shingle, which
    // appears in every doc (df = 4)
    val tiny = Seq(
      (1L, "stop stop stop alpha beta gamma delta"),
      (2L, "stop stop stop alpha beta gamma epsilon"),
      (3L, "stop stop stop one two three four five six seven"),
      (4L, "stop stop stop eight nine ten eleven twelve thirteen fourteen"))
      .toDF("doc_id", "text")
    // no cap: the 1-2 pair qualifies at 3/10 (shares stop + alpha/beta...)
    val uncapped = Dedup.ngramJaccardPairs(tiny, 3, 10)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((1L, 2L)))
    // cap df<=3: the "stop stop stop" shingle (df 4) leaves candidate
    // generation; 1-2 still found via their other shared shingles, and
    // their reported Jaccard is still computed on the FULL sets
    val capped = Dedup.ngramJaccardPairs(tiny, 3, 10, 3, dfCap = 3L)
    val cappedPairs = capped.select("da", "db")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedPairs.contains((1L, 2L)))
    val row = capped.where(col("da") === 1L && col("db") === 2L).head()
    val uncappedRow = Dedup.ngramJaccardPairs(tiny, 3, 10)
      .where(col("da") === 1L && col("db") === 2L).head()
    assert(row.getAs[Int]("inter") == uncappedRow.getAs[Int]("inter"),
      "verification must use full shingle sets, not the capped index")
    // 3-4 share only the stop shingle: candidate only without the cap
    assert(!cappedPairs.contains((3L, 4L)))
  }

  test("simhash banding tables: wide keys, pigeonhole-complete") {
    // d <= 3: 4 tables of one 16-bit block — 65,536 key values each
    val t3 = Dedup.simhashTables(3)
    assert(t3.length == 4)
    assert(t3.forall(bs => bs.length == 1 && bs.head._2 == 16))
    // d = 7: C(9,2) = 36 tables keyed on two blocks, >= 14 bits each —
    // the bucket-key space is 2^14+ per table, not the old 2^8
    val t7 = Dedup.simhashTables(7)
    assert(t7.length == 36)
    assert(t7.forall(bs => bs.length == 2 && bs.map(_._2).sum >= 14))
    // block layouts tile the full 64 bits with no overlap
    for (m <- Seq(4, 9, 12)) {
      val bs = Dedup.simhashBlocks(m)
      assert(bs.map(_._2).sum == 64)
      assert(bs.map { case (s, w) => s until (s + w) }.flatten.toSet
        == (0 until 64).toSet)
    }
  }

  test("simhash candidate generation is exact vs brute-force hamming") {
    // banding must find EVERY pair within maxDist (pigeonhole), so on a
    // bounded slice the output equals the all-pairs hamming filter
    val slice = docs.limit(120)
    val sh = Dedup.simhash(slice)
      .select(col("doc_id"), col("simhash")).persist()
    val brute = sh.as("a").join(sh.as("b"),
      col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("dist"))
      .where(col("dist") <= 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (gate <- Seq(Skew.BroadcastRowGate, 0L)) {
      val banded = Dedup.simhashPairsGated(slice, 7, gate)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(banded == brute, s"gate $gate: banding missed " +
        s"${brute -- banded} / invented ${banded -- brute}")
    }
    sh.unpersist()
    ScratchCaches.releaseAll()
  }

  test("simhash near-dups recall >= 0.8 of jaccard near-dups") {
    val jacc = Dedup.ngramJaccardPairs(docs, 8, 10)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhashPairs(docs, 7)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim.nonEmpty, "simhash should find near-dup pairs")
    val recall = (jacc & sim).size.toDouble / jacc.size
    assert(recall >= 0.8, s"recall $recall too low; missing ${jacc -- sim}")
  }

  /** Sorted rows of a driver-path frame and of its `gate` = 0 twin,
    * whose schemas must match; a double compares by its bits.
    */
  private def bothPaths(gated: => DataFrame,
      loop: => DataFrame): (Seq[String], Seq[String]) = {
    val (g, l) = (gated, loop)
    assert(g.schema == l.schema, s"${g.schema} vs ${l.schema}")
    def rows(df: DataFrame) = df.collect().map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d).toString
      case x => String.valueOf(x)
    }.mkString(",")).toSeq.sorted
    val out = (rows(g), rows(l))
    ScratchCaches.releaseAll()
    out
  }

  private def sigPairs(sigs: DataFrame, gate: Long = Skew.BroadcastRowGate) =
    bothPaths(Dedup.signaturePairs(sigs, 7, gate),
      Dedup.signaturePairs(sigs, 7, 0))

  test("simhash pairs: the driver buckets match the banding join row for " +
      "row, on the fixture and on seeded signatures") {
    import spark.implicits._
    val (fl, fj) = bothPaths(Dedup.simhashPairs(docs, 7),
      Dedup.simhashPairsGated(docs, 7, 0))
    assert(fl.nonEmpty && fl == fj)
    val (f3, j3) = bothPaths(Dedup.simhashPairs(docs, 3),
      Dedup.simhashPairsGated(docs, 3, 0))
    assert(f3 == j3)
    // clusters around random bases at distances 0..9 from the base:
    // 7 pairs, 8 does not
    val rnd = new scala.util.Random(7)
    def flip(h: Long, d: Int): Long =
      rnd.shuffle((0 until 64).toList).take(d).foldLeft(h)((x, b) =>
        x ^ (1L << b))
    val clustered = (0 until 20).flatMap { c =>
      val base = rnd.nextLong()
      (0 to 9).map(d => (c * 100L + d, flip(base, d)))
    }
    val (cl, cj) = sigPairs(clustered.toDF("doc_id", "simhash"))
    assert(cl == cj)
    assert(cl.exists(_.endsWith(",7")) && !cl.exists(_.endsWith(",8")))
    // Int ids keep their type
    val ints = clustered.take(30).map { case (i, h) => (i.toInt, h) }
    val (il, ij) = sigPairs(ints.toDF("doc_id", "simhash"))
    assert(il == ij && il.nonEmpty)
    assert(Dedup.signaturePairs(ints.toDF("doc_id", "simhash"), 7,
      Skew.BroadcastRowGate).schema("da").dataType == IntegerType)
    // a null id or signature pairs with nothing
    val nulls = clustered.take(10).map { case (i, h) =>
      (Option(i), Option(h)) } ++ Seq((None, Some(clustered.head._2)),
      (Some(999L), None))
    val (nl, nj) = sigPairs(nulls.toDF("doc_id", "simhash"))
    assert(nl == nj && nl.nonEmpty)
    // 1,200 signatures in one bucket: equal low 32 bits, so every table
    // over the first blocks puts them together
    val low = rnd.nextLong() & 0xffffffffL
    val hot = (0 until 1200).map(i => (i.toLong,
      if (i % 3 == 0) flip(low | (7L << 40), rnd.nextInt(5))
      else low | (rnd.nextLong() << 32)))
    val (hl, hj) = sigPairs(hot.toDF("doc_id", "simhash"))
    assert(hl == hj && hl.size > 100)
  }

  test("simhash pairs fall back to the banding join just past the gate, " +
      "in rows or in pairs") {
    import spark.implicits._
    val gate = 40L
    val rnd = new scala.util.Random(3)
    val sigs = (0L to gate).map(i => (i,
      if (i % 10 == 0) 0x5555L ^ (1L << rnd.nextInt(64)) else rnd.nextLong()))
    def registered(df: DataFrame) = {
      ScratchCaches.releaseAll()
      Dedup.signaturePairs(df, 7, gate)
      val n = ScratchCaches.activeCount
      ScratchCaches.releaseAll()
      n
    }
    val atGate = sigs.take(gate.toInt).toDF("doc_id", "simhash")
    assert(registered(atGate) == 0, "at the gate: the driver")
    val (at, atLoop) = sigPairs(atGate, gate)
    assert(at == atLoop && at.size == 6)
    val pastGate = sigs.toDF("doc_id", "simhash")
    assert(registered(pastGate) == 2, "past the gate: the join")
    val (pl, pj) = sigPairs(pastGate, gate)
    assert(pl == pj && pl.size == 10)
    // 12 equal signatures: 12 rows, but 66 pairs
    val same = (1L to 12L).map(i => (i, 0x77L)).toDF("doc_id", "simhash")
    assert(registered(same) == 2, "more pairs than the gate: the join")
    val (sl, sj) = sigPairs(same, gate)
    assert(sl == sj && sl.size == 66)
  }

  test("simhash and semdedup pairs within the gate: at most 5 and 7 Spark " +
      "jobs with the result's count") {
    // measured 5 and 7; the distributed paths start 7 and 10. Of these,
    // the result's count takes 2 (an aggregate's exchange under AQE) and
    // the cached signatures 3: the fixture's fan-out exchange, the
    // cached plan's result stage, and the read. Opening a table may
    // start a job of its own, so both are opened before counting.
    val (texts, vecs) = (docs, emb)
    val (n, jobs) = org.apache.spark.TestJobs.count(spark.sparkContext)(
      Dedup.simhashPairs(texts, 7).count())
    assert(jobs <= 5, s"simhash: $jobs jobs")
    assert(n == Dedup.simhashPairsGated(texts, 7, 0).count())
    // emb.count() (2 jobs), the centroids' seed and training reads, the
    // read of the vectors, and the result's count
    val (m, semJobs) = org.apache.spark.TestJobs.count(spark.sparkContext)(
      Similarity.semdedupPairs(vecs, 0.4).count())
    assert(semJobs <= 7, s"semdedup: $semJobs jobs")
    assert(m == Similarity.semdedupPairsGated(vecs, 0.4, gate = 0).count())
    ScratchCaches.releaseAll()
  }

  private def lshPaths(docs: DataFrame, gate: Long = Skew.BroadcastRowGate) =
    bothPaths(Dedup.minhashLshPairsGated(docs, gate = gate),
      Dedup.minhashLshPairsGated(docs, gate = 0))

  /** Seeded texts: `clusters` bases of 60 words from a 400-word
    * vocabulary, each with `copies` variants that swap `edits` words (one
    * swap on each side of a pair leaves a Jaccard near 0.8).
    */
  private def lshCorpus(seed: Int, clusters: Int, copies: Int,
      edits: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    (0 until clusters).flatMap { c =>
      val base = Vector.fill(60)(s"w${rnd.nextInt(400)}")
      (0 until copies).map { v =>
        val ws = (0 until edits).foldLeft(base)((w, _) =>
          w.updated(rnd.nextInt(w.size), s"x${rnd.nextInt(400)}"))
        (c * 100L + v, ws.mkString(" "))
      }
    }
  }

  test("minhash pairs: the driver path matches the banding join row for " +
      "row, on the fixture and on seeded corpora") {
    import spark.implicits._
    val (fl, fj) = lshPaths(docs)
    assert(fl.nonEmpty && fl == fj)
    // near-dup clusters at one and two edits per copy
    for ((seed, edits) <- Seq((1, 1), (2, 2))) {
      val (cl, cj) = lshPaths(lshCorpus(seed, 30, 5, edits)
        .toDF("doc_id", "text"))
      assert(cl == cj && (edits > 1 || cl.nonEmpty), s"seed $seed")
    }
    // 11 tokens, the last one swapped: 8 of 9 shingles shared, a
    // Jaccard of exactly 8/10, where inter * 10 >= (na + nb - inter) * 8
    // holds with equality
    val words = (1 to 11).map(i => s"t$i")
    val exact = Seq(
      (1L, words.mkString(" ")),
      (2L, (words.init :+ "u").mkString(" ")))
    val (el, ej) = lshPaths(exact.toDF("doc_id", "text"))
    assert(el == ej && el == Seq("1,2,8,9,9"), el)
    // one text 300 times: every band puts all of them in one bucket
    val hot = (1L to 300L).map(i => (i, "a b c d e f g"))
    val (hl, hj) = lshPaths(hot.toDF("doc_id", "text"))
    assert(hl == hj && hl.size == 300 * 299 / 2)
    // Int ids keep their type
    val ints = lshCorpus(3, 10, 4, 1).map { case (i, t) => (i.toInt, t) }
      .toDF("doc_id", "text")
    val (il, ij) = lshPaths(ints)
    assert(il == ij && il.nonEmpty)
    assert(Dedup.minhashLshPairs(ints).schema("da").dataType == IntegerType)
  }

  test("minhash pairs: input the driver path refuses gets the banding " +
      "join's answer") {
    import spark.implicits._
    val base = lshCorpus(4, 6, 3, 0).map { case (i, t) =>
      (Option(i), Option(t)) }
    val cases = Seq(
      "fewer than k tokens" -> (base :+ ((Some(900L), Some("a b")))),
      "empty text" -> (base :+ ((Some(901L), Some("")))),
      "null text" -> (base :+ ((Some(902L), None))),
      "null id" -> (base :+ ((None, base.head._2))),
      "repeated id" -> (base :+ ((base(1)._1, base(2)._2))))
    for ((name, rows) <- cases) {
      val (l, j) = lshPaths(rows.toDF("doc_id", "text"))
      assert(l == j && l.nonEmpty, name)
    }
  }

  test("minhash pairs fall back to the banding join just past the gate, " +
      "in signatures or in candidates") {
    import spark.implicits._
    def registered(df: DataFrame, gate: Long) = {
      ScratchCaches.releaseAll()
      Dedup.minhashLshPairsGated(df, gate = gate).count()
      val n = ScratchCaches.activeCount
      ScratchCaches.releaseAll()
      n
    }
    // 40 docs: 20 pairs of equal texts
    val corpus = lshCorpus(5, 20, 2, 0).toDF("doc_id", "text")
    assert(registered(corpus, 40) == 0, "at the gate: the driver")
    assert(registered(corpus, 39) == 1, "past the gate: the join")
    val (sl, sj) = lshPaths(corpus, 39)
    assert(sl == sj && sl.size == 20)
    // 12 copies of one text: 12 signatures, but 66 candidates
    val same = (1L to 12L).map(i => (i, "p q r s t u v")).toDF("doc_id", "text")
    assert(registered(same, 66) == 0, "66 candidates at gate 66")
    assert(registered(same, 65) == 1, "more candidates than the gate")
    val (cl, cj) = lshPaths(same, 65)
    assert(cl == cj && cl.size == 66)
  }

  test("minhash pairs start no job when built, and at most 6 with the " +
      "result's count within the gate") {
    val texts = docs
    texts.count()
    val (pairs, built) = org.apache.spark.TestJobs.count(spark.sparkContext)(
      Dedup.minhashLshPairs(texts))
    assert(built == 0, s"$built jobs when built")
    val (n, jobs) = org.apache.spark.TestJobs.count(spark.sparkContext)(
      pairs.count())
    assert(jobs <= 6, s"minhash: $jobs jobs")
    assert(ScratchCaches.activeCount == 0)
    assert(n == Dedup.minhashLshPairsGated(texts, gate = 0).count())
    assert(pairs.queryExecution.executedPlan.toString
      .contains("ran Scan ExistingRDD"))
    // the other pair ops are deferred too
    val (_, others) = org.apache.spark.TestJobs.count(spark.sparkContext) {
      Dedup.simhashPairs(texts, 7); Similarity.semdedupPairs(emb, 0.4)
    }
    assert(others == 0, s"$others jobs when built")
    ScratchCaches.releaseAll()
  }

  private def semPaths(emb: DataFrame, tau: Double, nlist: Int = 16,
      refineIters: Int = 3, assign: Int = 2,
      gate: Long = Skew.BroadcastRowGate) =
    bothPaths(
      Similarity.semdedupPairsGated(emb, tau, nlist, refineIters, assign,
        gate = gate),
      Similarity.semdedupPairsGated(emb, tau, nlist, refineIters, assign,
        gate = 0))

  test("semdedup pairs: the driver path matches the list self-join row " +
      "for row, cosines bit for bit") {
    import spark.implicits._
    val (fl, fj) = semPaths(emb, 0.4)
    assert(fl.nonEmpty && fl == fj)
    val (f1, j1) = semPaths(emb, 0.2, nlist = 5, assign = 1)
    assert(f1 == j1)
    // seeded clusters of 8-dim vectors, plus exact duplicates (cos 1 ties)
    val rnd = new scala.util.Random(11)
    val centres = Seq.fill(6)(Seq.fill(8)(rnd.nextGaussian().toFloat))
    val vecs = (0 until 300).map { i =>
      (i.toLong, centres(i % 6).map(x => x + 0.3f * rnd.nextGaussian().toFloat))
    }
    val withDups = vecs ++ vecs.take(20).map { case (i, v) => (i + 1000, v) }
    val synth = withDups.toDF("vec_id", "embedding")
    for ((nlist, assign) <- Seq((4, 2), (6, 1), (3, 3))) {
      val (sl, sj) = semPaths(synth, 0.9, nlist = nlist, assign = assign)
      assert(sl.nonEmpty && sl == sj, s"nlist $nlist assign $assign")
    }
    // centroid-score ties: with refineIters 0 the centroids are the two
    // lowest ids, (1, 0) and (0, 1); (1, 1) and (2, 2) score equally on
    // both, and assign = 1 sends them to the lowest list id
    val tie = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)), (2L, Seq(1f, 1f)),
      (3L, Seq(2f, 2f)), (4L, Seq(1f, 0.5f)), (5L, Seq(0.5f, 1f)),
      (6L, Seq(-1f, 1f)), (7L, Seq(1f, -1f))).toDF("vec_id", "embedding")
    for (assign <- 1 to 3) {
      val (tl, tj) = semPaths(tie, 0.0, nlist = 2, refineIters = 0,
        assign = assign)
      assert(tl == tj, s"assign $assign")
      assert(tl.exists(_.startsWith("2,3,")), s"assign $assign: $tl")
    }
  }

  test("semdedup pairs: input the driver path refuses gets the " +
      "distributed answer or error") {
    import spark.implicits._
    import scala.util.Try
    val rnd = new scala.util.Random(5)
    val base = (0 until 30).map(i =>
      (Option(i.toLong), Option(Seq.fill(4)(
        Option(rnd.nextGaussian().toFloat + (i % 2) * 2f)))))
    def outcome(rows: Seq[(Option[Long], Option[Seq[Option[Float]]])],
        gate: Long) = {
      val df = rows.toDF("vec_id", "embedding")
      val out = Try(Similarity.semdedupPairsGated(df, 0.5, nlist = 2,
        gate = gate).collect().map(_.toString).toSeq.sorted)
      ScratchCaches.releaseAll()
      out.toEither.left.map(e => Option(e.getCause).getOrElse(e).getClass)
    }
    def put(i: Int, v: Option[Seq[Option[Float]]]) =
      base.updated(i, (Some(i.toLong), v))
    val cases = Seq(
      "null id" -> base.updated(20, (None, base(20)._2)),
      "null embedding" -> put(20, None),
      "null element" -> put(20, Some(Seq(Some(1f), None, Some(1f), Some(1f)))),
      "NaN" -> put(20, Some(Seq.fill(4)(Some(Float.NaN)))),
      "infinity" -> put(21, Some(Seq(Some(Float.PositiveInfinity), Some(0f),
        Some(0f), Some(0f)))),
      "zero vector" -> put(20, Some(Seq.fill(4)(Some(0f)))),
      "mixed dimensions" -> put(20, Some(Seq.fill(3)(Some(1f)))))
    for ((name, rows) <- cases) {
      val (local, loop) = (outcome(rows, Skew.BroadcastRowGate),
        outcome(rows, 0))
      assert(local == loop, name)
    }
    assert(outcome(base, Skew.BroadcastRowGate).isRight)
  }

  test("semdedup pairs fall back to the list self-join just past the gate") {
    import spark.implicits._
    val gate = 60L
    val rnd = new scala.util.Random(9)
    val near = Seq.fill(6)(rnd.nextGaussian().toFloat)
    // every 10th vector is a near-duplicate of `near`, the rest random
    val vecs = (0L to gate).map(i => (i,
      if (i % 10 == 0) near.map(_ + 0.01f * rnd.nextGaussian().toFloat)
      else Seq.fill(6)(rnd.nextGaussian().toFloat)))
    def registered(df: DataFrame) = {
      ScratchCaches.releaseAll()
      Similarity.semdedupPairsGated(df, 0.95, nlist = 3, gate = gate)
      val n = ScratchCaches.activeCount
      ScratchCaches.releaseAll()
      n
    }
    val atGate = vecs.take(gate.toInt).toDF("vec_id", "embedding")
    assert(registered(atGate) == 0, "at the gate: the driver")
    val (at, atLoop) = semPaths(atGate, 0.95, nlist = 3, gate = gate)
    assert(at == atLoop && at.nonEmpty)
    val pastGate = vecs.toDF("vec_id", "embedding")
    assert(registered(pastGate) == 1, "past the gate: the self-join")
    val (pl, pj) = semPaths(pastGate, 0.95, nlist = 3, gate = gate)
    assert(pl == pj && pl.size > at.size)
  }

  test("LSH ANN cosines are bounded by brute-force top-1 per query") {
    val brute = Similarity.bruteTopK(emb, col("vec_id") < 10, 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val lsh = Similarity.lshTopK(emb, col("vec_id") < 10, 5,
      tables = 4, bits = 4)
      .collect()
    assert(lsh.nonEmpty, "LSH buckets should yield candidates")
    lsh.foreach { r =>
      assert(r.getDouble(3) <= brute(r.getLong(0)) + 1e-12,
        s"LSH cos must not exceed brute-force best for query ${r.getLong(0)}")
    }
  }

  test("IVF ANN cosines are bounded by brute force and recall is sane") {
    val brute = Similarity.bruteTopK(emb, col("vec_id") < 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bruteTop1 = Similarity.bruteTopK(emb, col("vec_id") < 10, 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val ivf = Similarity.ivfTopK(emb, col("vec_id") < 10, 5)
      .collect()
    assert(ivf.nonEmpty)
    // exactness within probed lists: no IVF cosine can beat brute top-1
    ivf.foreach { r =>
      assert(r.getDouble(3) <= bruteTop1(r.getLong(0)) + 1e-12)
    }
    val ivfPairs = ivf.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivfPairs).size.toDouble / brute.size
    assert(recall >= 0.3, s"IVF recall $recall implausibly low")
  }

  test("PQ ANN: rerank cosines exact, recall sane, codes well-formed") {
    val brute = Similarity.bruteTopK(emb, col("vec_id") < 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bruteTop1 = Similarity.bruteTopK(emb, col("vec_id") < 10, 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val pq = Similarity.pqTopK(emb, col("vec_id") < 10, 5).collect()
    assert(pq.nonEmpty)
    // rerank is exact within candidates: nothing can beat brute top-1
    pq.foreach { r =>
      assert(r.getDouble(3) <= bruteTop1(r.getLong(0)) + 1e-12)
    }
    val pqPairs = pq.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & pqPairs).size.toDouble / brute.size
    assert(recall >= 0.5, s"PQ recall $recall implausibly low")
    // codes: m entries, all within [0, ksub)
    val b = Similarity.pqTrainLocal(emb)
    val codes = Similarity.pqEncode(emb, b).collect()
    assert(codes.length == emb.count())
    codes.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length == b.m && cs.forall(c => c >= 0 && c < b.ksub))
    }
  }

  test("IVF k-means refinement strictly improves recall over seed centroids") {
    // queries DISJOINT from the seed-centroid ids (lowest vec_ids):
    // a query that IS a centroid probes its own list exactly, which
    // inflates seed recall and hides what refinement buys
    val qPred = col("vec_id") >= 100 && col("vec_id") < 120
    val brute = Similarity.bruteTopK(emb, qPred, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(iters: Int): Double = {
      val pairs = Similarity.ivfTopK(emb, qPred, 5, refineIters = iters)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (brute & pairs).size.toDouble / brute.size
    }
    val seedR = recallAt(0)
    val refinedR = recallAt(3)
    assert(refinedR > seedR,
      s"Lloyd refinement should improve recall: seed=$seedR refined=$refinedR")
    // and refinement must be deterministic: same centroids bit-for-bit
    val c1 = Similarity.ivfCentroids(emb, 16, 3).orderBy("list_id").collect()
    val c2 = Similarity.ivfCentroids(emb, 16, 3).orderBy("list_id").collect()
    assert(c1.map(_.toString).toSeq == c2.map(_.toString).toSeq)
  }

  test("redaction: emails, URLs, phone runs masked with exact counts") {
    import spark.implicits._
    val d = Seq(
      (1L, "mail me at jo.doe+x@sub.example.org or call +1-555-123-4567 now"),
      (2L, "see https://ex.org/a?b=c@d and http://plain.io stop"),
      (3L, "no pii here at all"),
      (4L, "two mails a@b.co c.d@e.fg one number 12345678")
    ).toDF("doc_id", "text")
    val r = d.select(col("doc_id"), TextOps.redact(col("text")).as("red"),
      TextOps.redactionCounts(col("text")).as("rc")).orderBy("doc_id").collect()
    assert(r(0).getString(1) == "mail me at <EMAIL> or call <PHONE> now")
    // the URL pattern eats the embedded @ before the email pass runs
    assert(r(1).getString(1) == "see <URL> and <URL> stop")
    assert(r(2).getString(1) == "no pii here at all")
    assert(r(3).getString(1) == "two mails <EMAIL> <EMAIL> one number <PHONE>")
    def rc(i: Int) = r(i).getStruct(2)
    assert(rc(0).getInt(0) == 0 && rc(0).getInt(1) == 1 && rc(0).getInt(2) == 1)
    assert(rc(1).getInt(0) == 2 && rc(1).getInt(1) == 0 && rc(1).getInt(2) == 0)
    assert(rc(3).getInt(1) == 2 && rc(3).getInt(2) == 1)
  }

  test("repetition stats: known repeats measured exactly") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b a b a b"),        // bigrams: ab ba ab ba ab -> top "a b" x3
      (2L, "x y z w"),            // all distinct
      (3L, "solo")                // too short for bigrams
    ).toDF("doc_id", "text")
    val r = TextOps.repetitionStats(d).orderBy("doc_id").collect()
    assert(r(0).getLong(1) == 6 && r(0).getLong(4) == 3)
    assert(math.abs(r(0).getDouble(2) - 3.0 / 5) < 1e-12) // 5 bigrams, 2 distinct
    assert(r(1).getDouble(2) == 0.0 && r(1).getLong(4) == 1)
    assert(r(2).getLong(1) == 1 && r(2).getLong(4) == 0L &&
      r(2).getDouble(5) == 0.0)
  }

  test("stratified sample: deterministic, monotone in rate, rate-accurate") {
    val half = Sampling.deterministicSample(docs, col("doc_id"), 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val quarter = Sampling.deterministicSample(docs, col("doc_id"), 0.25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val again = Sampling.deterministicSample(docs, col("doc_id"), 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(half == again, "same rate must resample identically")
    assert(quarter.subsetOf(half), "lower rate nests inside higher rate")
    val n = docs.count().toDouble
    assert(math.abs(half.size / n - 0.5) < 0.1)
    assert(Sampling.deterministicSample(docs, col("doc_id"), 1.0).count()
      == docs.count(), "rate 1.0 keeps everything")
    assert(Sampling.deterministicSample(docs, col("doc_id"), 0.0).count()
      == 0, "rate 0.0 keeps nothing")
  }

  test("BPE-ish segmentation splits letter/digit/punct runs") {
    import spark.implicits._
    val d = Seq((1L, "hello world42 a-b")).toDF("doc_id", "text")
    val segs = d.select(TextOps.bpeTokens(col("text")).as("t"))
      .collect()(0).getSeq[String](0)
    assert(segs == Seq("hello", " world", "42", " a", "-", "b"))
    val counts = TextOps.tokenCounts(d).collect()(0)
    assert(counts.getLong(1) == 3 && counts.getLong(2) == 6)
  }

  test("winnowing: the SIGMOD'03 guarantee and selection density hold") {
    import spark.implicits._
    // Build docs from a shared 8-token run (>= k+w-1 = 6: MUST yield a
    // shared fingerprint) embedded in distinct noise, plus an unrelated
    // doc; tokens drawn from disjoint vocabularies so no accidental
    // gram collisions.
    val shared = (0 until 8).map(i => s"common$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma $shared delta epsilon"),
      (2L, s"zeta eta $shared theta iota kappa"),
      (3L, "lone wolf text with no overlap at all here")).toDF(
      "doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((byDoc(1L) & byDoc(2L)).nonEmpty,
      "8-token shared run must survive winnowing in both docs")
    assert((byDoc(1L) & byDoc(3L)).isEmpty && (byDoc(2L) & byDoc(3L)).isEmpty,
      "disjoint-vocabulary doc must share nothing")
    // density: winnowing selects ~2/(w+1) of gram hashes; assert the
    // coarse upper bound (never more than the gram count, and strictly
    // fewer on these 12+-gram docs)
    val nGrams = docs.select(col("doc_id"),
      size(TextOps.ngrams(TextOps.tokens(col("text")), 3)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    byDoc.foreach { case (id, s) =>
      assert(s.size < nGrams(id), s"doc $id selected all grams") }
    // pair detection end-to-end: only (1,2) at minShared=1
    val pairs = Dedup.winnowPairs(docs, 1)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("winnowing: short docs collapse to one fingerprint, empty to none") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "x y")).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs).collect()
    // doc 1: 2 grams < w=4 windows -> single overall min; doc 2: no
    // 3-grams -> no rows
    assert(fps.length == 1 && fps.head.getLong(0) == 1L)
  }

  test("dup clustering: chains collapse to one component") {
    import spark.implicits._
    // 1-2-3-4 is a path (diameter 3, needs >1 propagation round); 9-10
    // is separate
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 10L))
      .toDF("da", "db")
    val comp = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      9L -> 9L, 10L -> 9L))
  }

  test("dup clustering: O(log n) rounds on a long chain, cap enforced") {
    import spark.implicits._
    // a 200-node path — component diameter 199. Min-label propagation
    // needed ~199 rounds here; large-star/small-star must stay
    // logarithmic. Also scrambled ids so orientation isn't pre-sorted.
    val n = 200
    val ids = new scala.util.Random(42).shuffle((0L until n).toVector)
    val chain = (0 until n - 1).map(i =>
      (math.min(ids(i), ids(i + 1)), math.max(ids(i), ids(i + 1))))
      .toDF("da", "db")
    // gate 0 forces the distributed loop: within the gate the driver
    // answers in 0 rounds and the bound below would never be checked
    val (comp, rounds) = Dedup.dupClustersWithRounds(chain, gate = 0)
    val got = comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n && got.values.forall(_ == 0L),
      "every chain node must label to the min id 0")
    assert(rounds <= 12, s"chain of $n took $rounds double-rounds")
    assert(rounds <= Dedup.MaxCcRounds)
    val (local, localRounds) = Dedup.dupClustersWithRounds(chain)
    assert(localRounds == 0)
    assert(local.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      got)
  }

  /** Sorted rows of [[Dedup.dupClustersWithRounds]] at `gate` with its
    * round count, and sorted rows of the star loop (gate 0); the two
    * frames' schemas must match.
    */
  private def bothClusterPaths(pairs: DataFrame,
      gate: Long = Skew.BroadcastRowGate): (Seq[String], Int, Seq[String]) = {
    val (gated, rounds) = Dedup.dupClustersWithRounds(pairs, gate)
    val loop = Dedup.dupClustersWithRounds(pairs, 0)._1
    assert(gated.schema == loop.schema)
    def rows(df: DataFrame) = df.collect().map(_.toString).toSeq.sorted
    (rows(gated), rounds, rows(loop))
  }

  test("dup clustering: the driver union-find matches the star loop " +
      "row for row on seeded random edge lists") {
    import spark.implicits._
    val rnd = new scala.util.Random(1)
    val ids = rnd.shuffle((0L until 600L).toVector).take(60) // scrambled
    val chain = (0 until 29).map(i => (ids(i), ids(i + 1)))
    val star = (31 until 40).map(i => (ids(30), ids(i)))
    val hub = (41 until 60).map(i => (ids(i), ids(40))) ++
      (41 until 59).map(i => (ids(i), ids(i + 1)))
    val tri = Seq((ids(0), ids(5)), (ids(5), ids(9)), (ids(9), ids(0)))
    val random = Seq.fill(3)(Seq.fill(rnd.nextInt(80) + 1)(
      (ids(rnd.nextInt(60)), ids(rnd.nextInt(60)))))
    val cases = Seq("chain" -> chain, "star" -> star, "hub" -> hub,
      "triangles" -> (tri ++ tri.map(_.swap)),
      "reversed" -> chain.map { case (a, b) => (a max b, a min b) },
      "duplicates" -> (star ++ star ++ chain.take(5)),
      "self pairs" -> (Seq((ids(1), ids(1)), (ids(7), ids(7))) ++ tri),
      "all" -> (chain ++ star ++ hub ++ tri ++ random.head)) ++
      random.map("random" -> _)
    for ((name, edges) <- cases) {
      val (local, rounds, loop) = bothClusterPaths(edges.toDF("da", "db"))
      assert(local == loop, name)
      assert(rounds == 0, name)
    }
    // Int ids keep their type; an empty pair list gives no rows
    val ints = Seq((3, 1), (1, 2), (7, 8)).toDF("da", "db")
    val (li, _, lo) = bothClusterPaths(ints)
    assert(li == lo && li.size == 5)
    assert(Dedup.dupClusters(ints).schema("cluster_id").dataType ==
      IntegerType)
    val (le, _, lpe) =
      bothClusterPaths(Seq.empty[(Long, Long)].toDF("da", "db"))
    assert(le.isEmpty && lpe.isEmpty)
  }

  test("dup clustering falls back to the star loop just past the gate, " +
      "and on a null id") {
    import spark.implicits._
    val gate = 20L
    val chain = (0L to gate).map(i => (i * 7 % 23, (i + 1) * 7 % 23))
    val (at, atRounds, loopAt) =
      bothClusterPaths(chain.take(gate.toInt).toDF("da", "db"), gate)
    assert(at == loopAt && atRounds == 0)
    val (past, pastRounds, loopPast) =
      bothClusterPaths(chain.toDF("da", "db"), gate)
    assert(past == loopPast && pastRounds > 0)
    // a null id: the loop's answer, never a silent 0
    val withNull = Seq((Some(1L), Some(2L)), (None, Some(5L)),
      (Some(5L), Some(6L)), (Some(0L), None)).toDF("da", "db")
    val (n, nRounds, loopN) = bothClusterPaths(withNull)
    assert(n == loopN && nRounds > 0)
  }

  test("dup clustering within the gate: at most 3 jobs with the " +
      "result's count, and no scratch cache left registered") {
    import spark.implicits._
    val rnd = new scala.util.Random(500)
    val pairs = Seq.fill(500)((rnd.nextInt(1000).toLong,
      rnd.nextInt(1000).toLong)).toDF("da", "db")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      assert(pairs.count() == 500)
      val before = ScratchCaches.activeCount
      val (n, jobs) = org.apache.spark.TestJobs.count(spark.sparkContext)(
        Dedup.dupClusters(pairs).count())
      assert(jobs <= 3, s"$jobs jobs")
      assert(n == Dedup.dupClustersWithRounds(pairs, 0)._1.count())
      assert(ScratchCaches.activeCount == before)
    } finally pairs.unpersist()
  }

  test("dup clustering handles many mixed components with scrambled ids") {
    import spark.implicits._
    // stars, triangles, and reversed chains in one edge list
    val edges = Seq(
      (5L, 1L), (5L, 9L), (5L, 7L),            // star centered off-min
      (20L, 21L), (21L, 22L), (20L, 22L),      // triangle
      (33L, 31L), (31L, 32L), (32L, 30L))      // chain, mixed order
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .toDF("da", "db")
    val got = Dedup.dupClusters(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 5L -> 1L, 9L -> 1L, 7L -> 1L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L, 31L -> 30L, 32L -> 30L, 33L -> 30L))
  }

  test("contamination flags shingle overlap with broadcast probes") {
    import spark.implicits._
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "completely different words here entirely now")).toDF("doc_id", "text")
    val probes = Seq(
      (1L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val hits = Dedup.contamination(corpus, probes, 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // shared 3-shingles: "the quick brown", "quick brown fox",
    // "brown fox jumps" = 3
    assert(hits.toSeq == Seq((100L, 1L, 3)))
  }

  test("bloom decontamination is exact: equals the plain anti-join") {
    import spark.implicits._
    // corpus with exact copies of two benchmark docs + clean docs
    val bench = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (100L, "alpha beta gamma"),         // contaminated (== bench 1)
      (101L, "delta epsilon zeta"),       // contaminated (== bench 2)
      (102L, "totally clean document"),
      (103L, "another clean one here"),
      (104L, "alpha beta gamma extra"))   // near but not exact: clean
      .toDF("doc_id", "text")
    val clean = Dedup.bloomDecontaminate(corpus, bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(102L, 103L, 104L))
    // differential vs the no-bloom exact anti-join, on real corpus data
    val c = docs.where(col("doc_id") >= 20)
    val b = docs.where(col("doc_id") < 20)
    val viaBloom = Dedup.bloomDecontaminate(c, b)
    val viaAnti = c.select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp"))
      .join(b.select(TextOps.fingerprint(col("text")).as("fp")),
        Seq("fp"), "left_anti")
      .select("doc_id", "fp")
    assert(viaBloom.except(viaAnti).isEmpty && viaAnti.except(viaBloom).isEmpty)
  }

  test("cleanText strips markup, collapses whitespace, composes NFC") {
    import spark.implicits._
    val in = Seq(
      "<p class=\"x\">hello   <b>world</b></p>",
      "tabs\t\tand\nnewlines",
      "accent: e\u0301 composed",     // NFC: e + U+0301 -> U+00E9
      "plain ascii untouched",
      "\u00e9 already composed").toDF("t")
    val out = in.select(TextOps.cleanText(col("t")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq(
      "hello world",
      "tabs and newlines",
      "accent: \u00e9 composed",
      "plain ascii untouched",
      "\u00e9 already composed"))
  }

  test("scrubPii redacts emails, IPs, phone runs; counts match") {
    import spark.implicits._
    val in = Seq(
      "write to alice.b+spam@mail.example.org today",
      "server at 192.168.0.1 responded",
      "call +44 20 7946 0958 now",
      "mixed: bob@x.io from 10.0.0.7, dial 555 123 4567",
      "nothing to hide here").toDF("t")
    val out = in.select(TextOps.scrubPii(col("t")).as("s"),
      TextOps.piiCount(col("t")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(
      ("write to <EMAIL> today", 1L),
      ("server at <IP> responded", 1L),
      ("call <PHONE> now", 1L),
      ("mixed: <EMAIL> from <IP>, dial <PHONE>", 3L),
      ("nothing to hide here", 0L)))
  }

  test("chunks: overlapping windows cover the text, ids dense") {
    import spark.implicits._
    val in = Seq((1L, "a" * 450), (2L, "xy")).toDF("doc_id", "text")
    val got = TextOps.chunks(in, 200, 150)
      .orderBy("doc_id", "chunk_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2).length))
    // doc 1: offsets 0,150,300 -> lens 200,200,150; doc 2: one short chunk
    assert(got.toSeq == Seq((1L, 0L, 200), (1L, 1L, 200), (1L, 2L, 150),
      (2L, 0L, 2)))
    // reconstruction: stride-aligned prefixes concatenate to the source
    val full = TextOps.chunks(in.where(col("doc_id") === 1), 200, 150)
      .orderBy("chunk_id").collect()
      .map(_.getString(2)).map(_.take(150)).mkString
    assert(full == "a" * 450)
  }

  test("bm25: term-dense docs rank first, absent terms score nothing") {
    import spark.implicits._
    val in = Seq(
      (1L, "spark spark spark filler filler"),
      (2L, "spark filler filler filler filler"),
      (3L, "nothing relevant in here at all")).toDF("doc_id", "text")
    val got = TextOps.bm25(in, Seq("spark"))
      .orderBy(col("score").desc).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(_._1).toSeq == Seq(1L, 2L), "rank by term density")
    assert(got.forall(_._2 > 0) && got.length == 2,
      "docs without any query term don't appear")
  }

  test("per-domain cap keeps exactly k rows per stratum, longest first") {
    val capped = Sampling.perStratumTopK(docs, col("source"),
      Seq(col("n_chars").desc, col("doc_id").asc), 2)
    val bySrc = capped.groupBy("source").count().collect()
    assert(bySrc.nonEmpty && bySrc.forall(_.getLong(1) <= 2))
    val srcMax = docs.groupBy("source").agg(max("n_chars").as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    capped.groupBy("source").agg(max("n_chars").as("got")).collect()
      .foreach(r => assert(r.getLong(1) == srcMax(r.getString(0)),
        "cap must retain each stratum's max"))
  }

  test("multimodal stub decode matches columnar fingerprint") {
    val feats = Multimodal.extractFeatures(spark, Multimodal.asMedia(docs))
      .toDF().select(col("doc_id"), col("checksum"))
    val colFp = docs.select(col("doc_id"),
      TextOps.fingerprint(col("text")).as("fp"))
    val joined = feats.join(colFp, "doc_id")
      .where(col("checksum") =!= col("fp")).count()
    assert(joined == 0, "mapPartitions stub and Column fingerprint agree")
  }

  test("audio frame sampling: geometry from metadata, features exact") {
    import spark.implicits._
    // "abab" alternates around 128? No: use chars straddling 128 via
    // explicit bytes — text is ASCII (<128) so samples are all negative;
    // zero-cross must then be 0 and peak = 128 - min char code.
    val one = Seq((0L, "aaaabbbbccccdddd")).toDF("doc_id", "text")
    val fr = Multimodal.audioFrames(spark, Multimodal.asAudio(one), 4, 2)
      .collect().sortBy(_.frame_idx)
    // doc_id 0 -> sample_rate 8000 -> frame 32 samples, hop 16; 16 chars
    // < 32 samples -> no full frame
    assert(fr.isEmpty)
    val two = Seq((1L, "a" * 100)).toDF("doc_id", "text")
    // doc_id 1 -> 12000 Hz -> frame 48, hop 24; frames at 0,24,48 -> 3
    val fr2 = Multimodal.audioFrames(spark, Multimodal.asAudio(two), 4, 2)
      .collect().sortBy(_.frame_idx)
    assert(fr2.length == 3 && fr2.map(_.start_ms).toSeq == Seq(0L, 2L, 4L))
    val s = 'a'.toInt - 128 // -31
    assert(fr2.forall(f => f.n_samples == 48 && f.sum_sq == 48L * s * s &&
      f.peak == 31 && f.zero_cross == 0 &&
      f.rms == math.sqrt((48L * s * s).toDouble / 48)))
  }

  test("training order equals the single-partition reference rank") {
    import org.apache.spark.sql.expressions.Window
    val ord = Order.trainingOrder(docs, col("doc_id"), "s7")
      .select(col("doc_id"), col("position"))
    // reference: the naive global window (fine on a test-sized input)
    val ref = docs.select(col("doc_id"),
        md5(concat(lit("s7"), col("doc_id").cast("string"))).as("k"))
      .withColumn("refpos",
        row_number().over(Window.orderBy(col("k"), col("doc_id")))
          .cast("long") - 1)
    val bad = ord.join(ref, "doc_id")
      .where(col("position") =!= col("refpos")).count()
    assert(bad == 0, "bucketed two-phase rank must equal the global rank")
    // positions are a permutation of 0..n-1
    val n = docs.count()
    assert(ord.agg(min("position"), max("position"),
      countDistinct("position")).head() ==
      org.apache.spark.sql.Row(0L, n - 1, n))
  }

  test("pack offsets are the exact prefix sums of the shuffled order") {
    val p = Order.packOrder(docs, col("doc_id"),
        size(TextOps.tokens(col("text"))), "s7", 256)
      .select("doc_id", "n_tokens", "tok_off", "start_bin", "start_off",
        "end_bin")
      .collect().sortBy(_.getAs[Long]("tok_off"))
    var cum = 0L
    p.foreach { r =>
      assert(r.getAs[Long]("tok_off") == cum, s"gap at ${r}")
      assert(r.getAs[Long]("start_bin") == cum / 256)
      assert(r.getAs[Long]("start_off") == cum % 256)
      val n = r.getAs[Long]("n_tokens")
      val endBin = if (n > 0) (cum + n - 1) / 256 else cum / 256
      assert(r.getAs[Long]("end_bin") == endBin)
      cum += n
    }
    assert(cum > 0, "fixture must contain tokens")
  }

  test("dedupApply keeps exactly the canonical member of each cluster") {
    val clusters = Dedup.dupClusters(Dedup.ngramJaccardPairs(docs, 8, 10))
    val survivors = Dedup.dedupApply(docs, clusters)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val cl = clusters.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
    assert(cl.nonEmpty, "fixture should produce clusters")
    cl.foreach { case (d, c) =>
      assert(survivors.contains(d) == (d == c),
        s"doc $d (cluster $c) kept=${survivors.contains(d)}")
    }
    val clustered = cl.map(_._1).toSet
    val n = docs.count()
    assert(survivors.size ==
      n - clustered.size + cl.count { case (d, c) => d == c })
  }

  test("token familiarity: counts and single-division average") {
    import spark.implicits._
    val tiny = Seq((1L, "a a b"), (2L, "b zz")).toDF("doc_id", "text")
    val got = TextOps.tokenFamiliarity(tiny).collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getLong(2), r.getLong(3)))).toMap
    // freqs: a=2, b=2, zz=1
    assert(got(1L) == (((2 + 2 + 2) / 3.0, 2L, 2L)))
    assert(got(2L) == (((2 + 1) / 2.0, 1L, 2L)))
  }

  test("video keyframe sampling: stride geometry and exact luma stats") {
    import spark.implicits._
    // doc_id 1 -> fps 18, width 12, height 8 -> frame 96 bytes;
    // 200 chars -> 2 full frames, every-3rd sampling keeps frame 0 only
    val one = Seq((1L, "ab" * 100)).toDF("doc_id", "text")
    val fr = Multimodal.videoFrames(spark, Multimodal.asVideo(one), 3)
      .collect()
    assert(fr.length == 1 && fr.head.frame_idx == 0)
    val f = fr.head
    assert(f.n_px == 96 && f.byte_off == 0 && f.ts_ms == 0)
    assert(f.sum_luma == 48L * ('a'.toInt + 'b'.toInt))
    assert(f.min_luma == 'a'.toInt && f.max_luma == 'b'.toInt)
    // 5 frames -> every-3rd keeps 0 and 3; ts of frame 3 at 18fps = 166ms
    val two = Seq((1L, "x" * 480)).toDF("doc_id", "text")
    val fr2 = Multimodal.videoFrames(spark, Multimodal.asVideo(two), 3)
      .collect().sortBy(_.frame_idx)
    assert(fr2.map(_.frame_idx).toSeq == Seq(0, 3))
    assert(fr2(1).ts_ms == 3L * 1000 / 18 && fr2(1).byte_off == 288L)
  }

  test("exact percentiles equal the sorted multiset's nearest-rank picks") {
    val got = Sampling.exactPercentiles(docs, col("lang"),
        col("n_chars").cast("long"), Seq(0.5, 0.9, 0.99))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val by = docs.select("lang", "n_chars").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).sorted)
    by.foreach { case (lang, vs) =>
      def pick(p: Double) = vs(math.ceil(p * vs.length).toInt - 1)
      assert(got(lang) == ((pick(0.5), pick(0.9), pick(0.99))), lang)
    }
  }

  test("vocab matches a local word count") {
    val got = TextOps.vocab(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = docs.select("doc_id", "text").collect()
    val occ = new scala.collection.mutable.HashMap[String, Long]()
    val dfq = new scala.collection.mutable.HashMap[String, Set[Long]]()
    rows.foreach { r =>
      val id = r.getLong(0)
      r.getString(1).split(" ", -1).foreach { w =>
        occ(w) = occ.getOrElse(w, 0L) + 1
        dfq(w) = dfq.getOrElse(w, Set.empty[Long]) + id
      }
    }
    assert(got.size == occ.size)
    occ.foreach { case (w, c) =>
      assert(got(w) == ((c, dfq(w).size.toLong)), s"mismatch for '$w'")
    }
  }

  test("incremental dedup equals the full self-join restricted to new docs") {
    val full = Dedup.ngramJaccardPairs(docs, 8, 10)
      .select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val touchingNew = full.filter { case (a, b) => a >= 400 || b >= 400 }
      // the op reports (new, corpus) for cross pairs
      .map { case (a, b) => if (a >= 400) (a, b) else if (b >= 400) (b, a)
        else (a, b) }
    val inc = Dedup.incrementalJaccardPairs(
      docs.where(col("doc_id") < 400), docs.where(col("doc_id") >= 400),
      8, 10)
      .select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == touchingNew,
      s"incremental pairs diverge: extra ${inc -- touchingNew}, " +
        s"missing ${touchingNew -- inc}")
  }

  test("priority dedup keeps the longest cluster member; singletons stay") {
    val clusters = Dedup.dupClusters(Dedup.ngramJaccardPairs(docs, 8, 10))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(clusters.nonEmpty)
    val kept = Dedup.dedupApplyByPriority(docs, Dedup.dupClusters(
        Dedup.ngramJaccardPairs(docs, 8, 10)), -col("n_chars"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val lens = docs.select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exactly one survivor per cluster: the max-length (min-id tiebreak)
    clusters.groupBy(_._2).foreach { case (_, members) =>
      val ids = members.map(_._1)
      val want = ids.minBy(id => (-lens(id), id))
      assert(ids.filter(kept).toSeq == Seq(want))
    }
    // docs in no cluster survive
    val clustered = clusters.map(_._1).toSet
    docs.select("doc_id").collect().map(_.getLong(0))
      .filterNot(clustered).foreach(id => assert(kept(id)))
  }

  test("percentile floor filter: threshold equals the stratum's p10") {
    val got = Sampling.percentileFloorFilter(docs, col("lang"),
      col("n_chars").cast("long"), 0.1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val rows = docs.select("doc_id", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    rows.groupBy(_._2).foreach { case (_, g) =>
      val sorted = g.map(_._3).sorted
      val thr = sorted(math.ceil(0.1 * g.length).toInt - 1)
      g.foreach { case (id, _, v) =>
        assert(got(id) == (v >= thr), s"doc $id: v=$v thr=$thr")
      }
    }
  }

  test("mix plan: targets floor the budget split, rates exact") {
    import spark.implicits._
    val tiny = Seq((1L, "a b c d", "s1"), (2L, "e f", "s1"),
      (3L, "g h i", "s2"), (4L, "j", "s3"))
      .toDF("doc_id", "text", "source")
    val got = Sampling.mixPlan(tiny, size(TextOps.tokens(col("text"))),
      col("source"), Map("s1" -> 0.5, "s2" -> 0.3), 1000L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got("s1") == ((2L, 6L, 500L, 500.0 / 6)))
    assert(got("s2") == ((1L, 3L, math.floor(1000 * 0.3).toLong,
      math.floor(1000 * 0.3) / 3)))
    assert(got("s3") == ((1L, 1L, 0L, 0.0))) // unlisted stratum: weight 0
  }

  test("mix apply: copy counts are floor(rate) + hash fraction, exact") {
    val applied = Sampling.resampleToMix(docs, col("doc_id"), col("source"),
      Map("src0" -> 2.5, "src1" -> 0.4))
      .groupBy("doc_id", "source").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(applied.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    applied.foreach { case (id, src, n) =>
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val expected = src match {
        case "src0" => 2L + (if (hex < "80000000") 1 else 0)
        case "src1" => if (hex < "66666666") 1L else 0L
        case _ => 1L
      }
      assert(n == expected, s"doc $id ($src): $n copies, expected $expected")
    }
    // downsampled stratum loses its over-threshold rows entirely
    val src1Kept = applied.count(_._2 == "src1")
    val src1All = docs.where(col("source") === "src1").count()
    assert(src1Kept < src1All)
  }

  test("semdedup pairs: exact cosines, subset of brute force, sane recall") {
    val tau = 0.4
    val got = Similarity.semdedupPairs(emb, tau)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(got.nonEmpty, "fixture should contain semantic near-dups")
    // full-space truth over the same threshold (probe = everything)
    val brute = Similarity.cosinePairs(emb, tau, lit(true))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    // precision 1 with bit-exact cosines: every reported pair is a true
    // pair with the identical sequential-fold cosine
    got.foreach { case (k, c) =>
      assert(brute.contains(k), s"pair $k not in brute-force truth")
      assert(brute(k) == c, s"cosine drift for $k")
    }
    // recall < 1 by construction (cross-cluster pairs unseen) but the
    // clustering must catch a solid fraction at this nlist
    val recall = got.size.toDouble / brute.size
    assert(recall >= 0.5, s"semdedup recall $recall < 0.5")
  }

  test("ngram-overlap contamination: self-overlap is total, frac exact") {
    import spark.implicits._
    val bench = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // identical: frac 1
      (11L, "alpha beta gamma delta epsilon nu xi omicron pi rho"),
      (12L, "one two three four five six seven")) // disjoint: frac 0
      .toDF("doc_id", "text")
    val got = Dedup.ngramOverlapContamination(corpus, bench, 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(10L) == ((2L, 2L, 1.0)))
    // doc 11: 6 distinct 5-grams, only "alpha..epsilon" in the bench set
    assert(got(11L) == ((6L, 1L, 1.0 / 6)))
    assert(got(12L) == ((3L, 0L, 0.0)))
    // minFrac filter drops clean docs
    val flagged = Dedup.ngramOverlapContamination(corpus, bench, 5, 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(flagged == Set(10L))
  }

  test("unigram perplexity: tiny-corpus exact cross-entropy") {
    import spark.implicits._
    // corpus: 4 tokens total — "a" freq 2, "b" freq 1, "c" freq 1
    val tiny = Seq((1L, "a a b"), (2L, "c")).toDF("doc_id", "text")
    val got = TextOps.unigramPerplexity(tiny)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    // doc 1: -(2*log2(2/4) + log2(1/4))/3 = (2*1 + 2)/3 = 4/3 bits
    val h1 = 4.0 / 3
    assert(got(1L)._1 == 3L)
    assert(math.abs(got(1L)._2 - math.rint(h1 * 1e6) / 1e6) < 1e-9)
    assert(math.abs(got(1L)._3 - math.rint(math.pow(2, h1) * 1e4) / 1e4) < 1e-9)
    // doc 2: -log2(1/4) = 2 bits, perplexity 4
    assert(got(2L) == ((1L, 2.0, 4.0)))
  }

  test("duplicated spans: overlap-merge, disjoint islands, exact bounds") {
    import spark.implicits._
    val tiny = Seq(
      (1L, "a b c d e f g h"),             // fully covered via overlap
      (2L, "z1 a b c d e z2 z3"),          // one 5-token span [1,5]
      (3L, "p1 p2 e f g h p3 p4"),         // one 4-token span [2,5]
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8"),     // unique — no spans
      (5L, "a b c d m1 m2 m3 m4 m5 e f g h")) // two DISJOINT islands
      .toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(tiny, 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(spans == Set((1L, 0, 7), (2L, 1, 5), (3L, 2, 5),
      (5L, 0, 3), (5L, 9, 12)))
    val stats = Dedup.spanStats(tiny, 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    assert(stats == Map(1L -> ((1L, 8L, 8)), 2L -> ((1L, 5L, 8)),
      3L -> ((1L, 4L, 8)), 5L -> ((2L, 8L, 13))))
  }

  test("span removal: earliest copy keeps text, later copies cut exactly") {
    import spark.implicits._
    val tiny = Seq(
      (1L, "a b c d e f g h"),
      (2L, "z1 a b c d e z2 z3"),
      (3L, "p1 p2 e f g h p3 p4"),
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8"),
      (5L, "a b c d m1 m2 m3 m4 m5 e f g h"))
      .toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(tiny, 4)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2))))
      .toMap
    assert(got(1L) == (("a b c d e f g h", 8)))       // owner: untouched
    assert(got(2L) == (("z1 z2 z3", 3)))
    assert(got(3L) == (("p1 p2 p3 p4", 4)))
    assert(got(4L) == (("u1 u2 u3 u4 u5 u6 u7 u8", 8)))
    assert(got(5L) == (("m1 m2 m3 m4 m5", 5)))        // both islands cut
  }

  test("quality classifier: exact linear score, sigmoid in bounds") {
    import spark.implicits._
    val tiny = Seq((1L, "the cat sat")).toDF("doc_id", "text")
    // ttr = 1, stop = 1/3, ntok = 3, avg token len = 3
    val score = -2.0 + 2.0 * 1.0 + 3.0 * (1.0 / 3) + 0.004 * 3 + -0.5 * 3.0
    val r = TextOps.qualityClassifier(tiny).head
    assert(r.getDouble(1) == score, "bit-identical same-order IEEE sum")
    assert(math.abs(r.getDouble(2) - 1.0 / (1.0 + math.exp(-score))) < 1e-3)
    val all = TextOps.qualityClassifier(docs).collect()
    assert(all.forall(x => x.getDouble(2) > 0 && x.getDouble(2) < 1))
  }

  test("containment: token-aligned only, both directions for equals") {
    import spark.implicits._
    val tiny = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (2L, "pre w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 post"),   // contains 1
      (3L, "xw1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),           // char-level trap
      (4L, "a1 a2 a3 a4 a5"),
      (5L, "a1 a2 a3 a4 a5"))                             // equal: both ways
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(tiny, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (4L, 5L), (5L, 4L)),
      s"boundary padding must reject the mid-token match; got $got")
  }

  test("containment: short docs (< k tokens) are found, incl. equal pairs") {
    import spark.implicits._
    val tiny = Seq(
      (1L, "x y"),                          // 2 tokens, contained in 3
      (2L, "solo"),                         // 1 token, contained in 3
      (3L, "a x y b solo c"),
      (4L, "m n"), (5L, "m n"),             // equal short: both directions
      (6L, "q r s"))                        // short but contained nowhere
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(tiny, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 3L), (2L, 3L), (4L, 5L), (5L, 4L)),
      s"short-doc fallback missed/over-matched: $got")
  }

  test("containment: corpus-hot opening boilerplate does not defeat the probe") {
    import spark.implicits._
    // every doc OPENS with the same k tokens (head gram df = n) — the
    // old head-gram probe made every doc a candidate of every other;
    // the rarest-gram probe keys each doc on its unique tail instead.
    // Only doc 1 is genuinely contained (doc 2 embeds it verbatim).
    val tiny = Seq(
      (1L, "legal header boiler plate u1 u2"),
      (2L, "pre legal header boiler plate u1 u2 post"),
      (3L, "legal header boiler plate v1 v2"),
      (4L, "legal header boiler plate w1 w2"),
      (5L, "legal header boiler plate z1 z2"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(tiny, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)), s"got $got")
  }

  test("gram keys are 128-bit two-channel structs (span-removal safety)") {
    import spark.implicits._
    // removeDuplicateSpans deletes text on key equality alone, so the
    // key MUST stay 128-bit (two independent channels): at 64 bits a
    // trillion-gram corpus makes birthday collisions — and so wrong
    // deletions — certain. Lock the schema so a regression to a single
    // long fails here, not in production.
    val g = Dedup.gramKeyRows(
      Seq((1L, "a b c d e")).toDF("doc_id", "text"), 4)
    val gf = g.schema("g").dataType match {
      case s: org.apache.spark.sql.types.StructType => s.fieldNames.toSeq
      case other => fail(s"gram key must be a struct, got $other")
    }
    assert(gf == Seq("h1", "h2"))
    // the channels are independent hashes, not copies
    val r = g.collect()
    assert(r.nonEmpty && r.forall { row =>
      val k = row.getStruct(row.fieldIndex("g"))
      k.getLong(0) != k.getLong(1)
    })
  }

  test("DotSeq native expression: value, length, null, empty contract") {
    import spark.implicits._
    val one = Seq(1).toDF("x")
    def d(a: String, b: String) = one.select(Similarity.dotSeq(
      expr(a).cast("array<float>"), expr(b).cast("array<float>")))
    assert(d("array(1.0, 2.0)", "array(3.0, 4.0)").head.getDouble(0) == 11.0)
    assert(d("array(1.0)", "array(1.0, 2.0)").head.isNullAt(0),
      "length mismatch must be NULL (zip_with padding semantics)")
    assert(d("array(1.0, cast(null as float))", "array(1.0, 2.0)")
      .head.isNullAt(0), "null element must be NULL")
    assert(d("array()", "array()").head.getDouble(0) == 0.0)
    // bit-identical to the legacy HOF fold it replaced
    val legacy = aggregate(zip_with(
      expr("array(0.1, -2.3, 7.7)").cast("array<float>"),
      expr("array(1.5, 0.33, -9.1)").cast("array<float>"),
      (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val row = one.select(Similarity.dotSeq(
      expr("array(0.1, -2.3, 7.7)").cast("array<float>"),
      expr("array(1.5, 0.33, -9.1)").cast("array<float>")).as("n"),
      legacy.as("l")).head
    assert(row.getDouble(0) == row.getDouble(1), "must match the HOF fold bit-for-bit")
  }

  test("cross perplexity: exact smoothed entropy on a tiny corpus") {
    import spark.implicits._
    val ref = Seq((10L, "a a b")).toDF("doc_id", "text")
    val d = Seq((1L, "a c")).toDF("doc_id", "text")
    // n_ref = 3, v_ref = 2, denom = 6; p(a) = 3/6, p(c OOV) = 1/6
    val h = -(math.log(3.0 / 6) / math.log(2) +
      math.log(1.0 / 6) / math.log(2)) / 2
    val r = TextOps.crossPerplexity(d, ref).head
    assert(r.getLong(1) == 2L)
    assert(math.abs(r.getDouble(2) - h) < 1e-12)
    assert(math.abs(r.getDouble(3) - math.pow(2, h)) < 1e-12)
  }

  test("collocations: exact counts, IEEE-exact lift, PMI consistent") {
    import spark.implicits._
    val tiny = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    // n_tok = 7, n_bg = 5; c(a) = c(b) = 3; c(ab) = 3
    val r = TextOps.collocations(tiny, minCount = 2).collect()
    assert(r.length == 1)
    val row = r.head
    assert((row.getString(0), row.getString(1)) == (("a", "b")))
    assert(row.getLong(2) == 3 && row.getLong(3) == 3 && row.getLong(4) == 3)
    val lift = (3.0 * 7 * 7) / (5.0 * 3 * 3)
    assert(row.getDouble(5) == lift, "lift must be IEEE-exact")
    assert(math.abs(row.getDouble(6) - math.log(lift) / math.log(2)) < 1e-12)
  }

  test("span invariants hold on the real corpus") {
    val st = Dedup.spanStats(docs, 8).collect()
    assert(st.forall(r => r.getLong(2) <= r.getInt(3)),
      "dup_tokens must never exceed n_tok")
    val sp = Dedup.duplicateSpans(docs, 8).collect()
    assert(sp.forall(r => r.getInt(1) >= 0 && r.getInt(1) <= r.getInt(2) &&
      r.getInt(2) < r.getInt(4)), "span bounds inside the document")
  }
}
