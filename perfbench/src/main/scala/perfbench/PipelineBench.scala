package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.ops.{Dedup, ScratchCaches, Similarity, TextOps}

/** `pipeline-batch`: one driver thread runs the dedup pipeline over a
  * replicated corpus — exact → MinHash LSH → clusters → apply → quality
  * → parquet write, then SimHash and SemDeDup — and checks every output
  * against the generator's own expectations.
  */
final class PipelineBench(spark: SparkSession, cfg: Config, res: Result) {
  private val Steps = Seq("exact", "minhash", "clusters", "apply", "quality", "write",
    "simhash", "semdedup")

  private val base = Corpus.baseDocs(cfg.seed, Config.Docs)
  private val baseVecs = Corpus.baseVecs(cfg.seed, Config.Vectors)
  private val want = Corpus.expected(base)
  private val reps = Config.Replicas
  private val nDocs = base.size.toLong * reps
  private val docPath = cfg.work.resolve("documents.parquet").toString
  private val embPath = cfg.work.resolve("embeddings.parquet").toString

  /** Texts and vectors by id: the inputs, and the means to re-check
    * reported pairs.
    */
  private val textOf: Map[Long, String] = (0 until reps).flatMap(r =>
    base.map(d => Corpus.replicaDoc(d, r)).map(d => d.id -> d.text)).toMap
  private val vecOf: Map[Long, Array[Float]] = (0 until reps).flatMap(r =>
    baseVecs.map(v => Corpus.replicaVec(v, r)).map(v => v.id -> v.v)).toMap

  private def writeInputs(): Unit = {
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    val docRows = textOf.toSeq.sortBy(_._1).map { case (id, t) =>
      Row(id, t, "en", if (id % 2 == 0) "web" else "books", t.length.toLong)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(docRows, cfg.cores),
      docSchema).write.parquet(docPath)
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val embRows = vecOf.toSeq.sortBy(_._1).map { case (id, v) =>
      Row(id, v.toSeq, (id % 10).toInt)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(embRows, cfg.cores),
      embSchema).write.parquet(embPath)
  }

  private final case class Pass(stepS: Map[String, Double], wallS: Double,
      pairs: Long, kept: Long, scratch: Int)

  /** One full pass. `span` wraps each step (a no-op when not tracing);
    * every output is checked, and every failed check is logged and
    * counted.
    */
  private def pass(docs: DataFrame, emb: DataFrame,
      span: String => (=> Any) => Any): Pass = {
    val times = mutable.LinkedHashMap.empty[String, Double]
    val held = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = {
      held += df.persist(StorageLevel.MEMORY_AND_DISK); df
    }
    def step[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val out = span(name)(body).asInstanceOf[T]
      times(name) = (System.nanoTime() - t0) / 1e9
      out
    }
    def check(what: String, ok: Boolean, detail: => String): Unit = {
      res.count(ok)
      if (!ok) res.note(s"check failed: $what: $detail")
    }
    val out = cfg.work.resolve("kept.parquet").toString

    val exact = step("exact") {
      val e = keep(Dedup.exact(docs)); e.count(); e
    }
    val nExact = exact.count()
    check("exact kept", nExact == want.exactKept.toLong * reps,
      s"$nExact != ${want.exactKept} x $reps")
    val exactDocs = keep(docs.join(
      exact.select(col("keep_id").as("doc_id")), "doc_id"))

    val pairsDf = keep(Dedup.minhashLshPairs(exactDocs, 64, 16, 8, 10))
    val pairs = step("minhash")(pairsDf.collect())
    val badPairs = pairs.count { r =>
      val j = Corpus.jaccard(Corpus.shingles(textOf(r.getAs[Long]("da"))),
        Corpus.shingles(textOf(r.getAs[Long]("db"))))
      j < 0.8 - 1e-12
    }
    check("minhash pairs meet 0.8", badPairs == 0, s"$badPairs below")
    check("minhash pair count", pairs.length == want.pairs.toLong * reps,
      s"${pairs.length} != ${want.pairs} x $reps")

    val clusters = step("clusters") {
      val c = keep(Dedup.dupClusters(pairsDf)); c.count(); c
    }
    val kept = step("apply") {
      val k = keep(Dedup.dedupApply(exactDocs, clusters)); k.count(); k
    }
    val nKept = kept.count()
    check("kept", nKept == want.kept.toLong * reps,
      s"$nKept != ${want.kept} x $reps")

    val q = step("quality") {
      TextOps.qualityMetrics(kept).agg(sum("n_tokens"), count(lit(1)))
        .collect().head
    }
    check("quality tokens", q.getLong(0) == want.keptTokens * reps,
      s"${q.getLong(0)} != ${want.keptTokens} x $reps")

    step("write")(kept.write.mode("overwrite").parquet(out))
    val written = spark.read.parquet(out).count()
    check("written", written == nKept, s"$written != $nKept")

    val nSim = step("simhash")(Dedup.simhashPairs(docs, 7).count())
    val sem = step("semdedup") {
      Similarity.semdedupPairs(emb, 0.4).select("va", "vb").collect()
    }
    val badSem = sem.count(r => Corpus.cosine(vecOf(r.getLong(0)),
      vecOf(r.getLong(1))) < 0.4 - 1e-4)
    check("semdedup pairs meet 0.4", badSem == 0, s"$badSem below")
    // the steps only: the checks between them are not the program's time
    val wall = times.values.sum

    val scratch = ScratchCaches.activeCount
    ScratchCaches.releaseAll()
    held.foreach(_.unpersist())
    res.note(f"pass ${wall}%.2f s: exact $nExact, pairs ${pairs.length}, " +
      s"kept $nKept, simhash $nSim, semdedup ${sem.length}; " +
      times.map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
    Pass(times.toMap, wall, pairs.length, nKept, scratch)
  }

  def run(): Unit = {
    writeInputs()
    val inBytes = Main.dirBytes(cfg.work.resolve("documents.parquet"))
    def read(): (DataFrame, DataFrame) = {
      val d = spark.read.parquet(docPath)
      val e = spark.read.parquet(embPath)
      d.count(); e.count()
      (d, e)
    }
    val setupS = (0 until Config.Setups).map { _ =>
      val t0 = System.nanoTime(); read(); (System.nanoTime() - t0) / 1e9
    }
    res.e2e("setup_s", res.sessionS + Stats.median(setupS), "s")
    val (docs, emb) = read()
    val plain: String => (=> Any) => Any = _ => body => body

    pass(docs, emb, plain) // warm-up
    if (!cfg.trace) {
      // whole passes, as many as fill the window to the nearest pass
      val passes = mutable.ArrayBuffer.empty[Pass]
      while (passes.isEmpty || passes.map(_.wallS).sum +
          passes.last.wallS / 2 <= cfg.seconds)
        passes += pass(docs, emb, plain)
      val walls = passes.map(_.wallS).toSeq
      res.note(s"input: $nDocs documents (${reps} replicas), " +
        s"${vecOf.size} vectors; ${passes.size} measured passes")
      val outBytes = Main.dirBytes(cfg.work.resolve("kept.parquet"))
      res.e2e("throughput_per_s", nDocs / Stats.median(walls), "1/s")
      res.e2e("latency_p50_ms", Stats.median(walls) * 1000, "ms")
      res.e2e("store_bytes_ratio", outBytes.toDouble / inBytes, "ratio")
    } else {
      // untraced passes before and after the traced one, so the overhead
      // is not confounded with warm-up
      val before = pass(docs, emb, plain)
      val listener = new JobListener
      spark.sparkContext.addSparkListener(listener)
      val rec = new Recorder(spark.sparkContext)
      val traced = rec.span("pass")(
        pass(docs, emb, name => body => rec.span(name)(body)))
      listener.drain()
      spark.sparkContext.removeSparkListener(listener)
      val after = pass(docs, emb, plain)
      val walls = Seq(before.wallS, after.wallS)
      val spans = rec.spans
      val jobs = listener.all
      val root = spans.find(_.name == "pass").get
      // the steps only: the checks between them are the benchmark's time
      val steps = spans.filter(_.parent == root.id)
      val stepIds = steps.flatMap(Recorder.subtree(_, spans)).toSet
      Steps.foreach(s => res.layer(s"ops.${s}_s", traced.stepS(s), "s"))
      res.layer("ops.pairs", traced.pairs.toDouble, "count")
      res.layer("ops.kept_frac", traced.kept.toDouble / nDocs, "ratio")
      res.layer("ops.scratch_live", traced.scratch.toDouble, "count")
      res.sparkLayers(jobs.filter(j => stepIds(j.span)), 1.0,
        steps.map(Recorder.driverOnlyMs(_, spans, jobs)).sum)
      val untraced = Stats.median(walls)
      res.traceOverhead(nDocs / untraced, nDocs / traced.wallS,
        untraced * 1000, traced.wallS * 1000)
      Recorder.writeSpans(cfg.spanFile, spans, jobs)
      res.note(s"traced pass ${traced.wallS} s; spans in ${cfg.spanFile}")
    }
  }
}
