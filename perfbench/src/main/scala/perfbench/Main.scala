package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One run's settings, from the command line. */
final case class Config(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: Path, spanFile: Path, cores: Int)

/** Sizes, fixed so that every run, and every commit, measures the same
  * work: 5,000 TPC-H customers (276,094 quads, a third of sf0.1) for the
  * server workloads; 5,000 documents and 2,000 vectors, replicated twice,
  * for the pipeline; three set-ups per run.
  */
object Config {
  val Customers = 5000
  val Setups = 3
  val Docs = 5000
  val Vectors = 2000
  val Replicas = 2
}

/** Everything a run reports: operation counts, the metrics of the mode
  * (end-to-end without tracing, per-layer with it) and free-form notes
  * printed before the result line.
  */
final class Result(val sessionS: Double) {
  private var attempted = 0L
  private var failed = 0L
  private val e2eM = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layerM = mutable.LinkedHashMap.from(Result.Layers.map {
    case (n, u) => n -> (0.0, u) })
  val notes = mutable.ArrayBuffer.empty[String]

  def count(ok: Boolean): Unit = synchronized {
    attempted += 1; if (!ok) failed += 1
  }
  def note(s: String): Unit = synchronized(notes += s)
  def e2e(name: String, v: Double, unit: String): Unit = e2eM(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = {
    require(layerM.contains(name), s"unknown layer metric $name")
    layerM(name) = (v, unit)
  }

  /** `spark.*` per unit of work (request or pass) from listener jobs. */
  def sparkLayers(jobs: Seq[JobRec], units: Double, driverOnlyMs: Double): Unit = {
    def per(f: JobRec => Double) = jobs.map(f).sum / units
    val mb = 1024.0 * 1024.0
    layer("spark.jobs", jobs.size / units, "count")
    layer("spark.stages", per(_.stages), "count")
    layer("spark.tasks", per(_.tasks), "count")
    layer("spark.task_run_ms", per(_.runMs.toDouble), "ms")
    layer("spark.task_cpu_ms", per(_.cpuNs / 1e6), "ms")
    layer("spark.gc_ms", per(_.gcMs.toDouble), "ms")
    layer("spark.scheduler_delay_ms", per(_.schedulerDelayMs.toDouble), "ms")
    layer("spark.shuffle_read_mb", per(_.shuffleReadBytes / mb), "MB")
    layer("spark.shuffle_write_mb", per(_.shuffleWriteBytes / mb), "MB")
    layer("spark.spill_mb", per(_.spillBytes / mb), "MB")
    layer("spark.task_failures", per(_.taskFailures.toDouble), "count")
    layer("spark.driver_only_ms", driverOnlyMs, "ms")
  }

  /** Traced minus untraced, from the phases of one run. */
  def traceOverhead(thrUntraced: Double, thrTraced: Double,
      p50Untraced: Double, p50Traced: Double): Unit = {
    layer("trace.overhead_frac", 1.0 - thrTraced / thrUntraced, "ratio")
    layer("trace.overhead_p50_ms", p50Traced - p50Untraced, "ms")
  }

  def line(trace: Boolean): String = {
    val ms = (if (trace) layerM else e2eM).toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    Json.obj(Seq("correct" -> Json.bool(failed == 0 && attempted > 0),
      "attempted" -> Json.num(attempted.toDouble),
      "failed" -> Json.num(failed.toDouble), "metrics" -> Json.obj(ms)))
  }
}

object Result {
  /** Every per-layer metric, printed on every workload; a layer that
    * does not run on a workload reports 0.
    */
  val Layers: Seq[(String, String)] = Seq(
    "server.overhead_ms" -> "ms",
    "parser.parse_ms" -> "ms",
    "exec.translate_ms" -> "ms", "exec.translate_jobs" -> "count",
    "catalyst.optimize_ms" -> "ms", "catalyst.plan_ms" -> "ms",
    "catalyst.plan_nodes" -> "count", "catalyst.exchanges" -> "count",
    "catalyst.probe_plan_nodes" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_run_ms" -> "ms",
    "spark.task_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.scheduler_delay_ms" -> "ms", "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.task_failures" -> "count", "spark.driver_only_ms" -> "ms",
    "io.results_ms" -> "ms", "io.result_kb" -> "KB",
    "io.parse_s" -> "s", "io.save_s" -> "s", "io.open_s" -> "s",
    "update.request_ms" -> "ms", "update.read_slowdown" -> "ratio",
    "ops.exact_s" -> "s", "ops.minhash_s" -> "s", "ops.clusters_s" -> "s",
    "ops.apply_s" -> "s", "ops.quality_s" -> "s", "ops.simhash_s" -> "s",
    "ops.semdedup_s" -> "s", "ops.write_s" -> "s",
    "ops.pairs" -> "count", "ops.kept_frac" -> "ratio",
    "ops.scratch_live" -> "count",
    "trace.overhead_frac" -> "ratio", "trace.overhead_p50_ms" -> "ms")
}

/** Entry point: `perfbench.Main --workload <w> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`. Prints notes, then one JSON result line.
  */
object Main {
  val Workloads = Seq("sparql-read", "sparql-rw", "pipeline-batch")

  def dirBytes(p: Path): Long =
    Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator.asScala.toSeq.reverse.foreach(Files.delete)

  /** Driver heap the heap pools hold after a full collection. */
  private def retainedHeapMb(): Double = {
    System.gc(); Thread.sleep(200); System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum /
      (1024.0 * 1024.0)
  }

  def parse(args: Array[String]): Config = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val w = need("--workload")
    require(Workloads.contains(w), s"unknown workload $w")
    val work = Paths.get(need("--work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    Config(w, need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", work.resolve("run"),
      work.getParent.resolve(s"spans-$w.jsonl"), cores)
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    deleteTree(cfg.work)
    Files.createDirectories(cfg.work)
    val spark = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", cfg.work.resolve("wh").toString)
      .config("spark.local.dir", cfg.work.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val res = new Result((System.currentTimeMillis() - jvmStart) / 1000.0)
    res.note(s"session: local[${cfg.cores}], shuffle.partitions=${cfg.cores}, " +
      s"UTC, UI off; workload ${cfg.workload}, seed ${cfg.seed}, " +
      s"${cfg.seconds} s, trace ${if (cfg.trace) 1 else 0}")
    try {
      if (cfg.workload == "pipeline-batch") new PipelineBench(spark, cfg, res).run()
      else new ServerBench(spark, cfg, res).run()
      if (!cfg.trace) res.e2e("retained_heap_mb", retainedHeapMb(), "MB")
    } finally spark.stop()
    deleteTree(cfg.work)
    res.notes.foreach(n => println("# " + n))
    println(res.line(cfg.trace))
  }
}
