package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Per-query micro-benchmark with execution-shape metrics (r12 guide §1:
  * measure first). For each named SparkEntry query, runs `SPARK_GRAFT_RUNS`
  * timed repetitions (default 5) and reports the MEDIAN wall seconds plus
  * per-run job/stage/task counts and shuffle bytes from a SparkListener —
  * the empirical counters the optimization round cites next to plan
  * shapes. Warmup: one untimed run per query (JIT + store caches), after
  * the session-wide quad warmup.
  *
  * Usage: runMain graft.tools.QBench <q1,q2,...> [sfDir]
  */
object QBench {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "5").toInt
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    sys.env.get("QBENCH_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); builder.config(k, v)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shufRead = new AtomicLong
    val shufWrite = new AtomicLong
    val stageLog =
      new java.util.concurrent.ConcurrentLinkedQueue[
        (Int, Long, Int, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        shufRead.addAndGet(
          s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        shufWrite.addAndGet(
          s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        val wall = (for {
          a <- s.stageInfo.completionTime; b <- s.stageInfo.submissionTime
        } yield a - b).getOrElse(-1L)
        stageLog.add((s.stageInfo.stageId, wall, s.stageInfo.numTasks,
          s.stageInfo.taskMetrics.executorRunTime,
          s.stageInfo.name.take(90)))
      }
    })

    if (new java.io.File(s"$sfDir/lineitem.parquet").exists())
      graft.io.TpchRdf.quads(spark, sfDir).count()

    def med(xs: Seq[Double]): Double = { val s = xs.sorted; s((s.length - 1) / 2) }

    def report(name: String,
        samples: Seq[(Double, Long, Int, Int, Int, Long, Long)]): Unit = {
      val m = med(samples.map(_._1))
      val last = samples.last
      println(f"QBENCH $name%-24s med=${m}%7.3f s  rows=${last._2}%7d  " +
        f"jobs=${last._3}%3d stages=${last._4}%4d tasks=${last._5}%5d " +
        f"shufR=${last._6 / 1024}%8d KB shufW=${last._7 / 1024}%8d KB  " +
        "all=" + samples.map(s => f"${s._1}%.2f").mkString(","))
      if (sys.env.contains("QBENCH_STAGES")) {
        import scala.jdk.CollectionConverters._
        val top = stageLog.asScala.toSeq.sortBy(-_._2).take(12)
        top.foreach { case (id, wall, nt, run, nm) =>
          println(f"  stage $id%4d wall=${wall}%5d ms tasks=$nt%4d " +
            f"execRun=${run}%6d ms  $nm")
        }
      }
    }

    // a query that throws is reported as an error, never timed
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def attempt(name: String)(body: => Long): Option[Long] =
      try Some(body)
      catch {
        case e: Throwable =>
          errors.getOrElseUpdate(name, e.getClass.getName); None
      }

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // one untimed warmup (JIT, codegen caches) — released like Bench
      attempt(name)(fn(spark, sfDir).count())
      graft.ops.ScratchCaches.releaseAll()
      val samples = if (errors.contains(name)) Nil else (1 to runs).flatMap { _ =>
        jobs.set(0); stages.set(0); tasks.set(0)
        shufRead.set(0); shufWrite.set(0); stageLog.clear()
        val t = System.nanoTime()
        val n = attempt(name)(fn(spark, sfDir).count())
        val sec = (System.nanoTime() - t) / 1e9
        graft.ops.ScratchCaches.releaseAll()
        Thread.sleep(300) // let the listener bus drain before reading counters
        n.map((sec, _, jobs.get, stages.get, tasks.get, shufRead.get,
          shufWrite.get))
      }
      errors.get(name) match {
        case Some(cls) => println(f"QBENCH $name%-24s error=$cls")
        case None => report(name, samples)
      }
    }
    println("QBENCH errors " + errors.map { case (k, v) =>
      "\"" + k + "\":\"" + v + "\"" }.mkString("{", ",", "}"))
    // QBENCH_HOLD=<sec>: keep the session (and UI, if enabled) alive so
    // the Spark REST API can be inspected after the runs
    sys.env.get("QBENCH_HOLD").foreach(s => Thread.sleep(s.toLong * 1000))
    spark.stop()
  }
}
