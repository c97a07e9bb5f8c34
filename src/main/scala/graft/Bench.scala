package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints the per-query median seconds as JSON
  * lines of under 1 KB each (`"metric":"queries"`), then ONE short final
  * line with the total and an `errors` map (query name → exception
  * class) of the queries that threw; those are left out of the seconds
  * and the total. `target/bench_last.json` holds the full record.
  *
  * Methodology: queries run in sorted name order (stable across rounds)
  * after an untimed warmup that populates the session's quad-store cache
  * — per-query numbers then measure the query, not one-time store load
  * (recorded separately as "warmup_sec").
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_RELEASE=0 → session-wide scratch retention (the A/B
    // knob now rides the public ScratchCaches retention mode)
    graft.ops.ScratchCaches.setRetain(
      sys.env.getOrElse("SPARK_GRAFT_RELEASE", "1") == "0")

    val t0 = System.nanoTime()
    // store load, untimed below; pipeline-only dirs (tools.ScaleUp
    // output) carry no TPC-H tables — skip the quad warmup there
    if (new java.io.File(s"$sfDir/lineitem.parquet").exists())
      graft.io.TpchRdf.warm(spark, sfDir) // base store + predicate index
    spark.range(2).count()
    val warmup = (System.nanoTime() - t0) / 1e9

    // Default runs=3 (r12, verdict #4): single-run driver benches read
    // as false 2× regressions on a drifting box — per-query MEDIANS are
    // the comparable signal (BASELINE.md: totals vary ±20%+ run-to-run;
    // medians don't). q00_box_sentinel's plan never changes, so its
    // median separates box drift from code regression at a glance.
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    // SPARK_GRAFT_ONLY=q1,q2: restrict to named queries (local micro-
    // benchmarking; the driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // a query that throws is an error, never a timing: its name and
    // exception class go to `errors`, and it leaves the per-query map
    // and the total
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val perRun = (1 to runs).map { _ =>
      selected.map { case (name, fn) =>
        val t = System.nanoTime()
        try fn(spark, sfDir).count()
        catch {
          case e: Throwable =>
            errors.getOrElseUpdate(name, e.getClass.getName)
        }
        val sec = (System.nanoTime() - t) / 1e9
        // the bench session IS the long-lived session ScratchCaches
        // exists for: release each query's scratch persists after its
        // action, or 14 tracked sites × 135 queries × runs accumulate
        // and pressure the cache manager for the whole run. NB this
        // makes per-query numbers the honest COLD cost — pre-r10
        // medians let dd2's persisted pairs warm dd7/dd10/dd13 and
        // repeat runs (see BASELINE.md r10 methodology note).
        // SPARK_GRAFT_RELEASE=0 switches on the public session
        // retention mode (ScratchCaches.setRetain) for A/B runs.
        graft.ops.ScratchCaches.releaseAll()
        if (!graft.ops.ScratchCaches.retain)
          assert(graft.ops.ScratchCaches.activeCount == 0)
        name -> sec
      }
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; s((s.length - 1) / 2)
    }
    val results = perRun.head.map(_._1).filterNot(errors.contains)
      .map { name => name -> median(perRun.map(_.toMap.apply(name))) }
    // compact 3-decimal formatting keeps the lines under capture limits
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val entries = results.map { case (k, v) => "\"" + k + "\":" + f(v) }
    val errs = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val full =
      s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":${entries.mkString("{", ",", "}")},"errors":$errs,"warmup_sec":${f(warmup)},"runs":$runs,"sf":"$sfDir"}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/bench_last.json"), full + "\n")
    catch { case _: Throwable => }
    // Output contract: the driver parses a ~4 KB TAIL window of the
    // output, and the full record outgrows it, so one line holding it
    // loses its head. The per-query map goes out in chunks of
    // under 1 KB, each a JSON line of its own; the short total line is
    // LAST, so any tail window ends with it (build.sbt turns off sbt's
    // `[success]` line, which would print after it).
    val head = """{"metric":"queries","queries":{"""
    val chunks = entries.foldLeft(Vector.empty[Vector[String]]) {
      case (cs :+ c, e)
          if head.length + c.map(_.length + 1).sum + e.length + 2 < 1000 =>
        cs :+ (c :+ e)
      case (cs, e) => cs :+ Vector(e)
    }
    chunks.foreach(c => println(c.mkString(head, ",", "}}")))
    println(s"""{"metric":"total","value":${f(total)},"unit":"sec","errors":$errs,"warmup_sec":${f(warmup)},"runs":$runs,"sf":"$sfDir","full":"target/bench_last.json"}""")
    graft.io.TpchRdf.release(spark)
    spark.stop()
  }
}
