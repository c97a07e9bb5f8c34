package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed call into the program. `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double,
    endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Task-level totals of one Spark job, filled in by [[JobListener]]. */
final class JobRec(val jobId: Int, val span: Int, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var taskFailures = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedulerDelayMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Records Spark jobs, stages and tasks, and attributes each job to the
  * span that was open on the thread that submitted it (read back from
  * the [[Recorder.SpanKey]] local property).
  */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Recorder.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    val rec = new JobRec(e.jobId, span, e.time)
    rec.stages = e.stageIds.size
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
      .foreach { r =>
        r.synchronized {
          r.tasks += 1
          if (e.reason != Success) r.taskFailures += 1
          val m = e.taskMetrics
          if (m != null) {
            r.runMs += m.executorRunTime
            r.cpuNs += m.executorCpuTime
            r.gcMs += m.jvmGCTime
            r.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            val info = e.taskInfo
            if (info != null && info.finishTime > 0) {
              val delay = info.duration - m.executorRunTime -
                m.executorDeserializeTime - m.resultSerializationTime -
                info.gettingResultTime
              r.schedulerDelayMs += math.max(0L, delay)
            }
          }
        }
      }

  /** Wait until every job seen so far has ended (listener events arrive
    * asynchronously), at most `timeoutMs`.
    */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val open = jobs.values.asScala.count(_.endMs < 0)
      val n = jobs.size
      if (n != last) { last = n; stableSince = System.currentTimeMillis() }
      if (open == 0 && System.currentTimeMillis() - stableSince > 200) return
      Thread.sleep(20)
    }
  }

  def all: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.jobId)
}

/** In-memory span recorder. Spans are appended when they close and
  * written out once, at the end of the run.
  */
final class Recorder(sc: SparkContext) {
  private val ids = new AtomicInteger(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  /** Time `body` as a span under the thread's innermost open span. Spark
    * jobs submitted from this thread meanwhile carry the span's id.
    */
  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val stack = open.get
    val parent = stack.headOption.getOrElse(-1)
    val saved = sc.getLocalProperty(Recorder.SpanKey)
    open.set(id :: stack)
    sc.setLocalProperty(Recorder.SpanKey, id.toString)
    val t0 = Recorder.nowMs
    try body
    finally {
      val t1 = Recorder.nowMs
      sc.setLocalProperty(Recorder.SpanKey, saved)
      open.set(stack)
      done.synchronized(done += Span(id, parent, name, t0, t1))
    }
  }

  def spans: Seq[Span] = done.synchronized(done.toList).sortBy(_.id)
}

object Recorder {
  val SpanKey = "perfbench.span"

  /** Wall clock in ms with sub-ms digits, comparable to listener times. */
  def nowMs: Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }

  /** Span minus its direct children. */
  def selfMs(span: Span, all: Seq[Span]): Double =
    span.durMs - all.filter(_.parent == span.id).map(_.durMs).sum

  /** The span and all of its descendants' ids. */
  def subtree(span: Span, all: Seq[Span]): Set[Int] = {
    val kids = all.groupBy(_.parent)
    def go(id: Int): Set[Int] =
      kids.getOrElse(id, Nil).map(s => go(s.id)).foldLeft(Set(id))(_ ++ _)
    go(span.id)
  }

  /** Time inside `span` that the given jobs cover, clipped to the span. */
  def jobCoverMs(span: Span, jobs: Seq[JobRec]): Double = {
    val s = math.floor(span.startMs).toLong
    val e = math.ceil(span.endMs).toLong
    Stats.unionLength(jobs.filter(_.endMs >= 0)
      .map(j => (math.max(j.startMs, s), math.min(j.endMs, e)))).toDouble
  }

  /** Span time no job of its subtree covers: driver-only time. */
  def driverOnlyMs(span: Span, all: Seq[Span], jobs: Seq[JobRec]): Double = {
    val ids = subtree(span, all)
    math.max(0.0, span.durMs - jobCoverMs(span, jobs.filter(j => ids(j.span))))
  }

  /** Self time minus the time its own jobs ran. */
  def selfMinusJobsMs(span: Span, all: Seq[Span], jobs: Seq[JobRec]): Double =
    math.max(0.0,
      selfMs(span, all) - jobCoverMs(span, jobs.filter(_.span == span.id)))

  def writeSpans(path: java.nio.file.Path, spans: Seq[Span],
      jobs: Seq[JobRec]): Unit = {
    val byspan = jobs.groupBy(_.span)
    val lines = spans.map { s =>
      val js = byspan.getOrElse(s.id, Nil)
      Json.obj(Seq(
        "id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "name" -> Json.str(s.name), "start_ms" -> Json.num(s.startMs),
        "dur_ms" -> Json.num(s.durMs),
        "self_ms" -> Json.num(selfMs(s, spans)),
        "jobs" -> Json.arr(js.map(j => Json.num(j.jobId))),
        "tasks" -> Json.num(js.map(_.tasks).sum)))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}
