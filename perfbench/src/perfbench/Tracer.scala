package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** Per-span counters. */
final class SpanStats {
  var wallNs = 0L
  var jobs = 0
  var tasks = 0
  var taskMs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var writtenBytes = 0L
  var files = 0L
  /** (start ms, end ms) of the span's own time. */
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Attributes Spark jobs, tasks and written files to named spans.
  *
  * A direct span is opened by the harness around one call into a public
  * entry point; the span name rides on a SparkContext local property, so
  * every job the call submits carries it in its job-start properties.
  *
  * Phases inside one public call (`Runner.runOnce`'s ingest, process and
  * load) are found by stack: a sampler thread reads the calling thread's
  * stack every few milliseconds and credits wall time to the phase whose
  * frame pattern it holds. A job belongs to the phase named by its own
  * call site; failing that (jobs Spark submits from its own pools), to
  * the phase of another job of the same SQL execution; failing that, to
  * the phase the sampler saw when the job was submitted.
  *
  * Raw events are kept and attributed once, after the run ([[summary]]).
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val walls = mutable.LinkedHashMap.empty[String, SpanStats]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private val fileAccs = mutable.HashSet.empty[Long]
  private val execFiles = mutable.HashMap.empty[Long, Long]
  /** (ms, phase) transitions seen by the sampler, in time order. */
  private val timeline = mutable.ArrayBuffer.empty[(Long, String)]
  private var phasePatterns: Seq[(String, scala.util.matching.Regex)] = Nil

  private def wall(name: String): SpanStats = walls.getOrElseUpdate(name, new SpanStats)

  /** Run `body` as span `name` (one call into a public entry point). */
  def span[A](name: String)(body: => A): A = {
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    sc.setLocalProperty(SpanKey, name)
    try body
    finally {
      sc.setLocalProperty(SpanKey, null)
      synchronized {
        val s = wall(name)
        s.wallNs += System.nanoTime() - n0
        s.intervals += ((t0, System.currentTimeMillis()))
      }
    }
  }

  /** Run `body` as span `outer`, splitting its wall and jobs into the
    * given (span name, frame pattern) phases; time in no phase stays with
    * `outer`. */
  def phased[A](outer: String, phases: Seq[(String, String)])(body: => A): A = {
    val patterns = phases.map { case (n, re) => n -> re.r }
    synchronized { phasePatterns = patterns }
    val target = Thread.currentThread()
    @volatile var running = true
    val sampler = new Thread(() => {
      var cur = outer
      var since = System.currentTimeMillis()
      var sinceNs = System.nanoTime()
      def close(now: Long, nowNs: Long): Unit = synchronized {
        val s = wall(cur)
        s.wallNs += nowNs - sinceNs
        s.intervals += ((since, now))
      }
      synchronized { timeline += ((since, cur)) }
      while (running) {
        val frames = target.getStackTrace.iterator.map(f => f.getClassName + "." + f.getMethodName)
        val p = frames.map(f => patterns.collectFirst { case (n, re) if re.findFirstIn(f).nonEmpty => n })
          .collectFirst { case Some(n) => n }.getOrElse(outer)
        if (p != cur) {
          val now = System.currentTimeMillis()
          val nowNs = System.nanoTime()
          close(now, nowNs)
          cur = p; since = now; sinceNs = nowNs
          synchronized { timeline += ((now, p)) }
        }
        Thread.sleep(SamplePeriodMs)
      }
      close(System.currentTimeMillis(), System.nanoTime())
    }, "perfbench-sampler")
    sampler.setDaemon(true)
    sampler.start()
    sc.setLocalProperty(SpanKey, outer)
    try body
    finally {
      sc.setLocalProperty(SpanKey, null)
      running = false
      sampler.join()
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    jobs(e.jobId) = new Job(e.jobId, e.time, e.time, e.stageIds, site,
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong),
      props.flatMap(p => Option(p.getProperty(SpanKey))))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageAgg)
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.ms += m.executorRunTime
      s.in += m.inputMetrics.bytesRead
      s.sh += m.shuffleWriteMetrics.bytesWritten
      s.out += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => registerPlan(s.sparkPlanInfo)
    case s: SparkListenerSQLAdaptiveExecutionUpdate => registerPlan(s.sparkPlanInfo)
    case u: SparkListenerDriverAccumUpdates => synchronized {
      val files = u.accumUpdates.collect { case (id, v) if fileAccs.contains(id) => v }.sum
      if (files > 0) execFiles(u.executionId) = execFiles.getOrElse(u.executionId, 0L) + files
    }
    case _ =>
  }

  private def registerPlan(p: SparkPlanInfo): Unit = synchronized {
    def walk(n: SparkPlanInfo): Unit = {
      n.metrics.foreach(m => if (m.name == WrittenFilesMetric) fileAccs += m.accumulatorId)
      n.children.foreach(walk)
    }
    walk(p)
  }

  /** Per-span stats with every job attributed, plus every job's
    * (start, end); call after the listener bus has drained. */
  def summary(): (Map[String, SpanStats], Seq[(Long, Long)]) = synchronized {
    val out = mutable.LinkedHashMap.empty[String, SpanStats]
    walls.foreach { case (k, v) => out(k) = v }
    def bySite(j: Job): Option[String] =
      phasePatterns.collectFirst { case (n, re) if re.findFirstIn(j.site).nonEmpty => n }
    val execPhase = jobs.values.flatMap(j => for (e <- j.exec; p <- bySite(j)) yield e -> p).toMap
    def byTime(t: Long): Option[String] = timeline.takeWhile(_._1 <= t).lastOption.map(_._2)
    val attributed = jobs.values.toSeq.map { j =>
      val sampled = j.direct.filter(d => timeline.exists(_._2 == d)).flatMap(_ => byTime(j.start))
      j -> bySite(j).orElse(j.exec.flatMap(execPhase.get)).orElse(sampled)
        .orElse(j.direct).getOrElse(Untraced)
    }
    // A stage shared by several jobs counts once, for its first job.
    val seen = mutable.HashSet.empty[Int]
    attributed.foreach { case (j, name) =>
      val s = out.getOrElseUpdate(name, new SpanStats)
      s.jobs += 1
      j.stages.filter(seen.add).flatMap(stages.get).foreach { a =>
        s.tasks += a.tasks; s.taskMs += a.ms; s.inputBytes += a.in
        s.shuffleBytes += a.sh; s.writtenBytes += a.out
      }
    }
    val execSpan = attributed.flatMap { case (j, n) => j.exec.map(_ -> n) }
      .groupBy(_._1).map { case (e, xs) => e -> xs.head._2 }
    execFiles.foreach { case (e, f) =>
      out.getOrElseUpdate(execSpan.getOrElse(e, Untraced), new SpanStats).files += f
    }
    (out.toMap, jobs.values.map(j => (j.start, j.end)).toSeq)
  }
}

object Tracer {
  private final class Job(val id: Int, val start: Long, var end: Long, val stages: Seq[Int],
      val site: String, val exec: Option[Long], val direct: Option[String])
  private final class StageAgg { var tasks = 0; var ms = 0L; var in = 0L; var sh = 0L; var out = 0L }

  val SpanKey = "perfbench.span"
  /** How often the phase sampler reads the calling thread's stack. */
  val SamplePeriodMs = 5L
  val Untraced = "untraced"
  val WrittenFilesMetric = "number of written files"

  /** Seconds of the span's own time during which no job was running. */
  def gapSeconds(span: SpanStats, allJobs: Seq[(Long, Long)]): Double = {
    val busy = merge(allJobs)
    span.intervals.map { case (a, b) =>
      val covered = busy.map { case (s, e) => math.max(0L, math.min(b, e) - math.max(a, s)) }.sum
      (b - a - covered).max(0L)
    }.sum / 1000.0
  }

  private def merge(xs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    xs.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse
}
