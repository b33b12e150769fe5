package phasebench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: its span name and wall interval (epoch ms, the clock
  * Spark stamps listener events with). */
case class Call(span: String, t0: Long, t1: Long)

/** What one phase of one call cost. `jobMs` is the union of the phase's
  * job intervals; `gapMs` is time before the phase's jobs while no
  * job of the call was running. */
case class PhaseStat(jobs: Int, jobMs: Long, gapMs: Long, taskMs: Long,
    shuffleBytes: Long, writeBytes: Long)

/** The trace of one cycle's calls. */
case class CycleTrace(phases: Map[String, PhaseStat], planMs: Map[String, Long],
    inputBytes: Map[String, Long], rowsWritten: Map[String, Long],
    taskRetries: Long, labels: Map[String, Set[String]],
    /** per call: sum over its phases of job_ms + gap_ms, and its wall */
    coverage: Map[String, (Long, Long)])

/** Splits timed calls into phases from outside the engine. A SparkListener
  * keys every job and stage on two local properties: the benchmark's own
  * span property (set around each timed call) and the job description the
  * engine sets through `graft.io.Label` (`migrate:*`, `sync:*`, `feed:*`).
  * The benchmark never sets the job description itself: `Label` lets an
  * outer description win, so setting one would erase the engine's labels.
  * A QueryExecutionListener adds each query's analysis, optimization and
  * planning time. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private case class Job(span: String, label: String, t0: Long,
      var t1: Long = -1L)
  private final class Acc {
    var taskMs, shuffleBytes, writeBytes, rows, inputBytes, retries = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, (String, String)]
  private val accs = mutable.HashMap.empty[(String, String), Acc]
  /** (end of the query's last planning phase, planning ms) */
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)]

  private def tagOf(p: java.util.Properties): (String, String) =
    if (p == null) ("", "")
    else (Option(p.getProperty(SpanProperty)).getOrElse(""),
      Option(p.getProperty("spark.job.description")).getOrElse(""))

  /** One lock for the listener thread's writes and [[report]]'s reads. */
  private def locked[T](body: => T): T = synchronized(body)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = locked {
      val (span, label) = tagOf(e.properties)
      if (span.nonEmpty) jobs(e.jobId) = Job(span, label, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = locked {
      jobs.get(e.jobId).foreach(_.t1 = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      locked {
        val tag = tagOf(e.properties)
        if (tag._1.nonEmpty) stages(e.stageInfo.stageId) = tag
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = locked {
      stages.get(e.stageId).foreach { tag =>
        val a = accs.getOrElseUpdate(tag, new Acc)
        if (e.taskInfo.attemptNumber > 0 || !e.taskInfo.successful)
          a.retries += 1
        val m = e.taskMetrics
        if (m != null) {
          a.taskMs += m.executorRunTime
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          a.writeBytes += m.outputMetrics.bytesWritten
          a.rows += m.outputMetrics.recordsWritten
          a.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases.values
      if (ps.nonEmpty) locked {
        plans += ((ps.map(_.endTimeMs).max, ps.map(_.durationMs).sum))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      add(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = add(qe)
  }

  def attach(): Unit = {
    locked { jobs.clear(); stages.clear(); accs.clear(); plans.clear() }
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  def detach(): Unit = {
    org.apache.spark.PhasebenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** The per-phase split of `calls`; call after [[detach]]. */
  def report(calls: Seq[Call]): CycleTrace = locked {
    val phases = mutable.Map.empty[String, PhaseStat]
    val coverage = mutable.Map.empty[String, (Long, Long)]
    calls.foreach { c =>
      val cj = jobs.values.filter(_.span == c.span).toSeq.sortBy(_.t0)
      // gap before each job: time since the later of the call start
      // and the end of every earlier job of the call
      var busyUntil = c.t0
      val gaps = mutable.Map.empty[String, Long].withDefaultValue(0L)
      cj.foreach { j =>
        gaps(phaseOf(c.span, j.label)) += math.max(0L, j.t0 - busyUntil)
        busyUntil = math.max(busyUntil, math.max(j.t1, j.t0))
      }
      val byPhase = cj.groupBy(j => phaseOf(c.span, j.label))
      val stats = (byPhase.keySet ++ gaps.keySet).toSeq.map { ph =>
        val js = byPhase.getOrElse(ph, Seq.empty)
        val tags = accs.filter { case ((s, l), _) =>
          s == c.span && phaseOf(s, l) == ph }.values
        ph -> PhaseStat(js.size, unionMs(js.map(j => (j.t0, math.max(j.t1, j.t0)))),
          gaps(ph), tags.map(_.taskMs).sum, tags.map(_.shuffleBytes).sum,
          tags.map(_.writeBytes).sum)
      }
      stats.foreach { case (ph, s) => phases(ph) = s }
      coverage(c.span) = (stats.map { case (_, s) => s.jobMs + s.gapMs }.sum,
        c.t1 - c.t0)
    }
    def perSpan(f: Acc => Long): Map[String, Long] =
      calls.map(c => c.span -> accs.collect {
        case ((s, _), a) if s == c.span => f(a) }.sum).toMap
    val planMs = calls.map(c => c.span -> plans.collect {
      case (end, ms) if end >= c.t0 && end <= c.t1 => ms }.sum).toMap
    val labels = calls.map(c => c.span ->
      jobs.values.filter(_.span == c.span).map(_.label).toSet).toMap
    CycleTrace(phases.toMap, planMs, perSpan(_.inputBytes),
      perSpan(_.rows), accs.values.map(_.retries).sum, labels,
      coverage.toMap)
  }
}

object Tracer {
  /** The benchmark's own local property naming the current timed call. */
  val SpanProperty = "phasebench.span"

  /** The phases of each workload's calls. */
  val PhasesOf: Map[String, Seq[String]] = Map(
    "migrate" -> Seq("migrate.profile", "migrate.write", "migrate.counts",
      "migrate.recon", "validate.report"),
    "sync" -> Seq("feed.guard", "feed.classify", "feed.stage_write",
      "feed.child", "feed.other", "snapshot.classify", "snapshot.stage_write",
      "snapshot.child", "snapshot.other"),
    "curate" -> Seq("curate.trace", "ann.train", "ann.probe"))

  val Phases: Seq[String] = Workload.Names.flatMap(PhasesOf)

  /** The timed calls of each workload, for `<call>.plan_ms`. */
  val PlannedCallsOf: Map[String, Seq[String]] = Map(
    "migrate" -> Seq("migrate", "validate"),
    "sync" -> Seq("feed", "snapshot"),
    "curate" -> Seq("curate", "ann.train", "ann.probe"))

  val PlannedCalls: Seq[String] = Workload.Names.flatMap(PlannedCallsOf)

  /** The phase a job of call `span` with engine label `label` belongs to.
    * Jobs of a sync call whose label is not one of the sync phases are that
    * call's `other`. */
  def phaseOf(span: String, label: String): String = span match {
    case "migrate" => label match {
      case "migrate:profile" => "migrate.profile"
      case "migrate:counts" => "migrate.counts"
      case "migrate:recon" => "migrate.recon"
      case l if l.startsWith("migrate:write") => "migrate.write"
      case _ => "migrate.other"
    }
    case "validate" => "validate.report"
    case "feed" | "snapshot" => label match {
      case "feed:ambiguity-guard" => "feed.guard"
      case "feed:classify-metrics" | "sync:classify-metrics" =>
        s"$span.classify"
      case l if l.startsWith("sync:stage-write") => s"$span.stage_write"
      case l if l.startsWith("sync:child") => s"$span.child"
      case _ => s"$span.other"
    }
    case "curate" => "curate.trace"
    case other => other
  }

  /** Total length of the union of closed intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
