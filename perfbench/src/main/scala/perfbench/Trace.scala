package perfbench

import org.apache.spark.{SparkBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** Spans recorded around the harness's calls into each engine layer, plus
  * the Spark work each span caused.
  *
  * A span sets a Spark job group named after its id, so a [[StageLog]]
  * registered on the session attributes every stage and task to the span
  * that submitted it; no engine code is involved. Spans live in memory and
  * are written out when the run ends.
  */
final class Tracer(sc: SparkContext) {
  import Tracer._

  val log = new StageLog
  sc.addSparkListener(log)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  /** Run `body` inside a span named `name`, child of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), System.nanoTime(), 0L)
    spans += s
    stack = s :: stack
    sc.setJobGroup(group(s.id), name)
    try body
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(group(p.id), p.name)
        case None    => sc.clearJobGroup()
      }
    }
  }

  /** Attribute jobs run under a group the harness did not set (a streaming
    * query's run id) to the span `spanId`.
    */
  def adopt(foreignGroup: String, spanId: Int): Unit = log.alias(foreignGroup, group(spanId))

  /** Id of the most recently opened span named `name`. */
  def lastId(name: String): Int = spans.lastIndexWhere(_.name == name)

  def all: Seq[Span] = { SparkBus.drain(sc); spans.toSeq }

  /** Spark work attributed to one span (its own job group only). */
  def work(s: Span): Work = { SparkBus.drain(sc); log.work(group(s.id), s.start, s.end) }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long) {
    def seconds: Double = (end - start) / 1e9
  }

  /** Spark work of one span. `idleS` is span time during which none of the
    * span's stages was running: driver-side planning, listing, scheduling.
    */
  final case class Work(jobs: Int, stages: Int, tasks: Int, taskS: Double, gcS: Double,
                        spillMb: Double, shuffleWriteMb: Double, idleS: Double) {
    def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
      taskS + o.taskS, gcS + o.gcS, spillMb + o.spillMb, shuffleWriteMb + o.shuffleWriteMb,
      idleS + o.idleS)
  }
  val NoWork: Work = Work(0, 0, 0, 0, 0, 0, 0, 0)

  def group(id: Int): String = s"perfbench-span-$id"
}

/** Listener that keeps per-stage totals keyed by the job group that ran them. */
final class StageLog extends SparkListener {
  private final class Stage(val group: String) {
    var tasks = 0
    var runMs = 0L
    var gcMs = 0L
    var spill = 0L
    var shuffleWrite = 0L
    var submitted = 0L // epoch ms
    var completed = 0L
  }
  private val stages = mutable.HashMap.empty[Int, Stage]
  private val jobs = mutable.HashMap.empty[Int, String]
  private val aliases = mutable.HashMap.empty[String, String]
  /** SQL executions: id -> (start ms, end ms, physical plan text). */
  private val sqls = mutable.HashMap.empty[Long, (Long, Long, String)]

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  def alias(foreign: String, group: String): Unit = synchronized { aliases(foreign) = group }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    jobs(e.jobId) = g
    e.stageInfos.foreach(si => stages.getOrElseUpdate(si.stageId, new Stage(g)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val st = stages.getOrElseUpdate(e.stageInfo.stageId, new Stage(groupOf(e.properties)))
    st.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { st =>
      st.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case st: SparkListenerSQLExecutionStart => synchronized {
      sqls(st.executionId) = (st.time, 0L, st.physicalPlanDescription)
    }
    case en: SparkListenerSQLExecutionEnd => synchronized {
      sqls.get(en.executionId).foreach { case (a, _, p) => sqls(en.executionId) = (a, en.time, p) }
    }
    case _ =>
  }

  /** Seconds spent in SQL executions that started within [startNs, endNs]
    * and whose physical plan contains every one of `markers`, with the
    * number of executions that matched: how the harness tells the queries
    * inside one streaming micro-batch apart, since they all carry the
    * stream's call site. No match means the markers no longer describe the
    * engine's plans, not that the query took no time.
    */
  def sqlSeconds(markers: Seq[String], startNs: Long, endNs: Long): (Double, Int) = synchronized {
    val offMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    val (lo, hi) = (startNs / 1e6 + offMs, endNs / 1e6 + offMs)
    val hits = sqls.values.collect {
      case (a, b, plan) if a >= lo && a <= hi && b > 0 && markers.forall(plan.contains) =>
        (b - a) / 1e3
    }
    (hits.sum, hits.size)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stages.get(e.stageId).foreach { st =>
      st.tasks += 1
      if (m != null) {
        st.runMs += m.executorRunTime
        st.gcMs += m.jvmGCTime
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  private def resolve(g: String): String = aliases.getOrElse(g, g)

  /** Totals for `group`, with idle time measured over [startNs, endNs]. */
  def work(group: String, startNs: Long, endNs: Long): Tracer.Work = synchronized {
    val mine = stages.values.filter(s => resolve(s.group) == group && s.submitted > 0).toSeq
    val nJobs = jobs.values.count(resolve(_) == group)
    Tracer.Work(nJobs, mine.size, mine.map(_.tasks).sum, mine.map(_.runMs).sum / 1e3,
      mine.map(_.gcMs).sum / 1e3, mine.map(_.spill).sum / 1e6,
      mine.map(_.shuffleWrite).sum / 1e6, idle(mine, startNs, endNs))
  }

  /** Span seconds not covered by any of `ss`' [submitted, completed]
    * intervals. Stage times are epoch ms; the span is mapped onto the same
    * clock through the offset between the two clocks now.
    */
  private def idle(ss: Seq[Stage], startNs: Long, endNs: Long): Double = {
    val offMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    val lo = startNs / 1e6 + offMs
    val hi = endNs / 1e6 + offMs
    val iv = ss.map(s => (math.max(lo, s.submitted.toDouble),
      math.min(hi, if (s.completed > 0) s.completed.toDouble else hi)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    math.max(0.0, (hi - lo - covered) / 1e3)
  }
}
