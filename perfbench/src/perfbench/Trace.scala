package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.PlanningTime
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui._

/** One timed call into a layer. `parent` is -1 for a root span. */
final case class Span(
    id: Int, name: String, parent: Int, iteration: Int,
    startNs: Long, endNs: Long, cpuStartNs: Long, cpuEndNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def cpuSeconds: Double = (cpuEndNs - cpuStartNs) / 1e9
}

/** What Spark did on behalf of one span. */
final class Work {
  var sqlExecs, jobs, stages, tasks = 0L
  var taskCpuNs, outputBytes, shuffleWriteBytes, shuffleRecords, spillBytes = 0L
  var planningMs, scanBytes = 0L
}

object Process {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime
}

/** Spans around the calls into each layer, plus Spark listener counters
  * attributed to the innermost open span. Every span tags the Spark jobs
  * its thread (and any thread it starts) submits with `pb-<span id>`;
  * stages, tasks and SQL executions carry those tags, so attribution is
  * exact also when the engine overlaps actions on its own threads.
  */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var open = List.empty[Int]
  var iteration = 0

  private val work = mutable.HashMap.empty[Int, Work]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val execSpan = mutable.HashMap.empty[Long, Int]
  private val planningMs = mutable.HashMap.empty[Long, Long]
  // the "size of files read" metric of every file scan: accumulator -> execution
  private val scanAccs = mutable.HashMap.empty[Long, Long]
  private val driverAccs = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)

  private def spanOf(tags: Iterable[String]): Option[Int] =
    tags.collect { case t if t.startsWith("pb-") => t.drop(3).toInt }.maxOption

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .flatMap(s => spanOf(s.split(",")))

  private def at(span: Int): Work = work.getOrElseUpdate(span, new Work)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      spanOf(e.properties).foreach(at(_).jobs += 1)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      spanOf(e.properties).foreach { s =>
        stageSpan(e.stageInfo.stageId) = s
        at(s).stages += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val w = at(s)
        w.tasks += 1
        w.taskCpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        w.outputBytes += m.outputMetrics.bytesWritten
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        w.spillBytes += m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Tracer.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          spanOf(s.jobTags).foreach { span =>
            execSpan(s.executionId) = span
            at(span).sqlExecs += 1
          }
          scans(s.executionId, s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => scans(u.executionId, u.sparkPlanInfo)
        case d: SparkListenerDriverAccumUpdates =>
          d.accumUpdates.foreach { case (acc, v) => driverAccs(acc) += v }
        case end: SparkListenerSQLExecutionEnd => planningMs(end.executionId) = PlanningTime.ms(end)
        case _ =>
      }
    }
  }

  private def scans(exec: Long, plan: SparkPlanInfo): Unit = {
    // a cached plan reappears under later executions; the scan ran in the first
    plan.metrics.filter(_.name == "size of files read")
      .foreach(m => scanAccs.getOrElseUpdate(m.accumulatorId, exec))
    plan.children.foreach(scans(exec, _))
  }

  def span[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val tag = s"pb-$id"
    sc.addJobTag(tag)
    val cpu0 = Process.cpuNs
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val cpu1 = Process.cpuNs
      sc.removeJobTag(tag)
      open = open.tail
      spans += Span(id, name, parent, iteration, t0, t1, cpu0, cpu1)
    }
  }

  /** The Spark work attributed to `span`, once the listener bus has drained. */
  def workOf(span: Int): Work = synchronized {
    val w = at(span)
    val execs = execSpan.collect { case (e, s) if s == span => e }.toSet
    w.planningMs = execs.toSeq.map(planningMs.getOrElse(_, 0L)).sum
    w.scanBytes = scanAccs.collect { case (acc, e) if execs(e) => driverAccs(acc) }.sum
    w
  }

  /** Self time: a span's duration minus the part its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def spansJson: String = spans.map { s =>
    s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "iteration": ${s.iteration}, """ +
      s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "cpu_ns": ${s.cpuEndNs - s.cpuStartNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
