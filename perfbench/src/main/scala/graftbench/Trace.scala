package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Wall clock in epoch milliseconds with sub-millisecond resolution,
  * so benchmark spans line up with the epoch-millisecond timestamps
  * Spark's listener events carry.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One traced interval. `op` is the operation the span belongs to,
  * `parent` the span that caused it (0 for an operation's root span).
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    layer: String, start: Double, end: Double,
    attrs: Map[String, Double] = Map.empty) {
  def dur: Double = end - start
}

object Intervals {

  /** Length of the union of `xs`, each clipped to [lo, hi]. */
  def covered(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of its interval
    * that its children cover. Overlapping children count once.
    */
  def selfTime(parent: Span, children: Seq[Span]): Double =
    parent.dur - covered(children.map(c => (c.start, c.end)), parent.start, parent.end)
}

/** Records spans for one run: operation spans from the workload, and
  * Catalyst phases, SQL executions and Spark jobs from the benchmark's
  * own SparkListener. Jobs and executions are attributed to operations
  * by job group; a group names its operation as `...op<id>`. Catalyst
  * phases come from the QueryPlanningTracker of the QueryExecution an
  * execution-end event carries: a QueryExecutionListener receives the
  * same QueryExecution but not the execution id its jobs and group
  * hang on. Everything is kept in memory and turned into spans when
  * the run ends.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val ops = new ConcurrentLinkedQueue[Span]()
  private val extra = new ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private val execs = new ConcurrentHashMap[Long, ExecRec]()
  private val qes = new ConcurrentHashMap[Long, Map[String, (Double, Double)]]()
  private val ids = new AtomicLong(1L << 40)
  @volatile private var lastEventMs = Clock.nowMs

  private def touch(): Unit = lastEventMs = Clock.nowMs

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val names = e.stageInfos.map(_.name)
      jobs.put(e.jobId, new JobRec(e.jobId, prop("spark.jobGroup.id"),
        prop("spark.sql.execution.id").flatMap(_.toLongOption),
        e.time.toDouble, names))
      e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      touch()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
      touch()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageToJob.get(info.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        val m = info.taskMetrics
        j.synchronized {
          j.stages += 1
          j.tasks += info.numTasks
          if (m != null) {
            j.runMs += m.executorRunTime
            j.cpuMs += m.executorCpuTime / 1e6
            j.gcMs += m.jvmGCTime
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            j.recordsRead += m.inputMetrics.recordsRead
          }
        }
      }
      touch()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execs.put(s.executionId, new ExecRec(s.executionId, s.jobGroupId, s.time.toDouble))
        touch()
      case s: SparkListenerSQLExecutionEnd =>
        Option(execs.get(s.executionId)).foreach(_.end = s.time.toDouble)
        queryExecution(s).foreach(qe => qes.put(s.executionId, qe.tracker.phases.map {
          case (k, v) => k -> (v.startTimeMs.toDouble, v.endTimeMs.toDouble)
        }))
        touch()
      case _ => ()
    }
  }

  def attach(): Unit = spark.sparkContext.addSparkListener(sparkListener)

  def detach(): Unit = spark.sparkContext.removeSparkListener(sparkListener)

  /** Waits until the listener bus has gone quiet: every started job
    * and execution has ended and no event arrived for `quietMs`.
    */
  def drain(quietMs: Double = 300, maxMs: Double = 10000): Unit = {
    val deadline = Clock.nowMs + maxMs
    def open = jobs.values.asScala.exists(_.end.isNaN) || execs.values.asScala.exists(_.end.isNaN)
    while (Clock.nowMs < deadline && (open || Clock.nowMs - lastEventMs < quietMs))
      Thread.sleep(25)
  }

  def recordOp(op: Long, name: String, start: Double, end: Double,
      attrs: Map[String, Double] = Map.empty): Unit =
    ops.add(Span(op, 0L, op, name, "op", start, end, attrs))

  /** A workload-measured child of operation `op` (e.g. DataFrame construction). */
  def recordChild(op: Long, name: String, layer: String, start: Double, end: Double): Unit =
    extra.add(Span(ids.incrementAndGet(), op, op, name, layer, start, end))

  /** Every span of the run: operations, their workload-measured
    * children, Catalyst phases, SQL executions and Spark jobs. Jobs
    * and executions outside any operation's group are dropped.
    */
  def spans(): Seq[Span] = {
    val opIds = ops.asScala.map(_.id).toSet
    def opOf(group: Option[String]): Option[Long] =
      group.flatMap(g => OpGroup.findFirstMatchIn(g)).map(_.group(1).toLong).filter(opIds)
    val execSpans = execs.values.asScala.toSeq.flatMap { x =>
      opOf(x.group).map { op =>
        x.execId -> Span(ids.incrementAndGet(), op, op, "execution", "engine", x.start,
          if (x.end.isNaN) x.start else x.end)
      }
    }.toMap
    val phaseSpans = execSpans.toSeq.flatMap { case (execId, ex) =>
      Option(qes.get(execId)).toSeq.flatMap(_.toSeq.collect {
        case (phase, (a, b)) if Phases.contains(phase) =>
          Span(ids.incrementAndGet(), ex.op, ex.op, phase, "catalyst", a, b)
      })
    }
    val jobSpans = jobs.values.asScala.toSeq.flatMap { j =>
      val viaExec = j.execId.flatMap(execSpans.get)
      val op = viaExec.map(_.op).orElse(opOf(j.group))
      op.map { o =>
        Span(ids.incrementAndGet(), viaExec.map(_.id).getOrElse(o), o, "job",
          if (j.isSchemaJob) "sources" else "engine", j.start,
          if (j.end.isNaN) j.start else j.end, j.attrs)
      }
    }
    ops.asScala.toSeq ++ extra.asScala.toSeq ++ execSpans.values ++ phaseSpans ++ jobSpans
  }
}

object Tracer {
  val OpGroup = "op(\\d+)$".r
  val Phases = Set("parsing", "analysis", "optimization", "planning")

  /** The QueryExecution an execution-end event carries; Spark keeps
    * the accessor package-private, so it is read reflectively.
    */
  private def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    try Option(e.getClass.getMethod("qe").invoke(e).asInstanceOf[QueryExecution])
    catch { case _: ReflectiveOperationException => None }

  /** The job group an operation's Spark work runs under. */
  def group(op: Long): String = s"perfbench-op$op"

  private final class JobRec(val jobId: Int, val group: Option[String],
      val execId: Option[Long], val start: Double, val stageNames: Seq[String]) {
    @volatile var end: Double = Double.NaN
    var stages = 0
    var tasks = 0L
    var runMs = 0.0
    var cpuMs = 0.0
    var gcMs = 0.0
    var shuffleWrite = 0.0
    var shuffleRead = 0.0
    var spill = 0.0
    var recordsRead = 0.0

    /** Parquet schema inference and file listing run as jobs outside
      * any SQL execution, named after the reader call that needed them.
      */
    def isSchemaJob: Boolean = execId.isEmpty && stageNames.exists(n =>
      n.startsWith("parquet at") || n.contains("Listing leaf files"))

    def attrs: Map[String, Double] = synchronized(Map(
      "stages" -> stages.toDouble, "tasks" -> tasks.toDouble, "run_ms" -> runMs,
      "cpu_ms" -> cpuMs, "gc_ms" -> gcMs, "shuffle_write_b" -> shuffleWrite,
      "shuffle_read_b" -> shuffleRead, "spill_b" -> spill, "records_read" -> recordsRead))
  }

  private final class ExecRec(val execId: Long, val group: Option[String], val start: Double) {
    @volatile var end: Double = Double.NaN
  }
}
