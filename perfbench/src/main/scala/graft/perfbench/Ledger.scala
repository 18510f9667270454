package graft.perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine work attributed to one span (the span's own, not its children's). */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var planningNs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var scanBytes = 0L
  var shuffleBytes = 0L
  var outputBytes = 0L
  var resultBytes = 0L
  /** Stages that scan the xlsx source: their wall time and task CPU. */
  var xlsxStageMs = 0L
  var xlsxCpuNs = 0L
  /** (start ms, end ms) of every job this span issued. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Issuing source file (from the job's call site) → (jobs, busy ms). */
  val byFile = mutable.Map.empty[String, (Long, Long)]
}

final class Span(val id: Int, val name: String, val parent: Int,
    val runId: String, val startNs: Long) {
  var endNs = 0L
  /** Whole-stage codegen compile time over the span, children included. */
  var codegenNs = 0L
  val work = new Work
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The traced run's ledger: a span around each call the benchmark makes
  * into a layer, plus engine counts from a SparkListener and a
  * QueryExecutionListener the benchmark registers itself. Spans stay in
  * memory until [[writeJsonl]].
  *
  * Attribution: the harness drives the program from one thread and drains
  * the listener bus at every span boundary, so every event delivered while
  * a span is open was posted by that span's work. When `enabled` is false
  * [[span]] only runs its body: the untraced run registers no listener and
  * never drains. */
final class Ledger(spark: SparkSession, val enabled: Boolean, runId: String)
    extends SparkListener with QueryExecutionListener {

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  @volatile private var current: Span = _
  private val jobStart = mutable.Map.empty[Int, (Span, Long, String)]
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val execSite = mutable.Map.empty[Long, String]
  var drainNs = 0L

  if (enabled) {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  private def drain(): Unit = {
    val t0 = System.nanoTime()
    PerfbenchBus.drain(spark.sparkContext)
    drainNs += System.nanoTime() - t0
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      drain()
      val sp = new Span(spans.size, name,
        stack.headOption.map(_.id).getOrElse(-1), runId, System.nanoTime())
      val cg0 = CodeGenerator.compileTime
      spans += sp
      stack.push(sp)
      current = sp
      try body
      finally {
        drain()
        sp.endNs = System.nanoTime()
        sp.codegenNs = CodeGenerator.compileTime - cg0
        stack.pop()
        current = stack.headOption.orNull
      }
    }

  // ---- listener side (runs on the bus thread) ----

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val sp = current
    if (sp != null) {
      // the call site of the job's SQL execution, else of its result
      // stage: "count at Converter.scala:66" → "Converter.scala"
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execSite.get(id.toLong))
        .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
      val file = site.split(" at ").lastOption.getOrElse("").takeWhile(_ != ':')
      jobStart(e.jobId) = (sp, e.time, file)
      e.stageIds.foreach(stageSpan(_) = sp)
      sp.work.jobs += 1
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execSite(s.executionId) = s.description
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (sp, t0, file) =>
      sp.work.jobIntervals += ((t0, e.time))
      val (n, ms) = sp.work.byFile.getOrElse(file, (0L, 0L))
      sp.work.byFile(file) = (n + 1, ms + (e.time - t0))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    Option(stageSpan.remove(info.stageId).getOrElse(current)).foreach { sp =>
      val w = sp.work
      w.stages += 1
      w.tasks += info.numTasks
      val m = info.taskMetrics
      if (m != null) {
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.scanBytes += m.inputMetrics.bytesRead
        w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        w.outputBytes += m.outputMetrics.bytesWritten
        w.resultBytes += m.resultSize
      }
      val scansXlsx = info.rddInfos.exists(r =>
        r.scope.exists(_.name.contains("xlsx(")) || r.name.contains("xlsx("))
      if (scansXlsx) {
        for (a <- info.submissionTime; b <- info.completionTime)
          w.xlsxStageMs += b - a
        if (m != null) w.xlsxCpuNs += m.executorCpuTime
      }
    }
  }

  private def planning(qe: QueryExecution): Unit = synchronized {
    val sp = current
    if (sp != null)
      sp.work.planningNs += qe.tracker.phases.values
        .map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).sum
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planning(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planning(qe)

  // ---- derived views ----

  private lazy val children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** The span and all spans under it. */
  def subtree(sp: Span): Seq[Span] =
    sp +: children.getOrElse(sp.id, Nil).flatMap(subtree)

  /** Span duration minus the part of it covered by child spans. */
  def selfSeconds(sp: Span): Double =
    sp.seconds - children.getOrElse(sp.id, Nil).map(_.seconds).sum

  /** Wall seconds during which at least one job of the subtree ran. */
  def jobBusySeconds(sp: Span): Double = {
    val iv = subtree(sp).flatMap(_.work.jobIntervals).sortBy(_._1)
    var busy = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > end) { busy += b - a; end = b }
      else if (b > end) { busy += b - end; end = b }
    }
    busy / 1e3
  }

  def writeJsonl(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { sp =>
      val w = sp.work
      out.println(Json.render(Map(
        "run" -> sp.runId, "id" -> sp.id, "name" -> sp.name,
        "parent" -> sp.parent, "start_ns" -> sp.startNs, "end_ns" -> sp.endNs,
        "self_s" -> selfSeconds(sp), "jobs" -> w.jobs, "stages" -> w.stages,
        "tasks" -> w.tasks, "planning_s" -> w.planningNs / 1e9,
        "codegen_s" -> sp.codegenNs / 1e9, "task_cpu_s" -> w.cpuNs / 1e9,
        "gc_s" -> w.gcMs / 1e3, "scan_bytes" -> w.scanBytes,
        "shuffle_bytes" -> w.shuffleBytes, "output_bytes" -> w.outputBytes,
        "result_bytes" -> w.resultBytes,
        "jobs_by_file" -> w.byFile.map { case (f, (n, _)) => f -> n }.toMap)))
    } finally out.close()
  }
}
