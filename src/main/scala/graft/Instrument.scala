package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The measurement main for catalog queries, with two modes.
  *
  *  - `jobs <sfDir> <n> <q1,q2,…>` runs each query `n` times in one
  *    session (the first rep warms memos and codegen) and prints one
  *    line per query, `{"q":…,"reps":[{"wall":…,"jobs":…,"span":…},…]}`:
  *    each rep's wall seconds, the Spark jobs it launched and their
  *    summed span seconds. At small scale a query's wall is mostly
  *    driver round trips (~0.1–0.3 s per job), so how many jobs it
  *    dispatches, and where, is the per-query lever: each job's call
  *    site (the description of the SQL execution that launched it)
  *    and stage names go to stderr.
  *  - `plan <sfDir> <outDir> <suffix> [q1,q2,…]` writes each query's
  *    `explain("formatted")` physical plan to `<outDir>/<q>_<suffix>.txt`
  *    (no list: the whole catalog). Plans are captured without running
  *    the queries, though store-backed queries still build their warm
  *    fixtures on first touch. A query whose plan fails gets a
  *    `PLAN CAPTURE FAILED` file, and the run exits 1 naming it.
  *
  * Usage: runMain graft.Instrument jobs|plan <args> */
object Instrument {
  def main(args: Array[String]): Unit = {
    // each mode returns the queries that failed
    val run: SparkSession => Seq[String] = args.toList match {
      case "jobs" :: sfDir :: n :: names :: _ =>
        s => { runJobs(s, sfDir, n.toInt, names.split(",").toSeq); Nil }
      case "plan" :: sfDir :: outDir :: suffix :: only =>
        writePlans(_, sfDir, outDir, suffix, only.headOption.map(_.split(",").toSet))
      case _ => sys.error("usage: graft.Instrument jobs <sfDir> <n> <q1,q2,…> | " +
        "plan <sfDir> <outDir> <suffix> [q1,q2,…]")
    }
    val spark = Session.local()
    Session.finish(spark, args(0), run(spark))
  }

  private def runJobs(spark: SparkSession, sfDir: String, n: Int,
      names: Seq[String]): Unit = {
    val jobs = new AtomicInteger()
    val spanNs = new AtomicLong()
    val starts = scala.collection.concurrent.TrieMap.empty[Int, Long]
    // a job's properties carry its SQL execution id but no call site;
    // the execution's start event carries the call site as its
    // description, so a job is named by the execution that launched it.
    // A job outside any execution (a schema inference) is named by its
    // result stage, the last one created, whose name is the job's call
    // site.
    val execSites = scala.collection.concurrent.TrieMap.empty[String, String]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          execSites(x.executionId.toString) = x.description
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); starts(j.jobId) = System.nanoTime()
        val site = Option(j.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(execSites.get)
          .getOrElse(j.stageInfos.maxBy(_.stageId).name)
        System.err.println(s"[jobs] job ${j.jobId} $site " +
          s"stages=${j.stageInfos.map(_.name.takeWhile(_ != ' ')).mkString("|")}")
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        starts.remove(j.jobId).foreach(t0 =>
          spanNs.addAndGet(System.nanoTime() - t0))
    })
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      val reps = (1 to n).map { _ =>
        // the counting listener and the write-stats barrier share the
        // listener bus's queue: once a rep's barrier returns, every job
        // event of that rep has been counted, so rep boundaries are exact
        jobs.set(0); spanNs.set(0)
        val (wall, _) = etl.Metrics.collectWriteStats(spark) {
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        }
        (wall, jobs.get(), spanNs.get() / 1e9)
      }
      val body = reps.map { case (w, j, sp) =>
        f"""{"wall":$w%.3f,"jobs":$j,"span":$sp%.3f}""" }.mkString(",")
      println(s"""{"q":"$name","reps":[$body]}""")
    }
  }

  /** Writes the plan files; returns the queries whose plan failed. */
  private def writePlans(spark: SparkSession, sfDir: String, outDir: String,
      suffix: String, only: Option[Set[String]]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        val file = Paths.get(s"$outDir/${name}_$suffix.txt")
        try {
          Files.writeString(file,
            fn(spark, sfDir).queryExecution.explainString(FormattedMode))
          println(s"[plan] $name -> $file")
          None
        } catch { case NonFatal(e) =>
          System.err.println(s"[plan] $name FAILED: ${e.getMessage}")
          Files.writeString(file,
            s"PLAN CAPTURE FAILED: ${e.getClass.getName}: ${e.getMessage}\n")
          Some(name)
        }
      }
  }
}
