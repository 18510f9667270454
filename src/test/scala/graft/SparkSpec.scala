package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.etl.Metrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session fixture — one SparkSession per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** `body`'s result and the Spark jobs it launched. The job counter and
    * the write-stats barrier share the listener bus's queue, so once the
    * barrier's event arrives every job of `body` has been counted. */
  protected def jobsOf[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      val (result, _) = Metrics.collectWriteStats(spark)(body)
      (result, jobs.get)
    } finally spark.sparkContext.removeSparkListener(counter)
  }
}

object SparkSpec {
  // a fixed local[4], never the SPARK_GRAFT_CPUS default: the job-count
  // and plan-shape pins assume 4 shuffle partitions on any host
  lazy val session: SparkSession = Session.local("4", Map(
    "spark.app.name" -> "graft-tests",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-wh").toString,
    // plan-shape specs find a FileScan by its path: keep the plan's
    // Location uncut whatever the temp dir's length
    "spark.sql.maxMetadataStringLength" -> Int.MaxValue.toString),
    Some(new GraftExtensions))   // engine functions via injection
}
