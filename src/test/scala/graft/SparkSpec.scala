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
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .withExtensions(new GraftExtensions)   // engine functions via injection
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
