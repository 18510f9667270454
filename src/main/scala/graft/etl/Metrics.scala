package graft.etl

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.apache.spark.sql.util.QueryExecutionListener

/** Sink/job observability (the engine-side replacement for the
  * reference's self-reported size stats and resource monitor,
  * unified_code.py:365–388 `optimize_json` stats and :75–93
  * `SystemMonitor`): a `QueryExecutionListener` that harvests the
  * write metrics Spark already tracks (rows / files / bytes written)
  * from the executed plan of each successful job.
  *
  * Unlike the reference's monitor (warn-only psutil polling), these
  * numbers come from the engine's own metric registry, per write, and
  * scale to any cluster — the same counters the Spark UI shows.
  */
object Metrics {

  final case class WriteStats(rows: Long, files: Long, bytes: Long)

  private class Collector extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    val seen = new ConcurrentLinkedQueue[WriteStats]()
    val barrier = new CountDownLatch(1)
    // per-instance marker column: a shared name would let a nested or
    // concurrent collectWriteStats fire THIS collector's one-shot latch
    val barrierCol: String =
      "graft_metrics_barrier_" + java.util.UUID.randomUUID().toString.replace("-", "")
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      if (qe.analyzed.output.exists(_.name == barrierCol)) barrier.countDown()
      else {
        // only genuine write/commit nodes carry BOTH numFiles and
        // numOutputBytes (FileFormatWriter / V2 commit metrics).
        // Matching on that pair — not on any numOutput* metric, which
        // numOutputRows puts on nearly every operator — yields exactly
        // one stats row per sink, never a double count from
        // intermediate operators in the same executed plan. A write
        // whose input has an exchange is planned adaptively as a whole,
        // so the walk descends into the adaptive plan's final plan.
        foreach(qe.executedPlan) { p =>
          if (p.metrics.contains("numFiles") && p.metrics.contains("numOutputBytes"))
            seen.add(WriteStats(
              p.metrics.get("numOutputRows").map(_.value).getOrElse(0L),
              p.metrics("numFiles").value,
              p.metrics("numOutputBytes").value))
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Run `body` and return the accumulated write stats of every sink
    * job it triggered; throws if the listener bus cannot be drained. */
  def collectWriteStats[T](spark: SparkSession)(body: => T): (T, WriteStats) = {
    val c = new Collector
    spark.listenerManager.register(c)
    try {
      val result = body
      // The listener bus delivers asynchronously but in order, so run a
      // recognizable no-op query as a barrier: when ITS event arrives,
      // every write event from `body` has already been delivered. The
      // barrier is a one-row local relation, whose collect fires the
      // listener without launching a job.
      spark.createDataFrame(java.util.List.of(Row(1)),
        StructType(Seq(StructField(c.barrierCol, IntegerType)))).collect()
      // the bus delivers in order but its queue is bounded — if the
      // barrier event was dropped under load the stats may be
      // incomplete, and callers report them as the conversion's rows
      if (!c.barrier.await(10, TimeUnit.SECONDS))
        throw new IllegalStateException(
          "listener-bus barrier timed out after 10s; write stats would be " +
            "incomplete (bus queue overflow?)")
      val all = c.seen.iterator().asScala.toSeq
      (result, WriteStats(all.map(_.rows).sum, all.map(_.files).sum, all.map(_.bytes).sum))
    } finally spark.listenerManager.unregister(c)
  }
}
