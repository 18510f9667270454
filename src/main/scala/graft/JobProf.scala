package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Driver-round-trip profiler for catalog queries — the companion to
  * [[TimeQuery]] the r17 job-latency work needs: at sf0.1 the sweep is
  * scheduler-bound (~0.1–0.3 s per Spark ACTION), so "how many
  * sequential jobs does this query dispatch, and where" is the
  * per-query lever, not per-task compute. Runs each named query `n`
  * times in one session with a listener counting jobs and summing
  * job-span wall; prints per-rep (wall, nJobs, jobSpanSec). Not in any
  * query or bench path — a measurement main like TimeQuery/PlanDump.
  *
  * Usage: runMain graft.JobProf <sfDir> <n> <q1,q2,…> */
object JobProf {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, nStr, names) = args.take(3)
    val n = nStr.toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val spanNs = new java.util.concurrent.atomic.AtomicLong()
    val starts = scala.collection.concurrent.TrieMap.empty[Int, Long]
    val descs = sys.env.get("SPARK_GRAFT_JOBPROF_DESC").contains("1")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); starts(j.jobId) = System.nanoTime()
        if (descs) {
          val site = Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
          System.err.println(s"[jobprof] job ${j.jobId} $site " +
            s"stages=${j.stageInfos.map(_.name.takeWhile(_ != ' ')).mkString("|")}")
        }
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        starts.remove(j.jobId).foreach(t0 =>
          spanNs.addAndGet(System.nanoTime() - t0))
    })
    for (name <- names.split(",")) {
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
    Core.clearCaches(spark)
    spark.stop()
  }
}
