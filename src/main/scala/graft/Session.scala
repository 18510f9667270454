package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** The one local SparkSession builder every entry point shares:
  * `local[cpus]` with shuffle partitions = cpus, a UTC session clock,
  * no UI and WARN logging. A caller passes only what differs: its core
  * count, confs that add to or override the shared ones, and session
  * extensions. On a real cluster the session comes from spark-submit
  * and none of this applies. */
object Session {

  /** The core count of a local session: `SPARK_GRAFT_CPUS`, default 4. */
  private def envCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def local(cpus: String = envCpus, conf: Map[String, String] = Map.empty,
      extensions: Option[SparkSessionExtensions => Unit] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => b.config(k, v) }
    extensions.foreach(b.withExtensions)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Ends an entry point's run: releases the catalog caches and stops
    * the session; if any query failed, names them on stderr and exits 1
    * so a run never reads green over a missing result. */
  def finish(spark: SparkSession, tag: String, failed: Seq[String] = Nil): Unit = {
    Core.clearCaches(spark)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[$tag] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} " +
        s"FAILED: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
