package graft

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode}
import org.apache.spark.sql.functions._

/** Streaming soak probe (the streaming analog of ScaleProbe): drives
  * ~N× the sf0.1 event volume (default 10×) through every stateful
  * streaming operator — tumbling / sliding / session windows,
  * watermark dedup, stream-stream join — as a file stream of bounded
  * micro-batches with the RocksDB state store provider, i.e. the
  * configuration a large-cluster deployment would run (RocksDB keeps
  * state off-heap and spills to local disk, so state size is bounded
  * by watermark × key cardinality, not by executor heap; changelog
  * checkpointing uploads per-batch deltas instead of full snapshots).
  *
  * Correctness of these operators is pinned by StreamingSpec; the soak
  * asks the 100 TB questions — does throughput hold at volume, and
  * does state stay bounded while the watermark advances? Input files
  * are written in event-time order so the watermark actually moves
  * and window state closes during the run, like a production source.
  * Spark-only smoke (no oracle); numbers land in SCALE.md.
  */
object StreamSoak {
  def main(args: Array[String]): Unit = {
    val copies = sys.env.getOrElse("SPARK_GRAFT_SOAK_COPIES", "10").toInt
    val src = "/root/testdata/sf0.1"
    val dst = s"/tmp/stream_soak_x$copies"
    val spark = Session.local(conf = Map(
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true"))
    import spark.implicits._

    val marker = new java.io.File(s"$dst/_SOAK_DATA_READY")
    if (!marker.exists()) {
      val base = Core.table(spark, src, "events")
      val big = (0 until copies).map { i =>
        // offset ids so dedup state is genuinely per-copy distinct;
        // reuse user ids across copy groups so per-user state has
        // realistic hot keys
        base.withColumn("event_id", $"event_id" + i.toLong * 10000000L)
          .withColumn("user_id", $"user_id" + (i % 4).toLong * 10000000L)
      }.reduce(_ unionByName _)
      big.repartitionByRange(64, $"ts").sortWithinPartitions($"ts")
        .write.mode(SaveMode.Overwrite).parquet(s"$dst/events.parquet")
      marker.createNewFile()
    }
    val schema = spark.read.parquet(s"$dst/events.parquet").schema
    val nRows = spark.read.parquet(s"$dst/events.parquet").count()
    println(s"SOAK input rows=$nRows (sf0.1 x $copies), rocksdb state store")

    def soak(name: String, f: DataFrame => DataFrame, mode: String): Unit = {
      val in = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8) // 8 ordered files per micro-batch
        .parquet(s"$dst/events.parquet")
      var outRows = 0L
      val q = f(in).writeStream
        .outputMode(mode)
        .option("checkpointLocation", s"$dst/ckpt_${name}_${System.nanoTime()}")
        .foreachBatch { (b: Dataset[Row], _: Long) => outRows += b.count(); () }
        .start()
      val t0 = System.nanoTime()
      q.processAllAvailable()
      val sec = (System.nanoTime() - t0) / 1e9
      val sp = Option(q.lastProgress).map(_.stateOperators).getOrElse(Array.empty)
      val stateRows = sp.map(_.numRowsTotal).sum
      val stateMB = sp.map(_.memoryUsedBytes).sum / 1e6
      q.stop()
      println(f"SOAK $name%-18s $sec%8.2f s ${nRows / sec}%10.0f ev/s  " +
        f"out=$outRows%-9d state_rows=$stateRows state_mb=$stateMB%.1f")
    }
    soak("tumbling_counts", streaming.StreamingOps.tumblingCounts, "update")
    soak("sliding_counts", streaming.StreamingOps.slidingCounts, "update")
    soak("session_counts", streaming.StreamingOps.sessionCounts, "update")
    soak("dedup_watermark", streaming.StreamingOps.dedupWithinWatermark, "append")
    soak("stream_stream_join", streaming.StreamingOps.clickToPurchase(_), "append")
    spark.stop()
  }
}
