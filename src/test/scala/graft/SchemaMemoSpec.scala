package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.types._

/** Schema-carrying parquet reads ([[Core.readParquet]]): a repeat read
  * of unchanged files launches no footer-inference job, and a path
  * whose files were rewritten is never served its old schema. */
class SchemaMemoSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-memo-$tag").toString

  private def docsOf(ids: Range): DataFrame = ids.map { i =>
    (i.toLong, s"alpha token$i beta${i % 3} gamma delta${i % 2}")
  }.toDF("doc_id", "text")

  private def vecsOf(ids: Range): DataFrame = ids.map { i =>
    val ang = (i % 8) * math.Pi / 4 + 0.1
    (i.toLong, i % 4, Seq(math.cos(ang), math.sin(ang)))
  }.toDF("vec_id", "label", "unit")

  private val cents = Seq(
    (0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)),
    (2L, Seq(-1.0, 0.0)), (3L, Seq(0.0, -1.0))).toDF("cid", "cvec")

  test("a repeated Core.table read launches no job") {
    // a plain table, `events` (read under nanosAsLong) and a table
    // whose NTZ column Core.table casts
    val dir = tmp("tables")
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.parquet(s"$dir/plain.parquet")
    Seq((1L, 5000000000L)).toDF("id", "ts").write.parquet(s"$dir/events.parquet")
    Seq((1, java.time.LocalDateTime.of(2020, 1, 2, 3, 4))).toDF("k", "d")
      .write.parquet(s"$dir/ntz.parquet")
    // the measurement sees inference: a schema-less read costs a job
    assert(jobsOf(spark.read.parquet(s"$dir/plain.parquet"))._2 >= 1)
    for (name <- Seq("plain", "events", "ntz")) {
      val first = Core.table(spark, dir, name)
      val (again, jobs) = jobsOf(Core.table(spark, dir, name))
      assert(jobs == 0, s"a repeated read of $name launched $jobs jobs")
      assert(again.schema == first.schema)
      assert(again.count() == first.count())
    }
  }

  test("8 first readers of one path at once launch one inference job") {
    val path = s"${tmp("race")}/t.parquet"
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.parquet(path)
    val go = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val (schemas, jobs) = jobsOf {
        val reads = (1 to 8).map(_ => pool.submit(new java.util.concurrent.Callable[StructType] {
          def call(): StructType = { go.await(); Core.readParquet(spark, path).schema }
        }))
        go.countDown()
        reads.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      }
      assert(schemas.distinct.size == 1 && schemas.head.map(_.name) == Seq("k", "v"))
      assert(jobs == 1, s"8 racing first reads launched $jobs jobs")
    } finally pool.shutdownNow()
  }

  test("a warm hybrid lookup launches as many jobs at append fan-out 2 as on a compacted store") {
    val root = tmp("fanout")
    ops.IndexStore.writeUnified(spark, docsOf(0 to 11), vecsOf(0 to 11), cents, root)
    val queries = vecsOf(3 to 4).select($"vec_id", $"unit")
    def lookup(): Int = {
      def run() = {
        val (lex, ann) = ops.IndexStore.retrievalFromUnified(spark, root,
          Seq("beta", "delta"), queries, nprobe = 2, k = 3)
        (lex.collect(), ann.collect())
      }
      run()                                      // warm: first reads infer
      val ((lex, ann), jobs) = jobsOf(run())
      assert(lex.nonEmpty && ann.nonEmpty)
      jobs
    }
    def fanOut(ch: String): Int = {
      val snap = ops.IndexStore.history(root).last
      ops.IndexStore.manifestAt(root, snap)(ch).paths.size
    }
    val compacted = lookup()
    assert(fanOut("postings") == 1 && fanOut("cells") == 1)
    ops.IndexStore.appendUnified(spark, root, docsOf(12 to 17), vecsOf(12 to 17))
    assert(fanOut("postings") == 2 && fanOut("cells") == 2)
    val appended = lookup()
    assert(appended == compacted,
      s"a warm lookup ran $compacted jobs compacted and $appended at fan-out 2")
  }

  test("a store root rebuilt with another schema at the same path reads the new schema and rows") {
    val root = tmp("rebuild")
    ops.IndexStore.writeUnified(spark, docsOf(0 to 11), vecsOf(0 to 11), cents, root)
    def docLens = ops.IndexStore.channel(spark, root, "doc_lens")
    def cells = ops.IndexStore.channel(spark, root, "cells")
    assert(docLens.schema("doc_id").dataType == LongType)
    assert(cells.schema("label").dataType == IntegerType)
    val snaps = ops.IndexStore.history(root)
    ops.IndexStore.deleteRec(new java.io.File(root))
    // same snap_N names, other column types and other rows
    val ids = 100 to 107
    ops.IndexStore.writeUnified(spark,
      docsOf(ids).select($"doc_id".cast(IntegerType).as("doc_id"), $"text"),
      vecsOf(ids).select($"vec_id", $"label".cast(LongType).as("label"), $"unit"),
      cents, root)
    assert(ops.IndexStore.history(root) == snaps)
    assert(docLens.schema("doc_id").dataType == IntegerType)
    assert(cells.schema("label").dataType == LongType)
    assert(docLens.select($"doc_id").as[Int].collect().sorted.toSeq == ids)
    assert(cells.select($"vec_id").as[Long].collect().sorted.toSeq == ids.map(_.toLong))
  }

  test("a Core.table path overwritten with another schema reads the new schema and rows") {
    val dir = tmp("table")
    // a table written by Spark: a directory of part files
    Seq((1, "a"), (2, "b")).toDF("k", "v")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/t.parquet")
    assert(Core.table(spark, dir, "t").schema.map(_.name) == Seq("k", "v"))
    Seq((3L, 1.5, "x")).toDF("k", "w", "v")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/t.parquet")
    val t = Core.table(spark, dir, "t")
    assert(t.schema("k").dataType == LongType && t.columns.toSeq == Seq("k", "w", "v"))
    assert(t.collect().toSeq == Seq(Row(3L, 1.5, "x")))
    // a single-file table rewritten in place (the testdata layout)
    def partOf(df: DataFrame): java.nio.file.Path = {
      val out = s"${tmp("part")}/p"
      df.coalesce(1).write.parquet(out)
      Files.list(Paths.get(out)).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
    }
    val single = Paths.get(s"$dir/s.parquet")
    Files.copy(partOf(Seq((1, "a")).toDF("k", "v")), single)
    assert(Core.table(spark, dir, "s").collect().toSeq == Seq(Row(1, "a")))
    Files.copy(partOf(Seq(("z", 2L, 7)).toDF("v", "k", "n")), single,
      StandardCopyOption.REPLACE_EXISTING)
    val s = Core.table(spark, dir, "s")
    assert(s.columns.toSeq == Seq("v", "k", "n"))
    assert(s.collect().toSeq == Seq(Row("z", 2L, 7)))
  }
}
