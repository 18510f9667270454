package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.etl.{Converter, Metrics, Sinks}
import graft.sources.Xlsx
import org.apache.spark.sql.functions._

/** One pass per conversion: a conversion launches only the engine work
  * its output needs, and its rows/files/bytes come from the sink, never
  * from a re-count, a probe read or a directory listing. */
class ConverterSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def write(path: String, body: String): Unit =
    Files.write(Paths.get(path), body.getBytes("UTF-8"))

  /** 300 rows; every 10th carries a quoted field with an embedded
    * newline, a `""` escape and Cyrillic text. */
  private def csvInput(): String = {
    val f = s"${tmpDir("conv-csv")}/in.csv"
    val rows = (1 to 300).map { i =>
      val note = if (i % 10 == 0) "\"multi\nline \"\"q\"\" привет\"" else s"n$i"
      s"$i,${i * 1.5},$note"
    }
    write(f, ("key,amount,note" +: rows).mkString("", "\n", "\n"))
    f
  }

  /** A directory of two single-sheet workbooks, 120 orders rows. */
  private def xlsxInput(): String = {
    val dir = tmpDir("conv-xlsx")
    for (w <- 0 until 2) {
      val df = (0 until 60).map(i => (f"o${w * 60 + i}%04d", s"${i * 2.5}")).toDF("okey", "price")
      Xlsx.write(df, s"$dir/wb$w.xlsx")
    }
    dir
  }

  private def listing(dir: String): Seq[java.nio.file.Path] =
    Files.list(Paths.get(dir)).iterator().asScala.toSeq

  test("one pass: CSV→chunks runs 3 jobs (schema inference + write), xlsx→merge 2") {
    val csv = csvInput()
    val (csvStats, csvJobs) = jobsOf(Converter.convert(spark, csv, tmpDir("conv-out"),
      Converter.Config(outputMode = "chunks")))
    assert(csvStats.rows == 300)
    assert(csvJobs == 3, s"CSV→chunks ran $csvJobs jobs")
    val xlsx = xlsxInput()
    val (xlsxStats, xlsxJobs) = jobsOf(Converter.convert(spark, xlsx, tmpDir("conv-out"),
      Converter.Config(format = "xlsx")))
    assert(xlsxStats.rows == 120)
    assert(xlsxJobs == 2, s"xlsx→merge ran $xlsxJobs jobs")
    // the write-stats barrier itself launches no job
    assert(jobsOf(())._2 == 0)
  }

  test("chunks stats are the sink's: files = part-*.json files, bytes = their size") {
    val out = tmpDir("conv-out")
    val stats = Converter.convert(spark, csvInput(), out,
      Converter.Config(outputMode = "chunks"))
    val parts = listing(out).filter { p =>
      val n = p.getFileName.toString
      n.startsWith("part-") && n.endsWith(".json")
    }
    assert(parts.nonEmpty)
    // the .crc sidecars and _SUCCESS next to them do not count
    assert(listing(out).size > parts.size)
    assert(stats.rows == 300)
    assert(stats.files == parts.size, s"got $stats")
    assert(stats.bytes == parts.map(Files.size).sum, s"got $stats")
  }

  test("merge stats: one file, bytes = size of output.json, stale files not counted") {
    val out = tmpDir("conv-out")
    write(s"$out/stale.json", "left over from an earlier run")
    val stats = Converter.convert(spark, xlsxInput(), out, Converter.Config(format = "xlsx"))
    assert(stats.rows == 120 && stats.files == 1, s"got $stats")
    assert(stats.bytes == Files.size(Paths.get(s"$out/output.json")))
  }

  test("a header-only CSV converts to 0 rows in both modes") {
    val f = s"${tmpDir("conv-empty")}/in.csv"
    write(f, "key,amount\n")
    val chunks = Converter.convert(spark, f, tmpDir("conv-out"),
      Converter.Config(outputMode = "chunks"))
    assert(chunks.rows == 0, s"got $chunks")
    val out = tmpDir("conv-out")
    val merged = Converter.convert(spark, f, out)
    assert(merged.rows == 0 && merged.files == 1 && merged.bytes == 2, s"got $merged")
    assert(new String(Files.readAllBytes(Paths.get(s"$out/output.json")), "UTF-8") == "[]")
  }

  test("merge output is byte-identical to a range-partitioned orderBy + collect") {
    // distinct (a, b) pairs spread over 4 partitions out of order, a
    // null first key among them, ties on `a` alone
    val df = spark.range(0, 400, 1, 4)
      .select(
        when($"id" === 7, lit(null)).otherwise(($"id" * 7919) % 50).as("a"),
        (($"id" * 7919) % 400).as("b"),
        concat(lit("v"), $"id".cast("string")).as("v"))
    val keys = Seq("a", "b")
    val expected = df.orderBy(keys.map(col): _*)
      .select(to_json(struct(df.columns.toIndexedSeq.map(col): _*),
        Map("ignoreNullFields" -> "false")))
      .collect().map(_.getString(0)).mkString("[", ",", "]")
    val path = s"${tmpDir("conv-merge")}/out.json"
    val stats = Sinks.jsonArrayFile(df, path, keys)
    val got = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
    assert(got == expected)
    assert(stats == Metrics.WriteStats(400, 1, Files.size(Paths.get(path))))
  }

  test("a merge that fails before publishing leaves the previous output byte-intact and no temp file") {
    val out = tmpDir("conv-out")
    Converter.convert(spark, xlsxInput(), out, Converter.Config(format = "xlsx"))
    val target = Paths.get(s"$out/output.json")
    val before = Files.readAllBytes(target)
    Sinks.crashBeforePublish = true
    val err = try intercept[RuntimeException](Converter.convert(spark, csvInput(), out))
      finally Sinks.crashBeforePublish = false
    assert(err.getMessage == "injected crash before publish")
    assert(java.util.Arrays.equals(Files.readAllBytes(target), before))
    assert(listing(out).map(_.getFileName.toString) == Seq("output.json"))
    // the next run publishes its own output
    val stats = Converter.convert(spark, csvInput(), out)
    assert(stats.rows == 300 && stats.bytes == Files.size(target))
    assert(listing(out).map(_.getFileName.toString) == Seq("output.json"))
  }

  test("a chunks run that fails before publishing leaves the previous part files byte-intact and no staging dir") {
    val parent = tmpDir("conv-chunks")
    val out = s"$parent/out"
    val chunks = Converter.Config(outputMode = "chunks")
    Converter.convert(spark, csvInput(), out, chunks)
    def files() = listing(out).sortBy(_.toString)
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq)
    val before = files()
    assert(before.exists(_._1.startsWith("part-")))
    Sinks.crashBeforePublish = true
    val err = try intercept[RuntimeException](Converter.convert(spark, csvInput(), out, chunks))
      finally Sinks.crashBeforePublish = false
    assert(err.getMessage == "injected crash before publish")
    assert(files() == before)
    assert(listing(parent).map(_.getFileName.toString) == Seq("out"))
    // the next run publishes its own output in place of the old one
    val stats = Converter.convert(spark, csvInput(), out, chunks)
    assert(stats.rows == 300 && files() != before)
    assert(listing(parent).map(_.getFileName.toString) == Seq("out"))
  }
}
