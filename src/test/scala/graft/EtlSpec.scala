package graft

import graft.etl.{Pipeline, Readers, Sinks}
import java.nio.file.Files

/** Faithful ETL-surface tests (FIXTURES.md §A; reference semantics from
  * /root/reference/unified_code.py:164–293). */
class EtlSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-etl").toString

  test("pipeline adds markers and injects id=NULL when absent (R8–R11)") {
    val df = Seq(("a", 1.0), ("b", 2.0)).toDF("name", "amount")
    val out = Pipeline.run(df)
    assert(out.columns.toSet ==
      Set("name", "amount", "prepared", "id", "transformed", "finalized"))
    val rows = out.collect()
    assert(rows.forall(r => r.getAs[Boolean]("prepared") &&
      r.getAs[Boolean]("transformed") && r.getAs[Boolean]("finalized")))
    assert(rows.forall(_.isNullAt(out.columns.indexOf("id"))))
  }

  test("pipeline keeps an existing id column untouched (unified_code.py:267)") {
    val df = Seq((10L, "a"), (20L, "b")).toDF("id", "name")
    val out = Pipeline.run(df)
    assert(out.select("id").as[Long].collect().sorted.sameElements(Array(10L, 20L)))
  }

  test("stage contracts reject out-of-order composition (unified_code.py:265,290)") {
    val df = Seq((1, "x")).toDF("id", "name")
    intercept[IllegalArgumentException](Pipeline.validate(df))
    intercept[IllegalArgumentException](Pipeline.finalizeStage(Pipeline.prepare(df)))
  }

  test("testMode limits to 3 chunks of chunk_size (unified_code.py:441)") {
    val df = spark.range(10000).toDF("id")
    assert(Pipeline.testMode(df, chunkSize = 500).count() == 1500)
  }

  test("CSV reader: separator, quoted embedded newline, unicode (R4–R6)") {
    val dir = tmpDir()
    val f = s"$dir/in.csv"
    // quoted field with embedded newline + quote escape + cyrillic —
    // the reference's line-count metadata would drop the last row
    // (unified_code.py:226, SURVEY.md §4.3(3))
    Files.write(java.nio.file.Paths.get(f),
      "id;text;value\n1;\"multi\nline \"\"x\"\"\";1.5\n2;привет;2.5\n".getBytes("UTF-8"))
    val df = Readers.csv(spark, f, sep = ";")
    assert(df.count() == 2)
    val byId = df.collect().map(r => r.getAs[Any]("id").toString.toLong -> r).toMap
    assert(byId(1L).getAs[String]("text") == "multi\nline \"x\"")
    assert(byId(2L).getAs[String]("text") == "привет")
    assert(byId(2L).getAs[Any]("value").toString.toDouble == 2.5)
  }

  test("validate probe returns false on a bad path, true on good (R1/R4)") {
    assert(!Readers.validate(spark, "/nonexistent/nope.csv", "csv"))
    val dir = tmpDir()
    Files.write(java.nio.file.Paths.get(s"$dir/ok.csv"), "a,b\n1,2\n".getBytes)
    assert(Readers.validate(spark, s"$dir/ok.csv", "csv"))
  }

  test("json chunks + merged sinks round-trip with stable order (R13/R14)") {
    val dir = tmpDir()
    val df = spark.range(25).toDF("id").withColumn("sq", $"id" * $"id")
    Sinks.jsonChunks(df, s"$dir/chunks")
    val back = Readers.json(spark, s"$dir/chunks")
    assert(back.count() == 25)
    Sinks.jsonArrayFile(df.orderBy($"sq".desc), s"$dir/merged.json", Seq("id"))
    // one array file, rows in key order (fixes §4.3(2) merge bug)
    val ids = Readers.json(spark, s"$dir/merged.json", multiLine = true)
      .select("id").as[Long].collect()
    assert(ids.sameElements(0L until 25L))
  }

  test("jsonArrayFile writes a python-json-compatible array, minified and pretty (R14/R15)") {
    val dir = tmpDir()
    val df = Seq((1L, "привет"), (2L, "b\"c")).toDF("id", "text")
    Sinks.jsonArrayFile(df, s"$dir/min.json", Seq("id"))
    val min = new String(Files.readAllBytes(java.nio.file.Paths.get(s"$dir/min.json")), "UTF-8")
    assert(min == """[{"id":1,"text":"привет"},{"id":2,"text":"b\"c"}]""")
    Sinks.jsonArrayFile(df, s"$dir/pretty.json", Seq("id"), indent = true)
    val pretty = new String(Files.readAllBytes(java.nio.file.Paths.get(s"$dir/pretty.json")), "UTF-8")
    assert(pretty ==
      "[\n    {\n        \"id\": 1,\n        \"text\": \"привет\"\n    },\n    {\n        \"id\": 2,\n        \"text\": \"b\\\"c\"\n    }\n]")
  }

  test("metadata probe: schema + count without per-sheet re-parse (R2/R5)") {
    val (schema, n) = Readers.metadata(spark.range(7).toDF("id"))
    assert(schema.fieldNames.sameElements(Array("id")) && n == 7)
  }
}
