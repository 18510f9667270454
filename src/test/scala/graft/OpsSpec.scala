package graft

import graft.etl.Converter
import graft.ops.{AsOf, Skew}
import java.nio.file.Files

/** Converter lifecycle + reusable operator helpers (as-of, salted join). */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("Converter end-to-end: CSV → pipeline → merged minified JSON array + stats") {
    val in = Files.createTempDirectory("conv-in").toString
    val out = Files.createTempDirectory("conv-out").toString
    Files.write(java.nio.file.Paths.get(s"$in/data.csv"),
      "name;amount\nalpha;1.5\nbeta;2.5\n".getBytes("UTF-8"))
    val stats = Converter.convert(spark, s"$in/data.csv", out,
      Converter.Config(csvSeparator = ";", sortKeys = Seq("name")))
    assert(stats.rows == 2 && stats.files == 1 && stats.bytes > 0)
    val body = new String(Files.readAllBytes(java.nio.file.Paths.get(s"$out/output.json")), "UTF-8")
    assert(body.startsWith("[{") && body.endsWith("}]"))
    assert(body.contains("\"prepared\":true") && body.contains("\"finalized\":true"))
    assert(body.contains("\"id\":null") || body.contains("\"id\": null"))
  }

  test("Converter chunks mode + test-mode row budget") {
    val in = Files.createTempDirectory("conv-in2").toString
    val out = Files.createTempDirectory("conv-out2").toString
    val rows = (1 to 5000).map(i => s"r$i,${i * 1.5}").mkString("\n")
    Files.write(java.nio.file.Paths.get(s"$in/big.csv"), s"name,amount\n$rows\n".getBytes)
    val stats = Converter.convert(spark, s"$in/big.csv", out,
      Converter.Config(outputMode = "chunks", testMode = true, chunkSize = 500))
    assert(stats.rows == 1500, s"test mode should cap at 3×500 rows, got ${stats.rows}")
    val back = spark.read.json(out)
    assert(back.count() == 1500)
  }

  test("Converter rejects invalid input and unknown modes") {
    intercept[IllegalArgumentException] {
      Converter.convert(spark, "/nonexistent/x.csv", "/tmp/unused")
    }
    // a bad Config fails before the input is touched: on a missing input
    // the error names the Config, not the read
    val mode = intercept[IllegalArgumentException] {
      Converter.convert(spark, "/nonexistent/x.csv", "/tmp/unused",
        Converter.Config(outputMode = "zip"))
    }
    assert(mode.getMessage == "unsupported output mode: zip")
    val format = intercept[IllegalArgumentException] {
      Converter.convert(spark, "/nonexistent/x.csv", "/tmp/unused",
        Converter.Config(format = "dbf"))
    }
    assert(format.getMessage == "unsupported format: dbf")
  }

  test("Metrics.collectWriteStats reports rows/files/bytes of a sink job") {
    val out = Files.createTempDirectory("metrics-out").toString
    val df = spark.range(100).toDF("id")
    val (_, stats) = etl.Metrics.collectWriteStats(spark) {
      etl.Sinks.jsonChunks(df, out)
    }
    assert(stats.rows == 100, s"got $stats")
    assert(stats.files > 0 && stats.bytes > 0, s"got $stats")
  }

  test("AsOf.joinAsOf (max_by argmax) matches an independent window composition") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val e = Core.table(spark, dir, "events")
    val o = Core.table(spark, dir, "orders")
    val got = AsOf.joinAsOf(e, o, Seq("user_id" -> "o_custkey"),
        leftId = "event_id", leftTime = "ts", rightTime = "o_orderdate",
        tieBreak = "o_orderkey")
      .select($"event_id", $"o_orderkey")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    // q09 now uses joinAsOf itself, so cross-check against the window
    // formulation built here from scratch
    val w = Window.partitionBy($"event_id")
      .orderBy($"o_orderdate".desc_nulls_last, $"o_orderkey".desc_nulls_last)
    val viaWindow = e.join(o, $"user_id" === $"o_custkey" && $"o_orderdate" <= $"ts", "left")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"event_id", $"o_orderkey")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got == viaWindow)
  }

  test("Skew.saltedJoin returns exactly the plain join's result") {
    val dir = "/root/testdata/sf0.001"
    val l = Core.table(spark, dir, "lineitem").select($"l_orderkey", $"l_quantity")
    val o = Core.table(spark, dir, "orders").select($"o_orderkey", $"o_totalprice")
    val plain = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy($"l_orderkey").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedJoin(l, o, "l_orderkey", "o_orderkey", nSalts = 8)
      .groupBy($"l_orderkey").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("Functions.madOutliersScalable equals the q105 window formulation exactly") {
    val dir = "/root/testdata/sf0.001"
    val window = SparkEntry.queries("q105_mad_outliers")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val selection = ops.Functions.madOutliersScalable(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(selection == window,
      "range-partitioned selection must reproduce the rank-window medians bit-for-bit")
    // and the medians really are exact: recompute one group driver-side
    val prices = Core.table(spark, dir, "orders")
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_totalprice").as[Double].collect().sorted
    val n = prices.length
    val expect = (prices((n - 1) / 2) + prices(n / 2)) / 2
    val got = window.find(_.head == "1-URGENT").get(2).asInstanceOf[Double]
    assert(math.abs(got - math.floor(expect * 100 + 0.5) / 100 * 1.0) < 0.011,
      s"median mismatch: got $got vs driver-side $expect")
  }

  test("Relational.rankFractionsScalable equals the q100 window formulation exactly") {
    // total order (unique o_orderkey tiebreak) makes rank==row_number,
    // so the prefix-offset spelling must reproduce the window
    // bit-for-bit — including the n==1 percent_rank=0 edge and the
    // null second_key for 1-row groups
    val dir = "/root/testdata/sf0.001"
    val window = SparkEntry.queries("q100_rank_fractions")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val scalable = ops.Relational.rankFractionsScalable(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(window.nonEmpty && scalable == window,
      "prefix-offset fractional ranks diverged from the window spelling")
  }

  test("TextOps.lmBucketsScalable agrees with the q121 ntile buckets") {
    val dir = "/root/testdata/sf0.01"
    val anchor = SparkEntry.queries("q121_lm_filter_buckets")(spark, dir)
      .select($"doc_id", $"bucket").as[(Long, String)].collect().toMap
    val fastRows = ops.TextOps.lmBucketsScalable(spark, dir)
      .select($"doc_id", $"mean_logp", $"bucket", $"keep")
      .as[(Long, Double, String, Int)].collect()
    assert(fastRows.map(_._1).toSet == anchor.keySet, "doc sets diverge")
    val agree = fastRows.count { case (id, _, b, _) => anchor(id) == b }
      .toDouble / anchor.size
    assert(agree >= 0.95,
      s"threshold buckets agree with ntile on only ${agree * 100}%% of docs")
    // construction invariants: all three buckets populated, buckets
    // strictly monotone in score (thresholds keep tie groups
    // together, so the bucket boundaries cannot interleave), and keep
    // is exactly the head+middle gate
    val byB = fastRows.groupBy(_._3)
    assert(Set("head", "middle", "tail") == byB.keySet)
    assert(byB("head").map(_._2).min > byB("middle").map(_._2).max)
    assert(byB("middle").map(_._2).min > byB("tail").map(_._2).max)
    assert(fastRows.forall { case (_, _, b, k) => (b != "tail") == (k == 1) })
  }

  test("Training.curriculumOrderScalable agrees with the q122 ntile stages") {
    val dir = "/root/testdata/sf0.01"
    val anchor = SparkEntry.queries("q122_curriculum_order")(spark, dir)
      .select($"doc_id", $"stage").as[(Long, Int)].collect().toMap
    val fast = ops.Training.curriculumOrderScalable(spark, dir)
      .select($"doc_id", $"stage", $"pos").as[(Long, Int, Int)].collect()
    assert(fast.map(_._1).toSet == anchor.keySet, "doc sets diverge")
    val agree = fast.count { case (id, st, _) => anchor(id) == st }
      .toDouble / anchor.size
    assert(agree >= 0.95,
      s"threshold stages agree with ntile on only ${agree * 100}%% of docs")
    // within each stage the positions are a complete 1..n permutation
    // in md5-rank order (same in-stage shuffle as the anchor)
    fast.groupBy(_._2).foreach { case (st, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length),
        s"stage $st positions are not 1..${rows.length}")
      def hex(id: Long) = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val want = rows.map(_._1).sortBy(id => (hex(id), id))
      assert(rows.sortBy(_._3).map(_._1).toSeq == want.toSeq,
        s"stage $st order is not the md5-rank shuffle")
    }
  }

  test("q119 PMI: scores match a driver-side recompute from raw bigram counts") {
    val dir = "/root/testdata/sf0.001"
    Core.clearCaches(spark)
    val top = SparkEntry.queries("q119_pmi_collocations")(spark, dir)
      .as[(String, Long, Long)].collect()
    assert(top.length == 50)
    // driver-side marginals over the same pair stream
    val pairs = Core.table(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.lower($"text")).as[String].collect()
      .flatMap { t => val ws = t.split(" ", -1); ws.zip(ws.drop(1)) }
    val (ca, cb) = (pairs.groupBy(_._1).view.mapValues(_.length).toMap,
      pairs.groupBy(_._2).view.mapValues(_.length).toMap)
    val cab = pairs.groupBy(identity).view.mapValues(_.length).toMap
    val n = pairs.length
    top.foreach { case (pr, gotAb, gotPmi) =>
      val i = pr.indexOf(' ')
      val (w1, w2) = (pr.substring(0, i), pr.substring(i + 1))
      assert(gotAb == cab((w1, w2)) && gotAb >= 5)
      val want = (BigInt(gotAb) * n * 1000000 / (BigInt(ca(w1)) * cb(w2))).toLong
      assert(gotPmi == want, s"'$pr': $gotPmi != $want")
    }
    // emitted in rank order
    assert(top.sliding(2).forall { case Array(a, b) => a._3 >= b._3 })
    Core.clearCaches(spark)
  }

  test("q121 LM buckets: thirds within one, score ordering respected, keep = not tail") {
    val dir = "/root/testdata/sf0.001"
    Core.clearCaches(spark)
    val rows = SparkEntry.queries("q121_lm_filter_buckets")(spark, dir)
      .as[(Long, Double, String, Int)].collect()
    val byB = rows.groupBy(_._3)
    assert(byB.keySet == Set("head", "middle", "tail"))
    val sizes = byB.view.mapValues(_.length).toMap
    assert(sizes.values.max - sizes.values.min <= 1, s"uneven thirds: $sizes")
    assert(byB("head").map(_._2).min >= byB("middle").map(_._2).max)
    assert(byB("middle").map(_._2).min >= byB("tail").map(_._2).max)
    assert(rows.forall { case (_, _, b, k) => (k == 1) == (b != "tail") })
    Core.clearCaches(spark)
  }

  test("q114 BM25: engine top-20 matches an independent driver-side recompute") {
    val dir = "/root/testdata/sf0.001"
    Core.clearCaches(spark)
    val top = SparkEntry.queries("q114_bm25")(spark, dir)
      .select($"doc_id", $"score").as[(Long, Double)].collect()
    assert(top.length == 20)
    // emitted in rank order: scores non-increasing, all positive
    assert(top.sliding(2).forall { case Array(a, b) => a._2 >= b._2 },
      "scores must be non-increasing down the ranked list")
    assert(top.forall(_._2 > 0.0))
    // independent recompute with plain Scala collections (no Spark SQL
    // machinery shared with the query): tokenize, tf/df/dl, BM25
    // k1=1.2 b=0.75, Lucene idf, 4-dp floor rounding
    val docs = Core.table(spark, dir, "documents")
      .select($"doc_id", org.apache.spark.sql.functions.lower($"text"))
      .as[(Long, String)].collect()
    val toks: Map[Long, Seq[String]] =
      docs.map { case (id, t) => id -> "[a-z]+".r.findAllIn(t).toSeq }.toMap
    val n = toks.size.toDouble
    val avgdl = toks.values.map(_.size).sum / n
    val df = toks.values.flatMap(_.distinct).groupBy(identity).view.mapValues(_.size).toMap
    val q = toks(docs.map(_._1).min).distinct.toSet
    val want = toks.toSeq.map { case (id, ts) =>
      val dl = ts.size.toDouble
      val s = ts.groupBy(identity).collect { case (t, occ) if q(t) =>
        val idf = math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5))
        idf * ((occ.size * 2.2) / (occ.size + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
      }.sum
      id -> math.floor(s * 10000 + 0.5) / 10000.0
    }.filter(_._2 > 0).sortBy { case (id, s) => (-s, id) }.take(20)
    assert(top.toSeq == want,
      s"engine top-20 != driver recompute:\n got=${top.toSeq}\nwant=$want")
  }
}
