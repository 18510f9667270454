package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.{Core, SparkEntry}
import graft.etl.Converter
import graft.ops.IndexStore
import graft.streaming.StreamingOps

/** One benchmark run in one fresh JVM: set up, drive one workload with a
  * single closed-loop client for a fixed window, check every output outside
  * the timed window, and write the raw samples as JSON for run.py.
  *
  * Usage: Harness <workload> <inputs dir> <work dir> <seconds> <trace 0|1>
  *   <result json> [<catalog json>]
  *        Harness families   (prints the catalog key → family map)
  *        Harness check <csv|xlsx> <output dir>   (prints one output check) */
object Harness {
  private val mapper = Json.mapper

  /** One timed operation; `key` groups samples that run.py summarizes
    * together (a catalog query's passes, a compaction cycle's folds). */
  final case class Op(kind: String, seconds: Double, ok: Boolean, key: String = "")

  /** Samples and checks of one run; run.py turns them into metrics. */
  final class Result {
    val setup = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[Op]
    val failures = mutable.ArrayBuffer.empty[String]
    val facts = mutable.LinkedHashMap.empty[String, Any]
    var windowSeconds = 0.0

    /** Seconds spent inside timed operations so far: the window closes on
      * this, so output checks between operations do not eat into it. */
    def opSeconds: Double = ops.filter(o => !o.kind.endsWith("pass") && !o.kind.startsWith("cold"))
      .map(_.seconds).sum

    /** Times one operation of the timed window; a throw is a failed op. */
    def timed(kind: String, key: String = "")(body: => Unit): Boolean = {
      val t0 = System.nanoTime()
      val ok = try { body; true } catch {
        case e: Exception =>
          failures += s"$kind: ${e.getClass.getName}: ${e.getMessage}"; false
      }
      ops += Op(kind, (System.nanoTime() - t0) / 1e9, ok, key)
      ok
    }

    /** An output check done after the op; a mismatch fails the op. */
    def check(cond: Boolean, what: => String): Unit =
      if (!cond) {
        failures += what
        if (ops.nonEmpty && ops.last.ok) ops(ops.size - 1) = ops.last.copy(ok = false)
      }
  }

  // ---- catalog family attribution ----

  val familyMaps: Seq[(String, Map[String, Core.Q])] = Seq(
    "relational" -> graft.ops.Relational.catalog,
    "functions" -> graft.ops.Functions.catalog,
    "subquery" -> graft.ops.Subquery.catalog,
    "skew" -> graft.ops.Skew.catalog,
    "formats" -> graft.ops.Formats.catalog,
    "dedup" -> graft.ops.Dedup.catalog,
    "corpus" -> graft.ops.Corpus.catalog,
    "hygiene" -> graft.ops.Hygiene.catalog,
    "training" -> graft.ops.Training.catalog,
    "similarity" -> graft.ops.Similarity.catalog,
    "selection" -> graft.ops.Selection.catalog,
    "textops" -> graft.ops.TextOps.catalog,
    "multimodal" -> graft.ops.Multimodal.catalog,
    "etl" -> graft.etl.Pipeline.catalog)

  /** Every catalog key → the families whose catalog map holds it. A sound
    * attribution maps each key to exactly one family. */
  def familiesOf: Map[String, Seq[String]] =
    SparkEntry.queries.keys.map { k =>
      k -> familyMaps.collect { case (f, m) if m.contains(k) => f }
    }.toMap

  def family: Map[String, String] = {
    val bad = familiesOf.filter(_._2.size != 1)
    require(bad.isEmpty, s"catalog keys without exactly one family: $bad")
    familiesOf.map { case (k, fs) => k -> fs.head }
  }

  def qnum(name: String): Int =
    "\\d+".r.findFirstIn(name).map(_.toInt).getOrElse(Int.MaxValue)

  // ---- session ----

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def timeIt(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  // ---- output checks ----

  /** The first 8 bytes of each key's MD5 summed mod 2^64 — gen.py's
    * key_hash, so the check needs no second pass over the input. */
  private def keyHash(keys: Iterator[String]): String = {
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    keys.foreach { k =>
      sum += java.nio.ByteBuffer.wrap(md.digest(k.getBytes("UTF-8"))).getLong
    }
    java.lang.Long.toUnsignedString(sum)
  }

  private def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val w = Files.walk(dir)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      finally w.close()
    }

  private def bytesOf(paths: Seq[Path]): Long = paths.map(Files.size).sum

  // ---- workloads ----

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("families")) {
      println(Json.render(familiesOf))
      return
    }
    if (args.headOption.contains("check")) {
      println(Json.render(checkOutput(args(1), args(2)) match {
        case Right((rows, hash)) => Map("rows" -> rows, "key_hash" -> hash)
        case Left(err) => Map("error" -> err)
      }))
      return
    }
    val Array(workload, inputs, work, secondsArg, traceArg, out) = args.take(6)
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val res = new Result
    val runId = s"$workload-${ProcessHandle.current().pid()}"
    var spark: SparkSession = null
    try {
      val ledger = workload match {
        case "convert" =>
          // set-up: a fresh session up to its first job, three times (the
          // median is a restart in a warm JVM; the first is the cold one)
          for (_ <- 1 to 3) {
            if (spark != null) spark.stop()
            res.setup += timeIt { spark = session(work); spark.range(1).count() }
          }
          val ledger = new Ledger(spark, trace, runId)
          convert(spark, ledger, inputs, work, seconds, res)
          ledger
        case "catalog" =>
          // set-up: the session and the selection family's warm entry point
          // (the other families' warm-ups cost more than a run's budget; the
          // memos the timed queries need build lazily in the cold pass)
          val t0 = System.nanoTime()
          spark = session(work)
          val ledger = new Ledger(spark, trace, runId)
          res.facts("warm.selection.s") =
            timeIt(ledger.span("warm.selection")(graft.ops.Selection.warm(spark, inputs)))
          res.setup += (System.nanoTime() - t0) / 1e9
          catalog(spark, ledger, inputs, mapper.readTree(new java.io.File(args(6))), seconds, res)
          ledger
        case "ingest_serve" =>
          spark = session(work)
          val ledger = new Ledger(spark, trace, runId)
          ingestServe(spark, ledger, inputs, work, seconds, res)
          ledger
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (ledger.enabled) {
        ledger.writeJsonl(s"$work/ledger.jsonl")
        res.facts("layers") = layers(ledger)
        res.facts("drain_s") = ledger.drainNs / 1e9
      }
    } finally {
      val body = Json.render(Map(
        "setup_s" -> res.setup,
        "ops" -> res.ops.map(o => Map("kind" -> o.kind, "s" -> o.seconds, "ok" -> o.ok,
          "key" -> o.key)),
        "window_s" -> res.windowSeconds,
        "failures" -> res.failures,
        "facts" -> res.facts))
      Files.write(Paths.get(out), body.getBytes("UTF-8"))
      if (spark != null) spark.stop()
    }
  }

  /** Alternates a CSV→chunks and an xlsx-directory→merge conversion with the
    * CLI-default Config until the window closes. */
  def convert(spark: SparkSession, ledger: Ledger, inputs: String, work: String,
      seconds: Double, res: Result): Unit = {
    val manifest = mapper.readTree(new java.io.File(s"$inputs/MANIFEST.json"))
    val kinds = Seq(
      ("csv", s"$inputs/lineitem.csv", Converter.Config(outputMode = "chunks")),
      ("xlsx", s"$inputs/orders_xlsx", Converter.Config(format = "xlsx")))
    var rows = 0L
    var outBytes = 0L
    var inBytes = 0L
    // the JIT keeps speeding conversions up over the first pairs: those run
    // before the window, the very first one reported as the cold conversion
    val warmPairs = 3
    var n = 0
    while (n <= warmPairs || res.opSeconds < seconds) {
      val cold = if (n < warmPairs) "cold_" else ""
      for ((kind, input, cfg) <- kinds) {
        val outDir = s"$work/out_${kind}_$n"
        var stats: Converter.Stats = null
        res.timed(s"$cold$kind") {
          stats = ledger.span(s"${cold.replace('_', '.')}convert.$kind") {
            Converter.convert(spark, input, outDir, cfg)
          }
        }
        val want = manifest.get(kind)
        if (stats != null) {
          if (cold.isEmpty) rows += stats.rows
          outBytes += stats.bytes
          inBytes += want.get("bytes").asLong
          res.check(stats.rows == want.get("rows").asLong,
            s"$kind: converter reported ${stats.rows} rows, input has ${want.get("rows")}")
          checkOutput(kind, outDir) match {
            case Right((nRows, hash)) =>
              res.check(nRows == want.get("rows").asLong && hash == want.get("key_hash").asText,
                s"$kind: output has $nRows rows, key hash $hash; input has " +
                  s"${want.get("rows")} rows, key hash ${want.get("key_hash").asText}")
            case Left(err) => res.check(false, s"$kind: $err")
          }
        }
        IndexStore.deleteRec(new java.io.File(outDir))
      }
      n += 1
    }
    res.windowSeconds = res.opSeconds
    res.facts("rows") = rows
    res.facts("json_bytes") = outBytes
    res.facts("input_bytes") = inBytes
  }

  /** (rows, key hash) of a conversion's output, or why the output is
    * malformed; never throws, so a bad output fails its op, not the run. */
  def checkOutput(kind: String, dir: String): Either[String, (Long, String)] =
    Try(if (kind == "csv") checkChunks(dir) else checkMerge(dir)) match {
      case Success(v) => Right(v)
      case Failure(e) => Left(s"malformed output: ${e.getClass.getName}: ${e.getMessage}")
    }

  /** Chunks output: every JSON line parses; (rows, key hash) of the lines. */
  private def checkChunks(dir: String): (Long, String) = {
    val parts = files(Paths.get(dir)).filter(_.getFileName.toString.endsWith(".json"))
    var n = 0L
    val keys = parts.iterator.flatMap(p => Files.readAllLines(p).asScala).map { line =>
      val j = mapper.readTree(line)
      n += 1
      s"${j.get("l_orderkey").asText}|${j.get("l_linenumber").asText}|${j.get("l_comment").asText}"
    }
    val h = keyHash(keys)
    (n, h)
  }

  /** Merge output: exactly one file holding one JSON array. */
  private def checkMerge(dir: String): (Long, String) = {
    val fs = files(Paths.get(dir))
    require(fs.size == 1, s"merge output has ${fs.size} files")
    val arr = mapper.readTree(fs.head.toFile)
    require(arr.isArray, "merge output is not one JSON array")
    val els = arr.elements().asScala.toSeq
    (els.size.toLong, keyHash(els.iterator.map(j =>
      s"${j.get("o_orderkey").asText}|${j.get("o_orderpriority").asText}")))
  }

  /** Passes over the configured queries in numeric order, each forced by
    * count(); the first pass runs cold, later passes are the steady state. */
  def catalog(spark: SparkSession, ledger: Ledger, dir: String, cfg: JsonNode,
      seconds: Double, res: Result): Unit = {
    val fam = family
    val want = cfg.get("queries").properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    val names = want.keys.toSeq.sortBy(n => (qnum(n), n))
    val qs = SparkEntry.queries
    // pass 0 runs cold (lazy memo builds, first codegen); the window holds
    // the whole passes after it until `seconds`, and at least three, so each
    // query's median is a middle sample
    var pass = 0
    while (pass < 4 || res.opSeconds < seconds) {
      val cold = if (pass == 0) "cold_" else ""
      val p0 = System.nanoTime()
      var passOk = true
      names.foreach { name =>
        var n = -1L
        val ok = res.timed(s"${cold}query", name) {
          n = ledger.span(s"${cold.replace('_', '.')}catalog.${fam(name)}:$name") {
            qs(name)(spark, dir).count()
          }
        }
        if (ok) res.check(n == want(name), s"$name: count $n, recorded ${want(name)}")
        passOk &&= res.ops.last.ok
      }
      res.ops += Op(s"${cold}pass", (System.nanoTime() - p0) / 1e9, passOk)
      pass += 1
    }
    res.windowSeconds = res.opSeconds
    res.facts("passes") = pass
  }

  /** Bootstraps a unified store, then runs whole compaction cycles of two
    * folds, each followed by a fixed number of hybrid lookups, until the
    * window closes (at least one cycle). */
  def ingestServe(spark: SparkSession, ledger: Ledger, inputs: String, work: String,
      seconds: Double, res: Result): Unit = {
    val m = mapper.readTree(new java.io.File(s"$inputs/MANIFEST.json"))
    val corpus = s"$inputs/corpus"
    val order = m.get("order").elements().asScala.map(_.asLong).toIndexedSeq
    val boot = m.get("bootstrap").asInt
    val perFold = m.get("per_fold").asInt
    val queries = m.get("queries").elements().asScala.map { q =>
      (q.get("terms").elements().asScala.map(_.asText).toSeq, q.get("vec_id").asLong)
    }.toIndexedSeq
    // the bootstrap is one snapshot and every fold adds one: with at most
    // two, every second fold compacts
    spark.conf.set("graft.store.maxSnapshots", "2")
    // the store keeps the bootstrap's model, so a one-shot build over the
    // same corpus and centroids is a valid reference for the final check
    spark.conf.set("graft.store.retrainGrowthFactor", "0")
    spark.conf.set("graft.store.retrainSkewFactor", "0")

    // inputs as driver-local frames, so a fold or lookup times store work only
    val docsAll = Core.table(spark, corpus, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    val vecsAll = spark.read.parquet(s"$corpus/vectors.parquet").select("vec_id", "label", "unit")
      .collect().map(r => r.getLong(0) -> r).toMap
    val cents = spark.read.parquet(s"$corpus/centroids.parquet")
    val centsLocal = spark.createDataFrame(cents.collect().toSeq.asJava, cents.schema)
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("label", IntegerType), StructField("unit", ArrayType(DoubleType))))
    def docs(ids: Seq[Long]): DataFrame = spark.createDataFrame(ids.map(docsAll).asJava, docSchema)
    def vecs(ids: Seq[Long]): DataFrame = spark.createDataFrame(ids.map(vecsAll).asJava, vecSchema)
    def qvec(id: Long): DataFrame = vecs(Seq(id)).select("vec_id", "unit")
    val bootIds = order.take(boot)

    val root = s"$work/store"
    for (i <- 1 to 3) {
      val r = if (i == 3) root else s"$work/store_setup$i"
      res.setup += timeIt {
        ledger.span("store.bootstrap")(IndexStore.writeUnified(spark, docs(bootIds),
          vecs(bootIds), centsLocal, r))
      }
      if (i < 3) IndexStore.deleteRec(new java.io.File(r))
    }

    // the live version's channel paths; their snapshot prefixes are the
    // fan-out that compaction collapses
    def livePaths: Seq[String] = IndexStore.manifestAt(root, IndexStore.history(root).last)
      .values.flatMap(_.paths).toSeq.distinct
    def live: Seq[Path] = livePaths.flatMap(p => files(Paths.get(root, p)))
    def fanOut: Int = livePaths.map(_.takeWhile(_ != '/')).toSet.size

    def lookup(q: Int): (Seq[Row], Seq[Row]) = {
      val (terms, vid) = queries(q % queries.size)
      val (lex, sem) = IndexStore.retrievalFromUnified(spark, root, terms, qvec(vid))
      (lex.collect().toSeq, sem.collect().toSeq)
    }

    var folded = 0
    var q = 0
    val compactFoldSeconds = mutable.ArrayBuffer.empty[Double]
    val plainFoldSeconds = mutable.ArrayBuffer.empty[Double]
    val foldBytes = mutable.ArrayBuffer.empty[Long]
    val foldFiles = mutable.ArrayBuffer.empty[Long]
    val liveFiles = mutable.ArrayBuffer.empty[Long]
    // a warm-up op is kind "cold_<op>" and span "cold.store.<op>", as in convert
    def fold(cold: String, key: String): Unit = {
      val ids = order.slice(boot + folded * perFold, boot + (folded + 1) * perFold)
      require(ids.size == perFold, s"corpus exhausted after $folded folds")
      val before = files(Paths.get(root))
      val fan0 = fanOut
      val ok = res.timed(s"${cold}fold", key) {
        ledger.span(s"${cold.replace('_', '.')}store.fold")(StreamingOps.ingestAndMaintainUnified(
          spark, root, docs(ids), vecs(ids)))
      }
      if (ok) folded += 1
      if (ok && cold.isEmpty) {
        val after = files(Paths.get(root))
        foldBytes += bytesOf(after) - bytesOf(before)
        foldFiles += (after.toSet -- before.toSet).size
        (if (fanOut <= fan0) compactFoldSeconds else plainFoldSeconds) += res.ops.last.seconds
        liveFiles += live.size
      }
    }
    def lookups(cold: String, n: Int): Unit = for (_ <- 1 to n) {
      var got: (Seq[Row], Seq[Row]) = null
      res.timed(s"${cold}lookup") {
        got = ledger.span(s"${cold.replace('_', '.')}store.lookup")(lookup(q))
      }
      if (got != null) res.check(got._1.nonEmpty && got._2.nonEmpty,
        s"lookup $q returned an empty lexical or semantic answer")
      q += 1
    }

    // warm-up: the first fold (cold_s) and the JIT's first lookups. The
    // store then holds two snapshots, so the next fold compacts and the
    // window's compaction cycles are (compacting fold, plain fold), each
    // fold followed by the same number of lookups
    fold("cold_", "")
    lookups("cold_", 2)
    var cycle = 0
    while (cycle < 1 || res.opSeconds < seconds) {
      cycle += 1
      for (_ <- 1 to 2) {
        fold("", s"cycle$cycle")
        lookups("", 5)
      }
    }
    res.windowSeconds = res.opSeconds

    // the write ≡ write+append property: the folded store answers the next
    // lookup exactly like a store written in one shot from the same corpus
    val allIds = order.take(boot + folded * perFold)
    val ref = s"$work/store_oneshot"
    IndexStore.writeUnified(spark, docs(allIds), vecs(allIds), centsLocal, ref)
    val (terms, vid) = queries(q % queries.size)
    def answer(r: String): (Seq[Row], Seq[Row]) = {
      val (lex, sem) = IndexStore.retrievalFromUnified(spark, r, terms, qvec(vid))
      (lex.orderBy(col("score").desc, col("doc_id")).collect().toSeq,
        sem.collect().toSeq.sortBy(_.toString))
    }
    val (got, want) = (answer(root), answer(ref))
    if (got != want) res.failures += s"final lookup (terms ${terms.mkString(",")}, " +
      s"vec $vid) differs from the one-shot store: $got vs $want"
    res.facts("final_checks") = 1
    res.facts("docs") = allIds.size
    res.facts("store_bytes") = bytesOf(live)
    res.facts("compactions") = compactFoldSeconds.size
    res.facts("compact_fold_s") = compactFoldSeconds
    res.facts("plain_fold_s") = plainFoldSeconds
    res.facts("fold_bytes") = foldBytes
    res.facts("fold_files") = foldFiles
    res.facts("live_files") = liveFiles
  }

  // ---- per-layer metrics from the ledger ----

  def layers(l: Ledger): Map[String, Any] = {
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def total(sp: Span)(f: Work => Long): Double = l.subtree(sp).map(s => f(s.work)).sum.toDouble
    val top = l.spans.filter(_.parent == -1).toSeq
    // the window's operations: not the warm-up ("cold.") ones, nor set-up
    val timed = top.filter(s => !s.name.startsWith("warm.") &&
      !s.name.startsWith("cold.") && s.name != "store.bootstrap")
    def perOp(f: Span => Double): Double = mean(timed.map(f))
    val out = mutable.LinkedHashMap.empty[String, Any]
    out("engine.jobs") = perOp(total(_)(_.jobs))
    out("engine.stages") = perOp(total(_)(_.stages))
    out("engine.tasks") = perOp(total(_)(_.tasks))
    out("engine.planning_s") = perOp(total(_)(_.planningNs) / 1e9)
    out("engine.job_busy_s") = perOp(l.jobBusySeconds)
    out("engine.driver_gap_s") = perOp(s => s.seconds - l.jobBusySeconds(s))
    out("engine.codegen_compile_s") = perOp(_.codegenNs / 1e9)
    out("engine.task_cpu_s") = perOp(total(_)(_.cpuNs) / 1e9)
    out("engine.gc_s") = perOp(total(_)(_.gcMs) / 1e3)
    out("engine.scan_bytes") = perOp(total(_)(_.scanBytes))
    out("engine.shuffle_bytes") = perOp(total(_)(_.shuffleBytes))
    out("engine.output_bytes") = perOp(total(_)(_.outputBytes))
    out("engine.result_bytes") = perOp(total(_)(_.resultBytes))
    // convert: per conversion; etl layers by the file that issued each job
    val conv = top.filter(_.name.startsWith("convert."))
    for ((layer, file) <- Seq("etl.readers" -> "Readers.scala",
        "etl.converter" -> "Converter.scala", "etl.sinks" -> "Sinks.scala")) {
      val hits = conv.map(_.work.byFile.getOrElse(file, (0L, 0L)))
      out(s"$layer.s") = mean(hits.map(_._2 / 1e3))
      out(s"$layer.jobs") = mean(hits.map(_._1.toDouble))
    }
    val xlsx = conv.filter(_.name == "convert.xlsx")
    out("sources.xlsx.s") = mean(xlsx.map(_.work.xlsxStageMs / 1e3))
    out("sources.xlsx.task_cpu_s") = mean(xlsx.map(_.work.xlsxCpuNs / 1e9))
    out("etl.scan_bytes_csv") =
      mean(conv.filter(_.name == "convert.csv").map(_.work.scanBytes.toDouble))
    // catalog: per steady pass, by family
    val queries = top.filter(_.name.startsWith("catalog."))
    val passes = math.max(1, queries.size / math.max(1, queries.map(_.name).distinct.size))
    for (f <- familyMaps.map(_._1)) {
      val fs = queries.filter(_.name.startsWith(s"catalog.$f:"))
      out(s"catalog.$f.s") = fs.map(_.seconds).sum / passes
      out(s"catalog.$f.jobs") = fs.map(total(_)(_.jobs)).sum / passes
    }
    // ingest_serve: per fold and per lookup
    val folds = top.filter(_.name == "store.fold")
    val lookups = top.filter(_.name == "store.lookup")
    out("store.fold.jobs") = mean(folds.map(total(_)(_.jobs)))
    out("store.lookup.jobs") = mean(lookups.map(total(_)(_.jobs)))
    out("store.lookup.scan_bytes") = mean(lookups.map(total(_)(_.scanBytes)))
    out.toMap
  }
}
