package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Regenerator for the FROZEN store fixtures under
  * `src/test/resources/r12_store` and `src/test/resources/r13_store`
  * (VERDICT r12 next #7 / r13 next #2: the forward-compat contract
  * test needs stores written by PRIOR builds, frozen in test
  * resources, so old-store/new-reader behavior is pinned by name for
  * every channel family instead of assumed — and the fixture ages one
  * round at a time, newest generation as the primary read contract,
  * oldest kept for the generational-refusal shapes).
  *
  * Every channel writer except the census is byte-identical between
  * round 12 and this build, so the r12 fixture is produced by the
  * current writer and then its `mix_census` files are rewritten to
  * the r12 THREE-marginal shape (tokhash rows dropped) — exactly what
  * the r12 writer emitted. The r13 fixture is the current writer's
  * output frozen whole (four-marginal census, proj + media channels).
  * Run only when the layout legitimately changes; an optional arg
  * ("r12" | "r13") regenerates one generation without churning the
  * other's committed bytes:
  *
  *   sbt "Test/runMain graft.FreezeStoreFixture r13"
  *
  * NEVER run it to make the contract test pass — a failing contract
  * test means the reader broke compatibility, and regenerating the
  * fixture would hide that.
  */
object FreezeStoreFixture {
  val FixtureDir = "src/test/resources/r12_store"

  /** The r13-written frozen store (VERDICT r13 next #2): same corpus
    * and fold history as the r12 fixture, but the census stays the
    * CURRENT four-marginal shape (tokhash rows + coverage) and the
    * proj/media channels are in from the bootstrap — the compat
    * fixture must age one round at a time, with the newest frozen
    * generation as the primary read contract and the oldest kept for
    * the generational-refusal shapes. */
  val FixtureDirR13 = "src/test/resources/r13_store"

  /** The deterministic tiny corpus the frozen store holds — shared
    * with the contract test so lookups are verifiable. */
  def docsOf(spark: SparkSession, ids: Range): DataFrame = {
    import spark.implicits._
    ids.map { i =>
      (i.toLong, s"alpha token$i beta${i % 3} gamma delta${i % 2}",
        s"src${i % 3}", 120L + (i % 3) * 40)
    }.toDF("doc_id", "text", "source", "n_chars")
  }
  def vecsOf(spark: SparkSession, ids: Range): DataFrame = {
    import spark.implicits._
    ids.map { i =>
      val ang = (i % 8) * math.Pi / 4 + 0.1
      (i.toLong, i % 4, Seq(math.cos(ang), math.sin(ang)))
    }.toDF("vec_id", "label", "unit")
  }
  def rawOf(spark: SparkSession, ids: Range): DataFrame = {
    import spark.implicits._
    ids.map { i =>
      (i.toLong, i % 4,
        (0 until 8).map(j => ((i * 7 + j * 3) % 11 - 5).toFloat))
    }.toDF("vec_id", "label", "embedding")
  }
  def centsOf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)),
      (2L, Seq(-1.0, 0.0)), (3L, Seq(0.0, -1.0))).toDF("cid", "cvec")
  }
  def paysOf(spark: SparkSession, ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong,
      s"payload body $i common prefix stream".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
  }

  def main(args: Array[String]): Unit = {
    val spark = Session.local("4")
    // bootstrap + one append: a 2-version history exercises path lists
    def build(root: String): Unit = {
      ops.IndexStore.deleteRec(new java.io.File(root))
      ops.IndexStore.writeUnified(spark, docsOf(spark, 0 to 7),
        vecsOf(spark, 0 to 7), centsOf(spark), root, governed = true,
        proj = Some((ops.Similarity.projectedUnitsOf(rawOf(spark, 0 to 7), 4),
          ops.Similarity.exactVecsOf(rawOf(spark, 0 to 7)))),
        payloads = Some(paysOf(spark, 0 to 7)))
      ops.IndexStore.appendUnified(spark, root, docsOf(spark, 8 to 11),
        vecsOf(spark, 8 to 11), raw = Some(rawOf(spark, 8 to 11)),
        payloads = Some(paysOf(spark, 8 to 11)))
    }
    // drop Spark's _SUCCESS markers and CRC shadows: inert at read
    // time, noise in a committed fixture
    def scrub(f: java.io.File): Unit = {
      val fs = Option(f.listFiles()).getOrElse(Array.empty)
      fs.foreach { c =>
        if (c.isDirectory) scrub(c)
        else if (c.getName == "_SUCCESS" || c.getName.endsWith(".crc"))
          c.delete()
      }
    }
    def done(root: String): Unit = {
      scrub(new java.io.File(root))
      println(s"frozen store fixture written to $root (versions: " +
        ops.IndexStore.history(root).mkString(", ") + ")")
    }
    // optional arg selects ONE generation ("r12" | "r13") so freezing
    // a new generation never churns the other's committed bytes; no
    // arg regenerates both (the layout-change case)
    val which = args.headOption.getOrElse("both")
    require(Set("r12", "r13", "both").contains(which),
      s"FreezeStoreFixture: unknown generation '$which' — an " +
        "unrecognized arg must never silently regenerate BOTH " +
        "committed fixtures; pass r12, r13, or no arg for both")
    // the r13 fixture IS the current writer's output, frozen whole —
    // four-marginal census, proj + media channels from the bootstrap
    if (which != "r12") { build(FixtureDirR13); done(FixtureDirR13) }
    if (which == "r13") { spark.stop(); return }
    val root = FixtureDir
    build(root)
    // rewrite every census delta to the r12 three-marginal shape
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val cur = java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "_current")).trim
    val node = mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, cur, "_manifest.json")))
    val paths = {
      val it = node.get("channels").get("mix_census").get("paths").elements()
      val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next().asText()
      b.result()
    }
    for (p <- paths) {
      val full = s"$root/$p"
      val rows = spark.read.parquet(full)
        .filter(col("feature") =!= "tokhash").collect().toSeq
      val schema = spark.read.parquet(full)
        .filter(col("feature") =!= "tokhash").schema
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(full)
    }
    done(root)
    spark.stop()
  }
}
