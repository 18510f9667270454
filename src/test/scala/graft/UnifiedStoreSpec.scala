package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The UNIFIED retrieval store (catalog q153): text and vector
  * channels under ONE manifest, folded by atomic cross-family
  * commits. The paired-version hybrid routes (q142/q145) keep the
  * lexical and semantic sides consistent by caller discipline; the
  * unified store makes a split-version read structurally impossible —
  * these pins prove the three properties that claim rests on:
  * per-family reads bit-identical to the split stores', commit
  * atomicity ACROSS families under crash injection, and the pairwise
  * at-least-once replay contract. */
class UnifiedStoreSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.01"

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-uni-$tag").toString

  /** Doc i's text. Postings keep `[a-z]+` runs only, so every suffix is
    * letters: a token unique to the doc, a 3-way and a 2-way shared
    * term, and the 2-way term repeated `i % 3` more times, so docs
    * differ in tf and length. */
  private def textOf(i: Int): String = {
    val l = "abcdefghijklmnopqrstuvwxyz"
    s"alpha token${l(i / 26 % 26)}${l(i % 26)} beta${l(i % 3)} gamma delta${l(i % 2)}" +
      s" delta${l(i % 2)}" * (i % 3)
  }

  /** Tiny synthetic corpus: docs with distinct token profiles, paired
    * with 2-d unit vectors spread over 4 axis-aligned centroids. */
  private def docsOf(ids: Range): DataFrame =
    ids.map(i => (i.toLong, textOf(i))).toDF("doc_id", "text")

  private def vecsOf(ids: Range): DataFrame = ids.map { i =>
    val ang = (i % 8) * math.Pi / 4 + 0.1
    (i.toLong, i % 4, Seq(math.cos(ang), math.sin(ang)))
  }.toDF("vec_id", "label", "unit")

  private def emptyDocs: DataFrame =
    Seq.empty[(Long, String)].toDF("doc_id", "text")
  private def emptyVecs: DataFrame =
    Seq.empty[(Long, Int, Seq[Double])].toDF("vec_id", "label", "unit")

  private val cents = Seq(
    (0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)),
    (2L, Seq(-1.0, 0.0)), (3L, Seq(0.0, -1.0))).toDF("cid", "cvec")

  private val terms = Seq("betab", "deltaa")

  private def lex(root: String): Seq[org.apache.spark.sql.Row] =
    ops.IndexStore.bm25FromStore(spark, root, terms)
      .orderBy($"score".desc, $"doc_id").collect().toSeq
  private def ann(root: String, q: Long): Seq[org.apache.spark.sql.Row] =
    ops.IndexStore.annFromStore(spark, root,
      vecsOf(q.toInt to q.toInt).select($"vec_id", $"unit"),
      nprobe = 2, k = 5).collect().toSeq

  test("q153 ≡ q142 bit-identically: the unified store serves the paired-store hybrid answer") {
    val uni = SparkEntry.queries("q153_hybrid_unified_store")(spark, dir)
      .collect().toSeq
    val paired = SparkEntry.queries("q142_hybrid_store")(spark, dir)
      .collect().toSeq
    assert(uni.nonEmpty && uni == paired,
      s"unified hybrid diverged from the paired route:\n  uni=${uni.take(3)}\n  paired=${paired.take(3)}")
  }

  test("per-family reads from the unified store ≡ the split stores' (postings, stats and cells content-identical)") {
    val uni = ops.Similarity.unifiedStore(spark, dir)
    val qterms = ops.TextOps.qtermsOf(spark, dir)
    val lexUni = ops.IndexStore.bm25FromStore(spark, uni, qterms)
      .orderBy($"score".desc, $"doc_id").collect().toSeq
    val lexSplit = ops.IndexStore.bm25FromStore(spark,
        ops.TextOps.textStore(spark, dir), qterms)
      .orderBy($"score".desc, $"doc_id").collect().toSeq
    assert(lexUni.nonEmpty && lexUni == lexSplit,
      "unified BM25 diverged from the split text store")
    val minId = Core.table(spark, dir, "documents")
      .agg(min($"doc_id")).head().getLong(0)
    val qv = ops.Similarity.normalized(spark, dir)
      .filter($"vec_id" === minId).select($"vec_id", $"unit")
    val annUni = ops.IndexStore.annFromStore(spark, uni, qv,
      nprobe = 4, k = 100).collect().toSeq
    val annSplit = ops.IndexStore.annFromStore(spark,
      ops.Similarity.vectorStore(spark, dir), qv,
      nprobe = 4, k = 100).collect().toSeq
    assert(annUni.nonEmpty && annUni == annSplit,
      "unified ANN diverged from the split vector store")
  }

  test("batch arm: hybridBatchFromUnified per-qid ≡ q145's paired-store batch") {
    val qids = ops.Similarity.queryBatch(spark, dir,
        ops.Similarity.normalized(spark, dir))
      .select($"vec_id").orderBy($"vec_id")
      .limit(2).as[Long].collect().toSeq
    val qterms = Seq(
      ops.TextOps.qtermsOfExtreme(spark, dir, useMax = false),
      ops.TextOps.qtermsOfExtreme(spark, dir, useMax = true))
    val got = ops.Similarity.hybridBatchFromUnified(spark, dir,
      qids.zip(qterms)).collect().toSeq
    val want = SparkEntry.queries("q145_hybrid_batch_store")(spark, dir)
      .collect().toSeq
    assert(got.nonEmpty && got == want,
      s"unified batch diverged from the paired-store batch:\n  got=${got.take(3)}\n  want=${want.take(3)}")
  }

  test("a crash between the families aborts BOTH: no version ever pairs new postings with old cells") {
    // every family is on: governed (mix_census), projected (proj_*) and
    // media (media_*), so the fold below stages every channel kind
    // (the fold's payloads twin the bootstrap's, so media pairs exist)
    def boot(root: String, ids: Range, pays: DataFrame): Unit =
      ops.IndexStore.writeUnified(spark, gdocs(ids, "src0"), vecsOf(ids),
        cents, root, governed = true,
        proj = Some((ops.Similarity.projectedUnitsOf(rawOf(ids), 32),
          ops.Similarity.exactVecsOf(rawOf(ids)))),
        payloads = Some(pays))
    val foldPays = paysOf(6 to 11, twinBase = 6)
    def fold(root: String): Unit =
      ops.IndexStore.appendUnified(spark, root, gdocs(6 to 11, "src0"),
        vecsOf(6 to 11), raw = Some(rawOf(6 to 11)),
        payloads = Some(foldPays))
    def proj(root: String) = ops.IndexStore.projectedAnnFromStore(spark,
      root, rawOf(0 to 0).select($"vec_id", $"embedding"), k = 3)
      .collect().toSeq
    def media(root: String) =
      ops.IndexStore.mediaPairsFromStore(spark, root).collect().toSeq
    val root = tmp("crash")
    boot(root, 0 to 5, paysOf(0 to 5))
    val (lex0, ann0, proj0, media0) =
      (lex(root), ann(root, 0), proj(root), media(root))
    assert(lex0.nonEmpty, "the BM25 probe must match the bootstrap corpus")
    val h0 = ops.IndexStore.history(root)
    // a crash after ANY staged channel — e.g. after the text family is
    // fully staged but before the vector family: if commits were
    // per-family this is exactly the torn state
    for (ch <- Seq("postings", "doc_lens", "cells", "mix_census",
        "proj_units", "exact_vecs", "proj_stats", "media_sim_blocks",
        "media_stats")) {
      ops.IndexStore.crashAfterChannel = Some(ch)
      val e = try intercept[RuntimeException](fold(root))
        finally ops.IndexStore.crashAfterChannel = None
      assert(e.getMessage == s"injected crash after channel $ch",
        s"the fold must fail at the $ch failpoint, got: ${e.getMessage}")
      assert(ops.IndexStore.history(root) == h0,
        s"unified fold crashed after $ch committed a snapshot")
      assert(lex(root) == lex0 && ann(root, 0) == ann0 &&
        proj(root) == proj0 && media(root) == media0,
        s"unified fold crashed after $ch changed a visible read")
    }
    // one retry folds EVERY family in one commit and lands the exact
    // all-at-once state
    fold(root)
    assert(ops.IndexStore.history(root).size == h0.size + 1,
      "retry must publish exactly one new version")
    val ref = tmp("crashref")
    boot(ref, 0 to 11, paysOf(0 to 5).unionByName(foldPays))
    assert(lex(ref).nonEmpty && lex(root) == lex(ref),
      "post-retry BM25 diverged from a both-at-once build")
    assert(ann(root, 0) == ann(ref, 0), "post-retry ANN diverged from a both-at-once build")
    assert(proj(root) == proj(ref),
      "post-retry projected ANN diverged from an all-at-once build")
    assert(media(root) == media(ref),
      "post-retry media pairs diverged from an all-at-once build")
  }

  test("the replay contract is pairwise: exact pair replays skip, half-replayed pairs are refused") {
    val root = tmp("replay")
    ops.IndexStore.writeUnified(spark, docsOf(0 to 5), vecsOf(0 to 5), cents, root)
    ops.IndexStore.appendUnified(spark, root, docsOf(6 to 8), vecsOf(6 to 8))
    val h = ops.IndexStore.history(root)
    val (lex0, ann0) = (lex(root), ann(root, 0))
    assert(lex0.nonEmpty, "the BM25 probe must match the folded corpus")
    // at-least-once redelivery of the SAME pair: idempotent no-op
    ops.IndexStore.appendUnified(spark, root, docsOf(6 to 8), vecsOf(6 to 8))
    assert(ops.IndexStore.history(root) == h && lex(root) == lex0 &&
      ann(root, 0) == ann0, "exact pair replay must be an idempotent skip")
    // one family replayed, the other new: impossible under atomic
    // unified commits — a mismatched pairing, refused loudly
    val e = intercept[IllegalArgumentException] {
      ops.IndexStore.appendUnified(spark, root, docsOf(6 to 8), vecsOf(9 to 11))
    }
    assert(e.getMessage.contains("mismatched"),
      s"expected the mismatched-pair refusal, got: ${e.getMessage}")
    assert(ops.IndexStore.history(root) == h,
      "refused fold must not publish")
  }

  test("one-sided folds are legal and land the same terminal state; compact preserves both families") {
    val root = tmp("oneside")
    ops.IndexStore.writeUnified(spark, docsOf(0 to 5), vecsOf(0 to 5), cents, root)
    ops.IndexStore.appendUnified(spark, root, docsOf(6 to 11), emptyVecs)
    ops.IndexStore.appendUnified(spark, root, emptyDocs, vecsOf(6 to 11))
    val ref = tmp("onesideref")
    ops.IndexStore.writeUnified(spark, docsOf(0 to 11), vecsOf(0 to 11), cents, ref)
    assert(lex(ref).nonEmpty && lex(root) == lex(ref),
      "docs-then-vecs folds diverged on BM25")
    assert(ann(root, 0) == ann(ref, 0), "docs-then-vecs folds diverged on ANN")
    // compaction is channel-generic: one rewrite collapses BOTH
    // families' append fragments without moving a number
    ops.IndexStore.compact(spark, root)
    assert(lex(root) == lex(ref) && ann(root, 0) == ann(ref, 0),
      "compaction changed a unified read")
  }

  test("paired time travel: one pin rewinds BOTH families to the committed version") {
    val root = tmp("tt")
    ops.IndexStore.writeUnified(spark, docsOf(0 to 5), vecsOf(0 to 5), cents, root)
    ops.IndexStore.appendUnified(spark, root, docsOf(6 to 11), vecsOf(6 to 11))
    val v1 = ops.IndexStore.history(root).head
    val (l1, a1) = ops.IndexStore.retrievalFromUnifiedAt(spark, root, v1,
      terms, vecsOf(0 to 0).select($"vec_id", $"unit"), nprobe = 2, k = 5)
    val ref = tmp("ttref")
    ops.IndexStore.writeUnified(spark, docsOf(0 to 5), vecsOf(0 to 5), cents, ref)
    assert(lex(ref).nonEmpty && l1.collect().toSeq == lex(ref),
      "version-1 BM25 must equal a store holding only fold 1")
    assert(a1.collect().toSeq == ann(ref, 0),
      "version-1 ANN must equal a store holding only fold 1")
  }

  /** docsOf with governance columns: source-labeled, length-profiled
    * (120/160/200 chars → bins 1/1/2; +480 shifts every doc to bin 5,
    * the bin the anchor never populates). */
  private def gdocs(ids: Range, src: String, shift: Long = 0L): DataFrame =
    ids.map(i => (i.toLong, textOf(i), src, 120L + (i % 3) * 40 + shift))
      .toDF("doc_id", "text", "source", "n_chars")

  test("governed unified loop: a drifting source is held out of BOTH families per-tick, and recovers") {
    val root = tmp("gov")
    val boot = gdocs(0 to 39, "src0").unionByName(gdocs(40 to 59, "srcA"))
    ops.IndexStore.writeUnified(spark, boot, vecsOf(0 to 59), cents, root,
      governed = true)
    // tick 2: a clean source + a drifted one (+480 chars) in one pair
    val t2 = gdocs(60 to 79, "srcB").unionByName(gdocs(80 to 99, "srcRot", 480L))
    val rep2 = streaming.StreamingOps.ingestAndMaintainUnifiedGoverned(
      spark, root, t2, vecsOf(60 to 99), "src0")
    assert(rep2.filter($"held").select($"source").as[String].collect().toSet ==
      Set("srcRot"), "expected exactly the drifted source held")
    val lens2 = ops.IndexStore.channel(spark, root, "doc_lens")
      .select($"doc_id").as[Long].collect().toSet
    assert((60L to 79L).forall(lens2) && !(80L to 99L).exists(lens2),
      "held source's DOCS must not fold")
    val cells2 = ops.IndexStore.channel(spark, root, "cells")
      .select($"vec_id").as[Long].collect().toSet
    assert((60L to 79L).forall(cells2) && !(80L to 99L).exists(cells2),
      "held source's VECTORS leaked into the cells — the hold must cover both families")
    assert(ops.IndexStore.channel(spark, root, "mix_census")
      .select($"source").distinct().as[String].collect().toSet ==
      Set("src0", "srcA", "srcB"),
      "held source contaminated the unified census")
    // tick 3: the held upstream recovers — same ids (they were never
    // folded, so there is nothing to replay) at normal lengths
    val rep3 = streaming.StreamingOps.ingestAndMaintainUnifiedGoverned(
      spark, root, gdocs(80 to 99, "srcRot"), vecsOf(80 to 99), "src0")
    assert(rep3.filter($"held").isEmpty, "recovered source must pass the gate")
    val lens3 = ops.IndexStore.channel(spark, root, "doc_lens")
      .select($"doc_id").as[Long].collect().toSet
    val cells3 = ops.IndexStore.channel(spark, root, "cells")
      .select($"vec_id").as[Long].collect().toSet
    assert((80L to 99L).forall(lens3) && (80L to 99L).forall(cells3),
      "recovered tick must fold BOTH families")
    assert(ops.IndexStore.channel(spark, root, "mix_census")
      .select($"source").distinct().count() == 4,
      "recovered tick must join the census")
  }

  test("the gated fold refuses ORPHAN vectors — a vectors-leading fold cannot bypass the breaker") {
    // ADVICE r9: vectors carry no source column, so a drifting source
    // could sneak its vectors past the PSI gate by sending them ahead
    // of its docs. The gate now requires every batch vector's doc to be
    // in-batch (gated with this tick) or already stored (gated when it
    // folded); anything else is refused loudly.
    val root = tmp("orphan")
    ops.IndexStore.writeUnified(spark, gdocs(0 to 39, "src0"),
      vecsOf(0 to 39), cents, root, governed = true)
    val e = intercept[IllegalArgumentException] {
      ops.IndexStore.appendUnifiedGated(spark, root,
        gdocs(0 until 0, "srcA"), vecsOf(40 to 49), "src0")
    }
    assert(e.getMessage.contains("vectors-LEADING") &&
      e.getMessage.contains("10"),
      s"refusal must name the ungated shape and the count, got: ${e.getMessage}")
    // the LEGAL catch-up shape: docs fold first (through the gate),
    // their vectors follow one-sided — passes, and lands both families
    ops.IndexStore.appendUnifiedGated(spark, root,
      gdocs(40 to 49, "srcA"), emptyVecs, "src0")
    ops.IndexStore.appendUnifiedGated(spark, root,
      gdocs(0 until 0, "srcA"), vecsOf(40 to 49), "src0")
    val cells = ops.IndexStore.channel(spark, root, "cells")
      .select($"vec_id").as[Long].collect().toSet
    assert((40L to 49L).forall(cells),
      "the docs-first catch-up must fold the late vectors")
  }

  /** Raw-embedding twin of [[vecsOf]] (same ids, same geometry, raw
    * `embedding` column) — the frame the projected-channel maintenance
    * contract threads through unified folds. */
  private def rawOf(ids: Range): DataFrame = ids.map { i =>
    val ang = (i % 8) * math.Pi / 4 + 0.1
    (i.toLong, i % 4, Seq(math.cos(ang), math.sin(ang)))
  }.toDF("vec_id", "label", "embedding")

  test("append-maintained projected channels on the UNIFIED store: fold with raw ≡ the session q155 route, census lockstep") {
    // VERDICT r10 #1: the split vector store learned raw-carrying
    // appends in r10; the single-pointer store gets the same contract
    // here — bootstrap both arms from the even half, fold the odd half
    // through ONE pair-atomic appendUnified(raw), and the projected
    // read must be bit-identical to the session route over the full
    // corpus (row-local arithmetic, exact parquet round-trip)
    val raw = Core.table(spark, dir, "embeddings")
    val vecs = ops.Similarity.normalized(spark, dir)
    val docs = Core.table(spark, dir, "documents")
    val cents = ops.Similarity.ivfCentroids(spark, dir)
    val root = tmp("projfold")
    ops.IndexStore.writeUnified(spark, docs.filter($"doc_id" % 2 === 0),
      vecs.filter($"vec_id" % 2 === 0), cents, root)
    val rawEven = raw.filter($"vec_id" % 2 === 0)
    ops.IndexStore.writeProjections(spark, root,
      ops.Similarity.projectedUnitsOf(rawEven, 32),
      ops.Similarity.exactVecsOf(rawEven))
    ops.IndexStore.appendUnified(spark, root,
      docs.filter($"doc_id" % 2 === 1),
      vecs.filter($"vec_id" % 2 === 1),
      raw = Some(raw.filter($"vec_id" % 2 === 1)))
    // coverage census in lockstep across BOTH semantic arms after the
    // pair-atomic fold — the comparison the staleness gate enforces
    val facts = ops.IndexStore.describeStore(spark, root)
      .select($"channel", $"facts").as[(String, String)].collect().toMap
    val nFull = vecs.count()
    assert(facts("vec_stats").contains(s"n_vecs=$nFull") &&
      facts("proj_stats").contains(s"n_vecs=$nFull"),
      s"coverage census out of lockstep after the unified fold: $facts")
    val q = ops.Similarity.queryBatch(spark, dir, raw)
      .select($"vec_id", $"embedding")
    val store = ops.IndexStore.projectedAnnFromStore(spark, root, q)
      .collect().toSeq
    val session = SparkEntry.queries("q155_knn_projected")(spark, dir)
      .collect().toSeq
    assert(store.nonEmpty && store == session,
      s"unified-fold-maintained projected ANN diverges from the session route:\n" +
        s"  store=${store.take(3)}\n  q155=${session.take(3)}")
  }

  test("q164 ≡ q160 bit-identically: the projected-arm batch hybrid served from the append-maintained unified store") {
    val got = SparkEntry.queries("q164_hybrid_projected_unified")(spark, dir)
      .collect().toSeq
    val want = SparkEntry.queries("q160_hybrid_projected_batch")(spark, dir)
      .collect().toSeq
    assert(got.nonEmpty && got == want,
      s"unified projected batch hybrid diverged from the split-store route:\n" +
        s"  got=${got.take(3)}\n  want=${want.take(3)}")
  }

  test("the unified raw contract refuses every mispairing by name") {
    val root = tmp("rawrefuse")
    ops.IndexStore.writeUnified(spark, docsOf(0 to 5), vecsOf(0 to 5),
      cents, root)
    ops.IndexStore.writeProjections(spark, root,
      ops.Similarity.projectedUnitsOf(rawOf(0 to 5), 32),
      ops.Similarity.exactVecsOf(rawOf(0 to 5)))
    // a proj-carrying store refuses a vector-carrying fold without raw
    val e1 = intercept[IllegalArgumentException] {
      ops.IndexStore.appendUnified(spark, root, docsOf(6 to 11), vecsOf(6 to 11))
    }
    assert(e1.getMessage.contains("STALE") && e1.getMessage.contains("projected"),
      s"expected the staleness refusal, got: ${e1.getMessage}")
    // raw paired with an EMPTY vectors side is a mispairing, not a tick
    val e2 = intercept[IllegalArgumentException] {
      ops.IndexStore.appendUnified(spark, root, docsOf(6 to 11), emptyVecs,
        raw = Some(rawOf(6 to 11)))
    }
    assert(e2.getMessage.contains("EMPTY vectors"),
      s"expected the vectors-less-raw refusal, got: ${e2.getMessage}")
    // a bare store refuses a raw nothing would maintain
    val bare = tmp("rawbare")
    ops.IndexStore.writeUnified(spark, docsOf(0 to 5), vecsOf(0 to 5),
      cents, bare)
    val e3 = intercept[IllegalArgumentException] {
      ops.IndexStore.appendUnified(spark, bare, docsOf(6 to 11),
        vecsOf(6 to 11), raw = Some(rawOf(6 to 11)))
    }
    assert(e3.getMessage.contains("proj_stats"),
      s"expected the missing-channel refusal, got: ${e3.getMessage}")
    // a skewed (vectors, raw) pairing is refused before a byte lands
    val e4 = intercept[IllegalArgumentException] {
      ops.IndexStore.appendUnified(spark, root, docsOf(6 to 11),
        vecsOf(6 to 11), raw = Some(rawOf(6 to 8)))
    }
    assert(e4.getMessage.contains("vec_ids"),
      s"expected the skewed-pairing refusal, got: ${e4.getMessage}")
    // docs-only folds are legal with no raw — the vector corpus does
    // not advance, so coverage cannot skew
    val h = ops.IndexStore.history(root)
    ops.IndexStore.appendUnified(spark, root, docsOf(6 to 11), emptyVecs)
    assert(ops.IndexStore.history(root).size == h.size + 1,
      "a docs-only fold on a proj-carrying store must commit")
    // and the legal vector fold advances both arms in one commit
    ops.IndexStore.appendUnified(spark, root, emptyDocs, vecsOf(6 to 11),
      raw = Some(rawOf(6 to 11)))
    val pu = ops.IndexStore.channel(spark, root, "proj_units")
      .select($"vec_id").as[Long].collect().toSet
    assert((0L to 11L).forall(pu),
      "the raw-carrying fold must land the projected deltas")
  }

  test("the gated hold keeps held vectors out of the PROJ deltas too — no channel of the commit sees a held source") {
    val root = tmp("govproj")
    val boot = gdocs(0 to 39, "src0").unionByName(gdocs(40 to 59, "srcA"))
    ops.IndexStore.writeUnified(spark, boot, vecsOf(0 to 59), cents, root,
      governed = true)
    ops.IndexStore.writeProjections(spark, root,
      ops.Similarity.projectedUnitsOf(rawOf(0 to 59), 32),
      ops.Similarity.exactVecsOf(rawOf(0 to 59)))
    val t2 = gdocs(60 to 79, "srcB").unionByName(gdocs(80 to 99, "srcRot", 480L))
    val rep = ops.IndexStore.appendUnifiedGated(spark, root, t2,
      vecsOf(60 to 99), "src0", raw = Some(rawOf(60 to 99)))
    assert(rep.filter($"held").select($"source").as[String].collect().toSet ==
      Set("srcRot"), "expected exactly the drifted source held")
    for (ch <- Seq("proj_units", "exact_vecs")) {
      val ids = ops.IndexStore.channel(spark, root, ch)
        .select($"vec_id").as[Long].collect().toSet
      assert((60L to 79L).forall(ids) && !(80L to 99L).exists(ids),
        s"held source's vectors leaked into $ch — the hold must cover " +
          "the projected deltas (the q157 discipline)")
    }
    // coverage stays in lockstep UNDER the hold, so the projected arm
    // still serves
    val facts = ops.IndexStore.describeStore(spark, root)
      .select($"channel", $"facts").as[(String, String)].collect().toMap
    assert(facts("vec_stats").contains("n_vecs=80") &&
      facts("proj_stats").contains("n_vecs=80"),
      s"coverage census out of lockstep under the hold: $facts")
    val served = ops.IndexStore.projectedAnnFromStore(spark, root,
      rawOf(0 to 0).select($"vec_id", $"embedding"), k = 3)
    assert(served.count() > 0, "the projected arm must serve under the hold")
  }

  test("the GATED fold refuses a caller's raw+empty-vectors mispairing as loudly as the ungated one (ADVICE r11)") {
    val root = tmp("gatedmispair")
    ops.IndexStore.writeUnified(spark, gdocs(0 to 39, "src0"),
      vecsOf(0 to 39), cents, root, governed = true)
    ops.IndexStore.writeProjections(spark, root,
      ops.Similarity.projectedUnitsOf(rawOf(0 to 39), 32),
      ops.Similarity.exactVecsOf(rawOf(0 to 39)))
    val h = ops.IndexStore.history(root)
    // pre-fix this slipped through as a silent raw drop (rawEff
    // collapsed the mispairing to None); it must refuse BY NAME before
    // the breaker touches anything
    val e = intercept[IllegalArgumentException] {
      ops.IndexStore.appendUnifiedGated(spark, root,
        gdocs(40 to 49, "srcA"), emptyVecs, "src0",
        raw = Some(rawOf(40 to 49)))
    }
    assert(e.getMessage.contains("EMPTY vectors"),
      s"expected the vectors-less-raw refusal, got: ${e.getMessage}")
    assert(ops.IndexStore.history(root) == h, "refused fold must not publish")
  }

  test("a full REWRITE with proj=None drops the proj-family channels — the stale projected arm can never serve the old corpus (ADVICE r11)") {
    val root = tmp("rewriteproj")
    ops.IndexStore.writeUnified(spark, docsOf(0 to 5), vecsOf(0 to 5),
      cents, root,
      proj = Some((ops.Similarity.projectedUnitsOf(rawOf(0 to 5), 32),
        ops.Similarity.exactVecsOf(rawOf(0 to 5)))))
    // rewrite with a DIFFERENT corpus of the SAME vector count — the
    // exact coincidence that let the count-based coverage gate pass
    // while the projected arm served the replaced corpus
    ops.IndexStore.writeUnified(spark, docsOf(6 to 11), vecsOf(6 to 11),
      cents, root)
    val chans = ops.IndexStore.describeStore(spark, root)
      .select($"channel").as[String].collect().toSet
    assert(!chans.exists(Set("proj_units", "exact_vecs", "proj_stats")),
      s"proj-family channels survived a proj=None rewrite: $chans")
    val e = intercept[IllegalArgumentException] {
      ops.IndexStore.projectedAnnFromStore(spark, root,
        rawOf(0 to 0).select($"vec_id", $"embedding"))
    }
    assert(e.getMessage.contains("proj_stats"),
      s"the projected route must refuse by name after the drop, got: ${e.getMessage}")
  }

  /** Binary payloads derived from doc texts (the q141/q165 shape);
    * `twinOf` makes doc i+base an exact byte twin of doc i, so the
    * pigeonhole pair set is known by construction. */
  private def paysOf(ids: Range, twinBase: Int = 0): DataFrame = ids.map { i =>
    val t = if (twinBase > 0 && i >= twinBase) i - twinBase else i
    (i.toLong, s"payload body $t common prefix stream".getBytes("UTF-8"))
  }.toDF("doc_id", "payload")
  private def emptyPays: DataFrame =
    Seq.empty[(Long, Array[Byte])].toDF("doc_id", "payload")

  test("MEDIA is a channel family of the unified manifest: unified folds ≡ the standalone media store, pairs included") {
    // VERDICT r11 missing #1: the media family previously lived in its
    // own store with its own pointer. Folded through writeUnified +
    // appendUnified it must hold exactly what writeMedia + appendMedia
    // hold — same fingerprints, same blocks, same reconstructed pairs —
    // with ONE version pinning all three families.
    val root = tmp("mediauni")
    ops.IndexStore.writeUnified(spark, docsOf(0 to 5), vecsOf(0 to 5),
      cents, root, payloads = Some(paysOf(0 to 5)))
    // docs 6..11 carry byte-twin payloads of docs 0..5
    ops.IndexStore.appendUnified(spark, root, docsOf(6 to 11),
      vecsOf(6 to 11), payloads = Some(paysOf(6 to 11, twinBase = 6)))
    val mroot = tmp("mediaref")
    ops.IndexStore.writeMedia(spark, paysOf(0 to 5), mroot)
    ops.IndexStore.appendMedia(spark, mroot, paysOf(6 to 11, twinBase = 6))
    val uniPairs = ops.IndexStore.mediaPairsFromStore(spark, root)
      .collect().toSeq
    val refPairs = ops.IndexStore.mediaPairsFromStore(spark, mroot)
      .collect().toSeq
    assert(uniPairs.nonEmpty && uniPairs == refPairs,
      s"unified media pairs diverged from the standalone store:\n" +
        s"  uni=${uniPairs.take(3)}\n  ref=${refPairs.take(3)}")
    // the screen reads the unified channel identically too
    val screened = ops.IndexStore.screenBatchMedia(spark, root,
      paysOf(12 to 12, twinBase = 12)).collect().toSeq
    val screenedRef = ops.IndexStore.screenBatchMedia(spark, mroot,
      paysOf(12 to 12, twinBase = 12)).collect().toSeq
    assert(screened == screenedRef,
      "unified media screen diverged from the standalone store")
    // compaction is channel-generic: ONE rewrite collapses all three
    // families' fragments, media blocks included, without moving a pair
    val (lex0, ann0) = (lex(root), ann(root, 0))
    assert(lex0.nonEmpty, "the BM25 probe must match the folded corpus")
    ops.IndexStore.compact(spark, root)
    assert(ops.IndexStore.mediaPairsFromStore(spark, root)
        .collect().toSeq == uniPairs &&
      lex(root) == lex0 && ann(root, 0) == ann0,
      "compaction changed a three-family unified read")
    // …and so is the serving PUBLISH: a cloneStoreAt of the
    // media-carrying root serves the identical three-family reads
    // from a fresh single-path layout (the q164 serving-clone pattern
    // extended to the media channel)
    val srv = tmp("mediasrv")
    ops.IndexStore.cloneStoreAt(spark, root,
      ops.IndexStore.history(root).last, srv)
    assert(ops.IndexStore.mediaPairsFromStore(spark, srv)
        .collect().toSeq == uniPairs &&
      lex(srv) == lex0 && ann(srv, 0) == ann0,
      "the serving clone changed a three-family unified read")
    // the media census (media_stats, VERDICT r14 next #5) tracks the
    // unified folds in lockstep with the standalone store — the 1-row
    // facts read that makes doc/media coverage divergence visible on
    // the operational surface — and neither compaction nor the
    // serving clone moves it
    def mstats(r: String) = {
      val row = ops.IndexStore.channel(spark, r, "media_stats").head()
      (row.getAs[Long]("n_payloads"), row.getAs[Long]("n_blocks"))
    }
    assert(mstats(root) == mstats(mroot) &&
      mstats(root)._2 == 4 * mstats(root)._1,
      s"unified media census diverged: ${mstats(root)} vs ${mstats(mroot)}")
    assert(mstats(srv) == mstats(root),
      "the serving clone moved the media census")
  }

  test("a crash between the media write and the pair commit leaves readers on the old snapshot") {
    val root = tmp("mediacrash")
    ops.IndexStore.writeUnified(spark, docsOf(0 to 5), vecsOf(0 to 5),
      cents, root, payloads = Some(paysOf(0 to 5)))
    val h0 = ops.IndexStore.history(root)
    val (lex0, ann0) = (lex(root), ann(root, 0))
    assert(lex0.nonEmpty, "the BM25 probe must match the bootstrap corpus")
    val pairs0 = ops.IndexStore.mediaPairsFromStore(spark, root).collect().toSeq
    ops.IndexStore.crashAfterChannel = Some("media_sim_blocks")
    try intercept[RuntimeException] {
      ops.IndexStore.appendUnified(spark, root, docsOf(6 to 11),
        vecsOf(6 to 11), payloads = Some(paysOf(6 to 11, twinBase = 6)))
    } finally ops.IndexStore.crashAfterChannel = None
    assert(ops.IndexStore.history(root) == h0,
      "crashed media-carrying fold committed a snapshot")
    assert(lex(root) == lex0 && ann(root, 0) == ann0 &&
      ops.IndexStore.mediaPairsFromStore(spark, root).collect().toSeq == pairs0,
      "crashed media-carrying fold changed a visible read")
    // the retry lands all THREE families in one commit
    ops.IndexStore.appendUnified(spark, root, docsOf(6 to 11),
      vecsOf(6 to 11), payloads = Some(paysOf(6 to 11, twinBase = 6)))
    assert(ops.IndexStore.history(root).size == h0.size + 1 &&
      ops.IndexStore.mediaPairsFromStore(spark, root).count() > 0,
      "retry must publish exactly one new version carrying the media delta")
  }

  test("the media contract: media-less store refuses payloads; media-only catch-up folds; fresh media on a replayed pair is a mispairing") {
    val root = tmp("mediacontract")
    ops.IndexStore.writeUnified(spark, docsOf(0 to 5), vecsOf(0 to 5),
      cents, root)
    // payloads on a store with no media channel: refused by name
    val e1 = intercept[IllegalArgumentException] {
      ops.IndexStore.appendUnified(spark, root, docsOf(6 to 8),
        vecsOf(6 to 8), payloads = Some(paysOf(6 to 8)))
    }
    assert(e1.getMessage.contains("media_sim_blocks"),
      s"expected the missing-channel refusal, got: ${e1.getMessage}")
    // bootstrap WITH media, fold a pair withOUT payloads (sparse media
    // is legal), then deliver the late payloads as a media-only fold
    val root2 = tmp("mediacatchup")
    ops.IndexStore.writeUnified(spark, docsOf(0 to 5), vecsOf(0 to 5),
      cents, root2, payloads = Some(paysOf(0 to 5)))
    ops.IndexStore.appendUnified(spark, root2, docsOf(6 to 11), vecsOf(6 to 11))
    val h = ops.IndexStore.history(root2)
    ops.IndexStore.appendUnified(spark, root2, emptyDocs, emptyVecs,
      payloads = Some(paysOf(6 to 11, twinBase = 6)))
    assert(ops.IndexStore.history(root2).size == h.size + 1,
      "the media-only catch-up must commit one version")
    assert(ops.IndexStore.mediaPairsFromStore(spark, root2).count() > 0,
      "the catch-up payloads must land (byte twins must pair)")
    // replaying the pair with FRESH media: a mispairing, refused
    val e2 = intercept[IllegalArgumentException] {
      ops.IndexStore.appendUnified(spark, root2, docsOf(0 to 5),
        vecsOf(0 to 5), payloads = Some(paysOf(20 to 22)))
    }
    assert(e2.getMessage.contains("MEDIA-ONLY"),
      s"expected the media-mispairing refusal, got: ${e2.getMessage}")
    // an exact replay of pair AND payloads together: idempotent skip
    val h2 = ops.IndexStore.history(root2)
    ops.IndexStore.appendUnified(spark, root2, docsOf(6 to 11),
      vecsOf(6 to 11), payloads = Some(paysOf(6 to 11, twinBase = 6)))
    assert(ops.IndexStore.history(root2) == h2,
      "exact three-family replay must be an idempotent skip")
    // redelivered doc_ids whose payloads re-encoded to a DIFFERENT
    // fingerprint are NOT a replay (ADVICE r12 #2): an id-based skip
    // would silently drop the corrected payloads forever — the
    // fingerprint-parity guard must refuse them toward the rewrite
    // path. (Parity is at fingerprint level by design: a byte change
    // that preserves the SimHash leaves the stored artifact identical
    // anyway, so there is nothing to correct.) Pinned on the unified
    // fold AND the standalone media append (same guard).
    val changed = (6 to 11).map(i => (i.toLong,
      s"entirely rewritten corrected bytes nr $i unlike before".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val e3 = intercept[IllegalArgumentException] {
      ops.IndexStore.appendUnified(spark, root2, emptyDocs, emptyVecs,
        payloads = Some(changed))
    }
    assert(e3.getMessage.contains("DIFFERENT sim"),
      s"expected the changed-payload refusal, got: ${e3.getMessage}")
    val mroot2 = tmp("mediachanged")
    ops.IndexStore.writeMedia(spark, paysOf(0 to 5), mroot2)
    val e4 = intercept[IllegalArgumentException] {
      ops.IndexStore.appendMedia(spark, mroot2,
        changed.withColumn("doc_id", $"doc_id" - 6))
    }
    assert(e4.getMessage.contains("DIFFERENT sim"),
      s"expected the changed-payload refusal on appendMedia, got: ${e4.getMessage}")
    // a batch carrying two DIFFERENT payloads under one id is malformed
    // on its own terms — refused by name before any overlap math
    val conflicted = paysOf(30 to 32).unionByName(
      (30 to 32).map(i => (i.toLong,
        s"a second very different content stream nr $i".getBytes("UTF-8")))
        .toDF("doc_id", "payload"))
    val e5 = intercept[IllegalArgumentException] {
      ops.IndexStore.appendMedia(spark, mroot2, conflicted)
    }
    assert(e5.getMessage.contains("CONFLICTING"),
      s"expected the conflicting-batch refusal, got: ${e5.getMessage}")
  }

  test("the gated hold keeps a held source's PAYLOADS out of the media channel — and refuses media-leading folds") {
    val root = tmp("govmedia")
    val boot = gdocs(0 to 39, "src0").unionByName(gdocs(40 to 59, "srcA"))
    ops.IndexStore.writeUnified(spark, boot, vecsOf(0 to 59), cents, root,
      governed = true, payloads = Some(paysOf(0 to 59)))
    val t2 = gdocs(60 to 79, "srcB").unionByName(gdocs(80 to 99, "srcRot", 480L))
    val rep = ops.IndexStore.appendUnifiedGated(spark, root, t2,
      vecsOf(60 to 99), "src0", payloads = Some(paysOf(60 to 99)))
    assert(rep.filter($"held").select($"source").as[String].collect().toSet ==
      Set("srcRot"), "expected exactly the drifted source held")
    val mediaIds = ops.IndexStore.channel(spark, root, "media_sim_blocks")
      .select($"doc_id").as[Long].collect().toSet
    assert((60L to 79L).forall(mediaIds) && !(80L to 99L).exists(mediaIds),
      "held source's PAYLOADS leaked into media_sim_blocks — the hold " +
        "must cover the media family (the q157 discipline)")
    // media-leading: payloads whose docs are neither in-batch nor
    // stored would carry their source past the breaker ungated — and
    // that includes the HELD source's payloads resubmitted alone (its
    // docs never folded, so there is no gated source on record)
    for (ids <- Seq(100 to 109, 80 to 99)) {
      val e = intercept[IllegalArgumentException] {
        ops.IndexStore.appendUnifiedGated(spark, root,
          gdocs(0 until 0, "srcB"), emptyVecs, "src0",
          payloads = Some(paysOf(ids)))
      }
      assert(e.getMessage.contains("media-LEADING"),
        s"expected the media-leading refusal for $ids, got: ${e.getMessage}")
    }
    // …while a media-only replay of ALREADY-GATED docs' payloads is
    // the idempotent skip (stored docs, stored fingerprints)
    val h = ops.IndexStore.history(root)
    ops.IndexStore.appendUnifiedGated(spark, root,
      gdocs(0 until 0, "srcB"), emptyVecs, "src0",
      payloads = Some(paysOf(60 to 79)))
    assert(ops.IndexStore.history(root) == h,
      "a media replay of gated-in docs must skip idempotently")
  }

  test("reanchorCensus is channel-generic: the UNIFIED store's hold → re-anchor → pass cycle touches only mix_census (VERDICT r14 next #1)") {
    val root = tmp("reauni")
    ops.IndexStore.writeUnified(spark,
      gdocs(0 to 19, "src0", 0L).unionByName(gdocs(20 to 39, "srcA", 0L)),
      vecsOf(0 to 39), cents, root, governed = true)
    // a +480-shifted tick is HELD out of BOTH families
    val rep1 = ops.IndexStore.appendUnifiedGated(spark, root,
      gdocs(40 to 49, "srcB", 480L), vecsOf(40 to 49), "src0")
    assert(rep1.filter($"held").select("source").as[String]
      .collect().toSeq == Seq("srcB"))
    val vOld = ops.IndexStore.history(root).last
    val driftOld = ops.IndexStore.driftFromStore(spark, root, "src0")
      .collect().toSeq
    // the curated reference legitimately moved to the shifted regime
    ops.IndexStore.reanchorCensus(spark, root, "src0",
      gdocs(100 to 119, "src0", 480L))
    // ONLY mix_census changed in the re-anchor commit — the text,
    // vector and census channels of every other family carried forward
    val (mOld, mRea) = (ops.IndexStore.manifestAt(root, vOld),
      ops.IndexStore.manifestAt(root, ops.IndexStore.history(root).last))
    assert(mRea("mix_census") != mOld("mix_census") &&
      (mRea - "mix_census") == (mOld - "mix_census"),
      "a unified re-anchor must replace mix_census and nothing else")
    // the SAME probe construction now passes the SAME gate, and its
    // pair folds into BOTH families
    val rep2 = ops.IndexStore.appendUnifiedGated(spark, root,
      gdocs(50 to 59, "srcB", 480L), vecsOf(50 to 59), "src0")
    assert(rep2.filter($"held").isEmpty,
      "the probe must pass against the re-baselined anchor")
    assert(ops.IndexStore.channel(spark, root, "doc_lens")
      .filter($"doc_id".between(50, 59)).count() == 10)
    assert(ops.IndexStore.channel(spark, root, "cells")
      .filter($"vec_id".between(50, 59)).count() == 10)
    // prior versions keep replaying against the OLD anchor
    assert(ops.IndexStore.driftFromStoreAt(spark, root, vOld, "src0")
      .collect().toSeq == driftOld,
      "re-anchor must not rewrite the unified drift history")
  }

  /** gdocs with a CONTROLLED token order (the q170 family): 40 tokens
    * per doc drawn from a 53-type rotating vocabulary, so every
    * source shares the same four-marginal census profile (measured:
    * psi_max 0.034 between any two), types repeat ACROSS docs (the
    * order statistic needs repeated types — singleton vocabularies
    * are hash-uniform under both the observed and the null), and
    * `canon = true` sorts each doc's tokens — the systematic
    * canonicalization the position-free census cannot see (measured:
    * psi_order 0.98 sorted vs 0.023 natural at 800 tokens). */
  private def odocs(ids: Range, src: String, canon: Boolean): DataFrame =
    ids.map { i =>
      val toks = (0 until 40).map(j => s"w${(i * 7 + j * 3) % 53}")
      (i.toLong, (if (canon) toks.sorted else toks).mkString(" "),
        src, 120L + (i % 3) * 40)
    }.toDF("doc_id", "text", "source", "n_chars")

  test("the ORDER gate holds a canonicalizing source out of EVERY channel; default-off ticks admit it (q170; VERDICT r15 #1)") {
    val root = tmp("ordergate")
    ops.IndexStore.writeUnified(spark, odocs(0 to 39, "src0", canon = false),
      vecsOf(0 to 39), cents, root, governed = true)
    val batch = odocs(100 to 119, "srcNat", canon = false)
      .unionByName(odocs(140 to 159, "srcSort", canon = true))
    val vecs = vecsOf(100 to 119).unionByName(vecsOf(140 to 159))
    // the governed loop threads the gate through (both params live)
    val rep = streaming.StreamingOps.ingestAndMaintainUnifiedGoverned(
      spark, root, batch, vecs, "src0", orderGate = true)
    assert(rep.columns.contains("psi_order"),
      "the opted-in report must carry the order statistic")
    assert(rep.filter($"held").select($"source").as[String].collect().toSet ==
      Set("srcSort"), "exactly the canonicalizing source must be held")
    val sortRow = rep.filter($"source" === "srcSort").head()
    assert(sortRow.getAs[Double]("psi_order") > 0.25 &&
      sortRow.getAs[Double]("psi_max") < 0.25,
      "the hold must be the ORDER verdict alone — the four position-free " +
        s"marginals see a clean source: $sortRow")
    assert(rep.filter($"source" === "srcNat").head()
      .getAs[Double]("psi_order") < 0.25,
      "natural order must pass the self-null screen")
    // the held source's rows land in NO channel of the commit
    val lens = ops.IndexStore.channel(spark, root, "doc_lens")
      .select($"doc_id").as[Long].collect().toSet
    assert((100L to 119L).forall(lens) && !(140L to 159L).exists(lens),
      "order-held source's DOCS must not fold")
    val cells = ops.IndexStore.channel(spark, root, "cells")
      .select($"vec_id").as[Long].collect().toSet
    assert((100L to 119L).forall(cells) && !(140L to 159L).exists(cells),
      "order-held source's VECTORS must not fold")
    assert(ops.IndexStore.channel(spark, root, "mix_census")
      .select($"source").distinct().as[String].collect().toSet ==
      Set("src0", "srcNat"),
      "order-held source contaminated the unified census")
    // recovery: the SAME source in natural order passes the same gate
    val rep2 = streaming.StreamingOps.ingestAndMaintainUnifiedGoverned(
      spark, root, odocs(140 to 159, "srcSort", canon = false),
      vecsOf(140 to 159), "src0", orderGate = true)
    assert(rep2.filter($"held").isEmpty,
      "the recovered (natural-order) tick must pass")
    assert(ops.IndexStore.channel(spark, root, "mix_census")
      .select($"source").distinct().count() == 3,
      "the recovered tick must join the census")
    // BACK-COMPAT: with the gate off (the default), the same sorted
    // construction is ADMITTED — the four marginals are position-free
    // — and the report keeps its pre-r16 schema
    val root2 = tmp("ordergateoff")
    ops.IndexStore.writeUnified(spark, odocs(0 to 39, "src0", canon = false),
      vecsOf(0 to 39), cents, root2, governed = true)
    val rep3 = ops.IndexStore.appendUnifiedGated(spark, root2,
      odocs(140 to 159, "srcSort", canon = true), vecsOf(140 to 159), "src0")
    assert(!rep3.columns.contains("psi_order"),
      "the default report schema must not change (gate off)")
    assert(rep3.filter($"held").isEmpty &&
      ops.IndexStore.channel(spark, root2, "mix_census")
        .select($"source").distinct().count() == 2,
      "with the gate off the sorted source folds — the documented hole " +
        "the opt-in closes")
  }

  test("q170 fixture: the order-held probe is absent from every channel of the orderGateStore; the scrambles landed") {
    val root = ops.Selection.orderGateStore(spark, dir)
    val srcs = ops.IndexStore.channel(spark, root, "mix_census")
      .select($"source").distinct().as[String].collect().toSet
    assert(srcs == Set("src0", "probe_reversed", "probe_clone"),
      s"census must hold anchor + the two passing scrambles only: $srcs")
    val lens = ops.IndexStore.channel(spark, root, "doc_lens")
      .select($"doc_id").as[Long].collect().toSet
    // fixture id offsets: sorted +1e9, reversed +2e9, clone +3e9
    assert(!lens.exists(id => id >= 1000000000L && id < 2000000000L),
      "probe_sorted's docs leaked into doc_lens")
    assert(lens.exists(id => id >= 2000000000L && id < 3000000000L) &&
      lens.exists(id => id >= 3000000000L),
      "the passing scrambles must have folded")
    val postDocs = ops.IndexStore.channel(spark, root, "postings")
      .select($"doc_id").as[Long].collect().toSet
    assert(!postDocs.exists(id => id >= 1000000000L && id < 2000000000L),
      "probe_sorted's postings leaked")
  }

  test("the gated fold refuses an ungoverned unified store — no anchor census to hold against") {
    val root = tmp("ungov")
    ops.IndexStore.writeUnified(spark, gdocs(0 to 5, "src0"), vecsOf(0 to 5),
      cents, root)
    val e = intercept[IllegalArgumentException] {
      ops.IndexStore.appendUnifiedGated(spark, root,
        gdocs(6 to 11, "srcA"), vecsOf(6 to 11), "src0")
    }
    assert(e.getMessage.contains("mix_census"),
      s"expected the governance refusal, got: ${e.getMessage}")
  }

  test("a REFUSED gated fold strands no checkpoint blocks — the census probe's checkpoint survives concurrent cancellation (ADVICE r16)") {
    // the orphan gates, the census checkpoint+PSI read and the order
    // verdict run concurrently (probeConcurrently); when an orphan gate
    // refuses, the census probe is interrupted at an ARBITRARY point —
    // before, during or after its localCheckpoint. Pre-fix, the probe
    // handed the checkpoint out through a plain var with no
    // happens-before edge to the owner's finally, so a refusal could
    // observe null and strand the persisted blocks for the session
    // (a retrying governed loop accumulates one per refused tick).
    // The CAS/tombstone handshake makes every interleaving release;
    // this pin drives repeated refusals and asserts the persistent-RDD
    // map returns to its starting state each time.
    val root = tmp("gatedleak")
    ops.IndexStore.writeUnified(spark, gdocs(0 to 19, "src0"),
      vecsOf(0 to 19), cents, root, governed = true)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val h = ops.IndexStore.history(root)
    for (i <- 1 to 4) {
      // vectors 40–49 have no doc in the batch (20–29) and none stored
      // (0–19) → the vector-orphan gate refuses while the census probe
      // runs; vary nothing — the interleaving varies on its own
      val e = intercept[IllegalArgumentException] {
        ops.IndexStore.appendUnifiedGated(spark, root,
          gdocs(20 to 29, "srcA"), vecsOf(40 to 49), "src0")
      }
      assert(e.getMessage.contains("no doc in"),
        s"round $i: expected the orphan refusal, got: ${e.getMessage}")
      // the refusal reaches us only after every sibling probe stopped,
      // so whichever side of the handshake releases has released by now
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty,
        s"round $i: refused gated fold stranded persisted RDD blocks: $leaked")
    }
    assert(ops.IndexStore.history(root) == h, "refused folds must not publish")
  }
}
