package graft

import org.apache.spark.sql.SaveMode

/** Snapshot/manifest contract of the persisted index store: every
  * mutation stages into a fresh snapshot dir and publishes with ONE
  * atomic pointer flip, so a crash between channel writes can never
  * expose a half-updated store; the versioned manifest is the layout
  * contract checked at every open. */
class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-store-$tag").toString

  private val docs = Seq(
    1L -> "alpha beta gamma delta", 2L -> "beta gamma delta epsilon",
    3L -> "completely different words here entirely")
  private val batch = Seq(4L -> "zeta eta theta iota", 5L -> "alpha beta gamma delta")

  private def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")

  test("crash between append channel writes leaves readers on the old consistent snapshot") {
    val idx = tmp("crash")
    ops.IndexStore.writeText(spark, df(docs), idx)
    val before = ops.IndexStore.bm25FromStore(spark, idx, Seq("beta", "zeta"))
      .orderBy($"doc_id").collect().toSeq
    val statsBefore = ops.IndexStore.channel(spark, idx, "stats").head()
    // inject the crash AFTER the postings files land but BEFORE
    // doc_lens/stats/manifest/pointer — the classic torn multi-channel
    // update the round-6 layout could only document as unsafe
    ops.IndexStore.crashAfterChannel = Some("postings")
    try intercept[RuntimeException] {
      ops.IndexStore.appendText(spark, idx, df(batch))
    } finally ops.IndexStore.crashAfterChannel = None
    // the pointer never flipped: same scores, same stats, no torn state
    val after = ops.IndexStore.bm25FromStore(spark, idx, Seq("beta", "zeta"))
      .orderBy($"doc_id").collect().toSeq
    assert(after == before, "crashed append changed reader-visible scores")
    assert(ops.IndexStore.channel(spark, idx, "stats").head() == statsBefore)
    // recovery: the retried append clears the aborted staging dir and
    // lands; the store then equals a fresh full build
    ops.IndexStore.appendText(spark, idx, df(batch))
    val fresh = tmp("crash-fresh")
    ops.IndexStore.writeText(spark, df(docs ++ batch), fresh)
    for (ch <- Seq("postings", "doc_lens", "stats")) {
      val a = ops.IndexStore.channel(spark, idx, ch)
      val b = ops.IndexStore.channel(spark, fresh, ch)
      assert(a.count() == b.count() && a.except(b).isEmpty && b.except(a).isEmpty,
        s"channel $ch diverged after crash-recovery append")
    }
  }

  test("crash mid dedup append: both screens keep answering from the old snapshot") {
    val idx = tmp("dcrash")
    ops.IndexStore.write(spark, df(docs), idx)
    val probe = df(batch)
    val before = ops.IndexStore.screenBatch(spark, idx, probe).collect().toSeq
    ops.IndexStore.crashAfterChannel = Some("fingerprints")
    try intercept[RuntimeException] {
      ops.IndexStore.append(spark, idx, probe)
    } finally ops.IndexStore.crashAfterChannel = None
    assert(ops.IndexStore.screenBatch(spark, idx, probe).collect().toSeq == before,
      "crashed append changed screen decisions")
    // retry lands and the batch's twin (doc 5 ≡ doc 1) now flags exact
    ops.IndexStore.append(spark, idx, probe)
    val dec = ops.IndexStore.screenBatch(spark, idx, df(Seq(9L -> docs.head._2)))
      .select($"decision").head().getString(0)
    assert(dec == "drop_exact")
  }

  test("a directory without a snapshot pointer is refused, never misread") {
    val dir = tmp("foreign")
    // even one that LOOKS like a flat-layout store
    df(docs).write.mode(SaveMode.Overwrite).parquet(s"$dir/doc_lens")
    val e = intercept[IllegalStateException] {
      ops.IndexStore.channel(spark, dir, "doc_lens").count()
    }
    assert(e.getMessage.contains("no _current snapshot pointer"))
    val e2 = intercept[IllegalStateException] {
      ops.IndexStore.bm25FromStore(spark, dir, Seq("alpha")).count()
    }
    assert(e2.getMessage.contains("no _current snapshot pointer"))
  }

  test("a wrong-version manifest fails loudly at open") {
    val idx = tmp("version")
    ops.IndexStore.writeText(spark, df(docs), idx)
    val cur = java.nio.file.Files
      .readString(java.nio.file.Paths.get(s"$idx/_current")).trim
    val mPath = java.nio.file.Paths.get(s"$idx/$cur/_manifest.json")
    val bumped = java.nio.file.Files.readString(mPath)
      .replace("\"format_version\": 1", "\"format_version\": 99")
    java.nio.file.Files.writeString(mPath, bumped)
    val e = intercept[IllegalStateException] {
      ops.IndexStore.channel(spark, idx, "postings").count()
    }
    assert(e.getMessage.contains("format_version 99") &&
      e.getMessage.contains(s"version ${ops.IndexStore.FormatVersion}"),
      s"version mismatch must cite both versions: ${e.getMessage}")
    // a manifest-less snapshot dir is equally refused
    java.nio.file.Files.delete(mPath)
    val e2 = intercept[IllegalStateException] {
      ops.IndexStore.channel(spark, idx, "postings").count()
    }
    assert(e2.getMessage.contains("_manifest.json"))
  }

  test("append is copy-free: prior snapshot files are carried forward, not rewritten") {
    val idx = tmp("copyfree")
    ops.IndexStore.writeText(spark, df(docs), idx)
    val firstSnap = java.nio.file.Files
      .readString(java.nio.file.Paths.get(s"$idx/_current")).trim
    def postingFiles(snap: String) = {
      val d = new java.io.File(s"$idx/$snap/postings")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before = postingFiles(firstSnap)
    ops.IndexStore.appendText(spark, idx, df(batch))
    val curSnap = java.nio.file.Files
      .readString(java.nio.file.Paths.get(s"$idx/_current")).trim
    assert(curSnap != firstSnap, "append must commit a NEW snapshot")
    assert(postingFiles(firstSnap) == before,
      "append rewrote prior-snapshot postings files — not copy-free")
    // and the new manifest lists both snapshots' postings dirs
    val manifest = java.nio.file.Files
      .readString(java.nio.file.Paths.get(s"$idx/$curSnap/_manifest.json"))
    assert(manifest.contains(s"$firstSnap/postings") &&
      manifest.contains(s"$curSnap/postings"),
      s"manifest must carry prior postings path forward:\n$manifest")
  }

  private def currentSnap(idx: String): String = java.nio.file.Files
    .readString(java.nio.file.Paths.get(s"$idx/_current")).trim

  private def channelRows(idx: String, ch: String): Set[String] =
    ops.IndexStore.channel(spark, idx, ch)
      .collect().map(_.toString).toSet

  private def manifestChannels(idx: String) = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      java.nio.file.Files.readString(java.nio.file.Paths.get(
        s"$idx/${currentSnap(idx)}/_manifest.json")))
    val chs = node.get("channels")
    val it = chs.fieldNames()
    val out = scala.collection.mutable.Map.empty[String, Seq[String]]
    while (it.hasNext) {
      val n = it.next()
      val pit = chs.get(n).get("paths").elements()
      val ps = scala.collection.mutable.Buffer.empty[String]
      while (pit.hasNext) ps += pit.next().asText()
      out(n) = ps.toSeq
    }
    out.toMap
  }

  private val batch2 = Seq(6L -> "kappa lambda mu nu", 7L -> "nu xi omicron pi")

  test("compact collapses every text channel to one path; reads are bit-identical") {
    val idx = tmp("compact-text")
    ops.IndexStore.writeText(spark, df(docs), idx)
    ops.IndexStore.appendText(spark, idx, df(batch))
    ops.IndexStore.appendText(spark, idx, df(batch2))
    assert(manifestChannels(idx)("postings").size == 3,
      "fixture must be fragmented before compaction")
    val rowsBefore = Seq("postings", "doc_lens", "stats")
      .map(ch => ch -> channelRows(idx, ch)).toMap
    val lookupBefore = ops.IndexStore.bm25FromStore(spark, idx, Seq("beta", "nu"))
      .orderBy($"doc_id").collect().toSeq
    ops.IndexStore.compact(spark, idx)
    val m = manifestChannels(idx)
    val snap = currentSnap(idx)
    for ((ch, paths) <- m) {
      assert(paths.size == 1, s"channel $ch still multi-path after compact: $paths")
      assert(paths.head.startsWith(snap + "/"),
        s"channel $ch not rewritten into the compacted snapshot: $paths")
    }
    for ((ch, before) <- rowsBefore)
      assert(channelRows(idx, ch) == before, s"compact changed channel $ch contents")
    assert(ops.IndexStore.bm25FromStore(spark, idx, Seq("beta", "nu"))
      .orderBy($"doc_id").collect().toSeq == lookupBefore,
      "compact changed store-fed BM25 results")
  }

  test("compact preserves dedup screens and partition layout; crash mid-compaction is free") {
    val idx = tmp("compact-dedup")
    ops.IndexStore.write(spark, df(docs), idx)
    ops.IndexStore.append(spark, idx, df(batch))
    val probe = df(Seq(9L -> docs.head._2, 10L -> "utterly novel content"))
    val screenBefore = ops.IndexStore.screenBatch(spark, idx, probe).collect().toSeq
    // crash AFTER band_keys lands mid-compaction: pointer never flips
    ops.IndexStore.crashAfterChannel = Some("band_keys")
    try intercept[RuntimeException] { ops.IndexStore.compact(spark, idx) }
    finally ops.IndexStore.crashAfterChannel = None
    assert(ops.IndexStore.screenBatch(spark, idx, probe).collect().toSeq == screenBefore,
      "crashed compaction changed screen decisions")
    // retry lands; screens unchanged; band partition dirs intact
    ops.IndexStore.compact(spark, idx)
    assert(ops.IndexStore.screenBatch(spark, idx, probe).collect().toSeq == screenBefore,
      "compaction changed screen decisions")
    val bandDir = new java.io.File(s"$idx/${currentSnap(idx)}/band_keys")
    assert(bandDir.listFiles().exists(f =>
      f.isDirectory && f.getName.startsWith("band=")),
      "compacted band_keys lost its band partition layout")
  }

  test("vacuum reclaims only what compaction orphans; reads survive") {
    val idx = tmp("vacuum")
    ops.IndexStore.writeText(spark, df(docs), idx)
    ops.IndexStore.appendText(spark, idx, df(batch))
    ops.IndexStore.appendText(spark, idx, df(batch2))
    // append-only history: every prior snapshot is still referenced
    // via carried-forward postings/doc_lens paths → nothing to reclaim
    assert(ops.IndexStore.vacuum(idx).isEmpty,
      "vacuum must never delete snapshots the manifest still references")
    val lookupBefore = ops.IndexStore.bm25FromStore(spark, idx, Seq("beta", "nu"))
      .orderBy($"doc_id").collect().toSeq
    ops.IndexStore.compact(spark, idx)
    val deleted = ops.IndexStore.vacuum(idx)
    assert(deleted == Seq("snap_00000001", "snap_00000002", "snap_00000003"),
      s"compaction orphans exactly the three pre-compaction snapshots: $deleted")
    assert(!new java.io.File(s"$idx/snap_00000001").exists())
    assert(ops.IndexStore.bm25FromStore(spark, idx, Seq("beta", "nu"))
      .orderBy($"doc_id").collect().toSeq == lookupBefore,
      "vacuum broke the live snapshot's reads")
    // idempotent: a second vacuum finds nothing
    assert(ops.IndexStore.vacuum(idx).isEmpty)
  }

  test("snapshot history is a readable timeline: channelAt pins every version") {
    val idx = tmp("history")
    ops.IndexStore.writeText(spark, df(docs), idx)
    ops.IndexStore.appendText(spark, idx, df(batch))
    ops.IndexStore.appendText(spark, idx, df(batch2))
    val hist = ops.IndexStore.history(idx)
    assert(hist == Seq("snap_00000001", "snap_00000002", "snap_00000003"),
      s"three committed transactions = three versions, oldest first: $hist")
    // each version's stats channel is the corpus census AS OF that fold
    val census = hist.map { sn =>
      val r = ops.IndexStore.channelAt(spark, idx, sn, "stats").head()
      r.getAs[Long]("n_docs")
    }
    assert(census == Seq(3L, 5L, 7L),
      s"per-version n_docs must replay the ingest history: $census")
    // v1's postings AS OF snap 1 ≡ a fresh store built from batch 0 only
    val fresh = tmp("history-fresh")
    ops.IndexStore.writeText(spark, df(docs), fresh)
    val v1 = ops.IndexStore.channelAt(spark, idx, hist.head, "postings")
    val f1 = ops.IndexStore.channel(spark, fresh, "postings")
    assert(v1.count() == f1.count() &&
      v1.except(f1).isEmpty && f1.except(v1).isEmpty,
      "time-travel read diverged from the store as originally written")
    // a never-committed version is refused by name, never misread
    val e = intercept[IllegalStateException] {
      ops.IndexStore.channelAt(spark, idx, "snap_00000099", "stats")
    }
    assert(e.getMessage.contains("no committed snapshot"))
    // an aborted transaction never enters the history
    ops.IndexStore.crashAfterChannel = Some("postings")
    try intercept[RuntimeException] {
      ops.IndexStore.appendText(spark, idx, df(Seq(9L -> "rho sigma tau")))
    } finally ops.IndexStore.crashAfterChannel = None
    assert(ops.IndexStore.history(idx) == hist,
      "a crashed append must not appear as a committed version")
  }

  test("vacuum retention window: the last N versions stay time-travel readable") {
    val idx = tmp("retain")
    ops.IndexStore.writeText(spark, df(docs), idx)
    ops.IndexStore.appendText(spark, idx, df(batch))
    val preCompact = ops.IndexStore.history(idx).last
    val v2Before = ops.IndexStore.channelAt(spark, idx, preCompact, "doc_lens")
      .collect().map(_.toString).toSet
    ops.IndexStore.compact(spark, idx)
    // retain=2 keeps the pre-compaction version AND every snapshot its
    // manifest references — a reader ≤1 transaction stale is safe by
    // construction, and the version stays time-travel readable
    assert(ops.IndexStore.vacuum(idx, retain = 2).isEmpty,
      "retain=2 must keep everything the previous manifest references")
    assert(ops.IndexStore.channelAt(spark, idx, preCompact, "doc_lens")
      .collect().map(_.toString).toSet == v2Before,
      "retained version must read bit-identically after vacuum")
    // retain=1 (default) reclaims both pre-compaction snapshots; the
    // old version is then refused by name
    val deleted = ops.IndexStore.vacuum(idx)
    assert(deleted == Seq("snap_00000001", "snap_00000002"), s"got $deleted")
    val e = intercept[IllegalStateException] {
      ops.IndexStore.channelAt(spark, idx, preCompact, "doc_lens")
    }
    assert(e.getMessage.contains("vacuumed or never committed"))
    // the live snapshot is untouched throughout
    assert(ops.IndexStore.channel(spark, idx, "doc_lens").count() == 5)
    intercept[IllegalArgumentException] { ops.IndexStore.vacuum(idx, retain = 0) }
  }

  test("standalone media store lifecycle: pairs + media_stats bit-identical across compact + vacuum; dropped version refuses by name (VERDICT r15 #6)") {
    // deterministic high-entropy payloads (the DedupSimSpec LCG): twin
    // pairs differ in a short tail so the pairs read is non-trivial
    def noisy(seed: Long, len: Int): String = {
      var x = seed; val sb = new StringBuilder
      for (_ <- 0 until len) {
        x = x * 6364136223846793005L + 1442695040888963407L
        sb += ('a' + math.floorMod(x >>> 33, 26L).toInt).toChar
      }
      sb.toString
    }
    def payloads(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .select($"doc_id", $"text".cast("binary").as("payload"))
    val idx = tmp("mediavac")
    ops.IndexStore.writeMedia(spark, payloads(Seq(
      1L -> noisy(7, 400), 2L -> (noisy(7, 400) + "tail"),
      3L -> noisy(99, 400))), idx)
    ops.IndexStore.appendMedia(spark, idx, payloads(Seq(
      4L -> noisy(123, 400), 5L -> (noisy(99, 400) + "x"))))
    ops.IndexStore.appendMedia(spark, idx, payloads(Seq(
      6L -> noisy(555, 400))))
    val preCompact = ops.IndexStore.history(idx).last
    def stats() = ops.IndexStore.channel(spark, idx, "media_stats").head()
    def pairs() = ops.IndexStore.mediaPairsFromStore(spark, idx)
      .collect().map(_.toString).toSet
    val (pairsBefore, statsBefore) = (pairs(), stats())
    assert(pairsBefore.nonEmpty, "fixture degenerate: no payload twins")
    assert(statsBefore.getAs[Long]("n_payloads") == 6 &&
      statsBefore.getAs[Long]("n_blocks") == 24,
      s"media census must count the three folds: $statsBefore")
    // compact collapses the three append paths; vacuum past retention
    // reclaims all pre-compaction snapshots
    ops.IndexStore.compact(spark, idx)
    assert(pairs() == pairsBefore && stats() == statsBefore,
      "compaction changed the media reads")
    val deleted = ops.IndexStore.vacuum(idx)
    assert(deleted.nonEmpty, "vacuum must reclaim the orphaned snapshots")
    assert(pairs() == pairsBefore && stats() == statsBefore,
      "vacuum changed the media reads")
    // screen still serves off the compacted store
    assert(ops.IndexStore.screenBatchMedia(spark, idx,
      payloads(Seq(10L -> (noisy(7, 400) + "zz"), 11L -> noisy(777, 400))))
      .as[Long].collect().toSeq == Seq(10L),
      "post-vacuum screen must flag exactly the stored twin")
    // the reclaimed version refuses BY NAME
    val e = intercept[IllegalStateException] {
      ops.IndexStore.channelAt(spark, idx, preCompact, "media_sim_blocks")
    }
    assert(e.getMessage.contains("vacuumed or never committed"),
      s"dropped version must refuse by name: ${e.getMessage}")
  }

  test("empty initial writes are refused loudly, never commit channel-less stores") {
    // a store initialized from zero rows commits no readable channel
    // (parquet cannot infer a schema from a part-file-less dir), and
    // every later append/screen would crash on the missing channel
    // with no recovery path — refuse at the source instead (writeText
    // alone keeps its empty bootstrap: the text ingest loop is the one
    // that may legitimately open on an empty micro-batch)
    val empty = df(Seq.empty)
    val e1 = intercept[IllegalArgumentException] {
      ops.IndexStore.write(spark, empty, tmp("ew"))
    }
    assert(e1.getMessage.contains("empty docs frame"))
    intercept[IllegalArgumentException] {
      ops.IndexStore.writeClusters(spark, empty, tmp("ewc"))
    }
    val e2 = intercept[IllegalArgumentException] {
      ops.IndexStore.writeMedia(spark,
        empty.select($"doc_id", $"text".cast("binary").as("payload")),
        tmp("ewm"))
    }
    assert(e2.getMessage.contains("fingerprintable"))
    val e3 = intercept[IllegalArgumentException] {
      ops.IndexStore.writeVectors(spark,
        Seq.empty[(Long, String, Seq[Double])].toDF("vec_id", "label", "unit"),
        Seq.empty[(Long, Seq[Double])].toDF("cid", "cvec"), tmp("ewv"))
    }
    assert(e3.getMessage.contains("empty vectors or centroids"))
  }

  test("dedup append skips an exact redelivery idempotently, refuses partial overlap") {
    val idx = tmp("dreplay")
    ops.IndexStore.write(spark, df(docs), idx)
    ops.IndexStore.append(spark, idx, df(batch))
    val hist = ops.IndexStore.history(idx)
    val fps = ops.IndexStore.channel(spark, idx, "fingerprints").count()
    ops.IndexStore.append(spark, idx, df(batch)) // at-least-once redelivery
    assert(ops.IndexStore.history(idx) == hist,
      "exact replay must not commit a new snapshot")
    assert(ops.IndexStore.channel(spark, idx, "fingerprints").count() == fps,
      "exact replay must not duplicate fingerprint rows")
    val e = intercept[IllegalArgumentException] {
      ops.IndexStore.append(spark, idx, df(batch ++ Seq(8L -> "wholly new words")))
    }
    assert(e.getMessage.contains("partial overlap"), e.getMessage)
  }

  test("ingest loop survives an OCC loss: the losing fold retries and lands") {
    // the deployment the docs bless — out-of-band maintenance racing a
    // live ingest loop — makes an occasional first-committer-wins loss
    // NORMAL; the loop must retry against the new state, not die
    val idx = tmp("occ-retry")
    ops.IndexStore.writeText(spark, df(docs), idx)
    ops.IndexStore.raceBeforeCommit = Some(() =>
      ops.IndexStore.appendText(spark, idx, df(batch2)))
    try streaming.StreamingOps.ingestAndMaintainText(spark, idx, df(batch))
    finally ops.IndexStore.raceBeforeCommit = None
    // both the rival's fold and the retried fold are present
    assert(ops.IndexStore.channel(spark, idx, "doc_lens").count() == 7,
      "the retried fold must land on top of the rival's commit")
    assert(ops.IndexStore.channel(spark, idx, "stats").head()
      .getAs[Long]("n_docs") == 7L)
  }

  test("dedup ingest retry RE-SCREENS: a twin committed by a rival mid-fold is not admitted") {
    // losing the OCC race means the store advanced; replaying stale
    // keep/drop decisions could admit a doc whose exact twin the rival
    // just committed — the retry must re-run the screen, not just the
    // append
    val idx = tmp("rescreen")
    ops.IndexStore.write(spark, df(docs), idx)
    val rival = df(Seq(6L -> "brand new unique content"))
    val incoming = df(Seq(7L -> "brand new unique content"))
    ops.IndexStore.raceBeforeCommit = Some(() =>
      ops.IndexStore.append(spark, idx, rival))
    val dec = try streaming.StreamingOps.ingestAndMaintain(spark, idx, incoming)
      finally ops.IndexStore.raceBeforeCommit = None
    assert(dec.filter($"decision" === "drop_exact").count() == 1,
      "retry must re-screen against the advanced store")
    assert(ops.IndexStore.channel(spark, idx, "fingerprints").count() == 4,
      "store must hold docs ∪ rival only — the twin was not folded")
  }

  test("concurrent writers: first committer wins, the loser fails loudly, nothing is lost") {
    val idx = tmp("occ")
    ops.IndexStore.writeText(spark, df(docs), idx)
    // writer A stages `batch`; just before A's publication, writer B
    // lands `batch2` — the exact race where A's stale carried-forward
    // path list would silently DROP B's fold if A were allowed to commit
    ops.IndexStore.raceBeforeCommit = Some(() =>
      ops.IndexStore.appendText(spark, idx, df(batch2)))
    val e = try intercept[java.util.ConcurrentModificationException] {
      ops.IndexStore.appendText(spark, idx, df(batch))
    } finally ops.IndexStore.raceBeforeCommit = None
    assert(e.getMessage.contains("first committer wins"), e.getMessage)
    // the store is exactly B's commit: nothing lost, nothing torn
    assert(ops.IndexStore.channel(spark, idx, "doc_lens").count() == 5,
      "store must hold docs ∪ batch2 after the race")
    assert(ops.IndexStore.history(idx).size == 2,
      "the losing transaction must not appear in the history")
    // A retries against the new state and lands; the store now equals
    // a fresh build of all three batches
    ops.IndexStore.appendText(spark, idx, df(batch))
    val fresh = tmp("occ-fresh")
    ops.IndexStore.writeText(spark, df(docs ++ batch2 ++ batch), fresh)
    for (ch <- Seq("postings", "doc_lens", "stats")) {
      val a = ops.IndexStore.channel(spark, idx, ch)
      val b = ops.IndexStore.channel(spark, fresh, ch)
      assert(a.count() == b.count() && a.except(b).isEmpty && b.except(a).isEmpty,
        s"channel $ch diverged after the retried append")
    }
    // the loser's staging dir is inert garbage: invisible to readers,
    // reclaimed by vacuum once past the grace window
    val staging = new java.io.File(idx).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("_staging_"))
    assert(staging.length == 1, "exactly the losing transaction's staging dir remains")
    assert(ops.IndexStore.vacuum(idx).isEmpty,
      "a fresh staging dir must survive the default 24h grace")
    val reclaimed = ops.IndexStore.vacuum(idx, retain = 1, stagingGraceMs = 0)
    assert(reclaimed == Seq(staging.head.getName), s"got $reclaimed")
    assert(!staging.head.exists())
  }

  test("vacuum refuses a non-store directory loudly, creating no lock file") {
    // withCommitLock opens the lock file with CREATE, so validation
    // must run BEFORE the lock: an uninitialized root gets the loud
    // "not an index store" refusal, not a NoSuchFileException from the
    // lock open — and no stray _commitlock in a foreign directory
    val dir = tmp("notastore")
    val e = intercept[IllegalStateException] { ops.IndexStore.vacuum(dir) }
    assert(e.getMessage.contains("not an index store"), e.getMessage)
    assert(!new java.io.File(dir, "_commitlock").exists(),
      "vacuum left a lock file in a directory that is not a store")
    intercept[IllegalStateException] { ops.IndexStore.vacuum(s"$dir/never-created") }
  }

  private def assertNoNewPersistedRdds[T](tag: String)(body: => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val r = body
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"$tag stranded persisted RDD blocks: $leaked")
    r
  }

  test("maintenance ops release their checkpoints on success AND failure paths") {
    // localCheckpoint persists its RDD outside the CacheManager, so a
    // forgotten release strands MEMORY_AND_DISK blocks until driver GC
    // — corpus-sized for retrainVectors. Every store op that
    // checkpoints must leave the persistent-RDD map exactly as found.
    val vecs = (1 to 60).map(i => (i.toLong, s"l${i % 3}",
      Seq(math.cos(i * 0.7), math.sin(i * 0.7))))
      .toDF("vec_id", "label", "unit")
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(-1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("cid", "cvec")
    val vidx = tmp("ckpt-vec")
    ops.IndexStore.writeVectors(spark, vecs, cents, vidx)
    assertNoNewPersistedRdds("retrainVectors (success)") {
      ops.IndexStore.retrainVectors(spark, vidx)
    }
    assertNoNewPersistedRdds("retrainVectors (crash-injected)") {
      ops.IndexStore.crashAfterChannel = Some("centroids")
      try intercept[RuntimeException] { ops.IndexStore.retrainVectors(spark, vidx) }
      finally ops.IndexStore.crashAfterChannel = None
    }
    def noisy(seed: Long) = {
      var x = seed
      (0 until 400).map { _ =>
        x = x * 6364136223846793005L + 1442695040888963407L
        ('a' + math.floorMod(x >>> 33, 26L).toInt).toChar
      }.mkString
    }
    val midx = tmp("ckpt-media")
    assertNoNewPersistedRdds("writeMedia") {
      ops.IndexStore.writeMedia(spark,
        Seq(1L -> noisy(7L), 2L -> noisy(11L)).toDF("doc_id", "payload")
          .withColumn("payload", $"payload".cast("binary")), midx)
    }
    assertNoNewPersistedRdds("appendMedia (success + exact-replay skip)") {
      val b = Seq(3L -> noisy(13L)).toDF("doc_id", "payload")
        .withColumn("payload", $"payload".cast("binary"))
      ops.IndexStore.appendMedia(spark, midx, b)
      ops.IndexStore.appendMedia(spark, midx, b) // replay: guard-skip path
    }
    assertNoNewPersistedRdds("writeMedia (empty refusal)") {
      intercept[IllegalArgumentException] {
        ops.IndexStore.writeMedia(spark, Seq.empty[(Long, Array[Byte])]
          .toDF("doc_id", "payload"), tmp("ckpt-media-empty"))
      }
    }
    // the unified store's media family: the fingerprint checkpoint is
    // released on success, on a refusal and on a crash mid-staging
    def udocs(ids: Seq[Long]) =
      df(ids.map(i => i -> s"alpha beta w${('a' + i % 26).toChar}"))
    def uvecs(ids: Seq[Long]) = vecs.filter($"vec_id".isin(ids: _*))
    def pays(ids: Seq[Long]) = ids.map(i => i -> noisy(i * 31 + 7))
      .toDF("doc_id", "payload").withColumn("payload", $"payload".cast("binary"))
    val uidx = tmp("ckpt-unified")
    assertNoNewPersistedRdds("writeUnified with payloads (success)") {
      ops.IndexStore.writeUnified(spark, udocs(1L to 6L), uvecs(1L to 6L),
        cents, uidx, payloads = Some(pays(1L to 6L)))
    }
    assertNoNewPersistedRdds("writeUnified (all-unfingerprintable refusal)") {
      val e = intercept[IllegalArgumentException] {
        ops.IndexStore.writeUnified(spark, udocs(1L to 6L), uvecs(1L to 6L),
          cents, tmp("ckpt-unified-refused"), payloads = Some(
            Seq(1L -> Array[Byte](1, 2)).toDF("doc_id", "payload")))
      }
      assert(e.getMessage.contains("no fingerprintable payloads"), e.getMessage)
    }
    assertNoNewPersistedRdds("appendUnified with payloads (success)") {
      ops.IndexStore.appendUnified(spark, uidx, udocs(7L to 9L),
        uvecs(7L to 9L), payloads = Some(pays(7L to 9L)))
    }
    assertNoNewPersistedRdds("appendUnified with payloads (crash-injected)") {
      ops.IndexStore.crashAfterChannel = Some("media_sim_blocks")
      try intercept[RuntimeException] {
        ops.IndexStore.appendUnified(spark, uidx, udocs(10L to 12L),
          uvecs(10L to 12L), payloads = Some(pays(10L to 12L)))
      } finally ops.IndexStore.crashAfterChannel = None
    }
    assertNoNewPersistedRdds("appendUnified (MEDIA-ONLY refusal)") {
      val e = intercept[IllegalArgumentException] {
        ops.IndexStore.appendUnified(spark, uidx, udocs(7L to 9L),
          uvecs(7L to 9L), payloads = Some(pays(20L to 22L)))
      }
      assert(e.getMessage.contains("MEDIA-ONLY"), e.getMessage)
    }
    val didx = tmp("ckpt-dedup")
    ops.IndexStore.write(spark, df(docs), didx)
    assertNoNewPersistedRdds("writeClusters") {
      ops.IndexStore.writeClusters(spark, df(docs), didx)
    }
    assertNoNewPersistedRdds("append (label delta, success)") {
      ops.IndexStore.append(spark, didx, df(batch.filter(_._1 == 4L)))
    }
    assertNoNewPersistedRdds("append (label delta, crash-injected)") {
      ops.IndexStore.crashAfterChannel = Some("sim_blocks")
      try intercept[RuntimeException] {
        ops.IndexStore.append(spark, didx, df(Seq(9L -> "unrelated fresh words")))
      } finally ops.IndexStore.crashAfterChannel = None
    }
  }

  test("media_stats rides every media commit: write/append/compact in lockstep, replay-skips unmoved, pre-r15 stores backfilled (VERDICT r14 next #5)") {
    def noisy(seed: Long) = {
      var x = seed
      (0 until 400).map { _ =>
        x = x * 6364136223846793005L + 1442695040888963407L
        ('a' + math.floorMod(x >>> 33, 26L).toInt).toChar
      }.mkString
    }
    def pay(ids: Seq[Long]) = ids.map(i => i -> noisy(i * 31 + 7))
      .toDF("doc_id", "payload")
      .withColumn("payload", $"payload".cast("binary"))
    def stats(root: String) = {
      val r = ops.IndexStore.channel(spark, root, "media_stats").head()
      (r.getAs[Long]("n_payloads"), r.getAs[Long]("n_blocks"))
    }
    val idx = tmp("mstats")
    ops.IndexStore.writeMedia(spark, pay(Seq(1L, 2L)), idx)
    assert(stats(idx) == ((2L, 8L)), stats(idx).toString)
    ops.IndexStore.appendMedia(spark, idx, pay(Seq(3L)))
    assert(stats(idx) == ((3L, 12L)), "append must merge the census")
    ops.IndexStore.appendMedia(spark, idx, pay(Seq(3L)))
    assert(stats(idx) == ((3L, 12L)),
      "an exact replay skips — the census must not move")
    ops.IndexStore.compact(spark, idx)
    assert(stats(idx) == ((3L, 12L)), "compaction moved the media census")
    // the facts column carries it at every version — the q165
    // doc/media divergence is now a timeline read, not a recompute
    val tl = ops.IndexStore.describeStoreTimeline(spark, idx).collect()
      .filter(_.getString(2) == "media_stats")
      .sortBy(_.getInt(0)).map(_.getString(8)).toSeq
    assert(tl == Seq("n_payloads=2 n_blocks=8", "n_payloads=3 n_blocks=12",
      "n_payloads=3 n_blocks=12"), tl.mkString("; "))
    // BACKFILL: the r13 frozen store predates media_stats — the first
    // media append onto it recovers the census from the channel itself
    // (4 block rows per fingerprint) and persists it forward
    val legacy = tmp("mstats-legacy")
    def cp(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) {
        dst.mkdirs()
        src.listFiles().foreach(f => cp(f, new java.io.File(dst, f.getName)))
      } else java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    cp(new java.io.File("src/test/resources/r13_store"),
      new java.io.File(legacy))
    val pre = ops.IndexStore.channel(spark, legacy, "media_sim_blocks").count()
    assert(!ops.IndexStore.manifestAt(legacy,
        ops.IndexStore.history(legacy).last).contains("media_stats"),
      "fixture rot: the r13 store must predate media_stats")
    ops.IndexStore.appendMedia(spark, legacy, pay(Seq(9001L, 9002L)))
    assert(stats(legacy) == ((pre / 4 + 2, pre + 8)),
      s"backfill must recover the pre-r15 census: ${stats(legacy)} vs $pre")
  }

  test("bloom OR-merge: steady-state folds skip the fp-channel scan; blob ≡ fresh build; capacity crossing rebuilds once") {
    def docsOf(r: Range) = r.map(i =>
      (i.toLong, s"unique document number $i carrying words w${i}a w${i}b")).toDF("doc_id", "text")
    def blobName(idx: String) =
      ops.IndexStore.bloomBlob(idx).get.getFileName.toString
    val rolled = tmp("ormerge"); val fresh = tmp("ormerge-fresh")
    ops.IndexStore.write(spark, docsOf(1 to 300), rolled)
    assert(blobName(rolled) == "fingerprints.c1024.n300.bloom", blobName(rolled))
    val r0 = ops.IndexStore.bloomRebuilds
    ops.IndexStore.append(spark, rolled, docsOf(301 to 400))
    ops.IndexStore.append(spark, rolled, docsOf(401 to 500))
    assert(ops.IndexStore.bloomRebuilds == r0,
      "steady-state fold re-aggregated the blob from the fingerprint channel")
    // the OR of (300 + 100 + 100) at capacity 1024 is BIT-EQUAL to one
    // build over all 500 — insertion order never matters in a bitset
    ops.IndexStore.write(spark, docsOf(1 to 500), fresh)
    assert(blobName(rolled) == "fingerprints.c1024.n500.bloom", blobName(rolled))
    assert(blobName(fresh) == blobName(rolled))
    assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(ops.IndexStore.bloomBlob(rolled).get),
        java.nio.file.Files.readAllBytes(ops.IndexStore.bloomBlob(fresh).get)),
      "OR-merged blob diverges from a fresh build at the same capacity")
    // estItems crossing the capacity: exactly ONE re-agg, at 2048
    ops.IndexStore.append(spark, rolled, docsOf(501 to 1100))
    assert(ops.IndexStore.bloomRebuilds == r0 + 1,
      "capacity crossing must rebuild exactly once")
    assert(blobName(rolled) == "fingerprints.c2048.n1100.bloom", blobName(rolled))
    // screens stay exact through merge and rebuild alike
    val fresh2 = tmp("ormerge-fresh2")
    ops.IndexStore.write(spark, docsOf(1 to 1100), fresh2)
    val probe = docsOf(1050 to 1200)
    val da = ops.IndexStore.screenBatch(spark, rolled, probe).collect().toSeq
    val db = ops.IndexStore.screenBatch(spark, fresh2, probe).collect().toSeq
    assert(da == db, "screen decisions diverged across bloom maintenance")
    // compact carries the (capacity, estItems)-bearing name forward —
    // losing it would make the next fold misread the blob as
    // pre-contract and pay a spurious rebuild
    val bytesBefore = java.nio.file.Files.readAllBytes(
      ops.IndexStore.bloomBlob(rolled).get)
    ops.IndexStore.compact(spark, rolled)
    assert(blobName(rolled) == "fingerprints.c2048.n1100.bloom", blobName(rolled))
    assert(java.util.Arrays.equals(bytesBefore,
      java.nio.file.Files.readAllBytes(ops.IndexStore.bloomBlob(rolled).get)))
  }

  test("describeStore reports per-channel fan-out and layout; compaction collapses it; non-stores refused") {
    val idx = tmp("describe")
    ops.IndexStore.writeText(spark, df(docs), idx)
    ops.IndexStore.appendText(spark, idx, df(batch))
    ops.IndexStore.appendText(spark, idx,
      df(Seq(6L -> "kappa lambda mu nu", 7L -> "xi omicron pi rho")))
    val d = ops.IndexStore.describeStore(spark, idx).collect()
      .map(r => r.getString(0) -> r).toMap
    // three channels, all facts populated
    assert(d.keySet == Set("postings", "doc_lens", "stats"), d.keySet.toString)
    // postings fan out one path per fold (the append depth the
    // compaction gate watches); stats is always rewritten whole
    assert(d("postings").getInt(1) == 3, "postings should span 3 snapshots")
    assert(d("doc_lens").getInt(1) == 3)
    assert(d("stats").getInt(1) == 1)
    assert(d.values.forall(r => r.getLong(2) > 0 && r.getLong(3) > 0),
      "file and byte counts must be populated")
    assert(d("postings").getString(5) == "term,doc_id",
      "postings row must carry the recorded sort contract")
    assert(d.values.forall(_.getInt(8) == 3), "3 committed versions")
    // compaction collapses every channel to one path; the facts the
    // maintenance gates read are the facts describe reports
    ops.IndexStore.compact(spark, idx)
    val c = ops.IndexStore.describeStore(spark, idx).collect()
    assert(c.forall(_.getInt(1) == 1), "compaction must collapse every channel to one path")
    assert(c.forall(_.getInt(8) == 4), "compaction publishes one more version")
    // a foreign directory is refused, never misread
    intercept[IllegalStateException] {
      ops.IndexStore.describeStore(spark, tmp("notastore"))
    }
  }

  test("describeStoreTimeline replays the ingest history: per-version rows ≡ describeStoreAt, facts track the folds") {
    val idx = tmp("timeline")
    ops.IndexStore.writeText(spark, df(docs), idx)
    ops.IndexStore.appendText(spark, idx, df(batch))
    ops.IndexStore.appendText(spark, idx,
      df(Seq(6L -> "kappa lambda mu nu", 7L -> "xi omicron pi rho")))
    val snaps = ops.IndexStore.history(idx)
    val tl = ops.IndexStore.describeStoreTimeline(spark, idx).collect()
    // one row set per committed version, in history order
    assert(tl.map(_.getInt(0)).distinct.toSeq == Seq(1, 2, 3))
    assert(tl.map(r => r.getInt(0) -> r.getString(1)).distinct.sortBy(_._1)
      .map(_._2).toSeq == snaps, "ver_idx must walk history in order")
    // the postings fan-out grows one path per fold — "when did the
    // append depth blow up" is a filter over this one frame
    val postings = tl.filter(_.getString(2) == "postings")
      .map(r => r.getInt(0) -> r.getInt(3)).toMap
    assert(postings == Map(1 -> 1, 2 -> 2, 3 -> 3), postings.toString)
    // the census facts replay the ingest counts version by version
    val nDocs = tl.filter(_.getString(2) == "stats").sortBy(_.getInt(0))
      .map(_.getString(8))
    assert(nDocs.zip(Seq("n_docs=3", "n_docs=5", "n_docs=7"))
      .forall { case (got, want) => got.contains(want) }, nDocs.mkString("; "))
    // each version's slice is describeStoreAt's rows verbatim, and the
    // last slice is today's describeStore
    for ((snap, i) <- snaps.zipWithIndex) {
      // timeline slice (channel..facts, n_versions) ≡ describeStoreAt's
      // rows minus its own version column
      val slice = tl.filter(_.getInt(0) == i + 1)
        .map(_.toSeq.drop(2).toList).toSeq
      val at = ops.IndexStore.describeStoreAt(spark, idx, snap).collect()
        .map(r => r.toSeq.take(7).toList :+ r.get(8)).toSeq
      assert(slice.map(_.toString).sorted == at.map(_.toString).sorted,
        s"timeline slice ${i + 1} diverged from describeStoreAt")
    }
    assert(tl.filter(_.getInt(0) == 3).map(_.getString(2)).sorted.toSeq ==
      ops.IndexStore.describeStore(spark, idx).collect()
        .map(_.getString(0)).sorted.toSeq)
  }

  test("cloneStoreAt publishes an immutable version whose life is independent of the source") {
    val idx = tmp("clone-src")
    ops.IndexStore.writeText(spark, df(docs), idx)
    val v1 = ops.IndexStore.history(idx).head
    ops.IndexStore.appendText(spark, idx, df(batch))
    val terms = Seq("beta", "zeta")
    val v1Scores = ops.IndexStore.bm25FromStoreAt(spark, idx, v1, terms)
      .orderBy($"doc_id").collect().toSeq
    val dest = tmp("clone-dst")
    ops.IndexStore.cloneStoreAt(spark, idx, v1, dest)
    // the clone serves the published version's reads bit-identically,
    // as ITS OWN current version, in contract layout
    assert(ops.IndexStore.bm25FromStore(spark, dest, terms)
      .orderBy($"doc_id").collect().toSeq == v1Scores,
      "clone diverged from the published version's reads")
    assert(ops.IndexStore.history(dest).size == 1)
    assert(ops.IndexStore.describeStore(spark, dest).collect()
      .forall(_.getInt(1) == 1), "clone channels must be single-path")
    // the source keeps living: fold, compact, then vacuum the cloned
    // version AWAY — the clone must not notice
    ops.IndexStore.appendText(spark, idx, df(Seq(8L -> "sigma tau upsilon")))
    ops.IndexStore.compact(spark, idx)
    ops.IndexStore.vacuum(idx, retain = 1)
    assert(!ops.IndexStore.history(idx).contains(v1),
      "fixture: vacuum should have dropped the cloned version")
    assert(ops.IndexStore.bm25FromStore(spark, dest, terms)
      .orderBy($"doc_id").collect().toSeq == v1Scores,
      "vacuuming the source broke the published clone")
    // a publish target is born, not replaced
    val e = intercept[IllegalArgumentException] {
      ops.IndexStore.cloneStoreAt(spark, idx,
        ops.IndexStore.history(idx).last, dest)
    }
    assert(e.getMessage.contains("born"), e.getMessage)
  }

  // ---- compaction: copy what is already compact, rewrite the rest ----

  /** A unified store as the ingest loop leaves it before a compaction:
    * a bootstrap plus two folds. */
  private def foldedUnified(tag: String): String = {
    def docsU(ids: Range) = df(ids.map(i =>
      i.toLong -> s"alpha w${('a' + i % 26).toChar} beta${('a' + i % 3).toChar} gamma"))
    def vecsU(ids: Range) = ids.map { i =>
      (i.toLong, i % 3, Seq(math.cos(i * 0.7), math.sin(i * 0.7)))
    }.toDF("vec_id", "label", "unit")
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(-1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("cid", "cvec")
    val root = tmp(tag)
    ops.IndexStore.writeUnified(spark, docsU(0 until 20), vecsU(0 until 20), cents, root)
    ops.IndexStore.appendUnified(spark, root, docsU(20 until 26), vecsU(20 until 26))
    ops.IndexStore.appendUnified(spark, root, docsU(26 until 32), vecsU(26 until 32))
    root
  }

  /** The store's BM25 and ANN answers. */
  private def unifiedReads(root: String) = (
    ops.IndexStore.bm25FromStore(spark, root, Seq("betab", "gamma"))
      .orderBy($"score".desc, $"doc_id").collect().toSeq,
    ops.IndexStore.annFromStore(spark, root,
      Seq((100L, Seq(0.6, 0.8))).toDF("vec_id", "unit"), nprobe = 2, k = 5)
      .collect().map(_.toString).sorted.toSeq)

  /** Every `part-` file under `dir`, by path relative to it → bytes. */
  private def partFiles(dir: java.nio.file.Path): Map[String, Seq[Byte]] = {
    val walk = java.nio.file.Files.walk(dir)
    try walk.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.getFileName.toString.startsWith("part-"))
      .map(p => dir.relativize(p).toString ->
        java.nio.file.Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  private def describeFiles(root: String): Map[String, Long] =
    ops.IndexStore.describeStore(spark, root).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap

  test("compact byte-copies the channels already in contract layout and rewrites the rest") {
    val root = foldedUnified("compact-copy")
    val prior = ops.IndexStore.manifestAt(root, currentSnap(root))
    val filesBefore = describeFiles(root)
    val reads = unifiedReads(root)
    val (_, jobs) = jobsOf(ops.IndexStore.compact(spark, root))
    // 13 jobs when compaction rewrote every channel: each of the three
    // copied channels saves a schema inference and a write
    assert(jobs == 7, s"compact ran $jobs jobs")
    val snap = currentSnap(root)
    val m = ops.IndexStore.manifestAt(root, snap)
    assert(m.keySet == prior.keySet)
    // the census channels and the frozen centroids model are
    // single-path, single-file after every fold; the folded channels
    // carry three paths, so those are rewritten
    val copied = prior.keySet.filter(ch => prior(ch).paths.size == 1 &&
      partFiles(java.nio.file.Paths.get(root, prior(ch).paths.head)).size == 1)
    assert(copied == Set("stats", "vec_stats", "centroids"), copied.toString)
    for (ch <- copied) {
      val src = partFiles(java.nio.file.Paths.get(root, prior(ch).paths.head))
      assert(partFiles(java.nio.file.Paths.get(root, m(ch).paths.head)) == src,
        s"copied channel $ch is not byte-identical to its source")
    }
    for ((ch, ent) <- m) assert(ent.paths == Seq(s"$snap/$ch"), s"$ch: $ent")
    // compaction never spreads a channel over more files
    val filesAfter = describeFiles(root)
    for ((ch, n) <- filesAfter)
      assert(n <= filesBefore(ch), s"$ch: $n files after compact, ${filesBefore(ch)} before")
    assert(unifiedReads(root) == reads, "compact changed a BM25 or ANN answer")
  }

  test("a crash mid-compaction at a copied or a rewritten channel changes nothing; one retry lands") {
    val root = foldedUnified("compact-crash")
    val h = ops.IndexStore.history(root)
    val reads = unifiedReads(root)
    val rdds = spark.sparkContext.getPersistentRDDs.keySet
    // stats is copied, postings rewritten (see the test above)
    for (ch <- Seq("stats", "postings")) {
      ops.IndexStore.crashAfterChannel = Some(ch)
      val e = try intercept[RuntimeException] { ops.IndexStore.compact(spark, root) }
      finally ops.IndexStore.crashAfterChannel = None
      assert(e.getMessage == s"injected crash after channel $ch", e.getMessage)
      assert(ops.IndexStore.history(root) == h, s"a crash at $ch published")
      assert(unifiedReads(root) == reads, s"a crash at $ch changed a read")
      assert(spark.sparkContext.getPersistentRDDs.keySet == rdds,
        s"a crash at $ch stranded persisted RDD blocks")
    }
    ops.IndexStore.compact(spark, root)
    assert(ops.IndexStore.history(root) == h :+ currentSnap(root))
    assert(unifiedReads(root) == reads, "the retried compaction changed a read")
    assert(manifestChannels(root).values.forall(_.size == 1))
  }
}
