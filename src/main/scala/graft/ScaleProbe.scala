package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** N× scale probe (default 10×, sf≈1): synthesizes a larger dataset
  * from sf0.1 (key-offset copies; documents get per-copy tail
  * perturbations so they are NEAR-duplicates — the worst realistic
  * case for the dedup pipeline: every doc suddenly has N−1 near-twins)
  * and times the heavy queries. Spark-only smoke (no DuckDB compare) —
  * the question is whether the plans survive the scale-up and the
  * quadratic candidate-pair explosion, per the SCALE.md claims.
  * `SPARK_GRAFT_PROBE_COPIES=100` runs the 100× probe (sf≈10: 60M
  * lineitem rows, 500k docs each with 99 near-twins); pair raising it
  * with `SPARK_DRIVER_MEM` since the probe shares the forked JVM heap. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val src = "/root/testdata/sf0.1"
    val copies = sys.env.getOrElse("SPARK_GRAFT_PROBE_COPIES", "10").toInt
    val dst = s"/tmp/sfprobe_x$copies"
    val spark = Session.local(conf = Map(
      "spark.sql.warehouse.dir" -> s"$dst/warehouse",
      "spark.sql.shuffle.partitions" -> (if (copies > 10) "128" else "64")))
    import spark.implicits._

    def replicate(name: String, keyCols: Seq[String], textPerturb: Boolean = false): Unit = {
      val base = Core.table(spark, src, name)
      val out = (0 until copies).map { i =>
        val off = i.toLong * 10000000L
        var df = keyCols.foldLeft(base)((d, k) => d.withColumn(k, col(k) + off))
        if (textPerturb && i > 0)
          df = df.withColumn("text", concat(col("text"), lit(s" probe tail $i")))
        df
      }.reduce(_ unionByName _)
      out.write.mode(SaveMode.Overwrite).parquet(s"$dst/$name.parquet")
    }
    // the sentinel is a marker written AFTER the last table — keying
    // regen off the first-written table would treat a run interrupted
    // mid-replication as complete forever after
    val marker = new java.io.File(s"$dst/_PROBE_DATA_READY")
    val regen = !marker.exists()
    def replicateIf(name: String, keyCols: Seq[String], textPerturb: Boolean = false): Unit =
      if (regen) replicate(name, keyCols, textPerturb)
    replicateIf("lineitem", Seq("l_orderkey"))
    replicateIf("orders", Seq("o_orderkey", "o_custkey"))
    replicateIf("customer", Seq("c_custkey"))
    replicateIf("nation", Seq())
    replicateIf("supplier", Seq("s_suppkey"))
    replicateIf("documents", Seq("doc_id"), textPerturb = true)
    replicateIf("embeddings", Seq("vec_id"))
    replicateIf("events", Seq("event_id", "user_id"))
    // part/region keys are NOT offset in the fact copies (lineitem
    // keeps its original l_partkey), so these dims stay at 1× — each
    // part simply gains copies−1 extra sets of lineitems, preserving
    // referential integrity. Own existence check: they were added
    // after the marker protocol, so an existing probe dir may lack them.
    def copyOnceIf(name: String): Unit =
      if (!new java.io.File(s"$dst/$name.parquet").exists())
        Core.table(spark, src, name).write.mode(SaveMode.Overwrite)
          .parquet(s"$dst/$name.parquet")
    copyOnceIf("part")
    copyOnceIf("region")
    if (regen) marker.createNewFile()
    println("DATA READY")

    // COMPUTE-BOUND sentinel (VERDICT r11 next #4): a fixed decimal-
    // arithmetic microburst — 10⁷ generated rows × a 16-term decimal
    // fold, q123's exact-dot arithmetic class — with NO table scan and
    // NO shuffle, so it measures sustained CPU throughput and nothing
    // else. The q123 reconciliation proved the need: this host drifts
    // 1.7× in sustained-compute throughput between rounds while the
    // scan-bound q01 sentinel reads flat, so compute-bound probe lines
    // (q123/q132/q124) were previously uninterpretable across sessions
    // without forensic re-measurement. Emitted at session start and
    // end; compare the PAIR within a session (start ≈ end ⇒ stable
    // window) and the LEVEL across sessions (the per-session CPU
    // anchor every compute-bound line is read against). Runs in
    // PROBE_ONLY isolation too — it touches no cache a measurement
    // could inherit (pure codegen arithmetic). The session opens with
    // a SELF-STABILIZING series (the bench pre-sentinel's 10% rule,
    // bounded at 4 shots): shot 1 carries codegen/JIT warmup (measured
    // 1.5–2× the settled level) and the first 100× data-gen session
    // also measured a still-descending shot 2 — the LAST, stabilized
    // shot is the per-session CPU anchor cross-session comparisons
    // read; a window where even 4 shots never agree is itself the
    // evidence (sustained churn — read nothing compute-bound from it).
    def computeSentinel(tag: String): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 10000000L, 1, 32)
        .selectExpr("cast(id % 9973 as decimal(20,10)) as a")
        .selectExpr("""aggregate(sequence(1, 16),
            cast(0 as decimal(28,10)),
            (acc, i) -> cast(acc + a * i / 7 as decimal(28,10))) as v""")
        .agg(sum(col("v"))).head()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"PROBE compute_sentinel_$tag%-12s $sec%8.2f s")
      sec
    }
    val anchorStart = Bench.stabilized(4)(i => computeSentinel(s"start$i")).last

    // SCAN-BOUND sentinel (round 14): the compute anchor is blind to
    // IO/steal bursts on scan-bound lines — the first r14 session read
    // the q164 steady lookup at 74.4 s with CLEAN compute brackets
    // (4.9–6.1) while a same-code rerun landed 35.2 s in-band; the
    // session's only tell was a 166 s sentinel transient that the
    // one-reshot rule (then unceilinged) absorbed. This sentinel times
    // a FIXED column-decode scan over the probe lineitem table, so it
    // moves with exactly the axis the store lookups depend on:
    // page-cached scan + decode throughput. Each
    // measurement is now DOUBLE-BRACKETED — a line is `anchored` only
    // when BOTH the compute and the scan brackets agree within their
    // bands — with the same one-reshot transient rule. The shot decodes
    // two real columns (a decimal and a string) of the probe lineitem
    // table — a footer-only count() would measure nothing — costing
    // ~1–2 s at 100×; the pre shot is the previous line's post shot,
    // so the addition is one scan per measurement.
    def scanSentinel(tag: String): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(s"$dst/lineitem.parquet")
        .agg(sum(col("l_extendedprice")),
          sum(length(col("l_returnflag")))).head()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"PROBE scan_sentinel_$tag%-15s $sec%8.2f s")
      sec
    }
    val scanStart = Bench.stabilized(4)(i => scanSentinel(s"start$i")).last

    // ---- ANCHORED-WINDOW discipline (VERDICT r12 next #1: the bench
    // regime split, ported to the probe). Round 12's four steady-state
    // q164 readings spanned 31.4–57.0 s purely on anchor drift, and a
    // round-over-round compare against an unanchored quote misread a
    // host-wide level shift as a regression. So every probe line is now
    // BRACKETED: the compute sentinel is re-shot immediately after each
    // measurement, the line carries (anchor_pre, anchor_post), and a
    // line whose bracketing anchors disagree past AnchorBand is emitted
    // flagged `anchored=false` — evidence, excluded from
    // round-over-round comparison by `scripts/check.py --probe` exactly
    // as clean_sweep gates bench windows. One nuance from the bench
    // pre-sentinel lesson: the first post-shot after a heavy job can
    // carry one-shot cache/GC churn, so a disagreeing post-shot gets
    // ONE re-shot — agreement with the pre anchor reads as a settled
    // transient (use it), a second disagreement is the steal evidence
    // (flag it). Each line's post anchor is the next line's pre anchor,
    // so the whole session costs one sentinel per measurement. The band
    // is 1.3×: the r12 sessions' clean anchor pairs agreed within
    // ~1.15× while the contaminated session-E window drifted 2.2×.
    // Every line is ALSO appended as JSON to SPARK_GRAFT_PROBE_OUT
    // (default probe_x$copies.jsonl, append mode so a round's dedicated
    // PROBE_ONLY sessions accumulate one comparable artifact). ----
    val AnchorBand = 1.3
    // the scan shot is ~1–2 s (vs the 5–17 s compute shot), so its
    // relative noise is larger: 1.5× still trips on the 2–4× bursts
    // the r14 false-clean session carried
    val ScanBand = 1.5
    // re-shot forgiveness ceiling: a disagreeing first post-shot worse
    // than 4× the settled level is a stall, not a transient (measured
    // transients on this host read 1.5–3×; the r14 false-clean
    // session's read 27–33×)
    val TransientCeiling = 4.0
    var lastAnchor = anchorStart
    var lastScan = scanStart
    // whether the scan baseline we inherit came out of a bracket whose
    // own shots AGREED (ADVICE r14 #5) — the session-start shot is the
    // baseline by definition
    var lastScanTrusted = true
    var sentinelN = 0
    val probeOut = sys.env.getOrElse("SPARK_GRAFT_PROBE_OUT",
      s"probe_x$copies.jsonl")
    val jw = new java.io.PrintWriter(new java.io.BufferedWriter(
      new java.io.FileWriter(probeOut, true)))
    def jline(s: String): Unit = { jw.println(s); jw.flush() }
    // Env values are user-controlled free text: a double quote or
    // backslash interpolated raw would emit invalid JSON that
    // check.py --probe silently drops, so escape per RFC 8259.
    jline(s"""{"session":"start","copies":$copies,"anchor_start":$anchorStart,"pid":${ProcessHandle.current().pid()},"only":${Core.jsonStr(sys.env.getOrElse("SPARK_GRAFT_PROBE_ONLY", ""))}}""")
    val seenLabels = scala.collection.mutable.Map.empty[String, Int]
    def bracketed(label0: String, extra: String = "")(body: => Long): Unit = {
      val k = seenLabels.getOrElse(label0, 0) + 1
      seenLabels(label0) = k
      val label = if (k == 1) label0 else s"$label0#$k"
      val pre = lastAnchor
      val t0 = System.nanoTime()
      val n = body
      val sec = (System.nanoTime() - t0) / 1e9
      sentinelN += 1
      var post = computeSentinel(s"b$sentinelN")
      var computeOk = math.max(pre, post) / math.min(pre, post) <= AnchorBand
      var transient = -1.0
      if (!computeOk) {
        transient = post
        sentinelN += 1
        val again = computeSentinel(s"b$sentinelN")
        computeOk = math.max(pre, again) / math.min(pre, again) <= AnchorBand
        post = again
        // a settled re-shot forgives one-shot cache/GC churn (the r13
        // rule, measured 2–3× transients) but must NOT absolve an
        // EXTREME first shot: the r14 false q164 reading's post shot
        // read 166 s against a 5 s pre (33×) before settling — that is
        // a multi-minute stall overlapping the measurement, not churn,
        // and the line it brackets is evidence of a dirty window
        // whatever the re-shot says
        if (transient > TransientCeiling * math.max(pre, post))
          computeOk = false
      }
      lastAnchor = post
      // the SCAN bracket (round 14): ONE-SIDED, unlike the compute
      // bracket — an IO/steal burst only ever makes the scan shot
      // SLOWER (a faster post-shot is the page cache warming, not
      // contamination), and a sub-0.5 s absolute delta is scheduler
      // jitter that cannot explain tens of seconds on a measured
      // line. Same one-reshot transient rule.
      def scanAgree(a: Double, b: Double): Boolean =
        b <= ScanBand * a || b - a <= 0.5
      val spre = lastScan
      var spost = scanSentinel(s"b$sentinelN")
      var scanOwn = scanAgree(spre, spost)
      if (!scanOwn) {
        val transient0 = spost
        val again = scanSentinel(s"b${sentinelN}r")
        scanOwn = scanAgree(spre, again)
        spost = again
        // the same re-shot forgiveness ceiling as the compute axis: a
        // settled re-shot absolves a modest transient, never a stall —
        // an extreme first scan shot (>4× the settled level AND more
        // than the 0.5 s jitter floor above it) means sustained IO
        // pressure overlapped the measurement, whatever the re-shot
        // says (review r14: without this, the IO axis kept exactly
        // the false-clean hole the ceiling closed on the CPU axis)
        if (transient0 > TransientCeiling * math.max(spre, spost) &&
            transient0 - math.max(spre, spost) > 0.5)
          scanOwn = false
      }
      // the one-sided rule's residual hole (ADVICE r14 #5): when the
      // inherited PRE shot was itself burst-inflated (the previous
      // line's bracket disagreed), a fast post auto-passes while the
      // burst's tail may have overlapped THIS measurement's start — so
      // a line whose scan pre came out of a dirty bracket is SUSPECT
      // whatever its own shots say. Trust restores on the bracket's
      // own agreement: one dirty bracket costs exactly the next line,
      // never a cascade.
      val scanPreSuspect = !lastScanTrusted
      val scanOk = scanOwn && !scanPreSuspect
      lastScanTrusted = scanOwn
      lastScan = spost
      val anchored = computeOk && scanOk
      val transientJson =
        if (transient >= 0) f""","anchor_transient":$transient%.3f""" else ""
      val suspectJson =
        if (scanPreSuspect) ""","scan_pre_suspect":true""" else ""
      println(f"PROBE $label%-28s $sec%8.2f s rows=$n$extra " +
        f"anchors=$pre%.2f/$post%.2f scan=$spre%.2f/$spost%.2f " +
        f"anchored=$anchored")
      jline(f"""{"probe":"$label","sec":$sec%.3f,"rows":$n,"anchor_pre":$pre%.3f,"anchor_post":$post%.3f,"scan_pre":$spre%.3f,"scan_post":$spost%.3f,"compute_ok":$computeOk,"scan_ok":$scanOk$transientJson$suspectJson,"anchored":$anchored}""")
    }

    def time(q: String): Unit =
      bracketed(q) { SparkEntry.queries(q)(spark, dst).count() }
    // q35 (exact-pairwise kNN oracle, documented O(n²/50)) is
    // deliberately excluded — the scale paths are q34/q36/q37/q39
    // (q34 joined the probe in round 2 once its all-pairs label block
    // was replaced with banded signature buckets). Above 10× the two
    // output-/flop-bound baselines drop out too: q34's verified-pair
    // OUTPUT is quadratic in duplicate multiplicity (~25M pairs at
    // 100×) and q36 is the deliberate brute-force baseline (corpus ×
    // query dots with no pruning); q37/q39 carry the ANN story there.
    // q138 is in the same bounded-baseline class: an EXACT all-pairs
    // similarity join's candidate volume is Σ C(prefix-df, 2), and the
    // probe corpus maximizes it by construction (a 19k-shingle
    // vocabulary over 500k docs at 100× — avg prefix bucket 592, so
    // candidates hit 1.12B rows even after the positional filter's
    // 3.4× cut; measured via DuckDB, SCALE.md round-5 addendum). The
    // 100× scale path for twin-dense corpora is the LSH channel
    // (q31/q32, probed above at 100×); q138 exists for when
    // completeness is contractual, and is measured where the
    // exactness tax fits the box.
    val baselines =
      if (copies <= 10)
        Seq("q34_embedding_neardup", "q36_knn_fast", "q138_set_similarity_join")
      else Seq.empty
    // SPARK_GRAFT_PROBE_ONLY=q45_dedup_clusters,q47_corpus_curation
    // re-measures a subset while iterating on one operator
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY").map(_.split(",").toSet)
    // the dictionary-coded shingle sets are SESSION-SHARED state (five
    // verify consumers) — time the one-time corpus coding as its own
    // named warm line, like bench's warm_breakdown does, so the first
    // in-sweep consumer (q32) measures verify work only instead of
    // silently absorbing a ~58 s build at 100× (VERDICT r6 next #7)
    if (only.forall(_.contains("warm_codedSets"))) {
      bracketed("warm_codedSets") { ops.Dedup.codedSets(spark, dst).count() }
    }
    (Seq("q01_pricing_summary", "q03_join_revenue_by_nation", "q09_asof_join_event_order",
      "q31_minhash_lsh_pairs", "q32_ngram_jaccard", "q45_dedup_clusters",
      "q47_corpus_curation", "q61_decontamination") ++ baselines ++ Seq("q37_ann_lsh",
      "q39_ann_ivf",
      // q140: q39 from the persisted cid-partitioned cells — the
      // probed cells arrive as a partition filter; first run also
      // pays the once-per-JVM writeVectors
      "q140_ann_store", "q53_topk_custom_operator",
      // round-3 training-set assembly + incremental/semantic dedup —
      // q72's probe shape is adversarial: every vector has copies−1
      // exact twins, so its verified OUTPUT grows with duplicate
      // multiplicity like q34's (it stays in the list because the
      // candidate stage, not the output, is what the cells+bands must
      // keep bounded)
      "q68_ann_multiprobe", "q69_bpe_pair_stats", "q70_chunk_pack",
      "q71_incremental_dedup", "q72_semantic_dedup", "q73_corpus_shard",
      // round-3 wave 2: mixing/diagnostics/screen ops. q76 composes
      // curation (its CC stage dominates, tracked by q45/q47); q81's
      // bloom prunes before the anti-join shuffle; q79's window runs
      // over the per-source vocab, never the corpus
      "q74_domain_balanced_sample", "q75_heavy_hitters", "q76_training_pipeline",
      "q77_lm_quality", "q78_token_ids", "q79_zipf_slope",
      "q80_temperature_mix_sample", "q81_bloom_screen", "q82_epoch_upsample",
      "q83_token_windows",
      // round-4 wave 2: formats/novelty/budget/canonical/KL. q85 writes
      // the probe lineitem as ORC and re-reads it (IO-bound both ways);
      // q86 is q61's anti-join shape; q87/q89 are narrow passes +
      // bounded windows/groupBys. q88 is measured separately below:
      // count() alone would let the optimizer prune its whole
      // projection+window (neither changes cardinality) and time a
      // bare parquet count
      "q85_orc_roundtrip", "q86_ngram_novelty", "q87_token_budget_sample",
      "q89_domain_kl",
      // round-4 wave 3: subqueries decorrelate to the q05/q06 join
      // shapes (semi/anti on the natural key); q94 adds a second
      // aggregation pass over lineitem; q96's tf explode is the
      // token-volume stressor (df stays vocab-sized); q97 is a narrow
      // 21-group agg; q98 replicates the 2-column orders side 8×
      "q92_exists_subquery", "q93_not_exists_anti", "q94_scalar_subquery",
      "q95_moments", "q96_tfidf", "q97_length_histogram", "q98_salted_join",
      // q99's groups are domain-bounded (≤5 priorities/customer);
      // q101's grid stays 3.6k rows no matter the event volume.
      // (q100 is measured separately below — count() alone lets the
      // optimizer prune its windows, like q88's projection.)
      "q99_string_agg", "q101_resample_ffill",
      // round-4 wave 3: q106's lag window shuffles once on user_id and
      // its transition agg is type²-bounded; q107 is one equi-join +
      // union whose filters keep the join alive under count(). The
      // other four wave-3 queries are measured separately below — a
      // bare count() would prune their expensive agg/join expressions
      // (q88's lesson).
      "q106_markov_transitions", "q107_scd2_merge",
      // q109 is pair-output-bound by design (it audits every candidate
      // pair, 27M at 100× — same class as q34/q72); its signature side
      // rides the memoized band keys. q111's full-outer diff compares
      // scan-side md5 fingerprints, O(corpus) on the doc_id join.
      // q41 runs before q110 so the shared scoredDocs memo build (five
      // regexp scans of every doc) lands on its own line and q110
      // shows the incremental window+agg cost.
      "q109_sketch_quality", "q111_corpus_diff", "q41_quality_score",
      // round-4 wave 5: exact duplicated-span dedup. The probe corpus
      // is its adversarial case — every doc has copies−1 near-twins,
      // so nearly EVERY gram position repeats and the span coverage is
      // maximal; the gram-key window shuffle (O(corpus tokens), narrow
      // longs) and per-doc islands must stay flat per token
      "q112_duplicate_spans",
      // q114: the postings explode is q96's token-volume shuffle; the
      // query side stays ≤|q| broadcast rows, the top-20 is a
      // TakeOrdered over the doc-keyed score agg (count() can't prune
      // the agg: the limit needs the ordered scores)
      "q114_bm25",
      // q139: q114 answered from the persisted postings channel — the
      // pushed In(q-terms) filter must keep the lookup O(Σ df) via
      // row-group pruning while q114 re-aggregates the corpus; the
      // first run also pays the once-per-JVM writeText (reported
      // inside the timing here, separately in bench's warm phase)
      "q139_bm25_store",
      // q144: a 2-query batch served from ONE union-pruned postings
      // read (store already built by the q139 entry above); the rank
      // window is qid-partitioned over matched rows only
      "q144_bm25_batch_store",
      // q143: the versioned store's stats timeline — the first run
      // pays the once-per-JVM 3-fold ingest build (write + 2 appends,
      // reported inside the timing here, separately in bench's warm
      // phase); the second-run block below times the pure read
      "q143_store_time_travel",
      // q115: both retrieval channels are bounded TakeOrdereds (the
      // rank windows see only the retrieved 100 rows); the semantic
      // side is one broadcast-1-vector dot pass over the corpus
      "q115_hybrid_rrf",
      // q142: q115 served from the persisted channels only — lexical
      // from the term-pruned postings read, semantic from the
      // nprobe-pruned cells read (both stores already built by the
      // q139/q140 entries above, so this times the pure fused lookup)
      "q142_hybrid_store",
      // q145: the qid-keyed batch composition of q144 + the batched
      // IVF probe — two index reads serve the whole batch; stores
      // already built above, so this times the fused batch lookup
      "q145_hybrid_batch_store",
      // q160: q145 with the semantic arm on the projected channels —
      // same two-reads-serve-N shape, the coarse read at half the
      // exact bytes plus the exact_vecs rerank stream
      "q160_hybrid_projected_batch",
      // q153: q142's answer from the UNIFIED store — first run pays
      // the once-per-JVM 3-fold paired ingest (reported inside the
      // timing here, separately in bench's warm phase); the
      // unified_store/unified_lookup sections measure the dedicated-
      // session builds and per-family halves
      "q153_hybrid_unified_store",
      // q164: q160's projected-arm batch hybrid off the UNIFIED store
      // — one manifest resolution feeds the union-pruned postings
      // read, the coarse proj_units read and the exact_vecs rerank;
      // the store (incl. append-maintained proj channels) is the q153
      // fixture, so this times the pure single-pointer batch lookup
      "q164_hybrid_projected_unified",
      // q146: two map-side-combined aggs over one token pass + a
      // 256-row broadcast model + TakeOrdered selection — count()
      // cannot prune the scoring (the limit needs the ordered weights)
      "q146_dsir_selection",
      // q148: degree-ordered wedge join + (v,w) semi-join closure over
      // the mean-thresholded co-occurrence graph; output rows (nodes
      // that close a triangle) depend on every join, nothing prunable
      "q148_cooccur_triangles",
      // q155: the coarse 32-d projected-dot pass over the corpus +
      // exact rerank of |q|×100 candidates — the top-5 needs both
      // passes; first run pays the memoized projection build
      "q155_knn_projected",
      // q159: q155 answered from the store's proj_units/exact_vecs
      // channels — the vector store (incl. projections) was already
      // built by the q140 entry above, so this times the pure
      // store-fed coarse read + fine rerank; the projected_store
      // section below isolates the coarse-feed A/B
      "q159_knn_projected_store",
      // q116: 10 fixed iterations over the checkpointed degree-joined
      // edge list (partitioned by src once — only the small rank side
      // reshuffles per round) + an O(edges) narrow-long contrib
      // groupBy; same per-round shape as CC but with a FIXED round
      // count, so cost is 10 × one edge aggregation
      "q116_pagerank",
      // q117: row-local gram codegen + per-doc sort window (q112's
      // exchange class) + a (doc, wk) decimal equi-join back; output
      // is the ~2/(W+1)-density fingerprint stream
      "q117_winnow_fingerprints",
      // q119: vocab/vocab²-bounded groupBys over the memoized bigram
      // explode + one 1-row broadcast; the top-50 is a TakeOrdered
      "q119_pmi_collocations",
      // q120: one global range sort of (snk, doc_id) keys (text left
      // behind), W−1 lead() candidates per row, shingle-set verify
      // joins bounded by W·n candidate pairs
      "q120_sorted_neighborhood",
      // q121: rides the memoized lmScores frame; the ntile is the one
      // global O(n log n) window over narrow (score, id) rows
      "q121_lm_filter_buckets",
      // q122: rides scoredDocs; one global ntile + per-stage windows,
      // all over narrow (score, id) rows
      "q122_curriculum_order",
      // q123: q35's broadcast-anchor exact-dot shape with the label
      // filter fused into the join — corpus streams once, anchors
      // bounded at 1024. Like q35 it is the ORACLE-EXACT baseline
      // (decimal dot over every anchor×corpus pair): cost is the
      // documented exactness tax; q132 is the same semantics down the
      // IVF route — O(anchors × probed-cell occupancy)
      "q123_hard_negatives", "q132_hard_negatives_ivf",
      // q124: per round, one pair-count partial agg + 1-row broadcast
      // + per-doc windows; the token stream shuffles once per round
      // on doc_id (two ckpt materializations/round bound the plan)
      "q124_bpe_merge_apply",
      // q125/q126: per-user session windows + bounded-state aggs over
      // the 10M-event stream; retention is two partial aggs
      "q125_session_sequences", "q126_retention_cohorts",
      // q127: both blocking channels output-bounded, verify joins
      // shuffle candidate ids + shingle sets, CC contraction, one
      // survivorship window over narrow rows
      "q127_entity_resolution",
      // q128: fingerprint is two partial aggs over doc × 15 digit
      // rows; block-join fan-out is Σ occupancy² over 4 × 2^15
      // buckets; verify is one integer op per candidate
      "q128_simhash_join",
      // q141: q128's pigeonhole machinery over byte-shingle payload
      // fingerprints — same Σ occupancy² block-join class, fingerprint
      // is row-local codegen over the binary column
      "q141_multimodal_neardup",
      // q133: q32's exact shape with two divisions — candidates from
      // the memoized LSH pairs, shingle sets joined as arrays
      "q133_containment",
      // q129 rides the memoized cluster labels (first consumer pays
      // CC); q130 joins the bounded pair list to (doc, source).
      // q131 is in the timeForced list below — a bare count() lets
      // the optimizer eliminate its scrub join entirely.
      "q129_dedup_report", "q130_cross_source_dups"))
      .filter(q => only.forall(_.contains(q))).foreach(time)
    // q139/q140 second runs in the same JVM: the once-per-JVM store
    // writes are paid by the listed runs above, so these time the PURE
    // store-fed lookups — the steady-state cost a deployment sees per
    // query
    for (q <- Seq("q139_bm25_store", "q140_ann_store",
           "q144_bm25_batch_store", "q143_store_time_travel",
           // q164's first run pays the once-per-JVM serving-clone
           // publish (cloneStoreAt over every unified channel — a full
           // rewrite at probe scale); this second run is the
           // steady-state single-pointer batch lookup a deployment sees
           "q164_hybrid_projected_unified")
         if only.forall(_.contains(q))) {
      bracketed(q, extra = " (lookup)") {
        SparkEntry.queries(q)(spark, dst).count()
      }
    }
    // wave-3 queries whose cost lives in agg expressions / join sides
    // that a bare count() lets the optimizer elide: aggregate over the
    // computed columns so the measured plan is the real one.
    // q102 rides the memoized cluster labels (q45's CC run pays the
    // build; this measures the gate + doc join + report).
    def timeForced(q: String, cols: (String, String)): Unit =
      if (only.forall(_.contains(q))) {
        bracketed(q) {
          SparkEntry.queries(q)(spark, dst)
            .agg(count(col(cols._1)), sum(col(cols._2))).head().getLong(0)
        }
      }
    timeForced("q102_cluster_safe_split", ("n_docs", "n_clusters"))
    timeForced("q103_event_funnel", ("n_converted", "avg_delay_sec"))
    timeForced("q104_inverted_index", ("postings_head", "n_blocks"))
    timeForced("q105_mad_outliers", ("n_outliers", "mad"))
    timeForced("q108_split_contamination", ("n_pairs", "n_cross"))
    timeForced("q110_adaptive_quality_gate", ("n_kept", "cut_score"))
    // count(clean_md5) forces the per-doc ordered rejoin + md5 witness
    // (the collect_list aggregate a bare count() would prune)
    timeForced("q113_span_scrub", ("clean_md5", "n_removed"))
    timeForced("q131_decontaminate_scrub", ("clean_md5", "n_removed"))
    // round-8 selection/governance family: these emit one row per doc
    // / source / version with COMPUTED score columns and no
    // score-dependent filter, so a bare count() would prune the
    // scoring pass (q88's lesson) — aggregate over the score column
    timeForced("q147_quality_classifier", ("pred_curated", "nb_score"))
    timeForced("q149_psi_drift", ("source", "psi_nchars"))
    timeForced("q150_cdc_chunks", ("source", "dedup_ratio"))
    timeForced("q151_kneser_ney", ("doc_id", "kn_logp"))
    // q152 walks the governed store's census timeline — first run
    // pays the once-per-JVM 3-fold governed ingest (q143's pattern)
    timeForced("q152_drift_timeline", ("source", "psi_nchars"))
    timeForced("q154_random_projection", ("vec_id", "proj"))
    // q156 rides the same memoized governed store as q152
    timeForced("q156_drift_gate_report", ("source", "psi_nchars"))
    // q157 rides the memoized UNIFIED store (built by q153's entry):
    // the drift timeline must stay a census walk — corpus-free — on
    // the single-pointer store exactly as q152 is on the dedup store
    timeForced("q157_unified_drift_timeline", ("source", "psi_nchars"))
    // q158's first run pays the once-per-JVM gated-hold ingest
    // (governed write of the even half + ONE screenAndFoldGated fold
    // of the odd half with a drifting re-sourced slice)
    timeForced("q158_gated_hold_census", ("source", "psi_nchars"))
    // q161/q162 ride the two-fold gated UNIFIED store (round 10 —
    // q161's first run pays its bootstrap + both gated pair-folds);
    // the timeline walk must stay corpus-free like q152/q157's
    timeForced("q161_unified_gate_census", ("source", "psi_nchars"))
    timeForced("q162_gate_recovery_timeline", ("source", "psi_nchars"))
    // q163 rides the memoized governed store (q152's fixture): the
    // two-feature batch gate must stay census-read + batch-local aggs
    // — the probe batch is the only corpus-text touch, O(|batch|)
    timeForced("q163_content_shift_gate", ("n_docs", "psi_max"))
    // q165 walks the gated unified store's media-inclusive timeline —
    // per version one pruned doc_lens id read + one block-count agg,
    // never a payload byte (rides the q161/q162 fixture)
    timeForced("q165_unified_media_timeline", ("version", "n_media_rows"))
    // q166 is q163's read-only gate shape on the alphabet marginal —
    // census read + O(batch) bins, the probe batch the only text touch
    timeForced("q166_alphabet_shift_gate", ("n_docs", "psi_max"))
    // q167 is the same gate shape on the token-identity marginal: the
    // batch side explodes the probe's tokens (O(batch tokens) md5s),
    // the anchor side is the stored census — still corpus-free
    timeForced("q167_vocab_shift_gate", ("n_docs", "psi_max"))
    // q168 is the census-FREE order screen: both the observed and the
    // null distribution come from the probe batch itself (no store
    // read at all), so the cost is O(batch tokens) md5s ×2 + a 64-bin
    // grid — the gate family's cheapest member by construction
    timeForced("q168_word_order_gate", ("n_toks", "psi_order"))
    // q169 walks the re-anchor cycle's 4-version timeline — the first
    // run pays the once-per-JVM fixture ingest (governed bootstrap +
    // gated hold fold + reanchorCensus commit + recovered fold, all
    // md5-text); the walk itself is census reads only, q152's class
    timeForced("q169_census_reanchor_timeline", ("source", "psi_nchars"))
    // q170 reads the order-gate store's final census — the first run
    // pays the once-per-JVM orderGateStore fixture (src0-only unified
    // bootstrap + ONE gated fold with the order screen on, so the
    // gate tick itself is q168's two-token-pass class over the probe
    // batch); the read is the q152 census class
    timeForced("q170_order_gate_census", ("source", "psi_nchars"))
    if (only.forall(_.contains("q88_canonical_dedup"))) {
      // force the normalizer + keeper window: aggregate over BOTH
      // computed columns so column pruning can't elide them
      bracketed("q88_canonical_dedup") {
        SparkEntry.queries("q88_canonical_dedup")(spark, dst)
          .agg(sum(col("keep")), count(col("canon_md5"))).head().getLong(1)
      }
    }
    if (only.forall(_.contains("q100_rank_fractions"))) {
      // aggregate over the window outputs so the per-priority sorts
      // (the actual cost: 100× more rows per window task) can't be
      // pruned away by a bare count()
      bracketed("q100_rank_fractions") {
        SparkEntry.queries("q100_rank_fractions")(spark, dst)
          .agg(sum(col("pr")), count(col("second_key"))).head().getLong(1)
      }
    }
    // md5 (oracle-parity) vs xxhash64 (production) base hash for the
    // LSH band keys — quantifies what the DuckDB oracle costs q31 at
    // scale; both builds are cold (memoized per key, first use here)
    if (only.forall(_.contains("lsh_fast"))) {
      bracketed("lsh_fast_xxhash64") {
        ops.Dedup.lshPairsFast(spark, dst).count()
      }
    }

    def timeNamed(label: String)(body: => Long): Unit =
      bracketed(label)(body)

    // shared md5 doc_id gate for the store sections' corpus/batch
    // slicing (one definition — the slicing scheme must stay
    // consistent across every probe block)
    def gate(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c.cast("string")), 1, 4), 16, 10).cast("long")
    def rmRf(f: java.io.File): Unit = ops.IndexStore.deleteRec(f)

    // exact-median A/B: the q105 window plan's parallelism is bounded
    // by the 5 priority groups; the selection path range-partitions
    // each group's sorted order across the cluster (OpsSpec pins
    // output equality)
    if (only.forall(_.contains("mad_scalable"))) {
      timeNamed("mad_scalable") {
        val r = ops.Functions.madOutliersScalable(spark, dst)
          .agg(count(col("n_outliers")), sum(col("mad"))).head()
        r.getLong(0)
      }
    }

    // round-5 de-weak A/Bs — each scalable spelling vs its window
    // anchor (the anchor numbers come from the catalog entries above:
    // q120 now RUNS snPairs, so sn_window_ref is the old baseline;
    // q121/q122/q116 still run the anchor spellings)
    if (only.forall(_.contains("sn_window_ref"))) {
      timeNamed("sn_window_ref") {
        ops.Dedup.snCandidatesWindowRef(spark, dst).count()
      }
    }
    if (only.forall(_.contains("sn_pairs_scalable"))) {
      timeNamed("sn_pairs_scalable") {
        ops.Dedup.snPairs(ops.Dedup.snKeyed(spark, dst), 3).count()
      }
    }
    if (only.forall(_.contains("rank_fractions_scalable"))) {
      timeNamed("rank_fractions_scalable") {
        // same forced aggregation as the q100 probe entry, so the A/B
        // compares identical work
        val r = ops.Relational.rankFractionsScalable(spark, dst)
          .agg(sum(col("pr")).as("sp"), count(col("second_key")).as("ck")).head()
        r.getLong(1)
      }
    }
    if (only.forall(_.contains("lm_buckets_scalable"))) {
      timeNamed("lm_buckets_scalable") {
        // aggregate the computed column: a bare count() would prune
        // the bucket assignment entirely (q88's lesson)
        ops.TextOps.lmBucketsScalable(spark, dst)
          .agg(sum(col("keep"))).head().getLong(0)
      }
    }
    if (only.forall(_.contains("curriculum_scalable"))) {
      timeNamed("curriculum_scalable") {
        val r = ops.Training.curriculumOrderScalable(spark, dst)
          .agg(max(col("pos")).as("mp"), sum(col("stage")).as("ss")).head()
        r.getLong(1)
      }
    }
    // ---- EXPLICIT-ONLY tail sections (run via SPARK_GRAFT_PROBE_ONLY,
    // never in the unfiltered sweep): each was measured in its own
    // dedicated session in rounds 3–5 and the numbers stand in
    // SCALE.md. Running them after the full 85-probe sweep OOM'd the
    // shared 28-minute session (round 6: heap death inside
    // pagerank_shuffle from accumulated checkpoint blocks) — and a
    // same-session A/B after 85 unrelated probes isn't a clean
    // measurement anyway. `exists` (vs the sweep's `forall`) makes
    // them opt-in. ----
    // q116's above-broadcast-bound arm: edges partitioned by SRC, the
    // n-row rank frame shuffles onto them each round (the gate flips
    // here past PrBroadcastMaxDocs docs; forced for the measurement)
    if (only.exists(_.contains("pagerank_shuffle"))) {
      timeNamed("pagerank_shuffle") {
        ops.Dedup.pagerank(spark, dst, forceShuffle = true).count()
      }
    }
    // store-fed pair reports (r4 verdict #5): q133/q129 cold-session
    // cost paid the full lshPairs build (242.8 / 123.8 s at 100×);
    // here the candidate pairs come from the persisted band index —
    // write once per snapshot, report from artifacts. Run with
    // cleared memos so the numbers are genuinely store-decoupled.
    if (only.exists(o => o.contains("containment_store") || o.contains("report_store"))) {
      val idxDir = s"$dst/index_store_corpus"
      timeNamed("store_corpus_write") {
        val docs = Core.table(spark, dst, "documents")
        ops.IndexStore.write(spark, docs, idxDir); docs.count()
      }
      Core.clearCaches(spark)
      if (only.forall(_.contains("containment_store"))) {
        timeNamed("containment_store") {
          ops.IndexStore.containmentFromStore(spark, dst, idxDir).count()
        }
      }
      if (only.forall(_.contains("report_store"))) {
        timeNamed("report_store") {
          ops.IndexStore.reportFromStore(spark, dst, idxDir)
            .agg(sum(col("docs_covered"))).head().getLong(0)
        }
      }
    }
    // JL projection A/B (round 8): the relational (oracle) spelling —
    // posexplode(d) → sign-grid broadcast join (×k) → partial-agged
    // groupBy — pays n×d×k pre-agg rows and an O(n×k) exchange for
    // row-local arithmetic; RademacherProject is the same math as one
    // fused d×k loop per row inside whole-stage codegen. Both sides
    // produce the identical (vec_id, j, p) relation (PlanSpec pins
    // sign-for-sign + ulp agreement); this measures what the
    // expression buys at 100×.
    if (only.exists(_.contains("projection_ab"))) {
      graft.functions.RademacherProject.register(spark)
      val emb = Core.table(spark, dst, "embeddings")
      timeNamed("projection_relational") {
        val grid = spark.range(16).select(col("id").as("j"))
          .crossJoin(spark.range(64).select(col("id").as("i")))
          .select(col("j"), col("i"),
            ((conv(substring(md5(concat_ws("_", col("i"), col("j"))), 1, 4), 16, 10)
              .cast("long") % 2) * 2 - 1).cast("double").as("sgn"))
        emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
          .join(broadcast(grid), Seq("i"))
          .groupBy(col("vec_id"), col("j"))
          .agg(sum((col("sgn") * col("x").cast("double"))
            .cast(org.apache.spark.sql.types.DecimalType(30, 15))).as("acc"))
          .select(col("vec_id"), col("j"),
            (col("acc").cast("double") / 4.0).as("p"))
          .agg(count(col("p")), sum(col("p"))).head().getLong(0)
      }
      timeNamed("projection_codegen") {
        emb.select(col("vec_id"),
            posexplode(graft.functions.RademacherProject.project(
              col("embedding"), 16)).as(Seq("j", "p")))
          .agg(count(col("p")), sum(col("p"))).head().getLong(0)
      }
    }
    // per-stage attribution for q127 entity resolution (VERDICT r8
    // next #5): name where the warm-session ER time goes. Stages are
    // materialized via localCheckpoint so each line times ONE stage:
    // candidate union+distinct (both blocking channels), the
    // exact-Jaccard verify join (the ~27M-pair coded-set shuffle — the
    // corpus is 99-twin-dense by construction, so this is the
    // documented output-bound wall), CC contraction, and the full
    // query for reference (its plan re-runs the stages unfused, so
    // full ≈ sum of stages + survivorship window).
    if (only.exists(_.contains("q127_stages"))) {
      val docs = Core.table(spark, dst, "documents")
      graft.functions.SortedIntersectCount.register(spark)
      val sets = ops.Dedup.codedSets(spark, dst)
      var allcCk: org.apache.spark.sql.DataFrame = null
      timeNamed("q127_stage_candidates") {
        allcCk = ops.Dedup.lshPairs(spark, dst).select(col("id_a"), col("id_b"))
          .unionByName(ops.Dedup.snCandidates(spark, dst))
          .select(least(col("id_a"), col("id_b")).as("id_a"),
            greatest(col("id_a"), col("id_b")).as("id_b"))
          .distinct()
          .localCheckpoint()
        allcCk.count()
      }
      var edgesCk: org.apache.spark.sql.DataFrame = null
      timeNamed("q127_stage_verify") {
        edgesCk = allcCk
          .join(sets.select(col("doc_id").as("id_a"), col("ws").as("wsa")), Seq("id_a"))
          .join(sets.select(col("doc_id").as("id_b"), col("ws").as("wsb")), Seq("id_b"))
          .withColumn("c", graft.functions.SortedIntersectCount
            .sorted_intersect_count(col("wsa"), col("wsb")))
          .filter(col("c").cast("double") /
            (size(col("wsa")) + size(col("wsb")) - col("c")) >= 0.5)
          .select(col("id_a"), col("id_b"))
          .localCheckpoint()
        edgesCk.count()
      }
      timeNamed("q127_stage_cc") {
        ops.Dedup.connectedComponents(docs.select(col("doc_id")), edgesCk).count()
      }
      timeNamed("q127_full_warm") {
        SparkEntry.queries("q127_entity_resolution")(spark, dst).count()
      }
    }
    // projected-ANN store channel (round 9, VERDICT r8 next #7/#8):
    // the serving claim — a cold session's coarse feed from the stored
    // proj_units channel (32-d parquet read, zero projection flops)
    // stays flat vs the session route's corpus-wide work (64-d read +
    // fused d×k RademacherProject + normalize + cache). The fine stage
    // is |q|×kCand rows either way; q159 ≡ q155 bit-identity is
    // spec-pinned at sf0.01 (VectorIndexSpec).
    if (only.exists(_.contains("projected_store"))) {
      val idxDir = s"$dst/index_store_projected"
      rmRf(new java.io.File(idxDir))
      timeNamed("projected_store_write") {
        ops.IndexStore.writeProjections(spark, idxDir,
          ops.Similarity.projectedUnits(spark, dst),
          ops.Similarity.exactVecs(spark, dst))
        1L
      }
      // cold-session conditions for the A/B: drop the memoized frames
      // so each side pays its real first-answer cost
      Core.clearCaches(spark)
      timeNamed("projected_coarse_session") {
        ops.Similarity.projectedUnits(spark, dst).count()
      }
      Core.clearCaches(spark)
      timeNamed("projected_coarse_store") {
        ops.IndexStore.channel(spark, idxDir, "proj_units").count()
      }
      val queries = ops.Similarity.queryBatch(spark, dst,
        Core.table(spark, dst, "embeddings"))
        .select(col("vec_id"), col("embedding"))
      timeNamed("projected_ann_store_lookup") {
        ops.IndexStore.projectedAnnFromStore(spark, idxDir, queries).count()
      }
      // reprojectVectors at probe scale (round 16, VERDICT r15 #2):
      // the lifecycle op is an O(corpus) compaction-class rewrite —
      // one exact_vecs read + row-local re-projection at the new
      // width + two channel writes — so its cost should track
      // projected_store_write (the bootstrap's write of the same
      // channels), not the lookup path; the post-reproject lookup
      // must serve the NEW width off the committed store immediately
      timeNamed("projected_reproject_k16") {
        ops.IndexStore.reprojectVectors(spark, idxDir, 16)
        1L
      }
      timeNamed("projected_lookup_post_reproject") {
        ops.IndexStore.projectedAnnFromStore(spark, idxDir, queries).count()
      }
      val rk = ops.IndexStore.channel(spark, idxDir, "proj_stats")
        .head().getAs[Int]("k")
      require(rk == 16, s"reproject identity must read k=16, got $rk")
    }
    // append-MAINTAINED projected channels at scale (round 10, VERDICT
    // r9 #1): the claim — folding a batch into a proj-carrying store
    // costs O(batch) on the projected side (project + normalize the
    // batch with the STORED identity, two delta writes, a 1-row census
    // merge, all inside the same snapshot transaction as the cells
    // delta), where the write-once alternative forces an O(corpus)
    // writeProjections re-run after EVERY vector fold; and the
    // maintained store serves the projected lookup immediately — the
    // coverage gate (proj_stats.n_vecs vs vec_stats.n_vecs, two 1-row
    // reads) stays in lockstep, so nothing is refused and nothing is
    // silently stale.
    if (only.exists(_.contains("projected_append"))) {
      val idxDir = s"$dst/index_store_projappend"
      val bareDir = s"$dst/index_store_projappend_bare"
      rmRf(new java.io.File(idxDir)); rmRf(new java.io.File(bareDir))
      val vecs = ops.Similarity.normalized(spark, dst)
      val cents = ops.Similarity.ivfCentroids(spark, dst)
      val raw = Core.table(spark, dst, "embeddings")
      val gv = gate(col("vec_id"))
      // CONTROL: the same bootstrap + fold on a bare IVF store (no
      // projected channels) — the pre-existing fold cost, so the
      // projected maintenance INCREMENT is (maintained − bare), not
      // the whole fold
      timeNamed("projappend_bare_bootstrap") {
        ops.IndexStore.writeVectors(spark, vecs.filter(gv < 58982L), cents, bareDir)
        1L
      }
      timeNamed("projappend_bare_fold") {
        graft.streaming.StreamingOps.ingestAndMaintainVectors(spark, bareDir,
          vecs.filter(gv >= 58982L))
        1L
      }
      timeNamed("projappend_bootstrap_90pct") {
        ops.IndexStore.writeVectors(spark, vecs.filter(gv < 58982L), cents, idxDir)
        ops.IndexStore.writeProjections(spark, idxDir,
          ops.Similarity.projectedUnitsOf(raw.filter(gv < 58982L), 32),
          ops.Similarity.exactVecsOf(raw.filter(gv < 58982L)))
        1L
      }
      // the O(batch) maintained fold: the remaining ~10% with raw
      // embeddings threaded through the ingest loop (both arms, one
      // snapshot transaction)
      timeNamed("projappend_fold_10pct") {
        graft.streaming.StreamingOps.ingestAndMaintainVectors(spark, idxDir,
          vecs.filter(gv >= 58982L), raw = Some(raw.filter(gv >= 58982L)))
        1L
      }
      // the alternative a write-once channel forces after EVERY fold:
      // re-project the WHOLE corpus (grows with corpus, not batch)
      timeNamed("projappend_rewrite_corpus") {
        ops.IndexStore.writeProjections(spark, idxDir,
          ops.Similarity.projectedUnitsOf(raw, 32),
          ops.Similarity.exactVecsOf(raw))
        1L
      }
      val pq = ops.Similarity.queryBatch(spark, dst, raw)
        .select(col("vec_id"), col("embedding"))
      timeNamed("projappend_lookup") {
        ops.IndexStore.projectedAnnFromStore(spark, idxDir, pq).count()
      }
    }
    // governed UNIFIED fold at scale (round 9): the circuit breaker on
    // the single-pointer store — gate verdict must stay O(census +
    // batch-bins agg) while the fold is the usual O(batch) pair
    // append; the held source's docs AND vectors never land.
    if (only.exists(_.contains("unified_governed"))) {
      val idxDir = s"$dst/index_store_unified_gov"
      rmRf(new java.io.File(idxDir))
      val docs = Core.table(spark, dst, "documents")
        .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
      val vecs = ops.Similarity.normalized(spark, dst)
      val cents = ops.Similarity.ivfCentroids(spark, dst)
      val g = gate(col("doc_id"))
      val gv = gate(col("vec_id"))
      timeNamed("unified_gov_write") {
        ops.IndexStore.writeUnified(spark, docs.filter(g < 32768L),
          vecs.filter(gv < 32768L), cents, idxDir, governed = true)
        1L
      }
      // one gated tick: a clean quarter of the corpus + a drifted
      // re-sourced quarter (+480 chars) in the same pair
      val tick = docs.filter(g >= 32768L && g < 49152L)
        .unionByName(docs.filter(g >= 49152L)
          .select(col("doc_id"), col("text"),
            lit("probe_shift").as("source"),
            (col("n_chars") + 480).as("n_chars")))
      val tickVecs = vecs.filter(gv >= 32768L)
      timeNamed("unified_gov_gate_only") {
        ops.IndexStore.batchDriftVsStore(spark, idxDir, tick, "src0").count()
      }
      timeNamed("unified_gov_gated_fold") {
        val rep = graft.streaming.StreamingOps.ingestAndMaintainUnifiedGoverned(
          spark, idxDir, tick, tickVecs, "src0")
        rep.filter(col("held")).count()
      }
      println(s"PROBE unified_gov_census_srcs        " +
        ops.IndexStore.channel(spark, idxDir, "mix_census")
          .select(col("source")).distinct().count())
    }
    // VERDICT r14 next #6: the SIXTH loop — the governed unified
    // stream WITH payloads run past maxSnapshots with in-loop
    // compaction + immediate vacuum, at scale. Own store root and
    // labels (the unified_gov_* lines above stay work-identical for
    // the cross-round compare). Claims under test: (1) the reclaim
    // collapses the read fan-out (file census before/after), (2) the
    // three-family reads answer bit-unchanged from the reclaimed
    // store (count parity printed; bit-level pinned in StreamingSpec),
    // (3) a reclaimed version refuses by name.
    if (only.exists(_.contains("unified_vacuum"))) {
      val idxDir = s"$dst/index_store_unified_vac"
      rmRf(new java.io.File(idxDir))
      val docs = Core.table(spark, dst, "documents")
        .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
      val pays = Core.table(spark, dst, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      val vecs = ops.Similarity.normalized(spark, dst)
      val cents = ops.Similarity.ivfCentroids(spark, dst)
      val g = gate(col("doc_id"))
      val gv = gate(col("vec_id"))
      timeNamed("unified_vac_write") {
        ops.IndexStore.writeUnified(spark, docs.filter(g < 16384L),
          vecs.filter(gv < 16384L), cents, idxDir, governed = true,
          payloads = Some(pays.filter(g < 16384L)))
        1L
      }
      spark.conf.set("graft.store.maxSnapshots", "3")
      spark.conf.set("graft.store.vacuumOnCompact", "true")
      spark.conf.set("graft.store.vacuumRetain", "2")
      try {
        def dataFiles(f: java.io.File): Long =
          if (f.isFile) { if (!f.getName.startsWith("_") &&
            !f.getName.startsWith(".") && !f.getName.endsWith(".crc")) 1L
            else 0L }
          else Option(f.listFiles()).getOrElse(Array.empty).map(dataFiles).sum
        val preHist = scala.collection.mutable.ListBuffer.empty[String]
        // six payload-carrying gated ticks of 8192 gate-units each —
        // the compaction gate fires mid-loop (4th referenced snapshot)
        // and the vacuum reclaims immediately with 2 versions retained
        timeNamed("unified_vac_ticks6") {
          for (i <- 0 until 6) {
            val lo = 16384L + i * 8192L; val hi = lo + 8192L
            preHist ++= ops.IndexStore.history(idxDir)
            graft.streaming.StreamingOps.ingestAndMaintainUnifiedGoverned(
              spark, idxDir, docs.filter(g >= lo && g < hi),
              vecs.filter(gv >= lo && gv < hi), "src0", maxPsi = 5.0,
              payloads = Some(pays.filter(g >= lo && g < hi))).count()
          }
          1L
        }
        val live = ops.IndexStore.history(idxDir).toSet
        val dropped = preHist.toSet -- live
        println(s"PROBE unified_vac_reclaimed          " +
          s"versions=${dropped.size} live=${live.size} " +
          s"files=${dataFiles(new java.io.File(idxDir))}")
        val qterms = ops.TextOps.qtermsOf(spark, dst)
        val qb = ops.Similarity.queryBatch(spark, dst, vecs)
        Core.clearCaches(spark)
        timeNamed("unified_vac_pair_read") {
          val (lex, ann) = ops.IndexStore.retrievalFromUnified(spark,
            idxDir, qterms, qb, nprobe = 4, k = 100)
          lex.count() + ann.count()
        }
        timeNamed("unified_vac_drift_read") {
          ops.IndexStore.driftFromStore(spark, idxDir, "src0").count()
        }
        // a reclaimed version refuses BY NAME, at scale too
        dropped.headOption.foreach { gone =>
          val refused =
            try { ops.IndexStore.channelAt(spark, idxDir, gone,
              "mix_census").count(); "NOT-REFUSED" }
            catch { case e: IllegalStateException =>
              if (e.getMessage.contains(gone)) "by-name" else "anonymous" }
          println(s"PROBE unified_vac_dropped_refusal    $refused")
        }
      } finally {
        spark.conf.unset("graft.store.maxSnapshots")
        spark.conf.unset("graft.store.vacuumOnCompact")
        spark.conf.unset("graft.store.vacuumRetain")
      }
    }
    // unified store at scale (round 8): build the text + vector
    // families as ONE rolling store (writeUnified + 3 appendUnified
    // paired folds — the ingest loop's shape), then time the paired
    // hybrid read (one manifest resolution feeding both sides) and
    // the channel-generic compaction over the union. The claim under
    // test: unification costs nothing at read time — the per-family
    // lookups are the shared bm25From/annFrom routes, so the pair
    // read should track the split stores' steady-state lookups
    // (BM25 ~3.5 s + ANN ~3 s at 100×) while answering from ONE
    // committed version by construction.
    if (only.exists(_.contains("unified_store"))) {
      val idxDir = s"$dst/index_store_unified"
      rmRf(new java.io.File(idxDir))
      val docs = Core.table(spark, dst, "documents")
      val vecs = ops.Similarity.normalized(spark, dst)
      val cents = ops.Similarity.ivfCentroids(spark, dst)
      val g = gate(col("doc_id"))
      val gv = gate(col("vec_id"))
      timeNamed("unified_write_4fold") {
        ops.IndexStore.writeUnified(spark, docs.filter(g < 16384L),
          vecs.filter(gv < 16384L), cents, idxDir)
        for (i <- 1 to 3) {
          val lo = i * 16384L
          val hi = if (i == 3) 65536L else (i + 1) * 16384L
          ops.IndexStore.appendUnified(spark, idxDir,
            docs.filter(g >= lo && g < hi),
            vecs.filter(gv >= lo && gv < hi))
        }
        docs.count()
      }
      Core.clearCaches(spark)
      val qterms = ops.TextOps.qtermsOf(spark, dst)
      val qb = ops.Similarity.queryBatch(spark, dst, vecs)
      timeNamed("unified_hybrid_pair_read") {
        val (lex, ann) = ops.IndexStore.retrievalFromUnified(spark,
          idxDir, qterms, qb, nprobe = 4, k = 100)
        lex.count() + ann.count()
      }
      timeNamed("unified_compact_both") {
        ops.IndexStore.compact(spark, idxDir); 1L
      }
      Core.clearCaches(spark)
      timeNamed("unified_pair_read_compacted") {
        val (lex, ann) = ops.IndexStore.retrievalFromUnified(spark,
          idxDir, qterms, qb, nprobe = 4, k = 100)
        lex.count() + ann.count()
      }
    }
    // per-family attribution for the unified pair read: time each half
    // alone against the EXISTING unified store (built by the
    // unified_store section above) in a fresh session, so the pair
    // number decomposes into its BM25 and ANN components
    if (only.exists(_.contains("unified_lookup"))) {
      val idxDir = s"$dst/index_store_unified"
      val qterms = ops.TextOps.qtermsOf(spark, dst)
      val qb = ops.Similarity.queryBatch(spark, dst,
        ops.Similarity.normalized(spark, dst))
      timeNamed("unified_bm25_half") {
        ops.IndexStore.bm25FromStore(spark, idxDir, qterms).count()
      }
      timeNamed("unified_ann_half") {
        ops.IndexStore.annFromStore(spark, idxDir, qb,
          nprobe = 4, k = 100).count()
      }
      timeNamed("unified_pair_again") {
        val (lex, ann) = ops.IndexStore.retrievalFromUnified(spark,
          idxDir, qterms, qb, nprobe = 4, k = 100)
        lex.count() + ann.count()
      }
    }
    // store compaction A/B (round 7): build the text channel as ONE
    // write + three appends (the rolling-ingest shape), time a BM25
    // lookup against the fragmented 4-snapshot store, compact, time
    // the same lookup against the single-snapshot layout, vacuum the
    // orphans. The claim under test: per-append postings files are
    // term-sorted only WITHIN themselves, so a query's pushed In
    // filter fans out to every append's files; compaction restores
    // one global term range (+ ≈1 file per partition dir) and the
    // lookup should drop toward the fresh-build cost.
    if (only.exists(_.contains("store_compaction"))) {
      val docs = Core.table(spark, dst, "documents")
      // SPARK_GRAFT_COMPACT_SLICES controls the fragmentation depth
      // (1 write + slices−1 appends): 4 models a lightly-rolled store,
      // 32 the months-of-daily-folds regime the compaction claim is
      // about
      val slices = sys.env.getOrElse("SPARK_GRAFT_COMPACT_SLICES", "4").toInt
      val idxDir = s"$dst/index_store_compaction_x$slices"
      // fresh dir per run: a prior run's orphaned compacted snapshot
      // would otherwise inflate the fragmented file census below
      rmRf(new java.io.File(idxDir))
      val g = gate(col("doc_id"))
      val width = 65536L / slices
      val qterms = ops.TextOps.qtermsOf(spark, dst)
      timeNamed(s"compaction_fragmented_write_$slices") {
        ops.IndexStore.writeText(spark, docs.filter(g < width), idxDir)
        for (i <- 1 until slices) {
          val hi = if (i == slices - 1) 65536L else (i + 1) * width
          ops.IndexStore.appendText(spark, idxDir,
            docs.filter(g >= i * width && g < hi))
        }
        docs.count()
      }
      def partFiles(dir: java.io.File): Long =
        Option(dir.listFiles()).getOrElse(Array.empty).map(f =>
          if (f.isDirectory) partFiles(f)
          else if (f.getName.startsWith("part-")) 1L else 0L).sum
      println(s"PROBE files_fragmented_$slices           " +
        partFiles(new java.io.File(idxDir)))
      Core.clearCaches(spark)
      timeNamed(s"bm25_lookup_fragmented_$slices") {
        ops.IndexStore.bm25FromStore(spark, idxDir, qterms).count()
      }
      timeNamed(s"store_compact_$slices") {
        ops.IndexStore.compact(spark, idxDir); 1L
      }
      timeNamed(s"store_vacuum_$slices") {
        ops.IndexStore.vacuum(idxDir).size.toLong
      }
      println(s"PROBE files_compacted_$slices            " +
        partFiles(new java.io.File(idxDir)))
      Core.clearCaches(spark)
      timeNamed(s"bm25_lookup_compacted_$slices") {
        ops.IndexStore.bm25FromStore(spark, idxDir, qterms).count()
      }
    }
    // incremental cluster maintenance (round 5): cluster the 90%
    // corpus slice once at write time, then merge the 10% batch via
    // the supernode contraction — the A/B is the full-corpus CC
    // (q45's shape) this replaces at batch time
    if (only.exists(_.contains("clusters_incremental"))) {
      val docs = Core.table(spark, dst, "documents")
      val idxDir = s"$dst/index_store_clusters"
      timeNamed("clusters_snapshot_write") {
        val corpus = docs.filter(gate(col("doc_id")) < 58982L)
        ops.IndexStore.write(spark, corpus, idxDir)
        ops.IndexStore.writeClusters(spark, corpus, idxDir)
        corpus.count()
      }
      Core.clearCaches(spark)
      timeNamed("clusters_incremental") {
        ops.IndexStore.incrementalClusters(spark, idxDir,
          docs.filter(gate(col("doc_id")) >= 58982L)).count()
      }
      // the maintenance fold across ALL channels (bands, fps, sim
      // blocks, labels, bloom re-agg) — A/B baseline is
      // clusters_snapshot_write, a fresh build at 0.9x corpus
      Core.clearCaches(spark)
      timeNamed("index_append") {
        ops.IndexStore.append(spark, idxDir,
          docs.filter(gate(col("doc_id")) >= 58982L))
        ops.IndexStore.channel(spark, idxDir, "cluster_labels").count()
      }
    }

    // label-delta write volume (round 8): a labeled store's fold must
    // WRITE O(batch-driven changes) label rows per micro-batch — the
    // round-7 fold rewrote the O(corpus) artifact every time. Probe:
    // cluster the 50% slice once, fold four 12.5% batches, and report
    // each fold's delta row count against the resolved corpus size.
    if (only.exists(_.contains("label_delta"))) {
      val docs = Core.table(spark, dst, "documents")
      val idxDir = s"$dst/index_store_label_delta"
      rmRf(new java.io.File(idxDir))
      timeNamed("label_delta_snapshot_write") {
        val corpus = docs.filter(gate(col("doc_id")) < 32768L)
        ops.IndexStore.write(spark, corpus, idxDir)
        ops.IndexStore.writeClusters(spark, corpus, idxDir)
        corpus.count()
      }
      def lastLabelPath(): String = {
        val cur = java.nio.file.Files.readString(
          java.nio.file.Paths.get(idxDir, "_current")).trim
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
          java.nio.file.Files.readString(
            java.nio.file.Paths.get(idxDir, cur, "_manifest.json")))
        val it = node.get("channels").get("cluster_labels").get("paths").elements()
        var last = ""; while (it.hasNext) last = it.next().asText()
        last
      }
      for (i <- 0 until 4) {
        val lo = 32768L + i * 8192L
        timeNamed(s"label_delta_fold_$i") {
          ops.IndexStore.append(spark, idxDir,
            docs.filter(gate(col("doc_id")) >= lo &&
              gate(col("doc_id")) < lo + 8192L))
          1L
        }
        val deltaRows = spark.read.parquet(s"$idxDir/${lastLabelPath()}").count()
        val corpusRows = ops.IndexStore.channel(spark, idxDir, "cluster_labels").count()
        println(s"PROBE label_delta_rows_$i            " +
          s"$deltaRows delta rows vs $corpusRows resolved corpus labels")
      }
    }

    // media channel lifecycle at probe scale (round 8): the newest
    // family gets the same operational evidence as bands/postings/
    // cells — write + appends (fragmenting), screen A/B around
    // compact, and the store-fed pair report.
    if (only.exists(_.contains("media_store"))) {
      val payloads = Core.table(spark, dst, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      val idxDir = s"$dst/index_store_media"
      rmRf(new java.io.File(idxDir))
      val probeB = payloads.filter(gate(col("doc_id")) >= 58982L)
      timeNamed("media_store_write") {
        ops.IndexStore.writeMedia(spark,
          payloads.filter(gate(col("doc_id")) < 39321L), idxDir)
        1L
      }
      for (i <- 0 until 3) {
        val lo = 39321L + i * 6553L
        val hi = if (i == 2) 58982L else lo + 6553L
        timeNamed(s"media_append_$i") {
          ops.IndexStore.appendMedia(spark, idxDir,
            payloads.filter(gate(col("doc_id")) >= lo &&
              gate(col("doc_id")) < hi))
          1L
        }
      }
      def partFilesM(dir: java.io.File): Long =
        Option(dir.listFiles()).getOrElse(Array.empty).map(f =>
          if (f.isDirectory) partFilesM(f)
          else if (f.getName.startsWith("part-")) 1L else 0L).sum
      println(s"PROBE media_files_fragmented         " +
        partFilesM(new java.io.File(idxDir)))
      Core.clearCaches(spark)
      timeNamed("media_screen_fragmented") {
        ops.IndexStore.screenBatchMedia(spark, idxDir, probeB).count()
      }
      // vacuum-past-retention evidence for the STANDALONE media
      // lifecycle (VERDICT r15 next #6): the census and the pairs read
      // must be bit-identical across compact + reclaim, and the
      // reclaimed version must refuse by name — asserted IN the probe
      // (a silent census drift at 100× would fail the run, not just
      // read oddly)
      val mStatsBefore = ops.IndexStore.channel(spark, idxDir, "media_stats")
        .head()
      val mPairsBefore = ops.IndexStore.mediaPairsFromStore(spark, idxDir)
        .count()
      val mPreCompact = ops.IndexStore.history(idxDir).last
      timeNamed("media_compact") { ops.IndexStore.compact(spark, idxDir); 1L }
      timeNamed("media_vacuum") { ops.IndexStore.vacuum(idxDir).size.toLong }
      println(s"PROBE media_files_compacted          " +
        partFilesM(new java.io.File(idxDir)))
      Core.clearCaches(spark)
      timeNamed("media_screen_compacted") {
        ops.IndexStore.screenBatchMedia(spark, idxDir, probeB).count()
      }
      timeNamed("media_pairs_from_store") {
        ops.IndexStore.mediaPairsFromStore(spark, idxDir).count()
      }
      val mStatsAfter = ops.IndexStore.channel(spark, idxDir, "media_stats")
        .head()
      val mPairsAfter = ops.IndexStore.mediaPairsFromStore(spark, idxDir)
        .count()
      require(mStatsAfter == mStatsBefore && mPairsAfter == mPairsBefore,
        s"media census/pairs drifted across compact+vacuum: " +
          s"$mStatsBefore/$mPairsBefore -> $mStatsAfter/$mPairsAfter")
      val mRefused =
        try { ops.IndexStore.channelAt(spark, idxDir, mPreCompact,
          "media_sim_blocks"); false }
        catch { case e: IllegalStateException =>
          e.getMessage.contains("vacuumed or never committed") }
      require(mRefused,
        s"reclaimed media version $mPreCompact must refuse by name")
      println(s"PROBE media_stats_across_vacuum      n_payloads=" +
        s"${mStatsAfter.getAs[Long]("n_payloads")} pairs=$mPairsAfter " +
        s"bit_identical=true dropped_refuses=true")
    }

    // q138's candidate-bound regime gate at the designed worst case
    // (VERDICT r6 next #2): on the twin-dense probe corpus the exact
    // set-similarity join's measured bound Σ C(prefix-df, 2) exceeds
    // the default budget, so the expected outcome at 100× is a FAST
    // REFUSAL citing the bound — the alternative the gate replaces was
    // out-of-disk mid-shuffle. Explicit-only, like the other
    // dedicated-session probes.
    if (only.exists(_.contains("q138_gate"))) {
      val t0 = System.nanoTime()
      val r =
        try s"ran rows=${SparkEntry.queries("q138_set_similarity_join")(spark, dst).count()}"
        catch { case e: IllegalStateException =>
          s"REFUSED (${e.getMessage.replaceAll("\\s+", " ").take(140)}…)" }
      println(f"PROBE q138_gate                  ${(System.nanoTime() - t0) / 1e9}%8.2f s -> $r")
    }

    // persisted IndexStore at probe scale (VERDICT r3 "next round" #5):
    // q71 proves the incremental-dedup SHAPE against the in-session
    // memo; this measures the operational contract — build the index
    // from the probe corpus ONCE, then screen the incoming slice using
    // ONLY the stored artifacts (parquet band index + fingerprints +
    // bloom blob). Screen cost should track the batch, not the corpus.
    if (only.exists(_.contains("index_store"))) {
      val docs = Core.table(spark, dst, "documents")
      val corpus = docs.filter(gate(col("doc_id")) < 58982L)
      val batch = docs.filter(gate(col("doc_id")) >= 58982L)
      val idxDir = s"$dst/index_store"
      timeNamed("index_store_write") {
        ops.IndexStore.write(spark, corpus, idxDir); corpus.count()
      }
      timeNamed("index_store_screen") {
        ops.IndexStore.screenBatch(spark, idxDir, batch).count()
      }
      timeNamed("index_store_screen_sim") {
        ops.IndexStore.screenBatchSim(spark, idxDir, batch).count()
      }
    }

    // q03 bucketed-layout A/B (VERDICT r3 "next round" #6): the 100×
    // probe showed a 40–164 s AQE-variance band for the plain q03 —
    // the lineitem⋈orders exchange is where the variance lives. B
    // pre-buckets both facts on the join key (the layout LayoutSpec
    // proves shuffle-free) and reruns the same query over the bucketed
    // tables; both variants run twice in THIS session so the A/B is
    // same-JVM, same-AQE-state. The one-time bucket build is timed
    // too — it amortizes over every orderkey join on the snapshot.
    if (only.exists(_.contains("q03_ab"))) {
      import spark.implicits._
      time("q03_join_revenue_by_nation")
      time("q03_join_revenue_by_nation")
      val nBuckets = 128
      timeNamed("q03_bucket_build") {
        Core.table(spark, dst, "lineitem")
          .select($"l_orderkey", $"l_extendedprice", $"l_discount")
          .write.mode(SaveMode.Overwrite)
          .bucketBy(nBuckets, "l_orderkey").sortBy("l_orderkey")
          .saveAsTable("li_bucketed_probe")
        Core.table(spark, dst, "orders")
          .select($"o_orderkey", $"o_custkey")
          .write.mode(SaveMode.Overwrite)
          .bucketBy(nBuckets, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable("o_bucketed_probe")
        spark.table("li_bucketed_probe").count()
      }
      def q03Bucketed(): Long =
        spark.table("li_bucketed_probe")
          .join(spark.table("o_bucketed_probe"), $"l_orderkey" === $"o_orderkey")
          .join(Core.table(spark, dst, "customer"), $"o_custkey" === $"c_custkey")
          .join(broadcast(Core.table(spark, dst, "nation")),
            $"c_nationkey" === $"n_nationkey")
          .groupBy($"n_name")
          .agg(Core.moneySum($"l_extendedprice" * (lit(1) - $"l_discount")).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy($"n_name")
          .count()
      timeNamed("q03_bucketed")(q03Bucketed())
      timeNamed("q03_bucketed")(q03Bucketed())
    }

    // snapshot time travel at probe scale (round 7): fold the probe
    // corpus into a versioned text store as three doc_id%3 ingest
    // batches (q143's shape), then time the timeline reads. The build
    // cost is the known text-channel write cost split three ways; the
    // claim under test is the READ side — history/channelAt resolve
    // manifests (no Spark job) and the q143-shaped stats timeline is
    // three ONE-ROW parquet reads, so lookup time must be independent
    // of corpus size (compare against the same probe at 1×).
    if (only.exists(_.contains("time_travel"))) {
      val docs = Core.table(spark, dst, "documents")
      val idxDir = s"$dst/tt_store"
      rmRf(new java.io.File(idxDir))
      timeNamed("tt_build_write") {
        ops.IndexStore.writeText(spark, docs.filter(col("doc_id") % 3 === 0), idxDir); 1L
      }
      timeNamed("tt_build_append1") {
        ops.IndexStore.appendText(spark, idxDir, docs.filter(col("doc_id") % 3 === 1)); 1L
      }
      timeNamed("tt_build_append2") {
        ops.IndexStore.appendText(spark, idxDir, docs.filter(col("doc_id") % 3 === 2)); 1L
      }
      timeNamed("tt_stats_timeline") {
        ops.IndexStore.history(idxDir).zipWithIndex.map { case (sn, i) =>
          ops.IndexStore.channelAt(spark, idxDir, sn, "stats")
            .select(lit(i + 1).as("version"), col("n_docs"), col("sum_dl"))
        }.reduce(_ unionByName _).count()
      }
      timeNamed("tt_channelat_v1_doclens") {
        ops.IndexStore.channelAt(spark, idxDir,
          ops.IndexStore.history(idxDir).head, "doc_lens").count()
      }
    }

    // batch retrieval at probe scale (round 7): q144's claim is that a
    // query batch costs ONE pruned postings read, not one per query —
    // compare two single-query lookups against the one batched lookup
    // over the same two probes (steady-state: store built first, each
    // lookup timed on its second run after a warm-up pass).
    if (only.exists(_.contains("bm25_batch"))) {
      val idxDir = s"$dst/bm25_batch_store"
      rmRf(new java.io.File(idxDir))
      timeNamed("bb_store_build") {
        ops.IndexStore.writeText(spark, Core.table(spark, dst, "documents"), idxDir); 1L
      }
      val t1 = ops.TextOps.qtermsOfExtreme(spark, dst, useMax = false)
      val t2 = ops.TextOps.qtermsOfExtreme(spark, dst, useMax = true)
      def single(ts: Seq[String]) = {
        import spark.implicits._
        ops.IndexStore.bm25FromStore(spark, idxDir, ts)
          .orderBy($"score".desc, $"doc_id").limit(20).count()
      }
      single(t1); single(t2) // warm-up
      timeNamed("bb_single_q1")(single(t1))
      timeNamed("bb_single_q2")(single(t2))
      val batch = Seq(1 -> t1, 2 -> t2)
      ops.IndexStore.bm25BatchFromStore(spark, idxDir, batch).count() // warm-up
      timeNamed("bb_batch_2q") {
        ops.IndexStore.bm25BatchFromStore(spark, idxDir, batch).count()
      }
      // width-8: the amortization claim is about BATCH WIDTH — at
      // width 2 a warm batch only matches two warm singles (each
      // lookup's fixed cost ≈ its pruned-read cost at this store
      // size); the fixed per-call costs (job scheduling, stats read,
      // scan setup, rank pass) amortize as width grows while the
      // union read grows only with NEW terms
      locally {
        import spark.implicits._
        val docs = Core.table(spark, dst, "documents")
        val ids = docs.orderBy($"doc_id").limit(8)
          .select($"doc_id").as[Long].collect()
        val termSets = ids.map { id =>
          id -> "[a-z]+".r.findAllIn(docs.filter($"doc_id" === id)
            .select(lower($"text")).head().getString(0)).toSeq.distinct }
        termSets.foreach { case (_, ts) => single(ts) } // warm-up
        timeNamed("bb_singles_8q") {
          termSets.map { case (_, ts) => single(ts) }.sum
        }
        val batch8 = termSets.zipWithIndex.map { case ((_, ts), i) => (i + 1) -> ts }.toSeq
        ops.IndexStore.bm25BatchFromStore(spark, idxDir, batch8).count() // warm-up
        timeNamed("bb_batch_8q") {
          ops.IndexStore.bm25BatchFromStore(spark, idxDir, batch8).count()
        }
      }
    }
    // closing shot of the compute anchor: start ≈ end certifies the
    // session window was compute-stable; a drifted pair marks every
    // compute-bound line in between as contaminated evidence
    computeSentinel("end")
    scanSentinel("end")
    jw.close()
    spark.stop()
  }
}
