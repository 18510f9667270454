package graft
object Bench {
  /** One measured query-sweep window: per-query timings plus its own
    * calibration samples (the post-warm `first` stabilizer shots, the
    * rolling mids, the closing shot) and the steal-window verdict
    * derived from them — max/median over the window's own samples,
    * the r9/r11 rule. Lifted to object scope (with [[wantRetry]] /
    * [[chooseWindow]]) so the self-heal decision is a pure function
    * BenchSpec pins without a 3-minute live sweep: the live trigger
    * is host dirt, which three deliberate 32–96-way CPU-hog attempts
    * failed to reproduce on demand (the 0.3 s sentinel shots are too
    * sparse for a burst to reliably hit). */
  private[graft] final case class SweepWindow(results: Seq[(String, Double)],
      firstShots: Seq[Double], calMid: Seq[Double], calLast: Double,
      errs: Seq[(String, String)]) {
    val calFirst: Double = firstShots.last
    val samples: Seq[Double] =
      (calFirst +: calMid :+ calLast).filter(_ > 0).sorted
    val ratio: Double =
      if (samples.size >= 2) samples.max / samples(samples.size / 2)
      else -1.0
    val clean: Boolean = samples.size >= 2 && ratio <= 1.5
  }

  /** Retry exactly when the first window's verdict is DETERMINABLE and
    * dirty, and the run is a full sweep (isolation mode skips every
    * sentinel, so its window can never earn a retry). */
  private[graft] def wantRetry(w1: SweepWindow, isolation: Boolean): Boolean =
    !w1.clean && w1.samples.size >= 2 && !isolation

  /** The retry wins only when its own verdict is determinable and
    * STRICTLY cleaner — a retry that measured dirtier (or nothing)
    * must never displace the evidence it was meant to heal. */
  private[graft] def chooseWindow(w1: SweepWindow,
      w2: Option[SweepWindow]): SweepWindow = w2 match {
    case Some(w) if w.samples.size >= 2 && w.ratio < w1.ratio => w
    case _ => w1
  }

  /** Warm-bracket self-heal trigger (VERDICT r14 next #4): the sweep
    * already had its bounded retry; a dirty WARM bracket had none.
    * Fires only when the sweep bracket is determinably CLEAN and the
    * warm bracket determinably DIRTY — a dirty sweep makes the sweep
    * median an unusable warm yardstick (and already bought the sweep
    * retry), and isolation mode has no warm bracket at all. */
  private[graft] def wantWarmRetry(cleanSweep: Option[Boolean],
      cleanWarm: Option[Boolean], isolation: Boolean): Boolean =
    !isolation && cleanSweep.contains(true) && cleanWarm.contains(false)

  /** The retried warm wins only when its own bracket is determinable
    * and STRICTLY cleaner — the [[chooseWindow]] rule. */
  private[graft] def chooseWarmRetry(ratio1: Double, ratio2: Double): Boolean =
    ratio2 > 0 && (ratio1 <= 0 || ratio2 < ratio1)

  /** ONE top-level verdict (VERDICT r14 next #4 / "what's wrong" #1):
    * the legacy combined `clean` flag measures the pre/sweep REGIME
    * GAP on healthy rounds (BENCH_r14 shipped clean:false with both
    * per-regime flags true), so a consumer keying on it reads a clean
    * round as dirty. `verdict` is the per-regime conjunction — the
    * field consumers should key on; "unknown" when either bracket is
    * undeterminable (isolation mode / failed sentinels). */
  private[graft] def verdictOf(cleanSweep: Option[Boolean],
      cleanWarm: Option[Boolean]): String = (cleanSweep, cleanWarm) match {
    case (Some(a), Some(b)) => if (a && b) "clean" else "dirty"
    case _ => "unknown"
  }

  /** The session's host-speed LEVEL (VERDICT r15 next #5): the median
    * of the sweep's calibration sentinels — one number a cross-round
    * compare can ratio against the prior artifact's to adjust TOTALS
    * the way the probe gate's per-line anchor adjust already works
    * (clamped at 1.0 on the consumer side: a slower host forgives, a
    * faster one never tightens). The r15 lesson: BENCH_r15's 205.7 s
    * headline rode a slow-IO host regime while the same binaries read
    * 163–167 s on clean windows — raw cross-regime totals misread
    * host weather as code. −1 when the sweep is underdetermined
    * (isolation mode / failed sentinels). */
  private[graft] def hostLevel(samples: Seq[Double]): Double = {
    val s = samples.filter(_ > 0).sorted
    if (s.size >= 2) s(s.size / 2) else -1.0
  }

  /** The shots of a self-stabilizing sentinel: `shoot(i)` for
    * i = 1, 2, … until two consecutive positive shots agree within
    * 10%, at most `maxShots` shots. A failed shot (-1) never counts as
    * agreement. Returns every shot; the last is the stabilized one. */
  private[graft] def stabilized(maxShots: Int)(shoot: Int => Double): Seq[Double] = {
    val shots = scala.collection.mutable.ArrayBuffer.empty[Double]
    def agree = shots.size >= 2 && {
      val (a, b) = (shots(shots.size - 2), shots.last)
      a > 0 && b > 0 && math.abs(b - a) / math.max(a, b) <= 0.1
    }
    while (shots.size < maxShots && !agree) shots += shoot(shots.size + 1)
    shots.toSeq
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    // warm phase: force-build the memoized session-shared frames (LSH
    // band keys, cluster labels — a full CC run — norms, IVF centroids,
    // bigrams, token ids, quality scores, the kNN query batch) so their
    // one-time cost doesn't land on whichever query alphabetically
    // consumes them first — per-query attribution is stable round over
    // round. The phase is TIMED per frame and folded into `total`:
    // the memo builds are real catalog work (they'd run inside queries
    // if not shared), so excluding them would flatter the headline
    // number (VERDICT r3 "what's wrong" #1).
    // SPARK_GRAFT_BENCH_ONLY=q77_lm_quality,q83_token_windows times a
    // subset in an otherwise-identical session — for separating a
    // query's own cost from cross-query cache/GC interference
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // a failed query is an ERROR, not a (fast, flattering) timing: it
    // gets -1 in `queries` and a message in `errors`, and the run exits
    // non-zero (VERDICT r5 "what's wrong" #3)
    val errors = scala.collection.mutable.ListBuffer.empty[(String, String)]
    // untimed JVM/session warmup only: initialize scan/codegen/shuffle
    // machinery once so timings measure the queries, not cold start
    // (entry() is the tiny sf0.001 flagship — no catalog work at sfDir).
    // Untimed is not unchecked: a failure is an ERROR like a failed
    // warm build, so a broken session cannot pass as a clean run.
    try SparkEntry.entry(spark).count() catch { case e: Throwable =>
      errors += (("warmup:entry", s"${e.getClass.getName}: ${e.getMessage}"))
    }
    // a warm build that throws contributes no timing, and its failure
    // is an ERROR under a `warm:<build>` key (the run exits non-zero):
    // dropping it silently would hide a broken store or memo build.
    // Builds run on concurrent warm threads, hence the lock; a retried
    // warm phase that fails the same build again adds no duplicate key.
    def safeWarm(build: String)(f: => Seq[(String, Double)]): Seq[(String, Double)] =
      try f catch { case e: Throwable =>
        errors.synchronized {
          if (!errors.exists(_._1 == s"warm:$build"))
            errors += ((s"warm:$build", s"${e.getClass.getName}: ${e.getMessage}"))
        }
        Seq.empty
      }
    // calibration sentinel (VERDICT r5 "next" #6): time the same fixed
    // probe before and after the sweep. If the host was contended during
    // the run the two numbers diverge, and the bench self-identifies as
    // contaminated instead of silently publishing an inflated total
    // (the r5 driver bench was ~1.7× host noise and nothing flagged it).
    // SKIPPED (-1) in SPARK_GRAFT_BENCH_ONLY isolation mode — running
    // q01 around an isolated measurement warms scan/page caches and
    // contaminates exactly what that mode exists to isolate. A FAILING
    // probe is likewise recorded as -1 plus an errors entry, never as a
    // plausible-looking latency. (Side effect in full sweeps, by
    // design: the timed q01 in the sweep is a cache-warm re-run.)
    def calibrate(tag: String,
        sink: scala.collection.mutable.ListBuffer[(String, String)] = errors)
        : Double =
      if (only.nonEmpty) -1.0
      else {
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries("q01_pricing_summary")(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          sink += ((s"calibration_$tag", s"${e.getClass.getName}: ${e.getMessage}"))
          -1.0
        }
      }
    // "pre" sentinel BEFORE the warm phase: the r10 bench caught a
    // steal burst that landed entirely inside warm (dedup-store builds
    // 2–3× with the query sweep clean) — first/mid/last bracket only
    // the sweep, so a dirty warm phase was invisible to the clean
    // verdict. The sentinel must be ISO-CONDITION with the others to
    // be comparable, and the first-ever q01 at sfDir pays a cold
    // lineitem read no later sample pays (measured: 0.64 cold vs a
    // 0.40 median marked an otherwise-clean run dirty) — so the cold
    // shot is recorded as `pre_cold` EVIDENCE but excluded from the
    // verdict. The r10 DRIVER artifact showed one warm shot is still
    // not enough: its second shot (0.628) carried lingering JIT/cache
    // warmup against a 0.393 sweep median and single-handedly marked
    // the round's only driver-vs-driver baseline dirty (VERDICT r10
    // #3). So the sentinel now SELF-STABILIZES: re-shoot until two
    // consecutive warm samples agree within 10% (bounded at 6 shots),
    // keep every shot as `pre_shots` evidence, and let the LAST —
    // stabilized — shot be the verdict sample. The first calibration
    // of this rule (20%/4 shots) measured its residual failure
    // shape: a DESCENDING series (1.06 → 0.73 → 0.65 against a 0.36
    // sweep band) "agreed" at 11% while still sliding toward the
    // band — q01's shots are cheap relative to the corpus caches
    // they warm, so convergence is slow and a loose band stops early
    // at an inflated level. 10%/6 lets a warming series keep
    // descending; a SUSTAINED steal window still stops elevated with
    // agreeing shots (measured on this host: 2.18/2.17, agreement at
    // 5× the band — the agreement itself is the steal evidence) and
    // the max/median verdict catches it.
    val calPreCold = calibrate("pre_cold")
    val preShots =
      if (only.isEmpty) stabilized(6)(i => calibrate(s"pre$i")) else Seq(-1.0)
    val calPre = preShots.last
    // warm consolidation round 4 (VERDICT r12 next #2): the two
    // unified-store bootstraps — similarity.unifiedStore (q153 family)
    // and selection.gatedUnifiedStore (q161/q162/q165 family) — are
    // independent store roots whose ~15 s each is job-latency-bound
    // (dozens of small channel writes and 1-row gate reads, not CPU),
    // so they run CONCURRENTLY after every shared memoized input
    // (tokenization, normalized vectors, centroids) is already built
    // by the sequential phase. Fixture content, fold order and every
    // committed timeline are bit-unchanged — only the scheduler
    // interleaves the two ingests. Accounting stays honest: warm =
    // sequential sum + the parallel segment's WALL CLOCK (the real
    // cost the session pays), while the per-store breakdown keeps each
    // build's own (contended) duration as attribution evidence — those
    // two overlapping entries sum to more than the wall segment by
    // construction, and the breakdown carries the wall line too
    // (`unified_pair_wall`).
    def runWarmPhase(): (Seq[(String, Double)], Double) = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val t0 = System.nanoTime()
      // concurrent parts run on a DEDICATED pool (the ADVICE r14
      // stageConcurrently lesson): each store build already fans its
      // channel writes out on its own pool, so the global EC would
      // saturate and silently serialize the overlap on low-core hosts.
      // DAEMON workers (ADVICE r15): a wedged store build leaves
      // Await.result(Inf) hung either way, but non-daemon workers
      // would additionally pin the JVM open against a driver
      // interrupt — match the stageConcurrently discipline.
      // Each future records its own COMPLETION instant so the wall
      // lines below can be derived without serializing the awaits, and
      // each part carries its FAMILY tag ("store" / "unified") so the
      // wall lines are derived from tags, never from list position
      // (ADVICE r16: positional dropRight/takeRight slicing would
      // silently misattribute a build if the launch list was ever
      // reordered or extended).
      def launch(parts: Seq[(String, () => Seq[(String, Double)])])
          : (Seq[Future[(String, Seq[(String, Double)], Long)]],
             java.util.concurrent.ExecutorService) = {
        val seq = new java.util.concurrent.atomic.AtomicInteger()
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          parts.size,
          (r: Runnable) => {
            val t = new Thread(r, s"graft-warm-${seq.incrementAndGet()}")
            t.setDaemon(true); t
          })
        implicit val ec: scala.concurrent.ExecutionContextExecutorService =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        (parts.map { case (fam, p) =>
          Future { val r = p(); (fam, r, System.nanoTime()) } },
          pool)
      }
      // phase 0, CONCURRENT from t0 (r16; guide §2.6): the store
      // fixtures whose inputs are RAW driver tables only — the three
      // md5-text governed fixtures plus dedup.snapshotStore, whose
      // write/CC run is computed fresh over its slice (no memoized
      // frame) — overlap the sequential memo phase. They are
      // commit-latency-bound (dozens of small jobs each), so they
      // back-fill the scheduler instead of fighting the memo builds
      // for CPU; fixture content, fold order and every committed
      // timeline are bit-unchanged — only the schedule interleaves.
      val (earlyFuts, earlyPool) = launch(
        ops.Selection.warmStorePartsEarly(spark, sfDir).zipWithIndex
          .map { case (p, i) => "store" -> (() => safeWarm(s"selection.stores_early.$i")(p())) } :+
          ("store" -> (() => safeWarm("dedup.stores")(ops.Dedup.warmStores(spark, sfDir)))))
      // phase 1, SEQUENTIAL: the memoized FRAME builds every store
      // fixture (and half the catalog) shares — tokenization, band
      // keys, norms, centroids. Concurrency here would contend on the
      // very inputs the later groups need already built. Ordered so
      // the LATE group's dependencies come first (Similarity's
      // norms/centroids, TextOps' bm25Index) and the group launches
      // before Dedup's memos (band keys, the cluster-labels CC run,
      // coded sets — consumed by the sweep, not by any store build)
      // are built on the main thread (r16).
      val warmSeqA =
        safeWarm("similarity")(ops.Similarity.warm(spark, sfDir)) ++
          safeWarm("textops")(ops.TextOps.warm(spark, sfDir)) ++
          safeWarm("selection")(ops.Selection.warm(spark, sfDir))
      // phase 2, ONE merged CONCURRENT group (r16; previously two
      // serialized groups — stores, then the unified pair — whose
      // walls ADDED even though every build is an independent root):
      // the memo-dependent store fixtures AND the two unified-store
      // bootstraps, shared inputs all built by warmSeqA, each build
      // job-latency-bound. Accounting stays honest the unified-pair
      // way: warm pays the phase's WALL clock (t0 → last build done,
      // the real session cost); the contended per-store durations ride
      // the breakdown as attribution evidence (check.py excludes them
      // from per-entry compare and judges the wall lines).
      val lateStart = System.nanoTime()
      val (lateFuts, latePool) = launch(Seq(
        "store" -> (() => safeWarm("similarity.stores")(ops.Similarity.warmStores(spark, sfDir))),
        "store" -> (() => safeWarm("textops.stores")(ops.TextOps.warmStores(spark, sfDir)))) ++
        ops.Selection.warmStorePartsLate(spark, sfDir).zipWithIndex
          .map { case (p, i) => "store" -> (() => safeWarm(s"selection.stores_late.$i")(p())) } ++ Seq(
        "unified" -> (() => safeWarm("similarity.unified")(ops.Similarity.warmUnified(spark, sfDir))),
        "unified" -> (() => safeWarm("selection.unified")(ops.Selection.warmUnified(spark, sfDir)))))
      val warmSeq = warmSeqA ++ safeWarm("dedup")(ops.Dedup.warm(spark, sfDir))
      val early = earlyFuts.map(Await.result(_, Duration.Inf))
      earlyPool.shutdown()
      val late = lateFuts.map(Await.result(_, Duration.Inf))
      latePool.shutdown()
      // wall lines, same names and meanings as before (check.py's
      // per-entry compare keys on them): store_group_wall = t0 → the
      // last STORE fixture done (early + merged-group store members);
      // unified_pair_wall = merged-group start → the last UNIFIED
      // build done. The two spans OVERLAP (that overlap is the r16
      // optimization); each remains the honest wall of its family.
      // Membership comes from the launch tags, not list position.
      val lateStores = late.filter(_._1 == "store")
      val lateUnified = late.filter(_._1 == "unified")
      val storeDone = (early.map(_._3) ++ lateStores.map(_._3)).max
      val unifiedDone = lateUnified.map(_._3).max
      val wall = (System.nanoTime() - t0) / 1e9
      (warmSeq ++ early.flatMap(_._2) ++ lateStores.flatMap(_._2) ++
        Seq("store_group_wall" -> (storeDone - t0) / 1e9) ++
        lateUnified.flatMap(_._2) :+
        ("unified_pair_wall" -> (unifiedDone - lateStart) / 1e9),
        wall)
    }
    val (warmBreakdown1, warmSec1) = runWarmPhase()
    // `first` gets the SAME stabilizer as `pre`: it fires immediately
    // after the warm phase, where blocking-unpersist churn and fresh
    // store caches leave the same one-shot transient the pre shots
    // measured (r11 runs: first 0.77 / 0.67 against 0.39–0.42 sweep
    // medians marked otherwise-clean sweeps dirty). A descending,
    // then-agreeing series reads as settling; agreement at an
    // elevated level reads as steal — either way the shots are
    // evidence, and the verdict sample is the stabilized one.
    // NUMERIC query order (q01…q156), not string order: string sort
    // runs q100–q156 between q09 and q10, so every round's NEWEST
    // (least-understood) queries execute as one contiguous early
    // window — exactly where the r8 driver run lost ~37 s that
    // endpoint calibration couldn't see. Numeric order keeps
    // round-over-round attribution aligned with query age.
    def qnum(name: String): Int =
      "\\d+".r.findFirstIn(name).map(_.toInt).getOrElse(Int.MaxValue)
    val ordered = SparkEntry.queries.toSeq.sortBy { case (n, _) => (qnum(n), n) }
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // ---- the query sweep as a RE-RUNNABLE window (VERDICT r13 next
    // #1): the calibration machinery could already FLAG a host-loaded
    // sweep (clean_sweep false), but the r13 driver artifact showed a
    // flag is not enough — the official number a future consumer reads
    // first was a dirty 260.7 s window while the engine's clean
    // windows got 3.5% FASTER. So a dirty sweep now buys exactly ONE
    // bounded retry inside the same invocation: the parsed total comes
    // from the CLEANER window (by sweep max/median), the discarded
    // window's per-query map stays in the full artifact as evidence,
    // and the calibration carries `retried` plus both windows' ratios
    // so the self-heal is never silent. The warm phase is NOT re-run —
    // it already happened, is bracketed by its own clean_warm verdict,
    // and its memoized fixtures make the retry sweep iso-condition
    // with the first (both post-warm, same caches).
    //  - `first` gets the SAME stabilizer as `pre`: it fires right
    //    after the preceding heavy phase, where blocking-unpersist
    //    churn and fresh store caches leave the one-shot transient the
    //    pre shots measured (r11: first 0.77/0.67 against 0.39–0.42
    //    sweep medians marked otherwise-clean sweeps dirty).
    //  - ROLLING mid sentinels every 30 queries (r8 driver-vs-local
    //    gap lesson): a mid-run host burst or creeping GC degradation
    //    shows up as a drifting series instead of hiding between two
    //    clean endpoints.
    def runSweep(tag: String): SweepWindow = {
      val errs = scala.collection.mutable.ListBuffer.empty[(String, String)]
      val shots =
        if (only.isEmpty) stabilized(4)(i => calibrate(s"${tag}first$i", errs))
        else Seq(-1.0)
      val mid = scala.collection.mutable.ListBuffer.empty[Double]
      val res = ordered.zipWithIndex.map { case ((name, fn), idx) =>
        if (idx > 0 && idx % 30 == 0) mid += calibrate(s"${tag}mid$idx", errs)
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          name -> (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          errs += ((name, s"${e.getClass.getName}: ${e.getMessage}"))
          name -> -1.0
        }
      }
      SweepWindow(res, shots, mid.toSeq,
        calibrate(s"${tag}last", errs), errs.toSeq)
    }
    val window1 = runSweep("")
    val retried = wantRetry(window1, isolation = only.nonEmpty)
    val window2: Option[SweepWindow] =
      if (retried) {
        System.err.println(f"[bench] sweep window dirty (max/median " +
          f"${window1.ratio}%.3f > 1.5) — one bounded retry " +
          "(VERDICT r13 next #1)")
        Some(runSweep("retry_"))
      } else None
    val chosen = chooseWindow(window1, window2)
    val discarded: Option[SweepWindow] =
      window2.map(w2 => if (chosen eq w2) window1 else w2)
    errors ++= chosen.errs
    val results = chosen.results
    val firstShots = chosen.firstShots
    val calFirst = chosen.calFirst
    val calMid = chosen.calMid
    val calLast = chosen.calLast
    // ---- warm-bracket self-heal (VERDICT r14 next #4): the sweep's
    // bounded retry healed the query window; a dirty WARM bracket
    // (clean_warm false under a clean sweep) was unretryable by design
    // — the fixtures are JVM-memoized, so "re-run warm" would time
    // cache hits. The heal therefore RESETS the warm state first
    // (Core memo caches + every warm-built store root, deleted so the
    // rebuild bootstraps fresh instead of appending versions onto the
    // fixtures' committed timelines) and re-runs the whole phase
    // iso-condition, bracketed by its own stabilized sentinels. The
    // retried bracket wins only when strictly cleaner; both brackets
    // and both warm numbers ride the artifact either way.
    val sweepMedian = hostLevel(calFirst +: calMid.toSeq :+ calLast)
    val sweepSamplesE =
      (calFirst +: calMid.toSeq :+ calLast).filter(_ > 0).sorted
    val sweepRatioE =
      if (sweepMedian > 0) sweepSamplesE.max / sweepMedian else -1.0
    val cleanSweepOpt: Option[Boolean] =
      if (sweepMedian > 0) Some(sweepRatioE <= 1.5) else None
    val preRatio1 =
      if (calPre > 0 && sweepMedian > 0) calPre / sweepMedian else -1.0
    val cleanWarmOpt1: Option[Boolean] =
      if (preRatio1 > 0) Some(preRatio1 <= 2.5) else None
    val warmRetried = wantWarmRetry(cleanSweepOpt, cleanWarmOpt1,
      isolation = only.nonEmpty)
    // (breakdown, warmSec, bracketRatio, preShots, postShot)
    val warmRetry: Option[(Seq[(String, Double)], Double, Double,
        Seq[Double], Double)] =
      if (!warmRetried) None
      else {
        System.err.println(f"[bench] warm bracket dirty (pre/median " +
          f"$preRatio1%.3f > 2.5) under a clean sweep — one bounded " +
          "warm retry (VERDICT r14 next #4)")
        Core.clearCaches(spark)
        Core.resetStoreFixtures()
        val shots2 = stabilized(6)(i => calibrate(s"warmretry_pre$i"))
        val (wb2, ws2) = runWarmPhase()
        val post2 = calibrate("warmretry_post")
        // the retried bracket: BOTH its sentinels against the sweep
        // median (stricter than the original's single pre shot — the
        // retry must prove itself on the closing side too)
        val r2 =
          if (sweepMedian > 0 && shots2.last > 0 && post2 > 0)
            math.max(shots2.last, post2) / sweepMedian
          else -1.0
        Some((wb2, ws2, r2, shots2, post2))
      }
    val retryWins = warmRetry.exists(w => chooseWarmRetry(preRatio1, w._3))
    val (warmBreakdown, warmSec) =
      if (retryWins) (warmRetry.get._1, warmRetry.get._2)
      else (warmBreakdown1, warmSec1)
    val preRatioFinal = if (retryWins) warmRetry.get._3 else preRatio1
    val cleanWarmOpt: Option[Boolean] =
      if (retryWins) Some(preRatioFinal <= 2.5) else cleanWarmOpt1
    def jsonObj(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = jsonObj(results)
    val wb = jsonObj(warmBreakdown)
    val errJson = errors.map { case (k, v) => s"${Core.jsonStr(k)}: ${Core.jsonStr(v)}" }
      .mkString("{", ",", "}")
    val queriesSec = results.map(_._2).filter(_ >= 0).sum
    val total = queriesSec + warmSec
    // max heap in the artifact: the r8 driver-vs-local gap had one
    // untestable hypothesis — the two hosts' JVM heaps differ and the
    // heavy new queries degraded under memory pressure. Recording it
    // makes that checkable from the artifacts alone next time.
    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    // derived CLEAN verdict (VERDICT r9 next #2): a committed baseline
    // must carry its own steal-window judgment, or the next round's
    // regression gate compares against a noise artifact (the r9 local
    // baseline's first sentinel was 1.018 s against a 0.33–0.45 s
    // band). max/MEDIAN over all sentinels, not max/min: the sentinel
    // is a ~0.3 s probe whose floor has real variance, so max/min
    // flags almost any honest run, while a hypervisor-steal window
    // shows up as one or two samples far above the typical level —
    // exactly max/median. ≤ 1.5 separates the shipped artifacts: the
    // r9 driver run (1.20, usable) from the r9 local run (2.52,
    // steal-window; memory/SCALE.md document the 485/209/351/193 s
    // spread on this host).
    val calSamples =
      (calPre +: calFirst +: calMid.toSeq :+ calLast).filter(_ > 0).sorted
    val calRatio =
      if (calSamples.size >= 2) calSamples.max / calSamples(calSamples.size / 2)
      else -1.0
    val calClean =
      if (calSamples.size >= 2) (calRatio <= 1.5).toString else "null"
    // PER-REGIME verdicts (VERDICT r11 next #2; SCALE.md "pre-sentinel
    // regime gap"): the pre shots run before the warm phase (caches
    // only entry-warm) and stabilize at a ~0.55 ± 0.07 floor on this
    // host, while the post-warm sweep's median spans 0.28–0.45 —
    // max/median across BOTH regimes measures that structural gap, not
    // steal, and refused the round-11 fastest window (sweep floor
    // 0.28 under an unchanged pre floor → ratio 2.09 "dirty").
    //  - clean_sweep: max/median over the SWEEP samples only (first,
    //    mid…, last — all post-warm, one regime) ≤ 1.5. This is the
    //    verdict the per-query regression gate needs.
    //  - clean_warm: the stabilized pre shot against the sweep median
    //    ≤ 2.5 — sized from the measured regime-gap ceiling (2.1) plus
    //    margin, while the sustained-steal shape (pre shots AGREEING at
    //    4–5× the sweep band, e.g. 2.18/2.17 over 0.4) stays refused.
    //    The finer warm instrument remains the per-store breakdown
    //    compare in scripts/check.py.
    // The combined `ratio`/`clean` stays for artifact compatibility.
    val sweepRatio = sweepRatioE
    val cleanSweep = cleanSweepOpt.map(_.toString).getOrElse("null")
    val preRatio = preRatioFinal
    val cleanWarm = cleanWarmOpt.map(_.toString).getOrElse("null")
    val verdict = verdictOf(cleanSweepOpt, cleanWarmOpt)
    def r3(x: Double): Double = math.rint(x * 1000) / 1000
    // the self-heal is never silent: a retried sweep records BOTH
    // windows' ratios next to the chosen verdict, in the short tail
    // line too (VERDICT r13 next #1 done-criterion)
    val retriedSuffix =
      if (retried)
        s""","retried":true,"ratio_sweep_first":${r3(window1.ratio)},"ratio_sweep_retry":${r3(window2.map(_.ratio).getOrElse(-1.0))}"""
      else ""
    // the warm self-heal is never silent either: a retried warm
    // records both brackets next to the chosen verdict
    val warmRetriedSuffix =
      if (warmRetried)
        s""","warm_retried":true,"ratio_pre_first":${r3(preRatio1)},"ratio_pre_retry":${r3(warmRetry.map(_._3).getOrElse(-1.0))}"""
      else ""
    val calVerdicts = s""""ratio":${r3(calRatio)},"clean":$calClean,"ratio_sweep":${r3(sweepRatio)},"clean_sweep":$cleanSweep,"ratio_pre":${r3(preRatio)},"clean_warm":$cleanWarm,"host_level":${r3(sweepMedian)},"verdict":"$verdict"$retriedSuffix$warmRetriedSuffix"""
    val cal = s"""{"pre_cold":$calPreCold,"pre_shots":[${preShots.mkString(",")}],"pre":$calPre,"first_shots":[${firstShots.mkString(",")}],"first":$calFirst,"mid":[${calMid.mkString(",")}],"last":$calLast,$calVerdicts}"""
    // the stdout-tail short line carries a SHOT-ARRAY-FREE calibration:
    // the driver's tail capture is ~2000 chars and every byte spent on
    // shot evidence (kept in bench.json / BENCH_FULL_LAST.json) is a
    // qtc entry cut from the per-query map (VERDICT r11 next #6)
    val calShort = s"""{"pre":$calPre,"first":$calFirst,"last":$calLast,$calVerdicts}"""
    // the discarded window is EVIDENCE, not the verdict: its per-query
    // map rides the full artifact (bench.json / BENCH_FULL_LAST.json)
    // under its own key so a regression hunt can still read what the
    // dirty window measured, while load_bench's compare only ever sees
    // the chosen `queries` map
    val discardedJson = discarded.map { w =>
      // the discarded window's ERRORS ride too (review r14): a -1.0 in
      // queries_discarded with no message anywhere would leave a later
      // regression hunt unable to tell a transient failure from a
      // benign skip — these stay out of the verdict `errors` map and
      // the exit code (the chosen window is the measurement)
      val errsJ = w.errs.map { case (k, v) => s"${Core.jsonStr(k)}: ${Core.jsonStr(v)}" }
        .mkString("{", ",", "}")
      s""""queries_discarded":${jsonObj(w.results)},"errors_discarded":$errsJ,"ratio_sweep_discarded":${r3(w.ratio)},"""
    }.getOrElse("")
    // the LOSING warm measurement is evidence, not the verdict —
    // whichever bracket lost (the original when the retry wins, the
    // retry otherwise) rides the full artifact with its sentinels
    val warmDiscardedJson = warmRetry.map { case (wb2, ws2, _, shots2, post2) =>
      val (db, ds) = if (retryWins) (warmBreakdown1, warmSec1) else (wb2, ws2)
      // heal_overhead_sec (ADVICE r15): `value` = queries + the CHOSEN
      // warm bracket only, but the session also paid the discarded
      // warm phase and the retry's sentinels — recorded as its own
      // wall field so a cross-round compare can see that a healed
      // run's `value` under-states the session wall by exactly this
      // much (and never misreads a heal as a speedup)
      val healOverhead = r3(ds + shots2.filter(_ > 0).sum +
        math.max(post2, 0.0))
      s""""warm_discarded":$ds,"warm_breakdown_discarded":${jsonObj(db)},"warmretry_pre_shots":[${shots2.mkString(",")}],"warmretry_post":$post2,"heal_overhead_sec":$healOverhead,"""
    }.getOrElse("")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","warm":$warmSec,"queries_sec":$queriesSec,"heap_mb":$heapMb,$discardedJson$warmDiscardedJson"queries":$qs,"warm_breakdown":$wb,"errors":$errJson,"calibration":$cal,"sf":"$sfDir"}"""
    println(json)
    // sbt wraps stdout in [info] prefixes the driver can't parse — also
    // write the line to a file (optional first arg, default ./bench.json)
    val outPath = if (args.nonEmpty) args(0) else "bench.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    // …and to a TRACKED filename: bench.json is gitignored (local-run
    // noise), so the r8 driver run's full per-query map sat invisible
    // in the workdir while the round's verdict called that evidence
    // unrecoverable. The next session commits this file as
    // BENCH_DRIVER_r{N}.json when it was the driver's run.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_FULL_LAST.json"), json + "\n")
    // per-query evidence INSIDE the driver's 2000-char stdout tail
    // capture, round-13 encoding (VERDICT r12 missing #5): the r12 map
    // spelling ({"qtc":{"31":33,...}}, ~10 bytes/query) overflowed the
    // window — 166 queries ≈ 1.7 KB of qtc lines against ~1.34 KB left
    // after the fixed suffix (short line on stdout AND stderr + sbt's
    // "[success]" line ≈ 660 bytes, measured from BENCH_r12.json's
    // tail, which starts mid-line at q30: q01–q29 were cut. The
    // queries are numerically ordered and densely numbered, so a
    // RANGE-ARRAY line ({"qtb":31,"t":[33,36,...]} — position i is
    // query base+i, integer centiseconds) carries the same evidence at
    // ~4 bytes/query: the WHOLE catalog now fits the window with ~40%
    // headroom, so nothing is cut at all. Lines stay oldest-first:
    // the driver keeps the LAST ~2000 stdout chars, so if the catalog
    // ever outgrows the window again the truncation eats the OLDEST
    // (already-known) queries first — BENCH_r12's tail shows exactly
    // that degradation shape. Runs split on any numbering gap so
    // position decoding stays exact; `scripts/check.py --cut` asserts
    // recovery against THIS exact byte layout.
    locally {
      // a name with no digit run cannot ride a range array — its base
      // would decode as bogus keys ("-1","0",…) in load_bench's
      // position decode — so it gets its own NAMED line instead of
      // being dropped (ADVICE r13 #1); and two queries sharing a
      // number would silently overwrite each other in that same
      // decode, so uniqueness is asserted at emit time (the artifacts
      // are already on disk by here — the crash costs only tail lines
      // and EntrySpec pins the invariant earlier)
      val (numbered, unnumbered) = results.partition { case (n, _) =>
        "\\d+".r.findFirstIn(n).isDefined }
      val nums = numbered.map { case (n, t) =>
        ("\\d+".r.findFirstIn(n).get.toInt, t) }
      val dup = nums.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
      require(dup.isEmpty, "qtb emit: duplicate query numbers " +
        s"${dup.mkString(",")} would collide in the tail's position " +
        "decode — renumber the catalog")
      val runs = scala.collection.mutable.ListBuffer.empty[Vector[(Int, Double)]]
      for (q <- nums) {
        if (runs.nonEmpty && q._1 == runs.last.last._1 + 1)
          runs(runs.size - 1) = runs.last :+ q
        else runs += Vector(q)
      }
      for (run <- runs; grp <- run.grouped(25)) {
        val ts = grp.map { case (_, t) => math.rint(t * 100).toLong }
        println(s"""{"qtb":${grp.head._1},"t":[${ts.mkString(",")}]}""")
      }
      for ((n, t) <- unnumbered)
        println(s"""{"qtn":${Core.jsonStr(n)},"t":${math.rint(t * 100).toLong}}""")
    }
    // the full line is ~3 KB and the driver's tail capture truncates its
    // head (BENCH_r02 "parsed": null) — emit a short total-only line
    // LAST so the driver always gets a parseable JSON line; per-query
    // details stay in bench.json. BENCH_r03 showed even the short
    // stdout line arrives as "[info] {...}" — print it to stderr too
    // (sbt passes forked stderr through unprefixed) and pin
    // `run / outputStrategy := StdoutOutput` in build.sbt.
    val shortLine = s"""{"metric":"total","value":$total,"unit":"sec","warm":$warmSec,"errors":${errors.size},"calibration":$calShort,"sf":"$sfDir"}"""
    println(shortLine)
    System.err.println(shortLine)
    Session.finish(spark, "bench", errors.map(_._1).toSeq)
  }
}
