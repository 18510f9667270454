package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming surface (SURVEY.md §2B "streaming (events)").
  *
  * The reference's closest concept is incremental chunk completion
  * (`as_completed`, unified_code.py:455) plus the SQLite checkpoint
  * (unified_code.py:96–148) — at-least-once with skip-on-replay
  * (SURVEY.md §4.4). Structured Streaming supersedes both: offset
  * tracking + idempotent sinks give exactly-once, watermarks bound
  * state, and the same DataFrame operators run incrementally.
  *
  * These transforms take a (possibly streaming) events-shaped
  * DataFrame `(event_id long, ts timestamp, user_id long,
  * event_type string, value double)` and are exercised with
  * MemoryStream in StreamingSpec (no oracle — the DuckDB gate is
  * batch-only). Scale notes: state size is bounded by watermark ×
  * key cardinality; tumbling/sliding windows use the built-in
  * windowing state store; sessionization state is one small case
  * class per active user.
  */
object StreamingOps {

  /** Tumbling 1-hour window aggregation with a 10-minute watermark —
    * late events beyond the watermark are dropped. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("sum_v"))

  /** Sliding window: 30-minute windows every 10 minutes. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "30 minutes", "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** Session windows: built-in session_window with a 30-minute gap. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("user_id"), col("n"))

  /** Streaming dedup bounded by watermark (the streaming analog of
    * exact dedup; state is dropped once the watermark passes). */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  /** Stream-static enrichment: the static side is broadcast per
    * micro-batch (no state), the classic dimension-join shape. */
  def enrichWithStatic(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")

  /** Stream-stream self-join: pair each 'click' with a 'purchase' by
    * the same user within 30 minutes after it. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * state is provably droppable — the two requirements Structured
    * Streaming imposes on stream-stream joins.
    *
    * `joinType = "left_outer"` additionally emits (click, null) for
    * clicks that never converted: the engine holds each click until
    * the watermark passes its 30-minute match window, so the null row
    * is emitted exactly once and only when a match has become
    * impossible — conversion-funnel semantics with bounded state. */
  def clickToPurchase(events: DataFrame, joinType: String = "inner"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"),
      joinType)
      .select(col("click_id"), col("purchase_id"), col("c_user").as("user_id"))
  }

  /** Streaming ingest dedup screen: drop incoming docs that are exact
    * or near duplicates of the EXISTING corpus — the streaming face of
    * batch q71. Enabled by the row-local MinHashSigs expression: band
    * keys need no per-doc aggregation, so the whole screen is
    * STATELESS (narrow projections + stream-static left joins in
    * append mode — no watermark, no state store; each micro-batch
    * joins against the static index and forgets). Scale: the index
    * side is a normal shuffled/broadcast join per micro-batch; at
    * 100 TB it is the stored signature index, and each batch's cost is
    * O(batch), matching q71's incremental contract.
    *
    * `bandIndex` = (band, band_key) rows (Dedup.bandKeyIndex);
    * `textIndex` = one `t` column of md5(text) hashes. Pass
    * `md5Base = false` in production (xxhash64 path); true matches the
    * oracle-checked batch q71 exactly (asserted in StreamingSpec). */
  def screenIncoming(incoming: DataFrame, bandIndex: DataFrame,
      textIndex: DataFrame, md5Base: Boolean = false): DataFrame = {
    val s = incoming.sparkSession
    graft.functions.WordShingles.register(s)
    graft.functions.MinHashSigs.register(s)
    val sigExpr =
      if (md5Base) graft.functions.MinHashSigs.minhash_sigs(col("shg"))
      else graft.functions.MinHashSigs.minhash_sigs_fast(col("shg"))
    var df = incoming
      .withColumn("shg", graft.functions.WordShingles.word_shingles(lower(col("text")), 3))
      .withColumn("sigs", when(size(col("shg")) > 0, sigExpr))
      .withColumn("thash", md5(col("text")))
      .join(textIndex.select(col("t").as("xt")).distinct().withColumn("xhit", lit(1)),
        col("thash") === col("xt"), "left")
    // one stateless equi-join per band (an OR across bands would be a
    // loop join; exploding bands would need a re-aggregation, which
    // append-mode streaming forbids — per-band left joins keep it flat)
    val nBands = graft.functions.MinHashSigs.NumHashes / 4
    for (b <- 0 until nBands) {
      val key = concat_ws(",", (0 until 4).map(r => col("sigs")(b * 4 + r).cast("string")): _*)
      val idx = bandIndex.filter(col("band") === b)
        .select(col("band_key").as(s"ik$b")).distinct()
        .withColumn(s"bhit$b", lit(1))
      df = df.withColumn(s"bk$b", key).join(idx, col(s"bk$b") === col(s"ik$b"), "left")
    }
    df.filter(col("xhit").isNull &&
        (0 until nBands).map(b => col(s"bhit$b").isNull).reduce(_ && _))
      .select(incoming.columns.map(col): _*)
  }

  /** Streaming ingest quality gate: apply the corpus snapshot's
    * per-source quality thresholds (Hygiene.qualityThresholds — q110's
    * cut scores) to incoming documents. STATELESS like screenIncoming:
    * the score is a row-local codegen'd expression over the incoming
    * text, the thresholds are a sources-sized static frame broadcast
    * into each micro-batch, and the filter is narrow — append mode, no
    * watermark, no state store. This is how production freezes a gate:
    * thresholds come from the last corpus snapshot (recomputed
    * per-snapshot by the batch job), and ingest applies them
    * deterministically until the next snapshot — a stream can't rank
    * "top 30%" over data it hasn't seen, so the snapshot percentile IS
    * the gate. Emits the score so downstream sinks can audit. */
  def gateIncoming(incoming: DataFrame, thresholds: DataFrame): DataFrame =
    incoming
      .withColumn("q_score", graft.ops.TextOps.qualityScore(lower(col("text"))))
      .join(broadcast(thresholds), Seq("source"))
      .filter(col("q_score") >= col("cut_score"))
      .select(incoming.columns.map(col) :+ col("q_score"): _*)

  final case class EventRow(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class UserAgg(user_id: Long, n: Long, total: Double)

  final case class DocRow(doc_id: Long, text: String)

  /** Stateless streaming sim-channel screen: keep only incoming docs
    * whose 60-bit SimHash is NOT within Hamming distance 3 of any
    * fingerprint in the stored sim-block index (IndexStore's
    * `sim_blocks` artifact) — the streaming mirror of
    * `IndexStore.screenBatchSim`, dropping term-distribution twins at
    * ingest. The fingerprint is the row-local SimHash60 codegen call
    * (legal in append mode — a groupBy-based fingerprint would not
    * be); each pigeonhole block is one stream-static LEFT ANTI join
    * whose condition carries the exact bit_count verify, so a doc
    * within Hamming ≤ 3 shares ≥1 block and is removed by that
    * block's join. Docs with no words keep (null fingerprint never
    * matches). */
  def screenIncomingSim(incoming: DataFrame, simBlocks: DataFrame): DataFrame = {
    val s = incoming.sparkSession
    graft.functions.SimHash60.register(s)
    var df = incoming.withColumn("sim",
      graft.functions.SimHash60.sim_hash60(lower(col("text"))))
    for (b <- 0 until 4) {
      val idx = simBlocks.filter(col("b") === b)
        .select(col("bv").as(s"ibv$b"), col("sim").as(s"isim$b"))
      df = df.join(idx,
        expr(s"((sim >> ${b * 15}) & 32767) = ibv$b AND bit_count(sim ^ isim$b) <= 3"),
        "left_anti")
    }
    df.select(incoming.columns.map(col): _*)
  }

  /** Retry a store mutation that loses a first-committer-wins race —
    * the AVAILABILITY half of the OCC contract. The deployment the
    * scaladocs bless (out-of-band compact on a maintenance schedule
    * against a live ingest loop) makes an occasional loss NORMAL
    * operation, and an uncaught ConcurrentModificationException would
    * propagate out of foreachBatch and terminate the streaming query;
    * a retry re-reads the store (the loser's staged files are inert)
    * and re-commits against the new state. Bounded attempts — a store
    * losing every retry indicates a runaway writer, which SHOULD
    * surface. Only the OCC loss shape is retried: a reader racing an
    * out-of-band VACUUM is a different failure (FileNotFound inside a
    * Spark task) whose mitigation is the vacuum retention window
    * (`vacuum(root, retain ≥ 2)` / `graft.store.vacuumRetain`) — the
    * documented discipline for any store with readers outside the
    * maintenance job, this loop included. */
  private def withOccRetry[T](attempts: Int = 3)(body: => T): T =
    try body catch {
      case e: java.util.ConcurrentModificationException =>
        if (attempts <= 1) throw e
        withOccRetry(attempts - 1)(body)
    }

  /** Best-effort in-loop maintenance: a compaction that loses an OCC
    * race is simply skipped — the gate re-fires on the next fold, and
    * maintenance must never take the ingest stream down. (Anything
    * other than the OCC loss still surfaces: swallowing arbitrary
    * failures would mask real corruption.) */
  private def compactBestEffort(s: SparkSession, dir: String): Unit =
    try { graft.ops.IndexStore.compactIfFragmented(s, dir); () }
    catch { case _: java.util.ConcurrentModificationException => () }

  /** The vector model's in-loop maintenance, on the same best-effort
    * contract: a retrain ([[graft.ops.IndexStore.retrainIfDrifted]])
    * that loses an OCC race skips this tick. */
  private def retrainBestEffort(s: SparkSession, dir: String): Unit =
    try { graft.ops.IndexStore.retrainIfDrifted(s, dir); () }
    catch { case _: java.util.ConcurrentModificationException => () }

  /** Continuous corpus ingestion with ROLLING index maintenance — the
    * `foreachBatch` body around `IndexStore.screenAndFold`, the
    * SINGLE-BASE screen+append transaction (composing screenBatch and
    * append as separate calls would leave an undetectable window
    * between their two pointer reads). Each micro-batch is screened
    * against the CURRENT store — so a doc admitted in micro-batch 1 correctly
    * blocks its twin arriving in micro-batch 3, which the stateless
    * screens above cannot do (their index is frozen at stream start) —
    * and the keepers are folded into every channel (bands,
    * fingerprints, sim blocks, labels, bloom) before the next batch
    * runs. Structured Streaming executes micro-batches serially per
    * query, so the read-modify-write cycle needs no locking; the
    * semantics are exactly a sequential daily screen+append job run at
    * micro-batch cadence (StreamingSpec pins decisions and the final
    * store against that replay). Intra-batch duplicates are NOT
    * screened against each other, matching q71's batch-vs-corpus
    * contract — callers wanting intra-batch exact dedup apply
    * `dropDuplicates("text")` first.
    *
    * Per-batch cost is O(batch) against the stored artifacts plus the
    * append's narrow fingerprint-channel bloom re-agg; nothing scans
    * corpus text. Returns the batch's decisions frame
    * (doc_id, exact_dup, near_dup, decision) for sinking/audit —
    * checkpointed eagerly so its lazy plan cannot observe the store
    * post-append (which would flag every kept doc as its own dup).
    *
    * Usage: `.writeStream.foreachBatch { (b, _) =>
    *   StreamingOps.ingestAndMaintain(spark, indexDir, b); () }`. */
  def ingestAndMaintain(s: SparkSession, indexDir: String,
      batch: DataFrame): DataFrame = {
    // screenAndFold is the single-base transaction: the screen and the
    // fold share ONE captured base, so a rival landing ANYWHERE in the
    // read-modify-write — including between screen and append, a
    // window separate pointer reads could not detect — raises the OCC
    // loss, and the retry re-screens against the advanced store (stale
    // keep decisions must never admit a doc whose twin the rival just
    // committed)
    val decisions = withOccRetry() {
      graft.ops.IndexStore.screenAndFold(s, indexDir, batch)
    }
    compactBestEffort(s, indexDir)
    decisions
  }

  /** Text-channel sibling of [[ingestAndMaintain]]: fold each
    * micro-batch into the persisted BM25 postings index
    * (IndexStore.appendText — O(batch) term-sorted postings files +
    * doc_lens rows; df and corpus stats derive from the merged
    * channels at query time, so a query between micro-batches always
    * scores against the corpus-so-far). Micro-batches execute
    * serially per query, so the append needs no locking. Callers
    * screening for duplicates first compose the two:
    * `foreachBatch { (b, _) =>
    *    val d = StreamingOps.ingestAndMaintain(spark, dedupIdx, b)
    *    val kept = b.join(d.filter($"decision" === "keep")
    *      .select($"doc_id"), Seq("doc_id"), "left_semi")
    *    StreamingOps.ingestAndMaintainText(spark, textIdx, kept) }`.
    * TextIndexSpec pins the streamed store ≡ one-shot writeText on
    * channels and on query scores. After each fold the
    * `graft.store.maxSnapshots` gate (IndexStore.compactIfFragmented,
    * all three ingest loops) bounds the store's read fan-out: a
    * long-running stream compacts every ~maxSnapshots micro-batches
    * instead of fragmenting forever — compact-only by default (safe
    * with concurrent readers; `graft.store.vacuumOnCompact=true` adds
    * immediate reclaim for single-owner stores). TextIndexSpec pins
    * the gated loop ≡ one-shot too. */
  def ingestAndMaintainText(s: SparkSession, textIndexDir: String,
      batch: DataFrame): Unit = {
    withOccRetry() { graft.ops.IndexStore.appendText(s, textIndexDir, batch) }
    compactBestEffort(s, textIndexDir)
  }

  final case class VecRow(vec_id: Long, label: String, unit: Seq[Double])

  /** Vector-channel sibling of [[ingestAndMaintainText]]: fold each
    * micro-batch of (vec_id, label, unit) rows into the persisted IVF
    * index (IndexStore.appendVectors — assignment under the FROZEN
    * snapshot centroids, O(batch) rows staged into the cid-partitioned
    * cells layout, one snapshot transaction per micro-batch). IVF
    * semantics survive streaming unchanged because the model retrains
    * per snapshot, not per batch: a query between micro-batches probes
    * the same centroids over the cells-so-far. The store must exist
    * (writeVectors trains and writes the model first — a stream cannot
    * bootstrap a centroid model from its opening batch). Micro-batches
    * execute serially per query, so the append needs no locking; the
    * disjoint-batch guard in appendVectors skips an exact at-least-once
    * redelivery idempotently and refuses partial overlap loudly. StreamingSpec pins the streamed store ≡ one-shot
    * writeVectors on channels and on annFromStore results.
    *
    * `raw` threads the batch's raw (vec_id, label, embedding) rows to
    * appendVectors' projected-channel maintenance: REQUIRED when the
    * store carries the projected-ANN channels (both semantic arms
    * advance in the same snapshot transaction — appendVectors refuses
    * a proj-carrying store without it), refused when it doesn't. */
  def ingestAndMaintainVectors(s: SparkSession, vecIndexDir: String,
      batch: DataFrame, raw: Option[DataFrame] = None): Unit = {
    withOccRetry() { graft.ops.IndexStore.appendVectors(s, vecIndexDir, batch, raw) }
    // drift gate before the fragmentation gate: a retrain REWRITES the
    // cells channel (collapsing fragmentation as a side effect), so
    // firing it first saves the compaction a redundant O(corpus) pass
    // on the tick where both trip. Same best-effort contract: an OCC
    // loss skips this tick's maintenance, never takes ingest down.
    retrainBestEffort(s, vecIndexDir)
    compactBestEffort(s, vecIndexDir)
  }

  /** Unified-store sibling of [[ingestAndMaintainText]] /
    * [[ingestAndMaintainVectors]]: fold each micro-batch's (docs,
    * vectors) PAIR into the unified store as ONE atomic cross-family
    * commit (IndexStore.appendUnified) — so a hybrid reader racing the
    * stream can never observe new postings with old cells; the
    * consistency the paired-version routes (q142/q145) enforce by
    * caller discipline holds here BY CONSTRUCTION at every micro-batch
    * boundary (StreamingSpec walks the streamed store's history and
    * pins that both families' censuses advance together at every
    * committed version). appendUnified's pairwise guard makes an
    * at-least-once redelivery of the pair idempotent and refuses a
    * mismatched pairing; maintenance shares the established order
    * (drift gate first — a retrain rewrite collapses fragmentation as
    * a side effect — then the fragmentation gate) and the best-effort
    * contract (an OCC loss skips the tick's maintenance, never takes
    * ingest down). `raw` threads the batch's raw (vec_id, label,
    * embedding) rows to appendUnified's projected-channel maintenance:
    * REQUIRED on a proj-carrying unified store whenever the vectors
    * side is non-empty (both semantic arms advance in the same
    * pair-atomic commit), refused when the store carries no proj
    * channels — the ingestAndMaintainVectors contract on the
    * single-pointer store. `payloads` threads the batch's media rows
    * to the media family of the same commit (the appendUnified
    * contract: refused on a media-less store; the late-payload
    * catch-up is a media-only tick). */
  def ingestAndMaintainUnified(s: SparkSession, root: String,
      docs: DataFrame, vectors: DataFrame,
      raw: Option[DataFrame] = None,
      payloads: Option[DataFrame] = None): Unit = {
    withOccRetry() {
      graft.ops.IndexStore.appendUnified(s, root, docs, vectors, raw,
        payloads)
    }
    retrainBestEffort(s, root)
    compactBestEffort(s, root)
  }

  /** [[ingestAndMaintainUnified]] behind the drift circuit breaker
    * (IndexStore.appendUnifiedGated) — the governed tier for the
    * single-pointer store: each micro-batch pair's sources are
    * PSI-checked against the stored anchor census, and a source whose
    * tick would rot the mix is held out of BOTH families (docs AND
    * their vectors), so a poisoned upstream cannot contaminate either
    * side of the hybrid store while an operator decides — with the
    * pair-consistency and census-lockstep guarantees intact at every
    * committed version (SelectionSpec pins hold, fold, and recovery).
    * Returns the per-source drift report with the `held` flag — sink
    * it: what was REFUSED never enters the census, so the report is
    * the only audit trail of the hold. Same OCC-retry (the retry
    * recomputes the verdict against the advanced census) and
    * best-effort maintenance contract as the other four loops.
    * `orderGate`/`maxOrderPsi` thread to the opt-in word-order
    * self-null screen (the appendUnifiedGated contract: an order-held
    * source's rows land in NO channel of the tick's commit). */
  def ingestAndMaintainUnifiedGoverned(s: SparkSession, root: String,
      docs: DataFrame, vectors: DataFrame, anchor: String,
      maxPsi: Double = 0.25, raw: Option[DataFrame] = None,
      payloads: Option[DataFrame] = None, orderGate: Boolean = false,
      maxOrderPsi: Double = 0.25): DataFrame = {
    val rep = withOccRetry() {
      graft.ops.IndexStore.appendUnifiedGated(s, root, docs, vectors,
        anchor, maxPsi, raw, payloads, orderGate = orderGate,
        maxOrderPsi = maxOrderPsi)
    }
    retrainBestEffort(s, root)
    compactBestEffort(s, root)
    rep
  }

  final case class SessionSeq(user_id: Long, session_id: Long,
      n_events: Long, seq: String)
  final case class SessState(nextId: Long, lastUs: Long,
      buf: List[(Long, Long, String)]) // (ts_us, event_id, event_type)

  /** Streaming mirror of batch q125 (behavioral session sequences):
    * per-user custom state sessionizer on a 30-minute event-time gap,
    * emitting each CLOSED ≥3-event session as its ordered event-type
    * string. A session closes when a later event of the same user
    * arrives past the gap, or when the watermark passes lastTs+gap
    * (EventTimeTimeout) — so results are append-mode final. Sessions
    * are NUMBERED whether or not they emit (short ones are counted,
    * not emitted), which keeps session_ids identical to the batch
    * query's sequential numbering. Scale: state per user is the open
    * session's events (gap-bounded), exactly the q24 state argument;
    * timeout eviction caps idle-user state at one open session. */
  def sessionSequences(events: Dataset[EventRow],
      gapMin: Int = 30): Dataset[SessionSeq] = {
    import events.sparkSession.implicits._
    val gapUs = gapMin * 60L * 1000000L
    def us(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    def close(uid: Long, st: SessState): Option[SessionSeq] =
      if (st.buf.size >= 3)
        Some(SessionSeq(uid, st.nextId, st.buf.size.toLong,
          st.buf.sortBy(e => (e._1, e._2)).map(_._3).mkString(" ")))
      else None
    events.withWatermark("ts", "1 hour").as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionSeq](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[EventRow], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.flatMap(close(uid, _))
            // keep a counter-preserving TOMBSTONE instead of removing
            // the state: a user who returns after the timeout must
            // continue the sequential numbering (batch q125 numbers a
            // resumed user's next session n+1, and a remove() here
            // would restart it at 1, emitting duplicate session_ids).
            // No timeout is re-armed, so the tombstone never fires
            // again; the retained state is three scalars per
            // ever-seen user — the same O(distinct users) a batch
            // replay holds, and far below the open-session buffers.
            state.getOption.foreach(st =>
              state.update(SessState(st.nextId + 1, Long.MinValue, Nil)))
            out.iterator
          } else {
            val incoming = it.toSeq.sortBy(e => (us(e.ts), e.event_id))
            var st = state.getOption.getOrElse(SessState(1L, Long.MinValue, Nil))
            val out = Seq.newBuilder[SessionSeq]
            incoming.foreach { e =>
              val eus = us(e.ts)
              if (st.buf.nonEmpty && eus - st.lastUs > gapUs) {
                close(uid, st).foreach(out += _)
                st = SessState(st.nextId + 1, Long.MinValue, Nil)
              }
              st = SessState(st.nextId, math.max(st.lastUs, eus),
                st.buf :+ ((eus, e.event_id, e.event_type)))
            }
            state.update(st)
            state.setTimeoutTimestamp(st.lastUs / 1000L + gapMin * 60L * 1000L)
            out.result().iterator
          }
      }
  }

  /** Custom keyed state via flatMapGroupsWithState: running per-user
    * totals emitted on every update (OutputMode.Update). */
  def runningUserTotals(events: Dataset[EventRow]): Dataset[UserAgg] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserAgg, UserAgg](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[EventRow], state: GroupState[UserAgg]) =>
          val prev = state.getOption.getOrElse(UserAgg(uid, 0L, 0.0))
          var n = prev.n
          var total = prev.total
          it.foreach { e => n += 1; total += e.value }
          val next = UserAgg(uid, n, total)
          state.update(next)
          Iterator(next)
      }
  }
}
