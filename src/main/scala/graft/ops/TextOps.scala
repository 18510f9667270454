package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Core._

/** Text-analysis operators over `documents` (north-star LLM-pipeline
  * surface): language-ID heuristic, quality scoring, token counting,
  * document fingerprinting.
  *
  * Everything is built from codegen'd built-ins (regexp_*, split, md5) —
  * one narrow pass per query, no UDFs, no shuffles except final sorts.
  * Integer-ratio roundings use Core.rnd4 (floor-based), which is
  * bit-identical across engines even on representable .xxxx5 ties.
  */
object TextOps {

  /** (doc_id, w1, pr) — one row per adjacent token pair, generated by
    * a narrow in-row slice/transform (no positional self-join).
    * Memoized+cached once per session: the BPE pair counter (q69) and
    * the bigram LM scorer (q77, which needs the frame THREE times —
    * two model counts plus the scoring join) share one explode pass. */
  private[ops] def bigramRows(s: SparkSession, dir: String): DataFrame =
    memo(s, s"textops.bigrams:$dir") {
      fanOut(s, table(s, dir, "documents"))
        .withColumn("ws", split(lower(col("text")), " "))
        .select(col("doc_id"), explode(expr(
          "transform(slice(ws, 1, size(ws)-1), (x, i) -> struct(x AS w1, concat(x, ' ', ws[i+1]) AS pr))"))
          .as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.pr").as("pr"))
    }

  /** (doc_id, pos, tid) — every token encoded to its frequency-rank
    * vocab id (q78's body). Memoized+cached once per session: the
    * token-id dump (q78) and the context windower (q83) share one
    * tokenize+encode pass. The vocab rank window runs over O(vocab)
    * rows only; the encode join broadcasts the vocab. */
  private[ops] def tokenIds(s: SparkSession, dir: String): DataFrame =
    memo(s, s"textops.tokids:$dir") {
      val toks = fanOut(s, table(s, dir, "documents"))
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), " ")).as(Seq("pos", "tok")))
        .filter(length(col("tok")) > 0)
      val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .withColumn("tid", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("n").desc, col("tok"))))
        .select(col("tok"), col("tid"))
      toks.join(broadcast(vocab), Seq("tok"))
        .select(col("doc_id"), col("pos"), col("tid"))
    }

  /** Per-doc bigram-LM scores (q77's body, shared with q121): count
    * model P(w2|w1) from the corpus's own pairs, each doc scored as
    * the rnd4-rounded mean ln P over its adjacent pairs. Per-pair
    * logs ride through a decimal cast so the sum is order-independent
    * across engines. Memoized: q77 dumps it, q121 ranks it. */
  private[ops] def lmScores(s: SparkSession, dir: String): DataFrame =
    memo(s, s"textops.lmScores:$dir") {
      val D = org.apache.spark.sql.types.DecimalType(28, 12)
      val pairs = bigramRows(s, dir)
      val c2 = pairs.groupBy(col("w1"), col("pr")).agg(count(lit(1)).as("c2"))
      val c1 = pairs.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      val model = c2.join(c1, Seq("w1"))
        .select(col("pr"), (col("c2").cast("double") / col("c1")).as("pcond"))
      pairs.join(broadcast(model), Seq("pr"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_pairs"),
          rnd4(sum(log(col("pcond")).cast(D)).cast("double") / count(lit(1)))
            .as("mean_logp"))
    }

  /** Web-scale spelling of q121's CCNet bucketing: instead of one
    * global ntile(3) window (an O(n log n) single-partition sort at
    * corpus scale), cut the score distribution at its approximate
    * 1/3 and 2/3 quantiles — q66's mergeable Greenwald-Khanna sketch,
    * a partial+final aggregate whose shuffle carries sketch bytes,
    * not rows — and broadcast the two cut points as a 1-row frame
    * (q119's crossJoin-of-a-broadcast-1-row-aggregate shape). Bucket
    * assignment becomes a row-local comparison; no exchange touches
    * the corpus beyond the scoring pass itself.
    *
    * Divergence from the ntile anchor is confined to the cut line:
    * ntile splits exact thirds regardless of ties, the threshold
    * keeps tie groups together and carries the sketch's rank error.
    * OpsSpec pins ≥95% per-doc bucket agreement at test scale plus
    * the construction invariant (buckets monotone in score); the
    * catalog q121 stays the oracle-checked ntile spelling. */
  def lmBucketsScalable(s: SparkSession, dir: String): DataFrame = {
    val scores = lmScores(s, dir).select(col("doc_id"), col("mean_logp"))
    val cuts = scores.agg(percentile_approx(col("mean_logp"),
        array(lit(1.0 / 3), lit(2.0 / 3)), lit(10000)).as("c"))
      .select(col("c")(0).as("t_tail"), col("c")(1).as("t_head"))
    scores.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("mean_logp") >= col("t_head"), "head")
          .when(col("mean_logp") >= col("t_tail"), "middle")
          .otherwise("tail"))
      .select(col("doc_id"), col("mean_logp"), col("bucket"),
        (col("bucket") =!= "tail").cast("int").as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Oracle CTEs shared by the bigram queries: `prs` = one row per
    * adjacent token pair (q77's spelling). */
  private val oPrs =
    """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
      prs AS (SELECT doc_id, ws[i] AS w1, ws[i] || ' ' || ws[i+1] AS pr
        FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-1)) AS i FROM toks))"""

  /** [[oPrs]] + the scored-doc LM frame (`lm`), q77/q121's shared
    * oracle chain. */
  private val lmCtes =
    s"""$oPrs,
      c2 AS (SELECT w1, pr, count(*) AS c2 FROM prs GROUP BY 1, 2),
      c1 AS (SELECT w1, count(*) AS c1 FROM prs GROUP BY 1),
      model AS (SELECT pr, cast(c2.c2 as double) / c1.c1 AS pcond
        FROM c2 JOIN c1 USING (w1)),
      scored AS (SELECT p.doc_id, count(*) AS n_pairs,
          cast(sum(cast(ln(m.pcond) as decimal(28,12))) as double) / count(*) AS mlp
        FROM prs p JOIN model m USING (pr) GROUP BY 1),
      lm AS (SELECT doc_id, n_pairs, ${oRnd4("mlp")} AS mean_logp FROM scored)"""

  /** Per-doc quality metrics, memoized once per session: the quality
    * report (q41), corpus curation (q47) and the training pipeline
    * (q76) all gate on the same regexp-heavy scoring pass — five
    * regexp scans of every document. The cached frame is narrow
    * numeric columns only (no text), so downstream consumers never
    * rescan the corpus for a quality decision. */
  private[ops] def scoredDocs(s: SparkSession, dir: String): DataFrame =
    memo(s, s"textops.scored:$dir") {
      val txt = lower(col("text"))
      val nWords = size(split(txt, " "))
      val nStop = size(regexp_extract_all(txt,
        lit("\\b(the|a|of|and|in|to|is|it|for|on)\\b"), lit(0)))
      val nPunct = length(txt) - ccount(txt, "[^a-z0-9 ]")
      fanOut(s, table(s, dir, "documents")).select(
        col("doc_id"),
        nWords.as("n_words"),
        rnd4(nStop.cast("double") / nWords).as("stopword_ratio"),
        rnd4(nPunct.cast("double") / length(txt)).as("punct_ratio"),
        rnd4(least(length(txt).cast("double") / 500, lit(1.0))).as("len_score"),
        qualityScore(txt).as("quality_score"),
        size(regexp_extract_all(txt,
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("n_tokens"))
    }

  /** Force-materialize the memoized frames (Bench warm phase, timed). */
  def warm(s: SparkSession, dir: String): Seq[(String, Double)] = Seq(
    timedBuild("textops.bigramRows") { bigramRows(s, dir).count(); () },
    timedBuild("textops.tokenIds") { tokenIds(s, dir).count(); () },
    timedBuild("textops.scoredDocs") { scoredDocs(s, dir).count(); () },
    timedBuild("textops.lmScores") { lmScores(s, dir).count(); () },
    timedBuild("textops.bm25Index") { bm25Index(s, dir).count(); () },
    // r17b: the session-route BM25 corpus frames (doc lengths + 1-row
    // census) join the memo tier — warm-built so their one-time agg
    // lands here, not on q114 (additions-only, total unchanged)
    timedBuild("textops.docLens") { docLens(s, dir).count(); () },
    timedBuild("textops.bm25Stats") { bm25CorpusStats(s, dir).count(); () },
    // r17b: the two deterministic retrieval probes (min/max-doc terms)
    // joined the qprobe memo — warm-build them here so the one-time
    // 2-job lookup lands on this stable line, not on whichever
    // store-fed retrieval query runs first (the q154/projections
    // attribution lesson; additions-only, total unchanged)
    timedBuild("textops.qprobe") {
      qprobeOfExtreme(s, dir, useMax = false)
      qprobeOfExtreme(s, dir, useMax = true); () })

  /** The ONE persisted postings store (q139's index ≡ q143's ingest
    * history since the r10 consolidation — textStore aliases it), a
    * maintained artifact built once per JVM in the TIMED warm phase
    * (the q137 snapshot-store pattern), so catalog queries measure
    * store-fed lookups, never the ingest. Split from [[warm]]
    * (VERDICT r14 next #3) so the bench stages it concurrently with
    * the other families' store fixtures; the serving clone chains
    * INSIDE this family's thread (it reads the versioned root). */
  def warmStores(s: SparkSession, dir: String): Seq[(String, Double)] = Seq(
    timedBuild("textops.versionedTextStore") { versionedTextStore(s, dir); () },
    // the serving clone (q139/q142/q145's single-path read layout) —
    // a channel copy, not a second tokenize
    timedBuild("textops.textStore") { textStore(s, dir); () })

  /** The (doc_id, term, tf) postings rows of an ARBITRARY documents
    * frame — the index-build entry point shared by the session memo
    * ([[bm25Index]]) and the persisted text channel
    * (IndexStore.writeText/appendText). */
  private[graft] def postingsFor(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(
        regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))

  /** The BM25 index frame: one (doc_id, term, tf) row per distinct
    * term per doc — the single explode+agg pass every retrieval
    * derivative (dl = sum(tf), df = count per term, scoring) reads.
    * Memoized: the index is built once per corpus snapshot and
    * queried many times; recomputing the token explode per consumer
    * was a measured 4–5× tax at the 100× probe. */
  private[ops] def bm25Index(s: SparkSession, dir: String): DataFrame =
    memo(s, s"textops.bm25Index:$dir") {
      postingsFor(table(s, dir, "documents"))
    }

  /** The deterministic retrieval probe both BM25 routes share: the
    * distinct [a-z]+ terms of the corpus's min-doc_id document,
    * collected driver-side (ONE bounded row — the query text of a
    * retrieval call is driver data by nature). */
  private[graft] def qtermsOf(s: SparkSession, dir: String): Seq[String] =
    qtermsOfExtreme(s, dir, useMax = false)

  /** Terms of the min- or max-doc_id document — the second
    * deterministic probe the BATCH retrieval query (q144) pairs with
    * the first. */
  private[graft] def qtermsOfExtreme(s: SparkSession, dir: String,
      useMax: Boolean): Seq[String] =
    qprobeOfExtreme(s, dir, useMax)._2

  /** (probe doc_id, its distinct terms), memoized per (dir, extreme)
    * — the [[Core.tableRows]] discipline: the probe is a pure function
    * of the immutable corpus dir, and before the memo every store-fed
    * retrieval query re-ran the same two bounded head() jobs (min/max
    * agg + point lookup) per invocation — 2–5 sequential driver
    * round-trips of probe prep per hybrid/batch query and per serving
    * call at scale. The id doubles as the hybrid routes' self-exclude
    * doc (it IS the min/max doc_id), so q142/q153 skip their separate
    * 1-row min head too. */
  private val qprobes = new Memo[(String, Boolean), (Long, Seq[String])]
  private[graft] def qprobeOfExtreme(s: SparkSession, dir: String,
      useMax: Boolean): (Long, Seq[String]) =
    qprobes((dir, useMax)) {
      import s.implicits._
      val docs = table(s, dir, "documents")
      val qid = docs.agg(if (useMax) max($"doc_id") else min($"doc_id"))
        .head().getLong(0)
      val txt = docs.filter($"doc_id" === qid)
        .select(lower($"text")).head().getString(0)
      (qid, "[a-z]+".r.findAllIn(txt).toSeq.distinct)
    }

  /** Core BM25 scoring (k1 = 1.2, b = 0.75, Lucene idf), shared by the
    * session route ([[bm25Rank]]) and the store route
    * ([[bm25RankDl]] via IndexStore.bm25FromStore): both feed the
    * identical expression tree — same double arithmetic, same
    * decimal(28,12) order-independent sum, same rnd4 — so the two
    * routes are bit-identical given equal (tf, df, dl, stats). */
  private def bm25ScoreJoined(joined: DataFrame, stats: DataFrame,
      groupCols: Seq[org.apache.spark.sql.Column] = Seq(col("doc_id"))): DataFrame = {
    val D = org.apache.spark.sql.types.DecimalType(28, 12)
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val tfd = col("tf").cast("double")
    val dld = col("dl").cast("double")
    val contrib = idf * ((tfd * 2.2) /
      (tfd + lit(1.2) * (lit(0.25) + lit(0.75) * (dld / col("avgdl")))))
    joined.crossJoin(broadcast(stats))
      .groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n_hit"),
        rnd4(sum(contrib.cast(D)).cast("double")).as("score"))
  }

  /** Session-route entry: `perDocQ` is the full postings frame (the
    * broadcast qdf join restricts it to query terms) and `dl` a
    * separate per-doc frame to join. */
  private[graft] def bm25Rank(perDocQ: DataFrame, qdf: DataFrame,
      dl: DataFrame, stats: DataFrame): DataFrame =
    bm25ScoreJoined(
      perDocQ.join(broadcast(qdf), Seq("term")).join(dl, Seq("doc_id")), stats)

  /** Store-route entry: `perDocQDl` already carries dl per row (the
    * postings channel denormalizes it at write time), so scoring needs
    * no doc-length join — the lookup stays O(Σ df) end to end. */
  private[graft] def bm25RankDl(perDocQDl: DataFrame, qdf: DataFrame,
      stats: DataFrame): DataFrame =
    bm25ScoreJoined(perDocQDl.join(broadcast(qdf), Seq("term")), stats)

  /** BATCH store-route entry: `perDocQDl` rows additionally carry the
    * qid they score for (the broadcast query-frame join expands a
    * shared term onto every query using it), and the aggregation keys
    * on (qid, doc_id). The expression tree per row is IDENTICAL to the
    * single-query routes — same double arithmetic, same exact
    * decimal(28,12) sum (order-independent, so per-qid scores are
    * bit-equal to running that query alone), same rnd4. */
  private[graft] def bm25RankDlBatch(perDocQDl: DataFrame, qdf: DataFrame,
      stats: DataFrame): DataFrame =
    bm25ScoreJoined(perDocQDl.join(broadcast(qdf), Seq("term")), stats,
      Seq(col("qid"), col("doc_id")))

  /** character-class count via global regexp removal (both engines). */
  private def ccount(c: Column, keepClass: String): Column =
    length(regexp_replace(c, keepClass, ""))

  private def oCcount(cls: String): String =
    s"(length(lower(text)) - length(regexp_replace(lower(text), '$cls', '', 'g')))"

  /** Composite quality score over a lower(text) column — shared by
    * q41, the corpus-curation pipeline (q47) and the streaming ingest
    * gate (StreamingOps.gateIncoming, hence private[graft]). */
  private[graft] def qualityScore(txt: Column): Column = {
    val nWords = size(split(txt, " "))
    val nStop = size(regexp_extract_all(txt,
      lit("\\b(the|a|of|and|in|to|is|it|for|on)\\b"), lit(0)))
    val nPunct = length(txt) - ccount(txt, "[^a-z0-9 ]")
    val stopR = rnd4(nStop.cast("double") / nWords)
    val punctR = rnd4(nPunct.cast("double") / length(txt))
    val lenScore = rnd4(least(length(txt).cast("double") / 500, lit(1.0)))
    rnd4(lit(0.5) * stopR + lit(0.3) * lenScore + lit(0.2) * (lit(1.0) - punctR))
  }

  /** DuckDB fragment mirroring qualityScore over lower(text). */
  private[ops] val oQualityScore: String = {
    val stopR = oRnd4("cast(len(regexp_extract_all(lower(text), '\\b(the|a|of|and|in|to|is|it|for|on)\\b')) as double) / len(string_split(lower(text), ' '))")
    val punctR = oRnd4(s"cast(${oCcount("[^a-z0-9 ]")} as double) / length(lower(text))")
    val lenScore = oRnd4("least(cast(length(lower(text)) as double) / 500, 1.0)")
    oRnd4(s"0.5 * $stopR + 0.3 * $lenScore + 0.2 * (1.0 - $punctR)")
  }

  /** Oracle CTE chain ending in `bm25(doc_id, n_hit, score)` — the SQL
    * mirror of [[bm25Scores]], shared by q114's and q115's oracles.
    * (Declared BEFORE `catalog`: object vals initialize in order, and
    * the catalog's oracle strings interpolate this one.) */
  private[ops] val oBm25Ctes: String =
    s"""postings AS (SELECT doc_id,
        unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term FROM documents),
      per_doc AS (SELECT doc_id, term, count(*) AS tf FROM postings GROUP BY 1, 2),
      dl AS (SELECT doc_id, count(*) AS dl FROM postings GROUP BY 1),
      stats AS (SELECT count(*) AS n_docs, avg(cast(dl as double)) AS avgdl FROM dl),
      q AS (SELECT DISTINCT term FROM postings
        WHERE doc_id = (SELECT min(doc_id) FROM documents)),
      qdf AS (SELECT term, count(*) AS df FROM per_doc JOIN q USING (term) GROUP BY 1),
      bm25_raw AS (SELECT p.doc_id, count(*) AS n_hit,
          cast(sum(cast(
            ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
            ((cast(p.tf as double) * 2.2) /
             (cast(p.tf as double) + 1.2 * (0.25 + 0.75 * (cast(l.dl as double) / s.avgdl))))
          as decimal(28,12))) as double) AS raw
        FROM per_doc p JOIN qdf d USING (term)
        JOIN dl l ON l.doc_id = p.doc_id CROSS JOIN stats s GROUP BY 1),
      bm25 AS (SELECT doc_id, n_hit, ${oRnd4("raw")} AS score FROM bm25_raw)"""

  val catalog: Map[String, Q] = Map(

    // ---- language-ID heuristic: script + vowel-profile scoring.
    // Classifies by character statistics (latin/cyrillic/cjk/other);
    // emits the per-doc feature vector so the decision is auditable. ----
    "q40_lang_id" -> Q(
      (s, dir) => {
        import s.implicits._
        val txt = lower($"text")
        val n = length(txt)
        val latin = n - ccount(txt, "[a-z]")
        val cyr = n - ccount(txt, "[\\u0430-\\u044f]")
        val cjk = n - ccount(txt, "[\\u4e00-\\u9fff]")
        val vowels = n - ccount(txt, "[aeiou]")
        table(s, dir, "documents").select(
            $"doc_id", $"lang",
            rnd4(latin.cast("double") / n).as("latin_ratio"),
            rnd4(cyr.cast("double") / n).as("cyr_ratio"),
            rnd4(vowels.cast("double") / greatest(latin, lit(1))).as("vowel_ratio"),
            when(cjk * 4 > n, "cjk")
              .when(cyr * 2 > n, "cyrillic")
              .when(latin * 2 > n, "latin")
              .otherwise("other").as("script_guess"))
          .orderBy($"doc_id")
      },
      Some(s"""SELECT doc_id, lang,
        ${oRnd4(s"cast(${oCcount("[a-z]")} as double) / length(lower(text))")} AS latin_ratio,
        ${oRnd4(s"cast(${oCcount("[а-я]")} as double) / length(lower(text))")} AS cyr_ratio,
        ${oRnd4(s"cast(${oCcount("[aeiou]")} as double) / greatest(${oCcount("[a-z]")}, 1)")} AS vowel_ratio,
        CASE WHEN ${oCcount("[一-鿿]")} * 4 > length(lower(text)) THEN 'cjk'
             WHEN ${oCcount("[а-я]")} * 2 > length(lower(text)) THEN 'cyrillic'
             WHEN ${oCcount("[a-z]")} * 2 > length(lower(text)) THEN 'latin'
             ELSE 'other' END AS script_guess
        FROM documents ORDER BY doc_id""")),

    // ---- quality scoring: length/punct/stopword ratios ----
    "q41_quality_score" -> Q(
      (s, dir) => {
        import s.implicits._
        // shares the session-memoized scoring pass with q47/q76
        scoredDocs(s, dir)
          .select($"doc_id", $"n_words", $"stopword_ratio", $"punct_ratio",
            $"len_score", $"quality_score")
          .orderBy($"doc_id")
      },
      Some {
        val stopR = oRnd4("cast(len(regexp_extract_all(lower(text), '\\b(the|a|of|and|in|to|is|it|for|on)\\b')) as double) / len(string_split(lower(text), ' '))")
        val punctR = oRnd4(s"cast(${oCcount("[^a-z0-9 ]")} as double) / length(lower(text))")
        val lenScore = oRnd4("least(cast(length(lower(text)) as double) / 500, 1.0)")
        s"""SELECT doc_id,
        cast(len(string_split(lower(text), ' ')) as int) AS n_words,
        $stopR AS stopword_ratio,
        $punctR AS punct_ratio,
        $lenScore AS len_score,
        $oQualityScore AS quality_score
        FROM documents ORDER BY doc_id"""
      }),

    // ---- token counting: whitespace + BPE-ish regex tokenizer ----
    "q42_token_count" -> Q(
      (s, dir) => {
        import s.implicits._
        val txt = lower($"text")
        val reTokens = size(regexp_extract_all(txt, lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
        table(s, dir, "documents").select(
            $"doc_id",
            size(split(txt, "\\s+")).as("ws_tokens"),
            reTokens.as("re_tokens"),
            $"n_chars",
            rnd4($"n_chars".cast("double") / reTokens).as("chars_per_token"))
          .orderBy($"doc_id")
      },
      Some(s"""SELECT doc_id,
        cast(len(regexp_split_to_array(lower(text), '\\s+')) as int) AS ws_tokens,
        cast(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) as int) AS re_tokens,
        n_chars,
        ${oRnd4("cast(n_chars as double) / len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))")} AS chars_per_token
        FROM documents ORDER BY doc_id""")),

    // ---- rolling-hash fingerprint via the custom codegen expressions
    // (RollingHash + WordShingles). ORACLE-CHECKED since round 13
    // (promoted from no_oracle, VERDICT r12 next #4): the 64-bit
    // wrapping polynomial hash IS replayable in DuckDB — fold the
    // bytes through HUGEINT (128-bit) arithmetic mod 2^64 and recentre
    // into signed BIGINT (the q141-promotion pattern; byte ≡ codepoint
    // under the corpus's ASCII texts, and a multibyte text would make
    // the two engines' folds DISAGREE, i.e. fail loudly, never
    // silently pass). DedupSimSpec's reference-value pin stays as the
    // independent third implementation. ----
    "q44_rolling_fingerprint" -> Q(
      (s, dir) => {
        import s.implicits._
        graft.functions.RollingHash.register(s)
        graft.functions.WordShingles.register(s)
        table(s, dir, "documents").select(
            $"doc_id",
            graft.functions.RollingHash.rolling_hash(lower($"text")).as("doc_hash"),
            size(graft.functions.WordShingles.word_shingles(lower($"text"), 3))
              .as("n_shingles"))
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, lower(text) AS t FROM documents),
        h AS (SELECT doc_id,
            CAST(CASE WHEN r >= 9223372036854775808
                 THEN r - 18446744073709551616 ELSE r END AS BIGINT) AS doc_hash
          FROM (SELECT doc_id,
              list_reduce(
                list_prepend(CAST(0 AS HUGEINT),
                  list_transform(range(1, length(t) + 1),
                    i -> CAST(ord(substr(t, CAST(i AS INT), 1)) AS HUGEINT))),
                (a, b) -> (a * 31 + b) % 18446744073709551616) AS r
            FROM t)),
        g AS (SELECT doc_id,
                ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT)+1] || ' ' ||
                  ws[CAST(i AS INT)+2] AS sh
              FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i
                    FROM (SELECT doc_id, string_split(t, ' ') AS ws FROM t))),
        ns AS (SELECT doc_id, count(DISTINCT sh) AS n FROM g GROUP BY 1)
        SELECT h.doc_id, h.doc_hash, CAST(coalesce(ns.n, 0) AS INT) AS n_shingles
        FROM h LEFT JOIN ns USING (doc_id) ORDER BY doc_id""")),

    // ---- vocabulary statistics: term frequency / document frequency /
    // IDF over the whole corpus (the TF row of SURVEY §2B text
    // analysis). Classic wordcount shape: generator explode → one
    // partial-aggregated groupBy(term) — shuffle O(distinct terms);
    // the corpus-size scalar joins in as a broadcast single row. ----
    "q57_vocab_stats" -> Q(
      (s, dir) => {
        import s.implicits._
        // r17b: over the memoized bm25Index, df per term = its row
        // count (one (doc_id, term) row per distinct pair — exactly
        // countDistinct(doc_id) over raw tokens) and tf = sum of its
        // tf — the raw explode AND the expensive distinct-agg drop
        // out; n_docs is the cached footer count inlined
        val nDocs = lit(tableRows(s, dir, "documents"))
        bm25Index(s, dir)
          .groupBy($"term")
          .agg(count(lit(1)).as("df"), sum($"tf").as("tf"))
          .filter($"tf" >= 50)
          .select($"term", $"df", $"tf",
            rnd4(log(nDocs.cast("double") / $"df")).as("idf"))
          .orderBy($"tf".desc, $"term")
      },
      Some(s"""WITH terms AS (SELECT doc_id,
          unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term FROM documents),
        stats AS (SELECT term, count(DISTINCT doc_id) AS df, count(*) AS tf
          FROM terms GROUP BY term),
        tot AS (SELECT count(*) AS n_docs FROM documents)
        SELECT term, df, tf,
          ${oRnd4("ln(cast(n_docs as double) / df)")} AS idf
        FROM stats, tot WHERE tf >= 50 ORDER BY tf DESC, term""")),

    // ---- document fingerprint: md5 over whitespace-normalized text ----
    "q43_fingerprint" -> Q(
      (s, dir) => {
        import s.implicits._
        val norm = trim(regexp_replace(lower($"text"), "\\s+", " "))
        table(s, dir, "documents").select(
            $"doc_id",
            md5(norm).as("fingerprint"),
            substring(md5(norm), 1, 4).as("shard_key"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
        md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
        substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 4) AS shard_key
        FROM documents ORDER BY doc_id""")),

    // ---- heavy hitters: top-20 most frequent tokens via the
    // approx_top_k frequent-items sketch (Spark 4's ApproxTopK
    // aggregate). The sketch merges per-partition — shuffle is one
    // sketch per partition, NEVER a per-token row — which is the 100 TB
    // shape for "what are the dominant tokens" monitoring where q57's
    // exact groupBy would shuffle O(distinct terms). The sketch is
    // EXACT while distinct items fit its capacity (10k here vs a
    // 31-token test vocabulary), so the query is oracle-checkable; at
    // web-scale vocabularies counts above capacity become estimates
    // with the sketch's documented error — the capacity argument is
    // the knob. We pull every tracked item and apply our own
    // deterministic (count desc, token asc) top-20, so boundary ties
    // never depend on sketch-internal ordering. ----
    "q75_heavy_hitters" -> Q(
      (s, dir) => {
        import s.implicits._
        fanOut(s, table(s, dir, "documents"))
          .select(explode(split(lower($"text"), " ")).as("tok"))
          .filter(length($"tok") > 0)
          .agg(expr("approx_top_k(tok, 100, 10000)").as("tk"))
          .select(explode($"tk").as("e"))
          .select($"e.item".as("token"), $"e.count".as("est_n"))
          .orderBy($"est_n".desc, $"token")
          .limit(20)
      },
      Some("""SELECT w AS token, cast(count(*) as bigint) AS est_n
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
        WHERE length(w) > 0
        GROUP BY 1 ORDER BY est_n DESC, token LIMIT 20""")),

    // ---- statistical LM quality scoring: per-doc mean bigram
    // log-probability under the corpus's OWN bigram model (the
    // KenLM-style perplexity filter run before pretraining, with the
    // corpus as its own training set). P(w2|w1) = c(w1 w2)/c(w1 ·),
    // scored as avg ln P over the doc's adjacent pairs. Per-pair logs
    // ride through a decimal cast so the mean is order-independent
    // (ln parity with DuckDB has the q57-idf precedent). Scale: the
    // count model is two partial-agg groupBys bounded by vocab and
    // vocab² rows — broadcast back to the doc pairs — so scoring is a
    // narrow pass + one groupBy(doc_id); at web vocab the model join
    // falls back to a shuffle keyed by bigram, still O(doc tokens). ----
    "q77_lm_quality" -> Q(
      (s, dir) => lmScores(s, dir)
        .select(col("doc_id"), col("n_pairs"), col("mean_logp"))
        .orderBy(col("doc_id")),
      Some(s"""$lmCtes
        SELECT doc_id, n_pairs, mean_logp FROM lm ORDER BY doc_id""")),

    // ---- interpolated Kneser-Ney scoring: the smoothing family the
    // real CCNet/KenLM filters actually run (Kneser & Ney, ICASSP'95;
    // Chen & Goodman, CL'99), next to q77's unsmoothed MLE anchor.
    // P(w|v) = (c(v,w) − D)/c(v·) + D·N₁₊(v·)/c(v·) · P_cont(w), with
    // absolute discount D = 0.75 and the continuation distribution
    // P_cont(w) = N₁₊(·w)/N₁₊(··) — "how many contexts has w followed",
    // the term that stops high-frequency-but-context-locked tokens
    // ("francisco") from inflating unseen-context estimates. Every
    // model component is a COUNT over the bigram-type table (c2/c1
    // from q77's shared pass, two distinct-context aggs, one 1-row
    // type total), so the model build is vocab²-bounded partial aggs
    // and scoring is the same broadcast-model narrow pass as q77.
    // Logs sum through decimal(28,12); formula is written in the same
    // operation order in both engines, so IEEE rounding agrees. ----
    "q151_kneser_ney" -> Q(
      (s, dir) => {
        val DD = org.apache.spark.sql.types.DecimalType(28, 12)
        val pairs = bigramRows(s, dir)
        val c2 = pairs.groupBy(col("w1"), col("pr")).agg(count(lit(1)).as("c2"))
        val c1 = pairs.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
        val nf = c2.groupBy(col("w1")).agg(count(lit(1)).as("nf"))
        val nb = c2.select(element_at(split(col("pr"), " "), 2).as("w2"))
          .groupBy(col("w2")).agg(count(lit(1)).as("nb"))
        val ntypes = c2.agg(count(lit(1)).as("ntypes"))
        val model = c2
          .join(c1, Seq("w1")).join(nf, Seq("w1"))
          .withColumn("w2", element_at(split(col("pr"), " "), 2))
          .join(nb, Seq("w2"))
          .crossJoin(broadcast(ntypes))
          .select(col("pr"),
            ((col("c2").cast("double") - lit(0.75)) / col("c1") +
              lit(0.75) * col("nf") / col("c1") *
                (col("nb").cast("double") / col("ntypes"))).as("pkn"))
        pairs.join(broadcast(model), Seq("pr"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_pairs"),
            rnd4(sum(log(col("pkn")).cast(DD)).cast("double") / count(lit(1)))
              .as("kn_logp"))
          .orderBy(col("doc_id"))
      },
      Some(s"""$oPrs,
        c2 AS (SELECT w1, pr, count(*) AS c2 FROM prs GROUP BY 1, 2),
        c1 AS (SELECT w1, count(*) AS c1 FROM prs GROUP BY 1),
        nf AS (SELECT w1, count(*) AS nf FROM c2 GROUP BY 1),
        nb AS (SELECT string_split(pr, ' ')[2] AS w2, count(*) AS nb FROM c2 GROUP BY 1),
        ntypes AS (SELECT count(*) AS ntypes FROM c2),
        model AS (SELECT pr,
            (cast(c2.c2 as double) - 0.75) / c1.c1
              + 0.75 * nf.nf / c1.c1 * (cast(nb.nb as double) / ntypes.ntypes) AS pkn
          FROM c2 JOIN c1 USING (w1) JOIN nf USING (w1)
          JOIN nb ON nb.w2 = string_split(c2.pr, ' ')[2]
          CROSS JOIN ntypes)
        SELECT p.doc_id, count(*) AS n_pairs,
          ${oRnd4("cast(sum(cast(ln(m.pkn) as decimal(28,12))) as double) / count(*)")} AS kn_logp
        FROM prs p JOIN model m USING (pr)
        GROUP BY 1 ORDER BY doc_id""")),

    // ---- CCNet-style perplexity bucketing: rank every doc by its
    // bigram-LM score (q77's model) and split the corpus into
    // head/middle/tail thirds — the Wenzek et al. (CCNet, LREC'20)
    // filter shape, where pretraining keeps head+middle and drops the
    // noisiest third. The rank runs on the ROUNDED score (rnd4, ties
    // by doc_id) so the cut line is engine-stable. Scale: scoring is
    // q77 (narrow pass + vocab-bounded model); the single global
    // ntile window is the one O(n log n) exchange — it survives here
    // as the ORACLE anchor, while lmBucketsScalable is the web-scale
    // spelling (two broadcast quantile thresholds from q66's sketch,
    // no global sort), agreement-pinned in OpsSpec and A/B'd by the
    // probe. ----
    "q121_lm_filter_buckets" -> Q(
      (s, dir) => {
        import s.implicits._
        val w = Window.orderBy($"mean_logp".desc, $"doc_id")
        lmScores(s, dir)
          .withColumn("bkt", ntile(3).over(w))
          .select($"doc_id", $"mean_logp",
            when($"bkt" === 1, "head").when($"bkt" === 2, "middle")
              .otherwise("tail").as("bucket"),
            ($"bkt" <= 2).cast("int").as("keep"))
          .orderBy($"doc_id")
      },
      Some(s"""$lmCtes,
        b AS (SELECT doc_id, mean_logp,
            ntile(3) OVER (ORDER BY mean_logp DESC, doc_id) AS bkt FROM lm)
        SELECT doc_id, mean_logp,
          CASE bkt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
          CASE WHEN bkt <= 2 THEN 1 ELSE 0 END AS keep
        FROM b ORDER BY doc_id""")),

    // ---- PMI collocation mining: rank bigrams by pointwise mutual
    // information against the bigram distribution's own marginals —
    // the classic collocation detector (Church & Hanks '90), used in
    // pipelines to find multi-word expressions worth fusing before
    // tokenization. Ranking NEVER touches a float: the monotone
    // transform c_ab·N/(c_a·c_b) is computed as a scaled integer
    // quotient in decimal arithmetic (exact in both engines; ln() of
    // it would only reorder equal values), ties broken by the bigram
    // text. Scale: three partial-agg groupBys (vocab / vocab²
    // bounded) + one broadcast of the 1-row total; the top-50 is a
    // TakeOrdered, no global sort. ----
    "q119_pmi_collocations" -> Q(
      (s, dir) => {
        import s.implicits._
        val p2 = bigramRows(s, dir)
          .withColumn("w2", element_at(split($"pr", " "), 2))
        val c2 = p2.groupBy($"w1", $"w2", $"pr").agg(count(lit(1)).as("c_ab"))
        val ca = p2.groupBy($"w1").agg(count(lit(1)).as("c_a"))
        val cb = p2.groupBy($"w2").agg(count(lit(1)).as("c_b"))
        val n = p2.agg(count(lit(1)).as("n_total"))
        c2.join(ca, Seq("w1")).join(cb, Seq("w2"))
          .filter($"c_ab" >= 5)
          .crossJoin(broadcast(n))
          .withColumn("pmi_scaled", expr(
            """(cast(c_ab as decimal(38,0)) * n_total * 1000000)
               div (cast(c_a as decimal(38,0)) * c_b)"""))
          .select($"pr".as("collocation"), $"c_ab", $"pmi_scaled")
          .orderBy($"pmi_scaled".desc, $"collocation")
          .limit(50)
      },
      Some(s"""$oPrs,
        p2 AS (SELECT pr, w1, string_split(pr, ' ')[2] AS w2 FROM prs),
        c2 AS (SELECT w1, w2, pr, count(*) AS c_ab FROM p2 GROUP BY 1, 2, 3),
        ca AS (SELECT w1, count(*) AS c_a FROM p2 GROUP BY 1),
        cb AS (SELECT w2, count(*) AS c_b FROM p2 GROUP BY 1),
        nn AS (SELECT count(*) AS n_total FROM prs)
        SELECT pr AS collocation, c_ab,
          cast(cast(c_ab as hugeint) * (SELECT n_total FROM nn) * 1000000
            // (cast(c_a as hugeint) * c_b) as bigint) AS pmi_scaled
        FROM c2 JOIN ca USING (w1) JOIN cb USING (w2)
        WHERE c_ab >= 5
        ORDER BY pmi_scaled DESC, collocation LIMIT 50""")),

    // ---- vocabulary encoding: map every token to a deterministic
    // integer id (frequency rank, ties broken lexically) — the
    // tokenize-to-ids step that turns curated text into the integer
    // sequences training actually consumes. The vocab is derived from
    // the corpus itself in one partial-agg groupBy; ids come from a
    // single window over the VOCAB (31 rows here; at web scale rank
    // the vocab by count range-partitioned — never window the corpus),
    // then broadcast-join back to the token stream. Positions keep
    // their pre-filter index so empty tokens (double spaces) never
    // shift alignment. Scale: encode is a narrow pass + broadcast
    // join; shuffle is only the vocab groupBy, O(distinct tokens). ----
    "q78_token_ids" -> Q(
      (s, dir) => {
        import s.implicits._
        // shares the session-memoized tokenize+encode pass with q83
        tokenIds(s, dir).orderBy($"doc_id", $"pos")
      },
      Some("""WITH toks AS (SELECT doc_id, cast(i-1 as int) AS pos, ws[i] AS tok
          FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents))
          WHERE length(ws[i]) > 0),
        vocab AS (SELECT tok,
            cast(row_number() OVER (ORDER BY count(*) DESC, tok) as int) AS tid
          FROM toks GROUP BY tok)
        SELECT t.doc_id, t.pos, v.tid
        FROM toks t JOIN vocab v USING (tok) ORDER BY doc_id, pos""")),

    // ---- Zipf slope: per-source power-law exponent of the token
    // frequency-rank curve — the standard one-number corpus health
    // diagnostic (natural text sits near −1; template/boilerplate
    // corpora flatten, spam steepens). Least-squares slope of
    // ln(freq) on ln(rank), computed from the five classic sums —
    // every sum rides a decimal(28,12) cast of an identically-derived
    // IEEE double (ln, ×) so the aggregation is order-independent and
    // oracle-exact; the final ratio is double arithmetic on identical
    // inputs. Scale: freq is one partial-agg groupBy(source, tok)
    // (shuffle O(sources × vocab)); the rank window runs over the
    // VOCAB, never the corpus (q78's caveat: at web vocab, rank by
    // count range-partitioned); the regression is a second partial
    // agg over vocab-sized input. ----
    "q79_zipf_slope" -> Q(
      (s, dir) => {
        import s.implicits._
        val D = org.apache.spark.sql.types.DecimalType(28, 12)
        val toks = fanOut(s, table(s, dir, "documents"))
          .select($"source", explode(split(lower($"text"), " ")).as("tok"))
          .filter(length($"tok") > 0)
        val freq = toks.groupBy($"source", $"tok").agg(count(lit(1)).as("n"))
        val xy = freq.withColumn("r", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy($"source").orderBy($"n".desc, $"tok")))
          .select($"source", log($"r").as("x"), log($"n").as("y"))
        xy.groupBy($"source").agg(
            count(lit(1)).as("k"),
            sum($"x".cast(D)).as("sx"), sum($"y".cast(D)).as("sy"),
            sum(($"x" * $"y").cast(D)).as("sxy"),
            sum(($"x" * $"x").cast(D)).as("sxx"))
          .select($"source", $"k",
            rnd4((($"k" * $"sxy".cast("double")) - ($"sx".cast("double") * $"sy".cast("double"))) /
              (($"k" * $"sxx".cast("double")) - ($"sx".cast("double") * $"sx".cast("double"))))
              .as("zipf_slope"))
          .orderBy($"source")
      },
      Some(s"""WITH toks AS (SELECT source, w AS tok
          FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS w
            FROM documents) WHERE length(w) > 0),
        freq AS (SELECT source, tok, count(*) AS n FROM toks GROUP BY 1, 2),
        xy AS (SELECT source, ln(cast(r as double)) AS x, ln(cast(n as double)) AS y
          FROM (SELECT source, n,
              row_number() OVER (PARTITION BY source ORDER BY n DESC, tok) AS r
            FROM freq)),
        agg AS (SELECT source, count(*) AS k,
            sum(cast(x as decimal(28,12))) AS sx,
            sum(cast(y as decimal(28,12))) AS sy,
            sum(cast(x * y as decimal(28,12))) AS sxy,
            sum(cast(x * x as decimal(28,12))) AS sxx
          FROM xy GROUP BY 1)
        SELECT source, k,
          ${oRnd4("((k * cast(sxy as double)) - (cast(sx as double) * cast(sy as double))) / ((k * cast(sxx as double)) - (cast(sx as double) * cast(sx as double)))")} AS zipf_slope
        FROM agg ORDER BY source""")),

    // ---- TF-IDF top terms per document: the classic retrieval /
    // quality-weighting primitive. tf is a (doc_id, term) partial-agg
    // count (token explode shuffles once, combiner-reduced map-side);
    // df is a second partial-agg over the tf frame — vocab-sized, NOT
    // corpus-sized; n_docs is a broadcast 1-row scalar. The top-3
    // window partitions by doc_id (unbounded key cardinality, O(terms
    // per doc) state per task). Ranking orders by the ROUNDED score so
    // last-ulp ln() differences between engines can never flip the
    // tie-break. sklearn-style smooth idf = ln((1+N)/(1+df)) + 1. ----
    "q96_tfidf" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // r17b: tf IS the memoized bm25Index frame (same explode, same
        // groupBy — the oracle CTE is unchanged), and the n_docs scalar
        // is the session's cached footer count inlined: the query was
        // re-running the corpus token explode the session already holds
        val nDocs = lit(tableRows(s, dir, "documents"))
        val tf = bm25Index(s, dir)
        val df_ = tf.groupBy($"term").agg(count(lit(1)).as("df"))
        val scored = tf.join(df_, "term")
          .select($"doc_id", $"term",
            rnd4($"tf" * (log((lit(1) + nDocs).cast("double") /
              (lit(1) + $"df")) + lit(1))).as("score"))
        val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"term")
        scored.withColumn("rnk", row_number().over(w))
          .filter($"rnk" <= 3)
          .select($"doc_id", $"rnk", $"term", $"score")
          .orderBy($"doc_id", $"rnk")
      },
      Some(s"""WITH terms AS (SELECT doc_id,
          unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        tot AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (SELECT doc_id, term,
            ${oRnd4("tf * (ln(cast(1 + n_docs as double) / (1 + df)) + 1)")} AS score
          FROM tf JOIN df USING (term), tot),
        ranked AS (SELECT doc_id, term, score,
            row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
          FROM scored)
        SELECT doc_id, rnk, term, score FROM ranked
        WHERE rnk <= 3 ORDER BY doc_id, rnk""")),

    // ---- document-length histogram via width_bucket: 20 equal bins
    // over [0, 2000) chars plus the n+1 overflow bin. One narrow
    // projection + a 21-group partial agg — parquet-scan speed at any
    // SF. The oracle states the bucket arithmetic explicitly
    // (floor(x/100)+1 clamped), which is exact for integer lengths. ----
    "q97_length_histogram" -> Q(
      (s, dir) => {
        import s.implicits._
        table(s, dir, "documents")
          .withColumn("bucket",
            width_bucket($"n_chars".cast("double"), lit(0d), lit(2000d), lit(20)))
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n"),
            min($"n_chars").as("min_chars"), max($"n_chars").as("max_chars"))
          .orderBy($"bucket")
      },
      Some("""SELECT CASE WHEN n_chars >= 2000 THEN cast(21 as bigint)
          ELSE cast(floor(n_chars / 100.0) as bigint) + 1 END AS bucket,
        count(*) AS n, min(n_chars) AS min_chars, max(n_chars) AS max_chars
        FROM documents GROUP BY 1 ORDER BY bucket""")),

    // ---- inverted-index build (the retrieval side of a RAG corpus):
    // per term, document frequency, total term frequency, the doc-id
    // range, a capped posting-list head (first 20 doc ids — bounded
    // output per term no matter how common the term), and the 128-entry
    // block count a block-compressed index would allocate. Postings
    // are (term → sorted doc ids): one explode + distinct + a per-term
    // rank window; the head cap means no row ever carries an unbounded
    // aggregate. At 100 TB this is the shape that writes a sharded
    // index: partition by term hash, sortWithinPartitions(term,
    // doc_id), write — the window here is vocab-parallel and the text
    // column is projected away before any shuffle. ----
    "q104_inverted_index" -> Q(
      (s, dir) => {
        import s.implicits._
        // r17b: perDoc IS the memoized bm25Index frame (same explode,
        // same (term, doc_id) grouping) — the raw token pass drops out
        val perDoc = bm25Index(s, dir)
          .select($"term", $"doc_id", $"tf".as("tf_doc"))
        val w = Window.partitionBy($"term").orderBy($"doc_id")
        perDoc
          .withColumn("rk", row_number().over(w))
          .groupBy($"term")
          .agg(count(lit(1)).as("df"),
            sum($"tf_doc").as("tf"),
            min($"doc_id").as("first_doc"),
            max($"doc_id").as("last_doc"),
            concat_ws(",", transform(
              sort_array(collect_list(when($"rk" <= 20, $"doc_id"))),
              c => c.cast("string"))).as("postings_head"),
            ceil(count(lit(1)).cast("double") / 128.0).cast("long").as("n_blocks"))
          .orderBy($"term")
      },
      Some("""WITH postings AS (SELECT doc_id,
          unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term FROM documents),
        per_doc AS (SELECT term, doc_id, count(*) AS tf_doc
          FROM postings GROUP BY term, doc_id),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rk
          FROM per_doc)
        SELECT term, count(*) AS df, cast(sum(tf_doc) as bigint) AS tf,
          min(doc_id) AS first_doc, max(doc_id) AS last_doc,
          string_agg(CASE WHEN rk <= 20 THEN cast(doc_id as varchar) END, ','
            ORDER BY doc_id) AS postings_head,
          cast(ceil(count(*) / 128.0) as bigint) AS n_blocks
        FROM ranked GROUP BY term ORDER BY term""")),

    // ---- BM25 ranked retrieval: score every document against a
    // deterministic query (the distinct terms of the corpus's min
    // doc_id — a data-derived "more like this" probe) with the
    // standard BM25 formula (k1 = 1.2, b = 0.75, Lucene-style
    // idf = ln(1 + (N − df + 0.5)/(df + 0.5))), emit the top 20.
    // The retrieval consumer of q104's index shape. Float parity
    // follows q77's rule: per-(doc, term) contributions are doubles
    // built from an expression tree mirrored token-for-token in the
    // oracle SQL, summed as decimal(28,12) (order-independent), then
    // rnd4'd — and the output ORDER is on the rounded score so the
    // top-20 cut is engine-stable. Scale: postings explode is the
    // token-sized shuffle (combiner-reduced to (doc, term) tf rows);
    // the query side collapses to ≤|q| (term, df) rows broadcast at
    // every step, so scoring is one map-side join + one doc-keyed agg
    // + a TakeOrdered — corpus text never shuffles, and the global
    // top-k never sorts the corpus. ----
    "q114_bm25" -> Q(
      (s, dir) => {
        import s.implicits._
        bm25Scores(s, dir)
          .orderBy($"score".desc, $"doc_id")
          .limit(20)
      },
      Some(s"""WITH $oBm25Ctes
        SELECT doc_id, n_hit, score
        FROM bm25 ORDER BY score DESC, doc_id LIMIT 20""")),

    // ---- store-fed BM25: the same top-20 retrieval as q114, answered
    // from the PERSISTED postings channel (IndexStore.writeText) — the
    // retrieval-family member of the round-5 "maintained artifact"
    // tier. The postings parquet is term-range-partitioned and
    // term-sorted, so the query-term lookup arrives as a pushed
    // In(term, …) filter and reads O(Σ df(q-terms)) rows via row-group
    // min/max pruning — a cold session answers a query without
    // re-tokenizing anything; corpus stats re-aggregate from the
    // narrow doc_lens channel (the bloom re-agg pattern). Oracle =
    // q114's SQL verbatim: the store route must be INDISTINGUISHABLE
    // from scoring the corpus directly, and appendText keeps it so as
    // the corpus rolls (TextIndexSpec pins write(100%) ≡
    // write(90%)+append(10%) and the pushdown itself). ----
    "q139_bm25_store" -> Q(
      (s, dir) => {
        import s.implicits._
        IndexStore.bm25FromStore(s, textStore(s, dir), qtermsOf(s, dir))
          .orderBy($"score".desc, $"doc_id")
          .limit(20)
      },
      Some(s"""WITH $oBm25Ctes
        SELECT doc_id, n_hit, score
        FROM bm25 ORDER BY score DESC, doc_id LIMIT 20""")),

    // ---- snapshot time travel: the store's committed history read
    // back as data. The corpus is folded into the versioned text store
    // as three deterministic ingest batches (doc_id % 3: write, append,
    // append), so the store holds three committed snapshots; the query
    // walks IndexStore.history and reads each version's 1-row stats
    // channel AS OF that snapshot (channelAt — the old manifests, not
    // the live one). The oracle recomputes each version's corpus
    // census from the raw documents table — counting only docs with
    // ≥1 [a-z] token, because the stats channel is the census of the
    // INDEXED corpus (a letterless doc emits no postings and is not
    // in N; the oracle's WHERE dl > 0 states that semantic) — so a
    // hash match proves the persisted timeline IS the cumulative
    // ingest history: per-version
    // (n_docs, sum_dl) exactly equal to tokenizing the first k batches
    // — the audit trail a rolling 100 TB corpus store owes its
    // operators, at 3 one-row reads per query. ----
    "q143_store_time_travel" -> Q(
      (s, dir) => {
        import s.implicits._
        val idx = versionedTextStore(s, dir)
        IndexStore.history(idx).zipWithIndex.map { case (snap, i) =>
          IndexStore.channelAt(s, idx, snap, "stats")
            .select(lit(i + 1).as("version"), $"n_docs", $"sum_dl")
        }.reduce(_ unionByName _).orderBy($"version")
      },
      // version = dense index over POPULATED doc_id%3 slices (an empty
      // residue folds nothing and commits nothing, so the store's
      // history and this oracle derive the same sequence from the same
      // slicing); census counts only indexed (dl > 0) docs, matching
      // the stats channel
      Some("""
        WITH d AS (SELECT doc_id, doc_id % 3 AS s,
                     len(regexp_extract_all(lower(text), '[a-z]+')) AS dl
                   FROM documents),
          sl AS (SELECT s, CAST(row_number() OVER (ORDER BY s) AS INT) AS version
                 FROM (SELECT DISTINCT s FROM d) t),
          dv AS (SELECT d.dl, sl.version AS dver FROM d JOIN sl ON d.s = sl.s)
        SELECT v.version,
               CAST(count(CASE WHEN dv.dl > 0 THEN 1 END) AS BIGINT) AS n_docs,
               CAST(coalesce(sum(CASE WHEN dv.dl > 0 THEN dv.dl END), 0) AS BIGINT) AS sum_dl
        FROM sl v LEFT JOIN dv ON dv.dver <= v.version
        GROUP BY v.version
        ORDER BY v.version""")),

    // ---- BATCH retrieval from the persisted postings channel: the
    // serving shape where queries arrive many at a time. Two
    // deterministic probes (the distinct terms of the min- and
    // max-doc_id documents) run as ONE store lookup: a single pushed
    // In-filter postings read covering the union of both term sets, a
    // broadcast (qid, term) frame expanding shared terms onto each
    // query, (qid, doc)-keyed scoring with q114's exact arithmetic,
    // and a qid-PARTITIONED rank window for the per-query top-20 —
    // never an unpartitioned corpus window. Oracle: the q114 CTE chain
    // generalized with a qid dimension; a hash match proves per-query
    // results from the shared batched read are indistinguishable from
    // scoring each query against the corpus alone. ----
    "q144_bm25_batch_store" -> Q(
      (s, dir) => {
        IndexStore.bm25BatchFromStore(s, textStore(s, dir), Seq(
          1 -> qtermsOfExtreme(s, dir, useMax = false),
          2 -> qtermsOfExtreme(s, dir, useMax = true)))
      },
      Some(s"""WITH postings AS (SELECT doc_id,
          unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term FROM documents),
        per_doc AS (SELECT doc_id, term, count(*) AS tf FROM postings GROUP BY 1, 2),
        dl AS (SELECT doc_id, count(*) AS dl FROM postings GROUP BY 1),
        stats AS (SELECT count(*) AS n_docs, avg(cast(dl as double)) AS avgdl FROM dl),
        srcs AS (SELECT 1 AS qid, (SELECT min(doc_id) FROM documents) AS src
                 UNION ALL SELECT 2, (SELECT max(doc_id) FROM documents)),
        q AS (SELECT DISTINCT sr.qid, p.term FROM postings p
              JOIN srcs sr ON p.doc_id = sr.src),
        qdf AS (SELECT term, count(*) AS df FROM per_doc
                WHERE term IN (SELECT term FROM q) GROUP BY 1),
        raw AS (SELECT qu.qid, p.doc_id, count(*) AS n_hit,
            cast(sum(cast(
              ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
              ((cast(p.tf as double) * 2.2) /
               (cast(p.tf as double) + 1.2 * (0.25 + 0.75 * (cast(l.dl as double) / s.avgdl))))
            as decimal(28,12))) as double) AS rawscore
          FROM per_doc p JOIN q qu USING (term) JOIN qdf d ON d.term = p.term
          JOIN dl l ON l.doc_id = p.doc_id CROSS JOIN stats s
          GROUP BY 1, 2),
        bm25 AS (SELECT qid, doc_id, n_hit, ${oRnd4("rawscore")} AS score FROM raw),
        ranked AS (SELECT qid,
            cast(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) as int) AS rank,
            doc_id, n_hit, score FROM bm25)
        SELECT qid, rank, doc_id, n_hit, score FROM ranked
        WHERE rank <= 20 ORDER BY qid, rank"""))
  )

  /** Every document's BM25 score against the deterministic query (the
    * distinct terms of the corpus's min doc_id): (doc_id, n_hit,
    * score), one row per doc matching ≥1 query term, score already
    * rnd4'd so downstream ranking is engine-stable. Shared by q114
    * (top-k retrieval) and q115 (hybrid RRF fusion). */
  private[ops] def bm25Scores(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perDoc = bm25Index(s, dir)
    // corpus-level frames memoized (r17b): dl and its 1-row census are
    // pure functions of the memoized index, but every q114/q115 run
    // re-aggregated them — one exchange plus two AQE stage jobs per
    // query for frames the session already knows. The query terms ride
    // the qprobe memo: postingsFor tokenizes with the same [a-z]+
    // regex the probe extracts, so the min-doc's distinct postings
    // terms ARE the probe's term set (oracle-pinned), and the pushed
    // isin replaces a minDoc-broadcast + distinct subtree.
    val dl = docLens(s, dir)
    val stats = bm25CorpusStats(s, dir)
    val terms = qtermsOf(s, dir)
    val qdf = perDoc.filter($"term".isin(terms: _*))
      .groupBy($"term").agg(count(lit(1)).as("df"))
    bm25Rank(perDoc, qdf, dl, stats)
  }

  /** (doc_id, dl) for every indexed doc — memoized: the doc-length
    * aggregation over [[bm25Index]] is corpus-invariant within a
    * session and was re-run by every session-route BM25 consumer. */
  private[graft] def docLens(s: SparkSession, dir: String): DataFrame =
    memo(s, s"textops.docLens:$dir") {
      bm25Index(s, dir).groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("dl"))
    }

  /** The 1-row (n_docs, avgdl) census over [[docLens]], memoized —
    * the same numbers every BM25 scoring pass cross-joins. */
  private[graft] def bm25CorpusStats(s: SparkSession, dir: String): DataFrame =
    memo(s, s"textops.bm25Stats:$dir") {
      docLens(s, dir).agg(count(lit(1)).as("n_docs"),
        avg(col("dl").cast("double")).as("avgdl"))
    }

  /** The corpus's persisted text-retrieval index — q139's store.
    * Since round 10 this is a [[IndexStore.cloneStoreAt]] PUBLISH of
    * [[versionedTextStore]]'s live version (VERDICT r9 next #4, warm
    * consolidation): the versioned store's three folds already hold
    * exactly the full corpus, so a second from-raw build (tokenize +
    * agg + range-sort) bought nothing — but serving the versioned
    * root DIRECTLY tripled the steady-state q139 read at 100× (12.8 s
    * vs 4.0: the live postings channel spans one path per fold, so
    * the pushed `In(term, …)` read fans out to three file groups).
    * The clone is the op built for exactly this: it re-reads the
    * channels once and publishes a single-path contract-layout
    * version into a fresh serving root — one tokenization pass per
    * JVM total, single-file-group reads for every store-fed text
    * route, and the ingest history stays intact for q143's timeline
    * walk (a compact of the versioned root itself would append a 4th
    * version and change that walk). */
  private[graft] def textStore(s: SparkSession, dir: String): String =
    storeFixture("graft_text", dir) { idx =>
      val src = versionedTextStore(s, dir)
      IndexStore.cloneStoreAt(s, src, IndexStore.history(src).last, idx)
    }

  /** A text store with an INGEST HISTORY — the corpus folded in as
    * three deterministic disjoint batches (`doc_id % 3` = 0, 1, 2:
    * write, append, append), leaving three committed snapshots whose
    * stats channels record the corpus as of each fold. q143 reads that
    * timeline back through IndexStore.channelAt; memoized per JVM like
    * [[textStore]] (a rolling store's history exists before an audit
    * query arrives). */
  private[graft] def versionedTextStore(s: SparkSession, dir: String): String =
    storeFixture("graft_textv", dir) { idx =>
      // ONE tokenization pass feeds all three folds: the memoized
      // full-corpus postings (bm25Index) semi-joined per slice
      // (VERDICT r11 next #3 — the three text-carrying warm fixtures
      // each re-tokenized overlapping slices of this same corpus)
      val preTok = Some(bm25Index(s, dir))
      foldThirds(table(s, dir, "documents"),
          s"versionedTextStore: documents table at $dir is empty — the ingest timeline is undefined")(
        IndexStore.writeText(s, _, idx, preTok),
        IndexStore.appendText(s, idx, _, preTok))
    }

}
