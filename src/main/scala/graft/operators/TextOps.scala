package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * All pure Column expressions (codegen'd, no UDFs, no shuffles) so they
  * stream through a 100 TB corpus at scan speed: language-ID, quality
  * scoring, token counting, fingerprinting.
  */
object TextOps {

  /** Whitespace-ish token count. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish subword count estimate: word-boundary pieces + long-word splits
    * (≈ 1 token per 4 chars within words — the usual heuristic). */
  def tokenCountBpe(text: Column): Column =
    size(split(trim(text), "\\s+")) +
      (length(regexp_replace(text, "\\s+", "")) / lit(4)).cast("long")

  /** Words per sentence-ish, punctuation density, alpha ratio, mean word
    * length — the usual cheap quality signals. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(length(regexp_replace(text, "[^\\p{Punct}]", "")).cast("double") / length(text))

  def alphaRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") / length(text))

  def meanWordLen(text: Column): Column = {
    val words = tokenCount(text)
    when(words === 0, lit(0.0))
      .otherwise(length(regexp_replace(text, "\\s+", "")).cast("double") / words)
  }

  private val stopwordsEn = Seq("the", "and", "of", "to", "is", "in", "that", "it")

  def stopwordRatio(text: Column): Column = {
    val words = tokenCount(text)
    val hits = regexp_count(lower(text), lit(s"\\b(${stopwordsEn.mkString("|")})\\b"))
    when(words === 0, lit(0.0)).otherwise(hits.cast("double") / words)
  }

  /** Composite quality score in [0,1]; thresholds follow common corpus-
    * filtering heuristics (length window, punct ceiling, stopword floor). */
  def qualityScore(text: Column): Column = {
    val lenScore = when(length(text).between(50, 20000), 1.0).otherwise(0.3)
    val punct = when(punctRatio(text) < 0.2, 1.0).otherwise(0.4)
    val alpha = when(alphaRatio(text) > 0.5, 1.0).otherwise(0.5)
    round((lenScore * 0.4 + punct * 0.3 + alpha * 0.3), 4)
  }

  /** n-gram-heuristic language ID over {en,de,fr,es} (stopword markers)
    * plus script detection for {zh,ru,ar,ko,ja,hi}: per-language signal
    * counts, argmax with script signals winning ties (a script char is
    * near-definitive; kana beats Han so Japanese text with kanji+kana
    * resolves ja, pure-Han resolves zh). Pure-SQL (portable to the
    * DuckDB oracle). */
  def langId(text: Column): Column = {
    val t = concat(lit(" "), lower(text), lit(" "))
    def hits(words: Seq[String]): Column =
      regexp_count(t, lit(s" (${words.mkString("|")}) "))
    def script(range: String): Column =
      length(regexp_replace(text, s"[^$range]", ""))
    val en = hits(Seq("the", "and", "is", "of", "to", "that", "with"))
    val de = hits(Seq("der", "die", "das", "und", "ist", "nicht", "mit"))
    val fr = hits(Seq("le", "la", "les", "et", "est", "dans", "pour"))
    val es = hits(Seq("el", "los", "las", "es", "en", "que", "por"))
    val zh = script("\\x{4e00}-\\x{9fff}")
    val ru = script("\\x{0400}-\\x{04ff}")
    val ar = script("\\x{0600}-\\x{06ff}")
    val ko = script("\\x{ac00}-\\x{d7af}")
    val ja = script("\\x{3040}-\\x{30ff}")
    val hi = script("\\x{0900}-\\x{097f}")
    val m = greatest(en, de, fr, es, zh, ru, ar, ko, ja, hi)
    when(m === 0, lit("und"))
      .when(ja === m, "ja").when(zh === m, "zh").when(ru === m, "ru")
      .when(ar === m, "ar").when(ko === m, "ko").when(hi === m, "hi")
      .when(en === m, "en").when(de === m, "de")
      .when(fr === m, "fr").otherwise("es")
  }

  /** Paragraph-level language segmentation — the multilingual-document
    * audit [[langId]]'s whole-doc argmax can't see: a page that is 70%
    * English with a German block resolves `en` doc-level and the German
    * text silently pollutes an English-only corpus. Each blank-line
    * paragraph of at least `minChars` trimmed chars votes with its
    * [[langId]] weighted by its character count; per document this
    * reports the primary language, the character fraction it holds of
    * all voted text, and how many distinct languages voted — the
    * `primary_char_frac < 0.9`-style gate a curation recipe applies
    * before language filtering. Ties break to the lexicographically
    * first language (deterministic, oracle-replayable). Documents with
    * no voting paragraph (null/short/empty text) survive as
    * (`und`, null, 0, 0) — report operators never drop rows.
    *
    * Scale: one explode scan (langId is a codegen'd regex/length chain),
    * one partial-agg groupBy on (id, lang) — bounded at docs × ~10
    * languages — then an (id)-keyed rollup and one left join back to the
    * id spine. No window, no text on any shuffle beyond the per-paragraph
    * explode rows.
    *
    * @return (idCol, lang_primary, primary_char_frac, n_langs, n_paras) */
  def langSegments(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      minChars: Int = 20): DataFrame = {
    require(minChars >= 0, "minChars must be non-negative")
    val voted = docs
      .select(col(idCol).as("__id"),
        explode(split(col(textCol), "\n\n")).as("__para"))
      .filter(length(trim(col("__para"))) >= minChars)
      .select(col("__id"), langId(col("__para")).as("__lang"),
        length(col("__para")).cast("long").as("__chars"))
    val perLang = voted.groupBy(col("__id"), col("__lang"))
      .agg(sum(col("__chars")).as("__lc"), count(lit(1)).as("__np"))
    val perDoc = perLang.groupBy(col("__id"))
      .agg(
        // argmax by (chars desc, lang asc): min over (-chars, lang)
        min(struct((-col("__lc")).as("nc"), col("__lang").as("lang")))
          .as("__best"),
        sum(col("__lc")).as("__total"),
        countDistinct(col("__lang")).as("n_langs"),
        sum(col("__np")).as("n_paras"))
      .select(col("__id"),
        col("__best")("lang").as("lang_primary"),
        round((-col("__best")("nc")).cast("double") / col("__total"), 6)
          .as("primary_char_frac"),
        col("n_langs"), col("n_paras"))
    docs.select(col(idCol)).join(perDoc, col(idCol) === col("__id"), "left")
      .select(col(idCol),
        coalesce(col("lang_primary"), lit("und")).as("lang_primary"),
        col("primary_char_frac"),
        coalesce(col("n_langs"), lit(0L)).as("n_langs"),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"))
  }

  /** Content fingerprint: 64-bit hash of whitespace/case-normalized text —
    * the exact-dup key that survives formatting noise. */
  def fingerprint(text: Column): Column =
    xxhash64(normalize(text))

  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Corpus vocabulary statistics (tokenizer-training prep): the top-k
    * normalized whitespace tokens by total occurrence count, with document
    * frequency. One explode scan, one aggregation keyed on the token
    * (map-side partial combine collapses the heavy hitters before the
    * shuffle), and a TakeOrdered top-k — no full sort. */
  def vocab(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 1000): DataFrame = {
    val toks = docs.select(col(idCol).as("__id"),
        explode(split(normalize(col(textCol)), " ")).as("token"))
      .filter(length(col("token")) > 0)
    toks.groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"), countDistinct(col("__id")).as("df"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)
  }

  /** Token-distribution drift between two corpus snapshots — the
    * tokenizer-health audit: a term whose relative frequency moves is a
    * content shift a fixed merge table was not trained for. Each side's
    * [[vocab]] top-k joins full-outer (a token in only one snapshot
    * surfaces with zero on the other side, which IS the signal);
    * `prev_frac`/`next_frac` are each token's share of its own snapshot's
    * top-k mass, `frac_shift` their raw-double difference (exact longs
    * divided — bit-replayable). Two vocab scans + a k-row join. */
  def vocabDrift(
      prev: DataFrame,
      next: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 1000): DataFrame = {
    def side(df: DataFrame, tag: String) = {
      val v = vocab(df, textCol, idCol, k)
      v.crossJoin(broadcast(v.agg(sum("cnt").as(s"__total_$tag"))))
        .select(col("token"), col("cnt").as(s"${tag}_cnt"),
          col("df").as(s"${tag}_df"),
          (col("cnt").cast("double") / col(s"__total_$tag"))
            .as(s"${tag}_frac"))
    }
    side(prev, "prev").join(side(next, "next"), Seq("token"), "full_outer")
      .withColumn("frac_shift",
        coalesce(col("next_frac"), lit(0.0)) -
          coalesce(col("prev_frac"), lit(0.0)))
  }

  /** Corpus n-gram frequency statistics: top-k word n-grams by total
    * occurrence count with document frequency — phrase mining, bigram-LM
    * and tokenizer-merge prep. Unlike [[shingles]] (distinct per doc,
    * built for Jaccard), EVERY occurrence counts here. Same shape as
    * [[vocab]]: one explode scan, one aggregation keyed on the n-gram
    * (map-side partial combine), TakeOrdered top-k — no full sort. */
  def vocabNgrams(
      docs: DataFrame,
      n: Int,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 1000): DataFrame = {
    require(n >= 1, "n must be positive")
    // single-pass kernel: the transform/slice HOF formulation re-splits
    // the text per gram once CollapseProject inlines the split (O(words²))
    val grams = graft.functions.TextKernels.ngramsCol(normalize(col(textCol)), n)
    docs.select(col(idCol).as("__id"), explode(grams).as("gram"))
      .filter(length(col("gram")) > 0)
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("cnt"), countDistinct(col("__id")).as("df"))
      .orderBy(col("cnt").desc, col("gram"))
      .limit(k)
  }

  /** CCNet-style unigram cross-entropy quality score (Wenzek et al. 2020,
    * minus the KenLM binary): train an add-one-smoothed top-`vocabK`
    * unigram LM on `ref`, then score every document by the mean negative
    * log-probability of its tokens; out-of-vocabulary tokens get the
    * smoothed floor `ln(1/(N + vocabK + 1))`. Lower `ce` = closer to the
    * reference distribution — the classic wiki-vs-crawl signal used to
    * rank crawl text by quality.
    *
    * Plan at scale: LM training is one explode scan + one aggregation +
    * TakeOrdered over the reference slice (typically small next to the
    * corpus; the LM itself is ≤ `vocabK` rows, always broadcastable);
    * scoring is an explode scan + broadcast hash join on the token + ONE
    * shuffle keyed on the doc id. Ties at the `vocabK` cut break by token
    * so the LM is deterministic and the DuckDB oracle replays it.
    *
    * @return (idCol, tokens, ce) — `ce` rounded to 6 digits
    *   (engine-portable float compare) */
  def crossEntropy(
      docs: DataFrame,
      ref: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      refTextCol: String = "text",
      vocabK: Int = 50000): DataFrame = {
    val refToks = ref.select(
        explode(split(normalize(col(refTextCol)), " ")).as("token"))
      .filter(length(col("token")) > 0)
    // 1-row total-token count, broadcast onto both the LM and the OOV
    // floor (a scalar in the plan, never a driver-side collect)
    val total = refToks.agg(count(lit(1)).cast("double").as("__total"))
    val lm = refToks.groupBy(col("token"))
      .agg(count(lit(1)).as("__cnt"))
      .orderBy(col("__cnt").desc, col("token"))
      .limit(vocabK)
      .crossJoin(broadcast(total))
      .select(col("token"),
        log((col("__cnt") + lit(1)) / (col("__total") + vocabK + 1)).as("__logp"))
    docs.select(col(idCol).as("__id"),
        explode(split(normalize(col(textCol)), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .join(broadcast(lm), Seq("token"), "left")
      .crossJoin(broadcast(total))
      .select(col("__id"),
        coalesce(col("__logp"),
          log(lit(1.0) / (col("__total") + vocabK + 1))).as("__lp"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("tokens"), round(-avg(col("__lp")), 6).as("ce"))
      .select(col("__id").as(idCol), col("tokens"), col("ce"))
  }

  /** Bigram cross-entropy with stupid backoff (Brants et al. 2007) — the
    * order-2 upgrade of [[crossEntropy]]: train unigram + bigram counts on
    * `ref`, then score each document by the mean negative log-score of its
    * adjacent token pairs, where
    * `S(w2|w1) = cnt(w1 w2)/cnt(w1)` when the bigram AND its left token
    * are in the trained tables, else `alpha · S(w2)` with `S(w2)` the
    * add-one-smoothed unigram probability ([[crossEntropy]]'s floor for
    * OOV). Captures local word order that a unigram LM is blind to —
    * shuffled-word salad scores near its unigram ce, natural text drops.
    * Documents with fewer than 2 tokens produce no row (no pair to score).
    *
    * Plan at scale: two aggregations over the reference slice (unigram +
    * bigram counts, both top-K-truncated with ties broken by gram so the
    * cut is deterministic and oracle-replayable), both broadcast; the
    * corpus side is one scan exploding adjacent pairs, two broadcast hash
    * joins, and ONE shuffle keyed on the doc id. No sort, no self-join.
    *
    * @return (idCol, pairs, ce2) — `ce2` rounded to 6 digits */
  def crossEntropyBigram(
      docs: DataFrame,
      ref: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      refTextCol: String = "text",
      vocabK: Int = 50000,
      bigramK: Int = 200000,
      alpha: Double = 0.4): DataFrame = {
    def words(c: Column) = split(normalize(c), " ")
    def pairsOf(c: Column): Column = {
      // bigram strings from the single-pass kernel (the element_at HOF
      // form re-splits the text per pair), split once per (small) gram
      val grams = graft.functions.TextKernels.ngramsCol(normalize(c), 2)
      transform(grams, g => {
        val parts = split(g, " ")
        struct(element_at(parts, 1).as("w1"), element_at(parts, 2).as("w2"))
      })
    }
    val refToks = ref.select(explode(words(col(refTextCol))).as("token"))
      .filter(length(col("token")) > 0)
    val total = refToks.agg(count(lit(1)).cast("double").as("__total"))
    val uni = refToks.groupBy(col("token"))
      .agg(count(lit(1)).as("__cnt"))
      .orderBy(col("__cnt").desc, col("token"))
      .limit(vocabK)
    val bi = ref.select(explode(pairsOf(col(refTextCol))).as("__p"))
      .select(col("__p.w1"), col("__p.w2"))
      .filter(length(col("w1")) > 0 && length(col("w2")) > 0)
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("__bcnt"))
      .orderBy(col("__bcnt").desc, col("w1"), col("w2"))
      .limit(bigramK)
      // attach cnt(w1); inner join — a bigram whose left token missed the
      // unigram cut backs off (documented contract)
      .join(uni.select(col("token").as("w1"), col("__cnt").as("__w1cnt")),
        Seq("w1"))
      .select(col("w1"), col("w2"),
        log(col("__bcnt").cast("double") / col("__w1cnt")).as("__blogp"))
    val smoothed = uni.crossJoin(broadcast(total))
      .select(col("token").as("w2"),
        log((col("__cnt") + lit(1)) / (col("__total") + vocabK + 1)).as("__ulogp"))
    docs.select(col(idCol).as("__id"), explode(pairsOf(col(textCol))).as("__p"))
      .select(col("__id"), col("__p.w1"), col("__p.w2"))
      .join(broadcast(bi), Seq("w1", "w2"), "left")
      .join(broadcast(smoothed), Seq("w2"), "left")
      .crossJoin(broadcast(total))
      .select(col("__id"),
        coalesce(col("__blogp"),
          lit(math.log(alpha)) + coalesce(col("__ulogp"),
            log(lit(1.0) / (col("__total") + vocabK + 1)))).as("__lp"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("pairs"), round(-avg(col("__lp")), 6).as("ce2"))
      .select(col("__id").as(idCol), col("pairs"), col("ce2"))
  }

  /** Word shingles (n-grams) of the normalized text, distinct.
    * Single-pass kernel — the transform/slice/array_join HOF formulation
    * evaluates an interpreted lambda per shingle. */
  def shingles(text: Column, n: Int): Column =
    graft.functions.TextKernels.shinglesCol(normalize(text), n)

  /** [[shingles]] as sorted, distinct 64-bit xxhash64 values — the
    * MinHash family's shingle representation
    * ([[graft.functions.TextKernels.shingleHashesCol]]). */
  def shingleHashes(text: Column, n: Int): Column =
    graft.functions.TextKernels.shingleHashesCol(normalize(text), n)

  /** md5-derived 60-bit token hash — reproducible in any ANSI engine that
    * has md5 + hex parsing (the DuckDB oracle uses
    * `('0x' || substr(md5(t),1,15))::BIGINT`). 15 hex chars = 60 bits,
    * always non-negative, fits a long exactly. */
  def portableHash60(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  /** Shuffle partition count sized to input VOLUME, from Catalyst's plan
    * statistics (file bytes for scans, width·rows estimates for in-memory
    * relations) — the "partitions follow the data" lever a real cluster
    * config applies globally, baked into the corpus-global shuffle
    * operators here because a fixed session partition count turns their
    * per-partition window sorts external once the corpus outgrows it
    * (DupSpansTune at the 20M smoke: 32 static partitions → 203–476 s,
    * 128 → 125 s ≈ linear). One partition per `targetBytes` of estimated
    * input, never below the session's `spark.sql.shuffle.partitions`
    * (small inputs keep the session setting — no behavior change at test
    * scale), capped at 4096 (task-launch overhead bound; a 100 TB input
    * saturates the cap and a real deployment raises the session setting
    * instead). The default 8 MB target is deliberately smaller than a
    * shuffle-file target: plan stats undercount generated/decompressed
    * text ~5×, and the guarded shuffles fan out rows (hashed windows,
    * exploded ids) beyond the input estimate. */
  /** Upper bound on the plan's output ROW count from its LEAVES: each
    * leaf contributes its exact rowCount when statistics carry one
    * (Range does; analyzed tables do), else its real sizeInBytes over
    * its schema's default row width. Leaf stats are file-backed facts;
    * everything above them is estimation — and Catalyst's JOIN
    * estimation is multiplicative, so a 3-way self-join of a 40 MB
    * table estimates PETABYTES (observed 6.2e15 B on
    * q_dedup_paragraphs' synth input), which saturated the 4096 cap
    * and paid ~5 s of task-launch overhead on a dataset 32 partitions
    * handle in under a second. The enrichment/zip joins these
    * operators receive emit at most ~one row per leaf row; a
    * genuinely fanning input still scales with its leaves, and the
    * cap/floor absorb the residual error. */
  private[graft] def leafRowBound(df: DataFrame): BigInt =
    try {
      df.queryExecution.optimizedPlan.collectLeaves().map { l =>
        l.stats.rowCount.map(r => BigInt(r.toString)).getOrElse {
          val w = math.max(1, l.output.map(_.dataType.defaultSize).sum)
          BigInt(l.stats.sizeInBytes.toString) / w
        }
      }.sum
    } catch { case _: Throwable => BigInt(0) }

  /** Plan-size estimate with its ROW count clamped to [[leafRowBound]]
    * but its PER-ROW width kept from the unclamped estimate
    * (`est × boundRows / estRows`): join-estimation blow-up (see
    * [[leafRowBound]]) is cut off, while a plan whose statistics carry
    * real row widths — an ANALYZE'd table of multi-KB documents, or
    * projection widening the estimator priced in — keeps that width.
    * The r12 version clamped to `boundRows × schema defaultSize`
    * (StringType = 20 B), which collapsed a well-analyzed text corpus
    * to ~20 B/row — the opposite of the "plan stats undercount text"
    * motivation — and silently floored the sizing exactly where exact
    * statistics existed. When the stats carry no rowCount, the estimated
    * rows fall back to `est / schema defaultSize`, which makes the
    * scaled clamp algebraically identical to the r12 byte bound — the
    * fix only changes plans with genuine row counts. */
  private[graft] def clampedPlanBytes(df: DataFrame): BigInt =
    try {
      val stats = df.queryExecution.optimizedPlan.stats
      val est = BigInt(stats.sizeInBytes.toString)
      val outWidth = math.max(1, df.schema.map(_.dataType.defaultSize).sum)
      val estRows = stats.rowCount.map(r => BigInt(r.toString))
        .filter(_ > 0).getOrElse((est / outWidth).max(BigInt(1)))
      val boundRows = leafRowBound(df)
      if (boundRows > 0 && estRows > boundRows) est * boundRows / estRows
      else est
    } catch { case _: Throwable => BigInt(0) }

  private[graft] def volumeParts(
      df: DataFrame,
      targetBytes: Long = 8L << 20): Int = {
    val session = df.sparkSession
    val default = session.sessionState.conf.numShufflePartitions
    val bytes = clampedPlanBytes(df)
    val need = (bytes / targetBytes).min(BigInt(4096)).toLong
    math.max(default.toLong, need).toInt
  }

  /** Shuffle partition count for the corpus-global n-gram hash window,
    * sized to the WINDOW FAN-OUT rather than input plan bytes: the
    * shuffle carries ~one slim (id, pos, hash60) row (~32 B serialized)
    * per WORD of normalized text, so the right sizing input is
    * `rows × words/doc`, which plan statistics cannot see (they estimate
    * the pre-explode relation, with strings at a flat 20-byte default).
    * r10's byte-based sizing (volumeParts at a 512 KB target) resolved
    * ~4× past the DupSpansTune optimum at the 20M smoke (tune: 512 parts
    * 99–186 s vs auto 132–274 s — over-partitioning pays task-launch and
    * tiny-sort overhead with no spill relief).
    *
    * Estimation is two-tier so small inputs stay free: the cheap plan-
    * stats gate first (below the session partition count → return it, no
    * job), then ONE bounded probe job — `head(sampleRows)` of the word
    * counts (reads a single partition, never a scan) — for words/doc,
    * with row count from plan stats (`rowCount` when the source provides
    * it, else `sizeInBytes / schema default width`; both undercount
    * generated text, which only biases partitions DOWN toward the
    * session floor, never toward a blow-up — the 4096 cap bounds the
    * other direction). One partition per `targetBytes` of projected
    * window rows; floor = session setting, cap = 4096 (same rationale as
    * [[volumeParts]]: a 100 TB deployment raises the session setting).
    *
    * The probe coalesces null text to '' (zero words) BEFORE sizing:
    * `size(split(null))` is NULL under Spark 4's default ANSI mode and
    * would throw out of `getLong` at planning time — a null-text row in
    * the first sampled partition must not crash the operators that are
    * themselves specified to preserve null-text documents. Known bias:
    * `head(sampleRows)` reads a PREFIX of one partition, not a random
    * sample — a corpus sorted by document length (common after packing
    * or sort-based curation) over- or under-estimates words/doc by the
    * prefix's skew. The mis-sizing is bounded on both sides (session
    * floor / 4096 cap) and costs partitions, never correctness; a
    * random `sample()` here would scan the full input, which this probe
    * exists to avoid — callers with pathological ordering pass `parts`
    * explicitly. */
  private[graft] def fanoutParts(
      docs: DataFrame,
      textCol: String,
      bytesPerRow: Long = 32L,
      targetBytes: Long = 32L << 20,
      sampleRows: Int = 256): Int = {
    val default = docs.sparkSession.sessionState.conf.numShufflePartitions
    if (volumeParts(docs, targetBytes = 512L << 10) <= default) return default
    val stats =
      try docs.queryExecution.optimizedPlan.stats
      catch { case _: Throwable => return default }
    // row estimate bounded by the leaf-derived row bound: Catalyst's
    // join estimates (sizeInBytes AND rowCount) inflate multiplicatively
    // on joined inputs — see [[leafRowBound]]; exact leaf rowCounts
    // (Range) pass through unchanged, and the clamp only ever biases
    // DOWN toward the session floor, which the contract above allows
    val leafBound = leafRowBound(docs).min(BigInt(Long.MaxValue)).toLong
    val rowsEst: Long =
      stats.rowCount.map(_.toLong).getOrElse(leafBound).min(leafBound)
    val sampled =
      try docs.select(size(split(normalize(coalesce(col(textCol), lit(""))),
          " ")).cast("long"))
        .head(sampleRows)
      catch { case _: Throwable => Array.empty[org.apache.spark.sql.Row] }
    if (sampled.isEmpty || rowsEst <= 0) return default
    val avgWords = sampled.iterator
      .map(r => if (r.isNullAt(0)) 0L else math.max(0L, r.getLong(0)))
      .sum.toDouble / sampled.length
    val windowBytes = rowsEst.toDouble * avgWords * bytesPerRow
    val need = math.min(4096.0, windowBytes / targetBytes).toLong
    math.max(default.toLong, need).toInt
  }

  /** 64-bit SimHash over tokens — one pass, no shuffle: per-row fold of
    * token hashes into 64 signed bit-counts, then sign bits.
    * (Charikar's scheme; bit i set iff Σ ±1 over tokens ≥ 0.) */
  def simHash(text: Column): Column = simHash(text, t => xxhash64(t))

  /** Compiled single-pass SimHash (r14): the HOF reference below folds an
    * interpreted 64-element `zip_with` per token — never whole-stage-
    * codegen'd, O(words × 64) boxed array rebuilds per document — while
    * the [[graft.functions.TextKernels.simHash64Col]] kernel walks the
    * normalized bytes once with primitive counters. Both token-hash
    * choices ride through `portable` (md5-60-bit for oracle-replayable
    * signatures, xxhash64 seed 42 for production). Spec-pinned equal to
    * the HOF form on both paths. */
  def simHashFast(text: Column, portable: Boolean): Column =
    graft.functions.TextKernels.simHash64Col(normalize(text), portable)

  def simHash(text: Column, tokenHash: Column => Column): Column = {
    val hashes = transform(split(normalize(text), " "), t => tokenHash(t))
    val counts = aggregate(
      hashes,
      array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(63)),
        (a, i) => a + when(call_function("shiftright", h, i).bitwiseAND(1) === 1, 1).otherwise(-1))
    )
    aggregate(
      zip_with(counts, sequence(lit(0), lit(63)),
        (c, i) => when(c >= 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc.bitwiseOR(v))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ------------------------------------------------------------- redaction

  /** PII redaction at scan speed: emails, SSN-style ids, IPv4 addresses and
    * phone-like digit runs replaced by type tags. Pure chained
    * `regexp_replace` (codegen'd, replaces ALL occurrences); patterns stay
    * inside the RE2-compatible subset (no backrefs/lookaround) so any
    * engine — and the DuckDB oracle with the 'g' flag — replays them
    * byte-identically. Order matters: SSN/IP before the generic digit-run
    * phone pattern, or the earlier tags' digits would re-match. */
  def redact(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ssn = regexp_replace(email, "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b", "<ID>")
    val ip = regexp_replace(ssn,
      "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>")
    regexp_replace(ip, "\\+?[0-9][0-9()./ -]{6,}[0-9]", "<PHONE>")
  }

  /** Code-vs-prose signals — the router a mixed web/docs corpus needs
    * before language-specific filtering (prose quality scores garbage-
    * rate source code; code pipelines don't want prose): per document,
    * at scan speed,
    *
    *   - `n_lines` — non-blank lines
    *   - `code_line_frac` — fraction of non-blank lines bearing a code
    *     signature (4+-space or tab indent; trailing `;`/`{`/`}`; a
    *     leading declaration keyword across the mainstream languages)
    *   - `symbol_frac` — `{}();=<>[]` characters per character
    *   - `flag_code` — the router decision:
    *     `code_line_frac ≥ minCodeLines` OR `symbol_frac ≥ minSymbols`
    *
    * Pure array/regex Column expressions (RE2-portable, zero shuffle);
    * fractions round to 6dp. Heuristic by design — a trained classifier
    * ([[hashedNgramFeatures]] + [[graft.operators.Fit.fitLogistic]])
    * beats it when labels exist; this is the label-free default. */
  def codeFlags(
      docs: DataFrame,
      textCol: String = "text",
      minCodeLines: Double = 0.3,
      minSymbols: Double = 0.05): DataFrame = {
    val codeRe = "^( {4,}|\\t)|[;{}][ \\t]*$|" +
      "^[ \\t]*(def |class |import |from |#include|function |var |let " +
      "|const |public |private |return |if \\(|for \\(|while \\()"
    val lines = filter(split(coalesce(col(textCol), lit("")), "\n"),
      l => trim(l) =!= "")
    val codeLines = filter(lines, l => l.rlike(codeRe))
    val symbols = regexp_count(col(textCol), lit("[{}();=<>\\[\\]]"))
    docs
      .withColumn("n_lines", size(lines).cast("long"))
      .withColumn("code_line_frac",
        when(col("n_lines") > 0,
          round(size(codeLines) / col("n_lines"), 6)).otherwise(0.0))
      .withColumn("symbol_frac",
        when(length(col(textCol)) > 0,
          round(symbols / length(col(textCol)), 6)).otherwise(0.0))
      .withColumn("flag_code",
        col("code_line_frac") >= minCodeLines ||
          col("symbol_frac") >= minSymbols)
  }

  /** Code-FILE keep gates (the filters The-Stack-style code corpora
    * apply after routing): per document, at scan speed,
    *
    *   - `max_line_len` / `avg_line_len` — minified bundles and data
    *     blobs have kilobyte lines; real source does not
    *   - `alnum_frac` — binary-ish / art / table files read low
    *   - `flag_autogen` — generated-file banners ("auto-generated",
    *     "do not edit", "generated by")
    *   - `flag_code_keep` — the gate: every bound holds and no
    *     autogen banner
    *
    * Lines split on '\n' (all lines, blank included — a pinned, oracle-
    * replayable definition); fractions/averages round to 6dp. */
  def codeFileStats(
      docs: DataFrame,
      textCol: String = "text",
      maxLineLen: Int = 1000,
      maxAvgLineLen: Double = 100.0,
      minAlnumFrac: Double = 0.25): DataFrame = {
    val lines = split(coalesce(col(textCol), lit("")), "\n")
    val lens = transform(lines, l => length(l))
    val alnum = regexp_count(col(textCol), lit("[A-Za-z0-9]"))
    val autogenRe = "(?i)auto-?generated|do not edit|generated by"
    docs
      .withColumn("max_line_len",
        coalesce(array_max(lens), lit(0)).cast("int"))
      .withColumn("avg_line_len",
        round(coalesce(aggregate(lens, lit(0L), (a, x) => a + x), lit(0L))
          .cast("double") / size(lines), 6))
      .withColumn("alnum_frac",
        when(length(col(textCol)) > 0,
          round(alnum / length(col(textCol)), 6)).otherwise(0.0))
      .withColumn("flag_autogen", col(textCol).rlike(autogenRe))
      .withColumn("flag_code_keep",
        col("max_line_len") <= maxLineLen &&
          col("avg_line_len") <= maxAvgLineLen &&
          col("alnum_frac") >= minAlnumFrac && !col("flag_autogen"))
  }

  /** Markdown → visible text at scan speed — the extraction step for
    * README/docs/issue corpora (the markdown sibling of
    * [[HtmlOps.extractText]]): fenced code blocks drop whole (code is a
    * different modality — keep it by NOT calling this), inline code
    * keeps its content without backticks, images reduce to their alt
    * text, links to their anchor text (reference-style `[t][ref]` and
    * autolink `<http://u>` included), ATX `#` prefixes / blockquote `>`
    * markers / list bullets / horizontal rules strip, emphasis markers
    * (`**` `__` `*` `_` `~~`) unwrap, and setext underlines (`===`/
    * `---` lines) drop. Table pipes become spaces so cell text
    * survives. Pure RE2-portable regexp_replace chain — codegen'd, zero
    * shuffle, oracle-replayable verbatim.
    *
    * Deliberately NOT a full CommonMark parser (nested emphasis
    * edge-cases, HTML blocks, lazy continuations): corpus extraction
    * wants the 99% of real markdown bytes, at scan speed, with
    * deterministic cross-engine replay. */
  def markdownToText(md: Column): Column = {
    val noFence = regexp_replace(md, "(?s)```.*?(```|$)", " ")
    val noImg = regexp_replace(noFence, "!\\[([^\\]]*)\\]\\([^)]*\\)", "$1")
    val noLink = regexp_replace(noImg, "\\[([^\\]]*)\\]\\([^)]*\\)", "$1")
    val noRef = regexp_replace(noLink, "\\[([^\\]]*)\\]\\[[^\\]]*\\]", "$1")
    val noAuto = regexp_replace(noRef, "<(https?://[^>]*)>", "$1")
    val noCode = regexp_replace(noAuto, "`([^`]*)`", "$1")
    val noHead = regexp_replace(noCode, "(?m)^[ \\t]{0,3}#{1,6}[ \\t]+", "")
    val noSetext = regexp_replace(noHead, "(?m)^[ \\t]{0,3}(=+|-{3,})[ \\t]*$", "")
    val noQuote = regexp_replace(noSetext, "(?m)^[ \\t]*>[ \\t]?", "")
    val noBullet = regexp_replace(noQuote,
      "(?m)^[ \\t]*([-*+]|[0-9]+\\.)[ \\t]+", "")
    // emphasis unwrapping stays inside the RE2 subset: no backreferences,
    // no lookaround — bold/strike as literal pairs, italic-underscore only
    // between non-word chars so snake_case identifiers survive
    val noBold = regexp_replace(noBullet, "\\*\\*([^*]+)\\*\\*", "$1")
    val noBoldU = regexp_replace(noBold, "__([^_]+)__", "$1")
    val noStrike = regexp_replace(noBoldU, "~~([^~]+)~~", "$1")
    val noItal = regexp_replace(noStrike, "\\*([^*\\n]+)\\*", "$1")
    val noItalU = regexp_replace(noItal,
      "(?m)(^|[^A-Za-z0-9])_([^_\\n]+)_($|[^A-Za-z0-9])", "$1$2$3")
    // table separator rows (| --- | :-: |) and horizontal rules (---, ***,
    // * * *): lines of only pipes/dashes/colons/asterisks/blanks drop
    val noTableSep = regexp_replace(noItalU, "(?m)^[|:* \\t-]+$", "")
    val noPipe = regexp_replace(noTableSep, "[ \\t]*\\|[ \\t]*", " ")
    // collapse runs of blanks; strip leading/trailing whitespace INCLUDING
    // newlines (trim() is spaces-only)
    regexp_replace(regexp_replace(noPipe, "[ \\t]+", " "),
      "^\\s+|\\s+$", "")
  }

  /** Corpus PII audit — the release-gate report for [[redact]]: per PII
    * type (email, id, ip, phone), total match count and number of
    * documents affected. Counting applies the SAME sequential masking
    * order as [[redact]] (email → id → ip → phone, each type counted on
    * text with the earlier types already masked), so the report
    * describes exactly the replacements redact would make — digits
    * inside an email are never double-counted as a phone.
    *
    * One scan (four codegen'd regexp_count chains) + ONE single-row
    * aggregation, unpivoted to the 4-row report; at 100 TB this is one
    * pass over the text, no shuffle beyond the 1-row partial agg.
    *
    * @return (pii_type, matches, docs) in masking order */
  def redactionReport(
      docs: DataFrame,
      textCol: String = "text"): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ssnRe = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
    val ipRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    val phoneRe = "\\+?[0-9][0-9()./ -]{6,}[0-9]"
    val t0 = coalesce(col(textCol), lit(""))
    val t1 = regexp_replace(t0, emailRe, "<EMAIL>")
    val t2 = regexp_replace(t1, ssnRe, "<ID>")
    val t3 = regexp_replace(t2, ipRe, "<IP>")
    val counted = docs.select(
      regexp_count(t0, lit(emailRe)).as("__e"),
      regexp_count(t1, lit(ssnRe)).as("__s"),
      regexp_count(t2, lit(ipRe)).as("__i"),
      regexp_count(t3, lit(phoneRe)).as("__p"))
    val agg = counted.agg(
      sum(col("__e")).as("__et"), sum(when(col("__e") > 0, 1L).otherwise(0L)).as("__ed"),
      sum(col("__s")).as("__st"), sum(when(col("__s") > 0, 1L).otherwise(0L)).as("__sd"),
      sum(col("__i")).as("__it"), sum(when(col("__i") > 0, 1L).otherwise(0L)).as("__id"),
      sum(col("__p")).as("__pt"), sum(when(col("__p") > 0, 1L).otherwise(0L)).as("__pd"))
    def row(name: String, total: Column, docsC: Column) = struct(
      lit(name).as("pii_type"), coalesce(total, lit(0L)).as("matches"),
      coalesce(docsC, lit(0L)).as("docs"))
    agg.select(explode(array(
        row("email", col("__et"), col("__ed")),
        row("id", col("__st"), col("__sd")),
        row("ip", col("__it"), col("__id")),
        row("phone", col("__pt"), col("__pd")))).as("__r"))
      .select(col("__r.pii_type"), col("__r.matches"), col("__r.docs"))
  }

  // ----------------------------------------------------- encoding hygiene

  /** Encoding-artifact counters and keep flag — the "was this document
    * decoded with the wrong charset" check web corpora need before any
    * token-level filter (mojibake inflates token counts and poisons
    * n-gram stats). Adds, at scan speed (portable regex counters, zero
    * shuffle):
    *
    *   - `n_replacement` — U+FFFD replacement characters (lossy decode)
    *   - `n_control`     — C0 control chars other than \t \n \r (binary
    *     junk pasted into text)
    *   - `n_mojibake`    — signature byte pairs of UTF-8 read as
    *     Latin-1/cp1252 ("Ã©" for é, "â€™" for ', "Â " for NBSP)
    *   - `flag_encoding` — true when all three counters are ≤ the
    *     per-10k-chars tolerance `per10k` (0 = strict)
    */
  def encodingFlags(
      docs: DataFrame,
      textCol: String = "text",
      per10k: Double = 0.0): DataFrame = {
    val t = col(textCol)
    val budget = lit(per10k) * (length(t).cast("double") / 10000.0)
    docs
      .withColumn("n_replacement", regexp_count(t, lit("\uFFFD")))
      .withColumn("n_control",
        regexp_count(t, lit("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]")))
      .withColumn("n_mojibake",
        // UTF-8 continuation bytes surfaced by a Latin-1 decode land in
        // U+0080..U+00BF; a cp1252 decode maps 0x80/0x99-class bytes to
        // EURO/TM-class glyphs. U+00E2 + U+20AC ("a-circumflex, euro") is
        // the visible signature of mis-decoded 3-byte punctuation;
        // U+00C3/U+00C2 + continuation of 2-byte letters.
        regexp_count(t, lit(
          "\u00c3[\u0080-\u00bf]|\u00e2\u20ac|\u00e2\u0080|\u00c2[\u00a0-\u00bf]")))
      .withColumn("flag_encoding",
        col("n_replacement") <= budget && col("n_control") <= budget &&
          col("n_mojibake") <= budget)
  }

  /** NFC Unicode normalization — the dedup-hygiene step [[normalize]]'s
    * lowercase/whitespace pass cannot cover: composed and decomposed
    * accents ("é" as U+00E9 vs "e"+U+0301) are byte-distinct, so they
    * defeat exact dedup, fingerprints, and MinHash shingles while looking
    * identical. Run it before any hash-keyed operator on
    * non-ASCII-guaranteed corpora. JDK Normalizer behind a scan-stage
    * kernel; NFC is a conformance-defined form, so any engine's
    * implementation (the oracle uses DuckDB's utf8proc) agrees. */
  def nfcNormalize(text: Column): Column =
    graft.functions.TextKernels.nfcCol(text)

  /** Strip invisible code points — zero-width space/joiner/non-joiner,
    * word joiner, BOM, soft hyphen — the characters that make two
    * identical-looking strings hash differently and pad token counts. */
  def stripInvisible(text: Column): Column =
    regexp_replace(text, "[\\x{200B}\\x{200C}\\x{200D}\\x{2060}\\x{FEFF}\\x{00AD}]", "")

  /** Re-join end-of-line hyphenation ("exam-\nple" → "example") — the
    * PDF/column-extraction artifact; a hyphen between letters on ONE line
    * (a genuine compound) is preserved. */
  def dehyphenate(text: Column): Column =
    regexp_replace(text, "(\\p{L})-[ \\t]*\\n[ \\t]*(\\p{L})", "$1$2")

  /** Per-doc information-density signals: `char_entropy` (bits per code
    * point) and `word_entropy` (bits per token) of the normalized text —
    * the gibberish gate the ratio features miss (base64 blobs and
    * keyboard mashing have unremarkable punct/alpha ratios but outlying
    * entropy; template boilerplate sits low on word entropy). One
    * scan-speed kernel pass behind the pushdown barrier, zero shuffle.
    * Edge contract: empty normalized text → 0.0 for both entropies
    * (the n=0 fold), NULL text → NULL — every input row emits a row. */
  /** Column form of [[entropyMetrics]]'s char entropy — the dialect
    * scalar `char_entropy`. One kernel invocation per call site; the
    * DataFrame operator shares a single pass for both entropies. */
  def charEntropy(text: Column): Column =
    element_at(graft.functions.TextKernels.entropyStatsCol(normalize(text)), 1)

  /** Column form of [[entropyMetrics]]'s word entropy — dialect scalar
    * `word_entropy`. */
  def wordEntropy(text: Column): Column =
    element_at(graft.functions.TextKernels.entropyStatsCol(normalize(text)), 2)

  def entropyMetrics(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val d = withKernelColumn(docs, "__ent",
      graft.functions.TextKernels.entropyStatsCol(normalize(col(textCol))))
    d.withColumn("char_entropy", element_at(col("__ent"), 1))
      .withColumn("word_entropy", element_at(col("__ent"), 2))
      .drop("__ent")
  }

  /** Wikitext → visible text (Wikipedia-dump corpora): the nesting-aware
    * structural strip ([[graft.functions.TextKernels.wikiStrip]] —
    * templates, tables, refs, wiki links, emphasis, heading fences, list
    * markers) followed by the SAME HTML extractor chain every other
    * markup source uses (residual html tags, entities, whitespace/line
    * normalization). Scan-speed, zero shuffle. */
  def wikiText(text: Column): Column =
    HtmlOps.extractText(graft.functions.TextKernels.wikiStripCol(text))

  /** SPDX-style license identification from characteristic license-text
    * phrases (the code-corpus curation gate: train only on permissive
    * sources). Matches the NORMALIZED text (lowercased, whitespace
    * collapsed) against each family's canonical sentence — phrases, not
    * filenames, so it works on file headers, LICENSE files and README
    * blurbs alike. Returns the SPDX id or NULL when nothing matches;
    * check order puts the more specific marker first (BSD 3 before 2,
    * GPL version before bare GPL, CC variants before plain BY). Pure
    * Column expressions — scan-speed, oracle-replayable. */
  def licenseId(text: Column): Column = {
    val t = regexp_replace(lower(text), "\\s+", " ")
    when(t.contains("apache license, version 2.0") ||
      t.contains("licensed under the apache license"), "apache-2.0")
      .when(t.contains("permission is hereby granted, free of charge"), "mit")
      .when(t.contains("permission to use, copy, modify, and/or distribute"),
        "isc")
      .when(t.contains("redistribution and use in source and binary forms"),
        when(t.contains("neither the name"), "bsd-3-clause")
          .otherwise("bsd-2-clause"))
      .when(t.contains("gnu lesser general public license"),
        when(t.contains("version 3"), "lgpl-3.0").otherwise("lgpl-2.1"))
      .when(t.contains("gnu general public license"),
        when(t.contains("version 3"), "gpl-3.0").otherwise("gpl-2.0"))
      .when(t.contains("gnu affero general public license"), "agpl-3.0")
      .when(t.contains("mozilla public license"), "mpl-2.0")
      .when(t.contains("this is free and unencumbered software"), "unlicense")
      .when(t.contains("creativecommons.org/publicdomain/zero"), "cc0-1.0")
      .when(t.contains("creativecommons.org/licenses/by-nc"), "cc-by-nc-4.0")
      .when(t.contains("creativecommons.org/licenses/by-sa"), "cc-by-sa-4.0")
      .when(t.contains("creativecommons.org/licenses/by"), "cc-by-4.0")
  }

  private val permissiveLicenses = Seq(
    "apache-2.0", "mit", "isc", "bsd-3-clause", "bsd-2-clause", "mpl-2.0",
    "unlicense", "cc0-1.0", "cc-by-4.0")

  /** true when [[licenseId]] resolves to a permissive family (the
    * train-on-it gate; copyleft/NC variants and UNKNOWN read false —
    * unknown is not permission). */
  def licensePermissive(text: Column): Column =
    coalesce(licenseId(text).isin(permissiveLicenses: _*), lit(false))

  /** LaTeX source → visible text (arXiv corpora): the structural strip
    * kernel ([[graft.functions.TextKernels.latexStrip]] — comments,
    * math, float/verbatim environments, reference commands; sectioning
    * arguments become their own lines) plus whitespace/line
    * normalization. Scan-speed, zero shuffle. */
  def latexText(text: Column): Column =
    HtmlOps.normalizeWs(graft.functions.TextKernels.latexStripCol(text))

  /** Collapse consecutively repeated word n-grams to their first `keep`
    * copies ("click here click here click here …" → "click here click
    * here") — the degenerate-repetition cleanup for LM-generated spam
    * and scraper echo, the REMOVAL complement of the
    * [[repetitionMetrics]] signals. Runs of n-grams up to `maxN` words
    * collapse, smallest n first (so a single-word run never survives as
    * a phrase run). Operates on and returns single-space-normalized
    * text; scan-speed kernel, zero shuffle. */
  def collapseRepeats(text: Column, maxN: Int = 3, keep: Int = 2): Column = {
    require(maxN >= 1 && keep >= 1, "need maxN >= 1 and keep >= 1")
    graft.functions.TextKernels.collapseRunsCol(normalize(text), maxN, keep)
  }

  // ------------------------------------------------------ DataFrame-level ops

  /** Attach the expensive struct kernel `c` as column `name` behind a
    * predicate-pushdown barrier. A plain `withColumn` projection is
    * transparent to `PushPredicateThroughNonJoin`: any filter over the
    * derived columns gets alias-substituted below the projection, cloning
    * the kernel into every conjunct reference — measured 121 kernel
    * invocations per row (13× wall-clock) for the curate filter, since
    * `FilterExec` does no subexpression elimination. A one-element explode
    * is a `Generate` node, and predicates on generator output cannot move
    * below it, so the kernel runs exactly once per row (still inside
    * whole-stage codegen — `GenerateExec` participates). Predicates on
    * pass-through columns still push below the Generate to the scan. */
  private def withKernelColumn(df: DataFrame, name: String, c: Column): DataFrame =
    df.select(col("*"), explode(array(c)).as(name))

  /** Annotate a corpus with the full text-analysis column set.
    *
    * One [[graft.functions.TextKernels.textStatsCol]] pass computes every
    * counter (the per-signal regex formulation above re-scans each document
    * ~10×); the ratio/score/argmax arithmetic over the counters is
    * identical to the per-signal definitions, which the DuckDB oracle pins. */
  def analyze(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val st = graft.functions.TextKernels.textStatsCol(t)
    val d = withKernelColumn(docs, "__st", st)
    def f(name: String) = col("__st").getField(name)
    val words = f("token_count")
    val n = f("n")
    val punct = when(n === 0, lit(0.0)).otherwise(f("npunct").cast("double") / n)
    val alpha = when(n === 0, lit(0.0)).otherwise(f("nalpha").cast("double") / n)
    val mwl = when(words === 0, lit(0.0)).otherwise(f("nws").cast("double") / words)
    val stop = when(words === 0, lit(0.0)).otherwise(f("nstop").cast("double") / words)
    val lenScore = when(n.between(50, 20000), 1.0).otherwise(0.3)
    val punctScore = when(punct < 0.2, 1.0).otherwise(0.4)
    val alphaScore = when(alpha > 0.5, 1.0).otherwise(0.5)
    val (en, de, fr, es, zh) = (f("en"), f("de"), f("fr"), f("es"), f("zh"))
    val (ru, ar, ko, ja, hi) = (f("ru"), f("ar"), f("ko"), f("ja"), f("hi"))
    val m = greatest(en, de, fr, es, zh, ru, ar, ko, ja, hi)
    val lang = when(m === 0, lit("und"))
      .when(ja === m, "ja").when(zh === m, "zh").when(ru === m, "ru")
      .when(ar === m, "ar").when(ko === m, "ko").when(hi === m, "hi")
      .when(en === m, "en").when(de === m, "de")
      .when(fr === m, "fr").otherwise("es")
    d
      .withColumn("token_count", words)
      .withColumn("punct_ratio", round(punct, 6))
      .withColumn("alpha_ratio", round(alpha, 6))
      .withColumn("mean_word_len", round(mwl, 6))
      .withColumn("stopword_ratio", round(stop, 6))
      .withColumn("quality",
        round(lenScore * 0.4 + punctScore * 0.3 + alphaScore * 0.3, 4))
      .withColumn("lang_pred", lang)
      .withColumn("fingerprint", fingerprint(t))
      .drop("__st")
  }

  /** Per-language corpus audit — the summary table every curation run
    * prints before/after filtering: document count, mean quality, median
    * and p90 token counts, total tokens, grouped by predicted language.
    * One [[analyze]] scan (codegen'd kernel) + ONE shuffle keyed on the
    * language; medians/percentiles are Spark's exact interpolated
    * `percentile`, computed per group over the (small, #langs-bounded)
    * grouped sets. */
  def curationReport(docs: DataFrame, textCol: String = "text"): DataFrame =
    analyze(docs, textCol)
      .groupBy(col("lang_pred"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("quality")), 6).as("avg_quality"),
        round(median(col("token_count")), 4).as("med_tokens"),
        round(percentile(col("token_count"), lit(0.9)), 4).as("p90_tokens"),
        sum(col("token_count")).cast("long").as("total_tokens"))

  /** Annotate a corpus with repetition metrics — the Gopher-style signals
    * (Rae et al. 2021 §A1.1) that catch boilerplate/spam: duplicate word /
    * bigram / trigram fractions, top-word mass, duplicate-line fraction.
    * One [[graft.functions.TextKernels.repetitionStatsCol]] pass; ratios
    * are plain arithmetic over the counters (oracle-pinned). */
  def repetitionMetrics(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val d = withKernelColumn(docs, "__rs",
      graft.functions.TextKernels.repetitionStatsCol(col(textCol)))
    def f(name: String) = col("__rs").getField(name)
    def frac(uniq: Column, total: Column): Column =
      when(total === 0, lit(0.0))
        .otherwise(round(lit(1.0) - uniq.cast("double") / total, 6))
    d
      .withColumn("dup_word_frac", frac(f("uniq_words"), f("words")))
      .withColumn("dup_bigram_frac", frac(f("uniq_bigrams"), f("bigrams")))
      .withColumn("dup_trigram_frac", frac(f("uniq_trigrams"), f("trigrams")))
      .withColumn("top_word_frac",
        when(f("words") === 0, lit(0.0))
          .otherwise(round(f("max_word_freq").cast("double") / f("words"), 6)))
      .withColumn("dup_line_frac", frac(f("uniq_lines"), f("lines")))
      .drop("__rs")
  }

  /** Gopher-style quality rules (Rae et al. 2021 table A1) as boolean flag
    * columns plus the conjunction `gopher_keep`: word-count window, mean
    * word length window, alpha-word fraction, stopword evidence, symbol
    * and ellipsis ceilings, repetition ceilings. All counters come from the
    * [[graft.functions.TextKernels]] one-pass kernels + two cheap
    * regexp_counts — still scan-speed, no shuffle. */
  def gopherFlags(docs: DataFrame, textCol: String = "text",
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val t = col(textCol)
    val d = repetitionMetrics(
      withKernelColumn(docs, "__st", graft.functions.TextKernels.textStatsCol(t)),
      textCol)
    def s(name: String) = col("__st").getField(name)
    val words = s("token_count")
    val mwl = when(words === 0, lit(0.0))
      .otherwise(s("nws").cast("double") / words)
    val symbolRatio = when(words === 0, lit(1.0))
      .otherwise((regexp_count(t, lit("#")) +
        regexp_count(t, lit("\\.\\.\\."))).cast("double") / words)
    // numerator and denominator share ONE line definition (split on \n):
    // a (?m)^ regex over the raw text would additionally anchor after \r
    // and Unicode line separators in Java but not in RE2-family engines,
    // so lone-\r docs would over-count bullets vs the denominator
    val lines = split(t, "\n")
    val bulletRatio = when(size(lines) === 0, lit(0.0))
      .otherwise(size(filter(lines, l => l.rlike("^[-*•]"))).cast("double") /
        size(lines))
    val flags = d
      .withColumn("flag_word_count", words.between(minWords, maxWords))
      .withColumn("flag_mean_word_len", mwl.between(3.0, 10.0))
      .withColumn("flag_symbol_ratio", symbolRatio < 0.1)
      .withColumn("flag_bullet_ratio", bulletRatio < 0.9)
      .withColumn("flag_stopwords", s("nstop") >= 2)
      .withColumn("flag_repetition",
        col("dup_word_frac") < 0.9 && col("dup_trigram_frac") < 0.9 &&
          col("top_word_frac") < 0.3)
    flags
      .withColumn("gopher_keep",
        col("flag_word_count") && col("flag_mean_word_len") &&
          col("flag_symbol_ratio") && col("flag_bullet_ratio") &&
          col("flag_stopwords") && col("flag_repetition"))
      .drop("__st")
  }

  /** Per-group quality gate (exact): keep the top `frac` of rows per group
    * by `score` — the "keep the best p% per language" step after quality
    * scoring. Exact semantics: rank = row_number over (group, score DESC,
    * `tie` ASC), keep rank ≤ ⌈frac · group size⌉. Both window functions
    * share one partitioning, so the plan is ONE shuffle with a spillable
    * sort — correct at any group size, but the sort is paid. For 100 TB
    * corpora prefer [[keepTopQualityApprox]], which replaces the global
    * per-group sort with a broadcast threshold. */
  def keepTopQuality(
      docs: DataFrame,
      score: Column,
      frac: Double,
      by: Column,
      tie: Column): DataFrame = {
    require(frac > 0 && frac <= 1, "frac must be in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(by)
    val rk = row_number().over(w.orderBy(score.desc, tie.asc))
    val cnt = count(lit(1)).over(w)
    docs.withColumn("__rk", rk).withColumn("__cnt", cnt)
      .filter(col("__rk") <= ceil(lit(frac) * col("__cnt")))
      .drop("__rk", "__cnt")
  }

  /** Per-group count cap (exact): keep the best `k` rows per group by
    * `score` (ties broken by `tie` ASC — deterministic), the "at most K
    * documents per domain" step of C4/RefinedWeb-style curation. Same
    * ONE-shuffle spillable-sort shape as [[keepTopQuality]]; for corpora
    * where a full per-group sort is too hot, pre-thin with
    * [[keepTopQualityApprox]] (broadcast threshold, no sort) and cap the
    * survivors. */
  def capPerGroup(
      docs: DataFrame,
      score: Column,
      k: Int,
      by: Column,
      tie: Column): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val rk = row_number().over(Window.partitionBy(by).orderBy(score.desc, tie.asc))
    docs.withColumn("__rk", rk).filter(col("__rk") <= k).drop("__rk")
  }

  /** Compression-ratio quality metrics: deflate the UTF-8 text (level 6,
    * [[graft.functions.TextKernels.compressionStatsCol]] one-pass kernel)
    * and keep documents inside a compressibility window. Too compressible
    * (ratio below `minRatio`) means machine-repeated filler; incompressible
    * (above `maxRatio`) means random/encoded content — both slip past
    * token-level heuristics. Defaults are calibrated to raw-DEFLATE level-6
    * behavior: repeated filler lands < 0.01, varied prose 0.3–0.75 (the
    * ~40-byte overhead inflates SHORT docs toward the top of that range —
    * pair with a length floor when tightening `maxRatio`), base64/random
    * alphanumeric 0.75–0.83, random 7-bit text ~0.88. Adds `raw_bytes`,
    * `deflate_bytes`, `deflate_ratio`, `flag_compression`. Scan-speed, zero
    * shuffle; the kernel sits behind the same Generate barrier as
    * [[analyze]] so filters over the derived columns never clone the
    * deflate call. */
  def compressionMetrics(
      docs: DataFrame,
      textCol: String = "text",
      minRatio: Double = 0.10,
      maxRatio: Double = 0.85): DataFrame = {
    val d = withKernelColumn(docs, "__cs",
      graft.functions.TextKernels.compressionStatsCol(col(textCol)))
    d.withColumn("raw_bytes", col("__cs").getField("raw_bytes"))
      .withColumn("deflate_bytes", col("__cs").getField("deflate_bytes"))
      .withColumn("deflate_ratio",
        when(col("raw_bytes") === 0, lit(1.0))
          .otherwise(col("deflate_bytes").cast("double") / col("raw_bytes")))
      .withColumn("flag_compression",
        col("deflate_ratio").between(minRatio, maxRatio))
      .drop("__cs")
  }

  /** Trained-classifier quality scoring at scan speed: logistic regression
    * over caller-chosen numeric feature columns — `sigmoid(bias + Σ wᵢ·fᵢ)`
    * as one codegen'd Column expression. This is the deployment shape of a
    * fasttext/LR quality classifier at corpus scale: train offline on a
    * labeled slice, ship ONLY the weights, score 100 TB in the scan with
    * zero shuffle and no model-serving hop. Compose with [[analyze]] (or
    * [[repetitionMetrics]], [[compressionMetrics]]) for the features; the
    * weighted sum is evaluated in the given feature order (fp addition is
    * not associative — a fixed order keeps scores reproducible).
    *
    * @param features (feature column, trained weight) pairs
    * @param bias     trained intercept
    * @return input plus `outCol` = sigmoid score in (0,1), rounded to 6dp */
  def scoreLinear(
      docs: DataFrame,
      features: Seq[(Column, Double)],
      bias: Double = 0.0,
      outCol: String = "clf_score"): DataFrame = {
    require(features.nonEmpty, "need at least one (feature, weight)")
    val z = features.foldLeft(lit(bias): Column) {
      case (acc, (c, w)) => acc + c * w
    }
    docs.withColumn(outCol, round(lit(1.0) / (lit(1.0) + exp(-z)), 6))
  }

  /** Fixed-token-budget document chunking with overlap — the splitter an
    * embedding or pretraining pipeline runs before tokenization: the
    * whitespace-normalized word sequence is windowed into chunks of
    * `maxTokens` words advancing by `maxTokens - overlap`, so consecutive
    * chunks share `overlap` words of context and every word is covered.
    * A document at or under the budget yields exactly one chunk; a final
    * window that would be fully contained in its predecessor is not
    * emitted. Output: (idCol, chunk_id, chunk, n_tokens) with chunk_id
    * dense per document.
    *
    * Pure Column expressions (one split, array slices, no UDF, no
    * shuffle) — a 100 TB corpus chunks at scan speed and the row
    * explosion stays inside the scan stage, so the op composes with a
    * downstream embedding or packing shuffle without adding one. */
  def chunkDocs(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxTokens: Int = 512,
      overlap: Int = 64): DataFrame = {
    require(maxTokens > 0 && overlap >= 0 && overlap < maxTokens,
      "need 0 <= overlap < maxTokens")
    val step = maxTokens - overlap
    val words = split(trim(regexp_replace(col(textCol), "\\s+", " ")), " ")
    docs
      .select(col(idCol), words.as("__w"), size(words).as("__n"))
      .select(col(idCol), col("__w"), col("__n"),
        when(col("__n") <= maxTokens, lit(1))
          .otherwise(ceil((col("__n") - lit(overlap)).cast("double") / step)
            .cast("int")).as("__nc"))
      .select(col(idCol),
        explode(transform(sequence(lit(0), col("__nc") - 1), i =>
          struct(i.cast("int").as("chunk_id"),
            array_join(slice(col("__w"), i * step + 1, lit(maxTokens)), " ")
              .as("chunk"),
            least(lit(maxTokens), col("__n") - i * step).cast("int")
              .as("n_tokens")))).as("__c"))
      .select(col(idCol), col("__c.chunk_id"), col("__c.chunk"),
        col("__c.n_tokens"))
  }

  /** Cross-document exact-substring duplication detector (the signal
    * behind "Deduplicating Training Data Makes Language Models Better",
    * Lee et al. 2022 — minus the suffix array): every distinct `n`-word
    * window of each document is hashed, windows shared by 2+ documents are
    * flagged, and each document reports what fraction of its windows is
    * duplicated elsewhere. Complements MinHash/SimHash (whole-doc
    * near-dup): a doc that embeds one boilerplate paragraph inside unique
    * text scores low on Jaccard but high here.
    *
    * Plan at scale: one scan hashing distinct windows in place (the
    * fused spanHashes kernel — one xxhash64 per window over the
    * normalized bytes, no per-gram strings, r15), so the shuffle carries
    * (id, 64-bit hash) pairs only, never 50-token strings — ONE shuffle
    * keyed on the hash for the sharing count, one (small-volume) rollup.
    * Hashing makes a false shared-window ~2⁻⁶⁴ per pair — noise next to
    * the decision thresholds this feeds (e.g. drop at dup_frac > 0.5);
    * the hash never leaves the operator (the oracle groups raw gram
    * strings, so collision-freedom is part of the correctness check).
    *
    * @param n window length in words (Lee et al. use 50; small corpora
    *          want less)
    * @return (idCol, spans, dup_spans, dup_frac) — `spans` counts the
    *         doc's DISTINCT n-word windows */
  def dupSpans(
      docs: DataFrame,
      n: Int = 50,
      textCol: String = "text",
      idCol: String = "doc_id",
      parts: Int = 0): DataFrame = {
    require(n >= 1, "n must be positive")
    require(parts >= 0, "parts must be non-negative (0 = size to input volume)")
    // r15 shape decision, MEASURED (SpanShapeTune @ 2M synth docs,
    // interleaved min-of-2; see OPTIMIZATION_r15.md): the hash-aggregation
    // alternative (count per hash + shuffled-hash join instead of the
    // window sort) lost 9.8 s vs 17.2 s because column pruning splits its
    // two hash exchanges (no reuse → the gram kernel and the fan-out
    // shuffle both run twice) while the window's per-partition sort is
    // bounded by the fan-out sizing and is NOT the bottleneck. The window
    // formulation (2 shuffles: hash window + per-doc rollup, no join)
    // stays at every scale; the agg shape was deleted.
    val windowParts =
      if (parts > 0) parts else fanoutParts(docs, textCol)
    // window hashes come fused from the scan (one xxhash64 per window
    // over the normalized bytes, r15): no per-gram substring
    // materialization, no md5 — the hash is internal, the oracles group
    // raw gram strings (see TextKernels.spanHashesDistinctCol)
    val grams = docs.select(col(idCol).as("__id"),
        explode(graft.functions.TextKernels.spanHashesDistinctCol(
          normalize(col(textCol)), n)).as("__h"))
    // shingles are distinct per doc, so the per-hash row count IS the
    // number of documents sharing the window
    val byHash = org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))
    // the hash window is the corpus-global shuffle (one (id, hash) row per
    // distinct window — ~wordCount× the input ROW count, i.e. far beyond
    // the input byte estimate): size its partition count to the WINDOW
    // FAN-OUT ([[fanoutParts]]: rows × sampled words/doc × 32 B at 32 MB
    // targets) so the per-partition window sort stays in memory at any
    // corpus size without over-partitioning (r10's byte-based sizing at a
    // 512 KB target resolved ~4× past the DupSpansTune optimum of ~512
    // parts at the 20M smoke — 99-186 s at 512 vs 132-274 s auto; tiny
    // partitions pay task-launch and per-sort overhead with no spill
    // relief). The explicit repartition satisfies the window's clustering
    // requirement, so this is still the SAME single shuffle, just
    // fan-out-sized; AQE never splits partitions upward on its own.
    // only repartition when sizing UP past the session setting: an
    // explicit numPartitions also disables AQE's downward coalescing, so
    // forcing it at small scale costs task-launch overhead for nothing
    // (r9 bench: q_dup_spans 1.6× slower at sf0.1 with a forced 32)
    val sized =
      if (windowParts > docs.sparkSession.sessionState.conf.numShufflePartitions)
        grams.repartition(windowParts, col("__h"))
      else grams
    sized.withColumn("__docs", count(lit(1)).over(byHash))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("spans"),
        sum(when(col("__docs") > 1, 1L).otherwise(0L)).as("dup_spans"))
      .select(col("__id").as(idCol), col("spans"), col("dup_spans"),
        round(col("dup_spans") / col("spans"), 6).as("dup_frac"))
  }

  /** Cross-document duplicated-span REMOVAL — the acting half of
    * [[dupSpans]] (Lee et al. 2022 remove the repeated substrings, not the
    * documents): every `n`-word window occurring 2+ times in the corpus
    * (across documents or within one) keeps its FIRST occurrence — minimal
    * (doc id, position) — and every word covered by a non-first occurrence
    * of any duplicated window is deleted from its document; the survivors
    * re-join with single spaces. Deterministic: which copy survives depends
    * only on ids/positions, never on partitioning. Documents shorter than
    * `n` words have no windows and pass through untouched; a document can
    * empty out entirely (boilerplate mirrors).
    *
    * Edge semantics: words are counted as `split(text, ' ')` counts them,
    * so an empty text comes back as `clean_text` '' with `n_words` 1 and
    * `n_removed` 0, and a null text as `clean_text` '' (not null) with
    * null counts. `n_removed = n_words` alone therefore misses both; the
    * test for "nothing left" is `clean_text = '' OR n_removed = n_words`.
    *
    * Plan at scale: positional windows leave the scan as (id, pos, 64-bit
    * xxhash64) rows — one fused kernel, no per-gram strings, and the
    * payload never rides the corpus-global shuffle. ONE volume-sized
    * hash-keyed shuffle computes each window's occurrence count and first
    * occurrence (same sizing lever as [[dupSpans]]), removal positions
    * roll up per doc (id shuffle), and one id-keyed SHUFFLED-HASH join
    * attaches them back to the text (the payload is never sorted) for a
    * compiled coverage-sweep rebuild (O(words + removals·log removals),
    * scan-stage). Three shuffles total, all key-growing. The hash never
    * leaves the operator — the oracle replays raw gram strings.
    *
    * @return (idCol, clean_text, n_words, n_removed) — counts in words of
    *         the single-space-normalized text */
  def removeDupSpans(
      docs: DataFrame,
      n: Int = 50,
      textCol: String = "text",
      idCol: String = "doc_id",
      parts: Int = 0): DataFrame = {
    require(n >= 1, "n must be positive")
    require(parts >= 0, "parts must be non-negative (0 = size to input volume)")
    // r15 shape decision, MEASURED (SpanShapeTune @ 2M synth docs,
    // interleaved min-of-2; see OPTIMIZATION_r15.md): the hash-aggregation
    // alternative (decimal-packed first-occurrence election in a
    // HashAggregate + shuffled-hash joins, zero sorts) only TIED the
    // window shape (12.4 vs 12.6 s) because pruning-split exchanges run
    // the gram kernel twice; the window formulation stays (simpler plan,
    // same speed) and the agg shape was deleted.
    val windowParts =
      if (parts > 0) parts else fanoutParts(docs, textCol)
    // fused window hashing at the scan — see dupSpans (r15)
    val occ = docs.select(col(idCol).as("__id"),
        posexplode(graft.functions.TextKernels.spanHashesCol(
          normalize(col(textCol)), n)).as(Seq("__p", "__h")))
    val byHash = org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))
    // same corpus-global shuffle shape (and fan-out sizing rationale) as
    // dupSpans: ~wordCount× the input row count rides this window
    val sized =
      if (windowParts > docs.sparkSession.sessionState.conf.numShufflePartitions)
        occ.repartition(windowParts, col("__h"))
      else occ
    val removals = sized
      .withColumn("__occ", count(lit(1)).over(byHash))
      .withColumn("__first", min(struct(col("__id"), col("__p"))).over(byHash))
      .filter(col("__occ") > 1 &&
        !(col("__first")("__id") === col("__id") &&
          col("__first")("__p") === col("__p")))
      .groupBy(col("__id"))
      .agg(collect_list(col("__p")).as("__starts"))
      .withColumnRenamed("__id", idCol)
    rebuildCleanText(docs, removals, n, textCol, idCol)
  }

  /** Shared tail of the span-removal operators (r15): attach the per-doc
    * removal starts with a SHUFFLED-HASH left join (the sort-merge
    * default sorted the full text payload by id for nothing — the build
    * side is only the docs that lost a span) and splice the survivors
    * with the compiled coverage-sweep kernel
    * ([[graft.functions.TextKernels.removeSpansCol]]) instead of the
    * interpreted `filter × exists` HOF pair (O(words · removals) lambda
    * evaluations per doc, the dominant rebuild cost at the 20M smoke). */
  private def rebuildCleanText(
      docs: DataFrame,
      removals: DataFrame,
      n: Int,
      textCol: String,
      idCol: String): DataFrame = {
    val starts = coalesce(col("__starts"), array().cast("array<int>"))
    docs.join(removals.hint("shuffle_hash"), Seq(idCol), "left")
      .withColumn("__rs", graft.functions.TextKernels.removeSpansCol(
        normalize(col(textCol)), starts, n))
      .select(col(idCol), col("__rs.clean_text").as("clean_text"),
        col("__rs.n_words").as("n_words"),
        col("__rs.n_removed").as("n_removed"))
  }

  /** Distinct span-hash signatures of a corpus — the stored table
    * [[removeDupSpansAgainst]] dedups future batches against (the
    * span-level member of the stored-signature family beside
    * `Dedup.minHashSignatures`/`simHashSignatures`): one 64-bit xxhash64
    * (the fused spanHashes kernel, r15 — stores written by older rounds'
    * md5-60 scheme must be re-materialized) per distinct `n`-word window,
    * text never stored. Materialize once per corpus snapshot, append each
    * ingested batch's signatures.
    *
    * Plan: one explode scan → one hash-keyed dedup shuffle, sized to the
    * window fan-out ([[fanoutParts]]). Output: (span_hash). */
  def spanSignatures(
      docs: DataFrame,
      n: Int = 50,
      textCol: String = "text",
      parts: Int = 0): DataFrame = {
    require(n >= 1 && parts >= 0, "need n >= 1, parts >= 0")
    // fused xxhash64 window hashing (r15) — must stay in lockstep with
    // removeDupSpansAgainst, which joins stored signatures against batch
    // hashes computed by the same kernel
    val hashes = docs.select(explode(graft.functions.TextKernels.spanHashesCol(
        normalize(col(textCol)), n)).as("span_hash"))
    val windowParts = if (parts > 0) parts else fanoutParts(docs, textCol)
    val sized =
      if (windowParts > docs.sparkSession.sessionState.conf.numShufflePartitions)
        hashes.repartition(windowParts, col("span_hash"))
      else hashes
    sized.dropDuplicates("span_hash")
  }

  /** Incremental duplicated-span REMOVAL — the daily-ingest twin of
    * [[removeDupSpans]]: every `n`-word window of the NEW batch that
    * already exists in the stored corpus signature table
    * ([[spanSignatures]]) is deleted WHEREVER it occurs (the corpus owns
    * the first occurrence), and windows duplicated within the batch
    * itself keep their first (doc id, position) occurrence exactly like
    * the batch-global operator. Deterministic; documents shorter than
    * `n` words pass through untouched.
    *
    * Plan at scale: the batch's positional windows leave the scan as
    * slim (id, pos, hash) rows; ONE fan-out-sized hash shuffle serves
    * both the signature equi-join (corpus side pre-hashed — text never
    * moves) and the within-batch census/election window (same
    * partitioning, no second exchange); removal positions roll up per
    * doc and one id-keyed join rebuilds the text, exactly the
    * [[removeDupSpans]] tail.
    *
    * Edge semantics are [[removeDupSpans]]'s: empty text gives
    * `clean_text` '' with `n_words` 1 and `n_removed` 0, null text gives
    * `clean_text` '' with null counts; test emptied documents with
    * `clean_text = '' OR n_removed = n_words`.
    *
    * @return (idCol, clean_text, n_words, n_removed) */
  def removeDupSpansAgainst(
      docs: DataFrame,
      signatures: DataFrame,
      n: Int = 50,
      textCol: String = "text",
      idCol: String = "doc_id",
      parts: Int = 0): DataFrame = {
    require(n >= 1 && parts >= 0, "need n >= 1, parts >= 0")
    // r15 shape decision — see [[removeDupSpans]]: window formulation at
    // every scale (the agg alternative measured no better)
    val windowParts =
      if (parts > 0) parts else fanoutParts(docs, textCol)
    val occ = docs.select(col(idCol).as("__id"),
        posexplode(graft.functions.TextKernels.spanHashesCol(
          normalize(col(textCol)), n)).as(Seq("__p", "__h")))
    val sized =
      if (windowParts > docs.sparkSession.sessionState.conf.numShufflePartitions)
        occ.repartition(windowParts, col("__h"))
      else occ
    // appended batch signatures accumulate duplicate hashes across
    // snapshots ([[spanSignatures]] dedups within ONE batch only); a
    // non-unique join side would duplicate every matched occurrence row
    // into the window/collect_list — results stay correct (duplicated
    // rows are corpus-matched and removed anyway) but the fan-out
    // shuffle inflates by the duplication factor. Dedup here: the
    // signature side is hashes only, and the dropDuplicates folds into
    // the same hash-partitioned exchange the join needs.
    val sigs = signatures
      .select(col("span_hash").as("__h"))
      .dropDuplicates("__h")
      .withColumn("__corpus", lit(true))
    val byHash = org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))
    val removals = sized.join(sigs, Seq("__h"), "left")
      .withColumn("__occ", count(lit(1)).over(byHash))
      .withColumn("__first", min(struct(col("__id"), col("__p"))).over(byHash))
      .filter(coalesce(col("__corpus"), lit(false)) ||
        (col("__occ") > 1 &&
          !(col("__first")("__id") === col("__id") &&
            col("__first")("__p") === col("__p"))))
      .groupBy(col("__id"))
      .agg(collect_list(col("__p")).as("__starts"))
      .withColumnRenamed("__id", idCol)
    rebuildCleanText(docs, removals, n, textCol, idCol)
  }

  /** Okapi BM25 retrieval over the corpus: score every document against
    * every query (Lucene's idf variant, `ln(1 + (N-df+0.5)/(df+0.5))`),
    * keep the top `topK` docs per query. The workhorse for targeted-crawl
    * selection and decontamination search ("find training docs that look
    * like this benchmark prompt") where embedding ANN is overkill.
    *
    * Plan at scale: the query token set (tiny) broadcasts onto the corpus
    * explode scan and drops non-query tokens BEFORE anything shuffles, so
    * the (doc, token) term-frequency exchange carries only query-term
    * postings — never the whole tokenized corpus (per-(doc, token) tf is
    * unaffected by dropping other tokens, so the early filter is exact).
    * Per-term document frequencies aggregate over the same query-bounded
    * postings subtree (map-side partial count per token — skew-free even
    * on stopword queries) and broadcast back, exactly computed but
    * query-bounded, so the df table stays broadcastable no matter the
    * vocabulary size. Scoring is then one shuffle keyed on (query, doc)
    * and a per-query top-k window over |queries|·topK-bounded output.
    * N and avgdl ride along as a broadcast 1-row aggregate, never a
    * driver-side collect.
    *
    * Scores are rounded to 6dp BEFORE ranking so the ranking is
    * reproducible across engines (fp sums are order-sensitive); ties
    * break by doc id.
    *
    * @return (queryIdCol, idCol, score, rank), rank 1-based per query */
  def bm25(
      docs: DataFrame,
      queries: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      queryIdCol: String = "query_id",
      queryTextCol: String = "qtext",
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 10): DataFrame = {
    require(topK >= 1, "topK must be positive")
    val w = split(normalize(col(textCol)), " ")
    val base = docs.select(col(idCol).as("__id"),
      when(length(normalize(col(textCol))) === 0, lit(0))
        .otherwise(size(w)).as("__dl"),
      w.as("__w"))
    val corpus = base.agg(count(lit(1)).cast("double").as("__n"),
      avg(col("__dl")).as("__avgdl"))
    val qterms = queries.select(col(queryIdCol).as("__qid"),
        explode(split(normalize(col(queryTextCol)), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .distinct()
    // query-term semi-filter BELOW the tf aggregation: per-(doc, token)
    // tf is unaffected by dropping OTHER tokens, so the broadcast join at
    // the explode drops non-query tokens before anything shuffles — the
    // (doc, token) exchange carries only query-term postings instead of
    // the whole tokenized corpus (r14 optimization, guide §3.2; the old
    // shape shuffled every token and applied this same join after the agg)
    val postings = base
      .select(col("__id"), col("__dl"), explode(col("__w")).as("token"))
      .filter(length(col("token")) > 0)
      .join(broadcast(qterms.select(col("token")).distinct()), Seq("token"))
      .groupBy(col("__id"), col("__dl"), col("token"))
      .agg(count(lit(1)).as("__tf"))
    // exact per-term df over the SAME query-bounded postings subtree —
    // map-side partial count per token (hot tokens collapse per partition
    // before the exchange; a window-over-token here would skew instead).
    // count(when(__tf >= 1, 1)) not count(1) (r15): __tf ≥ 1 always, so
    // the value is identical, but the non-foldable reference keeps this
    // subtree's postings copy un-pruned and therefore byte-identical to
    // the scoring side's — ReuseExchange then executes the postings
    // exchange once (see keywordsTfidf for the pattern and why a bare
    // count(__tf) is optimized away)
    val dfq = postings
      .groupBy(col("token"))
      .agg(count(when(col("__tf") >= 1, 1)).as("__df"))
    val tfNorm = col("__tf") * (k1 + 1) /
      (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl")))
    val idf = log(lit(1.0) +
      (col("__n") - col("__df") + 0.5) / (col("__df") + 0.5))
    val ranked = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__qid"))
      .orderBy(col("score").desc, col("__id"))
    postings
      .join(broadcast(qterms), Seq("token"))
      .join(broadcast(dfq), Seq("token"))
      .crossJoin(broadcast(corpus))
      .groupBy(col("__qid"), col("__id"))
      .agg(round(sum(idf * tfNorm), 6).as("score"))
      .withColumn("rank", row_number().over(ranked))
      .filter(col("rank") <= topK)
      .select(col("__qid").as(queryIdCol), col("__id").as(idCol),
        col("score"), col("rank"))
  }

  /** Hard-negative mining for retrieval / embedding-model training: for
    * each query, the top-`k` corpus documents by [[bm25]] that are NOT the
    * query's labeled positives — the lexically-confusable negatives that
    * actually teach a ranking boundary (random negatives are trivially
    * separable). Fetches `k + posBuffer` BM25 ranks, anti-joins the
    * broadcast positives, re-ranks the survivors 1..k; if a query has
    * more than `posBuffer` positives inside the fetched window, fewer
    * than k negatives emit (raise `posBuffer`). Same plan as [[bm25]]
    * plus one broadcast join — the positives table is training labels,
    * always small relative to the corpus.
    *
    * Output: (queryIdCol, idCol, score, neg_rank). */
  def hardNegatives(
      docs: DataFrame,
      queries: DataFrame,
      positives: DataFrame,
      k: Int = 10,
      posBuffer: Int = 5,
      textCol: String = "text",
      idCol: String = "doc_id",
      queryIdCol: String = "query_id",
      queryTextCol: String = "qtext",
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(k >= 1 && posBuffer >= 0, "need k >= 1, posBuffer >= 0")
    val ranked = bm25(docs, queries, textCol, idCol, queryIdCol,
      queryTextCol, k1, b, topK = k + posBuffer)
    val pos = positives.select(col(queryIdCol), col(idCol))
      .distinct().withColumn("__pos", lit(true))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryIdCol)).orderBy(col("score").desc, col(idCol))
    ranked.join(broadcast(pos), Seq(queryIdCol, idCol), "left")
      .filter(col("__pos").isNull)
      .withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= k)
      .select(col(queryIdCol), col(idCol), col("score"), col("neg_rank"))
  }

  /** Per-document keyword extraction by smoothed tf·idf
    * (`tf · (ln((N+1)/(df+1)) + 1)`, the sklearn smoothing — never
    * negative, defined even for corpus-universal terms): the top `topN`
    * terms per document, the classic cheap doc-topic signal for corpus
    * exploration and cluster labeling.
    *
    * Plan at scale: postings = one explode scan + one (doc, token)
    * shuffle; document frequencies = one token-keyed aggregation whose
    * output is vocabulary-sized (AQE broadcasts it when small, shuffles
    * when not — no forced broadcast since a web-scale vocab can reach
    * 10⁸ terms); then one per-doc window for the top-N. Scores rounded
    * to 6dp before ranking; ties break by token so output is
    * deterministic.
    *
    * @return (idCol, token, tfidf, rank), rank 1-based per document */
  def keywordsTfidf(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      topN: Int = 5): DataFrame = {
    require(topN >= 1, "topN must be positive")
    val postings = docs.select(col(idCol).as("__id"),
        explode(split(normalize(col(textCol)), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("__id"), col("token"))
      .agg(count(lit(1)).as("__tf"))
    // df counts `when(__tf >= 1, 1)`, NOT lit(1) (r15, guide §2.4): every
    // postings group has __tf = count(1) ≥ 1, so the value is identical —
    // but the (non-foldable) reference to __tf stops column pruning from
    // narrowing this subtree's copy of the postings aggregation, which
    // made the two copies' exchanges differ and defeated ReuseExchange:
    // the plan paid the full (doc, token) postings exchange TWICE (r14
    // plan nodes (6)/(13)). With identical subtrees the scan + postings
    // exchange execute once, read twice. (A bare count(__tf) does NOT
    // work: Catalyst knows counts are non-null and rewrites it back to
    // count(1), re-enabling the pruning.)
    val df = postings.groupBy(col("token"))
      .agg(count(when(col("__tf") >= 1, 1)).as("__df"))
    val n = docs.agg(count(lit(1)).cast("double").as("__n"))
    val ranked = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id"))
      .orderBy(col("tfidf").desc, col("token"))
    postings
      .join(df, Seq("token"))
      .crossJoin(broadcast(n))
      .select(col("__id"), col("token"),
        round(col("__tf") * (log((col("__n") + 1) / (col("__df") + 1)) + 1), 6)
          .as("tfidf"))
      .withColumn("rank", row_number().over(ranked))
      .filter(col("rank") <= topN)
      .select(col("__id").as(idCol), col("token"), col("tfidf"), col("rank"))
  }

  /** Per-group quality gate (approximate, the scale path): compute each
    * group's (1-frac) score quantile with `percentile_approx` (mergeable
    * sketch, map-side partials — one small-output shuffle), broadcast the
    * per-group thresholds, keep rows with score ≥ threshold. Two corpus
    * scans, NO global sort, threshold table is |groups| rows. Boundary
    * behavior differs from the exact gate by the sketch error (`accuracy`
    * trades memory for tighter quantiles) and by ties at the threshold
    * (all tied rows kept — no tie-break ranking). */
  def keepTopQualityApprox(
      docs: DataFrame,
      score: Column,
      frac: Double,
      by: Column,
      accuracy: Int = 10000): DataFrame = {
    require(frac > 0 && frac <= 1, "frac must be in (0, 1]")
    val thr = docs.groupBy(by.as("__grp"))
      .agg(percentile_approx(score, lit(1.0 - frac), lit(accuracy)).as("__thr"))
    docs.join(broadcast(thr), by <=> col("__grp"))
      .filter(score >= col("__thr"))
      .drop("__grp", "__thr")
  }

  /** Luhn checksum over the digits of `numText` (separators ignored):
    * from the rightmost digit, every second digit doubles (minus 9 when
    * >9), and the sum must divide by 10. Pure array-Column arithmetic —
    * reverse → indexed transform → aggregate — no UDF, stays in codegen. */
  def luhnValid(numText: Column): Column = {
    val digits = filter(split(numText, ""), ch => ch.rlike("^[0-9]$"))
    val rev = reverse(digits)
    val sum = aggregate(
      transform(rev, (d, i) => {
        val v = d.cast("int")
        val dbl = v * 2
        when(i % 2 === 1, when(dbl > 9, dbl - 9).otherwise(dbl)).otherwise(v)
      }),
      lit(0), (acc, x) => acc + x)
    size(digits).between(13, 19) && sum % 10 === 0
  }

  /** Redact payment-card numbers: 13-19 digit runs (single space/dash
    * separators allowed) that PASS the Luhn check become `<CARD>`;
    * look-alike digit runs that fail the checksum are left alone — the
    * validated-replacement step plain regex redaction cannot do. The
    * fold applies a boundary-anchored `regexp_replace` per validated
    * candidate (candidate lists are tiny), so the whole operator is still
    * a scan-speed expression. The `\b` anchors matter: a plain substring
    * replace would also rewrite a Luhn-valid 16-digit window INSIDE a
    * longer digit run elsewhere in the text (e.g. a 17-digit ID),
    * corrupting a non-card number. Candidates contain only `[0-9 -]` —
    * no regex metacharacters — so the candidate embeds verbatim. */
  def redactCards(text: Column): Column = {
    val cands = regexp_extract_all(text,
      lit("\\b[0-9](?:[ -]?[0-9]){12,18}\\b"), lit(0))
    val valid = filter(cands, c => luhnValid(c))
    aggregate(valid, text, (acc, c) =>
      regexp_replace(acc, concat(lit("\\b"), c, lit("\\b")), lit("<CARD>")))
  }

  /** Number of DISTINCT blocklist words occurring in `text` (C4's "bad
    * words" page filter counts a page dirty on any hit, so distinct-set
    * semantics suffice and match `array_intersect`/`list_intersect` in
    * both engines). Tokens are lowercased runs of `[a-z0-9']` — the same
    * word definition C4 uses, so "Slow!" hits a blocklist entry "slow"
    * but "slowly" does not. Scan-speed codegen expression, zero shuffle;
    * blocklists are word lists (hundreds of entries), inlined as a
    * literal array rather than broadcast-joined. */
  def blocklistHits(text: Column, words: Seq[String]): Column = {
    require(words.nonEmpty, "blocklist must not be empty")
    val toks = split(regexp_replace(lower(text), "[^a-z0-9']+", " "), " ")
    val list = array(words.map(w => lit(w.toLowerCase)): _*)
    size(array_intersect(toks, list))
  }

  /** Drop documents containing more than `maxHits` distinct blocklist
    * words (default 0 — the C4 rule: any hit drops the page). */
  def filterBlockedWords(
      df: DataFrame,
      words: Seq[String],
      textCol: String = "text",
      maxHits: Int = 0): DataFrame =
    df.filter(blocklistHits(col(textCol), words) <= maxHits)

  /** Number of DISTINCT blocklist PHRASES occurring in `text` —
    * multi-word entries ("click here to", "terms of service") that the
    * word filter cannot express. Whitespace inside text and phrase is
    * normalized to single spaces so line wrapping does not hide a hit;
    * matching is lowercased substring containment (a phrase list is
    * curated, so word-boundary anchoring is the phrase author's job).
    * Literal-array filter + contains: scan-speed, zero shuffle. */
  def blocklistPhraseHits(text: Column, phrases: Seq[String]): Column = {
    require(phrases.nonEmpty, "phrase list must not be empty")
    val norm = regexp_replace(lower(text), "[ \\t\\n\\r\\f]+", " ")
    val list = array(phrases.map(p =>
      lit(p.toLowerCase.trim.replaceAll("\\s+", " "))): _*)
    // fold with the normalized text riding in the accumulator: a plain
    // filter(list, p => norm.contains(p)) re-normalizes the whole text
    // once PER PHRASE (no CSE across lambda elements); here norm is
    // evaluated once as the fold's init
    aggregate(list,
      struct(norm.as("t"), lit(0).as("c")),
      (acc, p) => struct(acc.getField("t").as("t"),
        (acc.getField("c") +
          when(acc.getField("t").contains(p), 1).otherwise(0)).as("c")),
      acc => acc.getField("c"))
  }

  /** FineWeb/C4-style line-shape quality flags — the signals the word and
    * n-gram metrics miss because they see a bag, not lines: listing/menu
    * pages are many short lines, prose is lines that end in terminal
    * punctuation. Adds `punct_line_frac` (non-empty lines ending in
    * `.!?"'`), `short_line_frac` (non-empty lines under `shortLineChars`
    * visible chars), and threshold flags. Lines are stripped of
    * `[ \t\r]` edges first — Java's `$` would otherwise anchor before a
    * trailing `\r` while RE2's does not, and a CRLF corpus would diverge
    * from the oracle. Pure array Column exprs, zero shuffle. */
  def lineFlags(
      docs: DataFrame,
      textCol: String = "text",
      minPunctLineFrac: Double = 0.12,
      maxShortLineFrac: Double = 0.67,
      shortLineChars: Int = 30): DataFrame = {
    val stripped = transform(split(col(textCol), "\n"),
      l => regexp_replace(l, "^[ \\t\\r]+|[ \\t\\r]+$", ""))
    // materialize the line array once: each output column referencing the
    // raw chain would re-run split+strip per column (no CSE across
    // expressions — the hashedNgramFeatures lesson); a non-cheap alias
    // used 4x is kept by CollapseProject, so this is one evaluation
    val lines = col("__lf_lines")
    val n = size(lines)
    val punctFrac = when(n === 0, lit(0.0))
      .otherwise(size(filter(lines, l => l.rlike("[.!?\"']$"))).cast("double") / n)
    val shortFrac = when(n === 0, lit(1.0))
      .otherwise(size(filter(lines, l => length(l) < shortLineChars)).cast("double") / n)
    docs
      .withColumn("__lf_lines", filter(stripped, l => l =!= ""))
      .withColumn("punct_line_frac", round(punctFrac, 6))
      .withColumn("short_line_frac", round(shortFrac, 6))
      .withColumn("flag_line_punct", punctFrac >= minPunctLineFrac)
      .withColumn("flag_short_lines", shortFrac <= maxShortLineFrac)
      .drop("__lf_lines")
  }

  /** fastText-style hashed word-n-gram bag: an array of `dim` bucket
    * counts, where each normalized word n-gram lands in bucket
    * `portableHash60(gram) % dim`. With [[graft.operators.Fit.fitLogistic]]
    * over the bucket columns and [[scoreLinear]] to deploy, this closes
    * the train-a-quality-classifier-in-engine loop without any vocabulary
    * state — the hash IS the vocabulary, so featurization is identical at
    * fit and at 100 TB scoring time. One md5 per gram, then O(dim·grams)
    * integer compares; zero shuffle. */
  def hashedNgramFeatures(
      text: Column, dim: Int = 32, n: Int = 2,
      portable: Boolean = true): Column = {
    require(dim >= 2 && dim <= 1024, "dim must be in [2, 1024]")
    require(n >= 1 && n <= 5, "n must be in [1, 5]")
    // portable=true buckets by md5 (ANSI-replayable, the oracle path);
    // false buckets by xxhash64 — ~10x cheaper per gram, same
    // fit/score-time consistency, for production fits that need no
    // cross-engine replay.
    // ONE compiled pass (r14): the previous fold
    // (`aggregate(buckets, zeros, (acc, b) => transform(acc, ...))`)
    // rebuilt the dim-element accumulator per gram in the interpreted
    // HOF evaluator — O(grams × dim) boxed work; the kernel hashes and
    // counts with primitive arrays in one walk. Spec-pinned equal to
    // the fold form on both hash paths.
    graft.functions.TextKernels.hashedCountsCol(normalize(text), dim, n,
      portable)
  }

  /** One row per sentence: (`idCol`, `sent_pos`, `sentence`). Sentences
    * are maximal runs up to a terminator group `[.!?]+` (the terminator
    * stays attached); whitespace is normalized first so wrapped lines
    * re-join. Deliberately rule-light and RE2-portable — no abbreviation
    * dictionary ("Dr." splits), no lookbehind; the fast splitter feeding
    * chunking/windowed dedup, not a linguistics pass. posexplode keeps
    * document order; zero shuffle. */
  /** The sentence array of one text value (the Column form behind
    * [[splitSentences]]; also the dialect's `sentence_split`). */
  def sentencesArray(text: Column): Column = {
    val norm = regexp_replace(text, "[ \\t\\n\\r\\f]+", " ")
    filter(
      transform(regexp_extract_all(norm, lit("[^.!?]+[.!?]*"), lit(0)),
        s => trim(s)),
      s => s =!= "")
  }

  def splitSentences(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol),
      posexplode(sentencesArray(col(textCol))).as(Seq("sent_pos", "sentence")))

  /** Drop documents containing more than `maxHits` distinct blocklist
    * phrases (default 0: any phrase drops the page). */
  def filterBlockedPhrases(
      df: DataFrame,
      phrases: Seq[String],
      textCol: String = "text",
      maxHits: Int = 0): DataFrame =
    df.filter(blocklistPhraseHits(col(textCol), phrases) <= maxHits)
}
