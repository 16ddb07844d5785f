package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-call training-data curation — the pipeline a 100 TB corpus actually
  * runs, composed from the verified parts:
  *
  *   scan-speed filters (language-ID, quality score, token bounds — all
  *   codegen'd Column expressions, [[TextOps.analyze]])
  *     → MinHash-LSH near-dup pairs ([[Dedup.minHashPairs]])
  *     → connected components + canonical keep ([[Dedup.keepCanonical]])
  *
  * Shape at scale: one full scan for the filters, one shuffle for the
  * banded LSH join on the (much smaller) filtered set, diameter-bounded
  * label propagation on the (tiny) pair graph, and an anti-join on doc id.
  * Nothing in the pipeline buffers a document set on the driver.
  */
object Curation {

  /** Returns the curated documents: filtered rows (original columns plus
    * the analysis columns) minus every non-canonical near-dup.
    *
    * `ccMaxIter`/`ccLocalThreshold` reach [[Dedup.connectedComponents]]
    * through [[Dedup.keepCanonical]]: `ccLocalThreshold = 0` forces the
    * distributed label-propagation path (the 100 TB setting — never
    * collect the pair graph on the driver). `lineMaxDf > 0` prepends
    * corpus-frequency boilerplate line removal
    * ([[Dedup.dropCommonLines]]) so navigation/footer lines neither skew
    * the quality filters nor glue unrelated docs into near-dup pairs. */
  def curate(
      docs: DataFrame,
      langs: Seq[String] = Seq("en"),
      minQuality: Double = 0.7,
      minTokens: Int = 5,
      maxTokens: Int = 100000,
      jaccardThreshold: Double = 0.7,
      textCol: String = "text",
      idCol: String = "doc_id",
      ccMaxIter: Int = 20,
      ccLocalThreshold: Long = 1000000L,
      lineMaxDf: Int = 0): DataFrame = {
    val pre =
      if (lineMaxDf <= 0) docs
      else docs.drop(textCol) // inner join drops all-boilerplate docs
        .join(Dedup.dropCommonLines(docs, textCol, idCol, lineMaxDf), Seq(idCol))
    // not persisted: pair generation reads the filter once (into its own
    // persisted shingle-hash set), and the returned plan re-derives the
    // one-scan filter for the anti-join when the caller consumes it
    val filtered = TextOps.analyze(pre, textCol)
      .filter(col("lang_pred").isin(langs: _*) &&
        col("quality") >= minQuality &&
        col("token_count").between(minTokens, maxTokens))

    val pairs = Dedup.minHashPairs(filtered, textCol, idCol,
      threshold = jaccardThreshold)
    val kept = Dedup.keepCanonical(filtered, pairs, idCol,
      maxIter = ccMaxIter, localThreshold = ccLocalThreshold)
    pairs.unpersist(false)
    kept
  }

  /** Curation-funnel audit — the per-gate report every pipeline owner
    * reads before trusting [[curate]]'s output: for each filter gate
    * (language, quality, token bounds), how many documents pass it
    * INDEPENDENTLY, plus the conjunction (what the filter stage of
    * [[curate]] keeps, before dedup). Independent per-gate counts
    * localize which gate is eating the corpus — a conjunctive survivor
    * count alone can't distinguish "quality floor too high" from
    * "language ID misfiring".
    *
    * One [[TextOps.analyze]] scan + ONE single-row aggregation (all
    * gates as conditional sums in the same pass), unpivoted to a
    * 5-row report — at 100 TB this is exactly one pass over the text.
    *
    * @return (gate, pass_docs, pass_frac) rows in funnel order:
    *         total, language, quality, tokens, all; `pass_frac` is
    *         pass_docs/total rounded to 6 digits (null on an empty
    *         corpus) */
  def gateReport(
      docs: DataFrame,
      langs: Seq[String] = Seq("en"),
      minQuality: Double = 0.7,
      minTokens: Int = 5,
      maxTokens: Int = 100000,
      textCol: String = "text"): DataFrame = {
    val flags = TextOps.analyze(docs, textCol).select(
      col("lang_pred").isin(langs: _*).as("__lang"),
      (col("quality") >= minQuality).as("__q"),
      col("token_count").between(minTokens, maxTokens).as("__t"))
    def passing(c: Column) = sum(when(c, 1L).otherwise(0L))
    val agg = flags.agg(
      count(lit(1)).as("__total"),
      passing(col("__lang")).as("__lang_p"),
      passing(col("__q")).as("__q_p"),
      passing(col("__t")).as("__t_p"),
      passing(col("__lang") && col("__q") && col("__t")).as("__all_p"))
    def gateRow(name: String, pass: Column) = struct(
      lit(name).as("gate"), pass.as("pass_docs"),
      when(col("__total") > 0, round(pass / col("__total"), 6))
        .as("pass_frac"))
    agg.select(explode(array(
        gateRow("total", col("__total")),
        gateRow("language", col("__lang_p")),
        gateRow("quality", col("__q_p")),
        gateRow("tokens", col("__t_p")),
        gateRow("all", col("__all_p")))).as("__g"))
      .select(col("__g.gate"), col("__g.pass_docs"), col("__g.pass_frac"))
  }

  /** [[curate]] from raw crawl HTML — the README front door as one call:
    * [[HtmlOps.htmlStats]] extraction, the link-density boilerplate gate,
    * optional canonical-URL exact dedup (when `urlCol` is present — the
    * cheap first-mile dedup that removes per-click refetches before any
    * text shingling), then the full text-curation pipeline on the
    * extracted text. Adds `title` and `link_density` to the survivors.
    * All parameters pass through to [[curate]]. */
  def curateWeb(
      crawl: DataFrame,
      htmlCol: String = "html",
      urlCol: String = "url",
      maxLinkDensity: Double = 0.5,
      langs: Seq[String] = Seq("en"),
      minQuality: Double = 0.7,
      minTokens: Int = 5,
      maxTokens: Int = 100000,
      jaccardThreshold: Double = 0.7,
      idCol: String = "doc_id",
      ccMaxIter: Int = 20,
      ccLocalThreshold: Long = 1000000L,
      lineMaxDf: Int = 0): DataFrame = {
    val pages = HtmlOps.htmlStats(crawl, htmlCol)
      .filter(coalesce(col("link_density") < maxLinkDensity, lit(true)))
    val urlDeduped =
      if (crawl.columns.contains(urlCol))
        Dedup.exactBy(pages, WebOps.canonicalUrl(col(urlCol)), idCol)
      else pages
    val docs = urlDeduped
      .drop(htmlCol, "n_tags", "n_anchors", "text") // extracted text wins
      .withColumnRenamed("text_extracted", "text")
    curate(docs, langs, minQuality, minTokens, maxTokens, jaccardThreshold,
      "text", idCol, ccMaxIter, ccLocalThreshold, lineMaxDf)
  }

  /** Raw-BYTES curation — the widest front door: magic-byte sniffing
    * routes every payload to its extractor ([[Extract.autoTextPlan]] —
    * html/pdf/epub/docx/subtitles/gzip/plain text), rows that yielded
    * no text drop WITH the format census preserved for the audit, and
    * the survivors run the standard text [[curate]] chain. One extra
    * scan versus curate; everything else shares its plan. */
  def curateBytes(
      docs: DataFrame,
      bytesCol: String = "bytes",
      langs: Seq[String] = Seq("en"),
      minQuality: Double = 0.7,
      minTokens: Int = 5,
      maxTokens: Int = 100000,
      jaccardThreshold: Double = 0.7,
      idCol: String = "doc_id",
      ccMaxIter: Int = 20,
      ccLocalThreshold: Long = 1000000L,
      lineMaxDf: Int = 0): DataFrame = {
    val routed = docs
      .withColumn("format", Extract.sniffFormatCol(col(bytesCol)))
      .withColumn("text", Extract.autoTextFor(col("format"), col(bytesCol)))
      .drop(bytesCol)
      .filter(col("text").isNotNull && length(col("text")) > 0)
    curate(routed, langs, minQuality, minTokens, maxTokens,
      jaccardThreshold, "text", idCol, ccMaxIter, ccLocalThreshold,
      lineMaxDf)
  }

  /** Embedding-level (SemDeDup) curation: semantic near-dup pairs within
    * spherical-kmeans cells ([[Similarity.semanticPairs]]) → diameter-bounded
    * connected components → each semantic cluster keeps its best member by
    * `scoreCol` ([[Dedup.keepBest]], ties to lowest id). The text-level
    * [[curate]] removes lexical near-copies; this removes *semantic*
    * duplicates lexical hashing can't see (translations, paraphrases,
    * templated rewrites).
    *
    * Scale: one scan for cell assignment, one slim (id, cell) shuffle for
    * pair generation, candidate-only cosine verification, label propagation
    * on the (tiny) pair graph, broadcast anti-join of the drop set.
    * `ccLocalThreshold = 0` forces the distributed CC path (the 100 TB
    * setting). */
  def curateSemantic(
      rows: DataFrame,
      scoreCol: Column,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      threshold: Double = 0.95,
      nlist: Int = 16,
      kmeansIter: Int = 2,
      maxCell: Int = 100000,
      seed: Long = 42L,
      dims: Int = -1,
      ccMaxIter: Int = 20,
      ccLocalThreshold: Long = 1000000L): DataFrame = {
    val pairs = Similarity.semanticPairs(rows, idCol, vecCol, threshold,
      nlist, kmeansIter, maxCell, seed, dims)
    val kept = Dedup.keepBest(rows, pairs, scoreCol, idCol, "vec_a", "vec_b",
      ccMaxIter, ccLocalThreshold)
    pairs.unpersist(false)
    kept
  }

  /** At-ingest curation — the streaming front of [[curate]] plus the two
    * rejection side-streams a real ingest reconciles downstream.
    *
    * Returns (kept, nearDupFlags, contaminationFlags):
    *   - `kept`: stream docs passing the language/quality/token filters
    *     (stateless scan — identical gates to [[curate]]) with exact
    *     within-watermark dedup ([[Dedup.exactStream]]);
    *   - `nearDupFlags`: (doc_new, doc_corpus, jaccard, ts) rows where a
    *     FILTERED stream doc near-duplicates the static corpus
    *     ([[Dedup.nearDupStream]] — stream-static band join, so cache the
    *     corpus);
    *   - `contaminationFlags`: (idCol, ts) rows sharing a benchmark n-gram
    *     ([[Dedup.contaminationStream]] — broadcast benchmark grams).
    *
    * Why three streams and not one: Structured Streaming cannot anti-join
    * a stream against another stream-derived set, so at-ingest dedup is
    * tag-and-reconcile — sink `kept`, sink the flag streams, drop flagged
    * ids at the next compaction. Each output is a separate streaming
    * query over the same source; the shared filter front is stateless, so
    * no state is duplicated — only the scan. */
  def curateStream(
      stream: DataFrame,
      corpus: DataFrame,
      bench: DataFrame,
      tsCol: String,
      delay: String,
      langs: Seq[String] = Seq("en"),
      minQuality: Double = 0.7,
      minTokens: Int = 5,
      maxTokens: Int = 100000,
      jaccardThreshold: Double = 0.7,
      contaminationN: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id"): (DataFrame, DataFrame, DataFrame) = {
    val filtered = TextOps.analyze(stream, textCol)
      .filter(col("lang_pred").isin(langs: _*) &&
        col("quality") >= minQuality &&
        col("token_count").between(minTokens, maxTokens))
    val kept = Dedup.exactStream(filtered, tsCol, delay, textCol)
    val nearDup = Dedup.nearDupStream(filtered, corpus, tsCol, delay,
      textCol, idCol, threshold = jaccardThreshold)
    val contamination = Dedup.contaminationStream(filtered, bench, tsCol,
      delay, contaminationN, textCol, idCol)
    (kept, nearDup, contamination)
  }
}
