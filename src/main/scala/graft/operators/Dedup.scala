package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, designed for the
  * 100 TB shape: every variant is a bounded-fanout hash-bucket join — no
  * cartesian products, no driver-side state. Candidate generation shuffles
  * on (band, bucket) keys whose cardinality grows with the corpus, so the
  * plan scales out with executors; verification only touches candidate
  * pairs (LSH guarantees the candidate set is ~linear for bounded
  * similarity thresholds).
  *
  * The MinHash family ([[minHashPairs]], [[minHashPairsAgainst]],
  * [[nearDupStream]], [[ngramJaccardPairs]], the signature operators)
  * represents a document's shingles as ONE sorted, distinct array of
  * 64-bit xxhash64 values ([[TextOps.shingleHashes]]). Band buckets and
  * signatures fold from it, and verification is the exact Jaccard of two
  * such arrays (one merge count): it equals the Jaccard of the shingle
  * strings unless two distinct shingles of the pair share an xxhash64
  * value (a 64-bit collision).
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per normalized-content hash.
    * Lowered as `min_by` hash aggregation, not a row_number window: partial
    * (map-side) aggregation ships ONE candidate row per fingerprint per
    * input partition through the shuffle and needs no sort — the window
    * formulation shuffles every duplicate and sorts each partition, which
    * is exactly the cost that explodes on a boilerplate-heavy corpus. */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val cols = docs.columns.toIndexedSeq
    docs
      .withColumn("__fp", TextOps.fingerprint(col(textCol)))
      .groupBy(col("__fp"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__r"))
      .select(cols.map(c => col(s"__r.$c")): _*)
  }

  /** [[exact]] on an arbitrary key expression — the crawl-dedup shape
    * when the key is [[WebOps.canonicalUrl]] (same page fetched under
    * per-click URL decorations collapses to one row). Keeps the min-id
    * row per key via the same no-sort `min_by` hash aggregation. Rows
    * whose key is NULL (junk URLs) pass through UNdeduplicated — an
    * unparseable URL must never unify distinct rows. */
  def exactBy(docs: DataFrame, key: Column, idCol: String = "doc_id"): DataFrame = {
    val cols = docs.columns.toIndexedSeq
    val withK = docs.withColumn("__k", key)
    val deduped = withK.filter(col("__k").isNotNull)
      .groupBy(col("__k"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__r"))
      .select(cols.map(c => col(s"__r.$c")): _*)
    deduped.unionByName(withK.filter(col("__k").isNull).drop("__k"))
  }

  /** Streaming exact dedup across micro-batches: keep the FIRST arrival
    * per content fingerprint; duplicates arriving within `delay` of the
    * first are dropped, and per-fingerprint state expires once the
    * watermark passes — bounded state, which is what the naive
    * streaming-dedup formulation (unbounded distinct state) gets wrong at
    * corpus scale. State lives in the state store partitioned by
    * fingerprint, so it scales out with executors.
    *
    * @param tsCol event-time timestamp column (must be TimestampType)
    * @param delay watermark delay, e.g. "10 minutes" — also the dedup
    *   horizon: a duplicate arriving later than this after the first
    *   copy is treated as new */
  def exactStream(
      docs: DataFrame,
      tsCol: String,
      delay: String,
      textCol: String = "text"): DataFrame =
    docs
      .withColumn("__fp", TextOps.fingerprint(col(textCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Streaming near-dup detection at ingest: flag stream documents whose
    * Jaccard similarity against a STATIC corpus reaches `threshold` —
    * the online version of [[minHashPairsAgainst]], for rejecting
    * near-dups before they ever land. Every join is a stream-static
    * equi-join (stateless on the stream side — Spark re-reads only the
    * static side per micro-batch, so CACHE the corpus); the only state
    * is the within-watermark pair dedup, which expires with the
    * watermark.
    *
    * @param tsCol stream event-time column (TimestampType)
    * @param delay watermark delay bounding the pair-dedup state
    * @return streaming (doc_new, doc_corpus, jaccard, `tsCol`) rows */
  def nearDupStream(
      stream: DataFrame,
      corpus: DataFrame,
      tsCol: String,
      delay: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleN: Int = 3,
      bands: Int = 16,
      rows: Int = 4,
      threshold: Double = 0.7,
      maxBucket: Int = 100000): DataFrame = {
    val shC = corpus.select(
      col(idCol).as("__cid"), TextOps.shingleHashes(col(textCol), shingleN).as("__csh"))
    val grouped0 = shC.select(col("__cid"),
        posexplode(graft.functions.TextKernels.minhashBucketsCol(col("__csh"), bands, rows)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(col("__cid")).as("__ids"))
    val grouped = if (maxBucket <= 0) grouped0
      else grouped0.filter(size(col("__ids")) <= maxBucket)
    val banded = stream
      .select(col(idCol).as("doc_new"), col(tsCol).as("__ts"),
        TextOps.shingleHashes(col(textCol), shingleN).as("__nsh"))
      .select(col("doc_new"), col("__ts"), col("__nsh"),
        posexplode(graft.functions.TextKernels.minhashBucketsCol(col("__nsh"), bands, rows)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
    banded.join(grouped, Seq("band", "bucket"))
      .select(col("doc_new"), col("__ts"), col("__nsh"),
        explode(col("__ids")).as("doc_corpus"))
      .filter(col("doc_new") =!= col("doc_corpus"))
      .join(shC, col("doc_corpus") === col("__cid"))
      .withColumn("jaccard", shingleJaccard(col("__nsh"), col("__csh")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_new"), col("doc_corpus"), col("jaccard"), col("__ts").as(tsCol))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("doc_new", "doc_corpus")
  }

  /** Streaming benchmark decontamination at ingest: flag stream documents
    * sharing at least one word n-gram with a STATIC benchmark set — the
    * online version of [[contamination]]. The benchmark n-gram side is
    * distinct-ed and broadcast (eval sets are tiny); the only state is
    * the within-watermark doc dedup (one flagged row per doc per
    * watermark horizon, since per-doc hit counting would need a windowed
    * aggregation).
    *
    * @return streaming (idCol, `tsCol`) rows — contaminated docs only */
  def contaminationStream(
      stream: DataFrame,
      bench: DataFrame,
      tsCol: String,
      delay: String,
      n: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id",
      benchTextCol: String = "text"): DataFrame = {
    val b = bench.select(explode(TextOps.shingles(col(benchTextCol), n)).as("__g"))
      .distinct()
    stream.select(col(idCol), col(tsCol),
        explode(TextOps.shingles(col(textCol), n)).as("__g"))
      .join(broadcast(b), Seq("__g"))
      .select(col(idCol), col(tsCol))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(idCol)
  }

  /** MinHash + LSH near-dup pairs: signature → b bands of r rows →
    * band-bucket join → exact Jaccard verify on the shingle-hash sets.
    *
    * @param maxBucket hot-bucket cap: a (band, bucket) shared by more than
    *   this many docs is dropped ENTIRELY from candidate generation (all
    *   members, not just the excess — an oversized bucket means the band
    *   carries no discriminating signal). Pairs only reachable through
    *   capped buckets are lost; set 0 to disable, lower it for
    *   boilerplate-heavy corpora.
    * @return (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard >= threshold
    */
  def minHashPairs(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleN: Int = 3,
      bands: Int = 16,
      rows: Int = 4,
      threshold: Double = 0.7,
      maxBucket: Int = 100000): DataFrame = {
    // shingle + hash once; the sorted shingle-hash arrays are persisted —
    // the verification joins must not recompute them, and the banded join
    // must stay SLIM (ids only): shipping shingle arrays through a 16×
    // band explosion is the difference between seconds and minutes at
    // scale. Band buckets fold from the hashes (cheap long mixes) in one
    // kernel pass instead of interpreted HOF lambdas.
    val withSh = docs
      .select(col(idCol).as("id"), TextOps.shingleHashes(col(textCol), shingleN).as("sh"))
      .persist()

    val banded = withSh.select(
      col("id"),
      posexplode(graft.functions.TextKernels.minhashBucketsCol(col("sh"), bands, rows)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")

    // one-shuffle candidate generation with the hot-bucket cap folded in
    // (oversized buckets — boilerplate, near-constant content — carry no
    // discriminating signal and are dropped whole, standard LSH-at-scale);
    // the banded exchange is sized to its fan-out (rows × bands — the
    // session setting was sized for the corpus, not its 16× banding)
    val cand = bucketPairs(banded, Seq("band", "bucket"), "id", maxBucket,
      fanoutRows = (TextOps.leafRowBound(docs) * bands)
        .min(BigInt(Long.MaxValue)).toLong)

    // exact-Jaccard verification only on the candidate pairs. The attach
    // joins build on the slim pair side (shuffled-hash hint) instead of
    // sort-merge, which sorted the heavy shingle arrays by id twice —
    // interleaved A/B at 10M synth docs (MinhashAbTune): the verify stage
    // reads 1.5–2.7× faster, and at headline scale AQE's own planning is
    // unaffected (measured neutral at sf0.1). A Bloom prefilter of the
    // shingle side to candidate endpoints (guide §3.2) was built and
    // REJECTED: measured neutral at 10M (local shuffles are page-cache
    // absorbed; candidates are 20% of the synth corpus) and +0.6 s per
    // call at sf0.1 from the extra persist/count/Bloom job barriers —
    // see OPTIMIZATION_r15.md.
    val out = cand.hint("shuffle_hash")
      .join(withSh.select(col("id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .hint("shuffle_hash")
      .join(withSh.select(col("id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jaccard", shingleJaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
    materializeAndRelease(out, withSh)
  }

  /** Incremental MinHash near-dup pairs: a NEW batch against an existing
    * corpus — the daily-ingest shape. When a day of crawl lands, the
    * pipeline pairs it against what it already has WITHOUT re-pairing the
    * corpus with itself: candidates come from a cross-side equi-join on
    * the (band, bucket) key, so the corpus-side cost is one banding pass
    * over signatures an ingestion pipeline keeps materialized anyway.
    *
    * Same banding parameters and hot-bucket discipline as
    * [[minHashPairs]]; the cap applies to the corpus-side bucket
    * population (the fanout driver — each new doc in a bucket meets every
    * corpus member of that bucket). Rows whose ids collide across sides
    * (a re-crawled id) are excluded as trivial self-pairs.
    *
    * @return (doc_new, doc_corpus, jaccard) with jaccard >= threshold */
  def minHashPairsAgainst(
      newDocs: DataFrame,
      corpus: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleN: Int = 3,
      bands: Int = 16,
      rows: Int = 4,
      threshold: Double = 0.7,
      maxBucket: Int = 100000): DataFrame = {
    def shingled(df: DataFrame) = df
      .select(col(idCol).as("id"), TextOps.shingleHashes(col(textCol), shingleN).as("sh"))
      .persist()
    def banded(sh: DataFrame) = sh.select(
        col("id"),
        posexplode(graft.functions.TextKernels.minhashBucketsCol(col("sh"), bands, rows)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
    val shN = shingled(newDocs)
    val shC = shingled(corpus)
    // corpus side groups once per (band, bucket) — the cap folds into the
    // same aggregation, so no separate hot-bucket count pass
    val grouped = banded(shC)
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(col("id")).as("__ids"))
    val kept = if (maxBucket <= 0) grouped
      else grouped.filter(size(col("__ids")) <= maxBucket)
    val cand = banded(shN)
      .join(kept, Seq("band", "bucket"))
      .select(col("id").as("doc_new"), explode(col("__ids")).as("doc_corpus"))
      .filter(col("doc_new") =!= col("doc_corpus"))
      .dropDuplicates("doc_new", "doc_corpus")
    val out = cand.hint("shuffle_hash")
      .join(shN.select(col("id").as("doc_new"), col("sh").as("sh_a")), "doc_new")
      .hint("shuffle_hash")
      .join(shC.select(col("id").as("doc_corpus"), col("sh").as("sh_b")), "doc_corpus")
      .withColumn("jaccard", shingleJaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("doc_new", "doc_corpus", "jaccard")
    materializeAndRelease(out, shN, shC)
  }

  /** The stored-sketch half of the MinHash pipeline: the raw k-position
    * signature per document, materializable as a (doc_id, sig) table. An
    * ingestion pipeline computes this ONCE per document and never touches
    * the text again for dedup: band buckets for any (bands, rows) split
    * derive from the signature ([[minHashPairsFromSignatures]]), and the
    * matching-position fraction of two signatures is the standard unbiased
    * Jaccard estimator — so both candidate generation and verification run
    * on sketches. At 100 TB the difference is reading a ~1 KB signature row
    * instead of re-shingling documents every run. */
  def minHashSignatures(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleN: Int = 3,
      bands: Int = 16,
      rows: Int = 4): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      graft.functions.TextKernels.minhashSignatureCol(
        TextOps.shingleHashes(col(textCol), shingleN), bands * rows).as("sig"))

  /** Exact shingle Jaccard of two [[TextOps.shingleHashes]] arrays, rounded
    * to 6 digits: one merge count over the sorted hashes. */
  private[operators] def shingleJaccard(a: Column, b: Column): Column =
    round(graft.functions.TextKernels.sortedJaccardCol(a, b), 6)

  /** Signature-only matching-position Jaccard estimate (unbiased; std err
    * ~ sqrt(J(1-J)/k)). */
  private def sigJaccard(a: Column, b: Column): Column =
    round(size(filter(zip_with(a, b, (x, y) => x === y), m => m))
      .cast("double") / size(a), 6)

  /** Near-dup pairs from STORED signatures — no text access anywhere:
    * banding keys fold from the signature (bit-identical to the text-side
    * kernel, so the candidate set equals [[minHashPairs]]'s), and
    * verification is the signature Jaccard estimate. Same one-shuffle
    * candidate generation and hot-bucket discipline as [[minHashPairs]].
    *
    * @param threshold minimum ESTIMATED Jaccard (estimator std err with the
    *   default k=64 positions is ~0.06 near 0.5 — set the threshold with
    *   that band in mind, or re-verify survivors against text)
    * @return (doc_a, doc_b, jaccard_est) with doc_a < doc_b */
  def minHashPairsFromSignatures(
      sigs: DataFrame,
      idCol: String = "doc_id",
      sigCol: String = "sig",
      bands: Int = 16,
      rows: Int = 4,
      threshold: Double = 0.7,
      maxBucket: Int = 100000): DataFrame = {
    val s = sigs.select(col(idCol).as("id"), col(sigCol).as("sig")).persist()
    val banded = s.select(col("id"),
        posexplode(graft.functions.TextKernels.sigBucketsCol(col("sig"), bands, rows)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
    val cand = bucketPairs(banded, Seq("band", "bucket"), "id", maxBucket)
    val out = cand.hint("shuffle_hash")
      .join(s.select(col("id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .hint("shuffle_hash")
      .join(s.select(col("id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("jaccard_est", sigJaccard(col("sig_a"), col("sig_b")))
      .filter(col("jaccard_est") >= threshold)
      .select("doc_a", "doc_b", "jaccard_est")
    materializeAndRelease(out, s)
  }

  /** Daily-ingest pairing over stored sketches: a NEW batch's signatures
    * against the standing corpus signature table — the signature twin of
    * [[minHashPairsAgainst]], with zero text access on either side. The
    * corpus side groups once per (band, bucket) with the hot-bucket cap
    * folded in; verification is the signature estimate on candidate pairs
    * only.
    *
    * @return (doc_new, doc_corpus, jaccard_est) */
  def minHashPairsAgainstSignatures(
      newSigs: DataFrame,
      corpusSigs: DataFrame,
      idCol: String = "doc_id",
      sigCol: String = "sig",
      bands: Int = 16,
      rows: Int = 4,
      threshold: Double = 0.7,
      maxBucket: Int = 100000): DataFrame = {
    def slim(df: DataFrame) = df.select(col(idCol).as("id"), col(sigCol).as("sig"))
    def banded(df: DataFrame) = df.select(col("id"),
        posexplode(graft.functions.TextKernels.sigBucketsCol(col("sig"), bands, rows)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
    val sN = slim(newSigs).persist()
    val sC = slim(corpusSigs).persist()
    val grouped = banded(sC)
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(col("id")).as("__ids"))
    val kept = if (maxBucket <= 0) grouped
      else grouped.filter(size(col("__ids")) <= maxBucket)
    val out = banded(sN)
      .join(kept, Seq("band", "bucket"))
      .select(col("id").as("doc_new"), explode(col("__ids")).as("doc_corpus"))
      .filter(col("doc_new") =!= col("doc_corpus"))
      .dropDuplicates("doc_new", "doc_corpus")
      .hint("shuffle_hash")
      .join(sN.select(col("id").as("doc_new"), col("sig").as("sig_a")), "doc_new")
      .hint("shuffle_hash")
      .join(sC.select(col("id").as("doc_corpus"), col("sig").as("sig_b")), "doc_corpus")
      .withColumn("jaccard_est", sigJaccard(col("sig_a"), col("sig_b")))
      .filter(col("jaccard_est") >= threshold)
      .select("doc_new", "doc_corpus", "jaccard_est")
    materializeAndRelease(out, sN, sC)
  }

  /** The ingest decision built on [[minHashPairsAgainst]]: keep only the
    * new-batch documents that do NOT near-dup anything in the corpus.
    * The drop set (new ids with at least one corpus pair) is tiny next to
    * the batch, so the final filter is a broadcast anti-join — the same
    * shape as [[keepCanonical]]. */
  def keepNewAgainst(
      newDocs: DataFrame,
      corpus: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleN: Int = 3,
      bands: Int = 16,
      rows: Int = 4,
      threshold: Double = 0.7,
      maxBucket: Int = 100000): DataFrame = {
    val pairs = minHashPairsAgainst(newDocs, corpus, textCol, idCol,
      shingleN, bands, rows, threshold, maxBucket)
    // at most one id per new document: the components' default bound
    val drop = holdDropSet(pairs.select(col("doc_new")).distinct(),
      1000000L, () => pairs.unpersist(false))
    newDocs.join(drop, newDocs(idCol) === drop("doc_new"), "left_anti")
  }

  /** The ingest keep decision against a STORED corpus signature table —
    * [[keepNewAgainst]] with zero corpus text access, plus the
    * within-batch election the presence-keyed span/paragraph twins
    * perform: a new-batch document drops when (a) its within-batch
    * near-dup component contains ANY corpus-paired member — corpus
    * ownership propagates transitively through batch-internal clusters,
    * matching what a global [[keepCanonical]] over corpus ∪ batch with
    * corpus-always-wins would decide — or (b) its component is
    * corpus-clean but it is not the lowest-id member (the
    * [[keepCanonical]] election). Unpaired, corpus-clean documents keep.
    * With an empty store this IS keepCanonical over the batch's own
    * signature pairs (spec-pinned).
    *
    * Plan at scale: the batch signs once (one scan); the corpus side is
    * the stored sketch table grouped per (band, bucket) exactly as
    * [[minHashPairsAgainstSignatures]]; the within-batch pair graph and
    * its components are batch-sized (only near-dup docs appear); the
    * final filter is an anti-join on the (small) drop set. */
  def keepNewAgainstSignatures(
      newDocs: DataFrame,
      corpusSigs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleN: Int = 3,
      bands: Int = 16,
      rows: Int = 4,
      threshold: Double = 0.7,
      maxBucket: Int = 100000,
      ccMaxIter: Int = 20,
      ccLocalThreshold: Long = 1000000L): DataFrame = {
    val sigs = minHashSignatures(newDocs, textCol, idCol, shingleN,
      bands, rows).persist()
    val corpusPairs = minHashPairsAgainstSignatures(sigs, corpusSigs,
      bands = bands, rows = rows, threshold = threshold,
      maxBucket = maxBucket)
    val corpusHit = corpusPairs.select(col("doc_new")).distinct().persist()
    corpusHit.count()
    corpusPairs.unpersist(false)
    val within = minHashPairsFromSignatures(sigs, bands = bands,
      rows = rows, threshold = threshold, maxBucket = maxBucket)
    val (labels, releaseLabels) = components(within, "doc_a", "doc_b",
      ccMaxIter, ccLocalThreshold)
    val comp = labels.persist()
    val contaminatedComps = comp
      .join(corpusHit, comp("doc_id") === corpusHit("doc_new"))
      .select(col("comp")).distinct()
    val contaminated = comp.join(contaminatedComps, Seq("comp"))
      .select(col("doc_id").as("__drop"))
    val nonCanonical = comp.filter(col("doc_id") =!= col("comp"))
      .select(col("doc_id").as("__drop"))
    val drop = holdDropSet(
      contaminated.unionByName(nonCanonical)
        .unionByName(corpusHit.select(col("doc_new").as("__drop")))
        .distinct(),
      ccLocalThreshold, () => {
        Seq(comp, corpusHit, sigs, within).foreach(_.unpersist(false))
        releaseLabels()
      })
    newDocs.join(drop, newDocs(idCol) === drop("__drop"), "left_anti")
  }

  /** All intra-bucket candidate pairs (a < b) in ONE shuffle: group the
    * banded set by its bucket key(s), drop singleton buckets (no pair) and
    * over-populated buckets (> `max` members — a degenerate bucket of B
    * docs means B²/2 candidates and no discriminating signal; `max <= 0`
    * disables the cap), then emit the ordered id pairs of each surviving
    * bucket from its sorted member array.
    *
    * This replaces the self-join formulation, whose plan at corpus scale
    * paid THREE full exchanges of the banded set (the hot-bucket count
    * plus both join sides) and hashed 2× the rows; here the banded set is
    * exchanged once and the per-bucket pair explosion is bounded by the
    * cap. Profiled at 2M docs / 32M banded rows the candidate stage drops
    * ~3×. `dedup = false` keeps one pair instance per shared bucket
    * (winnowing counts shared fingerprints).
    *
    * `fanoutRows` (r15, guide §2.2/§5): the banded set is `bands ×` the
    * corpus row count — far past what the session shuffle setting was
    * sized for — and the bucket aggregation is a collect_list whose
    * object-hash path falls back to SORT-based beyond the per-partition
    * group threshold, so an under-partitioned exchange external-sorts
    * multi-GB partitions. Callers that know the fan-out (rows × bands)
    * pass it here and the exchange is sized to ~32 MB of banded rows per
    * partition (same contract as TextOps.fanoutParts: floor = session
    * setting so small inputs keep AQE coalescing, cap 4096). */
  private[operators] def bucketPairs(
      banded: DataFrame, keys: Seq[String], idCol: String, max: Int,
      dedup: Boolean = true, fanoutRows: Long = 0L): DataFrame = {
    val session = banded.sparkSession.sessionState.conf.numShufflePartitions
    val parts = math.max(session.toLong,
      math.min(4096L, fanoutRows * 28L / (32L << 20))).toInt
    val sized =
      if (parts > session) banded.repartition(parts, keys.map(col): _*)
      else banded
    val grouped = sized
      .groupBy(keys.map(col): _*)
      .agg(array_sort(collect_list(col(idCol))).as("__ids"))
    val kept =
      if (max <= 0) grouped.filter(size(col("__ids")) >= 2)
      else grouped.filter(size(col("__ids")).between(2, max))
    val pairs = kept
      .select(explode(flatten(transform(col("__ids"), (x, i) =>
        transform(slice(col("__ids"), i + lit(2), size(col("__ids"))), y =>
          struct(x.as("a"), y.as("b")))))).as("__p"))
      .select(col("__p.a").as("doc_a"), col("__p.b").as("doc_b"))
      // guard against duplicate ids inside one bucket (a caller whose rows
      // repeat (key, id) would otherwise emit self-pairs from the sorted
      // array; the ordered join formulation excluded them via a.id < b.id)
      .filter(col("doc_a") =!= col("doc_b"))
    if (dedup) pairs.dropDuplicates("doc_a", "doc_b") else pairs
  }

  /** Materialize `out` (small: the near-dup pair set), then release the big
    * cached intermediates — cached blocks must not accumulate across calls
    * in a long-lived session. Callers may `unpersist()` the (small) result
    * when done with it. */
  private[operators] def materializeAndRelease(out: DataFrame, cached: DataFrame*): DataFrame = {
    val m = out.persist()
    m.count()
    cached.foreach(_.unpersist(false))
    m
  }

  /** The drop set of a keep-style operator ([[keepCanonical]],
    * [[keepBest]], [[keepNewAgainst]], [[keepNewAgainstSignatures]]),
    * computed once so the final anti-join does not recompute it, and held
    * outside the session's cache manager, which would pin it long after
    * the caller consumed the result (nothing could unpersist it then).
    *
    * It is computed into a local checkpoint and counted. A set of at most
    * `maxLocalRows` rows, or small enough that the session would broadcast
    * it anyway, comes to the driver as a local relation (exact size
    * statistics, so it still broadcasts) and its checkpoint blocks are
    * freed at once: the same driver bound as the union-find path of
    * [[connectedComponents]] or a broadcast. A larger set stays
    * distributed in the checkpoint, whose blocks the ContextCleaner reaps
    * once the result is unreachable. `release` frees what the set was
    * read from, once it is held. */
  private def holdDropSet(drop: DataFrame, maxLocalRows: Long,
      release: () => Unit): DataFrame = {
    val held = try drop.localCheckpoint() finally release()
    val broadcastRows = drop.sparkSession.sessionState.conf.autoBroadcastJoinThreshold /
      (8L + drop.schema.defaultSize)
    if (held.count() > math.max(maxLocalRows, broadcastRows)) held
    else {
      val rows = held.collect()
      held.queryExecution.logical.foreach {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(false)
        case _ =>
      }
      drop.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), drop.schema)
    }
  }

  /** Connected components over a near-dup pair set → (doc_id, comp), where
    * `comp` is the smallest id reachable from the node (canonical cluster
    * label). This is the step a dedup pipeline needs AFTER pair generation:
    * near-dup is transitive in intent (A≈B≈C is one cluster even when A,C
    * were never a candidate pair).
    *
    * The input is encoded once, before the execution path is chosen, so
    * both paths label the same graph the same way:
    *  - a pair with a null endpoint is dropped. A null id names no
    *    document ([[keepCanonical]]'s anti-join never drops a null-id row)
    *    and links nothing, as a recursive SQL join never propagates
    *    through a null key; so no null row comes out.
    *  - ids are labelled as longs. Long ids are used as they are; Int,
    *    Short and Byte ids are widened; any other orderable type (String,
    *    Double, Date, ...) is mapped to a dense code that preserves
    *    Spark's ordering of the type (its distinct ids sorted and numbered
    *    by `zipWithIndex`) and mapped back after labelling. The output
    *    columns have the type of the input ids, and "smallest" is Spark's
    *    ordering on every path: strings compare by UTF-8 bytes, as `min`
    *    and ORDER BY do.
    *
    * Up to `localThreshold` pairs a driver union-find labels them in one
    * collect; above it [[propagateLabels]] does, in at most `maxIter`
    * rounds (one WARN when it stops with labels still changing). */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxIter: Int = 20,
      localThreshold: Long = 1000000L): DataFrame =
    components(pairs, aCol, bCol, maxIter, localThreshold)._1

  /** [[connectedComponents]] plus a release of what its result still
    * holds cached (the distributed loop's final labels, the id code of
    * non-integral ids), to be called once the labels have been read. */
  private def components(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int,
      localThreshold: Long): (DataFrame, () => Unit) = {
    import org.apache.spark.sql.types._
    val spark = pairs.sparkSession
    import spark.implicits._
    val raw = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    // the type both id columns widen to in a union: the output type
    val dt = raw.select(col("src")).union(raw.select(col("dst"))).schema.head.dataType
    val ids = raw.select(col("src").cast(dt).as("src"), col("dst").cast(dt).as("dst"))
    val code = dt match {
      case LongType | IntegerType | ShortType | ByteType => None
      case _ =>
        val sorted = ids.select(col("src").as("id"))
          .union(ids.select(col("dst").as("id"))).distinct().orderBy("id")
        val coded = sorted.rdd.zipWithIndex()
          .map { case (r, i) => org.apache.spark.sql.Row(r.get(0), i) }
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Some((spark.createDataFrame(coded, StructType(Seq(
          StructField("id", dt), StructField("code", LongType)))), coded))
    }
    val e0 = (code match {
      case None => ids.select(col("src").cast(LongType).as("src"),
        col("dst").cast(LongType).as("dst"))
      case Some((c, _)) => ids
        .join(c.select(col("id").as("src"), col("code").as("s")), "src")
        .join(c.select(col("id").as("dst"), col("code").as("d")), "dst")
        .select(col("s").as("src"), col("d").as("dst"))
    }).persist()
    // near-dup pair graphs are usually tiny relative to the corpus (only
    // dup docs appear); below the threshold a driver union-find costs one
    // collect instead of one Spark round per cluster diameter
    val nEdges = e0.count()
    val (labels, held) =
      if (nEdges <= localThreshold) {
        val es = e0.as[(Long, Long)].collect()
        e0.unpersist(false)
        (spark.sparkContext.parallelize(unionFind(es).toSeq, 1)
          .toDF("doc_id", "comp"), None)
      } else {
        val (out, rdd) = propagateLabels(e0, maxIter, nEdges)
        e0.unpersist(false)
        (out, Some(rdd))
      }
    val out = code match {
      case None if dt == LongType => labels
      case None => labels.select(col("doc_id").cast(dt).as("doc_id"),
        col("comp").cast(dt).as("comp"))
      case Some((c, _)) => labels
        .join(c.select(col("code").as("doc_id"), col("id").as("__id")), "doc_id")
        .join(c.select(col("code").as("comp"), col("id").as("__comp")), "comp")
        .select(col("__id").as("doc_id"), col("__comp").as("comp"))
    }
    (out, () => (held ++ code.map(_._2)).foreach(_.unpersist(false)))
  }

  /** Min-id labels of a small edge list on the driver: a union-find whose
    * root is the smallest id of its set, with path compression. */
  private def unionFind(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toArray.map(id => id -> find(id))
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.operators.Dedup")

  /** The distributed CC loop (r15, guide §2.4 "remove shuffles
    * outright"): min-label propagation over an RDD whose edge set and
    * label set share ONE HashPartitioner, so each round's propagation
    * join and convergence merge are narrow (zero-shuffle) and only the
    * propagated (dst, comp) messages are exchanged: one shuffle per
    * round. Lineage grows linearly (RDD, no Catalyst plan to re-analyse);
    * each round's labels are persisted and the previous round's blocks
    * released.
    *
    * Per round every node takes the min of its own label and its
    * neighbours' labels; converged when no label changed; labels start as
    * the node's own id; output (doc_id, comp) for every node that occurs
    * in a pair. Rounds needed = cluster diameter; dup clusters are shallow
    * (near-clique), so 2-4 rounds are typical. `maxIter` bounds
    * adversarial chain graphs, and a WARN names the round count when it
    * cuts the loop short (the labels are then not final).
    *
    * Partition count is scale-adaptive: directed-edge count / ~2M rows
    * per partition (≈32 MB of (long,long) entries), floored at the
    * session shuffle setting, capped at 4096 — the same sizing contract
    * as [[graft.operators.TextOps.fanoutParts]].
    *
    * Returns the labels and the persisted RDD they are read from, for the
    * caller to release once it has read them. */
  private def propagateLabels(
      e0: DataFrame,
      maxIter: Int,
      nEdges: Long): (DataFrame, org.apache.spark.rdd.RDD[_]) = {
    val spark = e0.sparkSession
    val session = spark.sessionState.conf.numShufflePartitions
    val nParts = math.max(session.toLong,
      math.min(4096L, (2 * nEdges) / 2000000L)).toInt
    val part = new org.apache.spark.HashPartitioner(nParts)
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = e0.rdd
      .flatMap { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        Iterator((a, b), (b, a))
      }
      .partitionBy(part)
      .persist(level)
    // initial labels (id -> id) co-partitioned with the edges; the
    // per-partition HashSet dedup replaces a distinct() shuffle (edges
    // are already clustered by src)
    var labels = edges
      .mapPartitions(it => {
        val seen = new java.util.HashSet[java.lang.Long]()
        it.flatMap { case (k, _) =>
          if (seen.add(k)) Iterator((k, k)) else Iterator.empty
        }
      }, preservesPartitioning = true)
      .persist(level)
    var persisted: org.apache.spark.rdd.RDD[_] = labels
    // DELTA propagation (r15, guide §2.3 — shuffle fewer bytes): only
    // nodes whose label DECREASED last round re-send it. A node's label
    // is the cumulative min of its own id and every value delivered to
    // it, and labels only decrease, so re-sending an unchanged label is
    // always redundant — per-round states are provably identical to the
    // send-everything loop (including at a maxIter cutoff). Round 1
    // sends from everyone (every label is new); the changed set then
    // shrinks with convergence, so the per-round message exchange decays
    // instead of staying at 2×|edges| for every round. `changed` stays
    // a filter-view of the persisted round result (filter/mapValues
    // preserve the partitioning), so the propagation join is narrow.
    var changed = labels
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // narrow join (co-partitioned) → the round's ONE shuffle: the
      // propagated messages, min-combined map-side by reduceByKey
      val propMin = edges.join(changed, part)
        .map { case (_, (dst, comp)) => (dst, comp) }
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      val next = labels
        .leftOuterJoin(propMin, part) // narrow: both sides on `part`
        .mapValues { case (old, pm) =>
          val m = pm.fold(old)(math.min(old, _)); (m, m < old)
        }
        .persist(level)
      converged = next.filter(_._2._2).count() == 0 // also materializes
      persisted.unpersist(false) // previous round's blocks, now unread
      persisted = next
      labels = next.mapValues(_._1)
      changed = next.filter(_._2._2).mapValues(_._1)
      iter += 1
    }
    if (!converged)
      log.warn(s"connected components stopped at maxIter = $iter rounds with " +
        "labels still changing: a cluster wider than that may be split")
    // the final labels are persisted (via `persisted`); the edge blocks
    // are no longer read — recomputation of a lost label block falls back
    // to the (recomputable) lineage, so releasing them early is safe
    edges.unpersist(false)
    import spark.implicits._
    (labels.toDF("doc_id", "comp"), persisted)
  }

  /** Near-dup cluster audit: the size histogram of the connected
    * components — (cluster size, number of clusters of that size). The
    * first thing to check before committing a dedup run: a giant
    * component means the threshold (or an uncapped hot bucket) glued
    * unrelated documents together and a canonical keep would delete real
    * content. Two small aggregations on the (tiny) label set. */
  def componentStats(
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxIter: Int = 20,
      localThreshold: Long = 1000000L): DataFrame =
    connectedComponents(pairs, aCol, bCol, maxIter, localThreshold)
      .groupBy(col("comp")).agg(count(lit(1)).as("csize"))
      .groupBy(col("csize")).agg(count(lit(1)).as("n_clusters"))

  /** Canonical keep/drop: drop every doc whose component label is not its
    * own id (the min-id member of each near-dup cluster survives; docs in
    * no pair are untouched). The anti-join is an equi-join on the id — at
    * corpus scale it shuffles once on the id, no broadcast needed.
    *
    * `maxIter`/`localThreshold` pass through to [[connectedComponents]] so
    * a pipeline caller can force the distributed propagation path
    * (`localThreshold = 0`) or bound adversarial chain graphs without
    * bypassing this API. */
  def keepCanonical(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxIter: Int = 20,
      localThreshold: Long = 1000000L): DataFrame = {
    val (cc, release) = components(pairs, aCol, bCol, maxIter, localThreshold)
    val drop = holdDropSet(
      cc.filter(col("doc_id") =!= col("comp")).select(col("doc_id")),
      localThreshold, release)
    docs.join(drop, docs(idCol) === drop("doc_id"), "left_anti")
  }

  /** Quality-based canonical keep: like [[keepCanonical]], but each
    * near-dup cluster keeps its BEST member by `scoreCol` (ties broken by
    * lowest id — deterministic) instead of the lowest id. This is what a
    * production pipeline actually wants: of N near-identical crawls, keep
    * the cleanest one. Docs in no pair are untouched.
    *
    * Shape: the same diameter-bounded CC as keepCanonical, a join of the
    * (small) label set against the docs' (id, score) projection, one
    * `max_by` aggregation per cluster, and a broadcast anti-join of the
    * (small) drop set. */
  def keepBest(
      docs: DataFrame,
      pairs: DataFrame,
      scoreCol: Column,
      idCol: String = "doc_id",
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxIter: Int = 20,
      localThreshold: Long = 1000000L): DataFrame = {
    val (cc, release) = components(pairs, aCol, bCol, maxIter, localThreshold)
    // winner per cluster: highest score, then lowest id (max_by on a
    // (score, -id) struct is a single hash aggregation)
    val scored = cc.join(
      docs.select(col(idCol).as("doc_id"), scoreCol.as("__score")), "doc_id")
    val winners = scored.groupBy(col("comp"))
      .agg(max_by(col("doc_id"),
        struct(col("__score"), (-col("doc_id")).as("__negid"))).as("__keep"))
    val drop = holdDropSet(
      scored.join(winners, Seq("comp"))
        .filter(col("doc_id") =!= col("__keep"))
        .select(col("doc_id")),
      localThreshold, release)
    docs.join(drop, docs(idCol) === drop("doc_id"), "left_anti")
  }

  /** SimHash near-dup pairs: 64-bit signatures, Hamming ≤ maxDist.
    * Pigeonhole banding: split the signature into maxDist+1 chunks — any
    * pair within maxDist agrees exactly on ≥1 chunk → join per chunk
    * (full recall, so the output is exactly the ≤-maxDist pair set).
    *
    * @param portableHash md5-derived token hash ([[TextOps.portableHash60]])
    *   instead of xxhash64 — bit-identical signatures are then reproducible
    *   in ANSI SQL engines (the DuckDB oracle); xxhash64 is faster. */
  def simHashPairs(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxDist: Int = 3,
      portableHash: Boolean = false,
      maxBucket: Int = 100000): DataFrame = {
    val chunks = maxDist + 1
    val bitsPer = 64 / chunks
    // signatures computed once and persisted; banded join stays slim.
    // Compiled single-pass kernel (r14) — the HOF fold reference stays
    // spec-pinned equal; see TextOps.simHashFast.
    val sigs = docs.select(col(idCol).as("id"),
        TextOps.simHashFast(col(textCol), portableHash).as("sig"))
      .persist()

    val banded = sigs.select(col("id"),
      explode(transform(sequence(lit(0), lit(chunks - 1)),
        c => struct(c.as("chunk"),
          call_function("shiftright", col("sig"), c * bitsPer)
            .bitwiseAND(lit((1L << bitsPer) - 1)).as("key"))))
        .as("ck"))
      .select(col("id"), col("ck.chunk"), col("ck.key"))

    // same one-shuffle candidate generation + hot-bucket cap as the MinHash
    // path — a chunk value shared by B signatures yields B²/2 candidates
    val out = bucketPairs(banded, Seq("chunk", "key"), "id", maxBucket)
      .join(sigs.select(col("id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("dist", TextOps.hamming(col("sig_a"), col("sig_b")))
      .filter(col("dist") <= maxDist)
      .select("doc_a", "doc_b", "dist")
    materializeAndRelease(out, sigs)
  }

  /** Stored SimHash sketches: one 64-bit signature per document,
    * materializable as a (doc_id, sig) table — the SimHash twin of
    * [[minHashSignatures]] for pipelines that sketch once at ingest. */
  def simHashSignatures(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      portableHash: Boolean = false): DataFrame = {
    docs.select(col(idCol).as("doc_id"),
      TextOps.simHashFast(col(textCol), portableHash).as("sig"))
  }

  /** SimHash near-dup pairs from STORED signatures — the pigeonhole
    * banding and Hamming verification of [[simHashPairs]] run directly on
    * a (doc_id, sig) table; text is never touched. Exact (full-recall)
    * over the signatures, like the text-side path. */
  def simHashPairsFromSignatures(
      sigs: DataFrame,
      idCol: String = "doc_id",
      sigCol: String = "sig",
      maxDist: Int = 3,
      maxBucket: Int = 100000): DataFrame = {
    val chunks = maxDist + 1
    val bitsPer = 64 / chunks
    val s = sigs.select(col(idCol).as("id"), col(sigCol).as("sig")).persist()
    val banded = s.select(col("id"),
      explode(transform(sequence(lit(0), lit(chunks - 1)),
        c => struct(c.as("chunk"),
          call_function("shiftright", col("sig"), c * bitsPer)
            .bitwiseAND(lit((1L << bitsPer) - 1)).as("key"))))
        .as("ck"))
      .select(col("id"), col("ck.chunk"), col("ck.key"))
    val out = bucketPairs(banded, Seq("chunk", "key"), "id", maxBucket)
      .join(s.select(col("id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(s.select(col("id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("dist", TextOps.hamming(col("sig_a"), col("sig_b")))
      .filter(col("dist") <= maxDist)
      .select("doc_a", "doc_b", "dist")
    materializeAndRelease(out, s)
  }

  /** Incremental SimHash pairs from STORED signatures — new-batch ids
    * against a corpus sketch table, the Hamming twin of
    * [[minHashPairsAgainstSignatures]] (completing the at-ingest surface:
    * both sketch families now cover within-corpus AND batch-vs-corpus
    * from signatures alone). Pigeonhole banding on `maxDist + 1` bit
    * chunks keeps full recall at ≤ `maxDist`; the corpus banding is
    * grouped ONCE (hot buckets capped) so the cross join is a slim
    * equi-join on (chunk, key); verification is one Hamming popcount per
    * candidate. Text is never touched on either side.
    *
    * @return (doc_new, doc_corpus, dist) */
  def simHashPairsAgainstSignatures(
      newSigs: DataFrame,
      corpusSigs: DataFrame,
      idCol: String = "doc_id",
      sigCol: String = "sig",
      maxDist: Int = 3,
      maxBucket: Int = 100000): DataFrame = {
    val chunks = maxDist + 1
    val bitsPer = 64 / chunks
    def slim(df: DataFrame) = df.select(col(idCol).as("id"), col(sigCol).as("sig"))
    def banded(df: DataFrame) = df.select(col("id"),
      explode(transform(sequence(lit(0), lit(chunks - 1)),
        c => struct(c.as("chunk"),
          call_function("shiftright", col("sig"), c * bitsPer)
            .bitwiseAND(lit((1L << bitsPer) - 1)).as("key"))))
        .as("ck"))
      .select(col("id"), col("ck.chunk"), col("ck.key"))
    val sN = slim(newSigs).persist()
    val sC = slim(corpusSigs).persist()
    val grouped = banded(sC)
      .groupBy(col("chunk"), col("key"))
      .agg(collect_list(col("id")).as("__ids"))
    val kept = if (maxBucket <= 0) grouped
      else grouped.filter(size(col("__ids")) <= maxBucket)
    val out = banded(sN)
      .join(kept, Seq("chunk", "key"))
      .select(col("id").as("doc_new"), explode(col("__ids")).as("doc_corpus"))
      .filter(col("doc_new") =!= col("doc_corpus"))
      .dropDuplicates("doc_new", "doc_corpus")
      .hint("shuffle_hash")
      .join(sN.select(col("id").as("doc_new"), col("sig").as("sig_a")), "doc_new")
      .hint("shuffle_hash")
      .join(sC.select(col("id").as("doc_corpus"), col("sig").as("sig_b")), "doc_corpus")
      .withColumn("dist", TextOps.hamming(col("sig_a"), col("sig_b")))
      .filter(col("dist") <= maxDist)
      .select("doc_new", "doc_corpus", "dist")
    materializeAndRelease(out, sN, sC)
  }

  /** Streaming near-dup detection against STORED corpus signatures — the
    * sketch-table version of [[nearDupStream]]: incoming documents are
    * MinHash-signed by the kernel, banded, and equi-joined against the
    * (static, grouped-once) corpus banding; verification is the
    * signature Jaccard estimate on candidates. The corpus side carries
    * ~1 KB per doc instead of shingle arrays, and the static side should
    * be cached by the caller — per micro-batch cost is then one kernel
    * pass over the batch plus a slim equi-join.
    *
    * @return streaming (doc_new, doc_corpus, jaccard_est, `tsCol`) */
  def nearDupStreamFromSignatures(
      stream: DataFrame,
      corpusSigs: DataFrame,
      tsCol: String,
      delay: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      sigCol: String = "sig",
      shingleN: Int = 3,
      bands: Int = 16,
      rows: Int = 4,
      threshold: Double = 0.7,
      maxBucket: Int = 100000): DataFrame = {
    val sC = corpusSigs.select(col(idCol).as("__cid"), col(sigCol).as("__csig"))
    val grouped0 = sC.select(col("__cid"),
        posexplode(graft.functions.TextKernels.sigBucketsCol(col("__csig"), bands, rows)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(col("__cid")).as("__ids"))
    val grouped = if (maxBucket <= 0) grouped0
      else grouped0.filter(size(col("__ids")) <= maxBucket)
    val banded = stream
      .select(col(idCol).as("doc_new"), col(tsCol).as("__ts"),
        graft.functions.TextKernels.minhashSignatureCol(
          TextOps.shingleHashes(col(textCol), shingleN), bands * rows).as("__nsig"))
      .select(col("doc_new"), col("__ts"), col("__nsig"),
        posexplode(graft.functions.TextKernels.sigBucketsCol(col("__nsig"), bands, rows)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
    banded.join(grouped, Seq("band", "bucket"))
      .select(col("doc_new"), col("__ts"), col("__nsig"),
        explode(col("__ids")).as("doc_corpus"))
      .filter(col("doc_new") =!= col("doc_corpus"))
      .join(sC, col("doc_corpus") === col("__cid"))
      .withColumn("jaccard_est", sigJaccard(col("__nsig"), col("__csig")))
      .filter(col("jaccard_est") >= threshold)
      .select(col("doc_new"), col("doc_corpus"), col("jaccard_est"),
        col("__ts").as(tsCol))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("doc_new", "doc_corpus")
  }

  /** Winnowed-fingerprint near-dup pairs (MOSS-style local similarity):
    * per-doc winnowed k-gram fingerprint sets (one kernel pass, no
    * shuffle), exploded and equi-joined on the fingerprint value — the
    * shuffle key is the fingerprint, whose cardinality grows with the
    * corpus, so the join scales out; no cartesian anywhere.
    *
    * @return (doc_a, doc_b, shared) — pairs sharing ≥ minShared fingerprints
    */
  def winnowPairs(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 8,
      w: Int = 16,
      minShared: Long = 5L,
      maxDf: Int = 100000): DataFrame = {
    val fp0 = docs.select(col(idCol).as("id"),
      explode(graft.functions.TextKernels.winnowFingerprintsCol(
        TextOps.normalize(col(textCol)), k, w)).as("fp"))
    // one-shuffle pair generation with the document-frequency cap folded in
    // (MOSS drops "common code" fingerprints the same way: a fingerprint
    // present in B docs would yield B²/2 pairs); dedup=false keeps one pair
    // instance per shared fingerprint so the count below is the overlap size
    bucketPairs(fp0, Seq("fp"), "id", maxDf, dedup = false)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Exact n-gram Jaccard over a candidate blocking key (default: shared
    * fingerprint-band). For small corpora `blockCol = lit(1)` degenerates to
    * all-pairs — only for tests. */
  def ngramJaccardPairs(
      docs: DataFrame,
      blockCol: Column,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val d = docs.select(col(idCol).as("id"),
      TextOps.shingleHashes(col(textCol), n).as("sh"), blockCol.as("blk"))
    val a = d.alias("a"); val b = d.alias("b")
    a.join(b, col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .withColumn("jaccard", shingleJaccard(col("a.sh"), col("b.sh")))
      .filter(col("jaccard") >= threshold)
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"), col("jaccard"))
  }

  /** Corpus-frequency boilerplate line removal (the RefinedWeb/Falcon
    * line-dedup step): a line appearing in more than `maxDf` distinct
    * documents is boilerplate (navigation, cookie banners, share footers)
    * and is dropped from EVERY document; a document whose every line is
    * boilerplate drops entirely. Returns (idCol, textCol) with the cleaned
    * text, lines re-joined in original order.
    *
    * Shape at scale: one explode scan, a count-distinct aggregation keyed
    * on the line (map-side partial), a broadcast anti-join of the hot-line
    * list (tiny by construction: a line must recur across > maxDf docs to
    * appear — bounded by totalLines/maxDf), and ONE shuffle on the doc id
    * to reassemble. Nothing buffers a document set on the driver. */
  def dropCommonLines(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxDf: Int = 30): DataFrame = {
    val lines = docs.select(col(idCol).as("__id"),
      posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
    val hot = lines.groupBy(col("__line"))
      .agg(countDistinct(col("__id")).as("__df"))
      .filter(col("__df") > maxDf)
      .select(col("__line"))
    lines.join(broadcast(hot), Seq("__line"), "left_anti")
      .groupBy(col("__id"))
      .agg(concat_ws("\n",
        transform(array_sort(collect_list(struct(col("__pos"), col("__line")))),
          x => x.getField("__line"))).as("__clean"))
      .select(col("__id").as(idCol), col("__clean").as(textCol))
  }

  /** Intra-document repeated-line removal — the within-doc half of line
    * dedup ([[dropCommonLines]] is the cross-corpus half): later exact
    * repeats of a line inside one document are dropped, the FIRST
    * occurrence survives, and line order is otherwise preserved. Lines
    * shorter than `minChars` are always kept (blank separators and short
    * markup repeat legitimately; the default keeps empty lines only).
    *
    * Pure per-row array expressions — no shuffle, no UDF. The
    * first-occurrence probe is an `array_position` per line (O(L²) in a
    * document's line count, bounded for real documents), so the corpus
    * streams at scan speed and the op composes with the cross-corpus
    * pass without adding a stage. */
  def dropRepeatedLines(
      docs: DataFrame,
      textCol: String = "text",
      minChars: Int = 1): DataFrame = {
    val ls = split(col(textCol), "\n")
    val kept = filter(ls, (x, i) =>
      length(x) < minChars || array_position(ls, x) === i + 1)
    docs.withColumn(textCol, array_join(kept, "\n"))
  }

  /** Corpus-frequency paragraph dedup (RefinedWeb-style, between
    * [[dropCommonLines]]' line granularity and
    * [[graft.operators.TextOps.removeDupSpans]]' word windows): every
    * blank-line-separated paragraph that occurs more than once in the
    * corpus keeps only its FIRST occurrence by (doc, position); later
    * copies are deleted from their documents. Paragraphs shorter than
    * `minChars` (after trim) are kept unconditionally — short boilerplate
    * is [[dropCommonLines]]' job, and deduping "Introduction" headers
    * would shred unrelated documents.
    *
    * Scale shape: the corpus-global first-occurrence window shuffles only
    * (hash, id, idx) — paragraph TEXT never rides it (the packSequences
    * lesson) — with the partition count sized to input volume; surviving
    * paragraphs reassemble in one doc-id shuffle. Dedup keys are
    * whitespace-normalized lowercase; the rebuilt text preserves the
    * original paragraph bytes. Output: (idCol, clean_text, n_paras,
    * n_removed); documents whose every paragraph was removed survive with
    * empty text (the caller's length filter decides). */
  def dropDupParagraphs(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      minChars: Int = 30,
      parts: Int = 0): DataFrame = {
    require(minChars >= 0 && parts >= 0, "bad minChars/parts")
    // the census/election scan explodes the RAW column: null text can't
    // contain paragraphs, so null rows contribute nothing to the
    // frequency count and the scan keeps its null-skipping path (the
    // r11 coalesce-everywhere variant fed '' paragraphs through the
    // hash+filter chain for every null row). Null-text docs are
    // preserved solely by the REBUILD scan below.
    val rawParas = docs.select(col(idCol).as("__id"),
      posexplode(split(col(textCol), "\n\n")).as(Seq("__i", "__para")))
    val keyed = rawParas
      .filter(length(trim(col("__para"))) >= minChars)
      .select(col("__id"), col("__i"),
        TextOps.portableHash60(TextOps.normalize(col("__para"))).as("__h"))
    // NULL text coalesces to '' HERE so the doc still emits its one
    // (empty) paragraph row into the per-doc rebuild — posexplode of a
    // null split array would otherwise DROP the document from the
    // output entirely, inconsistent with dropCommonLines/removeDupSpans
    // which preserve every input row. The synthesized '' never enters
    // the census (nulls can't contain paragraphs), so it is kept
    // unconditionally — observable only at minChars = 0, where an
    // EMPTY-text doc's '' paragraph competes in the election but a
    // null-text doc's does not.
    val paras = docs.select(col(idCol).as("__id"),
      posexplode(split(coalesce(col(textCol), lit("")), "\n\n"))
        .as(Seq("__i", "__para")))
    val windowParts =
      if (parts > 0) parts
      else TextOps.volumeParts(docs, targetBytes = 8L << 20)
    val sized =
      if (windowParts > docs.sparkSession.sessionState.conf.numShufflePartitions)
        keyed.repartition(windowParts, col("__h"))
      else keyed
    val byHash = org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))
    val removals = sized
      .withColumn("__occ", count(lit(1)).over(byHash))
      .withColumn("__first", min(struct(col("__id"), col("__i"))).over(byHash))
      .filter(col("__occ") > 1 &&
        !(col("__first")("__id") === col("__id") &&
          col("__first")("__i") === col("__i")))
      .select(col("__id"), col("__i"), lit(true).as("__rm"))
    paras.join(removals, Seq("__id", "__i"), "left")
      .groupBy(col("__id"))
      // collect_list skips nulls: removed paragraphs vanish, the doc row
      // survives even when everything was removed
      .agg(
        array_join(transform(array_sort(collect_list(
            when(col("__rm").isNull, struct(col("__i"), col("__para"))))),
          x => x.getField("__para")), "\n\n").as("clean_text"),
        count(lit(1)).as("n_paras"),
        count(col("__rm")).as("n_removed"))
      .withColumnRenamed("__id", idCol)
  }

  /** Distinct paragraph-hash signatures of a corpus — the stored table
    * [[dropDupParagraphsAgainst]] dedups future batches against: the
    * paragraph-granularity member of the stored-signature family beside
    * [[minHashSignatures]]/[[simHashSignatures]] (doc level) and
    * [[graft.operators.TextOps.spanSignatures]] (word-window level).
    * Keys match [[dropDupParagraphs]] exactly: one 60-bit portable hash
    * per whitespace-normalized lowercase paragraph of at least
    * `minChars` trimmed chars — text never stored. Materialize once per
    * corpus snapshot, append each ingested batch's signatures
    * (duplicate hashes across appends are tolerated — the join side
    * dedups internally).
    *
    * Plan: one explode scan → one hash-keyed dedup shuffle sized to
    * input volume. Output: (para_hash). */
  def paragraphSignatures(
      docs: DataFrame,
      textCol: String = "text",
      minChars: Int = 30,
      parts: Int = 0): DataFrame = {
    require(minChars >= 0 && parts >= 0, "bad minChars/parts")
    val hashes = docs
      .select(explode(split(col(textCol), "\n\n")).as("__para"))
      .filter(length(trim(col("__para"))) >= minChars)
      .select(TextOps.portableHash60(TextOps.normalize(col("__para")))
        .as("para_hash"))
    val windowParts =
      if (parts > 0) parts
      else TextOps.volumeParts(docs, targetBytes = 8L << 20)
    val sized =
      if (windowParts > docs.sparkSession.sessionState.conf.numShufflePartitions)
        hashes.repartition(windowParts, col("para_hash"))
      else hashes
    sized.dropDuplicates("para_hash")
  }

  /** Incremental paragraph dedup against STORED corpus signatures — the
    * daily-ingest twin of [[dropDupParagraphs]], completing the trio
    * with the doc-level MinHash/SimHash and span-level ingest shapes:
    * every qualifying paragraph of the NEW batch that already exists in
    * the corpus signature table ([[paragraphSignatures]]) is deleted
    * WHEREVER it occurs (the corpus owns the first occurrence), and
    * paragraphs duplicated within the batch itself keep their first
    * (doc id, position) exactly like the batch-global operator. Short
    * paragraphs (< `minChars`) are kept unconditionally; null-text
    * documents survive with empty text.
    *
    * Plan at scale: the batch's paragraphs leave the census scan as
    * slim (id, idx, hash) rows; ONE hash shuffle serves both the
    * signature equi-join (corpus side pre-hashed, text never moves)
    * and the within-batch census/election window; the rebuild is the
    * [[dropDupParagraphs]] tail.
    *
    * @return (idCol, clean_text, n_paras, n_removed) */
  def dropDupParagraphsAgainst(
      docs: DataFrame,
      signatures: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      minChars: Int = 30,
      parts: Int = 0): DataFrame = {
    require(minChars >= 0 && parts >= 0, "bad minChars/parts")
    val keyed = docs.select(col(idCol).as("__id"),
        posexplode(split(col(textCol), "\n\n")).as(Seq("__i", "__para")))
      .filter(length(trim(col("__para"))) >= minChars)
      .select(col("__id"), col("__i"),
        TextOps.portableHash60(TextOps.normalize(col("__para"))).as("__h"))
    val windowParts =
      if (parts > 0) parts
      else TextOps.volumeParts(docs, targetBytes = 8L << 20)
    val sized =
      if (windowParts > docs.sparkSession.sessionState.conf.numShufflePartitions)
        keyed.repartition(windowParts, col("__h"))
      else keyed
    val sigs = signatures
      .select(col("para_hash").as("__h"))
      .dropDuplicates("__h")
      .withColumn("__corpus", lit(true))
    val byHash = org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))
    val removals = sized.join(sigs, Seq("__h"), "left")
      .withColumn("__occ", count(lit(1)).over(byHash))
      .withColumn("__first", min(struct(col("__id"), col("__i"))).over(byHash))
      .filter(coalesce(col("__corpus"), lit(false)) ||
        (col("__occ") > 1 &&
          !(col("__first")("__id") === col("__id") &&
            col("__first")("__i") === col("__i"))))
      .select(col("__id"), col("__i"), lit(true).as("__rm"))
    val paras = docs.select(col(idCol).as("__id"),
      posexplode(split(coalesce(col(textCol), lit("")), "\n\n"))
        .as(Seq("__i", "__para")))
    paras.join(removals, Seq("__id", "__i"), "left")
      .groupBy(col("__id"))
      .agg(
        array_join(transform(array_sort(collect_list(
            when(col("__rm").isNull, struct(col("__i"), col("__para"))))),
          x => x.getField("__para")), "\n\n").as("clean_text"),
        count(lit(1)).as("n_paras"),
        count(col("__rm")).as("n_removed"))
      .withColumnRenamed("__id", idCol)
  }

  /** Per-line document-frequency census of a corpus — the stored table
    * [[dropCommonLinesAgainst]] filters future batches against: the
    * line-granularity member of the stored-signature family, and the
    * only FREQUENCY-counted one (doc/span/paragraph stores are
    * presence-keyed — one hash row means "the corpus owns this key" —
    * but boilerplate is a THRESHOLD property: a line is navigation
    * chrome because many documents carry it, so the store must count).
    * Keys match [[dropCommonLines]] exactly: one 60-bit portable hash
    * per RAW line (no normalization — the batch operator's hot-line
    * equality is exact), counted once per document. Text never stored.
    * Materialize once per corpus snapshot, append each ingested batch's
    * census — readers SUM counts per hash, so appended rows for the
    * same line accumulate instead of conflicting.
    *
    * Plan: one explode scan → one hash-keyed count-distinct shuffle
    * (map-side partial on the (doc, hash) dedup). Output:
    * (line_hash, n_docs). */
  def lineCounts(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol).as("__id"),
        explode(split(col(textCol), "\n")).as("__line"))
      .select(col("__id"), TextOps.portableHash60(col("__line")).as("line_hash"))
      .groupBy(col("line_hash"))
      .agg(countDistinct(col("__id")).as("n_docs"))

  /** Incremental boilerplate-line removal against STORED corpus line
    * frequencies — the daily-ingest twin of [[dropCommonLines]],
    * completing the stored-signature ingest matrix at line granularity
    * (doc MinHash/SimHash, span, and paragraph shipped presence-keyed;
    * this one is frequency-thresholded). A line of the NEW batch is
    * boilerplate when its COMBINED document frequency — the store's
    * summed `n_docs` (as of batch start) plus the batch's own
    * distinct-document census — exceeds `maxDf`; boilerplate lines are
    * removed from EVERY batch document (count-inclusive: the threshold
    * can be crossed BY the ingested batch, which is what makes a
    * single batch over an empty store match [[dropCommonLines]]
    * exactly, and mirrors the presence-keyed twins' within-batch
    * election). Frequency removal at ingest is inherently
    * non-retroactive: corpus documents emitted BEFORE a line crossed
    * the threshold keep their copies — only a batch-global re-run
    * removes those.
    *
    * Unlike [[dropCommonLines]] (which drops a document whose every
    * line is boilerplate), every input row survives — all-boilerplate
    * and null-text documents come back with empty `clean_text`,
    * matching the span/paragraph `Against` twins (the ingest caller
    * owns the drop decision).
    *
    * Plan at scale: the batch's lines leave the explode scan as slim
    * (id, pos, hash) rows; the batch census and the store join share
    * one hash-keyed shuffle (the store side aggregates its appended
    * count rows — compact the store offline to keep that side one row
    * per line); the hot-line set is bounded by the batch's distinct
    * lines, and the rebuild is one doc-id shuffle.
    *
    * @param counts (line_hash, n_docs) rows from [[lineCounts]] —
    *        duplicate hash rows across appends SUM
    * @return (idCol, clean_text, n_lines, n_removed) */
  def dropCommonLinesAgainst(
      docs: DataFrame,
      counts: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxDf: Int = 30): DataFrame = {
    require(maxDf >= 0, "bad maxDf")
    val keyed = docs.select(col(idCol).as("__id"),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
      .select(col("__id"), col("__pos"),
        TextOps.portableHash60(col("__line")).as("__h"))
    val batchDf = keyed.select(col("__id"), col("__h")).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__bdf"))
    val store = counts.groupBy(col("line_hash").as("__h"))
      .agg(sum(col("n_docs")).as("__sdf"))
    val hot = batchDf.join(store, Seq("__h"), "left")
      .filter(col("__bdf") + coalesce(col("__sdf"), lit(0L)) > maxDf)
      .select(col("__h"), lit(true).as("__rm"))
    val removals = keyed.join(hot, Seq("__h"))
      .select(col("__id"), col("__pos"), col("__rm"))
    // rebuild scan coalesces null text so null-text docs survive with
    // empty output (they contribute nothing to the census above)
    val lines = docs.select(col(idCol).as("__id"),
      posexplode(split(coalesce(col(textCol), lit("")), "\n"))
        .as(Seq("__pos", "__line")))
    lines.join(removals, Seq("__id", "__pos"), "left")
      .groupBy(col("__id"))
      .agg(
        array_join(transform(array_sort(collect_list(
            when(col("__rm").isNull, struct(col("__pos"), col("__line"))))),
          x => x.getField("__line")), "\n").as("clean_text"),
        count(lit(1)).as("n_lines"),
        count(col("__rm")).as("n_removed"))
      .withColumnRenamed("__id", idCol)
  }

  /** Benchmark decontamination (the GPT-3/Llama eval-overlap step): flag
    * corpus documents sharing at least one word n-gram with the benchmark
    * set. Returns (idCol, hits) for contaminated docs only — `hits` is the
    * number of distinct benchmark n-grams the document contains (per-doc
    * shingle sets are distinct by construction, so a plain count is the
    * distinct-overlap size).
    *
    * Shape at scale: both sides shingle at scan speed ([[TextOps.shingles]]
    * one-pass kernel); the join keys on the n-gram with the benchmark side
    * distinct-ed and broadcast (eval sets are tiny next to the corpus); one
    * aggregation on the doc id. */
  def contamination(
      docs: DataFrame,
      bench: DataFrame,
      n: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id",
      benchTextCol: String = "text",
      broadcastBench: Boolean = true): DataFrame = {
    val d = docs.select(col(idCol).as("__id"),
      explode(TextOps.shingles(col(textCol), n)).as("__g"))
    val b = bench.select(explode(TextOps.shingles(col(benchTextCol), n)).as("__g"))
      .distinct()
    // eval sets are tiny next to the corpus — broadcast by default; pass
    // broadcastBench=false when the benchmark side outgrows executor
    // memory (the join falls back to a shuffle keyed on the n-gram, whose
    // cardinality grows with the data — still scale-out)
    val bb = if (broadcastBench) broadcast(b) else b
    d.join(bb, Seq("__g"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("hits"))
      .select(col("__id").as(idCol), col("hits"))
  }

  /** Per-benchmark contamination audit — the report read BEFORE deciding
    * what to drop: for each benchmark set (`benchSetCol` labels which
    * eval suite a benchmark row belongs to), the number of corpus docs
    * sharing at least one n-gram, the corpus share, and how many
    * distinct benchmark grams matched (1 hot boilerplate gram vs broad
    * overlap read very differently). Same broadcast-gram shape as
    * [[contamination]]; the report is |benchmark sets| rows — sets with
    * ZERO overlap appear with explicit 0 counts (a missing row would
    * read as "not audited" rather than "clean"). */
  def contaminationReport(
      docs: DataFrame,
      bench: DataFrame,
      n: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id",
      benchTextCol: String = "text",
      benchSetCol: String = "benchmark"): DataFrame = {
    val d = docs.select(col(idCol).as("__id"),
      explode(TextOps.shingles(col(textCol), n)).as("__g"))
    val b = bench.select(col(benchSetCol).as("benchmark"),
        explode(TextOps.shingles(col(benchTextCol), n)).as("__g"))
      .distinct()
    val hits = d.join(broadcast(b), Seq("__g"))
      .groupBy(col("benchmark"))
      .agg(countDistinct(col("__id")).as("n_docs_contaminated"),
        countDistinct(col("__g")).as("n_grams_matched"))
    val sets = bench.select(col(benchSetCol).as("benchmark")).distinct()
    val full = sets.join(hits, Seq("benchmark"), "left")
      .select(col("benchmark"),
        coalesce(col("n_docs_contaminated"), lit(0L)).as("n_docs_contaminated"),
        coalesce(col("n_grams_matched"), lit(0L)).as("n_grams_matched"))
    val total = docs.agg(count(lit(1)).as("__total"))
    full.crossJoin(broadcast(total))
      .withColumn("doc_share",
        round(col("n_docs_contaminated") / col("__total"), 6))
      .drop("__total")
  }

  /** Corpus snapshot diff — what changed between two crawls/exports of
    * the same id space: `(doc_id, status)` with status `added` (only in
    * `next`), `removed` (only in `prev`), or `changed` (both, content
    * fingerprint differs). Unchanged docs are omitted. The incremental
    * bookkeeping an ingestion pipeline runs before deciding what to
    * re-process ([[minHashPairsAgainst]] pairs the `added`+`changed` slice
    * against the standing corpus).
    *
    * Shape at scale: both sides reduce to (id, 64-bit fingerprint) at scan
    * speed, then ONE equi-shuffle full-outer join on the id — no content
    * ever moves, only ids and hashes. */
  def corpusDiff(
      prev: DataFrame,
      next: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val o = prev.select(col(idCol).as("doc_id"),
      TextOps.fingerprint(col(textCol)).as("__fp_prev"))
    val n = next.select(col(idCol).as("doc_id"),
      TextOps.fingerprint(col(textCol)).as("__fp_next"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("__fp_prev").isNull, "added")
          .when(col("__fp_next").isNull, "removed")
          .when(col("__fp_prev") =!= col("__fp_next"), "changed"))
      .filter(col("status").isNotNull)
      .select("doc_id", "status")
  }

  /** Embedding-cosine near-dup pairs via the Similarity LSH path. */
  def embeddingPairs(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      threshold: Double = 0.95): DataFrame =
    Similarity.nearDupPairs(emb, idCol, vecCol, threshold)
}
