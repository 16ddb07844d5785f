package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass compute kernels for the text/dedup operators, exposed as
  * Catalyst `StaticInvoke` expressions.
  *
  * Why not `functions._` compositions: the regex formulation of
  * [[graft.operators.TextOps.analyze]] re-scans every document ~10× (one
  * regexp per signal), and MinHash over `transform`/`aggregate`
  * higher-order functions evaluates an interpreted lambda per array
  * element. A `StaticInvoke` of a static JVM method stays inside
  * whole-stage codegen (non-virtual call, no UDF ser/de) and computes all
  * signals in ONE pass over the string bytes — the hot path a 100 TB scan
  * actually takes. Why not custom `Expression` subclasses with `doGenCode`:
  * `StaticInvoke` IS the Catalyst-provided bridge for exactly this shape
  * (cf. Spark's own DateTimeUtils/IntervalUtils usage), with null
  * propagation and codegen handled by the framework.
  *
  * Semantics are bit-identical to the regex formulation (the DuckDB oracle
  * of q_text_analysis pins them): \s = ASCII whitespace, \p{Punct} = ASCII
  * punctuation, \w = [A-Za-z0-9_], counts over code points.
  */
object TextKernels {

  // ------------------------------------------------------------ text stats

  val textStatsType: StructType = StructType(Seq(
    StructField("token_count", IntegerType, nullable = false),
    StructField("n", IntegerType, nullable = false),
    StructField("npunct", IntegerType, nullable = false),
    StructField("nalpha", IntegerType, nullable = false),
    StructField("nws", IntegerType, nullable = false),
    StructField("nstop", IntegerType, nullable = false),
    StructField("en", IntegerType, nullable = false),
    StructField("de", IntegerType, nullable = false),
    StructField("fr", IntegerType, nullable = false),
    StructField("es", IntegerType, nullable = false),
    StructField("zh", IntegerType, nullable = false),
    StructField("ru", IntegerType, nullable = false),
    StructField("ar", IntegerType, nullable = false),
    StructField("ko", IntegerType, nullable = false),
    StructField("ja", IntegerType, nullable = false),
    StructField("hi", IntegerType, nullable = false)))

  /** All q_text_analysis signals in one pass over the text. */
  def textStatsCol(text: Column): Column = GraftColumnBridge.column(
    StaticInvoke(
      TextKernels.getClass, textStatsType, "textStats",
      Seq(GraftColumnBridge.expression(text)), Seq(StringType),
      returnNullable = false))

  private val stopwords =
    Set("the", "and", "of", "to", "is", "in", "that", "it")
  private val langMarkers: Array[Array[String]] = Array(
    Array("the", "and", "is", "of", "to", "that", "with"),
    Array("der", "die", "das", "und", "ist", "nicht", "mit"),
    Array("le", "la", "les", "et", "est", "dans", "pour"),
    Array("el", "los", "las", "es", "en", "que", "por"))

  private def isWs(c: Char): Boolean = // Java regex \s
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
  private def isPunct(c: Char): Boolean = // Java regex \p{Punct} (ASCII)
    (c >= '!' && c <= '/') || (c >= ':' && c <= '@') ||
      (c >= '[' && c <= '`') || (c >= '{' && c <= '~')
  private def isAlpha(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')
  private def isWord(c: Char): Boolean = // Java regex \w
    isAlpha(c) || (c >= '0' && c <= '9') || c == '_'

  def textStats(s: UTF8String): InternalRow = {
    val str = s.toString
    val len = str.length
    var n = 0; var npunct = 0; var nalpha = 0; var nwsp = 0
    var tokens = 0; var inToken = false
    var nstop = 0; var wordStart = -1
    var zh = 0; var ru = 0; var ar = 0; var ko = 0; var ja = 0; var hi = 0
    var firstNonSpace = -1; var lastNonSpace = -1
    var i = 0
    while (i < len) {
      val c = str.charAt(i)
      val cp = str.codePointAt(i)
      n += 1
      if (c != ' ') { if (firstNonSpace < 0) firstNonSpace = i; lastNonSpace = i }
      if (isWs(c)) nwsp += 1
      else {
        if (isPunct(c)) npunct += 1
        if (isAlpha(c)) nalpha += 1
        if (cp >= 0x4e00 && cp <= 0x9fff) zh += 1
        else if (cp >= 0x0400 && cp <= 0x04ff) ru += 1 // Cyrillic
        else if (cp >= 0x0600 && cp <= 0x06ff) ar += 1 // Arabic
        else if (cp >= 0xac00 && cp <= 0xd7af) ko += 1 // Hangul syllables
        else if (cp >= 0x3040 && cp <= 0x30ff) ja += 1 // Hiragana + Katakana
        else if (cp >= 0x0900 && cp <= 0x097f) hi += 1 // Devanagari
      }
      // whitespace-delimited tokens (split(trim, "\s+"))
      if (!isWs(c)) { if (!inToken) { tokens += 1; inToken = true } }
      else inToken = false
      // \b-delimited word runs for stopword hits (case-insensitive)
      if (isWord(c)) { if (wordStart < 0) wordStart = i }
      else if (wordStart >= 0) {
        if (isStopword(str, wordStart, i)) nstop += 1
        wordStart = -1
      }
      i += Character.charCount(cp)
    }
    if (wordStart >= 0 && isStopword(str, wordStart, len)) nstop += 1

    // exact legacy token_count semantics: size(split(trim(text), "\s+")).
    // trim strips ONLY spaces and Spark split keeps boundary empty fields,
    // so a non-space whitespace char at either trimmed edge contributes an
    // empty token (e.g. "  \t\n " → ["",""] → 2)
    if (firstNonSpace < 0) tokens = 0 // all spaces / empty
    else {
      if (isWs(str.charAt(firstNonSpace))) tokens += 1
      if (isWs(str.charAt(lastNonSpace))) tokens += 1
    }

    // language markers: non-overlapping ' word ' scan over ' '+lower+' '
    // (the trailing space of a hit is CONSUMED, matching regexp_count)
    val padded = " " + str.toLowerCase(java.util.Locale.ROOT) + " "
    val lang = new Array[Int](4)
    var li = 0
    while (li < 4) { lang(li) = markerHits(padded, langMarkers(li)); li += 1 }

    new GenericInternalRow(Array[Any](
      tokens, n, npunct, nalpha, n - nwsp, nstop,
      lang(0), lang(1), lang(2), lang(3), zh, ru, ar, ko, ja, hi))
  }

  private def isStopword(str: String, from: Int, until: Int): Boolean = {
    if (until - from < 2 || until - from > 4) return false
    val w = str.substring(from, until).toLowerCase(java.util.Locale.ROOT)
    stopwords.contains(w)
  }

  private def markerHits(padded: String, words: Array[String]): Int = {
    var hits = 0; var i = 0
    val len = padded.length
    while (i < len) {
      if (padded.charAt(i) == ' ') {
        var matchedEnd = -1
        var w = 0
        while (matchedEnd < 0 && w < words.length) {
          val word = words(w)
          val end = i + 1 + word.length
          if (end < len && padded.charAt(end) == ' ' &&
              padded.regionMatches(i + 1, word, 0, word.length))
            matchedEnd = end
          w += 1
        }
        if (matchedEnd >= 0) { hits += 1; i = matchedEnd + 1 }
        else i += 1
      } else i += 1
    }
    hits
  }

  // ------------------------------------------------------------- shingles

  /** Distinct word n-grams of an already-normalized (single-space) text;
    * whole text when shorter than n words. Same output as the
    * transform/slice/array_join formulation, one pass, no HOF lambdas. */
  def shinglesCol(normText: Column, n: Int): Column = GraftColumnBridge.column(
    StaticInvoke(
      TextKernels.getClass, ArrayType(StringType, containsNull = false),
      "shingles",
      Seq(GraftColumnBridge.expression(normText), Literal(n)),
      Seq(StringType, IntegerType),
      returnNullable = false))

  /** Non-distinct word n-grams of single-space-normalized text, in
    * document order — the counting twin of [[shinglesCol]] (vocab stats,
    * LM pair streams, hashed featurization all need every occurrence).
    * One pass over the string; fewer than n words → empty array. The HOF
    * formulation (`transform(sequence, i => slice(w, i, n))`) re-evaluates
    * the split PER GRAM when CollapseProject inlines it — O(words²). */
  def ngramsCol(normText: Column, n: Int): Column = GraftColumnBridge.column(
    StaticInvoke(
      TextKernels.getClass, ArrayType(StringType, containsNull = false),
      "ngrams",
      Seq(GraftColumnBridge.expression(normText), Literal(n)),
      Seq(StringType, IntegerType),
      returnNullable = false))

  def ngrams(norm: UTF8String, n: Int): ArrayData = {
    val str = norm.toString
    val starts = new java.util.ArrayList[Integer]()
    starts.add(0)
    var i = str.indexOf(' ')
    while (i >= 0) { starts.add(i + 1); i = str.indexOf(' ', i + 1) }
    val words = starts.size()
    if (words < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](words - n + 1)
    var w = 0
    while (w + n <= words) {
      val from = starts.get(w)
      val until = if (w + n == words) str.length else starts.get(w + n) - 1
      out(w) = UTF8String.fromString(str.substring(from, until))
      w += 1
    }
    new GenericArrayData(out)
  }

  def shingles(norm: UTF8String, n: Int): ArrayData = {
    val str = norm.toString
    // word start offsets in the single-space-normalized string
    val starts = new java.util.ArrayList[Integer]()
    starts.add(0)
    var i = str.indexOf(' ')
    while (i >= 0) { starts.add(i + 1); i = str.indexOf(' ', i + 1) }
    val words = starts.size()
    if (words < n) return new GenericArrayData(Array[Any](norm))
    val seen = new java.util.LinkedHashSet[String]()
    var w = 0
    while (w + n <= words) {
      val from = starts.get(w)
      val until = if (w + n == words) str.length else starts.get(w + n) - 1
      seen.add(str.substring(from, until))
      w += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator(); var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  // -------------------------------------------------- span-hash kernels

  /** Fused n-word window hashing for the dup-span family (r15): one
    * xxhash64 (seed 42, Spark's own entry point) per window, computed
    * DIRECTLY over the normalized string's byte slice — no per-gram
    * substring/UTF8String materialization and no cryptographic md5,
    * which together dominated the dup-span scan stage (the pre-r15 shape
    * paid `explode(shingles/ngrams)` + a 60-bit md5 per gram). The hash
    * is INTERNAL to these operators — the DuckDB oracles group the raw
    * gram strings, so any collision-resistant hash yields identical
    * results; 64 bits strictly lowers the collision odds of the previous
    * 60-bit scheme.
    *
    * `spanHashesDistinct` mirrors [[shingles]] semantics (per-doc
    * DISTINCT windows; whole text when shorter than n words; empty grams
    * skipped — the `length > 0` filter the detect path applied).
    * `spanHashes` mirrors [[ngrams]] semantics (every window, document
    * order — array index = window position; fewer than n words → empty).
    */
  def spanHashesDistinctCol(normText: Column, n: Int): Column =
    GraftColumnBridge.column(
      StaticInvoke(
        TextKernels.getClass, ArrayType(LongType, containsNull = false),
        "spanHashesDistinct",
        Seq(GraftColumnBridge.expression(normText), Literal(n)),
        Seq(StringType, IntegerType),
        returnNullable = false))

  def spanHashesCol(normText: Column, n: Int): Column =
    GraftColumnBridge.column(
      StaticInvoke(
        TextKernels.getClass, ArrayType(LongType, containsNull = false),
        "spanHashes",
        Seq(GraftColumnBridge.expression(normText), Literal(n)),
        Seq(StringType, IntegerType),
        returnNullable = false))

  private def wordStarts(bytes: Array[Byte]): java.util.ArrayList[Integer] = {
    val starts = new java.util.ArrayList[Integer]()
    starts.add(0)
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') starts.add(i + 1)
      i += 1
    }
    starts
  }

  private def sliceHash(bytes: Array[Byte], from: Int, until: Int): Long =
    XXH64.hashUnsafeBytes(bytes,
      org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from,
      until - from, 42L)

  def spanHashesDistinct(norm: UTF8String, n: Int): ArrayData = {
    val bytes = norm.getBytes
    val starts = wordStarts(bytes)
    val words = starts.size()
    if (words < n) {
      // whole text as the single window (shingles semantics), skipped
      // when empty (the detect path's length > 0 filter)
      return if (bytes.length == 0) new GenericArrayData(Array.emptyLongArray)
      else new GenericArrayData(Array(sliceHash(bytes, 0, bytes.length)))
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var w = 0
    while (w + n <= words) {
      val from = starts.get(w)
      val until = if (w + n == words) bytes.length else starts.get(w + n) - 1
      if (until > from) seen.add(sliceHash(bytes, from, until))
      w += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator(); var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  def spanHashes(norm: UTF8String, n: Int): ArrayData = {
    val bytes = norm.getBytes
    val starts = wordStarts(bytes)
    if (starts.size() < n) return new GenericArrayData(Array.emptyLongArray)
    new GenericArrayData(windowHashes(bytes, starts, n))
  }

  /** The hash of every n-word window, in document order (needs at least
    * n words). */
  private def windowHashes(bytes: Array[Byte],
      starts: java.util.ArrayList[Integer], n: Int): Array[Long] = {
    val words = starts.size()
    val out = new Array[Long](words - n + 1)
    var w = 0
    while (w + n <= words) {
      val from = starts.get(w)
      val until = if (w + n == words) bytes.length else starts.get(w + n) - 1
      out(w) = sliceHash(bytes, from, until)
      w += 1
    }
    out
  }

  // ------------------------------------------------- span-removal rebuild

  val removeSpansType: StructType = StructType(Seq(
    StructField("clean_text", StringType, nullable = false),
    StructField("n_words", LongType, nullable = true),
    StructField("n_removed", LongType, nullable = true)))

  /** Compiled rebuild for [[graft.operators.TextOps.removeDupSpans]]:
    * given the normalized text and the (unsorted, possibly overlapping)
    * removal start positions, delete every word covered by [s, s+n) and
    * splice the survivors with single spaces — ONE coverage sweep,
    * O(words + k·log k), replacing the interpreted
    * `filter(words, exists(starts, ...))` HOF pair that evaluated an
    * interpreted lambda per (word × start) and dominated the rebuild
    * stage. Null-text rows reproduce the Column formulation exactly
    * (clean_text = '' via concat_ws null-skipping, null counts), hence
    * propagateNull = false and in-kernel null handling. */
  def removeSpansCol(normText: Column, starts: Column, n: Int): Column =
    GraftColumnBridge.column(
      StaticInvoke(
        TextKernels.getClass, removeSpansType,
        "removeSpans",
        Seq(GraftColumnBridge.expression(normText),
          GraftColumnBridge.expression(starts), Literal(n)),
        Seq(StringType, ArrayType(IntegerType), IntegerType),
        propagateNull = false,
        returnNullable = false))

  def removeSpans(norm: UTF8String, startsArr: ArrayData, n: Int): InternalRow =
    if (norm == null) {
      // split(null) → null words: concat_ws gives '', sizes give null
      new GenericInternalRow(Array[Any](UTF8String.EMPTY_UTF8, null, null))
    } else {
      val bytes = norm.getBytes
      val wStarts = wordStarts(bytes)
      val words = wStarts.size()
      val k = if (startsArr == null) 0 else startsArr.numElements()
      val ss = new Array[Int](k)
      var i = 0
      while (i < k) { ss(i) = startsArr.getInt(i); i += 1 }
      java.util.Arrays.sort(ss)
      // coverage sweep: a word w is removed iff some start s has
      // s <= w < s + n
      val sb = new java.lang.StringBuilder(bytes.length)
      var kept = 0L
      var si = 0
      var coveredUntil = -1 // exclusive word index
      var w = 0
      while (w < words) {
        while (si < k && ss(si) <= w) {
          val end = ss(si) + n
          if (end > coveredUntil) coveredUntil = end
          si += 1
        }
        if (w >= coveredUntil) {
          val from = wStarts.get(w)
          val until =
            if (w + 1 == words) bytes.length else wStarts.get(w + 1) - 1
          if (kept > 0) sb.append(' ')
          sb.append(new String(bytes, from, until - from,
            java.nio.charset.StandardCharsets.UTF_8))
          kept += 1
        }
        w += 1
      }
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(sb.toString),
        words.toLong, words.toLong - kept))
    }

  // ----------------------------------------------------- winnowing (MOSS)

  /** Winnowed k-gram fingerprints (Schleimer/Wilkerson/Aiken winnowing):
    * hash every character k-gram, slide a w-gram window, keep each window's
    * minimum hash, dedupe. Shared-fingerprint counts between documents are
    * the classic local-similarity / plagiarism signal. Hashes are
    * md5-derived 60-bit values, so the DuckDB oracle reproduces them
    * exactly. Returns the distinct fingerprint set sorted ascending. */
  def winnowFingerprintsCol(normText: Column, k: Int, w: Int): Column =
    GraftColumnBridge.column(
      StaticInvoke(
        TextKernels.getClass, ArrayType(LongType, containsNull = false),
        "winnowFingerprints",
        Seq(GraftColumnBridge.expression(normText), Literal(k), Literal(w)),
        Seq(StringType, IntegerType, IntegerType),
        returnNullable = false))

  def winnowFingerprints(norm: UTF8String, k: Int, w: Int): ArrayData = {
    val s = norm.toString
    val n = s.length
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val ng = n - k + 1
    val md = java.security.MessageDigest.getInstance("MD5")
    val hs = new Array[Long](ng)
    var i = 0
    while (i < ng) {
      md.reset()
      val d = md.digest(
        s.substring(i, i + k).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 15 hex chars of the digest = 60 bits (same parse as
      // portableHash60 / the oracle's ('0x'||substr(md5(g),1,15))::BIGINT)
      var v = 0L
      var b = 0
      while (b < 7) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      v = (v << 4) | ((d(7) & 0xf0L) >>> 4)
      hs(i) = v
      i += 1
    }
    val out = new java.util.TreeSet[java.lang.Long]()
    if (ng <= w) {
      var m = hs(0); var p = 1
      while (p < ng) { if (hs(p) < m) m = hs(p); p += 1 }
      out.add(m)
    } else {
      // O(ng) sliding-window minima via monotonic deque
      val deque = new java.util.ArrayDeque[Int]()
      var j = 0
      while (j < ng) {
        while (!deque.isEmpty && hs(deque.peekLast) >= hs(j)) deque.pollLast()
        deque.addLast(j)
        if (deque.peekFirst <= j - w) deque.pollFirst()
        if (j >= w - 1) out.add(hs(deque.peekFirst))
        j += 1
      }
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator(); var o = 0
    while (it.hasNext) { arr(o) = it.next(); o += 1 }
    new GenericArrayData(arr)
  }

  // ------------------------------------------------------------- minhash

  /** The one shingle representation of the MinHash family: the word
    * n-grams of [[shingles]] (same edges — whole text, `""` included,
    * when shorter than n words), each reduced to ONE xxhash64 (seed 42,
    * Spark's `xxhash64` of the gram string) computed directly over the
    * normalized string's byte slice, returned sorted and distinct. Band
    * buckets and signatures read it ([[minhashBuckets]],
    * [[minhashSignature]]), and the exact Jaccard of two documents is a
    * linear merge of two of these arrays ([[sortedJaccard]]) — 8 bytes
    * per shingle through the verify joins instead of a UTF8String, and
    * no interpreted `array_intersect`/`array_union`. */
  def shingleHashesCol(normText: Column, n: Int): Column =
    GraftColumnBridge.column(
      StaticInvoke(
        TextKernels.getClass, ArrayType(LongType, containsNull = false),
        "shingleHashes",
        Seq(GraftColumnBridge.expression(normText), Literal(n)),
        Seq(StringType, IntegerType),
        returnNullable = false))

  def shingleHashes(norm: UTF8String, n: Int): ArrayData = {
    val bytes = norm.getBytes
    val starts = wordStarts(bytes)
    if (starts.size() < n)
      return UnsafeArrayData.fromPrimitiveArray(Array(sliceHash(bytes, 0, bytes.length)))
    val hs = windowHashes(bytes, starts, n)
    java.util.Arrays.sort(hs)
    var m = 1
    var i = 1
    while (i < hs.length) {
      if (hs(i) != hs(m - 1)) { hs(m) = hs(i); m += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (m == hs.length) hs else java.util.Arrays.copyOf(hs, m))
  }

  /** Exact Jaccard |a ∩ b| / |a ∪ b| of two sorted, distinct hash arrays
    * ([[shingleHashesCol]]) by one merge count — unrounded; the Dedup
    * operators round it to 6 digits. */
  def sortedJaccardCol(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      StaticInvoke(
        TextKernels.getClass, DoubleType, "sortedJaccard",
        Seq(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)),
        Seq(ArrayType(LongType), ArrayType(LongType)),
        returnNullable = false))

  def sortedJaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var both = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { both += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    both.toDouble / (na + nb - both)
  }

  /** MinHash band buckets in one pass over a [[shingleHashesCol]] array:
    * k cheap hashLong mixes per shingle hash; per band the row-minima fold
    * into a 64-bit bucket key. Output: array(bands) of bucket hashes —
    * feed to posexplode for the (band, bucket) LSH join. */
  def minhashBucketsCol(shingleHashes: Column, bands: Int, rows: Int): Column =
    GraftColumnBridge.column(
      StaticInvoke(
        TextKernels.getClass, ArrayType(LongType, containsNull = false),
        "minhashBuckets",
        Seq(GraftColumnBridge.expression(shingleHashes), Literal(bands), Literal(rows)),
        Seq(ArrayType(LongType), IntegerType, IntegerType),
        returnNullable = false))

  /** Raw k-position MinHash signature of a [[shingleHashesCol]] array
    * (storable; see [[minhashSignature]]). */
  def minhashSignatureCol(shingleHashes: Column, k: Int): Column =
    GraftColumnBridge.column(
      StaticInvoke(
        TextKernels.getClass, ArrayType(LongType, containsNull = false),
        "minhashSignature",
        Seq(GraftColumnBridge.expression(shingleHashes), Literal(k)),
        Seq(ArrayType(LongType), IntegerType),
        returnNullable = false))

  /** Band buckets from a stored signature (see [[sigBuckets]]). */
  def sigBucketsCol(sig: Column, bands: Int, rows: Int): Column =
    GraftColumnBridge.column(
      StaticInvoke(
        TextKernels.getClass, ArrayType(LongType, containsNull = false),
        "sigBuckets",
        Seq(GraftColumnBridge.expression(sig), Literal(bands), Literal(rows)),
        Seq(ArrayType(LongType), IntegerType, IntegerType),
        returnNullable = false))

  // ------------------------------------------------------ repetition stats

  val repetitionStatsType: StructType = StructType(Seq(
    StructField("words", IntegerType, nullable = false),
    StructField("uniq_words", IntegerType, nullable = false),
    StructField("max_word_freq", IntegerType, nullable = false),
    StructField("bigrams", IntegerType, nullable = false),
    StructField("uniq_bigrams", IntegerType, nullable = false),
    StructField("trigrams", IntegerType, nullable = false),
    StructField("uniq_trigrams", IntegerType, nullable = false),
    StructField("lines", IntegerType, nullable = false),
    StructField("uniq_lines", IntegerType, nullable = false)))

  /** Every repetition counter (duplicate words / n-grams / lines, top-word
    * frequency) in one pass — the Gopher-style repetition quality signals.
    * Word universe is the whitespace/case-normalized text (same norm as
    * [[TextOps.normalize]]); lines split the raw text on '\n'. */
  def repetitionStatsCol(text: Column): Column = GraftColumnBridge.column(
    StaticInvoke(
      TextKernels.getClass, repetitionStatsType, "repetitionStats",
      Seq(GraftColumnBridge.expression(text)), Seq(StringType),
      returnNullable = false))

  def repetitionStats(s: UTF8String): InternalRow = {
    val str = s.toString
    // normalized words: lowercase, whitespace-run-separated
    val words = new java.util.ArrayList[String]()
    var i = 0
    val len = str.length
    while (i < len) {
      while (i < len && isWs(str.charAt(i))) i += 1
      if (i < len) {
        val from = i
        while (i < len && !isWs(str.charAt(i))) i += 1
        words.add(str.substring(from, i).toLowerCase)
      }
    }
    val nw = words.size()
    val freq = new java.util.HashMap[String, Integer]()
    var maxFreq = 0
    i = 0
    while (i < nw) {
      val c = freq.merge(words.get(i), 1, (a, b) => a + b)
      if (c > maxFreq) maxFreq = c
      i += 1
    }
    def uniqNgrams(n: Int): Int = {
      if (nw < n) return 0
      val seen = new java.util.HashSet[String]()
      val sb = new java.lang.StringBuilder()
      var w = 0
      while (w + n <= nw) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(words.get(w + j)); j += 1
        }
        seen.add(sb.toString)
        w += 1
      }
      seen.size()
    }
    // lines of the raw text (blank lines count — they dedupe like any other)
    var lines = 1
    val uniqLines = new java.util.HashSet[String]()
    var from = 0
    i = 0
    while (i < len) {
      if (str.charAt(i) == '\n') {
        uniqLines.add(str.substring(from, i)); from = i + 1; lines += 1
      }
      i += 1
    }
    uniqLines.add(str.substring(from, len))
    if (len == 0) { lines = 0; uniqLines.clear() }
    InternalRow(
      nw, freq.size(), maxFreq,
      math.max(nw - 1, 0), uniqNgrams(2),
      math.max(nw - 2, 0), uniqNgrams(3),
      lines, uniqLines.size())
  }

  // ---------------------------------------------------- compression ratio

  val compressionStatsType: StructType = StructType(Seq(
    StructField("raw_bytes", IntegerType, nullable = false),
    StructField("deflate_bytes", IntegerType, nullable = false)))

  /** DEFLATE-compressibility counters: (UTF-8 byte length, deflated byte
    * length at level 6, raw stream — no zlib/gzip header). The ratio
    * deflate/raw is the classic corpus-quality signal the token-level
    * heuristics miss: near-zero on machine-repeated filler (which can
    * still pass stopword/punctuation gates) and ~1.0 on random bytes /
    * encoded blobs (which can still look "word-like"). Not reproducible in
    * ANSI SQL — verified by a differential ScalaTest spec against the same
    * JVM Deflater instead of a DuckDB oracle. */
  def compressionStatsCol(text: Column): Column = GraftColumnBridge.column(
    StaticInvoke(
      TextKernels.getClass, compressionStatsType, "compressionStats",
      Seq(GraftColumnBridge.expression(text)), Seq(StringType),
      returnNullable = false))

  // Deflater wraps native zlib state — construction is the expensive part,
  // so reuse one per task thread and reset() between rows.
  private val deflaters = new ThreadLocal[java.util.zip.Deflater] {
    override def initialValue(): java.util.zip.Deflater =
      new java.util.zip.Deflater(6, true)
  }

  def compressionStats(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    val d = deflaters.get()
    d.reset()
    d.setInput(bytes)
    d.finish()
    val buf = new Array[Byte](8192)
    var out = 0
    while (!d.finished()) out += d.deflate(buf)
    InternalRow(bytes.length, out)
  }

  def minhashBuckets(shingleHashes: ArrayData, bands: Int, rows: Int): ArrayData = {
    val buckets = foldBands(signatureMins(shingleHashes, bands * rows), bands, rows)
    new GenericArrayData(buckets)
  }

  /** The raw k-position MinHash signature (per-position minima) — the
    * STORED form of a document sketch: band buckets for any (bands, rows)
    * split derive from it via [[sigBuckets]] without re-reading text, and
    * the matching-position fraction of two signatures is the standard
    * unbiased Jaccard estimator. */
  def minhashSignature(shingleHashes: ArrayData, k: Int): ArrayData =
    new GenericArrayData(signatureMins(shingleHashes, k))

  /** Band-bucket keys from a stored signature — bit-identical to
    * [[minhashBuckets]] computed from text (the differential property the
    * spec pins), so signature-join candidates equal text-join candidates. */
  def sigBuckets(sig: ArrayData, bands: Int, rows: Int): ArrayData = {
    val k = bands * rows
    val mins = new Array[Long](k)
    var i = 0
    while (i < k) { mins(i) = sig.getLong(i); i += 1 }
    new GenericArrayData(foldBands(mins, bands, rows))
  }

  private def signatureMins(shingleHashes: ArrayData, k: Int): Array[Long] = {
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = shingleHashes.numElements()
    var i = 0
    while (i < n) {
      val base = shingleHashes.getLong(i)
      var p = 0
      while (p < k) {
        val v = XXH64.hashLong(base, p)
        if (v < mins(p)) mins(p) = v
        p += 1
      }
      i += 1
    }
    mins
  }

  private def foldBands(mins: Array[Long], bands: Int, rows: Int): Array[Long] = {
    val buckets = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 42L
      var r = 0
      while (r < rows) { h = XXH64.hashLong(mins(b * rows + r), h); r += 1 }
      buckets(b) = h
      b += 1
    }
    buckets
  }

  // ------------------------------------------------------------ BPE apply

  /** Apply a learned BPE merge table to single-space-normalized text —
    * the scan-speed deployment half of `graft.operators.Bpe`: per word,
    * repeatedly merge the LOWEST-RANK adjacent pair present (provably
    * identical to replaying the table in rank order — a merged symbol
    * can only participate in later-rank pairs — but O(wordLen²) per word
    * instead of O(ranks·wordLen), and crucially ONE expression node: the
    * plan-time fold unrolling of `Bpe.segmentCol` nests one `aggregate`
    * HOF per rank and stops being compilable around a few dozen ranks,
    * while a production table has thousands). The merge table rides in
    * as two literal string arrays; each executor thread parses it into a
    * rank map once (identity-cached). */
  def bpeSegmentCol(
      normText: Column, lefts: Seq[String], rights: Seq[String],
      sentinel: String): Column = GraftColumnBridge.column(
    StaticInvoke(
      TextKernels.getClass, ArrayType(StringType, containsNull = false),
      "bpeSegment",
      Seq(GraftColumnBridge.expression(normText),
        Literal.create(lefts, ArrayType(StringType, containsNull = false)),
        Literal.create(rights, ArrayType(StringType, containsNull = false)),
        Literal(sentinel)),
      Seq(StringType, ArrayType(StringType, containsNull = false),
        ArrayType(StringType, containsNull = false), StringType),
      returnNullable = false))

  /** Per-thread parse cache for the merge table: (identity of the lefts
    * literal, rank map "l r" → rank, lefts, rights). The literal
    * ArrayData instance is shared across rows of a partition, so each
    * thread parses once per table. */
  private val bpeTableCache =
    new ThreadLocal[(AnyRef, java.util.HashMap[String, Integer],
      Array[String], Array[String])]

  private def bpeTable(lefts: ArrayData, rights: ArrayData)
      : (java.util.HashMap[String, Integer], Array[String], Array[String]) = {
    val cached = bpeTableCache.get()
    if (cached != null && (cached._1 eq lefts)) (cached._2, cached._3, cached._4)
    else {
      val n = lefts.numElements()
      val ls = new Array[String](n)
      val rs = new Array[String](n)
      val ranks = new java.util.HashMap[String, Integer](n * 2)
      var i = 0
      while (i < n) {
        ls(i) = lefts.getUTF8String(i).toString
        rs(i) = rights.getUTF8String(i).toString
        // first (lowest) rank wins if a pair repeats
        ranks.putIfAbsent(ls(i) + " " + rs(i), Integer.valueOf(i))
        i += 1
      }
      bpeTableCache.set((lefts, ranks, ls, rs))
      (ranks, ls, rs)
    }
  }

  def bpeSegment(
      norm: UTF8String, lefts: ArrayData, rights: ArrayData,
      sentinel: UTF8String): ArrayData = {
    val (ranks, ls, rs) = bpeTable(lefts, rights)
    val sent = sentinel.toString
    val str = norm.toString
    val out = new java.util.ArrayList[Any]()
    var start = 0
    while (start <= str.length) {
      val sp = str.indexOf(' ', start)
      val end = if (sp < 0) str.length else sp
      if (end > start) segmentWord(str.substring(start, end), sent, ranks, ls, rs, out)
      start = end + 1
    }
    new GenericArrayData(out.toArray)
  }

  private def segmentWord(
      word: String, sentinel: String,
      ranks: java.util.HashMap[String, Integer],
      ls: Array[String], rs: Array[String],
      out: java.util.ArrayList[Any]): Unit = {
    // initial symbols: code points (matches split(word, "")) + sentinel
    val syms = new java.util.ArrayList[String](word.length + 1)
    var i = 0
    while (i < word.length) {
      val cc = Character.charCount(word.codePointAt(i))
      syms.add(word.substring(i, i + cc))
      i += cc
    }
    syms.add(sentinel)
    var continue = true
    while (continue && syms.size > 1) {
      // lowest-rank adjacent pair present
      var best = Int.MaxValue
      var j = 0
      while (j < syms.size - 1) {
        val r = ranks.get(syms.get(j) + " " + syms.get(j + 1))
        if (r != null && r.intValue() < best) best = r.intValue()
        j += 1
      }
      if (best == Int.MaxValue) continue = false
      else {
        // one greedy left-to-right pass of that pair (same as mergeOnce)
        val l = ls(best); val r = rs(best)
        val merged = new java.util.ArrayList[String](syms.size)
        var k = 0
        while (k < syms.size) {
          val x = syms.get(k)
          if (!merged.isEmpty && merged.get(merged.size - 1) == l && x == r)
            merged.set(merged.size - 1, l + r)
          else merged.add(x)
          k += 1
        }
        syms.clear(); syms.addAll(merged)
      }
    }
    var t = 0
    while (t < syms.size) { out.add(UTF8String.fromString(syms.get(t))); t += 1 }
  }

  // ------------------------------------------------------------ NFC

  def nfcCol(text: Column): Column = GraftColumnBridge.column(
    StaticInvoke(
      TextKernels.getClass, StringType, "nfc",
      Seq(GraftColumnBridge.expression(text)), Seq(StringType),
      returnNullable = false))

  /** Canonical-composition normalization (Unicode NFC) — conformance-
    * defined, so JDK output matches any other conformant engine's. */
  def nfc(t: UTF8String): UTF8String = {
    val s = t.toString
    // fast path: Normalizer.isNormalized is a cheap scan; ASCII and most
    // already-composed text skips the rebuild entirely
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) t
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  // ------------------------------------------------------------ byte proxy

  def byteProxyCol(text: Column): Column = GraftColumnBridge.column(
    StaticInvoke(
      TextKernels.getClass, StringType, "byteProxy",
      Seq(GraftColumnBridge.expression(text)), Seq(StringType),
      returnNullable = false))

  def byteUnproxyCol(text: Column): Column = GraftColumnBridge.column(
    StaticInvoke(
      TextKernels.getClass, StringType, "byteUnproxy",
      Seq(GraftColumnBridge.expression(text)), Seq(StringType),
      returnNullable = false))

  /** UTF-8 byte → one-char proxy bijection (byte-level BPE fallback):
    * space and printable ASCII map to themselves; every other byte maps
    * to U+E000+byte. The Private Use Area is deliberate — PUA code points
    * have no case mappings and are not whitespace, so `lower()` and
    * `\s+` in [[graft.operators.TextOps.normalize]] are identity on
    * proxied text (U+0100.. would get case-folded and corrupt the
    * bijection). One proxy char per byte, all BMP. */
  def byteProxy(t: UTF8String): UTF8String = {
    val bytes = t.getBytes
    val sb = new java.lang.StringBuilder(bytes.length)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xFF
      if (b == 0x20 || (b >= 0x21 && b <= 0x7E)) sb.append(b.toChar)
      else sb.append((0xE000 + b).toChar)
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** Inverse of [[byteProxy]]: proxy chars back to their bytes, decoded
    * as UTF-8. Input must be [[byteProxy]] output (or concatenated
    * pieces of it). */
  def byteUnproxy(t: UTF8String): UTF8String = {
    val s = t.toString
    val out = new java.io.ByteArrayOutputStream(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c >= 0xE000 && c <= 0xE0FF) out.write(c - 0xE000)
      else out.write(c.toInt)
      i += 1
    }
    UTF8String.fromBytes(out.toByteArray)
  }

  // ------------------------------------------------------------ wikitext

  def wikiStripCol(text: Column): Column = GraftColumnBridge.column(
    StaticInvoke(
      TextKernels.getClass, StringType, "wikiStrip",
      Seq(GraftColumnBridge.expression(text)), Seq(StringType),
      returnNullable = false))

  /** Wiki-markup STRUCTURAL strip — the nesting-aware half wikitext→text
    * needs that no RE2 regex can express (templates, tables and file
    * links nest): one char walk dropping `{{…}}` templates and `{|…|}`
    * tables (nested, unclosed swallows the tail — leaking template soup
    * would be worse, the `<script` contract), `<!--…-->` comments and
    * `<ref…>…</ref>`/`<ref…/>` citations; rewriting `[[target|label]]` →
    * label, `[[target]]` → target (File/Image/Category links drop whole,
    * including nested caption links), `[scheme://url label]` → label;
    * skipping `''…'''''` emphasis runs, line-leading `*#:;` list markers
    * and `----` rules, and `=` heading fences (line-leading runs, and
    * mid-line runs that close the line). Residual HTML tags/entities are
    * NOT handled here — compose with [[graft.operators.HtmlOps.extractText]]
    * (one extractor chain in the engine); labels re-enter the walk
    * (depth-capped) so markup inside link labels strips too. */
  def wikiStrip(t: UTF8String): UTF8String = {
    val s = t.toString
    val sb = new java.lang.StringBuilder(s.length)
    wikiWalk(s, 0, s.length, sb, 0)
    UTF8String.fromString(sb.toString)
  }

  private def wikiIndexOfIc(s: String, pat: String, from: Int): Int = {
    var i = from
    val last = s.length - pat.length
    while (i <= last) {
      if (s.regionMatches(true, i, pat, 0, pat.length)) return i
      i += 1
    }
    -1
  }

  /** Index after the matching closer of the 2-char `open` at `i`
    * (nesting-aware); `until` when unclosed. */
  private def wikiSkipPaired(
      s: String, i: Int, until: Int, open: String, close: String): Int = {
    var depth = 1
    var j = i + 2
    while (j + 1 < until) {
      if (s.regionMatches(j, open, 0, 2)) { depth += 1; j += 2 }
      else if (s.regionMatches(j, close, 0, 2)) {
        depth -= 1; j += 2
        if (depth == 0) return j
      } else j += 1
    }
    until
  }

  private def wikiWalk(
      s: String, from: Int, until: Int,
      sb: java.lang.StringBuilder, depth: Int): Unit = {
    @inline def atLineStart(i: Int): Boolean =
      i == 0 || s.charAt(i - 1) == '\n'
    var i = from
    while (i < until) {
      val c = s.charAt(i)
      if (c == '{' && i + 1 < until &&
          (s.charAt(i + 1) == '{' || s.charAt(i + 1) == '|')) {
        i =
          if (s.charAt(i + 1) == '{') wikiSkipPaired(s, i, until, "{{", "}}")
          else wikiSkipPaired(s, i, until, "{|", "|}")
      } else if (c == '<' && s.regionMatches(i, "<!--", 0, 4)) {
        val e = s.indexOf("-->", i + 4)
        i = if (e < 0 || e + 3 > until) until else e + 3
      } else if (c == '<' && s.regionMatches(true, i, "<ref", 0, 4) &&
          (i + 4 >= until || !Character.isLetterOrDigit(s.charAt(i + 4)))) {
        val gt = s.indexOf('>', i + 4)
        if (gt < 0 || gt >= until) i = until
        else if (s.charAt(gt - 1) == '/') i = gt + 1
        else {
          val e = wikiIndexOfIc(s, "</ref>", gt + 1)
          i = if (e < 0 || e + 6 > until) until else e + 6
        }
      } else if (c == '[' && i + 1 < until && s.charAt(i + 1) == '[') {
        val e = wikiSkipPaired(s, i, until, "[[", "]]")
        if (e >= until && !s.substring(i + 2, until).contains("]]")) {
          sb.append(c); i += 1 // unmatched [[ is literal text
        } else {
          val inner = s.substring(i + 2, math.max(i + 2, e - 2))
          val colon = inner.indexOf(':')
          val ns =
            if (colon > 0)
              inner.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT)
            else ""
          if (ns != "file" && ns != "image" && ns != "category") {
            val p = inner.lastIndexOf('|')
            val label = if (p >= 0) inner.substring(p + 1) else inner
            if (depth < 4) wikiWalk(label, 0, label.length, sb, depth + 1)
            else sb.append(label)
          }
          i = e
        }
      } else if (c == '[' && (s.regionMatches(true, i + 1, "http://", 0, 7) ||
          s.regionMatches(true, i + 1, "https://", 0, 8) ||
          s.regionMatches(true, i + 1, "ftp://", 0, 6) ||
          s.regionMatches(i + 1, "//", 0, 2))) {
        val e = s.indexOf(']', i + 1)
        if (e < 0 || e >= until) { sb.append(c); i += 1 }
        else {
          val inner = s.substring(i + 1, e)
          val sp = inner.indexOf(' ')
          if (sp >= 0) {
            val label = inner.substring(sp + 1)
            if (depth < 4) wikiWalk(label, 0, label.length, sb, depth + 1)
            else sb.append(label)
          }
          i = e + 1
        }
      } else if (c == '\'' && i + 1 < until && s.charAt(i + 1) == '\'') {
        var j = i
        while (j < until && s.charAt(j) == '\'') j += 1
        i = j // runs of 2+ apostrophes are emphasis fences
      } else if (c == '=' && atLineStart(i)) {
        var j = i
        while (j < until && s.charAt(j) == '=') j += 1
        while (j < until && s.charAt(j) == ' ') j += 1
        i = j
      } else if (c == '=') {
        // a mid-line '=' run closing the line is a heading fence
        var j = i
        while (j < until && s.charAt(j) == '=') j += 1
        var k = j
        while (k < until && s.charAt(k) == ' ') k += 1
        if (j - i >= 2 && (k >= until || s.charAt(k) == '\n')) i = k
        else { sb.append(c); i += 1 }
      } else if (atLineStart(i) && (c == '*' || c == '#' || c == ':' || c == ';')) {
        var j = i
        while (j < until && (s.charAt(j) == '*' || s.charAt(j) == '#' ||
            s.charAt(j) == ':' || s.charAt(j) == ';')) j += 1
        if (j < until && s.charAt(j) == ' ') j += 1
        i = j
      } else if (atLineStart(i) && c == '-' && s.regionMatches(i, "----", 0, 4)) {
        var j = i
        while (j < until && s.charAt(j) == '-') j += 1
        i = j
      } else {
        sb.append(c)
        i += 1
      }
    }
  }

  // ------------------------------------------------------------- latex

  def latexStripCol(text: Column): Column = GraftColumnBridge.column(
    StaticInvoke(
      TextKernels.getClass, StringType, "latexStrip",
      Seq(GraftColumnBridge.expression(text)), Seq(StringType),
      returnNullable = false))

  private val latexDropEnvs = Set(
    "equation", "equation*", "align", "align*", "eqnarray", "eqnarray*",
    "figure", "figure*", "table", "table*", "tabular", "tikzpicture",
    "verbatim", "lstlisting", "displaymath", "math", "gather", "gather*",
    "multline", "multline*", "thebibliography")
  private val latexDropCmds = Set(
    "cite", "citep", "citet", "ref", "eqref", "autoref", "label",
    "includegraphics", "usepackage", "documentclass", "bibliography",
    "bibliographystyle", "input", "include", "url", "vspace", "hspace",
    "pagestyle", "thispagestyle")
  private val latexLineCmds = Set(
    "section", "section*", "subsection", "subsection*", "subsubsection",
    "subsubsection*", "paragraph", "chapter", "chapter*", "title")

  /** LaTeX structural strip (arXiv-source corpora) — scope pinned:
    * `%` comments to EOL (`\%` literal survives); inline/display math
    * (`$…$`, `$$…$$`, `\(...\)`, `\[...\]`) DROPS — math tokens are
    * noise to a text LM and unrenderable without TeX; `\begin{env}…
    * \end{env}` drops whole for math/float/verbatim envs, marker-only
    * for text envs; sectioning commands emit their argument as its own
    * line; `\href{url}{text}` keeps text; reference/label/preamble
    * commands drop with one argument; UNKNOWN commands drop their name
    * and `[...]` options but keep braced content (most are formatting —
    * `\textbf{x}` → x via the grouping-brace rule); `\\` is a line
    * break, `~` a space, `\%`/`\&`/`\_`/`\$`/`\#`/`\{`/`\}` their
    * literal characters. Compose with
    * [[graft.operators.HtmlOps.normalizeWs]] for final whitespace/line
    * shape. */
  def latexStrip(t: UTF8String): UTF8String = {
    val s = t.toString
    val sb = new java.lang.StringBuilder(s.length)
    latexWalk(s, 0, s.length, sb, 0)
    UTF8String.fromString(sb.toString)
  }

  /** (contentStart, contentEnd, afterClose) of the balanced `{…}` group
    * at `i`, nesting-aware with `\X` atoms; None when `i` is not at a
    * brace or the group never closes. */
  private def latexBraceGroup(
      s: String, i: Int, until: Int): Option[(Int, Int, Int)] = {
    if (i >= until || s.charAt(i) != '{') return None
    var depth = 1
    var j = i + 1
    while (j < until) {
      s.charAt(j) match {
        case '\\' => j += 2
        case '{' => depth += 1; j += 1
        case '}' =>
          depth -= 1
          if (depth == 0) return Some((i + 1, j, j + 1))
          j += 1
        case _ => j += 1
      }
    }
    None
  }

  private def latexWalk(
      s: String, from: Int, until: Int,
      sb: java.lang.StringBuilder, depth: Int): Unit = {
    var i = from
    while (i < until) {
      val c = s.charAt(i)
      if (c == '%') {
        while (i < until && s.charAt(i) != '\n') i += 1
      } else if (c == '$') {
        // $$…$$ or $…$: drop the math content
        val dbl = i + 1 < until && s.charAt(i + 1) == '$'
        var j = i + (if (dbl) 2 else 1)
        var e = -1
        while (e < 0 && j < until) {
          s.charAt(j) match {
            case '\\' => j += 2
            case '$' =>
              if (!dbl) e = j + 1
              else if (j + 1 < until && s.charAt(j + 1) == '$') e = j + 2
              else j += 1
            case _ => j += 1
          }
        }
        i = if (e < 0) until else e // unclosed math swallows the tail
      } else if (c == '\\' && i + 1 < until) {
        val nx = s.charAt(i + 1)
        if (nx == '\\') { sb.append('\n'); i += 2 }
        else if (nx == '[') {
          val e = s.indexOf("\\]", i + 2)
          i = if (e < 0 || e + 2 > until) until else e + 2
        } else if (nx == '(') {
          val e = s.indexOf("\\)", i + 2)
          i = if (e < 0 || e + 2 > until) until else e + 2
        } else if ("%&_$#{}".indexOf(nx) >= 0) { sb.append(nx); i += 2 }
        else if (Character.isLetter(nx)) {
          var j = i + 1
          while (j < until && Character.isLetter(s.charAt(j))) j += 1
          var name = s.substring(i + 1, j)
          if (j < until && s.charAt(j) == '*') { name += "*"; j += 1 }
          // optional [...] groups
          def skipOpts(k0: Int): Int = {
            var k = k0
            while (k < until && s.charAt(k) == '[') {
              while (k < until && s.charAt(k) != ']') k += 1
              if (k < until) k += 1
            }
            k
          }
          if (name == "begin" || name == "end") {
            latexBraceGroup(s, j, until) match {
              case Some((es, ee, after)) =>
                val env = s.substring(es, ee)
                if (name == "begin" && latexDropEnvs.contains(env)) {
                  val close = s.indexOf(s"\\end{$env}", after)
                  i = if (close < 0) until
                  else math.min(until, close + 6 + env.length)
                } else i = after // text env: markers vanish
              case None => i = j
            }
            if (name == "end") sb.append('\n') // env close ends its line
          } else if (name == "item") {
            sb.append('\n'); i = skipOpts(j)
          } else if (name == "href") {
            latexBraceGroup(s, j, until) match {
              case Some((_, _, afterUrl)) =>
                latexBraceGroup(s, afterUrl, until) match {
                  case Some((ts, te, after)) =>
                    if (depth < 6)
                      latexWalk(s, ts, te, sb, depth + 1)
                    i = after
                  case None => i = afterUrl
                }
              case None => i = j
            }
          } else if (latexLineCmds.contains(name)) {
            val k = skipOpts(j)
            latexBraceGroup(s, k, until) match {
              case Some((ts, te, after)) =>
                sb.append('\n')
                if (depth < 6) latexWalk(s, ts, te, sb, depth + 1)
                sb.append('\n')
                i = after
              case None => i = k
            }
          } else if (latexDropCmds.contains(name)) {
            val k = skipOpts(j)
            i = latexBraceGroup(s, k, until).map(_._3).getOrElse(k)
          } else {
            // unknown command: name and options drop; braced content
            // survives via the grouping-brace rule below
            i = skipOpts(j)
          }
        } else i += 2 // \<symbol>: drop (accents, spacing)
      } else if (c == '{' || c == '}') i += 1
      else if (c == '~') { sb.append(' '); i += 1 }
      else { sb.append(c); i += 1 }
    }
  }

  // ------------------------------------------------------------ WARC split

  def warcSplitCol(content: Column): Column = GraftColumnBridge.column(
    StaticInvoke(
      TextKernels.getClass, ArrayType(StringType, containsNull = false),
      "warcSplit",
      Seq(GraftColumnBridge.expression(content)), Seq(StringType),
      returnNullable = false))

  private val warcClRe =
    java.util.regex.Pattern.compile("(?im)^content-length:[ \\t]*(\\d+)")

  /** Content-Length-aware WARC record splitting: each element is one full
    * record block (header lines + blank line + exactly Content-Length
    * payload BYTES). Splitting on the blank-line separator alone is wrong —
    * a payload may embed `\r\n\r\n` or even a fake `WARC/1.0` header; the
    * spec's framing is the byte count, so the walk reads the header up to
    * the first `\r\n\r\n`, takes Content-Length bytes of payload, then
    * skips the inter-record CRLFs. A record with no Content-Length header
    * or a truncated payload yields what is available and ends the walk
    * (malformed tail never invents records). One pass over the file bytes,
    * inside whole-stage codegen. */
  def warcSplit(content: UTF8String): ArrayData = {
    val bytes = content.getBytes
    val n = bytes.length
    val out = new java.util.ArrayList[Any]()
    var i = 0
    while (i < n) {
      // header ends at the first \r\n\r\n
      var he = -1
      var j = i
      while (he < 0 && j + 3 < n) {
        if (bytes(j) == '\r' && bytes(j + 1) == '\n' &&
            bytes(j + 2) == '\r' && bytes(j + 3) == '\n') he = j
        j += 1
      }
      if (he < 0) {
        // incomplete header: emit the tail as-is so nothing is silently lost
        out.add(UTF8String.fromBytes(bytes, i, n - i))
        i = n
      } else {
        val header = new String(bytes, i, he - i,
          java.nio.charset.StandardCharsets.UTF_8)
        val m = warcClRe.matcher(header)
        if (!m.find()) { // unframed record: payload is everything remaining
          out.add(UTF8String.fromBytes(bytes, i, n - i))
          i = n
        } else {
          val cl = java.lang.Long.parseLong(m.group(1))
          val payloadStart = he + 4L
          val payloadEnd = math.min(n.toLong, payloadStart + cl).toInt
          out.add(UTF8String.fromBytes(bytes, i, payloadEnd - i))
          i = payloadEnd
          while (i + 1 < n && bytes(i) == '\r' && bytes(i + 1) == '\n') i += 2
        }
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** (code-point entropy, word entropy) of single-space-normalized text
    * in bits — the gibberish/low-information signals a quality gate
    * reads: natural language sits near 4–4.5 bits/char; base64 blobs and
    * keyboard mashing run higher, template boilerplate lower. One
    * per-row pass; distinct-symbol iteration is SORTED so the fold is
    * bit-deterministic run-over-run. */
  def entropyStatsCol(normText: Column): Column = GraftColumnBridge.column(
    StaticInvoke(
      TextKernels.getClass, ArrayType(DoubleType, containsNull = false),
      "entropyStats",
      Seq(GraftColumnBridge.expression(normText)), Seq(StringType),
      returnNullable = false))

  private def sortedEntropy(m: java.util.HashMap[_, Long], n: Long): Double =
    if (n <= 0) 0.0
    else {
      val counts = new Array[Long](m.size())
      val it = m.values().iterator()
      var i = 0
      while (it.hasNext) { counts(i) = it.next(); i += 1 }
      java.util.Arrays.sort(counts)
      var h = 0.0
      var j = 0
      while (j < counts.length) {
        val p = counts(j).toDouble / n
        h -= p * (math.log(p) / math.log(2.0))
        j += 1
      }
      h
    }

  def entropyStats(norm: UTF8String): ArrayData = {
    val s = norm.toString
    val cc = new java.util.HashMap[Integer, Long]()
    var i = 0
    var n = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      cc.merge(cp, 1L, (a, b) => a + b)
      n += 1
    }
    val wc = new java.util.HashMap[String, Long]()
    var wn = 0L
    if (s.nonEmpty) {
      val words = s.split(" ", -1)
      var w = 0
      while (w < words.length) {
        wc.merge(words(w), 1L, (a, b) => a + b); wn += 1
        w += 1
      }
    }
    new GenericArrayData(Array(sortedEntropy(cc, n), sortedEntropy(wc, wn)))
  }

  // ----------------------------------------------------- unigram tokenize

  /** Viterbi-segment every word of single-space-normalized text under a
    * unigram piece model (SentencePiece decode rule: the segmentation
    * maximizing Σ log p(piece)) — the scan-speed deployment half of
    * `graft.operators.Unigram`. The piece table rides in as two literal
    * arrays; each executor thread parses it into a hash map once
    * (identity-cached, same discipline as the BPE table). Characters
    * absent from the table fall back to `unkLogp` as single-char pieces,
    * so every input segments. Ties break toward the LONGER final piece
    * (fewer pieces overall), deterministically. */
  def unigramSegmentCol(
      normText: Column, pieces: Seq[String], logps: Seq[Double],
      unkLogp: Double): Column = GraftColumnBridge.column(
    StaticInvoke(
      TextKernels.getClass, ArrayType(StringType, containsNull = false),
      "unigramSegment",
      Seq(GraftColumnBridge.expression(normText),
        Literal.create(pieces, ArrayType(StringType, containsNull = false)),
        Literal.create(logps, ArrayType(DoubleType, containsNull = false)),
        Literal(unkLogp)),
      Seq(StringType, ArrayType(StringType, containsNull = false),
        ArrayType(DoubleType, containsNull = false), DoubleType),
      returnNullable = false))

  private val uniTableCache =
    new ThreadLocal[(AnyRef, java.util.HashMap[String, java.lang.Double], Int)]

  private def uniTable(pieces: ArrayData, logps: ArrayData)
      : (java.util.HashMap[String, java.lang.Double], Int) = {
    val cached = uniTableCache.get()
    if (cached != null && (cached._1 eq pieces)) (cached._2, cached._3)
    else {
      val n = pieces.numElements()
      val m = new java.util.HashMap[String, java.lang.Double](n * 2)
      var maxLen = 1
      var i = 0
      while (i < n) {
        val p = pieces.getUTF8String(i).toString
        m.put(p, logps.getDouble(i))
        if (p.length > maxLen) maxLen = p.length
        i += 1
      }
      uniTableCache.set((pieces, m, maxLen))
      (m, maxLen)
    }
  }

  def unigramSegment(norm: UTF8String, pieces: ArrayData, logps: ArrayData,
      unkLogp: Double): ArrayData = {
    val (map, maxLen) = uniTable(pieces, logps)
    val out = new java.util.ArrayList[Any]()
    val s = norm.toString
    var ws = 0
    while (ws <= s.length) {
      var we = s.indexOf(' ', ws)
      if (we < 0) we = s.length
      if (we > ws) {
        val word = s.substring(ws, we)
        // DP over CODE POINTS (char offsets per position), so the
        // single-char unk fallback consumes a whole code point — a
        // UTF-16 walk would split an unseen supplementary character
        // into two lone-surrogate "pieces". A piece of N chars spans
        // ≤ N code points, so maxLen (chars) bounds the window safely.
        val off = new Array[Int](word.length + 1) // upper bound; one pass
        var ci = 0
        var cpCount = 0
        while (ci < word.length) {
          off(cpCount) = ci
          ci += Character.charCount(word.codePointAt(ci)); cpCount += 1
        }
        off(cpCount) = word.length
        val L = cpCount
        val best = new Array[Double](L + 1)
        val back = new Array[Int](L + 1)
        var j = 1
        while (j <= L) {
          best(j) = Double.NegativeInfinity
          var l = 1
          val lMax = math.min(maxLen, j)
          while (l <= lMax) {
            val lp0 = map.get(word.substring(off(j - l), off(j)))
            val lp = if (lp0 != null) lp0.doubleValue()
                     else if (l == 1) unkLogp
                     else Double.NegativeInfinity
            val sc = best(j - l) + lp
            // strictly better, or equal score with a longer final piece
            if (sc > best(j) || (sc == best(j) && l > back(j))) {
              best(j) = sc; back(j) = l
            }
            l += 1
          }
          j += 1
        }
        // reconstruct (pieces come out reversed, then flipped in place)
        val first = out.size()
        var at = L
        while (at > 0) {
          out.add(UTF8String.fromString(
            word.substring(off(at - back(at)), off(at))))
          at -= back(at)
        }
        var lo = first
        var hi = out.size() - 1
        while (lo < hi) {
          val t = out.get(lo); out.set(lo, out.get(hi)); out.set(hi, t)
          lo += 1; hi -= 1
        }
      }
      ws = we + 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Collapse runs of consecutively repeated word n-grams in
    * single-space-normalized text: any run of the same n-gram (n =
    * 1..maxN, smaller n collapsed first so "a a a a" never survives as
    * an "a a" phrase run) keeps its first `keep` copies. The
    * LM-generated-spam cleanup ("click here click here click here …")
    * — one per-row pass, no shuffle, inside whole-stage codegen. */
  def collapseRunsCol(normText: Column, maxN: Int, keep: Int): Column =
    GraftColumnBridge.column(StaticInvoke(
      TextKernels.getClass, StringType, "collapseRuns",
      Seq(GraftColumnBridge.expression(normText), Literal(maxN),
        Literal(keep)),
      Seq(StringType, IntegerType, IntegerType),
      returnNullable = false))

  def collapseRuns(norm: UTF8String, maxN: Int, keep: Int): UTF8String = {
    var words = norm.toString.split(" ", -1)
    var n = 1
    while (n <= maxN) {
      if (words.length >= n * 2) {
        val out = new java.util.ArrayList[String]()
        var i = 0
        def blockEq(a: Int, b: Int): Boolean = {
          var t = 0
          var eq = true
          while (eq && t < n) {
            eq = words(a + t) == words(b + t); t += 1
          }
          eq
        }
        while (i < words.length) {
          if (i + 2 * n <= words.length && blockEq(i, i + n)) {
            // run of the block starting at i: count repeats
            var r = 1
            while (i + (r + 1) * n <= words.length && blockEq(i, i + r * n))
              r += 1
            val emit = math.min(r, keep)
            var e = 0
            while (e < emit * n) { out.add(words(i + e)); e += 1 }
            i += r * n
          } else {
            out.add(words(i)); i += 1
          }
        }
        words = out.toArray(new Array[String](out.size()))
      }
      n += 1
    }
    UTF8String.fromString(words.mkString(" "))
  }

  // ------------------------------------------------- simhash / hashed counts

  /** 64-bit SimHash of single-space-normalized text in ONE compiled pass —
    * the kernel twin of the `TextOps.simHash` HOF reference (which folds a
    * 64-element `zip_with` per token, interpreted: never whole-stage-
    * codegen'd, O(words x 64) boxed array rebuilds). Token universe is
    * `split(norm, " ")` with Java `split` limit -1 semantics (an empty
    * normalized text contributes ONE empty token, exactly like the
    * reference); per token the hash is Spark's `xxhash64` (seed 42) or the
    * md5-derived 60-bit `portableHash60`, bit i contributes +1 when set
    * else -1, and the signature sets bit i when its count is >= 0. The
    * spec suite pins kernel == HOF on both hash paths. */
  def simHash64Col(normText: Column, portable: Boolean): Column =
    GraftColumnBridge.column(
      StaticInvoke(
        TextKernels.getClass, LongType, "simHash64",
        Seq(GraftColumnBridge.expression(normText), Literal(portable)),
        Seq(StringType, BooleanType),
        returnNullable = false))

  def simHash64(norm: UTF8String, portable: Boolean): Long = {
    val bytes = norm.getBytes
    val counts = new Array[Int](64)
    val md =
      if (portable) java.security.MessageDigest.getInstance("MD5") else null
    var start = 0
    var done = false
    while (!done) {
      var end = start
      while (end < bytes.length && bytes(end) != ' ') end += 1
      // token = bytes[start, end): hash exactly like the Column paths
      val h =
        if (portable) {
          md.reset()
          md.update(bytes, start, end - start)
          val d = md.digest()
          // first 15 hex chars = 60 bits (portableHash60 parity)
          var v = 0L
          var b = 0
          while (b < 7) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
          (v << 4) | ((d(7) & 0xf0L) >>> 4)
        } else XXH64.hashUnsafeBytes(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + start,
          end - start, 42L)
      var i = 0
      while (i < 64) {
        counts(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1)
        i += 1
      }
      if (end >= bytes.length) done = true else start = end + 1
    }
    var sig = 0L
    var i = 0
    while (i < 64) { if (counts(i) >= 0) sig |= (1L << i); i += 1 }
    sig
  }

  /** Hashed n-gram count vector in ONE compiled pass — the kernel twin of
    * the `TextOps.hashedNgramFeatures` HOF fold (which rebuilds a
    * `dim`-element array per gram, interpreted: O(grams x dim)). Grams are
    * [[ngrams]] of the normalized text (non-distinct, document order; fewer
    * than n words -> all-zero vector); per gram the bucket is
    * pmod(portableHash60, dim) or pmod(xxhash64 seed 42, dim). The spec
    * suite pins kernel == HOF on both hash paths. */
  def hashedCountsCol(normText: Column, dim: Int, n: Int,
      portable: Boolean): Column =
    GraftColumnBridge.column(
      StaticInvoke(
        TextKernels.getClass, ArrayType(IntegerType, containsNull = false),
        "hashedCounts",
        Seq(GraftColumnBridge.expression(normText), Literal(dim), Literal(n),
          Literal(portable)),
        Seq(StringType, IntegerType, IntegerType, BooleanType),
        returnNullable = false))

  def hashedCounts(norm: UTF8String, dim: Int, n: Int,
      portable: Boolean): ArrayData = {
    val counts = new Array[Int](dim)
    val bytes = norm.getBytes
    // word start offsets (byte positions; space is single-byte in UTF-8)
    val starts = new java.util.ArrayList[Integer]()
    starts.add(0)
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') starts.add(i + 1)
      i += 1
    }
    val words = starts.size()
    if (words >= n) {
      val md =
        if (portable) java.security.MessageDigest.getInstance("MD5") else null
      var w = 0
      while (w + n <= words) {
        val from = starts.get(w)
        val until = if (w + n == words) bytes.length else starts.get(w + n) - 1
        val b =
          if (portable) {
            md.reset()
            md.update(bytes, from, until - from)
            val d = md.digest()
            var v = 0L
            var p = 0
            while (p < 7) { v = (v << 8) | (d(p) & 0xffL); p += 1 }
            v = (v << 4) | ((d(7) & 0xf0L) >>> 4)
            (v % dim).toInt // 60-bit value is non-negative: % == pmod
          } else {
            val h = XXH64.hashUnsafeBytes(bytes,
              org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from,
              until - from, 42L)
            val m = (h % dim).toInt
            if (m < 0) m + dim else m // pmod semantics for signed xxhash64
          }
        counts(b) += 1
        w += 1
      }
    }
    new GenericArrayData(counts)
  }

  // ------------------------------------------------------------ DSIR kernels

  /** Hashed uni+bigram bucket ids of single-space-normalized text in ONE
    * compiled pass — the kernel twin of the DSIR featurizer's HOF form
    * (`transform(filter(concat(ngrams(1), ngrams(2)), len>0), md5-bucket)`),
    * which materializes two gram arrays, a concat, a filter and a
    * UTF8String per gram before hashing. Order contract (pinned): all
    * unigrams in document order, then all bigrams in document order —
    * identical to the Column concat. Empty grams (empty normalized text)
    * are skipped, like the reference's length filter. */
  def dsirGramBucketsCol(normText: Column, buckets: Int,
      portable: Boolean): Column =
    GraftColumnBridge.column(
      StaticInvoke(
        TextKernels.getClass, ArrayType(IntegerType, containsNull = false),
        "dsirGramBuckets",
        Seq(GraftColumnBridge.expression(normText), Literal(buckets),
          Literal(portable)),
        Seq(StringType, IntegerType, BooleanType),
        returnNullable = false))

  private def dsirBucketsOf(bytes: Array[Byte], buckets: Int,
      portable: Boolean): Array[Int] = {
    // word start offsets (byte positions; space is single-byte in UTF-8)
    val starts = new java.util.ArrayList[Integer]()
    starts.add(0)
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') starts.add(i + 1)
      i += 1
    }
    val words = starts.size()
    val md =
      if (portable) java.security.MessageDigest.getInstance("MD5") else null
    def bucketOf(from: Int, until: Int): Int =
      if (portable) {
        md.reset()
        md.update(bytes, from, until - from)
        val d = md.digest()
        var v = 0L
        var p = 0
        while (p < 7) { v = (v << 8) | (d(p) & 0xffL); p += 1 }
        v = (v << 4) | ((d(7) & 0xf0L) >>> 4)
        (v % buckets).toInt // 60-bit non-negative: % == pmod
      } else {
        val h = XXH64.hashUnsafeBytes(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from,
          until - from, 42L)
        val m = (h % buckets).toInt
        if (m < 0) m + buckets else m
      }
    val uni = words
    val bi = if (words >= 2) words - 1 else 0
    val out = new java.util.ArrayList[Integer](uni + bi)
    // unigrams in document order (skip empty grams, like the len>0 filter)
    var w = 0
    while (w < words) {
      val from = starts.get(w)
      val until = if (w + 1 == words) bytes.length else starts.get(w + 1) - 1
      if (until > from) out.add(bucketOf(from, until))
      w += 1
    }
    // then bigrams in document order
    w = 0
    while (w + 2 <= words) {
      val from = starts.get(w)
      val until = if (w + 2 == words) bytes.length else starts.get(w + 2) - 1
      if (until > from) out.add(bucketOf(from, until))
      w += 1
    }
    val arr = new Array[Int](out.size())
    var j = 0
    while (j < arr.length) { arr(j) = out.get(j); j += 1 }
    arr
  }

  def dsirGramBuckets(norm: UTF8String, buckets: Int,
      portable: Boolean): ArrayData = {
    val arr = dsirBucketsOf(norm.getBytes, buckets, portable)
    val out = new Array[Any](arr.length)
    var i = 0
    while (i < arr.length) { out(i) = arr(i); i += 1 }
    new GenericArrayData(out)
  }

  /** Fused DSIR scorer: (n_grams, Σ λ(bucket)) of one document in one
    * compiled pass — the kernel twin of
    * `aggregate(gramBuckets, 0.0, (acc, b) => acc + element_at(lam, b+1))`
    * over [[dsirGramBucketsCol]]. The summation order is the gram order
    * (unigrams then bigrams, document order), so the double result is
    * bit-identical to the HOF fold. λ rides in as one plan literal. */
  val dsirScoreType: StructType = StructType(Seq(
    StructField("n_grams", IntegerType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  def dsirScoreCol(normText: Column, lam: Seq[Double], buckets: Int,
      portable: Boolean): Column =
    GraftColumnBridge.column(
      StaticInvoke(
        TextKernels.getClass, dsirScoreType, "dsirScore",
        Seq(GraftColumnBridge.expression(normText),
          Literal.create(lam, ArrayType(DoubleType, containsNull = false)),
          Literal(buckets), Literal(portable)),
        Seq(StringType, ArrayType(DoubleType, containsNull = false),
          IntegerType, BooleanType),
        returnNullable = false))

  def dsirScore(norm: UTF8String, lam: ArrayData, buckets: Int,
      portable: Boolean): InternalRow = {
    val bs = dsirBucketsOf(norm.getBytes, buckets, portable)
    var acc = 0.0
    var i = 0
    while (i < bs.length) { acc += lam.getDouble(bs(i)); i += 1 }
    new GenericInternalRow(Array[Any](bs.length, acc))
  }
}
