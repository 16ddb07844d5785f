package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Pins the single-pass kernels to the regex formulation they replaced —
  * the DuckDB oracles assume the two are bit-identical, so any divergence
  * on edge shapes (empty, whitespace-only, CJK, punctuation-heavy, mixed
  * scripts) is a correctness bug, not a style difference. */
class TextKernelsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val edgeCases = Seq(
    "",
    " ",
    "   \t\n  ",
    "a",
    "the",
    "the the the and of it",
    "word",
    "hello, world! the-quick_brown fox99 jumps.",
    "你好世界 中文 测试",
    "mixed 中文 and english the of",
    "punct!!! ??? ... ;;; :::",
    "  leading and trailing  ",
    "der die das und ist nicht mit le la les",
    "el los las es en que por",
    "a b c d e f g h i j k l m n o p q r s t u v w x y z",
    "supercalifragilisticexpialidocious",
    "UPPER CASE THE AND OF IT",
    "tabs\tand\nnewlines\rthe end")

  test("textStats kernel matches the per-signal regex formulation") {
    val df = edgeCases.toDF("text")
    val t = col("text")
    val words = when(length(trim(t)) === 0, lit(0)).otherwise(size(split(trim(t), "\\s+")))
    val regexSide = df.select(
      t.as("text"),
      words.as("tc"),
      length(t).as("n"),
      length(regexp_replace(t, "[^\\p{Punct}]", "")).as("npunct"),
      length(regexp_replace(t, "[^A-Za-z]", "")).as("nalpha"),
      length(regexp_replace(t, "\\s+", "")).as("nws"),
      regexp_count(lower(t), lit("\\b(the|and|of|to|is|in|that|it)\\b")).as("nstop"),
      regexp_count(concat(lit(" "), lower(t), lit(" ")),
        lit(" (the|and|is|of|to|that|with) ")).as("en"),
      regexp_count(concat(lit(" "), lower(t), lit(" ")),
        lit(" (der|die|das|und|ist|nicht|mit) ")).as("de"),
      regexp_count(concat(lit(" "), lower(t), lit(" ")),
        lit(" (le|la|les|et|est|dans|pour) ")).as("fr"),
      regexp_count(concat(lit(" "), lower(t), lit(" ")),
        lit(" (el|los|las|es|en|que|por) ")).as("es"),
      length(regexp_replace(t, "[^\\x{4e00}-\\x{9fff}]", "")).as("zh")
    ).collect().map(r => r.getString(0) ->
      (1 until 12).map(i => r.getAs[Number](i).intValue()).toList).toMap

    val kernelSide = df.select(t.as("text"), TextKernels.textStatsCol(t).as("st"))
      .select(col("text"), col("st.*"))
      .collect().map(r => r.getString(0) ->
        (1 until 12).map(i => r.getAs[Number](i).intValue()).toList).toMap

    edgeCases.foreach { s =>
      // kernel field order: token_count n npunct nalpha nws nstop en de fr es zh
      // regex field order:  tc          n npunct nalpha nws nstop en de fr es zh
      assert(kernelSide(s) == regexSide(s),
        s"mismatch for '${s.take(40)}': kernel=${kernelSide(s)} regex=${regexSide(s)}")
    }
  }

  test("shingles kernel matches the transform/slice/array_join formulation") {
    val df = edgeCases.toDF("text")
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    val wordsArr = split(norm, " ")
    val k = size(wordsArr) - lit(2)
    val legacy = df.select(col("text"),
      when(k <= 0, array(norm)).otherwise(
        array_distinct(transform(sequence(lit(0), k - 1),
          i => array_join(slice(wordsArr, i + 1, lit(3)), " ")))).as("sh"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    val kernel = df.select(col("text"),
      TextKernels.shinglesCol(norm, 3).as("sh"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    edgeCases.foreach { s =>
      assert(kernel(s) == legacy(s), s"shingles mismatch for '${s.take(40)}'")
    }
  }

  test("repetitionStats kernel matches a naive reimplementation on edges and random text") {
    def naive(text: String): (Int, Int, Int, Int, Int, Int, Int, Int, Int) = {
      val words = text.split("\\s+").filter(_.nonEmpty).map(_.toLowerCase).toSeq
      def grams(n: Int): Seq[String] =
        if (words.size < n) Nil else words.sliding(n).map(_.mkString(" ")).toSeq
      val (bg, tg) = (grams(2), grams(3))
      val lines = if (text.isEmpty) Nil else text.split("\n", -1).toSeq
      (words.size, words.distinct.size,
        if (words.isEmpty) 0 else words.groupBy(identity).values.map(_.size).max,
        bg.size, bg.distinct.size, tg.size, tg.distinct.size,
        lines.size, lines.distinct.size)
    }
    val rnd = new scala.util.Random(42)
    val vocab = Seq("the", "fox", "a", "b", "run", "中文")
    val random = (0 until 200).map { _ =>
      (0 until rnd.nextInt(30)).map { _ =>
        if (rnd.nextInt(5) == 0) "\n" else vocab(rnd.nextInt(vocab.size)) + " "
      }.mkString
    }
    (edgeCases ++ random).foreach { text =>
      val r = Seq(text).toDF("t")
        .select(TextKernels.repetitionStatsCol(org.apache.spark.sql.functions.col("t")))
        .head().getStruct(0)
      val got = (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
        r.getInt(5), r.getInt(6), r.getInt(7), r.getInt(8))
      assert(got == naive(text), s"text=${text.take(60).replace("\n", "\\n")}")
    }
  }

  test("winnow fingerprints on degenerate inputs") {
    val out = Seq("", "short", "exactly8", "a bit longer text")
      .toDF("text")
      .select(col("text"), TextKernels.winnowFingerprintsCol(col("text"), 8, 16).as("fp"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).size).toMap
    assert(out("") == 0)        // no 8-gram
    assert(out("short") == 0)   // shorter than k
    assert(out("exactly8") == 1) // one gram, one window
    assert(out("a bit longer text") >= 1)
  }

  test("compressionStats matches a direct Deflater run on edge and random text") {
    // no DuckDB analog for deflate sizes — the oracle for this kernel is
    // the same JVM zlib the kernel wraps, run independently driver-side
    val rnd = new scala.util.Random(7)
    val cases = edgeCases ++ Seq(
      "ab" * 5000,                                   // machine filler → tiny ratio
      rnd.alphanumeric.take(10000).mkString,          // high-entropy → ratio near 1
      Seq.fill(500)(rnd.nextInt(20)).mkString(" "))   // mid-entropy numerals
    def deflateLen(s: String): Int = {
      val d = new java.util.zip.Deflater(6, true)
      try {
        val in = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        d.setInput(in); d.finish()
        val buf = new Array[Byte](8192)
        var out = 0
        while (!d.finished()) out += d.deflate(buf)
        out
      } finally d.end()
    }
    val got = cases.toDF("text")
      .select(col("text"), TextKernels.compressionStatsCol(col("text")).as("cs"))
      .select(col("text"), col("cs.raw_bytes"), col("cs.deflate_bytes"))
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
    cases.foreach { s =>
      val utf8 = s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
      assert(got(s) == ((utf8, deflateLen(s))), s"mismatch on ${s.take(40)}")
    }
  }

  test("url_encode/url_decode round-trip through the dialect registry") {
    val out = graft.GraftEngine.sql(
      "SELECT url_decode(url_encode(s)) AS rt, url_encode(s) AS enc FROM stream",
      Seq("a b&c=d/e?f").toDF("s"))
      .collect().head
    assert(out.getString(0) == "a b&c=d/e?f")
    assert(!out.getString(1).contains(" "))
  }

  test("spanHashes kernels match xxhash64 over the string n-gram kernels") {
    // the r15 fused window hashing must equal hashing the materialized
    // gram strings with Spark's own xxhash64 (same XXH64 seed-42 entry
    // point over the UTF-8 bytes) — positional and distinct variants
    val norm = graft.operators.TextOps.normalize(col("text"))
    val df = (edgeCases :+ null).toDF("text")
    for (n <- Seq(1, 2, 4, 50)) {
      val rows = df.select(
        TextKernels.spanHashesCol(norm, n).as("k"),
        transform(TextKernels.ngramsCol(norm, n), g => xxhash64(g)).as("r"),
        TextKernels.spanHashesDistinctCol(norm, n).as("kd"),
        transform(filter(TextKernels.shinglesCol(norm, n),
          g => length(g) > 0), g => xxhash64(g)).as("rd")).collect()
      rows.foreach { r =>
        assert(r.isNullAt(0) == r.isNullAt(1), s"null mismatch at n=$n")
        if (!r.isNullAt(0)) assert(r.getSeq[Long](0) == r.getSeq[Long](1),
          s"positional hashes diverge at n=$n")
        assert(r.isNullAt(2) == r.isNullAt(3), s"null mismatch (distinct) n=$n")
        if (!r.isNullAt(2)) assert(r.getSeq[Long](2) == r.getSeq[Long](3),
          s"distinct hashes diverge at n=$n")
      }
    }
  }

  test("shingleHashes is the sorted distinct xxhash64 of the string shingles") {
    // every MinHash operator reads this array, so it must equal hashing
    // the materialized shingle strings with Spark's own xxhash64 (seed 42
    // over the UTF-8 bytes) — empty and short texts keep their single
    // whole-text element, null stays null
    val norm = graft.operators.TextOps.normalize(col("text"))
    val df = (edgeCases :+ null).toDF("text")
    for (n <- Seq(1, 2, 3, 50)) {
      val rows = df.select(
        TextKernels.shingleHashesCol(norm, n).as("k"),
        array_sort(array_distinct(transform(TextKernels.shinglesCol(norm, n),
          g => xxhash64(g)))).as("r")).collect()
      rows.foreach { r =>
        assert(r.isNullAt(0) == r.isNullAt(1), s"null mismatch at n=$n")
        if (!r.isNullAt(0)) assert(r.getSeq[Long](0) == r.getSeq[Long](1),
          s"shingle hashes diverge at n=$n")
      }
    }
  }

  test("removeSpans kernel matches the filter×exists Column formulation") {
    // overlapping, unsorted, duplicate, out-of-range and empty removal
    // sets; null and empty text
    val cases = Seq(
      ("a b c d e f g h", Seq(0)),
      ("a b c d e f g h", Seq(2, 1)),          // unsorted, overlapping
      ("a b c d e f g h", Seq(0, 0, 5)),       // duplicates
      ("a b c d e f g h", Seq(6)),             // tail clipped by n
      ("a b c d e f g h", Seq.empty[Int]),
      ("a b c d e f g h", Seq(0, 1, 2, 3, 4, 5, 6, 7)), // empties out
      ("one", Seq(0)),
      ("", Seq.empty[Int]),
      (null.asInstanceOf[String], Seq.empty[Int]))
    for (n <- Seq(1, 3)) {
      val df = cases.toDF("text", "starts")
        .withColumn("starts", col("starts").cast("array<int>"))
      val norm = graft.operators.TextOps.normalize(col("text"))
      val words = split(norm, " ")
      val kept = filter(words, (_, i) =>
        !exists(col("starts"), s => s <= i && i < s + n))
      val rows = df.select(
        TextKernels.removeSpansCol(norm, col("starts"), n).as("k"),
        struct(
          concat_ws(" ", kept).as("clean_text"),
          size(words).cast("long").as("n_words"),
          (size(words) - size(kept)).cast("long").as("n_removed")).as("r"))
        .collect()
      rows.foreach { r =>
        val k = r.getStruct(0); val ref = r.getStruct(1)
        assert(k.getString(0) == ref.getString(0), s"clean_text diverges n=$n")
        assert(k.isNullAt(1) == ref.isNullAt(1) &&
          (k.isNullAt(1) || k.getLong(1) == ref.getLong(1)), s"n_words n=$n")
        assert(k.isNullAt(2) == ref.isNullAt(2) &&
          (k.isNullAt(2) || k.getLong(2) == ref.getLong(2)), s"n_removed n=$n")
      }
    }
  }
}
