package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkTestBase, Tables}

/** Bounded-memory sketch semantics: Space-Saving heavy hitters and HLL
  * per-group distinct counts on the sf0.001 fixtures plus adversarial
  * synthetic streams. */
class SketchesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  lazy val docs = Tables.load(spark, "/root/testdata/sf0.001")("documents")

  private def tokens = docs
    .select(explode(split(TextOps.normalize(col("text")), " ")).as("token"))
    .filter(length(col("token")) > 0)

  test("heavy hitters are exact (err=0) when capacity covers the key space") {
    val exact = tokens.groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(20)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val hh = Sketches.heavyHitters(tokens.toDF(), col("token"), k = 20,
        capacity = 100000)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(hh.map(e => (e._1, e._2)).toSeq == exact.toSeq)
    assert(hh.forall(_._3 == 0L), "no evictions -> zero error")
  }

  test("heavy hitters under eviction keep the frequency guarantees") {
    // 10 heavy keys (1000 occurrences each) + 5000 singleton keys, shuffled
    // across partitions; capacity 64 << 5010 distinct keys
    val heavy = (0 until 10).flatMap(h => Seq.fill(1000)(s"hot_$h"))
    val noise = (0 until 5000).map(i => s"cold_$i")
    val data = scala.util.Random.shuffle(heavy ++ noise)
    val df = spark.sparkContext.parallelize(data, 8).toDF("k")
    val truth = data.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val n = data.size.toLong

    val got = Sketches.heavyHitters(df, col("k"), k = 20, capacity = 64)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // per-entry bound: est - err <= true <= est
    got.foreach { case (k, est, err) =>
      val t = truth(k)
      assert(t <= est, s"$k: true $t > est $est")
      assert(est - err <= t, s"$k: est-err ${est - err} > true $t")
    }
    // frequent-items guarantee: every key with true count > n/capacity of
    // any single summary is present; after merges the bound loosens, but
    // the 1000-count hot keys tower over n/64 ≈ 234 and must all surface
    val keys = got.map(_._1).toSet
    (0 until 10).foreach(h => assert(keys.contains(s"hot_$h"), s"hot_$h missing"))
  }

  test("weighted heavy hitters rank by total weight, not row count") {
    val df = Seq(("a", 1L), ("a", 1L), ("b", 100L), ("c", 5L))
      .toDF("k", "w")
    val got = Sketches.heavyHitters(df, col("k"), k = 3, capacity = 16,
        weight = col("w"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("b", 100L), ("c", 5L), ("a", 2L)))
  }

  test("per-group heavy hitters are exact per group at sufficient capacity") {
    val df = Seq(
      ("en", "x"), ("en", "x"), ("en", "y"),
      ("de", "y"), ("de", "z"), ("de", "z"), ("de", "z")).toDF("lang", "tok")
    val got = Sketches.heavyHittersPerGroup(df, Seq(col("lang")), col("tok"),
        k = 1, capacity = 16)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSet == Set(("en", "x", 2L), ("de", "z", 3L)))
  }

  test("signature band buckets are bit-identical to text-side banding") {
    // the property that makes stored sketches trustworthy: candidates from
    // a (doc_id, sig) table EQUAL candidates from re-shingled text (the
    // shingle-hash banding minHashPairs runs)
    val fromText = docs.select(col("doc_id"),
        graft.functions.TextKernels.minhashBucketsCol(
          TextOps.shingleHashes(col("text"), 3), 16, 4).as("b"))
    val fromSig = Dedup.minHashSignatures(docs)
      .select(col("doc_id"),
        graft.functions.TextKernels.sigBucketsCol(col("sig"), 16, 4).as("b"))
    val joined = fromText.alias("t").join(fromSig.alias("s"), "doc_id")
      .filter(col("t.b") =!= col("s.b"))
    assert(joined.count() == 0)
  }

  test("signature pairs match text pairs at threshold 0 and estimate Jaccard closely") {
    // threshold 0 -> both outputs are exactly the candidate set (identical
    // banding), so the pair id sets must be equal; on those pairs the
    // signature estimate must track exact Jaccard within estimator noise
    val exact = Dedup.minHashPairs(docs, threshold = 0.0)
    val sigs = Dedup.minHashSignatures(docs)
    val est = Dedup.minHashPairsFromSignatures(sigs, threshold = 0.0)
    val e = exact.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val s = est.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(e.keySet == s.keySet, s"pair sets differ: ${e.keySet.size} vs ${s.keySet.size}")
    // k=64 positions -> std err ~0.06; 0.3 is a catastrophic-only guard on
    // every pair, and planted near-dups (exact J >= 0.7) must estimate high
    e.foreach { case (k, j) =>
      assert(math.abs(j - s(k)) < 0.3, s"$k: exact $j vs est ${s(k)}")
    }
    val hi = e.filter(_._2 >= 0.9).keys
    hi.foreach(k => assert(s(k) >= 0.6, s"$k: high-J pair estimated ${s(k)}"))
    exact.unpersist(); est.unpersist()
  }

  test("incremental signature pairing finds planted cross-side near-dups without text") {
    // corpus = originals, new batch = the same docs re-idded (exact dups):
    // every new doc must pair with its original at estimate 1.0
    val corpus = Dedup.minHashSignatures(docs)
    val newBatch = Dedup.minHashSignatures(
      docs.withColumn("doc_id", col("doc_id") + 1000000L))
    val pairs = Dedup.minHashPairsAgainstSignatures(newBatch, corpus, threshold = 0.9)
      .collect().map(r => (r.getLong(0) - 1000000L, r.getLong(1), r.getDouble(2)))
    val selfPairs = pairs.filter(p => p._1 == p._2)
    assert(selfPairs.length == docs.count(), "every doc must match its re-idded copy")
    assert(selfPairs.forall(_._3 == 1.0))
  }

  test("SimHash pairs from stored signatures equal the text-side pairs") {
    val fromText = Dedup.simHashPairs(docs, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sigs = Dedup.simHashSignatures(docs)
    val fromSig = Dedup.simHashPairsFromSignatures(sigs, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(fromText == fromSig)
  }

  test("SimHash cross-side pairs from signatures match brute-force Hamming") {
    val all = Dedup.simHashSignatures(docs).cache()
    val corpus = all.filter(col("doc_id") < 250)
    val batch = all.filter(col("doc_id") >= 250)
    val got = Dedup.simHashPairsAgainstSignatures(batch, corpus, maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sigs = all.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exp = (for {
      (b, sb) <- sigs; if b >= 250
      (c, sc) <- sigs; if c < 250
      d = java.lang.Long.bitCount(sb ^ sc); if d <= 10
    } yield (b, c, d)).toSet
    assert(got == exp) // pigeonhole banding is full-recall; no false pairs
    all.unpersist()
  }

  test("heavy hitters aggregate across streaming micro-batches (complete mode)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val agg = Sketches.heavyHittersAgg(capacity = 64)
    val out = mem.toDF().toDF("k")
      .agg(agg(col("k"), lit(1L)).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.key"), col("e.est"))
    val q = out.writeStream.format("memory").queryName("hh_stream")
      .outputMode("complete").start()
    mem.addData(Seq.fill(5)("a") ++ Seq("b"): _*)
    q.processAllAvailable()
    mem.addData(Seq.fill(3)("a") ++ Seq.fill(4)("c"): _*)
    q.processAllAvailable()
    SparkTestBase.stopQuietly(q)
    val got = spark.table("hh_stream").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // counts accumulate across both micro-batches
    assert(got == Map("a" -> 8L, "c" -> 4L, "b" -> 1L))
  }

  test("per-group HLL distinct counts land within 5% and the total merges sketches") {
    val df = (0 until 3000).map(i => (s"src${i % 3}", s"v${i % 701}"))
      .toDF("source", "v")
    val got = Sketches.distinctByGroup(df, col("source"), col("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    // each source sees all 701 distinct values; so does the union
    (0 until 3).foreach { s =>
      val est = got(s"src$s")
      assert(math.abs(est - 701.0) / 701.0 < 0.05, s"src$s: $est")
    }
    val total = got("__total__")
    assert(math.abs(total - 701.0) / 701.0 < 0.05, s"total: $total")
    got.values // 4 rows: 3 groups + total
    assert(got.size == 4)
  }

  test("countMin: estimates dominate truth, exact at ample width, shards add") {
    val data = (1 to 500).map(i => s"k${i % 37}").toDF("k")
    val truth = data.groupBy("k").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val keys = data.select("k").distinct()
    // narrow sketch: collisions possible, estimate must never undercount
    val estNarrow = Sketches.countMinQuery(
      Sketches.countMin(data, col("k"), depth = 4, width = 16),
      keys, col("k"), depth = 4, width = 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    truth.foreach { case (k, t) =>
      assert(estNarrow(k) >= t, s"$k: est ${estNarrow(k)} < true $t") }
    // ample width: no collisions among 37 keys in 4x1024 cells → exact
    val estWide = Sketches.countMinQuery(
      Sketches.countMin(data, col("k"), depth = 4, width = 1024),
      keys, col("k"), depth = 4, width = 1024)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(estWide == truth)
    // mergeability: shard sketches SUM into the whole-corpus sketch
    val (a, b) = (data.limit(200), data.exceptAll(data.limit(200)))
    val merged = Sketches.countMin(a, col("k"), 4, 64)
      .unionAll(Sketches.countMin(b, col("k"), 4, 64))
      .groupBy("row", "bucket").agg(sum("cnt").as("cnt"))
    val whole = Sketches.countMin(data, col("k"), 4, 64)
    assert(merged.exceptAll(whole).count() == 0 &&
      whole.exceptAll(merged).count() == 0)
  }

  test("simHash kernel equals the HOF fold reference on both hash paths") {
    // edge rows exercise the token-universe contract: empty text is ONE
    // empty token, single word, multi-word, unicode
    val edge = Seq((9001L, ""), (9002L, "word"), (9003L, "a b a b a"),
      (9004L, "f\u00fcr \u4e2d\u6587 caf\u00e9")).toDF("doc_id", "text")
    val all = docs.select(col("doc_id"), col("text")).unionByName(edge)
    val both = all.select(
      TextOps.simHashFast(col("text"), portable = false).as("k_xx"),
      TextOps.simHash(col("text")).as("h_xx"),
      TextOps.simHashFast(col("text"), portable = true).as("k_md5"),
      TextOps.simHash(col("text"), TextOps.portableHash60).as("h_md5"))
    val bad = both.filter(col("k_xx") =!= col("h_xx") ||
      col("k_md5") =!= col("h_md5"))
    assert(bad.isEmpty, bad.collect().mkString("\n"))
  }

  test("hashedCounts kernel equals the HOF fold reference on both hash paths") {
    import org.apache.spark.sql.Column
    def foldRef(text: Column, dim: Int, n: Int, portable: Boolean): Column = {
      val grams = graft.functions.TextKernels.ngramsCol(
        TextOps.normalize(text), n)
      val bucketOf: Column => Column =
        if (portable) g => pmod(TextOps.portableHash60(g), lit(dim)).cast("int")
        else g => pmod(xxhash64(g), lit(dim.toLong)).cast("int")
      val buckets = transform(grams, bucketOf)
      aggregate(buckets, array_repeat(lit(0), lit(dim)),
        (acc, b) => transform(acc, (v, i) => when(i === b, v + 1).otherwise(v)))
    }
    val edge = Seq((9001L, ""), (9002L, "one"), (9003L, "one two"),
      (9004L, "x y z x y")).toDF("doc_id", "text")
    val all = docs.select(col("doc_id"), col("text")).unionByName(edge)
    for (n <- Seq(1, 2); portable <- Seq(true, false)) {
      val got = all.select(
        TextOps.hashedNgramFeatures(col("text"), dim = 16, n = n,
          portable = portable).as("k"),
        foldRef(col("text"), 16, n, portable).as("h"))
      val bad = got.filter(not(col("k") <=> col("h")))
      assert(bad.isEmpty, s"n=$n portable=$portable: " +
        bad.collect().take(3).mkString("\n"))
    }
  }
}
