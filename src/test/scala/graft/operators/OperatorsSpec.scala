package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkTestBase, Tables}

/** LLM-pipeline operator semantics on the sf0.001 fixtures. */
class OperatorsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  lazy val tables = Tables.load(spark, "/root/testdata/sf0.001")
  lazy val docs = tables("documents")
  lazy val emb = tables("embeddings")

  test("text analysis columns are populated and bounded") {
    val a = TextOps.analyze(docs).cache()
    assert(a.count() == docs.count())
    assert(a.filter(col("token_count") <= 0).count() == 0)
    assert(a.filter(col("punct_ratio") < 0 || col("punct_ratio") > 1).count() == 0)
    assert(a.filter(col("quality") < 0 || col("quality") > 1).count() == 0)
    assert(a.filter(!col("lang_pred").isin("en", "de", "fr", "es", "zh", "ru", "ar", "ko", "ja", "hi", "und")).count() == 0)
  }

  test("LSH hot-bucket caps bound candidate fanout") {
    // maxBucket=1 drops every bucket that could produce a pair — the
    // candidate set (and so the output) must collapse to empty, while the
    // default cap leaves the planted near-dups intact (oracle-pinned)
    val r = Dedup.minHashPairs(docs, threshold = 0.7, maxBucket = 1)
    assert(r.count() == 0)
    r.unpersist()
    val s = Dedup.simHashPairs(docs, maxDist = 10, maxBucket = 1)
    assert(s.count() == 0)
    s.unpersist()
    assert(Dedup.winnowPairs(docs, minShared = 1, maxDf = 1).count() == 0)
  }

  test("hash sampling is deterministic, consistent across rates, and splits are disjoint") {
    val n = docs.count()
    val s30 = Sampling.byHash(docs, col("doc_id"), 0.3)
    // deterministic: identical membership on re-evaluation
    assert(s30.select("doc_id").collect().toSet == s30.select("doc_id").collect().toSet)
    // monotone: the 30% sample is a subset of the 60% sample (same hash axis)
    val ids30 = s30.select("doc_id").as[Long].collect().toSet
    val ids60 = Sampling.byHash(docs, col("doc_id"), 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(ids30.subsetOf(ids60))
    assert(math.abs(ids30.size.toDouble / n - 0.3) < 0.15) // rough rate
    // split: labels partition the corpus, no overlap, full coverage at Σw=1
    val sp = Sampling.split(docs, col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(sp.filter(col("split").isNull).count() == 0)
    assert(sp.count() == n)
    // perGroup caps every group at k
    val pg = Sampling.perGroup(docs, col("source"), col("doc_id"), 3)
    assert(pg.groupBy("source").count().filter(col("count") > 3).count() == 0)
  }

  test("langId classifies real-language samples correctly") {
    // the testdata `lang` labels are synthetic (all texts are English-ish
    // word soup), so assert on real samples instead
    val samples = Seq(
      ("the cat and the dog went to the house of the king", "en"),
      ("der hund und die katze sind nicht mit dem mann", "de"),
      ("le chat est dans la maison et les enfants pour toujours", "fr"),
      ("el perro es grande y los gatos en la casa que por ahora", "es"),
      ("今天天气很好我们一起去公园散步吧", "zh"),
      ("сегодня хорошая погода и мы идем гулять в парк", "ru"),
      ("الطقس جميل اليوم ونحن ذاهبون الى الحديقة", "ar"),
      ("오늘 날씨가 좋아서 우리는 공원에 갑니다", "ko"),
      ("今日はいい天気なのでこうえんへさんぽに行きましょう", "ja"), // kanji + kana → ja
      ("आज मौसम अच्छा है और हम पार्क जा रहे हैं", "hi"),
      ("", "und")
    ).toDF("text", "expected")
    val bad = samples.withColumn("got", TextOps.langId(col("text")))
      .filter(col("got") =!= col("expected")).collect()
    assert(bad.isEmpty, bad.mkString(", "))
  }

  test("exact dedup is idempotent and keeps lowest ids") {
    val d1 = Dedup.exact(docs)
    val d2 = Dedup.exact(d1)
    assert(d1.count() == d2.count())
    // duplicated content collapses: append a copy with higher ids
    val dup = docs.union(docs.withColumn("doc_id", col("doc_id") + 10000))
    val ded = Dedup.exact(dup)
    assert(ded.count() == docs.count())
    assert(ded.filter(col("doc_id") >= 10000).count() == 0)
  }

  test("minhash LSH finds planted near-duplicates") {
    // plant a near-dup: drop the last 2 words of doc 0
    val base = docs.select("doc_id", "text")
    val nearDup = base.filter(col("doc_id") === 0)
      .withColumn("doc_id", lit(90000L))
      .withColumn("text",
        array_join(slice(split(col("text"), " "), lit(1),
          size(split(col("text"), " ")) - 2), " "))
    val corpus = base.union(nearDup)
    val pairs = Dedup.minHashPairs(corpus, threshold = 0.7).collect()
    assert(pairs.exists(r => r.getLong(0) == 0L && r.getLong(1) == 90000L),
      s"planted pair missing: ${pairs.mkString(", ")}")
  }

  test("connected components label chains and cliques with the min id") {
    // chain 1-2-3-4 (diameter forces >1 propagation round), triangle
    // 10-11-12, isolated pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    // driver union-find path (small graphs)...
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == expect)
    // ...and the distributed label-propagation path agree exactly
    val ccDist = Dedup.connectedComponents(pairs, localThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ccDist == expect)
    // canonical keep: min-id member of each cluster + untouched docs
    val docs = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L, 21L, 99L).toDF("doc_id")
    val kept = Dedup.keepCanonical(docs, pairs).collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 10L, 20L, 99L))
  }

  /** The labels (with their column types), the keepCanonical set and the
    * componentStats histogram of `pairs`, on the driver union-find path
    * and then on the distributed path. */
  private def onBothPaths(pairs: org.apache.spark.sql.DataFrame,
      docs: org.apache.spark.sql.DataFrame) = Seq(1000000L, 0L).map { t =>
    val cc = Dedup.connectedComponents(pairs, localThreshold = t)
    (cc.schema.map(_.dataType), cc.collect().map(r => r.get(0) -> r.get(1)).toSet,
      Dedup.keepCanonical(docs, pairs, localThreshold = t).collect().map(_.get(0)).toSet,
      Dedup.componentStats(pairs, localThreshold = t).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet)
  }

  test("components drop null-endpoint pairs on both paths") {
    // a null id names no document: its pairs link nothing, so 1's and 3's
    // clusters stay apart and no null row is labelled
    val pairs = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (2L, null),
      (null, 3L), (3L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    val docs = (1L to 6L).toDF("doc_id")
    val Seq(local, dist) = onBothPaths(pairs, docs)
    assert(local == dist)
    val (_, labels, kept, stats) = local
    assert(labels == Set(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L, 6L -> 5L))
    assert(kept == Set(1L, 3L, 5L))
    assert(stats == Set(2L -> 3L))
  }

  test("components label String ids by Spark's ordering on both paths") {
    // "｡" (U+FF61) sorts below "😀" (U+1F600) by UTF-8 bytes, as Spark's
    // min and ORDER BY compare strings, but above it by UTF-16 units
    val pairs = Seq(("｡", "😀"), ("b", "a"), ("a", "c"), ("y", "x"))
      .toDF("doc_a", "doc_b")
    val docs = Seq("｡", "😀", "a", "b", "c", "x", "y", "z").toDF("doc_id")
    val Seq(local, dist) = onBothPaths(pairs, docs)
    assert(local == dist)
    val (types, labels, kept, _) = local
    assert(types == Seq.fill(2)(pairs.schema("doc_a").dataType))
    assert(labels == Set("｡" -> "｡", "😀" -> "｡", "a" -> "a", "b" -> "a",
      "c" -> "a", "x" -> "x", "y" -> "x"))
    assert(kept == Set("｡", "a", "x", "z"))
  }

  test("components keep Int ids Int on both paths") {
    val pairs = Seq((3, 2), (2, 1), (10, 11), (-5, 10)).toDF("doc_a", "doc_b")
    val docs = Seq(1, 2, 3, 10, 11, -5, 7).toDF("doc_id")
    val Seq(local, dist) = onBothPaths(pairs, docs)
    assert(local == dist)
    val (types, labels, kept, _) = local
    assert(types == Seq.fill(2)(pairs.schema("doc_a").dataType))
    assert(labels == Set(1 -> 1, 2 -> 1, 3 -> 1, -5 -> -5, 10 -> -5, 11 -> -5))
    assert(kept == Set(1, -5, 7))
  }

  test("distributed components warn when maxIter cuts them short") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("dedup-warn", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) warned.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val name = "graft.operators.Dedup"
    Configurator.setLevel(name, Level.WARN)
    val logger = LogManager.getLogger(name).asInstanceOf[Logger]
    logger.addAppender(app)
    try {
      // the chain 1-2-...-8 needs 8 rounds: 20 converge, 2 do not
      val chain = (1L until 8L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      Dedup.connectedComponents(chain, maxIter = 20, localThreshold = 0L).collect()
      assert(warned.isEmpty, warned)
      Dedup.connectedComponents(chain, maxIter = 2, localThreshold = 0L).collect()
      assert(warned.size == 1 && warned.peek.contains("maxIter = 2 rounds"), warned)
    } finally {
      logger.removeAppender(app)
      Configurator.setLevel(name, LogManager.getRootLogger.getLevel)
    }
  }

  test("keepBest keeps the highest-score member per cluster, ties to lowest id") {
    // cluster {1,2,3}: 2 has top score; cluster {10,11}: tie -> keep 10;
    // 99 untouched
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val d = Seq((1L, 5.0), (2L, 9.0), (3L, 7.0), (10L, 4.0), (11L, 4.0), (99L, 0.1))
      .toDF("doc_id", "score")
    val kept = Dedup.keepBest(d, pairs, col("score"))
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(2L, 10L, 99L))
    // distributed CC path agrees
    val keptDist = Dedup.keepBest(d, pairs, col("score"), localThreshold = 0L)
      .collect().map(_.getLong(0)).sorted
    assert(keptDist.toSeq == Seq(2L, 10L, 99L))
  }

  test("vocab returns top-k tokens by count with document frequency") {
    val d = Seq(
      (1L, "alpha beta alpha"),
      (2L, "alpha  gamma"),
      (3L, "Beta beta")
    ).toDF("doc_id", "text")
    val v = TextOps.vocab(d, k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // alpha: cnt 3 df 2; beta: cnt 3 df 2 (case-normalized) — tie broken
    // alphabetically, gamma (cnt 1) misses the top-2
    assert(v.toSeq == Seq(("alpha", 3L, 2L), ("beta", 3L, 2L)))
  }

  test("asof join carries the latest preceding right row per key") {
    val l = Seq((1L, "k1", 10L), (2L, "k1", 20L), (3L, "k2", 10L))
      .toDF("id", "k", "t")
    val r = Seq(("k1", 5L, "a"), ("k1", 15L, "b"), ("k1", 20L, "c"), ("k2", 30L, "z"))
      .toDF("k", "t", "v")
    val out = Joins.asof(l, r, Seq("k"), "t", "t", Seq("v"))
      .collect().map(x => x.getLong(0) -> Option(x.getString(3))).toMap
    // 10 → "a" (5 ≤ 10 < 15); 20 → "c" (equal ts matches); k2 has no
    // preceding right row → null
    assert(out == Map(1L -> Some("a"), 2L -> Some("c"), 3L -> None))
    // left rows and values pass through untouched
    assert(Joins.asof(l, r, Seq("k"), "t", "t", Seq("v")).count() == l.count())
    intercept[IllegalArgumentException] {
      Joins.asof(l, r.withColumnRenamed("v", "t2"), Seq("k"), "t", "t", Seq("t"))
    }
  }

  test("writeShards lays out one ordered file per shard directory") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString
    try {
      Packing.writeShards(docs, dir, shards = 4)
      val back = spark.read.parquet(dir)
      assert(back.count() == docs.count())
      (0 until 4).foreach { s =>
        val files = new java.io.File(s"$dir/shard=$s")
          .listFiles().filter(_.getName.endsWith(".parquet"))
        assert(files.length == 1, s"shard $s has ${files.length} files")
        // file order IS shard_pos order (dense from 0)
        val pos = spark.read.parquet(files(0).getPath)
          .select("shard_pos").collect().map(_.getLong(0))
        assert(pos.toSeq == pos.indices.map(_.toLong))
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("sessionize tags events with gap-delimited session indexes per key") {
    val e = Seq(
      (1L, "u1", 100L), (2L, "u1", 150L),   // session 1 (gap 50 <= 100)
      (3L, "u1", 400L),                     // session 2 (gap 250 > 100)
      (4L, "u1", 450L),                     // still session 2
      (5L, "u2", 100L)                      // separate key → session 1
    ).toDF("event_id", "user", "t")
    val got = Events.sessionize(e, Seq("user"), "t", gap = 100L, tiebreak = "event_id")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L))
  }

  test("range join matches points to intervals exactly once across buckets") {
    val l = Seq((1L, "k", 5L), (2L, "k", 25L), (3L, "k", 99L), (4L, "q", 5L))
      .toDF("id", "g", "p")
    // interval [0, 30] spans four buckets at width 10 — row 1 and 2 must
    // each match exactly once; [40, 50] matches nothing; q-side keyed off
    val r = Seq(("k", 0L, 30L, "A"), ("k", 40L, 50L, "B"), ("q", 0L, 10L, "C"))
      .toDF("g", "s", "e", "tag")
    val out = Joins.range(l, r, Seq("g"), "p", "s", "e", bucketWidth = 10L)
      .select("id", "tag").collect().map(x => (x.getLong(0), x.getString(1)))
    assert(out.sorted.toSeq == Seq((1L, "A"), (2L, "A"), (4L, "C")))
  }

  test("vocabNgrams counts every bigram occurrence with document frequency") {
    val d = Seq(
      (1L, "a b a b"),     // "a b" twice, "b a" once
      (2L, "a b"),         // "a b" once
      (3L, "solo")         // too short for a bigram
    ).toDF("doc_id", "text")
    val v = TextOps.vocabNgrams(d, n = 2, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(v.toSeq == Seq(("a b", 3L, 2L), ("b a", 1L, 1L)))
    // n=1 degenerates to vocab's counting
    val uni = TextOps.vocabNgrams(d, n = 1, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(uni == Map("a" -> 3L, "b" -> 3L, "solo" -> 1L))
  }

  test("curate with forced-distributed CC (ccLocalThreshold=0) matches the driver path") {
    // same corpus, same parameters — only the connected-components
    // execution path differs; the kept id set must be identical
    val base = Curation.curate(docs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val dist = Curation.curate(docs, ccLocalThreshold = 0L).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(base == dist)
    assert(base.nonEmpty, "curation should keep at least one fixture doc")
    // keepCanonical plumbs the same params
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val ids = Seq(1L, 2L, 3L, 9L).toDF("doc_id")
    val kept = Dedup.keepCanonical(ids, pairs, localThreshold = 0L)
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 9L))
  }

  /** The RDDs still persisted after `body`, of those it added. Compared
    * by id: the ContextCleaner may reap earlier tests' blocks meanwhile,
    * so only what `body` adds and keeps counts. */
  private def persistedBy(body: => Unit): Map[Int, String] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    body
    (sc.getPersistentRDDs.toMap -- before).map { case (id, r) => id -> r.toDebugString }
  }

  test("a distributed-path curate leaves no persisted RDD behind once consumed") {
    val left = persistedBy {
      val kept = Curation.curate(docs, ccLocalThreshold = 0L).select("doc_id").collect()
      assert(kept.nonEmpty)
    }
    assert(left.isEmpty, left)
  }

  test("the ingest keep operators leave no persisted RDD behind once consumed") {
    val batch = docs.select("doc_id", "text")
    val corpus = batch.filter(col("doc_id") % 2 === 0)
    val corpusSigs = Dedup.minHashSignatures(corpus)
    for (threshold <- Seq(0L, 1000000L)) {
      val left = persistedBy {
        Dedup.keepNewAgainstSignatures(batch, corpusSigs, ccLocalThreshold = threshold)
          .collect()
      }
      assert(left.isEmpty, s"ccLocalThreshold=$threshold: $left")
    }
    val left = persistedBy(Dedup.keepNewAgainst(batch, corpus).collect())
    assert(left.isEmpty, left)
  }

  test("a drop set past both driver bounds stays distributed, and its blocks " +
      "are reaped once the result is unreachable") {
    def run(): (Set[Long], Seq[String]) = {
      val kept = Curation.curate(docs, ccLocalThreshold = 0L)
      (kept.select("doc_id").collect().map(_.getLong(0)).toSet,
        kept.queryExecution.optimizedPlan.collectLeaves().map(_.nodeName))
    }
    val (local, localLeaves) = run()
    assert(localLeaves.contains("LocalRelation"), localLeaves)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    // no broadcast either: the drop set fits neither local bound
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    val (dist, distLeaves) = try run() finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(dist == local)
    assert(distLeaves.contains("LogicalRDD") && !distLeaves.contains("LocalRelation"), distLeaves)
    // at most the checkpointed drop set is left, for the ContextCleaner
    def left = sc.getPersistentRDDs.keySet.toSet -- before
    assert(left.size <= 1, left)
    val deadline = System.nanoTime + 30L * 1000000000L
    while (left.nonEmpty && System.nanoTime < deadline) { System.gc(); Thread.sleep(200) }
    assert(left.isEmpty, left)
  }

  test("bucketPairs matches a reference pair enumeration on random inputs") {
    // differential pin for the one-shuffle candidate generation that
    // replaced the banded self-join: same (key, id) multiset in -> same
    // pair multiset out, across random bucket shapes, caps, and the
    // dedup flag (including duplicate (key, id) rows, which must never
    // produce self-pairs)
    def expected(rows: Seq[(Int, Long)], max: Int, dedup: Boolean): Seq[(Long, Long)] = {
      val all = rows.groupBy(_._1).valuesIterator.flatMap { g =>
        val ids = g.map(_._2).sorted
        if (ids.size < 2 || (max > 0 && ids.size > max)) Seq.empty
        else for {
          i <- ids.indices; j <- (i + 1) until ids.size
          if ids(i) != ids(j)
        } yield (ids(i), ids(j))
      }.toSeq
      if (dedup) all.distinct else all
    }
    val rnd = new scala.util.Random(7)
    (0 until 12).foreach { case_i =>
      val nRows = 1 + rnd.nextInt(60)
      val nKeys = 1 + rnd.nextInt(6)
      val nIds = 1 + rnd.nextInt(8)
      val rows = Seq.fill(nRows)((rnd.nextInt(nKeys), rnd.nextInt(nIds).toLong))
      val max = rnd.nextInt(3) match {
        case 0 => 0 // cap disabled
        case 1 => 2
        case _ => 4
      }
      val dedup = rnd.nextBoolean()
      val df = rows.toDF("k", "id")
      val got = Dedup.bucketPairs(df, Seq("k"), "id", max, dedup)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val want = expected(rows, max, dedup)
      assert(got.sorted == want.sorted,
        s"case $case_i rows=$rows max=$max dedup=$dedup:\n got=$got\nwant=$want")
    }
  }

  test("boilerplate line removal drops corpus-frequent lines, keeps order") {
    val d = (0L until 10L).map { i =>
      (i, s"unique head $i\nShared footer line\nunique tail $i" +
        (if (i < 3) "\nRare footer" else ""))
    }.toDF("doc_id", "text")
    val cleaned = Dedup.dropCommonLines(d, maxDf = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleaned.size == 10)
    // the 10-doc footer is gone everywhere; the 3-doc footer survives maxDf=5
    (0L until 10L).foreach { i =>
      val expect = s"unique head $i\nunique tail $i" +
        (if (i < 3) "\nRare footer" else "")
      assert(cleaned(i) == expect, s"doc $i: ${cleaned(i)}")
    }
    // a doc that is pure boilerplate disappears
    val allBoiler = d.union(Seq((99L, "Shared footer line")).toDF("doc_id", "text"))
    val c2 = Dedup.dropCommonLines(allBoiler, maxDf = 5)
    assert(c2.filter(col("doc_id") === 99L).count() == 0)
  }

  test("dropCommonLinesAgainst: count-inclusive threshold over store + batch, " +
      "empty store matches dropCommonLines, null/all-boilerplate docs survive") {
    // store: "footer" seen in 4 docs already
    val store = Dedup.lineCounts((0L until 4L)
      .map(i => (i, s"old $i\nfooter")).toDF("doc_id", "text"))
    val batch = Seq(
      (10L, "new body ten\nfooter"),        // store 4 + batch 1 = 5 > 4 → drop
      (11L, "new body eleven\nlocal dup"),  // batch-only line, df 2 → kept at maxDf 4
      (12L, "new body twelve\nlocal dup"),
      (13L, "footer"),                      // all-boilerplate: row survives, empty
      (14L, null.asInstanceOf[String]))     // null text: row survives, empty
      .toDF("doc_id", "text")
    val got = Dedup.dropCommonLinesAgainst(batch, store, maxDf = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toList
      .sortBy(_._1)
    assert(got == List(
      (10L, "new body ten", 1L),
      (11L, "new body eleven\nlocal dup", 0L),
      (12L, "new body twelve\nlocal dup", 0L),
      (13L, "", 1L),
      (14L, "", 0L)), got)
    // empty store ≡ the batch-global operator (on docs it keeps; the
    // Against twin additionally preserves emptied docs)
    val corpus = (0L until 10L).map { i =>
      (i, s"unique head $i\nShared footer line\nunique tail $i")
    }.toDF("doc_id", "text")
    val emptyStore = store.filter(lit(false))
    val incr = Dedup.dropCommonLinesAgainst(corpus, emptyStore, maxDf = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val batchGlobal = Dedup.dropCommonLines(corpus, maxDf = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(batchGlobal.forall { case (k, v) => incr(k) == v },
      s"empty-store parity: $incr vs $batchGlobal")
    // appended duplicate count rows SUM: footer df 2+2 over maxDf 3 → drop
    val split = Dedup.lineCounts(Seq((0L, "a\nfooter"), (1L, "b\nfooter"))
        .toDF("doc_id", "text"))
      .unionByName(Dedup.lineCounts(Seq((2L, "c\nfooter"), (3L, "d\nfooter"))
        .toDF("doc_id", "text")))
    val g2 = Dedup.dropCommonLinesAgainst(
        Seq((20L, "body\nfooter")).toDF("doc_id", "text"), split, maxDf = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(g2 == Map(20L -> "body"), g2)
  }

  test("keepNewAgainstSignatures: corpus ownership propagates through " +
      "within-batch clusters; clean clusters elect canonical; empty store " +
      "equals keepCanonical") {
    def words(prefix: String, from: Int, to: Int): String =
      (from to to).map(i => s"$prefix$i").mkString(" ")
    val xText = words("qa", 1, 20)
    val aText = words("qa", 1, 20) + " " + words("qb", 1, 4)   // J(A,X)=.82
    val bText = words("qa", 5, 20) + " " + words("qb", 1, 12)  // J(A,B)=.60, J(B,X)=.47
    val dText = words("qd", 1, 20)
    val eText = words("qe", 1, 20)
    val corpusSigs = Dedup.minHashSignatures(
      Seq((100L, xText)).toDF("doc_id", "text"))
    val batch = Seq(
      (1L, aText), // pairs corpus → drop
      (2L, bText), // pairs A only; component {1,2} contaminated → drop
      (3L, dText), (4L, dText), // clean exact-dup cluster → keep 3
      (5L, eText)) // unique → keep
      .toDF("doc_id", "text")
    val kept = Dedup.keepNewAgainstSignatures(batch, corpusSigs,
        threshold = 0.55)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 5L), s"kept=$kept")
    // empty store ≡ keepCanonical over the batch's own signature pairs
    val emptyStore = corpusSigs.filter(lit(false))
    val k2 = Dedup.keepNewAgainstSignatures(batch, emptyStore,
        threshold = 0.55)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val pairs = Dedup.minHashPairs(batch, threshold = 0.55)
    val canon = Dedup.keepCanonical(batch, pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(k2 == canon, s"$k2 vs $canon")
  }

  test("probeExif: orientation/captured_at/GPS from JPEG APP1 and standalone " +
      "TIFF, both endiannesses; corrupt and exif-less payloads cost a null") {
    val rows = Multimodal.exifFixture(spark).collect()
      .map(r => r.getLong(0) ->
        (r.getBoolean(1),
          if (r.isNullAt(2)) None else Some(r.getInt(2)),
          Option(r.getString(3)),
          r.getBoolean(4))).toMap
    assert(rows(1L) == ((true, Some(6), Some("2023:12:31 23:59:58"), true)),
      s"le jpeg: ${rows(1L)}") // DateTimeOriginal preferred over DateTime
    assert(rows(2L) == ((true, Some(1), Some("2024:05:06 07:08:09"), false)),
      s"be tiff: ${rows(2L)}")
    assert(rows(3L) == ((false, None, None, false)), s"corrupt: ${rows(3L)}")
    assert(rows(4L) == ((false, None, None, false)), s"no app1: ${rows(4L)}")
    assert(rows(5L) == ((true, Some(3), None, false)), s"orient only: ${rows(5L)}")
    assert(rows(6L) == ((true, None, None, true)), s"gps only: ${rows(6L)}")
    // adversarial directs: truncated header, entry offsets past the buffer
    assert(Multimodal.probeExif(Array[Byte]('I', 'I', 42, 0)).isEmpty)
    assert(Multimodal.probeExif("not media at all".getBytes).isEmpty)
    // a valid IFD whose ASCII value offset runs out of the buffer skips
    // that field, not the probe
    val bad = java.nio.ByteBuffer.allocate(8 + 2 + 12 + 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bad.put("II".getBytes); bad.putShort(42); bad.putInt(8)
    bad.putShort(1) // one entry: DateTime at an impossible offset
    bad.putShort(0x0132); bad.putShort(2); bad.putInt(20); bad.putInt(999999)
    bad.putInt(0)
    assert(Multimodal.probeExif(bad.array())
      .contains(Multimodal.ExifInfo(None, None, false)))
  }

  test("curate with lineMaxDf strips boilerplate before filtering and dedup") {
    val boilered = docs.withColumn("text",
      concat(col("text"), lit("\nSubscribe to our newsletter!")))
    val out = Curation.curate(boilered, lineMaxDf = 30).cache()
    assert(out.count() > 0)
    assert(out.filter(col("text").contains("Subscribe to our newsletter!")).count() == 0,
      "boilerplate footer should be stripped from every curated doc")
    out.unpersist()
  }

  test("contamination flags docs sharing n-grams with the benchmark set") {
    val bench = Seq((1L, "the quick brown fox jumps over the lazy dog tonight")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "intro words then the quick brown fox jumps over the lazy dog tonight and more"),
      (11L, "completely unrelated text about spark plans and shuffles here"),
      (12L, "the quick brown fox jumps over the lazy dog tonight")
    ).toDF("doc_id", "text")
    val hits = Dedup.contamination(corpus, bench, n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.contains(10L) && hits.contains(12L), s"got $hits")
    assert(!hits.contains(11L))
    // exact copy contains every benchmark 8-gram (10-word text -> 3 grams)
    assert(hits(12L) == 3L)
  }

  test("simhash of identical normalized text matches; distance monotone") {
    val sigs = spark.createDataFrame(Seq(
      (1L, "The quick brown fox jumps"),
      (2L, "the  quick   brown fox jumps"), // whitespace/case noise only
      (3L, "a completely different sentence about spark plans")
    )).toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.simHash(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) > 0)
  }

  test("brute-force topK is self-consistent and ranked") {
    val queries = emb.filter(col("vec_id") < 3).withColumnRenamed("vec_id", "query_id")
    val tk = Similarity.topK(emb, queries, k = 5).cache()
    assert(tk.groupBy("query_id").count().filter(col("count") =!= 5).count() == 0)
    // rank 1 has max sim per query
    val bad = tk.withColumn("mx", max("sim").over(
      org.apache.spark.sql.expressions.Window.partitionBy("query_id")))
      .filter(col("rank") === 1 && col("sim") =!= col("mx"))
    assert(bad.count() == 0)
  }

  // recall floors run on the sf0.1 embeddings (2000 corpus vectors, 50
  // queries) — uniform random 64-dim, the worst case for ANY ann index
  // (no cluster structure to exploit); the tuned defaults must still
  // reach recall@10 >= 0.8 vs brute force there (AnnTune grid: bucketed
  // 0.878, ivf 0.858 — real clustered embeddings land higher)
  private lazy val emb01 = Tables.load(spark, "/root/testdata/sf0.1")("embeddings").cache()
  private def recallPairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("bucketed ANN recall@10 >= 0.8 at tuned defaults (worst-case fixture)") {
    val queries = emb01.filter(col("vec_id") < 50).withColumnRenamed("vec_id", "query_id")
    val exact = recallPairs(Similarity.topK(emb01, queries, k = 10))
    val approx = recallPairs(Similarity.topKBucketed(emb01, queries, k = 10))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"ANN recall $recall at tuned defaults")
  }

  test("IVF ANN recall@10 >= 0.8 at tuned defaults; full probe equals brute force") {
    val queries = emb01.filter(col("vec_id") < 50).withColumnRenamed("vec_id", "query_id")
    val exact = recallPairs(Similarity.topK(emb01, queries, k = 10))
    val rDefault = {
      val approx = recallPairs(Similarity.topKIvf(emb01, queries, k = 10))
      (exact & approx).size.toDouble / exact.size
    }
    assert(rDefault >= 0.8, s"IVF recall $rDefault at tuned defaults")
    // identity check stays on the small fixture: probing every cell must
    // reproduce brute force exactly, independent of centroid quality
    val q001 = emb.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "query_id")
    val ex001 = recallPairs(Similarity.topK(emb, q001, k = 10))
    val full = recallPairs(Similarity.topKIvf(emb, q001, k = 10, nlist = 16, nprobe = 16))
    assert(full == ex001, "full probe must equal brute force")
  }

  test("IVF-PQ recall@10 at defaults; full-probe full-rerank equals brute force") {
    val queries = emb01.filter(col("vec_id") < 50).withColumnRenamed("vec_id", "query_id")
    val exact = recallPairs(Similarity.topK(emb01, queries, k = 10))
    val approx = recallPairs(Similarity.topKIvfPq(emb01, queries, k = 10))
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"IVF-PQ recall@10 = $recall%.3f")
    // composition ceiling is min(IVF probe coverage, PQ shortlist quality)
    assert(recall >= 0.75, s"IVF-PQ recall $recall at defaults")
    // probing every cell with a corpus-wide rerank budget IS brute force
    val q001 = emb.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "query_id")
    val ex001 = recallPairs(Similarity.topK(emb, q001, k = 10))
    val full = recallPairs(Similarity.topKIvfPq(emb, q001, k = 10,
      nlist = 4, nprobe = 4, rerank = 50))
    assert(full == ex001, "full probe + corpus rerank must equal brute force")
  }

  test("PQ ANN recall@10 >= 0.8 at tuned defaults; full rerank equals brute force") {
    val queries = emb01.filter(col("vec_id") < 50).withColumnRenamed("vec_id", "query_id")
    val exact = recallPairs(Similarity.topK(emb01, queries, k = 10))
    val approx = recallPairs(Similarity.topKPq(emb01, queries, k = 10))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"PQ recall $recall at tuned defaults")
    // rerank budget covering the whole corpus → the exact rerank IS brute
    // force, independent of codebook quality (small fixture: 500 vectors)
    val q001 = emb.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "query_id")
    val ex001 = recallPairs(Similarity.topK(emb, q001, k = 10))
    val full = recallPairs(Similarity.topKPq(emb, q001, k = 10, rerank = 50))
    assert(full == ex001, "corpus-wide rerank must equal brute force")
  }

  test("semanticPairs: true-pair subset, refined path verified, cell cap collapses output") {
    // ground truth: every >= 0.3 cosine pair (brute force, 500 vectors)
    val a = emb.select(col("vec_id").as("vec_a"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("vec_b"), col("embedding").as("vb"))
    val truth = a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("sim", round(Similarity.cosine(col("va"), col("vb")), 6))
      .filter(col("sim") >= 0.3)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet

    val sem = Similarity.semanticPairs(emb, threshold = 0.3,
      nlist = 16, kmeansIter = 0, dims = 64)
    val semPairs = sem.select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(semPairs.nonEmpty, "seeded cells must yield some within-cell pairs")
    assert(semPairs.subsetOf(truth), "every emitted pair must pass exact cosine verify")
    sem.unpersist()

    // Lloyd-refined centroids change the cells but never the verify bar
    val refined = Similarity.semanticPairs(emb, threshold = 0.3,
      nlist = 16, kmeansIter = 2, dims = 64)
    val refPairs = refined.select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(refPairs.nonEmpty && refPairs.subsetOf(truth))
    refined.unpersist()

    // hot-cell cap: nlist=2 puts ~250 vectors per cell, so maxCell=3 must
    // drop both cells and the candidate set collapses to empty
    val capped = Similarity.semanticPairs(emb, threshold = 0.3,
      nlist = 2, kmeansIter = 0, maxCell = 3, dims = 64)
    assert(capped.count() == 0)
    capped.unpersist()
  }

  test("curateSemantic composes pairs→CC→keepBest; distributed CC path agrees") {
    val ids = Curation.curateSemantic(emb, col("label"), threshold = 0.3,
      nlist = 16, kmeansIter = 0, dims = 64)
      .select("vec_id").as[Long].collect().toSet
    val pairs = Similarity.semanticPairs(emb, threshold = 0.3,
      nlist = 16, kmeansIter = 0, dims = 64)
    val direct = Dedup.keepBest(emb, pairs, col("label"), "vec_id", "vec_a", "vec_b")
      .select("vec_id").as[Long].collect().toSet
    pairs.unpersist()
    assert(ids == direct, "composition must equal its parts")
    assert(ids.size < emb.count(), "some semantic dup must actually drop")
    // forcing the distributed label-propagation path changes nothing
    val dist = Curation.curateSemantic(emb, col("label"), threshold = 0.3,
      nlist = 16, kmeansIter = 0, dims = 64, ccLocalThreshold = 0L)
      .select("vec_id").as[Long].collect().toSet
    assert(dist == ids)
  }

  test("keepTopQuality: exact per-group fraction; approx path agrees at high accuracy") {
    val kept = TextOps.keepTopQuality(docs, col("n_chars"), 0.25,
      col("lang"), col("doc_id"))
    val keptCnt = kept.groupBy("lang").count().as[(String, Long)].collect().toMap
    val allCnt = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    allCnt.foreach { case (lang, n) =>
      assert(keptCnt.getOrElse(lang, 0L) == math.ceil(0.25 * n).toLong,
        s"group $lang kept ${keptCnt.getOrElse(lang, 0L)} of $n")
    }
    // the kept set is the TOP of each group: its per-group minimum score
    // must be >= the per-group 75th-percentile of the full corpus
    val minKept = kept.groupBy("lang")
      .agg(min(col("n_chars")).cast("long").as("mn"))
      .as[(String, Long)].collect().toMap
    val thr = docs.groupBy("lang")
      .agg(expr("percentile(n_chars, 0.75)").as("p75"))
      .as[(String, Double)].collect().toMap
    minKept.foreach { case (lang, mn) =>
      assert(mn >= thr(lang) - 1, s"group $lang kept a below-threshold row") }

    // approx gate: same threshold semantics modulo sketch error and ties —
    // per-group counts within 10% of the exact gate, and every exact-kept
    // score level is present (no top row lost)
    val approx = TextOps.keepTopQualityApprox(docs, col("n_chars"), 0.25,
      col("lang"), accuracy = 100000)
    val apCnt = approx.groupBy("lang").count().as[(String, Long)].collect().toMap
    allCnt.keys.foreach { lang =>
      val e = keptCnt(lang).toDouble
      val p = apCnt.getOrElse(lang, 0L).toDouble
      assert(math.abs(p - e) <= math.max(2.0, 0.1 * e),
        s"group $lang approx kept $p vs exact $e")
    }
    val topIds = docs.withColumn("__r", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy("lang")
        .orderBy(col("n_chars").desc, col("doc_id"))))
      .filter(col("__r") === 1).select("doc_id").as[Long].collect().toSet
    val apIds = approx.select("doc_id").as[Long].collect().toSet
    assert(topIds.subsetOf(apIds), "approx gate must keep each group's best row")
  }

  test("capPerGroup keeps exactly min(k, group size) best rows per group") {
    val capped = TextOps.capPerGroup(docs, col("n_chars"), k = 7,
      col("lang"), col("doc_id"))
    val capCnt = capped.groupBy("lang").count().as[(String, Long)].collect().toMap
    val allCnt = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    allCnt.foreach { case (lang, n) =>
      assert(capCnt.getOrElse(lang, 0L) == math.min(7L, n),
        s"group $lang capped to ${capCnt.getOrElse(lang, 0L)} of $n")
    }
    // survivors are exactly the window-function top-k (deterministic ties)
    val expected = docs.withColumn("__r", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy("lang")
        .orderBy(col("n_chars").desc, col("doc_id"))))
      .filter(col("__r") <= 7).select("doc_id").as[Long].collect().toSet
    assert(capped.select("doc_id").as[Long].collect().toSet == expected)
  }

  test("compressionMetrics flags filler and high-entropy text, keeps prose") {
    val rnd = new scala.util.Random(3)
    val fixture = Seq(
      (1L, "spam " * 2000),                                 // filler → ratio ~0.004
      (2L, Seq.fill(8000)((1 + rnd.nextInt(127)).toChar).mkString), // 7-bit noise → ~0.88
      (3L, "The quick brown fox jumps over the lazy dog. " +
        "Weather stayed mild through October, and the harvest came in early this year. " +
        "Local markets reported steady demand for apples and late-season corn."),
      (4L, "")                                               // empty → ratio 1.0, above window
    ).toDF("doc_id", "text")
    val m = TextOps.compressionMetrics(fixture)
      .select("doc_id", "raw_bytes", "deflate_ratio", "flag_compression")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(m(1)._2 < 0.05 && !m(1)._3, s"filler ratio ${m(1)._2} should flag low")
    assert(m(2)._2 > 0.85 && !m(2)._3, s"entropy ratio ${m(2)._2} should flag high")
    assert(m(3)._3, s"prose ratio ${m(3)._2} should pass the window")
    assert(m(4)._1 == 0 && !m(4)._3 && m(4)._2 == 1.0)
    // corpus-wide: row count preserved, ratios in [0, ~1.1]
    val c = TextOps.compressionMetrics(docs)
    assert(c.count() == docs.count())
    assert(c.filter(col("deflate_ratio") < 0 || col("deflate_ratio") > 1.2).count() == 0)
  }

  test("packGreedy: whole docs, budget respected except oversize singletons") {
    val p = Packing.packGreedy(docs, budget = 512, buckets = 16).cache()
    assert(p.count() == docs.count())                        // every doc exactly once
    assert(p.select("doc_id").distinct().count() == docs.count())
    val seqs = p.groupBy("seq_id").agg(
      sum("token_count").as("fill"), count(lit(1)).as("n"),
      max("token_count").as("mx")).cache()
    // a sequence over budget must be a single oversize document
    assert(seqs.filter(col("fill") > 512 && (col("n") > 1 || col("mx") <= 512))
      .count() == 0)
    // greedy invariant: a multi-doc sequence closed because the next doc
    // didn't fit, so no doc's tokens vanish: fill of any sequence is the
    // exact sum of member token counts (checked by construction above) and
    // bins are dense per bucket
    val dense = p.select((col("seq_id") / lit(1L << 40)).cast("long").as("b"),
        pmod(col("seq_id"), lit(1L << 40)).as("bin"))
      .groupBy("b").agg(min("bin").as("lo"), max("bin").as("hi"),
        countDistinct("bin").as("d"))
    assert(dense.filter(col("lo") =!= 0 || col("d") =!= col("hi") + 1).count() == 0)
    p.unpersist(); seqs.unpersist()
  }

  test("scoreBuckets: quartiles partition the corpus; approx path matches at high accuracy") {
    val b = Sampling.scoreBuckets(docs, col("n_chars"), Seq(0.25, 0.5, 0.75),
      exact = true).cache()
    assert(b.filter(col("score_bucket") < 1 || col("score_bucket") > 4).count() == 0)
    val n = docs.count().toDouble
    val byB = b.groupBy("score_bucket").count().as[(Int, Long)].collect().toMap
    (1 to 4).foreach { i =>
      assert(math.abs(byB.getOrElse(i, 0L) / n - 0.25) < 0.05,
        s"bucket $i share ${byB.getOrElse(i, 0L) / n}") }
    // buckets are ordered score bands: max of band i <= min of band i+1
    val bounds = b.groupBy("score_bucket").agg(
      min("n_chars").cast("long").as("lo"), max("n_chars").cast("long").as("hi"))
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    bounds.sliding(2).foreach {
      case Array((_, _, hi1), (_, lo2, _)) => assert(hi1 <= lo2)
      case _ =>
    }
    // sketch path at high accuracy reproduces the exact assignment
    val approx = Sampling.scoreBuckets(docs, col("n_chars"), Seq(0.25, 0.5, 0.75),
      accuracy = 100000)
    val ex = b.select("doc_id", "score_bucket").as[(Long, Int)].collect().toMap
    val ap = approx.select("doc_id", "score_bucket").as[(Long, Int)].collect().toMap
    val agree = ex.count { case (k, v) => ap(k) == v }.toDouble / ex.size
    assert(agree > 0.99, s"approx/exact agreement $agree")
    b.unpersist()
  }

  test("funnel: strict ordering, chain breaks, later-step-only keys") {
    val ev = Seq(
      (1L, "view", 1L), (1L, "click", 1L), (1L, "purchase", 5L), // click not > t1
      (2L, "view", 1L), (2L, "click", 2L), (2L, "purchase", 3L), // full chain
      (3L, "click", 1L),                                         // never entered
      (4L, "view", 4L), (4L, "view", 2L), (4L, "click", 3L)      // min view wins
    ).toDF("user_id", "event_type", "t")
    val f = Events.funnel(ev, "user_id", "event_type", "t",
      Seq("view", "click", "purchase"))
    val m = f.collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getAs[Int]("steps_completed") == 1 && m(1L).isNullAt(2))
    assert(m(2L).getAs[Int]("steps_completed") == 3 && m(2L).getLong(3) == 3L)
    assert(m(3L).getAs[Int]("steps_completed") == 0 && m(3L).isNullAt(1))
    assert(m(4L).getAs[Int]("steps_completed") == 2 &&
      m(4L).getLong(1) == 2L && m(4L).getLong(2) == 3L)
  }

  test("retention: cohort is first active period, offsets count distinct keys") {
    val ev = Seq(
      (1L, 0L), (1L, 10L), (1L, 25L), // periods 0,1,2 → cohort 0
      (2L, 12L), (2L, 33L),           // periods 1,3 → cohort 1, offsets 0,2
      (3L, 5L)                        // period 0 → cohort 0, offset 0
    ).toDF("user_id", "t")
    val r = Events.retention(ev, "user_id", "t", period = 10L)
    val m = r.collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    assert(m == Map((0L, 0L) -> 2L, (0L, 1L) -> 1L, (0L, 2L) -> 1L,
      (1L, 0L) -> 1L, (1L, 2L) -> 1L))
  }

  test("repetition metrics: boundary texts and known fractions") {
    val d = Seq(
      (1L, "a a a a"),              // 4 words, 1 uniq; 3 bigrams "a a" → all dup
      (2L, "a b c d"),              // no repetition
      (3L, ""),                     // empty → all metrics 0
      (4L, "x"),                    // 1 word → no bigrams
      (5L, "l1\nl2\nl1")            // duplicate line
    ).toDF("doc_id", "text")
    val m = TextOps.repetitionMetrics(d).collect().map(r =>
      r.getAs[Long]("doc_id") -> r).toMap
    assert(m(1L).getAs[Double]("dup_word_frac") == 0.75)
    assert(m(1L).getAs[Double]("dup_bigram_frac") == round6(1.0 - 1.0 / 3))
    assert(m(1L).getAs[Double]("top_word_frac") == 1.0)
    assert(m(2L).getAs[Double]("dup_word_frac") == 0.0)
    assert(m(3L).getAs[Double]("dup_word_frac") == 0.0)
    assert(m(3L).getAs[Double]("dup_line_frac") == 0.0)
    assert(m(4L).getAs[Double]("dup_bigram_frac") == 0.0)
    assert(m(5L).getAs[Double]("dup_line_frac") == round6(1.0 - 2.0 / 3))
  }
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("redaction replaces every PII shape and leaves clean text alone") {
    val d = Seq(
      (1L, "mail bob.smith+x@sub.example.co.uk now"),
      (2L, "call +1 (555) 123-4567 today"),
      (3L, "host 192.168.0.1 port"),
      (4L, "ssn 123-45-6789 leaked"),
      (5L, "clean text with no pii at all")
    ).toDF("doc_id", "text")
    val r = d.select(col("doc_id"), TextOps.redact(col("text")).as("t"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r(1L) == "mail <EMAIL> now")
    assert(r(2L) == "call <PHONE> today")
    assert(r(3L) == "host <IP> port")
    assert(r(4L) == "ssn <ID> leaked")
    assert(r(5L) == "clean text with no pii at all")
  }

  test("temperature mixture: tau=1 keeps everything, tau<1 flattens toward small groups") {
    // skewed synthetic groups: g0 has 400 rows, g1 has 100
    val d = (0 until 500).map(i => (i.toLong, if (i < 400) "g0" else "g1"))
      .toDF("doc_id", "source")
    val n = d.count()
    val all = Sampling.temperatureMixture(d, col("source"), col("doc_id"), tau = 1.0)
    assert(all.count() == n, "tau=1 rate is 1 for every group")
    val flat = Sampling.temperatureMixture(d, col("source"), col("doc_id"), tau = 0.5)
    // the smallest group is never subsampled; the big one shrinks toward
    // rate (400/100)^-0.5 = 0.5
    assert(flat.filter(col("source") === "g1").count() == 100)
    val keptBig = flat.filter(col("source") === "g0").count()
    assert(keptBig < 400 && math.abs(keptBig - 200) < 60, s"kept $keptBig of 400")
  }

  test("sequence packing fills budgets contiguously per bucket") {
    val budget = 100
    val p = Packing.packSequences(docs, budget = budget, buckets = 4).cache()
    assert(p.count() == docs.count())
    // offsets are in range and sequences don't interleave buckets
    assert(p.filter(col("seq_offset") < 0 || col("seq_offset") >= budget).count() == 0)
    assert(p.groupBy("seq_id").agg(countDistinct("pack_bucket").as("b"))
      .filter(col("b") > 1).count() == 0)
    // within a bucket, offsets reconstruct the cumulative layout exactly
    val rows = p.filter(col("pack_bucket") === 0)
      .orderBy("doc_id").select("token_count", "seq_id", "seq_offset").collect()
    var cum = 0L
    rows.foreach { r =>
      assert(r.getAs[Long]("seq_offset") == cum % budget)
      assert(r.getAs[Long]("seq_id") % (1L << 40) == cum / budget)
      cum += r.getAs[Long]("token_count")
    }
    p.unpersist()
  }

  test("normalize and quantize handle zero and extreme vectors") {
    val d = Seq(
      (1L, Array(3.0f, 4.0f)),
      (2L, Array(0.0f, 0.0f)),
      (3L, Array(-1.0f, 0.5f))
    ).toDF("vec_id", "embedding")
    val r = d.select(col("vec_id"),
        Similarity.l2Normalize(col("embedding")).as("u"),
        Similarity.quantizeInt8(col("embedding")).as("q"))
      .collect().map(x => x.getLong(0) -> x).toMap
    def seqOf[T](row: org.apache.spark.sql.Row, name: String): Seq[T] =
      row.getSeq[T](row.fieldIndex(name)).toSeq
    assert(seqOf[Double](r(1L), "u") == Seq(0.6, 0.8))
    assert(seqOf[Int](r(1L), "q") == Seq(95, 127))
    assert(seqOf[Double](r(2L), "u") == Seq(0.0, 0.0))
    assert(seqOf[Int](r(2L), "q") == Seq(0, 0))
    assert(seqOf[Int](r(3L), "q") == Seq(-127, 64)) // 63.5 rounds away from zero
    // unit norm within rounding
    val norms = d.filter(col("vec_id") =!= 2L)
      .select(Similarity.dotFold(
        Similarity.l2Normalize(col("embedding")),
        Similarity.l2Normalize(col("embedding"))).as("n"))
      .collect().map(_.getDouble(0))
    norms.foreach(n => assert(math.abs(n - 1.0) < 1e-4))
  }

  test("gopher flags: conjunction equals AND of parts") {
    val g = TextOps.gopherFlags(docs).cache()
    assert(g.count() == docs.count())
    val bad = g.filter(col("gopher_keep") =!=
      (col("flag_word_count") && col("flag_mean_word_len") &&
        col("flag_symbol_ratio") && col("flag_bullet_ratio") &&
        col("flag_stopwords") && col("flag_repetition"))).count()
    assert(bad == 0)
    g.unpersist()
  }

  test("image header probe reads real PNG/GIF/BMP/JPEG dimensions") {
    def png(w: Int, h: Int): Array[Byte] = {
      val b = new Array[Byte](26)
      val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      sig.zipWithIndex.foreach { case (v, i) => b(i) = v.toByte }
      // length(4) + "IHDR"
      b(11) = 13; b(12) = 'I'; b(13) = 'H'; b(14) = 'D'; b(15) = 'R'
      for (i <- 0 until 4) { b(16 + i) = (w >>> (24 - 8 * i)).toByte
                             b(20 + i) = (h >>> (24 - 8 * i)).toByte }
      b
    }
    def gif(w: Int, h: Int): Array[Byte] =
      "GIF89a".getBytes ++ Array((w & 0xff).toByte, (w >> 8).toByte,
        (h & 0xff).toByte, (h >> 8).toByte)
    def bmp(w: Int, h: Int): Array[Byte] = {
      val b = new Array[Byte](26); b(0) = 'B'; b(1) = 'M'
      for (i <- 0 until 4) { b(18 + i) = (w >>> (8 * i)).toByte
                             b(22 + i) = (h >>> (8 * i)).toByte }
      b
    }
    def jpeg(w: Int, h: Int): Array[Byte] =
      Array(0xff, 0xd8,                        // SOI
        0xff, 0xe0, 0x00, 0x04, 0x00, 0x00,    // APP0, len 4
        0xff, 0xc0, 0x00, 0x11, 0x08,          // SOF0, len 17, precision
        (h >> 8) & 0xff, h & 0xff, (w >> 8) & 0xff, w & 0xff,
        0x03).map(_.toByte)
    assert(Multimodal.probeImage(png(640, 480)).contains(("png", 640, 480)))
    assert(Multimodal.probeImage(gif(320, 200)).contains(("gif", 320, 200)))
    assert(Multimodal.probeImage(bmp(800, 600)).contains(("bmp", 800, 600)))
    assert(Multimodal.probeImage(jpeg(1024, 768)).contains(("jpeg", 1024, 768)))
    assert(Multimodal.probeImage("not an image".getBytes).isEmpty)
    assert(Multimodal.probeImage(Array[Byte]()).isEmpty)
    // probed dims flow into the resize arithmetic (fitBox 224)
    val media = Seq(Multimodal.MediaRow(1L, "image", png(448, 224), 0, 0, "png"))
    import spark.implicits._
    val f = Multimodal.extractFeatures(media.toDS()).collect().head
    assert(f.resized_w == 224 && f.resized_h == 112)
    // WAV probe: 2ch 44100Hz 16-bit, 1s of data
    def wav(ch: Int, rate: Int, dataLen: Int): Array[Byte] = {
      val byteRate = rate * ch * 2
      val b = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes); b.putInt(36 + dataLen); b.put("WAVE".getBytes)
      b.put("fmt ".getBytes); b.putInt(16); b.putShort(1)
      b.putShort(ch.toShort); b.putInt(rate); b.putInt(byteRate)
      b.putShort((ch * 2).toShort); b.putShort(16)
      b.put("data".getBytes); b.putInt(dataLen)
      b.array()
    }
    assert(Multimodal.probeWav(wav(2, 44100, 44100 * 4))
      .contains((2, 44100, 1000L)))
    assert(Multimodal.probeWav("RIFFxxxx not wave".getBytes).isEmpty)
  }

  test("WebP/FLAC/MP4 header probes read real container headers") {
    // WebP lossy (VP8): RIFF..WEBP + 'VP8 ' chunk + frame tag + start code
    def webpVp8(w: Int, h: Int): Array[Byte] = {
      val b = new Array[Byte](30)
      "RIFF".getBytes.copyToArray(b, 0); "WEBP".getBytes.copyToArray(b, 8)
      "VP8 ".getBytes.copyToArray(b, 12)
      b(23) = 0x9d.toByte; b(24) = 0x01; b(25) = 0x2a
      b(26) = (w & 0xff).toByte; b(27) = ((w >> 8) & 0x3f).toByte
      b(28) = (h & 0xff).toByte; b(29) = ((h >> 8) & 0x3f).toByte
      b
    }
    // WebP lossless (VP8L): 0x2f + 14-bit (w-1) | 14-bit (h-1)
    def webpVp8l(w: Int, h: Int): Array[Byte] = {
      val b = new Array[Byte](30)
      "RIFF".getBytes.copyToArray(b, 0); "WEBP".getBytes.copyToArray(b, 8)
      "VP8L".getBytes.copyToArray(b, 12)
      b(20) = 0x2f
      val bits = (w - 1) | ((h - 1) << 14)
      for (i <- 0 until 4) b(21 + i) = ((bits >> (8 * i)) & 0xff).toByte
      b
    }
    // WebP extended (VP8X): 24-bit LE canvas minus-one at payload+4/+7
    def webpVp8x(w: Int, h: Int): Array[Byte] = {
      val b = new Array[Byte](30)
      "RIFF".getBytes.copyToArray(b, 0); "WEBP".getBytes.copyToArray(b, 8)
      "VP8X".getBytes.copyToArray(b, 12)
      for (i <- 0 until 3) { b(24 + i) = (((w - 1) >> (8 * i)) & 0xff).toByte
                             b(27 + i) = (((h - 1) >> (8 * i)) & 0xff).toByte }
      b
    }
    assert(Multimodal.probeImage(webpVp8(320, 240)).contains(("webp", 320, 240)))
    assert(Multimodal.probeImage(webpVp8l(1024, 768)).contains(("webp", 1024, 768)))
    assert(Multimodal.probeImage(webpVp8x(4000, 3000)).contains(("webp", 4000, 3000)))

    // FLAC STREAMINFO: 44100 Hz stereo, 441000 samples = 10s
    def flac(rate: Int, ch: Int, samples: Long): Array[Byte] = {
      val b = new Array[Byte](42)
      "fLaC".getBytes.copyToArray(b, 0)
      b(4) = 0; b(5) = 0; b(6) = 0; b(7) = 34 // STREAMINFO, len 34
      val o = 18 // 8 + 10 (blocksize/framesize fields)
      b(o) = ((rate >> 12) & 0xff).toByte
      b(o + 1) = ((rate >> 4) & 0xff).toByte
      b(o + 2) = (((rate & 0xf) << 4) | ((ch - 1) << 1)).toByte
      b(o + 3) = ((samples >> 32) & 0xf).toByte
      for (i <- 0 until 4) b(o + 4 + i) = ((samples >> (24 - 8 * i)) & 0xff).toByte
      b
    }
    assert(Multimodal.probeFlac(flac(44100, 2, 441000L)).contains((2, 44100, 10000L)))
    assert(Multimodal.probeFlac("not flac at all........".getBytes).isEmpty)

    // minimal MP4: ftyp + moov>mvhd v0 (timescale 600, duration 9000 = 15s)
    def mp4(timescale: Int, duration: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(16 + 8 + 8 + 100)
      bb.putInt(16); bb.put("ftyp".getBytes); bb.put("isom".getBytes); bb.putInt(0)
      bb.putInt(8 + 8 + 100); bb.put("moov".getBytes)
      bb.putInt(8 + 100); bb.put("mvhd".getBytes)
      bb.putInt(0) // version 0 + flags
      bb.putInt(0); bb.putInt(0) // creation, modification
      bb.putInt(timescale); bb.putInt(duration)
      bb.array()
    }
    assert(Multimodal.probeMp4Duration(mp4(600, 9000)).contains(15000L))
    assert(Multimodal.probeMp4Duration("RIFF not mp4".getBytes).isEmpty)
    // duration flows into video features
    val media = Seq(Multimodal.MediaRow(7L, "video", mp4(600, 9000), 0, 0, "mp4"))
    import spark.implicits._
    val f = Multimodal.extractFeatures(media.toDS()).collect().head
    assert(f.duration_ms.contains(15000L))
  }

  test("MP3 frame-header probe reads channels/rate and estimates CBR duration") {
    // V1 Layer III 128 kbps 44100 Hz stereo: FF FB 90 00; 16000 data bytes
    // -> (16004 bytes * 8) / 128 kbps = 1000 ms
    def mp3(hdr1: Int, hdr2: Int, hdr3: Int, dataLen: Int, id3Len: Int = -1): Array[Byte] = {
      val pre = if (id3Len >= 0) 10 + id3Len else 0
      val b = new Array[Byte](pre + 4 + dataLen)
      if (id3Len >= 0) {
        "ID3".getBytes.copyToArray(b, 0)
        b(6) = ((id3Len >> 21) & 0x7f).toByte; b(7) = ((id3Len >> 14) & 0x7f).toByte
        b(8) = ((id3Len >> 7) & 0x7f).toByte; b(9) = (id3Len & 0x7f).toByte
      }
      b(pre) = 0xff.toByte; b(pre + 1) = hdr1.toByte
      b(pre + 2) = hdr2.toByte; b(pre + 3) = hdr3.toByte
      b
    }
    assert(Multimodal.probeMp3(mp3(0xfb, 0x90, 0x00, 16000))
      .contains((2, 44100, 1000L)))
    // same frame behind a 100-byte ID3v2 tag: tag bytes excluded from the
    // CBR estimate ((16004)*8/128 = 1000 ms still)
    assert(Multimodal.probeMp3(mp3(0xfb, 0x90, 0x00, 16000, id3Len = 100))
      .contains((2, 44100, 1000L)))
    // MPEG2 Layer III (0xf3), bitrate idx 5 = 40 kbps, sr idx 1 = 24000,
    // mono (0xc0): (5004 bytes * 8) / 40 = 1000 ms
    assert(Multimodal.probeMp3(mp3(0xf3, 0x54, 0xc0, 5000))
      .contains((1, 24000, 1000L)))
    // free-format (bitrate idx 0) and bad sync are rejected
    assert(Multimodal.probeMp3(mp3(0xfb, 0x00, 0x00, 100)).isEmpty)
    assert(Multimodal.probeMp3("plain text, no sync anywhere".getBytes).isEmpty)
    // flows into extractFeatures via the audio probe chain (wav->flac->mp3)
    import spark.implicits._
    val media = Seq(Multimodal.MediaRow(9L, "audio", mp3(0xfb, 0x90, 0x00, 16000), 0, 0, "mp3"))
    val f = Multimodal.extractFeatures(media.toDS()).collect().head
    assert(f.channels.contains(2) && f.sample_rate.contains(44100) &&
      f.duration_ms.contains(1000L))
  }

  test("probeWav metadata flows into extractFeatures for audio rows") {
    val media = Multimodal.syntheticWavMedia(spark, docs.filter(col("doc_id") < 8))
    val f = Multimodal.extractFeatures(media).collect()
      .map(r => r.media_id -> r).toMap
    assert(f.nonEmpty)
    f.foreach { case (id, r) =>
      assert(r.channels.contains(1 + (id % 2).toInt))
      assert(r.sample_rate.contains(8000 * (1 + (id % 4).toInt)))
      val dataLen = r.byte_len - 44
      val byteRate = r.sample_rate.get * r.channels.get * 2
      assert(r.duration_ms.contains(dataLen * 1000L / byteRate))
    }
    // non-audio payloads (plain text bytes) carry no audio metadata
    val plain = Multimodal.extractFeatures(
      Multimodal.syntheticMedia(spark, docs.filter(col("doc_id") < 8))).collect()
    assert(plain.forall(r => r.channels.isEmpty && r.sample_rate.isEmpty
      && r.duration_ms.isEmpty))
  }

  test("curation report partitions the corpus and bounds its stats") {
    val r = TextOps.curationReport(docs).cache()
    assert(r.agg(sum("n_docs")).collect()(0).getLong(0) == docs.count())
    assert(r.filter(!col("lang_pred").isin("en", "de", "fr", "es", "zh", "ru", "ar", "ko", "ja", "hi", "und")).count() == 0)
    assert(r.filter(col("avg_quality") < 0 || col("avg_quality") > 1).count() == 0)
    assert(r.filter(col("med_tokens") > col("p90_tokens")).count() == 0)
    r.unpersist()
  }

  test("incremental pairs never pair within a side and match the self-join across sides") {
    val odd = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    val even = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val inc = Dedup.minHashPairsAgainst(odd, even, threshold = 0.7).cache()
    // both endpoints respect their side
    assert(inc.filter(pmod(col("doc_new"), lit(2)) === 0).count() == 0)
    assert(inc.filter(pmod(col("doc_corpus"), lit(2)) === 1).count() == 0)
    // exactly the cross-parity subset of the full self-join pair set
    val full = Dedup.minHashPairs(docs, threshold = 0.7)
    val cross = full.filter(pmod(col("doc_a"), lit(2)) =!= pmod(col("doc_b"), lit(2)))
      .select(
        when(pmod(col("doc_a"), lit(2)) === 1, col("doc_a")).otherwise(col("doc_b")).as("doc_new"),
        when(pmod(col("doc_a"), lit(2)) === 1, col("doc_b")).otherwise(col("doc_a")).as("doc_corpus"),
        col("jaccard"))
    assert(inc.exceptAll(cross).count() == 0 && cross.exceptAll(inc).count() == 0)
    // the ingest keep = new side minus exactly the flagged doc_new ids
    val kept = Dedup.keepNewAgainst(odd, even, threshold = 0.7)
    val flagged = inc.select("doc_new").distinct().count()
    assert(kept.count() == odd.count() - flagged)
    full.unpersist(); inc.unpersist()
  }

  test("componentStats histograms cluster sizes; driver and distributed paths agree") {
    // two clusters: {1,2,3} (chain 1-2, 2-3) and {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = asMap(Dedup.componentStats(pairs))
    assert(local == Map(3L -> 1L, 2L -> 1L))
    assert(local == asMap(Dedup.componentStats(pairs, localThreshold = 0)))
  }

  test("unigram cross-entropy ranks natural text below gibberish; OOV hits the floor") {
    val ref = Seq.tabulate(50)(i => (i.toLong, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val probe = Seq(
      (100L, "the quick brown fox"),          // all in-vocab
      (101L, "zxqv wkjh qpzm vbnx")           // all OOV
    ).toDF("doc_id", "text")
    val scored = TextOps.crossEntropy(probe, ref, vocabK = 200)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(scored(100L)._2 < scored(101L)._2)
    assert(scored(100L)._1 == 4 && scored(101L)._1 == 4)
    // the all-OOV doc sits exactly on the smoothed floor: N = 50*9 = 450
    // ref tokens, floor = -ln(1/(450 + 200 + 1))
    val floor = math.log(651.0)
    assert(math.abs(scored(101L)._2 - floor) < 1e-4, s"${scored(101L)._2} vs $floor")
    // scoring the corpus against itself is total and deterministic
    val self = TextOps.crossEntropy(docs, docs, vocabK = 200).cache()
    assert(self.count() == docs.count())
    assert(self.filter(col("ce") <= 0).count() == 0)
    // release: a lingering cached copy of this exact plan would be
    // substituted into PlanShapeSpec's exchange-count pin (suite order
    // dependent) via the shared session's cache manager
    self.unpersist()
  }

  test("shardForTraining is a deterministic dense permutation per shard") {
    val n = docs.count()
    val s1 = Packing.shardForTraining(docs, shards = 8).cache()
    assert(s1.count() == n)                          // total, no dup/drop
    assert(s1.select("doc_id").distinct().count() == n)
    assert(s1.filter(col("shard") < 0 || col("shard") >= 8).count() == 0)
    // shard_pos is dense 0..n_s-1 within each shard
    val dense = s1.groupBy("shard").agg(
      count(lit(1)).as("c"), min("shard_pos").as("lo"), max("shard_pos").as("hi"),
      countDistinct("shard_pos").as("d"))
    assert(dense.filter(col("lo") =!= 0 || col("hi") =!= col("c") - 1 ||
      col("d") =!= col("c")).count() == 0)
    // reproducible run-over-run and under a different input partitioning
    val s2 = Packing.shardForTraining(docs.repartition(7), shards = 8)
    assert(s1.select("doc_id", "shard", "shard_pos")
      .exceptAll(s2.select("doc_id", "shard", "shard_pos")).count() == 0)
    s1.unpersist()
  }

  test("shardManifest conserves corpus totals and detects membership drift") {
    val m = Packing.shardManifest(docs, shards = 8).cache()
    assert(m.count() <= 8)
    // totals across shards = corpus totals
    val tot = m.agg(sum("n_docs"), sum("n_tokens"), sum("n_chars"))
      .collect()(0)
    assert(tot.getLong(0) == docs.count())
    val corpusToks = docs
      .agg(sum(TextOps.tokenCount(col("text")).cast("long"))).collect()(0).getLong(0)
    assert(tot.getLong(1) == corpusToks)
    // shard keys agree with shardForTraining's assignment
    val byAssign = Packing.shardForTraining(docs, shards = 8)
      .groupBy("shard").agg(count(lit(1)).as("c"))
    assert(m.select(col("shard"), col("n_docs").as("c"))
      .exceptAll(byAssign.select("shard", "c")).count() == 0)
    // dropping one doc shifts exactly that shard's fingerprint
    val dropped = Packing.shardManifest(
      docs.filter(col("doc_id") =!= 3L), shards = 8)
    val diff = m.select("shard", "fingerprint")
      .exceptAll(dropped.select("shard", "fingerprint")).collect()
    assert(diff.length == 1)
    m.unpersist()
  }

  test("multimodal feature extraction is deterministic and typed") {
    val f1 = Multimodal.featureTable(spark, docs).orderBy("media_id").collect()
    val f2 = Multimodal.featureTable(spark, docs).orderBy("media_id").collect()
    assert(f1.sameElements(f2))
    assert(f1.length == docs.count())
    val kinds = f1.map(_.getAs[String]("kind")).toSet
    assert(kinds == Set("image", "audio", "video"))
  }

  test("imageFeatures: real pixel decode matches the hand-computed spec values") {
    val got = Multimodal.imageFeatures(Multimodal.imageFixture(spark))
      .orderBy("media_id").collect()
    def row(id: Long) = got.find(_.getLong(0) == id).get
    // 1: hand-built BMP, gray columns v=16x — every value closed-form
    val r1 = row(1L)
    assert(r1.getBoolean(1) && r1.getString(2) == "bmp")
    assert(r1.getInt(3) == 8 && r1.getInt(4) == 8)
    assert(r1.getLong(5) == 0xF0F0F0F0F0F0F0F0L, s"ahash ${r1.getLong(5).toHexString}")
    assert(r1.getLong(6) == 0xFEFEFEFEFEFEFEFEL, s"dhash ${r1.getLong(6).toHexString}")
    assert(r1.getDouble(7) == 56.0 && r1.getDouble(8) == 56.0 &&
      r1.getDouble(9) == 56.0 && r1.getDouble(10) == 56.0)
    // 2: PNG 16×16 band gradient — exact 2×2 block means
    val r2 = row(2L)
    assert(r2.getBoolean(1) && r2.getString(2) == "png")
    assert(r2.getInt(3) == 16 && r2.getInt(4) == 16)
    assert(r2.getLong(5) == 0xFFFFFFFF00000000L)
    assert(r2.getLong(6) == 0L)
    assert(r2.getDouble(7) == 56.0 && r2.getDouble(10) == 56.0)
    // 3: GIF half/half — palette round-trip must be lossless
    val r3 = row(3L)
    assert(r3.getBoolean(1) && r3.getString(2) == "gif")
    assert(r3.getLong(5) == 0xF0F0F0F0F0F0F0F0L)
    assert(r3.getLong(6) == 0x1010101010101010L)
    assert(r3.getDouble(7) == 127.5 && r3.getDouble(10) == 127.5)
    // 4: solid JPEG — uniform decode → strictly-above-mean hashes are 0
    val r4 = row(4L)
    assert(r4.getBoolean(1) && r4.getString(2) == "jpeg")
    assert(r4.getInt(3) == 32 && r4.getInt(4) == 16)
    assert(r4.getLong(5) == 0L && r4.getLong(6) == 0L)
    // 5: corrupt bytes cost a null row, never a task
    val r5 = row(5L)
    assert(!r5.getBoolean(1) && r5.isNullAt(2) && r5.isNullAt(5))
    // 6: webp header probes as webp but the JDK has no reader
    val r6 = row(6L)
    assert(!r6.getBoolean(1) && r6.getString(2) == "webp" && r6.isNullAt(3))
  }

  test("image near-dup: aHash signatures + simhash banding find the planted pairs") {
    import org.apache.spark.sql.functions.col
    val sigs = Multimodal.imageFeatures(Multimodal.imageNearDupFixture(spark))
      .where(col("decode_ok"))
      .select(col("media_id").as("doc_id"), col("ahash").as("sig"))
    val pairs = Dedup.simHashPairsFromSignatures(sigs, maxDist = 3)
      .orderBy("doc_a").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((10L, 11L, 2), (12L, 13L, 0)), pairs.mkString(","))
  }

  test("pHash: spec literals, resize-copy equality, algebraic invariances") {
    import org.apache.spark.sql.functions.col
    // cross-implementation pin: an independent replica of the documented
    // spec (32×32 box downsample → orthonormal DCT-II → 8×8 block, 6dp
    // coefficient quantization, median of the 63 AC, strict >) produced
    // these literals from the fixture's analytic pixel grids
    val got = Multimodal.imageFeatures(Multimodal.pHashFixture(spark))
      .where(col("decode_ok")).select("media_id", "phash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(20L) == 7160629319854493870L, got(20L).toHexString)
    assert(got(21L) == 7160629319854493870L) // 2x nearest upscale == original
    assert(got(22L) == -6196766167432910336L)
    assert(got(23L) == 0L) // uniform: every AC at the median, no bits
    // algebraic invariances, straight from the DCT: a constant
    // brightness shift only moves the DC (excluded); a positive
    // contrast scale multiplies every AC coefficient and the median
    // together. Tested on a rich texture (no coefficient crowding at
    // the median) with headroom so the +20 shift cannot clip; doubling
    // is an exact integral positive scale
    def ph(w: Int, vals: (Int, Int) => Int): Long = {
      val luma = Array.tabulate(w * w)(i => vals(i % w, i / w))
      Multimodal.pHash64(w, w, luma)
    }
    def tex(x: Int, y: Int): Int = (x * 37 + y * 101 + x * y * 13) % 100
    val base = ph(16, tex)
    assert(ph(16, (x, y) => tex(x, y) + 20) == base,
      "brightness shift must not move pHash")
    assert(ph(16, (x, y) => tex(x, y) * 2) == base,
      "contrast scale must not move pHash")
    // a pure 1-D gradient legitimately hashes to 0: a monotone ramp's
    // AC spectrum lives in one row, so all 63 AC sit at/below the median
    assert(ph(8, (x, _) => 16 * x) == 0L)
  }

  test("orientLuma: all eight EXIF orientations match the hand table; " +
      "EXIF-bearing JPEG thumbnails re-orient on the wire") {
    import org.apache.spark.sql.functions.col
    // 2×3 grid rows [1,2],[3,4],[5,6] — every orientation hand-computed
    val g = Array(1, 2, 3, 4, 5, 6)
    def o(n: Int) = Multimodal.orientLuma(2, 3, g, n)
    assert(o(1) == ((2, 3, g)))
    assert(o(2)._3.toSeq == Seq(2, 1, 4, 3, 6, 5)) // flip-H
    assert(o(3)._3.toSeq == Seq(6, 5, 4, 3, 2, 1)) // rot 180
    assert(o(4)._3.toSeq == Seq(5, 6, 3, 4, 1, 2)) // flip-V
    assert(o(5)._1 == 3 && o(5)._3.toSeq == Seq(1, 3, 5, 2, 4, 6)) // transpose
    assert(o(6)._1 == 3 && o(6)._3.toSeq == Seq(5, 3, 1, 6, 4, 2)) // rot 90 CW
    assert(o(7)._1 == 3 && o(7)._3.toSeq == Seq(6, 4, 2, 5, 3, 1)) // transverse
    assert(o(8)._1 == 3 && o(8)._3.toSeq == Seq(2, 4, 6, 1, 3, 5)) // rot 270
    assert(o(0) == ((2, 3, g)) && o(9) == ((2, 3, g))) // unknown = identity
    // wire path: a JPEG (left half dark, right half bright) with an
    // APP1 Exif orientation tag spliced after SOI — orientation 6
    // (rotate 90 CW) moves the dark half to the TOP of the thumbnail
    def tiffOrient(ori: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8 + 2 + 12 + 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
      b.putShort(1)
      b.putShort(0x0112).putShort(3).putInt(1).putShort(ori.toShort).putShort(0)
      b.putInt(0)
      b.array()
    }
    def withExif(jpeg: Array[Byte], ori: Int): Array[Byte] = {
      val t = tiffOrient(ori)
      val b = java.nio.ByteBuffer.allocate(jpeg.length + 4 + 6 + t.length)
      b.put(jpeg, 0, 2) // SOI
      b.put(0xff.toByte).put(0xe1.toByte)
      b.putShort((2 + 6 + t.length).toShort)
      b.put("Exif".getBytes("US-ASCII")).put(0.toByte).put(0.toByte)
      b.put(t)
      b.put(jpeg, 2, jpeg.length - 2)
      b.array()
    }
    val jpeg = Multimodal.encodeImage("jpg", 32, 16,
      (x, _) => if (x < 16) (30 << 16) | (30 << 8) | 30
                else (220 << 16) | (220 << 8) | 220)
    val rows = Seq(40L -> withExif(jpeg, 6), 41L -> withExif(jpeg, 1),
      42L -> jpeg).toDF("media_id", "bytes")
    val got = Multimodal.imageThumbnailOriented(rows, 4, 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(2), r.getSeq[Double](3)))).toMap
    assert(got(40L)._1 == 6 && got(41L)._1 == 1 && got(42L)._1 == 1)
    def rowMean(t: Seq[Double], r: Int) = t.slice(r * 4, r * 4 + 4).sum / 4
    def colMean(t: Seq[Double], c: Int) = (0 until 4).map(r => t(r * 4 + c)).sum / 4
    val t6 = got(40L)._2
    assert(rowMean(t6, 0) < 100 && rowMean(t6, 3) > 150,
      s"rot90: dark top / bright bottom expected, got $t6")
    val t1 = got(41L)._2
    assert(colMean(t1, 0) < 100 && colMean(t1, 3) > 150,
      s"identity: dark left / bright right expected, got $t1")
    assert(got(41L)._2 == got(42L)._2) // exif-less ≡ orientation 1
  }

  test("decodeWavPcm: square-wave stats are closed-form; non-PCM and corrupt refuse") {
    val got = Multimodal.wavStats(Multimodal.wavPcmFixture(spark))
      .orderBy("media_id").collect()
    def row(id: Long) = got.find(_.getLong(0) == id).get
    (20L to 25L).foreach { id =>
      val amp = 1000 * (1 + (id % 3).toInt)
      val periods = 10 + (id % 5).toInt
      val r = row(id)
      assert(r.getBoolean(1), s"id $id")
      assert(r.getInt(2) == 1 && r.getInt(3) == 8000 && r.getInt(4) == 16)
      assert(r.getLong(5) == periods * 8L)
      assert(r.getLong(6) == periods * 8L * 1000 / 8000)
      assert(r.getDouble(7) == amp.toDouble, s"rms ${r.getDouble(7)} id $id")
      assert(r.getInt(8) == amp)
      assert(r.getLong(9) == 2L * periods - 1)
    }
    // 8-bit unsigned variant: samples ±50 around the 128 center
    val r26 = row(26L)
    assert(r26.getBoolean(1) && r26.getInt(4) == 8 && r26.getDouble(7) == 50.0 &&
      r26.getInt(8) == 50 && r26.getLong(9) == 19L)
    // stereo: stats read channel 0 (the silent channel 1 must not dilute)
    val r27 = row(27L)
    assert(r27.getBoolean(1) && r27.getInt(2) == 2 && r27.getDouble(7) == 3000.0)
    // IEEE-float WAV and corrupt bytes refuse cleanly
    assert(!row(28L).getBoolean(1) && row(28L).isNullAt(7))
    assert(!row(29L).getBoolean(1))
  }

  test("envHash64: closed-form bits, scale/resample invariance, edge shapes") {
    // fixture closed forms (same literals as the q_media_funcs3 oracle)
    val sigs = Multimodal.wavEnvelopeSigs(Multimodal.wavEnvelopeFixture(spark))
      .orderBy("media_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap
    assert(sigs(30L) == Some(4294967295L))
    assert(sigs(31L) == Some(4294967295L)) // 2x samples, 1/4 amplitude
    assert(sigs(32L) == Some(-4294967296L))
    assert(sigs(33L) == Some(4294967295L | (1L << 33)))
    assert(sigs(34L) == Some(0L)) // constant envelope → pinned 0
    // fewer samples than buckets: buckets repeat samples (boxDownsample's
    // at-least-one-pixel rule) — a 2-sample loud/quiet clip splits 32/32
    assert(Multimodal.envHash64(Array(100, 0)) == 4294967295L)
    assert(Multimodal.envHash64(Array(7)) == 0L) // single sample: constant
    assert(Multimodal.envHash64(Array.empty[Int]) == 0L)
    // sign never matters (envelope reads |s|)
    assert(Multimodal.envHash64(Array(-100, 100, 0, 0)) == 4294967295L)
    // non-PCM refuses through the WAV path
    assert(Multimodal.wavEnvelopeHash(Array[Byte](1, 2, 3)).isEmpty)
    // 8-bit path: loud first half (178/78 are ±50 around the 128 center,
    // envelope 50) then silence (128 → 0)
    val d8 = Array.tabulate(160)(f =>
      (if (f < 80) { if (f % 8 < 4) 178 else 78 } else 128).toByte)
    assert(Multimodal.wavEnvelopeHash(Multimodal.wavBytes(1, 8000, 8, 1, d8))
      .contains(4294967295L))
  }

  test("mp4Keyframes: fixture plans are closed-form; adversarial tables " +
      "refuse rather than emit garbage") {
    val plans = Multimodal.mp4Fixture(spark).collect()
      .map(r => r.getLong(0) -> Multimodal.mp4Keyframes(
        r.getAs[Array[Byte]](1))).toMap
    assert(plans(40L).get.map(f => (f.sample, f.time_ms, f.offset, f.size)) ==
      Vector((1, 0L, 1000L, 10L), (5, 400L, 2040L, 50L)))
    assert(plans(41L).get.map(f => (f.sample, f.time_ms, f.offset, f.size)) ==
      Vector((1, 0L, 5000L, 500L), (2, 400L, 5500L, 500L), (3, 800L, 9000L, 500L)))
    assert(plans(42L).isEmpty && plans(43L).isEmpty) // audio-only, corrupt
    // the cap is loud: a plan bigger than maxSamples refuses outright
    // instead of silently truncating
    val v40 = Multimodal.mp4Fixture(spark).collect()
      .find(_.getLong(0) == 40L).get.getAs[Array[Byte]](1)
    assert(Multimodal.mp4Keyframes(v40, maxSamples = 7).isEmpty)
    assert(Multimodal.mp4Keyframes(v40, maxSamples = 8).isDefined)
    // declared stss/stsz counts past their boxes refuse (bounds-checked
    // walk): corrupt the stss entry count in place
    val stssAt = {
      // locate 'stss' fourcc
      val pat = "stss".getBytes("US-ASCII")
      (0 until v40.length - 4).find(i => pat.indices.forall(j => v40(i + j) == pat(j))).get
    }
    val evil = v40.clone()
    evil(stssAt + 8) = 0x7f // entry count bytes live after fourcc+version/flags
    assert(Multimodal.mp4Keyframes(evil).isEmpty)
    // a chunk index past stco refuses: drop the second stco offset by
    // shrinking the declared entry count... (simpler: truncated buffer)
    assert(Multimodal.mp4Keyframes(v40.take(v40.length / 2)).isEmpty ||
      Multimodal.mp4Keyframes(v40.take(v40.length / 2)).get.isEmpty)
  }

  test("mp3FrameIndex: strict header walk, exact VBR times, complete " +
      "frames only, loud cap") {
    val rows = Multimodal.mp3Fixture(spark).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    def idx(id: Long) = Multimodal.mp3FrameIndex(rows(id))
      .map(_.map(f => (f.frame, f.time_ms, f.offset, f.size, f.kbps)))
    // CBR: 4 frames, 24 ms apart, uniform 192 B
    assert(idx(50L).get == Vector((1, 0L, 0L, 192, 64), (2, 24L, 192L, 192, 64),
      (3, 48L, 384L, 192, 64), (4, 72L, 576L, 192, 64)))
    // VBR behind ID3: per-frame bitrates and the padding slot land in
    // size/kbps; the walk stops at the trailing junk, times stay exact
    // (sample accumulation, not byte proportion)
    assert(idx(51L).get == Vector((1, 0L, 30L, 192, 64), (2, 24L, 222L, 288, 96),
      (3, 48L, 510L, 97, 32)))
    // truncated third frame: header present but body cut → NOT indexed
    assert(idx(52L).get == Vector((1, 0L, 0L, 192, 64), (2, 24L, 192L, 192, 64)))
    assert(idx(53L).isEmpty)
    // the cap refuses outright rather than silently truncating
    assert(Multimodal.mp3FrameIndex(rows(50L), maxFrames = 3).isEmpty)
    assert(Multimodal.mp3FrameIndex(rows(50L), maxFrames = 4).isDefined)
    // a stream whose ONLY frame is truncated has no indexable frames
    assert(Multimodal.mp3FrameIndex(rows(50L).take(100)).isEmpty)
    // probeMp3 still rides the shared header parser (regression guard)
    assert(Multimodal.probeMp3(rows(50L)).contains((2, 24000, 96L)))
  }

  test("wikiText: nested templates/tables/file-links strip, link labels " +
      "survive, headings and list markers become plain lines") {
    val src = "'''Alpha''' is a [[Greek alphabet|letter]]." +
      "{{Infobox|a=1|b={{nested}}}} See [[beta]].<ref name=\"x\">cite</ref>\n" +
      "== History ==\n* item one\n* item two\n" +
      "{| class=\"t\"\n|cell\n|}\n" +
      "External [http://e.com/x site] and " +
      "[[File:Pic.png|thumb|A [[caption]] here]] done."
    val out = Seq(src).toDF("w")
      .select(TextOps.wikiText(col("w"))).head.getString(0)
    assert(out == "Alpha is a letter. See beta.\nHistory\nitem one\n" +
      "item two\nExternal site and done.", out)
    def one(s: String): String = Seq(s).toDF("w")
      .select(TextOps.wikiText(col("w"))).head.getString(0)
    assert(one("a{{unclosed template c") == "a") // swallow-tail contract
    assert(one("see [not a link] here") == "see [not a link] here")
    assert(one("''italic'' and '''''bold-italic'''''") ==
      "italic and bold-italic")
    assert(one("bare [http://x.com/y] citation") == "bare citation")
    assert(one("2+2=4 stays, = at line start goes") == "2+2=4 stays, = at line start goes")
    assert(one("[//proto.rel/x rel label]") == "rel label")
    assert(one("[[Category:Things]]tail") == "tail")
    // tag-boundary guard: <refx> is NOT a ref (its tags strip as plain
    // html in the extractor, its text survives)
    assert(one("<REF>upper</REF>x<refx>not a ref</refx>") == "xnot a ref")
  }

  test("flacFrameIndex: CRC-8-gated sync scan, coded numbers, short last " +
      "block, variable blocking") {
    // CRC-8 poly 0x07 init 0: published check value for "123456789"
    assert(Multimodal.crc8("123456789".getBytes("US-ASCII"), 0, 9) == 0xf4)
    // coded-number forms: 1-byte, the fixture's 2-byte (256), a 3-byte
    // (4608), and a rejected bare continuation byte
    assert(Multimodal.flacCodedNumber(Array(0x2a).map(_.toByte), 0)
      .contains((42L, 1)))
    assert(Multimodal.flacCodedNumber(Array(0xc4, 0x80).map(_.toByte), 0)
      .contains((256L, 2)))
    assert(Multimodal.flacCodedNumber(Array(0xe1, 0x88, 0x80).map(_.toByte), 0)
      .contains((4608L, 3)))
    assert(Multimodal.flacCodedNumber(Array(0x80).map(_.toByte), 0).isEmpty)
    val rows = Multimodal.flacFixture(spark).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    def idx(id: Long) = Multimodal.flacFrameIndex(rows(id)).map(_.map(f =>
      (f.frame, f.number, f.block_size, f.rate, f.time_ms, f.offset, f.size)))
    assert(idx(80L).get == Vector(
      (1, 0L, 192, 24000, 0L, 42L, 26L),
      (2, 1L, 192, 24000, 8L, 68L, 26L),
      (3, 2L, 100, 24000, 16L, 94L, 17L)))
    assert(idx(81L).get == Vector(
      (1, 0L, 256, 44100, 0L, 42L, 21L),
      (2, 256L, 256, 44100, 5L, 63L, 16L)))
    assert(idx(82L).isEmpty && idx(83L).isEmpty)
    // loud cap; truncating the last frame's header drops only that frame
    assert(Multimodal.flacFrameIndex(rows(80L), maxFrames = 2).isEmpty)
    assert(Multimodal.flacFrameIndex(rows(80L).take(95)).get.length == 2)
    // a corrupted CRC rejects the frame (header otherwise valid)
    val evil = rows(81L).clone()
    evil(42 + 5) = (evil(42 + 5) ^ 0x01).toByte // frame 1's CRC byte
    assert(Multimodal.flacFrameIndex(evil).get.map(_.number) == Vector(256L))
  }

  test("latexText: comments/math/floats drop, sections become lines, " +
      "unknown commands keep braced content, escapes survive") {
    def one(s: String): String = Seq(s).toDF("w")
      .select(TextOps.latexText(col("w"))).head.getString(0)
    val src = "\\documentclass{article}\n\\usepackage{amsmath}\n" +
      "\\title{A Study of Things}\n\\begin{document}\n\\maketitle\n" +
      "\\section{Intro}\nWe study $x^2 + y$ things~\\cite{smith2020}.\n" +
      "\\textbf{Bold claim} holds.\n% a comment line\n" +
      "\\begin{equation}\nE = mc^2\n\\end{equation}\n" +
      "The result is 42\\%.\n\\begin{itemize}\n\\item first point\n" +
      "\\item second point\n\\end{itemize}\n" +
      "See \\href{http://x.org}{the site}.\n\\end{document}\n"
    assert(one(src) == "A Study of Things\nIntro\nWe study things .\n" +
      "Bold claim holds.\nThe result is 42%.\nfirst point\nsecond point\n" +
      "See the site.", one(src).replace("\n", "\\n"))
    assert(one("inline \\(a+b\\) and display \\[x=1\\] both drop") ==
      "inline and display both drop")
    assert(one("a $$e=mc^2$$ b") == "a b")
    assert(one("escaped \\$5 and \\& and \\{x\\}") == "escaped $5 and & and {x}")
    assert(one("broken $math never closes") == "broken")
    assert(one("\\unknowncmd[opt]{kept text}") == "kept text")
    assert(one("row one\\\\row two") == "row one\nrow two")
  }

  test("wavSegments: relative-threshold energy spans, silence-gap merge, " +
      "all-silence is empty not unparseable") {
    val rows = Multimodal.wavSegFixture(spark).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    // default 200 ms silence floor: the 150 ms gap merges, active-only
    // rms = sqrt((20·1000² + 10·2000²)/30) = sqrt(2e6)
    val merged = Multimodal.wavSegments(rows(110L)).get
    assert(merged.map(s => (s.segment, s.start_ms, s.end_ms, s.active_ms)) ==
      Vector((1, 100L, 550L, 300L)))
    assert(math.abs(merged.head.rms - math.sqrt(2e6)) < 1e-9)
    // a 100 ms floor splits them; constant tones read their amplitude
    val split = Multimodal.wavSegments(rows(110L), minSilenceMs = 100).get
    assert(split == Vector(
      Multimodal.WavSegment(1, 100L, 300L, 200L, 1000.0),
      Multimodal.WavSegment(2, 450L, 550L, 100L, 2000.0)))
    assert(Multimodal.wavSegments(rows(111L)).get.isEmpty)
    assert(Multimodal.wavSegments(rows(112L)).isEmpty)
    // a silence floor below one frame must NOT split adjacent active
    // windows — only actual silence splits (regression: gapWins=0)
    assert(Multimodal.wavSegments(rows(110L), minSilenceMs = 5).get
      .map(_.segment) == Vector(1, 2))
    // times are sample-exact: at 11025 Hz spf truncates to 110 and the
    // 20th window starts at sample 2200 → 199 ms (window-count ms would
    // claim 200 and drift ~2.3 s/min)
    val odd = {
      val d = Array.tabulate(11025)(i =>
        (if (i < 2200) 0 else if (i % 8 < 4) 1000 else -1000).toShort)
      val bb = java.nio.ByteBuffer.allocate(d.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      d.foreach(bb.putShort)
      Multimodal.wavBytes(1, 11025, 16, 1, bb.array())
    }
    assert(Multimodal.wavSegments(odd).get.head.start_ms == 2200L * 1000 / 11025)
    // plan routing: all-silence keeps its decoded row, corrupt flags
    val plan = Multimodal.wavSegmentPlan(Multimodal.wavSegFixture(spark))
      .orderBy("media_id").collect()
    assert(plan.length == 3)
    assert(plan(1).getBoolean(1) && plan(1).isNullAt(2))
    assert(!plan(2).getBoolean(1))
  }

  test("gifAnimation: block walk reads frames/delays/loops, refuses " +
      "truncation and unknown blocks, parses real ImageIO output") {
    val rows = Multimodal.gifAnimFixture(spark).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(Multimodal.gifAnimation(rows(60L))
      .contains(Multimodal.GifAnim(3, 350L, Some(0))))
    assert(Multimodal.gifAnimation(rows(61L))
      .contains(Multimodal.GifAnim(1, 0L, None)))
    assert(Multimodal.gifAnimation(rows(62L)).isEmpty) // no trailer
    assert(Multimodal.gifAnimation(rows(63L)).isEmpty)
    // loud frame cap refuses rather than truncating
    assert(Multimodal.gifAnimation(rows(60L), maxFrames = 2).isEmpty)
    // corrupting a block introducer to an unknown type refuses outright
    val evil = rows(61L).clone()
    evil(19) = 0x7e // the lone image descriptor's 0x2C introducer
    assert(evil.length == 19 + 15 + 1) // fixture layout guard for the index
    assert(Multimodal.gifAnimation(evil).isEmpty)
    // a real encoder's output (JDK ImageIO static GIF) walks cleanly
    val real = Multimodal.encodeImage("gif", 8, 8, (x, _) =>
      if (x < 4) 0 else 0xffffff)
    val parsed = Multimodal.gifAnimation(real)
    assert(parsed.exists(_.frames == 1))
  }

  test("chunkDocs windows words with overlap; short docs yield one chunk") {
    val df = Seq(
      (1L, (1 to 50).map(i => s"w$i").mkString(" ")),
      (2L, "a  b \n c")).toDF("doc_id", "text")
    val out = TextOps.chunkDocs(df, maxTokens = 20, overlap = 4)
      .orderBy("doc_id", "chunk_id").collect()
    // doc1: n=50, step=16 → chunks at 0/16/32 with 20,20,18 tokens
    val d1 = out.filter(_.getLong(0) == 1L)
    assert(d1.map(_.getInt(1)).toSeq == Seq(0, 1, 2))
    assert(d1.map(_.getInt(3)).toSeq == Seq(20, 20, 18))
    assert(d1(0).getString(2).startsWith("w1 ") && d1(2).getString(2).endsWith(" w50"))
    // consecutive chunks share exactly the 4-word overlap
    val c0 = d1(0).getString(2).split(" "); val c1 = d1(1).getString(2).split(" ")
    assert(c0.takeRight(4).sameElements(c1.take(4)))
    // every word covered exactly once modulo overlaps
    assert((c0 ++ c1.drop(4) ++ d1(2).getString(2).split(" ").drop(4)).toSeq ==
      (1 to 50).map(i => s"w$i"))
    // doc2: whitespace (incl. newline) normalized, one chunk
    val d2 = out.filter(_.getLong(0) == 2L)
    assert(d2.length == 1 && d2(0).getString(2) == "a b c" && d2(0).getInt(3) == 3)
  }

  test("scoreLinear is a calibrated monotone sigmoid over its features") {
    val df = Seq((1L, 0.0), (2L, 1.0), (3L, 2.0)).toDF("id", "f")
    // zero weights → exactly 0.5 everywhere
    val flat = TextOps.scoreLinear(df, Seq(col("f") -> 0.0))
      .select("clf_score").collect().map(_.getDouble(0))
    assert(flat.forall(_ == 0.5))
    // positive weight → strictly increasing in the feature; bias shifts
    val s = TextOps.scoreLinear(df, Seq(col("f") -> 2.0), bias = -2.0)
      .orderBy("id").select("clf_score").collect().map(_.getDouble(0))
    assert(s(0) < s(1) && s(1) < s(2))
    assert(math.abs(s(0) - 1.0 / (1.0 + math.exp(2.0))) < 1e-6)
    assert(math.abs(s(1) - 0.5) < 1e-6) // -2 + 1*2 = 0
  }

  test("robotsAllowed: RFC wildcards, UA case-insensitive, root disallow") {
    val rules = Seq(
      ("h.com", "CrawlerX", "disallow", "/a*b", 1), // '*' = any run
      ("h.com", "CrawlerX", "disallow", "/exact/", 2),
      ("h.com", "CrawlerX", "disallow", "/end$", 3), // trailing anchor
      ("h.com", "CrawlerX", "disallow", "/*?sid=", 4), // matches the query
      ("h.com", "*", "disallow", "/", 5)) // shadowed by the own-UA group
      .toDF("host", "user_agent", "directive", "value", "line_no")
    val urls = Seq("http://h.com/a-then-b", "http://h.com/exact/x",
      "http://h.com/elsewhere", "http://h.com/end", "http://h.com/end2",
      "http://h.com/p?sid=9").toDF("url")
    val got = WebOps.robotsAllowed(urls, rules, "crawlerx")
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    // the * group's root disallow never applies to a UA with its own group
    assert(got == Map("http://h.com/a-then-b" -> false,
      "http://h.com/exact/x" -> false, "http://h.com/elsewhere" -> true,
      "http://h.com/end" -> false, "http://h.com/end2" -> true,
      "http://h.com/p?sid=9" -> false), got)
  }

  test("robotsAllowed: own-UA group with only crawl-delay suppresses *") {
    // RFC 9309: a declared own-UA group with no allow/disallow rules means
    // allow-all — the '*' group's rules must NOT leak through
    val rules = Seq(
      ("h.com", "mybot", "crawl-delay", "5", 1),
      ("h.com", "*", "disallow", "/", 2))
      .toDF("host", "user_agent", "directive", "value", "line_no")
    val urls = Seq("http://h.com/anything").toDF("url")
    assert(WebOps.robotsAllowed(urls, rules, "mybot")
      .head.getBoolean(1), "own group with only crawl-delay = allow-all")
    assert(!WebOps.robotsAllowed(urls, rules, "otherbot")
      .head.getBoolean(1), "* group still gates UAs without an own group")
  }

  test("robotsAllowed/crawlDelay: RFC 9309 product-token PREFIX election") {
    // crawler 'googlebot-news' matches groups 'googlebot' (prefix) and
    // 'googlebot-news' (exact = longest prefix); the LONGEST wins, and
    // any own-prefix group suppresses '*'. 'googlebot' alone elects its
    // own exact group, never the longer 'googlebot-news' one.
    val rules = Seq(
      ("h.com", "googlebot", "disallow", "/g/", 1),
      ("h.com", "googlebot-news", "disallow", "/news/", 2),
      ("h.com", "googlebot", "crawl-delay", "2", 3),
      ("h.com", "googlebot-news", "crawl-delay", "7", 4),
      ("h.com", "*", "disallow", "/", 5))
      .toDF("host", "user_agent", "directive", "value", "line_no")
    val urls = Seq("http://h.com/g/x", "http://h.com/news/x",
      "http://h.com/other").toDF("url")
    def decide(ua: String) = WebOps.robotsAllowed(urls, rules, ua)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(decide("Googlebot-News") == Map(
      "http://h.com/g/x" -> true,       // 'googlebot' group NOT elected
      "http://h.com/news/x" -> false,   // longest own prefix governs
      "http://h.com/other" -> true), decide("Googlebot-News"))
    assert(decide("googlebot") == Map(
      "http://h.com/g/x" -> false,      // own exact group
      "http://h.com/news/x" -> true,    // longer token is NOT a prefix
      "http://h.com/other" -> true), decide("googlebot"))
    assert(decide("unrelatedbot") ==    // no own prefix → '*' root block
      urls.collect().map(_.getString(0) -> false).toMap)
    val d = WebOps.crawlDelay(rules, "googlebot-news")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(d == Map("h.com" -> 7.0), d) // elected group's delay, not max-of-all
  }

  test("robotsAllowed never shuffles the frontier (broadcast + fold plan)") {
    val rules = Seq(("h.com", "*", "disallow", "/private/", 1))
      .toDF("host", "user_agent", "directive", "value", "line_no")
    val urls = Seq("http://h.com/a", "http://h.com/private/b").toDF("url")
    val plan = WebOps.robotsAllowed(urls, rules, "bot")
      .queryExecution.executedPlan.toString
    // the decision is a broadcast hash join + per-row aggregate fold: the
    // only hash exchange allowed is the KB-sized RULES aggregation
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Window"), s"no window over the frontier:\n$plan")
    val exchanges = "Exchange hashpartitioning\\(([a-zA-Z_#0-9]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(exchanges.forall(k => k.startsWith("host") || k.startsWith("__rhost")),
      s"frontier-side hash exchange found: $exchanges\n$plan")
  }

  test("registeredDomainPsl never shuffles the corpus (broadcast PSL plan)") {
    val psl = Seq("com", "co.uk").toDF("suffix")
    val urls = Seq("http://a.example.com/x").toDF("url")
    val plan = WebOps.registeredDomainPsl(urls, psl)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    val exchanges = "Exchange hashpartitioning\\(([a-zA-Z_#0-9]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(exchanges.forall(_.startsWith("__ptld")),
      s"corpus-side hash exchange found: $exchanges\n$plan")
  }

  test("registeredDomainPsl: PSL semantics with builtin fallback") {
    val psl = Seq("com", "io", "github.io", "ck", "*.ck", "!www.ck")
      .toDF("suffix")
    val urls = Seq("https://user.github.io/repo", "http://github.io/",
      "http://foo.bar.ck/", "http://www.ck/", "http://sub.example.com",
      "http://x.example.zz/unlisted-tld").toDF("url")
    val got = WebOps.registeredDomainPsl(urls, psl)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map(
      "https://user.github.io/repo" -> "user.github.io", // private registry
      "http://github.io/" -> null, // IS a public suffix
      "http://foo.bar.ck/" -> "foo.bar.ck", // wildcard *.ck
      "http://www.ck/" -> "www.ck", // exception !www.ck
      "http://sub.example.com" -> "example.com",
      "http://x.example.zz/unlisted-tld" -> "example.zz"), got) // fallback
  }

  test("removeDupSpansAgainst deletes corpus-owned spans everywhere, " +
      "batch dups keep first occurrence") {
    val corpus = Seq((100L, "aa bb cc dd tail1 tail2")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "aa bb cc dd unique1 unique2"),  // corpus-owned span: deleted
      (2L, "xx yy zz ww other1 other2"),    // batch-dup FIRST: kept
      (3L, "pre0 xx yy zz ww other3")       // batch-dup second: deleted
    ).toDF("doc_id", "text")
    val sigs = TextOps.spanSignatures(corpus, n = 4)
    val r = TextOps.removeDupSpansAgainst(batch, sigs, n = 4).collect()
      .map(x => x.getLong(0) -> ((x.getString(1), x.getLong(3)))).toMap
    // doc 1: windows at 0..2 include "aa bb cc dd" (in corpus) → words
    // 0..3 deleted; 2-word tail survives
    assert(r(1L) == (("unique1 unique2", 4L)), r(1L))
    // doc 2 holds the batch-first occurrence of "xx yy zz ww" → intact
    assert(r(2L) == (("xx yy zz ww other1 other2", 0L)), r(2L))
    // doc 3's copy is non-first → its 4 covered words delete
    assert(r(3L) == (("pre0 other3", 4L)), r(3L))
    // appended snapshots accumulate DUPLICATE hashes in the signature
    // table; results must match the unique-signature run exactly (the
    // join side dedups internally — no duplicated occurrence rows)
    val dupSigs = sigs.unionAll(sigs).unionAll(sigs)
    val r2 = TextOps.removeDupSpansAgainst(batch, dupSigs, n = 4).collect()
      .map(x => x.getLong(0) -> ((x.getString(1), x.getLong(3)))).toMap
    assert(r2 == r, s"duplicate signatures changed results: $r2 vs $r")
    // batch-internal election orders by (id, pos), negative ids first;
    // empty and null text pass through, counted as in removeDupSpans
    val edge = TextOps.removeDupSpansAgainst(Seq(
      (1L, "xx yy zz ww"),
      (-6L, "pre xx yy zz ww"),
      (3L, ""),
      (8L, null.asInstanceOf[String])).toDF("doc_id", "text"), sigs, n = 4)
      .collect().map(x => x.getLong(0) -> x.toSeq.tail).toMap
    assert(edge == Map(1L -> Seq("", 4L, 4L), -6L -> Seq("pre xx yy zz ww", 5L, 0L),
      3L -> Seq("", 1L, 0L), 8L -> Seq("", null, null)), edge)
  }

  test("langSegments: char-weighted primary language, mixed-doc detection") {
    val en = "the cat and the dog went to that house with the mouse" // 53 ch
    val de = "der hund und die katze ist nicht mit der maus hier" // 50 ch
    val docs = Seq(
      (1L, s"$en\n\n$de"),          // mixed: en wins by chars (53 > 50)
      (2L, en),                      // pure en
      (3L, null.asInstanceOf[String]), // preserved, no vote
      (4L, "short\n\ntiny")          // all paragraphs under minChars
    ).toDF("doc_id", "text")
    val r = TextOps.langSegments(docs).collect()
      .map(x => x.getLong(0) -> ((x.getString(1),
        if (x.isNullAt(2)) null else x.getDouble(2),
        x.getLong(3), x.getLong(4)))).toMap
    val frac = BigDecimal(en.length.toDouble / (en.length + de.length))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r(1L) == (("en", frac, 2L, 2L)), r(1L))
    assert(r(2L) == (("en", 1.0, 1L, 1L)), r(2L))
    assert(r(3L) == (("und", null, 0L, 0L)), r(3L))
    assert(r(4L) == (("und", null, 0L, 0L)), r(4L))
  }

  test("fertilityReport: tokens/word and chars/token per group") {
    val docs = Seq(
      (1L, "aaaa bb cc", "s1", 5L),  // 3 words, 8 chars, 5 tokens
      (2L, "dd ee", "s1", 3L),       // 2 words, 4 chars, 3 tokens
      (3L, null.asInstanceOf[String], "s2", 0L) // null text: zeroes
    ).toDF("doc_id", "text", "src", "ntok")
    val r = Bpe.fertilityReport(docs, col("ntok"), groupCols = Seq("src"))
      .collect().map(x => x.getString(0) -> x).toMap
    val s1 = r("s1")
    assert(s1.getLong(1) == 2L && s1.getLong(2) == 5L &&
      s1.getLong(3) == 8L && s1.getLong(4) == 12L, s1)
    assert(s1.getDouble(5) == 1.6)            // 8 tokens / 5 words
    assert(s1.getDouble(6) == 1.5)            // 12 chars / 8 tokens
    val s2 = r("s2")
    assert(s2.getLong(1) == 1L && s2.getLong(2) == 0L && s2.getLong(3) == 0L)
    assert(s2.isNullAt(5) && s2.isNullAt(6), "zero denominators yield null")
    // ungrouped: one 'corpus' row over everything
    val all = Bpe.fertilityReport(docs, col("ntok")).collect()
    assert(all.length == 1 && all(0).getString(0) == "corpus" &&
      all(0).getLong(1) == 3L, all.toSeq)
  }

  test("codeFlags routes code to code, prose to prose") {
    val df = Seq(
      (1L, "def main():\n    print('hi')\n    return 0"), // python
      (2L, "int x = 1;\nif (x) {\n  y();\n}"),            // C-style
      (3L, "Plain prose with words.\nAnother sentence here, nothing more."),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = TextOps.codeFlags(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(r.fieldIndex("n_lines")),
        r.getBoolean(r.fieldIndex("flag_code"))))).toMap
    assert(got(1L) == ((3L, true)), got(1L))  // indent + def + return
    assert(got(2L) == ((4L, true)), got(2L))  // ;{} endings + symbols
    assert(got(3L)._2 == false, got(3L))
    assert(got(4L) == ((0L, false)), got(4L)) // null text: zeroes, no flag
  }

  test("markdownToText: hand-computed extraction over adversarial markdown") {
    def x(md: String): String =
      Seq(md).toDF("t").select(TextOps.markdownToText(col("t")).as("c"))
        .head.getString(0)
    assert(x("# Title\nbody") == "Title\nbody")
    assert(x("**bold** and *ital* and ~~gone~~") == "bold and ital and gone")
    assert(x("a _em_ b") == "a em b")
    assert(x("snake_case stays_intact here") == "snake_case stays_intact here")
    assert(x("[text](http://u) ![alt](i.png) [r][1] <http://auto>") ==
      "text alt r http://auto")
    assert(x("`code()` inline") == "code() inline")
    assert(x("before\n```scala\nval x = 1\n```\nafter") == "before\n\nafter")
    assert(x("unclosed\n```\nrest is code") == "unclosed") // fence to EOF
    assert(x("> quoted\n>> nested") == "quoted\n> nested")
    assert(x("- one\n* two\n3. three") == "one\ntwo\nthree")
    assert(x("| a | b |\n| --- | --- |\n| c | d |") == "a b \n\n c d")
    assert(x("Setext\n===\n---") == "Setext")
  }

  test("text hygiene: NFC unifies byte-distinct lookalikes; cleanups are surgical") {
    val r = Seq(
      ("cafe\u0301", "caf\u00e9"), // decomposed vs composed
      ("stra\u00dfe", "stra\u00dfe")).toDF("a", "b")
      .select(
        (TextOps.fingerprint(TextOps.nfcNormalize(col("a"))) ===
          TextOps.fingerprint(TextOps.nfcNormalize(col("b")))).as("same"))
      .collect().map(_.getBoolean(0))
    assert(r.forall(identity), "NFC must unify composed/decomposed twins")
    val cleaned = Seq(("exam-\nple soft\u00ADhyphen stays-inline a-\n1"))
      .toDF("t")
      .select(TextOps.dehyphenate(TextOps.stripInvisible(col("t"))).as("c"))
      .head.getString(0)
    // hyphen-linebreak joins; soft hyphen vanishes; inline compound and
    // letter-digit breaks stay
    assert(cleaned == "example softhyphen stays-inline a-\n1", cleaned)
  }

  test("dropDupParagraphs: first occurrence survives, short paras exempt, empty docs kept") {
    val docs = Seq(
      (1L, "the first unique paragraph body here\n\nshared paragraph content across documents\n\nhdr"),
      (2L, "shared paragraph content across documents\n\nanother unique paragraph body text"),
      (3L, "shared paragraph content across documents"),
      (4L, "hdr") // short paragraph duplicated in doc 1 — exempt both places
    ).toDF("doc_id", "text")
    val out = Dedup.dropDupParagraphs(docs, minChars = 10)
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1 holds the first occurrence of the shared paragraph → untouched
    assert(out(1L).getString(1) ==
      "the first unique paragraph body here\n\nshared paragraph content across documents\n\nhdr")
    assert(out(1L).getLong(2) == 3 && out(1L).getLong(3) == 0)
    // docs 2 and 3 lose their copy; doc 3 survives with empty text
    assert(out(2L).getString(1) == "another unique paragraph body text" &&
      out(2L).getLong(3) == 1)
    assert(out(3L).getString(1) == "" && out(3L).getLong(3) == 1)
    // "hdr" is under minChars: kept everywhere despite being duplicated
    assert(out(4L).getString(1) == "hdr" && out(4L).getLong(3) == 0)
  }

  test("dropDupParagraphsAgainst: corpus-owned paragraphs delete everywhere, " +
      "batch dups keep first, short paras exempt, duplicate signatures harmless") {
    val pA = "this corpus paragraph is long enough to count" // corpus-owned
    val pB = "a brand new batch paragraph nobody has seen yet"
    val pC = "another fresh paragraph duplicated within the batch"
    val corpus = Seq((100L, pA)).toDF("doc_id", "text")
    val sigs = Dedup.paragraphSignatures(corpus, minChars = 10)
    val batch = Seq(
      (1L, s"$pA\n\n$pB"),       // corpus-owned first para: deleted
      (2L, s"$pC\n\nshort"),     // batch-first pC kept; short exempt
      (3L, s"$pC\n\n$pA")        // non-first pC AND corpus pA: both go
    ).toDF("doc_id", "text")
    val r = Dedup.dropDupParagraphsAgainst(batch, sigs, minChars = 10)
      .collect().map(x => x.getLong(0) ->
        ((x.getString(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r(1L) == ((pB, 2L, 1L)), r(1L))
    assert(r(2L) == ((s"$pC\n\nshort", 2L, 0L)), r(2L))
    assert(r(3L) == (("", 2L, 2L)), r(3L))
    // triplicated signature table must not change results
    val r2 = Dedup.dropDupParagraphsAgainst(batch,
        sigs.unionAll(sigs).unionAll(sigs), minChars = 10)
      .collect().map(x => x.getLong(0) ->
        ((x.getString(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r2 == r, s"duplicate signatures changed results: $r2 vs $r")
  }

  test("dropDupParagraphs preserves null-text documents") {
    // a NULL text must not vanish from the output (posexplode of a null
    // split array would silently drop the row) — it survives with empty
    // clean_text, matching the every-input-row-survives family contract
    val docs = Seq((1L, "some unique paragraph body"), (2L, null))
      .toDF("doc_id", "text")
    val out = Dedup.dropDupParagraphs(docs, minChars = 10)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size == 2, s"null-text doc dropped: ${out.keys}")
    assert(out(2L).getString(1) == "" && out(2L).getLong(3) == 0)
  }

  test("dropRepeatedLines keeps first occurrences and blank separators") {
    val df = Seq(
      (1L, "a\n\nbb\na\n\nbb\ncc"),
      (2L, "x\ny\nz")).toDF("doc_id", "text")
    val out = Dedup.dropRepeatedLines(df).orderBy("doc_id")
      .collect().map(_.getString(1))
    assert(out(0) == "a\n\nbb\n\ncc") // repeats drop, blanks + order survive
    assert(out(1) == "x\ny\nz")       // no repeats → unchanged
    // minChars guard: short lines repeat legitimately
    val kept = Dedup.dropRepeatedLines(
      Seq((1L, "-\nlong line here\n-\nlong line here")).toDF("doc_id", "text"),
      minChars = 2).collect()(0).getString(1)
    assert(kept == "-\nlong line here\n-")
  }

  test("fanoutParts sizes the n-gram window shuffle to the window fan-out") {
    // small input: the cheap plan-stats gate returns the session setting
    // WITHOUT running the sample job
    val small = Seq((1L, "a b c")).toDF("doc_id", "text")
    val session = spark.sessionState.conf.numShufflePartitions
    assert(TextOps.fanoutParts(small, "text") == session)
    // 2M docs x 40 words -> ~80M slim window rows: partitions must scale
    // past the session setting and stay under the 4096 cap
    val big = spark.range(2000000).select(col("id").as("doc_id"),
      concat_ws(" ", (1 to 40).map(i => lit(s"w$i")): _*).as("text"))
    val p = TextOps.fanoutParts(big, "text")
    assert(p > session && p <= 4096, s"resolved $p")
    // null text in the sampled prefix must not crash the probe
    // (size(split(null)) is NULL under ANSI; the probe coalesces) —
    // nulls count as zero words, only shrinking the estimate
    val withNulls = spark.range(2000000).select(col("id").as("doc_id"),
      when(col("id") % 2 === 0, lit(null).cast("string"))
        .otherwise(concat_ws(" ",
          (1 to 40).map(i => lit(s"w$i")): _*)).as("text"))
    val pn = TextOps.fanoutParts(withNulls, "text")
    assert(pn >= session && pn <= p, s"resolved $pn (all-text: $p)")
    // joined inputs: Catalyst's multiplicative join estimate (a 3-way
    // self-join of KBs estimates GBs+) must NOT blow the sizing to the
    // 4096 cap — the leaf row bound clamps it back to reality
    val base = spark.range(2000).select(col("id").as("doc_id"),
      concat_ws(" ", (1 to 10).map(i => lit(s"w$i")): _*).as("text"))
    val joined = base.join(base.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("t2")), "doc_id")
      .join(base.select((col("doc_id") - 2).as("doc_id"),
        col("text").as("t3")), "doc_id")
      .select(col("doc_id"), concat_ws(" ", col("text"), col("t2"), col("t3")).as("text"))
    assert(TextOps.volumeParts(joined, targetBytes = 8L << 20) == session,
      "join-estimate blow-up must be clamped by leaf sizes")
    assert(TextOps.fanoutParts(joined, "text") == session)
  }

  test("dupSpans flags shared windows, not unique text") {
    // doc 1 and 2 share one exact 4-word span inside otherwise-unique
    // text; doc 3 is a full copy of doc 1; doc 4 shares nothing
    val df = Seq(
      (1L, "aa bb cc dd unique1 unique2 unique3"),
      (2L, "other0 aa bb cc dd other1 other2"),
      (3L, "aa bb cc dd unique1 unique2 unique3"),
      (4L, "zz yy xx ww vv uu tt")).toDF("doc_id", "text")
    val r = TextOps.dupSpans(df, n = 4)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(1L) == (4L, 4L)) // full copy of doc 3 → every window shared
    assert(r(3L) == (4L, 4L))
    assert(r(2L) == (4L, 1L)) // exactly the embedded span
    assert(r(4L) == (4L, 0L))
    // short doc: whole text is the single window
    val s = TextOps.dupSpans(
      Seq((1L, "one two"), (2L, "one two")).toDF("doc_id", "text"), n = 50)
      .collect().map(x => (x.getLong(1), x.getLong(2), x.getDouble(3)))
    assert(s.forall(_ == (1L, 1L, 1.0)))
    // empty and null text have no windows, so no row; a negative id
    // shares windows like any other
    val e = TextOps.dupSpans(Seq(
      (1L, "aa bb cc dd"),
      (-6L, "pre aa bb cc dd"),
      (3L, ""),
      (8L, null.asInstanceOf[String])).toDF("doc_id", "text"), n = 4)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3))))
      .toMap
    assert(e == Map(1L -> ((1L, 1L, 1.0)), -6L -> ((2L, 1L, 0.5))), e)
  }

  test("hybridTopK fuses lexical and semantic ranks with RRF") {
    // doc 1 is the lexical match (shares every query term, orthogonal
    // embedding); doc 2 is the semantic match (identical vector, disjoint
    // text); doc 3 matches neither modality's top spot
    val d = Seq(
      (1L, "quick brown fox jumps"),
      (2L, "totally different words here"),
      (3L, "unrelated filler text")).toDF("doc_id", "text")
    val e = Seq(
      (1L, Array(0.0f, 1.0f)),
      (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.0f, -1.0f))).toDF("vec_id", "embedding")
    val q = Seq((100L, "quick brown fox jumps", Array(1.0f, 0.0f)))
      .toDF("query_id", "qtext", "embedding")
    val r = Similarity.hybridTopK(d, e, q, k = 3, poolK = 3).collect()
      .map(x => x.getLong(1) -> x).toMap
    assert(r(1L).getInt(2) == 1)      // lexical winner
    assert(r(2L).getInt(3) == 1)      // semantic winner
    assert(r(2L).isNullAt(2))         // no shared term → outside the lex pool
    // both-modality doc fuses ahead of either single-modality doc
    assert(r(1L).getInt(5) == 1 && r(2L).getInt(5) == 2 && r(3L).getInt(5) == 3)
    // rrf arithmetic: doc1 = 1/61 + 1/62, doc2 = 1/61 (missing → 0)
    assert(r(1L).getDouble(4) == 0.032522)
    assert(r(2L).getDouble(4) == 0.016393)
  }

  test("hybridTopK: pluggable ANN retriever fuses identically when its pool " +
      "contains the brute-force pool; self-matches excluded symmetrically") {
    val d = Seq(
      (1L, "quick brown fox jumps"),
      (2L, "totally different words here"),
      (3L, "unrelated filler text")).toDF("doc_id", "text")
    val e = Seq(
      (1L, Array(0.0f, 1.0f)),
      (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.0f, -1.0f))).toDF("vec_id", "embedding")
    val q = Seq((100L, "quick brown fox jumps", Array(1.0f, 0.0f)))
      .toDF("query_id", "qtext", "embedding")
    val base = Similarity.hybridTopK(d, e, q, k = 3, poolK = 3)
      .orderBy("rank").collect().toSeq
    // full-probe IVF returns the exact brute-force pool → fusion equal
    val viaIvf = Similarity.hybridTopK(d, e, q, k = 3, poolK = 3,
        semRetriever = (c, qq, n) => Similarity.topKIvf(c, qq, k = n,
          nlist = 2, nprobe = 2))
      .orderBy("rank").collect().toSeq
    assert(viaIvf == base, s"ANN-pool fusion diverged:\n$base\n$viaIvf")
    // colliding id spaces: the query doc (id 1 queries with its own text
    // and vector) is dropped from BOTH pools — no asymmetric null rank
    val qSelf = Seq((1L, "quick brown fox jumps", Array(0.0f, 1.0f)))
      .toDF("query_id", "qtext", "embedding")
    val self = Similarity.hybridTopK(d, e, qSelf, k = 3, poolK = 3).collect()
    assert(!self.exists(_.getLong(1) == 1L), "query doc must leave both pools")
    // surviving pools re-rank from 1: some doc holds lex_rank 1 (docs 2/3
    // share no term with the query, so the lex pool may be empty — the
    // SEM pool must re-rank from 1)
    assert(self.exists(r => !r.isNullAt(3) && r.getInt(3) == 1),
      s"sem_rank must restart at 1 after self-exclusion: ${self.toSeq}")
    // excludeSelf=false: overlapping-but-UNRELATED id spaces keep doc 1
    // as a legitimate candidate for query 1 in BOTH pools
    val open = Similarity.hybridTopK(d, e, qSelf, k = 3, poolK = 3,
        excludeSelf = false).collect()
    val doc1 = open.find(_.getLong(1) == 1L)
    assert(doc1.isDefined, "excludeSelf=false must keep candidate doc 1")
    assert(!doc1.get.isNullAt(2) && doc1.get.getInt(2) == 1 &&
      !doc1.get.isNullAt(3) && doc1.get.getInt(3) == 1,
      s"doc 1 is the exact match in both modalities: ${open.toSeq}")
  }

  test("removeDupSpans deletes non-first occurrences of shared windows") {
    // doc 3 is a full copy of doc 1 → empties out; doc 2 embeds one
    // shared 4-word span inside unique text → loses exactly that span
    val df = Seq(
      (1L, "aa bb cc dd unique1 unique2 unique3"),
      (2L, "other0 aa bb cc dd other1 other2"),
      (3L, "aa bb cc dd unique1 unique2 unique3"),
      (4L, "zz yy xx ww vv uu tt")).toDF("doc_id", "text")
    val r = TextOps.removeDupSpans(df, n = 4).collect()
      .map(x => x.getLong(0) -> ((x.getString(1), x.getLong(2), x.getLong(3))))
      .toMap
    assert(r(1L) == (("aa bb cc dd unique1 unique2 unique3", 7L, 0L))) // first copy survives whole
    assert(r(3L) == (("", 7L, 7L)))                    // second copy empties out
    assert(r(2L) == (("other0 other1 other2", 7L, 4L))) // exactly the embedded span
    assert(r(4L) == (("zz yy xx ww vv uu tt", 7L, 0L)))
    // intra-document repetition dedups against the doc's own first copy
    val intra = TextOps.removeDupSpans(
      Seq((1L, "x y x y x y x y")).toDF("doc_id", "text"), n = 2)
      .collect()(0)
    assert(intra.getString(1) == "x y" && intra.getLong(3) == 6L)
    // shorter than n words → no windows → untouched
    val short = TextOps.removeDupSpans(
      Seq((1L, "one two"), (2L, "one two")).toDF("doc_id", "text"), n = 50)
      .collect().map(_.getString(1))
    assert(short.forall(_ == "one two"))
    // the election orders by (id, pos): negative id -6 holds the shared
    // window at position 1 and still beats doc 1's position 0; empty and
    // null text have no windows and pass through (word counts follow
    // split: '' is one empty word, null text counts null)
    val edge = TextOps.removeDupSpans(Seq(
      (1L, "aa bb cc dd"),
      (-6L, "pre aa bb cc dd"),
      (3L, ""),
      (8L, null.asInstanceOf[String])).toDF("doc_id", "text"), n = 4)
      .collect().map(x => x.getLong(0) -> x.toSeq.tail).toMap
    assert(edge == Map(1L -> Seq("", 4L, 4L), -6L -> Seq("pre aa bb cc dd", 5L, 0L),
      3L -> Seq("", 1L, 0L), 8L -> Seq("", null, null)), edge)
  }

  test("bm25 ranks term-bearing docs and respects topK") {
    val df = Seq(
      (1L, "spark spark spark window"),
      (2L, "spark table"),
      (3L, "filler words only here none match"),
      (4L, "window window table")).toDF("doc_id", "text")
    val q = Seq(("q1", "spark"), ("q2", "window table")).toDF("query_id", "qtext")
    val r = TextOps.bm25(df, q, topK = 2).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getInt(3)))
    // q1: only docs 1,2 contain 'spark'; tf saturation still ranks doc 1 first
    assert(r.filter(_._1 == "q1").sortBy(_._3).map(_._2).toSeq == Seq(1L, 2L))
    // q2: doc 4 matches both terms → rank 1; doc 3 matches nothing → absent
    assert(r.filter(_._1 == "q2").minBy(_._3)._2 == 4L)
    assert(!r.exists(_._2 == 3L))
    assert(r.groupBy(_._1).forall(_._2.length <= 2))
  }

  test("bigram cross-entropy rewards word order the unigram LM ignores") {
    // same unigram distribution, different order: the in-order doc must
    // score strictly below the shuffled doc under the bigram LM
    val phrase = "the cat sat on the mat and the dog ran to the cat"
    val ref = Seq.tabulate(20)(i => (i.toLong, phrase)).toDF("doc_id", "text")
    val test = Seq(
      (100L, phrase),
      (101L, "mat the on cat sat the the to dog and ran cat the the"),
      (102L, "solo")).toDF("doc_id", "text")
    val r = TextOps.crossEntropyBigram(test, ref, vocabK = 50, bigramK = 100)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(r(100L) < r(101L))
    assert(!r.contains(102L)) // <2 tokens → no pair to score
    // backoff monotonicity: smaller alpha penalizes unseen bigrams more
    val strict = TextOps.crossEntropyBigram(test, ref,
      vocabK = 50, bigramK = 100, alpha = 0.1)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(strict(101L) > r(101L))
  }

  test("keywordsTfidf surfaces rare terms over corpus-universal ones") {
    val df = Seq(
      (1L, "common common rare1 rare1 rare1"),
      (2L, "common rare2"),
      (3L, "common filler")).toDF("doc_id", "text")
    val r = TextOps.keywordsTfidf(df, topN = 2).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getInt(3)))
    // 'rare1' (df=1, tf=3) beats 'common' (df=3) in doc 1
    assert(r.find(x => x._1 == 1L && x._3 == 1).get._2 == "rare1")
    assert(r.find(x => x._1 == 2L && x._3 == 1).get._2 == "rare2")
    assert(r.count(_._1 == 1L) == 2)
  }

  test("urlParts handles suffixes, IPs, ports, userinfo, and junk") {
    val df = Seq(
      (1L, "https://www.example.com/a/b?q=1"),
      (2L, "http://sub.shop.example.co.uk/x"),
      (3L, "https://user:pw@example.org:8443/p/"),
      (4L, "http://192.168.0.1/admin"),
      (5L, "ftp://localhost/f"),
      (6L, "not a url"),
      (7L, "HTTPS://MIXED.Example.COM")).toDF("doc_id", "url")
    val r = WebOps.urlParts(df)
      .select("doc_id", "host", "registered_domain", "tld", "path_depth",
        "has_query")
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getString(1) == "www.example.com")
    assert(r(1L).getString(2) == "example.com")
    assert(r(1L).getString(3) == "com")
    assert(r(1L).getInt(4) == 2 && r(1L).getBoolean(5))
    assert(r(2L).getString(2) == "example.co.uk" && r(2L).getString(3) == "uk")
    assert(r(3L).getString(1) == "example.org") // userinfo + port stripped
    assert(r(4L).getString(2) == "192.168.0.1") // IP passes through
    assert(r(4L).getString(3) == null)
    assert(r(5L).getString(2) == "localhost")
    assert(r(6L).getString(1) == null && r(6L).isNullAt(4))
    assert(r(7L).getString(1) == "mixed.example.com") // lowercased
  }

  test("filterBlockedDomains drops by registered domain, keeps unparseable") {
    val docs = Seq(
      (1L, "https://a.bad.com/x"), (2L, "https://good.com/x"),
      (3L, "https://bad.com.good.com/x"), (4L, "junk")).toDF("doc_id", "url")
    val blocked = Seq("BAD.com").toDF("domain") // case-insensitive
    val kept = WebOps.filterBlockedDomains(docs, blocked)
      .select("doc_id").as[Long].collect().toSet
    // 3's registered domain is good.com (suffix match ≠ substring match)
    assert(kept == Set(2L, 3L, 4L))
  }

  test("profile audits nulls, cardinality, typed bounds, numeric means in one pass") {
    val df = Seq(
      (1L, Some(10), "b"), (2L, None, "a"), (3L, Some(2), "a"), (4L, Some(9), null)
    ).toDF("id", "v", "s")
    val p = Profile.profile(df, exactDistinct = true)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(p.keySet == Set("id", "v", "s"))
    val v = p("v")
    assert(v.getLong(1) == 4 && v.getLong(2) == 1 && v.getLong(3) == 3)
    // native-typed bounds: min is "2", not lexicographic "10"
    assert(v.getString(4) == "2" && v.getString(5) == "10")
    assert(math.abs(v.getDouble(6) - 7.0) < 1e-9)
    val s = p("s")
    assert(s.getLong(2) == 1 && s.getLong(3) == 2 && s.isNullAt(6))
    // approx mode stays a single non-Expand pass and is near-exact here
    val a = Profile.profile(df).collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(a("id") == 4 && a("s") == 2)
    // grouped slice: one row per (group, column), group columns excluded
    val g = Profile.profileBy(df, Seq("s"), exactDistinct = true)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(g.keySet == Set("a", "b", null).flatMap(s =>
      Set((s, "id"), (s, "v"))))
    assert(g(("a", "id")) == 2 && g((null, "id")) == 1)
  }

  test("drift: side-by-side profiles, raw shifts, schema drift survives") {
    val prev = Seq((1L, Some(10), "a"), (2L, None, "b"), (3L, Some(20), "c"))
      .toDF("id", "v", "s")
    val next = Seq((1L, Some(40), "a"), (2L, Some(20), "b"))
      .toDF("id", "v", "s").withColumn("extra", lit(1))
    val d = Profile.drift(prev, next, exactDistinct = true)
      .collect().map(r => r.getString(0) -> r).toMap
    val v = d("v")
    // prev: 1 null / 3 rows; next: 0 / 2 → shift = -1/3
    assert(math.abs(v.getAs[Double]("null_frac_shift") - (0.0 - 1.0 / 3)) < 1e-12)
    // means 15 → 30
    assert(math.abs(v.getAs[Double]("mean_shift") - 15.0) < 1e-9)
    // column only in next: prev side all null, next side populated
    val e = d("extra")
    assert(e.isNullAt(e.fieldIndex("prev_rows")) &&
      e.getAs[Long]("next_rows") == 2L)
  }

  test("randomProject: unit norm, determinism, cosine approximately preserved") {
    val p = Similarity.randomProject(emb, outDims = 32).cache()
    // re-normalized output has unit L2 norm (up to the 6-dp rounding)
    val norms = p.select(aggregate(col("proj"), lit(0.0),
      (acc, x) => acc + x * x).as("n2")).collect().map(_.getDouble(0))
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-4))
    // deterministic under repartition
    val again = Similarity.randomProject(emb.repartition(7), outDims = 32)
      .select("vec_id", "proj")
    assert(p.select("vec_id", "proj").exceptAll(again).count() == 0)
    // JL: cosine in the projected space tracks the exact cosine; fixed
    // pairs + fixed seed make this deterministic, not statistical
    val orig = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val proj = p.select(col("vec_id"), col("proj")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cosF(a: Array[Float], b: Array[Float]) = {
      val ab = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      ab / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    def cosD(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum /
        (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    val ids = orig.keys.toSeq.sorted.take(60)
    val errs = for (i <- ids.indices; j <- (i + 1) until ids.size; if j <= i + 3)
      yield math.abs(
        cosF(orig(ids(i)), orig(ids(j))) - cosD(proj(ids(i)), proj(ids(j))))
    assert(errs.sum / errs.size < 0.2,
      f"mean |cos err| ${errs.sum / errs.size}%.3f at 32 dims")
    p.unpersist()
  }

  test("quantilesBy: exact interpolation, approx tracks exact, monotone in p") {
    val df = (1 to 101).map(i => ("g", i.toDouble)).toDF("g", "x")
    val exact = Profile.quantilesBy(df, Seq("g"), col("x"), exact = true)
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    // 101 evenly spaced values: the p-quantile is exactly 1 + 100p
    Seq(0.25, 0.5, 0.75, 0.9, 0.99).foreach(p =>
      assert(math.abs(exact(p) - (1 + 100 * p)) < 1e-9, s"p=$p got ${exact(p)}"))
    val approx = Profile.quantilesBy(df, Seq("g"), col("x"))
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    Seq(0.25, 0.5, 0.75, 0.9, 0.99).foreach(p =>
      assert(math.abs(approx(p) - exact(p)) <= 1.0, s"approx far at p=$p"))
  }

  test("histogram clamps out-of-range, fills empty bins; corrMatrix signs correlations") {
    val df = Seq(-5.0, 0.0, 1.0, 2.5, 4.9, 99.0, Double.NaN)
      .map(Tuple1(_)).toDF("x").filter(!isnan(col("x")))
    val h = Profile.histogram(df, col("x"), bins = 5, lo = 0.0, hi = 5.0)
      .collect().map(r => r.getInt(0) -> r.getLong(3)).toMap
    // -5 clamps into bin 0 (with 0.0); 99 clamps into bin 4 (with 4.9)
    assert(h == Map(0 -> 2L, 1 -> 1L, 2 -> 1L, 3 -> 0L, 4 -> 2L))

    val c = Seq((1.0, 2.0, -1.0), (2.0, 4.0, -2.0), (3.0, 6.0, -3.0), (4.0, 8.5, -4.0))
      .toDF("a", "b", "c")
    val m = Profile.corrMatrix(c, Seq("a", "b", "c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(m(("a", "b")) > 0.99 && m(("a", "c")) == -1.0 && m(("b", "c")) < -0.99)

    // underscore-bearing names whose pair aliases would collide under
    // name-based aliasing ((a, b_c) vs (a_b, c) → same __c_a_b_c):
    // index-based aliases keep all 6 pairs distinct
    val u = Seq((1.0, 2.0, 3.0, 4.0), (2.0, 4.0, 5.0, 9.0), (3.0, 5.0, 8.0, 15.0))
      .toDF("a", "b_c", "a_b", "c")
    val mu = Profile.corrMatrix(u, Seq("a", "b_c", "a_b", "c")).collect()
    assert(mu.length == 6)
    assert(mu.map(r => (r.getString(0), r.getString(1))).distinct.length == 6)
  }

  test("perGroupAgg samples the same rows as the sort-based perGroup") {
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id")).as[Long].collect().toSet
    val byWindow = ids(Sampling.perGroup(docs, col("source"), col("doc_id"), 5))
    // many partitions → the merge path actually runs
    val byAgg = ids(Sampling.perGroupAgg(
      docs.repartition(13), col("source"), col("doc_id"), 5))
    assert(byAgg == byWindow && byAgg.nonEmpty)
    // k larger than any group: everything survives
    assert(ids(Sampling.perGroupAgg(docs, col("source"), col("doc_id"), 100000))
      == ids(docs))
  }

  test("rateAnomalies flags the burst bucket, stays quiet on steady rates and cold keys") {
    import java.sql.Timestamp
    // key "steady": 10 events/bucket for 10 buckets, then a 100-event burst;
    // key "cold": 2 buckets only (never enough history to flag)
    val rows = (for {
      b <- 0 until 11
      i <- 0 until (if (b == 10) 100 else 10)
    } yield (new Timestamp(b * 3600_000L), "steady", i)) ++
      Seq((new Timestamp(0L), "cold", 0), (new Timestamp(3600_000L), "cold", 1))
    val df = rows.toDF("ts", "event_type", "i")
    val r = Events.rateAnomalies(df, Seq("event_type"), bucketSec = 3600L)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getBoolean(4))).toSeq
    val flagged = r.filter(_._3)
    assert(flagged.map(x => (x._1, x._2)) == Seq(("steady", 36000L)))
    // steady buckets have zero variance -> z NULL -> never flagged
    assert(r.count(_._1 == "cold") == 2 && r.filter(_._1 == "cold").forall(!_._3))
  }

  test("saltedJoin is result-identical to the plain join, inner and left") {
    val left = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "zz")).toDF("id", "k")
    val right = Seq(("a", 10), ("b", 20), ("c", 30)).toDF("k", "v")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "k", "v").collect()
        .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1 else r.getInt(2)))
        .sortBy(x => (x._1, x._3)).toSeq
    assert(rows(Joins.saltedJoin(left, right, Seq("k"), salts = 4))
      == rows(left.join(right, Seq("k"))))
    assert(rows(Joins.saltedJoin(left, right, Seq("k"), salts = 4, joinType = "left"))
      == rows(left.join(right, Seq("k"), "left")))
  }

  test("intervalOverlap equals the theta join for skinny and wide buckets") {
    val left = Seq((1L, "a", 0.0, 100.0), (2L, "a", 150.0, 160.0),
      (3L, "b", 0.0, 100.0), (4L, "a", -50.0, 5.0), (5L, "a", 99.0, 401.0))
      .toDF("l_id", "k", "ls", "le")
    val right = Seq((10L, "a", 90.0, 200.0), (11L, "a", 400.0, 500.0),
      (12L, "b", 101.0, 102.0), (13L, "c", 0.0, 10.0))
      .toDF("r_id", "k", "rs", "re")
    val expect = left.join(right, Seq("k"))
      .filter(col("ls") <= col("re") && col("rs") <= col("le"))
      .select("k", "l_id", "r_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    for (w <- Seq(7L, 50L, 1000L)) {
      val got = Joins.intervalOverlap(left, right, Seq("k"),
          "ls", "le", "rs", "re", bucketWidth = w)
        .select("k", "l_id", "r_id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(got == expect, s"width $w: $got vs $expect")
    }
  }

  test("lineFlags separates prose from listing shapes") {
    val prose = "This is a line.\nAnd a longer following sentence right here!\nMore prose follows today."
    val menu = "home\nabout\ncontact\nlogin\nsearch"
    val r = Seq((1L, prose), (2L, menu), (3L, "")).toDF("id", "text")
    val got = TextOps.lineFlags(r).select("id", "flag_line_punct", "flag_short_lines")
      .collect().map(x => x.getLong(0) -> (x.getBoolean(1), x.getBoolean(2))).toMap
    assert(got(1L) == (true, true))
    assert(got(2L) == (false, false)) // no punct lines, all short
    assert(got(3L) == (false, false)) // empty doc: punct 0.0, short 1.0 — both fail
  }

  test("hashed-ngram features train an in-engine classifier that separates spam") {
    val rnd = new scala.util.Random(7)
    val hamWords = Seq("clear", "useful", "prose", "about", "topics", "today")
    val spamWords = Seq("buy", "now", "click", "here", "free", "winner")
    def doc(words: Seq[String]) =
      Seq.fill(30)(words(rnd.nextInt(words.size))).mkString(" ")
    val train = (1 to 120).map { i =>
      val spam = i % 2 == 0
      (i.toLong, doc(if (spam) spamWords else hamWords), if (spam) 1.0 else 0.0)
    }
    val df = train.toDF("id", "text", "label")
    val dim = 16
    val feat = df.withColumn("f", TextOps.hashedNgramFeatures(col("text"), dim))
    val cols = (0 until dim).map(i => element_at(col("f"), i + 1).cast("double"))
    val wts = Fit.fitLogistic(feat, cols, col("label"))
    // deploy on unseen docs via scoreLinear over the same featurization
    val test = Seq((1L, doc(hamWords), 0.0), (2L, doc(spamWords), 1.0),
      (3L, doc(hamWords), 0.0), (4L, doc(spamWords), 1.0)).toDF("id", "text", "label")
    val scored = TextOps.scoreLinear(
        test.withColumn("f", TextOps.hashedNgramFeatures(col("text"), dim)),
        cols.zipWithIndex.map { case (c, i) => c -> wts(i + 1) }, bias = wts(0))
      .select(col("label"), col("clf_score")).as[(Double, Double)].collect()
    scored.foreach { case (label, score) =>
      assert(if (label > 0.5) score > 0.9 else score < 0.1, s"label $label score $score")
    }
  }

  test("splitSentences keeps terminators, rejoins wraps, skips empties") {
    val df = Seq((1L, "One two.  Three!?Four\nfive? trailing"), (2L, "...")).toDF("doc_id", "text")
    val r = TextOps.splitSentences(df)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getString(2)))
    assert(r.toSeq == Seq(
      (1L, 0, "One two."), (1L, 1, "Three!?"), (1L, 2, "Four five?"),
      (1L, 3, "trailing")))
  }

  test("blocklistPhraseHits sees through line wrapping; degreeStats keeps sources/sinks") {
    val df = Seq(
      (1L, "please Click\n  Here to win"), (2L, "click nowhere"), (3L, "CLICK HERE TO x")
    ).toDF("id", "text")
    val hits = df.select(col("id"),
        TextOps.blocklistPhraseHits(col("text"), Seq("Click  Here To")).as("h"))
      .as[(Long, Int)].collect().toMap
    assert(hits == Map(1L -> 1, 2L -> 0, 3L -> 1))
    assert(TextOps.filterBlockedPhrases(df, Seq("click here to"))
      .select("id").as[Long].collect().toSet == Set(2L))

    val deg = Graphs.degreeStats(Seq(("a", "b"), ("a", "b"), ("b", "c")).toDF("src", "dst"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // parallel edges count; "a" is a pure source, "c" a pure sink
    assert(deg == Map("a" -> (2L, 0L), "b" -> (1L, 2L), "c" -> (0L, 1L)))
  }

  test("pageRank matches a reference power iteration, dangling mass included") {
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("b", "d"))
    val iters = 7
    val d = 0.85
    // reference: same fixpoint computed directly over in-memory maps
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val deg = edges.groupBy(_._1).view.mapValues(_.size).toMap
    var r = nodes.map(_ -> 1.0 / nodes.size).toMap
    for (_ <- 0 until iters) {
      val dangling = nodes.filterNot(deg.contains).map(r).sum
      val contrib = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / deg(s) }.sum).toMap
      r = nodes.map(v => v -> ((1 - d) / nodes.size +
        d * (contrib.getOrElse(v, 0.0) + dangling / nodes.size))).toMap
    }
    val got = Graphs.pageRank(edges.toDF("src", "dst"), iters = iters)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(got.keySet == nodes.toSet)
    nodes.foreach(v => assert(math.abs(got(v) - r(v)) < 1e-12, s"node $v"))
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("redactCards replaces only Luhn-valid card numbers") {
    val df = Seq(
      (1L, "pay 4111111111111111 now"),
      (2L, "pay 4111111111111112 now"),                            // checksum fails
      (3L, "card 5500 0000 0000 0004 and 4111-1111-1111-1111 x"),  // both valid
      (4L, "short 123456789012 run"),                              // 12 digits: too short
      // a 17-digit NON-card id that CONTAINS a valid 16-digit card as a
      // substring: the standalone card redacts, the id must stay intact
      // (a substring replace would corrupt it from the inside)
      (5L, "id 41111111111111112 and card 4111111111111111 end")
    ).toDF("id", "text")
    val r = df.select(col("id"), TextOps.redactCards(col("text")).as("t"))
      .as[(Long, String)].collect().toMap
    assert(r(1L) == "pay <CARD> now")
    assert(r(2L) == "pay 4111111111111112 now")
    assert(r(3L) == "card <CARD> and <CARD> x")
    assert(r(4L) == "short 123456789012 run")
    assert(r(5L) == "id 41111111111111112 and card <CARD> end")
  }

  test("canonicalUrl strips tracking noise but keeps page identity") {
    def c(u: String): String = Seq(u).toDF("u")
      .select(WebOps.canonicalUrl(col("u")).as("c")).head().getAs[String]("c")
    assert(c("HTTPS://User@Example.COM:443/a/b/?utm_source=x&b=2&a=1#frag")
      == "https://example.com/a/b?a=1&b=2")
    assert(c("http://x.com:8080/p/") == "http://x.com:8080/p") // non-default port kept
    assert(c("http://x.com:80/p") == "http://x.com/p")
    assert(c("http://X.com/CaseS") == "http://x.com/CaseS")    // path case preserved
    assert(c("http://x.com/?gclid=1&fbclid=2") == "http://x.com/")
    assert(c("http://x.com") == "http://x.com/")
    // a '?' INSIDE the fragment (hash-routing) is not a query — the
    // fragment drops wholesale, params must not leak into the key
    assert(c("http://x.com/p#/route?tab=1") == "http://x.com/p")
    assert(c("http://x.com/p?a=1#?b=2") == "http://x.com/p?a=1")
    assert(c("junk") == null)
  }

  test("contaminationReport is consistent with the flat contamination flags") {
    val corpus = docs.filter(col("doc_id") >= 100)
    val benchDocs = docs.filter(col("doc_id") < 100)
    val bench = benchDocs.withColumn("benchmark",
      concat(lit("set"), pmod(col("doc_id"), lit(3)).cast("string")))
    val rep = Dedup.contaminationReport(corpus, bench).collect()
    val flat = Dedup.contamination(corpus, benchDocs).count()
    assert(rep.nonEmpty && flat > 0)
    // a doc can hit several sets, so per-set counts sum to >= the flat
    // distinct-doc count; each set alone can never exceed it
    val perSet = rep.map(_.getLong(1))
    assert(perSet.sum >= flat && perSet.forall(_ <= flat))
    rep.foreach { r =>
      assert(r.getDouble(3) > 0 && r.getDouble(3) <= 1.0)
      assert(r.getLong(2) >= 1) // at least one matched gram per reported set
    }
    // a benchmark set with ZERO corpus overlap still gets its report row
    // (explicit 0s — "clean", not "missing/unaudited")
    val benchPlus = bench.select(col("doc_id"), col("text"), col("benchmark"))
      .unionByName(Seq((100000L, "zq xv qj wk vx jq kz xq vj wq", "set_clean"))
        .toDF("doc_id", "text", "benchmark"))
    val repPlus = Dedup.contaminationReport(corpus, benchPlus)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(repPlus("set_clean") == ((0L, 0L, 0.0)))
    assert(repPlus.size == rep.length + 1)
  }

  test("media near-dup: duplicate payloads pair through the embedding path") {
    // the media-dedup story end-to-end on the real plumbing: decode(-stub)
    // features from extractFeatures feed the generic embedding near-dup —
    // identical payloads under different ids must pair at cosine ~1
    val media = Multimodal.syntheticMedia(spark, docs.limit(20))
    val feats = Multimodal.extractFeatures(media).toDF()
      .select(col("media_id"), col("features"))
    val dup = feats.withColumn("media_id", col("media_id") + 1000L)
    val emb = feats.unionByName(dup)
      .withColumnRenamed("media_id", "vec_id")
      .withColumnRenamed("features", "embedding")
    val pairs = Similarity.nearDupPairs(emb, threshold = 0.999)
      .collect().map(r => (r.getLong(0) min r.getLong(1), r.getLong(0) max r.getLong(1)))
      .toSet
    assert((0L until 20L).forall(i => pairs.contains((i, i + 1000L))),
      s"every payload must pair with its duplicate: ${pairs.take(5)}")
  }

  test("exactBy dedups on the key, min-id wins, null keys pass through") {
    val df = Seq(
      (3L, "u1"), (1L, "u1"), (2L, "u2"), (4L, null), (5L, null)
    ).toDF("doc_id", "k")
    val kept = Dedup.exactBy(df, col("k"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 4L, 5L))
  }

  test("fuzz: canonicalUrl is idempotent over messy URL soup") {
    // canonical(canonical(u)) == canonical(u) — one batched Spark job
    // over seeded-random URLs assembled from hostile parts
    val rnd = new scala.util.Random(11)
    val schemes = Seq("http", "HTTPS", "ftp")
    val hosts = Seq("A.b.com", "x.CO.uk", "127.0.0.1", "single")
    val ports = Seq("", ":80", ":443", ":8080", ":0")
    val paths = Seq("", "/", "/A/b/", "/x//y///", "/p")
    val queries = Seq("", "?", "?a=1&utm_x=2&b=2", "?gclid=9", "?z&a=%20&a=1")
    val frags = Seq("", "#f", "#a?b=1")
    val urls = Seq.fill(300) {
      val u = rnd.nextInt(4)
      if (u == 0) "junk" + rnd.nextInt(10)
      else schemes(rnd.nextInt(3)) + "://" +
        (if (rnd.nextBoolean()) "user@" else "") +
        hosts(rnd.nextInt(4)) + ports(rnd.nextInt(5)) + paths(rnd.nextInt(5)) +
        queries(rnd.nextInt(5)) + frags(rnd.nextInt(3))
    }
    val once = urls.toDF("u")
      .select(col("u"), WebOps.canonicalUrl(col("u")).as("c1"))
      .select(col("u"), col("c1"), WebOps.canonicalUrl(col("c1")).as("c2"))
      .collect()
    once.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"not idempotent for ${r.getString(0)}: ${r.getString(1)} -> ${r.getString(2)}")
    }
  }

  test("filterBlockedWords uses whole-word distinct-hit C4 semantics") {
    val df = Seq(
      (1L, "a Clean page"),
      (2L, "Slow! day"),          // case/punct-insensitive whole word
      (3L, "slowly flowing"),     // substring is NOT a hit
      (4L, "slow dup slow dup"),  // 2 distinct hits, repeats don't add
      (5L, "don't stop")          // apostrophe stays inside the token
    ).toDF("doc_id", "text")
    val words = Seq("slow", "dup", "don't")
    val hits = df.select(col("doc_id"),
        TextOps.blocklistHits(col("text"), words).as("h"))
      .as[(Long, Int)].collect().toMap
    assert(hits == Map(1L -> 0, 2L -> 1, 3L -> 0, 4L -> 2, 5L -> 1))
    assert(TextOps.filterBlockedWords(df, words)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
    assert(TextOps.filterBlockedWords(df, words, maxHits = 1)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L, 5L))
  }

  test("encodingFlags counts artifacts and the tolerance budget scales") {
    val df = Seq(
      (1L, "clean text"),
      (2L, "lossy � here �"),
      (3L, "cafÃ© and â€™quotedâ€"),
      (4L, "ctrl\u0001chars\u0007"),
      (5L, "tabs\tand\nnewlines are fine")).toDF("doc_id", "text")
    val r = TextOps.encodingFlags(df)
      .select("doc_id", "n_replacement", "n_control", "n_mojibake",
        "flag_encoding")
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getBoolean(4) && r(5L).getBoolean(4))
    assert(r(2L).getInt(1) == 2 && !r(2L).getBoolean(4))
    assert(r(3L).getInt(3) >= 2 && !r(3L).getBoolean(4))
    assert(r(4L).getInt(2) == 2 && !r(4L).getBoolean(4))
    // generous tolerance: short doc with one artifact per <10k chars passes
    val tol = TextOps.encodingFlags(
      Seq((1L, ("x" * 10000) + "�")).toDF("doc_id", "text"), per10k = 2.0)
    assert(tol.select("flag_encoding").head().getBoolean(0))
  }

  test("toTokenBudget saturates small groups, downsamples big ones, drops unlisted") {
    val n = docs.count()
    val r = Sampling.toTokenBudget(docs, col("source"), col("doc_id"),
      Map("src0" -> 0.9, "src1" -> 0.05), totalTokens = 2000).cache()
    // only listed groups survive
    assert(r.select("source").distinct().collect().map(_.getString(0)).toSet
      .subsetOf(Set("src0", "src1")))
    // src0's target (1800 tokens) exceeds its corpus total → rate 1, all kept
    val src0 = r.filter(col("source") === "src0")
    assert(src0.agg(min("mix_rate")).head().getDouble(0) == 1.0)
    assert(src0.count() == docs.filter(col("source") === "src0").count())
    // src1's target (100 tokens) is far below its total → strict downsample
    val src1 = r.filter(col("source") === "src1")
    assert(src1.agg(max("mix_rate")).head().getDouble(0) < 0.5)
    assert(src1.count() < docs.filter(col("source") === "src1").count())
    // kept token mass lands near the target in expectation (loose bound:
    // small fixture, hash variance)
    val kept = TextOps.analyze(src1).agg(sum("token_count")).head().getLong(0)
    assert(kept < 400, s"src1 kept $kept tokens for a 100-token target")
    r.unpersist()
  }

  test("mixturePlan reports targets, caps starved domains, zeroes unlisted") {
    // a: 10 tokens, b: 10 tokens, c: 10 tokens (5 docs x 2 tokens each)
    val d = (1 to 15).map(i =>
      (i.toLong, s"w$i x$i", "abc" (((i - 1) / 5)).toString)).toDF("doc_id", "text", "source")
    val p = Sampling.mixturePlan(d, col("source"),
        Map("a" -> 0.6, "b" -> 0.3), totalTokens = 100, maxEpochs = 4.0)
      .collect().map(r => r.getString(0) -> r).toMap
    // a: target 60 over 10 avail → rate capped at 4.0, planned 40 < 60
    assert(p("a").getLong(4) == 60L && p("a").getDouble(5) == 4.0)
    assert(p("a").getLong(6) == 40L)
    // b: target 30 → rate 3.0 exactly, planned 30
    assert(p("b").getDouble(5) == 3.0 && p("b").getLong(6) == 30L)
    // c unlisted → rate 0, planned 0
    assert(p("c").getDouble(5) == 0.0 && p("c").getLong(6) == 0L)
  }

  test("epochMixture replicates full epochs plus a deterministic partial") {
    val d = (1 to 15).map(i =>
      (i.toLong, s"w$i x$i", "abc" (((i - 1) / 5)).toString)).toDF("doc_id", "text", "source")
    val r = Sampling.epochMixture(d, col("source"), col("doc_id"),
      Map("a" -> 0.6, "b" -> 0.25, "c" -> 0.01), totalTokens = 100,
      maxEpochs = 4.0).cache()
    // a: rate 4.0 (capped, integer) → every doc exactly 4 copies, epochs 0..3
    val a = r.filter(col("source") === "a")
    assert(a.count() == 20)
    assert(a.groupBy("doc_id").count().collect().forall(_.getLong(1) == 4L))
    assert(a.select("epoch").distinct().collect().map(_.getInt(0)).sorted
      .sameElements(Array(0, 1, 2, 3)))
    // b: rate 2.5 → 2 full epochs for all 5 docs + hash-subset third epoch
    val b = r.filter(col("source") === "b")
    val bCounts = b.groupBy("doc_id").count().collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(bCounts.values.forall(c => c == 2L || c == 3L))
    assert(b.filter(col("epoch") < 2).count() == 10) // full epochs complete
    // the partial-epoch subset is exactly the hash test the docs replay
    val expectPartial = d.filter(col("source") === "b")
      .filter(Sampling.hashBucket(col("doc_id")) < 5000)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bCounts.filter(_._2 == 3L).keySet == expectPartial)
    // c: rate 0.1 → plain downsample, all epoch 0, strict subset
    val c = r.filter(col("source") === "c")
    assert(c.count() < 5 && c.select("epoch").collect().forall(_.getInt(0) == 0))
    // determinism: same plan twice is row-identical
    val again = Sampling.epochMixture(d, col("source"), col("doc_id"),
      Map("a" -> 0.6, "b" -> 0.25, "c" -> 0.01), totalTokens = 100, maxEpochs = 4.0)
    assert(r.exceptAll(again).count() == 0 && again.exceptAll(r).count() == 0)
    r.unpersist()
  }

  test("interleaveByWeight: every prefix tracks the weights; partition-invariant") {
    val weights = Map("src1" -> 0.6, "src2" -> 0.3, "src3" -> 0.1)
    val out = Sampling.interleaveByWeight(docs, col("source"), col("doc_id"), weights)
      .select("doc_id", "source", "pos_in_source", "vtime").cache()
    // stride property: in the vtime order, after any prefix, each source
    // has contributed floor/ceil of weight-proportional count — check a
    // few prefixes with tolerance ±1 per source (ties at equal vtime)
    val ordered = out.orderBy(col("vtime"), col("source")).collect()
    // proportions only hold while no source is exhausted: cap prefixes at
    // the earliest per-source max vtime
    val vcut = weights.map { case (s, w) =>
      (ordered.count(_.getString(1) == s) - 0.5) / w }.min
    val safe = ordered.takeWhile(_.getDouble(3) <= vcut)
    assert(safe.length > 30, s"fixture too small: ${safe.length}")
    val totalW = weights.values.sum
    for (p <- Seq(safe.length / 3, safe.length / 2, safe.length)) {
      val bySrc = safe.take(p).groupBy(_.getString(1)).view.mapValues(_.length).toMap
      weights.foreach { case (src, wt) =>
        val expect = p * wt / totalW
        val got = bySrc.getOrElse(src, 0)
        assert(math.abs(got - expect) <= 2,
          s"prefix $p source $src: got $got expect ~$expect")
      }
    }
    // determinism: same result from a differently-partitioned input
    val again = Sampling.interleaveByWeight(
      docs.repartition(7), col("source"), col("doc_id"), weights)
      .select("doc_id", "source", "pos_in_source", "vtime")
    assert(out.exceptAll(again).count() == 0 && again.exceptAll(out).count() == 0)
    // unlisted sources drop
    assert(out.filter(!col("source").isin("src1", "src2", "src3")).count() == 0)
    out.unpersist()
  }

  test("BPE trainer reproduces the canonical merge sequence and round-trips") {
    // Sennrich et al.'s worked example: {low:5, lower:2, newest:6, widest:3}
    val corpus = Seq((1L,
      (("low " * 5) + ("lower " * 2) + ("newest " * 6) + ("widest " * 3)).trim))
      .toDF("doc_id", "text")
    val m = Bpe.trainMerges(corpus, 5)
    assert(m == Seq("e" -> "s", "es" -> "t", "est" -> "</w>",
      "l" -> "o", "lo" -> "w"))
    // tokenization applies the merges greedily in rank order
    val pieces = Bpe.tokenize(corpus, m)
      .select("bpe_pieces").head().getSeq[String](0)
    assert(pieces.contains("est</w>")) // newest → n e w est</w>
    assert(pieces.contains("low"))     // low → low </w>
    // lossless: concatenating pieces and mapping the sentinel back to a
    // space reconstructs the normalized text
    val rebuilt = pieces.mkString("").replace(Bpe.EndOfWord, " ").trim
    assert(rebuilt == ("low " * 5 + "lower " * 2 + "newest " * 6 +
      "widest " * 3).trim.toLowerCase)
    // early stop: once no pair reaches minCount the trainer halts
    val all = Bpe.trainMerges(corpus, 100)
    assert(all.size < 100)
    // determinism: retraining yields the identical table
    assert(Bpe.trainMerges(corpus, 5) == m)

    // vocab: <unk> first, then the corpus alphabet + sentinel, then merge
    // products in rank order — and it covers every emitted piece
    val v = Bpe.vocab(corpus, m)
    assert(v.head == "<unk>" && v.contains(Bpe.EndOfWord))
    assert(v.takeRight(5) == Seq("es", "est", "est</w>", "lo", "low"))
    assert(pieces.forall(v.contains), s"uncovered piece in $pieces")
    // tokenizeIds round-trips through the vocab inside one scan
    val ids = Bpe.tokenizeIds(corpus, m, v)
      .select("token_ids").head().getSeq[Int](0)
    assert(ids.map(v(_)) == pieces)
    assert(ids.forall(_ > 0)) // nothing fell to <unk> on the training corpus
    // a character unseen at vocab-build time maps to <unk>=0
    val oov = Bpe.tokenizeIds(Seq((1L, "löw")).toDF("doc_id", "text"), m, v)
      .select("token_ids").head().getSeq[Int](0)
    assert(oov.contains(0))
  }

  test("incremental BPE trainer matches a naive full-recount reference on random corpora") {
    // the distributed trainer patches its pair-count table with per-merge
    // deltas; this differential replays the textbook algorithm — full pair
    // recount every round, same (count desc, then lexicographic) tie-break
    // — in driver-side Scala and demands the identical merge sequence
    def mergeOnceLocal(syms: Vector[String], l: String, r: String): Vector[String] =
      syms.foldLeft(Vector.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == l && x == r) acc.init :+ (l + r)
        else acc :+ x
      }
    def naive(words: Map[String, Long], numMerges: Int, minCount: Long)
        : Seq[(String, String)] = {
      var dict = words.toVector.map { case (w, c) =>
        (w.map(_.toString).toVector :+ Bpe.EndOfWord, c) }
      val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
      var done = false
      while (out.size < numMerges && !done) {
        val counts = scala.collection.mutable.Map[(String, String), Long]()
          .withDefaultValue(0L)
        for ((syms, c) <- dict; i <- 0 until syms.size - 1)
          counts((syms(i), syms(i + 1))) += c
        if (counts.isEmpty) done = true
        else {
          val (p, n) = counts.minBy { case ((l, r), n) => (-n, l, r) }
          if (n < minCount) done = true
          else {
            out += p
            dict = dict.map { case (s, c) => (mergeOnceLocal(s, p._1, p._2), c) }
          }
        }
      }
      out.toSeq
    }
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      // random vocabulary over a tiny alphabet → dense pair collisions,
      // the regime where delta bookkeeping mistakes would surface
      val vocab = Seq.fill(30 + trial * 10)(
        Seq.fill(2 + rnd.nextInt(6))("abcd" (rnd.nextInt(4))).mkString)
      val counts = vocab.groupBy(identity).view
        .mapValues(v => (v.size * (1 + rnd.nextInt(5))).toLong).toMap
      val text = counts.toSeq.flatMap { case (w, c) =>
        Seq.fill(c.toInt)(w) }.mkString(" ")
      val docs = Seq((1L, text)).toDF("doc_id", "text")
      val expect = naive(counts, numMerges = 25, minCount = 2L)
      // default path (vocab fits → driver-local incremental trainer)
      val got = Bpe.trainMerges(docs, numMerges = 25)
      assert(got == expect, s"trial $trial (local): $got vs $expect")
      // forced distributed incremental loop — must agree exactly
      val gotDist = Bpe.trainMerges(docs, numMerges = 25, localThreshold = 0L)
      assert(gotDist == expect, s"trial $trial (distributed): $gotDist vs $expect")

      // tokenize: the >16-rank kernel path (min-rank greedy apply) must
      // produce the same pieces as the rank-order fold unrolling
      val kernelPieces = Bpe.tokenize(docs, got)
        .select("bpe_pieces").head().getSeq[String](0)
      val foldPieces = docs.withColumn("bpe_pieces",
          flatten(transform(
            filter(split(col("text"), " "), w => w =!= ""),
            w => Bpe.segmentCol(w, got))))
        .select("bpe_pieces").head().getSeq[String](0)
      assert(kernelPieces == foldPieces, s"trial $trial: kernel vs fold pieces")
      // lossless round-trip through the kernel path
      assert(kernelPieces.mkString("").replace(Bpe.EndOfWord, " ").trim == text)
    }
  }

  test("distributed BPE trainer: deep merge runs stay lineage-truncated and match local") {
    // 150+ rounds through the compiled RDD loop: (a) the table must equal
    // the driver-local trainer's exactly, and (b) the run must survive —
    // if a round's localCheckpoint ever fails to finalize (the one action
    // per round must checkpoint the MID-LINEAGE dict too), the task
    // binary regrows every round and deep runs die with a serialization
    // stack overflow around round 50
    val rnd = new scala.util.Random(7)
    val words = Seq.fill(120)(
      Seq.fill(6 + rnd.nextInt(5))("abcdefgh"(rnd.nextInt(8))).mkString)
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val local = Bpe.trainMerges(docs, numMerges = 200, minCount = 1L)
    assert(local.size > 150, s"corpus too small to stress deep rounds: ${local.size}")
    val dist = Bpe.trainMerges(docs, numMerges = 200, minCount = 1L,
      localThreshold = 0L)
    assert(dist == local)
  }

  test("byte-level BPE: proxy bijection, no <unk> ever, lossless decode, ASCII parity") {
    // total bijection: any string round-trips through proxy/unproxy
    val hard = "héllo wörld 😀 漢字  ctrl\ttab"
    val rt = Seq((1L, hard)).toDF("doc_id", "text")
      .select(graft.functions.TextKernels.byteUnproxyCol(
        graft.functions.TextKernels.byteProxyCol(col("text"))).as("t"))
      .head.getString(0)
    assert(rt == hard)
    val corpus = Seq(
      (1L, "der schöne grüne Baum"), (2L, "die schöne grüne Blume"),
      (3L, "der grüne Baum blüht"), (4L, "die Blume blüht schön")
    ).toDF("doc_id", "text")
    val merges = Bpe.trainMergesBytes(corpus, numMerges = 12)
    val vocab = Bpe.byteVocab(merges)
    // characters never seen in training decompose into raw bytes: id 0
    // (<unk>) is unreachable — while char-level mode must emit it
    val unseen = Seq((9L, "nie gesehen: 🚀 ŽĆ проверка")).toDF("doc_id", "text")
    val ids = Bpe.tokenizeIdsBytes(unseen, merges, vocab)
      .select("token_ids").head.getSeq[Int](0)
    assert(ids.nonEmpty && !ids.contains(0), s"byte mode emitted <unk>: $ids")
    val charMerges = Bpe.trainMerges(corpus, numMerges = 12)
    val charIds = Bpe.tokenizeIds(unseen, charMerges,
      Bpe.vocab(corpus, charMerges)).select("token_ids").head.getSeq[Int](0)
    assert(charIds.contains(0), "char mode should hit <unk> on unseen chars")
    // lossless decode: unproxy(concat pieces, sentinel -> space) equals
    // the normalized text, for training AND unseen docs
    for (df <- Seq(corpus, unseen)) {
      val rows = Bpe.tokenizeBytes(df, merges)
        .select(col("text"), col("bpe_pieces")).collect()
      rows.foreach { r =>
        val decoded = graft.functions.TextKernels.byteUnproxy(
          org.apache.spark.unsafe.types.UTF8String.fromString(
            r.getSeq[String](1).mkString("").replace(Bpe.EndOfWord, " ").trim))
          .toString
        val norm = r.getString(0).toLowerCase.trim.replaceAll("\\s+", " ")
        assert(decoded == norm, s"decode mismatch: '$decoded' vs '$norm'")
      }
    }
    // printable-ASCII corpora: byte mode IS char mode (proxy = identity)
    val ascii = Seq((1L, "the old tree grows"), (2L, "the old flower grows"),
      (3L, "old trees grow slowly")).toDF("doc_id", "text")
    assert(Bpe.trainMergesBytes(ascii, 6) == Bpe.trainMerges(ascii, 6))
  }

  test("BPE: supplementary-plane symbols, duplicate products, staging collisions") {
    // code points, not UTF-16 units: on an emoji corpus the local and
    // distributed trainers must learn the identical table, and no learned
    // symbol may be a lone surrogate half (which segmentation could never
    // match against the code-point-based apply kernel)
    val emoji = Seq((1L, ("😀a " * 4).trim)).toDF("doc_id", "text")
    val local = Bpe.trainMerges(emoji, 3, minCount = 1L)
    val dist = Bpe.trainMerges(emoji, 3, minCount = 1L, localThreshold = 0L)
    assert(local == dist, s"local $local vs distributed $dist")
    assert(local.nonEmpty)
    assert(local.flatMap(p => Seq(p._1, p._2)).forall(s =>
      !(s.length == 1 && Character.isSurrogate(s.charAt(0)))), local)
    // and the learned merges actually apply: lossless round trip
    val ep = Bpe.tokenize(emoji, local).select("bpe_pieces").head().getSeq[String](0)
    assert(ep.mkString("").replace(Bpe.EndOfWord, " ").trim ==
      ("😀a " * 4).trim)

    // duplicate merge products collapse to one vocab entry (first
    // occurrence), so (token_id, token) stays a bijection
    val abc = Seq((1L, "abc")).toDF("doc_id", "text")
    val v = Bpe.vocab(abc, Seq("a" -> "bc", "ab" -> "c"))
    assert(v.distinct == v, s"vocab has duplicate tokens: $v")
    assert(v.count(_ == "abc") == 1)

    // an input column named like the staging column survives tokenizeIds
    val clash = Seq((1L, "aba", "keep")).toDF("doc_id", "text", "__pieces")
    val vc = Bpe.vocab(clash, Seq("a" -> "b"))
    val out = Bpe.tokenizeIds(clash, Seq("a" -> "b"), vc)
    assert(out.columns.count(_ == "__pieces") == 1)
    assert(out.select("__pieces").head().getString(0) == "keep")
    assert(out.select("token_ids").head().getSeq[Int](0).forall(_ > 0))
  }

  test("emitPackedIds materializes padded whole-doc sequences in id order") {
    val docs = Seq(
      (1L, Seq(1, 2, 3)),
      (2L, Seq(4, 5)),
      (3L, Seq(6, 7, 8, 9, 10, 11, 12, 13, 14)), // over budget: singleton
      (4L, Seq(15))
    ).toDF("doc_id", "token_ids")
    // buckets=1 → one packing stream in id order; budget 8:
    // [1,2] (5 tokens) | [3] (9, overlong singleton) | [4] (1)
    val out = Packing.emitPackedIds(docs, budget = 8, buckets = 1)
      .orderBy("seq_id")
      .collect()
      .map(r => (r.getLong(1), r.getInt(2), r.getSeq[Int](3), r.getSeq[Int](4),
        r.getSeq[Int](5)))
    assert(out.length == 3)
    assert(out(0) == ((2L, 5, Seq(3, 2), Seq(0, 3), Seq(1, 2, 3, 4, 5, 0, 0, 0))))
    assert(out(1) == ((1L, 9, Seq(9), Seq(0), Seq(6, 7, 8, 9, 10, 11, 12, 13, 14))))
    assert(out(2) == ((1L, 1, Seq(1), Seq(0), Seq(15, 0, 0, 0, 0, 0, 0, 0))))
    // doc boundaries are mutually consistent: starts are the exclusive
    // prefix sums of lens, and the last start + len is the payload length
    out.foreach { case (nd, nt, lens, starts, _) =>
      assert(lens.size == nd && starts.size == nd)
      assert(starts == lens.scanLeft(0)(_ + _).dropRight(1))
      assert(starts.last + lens.last == nt)
    }
    // conservation: every input id appears exactly once across sequences
    val emitted = out.flatMap(_._5).filter(_ != 0).sorted.toSeq
    assert(emitted == (1 to 15))
  }

  test("emitPackedChunks splits docs across fixed-budget sequences, zero waste") {
    val docs = Seq(
      (1L, Seq(1, 2, 3)),
      (2L, Seq(4, 5)),
      (3L, Seq(6, 7, 8, 9, 10, 11, 12, 13, 14)), // spans the chunk boundary
      (4L, Seq(15)),
      (5L, Seq.empty[Int]) // empty doc contributes nothing
    ).toDF("doc_id", "token_ids")
    // buckets=1, budget 8: stream [1..5 | 6..8][9..14 | 15]; doc 3 splits
    val out = Packing.emitPackedChunks(docs, budget = 8, buckets = 1)
      .orderBy("seq_id")
      .collect()
      .map(r => (r.getLong(1), r.getInt(2), r.getSeq[Int](3), r.getSeq[Int](4),
        r.getSeq[Int](5)))
    assert(out.length == 2)
    assert(out(0) == ((3L, 8, Seq(3, 2, 3), Seq(0, 3, 5),
      Seq(1, 2, 3, 4, 5, 6, 7, 8))))
    assert(out(1) == ((2L, 7, Seq(6, 1), Seq(0, 6),
      Seq(9, 10, 11, 12, 13, 14, 15, 0))))
    // every sequence is exactly budget tokens except the bucket tail, and
    // every input id appears exactly once (zero waste, no duplication)
    assert(out.init.forall(_._2 == 8))
    assert(out.flatMap(_._5).filter(_ != 0).sorted.toSeq == (1 to 15))
    // segment starts are consistent with lens (contiguous within the seq)
    out.foreach { case (nd, nt, lens, starts, _) =>
      assert(lens.size == nd && starts.size == nd)
      assert(starts == lens.scanLeft(0)(_ + _).dropRight(1))
      assert(starts.last + lens.last == nt)
    }
  }

  test("emitPackedIds/emitPackedChunks: tokens override replays the default layout") {
    // optimization contract (r14): a caller whose idsCol is an expensive
    // unmaterialized expression may hand the SLIM assignment side a
    // cheaper exact count (size of the pre-transform word array — equal
    // because transform is length-preserving). The artifact must be
    // bit-identical to the default size(idsCol) path: assignment,
    // member order, boundaries, padding. Edge rows: empty text,
    // whitespace-only, tab/newline padding (where a trim-based count
    // would diverge — the override must NOT be tokenCount).
    val docs = Seq(
      (1L, "aa bb cc"), (2L, "dd ee"),
      (3L, "ff gg hh ii jj kk ll mm nn"), // over budget
      (4L, "oo"), (5L, ""), (6L, "   "), (7L, "\tpp  qq\n")
    ).toDF("doc_id", "text")
    val words = filter(split(TextOps.normalize(col("text")), " "), w => w =!= "")
    val ids = docs.select(col("doc_id"),
      transform(words,
        w => (pmod(TextOps.portableHash60(w), lit(97)) + 1).cast("int"))
        .as("token_ids"), col("text"))
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(r => (0 until r.length).map(r.get(_).toString).mkString("|"))
        .sorted.toSeq
    for (buckets <- Seq(1, 4)) {
      assert(
        canon(Packing.emitPackedIds(ids, budget = 8, buckets = buckets,
          tokens = Some(size(words)))) ==
        canon(Packing.emitPackedIds(ids, budget = 8, buckets = buckets)),
        s"emitPackedIds override diverged at buckets=$buckets")
      assert(
        canon(Packing.emitPackedChunks(ids, budget = 8, buckets = buckets,
          tokens = Some(size(words)))) ==
        canon(Packing.emitPackedChunks(ids, budget = 8, buckets = buckets)),
        s"emitPackedChunks override diverged at buckets=$buckets")
    }
  }

  test("corpusDiff labels added/removed/changed and omits unchanged") {
    val prev = Seq(
      (1L, "same text"), (2L, "old text"), (3L, "gone")).toDF("doc_id", "text")
    val next = Seq(
      (1L, "same  TEXT"), // fingerprint-equal modulo case/whitespace
      (2L, "new text"), (4L, "fresh")).toDF("doc_id", "text")
    val r = Dedup.corpusDiff(prev, next).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r == Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  // deterministic pseudo-uniforms in [0,1) / [-1,1) from the row id — the
  // Fit specs need reproducible synthetic regressors without Math.random
  private def u01(salt: Int) =
    pmod(hash(col("id"), lit(salt)), lit(1000000)).cast("double") / 1e6
  private def u11(salt: Int) = u01(salt) * 2.0 - 1.0

  test("fitLinear recovers exact coefficients on noiseless linear data") {
    val df = spark.range(5000).select(col("id"),
      u11(1).as("x1"), u11(2).as("x2"))
      .withColumn("y", lit(3.0) + col("x1") * 2.0 - col("x2") * 0.5)
    val beta = Fit.fitLinear(df, Seq(col("x1"), col("x2")), col("y"))
    assert(math.abs(beta(0) - 3.0) < 1e-8, s"bias ${beta(0)}")
    assert(math.abs(beta(1) - 2.0) < 1e-8, s"w1 ${beta(1)}")
    assert(math.abs(beta(2) + 0.5) < 1e-8, s"w2 ${beta(2)}")
    // ridge shrinks the slope magnitudes, never flips signs here
    val shrunk = Fit.fitLinear(df, Seq(col("x1"), col("x2")), col("y"),
      ridge = 100.0)
    assert(shrunk(1) > 0 && shrunk(1) < beta(1))
    assert(shrunk(2) < 0 && shrunk(2) > beta(2))
    // collinear features must fail loudly, not return garbage
    intercept[IllegalArgumentException] {
      Fit.fitLinear(df, Seq(col("x1"), col("x1") * 2.0), col("y"))
    }
  }

  test("fitLogistic recovers the generating weights within sampling error") {
    // labels drawn from the model: y = 1 iff sigmoid(1 + 2·x1 − x2) > u,
    // with u an independent per-row uniform — Bernoulli by construction,
    // fully deterministic across runs
    val df = spark.range(20000).select(col("id"),
      u11(1).as("x1"), u11(2).as("x2"), u01(99).as("u"))
      .withColumn("eta", lit(1.0) + col("x1") * 2.0 - col("x2"))
      .withColumn("y",
        when(lit(1.0) / (lit(1.0) + exp(-col("eta"))) > col("u"), 1.0)
          .otherwise(0.0))
    val beta = Fit.fitLogistic(df, Seq(col("x1"), col("x2")), col("y"))
    assert(math.abs(beta(0) - 1.0) < 0.15, s"bias ${beta(0)}")
    assert(math.abs(beta(1) - 2.0) < 0.2, s"w1 ${beta(1)}")
    assert(math.abs(beta(2) + 1.0) < 0.2, s"w2 ${beta(2)}")
    // deployment loop: the fitted weights score through scoreLinear with
    // better-than-chance separation
    val scored = TextOps.scoreLinear(df,
      Seq(col("x1") -> beta(1), col("x2") -> beta(2)), bias = beta(0))
    val acc = scored.filter(
      (col("clf_score") >= 0.5) === (col("y") === 1.0)).count() / 20000.0
    assert(acc > 0.75, s"train accuracy $acc")
  }

  test("fitLogistic stays finite on separable data (ridge regularized)") {
    val df = spark.range(2000).select(col("id"), u11(7).as("x1"))
      .withColumn("y", when(col("x1") > 0, 1.0).otherwise(0.0))
    val beta = Fit.fitLogistic(df, Seq(col("x1")), col("y"),
      iters = 25, ridge = 1e-3)
    assert(beta.forall(b => !b.isNaN && !b.isInfinite))
    val acc = TextOps.scoreLinear(df, Seq(col("x1") -> beta(1)), beta(0))
      .filter((col("clf_score") >= 0.5) === (col("y") === 1.0))
      .count() / 2000.0
    assert(acc > 0.99, s"separable accuracy $acc")
  }
}
