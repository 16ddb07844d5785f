package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Curation, Dedup, Packing, TextOps}

/** The batch curation workload: a planted corpus through `Curation.curate`
  * on the distributed connected-components path, then tokenised and packed
  * with `Packing.emitPackedIds`, collected into the benchmark JVM. */
final class CurateRun(spark: SparkSession, run: RunConfig) {
  import CurateRun._

  private val tracer = run.tracer

  /** The benchmark's tokenizer: each lowercase word read as a base-26
    * number ([[Corpus.tokenId]] is the same in plain Scala). */
  private def tokenize(text: org.apache.spark.sql.Column) =
    transform(split(text, " "), w =>
      conv(translate(w, "abcdefghijklmnopqrstuvwxyz", "0123456789abcdefghijklmnop"), 26, 10)
        .cast("int"))

  private def pack(kept: DataFrame): DataFrame =
    Packing.emitPackedIds(kept.select(col("doc_id"), tokenize(col("text")).as("token_ids")),
      budget = Budget, buckets = Buckets, padId = PadId)

  private def collectPacked(packed: DataFrame): Array[Checks.Packed] = {
    import spark.implicits._
    packed.select("n_docs", "n_tokens", "doc_lens", "doc_starts", "token_ids")
      .as[(Long, Int, Array[Int], Array[Int], Array[Int])].collect()
      .map { case (n, t, l, s, ids) => Checks.Packed(n, t, l, s, ids) }
  }

  /** One curate → pack pass as a user runs it. */
  private def pass(docs: DataFrame): Array[Checks.Packed] =
    collectPacked(pack(Curation.curate(docs, ccLocalThreshold = 0L)))

  private def scoped[T](scope: String)(body: => T): T = {
    spark.sparkContext.setLocalProperty(ExecCollector.ScopeKey, scope)
    try tracer.span(scope)(body)
    finally spark.sparkContext.setLocalProperty(ExecCollector.ScopeKey, null)
  }

  /** The same pass with each public operator call timed on its own and
    * materialised before the next: the filter gates and their defaults are
    * those of `Curation.curate`. */
  private def tracedPass(docs: DataFrame, i: Int): Array[Checks.Packed] = {
    val filtered = scoped(s"operators.analyze#$i") {
      val f = TextOps.analyze(docs, "text")
        .filter(col("lang_pred").isin("en") && col("quality") >= 0.7 &&
          col("token_count").between(5, 100000))
        .persist()
      f.count()
      f
    }
    val pairs = scoped(s"operators.minhash_pairs#$i") {
      val p = Dedup.minHashPairs(filtered, "text", "doc_id", threshold = 0.7)
      p.count()
      p
    }
    val kept = scoped(s"operators.components#$i") {
      val k = Dedup.keepCanonical(filtered, pairs, "doc_id", localThreshold = 0L).persist()
      k.count()
      k
    }
    val packed = scoped(s"operators.pack#$i") {
      val p = pack(kept)
      if (i == 1 - WarmPasses) tracer.span("catalyst.prepare")(p.queryExecution.executedPlan)
      collectPacked(p)
    }
    kept.unpersist(true); pairs.unpersist(true); filtered.unpersist(true)
    packed
  }

  /** One set-up: generate the corpus and write it as parquet, as the
    * passes read it. */
  private def setUp(k: Int): (Corpus, DataFrame) = {
    val corpus = new Corpus(run.seed, nUnique = Unique, nClusters = Clusters,
      nRejects = Rejects)
    val path = run.dir(s"corpus-$k").toString
    // many small slices: a local collection ships inside its tasks
    spark.createDataFrame(spark.sparkContext.parallelize(corpus.docs, 64))
      .coalesce(InputFiles).write.parquet(path)
    (corpus, spark.read.parquet(path))
  }

  def execute(): Result = {
    val setupSec = ArrayBuffer[Double]()
    var set: (Corpus, DataFrame) = null
    for (k <- 1 to RunConfig.SetUps) {
      val t0 = System.nanoTime()
      set = tracer.span(s"setup#$k")(setUp(k))
      setupSec += (System.nanoTime() - t0) / 1e9
      // the passes read the last set-up's corpus
      if (k < RunConfig.SetUps) FileUtils.deleteDirectory(run.dir(s"corpus-$k"))
    }
    val (corpus, docs) = set
    val truth = new Checks.PackTruth(corpus.docs, corpus.keptIds)
    val checks = ArrayBuffer[(String, Option[String])]()
    var fill = 0.0
    // each pass is checked as soon as it ends, untimed, and then dropped;
    // warm-up passes are numbered up to 0, timed ones from 1
    def once(i: Int): Double = {
      val p0 = System.nanoTime()
      val packed = if (tracer.enabled) tracedPass(docs, i) else pass(docs)
      val sec = (System.nanoTime() - p0) / 1e9
      checks += (if (i <= 0) s"warmup${i + WarmPasses}" else s"pass$i") ->
        truth.check(packed, Budget, PadId)
      fill = packed.map(_.nTokens.toDouble).sum / (packed.length.toDouble * Budget)
      sec
    }
    // untimed warm-up on the same corpus: the first timed pass after a
    // single warm-up pass still ran 10-25 % slower than the later ones
    tracer.span("warmup")((1 - WarmPasses to 0).foreach(once))
    // heap retained after the same work on every run: at the end of the run
    // it would also hold whatever the engine keeps per pass, and a faster
    // engine runs more passes
    val retainedMb = Heap.retainedBytes() / Heap.MB
    val heapPeak = if (tracer.enabled) Some(new HeapPeak) else None
    heapPeak.foreach(_.reset())

    // whole passes while one more fits in the timed section, counted in
    // pass time alone, so the checks between passes do not change how many
    // run
    val passSec = ArrayBuffer[Double]()
    tracer.span("timed") {
      while (passSec.isEmpty || passSec.sum + passSec.last <= run.seconds)
        passSec += once(passSec.size + 1)
    }
    val heapPeakMb = heapPeak.map(_.peakBytes / Heap.MB).getOrElse(0.0)
    heapPeak.foreach(_.close())

    val medPass = Stats.median(passSec)
    val e2e = Map(
      "setup_s" -> run.setupS(setupSec),
      "records_per_s" -> corpus.size / medPass,
      // every document of a pass lands when the pass ends; with fewer than
      // forty passes the median pass is reported alone, under both names
      "latency_p50_ms" -> medPass * 1e3,
      "latency_p95_ms" -> medPass * 1e3,
      "retained_heap_mb" -> retainedMb)
    val notes = Map[String, Any](
      "session_s" -> run.sessionS,
      "setups_s" -> setupSec.toList,
      "documents" -> corpus.size,
      "kept_documents" -> corpus.keptIds.size,
      "passes_s" -> passSec.toList,
      "checks" -> checks.map { case (n, r) => n -> r.getOrElse("ok") }.toMap)
    val layers = if (!tracer.enabled) Map.empty[String, Double]
      else perLayer(passSec.size, fill, heapPeakMb)
    Result(e2e, layers, checks.toSeq, notes)
  }

  private def perLayer(passes: Int, fill: Double, heapPeakMb: Double)
      : Map[String, Double] = {
    org.apache.spark.sql.PerfbenchAccess.drainListeners(spark.sparkContext)
    val timed = 1 to passes
    val ops = Seq("operators.analyze", "operators.minhash_pairs", "operators.components",
      "operators.pack")
    def opSec(op: String) = Stats.median(timed.map(i => tracer.ms(s"$op#$i") / 1e3))
    def scopes(i: Int) = ops.flatMap(op => Option(run.exec.scopes.get(s"$op#$i")))
    def perPass(f: Seq[ExecScope] => Double) = Stats.median(timed.map(i => f(scopes(i))))
    Map(
      "catalyst.prepare_ms" -> tracer.ms("catalyst.prepare"),
      "operators.analyze_s" -> opSec("operators.analyze"),
      "operators.minhash_pairs_s" -> opSec("operators.minhash_pairs"),
      "operators.components_s" -> opSec("operators.components"),
      "operators.pack_s" -> opSec("operators.pack"),
      "pack.fill_ratio" -> fill,
      "exec.jobs" -> perPass(_.map(_.jobs).sum.toDouble),
      "exec.tasks" -> perPass(_.map(_.tasks).sum.toDouble),
      "exec.cpu_s" -> perPass(_.map(_.cpuNs).sum / 1e9),
      "exec.gc_s" -> perPass(_.map(_.gcMs).sum / 1e3),
      "exec.shuffle_write_mb" -> perPass(_.map(_.shuffleWriteBytes).sum / Heap.MB),
      "exec.spill_mb" -> perPass(_.map(_.spillBytes).sum / Heap.MB),
      "exec.task_skew" -> perPass(s => if (s.isEmpty) 1.0 else s.map(_.skew).max),
      "jvm.heap_peak_mb" -> heapPeakMb)
  }
}

object CurateRun {
  val Unique = 6000
  val Clusters = 1500
  val Rejects = 750
  val Budget = 1024
  val Buckets = 64
  val PadId = 0
  val InputFiles = 4
  val WarmPasses = 2
}
