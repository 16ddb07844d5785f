package perfbench

import scala.util.Random

/** One IoT event. `gen_ns` is the generator's stamp (`System.nanoTime` at
  * the event's due time); it rides through the rule so the sink can time
  * the event, and plays no part in any check. */
final case class Ev(
    seq: Long,
    deviceId: String,
    temperature: Double,
    humidity: Double,
    status: String,
    ts: Long,
    gen_ns: Long)

/** Seeded IoT event streams. Event `seq` is a pure function of the seed and
  * `seq` order (`next` is called in order), whatever the run's timing. */
object IotInputs {
  val TsBase = 1700000000000L
  val Statuses: Array[String] = Array("ok", "warn", "fault")

  def deviceName(i: Int): String = f"dev-$i%06d"

  /** The keyed workload's input: `nDevices` devices with Zipf(`skew`)
    * frequencies over a seeded rank order. The first `nDevices` events hold
    * each device once, so per-key state holds all devices from the start.
    * Each device's status is sticky and changes with probability 0.2. */
  final class Zipf(seed: Long, nDevices: Int, skew: Double) {
    private val rng = new Random(seed)
    private val byRank: Array[Int] = rng.shuffle((0 until nDevices).toVector).toArray
    private val cdf: Array[Double] = {
      val w = Array.tabulate(nDevices)(r => 1.0 / math.pow(r + 1, skew))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    private val status = Array.fill(nDevices)(0)
    private var primed = 0
    private var seq = 0L

    private def draw(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      byRank(math.min(if (i >= 0) i else -i - 1, nDevices - 1))
    }

    def next(genNs: Long): Ev = {
      val d = if (primed < nDevices) { primed += 1; byRank(primed - 1) } else draw()
      if (rng.nextInt(5) == 0) status(d) = (status(d) + 1 + rng.nextInt(2)) % 3
      val s = seq; seq += 1
      Ev(s, deviceName(d), rng.nextInt(400) / 10.0, rng.nextInt(1000) / 10.0,
        Statuses(status(d)), TsBase + s, genNs)
    }
  }
}

/** One document of the curation corpus. */
final case class Doc(doc_id: Long, text: String)

/** A seeded synthetic corpus with planted structure:
  *   - unique English documents;
  *   - near-duplicate clusters: a base document plus copies that each
  *     differ from it in one word, so every pair in a cluster has a word
  *     3-shingle Jaccard of about 0.95 (copy–base) or 0.9 (copy–copy), far
  *     above the 0.7 threshold: with 16 bands of 4 rows an LSH miss is
  *     below 1e-7 per pair;
  *   - planted rejects, one gate each: German text (language), three-word
  *     documents (token floor) and punctuation junk (quality).
  * Ids are a seeded permutation, so a cluster's canonical (lowest) id is
  * any of its members. Every document's token sequence is distinct. */
final class Corpus(seed: Long, nUnique: Int, nClusters: Int, nRejects: Int) {
  import Corpus._

  private val rng = new Random(seed)

  /** Pseudo-words of 4-6 lowercase letters: none is a stopword of any
    * language the language gate knows, and each is a token id below 2^31
    * under [[Corpus.tokenId]]. */
  private val vocab: Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < VocabSize) {
      val len = 4 + rng.nextInt(3)
      val w = (0 until len).map(_ => ('b' + rng.nextInt(25)).toChar).mkString
      if (!Reserved(w)) seen += w
    }
    seen.toArray
  }
  private val vocabCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(r => 1.0 / (r + 1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  private def word(): String = {
    val i = java.util.Arrays.binarySearch(vocabCdf, rng.nextDouble())
    vocab(math.min(if (i >= 0) i else -i - 1, VocabSize - 1))
  }

  private def words(n: Int, stop: Array[String]): Array[String] =
    Array.tabulate(n)(i => if (i % 5 == 2) stop(rng.nextInt(stop.length)) else word())

  private def englishWords(): Array[String] = words(80 + rng.nextInt(81), EnglishStop)

  /** `bases` then, per base, its copies (one substituted word each). */
  private val (clusters: Vector[Vector[String]], uniques: Vector[String]) = {
    val distinct = scala.collection.mutable.HashSet[String]()
    def fresh(mk: => String): String = {
      var t = mk
      while (!distinct.add(t)) t = mk
      t
    }
    val cl = Vector.fill(nClusters) {
      val base = englishWords()
      val baseText = fresh(base.mkString(" "))
      val copies = Vector.fill(1 + rng.nextInt(4)) {
        fresh {
          val c = base.clone()
          var i = rng.nextInt(c.length)
          while (i % 5 == 2) i = rng.nextInt(c.length)
          var w = word()
          while (w == c(i)) w = word()
          c(i) = w
          c.mkString(" ")
        }
      }
      baseText +: copies
    }
    (cl, Vector.fill(nUnique)(fresh(englishWords().mkString(" "))))
  }

  private val rejects: Vector[String] = Vector.tabulate(nRejects) { i =>
    i % 3 match {
      case 0 => words(80 + rng.nextInt(81), GermanStop).mkString(" ")
      case 1 => Seq(word(), "the", word()).mkString(" ")
      case _ => Array.fill(30)(Junk(rng.nextInt(Junk.length))).mkString(" ")
    }
  }

  val size: Int = clusters.map(_.size).sum + uniques.size + rejects.size

  /** Documents, in a seeded order, with seeded-permutation ids. */
  val (docs: Vector[Doc], keptIds: Set[Long], clusterIds: Vector[Vector[Long]]) = {
    val ids = rng.shuffle((0L until size.toLong).toVector)
    var next = 0
    def id(): Long = { next += 1; ids(next - 1) }
    val clustered = clusters.map(_.map(t => Doc(id(), t)))
    val unique = uniques.map(t => Doc(id(), t))
    val rejected = rejects.map(t => Doc(id(), t))
    val all = rng.shuffle(clustered.flatten ++ unique ++ rejected)
    val kept = unique.map(_.doc_id).toSet ++ clustered.map(_.map(_.doc_id).min)
    (all, kept, clustered.map(_.map(_.doc_id)))
  }
}

object Corpus {
  val VocabSize = 4000
  val EnglishStop: Array[String] = Array("the", "and", "is", "of", "to", "that", "with")
  val GermanStop: Array[String] = Array("der", "die", "das", "und", "ist", "nicht", "mit")
  val Junk: Array[String] = Array("##", "!!", "%%", "&&", "**", "--", "1234", "the")
  private val Reserved: Set[String] = Set(
    "the", "and", "is", "of", "to", "that", "with", "der", "die", "das", "und",
    "ist", "nicht", "mit", "le", "la", "les", "et", "est", "dans", "pour", "el",
    "los", "las", "es", "en", "que", "por")

  /** The benchmark's tokenizer, for the check: a lowercase word read as a
    * base-26 number (a=0 … z=25). The Spark side computes the same with
    * `conv(translate(w, a-z, 0-9a-p), 26, 10)`. */
  def tokenId(w: String): Int = {
    var v = 0L
    w.foreach(c => v = v * 26 + (c - 'a'))
    v.toInt
  }

  def tokenIds(text: String): Array[Int] = text.split(" ").map(tokenId)
}
