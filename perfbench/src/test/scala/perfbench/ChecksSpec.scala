package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Check-the-checker: each workload's output check accepts the right
  * result and rejects it with one row dropped or one value perturbed.
  * Plain Scala, no Spark session. Run with `sbt test` in this directory. */
class ChecksSpec extends AnyFunSuite {

  private def events(gen: Long => Ev, n: Int): Vector[Ev] = Vector.fill(n)(gen(0L))

  test("keyed_analytics: analytics check rejects a dropped row and a perturbed value") {
    val gen = new IotInputs.Zipf(7, nDevices = 500, skew = 1.0)
    val evs = events(gen.next, 4000)
    val good = Checks.expectedAnalytics(evs.iterator).toVector
    // the hand-checkable start: every device's first event has no lag
    assert(good.take(500).forall(r => r.prev.isNaN && r.changed))
    assert(good.drop(500).exists(r => !r.changed) && good.drop(500).exists(_.changed))
    // the received rows are folded in as they arrive, in any order
    def check(rows: Vector[Checks.AnRow]) = Checks.checkAnalytics(
      Checks.anDigest(Checks.expectedAnalytics(evs.iterator)), Checks.anDigest(rows.iterator))
    assert(check(good).isEmpty)
    assert(check(scala.util.Random.shuffle(good)).isEmpty, "order must not matter")
    // the engine's running sums may differ from the model's in the last bits
    assert(check(good.map(r => r.copy(total = r.total * (1 + 1e-15)))).isEmpty, "rounding")
    assert(check(good.patch(2000, Nil, 1)).nonEmpty, "dropped row")
    assert(check(good :+ good(2000)).nonEmpty, "duplicated row")
    val r = good(3000)
    assert(check(good.updated(3000, r.copy(total = r.total + 0.1))).nonEmpty, "acc_sum")
    assert(check(good.updated(3000, r.copy(prev = r.prev + 0.1))).nonEmpty, "lag")
    assert(check(good.updated(3000, r.copy(changed = !r.changed))).nonEmpty, "had_changed")
  }

  /** A correct curate → pack result built in plain Scala: the planted kept
    * documents, packed greedily in id order into padded sequences. */
  private def packByHand(c: Corpus, budget: Int): Vector[Checks.Packed] = {
    val kept = c.docs.filter(d => c.keptIds(d.doc_id)).sortBy(_.doc_id)
      .map(d => Corpus.tokenIds(d.text))
    val seqs = Vector.newBuilder[Vector[Array[Int]]]
    var open = Vector.empty[Array[Int]]
    kept.foreach { t =>
      if (open.map(_.length).sum + t.length > budget) { seqs += open; open = Vector.empty }
      open :+= t
    }
    seqs += open
    seqs.result().map { docs =>
      val lens = docs.map(_.length).toArray
      val ids = docs.flatten.toArray
      Checks.Packed(docs.size.toLong, ids.length, lens, lens.scanLeft(0)(_ + _).init,
        ids ++ Array.fill(budget - ids.length)(0))
    }
  }

  test("codegen.fallbacks counts the code generator's compile errors only") {
    val counter = CodegenFallbackCounter.attach()
    val cg = org.apache.logging.log4j.LogManager
      .getLogger("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")
    cg.error("Failed to compile the generated Java code.",
      new RuntimeException("Code grows beyond 64 KB"))
    cg.warn("a warning is no fallback")
    org.apache.logging.log4j.LogManager.getLogger("elsewhere").error("unrelated")
    assert(counter.count == 1)
    assert(counter.messages.peek().contains("Code grows beyond 64 KB"))
  }

  test("curate_batch: planted corpus has the structure the check relies on") {
    val c = new Corpus(7, nUnique = 300, nClusters = 80, nRejects = 60)
    assert(c.docs.map(_.doc_id).distinct.size == c.size)
    assert(c.keptIds.size == 300 + 80)
    assert(c.clusterIds.forall(ids => c.keptIds(ids.min) && ids.count(c.keptIds) == 1))
    def shingles(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val text = c.docs.map(d => d.doc_id -> d.text).toMap
    val minJaccard = c.clusterIds.flatMap { ids =>
      for (a <- ids; b <- ids if a < b) yield {
        val (sa, sb) = (shingles(text(a)), shingles(text(b)))
        (sa & sb).size.toDouble / (sa | sb).size
      }
    }.min
    assert(minJaccard > 0.8, s"planted pairs must sit far above 0.7, min $minJaccard")
    // every document's token sequence is distinct, so a packed segment
    // names exactly one document
    assert(c.docs.map(d => Corpus.tokenIds(d.text).toSeq).distinct.size == c.size)
  }

  test("curate_batch: pack check rejects a dropped document and a perturbed token") {
    val c = new Corpus(7, nUnique = 300, nClusters = 80, nRejects = 60)
    val budget = 512
    val good = packByHand(c, budget)
    val truth = new Checks.PackTruth(c.docs, c.keptIds)
    def check(p: Vector[Checks.Packed]) = truth.check(p, budget, 0)
    assert(check(good).isEmpty)

    // drop the last member of the first sequence, keeping the sequence
    // itself consistent: only the kept-id set is then wrong
    val s = good.head
    val lastLen = s.docLens.last
    val shorter = s.copy(nDocs = s.nDocs - 1, nTokens = s.nTokens - lastLen,
      docLens = s.docLens.init, docStarts = s.docStarts.init,
      tokenIds = s.tokenIds.take(s.nTokens - lastLen) ++ Array.fill(budget - s.nTokens + lastLen)(0))
    assert(check(good.updated(0, shorter)).nonEmpty, "dropped document")
    assert(check(good.tail).nonEmpty, "dropped sequence")

    val ids = s.tokenIds.clone(); ids(3) += 1
    assert(check(good.updated(0, s.copy(tokenIds = ids))).nonEmpty, "perturbed token")
    val padded = s.tokenIds.clone(); padded(budget - 1) = 5
    assert(check(good.updated(0, s.copy(tokenIds = padded))).nonEmpty, "token in padding")
    assert(check(good :+ good.head).nonEmpty, "document packed twice")
  }
}
