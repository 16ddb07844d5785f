package perfbench

/** Output checks computed apart from the engine: each recomputes the
  * expected result from the generated inputs in plain Scala and compares
  * it with what the engine returned. A check returns None when the output
  * is right, or a one-line reason. */
object Checks {

  /** Checks that fail on every run because of a known engine fault; they
    * still count as failed operations, but do not make a run incorrect.
    * `metrics_output`: `StreamMetrics` adds up `sink.numOutputRows`, which
    * a `foreachBatch` sink (what `StreamSql.addSink` builds) reports as -1,
    * so `output_count` stays 0 however many rows reach the sink. */
  val KnownFaults: Set[String] = Set("metrics_output")

  private def mix(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  /** Order-independent digest of a row set: its size and the sum of its
    * row hashes. Rows are folded in as they arrive, so a digest stays the
    * same size however many rows it covers. */
  final case class Digest(n: Long, sum: Long) {
    def +(rowHash: Long): Digest = Digest(n + 1, sum + rowHash)
  }
  object Digest { val Empty: Digest = Digest(0, 0) }

  /** One output row of the keyed analytics rule; `prev` is NaN for null. */
  final case class AnRow(seq: Long, prev: Double, changed: Boolean, total: Double)

  /** lag(temperature), had_changed(true, status) and acc_sum(temperature),
    * each per device, event by event in `seq` order. */
  final class AnalyticsModel {
    private final class St(var prev: Double, var status: String, var total: Double)
    private val st = new java.util.HashMap[String, St]()

    def next(e: Ev): AnRow = {
      val s = st.get(e.deviceId)
      if (s == null) {
        st.put(e.deviceId, new St(e.temperature, e.status, e.temperature))
        AnRow(e.seq, Double.NaN, changed = true, e.temperature)
      } else {
        val row = AnRow(e.seq, s.prev, s.status != e.status, s.total + e.temperature)
        s.prev = e.temperature; s.status = e.status; s.total = row.total
        row
      }
    }
  }

  def expectedAnalytics(events: Iterator[Ev]): Iterator[AnRow] = {
    val model = new AnalyticsModel
    events.map(model.next)
  }

  /** Temperatures are multiples of 0.1, so every lag and running sum is a
    * multiple of 0.1 up to rounding error: read in thousandths, the engine's
    * and the model's values agree exactly whatever order the sum ran in. */
  private def milli(x: Double): Long = if (x.isNaN) Long.MinValue else math.round(x * 1000)

  def anHash(r: AnRow): Long =
    mix(mix(mix(r.seq) ^ milli(r.prev)) ^ milli(r.total)) ^ (if (r.changed) 1L else 0L)

  def anDigest(rows: Iterator[AnRow]): Digest = rows.foldLeft(Digest.Empty)(_ + anHash(_))

  /** The received rows must be the expected ones: as many, and the same
    * rows (so none missing, doubled or changed). */
  def checkAnalytics(expected: Digest, got: Digest): Option[String] =
    if (expected.n != got.n) Some(s"analytics: expected ${expected.n} rows, got ${got.n}")
    else if (expected.sum != got.sum) Some(s"analytics: checksum differs over ${got.n} rows")
    else None

  /** One packed training sequence (the columns of `Packing.emitPackedIds`). */
  final case class Packed(
      nDocs: Long, nTokens: Int, docLens: Array[Int], docStarts: Array[Int],
      tokenIds: Array[Int])

  private def seqKey(ids: Array[Int], from: Int, until: Int): Long = {
    var h = 1469598103934665603L ^ (until - from)
    var i = from
    while (i < until) { h = mix(h ^ ids(i)); i += 1 }
    h
  }

  /** The planted ground truth of a curate → pack pass, built once per
    * corpus: each document keyed by its token sequence, and the ids that
    * curation must keep. */
  final class PackTruth(docs: Iterable[Doc], keptIds: Set[Long]) {
    private val byKey = scala.collection.mutable.HashMap[Long, Long]()
    docs.foreach { d =>
      val t = Corpus.tokenIds(d.text)
      byKey(seqKey(t, 0, t.length)) = d.doc_id
    }

    /** Curate → pack output against the truth:
      *   - every sequence holds at most `budget` tokens, its members'
      *     lengths and starts agree with its token count, and it is padded
      *     with `padId` up to `budget`;
      *   - every member segment is exactly one document's token sequence,
      *     and the documents found are exactly `keptIds`, each once — so the
      *     kept ids equal the planted truth and the token multiset is
      *     unchanged. */
    def check(packed: Iterable[Packed], budget: Int, padId: Int): Option[String] = {
      val found = new java.util.HashSet[Long]()
      packed.foreach { p =>
        if (p.nTokens > budget) return Some(s"pack: sequence of ${p.nTokens} > $budget tokens")
        if (p.docLens.length != p.nDocs || p.docStarts.length != p.nDocs)
          return Some("pack: n_docs disagrees with doc_lens/doc_starts")
        if (p.docLens.sum != p.nTokens) return Some("pack: doc_lens do not sum to n_tokens")
        if (p.tokenIds.length != math.max(budget, p.nTokens))
          return Some(s"pack: sequence of length ${p.tokenIds.length}, not $budget")
        if ((p.nTokens until p.tokenIds.length).exists(p.tokenIds(_) != padId))
          return Some("pack: padding holds a token")
        var start = 0
        var i = 0
        while (i < p.nDocs) {
          if (p.docStarts(i) != start) return Some("pack: doc_starts disagree with doc_lens")
          byKey.get(seqKey(p.tokenIds, start, start + p.docLens(i))) match {
            case None => return Some("pack: a member matches no input document")
            case Some(id) => if (!found.add(id)) return Some(s"pack: document $id packed twice")
          }
          start += p.docLens(i)
          i += 1
        }
      }
      val missing = keptIds.count(id => !found.contains(id))
      val extra = found.size - (keptIds.size - missing)
      if (missing > 0 || extra > 0)
        Some(s"curate: $missing planted-kept documents missing, $extra documents wrongly kept")
      else None
    }
  }
}
