package perfbench

import java.util.concurrent.locks.LockSupport
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.api.StreamSql

/** The keyed analytics workload: three per-device analytics over an
  * in-process event stream. The query is set up [[RunConfig.SetUps]] times,
  * the last one is warmed up, then fed in a closed loop (throughput) and in
  * an open loop at a fixed offered rate (latency), and its output checked. */
final class KeyedRun(spark: SparkSession, run: RunConfig) {
  import KeyedRun._

  private val tracer = run.tracer
  private val streamMetrics = StreamSql(spark).metrics
  private val openPerCycle = (run.seconds * (1 - ClosedShare) * Rate / Cycles).toInt
  private val openN = openPerCycle * Cycles

  /** One query over its own event source, from a fresh generator (the same
    * seed, so the same events) and a fresh checkpoint. Expected rows are
    * computed as events are generated and received rows folded in as they
    * reach the sink, both into per-phase digests, so what the benchmark
    * holds does not grow with the number of events a run pushes. */
  private final class Query(name: String) {
    private val gen = new IotInputs.Zipf(run.seed, Devices, skew = 1.0)
    private val model = new Checks.AnalyticsModel
    private val ss = StreamSql(spark)
    private val mem = MemoryStream[Ev](run.cores)(Encoders.product[Ev], spark.sqlContext)
    private var generated = 0L
    var pushes = 0 // MemoryStream offsets: one per addData

    // the query's segments in order, as (first seq, phase, open-loop events
    // before it); phase 0 is the set-up and warm-up, 1 the closed loop and
    // 2 the open loop
    @volatile private var segments = Vector((0L, 0, 0L))
    private var phase = 0
    private var openGenerated = 0L
    private val expected = Array.fill(3)(Checks.Digest.Empty)
    private val received = Array.fill(3)(Checks.Digest.Empty)
    private var nReceived = 0L
    // open-loop event i: its latency and the ordinal of the micro-batch
    // that delivered it
    private val latencyMs = Array.fill(openN)(Double.NaN)
    private val latencyBatch = new Array[Int](openN)
    private var sinkBatches = 0

    val q: StreamingQuery = {
      ss.registerTable("stream", mem.toDF())
      val out = tracer.span(s"engine.execute#$name")(ss.execute(KeyedRule))
      tracer.span(s"query.start#$name")(ss.addSink(out)(rows => sink(rows))
        .option("checkpointLocation", run.dir(s"checkpoint-$name").toString)
        .start())
    }

    def startSegment(p: Int): Unit = {
      segments :+= ((generated, p, openGenerated))
      phase = p
    }

    /** The next event, stamped `genNs`, with its expected row folded in. */
    def next(genNs: Long): Ev = {
      val e = gen.next(genNs)
      expected(phase) += Checks.anHash(model.next(e))
      generated += 1
      if (phase == 2) openGenerated += 1
      e
    }

    def batch(n: Int): Seq[Ev] = (0 until n).map(_ => next(System.nanoTime()))

    def push(evs: Seq[Ev]): Unit = {
      mem.addData(evs)
      pushes += 1
    }

    private def sink(rows: Seq[Row]): Unit = {
      val now = System.nanoTime()
      synchronized {
        sinkBatches += 1
        rows.foreach { r =>
          val seq = r.getAs[Long]("seq")
          val (from, p, openBase) = segments.findLast(_._1 <= seq).get
          val prev = r.fieldIndex("prev_temp")
          received(p) += Checks.anHash(Checks.AnRow(seq,
            if (r.isNullAt(prev)) Double.NaN else r.getDouble(prev),
            r.getAs[Boolean]("status_changed"), r.getAs[Double]("temp_total")))
          nReceived += 1
          if (p == 2 && openBase + seq - from < openN) {
            val i = (openBase + seq - from).toInt
            latencyMs(i) = (now - r.getAs[Long]("gen_ns")) / 1e6
            latencyBatch(i) = sinkBatches
          }
        }
      }
    }

    def check(p: Int): Option[String] =
      synchronized(Checks.checkAnalytics(expected(p), received(p)))

    def latencies: (Vector[Double], Vector[Int]) = synchronized {
      val got = latencyMs.indices.filter(i => !latencyMs(i).isNaN)
      (got.map(latencyMs).toVector, got.map(latencyBatch).toVector)
    }

    /** `StreamSql.metrics` must count every pushed event as input and every
      * received row as output. */
    def metricsChecks(): Seq[(String, Option[String])] = {
      org.apache.spark.sql.PerfbenchAccess.drainListeners(spark.sparkContext)
      val st = streamMetrics.stats(q)
      val got = synchronized(nReceived)
      Seq(
        "metrics_input" -> Option.when(st.inputCount != generated)(
          s"StreamSql.metrics input_count ${st.inputCount}, pushed $generated"),
        "metrics_output" -> Option.when(st.outputCount != got)(
          s"StreamSql.metrics output_count ${st.outputCount}, received $got"))
    }
  }

  /** One set-up: plan and start a query, then prime its state with one
    * event per device. */
  private def setUp(k: Int): Query = {
    val query = new Query(k.toString)
    query.push(query.batch(Devices))
    query.q.processAllAvailable()
    query
  }

  def execute(): Result = {
    if (tracer.enabled) {
      // the first (cold) parse and plan build, as GraftEngine.sql runs them
      val stmt = tracer.span("sql.parse")(graft.sql.Parser.parseStatement(KeyedRule))
      val source = MemoryStream[Ev](run.cores)(Encoders.product[Ev], spark.sqlContext)
      tracer.span("plan.build")(
        new graft.plan.PlanBuilder(Map("stream" -> source.toDF())).build(stmt.head))
    }
    // every set-up but the last is stopped, and its state stores unloaded
    // at once rather than by Spark's maintenance task a minute later
    val setupSec = ArrayBuffer[Double]()
    val checks = ArrayBuffer[(String, Option[String])]()
    var query: Query = null
    for (k <- 1 to RunConfig.SetUps) {
      val t0 = System.nanoTime()
      query = tracer.span(s"setup#$k")(setUp(k))
      setupSec += (System.nanoTime() - t0) / 1e9
      if (k < RunConfig.SetUps) {
        checks += s"setup$k" -> query.check(0)
        query.q.stop()
        org.apache.spark.sql.PerfbenchAccess.unloadStateStores()
      }
    }
    val q = query.q
    try {
      val phases = ArrayBuffer[(String, Int, Int)]() // phase, first/last push
      def phase[T](name: String, span: String)(body: => T): T = {
        val p0 = query.pushes
        val r = tracer.span(span)(body)
        phases += ((name, p0, query.pushes))
        r
      }
      // untimed warm-up: the per-trigger code path runs once per trigger,
      // so the JIT needs tens of triggers
      phase("warmup", "warmup") {
        for (_ <- 1 to WarmBatches) {
          query.push(query.batch(WarmBatch))
          q.processAllAvailable()
        }
      }
      // heap retained by the primed, warmed query, after the same work on
      // every run: at the end of the run it would also hold whatever the
      // engine keeps per trigger, and a faster engine runs more triggers
      val retainedMb = Heap.retainedBytes() / Heap.MB
      val heapPeak = if (tracer.enabled) Some(new HeapPeak) else None
      heapPeak.foreach(_.reset())

      // the timed section: Cycles rounds of a closed-loop segment then an
      // open-loop one, so that each loop's samples spread over the whole
      // section rather than one stretch of it (this host's speed drifts
      // over tens of seconds)
      val closedNs = (run.seconds * ClosedShare * 1e9 / Cycles).toLong
      val batchRates = ArrayBuffer[Double]()
      val lateMs = new Array[Double](openN)
      for (c <- 0 until Cycles) {
        // closed loop: the next batch is pushed once the previous one's
        // results have reached the sink; each batch's throughput is its
        // events over that round trip, and the run reports their median
        query.startSegment(1)
        phase("closed_loop", s"closed_loop#$c") {
          val t0 = System.nanoTime()
          while (System.nanoTime() - t0 < closedNs) {
            val evs = query.batch(Batch)
            val b0 = System.nanoTime()
            query.push(evs)
            q.processAllAvailable()
            batchRates += Batch / ((System.nanoTime() - b0) / 1e9)
          }
        }
        // open loop: event i is due at t0 + i / rate and stamped with that
        // due time; every GenTickNs the generator pushes everything due
        query.startSegment(2)
        phase("open_loop", s"open_loop#$c") {
          val t0 = System.nanoTime()
          val stepNs = 1e9 / Rate
          val base = c * openPerCycle
          var i = 0
          while (i < openPerCycle) {
            val now = System.nanoTime()
            val buf = ArrayBuffer[Ev]()
            while (i < openPerCycle && t0 + (i * stepNs).toLong <= now) {
              val due = t0 + (i * stepNs).toLong
              buf += query.next(due)
              lateMs(base + i) = (now - due) / 1e6
              i += 1
            }
            if (buf.nonEmpty) query.push(buf.toSeq)
            if (i < openPerCycle) {
              val wait = math.max(t0 + (i * stepNs).toLong, now + GenTickNs) - System.nanoTime()
              if (wait > 0) LockSupport.parkNanos(wait)
            }
          }
          q.processAllAvailable()
        }
      }
      val heapPeakMb = heapPeak.map(_.peakBytes / Heap.MB).getOrElse(0.0)
      heapPeak.foreach(_.close())

      // checks, untimed
      for ((name, p) <- Seq("warmup" -> 0, "closed_loop" -> 1, "open_loop" -> 2))
        checks += name -> query.check(p)
      checks ++= query.metricsChecks()

      val (lat, latBatch) = query.latencies
      val p95 = Stats.quantile(lat, 0.95)
      val tailBatches = lat.indices.filter(i => lat(i) > p95).map(latBatch).distinct.size
      val e2e = Map(
        "setup_s" -> run.setupS(setupSec),
        "records_per_s" -> Stats.median(batchRates),
        "latency_p50_ms" -> Stats.median(lat),
        "latency_p95_ms" -> p95,
        "retained_heap_mb" -> retainedMb)
      val notes = Map[String, Any](
        "session_s" -> run.sessionS,
        "setups_s" -> setupSec.toList,
        "closed_loop_batches" -> batchRates.size,
        "open_loop_events" -> openN,
        "latency_samples" -> lat.size,
        "micro_batches_beyond_p95" -> tailBatches,
        "checks" -> checks.map { case (n, r) => n -> r.getOrElse("ok") }.toMap)
      val (layers, triggerNotes) =
        if (!tracer.enabled) (Map.empty[String, Double], Map.empty[String, Any])
        else perLayer(q, phases.toSeq, lateMs.toSeq, heapPeakMb)
      Result(e2e, layers, checks.toSeq, notes ++ triggerNotes)
    } finally q.stop()
  }

  private def perLayer(
      q: StreamingQuery,
      phases: Seq[(String, Int, Int)],
      lateMs: Seq[Double],
      heapPeakMb: Double): (Map[String, Double], Map[String, Any]) = {
    org.apache.spark.sql.PerfbenchAccess.drainListeners(spark.sparkContext)
    val all = run.progress.progress.asScala.toVector
      .filter(p => p.id == q.id && p.numInputRows > 0)
    // a trigger belongs to the phase whose pushes it read: MemoryStream's
    // end offset is the index of the last push it includes
    def inPhase(name: String) = all.filter { p =>
      val end = p.sources.head.endOffset.toLong
      phases.exists { case (n, from, until) => n == name && end >= from && end < until }
    }
    val closed = inPhase("closed_loop")
    // each trigger as a span, placed by its wall-clock start
    val nanoAtEpochMs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    all.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L + nanoAtEpochMs
      tracer.record(s"trigger#${p.batchId}", start,
        start + p.durationMs.get("triggerExecution").longValue * 1000000L)
    }
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def med(f: StreamingQueryProgress => Double) = Stats.medianOr0(closed.map(f))
    val scopes = closed.flatMap(p => Option(run.exec.scopes.get(s"batch:${q.id}:${p.batchId}")))
    def execMed(f: ExecScope => Double) = Stats.medianOr0(scopes.map(f))
    val last = all.last
    val triggerMs = Seq("closed_loop", "open_loop").map(ph =>
      s"${ph}_trigger_ms" -> inPhase(ph).map(d(_, "triggerExecution")).toList).toMap
    (Map(
      "sql.parse_ms" -> tracer.ms("sql.parse"),
      "plan.build_ms" -> tracer.ms("plan.build"),
      "catalyst.prepare_ms" -> all.headOption.map(d(_, "queryPlanning")).getOrElse(0.0),
      "streaming.trigger_ms" -> med(d(_, "triggerExecution")),
      "streaming.planning_ms" -> med(d(_, "queryPlanning")),
      "streaming.offsets_ms" -> med(p => d(p, "latestOffset") + d(p, "getBatch")),
      "streaming.commit_ms" -> med(p => d(p, "walCommit") + d(p, "commitOffsets")),
      "streaming.add_batch_ms" -> med(d(_, "addBatch")),
      "gen.late_ms" -> Stats.medianOr0(lateMs),
      "state.rows" -> last.stateOperators.map(_.numRowsTotal).sum.toDouble,
      "state.memory_mb" -> last.stateOperators.map(_.memoryUsedBytes).sum / Heap.MB,
      "state.commit_ms" -> med(_.stateOperators.map(_.commitTimeMs).sum.toDouble),
      "state.update_ms" -> med(_.stateOperators.map(_.allUpdatesTimeMs).sum.toDouble),
      "exec.jobs" -> execMed(_.jobs),
      "exec.tasks" -> execMed(_.tasks),
      "exec.cpu_s" -> execMed(_.cpuNs / 1e9),
      "exec.gc_s" -> execMed(_.gcMs / 1e3),
      "exec.shuffle_write_mb" -> execMed(_.shuffleWriteBytes / Heap.MB),
      "exec.spill_mb" -> execMed(_.spillBytes / Heap.MB),
      "exec.task_skew" -> execMed(_.skew),
      "jvm.heap_peak_mb" -> heapPeakMb), triggerMs)
  }
}

object KeyedRun {
  /** Three per-device analytics over one partition spec: every event reads
    * and rewrites its device's state. */
  val KeyedRule: String =
    "SELECT deviceId, seq, gen_ns, " +
      "lag(temperature) OVER (PARTITION BY deviceId) AS prev_temp, " +
      "had_changed(true, status) OVER (PARTITION BY deviceId) AS status_changed, " +
      "acc_sum(temperature) OVER (PARTITION BY deviceId) AS temp_total " +
      "FROM stream WITH (TIMESTAMP='ts', TIMEUNIT='ms', TIEBREAK='seq')"

  val Devices = 100000
  /** Events per closed-loop micro-batch. */
  val Batch = 5000
  /** Open-loop offered rate, events per second. */
  val Rate = 2000
  /** Share of the timed section spent in the closed loop. */
  val ClosedShare = 0.3
  /** Closed-loop and open-loop segments alternate this many times. */
  val Cycles = 3
  /** Warm-up micro-batches and their size: small, for many triggers. */
  val WarmBatches = 12
  val WarmBatch = 1000
  /** The open-loop generator wakes at most this often (5 ms). */
  val GenTickNs = 5000000L
}
