package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.{GraftEngine, SparkTestBase}

case class Ev(deviceId: String, temperature: Double, ts: Long, status: String)

/** Structured-Streaming execution of the same dialect queries: windows with
  * watermarks, stateful counting/global windows, streaming analytics
  * (reference e2e equivalents under test/e2e/window_*_test.go). */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private var viewN = 0
  private def runStream(sql: String, rows: Seq[Ev], batches: Int = 1,
      mode: String = "append", triggerMs: Long = 0L,
      interBatch: () => Unit = () => ()): org.apache.spark.sql.DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = GraftEngine.sql(sql, Map("stream" -> mem.toDF()))
    viewN += 1
    val name = s"out$viewN"
    var writer = out.writeStream.format("memory").queryName(name).outputMode(mode)
    if (triggerMs > 0)
      writer = writer.trigger(
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(triggerMs))
    val query = writer.start()
    val per = math.max(1, rows.size / batches)
    var first = true
    rows.grouped(per).foreach { chunk =>
      if (!first) interBatch()
      first = false
      mem.addData(chunk: _*)
      query.processAllAvailable()
    }
    SparkTestBase.stopQuietly(query)
    spark.table(name)
  }

  test("streaming filter + transform (append, per-record path)") {
    val rows = Seq(Ev("d1", 20, 1000, "a"), Ev("d1", 30, 2000, "a"), Ev("d2", 50, 3000, "b"))
    val out = runStream(
      "SELECT deviceId, temperature * 1.8 + 32 AS f FROM stream WHERE temperature > 25",
      rows)
    assert(out.collect().map(_.getDouble(1)).sorted.toSeq == Seq(86.0, 122.0))
  }

  test("streaming tumbling window with watermark") {
    val rows = (0 until 10).map(i => Ev("d1", i, i * 1000L, "a")) :+
      Ev("d1", 99, 60000L, "a") // advances watermark past the first windows
    val out = runStream(
      "SELECT deviceId, count(*) AS c, window_start() AS ws FROM stream " +
        "GROUP BY deviceId, TumblingWindow('5s') " +
        "WITH (TIMESTAMP='ts', TIMEUNIT='ms', MAXOUTOFORDERNESS='1s')",
      rows, batches = 3)
    val got = out.collect().map(r => (r.getLong(2), r.getLong(1))).toMap
    assert(got.get(0L).contains(5L))
    assert(got.get(5000L).contains(5L))
  }

  test("streaming counting window fires every n per key") {
    val rows = Seq(
      Ev("d1", 1, 1000, "a"), Ev("d1", 2, 2000, "a"),
      Ev("d2", 10, 1500, "a"),
      Ev("d1", 3, 3000, "a"), Ev("d1", 4, 4000, "a"),
      Ev("d2", 20, 2500, "a"))
    val out = runStream(
      "SELECT deviceId, sum(temperature) AS s, count(*) AS c FROM stream " +
        "GROUP BY deviceId, CountingWindow(2) WITH (TIMESTAMP='ts', TIMEUNIT='ms')",
      rows, batches = 3)
    val got = out.collect().map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    assert(got == Seq(("d1", 3.0), ("d1", 7.0), ("d2", 30.0)))
  }

  test("streaming counting window state spans micro-batches") {
    val rows = Seq(Ev("d1", 1, 1000, "a"), Ev("d1", 2, 2000, "a"), Ev("d1", 3, 3000, "a"))
    // one row per micro-batch; window of 2 must fire mid-stream
    val out = runStream(
      "SELECT deviceId, sum(temperature) AS s FROM stream " +
        "GROUP BY deviceId, CountingWindow(2) WITH (TIMESTAMP='ts', TIMEUNIT='ms')",
      rows, batches = 3)
    assert(out.collect().map(_.getDouble(1)).toSeq == Seq(3.0))
  }

  test("global window TRIGGER WHEN fires and purges (streaming)") {
    val rows = (1 to 7).map(i => Ev("d1", i, i * 1000L, "a"))
    val out = runStream(
      "SELECT deviceId, count(*) AS c FROM stream " +
        "GROUP BY deviceId, GLOBAL WINDOW TRIGGER WHEN count(*) >= 3 " +
        "WITH (TIMESTAMP='ts', TIMEUNIT='ms')",
      rows, batches = 2)
    // fires at rows 3 and 6; purge after each
    assert(out.collect().map(_.getLong(1)).toSeq == Seq(3L, 3L))
  }

  test("global window TRIGGER WHEN in batch mode") {
    val df = (1 to 7).map(i => ("d1", i.toDouble, i * 1000L)).toDF("deviceId", "v", "ts")
    val out = GraftEngine.sql(
      "SELECT deviceId, sum(v) AS s FROM stream " +
        "GROUP BY deviceId, GLOBAL WINDOW TRIGGER WHEN sum(v) > 5 " +
        "WITH (TIMESTAMP='ts', TIMEUNIT='ms')", df)
    // running sums fire-and-purge: 1,3,6→fire(6); 4,9→fire(9); 6→fire(6); 7→fire(7)
    assert(out.collect().map(_.getDouble(1)).toSeq == Seq(6.0, 9.0, 6.0, 7.0))
  }

  test("streaming lag and acc_sum match the batch lowering") {
    val rows = Seq(
      Ev("d1", 20, 1000, "a"), Ev("d1", 30, 2000, "a"), Ev("d1", 40, 3000, "a"),
      Ev("d2", 10, 1500, "a"), Ev("d2", 50, 2500, "a"))
    val sql = "SELECT deviceId, ts, lag(temperature) OVER (PARTITION BY deviceId) AS p, " +
      "acc_sum(temperature) OVER (PARTITION BY deviceId) AS s FROM stream " +
      "WITH (TIMESTAMP='ts', TIMEUNIT='ms')"
    val streamed = runStream(sql, rows, batches = 2)
      .select("deviceId", "ts", "p", "s").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2), r.getDouble(3))).sortBy(x => (x._1, x._2))
    val batch = GraftEngine.sql(sql, rows.toDF())
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2), r.getDouble(3))).sortBy(x => (x._1, x._2))
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming changed_col with WHEN gating replay") {
    val rows = Seq(
      Ev("d1", 1, 1000, "on"), Ev("d1", 2, 2000, "on"),
      Ev("d1", 3, 3000, "off"), Ev("d1", 4, 4000, "off"))
    val out = runStream(
      "SELECT deviceId, ts, changed_col(true, status) OVER (PARTITION BY deviceId) AS c " +
        "FROM stream WITH (TIMESTAMP='ts', TIMEUNIT='ms')",
      rows, batches = 2)
    val got = out.collect().map(r => (r.getLong(1), r.getString(2))).sortBy(_._1)
    // suppression: rows with null change dropped (reference stream.go:551-567)
    assert(got.toSeq == Seq((1000L, "on"), (3000L, "off")))
  }

  test("streaming MATCH_RECOGNIZE emits finalized matches across batches") {
    // WITHIN '2s' horizon: matches finalize once a row 2s newer arrives
    val rows = Seq(
      Ev("d1", 60, 1000, "a"), Ev("d1", 70, 1500, "a"), // match [1000,1500]
      Ev("d1", 40, 2000, "a"),
      Ev("d1", 80, 5000, "a"), Ev("d1", 90, 5500, "a"), // match [5000,5500]
      Ev("d1", 10, 9000, "a")) // horizon push → finalizes the second match
    val out = runStream(
      "SELECT * FROM stream MATCH_RECOGNIZE ( PARTITION BY deviceId ORDER BY ts " +
        "MEASURES MATCH_NUMBER() AS mn, LAST(A.temperature) AS peak ONE ROW PER MATCH " +
        "PATTERN (A{2}) WITHIN '2s' DEFINE A AS temperature > 50 ) " +
        "WITH (TIMESTAMP='ts', TIMEUNIT='ms')",
      rows, batches = 3)
    val got = out.collect().map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 70.0), (2L, 90.0)))
  }

  test("streaming MATCH_RECOGNIZE greedy match extends past the safety horizon") {
    // rows t=0s,5s then t=15s: with WITHIN '10s' only t=0 is "safe" when
    // t=15 arrives, but the greedy A+ match anchored at t=0 legitimately
    // includes t=5 (5s ≤ 0s+WITHIN) — it must emit [t0,t5], not a
    // truncated [t0]
    val rows = Seq(
      Ev("d1", 60, 0L, "a"), Ev("d1", 70, 5000L, "a"),
      Ev("d1", 80, 15000L, "a"),
      Ev("d1", 0, 30000L, "a")) // below threshold; finalizes the t=15 match
    val out = runStream(
      "SELECT * FROM stream MATCH_RECOGNIZE ( PARTITION BY deviceId ORDER BY ts " +
        "MEASURES FIRST(A.ts) - 0 AS t0, LAST(A.temperature) AS lastv ONE ROW PER MATCH " +
        "PATTERN (A+) WITHIN '10s' DEFINE A AS temperature > 50 ) " +
        "WITH (TIMESTAMP='ts', TIMEUNIT='ms')",
      rows, batches = 4)
    val got = out.collect().map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(got.toSeq == Seq((0L, 70.0), (15000L, 80.0)))
  }

  test("streaming analytics across successive tumbling windows") {
    // acc_sum over window averages, per key, across window emissions
    // (reference: stream/stream.go:574-615 — window-path analytics); one
    // stateful operator owns both window buffers and cross-window state
    val rows = Seq(
      Ev("d1", 10, 1000L, "a"), Ev("d1", 20, 2000L, "a"),   // w[0,5s): avg 15
      Ev("d1", 30, 6000L, "a"), Ev("d1", 50, 7000L, "a"),   // w[5,10s): avg 40
      Ev("d2", 5, 1500L, "a"),                              // d2 w[0,5s): avg 5
      Ev("d1", 1, 20000L, "a"), Ev("d2", 1, 20000L, "a"))   // advance watermark
    val out = runStream(
      "SELECT deviceId, round(avg(temperature), 2) AS av, " +
        "round(acc_sum(avg(temperature)), 2) AS running, window_start() AS ws " +
        "FROM stream GROUP BY deviceId, TumblingWindow('5s') " +
        "WITH (TIMESTAMP='ts', TIMEUNIT='ms')",
      rows, batches = 3)
    val got = out.collect()
      .map(r => (r.getString(0), r.getLong(3), r.getDouble(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got == Seq(
      ("d1", 0L, 15.0, 15.0), ("d1", 5000L, 40.0, 55.0), ("d2", 0L, 5.0, 5.0)),
      s"got $got")
  }

  test("streaming analytics across counting windows (combo shape)") {
    // the q_window_analytic_combo shape: acc_sum of window averages,
    // CountingWindow per key — streaming now matches the batch lowering
    val rows = Seq(
      Ev("d1", 10, 1000L, "a"), Ev("d1", 20, 2000L, "a"),
      Ev("d1", 30, 3000L, "a"), Ev("d1", 50, 4000L, "a"),
      Ev("d1", 99, 5000L, "a")) // partial window: held back
    val out = runStream(
      "SELECT deviceId, round(avg(temperature), 2) AS av, " +
        "round(acc_sum(avg(temperature)), 2) AS running FROM stream " +
        "GROUP BY deviceId, CountingWindow(2) WITH (TIMESTAMP='ts', TIMEUNIT='ms')",
      rows, batches = 2)
    val got = out.collect().map(r => (r.getDouble(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(got == Seq((15.0, 15.0), (40.0, 55.0)), s"got $got")
  }

  test("streaming analytics across session windows") {
    // sessions (gap 5s): [1s,2s] and [10s,12s] per key; acc_count chains
    // across finalized sessions in start order
    val rows = Seq(
      Ev("d1", 1, 1000L, "a"), Ev("d1", 2, 2000L, "a"),
      Ev("d1", 3, 10000L, "a"), Ev("d1", 4, 12000L, "a"),
      Ev("d1", 9, 60000L, "a")) // advances the key's watermark
    val out = runStream(
      "SELECT deviceId, count(*) AS c, acc_sum(count(*)) AS total, " +
        "window_start() AS ws FROM stream " +
        "GROUP BY deviceId, SessionWindow('5s') WITH (TIMESTAMP='ts', TIMEUNIT='ms')",
      rows, batches = 2)
    val got = out.collect()
      .map(r => (r.getLong(3), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(got == Seq((1000L, 2L, 2.0), (10000L, 2L, 4.0)), s"got $got")
  }

  test("streaming analytics across sliding windows") {
    // lag of the window count across overlapping 10s/5s windows per key
    val rows = Seq(
      Ev("d1", 1, 1000L, "a"), Ev("d1", 2, 6000L, "a"), Ev("d1", 3, 11000L, "a"),
      Ev("d1", 9, 60000L, "a")) // advance watermark
    val out = runStream(
      "SELECT deviceId, count(*) AS c, lag(count(*)) AS prevc, window_start() AS ws " +
        "FROM stream GROUP BY deviceId, SlidingWindow('10s', '5s') " +
        "WITH (TIMESTAMP='ts', TIMEUNIT='ms')",
      rows, batches = 2)
    val got = out.collect()
      .map(r => (r.getLong(3), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1).toSeq
    // windows: [-5,5):1 row, [0,10):2, [5,15):2, [10,20):1 — lag chains them
    assert(got == Seq((-5000L, 1L, -1L), (0L, 2L, 1L), (5000L, 2L, 2L), (10000L, 1L, 2L)),
      s"got $got")
  }

  test("IDLETIMEOUT flushes open tumbling windows on an idle key") {
    // no later row ever advances the key's watermark — only the 1s idle
    // flush closes the [0,5s) window (poll the sink: processAllAvailable
    // never returns while a processing-time timeout is armed)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = GraftEngine.sql(
      "SELECT deviceId, count(*) AS c, acc_count(count(*)) AS n FROM stream " +
        "GROUP BY deviceId, TumblingWindow('5s') " +
        "WITH (TIMESTAMP='ts', TIMEUNIT='ms', IDLETIMEOUT='1s')",
      Map("stream" -> mem.toDF()))
    val q = out.writeStream.format("memory").queryName("idlewin")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(250L))
      .start()
    mem.addData(Ev("d1", 1, 1000L, "a"), Ev("d1", 2, 2000L, "a"))
    val deadline = System.currentTimeMillis() + 30000
    var got: Seq[(Long, Long)] = Nil
    while (got.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(500)
      got = spark.table("idlewin").collect()
        .map(r => (r.getLong(1), r.getLong(2))).toSeq
    }
    SparkTestBase.stopQuietly(q)
    assert(got == Seq((2L, 1L)), s"expected idle-flushed window, got $got")
  }

  test("streaming MATCH_RECOGNIZE keeps overlap rows under SKIP TO NEXT ROW") {
    // WITHIN '60s': after [0,55s,58s] is emitted, rows 55s/58s must stay
    // buffered — the overlapping match [55s,58s,100s] starts at a
    // then-unsafe row and is emitted once the watermark passes it
    val rows = Seq(
      Ev("d1", 60, 0L, "a"), Ev("d1", 70, 55000L, "a"), Ev("d1", 80, 58000L, "a"),
      Ev("d1", 90, 100000L, "a"),
      Ev("d1", 0, 200000L, "a")) // advances the horizon, not an A row
    val out = runStream(
      "SELECT * FROM stream MATCH_RECOGNIZE ( PARTITION BY deviceId ORDER BY ts " +
        "MEASURES FIRST(A.ts) - 0 AS t0, LAST(A.temperature) AS lastv ONE ROW PER MATCH " +
        "AFTER MATCH SKIP TO NEXT ROW PATTERN (A{3}) WITHIN '60s' " +
        "DEFINE A AS temperature > 50 ) " +
        "WITH (TIMESTAMP='ts', TIMEUNIT='ms')",
      rows, batches = 5)
    val got = out.collect().map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(got.toSeq == Seq((0L, 80.0), (55000L, 90.0)), s"got ${got.toSeq}")
  }

  test("IDLETIMEOUT works on plain windows without analytics") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = GraftEngine.sql(
      "SELECT deviceId, round(sum(temperature), 2) AS s, window_start() AS ws " +
        "FROM stream GROUP BY deviceId, TumblingWindow('5s') " +
        "WITH (TIMESTAMP='ts', TIMEUNIT='ms', IDLETIMEOUT='1s')",
      Map("stream" -> mem.toDF()))
    val q = out.writeStream.format("memory").queryName("idleplain")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(250L))
      .start()
    mem.addData(Ev("d1", 1.5, 1000L, "a"), Ev("d1", 2.5, 2000L, "a"))
    val deadline = System.currentTimeMillis() + 30000
    var got: Seq[(Double, Long)] = Nil
    while (got.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(500)
      got = spark.table("idleplain").collect()
        .map(r => (r.getDouble(1), r.getLong(2))).toSeq
    }
    SparkTestBase.stopQuietly(q)
    assert(got == Seq((4.0, 0L)), s"expected idle-flushed window, got $got")
  }

  test("ALLOWEDLATENESS absorbs late rows and re-emits accumulating updates") {
    // window [0,5s) triggers with cnt=2, then a late t=3s row arrives:
    // within ALLOWEDLATENESS the row is absorbed and the window re-emits
    // cnt=3 under the SAME window_id (sink-side replace key) — reference:
    // window/tumbling_window.go:48-53, stream/processor_data.go:420-435
    val rows = Seq(
      Ev("d1", 1, 1000L, "a"), Ev("d1", 2, 2000L, "a"), Ev("d1", 3, 6000L, "a"),
      Ev("d1", 4, 3000L, "a")) // late: below max seen ts, inside lateness
    val out = runStream(
      "SELECT count(*) AS c, window_id() AS wid FROM stream " +
        "GROUP BY TumblingWindow('5s') " +
        "WITH (TIMESTAMP='ts', TIMEUNIT='ms', MAXOUTOFORDERNESS='0s', ALLOWEDLATENESS='1m')",
      rows, batches = 2, mode = "update")
    val emits = out.collect().map(r => (r.getString(1), r.getLong(0))).toSeq
    val w0 = emits.filter(_._1 == "0_5000")
    assert(w0.contains(("0_5000", 2L)) && w0.contains(("0_5000", 3L)),
      s"expected accumulating re-emit for window 0_5000, got $emits")
  }

  test("IDLETIMEOUT flushes buffered CEP matches on an idle key") {
    // WITHIN '1h' means the horizon never finalizes from data alone; the
    // 1s IDLETIMEOUT (processing-time watermark advance, reference:
    // window/watermark.go:108-124) flushes d1's buffered match after the
    // idle gap. NOTE: with a processing-time timeout armed the engine
    // always "requires another batch", so processAllAvailable never
    // returns — the test polls the sink instead.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = GraftEngine.sql(
      "SELECT * FROM stream MATCH_RECOGNIZE ( PARTITION BY deviceId ORDER BY ts " +
        "MEASURES MATCH_NUMBER() AS mn, LAST(A.temperature) AS peak ONE ROW PER MATCH " +
        "PATTERN (A{2}) WITHIN '1h' DEFINE A AS temperature > 50 ) " +
        "WITH (TIMESTAMP='ts', TIMEUNIT='ms', IDLETIMEOUT='1s')",
      Map("stream" -> mem.toDF()))
    val query = out.writeStream.format("memory").queryName("idleout")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(250L))
      .start()
    mem.addData(Ev("d1", 60, 0L, "a"), Ev("d1", 70, 1000L, "a"))
    val deadline = System.currentTimeMillis() + 30000
    var got: Seq[(String, Long, Double)] = Nil
    while (got.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(500)
      got = spark.table("idleout").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    SparkTestBase.stopQuietly(query)
    assert(got.contains(("d1", 1L, 70.0)), s"expected flushed d1 match, got $got")
  }

  test("CEP PREV sees rows consumed in earlier micro-batches (context tail)") {
    // PATTERN (A) DEFINE A AS temperature > PREV(temperature): the match at
    // ts=20s compares against the ts=2s row, which a prior batch already
    // consumed — only the context tail keeps it PREV-visible (without it,
    // PREV → null and the match is lost)
    val rows = Seq(
      Ev("d1", 10, 1000L, "a"), Ev("d1", 20, 2000L, "a"),
      Ev("d1", 30, 20000L, "a"), Ev("d1", 35, 40000L, "a"))
    val out = runStream(
      "SELECT mn, pv FROM stream MATCH_RECOGNIZE ( PARTITION BY deviceId " +
        "ORDER BY ts MEASURES MATCH_NUMBER() AS mn, " +
        "LAST(A.temperature) AS pv ONE ROW PER MATCH PATTERN (A) " +
        "WITHIN '5s' DEFINE A AS temperature > PREV(temperature) )",
      rows, batches = 4)
    // ts=40s row is still buffered (never passes its WITHIN horizon)
    assert(out.collect().map(_.getDouble(1)).sorted.toSeq == Seq(20.0, 30.0))
  }

  test("streaming stateful ops run on the RocksDB state store") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    graft.api.StreamSql(spark).useRocksDBStateStore()
    try {
      val rows = Seq(
        Ev("d1", 1, 1000, "a"), Ev("d1", 2, 2000, "a"),
        Ev("d1", 3, 3000, "a"), Ev("d1", 4, 4000, "a"))
      val out = runStream(
        "SELECT deviceId, sum(temperature) AS s FROM stream " +
          "GROUP BY deviceId, CountingWindow(2) WITH (TIMESTAMP='ts')",
        rows, batches = 2)
      assert(out.collect().map(_.getDouble(1)).sorted.toSeq == Seq(3.0, 7.0))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("custom analytic state carries across micro-batches") {
    class RunningMax extends graft.functions.CustomAnalytic {
      private var m: Double = Double.NegativeInfinity
      def apply(v: Any): Any = {
        m = math.max(m, graft.cep.RowEval.toDouble(v)); m
      }
    }
    graft.api.StreamSql(spark).registerAnalytic("run_max", () => new RunningMax)
    val rows = Seq(
      Ev("d1", 10, 1000, "a"), Ev("d1", 30, 2000, "a"),
      Ev("d1", 20, 3000, "a"), Ev("d2", 5, 1500, "a"))
    val out = runStream(
      "SELECT deviceId, temperature, run_max(temperature) " +
        "OVER (PARTITION BY deviceId) AS mx FROM stream " +
        "WITH (TIMESTAMP='ts', TIMEUNIT='ms')",
      rows, batches = 4) // one row per batch — state must persist
    val got = out.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(got == Set(
      ("d1", 10.0, 10.0), ("d1", 30.0, 30.0), ("d1", 20.0, 30.0), ("d2", 5.0, 5.0)))
  }

  test("stateful operators hold 10k independent key partitions") {
    // the reference's capacity story is 100k+ device partitions in 128 MB
    // (README.md:21,187); state here distributes across the state store and
    // is bounded per key — 10k keys exercise the shape at test scale
    val rows = (0 until 10000).flatMap { k =>
      Seq(Ev(s"dev$k", 1, 1000L + k, "a"), Ev(s"dev$k", 2, 2000L + k, "a"),
        Ev(s"dev$k", 3, 3000L + k, "a"))
    }
    val out = runStream(
      "SELECT deviceId, sum(temperature) AS s FROM stream " +
        "GROUP BY deviceId, CountingWindow(2) WITH (TIMESTAMP='ts')",
      rows, batches = 2)
    val got = out.collect()
    // one complete 2-row window per key fires; the third row stays buffered
    assert(got.length == 10000)
    assert(got.map(_.getDouble(1)).forall(_ == 3.0))
  }

  test("analytics hold 100k independent key partitions under RocksDB (baseline capacity)") {
    // the reference's published capacity figure: 100k+ device partitions
    // in 128 MB (README.md:21,187). Functional parity at the full count:
    // every key keeps its own lag chain across micro-batches, state lives
    // in the RocksDB store
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    graft.api.StreamSql(spark).useRocksDBStateStore()
    try {
      val n = 100000
      val rows = (0 until n).map(k => Ev(s"dev$k", k.toDouble, 1000L + k, "a")) ++
        (0 until n).map(k => Ev(s"dev$k", k + 0.5, 200000L + k, "a"))
      val out = runStream(
        "SELECT deviceId, temperature, lag(temperature) " +
          "OVER (PARTITION BY deviceId) AS prev FROM stream " +
          "WITH (TIMESTAMP='ts', TIMEUNIT='ms')",
        rows, batches = 2)
      assert(out.count() == 2L * n)
      // second round sees the first round's value per key — 100k live chains
      val hits = out.filter("prev IS NOT NULL AND prev = temperature - 0.5").count()
      assert(hits == n, s"expected $n cross-batch lag hits, got $hits")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("IDLETIMEOUT flush retains cross-window analytic state") {
    // idle flush closes open windows but is NOT a reap: the acc_sum chain
    // must continue across the idle gap (STATETTL is the reap opt-in)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = GraftEngine.sql(
      "SELECT deviceId, round(sum(temperature), 2) AS s, " +
        "round(acc_sum(sum(temperature)), 2) AS run FROM stream " +
        "GROUP BY deviceId, TumblingWindow('2s') " +
        "WITH (TIMESTAMP='ts', TIMEUNIT='ms', MAXOUTOFORDERNESS='0s', IDLETIMEOUT='1s')",
      Map("stream" -> mem.toDF()))
    val q = out.writeStream.format("memory").queryName("idleacc")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(250L))
      .start()
    def poll(n: Int): Seq[(Double, Double)] = {
      val deadline = System.currentTimeMillis() + 30000
      var got = Seq.empty[(Double, Double)]
      while (got.size < n && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        got = spark.table("idleacc").collect()
          .map(r => (r.getDouble(1), r.getDouble(2))).toSeq
      }
      got
    }
    mem.addData(Ev("d1", 3, 0, "a"), Ev("d1", 4, 1000, "a")) // window [0,2s)
    val first = poll(1) // idle flush emits (7, 7)
    assert(first.contains((7.0, 7.0)), s"first flush: $first")
    mem.addData(Ev("d1", 10, 5000, "a")) // window [4s,6s)
    val second = poll(2) // second idle flush: run continues 7 + 10 = 17
    SparkTestBase.stopQuietly(q)
    assert(second.toSet == Set((7.0, 7.0), (10.0, 17.0)), s"got $second")
  }

  test("stateful sliding windows drop rows older than the finalized horizon") {
    // SlidingWindow('2s','1s') + cross-window analytic → the combined
    // stateful operator. ooo=0: watermark = per-key max ts. One row per
    // micro-batch (runStream sends ceil(5/4)=1 row per chunk):
    //   ts 1000 → nothing closes (wm=1000)
    //   ts 2000 → closes [0,2000) (wm=2000)
    //   ts 5000 → closes windows ending ≤ 5000
    //   ts 1500 → LATE: its windows [0,2000),[1000,3000) are finalized
    //             → dropped entirely
    //   ts 9000 → flushes the rest
    val rows = Seq(
      Ev("d1", 1, 1000, "a"), Ev("d1", 2, 2000, "a"),
      Ev("d1", 4, 5000, "a"),
      Ev("d1", 8, 1500, "a"), // late
      Ev("d1", 16, 9000, "a"))
    val out = runStream(
      "SELECT deviceId, round(sum(temperature), 2) AS s, " +
        "round(acc_sum(sum(temperature)), 2) AS run, window_start() AS ws FROM stream " +
        "GROUP BY deviceId, SlidingWindow('2s', '1s') " +
        "WITH (TIMESTAMP='ts', TIMEUNIT='ms', MAXOUTOFORDERNESS='0s')",
      rows, batches = 4)
    val got = out.collect().map(r => (r.getLong(3), r.getDouble(1))).toMap
    // late ts=1500 (temp 8) appears in NO window; ts=1000+2000 windows hold
    // only the on-time rows
    assert(got.get(0L).contains(1.0), s"window 0: $got")      // ts 1000
    assert(got.get(1000L).contains(3.0), s"window 1000: $got") // ts 1000+2000
    assert(got.get(2000L).contains(2.0), s"window 2000: $got") // ts 2000
    assert(got.get(4000L).contains(4.0), s"window 4000: $got") // ts 5000
    assert(!got.values.exists(v => v == 8.0 || v == 9.0 || v == 11.0),
      s"late row leaked into a window: $got")
  }

  test("tumbling-analytics operator holds 10k independent key partitions") {
    // the combined window-buffer + analytic-state operator at capacity:
    // 2 windows per key, the far row closes the first
    val rows = (0 until 10000).flatMap { k =>
      Seq(Ev(s"dev$k", 1, 1000L, "a"), Ev(s"dev$k", 2, 1500L, "a"),
        Ev(s"dev$k", 3, 10000L, "a"))
    }
    val out = runStream(
      "SELECT deviceId, round(sum(temperature), 2) AS s, " +
        "round(acc_sum(sum(temperature)), 2) AS run FROM stream " +
        "GROUP BY deviceId, TumblingWindow('2s') " +
        "WITH (TIMESTAMP='ts', TIMEUNIT='ms', MAXOUTOFORDERNESS='0s')",
      rows, batches = 2)
    val got = out.collect()
    // first window [0,2s) of every key closes (sum 3); the ts=10000 window
    // stays open below the per-key watermark
    assert(got.length == 10000)
    assert(got.forall(r => r.getDouble(1) == 3.0 && r.getDouble(2) == 3.0))
  }

  test("per-batch ordered sink applies ORDER BY/LIMIT per emitted batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = GraftEngine.sql("SELECT deviceId, temperature FROM stream", mem.toDF())
    val seen = scala.collection.mutable.ArrayBuffer[Seq[Double]]()
    val q = Sinks.orderedBatches(out,
      List(graft.sql.OrderItem(graft.sql.Ident.simple("temperature"), asc = false)),
      Some(2)) { (b, _) => seen += b.collect().map(_.getDouble(1)).toSeq }
      .start()
    mem.addData(Ev("d1", 5, 1, "a"), Ev("d1", 9, 2, "a"), Ev("d1", 7, 3, "a"))
    q.processAllAvailable()
    mem.addData(Ev("d1", 1, 4, "a"), Ev("d1", 3, 5, "a"))
    q.processAllAvailable()
    SparkTestBase.stopQuietly(q)
    assert(seen.filter(_.nonEmpty).toSeq == Seq(Seq(9.0, 7.0), Seq(3.0, 1.0)))
  }

  test("StreamMetrics output_count counts the rows an addSink callback receives") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val ss = graft.api.StreamSql(spark).registerTable("stream", mem.toDF())
    val metrics = ss.metrics
    val out = ss.execute("SELECT deviceId, temperature FROM stream WHERE temperature > 2")
    val received = new java.util.concurrent.atomic.AtomicLong
    val q = ss.addSink(out)(rows => { received.addAndGet(rows.size); () }).start()
    mem.addData((1 to 5).map(i => Ev("d1", i, i, "a")): _*)
    q.processAllAvailable()
    mem.addData((6 to 9).map(i => Ev("d2", i, i, "a")): _*)
    q.processAllAvailable()
    SparkTestBase.stopQuietly(q)
    assert(received.get == 7L)
    assert(metrics.stats(q).outputCount == received.get)
    assert(metrics.getStats(q)("output_count") == 7L)
  }

  test("streaming exact dedup drops cross-batch dups; state expires with the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val src = mem.toDF().toDF("doc_id", "text", "tsm")
      .withColumn("ts", timestamp_millis(col("tsm"))).drop("tsm")
    val out = graft.operators.Dedup.exactStream(src, "ts", "10 seconds")
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    mem.addData((1L, "alpha", 1000L), (2L, "beta", 1000L))
    q.processAllAvailable()
    // same content, different batch, within the watermark horizon → dropped
    mem.addData((3L, "alpha", 2000L))
    q.processAllAvailable()
    // advance the watermark past alpha's expiry (1000 + 10s)
    mem.addData((4L, "gamma", 60000L))
    q.processAllAvailable()
    // alpha's state was reaped — a fresh copy is new again (bounded state)
    mem.addData((5L, "alpha", 61000L))
    q.processAllAvailable()
    SparkTestBase.stopQuietly(q)
    val ids = spark.table("dedup_stream").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 4L, 5L))
  }

  test("streaming near-dup flags stream docs against a static corpus, pair-deduped") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon"),
      (101L, "totally different corpus content here")).toDF("doc_id", "text").cache()
    val mem = MemoryStream[(Long, String, Long)]
    val src = mem.toDF().toDF("doc_id", "text", "tsm")
      .withColumn("ts", timestamp_millis(col("tsm"))).drop("tsm")
    val out = graft.operators.Dedup.nearDupStream(src, corpus, "ts", "10 seconds")
    val q = out.writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    // batch 1: an exact copy of corpus doc 100 and an unrelated doc
    mem.addData((1L, "alpha beta gamma delta epsilon", 1000L),
      (2L, "nothing shared with anything zzz", 1000L))
    q.processAllAvailable()
    // batch 2: the same pair again within the watermark → suppressed
    mem.addData((1L, "alpha beta gamma delta epsilon", 2000L))
    q.processAllAvailable()
    SparkTestBase.stopQuietly(q)
    val got = spark.table("neardup_stream")
      .select("doc_new", "doc_corpus", "jaccard").collect()
    assert(got.length == 1)
    assert(got(0).getLong(0) == 1L && got(0).getLong(1) == 100L
      && got(0).getDouble(2) == 1.0)
    corpus.unpersist()
  }

  test("streaming near-dup over stored corpus signatures flags copies without corpus text") {
    implicit val sqlCtx = spark.sqlContext
    // the corpus side is ONLY the (doc_id, sig) sketch table — no text
    val corpusSigs = graft.operators.Dedup.minHashSignatures(Seq(
      (100L, "alpha beta gamma delta epsilon"),
      (101L, "totally different corpus content here")).toDF("doc_id", "text")).cache()
    val mem = MemoryStream[(Long, String, Long)]
    val src = mem.toDF().toDF("doc_id", "text", "tsm")
      .withColumn("ts", timestamp_millis(col("tsm"))).drop("tsm")
    val out = graft.operators.Dedup.nearDupStreamFromSignatures(
      src, corpusSigs, "ts", "10 seconds")
    val q = out.writeStream.format("memory").queryName("neardup_sig_stream")
      .outputMode("append").start()
    mem.addData((1L, "alpha beta gamma delta epsilon", 1000L),
      (2L, "nothing shared with anything zzz", 1000L))
    q.processAllAvailable()
    // repeat within the watermark → pair-dedup suppresses the re-emit
    mem.addData((1L, "alpha beta gamma delta epsilon", 2000L))
    q.processAllAvailable()
    SparkTestBase.stopQuietly(q)
    val got = spark.table("neardup_sig_stream")
      .select("doc_new", "doc_corpus", "jaccard_est").collect()
    assert(got.length == 1)
    assert(got(0).getLong(0) == 1L && got(0).getLong(1) == 100L
      && got(0).getDouble(2) == 1.0)
    corpusSigs.unpersist()
  }

  test("streaming span dedup against the signature store matches the batch " +
      "operator per micro-batch, and the store learns each batch's spans") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextOps
    val sigDir = java.nio.file.Files.createTempDirectory("spansig").toFile
    val sigPath = new java.io.File(sigDir, "sigs").getAbsolutePath
    // seed: the existing corpus owns "aa bb cc dd"
    val corpus = Seq((100L, "aa bb cc dd tail1 tail2")).toDF("doc_id", "text")
    TextOps.spanSignatures(corpus, n = 4).write.parquet(sigPath)
    val batch1 = Seq(
      (1L, "aa bb cc dd unique1 unique2"), // corpus-owned span: deleted
      (2L, "xx yy zz ww other1 other2"))   // new spans: kept, then learned
    val batch2 = Seq(
      (3L, "pre0 xx yy zz ww other3"),     // dups batch 1's learned span
      (4L, "fresh words entirely new here"))
    val mem = MemoryStream[(Long, String)]
    val src = mem.toDF().toDF("doc_id", "text")
    val got = scala.collection.mutable.Map[Long, Seq[(Long, String, Long)]]()
    val q = IngestDedup.spanDedupStream(src, sigPath, n = 4) { (df, id) =>
      got(id) = df.collect().toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    }.start()
    mem.addData(batch1: _*); q.processAllAvailable()
    mem.addData(batch2: _*); q.processAllAvailable()
    SparkTestBase.stopQuietly(q)
    // parity: the batch operator applied sequentially with the same
    // store evolution must produce identical per-batch outputs
    val seed = TextOps.spanSignatures(corpus, n = 4)
    val exp1 = TextOps.removeDupSpansAgainst(
      batch1.toDF("doc_id", "text"), seed, n = 4)
    val sigs2 = seed.unionByName(TextOps.spanSignatures(
      exp1.select(col("doc_id"), col("clean_text").as("text")), n = 4))
    val exp2 = TextOps.removeDupSpansAgainst(
      batch2.toDF("doc_id", "text"), sigs2, n = 4)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3))).sortBy(_._1)
    assert(got.keySet == Set(0L, 1L), got.keySet)
    assert(got(0L).sortBy(_._1) == canon(exp1), s"batch 0: ${got(0L)}")
    assert(got(1L).sortBy(_._1) == canon(exp2), s"batch 1: ${got(1L)}")
    // semantic spot checks: doc 3 lost the span it shares with doc 2's
    // batch-1 output; doc 4 untouched
    val b2 = got(1L).map { case (id, t, _) => id -> t }.toMap
    assert(b2(3L) == "pre0 other3", b2)
    assert(b2(4L) == "fresh words entirely new here", b2)
    // the store kept growing: seed + batch1 + batch2 spans
    val stored = IngestDedup.readStore(spark, sigPath, "span_hash").count()
    assert(stored > seed.count(), s"store did not grow: $stored")
    org.apache.commons.io.FileUtils.deleteDirectory(sigDir)
  }

  test("streaming span dedup starts from a MISSING store: batch 1 passes " +
      "untouched, batch 2 dedups against batch 1's learned spans") {
    implicit val sqlCtx = spark.sqlContext
    val sigDir = java.nio.file.Files.createTempDirectory("spansig0").toFile
    val sigPath = new java.io.File(sigDir, "sigs").getAbsolutePath // never written
    val mem = MemoryStream[(Long, String)]
    val src = mem.toDF().toDF("doc_id", "text")
    val got = scala.collection.mutable.Map[Long, Map[Long, String]]()
    val q = IngestDedup.spanDedupStream(src, sigPath, n = 4) { (df, id) =>
      got(id) = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }.start()
    mem.addData((1L, "aa bb cc dd tail1 tail2")); q.processAllAvailable()
    mem.addData((2L, "pre0 aa bb cc dd post")); q.processAllAvailable()
    SparkTestBase.stopQuietly(q)
    assert(got(0L) == Map(1L -> "aa bb cc dd tail1 tail2"),
      s"empty store: nothing to remove: ${got(0L)}")
    assert(got(1L) == Map(2L -> "pre0 post"),
      s"batch 2 must lose batch 1's learned span: ${got(1L)}")
    org.apache.commons.io.FileUtils.deleteDirectory(sigDir)
  }

  test("streaming paragraph dedup matches the batch operator per micro-batch " +
      "and learns surviving paragraphs") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val sigDir = java.nio.file.Files.createTempDirectory("parasig").toFile
    val sigPath = new java.io.File(sigDir, "sigs").getAbsolutePath
    val pA = "this corpus paragraph is long enough to count"
    val pB = "a brand new batch paragraph nobody has seen yet"
    val corpus = Seq((100L, pA)).toDF("doc_id", "text")
    Dedup.paragraphSignatures(corpus, minChars = 10).write.parquet(sigPath)
    val batch1 = Seq((1L, s"$pA\n\n$pB"))  // pA corpus-owned; pB learned
    val batch2 = Seq((2L, s"$pB\n\nunique follow-up paragraph text here"))
    val mem = MemoryStream[(Long, String)]
    val src = mem.toDF().toDF("doc_id", "text")
    val got = scala.collection.mutable.Map[Long, Map[Long, String]]()
    val q = IngestDedup.paragraphDedupStream(src, sigPath, minChars = 10) {
      (df, id) => got(id) = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }.start()
    mem.addData(batch1: _*); q.processAllAvailable()
    mem.addData(batch2: _*); q.processAllAvailable()
    SparkTestBase.stopQuietly(q)
    assert(got(0L) == Map(1L -> pB), got(0L))
    // batch 2's pB was learned from batch 1's surviving output
    assert(got(1L) == Map(2L -> "unique follow-up paragraph text here"), got(1L))
    // parity with the sequentially-applied batch operator
    val seed = Dedup.paragraphSignatures(corpus, minChars = 10)
    val exp1 = Dedup.dropDupParagraphsAgainst(
      batch1.toDF("doc_id", "text"), seed, minChars = 10)
    val sigs2 = seed.unionByName(Dedup.paragraphSignatures(
      exp1.select(col("doc_id"), col("clean_text").as("text")), minChars = 10))
    val exp2 = Dedup.dropDupParagraphsAgainst(
      batch2.toDF("doc_id", "text"), sigs2, minChars = 10)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(0L) == canon(exp1) && got(1L) == canon(exp2))
    org.apache.commons.io.FileUtils.deleteDirectory(sigDir)
  }

  test("streaming line dedup matches sequential batch operators and crosses " +
      "the frequency threshold ACROSS batches (count-inclusive)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val dir = java.nio.file.Files.createTempDirectory("linecnt").toFile
    val countsPath = new java.io.File(dir, "counts").getAbsolutePath
    // seed corpus: "footer" in 2 docs — below maxDf=3 on its own
    val corpus = Seq(
      (100L, "corpus body one\nfooter"),
      (101L, "corpus body two\nfooter")).toDF("doc_id", "text")
    Dedup.lineCounts(corpus).write.parquet(countsPath)
    // batch 1 adds 1 footer doc: combined df = 3, NOT > 3 → kept
    val batch1 = Seq((1L, "batch one body\nfooter"))
    // batch 2 adds 2 more: store df = 3, batch df = 2 → 5 > 3 → removed
    val batch2 = Seq(
      (2L, "batch two body\nfooter"),
      (3L, "batch three body\nfooter"))
    val mem = MemoryStream[(Long, String)]
    val src = mem.toDF().toDF("doc_id", "text")
    val got = scala.collection.mutable.Map[Long, Map[Long, String]]()
    val q = IngestDedup.lineDedupStream(src, countsPath, maxDf = 3) {
      (df, id) => got(id) = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }.start()
    mem.addData(batch1: _*); q.processAllAvailable()
    mem.addData(batch2: _*); q.processAllAvailable()
    SparkTestBase.stopQuietly(q)
    assert(got(0L) == Map(1L -> "batch one body\nfooter"), got(0L))
    assert(got(1L) == Map(2L -> "batch two body", 3L -> "batch three body"),
      got(1L))
    // parity with the sequentially-applied batch operators (store learns
    // the RAW batch census each step)
    val seed = Dedup.lineCounts(corpus)
    val exp1 = Dedup.dropCommonLinesAgainst(batch1.toDF("doc_id", "text"),
      seed, maxDf = 3)
    val counts2 = seed.unionByName(Dedup.lineCounts(batch1.toDF("doc_id", "text")))
    val exp2 = Dedup.dropCommonLinesAgainst(batch2.toDF("doc_id", "text"),
      counts2, maxDf = 3)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(0L) == canon(exp1) && got(1L) == canon(exp2))
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("streaming doc dedup keeps corpus-novel canonical docs and the store " +
      "learns survivors; parity with sequential keepNewAgainstSignatures") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    def words(prefix: String, from: Int, to: Int): String =
      (from to to).map(i => s"$prefix$i").mkString(" ")
    val xText = words("qa", 1, 20)
    val aText = words("qa", 1, 20) + " " + words("qb", 1, 4)
    val dText = words("qd", 1, 20)
    val eText = words("qe", 1, 20)
    val gText = words("qg", 1, 20)
    val dir = java.nio.file.Files.createTempDirectory("docsig").toFile
    val sigPath = new java.io.File(dir, "sigs").getAbsolutePath
    val corpus = Seq((100L, xText)).toDF("doc_id", "text")
    Dedup.minHashSignatures(corpus).write.parquet(sigPath)
    val batch1 = Seq(
      (1L, aText),              // near-dups the corpus doc → dropped
      (3L, dText), (4L, dText), // within-batch dup pair → canonical 3 kept
      (5L, eText))              // unique → kept, learned
    val batch2 = Seq(
      (6L, eText),              // exact copy of batch 1's kept doc 5 → dropped
      (7L, gText))              // fresh → kept
    val mem = MemoryStream[(Long, String)]
    val src = mem.toDF().toDF("doc_id", "text")
    val got = scala.collection.mutable.Map[Long, Set[Long]]()
    val q = IngestDedup.docDedupStream(src, sigPath, threshold = 0.55) {
      (df, id) => got(id) = df.select("doc_id").collect().map(_.getLong(0)).toSet
    }.start()
    mem.addData(batch1: _*); q.processAllAvailable()
    mem.addData(batch2: _*); q.processAllAvailable()
    SparkTestBase.stopQuietly(q)
    assert(got(0L) == Set(3L, 5L), got(0L))
    assert(got(1L) == Set(7L), got(1L))
    // parity with the sequentially-applied batch operator + store growth
    val seed = Dedup.minHashSignatures(corpus)
    val k1 = Dedup.keepNewAgainstSignatures(batch1.toDF("doc_id", "text"),
      seed, threshold = 0.55)
    val sigs2 = seed.unionByName(Dedup.minHashSignatures(k1))
    val k2 = Dedup.keepNewAgainstSignatures(batch2.toDF("doc_id", "text"),
      sigs2, threshold = 0.55)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got(0L) == ids(k1) && got(1L) == ids(k2))
    // survivors' signatures are in the store
    val stored = IngestDedup.readStore(spark, sigPath, "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(stored == Set(100L, 3L, 5L, 7L), stored)
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("compactStore folds batch subdirectories into one seed: presence " +
      "stores dedup, count stores sum") {
    import graft.operators.{Dedup, TextOps}
    val dir = java.nio.file.Files.createTempDirectory("compact").toFile
    val lineRoot = new java.io.File(dir, "lines").getAbsolutePath
    // three appends counting the same line → compacted store sums to 6
    Dedup.lineCounts(Seq((0L, "x\nshared"), (1L, "y\nshared"))
      .toDF("doc_id", "text")).write.parquet(lineRoot)
    Dedup.lineCounts(Seq((2L, "z\nshared"), (3L, "w\nshared"))
        .toDF("doc_id", "text"))
      .write.parquet(s"$lineRoot/b0")
    Dedup.lineCounts(Seq((4L, "v\nshared"), (5L, "u\nshared"))
        .toDF("doc_id", "text"))
      .write.parquet(s"$lineRoot/b1")
    val lineOut = new java.io.File(dir, "lines_c").getAbsolutePath
    IngestDedup.compactStore(spark, lineRoot, lineOut,
      keyCols = Seq("line_hash"), countCol = Some("n_docs"))
    val compacted = spark.read.parquet(lineOut)
    val sharedHash = Dedup.lineCounts(Seq((0L, "shared")).toDF("doc_id", "text"))
      .collect()(0).getLong(0)
    val byHash = compacted.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byHash(sharedHash) == 6L, byHash)
    // presence store: duplicate span hashes across appends collapse
    val spanRoot = new java.io.File(dir, "spans").getAbsolutePath
    val doc = Seq((1L, "aa bb cc dd ee ff")).toDF("doc_id", "text")
    TextOps.spanSignatures(doc, n = 4).write.parquet(spanRoot)
    TextOps.spanSignatures(doc, n = 4).write.parquet(s"$spanRoot/b0")
    val spanOut = new java.io.File(dir, "spans_c").getAbsolutePath
    IngestDedup.compactStore(spark, spanRoot, spanOut,
      keyCols = Seq("span_hash"))
    assert(spark.read.parquet(spanOut).count() ==
      TextOps.spanSignatures(doc, n = 4).count())
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("imageDedupStream: perceptual near-dup gating across micro-batches, " +
      "undecodable rows pass flagged, replay is idempotent") {
    import graft.operators.Multimodal
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("imgdedup").toFile
    val sig = new java.io.File(dir, "sigs").getAbsolutePath
    def gradient = Multimodal.bmpGray(8, 8, (x, _) => 16 * x)
    // the mean-preserving 2-bit tweak (same construction as the
    // near-dup fixture's row 11)
    def gradientTweak = Multimodal.bmpGray(8, 8, (x, y) =>
      if (y == 0 && x == 0) 64 else if (y == 0 && x == 4) 0 else 16 * x)
    def checkerGif = Multimodal.encodeImage("gif", 8, 8,
      (x, y) => grayOf(if ((x + y) % 2 == 0) 255 else 0))
    def grayOf(v: Int): Int = (v << 16) | (v << 8) | v
    // 16×16 nearest-2x upscale of the checker as PNG: different format
    // AND resolution, identical 8×8 luma means → aHash distance 0
    def checkerPng16 = Multimodal.encodeImage("png", 16, 16,
      (x, y) => grayOf(if ((x / 2 + y / 2) % 2 == 0) 255 else 0))
    val corrupt = Array[Byte](1, 2, 3)
    val batch1 = Seq(1L -> gradient, 2L -> gradientTweak, 3L -> checkerGif)
    val batch2 = Seq(4L -> checkerPng16, 5L -> Multimodal.bmpGray(8, 8,
      (x, y) => (x * 37 + y * 101 + x * y * 13) % 256), 6L -> corrupt)
    val mem = MemoryStream[(Long, Array[Byte])]
    val src = mem.toDF().toDF("media_id", "bytes")
    val got = scala.collection.mutable.Map[Long, Map[Long, Boolean]]()
    val q = IngestDedup.imageDedupStream(src, sig) { (df, id) =>
      got(id) = df.collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    }.start()
    mem.addData(batch1: _*); q.processAllAvailable()
    mem.addData(batch2: _*); q.processAllAvailable()
    SparkTestBase.stopQuietly(q)
    // batch 1: 2 is a within-batch near-dup of 1 (canonical keeps the
    // lower id); batch 2: 4 is corpus-owned (checker already kept as 3),
    // 5 is fresh, 6 is corrupt and passes flagged
    assert(got(0L) == Map(1L -> true, 3L -> true), got(0L))
    assert(got(1L) == Map(5L -> true, 6L -> false), got(1L))
    // store holds exactly the survivors' signatures
    val stored = spark.read.parquet(
        IngestDedup.storeInputs(spark, sig, None): _*)
      .collect().map(_.getLong(0)).toSet
    assert(stored == Set(1L, 3L, 5L), stored)
    // replaying batch 1 against the store (its own subdir excluded)
    // re-emits identical output — the r12 self-dedup failure mode
    var replay = Map.empty[Long, Boolean]
    IngestDedup.imageBatch(batch1.toDF("media_id", "bytes"), 0L, sig,
      "bytes", "media_id", 3, 100000) { (df, _) =>
      replay = df.collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    }
    assert(replay == got(0L), s"$replay vs ${got(0L)}")
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("imageDedupStream sigCol=phash: DCT-hash gating, store column " +
      "named after the variant") {
    import graft.operators.Multimodal
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("imgphash").toFile
    val sig = new java.io.File(dir, "sigs").getAbsolutePath
    // pHashFixture's pinned resize-identity pair: the 16×16 texture and
    // its 2× nearest-neighbor upscale box-downsample to the SAME 32×32
    // grid → pHash distance 0; the checkerboard is distinct
    def tex(x: Int, y: Int): Int = (x * 37 + y * 101 + x * y * 13) % 256
    val texture = Multimodal.bmpGray(16, 16, tex)
    val texture2x = Multimodal.bmpGray(32, 32, (x, y) => tex(x / 2, y / 2))
    def grayOf(v: Int): Int = (v << 16) | (v << 8) | v
    val checker = Multimodal.encodeImage("gif", 8, 8,
      (x, y) => grayOf(if ((x + y) % 2 == 0) 255 else 0))
    val mem = MemoryStream[(Long, Array[Byte])]
    val src = mem.toDF().toDF("media_id", "bytes")
    val got = scala.collection.mutable.Map[Long, Set[Long]]()
    val q = IngestDedup.imageDedupStream(src, sig, sigCol = "phash") {
      (df, id) => got(id) = df.collect().map(_.getLong(0)).toSet
    }.start()
    mem.addData(1L -> texture, 2L -> checker); q.processAllAvailable()
    mem.addData(3L -> texture2x); q.processAllAvailable()
    SparkTestBase.stopQuietly(q)
    assert(got(0L) == Set(1L, 2L), got(0L))
    assert(got(1L) == Set.empty[Long], got(1L)) // 2× upscale is corpus-owned
    val stored = spark.read.parquet(
      IngestDedup.storeInputs(spark, sig, None): _*)
    assert(stored.columns.toSeq == Seq("media_id", "phash"), stored.columns.toSeq)
    assert(stored.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    intercept[IllegalArgumentException] {
      IngestDedup.imageBatch(Seq(9L -> checker).toDF("media_id", "bytes"),
        9L, sig, "bytes", "media_id", 3, 100000, sigCol = "luma")(( _, _) => ())
    }
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("audioDedupStream: envelope near-dup gating across micro-batches, " +
      "within-batch cluster ownership propagates, non-PCM passes flagged") {
    import graft.operators.Multimodal
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("auddedup").toFile
    val sig = new java.io.File(dir, "sigs").getAbsolutePath
    val A = 2000
    // the wavEnvelopeFixture constructions: 30 loud-then-quiet, 31 its
    // resampled/regained copy (hash-identical), 32 ascending staircase
    // (distance 64), 33 a one-bucket perturbation of 30 (distance 1),
    // 34 constant (hash 0)
    def am = Multimodal.wavEnvelope16(8000, 640, f => if (f < 320) A else A / 2)
    def amCopy = Multimodal.wavEnvelope16(16000, 1280,
      f => if (f < 640) A / 4 else A / 8)
    def stairs = Multimodal.wavEnvelope16(8000, 640, f => A / 4 * (1 + f / 160))
    def amTweak = Multimodal.wavEnvelope16(8000, 640,
      f => if (f >= 330 && f < 340) A else if (f < 320) A else A / 2)
    val corrupt = Array[Byte]('R', 'I', 'F', 'F', 0, 0)
    val mem = MemoryStream[(Long, Array[Byte])]
    val src = mem.toDF().toDF("media_id", "bytes")
    val got = scala.collection.mutable.Map[Long, Map[Long, Boolean]]()
    val q = IngestDedup.audioDedupStream(src, sig) { (df, id) =>
      got(id) = df.collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    }.start()
    mem.addData(30L -> am, 32L -> stairs); q.processAllAvailable()
    // batch 2: 31 and 33 are BOTH near-dups of stored 30 (and of each
    // other within the batch: canonical 31 carries the cluster, corpus
    // ownership propagates to 33 through it); corrupt passes flagged
    mem.addData(31L -> amCopy, 33L -> amTweak, 60L -> corrupt)
    q.processAllAvailable()
    SparkTestBase.stopQuietly(q)
    assert(got(0L) == Map(30L -> true, 32L -> true), got(0L))
    assert(got(1L) == Map(60L -> false), got(1L))
    val stored = spark.read.parquet(
      IngestDedup.storeInputs(spark, sig, None): _*)
    assert(stored.columns.toSeq == Seq("media_id", "env_hash"))
    assert(stored.collect().map(_.getLong(0)).toSet == Set(30L, 32L))
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("compactStoreInPlace between micro-batches: stream output parity, " +
      "store view unchanged, interrupted swap recovers") {
    import graft.operators.{Dedup, TextOps}
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    // two span-dedup runs over identical three-batch feeds — run B
    // compacts the store in place between every micro-batch; emitted
    // output must be identical (the compacted view IS the store)
    val b1 = Seq((1L, "aa bb cc dd t1 t2"))
    val b2 = Seq((2L, "aa bb cc dd u1 u2"), (3L, "v1 v2 v3 v4 v5 v6"))
    val b3 = Seq((4L, "v1 v2 v3 v4 w1 w2"))
    def run(compactBetween: Boolean): Map[Long, Map[Long, String]] = {
      val dir = java.nio.file.Files.createTempDirectory("inplace").toFile
      val sig = new java.io.File(dir, "sigs").getAbsolutePath
      val got = scala.collection.mutable.Map[Long, Map[Long, String]]()
      val mem = MemoryStream[(Long, String)]
      val q = IngestDedup.spanDedupStream(
        mem.toDF().toDF("doc_id", "text"), sig, n = 4) { (df, id) =>
        got(id) = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      }.start()
      Seq(b1, b2, b3).foreach { b =>
        mem.addData(b: _*); q.processAllAvailable()
        if (compactBetween)
          IngestDedup.compactStoreInPlace(spark, sig, Seq("span_hash"))
      }
      SparkTestBase.stopQuietly(q)
      // after the final compaction the store is seed-files-only at the
      // root (no b* subdirs), with the same distinct hash view
      if (compactBetween) {
        val names = new java.io.File(sig).listFiles().map(_.getName)
        assert(!names.exists(_.startsWith("b")), names.mkString(","))
        assert(!names.contains(".compact_manifest") &&
          !names.contains(".compact_tmp"))
      }
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
      got.toMap
    }
    val plain = run(compactBetween = false)
    val compacted = run(compactBetween = true)
    assert(plain == compacted, s"$plain vs $compacted")

    // count store: in-place compaction preserves summed frequencies
    val dir = java.nio.file.Files.createTempDirectory("inplacecnt").toFile
    val root = new java.io.File(dir, "lines").getAbsolutePath
    Dedup.lineCounts(Seq((0L, "x\nshared")).toDF("doc_id", "text"))
      .write.parquet(root)
    Dedup.lineCounts(Seq((1L, "y\nshared")).toDF("doc_id", "text"))
      .write.parquet(s"$root/b0")
    Dedup.lineCounts(Seq((2L, "z\nshared")).toDF("doc_id", "text"))
      .write.parquet(s"$root/b1")
    IngestDedup.compactStoreInPlace(spark, root,
      keyCols = Seq("line_hash"), countCol = Some("n_docs"))
    val sharedHash = Dedup.lineCounts(Seq((0L, "shared")).toDF("doc_id", "text"))
      .collect()(0).getLong(0)
    val byHash = spark.read.parquet(
        IngestDedup.storeInputs(spark, root, None): _*)
      .groupBy("line_hash").sum("n_docs").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byHash(sharedHash) == 3L, byHash)
    // idempotent double-compact
    IngestDedup.compactStoreInPlace(spark, root,
      keyCols = Seq("line_hash"), countCol = Some("n_docs"))
    val byHash2 = spark.read.parquet(
        IngestDedup.storeInputs(spark, root, None): _*)
      .groupBy("line_hash").sum("n_docs").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byHash2(sharedHash) == 3L, byHash2)

    // interrupted swap: hand-build the post-manifest crash state (staged
    // table complete, manifest written, nothing moved/deleted yet) and
    // assert the next compaction completes it without double-summing
    Dedup.lineCounts(Seq((3L, "q\nshared")).toDF("doc_id", "text"))
      .write.parquet(s"$root/b9")
    val staged = new java.io.File(dir, "staged")
    val inputsNow = IngestDedup.storeInputs(spark, root, None)
    spark.read.parquet(inputsNow: _*)
      .groupBy("line_hash").sum("n_docs")
      .withColumnRenamed("sum(n_docs)", "n_docs")
      .write.parquet(s"$root/.compact_tmp")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/.compact_manifest"),
      "deadbeef\n" + inputsNow.mkString("\n"))
    IngestDedup.compactStoreInPlace(spark, root,
      keyCols = Seq("line_hash"), countCol = Some("n_docs"))
    val byHash3 = spark.read.parquet(
        IngestDedup.storeInputs(spark, root, None): _*)
      .groupBy("line_hash").sum("n_docs").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byHash3(sharedHash) == 4L, byHash3)
    val names = new java.io.File(root).listFiles().map(_.getName)
    assert(!names.contains(".compact_manifest") &&
      !names.contains(".compact_tmp"), names.mkString(","))
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("ingest store replay is idempotent: re-running a micro-batch after " +
      "its signature write emits identical output and never self-dedups") {
    import graft.operators.{Dedup, TextOps}
    // span granularity — the r12 failure mode: a replayed batch saw its
    // own surviving spans as corpus-owned and gutted its re-emit
    val spanDir = java.nio.file.Files.createTempDirectory("spanreplay").toFile
    val spanPath = new java.io.File(spanDir, "sigs").getAbsolutePath
    val b0 = Seq((1L, "aa bb cc dd tail1 tail2")).toDF("doc_id", "text")
    def runSpan(): Map[Long, String] = {
      var out = Map.empty[Long, String]
      IngestDedup.spanBatch(b0, 0L, spanPath, n = 4, "text", "doc_id", 0) {
        (df, _) => out = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      }
      out
    }
    val first = runSpan() // store now contains batch 0's spans
    val replay = runSpan() // driver died pre-checkpoint: same batchId re-runs
    assert(first == Map(1L -> "aa bb cc dd tail1 tail2"), first)
    assert(replay == first, s"replay gutted the batch: $replay")
    // store state identical after replay (overwrite, not duplicate)
    val storeRows = IngestDedup.readStore(spark, spanPath, "span_hash").count()
    // next batch still dedups against batch 0's learned spans, and its
    // surviving words are long enough to add new spans of their own
    var next = Map.empty[Long, String]
    IngestDedup.spanBatch(
        Seq((2L, "pre0 aa bb cc dd w1 w2 w3 w4")).toDF("doc_id", "text"),
        1L, spanPath, n = 4, "text", "doc_id", 0) {
      (df, _) => next = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    assert(next == Map(2L -> "pre0 w1 w2 w3 w4"), next)
    assert(IngestDedup.readStore(spark, spanPath, "span_hash").count() > storeRows)
    org.apache.commons.io.FileUtils.deleteDirectory(spanDir)

    // paragraph granularity
    val paraDir = java.nio.file.Files.createTempDirectory("parareplay").toFile
    val paraPath = new java.io.File(paraDir, "sigs").getAbsolutePath
    val pb = Seq((1L, "a paragraph long enough to be counted here"))
      .toDF("doc_id", "text")
    def runPara(): Map[Long, String] = {
      var out = Map.empty[Long, String]
      IngestDedup.paragraphBatch(pb, 0L, paraPath, "text", "doc_id", 10, 0) {
        (df, _) => out = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      }
      out
    }
    val p1 = runPara(); val p2 = runPara()
    assert(p1 == Map(1L -> "a paragraph long enough to be counted here") &&
      p2 == p1, s"$p1 / $p2")
    org.apache.commons.io.FileUtils.deleteDirectory(paraDir)

    // line granularity: replay must not double-count the batch's own census
    val lineDir = java.nio.file.Files.createTempDirectory("linereplay").toFile
    val linePath = new java.io.File(lineDir, "counts").getAbsolutePath
    val lb = (0L until 2L).map(i => (i, s"unique $i\nshared line"))
      .toDF("doc_id", "text")
    def runLine(): Map[Long, String] = {
      var out = Map.empty[Long, String]
      IngestDedup.lineBatch(lb, 0L, linePath, "text", "doc_id", 3) {
        (df, _) => out = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      }
      out
    }
    // batch df of "shared line" is 2, store 0 → 2 <= 3 → kept; a replay
    // that read its own b0 counts would see 2 + 2 = 4 > 3 and remove it
    val l1 = runLine(); val l2 = runLine()
    assert(l1.values.forall(_.contains("shared line")), l1)
    assert(l2 == l1, s"line replay drifted: $l2 vs $l1")
    org.apache.commons.io.FileUtils.deleteDirectory(lineDir)

    // doc granularity: a replay that saw its own survivors' signatures
    // would drop every kept doc as a corpus near-dup
    val docDir = java.nio.file.Files.createTempDirectory("docreplay").toFile
    val docPath = new java.io.File(docDir, "sigs").getAbsolutePath
    val db = Seq((1L, (1 to 20).map(i => s"qx$i").mkString(" ")))
      .toDF("doc_id", "text")
    def runDoc(): Set[Long] = {
      var out = Set.empty[Long]
      IngestDedup.docBatch(db, 0L, docPath, "text", "doc_id", 3, 16, 4,
          0.55, 100000) {
        (df, _) => out = df.select("doc_id").collect().map(_.getLong(0)).toSet
      }
      out
    }
    val d1 = runDoc(); val d2 = runDoc()
    assert(d1 == Set(1L) && d2 == d1, s"doc replay drifted: $d1 / $d2")
    org.apache.commons.io.FileUtils.deleteDirectory(docDir)
  }

  test("auto_text front door runs at-ingest: sniff/route/extract as a " +
      "stateless streaming projection") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Byte])]
    val src = mem.toDF().toDF("doc_id", "bytes")
    val out = graft.operators.Extract.autoTextPlan(src)
    val q = out.writeStream.format("memory").queryName("auto_text_stream")
      .outputMode("append").start()
    def gz(data: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val gos = new java.util.zip.GZIPOutputStream(bos)
      gos.write(data); gos.close()
      bos.toByteArray
    }
    mem.addData(
      (1L, "<html><body><p>streamed page</p></body></html>".getBytes("UTF-8")),
      (2L, gz("plain member".getBytes("UTF-8"))),
      (3L, Array[Byte](0, 1, 2, 3, -1, -2, -3, -4)))
    q.processAllAvailable()
    SparkTestBase.stopQuietly(q)
    val rows = spark.table("auto_text_stream")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
    assert(rows.toSeq == Seq(
      (1L, "html", Some("streamed page")),
      (2L, "gzip", Some("plain member")),
      (3L, "bin", None)))
  }

  test("bytes-at-ingest curation: auto_text front door feeding " +
      "curateStream — the full streaming crawl shape") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Curation, Extract}
    val corpus = Seq((100L, "some unrelated stored corpus document text"))
      .toDF("doc_id", "text").cache()
    val bench = Seq((1L, "the secret holdout benchmark answer key riddle"))
      .toDF("bid", "text").cache()
    val mem = MemoryStream[(Long, Array[Byte], Long)]
    val src = mem.toDF().toDF("doc_id", "bytes", "tsm")
      .withColumn("ts", timestamp_millis(col("tsm"))).drop("tsm")
    // the stateless front door composes straight into the stateful chain
    val routed = src
      .withColumn("format", Extract.sniffFormatCol(col("bytes")))
      .withColumn("text", Extract.autoTextFor(col("format"), col("bytes")))
      .where(col("text").isNotNull && length(col("text")) > 0)
      .drop("bytes")
    val (kept, _, contamination) = Curation.curateStream(
      routed, corpus, bench, "ts", "10 seconds",
      langs = Seq("en", "und"), minQuality = 0.0, minTokens = 3,
      contaminationN = 5)
    val q1 = kept.writeStream.format("memory").queryName("bytes_kept")
      .outputMode("append").start()
    val q2 = contamination.writeStream.format("memory")
      .queryName("bytes_contam").outputMode("append").start()
    def page(body: String) =
      s"<html><body><p>$body</p></body></html>".getBytes("UTF-8")
    mem.addData(
      (1L, page("a perfectly ordinary english crawl page"), 1000L),
      (1L, page("a perfectly ordinary english crawl page"), 1000L), // exact dup
      (2L, page("contains the secret holdout benchmark answer key riddle"), 1000L),
      (3L, Array[Byte](0, 1, 2, -1), 1000L)) // binary: no text, dropped
    q1.processAllAvailable(); q2.processAllAvailable()
    SparkTestBase.stopQuietly(q1); SparkTestBase.stopQuietly(q2)
    val keptIds = spark.table("bytes_kept").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(keptIds == Seq(1L, 2L)) // dup row collapsed, binary dropped
    assert(spark.table("bytes_contam").select("doc_id")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    corpus.unpersist(); bench.unpersist()
  }

  test("streaming decontamination flags docs sharing a benchmark n-gram, once per doc") {
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((1L, "the secret holdout answer key")).toDF("bid", "text").cache()
    val mem = MemoryStream[(Long, String, Long)]
    val src = mem.toDF().toDF("doc_id", "text", "tsm")
      .withColumn("ts", timestamp_millis(col("tsm"))).drop("tsm")
    val out = graft.operators.Dedup.contaminationStream(
      src, bench, "ts", "10 seconds", n = 3)
    val q = out.writeStream.format("memory").queryName("contam_stream")
      .outputMode("append").start()
    mem.addData(
      (1L, "leaked copy of the secret holdout answer key inside", 1000L),
      (2L, "perfectly clean training document text", 1000L))
    q.processAllAvailable()
    // re-emission within the watermark: still one flagged row for doc 1
    mem.addData((1L, "leaked copy of the secret holdout answer key inside", 2000L))
    q.processAllAvailable()
    SparkTestBase.stopQuietly(q)
    val ids = spark.table("contam_stream").select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(1L))
    bench.unpersist()
  }

  test("countMin accumulates as a streaming update-mode aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val sketch = graft.operators.Sketches.countMin(
      mem.toDF().toDF("k"), col("k"), depth = 2, width = 32)
    val q = sketch.writeStream.format("memory").queryName("cm_stream")
      .outputMode("complete").start()
    mem.addData("a", "a", "b")
    q.processAllAvailable()
    mem.addData("a", "c")
    q.processAllAvailable()
    SparkTestBase.stopQuietly(q)
    // cross-micro-batch accumulation: the final cells equal the batch
    // sketch over the full feed
    val streamed = spark.table("cm_stream")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = graft.operators.Sketches.countMin(
      Seq("a", "a", "b", "a", "c").toDF("k"), col("k"), depth = 2, width = 32)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batch, s"$streamed vs $batch")
  }

  test("curateStream: filtered+deduped kept stream, near-dup and contamination flags") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((100L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text").cache()
    val bench = Seq((1L, "the secret holdout answer key")).toDF("bid", "text").cache()
    val mem = MemoryStream[(Long, String, Long)]
    val src = mem.toDF().toDF("doc_id", "text", "tsm")
      .withColumn("ts", timestamp_millis(col("tsm"))).drop("tsm")
    val (kept, nd, ct) = graft.operators.Curation.curateStream(
      src, corpus, bench, "ts", "10 seconds",
      langs = Seq("en", "und"), minQuality = 0.0, minTokens = 3,
      contaminationN = 3)
    val q1 = kept.writeStream.format("memory").queryName("cs_kept")
      .outputMode("append").start()
    val q2 = nd.writeStream.format("memory").queryName("cs_nd")
      .outputMode("append").start()
    val q3 = ct.writeStream.format("memory").queryName("cs_ct")
      .outputMode("append").start()
    mem.addData(
      (1L, "a clean english training document with many words", 1000L),
      (2L, "too short", 1000L), // fails minTokens → gone from ALL outputs
      (3L, "alpha beta gamma delta epsilon", 1000L), // near-dups corpus 100
      (4L, "contains the secret holdout answer key verbatim", 1000L),
      (5L, "a clean english training document with many words", 1000L)) // exact dup of 1
    Seq(q1, q2, q3).foreach(_.processAllAvailable())
    Seq(q1, q2, q3).foreach(SparkTestBase.stopQuietly)
    val keptIds = spark.table("cs_kept").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // exact dedup keeps exactly one of the {1, 5} twins; flagged docs 3
    // and 4 STAY in kept — the contract is tag-and-reconcile, the flag
    // streams drive the downstream delete
    assert((keptIds & Set(1L, 5L)).size == 1, keptIds)
    assert((keptIds -- Set(1L, 5L)) == Set(3L, 4L), keptIds)
    val ndRows = spark.table("cs_nd").select("doc_new", "doc_corpus")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ndRows == Set((3L, 100L)), ndRows)
    val ctIds = spark.table("cs_ct").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ctIds == Set(4L), ctIds)
    corpus.unpersist(); bench.unpersist()
  }
}
