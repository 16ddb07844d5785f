package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.{GraftEngine, SparkTestBase}

/** Sustained-load soak — the Spark analog of the reference's stress suite
  * (reference: test/e2e/stress_test.go:19-158, goroutine-leak + heap-stable
  * sustained load): a streaming analytic query runs across many
  * micro-batches, a burst of keys goes idle, and the state store must
  * return to a flat floor once STATETTL reaps them — observable through
  * the state-operator metrics (`numRowsTotal`) the engine reports per
  * batch. Run under both the default (HDFS-backed) and the RocksDB
  * state-store providers: same semantics, different storage engines.
  *
  * With processing-time timeouts armed the engine schedules micro-batches
  * on its own to fire timers, and `processAllAvailable` never returns
  * (as for every STATETTL or IDLETIMEOUT query) — so this spec POLLS the query
  * progress; the timer-driven batches are themselves the "many
  * micro-batches" of the soak.
  */
class SoakSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private var soakN = 0

  private def soak(provider: Option[String]): Unit = {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    provider match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    try {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Ev]
      // TTL long enough that the burst keys are observably RESIDENT before
      // they are reaped: timer batches run every 250ms, so a short TTL can
      // reap the burst before the first state poll ever sees it
      val out = GraftEngine.sql(
        "SELECT deviceId, acc_count(temperature) OVER (PARTITION BY deviceId) AS c " +
          "FROM stream WITH (TIMESTAMP='ts', TIMEUNIT='ms', STATETTL='10s')",
        Map("stream" -> mem.toDF()))
      soakN += 1
      val name = s"soak$soakN"
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(250L))
        .start()
      def stateRows: Long = Option(q.lastProgress)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
      def pollUntil(deadlineMs: Long)(cond: => Boolean): Boolean = {
        val end = System.currentTimeMillis() + deadlineMs
        var ok = cond
        while (!ok && System.currentTimeMillis() < end) { Thread.sleep(250); ok = cond }
        ok
      }

      // burst: 400 keys arrive; wait until every row came out the sink and
      // the state operator reports the keys resident
      val burstKeys = 400
      mem.addData((0 until burstKeys).map(k => Ev(s"dev$k", 1, 1000L + k, "a")): _*)
      mem.addData((0 until burstKeys).map(k => Ev(s"dev$k", 2, 2000L + k, "a")): _*)
      assert(pollUntil(30000)(spark.table(name).count() == 2L * burstKeys),
        s"burst rows not emitted: ${spark.table(name).count()}")
      assert(pollUntil(30000)(stateRows >= burstKeys),
        s"burst state not resident: $stateRows")
      val peak = stateRows

      // idle: wall clock passes the 10s TTL; the engine's own timer batches
      // (the sustained load) keep running and must reap every idle key
      Thread.sleep(10500)
      mem.addData(Ev("keepalive", 1, 100000L, "a")) // one live key stays
      assert(pollUntil(30000)(stateRows <= 2),
        s"idle keys not reaped after TTL: $stateRows of peak $peak")

      // flat floor: across further timer batches the floor must not creep
      val trace = (0 until 8).map { _ =>
        Thread.sleep(400); stateRows
      }
      SparkTestBase.stopQuietly(q)
      assert(trace.max <= 2, s"state floor not flat: $trace (peak $peak)")
      assert(trace.max < peak / 100, s"floor ${trace.max} not << burst peak $peak")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("soak: state returns to a flat floor after idle-key reap (default provider)") {
    soak(None)
  }

  test("soak: streaming dedup state drains once the watermark passes the horizon") {
    // event-time watermark path (no processing-time timers), so
    // processAllAvailable is safe here; the watermark commits at batch end
    // and applies to the NEXT batch, hence the two advancing batches
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val src = mem.toDF().toDF("doc_id", "text", "tsm")
      .withColumn("ts", timestamp_millis(col("tsm"))).drop("tsm")
    val out = graft.operators.Dedup.exactStream(src, "ts", "5 seconds")
    val q = out.writeStream.format("memory").queryName("soak_dedup")
      .outputMode("append").start()
    def stateRows: Long = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    mem.addData((0 until 500).map(i => (i.toLong, s"unique doc text $i", 1000L + i)): _*)
    q.processAllAvailable()
    val peak = stateRows
    assert(peak >= 500, s"burst fingerprints not resident: $peak")
    // two batches far past the horizon: first advances the watermark,
    // second evicts under it
    mem.addData((1000L, "advance one", 60000L))
    q.processAllAvailable()
    mem.addData((1001L, "advance two", 61000L))
    q.processAllAvailable()
    val floor = stateRows
    SparkTestBase.stopQuietly(q)
    assert(floor <= 5, s"dedup state not drained: $floor of peak $peak")
  }

  test("soak: state returns to a flat floor after idle-key reap (RocksDB provider)") {
    soak(Some("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
  }
}
