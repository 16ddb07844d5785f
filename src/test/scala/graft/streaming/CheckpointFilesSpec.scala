package graft.streaming

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, StreamingQueryException}
import org.scalatest.funsuite.AnyFunSuite
import graft.{GraftEngine, SparkTestBase}

/** A user-named checkpoint manager that counts its instances. */
class CountingCheckpointFileManager(path: Path, conf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, conf) {
  CountingCheckpointFileManager.created.incrementAndGet()
}
object CountingCheckpointFileManager {
  val created = new AtomicInteger
}

/** The engine's checkpoint filesystem ([[NoForkLocalFs]]): no process
  * forks per trigger, checkpoints interchangeable with Hadoop's stock
  * local filesystem in both directions, and the same committed file set. */
class CheckpointFilesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val Key = NoForkLocalFs.FileImplKey
  private val Engine = Some(classOf[NoForkLocalFs.LocalFs].getName)
  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val Sql =
    "SELECT deviceId, ts, acc_sum(temperature) OVER (PARTITION BY deviceId) AS s " +
      "FROM stream WITH (TIMESTAMP='ts', TIMEUNIT='ms')"

  /** Runs `body` with the session conf `key` set to `v` (None: unset),
    * restoring the previous value afterwards. */
  private def withConf[T](key: String, v: Option[String])(body: => T): T = {
    val prev = spark.conf.getOption(key)
    def put(x: Option[String]): Unit = x.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    put(v)
    try body finally put(prev)
  }

  /** `body` with Spark's own checkpoint checksum files switched on (the
    * shared test session switches them off). */
  private def withSparkChecksums[T](body: => T): T =
    withConf("spark.sql.streaming.checkpoint.fileChecksum.enabled", Some("true"))(body)

  private def tempDir(): String =
    Files.createTempDirectory("graft-ckpt").toFile.getAbsolutePath

  /** The keyed rule over `mem`, delivering (deviceId, ts, acc_sum) rows. */
  private def keyed(mem: MemoryStream[Ev]): DataFrame = GraftEngine.sql(Sql, mem.toDF())

  private def start(df: DataFrame, out: ArrayBuffer[(String, Long, Double)],
      checkpoint: Option[String] = None): StreamingQuery = {
    val w = df.writeStream.foreachBatch { (b: DataFrame, _: Long) =>
      val rows = b.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      out.synchronized(out ++= rows)
      ()
    }
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  private def events(batch: Int, devices: Int = 24): Seq[Ev] =
    (0 until devices).map(d => Ev(s"d$d", (batch * devices + d) % 7, batch * 1000L + d, "a"))

  /** Process starts no trigger makes, whenever they fall: Spark's
    * executor-metrics page-size probe (`ProcfsMetricsGetter`, once per JVM,
    * on the first heartbeat), and the JDK cleaner thread deleting the
    * artifact directory of a Spark session (here, of earlier queries)
    * once the session is unreachable. */
  private def notTriggerWork(thread: String, cmd: String): Boolean =
    cmd == "getconf PAGESIZE" ||
      (thread.startsWith("Cleaner-") && cmd.startsWith("rm -rf ") && cmd.contains("/artifacts-"))

  /** (thread, command) of the processes this JVM starts while `body` runs. A
    * control process started afterwards proves the recording sees starts
    * at all, and is left out of the result, as is [[notTriggerWork]]. */
  private def processStartsDuring(body: => Unit): Seq[(String, String)] = {
    val starts = new ConcurrentLinkedQueue[(String, String)]()
    val control = "true"
    val rs = new RecordingStream()
    def seen = starts.asScala.toSeq
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e => {
        starts.add((e.getThread("eventThread").getJavaName, e.getString("command"))); ()
      })
      rs.startAsync()
      body
      new ProcessBuilder(control).start().waitFor()
      val deadline = System.nanoTime + 30L * 1000000000L
      while (!seen.exists(_._2 == control) && System.nanoTime < deadline) Thread.sleep(50)
    } finally rs.close()
    assert(seen.exists(_._2 == control), "the recording saw no process start at all")
    seen.filter { case (thread, cmd) => cmd != control && !notTriggerWork(thread, cmd) }
  }

  for (rocks <- Seq(false, true))
    test("no process starts across keyed acc_sum triggers on the " +
        (if (rocks) "RocksDB" else "default") + " state store") {
      withConf("spark.sql.streaming.stateStore.providerClass", None) {
        if (rocks) graft.api.StreamSql(spark).useRocksDBStateStore()
        implicit val ctx = spark.sqlContext
        val mem = MemoryStream[Ev]
        val out = ArrayBuffer[(String, Long, Double)]()
        val q = start(keyed(mem), out)
        try {
          // the first trigger starts the query (directories, metadata,
          // one-time class initialization); the ones after it are timed
          mem.addData(events(0): _*)
          q.processAllAvailable()
          val forks = processStartsDuring {
            for (b <- 1 to 6) {
              mem.addData(events(b): _*)
              q.processAllAvailable()
            }
          }
          // RocksDB's own file paths bypass FileContext:
          // it copies new SST files up through Hadoop's (cached, shared)
          // FileSystem, which forks `chmod` for each file and its .crc,
          // and deletes its local working checkpoint with Spark's
          // `Utils.deleteRecursively`, which forks `rm -rf`. Everything
          // written through the checkpoint file manager (offsets,
          // commits, metadata, the store's zip files) must fork nothing.
          def outsideManager(cmd: String): Boolean =
            rocks && ((cmd.startsWith("chmod ") && cmd.contains("/SSTs/")) ||
              (cmd.startsWith("rm -rf ") && cmd.contains("/StateStoreId(")))
          val unexpected = forks.filterNot(f => outsideManager(f._2))
          assert(unexpected.isEmpty, s"processes started during triggers: $unexpected")
          assert(q.recentProgress.length >= 7)
          assert(out.synchronized(out.size) == 7 * 24)
        } finally SparkTestBase.stopQuietly(q)
      }
    }

  test("checkpoints move between the engine's filesystem and the stock one") {
    withSparkChecksums {
      for ((first, second) <- Seq((Engine, None), (None, Engine))) {
        implicit val ctx = spark.sqlContext
        val mem = MemoryStream[Ev]
        val df = keyed(mem)
        val ckpt = tempDir()
        val out = ArrayBuffer[(String, Long, Double)]()
        def run(manager: Option[String], evs: Seq[Ev]): Unit = withConf(Key, manager) {
          val q = start(df, out, Some(ckpt))
          try { mem.addData(evs: _*); q.processAllAvailable() }
          finally SparkTestBase.stopQuietly(q)
        }
        run(first, Seq(Ev("d1", 1, 1000, "a"), Ev("d2", 10, 1100, "a"), Ev("d1", 2, 1200, "a")))
        run(second, Seq(Ev("d1", 4, 2000, "a"), Ev("d2", 20, 2100, "a")))
        assert(out.toSet == Set(("d1", 1000L, 1.0), ("d2", 1100L, 10.0),
          ("d1", 1200L, 3.0), ("d1", 2000L, 7.0), ("d2", 2100L, 30.0)),
          s"restart ${first.getOrElse("stock")} -> ${second.getOrElse("stock")}")
      }
    }
  }

  test("a checkpoint holding kryo-encoded analytics state fails at restart") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val ckpt = tempDir()
    val out = ArrayBuffer[(String, Long, Double)]()
    // the analytics state format before AnBytes: per key (the key columns
    // rendered as one string), a kryo-encoded map from call name to AnState
    type Old = Map[String, StatefulOps.AnState]
    val old = mem.toDF().groupByKey(_.getAs[String]("deviceId"))(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, it: Iterator[Row], st: GroupState[Old]) => {
          val rows = it.toVector
          val acc = StatefulOps.AnState(started = true)
          rows.foreach(r => acc.acc.add(r.getAs[Double]("temperature")))
          st.update(Map("__an_0" -> acc))
          rows.iterator.map(r => (r.getAs[String]("deviceId"), r.getAs[Long]("ts"), acc.acc.sum))
        })(Encoders.kryo[Old],
        Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.scalaDouble))
      .toDF()
    def run(df: DataFrame, evs: Seq[Ev]): Unit = {
      val q = start(df, out, Some(ckpt))
      try { mem.addData(evs: _*); q.processAllAvailable() }
      finally SparkTestBase.stopQuietly(q)
    }
    run(old, Seq(Ev("d1", 1, 1000, "a"), Ev("d2", 10, 1100, "a")))
    assert(out.size == 2)
    val e = intercept[StreamingQueryException](
      run(keyed(mem), Seq(Ev("d1", 4, 2000, "a"))))
    assert(e.getMessage.contains("STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"), e.getMessage)
    assert(out.size == 2, "no row may come from the old state")
  }

  // window-path state (buffered rows plus the cross-window analytic state)
  // across a restart: the query stops after batch 2 and restarts on the
  // same checkpoint, and must emit exactly what one uninterrupted run does
  for ((shape, sql) <- Seq(
      "a counting window with a cross-window acc_sum" ->
        ("SELECT deviceId, sum(temperature) AS s, acc_sum(sum(temperature)) AS run " +
          "FROM stream GROUP BY deviceId, CountingWindow(2) " +
          "WITH (TIMESTAMP='ts', TIMEUNIT='ms')"),
      "a tumbling window with cross-window analytics" ->
        ("SELECT deviceId, window_start() AS ws, sum(temperature) AS s, " +
          "acc_sum(sum(temperature)) AS run, lag(sum(temperature)) AS prev " +
          "FROM stream GROUP BY deviceId, TumblingWindow('2s') " +
          "WITH (TIMESTAMP='ts', TIMEUNIT='ms', MAXOUTOFORDERNESS='0s')")))
    test(s"$shape restarts from its checkpoint as if uninterrupted") {
      implicit val ctx = spark.sqlContext
      // three rows per key per batch, so windows straddle the batches
      val batches = (0 until 5).map(b => (0 until 9).map(i =>
        Ev(s"d${i % 3}", (b * 9 + i) % 11, b * 1500L + i * 100, "a")))
      def run(stopAfter: Set[Int]): Seq[Seq[Any]] = {
        val mem = MemoryStream[Ev]
        val df = GraftEngine.sql(sql, mem.toDF())
        val ckpt = tempDir()
        val out = ArrayBuffer[Seq[Any]]()
        def startRows(): StreamingQuery = df.writeStream.foreachBatch { (b: DataFrame, _: Long) =>
          val rows = b.collect().map(_.toSeq)
          out.synchronized(out ++= rows)
          ()
        }.option("checkpointLocation", ckpt).start()
        var q = startRows()
        try batches.zipWithIndex.foreach { case (evs, b) =>
          mem.addData(evs: _*)
          q.processAllAvailable()
          if (stopAfter(b)) { SparkTestBase.stopQuietly(q); q = startRows() }
        } finally SparkTestBase.stopQuietly(q)
        out.toSeq
      }
      val whole = run(Set.empty)
      assert(whole.nonEmpty)
      val restarted = run(Set(2))
      def sorted(rows: Seq[Seq[Any]]) = rows.map(_.mkString("|")).sorted
      assert(sorted(restarted) == sorted(whole))
    }

  test("the committed checkpoint file set matches the stock filesystem's") {
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
    def files(root: String): Set[String] = {
      val base = new File(root).toPath
      Files.walk(base).iterator.asScala.filter(Files.isRegularFile(_))
        .map(p => uuid.replaceAllIn(base.relativize(p).toString, "<uuid>")).toSet
    }
    def run(manager: Option[String]): Set[String] = withSparkChecksums {
      implicit val ctx = spark.sqlContext
      val mem = MemoryStream[Ev]
      val df = keyed(mem)
      val ckpt = tempDir()
      withConf(Key, manager) {
        val q = start(df, ArrayBuffer[(String, Long, Double)](), Some(ckpt))
        try for (b <- 0 until 3) { mem.addData(events(b): _*); q.processAllAvailable() }
        finally SparkTestBase.stopQuietly(q)
      }
      files(ckpt)
    }
    val engine = run(Engine)
    assert(engine == run(None))
    // Spark's state-file checksum and Hadoop's .crc sidecar of each
    assert(engine.exists(_.endsWith("/1.delta.crc")), engine)
    assert(engine.exists(_.endsWith("/.1.delta.crc")), engine)
    assert(engine.exists(_.endsWith("/.1.delta.crc.crc")), engine)
    assert(!engine.exists(_.endsWith(".tmp")), engine)
  }

  test("the engine installs its filesystem only where the session names none") {
    implicit val ctx = spark.sqlContext
    withConf(Key, None) {
      GraftEngine.sql(Sql, Seq(Ev("d1", 1, 1, "a")).toDF())
      assert(spark.conf.getOption(Key).isEmpty, "a batch plan installs nothing")
      keyed(MemoryStream[Ev])
      assert(spark.conf.getOption(Key) == Engine)
      // the Hadoop conf Spark hands its checkpoint logs and state stores
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        new java.net.URI("file:///"), spark.sessionState.newHadoopConf())
      assert(fc.getDefaultFileSystem.isInstanceOf[NoForkLocalFs.LocalFs])
    }
    val stock = classOf[org.apache.hadoop.fs.local.LocalFs].getName
    withConf(Key, Some(stock)) {
      keyed(MemoryStream[Ev])
      assert(spark.conf.get(Key) == stock, "a filesystem the session names is kept")
    }
    val hadoop = spark.sparkContext.hadoopConfiguration
    val prev = Option(hadoop.get(Key))
    hadoop.set(Key, classOf[org.apache.hadoop.fs.local.RawLocalFs].getName)
    try withConf(Key, None) {
      keyed(MemoryStream[Ev])
      assert(spark.conf.getOption(Key).isEmpty, "a filesystem the Hadoop conf names is kept")
    } finally prev.fold(hadoop.unset(Key))(hadoop.set(Key, _))
  }

  test("a checkpoint file manager the session names is kept and used") {
    implicit val ctx = spark.sqlContext
    val custom = classOf[CountingCheckpointFileManager].getName
    withConf(ManagerKey, Some(custom)) {
      val before = CountingCheckpointFileManager.created.get
      val mem = MemoryStream[Ev]
      val df = keyed(mem)
      assert(spark.conf.get(ManagerKey) == custom)
      val q = start(df, ArrayBuffer[(String, Long, Double)]())
      try { mem.addData(events(0): _*); q.processAllAvailable() }
      finally SparkTestBase.stopQuietly(q)
      assert(CountingCheckpointFileManager.created.get > before)
    }
  }
}
