package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** Per-query runtime statistics — the analog of the reference's
  * `stream.GetStats()` / `GetDetailedStats()` (reference:
  * stream/metrics.go:20-45, stream/manager_metrics.go).
  *
  * The reference counts rows through its push pipeline (input/output/
  * dropped) and reports channel depths; Spark's pull model has no
  * channels, so the meaningful subset is row counts, batch counts and
  * rates, accumulated from `StreamingQueryProgress` by a
  * [[StreamingQueryListener]] — no hooks in the data path, zero per-row
  * cost. Ingestion drop counts (schema-invalid rows,
  * [[graft.sources.Ingest]]) arrive through the same progress events as
  * observed metrics and fold into `dropped_count`. Rows delivered through
  * [[Sinks.addSink]], whose sink reports no row count, are counted by the
  * sink itself and fold into `output_count`.
  *
  * Listener callbacks are async; call [[StreamingQuery.processAllAvailable]]
  * (or wait for a progress event) before reading exact totals.
  */
final class StreamMetrics private (spark: SparkSession) {
  import StreamMetrics.QueryStats

  private val totals = new ConcurrentHashMap[java.util.UUID, QueryStats]()

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      totals.putIfAbsent(e.id, QueryStats(0, 0, 0, 0, 0, 0.0))

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val dropped = Option(p.observedMetrics).map(_.values()).map { rows =>
        var d = 0L
        rows.forEach { r =>
          try if (r.schema.fieldNames.contains("invalid"))
            d += r.getAs[Long]("invalid")
          catch { case _: Throwable => () }
        }
        d
      }.getOrElse(0L)
      totals.compute(p.id, (_, prev0) => {
        val prev = Option(prev0).getOrElse(QueryStats(0, 0, 0, 0, 0, 0.0))
        QueryStats(
          inputCount = prev.inputCount + p.numInputRows,
          outputCount = prev.outputCount + Option(p.sink)
            .map(_.numOutputRows).filter(_ >= 0).getOrElse(0L),
          droppedCount = prev.droppedCount + dropped,
          batchCount = prev.batchCount + 1,
          lastBatchDurationMs = p.batchDuration,
          processRate = p.processedRowsPerSecond)
      })
    }

    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = () // totals kept
  }
  spark.streams.addListener(listener)

  /** Stats for one query (zeros before its first progress event). */
  def stats(q: StreamingQuery): QueryStats =
    StreamMetrics.withSinkRows(q.id,
      Option(totals.get(q.id)).getOrElse(QueryStats(0, 0, 0, 0, 0, 0.0)))

  /** GetStats analog: reference-keyed map. */
  def getStats(q: StreamingQuery): Map[String, Any] = stats(q).asMap

  /** Drop tracking for the session (all queries). */
  def allStats: Map[java.util.UUID, QueryStats] = {
    import scala.jdk.CollectionConverters._
    totals.asScala.toMap.map { case (id, s) => id -> StreamMetrics.withSinkRows(id, s) }
  }

  def close(): Unit = {
    spark.streams.removeListener(listener)
    // drop the cache entry too — otherwise a later StreamMetrics(spark)
    // returns this dead instance (listener removed, never accumulates again)
    StreamMetrics.perSession.remove(spark, this)
  }
}

object StreamMetrics {

  final case class QueryStats(
      inputCount: Long,
      outputCount: Long,
      droppedCount: Long,
      batchCount: Long,
      lastBatchDurationMs: Long,
      processRate: Double) {
    /** Reference-keyed view (stream/metrics.go field names). */
    def asMap: Map[String, Any] = Map(
      "input_count" -> inputCount,
      "output_count" -> outputCount,
      "dropped_count" -> droppedCount,
      "batch_count" -> batchCount,
      "last_batch_duration_ms" -> lastBatchDurationMs,
      "process_rate" -> processRate)
  }

  private val perSession = new ConcurrentHashMap[SparkSession, StreamMetrics]()

  /** Rows delivered by [[Sinks.addSink]] callbacks, by query id. Its
    * `foreachBatch` sink reports no `numOutputRows`, so these counts are
    * what `outputCount` holds for such queries. Counted synchronously on
    * the stream thread: exact once `processAllAvailable` returns. */
  private val sinkRows = new ConcurrentHashMap[java.util.UUID, LongAdder]()

  private[streaming] def countSinkRows(queryId: String, n: Long): Unit =
    if (queryId != null)
      sinkRows.computeIfAbsent(java.util.UUID.fromString(queryId), _ => new LongAdder).add(n)

  private def withSinkRows(id: java.util.UUID, s: QueryStats): QueryStats =
    Option(sinkRows.get(id)).fold(s)(n => s.copy(outputCount = s.outputCount + n.sum))

  /** One listener per session, created on first use. */
  def apply(spark: SparkSession): StreamMetrics =
    perSession.computeIfAbsent(spark, s => new StreamMetrics(s))
}
