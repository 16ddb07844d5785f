package graft.streaming

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, Row}
import graft.sql.{OrderItem, Ident}

/** Sink adapters mirroring the reference's result-delivery surface
  * (reference: streamsql.go:406-488 — AddSink callbacks, ToChannel,
  * PrintTable). In Spark the natural shape is `foreachBatch`; per-batch
  * ORDER BY/LIMIT (reference: stream/sorter.go:11-35 — sorting applies to
  * each emitted batch, not globally) live here, not in the unbounded plan.
  */
object Sinks {

  /** foreachBatch with the reference's per-batch ORDER BY/LIMIT applied. */
  def orderedBatches(
      df: DataFrame,
      orderBy: List[OrderItem] = Nil,
      limit: Option[Int] = None)(f: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      var b = batch
      if (orderBy.nonEmpty)
        b = b.orderBy(orderBy.map(oi => {
          val c = col(oi.expr.asInstanceOf[Ident].raw)
          if (oi.asc) c.asc else c.desc
        }): _*)
      limit.foreach(n => b = b.limit(n))
      f(b, id)
    }

  /** Callback sink: the Spark analog of AddSink(fn). The `foreachBatch`
    * sink reports no output row count in its progress, so the rows handed
    * to `f` are counted here, on the stream thread, for
    * [[StreamMetrics]]' `output_count`.
    *
    * Delivery is AT-LEAST-ONCE: the batch id is not passed on or
    * remembered, so a batch that Spark re-runs after a failure between
    * this call and its commit-log entry reaches `f` a second time. A
    * callback that needs exactly-once must make its effect idempotent
    * (ROADMAP direction 4 tracks closing this). */
  def addSink(df: DataFrame)(f: Seq[Row] => Unit): DataStreamWriter[Row] =
    df.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val rows = batch.collect().toSeq
      f(rows)
      StreamMetrics.countSinkRows(
        batch.sparkSession.sparkContext.getLocalProperty(QueryIdKey), rows.size)
    }

  /** Local property Spark sets on a query's stream thread to its id. */
  private val QueryIdKey = "sql.streaming.queryId"

  /** In-memory queryable sink (ToChannel analog) — returns the started
    * query; results accumulate in the named temp view. */
  def toMemory(df: DataFrame, name: String,
      outputMode: String = "append"): StreamingQuery =
    df.writeStream.format("memory").queryName(name)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Console table sink (PrintTable analog). */
  def printTable(df: DataFrame): StreamingQuery =
    df.writeStream.format("console").outputMode("append").start()
}
