package graft.functions

/** A user-defined analytic state machine: one instance per partition key,
  * fed one value per event, returning the call's result for that event
  * (the analog of the reference's `AnalyticState.Apply`,
  * reference: stream/analytic.go:93-114, functions/analytic_state.go).
  *
  * Implementations hold their state in fields and must be serializable —
  * in streaming mode the instance is checkpointed across micro-batches
  * (Java serialization for direct `OVER (PARTITION BY ...)` analytics,
  * kryo inside window-path state), in batch mode it lives for one
  * partition scan. WHEN gating and last-result replay are applied by the
  * engine around this call.
  */
trait CustomAnalytic extends Serializable {
  def apply(value: Any): Any
}
