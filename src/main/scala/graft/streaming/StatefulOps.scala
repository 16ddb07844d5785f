package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import graft.sql._
import graft.cep.RowEval

/** Stateful operators the reference implements as in-process state machines
  * and Spark cannot express declaratively: counting windows
  * (reference: window/counting_window.go), GLOBAL WINDOW TRIGGER WHEN
  * (reference: window/global_window.go:50-58,197-253 — running aggregates,
  * fire-and-purge), streaming analytics (reference: stream/analytic.go),
  * and streaming tumbling, sliding and session windows with analytics
  * across successive windows.
  *
  * Streaming runs every operator through one keyed-state runner
  * ([[runKeyed]]): one `flatMapGroupsWithState` per operator carries the
  * operator's per-key state across micro-batches, under one IDLETIMEOUT /
  * STATETTL timeout policy. Batch global windows and batch analytics with
  * a user analytic run the same per-key logic via the secondary-sort
  * formulation ([[perKeySortedBatch]] — repartition on keys, spillable
  * external sort, incremental per-key processing, the same shape as batch
  * CEP). Keys distribute across executors — per-key state is bounded
  * (buffer ≤ window size / open windows only; global windows O(1)), so the
  * operator scales with the number of keys, and a skewed key spills in the
  * sort instead of materializing its history in one task's heap.
  */
object StatefulOps extends Serializable {

  private val KEYNULL = "\u0000NULL" // null-key sentinel
  private val KEYSEP = "\u001f"      // unambiguous key-tuple separator

  /** Event order: epoch-ms order column, then the optional TIEBREAK column —
    * ties at ms granularity must sort deterministically or per-key replays
    * diverge between runs (reference orders by (timestamp, arrival)). */
  private def ordLess(a: Map[String, Any], b: Map[String, Any],
      ordName: String, tieName: Option[String]): Boolean = {
    val ta = RowEval.toMillis(a(ordName)); val tb = RowEval.toMillis(b(ordName))
    if (ta != tb) ta < tb
    else tieName.exists(t =>
      RowEval.compare(a.getOrElse(t, null), b.getOrElse(t, null)) < 0)
  }


  // ------------------------------------------------------------ helpers

  private def rowToMap(names: Array[String], r: Row): Map[String, Any] =
    names.zipWithIndex.map { case (n, i) => n -> r.get(i) }.toMap

  private def toMaps(names: Array[String], rows: Iterator[Row]): Vector[Map[String, Any]] =
    rows.map(rowToMap(names, _)).toVector

  /** Secondary-sort batch runner (same shape as batch CEP,
    * [[graft.cep.CepExec]]): repartition on the key columns, Spark's
    * spillable external sort orders each partition by (keys, ord, tie),
    * then each key's rows stream through a per-key processor — the
    * operator holds only its own bounded state, never a whole key's rows,
    * so a skewed key spills in the sort instead of materializing in one
    * task's heap (the groupByKey.flatMapGroups formulation buffered and
    * re-sorted the full key per task).
    *
    * `makeProc` returns (onRow, onKeyEnd) — fresh per key. */
  private def perKeySortedBatch(
      df: DataFrame, keyNames: List[String], ordName: String,
      tieName: Option[String], outSchema: StructType)(
      makeProc: () => (Map[String, Any] => Iterator[Row], () => Iterator[Row])): DataFrame = {
    val schema = df.schema
    val names = schema.fieldNames
    val keyIdx = keyNames.map(schema.fieldIndex)
    // no PARTITION BY → one global key: all rows to one sorted partition,
    // the same degenerate shape groupByKey produced (flagged non-scalable)
    val parts: Seq[Column] =
      if (keyNames.isEmpty) Seq(lit(1)) else keyNames.map(col)
    val sortCols: Seq[Column] =
      keyNames.map(col(_).asc) ++ (col(ordName).asc +: tieName.map(col(_).asc).toSeq)
    df.repartition(parts: _*)
      .sortWithinPartitions(sortCols: _*)
      .mapPartitions { it =>
        var curKey: String = null
        var started = false
        var onRow: Map[String, Any] => Iterator[Row] = null
        var onEnd: () => Iterator[Row] = null
        val body = it.flatMap { r =>
          val key = keyIdx.map(i =>
            if (r.isNullAt(i)) KEYNULL else String.valueOf(r.get(i))).mkString(KEYSEP)
          val tail: Iterator[Row] =
            if (!started || key != curKey) {
              val t = if (started) onEnd() else Iterator.empty[Row]
              curKey = key; started = true
              val (f, g) = makeProc(); onRow = f; onEnd = g
              t
            } else Iterator.empty[Row]
          tail ++ onRow(rowToMap(names, r))
        }
        body ++ (if (started) onEnd() else Iterator.empty[Row])
      }(Encoders.row(outSchema))
  }

  /** The streaming runner of every keyed operator: `df` grouped by its key
    * columns, rendered as one string, through one `flatMapGroupsWithState`
    * that keeps the operator's per-key state `S` (encoded by `stateEnc`)
    * between micro-batches.
    *
    * `step(prev, rows, closeAll)` runs one key's micro-batch and returns
    * its output rows and next state; `closeAll` asks a window operator to
    * close every open window (the IDLETIMEOUT flush, which has no rows).
    * `open` tells whether a state still holds open windows, and `carry`
    * whether the operator keeps analytic state across windows.
    *
    * Timeout policy. A key with neither open windows nor carried state
    * holds nothing worth keeping and is dropped, so high-cardinality
    * ephemeral keys don't accrete (trade-off: its lateness horizon goes
    * with it, so a row later than the key's whole flushed history starts a
    * fresh stream — the reference's own behavior once STATETTL / LRU
    * eviction reaps a key). Otherwise a key's timeout is re-armed on every
    * update: IDLETIMEOUT (`idleMs`) if set, else STATETTL (`ttlMs`).
    *  - With no IDLETIMEOUT the timeout is the STATETTL reap: the key's
    *    state — partial windows and analytic state — goes wholesale
    *    (reference: counting_window.go:254-267; LRU partition eviction,
    *    stream/analytic.go:18-21), with no re-arm, or a quiet stream
    *    busy-loops on timeout batches.
    *  - An IDLETIMEOUT flushes the key's open windows on processing time
    *    (reference: window/watermark.go:108-124). It is not a reap: carried
    *    analytic state is retained, and when STATETTL is set as well and
    *    the flush emitted something, the key is reaped on the next TTL
    *    expiry instead. */
  private def runKeyed[S](
      df: DataFrame, keyNames: List[String], outSchema: StructType,
      stateEnc: Encoder[S], idleMs: Long = 0L, ttlMs: Long = 0L,
      carry: Boolean = true, open: S => Boolean = (_: S) => false)(
      step: (Option[S], Iterator[Row], Boolean) => (Vector[Row], S)): DataFrame = {
    val keyIdx = keyNames.map(df.schema.fieldIndex)
    val fn = (_: String, it: Iterator[Row], state: GroupState[S]) =>
      if (!state.hasTimedOut) {
        val (out, st) = step(state.getOption, it, false)
        if (!carry && !open(st)) state.remove()
        else {
          state.update(st)
          if (idleMs > 0) state.setTimeoutDuration(idleMs)
          else if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
        }
        out.iterator
      } else if (idleMs == 0) {
        state.remove()
        Iterator.empty
      } else {
        val prev = state.getOption
        val (out, st) = step(prev, Iterator.empty, true)
        if (carry && ttlMs == 0) state.update(st)
        else if (carry && prev.exists(open)) {
          state.update(st)
          state.setTimeoutDuration(ttlMs)
        } else state.remove()
        out.iterator
      }
    val timeout =
      if (idleMs > 0 || ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    df.groupByKey(r =>
        keyIdx.map(i => if (r.isNullAt(i)) KEYNULL else String.valueOf(r.get(i))).mkString(KEYSEP))(
        Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(fn)(stateEnc, Encoders.row(outSchema))
  }

  private def singleRowCtx(m: Map[String, Any]): RowEval.Ctx =
    RowEval.Ctx(IndexedSeq(m), IndexedSeq((0, "")), 0L, Some(0), Map.empty, Set.empty)

  private def evalOn(m: Map[String, Any], e: SqlExpr): Any =
    RowEval.eval(e, singleRowCtx(m))

  private def coerce(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (n: Number, LongType) => n.longValue()
    case (n: Number, DoubleType) => n.doubleValue()
    case (n: Number, IntegerType) => n.intValue()
    case (s, StringType) => s.toString
    case (b: Boolean, BooleanType) => b
    case (s: Seq[_], ArrayType(et, _)) => s.map(coerce(_, et))
    case (x, _) => x
  }

  /** Result type of a buffered aggregate slot. */
  private def aggType(fc: FuncCall, schema: StructType): DataType = {
    def argType: DataType = fc.args.headOption.flatMap {
      case Ident(segs) => schema.fields.find(_.name == segs.head.name).map(_.dataType)
      case _ => None
    }.getOrElse(DoubleType)
    fc.lname match {
      case "count" => LongType
      // sum keeps the argument's integer type (as the declarative batch
      // lowering does) — coerce() truncates the double accumulator back,
      // exact below 2^53
      case "sum" => argType match {
        case LongType | IntegerType => LongType
        case _                      => DoubleType
      }
      case "avg" | "stddev" | "stddevs" | "var" | "vars" |
           "median" | "percentile" => DoubleType
      case "min" | "max" | "first_value" | "last_value" | "nth_value" => argType
      case "collect" | "deduplicate" => ArrayType(argType)
      case "merge_agg" => StringType
      case _ => DoubleType
    }
  }

  /** Result rows of the window operators ([[countingWindow]],
    * [[sessionWindowAnalytics]], [[tumblingWindowAnalytics]]): the window
    * result (keys + slot columns + `__wstart`/`__wend`), then one column
    * per cross-window analytic call. The calls' aggregate arguments are
    * already rewritten to slot idents, so they evaluate against the
    * window-result row, and a value-typed analytic takes its type from it. */
  private final class WindowRows(
      schema: StructType,
      keyNames: List[String],
      slots: List[(FuncCall, String)],
      anCalls: List[(FuncCall, String)]) extends Serializable {
    private val resultSchema = StructType(
      keyNames.map(k => schema(k)) ++
        slots.map { case (fc, sn) => StructField(sn, aggType(fc, schema), nullable = true) } ++
        List(StructField("__wstart", LongType), StructField("__wend", LongType)))
    val outSchema: StructType = StructType(resultSchema.fields ++
      anCalls.map { case (fc, an) =>
        StructField(an, analyticType(fc, resultSchema), nullable = true) })
    private val customReg = customSnapshot()

    /** The row of one closed window [ws, we) holding `buf` (event order);
      * the analytics across windows advance the key's `states`. */
    def emit(buf: Seq[Map[String, Any]], ws: Long, we: Long,
        states: mutable.Map[String, AnState]): Row = {
      val keyVals = keyNames.map(buf.head(_))
      val resMap: Map[String, Any] =
        keyNames.zip(keyVals).toMap ++
          slots.map { case (fc, sn) => sn -> aggValue(fc, buf) }.toMap +
          ("__wstart" -> ws) + ("__wend" -> we)
      val anVals = anCalls.map { case (fc, an) =>
        val st = states.getOrElseUpdate(an, AnState())
        coerce(applyAnalytic(fc, st, resMap, customReg), outSchema(an).dataType)
      }
      Row.fromSeq(keyVals ++
        slots.map { case (_, sn) => coerce(resMap(sn), resultSchema(sn).dataType) } ++
        Seq(ws, we) ++ anVals)
    }
  }

  private def aggValue(fc: FuncCall, rows: Seq[Map[String, Any]]): Any = {
    if (fc.lname == "count" && fc.args == List(Star)) rows.size.toLong
    else {
      val values = rows.map(r => evalOn(r, fc.args.head))
      val extra = fc.args.lift(1).collect { case n: NumberLit => n.toDouble }
      RowAgg.overBuffer(fc.lname, values, extra)
    }
  }

  // ------------------------------------------------- counting window

  /** Streaming CountingWindow(n) per group key: buffer rows, fire every n
    * (reference: window/counting_window.go — per-key buffers; STATETTL reaps
    * idle keys). Batch counting windows lower declaratively (PlanBuilder).
    *
    * Input df must carry materialized key columns (`keyNames`) and an
    * epoch-ms order column (`ordName`). Output: keys + slot columns +
    * `__wstart`/`__wend` (min/max event time — the batch analog of the
    * reference's trigger timestamps) + the cross-window analytics.
    */
  def countingWindow(
      df: DataFrame,
      keyNames: List[String],
      n: Int,
      slots: List[(FuncCall, String)],
      ordName: String,
      ttlMs: Long = 0L,
      tieName: Option[String] = None,
      anCalls: List[(FuncCall, String)] = Nil): DataFrame = {
    val names = df.schema.fieldNames
    val rows = new WindowRows(df.schema, keyNames, slots, anCalls)

    // analytics across successive windows share per-key state (reference:
    // stream/stream.go:574-615); counting windows fire in event order per
    // key, so applying them at emit time matches the reference's order
    type CState = (Vector[Map[String, Any]], Map[String, AnState])
    runKeyed[CState](df, keyNames, rows.outSchema, Encoders.kryo[CState],
        ttlMs = ttlMs, carry = anCalls.nonEmpty, open = _._1.nonEmpty) { (prev, it, _) =>
      val incoming = toMaps(names, it).sortWith(ordLess(_, _, ordName, tieName))
      var buf = prev.fold(Vector.empty[Map[String, Any]])(_._1) ++ incoming
      val states = mutable.Map[String, AnState]() ++ prev.fold(Map.empty[String, AnState])(_._2)
      val out = Vector.newBuilder[Row]
      while (buf.size >= n) {
        val win = buf.take(n)
        out += rows.emit(win, RowEval.toMillis(win.head(ordName)),
          RowEval.toMillis(win.last(ordName)), states)
        buf = buf.drop(n)
      }
      (out.result(), (buf, states.toMap))
    }
  }

  // --------------------------------------------------- global window

  /** GLOBAL WINDOW TRIGGER WHEN pred: per-key running aggregates (O(1)
    * state), fire-and-purge when the predicate over aggregate values holds
    * (reference: window/global_window.go:197-253,445-520).
    *
    * `slots` must be O(1) aggregates; `trigger` is the predicate with
    * aggregate calls already rewritten to slot idents by the caller.
    */
  def globalWindow(
      df: DataFrame,
      keyNames: List[String],
      slots: List[(FuncCall, String)],
      trigger: SqlExpr,
      ordName: String,
      tieName: Option[String] = None): DataFrame = {

    val schema = df.schema
    val names = schema.fieldNames
    val outSchema = StructType(
      keyNames.map(k => schema(k)) ++
        slots.map { case (fc, sn) =>
          val dt = fc.lname match {
            case "count" => LongType
            case "min" | "max" | "first_value" | "last_value" =>
              aggType(fc, schema) match {
                case t @ (LongType | IntegerType | DoubleType | StringType |
                          TimestampType) => if (fc.lname == "min" || fc.lname == "max") DoubleType else t
                case _ => DoubleType
              }
            case _ => DoubleType
          }
          StructField(sn, dt, nullable = true)
        } ++
        List(StructField("__wstart", LongType), StructField("__wend", LongType)))

    type GState = (Map[String, RowAgg.Running], Long) // accumulators, window-start ms

    def process(stateIn: Option[GState], rows: Seq[Map[String, Any]]): (Vector[Row], GState) = {
      var accs = stateIn.map(_._1).getOrElse(
        slots.map { case (fc, sn) => sn -> RowAgg.Running() }.toMap)
      var wstart = stateIn.map(_._2).getOrElse(-1L)
      val out = Vector.newBuilder[Row]
      rows.foreach { m =>
        val ts = RowEval.toMillis(m(ordName))
        if (wstart < 0) wstart = ts
        slots.foreach { case (fc, sn) =>
          val v = if (fc.lname == "count" && fc.args == List(Star)) 1L
            else evalOn(m, fc.args.head)
          if (fc.lname == "count" && fc.args == List(Star)) accs(sn).add(1L)
          else accs(sn).add(v)
        }
        val slotVals: Map[String, Any] = slots.map { case (fc, sn) =>
          sn -> accs(sn).result(RowAgg.runningName(fc))
        }.toMap
        if (RowEval.truthy(evalOn(slotVals, trigger))) {
          val keyVals = keyNames.map(m(_))
          out += Row.fromSeq(keyVals ++
            slots.map { case (fc, sn) =>
              coerce(slotVals(sn), outSchema(sn).dataType)
            } ++ Seq(wstart, ts))
          // FIRE_AND_PURGE (reference: window/global_window.go:50-58)
          accs = slots.map { case (_, sn) => sn -> RowAgg.Running() }.toMap
          wstart = -1L
        }
      }
      (out.result(), (accs, wstart))
    }

    if (df.isStreaming)
      runKeyed[GState](df, keyNames, outSchema, Encoders.kryo[GState]) { (prev, it, _) =>
        process(prev, toMaps(names, it).sortWith(ordLess(_, _, ordName, tieName)))
      }
    else
      perKeySortedBatch(df, keyNames, ordName, tieName, outSchema) { () =>
        var st: Option[GState] = None
        val onRow = (m: Map[String, Any]) => {
          val (out, st2) = process(st, Seq(m))
          st = Some(st2)
          out.iterator
        }
        (onRow, () => Iterator.empty[Row])
      }
  }

  // ------------------------------------------------ streaming analytics

  /** Analytic state per call (reference: stream/analytic.go state machines +
    * functions/functions_analytical.go). Streaming [[analytics]] keeps it
    * between micro-batches as [[AnStateCodec]] bytes, which hold only the
    * fields the call's kind reads; the window operators
    * ([[countingWindow]], [[sessionWindowAnalytics]],
    * [[tumblingWindowAnalytics]]) keep it by call name inside their
    * kryo-encoded state. */
  private[streaming] final case class AnState(
      var lagBuf: Vector[Any] = Vector.empty,
      var latest: Any = null,
      var acc: RowAgg.Running = RowAgg.Running(),
      var started: Boolean = false,
      var prevVals: Vector[Any] = Vector.empty,
      var seen: Boolean = false,
      var lastResult: Any = null,
      // user-registered state machine instance (graft.functions.CustomAnalytic)
      var custom: Any = null)

  /** Driver-side snapshot of the user-analytic registry, captured into
    * every operator closure — executor JVMs never see the global map. */
  private def customSnapshot(): Map[String, () => graft.functions.CustomAnalytic] =
    graft.functions.FunctionMap.customAnalyticsSnapshot()

  /** One window-result or event row through one analytic state machine
    * (WHEN gating replays the last result — stream/analytic.go:142-148).
    * Shared by the direct-path analytics and the window-path analytics
    * ([[WindowRows]]). */
  private def applyAnalytic(fc: FuncCall, st: AnState, m: Map[String, Any],
      custom: Map[String, () => graft.functions.CustomAnalytic]): Any = {
    val gate = fc.over.flatMap(_.when).forall(c => RowEval.truthy(evalOn(m, c)))
    if (!gate) return st.lastResult
    val res: Any = fc.lname match {
      case "lag" =>
        val nOff = fc.args.lift(1).collect { case n: NumberLit => n.toLong.toInt }.getOrElse(1)
        val default = fc.args.lift(2).map(evalOn(m, _)).orNull
        val ignoreNull = fc.args.lift(3).collect { case BoolLit(b) => b }.getOrElse(false)
        val v = evalOn(m, fc.args.head)
        val r = if (st.lagBuf.size >= nOff) st.lagBuf(st.lagBuf.size - nOff) else default
        if (!ignoreNull || v != null) st.lagBuf = (st.lagBuf :+ v).takeRight(nOff)
        r
      case "latest" =>
        val v = evalOn(m, fc.args.head)
        if (v != null) st.latest = v
        val default = fc.args.lift(1).map(evalOn(m, _)).orNull
        if (st.latest != null) st.latest else default
      case acc if acc.startsWith("acc_") =>
        val startCond = fc.args.lift(1)
        val resetCond = fc.args.lift(2)
        resetCond.foreach { rc =>
          if (RowEval.truthy(evalOn(m, rc))) st.acc = RowAgg.Running()
        }
        if (!st.started)
          st.started = startCond.forall(sc => RowEval.truthy(evalOn(m, sc)))
        if (st.started) st.acc.add(evalOn(m, fc.args.head))
        val kind = acc.stripPrefix("acc_") match {
          case "count" => "count"; case "sum" => "sum"; case "avg" => "avg"
          case "min" => "min"; case "max" => "max"
        }
        if (!st.started) null else st.acc.result(kind)
      case "had_changed" | "changed_col" =>
        val (ignoreNull, colExprs) = fc.args match {
          case BoolLit(b) :: rest if rest.nonEmpty => (b, rest)
          case as => (true, as)
        }
        val vals = colExprs.map(evalOn(m, _)).toVector
        val changed =
          if (!st.seen) true
          else vals.zip(st.prevVals).exists { case (v, p) =>
            if (ignoreNull && v == null) false
            else if (p == null) v != null
            else v == null || RowEval.compare(v, p) != 0
          }
        // update state (nulls don't overwrite under ignoreNull)
        val newPrev =
          if (!st.seen) vals
          else vals.zip(st.prevVals).map { case (v, p) =>
            if (ignoreNull && v == null) p else v
          }
        st.prevVals = newPrev
        st.seen = true
        if (fc.lname == "had_changed") changed
        else if (changed) vals.head else null
      case other =>
        custom.get(other) match {
          case Some(factory) =>
            // user-registered state machine (reference: stream/analytic.go:93-114)
            if (st.custom == null) st.custom = factory()
            st.custom.asInstanceOf[graft.functions.CustomAnalytic]
              .apply(evalOn(m, fc.args.head))
          case None =>
            throw new IllegalArgumentException(s"unsupported streaming analytic $other")
        }
    }
    st.lastResult = res
    res
  }


  /** The direct-path analytics of one query: its output schema and the
    * per-key step the streaming lowering runs, with the per-call states
    * kept between micro-batches as [[AnStateCodec]] bytes. */
  private[streaming] final class DirectAnalytics(
      schema: StructType, calls: List[(FuncCall, String)],
      ordName: String, tieName: Option[String]) extends Serializable {
    private val names = schema.fieldNames
    val outSchema: StructType = StructType(schema.fields.toList ++
      calls.map { case (fc, n) => StructField(n, analyticType(fc, schema), nullable = true) })
    val codec = new AnStateCodec(calls.map(_._1))
    private val customReg = customSnapshot()

    /** Rows of one key, in event order, through the calls' states. */
    def run(states: Array[AnState], rows: Iterator[Map[String, Any]]): Iterator[Row] =
      rows.map { m =>
        val vals = names.map(m(_)) ++ calls.iterator.zipWithIndex.map { case ((fc, n), i) =>
          coerce(applyAnalytic(fc, states(i), m, customReg), outSchema(n).dataType)
        }
        Row.fromSeq(vals.toIndexedSeq)
      }

    /** One key's micro-batch: decode its state, sort the rows into event
      * order, run them, encode the state back. */
    def step(prev: Option[AnBytes], input: Iterator[Row]): (Vector[Row], AnBytes) = {
      val rows = input.map(r => rowToMap(names, r)).toVector
        .sortWith(ordLess(_, _, ordName, tieName))
      val states = prev.fold(codec.fresh())(p => codec.decode(p.bytes))
      val out = run(states, rows.iterator).toVector
      (out, AnBytes(codec.encode(states)))
    }
  }

  /** Direct-path analytics: streaming keeps each key's state as one
    * [[AnBytes]] value (see [[AnStateCodec]] for the layout); batch (taken
    * only for user analytics, which have no declarative lowering) runs the
    * same calls over the sorted keys. All calls must share one partition
    * spec (the reference keeps independent per-call state; a shared
    * grouping keeps this a single shuffle).
    * Output = input columns + one column per call. */
  def analytics(
      df: DataFrame,
      calls: List[(FuncCall, String)],
      partitionNames: List[String],
      ordName: String,
      tieName: Option[String] = None,
      ttlMs: Long = 0L): DataFrame = {
    val an = new DirectAnalytics(df.schema, calls, ordName, tieName)
    if (df.isStreaming)
      runKeyed[AnBytes](df, partitionNames, an.outSchema, Encoders.product[AnBytes],
        ttlMs = ttlMs)((prev, it, _) => an.step(prev, it))
    else
      perKeySortedBatch(df, partitionNames, ordName, tieName, an.outSchema) { () =>
        val states = an.codec.fresh()
        ((m: Map[String, Any]) => an.run(states, Iterator.single(m)),
          () => Iterator.empty[Row])
      }
  }

  /** Output type of an analytic call over rows of `schema`: the input row
    * for direct-path analytics, the window result for window-path ones. */
  private def analyticType(fc: FuncCall, schema: StructType): DataType = fc.lname match {
    case "had_changed" => BooleanType
    case "acc_count" => LongType
    case "acc_sum" | "acc_avg" | "acc_min" | "acc_max" => DoubleType
    case n if graft.functions.FunctionMap.isCustomAnalytic(n) =>
      // declared result type wins; default double (custom machines fold
      // through toDouble) — never silently truncate to an int column type
      graft.functions.FunctionMap.customAnalyticResultType(n).getOrElse(DoubleType)
    case _ =>
      fc.args.collectFirst {
        case Ident(segs) if schema.fieldNames.contains(segs.head.name) =>
          schema(segs.head.name).dataType
      }.getOrElse(DoubleType)
  }

  // -------------------------- tumbling window + window-path analytics

  /** Per-key state for [[sessionWindowAnalytics]]. */
  final case class SessState(
      sessions: Vector[(Long, Long, Vector[Map[String, Any]])], // (start, lastTs, rows)
      maxTs: Long,
      an: Map[String, AnState],
      horizon: Long)

  /** Streaming session windows WITH analytics across successive sessions
    * (reference: window/session_window.go + stream/stream.go:574-615).
    * Sessions merge on gap overlap and finalize once the key's observed
    * watermark (maxTs − oooMs) passes lastTs + gap — no future row can
    * join a session whose gap horizon the watermark passed. Finalization
    * runs in start order; rows older than the finalized horizon drop.
    *
    * State note: this operator buffers the raw rows of each OPEN session
    * (it must — buffered aggregates like median/collect need them), the
    * same shape the reference keeps (session rows until trigger). Queries
    * without cross-window analytics use Spark's incremental
    * `session_window` aggregation instead and buffer nothing. */
  def sessionWindowAnalytics(
      df: DataFrame,
      keyNames: List[String],
      gapMs: Long,
      slots: List[(FuncCall, String)],
      anCalls: List[(FuncCall, String)],
      ordName: String,
      oooMs: Long,
      tieName: Option[String] = None,
      idleMs: Long = 0L,
      ttlMs: Long = 0L): DataFrame = {
    val names = df.schema.fieldNames
    val rows = new WindowRows(df.schema, keyNames, slots, anCalls)

    def process(stIn: Option[SessState], incoming: Vector[Map[String, Any]],
        closeAll: Boolean): (Vector[Row], SessState) = {
      val st = stIn.getOrElse(SessState(Vector.empty, Long.MinValue, Map.empty, Long.MinValue))
      var sessions = st.sessions
      var maxTs = st.maxTs
      incoming.foreach { m =>
        val ts = RowEval.toMillis(m(ordName))
        maxTs = math.max(maxTs, ts)
        if (ts >= st.horizon) {
          // absorb into every overlapping session, then merge the chain
          // strict on both sides: a row exactly gapMs away starts a new
          // session, matching the close condition e0 + gapMs <= wm
          val (overlap, rest) = sessions.partition { case (s0, e0, _) =>
            ts > s0 - gapMs && ts < e0 + gapMs }
          val merged =
            if (overlap.isEmpty) (ts, ts, Vector(m))
            else ((overlap.map(_._1) :+ ts).min, (overlap.map(_._2) :+ ts).max,
              overlap.flatMap(_._3) :+ m)
          sessions = (rest :+ merged).sortBy(_._1)
        }
      }
      val wm = if (closeAll) Long.MaxValue else maxTs - oooMs
      val states = mutable.Map[String, AnState]() ++ st.an
      val out = Vector.newBuilder[Row]
      var horizon = st.horizon
      val (toClose, open) = sessions.partition { case (_, e0, _) => e0 + gapMs <= wm }
      toClose.sortBy(_._1).foreach { case (s0, e0, buf) =>
        val we = e0 + gapMs
        out += rows.emit(buf.sortWith(ordLess(_, _, ordName, tieName)), s0, we, states)
        horizon = math.max(horizon, we)
      }
      (out.result(), SessState(open, maxTs, states.toMap, horizon))
    }

    runKeyed[SessState](df, keyNames, rows.outSchema, Encoders.kryo[SessState],
        idleMs, ttlMs, carry = anCalls.nonEmpty, open = _.sessions.nonEmpty) {
      (prev, it, closeAll) => process(prev, toMaps(names, it), closeAll)
    }
  }

  /** Per-key state for [[tumblingWindowAnalytics]]: open window buffers,
    * the key's max event time (its private watermark source), analytic
    * state across finalized windows, and the finalized horizon. */
  private[streaming] final case class TwState(
      buffers: Map[Long, Vector[Map[String, Any]]],
      maxTs: Long,
      an: Map[String, AnState],
      horizon: Long)

  /** Streaming tumbling window WITH analytics across successive windows
    * (reference: stream/stream.go:574-615 — window-path analytics keep
    * state across window emissions, auto-partitioned by the GROUP BY keys).
    *
    * Spark disallows a second stateful operator after a streaming
    * aggregation, so ONE `flatMapGroupsWithState` holds both the
    * per-window row buffers and the cross-window analytic state. A window
    * finalizes when the key's observed watermark (maxTs − oooMs) passes
    * its end; finalization runs in start order, which is exactly the order
    * the analytic state machines require. Late rows into finalized windows
    * are dropped (the reference drops sub-watermark rows the same way).
    *
    * `anCalls` arrive with aggregate arguments already rewritten to slot
    * idents, so they evaluate against the window-result row.
    */
  def tumblingWindowAnalytics(
      df: DataFrame,
      keyNames: List[String],
      sizeMs: Long,
      slots: List[(FuncCall, String)],
      anCalls: List[(FuncCall, String)],
      ordName: String,
      oooMs: Long,
      tieName: Option[String] = None,
      slideMs: Long = 0L,
      idleMs: Long = 0L,
      ttlMs: Long = 0L): DataFrame = {
    val slide = if (slideMs > 0) slideMs else sizeMs
    val names = df.schema.fieldNames
    val rows = new WindowRows(df.schema, keyNames, slots, anCalls)

    def process(stIn: Option[TwState], incoming: Vector[Map[String, Any]],
        closeAll: Boolean): (Vector[Row], TwState) = {
      val st = stIn.getOrElse(TwState(Map.empty, Long.MinValue, Map.empty, Long.MinValue))
      val batchMax =
        if (incoming.isEmpty) Long.MinValue
        else incoming.iterator.map(m => RowEval.toMillis(m(ordName))).max
      val maxTs = math.max(st.maxTs, batchMax)
      val wm = if (closeAll) Long.MaxValue else maxTs - oooMs

      var bufs = st.buffers
      incoming.foreach { m =>
        val ts = RowEval.toMillis(m(ordName))
        // every window [ws, ws+size) with ws ≡ 0 (mod slide) containing ts
        var ws = math.floorDiv(ts, slide) * slide
        while (ws + sizeMs > ts) {
          if (ws >= st.horizon) // window not yet finalized
            bufs = bufs.updated(ws, bufs.getOrElse(ws, Vector.empty) :+ m)
          ws -= slide
        }
      }

      val states = mutable.Map[String, AnState]() ++ st.an
      val out = Vector.newBuilder[Row]
      var horizon = st.horizon
      val toClose = bufs.keys.filter(ws => ws + sizeMs <= wm).toList.sorted
      toClose.foreach { ws =>
        out += rows.emit(bufs(ws).sortWith(ordLess(_, _, ordName, tieName)),
          ws, ws + sizeMs, states)
        bufs -= ws
        horizon = math.max(horizon, ws + slide)
      }
      (out.result(), TwState(bufs, maxTs, states.toMap, horizon))
    }

    runKeyed[TwState](df, keyNames, rows.outSchema, Encoders.kryo[TwState],
        idleMs, ttlMs, carry = anCalls.nonEmpty, open = _.buffers.nonEmpty) {
      (prev, it, closeAll) => process(prev, toMaps(names, it), closeAll)
    }
  }
}
