package graft.plan

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sql._

/** Builds a Spark DataFrame plan from a dialect `Query`.
  *
  * The reference executes queries as per-row push pipelines
  * (reference: stream/processor_data.go:84-110 — enrich → WHERE → window →
  * aggregate → projection → HAVING → ORDER BY → LIMIT). Here the same
  * semantics are *declared* and Catalyst plans them: predicate pushdown,
  * column pruning, broadcast joins and whole-stage codegen come for free,
  * and the plan scales out by partitioning instead of a single goroutine.
  *
  * Path selection mirrors rsql/ast.go:248-274: CEP ⟶ window/aggregate ⟶ direct.
  */
final class PlanBuilder(tables: Map[String, DataFrame]) {

  private def table(name: String): DataFrame =
    tables.getOrElse(name, tables.getOrElse(name.toLowerCase,
      throw new IllegalArgumentException(
        s"unknown table '$name'; registered: ${tables.keys.mkString(", ")}")))

  def build(q: Query): DataFrame = {
    val base = table(q.from)
    val (joined, resolver) = buildJoins(base, q)
    val ord = orderColumns(q, joined)

    if (q.matchRecognize.isDefined)
      graft.cep.CepExec.run(joined, q, resolver)
    else if (isAggregation(q)) buildAggPath(q, joined, resolver, ord)
    else buildDirectPath(q, joined, resolver, ord)
  }

  private def isAggregation(q: Query): Boolean =
    q.window.isDefined || q.groupBy.nonEmpty ||
      q.items.exists(i => ExprBuilder.containsAggregate(i.expr)) ||
      q.having.exists(ExprBuilder.containsAggregate)

  // ------------------------------------------------------------------ joins

  /** Stream-table equi joins (reference: stream/join.go:36-68). The lookup
    * side is a dimension table — broadcast it so the plan is a stream-side
    * hash join with no shuffle of the (large) stream side. */
  private def buildJoins(base: DataFrame, q: Query): (DataFrame, Resolver) = {
    var df = base
    var joinInfos = List.empty[Resolver.JoinInfo]
    val streamAliases = Set("stream", q.from) ++ q.fromAlias.toSet

    // schema-less escape hatch: first map<string,_> column hosts virtual
    // columns for identifiers no declared column matches
    val dynMapCol = base.schema.fields.collectFirst {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] &&
          f.dataType.asInstanceOf[org.apache.spark.sql.types.MapType]
            .keyType == org.apache.spark.sql.types.StringType =>
        f.name
    }

    q.joins.zipWithIndex.foreach { case (jc, idx) =>
      val alias = jc.alias.getOrElse(jc.table)
      val right0 = table(jc.table)
      // prefix by JOIN POSITION, not alias: alias-derived prefixes collide
      // when aliases contain underscores (aliases "a"/"a_b" with columns
      // "b_c"/"c" would both rename to __j_a_b_c — same defect class as
      // the corrMatrix pair aliases); the prefix is opaque to the
      // Resolver, which looks identifiers up by (alias, column)
      val prefix = s"__j${idx}_"
      val right = right0.columns.foldLeft(right0)((d, c) => d.withColumnRenamed(c, prefix + c))
      val info = Resolver.JoinInfo(alias, right0.columns.toList, prefix)
      val resolver = new Resolver(base.columns.toList, streamAliases,
        joinInfos :+ info, dynMapCol)
      val cond = ExprBuilder.build(jc.on, directCtx(resolver))
      df = df.join(broadcast(right), cond, jc.joinType)
      joinInfos :+= info
    }
    (df, new Resolver(base.columns.toList, streamAliases, joinInfos, dynMapCol))
  }

  private def directCtx(resolver: Resolver): ExprBuilder.Ctx =
    ExprBuilder.Ctx(
      resolveIdent = resolver.resolve,
      onAggregate = fc => throw new IllegalArgumentException(
        s"aggregate ${fc.name} not allowed here"),
      onAnalytic = fc => throw new IllegalArgumentException(
        s"analytic ${fc.name} not allowed here"),
      rowStruct = Some(() => rowStructOf(resolver)))

  /** Struct of the source row's base columns — the row view a per-row
    * dynamic expr() evaluates against. */
  private def rowStructOf(resolver: Resolver): Column =
    struct(resolver.baseColumnNames.map(n => col(s"`$n`").as(n)): _*)

  // ---------------------------------------------------------- event order

  private case class OrderCols(eventTs: Option[Column], ord: List[Column])

  /** Event-time / order columns. WITH (TIMESTAMP='col', TIMEUNIT='ms')
    * selects event time (reference: rsql/parser.go:1123-1172); TIEBREAK is a
    * dialect extension giving batch mode a deterministic total order. */
  private def orderColumns(q: Query, df: DataFrame): OrderCols = {
    val tsName = q.options.get("TIMESTAMP")
      .orElse(if (df.columns.contains("ts")) Some("ts") else None)
    val unit = q.options.getOrElse("TIMEUNIT", "ms")
    val ts = tsName.flatMap { n =>
      df.schema.fields.find(_.name == n).map { f =>
        f.dataType match {
          case _: TimestampType => col(n)
          case _: NumericType => unit match {
            case "ms" => timestamp_millis(col(n).cast("long"))
            case "s"  => timestamp_seconds(col(n))
            case "us" => timestamp_micros(col(n).cast("long"))
            case "ns" => timestamp_micros(expr(s"`$n` div 1000"))
            case o    => throw new IllegalArgumentException(s"TIMEUNIT '$o'")
          }
          case _ => to_timestamp(col(n))
        }
      }
    }
    val tiebreak = q.options.get("TIEBREAK").map(col)
    OrderCols(ts, tsName.map(col).toList ++ tiebreak.toList)
  }

  /** The stateful operators' `WITH` durations in ms (0 when unset):
    * STATETTL, IDLETIMEOUT, and the event-time delay MAXOUTOFORDERNESS +
    * ALLOWEDLATENESS. ALLOWEDLATENESS extends the watermark delay of the
    * declarative windows and the absorption horizon of the stateful ones
    * alike (late rows inside it still join their window; beyond it they
    * drop). */
  private case class StateDurations(ttlMs: Long, idleMs: Long, delayMs: Long)

  private def stateDurations(q: Query): StateDurations = {
    def ms(k: String) = q.options.get(k).map(Durations.toMillis).getOrElse(0L)
    StateDurations(ms("STATETTL"), ms("IDLETIMEOUT"),
      ms("MAXOUTOFORDERNESS") + ms("ALLOWEDLATENESS"))
  }

  // ------------------------------------------------------------ direct path

  /** Per-row pipeline: analytics → WHERE → projection → unnest →
    * change-suppression → ORDER/LIMIT (reference: stream/stream.go:640-698,
    * stream/processor_data.go:622-650). */
  private def buildDirectPath(
      q0: Query, df0: DataFrame, resolver: Resolver, ord: OrderCols): DataFrame = {

    // had_changed(flag, *) compares the whole row BY COLUMN NAME — the *
    // expands to every stream column (reference: stream/analytic.go:155-166,
    // which compares the named row map to survive schema reordering)
    def expandChangeStar(e: SqlExpr): SqlExpr = SqlExpr.transformDown(e) {
      case fc @ FuncCall(n, args, _, _)
          if n.equalsIgnoreCase("had_changed") && args.contains(Star) =>
        val flag = args match {
          case (b: BoolLit) :: _ => b
          case _                 => BoolLit(true)
        }
        fc.copy(args = flag :: resolver.baseColumnNames.map(Ident.simple))
    }
    val q1 = q0.copy(
      items = q0.items.map(it => it.copy(expr = expandChangeStar(it.expr))),
      where = q0.where.map(expandChangeStar))

    // changed_cols(prefix, ignoreNull, c1..cn) fans out to one changed_col
    // per column named prefix+colname (reference: stream/analytic.go:236-289)
    val q = q1.copy(items = q1.items.flatMap {
      case SelectItem(FuncCall(n, args, over, d), _) if n.equalsIgnoreCase("changed_cols") =>
        val (prefix, rest) = args match {
          case StringLit(p) :: tail => (p, tail)
          case tail                 => ("", tail)
        }
        val (flag, cols) = rest match {
          case (b: BoolLit) :: tail => (b, tail)
          case tail                 => (BoolLit(true), tail)
        }
        require(cols.nonEmpty, "changed_cols requires at least one column argument")
        cols.map { c =>
          val name = c match {
            case id: Ident => prefix + id.segments.last.name
            case _         => prefix + "col"
          }
          SelectItem(FuncCall("changed_col", List(flag, c), over, d), Some(name))
        }
      case it => List(it)
    })

    val analyticCalls =
      (q.items.map(_.expr) ++ q.where.toList).flatMap(ExprBuilder.collectAnalytics)
    // user-registered analytics have no declarative window-function
    // lowering — batch routes through the same per-key state machines
    // (flatMapGroups) the streaming path uses
    val hasCustomAnalytic =
      analyticCalls.exists(c => graft.functions.FunctionMap.isCustomAnalytic(c.lname))
    val (df1, anMap) =
      if (analyticCalls.isEmpty) (df0, Map.empty[FuncCall, String])
      else if (df0.isStreaming || hasCustomAnalytic) {
        // streaming: per-key state machines (reference: stream/analytic.go)
        val dctx = directCtx(resolver)
        val parts = analyticCalls.head.over.map(_.partitionBy).getOrElse(Nil)
        require(analyticCalls.forall(c => c.over.map(_.partitionBy).getOrElse(Nil) == parts),
          "streaming analytics in one query must share a PARTITION BY")
        var d = df0
        val pNames = parts.indices.map(i => s"__pk_$i").toList
        parts.zip(pNames).foreach { case (e, n) =>
          d = d.withColumn(n, ExprBuilder.build(e, dctx))
        }
        val evts = ord.eventTs.getOrElse(throw new IllegalArgumentException(
          "streaming analytics require an event-time column (WITH TIMESTAMP or 'ts')"))
        d = d.withColumn("__ord_ms", unix_millis(evts))
        val named = analyticCalls.distinct.zipWithIndex
          .map { case (c, i) => (c, s"__an_$i") }
        val lowered = graft.streaming.StatefulOps.analytics(d, named, pNames, "__ord_ms",
          tieName = q.options.get("TIEBREAK"), ttlMs = stateDurations(q).ttlMs)
        (lowered, named.toMap)
      } else AnalyticsLowering.lower(
        df0, analyticCalls,
        e => ExprBuilder.build(e, directCtx(resolver)),
        defaultPartition = Nil, ord = ord.ord)

    val ctx = ExprBuilder.Ctx(
      resolveIdent = resolver.resolve,
      onAggregate = fc => throw new IllegalArgumentException(
        s"aggregate ${fc.name} requires GROUP BY / a window"),
      onAnalytic = fc => col(anMap(fc)),
      starCols = () => resolver.starColumns,
      rowStruct = Some(() => rowStructOf(resolver)))

    val df2 = q.where.map(w => df1.filter(ExprBuilder.build(w, ctx))).getOrElse(df1)

    // unnest expansion (reference: stream/processor_data.go:652-692): empty
    // arrays yield zero rows (explode, not explode_outer)
    val unnestIdx = q.items.indexWhere {
      case SelectItem(FuncCall(n, _, _, _), _) => n.equalsIgnoreCase("unnest")
      case _ => false
    }
    val selected: DataFrame = if (unnestIdx >= 0) {
      val item = q.items(unnestIdx)
      val arr = ExprBuilder.build(item.expr.asInstanceOf[FuncCall].args.head, ctx)
      val withEx = df2.withColumn("__unnest", explode(arr))
      val exCols: List[Column] = withEx.schema("__unnest").dataType match {
        case st: StructType if item.alias.isEmpty =>
          // object elements expand to columns (reference: functions_multirow.go:15-70)
          st.fields.map(f => col("__unnest").getField(f.name).as(f.name)).toList
        case _ => List(col("__unnest").as(item.alias.getOrElse("unnest")))
      }
      val cols = q.items.zipWithIndex.flatMap { case (it, i) =>
        if (i == unnestIdx) exCols else expandItem(it, ctx, resolver)
      }
      withEx.select(cols: _*)
    } else {
      df2.select(q.items.flatMap(expandItem(_, ctx, resolver)): _*)
    }

    // change-detection row suppression (reference: stream/stream.go:551-567):
    // a row whose changed_col outputs are all empty is dropped entirely
    val changeOutputs = q.items.collect {
      case it @ SelectItem(FuncCall(n, _, _, _), _)
          if n.equalsIgnoreCase("changed_col") => it.outputName
    }
    val suppressed =
      if (changeOutputs.nonEmpty)
        selected.filter(changeOutputs.map(col(_).isNotNull).reduce(_ || _))
      else selected

    finishQuery(q, suppressed)
  }

  private def expandItem(
      it: SelectItem, ctx: ExprBuilder.Ctx, resolver: Resolver): List[Column] =
    it.expr match {
      case Star => resolver.starColumns
      case _    => List(ExprBuilder.build(it.expr, ctx).as(it.outputName))
    }

  // ------------------------------------------------------- aggregation path

  /** Window pipeline: WHERE → window assignment → aggregate → projection →
    * window-analytics → HAVING → DISTINCT → ORDER BY → LIMIT
    * (reference: stream/processor_data.go:84-110,383-493). */
  private def buildAggPath(
      q: Query, df0: DataFrame, resolver: Resolver, ord: OrderCols): DataFrame = {

    val dctx = directCtx(resolver)

    // WHERE before windowing — the pushdown the reference hand-codes
    // (stream/processor_data.go:93-104)
    var pre = q.where.map(w => df0.filter(ExprBuilder.build(w, dctx))).getOrElse(df0)

    // counting-window WHEN gating: only passing rows enter the window
    // (reference: rsql/parser.go:601-665)
    q.window.foreach {
      case CountingWindow(_, Some(cond)) =>
        pre = pre.filter(ExprBuilder.build(cond, dctx))
      case _ => ()
    }

    val isStream = df0.isStreaming
    val dur = stateDurations(q)

    // group keys as materialized columns (supports scalar-function keys,
    // reference: rsql/ast.go:722-734, stream/processor_field.go:205-219)
    val keyNames = q.groupBy.indices.map(i => s"__g_$i").toList
    q.groupBy.zip(keyNames).foreach { case (e, n) =>
      pre = pre.withColumn(n, ExprBuilder.build(e, dctx))
    }
    val keyCols = keyNames.map(col)

    def needTs: Column = ord.eventTs.getOrElse(throw new IllegalArgumentException(
      "time window requires an event-time column (WITH TIMESTAMP or a 'ts' column)"))

    // aggregate slot extraction (reference: aggregator/post_aggregation.go:60-200);
    // GLOBAL WINDOW trigger predicates may use trigger-only aggregates
    // (reference: rsql/parser.go:601-665)
    val slots = scala.collection.mutable.LinkedHashMap[FuncCall, String]()
    def registerAggs(e: SqlExpr): Unit =
      ExprBuilder.collectAggregates(e).foreach { fc =>
        if (!Set("window_start", "window_end", "window_id").contains(fc.lname))
          if (!slots.contains(fc)) slots += (fc -> s"__a_${slots.size}")
      }
    q.items.foreach(i => registerAggs(i.expr))
    q.having.foreach(registerAggs)
    q.window.foreach {
      case GlobalWindow(Some(t)) => registerAggs(t)
      case _ => ()
    }

    // analytics over window results (reference: stream/stream.go:574-615,
    // rsql/ast.go:142-205) — needed up-front: streaming tumbling windows
    // with analytics route to a combined stateful operator
    val windowAnalytics =
      (q.items.map(_.expr) ++ q.having.toList).flatMap(ExprBuilder.collectAnalytics)

    // stateful paths: counting windows in streaming mode; GLOBAL WINDOW
    // TRIGGER WHEN (fire-and-purge) in both modes; tumbling windows with
    // window-path analytics in streaming mode (Spark disallows a second
    // stateful operator after a streaming aggregation, so one operator
    // owns both the window buffers and the cross-window analytic state)
    var statefulAnMap: Map[FuncCall, String] = Map.empty
    // window-path analytic calls with aggregate args rewritten to slot
    // idents, so they evaluate against the stateful op's window-result row
    def statefulAnNamed(): List[(FuncCall, String)] = {
      statefulAnMap = windowAnalytics.distinct.zipWithIndex
        .map { case (c, i) => c -> s"__wan_$i" }.toMap
      statefulAnMap.toList.map { case (c, n) =>
        (c.copy(
          args = c.args.map(rewriteAggsToSlots(_, slots.toMap)),
          over = c.over.map(o => o.copy(
            when = o.when.map(rewriteAggsToSlots(_, slots.toMap))))), n)
      }
    }
    val statefulAgged: Option[DataFrame] = q.window match {
      case Some(CountingWindow(n, _)) if isStream =>
        val d = pre.withColumn("__ord_ms", unix_millis(needTs))
        Some(graft.streaming.StatefulOps.countingWindow(
          d, keyNames, n, slots.toList, "__ord_ms",
          ttlMs = dur.ttlMs, tieName = q.options.get("TIEBREAK"),
          anCalls = if (windowAnalytics.isEmpty) Nil else statefulAnNamed()))
      case Some(GlobalWindow(Some(trig))) =>
        val d = pre.withColumn("__ord_ms", unix_millis(needTs))
        val trigRewritten = rewriteAggsToSlots(trig, slots.toMap)
        Some(graft.streaming.StatefulOps.globalWindow(
          d, keyNames, slots.toList, trigRewritten, "__ord_ms",
          tieName = q.options.get("TIEBREAK")))
      case Some(w @ (_: TumblingWindow | _: SlidingWindow))
          if isStream &&
            (windowAnalytics.nonEmpty || q.options.contains("IDLETIMEOUT")) =>
        val (size, slide) = w match {
          case TumblingWindow(s)    => (s, s)
          case SlidingWindow(s, sl) => (s, sl)
          case _                    => throw new MatchError(w)
        }
        val d = pre.withColumn("__ord_ms", unix_millis(needTs))
        Some(graft.streaming.StatefulOps.tumblingWindowAnalytics(
          d, keyNames, size, slots.toList, statefulAnNamed(), "__ord_ms", dur.delayMs,
          tieName = q.options.get("TIEBREAK"), slideMs = slide,
          idleMs = dur.idleMs, ttlMs = dur.ttlMs))
      case Some(SessionWindow(gap)) if isStream &&
          (windowAnalytics.nonEmpty || q.options.contains("IDLETIMEOUT")) =>
        val d = pre.withColumn("__ord_ms", unix_millis(needTs))
        Some(graft.streaming.StatefulOps.sessionWindowAnalytics(
          d, keyNames, gap, slots.toList, statefulAnNamed(), "__ord_ms", dur.delayMs,
          tieName = q.options.get("TIEBREAK"), idleMs = dur.idleMs, ttlMs = dur.ttlMs))
      case _ => None
    }

    // window assignment → grouping columns (declarative path)
    val isTimeWindow = q.window.exists {
      case _: TumblingWindow | _: SlidingWindow | _: SessionWindow => true
      case _ => false
    }
    // event-time + watermark (reference: WITH MAXOUTOFORDERNESS,
    // window/watermark.go:32,63-179; Spark advances per micro-batch).
    // ALLOWEDLATENESS (window/tumbling_window.go:48-53) extends the
    // watermark delay: a late row within lateness is absorbed into its
    // window, and an update-mode sink re-emits the accumulated result —
    // results carry window_id() for sink-side replace, matching the
    // reference's triggeredWindows re-emission
    def evtCol: Column = {
      if (isTimeWindow) {
        pre = pre.withColumn("__evt", needTs)
        if (isStream)
          pre = pre.withWatermark("__evt", s"${dur.delayMs} milliseconds")
      }
      col("__evt")
    }
    val groupCols: List[Column] = if (statefulAgged.isDefined) Nil else q.window match {
      case Some(TumblingWindow(size)) =>
        val e = evtCol
        pre = pre.withColumn("__window", window(e, s"$size milliseconds"))
        col("__window") :: keyCols
      case Some(SlidingWindow(size, slide)) =>
        val e = evtCol
        pre = pre.withColumn("__window",
          window(e, s"$size milliseconds", s"$slide milliseconds"))
        col("__window") :: keyCols
      case Some(SessionWindow(gap)) =>
        val e = evtCol
        session_window(e, s"$gap milliseconds").as("__window") :: keyCols
      case Some(CountingWindow(n, _)) =>
        require(ord.ord.nonEmpty,
          "CountingWindow requires a deterministic order (WITH TIMESTAMP/TIEBREAK)")
        val w = Window.partitionBy(keyCols: _*).orderBy(ord.ord: _*)
        pre = pre.withColumn("__wid",
          floor((row_number().over(w) - lit(1)) / lit(n)))
        col("__wid") :: keyCols
      case _ => keyCols // GLOBAL WINDOW without trigger / bare GROUP BY
    }

    // window_start()/window_end() pseudo-aggregates
    // (reference: functions/functions_window.go:15-105); for counting/global
    // windows the batch analog is min/max event time
    val wsReferenced = (q.items.map(_.expr) ++ q.having.toList)
      .flatMap(ExprBuilder.collectAggregates)
      .exists(fc => Set("window_start", "window_end", "window_id").contains(fc.lname))
    val boundSlots: List[Column] =
      if (statefulAgged.isEmpty && !isTimeWindow && wsReferenced)
        List(unix_millis(min(needTs)).as("__wstart"),
          unix_millis(max(needTs)).as("__wend"))
      else Nil

    // batch CountingWindow fires only complete n-row windows, matching the
    // streaming path and the reference (window/counting.go) — the trailing
    // partial group is held back, never emitted
    val countWindowN: Option[Int] = q.window match {
      case Some(CountingWindow(n, _)) if statefulAgged.isEmpty => Some(n)
      case _ => None
    }

    val agged: DataFrame = statefulAgged.getOrElse {
      val aggOrd: Option[Column] = ord.ord match {
        case Nil      => None
        case c :: Nil => Some(c)
        case cs       => Some(struct(cs: _*))
      }
      val aggExprs = slots.map { case (fc, name) =>
        Aggregates.build(fc, a => ExprBuilder.build(a, dctx), aggOrd).as(name)
      }.toList ++ boundSlots ++
        countWindowN.map(_ => count(lit(1)).as("__wcnt")).toList
      // ROLLUP/CUBE grouping-set expansion (Spark-first extension) — the
      // map-side partial aggregation covers all grouping sets in one pass
      val g = q.groupStyle match {
        case "rollup" =>
          require(q.window.isEmpty, "ROLLUP cannot combine with a window")
          pre.rollup(groupCols: _*)
        case "cube" =>
          require(q.window.isEmpty, "CUBE cannot combine with a window")
          pre.cube(groupCols: _*)
        case _ => pre.groupBy(groupCols: _*)
      }
      val full = aggExprs match {
        case Nil          => g.agg(count(lit(1)).as("__cnt"))
        case head :: tail => g.agg(head, tail: _*)
      }
      countWindowN match {
        case Some(n) => full.filter(col("__wcnt") === n).drop("__wcnt")
        case None    => full
      }
    }

    val (windowStart, windowEnd): (Column, Column) =
      if (statefulAgged.isEmpty && isTimeWindow)
        (unix_millis(col("__window.start")), unix_millis(col("__window.end")))
      else (col("__wstart"), col("__wend"))

    // post-aggregation resolution: group keys (structurally), agg slots,
    // window bounds
    val keyExprMap: Map[SqlExpr, Column] =
      q.groupBy.zip(keyNames).map { case (e, n) => (e, col(n)) }.toMap

    def postCtx(anMap: Map[FuncCall, String]): ExprBuilder.Ctx =
      ExprBuilder.Ctx(
        resolveIdent = id => keyExprMap.getOrElse(id, col(id.raw)),
        onAggregate = fc => fc.lname match {
          case "window_start" => windowStart
          case "window_end"   => windowEnd
          case "window_id" =>
            // stable per-window id for sink-side dedup/replace on re-emits
            // (reference: stream/processor_data.go:420-435)
            concat_ws("_", windowStart, windowEnd)
          case _              => col(slots(fc))
        },
        onAnalytic = fc => col(anMap(fc)))

    // analytics over window results: partitioned by group keys, ordered
    // across successive windows (reference: stream/stream.go:574-615,
    // rsql/ast.go:142-205 — state partitions auto-derived from GROUP BY keys)
    val windowOrderCol: Column = q.window match {
      case Some(_: TumblingWindow) | Some(_: SlidingWindow) | Some(_: SessionWindow) =>
        col("__window.start")
      case Some(_: CountingWindow) => col("__wid")
      case _ => lit(1)
    }
    if (isStream && windowAnalytics.nonEmpty && statefulAnMap.isEmpty)
      throw new UnsupportedOperationException(
        "streaming analytics over window results require a tumbling, " +
          "sliding, session, or counting window")
    val (agged2, anMap) =
      if (windowAnalytics.isEmpty) (agged, Map.empty[FuncCall, String])
      else if (statefulAnMap.nonEmpty) (agged, statefulAnMap) // computed in-op
      else AnalyticsLowering.lower(
        agged, windowAnalytics,
        e => ExprBuilder.build(e, postCtx(Map.empty)),
        defaultPartition = keyCols,
        ord = List(windowOrderCol))

    val ctx = postCtx(anMap)

    // HAVING may reference select aliases or unselected aggregates
    // (reference: rsql/ast.go:555-618)
    val aliasMap: Map[String, SqlExpr] =
      q.items.flatMap(i => i.alias.map(a => a -> i.expr)).toMap
    val filtered = q.having match {
      case Some(h) =>
        agged2.filter(ExprBuilder.build(substAliases(h, aliasMap), ctx))
      case None => agged2
    }

    val outCols = q.items.map { it =>
      keyExprMap.get(it.expr) match {
        case Some(kc) => kc.as(it.outputName)
        case None     => ExprBuilder.build(it.expr, ctx).as(it.outputName)
      }
    }
    finishQuery(q, filtered.select(outCols: _*))
  }

  /** Rewrite aggregate calls to their slot columns (GLOBAL trigger scope). */
  private def rewriteAggsToSlots(e: SqlExpr, slots: Map[FuncCall, String]): SqlExpr =
    SqlExpr.transformDown(e) {
      case fc: FuncCall if ExprBuilder.isAggregateCall(fc) =>
        Ident.simple(slots(fc))
    }

  /** Replace select-alias references with their definitions (HAVING scope);
    * aggregate/analytic calls are left intact for slot resolution. */
  private def substAliases(e: SqlExpr, aliasMap: Map[String, SqlExpr]): SqlExpr =
    SqlExpr.transformDown(e) {
      case id @ Ident(List(Ident.Seg(n, Nil))) => aliasMap.getOrElse(n, id)
      case fc: FuncCall
          if ExprBuilder.isAggregateCall(fc) || ExprBuilder.isAnalyticCall(fc) => fc
    }

  // ------------------------------------------------- shared final clauses

  /** DISTINCT → ORDER BY → LIMIT over the projected output
    * (reference: stream/processor_data.go:477-514; ORDER BY + LIMIT lowers to
    * Spark's TakeOrderedAndProject top-k). */
  private def finishQuery(q: Query, df: DataFrame): DataFrame = {
    // streaming: DISTINCT/ORDER BY/LIMIT are per-emitted-batch semantics in
    // the reference (stream/sorter.go:11-35) → apply in foreachBatch
    // (graft.streaming.Sinks.orderedBatches); the unbounded plan skips them
    if (df.isStreaming) return df
    val d = if (q.distinct) df.distinct() else df
    val o =
      if (q.orderBy.isEmpty) d
      else {
        val ctx = ExprBuilder.Ctx(
          resolveIdent = id => col(id.raw),
          onAggregate = fc => throw new IllegalArgumentException(
            "aggregates in ORDER BY must be aliased in SELECT"),
          onAnalytic = fc => throw new IllegalArgumentException(
            "analytics in ORDER BY must be aliased in SELECT"))
        val items = q.orderBy.map { oi =>
          val c = ExprBuilder.build(oi.expr, ctx)
          if (oi.asc) c.asc else c.desc
        }
        d.orderBy(items: _*)
      }
    q.limit.map(o.limit).getOrElse(o)
  }
}
