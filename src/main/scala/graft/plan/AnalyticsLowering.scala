package graft.plan

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import graft.sql._

/** Batch lowering of the reference's streaming analytic state machines
  * (reference: functions/functions_analytical.go, functions/analytic_acc.go,
  * stream/analytic.go) onto Spark window functions.
  *
  * Each analytic call becomes one or more staged `withColumn`s over a
  * `Window.partitionBy(partition).orderBy(eventOrder)`, so state-machine
  * semantics (per-partition memory, WHEN-gated updates with last-result
  * replay — reference: stream/analytic.go:142-148) translate to frame
  * expressions:
  *
  *  - update rows compute the new result;
  *  - non-update rows replay the previous result via
  *    `last(struct(result)) IGNORE NULLS` over an unbounded-preceding frame
  *    (struct-wrapping distinguishes "no previous result" from a NULL result).
  *
  * In streaming mode the same calls run as per-key state machines on
  * `flatMapGroupsWithState` instead ([[graft.streaming.StatefulOps.analytics]]).
  */
object AnalyticsLowering {

  /** Lower `calls` against `df`; returns the augmented frame and the output
    * column name for each call. Calls are deduplicated structurally. */
  def lower(
      df: DataFrame,
      calls: List[FuncCall],
      buildArg: SqlExpr => Column,
      defaultPartition: List[Column],
      ord: List[Column]
  ): (DataFrame, Map[FuncCall, String]) = {
    var cur = df
    var out = Map.empty[FuncCall, String]
    calls.distinct.zipWithIndex.foreach { case (fc, i) =>
      val name = s"__an_$i"
      cur = lowerOne(cur, fc, name, buildArg, defaultPartition, ord)
      out += (fc -> name)
    }
    (cur, out)
  }

  private def lowerOne(
      df: DataFrame,
      fc: FuncCall,
      outName: String,
      buildArg: SqlExpr => Column,
      defaultPartition: List[Column],
      ord: List[Column]
  ): DataFrame = {
    require(ord.nonEmpty,
      s"analytic function ${fc.name} requires an event-order column " +
        "(WITH (TIMESTAMP='col') or a 'ts' column)")

    val parts: List[Column] =
      fc.over.map(_.partitionBy.map(buildArg)).filter(_.nonEmpty)
        .getOrElse(defaultPartition)
    val ordCols: List[Column] =
      fc.over.map(_.orderBy).filter(_.nonEmpty)
        .map(_.map(oi => if (oi.asc) buildArg(oi.expr).asc else buildArg(oi.expr).desc))
        .getOrElse(ord)
    val cond: Option[Column] = fc.over.flatMap(_.when).map(buildArg)

    val w: WindowSpec = Window.partitionBy(parts: _*).orderBy(ordCols: _*)
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)

    def litOf(e: SqlExpr): Column = buildArg(e)

    /** WHEN-gated replay: result defined at cond rows; others replay previous. */
    def withReplay(resultAtUpdate: Column, condCol: Column): Column =
      last(when(condCol, struct(resultAtUpdate.as("v"))), ignoreNulls = true)
        .over(wAll).getField("v")

    fc.lname match {
      // ---------------------------------------------------------------- lag
      case "lag" =>
        val c = buildArg(fc.args.head)
        val n = fc.args.lift(1).collect { case nl: NumberLit => nl.toLong.toInt }.getOrElse(1)
        val default = fc.args.lift(2).map(litOf)
        val ignoreNull = fc.args.lift(3).collect { case BoolLit(b) => b }.getOrElse(false)
        cond match {
          case None =>
            val base =
              if (ignoreNull && n == 1)
                last(c, ignoreNulls = true).over(wPrev)
              else lag(c, n).over(w)
            df.withColumn(outName, default.map(d => coalesce(base, d)).getOrElse(base))
          case Some(cc) =>
            require(n == 1, "lag with WHEN gating supports offset 1")
            // previous gated value, then replay at non-update rows
            // (reference: stream/analytic.go:142-148)
            val x = when(cc, c)
            val tmp = s"${outName}_prev"
            val staged = df.withColumn(tmp, last(when(cc, struct(x.as("v"))),
              ignoreNulls = true).over(wPrev).getField("v"))
            val w2 = Window.partitionBy(parts: _*).orderBy(ordCols: _*)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            val replayed = last(when(cc, struct(col(tmp).as("v"))), ignoreNulls = true)
              .over(w2).getField("v")
            val res = default.map(d => coalesce(replayed, d)).getOrElse(replayed)
            staged.withColumn(outName, res).drop(tmp)
        }

      // ------------------------------------------------------------- latest
      case "latest" =>
        val c = buildArg(fc.args.head)
        val default = fc.args.lift(1).map(litOf)
        val x = cond.map(cc => when(cc, c)).getOrElse(c)
        val base = last(x, ignoreNulls = true).over(wAll)
        df.withColumn(outName, default.map(d => coalesce(base, d)).getOrElse(base))

      // ---------------------------------------------- acc_* running aggregates
      case acc if acc.startsWith("acc_") =>
        val e = buildArg(fc.args.head)
        val startCond = fc.args.lift(1).map(buildArg)
        val resetCond = fc.args.lift(2).map(buildArg)

        // gating: rows participate only when (WHEN cond) && started
        var stage = df
        var gate: Column = cond.getOrElse(lit(true))
        startCond.foreach { sc =>
          val startedName = s"${outName}_started"
          stage = stage.withColumn(startedName,
            max(when(sc, lit(1)).otherwise(lit(0))).over(wAll) === 1)
          gate = gate && col(startedName)
        }
        // reset segmentation: each reset row begins a new accumulation segment
        // (reference: functions/analytic_acc.go start/reset gating)
        val segParts: List[Column] = resetCond match {
          case Some(rc) =>
            val segName = s"${outName}_seg"
            stage = stage.withColumn(segName,
              sum(when(rc, lit(1)).otherwise(lit(0))).over(wAll))
            parts :+ col(segName)
          case None => parts
        }
        val wAcc = Window.partitionBy(segParts: _*).orderBy(ordCols: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val gated = when(gate, e)
        // acc_* are double accumulators in the reference (and in our
        // streaming operators) — cast so batch and streaming agree on the
        // result type even over integer-typed arguments like count(*)
        val accCol = fc.lname match {
          case "acc_sum"   => sum(gated).over(wAcc).cast("double")
          case "acc_max"   => max(gated).over(wAcc).cast("double")
          case "acc_min"   => min(gated).over(wAcc).cast("double")
          case "acc_count" => count(gated).over(wAcc)
          case "acc_avg"   => avg(gated).over(wAcc)
        }
        val cleaned = stage.withColumn(outName, accCol)
        val dropNames = List(s"${outName}_started", s"${outName}_seg")
          .filter(cleaned.columns.contains)
        dropNames.foldLeft(cleaned)((d, n) => d.drop(n))

      // ----------------------------------------- change detection (CDC layer)
      case "had_changed" =>
        val (ignoreNull, colExprs) = splitChangeArgs(fc.args)
        val changed = changedPredicate(colExprs.map(buildArg), ignoreNull, w, wPrev)
        cond match {
          case None     => df.withColumn(outName, changed)
          case Some(cc) => df.withColumn(outName, withReplay(changed, cc))
        }

      case "changed_col" =>
        val (ignoreNull, colExprs) = splitChangeArgs(fc.args)
        val c = buildArg(colExprs.head)
        val changed = changedPredicate(List(c), ignoreNull, w, wPrev)
        val res = when(changed, c)
        cond match {
          case None     => df.withColumn(outName, res)
          case Some(cc) => df.withColumn(outName, withReplay(res, cc))
        }

      // ------------------------------- Spark-first extensions (batch only)
      case "lead" =>
        val c = buildArg(fc.args.head)
        val n = fc.args.lift(1).collect { case nl: NumberLit => nl.toLong.toInt }.getOrElse(1)
        df.withColumn(outName, lead(c, n).over(w))
      case "row_number" => df.withColumn(outName, row_number().over(w))
      case "rank"       => df.withColumn(outName, rank().over(w))
      case "dense_rank" => df.withColumn(outName, dense_rank().over(w))
      case "ntile" =>
        val n = fc.args.head.asInstanceOf[NumberLit].toLong.toInt
        df.withColumn(outName, ntile(n).over(w))

      case other =>
        throw new IllegalArgumentException(s"unsupported analytic function: $other")
    }
  }

  /** had_changed/changed_col arg split: optional leading bool = ignoreNull
    * (reference: functions_analytical.go:78-96 — first arg may be the flag). */
  private def splitChangeArgs(args: List[SqlExpr]): (Boolean, List[SqlExpr]) =
    args match {
      case BoolLit(b) :: rest if rest.nonEmpty => (b, rest)
      case _                                   => (true, args)
    }

  /** "did any column change vs. the previous event" — first event is a change
    * (reference: functions_analytical.go:171-240). With ignoreNull, NULL current
    * values neither update state nor count as a change; comparison is against
    * the last non-null value. */
  private def changedPredicate(
      cols: List[Column], ignoreNull: Boolean, w: WindowSpec, wPrevFrame: WindowSpec
  ): Column = {
    val rn = row_number().over(w)
    val perCol = cols.map { c =>
      val prev =
        if (ignoreNull) last(c, ignoreNulls = true).over(wPrevFrame)
        else lag(c, 1).over(w)
      val cmp = !(c <=> prev)
      if (ignoreNull) when(c.isNull, lit(false)).otherwise(when(prev.isNull, lit(true)).otherwise(cmp))
      else cmp
    }
    val anyChanged = perCol.reduce(_ || _)
    when(rn === 1, lit(true)).otherwise(anyChanged)
  }
}
