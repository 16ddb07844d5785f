package graft.streaming

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sql._

/** A user analytic with state of its own: the running mean of its input. */
final class RunningMean extends graft.functions.CustomAnalytic {
  private var n = 0L
  private var sum = 0.0
  def apply(v: Any): Any = {
    n += 1; sum += graft.cep.RowEval.toDouble(v); sum / n
  }
}

/** [[AnStateCodec]]: the bytes a streaming analytics key keeps between
  * micro-batches decode to the state that was encoded, for every call kind
  * and value type, and bytes of any other layout fail loudly. */
class AnStateCodecSpec extends AnyFunSuite {
  import StatefulOps.AnState

  private def id(n: String) = Ident.simple(n)
  private def call(name: String, args: SqlExpr*): FuncCall =
    FuncCall(name, args.toList, Some(OverClause(List(id("k")))))
  private def gated(fc: FuncCall, when: SqlExpr): FuncCall =
    fc.copy(over = fc.over.map(_.copy(when = Some(when))))

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("x", DoubleType),
    StructField("s", StringType), StructField("ts", LongType)))

  test("every value type round-trips through a latest() call") {
    val codec = new AnStateCodec(Seq(call("latest", id("x"))))
    val long = "ab€" * 30000 // over 64 KiB of UTF-8, where writeUTF fails
    assert(long.getBytes("UTF-8").length > 65535)
    val values: Seq[Any] = Seq(null, 42, Long.MinValue, 2.5, Double.NaN, -0.0,
      true, false, "", "déjà vu ✓ 😀", long,
      java.sql.Timestamp.valueOf("2024-02-29 12:34:56.123456"),
      new java.math.BigDecimal("-1234567890.0987654321"),
      scala.collection.mutable.ArraySeq(1L, 2L, 3L))
    values.foreach { v =>
      val st = codec.fresh(); st(0).latest = v
      val back = codec.decode(codec.encode(st))(0).latest
      v match {
        case d: Double =>
          assert(back.isInstanceOf[Double])
          assert(java.lang.Double.doubleToRawLongBits(back.asInstanceOf[Double]) ==
            java.lang.Double.doubleToRawLongBits(d), s"$v")
        case _ =>
          assert(back == v, s"$v")
          if (v != null) assert(back.getClass == v.getClass, s"$v")
      }
    }
  }

  test("every call kind keeps the fields it reads") {
    val calls = Seq(
      call("lag", id("x"), NumberLit("3"), NullLit, BoolLit(true)),
      call("latest", id("s")),
      call("acc_avg", id("x")),
      call("had_changed", BoolLit(true), id("x"), id("s")),
      call("changed_col", id("s")),
      gated(call("acc_max", id("x")), BinOp(">", id("x"), NumberLit("0"))))
    val codec = new AnStateCodec(calls)
    val st = codec.fresh()
    st(0).lagBuf = Vector(1.0, null, 3.0)
    st(1).latest = "on"
    st(2).started = true; st(2).acc.add(4.0); st(2).acc.add(-1.0)
    st(3).seen = true; st(3).prevVals = Vector(7.0, "warn")
    st(5).lastResult = 9.0; st(5).started = true; st(5).acc.add(9.0)
    val back = codec.decode(codec.encode(st))
    assert(back(0).lagBuf == Vector(1.0, null, 3.0))
    assert(back(1).latest == "on")
    assert(back(2).started)
    Seq("count", "sum", "avg", "min", "max").foreach(k =>
      assert(back(2).acc.result(k) == st(2).acc.result(k), k))
    assert(back(3).seen && back(3).prevVals == Vector(7.0, "warn"))
    assert(!back(4).seen && back(4).prevVals.isEmpty)
    assert(back(5).lastResult == 9.0 && back(5).acc.result("max") == 9.0)
  }

  /** The events of one key, run once in one batch and once a row per batch
    * with the state encoded and decoded in between, give the same rows. */
  private def sameAcrossBatches(calls: Seq[FuncCall], rows: Seq[Row]): Seq[Row] = {
    val an = new StatefulOps.DirectAnalytics(schema,
      calls.zipWithIndex.map { case (c, i) => (c, s"__an_$i") }.toList, "ts", None)
    val (whole, _) = an.step(None, rows.iterator)
    var prev: Option[AnBytes] = None
    val split = rows.flatMap { r =>
      val (out, next) = an.step(prev, Iterator.single(r))
      prev = Some(next)
      out
    }
    assert(split == whole)
    whole
  }

  private def ev(x: Any, s: String, ts: Long): Row = Row("d1", x, s, ts)

  test("lag(x, 3) with ignoreNull and WHEN-gated replay continue across batches") {
    val out = sameAcrossBatches(
      Seq(call("lag", id("x"), NumberLit("3"), NullLit, BoolLit(true)),
        gated(call("acc_sum", id("x")), BinOp(">", id("x"), NumberLit("2")))),
      Seq(ev(1.0, "a", 1), ev(null, "a", 2), ev(3.0, "a", 3), ev(1.5, "b", 4),
        ev(5.0, "b", 5), ev(0.5, "b", 6)))
    // lag skips the null: the third non-null value back
    assert(out.map(_.get(4)) == Seq(null, null, null, null, 1.0, 3.0))
    // acc_sum only runs when x > 2, replaying its last result otherwise
    assert(out.map(_.get(5)) == Seq(null, null, 3.0, 3.0, 8.0, 8.0))
  }

  test("a user analytic's own state advances across a decode and encode") {
    graft.functions.FunctionMap.registerAnalytic("run_mean_codec", () => new RunningMean)
    try {
      val out = sameAcrossBatches(Seq(call("run_mean_codec", id("x"))),
        Seq(ev(2.0, "a", 1), ev(4.0, "a", 2), ev(9.0, "a", 3)))
      assert(out.map(_.getDouble(4)) == Seq(2.0, 3.0, 5.0))
    } finally graft.functions.FunctionMap.unregisterAnalytic("run_mean_codec")
  }

  test("the benchmark rule's per-key state encodes in at most 64 bytes") {
    // lag(temperature), had_changed(true, status), acc_sum(temperature)
    val codec = new AnStateCodec(Seq(
      call("lag", id("x")), call("had_changed", BoolLit(true), id("s")),
      call("acc_sum", id("x"))))
    val st = codec.fresh()
    st(0).lagBuf = Vector(21.7)
    st(1).seen = true; st(1).prevVals = Vector("fault")
    st(2).started = true; st(2).acc.add(21.7); st(2).acc.add(19.3)
    val n = codec.encode(st).length
    assert(n <= 64, s"$n bytes")
  }

  test("bytes of another layout or of the kryo map fail, never decode") {
    val lagThenAcc = new AnStateCodec(Seq(call("lag", id("x")), call("acc_sum", id("x"))))
    val accThenLag = new AnStateCodec(Seq(call("acc_sum", id("x")), call("lag", id("x"))))
    val st = lagThenAcc.fresh()
    st(0).lagBuf = Vector(1.0); st(1).started = true; st(1).acc.add(1.0)
    val bytes = lagThenAcc.encode(st)
    intercept[IllegalStateException](accThenLag.decode(bytes))
    intercept[IllegalStateException](lagThenAcc.decode(bytes :+ 0.toByte))
    intercept[IllegalStateException](lagThenAcc.decode(bytes.dropRight(1)))
    // the value the kryo-encoded map state held before this codec
    val kryo = new org.apache.spark.serializer.KryoSerializer(new org.apache.spark.SparkConf())
      .newInstance().serialize(Map("__an_0" -> AnState(lagBuf = Vector(1.0)),
        "__an_1" -> AnState(started = true))).array()
    intercept[IllegalStateException](lagThenAcc.decode(kryo))
  }
}
