package graft.streaming

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream,
  ObjectOutputStream, ObjectStreamClass}
import java.nio.{BufferUnderflowException, ByteBuffer}
import java.nio.charset.StandardCharsets.UTF_8

import graft.sql.FuncCall

/** The state one key of a streaming analytics query keeps between
  * micro-batches: the bytes of [[AnStateCodec]].
  *
  * The bytes sit in a one-field struct on purpose. Spark's state-schema
  * check compares types and ignores field names, and a bare binary value
  * has the same schema as a kryo-encoded one; the struct makes a
  * checkpoint written with kryo-encoded analytics state fail that check at
  * query start instead of reaching the decoder. */
final case class AnBytes(bytes: Array[Byte])

/** Positional byte codec for the per-call analytic states of one query,
  * built once from its call list. Each call writes only the fields its
  * kind reads, in call order:
  *
  *  - `lag`: the buffer (a count, then its values);
  *  - `latest`: the value;
  *  - `acc_*`: `started`, then nonNull / sum / min / max once started;
  *  - `had_changed` / `changed_col`: `seen`, then the previous values once seen;
  *  - a user analytic: its [[graft.functions.CustomAnalytic]] instance
  *    (null until the first ungated event creates it);
  *  - and, ahead of these, the last result for a WHEN-gated call, which
  *    replays it while the gate is closed.
  *
  * A value carries a one-byte tag: null, int, long, double (raw bits, so
  * NaN payloads and -0.0 survive), UTF-8 string with an int length, or
  * boolean. Any other type goes through Java serialization.
  *
  * The first byte is a fingerprint of the layout (kind and gating per
  * call), and decoding checks every tag and that the bytes end where the
  * layout does, so bytes written for another layout fail loudly rather
  * than decode as wrong state. */
private[streaming] final class AnStateCodec(calls: Seq[FuncCall]) extends Serializable {
  import AnStateCodec._

  private val kinds: Array[Int] = calls.map(fc => kindOf(fc.lname)).toArray
  private val gated: Array[Boolean] = calls.map(_.over.exists(_.when.isDefined)).toArray
  private val header: Byte =
    scala.util.hashing.MurmurHash3.orderedHash(kinds.toSeq.zip(gated.toSeq)).toByte

  /** Fresh states, one per call. */
  def fresh(): Array[StatefulOps.AnState] = Array.fill(kinds.length)(StatefulOps.AnState())

  def encode(states: Array[StatefulOps.AnState]): Array[Byte] = {
    val out = new Out
    out.byte(header)
    var i = 0
    while (i < kinds.length) {
      val st = states(i)
      if (gated(i)) out.value(st.lastResult)
      kinds(i) match {
        case Lag =>
          out.varint(st.lagBuf.size)
          st.lagBuf.foreach(out.value)
        case Latest => out.value(st.latest)
        case Acc =>
          out.bool(st.started)
          if (st.started) {
            out.long(st.acc.nonNull)
            out.double(st.acc.sum); out.double(st.acc.min); out.double(st.acc.max)
          }
        case Changed =>
          out.bool(st.seen)
          if (st.seen) {
            out.varint(st.prevVals.size)
            st.prevVals.foreach(out.value)
          }
        case _ => out.value(st.custom)
      }
      i += 1
    }
    out.result()
  }

  def decode(bytes: Array[Byte]): Array[StatefulOps.AnState] = {
    val in = ByteBuffer.wrap(bytes)
    try {
      if (in.get() != header) mismatch("layout fingerprint differs")
      val states = fresh()
      var i = 0
      while (i < kinds.length) {
        val st = states(i)
        if (gated(i)) st.lastResult = readValue(in)
        kinds(i) match {
          case Lag => st.lagBuf = Vector.fill(readVarint(in))(readValue(in))
          case Latest => st.latest = readValue(in)
          case Acc =>
            st.started = readBool(in)
            if (st.started) {
              st.acc.nonNull = in.getLong
              st.acc.sum = in.getDouble; st.acc.min = in.getDouble; st.acc.max = in.getDouble
            }
          case Changed =>
            st.seen = readBool(in)
            if (st.seen) st.prevVals = Vector.fill(readVarint(in))(readValue(in))
          case _ => st.custom = readValue(in)
        }
        i += 1
      }
      if (in.hasRemaining) mismatch(s"${in.remaining} trailing bytes")
      states
    } catch {
      case e: BufferUnderflowException => throw mismatchError("bytes end early", e)
    }
  }
}

private[streaming] object AnStateCodec {
  private final val Lag = 0
  private final val Latest = 1
  private final val Acc = 2
  private final val Changed = 3
  private final val Custom = 4

  private def kindOf(lname: String): Int = lname match {
    case "lag" => Lag
    case "latest" => Latest
    case a if a.startsWith("acc_") => Acc
    case "had_changed" | "changed_col" => Changed
    case _ => Custom
  }

  private final val TNull = 0
  private final val TInt = 1
  private final val TLong = 2
  private final val TDouble = 3
  private final val TString = 4
  private final val TFalse = 5
  private final val TTrue = 6
  private final val TJava = 7

  private def mismatchError(why: String, cause: Throwable = null) =
    new IllegalStateException(
      s"streaming analytics state does not match this query's calls ($why); " +
        "restart the query from a fresh checkpoint", cause)

  private def mismatch(why: String): Nothing = throw mismatchError(why)

  /** Growable big-endian output buffer. */
  private final class Out {
    private var buf = new Array[Byte](64)
    private var n = 0
    private def room(k: Int): Unit =
      if (n + k > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, n + k))
    def byte(b: Int): Unit = { room(1); buf(n) = b.toByte; n += 1 }
    def bool(b: Boolean): Unit = byte(if (b) 1 else 0)
    def int(v: Int): Unit = {
      room(4)
      buf(n) = (v >>> 24).toByte; buf(n + 1) = (v >>> 16).toByte
      buf(n + 2) = (v >>> 8).toByte; buf(n + 3) = v.toByte
      n += 4
    }
    def long(v: Long): Unit = { int((v >>> 32).toInt); int(v.toInt) }
    def double(d: Double): Unit = long(java.lang.Double.doubleToRawLongBits(d))
    def varint(v: Int): Unit = {
      var x = v
      while ((x & ~0x7f) != 0) { byte((x & 0x7f) | 0x80); x >>>= 7 }
      byte(x)
    }
    def bytes(a: Array[Byte]): Unit = {
      int(a.length); room(a.length)
      System.arraycopy(a, 0, buf, n, a.length); n += a.length
    }
    def value(v: Any): Unit = v match {
      case null => byte(TNull)
      case i: Int => byte(TInt); int(i)
      case l: Long => byte(TLong); long(l)
      case d: Double => byte(TDouble); double(d)
      case s: String => byte(TString); bytes(s.getBytes(UTF_8))
      case b: Boolean => byte(if (b) TTrue else TFalse)
      case o =>
        val bos = new ByteArrayOutputStream
        val oos = new ObjectOutputStream(bos)
        oos.writeObject(o); oos.close()
        byte(TJava); bytes(bos.toByteArray)
    }
    def result(): Array[Byte] = java.util.Arrays.copyOf(buf, n)
  }

  private def readBool(in: ByteBuffer): Boolean = in.get().toInt match {
    case 0 => false
    case 1 => true
    case b => mismatch(s"boolean byte $b")
  }

  private def readVarint(in: ByteBuffer): Int = {
    var x = 0; var shift = 0; var b = 0
    while ({ b = in.get(); x |= (b & 0x7f) << shift; shift += 7; (b & 0x80) != 0 })
      if (shift > 28) mismatch("varint too long")
    x
  }

  private def readBytes(in: ByteBuffer): Array[Byte] = {
    val len = in.getInt
    if (len < 0 || len > in.remaining) mismatch(s"length $len")
    val a = new Array[Byte](len); in.get(a); a
  }

  private def readValue(in: ByteBuffer): Any = in.get().toInt match {
    case TNull => null
    case TInt => in.getInt
    case TLong => in.getLong
    case TDouble => in.getDouble
    case TString => new String(readBytes(in), UTF_8)
    case TFalse => false
    case TTrue => true
    case TJava =>
      val ois = new LoaderInput(new ByteArrayInputStream(readBytes(in)))
      try ois.readObject() finally ois.close()
    case t => mismatch(s"value tag $t")
  }

  /** Resolves classes through the task's context loader, which sees the
    * application's jars (user analytics and their values), before the
    * default loader. */
  private final class LoaderInput(in: java.io.InputStream) extends ObjectInputStream(in) {
    override def resolveClass(d: ObjectStreamClass): Class[_] =
      try Class.forName(d.getName, false, Thread.currentThread.getContextClassLoader)
      catch { case _: ClassNotFoundException => super.resolveClass(d) }
  }
}
