package graft.sinks

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftShim}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.FlbTime

/** Fluentd Forward-protocol WIRE FORMAT (the compute half of the
  * reference's `out_forward` — the TCP/TLS socket itself stays a declared
  * network non-goal, SURVEY §2.6):
  *
  *   frame  = msgpack `[tag:str, [entry, …]]`
  *            (`plugins/out_forward/forward.c:575-578`)
  *   entry  = `[time, record-map]` where time is the EventTime fixext8
  *            (default; `flb_time_append_to_msgpack`, `src/flb_time.c:
  *            102-146`) or a plain integer when `Time_as_Integer On`
  *            (`forward.c:491-493`).
  *
  * Minimal-size encodings like msgpack-c's pack templates (fixstr/str8/16/
  * 32, positive fixint/uint8/16/32/64, fixmap/map16/32, fixarray/array16/
  * 32). Records are the engine's `map<string,string>` carrier.
  */
object Msgpack {

  def packStr(out: ByteArrayOutputStream, s: Array[Byte]): Unit = {
    val n = s.length
    if (n < 32) out.write(0xa0 | n)
    else if (n < 256) { out.write(0xd9); out.write(n) }
    else if (n < 65536) { out.write(0xda); out.write(n >> 8); out.write(n & 0xff) }
    else { out.write(0xdb); writeBe32(out, n.toLong) }
    out.write(s, 0, n)
  }

  def packUint(out: ByteArrayOutputStream, v: Long): Unit = {
    require(v >= 0, s"uint expected, got $v")
    if (v < 128) out.write(v.toInt)
    else if (v < 256) { out.write(0xcc); out.write(v.toInt) }
    else if (v < 65536) { out.write(0xcd); out.write((v >> 8).toInt); out.write((v & 0xff).toInt) }
    else if (v < 4294967296L) { out.write(0xce); writeBe32(out, v) }
    else { out.write(0xcf); writeBe32(out, v >>> 32); writeBe32(out, v & 0xffffffffL) }
  }

  def packMapHeader(out: ByteArrayOutputStream, n: Int): Unit =
    if (n < 16) out.write(0x80 | n)
    else if (n < 65536) { out.write(0xde); out.write(n >> 8); out.write(n & 0xff) }
    else { out.write(0xdf); writeBe32(out, n.toLong) }

  def packArrayHeader(out: ByteArrayOutputStream, n: Int): Unit =
    if (n < 16) out.write(0x90 | n)
    else if (n < 65536) { out.write(0xdc); out.write(n >> 8); out.write(n & 0xff) }
    else { out.write(0xdd); writeBe32(out, n.toLong) }

  private def writeBe32(out: ByteArrayOutputStream, v: Long): Unit = {
    out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
    out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
  }

  /** Pack a `map<string,string>` record (null values → msgpack nil). The
    * ONE shared serialization of the engine's record carrier — the forward
    * entry and the ES Generate_ID hash input both use it, so the layout
    * can't drift between them. `keyXform = null` keeps the zero-copy
    * UTF8String key path (the forward hot path); a non-null transform
    * (ES dot-sanitize) goes through String.
    */
  def packRecord(out: ByteArrayOutputStream, rec: MapData,
                 keyXform: String => String = null): Unit = {
    packMapHeader(out, rec.numElements())
    packRecordContent(out, rec, keyXform)
  }

  /** Record key/value pairs WITHOUT the map header — for callers that pack
    * extra entries under one header (es.c's Generate_ID buffer packs the
    * time key + optional tag key before the record content under a
    * `map_size + 1 (+1)` header, es.c:229-276).
    */
  def packRecordContent(out: ByteArrayOutputStream, rec: MapData,
                        keyXform: String => String = null): Unit = {
    val n = rec.numElements()
    val ks = rec.keyArray()
    val vs = rec.valueArray()
    var i = 0
    while (i < n) {
      if (keyXform == null) packStr(out, ks.getUTF8String(i).getBytes)
      else packStr(out, keyXform(ks.getUTF8String(i).toString)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (vs.isNullAt(i)) out.write(0xc0)
      else packStr(out, vs.getUTF8String(i).getBytes)
      i += 1
    }
  }
}

/** One forward entry `[time, record]` as a binary column value. */
case class ForwardEntry(first: Expression, second: Expression, third: Expression,
                        timeAsInteger: Boolean)
    extends TernaryExpression {
  // children: (sec: long, nsec: int, record: map<string,string>)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  def convert(sec: Long, nsec: Int, rec: MapData): Array[Byte] = {
    val out = new ByteArrayOutputStream(64)
    Msgpack.packArrayHeader(out, 2)
    if (timeAsInteger) Msgpack.packUint(out, sec) // forward.c:491-493
    else out.write(FlbTime.packEventTime(sec, nsec.toLong & 0xffffffffL), 0, 10)
    Msgpack.packRecord(out, rec)
    out.toByteArray
  }

  override def nullSafeEval(sec: Any, nsec: Any, rec: Any): Any =
    convert(sec.asInstanceOf[Long], nsec.asInstanceOf[Int], rec.asInstanceOf[MapData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fe", this, classOf[ForwardEntry].getName)
    nullSafeCodeGen(ctx, ev, (s, n, r) =>
      s"${ev.value} = $ref.convert($s, $n, $r);")
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** The full frame `[tag, entries]` from a tag and an array of
  * already-encoded entry buffers.
  */
case class ForwardFrame(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  def convert(tag: UTF8String, entries: ArrayData): Array[Byte] = {
    val out = new ByteArrayOutputStream(256)
    Msgpack.packArrayHeader(out, 2)           // forward.c:575
    Msgpack.packStr(out, tag.getBytes)        // :576-577
    val n = entries.numElements()
    Msgpack.packArrayHeader(out, n)           // :578
    var i = 0
    while (i < n) {
      val e = entries.getBinary(i)
      out.write(e, 0, e.length)
      i += 1
    }
    out.toByteArray
  }

  override def nullSafeEval(tag: Any, entries: Any): Any =
    convert(tag.asInstanceOf[UTF8String], entries.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ff", this, classOf[ForwardFrame].getName)
    nullSafeCodeGen(ctx, ev, (t, e) => s"${ev.value} = $ref.convert($t, $e);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Decoder for the same subset — the compute half of `in_forward`
  * (`plugins/in_forward/fw_prot.c` unpacks exactly these shapes off the
  * socket; here the frames come from a binary column).
  */
object MsgpackDecode {

  final class Cursor(val b: Array[Byte]) { var i: Int = 0 }

  private def u8(c: Cursor): Int = { val v = c.b(c.i) & 0xff; c.i += 1; v }
  private def beN(c: Cursor, n: Int): Long = {
    var v = 0L
    var k = 0
    while (k < n) { v = (v << 8) | (c.b(c.i + k) & 0xffL); k += 1 }
    c.i += n
    v
  }

  def readArrayHeader(c: Cursor): Int = u8(c) match {
    case h if (h & 0xf0) == 0x90 => h & 0x0f
    case 0xdc => beN(c, 2).toInt
    case 0xdd => beN(c, 4).toInt
    case h => throw new IllegalArgumentException(f"not an array header: 0x$h%02x")
  }

  def readMapHeader(c: Cursor): Int = u8(c) match {
    case h if (h & 0xf0) == 0x80 => h & 0x0f
    case 0xde => beN(c, 2).toInt
    case 0xdf => beN(c, 4).toInt
    case h => throw new IllegalArgumentException(f"not a map header: 0x$h%02x")
  }

  /** String or nil (→ null). */
  def readStr(c: Cursor): String = {
    val n = u8(c) match {
      case 0xc0 => return null // msgpack nil
      case h if (h & 0xe0) == 0xa0 => h & 0x1f
      case 0xd9 => u8(c)
      case 0xda => beN(c, 2).toInt
      case 0xdb => beN(c, 4).toInt
      case h => throw new IllegalArgumentException(f"not a str header: 0x$h%02x")
    }
    val s = new String(c.b, c.i, n, java.nio.charset.StandardCharsets.UTF_8)
    c.i += n
    s
  }

  /** EventTime (fixext8 OR ext8 — the reference accepts both,
    * `flb_time_pop_from_msgpack` via msgpack EXT) or integer epoch →
    * (sec, nsec).
    */
  def readTime(c: Cursor): (Long, Long) = (c.b(c.i) & 0xff) match {
    case 0xd7 =>
      val (s, n) = FlbTime.unpackEventTime(java.util.Arrays.copyOfRange(c.b, c.i, c.i + 10))
      c.i += 10
      (s, n)
    case 0xc7 if (c.b(c.i + 1) & 0xff) == 8 && c.b(c.i + 2) == 0 =>
      // ext8 form: 0xc7 len=8 type=0 then the same 8-byte payload
      c.i += 3
      val s = beN(c, 4)
      val n = beN(c, 4)
      (s, n)
    case h if h < 0x80 => c.i += 1; (h.toLong, 0L)
    case 0xcc => c.i += 1; (u8(c).toLong, 0L)
    case 0xcd => c.i += 1; (beN(c, 2), 0L)
    case 0xce => c.i += 1; (beN(c, 4), 0L)
    case 0xcf => c.i += 1; (beN(c, 8), 0L)
    case h => throw new IllegalArgumentException(f"not a time: 0x$h%02x")
  }

  final case class Entry(sec: Long, nsec: Long, record: Map[String, String])

  private def unpackFrameAt(c: Cursor): (String, Seq[Entry]) = {
    require(readArrayHeader(c) == 2, "frame must be a 2-array")
    val tag = readStr(c)
    val n = readArrayHeader(c)
    val entries = (0 until n).map { _ =>
      require(readArrayHeader(c) == 2, "entry must be a 2-array")
      val (sec, nsec) = readTime(c)
      val m = readMapHeader(c)
      val rec = (0 until m).map { _ =>
        val k = readStr(c)
        // a msgpack nil KEY would become a null Scala map key, which
        // Spark's map encoder rejects — reject the frame here so the
        // lenient path treats a crafted frame as undecodable instead of
        // letting it crash the ingest job downstream
        require(k != null, "nil record key")
        k -> readStr(c)
      }.toMap
      Entry(sec, nsec, rec)
    }
    (tag, entries)
  }

  /** Unpack a full frame `[tag, [[time, record]…]]`. */
  def unpackFrame(bytes: Array[Byte]): (String, Seq[Entry]) = {
    val c = new Cursor(bytes)
    val f = unpackFrameAt(c)
    require(c.i == bytes.length, s"trailing bytes: ${bytes.length - c.i}")
    f
  }

  /** Unpack a STREAM of concatenated frames from UNTRUSTED wire bytes —
    * the shape a forward-protocol socket connection delivers (msgpack
    * objects are self-delimiting, so the wire needs no extra framing;
    * `fw_prot.c` likewise iterates msgpack_unpack_next over the connection
    * buffer): frames decoded up to the first malformed or cut position,
    * plus the count of skipped tail bytes. `fw_prot.c` likewise drops a bad connection's remainder and
    * keeps the engine running — a garbage payload (port scanner, wrong
    * protocol) must not fail a distributed decode job.
    */
  def unpackFramesLenient(bytes: Array[Byte]): (Seq[(String, Seq[Entry])], Long) = {
    val c = new Cursor(bytes)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Entry])]
    var good = 0
    try {
      while (c.i < bytes.length) {
        out += unpackFrameAt(c)
        good = c.i
      }
    } catch {
      case _: IllegalArgumentException | _: IndexOutOfBoundsException |
           _: NegativeArraySizeException => ()
    }
    (out.toSeq, (bytes.length - good).toLong)
  }
}

object Forward {

  final case class ForwardRow(tag: String, sec: Long, nsec: Long,
                              record: Map[String, String])

  /** Inverse of [[frames]]: a binary frame column → one row per entry —
    * the `in_forward` ingest shape without the socket.
    */
  def parseFrames(df: DataFrame, frameCol: String): Dataset[ForwardRow] = {
    import df.sparkSession.implicits._
    df.select(col(frameCol)).as[Array[Byte]].flatMap { bytes =>
      val (tag, entries) = MsgpackDecode.unpackFrame(bytes)
      entries.map(e => ForwardRow(tag, e.sec, e.nsec, e.record))
    }
  }

  /** Per-row entry bytes. */
  def entry(sec: Column, nsec: Column, record: Column,
            timeAsInteger: Boolean = false): Column =
    GraftShim.column(ForwardEntry(
      GraftShim.expression(sec.cast("long")), GraftShim.expression(nsec.cast("int")),
      GraftShim.expression(record), timeAsInteger))

  /** Frame bytes from a tag and collected entry buffers. */
  def frame(tag: Column, entries: Column): Column =
    GraftShim.column(ForwardFrame(
      GraftShim.expression(tag), GraftShim.expression(entries)))

  /** Frame per (tag [, batch…]): rows → `(tag, n_entries, frame:binary)`.
    * Entries inside a frame are ordered by `orderCol` (the reference
    * frames a CHUNK, whose rows are already in arrival order — an
    * explicit sort key keeps Spark frames deterministic). Pass extra
    * `batchCols` (e.g. `spark_partition_id()`) to bound frame size at
    * scale: the reference never frames a whole stream either, it frames
    * per chunk flush.
    */
  def frames(df: DataFrame, tagCol: String, secCol: String, nsecCol: String,
             recordCol: String, orderCol: String,
             timeAsInteger: Boolean = false,
             batchCols: Seq[Column] = Nil): DataFrame = {
    val e = entry(col(secCol), col(nsecCol), col(recordCol), timeAsInteger)
    df.withColumn("_o", col(orderCol)).withColumn("_e", e)
      .groupBy(col(tagCol).as("tag") +: batchCols: _*)
      .agg(count(lit(1)).as("n_entries"),
        transform(array_sort(collect_list(struct(col("_o"), col("_e")))),
          x => x.getField("_e")).as("_es"))
      .withColumn("frame", frame(col("tag"), col("_es")))
      .drop("_es")
  }
}
