package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** The reference's time envelope, `struct flb_time { tv_sec, tv_nsec }`
  * (`include/fluent-bit/flb_time.h:30-38`), as a Spark column:
  * `struct<sec:long, nsec:int>`.
  *
  * Spark's `TimestampType` is µs — carrying the envelope as a struct keeps
  * NANOSECOND fidelity end-to-end (SURVEY §1.3) while [[toTimestamp]]
  * derives the µs instant for windowing/joins (truncating, exactly like
  * `flb_time_to_double`'s consumers).
  *
  * The scalar [[packEventTime]]/[[unpackEventTime]] pair implements the
  * Fluentd EventTime wire format the reference speaks
  * (`src/flb_time.c:102-170`): msgpack fixext8, ext type 0, payload =
  * big-endian uint32 seconds ++ big-endian uint32 nanoseconds.
  */
object FlbTime {

  /** The envelope's type. */
  val Type: StructType =
    StructType(Seq(StructField("sec", LongType), StructField("nsec", IntegerType)))

  /** Build the envelope from second/nanosecond columns. */
  def apply(sec: Column, nsec: Column): Column =
    struct(sec.cast("long").as("sec"), nsec.cast("int").as("nsec"))

  private def longDiv(a: Column, b: Long): Column = Arith.longDiv(a, b)

  /** Envelope from a µs count (ns = µs remainder × 1000; flooring division
    * keeps pre-epoch instants correct) — the inverse FlbTimeSpec
    * round-trips `toMicros` through (spec cross-check).
    */
  private[graft] def fromMicros(us: Column): Column = {
    val m = pmod(us, lit(1000000L))
    apply(longDiv(us - m, 1000000L), m * 1000L)
  }

  /** µs count — ns truncated (Spark's native resolution). */
  def toMicros(t: Column): Column =
    t.getField("sec") * 1000000L + longDiv(t.getField("nsec"), 1000L)

  /** Derived µs timestamp for windowing. */
  def toTimestamp(t: Column): Column = timestamp_micros(toMicros(t))

  // ---- Fluentd EventTime fixext8 (scalar; flb_time.c:102-170) -----------

  /** msgpack fixext8 header byte + ext type 0. */
  private val FixExt8: Byte = 0xd7.toByte

  /** Serialize (sec, nsec) as the 10-byte EventTime ext value:
    * `[0xd7, 0x00, sec_be32, nsec_be32]` — both fields uint32
    * (`htonl((uint32_t)…)`, `flb_time.c:128-136`).
    */
  def packEventTime(sec: Long, nsec: Long): Array[Byte] = {
    val out = new Array[Byte](10)
    out(0) = FixExt8
    out(1) = 0 // ext type 0 = EventTime
    var i = 0
    while (i < 4) {
      out(2 + i) = ((sec >>> (24 - 8 * i)) & 0xff).toByte
      out(6 + i) = ((nsec >>> (24 - 8 * i)) & 0xff).toByte
      i += 1
    }
    out
  }

  /** Inverse of [[packEventTime]] — fields decoded UNSIGNED
    * (`(uint32_t)ntohl`, `flb_time.c:166-170`). Returns null-equivalent
    * exception on a non-EventTime buffer.
    */
  def unpackEventTime(bytes: Array[Byte]): (Long, Long) = {
    require(bytes.length == 10 && bytes(0) == FixExt8 && bytes(1) == 0,
      "not a fixext8 EventTime")
    def be32(off: Int): Long = {
      var v = 0L
      var i = 0
      while (i < 4) { v = (v << 8) | (bytes(off + i) & 0xffL); i += 1 }
      v
    }
    (be32(2), be32(6))
  }
}
