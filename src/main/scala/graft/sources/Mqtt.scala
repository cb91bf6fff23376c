package graft.sources

import java.net.{ServerSocket, Socket}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

/** One decoded PUBLISH per row — the distributed-decode face used by the
  * `fb_mqtt_roundtrip` oracle query (top-level: Dataset encoders require
  * it). `clean` = exactly one packet, fully consumed, no codec error.
  */
final case class MqttPublishRow(seq: Long, topic: String, qos: Int,
                                packet_id: Int, payload: String, clean: Boolean)

/** `in_mqtt` face — the reference's embedded MQTT 3.1.1 broker-side
  * listener (`plugins/in_mqtt/mqtt_prot.c`): clients CONNECT, the broker
  * CONNACKs, PUBLISH payloads are parsed as JSON maps and become records
  * with the topic prepended under the `topic` key
  * (`mqtt_prot.c:112-174` `mqtt_data_append`), PINGREQ gets PINGRESP,
  * DISCONNECT hangs up. QoS 1/2 publishes are acknowledged with
  * PUBACK/PUBREC (`mqtt_prot.c:214-244`).
  *
  * Split like the other socket faces: a PURE codec (packet encode/decode
  * over byte arrays — spec- and oracle-checkable, and the decode runs
  * DISTRIBUTED in the `fb_mqtt_*` queries) plus a thin driver-side
  * [[Broker]] that speaks the reply side over live sockets. The broker
  * buffers on the driver like the reference's single event loop; the
  * distributed pipeline starts at the drained batch (same disclosed
  * design limit as [[NetworkSources]]).
  */
object Mqtt {

  // Control packet types — mqtt_prot.h:30-39
  val CONNECT = 1
  val CONNACK = 2
  val PUBLISH = 3
  val PUBACK = 4
  val PUBREC = 5
  val PINGREQ = 12
  val PINGRESP = 13
  val DISCONNECT = 14

  /** `mqtt_packet_header` (mqtt_prot.c:84-108): type nibble in the high
    * bits, then the remaining-length varint (7 bits per byte, MSB =
    * continuation).
    */
  def packetHeader(tpe: Int, length: Int): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer[Byte]((tpe << 4).toByte)
    var len = length
    var continue = true
    while (continue) {
      var byte = len % 128
      len /= 128
      if (len > 0) byte |= 128 else continue = false
      out += byte.toByte
    }
    out.toArray
  }

  /** CONNACK reply (mqtt_handle_connect, mqtt_prot.c:176-196): 4 bytes
    * `20 02 01 00`. The reference sets the session-present bit
    * unconditionally (`BIT_SET(buf[i], 0)` on the flags byte) — mirrored
    * verbatim, wire-compatible with what a reference client observes.
    */
  val connackBytes: Array[Byte] = Array(0x20, 0x02, 0x01, 0x00).map(_.toByte)

  /** PUBACK (QoS 1) / PUBREC (QoS 2) reply (mqtt_handle_publish,
    * mqtt_prot.c:231-243). DOCUMENTED REFERENCE QUIRK, mirrored verbatim:
    * the reply's 2 identifier bytes are `(id & 0xf0) >> 4` and `id & 0xf`
    * — the LOW byte's nibbles, not the MQTT-spec 16-bit big-endian echo.
    */
  def pubResponseBytes(qos: Int, packetId: Int): Array[Byte] = {
    val h = packetHeader(if (qos == 1) PUBACK else PUBREC, 2)
    Array(h(0), h(1), ((packetId & 0xf0) >> 4).toByte, (packetId & 0xf).toByte)
  }

  /** PINGRESP reply (mqtt_handle_ping, mqtt_prot.c:259-272): the
    * reference writes only the 2 header bytes `d0 02`.
    */
  val pingRespBytes: Array[Byte] = Array(0xd0, 0x02).map(_.toByte)

  // ---- client-side encoders (PUBLISH for the oracle queries; the rest
  //      are the client packets MqttSpec sends; the reference is
  //      broker-only, so these follow the MQTT 3.1.1 spec layouts its
  //      clients send)

  private def str16(s: String): Array[Byte] = {
    val b = s.getBytes("UTF-8")
    Array(((b.length >> 8) & 0xff).toByte, (b.length & 0xff).toByte) ++ b
  }

  /** Minimal well-formed CONNECT (protocol name MQTT, level 4, clean
    * session, no will/auth).
    */
  private[graft] def connectBytes(clientId: String = "graft"): Array[Byte] = {
    val vh = str16("MQTT") ++ Array[Byte](4, 2, 0, 60) ++ str16(clientId)
    packetHeader(CONNECT, vh.length) ++ vh
  }

  /** A PUBLISH control packet: fixed header `3 << 4 | qos << 1`, topic,
    * a 2-byte packet id when qos > 0, then the payload (the byte layout
    * `mqtt_handle_publish` walks, mqtt_prot.c:199-256).
    */
  def publishBytes(topic: String, payload: Array[Byte], qos: Int = 0,
                   packetId: Int = 0): Array[Byte] = {
    val t = str16(topic)
    val pid = if (qos > 0)
      Array(((packetId >> 8) & 0xff).toByte, (packetId & 0xff).toByte)
    else Array.empty[Byte]
    val body = t ++ pid ++ payload
    val head = packetHeader(PUBLISH, body.length)
    head(0) = (head(0) | (qos << 1)).toByte
    head ++ body
  }

  private[graft] def pingReqBytes: Array[Byte] = packetHeader(PINGREQ, 0)
  private[graft] def disconnectBytes: Array[Byte] = packetHeader(DISCONNECT, 0)

  // ---- decode

  sealed trait Packet { def tpe: Int }
  final case class Publish(topic: String, qos: Int, packetId: Int,
                           payload: Array[Byte]) extends Packet {
    def tpe: Int = PUBLISH
  }
  final case class Control(tpe: Int) extends Packet

  /** Decode complete control packets from the front of `bytes`
    * (mqtt_prot_parser, mqtt_prot.c:276-388). Lenient like the C loop:
    * a truncated tail is left unconsumed (`MQTT_MORE` — the caller keeps
    * it buffered for the next read); a PUBLISH whose topic/id fields
    * overrun the packet poisons the connection (`MQTT_ERROR` →
    * error=true, decoding stops). Returns (packets, bytesConsumed,
    * error).
    *
    * DOCUMENTED REFERENCE QUIRK, mirrored verbatim (mqtt_prot.c:318-321
    * checks `mult > 128*128*128` AFTER multiplying, BEFORE looking at
    * the continuation bit): the 4th remaining-length byte always errors,
    * so the largest decodable packet body is 2 MiB − 1 (3 varint bytes)
    * even though the MQTT spec allows 4. [[packetHeader]] can EMIT the
    * spec-valid 4-byte form — a client using it against this broker (or
    * the reference) gets its connection poisoned at 2 MiB, exactly as a
    * reference client would.
    */
  def decode(bytes: Array[Byte]): (Seq[Packet], Int, Boolean) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Packet]
    var pos = 0
    while (pos < bytes.length) {
      val start = pos
      if (bytes.length - pos < 2) return (out.toSeq, start, false)
      val tpe = (bytes(pos) & 0xff) >> 4
      val flags = bytes(pos) & 0x0f
      pos += 1
      // remaining-length varint
      var mult = 1
      var length = 0
      var continue = true
      while (continue) {
        if (pos >= bytes.length) return (out.toSeq, start, false)
        val b = bytes(pos) & 0xff
        length += (b & 127) * mult
        mult *= 128
        if (mult > 128 * 128 * 128) return (out.toSeq, start, true)
        pos += 1
        continue = (b & 128) != 0
      }
      if (bytes.length - pos < length) return (out.toSeq, start, false)
      val end = pos + length
      if (tpe == PUBLISH) {
        val qos = (flags >> 1) & 0x03
        if (end - pos < 2) return (out.toSeq, start, true)
        val tlen = ((bytes(pos) & 0xff) << 8) | (bytes(pos + 1) & 0xff)
        pos += 2
        if (end - pos < tlen + (if (qos > 0) 2 else 0))
          return (out.toSeq, start, true)
        val topic = new String(bytes, pos, tlen, "UTF-8")
        pos += tlen
        var pid = 0
        if (qos > 0) {
          pid = ((bytes(pos) & 0xff) << 8) | (bytes(pos + 1) & 0xff)
          pos += 2
        }
        out += Publish(topic, qos, pid,
          java.util.Arrays.copyOfRange(bytes, pos, end))
      } else out += Control(tpe)
      pos = end
    }
    (out.toSeq, pos, false)
  }

  /** Bytes the FIRST packet in `buf[0..len)` needs before it can decode,
    * or None while its header/varint is still incomplete. A varint the
    * decoder will reject returns a small Some so decode runs immediately
    * and poisons the connection. Lets [[Broker]] skip decode attempts
    * until a whole packet arrived — without the peek, a multi-MB publish
    * arriving in 8 KB reads would re-copy the accumulation per read.
    */
  private[sources] def neededLength(buf: Array[Byte], len: Int): Option[Int] = {
    if (len < 2) return None
    var pos = 1
    var mult = 1
    var length = 0
    var continue = true
    while (continue) {
      if (pos >= len) return None
      val b = buf(pos) & 0xff
      length += (b & 127) * mult
      mult *= 128
      if (mult > 128 * 128 * 128) return Some(pos + 1) // decode() errors here
      pos += 1
      continue = (b & 128) != 0
    }
    Some(pos + length)
  }

  // ---- live broker

  /** Bind the broker (port 0 → ephemeral; reference default 1883,
    * mqtt_config.c:52-58).
    */
  def broker(port: Int = 0, maxConnBytes: Int = 16 << 20): Broker =
    new Broker(new ServerSocket(port), maxConnBytes)

  final class Broker private[sources] (ss: ServerSocket, maxConnBytes: Int) {
    val port: Int = ss.getLocalPort
    private val msgs = new ConcurrentLinkedQueue[(String, Array[Byte])]()
    private val openSockets = new ConcurrentLinkedQueue[Socket]()
    @volatile private var lastActivity = System.nanoTime()
    private val started = new CountDownLatch(1)
    private val acceptor = new Thread(() => {
      started.countDown()
      try {
        while (!ss.isClosed) {
          val s = ss.accept()
          openSockets.add(s)
          val t = new Thread(() => handle(s))
          t.setDaemon(true)
          t.start()
        }
      } catch { case _: java.net.SocketException => () } // closed
    }, s"graft-mqtt-$port")
    acceptor.setDaemon(true)
    acceptor.start()
    started.await()

    private def handle(s: Socket): Unit = {
      try {
        val in = s.getInputStream
        val outS = s.getOutputStream
        // growable buffer with front-compaction: immutable `buf ++ chunk`
        // plus `drop(consumed)` would re-copy the whole accumulation on
        // every 8 KB read — O(n²) on a multi-MB publish
        var buf = new Array[Byte](8192)
        var len = 0
        // MQTT_NEW: the first packet MUST be CONNECT (mqtt_prot.c:301-306)
        var expectConnect = true
        val chunk = new Array[Byte](8192)
        var n = in.read(chunk)
        while (n >= 0) {
          if (len + n > maxConnBytes) {
            System.err.println(s"[graft-mqtt] dropping connection > $maxConnBytes bytes")
            return
          }
          if (len + n > buf.length) {
            var c = buf.length
            while (c < len + n) c <<= 1
            buf = java.util.Arrays.copyOf(buf, c)
          }
          System.arraycopy(chunk, 0, buf, len, n)
          len += n
          lastActivity = System.nanoTime()
          // decode only once the first packet's bytes are all here (peek
          // the header + varint for the needed length)
          if (Mqtt.neededLength(buf, len).exists(_ <= len)) {
            val (packets, consumed, error) =
              Mqtt.decode(java.util.Arrays.copyOfRange(buf, 0, len))
            // reply writes are best-effort: a client that sent its packets
            // and closed without reading acks (reply channel dead, EPIPE)
            // must not lose the publishes still in this buffer — the
            // reference appends data BEFORE writing the response
            // (mqtt_handle_publish, mqtt_prot.c:199-256)
            def safeWrite(b: Array[Byte]): Unit =
              try outS.write(b) catch { case _: java.io.IOException => () }
            for (p <- packets) p match {
              case Control(CONNECT) =>
                // EVERY connect gets a CONNACK — the reference reaches
                // mqtt_handle_connect again for a duplicate CONNECT in
                // MQTT_NEXT state (only MQTT_NEW gates the type check,
                // mqtt_prot.c:296-301, 354-356)
                safeWrite(connackBytes); expectConnect = false
              case _ if expectConnect => return // MQTT_ERROR: CONNECT first
              case Publish(topic, qos, pid, payload) =>
                msgs.add((topic, payload))
                lastActivity = System.nanoTime()
                if (qos > 0) safeWrite(pubResponseBytes(qos, pid))
              case Control(PINGREQ) => safeWrite(pingRespBytes)
              case Control(DISCONNECT) => return // MQTT_HANGUP
              case Control(_) => () // reference ignores other types
            }
            if (error) return // MQTT_ERROR: poison the connection
            System.arraycopy(buf, consumed, buf, 0, len - consumed)
            len -= consumed
          }
          n = in.read(chunk)
        }
      } catch {
        case _: java.io.IOException => () // closed under us / peer reset
      } finally { s.close(); openSockets.remove(s) }
    }

    /** Block until at least one PUBLISH arrived AND `quietMillis` passed
      * with no traffic (or `timeoutMillis`), then drain the accumulated
      * (topic, payload) messages.
      */
    def drainUntilQuiet(quietMillis: Long = 300,
                        timeoutMillis: Long = 30000): Seq[(String, Array[Byte])] = {
      val deadline = System.nanoTime() + timeoutMillis * 1000000L
      while (System.nanoTime() < deadline &&
             (msgs.isEmpty ||
              System.nanoTime() - lastActivity < quietMillis * 1000000L))
        Thread.sleep(10)
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
      var m = msgs.poll()
      while (m != null) { out += m; m = msgs.poll() }
      out.toSeq
    }

    def close(): Unit = {
      ss.close()
      import scala.jdk.CollectionConverters._
      openSockets.iterator().asScala.foreach { s =>
        try s.close() catch { case _: Throwable => () }
      }
    }
  }

  /** Driver-side `flb_pack_json` analog for the conf face: a payload that
    * parses as a JSON OBJECT becomes the ordered key → rendered-value
    * sequence (string scalars verbatim, everything else as compact JSON
    * text — the conf surface flattens records to string columns); anything
    * that is not a JSON object is None — the reference drops the message
    * when flb_pack_json fails (mqtt_prot.c:150-156 logs and skips the
    * append).
    */
  // shared: ObjectMapper construction is expensive and the instance is
  // thread-safe for readTree/writeValueAsString
  @transient private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def jsonFlat(payload: String): Option[Seq[(String, String)]] =
    try {
      val m = mapper
      val node = m.readTree(payload)
      if (node == null || !node.isObject) None
      else {
        import scala.jdk.CollectionConverters._
        Some(node.fields().asScala.toSeq.map { e =>
          val v = e.getValue
          e.getKey -> (if (v.isTextual) v.asText else m.writeValueAsString(v))
        })
      }
    } catch { case _: Exception => None }
}
