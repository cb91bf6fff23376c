package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Mqtt

/** in_mqtt face (`plugins/in_mqtt/mqtt_prot.c`): codec layout + lenient
  * parser semantics pinned packet-by-packet, live broker protocol
  * (CONNACK / PUBACK nibble quirk / PINGRESP / connect-first), JSON
  * payload flattening, conf surface.
  */
class MqttSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  test("packet header: type nibble + remaining-length varint (mqtt_prot.c:84-108)") {
    assert(hex(Mqtt.packetHeader(Mqtt.PUBLISH, 10)) == "300a")
    assert(hex(Mqtt.packetHeader(Mqtt.PINGRESP, 0)) == "d000")
    // varint: 321 = 0xC1 + 2*128 → bytes c1 02
    assert(hex(Mqtt.packetHeader(Mqtt.PUBLISH, 321)) == "30c102")
    // 16384 needs three varint bytes: 80 80 01
    assert(hex(Mqtt.packetHeader(Mqtt.PUBLISH, 16384)) == "30808001")
  }

  test("reply bytes: CONNACK session-present quirk, PUBACK/PUBREC low-byte nibbles, PINGRESP") {
    // mqtt_prot.c:176-196 — the reference BIT_SETs the session-present flag
    assert(hex(Mqtt.connackBytes) == "20020100")
    // mqtt_prot.c:231-243 — id bytes are the LOW byte's nibbles, mirrored
    assert(hex(Mqtt.pubResponseBytes(1, 0xAB)) == "40020a0b")
    assert(hex(Mqtt.pubResponseBytes(2, 0x1234)) == "50020304")
    assert(hex(Mqtt.pingRespBytes) == "d002")
  }

  test("decode: publish roundtrip across qos levels and varint sizes") {
    for (qos <- 0 to 2; payloadLen <- Seq(3, 200, 20000)) {
      val payload = Array.fill[Byte](payloadLen)('x'.toByte)
      val bytes = Mqtt.publishBytes("a/b", payload, qos, packetId = 777)
      val (pkts, consumed, err) = Mqtt.decode(bytes)
      assert(!err && consumed == bytes.length && pkts.length == 1)
      val p = pkts.head.asInstanceOf[Mqtt.Publish]
      assert(p.topic == "a/b" && p.qos == qos)
      assert(p.packetId == (if (qos > 0) 777 else 0))
      assert(p.payload.length == payloadLen)
    }
  }

  test("decode is lenient: truncated tail left unconsumed (MQTT_MORE), concatenated packets all decode") {
    val one = Mqtt.publishBytes("t", "{}".getBytes, 0)
    val two = one ++ Mqtt.pingReqBytes ++ one.take(3) // partial third packet
    val (pkts, consumed, err) = Mqtt.decode(two)
    assert(!err)
    assert(pkts.length == 2)
    assert(consumed == one.length + 2) // the partial tail stays buffered
  }

  test("decode poisons on malformed input (MQTT_ERROR): 5-byte varint, topic overrun") {
    // remaining-length varint with 4 continuation bytes (mqtt_prot.c:318)
    val badVarint = Array[Byte](0x30, 0x80.toByte, 0x80.toByte, 0x80.toByte, 0x80.toByte, 0x01)
    assert(Mqtt.decode(badVarint)._3)
    // PUBLISH whose declared topic length overruns the packet body
    val overrun = Array[Byte](0x30, 0x03, 0x00, 0x7f, 0x41)
    assert(Mqtt.decode(overrun)._3)
  }

  test("2 MiB remaining-length boundary: 3-varint-byte max decodes, the spec-valid 4-byte form poisons (mqtt_prot.c:318-321 quirk)") {
    // largest decodable body: 128^3 − 1 = 2,097,151
    val max = Mqtt.packetHeader(Mqtt.PUBLISH, 128 * 128 * 128 - 1)
    assert(max.length == 4)
    val (p0, c0, e0) = Mqtt.decode(max) // body absent → MQTT_MORE, no error
    assert(p0.isEmpty && c0 == 0 && !e0)
    // one past: packetHeader emits the spec-valid 4-byte varint, the
    // decoder rejects it exactly like the reference's mult check
    val four = Mqtt.packetHeader(Mqtt.PUBLISH, 128 * 128 * 128)
    assert(four.length == 5)
    assert(Mqtt.decode(four)._3)
  }

  test("live broker: a multi-read 300 KB publish accumulates and decodes intact") {
    val b = Mqtt.broker()
    try {
      val s = new java.net.Socket("127.0.0.1", b.port)
      s.setSoTimeout(15000)
      val out = s.getOutputStream
      out.write(Mqtt.connectBytes())
      // drain the CONNACK before closing: unread input at close() turns
      // the close into an RST that can discard the in-flight publish
      // from the server's receive buffer mid-stream
      val ack = new Array[Byte](4)
      assert(s.getInputStream.readNBytes(ack, 0, 4) == 4)
      val payload = Array.tabulate[Byte](300 * 1024)(i => ('a' + (i % 26)).toByte)
      out.write(Mqtt.publishBytes("big/1", payload, 0))
      out.flush()
      s.close()
      val msgs = b.drainUntilQuiet()
      assert(msgs.map(_._1) == Seq("big/1"))
      assert(java.util.Arrays.equals(msgs.head._2, payload))
    } finally b.close()
  }

  test("jsonFlat: object → ordered string pairs, scalars verbatim, nested as JSON text, non-object None") {
    assert(Mqtt.jsonFlat("""{"b":1,"a":"x","n":{"k":2},"f":1.5,"t":true}""") ==
      Some(Seq("b" -> "1", "a" -> "x", "n" -> """{"k":2}""", "f" -> "1.5", "t" -> "true")))
    assert(Mqtt.jsonFlat("[1,2]").isEmpty)   // array is not a map record
    assert(Mqtt.jsonFlat("plain text").isEmpty)
    assert(Mqtt.jsonFlat("").isEmpty)
  }

  test("live broker: CONNECT/CONNACK, qos acks, ping, disconnect, connect-first enforcement") {
    val b = Mqtt.broker()
    try {
      val s = new java.net.Socket("127.0.0.1", b.port)
      s.setSoTimeout(15000) // a silent broker should fail the spec, not hang it
      val out = s.getOutputStream
      val in = s.getInputStream
      out.write(Mqtt.connectBytes("c1"))
      val connack = new Array[Byte](4)
      assert(in.readNBytes(connack, 0, 4) == 4)
      assert(hex(connack) == "20020100")
      // a DUPLICATE connect is CONNACK'd again — mqtt_handle_connect runs
      // for CONNECT in MQTT_NEXT state too (mqtt_prot.c:354-356)
      out.write(Mqtt.connectBytes("c1-again"))
      val connack2 = new Array[Byte](4)
      assert(in.readNBytes(connack2, 0, 4) == 4)
      assert(hex(connack2) == "20020100")
      out.write(Mqtt.publishBytes("sensors/a", """{"v":1}""".getBytes, 0))
      out.write(Mqtt.publishBytes("sensors/b", """{"v":2}""".getBytes, 1, packetId = 0x42))
      val puback = new Array[Byte](4)
      assert(in.readNBytes(puback, 0, 4) == 4)
      assert(hex(puback) == "40020402") // 0x42 → nibbles 4, 2
      out.write(Mqtt.pingReqBytes)
      val pong = new Array[Byte](2)
      assert(in.readNBytes(pong, 0, 2) == 2)
      assert(hex(pong) == "d002")
      out.write(Mqtt.disconnectBytes)
      s.close()

      // a connection whose FIRST packet is not CONNECT is dropped
      // (mqtt_prot.c:301-306) — its publish must not appear in the drain
      val rogue = new java.net.Socket("127.0.0.1", b.port)
      rogue.getOutputStream.write(Mqtt.publishBytes("rogue", """{"v":9}""".getBytes, 0))
      rogue.close()

      val msgs = b.drainUntilQuiet()
      assert(msgs.map(_._1) == Seq("sensors/a", "sensors/b"))
      assert(msgs.map(m => new String(m._2, "UTF-8")) == Seq("""{"v":1}""", """{"v":2}"""))
    } finally b.close()
  }

  test("conf surface: [INPUT] mqtt parses JSON publishes, drops non-JSON, uniquifies colliding keys") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val port = { val ss = new java.net.ServerSocket(0); try ss.getLocalPort finally ss.close() }
    val conf =
      s"""[INPUT]
         |    Name mqtt
         |    Port $port
         |    Tag  iot.0
         |""".stripMargin
    val fut = Future(graft.run.ConfPipeline.load(spark, conf, "").filtered)
    // connect with retries — load() binds partway through
    var sock: java.net.Socket = null
    var attempts = 0
    while (sock == null && attempts < 200) {
      try sock = new java.net.Socket("127.0.0.1", port)
      catch { case _: java.net.ConnectException => attempts += 1; Thread.sleep(50) }
    }
    assert(sock != null, s"broker on $port never came up")
    val out = sock.getOutputStream
    out.write(Mqtt.connectBytes())
    out.write(Mqtt.publishBytes("room/1", """{"temp":21,"topic":"inner"}""".getBytes, 0))
    out.write(Mqtt.publishBytes("room/2", """{"temp":22}""".getBytes, 1, packetId = 7))
    out.write(Mqtt.publishBytes("room/3", "not json".getBytes, 0)) // dropped
    out.write(Mqtt.disconnectBytes)
    // FIN after our bytes, then drain replies (CONNACK + the qos-1
    // PUBACK) until the broker's DISCONNECT-close EOF — closing with
    // unread input would RST and could discard in-flight publishes.
    // soTimeout so a broker that stops closing fails the spec instead of
    // hanging the suite
    sock.setSoTimeout(15000)
    sock.shutdownOutput()
    try { while (sock.getInputStream.read() != -1) {} }
    catch { case _: java.net.SocketTimeoutException => fail("broker never closed after DISCONNECT") }
    sock.close()
    val df = Await.result(fut, 30.seconds)
    val rows = df.orderBy("topic").collect()
    // the frame columns lead, then one column per record key, in key order
    assert(df.columns.toSeq == Seq("topic", "tag", "temp", "_topic"))
    assert(rows.length == 2) // non-JSON publish dropped
    assert(rows.map(_.getAs[String]("topic")).toSeq == Seq("room/1", "room/2"))
    assert(rows.map(_.getAs[String]("temp")).toSeq == Seq("21", "22"))
    // record key 'topic' collides with the frame column → prefixed
    assert(df.columns.contains("_topic"))
    assert(rows(0).getAs[String]("_topic") == "inner")
    assert(rows.forall(_.getAs[String]("tag") == "iot.0"))
  }
}
