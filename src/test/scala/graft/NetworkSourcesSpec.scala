package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.NetworkSources

/** Live localhost sockets — the transport half of in_forward / in_tcp /
  * in_syslog(tcp) that rounds out the already byte-exact wire codecs.
  */
class NetworkSourcesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("in_forward over a real localhost socket: byte-exact frame round trip") {
    val df = Seq(
      ("app.a", 1500000000L, 7, Map("k" -> "v1"), 1L),
      ("app.a", 1500000001L, 9, Map("k" -> "v2"), 2L),
      ("app.b", 1500000002L, 0, Map("x" -> "y"), 3L)
    ).toDF("tag", "sec", "nsec", "record", "ord")
    val frames = graft.sinks.Forward.frames(df, "tag", "sec", "nsec", "record", "ord")
      .orderBy("tag").select("frame").as[Array[Byte]].collect()
    assert(frames.length == 2) // app.a (2 entries), app.b (1 entry)
    val l = NetworkSources.listen()
    try {
      // connection 1 carries BOTH frames concatenated — the wire needs no
      // extra framing (msgpack is self-delimiting; fw_prot.c iterates
      // msgpack_unpack_next over the connection buffer); connection 2
      // re-sends the first frame
      val s1 = new java.net.Socket("127.0.0.1", l.port)
      s1.getOutputStream.write(frames(0))
      s1.getOutputStream.write(frames(1))
      s1.close()
      val s2 = new java.net.Socket("127.0.0.1", l.port)
      s2.getOutputStream.write(frames(0))
      s2.close()
      // connection 3 is GARBAGE on an OPEN socket: the lenient decode must
      // skip it without throwing, and the drain must not need EOF
      val s3 = new java.net.Socket("127.0.0.1", l.port)
      s3.getOutputStream.write("not msgpack at all".getBytes("UTF-8"))
      s3.getOutputStream.flush()
      // the decoder the conf `forward` input runs over the drained payloads
      val decoded = l.drainUntilQuiet().map(graft.sinks.MsgpackDecode.unpackFramesLenient)
      s3.close()
      val rows = decoded.flatMap(_._1).flatMap { case (tag, es) =>
        es.map(e => (tag, e.sec, e.nsec, e.record))
      }
      // the garbage connection decodes to nothing and is skipped whole;
      // the two frame connections skip no byte
      assert(decoded.map(_._2).sorted == Seq(0L, 0L, "not msgpack at all".length.toLong))
      assert(rows.size == 5)
      val a1 = ("app.a", 1500000000L, 7L, Map("k" -> "v1"))
      val a2 = ("app.a", 1500000001L, 9L, Map("k" -> "v2"))
      val b1 = ("app.b", 1500000002L, 0L, Map("x" -> "y"))
      assert(rows.count(_ == a1) == 2 && rows.count(_ == a2) == 2)
      assert(rows.count(_ == b1) == 1)
    } finally l.close()
  }

  test("a connection over maxConnBytes is dropped whole; the others drain") {
    val l = NetworkSources.listen(maxConnBytes = 64)
    try {
      val big = Array.fill[Byte](100)('a')
      val small = Array.fill[Byte](10)('b')
      val s1 = new java.net.Socket("127.0.0.1", l.port)
      s1.getOutputStream.write(big)
      s1.getOutputStream.flush()
      // the listener closes a dropped connection: wait for that (EOF or a
      // reset), so the drain below cannot run before the drop
      s1.setSoTimeout(10000)
      scala.util.Try(s1.getInputStream.read())
      s1.close()
      val s2 = new java.net.Socket("127.0.0.1", l.port)
      s2.getOutputStream.write(small)
      s2.close()
      assert(l.drainUntilQuiet().map(_.toSeq) == Seq(small.toSeq))
    } finally l.close()
  }

  test("syslog over UDP: one datagram = one record") {
    val l = NetworkSources.listenUdp()
    try {
      val s = new java.net.DatagramSocket()
      val addr = new java.net.InetSocketAddress("127.0.0.1", l.port)
      for (m <- Seq("<13>Jul 17 20:17:03 host-3 app7[42]: message 3", "plain"))
        s.send(new java.net.DatagramPacket(m.getBytes("UTF-8"), m.length, addr))
      s.close()
      val got = l.drainUntilQuiet()
      assert(got.size == 2 && got.contains("plain"))
      assert(got.exists(_.startsWith("<13>")))
    } finally l.close()
  }

  test("ingest honesty probe: the driver-socket drain rate, measured (protocol face, not the throughput path)") {
    // NetworkSources buffers connection bytes on the driver (the
    // reference's single event loop does the same) — a disclosed design
    // limit. This probe puts a NUMBER on it so BENCH readers can compare
    // the one-node ingest ceiling against the distributed pipeline rate.
    val l = NetworkSources.listen()
    try {
      val rowsTarget = 200000
      val block = (0 until 1000)
        .map(i => f"<13>Jul 17 20:17:03 host-$i%04d app[42]: payload line $i%06d")
        .mkString("", "\n", "\n").getBytes("UTF-8")
      val s = new java.net.Socket("127.0.0.1", l.port)
      val t0 = System.nanoTime()
      val out = s.getOutputStream
      (0 until rowsTarget / 1000).foreach(_ => out.write(block))
      s.close()
      // re-drain until every row arrived (or a hard deadline): a handler
      // thread descheduled past the quiet window mid-transfer (GC pause,
      // loaded box) yields a partial first drain, which is scheduler
      // noise, not a product bug. Connection snapshots are CUMULATIVE
      // (ConnBuf.snapshot returns the full buffer each call), so each
      // drain's count REPLACES the previous one — summing across drains
      // would double-count the already-seen bytes
      val quietMs = 300L
      val deadline = System.nanoTime() + 15L * 1000000000L
      var rows = 0
      var drains = 0
      while (rows < rowsTarget && System.nanoTime() < deadline) {
        val (payloads, _) = l.drainUntilQuietLines(quietMillis = quietMs)
        rows = payloads.map(_.count(_ == '\n'.toByte)).sum
        drains += 1
      }
      // net of the mandatory quiet windows — each drain returns quietMs
      // after its last byte, which is wait, not work
      val secs = (System.nanoTime() - t0) / 1e9 - drains * quietMs / 1e3
      assert(rows == rowsTarget)
      val rate = rows / math.max(secs, 1e-3)
      info(f"driver-socket drain: $rate%,.0f rows/s over $rowsTarget rows — single-node ingest ceiling; the distributed path (BENCH.md headline) parses+routes ~7M rows/s")
      assert(rate > 10000, f"drain rate collapsed: $rate%.0f rows/s")
    } finally l.close()
  }

  test("line drain cuts an OPEN connection at its last newline; a closed one keeps its tail") {
    val l = NetworkSources.listen()
    try {
      // sender 1 pauses mid-line and stays OPEN: "gamma" must NOT surface
      // as a truncated record this drain
      val open = new java.net.Socket("127.0.0.1", l.port)
      open.getOutputStream.write("alpha\nbeta\ngam".getBytes("UTF-8"))
      open.getOutputStream.flush()
      // sender 2 closes without a trailing newline: final segment is a
      // complete record (strip-one-trailing-newline convention)
      val closed = new java.net.Socket("127.0.0.1", l.port)
      closed.getOutputStream.write("one\ntwo".getBytes("UTF-8"))
      closed.close()
      val (payloads, deferred) = l.drainUntilQuietLines()
      val lines = NetworkSources.lineRows(spark, payloads).select("line")
        .as[String].collect().toSet
      assert(lines == Set("alpha", "beta", "one", "two"))
      assert(deferred == 3L) // "gam"
      open.close()
    } finally l.close()
  }

  test("in_tcp lines over a real socket; a syslog line parses through the standard chain") {
    val l = NetworkSources.listen()
    try {
      val s = new java.net.Socket("127.0.0.1", l.port)
      s.getOutputStream.write(
        "hello 1\nhello 2\n<13>Jul 17 20:17:03 host-3 app7[42]: message 3\n"
          .getBytes("UTF-8"))
      s.close()
      val lines = NetworkSources.lineRows(spark, l.drainUntilQuiet(), tag = "syslog.0")
      assert(lines.count() == 3)
      assert(lines.select("tag").distinct().as[String].collect().toSeq == Seq("syslog.0"))
      val sys = lines.filter(col("line").startsWith("<"))
        .withColumn("p", graft.parsers.Parsers.syslogRfc3164.parsed(col("line")))
        .select(col("p.pri"), col("p.host"), col("p.ident"), col("p.pid"),
          col("p.message"))
        .collect().head
      assert(sys.getString(0) == "13" && sys.getString(1) == "host-3")
      assert(sys.getString(2) == "app7" && sys.getString(3) == "42")
      assert(sys.getString(4) == "message 3")
    } finally l.close()
  }
}
