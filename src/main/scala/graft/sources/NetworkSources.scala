package graft.sources

import java.io.ByteArrayOutputStream
import java.net.{ServerSocket, Socket}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Live TCP ingest faces for the socket inputs the reference ships:
  * `in_forward` (`plugins/in_forward/fw_prot.c:33-46` — msgpack frames),
  * `in_tcp` (`plugins/in_tcp/tcp_conn.c:35-60` — newline-delimited
  * records), and the syslog TCP socket (`plugins/in_syslog/
  * syslog_prot.c:96` — newline-delimited syslog lines; PARSING lives in
  * [[graft.parsers.Parsers]]).
  *
  * Batch semantics mirror the reference's buffer-then-flush engine: a
  * [[Listener]] accepts connections and buffers each connection's bytes
  * on the DRIVER (the reference's single event loop does exactly this);
  * [[drainUntilQuiet]] returns once traffic has been idle for
  * `quietMillis`, and the collected payloads become a DataFrame whose
  * downstream processing is fully distributed. A production deployment
  * at 10^12 rows would land sockets behind a durable queue instead —
  * this face exists for protocol fidelity, not socket throughput.
  */
object NetworkSources {

  /** Bind a listener (port 0 → ephemeral; read the actual [[Listener.port]]). */
  def listen(port: Int = 0, maxConnBytes: Int = 16 << 20): Listener =
    new Listener(new ServerSocket(port), maxConnBytes)

  /** One connection's accumulating bytes — written by its handler thread,
    * snapshotted by the drainer (synchronized: ByteArrayOutputStream is
    * not safe for concurrent write+read).
    */
  private final class ConnBuf {
    private val buf = new ByteArrayOutputStream()
    /** Set by the handler thread once the peer closed (EOF/reset): a
      * closed connection's buffer is final, an open one may be mid-record.
      */
    @volatile var closed = false
    def append(chunk: Array[Byte], n: Int): Unit = synchronized { buf.write(chunk, 0, n) }
    def size: Int = synchronized { buf.size() }
    def snapshot(): Array[Byte] = synchronized { buf.toByteArray }
  }

  final class Listener private[sources] (ss: ServerSocket, maxConnBytes: Int) {
    val port: Int = ss.getLocalPort
    private val conns = new ConcurrentLinkedQueue[ConnBuf]()
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
          t.setDaemon(true) // a stalled client must not keep the JVM alive
          t.start()
        }
      } catch { case _: java.net.SocketException => () } // closed
    }, s"graft-listener-$port")
    acceptor.setDaemon(true)
    acceptor.start()
    started.await()

    private def handle(s: Socket): Unit = {
      val buf = new ConnBuf
      try {
        // IO errors are expected lifecycle events here, not crashes:
        // close() actively closes still-open persistent connections (the
        // blocked read throws "Socket closed"), and scanners RST at will
        val in = s.getInputStream
        conns.add(buf) // registered up front: a PERSISTENT connection's
        // bytes are visible to the drainer without waiting for EOF (the
        // fluentd forward protocol holds connections open for reuse)
        val chunk = new Array[Byte](8192)
        var n = in.read(chunk)
        while (n >= 0) {
          if (buf.size + n > maxConnBytes) {
            // over-cap: DROP the whole connection (the reference drops bad
            // connections too) — a silently truncated payload would crash
            // the distributed decode mid-frame downstream
            conns.remove(buf)
            System.err.println(s"[graft-listener] dropping connection > $maxConnBytes bytes")
            return
          }
          buf.append(chunk, n)
          lastActivity = System.nanoTime()
          n = in.read(chunk)
        }
        lastActivity = System.nanoTime()
      } catch {
        case _: java.io.IOException => () // closed under us / peer reset
      } finally { buf.closed = true; s.close(); openSockets.remove(s) }
    }

    /** Block until at least one payload has arrived AND `quietMillis` have
      * passed with no traffic (or `timeoutMillis` elapses), then snapshot
      * every connection's bytes so far — including still-open persistent
      * connections (a quiet window mid-frame would snapshot a partial
      * frame; the conf `forward` input decodes with
      * `MsgpackDecode.unpackFramesLenient`, which skips the cut tail).
      */
    def drainUntilQuiet(quietMillis: Long = 300,
                        timeoutMillis: Long = 30000): Seq[Array[Byte]] = {
      awaitQuiet(quietMillis, timeoutMillis)
      import scala.jdk.CollectionConverters._
      conns.iterator().asScala.map(_.snapshot()).filter(_.nonEmpty).toSeq
    }

    /** Line-mode drain for the `in_tcp`/syslog faces: like
      * [[drainUntilQuiet]], but a STILL-OPEN connection's snapshot is cut
      * at its last newline — the reference's in_tcp buffers bytes until
      * the separator arrives (`tcp_conn.c`), so a sender pausing mid-line
      * must not yield a silently truncated record (plus a bogus remainder
      * on a later drain). A CLOSED connection's buffer is final and kept
      * whole (the engine's strip-one-trailing-newline convention makes an
      * unterminated last segment a complete record). Returns the payloads
      * plus the count of deferred unterminated-tail bytes, mirroring
      * unpackFramesLenient's skipped-tail accounting on the forward path.
      */
    def drainUntilQuietLines(quietMillis: Long = 300,
                             timeoutMillis: Long = 30000): (Seq[Array[Byte]], Long) = {
      awaitQuiet(quietMillis, timeoutMillis)
      import scala.jdk.CollectionConverters._
      var deferred = 0L
      val payloads = conns.iterator().asScala.flatMap { c =>
        // read `closed` BEFORE snapshotting (a close racing in after an
        // open-state read must not tear a line) … and AGAIN after: if the
        // peer closed between the two reads, the buffer is FINAL — a
        // closed connection's unterminated tail is a complete record
        // (the engine's strip-one-newline convention), and deferring it
        // here would lose it for good since the listener closes right
        // after this single drain. Re-snapshot so close-racing final
        // bytes are included.
        val isClosed = c.closed
        var snap = c.snapshot()
        val closedNow = c.closed
        if (closedNow && !isClosed) snap = c.snapshot()
        if (snap.isEmpty) None
        else if (closedNow) Some(snap)
        else {
          val cut = snap.lastIndexOf('\n'.toByte) + 1
          deferred += snap.length - cut
          if (cut > 0) Some(java.util.Arrays.copyOfRange(snap, 0, cut)) else None
        }
      }.toSeq
      (payloads, deferred)
    }

    private def awaitQuiet(quietMillis: Long, timeoutMillis: Long): Unit = {
      import scala.jdk.CollectionConverters._
      val deadline = System.nanoTime() + timeoutMillis * 1000000L
      def haveBytes = conns.iterator().asScala.exists(_.size > 0)
      while (System.nanoTime() < deadline &&
             (!haveBytes ||
              System.nanoTime() - lastActivity < quietMillis * 1000000L))
        Thread.sleep(10)
    }

    def close(): Unit = {
      ss.close()
      import scala.jdk.CollectionConverters._
      openSockets.iterator().asScala.foreach { s =>
        try s.close() catch { case _: Throwable => () }
      }
    }
  }

  /** Syslog UDP face (`in_syslog` udp/unix_udp modes): one datagram = one
    * record (`syslog_prot.c` consumes whole messages, not a byte stream).
    * Bind first (port 0 → ephemeral), send, then drain.
    */
  def listenUdp(port: Int = 0): UdpListener =
    new UdpListener(new java.net.DatagramSocket(port))

  final class UdpListener private[sources] (sock: java.net.DatagramSocket) {
    val port: Int = sock.getLocalPort
    /** Block until `quietMillis` pass after the first datagram (or
      * `timeoutMillis`); returns each datagram as a string record.
      */
    def drainUntilQuiet(quietMillis: Long = 300,
                        timeoutMillis: Long = 30000): Seq[String] = {
      sock.setSoTimeout(10)
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val buf = new Array[Byte](64 << 10)
      var lastActivity = System.nanoTime()
      val deadline = System.nanoTime() + timeoutMillis * 1000000L
      while (System.nanoTime() < deadline &&
             (out.isEmpty ||
              System.nanoTime() - lastActivity < quietMillis * 1000000L)) {
        val p = new java.net.DatagramPacket(buf, buf.length)
        try {
          sock.receive(p)
          out += new String(p.getData, p.getOffset, p.getLength, "UTF-8")
          lastActivity = System.nanoTime()
        } catch { case _: java.net.SocketTimeoutException => () }
      }
      out.toSeq
    }
    def close(): Unit = sock.close()
  }

  /** Syslog datagram ingest (`in_syslog` Mode unix_udp/udp): one datagram
    * = one record already — no separator split; a trailing newline inside
    * a datagram is stripped like the line path does, interior newlines
    * stay (the whole datagram IS the message, syslog_prot.c).
    */
  def datagramRows(spark: SparkSession, datagrams: Seq[String],
                   tag: String = "syslog.0"): DataFrame = {
    import spark.implicits._
    datagrams.zipWithIndex.toDF("raw", "dgram")
      .select(
        regexp_replace(col("raw"), "\n\\z", "").as("line"),
        concat(lit("dgram-"), col("dgram")).as("file"))
      .withColumn("tag", lit(tag))
  }

  /** `in_tcp` / syslog-socket ingest: newline-delimited payloads → one
    * (line, file, tag) row per line — the engine's standard raw frame, so
    * the parser/filter chain applies unchanged (`tcp_conn.c` likewise
    * emits one record per separator-split segment).
    */
  def lineRows(spark: SparkSession, payloads: Seq[Array[Byte]],
               tag: String = "tcp.0"): DataFrame = {
    import spark.implicits._
    // strip ONE trailing newline then split — interior blank lines are
    // records (same convention as HeadSource/LocalSources; "\n\\z", not
    // "\n$", so a trailing blank line survives too). binary→string CAST,
    // not decode(): Spark 4's decode throws MALFORMED_CHARACTER_CODING on
    // invalid UTF-8, and a port scanner's garbage must not kill the job —
    // the cast passes bytes through un-validated like the reference's raw
    // buffer handling
    payloads.zipWithIndex.toDF("bytes", "conn")
      .select(explode(split(
          regexp_replace(col("bytes").cast("string"), "\n\\z", ""), "\n")).as("line"),
        concat(lit("conn-"), col("conn")).as("file"))
      .withColumn("tag", lit(tag))
  }
}
