package graftbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale

/** Seeded input generator. Every value is a pure function of
  * `(seed, index)`, so the Spark-side writers and the plain-loop
  * expectations in [[Expect]] read the same formulas without sharing any
  * program code. Row index `i` is embedded in each log line as
  * `/p/<i>`, which lets a check map an output row back to its input.
  *
  * Tokens come from a 64-bit mix of `(seed, i)`, not from
  * `TokenTable.tokensFor`, whose token ids repeat with period 50257 in the
  * row index and plant unintended near-duplicates above ~50k rows.
  */
object Gen {
  val Vocab = 50257
  val BaseEpoch = 1500322623L
  val KubePods = 10 // tags name web-0 .. web-9 in namespace default, as TokenTable does

  /** Sink globs handed to the router; the expectations match them with
    * their own wildcard matcher.
    */
  val Sinks: Seq[(String, String)] = Seq(
    "sink_app" -> "app.*",
    "sink_db" -> "db.*",
    "sink_kube" -> "var.log.containers.*",
    "sink_all" -> "*")

  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, stream: Long, i: Long): Long = mix(mix(seed * 0x100000001B3L + stream) + i)

  /** Uniform in [0, n). */
  def pick(h: Long, n: Int): Int = ((h >>> 1) % n).toInt

  // ---- log rows (route_agg, conf_files) ---------------------------------

  /** TokenTable's status cycle {200, 200, 200, 404, 500, 503}, drawn per
    * row from the seed instead of cycled by the row index.
    */
  private val Codes = Array(200, 200, 200, 404, 500, 503)
  def code(seed: Long, i: Long): Int = Codes(pick(hash(seed, 1, i), Codes.length))

  /** TokenTable's tag mix, drawn per row: 55% app.frontend, 25% app.backend,
    * 12% db.primary, 5% kubernetes container tags, 3% sys.kern.
    */
  def source(seed: Long, i: Long): String = pick(hash(seed, 2, i), 100) match {
    case r if r < 55 => "app.frontend"
    case r if r < 80 => "app.backend"
    case r if r < 92 => "db.primary"
    case r if r < 97 => kubeTag(hash(seed, 3, i))
    case _           => "sys.kern"
  }

  private def kubeTag(h: Long): String = {
    val b = new java.lang.StringBuilder(128).append("var.log.containers.web-")
      .append(pick(h, KubePods)).append("_default_nginx-")
    for (j <- 0 until 4) {
      val x = java.lang.Long.toHexString(mix(h + j))
      for (_ <- x.length until 16) b.append('0')
      b.append(x)
    }
    b.append(".log").toString
  }

  private val dayFmt = DateTimeFormatter.ofPattern("dd/MMM/yyyy", Locale.US).withZone(ZoneOffset.UTC)

  /** `dd/MMM/yyyy:HH:mm:ss` of an epoch second (UTC). */
  def clfTime(sec: Long): String = {
    val s = Math.floorMod(sec, 86400L).toInt
    def two(n: Int) = if (n < 10) "0" + n else n.toString
    dayFmt.format(Instant.ofEpochSecond(sec)) + ":" + two(s / 3600) + ":" + two(s / 60 % 60) + ":" + two(s % 60)
  }

  /** An apache common-log line carrying the row index in its path. */
  def line(seed: Long, i: Long): String = {
    val h = hash(seed, 4, i)
    val host = pick(h, 997)
    val user = pick(h >>> 12, 31)
    val t = clfTime(BaseEpoch + pick(h >>> 20, 3600))
    val size = pick(hash(seed, 5, i), 9973)
    s"host-$host - user$user [$t +0000] \"GET /p/$i HTTP/1.1\" ${code(seed, i)} $size"
  }

  def nTok(seed: Long, i: Long): Int = 1 + pick(hash(seed, 6, i), 64)

  def tokens(seed: Long, i: Long): Array[Int] = {
    val h = hash(seed, 6, i)
    Array.tabulate(1 + pick(h, 64))(j => pick(mix(h + j + 1), Vocab))
  }

  /** Row index of a generated line (`... "GET /p/<i> HTTP/1.1" ...`). */
  def indexOf(line: String): Long = {
    val a = line.indexOf(" /p/") + 4
    line.substring(a, line.indexOf(' ', a)).toLong
  }

  final case class LogRec(doc_id: String, tokens: Array[Int], n_tok: Int, source: String)

  def logRec(seed: Long, i: Long): LogRec = {
    val t = tokens(seed, i)
    LogRec(line(seed, i), t, t.length, source(seed, i))
  }
}
