package graftbench

import com.fasterxml.jackson.databind.ObjectMapper

/** Expected outputs computed in plain Scala loops from the generator's
  * per-row formulas, and the checks that compare them with what the
  * program produced. Each check returns `None` when the output is right
  * and `Some(reason)` otherwise; none of them touches Spark, so
  * [[SelfTest]] can feed them wrong outputs directly.
  */
object Expect {

  /** Fluent Bit tag-match glob: `*` matches any run of characters. */
  def globMatch(glob: String, s: String): Boolean = {
    def go(g: Int, i: Int): Boolean =
      if (g == glob.length) i == s.length
      else if (glob(g) == '*') (i to s.length).exists(go(g + 1, _))
      else i < s.length && glob(g) == s(i) && go(g + 1, i + 1)
    go(0, 0)
  }

  /** The route pipeline keeps a row when its status code starts with 5. */
  def keptByRoute(seed: Long, i: Long): Boolean = Gen.code(seed, i) / 100 == 5

  /** Per-sink (rows, sum n_tok) over rows [lo, hi). */
  def sinkTotals(seed: Long, lo: Long, hi: Long): Map[String, (Long, Long)] = {
    val rows = new Array[Long](Gen.Sinks.size)
    val toks = new Array[Long](Gen.Sinks.size)
    var i = lo
    while (i < hi) {
      if (keptByRoute(seed, i)) {
        val src = Gen.source(seed, i)
        val n = Gen.nTok(seed, i)
        var k = 0
        while (k < Gen.Sinks.size) {
          if (globMatch(Gen.Sinks(k)._2, src)) { rows(k) += 1; toks(k) += n }
          k += 1
        }
      }
      i += 1
    }
    Gen.Sinks.indices.map(k => Gen.Sinks(k)._1 -> (rows(k), toks(k))).toMap
  }

  /** The conf pipeline's grep drops status codes starting with 2. */
  def keptByConf(seed: Long, i: Long): Boolean = Gen.code(seed, i) / 100 != 2

  def countKept(seed: Long, lo: Long, hi: Long): Long = {
    var n = 0L; var i = lo
    while (i < hi) { if (keptByConf(seed, i)) n += 1; i += 1 }
    n
  }

  // ---- checks -----------------------------------------------------------

  def sameTotals(what: String, expected: Map[String, (Long, Long)],
                 got: Map[String, (Long, Long)]): Option[String] =
    if (expected == got) None
    else Some(s"$what: expected $expected, got $got")

  def sameCounts(what: String, expected: Map[String, Long], got: Map[String, Long]): Option[String] =
    if (expected == got) None
    else Some(s"$what: expected $expected, got $got")

  private val json = new ObjectMapper()

  /** Each out_file json line is `<tag>: [<time>, {record}]`; the record's
    * `line`, `code` and `path` must be those of the generated row it came
    * from, its tag that of the stream the row was written to, only rows
    * the grep keeps may appear, and each at most once. With the line count
    * right, every kept row then appears exactly once.
    */
  def jsonLines(seed: Long, lines: Iterator[String], tagOf: Long => String,
                expected: Long): Option[String] = {
    var n = 0L
    var bad: Option[String] = None
    val seen = new java.util.BitSet
    lines.foreach { l =>
      n += 1
      if (bad.isEmpty) bad = jsonLine(seed, l, tagOf) match {
        case Left(why) => Some(why)
        case Right(i) if seen.get(i.toInt) => Some(s"row $i written twice")
        case Right(i) => seen.set(i.toInt); None
      }
    }
    bad.orElse(if (n != expected) Some(s"expected $expected json lines, got $n") else None)
  }

  /** The row index a json line came from, or why the line is wrong. */
  private def jsonLine(seed: Long, l: String, tagOf: Long => String): Either[String, Long] = {
    val cut = l.indexOf(": [")
    if (cut < 0) return Left(s"not an out_file json line: $l")
    val arr = try json.readTree(l.substring(cut + 2)) catch {
      case e: Exception => return Left(s"json does not parse (${e.getMessage}): $l")
    }
    val rec = arr.get(1)
    if (arr.size != 2 || !arr.get(0).isNumber || rec == null || !rec.isObject)
      return Left(s"not [time, {record}]: $l")
    val i = Gen.indexOf(rec.path("line").asText(""))
    val want = Gen.line(seed, i)
    if (rec.path("line").asText() != want) Left(s"record line differs for row $i")
    else if (rec.path("code").asText() != Gen.code(seed, i).toString) Left(s"code differs for row $i")
    else if (rec.path("path").asText() != s"/p/$i") Left(s"path differs for row $i")
    else if (l.substring(0, cut) != tagOf(i)) Left(s"tag differs for row $i")
    else if (!keptByConf(seed, i)) Left(s"row $i should have been dropped by grep")
    else Right(i)
  }

  def cacheEmpty(empty: Boolean): Option[String] =
    if (empty) None else Some("the CacheManager still holds a cached plan after the pass")
}
