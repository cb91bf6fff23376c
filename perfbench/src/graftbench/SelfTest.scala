package graftbench

/** Feeds every check in [[Expect]] a right output, which must pass, and
  * deliberately wrong ones, which must fail. Needs no Spark session.
  * Run with `python3 perfbench/run.py --selftest`.
  */
object SelfTest {
  private var failures = 0

  private def expectOk(what: String, r: Option[String]): Unit =
    r.foreach { m => failures += 1; System.err.println(s"FAIL $what: right output rejected: $m") }

  private def expectBad(what: String, r: Option[String]): Unit =
    if (r.isEmpty) { failures += 1; System.err.println(s"FAIL $what: wrong output accepted") }
    else println(s"ok   $what: ${r.get.take(100)}")

  def run(): Unit = {
    val seed = 7L

    // route_agg per-sink totals
    val totals = Expect.sinkTotals(seed, 0, 5000)
    require(totals("sink_all")._1 > 0 && totals("sink_kube")._1 > 0)
    expectOk("sink totals", Expect.sameTotals("t", totals, totals))
    expectBad("sink totals, one row short",
      Expect.sameTotals("t", totals, totals.updated("sink_db", (totals("sink_db")._1 - 1, totals("sink_db")._2))))
    expectBad("sink totals, token sum off",
      Expect.sameTotals("t", totals, totals.updated("sink_app", (totals("sink_app")._1, totals("sink_app")._2 + 1))))
    expectBad("sink totals, a sink missing", Expect.sameTotals("t", totals, totals - "sink_kube"))
    expectBad("sink totals, grep ignored",
      Expect.sameTotals("t", totals, Map("sink_all" -> (5000L, (0L until 5000).map(Gen.nTok(seed, _).toLong).sum))))

    // conf_files json lines
    def tagOf(i: Long) = if (i < 1000) "web.access" else "api.access"
    val keptConf = (0L until 2000).filter(Expect.keptByConf(seed, _))
    def jsonOf(i: Long, code: String, path: String, tag: String = null) =
      s"""${Option(tag).getOrElse(tagOf(i))}: [1500322623.000000, {"line":"${Gen.line(seed, i).replace("\"", "\\\"")}", "code":"$code", "path":"$path", "env":"bench"}]"""
    val good = keptConf.map(i => jsonOf(i, Gen.code(seed, i).toString, s"/p/$i"))
    expectOk("json lines", Expect.jsonLines(seed, good.iterator, tagOf, keptConf.size))
    val i0 = keptConf.head
    expectBad("json lines, wrong code", Expect.jsonLines(seed,
      (jsonOf(i0, "200", s"/p/$i0") +: good.tail).iterator, tagOf, keptConf.size))
    expectBad("json lines, wrong path", Expect.jsonLines(seed,
      (jsonOf(i0, Gen.code(seed, i0).toString, "/p/x") +: good.tail).iterator, tagOf, keptConf.size))
    expectBad("json lines, wrong tag", Expect.jsonLines(seed,
      (jsonOf(i0, Gen.code(seed, i0).toString, s"/p/$i0", "api.access") +: good.tail).iterator,
      tagOf, keptConf.size))
    expectBad("json lines, truncated line", Expect.jsonLines(seed,
      (good.head.dropRight(3) +: good.tail).iterator, tagOf, keptConf.size))
    val dropped = (0L until 2000).find(!Expect.keptByConf(seed, _)).get
    expectBad("json lines, grep-dropped row present", Expect.jsonLines(seed,
      (jsonOf(dropped, Gen.code(seed, dropped).toString, s"/p/$dropped") +: good.tail).iterator,
      tagOf, keptConf.size))
    expectBad("json lines, one missing", Expect.jsonLines(seed, good.tail.iterator, tagOf, keptConf.size))
    expectBad("json lines, a duplicated row replaces a missing one", Expect.jsonLines(seed,
      (good.tail :+ good.last).iterator, tagOf, keptConf.size))
    val counts = Map("file_0" -> 10L, "file_1" -> 4L, "counter_2" -> 10L)
    expectOk("conf counts", Expect.sameCounts("c", counts, counts))
    expectBad("conf counts, csv off by one", Expect.sameCounts("c", counts, counts.updated("file_1", 5L)))

    expectOk("cache", Expect.cacheEmpty(true))
    expectBad("cache, a plan left cached", Expect.cacheEmpty(false))

    if (failures > 0) { System.err.println(s"$failures self-test failures"); sys.exit(1) }
    println("selftest: all checks accept right outputs and reject wrong ones")
  }
}
