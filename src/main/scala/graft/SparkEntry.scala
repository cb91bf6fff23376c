package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Glob
import graft.enrich.Enrich
import graft.operators._
import graft.parsers.{ParserDef, Parsers, RegexFormat}
import graft.route.{Router, SinkSpec}
import graft.sinks.Sinks
import graft.sources.{Fixtures, TokenTable}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * EVERY `queries` entry has a DuckDB-executable oracle in [[oracleSql]]
  * built over the SAME parquet tables (k-means included: training runs on
  * integer-quantized vectors so the oracle re-runs the full unrolled Lloyd
  * bit-exactly; the float-mean variant stays spec-pinned in KMeansSpec);
  * the token-sequence pipeline queries derive the BASELINE-shape input
  * deterministically from `documents` ([[TokenTable]]) so both engines
  * compute over identical rows.
  */
object SparkEntry {

  /** Flagship: the full Fluent-Bit-shaped pipeline — derive token table,
    * apache-parse the CLF payload, grep 5xx, kube-enrich, fan-out route,
    * per-sink count/sum aggregates — on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val toks = TokenTable.fromDocuments(spark, dir)
    val dim = spark.range(0, 10)
      .select(concat(lit("web-"), col("id").cast("string"), lit("_default")).as("pod_key"),
        concat(lit("team-"), col("id").cast("string")).as("team"))
    val spec = graft.run.PipelineSpec(
      grep = Seq(Grep.Regex("code", "^[2345]")), // keep all parsed rows
      sinks = TokenTable.Sinks.map((SinkSpec.apply _).tupled),
      enrichDim = Some(dim))
    graft.run.Pipeline.transform(toks, spec)
      .groupBy(col("sink"))
      .agg(count(lit(1)).as("cnt"), sum(col("n_tok")).as("sum_n_tok"),
        sum(col("parsed.code")).as("sum_code"))
  }

  private val sinkSpecs = TokenTable.Sinks.map((SinkSpec.apply _).tupled)

  /** WITH-clause prefix shared by token-pipeline oracles. */
  private def tokCtes: String =
    s"WITH tokseq AS (${TokenTable.duckdbCte}), parsed AS (${TokenTable.duckdbParsedCte})"

  /** Per-sink UNION oracle body over a source CTE named `rel` that carries
    * `source` — one SELECT per sink with the glob compiled to LIKE.
    */
  private def sinkUnion(rel: String, selectList: String): String =
    TokenTable.Sinks.map { case (name, glob) =>
      s"SELECT '$name' AS sink, $selectList FROM $rel WHERE ${Glob.toSqlPredicate("source", glob)}"
    }.mkString(" UNION ALL ")

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- parse stage: compiled-regex struct extraction (single match/row)
    "fb_parse_apache" -> ((s, dir) => {
      val t = TokenTable.fromDocuments(s, dir)
      t.withColumn("p", Parsers.apache.parsed(col("doc_id")))
        .select(col("seq"),
          col("p.host").as("host"), col("p.user").as("usr"),
          col("p.method").as("method"), col("p.path").as("path"),
          col("p.code").as("code"), col("p.size").as("size"))
    }),

    // -- time lookup: strptime %d/%b/%Y:%H:%M:%S %z → epoch seconds
    "fb_parse_time" -> ((s, dir) => {
      val t = TokenTable.fromDocuments(s, dir)
      val p = Parsers.apache
      t.select(col("seq"),
        unix_timestamp(p.eventTimeOf(p.parsedWithTime(col("doc_id")))).as("tsec"))
    }),

    // -- grep filter: Regex rule on the parsed code field (5xx)
    "fb_grep_5xx" -> ((s, dir) => {
      val t = TokenTable.fromDocuments(s, dir)
      val parsed = t.withColumn("code_s", Parsers.apache.parsed(col("doc_id")).getField("code").cast("string"))
      parsed.filter(Grep.keepPredicate(Seq(Grep.Regex("code_s", "^5")), parsed.col))
        .groupBy(col("source")).agg(count(lit(1)).as("cnt"))
    }),

    // -- router fan-out (duplication semantics) + per-sink count/sum oracle
    "fb_route_fanout" -> ((s, dir) => {
      val t = TokenTable.fromDocuments(s, dir)
      Router.fanOut(t, "source", sinkSpecs)
        .groupBy(col("sink"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_tok")).cast("long").as("sum_n_tok"))
    }),

    // -- end-to-end token passthrough: parse → grep 5xx → route; tokens must
    //    arrive byte-identical (BASELINE per-row invariant). The driver-
    //    compared output carries a portable per-row DIGEST of the array
    //    (fold (h·31+t) mod P — the raw array<int> column crashes the
    //    driver's pandas row-sort; raw-array equality is asserted in
    //    ScalarOracleSpec over 100% of rows).
    "fb_tokens_passthrough" -> ((s, dir) => {
      val t = TokenTable.fromDocuments(s, dir)
      val kept = t.filter(Parsers.apache.parsed(col("doc_id")).getField("code") >= 500)
      Router.fanOut(kept, "source", sinkSpecs)
        .select(col("seq"), col("sink"), col("n_tok"),
          graft.functions.TokenFold(col("tokens")).as("tok_hash"))
    }),

    // -- parser corpus (the remaining shipped parsers.conf definitions,
    //    each over a deterministic fixture line; the oracle reconstructs
    //    the expected fields ARITHMETICALLY — see Fixtures)
    "fb_parse_nginx" -> ((s, dir) => {
      // ONE regex match per row: the event time comes out of the same
      // parse as the fields
      val p = Parsers.nginx
      val f = Fixtures.seqs(s, dir).withColumn("raw", Fixtures.nginxLine)
      f.withColumn("p", p.parsedWithTime(col("raw")))
        .select(col("seq"),
          col("p.remote").as("remote"), col("p.host").as("host"),
          col("p.user").as("usr"), col("p.method").as("method"),
          col("p.path").as("path"), col("p.code").as("code"),
          col("p.size").as("size"), col("p.referer").as("referer"),
          col("p.agent").as("agent"),
          unix_timestamp(p.eventTimeOf(col("p"))).as("tsec"))
    }),

    "fb_parse_apache2" -> ((s, dir) => {
      val f = Fixtures.seqs(s, dir).withColumn("raw", Fixtures.apache2Line)
      f.withColumn("p", Parsers.apache2.parsed(col("raw")))
        .select(col("seq"),
          col("p.host").as("host"), col("p.user").as("usr"),
          col("p.method").as("method"), col("p.path").as("path"),
          col("p.code").as("code"), col("p.size").as("size"),
          col("p.referer").as("referer"), col("p.agent").as("agent"))
    }),

    // optional pid/client groups null out on every 3rd row
    "fb_parse_apache_error" -> ((s, dir) => {
      val f = Fixtures.seqs(s, dir).withColumn("raw", Fixtures.apacheErrorLine)
      f.withColumn("p", Parsers.apacheError.parsed(col("raw")))
        .select(col("seq"),
          col("p.time").as("time"), col("p.level").as("level"),
          col("p.pid").as("pid"), col("p.client").as("client"),
          col("p.message").as("message"))
    }),

    // %L fractional seconds verified at MICROSECOND resolution
    "fb_parse_docker_daemon" -> ((s, dir) => {
      val f = Fixtures.seqs(s, dir).withColumn("raw", Fixtures.dockerDaemonLine)
      f.withColumn("p", Parsers.dockerDaemon.parsedWithTime(col("raw")))
        .select(col("seq"),
          col("p.time").as("time"), col("p.level").as("level"),
          col("p.msg").as("msg"),
          // time read from the same parse — one regex match per row
          unix_micros(Parsers.dockerDaemon.eventTimeOf(col("p"))).as("tus"))
    }),

    // slash-wrapped regex + no-year time (pinned ref-year injection)
    "fb_parse_rfc3164" -> ((s, dir) => {
      val f = Fixtures.seqs(s, dir).withColumn("raw", Fixtures.rfc3164Line)
      f.withColumn("p", Parsers.syslogRfc3164.parsedWithTime(col("raw")))
        .select(col("seq"),
          col("p.pri").as("pri"), col("p.time").as("time"),
          col("p.host").as("host"), col("p.ident").as("ident"),
          col("p.pid").as("pid"), col("p.message").as("message"),
          unix_timestamp(Parsers.syslogRfc3164.eventTimeOf(col("p"))).as("tsec"))
    }),

    // lazy message + optional trailing `<ms>ms` suffix
    "fb_parse_mongodb" -> ((s, dir) => {
      val f = Fixtures.seqs(s, dir).withColumn("raw", Fixtures.mongodbLine)
      f.withColumn("p", Parsers.mongodb.parsedWithTime(col("raw")))
        .select(col("seq"),
          col("p.time").as("time"), col("p.severity").as("severity"),
          col("p.component").as("component"), col("p.context").as("context"),
          col("p.message").as("message"), col("p.ms").as("ms"),
          unix_micros(Parsers.mongodb.eventTimeOf(col("p"))).as("tus"))
    }),

    // generic json parser: schema-on-read projection + time-key removal
    "fb_parse_json" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      // tsec comes out of the ONE from_json that parses the fields; a
      // get_json_object beside it would parse the whole JSON per row again
      // (round-3 10×-phase outlier)
      val p = Parsers.jsonGeneric.copy(jsonSchema = Some(StructType(Seq(
        StructField("k", LongType), StructField("name", StringType),
        StructField("time", StringType)))))
      val f = Fixtures.seqs(s, dir).withColumn("raw", Fixtures.jsonLine)
      f.withColumn("p", p.parsedWithTime(col("raw")))
        .select(col("seq"), col("p.k").as("k"), col("p.name").as("name"),
          unix_timestamp(p.eventTimeOf(col("p"))).as("tsec"))
    }),

    // underscore group names sanitized for java.util.regex, restored on out
    "fb_parse_kube_test" -> ((s, dir) => {
      val f = Fixtures.seqs(s, dir).withColumn("raw", Fixtures.kubeTestTag)
      f.withColumn("p", Parsers.filterKubeTest.parsed(col("raw")))
        .select(col("seq"),
          col("p.pod_name").as("pod_name"),
          col("p.namespace_name").as("namespace_name"),
          col("p.container_name").as("container_name"),
          col("p.docker_id").as("docker_id"))
    }),

    // rfc5424: structured-data alternation + %L time; pri stays a string
    // (the shipped definition has no Types line)
    "fb_parse_rfc5424" -> ((s, dir) => {
      val f = Fixtures.seqs(s, dir).withColumn("raw", Fixtures.rfc5424Line)
      f.withColumn("p", Parsers.syslogRfc5424.parsedWithTime(col("raw")))
        .select(col("seq"),
          col("p.pri").as("pri"), col("p.time").as("time"),
          col("p.host").as("host"), col("p.ident").as("ident"),
          col("p.pid").as("pid"), col("p.msgid").as("msgid"),
          col("p.extradata").as("extradata"), col("p.message").as("message"),
          unix_micros(Parsers.syslogRfc5424.eventTimeOf(col("p"))).as("tus"))
    }),

    // rfc3164-local: no host group, no-year time (ref-year injection)
    "fb_parse_rfc3164_local" -> ((s, dir) => {
      val f = Fixtures.seqs(s, dir).withColumn("raw", Fixtures.rfc3164LocalLine)
      f.withColumn("p", Parsers.syslogRfc3164Local.parsedWithTime(col("raw")))
        .select(col("seq"),
          col("p.pri").as("pri"), col("p.time").as("time"),
          col("p.ident").as("ident"), col("p.pid").as("pid"),
          col("p.message").as("message"),
          unix_timestamp(Parsers.syslogRfc3164Local.eventTimeOf(col("p"))).as("tsec"))
    }),

    // docker: json parse + the DECLARED `Decode_Field_As escaped log` rule
    // applied through ParserFilter.flatten (double-escaped log content
    // resolves to real quotes/newlines); oracle reconstructs the decoded
    // string arithmetically — no JSON machinery on the DuckDB side
    "fb_parse_docker" -> ((s, dir) => {
      val f = Fixtures.seqs(s, dir).withColumn("raw", Fixtures.dockerJsonLine)
      ParserFilter.flatten("raw", Parsers.docker)(f)
        .select(col("seq"), col("log"), col("stream"), col("time"),
          unix_micros(graft.core.TimeParse.parse(
            col("time"), "%Y-%m-%dT%H:%M:%S.%L", 0)).as("tus"))
    }),

    // kube-custom: the in_tail container-path tag shape (no `.*` prefix)
    "fb_parse_kube_custom" -> ((s, dir) => {
      val f = Fixtures.seqs(s, dir).withColumn("raw", Fixtures.kubeCustomTag)
      f.withColumn("p", Parsers.kubeTag.parsed(col("raw")))
        .select(col("seq"),
          col("p.pod_name").as("pod_name"),
          col("p.namespace_name").as("namespace_name"),
          col("p.container_name").as("container_name"),
          col("p.docker_id").as("docker_id"))
    }),

    // Types casts: float / hex / bool fused into the parse expression
    "fb_parse_types" -> ((s, dir) => {
      val p = ParserDef(name = "types-demo", format = RegexFormat,
        regex = "^val=(?<v>[^ ]*) flags=(?<f>[^ ]*) on=(?<b>[^ ]*)$",
        types = Map("v" -> "float", "f" -> "hex", "b" -> "bool"))
      val f = Fixtures.seqs(s, dir).withColumn("raw", Fixtures.typesLine)
      f.withColumn("p", p.parsed(col("raw")))
        .select(col("seq"), col("p.v").as("v"), col("p.f").as("f"),
          col("p.b").as("b"))
    }),

    // -- kube-style enrichment: tag-regex extract + broadcast dim join
    "fb_enrich_kube" -> ((s, dir) => {
      val t = TokenTable.fromDocuments(s, dir)
      val dim = s.read.parquet(s"$dir/nation.parquet")
        .filter(col("n_nationkey") < 10)
        .select(concat(lit("web-"), col("n_nationkey").cast("string"), lit("_default")).as("pod_key"),
          col("n_name").as("team"))
      val meta = Enrich.kubeMeta(col("source"))
      t.withColumn("m", meta)
        .filter(col("m").isNotNull)
        .withColumn("pod_key", concat(col("m.pod_name"), lit("_"), col("m.namespace_name")))
        .join(broadcast(dim), Seq("pod_key"), "left")
        .select(col("seq"), col("m.pod_name").as("pod_name"),
          col("m.namespace_name").as("namespace_name"),
          col("m.container_name").as("container_name"), col("team"))
    }),

    // -- record_modifier: whitelist with trailing-* prefix + case-insensitive
    "fb_record_modifier" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      RecordModifier.whitelistKeys(Seq("EVENT_*", "value"))(ev)
    }),

    // -- nest + lift with prefix
    "fb_nest_lift" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val nested = Nest.nest(Seq("user_id", "value"), "meta")(ev)
      Nest.lift("meta", "meta_")(nested)
        .select(col("event_id"), col("meta_user_id"), col("meta_value"))
    }),

    // -- modify: conditions + sequential rules over a map record
    "fb_modify" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .withColumn("record", map(
          lit("event_type"), col("event_type"),
          lit("props"), col("props")))
      val out = Modify.apply("record",
        conditions = Seq(Modify.KeyExists("event_type")),
        rules = Seq(
          Modify.Rename("event_type", "etype"),
          Modify.Add("env", "prod"),
          Modify.RemoveWildcard("props")))(ev)
      out.select(col("event_id"),
        element_at(col("record"), "etype").as("etype"),
        element_at(col("record"), "env").as("env"),
        size(col("record")).as("nkeys"))
    }),

    // -- parser filter over a JSON field (docker-style)
    "fb_parser_json" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      ev.select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
    }),

    // -- throttle (deterministic event-time reformulation)
    "fb_throttle" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      Throttle.apply("ts", "event_id", 3600, 20.0 / 3600.0)(ev)
        .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
    }),

    // -- throttle, scale-safe two-phase variant — SAME oracle as
    //    fb_throttle (row-identical by construction; this makes the
    //    equivalence driver-visible, not just spec-asserted)
    "fb_throttle_scalable" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      Throttle.scalable("ts", "event_id", 3600, 20.0 / 3600.0, salts = 8)(ev)
        .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
    }),

    // -- flowcounter: tumbling-window counts + sums
    "fb_flowcounter" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      ev.groupBy(date_trunc("hour", col("ts")).as("wstart"))
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"))
    }),

    // -- in_tail source face (plugins/in_tail): glob read, newline split,
    //    dynamic tag composed from the dotted file path — exercised over a
    //    deterministic two-file fixture derived from the table ids (even
    //    ids → app0.log, odd → app1.log). The fixture generator lives in
    //    [[graft.sources.TailFixture]], memoized per input dir: Bench
    //    prep builds it OUTSIDE the timed loop, so this body is pure
    //    read-side (no driver collect/file-write in a timing)
    "fb_tail" -> ((s, dir) => {
      val root = graft.sources.TailFixture.root(s, dir)
      graft.sources.TailSource.lines(s, s"$root/*.log", "tail.*")
        .select(col("line"), col("tag"))
    }),

    // -- in_head source face (in_head.c:40-118): first `lines` lines of
    //    each matched file as ONE record per file under `head`, Add_Path
    //    on — reads the shared TailFixture (memoized; query order never
    //    matters)
    "fb_head" -> ((s, dir) => {
      val root = graft.sources.TailFixture.root(s, dir)
      graft.sources.HeadSource(s, s"$root/*.log",
          tagPattern = "head.*", lines = 3, addPath = true)
        .select(col("head"), col("tag"), col("path"))
    }),

    // -- in_exec source face (in_exec.c:46-100): `sh -c` on the driver
    //    (the reference's popen + single event loop), one record per
    //    stdout line; the command derives from the table size so DuckDB
    //    re-derives every line. ORACLE COUPLING: the Spark side is
    //    count-based (`seq 1 n`), the oracle value-based (doc_id + 1) —
    //    they agree only on fixtures with contiguous 0-based doc_ids
    //    (true of every driver testdata sf; the bench's id-shifted scaled
    //    tables only time this query, never oracle-check it)
    "fb_exec" -> ((s, dir) => {
      val n = s.read.parquet(s"$dir/documents.parquet").count()
      graft.sources.ExecSource(s, s"seq 1 $n")
        .select(col("line"), col("tag"))
    }),

    // -- forward wire ROUND TRIP: pack per-tag frames (the out_forward
    //    half), then decode them back through the in_forward half
    //    (parseFrames) — pack∘unpack ≡ identity becomes driver-checkable,
    //    the oracle re-derives the original records arithmetically
    "fb_forward_roundtrip" -> ((s, dir) => {
      val f = Fixtures.fileSinkRecords(s, dir)
        .select(col("seq"),
          concat(lit("t"), (col("seq") % 3).cast("string")).as("tag"),
          col("sec"), col("nsec").cast("int").as("nsec"),
          map(lit("code"), col("code").cast("string"),
              lit("m"), coalesce(col("msg"), lit("-"))).as("record"))
      // batched per seq%50: only 3 tags exist, and an unbatched frames()
      // would collect_list a third of the table into ONE frame buffer —
      // the exact unbounded-group pattern the frames() scaladoc warns
      // about; parseFrames explodes back to identical rows either way
      val framed = graft.sinks.Forward.frames(f, "tag", "sec", "nsec",
        "record", "seq", batchCols = Seq((col("seq") % 50).as("_b")))
      graft.sinks.Forward.parseFrames(framed, "frame").toDF()
        .select(col("tag"), col("sec"), col("nsec"),
          element_at(col("record"), "code").as("code"),
          element_at(col("record"), "m").as("m"))
    }),

    // -- in_mqtt wire format (mqtt_prot.c:84-108 header/varint +
    //    mqtt_handle_publish:199-256 layout): PUBLISH packet bytes built
    //    per row, compared as hex — DuckDB reconstructs the bytes from the
    //    layout constants + to_hex arithmetic (same pattern as
    //    fb_forward_frame). Encode runs on the executors via a typed map.
    "fb_mqtt_frame" -> ((s, dir) => {
      import s.implicits._
      Fixtures.seqs(s, dir).select(col("seq")).as[Long].map { seq =>
        val bytes = graft.sources.Mqtt.publishBytes(
          s"t/${seq % 5}", s"""{"k":$seq}""".getBytes("UTF-8"),
          qos = (seq % 3).toInt, packetId = (seq % 100).toInt)
        (seq, bytes)
      }.toDF("seq", "frame")
        .select(col("seq"), lower(hex(col("frame"))).as("frame_hex"))
    }),

    // -- in_mqtt decode (mqtt_prot_parser, mqtt_prot.c:276-388): encode ∘
    //    decode ≡ identity, decoded DISTRIBUTED; the oracle re-derives the
    //    original topic/qos/id/payload arithmetically, so the broker-side
    //    parser is checked against independent arithmetic, not a second
    //    run of itself
    "fb_mqtt_roundtrip" -> ((s, dir) => {
      import s.implicits._
      Fixtures.seqs(s, dir).select(col("seq")).as[Long].map { seq =>
        val qos = (seq % 3).toInt
        val payload = s"""{"k":$seq}""".getBytes("UTF-8")
        val bytes = graft.sources.Mqtt.publishBytes(
          s"t/${seq % 5}", payload, qos, packetId = (seq % 100).toInt)
        val (pkts, consumed, err) = graft.sources.Mqtt.decode(bytes)
        val p = pkts.head.asInstanceOf[graft.sources.Mqtt.Publish]
        graft.sources.MqttPublishRow(seq, p.topic, p.qos, p.packetId,
          new String(p.payload, "UTF-8"),
          clean = pkts.length == 1 && consumed == bytes.length && !err)
      }.toDF()
    }),

    // -- in_kmsg record semantics (in_kmsg.c:108-210): priority masking
    //    (raw & 7), monotonic usec split, boot-relative event time, msg
    //    after ';' — the oracle re-derives every field arithmetically
    //    from the same doc_id the fixture line was built from
    "fb_kmsg" -> ((s, dir) => {
      val lines = Fixtures.seqs(s, dir).select(col("seq"),
        concat(((col("seq") * 13) % 192).cast("string"), lit(","),
          col("seq").cast("string"), lit(","),
          ((col("seq") * 1009) % 100000000).cast("string"),
          lit(";kmsg message "), col("seq").cast("string")).as("line"))
      graft.sources.Kmsg.parse(lines, "line", bootSec = TokenTable.BaseEpoch)
        .select(col("seq"), unix_micros(col("ts")).as("ts_us"), col("priority"),
          col("sequence"), col("sec"), col("usec"), col("msg"))
    }),

    // -- in_serial separator record formation (in_serial.c:162-190):
    //    leading-CR strip, empty segment skipped, unterminated tail
    //    dropped; runs distributed via the Column-level segments()
    "fb_serial_split" -> ((s, dir) => {
      val f = Fixtures.seqs(s, dir).select(col("seq"),
        concat(lit("\r"), lit("m"), col("seq").cast("string"), lit("||"),
          lit("n"), col("seq").cast("string"), lit("|"),
          lit("tail-stays-buffered")).as("stream"))
      f.select(col("seq"),
        explode(graft.sources.Serial.segments(col("stream"), "|")).as("msg"))
    }),

    // -- in_dummy source face (in_dummy.c:36-61): n copies of a fixed
    //    record with sequenced timestamps — the driver-checkable face of
    //    the seeded dev source (in_random stays spec-only: Spark's rand()
    //    is partitioning-dependent, not engine-portable). Same
    //    count-based-vs-value-based oracle coupling as fb_exec: needs
    //    contiguous 0-based doc_ids, true of every driver fixture
    "fb_dummy" -> ((s, dir) => {
      val n = s.read.parquet(s"$dir/documents.parquet").count()
      graft.sources.Generators.dummy(s, n, Map("message" -> "dummy"))
        .select(col("ts"), element_at(col("record"), "message").as("message"))
    }),

    // -- scripted (lua-protocol) filter: the reference cb(tag, ts, record)
    //    drop/keep/replace protocol (filter_lua/lua.c:333-393) over a
    //    registered Scala function (no Lua VM offline — SURVEY §2.7
    //    deviation); the callback is deterministic arithmetic so DuckDB
    //    re-derives the drop set and the rewrites independently
    "fb_scripted" -> ((s, dir) => {
      import graft.operators.Scripted
      Scripted.LuaRegistry.register("bench.lua:cb_bench", (_, ts, rec) => {
        if (rec("code").startsWith("5")) (-1, ts, rec) // drop 5xx-class codes
        else if (rec("seq").toLong % 10 == 0)
          (1, ts, rec.updated("msg",
            Option(rec("msg")).map(_.toUpperCase + " [scripted]").orNull))
        else (0, ts, rec)
      })
      val f = Fixtures.fileSinkRecords(s, dir)
      Scripted.applyLua(f, Scripted.LuaRegistry.resolve("bench.lua", "cb_bench"))
        .select(col("seq"), col("msg"), col("code"), col("ok"))
    }),

    // -- out_kafka per-record topic selection (kafka.c:104-133): topic =
    //    record[Topic_Key] if present else the configured default; the
    //    per-topic routed-row count is the driver-checkable face
    "fb_kafka_topic" -> ((s, dir) => {
      val f = Fixtures.seqs(s, dir).withColumn("topic_key",
        when(col("seq") % 3 === 0,
          concat(lit("t-"), (col("seq") % 4).cast("string"))))
      f.groupBy(graft.sinks.Sinks.kafkaTopic(col("topic_key"), "logs").as("topic"))
        .agg(count(lit(1)).as("cnt"))
    }),

    // -- classic aggregates / joins / windows (engine breadth)
    "q1_agg" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("cnt"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_price_cents"))
    }),
    "q_join_agg" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      val n = s.read.parquet(s"$dir/nation.parquet")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
    }),
    "q_semi_join" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      o.join(li.select(col("l_orderkey")), o("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("cnt"))
    }),
    "q_anti_join" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      c.join(o.select(col("o_custkey")), c("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
    }),
    // -- scale-safe per-group top-k (bounded O(k) aggregation buffer with
    //    map-side combine) — SAME oracle as the window formulation
    //    q_window_topk, proving row identity of the two plans
    "q_group_topk" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      TopK.perGroup(o, "o_custkey", "o_totalprice", "o_orderkey", 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rank").as("rn"))
    }),

    // -- as-of join: latest per-user dim row at-or-before the event time
    //    (dims derived identically in both engines; DuckDB checks with its
    //    native ASOF JOIN — an independent algorithm, not a port)
    "q_asof_join" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val days = ev.select(col("user_id"), date_trunc("day", col("ts")).as("d")).distinct()
      val dims = days
        .select(col("user_id"), col("d"), explode(sequence(lit(0), lit(3))).as("k"))
        .select(col("user_id"),
          timestamp_micros(unix_micros(col("d")) + col("k") * 21600000000L).as("ts_d"),
          (col("user_id") * 10 + col("k")).cast("long").as("val"))
      AsOfJoin.lastBefore(ev, "user_id", "ts", dims, "user_id", "ts_d", "val")
        .select(col("event_id"), col("val"))
    }),

    // -- as-of join, broadcast-dim variant: events stay UNSHUFFLED (narrow
    //    binary-search lookup over a driver-collected timeline + broadcast
    //    payload attach) — same DuckDB ASOF oracle proves equivalence
    "q_asof_join_bcast" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val days = ev.select(col("user_id"), date_trunc("day", col("ts")).as("d")).distinct()
      val dims = days
        .select(col("user_id"), col("d"), explode(sequence(lit(0), lit(3))).as("k"))
        .select(col("user_id"),
          timestamp_micros(unix_micros(col("d")) + col("k") * 21600000000L).as("ts_d"),
          (col("user_id") * 10 + col("k")).cast("long").as("val"))
      AsOfJoin.lastBeforeBroadcast(ev, "user_id", "ts", dims, "user_id", "ts_d", Seq("val"))
        .select(col("event_id"), col("val"))
    }),

    // -- as-of join, hot-key pre-split variant: same semantics, windows
    //    partitioned by (key, day bucket) + tiny carry table — same DuckDB
    //    ASOF oracle proves equivalence
    "q_asof_join_scalable" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val days = ev.select(col("user_id"), date_trunc("day", col("ts")).as("d")).distinct()
      val dims = days
        .select(col("user_id"), col("d"), explode(sequence(lit(0), lit(3))).as("k"))
        .select(col("user_id"),
          timestamp_micros(unix_micros(col("d")) + col("k") * 21600000000L).as("ts_d"),
          (col("user_id") * 10 + col("k")).cast("long").as("val"))
      AsOfJoin.lastBeforeScalable(ev, "user_id", "ts", dims, "user_id", "ts_d",
          Seq("val"), t => date_trunc("day", t))
        .select(col("event_id"), col("val"))
    }),

    "q_window_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = s.read.parquet(s"$dir/orders.parquet")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"))
    }),

    // -- training-data ops: exact dedup. Groups by an 8-byte CONTENT HASH,
    //    not the full text — the shuffle key at 100 TB is fixed-width
    //    (DuckDB groups by hash(text): different hash function, identical
    //    GROUPING, so (keeper, n_copies) match while neither engine
    //    shuffles whole documents)
    "dedup_exact" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.groupBy(xxhash64(col("text")))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .select(col("keeper"), col("n_copies"))
    }),

    // -- MinHash signatures over token 3-shingles (8 portable hash fns);
    //    two projections: fused array once, then cheap slot reads
    "dedup_minhash" -> ((s, dir) => {
      val t = TokenTable.fromDocuments(s, dir)
      t.select(col("seq"), Dedup.minhashSigArray(col("tokens"), 8).as("sig"))
        .select(col("seq") +: (0 until 8).map(j => element_at(col("sig"), j + 1).as(s"mh$j")): _*)
    }),

    // -- sequence packing (concat-and-chunk): each doc's token span and
    //    ctx-window range under a 256-token context with 1 separator —
    //    two-phase distributed prefix sum, integer-exact both engines
    "pack_chunks" -> ((s, dir) => {
      val t = TokenTable.fromDocuments(s, dir)
      graft.operators.Packing.packedSpans(t, "seq", "n_tok", ctxLen = 256, sepTokens = 1)
    }),

    // -- MinHash LSH candidate pairs on a table with manufactured dups
    //    (tokens of seq-seq%2 → each even/odd pair identical)
    "dedup_lsh_pairs" -> ((s, dir) => {
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").as("id"),
          TokenTable.tokensFor(col("doc_id") - col("doc_id") % 2).as("tokens"))
      Dedup.lshCandidatePairs(base, "id", "tokens", numHashes = 8, rowsPerBand = 2)
    }),

    // -- connected components over candidate pairs: chains of 5 consecutive
    //    ids (edge i→i+1 unless i%5==4) must collapse to comp = id−id%5 —
    //    the cluster→canonical-keeper step of a dedup pipeline
    "dedup_cc" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val mx = d.agg(max(col("doc_id"))).collect()(0).getLong(0)
      val pairs = d.filter(col("doc_id") % 5 =!= 4 && col("doc_id") < mx)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      Dedup.connectedComponents(pairs, "id_a", "id_b")
    }),

    // -- same clustering via alternating large-star/small-star (the
    //    O(log diameter) variant for high-diameter graphs) — identical
    //    output contract, same arithmetic oracle
    "dedup_cc_star" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val mx = d.agg(max(col("doc_id"))).collect()(0).getLong(0)
      val pairs = d.filter(col("doc_id") % 5 =!= 4 && col("doc_id") < mx)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      Dedup.connectedComponentsStar(pairs, "id_a", "id_b")
    }),

    // -- the CANONICAL near-dup pipeline: LSH candidates → verify (true
    //    token equality — kills band-key collision false positives) →
    //    connected components → canonical keeper per cluster + all
    //    never-candidate docs. Manufactured even/odd dups make the keeper
    //    set pure arithmetic for the oracle.
    "curate_neardup" -> ((s, dir) => {
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").as("id"),
          TokenTable.tokensFor(col("doc_id") - col("doc_id") % 2).as("tokens"))
      val cand = Dedup.lshCandidatePairs(base, "id", "tokens", numHashes = 8, rowsPerBand = 2)
      val verified = cand
        .join(base.select(col("id").as("id_a"), col("tokens").as("ta")), Seq("id_a"))
        .join(base.select(col("id").as("id_b"), col("tokens").as("tb")), Seq("id_b"))
        .filter(col("ta") === col("tb"))
        .select(col("id_a"), col("id_b"))
      val comp = Dedup.connectedComponents(verified, "id_a", "id_b")
      val keepers = comp.filter(col("id") === col("comp")).select(col("id"))
      val neverCandidate = base.select(col("id"))
        .join(comp.select(col("id")), Seq("id"), "left_anti")
      keepers.union(neverCandidate).select(col("id").as("doc_id"))
    }),

    // -- SimHash (16-bit) over token ids
    "dedup_simhash" -> ((s, dir) => {
      val t = TokenTable.fromDocuments(s, dir)
      t.select(col("seq"), Dedup.simhash(col("tokens"), 16).as("simhash"))
    }),

    // -- word-3-gram Jaccard components between consecutive docs (fused
    //    one-pass overlap; alias barrier keeps ONE eval per row pair)
    "dedup_ngram_jaccard" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      val a = d.as("a"); val b = d.as("b")
      a.join(b, col("b.doc_id") === col("a.doc_id") + 1)
        .withColumn("ov", Dedup.ngramOverlapStruct(col("a.text"), col("b.text"), 3))
        .select(col("a.doc_id").as("doc_id"),
          col("ov.inter").as("inter"), col("ov.uni").as("uni"))
    }),

    // -- embedding cosine between consecutive vectors (exact fp fold)
    "sim_cosine_pairs" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val a = e.as("a"); val b = e.as("b")
      a.join(b, col("b.vec_id") === col("a.vec_id") + 1)
        .select(col("a.vec_id").as("vec_id"),
          Similarity.cosine(col("a.embedding"), col("b.embedding")).as("cos"))
    }),

    // -- brute-force ANN: top-5 cosine neighbors for the first 20 vectors
    "ann_topk" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(q, "qid", "qvec",
        e.select(col("vec_id").as("cid"), col("embedding").as("cvec")), "cid", "cvec", 5)
    }),

    // -- IVF cell assignment (centroids = first 16 vectors): the inverted-
    //    file ANN structure; DuckDB recomputes the argmin independently
    "sim_ivf_assign" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val cents = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
      Similarity.ivfAssign(
        e.select(col("vec_id"), col("embedding")), "vec_id", "embedding", cents)
        .select(col("vec_id"), col("cell"))
    }),

    // -- k-means-trained IVF: 8 centroids, 2 Lloyd iterations over
    //    INTEGER-QUANTIZED vectors (half-up floor ×1000 + offset — the
    //    same portable-arithmetic trick as sim_quantize), then the narrow
    //    cell assignment. Integer sums + floor-division means make every
    //    step bit-reproducible, so the DuckDB oracle re-runs the FULL
    //    unrolled Lloyd independently — centroids AND assignments match
    //    exactly.
    "sim_kmeans_cells" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val q = e.select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1000d + 0.5d) + 1000L).as("qv"))
      val cents = graft.operators.KMeans.fitInt(q, "vec_id", "qv", 8, 2)
      Similarity.ivfAssign(q, "vec_id", "qv",
          cents.select(col("cent_id"), col("qvec").cast("array<double>").as("cvec")))
        .select(col("vec_id"), col("cell"))
    }),

    // -- k-means-trained IVF queried END-TO-END: train (integer Lloyd,
    //    bit-reproducible), assign every vector to its one cell, probe the
    //    2 nearest cells per query, cosine top-5 among candidates — the
    //    full ANN lifecycle under ONE DuckDB oracle that independently
    //    re-runs training + probe + scoring (cosine sequential fold is
    //    bit-identical across engines, proven by ann_topk)
    "sim_ivf_kmeans_topk" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val q = e.select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1000d + 0.5d) + 1000L).as("qv"))
      val cents = graft.operators.KMeans.fitInt(q, "vec_id", "qv", 8, 2)
        .select(col("cent_id"), col("qvec").cast("array<double>").as("cvec"))
      val qd = q.select(col("vec_id"), col("qv").cast("array<double>").as("v"))
      Similarity.ivfTopK(
        qd.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("v").as("qv")), "qid", "qv",
        qd.select(col("vec_id").as("cid"), col("v").as("cv")), "cid", "cv",
        cents, k = 5, nprobe = 2)
    }),

    // -- random-projection d→k reduction (pre-ANN shrink): same SRP
    //    hyperplanes as sim_srp_buckets, raw projections (bit-exact
    //    sequential folds). Emitted as SCALAR columns rp0..rp7 (not one
    //    array column) so the driver's pandas comparator can sort the
    //    result — an array cell is unhashable there (round-4 err row).
    "sim_rp_reduce" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      e.select(col("vec_id"),
          Similarity.randomProject(col("embedding"), 8).as("rp"))
        .select(col("vec_id") +:
          (0 until 8).map(p => element_at(col("rp"), p + 1).as(s"rp$p")): _*)
    }),

    // -- search IN THE REDUCED SPACE: brute-force cosine top-3 over the
    //    8-dim projections — proves the projected vectors are usable
    //    end-to-end (project → index → query), all under one independent
    //    DuckDB re-derivation
    "sim_rp_topk" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val r = e.select(col("vec_id"),
        Similarity.randomProject(col("embedding"), 8).as("rp"))
      Similarity.bruteForceTopK(
        r.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("rp").as("qvec")),
        "qid", "qvec",
        r.select(col("vec_id").as("cid"), col("rp").as("cvec")),
        "cid", "cvec", 3)
    }),

    // -- embedding near-dup pairs: SRP bucket join + cosine (threshold 0 →
    //    all same-bucket pairs, exact doubles both sides)
    "dedup_embed_pairs" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      // maxBucket raised above any fixture bucket: this query's DuckDB
      // oracle enumerates ALL same-bucket pairs, so the oracle-facing
      // call must be uncapped; the library default (1000) is the
      // production skew guard (SimilaritySpec proves its bound)
      Similarity.embeddingNearDupPairs(
        e.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
        threshold = 0.0, planes = 8, maxBucket = 1 << 20)
    }),

    // -- int8 embedding quantization: per-row scale + portable digest of
    //    the codes (explicit half-up floor — engine-identical arithmetic)
    "sim_quantize" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      e.withColumn("qz", Similarity.quantizeInt8(col("embedding")))
        .select(col("vec_id"), col("qz.scale").as("scale"),
          graft.functions.TokenFold(col("qz.q")).as("q_hash"))
    }),

    // -- LSH (sign-random-projection) bucket histogram — the ANN scale path
    "sim_srp_buckets" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      e.select(Similarity.srpBucket(col("embedding"), 8).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    }),

    // -- text quality components (integer-exact; fused one-pass TextStats)
    "text_quality" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"), TextAnalysis.stats(col("text")).as("st"))
        .select(col("doc_id"),
          col("st.n_words").as("n_words"), col("st.n_uniq").as("n_uniq"),
          col("st.sum_wlen").as("sum_wlen"), col("st.n_punct").as("n_punct"),
          col("st.n_stop").as("n_stop"))
    }),

    // -- language id (marker heuristic, fixed tie order; fused stats)
    "text_langid" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"), TextAnalysis.stats(col("text")).as("st"))
        .select(col("doc_id"), TextAnalysis.languageIdFrom(col("st")).as("pred_lang"))
    }),

    // -- token counting: whitespace + BPE-ish regex
    "text_tokens" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"),
        TextAnalysis.tokenCountWs(col("text")).as("n_ws"),
        TextAnalysis.tokenCountBpe(col("text")).as("n_bpe"))
    }),

    // -- text normalization (dedup-key cleaning): strip punct, collapse
    //    whitespace, trim, lowercase
    "text_normalize" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"), TextAnalysis.normalize(col("text")).as("norm"))
    }),

    // -- PII redaction over fixture lines embedding emails + IPv4 in real
    //    document text (same RE2-safe regexes both engines)
    "text_redact" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val line = concat(
        lit("from user"), (col("doc_id") % 31).cast("string"),
        lit("@ex"), (col("doc_id") % 7).cast("string"),
        lit(".com at 10.0."), (col("doc_id") % 256).cast("string"),
        lit("."), (col("doc_id") % 100).cast("string"),
        lit(" wrote: "), col("text"))
      d.select(col("doc_id"), TextAnalysis.redactPii(line).as("redacted"))
    }),

    // -- deterministic hash sampling (portable face): exact row set
    //    reproducible by any engine
    "corpus_sample" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      Sampling.samplePortable(d, "doc_id", 10).select(col("doc_id"))
    }),

    // -- stratified per-source mixture: the data-mixing op — three weight
    //    tiers (src0-3 full, src4-9 half, rest 10%), nested/deterministic
    "corpus_mix" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val rates = (0 to 3).map(i => s"src$i" -> 100).toMap ++
        (4 to 9).map(i => s"src$i" -> 50).toMap
      Sampling.stratifiedSample(d, "doc_id", "source", rates, defaultPct = 10)
        .select(col("doc_id"), col("source"))
    }),

    // -- cross-document repeated SPANS (dedup the substrings, not just
    //    the docs): every 8-word-gram position whose gram occurs in >1
    //    distinct document — the boilerplate-removal detection pass
    "text_repeated_spans" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      Dedup.crossDocRepeatedSpans(d, "doc_id", "text", 8)
    }),

    // -- the production span-detection face: shuffle key = xxhash64(gram)
    //    (8 bytes, not the ~50-byte string) + per-gram occurrence cap 64
    //    so one boilerplate gram can't blow up the flag-back join; the
    //    oracle re-derives the cap over the string gram (collision-free
    //    on the fixture — DedupSpec pins hashed ≡ string-key)
    "text_repeated_spans_hashed" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      Dedup.crossDocRepeatedSpansHashed(d, "doc_id", "text", 8, maxOcc = 64L)
    }),

    // -- repeated-span REMOVAL: flagged grams keep only their canonical
    //    (min doc, min pos) occurrence; other occurrences' words dropped
    "text_strip_spans" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      Dedup.stripRepeatedSpans(d, "doc_id", "text", 8)
    }),

    // -- hashed-key span REMOVAL (production face): the whole strip
    //    pipeline shuffles 8-byte gram hashes — gram strings never leave
    //    the map side; cap 64 mirrors the detection face
    "text_strip_spans_hashed" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      Dedup.stripRepeatedSpansHashed(d, "doc_id", "text", 8, maxOcc = 64L)
    }),

    // -- token heavy-hitters: corpus-wide frequency top-20 (deterministic
    //    tie-break) — the "what's in my training data" staple
    "text_top_tokens" -> ((s, dir) => {
      val t = TokenTable.fromDocuments(s, dir)
      t.select(explode(col("tokens")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token"))
        .limit(20)
    }),

    // -- decontamination: docs sharing a token shingle with the benchmark
    //    subset (every 50th doc; manufactured dups give even/odd twins) —
    //    the oracle recomputes ground truth via list_intersect, so even
    //    accidental shingle collisions stay correct
    "text_contaminated" -> ((s, dir) => {
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").as("seq"),
          TokenTable.tokensFor(col("doc_id") - col("doc_id") % 2).as("tokens"))
      val bench = base.filter(col("seq") % 50 === 0)
      Dedup.contaminatedIds(base, "seq", "tokens", bench, "tokens")
    }),

    // -- sessionization: 30-minute-gap sessions per user over events
    "q_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = s.read.parquet(s"$dir/events.parquet")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      // gap compared in MICROSECONDS: second-level truncation vs DuckDB's
      // rounding would disagree near the boundary
      val tsUtc = col("ts").cast("timestamp") // parquet NTZ → session-UTC instant
      val newSession = when(
        unix_micros(tsUtc) - unix_micros(lag(tsUtc, 1).over(w)) > 1800000000L
          || lag(col("ts"), 1).over(w).isNull, 1).otherwise(0)
      ev.withColumn("_new", newSession)
        .withColumn("session_id",
          sum(col("_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"))
        .agg(max(col("session_id")).cast("long").as("n_sessions"),
          count(lit(1)).as("n_events"))
    }),

    // -- rolling-hash document fingerprint (fused stats)
    "text_fingerprint" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"), TextAnalysis.stats(col("text")).getField("fp").as("fp"))
    }),

    // -- multimodal plumbing: binary column → batched decode stub
    "multimodal_features" -> ((s, dir) => Multimodal.featuresFrame(s, dir)),

    // -- REAL header decode: docs wrapped in a minimal PNG container whose
    //    IHDR dims derive from doc_id; the engine recovers width/height
    //    FROM THE BYTES (core.ImageHeader), the oracle re-derives them
    //    from the id formula — two independent paths, same numbers
    "multimodal_image_dims" -> ((s, dir) => {
      Multimodal.decodeFeatures(Multimodal.pngRecords(s, dir)).toDF()
        .select(col("doc_id"), col("n_bytes"), col("head_sum"),
          col("width"), col("height"))
    }),

    // -- multimodal resize: binary payload REWRITTEN in the batched map
    //    (stub resampler = every-kth-byte); oracle recomputes the output
    //    byte stream from the text arithmetically
    "multimodal_resize" -> ((s, dir) => {
      import s.implicits._
      Multimodal.resize(Multimodal.fromDocuments(s, dir), 64, 64)
        .map(r => (r.doc_id, r.width, r.height, r.media.length.toLong,
          r.media.foldLeft(0L)((a, b) => a + (b & 0xff))))
        .toDF("doc_id", "width", "height", "n_bytes", "byte_sum")
    }),

    // -- multimodal frame sampling: one row → n frame rows (flatMap shape)
    "multimodal_frames" -> ((s, dir) => {
      import s.implicits._
      Multimodal.sampleFrames(Multimodal.fromDocuments(s, dir), everyNth = 2, maxFrames = 4)
        .map(f => (f.doc_id, f.frame_no, f.frame.length.toLong,
          f.frame.foldLeft(0L)((a, b) => a + (b & 0xff))))
        .toDF("doc_id", "frame_no", "n_bytes", "byte_sum")
    }),

    // -- the CURATION capstone: quality gate → language gate → exact-dedup
    //    keeper — the training-data pipeline the operators compose into
    "curate_corpus" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val scored = d.select(col("doc_id"), col("text"), TextAnalysis.stats(col("text")).as("st"))
        .select(col("doc_id"), col("text"),
          col("st.n_words").as("n_words"),
          TextAnalysis.languageIdFrom(col("st")).as("pred_lang"))
      val kept = scored.filter(col("n_words") >= 30 && col("pred_lang") === "en")
      // keeper = the min-id row per content hash as ONE map-side-combinable
      // aggregate over (hash, id, n_words) triples — row-identical to the
      // former aggregate + left-semi-join (doc_ids are unique, so "id ∈
      // {group minima}" ⇔ "id = min of its own group") but with ONE scan +
      // TextStats pass instead of two and ONE exchange instead of two;
      // document bodies still never shuffle (struct min compares doc_id
      // first — unique per group — so the min row's n_words rides along)
      kept.groupBy(xxhash64(col("text")).as("_h"))
        .agg(min(struct(col("doc_id"), col("n_words"))).as("_k"))
        .select(col("_k.doc_id").as("doc_id"), col("_k.n_words").as("n_words"))
    }),

    // -- decoder: escaped backend (Decode_Field_As escaped), oracle
    //    reconstructs the expected unescape arithmetically
    "fb_decode_escaped" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"),
        graft.functions.Decoders.escaped(
          concat(lit("line1\\nline2\\t"), col("text"))).as("decoded"))
    }),

    // -- forward-protocol wire format: one frame per row (batch = seq),
    //    compared as hex — DuckDB reconstructs the msgpack bytes from the
    //    layout constants + to_hex arithmetic
    "fb_forward_frame" -> ((s, dir) => {
      val f = Fixtures.seqs(s, dir).select(
        col("seq"), lit("x").as("tag"),
        (lit(TokenTable.BaseEpoch) + col("seq") % 3600).as("sec"),
        lit(0).as("nsec"),
        map(lit("k"), col("seq").cast("string")).as("rec"))
      graft.sinks.Forward.frames(f, "tag", "sec", "nsec", "rec", "seq",
          batchCols = Seq(col("seq")))
        .select(col("seq"), col("n_entries"),
          lower(hex(col("frame"))).as("frame_hex"))
    }),

    // -- ES Generate_ID, WIRE-COMPATIBLE (es.c:229-287): the hash input is
    //    the reference's full per-record buffer — map(size+1) with the
    //    @timestamp entry (strftime + unpadded ".<ms>Z") packed BEFORE the
    //    dot-sanitized content. Oracle = byte-exact fixture VALUES produced
    //    by COMPILING the reference's vendored murmur3.c over that exact
    //    buffer layout, so these ids equal what a reference es output with
    //    Generate_ID On emits for the same record + timestamp
    "fb_es_id" -> ((s, dir) => {
      Fixtures.seqs(s, dir).filter(col("seq") < 16)
        .select(col("seq"),
          graft.functions.EsIdFunctions.esIdWithTime(
            map(lit("log.level"), (col("seq") % 6).cast("string"),
              lit("msg"), concat(lit("m "), col("seq").cast("string"))),
            lit(TokenTable.BaseEpoch) + col("seq") % 3600,
            col("seq") % 1000).as("es_id"))
    }),

    // -- ES id, content-only variant (no injected time key): deterministic
    //    per record content — the dedup-friendly form; fixtures likewise
    //    pinned via the compiled reference murmur3.c
    "fb_es_id_content" -> ((s, dir) => {
      Fixtures.seqs(s, dir).filter(col("seq") < 16)
        .select(col("seq"),
          graft.functions.EsIdFunctions.esId(
            map(lit("log.level"), (col("seq") % 6).cast("string"),
              lit("msg"), concat(lit("m "), col("seq").cast("string")))).as("es_id"))
    }),

    // -- out_file byte-exact line formats (file.c:117-229): the line column
    //    carries the exact bytes the reference appends per record (minus
    //    the trailing newline the text writer adds). Values cover every
    //    msgpack_object_print / msgpack2json branch: quoted string (nil
    //    every 7th row), integer, %f double, boolean
    "fb_file_csv" -> ((s, dir) => {
      val f = Fixtures.fileSinkRecords(s, dir)
      f.select(col("seq"), graft.sinks.FileFormat
        .csvLine(f, "sec", "nsec", Seq("msg", "code", "ratio", "ok")).as("line"))
    }),

    "fb_file_ltsv" -> ((s, dir) => {
      val f = Fixtures.fileSinkRecords(s, dir)
      f.select(col("seq"), graft.sinks.FileFormat
        .ltsvLine(f, "sec", "nsec", Seq("msg", "code", "ratio", "ok")).as("line"))
    }),

    "fb_file_json" -> ((s, dir) => {
      val f = Fixtures.fileSinkRecords(s, dir)
      f.select(col("seq"), graft.sinks.FileFormat
        .jsonLine(f, "tag", "sec", "nsec", Seq("msg", "code", "ratio", "ok")).as("line"))
    }),

    // -- out_stdout line bytes (stdout.c:55-59): '[cnt] tag: [sec.9dign,
    //    {record}]' — raw sec.nsec (NOT %f), record via msgpack_object_print
    "fb_stdout_line" -> ((s, dir) => {
      val f = Fixtures.fileSinkRecords(s, dir)
      f.select(col("seq"), graft.sinks.FileFormat.stdoutLine(
        f, "seq", "tag", "sec", "nsec", Seq("msg", "code", "ratio", "ok")).as("line"))
    }),

    // -- out_plot line bytes (plot.c:160-171): '%f value'
    "fb_plot_line" -> ((s, dir) => {
      val f = Fixtures.fileSinkRecords(s, dir)
      f.select(col("seq"),
        graft.sinks.FileFormat.plotLine(f, "sec", "nsec", "code").as("line"))
    }),

    // -- ES Bulk-API chunk bytes (es_bulk.h:27 + es.c:229-287): index
    //    action line + record json with @timestamp FIRST (strftime +
    //    UNPADDED .msecZ fraction — es.c:215 divides tv_nsec by 1e6
    //    before printing, "ES only supports fractional ms")
    "fb_es_bulk" -> ((s, dir) => {
      val f = Fixtures.fileSinkRecords(s, dir)
      f.select(col("seq"), graft.sinks.Sinks.esBulkChunk(
        f, "sec", "nsec", Seq("msg", "code", "ratio", "ok"),
        index = lit("fluent-bit")).as("chunk"))
    }),

    // -- InfluxDB line protocol (influxdb.c:88-278): 'tag,_seq=N k=v,...
    //    ns' — uppercase booleans, escaped quoted strings, nulls skipped,
    //    NO i-suffix on integers (the reference predates it)
    "fb_influx_line" -> ((s, dir) => {
      val f = Fixtures.fileSinkRecords(s, dir)
      f.select(col("seq"), graft.sinks.Sinks.influxLine(
        f, "tag", "seq", "sec", "nsec", Seq("msg", "code", "ratio", "ok")).as("line"))
    }),

    // -- out_nats payload entry (nats.c:105-150): '[%f, {"tag":..., rec}]'
    "fb_nats_payload" -> ((s, dir) => {
      val f = Fixtures.fileSinkRecords(s, dir)
      f.select(col("seq"), graft.sinks.Sinks.natsEntry(
        f, "tag", "sec", "nsec", Seq("msg", "code", "ratio", "ok")).as("entry"))
    }),

    // -- out_http json record (http.c:67-124), ISO8601 date form (µs,
    //    zero-padded — unlike es bulk's raw-nsec fraction)
    "fb_http_json" -> ((s, dir) => {
      val f = Fixtures.fileSinkRecords(s, dir)
      f.select(col("seq"), graft.sinks.Sinks.httpJsonRecord(
        f, "sec", "nsec", Seq("msg", "code", "ratio", "ok"),
        iso8601 = true).as("record"))
    }),

    // -- Splunk HEC event (splunk.c:85-134): '{"time":%f, "event":{rec}}'
    "fb_splunk_event" -> ((s, dir) => {
      val f = Fixtures.fileSinkRecords(s, dir)
      f.select(col("seq"), graft.sinks.Sinks.splunkEvent(
        f, "sec", "nsec", Seq("msg", "code", "ratio", "ok")).as("event"))
    }),

    // -- ns-fidelity time envelope (struct flb_time): 9-digit %L fractions
    //    kept at ns resolution, µs timestamp derived for windowing
    "fb_time_ns" -> ((s, dir) => {
      import graft.core.{FlbTime, TimeParse}
      val f = Fixtures.seqs(s, dir).withColumn("raw", concat(
        lit("2017-07-17T20:17:03."),
        lpad(((col("seq") * 2654435761L) % 1000000000L).cast("string"), 9, "0")))
      f.withColumn("t", TimeParse.parseNs(col("raw"), "%Y-%m-%dT%H:%M:%S.%L"))
        .select(col("seq"), col("t.sec").as("sec"), col("t.nsec").as("nsec"),
          unix_micros(FlbTime.toTimestamp(col("t"))).as("tus"))
    }),

    // -- decoder rule CHAIN: Decode_Field_As escaped do_next + Decode_Field
    //    json (the docker shape) — in-place unescape, then decoded JSON keys
    //    appended as extra keys
    "fb_decode_chain" -> ((s, dir) => {
      import graft.parsers.ParserConfLoader.DecoderRule
      val chain = Seq(
        DecoderRule("escaped", "log", action = "do_next", inPlace = true),
        DecoderRule("json", "log", action = "", inPlace = false))
      Fixtures.seqs(s, dir)
        .withColumn("record", map(
          lit("log"), Fixtures.dockerLogLine,
          lit("stream"), lit("stdout")))
        .withColumn("record", DecoderChain(col("record"), chain))
        .select(col("seq"),
          element_at(col("record"), "log").as("log"),
          element_at(col("record"), "stream").as("stream"),
          element_at(col("record"), "k").as("k"),
          element_at(col("record"), "msg").as("msg"),
          size(col("record")).as("nkeys"))
    }),

    // -- Spark-4 Variant for schema-dynamic JSON (the msgpack-map analog)
    "fb_variant_json" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      ev.select(col("event_id"),
        variant_get(parse_json(col("props")), "$.k", "long").as("k"))
    }),

    // -- tail multiline: firstline-anchored record assembly (words of each
    //    document standing in for file lines; head = the word 'the')
    "fb_multiline" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val lines = d.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("i0", "w")))
        .select(col("doc_id"), (col("i0") + 1).as("line_no"), col("w"))
      Multiline.assemble(lines, "doc_id", "line_no", "w", "^the$")
        .select(col("doc_id"), col("record_id"), col("record"))
    }),

    // -- engine breadth: rollup + exact distinct aggregates
    "q_rollup" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      li.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
    }),
    "q_distinct_agg" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      o.groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("cnt"))
    }),

    // -- skew: two-phase salted aggregation over the hot source tag —
    //    must equal the plain groupBy (oracle) exactly
    "fb_salted_agg" -> ((s, dir) => {
      val t = TokenTable.fromDocuments(s, dir)
      graft.route.Skew.saltedAgg(t, Seq("source"), col("seq"), 8, Seq("n_tok"))
        .select(col("source"), col("cnt"), col("sum_n_tok").cast("long").as("sum_n_tok"))
    }),

    // -- FLAGSHIP end-to-end: parse → grep 5xx → fan-out route → per-sink
    //    count + sum(n_tok) through the Pipeline.transform used by the
    //    snapshot runner
    "fb_pipeline_e2e" -> ((s, dir) => {
      val t = TokenTable.fromDocuments(s, dir)
      val spec = graft.run.PipelineSpec(
        grep = Seq(Grep.Regex("code", "^5")),
        sinks = sinkSpecs)
      graft.run.Pipeline.transform(t, spec)
        .groupBy(col("sink"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_tok")).cast("long").as("sum_n_tok"))
    })
  )

  // ------------------------------------------------------------- oracle SQL

  /** Shared DuckDB CTE: the FULL unrolled integer Lloyd (k=8, 2
    * iterations — quantize, argmin with smallest-id ties, integer-sum
    * floor-division means, empty cells keep their centroid) ending in the
    * final assignment `a3` and centroid table `c2`. Used by the
    * sim_kmeans_cells and sim_ivf_kmeans_topk oracles.
    */
  private val lloydCte: String =
    """WITH q AS (
           SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE)*1000.0 + 0.5) AS BIGINT) + 1000) AS v
           FROM embeddings),
         dims AS (SELECT unnest(range(1, (SELECT len(v) FROM q LIMIT 1) + 1)) AS i),
         c0 AS (
           SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cent_id, v AS cv
           FROM q QUALIFY row_number() OVER (ORDER BY vec_id) <= 8),
         a1 AS (
           SELECT vec_id, cell FROM (
             SELECT q.vec_id, c.cent_id AS cell,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_sum(list_transform(range(1, len(q.v)+1),
                   i -> (q.v[i]-c.cv[i])*(q.v[i]-c.cv[i]))), c.cent_id) AS rn
             FROM q CROSS JOIN c0 c) WHERE rn = 1),
         m1 AS (
           SELECT cell AS cent_id, list(s ORDER BY i) AS cv FROM (
             SELECT a1.cell, d.i, CAST(sum(q.v[d.i]) // count(*) AS BIGINT) AS s
             FROM a1 JOIN q USING (vec_id) CROSS JOIN dims d
             GROUP BY a1.cell, d.i) GROUP BY cell),
         c1 AS (SELECT c0.cent_id, coalesce(m1.cv, c0.cv) AS cv
                FROM c0 LEFT JOIN m1 USING (cent_id)),
         a2 AS (
           SELECT vec_id, cell FROM (
             SELECT q.vec_id, c.cent_id AS cell,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_sum(list_transform(range(1, len(q.v)+1),
                   i -> (q.v[i]-c.cv[i])*(q.v[i]-c.cv[i]))), c.cent_id) AS rn
             FROM q CROSS JOIN c1 c) WHERE rn = 1),
         m2 AS (
           SELECT cell AS cent_id, list(s ORDER BY i) AS cv FROM (
             SELECT a2.cell, d.i, CAST(sum(q.v[d.i]) // count(*) AS BIGINT) AS s
             FROM a2 JOIN q USING (vec_id) CROSS JOIN dims d
             GROUP BY a2.cell, d.i) GROUP BY cell),
         c2 AS (SELECT c1.cent_id, coalesce(m2.cv, c1.cv) AS cv
                FROM c1 LEFT JOIN m2 USING (cent_id)),
         a3 AS (
           SELECT vec_id, cell FROM (
             SELECT q.vec_id, c.cent_id AS cell,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_sum(list_transform(range(1, len(q.v)+1),
                   i -> (q.v[i]-c.cv[i])*(q.v[i]-c.cv[i]))), c.cent_id) AS rn
             FROM q CROSS JOIN c2 c) WHERE rn = 1)"""

  def oracleSql: Map[String, String] = Map(
    "fb_parse_apache" ->
      s"$tokCtes SELECT seq, host, usr, method, path, code, size FROM parsed",

    "fb_parse_time" ->
      s"$tokCtes SELECT seq, tsec FROM parsed",

    "fb_grep_5xx" ->
      s"$tokCtes SELECT source, count(*) AS cnt FROM parsed WHERE code >= 500 GROUP BY source",

    "fb_route_fanout" ->
      s"""$tokCtes, routed AS (${sinkUnion("tokseq", "n_tok")})
         SELECT sink, count(*) AS cnt, CAST(sum(n_tok) AS BIGINT) AS sum_n_tok
         FROM routed GROUP BY sink""",

    "fb_tokens_passthrough" ->
      s"""$tokCtes, kept AS (SELECT * FROM parsed WHERE code >= 500)
         SELECT sink, seq, n_tok,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(tokens, t -> CAST(t AS BIGINT))),
             (h, t) -> (h*31 + t) % 1000000007) AS tok_hash
         FROM (${sinkUnion("kept", "seq, n_tok, tokens")})""",

    "fb_parse_nginx" ->
      s"""SELECT doc_id AS seq,
            concat('rem-', CAST(doc_id % 251 AS VARCHAR)) AS remote,
            concat('host-', CAST(doc_id % 97 AS VARCHAR)) AS host,
            concat('user', CAST(doc_id % 31 AS VARCHAR)) AS usr,
            'GET' AS method,
            concat('/n/', CAST(doc_id AS VARCHAR)) AS path,
            ${Fixtures.duckdbCode} AS code,
            CAST((doc_id * 37) % 1009 AS VARCHAR) AS size,
            concat('http://r/', CAST(doc_id % 13 AS VARCHAR)) AS referer,
            concat('ua-', CAST(doc_id % 7 AS VARCHAR)) AS agent,
            CAST(1500322620 + doc_id % 60 AS BIGINT) AS tsec
          FROM documents""",

    "fb_parse_apache2" ->
      s"""SELECT doc_id AS seq,
            concat('host-a', CAST(doc_id % 89 AS VARCHAR)) AS host,
            concat('u', CAST(doc_id % 29 AS VARCHAR)) AS usr,
            'POST' AS method,
            concat('/a2/', CAST(doc_id AS VARCHAR)) AS path,
            ${Fixtures.duckdbCode} AS code,
            CAST((doc_id * 41) % 997 AS VARCHAR) AS size,
            concat('ref-', CAST(doc_id % 11 AS VARCHAR)) AS referer,
            concat('agent ', CAST(doc_id % 5 AS VARCHAR), ' z') AS agent
          FROM documents""",

    "fb_parse_apache_error" ->
      """SELECT doc_id AS seq,
           concat('Jul 17 20:17:0', CAST(doc_id % 10 AS VARCHAR), ' 2017') AS time,
           concat('lvl', CAST(doc_id % 4 AS VARCHAR)) AS level,
           CASE WHEN doc_id % 3 = 0 THEN NULL ELSE CAST(doc_id % 9999 AS VARCHAR) END AS pid,
           CASE WHEN doc_id % 3 = 0 THEN NULL
                ELSE concat('10.0.0.', CAST(doc_id % 200 AS VARCHAR)) END AS client,
           concat('core msg ', CAST(doc_id AS VARCHAR)) AS message
         FROM documents""",

    "fb_parse_docker_daemon" ->
      s"""SELECT doc_id AS seq,
            concat('2017-07-17T20:17:03.', ${Fixtures.duckdbMs3}) AS time,
            'info' AS level,
            concat('daemon event ', CAST(doc_id AS VARCHAR)) AS msg,
            CAST(1500322623000000 + (doc_id % 1000) * 1000 AS BIGINT) AS tus
          FROM documents""",

    "fb_parse_rfc3164" ->
      s"""SELECT doc_id AS seq,
            CAST(doc_id % 192 AS VARCHAR) AS pri,
            concat('Jul 17 20:17:', ${Fixtures.duckdbSs}) AS time,
            concat('host-', CAST(doc_id % 50 AS VARCHAR)) AS host,
            concat('app', CAST(doc_id % 20 AS VARCHAR)) AS ident,
            CAST(doc_id % 999 AS VARCHAR) AS pid,
            concat('message ', CAST(doc_id AS VARCHAR)) AS message,
            CAST(1500322620 + doc_id % 60 AS BIGINT) AS tsec
          FROM documents""",

    "fb_parse_mongodb" ->
      s"""SELECT doc_id AS seq,
            concat('2017-07-17T20:17:03.', ${Fixtures.duckdbMs3}) AS time,
            'I' AS severity,
            'NETWORK' AS component,
            concat('conn', CAST(doc_id % 100 AS VARCHAR)) AS context,
            'query done' AS message,
            CAST(doc_id % 500 AS VARCHAR) AS ms,
            CAST(1500322623000000 + (doc_id % 1000) * 1000 AS BIGINT) AS tus
          FROM documents""",

    "fb_parse_json" ->
      """SELECT doc_id AS seq,
           CAST(doc_id % 100 AS BIGINT) AS k,
           concat('n-', CAST(doc_id % 10 AS VARCHAR)) AS name,
           CAST(1500322620 + doc_id % 60 AS BIGINT) AS tsec
         FROM documents""",

    "fb_parse_kube_test" ->
      s"""SELECT doc_id AS seq,
            concat('web-', CAST(doc_id % 10 AS VARCHAR)) AS pod_name,
            concat('ns', CAST(doc_id % 5 AS VARCHAR)) AS namespace_name,
            'nginx' AS container_name,
            ${Fixtures.duckdbHex64} AS docker_id
          FROM documents""",

    "fb_parse_rfc5424" ->
      s"""SELECT doc_id AS seq,
            CAST(doc_id % 192 AS VARCHAR) AS pri,
            concat('2017-07-17T20:17:03.', ${Fixtures.duckdbMs3}) AS time,
            concat('host-', CAST(doc_id % 50 AS VARCHAR)) AS host,
            concat('app', CAST(doc_id % 20 AS VARCHAR)) AS ident,
            CAST(doc_id % 999 AS VARCHAR) AS pid,
            concat('mid', CAST(doc_id % 7 AS VARCHAR)) AS msgid,
            CASE WHEN doc_id % 2 = 0
                 THEN concat('[id ', CAST(doc_id % 10 AS VARCHAR), ']')
                 ELSE '-' END AS extradata,
            concat('message ', CAST(doc_id AS VARCHAR)) AS message,
            CAST(1500322623000000 + (doc_id % 1000) * 1000 AS BIGINT) AS tus
          FROM documents""",

    "fb_parse_rfc3164_local" ->
      s"""SELECT doc_id AS seq,
            CAST(doc_id % 192 AS VARCHAR) AS pri,
            concat('Jul 17 20:17:', ${Fixtures.duckdbSs}) AS time,
            concat('app', CAST(doc_id % 20 AS VARCHAR)) AS ident,
            CAST(doc_id % 999 AS VARCHAR) AS pid,
            concat('message ', CAST(doc_id AS VARCHAR)) AS message,
            CAST(1500322620 + doc_id % 60 AS BIGINT) AS tsec
          FROM documents""",

    "fb_parse_docker" ->
      s"""SELECT doc_id AS seq,
            concat('m "q" ', CAST(doc_id AS VARCHAR), chr(10), 'end') AS log,
            'stdout' AS stream,
            concat('2017-07-17T20:17:03.', ${Fixtures.duckdbMs3}) AS time,
            CAST(1500322623000000 + (doc_id % 1000) * 1000 AS BIGINT) AS tus
          FROM documents""",

    "fb_parse_kube_custom" ->
      s"""SELECT doc_id AS seq,
            concat('web-', CAST(doc_id % 10 AS VARCHAR)) AS pod_name,
            concat('ns', CAST(doc_id % 5 AS VARCHAR)) AS namespace_name,
            'nginx' AS container_name,
            ${Fixtures.duckdbHex64} AS docker_id
          FROM documents""",

    "fb_parse_types" ->
      """SELECT doc_id AS seq,
           CAST(doc_id AS DOUBLE) + 0.25 AS v,
           CAST(doc_id % 4096 AS BIGINT) AS f,
           (doc_id % 2 = 0) AS b
         FROM documents""",

    "fb_enrich_kube" ->
      s"""$tokCtes SELECT seq,
            concat('web-', CAST(seq % 10 AS VARCHAR)) AS pod_name,
            'default' AS namespace_name,
            'nginx' AS container_name,
            n.n_name AS team
          FROM tokseq LEFT JOIN nation n ON n.n_nationkey = seq % 10 AND n.n_nationkey < 10
          WHERE seq % 100 >= 92 AND seq % 100 < 97""",

    "fb_record_modifier" ->
      "SELECT event_id, event_type, value FROM events",

    "fb_nest_lift" ->
      "SELECT event_id, user_id AS meta_user_id, value AS meta_value FROM events",

    "fb_modify" ->
      """SELECT event_id, event_type AS etype, 'prod' AS env,
         CAST(2 AS INTEGER) AS nkeys FROM events""",

    "fb_parser_json" ->
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events",

    "fb_throttle" ->
      """SELECT event_type, count(*) AS cnt FROM (
           SELECT event_type,
                  row_number() OVER (PARTITION BY date_trunc('hour', ts)
                                     ORDER BY ts, event_id) AS rn
           FROM events) WHERE rn <= 20 GROUP BY event_type""",

    "fb_throttle_scalable" ->
      """SELECT event_type, count(*) AS cnt FROM (
           SELECT event_type,
                  row_number() OVER (PARTITION BY date_trunc('hour', ts)
                                     ORDER BY ts, event_id) AS rn
           FROM events) WHERE rn <= 20 GROUP BY event_type""",

    "fb_flowcounter" ->
      """SELECT date_trunc('hour', ts) AS wstart, count(*) AS cnt,
                CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
         FROM events GROUP BY 1""",

    "fb_head" ->
      """-- in_head: first 3 lines per file, one record per file, Add_Path;
         -- the fixture's first even/odd ids are 0,2,4 / 1,3,5 at every sf
         SELECT col0 AS head, col1 AS tag, col2 AS path FROM (VALUES
           ('line 0' || chr(10) || 'line 2' || chr(10) || 'line 4',
            'head.tmp.graft_tail_fixture.app0.log',
            'file:///tmp/graft_tail_fixture/app0.log'),
           ('line 1' || chr(10) || 'line 3' || chr(10) || 'line 5',
            'head.tmp.graft_tail_fixture.app1.log',
            'file:///tmp/graft_tail_fixture/app1.log'))""",

    "fb_tail" ->
      """-- in_tail: per-line records; tag = pattern '*' replaced by the
         -- dotted file path (tail_file.c:306-336)
         SELECT 'line ' || CAST(doc_id AS VARCHAR) AS line,
                'tail.tmp.graft_tail_fixture.app'
                  || CAST(doc_id % 2 AS VARCHAR) || '.log' AS tag
         FROM documents""",

    "fb_exec" ->
      """-- in_exec: `seq 1 n` stdout, one line-record each, fixed tag
         SELECT CAST(doc_id + 1 AS VARCHAR) AS line, 'exec.0' AS tag
         FROM documents""",

    "fb_forward_roundtrip" ->
      """-- forward pack -> unpack identity: the decoded rows must equal the
         -- fixture records the frames were built from
         SELECT 't' || CAST(doc_id % 3 AS VARCHAR) AS tag,
                1500322623 + doc_id % 3600 AS sec,
                (doc_id * 997) % 1000000 * 1000 AS nsec,
                CAST((doc_id * 37) % 1009 AS VARCHAR) AS code,
                CASE WHEN doc_id % 7 = 0 THEN '-'
                     ELSE 'msg ' || CAST(doc_id % 50 AS VARCHAR) END AS m
         FROM documents""",

    "fb_mqtt_frame" ->
      """-- MQTT PUBLISH bytes (mqtt_prot.c layout): header 0x30|qos<<1,
         -- one-byte remaining length (bodies here are < 128 bytes by
         -- construction), 2-byte BE topic length, topic, 2-byte packet id
         -- when qos>0, payload
         WITH r AS (
           SELECT doc_id AS seq, doc_id % 3 AS qos,
                  't/' || CAST(doc_id % 5 AS VARCHAR) AS topic,
                  '{"k":' || CAST(doc_id AS VARCHAR) || '}' AS payload
           FROM documents)
         SELECT seq, concat(
             lower(to_hex(48 + qos * 2)),
             lpad(lower(to_hex(2 + length(topic)
                               + CASE WHEN qos > 0 THEN 2 ELSE 0 END
                               + length(payload))), 2, '0'),
             '0003',
             lower(hex(encode(topic))),
             CASE WHEN qos > 0
                  THEN '00' || lpad(lower(to_hex(seq % 100)), 2, '0')
                  ELSE '' END,
             lower(hex(encode(payload)))
           ) AS frame_hex
         FROM r""",

    "fb_mqtt_roundtrip" ->
      """-- encode ∘ decode ≡ identity: decoded fields must equal the
         -- arithmetic the packets were built from; qos 0 publishes carry
         -- no packet id (decoder reports 0)
         SELECT doc_id AS seq,
                't/' || CAST(doc_id % 5 AS VARCHAR) AS topic,
                CAST(doc_id % 3 AS INT) AS qos,
                CAST(CASE WHEN doc_id % 3 > 0 THEN doc_id % 100 ELSE 0 END AS INT) AS packet_id,
                '{"k":' || CAST(doc_id AS VARCHAR) || '}' AS payload,
                TRUE AS clean
         FROM documents""",

    "fb_kmsg" ->
      """-- kmsg fields re-derived arithmetically: priority = raw % 8
         -- (FLB_KLOG_PRI mask), monotonic usec split with //, event time
         -- boot + sec (boot usec ignored like in_kmsg.c:160)
         WITH r AS (SELECT doc_id AS seq,
             (doc_id * 13) % 192 AS praw,
             (doc_id * 1009) % 100000000 AS us
           FROM documents)
         SELECT seq,
           (1500322623 + us // 1000000) * 1000000 + us % 1000000 AS ts_us,
           praw % 8 AS priority,
           seq AS sequence,
           us // 1000000 AS sec,
           us % 1000000 AS usec,
           'kmsg message ' || CAST(seq AS VARCHAR) AS msg
         FROM r""",

    "fb_serial_split" ->
      """-- the two separator-terminated segments survive; the leading CR,
         -- the empty segment, and the unterminated tail do not
         SELECT doc_id AS seq, 'm' || CAST(doc_id AS VARCHAR) AS msg FROM documents
         UNION ALL
         SELECT doc_id AS seq, 'n' || CAST(doc_id AS VARCHAR) AS msg FROM documents""",

    "fb_dummy" ->
      """-- in_dummy: fixed record, 1/s sequenced timestamps from BaseEpoch
         -- (epoch_ms, not to_timestamp — the latter returns TIMESTAMPTZ)
         SELECT epoch_ms((1500322623 + doc_id) * 1000) AS ts,
                'dummy' AS message
         FROM documents""",

    "fb_scripted" ->
      """-- lua-protocol scripted filter re-derived: drop code LIKE '5%',
         -- rewrite msg on seq%10=0 (NULL msg stays NULL — the callback's
         -- Option map), keep the rest
         WITH r AS (
           SELECT doc_id AS seq,
             CASE WHEN doc_id % 7 = 0 THEN NULL
                  ELSE 'msg ' || CAST(doc_id % 50 AS VARCHAR) END AS msg,
             (doc_id * 37) % 1009 AS code,
             doc_id % 2 = 0 AS ok
           FROM documents)
         SELECT seq,
           CASE WHEN seq % 10 = 0 THEN upper(msg) || ' [scripted]'
                ELSE msg END AS msg,
           code, ok
         FROM r WHERE CAST(code AS VARCHAR) NOT LIKE '5%'""",

    "fb_kafka_topic" ->
      """-- kafka Topic_Key selection: record topic if present else default
         SELECT coalesce(CASE WHEN doc_id % 3 = 0
                              THEN 't-' || CAST(doc_id % 4 AS VARCHAR) END,
                         'logs') AS topic,
                count(*) AS cnt
         FROM documents GROUP BY 1""",

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
                count(*) AS cnt,
                CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_cents
         FROM lineitem GROUP BY 1, 2""",

    "q_join_agg" ->
      """SELECT n_name, count(*) AS cnt,
                CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_cents
         FROM orders JOIN customer ON o_custkey = c_custkey
                     JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""",

    "q_semi_join" ->
      """SELECT o_orderstatus, count(*) AS cnt FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
         GROUP BY o_orderstatus""",

    "q_anti_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",

    "q_group_topk" ->
      """SELECT o_custkey, o_orderkey, CAST(rn AS INTEGER) AS rn FROM (
           SELECT o_custkey, o_orderkey,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3""",

    "q_asof_join" ->
      """WITH days AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events),
         dims AS (
           SELECT user_id, d + to_hours(CAST(6*k AS BIGINT)) AS ts_d,
                  CAST(user_id*10 + k AS BIGINT) AS val
           FROM days, (SELECT unnest([0,1,2,3]) AS k) ks)
         SELECT e.event_id, d.val
         FROM events e ASOF LEFT JOIN dims d
           ON e.user_id = d.user_id AND e.ts >= d.ts_d""",

    "q_asof_join_bcast" ->
      """WITH days AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events),
         dims AS (
           SELECT user_id, d + to_hours(CAST(6*k AS BIGINT)) AS ts_d,
                  CAST(user_id*10 + k AS BIGINT) AS val
           FROM days, (SELECT unnest([0,1,2,3]) AS k) ks)
         SELECT e.event_id, d.val
         FROM events e ASOF LEFT JOIN dims d
           ON e.user_id = d.user_id AND e.ts >= d.ts_d""",

    "q_asof_join_scalable" ->
      """WITH days AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events),
         dims AS (
           SELECT user_id, d + to_hours(CAST(6*k AS BIGINT)) AS ts_d,
                  CAST(user_id*10 + k AS BIGINT) AS val
           FROM days, (SELECT unnest([0,1,2,3]) AS k) ks)
         SELECT e.event_id, d.val
         FROM events e ASOF LEFT JOIN dims d
           ON e.user_id = d.user_id AND e.ts >= d.ts_d""",

    "q_window_topk" ->
      """SELECT o_custkey, o_orderkey, CAST(rn AS INTEGER) AS rn FROM (
           SELECT o_custkey, o_orderkey,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3""",

    "dedup_exact" ->
      """SELECT min(doc_id) AS keeper, count(*) AS n_copies
         FROM documents GROUP BY hash(text)""",

    "dedup_minhash" -> {
      val mh = (0 until 8).map { j =>
        s"CASE WHEN n_tok >= 3 THEN list_min(list_transform(s, x -> (x*${2 * j + 1} + ${7919 * j}) % 1000000007)) ELSE 1000000007 END AS mh$j"
      }.mkString(", ")
      s"""$tokCtes, sh AS (
           SELECT seq, n_tok,
             CASE WHEN n_tok >= 3 THEN list_transform(range(1, CAST(n_tok AS INTEGER) - 1),
               i -> ((CAST(tokens[i] AS BIGINT)*31 + tokens[i+1])*31 + tokens[i+2]) % 1000000007)
             ELSE CAST([] AS BIGINT[]) END AS s
           FROM tokseq)
         SELECT seq, $mh FROM sh"""
    },

    "dedup_lsh_pairs" -> {
      val mh = (0 until 8).map { j =>
        s"list_min(list_transform(s, x -> (x*${2 * j + 1} + ${7919 * j}) % 1000000007)) AS mh$j"
      }.mkString(", ")
      val bandKeys = (0 until 4).map { bi =>
        s"SELECT id, $bi AS band, ((($bi*31 + mh${2 * bi}) % 1000000007)*31 + mh${2 * bi + 1}) % 1000000007 AS key FROM sig"
      }.mkString(" UNION ALL ")
      val toks = graft.sources.TokenTable.duckdbTokensFor("doc_id - doc_id % 2")
      s"""WITH base AS (
           SELECT doc_id AS id, $toks AS tokens,
                  CAST(1 + (doc_id - doc_id % 2) % 64 AS INTEGER) AS n
           FROM documents),
         sh AS (
           SELECT id, list_transform(range(1, n - 1),
             i -> ((CAST(tokens[i] AS BIGINT)*31 + tokens[i+1])*31 + tokens[i+2]) % 1000000007) AS s
           FROM base WHERE n >= 3),
         sig AS (SELECT id, $mh FROM sh),
         bk AS ($bandKeys)
         SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key AND a.id < b.id"""
    },

    "curate_neardup" ->
      """SELECT doc_id FROM documents
         WHERE doc_id % 2 = 0 OR (doc_id - 1) % 64 = 0""",

    "pack_chunks" ->
      s"""$tokCtes, c AS (
           SELECT seq, CAST(n_tok AS BIGINT) + 1 AS eff,
                  sum(CAST(n_tok AS BIGINT) + 1) OVER (ORDER BY seq) AS cum
           FROM tokseq)
         SELECT seq, CAST(cum - eff AS BIGINT) AS start_tok,
                CAST((cum - eff) // 256 AS BIGINT) AS first_chunk,
                CAST((cum - 1) // 256 AS BIGINT) AS last_chunk
         FROM c""",

    "dedup_cc" ->
      """SELECT doc_id AS id, doc_id - doc_id % 5 AS comp
         FROM documents WHERE doc_id < (SELECT max(doc_id) FROM documents)
            OR doc_id % 5 <> 0""",

    "dedup_cc_star" ->
      """SELECT doc_id AS id, doc_id - doc_id % 5 AS comp
         FROM documents WHERE doc_id < (SELECT max(doc_id) FROM documents)
            OR doc_id % 5 <> 0""",

    "dedup_simhash" ->
      s"""$tokCtes
         SELECT seq, CAST(list_sum(list_transform(range(0,16), b ->
           CASE WHEN 2*list_sum(list_transform(tokens,
             t -> ((CAST(t AS BIGINT)*2654435761) % 4294967296 >> b) & 1)) - n_tok > 0
           THEN 1<<b ELSE 0 END)) AS BIGINT) AS simhash
         FROM tokseq""",

    "dedup_ngram_jaccard" ->
      """WITH g AS (
           SELECT doc_id,
             CASE WHEN len(string_split(text,' ')) >= 3 THEN
               list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
                 i -> concat_ws('|', string_split(text,' ')[i],
                                     string_split(text,' ')[i+1],
                                     string_split(text,' ')[i+2])))
             ELSE CAST([] AS VARCHAR[]) END AS grams
           FROM documents)
         SELECT a.doc_id AS doc_id,
                CAST(len(list_intersect(a.grams, b.grams)) AS INTEGER) AS inter,
                CAST(len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) AS INTEGER) AS uni
         FROM g a JOIN g b ON b.doc_id = a.doc_id + 1""",

    "sim_cosine_pairs" ->
      """WITH dotp AS (
           SELECT a.vec_id AS vec_id,
             list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(a.embedding)+1),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), (x,y) -> x+y) AS d,
             list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(a.embedding)+1),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))), (x,y) -> x+y) AS na2,
             list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(b.embedding)+1),
               i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), (x,y) -> x+y) AS nb2
           FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1)
         SELECT vec_id,
                CASE WHEN sqrt(na2) > 0 AND sqrt(nb2) > 0
                     THEN d / (sqrt(na2) * sqrt(nb2)) END AS cos
         FROM dotp""",

    "ann_topk" ->
      """WITH scored AS (
           SELECT q.vec_id AS qid, c.vec_id AS cid,
             list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(q.embedding)+1),
               i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))), (x,y) -> x+y)
             / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(q.embedding)+1),
                  i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))), (x,y) -> x+y))
                * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(c.embedding)+1),
                  i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))), (x,y) -> x+y))) AS cos
           FROM embeddings q JOIN embeddings c ON q.vec_id < 20 AND c.vec_id != q.vec_id)
         SELECT qid, cid, cos, CAST(rn AS INTEGER) AS rank FROM (
           SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
           FROM scored) WHERE rn <= 5""",

    "sim_ivf_assign" ->
      """WITH cents AS (
           SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings WHERE vec_id < 16),
         d AS (
           SELECT e.vec_id, c.cent_id,
             list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(e.embedding)+1),
               i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))
                    * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)))), (x,y) -> x+y) AS dist
           FROM embeddings e CROSS JOIN cents c)
         SELECT vec_id, cell FROM (
           SELECT vec_id, cent_id AS cell,
                  row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
           FROM d) WHERE rn = 1""",

    "sim_kmeans_cells" ->
      s"""-- full unrolled Lloyd (k=8, 2 iterations) over integer-quantized
         -- vectors: every step (half-up-floor quantize, integer L2 argmin
         -- with smallest-id ties, integer-sum floor-division means, empty
         -- cells keep their centroid) is bit-reproducible — an INDEPENDENT
         -- re-run of the training, not a copy of intermediate state
         $lloydCte
         SELECT vec_id, cell FROM a3""",

    "sim_ivf_kmeans_topk" ->
      s"""-- END-TO-END trained ANN: the same unrolled Lloyd, then each
         -- query (vec_id < 8) probes its 2 nearest final cells (same
         -- distance + smallest-id tie rule), candidates come from their
         -- ONE assigned cell (a3), cosine over the quantized vectors with
         -- the engine-portable sequential fold, top-5 by (cos DESC, cid)
         $lloydCte,
         probe AS (
           SELECT qid, cell, qv FROM (
             SELECT q.vec_id AS qid, c.cent_id AS cell, q.v AS qv,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_sum(list_transform(range(1, len(q.v)+1),
                   i -> (q.v[i]-c.cv[i])*(q.v[i]-c.cv[i]))), c.cent_id) AS rn
             FROM q CROSS JOIN c2 c WHERE q.vec_id < 8) WHERE rn <= 2),
         scored AS (
           SELECT p.qid, a3.vec_id AS cid,
             list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(p.qv)+1),
               i -> CAST(p.qv[i] AS DOUBLE) * CAST(cq.v[i] AS DOUBLE))), (x,y) -> x+y)
             / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(p.qv)+1),
                  i -> CAST(p.qv[i] AS DOUBLE) * CAST(p.qv[i] AS DOUBLE))), (x,y) -> x+y))
                * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(cq.v)+1),
                  i -> CAST(cq.v[i] AS DOUBLE) * CAST(cq.v[i] AS DOUBLE))), (x,y) -> x+y))) AS cos
           FROM probe p
           JOIN a3 ON p.cell = a3.cell AND a3.vec_id != p.qid
           JOIN q cq ON cq.vec_id = a3.vec_id)
         SELECT qid, cid, cos, CAST(rn AS INTEGER) AS rank FROM (
           SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
           FROM scored) WHERE rn <= 5""",

    "dedup_embed_pairs" ->
      """WITH b AS (
           SELECT vec_id, embedding,
             CAST(list_sum(list_transform(range(0,8), p ->
               CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(1, len(embedding)+1),
                   i -> CAST(embedding[i] AS DOUBLE)
                        * (CAST((((p*8191 + (i-1)) * 2654435761) % 2001) - 1000 AS DOUBLE) / 1000.0))),
                 (x,y) -> x+y) > 0
               THEN 1<<p ELSE 0 END)) AS BIGINT) AS bucket
           FROM embeddings)
         SELECT id_a, id_b, cos FROM (
           SELECT a.vec_id AS id_a, c.vec_id AS id_b,
             list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(a.embedding)+1),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))), (x,y) -> x+y)
             / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(a.embedding)+1),
                  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))), (x,y) -> x+y))
                * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(c.embedding)+1),
                  i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))), (x,y) -> x+y))) AS cos
           FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
         ) WHERE cos >= 0""",

    "sim_quantize" ->
      """WITH s AS (
           SELECT vec_id, embedding,
                  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
           FROM embeddings)
         SELECT vec_id, mx / 127.0 AS scale,
           CASE WHEN mx > 0 THEN
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) / (mx / 127.0) + 0.5) AS BIGINT))),
               (h, t) -> (h*31 + t) % 1000000007)
           ELSE 0 END AS q_hash
         FROM s""",

    "sim_srp_buckets" ->
      """WITH b AS (
           SELECT CAST(list_sum(list_transform(range(0,8), p ->
             CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, len(embedding)+1),
                 i -> CAST(embedding[i] AS DOUBLE)
                      * (CAST((((p*8191 + (i-1)) * 2654435761) % 2001) - 1000 AS DOUBLE) / 1000.0))),
               (x,y) -> x+y) > 0
             THEN 1<<p ELSE 0 END)) AS BIGINT) AS bucket
           FROM embeddings)
         SELECT bucket, count(*) AS n FROM b GROUP BY bucket""",

    "text_quality" ->
      """SELECT doc_id,
           CAST(len(string_split(text,' ')) AS INTEGER) AS n_words,
           CAST(len(list_distinct(string_split(text,' '))) AS INTEGER) AS n_uniq,
           CAST(list_sum(list_transform(string_split(text,' '), w -> CAST(length(w) AS BIGINT))) AS BIGINT) AS sum_wlen,
           CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS INTEGER) AS n_punct,
           CAST(len(list_filter(string_split(text,' '),
             w -> w IN ('the','a','an','is','are','of','and','or','to','in'))) AS INTEGER) AS n_stop
         FROM documents""",

    "text_langid" ->
      """WITH s AS (
           SELECT doc_id,
             len(list_filter(string_split(text,' '), w -> lower(w) IN ('the','a','is','of','and'))) AS s_en,
             len(list_filter(string_split(text,' '), w -> lower(w) IN ('le','la','les','et','un','une'))) AS s_fr,
             len(list_filter(string_split(text,' '), w -> lower(w) IN ('el','los','y','que','una'))) AS s_es,
             len(list_filter(string_split(text,' '), w -> lower(w) IN ('der','die','und','das','ein'))) AS s_de
           FROM documents)
         SELECT doc_id,
           CASE WHEN greatest(s_en,s_fr,s_es,s_de) = 0 THEN 'und'
                WHEN s_en = greatest(s_en,s_fr,s_es,s_de) THEN 'en'
                WHEN s_fr = greatest(s_en,s_fr,s_es,s_de) THEN 'fr'
                WHEN s_es = greatest(s_en,s_fr,s_es,s_de) THEN 'es'
                ELSE 'de' END AS pred_lang
         FROM s""",

    "text_tokens" ->
      s"""SELECT doc_id,
           CAST(len(string_split(text,' ')) AS INTEGER) AS n_ws,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_bpe
         FROM documents""",

    "text_normalize" ->
      """SELECT doc_id,
           lower(trim(regexp_replace(regexp_replace(text, '[.,!?;:]', '', 'g'), ' +', ' ', 'g'))) AS norm
         FROM documents""",

    "text_redact" ->
      """WITH l AS (
           SELECT doc_id,
             concat('from user', CAST(doc_id % 31 AS VARCHAR),
                    '@ex', CAST(doc_id % 7 AS VARCHAR),
                    '.com at 10.0.', CAST(doc_id % 256 AS VARCHAR),
                    '.', CAST(doc_id % 100 AS VARCHAR),
                    ' wrote: ', text) AS line
           FROM documents)
         SELECT doc_id,
           regexp_replace(
             regexp_replace(line, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS redacted
         FROM l""",

    "corpus_sample" ->
      "SELECT doc_id FROM documents WHERE (doc_id * 2654435761) % 100 < 10",

    "text_top_tokens" ->
      s"""WITH tokseq AS (${graft.sources.TokenTable.duckdbCte}),
         f AS (SELECT unnest(tokens) AS token FROM tokseq)
         SELECT token, count(*) AS freq FROM f
         GROUP BY token ORDER BY freq DESC, token LIMIT 20""",

    "text_contaminated" -> {
      val toks = graft.sources.TokenTable.duckdbTokensFor("doc_id - doc_id % 2")
      s"""WITH base AS (
           SELECT doc_id AS seq, $toks AS tokens,
                  CAST(1 + (doc_id - doc_id % 2) % 64 AS INTEGER) AS n
           FROM documents),
         sh AS (
           SELECT seq,
             CASE WHEN n >= 3 THEN list_transform(range(1, n - 1),
               i -> ((CAST(tokens[i] AS BIGINT)*31 + tokens[i+1])*31 + tokens[i+2]) % 1000000007)
             ELSE CAST([] AS BIGINT[]) END AS s
           FROM base),
         bench AS (SELECT * FROM sh WHERE seq % 50 = 0)
         SELECT s.seq FROM sh s
         WHERE EXISTS (SELECT 1 FROM bench b WHERE len(list_intersect(s.s, b.s)) > 0)"""
    },

    "q_sessionize" ->
      """WITH g AS (
           SELECT user_id, event_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                       THEN 1 ELSE 0 END AS new_s
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT user_id, CAST(max(sid) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
           SELECT user_id,
                  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
           FROM g) GROUP BY user_id""",

    "text_fingerprint" ->
      """SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(text,' '), w -> CAST(length(w) AS BIGINT)*96 + ascii(w))),
             (a,b) -> (a*31 + b) % 1000000007) AS fp
         FROM documents""",

    "fb_salted_agg" ->
      s"""$tokCtes SELECT source, count(*) AS cnt, CAST(sum(n_tok) AS BIGINT) AS sum_n_tok
         FROM tokseq GROUP BY source""",

    "fb_pipeline_e2e" ->
      s"""$tokCtes, kept AS (SELECT * FROM parsed WHERE code >= 500)
         SELECT sink, count(*) AS cnt, CAST(sum(n_tok) AS BIGINT) AS sum_n_tok
         FROM (${sinkUnion("kept", "n_tok")}) GROUP BY sink""",

    "fb_decode_escaped" ->
      """SELECT doc_id, concat('line1', chr(10), 'line2', chr(9), text) AS decoded
         FROM documents""",

    "fb_forward_frame" ->
      """SELECT doc_id AS seq,
           CAST(1 AS BIGINT) AS n_entries,
           concat(
             '92',                                                   -- fixarray 2 (frame)
             'a178',                                                 -- fixstr 'x' (tag)
             '91',                                                   -- fixarray 1 (entries)
             '92',                                                   -- fixarray 2 (entry)
             'd700',                                                 -- fixext8 EventTime header
             lpad(lower(to_hex(1500322623 + doc_id % 3600)), 8, '0'),
             '00000000',                                             -- nsec = 0
             '81a16b',                                               -- fixmap1, key 'k'
             lower(to_hex(160 + length(CAST(doc_id AS VARCHAR)))),   -- fixstr header (value)
             lower(hex(encode(CAST(doc_id AS VARCHAR))))             -- value bytes
           ) AS frame_hex
         FROM documents""",

    "fb_es_id" ->
      """-- byte-exact fixtures from the compiled reference murmur3.c + the
         -- es.c uuid snprintf, over the FULL Generate_ID buffer:
         -- map(3){'@timestamp': strftime+'.msZ', 'log_level': d%6, 'msg': 'm d'}
         -- with sec = 1500322623 + d%3600, msec = d%1000 (es.c:229-245)
         SELECT doc_id AS seq, u AS es_id FROM documents
         JOIN (VALUES
           (0,  '79ca080b-73f7-3c6d-48dc-7da1a7100700'),
           (1,  '8770d44a-405c-68a5-bd41-07583bc4e561'),
           (2,  'a0866dd0-b159-2fd8-5645-c5b0ecba7b98'),
           (3,  'd724109c-43c0-f1b6-ff8f-29cfee91b5f5'),
           (4,  '50be56ec-4b17-3d45-9a2b-3166e574c4bf'),
           (5,  '10726384-7415-dd3f-c705-cabd8f46c51d'),
           (6,  'b26d95ad-33b2-cd73-fb84-63f2e886173b'),
           (7,  'a6ce390f-6d06-ef5b-4e03-6bc4814b9c75'),
           (8,  '1a0b53f8-9087-e7ef-ba06-d98bc4ced20a'),
           (9,  '72d76f98-39ab-1f3a-4440-ae08502e91fb'),
           (10, '3ce321fe-a881-0b39-ad34-ec9c0dfb7142'),
           (11, '6a9a67c7-3a91-5985-39cb-b4a32b6070d2'),
           (12, '065d67b5-9237-6376-7e91-81508b877816'),
           (13, '777e0e98-f6e8-284f-963b-26bc63d638bc'),
           (14, 'd9395766-cda0-6323-60c8-bb94768048aa'),
           (15, 'ea238af8-4567-231a-dcfb-7da41910d313')
         ) AS t(s, u) ON doc_id = CAST(s AS BIGINT)
         WHERE doc_id < 16""",

    "fb_es_id_content" ->
      """-- byte-exact fixtures from the compiled reference murmur3.c + the
         -- es.c uuid snprintf, over msgpack({'log_level': d%6, 'msg': 'm d'})
         SELECT doc_id AS seq, u AS es_id FROM documents
         JOIN (VALUES
           (0,  'a431f7df-779f-33e9-96d6-a2e8bd03176a'),
           (1,  '09f43277-6543-0b01-d451-b11ea46364c8'),
           (2,  '7b15a47d-0198-d4fb-119c-15cf22506c8a'),
           (3,  '331e5784-bea2-3a7d-3cc0-0936157cbf3b'),
           (4,  '8fa064c2-393d-648b-d4c0-b4f991336941'),
           (5,  'ef9d2676-71ba-4422-dbbf-c89ab11c5a77'),
           (6,  '6297d9d2-119a-3dc1-21ac-69df71908b38'),
           (7,  '7e453f51-052f-5dd3-c2e6-3f5e1d1317a9'),
           (8,  'f2ea590f-9eb2-967e-d004-49b4bd248a3b'),
           (9,  '503b3f30-c517-79bb-a77d-f90445f27d70'),
           (10, 'cd29a21c-9684-90c4-0180-a456a9c44ce5'),
           (11, 'a80edd5f-dc39-e6a1-3333-9d36269a33f6'),
           (12, 'ac264c6e-2214-ba6e-fa54-3f91fb01b9a4'),
           (13, 'a24ac499-5e7d-8996-8172-f1f520230767'),
           (14, '0ee556fc-c159-e567-0307-2aea4e83353a'),
           (15, 'fc2d769f-cda0-4526-6442-7c290da60466')
         ) AS t(s, u) ON doc_id = CAST(s AS BIGINT)
         WHERE doc_id < 16""",

    "fb_file_csv" ->
      """-- out_file csv bytes (file.c:117-138): %f time then raw-quoted
         -- values, comma-joined; nil for msgpack NIL
         WITH r AS (
           SELECT doc_id AS seq,
             printf('%f', (1500322623 + doc_id % 3600)
                          + ((doc_id * 997) % 1000000) * 1000 / 1000000000.0) AS t,
             CASE WHEN doc_id % 7 = 0 THEN NULL
                  ELSE 'msg ' || CAST(doc_id % 50 AS VARCHAR) END AS msg,
             CAST((doc_id * 37) % 1009 AS VARCHAR) AS code,
             printf('%f', (doc_id % 89) / 8.0) AS ratio,
             CASE WHEN doc_id % 2 = 0 THEN 'true' ELSE 'false' END AS ok
           FROM documents)
         SELECT seq,
           t || ',' || coalesce('"' || msg || '"', 'nil') || ',' || code
             || ',' || ratio || ',' || ok AS line
         FROM r""",

    "fb_file_ltsv" ->
      """-- out_file ltsv bytes (file.c:140-168): "time":%f then "key":value
         -- pairs, tab-joined — keys are msgpack_object_print'd too, hence
         -- quoted
         WITH r AS (
           SELECT doc_id AS seq,
             printf('%f', (1500322623 + doc_id % 3600)
                          + ((doc_id * 997) % 1000000) * 1000 / 1000000000.0) AS t,
             CASE WHEN doc_id % 7 = 0 THEN NULL
                  ELSE 'msg ' || CAST(doc_id % 50 AS VARCHAR) END AS msg,
             CAST((doc_id * 37) % 1009 AS VARCHAR) AS code,
             printf('%f', (doc_id % 89) / 8.0) AS ratio,
             CASE WHEN doc_id % 2 = 0 THEN 'true' ELSE 'false' END AS ok
           FROM documents)
         SELECT seq,
           '"time":' || t || chr(9)
             || '"msg":' || coalesce('"' || msg || '"', 'nil') || chr(9)
             || '"code":' || code || chr(9)
             || '"ratio":' || ratio || chr(9)
             || '"ok":' || ok AS line
         FROM r""",

    "fb_file_json" ->
      """-- out_file json bytes (file.c:216-229 + flb_pack.c:354-490):
         -- 'tag: [%f, {map}]', ':' between key/value, ', ' between pairs,
         -- null for msgpack NIL (fixture strings are ASCII-clean so the
         -- flb_utils_write_str escape is the identity; FileFormatSpec pins
         -- the full escape table)
         WITH r AS (
           SELECT doc_id AS seq,
             printf('%f', (1500322623 + doc_id % 3600)
                          + ((doc_id * 997) % 1000000) * 1000 / 1000000000.0) AS t,
             CASE WHEN doc_id % 7 = 0 THEN NULL
                  ELSE 'msg ' || CAST(doc_id % 50 AS VARCHAR) END AS msg,
             CAST((doc_id * 37) % 1009 AS VARCHAR) AS code,
             printf('%f', (doc_id % 89) / 8.0) AS ratio,
             CASE WHEN doc_id % 2 = 0 THEN 'true' ELSE 'false' END AS ok
           FROM documents)
         SELECT seq,
           'app.log: [' || t || ', {'
             || '"msg":' || coalesce('"' || msg || '"', 'null') || ', '
             || '"code":' || code || ', '
             || '"ratio":' || ratio || ', '
             || '"ok":' || ok || '}]' AS line
         FROM r""",

    "fb_stdout_line" ->
      """-- out_stdout bytes (stdout.c:55-59): '[cnt] tag: [sec.%09u-nsec,
         -- {record}]', record through msgpack_object_print ({k=>v} form)
         WITH r AS (
           SELECT doc_id AS seq,
             1500322623 + doc_id % 3600 AS sec,
             ((doc_id * 997) % 1000000) * 1000 AS nsec,
             CASE WHEN doc_id % 7 = 0 THEN NULL
                  ELSE 'msg ' || CAST(doc_id % 50 AS VARCHAR) END AS msg,
             CAST((doc_id * 37) % 1009 AS VARCHAR) AS code,
             printf('%f', (doc_id % 89) / 8.0) AS ratio,
             CASE WHEN doc_id % 2 = 0 THEN 'true' ELSE 'false' END AS ok
           FROM documents)
         SELECT seq,
           '[' || seq || '] app.log: [' || sec || '.'
             || lpad(CAST(nsec AS VARCHAR), 9, '0') || ', {'
             || '"msg"=>' || coalesce('"' || msg || '"', 'nil') || ', '
             || '"code"=>' || code || ', '
             || '"ratio"=>' || ratio || ', '
             || '"ok"=>' || ok || '}]' AS line
         FROM r""",

    "fb_plot_line" ->
      """-- out_plot bytes (plot.c:160-171): '%f value'
         SELECT doc_id AS seq,
           printf('%f', (1500322623 + doc_id % 3600)
                        + ((doc_id * 997) % 1000000) * 1000 / 1000000000.0)
             || ' ' || CAST((doc_id * 37) % 1009 AS VARCHAR) AS line
         FROM documents""",

    "fb_es_bulk" ->
      """-- ES bulk chunk (es_bulk.h:27 + es.c:229-287): action line,
         -- newline, record json with @timestamp first (strftime +
         -- UNPADDED msec fraction: es.c:215 tv_nsec /= 1000000), newline
         WITH r AS (
           SELECT doc_id AS seq,
             1500322623 + doc_id % 3600 AS sec,
             ((doc_id * 997) % 1000000) * 1000 AS nsec,
             CASE WHEN doc_id % 7 = 0 THEN NULL
                  ELSE 'msg ' || CAST(doc_id % 50 AS VARCHAR) END AS msg,
             CAST((doc_id * 37) % 1009 AS VARCHAR) AS code,
             printf('%f', (doc_id % 89) / 8.0) AS ratio,
             CASE WHEN doc_id % 2 = 0 THEN 'true' ELSE 'false' END AS ok
           FROM documents)
         SELECT seq,
           '{"index":{"_index":"fluent-bit","_type":"flb_type"}}' || chr(10)
             || '{"@timestamp":"'
             || strftime(epoch_ms(sec * 1000), '%Y-%m-%dT%H:%M:%S')
             || '.' || CAST(nsec // 1000000 AS VARCHAR) || 'Z", '
             || '"msg":' || coalesce('"' || msg || '"', 'null') || ', '
             || '"code":' || code || ', '
             || '"ratio":' || ratio || ', '
             || '"ok":' || ok || '}' || chr(10) AS chunk
         FROM r""",

    "fb_influx_line" ->
      """-- influxdb line protocol (influxdb.c:88-278 + influxdb_bulk.c):
         -- head 'tag,_seq=N', space, null-skipped k=v fields (strings
         -- escape-quoted, TRUE/FALSE uppercase, floats %f), space, ns ts
         WITH r AS (
           SELECT doc_id AS seq,
             1500322623 + doc_id % 3600 AS sec,
             ((doc_id * 997) % 1000000) * 1000 AS nsec,
             CASE WHEN doc_id % 7 = 0 THEN NULL
                  ELSE 'msg ' || CAST(doc_id % 50 AS VARCHAR) END AS msg,
             CAST((doc_id * 37) % 1009 AS VARCHAR) AS code,
             printf('%f', (doc_id % 89) / 8.0) AS ratio,
             CASE WHEN doc_id % 2 = 0 THEN 'TRUE' ELSE 'FALSE' END AS ok
           FROM documents)
         SELECT seq,
           'app.log,_seq=' || seq || ' '
             || concat_ws(',',
                  CASE WHEN msg IS NULL THEN NULL ELSE 'msg="' || msg || '"' END,
                  'code=' || code, 'ratio=' || ratio, 'ok=' || ok)
             || ' ' || CAST(sec * 1000000000 + nsec AS VARCHAR) AS line
         FROM r""",

    "fb_nats_payload" ->
      """-- nats payload entry (nats.c:105-150): [%f, {"tag":..., record}]
         WITH r AS (
           SELECT doc_id AS seq,
             printf('%f', (1500322623 + doc_id % 3600)
                          + ((doc_id * 997) % 1000000) * 1000 / 1000000000.0) AS t,
             CASE WHEN doc_id % 7 = 0 THEN NULL
                  ELSE 'msg ' || CAST(doc_id % 50 AS VARCHAR) END AS msg,
             CAST((doc_id * 37) % 1009 AS VARCHAR) AS code,
             printf('%f', (doc_id % 89) / 8.0) AS ratio,
             CASE WHEN doc_id % 2 = 0 THEN 'true' ELSE 'false' END AS ok
           FROM documents)
         SELECT seq,
           '[' || t || ', {"tag":"app.log", '
             || '"msg":' || coalesce('"' || msg || '"', 'null') || ', '
             || '"code":' || code || ', "ratio":' || ratio || ', '
             || '"ok":' || ok || '}]' AS entry
         FROM r""",

    "fb_http_json" ->
      """-- http json record (http.c:67-124), ISO8601 µs date first
         WITH r AS (
           SELECT doc_id AS seq,
             1500322623 + doc_id % 3600 AS sec,
             ((doc_id * 997) % 1000000) * 1000 AS nsec,
             CASE WHEN doc_id % 7 = 0 THEN NULL
                  ELSE 'msg ' || CAST(doc_id % 50 AS VARCHAR) END AS msg,
             CAST((doc_id * 37) % 1009 AS VARCHAR) AS code,
             printf('%f', (doc_id % 89) / 8.0) AS ratio,
             CASE WHEN doc_id % 2 = 0 THEN 'true' ELSE 'false' END AS ok
           FROM documents)
         SELECT seq,
           '{"date":"' || strftime(epoch_ms(sec * 1000), '%Y-%m-%dT%H:%M:%S')
             || '.' || lpad(CAST(nsec // 1000 AS VARCHAR), 6, '0') || 'Z", '
             || '"msg":' || coalesce('"' || msg || '"', 'null') || ', '
             || '"code":' || code || ', "ratio":' || ratio || ', '
             || '"ok":' || ok || '}' AS record
         FROM r""",

    "fb_splunk_event" ->
      """-- splunk HEC event (splunk.c:85-134): {"time":%f, "event":{rec}}
         WITH r AS (
           SELECT doc_id AS seq,
             printf('%f', (1500322623 + doc_id % 3600)
                          + ((doc_id * 997) % 1000000) * 1000 / 1000000000.0) AS t,
             CASE WHEN doc_id % 7 = 0 THEN NULL
                  ELSE 'msg ' || CAST(doc_id % 50 AS VARCHAR) END AS msg,
             CAST((doc_id * 37) % 1009 AS VARCHAR) AS code,
             printf('%f', (doc_id % 89) / 8.0) AS ratio,
             CASE WHEN doc_id % 2 = 0 THEN 'true' ELSE 'false' END AS ok
           FROM documents)
         SELECT seq,
           '{"time":' || t || ', "event":{'
             || '"msg":' || coalesce('"' || msg || '"', 'null') || ', '
             || '"code":' || code || ', "ratio":' || ratio || ', '
             || '"ok":' || ok || '}}' AS event
         FROM r""",

    "sim_rp_reduce" ->
      """-- raw SRP projections (same hyperplane formula as
         -- sim_srp_buckets/dedup_embed_pairs), sequential per-plane folds;
         -- one scalar column per plane (array cells are unsortable in the
         -- driver's comparator)
         WITH rp AS (
           SELECT vec_id,
             list_transform(range(0, 8), p ->
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(1, len(embedding)+1),
                   i -> CAST(embedding[i] AS DOUBLE)
                        * (CAST((((p*8191 + (i-1)) * 2654435761) % 2001) - 1000 AS DOUBLE) / 1000.0))),
                 (x,y) -> x+y)) AS v
           FROM embeddings)
         SELECT vec_id, v[1] AS rp0, v[2] AS rp1, v[3] AS rp2, v[4] AS rp3,
                v[5] AS rp4, v[6] AS rp5, v[7] AS rp6, v[8] AS rp7
         FROM rp""",

    "sim_rp_topk" ->
      """-- reduced-space search: cosine top-3 over the 8 raw projections,
         -- the whole chain (project + score + rank) re-derived from the
         -- raw embeddings
         WITH rp AS (
           SELECT vec_id,
             list_transform(range(0, 8), p ->
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(1, len(embedding)+1),
                   i -> CAST(embedding[i] AS DOUBLE)
                        * (CAST((((p*8191 + (i-1)) * 2654435761) % 2001) - 1000 AS DOUBLE) / 1000.0))),
                 (x,y) -> x+y)) AS v
           FROM embeddings),
         scored AS (
           SELECT q.vec_id AS qid, c.vec_id AS cid,
             list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 9),
               i -> q.v[i] * c.v[i])), (x,y) -> x+y)
             / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 9),
                  i -> q.v[i] * q.v[i])), (x,y) -> x+y))
                * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 9),
                  i -> c.v[i] * c.v[i])), (x,y) -> x+y))) AS cos
           FROM rp q JOIN rp c ON q.vec_id < 8 AND c.vec_id != q.vec_id)
         SELECT qid, cid, cos, CAST(rn AS INTEGER) AS rank FROM (
           SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
           FROM scored) WHERE rn <= 3""",

    "corpus_mix" ->
      """-- stratified mixture: per-source CASE rate over the same
         -- portable multiplicative hash as corpus_sample
         SELECT doc_id, source FROM documents
         WHERE (doc_id * 2654435761) % 100 <
           CASE WHEN source IN ('src0','src1','src2','src3') THEN 100
                WHEN source IN ('src4','src5','src6','src7','src8','src9') THEN 50
                ELSE 10 END""",

    "text_repeated_spans" ->
      """-- cross-doc repeated 8-gram spans: same split/position/gram
         -- derivation re-run verbatim
         WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id, i AS pos, array_to_string(ws[i:i+7], ' ') AS gram
               FROM w, LATERAL unnest(range(1, len(ws)-7+1)) AS t(i)
               WHERE len(ws) >= 8),
         dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) > 1)
         SELECT doc_id, CAST(pos AS INTEGER) AS pos, gram
         FROM g JOIN dup USING (gram)""",

    "text_repeated_spans_hashed" ->
      """-- hashed-key + occurrence-capped span detection: the cap is
         -- re-derived over the STRING gram (the hash is an engine-side
         -- shuffle detail; collision-free on this fixture)
         WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id, i AS pos, array_to_string(ws[i:i+7], ' ') AS gram
               FROM w, LATERAL unnest(range(1, len(ws)-7+1)) AS t(i)
               WHERE len(ws) >= 8),
         dup AS (SELECT gram FROM g GROUP BY gram
                 HAVING count(DISTINCT doc_id) > 1 AND count(*) <= 64)
         SELECT doc_id, CAST(pos AS INTEGER) AS pos, gram
         FROM g JOIN dup USING (gram)""",

    "text_strip_spans" ->
      """-- span removal re-derived end-to-end: detection, canonical
         -- (min doc, min pos) keeper per gram, covered-offset union,
         -- anti-join, ordered reassembly
         WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id, i AS pos, array_to_string(ws[i:i+7], ' ') AS gram
               FROM w, LATERAL unnest(range(1, len(ws)-7+1)) AS t(i)
               WHERE len(ws) >= 8),
         dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) > 1),
         sp AS (SELECT doc_id, pos, gram FROM g JOIN dup USING (gram)),
         keep AS (
           SELECT gram, doc_id AS kid, pos AS kpos FROM (
             SELECT gram, doc_id, pos,
               row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
             FROM sp) WHERE rn = 1),
         dropw AS (
           SELECT DISTINCT sp.doc_id, CAST(t.o AS BIGINT) AS w
           FROM sp JOIN keep USING (gram), LATERAL unnest(range(sp.pos, sp.pos + 8)) AS t(o)
           WHERE NOT (sp.doc_id = keep.kid AND sp.pos = keep.kpos)),
         words AS (
           SELECT doc_id, CAST(i AS BIGINT) AS w, ws[i] AS word
           FROM w, LATERAL unnest(range(1, len(ws)+1)) AS t(i))
         SELECT words.doc_id, string_agg(word, ' ' ORDER BY w) AS clean_text
         FROM words ANTI JOIN dropw
           ON words.doc_id = dropw.doc_id AND words.w = dropw.w
         GROUP BY words.doc_id""",

    "text_strip_spans_hashed" ->
      """-- hashed-key removal: identical semantics re-derived over the
         -- STRING gram with the occurrence cap in the dup set (the hash
         -- is an engine shuffle detail; collision-free on this fixture)
         WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id, i AS pos, array_to_string(ws[i:i+7], ' ') AS gram
               FROM w, LATERAL unnest(range(1, len(ws)-7+1)) AS t(i)
               WHERE len(ws) >= 8),
         dup AS (SELECT gram FROM g GROUP BY gram
                 HAVING count(DISTINCT doc_id) > 1 AND count(*) <= 64),
         sp AS (SELECT doc_id, pos, gram FROM g JOIN dup USING (gram)),
         keep AS (
           SELECT gram, doc_id AS kid, pos AS kpos FROM (
             SELECT gram, doc_id, pos,
               row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
             FROM sp) WHERE rn = 1),
         dropw AS (
           SELECT DISTINCT sp.doc_id, CAST(t.o AS BIGINT) AS w
           FROM sp JOIN keep USING (gram), LATERAL unnest(range(sp.pos, sp.pos + 8)) AS t(o)
           WHERE NOT (sp.doc_id = keep.kid AND sp.pos = keep.kpos)),
         words AS (
           SELECT doc_id, CAST(i AS BIGINT) AS w, ws[i] AS word
           FROM w, LATERAL unnest(range(1, len(ws)+1)) AS t(i))
         SELECT words.doc_id, string_agg(word, ' ' ORDER BY w) AS clean_text
         FROM words ANTI JOIN dropw
           ON words.doc_id = dropw.doc_id AND words.w = dropw.w
         GROUP BY words.doc_id""",

    "fb_time_ns" ->
      """SELECT doc_id AS seq,
           CAST(1500322623 AS BIGINT) AS sec,
           CAST((doc_id * 2654435761) % 1000000000 AS INTEGER) AS nsec,
           CAST(1500322623000000 + ((doc_id * 2654435761) % 1000000000) // 1000 AS BIGINT) AS tus
         FROM documents""",

    "fb_decode_chain" ->
      """SELECT doc_id AS seq,
           concat('{"k": "', CAST(doc_id % 100 AS VARCHAR), '", "msg": "m ',
                  CAST(doc_id AS VARCHAR), '"}') AS log,
           'stdout' AS stream,
           CAST(doc_id % 100 AS VARCHAR) AS k,
           concat('m ', CAST(doc_id AS VARCHAR)) AS msg,
           CAST(4 AS INTEGER) AS nkeys
         FROM documents""",

    "fb_variant_json" ->
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events",

    "fb_multiline" ->
      """WITH w AS (
           SELECT doc_id, unnest(range(1, len(string_split(text,' ')) + 1)) AS line_no
           FROM documents),
         lines AS (
           SELECT w.doc_id, CAST(w.line_no AS INTEGER) AS line_no,
                  string_split(d.text,' ')[w.line_no] AS word
           FROM w JOIN documents d ON d.doc_id = w.doc_id),
         marked AS (
           SELECT doc_id, line_no, word,
                  SUM(CASE WHEN word = 'the' THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY line_no) AS rec
           FROM lines)
         SELECT doc_id, CAST(rec AS BIGINT) AS record_id,
                string_agg(word, chr(10) ORDER BY line_no) AS record
         FROM marked WHERE rec > 0 GROUP BY doc_id, rec""",

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt, sum(l_quantity) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",

    "q_distinct_agg" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust, count(*) AS cnt
         FROM orders GROUP BY o_orderpriority""",

    "curate_corpus" ->
      """WITH s AS (
           SELECT doc_id, text,
             CAST(len(string_split(text,' ')) AS INTEGER) AS n_words,
             len(list_filter(string_split(text,' '), w -> lower(w) IN ('the','a','is','of','and'))) AS s_en,
             len(list_filter(string_split(text,' '), w -> lower(w) IN ('le','la','les','et','un','une'))) AS s_fr,
             len(list_filter(string_split(text,' '), w -> lower(w) IN ('el','los','y','que','una'))) AS s_es,
             len(list_filter(string_split(text,' '), w -> lower(w) IN ('der','die','und','das','ein'))) AS s_de
           FROM documents),
         kept AS (
           SELECT * FROM s
           WHERE n_words >= 30
             AND greatest(s_en,s_fr,s_es,s_de) > 0
             AND s_en = greatest(s_en,s_fr,s_es,s_de)),
         keepers AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY hash(text))
         SELECT k.doc_id, k.n_words FROM kept k
         WHERE EXISTS (SELECT 1 FROM keepers x WHERE x.doc_id = k.doc_id)""",

    "multimodal_resize" ->
      """WITH p AS (
           SELECT doc_id, text, length(text) AS len,
                  greatest(1, length(text) // 64) AS k
           FROM documents)
         SELECT doc_id, CAST(64 AS INTEGER) AS width, CAST(64 AS INTEGER) AS height,
           CAST((len + k - 1) // k AS BIGINT) AS n_bytes,
           CAST(list_sum(list_transform(range(0, CAST((len + k - 1) // k AS INTEGER)),
             i -> ascii(substr(text, CAST(i*k + 1 AS INTEGER), 1)))) AS BIGINT) AS byte_sum
         FROM p""",

    "multimodal_frames" ->
      """WITH p AS (
           SELECT doc_id, text, length(text) AS len,
                  greatest(1, length(text) // 8) AS fs
           FROM documents),
         f AS (
           SELECT doc_id, text, fs, len // fs AS total,
                  unnest([0, 2, 4, 6]) AS frame_no
           FROM p)
         SELECT doc_id, CAST(frame_no AS INTEGER) AS frame_no,
           CAST(fs AS BIGINT) AS n_bytes,
           CAST(list_sum(list_transform(range(1, CAST(fs AS INTEGER) + 1),
             i -> ascii(substr(text, CAST(frame_no*fs + i AS INTEGER), 1)))) AS BIGINT) AS byte_sum
         FROM f WHERE frame_no < total""",

    "multimodal_features" ->
      """SELECT doc_id,
           ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
           CAST(length(text) AS BIGINT) AS n_bytes,
           CAST(list_sum(list_transform(range(1, least(length(text), 16) + 1),
             i -> ascii(substr(text, CAST(i AS INTEGER), 1)))) AS BIGINT) AS head_sum,
           CAST((length(text)*7 + 13) % 1024 + 1 AS INTEGER) AS width,
           CAST((length(text)*13 + 7) % 1024 + 1 AS INTEGER) AS height
         FROM documents""",

    "multimodal_image_dims" ->
      """-- PNG container: 33-byte header (8 sig + 4 len + 'IHDR' + 13 data
         -- + 4 crc) then the raw text payload; head_sum = Σ of the first
         -- 16 header bytes = sig(425) + len(13) + 'IHDR'(295) = 733 for
         -- every row; dims re-derived from the generator's id formula
         SELECT doc_id,
           CAST(length(text) + 33 AS BIGINT) AS n_bytes,
           CAST(733 AS BIGINT) AS head_sum,
           CAST(doc_id % 1024 + 1 AS INTEGER) AS width,
           CAST(doc_id % 768 + 1 AS INTEGER) AS height
         FROM documents"""
  )
}
