package graft.run

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.conf.ConfParser
import graft.core.Glob
import graft.operators.{Grep, Nest, ParserFilter, RecordModifier, Scripted, Throttle}
import graft.parsers.ParserConfLoader
import graft.sources.{Samplers, TailSource}

/** Classic-mode pipeline config → runnable job: a fluent-bit user brings
  * their `fluent-bit.conf` + `parsers.conf` and runs the same pipeline on
  * Spark. Mirrors the reference's `flb_service_conf` section model
  * (`src/fluent-bit.c:368-530`): `[INPUT]`/`[FILTER]`/`[OUTPUT]` sections
  * applied in file order, every filter/output gated by its `Match` glob.
  *
  * Supported subset (the shipped plugin surface of this engine):
  *   - INPUT: `tail` (Path, Tag, Parser), `dummy` (Dummy, Samples),
  *     `head` (File, Lines/Buf_Size), `exec` (Command, Parser),
  *     `tcp`/`syslog` (Port, Tag, Parser — live socket, drain-until-quiet
  *     batch), `forward` (Port — msgpack frames to typed columns)
  *   - FILTER: `grep` (Regex/Exclude k p, encounter order), `record_modifier`
  *     (Remove_key/Whitelist_key/Record), `parser` (Key_Name, Parser,
  *     Reserve_Data, Preserve_Key), `throttle` (Rate, Interval), `nest`
  *     (Operation/Wildcard/Nest_under/Nested_under/Prefix_with), `modify`
  *     (sequential rules; schema-decidable conditions — see
  *     [[applyModifyConf]]), `lua` (script/call resolved to REGISTERED
  *     Scala functions implementing the cb(tag, ts, record) protocol —
  *     [[graft.operators.Scripted.LuaRegistry]]; no Lua VM offline)
  *   - OUTPUT: `file` (Format json/csv/ltsv, Path), `counter`,
  *     `flowcounter` (a record count; its per-Unit console report is left
  *     out), `forward` (wire-format frames to parquet,
  *     Time_as_Integer), `null`, `stdout`
  *
  * Filters run on a fixed-schema line frame (`line`, `file`, `tag` +
  * parsed columns); a filter whose Match doesn't cover a row leaves that
  * row untouched (`src/flb_filter.c:78-106`): `parser`, `throttle` and
  * `lua` run on the matching rows only and union the rest back, `grep`
  * keeps every row of another tag. DEVIATION: the column-rewriting
  * filters `record_modifier`, `nest` and `modify` apply to ALL rows
  * regardless of Match — a fixed-schema frame cannot hold per-row column
  * sets; route such configs through the map-record operator `Modify`
  * when per-tag schema divergence matters.
  */
object ConfPipeline {

  /** The flatten step of the record-carrying inputs (forward, mqtt):
    * `raw` holds the frame columns plus the record map `_rec`, and each key
    * of the batch's record-key union becomes one column, in sorted order.
    * The union is taken on the driver: the batch already passed through
    * the driver's accept loop, so the key scan adds no pass. A key
    * colliding with a frame column name is prefix-uniquified (re-prefixing
    * until unused): a record carrying BOTH the reserved name and its
    * prefixed form must not produce duplicate output columns — the
    * reference keeps record keys in their own msgpack namespace;
    * flattening to columns conflates the two.
    */
  private def flattenRecords(raw: DataFrame, records: Seq[Map[String, String]]): DataFrame = {
    val keys = records.flatMap(_.keys).distinct.sorted
    val frame = raw.columns.filter(_ != "_rec").toSeq
    def unique(k: String): String =
      if (!frame.contains(k)) k
      else Iterator.iterate("_" + k)("_" + _).find(!keys.contains(_)).get
    raw.select(frame.map(col) ++ keys.map(k => col("_rec").getItem(k).as(unique(k))): _*)
  }

  /** Size values with optional binary-ish suffix, exactly
    * `flb_utils_size_to_bytes` (`src/flb_utils.c:312-376`): suffix is the
    * 1–2 trailing non-digits, case-insensitive K/M/G (×1000 each — the
    * reference uses DECIMAL multipliers) with optional trailing B; any
    * other suffix is an error (the reference returns -1; a descriptive
    * throw is this port's error channel).
    */
  def sizeToBytes(size: String): Long = {
    val s = size.trim
    require(s.nonEmpty, "empty size value")
    // atoll semantics: the numeric value is the LEADING integer with an
    // optional sign ("2.5M" reads as 2M, bare "12.5" as 12, "-1" as -1 —
    // exactly what the reference accepts)
    val (sign, unsigned) =
      if (s.startsWith("-")) (-1L, s.drop(1))
      else if (s.startsWith("+")) (1L, s.drop(1))
      else (1L, s)
    val base = unsigned.takeWhile(_.isDigit) match {
      case "" => 0L
      case d  => sign * d.toLong
    }
    // suffix scan mirrors the C loop (`for (i = len-1; i > 0; i--)`):
    // char 0 is never part of the suffix
    val suffixLen = math.min(
      s.reverseIterator.takeWhile(!_.isDigit).length, s.length - 1)
    if (suffixLen == 0) return base
    require(suffixLen <= 2,
      s"invalid size value '$size' (flb_utils_size_to_bytes semantics)")
    val suffix = s.takeRight(suffixLen).toUpperCase
    require(suffixLen == 1 || suffix.endsWith("B"),
      s"invalid size suffix in '$size' — two-char suffix must end in B")
    suffix.charAt(0) match {
      case 'K' => base * 1000L
      case 'M' => base * 1000L * 1000L
      case 'G' => base * 1000L * 1000L * 1000L
      case _ => throw new IllegalArgumentException(
        s"invalid size suffix in '$size' — expected K/M/G[B]")
    }
  }

  final case class OutputSpec(plugin: String, matchGlob: String,
                              options: Map[String, String])

  final case class Loaded(filtered: DataFrame, outputs: Seq[OutputSpec])

  def load(spark: SparkSession, confText: String, parsersText: String): Loaded =
    load(spark, confText, parsersText, new ConfParser.Env())

  /** `env` carries `@SET` metas and `${VAR}` lookups (flb_env semantics —
    * see [[graft.conf.ConfParser.Env]]); injectable so specs don't depend
    * on the process environment.
    */
  def load(spark: SparkSession, confText: String, parsersText: String,
           env: ConfParser.Env): Loaded = {
    val sections = ConfParser.parse(confText, env)
    val parsers = ParserConfLoader.load(parsersText)

    // An input's NAMED `Parser` that the parsers file does not define is
    // a config error (the reference fails plugin init when flb_parser_get
    // returns NULL — in_tail.c / syslog_conf.c); silently falling back
    // would run the wrong parser over the stream and hide the typo. Only
    // an ABSENT key takes `default` (None for raw-line inputs; stdin
    // passes the shipped json parser, its reference default mode).
    def inputParser(s: ConfParser.Section,
                    default: Option[graft.parsers.ParserDef] = None) =
      s.get("Parser") match {
        case Some(name) => Some(parsers.getOrElse(name,
          throw new IllegalArgumentException(
            s"${s.get("Name").getOrElse("input")} input: unknown Parser '$name'")))
        case None => default
      }

    // The one input-parse path (tail, exec, stdin, tcp/syslog): the parser
    // flattens `line`, then stamps the record time from Time_Key (the
    // reference's in_tail parse path) — gives throttle/lua/flowcounter a
    // ts column to work on, identically over every input. Both Time_Key
    // AND Time_Format must be set: a key without a format would add an
    // all-null ts that flips those filters from no-op to actively
    // bucketing everything into null. No parser leaves the line frame.
    def parsedLines(df: DataFrame, parser: Option[graft.parsers.ParserDef]): DataFrame =
      parser.fold(df)(p => ParserFilter.flatten("line", p, tsCol = Some("ts"))(df))

    // ---- INPUT (first supported section wins; multiple inputs → union)
    val inputs = sections.filter(_.name == "INPUT").map { s =>
      // drain window of the network faces (tcp/syslog, forward, mqtt)
      def quietMs = s.get("Quiet_Ms").map(_.toLong).getOrElse(300L)
      def timeoutMs = s.get("Timeout_Ms").map(_.toLong).getOrElse(30000L)
      s.get("Name").map(_.toLowerCase) match {
        case Some("tail") =>
          val path = s.get("Path").getOrElse(
            throw new IllegalArgumentException("tail input needs Path"))
          val tag = s.get("Tag").getOrElse("*")
          parsedLines(TailSource.lines(spark, path, tag), inputParser(s))
        case Some("dummy") =>
          val n = s.get("Samples").map(_.toLong).getOrElse(1000L)
          val tag = s.get("Tag").getOrElse("dummy.0")
          spark.range(n).select(
            concat(lit("dummy-"), col("id").cast("string")).as("line"),
            lit("dummy").as("file"), lit(tag).as("tag"))
        case Some("head") =>
          // in_head: first Lines lines / Buf_Size bytes per file; content
          // lands in the conf frame's `line` column (record key deviation
          // documented on HeadSource)
          val file = s.get("File").getOrElse(
            throw new IllegalArgumentException("head input needs File"))
          val tag = s.get("Tag").getOrElse("head.0")
          graft.sources.HeadSource(spark, file, tag,
            lines = s.get("Lines").map(_.toInt).getOrElse(0),
            bytes = s.get("Buf_Size").map(ConfPipeline.sizeToBytes).getOrElse(256L),
            key = "line")
        case Some("exec") =>
          val cmd = s.get("Command").getOrElse(
            throw new IllegalArgumentException("exec input needs Command"))
          val tag = s.get("Tag").getOrElse("exec.0")
          parsedLines(graft.sources.ExecSource(spark, cmd, tag), inputParser(s))
        case Some("stdin") =>
          // in_stdin (in_stdin.c:88-180): read stdin to EOF. The
          // reference's DEFAULT mode consumes a newline-AGNOSTIC stream
          // of JSON values (flb_pack_json_state, multiple=TRUE,
          // in_stdin.c:117-148) — pretty-printed or concatenated values
          // are records too — so with no explicit Parser the byte stream
          // splits through the same stream tokenizer as the serial face
          // (Serial.jsonStream: PART keeps the complete prefix, INVAL
          // fails the buffer) and each value json-parses; an explicit
          // Parser handles newline-split lines (in_stdin.c:150-168).
          val tag = s.get("Tag").getOrElse("stdin.0")
          (inputParser(s), parsers.get("json")) match {
            case (None, Some(json)) => // default JSON-value-stream mode
              import spark.implicits._
              val text = new String(
                graft.sources.StdinSource.stream().readAllBytes(),
                java.nio.charset.StandardCharsets.UTF_8)
              val values = graft.sources.Serial.jsonStream(text)
              parsedLines(values.toDF("line")
                .withColumn("file", lit("stdin"))
                .withColumn("tag", lit(tag)), Some(json))
            // explicit Parser: per-line records; no parser anywhere: the
            // raw line frame
            case (explicit, _) =>
              parsedLines(graft.sources.StdinSource(
                spark, graft.sources.StdinSource.stream(), tag), explicit)
          }
        case Some("tcp") | Some("syslog") =>
          // in_tcp (tcp_conn.c) / in_syslog (syslog_conf.c:48-68): bind
          // Port, drain until the socket goes quiet, one (line, file, tag)
          // record per line — the batch semantics of the reference's
          // buffer-then-flush engine; a Parser option parses each line
          // like the reference's syslog path.
          //
          // syslog Mode: the reference accepts unix_udp (default) /
          // unix_tcp / tcp. DOCUMENTED DEVIATION: no unix domain sockets
          // offline — unix_udp maps to a localhost UDP datagram socket
          // (one datagram = one record, syslog_prot.c consumes whole
          // messages) and unix_tcp to the localhost TCP listener; plain
          // `udp` is accepted as an alias for the datagram face. in_tcp
          // has no Mode and always streams TCP.
          val port = s.get("Port").map(_.toInt).getOrElse(
            throw new IllegalArgumentException("tcp/syslog input needs Port"))
          val tag = s.get("Tag").getOrElse(s.get("Name").get.toLowerCase + ".0")
          val isSyslog = s.get("Name").get.equalsIgnoreCase("syslog")
          val mode = s.get("Mode").map(_.toLowerCase) match {
            case Some(m @ ("unix_udp" | "unix_tcp" | "tcp" | "udp")) if isSyslog => m
            case Some(m) if isSyslog =>
              // syslog_conf.c:60-64 — unknown mode is a config error
              throw new IllegalArgumentException(s"Unknown syslog mode $m")
            case Some(m) =>
              throw new IllegalArgumentException(s"tcp input has no Mode (got $m)")
            case None => if (isSyslog) "unix_udp" else "tcp"
          }
          val df =
            if (mode == "unix_udp" || mode == "udp") {
              val l = graft.sources.NetworkSources.listenUdp(port)
              val datagrams =
                try l.drainUntilQuiet(quietMs, timeoutMs) finally l.close()
              graft.sources.NetworkSources.datagramRows(spark, datagrams, tag)
            } else {
              val l = graft.sources.NetworkSources.listen(port)
              val (payloads, deferred) =
                try l.drainUntilQuietLines(quietMs, timeoutMs) finally l.close()
              if (deferred > 0)
                System.err.println(
                  s"[conf-${s.get("Name").get.toLowerCase}] deferred $deferred unterminated tail bytes (open connection mid-line)")
              graft.sources.NetworkSources.lineRows(spark, payloads, tag)
            }
          parsedLines(df, inputParser(s))
        case Some("forward") =>
          // in_forward (fw_prot.c): drain msgpack frames, decode leniently,
          // and surface each entry as columns — tag, ts (from the fixext8
          // sec+nsec), and one column per record key ([[flattenRecords]])
          val port = s.get("Port").map(_.toInt).getOrElse(24224)
          val l = graft.sources.NetworkSources.listen(port)
          val payloads = try l.drainUntilQuiet(quietMs, timeoutMs) finally l.close()
          val decoded = payloads.map(graft.sinks.MsgpackDecode.unpackFramesLenient)
          val skipped = decoded.map(_._2).sum
          if (skipped > 0)
            System.err.println(s"[conf-forward] skipped $skipped undecodable tail bytes")
          // ts micros computed HERE (the batch is driver-local anyway) with
          // an overflow guard: a crafted uint64 wire time × 1e6 would throw
          // under ANSI; out-of-range times clamp to 0 like a missing time
          def micros(sec: Long, nsec: Long): Long =
            if (sec < 0L || sec > 253402300799L) 0L // beyond year 9999
            else sec * 1000000L + nsec / 1000L
          val entries = decoded.flatMap(_._1)
            .flatMap { case (t, es) => es.map(e => (t, micros(e.sec, e.nsec), e.record)) }
          import spark.implicits._
          flattenRecords(entries.toDF("tag", "_fus", "_rec")
            .select(col("tag"), timestamp_micros(col("_fus")).as("ts"), col("_rec")),
            entries.map(_._3))
        case Some(n @ ("mem" | "cpu" | "disk" | "netif" | "proc" | "health")) =>
          // metric sampler faces (driver-side /proc readers / TCP probe,
          // graft.sources.Samplers): interval semantics follow the
          // reference — Interval_Sec + Interval_NSec, both ≤ 0 overridden
          // to the 1 s default (in_cpu.c:182-189 etc.)
          val tag = s.get("Tag").getOrElse(s"$n.0")
          val sec = s.get("Interval_Sec").map(_.toLong).getOrElse(0L)
          val nsec = s.get("Interval_NSec").map(_.toLong).getOrElse(0L)
          val interval = if (sec <= 0 && nsec <= 0) 1.0 else sec + nsec / 1e9
          // in_proc.c:192-210: false OR off disables, true OR on enables;
          // the other sampler flags read on-ish the same way
          def onish(k: String) = s.get(k).exists(v =>
            v.equalsIgnoreCase("true") || v.equalsIgnoreCase("on"))
          def offish(k: String) = s.get(k).exists(v =>
            v.equalsIgnoreCase("false") || v.equalsIgnoreCase("off"))
          n match {
            case "mem" =>
              Samplers.mem(spark, tag, pid = s.get("Pid").map(_.toLong))
            case "cpu" => Samplers.cpu(spark, tag, interval)
            case "disk" =>
              Samplers.disk(spark, tag, devName = s.get("Dev_Name"), interval)
            case "netif" =>
              val iface = s.get("Interface").getOrElse(
                throw new IllegalArgumentException("netif input needs Interface"))
              Samplers.netif(spark, iface, tag, interval, verbose = onish("Verbose"))
            case "proc" =>
              val name = s.get("Proc_Name").getOrElse(
                throw new IllegalArgumentException("proc input needs Proc_Name"))
              // Mem/Fd default on: anything but false/off keeps them
              Samplers.proc(spark, name, tag,
                mem = !offish("Mem"), fds = !offish("Fd"), alert = onish("Alert"))
            case "health" =>
              val host = s.get("Host").getOrElse(
                throw new IllegalArgumentException("health input needs Host"))
              val port = s.get("Port").map(_.toInt).getOrElse(
                throw new IllegalArgumentException("health input needs Port"))
              Samplers.health(spark, host, port, tag, addHost = onish("Add_Host"),
                addPort = onish("Add_Port"), alert = onish("Alert"))
          }
        case Some("mqtt") =>
          // in_mqtt (mqtt_prot.c): an embedded MQTT 3.1.1 broker listens on
          // Port (reference default 1883, mqtt_config.c:52-58), CONNACKs,
          // ACKs QoS>0 publishes, and turns each PUBLISH payload that
          // parses as a JSON map into one record with the topic prepended
          // under 'topic' (mqtt_data_append, mqtt_prot.c:112-174); a
          // non-JSON payload is dropped with a warning (the flb_pack_json
          // failure path). Record keys flatten like the forward face's
          // ([[flattenRecords]]).
          val port = s.get("Port").map(_.toInt).getOrElse(1883)
          val tag = s.get("Tag").getOrElse("mqtt.0")
          val b = graft.sources.Mqtt.broker(port)
          val msgs = try b.drainUntilQuiet(quietMs, timeoutMs) finally b.close()
          val parsed = msgs.flatMap { case (topic, payload) =>
            graft.sources.Mqtt.jsonFlat(new String(payload, "UTF-8")) match {
              case Some(kvs) => Some((topic, kvs.toMap))
              case None =>
                System.err.println(s"[conf-mqtt] dropped non-JSON publish on '$topic'")
                None
            }
          }
          import spark.implicits._
          flattenRecords(parsed.toDF("topic", "_rec").withColumn("tag", lit(tag)),
            parsed.map(_._2))
        case Some("kmsg") =>
          // in_kmsg (in_kmsg.c:108-210): kernel-log lines → {priority,
          // sequence, sec, usec, msg} with boot-relative event time (boot
          // seconds from /proc/uptime like time_lookup, in_kmsg.c:50-103).
          // DOCUMENTED DEVIATION: the live /dev/kmsg device read blocks
          // when drained and stays an offline non-goal — this face needs
          // Path pointing at a kmsg capture in the same line format.
          val path = s.get("Path").getOrElse(throw new IllegalArgumentException(
            "kmsg input needs Path (offline face: point it at a /dev/kmsg capture)"))
          val tag = s.get("Tag").getOrElse("kmsg.0")
          val boot = s.get("Boot_Sec").map(_.toLong)
            .getOrElse(graft.sources.Kmsg.bootTimeSec())
          graft.sources.Kmsg.parse(TailSource.lines(spark, path, tag), "line", boot)
        case Some("serial") =>
          // in_serial (in_serial_config.c:38-41): read the configured File
          // (the reference's device-path property) and form records per
          // in_serial.c — Separator split / Format json stream / whole
          // chunk as one msg. Bitrate/Min_Bytes are tty ioctls: accepted
          // and ignored offline.
          val file = s.get("File").getOrElse(
            throw new IllegalArgumentException("serial input needs File"))
          val tag = s.get("Tag").getOrElse("serial.0")
          val text = new String(
            java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)), "UTF-8")
          val msgs = s.get("Separator") match {
            case Some(sep) => graft.sources.Serial.segmentsLocal(text, sep)
            case None if s.get("Format").exists(_.equalsIgnoreCase("json")) =>
              graft.sources.Serial.jsonStream(text)
            case None =>
              // whole-chunk mode strips the lead like the other two (the
              // checks precede the format dispatch); an empty stream emits
              // nothing (read()==0 returns before process_line)
              val t = graft.sources.Serial.stripLead(text)
              if (t.isEmpty) Seq.empty else Seq(t)
          }
          import spark.implicits._
          msgs.toDF("msg").withColumn("tag", lit(tag))
        case other =>
          throw new IllegalArgumentException(s"unsupported input $other")
      }
    }
    val input = inputs.reduceOption((a, b) => a.unionByName(b, allowMissingColumns = true))
      .getOrElse(throw new IllegalArgumentException("no [INPUT] section"))

    // ---- FILTER chain, in order, each gated by Match
    val filtered = sections.filter(_.name == "FILTER").foldLeft(input) { (df, s) =>
      val matchGlob = s.get("Match").getOrElse("*")
      // The Match gate: the filter sees only the rows whose tag matches,
      // the rest pass through untouched — the reference tests the tag
      // before it invokes the filter (flb_filter.c:78-106)
      def gated(f: DataFrame => DataFrame): DataFrame =
        if (matchGlob == "*") f(df)
        else {
          val m = Glob.tagMatches(col("tag"), matchGlob)
          f(df.filter(m)).unionByName(df.filter(!m), allowMissingColumns = true)
        }
      s.get("Name").map(_.toLowerCase) match {
        case Some("grep") =>
          // encounter order matters: the decision chain is first-decisive-
          // rule-wins (grep.c:130-205), so an Exclude listed before a Regex
          // must be evaluated first — map section entries once, in order
          val rules: Seq[Grep.Rule] = s.entries.collect {
            case (k, v) if k.equalsIgnoreCase("Regex") =>
              val Array(f, p) = v.split("\\s+", 2); Grep.Regex(f, p)
            case (k, v) if k.equalsIgnoreCase("Exclude") =>
              val Array(f, p) = v.split("\\s+", 2); Grep.Exclude(f, p)
          }
          // grep only drops rows, so one filter gates it: non-matching
          // tags are kept regardless (a split-union would scan df twice)
          val keep = Grep.keepPredicate(rules,
            f => if (df.columns.contains(f)) col(f) else lit(null).cast("string"))
          df.filter(!Glob.tagMatches(col("tag"), matchGlob) || keep)
        case Some("record_modifier") =>
          val remove = s.getAll("Remove_key")
          val whitelist = s.getAll("Whitelist_key")
          val records = s.getAll("Record").map { v =>
            val Array(k, rest) = v.split("\\s+", 2); (k, rest)
          }
          var out = df
          if (remove.nonEmpty) out = RecordModifier.removeKeys(remove)(out)
          if (whitelist.nonEmpty) out = RecordModifier.whitelistKeys(whitelist ++ Seq("tag"))(out)
          RecordModifier.addRecords(records)(out)
        case Some("parser") =>
          val key = s.get("Key_Name").getOrElse("line")
          val p = s.get("Parser").flatMap(parsers.get).getOrElse(
            throw new IllegalArgumentException("parser filter: unknown Parser"))
          gated(ParserFilter.flatten(key, p))
        case Some("throttle") =>
          val rate = s.get("Rate").map(_.toDouble).getOrElse(1.0)
          val interval = s.get("Interval").map(_.stripSuffix("s").toInt).getOrElse(1)
          if (df.columns.contains("ts")) {
            // deterministic tie-break within a timestamp: 'line' where the
            // frame has one, else any stable non-ts column (kmsg frames
            // carry sequence/msg but no line)
            val tieBreak = Seq("line", "sequence", "msg")
              .find(df.columns.contains)
              .getOrElse(df.columns.filter(_ != "ts").head)
            gated(Throttle.apply("ts", tieBreak, interval, rate))
          } else df
        case Some("nest") =>
          s.get("Operation").map(_.toLowerCase) match {
            case Some("nest") =>
              Nest.nest(s.getAll("Wildcard"), s.get("Nest_under").getOrElse("nested"))(df)
            case Some("lift") =>
              Nest.lift(s.get("Nested_under").getOrElse("nested"),
                s.get("Prefix_with").getOrElse(""))(df)
            case other => throw new IllegalArgumentException(s"nest: Operation $other")
          }
        case Some("lua") =>
          // lua.c:330-393 semantics over a registered Scala function; the
          // callback runs ONLY on matching rows (it can drop)
          val script = s.get("script").getOrElse(
            throw new IllegalArgumentException("lua filter needs script"))
          val callName = s.get("call").getOrElse(
            throw new IllegalArgumentException("lua filter needs call"))
          val fn = Scripted.LuaRegistry.resolve(script, callName)
          gated(Scripted.applyLua(_, fn))
        case Some("modify") =>
          // fixed-schema face of filter_modify: structural rules act on
          // COLUMNS; only schema-decidable conditions (Key_exists /
          // Key_does_not_exist) are supported here — per-row value
          // conditions need the dynamic record (operators.Modify over a
          // map column), same deviation class as record_modifier/nest
          applyModifyConf(df, s)
        case other => throw new IllegalArgumentException(s"unsupported filter $other")
      }
    }

    val outputs = sections.filter(_.name == "OUTPUT").map { s =>
      OutputSpec(
        plugin = s.get("Name").getOrElse("null").toLowerCase,
        matchGlob = s.get("Match").getOrElse("*"),
        options = s.entries.map { case (k, v) => k.toLowerCase -> v }.toMap)
    }
    Loaded(filtered, outputs)
  }

  /** Conf-mode `modify` (plugins/filter_modify): conditions ALL must hold,
    * rules applied sequentially in encounter order.
    */
  private def applyModifyConf(df: DataFrame, s: ConfParser.Section): DataFrame = {
    val condsOk = s.getAll("Condition").forall { c =>
      c.split("\\s+", 2) match {
        case Array(op, key) if op.equalsIgnoreCase("Key_exists") =>
          df.columns.contains(key.trim)
        case Array(op, key) if op.equalsIgnoreCase("Key_does_not_exist") =>
          !df.columns.contains(key.trim)
        case other =>
          throw new IllegalArgumentException(
            s"modify: condition '${other.mkString(" ")}' is row-valued — use the " +
              "map-record face (graft.operators.Modify) for value conditions")
      }
    }
    if (!condsOk) return df // conditions fail → NOTOUCH (modify.c:582-601)
    val ruleKeys = Set("rename", "hard_rename", "copy", "hard_copy",
      "add", "set", "remove", "remove_wildcard")
    s.entries.filter(e => ruleKeys(e._1.toLowerCase)).foldLeft(df) { case (d, (op, v)) =>
      val parts = v.split("\\s+", 2)
      val k = parts(0)
      def v2 = parts(1)
      op.toLowerCase match {
        case "rename" =>
          if (d.columns.contains(k) && !d.columns.contains(v2)) d.withColumnRenamed(k, v2) else d
        case "hard_rename" =>
          if (d.columns.contains(k)) d.drop(v2).withColumnRenamed(k, v2) else d
        case "copy" =>
          if (d.columns.contains(k) && !d.columns.contains(v2)) d.withColumn(v2, col(k)) else d
        case "hard_copy" =>
          if (d.columns.contains(k)) d.withColumn(v2, col(k)) else d
        case "add" =>
          if (d.columns.contains(k)) d else d.withColumn(k, lit(v2))
        case "set" => d.withColumn(k, lit(v2))
        case "remove" => d.drop(k)
        case "remove_wildcard" => d.drop(d.columns.filter(_.startsWith(k)): _*)
      }
    }
  }

  /** Split the conf frame's optional `ts` into the flb_time (sec, nsec)
    * envelope columns every byte-format sink consumes.
    */
  private def withFlbTime(rows: DataFrame): (DataFrame, Seq[String]) = {
    val valueCols = rows.columns.filterNot(c => c == "tag" || c == "ts").toSeq
    val framed =
      if (rows.columns.contains("ts"))
        rows.withColumn("_sec", col("ts").cast("long"))
          .withColumn("_nsec",
            (unix_micros(col("ts")) - col("ts").cast("long") * 1000000L) * 1000L)
      else rows.withColumn("_sec", lit(0L)).withColumn("_nsec", lit(0L))
    (framed, valueCols)
  }

  /** Execute the outputs (fan-out: each output sees every matching row)
    * and return each output's record count.
    *
    * The count rides each output's own write: an `Observation` on the
    * output's rows counts them as its one write job streams them, the
    * way the reference counts OUT_OK_RECORDS in the flush that delivers
    * the chunk (`flb_metrics.h:28-35`). Nothing re-reads an output to
    * count it; outputs that deliver nothing anywhere (counter, null,
    * stdout, flowcounter, unknown plugins) run a `noop` write so the
    * observation still fires. The filtered frame is cached once and
    * filled by the first output's write, so a run is one Spark job per
    * output.
    */
  def run(loaded: Loaded, outDir: String): Seq[(String, Long)] = {
    val cached = loaded.filtered.cache()
    try {
      loaded.outputs.zipWithIndex.map { case (o, idx) =>
        val obs = Observation()
        val rows = cached.filter(Glob.tagMatches(col("tag"), o.matchGlob))
          .observe(obs, count(lit(1)).as("records"))
        val sinkName = s"${o.plugin}_$idx"
        val path = o.options.getOrElse("path", s"$outDir/$sinkName")
        o.plugin match {
          case "file" =>
            val fmt = o.options.getOrElse("format", "json")
            // reference-exact bytes (FileFormat): the record is every key
            // except the tag envelope and the event time, which rides
            // beside the map as flb_time (file.c:210-213)
            val (withTime, valueCols) = withFlbTime(rows)
            graft.sinks.FileFormat.writeExact(
              withTime, path, fmt, "tag", "_sec", "_nsec", valueCols)
          case "forward" =>
            // wire-format frames (sinks/Forward), parquet of binary frames
            // — the serialization half of out_forward; no socket. The
            // event time rides beside the record as EventTime sec+nsec
            // (forward.c:440-476), framed as for every byte sink
            val timeAsInt = o.options.get("time_as_integer").exists(_.equalsIgnoreCase("on"))
            val (withTime, valueCols) = withFlbTime(rows)
            graft.sinks.Forward.frames(
              withTime
                .withColumn("_rec", map(valueCols.flatMap(c =>
                  Seq(lit(c), col(c).cast("string"))): _*))
                // DOCUMENTED DEVIATION: entry order within a frame is
                // xxhash64 of the event time and the record columns —
                // arbitrary but deterministic, and defined for an empty
                // record. The reference preserves chunk ARRIVAL
                // order (msgpack buffer append order); a distributed
                // shuffle has no arrival order to preserve, and no stable
                // input ordinal survives the filter chain, so a content
                // hash stands in. The conf-forward oracle and the frame
                // round-trip specs compare under this same order.
                .withColumn("_ord",
                  xxhash64(col("_sec") +: col("_nsec") +: valueCols.map(col): _*)),
              "tag", "_sec", "_nsec", "_rec", "_ord", timeAsInteger = timeAsInt)
              .write.mode("overwrite").parquet(path)
          // payload-serialization sinks: the network client plugins with
          // the socket replaced by a text file — ONE reference-exact
          // record payload per line. Reassembling the request body from
          // the file is per-plugin (documented here because the reference
          // framings differ): es = the file bytes verbatim (bulk NDJSON);
          // influxdb = lines joined with a bare newline; splunk = lines
          // concatenated with NO separator (splunk.c:130); nats/http =
          // '[' + lines joined ', ' + ']' (one JSON array per request)
          case "es" | "influxdb" | "splunk" | "nats" | "http" =>
            val (withTime, valueCols) = withFlbTime(rows)
            val (frame, line) = o.plugin match {
              case "es" =>
                // esBulkChunk carries its own inner AND trailing newline;
                // the text writer adds one per row, so strip the trailing
                // one or the file gains a blank line per record and stops
                // being a valid bulk body
                val chunk = graft.sinks.Sinks.esBulkChunk(withTime,
                  "_sec", "_nsec", valueCols,
                  index = lit(o.options.getOrElse("index", "fluent-bit")),
                  esType = o.options.getOrElse("type", "flb_type"))
                (withTime, chunk.substr(lit(1), length(chunk) - 1))
              case "influxdb" =>
                // the reference's _seq is arrival order; batch has no
                // arrival — a deterministic per-tag ordinal stands in
                // (documented deviation; the LAYOUT is the contract)
                import org.apache.spark.sql.expressions.Window
                // order by the full record INCLUDING the event time —
                // value-only ordering made ties nondeterministic and an
                // all-tag/ts frame had an empty (illegal) orderBy
                val seqd = withTime.withColumn("_seq0",
                  row_number().over(Window.partitionBy(col("tag"))
                    .orderBy(valueCols.map(col) ++ Seq(col("_sec"), col("_nsec")): _*))
                    .cast("long") - 1L)
                (seqd, graft.sinks.Sinks.influxLine(seqd, "tag", "_seq0",
                  "_sec", "_nsec", valueCols,
                  seqName = o.options.getOrElse("sequence_tag", "_seq")))
              case "splunk" => (withTime,
                graft.sinks.Sinks.splunkEvent(withTime, "_sec", "_nsec", valueCols))
              case "nats" => (withTime,
                graft.sinks.Sinks.natsEntry(withTime, "tag", "_sec", "_nsec", valueCols))
              case "http" => (withTime, graft.sinks.Sinks.httpJsonRecord(withTime,
                "_sec", "_nsec", valueCols,
                dateKey = o.options.getOrElse("json_date_key", "date"),
                iso8601 = o.options.get("json_date_format").exists(_.equalsIgnoreCase("iso8601"))))
            }
            frame.select(line.as("value")).write.mode("overwrite").text(path)
          // counter, null, stdout, flowcounter and unknown plugins deliver
          // nothing here: the count is the output. stdout's lines and
          // flowcounter's per-Unit report are console output in the
          // reference, and batch mode leaves console output out. Selecting
          // no column lets the cache scan decode only what Match reads.
          case _ => rows.select().write.format("noop").mode("overwrite").save()
        }
        // an output that shuffles (forward, influxdb) and whose rows came
        // out empty is cut by AQE to an empty relation, and the observation
        // then arrives without its metric: no metric means no records
        sinkName -> obs.get.getOrElse("records", 0L).asInstanceOf[Long]
      }
    } finally { cached.unpersist(); () }
  }
}
