package graft.parsers

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{FlbTime, TimeParse}
import graft.functions.{ParsedField, RegexParse}

/** Parser definitions — the Spark restatement of the reference's parser
  * subsystem (struct at `include/fluent-bit/flb_parser.h:39-61`, loader
  * `src/flb_parser.c:94-254`). A parser is (format, pattern, time handling,
  * type casts); applied to a string column it yields a typed struct plus an
  * event timestamp.
  *
  * The regex corpus mirrors the shipped `conf/parsers.conf` definitions
  * (semantics verified Onigmo→java.util.regex compatible per SURVEY §7.5.5;
  * `/pat/` slash-trimming of the loader, `src/flb_regex.c:72-76`, is
  * reproduced in [[ParserDef.cleanRegex]]).
  */
sealed trait ParserFormat
case object RegexFormat extends ParserFormat
case object JsonFormat extends ParserFormat

final case class ParserDef(
    name: String,
    format: ParserFormat,
    regex: String = "",
    timeKey: Option[String] = None,
    timeFormat: Option[String] = None,
    timeKeep: Boolean = false,
    timeOffsetSec: Int = 0,
    // key -> integer|float|bool|hex|string (reference `flb_parser.c:301-353`)
    types: Map[String, String] = Map.empty,
    // Decode_Field / Decode_Field_As rules in file order (applied to map
    // records by graft.operators.DecoderChain)
    decoders: Seq[ParserConfLoader.DecoderRule] = Nil,
    // flat JSON schema for Format json (schema-on-read projection)
    jsonSchema: Option[StructType] = None,
    // java-regex group name → ORIGINAL record key (Onigmo allows `_` in
    // group names, java.util.regex does not; conf-loaded parsers sanitize
    // the pattern and restore original key names through this map)
    fieldAliases: Map[String, String] = Map.empty
) {
  /** Output (record-key) name for a capture-group name. */
  def outName(group: String): String = fieldAliases.getOrElse(group, group)
  def cleanRegex: String = {
    // the reference loader strips surrounding slashes (`flb_regex.c:72-76`)
    val r = regex.trim
    if (r.length > 1 && r.startsWith("/") && r.endsWith("/")) r.substring(1, r.length - 1)
    else r
  }

  def groupNames: Seq[String] = RegexParse.groupNamesOf(cleanRegex)

  /** Parse `raw` → struct column with `Types` casts applied and (unless
    * `timeKeep`) the time key dropped — mirroring `flb_parser_do`
    * (`src/flb_parser.c:545-559`) + in-place time-key removal
    * (`flb_parser_regex.c:166-183`).
    *
    * ONE expression, one regex match or JSON parse per row: [[RegexParse]]
    * fuses the extraction with the casts so the compiled pattern never
    * evaluates more than once per record; a json parser reads only the
    * kept fields of its schema, plus [[ParserDef.CorruptField]]. Test
    * success with [[parseOk]].
    */
  def parsed(raw: Column): Column = format match {
    case RegexFormat => RegexParse(raw, cleanRegex, keptFields)
    case JsonFormat  => jsonParse(raw, keptJsonFields)
  }

  private def keptFields: Seq[ParsedField] =
    groupNames.filter(g => timeKeep || !timeKey.contains(outName(g)))
      .map(g => ParsedField(g, types.getOrElse(outName(g), "string"), outName(g)))

  private def keptJsonFields: Seq[StructField] =
    jsonSchema.fold(Seq.empty[StructField])(_.fields.toSeq)
      .filter(f => timeKeep || !timeKey.contains(f.name))

  /** `from_json` over `fields` plus [[ParserDef.CorruptField]], which
    * holds the line when it is not JSON (Spark's PERMISSIVE mode gives a
    * struct of nulls, not null, for such a line).
    */
  private def jsonParse(raw: Column, fields: Seq[StructField]): Column = {
    require(jsonSchema.isDefined, s"parser $name: json format needs jsonSchema")
    from_json(raw, StructType(fields :+ StructField(ParserDef.CorruptField, StringType)),
      Map("columnNameOfCorruptRecord" -> ParserDef.CorruptField))
  }

  /** The [[parsed]] or [[parsedWithTime]] struct `p` holds a parsed record:
    * the regex matched, or the line is JSON. The reference passes a record
    * whose parse fails through unchanged (`filter_parser.c`).
    */
  def parseOk(p: Column): Column = format match {
    case RegexFormat => p.isNotNull
    case JsonFormat  => p.isNotNull && p.getField(ParserDef.CorruptField).isNull
  }

  /** Both Time_Key and Time_Format are set: a parse stamps the event time. */
  def stampsTime: Boolean = timeKey.isDefined && timeFormat.isDefined

  /** The capture group a regex parser's Time_Key names. */
  private def timeGroup: Option[String] =
    timeKey.flatMap(tk => groupNames.find(g => outName(g) == tk))

  /** The field of a [[parsedWithTime]] struct that holds the time string:
    * [[ParserDef.TimeField]], except that a json parse which keeps the
    * time key reads that key — a `from_json` struct holds each key once.
    */
  private def timeField: Option[String] = format match {
    case RegexFormat => timeGroup.map(_ => ParserDef.TimeField)
    case JsonFormat =>
      timeKey.map(tk => if (keptJsonFields.exists(_.name == tk)) tk else ParserDef.TimeField)
  }

  /** [[parsed]] plus, for a parser that [[stampsTime]], the time string
    * out of the same parse — the reference takes the time key out of the
    * same walk over the record (`flb_parser_do`, `src/flb_parser.c:545-559`;
    * `flb_parser_regex.c:166-183`). A regex parse carries the time group as
    * one more string field ([[ParserDef.TimeField]], whatever `Types` and
    * `Time_Keep` say). A json parse reads the time key as a string in the
    * same `from_json`, also when its schema has no field for it, under the
    * name [[ParserDef.TimeField]] — or under its own name when `Time_Keep`
    * keeps it. Read the time back with [[eventTimeOf]] or [[eventTimeNsOf]].
    */
  def parsedWithTime(raw: Column): Column =
    if (!stampsTime || !timeField.contains(ParserDef.TimeField)) parsed(raw)
    else format match {
      case RegexFormat =>
        RegexParse(raw, cleanRegex,
          keptFields :+ ParsedField(timeGroup.get, "string", ParserDef.TimeField))
      case JsonFormat =>
        // a struct cast renames by position: one from_json, no field copies
        val kept = keptJsonFields
        jsonParse(raw, kept :+ StructField(timeKey.get, StringType))
          .cast(StructType(kept :+ StructField(ParserDef.TimeField, StringType) :+
            StructField(ParserDef.CorruptField, StringType)))
    }

  /** Event time of a record whose [[parsedWithTime]] struct is `p`, read
    * from that struct alone. Null when the parse missed, the time does not
    * parse or the parser has no time config.
    */
  def eventTimeOf(p: Column): Column = (timeField, timeFormat) match {
    case (Some(f), Some(tf)) => TimeParse.parse(p.getField(f), tf, timeOffsetSec)
    case _ => lit(null).cast(TimestampType)
  }

  /** [[eventTimeOf]] as the full-precision `struct<sec,nsec>` envelope
    * (SURVEY §1.3) — `%L` digits kept at ns resolution.
    */
  def eventTimeNsOf(p: Column): Column = (timeField, timeFormat) match {
    case (Some(f), Some(tf)) => TimeParse.parseNs(p.getField(f), tf, timeOffsetSec)
    case _ => lit(null).cast(FlbTime.Type)
  }

  /** Output field names of [[parsed]] (record keys after alias restore). */
  def outputNames: Seq[String] = format match {
    case RegexFormat => keptFields.map(_.outName)
    case JsonFormat  => keptJsonFields.map(_.name)
  }
}

object ParserDef {
  /** [[ParserDef.parsedWithTime]]'s time field. `#` is legal in no
    * capture-group name, so it cannot collide with a regex parser's key.
    */
  val TimeField = "#time"

  /** A json parse's corrupt-record field (see [[ParserDef.parseOk]]). */
  val CorruptField = "#corrupt"
}

object Parsers {
  // conf/parsers.conf:1-7
  val apache = ParserDef(
    name = "apache",
    format = RegexFormat,
    regex = "^(?<host>[^ ]*) [^ ]* (?<user>[^ ]*) \\[(?<time>[^\\]]*)\\] \"(?<method>\\S+)(?: +(?<path>[^\\\"]*?)(?: +\\S*)?)?\" (?<code>[^ ]*) (?<size>[^ ]*)(?: \"(?<referer>[^\\\"]*)\" \"(?<agent>[^\\\"]*)\")?$",
    timeKey = Some("time"),
    timeFormat = Some("%d/%b/%Y:%H:%M:%S %z"),
    types = Map("code" -> "integer", "size" -> "integer")
  )

  // conf/parsers.conf:51-58
  val syslogRfc5424 = ParserDef(
    name = "syslog-rfc5424",
    format = RegexFormat,
    regex = "^\\<(?<pri>[0-9]{1,5})\\>1 (?<time>[^ ]+) (?<host>[^ ]+) (?<ident>[^ ]+) (?<pid>[-0-9]+) (?<msgid>[^ ]+) (?<extradata>(\\[(.*)\\]|-)) (?<message>.+)$",
    timeKey = Some("time"),
    timeFormat = Some("%Y-%m-%dT%H:%M:%S.%L"),
    timeKeep = true
    // NO Types line in the shipped definition (conf/parsers.conf:52-58) —
    // pri stays a string, matching the reference's untyped regex output
  )

  // conf/parsers.conf:59-66 — NO-YEAR time format (pinned ref-year applies)
  val syslogRfc3164Local = ParserDef(
    name = "syslog-rfc3164-local",
    format = RegexFormat,
    regex = "^\\<(?<pri>[0-9]+)\\>(?<time>[^ ]* {1,2}[^ ]* [^ ]*) (?<ident>[a-zA-Z0-9_\\/\\.\\-]*)(?:\\[(?<pid>[0-9]+)\\])?(?:[^\\:]*\\:)? *(?<message>.*)$",
    timeKey = Some("time"),
    timeFormat = Some("%b %d %H:%M:%S"),
    timeKeep = true
  )

  // conf/parsers.conf:84-87, same regex as kube_regex.h:26 — tag metadata
  // extraction; shipped group names carry underscores → sanitize + alias
  // so the OUTPUT keys are the reference's (`pod_name`, …)
  val kubeTag: ParserDef = {
    val (rx, aliases) = ParserConfLoader.sanitizeGroupNames(
      "var\\.log\\.containers\\.(?<pod_name>[a-z0-9]([-a-z0-9]*[a-z0-9])?(\\.[a-z0-9]([-a-z0-9]*[a-z0-9])?)*)_(?<namespace_name>[^_]+)_(?<container_name>.+)-(?<docker_id>[a-z0-9]{64})\\.log$")
    ParserDef(
      name = "kube-custom",
      format = RegexFormat,
      regex = rx,
      fieldAliases = aliases.filter { case (k, v) => k != v })
  }

  // conf/parsers.conf:33-41 (docker): json + Time_Keep + escaped-decoder on `log`
  val docker = ParserDef(
    name = "docker",
    format = JsonFormat,
    timeKey = Some("time"),
    timeFormat = Some("%Y-%m-%dT%H:%M:%S.%L"),
    timeKeep = true,
    jsonSchema = Some(StructType(Seq(
      StructField("log", StringType), StructField("stream", StringType),
      StructField("time", StringType)))),
    decoders = Seq(ParserConfLoader.DecoderRule("escaped", "log"))
  )

  // conf/parsers.conf:8-14 — apache2: path is space-free `[^ ]*`, agent is
  // greedy `.*`; no Types → all fields stay strings
  val apache2 = ParserDef(
    name = "apache2",
    format = RegexFormat,
    regex = "^(?<host>[^ ]*) [^ ]* (?<user>[^ ]*) \\[(?<time>[^\\]]*)\\] \"(?<method>\\S+)(?: +(?<path>[^ ]*) +\\S*)?\" (?<code>[^ ]*) (?<size>[^ ]*)(?: \"(?<referer>[^\\\"]*)\" \"(?<agent>.*)\")?$",
    timeKey = Some("time"),
    timeFormat = Some("%d/%b/%Y:%H:%M:%S %z")
  )

  // conf/parsers.conf:15-19 — apache_error: NO time config (the `time`
  // group is an ordinary kept string field); pid/client optional
  val apacheError = ParserDef(
    name = "apache_error",
    format = RegexFormat,
    regex = "^\\[[^ ]* (?<time>[^\\]]*)\\] \\[(?<level>[^\\]]*)\\](?: \\[pid (?<pid>[^\\]]*)\\])?( \\[client (?<client>[^\\]]*)\\])? (?<message>.*)$"
  )

  // conf/parsers.conf:21-26
  val nginx = ParserDef(
    name = "nginx",
    format = RegexFormat,
    regex = "^(?<remote>[^ ]*) (?<host>[^ ]*) (?<user>[^ ]*) \\[(?<time>[^\\]]*)\\] \"(?<method>\\S+)(?: +(?<path>[^\\\"]*?)(?: +\\S*)?)?\" (?<code>[^ ]*) (?<size>[^ ]*)(?: \"(?<referer>[^\\\"]*)\" \"(?<agent>[^\\\"]*)\")?$",
    timeKey = Some("time"),
    timeFormat = Some("%d/%b/%Y:%H:%M:%S %z")
  )

  // conf/parsers.conf:27-32 — generic json: schema-on-read; callers supply
  // the projection via `.copy(jsonSchema = ...)` (the reference keeps the
  // map dynamic; a columnar engine projects)
  val jsonGeneric = ParserDef(
    name = "json",
    format = JsonFormat,
    timeKey = Some("time"),
    timeFormat = Some("%d/%b/%Y:%H:%M:%S %z"),
    jsonSchema = Some(StructType(Seq(
      StructField("log", StringType), StructField("stream", StringType),
      StructField("time", StringType))))
  )

  // conf/parsers.conf:43-50
  val dockerDaemon = ParserDef(
    name = "docker-daemon",
    format = RegexFormat,
    regex = "time=\"(?<time>[^ ]*)\" level=(?<level>[^ ]*) msg=\"(?<msg>[^ ].*)\"",
    timeKey = Some("time"),
    timeFormat = Some("%Y-%m-%dT%H:%M:%S.%L"),
    timeKeep = true
  )

  // conf/parsers.conf:67-75 — rfc3164 WITH host; regex is slash-wrapped in
  // the shipped file (stored that way here: cleanRegex strips, mirroring
  // flb_regex.c:72-76); of the two Time_Format lines the FIRST wins
  // (list order, flb_parser.c loader)
  val syslogRfc3164 = ParserDef(
    name = "syslog-rfc3164",
    format = RegexFormat,
    regex = "/^\\<(?<pri>[0-9]+)\\>(?<time>[^ ]* {1,2}[^ ]* [^ ]*) (?<host>[^ ]*) (?<ident>[a-zA-Z0-9_\\/\\.\\-]*)(?:\\[(?<pid>[0-9]+)\\])?(?:[^\\:]*\\:)? *(?<message>.*)$/",
    timeKey = Some("time"),
    timeFormat = Some("%b %d %H:%M:%S"),
    timeKeep = true
  )

  // conf/parsers.conf:76-83 — lazy message + optional trailing `<ms>ms`
  val mongodb = ParserDef(
    name = "mongodb",
    format = RegexFormat,
    regex = "^(?<time>[^ ]*)\\s+(?<severity>\\w)\\s+(?<component>[^ ]+)\\s+\\[(?<context>[^\\]]+)]\\s+(?<message>.*?) *(?<ms>(\\d+))?(:?ms)?$",
    timeKey = Some("time"),
    timeFormat = Some("%Y-%m-%dT%H:%M:%S.%L"),
    timeKeep = true
  )

  // conf/parsers.conf:89-91 — like kube-custom with a `.*kubernetes.`
  // prefix; shipped group names carry underscores (Onigmo-legal,
  // java.util.regex-illegal) → sanitize + alias, exactly like the loader
  val filterKubeTest: ParserDef = {
    val (rx, aliases) = ParserConfLoader.sanitizeGroupNames(
      ".*kubernetes.(?<pod_name>[a-z0-9]([-a-z0-9]*[a-z0-9])?(\\.[a-z0-9]([-a-z0-9]*[a-z0-9])?)*)_(?<namespace_name>[^_]+)_(?<container_name>.+)-(?<docker_id>[a-z0-9]{64})\\.log$")
    ParserDef(
      name = "filter-kube-test",
      format = RegexFormat,
      regex = rx,
      fieldAliases = aliases.filter { case (k, v) => k != v })
  }

  /** The full shipped corpus (`conf/parsers.conf:1-93`), 13 definitions. */
  val all: Map[String, ParserDef] =
    Seq(apache, apache2, apacheError, nginx, jsonGeneric, docker, dockerDaemon,
      syslogRfc5424, syslogRfc3164Local, syslogRfc3164, mongodb, kubeTag,
      filterKubeTest)
      .map(p => p.name -> p).toMap
}
