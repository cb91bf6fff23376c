package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sink-side operators. Network connectors are out of scope (SURVEY §2.5);
  * what remains is the byte-exact record payloads of the network clients
  * (es, influxdb, nats, http, splunk) plus kafka's topic pick. The
  * aggregate sinks (`counter`, `flowcounter`) are plain `groupBy`
  * aggregates in the queries that use them. out_file and out_stdout lines
  * live in [[FileFormat]]; every `{…}` record map below goes through
  * [[FileFormat.recordMap]], which also applies the ES key sanitize
  * (`.`→`_`, `es.c:40-110`).
  */
object Sinks {

  /** `out_kafka` per-record topic selection (`kafka.c:104-133`): topic =
    * record[topicKey] if present else default.
    */
  def kafkaTopic(topicKeyCol: Column, defaultTopic: String): Column =
    coalesce(topicKeyCol, lit(defaultTopic))

  /** One ES Bulk-API chunk per record (`plugins/out_es/es_bulk.h:27-28` +
    * `es.c:229-287`): the index action line
    * `{"index":{"_index":"…","_type":"…"[,"_id":"…"]}}`, a newline, then
    * the record JSON — a map packed as `@timestamp` FIRST (strftime
    * `%Y-%m-%dT%H:%M:%S` + `.<msec>Z`: es.c:215 first converts
    * `tv_nsec /= 1000000` to milliseconds — "Elasticsearch only support
    * fractional seconds in milliseconds unit" — then es.c:239-241 prints
    * that value UNPADDED, `.0Z` / `.123Z`; this is the same msec value
    * [[graft.functions.EsId.EsIdWithTime]] hashes), then the
    * dot→underscore-sanitized record keys, serialized by
    * `flb_msgpack_to_json` (`":"` key-value, `", "` pair separators,
    * [[graft.functions.FlbJsonEscape]] escaping) — then the trailing
    * newline. Concatenating chunks yields the exact bulk payload body.
    * Requires a UTC session timezone (the reference uses gmtime).
    */
  def esBulkChunk(df: DataFrame, secCol: String, nsecCol: String,
                  valueCols: Seq[String], index: Column,
                  esType: String = "flb_type",
                  id: Option[Column] = None): Column = {
    val ts = concat(lit("\"@timestamp\":\""),
      date_format(timestamp_seconds(col(secCol)), "yyyy-MM-dd'T'HH:mm:ss"),
      lit("."),
      (col(nsecCol).cast("long") / 1000000L).cast("long").cast("string"),
      lit("Z\""))
    // an empty record is map(0+1): the timestamp entry alone
    val record = FileFormat.recordMap(Seq(ts), valueCols.map(df.schema(_)), json = true,
      key = _.replace('.', '_'))
    val action = id match {
      case Some(i) => concat(lit("{\"index\":{\"_index\":\""), index,
        lit("\",\"_type\":\"" + esType + "\",\"_id\":\""), i, lit("\"}}"))
      case None => concat(lit("{\"index\":{\"_index\":\""), index,
        lit("\",\"_type\":\"" + esType + "\"}}"))
    }
    concat(action, lit("\n"), record, lit("\n"))
  }

  /** One InfluxDB line-protocol record
    * (`plugins/out_influxdb/influxdb.c:88-278` + `influxdb_bulk.c:79-188`):
    * `tag,<seqName>=<seq>[,taggedKey=val…] k=v[,k2=v2…] <ns-timestamp>`.
    * Value forms follow the reference exactly: strings/binary quoted with
    * `flb_utils_write_str` escaping, booleans UPPERCASE TRUE/FALSE,
    * integers decimal, floats `%f` — and note the reference emits NO `i`
    * suffix on integers (it predates that convention). NULL values are
    * skipped per record (`influxdb.c:171-174` — "missing values are Null
    * by default in InfluxDB"); `taggedKeys` mirrors the Tag_Keys option
    * (those pairs ride in the measurement head). The reference joins
    * records with a bare newline; at least one non-tagged field must be
    * non-null or the reference drops the record with an error.
    */
  def influxLine(df: DataFrame, tagCol: String, seqCol: String,
                 secCol: String, nsecCol: String, valueCols: Seq[String],
                 seqName: String = "_seq",
                 taggedKeys: Set[String] = Set.empty): Column = {
    import org.apache.spark.sql.types._
    def v(c: String): Column = df.schema(c).dataType match {
      case StringType =>
        concat(lit("\""), graft.functions.FlbJsonEscape(col(c)), lit("\""))
      case BinaryType =>
        concat(lit("\""), graft.functions.FlbJsonEscape(col(c).cast("string")), lit("\""))
      case BooleanType => when(col(c), "TRUE").otherwise("FALSE")
      case ByteType | ShortType | IntegerType | LongType => col(c).cast("string")
      case FloatType | DoubleType => format_string("%f", col(c).cast("double"))
      case other => throw new IllegalArgumentException(s"influxdb value type $other")
    }
    def pairs(cols: Seq[String]): Column = array_join(
      array(cols.map(c =>
        when(col(c).isNull, lit(null)).otherwise(concat(lit(c + "="), v(c)))): _*),
      ",") // array_join skips nulls → reference's per-record null-skip
    val (tagged, fields) = valueCols.partition(taggedKeys.contains)
    // null tagged values are skipped like null fields (influxdb.c:171-174
    // drops NIL before the tagged/field split) — an empty fragment keeps
    // the head alive instead of null-propagating the whole line
    val headParts =
      Seq(col(tagCol), lit("," + seqName + "="), col(seqCol).cast("string")) ++
        tagged.map(c => when(col(c).isNull, lit(""))
          .otherwise(concat(lit("," + c + "="), v(c))))
    val head = concat(headParts: _*)
    val ns = (col(secCol).cast("long") * 1000000000L + col(nsecCol).cast("long"))
      .cast("string")
    concat(head, lit(" "), pairs(fields), lit(" "), ns)
  }

  /** One out_nats payload entry (`plugins/out_nats/nats.c:105-150`):
    * `[<%f time>, {"tag":"<tag>", …record}]` — the record map is packed
    * with the tag as its FIRST key, the whole thing serialized by
    * `flb_msgpack_to_json` (`", "` between entries/pairs, `":"` k-v).
    * The full request body is `[entry, entry, …]` — join chunks with
    * `", "` inside `[` `]`.
    */
  def natsEntry(df: DataFrame, tagCol: String, secCol: String,
                nsecCol: String, valueCols: Seq[String]): Column = {
    val tagPair = concat(lit("\"tag\":\""),
      graft.functions.FlbJsonEscape(col(tagCol)), lit("\""))
    concat(lit("["), FileFormat.timeDouble(col(secCol), col(nsecCol)), lit(", "),
      FileFormat.recordMap(Seq(tagPair), valueCols.map(df.schema(_)), json = true), lit("]"))
  }

  /** One out_http json-format record (`plugins/out_http/http.c:67-124`):
    * `{"<dateKey>":<date>, …record}` with the date FIRST — date either
    * the `%f` time double (default) or ISO8601
    * `%Y-%m-%dT%H:%M:%S.%06dZ` (µs precision, zero-padded, http.c:96-105).
    * Body = `[record, record, …]`. Requires a UTC session timezone for
    * the ISO form (gmtime).
    */
  def httpJsonRecord(df: DataFrame, secCol: String, nsecCol: String,
                     valueCols: Seq[String], dateKey: String = "date",
                     iso8601: Boolean = false): Column = {
    val dateVal =
      if (!iso8601) FileFormat.timeDouble(col(secCol), col(nsecCol))
      else concat(lit("\""),
        date_format(timestamp_seconds(col(secCol)), "yyyy-MM-dd'T'HH:mm:ss"),
        lit("."), lpad((col(nsecCol).cast("long") / 1000L).cast("long").cast("string"), 6, "0"),
        lit("Z\""))
    FileFormat.recordMap(Seq(concat(lit("\"" + dateKey + "\":"), dateVal)),
      valueCols.map(df.schema(_)), json = true)
  }

  /** One Splunk HEC event (`plugins/out_splunk/splunk.c:85-134`):
    * `{"time":<%f double>, "event":{…record}}` — events are concatenated
    * back-to-back with NO separator (splunk.c:130, flb_sds_cat).
    */
  def splunkEvent(df: DataFrame, secCol: String, nsecCol: String,
                  valueCols: Seq[String]): Column =
    concat(lit("{\"time\":"), FileFormat.timeDouble(col(secCol), col(nsecCol)),
      lit(", \"event\":"), FileFormat.recordMap(Nil, valueCols.map(df.schema(_)), json = true),
      lit("}"))
}
