package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.FlbJsonEscape

/** Byte-exact out_file line formats (reference `plugins/out_file/file.c`):
  *
  *   - csv  (`file.c:117-138`):  `%f` time, then each record VALUE printed
  *     by `msgpack_object_print`, delimiter-joined (default `,`)
  *   - ltsv (`file.c:140-168`):  `"time"<label_delim>%f<delim>` then
  *     `key<label_delim>value` pairs — keys AND values through
  *     `msgpack_object_print`, so both sides of a string pair are quoted
  *   - json (`file.c:216-229`):  `tag: [%f, {json}]` where the map is
  *     serialized by `flb_msgpack_to_json_str` (`src/flb_pack.c:354-490`)
  *     — `":"` between key and value, `", "` between pairs, strings
  *     escaped by [[FlbJsonEscape]]
  *
  * `msgpack_object_print` (`lib/msgpack-2.1.3/src/objectc.c:162-222`)
  * quotes strings but writes their bytes RAW (fwrite, no escaping), prints
  * integers in decimal, floats with `%f`, booleans as true/false and nil
  * as `nil` — deliberately different from the json path, and reproduced
  * here exactly.
  *
  * The time double is `flb_time_to_double` = sec + nsec/1e9 formatted with
  * C `%f` (6 decimals). Spark's `format_string`, DuckDB's `printf` and
  * glibc all round the same IEEE double to 6 decimals identically for
  * µs-aligned timestamps (ties between half-up and half-even rounding
  * would need the double to sit exactly on an odd multiple of 2⁻⁷ — an
  * integral-µs value at epoch magnitude never lands there).
  *
  * Every `{…}` record map, here and in [[Sinks]]' es/nats/http/splunk
  * payloads, is built by [[recordMap]] (the one `flb_msgpack_to_json` /
  * `msgpack_object_print` map writer of the reference).
  *
  * Each line column EXCLUDES the trailing newline; [[writeExact]] emits it
  * via the text writer, matching the reference's per-record `\n`.
  */
object FileFormat {

  /** C `%f` of `flb_time_to_double(tm)` (`src/flb_time.h`). */
  def timeDouble(sec: Column, nsec: Column): Column =
    format_string("%f", sec.cast("double") + nsec.cast("double") / lit(1e9))

  /** One value, recursively: `json = false` follows `msgpack_object_print`
    * (csv/ltsv — raw quoted strings NO escaping, maps as `{k=>v, …}`,
    * `objectc.c:225-257`); `json = true` follows `msgpack2json` (escaped
    * strings, maps as `{"k":v, …}`, `flb_pack.c:437-481`). Arrays are
    * `[a, b]` with `", "` in both. Nested containers go through the
    * higher-order `transform` (CodegenFallback — fine off the hot path;
    * top-level records are flat in every reference pipeline).
    * Timestamp/date/decimal have no msgpack analog (a reference record
    * never carries them) — rendered as stable strings rather than
    * crashing the sink on an enriched frame.
    */
  private def render(c: Column, dt: DataType, json: Boolean): Column = {
    val nil = if (json) "null" else "nil"
    val r = dt match {
      case StringType =>
        if (json) concat(lit("\""), FlbJsonEscape(c), lit("\""))
        else concat(lit("\""), c, lit("\""))
      case BooleanType => when(c, "true").otherwise("false")
      case ByteType | ShortType | IntegerType | LongType => c.cast("string")
      case FloatType | DoubleType => format_string("%f", c.cast("double"))
      case BinaryType =>
        // object_print path: msgpack_object_bin_print exactly (quote
        // escaped, printables raw, others backslash-x hex). json path:
        // the reference escapes the raw bytes and TRUNCATES at invalid
        // UTF-8 (flb_utils.c:577-580); this port substitutes U+FFFD there
        // instead (both mangle invalid data, declared divergence) — valid
        // UTF-8 binary is byte-identical
        if (json) concat(lit("\""), graft.functions.FlbJsonEscape(c.cast("string")), lit("\""))
        else concat(lit("\""), graft.functions.FlbBinPrint(c), lit("\""))
      case ArrayType(et, _) =>
        concat(lit("["),
          array_join(transform(c, e => render(e, et, json)), ", "), lit("]"))
      case MapType(kt, vt, _) =>
        val kvSep = if (json) ":" else "=>"
        concat(lit("{"),
          array_join(transform(map_entries(c), e =>
            concat(render(e.getField("key"), kt, json), lit(kvSep),
              render(e.getField("value"), vt, json))), ", "),
          lit("}"))
      case st: StructType => recordMap(Nil, st.fields.toSeq, json, c.getField)
      case _: DecimalType => c.cast("string")
      case TimestampType | DateType => concat(lit("\""), c.cast("string"), lit("\""))
      case other =>
        throw new IllegalArgumentException(s"out_file value type $other unsupported")
    }
    when(c.isNull, lit(nil)).otherwise(r)
  }

  private def printed(c: Column, dt: DataType): Column = render(c, dt, json = false)

  /** The one record map every line sink prints: `{` + pairs joined by
    * `", "` + `}`, where the pairs are `lead` (rendered by the caller —
    * the ES `@timestamp`, the nats `tag`, the http date) and then one
    * `"key"<sep>value` per field, value through [[render]]. `json` picks
    * msgpack2json (`":"`, `flb_pack.c:462-481`) or `msgpack_object_print`
    * (`"=>"`, `objectc.c:225-257`); `key` maps each field name to the
    * printed key (ES `.`→`_`, `es.c:40-110`). Both forms write the braces
    * around an empty map, so no pairs at all prints `{}`.
    */
  private[sinks] def recordMap(lead: Seq[Column], fields: Seq[StructField], json: Boolean,
                               value: String => Column = col(_),
                               key: String => String = identity): Column = {
    val kvSep = if (json) ":" else "=>"
    val pairs = lead ++ fields.map { f =>
      concat(lit("\"" + key(f.name) + "\"" + kvSep), render(value(f.name), f.dataType, json))
    }
    if (pairs.isEmpty) lit("{}")
    else concat(lit("{") +: interleave(", ", pairs) :+ lit("}"): _*)
  }

  private def interleave(sep: String, parts: Seq[Column]): Seq[Column] =
    parts.flatMap(p => Seq(lit(sep), p)).tail

  /** csv line (`file.c:117-138`): time, then values only (keys dropped).
    * The reference SKIPS records whose map is empty (`file.c:127`) — with
    * a fixed schema that is all-or-nothing, so an empty column list is
    * rejected up front rather than emitting lines the reference wouldn't.
    */
  def csvLine(df: DataFrame, secCol: String, nsecCol: String,
              valueCols: Seq[String], delimiter: String = ","): Column = {
    require(valueCols.nonEmpty,
      "out_file csv: empty record — the reference emits nothing (file.c:127)")
    concat(interleave(delimiter,
      timeDouble(col(secCol), col(nsecCol)) +:
        valueCols.map(c => printed(col(c), df.schema(c).dataType))): _*)
  }

  /** ltsv line (`file.c:140-168`): `"time":%f` then `"key":value` pairs.
    * Keys go through `msgpack_object_print` too, hence the quotes.
    */
  def ltsvLine(df: DataFrame, secCol: String, nsecCol: String,
               valueCols: Seq[String], delimiter: String = "\t",
               labelDelimiter: String = ":"): Column = {
    require(valueCols.nonEmpty,
      "out_file ltsv: empty record — the reference emits nothing (file.c:150)")
    val head = concat(lit("\"time\"" + labelDelimiter),
      timeDouble(col(secCol), col(nsecCol)))
    val pairs = valueCols.map { c =>
      concat(lit("\"" + c + "\"" + labelDelimiter),
        printed(col(c), df.schema(c).dataType))
    }
    concat(interleave(delimiter, head +: pairs): _*)
  }

  /** json line (`file.c:216-229`): `tag: [%f, {"k":v, "k2":v2}]`. */
  def jsonLine(df: DataFrame, tagCol: String, secCol: String, nsecCol: String,
               valueCols: Seq[String]): Column =
    concat(col(tagCol), lit(": ["), timeDouble(col(secCol), col(nsecCol)), lit(", "),
      recordMap(Nil, valueCols.map(df.schema(_)), json = true), lit("]"))

  /** Write per-tag files with reference-exact bytes: one text line per
    * record (writer appends the `\n`), `partitionBy(tag)` so one job lays
    * out every tag's directory — the Spark shape of out_file's
    * file-per-tag append loop (`file.c:169-243`).
    */
  def writeExact(df: DataFrame, outDir: String, format: String,
                 tagCol: String, secCol: String, nsecCol: String,
                 valueCols: Seq[String]): Unit = {
    val line = format match {
      case "csv"  => csvLine(df, secCol, nsecCol, valueCols)
      case "ltsv" => ltsvLine(df, secCol, nsecCol, valueCols)
      case "json" => jsonLine(df, tagCol, secCol, nsecCol, valueCols)
      case other  => throw new IllegalArgumentException(s"out_file format $other")
    }
    df.select(line.as("value"), col(tagCol))
      .write.mode("overwrite").partitionBy(tagCol).text(outDir)
  }

  /** out_stdout line (`plugins/out_stdout/stdout.c:55-59`):
    * `[cnt] tag: [sec.%09d-nsec, {record}]` — the time prints as raw
    * seconds + 9-zero-padded nanoseconds (NOT `%f`), the record through
    * `msgpack_object_print` (`{"k"=>v, }` map form). `cnt` is the
    * reference's per-flush record counter — pass any deterministic
    * ordinal (its value is caller-defined, the byte LAYOUT is pinned).
    */
  def stdoutLine(df: DataFrame, cntCol: String, tagCol: String,
                 secCol: String, nsecCol: String,
                 valueCols: Seq[String]): Column =
    concat(lit("["), col(cntCol).cast("string"), lit("] "), col(tagCol),
      lit(": ["), col(secCol).cast("string"), lit("."),
      lpad(col(nsecCol).cast("string"), 9, "0"), lit(", "),
      recordMap(Nil, valueCols.map(df.schema(_)), json = false), lit("]"))

  /** out_plot line (`plugins/out_plot/plot.c:160-171`): `%f <value>` —
    * one data point per record; the value must be integral (printed
    * decimal) or floating (printed `%f`/`%lf`, same 6 decimals); any
    * other type is the reference's hard error.
    */
  def plotLine(df: DataFrame, secCol: String, nsecCol: String,
               valueCol: String): Column = {
    val v = df.schema(valueCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        col(valueCol).cast("string")
      case FloatType | DoubleType =>
        format_string("%f", col(valueCol).cast("double"))
      case other => throw new IllegalArgumentException(
        s"out_plot value must be integer or float, got $other (plot.c:172-175)")
    }
    concat(timeDouble(col(secCol), col(nsecCol)), lit(" "), v)
  }
}
