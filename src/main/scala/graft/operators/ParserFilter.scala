package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.parsers.ParserDef

/** `filter_parser` (`plugins/filter_parser/filter_parser.c`): apply a named
  * parser to the string value of `Key_Name`. On success the parsed map
  * REPLACES the record; `Reserve_Data` keeps the other original keys
  * (appended, `:283-300`); `Preserve_Key` keeps the parsed source field
  * (`:264-270`); parsed time overrides the record ts when non-zero
  * (`:260-263`); on failure the record passes UNCHANGED.
  *
  * [[flatten]] is the fixed-schema face the conf `parser` filter runs:
  * parsed fields appended as typed columns plus a `parse_ok` flag (the
  * idiomatic Spark shape for downstream relational work). [[onMap]] keeps
  * the dynamic-record semantics over a `map<string,string>` column
  * (per-row schema divergence preserved) as the reference the specs pin.
  */
object ParserFilter {

  /** struct → map<string,string> for the given parser's output fields. */
  private[graft] def structToMap(parser: ParserDef, p: Column): Column =
    map(parser.outputNames.flatMap(n => Seq(lit(n), p.getField(n).cast("string"))): _*)

  /** Reference dynamic-record formulation (spec-pinned Reserve_Data /
    * Preserve_Key matrix and full [[DecoderChain]]): the conf `parser`
    * filter runs [[flatten]].
    */
  private[graft] def onMap(recordCol: String, keyName: String, parser: ParserDef,
            reserveData: Boolean = false, preserveKey: Boolean = false)
           (df: DataFrame): DataFrame = {
    val rec = col(recordCol)
    val raw = element_at(rec, keyName)
    val out = df
      .withColumn("_p", parser.parsed(raw))
      .withColumn(recordCol, {
        // decoder rules run INSIDE the parse, on the parsed map, before
        // Reserve_Data merging (flb_parser_do → flb_parser_decoder_do)
        val parsedMap0 = structToMap(parser, col("_p"))
        val parsedMap =
          if (parser.decoders.isEmpty) parsedMap0
          else DecoderChain(parsedMap0, parser.decoders)
        val withoutKey = map_filter(rec, (k, _) => k =!= keyName)
        // MapType cannot hold duplicate keys (map_concat throws): reserve
        // appends only original keys the parse did not produce — the
        // documented last-wins… here first(parsed)-wins deviation from
        // msgpack's duplicate-tolerant concat (SURVEY §7.5.3).
        // Key MEMBERSHIP, not value-null: a parsed-but-null field (e.g.
        // an unmatched optional group) still owns its key — element_at
        // null would re-admit the original and blow up map_concat.
        val base =
          if (reserveData) map_concat(parsedMap,
            map_filter(withoutKey, (k, _) => !map_contains_key(parsedMap, k)))
          else parsedMap
        val withKey =
          if (preserveKey)
            map_concat(map_filter(base, (k, _) => k =!= keyName), map(lit(keyName), raw))
          else base
        when(raw.isNotNull && parser.parseOk(col("_p")), withKey).otherwise(rec)
      })
      .drop("_p")
    out
  }

  /** Fixed-schema face: appends each parsed group as `<prefix><group>`
    * typed column, a `parse_ok` flag, and (when the parser has both
    * Time_Key and Time_Format) sets `tsCol` to the parsed event time on
    * success — over the column's old value where the frame has one, as a
    * new column otherwise.
    *
    * The event time comes out of the same parse as the fields
    * ([[ParserDef.parsedWithTime]], read by [[ParserDef.eventTimeOf]]): a
    * regex parser runs its pattern once per record, a json parser its
    * `from_json` once.
    *
    * Decoder rules: the fixed schema applies the IN-PLACE string backends
    * (`Decode_Field_As escaped/escaped_utf8`) to their columns; the
    * extra-keys `Decode_Field json` machinery needs the dynamic record —
    * use [[onMap]] (which runs the full [[DecoderChain]]) for those.
    */
  def flatten(keyName: String, parser: ParserDef, tsCol: Option[String] = None,
              prefix: String = "")(df: DataFrame): DataFrame = {
    val raw = col(keyName)
    val stamp = tsCol.filter(_ => parser.stampsTime)
    val p = if (stamp.isDefined) parser.parsedWithTime(raw) else parser.parsed(raw)
    val names = parser.outputNames
    val withParsed = df.withColumn("_p", p)
    val withCols0 = names.foldLeft(withParsed)((d, n) =>
      d.withColumn(s"$prefix$n", col("_p").getField(n)))
    val withCols = parser.decoders.filter(_.inPlace).foldLeft(withCols0) { (d, r) =>
      val c = s"$prefix${r.key}"
      if (!d.columns.contains(c)) d
      else r.backend match {
        case "escaped"      => d.withColumn(c, graft.functions.Decoders.escaped(col(c)))
        case "escaped_utf8" => d.withColumn(c, graft.functions.Decoders.escapedUtf8(col(c)))
        case _              => d
      }
    }
    val withOk = withCols.withColumn("parse_ok", parser.parseOk(col("_p")))
    val withTs = stamp.fold(withOk) { t =>
      val ts = parser.eventTimeOf(col("_p"))
      withOk.withColumn(t, if (withOk.columns.contains(t)) coalesce(ts, col(t)) else ts)
    }
    withTs.drop("_p")
  }
}

/** `tail` multiline (`plugins/in_tail/tail_multiline.c:250-313`): a
  * `Parser_Firstline` regex detects a record head; continuation lines are
  * appended to the buffered record until the next head.
  *
  * Batch reformulation over (file, lineNo, line): head-flag per line, a
  * running head-count per file assigns each line its record id, then a
  * per-record sort-and-join. Partitioned by file — one shuffle keyed by
  * (file), records never span partitions.
  */
object Multiline {
  import org.apache.spark.sql.expressions.Window

  def assemble(df: DataFrame, fileCol: String, lineNoCol: String,
               lineCol: String, firstlineRegex: String): DataFrame = {
    val w = Window.partitionBy(col(fileCol)).orderBy(col(lineNoCol))
    val head = col(lineCol).rlike(firstlineRegex)
    df.withColumn("_head", head.cast("int"))
      .withColumn("_rec",
        sum(col("_head")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("_rec") > 0) // leading continuation lines (no head yet) are dropped
      .groupBy(col(fileCol), col("_rec").as("record_id"))
      .agg(
        concat_ws("\n",
          transform(
            array_sort(collect_list(struct(col(lineNoCol).as("n"), col(lineCol).as("l")))),
            e => e.getField("l"))).as("record"),
        min(col(lineNoCol)).as("first_line"))
  }
}
