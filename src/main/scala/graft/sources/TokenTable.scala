package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The BASELINE input table: pre-tokenized training sequences of shape
  * `(doc_id: string, tokens: array<int32>, n_tok: int32, source: string)`
  * (BASELINE.json `input_hint`).
  *
  * Because no table of that shape ships in `/root/testdata`, it is DERIVED
  * deterministically — with only arithmetic/string expressions that DuckDB
  * evaluates identically — either from the `documents` parquet table's
  * `doc_id` column (correctness path: the driver's DuckDB oracle reproduces
  * the exact same rows via [[duckdbCte]]) or from `spark.range(n)` (bench
  * path: any scale, no input file). Formulas follow FIXTURES.md §1:
  *
  *   - `doc_id` is an apache Common-Log-Format line derived from the row
  *     index (parseable by the reference's `apache` parser,
  *     reference `conf/parsers.conf:1-7`);
  *   - `source` is a skewed categorical with a hot tag (55% `app.frontend`)
  *     and a kubernetes-shaped tail exercising the enrich tag-regex
  *     (reference `plugins/filter_kubernetes/kube_regex.h:26`);
  *   - `tokens` is a seeded int32 array, `n_tok = tokens.length`.
  *
  * Everything is a pure column expression — distributed, codegen'd, no UDF,
  * no driver-side loop — so the generator itself scales to any row count.
  */
object TokenTable {

  /** 2017-07-17T20:17:03Z — pinned reference instant (never wall clock). */
  val BaseEpoch: Long = 1500322623L

  val Sinks: Seq[(String, String)] = Seq(
    "sink_app"  -> "app.*",
    "sink_db"   -> "db.*",
    "sink_kube" -> "var.log.containers.*",
    "sink_all"  -> "*"
  )

  /** Column formulas shared by both generation paths. `seq` is the int64
    * row index column.
    */
  private def withDerived(df: DataFrame): DataFrame = {
    val seq = col("seq")
    val code = seq % 6 // cycle {200,200,200,404,500,503}
    val codeCol = when(code === 3, 404)
      .when(code === 4, 500)
      .when(code === 5, 503)
      .otherwise(200)
    val sizeCol = (seq * 131) % 9973
    val tsec = lit(BaseEpoch) + seq % 3600
    val timeStr = date_format(to_timestamp(tsec), "dd/MMM/yyyy:HH:mm:ss") // UTC session tz
    val hex64 = lpad(lower(hex((seq * 2654435761L) % 1152921504606846976L)), 64, "0")
    val kubeTag = concat(
      lit("var.log.containers.web-"), (seq % 10).cast("string"),
      lit("_default_nginx-"), hex64, lit(".log"))
    val r = seq % 100
    val sourceCol = when(r < 55, "app.frontend")
      .when(r < 80, "app.backend")
      .when(r < 92, "db.primary")
      .when(r < 97, kubeTag)
      .otherwise("sys.kern")
    val line = concat(
      lit("host-"), (seq % 997).cast("string"),
      lit(" - user"), (seq % 31).cast("string"),
      lit(" ["), timeStr, lit(" +0000] \"GET /p/"), seq.cast("string"),
      lit(" HTTP/1.1\" "), codeCol.cast("string"), lit(" "), sizeCol.cast("string"))
    val nTok = (lit(1) + seq % 64).cast("int")
    val tokens = transform(
      sequence(lit(1L), lit(1L) + seq % 64),
      j => ((seq * 2654435761L + j * 40503L) % 50257L).cast("int"))
    df.select(
      seq,
      line.as("doc_id"),
      tokens.as("tokens"),
      nTok.as("n_tok"),
      sourceCol.as("source"))
  }

  /** Correctness path: one row per `documents` row (keyed by its int64
    * `doc_id` as `seq`), so the DuckDB oracle over the same parquet file
    * reproduces the table exactly.
    */
  def fromDocuments(spark: SparkSession, sfDir: String): DataFrame =
    withDerived(
      spark.read.parquet(s"$sfDir/documents.parquet").select(col("doc_id").as("seq")))

  /** Bench path: n rows from `spark.range` — arbitrary scale, fully
    * parallel generation (`numPartitions` slices).
    */
  def synthetic(spark: SparkSession, n: Long, numPartitions: Int = 32): DataFrame =
    withDerived(spark.range(0L, n, 1L, numPartitions).select(col("id").as("seq")))

  /** The shape both paths generate, for schema-required streaming reads. */
  val tokenSchema: StructType = StructType(Seq(
    StructField("seq", LongType),
    StructField("doc_id", StringType),
    StructField("tokens", ArrayType(IntegerType)),
    StructField("n_tok", IntegerType),
    StructField("source", StringType)))

  /** A directory of TokenTable parquet files as a stream: the batch
    * `Pipeline.transform` runs on it unchanged (batch-first, streaming as
    * a wrapper — SURVEY §1.3).
    */
  def tokenStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(tokenSchema).parquet(dir)

  /** Token array for an arbitrary generator index column — used to
    * manufacture guaranteed duplicates (e.g. `g = seq - seq % 2` makes
    * even/odd row pairs token-identical) for dedup-operator oracles.
    */
  def tokensFor(g: Column): Column =
    transform(
      sequence(lit(1L), lit(1L) + g % 64),
      j => ((g * 2654435761L + j * 40503L) % 50257L).cast("int"))

  /** DuckDB rendering of [[tokensFor]] over SQL expression `g`. */
  def duckdbTokensFor(g: String): String =
    s"list_transform(range(1, 2 + CAST(($g) % 64 AS INTEGER)), j -> CAST((($g) * 2654435761 + j * 40503) % 50257 AS INTEGER))"

  /** DuckDB SQL reproducing [[fromDocuments]] verbatim, as a CTE body.
    * Interpolate via `s"WITH tokseq AS (${TokenTable.duckdbCte}) SELECT ..."`.
    * Divergences handled: DuckDB `range(a,b)` is end-exclusive (Spark
    * `sequence` is inclusive); DuckDB `to_hex` is uppercase (both sides
    * lowercased); both engines' `%` on non-negative int64 agree.
    */
  val duckdbCte: String = """
    SELECT
      doc_id AS seq,
      concat('host-', CAST(doc_id % 997 AS VARCHAR),
             ' - user', CAST(doc_id % 31 AS VARCHAR),
             ' [', strftime(to_timestamp(1500322623 + doc_id % 3600), '%d/%b/%Y:%H:%M:%S'),
             ' +0000] "GET /p/', CAST(doc_id AS VARCHAR),
             ' HTTP/1.1" ',
             CAST(CASE doc_id % 6 WHEN 3 THEN 404 WHEN 4 THEN 500 WHEN 5 THEN 503 ELSE 200 END AS VARCHAR),
             ' ', CAST((doc_id * 131) % 9973 AS VARCHAR)) AS doc_id_str,
      list_transform(range(1, 2 + CAST(doc_id % 64 AS INTEGER)),
                     j -> CAST((doc_id * 2654435761 + j * 40503) % 50257 AS INTEGER)) AS tokens,
      CAST(1 + doc_id % 64 AS INTEGER) AS n_tok,
      CASE
        WHEN doc_id % 100 < 55 THEN 'app.frontend'
        WHEN doc_id % 100 < 80 THEN 'app.backend'
        WHEN doc_id % 100 < 92 THEN 'db.primary'
        WHEN doc_id % 100 < 97 THEN concat('var.log.containers.web-', CAST(doc_id % 10 AS VARCHAR),
             '_default_nginx-', lower(lpad(to_hex((doc_id * 2654435761) % 1152921504606846976), 64, '0')), '.log')
        ELSE 'sys.kern'
      END AS source
    FROM documents
  """.stripMargin.trim

  /** Oracle-side expected parse fields (arithmetic reconstruction — a
    * STRONGER oracle than re-running a regex: DuckDB recomputes what the
    * Spark regex must extract).
    */
  val duckdbParsedCte: String = """
    SELECT *,
      concat('host-', CAST(seq % 997 AS VARCHAR)) AS host,
      concat('user', CAST(seq % 31 AS VARCHAR)) AS usr,
      'GET' AS method,
      concat('/p/', CAST(seq AS VARCHAR)) AS path,
      CAST(CASE seq % 6 WHEN 3 THEN 404 WHEN 4 THEN 500 WHEN 5 THEN 503 ELSE 200 END AS BIGINT) AS code,
      CAST((seq * 131) % 9973 AS BIGINT) AS size,
      CAST(1500322623 + seq % 3600 AS BIGINT) AS tsec
    FROM tokseq
  """.stripMargin.trim
}
