package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest/egress parity with the reference's HTTP JSON surface:
  *
  *  - O1 ingest: `POST /launch` bodies are
  *    `{name, type, mapper_num, reducer_num, token, kvs: [{key, value}]}`,
  *    validated field-by-field at
  *    `/root/reference/src/tmapreduce/gateway.cc:15-51`;
  *  - O10 sink: `GET /getresult` returns the result strings as a JSON
  *    array (`gateway.cc:167-176`).
  *
  * Here the gateway becomes a library API: schema-checked `spark.read
  * .json` in, JSON array out. General tabular sources (parquet/csv/json/
  * text) are one-liners on `spark.read` and are exercised throughout
  * graft.Tables / the query surface.
  */
object Sources {

  /** The launch payload schema (gateway.cc:15-51, master_service.proto
    * LaunchMsg). `from_json`-compatible for embedded use.
    */
  val launchSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("mapper_num", IntegerType, nullable = false),
    StructField("reducer_num", IntegerType, nullable = false),
    StructField("token", StringType, nullable = false),
    StructField("kvs", ArrayType(StructType(Seq(
      StructField("key", StringType, nullable = false),
      StructField("value", StringType, nullable = false)))), nullable = false)))

  final case class Launch(
      name: String,
      jobType: String,
      mapperNum: Int,
      reducerNum: Int,
      token: String,
      kvs: Dataset[(String, String)])

  /** Read + validate one launch JSON document (the `/launch` body). Errors
    * mirror the gateway's checks: missing/ill-typed fields and empty kvs
    * are rejected (gateway.cc:15-51, master.cc:530-535).
    */
  def readLaunchJson(spark: SparkSession, path: String): Either[String, Launch] =
    validateLaunch(spark, spark.read
      .option("multiLine", "true")
      .schema(launchSchema)
      .option("mode", "FAILFAST")
      .json(path))

  /** Parse + validate a launch document held in memory (an HTTP `/launch`
    * request body) — same schema and checks as [[readLaunchJson]].
    */
  def parseLaunchJson(spark: SparkSession, body: String): Either[String, Launch] = {
    import spark.implicits._
    validateLaunch(spark, spark.read
      .schema(launchSchema)
      .option("mode", "FAILFAST")
      .json(Seq(body).toDS()))
  }

  private def validateLaunch(
      spark: SparkSession, raw: DataFrame): Either[String, Launch] = {
    import spark.implicits._
    try {
      val rows = raw.collect()
      if (rows.length != 1) Left(s"expected one launch document, got ${rows.length}")
      else {
        val r = rows(0)
        val bad = launchSchema.fieldNames.filter(f => r.isNullAt(r.fieldIndex(f)))
        if (bad.nonEmpty) Left(s"missing/invalid fields: ${bad.mkString(", ")}")
        else {
          val kvRows = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("kvs"))
            .map(kv => (kv.getString(0), kv.getString(1)))
          if (kvRows.isEmpty) Left("kvs must be non-empty") // master.cc:533-535
          else Right(Launch(r.getString(0), r.getString(1), r.getInt(2),
            r.getInt(3), r.getString(4), kvRows.toDS()))
        }
      }
    } catch {
      case e: Exception => Left(s"malformed launch JSON: ${e.getMessage}")
    }
  }

  /** O10 sink: write result strings as a single JSON array file (the
    * `/getresult` response body shape, gateway.cc:167-176).
    */
  def writeResultJson(results: Seq[String], path: String): Unit =
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path),
      results.map(jsonString).mkString("[", ",", "]"))

  /** `s` as a JSON string literal: quote, backslash and ALL control chars
    * (< 0x20) escaped — a tab or CR left raw makes the reader's JSON
    * parse fail. Shared by the result sinks, the gateway's responses and
    * the Verify oracle dump.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Distributed result sink for large outputs: one string column to a
    * JSON-lines directory (each line `{"result": ...}`) — the scale form
    * of O10 (the reference holds results in master RAM, `job.h:86-88`).
    */
  def writeResultJsonl(results: Dataset[String], dir: String): Unit =
    results.toDF("result").write.mode("overwrite").json(dir)

  // ---- generic tabular sources (SURVEY §2.2) ------------------------
  // Schema-validated spark.read wrappers: the supplied schema is enforced
  // with FAILFAST, so ill-typed / malformed rows fail the read instead of
  // silently nulling — the batch-ingest analog of the gateway's
  // field-by-field launch checks (gateway.cc:15-51). At cluster scale
  // these are the same readers against HDFS/S3A paths; Catalyst still
  // pushes projections/filters into the scans.

  /** The `documents` corpus shape (TESTDATA.md) for csv/json ingest. */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = true),
    StructField("source", StringType, nullable = true),
    StructField("n_chars", LongType, nullable = true)))

  /** Schema-checked CSV reader (header expected by default). */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .option("mode", "FAILFAST")
      .csv(path)

  /** Schema-checked JSON-lines reader. */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").json(path)

  /** Raw text-lines reader: one `value` string column per line (the
    * word_count client's file-ingest shape,
    * `/root/reference/example/word_count/word_count_client.cc:30-45`).
    */
  def readTextLines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** Read a csv/json file into the `documents` shape and validate the
    * required fields the way the gateway validates a launch: a row with
    * a null `doc_id`/`text` is a rejection.
    *
    * Default mode is SINGLE-SCAN: the returned frame carries a row-level
    * guard (`assert_true`) so validation rides the consumer's first
    * action — a bad row fails that action loudly with a clear message,
    * the same posture FAILFAST takes for ill-typed rows. At 100 TB a
    * dedicated up-front validation pass doubles ingest cost; callers who
    * want that audit anyway (total bad-row count, `Left` instead of a
    * failed action) opt in with `audit = true`.
    */
  def readDocuments(spark: SparkSession, path: String,
      format: String = "csv", audit: Boolean = false): Either[String, DataFrame] = {
    val df = format match {
      case "csv" => readCsv(spark, path, documentsSchema)
      case "json" => readJsonl(spark, path, documentsSchema)
      case other => return Left(s"unsupported documents format: $other")
    }
    if (audit) {
      // Opt-in eager audit: one extra scan, reports the TOTAL bad-row
      // count up front instead of failing the consumer's action.
      try {
        val bad = df.filter(col("doc_id").isNull || col("text").isNull).count()
        if (bad > 0) Left(s"$bad rows with missing doc_id/text")
        else Right(df)
      } catch {
        case e: Exception => Left(s"malformed $format: ${e.getMessage}")
      }
    } else {
      // coalesce(assert_true(...), true) keeps the guard a row-level
      // predicate: assert_true yields NULL for good rows (so every row
      // passes the filter) and throws on the first bad one; the non-
      // foldable assert makes the filter unprunable by the optimizer.
      Right(df.filter(coalesce(
        assert_true(col("doc_id").isNotNull && col("text").isNotNull,
          lit(s"documents row with missing doc_id/text: $path")),
        lit(true))))
    }
  }
}
