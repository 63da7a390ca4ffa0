package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Schema-enforced CSV ingest — the reference pipeline's front door.
  *
  * Mirrors the read options of the reference's raw→trusted job
  * (reference: src/script/script.py:40-47 — `;` delimiter, `"` quote,
  * `"` escape, no header, explicit StructType). An enforced schema is
  * non-negotiable at scale: schema inference is an extra full pass over
  * 100 TB and silently drifts types between runs.
  */
object CsvIngest {

  /** Options mirroring the reference raw layer (semicolon-separated,
    * quoted with doubled-quote escapes, headerless). */
  val rawOptions: Map[String, String] = Map(
    "header" -> "false",
    "delimiter" -> ";",
    "quote" -> "\"",
    "escape" -> "\"")

  /** The trusted layer's dialect (pipe-delimited, with header —
    * script.py:63-70), shared by its writer (`Sinks.writeSingleCsv`)
    * and every reader. The escape must be the doubled quote on both
    * sides: the writer's default backslash escape would corrupt values
    * containing quotes on the trusted→refined read-back. */
  val trustedOptions: Map[String, String] = Map(
    "header" -> "true",
    "delimiter" -> "|",
    "quote" -> "\"",
    "escape" -> "\"")

  def read(
      spark: SparkSession,
      path: String,
      schema: StructType,
      options: Map[String, String] = rawOptions): DataFrame =
    spark.read.options(options).schema(schema).csv(path)

  /** Name of the quarantine column [[readQuarantine]] appends. */
  val CorruptCol = "_corrupt_record"

  /** Schema-enforced read that QUARANTINES malformed rows instead of
    * silently dropping (DROPMALFORMED) or aborting the job (FAILFAST) —
    * the first production incident of a 100 TB dirty-CSV landing zone
    * is a schema-enforced read meeting a row it cannot parse. PERMISSIVE
    * mode parses what it can per row (a failed cast NULLs that field, a
    * wrong token count keeps the parsed prefix) and captures the raw
    * line in [[CorruptCol]] when anything failed, so downstream can
    * split ok/quarantined rows and audit the counts; nothing is lost
    * and nothing dies. Stays a pure per-row projection — no shuffle,
    * full scan parallelism. */
  def readQuarantine(
      spark: SparkSession,
      path: String,
      schema: StructType,
      options: Map[String, String] = rawOptions): DataFrame = {
    require(!schema.fieldNames.contains(CorruptCol),
      s"schema already contains $CorruptCol")
    val withCorrupt = StructType(
      schema.fields :+ StructField(CorruptCol, StringType))
    spark.read.options(options)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .schema(withCorrupt)
      .csv(path)
  }
}
