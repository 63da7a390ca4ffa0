package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, when}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.operators.Cleaning
import graft.sources.{CsvIngest, Sinks}

/** Raw → trusted → refined medallion pipeline, generalizing the
  * reference's job chain (reference: src/script/script.py end-to-end,
  * src/utils/transform.py:14-70 CSV→parquet refine, dag.py task order).
  *
  * All paths are caller-supplied local paths or Hadoop FileSystem URIs
  * — storage layout is a deployment concern, not engine code.
  */
object Medallion {

  /** raw CSV (schema-enforced, reference options) → cleaned trusted
    * single-file pipe CSV with header + BOM, in one Spark write. */
  def rawToTrusted(
      spark: SparkSession,
      rawPath: String,
      trustedDir: String,
      schema: StructType,
      codeCol: String): Unit = {
    val raw = CsvIngest.read(spark, rawPath, schema)
    val cleaned = Cleaning.referenceClean(raw, codeCol)
    Sinks.writeSingleCsv(cleaned, trustedDir)
  }

  /** trusted CSV → refined snappy parquet (transform.py's conversion,
    * Spark-native: a distributed read + columnar write, no pandas). */
  def trustedToRefined(
      spark: SparkSession,
      trustedDir: String,
      refinedDir: String,
      schema: StructType,
      partitionBy: Seq[String] = Nil): Unit = {
    val trusted = CsvIngest.read(
      spark, trustedDir, schema, CsvIngest.trustedOptions)
    Sinks.writeParquet(trusted, refinedDir, partitionBy)
  }

  /** Warehouse-load semantics of the reference (src/utils/load_bq.py:
    * 13-73 — truncate-write with schema autodetect): Spark-native
    * analog is an overwrite-mode managed-table write. */
  def loadWarehouse(df: DataFrame, table: String): Unit =
    df.write.mode("overwrite").saveAsTable(table)

  /** Insert-mode warehouse load — the reference's audit-row inserts
    * (monitor.py:126-204 append UUID-keyed rows, never truncate). */
  def appendWarehouse(df: DataFrame, table: String): Unit =
    df.write.mode("append").saveAsTable(table)

  /** SCD-1 upsert (MERGE INTO without a table format): apply a
    * changeset to a snapshot — matched keys take the changeset row
    * (including its explicit NULLs — presence of the KEY decides, not
    * per-column coalesce), unmatched snapshot rows persist, new keys
    * insert. ONE shuffle keyed by `key` (full-outer join); AQE splits
    * skewed keys, and a bucketed snapshot layout (Joins.writeBucketed)
    * drops the snapshot-side shuffle entirely — the incremental-load
    * shape a warehouse runs nightly at 100 TB. */
  def upsert(snapshot: DataFrame, changes: DataFrame, key: String): DataFrame = {
    val cols = snapshot.columns.toIndexedSeq
    require(changes.columns.toIndexedSeq == cols,
      s"changeset schema ${changes.columns.toSeq} must match snapshot $cols")
    val sn = snapshot.select(cols.map(c => col(c).as(s"_sn_$c")): _*)
    val ch = changes.select(cols.map(c => col(c).as(s"_ch_$c")): _*)
    sn.join(ch, col(s"_sn_$key") === col(s"_ch_$key"), "full_outer")
      .select(cols.map(c =>
        when(col(s"_ch_$key").isNotNull, col(s"_ch_$c"))
          .otherwise(col(s"_sn_$c")).as(c)): _*)
  }

  /** The trusted layer's schema: the raw schema plus the derived
    * parity-segment column referenceClean appends. */
  def trustedSchemaOf(rawSchema: StructType): StructType =
    StructType(rawSchema.fields :+ StructField("segmento", StringType))

  /** One-call catalog load — the reference's warehouse-load face
    * (load_bq.py:13-73: truncate-write into a named governed table
    * with schema autodetect) plus the post-load audit a production
    * load runs before declaring success: TRUNCATE-WRITE `df` into the
    * managed `table` (the schema is autodetected from the frame,
    * exactly as BigQuery autodetects from parquet), verify the
    * catalog round-trip preserved every column name and type (a
    * widened or re-ordered column fails loudly HERE, not in the first
    * downstream query), and append a run-ledger row (uid, project,
    * step='load', file count, row count, start/end) to `auditTable`
    * — monitor.py:123-164's shape, the same ledger auditedRun feeds.
    * Returns the table as read back FROM THE CATALOG, so callers
    * consume the governed table, not the input lineage. */
  def catalogLoad(spark: SparkSession, df: DataFrame, table: String,
      auditTable: String, uid: String, project: String,
      clock: () => String): DataFrame = {
    val t0 = clock()
    loadWarehouse(df, table)
    val loaded = spark.table(table)
    // name+type equality; nullability is legitimately widened by the
    // parquet round-trip and is not schema drift
    require(loaded.schema.map(f => (f.name, f.dataType)) ==
        df.schema.map(f => (f.name, f.dataType)),
      s"catalog schema drifted for $table: " +
        s"${loaded.schema.catalogString} vs ${df.schema.catalogString}")
    val audit = Monitor.runAudit(spark, uid, project, "load",
      qtdFiles = loaded.inputFiles.length.toLong,
      qtdRows = loaded.count(), dtStart = t0, dtEnd = clock())
    appendWarehouse(audit, auditTable)
    loaded
  }

  /** AUDITED raw→trusted→refined run — the reference's full job chain
    * (dag.py task order) with monitor.py:126-204's run-level audit: one
    * (uid, project, step, file count, row count, start/end) row per
    * layer, appended to `auditTable` via the warehouse writer. The
    * clock is caller-supplied so tests are deterministic; production
    * passes `() => java.time.Instant.now.toString`. Returns the audit
    * rows of this run. */
  def auditedRun(
      spark: SparkSession,
      uid: String,
      project: String,
      rawPath: String,
      trustedDir: String,
      refinedDir: String,
      rawSchema: StructType,
      codeCol: String,
      auditTable: String,
      clock: () => String): DataFrame = {
    val trustedSchema = trustedSchemaOf(rawSchema)
    val t0 = clock()
    rawToTrusted(spark, rawPath, trustedDir, rawSchema, codeCol)
    val trusted = CsvIngest.read(
      spark, trustedDir, trustedSchema, CsvIngest.trustedOptions)
    val auditTrusted = Monitor.runAudit(spark, uid, project, "trusted",
      qtdFiles = 1L, qtdRows = trusted.count(), dtStart = t0, dtEnd = clock())
    val t1 = clock()
    trustedToRefined(spark, trustedDir, refinedDir, trustedSchema)
    val refined = spark.read.parquet(refinedDir)
    val auditRefined = Monitor.runAudit(spark, uid, project, "refined",
      qtdFiles = refined.inputFiles.length.toLong, qtdRows = refined.count(),
      dtStart = t1, dtEnd = clock())
    val audit = auditTrusted.unionAll(auditRefined)
    appendWarehouse(audit, auditTable)
    audit
  }
}
