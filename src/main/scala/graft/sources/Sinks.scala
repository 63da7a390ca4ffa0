package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Writers for the medallion layers.
  *
  * - Trusted: single-file CSV in the [[CsvIngest.trustedOptions]]
  *   dialect (pipe-delimited, header, doubled-quote escapes) whose
  *   first bytes are a UTF-8 BOM for spreadsheet compatibility
  *   (reference: src/script/script.py:63-70 coalesce(1) CSV write;
  *   src/utils/scraping.py:111-182 `add_bom_csv` prepends `EF BB BF`).
  * - Refined: snappy parquet (reference: src/utils/transform.py:14-70).
  *
  * Every layer is written once by Spark, so any Hadoop FileSystem URI
  * (file://, hdfs://, s3a://, gs://) works and the checksum sidecars
  * Hadoop writes stay valid.
  *
  * Scale note: `coalesce(1)` funnels the whole dataset through one task
  * — it is an EXPORT boundary for small, human-facing extracts, never
  * the distributed path. The refined/parquet writer keeps natural
  * parallelism and optional hash partitioning.
  */
object Sinks {

  /** Single-file CSV export (trusted layer), written by one Spark write.
    *
    * The BOM rides the header: the first column's name gets a U+FEFF
    * prefix for this write only, and U+FEFF UTF-8-encodes to
    * `EF BB BF`, so the file's first three bytes are the BOM the
    * reference's `add_bom_csv` prepends — with no second pass over the
    * extract. The header field is written unquoted (U+FEFF is neither a
    * delimiter, a quote nor whitespace), and the trusted reads skip the
    * header against an enforced schema, so the name never surfaces.
    *
    * `_SUCCESS` markers are SUPPRESSED at the committer level (the
    * reference disables `mapreduce.fileoutputcommitter.
    * marksuccessfuljobs` for exactly this export — script.py:25-28):
    * the trusted dir is a human/spreadsheet-facing landing zone whose
    * consumers glob `*.csv`-adjacent files, and a marker file there is
    * byte-level infidelity to the reference layout. Spark merges write
    * options into the job's Hadoop conf, so the option scopes to THIS
    * write only. */
  def writeSingleCsv(df: DataFrame, dir: String): Unit = {
    val names = df.columns.toIndexedSeq
    df.toDF(names.updated(0, "\uFEFF" + names.head): _*)
      .coalesce(1)
      .write
      .mode("overwrite")
      .options(CsvIngest.trustedOptions)
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .csv(dir)
  }

  /** Refined layer: snappy parquet, optionally partitioned by columns
    * (partition pruning at read time is the 100 TB win).
    *
    * Partitioned writes REBALANCE on the partition columns first: a
    * naive partitionBy write has every task emit one file per
    * partition value it happens to hold — tasks × partitions files
    * (the classic lake file storm; at sf1 the day-partitioned events
    * write measured 6.9× its sf0.1 time almost entirely in file
    * creation/listing). The AQE rebalance shuffle routes each
    * partition value to as few tasks as possible — one file per
    * partition in the common case — while still SPLITTING a skewed
    * partition across tasks instead of funneling it through one
    * writer (what a plain repartition(partCols) would do); this is
    * the \"optimized write\" every production lake writer performs. */
  def writeParquet(
      df: DataFrame,
      dir: String,
      partitionBy: Seq[String] = Nil,
      compression: String = "snappy"): Unit = {
    val out =
      if (partitionBy.nonEmpty) df.hint("rebalance", partitionBy: _*)
      else df
    val w = out.write.mode("overwrite").option("compression", compression)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(dir)
  }

  /** Small-file compaction: rewrite a parquet dataset into
    * ceil(totalBytes / targetFileBytes) files. The maintenance job
    * every streaming/incremental landing zone needs — thousands of
    * KB-scale part files turn every downstream scan into a
    * task-scheduling and footer-read storm; compaction restores
    * splittable, HDFS-block-sized files. Content is preserved
    * bit-for-bit (hash-checked by the etl_compact oracle);
    * `repartition` is a full shuffle by design — it levels file sizes
    * regardless of input skew. Returns the output file count. */
  def compact(spark: SparkSession, inDir: String,
      outDir: String, targetFileBytes: Long = 128L << 20): Int = {
    val df = spark.read.parquet(inDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val totalBytes = df.inputFiles.map { f =>
      val p = new Path(new java.net.URI(f))
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
    val nFiles = math.max(1, math.ceil(
      totalBytes.toDouble / targetFileBytes).toInt)
    df.repartition(nFiles).write.mode("overwrite").parquet(outDir)
    nFiles
  }
}
