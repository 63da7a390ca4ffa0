package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Star-schema loader for the driver-generated TPC-H-ish tables.
  *
  * Mirrors the reference's schema-enforced ingest discipline
  * (reference: src/script/script.py:33-48 reads CSV with an explicit
  * StructType) — parquet already carries its schema, so here the
  * discipline is column pruning: callers select only what they need
  * and Catalyst pushes the projection into the scan.
  */
object Tables {
  /** Root of every scratch store the engine writes (index and band
    * stores, staged stream sources, ETL round-trip layers):
    * `SPARK_GRAFT_TMP` when set, else `target/graft_tmp` under the
    * working directory. Never a dataset directory. */
  def scratchRoot: String = sys.env.getOrElse("SPARK_GRAFT_TMP",
    java.nio.file.Paths.get("target", "graft_tmp").toAbsolutePath.toString)

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    // Parquet TIMESTAMP(NANOS) is read as LongType under
    // spark.sql.legacy.parquet.nanosAsLong (Spark has no nanos
    // timestamp type); surface it as a microsecond TimestampType.
    // `div` truncates toward zero — identical to DuckDB's nanos→micros
    // conversion for the post-1970 timestamps this dataset carries
    // (pre-epoch nanos would differ from floor by 1µs on both engines
    // equally, so the oracle comparison stays aligned either way).
    df.schema.fields.find(f => f.name == "ts" && f.dataType == LongType) match {
      case Some(_) if name == "events" =>
        // `div` = integral division (plain `/` would go through double
        // and lose precision above 2^53 — epoch-nanos is ~1.7e18).
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        // Defense in depth for sessions not built via GraftSession: if
        // the parquet micros timestamp was inferred as TIMESTAMP_NTZ
        // (isAdjustedToUTC=false + inferTimestampNTZ on), cast it to an
        // instant. Under the UTC session timezone the cast is a no-op on
        // the underlying micros, matching what GraftSession's
        // inferTimestampNTZ=false setting reads directly.
        df.schema.fields.find(f => f.name == "ts" && f.dataType == TimestampNTZType) match {
          case Some(_) => df.withColumn("ts", col("ts").cast(TimestampType))
          case None    => df
        }
    }
  }

  /** Register every table as a temp view so both the DataFrame API and
    * spark.sql can address them by name. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))

  /** Compute-parallelism floor for frames feeding HEAVY per-row work
    * (guide §2.5 "input skew": one small/unsplittable input file =
    * one task). Scan parallelism is BYTE-derived (maxPartitionBytes /
    * openCostInBytes / row-group granularity), which is the right
    * sizing for I/O-bound scans but starves compute-bound projections:
    * a sub-4 MB parquet fixture plans as ONE task, so a per-row
    * decode/census/regex stage serializes on one core regardless of
    * cluster width. When the planned scan parallelism is below the
    * session default, round-robin repartition up to it; when the input
    * already splits to >= default parallelism (any at-scale table),
    * this is a NO-OP — no exchange is added, the plan is unchanged.
    * Scale-adaptive by construction: derived from the frame's own
    * planned partitioning, never a tuned constant. */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
