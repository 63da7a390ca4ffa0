package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession settings for every entrypoint (Verify, Bench,
  * tests). Keeps the oracle-parity knobs (UTC, nanos handling) and the
  * local-mode tuning (shuffle partitions = cores, AQE on) in one place.
  */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
      // reader rejects; read as long and convert in Tables.load.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // events.ts is parquet timestamp[us] with isAdjustedToUTC=false,
      // which Spark 4 infers as TIMESTAMP_NTZ by default. The engine's
      // time semantics (unix_micros, window(), watermarks) are defined
      // over instants, so read it as TimestampType instead — under the
      // UTC session timezone the micros values are bit-identical.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // native graft expressions (dot_product, cosine_sim) — see
      // graft.functions.GraftExtensions
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // the whole-stage-codegen class cache defaults to 100 entries;
      // the registry holds 235 queries, so a pass over all of them
      // evicts every compiled plan and each re-execution pays a
      // ~0.2-0.3 s recompile (surfaced by the interleaved bench —
      // cheap keys read 2-3x their back-to-back timings). Size it to
      // hold the full registry with headroom.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // COUNT/MIN/MAX over a bare parquet scan answer from row-group
      // footers instead of scanning pages (exact by definition —
      // footers carry the committed row counts). Several operators
      // derive corpus-size-adaptive geometry from a driver-side
      // count() of a base table (graph sample modulus, ADC candidate
      // budgets, audit bounds); this makes those jobs metadata-only at
      // ANY scale. Correctness-neutral: same exact values.
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.ui.enabled", "false")

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // getOrCreate() silently ignores builder configs when a session already
    // exists in the JVM (e.g. a test created one first). The nanos and
    // timezone knobs are correctness-critical for the events table, so fail
    // loudly rather than produce timezone-shifted or unreadable results.
    val critical = Seq(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")
    critical.foreach { case (k, v) =>
      val actual = spark.conf.get(k, "<unset>")
      require(actual == v,
        s"pre-existing SparkSession has $k=$actual (need $v); " +
          "stop it or create sessions via GraftSession")
    }
    spark
  }
}
