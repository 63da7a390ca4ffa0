package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.{Medallion, Monitor}
import graft.sources.{CsvIngest, Landing, Sinks, Tables}

/** The reference's ETL surface expressed as correctness-gated queries
  * (SURVEY §2A). The cleaning operators run on a deterministically
  * "dirtied" projection of the customer table so trim / empty→NULL are
  * exercised on rows that actually need them (the synthetic data is
  * born clean; without this the checks would be vacuous).
  */
object Etl {

  /** Deterministic messy input: codigo + a descricao that is blank for
    * custkey%10==0, space-padded for custkey%7==0, clean otherwise.
    * Mirrored verbatim in the oracle SQL's inner SELECT. */
  private def messyCustomer(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer").select(
      col("c_custkey").as("codigo"),
      when(col("c_custkey") % 10 === 0, lit("  "))
        .when(col("c_custkey") % 7 === 0,
          concat(lit("  "), col("c_name"), lit("  ")))
        .otherwise(col("c_name")).as("descricao"),
      col("c_acctbal"))

  private def cleaned(s: SparkSession, dir: String): DataFrame =
    Cleaning.referenceClean(messyCustomer(s, dir), "codigo")

  /** Where etl_csv_roundtrip materializes its layers: the shared
    * [[graft.sources.Tables.scratchRoot]]. */
  def roundtripRoot: String = graft.sources.Tables.scratchRoot

  /** Drop + physically clear a managed table so saveAsTable recreates
    * it cleanly: the catalog is in-memory per JVM but the managed
    * LOCATION is not — a previous session's table directory survives
    * the no-op DROP and blocks the write with LOCATION_ALREADY_EXISTS.
    * The recursive delete is guarded to the one directory directly
    * under the warehouse root: a misconfigured warehouse.dir (e.g.
    * resolving to "/") must fail loudly rather than recurse into it. */
  private def freshManagedTable(s: SparkSession, tbl: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val warehouse = new java.io.File(
      new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath)
    val loc = new java.io.File(warehouse, tbl)
    require(loc.getCanonicalFile.getParentFile ==
        warehouse.getCanonicalFile && loc.getName == tbl,
      s"refusing recursive delete outside the warehouse: $loc")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(): Unit
    }
    if (loc.exists) rm(loc)
  }

  val trustedSchema: StructType = StructType(Seq(
    StructField("codigo", LongType),
    StructField("descricao", StringType),
    StructField("segmento", StringType)))

  val rawSchema: StructType = StructType(Seq(
    StructField("codigo", LongType),
    StructField("descricao", StringType)))

  /** Deterministic landing fixture for etl_raw_roundtrip: a ZIP holding
    * an ISO-8859-1, `;`-delimited, headerless CSV derived from the
    * customer table — the shape of the reference's downloaded
    * `Cnaes.zip` (scraping.py:55-77). Accented values exercise the
    * charset decode; quoted values with embedded `;`/`|`/`"` exercise
    * the doubled-quote contract end-to-end. Driver-side generation is
    * fixture code, not an operator path. */
  def writeFixtureZip(s: SparkSession, dir: String,
      landingDir: String): String = {
    import java.nio.file.{Files, Paths}
    val rows = Tables.load(s, dir, "customer")
      .select(col("c_custkey").cast("long"), col("c_name").cast("string"))
      .orderBy(col("c_custkey")).limit(100).collect()
    def field(v: String): String =
      if (v.exists(c => c == ';' || c == '"' || c == '|'))
        "\"" + v.replace("\"", "\"\"") + "\""
      else v
    val lines = rows.map { r =>
      val id = r.getLong(0)
      val name = r.getString(1)
      val desc =
        if (id % 5 == 0) s"""$name "aspas";e|pipe"""
        else if (id % 3 == 0) s"$name çãõé"
        else name
      s"$id;${field(desc)}"
    }
    val bytes = lines.mkString("\n")
      .getBytes(java.nio.charset.Charset.forName("ISO-8859-1"))
    Files.createDirectories(Paths.get(landingDir))
    val zipPath = Paths.get(landingDir, "cnaes.zip")
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(zipPath))
    zos.putNextEntry(new java.util.zip.ZipEntry("Cnaes.csv"))
    zos.write(bytes)
    zos.closeEntry()
    zos.close()
    zipPath.toString
  }

  /** Forward-fill gap imputation (LOCF — last observation carried
    * forward), the standard repair for telemetry streams with dropped
    * readings before any rate/derivative computation. Readings are
    * masked deterministically (event_id % 5 = 0 → NULL, so the fixture
    * has real gaps at every SF) and repaired with
    * last(…, ignoreNulls) over a per-device ROWS window ordered by
    * (ts, event_id) — leading gaps stay NULL by definition.
    *
    * Scale shape: ONE user-keyed shuffle, then each partition sorts
    * and fills in a single streaming window pass (running `last` needs
    * no frame buffering — WindowExec keeps O(1) state per row). No
    * joins, no second exchange; at 100 TB this is exactly the
    * sessionize/q23 event-window template. The filled value is the
    * untouched input double carried through — no arithmetic, so no
    * float seam against the oracle. */
  def gapFill(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("masked",
        when(col("event_id") % 5 === 0, lit(null)).otherwise(col("value")))
      .withColumn("filled", last(col("masked"), ignoreNulls = true).over(w))
      .select(col("event_id"), col("user_id"), col("masked"), col("filled"))
      .orderBy(col("event_id"))
  }

  /** Declarative data-quality constraint suite (the Great-Expectations
    * / dbt-test layer of a warehouse load): null checks, uniqueness,
    * referential integrity, range checks — one audit table out, one
    * row per check with its violation count and pass bit.
    *
    * Scale shape: all ROW-PREDICATE checks against one table fuse
    * into a SINGLE scan by construction — one aggregate computes every
    * count(CASE …) column map-side, then a per-row unpivot melts the
    * 1-row wide result into check rows (zero extra exchanges, the
    * q38 reshape on a 1-row frame). Uniqueness adds one key-grouped
    * partial pair per table; each FK check is one anti join counted
    * (broadcast when the dim fits — custkey here — key-shuffled
    * otherwise). The union output is check-cardinality rows: auditing
    * 100 TB costs the scans, never a wide shuffle. */
  def dqAudit(cust: DataFrame, ord: DataFrame, li: DataFrame): DataFrame = {
    def melt(row: DataFrame, table: String, ids: Seq[(String, Long)])
        : DataFrame =
      row.unpivot(Array.empty, ids.map(n => col(n._1)).toArray,
          "check_name", "violations")
        .select(
          ids.foldLeft(lit(0L)) { case (acc, (n, id)) =>
            when(col("check_name") === n, id).otherwise(acc)
          }.as("check_id"),
          lit(table).as("table_name"), col("check_name"),
          col("violations"))
    val custChecks = melt(
      cust.agg(
        count(when(col("c_name").isNull, 1)).as("not_null_name"),
        (count(lit(1)) - countDistinct(col("c_custkey")))
          .as("unique_custkey")),
      "customer", Seq("not_null_name" -> 1L, "unique_custkey" -> 2L))
    val ordChecks = melt(
      ord.agg(
        count(when(col("o_totalprice") < 0, 1)).as("nonneg_totalprice"),
        count(when(col("o_orderdate").isNull ||
          year(col("o_orderdate")) < 1992 ||
          year(col("o_orderdate")) > 1998, 1)).as("valid_orderdate")),
      "orders", Seq("nonneg_totalprice" -> 3L, "valid_orderdate" -> 4L))
    val liChecks = melt(
      li.agg(
        count(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1))
          .as("quantity_range")),
      "lineitem", Seq("quantity_range" -> 5L))
    val fkOrders = ord
      .join(broadcast(cust.select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .select(lit(6L).as("check_id"), lit("orders").as("table_name"),
        lit("fk_custkey").as("check_name"), col("violations"))
    val fkLineitem = li
      .join(ord.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .select(lit(7L).as("check_id"), lit("lineitem").as("table_name"),
        lit("fk_orderkey").as("check_name"), col("violations"))
    custChecks.unionAll(ordChecks).unionAll(liChecks)
      .unionAll(fkOrders).unionAll(fkLineitem)
      .withColumn("pass", col("violations") === 0L)
      .orderBy(col("check_id"))
  }

  /** Full referential-integrity map of the warehouse — every FK edge
    * audited in one report: child row count, orphan rows (no parent),
    * and DISTINCT missing parent keys (how many parent rows to
    * backfill — the number an ops runbook actually needs; dqAudit's
    * two fk_* rows are pass/fail gates, this is the per-edge census).
    * Shape: per edge, one left join against the distinct parent keyset
    * + one map-side-combined aggregate to a single row; dimension
    * parents broadcast (AQE), the one fact-fact edge
    * (lineitem→orders) shuffles on the key. Output = |edges| rows at
    * any scale. */
  /** One FK-edge census row: child rows, orphan rows, distinct missing
    * parent keys (the null-excluding countDistinct drops non-orphans). */
  private[graft] def fkEdge(rel: String, child: DataFrame, key: String,
      parent: DataFrame, pkey: String): DataFrame =
    child.select(col(key).as("k"))
      .join(parent.select(col(pkey).as("k")).distinct()
        .withColumn("hit", lit(1)), Seq("k"), "left")
      .groupBy(lit(rel).as("relation"))
      .agg(count(lit(1)).as("n_child"),
        sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_orphan"),
        countDistinct(when(col("hit").isNull, col("k")))
          .as("n_missing_parents"))

  def fkOrphans(spark: SparkSession, dir: String): DataFrame = {
    def edge(rel: String, child: DataFrame, key: String,
        parent: DataFrame, pkey: String): DataFrame =
      fkEdge(rel, child, key, parent, pkey)
    val li = Tables.load(spark, dir, "lineitem")
    val ord = Tables.load(spark, dir, "orders")
    val cust = Tables.load(spark, dir, "customer")
    val supp = Tables.load(spark, dir, "supplier")
    val nation = Tables.load(spark, dir, "nation")
    edge("customer.nationkey", cust, "c_nationkey", nation, "n_nationkey")
      .unionAll(edge("lineitem.orderkey", li, "l_orderkey",
        ord, "o_orderkey"))
      .unionAll(edge("lineitem.partkey", li, "l_partkey",
        Tables.load(spark, dir, "part"), "p_partkey"))
      .unionAll(edge("lineitem.suppkey", li, "l_suppkey",
        supp, "s_suppkey"))
      .unionAll(edge("orders.custkey", ord, "o_custkey",
        cust, "c_custkey"))
      .unionAll(edge("supplier.nationkey", supp, "s_nationkey",
        nation, "n_nationkey"))
      .orderBy(col("relation"))
  }

  /** k-anonymity release (Samarati & Sweeney 1998) of the customer
    * table over the quasi-identifier (nation, segment, balance band):
    * every published row aggregates ≥ k individuals, so no quasi-id
    * combination re-identifies anyone — the privacy gate a training-
    * data pipeline runs before releasing user-derived tables. Groups
    * below k climb a FIXED generalization ladder (band → '*', then
    * segment → '*'), and whatever still can't reach k at nation level
    * is suppressed into one global audit row — a deterministic
    * relational cascade, no iteration.
    *
    * Scale shape: ONE row-level aggregation (map-side combined) turns
    * the corpus into quasi-id-cardinality group counts —
    * localCheckpoint'ed so the 100 TB scan happens exactly once — and
    * the whole ladder then re-aggregates group-level tables bounded by
    * |nations|·|segments|·|bands|, never rows. */
  def kAnonymize(cust: DataFrame, k: Int = 6): DataFrame = {
    val l0 = cust.groupBy(
        col("c_nationkey").cast("long").as("nationkey"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("band"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val rel0 = l0.filter(col("n") >= k)
      .select(col("nationkey"), col("segment"),
        col("band").cast("string").as("bal_band"), col("n"),
        lit(0L).as("level"))
    val rem0 = l0.filter(col("n") < k)
    val l1 = rem0.groupBy(col("nationkey"), col("segment"))
      .agg(sum(col("n")).as("n"))
    val rel1 = l1.filter(col("n") >= k)
      .select(col("nationkey"), col("segment"), lit("*").as("bal_band"),
        col("n"), lit(1L).as("level"))
    val rem1 = l1.filter(col("n") < k)
    val l2 = rem1.groupBy(col("nationkey")).agg(sum(col("n")).as("n"))
    val rel2 = l2.filter(col("n") >= k)
      .select(col("nationkey"), lit("*").as("segment"),
        lit("*").as("bal_band"), col("n"), lit(2L).as("level"))
    // the residue merges into ONE row with no quasi-identifier left
    val sup = l2.filter(col("n") < k).agg(sum(col("n")).as("n"))
      .filter(col("n").isNotNull)
      .select(lit(-1L).as("nationkey"), lit("*").as("segment"),
        lit("*").as("bal_band"), col("n"), lit(3L).as("level"))
    rel0.unionAll(rel1).unionAll(rel2).unionAll(sup)
      .orderBy(col("level"), col("nationkey"), col("segment"),
        col("bal_band"))
  }

  /** Table-content fingerprint for migration / replication validation
    * — "did the copy preserve every row bit-for-bit" without sorting
    * or moving the table: each row folds to a canonical digest (the
    * codegen'd poly_digest over a '|'-joined canonical projection:
    * fixed-point cents, ISO dates), and per-group fingerprints are
    * ORDER-INDEPENDENT folds of those digests — BIT_XOR and SUM (both
    * commutative; digests < 2^30 keep a billion-row SUM far from
    * overflow) plus count/min/max. Two tables are byte-equal per group
    * iff every column of this summary matches — the standard
    * checksum-compare pattern for cross-system migrations, which is
    * exactly what the DuckDB oracle demonstrates by recomputing the
    * digests itself.
    *
    * Scale shape: one map-side digest per row inside the scan stage,
    * then a map-side-combinable aggregate on the group key — a 100 TB
    * table fingerprints in one pass with a dimension-sized shuffle. */
  def rowChecksum(orders: DataFrame): DataFrame = {
    val canon = concat_ws("|",
      col("o_orderkey").cast("string"),
      col("o_custkey").cast("string"),
      col("o_orderstatus"),
      floor(col("o_totalprice") * 100).cast("long").cast("string"),
      col("o_orderdate").cast("date").cast("string"),
      col("o_orderpriority"))
    orders
      .select(col("o_orderpriority").as("grp"),
        call_function("poly_digest", canon).as("h"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(h)").as("xor_digest"),
        sum(col("h")).as("sum_digest"),
        min(col("h")).as("min_digest"),
        max(col("h")).as("max_digest"))
      .orderBy(col("grp"))
  }

  /** PII tokenization vault — the privacy pass every shared analytics
    * lake runs before data leaves the trust boundary: the PII column
    * (customer name) is replaced by a DETERMINISTIC surrogate token
    * (poly_digest-derived, so the same value always tokenizes
    * identically — referential joins keep working across tables and
    * runs), and the token ↔ original mapping lives in a separate
    * vault relation. The face emits the pseudonymized rows decorated
    * with an in-plan ROUNDTRIP certificate: re-joining the vault must
    * recover exactly the original value for every row — the "detokens
    * back losslessly" contract, hash-gated (the oracle recomputes
    * token, vault and certificate independently).
    *
    * Scale shape: tokenization is one codegen'd digest per row inside
    * the scan; the vault is a distinct over (token, value) — PII-
    * cardinality, not fact-cardinality; the certificate join is
    * token-keyed. At 100 TB the fact side never shuffles more than
    * its token column. */
  def piiVault(customer: DataFrame): DataFrame = {
    val tok = concat(lit("TOK_"),
      lpad(call_function("poly_digest", col("c_name")).cast("string"),
        10, "0"))
    val base = customer.select(col("c_custkey"), col("c_name"),
      col("c_mktsegment").as("segment"), tok.as("token"))
    val vault = base.select(col("token"), col("c_name").as("pii"))
      .distinct()
    base.join(vault, Seq("token"), "left")
      .select(col("c_custkey"), col("token"), col("segment"),
        (col("pii") === col("c_name")).as("roundtrip_ok"))
      .orderBy(col("c_custkey"))
  }

  /** IQR-fence outlier audit (the Tukey boxplot rule, the standard
    * data-profiling pass a warehouse runs per partition before
    * trusting a load): per segment, exact DISCRETE quartiles on the
    * integer cents grid, fences at Q1 − 1.5·IQR / Q3 + 1.5·IQR kept
    * EXACT by working in half-cents (2·Q1 − 3·IQR is an integer; a
    * float 1.5× would re-open the cross-engine boundary seam), and
    * the outlier count + permille per segment. Two passes: one
    * grouped percentile_disc aggregate (per-group value counts, no
    * global sort), one broadcast-fence conditional count. */
  def outlierIqr(customer: DataFrame): DataFrame = {
    val cents = customer.select(col("c_mktsegment"),
      floor(col("c_acctbal") * 100).cast("long").as("cents"))
    val fences = cents.groupBy(col("c_mktsegment"))
      .agg(
        // percentile_disc returns an ACTUAL input value, so the long
        // cast is exact (it only undoes Spark's double return type)
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY cents)")
          .cast("long").as("q1"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY cents)")
          .cast("long").as("q3"))
      .select(col("c_mktsegment"), col("q1"), col("q3"),
        (col("q3") - col("q1")).as("iqr"))
    cents.join(broadcast(fences), Seq("c_mktsegment"))
      .select(col("c_mktsegment"), col("q1"), col("q3"), col("iqr"),
        (lit(2L) * col("cents") < lit(2L) * col("q1") - lit(3L) * col("iqr")
          || lit(2L) * col("cents") > lit(2L) * col("q3") + lit(3L) * col("iqr"))
          .as("is_out"))
      .groupBy(col("c_mktsegment"))
      .agg(first(col("q1")).as("q1"), first(col("q3")).as("q3"),
        first(col("iqr")).as("iqr"), count(lit(1)).as("n"),
        sum(when(col("is_out"), 1L).otherwise(0L)).as("n_outliers"))
      .select(col("c_mktsegment"), col("q1"), col("q3"), col("iqr"),
        col("n"), col("n_outliers"),
        expr("1000 * n_outliers div n").as("outlier_permille"))
      .orderBy(col("c_mktsegment"))
  }

  /** Partition-skew audit — the layout-health report that decides
    * repartition/compact actions (one hot partition serializes every
    * downstream stage that reads it): rows per month partition,
    * per-partition permille of total, and a hot flag at 2× the mean
    * (n·P > 2·total — INTEGER cross-multiplied, no float mean). One
    * map-side-combined count per partition key + a 1-row totals
    * broadcast; the fact table shuffles only its partition-key
    * projection. */
  def skewAudit(orders: DataFrame): DataFrame = {
    val parts = orders
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date")
        .as("pmonth"))
      .agg(count(lit(1)).as("n_rows"))
    val tot = parts.agg(sum(col("n_rows")).as("total"),
      count(lit(1)).as("n_parts"))
    parts.crossJoin(broadcast(tot))
      .select(col("pmonth"), col("n_rows"),
        expr("1000 * n_rows div total").as("permille"),
        (col("n_rows") * col("n_parts") > lit(2L) * col("total"))
          .as("hot"))
      .orderBy(col("pmonth"))
  }

  /** Day-over-trailing-week volume anomaly audit — the pipeline-health
    * monitor that catches a stalled upstream feed (volume collapse) or
    * a replayed/double-delivered batch (volume spike) the morning it
    * happens: per ingest day, event count against the trailing 7-day
    * window, deviation in integer permille (|7n − Σtrail|·1000 div
    * Σtrail — all positive, so trunc and floor division agree), hot at
    * 2× the trailing mean via cross-multiplication (7n > 2Σ). Days
    * without a full 7-day history carry NULL/false — a partial
    * baseline must not alert.
    *
    * Shape: ONE corpus-scale map-side-combined day aggregate; the
    * trailing window runs over the day table only (calendar-bounded —
    * the skew-audit/date-spine precedent for single-partition windows
    * over source-cardinality aggregates). */
  def volumeAnomaly(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val trail = Window.orderBy(col("day")).rowsBetween(-7, -1)
    daily
      .withColumn("trail_days", count(lit(1)).over(trail))
      .withColumn("trail_sum", sum(col("n")).over(trail))
      .select(col("day"), col("n"),
        when(col("trail_days") === 7, col("trail_sum")).as("trail7"),
        when(col("trail_days") === 7,
          expr("1000 * abs(7 * n - trail_sum) div trail_sum"))
          .as("dev_pm"),
        (col("trail_days") === 7 &&
          col("n") * 7 > col("trail_sum") * 2).as("hot"))
      .orderBy(col("day"))
  }

  /** Feed-freshness audit — the staleness monitor that catches a dead
    * upstream feed the morning it dies (the volume-anomaly audit sees
    * a collapse only while the day still gets SOME rows; a feed that
    * stops entirely vanishes from per-day counts and needs this
    * last-seen view): per feed (event_type), the last-seen timestamp
    * against the snapshot as-of (the global max event time — the
    * load's watermark, derived, not wall-clock, so the audit is
    * deterministic and replayable), lag in whole hours, rows in the
    * trailing 3 days before as-of, and a stale alert when the feed has
    * been silent 72+ hours.
    *
    * Shape: ONE corpus-scale map-side-combined (type, day) aggregate
    * (types×days rows out — calendar-bounded), the as-of from a 1-row
    * broadcast over that aggregate (the skew-audit totals shape), then
    * a types-sized rollup. The fact table shuffles only its
    * (type, day) projection. */
  def freshness(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"), max(col("ts")).as("last_ts"))
    val asof = daily.agg(max(col("last_ts")).as("asof"))
    daily.crossJoin(broadcast(asof))
      .groupBy(col("event_type"))
      .agg(max(col("last_ts")).as("last_ts"),
        max(col("asof")).as("asof"),
        sum(col("n")).as("n_rows"),
        sum(when(datediff(to_date(col("asof")), col("day")) < 3, col("n"))
          .otherwise(0L)).as("n_last3d"))
      .withColumn("lag_us",
        unix_micros(col("asof")) - unix_micros(col("last_ts")))
      .select(col("event_type"), col("last_ts"), col("asof"),
        col("n_rows"), col("n_last3d"),
        expr("lag_us div 3600000000").as("lag_hours"),
        (col("lag_us") >= lit(72L * 3600000000L)).as("stale"))
      .orderBy(col("event_type"))
  }

  /** Late-arriving-dimension handling (Kimball's "inferred members"):
    * facts referencing a dimension key the dimension does not carry
    * yet must not be dropped or nulled — the warehouse inserts a
    * PLACEHOLDER dimension row per missing key and backfills when the
    * real row lands. This face emits exactly those inferred rows:
    * key, the 'INFERRED' placeholder name, the fact evidence (row
    * count, first/last seen date) the backfill job uses. The late
    * slice is simulated deterministically (custkey % 97 = 0 withheld
    * from the dim — the withSyntheticPii fixture-in-operator
    * pattern), so the face has rows at every SF and both engines
    * derive the identical slice.
    *
    * Shape: one key-shuffled left-anti join (broadcast here — the dim
    * is AQE-small; key-shuffled at scale) + one map-side-combined
    * per-key rollup, output = |missing keys|. */
  def inferredDim(orders: DataFrame, customer: DataFrame): DataFrame = {
    val dim = customer.filter(col("c_custkey") % 97 =!= 0)
      .select(col("c_custkey"))
    orders.select(col("o_custkey"), col("o_orderdate"))
      .join(dim, col("o_custkey") === col("c_custkey"), "left_anti")
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("n_facts"),
        min(to_date(col("o_orderdate"))).as("first_seen"),
        max(to_date(col("o_orderdate"))).as("last_seen"))
      .select(col("c_custkey"), lit("INFERRED").as("c_name"),
        col("n_facts"), col("first_seen"), col("last_seen"))
      .orderBy(col("c_custkey"))
  }

  // -- CNPJ-style mod-11 check-digit validation ----------------------------

  /** Weighted mod-11 check digit over the first `ws.length` digits of
    * string column/expression `s` — the Receita Federal registry rule
    * (CNPJ shown; CPF differs only in weights). dv = 0 when
    * (Σ dᵢ·wᵢ) mod 11 < 2, else 11 − that remainder. ONE generator
    * emits the arithmetic for BOTH engines (the etl_zorder
    * one-arithmetic-two-engines discipline) — SUBSTR, CAST and % are
    * dialect-shared. */
  private[graft] def dvSql(s: String, ws: Seq[Int]): String = {
    val sum = ws.zipWithIndex.map { case (w, i) =>
      s"CAST(SUBSTR($s, ${i + 1}, 1) AS BIGINT) * $w" }.mkString(" + ")
    s"CASE WHEN ($sum) % 11 < 2 THEN 0 ELSE 11 - ($sum) % 11 END"
  }
  private[graft] val Dv1Weights = Seq(5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2)
  private[graft] val Dv2Weights = Seq(6, 5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2)

  /** Registry check-digit audit — the domain validation the
    * reference's own data (Receita Federal public registries) is
    * universally subjected to before a load is trusted: every CNPJ
    * carries two weighted mod-11 check digits, and a corrupted
    * extract (truncation, column shift, encoding damage) is caught by
    * recomputing them from the number alone. The fixture-in-operator
    * pattern synthesizes a 14-digit registry number per customer
    * (base = zero-padded custkey, both digits computed correctly) and
    * CORRUPTS the second check digit of every 7th key, so both
    * engines derive the identical planted-invalid slice at every SF.
    * The validator path is independent of the construction path: it
    * re-derives both digits from the number's first 12/13 digits —
    * exactly what a production gate does to an arriving feed.
    *
    * Scale shape: ~25 SUBSTR/multiply ops per row inside whole-stage
    * codegen, then ONE map-side-combined segment rollup — the
    * dq-audit cost model (the scan is the price, never a wide
    * shuffle). */
  def checkDigitAudit(customer: DataFrame): DataFrame =
    customer
      .select(col("c_custkey"),
        when(col("c_custkey") % 2 === 0, "PAR").otherwise("IMPAR")
          .as("segmento"),
        expr("LPAD(CAST(c_custkey % 1000000000000 AS STRING), 12, '0')")
          .as("base12"))
      .withColumn("dv1", expr(dvSql("base12", Dv1Weights)))
      .withColumn("s13", concat(col("base12"), col("dv1").cast("string")))
      .withColumn("dv2", expr(dvSql("s13", Dv2Weights)))
      .withColumn("cnpj", concat(col("s13"),
        when(col("c_custkey") % 7 === 0, (col("dv2") + 1) % 10)
          .otherwise(col("dv2")).cast("string")))
      .withColumn("vdv1", expr(dvSql("SUBSTR(cnpj, 1, 12)", Dv1Weights)))
      .withColumn("vdv2", expr(dvSql("SUBSTR(cnpj, 1, 13)", Dv2Weights)))
      .withColumn("valid",
        expr("CAST(SUBSTR(cnpj, 13, 1) AS BIGINT)") === col("vdv1") &&
          expr("CAST(SUBSTR(cnpj, 14, 1) AS BIGINT)") === col("vdv2"))
      .groupBy(col("segmento"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("valid"), 1L).otherwise(0L)).as("n_valid"),
        sum(when(!col("valid"), 1L).otherwise(0L)).as("n_invalid"))
      .orderBy(col("segmento"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // registry check-digit audit over the synthesized CNPJ column
    "etl_check_digit" -> ((s, dir) =>
      checkDigitAudit(Tables.load(s, dir, "customer"))),
    // -- full referential-integrity map (six FK edges, orphan census) -----
    "etl_fk_orphans" -> ((s, dir) => fkOrphans(s, dir)),
    "etl_inferred_dim" -> ((s, dir) =>
      inferredDim(Tables.load(s, dir, "orders"),
        Tables.load(s, dir, "customer"))),
    "etl_freshness" -> ((s, dir) =>
      freshness(Tables.load(s, dir, "events"))),
    "etl_volume_anomaly" -> ((s, dir) =>
      volumeAnomaly(Tables.load(s, dir, "events"))),
    "etl_skew_audit" -> ((s, dir) =>
      skewAudit(Tables.load(s, dir, "orders"))),
    "etl_outlier_iqr" -> ((s, dir) =>
      outlierIqr(Tables.load(s, dir, "customer"))),
    "etl_row_checksum" -> ((s, dir) =>
      rowChecksum(Tables.load(s, dir, "orders"))),
    "etl_pii_vault" -> ((s, dir) =>
      piiVault(Tables.load(s, dir, "customer"))),
    // -- k-anonymity release with a fixed generalization ladder ------------
    "etl_k_anon" -> ((s, dir) =>
      kAnonymize(Tables.load(s, dir, "customer"))),

    // -- LOCF forward-fill over deterministically masked telemetry --------
    "etl_gapfill" -> ((s, dir) => gapFill(Tables.load(s, dir, "events"))),

    // -- data-quality constraint suite over the warehouse load -------------
    "etl_dq_audit" -> ((s, dir) =>
      dqAudit(Tables.load(s, dir, "customer"), Tables.load(s, dir, "orders"),
        Tables.load(s, dir, "lineitem"))),

    // -- trim + empty→NULL + parity segment (script.py:53-61) -------------
    "etl_clean" -> { (s, dir) =>
      cleaned(s, dir)
        .select(col("codigo"), col("descricao"), col("segmento"))
        .orderBy(col("codigo"))
    },

    // -- CASE-WHEN segment classification + aggregation -------------------
    "etl_conditional_agg" -> { (s, dir) =>
      cleaned(s, dir)
        .groupBy(col("segmento"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("descricao").isNull, 1L).otherwise(0L))
            .as("n_null_desc"),
          sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double")
            .as("total_bal"))
        .orderBy(col("segmento"))
    },

    // -- per-layer audit counts as ONE distributed aggregation ------------
    // (reference monitor.py:38-121 loops files driver-side with pandas;
    // here each table contributes a single agg row, unioned)
    "etl_monitor_counts" -> { (s, dir) =>
      Monitor.audit(Seq(
        (Tables.load(s, dir, "customer"), "customer", "c_custkey", "c_name"),
        (Tables.load(s, dir, "orders"), "orders", "o_orderkey", "o_orderpriority"),
        (Tables.load(s, dir, "lineitem"), "lineitem", "l_orderkey", "l_returnflag")))
    },

    // -- medallion roundtrip: clean → trusted CSV(+BOM) → refined parquet --
    // Format fidelity is the point, and it is FULL-oracle checked: the
    // roundtrip must be lossless, so the refined read-back hash-matches
    // the etl_clean oracle (schema-enforced reads, single-file pipe CSV
    // with header + UTF-8 BOM, doubled-quote contract, snappy parquet).
    "etl_csv_roundtrip" -> { (s, dir) =>
      val sfName = dir.replaceAll(".*/", "")
      val root = s"$roundtripRoot/$sfName"
      val trustedDir = s"$root/trusted"
      val refinedDir = s"$root/refined"
      val df = cleaned(s, dir)
        .select(col("codigo"), col("descricao"), col("segmento"))
      Sinks.writeSingleCsv(df, trustedDir)
      Medallion.trustedToRefined(s, trustedDir, refinedDir, trustedSchema)
      s.read.parquet(refinedDir).orderBy(col("codigo"))
    },

    // -- the reference's ACTUAL ingest, end-to-end ------------------------
    // ZIP landing (scraping.py:55-77) → distributed unzip → iso-8859-1
    // decode (scraping.py:95-109) → utf-8 raw CSV → schema-enforced
    // rawOptions read + clean → trusted pipe CSV → refined parquet
    // (script.py:40-72, transform.py). FULL-oracle checked: the oracle
    // rebuilds the fixture relationally from `customer`.
    "etl_raw_roundtrip" -> { (s, dir) =>
      val sfName = dir.replaceAll(".*/", "")
      val root = s"$roundtripRoot/$sfName/rawrt"
      val zip = writeFixtureZip(s, dir, s"$root/landing")
      val decoded = Landing.decodeText(
        Landing.unzipEntries(Landing.readBinary(s, zip)))
      val rawDir = s"$root/raw"
      decoded.select(col("text")).coalesce(1)
        .write.mode("overwrite").text(rawDir)
      Medallion.rawToTrusted(s, rawDir, s"$root/trusted", rawSchema, "codigo")
      Medallion.trustedToRefined(
        s, s"$root/trusted", s"$root/refined",
        Medallion.trustedSchemaOf(rawSchema))
      s.read.parquet(s"$root/refined").orderBy(col("codigo"))
    },

    // -- the reference's acquisition path as a gated key -------------------
    // HTML-index discovery + download through the pluggable transport
    // (reference: src/utils/scraping.py:24-101) land the archive —
    // file:// fixtures here, an HTTP client in deployments — then the
    // SAME distributed chain as etl_raw_roundtrip (unzip → charset
    // decode → raw → trusted → refined) runs on the landed bytes.
    // Shares that key's oracle: a green hash proves the acquisition
    // seam changes NOTHING about the data. A decoy anchor and
    // attribute noise in the index exercise the discovery walk.
    "etl_acquire" -> { (s, dir) =>
      val sfName = dir.replaceAll(".*/", "")
      val root = s"$roundtripRoot/$sfName/acquire"
      val zip = writeFixtureZip(s, dir, s"$root/remote")
      val remote = java.nio.file.Paths.get(zip).getParent
      java.nio.file.Files.write(remote.resolve("index.html"),
        ("<html><body><a href=\"Empresas.zip\">decoy</a>\n" +
          "<a class='x' href='cnaes.zip'>cnaes</a></body></html>")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val landed = Landing.acquireArchive(Landing.urlFetch,
        s"file://$remote/index.html", "cnaes.zip", s"$root/landing")
      require(landed.nonEmpty, "acquire: target absent from the index")
      val decoded = Landing.decodeText(
        Landing.unzipEntries(Landing.readBinary(s, s"$root/landing/*.zip")))
      val rawDir = s"$root/raw"
      decoded.select(col("text")).coalesce(1)
        .write.mode("overwrite").text(rawDir)
      Medallion.rawToTrusted(s, rawDir, s"$root/trusted", rawSchema, "codigo")
      Medallion.trustedToRefined(
        s, s"$root/trusted", s"$root/refined",
        Medallion.trustedSchemaOf(rawSchema))
      s.read.parquet(s"$root/refined").orderBy(col("codigo"))
    },

    // -- JSONL sink/source losslessness, FULL-oracle checked ---------------
    // The trusted CSV leg is rows-only (format fidelity); JSONL is
    // lossless for long/string, so the roundtrip read can hash-match
    // the etl_clean oracle directly — sink+schema-enforced source are
    // on the correctness gate, not just exercised. Nulls are omitted
    // by the writer and restored by the schema read (same contract as
    // a 100 TB JSONL landing zone). coalesce(1) is fixture-size only;
    // production writes stay one-file-per-partition.
    "etl_jsonl_roundtrip" -> { (s, dir) =>
      val sfName = dir.replaceAll(".*/", "")
      val jsonlDir = s"$roundtripRoot/$sfName/jsonl"
      cleaned(s, dir)
        .select(col("codigo"), col("descricao"), col("segmento"))
        .coalesce(1)
        .write.mode("overwrite").json(jsonlDir)
      s.read.schema(trustedSchema).json(jsonlDir).orderBy(col("codigo"))
    },

    // -- ORC sink/source losslessness, FULL-oracle checked -----------------
    // The other columnar lake format Spark ships natively. Same
    // contract as the JSONL leg: lossless for long/string, so the
    // roundtrip read hash-matches the etl_clean oracle — sink, schema
    // read, and the format's NULL handling are all on the gate.
    "etl_orc_roundtrip" -> { (s, dir) =>
      val sfName = dir.replaceAll(".*/", "")
      val orcDir = s"$roundtripRoot/$sfName/orc"
      cleaned(s, dir)
        .select(col("codigo"), col("descricao"), col("segmento"))
        .write.mode("overwrite").option("compression", "zstd").orc(orcDir)
      s.read.schema(trustedSchema).orc(orcDir).orderBy(col("codigo"))
    },

    // -- XML sink + schema-enforced source losslessness --------------------
    // Spark 4's built-in XML data source (the spark-xml donation) —
    // the interchange format government/legacy feeds actually ship.
    // Same contract as the JSONL face: the writer omits NULL fields,
    // the schema-enforced reader restores them, and the roundtrip
    // hash-matches the etl_clean oracle. Not a lake format — an
    // EXCHANGE format; the scale note is that read/write are still
    // per-file parallel like any text source.
    "etl_xml_roundtrip" -> { (s, dir) =>
      val sfName = dir.replaceAll(".*/", "")
      val xmlDir = s"$roundtripRoot/$sfName/xml"
      cleaned(s, dir)
        .select(col("codigo"), col("descricao"), col("segmento"))
        .write.mode("overwrite").option("rowTag", "registro")
        .format("xml").save(xmlDir)
      s.read.option("rowTag", "registro").schema(trustedSchema)
        .format("xml").load(xmlDir).orderBy(col("codigo"))
    },

    // -- SCD-1 upsert: snapshot + changeset → merged state, FULL oracle ----
    // The changeset is derived deterministically from the snapshot
    // (updates: every 10th key gets an uppercased name and +100
    // balance; inserts: every 97th≡3 key re-keyed past the id space),
    // so DuckDB can rebuild the exact merge result relationally. The
    // +100 on a double is IEEE-exact on both engines.
    "etl_upsert" -> { (s, dir) =>
      val snap = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val updates = snap.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), upper(col("c_name")).as("c_name"),
          (col("c_acctbal") + 100).as("c_acctbal"))
      val inserts = snap.filter(col("c_custkey") % 97 === 3)
        .select((col("c_custkey") + 1000000).as("c_custkey"),
          concat(col("c_name"), lit(" NEW")).as("c_name"),
          lit(0.0).as("c_acctbal"))
      Medallion.upsert(snap, updates.unionAll(inserts), "c_custkey")
        .orderBy(col("c_custkey"))
    },

    // -- partitioned lake write + partition-pruned read, FULL oracle -------
    // The 100 TB access pattern: facts land partitioned by day; a
    // day-scoped query must touch ONE partition's files, not the table.
    // The read-back filter compiles to a catalog-level PartitionFilter
    // (asserted in SqlSurfaceSpec) and the day's aggregate is
    // hash-checked against DuckDB recomputing from the raw table.
    "etl_partitioned_write" -> { (s, dir) =>
      val sfName = dir.replaceAll(".*/", "")
      val pdir = s"$roundtripRoot/$sfName/events_by_day"
      // Sinks.writeParquet rebalances on the partition column first —
      // one file per day instead of tasks × days (the sf1 file storm)
      Sinks.writeParquet(Tables.load(s, dir, "events")
        .withColumn("day", to_date(col("ts"))), pdir, Seq("day"))
      s.read.parquet(pdir)
        .filter(col("day") === lit("2024-01-15").cast("date"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double")
            .as("total_value"))
        .orderBy(col("event_type"))
    },

    // -- schema evolution: mixed-epoch parquet under one mergeSchema read --
    // The lake reality at 100 TB: files written before a column existed
    // sit next to files written after. Epoch-1 files (odd codigo) carry
    // (codigo, descricao); epoch-2 files (even codigo) add segmento.
    // A mergeSchema read unions the footers and backfills NULL for
    // pre-evolution rows — hash-checked against the oracle's CASE
    // reconstruction. (mergeSchema costs a footer-read per file; at
    // scale pin the merged schema in a catalog and pass it explicitly —
    // the read path below is the same either way.)
    "etl_schema_evolution" -> { (s, dir) =>
      val sfName = dir.replaceAll(".*/", "")
      val root = s"$roundtripRoot/$sfName/schema_evo"
      val base = cleaned(s, dir)
      base.filter(col("codigo") % 2 === 1)
        .select(col("codigo"), col("descricao"))
        .write.mode("overwrite").parquet(root)
      base.filter(col("codigo") % 2 === 0)
        .select(col("codigo"), col("descricao"), col("segmento"))
        .write.mode("append").parquet(root)
      s.read.option("mergeSchema", "true").parquet(root)
        .select(col("codigo"), col("descricao"), col("segmento"))
        .orderBy(col("codigo"))
    },

    // -- small-file compaction with bit-for-bit identity oracle ------------
    // Manufacture the landing-zone pathology (the events table shredded
    // into 50 tiny files), compact to size-targeted files, and return
    // the compacted read — the oracle hash-checks every row against the
    // original table, so compaction is provably content-preserving.
    // File-count reduction is asserted in MedallionSpec.
    "etl_compact" -> { (s, dir) =>
      val sfName = dir.replaceAll(".*/", "")
      val root = s"$roundtripRoot/$sfName/compact"
      Tables.load(s, dir, "events")
        .repartition(50)
        .write.mode("overwrite").parquet(s"$root/small")
      Sinks.compact(s, s"$root/small", s"$root/big")
      s.read.parquet(s"$root/big").orderBy(col("event_id"))
    },

    // -- schema-enforced read with corrupt-row quarantine ------------------
    // The reference ingests dirty public CSV under an enforced schema
    // (script.py:40-52); real files carry rows that don't parse. The
    // fixture plants three malformation families deterministically
    // (%37: extra columns, %41: unparseable long, %43: missing column)
    // and the PERMISSIVE quarantine read must (a) keep every parseable
    // field of a bad row, (b) tag exactly the planted rows — the oracle
    // rebuilds the good/bad split relationally, so a read that dropped,
    // died on, or mis-tagged rows fails the hash. Sort key starts with
    // coalesce(codigo, -1) because the bad-long family NULLs codigo and
    // the engines disagree on default NULL placement.
    "etl_bad_records" -> { (s, dir) =>
      val sfName = dir.replaceAll(".*/", "")
      val rawDir = s"$roundtripRoot/$sfName/bad_records/raw"
      Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("id"),
          col("c_name").as("name"))
        .select(
          when(col("id") % 37 === 0,
            concat_ws(";", col("id"), col("name"), lit("EXTRA"), lit("COLS")))
            .when(col("id") % 41 === 0,
              concat_ws(";", lit("not_a_number"), col("name")))
            .when(col("id") % 43 === 0, col("id").cast("string"))
            .otherwise(concat_ws(";", col("id"), col("name"))).as("value"))
        .coalesce(1).write.mode("overwrite").text(rawDir)
      CsvIngest.readQuarantine(s, rawDir, rawSchema)
        .select(col("codigo"), col("descricao"),
          when(col(CsvIngest.CorruptCol).isNotNull, "quarantined")
            .otherwise("ok").as("status"))
        .orderBy(coalesce(col("codigo"), lit(-1L)), col("descricao"))
    },

    // -- run ledger: per-run per-layer audit rows --------------------------
    // monitor.py:123-164 writes UUID-keyed rows with start/end
    // timestamps per layer per run; Medallion.auditedRun is the engine
    // version. Two audited raw→trusted→refined runs append to the
    // ledger table; run id and clock are injected deterministically so
    // DuckDB enumerates the exact ledger (row counts are recomputed
    // from customer — a miscounted layer fails the hash).
    "etl_run_ledger" -> { (s, dir) =>
      val sfName = dir.replaceAll(".*/", "")
      val root = s"$roundtripRoot/$sfName/ledger"
      val tbl = s"graft_run_ledger_${sfName.replace('.', '_')}"
      freshManagedTable(s, tbl)
      Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long"), col("c_name"))
        .coalesce(1).write.mode("overwrite")
        .options(Map("delimiter" -> ";", "header" -> "false"))
        .csv(s"$root/raw")
      val tick = new java.util.concurrent.atomic.AtomicInteger(0)
      val clock = () => f"2024-06-01T00:00:${tick.incrementAndGet()}%02dZ"
      Seq("run-1", "run-2").foreach { uid =>
        Medallion.auditedRun(s, uid, "graft", s"$root/raw",
          s"$root/trusted", s"$root/refined", rawSchema, "codigo",
          tbl, clock)
      }
      s.table(tbl).orderBy(col("dt_start"))
    },

    // -- catalog load: truncate-write into a named governed table ----------
    // load_bq.py:13-73's one-call face: schema-autodetected
    // truncate-write + post-load row-count/schema audit keyed off the
    // run ledger. A STALE first load (the previous day's partial
    // extract) precedes the gated one — truncate semantics demand its
    // rows vanish, so any append/merge misbehavior changes the row set
    // and fails the hash. The output is the table read back FROM THE
    // CATALOG carrying the load's ledger receipt (uid, rows, start/
    // end), all deterministic (injected clock), so DuckDB rebuilds it
    // relationally from customer.
    "etl_catalog_load" -> { (s, dir) =>
      val suffix = dir.replaceAll(".*/", "").replace('.', '_')
      val tbl = s"graft_catalog_$suffix"
      val audit = s"graft_catalog_audit_$suffix"
      Seq(tbl, audit).foreach(freshManagedTable(s, _))
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("id"),
          col("c_name").as("name"),
          when(col("c_custkey") % 2 === 0, "PAR").otherwise("IMPAR")
            .as("segmento"))
      val tick = new java.util.concurrent.atomic.AtomicInteger(0)
      val clock = () => f"2024-06-01T00:00:${tick.incrementAndGet()}%02dZ"
      Medallion.catalogLoad(s, cust.filter(col("id") % 3 === 0), tbl,
        audit, "load-1", "graft", clock)
      val loaded = Medallion.catalogLoad(s, cust, tbl, audit, "load-2",
        "graft", clock)
      val receipt = s.table(audit).filter(col("uid") === "load-2")
        .select(col("uid").as("load_uid"),
          col("qtd_rows").as("loaded_rows"),
          col("dt_start"), col("dt_end"))
      // 1-row receipt broadcast onto the table rows (the skew-audit
      // totals shape)
      loaded.crossJoin(broadcast(receipt)).orderBy(col("id"))
    },

    // -- DAG runner with ledger-receipted resume ---------------------------
    // dag.py:45-167's task graph (download→transform→bom→refine→load
    // with per-step monitoring) as a deterministic topological runner:
    // per-step ledger rows, resume-from-failed-step. The gated face
    // ARMS a one-shot fault in the refine step: run-1 completes
    // raw+trusted then dies; run-2 resumes off the ledger receipts,
    // skips the finished layers, and completes refine+load. Output =
    // the full ledger (two uids, four steps, injected clock) plus the
    // final loaded table's row count carried on every row — a resume
    // that re-ran a finished step, skipped a pending one, or converged
    // to different layer contents fails the hash.
    "etl_dag_resume" -> { (s, dir) =>
      val suffix = dir.replaceAll(".*/", "").replace('.', '_')
      val root = s"$roundtripRoot/${dir.replaceAll(".*/", "")}/dag"
      val ledger = s"graft_dag_ledger_$suffix"
      val outTbl = s"graft_dag_out_$suffix"
      Seq(ledger, outTbl).foreach(freshManagedTable(s, _))
      val tick = new java.util.concurrent.atomic.AtomicInteger(0)
      val clock = () => f"2024-06-01T00:00:${tick.incrementAndGet()}%02dZ"
      val refineFault = new java.util.concurrent.atomic.AtomicBoolean(true)
      def steps: Seq[graft.pipeline.Dag.Step] = {
        def rawStep = graft.pipeline.Dag.Step("a_raw", Nil, () => {
          Tables.load(s, dir, "customer")
            .select(col("c_custkey").cast("long"), col("c_name"))
            .coalesce(1).write.mode("overwrite")
            .options(Map("delimiter" -> ";", "header" -> "false"))
            .csv(s"$root/raw")
          (1L, Tables.load(s, dir, "customer").count())
        })
        def trustedStep = graft.pipeline.Dag.Step("b_trusted",
          Seq("a_raw"), () => {
            Medallion.rawToTrusted(s, s"$root/raw", s"$root/trusted",
              rawSchema, "codigo")
            (1L, CsvIngest.read(s, s"$root/trusted", trustedSchema,
              CsvIngest.trustedOptions).count())
          })
        def refineStep = graft.pipeline.Dag.Step("c_refined",
          Seq("b_trusted"), () => {
            if (refineFault.getAndSet(false))
              throw new RuntimeException("injected refine fault")
            Medallion.trustedToRefined(s, s"$root/trusted",
              s"$root/refined", trustedSchema)
            val refined = s.read.parquet(s"$root/refined")
            (refined.inputFiles.length.toLong, refined.count())
          })
        def loadStep = graft.pipeline.Dag.Step("d_load",
          Seq("c_refined"), () => {
            val refined = s.read.parquet(s"$root/refined")
            Medallion.loadWarehouse(refined, outTbl)
            (1L, s.table(outTbl).count())
          })
        Seq(rawStep, trustedStep, refineStep, loadStep)
      }
      // run-1: dies at the armed refine step with raw+trusted receipted
      val died =
        try {
          graft.pipeline.Dag.run(s, steps, ledger, "run-1", "graft_dag",
            clock)
          false
        } catch {
          case e: RuntimeException
              if e.getMessage == "injected refine fault" => true
        }
      require(died, "the armed refine fault did not fire")
      // run-2: resumes off the ledger, runs only refine+load
      graft.pipeline.Dag.run(s, steps, ledger, "run-2", "graft_dag", clock)
      val outRows = s.table(outTbl).count()
      s.table(ledger)
        .select(col("uid"), col("step"), col("qtd_rows"),
          col("dt_start"), col("dt_end"),
          lit(outRows).as("final_rows"))
        .orderBy(col("step"))
    },

    // -- composed daily-ingest pipeline ------------------------------------
    // The ETL-side counterpart of pipeline_corpus: one lineage through
    // four individually-gated operators — (1) PERMISSIVE quarantine
    // read of a dirty CSV drop (etl_bad_records' planted malformation
    // families), (2) the reference clean (trim → empty→NULL → parity
    // segment, etl_clean), (3) incremental new-vs-known verdict
    // against the warehouse store via a real key join
    // (dedup_incremental's shape on the natural key), (4) per-(status,
    // segment, is_new) load summary. The oracle restates the entire
    // composition — malformation split, clean, store join, rollup — in
    // one statement, so a regression ANYWHERE in the chain fails one
    // hash. Scale shape: quarantine read and clean are scan-time
    // projections; the store join is an equi-join on the natural key
    // (AQE-broadcast when the day's batch is small); the summary is a
    // tiny map-side-combined rollup.
    "pipeline_ingest" -> { (s, dir) =>
      val sfName = dir.replaceAll(".*/", "")
      val rawDir = s"$roundtripRoot/$sfName/pipeline_ingest/raw"
      Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("id"),
          col("c_name").as("name"))
        .select(
          when(col("id") % 37 === 0,
            concat_ws(";", col("id"), col("name"), lit("EXTRA"), lit("COLS")))
            .when(col("id") % 41 === 0,
              concat_ws(";", lit("not_a_number"), col("name")))
            .when(col("id") % 43 === 0, col("id").cast("string"))
            .otherwise(concat_ws(";", col("id"), col("name"))).as("value"))
        .coalesce(1).write.mode("overwrite").text(rawDir)
      // materialize the quarantine read ONCE before filtering on the
      // corrupt column: Spark re-parses per consumer with a pruned
      // schema, and a corrupt-col filter + other-field projection over
      // the raw source drops the bad rows' parseable fields (the
      // documented _corrupt_record query limitation). The checkpoint
      // is also the operational shape — a quarantine audit persists
      // the parse verdicts, it doesn't re-read the raw file per query.
      val parsed = CsvIngest.readQuarantine(s, rawDir, rawSchema)
        .localCheckpoint(true)
      val clean = Cleaning.referenceClean(
        parsed.filter(col(CsvIngest.CorruptCol).isNull)
          .select(col("codigo"), col("descricao")), "codigo")
      val store = Tables.load(s, dir, "customer")
        .filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey").cast("long").as("hist_id"))
      val okSummary = clean
        .join(store, col("codigo") === col("hist_id"), "left_outer")
        .groupBy(col("segmento"), col("hist_id").isNull.as("is_new"))
        .agg(count(lit(1)).as("n"),
          min(col("codigo")).as("min_codigo"),
          max(col("codigo")).as("max_codigo"))
        .select(lit("ok").as("status"), col("segmento"), col("is_new"),
          col("n"), col("min_codigo"), col("max_codigo"))
      val badSummary = parsed
        .filter(col(CsvIngest.CorruptCol).isNotNull)
        .agg(count(lit(1)).as("n"),
          min(col("codigo")).as("min_codigo"),
          max(col("codigo")).as("max_codigo"))
        .select(lit("quarantined").as("status"), lit("NONE").as("segmento"),
          lit(false).as("is_new"), col("n"),
          col("min_codigo"), col("max_codigo"))
      okSummary.unionByName(badSummary)
        .orderBy(col("status"), col("segmento"), col("is_new"))
    },

    // -- in-flight metrics via the Observation API -------------------------
    // Spark-native monitoring: observe() aggregates accumulate DURING
    // the clean pass itself — no second scan, unlike the reference's
    // monitor.py which re-queries every layer it audits. The metrics
    // row becomes the result; the oracle recomputes each number from
    // the fixture relationally, so a metric that drifted from the data
    // it claims to describe fails the hash. A fresh Observation per
    // invocation (they are one-shot by design).
    "etl_observe" -> { (s, dir) =>
      val obs = new org.apache.spark.sql.Observation(
        s"ingest_${java.util.UUID.randomUUID}")
      val df = cleaned(s, dir).observe(obs,
        count(lit(1)).as("n_rows"),
        sum(when(col("descricao").isNull, 1L).otherwise(0L))
          .as("n_null_desc"),
        count(when(col("segmento") === "PRIMARIO", 1)).as("n_primario"),
        min(col("codigo")).as("min_codigo"),
        max(col("codigo")).as("max_codigo"))
      df.write.format("noop").mode("overwrite").save()
      val m = obs.get
      import s.implicits._
      Seq((m("n_rows").asInstanceOf[Long],
        m("n_null_desc").asInstanceOf[Long],
        m("n_primario").asInstanceOf[Long],
        m("min_codigo").asInstanceOf[Long],
        m("max_codigo").asInstanceOf[Long]))
        .toDF("n_rows", "n_null_desc", "n_primario",
          "min_codigo", "max_codigo")
    },

    // -- semi-structured extraction: JSON property column ------------------
    // The events table carries a JSON `props` string (the usual shape of
    // landed clickstream/telemetry data). get_json_object is a
    // codegen'd path expression — extraction stays a pure per-row
    // projection; the only shuffle is the tiny groupBy. At 100 TB the
    // right move is extract-once-then-drop-the-raw-string, which is
    // exactly this plan's shape.
    "etl_json_props" -> { (s, dir) =>
      Tables.load(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    },

    // -- semi-structured extraction, Spark-4 VARIANT path ------------------
    // parse_json parses the string ONCE into the binary-encoded VARIANT
    // form; every subsequent variant_get is a cheap typed walk of that
    // encoding. get_json_object (above) re-parses the raw string per
    // extracted path — fine for one field, quadratic waste when a
    // pipeline extracts many. At 100 TB the parse-once shape (and,
    // downstream, columnar variant shredding) is the right default for
    // landed telemetry. The key proves the full surface: typed long
    // extraction, type-coerced string extraction of the SAME field,
    // and a missing path returning NULL per row via try_variant_get.
    "etl_variant_extract" -> { (s, dir) =>
      Tables.load(s, dir, "events")
        .select(col("event_type"), parse_json(col("props")).as("v"))
        .select(col("event_type"),
          expr("variant_get(v, '$.k', 'long')").as("k"),
          expr("variant_get(v, '$.k', 'string')").as("k_str"),
          expr("try_variant_get(v, '$.j', 'long')").as("j"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          sum(length(col("k_str"))).cast("long").as("len_k_str"),
          sum(when(col("j").isNull, 1L).otherwise(0L)).as("n_j_null"))
        .orderBy(col("event_type"))
    }
  )

  def oracleSql: Map[String, String] = {
    val messy =
      """SELECT c_custkey AS codigo,
        |  CASE WHEN c_custkey % 10 = 0 THEN '  '
        |       WHEN c_custkey % 7 = 0 THEN '  ' || c_name || '  '
        |       ELSE c_name END AS descricao,
        |  c_acctbal
        |FROM customer""".stripMargin
    // per-edge orphan census replayed as six LEFT JOIN aggregates; the
    // CASE-based distinct drops non-orphans exactly like the face's
    // null-excluding countDistinct
    def fkEdgeSql(rel: String, child: String, key: String,
        parent: String, pkey: String): String =
      s"""SELECT '$rel' AS relation, COUNT(*) AS n_child,
         |  CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_orphan,
         |  COUNT(DISTINCT CASE WHEN p.k IS NULL THEN c.$key END)
         |    AS n_missing_parents
         |FROM $child c LEFT JOIN
         |  (SELECT DISTINCT $pkey AS k FROM $parent) p ON c.$key = p.k
         |""".stripMargin
    val fkOrphansSql = Seq(
      fkEdgeSql("customer.nationkey", "customer", "c_nationkey",
        "nation", "n_nationkey"),
      fkEdgeSql("lineitem.orderkey", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      fkEdgeSql("lineitem.partkey", "lineitem", "l_partkey",
        "part", "p_partkey"),
      fkEdgeSql("lineitem.suppkey", "lineitem", "l_suppkey",
        "supplier", "s_suppkey"),
      fkEdgeSql("orders.custkey", "orders", "o_custkey",
        "customer", "c_custkey"),
      fkEdgeSql("supplier.nationkey", "supplier", "s_nationkey",
        "nation", "n_nationkey"),
    ).mkString("", "UNION ALL\n", "ORDER BY relation")
    Map(
      "etl_fk_orphans" -> fkOrphansSql,
      // the same dvSql generator emits the mod-11 arithmetic for both
      // engines (only the string-cast keyword differs); construction,
      // planted corruption (%7), independent revalidation and the
      // segment rollup all replay relationally
      "etl_check_digit" -> {
        val base = "LPAD(CAST(c_custkey % 1000000000000 AS VARCHAR), " +
          "12, '0')"
        s"""WITH b AS (
           |  SELECT c_custkey,
           |    CASE WHEN c_custkey % 2 = 0 THEN 'PAR' ELSE 'IMPAR' END
           |      AS segmento,
           |    $base AS base12 FROM customer),
           |d1 AS (SELECT *, ${dvSql("base12", Dv1Weights)} AS dv1 FROM b),
           |d2 AS (SELECT *, base12 || CAST(dv1 AS VARCHAR) AS s13
           |       FROM d1),
           |d3 AS (SELECT *, ${dvSql("s13", Dv2Weights)} AS dv2 FROM d2),
           |c AS (SELECT *, s13 || CAST(CASE WHEN c_custkey % 7 = 0
           |        THEN (dv2 + 1) % 10 ELSE dv2 END AS VARCHAR) AS cnpj
           |      FROM d3),
           |v AS (SELECT segmento, cnpj,
           |    ${dvSql("SUBSTR(cnpj, 1, 12)", Dv1Weights)} AS vdv1,
           |    ${dvSql("SUBSTR(cnpj, 1, 13)", Dv2Weights)} AS vdv2
           |  FROM c)
           |SELECT segmento, COUNT(*) AS n,
           |  CAST(SUM(CASE WHEN CAST(SUBSTR(cnpj, 13, 1) AS BIGINT) = vdv1
           |    AND CAST(SUBSTR(cnpj, 14, 1) AS BIGINT) = vdv2
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
           |  CAST(SUM(CASE WHEN CAST(SUBSTR(cnpj, 13, 1) AS BIGINT) = vdv1
           |    AND CAST(SUBSTR(cnpj, 14, 1) AS BIGINT) = vdv2
           |    THEN 0 ELSE 1 END) AS BIGINT) AS n_invalid
           |FROM v GROUP BY segmento ORDER BY segmento""".stripMargin
      },
      // the oracle is a FULL INDEPENDENT RECOMPUTATION of the digests
      // (LIST_REDUCE polynomial fold over the same canonical string),
      // so hash equality here is the actual migration-validation
      // demonstration: two engines, one fingerprint
      "etl_row_checksum" ->
        """WITH c AS (
          |  SELECT o_orderpriority AS grp,
          |    LIST_REDUCE(LIST_PREPEND(CAST(888888883 AS BIGINT),
          |      LIST_TRANSFORM(STRING_SPLIT(
          |        CAST(o_orderkey AS VARCHAR) || '|' ||
          |        CAST(o_custkey AS VARCHAR) || '|' ||
          |        o_orderstatus || '|' ||
          |        CAST(CAST(FLOOR(o_totalprice * 100) AS BIGINT)
          |          AS VARCHAR) || '|' ||
          |        CAST(CAST(o_orderdate AS DATE) AS VARCHAR) || '|' ||
          |        o_orderpriority, ''),
          |        ch -> CAST(UNICODE(ch) AS BIGINT))),
          |      (acc, x) -> (acc * 31 + x) % 1000000007) AS h
          |  FROM orders)
          |SELECT grp, COUNT(*) AS n_rows,
          |  CAST(BIT_XOR(h) AS BIGINT) AS xor_digest,
          |  CAST(SUM(h) AS BIGINT) AS sum_digest,
          |  MIN(h) AS min_digest, MAX(h) AS max_digest
          |FROM c GROUP BY grp ORDER BY grp""".stripMargin,
      // same withheld slice, anti join, and evidence rollup
      "etl_inferred_dim" ->
        """SELECT o_custkey AS c_custkey, 'INFERRED' AS c_name,
          |  COUNT(*) AS n_facts,
          |  MIN(CAST(o_orderdate AS DATE)) AS first_seen,
          |  MAX(CAST(o_orderdate AS DATE)) AS last_seen
          |FROM orders
          |WHERE o_custkey NOT IN (
          |  SELECT c_custkey FROM customer WHERE c_custkey % 97 <> 0)
          |GROUP BY o_custkey ORDER BY c_custkey""".stripMargin,
      // same (type, day) aggregate, as-of from its 1-row max, whole-
      // hour integer lag; SUM/div outputs cast to BIGINT
      "etl_freshness" ->
        """WITH d AS (
          |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n,
          |    MAX(ts) AS last_ts
          |  FROM events GROUP BY 1, 2),
          |a AS (SELECT MAX(last_ts) AS asof FROM d)
          |SELECT event_type, MAX(last_ts) AS last_ts, MAX(a.asof) AS asof,
          |  CAST(SUM(n) AS BIGINT) AS n_rows,
          |  CAST(SUM(CASE WHEN CAST(a.asof AS DATE) - day < 3
          |    THEN n ELSE 0 END) AS BIGINT) AS n_last3d,
          |  CAST((EPOCH_US(MAX(a.asof)) - EPOCH_US(MAX(last_ts)))
          |    // 3600000000 AS BIGINT) AS lag_hours,
          |  EPOCH_US(MAX(a.asof)) - EPOCH_US(MAX(last_ts)) >=
          |    72 * 3600000000 AS stale
          |FROM d CROSS JOIN a
          |GROUP BY event_type ORDER BY event_type""".stripMargin,
      // same day aggregate, trailing frame, integer permille and
      // cross-multiplied 2x gate; SUM/abs-div outputs cast to BIGINT
      "etl_volume_anomaly" ->
        """WITH d AS (
          |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
          |  FROM events GROUP BY 1),
          |w AS (
          |  SELECT day, n,
          |    COUNT(*) OVER (ORDER BY day
          |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS td,
          |    CAST(SUM(n) OVER (ORDER BY day
          |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT)
          |      AS ts7
          |  FROM d)
          |SELECT day, n,
          |  CASE WHEN td = 7 THEN ts7 END AS trail7,
          |  CASE WHEN td = 7
          |    THEN CAST(1000 * ABS(7 * n - ts7) // ts7 AS BIGINT) END
          |    AS dev_pm,
          |  td = 7 AND n * 7 > ts7 * 2 AS hot
          |FROM w ORDER BY day""".stripMargin,
      "etl_skew_audit" ->
        """WITH p AS (
          |  SELECT CAST(DATE_TRUNC('month', CAST(o_orderdate AS DATE))
          |    AS DATE) AS pmonth, COUNT(*) AS n_rows
          |  FROM orders GROUP BY 1),
          |t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total,
          |             COUNT(*) AS n_parts FROM p)
          |SELECT p.pmonth, p.n_rows,
          |  CAST(1000 * p.n_rows // t.total AS BIGINT) AS permille,
          |  p.n_rows * t.n_parts > 2 * t.total AS hot
          |FROM p, t ORDER BY p.pmonth""".stripMargin,
      // same discrete quartiles (QUANTILE_DISC), same half-cent
      // integer fences, same permille; SUMs cast back to BIGINT
      "etl_outlier_iqr" ->
        """WITH cents AS (
          |  SELECT c_mktsegment,
          |    CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS cents
          |  FROM customer),
          |f AS (
          |  SELECT c_mktsegment,
          |    QUANTILE_DISC(cents, 0.25) AS q1,
          |    QUANTILE_DISC(cents, 0.75) AS q3,
          |    QUANTILE_DISC(cents, 0.75) - QUANTILE_DISC(cents, 0.25)
          |      AS iqr
          |  FROM cents GROUP BY c_mktsegment)
          |SELECT c.c_mktsegment, ANY_VALUE(f.q1) AS q1,
          |  ANY_VALUE(f.q3) AS q3, ANY_VALUE(f.iqr) AS iqr,
          |  COUNT(*) AS n,
          |  CAST(SUM(CASE WHEN 2 * c.cents < 2 * f.q1 - 3 * f.iqr
          |    OR 2 * c.cents > 2 * f.q3 + 3 * f.iqr THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_outliers,
          |  CAST(1000 * SUM(CASE WHEN 2 * c.cents < 2 * f.q1 - 3 * f.iqr
          |    OR 2 * c.cents > 2 * f.q3 + 3 * f.iqr THEN 1 ELSE 0 END)
          |    // COUNT(*) AS BIGINT) AS outlier_permille
          |FROM cents c JOIN f USING (c_mktsegment)
          |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin,
      // token, vault and roundtrip certificate all recomputed
      // independently from the same digest fold
      "etl_pii_vault" ->
        """WITH tok AS (
          |  SELECT c_custkey, c_name, c_mktsegment AS segment,
          |    'TOK_' || LPAD(CAST(
          |      LIST_REDUCE(LIST_PREPEND(CAST(888888883 AS BIGINT),
          |        LIST_TRANSFORM(STRING_SPLIT(c_name, ''),
          |          ch -> CAST(UNICODE(ch) AS BIGINT))),
          |        (acc, x) -> (acc * 31 + x) % 1000000007)
          |      AS VARCHAR), 10, '0') AS token
          |  FROM customer),
          |vault AS (SELECT DISTINCT token, c_name AS pii FROM tok)
          |SELECT t.c_custkey, t.token, t.segment,
          |  v.pii = t.c_name AS roundtrip_ok
          |FROM tok t LEFT JOIN vault v ON t.token = v.token
          |ORDER BY t.c_custkey""".stripMargin,
      // the generalization ladder verbatim: level-0 groups, sub-k
      // residue re-grouped twice, suppression residue summed — every
      // count an exact integer, band from the same IEEE FLOOR(x/1000)
      "etl_k_anon" ->
        """WITH l0 AS (
          |  SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
          |    c_mktsegment AS segment,
          |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS band,
          |    COUNT(*) AS n
          |  FROM customer GROUP BY 1, 2, 3),
          |rem0 AS (SELECT * FROM l0 WHERE n < 6),
          |l1 AS (SELECT nationkey, segment, CAST(SUM(n) AS BIGINT) AS n
          |       FROM rem0 GROUP BY 1, 2),
          |rem1 AS (SELECT * FROM l1 WHERE n < 6),
          |l2 AS (SELECT nationkey, CAST(SUM(n) AS BIGINT) AS n
          |       FROM rem1 GROUP BY 1)
          |SELECT nationkey, segment, CAST(band AS VARCHAR) AS bal_band,
          |  n, CAST(0 AS BIGINT) AS level
          |FROM l0 WHERE n >= 6
          |UNION ALL
          |SELECT nationkey, segment, '*', n, 1 FROM l1 WHERE n >= 6
          |UNION ALL
          |SELECT nationkey, '*', '*', n, 2 FROM l2 WHERE n >= 6
          |UNION ALL
          |SELECT -1, '*', '*', CAST(SUM(n) AS BIGINT), 3
          |FROM l2 WHERE n < 6 HAVING SUM(n) IS NOT NULL
          |ORDER BY level, nationkey, segment, bal_band""".stripMargin,
      // every check restated as plain SQL aggregates / NOT EXISTS
      "etl_dq_audit" ->
        """SELECT check_id, table_name, check_name, violations,
          |  violations = 0 AS pass
          |FROM (
          |  SELECT 1 AS check_id, 'customer' AS table_name,
          |    'not_null_name' AS check_name,
          |    CAST(COUNT(CASE WHEN c_name IS NULL THEN 1 END) AS BIGINT)
          |      AS violations
          |  FROM customer
          |  UNION ALL
          |  SELECT 2, 'customer', 'unique_custkey',
          |    CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT)
          |  FROM customer
          |  UNION ALL
          |  SELECT 3, 'orders', 'nonneg_totalprice',
          |    CAST(COUNT(CASE WHEN o_totalprice < 0 THEN 1 END) AS BIGINT)
          |  FROM orders
          |  UNION ALL
          |  SELECT 4, 'orders', 'valid_orderdate',
          |    CAST(COUNT(CASE WHEN o_orderdate IS NULL
          |      OR YEAR(o_orderdate) < 1992 OR YEAR(o_orderdate) > 1998
          |      THEN 1 END) AS BIGINT)
          |  FROM orders
          |  UNION ALL
          |  SELECT 5, 'lineitem', 'quantity_range',
          |    CAST(COUNT(CASE WHEN l_quantity < 1 OR l_quantity > 50
          |      THEN 1 END) AS BIGINT)
          |  FROM lineitem
          |  UNION ALL
          |  SELECT 6, 'orders', 'fk_custkey', CAST(COUNT(*) AS BIGINT)
          |  FROM orders o WHERE NOT EXISTS (
          |    SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
          |  UNION ALL
          |  SELECT 7, 'lineitem', 'fk_orderkey', CAST(COUNT(*) AS BIGINT)
          |  FROM lineitem l WHERE NOT EXISTS (
          |    SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
          |) t ORDER BY check_id""".stripMargin,
      // same mask, same window, same IGNORE NULLS carry — the filled
      // column is a bit-identical pass-through of the input doubles
      "etl_gapfill" ->
        """SELECT event_id, user_id,
          |  CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS masked,
          |  LAST_VALUE(CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END
          |      IGNORE NULLS)
          |    OVER (PARTITION BY user_id ORDER BY ts, event_id
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |    AS filled
          |FROM events ORDER BY event_id""".stripMargin,
      "etl_clean" ->
        s"""SELECT codigo, NULLIF(TRIM(descricao), '') AS descricao,
           |  CASE WHEN codigo % 2 = 1 THEN 'PRIMARIO' ELSE 'SECUNDARIO' END
           |    AS segmento
           |FROM ($messy) t ORDER BY codigo""".stripMargin,
      // every observed metric recomputed from the fixture
      "etl_observe" ->
        s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(SUM(CASE WHEN NULLIF(TRIM(descricao), '') IS NULL
           |                THEN 1 ELSE 0 END) AS BIGINT) AS n_null_desc,
           |  CAST(COUNT(CASE WHEN codigo % 2 = 1 THEN 1 END) AS BIGINT)
           |    AS n_primario,
           |  MIN(codigo) AS min_codigo, MAX(codigo) AS max_codigo
           |FROM ($messy) t""".stripMargin,
      // identical contract to etl_clean — the roundtrip must be lossless
      "etl_jsonl_roundtrip" ->
        s"""SELECT codigo, NULLIF(TRIM(descricao), '') AS descricao,
           |  CASE WHEN codigo % 2 = 1 THEN 'PRIMARIO' ELSE 'SECUNDARIO' END
           |    AS segmento
           |FROM ($messy) t ORDER BY codigo""".stripMargin,
      "etl_orc_roundtrip" ->
        s"""SELECT codigo, NULLIF(TRIM(descricao), '') AS descricao,
           |  CASE WHEN codigo % 2 = 1 THEN 'PRIMARIO' ELSE 'SECUNDARIO' END
           |    AS segmento
           |FROM ($messy) t ORDER BY codigo""".stripMargin,
      // identical contract — the XML roundtrip must be lossless too
      "etl_xml_roundtrip" ->
        s"""SELECT codigo, NULLIF(TRIM(descricao), '') AS descricao,
           |  CASE WHEN codigo % 2 = 1 THEN 'PRIMARIO' ELSE 'SECUNDARIO' END
           |    AS segmento
           |FROM ($messy) t ORDER BY codigo""".stripMargin,
      // pre-evolution (odd) rows never had segmento → NULL; evolved
      // (even) rows carry the parity value, always SECUNDARIO
      "etl_schema_evolution" ->
        s"""SELECT codigo, NULLIF(TRIM(descricao), '') AS descricao,
           |  CASE WHEN codigo % 2 = 0 THEN 'SECUNDARIO' ELSE NULL END
           |    AS segmento
           |FROM ($messy) t ORDER BY codigo""".stripMargin,
      "etl_upsert" ->
        """WITH snap AS (
          |  SELECT c_custkey, c_name, c_acctbal FROM customer),
          |changes AS (
          |  SELECT c_custkey, UPPER(c_name) AS c_name,
          |    c_acctbal + 100 AS c_acctbal
          |  FROM snap WHERE c_custkey % 10 = 0
          |  UNION ALL
          |  SELECT c_custkey + 1000000, c_name || ' NEW', 0.0
          |  FROM snap WHERE c_custkey % 97 = 3)
          |SELECT c_custkey, c_name, c_acctbal FROM changes
          |UNION ALL
          |SELECT s.c_custkey, s.c_name, s.c_acctbal FROM snap s
          |WHERE NOT EXISTS (
          |  SELECT 1 FROM changes c WHERE c.c_custkey = s.c_custkey)
          |ORDER BY c_custkey""".stripMargin,
      "etl_partitioned_write" ->
        """SELECT event_type, COUNT(*) AS n,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
          |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'
          |GROUP BY event_type ORDER BY event_type""".stripMargin,
      "etl_conditional_agg" ->
        s"""SELECT segmento, COUNT(*) AS n,
           |  CAST(SUM(CASE WHEN descricao IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_null_desc,
           |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
           |FROM (
           |  SELECT NULLIF(TRIM(descricao), '') AS descricao,
           |    CASE WHEN codigo % 2 = 1 THEN 'PRIMARIO' ELSE 'SECUNDARIO' END
           |      AS segmento,
           |    c_acctbal
           |  FROM ($messy) t) u
           |GROUP BY segmento ORDER BY segmento""".stripMargin,
      "etl_monitor_counts" ->
        """SELECT table_name, n_rows, n_keys, n_nulls FROM (
          |  SELECT 'customer' AS table_name, COUNT(*) AS n_rows,
          |    COUNT(DISTINCT c_custkey) AS n_keys,
          |    CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_nulls
          |  FROM customer
          |  UNION ALL
          |  SELECT 'orders', COUNT(*), COUNT(DISTINCT o_orderkey),
          |    CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
          |      AS BIGINT)
          |  FROM orders
          |  UNION ALL
          |  SELECT 'lineitem', COUNT(*), COUNT(DISTINCT l_orderkey),
          |    CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
          |      AS BIGINT)
          |  FROM lineitem
          |) t ORDER BY table_name""".stripMargin,
      // the good/bad split rebuilt relationally: the planted families
      // (%37 extra cols keep both parsed fields, %41 bad long NULLs
      // codigo, %43 short row NULLs descricao) with CASE precedence
      // mirroring the fixture's when-chain
      // the full ingest composition in one statement: malformation
      // split → clean → store membership (REAL join replay) → rollup
      "pipeline_ingest" ->
        """WITH parsed AS (
          |  SELECT CASE WHEN c_custkey % 37 = 0 THEN c_custkey
          |              WHEN c_custkey % 41 = 0 THEN NULL
          |              ELSE c_custkey END AS codigo,
          |         CASE WHEN c_custkey % 37 <> 0 AND c_custkey % 41 <> 0
          |                   AND c_custkey % 43 = 0 THEN NULL
          |              ELSE c_name END AS descricao,
          |         CASE WHEN c_custkey % 37 = 0 OR c_custkey % 41 = 0
          |                   OR c_custkey % 43 = 0 THEN 'quarantined'
          |              ELSE 'ok' END AS status
          |  FROM customer),
          |clean AS (
          |  SELECT codigo, NULLIF(TRIM(descricao), '') AS descricao,
          |    CASE WHEN codigo % 2 = 1 THEN 'PRIMARIO'
          |         ELSE 'SECUNDARIO' END AS segmento
          |  FROM parsed WHERE status = 'ok'),
          |store AS (SELECT c_custkey AS hist_id FROM customer
          |          WHERE c_custkey % 3 <> 0),
          |v AS (SELECT segmento, hist_id IS NULL AS is_new, codigo
          |      FROM clean LEFT JOIN store ON codigo = hist_id)
          |SELECT * FROM (
          |  SELECT 'ok' AS status, segmento, is_new,
          |    COUNT(*) AS n, MIN(codigo) AS min_codigo,
          |    MAX(codigo) AS max_codigo
          |  FROM v GROUP BY segmento, is_new
          |  UNION ALL
          |  SELECT 'quarantined', 'NONE', FALSE, COUNT(*),
          |    MIN(codigo), MAX(codigo)
          |  FROM parsed WHERE status = 'quarantined') u
          |ORDER BY status, segmento, is_new""".stripMargin,
      "etl_bad_records" ->
        """SELECT * FROM (
          |  SELECT CASE WHEN c_custkey % 37 = 0 THEN c_custkey
          |              WHEN c_custkey % 41 = 0 THEN NULL
          |              ELSE c_custkey END AS codigo,
          |         CASE WHEN c_custkey % 37 <> 0 AND c_custkey % 41 <> 0
          |                   AND c_custkey % 43 = 0 THEN NULL
          |              ELSE c_name END AS descricao,
          |         CASE WHEN c_custkey % 37 = 0 OR c_custkey % 41 = 0
          |                   OR c_custkey % 43 = 0 THEN 'quarantined'
          |              ELSE 'ok' END AS status
          |  FROM customer) t
          |ORDER BY COALESCE(codigo, -1), descricao""".stripMargin,
      // the deterministic clock ticks 1-4 inside run-1's auditedRun and
      // 5-8 inside run-2's; per-layer row counts recompute from customer
      "etl_run_ledger" ->
        """WITH n AS (SELECT COUNT(*) AS c FROM customer),
          |runs AS (SELECT * FROM (VALUES
          |  ('run-1', 'trusted',
          |   '2024-06-01T00:00:01Z', '2024-06-01T00:00:02Z'),
          |  ('run-1', 'refined',
          |   '2024-06-01T00:00:03Z', '2024-06-01T00:00:04Z'),
          |  ('run-2', 'trusted',
          |   '2024-06-01T00:00:05Z', '2024-06-01T00:00:06Z'),
          |  ('run-2', 'refined',
          |   '2024-06-01T00:00:07Z', '2024-06-01T00:00:08Z'))
          |  AS t(uid, step, dt_start, dt_end))
          |SELECT uid, 'graft' AS nm_project, step,
          |  CAST(1 AS BIGINT) AS qtd_files, n.c AS qtd_rows,
          |  dt_start, dt_end
          |FROM runs, n ORDER BY dt_start""".stripMargin,
      // the governed table rebuilt relationally from customer; the
      // ledger receipt (uid, row count, clock ticks 3-4 — the stale
      // load-1 consumed 1-2) rides on every row. A failed truncate
      // would leave the stale slice's duplicates in the table and
      // break the hash.
      "etl_catalog_load" ->
        """WITH cur AS (
          |  SELECT c_custkey AS id, c_name AS name,
          |    CASE WHEN c_custkey % 2 = 0 THEN 'PAR' ELSE 'IMPAR' END
          |      AS segmento
          |  FROM customer)
          |SELECT id, name, segmento, 'load-2' AS load_uid,
          |  CAST((SELECT COUNT(*) FROM cur) AS BIGINT) AS loaded_rows,
          |  '2024-06-01T00:00:03Z' AS dt_start,
          |  '2024-06-01T00:00:04Z' AS dt_end
          |FROM cur ORDER BY id""".stripMargin,
      // the resumed DAG's exact ledger: run-1 receipts a_raw (ticks
      // 1-2) and b_trusted (3-4), the armed refine fault burns tick 5
      // and receipts nothing, run-2 resumes with c_refined (6-7) and
      // d_load (8-9); every layer's row count recomputes from customer
      "etl_dag_resume" ->
        """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM customer),
          |runs AS (SELECT * FROM (VALUES
          |  ('run-1', 'a_raw',
          |   '2024-06-01T00:00:01Z', '2024-06-01T00:00:02Z'),
          |  ('run-1', 'b_trusted',
          |   '2024-06-01T00:00:03Z', '2024-06-01T00:00:04Z'),
          |  ('run-2', 'c_refined',
          |   '2024-06-01T00:00:06Z', '2024-06-01T00:00:07Z'),
          |  ('run-2', 'd_load',
          |   '2024-06-01T00:00:08Z', '2024-06-01T00:00:09Z'))
          |  AS t(uid, step, dt_start, dt_end))
          |SELECT uid, step, n.c AS qtd_rows, dt_start, dt_end,
          |  n.c AS final_rows
          |FROM runs, n ORDER BY step""".stripMargin,
      "etl_compact" ->
        """SELECT event_id, ts, user_id, event_type, value, props
          |FROM events ORDER BY event_id""".stripMargin,
      "etl_json_props" ->
        """SELECT event_type, COUNT(k) AS n,
          |  CAST(SUM(k) AS BIGINT) AS sum_k,
          |  CAST(MIN(k) AS BIGINT) AS min_k,
          |  CAST(MAX(k) AS BIGINT) AS max_k
          |FROM (SELECT event_type,
          |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          |      FROM events) t
          |GROUP BY event_type ORDER BY event_type""".stripMargin,
      // the VARIANT leg replayed with plain JSON extraction: typed long,
      // the number→string coercion (json_extract_string returns the
      // bare token, same text as variant_get's long→string cast), and
      // the absent path counting NULL on every row
      "etl_variant_extract" ->
        """SELECT event_type, COUNT(*) AS n,
          |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
          |    AS BIGINT) AS sum_k,
          |  CAST(SUM(LENGTH(json_extract_string(props, '$.k')))
          |    AS BIGINT) AS len_k_str,
          |  CAST(SUM(CASE WHEN json_extract_string(props, '$.j') IS NULL
          |                THEN 1 ELSE 0 END) AS BIGINT) AS n_j_null
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      // identical contract to etl_clean: the CSV leg (doubled-quote
      // writer ↔ trusted reader, NULL↔empty, BOM) must be LOSSLESS, so
      // the refined read-back hash-matches the etl_clean oracle — a
      // quoting/null regression in either direction fails the hash
      "etl_csv_roundtrip" ->
        s"""SELECT codigo, NULLIF(TRIM(descricao), '') AS descricao,
           |  CASE WHEN codigo % 2 = 1 THEN 'PRIMARIO' ELSE 'SECUNDARIO' END
           |    AS segmento
           |FROM ($messy) t ORDER BY codigo""".stripMargin,
      // the ZIP→iso-8859-1→raw→trusted→refined chain rebuilt
      // relationally: fixture construction (writeFixtureZip's id%5
      // quoting / id%3 accents over the 100 smallest custkeys) composed
      // with the reference clean — charset decode, doubled-quote CSV,
      // and schema-enforced reads are all on the hash
      "etl_raw_roundtrip" ->
        """SELECT codigo, NULLIF(TRIM(descricao), '') AS descricao,
          |  CASE WHEN codigo % 2 = 1 THEN 'PRIMARIO' ELSE 'SECUNDARIO' END
          |    AS segmento
          |FROM (
          |  SELECT c_custkey AS codigo,
          |    CASE WHEN c_custkey % 5 = 0 THEN c_name || ' "aspas";e|pipe'
          |         WHEN c_custkey % 3 = 0 THEN c_name || ' çãõé'
          |         ELSE c_name END AS descricao
          |  FROM customer ORDER BY c_custkey LIMIT 100) t
          |ORDER BY codigo""".stripMargin,
      // same refined data through the acquisition seam — discovery and
      // transport must be invisible to the output
      "etl_acquire" ->
        """SELECT codigo, NULLIF(TRIM(descricao), '') AS descricao,
          |  CASE WHEN codigo % 2 = 1 THEN 'PRIMARIO' ELSE 'SECUNDARIO' END
          |    AS segmento
          |FROM (
          |  SELECT c_custkey AS codigo,
          |    CASE WHEN c_custkey % 5 = 0 THEN c_name || ' "aspas";e|pipe'
          |         WHEN c_custkey % 3 = 0 THEN c_name || ' çãõé'
          |         ELSE c_name END AS descricao
          |  FROM customer ORDER BY c_custkey LIMIT 100) t
          |ORDER BY codigo""".stripMargin
    )
  }
}
