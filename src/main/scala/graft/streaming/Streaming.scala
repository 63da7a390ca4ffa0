package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Event-stream operators (SURVEY §2D).
  *
  * Each operator has two faces with identical semantics:
  *  - a BATCH face (used by the correctness gate — SQL-oracled against
  *    DuckDB on the same events table), and
  *  - a STREAMING face (Structured Streaming with watermarks /
  *    flatMapGroupsWithState), exercised by the test suite against the
  *    batch face's results.
  *
  * Scale notes: the windowed agg is a single shuffle keyed by
  * (window, event_type) with map-side partial aggregation; watermarking
  * bounds state. Sessionization shuffles once on user_id; state per
  * active user is O(1) (running session bounds only).
  */
object Streaming {

  val SessionGapMinutes = 30
  private val gapUs: Long = SessionGapMinutes * 60L * 1000000L

  // -- batch faces (correctness-gated) ------------------------------------

  /** Tumbling 1-hour windows per event type. */
  def batchWindowAgg(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** Sliding (hopping) windows: 1-hour windows advancing every 30
    * minutes, per event type — every event contributes to exactly
    * duration/slide (= 2) windows. Spark expands the window set inline
    * (no self-union of the input); the only shuffle is the groupBy
    * keyed by (window, event_type) with map-side partial agg. */
  def batchSlidingAgg(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour", "30 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** Windowed distinct-user cardinality, batch face: exact
    * COUNT(DISTINCT) per (hour, type) with the HLL++ estimate gated
    * against it IN-PLAN. Exact distinct aggregation is not expressible
    * in a streaming aggregate (per-window state would be unbounded);
    * `approx_count_distinct` is the streaming answer — so this face
    * certifies the sketch against exact truth on every gate run:
    * |approx − exact| ≤ max(5·rsd·exact, 2). The relative slack is
    * DERIVED from the configured rsd (5 standard errors of rsd=0.02 =
    * 10% — a ~3·10⁻⁷ per-window false-alarm rate if the estimator
    * error were Gaussian; HLL++'s tails are thinner), and the absolute
    * slack of 2 covers the small-cardinality linear-counting regime
    * where the estimate can be off by a hash collision (observed:
    * exact 4-8 windows off by 1). The DuckDB oracle hardcodes
    * approx_ok = TRUE (it cannot run Spark's sketch), so a red gate
    * here means the sketch left its published envelope on THIS data —
    * if a new scale factor or fixture ever trips it, the bound itself
    * is the suspect to re-derive, not the pipeline (no code defect is
    * implied). Changing `rsd` below requires updating the gate's
    * multiplier to match (5/rsd). The exact leg shuffles (window,
    * type, user) once; the sketch
    * leg is fixed-size state per group at any cardinality — the
    * 100 TB path keeps only the sketch. */
  def batchDistinctUsers(events: DataFrame): DataFrame =
    // r17: pre-distinct the (window, type, user) triples, then COUNT
    // the triples exactly and sketch the SAME deduplicated stream —
    // an HLL++ register is a max over per-value rhos, so duplicate
    // inserts cannot move the estimate (bit-identical either way).
    // Removes the mixed-distinct Expand's 2x event replication (the
    // q21_approx_distinct decomposition; measured 2.54 → 1.95 s).
    events.select(window(col("ts"), "1 hour").as("window"),
        col("event_type"), col("user_id"))
      .distinct()
      .groupBy(col("window"), col("event_type"))
      .agg(count(lit(1)).as("n_exact"),
        approx_count_distinct(col("user_id"), 0.02).as("n_approx"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_exact"),
        (abs(col("n_approx") - col("n_exact")) * 10 <= col("n_exact") ||
          abs(col("n_approx") - col("n_exact")) <= 2).as("approx_ok"))
      .orderBy(col("window_start"), col("event_type"))

  /** Streaming face of [[batchDistinctUsers]]: watermarked per-window
    * HLL++ (the sketch IS the streaming-legal distinct), append mode —
    * parity-tested sketch-equal to the batch estimate (same hash, same
    * sketch, same value). */
  def streamingDistinctUsers(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("n_approx"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_approx"))

  /** Windowed top-k, batch face: the k most active users per tumbling
    * hour (leaderboards, hot-key monitors, trending detectors) with a
    * TOTAL rank order (count desc, then user_id) so the cut is a pure
    * function of the data. Shape: one (window, user) map-side-combined
    * count, then a window-keyed ROW_NUMBER cut — the WindowGroupLimit
    * plan (rank pushes into a per-partition top-k before the shuffle),
    * never a global sort. */
  def batchTopUsers(events: DataFrame, k: Int = 3): DataFrame =
    rankTopUsers(
      events.groupBy(window(col("ts"), "1 hour"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("user_id"),
          col("n")), k)

  /** The serving-side rank for [[batchTopUsers]] /
    * [[streamingTopUserCounts]]: top-k cut over completed (window,
    * user) counts. Split out because the STREAMING formulation
    * pre-aggregates counts under a watermark (append mode emits a
    * window's counts once, when it closes) and applies this rank at
    * read time — the standard streaming-top-k split: ranking inside
    * the stream would need arbitrary per-window state for a result
    * that is only final at watermark close anyway. */
  def rankTopUsers(counts: DataFrame, k: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("window_start"))
      .orderBy(col("n").desc, col("user_id"))
    counts.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy(col("window_start"), col("rank"))
  }

  /** Streaming face of the top-k pre-aggregation: watermarked
    * (window, user) counts, append mode — state is bounded by the
    * watermark horizon. */
  def streamingTopUserCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("user_id"),
        col("n"))

  /** Gap-based sessionization, batch face: a new session starts when
    * the gap to the previous event of the same user exceeds
    * SessionGapMinutes. */
  def batchSessionize(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_sess",
        when(unix_micros(col("ts")) - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(run))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Native session windows (session_window), batch face. Same
    * gaps-and-islands semantics as [[batchSessionize]] EXCEPT the
    * boundary: Spark's session window spans [first_ts, last_ts + gap),
    * so an event at exactly last_ts + gap starts a NEW session (the
    * custom-state variant keeps it — its condition is gap > threshold).
    * Emitted session_end is last_ts + gap (the window bound, not the
    * last event), matching the streaming face bit-for-bit; the oracle
    * restates both choices relationally. One shuffle keyed by user_id;
    * Spark merges overlapping candidate windows inside the
    * session-window aggregation. */
  def batchSessionWindow(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$SessionGapMinutes minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))
      .orderBy(col("user_id"), col("session_start"))

  /** Click→purchase conversions: every (click, purchase) pair of the
    * same user with the purchase inside [click, click+gap]. Batch face
    * of the stream-stream interval join.
    *
    * The join key is (user_id, gap-width TIME BIN), not user_id alone
    * — the q24 binned-range-join discipline. A user-only equi-join
    * with the interval as a residual predicate evaluates
    * clicks_u × purchases_u pairs per user, which grows QUADRATICALLY
    * in per-user history (measured: 10× data with a 10×-longer
    * timeline still ran ~100× pair volume — the time predicate never
    * reached the join key). Binning click_ts by the gap width and
    * exploding each purchase into the only two bins its admissible
    * clicks can occupy ({⌊p/gap⌋−1, ⌊p/gap⌋}) keys the shuffle by
    * (user, bin): pair work tracks events per (user, gap-window) —
    * the stream's actual concurrent density — and stays linear as
    * history lengthens. A pair matches in exactly one probe bin, so
    * no post-join dedup is needed. The streaming face keeps the plain
    * interval join: its watermark eviction bounds join state to the
    * horizon at runtime, which is the same bin-locality this face
    * encodes statically. */
  def batchClickConversions(events: DataFrame): DataFrame = {
    val binUs = SessionGapMinutes.toLong * 60L * 1000000L
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withColumn("bin", expr(s"unix_micros(click_ts) div $binUs"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
      .withColumn("bin", explode(array(
        expr(s"unix_micros(purchase_ts) div $binUs - 1"),
        expr(s"unix_micros(purchase_ts) div $binUs"))))
    clicks.join(purchases, Seq("user_id", "bin"))
      .filter(col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") +
          expr(s"INTERVAL $SessionGapMinutes MINUTES"))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        col("click_ts"), col("purchase_ts"))
      .orderBy(col("click_id"), col("purchase_id"))
  }

  /** At-least-once repair, batch face: the input re-delivers a
    * deterministic ~6% slice (event_id % 17 == 0) — the shape of a
    * replayed source partition tail after a failure — and dedup on the
    * event key restores exactly-once. Duplicates are full-row identical,
    * so key-dedup is semantically DISTINCT. Result is summarized per
    * event_type against the UNDUPLICATED table's oracle: any under- or
    * over-delivery shifts the counts and fails the hash. */
  def batchDedup(events: DataFrame): DataFrame =
    events.union(events.filter(col("event_id") % 17 === 0))
      .dropDuplicates("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("total_value"))
      .orderBy(col("event_type"))

  /** Static-dimension enrichment, batch face: the event stream joined
    * to a slowly-changing dimension snapshot (customer keyed by
    * user_id), aggregated per segment. */
  def batchStaticEnrich(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(customer.select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("total_value"))
      .orderBy(col("c_mktsegment"))

  /** Watermark-lateness accounting, batch face: how many rows a
    * `withWatermark(delay)` pipeline would drop, and how late they are.
    *
    * The shipped events table arrives perfectly time-ordered (zero
    * out-of-orderness), so the operator first simulates the event-time
    * vs arrival-time skew every real ingest has: each row's OBSERVED
    * event time is `ts` minus a deterministic per-row jitter in
    * [0, 3600) s (Knuth multiplicative hash of event_id — the engine's
    * standard derandomized-randomness trick, see Sampling.hashBucket),
    * while ARRIVAL order stays event_id. A row is late iff its observed
    * event time is more than [[LateDelayMs]] behind the watermark — the
    * running max of observed event time over all STRICTLY EARLIER
    * arrivals (Spark advances the watermark from the previous batch's
    * max, so the current row never moves its own watermark).
    *
    * Scale shape — a running max over global arrival order is the
    * textbook anti-scale window (one partition sorts everything), so
    * the operator computes it as a DISTRIBUTED PREFIX SCAN instead:
    * arrival order is range-chunked (event_id div [[LateChunk]]);
    * within-chunk strict-prefix maxes parallelize per chunk, per-chunk
    * maxes form a chunk-count-sized frame whose own prefix max is
    * computed on that tiny frame and broadcast-joined back. The events
    * scan never single-partitions. (At 10^11+ rows, raise LateChunk so
    * the chunk frame stays small — the decomposition nests.) The
    * DuckDB oracle computes the same watermark with the naive global
    * window, so the hash gate PROVES the chunked scan ≡ the
    * single-window definition on real data.
    *
    * This key is deliberately batch-only (unlike the module's other
    * operators): the audit MODELS per-row watermark semantics, while
    * the engine's own drop behavior additionally depends on
    * state-eviction timing (a late row whose window state was never
    * yet evicted is admitted, not dropped — verified empirically on
    * 4.1), so no streaming twin can reproduce the model row-for-row;
    * monitoring the engine's realized drops is what
    * `numRowsDroppedByWatermark` / this audit's model bound are FOR. */
  val LateDelayMs = 600000L // 10-minute watermark delay
  val LateChunk = 1000L

  /** Observed (jittered) event time in epoch ms — shared by both
    * late-audit faces so the model and the engine see the same skew. */
  def lateObsMs: org.apache.spark.sql.Column =
    unix_millis(col("ts")) -
      ((col("event_id") % 1000003L) * 2654435761L % 3600L) * 1000L

  def batchLateAudit(events: DataFrame): DataFrame = {
    val obs = events.select(
      col("event_id"), col("event_type"),
      lateObsMs.as("tms"),
      expr(s"event_id div $LateChunk").as("chunk"))
    val inChunk = Window.partitionBy(col("chunk")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunkMax = obs.groupBy(col("chunk")).agg(max(col("tms")).as("cmax"))
    val prevChunks = Window.orderBy(col("chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = chunkMax
      .select(col("chunk"), max(col("cmax")).over(prevChunks).as("pmax"))
    val wm = obs.join(broadcast(prefix), "chunk")
      .withColumn("watermark_ms",
        greatest(max(col("tms")).over(inChunk), col("pmax")))
    wm.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count(when(col("tms") < col("watermark_ms") - LateDelayMs, 1))
          .as("n_late"),
        sum(when(col("tms") < col("watermark_ms") - LateDelayMs,
          col("watermark_ms") - LateDelayMs - col("tms")).otherwise(0L))
          .as("late_ms_sum"),
        max(when(col("tms") < col("watermark_ms") - LateDelayMs,
          col("watermark_ms") - LateDelayMs - col("tms")).otherwise(0L))
          .as("late_ms_max"))
      .orderBy(col("event_type"))
  }

  /** Event-rate anomaly monitor, batch face: per event type, flag
    * hourly volumes more than `zThresh` sample standard deviations
    * away from the trailing 24-hour mean — the standing alert every
    * ingest pipeline hangs off its throughput curve (a stuck upstream
    * halves a rate; a replay or a bot doubles it).
    *
    * Exactness: mean/stddev are computed EXPLICITLY from integer
    * window sums (s1=Σn, s2=Σn², m) with the same expression text on
    * both engines — never from an engine's own stddev aggregate,
    * whose accumulation algorithm (Welford vs sum-of-squares) differs
    * in the last ulps across engines; identical IEEE operations on
    * exact integer inputs give bit-identical doubles, and z rounds to
    * 4 decimals on top. A bucket alerts only with a FULL trailing
    * window (m = 24) and positive variance.
    *
    * Scale shape: events reduce map-side to the (type, hour) count
    * series — bounded by types × hours, never by event volume — and
    * the trailing window runs over that tiny series, partitioned by
    * type. The events scan itself is one map-side-combined groupBy. */
  val RateTrailing = 24
  val RateZThreshold = 3.0

  def batchRateAlert(events: DataFrame): DataFrame = {
    val counts = events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("window_start"))
      .rowsBetween(-RateTrailing, -1)
    // mean/sd only materialize under the m = RateTrailing branch
    // (CaseWhen short-circuits), so the m ∈ {0, 1} leading buckets
    // never evaluate a zero divisor under ANSI mode; variance clamps
    // at 0 against float cancellation on a constant series (sd = 0 →
    // z stays NULL) — the oracle mirrors both guards
    val meanE = col("s1").cast("double") / col("m")
    val sdE = sqrt(greatest(
      (col("s2").cast("double")
        - col("s1").cast("double") * col("s1").cast("double") / col("m"))
        / (col("m") - 1), lit(0.0)))
    counts
      .withColumn("s1", sum(col("n")).over(w))
      .withColumn("s2", sum(col("n") * col("n")).over(w))
      .withColumn("m", count(lit(1)).over(w))
      .withColumn("z",
        when(col("m") === RateTrailing,
          when(sdE > 0, round((col("n") - meanE) / sdE, 4))))
      .select(col("window_start"), col("event_type"), col("n"), col("z"),
        (coalesce(abs(col("z")), lit(0.0)) >= RateZThreshold).as("alert"))
      .orderBy(col("window_start"), col("event_type"))
  }

  // -- streaming faces ----------------------------------------------------

  /** The events table's schema with ts as a raw nanos long — the shape
    * the nanosAsLong shim yields for TIMESTAMP(NANOS) files (and the
    * shape the upsert spec writes its staged micro-batch files in). */
  val eventsPhysicalSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** events table as a stream. FileStreamSource lists DIRECTORIES, and
    * the testdata ships one flat file per table — so stage a hard link
    * to the file under a scratch directory (a real deployment points
    * this at its landing directory instead).
    *
    * The stream source needs an explicit schema, so probe the file's
    * actual timestamp encoding with a batch read first (the driver has
    * shipped both TIMESTAMP(NANOS) — surfaced as a nanos long under the
    * nanosAsLong shim — and plain micros timestamps across rounds) and
    * normalize ts to a micros TimestampType instant either way, exactly
    * like Tables.load. */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val sfName = sfDir.replaceAll(".*/", "")
    val stage = Paths.get(graft.sources.Tables.scratchRoot, "stream_src",
      sfName)
    Files.createDirectories(stage)
    val link = stage.resolve("events.parquet")
    val src = Paths.get(sfDir, "events.parquet")
    // the stage dir outlives testdata regeneration; a stale hard link
    // keeps the OLD inode alive, so refresh unless it is the same file
    val fresh = Files.exists(link) &&
      (try Files.isSameFile(link, src) catch { case _: Exception => false })
    if (!fresh) {
      Files.deleteIfExists(link)
      try Files.createLink(link, src)
      catch { case _: Exception => // cross-device: fall back to a copy
        Files.copy(src, link)
      }
    }
    val tsOnDisk = spark.read.parquet(stage.toString).schema("ts").dataType
    if (tsOnDisk == LongType)
      spark.readStream
        .schema(eventsPhysicalSchema)
        .parquet(stage.toString)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else {
      val schema = StructType(eventsPhysicalSchema.map(f =>
        if (f.name == "ts") f.copy(dataType = tsOnDisk) else f))
      spark.readStream
        .schema(schema)
        .parquet(stage.toString)
        .withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Watermarked tumbling-window agg — the streaming face of
    * batchWindowAgg. Append mode emits each window once its watermark
    * passes. */
  def streamingWindowAgg(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Watermarked sliding-window agg — the streaming face of
    * batchSlidingAgg. State per key is bounded by (watermark delay +
    * duration) / slide windows. */
  def streamingSlidingAgg(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Watermarked NATIVE session windows — the streaming face of
    * [[batchSessionWindow]]. Spark's SessionWindowStateStore merges
    * overlapping per-user windows across micro-batches and closes a
    * session when the watermark passes its end — the built-in
    * counterpart of the flatMapGroupsWithState variant below (which
    * demonstrates custom state; this one demonstrates that the
    * declarative form suffices when gap semantics are all you need).
    * State per active user is the open session's bounds only. */
  def streamingSessionWindow(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$SessionGapMinutes minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  // state carried per user between micro-batches: open session bounds.
  // Timestamps travel as epoch MICROS end-to-end — converting through
  // java.sql.Timestamp millis would silently truncate the micros the
  // events table carries and diverge from the batch face.
  case class SessionState(startUs: Long, lastUs: Long, nEvents: Long)
  case class SessionOut(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long)
  // `ts` kept solely to carry the watermark into the stateful operator;
  // the handler works in micros via ts_us
  case class EventIn(event_id: Long, ts: java.sql.Timestamp, ts_us: Long,
      user_id: Long)

  /** Streaming gap sessionization via flatMapGroupsWithState with
    * EVENT-TIME timeouts: a session is emitted when a later event
    * closes it, or when the watermark passes its last event + gap.
    * Semantics match batchSessionize for in-order input; only sessions
    * still open at the final watermark stay unemitted. */
  def sessionizeStream(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val typed = events.withWatermark("ts", "0 seconds")
      .select(col("event_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"))
      .as[EventIn]
      .groupByKey(_.user_id)
    val sessions = typed.flatMapGroupsWithState[SessionState, SessionOut](
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      (userId: Long, rows: Iterator[EventIn], state: GroupState[SessionState]) =>
        if (state.hasTimedOut) {
          val out = state.getOption.map(s =>
            SessionOut(userId, s.startUs, s.lastUs, s.nEvents)).toSeq
          state.remove()
          out.iterator
        } else {
          val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
          val closed = Seq.newBuilder[SessionOut]
          var cur = state.getOption
          sorted.foreach { e =>
            cur match {
              case Some(s) if e.ts_us - s.lastUs <= gapUs =>
                cur = Some(s.copy(lastUs = e.ts_us, nEvents = s.nEvents + 1))
              case Some(s) =>
                closed += SessionOut(userId, s.startUs, s.lastUs, s.nEvents)
                cur = Some(SessionState(e.ts_us, e.ts_us, 1))
              case None =>
                cur = Some(SessionState(e.ts_us, e.ts_us, 1))
            }
          }
          cur.foreach { s =>
            state.update(s)
            // close when the watermark passes last event + gap (millis)
            state.setTimeoutTimestamp(s.lastUs / 1000 + SessionGapMinutes * 60000L)
          }
          closed.result().iterator
        }
    }
    sessions.toDF().select(col("user_id"),
      timestamp_micros(col("start_us")).as("session_start"),
      timestamp_micros(col("end_us")).as("session_end"),
      col("n_events"))
  }

  val CepWindowUs: Long = 10L * 60 * 1000000

  /** CEP pattern match, batch face: view IMMEDIATELY followed by
    * click within 10 minutes, per user — the simplest member of the
    * MATCH_RECOGNIZE / FlinkCEP family (A then B within T, no
    * intervening event), and the shape engagement analytics actually
    * deploys (did the impression convert before anything else
    * happened?). Adjacency via LAG over the (ts, event_id)-ordered
    * user window — a total order both engines reproduce — then a
    * per-user match census. ONE user-keyed exchange; no self-join
    * (the naive A×B time-join fans out quadratically on hot users;
    * the lag formulation is linear by construction). */
  def batchCepPairs(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("event_type") === "click" &&
        col("prev_type") === "view" &&
        unix_micros(col("ts")) - col("prev_us") <= lit(CepWindowUs))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_matches"),
        timestamp_micros(min(col("prev_us"))).as("first_view"),
        timestamp_micros(max(unix_micros(col("ts")))).as("last_click"))
      .orderBy(col("user_id"))
  }

  case class CepIn(event_id: Long, ts_us: Long, user_id: Long,
      event_type: String)
  case class CepState(lastType: String, lastUs: Long)
  case class CepOut(user_id: Long, view_us: Long, click_us: Long)

  /** Streaming face of [[batchCepPairs]]: flatMapGroupsWithState
    * carrying ONE (last type, last timestamp) pair per user — each
    * arriving event either completes a view→click match against the
    * carried predecessor or becomes the new predecessor. Emits raw
    * match pairs (the alerting feed); the parity spec aggregates them
    * to the batch census. State is O(1) per user and the semantics
    * match the batch LAG for per-key in-order arrival (the
    * sessionizeStream contract). */
  def streamingCepPairs(spark: SparkSession, events: DataFrame)
      : DataFrame = {
    import spark.implicits._
    val typed = events.withWatermark("ts", "0 seconds")
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"))
      .as[CepIn]
      .groupByKey(_.user_id)
    typed.flatMapGroupsWithState[CepState, CepOut](
      OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (uid: Long, rows: Iterator[CepIn], state: GroupState[CepState]) =>
        val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
        var st = state.getOption
        val out = Seq.newBuilder[CepOut]
        sorted.foreach { e =>
          st match {
            case Some(s) if e.event_type == "click" &&
                s.lastType == "view" && e.ts_us - s.lastUs <= CepWindowUs =>
              out += CepOut(uid, s.lastUs, e.ts_us)
            case _ =>
          }
          st = Some(CepState(e.event_type, e.ts_us))
        }
        st.foreach(state.update)
        out.result().iterator
    }.toDF().select(col("user_id"),
      timestamp_micros(col("view_us")).as("view_ts"),
      timestamp_micros(col("click_us")).as("click_ts"))
  }

  case class GapIn(event_id: Long, ts_us: Long, user_id: Long,
      value: Double, masked: Boolean)
  case class GapFillState(lastVal: Double)
  case class GapOut(event_id: Long, user_id: Long,
      masked: Option[Double], filled: Option[Double])

  /** Streaming face of the LOCF gap repair (graft.operators.Etl
    * .gapFill): per-device flatMapGroupsWithState carrying ONE double
    * of state — the last observed reading — so every arriving masked
    * event is repaired in-flight instead of waiting for a batch
    * window pass. Within a micro-batch events sort by (ts, event_id);
    * across batches the carried state IS the fill source, so the
    * semantics match the batch window exactly for per-key in-order
    * arrival (the sessionizeStream contract). State never times out
    * but is O(1) per active device — the smallest possible stateful
    * enrichment. */
  def streamingGapFill(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val typed = events.withWatermark("ts", "0 seconds")
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("value"),
        (col("event_id") % 5 === 0).as("masked"))
      .as[GapIn]
      .groupByKey(_.user_id)
    typed.flatMapGroupsWithState[GapFillState, GapOut](
      OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (uid: Long, rows: Iterator[GapIn], state: GroupState[GapFillState]) =>
        val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
        var st = state.getOption
        val out = sorted.map { e =>
          val obs = if (e.masked) None else Some(e.value)
          if (!e.masked) st = Some(GapFillState(e.value))
          GapOut(e.event_id, uid, obs, st.map(_.lastVal))
        }
        st.foreach(state.update)
        out.iterator
    }.toDF().select(col("event_id"), col("user_id"),
      col("masked"), col("filled"))
  }

  /** Streaming face of [[batchDedup]]: dropDuplicatesWithinWatermark
    * keeps per-key state only until the watermark passes the key's
    * event time — bounded state, unlike dropDuplicates whose state
    * grows with the stream's full history. Correct whenever a re-
    * delivery arrives within the watermark delay of the original,
    * which is the at-least-once replay case this models. */
  def streamingDedup(events: DataFrame): DataFrame =
    events.union(events.filter(col("event_id") % 17 === 0))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join — the streaming face of
    * batchClickConversions. Watermarks on BOTH sides let Spark evict
    * join state once an input falls out of every possible interval:
    * state per side is bounded by (watermark delay + gap) of data, not
    * the stream's history. */
  def streamStreamJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") +
          expr(s"INTERVAL $SessionGapMinutes MINUTES"))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        col("click_ts"), col("purchase_ts"))
  }

  /** Streaming face of [[batchStaticEnrich]], join stage only (the agg
    * parity rides on the batch face's oracle): a STREAM-STATIC
    * equi-join — no watermark and no join state, because the static
    * side is wholly available every micro-batch and is re-read then
    * (picking up dimension updates between batches). Spark broadcasts
    * the dim when it is small; a fact-scale dim shuffles per
    * micro-batch — pre-bucket it on the join key instead. */
  def streamingStaticEnrich(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(customer.select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("c_mktsegment"),
        col("value"))

  /** Per-user materialized state, batch face: the table a streaming
    * upsert sink converges to after consuming the whole stream. */
  def batchUserState(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(col("ts")).as("last_ts"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("total_value"))
      .orderBy(col("user_id"))

  /** Streaming face of [[batchUserState]]: a foreachBatch UPSERT sink —
    * the production pattern for maintaining a keyed materialized view
    * in a plain-parquet lake (no transactional table format needed).
    * Each micro-batch reduces to per-user partials (map-side combine:
    * shuffle is per-batch-sized, not history-sized), merges them into
    * the persisted state by key, and commits via write-temp + atomic
    * directory swap so readers never observe a half-written state.
    * State math is DECIMAL end-to-end — associative merging of double
    * partial sums would drift across batch boundaries and diverge from
    * the batch face.
    *
    * At scale the state table is partitioned/bucketed by the key so
    * each merge touches only the partitions a batch's keys hash to;
    * the read-merge-swap below is the single-directory version of the
    * same contract. */
  def foreachBatchUpsert(spark: SparkSession, events: DataFrame,
      stateDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      upsertBatch(spark, batch, batchId, stateDir)
    }

  /** One micro-batch of the upsert sink, EXACTLY-ONCE under replay:
    * Structured Streaming re-delivers a micro-batch when the engine
    * crashed between the sink's commit and the checkpoint's — an
    * additive merge would double-count it. The committed batchId rides
    * INSIDE the swapped state directory (an underscore-prefixed
    * sidecar, invisible to parquet readers like _SUCCESS), so state
    * content and its batch watermark commit in the SAME atomic
    * directory move: a replayed batchId <= the marker is a no-op.
    * The swap window itself is crash-recovered on entry — a fully
    * written `.next` left by a crash mid-swap is promoted, a stranded
    * `.old` is restored — so no interleaving of crash points loses or
    * double-applies a batch. StreamingSpec replays a committed batch
    * and crashes the swap at both holes to pin this. */
  private[graft] def upsertBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, stateDir: String): Unit = {
    import java.nio.file.{Files, Paths}
    val stateSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("n_events", LongType),
      StructField("last_ts", TimestampType),
      StructField("total_value", DecimalType(18, 2))))
    val statePath = Paths.get(stateDir)
    val next = Paths.get(stateDir + ".next")
    val old = Paths.get(stateDir + ".old")
    // swap-window crash recovery: a missing state dir with a COMMITTED
    // .next (its _committed_batch marker exists — the marker is written
    // only after the parquet write finished) means the previous run died
    // between its two moves — finish the commit. A .next WITHOUT the
    // marker is a partial parquet write from a crash mid-batch: it never
    // committed, so delete it (its batch will be redelivered) and fall
    // through to the .old rollback. Promoting a markerless partial would
    // double-count its rows on redelivery (marker absent → lastCommitted
    // = -1) — the exactly-once hole ADVICE r13 flagged.
    if (!Files.exists(statePath)) {
      if (Files.exists(next) &&
          Files.exists(next.resolve("_committed_batch")))
        Files.move(next, statePath)
      else {
        deleteRecursively(next)
        if (Files.exists(old)) Files.move(old, statePath)
      }
    }
    val marker = statePath.resolve("_committed_batch")
    val lastCommitted =
      if (Files.exists(marker))
        new String(Files.readAllBytes(marker),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      else -1L
    if (batchId <= lastCommitted) return // replayed batch: already merged
    // sum over DECIMAL(18,2) widens to (28,2); cast back so the
    // persisted state schema is stable across batches
    val partial = batch.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(col("ts")).as("last_ts"),
        sum(col("value").cast(DecimalType(18, 2)))
          .cast(DecimalType(18, 2)).as("total_value"))
    val merged =
      if (Files.exists(statePath)) {
        val state = spark.read.schema(stateSchema).parquet(stateDir)
        state.unionByName(partial)
          .groupBy(col("user_id"))
          .agg(sum(col("n_events")).as("n_events"),
            max(col("last_ts")).as("last_ts"),
            sum(col("total_value")).cast(DecimalType(18, 2))
              .as("total_value"))
      } else partial
    merged.write.mode("overwrite").parquet(next.toString)
    Files.write(next.resolve("_committed_batch"),
      batchId.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // swap: the state dir is replaced between, not during, batches
    deleteRecursively(old)
    if (Files.exists(statePath)) Files.move(statePath, old)
    Files.move(next, statePath)
    deleteRecursively(old)
    ()
  }

  /** The deterministic CDC changelog both cdc-apply faces consume:
    * every event is a keyed change op — a DELETE for every tenth
    * event_id, an UPSERT otherwise — ordered by (ts, event_id) within
    * its key. A derived view, so the contract exists at every SF. */
  def cdcOps(events: DataFrame): DataFrame =
    events.select(col("user_id"), col("ts"), col("event_id"),
      when(col("event_id") % 10 === 0, lit("D")).otherwise(lit("U"))
        .as("op"),
      col("value"))

  /** CDC changelog APPLY, batch face: materialize the final keyed
    * state an I/U/D stream leaves behind — last op in (ts, event_id)
    * order wins per key, keys whose last op is a DELETE vanish from
    * the materialization. The Debezium/lakehouse merge semantic,
    * reduced to ONE key-partitioned window argmax (the q22
    * WindowGroupLimit shape — no self-join against a "latest" table)
    * plus a same-exchange count; the value column rides the argmax
    * row untouched, so there is no accumulation and no float seam. */
  def batchCdcApply(events: DataFrame): DataFrame = {
    val byKey = Window.partitionBy(col("user_id"))
    val w = byKey.orderBy(col("ts").desc, col("event_id").desc)
    cdcOps(events)
      .withColumn("rn", row_number().over(w))
      .withColumn("n_ops", count(lit(1)).over(byKey))
      .filter(col("rn") === 1 && col("op") === "U")
      .select(col("user_id"), col("n_ops"),
        col("ts").as("last_ts"), col("value").as("last_value"))
      .orderBy(col("user_id"))
  }

  /** Streaming face of [[batchCdcApply]]: a stateful last-writer-wins
    * aggregation — per key, max over the (ts, event_id)-ordered change
    * struct (op and value ride along), plus the op count; tombstoned
    * keys filter out AFTER the aggregate so a delete arriving mid-
    * stream still retracts earlier upserts in complete-mode output.
    * State per key is one struct + one counter, O(keys) total —
    * watermark-free because CDC state is, by definition, forever
    * (a key can be updated arbitrarily late). */
  def streamingCdcApply(events: DataFrame): DataFrame =
    cdcOps(events)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ops"),
        max(struct(col("ts"), col("event_id"), col("op"), col("value")))
          .as("last"))
      .filter(col("last.op") === "U")
      .select(col("user_id"), col("n_ops"),
        col("last.ts").as("last_ts"), col("last.value").as("last_value"))

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try stream.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
      finally stream.close()
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_upsert_sink" -> ((s, dir) =>
      batchUserState(Tables.load(s, dir, "events"))),
    "stream_window_agg" -> ((s, dir) =>
      batchWindowAgg(Tables.load(s, dir, "events"))),
    "stream_approx_distinct" -> ((s, dir) =>
      batchDistinctUsers(Tables.load(s, dir, "events"))),
    "stream_cep_pairs" -> ((s, dir) =>
      batchCepPairs(Tables.load(s, dir, "events"))),
    "stream_topk" -> ((s, dir) =>
      batchTopUsers(Tables.load(s, dir, "events"))),
    "stream_sliding_agg" -> ((s, dir) =>
      batchSlidingAgg(Tables.load(s, dir, "events"))),
    "stream_sessionize" -> ((s, dir) =>
      batchSessionize(Tables.load(s, dir, "events"))),
    "stream_session_window" -> ((s, dir) =>
      batchSessionWindow(Tables.load(s, dir, "events"))),
    "stream_stream_join" -> ((s, dir) =>
      batchClickConversions(Tables.load(s, dir, "events"))),
    "stream_dedup" -> ((s, dir) =>
      batchDedup(Tables.load(s, dir, "events"))),
    "stream_static_join" -> ((s, dir) =>
      batchStaticEnrich(Tables.load(s, dir, "events"),
        Tables.load(s, dir, "customer"))),
    "stream_late_audit" -> ((s, dir) =>
      batchLateAudit(Tables.load(s, dir, "events"))),
    "stream_rate_alert" -> ((s, dir) =>
      batchRateAlert(Tables.load(s, dir, "events"))),
    // batch face = the gated LOCF window (operators.Etl.gapFill);
    // the streaming face (streamingGapFill) is parity-tested
    "stream_gapfill" -> ((s, dir) =>
      graft.operators.Etl.gapFill(Tables.load(s, dir, "events"))),
    // last-writer-wins changelog materialization; the streaming
    // aggregation face is parity-tested
    "stream_cdc_apply" -> ((s, dir) =>
      batchCdcApply(Tables.load(s, dir, "events"))))

  def oracleSql: Map[String, String] = Map(
    // identical statement to etl_gapfill — the streaming key gates the
    // SAME semantics its stateful face must converge to
    "stream_gapfill" ->
      """SELECT event_id, user_id,
        |  CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS masked,
        |  LAST_VALUE(CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END
        |      IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS filled
        |FROM events ORDER BY event_id""".stripMargin,
    "stream_upsert_sink" ->
      """SELECT user_id, COUNT(*) AS n_events, MAX(ts) AS last_ts,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the same derived changelog, the same last-writer-wins argmax and
    // tombstone filter
    "stream_cdc_apply" ->
      """WITH ops AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op,
        |    value
        |  FROM events),
        |r AS (
        |  SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_ops
        |  FROM ops)
        |SELECT user_id, n_ops, ts AS last_ts, value AS last_value
        |FROM r WHERE rn = 1 AND op = 'U'
        |ORDER BY user_id""".stripMargin,
    "stream_topk" ->
      """WITH c AS (
        |  SELECT TIME_BUCKET(INTERVAL '1 hour', ts) AS window_start,
        |    user_id, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
        |    ORDER BY n DESC, user_id) AS rnk FROM c)
        |SELECT window_start, user_id, n, CAST(rnk AS BIGINT) AS rank
        |FROM r WHERE rnk <= 3
        |ORDER BY window_start, rank""".stripMargin,
    // the same LAG adjacency, window bound, and census
    "stream_cep_pairs" ->
      """WITH o AS (
        |  SELECT user_id, event_type, EPOCH_US(ts) AS us,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS pt,
        |    LAG(EPOCH_US(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS pus
        |  FROM events)
        |SELECT user_id, COUNT(*) AS n_matches,
        |  MAKE_TIMESTAMP(MIN(pus)) AS first_view,
        |  MAKE_TIMESTAMP(MAX(us)) AS last_click
        |FROM o
        |WHERE event_type = 'click' AND pt = 'view'
        |  AND us - pus <= 600000000
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // exact distinct replay; the HLL gate asserts TRUE
    "stream_approx_distinct" ->
      """SELECT TIME_BUCKET(INTERVAL '1 hour', ts) AS window_start,
        |  event_type, COUNT(DISTINCT user_id) AS n_exact,
        |  TRUE AS approx_ok
        |FROM events GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin,
    "stream_window_agg" ->
      """SELECT TIME_BUCKET(INTERVAL '1 hour', ts) AS window_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    // every event belongs to 2 sliding windows: the 30-min bucket it
    // falls in, and that bucket minus 30 min (duration 1 h, slide 30 m)
    "stream_sliding_agg" ->
      """SELECT window_start, event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM (
        |  SELECT TIME_BUCKET(INTERVAL '30 minutes', ts) AS window_start,
        |    event_type, value FROM events
        |  UNION ALL
        |  SELECT TIME_BUCKET(INTERVAL '30 minutes', ts)
        |      - INTERVAL '30 minutes' AS window_start,
        |    event_type, value FROM events
        |) t GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin,
    "stream_sessionize" ->
      """SELECT user_id, session_id, COUNT(*) AS n_events,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end
        |FROM (
        |  SELECT user_id, ts,
        |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM (
        |    SELECT user_id, event_id, ts,
        |      CASE WHEN EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER
        |          (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |        THEN 1 ELSE 0 END AS new_sess
        |    FROM events) t) u
        |GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    // >= at the boundary (vs the custom-state face's >): an event at
    // exactly last_ts + gap falls OUTSIDE the [start, last+gap) window
    "stream_session_window" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    LAG(EPOCH_US(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |m AS (
        |  SELECT user_id, ts,
        |    SUM(CASE WHEN prev_us IS NULL
        |               OR EPOCH_US(ts) - prev_us >= 1800000000 THEN 1
        |             ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS sid
        |  FROM g)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 30 MINUTES AS session_end,
        |  COUNT(*) AS n_events
        |FROM m GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "stream_stream_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  c.user_id, c.ts AS click_ts, p.ts AS purchase_ts
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |ORDER BY click_id, purchase_id""".stripMargin,
    // oracle over the UNDUPLICATED table: the Spark side injects
    // re-deliveries then dedups, so any dedup failure shifts n/total
    "stream_dedup" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_static_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // the oracle computes the watermark with the NAIVE single global
    // window — hash equality proves the Spark side's distributed
    // chunked prefix scan is the same function
    "stream_late_audit" ->
      """WITH obs AS (
        |  SELECT event_id, event_type,
        |    EPOCH_MS(ts)
        |      - (((event_id % 1000003) * 2654435761) % 3600) * 1000 AS tms
        |  FROM events),
        |wm AS (
        |  SELECT event_type, tms,
        |    MAX(tms) OVER (ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS watermark_ms
        |  FROM obs)
        |SELECT event_type, COUNT(*) AS n_events,
        |  CAST(COUNT(*) FILTER (WHERE tms < watermark_ms - 600000)
        |    AS BIGINT) AS n_late,
        |  CAST(COALESCE(SUM(CASE WHEN tms < watermark_ms - 600000
        |      THEN watermark_ms - 600000 - tms ELSE 0 END), 0) AS BIGINT)
        |    AS late_ms_sum,
        |  CAST(COALESCE(MAX(CASE WHEN tms < watermark_ms - 600000
        |      THEN watermark_ms - 600000 - tms ELSE 0 END), 0) AS BIGINT)
        |    AS late_ms_max
        |FROM wm GROUP BY event_type ORDER BY event_type""".stripMargin,
    // explicit integer-sum mean/stddev (NOT the engine stddev
    // aggregate) — identical IEEE arithmetic on both sides, z rounded
    // to 4 decimals
    "stream_rate_alert" ->
      """WITH counts AS (
        |  SELECT TIME_BUCKET(INTERVAL '1 hour', ts) AS window_start,
        |    event_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |stats AS (
        |  SELECT window_start, event_type, n,
        |    CAST(SUM(n) OVER w AS BIGINT) AS s1,
        |    CAST(SUM(n * n) OVER w AS BIGINT) AS s2,
        |    CAST(COUNT(*) OVER w AS BIGINT) AS m
        |  FROM counts
        |  WINDOW w AS (PARTITION BY event_type ORDER BY window_start
        |               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |scored AS (
        |  SELECT window_start, event_type, n,
        |    CASE WHEN m = 24 AND
        |        SQRT(GREATEST((CAST(s2 AS DOUBLE)
        |          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / m)
        |          / (m - 1), 0.0)) > 0
        |      THEN ROUND((n - CAST(s1 AS DOUBLE) / m)
        |        / SQRT(GREATEST((CAST(s2 AS DOUBLE)
        |            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / m)
        |            / (m - 1), 0.0)), 4)
        |    END AS z
        |  FROM stats)
        |SELECT window_start, event_type, n, z,
        |  COALESCE(ABS(z), 0.0) >= 3.0 AS alert
        |FROM scored ORDER BY window_start, event_type""".stripMargin)
}
