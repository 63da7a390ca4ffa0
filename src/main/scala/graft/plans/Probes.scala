package graft.plans

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

/** Fused checkpoint-plus-probe (optimization round 18, guide §5): many
  * operators eagerly localCheckpoint a frame and then immediately run a
  * tiny scalar aggregation over it — a convergence signature, a stage
  * count, a degenerate-bucket guard stat. Each such probe is a separate
  * driver-blocking job, and on the 30-70-job orchestration faces the
  * ~25-45 ms of driver latency per job is the dominant cost (r17 §5c).
  * `Dataset.observe` (CollectMetrics) computes the same aggregates
  * DURING the checkpoint's materialization job, so the probe rides the
  * pass the operator already pays.
  */
object Probes {

  /** Eagerly localCheckpoint `df` while computing the scalar aggregate
    * `aggs` inside the SAME materialization job. Returns the
    * checkpointed frame and the one-row aggregate result.
    *
    * Metric delivery runs through the (asynchronous) query-execution
    * listener bus, so the result is awaited with a bounded timeout
    * ([[awaitObserved]]). The values are identical either way:
    * deterministic aggregates of the materialized rows. */
  def checkpointObserved(df: DataFrame, aggs: Column*): (DataFrame, Row) = {
    require(aggs.nonEmpty, "checkpointObserved needs at least one aggregate")
    val obs = Observation()
    val ck = df.observe(obs, aggs.head, aggs.tail: _*).localCheckpoint(true)
    (ck, awaitObserved(ck, obs.future, 1500.millis, aggs))
  }

  /** The observed row, or — when it has not arrived within `wait` —
    * the same aggregates computed from the materialized checkpoint
    * blocks: one extra cheap job, never a wrong answer. The metrics
    * fail to arrive when the listener bus lags, or when an optimizer
    * erases the CollectMetrics node; on Spark 4.1 no empty input
    * erased it at the root of a checkpoint (empty LocalRelation, empty
    * RDD, pruned filter, empty shuffle, join and aggregate were
    * tried). Every fallback is logged at WARN and counted in
    * [[fallbacks]], so it never passes silently. */
  private[graft] def awaitObserved(ck: DataFrame, metrics: Future[Row],
      wait: FiniteDuration, aggs: Seq[Column]): Row =
    try Await.result(metrics, wait)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        fallbackCount.incrementAndGet()
        log.warn(s"observed checkpoint metrics did not arrive within " +
          s"${wait.toMillis} ms; recomputing them from the checkpoint in " +
          "an extra job")
        ck.agg(aggs.head, aggs.tail: _*).head()
    }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val fallbackCount = new java.util.concurrent.atomic.AtomicLong

  /** Timed-out observations [[checkpointObserved]] recomputed in this
    * JVM — a process-local observability counter (the
    * `Dedup.lastDroppedBuckets` pattern): 0 = every probe rode its
    * checkpoint job. */
  def fallbacks: Long = fallbackCount.get()
}
