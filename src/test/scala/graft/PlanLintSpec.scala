package graft

/** Global plan lint over EVERY SparkEntry query: the scale promises
  * that hold library-wide must be visible in (the absence of) red-flag
  * physical operators — a per-operator audit can miss a regression a
  * later edit introduces elsewhere. */
class PlanLintSpec extends GraftSpec {

  /** knn_brute / knn_hamming broadcast a BOUNDED query set into a
    * crossJoin by design — the only intentional nested-loop joins in
    * the library, with their scale contract documented in
    * Similarity.scala. (knn_ivf and the PQ / IVF-PQ faces assign and
    * encode with pq_assign / pq_encode, probe through plan-literal
    * query lists and score packed codes with adc_scan, all against
    * plan-literal codebooks and lookup tables, and join nothing
    * nested-loop.) */
  private val intentionalCross =
    Set("knn_brute", "knn_hamming",
      // broadcasts a 1-ROW packed source-count vector (the same
      // bounded-codebook shape as the ANN cell assignment); see
      // Sampling.interleave's scale note
      "sample_interleave",
      // broadcasts the 1-ROW approx_top_k sketch against the exact
      // top-10 rows (10 × 1 join) — the accuracy-gate shape of
      // q18/q21 applied to a sketch that lives in one aggregate row
      "q35_approx_topk",
      // embeds knn_brute as its dense leg — the same bounded
      // query-set broadcast; the fusion itself joins two
      // #queries·k-sized rank tables hash-wise
      "hybrid_rrf",
      // embeds knn_brute (bounded query-set broadcast) as the exact
      // leg; the audit joins two #queries·k rank tables
      "emb_recall_audit",
      // knn_brute's bounded query-set broadcast builds the candidate
      // pool; the greedy itself is pool-bounded per group
      "emb_mmr",
      // runs knn_brute twice (full-dim and truncated-prefix legs),
      // both the same bounded query-set broadcast
      "emb_matryoshka",
      // knn_brute's bounded anchor-set broadcast with the label
      // filter pushed before ranking
      "emb_hard_negatives",
      // joins the 1-row vocabulary totals with the 1-row regression
      // fit (1 × 1 cross)
      "text_zipf",
      // broadcasts the 1-ROW totals row against the month-partition
      // counts (the zipf/totals shape)
      "etl_skew_audit",
      // broadcasts the 1-ROW derived as-of watermark against the
      // (type, day) aggregate — the skew-audit totals shape
      "etl_freshness",
      // broadcasts the language-margin (|langs| rows) and 1-row total
      // to rebuild the full sources×langs grid INCLUDING zero cells —
      // both sides dimension-sized at any corpus size
      // (Corpus.mixDrift's scale note)
      "corpus_mix_drift",
      // broadcasts the 1-ROW corpus order-count total into the
      // brand-pair lift comparison (the zipf/totals shape); the pair
      // join itself is orderkey-hashed
      "q53_basket_pairs",
      // the event-type pairs join (a<b over the |types|-row sketch
      // table — dimension-sized both sides); sketches are k-long
      // arrays, corpus rows never enter the nested loop
      "q56_kmv_setops",
      // broadcasts the 1-ROW ledger receipt of the gated load onto the
      // loaded table rows (the skew-audit totals shape)
      "etl_catalog_load",
      // broadcasts the 1-ROW edge-count total onto the per-community
      // stats (the zipf/totals shape); Graph.modularity's scale note
      "graph_modularity",
      // k+1 rounds each crossing the corpus with the 1-ROW new center
      // (the bounded-codebook shape); Similarity.kCenterSelect's
      // scale note
      "emb_kcenter")

  test("no query plan contains a cartesian product or stray nested loop") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (k, q) =>
      val plan = q(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$k compiles to a cartesian product:\n${plan.take(1200)}")
      if (!intentionalCross(k))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$k compiles to a nested-loop join:\n${plan.take(1200)}")
    }
  }

  /** sample_temperature's and sample_mixture's global windows run
    * AFTER groupBy(source) — the frame is source-cardinality-sized
    * (bounded at any corpus size, never rows), per the scale notes on
    * Sampling.temperatureMix / mixtureRates. stream_late_audit's
    * chunk-prefix window runs AFTER groupBy(chunk) — a
    * rows/LateChunk-sized frame, the tiny upper level of its
    * distributed prefix scan (Streaming.batchLateAudit). Every other
    * registered plan must be free of unpartitioned windows: Spark
    * executes them on ONE partition, the exact scale-killer q34's
    * gate shed in round 7. */
  private val boundedFrameWindows =
    Set("sample_temperature", "sample_mixture", "stream_late_audit",
      // same source-cardinality frame as sample_mixture (the window
      // runs over the per-source aggregate, never rows)
      "sample_epoch_plan",
      // the rank window runs over the ALREADY-CUT top-100 remnant of
      // TakeOrderedAndProject — a constant-size frame at any corpus
      // size (TextAnalysis.zipfFit's scale note)
      "text_zipf",
      // the trailing-week window runs over the per-DAY aggregate —
      // calendar-bounded at any corpus size (Etl.volumeAnomaly's
      // scale note; the skew-audit precedent with an ordered frame)
      "etl_volume_anomaly",
      // the cumulative windows run over the power-of-two checkpoint
      // table — ≤64 rows at ANY corpus size (log₂ of the doc count;
      // TextAnalysis.heapsGrowth's scale note)
      "text_heaps")

  private def physOps(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      physOps(a.executedPlan)
    case other => other +: other.children.flatMap(physOps)
  }

  test("no query plan carries an unpartitioned window over an unbounded frame") {
    import org.apache.spark.sql.execution.window.WindowExec
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (k, _) => boundedFrameWindows(k) }
      .foreach { case (k, q) =>
        val bad = physOps(q(spark, sf).queryExecution.executedPlan)
          .collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
        assert(bad.isEmpty,
          s"$k moves all rows to one partition for a global window:\n" +
            bad.map(_.toString.take(300)).mkString("\n"))
      }
  }
}
