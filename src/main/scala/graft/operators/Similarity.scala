package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType}

import graft.functions.{HyperplaneBits, PqCodebook}
import graft.plans.Loops
import graft.sources.{Knobs, Stores, Tables}

/** Embedding similarity operators (SURVEY §2C): near-dup detection via
  * random-hyperplane LSH, brute-force cosine kNN, and IVF-bucketed
  * approximate kNN.
  *
  * Scale design:
  *  - dedup_embedding: candidates come ONLY from shared (band, bucket)
  *    keys — shuffle is keyed by bucket; no all-pairs cosine anywhere.
  *  - knn_brute: broadcasts the (small) QUERY set and streams the big
  *    side once. Documented non-scaling path for the query-set axis —
  *    correctness baseline for the IVF variant.
  *  - knn_ivf: k-means cells trained on the driver over a bounded
  *    hash-order sample (one `pq_lloyd` aggregate per Lloyd pass),
  *    corpus assigned by the `pq_assign` kernel against a plan-literal
  *    codebook; each query's probe cells come from the same codebook on
  *    the driver, and every vector scores only the queries probing its
  *    cell — no join, no shuffle keyed by cell.
  *  - PQ / IVF-PQ: the same trainer builds the codebooks, `pq_encode`
  *    packs every vector in one map-only pass, and `adc_scan` scores
  *    the packed codes (see the ADC and persisted-index sections).
  *
  * Hyperplanes come from a fixed seed inside the native
  * hyperplane_bits expression — deterministic across runs and cluster
  * layouts. The native vector functions read float embeddings
  * directly (no per-row cast/copy to double).
  */
object Similarity {

  val Dim = 64

  /** Default LSH bits per band. 4 bits (16 buckets/band over 12 bands)
    * is calibrated for the synthetic corpus's moderate-cosine (≥0.4)
    * threshold at test scale; PRODUCTION near-dup passes (cosine ≥0.9,
    * ≥10⁶ vectors) should run 8-16 — candidate volume grows as
    * n²/2^bits, so bits must grow with log₂(n). [[autoBitsPerBand]]
    * encodes exactly that rule; the registered production face
    * (dedup_embedding_lsh) derives its bits from the corpus count. */
  val BitsPerBand = 4

  /** Expected band-bucket occupancy [[autoBitsPerBand]] targets. */
  val TargetOccupancy = 32

  /** bitsPerBand for an n-vector corpus: the smallest b with
    * TargetOccupancy·2^b ≥ n — i.e. ⌈log₂(n/TargetOccupancy)⌉ computed
    * in INTEGER arithmetic (a float log2 could round differently from
    * the DuckDB oracle's replay at exact powers of two), clamped to
    * [4,16]. Expected occupancy stays ~TargetOccupancy, so candidate
    * volume is ~bands·n·occ/2 — LINEAR in n — instead of the
    * fixed-bits n²/2^bits blowup (the one super-linear key in the
    * round-9 sf1 audit: 12.5× at 10× data). */
  def autoBitsPerBand(n: Long): Int = {
    // occupancy target resolves through `emb.lsh_occupancy` (DEPLOY.md
    // §6); gates run knobless so the compiled 32 is bit-for-bit, and
    // the oracle's COUNT(*) replay only ever sees that default
    val occ = graft.sources.Knobs.long("emb.lsh_occupancy",
      TargetOccupancy.toLong)
    require(occ >= 1 && occ <= (1L << 40),
      s"emb.lsh_occupancy out of range [1, 2^40]: $occ")
    var b = 0
    while (b < 16 && (occ << b) < n) b += 1
    math.max(4, b)
  }

  /** Fixed IVF centroid budget — corpus-size-INDEPENDENT: the centroid
    * broadcast and the O(n·C) assignment cost have CONSTANT C at any
    * corpus size (never a function of n). 16 ≈ √n for the 500-vector
    * synthetic corpus; tune per deployment with C ≈ √n capped by the
    * executor broadcast budget (C·Dim·8 bytes), e.g. C=2^16 at 10⁹
    * vectors. */
  val CentroidBudget = 16

  /** Lloyd refinement passes applied to the seed sample when building
    * the IVF codebook. Measured on the (near-random) synthetic corpus:
    * recall@5 at nprobe=2 improves 0.36 → 0.42 over unrefined seed
    * points; corpora with real cluster structure gain much more.
    * Beyond ~3 passes the assignment churn no longer pays for the
    * extra passes (one bounded-sample aggregate job each). */
  val RefineIters = 2

  /** Native codegen'd dot product (graft.functions.DotProduct) — a
    * fused primitive loop instead of zip_with+aggregate lambda
    * interpretation; registered by GraftExtensions. */
  def dot(a: Column, b: Column): Column = call_function("dot_product", a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Native single-pass cosine (graft.functions.CosineSimilarity). */
  def cosine(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  /** Cosine from a precomputed dot and two norms, degenerate-safe: a
    * zero-norm side yields -2.0 (strictly below every real cosine, so
    * such rows sort last and tie-break on id deterministically) instead
    * of ANSI-mode DIVIDE_BY_ZERO killing the whole query. The branch is
    * lazy in both codegen and interpreted paths, so the division never
    * evaluates for the degenerate rows. */
  private def safeCos(dotCol: Column, na: Column, nb: Column): Column =
    when(na === 0 || nb === 0, lit(-2.0)).otherwise(dotCol / (na * nb))

  /** (vec_id, band, bucket): all 48 sign bits come from ONE native
    * hyperplane_bits call; each band's bucket is plain bit arithmetic.
    * Band count derives from the plane budget: 48/bits bands. */
  private def lshBanded(vecs: DataFrame, bitsPerBand: Int): DataFrame = {
    require(bitsPerBand >= 1 && bitsPerBand <= 16,
      s"bitsPerBand must be in [1,16], got $bitsPerBand")
    val bands = HyperplaneBits.NumPlanes / bitsPerBand
    vecs.select(col("vec_id"),
      call_function("hyperplane_bits", col("embedding")).as("hb"))
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"), col("hb"))
      .select(col("vec_id"), col("band"),
        expr(s"(hb >> (band * $bitsPerBand)) & ${(1 << bitsPerBand) - 1}")
          .as("bucket"))
  }

  /** Near-dup pairs: hyperplane-LSH candidates verified by exact cosine
    * >= threshold. Candidates come from a (band, bucket) equi-self-join
    * of the banded frame restricted (semi-join) to buckets whose size
    * is in (1, maxBucket] — no bucket's id list is ever materialized as
    * one array row (a degenerate bucket at production scale would be a
    * multi-GB row under a collect_list shape; the join form streams it)
    * and the pair volume runs in the join's generated loop instead of a
    * per-pair HOF lambda (measured 2.1 s → join-loop cost at sf0.1 for
    * the 1.08M-candidate build). The sign-bit pipeline evaluates once;
    * shuffles are the size aggregation, the self-join, the pair
    * distinct, and the verify joins — all keyed.
    *
    * Scale tuning: expected bucket occupancy is ~n / 2^bitsPerBand per
    * band, so candidate volume grows as n²/2^bitsPerBand — bitsPerBand
    * must grow with log₂(n); see [[BitsPerBand]] for the production
    * guidance (≥8). `maxBucket` drops degenerate buckets (a bucket
    * holding a large fraction of the corpus means the band's planes
    * don't discriminate that region — its pairs are low-similarity
    * noise) and bounds the worst-case fan-out of any single group.
    *
    * Dropped buckets are NOT silent: `maxDroppedFraction` guards
    * against recall collapse — before building the pair plan, a tiny
    * metadata-scale aggregation ([[embeddingBucketStats]]) counts
    * dropped buckets, and the call FAILS with the numbers when the
    * dropped fraction exceeds the bound. When bitsPerBand is too small
    * for the corpus (occupancy ~n/2^bits > maxBucket everywhere) the
    * operator would otherwise return an empty result that reads as "no
    * near-dups". (An `Observation` on the pair plan cannot carry this:
    * AQE's empty-relation propagation erases the CollectMetrics node in
    * exactly the all-dropped case — verified on Spark 4.1.) Pass
    * `maxDroppedFraction = None` to skip the guard and its extra pass. */
  def embeddingPairs(vecs: DataFrame, threshold: Double = 0.4,
      maxBucket: Int = 1024, bitsPerBand: Int = BitsPerBand,
      maxDroppedFraction: Option[Double] = Some(0.5)): DataFrame = {
    val banded = maxDroppedFraction match {
      case Some(bound) =>
        // ONE evaluation of the sign-bit pipeline for both consumers:
        // the banded frame is (vec_id, band, bucket) rows — tiny at any
        // corpus size — so it localCheckpoints cheaply, the guard's
        // stats aggregation reads the materialized blocks, and the pair
        // plan below reuses them instead of re-running the hyperplane
        // projection as a second job (the r4 shape re-ran the whole
        // pipeline for the stats pass: 5.8 s vs 1.9 s guard-off at
        // sf0.1; shared, the guard costs one metadata-scale agg).
        val ck = lshBanded(vecs, bitsPerBand).localCheckpoint(true)
        val st = bucketStats(ck, maxBucket).collect().head
        val total = st.getLong(0) // sums are NULL when total is 0
        val dropped = if (total > 0) st.getLong(1) else 0L
        val ids = if (total > 0) st.getLong(2) else 0L
        if (total > 0 && dropped.toDouble / total > bound)
          throw new IllegalStateException(
            s"embeddingPairs recall collapse: $dropped of $total LSH " +
              s"buckets (holding $ids ids) exceed maxBucket=$maxBucket at " +
              s"bitsPerBand=$bitsPerBand — raise bitsPerBand (or maxBucket) " +
              "instead of trusting a near-empty result")
        ck
      // checkpoint here too: `banded` feeds both the size aggregation
      // and the semi-join below — uncheckpointed, the hyperplane
      // projection would run twice
      case None => lshBanded(vecs, bitsPerBand).localCheckpoint(true)
    }
    // buckets worth pairing: size in (1, maxBucket]; metadata-scale
    // (≤ bands·2^bits rows), so the semi-join's build side stays small
    val keep = banded
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1 && col("n") <= maxBucket)
      .select(col("band"), col("bucket"))
    val kept = banded.join(keep, Seq("band", "bucket"), "left_semi")
    val cands = kept.withColumnRenamed("vec_id", "id_a")
      .join(kept.withColumnRenamed("vec_id", "id_b"),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct() // a pair can collide in several bands
    verifyPairs(cands, vecs, threshold)
  }

  /** Exact-cosine verification of a candidate pair frame: join both
    * sides' embeddings back (each a keyed equi-join), one native
    * cosine per candidate, threshold, deterministic order. */
  private def verifyPairs(cands: DataFrame, vecs: DataFrame,
      threshold: Double): DataFrame = {
    val embs = vecs.select(col("vec_id"), col("embedding").as("e"))
    val ea = embs.toDF("va", "e_a")
    val eb = embs.toDF("vb", "e_b")
    cands.join(ea, col("id_a") === col("va"))
      .join(eb, col("id_b") === col("vb"))
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"),
        cosine(col("e_a"), col("e_b")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Correctness face for `dedup_embedding` (same role as knn_ivf's
    * full-probe face): pair generation that is provably COMPLETE and
    * exactly-once — ids hash into `blocks` blocks, each unordered block
    * pair (i ≤ j) is one band, and a vector joins every band naming its
    * block. The band equi-self-join then emits a same-block pair from
    * the diagonal band (i,i) and a cross-block pair from the single
    * band naming both blocks, so every unordered id pair appears in
    * EXACTLY one band and the emitted set equals the all-pairs cosine
    * answer — which DuckDB recomputes independently as the oracle (the
    * probabilistic LSH face keeps its recall guard and is spec-tested
    * against this face for recall and subset-ness).
    *
    * Quadratic by construction — a verification face, not the scale
    * path. Shape notes, measured at sf0.1 (n=2000, ~2M pairs):
    *  - embeddings ride the banded frame, so the whole pair volume
    *    lives inside ONE codegen'd join stage (join → dedup filter →
    *    native cosine → threshold), with no per-pair array
    *    construction and no second join — the collect_list +
    *    nested-HOF pair explosion this replaces costs ~2 µs per
    *    generated pair in the lambda interpreter (4.4 s for the
    *    candidate build alone);
    *  - the l side takes only band.i's block and the r side only
    *    band.j's, so the join emits each unordered pair once (plus the
    *    ordered-pair halving on diagonal bands) instead of 4× that;
    *  - the explicit repartition by band exists because the fan-out
    *    inherits the scan's partitioning — a single-file input would
    *    otherwise run the entire quadratic stage as ONE task (measured
    *    2.8 s single-task → 0.4 s at 32 slots). */
  def embeddingPairsExact(vecs: DataFrame, threshold: Double = 0.4,
      blocks: Int = 16): DataFrame = {
    val bandsExpr = expr(
      s"""flatten(transform(sequence(0, ${blocks - 1}),
         |  i -> transform(sequence(i, ${blocks - 1}),
         |    j -> struct(i AS i, j AS j))))""".stripMargin)
    val banded = vecs
      .select(col("vec_id"), col("embedding"),
        pmod(xxhash64(col("vec_id")), lit(blocks)).as("blk"))
      .select(col("vec_id"), col("embedding"), col("blk"),
        explode(bandsExpr).as("band"))
      .filter(col("blk") === col("band.i") || col("blk") === col("band.j"))
      .repartition(col("band"))
    val l = banded.filter(col("blk") === col("band.i"))
      .select(col("band"), col("vec_id").as("id_a"),
        col("embedding").as("e_a"))
    val r = banded.filter(col("blk") === col("band.j"))
      .select(col("band"), col("vec_id").as("id_b"),
        col("embedding").as("e_b"))
    l.join(r, Seq("band"))
      // diagonal bands emit both orderings of a same-block pair (and
      // the self-pair); cross bands emit each straddling pair once
      .filter(col("band.i") =!= col("band.j") || col("id_a") < col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("vec_a"),
        greatest(col("id_a"), col("id_b")).as("vec_b"),
        cosine(col("e_a"), col("e_b")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Side-output LSH occupancy stats, one row: (total_buckets,
    * dropped_buckets, dropped_ids) for the given maxBucket cut. Counts
    * only — the groupBy shuffles (band, bucket, count) rows, never the
    * id lists, so this stays metadata-scale at any corpus size. */
  def embeddingBucketStats(vecs: DataFrame, maxBucket: Int = 1024,
      bitsPerBand: Int = BitsPerBand): DataFrame =
    bucketStats(lshBanded(vecs, bitsPerBand), maxBucket)

  private def bucketStats(banded: DataFrame, maxBucket: Int): DataFrame =
    banded
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("total_buckets"),
        sum(when(col("n") > maxBucket, 1L).otherwise(0L))
          .as("dropped_buckets"),
        sum(when(col("n") > maxBucket, col("n")).otherwise(0L))
          .as("dropped_ids"))

  /** Brute-force cosine top-k: broadcast the small query set, one pass
    * over the corpus, per-query top-k via window. Ties break on
    * neighbor id for determinism. */
  def knnBrute(vecs: DataFrame, queryPred: Column, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val corpus = vecs.select(col("vec_id"), col("embedding").as("e"),
      l2norm(col("embedding")).as("nrm"))
    val queries = corpus.filter(queryPred)
      .toDF("query_id", "q_e", "q_nrm")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        safeCos(dot(col("e"), col("q_e")), col("nrm"), col("q_nrm"))
          .as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Exact brute-force top-k in two LINEAR passes — [[knnBrute]]'s
    * contract (same columns, same tie-break, bit-identical output)
    * without its per-query sort (verdict r16 #5: the recall audits'
    * ground-truth leg paid an O(n·Q·log) map-side sort under the
    * rank window at every scale point).
    *
    * Pass 1 histograms each query's cosine scores into `buckets`
    * fixed-width bins — a map-side-combining hash aggregate whose
    * exchange is Q·B count rows, corpus-size independent. The cut is
    * the LOWER boundary of the bucket one below the highest bucket
    * whose from-the-top cumulative count reaches k (the extra bucket
    * absorbs float boundary error, so the cut is provably ≤ the k-th
    * score). Pass 2 re-projects the scores, keeps only survivors ≥
    * the cut (⊇ the true top-k, ties included — anything excluded is
    * strictly below the k-th score) and ranks that O(Q·(k+ε)) set.
    * The corpus never shuffles in either pass (queries and cuts both
    * broadcast); the only sort left is over survivors. Queries with
    * fewer than k candidates get cut = below −1 (keep everything). */
  def knnBruteThreshold(vecs: DataFrame, queryPred: Column, k: Int = 5,
      buckets: Int = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val corpus = vecs.select(col("vec_id"), col("embedding").as("e"),
      l2norm(col("embedding")).as("nrm"))
    // computed once, broadcast into both passes
    val queries = corpus.filter(queryPred)
      .toDF("query_id", "q_e", "q_nrm").localCheckpoint(true)
    def scores = corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        safeCos(dot(col("e"), col("q_e")), col("nrm"), col("q_nrm"))
          .as("cos_sim"))
    val wcum = Window.partitionBy(col("query_id"))
      .orderBy(col("b").desc)
    val cuts = scores
      .select(col("query_id"),
        floor((col("cos_sim") + 1.0) / 2.0 * buckets).cast("int").as("b"))
      .groupBy(col("query_id"), col("b")).agg(count(lit(1)).as("n"))
      .withColumn("cum", sum(col("n")).over(wcum))
      .groupBy(col("query_id"))
      // one bucket below the k-th's: float-safe and still O(k+ε) mass
      .agg((coalesce(max(when(col("cum") >= k, col("b"))), lit(0))
        - 1).as("b_cut"))
      .select(col("query_id"),
        (col("b_cut").cast("double") / buckets * 2.0 - 1.0).as("t_cut"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scores.join(broadcast(cuts), "query_id")
      .filter(col("cos_sim") >= col("t_cut"))
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Contrastive hard-negative mining — per anchor, the top-k most-
    * similar vectors carrying a DIFFERENT label: the negatives that
    * teach a contrastive/embedding model the most (random negatives
    * are mostly easy and waste batch slots; the hardest in-batch
    * confusions drive the gradient — the standard mining step before
    * dual-encoder / reranker training). Same contract as [[knnBrute]]
    * (broadcast anchor set, one corpus pass, rank ties on neighbor id,
    * ROUND(4) similarity) with the label-mismatch predicate pushed
    * BEFORE ranking, so the window ranks only true negatives.
    *
    * Scale: the knn_brute shape — the corpus never shuffles, the
    * anchor set broadcasts, output is |anchors|·k. Production swaps
    * the brute leg for the IVF/PQ index scan with the same label
    * filter; the mining contract (hardest different-label top-k) is
    * engine-independent. */
  def hardNegatives(vecs: DataFrame, queryPred: Column,
      k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val corpus = vecs.select(col("vec_id"), col("label"),
      col("embedding").as("e"), l2norm(col("embedding")).as("nrm"))
    val queries = corpus.filter(queryPred)
      .toDF("query_id", "q_label", "q_e", "q_nrm")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id") &&
        col("label") =!= col("q_label"))
      .select(col("query_id"), col("q_label"),
        col("vec_id").as("neighbor_id"), col("label").as("neg_label"),
        safeCos(dot(col("e"), col("q_e")), col("nrm"), col("q_nrm"))
          .as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("q_label"), col("neighbor_id"),
        col("neg_label"), round(col("cos_sim"), 4).as("cos_r"),
        col("rank").cast("int").as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Matryoshka truncation audit (Kusupati et al. 2022): MRL-trained
    * embeddings pack most signal into their PREFIX dims, so serving
    * can truncate D=64 → 16 for a 4× index shrink — IF retrieval
    * survives. The audit measures exactly that: per query, top-k by
    * full-dim cosine vs top-k by truncated-prefix cosine, reporting
    * the overlap count and the query's prefix energy fraction
    * (‖q[:16]‖²/‖q‖²). Ranking reuses knnBrute's contract (rank ties
    * on neighbor_id, unrounded engine floats — the proven knn_brute
    * cross-engine seam).
    *
    * Scale shape: two bounded broadcast-query scans (the knn_brute
    * shape — the corpus never shuffles, each leg is one pass), a
    * query-keyed overlap join on k·|Q| rows, and a |Q|-sized output.
    * The audit stays |Q|-bounded at ANY corpus size (emb_recall_audit
    * discipline). */
  def matryoshkaAudit(vecs: DataFrame, queryPred: Column, k: Int = 5,
      subDim: Int = 16): DataFrame = {
    val tvecs = vecs.select(col("vec_id"),
      slice(col("embedding"), 1, subDim).as("embedding"))
    val full = knnBrute(vecs, queryPred, k)
      .select(col("query_id"), col("neighbor_id"))
    val trunc = knnBrute(tvecs, queryPred, k)
      .select(col("query_id"), col("neighbor_id"))
    val ov = full.join(trunc, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n"))
    vecs.filter(queryPred)
      .select(col("vec_id").as("query_id"),
        round(dot(slice(col("embedding"), 1, subDim),
            slice(col("embedding"), 1, subDim)) /
          dot(col("embedding"), col("embedding")), 4).as("energy_r"))
      .join(ov, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("n"), lit(0L)).as("n_overlap"), col("energy_r"))
      .orderBy(col("query_id"))
  }

  /** LSH-bucketed RADIUS search (range query): all corpus vectors
    * within cosine ≥ threshold of each query — the "everything this
    * similar" retrieval mode (near-dup lookup of an incoming document,
    * contamination blast radius around an eval item), as opposed to
    * top-k. Candidates are query-anchored: a corpus vector qualifies
    * only if it shares an LSH (band, bucket) with the query — ONE
    * bucket-keyed join of the banded corpus against the |Q|-sized
    * banded query set, never a corpus self-join — then exact-cosine
    * verified. Output is a |Q|-bounded per-query audit row (match
    * count, best match), so zero-recall queries are visible rather
    * than silently absent.
    *
    * Scale shape: the banded frame is computed once (auto-bits — same
    * linear-occupancy rule as the dedup faces); candidate volume is
    * Σ_query bucket-occupancy ≈ |Q|·bands·occupancy — independent of
    * corpus size beyond the one scan. */
  def radiusSearch(vecs: DataFrame, queryPred: Column,
      threshold: Double = 0.3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bits = autoBitsPerBand(vecs.count())
    val banded = lshBanded(vecs, bits).localCheckpoint(true)
    val qb = banded.join(vecs.filter(queryPred).select(col("vec_id")),
        Seq("vec_id"))
      .toDF("query_id", "band", "bucket")
    val cands = banded.join(qb, Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id")).distinct()
    val embs = vecs.select(col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("nrm"))
    val verified = cands
      .join(embs.toDF("vec_id", "e_c", "n_c"), Seq("vec_id"))
      .join(embs.toDF("query_id", "e_q", "n_q"), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        safeCos(dot(col("e_c"), col("e_q")), col("n_c"), col("n_q"))
          .as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .localCheckpoint(true)
    val counts = verified.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val best = verified.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("vec_id").as("best_id"),
        round(col("cos_sim"), 4).as("best_cos_r"))
    vecs.filter(queryPred).select(col("vec_id").as("query_id"))
      .join(counts, Seq("query_id"), "left_outer")
      .join(best, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("n"), lit(0L)).as("n_matches"),
        col("best_id"), col("best_cos_r"))
      .orderBy(col("query_id"))
  }

  /** Embedding ingest-quality audit — the guard a vector pipeline runs
    * BEFORE indexing a new batch (a handful of zero or non-finite
    * vectors silently poison IVF centroids and cosine ranks): per
    * batch bucket (vec_id div 100), counts of zero-norm and
    * non-finite vectors, dimension-drift check against the expected
    * Dim, and the exact norm spread (min/max, fixed-point 1e6 — norms
    * are sqrt outputs, so the fp floor is the only cross-engine-safe
    * exact statistic). One scan, one map-side-combinable aggregate on
    * a bounded key. */
  def normAudit(vecs: DataFrame, expectedDim: Int = Dim): DataFrame = {
    val n2 = dot(col("embedding"), col("embedding"))
    vecs
      .select(expr("vec_id div 100").as("batch"),
        col("vec_id"), n2.as("n2"),
        size(col("embedding")).as("dim"))
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("n2") === 0.0, 1L).otherwise(0L)).as("n_zero"),
        sum(when(col("n2").isNaN || col("n2") === Double.PositiveInfinity,
          1L).otherwise(0L)).as("n_nonfinite"),
        sum(when(col("dim") =!= expectedDim, 1L).otherwise(0L))
          .as("n_dim_drift"),
        min(floor(sqrt(col("n2")) * 1e6).cast("long")).as("min_norm_fp"),
        max(floor(sqrt(col("n2")) * 1e6).cast("long")).as("max_norm_fp"))
      .orderBy(col("batch"))
  }

  /** LSH bucket-health audit — the pre-flight report run BEFORE
    * launching an embedding-dedup pass at scale, because the one thing
    * that turns banded LSH quadratic is bucket occupancy: per band,
    * bucket count, occupancy envelope, the EXACT candidate-pair mass
    * Σ sz·(sz−1)/2 the pair join would generate, and how many buckets
    * exceed the maxBucket=1024 degeneracy cut the pair stage drops.
    * Bits derive from the corpus count ([[autoBitsPerBand]]) exactly
    * as the production dedup face does, so the audit measures the
    * geometry that will actually run.
    *
    * Shape: the banded projection (one native hyperplane_bits call per
    * row), one (band, bucket)-keyed count, one band-keyed rollup —
    * nothing downstream of the first aggregate exceeds bucket
    * cardinality. All-integer, so the pair-mass arithmetic replays
    * exactly. */
  def lshBucketAudit(vecs: DataFrame, maxBucket: Int = 1024): DataFrame = {
    val bits = autoBitsPerBand(vecs.count())
    val sizes = lshBanded(vecs, bits)
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("sz"))
    sizes
      .groupBy(col("band").cast("long").as("band"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("sz")).as("n_rows"),
        max(col("sz")).as("max_bucket"),
        expr("sum(sz * (sz - 1) div 2)").as("cand_pairs"),
        sum(when(col("sz") > maxBucket, 1L).otherwise(0L))
          .as("n_oversize"))
      .orderBy(col("band"))
  }

  /** Pairwise-cosine geometry audit: the distribution of cosines over
    * a deterministic pair sample — the space-collapse check run on a
    * contrastively trained embedding space (a healthy space puts
    * unrelated pairs near 0; anisotropic collapse pushes the whole
    * histogram toward 1, and THAT is what kills retrieval, recall
    * curves, and dedup thresholds downstream). Pairs are (2k, 2k+1) by
    * vec_id — ids carry no content order, so adjacent-id pairing IS a
    * fixed random pair sample, replayable and linear (vs the n²
    * all-pairs truth). Cosines land in 16 fixed-width bins via
    * floor((cos+1)·8) — both engines compute the same IEEE double
    * left-to-right (the norm-audit precedent), so the floor grid
    * agrees bit-for-bit; per bin: pair count and the fixed-point
    * cosine envelope.
    *
    * Shape: one id-keyed self-join (linear — each row joins at most
    * once), per-row codegen'd dot/norms, map-side combine to ≤ 16
    * rows. */
  def pairCosineHist(vecs: DataFrame): DataFrame = {
    val even = vecs.filter(col("vec_id") % 2 === 0)
      .select((col("vec_id") / 2).cast("long").as("pair"),
        col("embedding").as("ea"))
    val odd = vecs.filter(col("vec_id") % 2 === 1)
      .select(expr("vec_id div 2").as("pair"),
        col("embedding").as("eb"))
    even.join(odd, "pair")
      .select(cosine(col("ea"), col("eb")).as("cos"))
      .select(
        least(floor((col("cos") + 1.0) * 8).cast("long"), lit(15L))
          .as("bin"),
        col("cos"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"),
        min(floor(col("cos") * 1e6).cast("long")).as("min_cos_fp"),
        max(floor(col("cos") * 1e6).cast("long")).as("max_cos_fp"))
      .orderBy(col("bin"))
  }

  /** Per-DIMENSION distribution audit — the anisotropy / dead-dimension
    * check run before trusting an embedding space (a dimension whose
    * variance has collapsed, or whose mean has drifted off zero,
    * silently degrades every cosine downstream; rogue dimensions with
    * outsized spread dominate distances). Elements quantize to an
    * integer micro grid (floor(x·1e6), exact: float→double is lossless
    * and the product is the same IEEE double on both engines), then
    * every statistic is an INTEGER sum — order-independent, so the
    * corpus-sized explode aggregates map-side into exactly `dim` rows
    * before the one tiny exchange. Unit-normalized inputs keep m² ≤
    * 1e12, so int64 holds ~9M vectors per dimension; beyond that the
    * same plan runs with the sums cast to DECIMAL(38,0) — the shape
    * does not change. */
  def dimStats(vecs: DataFrame): DataFrame =
    vecs
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"),
        floor(col("x").cast("double") * 1e6).cast("long").as("m"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("m")).as("sum_micro"),
        sum(col("m") * col("m")).as("sumsq_micro"),
        min(col("m")).as("min_micro"),
        max(col("m")).as("max_micro"))
      .orderBy(col("dim"))

  /** MMR fixed-point quantization scale: sims become exact BIGINTs, so
    * the greedy's comparisons are bit-identical across engines (the
    * emb_kmeans fixed-point precedent — a float MMR would flip picks
    * on last-ulp ties). */
  val MmrScale = 10000
  /** λ = 0.7 in tenths: score = 7·rel − 3·maxRedundancy, integers. */
  val MmrLambda10 = 7L
  val MmrPool = 20
  val MmrK = 5

  /** Per-candidate MMR state row (public: the typed Encoder's generated
    * deserializer must reach the constructor). */
  case class MmrCand(query_id: Long, vec_id: Long, qsim: Long,
      v: Array[Long])

  /** Maximal-marginal-relevance diversified retrieval (Carbonell &
    * Goldstein 1998): after relevance ranking, greedily select items
    * maximizing λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s) — the
    * training-data twin is diverse example selection (don't fill a
    * context window / annotation batch with near-duplicates of the top
    * hit). Pick 1 is pure relevance; each later pick is penalized by
    * its worst redundancy against the already-selected set.
    *
    * Scale shape: stage 1 is knnBrute's geometry — broadcast the small
    * query set, stream the corpus once, per-query top-`pool` window
    * (at 100 TB the pool comes from the ANN serve path instead; the
    * MMR stage is unchanged). Stage 2 is the sequential greedy — k
    * chained argmax-with-state steps that a relational form could only
    * express as k self-joins — run INSIDE executors per query group
    * via flatMapGroups: O(k·pool) integer ops on pool-bounded state,
    * millions of queries in parallel, no driver loop. All sims are
    * exact integer dots of FLOOR(x·1e4) fixed-point coords, ties on
    * vec_id — the whole selection sequence replays bit-for-bit. */
  def mmrDiversify(vecs: DataFrame, queryPred: Column, k: Int = MmrK,
      pool: Int = MmrPool): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import vecs.sparkSession.implicits._
    val q = vecs.select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * MmrScale).cast("long")).as("v"))
    val queries = q.filter(queryPred).toDF("query_id", "qv")
    def dotI(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (s, e) => s + e)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("qsim").desc, col("vec_id"))
    val cands = q.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        dotI(col("v"), col("qv")).as("qsim"), col("v"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= pool)
      .drop("rn")
    cands.as[MmrCand].groupByKey(_.query_id).flatMapGroups {
      (qid: Long, it: Iterator[MmrCand]) =>
        val cs = it.toArray.sortBy(c => (-c.qsim, c.vec_id))
        val n = cs.length
        def dot(a: Array[Long], b: Array[Long]): Long = {
          var s = 0L; var i = 0
          while (i < a.length) { s += a(i) * b(i); i += 1 }
          s
        }
        val taken = new Array[Boolean](n)
        // max sim to the selected set; only read once ≥1 pick exists
        val red = Array.fill(n)(Long.MinValue)
        val out = new scala.collection.mutable.ArrayBuffer[
          (Long, Long, Long, Long)](k)
        var step = 1
        while (step <= math.min(k, n)) {
          var best = -1
          var bestScore = Long.MinValue
          var i = 0
          while (i < n) {
            if (!taken(i)) {
              val s = if (step == 1) MmrLambda10 * cs(i).qsim
                else MmrLambda10 * cs(i).qsim - (10 - MmrLambda10) * red(i)
              // strict > plus the (-qsim, vec_id) scan order makes
              // ties resolve to the lowest vec_id among tied scores
              if (s > bestScore ||
                  (s == bestScore && cs(i).vec_id < cs(best).vec_id)) {
                best = i; bestScore = s
              }
            }
            i += 1
          }
          taken(best) = true
          out += ((qid, step.toLong, cs(best).vec_id, bestScore))
          var j = 0
          while (j < n) {
            if (!taken(j)) {
              val d = dot(cs(j).v, cs(best).v)
              if (d > red(j)) red(j) = d
            }
            j += 1
          }
          step += 1
        }
        out.iterator
    }.toDF("query_id", "sel_rank", "vec_id", "mmr_score")
      .orderBy(col("query_id"), col("sel_rank"))
  }

  /** Sign-bit binary quantization of the embedding table: 64 float
    * dims → two packed BIGINT halves (bit i of h0/h1 set iff
    * dim i / dim 32+i is >= 0) plus the positive-bit population count.
    * 256 B of floats become 8 B of codes — the 32× memory cut that
    * lets a 100 TB embedding store's code table fit cluster RAM — and
    * downstream Hamming distance is 2 XOR + 2 popcounts per pair vs
    * 64 multiplies. Purely per-row (narrow, codegen'd native
    * expression, no shuffle); both halves stay in [0, 2^32), so the
    * oracle replays the packing with plain SQL integer arithmetic. */
  def bitpack(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"),
        call_function("sign_pack32", col("embedding"), lit(0)).as("h0"),
        call_function("sign_pack32", col("embedding"), lit(32)).as("h1"))
      .withColumn("pos_bits",
        (bit_count(col("h0")) + bit_count(col("h1"))).cast("long"))

  /** Hamming-distance top-k over the bitpacked codes: broadcast the
    * (small) packed query set, one pass over the packed corpus, per-
    * query top-k via window — knnBrute's geometry, but the scanned
    * payload is 16 B/row instead of 256 B and the distance kernel is
    * integer XOR/popcount. By the hyperplane-rounding bound
    * (Goemans-Williamson / Charikar), P[sign bits differ] =
    * angle(a,b)/π per coordinate, so Hamming rank approximates cosine
    * rank; SimilaritySpec quantifies recall vs knnBrute on real data.
    * Ties break on (hamming, neighbor_id) — integer-exact, so the
    * oracle compare needs no float rounding anywhere. */
  def knnHamming(vecs: DataFrame, queryPred: Column, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val packed = bitpack(vecs).select("vec_id", "h0", "h1")
    val queries = packed.filter(queryPred).toDF("query_id", "q0", "q1")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("neighbor_id"))
    packed.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (bit_count(col("h0").bitwiseXOR(col("q0"))) +
          bit_count(col("h1").bitwiseXOR(col("q1")))).cast("long")
          .as("hamming"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Deterministic bounded codebook-training sample: the min(n, cap)
    * vectors with the smallest (xxhash64(vec_id), vec_id) — a rank
    * threshold, not a rate, so training cost is CONSTANT in corpus
    * size (verdict r16 #7: both k-means build passes scanned the full
    * corpus per refine iteration; standard practice trains quantizer
    * codebooks on ~256 samples per centroid — FAISS's
    * max_points_per_centroid discipline — and assigns full-corpus).
    * Hash order makes the sample corpus-representative and stable
    * under re-partitioning; one TakeOrderedAndProject materializes
    * it. Below the cap the sample IS the corpus. */
  private def trainingSample(vecs: DataFrame, cap: Int): DataFrame =
    vecs.select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(cap)

  /** A codebook trained on the driver: subspace j's centroids in slot
    * order, which is ascending c_id (a centroid's c_id is the vec_id of
    * the seed vector it grew from). Centroids are floats, as stored. */
  private final case class Trained(ids: Array[Array[Long]],
      cents: Array[Array[Array[Float]]]) {
    /** the codebook in double, as the kernels and the probe lists read it */
    lazy val book: PqCodebook =
      new PqCodebook(cents.map(_.map(_.map(_.toDouble))))

    /** the foldable [M][K_j][w] codebook the encode kernels read */
    lazy val lit: Column = tableLit(book.cents, Tables3)

    /** `pq_encode(v, this)`: the packed BINARY(M) code */
    def encode(v: Column): Column = call_function("pq_encode", v, lit)

    /** `pq_assign(v, this)`: per subspace, struct(slot, sim) */
    def assign(v: Column): Column = call_function("pq_assign", v, lit)

    /** subspace j's centroids in slot order, as the stored floats */
    def centroids(j: Column): Column = element_at(floatLit, j + 1)
    private lazy val floatLit: Column =
      tableLit(cents, ArrayType(ArrayType(Floats, false), false))

    /** subspace j's centroid at `slot`, as the stored floats */
    def centroid(j: Column, slot: Column): Column =
      element_at(centroids(j), slot + 1)

    /** (m, c_id, c_e, c_nrm, slot) rows as a local frame */
    def frame(spark: SparkSession): DataFrame = {
      import org.apache.spark.sql.Row
      val rows = for (j <- cents.indices; s <- cents(j).indices) yield {
        val c = cents(j)(s).map(_.toDouble)
        Row(j, ids(j)(s), cents(j)(s).toSeq,
          math.sqrt(dotAt(c, 0, c, 0, c.length)), s)
      }
      spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        org.apache.spark.sql.types.StructType.fromDDL(
          "m INT, c_id BIGINT, c_e ARRAY<FLOAT>, c_nrm DOUBLE, slot INT"))
    }
  }

  /** Deterministic k-means codebooks over `m` subspaces of Dim/m dims:
    * the seed is the k hash-order-first vectors, sliced into every
    * subspace, then `iters` Lloyd passes over the bounded
    * [[trainingSample]] of 256·k vectors, checkpointed once. Each pass
    * is ONE `pq_lloyd` aggregate over the sample — every vector's
    * per-subspace argmax and the members' fixed-point sums
    * ⌊x·1e9⌋ as exact BIGINTs (the [[labelCentroids]] trick), so the
    * means are BIT-IDENTICAL at any partitioning; the driver divides
    * them back (sum / (count·1e9), stored as float) and drops cells
    * that lost all members (the codebook may shrink — the geometry just
    * got coarser there). State crossing the wire per pass is K·(Dim+M)
    * longs per map task, independent of the corpus. Returns the seed
    * and every pass's codebook, in order. Consumers assign the FULL
    * corpus against the last one. */
  private def kmeans(vecs: DataFrame, k: Int, m: Int,
      iters: Int): Seq[Trained] = {
    val sample = trainingSample(vecs, 256 * k).localCheckpoint(true)
    val seed = sample.orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(k).collect().sortBy(_.getLong(0))
    require(seed.nonEmpty, "k-means needs a non-empty corpus to seed from")
    val w = Dim / m
    val first = Trained(Array.fill(m)(seed.map(_.getLong(0))),
      Array.tabulate(m)(j => seed.map(_.getSeq[Float](1)
        .slice(j * w, (j + 1) * w).toArray)))
    (1 to iters).scanLeft(first) { (cb, _) =>
      val cells = sample
        .agg(call_function("pq_lloyd", col("embedding"), cb.lit))
        .head().getSeq[collection.Seq[collection.Seq[Long]]](0)
      val kept = cells.map(_.zipWithIndex.filter(_._1.head > 0))
      Trained(
        kept.zipWithIndex.map { case (cs, j) =>
          cs.map(c => cb.ids(j)(c._2)).toArray }.toArray,
        kept.map(_.map { case (c, _) =>
          c.tail.map(sum => (sum.toDouble / (c.head.toDouble * 1e9)).toFloat)
            .toArray }.toArray).toArray)
    }
  }

  /** IVF approximate top-k: assign every vector to its nearest
    * centroid (the `pq_assign` kernel against a plan-literal codebook —
    * FIXED centroid budget, independent of corpus size; no join),
    * probe the nprobe nearest cells per query ([[PqCodebook.probe]],
    * the kernel's order, so a query's first probe is the cell its own
    * vector was assigned to), and score exact cosine only within
    * probed cells: each vector explodes the queries probing its cell,
    * read from a C-entry plan literal, and [[topPerTable]] keeps each
    * query's top k by (cos_sim DESC, neighbor_id ASC). With
    * `nprobe = centroidBudget` every cell is probed and the result is
    * EXACTLY brute force — the correctness face runs that
    * configuration against the brute oracle, which gates the whole IVF
    * pipeline (assignment, probing, ranking) end-to-end. The query set
    * is collected ([[AdcQueries]]): bounded, like every ADC face's. */
  def knnIvf(vecs: DataFrame, queryPred: Column, k: Int = 5,
      nprobe: Int = 2, centroidBudget: Int = CentroidBudget,
      refineIters: Int = RefineIters): DataFrame = {
    val cells = kmeans(vecs, centroidBudget, 1, refineIters).last
    val qs = new AdcQueries(vecs, queryPred)
    val probes = qs.vs.map(cells.book.probe(_, nprobe))
    val probing = tableLit(cells.book.cents(0).indices.map(c =>
      qs.vs.indices.filter(probes(_).contains(c))), IntLists)
    val cell = element_at(cells.assign(col("embedding")), 1).getField("slot")
    val scored = vecs
      .select(col("vec_id"), col("embedding").as("n_e"),
        l2norm(col("embedding")).as("n_nrm"),
        explode(element_at(probing, cell + 1)).as("t"))
      .filter(col("vec_id") =!= qs.id(col("t")))
      .select(col("t"), col("vec_id"), safeCos(dot(col("n_e"),
        qs.vec(col("t"))), col("n_nrm"), qs.norm(col("t"))).as("score"),
        lit(null).as("p"))
    topPerTable(scored, k)
      .select(qs.id(col("t")).as("query_id"), col("vec_id").as("neighbor_id"),
        col("score").as("cos_sim"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The IVF cells of a stored (slot, c_e) frame as their one-subspace
    * codebook, slot s = centroid s. Refuses slot gaps — a corrupt
    * store. */
  private def ivfCells(cells: DataFrame): PqCodebook = {
    val cs = cells.select(col("slot"), col("c_e")).collect()
      .map(r => r.getInt(0) -> doubles(r.get(1))).sortBy(_._1)
    require(cs.map(_._1).toSeq == cs.indices,
      "IVF cells have a gap in their slots — corrupt store")
    new PqCodebook(Array(cs.map(_._2)))
  }

  // ---- product quantization (PQ) ---------------------------------------

  /** Default PQ subspace count: Dim=64 splits into 4 subvectors of 16.
    * The geometry is a parameter everywhere below — compression and
    * fidelity trade directly (bytes/vector = m·log₂(k)/8), and the
    * knn_pq_adc correctness face deliberately runs a finer grid. */
  val PqM = 4
  /** Centroids per subspace codebook → each vector compresses to
    * PqM·log₂(PqK)/8 = 2 bytes (from 256): the memory lever that lets
    * a 10⁹-vector index live in RAM for ADC scanning. */
  val PqK = 16

  /** Correctness face for `emb_pq`: per vector, the code count, the
    * in-plan argmax certificate (the assigned centroid's cosine,
    * recomputed here from the stored float centroid with plain `dot`,
    * must reach the best cosine over the WHOLE subspace codebook — a
    * `greatest` fold that shares no arithmetic with the kernel, so a
    * kernel reporting a non-best slot fails it; degenerate
    * zero-norm/NaN rows escape explicitly), and the vector's l2 norm
    * recomposed FROM THE SUBSPACE DECOMPOSITION (‖x‖ = √Σ‖x_m‖²) — a
    * numeric DuckDB recomputes independently from the raw embedding,
    * so the emitted rows are tied to the actual vector data and to a
    * correct slicing, not just to row existence. The codes themselves
    * are k-means output — engine-specific by design, determinism and
    * optimality are spec-tested. One projection per vector (M·K
    * interpreted cosines for the bound): no corpus row is exploded or
    * shuffled. */
  def pqCodesGate(vecs: DataFrame): DataFrame = pqCodesGate(vecs, identity)

  /** [[pqCodesGate]] certifying `slots(pq_assign(...))` instead of the
    * kernel's own assignment — the seam a spec uses to show that a
    * wrong slot fails the certificate. */
  private[graft] def pqCodesGate(vecs: DataFrame,
      slots: Column => Column): DataFrame = {
    val book = kmeans(vecs, PqK, PqM, RefineIters).last
    val w = Dim / PqM
    val perSub = transform(slots(book.assign(col("embedding"))), (a, j) => {
      val e = slice(col("embedding"), j * w + 1, lit(w))
      val nrm = l2norm(e)
      def cos(c: Column): Column = safeCos(dot(e, c), nrm, l2norm(c))
      val best = aggregate(book.centroids(j), lit(Double.NegativeInfinity),
        (acc, c) => greatest(acc, cos(c)))
      struct(nrm.as("nrm"),
        (cos(book.centroid(j, a.getField("slot"))) >= best - lit(1e-12) ||
          nrm === 0 || isnan(best)).as("ok"))
    })
    vecs.select(col("vec_id"), perSub.as("s"))
      .select(col("vec_id"), size(col("s")).as("n_codes"),
        forall(col("s"), _.getField("ok")).as("argmax_ok"),
        round(sqrt(aggregate(col("s"), lit(0.0),
          (acc, x) => acc + x.getField("nrm") * x.getField("nrm"))), 4)
          .as("nrm_r"))
      .orderBy(col("vec_id"))
  }

  /** PQ distortion / codebook-quality audit — the compression-QA
    * report a pipeline needs before swapping exact vectors for codes
    * ("how much signal does the quantizer keep, and did training
    * actually help"): per subspace, the corpus size, the exact
    * fixed-point subspace energy Σ‖x_m‖² (the denominator of any
    * distortion ratio — DuckDB recomputes it independently from the
    * raw embeddings, tying the audit to the actual vector data and to
    * a correct slicing), and two in-plan certificates: the refined
    * codebook's total assigned cosine must be ≥ the unrefined seed's
    * (Lloyd training improved the quantizer on THIS corpus — the
    * claim a distortion audit exists to check), and every assigned
    * similarity is a valid cosine (|sim| ≤ 1). The assigned-similarity
    * totals themselves are k-means output — engine-specific by
    * design — so they gate as booleans, not hashed floats, the
    * emb_pq discipline.
    *
    * Scale: ONE training run yields both codebooks (the seed is its
    * first step); ONE corpus pass assigns every vector against both
    * with `pq_assign` (no join, no corpus shuffle), then one
    * map-side-combined M-row aggregate. */
  def pqDistortionAudit(vecs: DataFrame): DataFrame = {
    val books = kmeans(vecs, PqK, PqM, RefineIters)
    val w = Dim / PqM
    val sims = zip_with(books.last.assign(col("embedding")),
      books.head.assign(col("embedding")), (r, s) =>
        struct(r.getField("sim").as("sim"), s.getField("sim").as("sim0")))
    vecs.select(col("embedding"), posexplode(sims).as(Seq("m", "s")))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_vecs"),
        // per-ELEMENT fixed-point quantization before any fold (the
        // emb_centroids discipline): a whole-subvector float dot
        // crosses floor boundaries on 1-ulp engine differences
        sum(aggregate(
          transform(slice(col("embedding"), col("m") * w + 1, lit(w)),
            x => floor(x.cast("double") * 1e3).cast("long")),
          lit(0L), (a, q) => a + q * q)).as("nrm2_fp"),
        sum(floor(col("s.sim") * 1e9).cast("long")).as("sim_fp"),
        sum(floor(col("s.sim0") * 1e9).cast("long")).as("sim_fp_seed"),
        max(abs(col("s.sim"))).as("max_abs"))
      .select(col("m").cast("long").as("m"), col("n_vecs"),
        col("nrm2_fp"),
        (col("sim_fp") >= col("sim_fp_seed")).as("improved_ok"),
        (col("max_abs") <= lit(1.0 + 1e-9)).as("bounded_ok"))
      .orderBy(col("m"))
  }

  // ---- compressed-domain ADC scan -------------------------------------
  // ADC top-k (asymmetric distance computation, Jégou et al. 2011) over
  // ONE packed row per vector, (vec_id, [ivf_cell,] codes BINARY(M)),
  // byte j = the vector's slot in subspace j's codebook. The native
  // `adc_scan` kernel scores a query batch in one pass: per query, the
  // sum of the M entries the codes select from a Q·M·K partial-dot
  // table built on the driver from the bounded query set and codebook.
  // The map-side `top_c` aggregate keeps each query's best C, then C
  // full vectors per query are fetched and ranked by exact cosine.
  // Scale contract: a T·M·K·8-byte lookup table (T = Q, +1 norm table
  // for PQ; + a Q·C coarse table for IVF-PQ) ships with the task binary
  // as a plan literal; no corpus row is exploded, joined or shuffled
  // before top-C, whose exchange carries partitions × Q × C entries.
  // The `adc_ok` certificate compares the table score with the one the
  // DECODED codes give (`pq_decode`: no arithmetic shared with the
  // table sum).

  /** Correctness face for `knn_pq_adc`: ADC retrieves `candidates`
    * top-C per query (the code-scan stage under test), the C survivors
    * are re-ranked by EXACT cosine against their original vectors, and
    * the final top-k is emitted with the in-plan ADC≡reconstruction
    * identity certificate carried per row. When ADC's top-C contains
    * the true top-k — and this is exactly the retrieve-then-rerank
    * shape a production PQ index runs (scan 10⁹ codes, fetch C full
    * vectors, exact-rank those) — the output EQUALS brute-force top-k,
    * so the DuckDB oracle recomputes the entire answer independently:
    * a corrupted code, broken ADC table, or skewed scoring perturbs
    * the candidate set and fails the hash.
    *
    * The face runs a FINER grid than the library default (m=32 2-dim
    * subspaces instead of 4×16-dim; 32 code bytes/vector instead of 4,
    * still 8× under the raw floats) — the same move as knn_ivf's
    * probe-every-cell face: parameters chosen so the approximation is
    * faithful enough to gate. On this near-random synthetic corpus the
    * default geometry ranks true top-5 neighbors as low as ADC rank
    * 397/500 at sf0.01 (coarse codes keep almost none of the weak
    * cosine signal), so NO candidate budget short of the whole corpus
    * gates it; at m=32 with ONE Lloyd pass the worst true-top-5 ADC
    * rank measured 45 at sf0.001, 68 at sf0.01, 80 at sf0.1 — C=200
    * holds everywhere with ≥2.5× margin, and the pipeline is
    * deterministic so the margin is stable run to run. */
  def knnPqAdcExact(vecs: DataFrame, queryPred: Column, k: Int = 5,
      candidates: Int = 200, m: Int = 32,
      refineIters: Int = 1): DataFrame = {
    val (book, codes) = pqIndex(vecs, refineIters = refineIters, m = m)
    knnPqAdcFrom(book, codes, vecs, queryPred, k, candidates)
  }

  /** Candidate budget for the retrieve-then-rerank faces, derived from
    * corpus count: max(200, 18·⌈√n⌉). It must reach the worst ADC rank
    * of a true top-k neighbor, which the data sets as much as n does.
    * Worst true-top-5 ranks measured for the serve geometry (m=32, one
    * Lloyd pass; PQ and IVF-PQ with every cell probed): 68 at sf0.01,
    * 88 at sf0.1 (2k vectors), 348 at 20k and 346 at 60k vectors of
    * the sf1 scale corpus, and up to 275 on 1000 i.i.d. unit vectors
    * (30 seeds) — near-random data, where the true neighbors
    * (cos ≈ 0.33) sit inside the quantization noise. There 18·⌈√n⌉ =
    * 576 keeps 2× margin (a budget of 256 misses a neighbor), and ≥ 7×
    * at the sf1 points. Each query's C survivors cross one exchange per
    * scan partition, so C is not free: at n = 1000 each extra
    * candidate costs ~0.1 KB of shuffle per query. The rule is
    * measured, not a bound: on structureless data the worst rank grows
    * with n, so a deployment audits it (nprobeOperatingTable's
    * full-probe recall) or sets `knn.candidates`. C stays a small
    * corpus fraction (0.06% at 10⁹), preserving ADC's scan-codes /
    * fetch-few economics. */
  def autoAdcCandidates(n: Long): Int =
    math.max(200, 18 * math.ceil(math.sqrt(n.toDouble)).toInt)

  /** PQ index state: the slotted codebook (m, c_id, c_e, c_nrm, slot)
    * and the packed code store (vec_id, codes) — one `pq_encode`
    * projection over the corpus: byte j is the vector's slot in
    * subspace j, the c_id rank (a Lloyd pass that empties a cell
    * leaves K_j < K live slots; the scan kernel refuses any code past
    * them). Codes are not materialized here: the encode is a map-only
    * pass, and the caller decides whether to write, scan or pin it. */
  def pqIndex(vecs: DataFrame, k: Int = PqK, refineIters: Int = RefineIters,
      m: Int = PqM): (DataFrame, DataFrame) = {
    require(k >= 1 && k <= 256,
      s"PQ codebooks of $k centroids do not fit one-byte codes (K ≤ 256)")
    val book = kmeans(vecs, k, m, refineIters).last
    (book.frame(vecs.sparkSession),
      vecs.select(col("vec_id"), book.encode(col("embedding")).as("codes")))
  }

  /** Sequential double dot of a[ao, ao+n) and b[bo, bo+n) — DotProduct's
    * exact arithmetic, so driver-built tables match in-plan dots bit
    * for bit. */
  private def dotAt(a: Array[Double], ao: Int, b: Array[Double], bo: Int,
      n: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < n) { s += a(ao + i) * b(bo + i); i += 1 }
    s
  }

  private def doubles(v: Any): Array[Double] =
    v.asInstanceOf[scala.collection.Seq[Any]]
      .map(_.asInstanceOf[Number].doubleValue).toArray

  /** The bounded query side of an ADC scan, collected once: ids
    * ascending, vectors widened to double (exact for float embeddings)
    * and their norms. Table t of every lookup table is query ids(t). */
  private final class AdcQueries(vecs: DataFrame, pred: Column) {
    private val rows = vecs.filter(pred)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> doubles(r.get(1))).sortBy(_._1)
    val ids: Array[Long] = rows.map(_._1)
    val vs: Array[Array[Double]] = rows.map(_._2)
    val nrm: Array[Double] = vs.map(v => math.sqrt(dotAt(v, 0, v, 0, v.length)))
    def n: Int = ids.length
    private val (idLit, vecLit, nrmLit) = (tableLit(ids, Longs),
      tableLit(vs, ArrayType(Doubles, false)), tableLit(nrm, Doubles))
    def id(t: Column): Column = element_at(idLit, t + 1)
    def vec(t: Column): Column = element_at(vecLit, t + 1)
    def norm(t: Column): Column = element_at(nrmLit, t + 1)
  }

  /** A slotted PQ codebook collected for the lookup tables: cents(j)(s)
    * is subspace j's centroid at slot s. Refuses gaps in subspaces or
    * slots — a corrupt store. */
  private final class PqBook(book: DataFrame) {
    private val bySub = book.select(col("m"), col("slot"), col("c_e"),
        col("c_nrm")).collect()
      .map(r => (r.getInt(0), r.getInt(1), doubles(r.get(2)), r.getDouble(3)))
      .sortBy(r => (r._1, r._2)).groupBy(_._1).toSeq.sortBy(_._1).map(_._2)
    require(bySub.nonEmpty && bySub.zipWithIndex.forall { case (rs, j) =>
        rs.head._1 == j && rs.map(_._2).toSeq == rs.indices },
      "PQ codebook has a gap in its subspaces or slots — corrupt store")
    val cents: Array[Array[Array[Double]]] = bySub.map(_.map(_._3)).toArray
    val nrm: Array[Array[Double]] = bySub.map(_.map(_._4)).toArray
    private val offsets = cents.map(_.head.length).scanLeft(0)(_ + _)

    /** [M][K_j] partial dots of q's subspace slices with every centroid */
    def partialDots(q: Array[Double]): Array[Array[Double]] =
      cents.indices.map(j => cents(j).map(c =>
        dotAt(q, offsets(j), c, 0, c.length))).toArray

    def decode(codes: Column): Column =
      call_function("pq_decode", codes, tableLit(cents, Tables3))
  }

  private val IntLists = ArrayType(ArrayType(IntegerType, false), false)
  private val Longs = ArrayType(LongType, containsNull = false)
  private val Doubles = ArrayType(DoubleType, containsNull = false)
  private val Floats = ArrayType(FloatType, containsNull = false)
  /** the [T][M][K] lookup-table / [M][K][w] codebook shape */
  private val Tables3 = ArrayType(ArrayType(Doubles, false), false)

  /** A driver-built array as a plan literal that prints as a handle,
    * not element by element (see GraftTableLiteral). */
  private def tableLit(value: Any, dt: ArrayType): Column =
    org.apache.spark.sql.classic.GraftTableLiteral(value, dt)

  /** Per table t, the best `n` rows by (score DESC, vec_id ASC) with
    * their payload `p`, as (t, rank, vec_id, score, p) — the map-side
    * top_c aggregate, whose exchange carries at most partitions × Q × n
    * entries. Its output is Q rows at any scale, so one task merges
    * the partials. */
  private def topPerTable(rows: DataFrame, n: Int): DataFrame =
    rows.groupBy(col("t"))
      .agg(call_function("top_c", col("score"), col("vec_id"), col("p"),
        lit(n)).as("top"))
      .coalesce(1)
      .select(col("t"), posexplode(col("top")).as(Seq("pos", "c")))
      .select(col("t"), (col("pos") + 1).as("rank"), col("c.id").as("vec_id"),
        col("c.score").as("score"), col("c.payload").as("p"))

  /** Exact re-rank of the scan's (t, vec_id, score, p) rows: keep each
    * table's top `candidates` (the payload `p` — what the certificate
    * decodes — rides along), fetch the survivors' full vectors, and
    * keep the top-k by exact cosine, each row carrying the certificate
    * |score − direct(q, qn)| < 1e-9. Both cuts are [[topPerTable]], so
    * the re-rank breaks ties exactly as the scan does. */
  private def adcRerank(scored: DataFrame, vecs: DataFrame, qs: AdcQueries,
      k: Int, candidates: Int, direct: (Column, Column) => Column)
      : DataFrame = {
    val corpus = vecs.select(col("vec_id"), col("embedding").as("n_e"),
      l2norm(col("embedding")).as("n_nrm"))
    val (q, qn) = (qs.vec(col("t")), qs.norm(col("t")))
    val exact = topPerTable(scored, candidates)
      .join(corpus, "vec_id")
      .select(col("t"), col("vec_id"),
        // certificate on the scan's score; the exact cosine re-ranks
        (abs(col("score") - direct(q, qn)) < 1e-9).as("p"),
        safeCos(dot(col("n_e"), q), col("n_nrm"), qn).as("score"))
    topPerTable(exact, k)
      .select(qs.id(col("t")).as("query_id"), col("vec_id").as("neighbor_id"),
        round(col("score"), 4).as("cos_r"), col("rank"),
        col("p").as("adc_ok"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The retrieve-then-rerank path of [[knnPqAdcExact]] and
    * [[knnPqServe]], taking PREBUILT index state: `book` = the slotted
    * codebook (m, slot, c_e, c_nrm), `codes` = the packed store
    * (vec_id, codes). No k-means, no codebook derivation: one
    * `adc_scan` pass over the codes — tables 0..Q−1 hold each query's
    * partial dots, table Q the squared centroid norms, so the same
    * pass yields the reconstruction norm the approximate cosine
    * divides by — then top-C and the exact re-rank. */
  def knnPqAdcFrom(book: DataFrame, codes: DataFrame, vecs: DataFrame,
      queryPred: Column, k: Int = 5, candidates: Int = 200): DataFrame = {
    val pq = new PqBook(book)
    val qs = new AdcQueries(vecs, queryPred)
    val lut = qs.vs.map(pq.partialDots) :+ pq.nrm.map(_.map(x => x * x))
    val scored = codes
      .select(col("vec_id"),
        call_function("adc_scan", col("codes"), tableLit(lut, Tables3))
          .as("s"),
        col("codes"))
      .select(col("vec_id"), col("codes"),
        posexplode(slice(col("s"), 1, qs.n)).as(Seq("t", "adc_dot")),
        element_at(col("s"), qs.n + 1).as("r2"))
      .filter(col("vec_id") =!= qs.id(col("t")))
      .select(col("t"), col("vec_id"), safeCos(col("adc_dot"),
        qs.norm(col("t")), sqrt(col("r2"))).as("score"), col("codes").as("p"))
    adcRerank(scored, vecs, qs, k, candidates, (q, qn) => {
      val rv = pq.decode(col("p"))
      safeCos(dot(q, rv), qn, l2norm(rv))
    })
  }

  // ---- IVF-PQ composed index ------------------------------------------
  // The architecture a 10⁹-vector serving index actually runs (IVFADC,
  // Jégou/Douze/Schmid 2011): a coarse quantizer routes every vector to
  // a cell, PQ encodes the RESIDUAL x − c(cell) (residuals are smaller
  // and better-centered than raw vectors, so the same code budget keeps
  // more signal), and a query scans only probed cells' codes with
  // table lookups before an exact re-rank of the few survivors.

  /** Build the index state: slotted coarse cells (c_id, slot, c_e,
    * c_nrm), the slotted residual PQ codebook, and the packed
    * (vec_id, ivf_cell, codes) store, ivf_cell = the cell's slot. Both
    * codebooks train on the driver over bounded samples ([[kmeans]]);
    * the store is ONE projection over the corpus — `pq_assign` routes
    * the vector to its cell, the float residual x − c(cell) is taken
    * against the plan-literal cells, and `pq_encode` packs it. No
    * corpus row is joined or shuffled; the plan literals hold
    * C·Dim + m·K·(Dim/m) floats, corpus-size-independent. */
  def ivfPqIndex(vecs: DataFrame, centroidBudget: Int = CentroidBudget,
      m: Int = PqM,
      refineIters: Int = RefineIters): (DataFrame, DataFrame, DataFrame) = {
    val spark = vecs.sparkSession
    val cells = kmeans(vecs, centroidBudget, 1, refineIters).last
    val residuals = vecs
      .select(col("vec_id"), col("embedding"),
        element_at(cells.assign(col("embedding")), 1).getField("slot")
          .as("ivf_cell"))
      .select(col("vec_id"), col("ivf_cell"),
        zip_with(col("embedding"), cells.centroid(lit(0), col("ivf_cell")),
          (x, c) => x - c).as("embedding"))
    val book = kmeans(residuals, PqK, m, refineIters).last
    (cells.frame(spark).drop("m"), book.frame(spark),
      residuals.select(col("vec_id"), col("ivf_cell"),
        book.encode(col("embedding")).as("codes")))
  }

  /** IVF-PQ serving query: scan the probed cells' codes, exact-cosine
    * re-rank the `candidates` survivors, return top-k — retrieve cost
    * is codes-only until the final C full-vector fetches per query.
    * Emits the table≡reconstruction identity certificate per row:
    * the scan's approximate dot must match (1e-9) an independently
    * built dot against cell-centroid + decoded residual. */
  def knnIvfPq(vecs: DataFrame, queryPred: Column, k: Int = 5,
      nprobe: Int = 2, candidates: Int = 50,
      centroidBudget: Int = CentroidBudget, m: Int = PqM,
      refineIters: Int = RefineIters): DataFrame = {
    val (cells, book, codes) =
      ivfPqIndex(vecs, centroidBudget, m, refineIters)
    knnIvfPqFrom(cells, book, codes, vecs, queryPred, k, nprobe, candidates)
  }

  /** The cell-pruned scan + exact re-rank path of [[knnIvfPq]] and
    * [[knnIvfPqServe]], taking PREBUILT index state (the three frames
    * [[ivfPqIndex]] materializes). No k-means runs here. Each query
    * probes its `nprobe` nearest cells ([[PqCodebook.probe]], the
    * order `pq_assign` routed the stored vectors by); one `adc_scan`
    * pass scores every stored vector against every query probing its
    * cell as dot(q, c_cell) + Σ_m dot(q_m, recon_m), the coarse term
    * from a C·Q table (NULL for a query that does not probe the cell)
    * and the residual term from the per-query M·K partial-dot table. */
  def knnIvfPqFrom(cells: DataFrame, book: DataFrame, codes: DataFrame,
      vecs: DataFrame, queryPred: Column, k: Int = 5, nprobe: Int = 2,
      candidates: Int = 50): DataFrame = {
    val pq = new PqBook(book)
    val qs = new AdcQueries(vecs, queryPred)
    val ivf = ivfCells(cells)
    val cs = ivf.cents(0)
    val probed = qs.vs.map(ivf.probe(_, nprobe).toSet)
    // the coarse term dot(q_t, cell c), NULL where t does not probe c
    val coarse = cs.indices.map(c => qs.vs.indices.map(t =>
      if (probed(t)(c)) java.lang.Double.valueOf(dotAt(qs.vs(t), 0, cs(c), 0,
        cs(c).length)) else null))
    val cellVecs = tableLit(cs, ArrayType(Doubles, false))
    val scored = codes
      .select(col("vec_id"), struct(col("ivf_cell"), col("codes")).as("p"),
        posexplode(call_function("adc_scan", col("codes"),
          tableLit(qs.vs.map(pq.partialDots), Tables3), col("ivf_cell"),
          tableLit(coarse, ArrayType(ArrayType(DoubleType, true), false))))
          .as(Seq("t", "score")))
      .filter(col("score").isNotNull && col("vec_id") =!= qs.id(col("t")))
    adcRerank(scored, vecs, qs, k, candidates, (q, _) =>
      dot(q, element_at(cellVecs, col("p.ivf_cell") + 1)) +
        dot(q, pq.decode(col("p.codes"))))
  }

  /** Correctness face for `knn_ivfpq` (same contract as
    * [[knnPqAdcExact]]): probe EVERY cell, so the scan's candidate set
    * covers the whole corpus minus what the approximate ordering cuts
    * at `candidates` — with the finer m=32 residual grid, brute-force
    * top-5 sits inside the scan's top-100 at sf0.001, sf0.01 AND sf0.1
    * (measured: the exact face equals brute at C=100 everywhere on the
    * tested {25,50,100} grid), so the C=200 default holds with ≥2×
    * margin, the pipeline is deterministic, and the exact re-rank
    * output EQUALS brute-force top-k — the DuckDB oracle recomputes
    * the whole answer. */
  def knnIvfPqExact(vecs: DataFrame, queryPred: Column, k: Int = 5,
      candidates: Int = 200, centroidBudget: Int = CentroidBudget,
      m: Int = 32, refineIters: Int = 1): DataFrame =
    knnIvfPq(vecs, queryPred, k, nprobe = centroidBudget, candidates,
      centroidBudget, m, refineIters)

  // ---- persisted index: build once, serve many ------------------------
  // At 100 TB an ANN index is built ONCE (the k-means + codebook +
  // encode phase — hours of cluster time) and served millions of times
  // (codes-only scans — milliseconds to seconds). The knn_* build faces
  // above conflate the two costs inside one query; this section is the
  // production split: `build*Index` materializes the index frames as
  // parquet (the vector-store counterpart of the dedup_incremental*
  // text stores), and the `*Serve` faces read them back and run ONLY
  // the serving plan. Build is idempotent and crash/race-safe: the
  // index is published through [[graft.sources.Stores.ensure]], so
  // concurrent builders (two test suites, bench + verify) converge on
  // one complete index and a killed build never leaves a half-index
  // behind the marker.
  //
  // Store format v3 (c_e widened to double on write — exact for float
  // centroids — so every frame reads back with a fixed schema):
  //   PQ      cents (m, c_id, slot, c_e, c_nrm); codes (vec_id, codes)
  //   IVF-PQ  cells (c_id, slot, c_e, c_nrm); pq_cents as PQ cents;
  //           codes (vec_id, ivf_cell = cell slot, codes)
  //   both    geometry ([pq_k | centroid_budget], m, refine_iters,
  //           build_count)

  /** The PQ index of a dataset directory; the geometry rides the path. */
  def pqIndexPath(dir: String, m: Int = 32, refineIters: Int = 1): String =
    Stores.path(Stores.Ann, dir, s"pq_m${m}_r$refineIters")

  def ivfPqIndexPath(dir: String, centroidBudget: Int = CentroidBudget,
      m: Int = 32, refineIters: Int = 1): String =
    Stores.path(Stores.Ann, dir,
      s"ivfpq_c${centroidBudget}_m${m}_r$refineIters")

  private val CentsSchema =
    "m INT, c_id BIGINT, slot INT, c_e ARRAY<DOUBLE>, c_nrm DOUBLE"

  /** Codebook frames are K·M-row local frames, which a write would
    * split into default-parallelism slices: one file each. */
  private def writeCents(cents: DataFrame, path: String): Unit =
    cents.select(col("m"), col("c_id"), col("slot"),
        col("c_e").cast("array<double>").as("c_e"), col("c_nrm"))
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** Materialize the PQ index (exact-face geometry by default) in store
    * format v3, plus the one-row geometry sidecar
    * ([[buildLshStore]]'s discipline, verdict r16 #2):
    * (pq_k, m, refine_iters, build_count). The serve face reads it
    * back and REFUSES a store whose indexed corpus no longer matches
    * the live one — post-build vectors have no code rows, so serving a
    * stale index silently omits them from every answer. */
  def buildPqIndex(vecs: DataFrame, path: String, k: Int = PqK,
      refineIters: Int = 1, m: Int = 32): Unit = {
    val buildCount = vecs.count()
    val (book, codes) = pqIndex(vecs, k, refineIters, m)
    writeCents(book, s"$path/cents")
    codes.write.mode("overwrite").parquet(s"$path/codes")
    Stores.writeGeometry(vecs.sparkSession, path,
      "pq_k INT, m INT, refine_iters INT, build_count BIGINT",
      k, m, refineIters, buildCount)
  }

  /** Materialize the IVF-PQ index in store format v3 and the one-row
    * geometry sidecar (centroid_budget, m, refine_iters, build_count)
    * the serve face validates — see [[buildPqIndex]]. */
  def buildIvfPqIndex(vecs: DataFrame, path: String,
      centroidBudget: Int = CentroidBudget, m: Int = 32,
      refineIters: Int = 1): Unit = {
    val buildCount = vecs.count()
    val (cells, book, codes) =
      ivfPqIndex(vecs, centroidBudget, m, refineIters)
    cells.select(col("c_id"), col("slot"),
      col("c_e").cast("array<double>").as("c_e"), col("c_nrm"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/cells")
    writeCents(book, s"$path/pq_cents")
    codes.write.mode("overwrite").parquet(s"$path/codes")
    Stores.writeGeometry(vecs.sparkSession, path,
      "centroid_budget INT, m INT, refine_iters INT, build_count BIGINT",
      centroidBudget, m, refineIters, buildCount)
  }

  /** Read + validate an ANN index's one-row geometry sidecar, then
    * apply the two refusals the persisted dedup stores pin
    * (Dedup.incrementalNearServe's contract, verdict r16 #2):
    *  - sub-quantizer count in the sidecar differing from the one the
    *    serving plan will decode with — a foreign or corrupt store
    *    whose codes would be misread, not merely stale;
    *  - live corpus count differing from the indexed one — vectors
    *    added since the build have NO code rows, so a stale index
    *    serves silently incomplete answers (and a shrunk corpus means
    *    the store indexes documents the caller no longer owns).
    * Loud refusal, never a silent recall cliff; rebuilding past drift
    * is REQUIRED by design, never implicit. Returns the live count,
    * which the serve faces also size their candidate budget from. */
  private def requireServableIndex(vecs: DataFrame, path: String,
      m: Int): Long = {
    val geo = Stores.geometry(vecs.sparkSession, Stores.Ann, path,
      "m INT, build_count BIGINT")
    val storedM = geo.getInt(0)
    require(storedM == m,
      s"ANN index $path: store was built with m=$storedM sub-quantizers " +
        s"but the serving plan decodes m=$m — foreign store; point the " +
        "serve at the index built for this geometry (the path encodes " +
        "it) or rebuild")
    val built = geo.getLong(1)
    val live = vecs.count()
    require(live == built,
      s"ANN index $path: live corpus has $live vectors but the store " +
        s"indexed $built — drifted corpus; vectors added since the " +
        "build have NO code rows and would be silently missing from " +
        "every answer. Rebuild the index (or serve the exact corpus " +
        "snapshot it was built on)")
    live
  }

  /** Serve-only PQ top-k: ensure the persisted index exists (built on
    * first touch — in a bench run that lands in the untimed warmup
    * pass), then run [[knnPqAdcFrom]] against the v3 store. The
    * candidate budget defaults to [[autoAdcCandidates]] of the live
    * count the store check already took. Exact-face geometry (m=32)
    * ⇒ output equals brute-force top-k and rides the same full
    * oracle. */
  def knnPqServe(vecs: DataFrame, queryPred: Column, path: String,
      k: Int = 5, candidates: Option[Int] = None, m: Int = 32): DataFrame = {
    Stores.ensure(path)(tmp => buildPqIndex(vecs, tmp, m = m))
    val n = requireServableIndex(vecs, path, m)
    val spark = vecs.sparkSession
    knnPqAdcFrom(Stores.read(spark, s"$path/cents", CentsSchema),
      Stores.read(spark, s"$path/codes", "vec_id BIGINT, codes BINARY"),
      vecs, queryPred, k, candidates.getOrElse(autoAdcCandidates(n)))
  }

  /** Serve-only IVF-PQ top-k from the persisted index — the IVFADC
    * serving plan alone. The registry face probes every cell (exact
    * contract); a production deployment serves nprobe ≪ C. */
  def knnIvfPqServe(vecs: DataFrame, queryPred: Column, path: String,
      k: Int = 5, nprobe: Int = CentroidBudget,
      candidates: Option[Int] = None, m: Int = 32): DataFrame = {
    Stores.ensure(path)(tmp => buildIvfPqIndex(vecs, tmp, m = m))
    val n = requireServableIndex(vecs, path, m)
    val spark = vecs.sparkSession
    knnIvfPqFrom(
      Stores.read(spark, s"$path/cells",
        "c_id BIGINT, slot INT, c_e ARRAY<DOUBLE>, c_nrm DOUBLE"),
      Stores.read(spark, s"$path/pq_cents", CentsSchema),
      Stores.read(spark, s"$path/codes",
        "vec_id BIGINT, ivf_cell INT, codes BINARY"),
      vecs, queryPred, k, nprobe, candidates.getOrElse(autoAdcCandidates(n)))
  }

  /** Top principal component of the embedding corpus — the
    * whitening/variance-analysis primitive an embedding pipeline runs
    * before committing to a quantization or indexing scheme.
    *
    * ONE distributed pass collects the sufficient statistics
    * ([[covarianceOf]]): the native outer_upper expression emits each
    * row's upper-triangle x·xᵀ with x appended (d(d+3)/2 doubles),
    * posexplode + groupBy(pos) folds every partition to ≤d(d+3)/2
    * partial sums map-side, and only (pos, sum, count) triples —
    * O(Dim²), corpus-size independent — reach the driver. The
    * covariance is then C = (Σxxᵀ − n·μμᵀ)/(n−1) and the ENTIRE power
    * iteration runs on the driver's Dim×Dim copy (microseconds at
    * Dim=64) — the textbook distributed-PCA split: data passes for
    * statistics, driver flops for the eigensolve, instead of one full
    * cluster pass (scan, center, matvec, Dim-row collect) per
    * iteration step. Centering in covariance space trades a
    * cancellation hazard only when ‖μ‖² ≫ variance — embeddings are
    * near-zero-mean, the same tradeoff Spark MLlib's computeCovariance
    * makes.
    *
    * The power iteration runs EXACTLY `iters` steps with no early
    * exit, and loadings/eigenvalue are rounded to 4 decimals. A
    * fixed-step iterate v_K = C^K v_0 / ‖·‖ is a smooth function of C
    * with only ~K-fold error amplification — unlike
    * run-to-convergence, whose sensitivity is 1/spectral-gap — so an
    * independent engine recomputing C from the raw embeddings in a
    * different summation order (~1e-15 relative) lands within ~1e-12
    * of the same iterate, and the 4-decimal rounding absorbs it. The
    * DuckDB oracle replays the identical recursion as a recursive CTE
    * over the covariance it derives itself from the embeddings table —
    * a data-tied replay of the certificate, not a copy of the answer.
    *
    * The a-posteriori certificate ‖C v − λ v‖ / λ is a DISTRIBUTED
    * pass over the raw data ([[centeredMatvecPass]], an independent
    * computation path from the Gram statistics), so total cluster
    * work is exactly two jobs regardless of iteration count. A small
    * residual means (λ, v) genuinely solves the eigen equation — a
    * silently wrong iteration (bad centering, a dropped dimension, a
    * sign bug) cannot produce one; the bound rides on every output
    * row as resid_ok. Sign is canonicalized (largest-|loading|
    * dimension positive) so output is stable run-to-run. */
  def topComponentCertified(vecs: DataFrame, iters: Int = 60): DataFrame = {
    val (cov, mean, n) = covarianceOf(vecs)
    def matvec(v: Array[Double]): Array[Double] =
      Array.tabulate(Dim) { i =>
        var s = 0.0; var j = 0
        while (j < Dim) { s += cov(i)(j) * v(j); j += 1 }
        s
      }
    var v = Array.fill(Dim)(1.0 / math.sqrt(Dim))
    var eig = 0.0
    var it = 0
    while (it < iters) {
      val av = matvec(v)
      val norm = math.sqrt(av.map(x => x * x).sum)
      eig = norm
      v = av.map(_ / norm)
      it += 1
    }
    // 0.10 covers the near-gap-free synthetic corpus; a real embedding
    // corpus with any dominant direction converges far below it
    val cvFinal = centeredMatvecPass(vecs, mean, v).map(_ / (n - 1))
    val resid = math.sqrt(
      v.indices.map(i => math.pow(cvFinal(i) - eig * v(i), 2)).sum) / eig
    val flip = if (v(v.indices.maxBy(i => math.abs(v(i)))) < 0) -1.0 else 1.0
    val spark = vecs.sparkSession
    import spark.implicits._
    v.toIndexedSeq.zipWithIndex
      .map { case (x, i) => (i.toLong, x * flip, eig, resid < 0.10) }
      .toDF("dim", "loading", "eigenvalue", "resid_ok")
      .select(col("dim"), round(col("loading"), 4).as("loading"),
        round(col("eigenvalue"), 4).as("eigenvalue"), col("resid_ok"))
      .orderBy(col("dim"))
  }

  /** ONE distributed pass for the PCA sufficient statistics (see
    * [[topComponentCertified]]): outer_upper emits each row's upper-triangle
    * x·xᵀ with x appended, posexplode + groupBy(pos) folds partials
    * map-side, and only O(Dim²) (pos, sum, count) triples reach the
    * driver, where C = (Σxxᵀ − n·μμᵀ)/(n−1) is assembled. */
  private def covarianceOf(vecs: DataFrame)
      : (Array[Array[Double]], Array[Double], Double) = {
    val tri = Dim * (Dim + 1) / 2
    val stats = vecs
      .select(posexplode(
        call_function("outer_upper", col("embedding"))).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("cnt"))
      .orderBy(col("pos")).collect()
    require(stats.length == tri + Dim,
      s"expected ${tri + Dim} statistic rows, got ${stats.length}")
    val n = stats.head.getLong(2).toDouble
    require(n > 1, "need at least two vectors")
    val sums = stats.map(_.getDouble(1))
    val mean = Array.tabulate(Dim)(i => sums(tri + i) / n)
    val cov = Array.ofDim[Double](Dim, Dim)
    var k = 0
    var ci = 0
    while (ci < Dim) {
      var cj = ci
      while (cj < Dim) {
        val v = (sums(k) - n * mean(ci) * mean(cj)) / (n - 1)
        cov(ci)(cj) = v; cov(cj)(ci) = v
        k += 1; cj += 1
      }
      ci += 1
    }
    (cov, mean, n)
  }

  /** Distributed pass over the RAW data: Σ ((x−μ)·v) (x−μ) — i.e.
    * (n−1)·C v. Used only for the eigen certificate; its computation
    * path (explicit centering + matvec) shares nothing with the Gram
    * statistics the iteration ran on. */
  private def centeredMatvecPass(vecs: DataFrame, mean: Array[Double],
      v: Array[Double]): Array[Double] = {
    val mCol = array(mean.toIndexedSeq.map(lit): _*)
    val vCol = array(v.toIndexedSeq.map(lit): _*)
    // centered and s materialized as COLUMNS before reuse (HOF
    // arguments re-evaluate per element — see quantizeStats)
    vecs
      .select(zip_with(col("embedding"), mCol,
        (x, m) => x.cast("double") - m).as("c"))
      .select(col("c"),
        aggregate(zip_with(col("c"), vCol, (c, w) => c * w),
          lit(0.0), (a, e) => a + e).as("s"))
      .select(posexplode(col("c")).as(Seq("pos", "cx")), col("s"))
      .groupBy(col("pos")).agg(sum(col("cx") * col("s")).as("av"))
      .orderBy(col("pos")).collect().map(_.getDouble(1))
  }

  /** Int8 symmetric quantization audit: per-vector scale factor
    * (127 / max|x|) plus exact reconstruction-error stats — the check a
    * pipeline runs before committing to a quantized embedding store
    * (int8 cuts a 100 TB float corpus to a quarter; this op certifies
    * the error bound max_abs_err <= 0.5/scale actually holds).
    *
    * Pure per-row projection, no shuffle. Each derived array/scalar is
    * materialized as a COLUMN before the next higher-order function
    * consumes it — Spark re-evaluates expression arguments inside HOF
    * lambdas once per element (see Dedup.banded).
    */
  def quantizeStats(vecs: DataFrame): DataFrame = {
    val withMax = vecs.select(col("vec_id"), col("embedding"),
      array_max(transform(col("embedding"), x => abs(x)))
        .cast("double").as("max_abs"))
    // max_abs = 0 (all-zero vector) has no meaningful scale — excluded
    val withQ = withMax.filter(col("max_abs") > 0)
      .withColumn("scale", lit(127.0) / col("max_abs"))
      .withColumn("q", transform(col("embedding"),
        x => round(x.cast("double") * col("scale")).cast("int")))
    withQ
      .withColumn("err", zip_with(col("embedding"), col("q"),
        (x, q) => abs(q.cast("double") / col("scale") - x.cast("double"))))
      .select(col("vec_id"), col("scale"),
        array_max(col("err")).as("max_abs_err"),
        (aggregate(col("err"), lit(0.0), (a, e) => a + e * e)
          / size(col("err"))).as("mse"))
      .orderBy(col("vec_id"))
  }

  /** Per-dimension z-score standardization of the embedding corpus —
    * the feature-preprocessing pass before distance-based ops (k-means,
    * kNN, outlier gates) when dimensions carry different scales:
    * z(v, d) = (x − μ_d) / σ_d.
    *
    * Shape: ONE posexplode → groupBy(dim) with map-side partial sums
    * (Dim rows out regardless of corpus size), stats broadcast back
    * into a per-(vec, dim) projection. Cross-engine exactness: μ sums
    * floor(x·1e9) BIGINTs, E[x²] sums floor(x·1e6)² BIGINTs (the
    * square of a 1e9 fixed point would overflow BIGINT after ~10 rows;
    * 1e12-scaled squares leave 6 orders of headroom at 1M vectors —
    * past that, widen to DECIMAL sums), so both moments are exact
    * integer sums in any partition order; σ and z return to double and
    * round to 6 decimals (absorbs the libm-vs-JVM sqrt ulp, the
    * entropy_nats precedent). Constant dimensions (σ = 0) yield NULL z
    * — never a division error. */
  def standardize(vecs: DataFrame): DataFrame = {
    val xd = vecs
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos").cast("long").as("dim"),
        col("v").cast("double").as("x"))
    val stats = xd.groupBy(col("dim")).agg(
      (sum(floor(col("x") * lit(1e9)).cast("long")).cast("double")
        / (count(lit(1)) * lit(1e9))).as("mean_v"),
      (sum((floor(col("x") * lit(1e6)).cast("long") *
        floor(col("x") * lit(1e6)).cast("long"))).cast("double")
        / (count(lit(1)) * lit(1e12))).as("ex2"))
      .select(col("dim"), col("mean_v"),
        sqrt(greatest(col("ex2") - col("mean_v") * col("mean_v"),
          lit(0.0))).as("std_v"))
    xd.join(broadcast(stats), "dim")
      .select(col("vec_id"), col("dim"),
        when(col("std_v") > 0,
          round((col("x") - col("mean_v")) / col("std_v"), 6)).as("z"))
      .orderBy(col("vec_id"), col("dim"))
  }

  /** Johnson–Lindenstrauss random projection of the embedding corpus
    * from Dim to 16 dimensions — the dimensionality-reduction pass a
    * 100 TB pipeline runs before brute-force or graph kNN when the
    * full-width scan is the bottleneck (JL: pairwise distances are
    * preserved within (1±ε) w.h.p. for k = O(log n / ε²); a ±1
    * Achlioptas matrix attains the guarantee without Gaussian
    * sampling). The projection matrix is a pure hash function of
    * (dim, out_dim) — nothing is broadcast, nothing is stored, any
    * executor regenerates any column on demand.
    *
    * Shape: ONE per-row native rand_project call (fused loop in
    * whole-stage codegen) then a posexplode to the gated long format —
    * no shuffle before the final presentation sort; 16 BIGINTs per
    * vector flow downstream (4× narrower than the 64-float input).
    * Exactness: inputs quantize to 1e-6 fixed point before the sum
    * (see [[graft.functions.RandProject]]), so proj_fp is an exact
    * integer on both engines; proj divides by 1e6·√16 (√16 = 4 exact)
    * in one double op. */
  def randProject(vecs: DataFrame): DataFrame =
    vecs
      .select(col("vec_id"),
        posexplode(call_function("rand_project", col("embedding")))
          .as(Seq("out_dim", "proj_fp")))
      .select(col("vec_id"), col("out_dim").cast("long").as("out_dim"),
        col("proj_fp"),
        // one IEEE division of an exact integer by an exact constant —
        // bit-identical on both engines, so NO rounding (ROUND(·, 6)
        // actually BROKE the sf1 hash: proj_fp/4e6 lands on an exact
        // half-boundary whenever proj_fp ≡ 2 mod 4 — 25% of rows —
        // and the engines round shortest-decimal vs binary ties
        // differently)
        (col("proj_fp").cast("double") / lit(4e6)).as("proj"))
      .orderBy(col("vec_id"), col("out_dim"))

  /** k-means cluster count and Lloyd refinement steps for the
    * registered face: small fixed values keep the oracle replay a
    * bounded CTE chain; production codebook training scales K into the
    * thousands with the identical plan (only the literal grows). */
  val KmK = 8
  val KmIters = 2

  /** Fixed-point shift making every quantized coordinate positive
    * (embeddings are unit-norm, |x| ≤ 1 ≪ 2): with positive sums,
    * truncating integer division IS floor division, so Spark's `div`
    * and the oracle's `//` agree on every centroid mean. Distances are
    * shift-invariant, so the shift never reaches the output. */
  val KmShift = 2000000L

  /** Lloyd's k-means over the embedding corpus, fixed-point exact —
    * the codebook-training pass behind every IVF index (knn_ivf
    * assigns to FIXED seed vectors; this refines them into real
    * centroids). Coordinates quantize ONCE to ⌊x·1e6⌋ + [[KmShift]]
    * BIGINTs (localCheckpoint — iterations rescan the quantized
    * corpus, never the parquet), seeds are the first [[KmK]] vectors
    * (deterministic, engine-replayable), and each of [[KmIters]]
    * rounds is: one native nearest_centroid pass (fused K·D integer
    * loop per row in whole-stage codegen, centroids embedded as a
    * K·D-long foldable literal — the broadcast-codebook pattern), then
    * one posexplode → groupBy(cluster, dim) with map-side partial
    * integer sums (K·D rows out at ANY corpus size) collected to the
    * driver to rebuild the literal — the canonical k-means sync, K·D
    * longs per round regardless of scale. Empty clusters keep their
    * previous centroid (deterministic, matches the oracle's COALESCE).
    * Every arithmetic step is order-independent integer math —
    * bit-identical at any parallelism — and the output distance
    * carries the exact squared L2 in 1e-12 units.
    *
    * Output: one row per vector — final assignment under the refined
    * centroids, exact dist2_fp, and a readable ROUND(6) distance
    * (IEEE sqrt of the same exact integer on both engines). */
  def kmeansAssign(vecs: DataFrame): DataFrame = {
    val q = vecs.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) " +
          s"* 1e6) AS BIGINT) + $KmShift)").as("s"))
      .localCheckpoint()
    val seedRows = q.filter(col("vec_id") < KmK)
      .orderBy(col("vec_id")).collect()
    if (seedRows.isEmpty) {
      return q.select(col("vec_id"), lit(0L).as("cluster"),
        lit(0L).as("dist2_fp"), lit(0.0).as("dist"))
    }
    var cents: Array[Array[Long]] =
      seedRows.map(_.getSeq[Long](1).toArray)
    // the codebook enters the plan as a FOLDABLE K·D-long literal — the
    // broadcast-codebook pattern at literal scale. That re-plans the
    // query every round with a literal of K·D longs (~KmK·Dim·8 B of
    // plan tree), which is fine at the configured KmK/Dim (≤ a few
    // thousand longs) but is the size bound to watch before raising K:
    // past ~10⁵ entries, switch to an actual broadcast variable read by
    // a non-foldable expression instead of growing the plan text.
    def centLit: Column = typedlit(cents.map(_.toSeq).toSeq)
    for (_ <- 1 to KmIters) {
      val upd = q
        .select(call_function("nearest_centroid", col("s"), centLit)
            .getField("cluster").as("k"),
          posexplode(col("s")).as(Seq("d", "sv")))
        .groupBy(col("k"), col("d"))
        .agg(sum(col("sv")).as("ssum"), count(lit(1)).as("cnt"))
        .collect()
      val next = cents.map(_.clone())
      upd.foreach { r =>
        next(r.getLong(0).toInt)(r.getInt(1)) = r.getLong(2) / r.getLong(3)
      }
      cents = next
    }
    q.select(col("vec_id"),
        call_function("nearest_centroid", col("s"), centLit).as("nc"))
      .select(col("vec_id"), col("nc.cluster").as("cluster"),
        col("nc.dist2_fp").as("dist2_fp"),
        round(sqrt(col("nc.dist2_fp").cast("double")) / lit(1e6), 6)
          .as("dist"))
      .orderBy(col("vec_id"))
  }

  /** Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al. 2009)
    * of the BM25 lexical leg and the embedding-cosine leg — the
    * standard two-tower serving fusion (RAG retrieval, eval-set
    * lookup, decontamination triage) when neither lexical overlap nor
    * dense similarity alone is trustworthy. Both legs use the SAME
    * deterministic query set (every `every`-th id), and fusion is
    * rank-only — RRF(d) = Σ_legs ⌊1e12 / (60 + rank_leg(d))⌋ — so the
    * fused score is exact integer arithmetic over two already-gated
    * rank tables (text_bm25's fixed-point order, knn_brute's proven
    * cosine order). Missing-in-one-leg docs contribute a single term.
    *
    * Scale shape: each leg ends per-query-top-k sized (#queries · k
    * rows — the corpus never reaches the fusion), so the full-outer
    * merge on (query_id, doc_id) and the re-rank window are
    * bounded by the query load, not the corpus; at 100 TB the legs
    * are the expensive stages and they keep their own gated plans
    * unchanged. */
  def hybridRrf(docs: DataFrame, vecs: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // bounded query COUNT, not rate (the recallAudit discipline): the
    // fused evaluation holds ≤ ~128 queries at ANY corpus size, so
    // both legs stay O(n) — the previous fixed-rate every=100 sample
    // scaled the query count with the corpus and made the key
    // super-linear at sf1 (12.2 s, 4.4×). The oracle derives the same
    // modulus from COUNT(*), so the sampled query set is identical.
    val n = docs.count() // bounded driver state (the bm25 pattern)
    val every = math.max(100L, (n + 127) / 128)
    val bm = TextAnalysis.bm25TopK(docs, every, 8, k)
      .select(col("query_id"), col("doc_id"), col("rk").as("bm25_rk"))
    // the brute leg is ~128 queries × n cosines — compute-bound, and
    // single-task on a one-split corpus scan (r17 profile: a 0.94 s
    // tasks=2 job); spread is a no-op on an already wide corpus
    val kn = knnBrute(Tables.spread(vecs), col("vec_id") % every === 0, k)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").cast("long").as("knn_rk"))
    bm.join(kn, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_fp",
        coalesce(expr("1000000000000 div (60 + bm25_rk)"), lit(0L)) +
          coalesce(expr("1000000000000 div (60 + knn_rk)"), lit(0L)))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rrf_fp").desc, col("doc_id"))).cast("long"))
      .select(col("query_id"), col("rk"), col("doc_id"), col("rrf_fp"),
        col("bm25_rk"), col("knn_rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** IVF-PQ operating-point audit (DEPLOY.md §6 nprobe table, verdict
    * r16 #7): the index's two most expensive serving dials are nprobe
    * (cells probed per query) and the scan it implies — this measures,
    * per nprobe, recall@k against exact brute force over the bounded
    * query sample (the [[recallAudit]] discipline: COUNT ≤ the audit
    * bound, never a rate) and the EXACT scan fraction (probed-cell
    * code mass / queries·n — the fraction of the corpus a query's ADC
    * scan touches). The index builds ONCE; only the serving plan runs
    * per sweep point, so the audit costs one build + Σ probes scans.
    * The scan fraction runs no job: it sums the collected C cell sizes
    * over each collected query's probe list ([[PqCodebook.probe]], the
    * serving plan's own probe order). Driver state is one small tuple
    * per sweep point. A deployment reads the emitted table to pick
    * nprobe for a recall target instead of re-deriving it. */
  def nprobeOperatingTable(vecs: DataFrame, k: Int = 10,
      probes: Seq[Int] = Seq(1, 2, 4, 8, 16),
      candidates: Option[Int] = None): DataFrame = {
    import vecs.sparkSession.implicits._
    val n = vecs.count()
    val bound = auditQueryBound
    val every = math.max(50L, (n + bound - 1) / bound)
    val pred = col("vec_id") % every === 0
    // measure the PRODUCTION serving geometry — the knn_ivfpq_serve
    // face's m=32 residual grid, refineIters=1, and the corpus-derived
    // ADC candidate budget (knob-overridable like the face); an
    // operating table for a different geometry would mislead the
    // deployment reading it
    val cand = candidates.getOrElse(
      graft.sources.Knobs.optInt("knn.candidates")
        .getOrElse(autoAdcCandidates(n)))
    val (cells, book, encoded) = ivfPqIndex(vecs, m = 32, refineIters = 1)
    // every sweep point scans the same store: encode it once
    val codes = encoded.localCheckpoint(true)
    // ground truth via the two-pass threshold top-k: bit-identical to
    // knnBrute, without the O(n·Q·log) rank sort (verdict r16 #5)
    val exact = knnBruteThreshold(vecs, pred, k)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint(true)
    val exactN = exact.count().toDouble
    val qs = new AdcQueries(vecs, pred)
    val nQ = qs.n.toLong
    // refuse a degenerate audit loudly: an empty query sample or an
    // empty brute-force neighbor set would make recall NaN and flow
    // silently into NPROBE.json / the DEPLOY.md table (advice r16)
    require(nQ > 0 && exactN > 0,
      s"nprobeOperatingTable: degenerate audit — $nQ sampled queries, " +
        s"${exactN.toLong} exact neighbor rows over a corpus of $n " +
        "vectors; the operating table needs a non-empty query sample " +
        "and ground truth (check knn.audit_queries and the corpus)")
    val ivf = ivfCells(cells)
    val cellSizes = new Array[Long](ivf.cents(0).length)
    codes.groupBy(col("ivf_cell")).count().collect()
      .foreach(r => cellSizes(r.getInt(0)) = r.getLong(1))
    val rows = probes.map { p =>
      val approx = knnIvfPqFrom(cells, book, codes, vecs, pred, k, p, cand)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact
        .join(approx, Seq("query_id", "neighbor_id"), "left_semi").count()
      val scanned = qs.vs.map(ivf.probe(_, p).map(cellSizes).sum).sum
      (p, nQ, math.rint(10000.0 * hits / exactN) / 10000,
        math.rint(10000.0 * scanned / (nQ.toDouble * n)) / 10000)
    }
    rows.toDF("nprobe", "queries", "recall_at_k", "scan_fraction")
      .orderBy(col("nprobe"))
  }

  /** Validated read of the audit query-count bound — the confidence
    * dial every recall audit shares, resolved through
    * `knn.audit_queries` (DEPLOY.md §6). The range check lives HERE so
    * every reader refuses a zero/negative knob with the same message
    * instead of a cryptic divide-by-zero in its sampling arithmetic
    * (advice r16: nprobeOperatingTable read the knob unvalidated). */
  private def auditQueryBound: Long = {
    val bound = graft.sources.Knobs.long("knn.audit_queries", 128L)
    require(bound >= 1 && bound <= 1000000L,
      s"knn.audit_queries out of range [1, 10^6]: $bound")
    bound
  }

  /** ANN index-quality evaluation as a first-class operator — per-query
    * recall@k of the cell-restricted kNN graph ([[knnGraph]], the
    * scale path) against exact brute force on a deterministic query
    * sample (every `every`-th vector): the measurement loop every
    * production ANN deployment runs before trusting an index, here
    * gated end to end (both legs AND the recall arithmetic replay in
    * SQL — recall is a small-integer division, one exact IEEE op).
    *
    * Scale shape: the approximate leg is the already-bounded knnGraph
    * plan; the exact leg brute-forces ONLY the sampled queries
    * (#queries · n cosines). The sample COUNT is bounded, not the
    * sample rate: `every` = max(50, ⌈n/128⌉), so the audit holds
    * ≤ 128 queries at ANY corpus size and the brute leg stays O(n) —
    * a fixed-RATE sample made the leg quadratic (measured 19.7× at
    * 10× data before this; 128 queries is the confidence dial). The
    * comparison is a semi-join of two #queries·k rank tables. */
  def recallAudit(vecs: DataFrame, k: Int = 4): DataFrame = {
    val n = vecs.count() // bounded driver state (the bm25 pattern)
    // the query-count bound is the audit's confidence dial; the brute
    // leg is O(bound · n), so doubling the bound doubles audit cost,
    // never its asymptotics. Gates run knobless: 128 queries
    // bit-for-bit.
    val bound = auditQueryBound
    val every = math.max(50L, (n + bound - 1) / bound)
    // the exact leg is the audit's measurement instrument — bounded at
    // `bound` queries at ANY corpus size, and since r17 served by the
    // two-pass threshold top-k (bit-identical to knnBrute, no rank
    // sort over the n·Q score rows)
    val exact = knnBruteThreshold(vecs, col("vec_id") % every === 0, k)
      .select(col("query_id").as("vec_id"), col("neighbor_id"))
    val approx = knnGraph(vecs, k).filter(col("vec_id") % every === 0)
      .select(col("vec_id"), col("neighbor_id"))
    val hits = exact.join(approx, Seq("vec_id", "neighbor_id"), "left_semi")
      .groupBy(col("vec_id")).agg(count(lit(1)).as("n_hit"))
    exact.groupBy(col("vec_id")).agg(count(lit(1)).as("n_exact"))
      .join(approx.groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_approx")), Seq("vec_id"), "left")
      .join(hits, Seq("vec_id"), "left")
      .select(col("vec_id"), col("n_exact"),
        coalesce(col("n_approx"), lit(0L)).as("n_approx"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_exact"))
          .as("recall"))
      .orderBy(col("vec_id"))
  }

  /** Per-label mean embedding (class centroids — the seed step for
    * k-means refinement, cluster labeling, or building an IVF codebook
    * from labeled data). posexplode → groupBy(label, dim): ONE shuffle
    * of (int, int, long) triples after map-side partial sums — never
    * the arrays themselves; output is |labels|·Dim rows regardless of
    * corpus size.
    *
    * Cross-engine exactness: float sums are order-dependent, so the
    * mean is computed over floor(value·1e9) fixed-point BIGINTs — IEEE
    * double multiply + floor are deterministic and identical on any
    * engine, the integer sum is exact in any order, and the final
    * single division returns to double. The ~1e-9 quantization is far
    * below float32 input precision. */
  def labelCentroids(vecs: DataFrame): DataFrame = {
    val fixedPoint = floor(col("v").cast("double") * lit(1e9)).cast("long")
    vecs
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("label"), col("pos").cast("long").as("dim"),
        fixedPoint.as("fp"))
      .groupBy(col("label"), col("dim"))
      .agg(
        (sum(col("fp")).cast("double") / (count(lit(1)) * lit(1e9)))
          .as("mean_v"),
        count(lit(1)).as("n_vecs"))
      .orderBy(col("label"), col("dim"))
  }

  /** Distance-to-class-centroid outlier flags — the embedding-space
    * quality gate a labeled corpus runs before training: a vector
    * whose cosine to its OWN class centroid falls below 0 is
    * anti-correlated with its class (mislabel / junk candidate).
    * Centroids come from [[labelCentroids]]'s fixed-point-exact mean
    * (engine-identical doubles), folded into |labels| Dim-arrays — a
    * bounded broadcast, so the corpus pass is map-only; the only
    * data-proportional shuffle in the plan is the centroid
    * aggregation's (label, dim, long) triples. cos rounds to 4
    * decimals under the knn_brute cross-engine contract; the outlier
    * flag compares the UNROUNDED cosine on both sides (fixture margin
    * to the 0.0 threshold is ~1e-3 — six orders above engine float
    * drift). */
  /** (label, cvec): [[labelCentroids]] folded into per-label
    * Dim-arrays — |labels| bounded rows, broadcastable. */
  private def labelCentroidArrays(vecs: DataFrame): DataFrame =
    labelCentroids(vecs)
      .groupBy(col("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("mean_v")))),
        s => s.getField("mean_v")).as("cvec"))

  /** Per row, the label whose [[labelCentroidArrays]] centroid is
    * nearest `embedding` (BIGINT): the `pq_assign` kernel at M = 1
    * against the |labels| centroids as a plan literal in label order
    * (NULL first) — cosine descending, then the smaller label; a zero
    * norm scores -2.0 ([[safeCos]]). One driver collect of the bounded
    * centroid set; the corpus pass is a map-only projection, no join.
    * NULL over an empty corpus, which has no centroid. */
  private def nearestLabel(vecs: DataFrame): Column = {
    val cents = labelCentroidArrays(vecs)
      .select(col("label").cast("long"), col("cvec")).collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        r.getSeq[Double](1)))
      .sortBy(_._1)
    if (cents.isEmpty) lit(null).cast("long")
    else element_at(
      tableLit(cents.map(_._1.map(Long.box).orNull).toSeq,
        ArrayType(LongType, containsNull = true)),
      element_at(call_function("pq_assign", col("embedding"),
        tableLit(Seq(cents.map(_._2).toSeq), Tables3)), 1)
        .getField("slot") + 1)
  }

  /** (vec_id, e, nrm, cell): the corpus with its [[nearestLabel]] cell */
  private def labelCells(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"), col("embedding").as("e"),
      l2norm(col("embedding")).as("nrm"), nearestLabel(vecs).as("cell"))

  /** IVF cell-purity audit — how semantically coherent each coarse
    * cell is (the quality signal behind nprobe tuning and cell-split
    * decisions: a cell mixing many labels forces wider probes for the
    * same recall; SemDeDup-style semantic dedup also assumes
    * label-coherent cells): per cell, the member count, distinct-label
    * count, majority-label count, purity in integer permille, and the
    * label-distribution entropy term Σ n·⌊ln(n)·10⁶⌋ (the
    * mm_image_entropy discipline — exact integer, true entropy
    * recovers as ln N − ent/(N·10⁶)).
    *
    * Scale: assignment is [[nearestLabel]]'s map-only projection
    * (corpus never shuffles or joins for it), then ONE (cell, label)
    * map-side-combined count and a cells-sized rollup — output ≤ C
    * rows at any corpus size. */
  def cellPurity(vecs: DataFrame): DataFrame = {
    vecs.select(col("label"), nearestLabel(vecs).as("cell"))
      .groupBy(col("cell"), col("label"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("cell"))
      .agg(sum(col("n")).as("n_vecs"),
        count(lit(1)).as("n_labels"),
        max(col("n")).as("n_major"),
        sum(col("n") * floor(log(col("n").cast("double")) * 1e6)
          .cast("long")).as("ent_sum_fp"))
      .select(col("cell"), col("n_vecs"), col("n_labels"), col("n_major"),
        expr("1000 * n_major div n_vecs").as("purity_permille"),
        col("ent_sum_fp"))
      .orderBy(col("cell"))
  }

  def centroidOutliers(vecs: DataFrame): DataFrame = {
    val cvecs = labelCentroidArrays(vecs)
    vecs
      .join(broadcast(cvecs), "label")
      .select(col("vec_id"), col("label"),
        safeCos(dot(col("embedding"), col("cvec")),
          l2norm(col("embedding")), l2norm(col("cvec"))).as("c"))
      .select(col("vec_id"), col("label"),
        round(col("c"), 4).as("cos_r"),
        (col("c") < 0.0).as("is_outlier"))
      .orderBy(col("vec_id"))
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup that restricts the
    * pairwise cosine comparison to vectors sharing a k-means cell —
    * the embedding-space counterpart of LSH bucketing, with cluster
    * structure instead of random hyperplanes bounding the candidate
    * set. Pipeline: (1) assign every vector to its nearest centroid
    * with [[nearestLabel]] (a map-only projection, NO corpus shuffle —
    * ties break to the lowest cell id, and the fixture's min top-2 gap is
    * 1.1e-4, four orders above engine float drift); (2) one cell-keyed
    * self-join generates within-cell pairs — Σ|cell|² work, never
    * all-pairs (at production scale the cell count grows with n to
    * keep cells bounded, exactly the IVF codebook sizing rule);
    * (3) a vector is a duplicate iff a SMALLER-id cell-mate sits at
    * cosine ≥ threshold (deterministic min-id-survivor chain, same
    * contract as the pair-based dedup oracles; fixture margin to the
    * 0.4 threshold is 6.1e-4). The assignment frame is checkpointed
    * once and feeds both join sides AND the final verdict join — the
    * single-evaluation discipline the r4 verdict demanded of
    * dedup_embedding.
    *
    * Centroids are [[labelCentroids]]' fixed-point means, so the
    * ENTIRE pipeline — centroid, assignment, pair cosines, verdict —
    * is replayed relationally by the DuckDB oracle. */
  def semanticDedup(vecs: DataFrame, threshold: Double = 0.4): DataFrame = {
    val cells = labelCells(vecs).localCheckpoint(true)
    val a = cells.select(col("cell"), col("vec_id").as("va"),
      col("e").as("ea"), col("nrm").as("na"))
    val b = cells.select(col("cell"), col("vec_id").as("vb"),
      col("e").as("eb"), col("nrm").as("nb"))
    val dups = a.join(b, "cell")
      .filter(col("va") < col("vb"))
      .filter(safeCos(dot(col("ea"), col("eb")), col("na"), col("nb"))
        >= threshold)
      .select(col("vb").as("vec_id")).distinct()
      .withColumn("dup", lit(true))
    cells
      .join(dups, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cell"),
        coalesce(col("dup"), lit(false)).as("is_dup"))
      .orderBy(col("vec_id"))
  }

  /** Cell-restricted k-NN GRAPH construction — every corpus vector's
    * top-k nearest cell-mates (knn_brute answers a QUERY SET; this
    * builds the per-vector neighbor lists that seed graph clustering,
    * HNSW bottom layers, or connectivity analysis over an embedding
    * store). Same SemDeDup cell discipline as [[semanticDedup]]:
    * fixed-point label centroids, [[nearestLabel]] assignment (no
    * corpus shuffle), ONE cell-keyed self-join bounds candidate volume
    * — then a vec-keyed WindowGroupLimit takes top-k. Cells that
    * outgrow `targetCell` members are SUB-SHARDED by a deterministic
    * engine-independent hash of vec_id (the SemDeDup paper's own move
    * for large clusters): with a fixed label/cell count, 10× the
    * corpus would mean 100× the within-cell pairs — measured 24.9×
    * runtime at sf1 before the shard — while sub-sharding pins
    * expected cell size at targetCell, keeping pair volume LINEAR in
    * n. Each vector then ranks ~targetCell cell-mates instead of the
    * full cell (recall trade documented; multi-probe over sub-shards
    * recovers it at serving time). Vectors in singleton sub-cells emit
    * no edges. Ranks order on the unrounded cosine with neighbor-id
    * tie-break (knn_brute's contract); output rounds to 4 decimals. */
  def knnGraph(vecs: DataFrame, k: Int = 4, targetCell: Long = 50)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = vecs.count()
    val nLabels = math.max(1L,
      vecs.select(col("label")).distinct().count())
    val shards = math.max(1L, n / (nLabels * targetCell))
    val cells = labelCells(vecs)
      .withColumn("sub",
        (col("vec_id") % 1000003L) * 2654435761L % shards)
      .localCheckpoint(true)
    val b = cells.select(col("cell"), col("sub"),
      col("vec_id").as("neighbor_id"), col("e").as("eb"),
      col("nrm").as("nb"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    cells.join(b, Seq("cell", "sub"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        safeCos(dot(col("e"), col("eb")), col("nrm"), col("nb"))
          .as("cos_sim"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("vec_id"), col("rk"), col("neighbor_id"),
        round(col("cos_sim"), 4).as("cos_r"))
      .orderBy(col("vec_id"), col("rk"))
  }

  /** Mutual-kNN graph — the standard denoising cut before clustering
    * on a kNN graph (spectral, community, agglomerative): keep an
    * edge (a→b) only when b also lists a in ITS top-k. One-directional
    * edges are mostly hub artifacts — a generic vector near everything
    * collects inbound edges it does not reciprocate — and dropping
    * them is what turns the raw graph into one whose components track
    * semantic clusters. Built ON the [[knnGraph]] output (checkpointed
    * once, feeding both sides), so the only added work is a self
    * semi-join on the |V|·k edge table keyed by the edge pair —
    * edge-bounded at any corpus size; rank and similarity carry over
    * from the underlying graph unchanged. */
  def mutualKnn(vecs: DataFrame, k: Int = 4): DataFrame = {
    val g = knnGraph(vecs, k).localCheckpoint(true)
    val rev = g.select(col("neighbor_id").as("a"), col("vec_id").as("b"))
    g.join(rev, g("vec_id") === rev("a") && g("neighbor_id") === rev("b"),
        "left_semi")
      .orderBy(col("vec_id"), col("rk"))
  }

  /** Incremental embedding dedup — the vector-store ingestion shape:
    * verdicts for a new batch of vectors against the historical corpus
    * (dup_of_history: some historical vector sits at cosine ≥
    * threshold) and against itself (dup_in_batch: a SMALLER-id batch
    * vector does), plus the keep bit — the embedding-space member of
    * the incremental family (exact: [[Dedup.incremental]], bloom:
    * [[Dedup.bloomIncremental]], text near-dup:
    * [[Dedup.incrementalNear]]).
    *
    * The default face derives verdicts from [[embeddingPairsExact]]'s
    * complete block-pair cosine — exact by construction, so the DuckDB
    * all-pairs oracle replays the WHOLE operator; `exact = false`
    * swaps in the banded-LSH pair pipeline ([[embeddingPairs]]) — the
    * production path when the store is large and recall is traded
    * against candidate volume (recall vs the exact face is
    * spec-asserted for the corpus's regime). */
  def incrementalEmbedding(vecs: DataFrame, batchPred: Column,
      threshold: Double = 0.4, exact: Boolean = true,
      bitsPerBand: Int = BitsPerBand): DataFrame = {
    val pairs =
      (if (exact) embeddingPairsExact(vecs, threshold)
       else embeddingPairs(vecs, threshold, bitsPerBand = bitsPerBand))
        .select(col("vec_a"), col("vec_b"))
    val sym = pairs.unionAll(
      pairs.select(col("vec_b").as("vec_a"), col("vec_a").as("vec_b")))
    val ids = vecs.select(col("vec_id"), batchPred.as("in_batch"))
    val ann = sym.toDF("x", "y")
      .join(ids.toDF("x", "x_b"), "x")
      .join(ids.toDF("y", "y_b"), "y")
      .filter(col("x_b"))
      .localCheckpoint(true)
    val doh = ann.filter(!col("y_b"))
      .select(col("x").as("vec_id")).distinct()
      .withColumn("doh", lit(true))
    val dib = ann.filter(col("y_b") && col("y") < col("x"))
      .select(col("x").as("vec_id")).distinct()
      .withColumn("dib", lit(true))
    vecs.filter(batchPred).select(col("vec_id"))
      .join(doh, Seq("vec_id"), "left_outer")
      .join(dib, Seq("vec_id"), "left_outer")
      .select(col("vec_id"),
        coalesce(col("doh"), lit(false)).as("dup_of_history"),
        coalesce(col("dib"), lit(false)).as("dup_in_batch"),
        (!coalesce(col("doh"), lit(false)) &&
          !coalesce(col("dib"), lit(false))).as("keep"))
      .orderBy(col("vec_id"))
  }

  /** End-to-end embedding dedup: the full production pass a corpus
    * curation pipeline actually runs — auto-bits banded-LSH candidate
    * generation ([[embeddingPairs]] with [[autoBitsPerBand]], so pair
    * volume stays LINEAR in n), exact-cosine verify, then transitive
    * cluster resolution via [[Dedup.resolveClusters]]' alternating
    * large-star/small-star rounds, emitting one verdict row per
    * vector: its canonical (min-id) representative and whether it is a
    * dup to drop. Near-dup similarity is not transitive, so the
    * clustering step is a POLICY (the standard one: union near-dup
    * pairs, keep one per component) — the oracle replays pairs AND
    * closure exactly.
    *
    * Round growth is BOUNDED O(log n) on ANY pair-graph shape
    * (Kiveris et al. 2014) — the round-15 fix for the registry's one
    * super-linear exponent: the previous min-label + pointer-jump loop
    * ([[Graph.connectedComponents]]) needs O(log d) rounds in the
    * largest cluster DIAMETER, and embedding near-dup graphs grow
    * chain-shaped clusters with n (serial drift), so its round count —
    * and with it total work — crept super-linearly (α=1.55 measured
    * at sf3; BASELINE.md). Star rounds shortcut by CLUSTER MINIMUM
    * rather than per-node pointer, so doubling a chain adds one round
    * instead of a constant factor; Dedup.resolveClustersCounted pins
    * the ≤ 2·log₂(n) contract in-spec on the worst-case path graph.
    *
    * Scale shape: LSH stage is linear in n (occupancy-targeted bits);
    * the star rounds run on the PAIR graph only (near-dup pairs, ≪ n
    * at production thresholds, three shuffles per round); the final
    * decoration is one node-keyed left join against the corpus ids.
    * No stage is quadratic. */
  def embeddingDedupClusters(vecs: DataFrame, threshold: Double = 0.4)
      : DataFrame = {
    val pairs = embeddingPairs(vecs, threshold,
        bitsPerBand = autoBitsPerBand(vecs.count()))
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val comp = Dedup.resolveClusters(pairs)
      .select(col("doc_id").as("vec_id"), col("keep_id").as("comp"))
    vecs.select(col("vec_id"))
      .join(comp, Seq("vec_id"), "left_outer")
      .select(col("vec_id"),
        coalesce(col("comp"), col("vec_id")).as("canon_id"))
      .withColumn("is_dup", col("canon_id") =!= col("vec_id"))
      .orderBy(col("vec_id"))
  }

  /** Deterministic farthest-point traversal (Gonzalez 1985 k-center
    * 2-approximation) over the embedding corpus — the diversity /
    * coreset selection pass of a training-data pipeline: pick the
    * corpus's k most mutually-distant vectors (seed-set selection,
    * eval-probe picking, cluster-center initialization that beats
    * random at any corpus size). No RNG anywhere: the first center is
    * the MINIMUM vec_id, every later one the argmax of min-distance
    * to the selected set with ties to the lowest id — a pure function
    * of the corpus, bit-replayable on any engine.
    *
    * Distances are FIXED-POINT squared L2: components quantize once
    * to ⌊x·10³⌋ BIGINTs (the cos_r discipline), so every distance is
    * an exact integer — argmax has no float-boundary risk. The
    * (k+1)-th row is the COVERING-RADIUS CERTIFICATE: after k centers
    * the corpus's max min-distance is exactly its dist_fp (Gonzalez's
    * guarantee: ≤ 2× the optimal k-center radius). Vectors at
    * min-distance 0 (exact duplicates of a center) never re-select;
    * a corpus that exhausts (n ≤ k, or all remaining are duplicates)
    * simply emits fewer rows — also how an EMPTY corpus yields an
    * empty frame instead of a null row.
    *
    * Scale shape: each of the k rounds is one map-side-combined
    * argmax to a SINGLE row (max_by over a total order) + a 1-row
    * broadcast cross decorating the corpus with the new center —
    * O(k·n·Dim) total work, the corpus never shuffles, state is one
    * BIGINT column per vector. The quantized corpus and per-round
    * state are checkpointed so the k-round lineage stays flat — via
    * [[graft.plans.Loops.checkpointFresh]], because each round's
    * state plan joins the previous state's checkpoint with a seed
    * DERIVED FROM that same checkpoint: plain localCheckpoint would
    * square the inherited plan stats per round (bounded at the
    * default k = 8, but the k ≤ 64 cap would cross the BigInteger
    * wall past k ≈ 25 — the CC sf3 incident's mechanism). */
  def kCenterSelect(vecs: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 1 && k <= 64, s"k out of range: $k")
    val q = vecs.select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1e3).cast("long")).as("qe"))
      .localCheckpoint()
    def d2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v)
    var seed = q
      .agg(min_by(struct(col("vec_id"), col("qe")), col("vec_id")).as("s"))
      .select(col("s.vec_id").as("sid"), col("s.qe").as("sqe"),
        lit(0L).as("sd"))
      .filter(col("sid").isNotNull)
      .localCheckpoint(true)
    var picks = seed.select(lit(1).as("sel_rank"), col("sid"), col("sd"))
    var state = Loops.checkpointFresh(
      q.crossJoin(broadcast(seed.select(col("sqe"))))
        .select(col("vec_id"), col("qe"),
          d2(col("qe"), col("sqe")).as("min_d")))
    for (r <- 2 to (k + 1)) {
      seed = state.filter(col("min_d") > 0)
        .agg(max_by(struct(col("vec_id"), col("qe"), col("min_d")),
          struct(col("min_d"), (-col("vec_id")).as("nid"))).as("s"))
        .select(col("s.vec_id").as("sid"), col("s.qe").as("sqe"),
          col("s.min_d").as("sd"))
        .filter(col("sid").isNotNull)
        .localCheckpoint(true)
      picks = picks.unionAll(
        seed.select(lit(r).as("sel_rank"), col("sid"), col("sd")))
      if (r <= k)
        state = Loops.checkpointFresh(
          state.crossJoin(broadcast(seed.select(col("sqe"))))
            .select(col("vec_id"), col("qe"),
              least(col("min_d"), d2(col("qe"), col("sqe"))).as("min_d")))
    }
    picks.select(col("sel_rank").cast("int").as("sel_rank"),
        col("sid").cast("long").as("vec_id"),
        col("sd").cast("long").as("dist_fp"))
      .orderBy(col("sel_rank"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the END-TO-END production dedup: auto-bits LSH pairs + exact
    // verify + transitive cluster resolution → one (canon, is_dup)
    // verdict per vector. Every stage replayed by the oracle (LSH
    // replay CTEs + recursive-CTE reachability). The quadratic
    // complete-pair face (embeddingPairsExact) stays as the SPEC
    // baseline the LSH stage's recall is measured against — it is no
    // longer a registered face (round-10 perf audit: n²/2 pair volume
    // goes super-linear at sf1 by construction).
    "dedup_embedding" -> { (s, dir) =>
      embeddingDedupClusters(Tables.load(s, dir, "embeddings"))
    },
    // the PRODUCTION near-dup path as its own gated key: banded
    // hyperplane LSH with bitsPerBand derived from the corpus count
    // (autoBitsPerBand — candidate volume stays linear in n), recall
    // guard armed. Full oracle: the fixed-seed hyperplanes are inlined
    // into the SQL, so DuckDB replays sign bits, banding, bucket-size
    // cut, candidate pairs and cosine verify EXACTLY (see
    // lshReplaySql) — the probabilistic face is hash-gated, not just
    // subset-tested.
    "dedup_embedding_lsh" -> { (s, dir) =>
      val vecs = Tables.load(s, dir, "embeddings")
      // cos_r is the FIXED-POINT cosine (components quantized to
      // floor(x*1e3) before the dot): every term and partial sum is an
      // exact integer in double (<= 2^28 << 2^53), so both engines
      // compute bit-identical values in ANY summation order — the
      // ROUND(.,4) boundary can never flip between them. The round-13
      // formulation rounded the float-accumulated cosine and bet on a
      // ~1e-6 boundary margin; at sf1 (4416 pairs) one pair landed
      // ~1e-9 from a rounding boundary and the hash split (round-14
      // sf1 sweep). Pair SELECTION (signs, banding, bucket cut, the
      // 0.4 verify) still runs on the full-precision engine cosine.
      val pairs = embeddingPairs(vecs,
          bitsPerBand = autoBitsPerBand(vecs.count()))
        .select(col("vec_a"), col("vec_b"))
      val q = vecs.select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(1000.0)).cast("double")).as("q"))
        .localCheckpoint(true)
      val qa = q.toDF("vec_a", "qa")
      val qb = q.toDF("vec_b", "qb")
      pairs.join(qa, "vec_a").join(qb, "vec_b")
        .select(col("vec_a"), col("vec_b"),
          round(dot(col("qa"), col("qb")) /
            (sqrt(dot(col("qa"), col("qa"))) *
              sqrt(dot(col("qb"), col("qb")))), 4).as("cos_r"))
        .orderBy(col("vec_a"), col("vec_b"))
    },
    // The library face keeps full-precision cos_sim; the correctness
    // face rounds it to 4 decimals so the DuckDB oracle's independently
    // accumulated float dot product (engine diff ~1e-9, boundary margin
    // ~1e-6 on this corpus) hash-matches. Ranks come from the
    // UNROUNDED similarity on both sides, so the top-k selection
    // itself is on the hash, not just the rounded score.
    // hardest different-label top-k per anchor, fully brute-oracled
    "emb_hard_negatives" -> ((s, dir) =>
      hardNegatives(Tables.load(s, dir, "embeddings"),
        col("vec_id") < 10)),
    "knn_brute" -> { (s, dir) =>
      knnBrute(Tables.load(s, dir, "embeddings"), col("vec_id") < 10)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cos_sim"), 4).as("cos_r"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
    "emb_matryoshka" -> ((s, dir) =>
      matryoshkaAudit(Tables.load(s, dir, "embeddings"),
        col("vec_id") < 10)),
    "knn_radius" -> ((s, dir) =>
      radiusSearch(Tables.load(s, dir, "embeddings"),
        col("vec_id") < 10)),
    "emb_norm_audit" -> ((s, dir) =>
      normAudit(Tables.load(s, dir, "embeddings"))),
    // per-dimension anisotropy audit on the exact micro-int grid
    "emb_dim_stats" -> ((s, dir) =>
      dimStats(Tables.load(s, dir, "embeddings"))),
    // pair-sample cosine histogram (space-collapse geometry audit)
    "emb_pair_hist" -> ((s, dir) =>
      pairCosineHist(Tables.load(s, dir, "embeddings"))),
    // per-band bucket-health / candidate-pair-mass pre-flight audit
    "emb_lsh_audit" -> ((s, dir) =>
      lshBucketAudit(Tables.load(s, dir, "embeddings"))),
    // Correctness face probes ALL cells (nprobe = centroidBudget):
    // exact by construction, so it shares knn_brute's oracle — any bug
    // in assignment, the cell join, the dedup, or the ranking breaks
    // the hash. The approximate face (default nprobe=2) is
    // recall-asserted in SimilaritySpec.
    "knn_ivf" -> { (s, dir) =>
      knnIvf(Tables.load(s, dir, "embeddings"), col("vec_id") < 10,
          nprobe = CentroidBudget)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cos_sim"), 4).as("cos_r"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
    // The library face (quantizeStats) returns the full error stats;
    // the gate face keeps the oracle-computable scale on the hash and
    // converts the error stats into in-plan accuracy bits (same
    // contract shape as q18/q21): bound_ok asserts the certified bound
    // max_abs_err <= 0.5/scale, mse_ok its mean-square corollary. A
    // quantization regression flips a bit and fails the hash.
    // the bound carries a 1-ulp-scale tolerance (same as the
    // SimilaritySpec property): at an exact .5 rounding boundary the
    // double-computed error can land one ulp above the double-computed
    // 0.5/scale, and a tolerance-free bit would flip on valid data
    "emb_quantize" -> { (s, dir) =>
      val b = lit(0.5) / col("scale") * lit(1 + 1e-9) + lit(1e-12)
      quantizeStats(Tables.load(s, dir, "embeddings"))
        .select(col("vec_id"), col("scale"),
          (col("max_abs_err") <= b).as("bound_ok"),
          (col("mse") <= b * b).as("mse_ok"))
        .orderBy(col("vec_id"))
    },
    "emb_centroids" -> ((s, dir) =>
      labelCentroids(Tables.load(s, dir, "embeddings"))),
    // per-cell label coherence: census, integer purity, entropy terms
    "emb_cell_purity" -> ((s, dir) =>
      cellPurity(Tables.load(s, dir, "embeddings"))),
    "emb_outlier" -> ((s, dir) =>
      centroidOutliers(Tables.load(s, dir, "embeddings"))),
    // the knn family's GRAPH face: cells + within-cell ranked
    // neighbors, fully replayed by the oracle incl. the assignment
    "emb_knn_graph" -> ((s, dir) =>
      knnGraph(Tables.load(s, dir, "embeddings"))),
    // reciprocal-edge cut of the same graph (rank/sim carried over)
    "emb_mutual_knn" -> ((s, dir) =>
      mutualKnn(Tables.load(s, dir, "embeddings"))),
    // per-dim z-score standardization, both moments fixed-point exact
    "emb_standardize" -> ((s, dir) =>
      standardize(Tables.load(s, dir, "embeddings"))),
    // JL ±1 projection, fixed-point exact per output dimension
    "emb_rand_proj" -> ((s, dir) =>
      randProject(Tables.load(s, dir, "embeddings"))),
    // Lloyd k-means codebook training, every step integer-exact
    "emb_kmeans" -> ((s, dir) =>
      kmeansAssign(Tables.load(s, dir, "embeddings"))),
    // RRF fusion of the BM25 leg and the cosine-kNN leg, rank-only
    "hybrid_rrf" -> ((s, dir) =>
      hybridRrf(Tables.load(s, dir, "documents"),
        Tables.load(s, dir, "embeddings"))),
    // recall@k of the cell-restricted graph vs brute, both replayed
    "emb_recall_audit" -> ((s, dir) =>
      recallAudit(Tables.load(s, dir, "embeddings"))),
    "dedup_semantic" -> ((s, dir) =>
      semanticDedup(Tables.load(s, dir, "embeddings"))),
    // same %3 history/batch split as the text-side incremental keys;
    // pair generation rides the auto-bits LSH production path (the
    // round-10 audit's fixed-bits face went super-linear at sf1), and
    // the oracle replays the SAME LSH pairs, so the probabilistic
    // candidate set is hash-gated end to end
    "dedup_incremental_emb" -> { (s, dir) =>
      val vecs = Tables.load(s, dir, "embeddings")
      incrementalEmbedding(vecs, col("vec_id") % 3 === 0,
        exact = false, bitsPerBand = autoBitsPerBand(vecs.count()))
    },
    // fixed-step certified face: DuckDB replays the same 60-step
    // power iteration from its own covariance (see oracle below)
    "emb_pca_power" -> ((s, dir) =>
      topComponentCertified(Tables.load(s, dir, "embeddings"))),
    // PQ code audit: n_codes + in-plan argmax certificate per vector,
    // plus the subspace-recomposed l2 norm DuckDB recomputes from the
    // raw embedding (codes themselves are k-means output,
    // determinism/optimality/compression spec-tested)
    "emb_pq" -> ((s, dir) =>
      pqCodesGate(Tables.load(s, dir, "embeddings"))),
    // PQ distortion audit: oracle recomputes the per-subspace energy
    // from raw embeddings; training-improved + valid-cosine ride as
    // in-plan boolean certificates (assigned totals are k-means
    // output — spec-tested, not hashed)
    "emb_pq_distortion" -> ((s, dir) =>
      pqDistortionAudit(Tables.load(s, dir, "embeddings"))),
    // retrieve-then-rerank: ADC top-C → exact re-rank → top-k equals
    // brute force, so the oracle recomputes the WHOLE answer; the
    // table≡reconstruction identity certificate rides each row
    // candidate budget derives from COUNT(*) (autoAdcCandidates — the
    // autoBitsPerBand discipline): fixed C=200 lost true-top-5 recall
    // at sf1 where scramble-replica neighbors rank as low as ~348
    "knn_pq_adc" -> { (s, dir) =>
      val vecs = Tables.load(s, dir, "embeddings")
      knnPqAdcExact(vecs, col("vec_id") < 10,
        candidates = Knobs.optInt("knn.candidates")
          .getOrElse(autoAdcCandidates(vecs.count())))
    },
    // the composed IVF-PQ index under the same probe-everything +
    // rerank contract: coarse routing, residual codes, table scan and
    // exact re-rank all ride the brute-force hash
    "knn_ivfpq" -> { (s, dir) =>
      val vecs = Tables.load(s, dir, "embeddings")
      knnIvfPqExact(vecs, col("vec_id") < 10,
        candidates = Knobs.optInt("knn.candidates")
          .getOrElse(autoAdcCandidates(vecs.count())))
    },
    // serve-only faces: the persisted index is built on first touch
    // (bench warmup / first verify), so the timed path is the SERVING
    // plan alone — one adc_scan pass over the packed codes, map-side
    // top-C, C-bounded exact re-rank. Same exact-face geometry ⇒ same brute-force oracle as
    // the build faces.
    "knn_pq_serve" -> ((s, dir) =>
      knnPqServe(Tables.load(s, dir, "embeddings"), col("vec_id") < 10,
        pqIndexPath(dir), candidates = Knobs.optInt("knn.candidates"))),
    "knn_ivfpq_serve" -> ((s, dir) =>
      knnIvfPqServe(Tables.load(s, dir, "embeddings"), col("vec_id") < 10,
        ivfPqIndexPath(dir), candidates = Knobs.optInt("knn.candidates"))),
    // integer-exact end to end: the packing, the distances, and the
    // ranking are all BIGINT arithmetic, so the hash carries the whole
    // answer with zero rounding seams
    "emb_bitpack" -> ((s, dir) =>
      bitpack(Tables.load(s, dir, "embeddings")).orderBy(col("vec_id"))),
    // diversified retrieval: the whole greedy selection sequence is
    // integer-exact, so the hash carries every pick and score
    "emb_mmr" -> ((s, dir) =>
      mmrDiversify(Tables.load(s, dir, "embeddings"), col("vec_id") < 3)),
    "knn_hamming" -> ((s, dir) =>
      knnHamming(Tables.load(s, dir, "embeddings"), col("vec_id") < 10)),
    // farthest-point coreset: the whole traversal is integer-exact,
    // so the hash carries every pick, its selection distance, and the
    // covering-radius certificate row
    "emb_kcenter" -> ((s, dir) =>
      kCenterSelect(Tables.load(s, dir, "embeddings"))))

  /** The 48 fixed-seed hyperplanes as SQL row literals — generated from
    * the SAME array the native hyperplane_bits expression evaluates
    * (graft.functions.HyperplaneBits.Planes), so the oracle replays the
    * engine's actual LSH family, not a re-derivation. Double.toString
    * is shortest-round-trip, and DuckDB's literal parse is
    * correctly-rounded, so the planes are bit-identical on both
    * engines. */
  private def planeLiterals: String =
    graft.functions.HyperplaneBits.Planes.zipWithIndex.map {
      case (pl, p) => s"($p, [${pl.mkString(", ")}])"
    }.mkString(",\n")

  /** Full SQL replay of the dedup_embedding_lsh face: sign bits from
    * the inlined hyperplanes (float→double element casts mirror the
    * native expression's accumulation; a sign flip would need
    * |dot| < ~1e-13 — probability ~1e-14 per (vector, plane) for
    * Gaussian planes), integer-exact autoBitsPerBand (smallest b with
    * 32·2^b ≥ n), banding/bucket arithmetic, the (1, maxBucket]
    * bucket-size cut, a<b candidate pairs distinct across bands, and
    * the unrounded cosine ≥ 0.4 verify over DOUBLE[] embeddings (graft
    * verifies in double; LIST_DOT_PRODUCT over FLOAT[] would not). */
  private lazy val lshBandedCtes: String =
    s"""planes AS (SELECT * FROM (VALUES
       |$planeLiterals) t(p, pl)),
       |nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM embeddings),
       |bits AS (
       |  SELECT GREATEST(4, COALESCE(MIN(b), 16)) AS b
       |  FROM RANGE(0, 17) t(b), nn
       |  WHERE (32::BIGINT << b) >= nn.n),
       |hb AS (
       |  SELECT e.vec_id,
       |    SUM(CASE WHEN LIST_DOT_PRODUCT(
       |          LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE)),
       |          p.pl) > 0
       |        THEN (1::BIGINT << p.p) ELSE 0 END) AS hb
       |  FROM embeddings e CROSS JOIN planes p
       |  GROUP BY e.vec_id),
       |banded AS (
       |  SELECT h.vec_id, r.band,
       |    (h.hb >> (r.band * bits.b))
       |      & ((1::BIGINT << bits.b) - 1) AS bucket
       |  FROM hb h, RANGE(0, 12) r(band), bits
       |  WHERE r.band < 48 // bits.b)""".stripMargin

  private lazy val lshPairCtes: String =
    s"""$lshBandedCtes,
       |keep AS (
       |  SELECT band, bucket FROM banded GROUP BY band, bucket
       |  HAVING COUNT(*) > 1 AND COUNT(*) <= 1024),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM banded a
       |  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
       |    AND a.vec_id < b.vec_id
       |  JOIN keep k ON k.band = a.band AND k.bucket = a.bucket),
       |corpus AS (
       |  SELECT vec_id, embedding,
       |    SQRT(LIST_DOT_PRODUCT(embedding, embedding)) AS nrm
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
       |        FROM embeddings)),
       |vp AS (
       |  SELECT c.id_a AS a, c.id_b AS b,
       |    LIST_DOT_PRODUCT(ea.embedding, eb.embedding)
       |      / (ea.nrm * eb.nrm) AS cs
       |  FROM cand c
       |  JOIN corpus ea ON ea.vec_id = c.id_a
       |  JOIN corpus eb ON eb.vec_id = c.id_b
       |  WHERE LIST_DOT_PRODUCT(ea.embedding, eb.embedding)
       |      / (ea.nrm * eb.nrm) >= 0.4)""".stripMargin

  private lazy val lshReplaySql: String =
    s"""WITH $lshPairCtes,
       |qv AS (
       |  SELECT vec_id,
       |    LIST_TRANSFORM(embedding,
       |      x -> FLOOR(CAST(x AS DOUBLE) * 1000.0)) AS q
       |  FROM embeddings)
       |SELECT vp.a AS vec_a, vp.b AS vec_b,
       |  ROUND(LIST_DOT_PRODUCT(qa.q, qb.q)
       |    / (SQRT(LIST_DOT_PRODUCT(qa.q, qa.q))
       |       * SQRT(LIST_DOT_PRODUCT(qb.q, qb.q))), 4) AS cos_r
       |FROM vp
       |JOIN qv qa ON qa.vec_id = vp.a
       |JOIN qv qb ON qb.vec_id = vp.b
       |ORDER BY vec_a, vec_b""".stripMargin

  /** dedup_embedding oracle: the LSH pair replay above, closed
    * transitively with a recursive-CTE reachability min (the graph_cc
    * oracle style), one verdict row per corpus vector. */
  private lazy val lshClusterSql: String =
    s"""WITH RECURSIVE $lshPairCtes,
       |edges AS (
       |  SELECT a AS src, b AS dst FROM vp
       |  UNION ALL SELECT b AS src, a AS dst FROM vp),
       |reach AS (
       |  SELECT src AS v, src AS l FROM edges
       |  UNION
       |  SELECT e.dst AS v, r.l AS l
       |  FROM reach r JOIN edges e ON r.v = e.src),
       |comp AS (SELECT v, MIN(l) AS c FROM reach GROUP BY v)
       |SELECT e.vec_id, COALESCE(comp.c, e.vec_id) AS canon_id,
       |  COALESCE(comp.c, e.vec_id) <> e.vec_id AS is_dup
       |FROM embeddings e LEFT JOIN comp ON e.vec_id = comp.v
       |ORDER BY e.vec_id""".stripMargin

  /** dedup_incremental_emb oracle: the same LSH pair replay feeding
    * the %3 history/batch dup classification. */
  private lazy val lshIncrementalSql: String =
    s"""WITH $lshPairCtes,
       |pairs AS (
       |  SELECT a AS x, b AS y FROM vp
       |  UNION ALL SELECT b AS x, a AS y FROM vp),
       |bt AS (SELECT vec_id FROM embeddings WHERE vec_id % 3 = 0),
       |doh AS (SELECT DISTINCT x AS vec_id FROM pairs
       |        WHERE x % 3 = 0 AND y % 3 <> 0),
       |dib AS (SELECT DISTINCT x AS vec_id FROM pairs
       |        WHERE x % 3 = 0 AND y % 3 = 0 AND y < x)
       |SELECT bt.vec_id,
       |  doh.vec_id IS NOT NULL AS dup_of_history,
       |  dib.vec_id IS NOT NULL AS dup_in_batch,
       |  (doh.vec_id IS NULL AND dib.vec_id IS NULL) AS keep
       |FROM bt LEFT JOIN doh ON bt.vec_id = doh.vec_id
       |LEFT JOIN dib ON bt.vec_id = dib.vec_id
       |ORDER BY bt.vec_id""".stripMargin

  /** The brute-force cosine top-5 recomputation shared by knn_brute,
    * knn_ivf and (with `extra` = the always-true certificate column)
    * the four retrieve-then-rerank faces (knn_pq_adc / knn_ivfpq and
    * their serve-only splits). Embeddings are cast to DOUBLE[] first:
    * LIST_DOT_PRODUCT over FLOAT[] accumulates in single precision,
    * which moved 4-decimal cosines off graft's double arithmetic (one
    * row in 50 on some seeds, e.g. 0.3303 vs the true 0.33035002). */
  private def bruteTopkSql(extra: String): String =
    s"""WITH corpus AS (
      |  SELECT vec_id, embedding,
      |    SQRT(LIST_DOT_PRODUCT(embedding, embedding)) AS nrm
      |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
      |        FROM embeddings)),
      |q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
      |      FROM corpus WHERE vec_id < 10),
      |scored AS (
      |  SELECT query_id, c.vec_id AS neighbor_id,
      |    LIST_DOT_PRODUCT(c.embedding, q.qe) / (c.nrm * q.qn) AS cos_sim
      |  FROM corpus c, q WHERE c.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY cos_sim DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, ROUND(cos_sim, 4) AS cos_r,
      |  CAST(rank AS INT) AS rank$extra
      |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  private val bruteWithCertSql: String = bruteTopkSql(", TRUE AS adc_ok")

  /** emb_pca_power is full-oracle: the registered face runs a FIXED
    * 60-step power iteration (no early exit), and the oracle replays
    * the identical recursion in a recursive CTE over the covariance
    * DuckDB recomputes from the raw embeddings — fixed-step iterates
    * agree across engines to ~1e-12 and the 4-decimal rounding
    * absorbs it (see topComponentCertified).
    * dedup_embedding is full-oracle via the complete block-pair face —
    * the emitted set IS the all-pairs cosine answer. knn_brute AND
    * knn_ivf are full-oracle at 4-decimal precision with exact ranks
    * (the IVF correctness face probes every cell, which is exact by
    * construction and centroid-independent); emb_centroids is
    * full-oracle via the fixed-point mean; emb_quantize hash-matches
    * the exact per-vector scale plus in-plan error-bound gates. */
  /** Shared replay CTEs for the cell-bucketed kNN graph (cent →
    * cells → pairs → ranked `r`): emb_knn_graph emits the rk ≤ 4 cut
    * directly; emb_mutual_knn keeps an edge only when its reverse is
    * also in that cut. */
  private val knnGraphReplayCtes: String =
    """WITH cent AS (
        |  SELECT label, pos - 1 AS dim,
        |    CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1e9) AS BIGINT))
        |      AS DOUBLE) / (COUNT(*) * 1e9) AS mean_v
        |  FROM (SELECT label, UNNEST(embedding) AS v,
        |          GENERATE_SUBSCRIPTS(embedding, 1) AS pos
        |        FROM embeddings) t
        |  GROUP BY label, pos),
        |carr AS (SELECT label AS clabel, LIST(mean_v ORDER BY dim) AS cvec
        |         FROM cent GROUP BY label),
        |ev AS (SELECT vec_id,
        |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |sims AS (
        |  SELECT vec_id, clabel,
        |    LIST_DOT_PRODUCT(emb, cvec)
        |      / (SQRT(LIST_DOT_PRODUCT(emb, emb))
        |         * SQRT(LIST_DOT_PRODUCT(cvec, cvec))) AS c
        |  FROM ev CROSS JOIN carr),
        |sh AS (
        |  SELECT GREATEST(1, COUNT(*) //
        |    ((SELECT COUNT(DISTINCT label) FROM embeddings) * 50))
        |    AS shards
        |  FROM embeddings),
        |cells AS (
        |  SELECT vec_id, CAST(clabel AS BIGINT) AS cell,
        |    (vec_id % 1000003) * 2654435761 % (SELECT shards FROM sh)
        |      AS sub
        |  FROM (
        |    SELECT vec_id, clabel, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id ORDER BY c DESC, clabel) AS rk
        |    FROM sims) r WHERE rk = 1),
        |pairs AS (
        |  SELECT a.vec_id, b.vec_id AS neighbor_id,
        |    LIST_DOT_PRODUCT(ea.emb, eb.emb)
        |      / (SQRT(LIST_DOT_PRODUCT(ea.emb, ea.emb))
        |         * SQRT(LIST_DOT_PRODUCT(eb.emb, eb.emb))) AS c
        |  FROM cells a JOIN cells b
        |    ON a.cell = b.cell AND a.sub = b.sub
        |    AND a.vec_id != b.vec_id
        |  JOIN ev ea ON ea.vec_id = a.vec_id
        |  JOIN ev eb ON eb.vec_id = b.vec_id),
        |r AS (
        |  SELECT vec_id, neighbor_id, c, ROW_NUMBER() OVER (
        |    PARTITION BY vec_id ORDER BY c DESC, neighbor_id) AS rk
        |  FROM pairs)
""".stripMargin

  /** Chained-CTE replay of [[kCenterSelect]]'s k+1 rounds (the
    * graph_label_prop unroll discipline): sR argmaxes the min-distance
    * column dR−1 maintains, dR folds the new center in with LEAST.
    * Distances replay as sq_a + sq_b − 2·dot over the ⌊x·10³⌋-quantized
    * coords held as DOUBLE lists — every term an integer ≤ ~1.3·10⁸,
    * far under 2^53, so LIST_DOT_PRODUCT's double accumulation is
    * exact and equals the engine's BIGINT Σ(x−y)². */
  private def kCenterOracleSql(k: Int): String = {
    def dist(t: String) =
      s"CAST(LIST_DOT_PRODUCT($t.qd, $t.qd) + LIST_DOT_PRODUCT(s.qd, s.qd)" +
        s" - 2 * LIST_DOT_PRODUCT($t.qd, s.qd) AS BIGINT)"
    val ctes = Seq(
      "n AS (SELECT vec_id, LIST_TRANSFORM(embedding," +
        " v -> CAST(CAST(FLOOR(CAST(v AS DOUBLE) * 1000) AS BIGINT)" +
        " AS DOUBLE)) AS qd FROM embeddings)",
      "s1 AS (SELECT vec_id, qd FROM n ORDER BY vec_id LIMIT 1)",
      s"d1 AS (SELECT n.vec_id, n.qd, ${dist("n")} AS md" +
        " FROM n CROSS JOIN s1 s)") ++
      (2 to k + 1).flatMap { r =>
        val sel = s"s$r AS (SELECT vec_id, qd, md FROM d${r - 1}" +
          " WHERE md > 0 ORDER BY md DESC, vec_id LIMIT 1)"
        if (r <= k)
          Seq(sel, s"d$r AS (SELECT d.vec_id, d.qd," +
            s" LEAST(d.md, ${dist("d")}) AS md" +
            s" FROM d${r - 1} d CROSS JOIN s$r s)")
        else Seq(sel)
      }
    val rows =
      Seq("SELECT 1 AS sel_rank, vec_id, CAST(0 AS BIGINT) AS dist_fp" +
        " FROM s1") ++
      (2 to k + 1).map(r =>
        s"SELECT $r AS sel_rank, vec_id, md AS dist_fp FROM s$r")
    "WITH " + ctes.mkString(",\n") + "\n" +
      rows.mkString("\nUNION ALL ") + "\nORDER BY sel_rank"
  }

  def oracleSql: Map[String, String] = Map(
    // the k+1-round farthest-point replay; see kCenterOracleSql
    "emb_kcenter" -> kCenterOracleSql(8),
    // the greedy replayed as a recursive CTE carrying the chosen list:
    // pick 1 = relevance argmax, pick i+1 = argmax of
    // 7·qsim − 3·max_{c∈chosen} dot — every sim an exact BIGINT dot of
    // FLOOR(x·1e4) coords (≤ ~2e9 ≪ 2^53, so LIST_DOT_PRODUCT's
    // double accumulation is exact), ties on vec_id
    "emb_mmr" ->
      """WITH RECURSIVE qv AS (
        |  SELECT vec_id, LIST_TRANSFORM(embedding,
        |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
        |  FROM embeddings),
        |queries AS (
        |  SELECT vec_id AS query_id, v AS qvec FROM qv WHERE vec_id < 3),
        |pool AS (
        |  SELECT query_id, vec_id, v, qsim FROM (
        |    SELECT q.query_id, c.vec_id, c.v,
        |      CAST(LIST_DOT_PRODUCT(c.v, q.qvec) AS BIGINT) AS qsim,
        |      ROW_NUMBER() OVER (PARTITION BY q.query_id
        |        ORDER BY CAST(LIST_DOT_PRODUCT(c.v, q.qvec) AS BIGINT)
        |          DESC, c.vec_id) AS rn
        |    FROM qv c JOIN queries q ON c.vec_id <> q.query_id) t
        |  WHERE rn <= 20),
        |sel AS (
        |  SELECT query_id, CAST(1 AS BIGINT) AS sel_rank, vec_id,
        |    7 * qsim AS mmr_score, [vec_id] AS chosen
        |  FROM (SELECT query_id, vec_id, qsim,
        |          ROW_NUMBER() OVER (PARTITION BY query_id
        |            ORDER BY qsim DESC, vec_id) AS rn
        |        FROM pool) t
        |  WHERE rn = 1
        |  UNION ALL
        |  SELECT query_id, sel_rank, vec_id, mmr_score,
        |    LIST_APPEND(chosen, vec_id) AS chosen
        |  FROM (
        |    SELECT s.query_id, s.sel_rank + 1 AS sel_rank, p.vec_id,
        |      7 * p.qsim -
        |        3 * MAX(CAST(LIST_DOT_PRODUCT(p.v, c.v) AS BIGINT))
        |        AS mmr_score,
        |      s.chosen,
        |      ROW_NUMBER() OVER (PARTITION BY s.query_id ORDER BY
        |        7 * p.qsim -
        |          3 * MAX(CAST(LIST_DOT_PRODUCT(p.v, c.v) AS BIGINT))
        |          DESC, p.vec_id) AS rn2
        |    FROM sel s
        |    JOIN pool p ON p.query_id = s.query_id
        |      AND NOT LIST_CONTAINS(s.chosen, p.vec_id)
        |    JOIN pool c ON c.query_id = s.query_id
        |      AND LIST_CONTAINS(s.chosen, c.vec_id)
        |    WHERE s.sel_rank < 5
        |    GROUP BY s.query_id, s.sel_rank, p.vec_id, p.qsim, s.chosen
        |  ) t WHERE rn2 = 1)
        |SELECT query_id, sel_rank, vec_id, mmr_score
        |FROM sel ORDER BY query_id, sel_rank""".stripMargin,
    // sign packing replayed with plain integer arithmetic: bit i of
    // h0/h1 = [embedding[i(+32)] >= 0] << i; halves stay below 2^32 so
    // no BIGINT sign-bit overflow on either engine
    "emb_bitpack" ->
      """SELECT vec_id,
        |  CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, 32), i ->
        |    CASE WHEN embedding[i + 1] >= 0
        |         THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS h0,
        |  CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, 32), i ->
        |    CASE WHEN embedding[i + 33] >= 0
        |         THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS h1,
        |  CAST(LEN(LIST_FILTER(embedding, x -> x >= 0)) AS BIGINT)
        |    AS pos_bits
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    // same packing, then XOR/popcount distance and the full top-k
    // ranking — every distance and every rank is on the hash
    "knn_hamming" ->
      """WITH packed AS (
        |  SELECT vec_id,
        |    CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, 32), i ->
        |      CASE WHEN embedding[i + 1] >= 0
        |           THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT)
        |      AS h0,
        |    CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, 32), i ->
        |      CASE WHEN embedding[i + 33] >= 0
        |           THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT)
        |      AS h1
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, p.vec_id AS neighbor_id,
        |    CAST(BIT_COUNT(XOR(q.h0, p.h0))
        |       + BIT_COUNT(XOR(q.h1, p.h1)) AS BIGINT) AS hamming
        |  FROM packed q JOIN packed p ON p.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY hamming, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, hamming, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // replay of topComponentCertified: covariance recomputed from the
    // raw embeddings (C = (Σxxᵀ − n·μμᵀ)/(n−1), exactly the Scala
    // formula), then the SAME 60-step fixed power iteration as a
    // recursive CTE. The state is the UNNORMALIZED iterate av — C·v is
    // linear, so (C·av)/‖av‖ = C·(av/‖av‖) and one division inside the
    // matvec replaces a separate normalize step; v_K = av_K/‖av_K‖ and
    // λ = ‖av_K‖ = ‖C·v_{K-1}‖ match the Scala update rule. 4-decimal
    // rounding absorbs the ~1e-12 cross-engine summation-order drift.
    "emb_pca_power" ->
      """WITH RECURSIVE nn AS MATERIALIZED (SELECT COUNT(*)::DOUBLE AS n FROM embeddings),
        |idx AS MATERIALIZED (SELECT UNNEST(RANGE(1, 65)) AS i),
        |mu AS MATERIALIZED (
        |  SELECT i, SUM(embedding[i]::DOUBLE) / (SELECT n FROM nn) AS m
        |  FROM embeddings, idx GROUP BY i),
        |xs AS MATERIALIZED (
        |  SELECT a.i AS i, b.i AS j,
        |    SUM(e.embedding[a.i]::DOUBLE * e.embedding[b.i]::DOUBLE) AS sxx
        |  FROM embeddings e, idx a, idx b
        |  GROUP BY a.i, b.i),
        |cov AS MATERIALIZED (
        |  SELECT x.i, x.j,
        |    (x.sxx - (SELECT n FROM nn) * ma.m * mb.m)
        |      / ((SELECT n FROM nn) - 1) AS c
        |  FROM xs x JOIN mu ma ON ma.i = x.i JOIN mu mb ON mb.i = x.j),
        |covm AS MATERIALIZED (
        |  SELECT LIST(cl ORDER BY i) AS m
        |  FROM (SELECT i, LIST(c ORDER BY j) AS cl FROM cov GROUP BY i) t),
        |p(step, av) AS (
        |  SELECT 0, LIST_TRANSFORM(RANGE(1, 65), i -> 1.0/SQRT(64.0))
        |  UNION ALL
        |  SELECT p.step + 1,
        |    LIST_TRANSFORM(RANGE(1,65), i ->
        |      LIST_SUM(LIST_TRANSFORM(RANGE(1,65), j -> covm.m[i][j] * p.av[j]))
        |        / SQRT(LIST_SUM(LIST_TRANSFORM(p.av, y -> y*y))))
        |  FROM p, covm WHERE p.step < 60),
        |fin AS MATERIALIZED (
        |  SELECT LIST_TRANSFORM(av, x ->
        |           x / SQRT(LIST_SUM(LIST_TRANSFORM(av, y -> y*y)))) AS v,
        |         SQRT(LIST_SUM(LIST_TRANSFORM(av, y -> y*y))) AS eig
        |  FROM p WHERE step = 60),
        |res AS MATERIALIZED (
        |  SELECT SQRT(LIST_SUM(LIST_TRANSFORM(RANGE(1,65), i ->
        |    POWER(LIST_SUM(LIST_TRANSFORM(RANGE(1,65), j ->
        |      covm.m[i][j] * fin.v[j])) - fin.eig * fin.v[i], 2)
        |  ))) / fin.eig AS r
        |  FROM fin, covm),
        |am AS (SELECT i FROM idx, fin ORDER BY ABS(fin.v[i]) DESC, i LIMIT 1),
        |fl AS (SELECT CASE WHEN fin.v[(SELECT i FROM am)] < 0
        |              THEN -1.0 ELSE 1.0 END AS f FROM fin)
        |SELECT idx.i - 1 AS dim,
        |  ROUND((SELECT f FROM fl) * fin.v[idx.i], 4) AS loading,
        |  ROUND(fin.eig, 4) AS eigenvalue,
        |  (SELECT r FROM res) < 0.10 AS resid_ok
        |FROM idx, fin ORDER BY dim""".stripMargin,
    // both retrieval legs replayed brute-force (full and 16-dim
    // prefix), same rank-tie contract as knn_brute, overlap counted
    // identically; energy is the same double division rounded. Every
    // dot runs over DOUBLE[] (LIST_DOT_PRODUCT over FLOAT[] accumulates
    // in single precision; graft computes in double)
    "emb_matryoshka" ->
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
        |  FROM embeddings),
        |corpus AS (
        |  SELECT vec_id, embedding,
        |    SQRT(LIST_DOT_PRODUCT(embedding, embedding)) AS nrm
        |  FROM emb),
        |tcorpus AS (
        |  SELECT vec_id, embedding[1:16] AS e16,
        |    SQRT(LIST_DOT_PRODUCT(embedding[1:16], embedding[1:16]))
        |      AS nrm
        |  FROM emb),
        |q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
        |      FROM corpus WHERE vec_id < 10),
        |tq AS (SELECT vec_id AS query_id, e16 AS qe, nrm AS qn
        |       FROM tcorpus WHERE vec_id < 10),
        |fullk AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.query_id, c.vec_id AS neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.query_id
        |        ORDER BY LIST_DOT_PRODUCT(c.embedding, q.qe)
        |          / (c.nrm * q.qn) DESC, c.vec_id) AS rnk
        |    FROM corpus c, q WHERE c.vec_id <> q.query_id) t
        |  WHERE rnk <= 5),
        |trunck AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.query_id, c.vec_id AS neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.query_id
        |        ORDER BY LIST_DOT_PRODUCT(c.e16, q.qe)
        |          / (c.nrm * q.qn) DESC, c.vec_id) AS rnk
        |    FROM tcorpus c, tq q WHERE c.vec_id <> q.query_id) t
        |  WHERE rnk <= 5),
        |ov AS (
        |  SELECT f.query_id, COUNT(*) AS n
        |  FROM fullk f JOIN trunck t
        |    ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
        |  GROUP BY f.query_id)
        |SELECT c.vec_id AS query_id,
        |  CAST(COALESCE(ov.n, 0) AS BIGINT) AS n_overlap,
        |  ROUND(LIST_DOT_PRODUCT(c.embedding[1:16], c.embedding[1:16])
        |    / LIST_DOT_PRODUCT(c.embedding, c.embedding), 4) AS energy_r
        |FROM emb c LEFT JOIN ov ON c.vec_id = ov.query_id
        |WHERE c.vec_id < 10 ORDER BY query_id""".stripMargin,
    // double-cast dot (the hb precedent: DuckDB then accumulates the
    // same doubles Spark's native expression does, agreement ~1e-13 —
    // far inside the 1e-6 floor grid), same counts and fp spread
    "emb_norm_audit" ->
      """WITH v AS (
        |  SELECT vec_id // 100 AS batch, vec_id,
        |    LIST_DOT_PRODUCT(
        |      LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)),
        |      LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE))) AS n2,
        |    LEN(embedding) AS dim
        |  FROM embeddings)
        |SELECT batch, COUNT(*) AS n_vecs,
        |  CAST(SUM(CASE WHEN n2 = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_zero,
        |  CAST(SUM(CASE WHEN ISNAN(n2) OR n2 = 'inf'::DOUBLE
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
        |  CAST(SUM(CASE WHEN dim <> 64 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dim_drift,
        |  MIN(CAST(FLOOR(SQRT(n2) * 1e6) AS BIGINT)) AS min_norm_fp,
        |  MAX(CAST(FLOOR(SQRT(n2) * 1e6) AS BIGINT)) AS max_norm_fp
        |FROM v GROUP BY batch ORDER BY batch""".stripMargin,
    // the full banded replay (planes + auto-bits + band slicing), then
    // the same bucket-size rollup — integer pair mass, same 1024 cut
    "emb_lsh_audit" ->
      s"""WITH $lshBandedCtes,
         |sizes AS (
         |  SELECT band, bucket, COUNT(*) AS sz
         |  FROM banded GROUP BY band, bucket)
         |SELECT band, COUNT(*) AS n_buckets,
         |  CAST(SUM(sz) AS BIGINT) AS n_rows,
         |  CAST(MAX(sz) AS BIGINT) AS max_bucket,
         |  CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS cand_pairs,
         |  CAST(SUM(CASE WHEN sz > 1024 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_oversize
         |FROM sizes GROUP BY band ORDER BY band""".stripMargin,
    // same adjacent-id pairing; cosines via the double-cast dot (the
    // norm-audit precedent: ~1e-13 agreement, far inside both the
    // 0.125 bin grid and the 1e-6 envelope grid)
    "emb_pair_hist" ->
      """WITH d AS (
        |  SELECT vec_id,
        |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |pairs AS (
        |  SELECT a.e AS ea, b.e AS eb
        |  FROM d a JOIN d b ON b.vec_id = a.vec_id + 1
        |  WHERE a.vec_id % 2 = 0),
        |c AS (
        |  SELECT LIST_DOT_PRODUCT(ea, eb) /
        |    (SQRT(LIST_DOT_PRODUCT(ea, ea)) *
        |     SQRT(LIST_DOT_PRODUCT(eb, eb))) AS cos
        |  FROM pairs)
        |SELECT LEAST(CAST(FLOOR((cos + 1) * 8) AS BIGINT),
        |    CAST(15 AS BIGINT)) AS bin,
        |  COUNT(*) AS n_pairs,
        |  MIN(CAST(FLOOR(cos * 1e6) AS BIGINT)) AS min_cos_fp,
        |  MAX(CAST(FLOOR(cos * 1e6) AS BIGINT)) AS max_cos_fp
        |FROM c GROUP BY bin ORDER BY bin""".stripMargin,
    // same micro-int grid (1-based DuckDB subscripts shift to the
    // 0-based dim), every statistic the same integer sum
    "emb_dim_stats" ->
      """WITH x AS (
        |  SELECT i - 1 AS dim,
        |    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT)
        |      AS m
        |  FROM embeddings,
        |    UNNEST(RANGE(1, LEN(embedding) + 1)) AS r(i))
        |SELECT dim, COUNT(*) AS n,
        |  CAST(SUM(m) AS BIGINT) AS sum_micro,
        |  CAST(SUM(m * m) AS BIGINT) AS sumsq_micro,
        |  MIN(m) AS min_micro, MAX(m) AS max_micro
        |FROM x GROUP BY dim ORDER BY dim""".stripMargin,
    // query-anchored bucket join replayed on the same banded CTEs
    // (no bucket-size cut — mirrors the face), exact verify at 0.3 in
    // double precision, per-query count + (cos desc, id) argmax
    "knn_radius" ->
      s"""WITH $lshBandedCtes,
         |qb AS (
         |  SELECT vec_id AS query_id, band, bucket FROM banded
         |  WHERE vec_id < 10),
         |cands AS (
         |  SELECT DISTINCT q.query_id, b.vec_id
         |  FROM banded b JOIN qb q
         |    ON b.band = q.band AND b.bucket = q.bucket
         |  WHERE b.vec_id <> q.query_id),
         |corpus AS (
         |  SELECT vec_id, embedding,
         |    SQRT(LIST_DOT_PRODUCT(embedding, embedding)) AS nrm
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
         |        FROM embeddings)),
         |verified AS (
         |  SELECT c.query_id, c.vec_id,
         |    LIST_DOT_PRODUCT(ec.embedding, eq.embedding)
         |      / (ec.nrm * eq.nrm) AS cs
         |  FROM cands c
         |  JOIN corpus ec ON ec.vec_id = c.vec_id
         |  JOIN corpus eq ON eq.vec_id = c.query_id
         |  WHERE LIST_DOT_PRODUCT(ec.embedding, eq.embedding)
         |      / (ec.nrm * eq.nrm) >= 0.3),
         |cnt AS (SELECT query_id, COUNT(*) AS n FROM verified
         |        GROUP BY query_id),
         |best AS (
         |  SELECT query_id, vec_id AS best_id, ROUND(cs, 4) AS best_cos_r
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |          ORDER BY cs DESC, vec_id) AS rn FROM verified) t
         |  WHERE rn = 1)
         |SELECT e.vec_id AS query_id,
         |  CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_matches,
         |  best.best_id, best.best_cos_r
         |FROM embeddings e
         |LEFT JOIN cnt ON e.vec_id = cnt.query_id
         |LEFT JOIN best ON e.vec_id = best.query_id
         |WHERE e.vec_id < 10 ORDER BY query_id""".stripMargin,
    // exact engine-replay of the banded-LSH production face — planes
    // inlined, bits derived from COUNT(*) with the same integer rule
    "dedup_embedding_lsh" -> lshReplaySql,
    // same LSH pair replay + recursive-CTE transitive closure — the
    // probabilistic candidate stage AND the cluster policy both ride
    // the hash
    "dedup_embedding" -> lshClusterSql,
    // n_codes/argmax_ok stay in-plan-certified; nrm_r is recomputed
    // here from the raw embedding, so the row set is tied to the data
    "emb_pq" ->
      """SELECT vec_id, 4 AS n_codes, TRUE AS argmax_ok,
        |  ROUND(SQRT(LIST_DOT_PRODUCT(embedding, embedding)), 4) AS nrm_r
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    // per-subspace energy recomputed from the raw embeddings with the
    // same slicing and fixed-point fold; certificates assert TRUE
    "emb_pq_distortion" ->
      """WITH s AS (
        |  SELECT m, embedding[m * 16 + 1 : m * 16 + 16] AS e
        |  FROM embeddings
        |  CROSS JOIN (SELECT UNNEST(RANGE(0, 4)) AS m) t)
        |SELECT CAST(m AS BIGINT) AS m, COUNT(*) AS n_vecs,
        |  CAST(SUM(LIST_SUM(LIST_TRANSFORM(e, x ->
        |    CAST(FLOOR(CAST(x AS DOUBLE) * 1e3) AS BIGINT) *
        |    CAST(FLOOR(CAST(x AS DOUBLE) * 1e3) AS BIGINT))))
        |    AS BIGINT) AS nrm2_fp,
        |  TRUE AS improved_ok, TRUE AS bounded_ok
        |FROM s GROUP BY m ORDER BY m""".stripMargin,
    // every rerank face (build AND serve) equals brute-force top-k, so
    // each oracle IS the brute-force recomputation (same SQL as
    // knn_brute, plus the certificate column)
    "knn_ivfpq" -> bruteWithCertSql,
    "knn_pq_adc" -> bruteWithCertSql,
    "knn_ivfpq_serve" -> bruteWithCertSql,
    "knn_pq_serve" -> bruteWithCertSql,
    "knn_ivf" -> bruteTopkSql(""),
    // the knn_brute replay with the label-mismatch predicate applied
    // before ranking — the mining contract end to end
    "emb_hard_negatives" ->
      """WITH corpus AS (
        |  SELECT vec_id, label, embedding,
        |    SQRT(LIST_DOT_PRODUCT(embedding, embedding)) AS nrm
        |  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS embedding
        |        FROM embeddings)),
        |q AS (SELECT vec_id AS query_id, label AS q_label,
        |        embedding AS qe, nrm AS qn
        |      FROM corpus WHERE vec_id < 10),
        |scored AS (
        |  SELECT query_id, q_label, c.vec_id AS neighbor_id,
        |    c.label AS neg_label,
        |    LIST_DOT_PRODUCT(c.embedding, q.qe) / (c.nrm * q.qn)
        |      AS cos_sim
        |  FROM corpus c, q
        |  WHERE c.vec_id <> q.query_id AND c.label <> q.q_label),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, q_label, neighbor_id, neg_label,
        |  ROUND(cos_sim, 4) AS cos_r, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "knn_brute" -> bruteTopkSql(""),
    // float→double cast order mirrors the Spark side: abs/max on FLOAT,
    // one cast to DOUBLE, one division — bit-identical across engines
    "emb_quantize" ->
      """SELECT vec_id,
        |  127.0 / CAST(LIST_MAX(LIST_TRANSFORM(embedding, x -> ABS(x)))
        |    AS DOUBLE) AS scale,
        |  TRUE AS bound_ok,
        |  TRUE AS mse_ok
        |FROM embeddings
        |WHERE CAST(LIST_MAX(LIST_TRANSFORM(embedding, x -> ABS(x)))
        |    AS DOUBLE) > 0
        |ORDER BY vec_id""".stripMargin,
    "emb_centroids" ->
      """SELECT label, pos - 1 AS dim,
        |  CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1e9) AS BIGINT)) AS DOUBLE)
        |    / (COUNT(*) * 1e9) AS mean_v,
        |  COUNT(*) AS n_vecs
        |FROM (SELECT label, UNNEST(embedding) AS v,
        |        GENERATE_SUBSCRIPTS(embedding, 1) AS pos
        |      FROM embeddings) t
        |GROUP BY label, pos ORDER BY label, dim""".stripMargin,
    // the LSH pair replay feeding the %3 history/batch classification
    // — dup flags replayed from the SAME candidate set the engine
    // generates, so the probabilistic face is hash-gated end to end
    "dedup_incremental_emb" -> lshIncrementalSql,
    // full SemDeDup replay: fixed-point centroids, argmax assignment
    // (ties → lowest cell), within-cell pairs, min-id-survivor verdict
    // both moments replayed from the same fixed-point integer sums;
    // ROUND(6) absorbs the sqrt libm ulp, NULL on constant dims
    "emb_standardize" ->
      """WITH xd AS (
        |  SELECT vec_id, pos - 1 AS dim, CAST(v AS DOUBLE) AS x
        |  FROM (SELECT vec_id, UNNEST(embedding) AS v,
        |          GENERATE_SUBSCRIPTS(embedding, 1) AS pos
        |        FROM embeddings) t),
        |stats AS (
        |  SELECT dim,
        |    CAST(SUM(CAST(FLOOR(x * 1e9) AS BIGINT)) AS DOUBLE)
        |      / (COUNT(*) * 1e9) AS mean_v,
        |    CAST(SUM(CAST(FLOOR(x * 1e6) AS BIGINT)
        |           * CAST(FLOOR(x * 1e6) AS BIGINT)) AS DOUBLE)
        |      / (COUNT(*) * 1e12) AS ex2
        |  FROM xd GROUP BY dim),
        |s2 AS (
        |  SELECT dim, mean_v,
        |    SQRT(GREATEST(ex2 - mean_v * mean_v, 0.0)) AS std_v
        |  FROM stats)
        |SELECT x.vec_id, x.dim,
        |  CASE WHEN s2.std_v > 0
        |    THEN ROUND((x.x - s2.mean_v) / s2.std_v, 6) END AS z
        |FROM xd x JOIN s2 USING (dim)
        |ORDER BY vec_id, dim""".stripMargin,
    // full replay of the ±1 projection: the 1e-6 quantization, the
    // (d, j) sign hash, and the integer sums — proj_fp carries the
    // exact matrix product, proj is one shared double division
    "emb_rand_proj" ->
      """WITH xd AS (
        |  SELECT vec_id, pos - 1 AS d,
        |    CAST(FLOOR(CAST(v AS DOUBLE) * 1e6) AS BIGINT) AS q
        |  FROM (SELECT vec_id, UNNEST(embedding) AS v,
        |          GENERATE_SUBSCRIPTS(embedding, 1) AS pos
        |        FROM embeddings) t),
        |proj AS (
        |  SELECT vec_id, j,
        |    SUM(CASE WHEN ((d * 100003 + j) % 1000003 * 2654435761) % 2 = 0
        |             THEN q ELSE -q END) AS y
        |  FROM xd, UNNEST(RANGE(0, 16)) r(j)
        |  GROUP BY vec_id, j)
        |SELECT vec_id, CAST(j AS BIGINT) AS out_dim,
        |  CAST(y AS BIGINT) AS proj_fp,
        |  CAST(y AS DOUBLE) / 4e6 AS proj
        |FROM proj ORDER BY vec_id, out_dim""".stripMargin,
    // both legs replayed by their own proven chains (the knnGraph cell
    // CTEs, the knn_brute cosine CTEs on the sampled query set), then
    // the semi-join hit counts and the exact small-integer division
    "emb_recall_audit" ->
      """WITH cent AS (
        |  SELECT label, pos - 1 AS dim,
        |    CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1e9) AS BIGINT))
        |      AS DOUBLE) / (COUNT(*) * 1e9) AS mean_v
        |  FROM (SELECT label, UNNEST(embedding) AS v,
        |          GENERATE_SUBSCRIPTS(embedding, 1) AS pos
        |        FROM embeddings) t
        |  GROUP BY label, pos),
        |carr AS (SELECT label AS clabel, LIST(mean_v ORDER BY dim) AS cvec
        |         FROM cent GROUP BY label),
        |ev AS (SELECT vec_id,
        |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |sims AS (
        |  SELECT vec_id, clabel,
        |    LIST_DOT_PRODUCT(emb, cvec)
        |      / (SQRT(LIST_DOT_PRODUCT(emb, emb))
        |         * SQRT(LIST_DOT_PRODUCT(cvec, cvec))) AS c
        |  FROM ev CROSS JOIN carr),
        |sh AS (
        |  SELECT GREATEST(1, COUNT(*) //
        |    ((SELECT COUNT(DISTINCT label) FROM embeddings) * 50))
        |    AS shards
        |  FROM embeddings),
        |cells AS (
        |  SELECT vec_id, CAST(clabel AS BIGINT) AS cell,
        |    (vec_id % 1000003) * 2654435761 % (SELECT shards FROM sh)
        |      AS sub
        |  FROM (
        |    SELECT vec_id, clabel, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id ORDER BY c DESC, clabel) AS rk
        |    FROM sims) r WHERE rk = 1),
        |gpairs AS (
        |  SELECT a.vec_id, b.vec_id AS neighbor_id,
        |    LIST_DOT_PRODUCT(ea.emb, eb.emb)
        |      / (SQRT(LIST_DOT_PRODUCT(ea.emb, ea.emb))
        |         * SQRT(LIST_DOT_PRODUCT(eb.emb, eb.emb))) AS c
        |  FROM cells a JOIN cells b
        |    ON a.cell = b.cell AND a.sub = b.sub
        |    AND a.vec_id != b.vec_id
        |  JOIN ev ea ON ea.vec_id = a.vec_id
        |  JOIN ev eb ON eb.vec_id = b.vec_id),
        |ev_n AS (SELECT GREATEST(50, (COUNT(*) + 127) // 128) AS e
        |         FROM embeddings),
        |ap AS (
        |  SELECT vec_id, neighbor_id FROM (
        |    SELECT vec_id, neighbor_id, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id ORDER BY c DESC, neighbor_id) AS rk
        |    FROM gpairs) r
        |  WHERE rk <= 4 AND vec_id % (SELECT e FROM ev_n) = 0),
        |corpus AS (
        |  SELECT vec_id, embedding,
        |    SQRT(LIST_DOT_PRODUCT(embedding, embedding)) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
        |      FROM corpus WHERE vec_id % (SELECT e FROM ev_n) = 0),
        |scored AS (
        |  SELECT query_id, c.vec_id AS neighbor_id,
        |    LIST_DOT_PRODUCT(c.embedding, q.qe) / (c.nrm * q.qn) AS cos_sim
        |  FROM corpus c, q WHERE c.vec_id <> q.query_id),
        |ex AS (
        |  SELECT query_id AS vec_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
        |      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id)
        |      AS rank
        |    FROM scored) r WHERE rank <= 4),
        |hit AS (
        |  SELECT e.vec_id, COUNT(*) AS n_hit
        |  FROM ex e JOIN ap a
        |    ON e.vec_id = a.vec_id AND e.neighbor_id = a.neighbor_id
        |  GROUP BY e.vec_id),
        |na AS (SELECT vec_id, COUNT(*) AS n_approx FROM ap GROUP BY vec_id),
        |ne AS (SELECT vec_id, COUNT(*) AS n_exact FROM ex GROUP BY vec_id)
        |SELECT ne.vec_id, ne.n_exact,
        |  CAST(COALESCE(na.n_approx, 0) AS BIGINT) AS n_approx,
        |  CAST(COALESCE(hit.n_hit, 0) AS BIGINT) AS n_hit,
        |  CAST(COALESCE(hit.n_hit, 0) AS DOUBLE) / ne.n_exact AS recall
        |FROM ne
        |LEFT JOIN na ON ne.vec_id = na.vec_id
        |LEFT JOIN hit ON ne.vec_id = hit.vec_id
        |ORDER BY ne.vec_id""".stripMargin,
    // both legs replayed by their own gated oracles (text_bm25's
    // fixed-point BM25 chain, knn_brute's cosine chain), then the
    // integer RRF merge — the hash carries legs AND fusion
    "hybrid_rrf" ->
      """WITH toks AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, w, COUNT(*) AS tf FROM toks GROUP BY doc_id, w),
        |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
        |st AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        |  FROM dl),
        |qw AS (
        |  SELECT DISTINCT query_id, w FROM (
        |    SELECT doc_id AS query_id, UNNEST(t[1:8]) AS w FROM (
        |      SELECT doc_id, STRING_SPLIT(text, ' ') AS t
        |      FROM documents WHERE doc_id %
        |        (SELECT GREATEST(100, CAST(CEIL(COUNT(*) / 128.0)
        |           AS BIGINT)) FROM documents) = 0))),
        |probe AS (
        |  SELECT q.query_id, t.doc_id, t.w, t.tf
        |  FROM tf t JOIN qw q USING (w)),
        |dfq AS (
        |  SELECT w, COUNT(*) AS df FROM (
        |    SELECT DISTINCT w, doc_id FROM probe) GROUP BY w),
        |sc AS (
        |  SELECT p.query_id, p.doc_id,
        |    SUM(CAST(FLOOR(
        |      LN((CAST((SELECT n FROM st) AS DOUBLE) - f.df
        |            + CAST(0.5 AS DOUBLE))
        |          / (f.df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
        |        * (p.tf * CAST(2.2 AS DOUBLE))
        |        / (p.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
        |            + CAST(0.75 AS DOUBLE) * d.dl
        |              / (SELECT avgdl FROM st)))
        |        * 1e6) AS BIGINT)) AS isum
        |  FROM probe p
        |  JOIN dfq f USING (w)
        |  JOIN dl d ON p.doc_id = d.doc_id
        |  GROUP BY p.query_id, p.doc_id),
        |bm AS (
        |  SELECT query_id, doc_id, rk AS bm25_rk FROM (
        |    SELECT query_id, doc_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY isum DESC, doc_id) AS rk
        |    FROM sc) WHERE rk <= 5),
        |corpus AS (
        |  SELECT vec_id, embedding,
        |    SQRT(LIST_DOT_PRODUCT(embedding, embedding)) AS nrm
        |  FROM embeddings),
        |qv AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
        |       FROM corpus WHERE vec_id %
        |         (SELECT GREATEST(100, CAST(CEIL(COUNT(*) / 128.0)
        |            AS BIGINT)) FROM documents) = 0),
        |scored AS (
        |  SELECT query_id, c.vec_id AS neighbor_id,
        |    LIST_DOT_PRODUCT(c.embedding, q.qe) / (c.nrm * q.qn) AS cos_sim
        |  FROM corpus c, qv q WHERE c.vec_id <> q.query_id),
        |kn AS (
        |  SELECT query_id, neighbor_id AS doc_id,
        |    CAST(krank AS BIGINT) AS knn_rk FROM (
        |    SELECT query_id, neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cos_sim DESC, neighbor_id) AS krank
        |    FROM scored) WHERE krank <= 5),
        |fuse AS (
        |  SELECT COALESCE(bm.query_id, kn.query_id) AS query_id,
        |    COALESCE(bm.doc_id, kn.doc_id) AS doc_id,
        |    bm.bm25_rk, kn.knn_rk,
        |    COALESCE(1000000000000 // (60 + bm.bm25_rk), 0)
        |      + COALESCE(1000000000000 // (60 + kn.knn_rk), 0) AS rrf_fp
        |  FROM bm FULL OUTER JOIN kn
        |    ON bm.query_id = kn.query_id AND bm.doc_id = kn.doc_id)
        |SELECT query_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY rrf_fp DESC, doc_id) AS BIGINT) AS rk,
        |  doc_id, CAST(rrf_fp AS BIGINT) AS rrf_fp, bm25_rk, knn_rk
        |FROM fuse ORDER BY query_id, rk""".stripMargin,
    // full two-round Lloyd replay in chained CTEs: the 1e-6+shift
    // quantization, both assignment rounds (ROW_NUMBER ties to the
    // lowest centroid), both floor-div centroid updates with the
    // empty-cluster COALESCE, and the final exact distances — the
    // hash carries the whole iteration history
    "emb_kmeans" ->
      """WITH qd AS (
        |  SELECT vec_id, pos - 1 AS d,
        |    CAST(FLOOR(CAST(v AS DOUBLE) * 1e6) AS BIGINT) + 2000000 AS s
        |  FROM (SELECT vec_id, UNNEST(embedding) AS v,
        |          GENERATE_SUBSCRIPTS(embedding, 1) AS pos
        |        FROM embeddings) t),
        |c0 AS (SELECT vec_id AS k, d, s AS c FROM qd WHERE vec_id < 8),
        |a1 AS (
        |  SELECT vec_id, k FROM (
        |    SELECT x.vec_id, c.k,
        |      ROW_NUMBER() OVER (PARTITION BY x.vec_id
        |        ORDER BY SUM((x.s - c.c) * (x.s - c.c)), c.k) AS rn
        |    FROM qd x JOIN c0 c ON x.d = c.d
        |    GROUP BY x.vec_id, c.k) r
        |  WHERE rn = 1),
        |c1 AS (
        |  SELECT c0.k, c0.d, COALESCE(u.cm, c0.c) AS c
        |  FROM c0 LEFT JOIN (
        |    SELECT a.k, x.d, SUM(x.s) // COUNT(*) AS cm
        |    FROM qd x JOIN a1 a ON x.vec_id = a.vec_id
        |    GROUP BY a.k, x.d) u ON c0.k = u.k AND c0.d = u.d),
        |a2 AS (
        |  SELECT vec_id, k FROM (
        |    SELECT x.vec_id, c.k,
        |      ROW_NUMBER() OVER (PARTITION BY x.vec_id
        |        ORDER BY SUM((x.s - c.c) * (x.s - c.c)), c.k) AS rn
        |    FROM qd x JOIN c1 c ON x.d = c.d
        |    GROUP BY x.vec_id, c.k) r
        |  WHERE rn = 1),
        |c2 AS (
        |  SELECT c1.k, c1.d, COALESCE(u.cm, c1.c) AS c
        |  FROM c1 LEFT JOIN (
        |    SELECT a.k, x.d, SUM(x.s) // COUNT(*) AS cm
        |    FROM qd x JOIN a2 a ON x.vec_id = a.vec_id
        |    GROUP BY a.k, x.d) u ON c1.k = u.k AND c1.d = u.d),
        |fin AS (
        |  SELECT vec_id, k, dist2 FROM (
        |    SELECT x.vec_id, c.k,
        |      SUM((x.s - c.c) * (x.s - c.c)) AS dist2,
        |      ROW_NUMBER() OVER (PARTITION BY x.vec_id
        |        ORDER BY SUM((x.s - c.c) * (x.s - c.c)), c.k) AS rn
        |    FROM qd x JOIN c2 c ON x.d = c.d
        |    GROUP BY x.vec_id, c.k) r
        |  WHERE rn = 1)
        |SELECT vec_id, CAST(k AS BIGINT) AS cluster,
        |  CAST(dist2 AS BIGINT) AS dist2_fp,
        |  ROUND(SQRT(CAST(dist2 AS DOUBLE)) / 1e6, 6) AS dist
        |FROM fin ORDER BY vec_id""".stripMargin,
    // cells replayed exactly as in dedup_semantic, then within-cell
    // ordered pairs ranked on the unrounded cosine, neighbor-id ties
    "emb_knn_graph" -> (knnGraphReplayCtes +
      """
        |SELECT vec_id, CAST(rk AS BIGINT) AS rk, neighbor_id,
        |  ROUND(c, 4) AS cos_r
        |FROM r WHERE rk <= 4 ORDER BY vec_id, rk""".stripMargin),
    // the same graph, cut to rk <= 4, semi-joined against its own
    // reverse — an edge survives iff its mirror does
    "emb_mutual_knn" -> (knnGraphReplayCtes +
      """,
        |g AS (SELECT vec_id, neighbor_id, c, rk FROM r WHERE rk <= 4)
        |SELECT g.vec_id, CAST(g.rk AS BIGINT) AS rk, g.neighbor_id,
        |  ROUND(g.c, 4) AS cos_r
        |FROM g JOIN g g2 ON g2.vec_id = g.neighbor_id
        |  AND g2.neighbor_id = g.vec_id
        |ORDER BY g.vec_id, rk""".stripMargin),
    // same centroid/argmax assignment replay as dedup_semantic, then
    // the (cell, label) census with integer purity and entropy terms
    "emb_cell_purity" ->
      """WITH cent AS (
        |  SELECT label, pos - 1 AS dim,
        |    CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1e9) AS BIGINT))
        |      AS DOUBLE) / (COUNT(*) * 1e9) AS mean_v
        |  FROM (SELECT label, UNNEST(embedding) AS v,
        |          GENERATE_SUBSCRIPTS(embedding, 1) AS pos
        |        FROM embeddings) t
        |  GROUP BY label, pos),
        |carr AS (SELECT label AS clabel, LIST(mean_v ORDER BY dim) AS cvec
        |         FROM cent GROUP BY label),
        |ev AS (SELECT vec_id, label,
        |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |sims AS (
        |  SELECT vec_id, label, clabel,
        |    LIST_DOT_PRODUCT(emb, cvec)
        |      / (SQRT(LIST_DOT_PRODUCT(emb, emb))
        |         * SQRT(LIST_DOT_PRODUCT(cvec, cvec))) AS c
        |  FROM ev CROSS JOIN carr),
        |cells AS (
        |  SELECT vec_id, label, CAST(clabel AS BIGINT) AS cell FROM (
        |    SELECT vec_id, label, clabel, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id ORDER BY c DESC, clabel) AS rk
        |    FROM sims) r WHERE rk = 1),
        |lc AS (
        |  SELECT cell, label, COUNT(*) AS n FROM cells GROUP BY 1, 2)
        |SELECT cell, CAST(SUM(n) AS BIGINT) AS n_vecs,
        |  COUNT(*) AS n_labels, CAST(MAX(n) AS BIGINT) AS n_major,
        |  CAST(1000 * MAX(n) // SUM(n) AS BIGINT) AS purity_permille,
        |  CAST(SUM(n * CAST(FLOOR(LN(n) * 1e6) AS BIGINT)) AS BIGINT)
        |    AS ent_sum_fp
        |FROM lc GROUP BY cell ORDER BY cell""".stripMargin,
    "dedup_semantic" ->
      """WITH cent AS (
        |  SELECT label, pos - 1 AS dim,
        |    CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1e9) AS BIGINT))
        |      AS DOUBLE) / (COUNT(*) * 1e9) AS mean_v
        |  FROM (SELECT label, UNNEST(embedding) AS v,
        |          GENERATE_SUBSCRIPTS(embedding, 1) AS pos
        |        FROM embeddings) t
        |  GROUP BY label, pos),
        |carr AS (SELECT label AS clabel, LIST(mean_v ORDER BY dim) AS cvec
        |         FROM cent GROUP BY label),
        |ev AS (SELECT vec_id,
        |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |sims AS (
        |  SELECT vec_id, clabel,
        |    LIST_DOT_PRODUCT(emb, cvec)
        |      / (SQRT(LIST_DOT_PRODUCT(emb, emb))
        |         * SQRT(LIST_DOT_PRODUCT(cvec, cvec))) AS c
        |  FROM ev CROSS JOIN carr),
        |cells AS (
        |  SELECT vec_id, CAST(clabel AS BIGINT) AS cell FROM (
        |    SELECT vec_id, clabel, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id ORDER BY c DESC, clabel) AS rk
        |    FROM sims) r WHERE rk = 1),
        |dups AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM cells a JOIN cells b
        |    ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  JOIN ev ea ON ea.vec_id = a.vec_id
        |  JOIN ev eb ON eb.vec_id = b.vec_id
        |  WHERE LIST_DOT_PRODUCT(ea.emb, eb.emb)
        |      / (SQRT(LIST_DOT_PRODUCT(ea.emb, ea.emb))
        |         * SQRT(LIST_DOT_PRODUCT(eb.emb, eb.emb))) >= 0.4)
        |SELECT c.vec_id, c.cell, d.vec_id IS NOT NULL AS is_dup
        |FROM cells c LEFT JOIN dups d ON c.vec_id = d.vec_id
        |ORDER BY c.vec_id""".stripMargin,
    // same fixed-point centroid as emb_centroids, then an independent
    // list-level cosine recompute; the flag rides the unrounded value
    "emb_outlier" ->
      """WITH cent AS (
        |  SELECT label, pos - 1 AS dim,
        |    CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1e9) AS BIGINT))
        |      AS DOUBLE) / (COUNT(*) * 1e9) AS mean_v
        |  FROM (SELECT label, UNNEST(embedding) AS v,
        |          GENERATE_SUBSCRIPTS(embedding, 1) AS pos
        |        FROM embeddings) t
        |  GROUP BY label, pos),
        |carr AS (SELECT label, LIST(mean_v ORDER BY dim) AS cvec
        |         FROM cent GROUP BY label),
        |cosd AS (
        |  SELECT vec_id, e.label,
        |    LIST_DOT_PRODUCT(
        |        LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)), cvec)
        |      / (SQRT(LIST_DOT_PRODUCT(
        |            LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)),
        |            LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE))))
        |         * SQRT(LIST_DOT_PRODUCT(cvec, cvec))) AS c
        |  FROM embeddings e JOIN carr USING (label))
        |SELECT vec_id, label, ROUND(c, 4) AS cos_r,
        |  c < 0.0 AS is_outlier
        |FROM cosd ORDER BY vec_id""".stripMargin)
}
