package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Knobs, Stores, Tables}

/** Deduplication operators (SURVEY §2C) — exact and near-duplicate.
  *
  * Scale design (the part that must survive 100 TB):
  *  - exact: hash-groupBy on xxhash64(text) — map-side partial
  *    aggregation, only (hash, id) shuffles, never the text.
  *  - minhash/simhash/embedding: LSH banding — candidate pairs are
  *    generated ONLY inside (band, bucket) groups, so the shuffle is
  *    keyed by bucket and the pair fan-out is bounded by bucket sizes.
  *    No cross join appears in any plan. Pair space is halved by
  *    requiring doc_a < doc_b.
  *  - n-gram Jaccard runs as a VERIFY stage on LSH candidates only —
  *    the exact all-pairs variant is O(n²) and intentionally absent.
  *
  * All signatures/hashes derive from xxhash64 with fixed integer seeds:
  * deterministic across runs, partitions, and cluster sizes.
  */
object Dedup {

  // -- shingling ----------------------------------------------------------

  /** Distinct word n-gram shingles ("w1 w2 w3") over a token-array
    * column — the native graft.functions.WordShingles expression, one
    * primitive pass per row. Bit-identical to the
    * array_distinct∘transform∘concat_ws∘slice composition
    * (FunctionsSpec asserts it), which is an interpreted
    * CodegenFallback HOF chain; on the near-dup VERIFY path that chain
    * was the dominant remaining sf1 cost after the one-permutation
    * signature landed. */
  def wordShingles(tokens: Column, n: Int = 3): Column =
    call_function("word_shingles", tokens, lit(n))

  /** Distinct character n-gram shingles of a text column — native
    * graft.functions.CharShingles, same composition contract. */
  def charShingles(text: Column, n: Int = 5): Column =
    call_function("char_shingles", text, lit(n))

  // -- exact dedup --------------------------------------------------------

  /** Exact dedup: keep the smallest doc_id per content hash. GroupBy on
    * the 64-bit hash means map-side combine and an (8B, 8B)-row shuffle
    * regardless of document size. (Hash collisions conflate distinct
    * texts with probability ~n²/2⁶⁴ — acceptable at any realistic n;
    * the DuckDB oracle groups by the text itself and agrees unless a
    * collision actually occurs.) */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(xxhash64(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))

  /** Normalization-collapsed exact dedup — the C4/RefinedWeb
    * "fuzzy-exact" stage that runs between byte-exact dedup and
    * MinHash: case, punctuation and whitespace differences collapse
    * into one group (strip to [A-Za-z0-9 ], squeeze space runs, trim,
    * lowercase — ASCII-only lowercase after the strip, so both
    * engines' case folding is trivially identical). Same
    * (hash, 8B-id) groupBy shuffle shape as [[exact]]: the normalized
    * text never leaves the map side. md5 rather than xxhash64 because
    * the hash itself is on the gate — the oracle engine recomputes
    * the identical digest from the identical normalization chain. */
  def normalizedExact(docs: DataFrame): DataFrame = {
    // native one-pass strip/squeeze/trim/lower — bit-identical to the
    // regex chain (the oracle still replays the regexes on ITS side,
    // so the equivalence is on the md5 gate); the two interpreted
    // regex passes were this key's entire sf1 cost
    val norm = call_function("ascii_normalize", col("text"))
    docs.groupBy(md5(norm.cast("binary")).as("norm_hash"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"))
      .select(col("norm_hash"), col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))
  }

  /** Incremental exact dedup — the DAILY ingest shape: a new batch is
    * deduped against (a) the historical fingerprint store and (b)
    * itself, WITHOUT rescanning historical text. The store carries
    * only (content_hash, keep_id) — 16 bytes per historical doc
    * regardless of document size — and the probe is an equi-join on
    * the 8-byte hash (AQE broadcasts the batch side when it is small,
    * the common case; at 10¹⁰-doc history the store join shuffles on
    * the hash, which is uniformly distributed by construction — no
    * skew). Verdicts per new doc: dup_of_history, dup_in_batch, and
    * the resulting keep bit. */
  def incremental(history: DataFrame, batch: DataFrame): DataFrame = {
    val store = history
      .groupBy(xxhash64(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("hist_id"))
    val hashed = batch.select(col("doc_id"), xxhash64(col("text")).as("h"))
    val batchKeep = hashed.groupBy(col("h"))
      .agg(min(col("doc_id")).as("batch_keep"))
    hashed
      .join(batchKeep, "h")
      .join(store, col("h") === col("content_hash"), "left_outer")
      .select(col("doc_id"),
        col("hist_id").isNotNull.as("dup_of_history"),
        (col("doc_id") =!= col("batch_keep")).as("dup_in_batch"),
        (col("hist_id").isNull && col("doc_id") === col("batch_keep"))
          .as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Bloom-filter pre-screen for incremental ingest dedup — the 100 TB
    * front door in front of [[incremental]]'s exact store join. The
    * history's content hashes fold into a FIXED-SIZE bloom filter
    * (bit-OR merge is commutative, so the bits are order- and
    * partitioning-independent — deterministic on any cluster layout),
    * which broadcasts as one row; each batch doc probes it map-side.
    * might_contain has NO false negatives, so pruning is
    * semantics-preserving: only might-contain survivors reach the
    * exact hash join, and on a mostly-clean daily batch that join
    * shrinks from |batch| to ~|dups| + fpp·|batch| rows — the clean
    * majority of the batch never shuffles at all.
    *
    * The emitted is_dup is EXACT: bloom positives are verified against
    * the store, so the DuckDB oracle (plain text membership) checks
    * the whole bloom+verify composition — a false negative anywhere
    * flips a row and fails the hash. */
  def bloomIncremental(history: DataFrame, batch: DataFrame,
      expectedItems: Long = Knobs.long("dedup.bloom_items", 1L << 20),
      numBits: Long = Knobs.long("dedup.bloom_bits", 8L << 20)): DataFrame = {
    // might_contain requires its filter as a CONSTANT (or scalar
    // subquery) — so the numBits/8-byte filter is materialized on the
    // driver (ONE bounded row, the same driver-coordination pattern as
    // power iteration) and inlined as a binary literal, exactly what
    // Spark's own InjectRuntimeFilter turns its scalar subquery into.
    // Size the filter so numBits/8 stays executor-broadcast friendly
    // (1 MiB at the default); history row count does not matter.
    // ONE history scan: the distinct hash store is materialized first
    // and the bloom folds over it (set semantics — duplicate inserts
    // don't change the bits, so filter(store) ≡ filter(history))
    val store = history.select(xxhash64(col("text")).as("sh")).distinct()
      .localCheckpoint(true)
    val bloomBytes = store
      .agg(call_function("bloom_agg", col("sh"),
        lit(expectedItems), lit(numBits)).as("bloom"))
      .head().getAs[Array[Byte]]("bloom")
    // ONE batch scan: the narrow (doc_id, hash, might) projection —
    // ~17 bytes/row, never the text — is materialized because both the
    // survivor verify and the final verdict join consume it
    val probed = batch
      .select(col("doc_id"), xxhash64(col("text")).as("h"))
      .select(col("doc_id"), col("h"),
        call_function("bloom_contains", lit(bloomBytes), col("h")).as("might"))
      .localCheckpoint(true)
    // exact verify ONLY on bloom survivors; dup ids then map back over
    // the batch (tiny side — AQE broadcasts it)
    val dupIds = probed.filter(col("might"))
      .join(store, col("h") === col("sh"), "left_semi")
      .select(col("doc_id"), lit(true).as("d"))
    probed.join(dupIds, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("d"), lit(false)).as("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** Benchmark decontamination — flag every corpus document sharing a
    * verbatim word 13-gram with an evaluation set (the GPT-3/PaLM
    * decontamination rule; 13 is that lineage's published n). The
    * benchmark side is tiny (eval suites), so its DISTINCT gram-hash
    * set BROADCASTS; the corpus side is a scan-local explode to
    * (doc_id, gram-hash) — corpus text never shuffles, and the
    * broadcast left-semi + per-doc count is the entire data movement.
    * Gram sets are per-doc distinct (the word_gram_digests contract),
    * so n_hits counts distinct contaminated grams.
    *
    * The gram hash is the native `word_gram_digests` rolling
    * poly-digest: gram STRINGS are never materialized anywhere (a
    * 13-word gram costs ~26 multiply-mods instead of a ~90-byte
    * allocation+copy+rehash — the text_ngram_novelty fingerprint
    * pattern, which measured the string path 9.2× vs 5.3× at 10×
    * data), and the digest replays exactly in the oracle's SQL, so a
    * mod-10⁹ collision merges the same gram pair in BOTH engines
    * (probability ~n²/2·10⁻⁹ over distinct grams). */
  def contamination(corpus: DataFrame, benchPred: Column,
      n: Int = 13): DataFrame = {
    def grams(df: DataFrame): DataFrame = df
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        explode(call_function("word_gram_digests2", col("toks"), lit(n)))
          .as("h"))
    val benchHashes = grams(corpus.filter(benchPred))
      .select(col("h")).distinct()
    grams(corpus)
      .join(broadcast(benchHashes), Seq("h"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  /** NEAR-dup benchmark decontamination — the fuzzy complement of
    * [[contamination]]: a corpus document is contaminated if its word
    * n-gram set sits at Jaccard ≥ `threshold` with ANY evaluation
    * document (verbatim 13-gram containment misses an eval item that
    * was lightly paraphrased or truncated before leaking into the
    * crawl; published decontamination pipelines run both rules).
    * Emits the (corpus doc, eval doc, jaccard) matches — eval members
    * leaked verbatim self-match at 1.0, near-dup leaks surface below.
    *
    * Scale shape: identical to [[contamination]] — the eval side is
    * eval-suite-sized, so its (eval_id, gram-hash) set BROADCASTS into
    * the corpus gram stream (per-doc distinct, the native
    * word_gram_digests rolling poly-digest — gram strings never
    * materialize, and the oracle replays the digest arithmetic so
    * collisions merge identically in both engines); the per-(doc,
    * eval) intersection count is the only aggregation and is
    * hit-bounded. Corpus text never shuffles. Jaccard divides two
    * exact integer counts, so both engines produce bit-identical
    * doubles and the threshold cut is hash-stable. */
  def nearContamination(corpus: DataFrame, benchPred: Column,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    def grams(df: DataFrame): DataFrame = df
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        explode(call_function("word_gram_digests2", col("toks"), lit(n)))
          .as("h"))
    val corpusGrams = grams(corpus)
    val benchGrams = grams(corpus.filter(benchPred))
      .select(col("doc_id").as("eval_id"), col("h"))
    val sizes = corpusGrams.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_doc"))
    val bsizes = benchGrams.groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_eval"))
    corpusGrams
      .join(broadcast(benchGrams), "h")
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("i"))
      .join(sizes, "doc_id")
      .join(broadcast(bsizes), "eval_id")
      .withColumn("jaccard",
        col("i").cast("double") / (col("n_doc") + col("n_eval") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id"), col("eval_id"), col("jaccard"))
      .orderBy(col("doc_id"), col("eval_id"))
  }

  /** Substring-level duplication statistics (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * signal, gram-approximated): a document is substring-duplicated
    * when a large share of its word 13-grams also occur in OTHER
    * documents — catching boilerplate, templated pages, and partial
    * copies that whole-document dedup misses because no pair is
    * similar enough overall. Emits per-doc (n_grams, n_dup_grams,
    * dup_frac, is_dup at the 20% cut); removal policy is the
    * caller's (drop, or excise the spans).
    *
    * Scale shape: per-doc DISTINCT grams digest to 8 bytes INSIDE the
    * scan via the native word_gram_digests rolling poly-digest (gram
    * strings never materialize — the text_ngram_novelty fingerprint
    * pattern), so the only wide data movement is ONE (doc_id,
    * digest)-row exchange keyed by gram digest — the canonical
    * substring-dedup shuffle, 16 B/row regardless of document size.
    * Document frequency comes from a count window over that same
    * exchange (no second shuffle of the gram stream, no join back);
    * the window group size is bounded by the corpus's worst per-gram
    * doc frequency. Thresholding is integer arithmetic
    * (n_dup·5 ≥ n_grams), and the oracle replays the digest
    * arithmetic itself, so a mod-10⁹ collision merges the same gram
    * pair in both engines. */
  def substringStats(docs: DataFrame, n: Int = 13): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        explode(call_function("word_gram_digests2", col("toks"), lit(n)))
          .as("h"))
    g.withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup_grams"))
      .withColumn("dup_frac",
        col("n_dup_grams").cast("double") / col("n_grams"))
      .withColumn("is_dup", col("n_dup_grams") * 5 >= col("n_grams"))
      .orderBy(col("doc_id"))
  }

  /** Duplicated-span REMOVAL — the Lee et al. 2022 ExactSubstr
    * pipeline STAGE (not just [[substringStats]]' signal): excise from
    * every document the word spans that occur elsewhere in the corpus,
    * keeping each span's FIRST occurrence (smallest (doc_id, pos) — the
    * [[segmentDedup]] survivor contract, so the content survives the
    * corpus exactly once and only the repeats are cut). Composition of
    * existing machinery (verdict r16 #3): positional gram-digest
    * census → duplicated-gram ANCHORS (every non-first occurrence) →
    * per-doc interval-union merge of the anchors' covered word ranges
    * (the q51 islands shape) → reassembly of the COMPLEMENT gaps (the
    * [[segmentDedup]] reassembly shape). Emits per doc: word count,
    * merged span count, words removed, and the reassembled kept text
    * (NULL when nothing survived).
    *
    * Scale shape: grams digest positionally to 8 B inside the scan
    * (word_gram_digests_bag2 — census-grade ~2^59.8 keyspace, because
    * a false digest merge here REMOVES innocent text); the census is
    * ONE (doc_id, pos, digest) exchange keyed by digest with a
    * row_number window (group size = the corpus's worst per-gram
    * occurrence count — the substringStats bound); the island merge is
    * a per-DOC window over anchor rows only (bounded by words/doc);
    * reassembly slices the token array per GAP, never exploding
    * per-word rows. Document text crosses the wire once (the
    * doc-keyed join of islands back to toks). The digest fold replays
    * exactly in the oracle, so a collision merges the same grams in
    * both engines. */
  def spanRemoval(docs: DataFrame, n: Int = 13): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val grams = toks.select(col("doc_id"),
      size(col("toks")).cast("long").as("len"),
      posexplode(call_function("word_gram_digests_bag2", col("toks"),
        lit(n))).as(Seq("pos", "h")))
    // anchors: every gram occurrence except the corpus-first; each
    // covers words [pos, min(pos+n, len) - 1] (short docs emit one
    // whole-doc gram — the substringStats one-short-gram rule)
    val wFirst = Window.partitionBy(col("h"))
      .orderBy(col("doc_id"), col("pos"))
    val anchors = grams
      .withColumn("rn", row_number().over(wFirst))
      .filter(col("rn") > 1)
      .select(col("doc_id"), col("pos").cast("long").as("s"),
        least(col("pos") + lit(n - 1), col("len") - 1).as("e"))
    exciseAnchors(toks, anchors)
  }

  /** The shared excision tail of the span faces ([[spanRemoval]],
    * [[decontamSpans]]): merge per-doc anchor word-intervals into
    * islands (interval union — the q51 sweep; adjacent islands merge
    * too, since s == prev_e + 1 leaves no kept word between them),
    * then reassemble each doc's kept text from the COMPLEMENT gaps by
    * token-array slices — never per-word rows. `anchors` is
    * (doc_id, s, e) inclusive word intervals; `toks` is
    * (doc_id, toks) for EVERY doc that should appear in the output
    * (anchor-free docs pass through verbatim). */
  private def exciseAnchors(toks: DataFrame,
      anchors: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val wPrev = wDoc.rowsBetween(Window.unboundedPreceding, -1)
    val islands = anchors
      .withColumn("brk",
        when(col("s") > coalesce(max(col("e")).over(wPrev), lit(-2L)) + 1,
          1L).otherwise(0L))
      .withColumn("isl", sum(col("brk")).over(wDoc))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("n_removed"),
        array_sort(collect_list(struct(col("s"), col("e")))).as("spans"))
    // islands are disjoint and non-adjacent after the merge, so every
    // interior gap is non-empty
    val rebuilt = expr(
      """array_join(flatten(transform(
        |  sequence(0, size(spans)),
        |  gi -> slice(toks,
        |    (CASE WHEN gi = 0 THEN 0L ELSE spans[gi - 1].e + 1 END) + 1,
        |    (CASE WHEN gi = size(spans) THEN size(toks)
        |          ELSE spans[gi].s END)
        |      - (CASE WHEN gi = 0 THEN 0L
        |              ELSE spans[gi - 1].e + 1 END)))), ' ')""".stripMargin)
    toks.join(islands, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_words"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_words_removed"),
        when(col("spans").isNull, array_join(col("toks"), " "))
          .when(col("n_removed") === size(col("toks")), lit(null))
          .otherwise(rebuilt).as("text_kept"))
      .orderBy(col("doc_id"))
  }

  /** Span-level benchmark DECONTAMINATION — [[contamination]]'s flag
    * turned into the scrub a curation pipeline actually applies to
    * long documents: excise from every TRAINING document exactly the
    * word spans whose 13-grams occur anywhere in the evaluation set,
    * keeping the rest of the document (dropping a whole web page for
    * one quoted benchmark item throws away good tokens; dropping only
    * the quoted span is the published middle ground). Benchmark
    * members themselves are excluded from the output — they are not
    * training data.
    *
    * Scale shape: the eval side is eval-suite-sized, so its DISTINCT
    * gram-digest set BROADCASTS into the training gram stream
    * (positional dual digests — word_gram_digests_bag2, the
    * [[spanRemoval]] census grade); anchors need NO census window
    * here (every benchmark-gram occurrence is removed, first included
    * — the benchmark is held out, so nothing survives elsewhere), so
    * the only exchanges are the per-doc island window over anchor
    * rows and the doc-keyed join back to the token arrays. */
  def decontamSpans(corpus: DataFrame, benchPred: Column,
      n: Int = 13): DataFrame = {
    val toks = corpus.filter(!benchPred)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val benchHashes = corpus.filter(benchPred)
      .select(split(col("text"), " ").as("toks"))
      .select(explode(call_function("word_gram_digests2", col("toks"),
        lit(n))).as("h"))
      .distinct()
    val anchors = toks
      .select(col("doc_id"), size(col("toks")).cast("long").as("len"),
        posexplode(call_function("word_gram_digests_bag2", col("toks"),
          lit(n))).as(Seq("pos", "h")))
      .join(broadcast(benchHashes), Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos").cast("long").as("s"),
        least(col("pos") + lit(n - 1), col("len") - 1).as("e"))
    exciseAnchors(toks, anchors)
  }

  /** Cluster-size-reweighted soft dedup (the UniMax/"count duplicates
    * once, remember how many there were" curation rule): resolve
    * near-dup clusters, keep ONE representative per cluster (the
    * cluster-min id — the same deterministic survivor contract as
    * every dedup face) and carry the cluster size as a weight.
    * Downstream samplers divide by the weight (or cap per cluster)
    * instead of hard-dropping: duplication frequency stops biasing the
    * mixture while the text itself stays available exactly once.
    * Singletons appear with weight 1, so the output is a complete
    * weighted corpus view.
    *
    * Scale shape: inherits [[resolveClusters]]' O(log n) star rounds
    * over the LSH-bounded pair set, then ONE corpus-keyed left join
    * (labels are pair-node-sized, broadcastable) + a label-keyed
    * count. */
  def clusterWeights(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(broadcast(nearDupClusters(docs)), Seq("doc_id"), "left_outer")
      .select(coalesce(col("keep_id"), col("doc_id")).as("keep_id"))
      .groupBy(col("keep_id"))
      .agg(count(lit(1)).as("weight"))
      .orderBy(col("keep_id"))

  // -- MinHash + LSH banding ---------------------------------------------

  val NumHashes = 64
  val Bands = 16
  val RowsPerBand: Int = NumHashes / Bands

  /** LSH band geometry: `bands` band keys of `rowsPerBand` signature
    * slots each over a `slots = bands·rowsPerBand`-wide OPH signature.
    * The default (16×4, 64 slots) is the gate-scale geometry; larger
    * corpora derive wider geometry via [[autoGeometry]]. */
  final case class BandGeometry(bands: Int, rowsPerBand: Int) {
    require(bands >= 1 && rowsPerBand >= 1)
    def slots: Int = bands * rowsPerBand
  }
  val DefaultGeometry: BandGeometry = BandGeometry(Bands, RowsPerBand)

  /** Docs-per-band-agreement-class the geometry is sized to tolerate:
    * rowsPerBand grows once the corpus could hold more than
    * `GeometryOccupancy · 2^r` documents pairwise-similar at the
    * band-agreement knee (J ≈ 0.5, where each extra slot halves a
    * pair's co-bucket probability) — the text-side analog of
    * [[graft.operators.Similarity]]'s autoBitsPerBand, with the same
    * integer rule. Matches [[MaxBucket]] so the hard cut becomes the
    * backstop, not the mechanism. */
  val GeometryOccupancy = 1024

  /** Slots per band for a corpus of `n` documents:
    * max(4, ⌈log₂(n / GeometryOccupancy)⌉) clamped to [4, 16] — 4 up
    * to 16 384 docs (so every gate-scale corpus keeps the original
    * 16×4 geometry bit-for-bit), then one more slot per doubling;
    * 10⁹ docs hit the r=16 clamp. The occupancy divisor resolves
    * through `dedup.geometry_occupancy` (DEPLOY.md §4 — LOWERING it
    * widens geometry earlier; the knob moves autoGeometry and
    * therefore must be identical between a store's build and probe,
    * which the persisted stores' sidecar check enforces loudly).
    * Gates run knobless: the compiled 1024 is bit-for-bit. */
  def autoRowsPerBand(n: Long): Int = {
    val occ = Knobs.long("dedup.geometry_occupancy",
      GeometryOccupancy.toLong)
    require(occ >= 1 && occ <= (1L << 40),
      s"dedup.geometry_occupancy out of range [1, 2^40]: $occ")
    var r = 4
    while (r < 16 && (occ << r) < n) r += 1
    r
  }

  /** Bands for a given rowsPerBand, scaled to hold RECALL at the 0.8
    * verify threshold: each extra slot multiplies a J=0.8 pair's
    * per-band agreement by 0.8, so bands grow as 16/0.8^(r-4) to keep
    * the expected agreeing-band count b·0.8^r at its default-geometry
    * value (≥ 0.9995 candidate recall at J = 0.8 for every r in the
    * clamp range). r=16 → 233 bands × 16 slots = 3728-slot signatures,
    * the RefinedWeb-scale (9000-slot) regime — signature cost is
    * O(grams + slots) per doc, banded-frame bytes grow with b. */
  def autoBands(rowsPerBand: Int): Int =
    math.ceil(Bands / math.pow(0.8, (rowsPerBand - 4).toDouble)).toInt

  /** Corpus-count-derived band geometry (verdict r13 #2): identical to
    * [[DefaultGeometry]] at every gate scale, widening past 16 384
    * docs. Incremental faces must derive ONE geometry for store AND
    * probe (band buckets join across them) — see [[incrementalNear]];
    * a persisted store should derive from its planned corpus CEILING,
    * not the live count, so the geometry never moves under it. */
  def autoGeometry(n: Long): BandGeometry = {
    val r = autoRowsPerBand(n)
    BandGeometry(autoBands(r), r)
  }

  /** Deployment geometry override (DEPLOY.md → [[graft.sources.Knobs]]):
    * `dedup.bands` + `dedup.rows_per_band`, BOTH required — a
    * half-specified geometry is a config error, refused loudly rather
    * than silently mixed with the derived half. Explicit `geometry`
    * parameters at call sites still win; the knob only replaces the
    * count-derived DEFAULT. */
  private[graft] def knobGeometry: Option[BandGeometry] = {
    val b = Knobs.optInt("dedup.bands")
    val r = Knobs.optInt("dedup.rows_per_band")
    (b, r) match {
      case (Some(bb), Some(rr)) => Some(BandGeometry(bb, rr))
      case (None, None) => None
      case _ => throw new IllegalArgumentException(
        "knobs dedup.bands and dedup.rows_per_band must be set TOGETHER" +
          s" (got bands=$b, rows_per_band=$r)")
    }
  }

  /** (doc_id, band, bucket-hash) — one row per band per doc. Banding:
    * docs agreeing on ALL RowsPerBand signature slots of some band land
    * in the same bucket; with b=16, r=4 the S-curve threshold is
    * (1/b)^(1/r) ≈ 0.5 Jaccard.
    *
    * The signature is the ONE-PERMUTATION native expression
    * (graft.functions.MinHashGramSignature): word-3-gram hashes
    * combine straight from per-token hashes — no shingle strings, no
    * 64 permutation passes — and empty slots densify by rotation, so
    * per-document signature cost drops from
    * O(shingles · (stringAlloc + 64 mult-adds)) to O(chars +
    * shingles). The slot-equality probability stays the Jaccard
    * similarity (Shrivastava-Li), so the banding S-curve is unchanged
    * and the all-pairs oracle keeps proving recall at both gate
    * scales. Geometry (bands × rowsPerBand, signature width) comes
    * from the caller — [[autoGeometry]] for count-derived faces. */
  private def banded(docs: DataFrame,
      g: BandGeometry = DefaultGeometry): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        call_function("minhash_gram_sig", col("toks"), lit(3),
          lit(g.slots)).as("sig"))
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(g.bands - 1))).as("band"),
        col("sig"))
      .select(col("doc_id"), col("band"),
        xxhash64(col("band"),
          slice(col("sig"), col("band") * g.rowsPerBand + 1,
            lit(g.rowsPerBand))).as("bucket"))

  /** Degenerate-bucket cap for LSH candidate generation: buckets whose
    * occupancy (AFTER the exact pre-collapse below) exceeds this are
    * DROPPED from pair generation and surfaced in the audit frame —
    * the [[graft.operators.Similarity]] `bucketStats`/`emb_lsh_audit`
    * discipline applied to MinHash. 1024 distinct texts agreeing on a
    * full band (4 of 64 signature slots) is no longer near-dup
    * evidence, it is a pathological key that would emit >0.5M pairs
    * from one bucket. */
  val MaxBucket = 1024

  /** Restrict a corpus to its exact-duplicate REPRESENTATIVES: the
    * smallest doc_id per distinct text (the [[exact]] census as a
    * semi-join). Byte-identical duplicates carry no extra near-dup
    * information — their signatures, buckets, and Jaccard relations
    * are identical to their representative's — but a production
    * boilerplate mega-cluster (10⁶ identical docs) would otherwise
    * land in ONE bucket and emit O(n²) candidate pairs. Pipelines
    * that need per-member verdicts expand the representative's
    * verdict back over the group (see [[nearDupClusters]],
    * [[incrementalNear]]). */
  private def exactReps(docs: DataFrame): DataFrame = {
    val reps = docs.groupBy(xxhash64(col("text")).as("_ch"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    docs.join(reps, Seq("doc_id"), "left_semi")
  }

  /** (doc_id, rep) for every document — rep = smallest doc_id sharing
    * the exact text. ONE window shuffle over (8B hash, 8B id) rows. */
  private def exactRepMap(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.select(col("doc_id"), xxhash64(col("text")).as("_ch"))
      .withColumn("rep",
        min(col("doc_id")).over(Window.partitionBy(col("_ch"))))
      .select(col("doc_id"), col("rep"))
  }

  /** Candidate pairs (doc_a < doc_b) from any shared LSH bucket, over
    * exact-duplicate REPRESENTATIVES only (see [[exactReps]]), with
    * degenerate buckets cut at [[MaxBucket]].
    *
    * The signature pipeline still evaluates ONCE — the banded frame is
    * narrow (doc_id, band, bucket) and localCheckpoints cheaply — but
    * pairs come from a (band, bucket) equi-self-join over the
    * checkpointed rows restricted (semi-join on metadata-scale counts)
    * to buckets with 1 < n <= maxBucket, NOT from collect_list +
    * in-array pair explosion. Two scale reasons: the join's generated
    * loop emits pairs without ever materializing a bucket's id list as
    * one array row, and per-pair generation cost drops from the HOF
    * lambda interpreter (~2 µs/pair) into codegen. Shuffles: the exact
    * census, the count agg, the self-join (keyed on (band, bucket)),
    * and the pair distinct. Worst-case pair volume is now bounded by
    * buckets·maxBucket² rather than n² — the exact pre-collapse
    * removes the byte-identical mega-cluster case entirely, and the
    * cap bounds whatever distinct-text degeneracy remains (audited,
    * never silent: [[minhashCandidatesAudited]]). */
  def minhashCandidates(docs: DataFrame): DataFrame = {
    val (cands, dropped) = minhashCandidatesAudited(docs)
    // the cap must never cut SILENTLY in the default path (ADVICE r13):
    // at gate scale it never fires, so the oracle can't catch a recall
    // regression a production corpus would hit — count the dropped
    // buckets (near-free: the counts frame is bucket-metadata scale and
    // checkpointed) and surface them in the log + a process-local
    // counter monitors/specs can read
    val nDropped = dropped.count()
    lastDroppedBuckets = nDropped
    if (nDropped > 0)
      log.warn(s"minhash LSH cap cut $nDropped bucket(s) above " +
        s"occupancy $MaxBucket from candidate generation — pair recall " +
        "is no longer exact; use minhashCandidatesAudited to inspect " +
        "them or widen band geometry")
    cands
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Dropped-bucket count of the most recent [[minhashCandidates]] /
    * [[incrementalNear]] cap evaluation in this JVM — a process-local
    * observability counter (0 = recall exact over representatives).
    * The authoritative per-run record is the audit FRAME
    * ([[minhashCandidatesAudited]]); this scalar exists so the default
    * path is never silent and specs can pin the cap firing. */
  @volatile var lastDroppedBuckets: Long = 0L

  /** [[minhashCandidates]] plus the audit frame of DROPPED buckets —
    * (band, bucket, n) for every bucket whose occupancy exceeded
    * `maxBucket`. An empty audit means pair recall is exact over
    * representatives (the CORRECTNESS gate replays the all-pairs truth
    * and stays green precisely because the cap never fires at gate
    * scale); a non-empty one quantifies what a pathological corpus
    * would have cost. */
  def minhashCandidatesAudited(docs: DataFrame,
      maxBucket: Int = Knobs.int("dedup.max_bucket", MaxBucket),
      geometry: Option[BandGeometry] = None): (DataFrame, DataFrame) = {
    // geometry derives from the RAW corpus count (one metadata-cheap
    // count-star; an upper bound on the rep count, so never narrower
    // than the corpus needs) — identical to DefaultGeometry at gate
    // scales, widening past 16 384 docs (see autoGeometry)
    val g = geometry.orElse(knobGeometry)
      .getOrElse(autoGeometry(docs.count()))
    val b = banded(exactReps(docs), g).localCheckpoint(true)
    // bucket-metadata scale (one row per multi-occupant (band, bucket));
    // checkpointed so keep, dropped, and the default path's dropped
    // COUNT all read one materialization instead of re-running the agg
    val counts = b.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .localCheckpoint(true)
    val keep = counts.filter(col("n") <= maxBucket)
      .select(col("band"), col("bucket"))
    val dropped = counts.filter(col("n") > maxBucket)
    val kept = b.join(keep, Seq("band", "bucket"), "left_semi")
    val cands = kept.withColumnRenamed("doc_id", "doc_a")
      .join(kept.withColumnRenamed("doc_id", "doc_b"),
        Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    (cands, dropped)
  }

  /** Verified near-dup pairs: LSH candidates with exact word-shingle
    * Jaccard >= threshold, among exact-duplicate REPRESENTATIVES (the
    * [[minhashCandidates]] contract — byte-identical copies are
    * collapsed before banding; their pair relations are recovered by
    * expansion in [[nearDupClusters]]/[[incrementalNear]], never by
    * re-emitting the O(group²) within-group pairs).
    *
    * The verify stage shingles ONLY candidate-involved documents: the
    * (tiny) candidate pair frame is checkpointed, its id set semi-joins
    * the corpus, and the exact shingle arrays are built for that subset
    * — at production near-dup rates a small fraction of the corpus.
    * The previous shape materialized every document's shingle array on
    * BOTH join sides just to look up the few candidate rows. */
  def minhashPairs(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    val cands = minhashCandidates(docs).localCheckpoint(true)
    val sh = candidateShingles(docs, cands,
      d => wordShingles(split(col("text"), " ")))
    val sa = sh.toDF("id_a", "sh_a")
    val sb = sh.toDF("id_b", "sh_b")
    cands
      .join(sa, col("doc_a") === col("id_a"))
      .join(sb, col("doc_b") === col("id_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b")))
          / size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Incremental NEAR-dup dedup — the daily-ingest counterpart of
    * [[incremental]] for near duplicates: a new batch probes the
    * persisted LSH store of historical band/bucket rows (16 bytes per
    * doc per band, text never re-scanned) AND itself, then only
    * candidate-involved documents are shingled for the exact-Jaccard
    * verify. Verdicts per batch doc: dup_of_history (a historical
    * near-dup exists at J ≥ threshold), dup_in_batch (a SMALLER-id
    * batch near-dup exists), and the keep bit.
    *
    * Scale shape: the store probe is an equi-join on (band, bucket) —
    * uniformly hashed keys, no skew; a mostly-novel daily batch
    * produces few candidates, so the expensive shingle verify touches
    * a small id set (candidateShingles). Both sides are exact-collapsed
    * to representatives before banding and buckets are capped at
    * `maxBucket` over the COMBINED occupancy (the [[minhashCandidates]]
    * discipline — a boilerplate mega-cluster arriving in one batch, or
    * accumulated in the history store, must not emit O(n²) candidates);
    * member verdicts are recovered EXACTLY by expansion: a member's
    * text equals its representative's, so dup_of_history(member) =
    * dup_of_history(rep), and dup_in_batch(member) = true (the rep
    * itself is a smaller-id batch duplicate at Jaccard 1). The oracle
    * replays the TRUE all-pairs Jaccard answer over the same split, so
    * a green hash also proves LSH recall across the history×batch
    * boundary AND the collapse/expansion algebra — the dedup_minhash
    * contract extended to the incremental shape. */
  def incrementalNear(history: DataFrame, batch: DataFrame,
      threshold: Double = 0.8, maxBucket: Int = Knobs.int("dedup.max_bucket", MaxBucket)): DataFrame = {
    val histReps = exactReps(history)
    // ONE geometry for store and probe (their band buckets equi-join),
    // derived from the combined corpus count; a persisted production
    // store pins geometry at build time from its corpus ceiling instead
    // ([[buildLshStore]]/[[incrementalNearServe]])
    val g = knobGeometry
      .getOrElse(autoGeometry(history.count() + batch.count()))
    val store = banded(histReps, g).withColumnRenamed("doc_id", "hist_id")
      .localCheckpoint(true)
    incrementalNearFrom(store, histReps, batch, g, threshold, maxBucket)
  }

  /** Probe an LSH band store (in-face checkpointed or parquet-backed)
    * with a batch — the shared tail of [[incrementalNear]] and
    * [[incrementalNearServe]]. `store` is (hist_id, band, bucket) rows
    * banded under `g`; `histReps` supplies history TEXT for the exact
    * verify only (semi-joined to candidate-involved ids — banding
    * never re-reads it). */
  private def incrementalNearFrom(store: DataFrame, histReps: DataFrame,
      batch: DataFrame, g: BandGeometry, threshold: Double,
      maxBucket: Int): DataFrame = {
    val bmap = exactRepMap(batch).localCheckpoint(true)
    val batchReps = batch.join(
      bmap.filter(col("doc_id") === col("rep")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val probe = banded(batchReps, g).localCheckpoint(true)
    // degenerate-bucket cut over the combined store+probe occupancy —
    // never silent (the minhashCandidates discipline): dropped buckets
    // are counted off the same checkpointed metadata frame and logged
    val counts = store.select(col("band"), col("bucket"))
      .unionAll(probe.select(col("band"), col("bucket")))
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val keep = counts.filter(col("n") <= maxBucket)
      .select(col("band"), col("bucket"))
    val nDropped = counts.filter(col("n") > maxBucket).count()
    lastDroppedBuckets = nDropped
    if (nDropped > 0)
      log.warn(s"incrementalNear LSH cap cut $nDropped bucket(s) above " +
        s"occupancy $maxBucket — history×batch pair recall is no " +
        "longer exact in those buckets")
    val storeK = store.join(keep, Seq("band", "bucket"), "left_semi")
    val probeK = probe.join(keep, Seq("band", "bucket"), "left_semi")
    val histCands = probeK.join(storeK, Seq("band", "bucket"))
      .select(col("doc_id").as("doc_a"), col("hist_id").as("doc_b"))
      .distinct()
    val p2 = probeK.select(col("band"), col("bucket"), col("doc_id"))
    val batchCands = p2.toDF("band", "bucket", "doc_a")
      .join(p2.toDF("band", "bucket", "doc_b"), Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    // ONE tagged verify pass for both candidate families — the
    // rep corpus is scanned once for the shingle lookup, not once per
    // family (candidateShingles ignores the tag column)
    val corpus = histReps.unionByName(batchReps)
    val cands = histCands.withColumn("from_history", lit(true))
      .unionByName(batchCands.withColumn("from_history", lit(false)))
      .localCheckpoint(true)
    val sh = candidateShingles(corpus, cands,
      d => wordShingles(split(col("text"), " ")))
    val sa = sh.toDF("id_a", "sh_a")
    val sb = sh.toDF("id_b", "sh_b")
    val ver = cands.join(sa, col("doc_a") === col("id_a"))
      .join(sb, col("doc_b") === col("id_b"))
      .filter((size(array_intersect(col("sh_a"), col("sh_b")))
        / size(array_union(col("sh_a"), col("sh_b")))) >= threshold)
      .select(col("doc_a"), col("doc_b"), col("from_history"))
      .localCheckpoint(true)
    val histDup = ver.filter(col("from_history"))
      .select(col("doc_a").as("rep")).distinct()
      .withColumn("doh", lit(true))
    val batchDup = ver.filter(!col("from_history"))
      .select(col("doc_b").as("rep")).distinct()
      .withColumn("dib", lit(true))
    // expand rep verdicts over exact-dup members: same text ⇒ same
    // history relations; the rep (smaller id, Jaccard 1) makes every
    // non-rep member dup_in_batch by definition
    bmap
      .join(histDup, Seq("rep"), "left_outer")
      .join(batchDup, Seq("rep"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("doh"), lit(false)).as("dup_of_history"),
        (col("doc_id") =!= col("rep") ||
          coalesce(col("dib"), lit(false))).as("dup_in_batch"))
      .withColumn("keep", !col("dup_of_history") && !col("dup_in_batch"))
      .orderBy(col("doc_id"))
  }

  // ---- persisted LSH band store: build once, probe many ----------------
  // The production near-dup store (verdict r14 #3): a deployment bands
  // its history ONCE under a geometry pinned from the planned corpus
  // CEILING and probes it daily. [[incrementalNear]] re-derives ONE
  // geometry from the live count per run — correct in-face, but a
  // PERSISTED band store whose corpus count later crossed an
  // autoGeometry rung would silently need a full re-band of history.
  // This split pins the rule in code the way the PQ index does
  // (published through Stores.ensure): geometry is derived from
  // the ceiling at BUILD time, persisted beside the band rows, read
  // back at PROBE time, and the probe REFUSES loudly when the live
  // corpus exceeds the pinned ceiling — never a silent recall cliff.

  /** The band store of a dataset directory; the ceiling rides the path. */
  def lshStorePath(dir: String, corpusCeiling: Long): String =
    Stores.path(Stores.Lsh, dir, s"near_c$corpusCeiling")

  private val LshGeometrySchema =
    "bands INT, rows_per_band INT, corpus_ceiling BIGINT, hist_count BIGINT"

  /** Materialize the near-dup band store: exact-dup representatives of
    * `history`, banded under `autoGeometry(corpusCeiling)` — the
    * ceiling, NOT the live count, so the geometry never moves under an
    * accumulating store until the deployment's planned capacity is
    * actually exceeded. Persists the band rows (16 B per rep per band;
    * text never stored) plus a one-row geometry sidecar the probe
    * reads back: (bands, rows_per_band, corpus_ceiling, hist_count).
    * Fails loudly if history already exceeds the ceiling. */
  def buildLshStore(history: DataFrame, path: String,
      corpusCeiling: Long): Unit = {
    val histCount = history.count()
    Stores.checkBuildCeiling(Stores.Lsh, path, histCount, corpusCeiling)
    val g = autoGeometry(corpusCeiling)
    banded(exactReps(history), g).withColumnRenamed("doc_id", "hist_id")
      .write.mode("overwrite").parquet(s"$path/bands")
    Stores.writeGeometry(history.sparkSession, path, LshGeometrySchema,
      g.bands, g.rowsPerBand, corpusCeiling, histCount)
  }

  /** Probe a PERSISTED band store with a batch — [[incrementalNear]]'s
    * verdict contract served from parquet. The geometry is the PINNED
    * one from the sidecar (never re-derived from live counts, so the
    * history band rows are read as-is — no re-band, even when the live
    * corpus has crossed autoGeometry rungs since the build); `history`
    * supplies TEXT for the exact verify only, semi-joined down to
    * candidate-involved ids. Refusals (loud, never silent):
    *  - live corpus (stored hist_count + batch count) above the pinned
    *    ceiling — the geometry's recall guarantee no longer covers the
    *    corpus; rebuild the store with a larger ceiling;
    *  - sidecar geometry differing from what its recorded ceiling
    *    derives — a corrupt or foreign store. */
  def incrementalNearServe(history: DataFrame, batch: DataFrame,
      path: String, threshold: Double = 0.8,
      maxBucket: Int = Knobs.int("dedup.max_bucket", MaxBucket)): DataFrame = {
    val spark = batch.sparkSession
    val geo = Stores.geometry(spark, Stores.Lsh, path, LshGeometrySchema)
    val g = BandGeometry(geo.getInt(0), geo.getInt(1))
    val ceiling = geo.getLong(2)
    val histCount = geo.getLong(3)
    require(g == autoGeometry(ceiling),
      s"LSH store $path: pinned geometry $g does not match its " +
        s"recorded ceiling $ceiling (expects ${autoGeometry(ceiling)}) " +
        "— corrupt or foreign store; rebuild")
    // the passed history frame must BE the corpus the store banded:
    // a history that grew since buildLshStore (even under the ceiling)
    // has no band rows for its new docs, so their near-dups would be
    // missed SILENTLY — the live-corpus ceiling check below runs on
    // the STORED hist_count and cannot see the drift. One driver-side
    // count buys the refusal (advice r15 #1).
    val liveHist = history.count()
    require(liveHist == histCount,
      s"LSH store $path: passed history has $liveHist docs but the " +
        s"store banded $histCount — new history docs have NO band " +
        "rows and their near-dups would be silently missed; rebuild " +
        "the store (or fold the delta through the batch side)")
    Stores.checkServeCeiling(Stores.Lsh, path,
      histCount + batch.count(), ceiling)
    incrementalNearFrom(Stores.read(spark, s"$path/bands",
        "hist_id BIGINT, band INT, bucket BIGINT"), history,
      batch, g, threshold, maxBucket)
  }

  /** (doc_id, shingles) for exactly the documents named by either side
    * of a candidate pair frame — the verify stage's input restriction. */
  private def candidateShingles(docs: DataFrame, cands: DataFrame,
      mk: DataFrame => Column): DataFrame = {
    val involved = cands.select(col("doc_a").as("doc_id"))
      .unionAll(cands.select(col("doc_b").as("doc_id")))
      .distinct()
    val subset = docs.join(involved, Seq("doc_id"), "left_semi")
    subset.select(col("doc_id"), mk(subset).as("shingles"))
  }

  // -- SimHash ------------------------------------------------------------

  // DEFAULT chunk count: 6 chunks; hamming<=3 touches <=3 of them, so
  // every qualifying pair shares at least one full 3-chunk SUBSET —
  // bucket by all C(6,3)=20 subsets (exact recall by pigeonhole, like
  // the old some-chunk-equal rule, but on 30+-bit keys instead of
  // 15/16-bit ones). Corpus-count-derived faces widen past this floor
  // via [[autoSimhashChunks]].
  val SimHashChunks = 6

  /** Hard ceiling of the chunk ladder: C(12,3) = 220 subset rows per
    * doc in the bucket exchange is where the linear explode cost
    * starts to rival the quadratic mass it prevents; past the n the
    * 12-chunk geometry covers (~1.6·10¹¹ docs at 60 bits) widen the
    * SIGNATURE instead (poly_simhash generalizes to more hash lanes;
    * Manku et al. 2007 §3 makes the same table/width trade). */
  val MaxSimhashChunks = 12

  /** C(k, d) in Long — k ≤ 12, d ≤ k, far from overflow. */
  private def choose(k: Int, d: Int): Long =
    (1 to d).foldLeft(1L)((acc, i) => acc * (k - d + i) / i)

  /** Narrowest subset keyspace (in bits) of the k-chunk split of a
    * totalBits signature: chunks 0..k−2 have width ⌈totalBits/k⌉ and
    * the last chunk takes the remainder, so the weakest of the
    * C(k, k−maxDist) subset keys is the one containing the narrow
    * last chunk. This is the bound the occupancy rule must hold at —
    * a uniform bucket key is only as strong as its narrowest subset. */
  private[graft] def simhashSubsetBits(k: Int, totalBits: Int,
      maxDist: Int): Int = {
    val w = (totalBits + k - 1) / k
    val last = totalBits - w * (k - 1)
    w * (k - maxDist - 1) + math.min(w, last)
  }

  /** Corpus-count-derived chunk count for subset-bucketed hamming pair
    * generation — the SimHash analog of [[autoGeometry]] (verdict r14
    * #1, closing the last fixed-geometry text-LSH family). The fixed
    * 6-chunk split keys ~2^30+ of subset keyspace, so expected RANDOM
    * candidate mass is ~C(6,3)·n²/2^30 — quadratic, with the knee
    * near 5·10⁷ docs at 60 bits. The ladder picks the smallest valid
    * k ≥ [[SimHashChunks]] whose narrowest subset keyspace holds the
    * expected random candidate count LINEAR in n:
    *
    *   C(k, maxDist) · n ≤ 2^simhashSubsetBits(k)
    *
    * (per-doc expected random co-bucket collisions ≤ 1). Recall is
    * unchanged at every rung — the pigeonhole (hamming ≤ maxDist
    * flips ≤ maxDist chunks, so some (k−maxDist)-subset matches
    * exactly) is exact for EVERY k > maxDist; what the ladder buys is
    * candidate PRECISION at scale, paid as C(k, maxDist) exploded
    * rows per doc (20 → 35 → 56 … 220 at the [[MaxSimhashChunks]]
    * cap). k values whose ceil-width split would leave an empty last
    * chunk (e.g. k=11 at 60 bits) are skipped — the
    * [[simhashPairsFrom]] non-empty-chunk invariant. At 60 bits the
    * rungs land at n ≈ 5.4e7 (k=6→7), 2.5e8, 1.2e9, 6.6e9, 3.7e10,
    * 1.6e11 — every gate-scale corpus keeps the 6-chunk geometry
    * bit-for-bit. */
  def autoSimhashChunks(n: Long, totalBits: Int, maxDist: Int = 3,
      minChunks: Int = SimHashChunks): Int = {
    require(minChunks > maxDist,
      s"minChunks=$minChunks must exceed maxDist=$maxDist (pigeonhole)")
    def valid(k: Int): Boolean = {
      val w = (totalBits + k - 1) / k
      totalBits > w * (k - 1)
    }
    def holds(k: Int): Boolean = {
      val bits = simhashSubsetBits(k, totalBits, maxDist)
      // compare in BigInt: 2^bits can exceed Long for wide signatures
      BigInt(choose(k, maxDist)) * BigInt(math.max(n, 1L)) <=
        (BigInt(1) << bits)
    }
    val ladder = (minChunks to MaxSimhashChunks).filter(valid)
    ladder.find(holds).getOrElse(ladder.last)
  }

  /** Near-dup pairs by SimHash hamming distance <= maxDist, bucketed by
    * 3-chunk subsets of a 6-chunk split (the Manku et al. 2007
    * permuted-table idea in subset form — pigeonhole: distance<=3
    * flips bits in at most 3 chunks, so at least one of the C(6,3)=20
    * three-chunk subsets is IDENTICAL on both sides; bucket recall is
    * exact). Same checkpoint + bucket-self-join shape as
    * minhashCandidates: one signature evaluation, shuffles keyed on
    * (subset, packed value), pair generation in the join's codegen
    * loop with no per-bucket array row.
    *
    * The signature is the 60-bit graft.functions.PolySimHash
    * (codepoint-polynomial token hashes, majority vote per bit) —
    * exact integer math a SQL engine replays verbatim, so the emitted
    * pair set hash-matches an ALL-PAIRS hamming oracle. A green gate
    * therefore proves the signature, the pigeonhole bucket recall
    * (every hamming<=3 pair shares a full 3-of-6-chunk subset), and
    * the distance filter in one hash.
    *
    * Scale note: random-hash candidate volume at the default 6-chunk
    * split is ~20·n²/2^31 — the round-11 4×16-bit single-chunk scheme
    * measured 8.4× at 10× data precisely because its n²/2^15
    * candidate mass grew 100×. The chunk count is CORPUS-DERIVED
    * ([[autoSimhashChunks]]): past each occupancy knee the ladder
    * widens the split (6→7→…→12 chunks), holding expected random
    * candidates LINEAR in n at the cost of C(k,3) fixed-width rows
    * per doc in the bucket exchange (20→220 rows, still no text
    * anywhere). */
  def polySimhashPairs(docs: DataFrame, maxDist: Int = 3): DataFrame =
    simhashPairsFrom(
      docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"),
          call_function("poly_simhash", col("toks")).as("simhash")),
      totalBits = 60, maxDist = maxDist,
      chunks = Knobs.optInt("dedup.simhash_chunks")
        .getOrElse(autoSimhashChunks(docs.count(), 60, maxDist)))

  /** Subset-bucketed hamming pair generation over a (doc_id, simhash)
    * frame: the signature splits into `chunks` chunks (default
    * [[SimHashChunks]]; corpus-derived faces pass
    * [[autoSimhashChunks]]; width ⌈totalBits/chunks⌉, last chunk
    * narrower when chunks ∤ totalBits) and each row explodes into the
    * C(chunks, chunks−maxDist) chunk-SUBSET keys — (subset id, packed
    * chunk values); a hamming≤maxDist pair differs in ≤maxDist chunks,
    * so at least one subset of the remaining chunks matches exactly on
    * both sides (exact recall for EVERY chunk count > maxDist, no
    * verify loss). Multi-occupant buckets pair within buckets, the XOR
    * popcount filters, distinct() collapses pairs caught by several
    * subsets. Columns are renamed BY NAME before the self-join — the
    * USING-join output order is an analyzer detail no correctness
    * should ride on. */
  private[graft] def simhashPairsFrom(sigs: DataFrame, totalBits: Int,
      maxDist: Int, chunks: Int = SimHashChunks): DataFrame = {
    val b = simhashSubsetKeys(sigs, totalBits, maxDist, chunks)
      .localCheckpoint(true)
    val keep = b.groupBy(col("chunk"), col("chunk_val"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .select(col("chunk"), col("chunk_val"))
    val kept = b.join(keep, Seq("chunk", "chunk_val"), "left_semi")
      .select(col("chunk"), col("chunk_val"), col("doc_id"), col("simhash"))
    val a = kept
      .withColumnsRenamed(Map("doc_id" -> "doc_a", "simhash" -> "sim_a"))
    val c = kept
      .withColumnsRenamed(Map("doc_id" -> "doc_b", "simhash" -> "sim_b"))
    a.join(c, Seq("chunk", "chunk_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Exploded chunk-subset bucket keys for a (doc_id, simhash) frame —
    * the shared primitive behind [[simhashPairsFrom]] and the
    * persisted image store ([[Multimodal.buildPhashStore]] /
    * [[Multimodal.phashServe]]): one output row per
    * C(chunks, chunks−maxDist) subset per doc, keyed (chunk = subset
    * id, chunk_val = packed chunk values at stride w). Validates the
    * full geometry contract (range, explosion ceiling, non-empty
    * chunks, 63-bit pack) so every caller — live face or persisted
    * store — refuses invalid geometries identically. */
  private[graft] def simhashSubsetKeys(sigs: DataFrame, totalBits: Int,
      maxDist: Int, chunks: Int): DataFrame = {
    require(maxDist >= 1 && maxDist < chunks,
      s"maxDist out of range for $chunks chunks: $maxDist")
    require(chunks <= MaxSimhashChunks,
      s"chunk count $chunks above the subset-explosion ceiling " +
        s"$MaxSimhashChunks — widen the signature instead")
    val w = (totalBits + chunks - 1) / chunks
    // every chunk must be non-empty: with w = ceil(totalBits/chunks),
    // a width like 7 gives the last chunks NEGATIVE widths, whose
    // (1L << width) - 1 masks are garbage — fail loudly instead of
    // bucketing on junk keys (the 60/64-bit faces both satisfy this
    // at every ladder rung autoSimhashChunks emits)
    require(totalBits > w * (chunks - 1),
      s"totalBits=$totalBits leaves empty chunks at width $w — " +
        s"use a signature width of at least ${(chunks - 1) * w + 1} " +
        s"bits for $chunks chunks")
    // the packed subset key below concatenates (chunks - maxDist)
    // chunk values at stride w into ONE Long; a worst-case subset is
    // all full-width chunks, so past 63 bits the key would wrap
    // SILENTLY — final pairs would stay correct (the exact hamming
    // filter runs after), but the bucket keyspace would narrow and
    // candidate volume quietly grow. For any Long-backed signature
    // (totalBits <= 64) the non-empty-chunk rule above already implies
    // this bound — w·(chunks−maxDist) <= w·(chunks−1) < totalBits <=
    // 64 — so the require is an INVARIANT made loud (DedupSpec sweeps
    // every valid geometry to pin the implication), guarding any
    // future wider-signature face against inheriting the wrap.
    require(w * (chunks - maxDist) <= 63,
      s"packed subset key needs ${w * (chunks - maxDist)} bits " +
        s"(width $w x ${chunks - maxDist} subset chunks) > 63 — the " +
        "Long pack would wrap and silently narrow the bucket keyspace; " +
        "use fewer chunks or a higher maxDist")
    def chunkVal(i: Int): Column = {
      val width = math.min(w, totalBits - w * i)
      val mask = (1L << width) - 1
      expr(s"(simhash >> ${w * i}) & $mask")
    }
    val subsets =
      (0 until chunks).combinations(chunks - maxDist).toSeq
    val keys = subsets.zipWithIndex.map { case (idx, sid) =>
      val packed = idx.zipWithIndex.map { case (ci, pos) =>
        chunkVal(ci) * lit(1L << (w * pos))
      }.reduce(_ + _)
      struct(lit(sid).as("chunk"), packed.as("chunk_val"))
    }
    sigs
      .select(col("doc_id"), col("simhash"),
        explode(array(keys: _*)).as("k"))
      .select(col("k.chunk").as("chunk"),
        col("k.chunk_val").as("chunk_val"),
        col("doc_id"), col("simhash"))
  }

  // -- char n-gram Jaccard (verify stage) ---------------------------------

  /** Character-5-gram Jaccard computed over the VERIFIED MinHash
    * near-dup pairs (word-shingle J >= 0.8) — the second similarity
    * metric over the near-dup pair set, never all-pairs. The candidate
    * restriction is itself an ORACLE-REPLAYABLE relation (the
    * dedup_minhash word-trigram contract), which is what lets this key
    * stay hash-gated at EVERY scale point: the previous raw-LSH-bucket
    * restriction forced the oracle into an all-pairs char-5-gram join
    * (5-grams like "the a" have corpus-scale document frequency) that
    * spills DuckDB out of disk at 50k docs. Gram arrays are built only
    * for pair-involved documents. */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val cands = minhashPairs(docs).select(col("doc_a"), col("doc_b"))
      .localCheckpoint(true)
    val sh = candidateShingles(docs, cands, d => charShingles(col("text")))
    val sa = sh.toDF("id_a", "g_a")
    val sb = sh.toDF("id_b", "g_b")
    cands
      .join(sa, col("doc_a") === col("id_a"))
      .join(sb, col("doc_b") === col("id_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("g_a"), col("g_b")))
          / size(array_union(col("g_a"), col("g_b")))).as("jaccard5"))
      .filter(col("jaccard5") >= threshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // -- cross-corpus segment dedup (the C4 "duplicate lines" stage) --------

  /** Remove every repeated SEGMENT across the whole corpus, keeping
    * only its first occurrence (smallest (doc_id, position)) — the
    * C4/RefinedWeb "discard duplicate lines across the corpus" stage,
    * which kills boilerplate (headers, navigation, license blocks)
    * that document-level dedup can never touch because the surrounding
    * text differs. Documents without line structure are chunked into
    * fixed `segWords`-word windows, which is what real pipelines do to
    * unstructured text. Returns one row per document: segment counts
    * and the reassembled surviving text (NULL when nothing survived).
    *
    * Shape: explode to (doc_id, seg_idx, seg) — corpus-sized but
    * narrow; the first-occurrence census groups on the segment's
    * 8-byte poly_digest, NOT the segment text, and the winning row's
    * TEXT rides inside the min(struct(doc_id, seg_idx, seg)) census
    * state — (doc_id, seg_idx) is unique per row, so the seg field
    * never decides the min, it just travels with the winner. That
    * removes the join-back stage entirely: the pipeline is census →
    * per-doc reassembly, two exchanges total, with map-side combine
    * shedding every within-partition duplicate before its text ever
    * crosses the wire. The digest replays exactly in the oracle's
    * SQL, so a mod-10⁹ collision picks the same global survivor in
    * both engines. */
  def segmentDedup(docs: DataFrame, segWords: Int = 10): DataFrame = {
    val segs = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(
           |  sequence(0, cast(ceil(size(toks) / ${segWords}.0) as int) - 1),
           |  i -> array_join(slice(toks, i * $segWords + 1, $segWords), ' '))"""
          .stripMargin)).as(Seq("seg_idx", "seg")))
      .withColumn("h", call_function("poly_digest2", col("seg")))
    val kept = segs
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("seg_idx"), col("seg")))
        .as("first"))
      .select(col("first.doc_id").as("doc_id"),
        col("first.seg_idx").as("seg_idx"), col("first.seg").as("seg"))
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(
          struct(col("seg_idx"), col("seg")))), x => x.getField("seg")), " ")
          .as("text_kept"))
    docs
      .select(col("doc_id"),
        ceil(size(split(col("text"), " ")) / segWords.toDouble).cast("long")
          .as("n_segs"))
      .join(rebuilt, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("text_kept"))
      .orderBy(col("doc_id"))
  }

  /** Boilerplate segment removal by corpus document frequency — the
    * CCNet/RefinedWeb "repeated lines" filter, and the other half of
    * the segment-dedup story: [[segmentDedup]] keeps the FIRST copy of
    * a repeated segment, this drops EVERY copy of a segment that
    * recurs across `maxDf`-or-more distinct documents (navigation
    * chrome, license headers, templated footers — text whose repetition
    * IS the signal that it carries no training value).
    *
    * Shape: the same fixed-window segmentation as [[segmentDedup]],
    * and the same DIGEST-KEYED exchanges: the distinct-doc frequency
    * census groups the segment's 8-byte poly_digest ((8B, 8B) rows,
    * map-side combinable), the join back is digest-keyed so segment
    * text crosses the wire exactly once (with the probe side, for
    * reassembly), and the oracle replays the digest fold so collisions
    * merge identically in both engines. At 100 TB the df table above
    * the boilerplate threshold (a tiny fraction of distinct segments)
    * broadcasts into the removal join. */
  def boilerplateStrip(docs: DataFrame, segWords: Int = 10,
      maxDf: Int = 3): DataFrame = {
    val segs = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(
           |  sequence(0, cast(ceil(size(toks) / ${segWords}.0) as int) - 1),
           |  i -> array_join(slice(toks, i * $segWords + 1, $segWords), ' '))"""
          .stripMargin)).as(Seq("seg_idx", "seg")))
      .withColumn("h", call_function("poly_digest2", col("seg")))
    val df = segs.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
    val flagged = segs.join(df, "h")
    val rebuilt = flagged.filter(col("df") < maxDf)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(
          struct(col("seg_idx"), col("seg")))), x => x.getField("seg")), " ")
          .as("text_kept"))
    val removed = flagged.filter(col("df") >= maxDf)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_boiler"))
    docs
      .select(col("doc_id"),
        ceil(size(split(col("text"), " ")) / segWords.toDouble).cast("long")
          .as("n_segs"))
      .join(rebuilt, Seq("doc_id"), "left_outer")
      .join(removed, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        col("text_kept"))
      .orderBy(col("doc_id"))
  }

  // -- cluster resolution (pairs → canonical doc per cluster) -------------

  /** Connected-component resolution over an undirected near-dup pair
    * set: every document that appears in a pair is mapped to its
    * cluster's canonical (minimum) doc_id — the step that turns
    * pairwise near-dup evidence into an actual "keep one per cluster"
    * dedup decision.
    *
    * Alternating large-star/small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014): edges are kept
    * as (child → parent) with child > parent; large-star hangs every
    * bigger neighbor of a node under the node's min neighbor,
    * small-star re-parents a node's parents under their common min.
    * Each round is ONE linear O(E)-row chain — two whole-partition
    * window mins and a distinct, three shuffles total, no self-joins —
    * localCheckpoint'ed per round so lineage stays constant. Converges
    * in O(log n) rounds on ANY graph shape — including the long-chain
    * dup graphs (serial boilerplate drift) where plain min-label
    * propagation needs diameter supersteps (DedupSpec's 64-node path
    * fixture asserts ≤ 2·log₂(n) rounds vs 63 propagation steps).
    * Fixpoint = a star forest, detected by an order-independent
    * (count, hash-sum) signature staying unchanged across a full
    * round. */
  def resolveClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    resolveClustersCounted(pairs, maxIter)._1

  /** [[resolveClusters]] plus the number of rounds it took — the
    * O(log n) convergence contract is itself under test. */
  def resolveClustersCounted(pairs: DataFrame,
      maxIter: Int = 20): (DataFrame, Int) = {
    // ONE evaluation of the (possibly expensive) pair pipeline: the
    // canonicalized pair set — reflexive pairs INCLUDED — is
    // checkpointed first, so both the edge set and the final
    // self-label node sweep read the materialized copy instead of
    // re-running `pairs` (re-deriving the node set from `pairs` was
    // measured re-executing the whole LSH pipeline a second time)
    val base = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .distinct()
      .localCheckpoint(true)
    // canonical child>parent orientation; self-pairs dropped
    var edges = base.filter(col("u") =!= col("v"))

    // undirected neighbor view: one row per (node, neighbor)
    def nbrs(e: DataFrame): DataFrame =
      e.union(e.select(col("v"), col("u"))).toDF("n", "nbr")

    // Each star op needs every edge row paired with its group's min —
    // a whole-partition window min is ONE shuffle of the edge rows,
    // where the groupBy-min + join formulation would shuffle them
    // twice. Star roots have cluster-sized partitions; that skew is
    // identical in either formulation.
    import org.apache.spark.sql.expressions.Window

    // large-star: for node n with m = min(N(n) ∪ {n}), hang every
    // STRICTLY LARGER neighbor under m — emitted edges keep child >
    // parent because nbr > n >= m. No distinct here: duplicate edges
    // are harmless to small-star's window-min and die in its final
    // distinct — one fewer shuffle per round.
    def largeStar(e: DataFrame): DataFrame =
      nbrs(e)
        .withColumn("m",
          least(col("n"), min(col("nbr")).over(Window.partitionBy(col("n")))))
        .filter(col("nbr") > col("n"))
        .select(col("nbr").as("u"), col("m").as("v"))

    // small-star: for child n with parent set P (all < n) and
    // m = min(P), re-parent n and every p ∈ P\{m} under m. Both
    // emissions — (n → m) and (p → m) — come out of ONE pass over the
    // window output via a conditional explode (a union of two selects
    // would run the window twice).
    def smallStar(e: DataFrame): DataFrame =
      e.withColumn("m", min(col("v")).over(Window.partitionBy(col("u"))))
        .select(explode(when(col("v") =!= col("m"),
          array(struct(col("u").as("c"), col("m").as("p")),
            struct(col("v").as("c"), col("m").as("p"))))
          .otherwise(array(struct(col("u").as("c"), col("m").as("p")))))
          .as("e"))
        .select(col("e.c").as("u"), col("e.p").as("v"))
        .distinct()

    // order-independent edge-set signature: (row count, Σ xxhash64) —
    // decimal sum is exact, a collision needs two DIFFERENT edge sets
    // with equal 64-bit hash sums (never under non-adversarial data)
    def signature(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }

    var sig = signature(edges)
    var converged = edges.isEmpty
    var iter = 0
    while (!converged && iter < maxIter) {
      // one linear chain per round — each star op consumes its input
      // exactly once (window + explode, no self-joins), so a single
      // materialization per round suffices: ckpt-scan → window(n) →
      // window(u) → explode → distinct → ckpt. Three shuffles/round.
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val nextSig = signature(next)
      converged = nextSig == sig
      sig = nextSig
      edges = next
      iter += 1
    }
    // a mid-round edge set is NOT a star forest — nodes can carry
    // conflicting parents and non-minimal roots would self-label, so
    // an unconverged exit would silently return a corrupt cluster
    // map. Fail loudly instead (same contract as the embeddingPairs
    // recall guard).
    if (!converged) throw new IllegalStateException(
      s"resolveClusters did not reach the star-forest fixpoint in " +
        s"$maxIter rounds — raise maxIter (components needing more " +
        s"rounds than log-scale indicate a pathological pair graph)")
    // fixpoint is a star forest: children point at their component
    // min. Every node of the ORIGINAL pair set gets a label — nodes
    // absent from the final edge set (roots, and nodes whose only
    // pairs were reflexive) label themselves.
    val children = edges.select(col("u").as("doc_id"), col("v").as("keep_id"))
    val allNodes = base
      .select(explode(array(col("u"), col("v"))).as("doc_id"))
      .distinct()
    val selfLabeled = allNodes
      .join(children.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("keep_id"))
    (children.union(selfLabeled).orderBy(col("doc_id")), iter)
  }

  /** Cluster resolution over the verified MinHash near-dup pairs, with
    * exact-duplicate members EXPANDED back in: [[minhashPairs]] emits
    * pairs among exact-representatives only (the mega-cluster cut), so
    * the star-forest labels are computed over representatives and then
    * joined over the (doc_id → rep) map — a member belongs to its
    * rep's cluster (identical text ⇒ identical Jaccard relations), and
    * an exact-dup group whose rep has no near-dup pair is itself a
    * cluster labeled by the rep. Output is IDENTICAL to resolving the
    * un-collapsed pair graph (members form Jaccard-1 cliques through
    * their rep; the component minimum is always a rep because each
    * group's minimum id IS its rep) at a fraction of the pair volume —
    * the dedup_cluster oracle still replays the raw all-pairs
    * reachability, so the equivalence is on the gate. */
  def nearDupClusters(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grouped = docs
      .select(col("doc_id"), xxhash64(col("text")).as("_ch"))
      .withColumn("rep",
        min(col("doc_id")).over(Window.partitionBy(col("_ch"))))
      .withColumn("grp_n",
        count(lit(1)).over(Window.partitionBy(col("_ch"))))
      .select(col("doc_id"), col("rep"), col("grp_n"))
    val repLabels = resolveClusters(minhashPairs(docs))
      .withColumnsRenamed(Map("doc_id" -> "rep", "keep_id" -> "rep_label"))
    grouped.join(repLabels, Seq("rep"), "left_outer")
      .filter(col("rep_label").isNotNull || col("grp_n") > 1)
      .select(col("doc_id"),
        coalesce(col("rep_label"), col("rep")).as("keep_id"))
      .orderBy(col("doc_id"))
  }

  /** Canonical-member selection by QUALITY within each near-dup
    * cluster — production dedup keeps the best member, not the lowest
    * id: near-dup families routinely contain truncated mirrors and
    * boilerplate-wrapped variants, and length is the standard
    * first-order canonicalization heuristic (longest member, doc_id
    * tie-break — fully deterministic). Output: every clustered doc
    * with its cluster, length and the keep verdict.
    *
    * Scale shape: the pair→connected-component machinery is
    * [[nearDupClusters]] unchanged; selection adds ONE cluster-keyed
    * window over CLUSTERED docs only (a small fraction of the corpus)
    * with cluster-sized frames — no global order, no second corpus
    * scan (n_chars rides the metadata projection). */
  def keepBest(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    nearDupClusters(docs)
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("keep_id"))
          .orderBy(col("n_chars").desc, col("doc_id"))))
      .select(col("doc_id"), col("keep_id").as("cluster"), col("n_chars"),
        (col("rk") === 1).as("keep"))
      .orderBy(col("doc_id"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_cluster" -> ((s, dir) =>
      nearDupClusters(Tables.load(s, dir, "documents"))),
    // longest-member canonical selection within each cluster
    "dedup_keep_best" -> ((s, dir) =>
      keepBest(Tables.load(s, dir, "documents"))),
    "dedup_exact" -> ((s, dir) => exact(Tables.load(s, dir, "documents"))),
    "dedup_normalized" -> ((s, dir) =>
      normalizedExact(Tables.load(s, dir, "documents"))),
    "dedup_segments" -> ((s, dir) =>
      segmentDedup(Tables.load(s, dir, "documents"))),
    "dedup_minhash" -> ((s, dir) => minhashPairs(Tables.load(s, dir, "documents"))),
    // the oracle-replayable poly-simhash face is the gated one; the
    // 64-bit production sketch keeps its property spec (DedupSpec)
    "dedup_simhash" -> ((s, dir) => polySimhashPairs(Tables.load(s, dir, "documents"))),
    "dedup_ngram_jaccard" -> ((s, dir) =>
      ngramJaccardPairs(Tables.load(s, dir, "documents"))),
    // history = doc_id % 3 != 0, batch = doc_id % 3 == 0 — a
    // deterministic split that exists at every SF
    "dedup_incremental" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      incremental(docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0))
    },
    // same split; the near-dup counterpart probing the LSH store
    "dedup_incremental_near" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      incrementalNear(docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0))
    },
    // the PERSISTED-store face of the same contract: build once under
    // a ceiling-pinned geometry (4x live headroom — deterministic, so
    // the ensured index replays bit-identically), probe from parquet.
    // Same oracle as dedup_incremental_near: serving from the pinned
    // store must change NOTHING about the verdicts.
    "dedup_incr_near_serve" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val history = docs.filter(col("doc_id") % 3 =!= 0)
      val ceiling = 4L * docs.count()
      val path = lshStorePath(dir, ceiling)
      Stores.ensure(path)(tmp =>
        buildLshStore(history, tmp, ceiling))
      incrementalNearServe(history,
        docs.filter(col("doc_id") % 3 === 0), path)
    },
    // same deterministic history/batch split as dedup_incremental
    "dedup_bloom" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      bloomIncremental(docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0))
    },
    // "benchmark" = every 50th doc; members self-match (an eval doc
    // leaked into the corpus IS contamination), near-dups add more
    "dedup_contain" -> ((s, dir) =>
      contamination(Tables.load(s, dir, "documents"),
        col("doc_id") % 50 === 0)),
    // fuzzy decontamination: word-trigram Jaccard >= 0.5 vs an
    // every-40th-doc eval set — verbatim leaks self-match at 1.0,
    // planted near-dups surface below
    "dedup_contain_near" -> ((s, dir) =>
      nearContamination(Tables.load(s, dir, "documents"),
        col("doc_id") % 40 === 0)),
    "corpus_dedup_weight" -> ((s, dir) =>
      clusterWeights(Tables.load(s, dir, "documents"))),
    "dedup_substring" -> ((s, dir) =>
      substringStats(Tables.load(s, dir, "documents"))),
    "dedup_span_removal" -> ((s, dir) =>
      spanRemoval(Tables.load(s, dir, "documents"))),
    // span-level decontamination vs the same every-50th-doc eval set
    // as dedup_contain — the scrub, where dedup_contain is the flag
    "dedup_decontam_spans" -> ((s, dir) =>
      decontamSpans(Tables.load(s, dir, "documents"),
        col("doc_id") % 50 === 0)),
    // corpus-frequency boilerplate removal (every copy of a segment
    // recurring in >= 3 distinct docs drops — segmentDedup's complement)
    "dedup_boilerplate" -> ((s, dir) =>
      boilerplateStrip(Tables.load(s, dir, "documents"))))

  /** DuckDB replay of the engine's poly_digest2/word_gram_digests2
    * key: BOTH PolyHash code-point folds of `e`, packed h1·P2 + h2 —
    * exact BIGINT arithmetic, one line. (A helper shared between
    * ORACLE entries only; the engine side is the independent JVM
    * expression, so there is no generator collusion.) */
  private def dualDigestSql(e: String): String =
    s"(LIST_REDUCE(LIST_PREPEND(CAST(888888883 AS BIGINT), " +
      s"LIST_TRANSFORM(LIST_FILTER(STRING_SPLIT($e, ''), c -> c <> ''), " +
      s"c -> CAST(UNICODE(c) AS BIGINT))), " +
      s"(acc, x) -> (acc * 31 + x) % 1000000007) * 998244353 + " +
      s"LIST_REDUCE(LIST_PREPEND(CAST(777777777 AS BIGINT), " +
      s"LIST_TRANSFORM(LIST_FILTER(STRING_SPLIT($e, ''), c -> c <> ''), " +
      s"c -> CAST(UNICODE(c) AS BIGINT))), " +
      s"(acc, x) -> (acc * 37 + x) % 998244353))"

  // the TRUE all-pairs answer over the %3 split, shared by BOTH the
  // in-face and persisted-store registrations of the incremental
  // near-dup contract
  private val IncrNearOracleSql =
    """WITH toks AS (SELECT doc_id, STRING_SPLIT(text,' ') AS t
      |             FROM documents),
      |grams AS (SELECT DISTINCT doc_id, ARRAY_TO_STRING(t[i:i+2],' ') AS g
      |          FROM toks, UNNEST(RANGE(1, GREATEST(LEN(t)-2,1)+1)) AS r(i)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      |          FROM grams a JOIN grams b
      |            ON a.g = b.g AND a.doc_id < b.doc_id
      |          GROUP BY 1,2),
      |pairs AS (SELECT doc_a, doc_b FROM inter
      |  JOIN sizes sa ON doc_a = sa.doc_id
      |  JOIN sizes sb ON doc_b = sb.doc_id
      |  WHERE CAST(i AS DOUBLE)/(sa.n + sb.n - i) >= 0.8),
      |sym AS (SELECT doc_a AS x, doc_b AS y FROM pairs
      |        UNION ALL SELECT doc_b, doc_a FROM pairs),
      |b AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
      |doh AS (SELECT DISTINCT x AS doc_id FROM sym
      |        WHERE x % 3 = 0 AND y % 3 <> 0),
      |dib AS (SELECT DISTINCT x AS doc_id FROM sym
      |        WHERE x % 3 = 0 AND y % 3 = 0 AND y < x)
      |SELECT b.doc_id,
      |  doh.doc_id IS NOT NULL AS dup_of_history,
      |  dib.doc_id IS NOT NULL AS dup_in_batch,
      |  (doh.doc_id IS NULL AND dib.doc_id IS NULL) AS keep
      |FROM b LEFT JOIN doh ON b.doc_id = doh.doc_id
      |LEFT JOIN dib ON b.doc_id = dib.doc_id
      |ORDER BY b.doc_id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // same segmentation, DISTINCT-doc frequency grouped on the
    // engine's own poly_digest segment fingerprint (collisions merge
    // identically in both engines), df>=3 removal and ordered
    // reassembly replayed relationally
    "dedup_boilerplate" ->
      s"""WITH toks AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
        |segs AS (
        |  SELECT doc_id, i AS seg_idx,
        |    ARRAY_TO_STRING(t[i*10+1 : i*10+10], ' ') AS seg,
        |    ${dualDigestSql("ARRAY_TO_STRING(t[i*10+1 : i*10+10], ' ')")}
        |      AS h
        |  FROM toks,
        |    UNNEST(RANGE(0, CAST(CEIL(LEN(t)/10.0) AS BIGINT))) AS r(i)),
        |df AS (
        |  SELECT h, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY h),
        |flagged AS (
        |  SELECT s.doc_id, s.seg_idx, s.seg, f.df
        |  FROM segs s JOIN df f USING (h)),
        |rebuilt AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    STRING_AGG(seg, ' ' ORDER BY seg_idx) AS text_kept
        |  FROM flagged WHERE df < 3 GROUP BY doc_id),
        |removed AS (
        |  SELECT doc_id, COUNT(*) AS n_boiler
        |  FROM flagged WHERE df >= 3 GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(CEIL(LEN(STRING_SPLIT(d.text, ' '))/10.0) AS BIGINT)
        |    AS n_segs,
        |  COALESCE(k.n_kept, 0) AS n_kept,
        |  COALESCE(x.n_boiler, 0) AS n_boiler, k.text_kept
        |FROM documents d
        |  LEFT JOIN rebuilt k USING (doc_id)
        |  LEFT JOIN removed x USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // digest-level replay of substringStats: shingling (including the
    // one-short-gram rule for <13-token docs), the engine's own
    // word_gram_digests fingerprint (seeded codepoint fold — a
    // collision merges the same gram pair in both engines), per-gram
    // document frequency, per-doc dup share, and the integer 20% cut
    "dedup_substring" ->
      s"""WITH toks AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    ${dualDigestSql("ARRAY_TO_STRING(t[i + 1 : i + 13], ' ')")}
        |      AS g
        |  FROM toks,
        |    UNNEST(RANGE(0, GREATEST(LEN(t) - 12, 1))) r(i)),
        |wd AS (
        |  SELECT doc_id, COUNT(*) OVER (PARTITION BY g) AS df
        |  FROM grams),
        |per AS (
        |  SELECT doc_id, COUNT(*) AS n_grams,
        |    CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dup_grams
        |  FROM wd GROUP BY doc_id)
        |SELECT doc_id, n_grams, n_dup_grams,
        |  CAST(n_dup_grams AS DOUBLE) / n_grams AS dup_frac,
        |  (n_dup_grams * 5 >= n_grams) AS is_dup
        |FROM per ORDER BY doc_id""".stripMargin,
    // full replay of spanRemoval: positional dual-digest grams (the
    // same one-short-gram rule), the first-occurrence census, anchor
    // extraction, the per-doc interval-union merge, and a per-WORD
    // complement reassembly (independent dataflow from the engine's
    // slice-per-gap form — the oracle filters words by island
    // coverage, so a wrong island boundary fails the hash from the
    // other side). CTEs materialized: anchors/islands are referenced
    // by both the stats and the word-coverage legs.
    "dedup_span_removal" ->
      s"""WITH toks AS MATERIALIZED (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
        |grams AS MATERIALIZED (
        |  SELECT doc_id, i AS pos, LEN(t) AS len,
        |    ${dualDigestSql("ARRAY_TO_STRING(t[i + 1 : i + 13], ' ')")}
        |      AS g
        |  FROM toks,
        |    UNNEST(RANGE(0, GREATEST(LEN(t) - 12, 1))) r(i)),
        |anchors AS MATERIALIZED (
        |  SELECT doc_id, pos AS s, LEAST(pos + 12, len - 1) AS e
        |  FROM (SELECT *, ROW_NUMBER() OVER (
        |          PARTITION BY g ORDER BY doc_id, pos) AS rn
        |        FROM grams)
        |  WHERE rn > 1),
        |marked AS MATERIALIZED (
        |  SELECT doc_id, s, e,
        |    CASE WHEN s > COALESCE(MAX(e) OVER (
        |        PARTITION BY doc_id ORDER BY s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      -2) + 1 THEN 1 ELSE 0 END AS brk
        |  FROM anchors),
        |islands AS MATERIALIZED (
        |  SELECT doc_id, MIN(s) AS s, MAX(e) AS e
        |  FROM (SELECT *, SUM(brk) OVER (
        |          PARTITION BY doc_id ORDER BY s) AS isl
        |        FROM marked)
        |  GROUP BY doc_id, isl),
        |stats AS MATERIALIZED (
        |  SELECT doc_id, COUNT(*) AS n_spans, SUM(e - s + 1) AS n_rm
        |  FROM islands GROUP BY doc_id),
        |words AS MATERIALIZED (
        |  SELECT doc_id, i - 1 AS widx, t[i] AS w
        |  FROM toks, UNNEST(RANGE(1, LEN(t) + 1)) r(i)),
        |rebuilt AS MATERIALIZED (
        |  SELECT doc_id, STRING_AGG(w, ' ' ORDER BY widx) AS text_kept
        |  FROM words w
        |  WHERE NOT EXISTS (SELECT 1 FROM islands s
        |    WHERE s.doc_id = w.doc_id AND w.widx BETWEEN s.s AND s.e)
        |  GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(LEN(STRING_SPLIT(d.text, ' ')) AS BIGINT) AS n_words,
        |  CAST(COALESCE(st.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(COALESCE(st.n_rm, 0) AS BIGINT) AS n_words_removed,
        |  r.text_kept
        |FROM documents d
        |LEFT JOIN stats st USING (doc_id)
        |LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // full replay of decontamSpans: the benchmark's distinct dual-
    // digest gram set, positional training grams (same short-doc
    // rule), set-membership anchors, the island merge, and the
    // independent per-WORD coverage reassembly (the span-removal
    // oracle discipline — a wrong boundary fails the hash from the
    // other dataflow)
    "dedup_decontam_spans" ->
      s"""WITH toks AS MATERIALIZED (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
        |  WHERE doc_id % 50 <> 0),
        |bh AS MATERIALIZED (
        |  SELECT DISTINCT
        |    ${dualDigestSql("ARRAY_TO_STRING(t[i + 1 : i + 13], ' ')")}
        |      AS g
        |  FROM (SELECT STRING_SPLIT(text, ' ') AS t FROM documents
        |        WHERE doc_id % 50 = 0) b,
        |    UNNEST(RANGE(0, GREATEST(LEN(t) - 12, 1))) r(i)),
        |grams AS MATERIALIZED (
        |  SELECT doc_id, i AS pos, LEN(t) AS len,
        |    ${dualDigestSql("ARRAY_TO_STRING(t[i + 1 : i + 13], ' ')")}
        |      AS g
        |  FROM toks,
        |    UNNEST(RANGE(0, GREATEST(LEN(t) - 12, 1))) r(i)),
        |anchors AS MATERIALIZED (
        |  SELECT doc_id, pos AS s, LEAST(pos + 12, len - 1) AS e
        |  FROM grams WHERE g IN (SELECT g FROM bh)),
        |marked AS MATERIALIZED (
        |  SELECT doc_id, s, e,
        |    CASE WHEN s > COALESCE(MAX(e) OVER (
        |        PARTITION BY doc_id ORDER BY s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      -2) + 1 THEN 1 ELSE 0 END AS brk
        |  FROM anchors),
        |islands AS MATERIALIZED (
        |  SELECT doc_id, MIN(s) AS s, MAX(e) AS e
        |  FROM (SELECT *, SUM(brk) OVER (
        |          PARTITION BY doc_id ORDER BY s) AS isl
        |        FROM marked)
        |  GROUP BY doc_id, isl),
        |stats AS MATERIALIZED (
        |  SELECT doc_id, COUNT(*) AS n_spans, SUM(e - s + 1) AS n_rm
        |  FROM islands GROUP BY doc_id),
        |words AS MATERIALIZED (
        |  SELECT doc_id, i - 1 AS widx, t[i] AS w
        |  FROM toks, UNNEST(RANGE(1, LEN(t) + 1)) r(i)),
        |rebuilt AS MATERIALIZED (
        |  SELECT doc_id, STRING_AGG(w, ' ' ORDER BY widx) AS text_kept
        |  FROM words w
        |  WHERE NOT EXISTS (SELECT 1 FROM islands s
        |    WHERE s.doc_id = w.doc_id AND w.widx BETWEEN s.s AND s.e)
        |  GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(LEN(STRING_SPLIT(d.text, ' ')) AS BIGINT) AS n_words,
        |  CAST(COALESCE(st.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(COALESCE(st.n_rm, 0) AS BIGINT) AS n_words_removed,
        |  r.text_kept
        |FROM documents d
        |LEFT JOIN stats st USING (doc_id)
        |LEFT JOIN rebuilt r USING (doc_id)
        |WHERE d.doc_id % 50 <> 0
        |ORDER BY d.doc_id""".stripMargin,
    // the whole stage replayed: chunking, the engine's own
    // poly_digest segment fingerprint (first occurrence is chosen PER
    // DIGEST, so a mod-1e9 collision keeps the same global survivor in
    // both engines), per-doc reassembly — a dropped or misordered
    // segment anywhere fails the hash
    "dedup_segments" ->
      s"""WITH toks AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
        |segs AS (
        |  SELECT doc_id, i AS seg_idx,
        |    ARRAY_TO_STRING(t[i*10+1 : i*10+10], ' ') AS seg
        |  FROM toks,
        |    UNNEST(RANGE(0, CAST(CEIL(LEN(t)/10.0) AS BIGINT))) AS r(i)),
        |kept AS (
        |  SELECT doc_id, seg_idx, seg,
        |    ROW_NUMBER() OVER (PARTITION BY
        |      ${dualDigestSql("seg")}
        |      ORDER BY doc_id, seg_idx) AS rn
        |  FROM segs),
        |rebuilt AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    STRING_AGG(seg, ' ' ORDER BY seg_idx) AS text_kept
        |  FROM kept WHERE rn = 1 GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(CEIL(LEN(STRING_SPLIT(d.text, ' '))/10.0) AS BIGINT)
        |    AS n_segs,
        |  COALESCE(r.n_kept, 0) AS n_kept, r.text_kept
        |FROM documents d LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    // the md5 digest itself is on the gate: DuckDB recomputes it from
    // the same strip→squeeze→trim→lower chain ('g' flag — DuckDB
    // replaces first match by default where Spark replaces all)
    "dedup_normalized" ->
      """SELECT
        |  MD5(LOWER(TRIM(REGEXP_REPLACE(
        |    REGEXP_REPLACE(text, '[^A-Za-z0-9 ]', '', 'g'),
        |    ' +', ' ', 'g')))) AS norm_hash,
        |  MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,
    // the oracle dedups by TEXT equality — it agrees with the Spark
    // side's 64-bit-hash store unless an actual collision occurs
    "dedup_incremental" ->
      """WITH history AS (SELECT * FROM documents WHERE doc_id % 3 <> 0),
        |batch AS (SELECT * FROM documents WHERE doc_id % 3 = 0),
        |store AS (SELECT text, MIN(doc_id) AS hist_id
        |          FROM history GROUP BY text),
        |bk AS (SELECT text, MIN(doc_id) AS batch_keep
        |       FROM batch GROUP BY text)
        |SELECT b.doc_id,
        |  (s.hist_id IS NOT NULL) AS dup_of_history,
        |  (b.doc_id <> k.batch_keep) AS dup_in_batch,
        |  (s.hist_id IS NULL AND b.doc_id = k.batch_keep) AS keep
        |FROM batch b JOIN bk k ON b.text = k.text
        |LEFT JOIN store s ON b.text = s.text
        |ORDER BY b.doc_id""".stripMargin,
    // plain text membership — checks the bloom+verify composition
    // (a bloom false negative would flip is_dup and fail the hash)
    "dedup_bloom" ->
      """WITH history AS (SELECT * FROM documents WHERE doc_id % 3 <> 0),
        |batch AS (SELECT * FROM documents WHERE doc_id % 3 = 0)
        |SELECT b.doc_id,
        |  (b.text IN (SELECT text FROM history)) AS is_dup
        |FROM batch b ORDER BY b.doc_id""".stripMargin,
    // gram positions i = 1..max(len-11, 1): for docs shorter than 13
    // words both engines emit the single truncated whole-doc gram
    // (Spark's slice and DuckDB's list slicing both clip at the end).
    // The gram key is the engine's own word_gram_digests fingerprint,
    // REPLAYED here (seeded codepoint fold — the ngram_novelty
    // convention), so a mod-1e9 collision merges the same pair in
    // both engines and the hash still matches; the LIST_FILTER drops
    // the '' char STRING_SPLIT fabricates for an empty gram
    "dedup_contain" ->
      s"""WITH toks AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    ${dualDigestSql("ARRAY_TO_STRING(t[i:i+12], ' ')")}
        |      AS g
        |  FROM toks, UNNEST(RANGE(1, GREATEST(LEN(t) - 12, 1) + 1)) AS r(i)),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0)
        |SELECT doc_id, COUNT(*) AS n_hits
        |FROM grams WHERE g IN (SELECT g FROM bench)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the fuzzy rule replayed on the engine's own word_gram_digests
    // trigram fingerprints (seeded codepoint fold — collisions merge
    // identically in both engines); int/int Jaccard divides
    // bit-identically on both engines
    "dedup_contain_near" ->
      s"""WITH toks AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    ${dualDigestSql("ARRAY_TO_STRING(t[i:i+2], ' ')")}
        |      AS g
        |  FROM toks, UNNEST(RANGE(1, GREATEST(LEN(t) - 2, 1) + 1)) AS r(i)),
        |bench AS (SELECT doc_id AS eval_id, g FROM grams
        |          WHERE doc_id % 40 = 0),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
        |bsizes AS (SELECT eval_id, COUNT(*) AS n FROM bench
        |           GROUP BY eval_id),
        |inter AS (SELECT c.doc_id, b.eval_id, COUNT(*) AS i
        |          FROM grams c JOIN bench b ON c.g = b.g GROUP BY 1, 2)
        |SELECT doc_id, eval_id,
        |  CAST(i AS DOUBLE) / (s.n + bs.n - i) AS jaccard
        |FROM inter JOIN sizes s USING (doc_id)
        |JOIN bsizes bs USING (eval_id)
        |WHERE CAST(i AS DOUBLE) / (s.n + bs.n - i) >= 0.5
        |ORDER BY doc_id, eval_id""".stripMargin,
    // The oracle brute-forces ALL-pairs Jaccard (fine for DuckDB at
    // verification scale); the Spark side emits only LSH candidates, so
    // a hash match also PROVES the banding achieved full recall at the
    // verification threshold on this corpus — recall drift (a seed or
    // banding regression) flips the row count and fails the gate.
    // int/int counts divide to bit-identical doubles on both engines.
    // the TRUE all-pairs answer over the same %3 split — a green hash
    // proves LSH recall across the history×batch boundary too
    "dedup_incremental_near" -> IncrNearOracleSql,
    // the persisted-store face serves the SAME contract from the
    // ceiling-pinned parquet store — identical truth, so a green hash
    // proves the pinned (wider) geometry also held recall and the
    // sidecar round-trip changed nothing
    "dedup_incr_near_serve" -> IncrNearOracleSql,
    "dedup_minhash" ->
      """WITH reps AS (SELECT MIN(doc_id) AS doc_id, text
        |             FROM documents GROUP BY text),
        |toks AS (SELECT doc_id, STRING_SPLIT(text,' ') AS t
        |             FROM reps),
        |grams AS (SELECT DISTINCT doc_id, ARRAY_TO_STRING(t[i:i+2],' ') AS g
        |          FROM toks, UNNEST(RANGE(1, GREATEST(LEN(t)-2,1)+1)) AS r(i)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        |          FROM grams a JOIN grams b
        |            ON a.g = b.g AND a.doc_id < b.doc_id
        |          GROUP BY 1,2)
        |SELECT doc_a, doc_b,
        |  CAST(i AS DOUBLE)/(sa.n + sb.n - i) AS jaccard
        |FROM inter JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE CAST(i AS DOUBLE)/(sa.n + sb.n - i) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    // The candidate restriction REPLAYED: true all-pairs word-trigram
    // Jaccard >= 0.8 (the dedup_minhash contract — a green hash still
    // proves LSH recall) names the pair set, then char-5-gram Jaccard
    // is computed ONLY over pair-involved docs — the same restriction
    // the engine applies, so the oracle never builds the all-pairs
    // char-gram join that spilled DuckDB at 50k docs; this key is
    // sf1-gateable again.
    "dedup_ngram_jaccard" ->
      """WITH reps AS (SELECT MIN(doc_id) AS doc_id, text
        |  FROM documents GROUP BY text),
        |toks AS (SELECT doc_id, STRING_SPLIT(text,' ') AS t FROM reps),
        |wgrams AS (SELECT DISTINCT doc_id, ARRAY_TO_STRING(t[i:i+2],' ') AS g
        |  FROM toks, UNNEST(RANGE(1, GREATEST(LEN(t)-2,1)+1)) AS r(i)),
        |wsizes AS (SELECT doc_id, COUNT(*) AS n FROM wgrams GROUP BY doc_id),
        |winter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    COUNT(*) AS i
        |  FROM wgrams a JOIN wgrams b
        |    ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1,2),
        |cands AS (SELECT doc_a, doc_b FROM winter
        |  JOIN wsizes sa ON doc_a = sa.doc_id
        |  JOIN wsizes sb ON doc_b = sb.doc_id
        |  WHERE CAST(i AS DOUBLE)/(sa.n + sb.n - i) >= 0.8),
        |cdocs AS (SELECT doc_a AS doc_id FROM cands
        |  UNION SELECT doc_b FROM cands),
        |cgrams AS (SELECT DISTINCT r.doc_id, r.text[i:i+4] AS g
        |  FROM reps r JOIN cdocs USING (doc_id),
        |    UNNEST(RANGE(1, GREATEST(LEN(r.text)-4,1)+1)) AS rr(i)),
        |csizes AS (SELECT doc_id, COUNT(*) AS n FROM cgrams GROUP BY doc_id),
        |cinter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
        |  FROM cands c
        |  JOIN cgrams a ON a.doc_id = c.doc_a
        |  JOIN cgrams b ON b.doc_id = c.doc_b AND a.g = b.g
        |  GROUP BY 1,2)
        |SELECT doc_a, doc_b,
        |  CAST(i AS DOUBLE)/(sa.n + sb.n - i) AS jaccard5
        |FROM cinter JOIN csizes sa ON doc_a = sa.doc_id
        |JOIN csizes sb ON doc_b = sb.doc_id
        |WHERE CAST(i AS DOUBLE)/(sa.n + sb.n - i) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // Connected components rebuilt relationally: the all-pairs Jaccard
    // edge set (the dedup_minhash oracle) + a recursive-CTE reachability
    // fixpoint, labeling every node with its min reachable id — the
    // oracle-side statement of min-label propagation. Checks BOTH the
    // LSH pair recall and the cluster resolution in one hash.
    "dedup_cluster" ->
      """WITH RECURSIVE
        |toks AS (SELECT doc_id, STRING_SPLIT(text,' ') AS t
        |         FROM documents),
        |grams AS (SELECT DISTINCT doc_id, ARRAY_TO_STRING(t[i:i+2],' ') AS g
        |          FROM toks, UNNEST(RANGE(1, GREATEST(LEN(t)-2,1)+1)) AS r(i)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        |          FROM grams a JOIN grams b
        |            ON a.g = b.g AND a.doc_id < b.doc_id
        |          GROUP BY 1,2),
        |pairs AS (SELECT doc_a, doc_b FROM inter
        |  JOIN sizes sa ON doc_a = sa.doc_id
        |  JOIN sizes sb ON doc_b = sb.doc_id
        |  WHERE CAST(i AS DOUBLE)/(sa.n + sb.n - i) >= 0.8),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT DISTINCT src AS node, src AS r FROM edges
        |  UNION
        |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.node)
        |SELECT node AS doc_id, MIN(r) AS keep_id FROM reach
        |GROUP BY node ORDER BY doc_id""".stripMargin,
    // the same reachability CTE, then the longest-member window —
    // the hash carries clustering AND the quality selection
    "dedup_keep_best" ->
      """WITH RECURSIVE
        |toks AS (SELECT doc_id, STRING_SPLIT(text,' ') AS t
        |         FROM documents),
        |grams AS (SELECT DISTINCT doc_id, ARRAY_TO_STRING(t[i:i+2],' ') AS g
        |          FROM toks, UNNEST(RANGE(1, GREATEST(LEN(t)-2,1)+1)) AS r(i)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        |          FROM grams a JOIN grams b
        |            ON a.g = b.g AND a.doc_id < b.doc_id
        |          GROUP BY 1,2),
        |pairs AS (SELECT doc_a, doc_b FROM inter
        |  JOIN sizes sa ON doc_a = sa.doc_id
        |  JOIN sizes sb ON doc_b = sb.doc_id
        |  WHERE CAST(i AS DOUBLE)/(sa.n + sb.n - i) >= 0.8),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT DISTINCT src AS node, src AS r FROM edges
        |  UNION
        |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.node),
        |cl AS (SELECT node AS doc_id, MIN(r) AS cluster FROM reach
        |       GROUP BY node)
        |SELECT cl.doc_id, cl.cluster, d.n_chars,
        |  ROW_NUMBER() OVER (PARTITION BY cl.cluster
        |    ORDER BY d.n_chars DESC, cl.doc_id) = 1 AS keep
        |FROM cl JOIN documents d ON cl.doc_id = d.doc_id
        |ORDER BY cl.doc_id""".stripMargin,
    // the same reachability CTE, aggregated to per-representative
    // cluster sizes with singletons self-labeled — the UniMax weight
    "corpus_dedup_weight" ->
      """WITH RECURSIVE
        |toks AS (SELECT doc_id, STRING_SPLIT(text,' ') AS t
        |         FROM documents),
        |grams AS (SELECT DISTINCT doc_id, ARRAY_TO_STRING(t[i:i+2],' ') AS g
        |          FROM toks, UNNEST(RANGE(1, GREATEST(LEN(t)-2,1)+1)) AS r(i)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        |          FROM grams a JOIN grams b
        |            ON a.g = b.g AND a.doc_id < b.doc_id
        |          GROUP BY 1,2),
        |pairs AS (SELECT doc_a, doc_b FROM inter
        |  JOIN sizes sa ON doc_a = sa.doc_id
        |  JOIN sizes sb ON doc_b = sb.doc_id
        |  WHERE CAST(i AS DOUBLE)/(sa.n + sb.n - i) >= 0.8),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT DISTINCT src AS node, src AS r FROM edges
        |  UNION
        |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.node),
        |labels AS (SELECT node AS doc_id, MIN(r) AS keep_id FROM reach
        |           GROUP BY node)
        |SELECT COALESCE(l.keep_id, d.doc_id) AS keep_id,
        |  CAST(COUNT(*) AS BIGINT) AS weight
        |FROM documents d LEFT JOIN labels l USING (doc_id)
        |GROUP BY 1 ORDER BY keep_id""".stripMargin,
    // The 60-bit poly-simhash recomputed entirely in SQL (token
    // codepoint-polynomials via list_reduce, one majority-vote CASE per
    // bit), then ALL-pairs hamming — the Spark side emits only
    // chunk-bucket candidates, so a green hash also proves the
    // pigeonhole recall is exact, LSH-oracle style.
    "dedup_simhash" -> {
      val bitTerms = (0 until 60).map { i =>
        val (h, sh) = if (i < 30) ("h1", i) else ("h2", i - 30)
        s"(CASE WHEN 2*SUM(($h >> $sh) & 1) > COUNT(*) THEN ${1L << i} ELSE 0 END)"
      }.mkString("\n      + ")
      s"""WITH tok AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t
        |  FROM documents),
        |th AS (
        |  SELECT doc_id,
        |    LIST_REDUCE(LIST_PREPEND(CAST(888888883 AS BIGINT),
        |      LIST_TRANSFORM(STRING_SPLIT(t, ''),
        |        c -> CAST(UNICODE(c) AS BIGINT))),
        |      (acc, x) -> (acc * 31 + x) % 1000000007) AS h1,
        |    LIST_REDUCE(LIST_PREPEND(CAST(777777777 AS BIGINT),
        |      LIST_TRANSFORM(STRING_SPLIT(t, ''),
        |        c -> CAST(UNICODE(c) AS BIGINT))),
        |      (acc, x) -> (acc * 37 + x) % 998244353) AS h2
        |  FROM tok),
        |sh AS (
        |  SELECT doc_id,
        |      $bitTerms
        |    AS sim
        |  FROM th GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(BIT_COUNT(XOR(a.sim, b.sim)) AS BIGINT) AS hamming
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE BIT_COUNT(XOR(a.sim, b.sim)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin
    }
  )
}
