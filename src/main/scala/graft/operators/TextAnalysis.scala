package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Text-analysis operators for LLM training-data pipelines (SURVEY §2C):
  * quality scoring, token counting, language ID, rolling-hash
  * fingerprints — all per-row projections of built-in / higher-order
  * expressions. No UDFs, no shuffle: the operators scale linearly with
  * input splits and stay inside the JVM expression engine.
  */
object TextAnalysis {

  /** Corpus handle for the registered faces. */
  private def docsOf(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Corpus handle behind a compute-parallelism floor (Tables.spread —
    * guide §2.5 input skew) for the faces whose first stage is HEAVY
    * per-row compute (the R1-R6 HOF census, the PII regex bank, the
    * winnow window scan, per-doc fingerprints): a byte-sized scan plan
    * single-tasks those on a small input, serializing >1 s of per-row
    * work on one core. Measured r17 (idle-gated medians, sf0.1):
    * gopher 2.65->0.82, pii_scrub 1.10->0.67, fingerprint 0.88->0.71,
    * winnow 1.99->1.80. NOT applied to the cheap-projection faces —
    * the same measurement showed the extra exchange + 32-task
    * scheduling REGRESSES any face whose per-row work is under ~0.5 s
    * single-task (readability 0.24->0.66, zipf 0.31->0.62, ...), so
    * the floor is a per-face decision, not a blanket one. */
  private def docsSpread(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.load(s, dir, "documents"))

  /** Whitespace word array (single-space separated corpus). */
  private def words(c: Column): Column = split(c, " ")

  /** BPE-ish token pattern: letter runs | digit runs | single
    * non-alphanumeric marks. */
  val TokenPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  /** Stopword markers per language for the n-gram-heuristic language
    * ID. Tiny fixed sets — the heuristic's job is a deterministic,
    * cheap first-pass routing signal, not NLP-grade ID. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "la", "les", "et"),
    "es" -> Seq("el", "los", "las", "y"))

  /** Quality scores: length, word count, stopword ratio, alpha ratio,
    * punctuation ratio. Ratios are int/int divisions so both engines
    * produce bit-identical doubles. */
  def quality(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      size(words(col("text"))).cast("long").as("n_words"),
      (size(filter(words(col("text")), w => w.isin("the", "a")))
        / size(words(col("text")))).as("stopword_ratio"),
      (length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
        / length(col("text"))).as("alpha_ratio"),
      (length(regexp_replace(col("text"), "[a-zA-Z0-9\\s]", ""))
        / length(col("text"))).as("punct_ratio"))
      .orderBy(col("doc_id"))

  /** Gopher-style quality ruleset (Rae et al. 2021, appendix A —
    * the standard pre-training document filter), adapted to the
    * corpus's single-spaced text and made INTEGER-EXACT: every ratio
    * threshold is a cross-multiplied integer comparison (5·n_alpha ≥
    * 4·n_words instead of n_alpha/n_words ≥ 0.8), so verdicts are
    * bit-identical on any engine — no float boundary can flip a keep
    * decision between the engine and the oracle. Six rules:
    * word-count bounds, mean-word-length bounds, alphabetic-word
    * floor, stopword-evidence floor, single-word dominance cap
    * (repetition spam), and duplicate-bigram cap (template spam).
    * Output per doc: counts, per-rule booleans, a FAILED-rule bitmask
    * and the overall verdict — the bitmask is what a curation
    * dashboard aggregates into per-rule attrition.
    *
    * Scale shape: one projection pass, every signal computed per-row
    * from the words array (docs ≤ a few thousand words keep the
    * per-row HOFs linear-ish; the dominance scan is O(n·distinct) on
    * a bounded row, never a shuffle). No exchange except the output
    * sort; filters this feeds stay map-side. */
  def gopherRules(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    docs
      .select(col("doc_id"), col("text"), w.as("w"),
        size(w).cast("long").as("n_words"),
        length(regexp_replace(col("text"), " ", "")).cast("long")
          .as("sum_wlen"))
      .select(col("doc_id"), col("n_words"), col("sum_wlen"),
        // R1: 20 <= n_words <= 80
        (col("n_words") >= 20L && col("n_words") <= 80L).as("r_wordcount"),
        // R2: 3 <= mean word length <= 10, cross-multiplied
        (col("sum_wlen") >= lit(3L) * col("n_words") &&
          col("sum_wlen") <= lit(10L) * col("n_words")).as("r_meanlen"),
        // R3: >= 80% of words contain an alphabetic character
        (lit(5L) * size(filter(col("w"),
            x => x.rlike("[a-zA-Z]"))).cast("long")
          >= lit(4L) * col("n_words")).as("r_alpha"),
        // R4: >= 2 stopword-marker occurrences
        (size(filter(col("w"), x => x.isin("a", "the", "of", "and")))
          .cast("long") >= 2L).as("r_stop"),
        // R5: most frequent word <= 20% of all words
        (lit(5L) * expr(
            """array_max(transform(array_distinct(w),
              |  d -> size(filter(w, x -> x = d))))""".stripMargin)
            .cast("long") <= col("n_words")).as("r_domword"),
        // R6: duplicate bigram fraction <= 30%: 10·(nb − nd) <= 3·nb
        // zip of w[0..n-2] with w[1..n-1]: empty (not an error) on a
        // single-word doc, unlike a sequence(0, n-2) index walk
        expr("""zip_with(slice(w, 1, cast(size(w) as int) - 1),
               |         slice(w, 2, cast(size(w) as int) - 1),
               |         (a, b) -> concat(a, ' ', b))""".stripMargin)
          .as("bigrams"))
      .select(col("doc_id"), col("n_words"), col("sum_wlen"),
        col("r_wordcount"), col("r_meanlen"), col("r_alpha"),
        col("r_stop"), col("r_domword"),
        (lit(10L) * (size(col("bigrams")).cast("long") -
            size(array_distinct(col("bigrams"))).cast("long"))
          <= lit(3L) * size(col("bigrams")).cast("long")).as("r_dupbigram"))
      .select(col("doc_id"), col("n_words"), col("sum_wlen"),
        col("r_wordcount"), col("r_meanlen"), col("r_alpha"),
        col("r_stop"), col("r_domword"), col("r_dupbigram"),
        (when(col("r_wordcount"), 0L).otherwise(1L) +
          when(col("r_meanlen"), 0L).otherwise(2L) +
          when(col("r_alpha"), 0L).otherwise(4L) +
          when(col("r_stop"), 0L).otherwise(8L) +
          when(col("r_domword"), 0L).otherwise(16L) +
          when(col("r_dupbigram"), 0L).otherwise(32L)).as("reasons"))
      .withColumn("pass", col("reasons") === 0L)
      // checkpoint before the presentation sort (the text_code_detect /
      // mm_image_hist sort-sampling trap, BASELINE.md round-16 rule): a
      // global orderBy range-partitions by SAMPLING its child, and the
      // reservoir sampler consumes full partition iterators — without
      // this the R1-R6 HOF census (the dominance scan especially) ran
      // TWICE per execution; the checkpoint bounds the sampling pass to
      // the ~60 B signal rows
      .localCheckpoint(true)
      .orderBy(col("doc_id"))
  }

  /** Zipf rank-frequency fit over the corpus vocabulary — the classic
    * "does this corpus look like natural language" health signal
    * (natural text slopes ≈ −1; template spam and gibberish bend the
    * curve): least-squares slope/intercept of ln(freq) on ln(rank)
    * over the top-N word types. One corpus-wide word count
    * (map-side-combined), a TakeOrderedAndProject top-N cut (never a
    * global sort — vocabulary is NOT dimension-bounded at web scale),
    * then the regression over the N-row remnant; the only unbounded
    * exchange is the word-keyed count. Slope/intercept round to 6
    * decimals (sums of ~N ln-terms: cross-engine libm ulps and
    * summation-order noise sit at ~1e-13, measure-zero for the
    * rounding — the entropy/readability precedent). */
  def zipfFit(docs: DataFrame, topN: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs.select(explode(words(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val totals = counts.agg(count(lit(1)).as("n_types"),
      sum(col("c")).as("n_tokens"))
    // the window runs over the ALREADY-CUT topN rows (bounded), so the
    // empty partitionBy is a constant-size sort, not a corpus funnel
    val wnd = Window.orderBy(col("c").desc, col("w"))
    val ranked = counts.orderBy(col("c").desc, col("w")).limit(topN)
      .withColumn("r", row_number().over(wnd).cast("double"))
      .select(log(col("r")).as("x"), log(col("c").cast("double")).as("y"))
    val fit = ranked.agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6)
          .as("slope_r"),
        round((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) /
          col("n"), 6).as("intercept_r"))
    totals.crossJoin(fit)
      .select(col("n_types"), col("n_tokens"), col("slope_r"),
        col("intercept_r"))
  }

  /** Deterministic messy-URL corpus (the imageTable pattern: the
    * fixture carries no URL column, so one is SYNTHESIZED with real
    * mess — scheme variants, host case, www, explicit default port,
    * tracking params, fragments, trailing slash — six variants per
    * logical URL so the canonicalizer has real work). */
  def urlTable(docs: DataFrame): DataFrame = {
    val g = expr("doc_id div 6")
    docs.select(col("doc_id"),
      when(col("doc_id") % 6 === 0,
          concat(lit("http://example"), g, lit(".com/p/"), g))
        .when(col("doc_id") % 6 === 1,
          concat(lit("https://EXAMPLE"), g, lit(".COM/p/"), g))
        .when(col("doc_id") % 6 === 2,
          concat(lit("https://www.example"), g, lit(".com/p/"), g))
        .when(col("doc_id") % 6 === 3,
          concat(lit("http://example"), g, lit(".com:80/p/"), g))
        .when(col("doc_id") % 6 === 4,
          concat(lit("https://example"), g, lit(".com/p/"), g,
            lit("?utm_source=x&utm_campaign=y")))
        .otherwise(
          concat(lit("https://example"), g, lit(".com/p/"), g,
            lit("/?utm_a=2&utm_b=1#frag")))
        .as("url"))
  }

  /** URL canonicalization + dedup — the FIRST pass of every web-corpus
    * pipeline (the same page arrives under scheme/case/www/port/
    * tracking-param/fragment variants; near-dup text passes should
    * never have to pay for what the URL already proves): strip scheme,
    * lowercase the host (path case is preserved — it is significant),
    * drop www., explicit default ports, fragments, utm_* tracking
    * params and trailing slashes, then keep the minimum doc_id per
    * canonical URL. All regexp_replace passes run inside the scan
    * stage; the only exchange is the canonical-key min-groupBy —
    * exactly the dedup_exact shape.
    *
    * Replacement strings avoid backreferences deliberately: Spark
    * spells them `$1`, DuckDB `\1` — a portability seam the oracle
    * contract must not depend on. */
  def urlCanonDedup(docs: DataFrame): DataFrame = {
    val noScheme = regexp_replace(col("url"), "^https?://", "")
    val noWww = regexp_replace(noScheme, "^www\\.", "")
    val hostLower = concat(
      lower(regexp_extract(noWww, "^[^/]+", 0)),
      regexp_replace(noWww, "^[^/]+", ""))
    val noPort = regexp_replace(hostLower, ":80/", "/")
    val noFrag = regexp_replace(noPort, "#.*$", "")
    val noUtm = regexp_replace(noFrag, "[?&]utm_[^&#]*", "")
    val canon = regexp_replace(noUtm, "/$", "")
    val withCanon = urlTable(docs)
      .select(col("doc_id"), col("url"), canon.as("canon_url"))
    val keeper = withCanon.groupBy(col("canon_url"))
      .agg(min(col("doc_id")).as("keep_id"))
    withCanon.join(keeper, Seq("canon_url"))
      .select(col("doc_id"), col("url"), col("canon_url"),
        (col("doc_id") === col("keep_id")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /** Token counts: whitespace tokens and BPE-ish regex tokens. */
  def tokens(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(words(col("text"))).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit(TokenPattern), lit(0)))
        .cast("long").as("n_re_tokens"))
      .orderBy(col("doc_id"))

  /** Shannon entropy quality signals: character entropy, word entropy
    * (nats), and bits-per-char — low char entropy flags boilerplate /
    * repeated-character junk, low word entropy flags template spam;
    * both are standard corpus-filter features. One O(len) primitive
    * counting pass per row (native entropy_nats expression), no
    * shuffle: scales linearly with input splits. Outputs round to 6
    * decimals so the oracle's libm ln() (vs the JVM intrinsic,
    * ±1 ulp) and its summation order cannot surface. Empty text →
    * all-zero entropies by definition; NULL text propagates NULL on
    * both engines. */
  def entropy(docs: DataFrame): DataFrame =
    // the native entropy_nats expression (graft.functions
    // .SymbolEntropy) counts symbols in ONE primitive-loop pass per
    // row — H = ln n − (Σ c·ln c)/n. Chars = the string's code points
    // directly (no split/sort columns at all); words = the usual
    // whitespace array. The declarative formulations measured 26 s
    // (distinct-filter fold), 4.9 s (struct-state fold) and 2.4 s
    // (sorted run-length fold) at sf0.1; the primitive pass is ~0.4 s
    // — the same "native Expression beats interpreted HOFs" call the
    // minhash signature already made.
    docs
      .select(col("doc_id"),
        call_function("entropy_nats", col("text")).as("hc"),
        call_function("entropy_nats", words(col("text"))).as("hw"))
      .select(col("doc_id"),
        round(col("hc"), 6).as("char_entropy"),
        round(col("hw"), 6).as("word_entropy"),
        round(col("hc") / log(lit(2.0)), 6).as("bits_per_char"))
      .orderBy(col("doc_id"))

  /** Flesch reading-ease readability over whitespace words, [.!?]+
    * sentence runs and vowel-group syllables — the classic
    * grade-level quality signal corpus filters bucket on (alongside
    * entropy and the stopword ratios). All three inputs are EXACT
    * integer counts carried in the output; the score is one
    * deterministic double expression over them (same literals on both
    * engines, ROUND 6). Counting trick: collapse each target run to a
    * sentinel char that cannot appear in lowercased text ('V'/'S'),
    * strip everything else, take the length — three regex passes per
    * row, map-only, no shuffle; at 100 TB this is a pure scan stage
    * like text_quality. Sentence count floors at 1 (fragment
    * convention) so the score is total on punctuation-free docs. */
  def readability(docs: DataFrame): DataFrame =
    // ONE native code-point pass per row (readability_counts over the
    // engine-lowered text) — the three-regexp_replace formulation
    // measured LINEAR with a large constant (6.3 s at sf1, ~10× at
    // 10× data); the fused pass is the entropy_nats fix applied here.
    // Counts are defined exactly as the regex collapse: words =
    // 1 + spaces (split(" ") semantics, trailing empties included),
    // sentences/syllables = character-class RUNS.
    docs
      .select(col("doc_id"),
        call_function("readability_counts", lower(col("text"))).as("rc"))
      .select(col("doc_id"),
        col("rc.n_words").as("n_words"),
        greatest(lit(1L), col("rc.n_sent_runs")).as("n_sentences"),
        col("rc.n_syllables").as("n_syllables"))
      .withColumn("flesch",
        round(lit(206.835)
          - lit(1.015) * col("n_words").cast("double") / col("n_sentences")
          - lit(84.6) * col("n_syllables").cast("double") / col("n_words"),
          6))
      .orderBy(col("doc_id"))

  /** Token-window chunking defaults: 64-token windows advancing 48
    * tokens (16-token overlap) — the document→training-sequence step
    * every LLM data pipeline runs between cleaning and packing. */
  val ChunkWidth = 64
  val ChunkStride = 48

  /** Fixed-size token chunking with stride: chunk i covers tokens
    * [i·stride, i·stride + width); the last start is the first that
    * reaches the tail, so n_chunks = 1 + max(0, ⌈(n − width)/stride⌉)
    * and the tail is emitted exactly once (no degenerate chunks fully
    * inside their predecessor). Integer arithmetic only — both engines
    * compute the identical chunk count, so the full reassembled chunk
    * TEXT rides the oracle hash.
    *
    * Pure per-row projection (split → sequence → transform-slice →
    * posexplode), no shuffle: a 100 TB corpus chunks linearly in its
    * input splits, and downstream packing (sample_pack) consumes the
    * (doc_id, chunk_idx) keyed output without re-tokenizing. */
  def chunk(docs: DataFrame, width: Int = ChunkWidth,
      stride: Int = ChunkStride): DataFrame = {
    require(width > 0 && stride > 0 && stride <= width,
      s"need 0 < stride <= width, got width=$width stride=$stride")
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), words(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        // integer ceil((n - width)/stride), clipped at 0: `div`
        // truncation vs floor can only differ on negatives, which the
        // greatest() clips identically on both engines
        expr(s"1 + greatest(0L, (size(toks) - $width + ${stride - 1}) " +
          s"div $stride)").as("n_chunks"))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0), (col("n_chunks") - 1).cast("int"))))
      .select(col("doc_id"), col("col").cast("long").as("chunk_idx"),
        least(lit(width), size(col("toks")) - col("col") * stride)
          .cast("long").as("n_tokens"),
        array_join(slice(col("toks"), col("col") * stride + 1, lit(width)), " ")
          .as("chunk"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Language ID: score = marker-stopword hits per language; predict
    * the argmax, 'und' when no marker hits. Ties break in LangMarkers
    * order (en first) — deterministic. */
  def langId(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    val scores = LangMarkers.map { case (lang, markers) =>
      lang -> size(filter(w, x => x.isin(markers.map(lit): _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // when-chain in LangMarkers order → earlier languages win ties
    val predFirstWins = scores.reverse.foldLeft(lit("und"): Column) {
      case (acc, (lang, s)) => when(s === best && best > 0, lang).otherwise(acc)
    }
    docs.select(
      col("doc_id"),
      predFirstWins.as("lang_pred"),
      best.cast("long").as("score"),
      col("lang").as("lang_label"))
      .orderBy(col("doc_id"))
  }

  /** Winnowed document fingerprint, oracle-gated (q18/q21 contract
    * shape): hash every k-char gram, take the min hash per sliding
    * window of w grams, keep the distinct sorted set — robust to small
    * local edits, deterministic and order-independent. The gate puts
    * the STRUCTURAL guarantees of winnowing in-plan — the set is
    * sorted, duplicate-free, non-empty, bounded by the k-gram count,
    * and its head equals its min — alongside the oracle-computable
    * n_chars. A winnowing regression (lost sort, dup entries,
    * empty/overfull set) flips fp_ok and fails the hash. The native
    * [[graft.functions.PolyFingerprint]] grams over code points, which
    * is what `length` counts, so the size bound holds on any text. */
  def fingerprintGate(docs: DataFrame, k: Int = 8, w: Int = 4): DataFrame =
    docs.select(col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      call_function("poly_fingerprint", col("text"), lit(k), lit(w))
        .as("fp"))
      .select(col("doc_id"), col("n_chars"),
        ((col("fp") === array_sort(col("fp"))) &&
          (size(col("fp")) === size(array_distinct(col("fp")))) &&
          size(col("fp")).between(
            lit(1), greatest(col("n_chars") - (k - 1), lit(1))) &&
          (array_min(col("fp")) === element_at(col("fp"), 1))).as("fp_ok"))
      .orderBy(col("doc_id"))

  /** Fingerprint-overlap containment pairs (the winnowing/MOSS shape):
    * documents sharing >= minShared winnowed fingerprints. Catches
    * PARTIAL overlap — a long span copied into an otherwise different
    * document — which whole-document MinHash similarity misses (the
    * copied span barely moves full-doc Jaccard). The decontamination
    * sibling for intra-corpus quotation/boilerplate reuse.
    *
    * Same bucket-group shape as the LSH ops: explode fingerprints,
    * group by value, pair within posting lists, count shared prints
    * per pair. `maxPosting` drops stop-fingerprints (spans shared by a
    * large corpus fraction — their pairs are boilerplate noise and
    * their posting lists the only unbounded fan-out); treat it as a
    * document-frequency cutoff and keep it SMALL relative to the
    * corpus. Defaults are calibrated so common-vocabulary collisions
    * don't degenerate to all-pairs: 16-char grams (8-char grams of
    * ordinary prose collide corpus-wide — observed 91k pairs over 500
    * synthetic docs before this was raised), winnow window 8, posting
    * cap 16, and >=5 independent shared prints as evidence.
    *
    * Fingerprints come from the replayable codepoint-polynomial
    * [[graft.functions.PolyFingerprint]] (B=31 mod 1000000007, seed 0
    * — pure BIGINT math DuckDB recomputes verbatim from the character
    * list), so the FULL pipeline — k-gram hashes, window-min
    * winnowing, posting-list cutoff, pair generation, shared-print
    * counts — is hash-gated against SQL, the dedup_simhash pattern.
    * Corpus precondition (holds for the generated documents table,
    * checked in TextEtlSpec): ASCII, non-empty, single-spaced text —
    * DuckDB's per-character split + UNICODE() then reproduces the JVM
    * codePointAt fold exactly. */
  def winnowOverlapPairsPoly(docs: DataFrame, minShared: Int = 5,
      k: Int = 16, w: Int = 8, maxPosting: Int = 16): DataFrame =
    docs
      .select(col("doc_id"),
        call_function("poly_fingerprint", col("text"), lit(k), lit(w))
          .as("fp"))
      .select(col("doc_id"), explode(col("fp")).as("f"))
      .groupBy(col("f"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")).between(2, maxPosting))
      .select(array_sort(col("ids")).as("ids"))
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ids) - 2),
          |  i -> transform(sequence(i + 1, size(ids) - 1),
          |    j -> struct(ids[i] AS doc_a, ids[j] AS doc_b))))""".stripMargin))
        .as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Word-repetition metrics (the Gopher-style repetition filter): how
    * much of a document is the same word over and over. Heavily
    * repetitive documents (boilerplate, keyword stuffing, degenerate
    * scrapes) poison training corpora, and the filter signal is
    * `top_word_frac` / `dup_word_frac` thresholds.
    *
    * Scale shape: the naive plan (explode words → groupBy (doc, word))
    * shuffles the ENTIRE tokenized corpus — at 100 TB that's the
    * biggest shuffle in the pipeline for a metric that is purely
    * per-document. Instead the whole computation is a per-row
    * projection: sort the word array once, then the longest equal-run
    * over the sorted array IS the top word count — a single
    * `aggregate` fold, no shuffle anywhere. Arrays materialize as
    * columns before the fold (HOF arguments re-evaluate per element —
    * see Dedup.banded). Fractions are long/long divisions → doubles
    * bit-identical with the oracle's unnest+groupBy formulation. */
  def repetition(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .withColumn("ws", array_sort(col("w")))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        size(array_distinct(col("w"))).cast("long").as("n_distinct"),
        expr(
          """aggregate(ws,
            |  named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),
            |  (a, x) -> named_struct(
            |    'prev', x,
            |    'run',  IF(a.prev <=> x, a.run + 1L, 1L),
            |    'best', GREATEST(a.best, IF(a.prev <=> x, a.run + 1L, 1L))),
            |  a -> a.best)""".stripMargin).as("top_cnt"))
      .select(col("doc_id"), col("n_words"), col("n_distinct"), col("top_cnt"),
        (col("top_cnt").cast("double") / col("n_words")).as("top_word_frac"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_words"))
          .as("dup_word_frac"))
      .orderBy(col("doc_id"))

  /** PII patterns: kept to syntax that Java regex (Spark) and RE2
    * (DuckDB oracle) interpret identically — character classes, bounded
    * repetition, no backrefs/lookaround. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]+"

  /** PII scrubbing: replace every email/phone match with a typed
    * redaction token, and report per-document match counts (the audit
    * signal a scrubbing pass must emit). Pure codegen'd per-row
    * projection — no UDF, no shuffle.
    *
    * Patterns apply in order on the accumulated result, so a later
    * pattern never re-matches an earlier pattern's replacement token. */
  def piiScrub(docs: DataFrame,
      patterns: Seq[(String, String)] = Seq(
        EmailPattern -> "<EMAIL>", PhonePattern -> "<PHONE>")): DataFrame = {
    val scrubbed = patterns.foldLeft(col("text")) {
      case (acc, (p, token)) => regexp_replace(acc, p, token)
    }
    val counts = patterns.map { case (p, token) =>
      val name = "n_" + token.replaceAll("[<>]", "").toLowerCase + "s"
      size(regexp_extract_all(col("text"), lit(p), lit(0)))
        .cast("long").as(name)
    }
    docs.select(col("doc_id") +: scrubbed.as("scrubbed") +: counts: _*)
      .orderBy(col("doc_id"))
  }

  /** Corpus-wide top-k word n-grams: explode each document's n-grams,
    * count by n-gram, keep the k most frequent. The heavy path is ONE
    * shuffle keyed by n-gram with map-side partial aggregation (the
    * explode never leaves its input partition), and the top-k compiles
    * to TakeOrderedAndProject — no global sort materialization. The
    * token array is materialized as a column BEFORE the n-gram
    * transform (HOF arguments re-evaluate per element otherwise). */
  def ngramStats(docs: DataFrame, n: Int = 2, topK: Int = 100): DataFrame =
    docs.select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(explode(transform(sequence(lit(1), size(col("w")) - (n - 1)),
        i => concat_ws(" ", slice(col("w"), i, lit(n))))).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("ngram"))
      .limit(topK)

  /** Deterministic PII-bearing corpus for the correctness gate: the
    * synthetic documents carry no PII, so the query face appends an
    * email and a phone derived from doc_id — the regexes are exercised
    * on every row and the oracle reproduces the same construction. */
  private def withSyntheticPii(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(col("text"),
      lit(" contact user"), col("doc_id"),
      lit("@example.com or +1-555-"), col("doc_id")))

  /** PMI-ranked bigram collocations over the corpus — the classic
    * corpus-statistics pass (Church & Hanks 1990) a training-data
    * pipeline runs to find multi-word units, template phrases, and
    * tokenizer-merge candidates: score(w1 w2) = ln P(w1w2) −
    * ln P(w1) − ln P(w2) with bigram/unigram probabilities from
    * corpus counts, min-count-filtered and top-k ranked.
    *
    * Scale shape: both count tables build via map-side-combined
    * groupBys (the bigram table is vocab²-bounded and min-count
    * pruning shrinks it further BEFORE any join); the unigram table is
    * VOCABULARY-sized and broadcasts into the scored join, so nothing
    * corpus-sized ever shuffles twice. Ranking runs on the ROUNDED
    * score with (w1, w2) tie-breaks — top-k is a
    * TakeOrderedAndProject, no global sort. The additive constant
    * 2·ln N − ln B is grouped identically in the oracle so both
    * engines follow the same double-rounding path into the 4-decimal
    * round. */
  def collocations(docs: DataFrame, minCount: Long = 5,
      k: Int = 50): DataFrame = {
    // tokenize ONCE: the regex token pass dominated this key at sf1
    // (the previous shape re-evaluated words() for the unigram counts,
    // the bigram counts, AND two whole-corpus count() actions — four
    // tokenize passes); the narrow (toks) frame checkpoints and every
    // consumer reads the materialized arrays
    val t = docs.select(words(col("text")).as("toks")).localCheckpoint(true)
    val uni = t.select(explode(col("toks")).as("w"))
    val uniCounts = uni.groupBy(col("w")).agg(count(lit(1)).as("c_w"))
    val bi = t.filter(size(col("toks")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    // both corpus scalars in ONE length-projection aggregate — no
    // explode, no extra pass: Σ len tokens, Σ max(len−1, 0) bigrams
    val stats = t.agg(
      sum(size(col("toks")).cast("long")).as("nt"),
      sum(greatest(size(col("toks")) - 1, lit(0)).cast("long")).as("nb"))
      .head()
    val nTokens = stats.getLong(0)
    val nBigrams = stats.getLong(1)
    val const = 2 * math.log(nTokens.toDouble) - math.log(nBigrams.toDouble)
    bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
      .join(broadcast(uniCounts.select(col("w").as("w1"),
        col("c_w").as("c_x"))), "w1")
      .join(broadcast(uniCounts.select(col("w").as("w2"),
        col("c_w").as("c_y"))), "w2")
      .withColumn("pmi_r", round(
        log(col("c_xy").cast("double")) - log(col("c_x").cast("double"))
          - log(col("c_y").cast("double")) + lit(const), 4))
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        col("pmi_r"))
      .orderBy(col("pmi_r").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** BPE merge-candidate counting — the inner statistic of byte-pair-
    * encoding tokenizer training (Sennrich et al. 2016): for every
    * adjacent symbol pair inside a word, its corpus frequency =
    * Σ_words wc(word) · occurrences-in-word; the top pair is the next
    * merge. This operator emits one training iteration's candidate
    * table (the full trainer loops it, re-segmenting after each
    * merge); running it over a 100 TB corpus is how production
    * tokenizers pick their first merges.
    *
    * Scale shape: the corpus collapses to the VOCABULARY first (one
    * map-side-combined groupBy over exploded words) — pair explosion
    * then runs over vocab rows × word length, not corpus tokens, which
    * at web scale is orders of magnitude smaller than the token
    * stream. Pair counts aggregate map-side; the final top-k is a
    * TakeOrderedAndProject on exact BIGINTs (no float anywhere). */
  def bpeMergeCandidates(docs: DataFrame, k: Int = 50): DataFrame = {
    val vocab = docs.select(explode(words(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
    vocab
      .select(col("wc"), explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => struct(col("w").substr(i, lit(1)).as("lhs"),
          col("w").substr(i + lit(1), lit(1)).as("rhs")))).as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum(col("wc")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("lhs"), col("rhs"))
      .limit(k)
  }

  /** Corpus-unigram log-probability score per document — the
    * CCNet/Gopher-style "unusual word distribution" quality signal: a
    * document whose words are globally rare (gibberish, code dumps,
    * wrong-language text) scores far below the corpus norm, and the
    * filter thresholds on that score. score(d) = mean_w ln P(w) with
    * P(w) the corpus unigram frequency.
    *
    * Scale shape: one map-side-combined groupBy builds the unigram
    * table — VOCABULARY-sized, not corpus-sized — which then
    * BROADCASTS into the per-token lookup join, so the token stream
    * never shuffles (at web scale, cap the table to the top-K words
    * and give out-of-vocabulary tokens a floor count — the shape is
    * identical). Cross-engine exactness uses the fixed-point trick
    * from labelCentroids: per-token ln(count) quantizes to
    * floor(·1e6) BIGINTs whose sum is order-independent; the single
    * trailing − ln N is engine-libm-identical to well under the
    * 6-decimal rounding. */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(words(col("text"))).as("w"))
    val counts = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val total = toks.count()
    toks.join(broadcast(counts), "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(floor(log(col("cnt").cast("double")) * 1e6)
            .cast("long")).cast("double")
          / (count(lit(1)) * 1e6) - lit(math.log(total.toDouble)), 6)
          .as("mean_logp"))
      .orderBy(col("doc_id"))
  }

  /** Add-V-smoothed BIGRAM language-model scoring — one Markov order
    * above [[unigramLogProb]], the next-cheapest fluency signal a
    * curation pass reaches for when unigram frequency stops separating
    * shuffled-word spam from prose: score(d) = mean over positions t≥2
    * of ln P(w_t | w_{t−1}), P = (c(w_{t−1}w_t)+1)/(c(w_{t−1})+V)
    * (Laplace smoothing over vocab size V). Each term is
    * ⌊ln(c_b+1)·1e6⌋ − ⌊ln(c_u+V)·1e6⌋ — lns of EXACT integers, so
    * both engines floor the same doubles and the per-doc sum is an
    * order-independent BIGINT (the unigram face's contract, one order
    * up).
    *
    * Scale shape: bigram extraction is a per-row adjacent-pair
    * projection (no self-join); the bigram count table is the one
    * corpus-keyed aggregate, joined back token-keyed (broadcast here,
    * key-shuffled at web scale where bigram vocab outgrows RAM —
    * documented seam, same as unigramLogProb's lookup); V is one
    * scalar aggregate of bounded driver state. Docs with < 2 tokens
    * have no bigrams and drop out by definition. */
  def bigramLogProb(docs: DataFrame): DataFrame = {
    val toks = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), words(col("text")).as("t"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val vocab = uni.count()
    val bg = toks.filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(2, size(t)), " +
          "i -> struct(element_at(t, i - 1) AS w1, " +
          "element_at(t, i) AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bc = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    bg.join(broadcast(bc), Seq("w1", "w2"))
      .join(broadcast(uni.withColumnRenamed("w", "w1")), Seq("w1"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(
            floor(log((col("cb") + 1).cast("double")) * 1e6).cast("long")
              - floor(log((col("cu") + vocab).cast("double")) * 1e6)
                .cast("long")).cast("double")
          / (count(lit(1)) * 1e6), 6).as("mean_logp"))
      .orderBy(col("doc_id"))
  }

  /** CCNet-style perplexity bucketing: documents split per language
    * into head / middle / tail terciles of the corpus-unigram
    * log-probability score ([[unigramLogProb]] standing in for the
    * KenLM perplexity of the published pipeline — same signal shape:
    * high score = "looks like the corpus norm"). Downstream pipelines
    * keep head+middle, or sample tail at a reduced rate — bucketing is
    * the standard first-pass quality partition for web-scale corpora.
    *
    * Determinism: buckets come from ntile(3) over the ROUNDED
    * (6-decimal) score with doc_id tie-break, so the total order — and
    * therefore every bucket boundary — is identical in any engine that
    * reproduces the rounded score (which the text_unigram_logprob gate
    * already proves). Scale shape: the scoring stage is
    * unigramLogProb's broadcast-lookup plan (token stream never
    * shuffles); bucketing adds one lang-keyed window. The per-language
    * partition is the documented seam: a single language's documents
    * sort on one partition, so at web scale swap ntile for broadcast
    * approx-quantile cutoffs (the q18 machinery) with identical output
    * shape — the tercile RULE stays the contract either way. */
  def pplBucket(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byLang = Window.partitionBy(col("lang"))
      .orderBy(col("mean_logp").desc, col("doc_id"))
    unigramLogProb(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("t", ntile(3).over(byLang))
      .select(col("doc_id"), col("lang"), col("mean_logp"),
        when(col("t") === 1, "head").when(col("t") === 2, "middle")
          .otherwise("tail").as("ppl_bucket"))
      .orderBy(col("doc_id"))
  }

  /** BM25 ranked retrieval over the corpus — the token-side serving
    * complement to the embedding kNN family (benchmark-similar doc
    * lookup, decontamination triage, eval-set retrieval):
    * score(q,d) = Σ_{w∈q} idf(w) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    * with idf(w) = ln((N−df+0.5)/(df+0.5)+1) — the always-positive
    * Robertson/Lucene form — at the standard k1=1.2, b=0.75. The query
    * set derives deterministically from the corpus (every `every`-th
    * document's first `qTerms` distinct words), so the WHOLE stage —
    * postings, document stats, idf, scoring, per-query top-k — replays
    * in SQL and the gate hash-checks it end to end.
    *
    * Scale shape: ONE corpus tokenize feeds the (doc,term) tf postings
    * (map-side-combined groupBy); per-doc lengths reduce FROM the
    * postings (postings-sized, not token-sized); corpus totals are a
    * 2-value scalar aggregate (bounded driver state — the
    * bucketByBoundaries pattern). The query-term table BROADCASTS into
    * a probe that prunes postings to query terms BEFORE df counting
    * and scoring — everything downstream of the prune is
    * query-hit-sized, the corpus never shuffles again, and the
    * per-query top-k compiles to WindowGroupLimit. Cross-engine
    * exactness: fractional constants enter BOTH engines as the same
    * literals forced to DOUBLE (DuckDB would otherwise compute
    * DECIMAL-exact intermediates where Spark rounds in binary),
    * per-term scores quantize to floor(·1e6) BIGINTs — the
    * labelCentroids fixed-point trick — so sums are order-independent,
    * and ranks compute on the exact integer sum with doc_id
    * tie-break. */
  def bm25TopK(docs: DataFrame, every: Long = 100, qTerms: Int = 8,
      k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // compute-parallelism floor (r17 Tables.spread discipline): every
    // pass below tokenizes the corpus, and a one-split documents scan
    // serializes that per-row work on one core — no-op once the input
    // splits wide (any at-scale table)
    val d = Tables.spread(docs)
    // doc lengths come straight off the scan (size of the word array —
    // identical to summing per-term tf), so corpus stats are a
    // shuffle-free scalar aggregate
    // checkpointed: consumed twice (the corpus-stats scalar below and
    // the scoring join), and each lazy evaluation re-ran the full
    // tokenize off the scan (r17; 16 B/doc materialized); the stats
    // scalar rides the checkpoint job itself (r18 Probes fusion — one
    // job, not checkpoint + aggregate)
    val (dl, stats) = graft.plans.Probes.checkpointObserved(
      d.select(col("doc_id"),
        size(words(col("text"))).cast("long").as("dl")),
      count(lit(1)).as("n"), sum(col("dl")).as("tot"))
    val n = stats.getLong(0)
    if (n == 0) // empty corpus: empty result, usual schema
      return docs.sparkSession.emptyDataFrame.select(
        lit(null).cast("long").as("query_id"),
        lit(null).cast("long").as("rk"),
        lit(null).cast("long").as("doc_id"),
        lit(null).cast("double").as("score"))
    val avgdl = stats.getLong(1).toDouble / n
    val qw = docs.filter(col("doc_id") % every === 0)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(slice(words(col("text")), 1, qTerms))).as("w"))
    // prune the token stream to query terms BEFORE any shuffle: the
    // broadcast semi-join evaluates map-side, so the (doc, term)
    // aggregation only ever shuffles query-term hits — the corpus
    // token stream itself never crosses the wire.
    // checkpointed (r18): tf feeds BOTH the probe join and the df
    // table, and each lazy evaluation re-ran the full corpus tokenize
    // + semi-join off the scan (profiled: two ~0.3-0.6 s passes per
    // execution); the materialized frame is query-hit-sized
    val tf = d
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .join(broadcast(qw.select(col("w")).distinct()), Seq("w"), "left_semi")
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val probe = tf.join(broadcast(qw), "w")
    // df per query term over ALL docs holding it: tf is already one
    // row per (doc, term), so a per-term count IS the document
    // frequency, shared across queries holding the term
    val dfq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    probe
      .join(broadcast(dfq), "w")
      .join(dl, "doc_id")
      .withColumn("s", floor(
        log((lit(n.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5))
            + lit(1.0))
          * (col("tf") * lit(2.2))
          / (col("tf")
            + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / lit(avgdl)))
          * lit(1e6)).cast("long"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("s")).as("isum"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("isum").desc, col("doc_id"))).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("doc_id"),
        round(col("isum").cast("double") / lit(1e6), 6).as("score"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Per-document top-k TF-IDF keywords — the doc-tagging / index-
    * vocabulary face of the tf-idf family (text_bm25 is the QUERY-side
    * ranking face; this one has no query set and scores every doc's
    * own terms). Scale shape: the token stream shuffles ONCE keyed by
    * (doc, word) for tf; document frequency reduces tf (already one
    * row per doc×word, so COUNT is df) map-side-combined by word to a
    * vocabulary-sized table that joins back by word — broadcastable
    * in practice, a word-keyed shuffle join at extreme vocabularies;
    * the top-k is a doc-keyed WindowGroupLimit, never a global sort.
    * Scores are exact integers — tf · ⌊1e6·ln(n/df)⌋ — so sums and
    * ranks are order-independent; ties break on the term. */
  def tfidfKeywords(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = docs.count()
    if (n == 0) // empty corpus: empty result, usual schema
      return docs.sparkSession.emptyDataFrame.select(
        lit(null).cast("long").as("doc_id"),
        lit(null).cast("long").as("rk"),
        lit(null).cast("string").as("term"),
        lit(null).cast("double").as("score"))
    val tf = docs
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val dfw = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    tf.join(dfw, "w")
      .withColumn("s", col("tf") *
        floor(log(lit(n.toDouble) / col("df")) * lit(1e6)).cast("long"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("s").desc, col("w"))).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("w").as("term"),
        round(col("s").cast("double") / lit(1e6), 6).as("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Exact ROC-AUC of a quality signal by rank-sum (Mann-Whitney U) —
    * the classifier-evaluation primitive a training-data pipeline
    * needs the moment any learned or heuristic quality score gates the
    * corpus ("does this score actually separate the curated slice?").
    * AUC = U/(n⁺·n⁻) with U = Σ_pos rank − n⁺(n⁺+1)/2 over average
    * ranks, kept INTEGER throughout by working in doubled ranks:
    * for a score value s with n_s rows (p_s positive) and C rows
    * strictly below it, every row at s has 2·avgrank = 2C + n_s + 1,
    * so u2 = Σ_s p_s·(2C_s + n_s + 1) and
    * auc_permille = 1000·(u2 − n⁺(n⁺+1)) div (2·n⁺·n⁻) — ties
    * handled exactly, no floats anywhere.
    *
    * The pivotal scale trick: ranks are computed on the per-(lang,
    * score) HISTOGRAM, not on rows — the corpus collapses map-side to
    * ≤ langs × |distinct scores| cells before any exchange, the
    * cumulative window runs over that bounded histogram, and the
    * per-lang rollup is dimension-sized. A row-level rank window
    * would per-lang-sort the whole corpus; this never sorts rows at
    * all. Signal under audit here: document length (n_chars) against
    * the deterministic even/odd-source split — the machinery is
    * score-agnostic. */
  def qualityAuc(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = docs
      // NULLIF before the cast: a source with no trailing digits
      // (adversarial/foreign feeds) extracts '' and an ANSI cast
      // throws — NULLIF makes the label NULL, the when() below counts
      // it as negative, and the oracle applies the identical NULLIF
      .select(col("lang"), col("n_chars").as("score"),
        (nullif(regexp_extract(col("source"), "(\\d+)$", 1), lit(""))
          .cast("long") % 2 === 0).as("pos"))
      .groupBy(col("lang"), col("score"))
      .agg(count(lit(1)).as("n_s"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("p_s"))
    val cum = Window.partitionBy(col("lang")).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("c_below", coalesce(sum(col("n_s")).over(cum), lit(0L)))
      .groupBy(col("lang"))
      .agg(sum(col("p_s")).as("n_pos"),
        sum(col("n_s") - col("p_s")).as("n_neg"),
        sum(col("p_s") * (lit(2L) * col("c_below") + col("n_s") + 1L))
          .as("u2"))
      .select(col("lang"), col("n_pos"), col("n_neg"), col("u2"),
        expr("1000 * (u2 - n_pos * (n_pos + 1)) div (2 * n_pos * n_neg)")
          .as("auc_permille"))
      .orderBy(col("lang"))
  }

  /** Heaps'-law vocabulary-growth curve — "how fast does the corpus
    * stop teaching new words": cumulative distinct token TYPES against
    * cumulative TOKENS at power-of-two document checkpoints (the
    * natural log-log sampling for V(n) ≈ K·n^β; a flattening curve is
    * the classic diminishing-returns / near-dup-saturation signal,
    * complementing [[zipfFit]]'s static frequency fit). Exact via the
    * same first-occurrence reformulation as the cumulative-distinct
    * query: a type enters the vocabulary once, at its MIN(doc_id), so
    * types_cum(b) = Σ first-seen census ≤ b. The checkpoint bucket
    * ⌊log₂(doc_id+1)⌋ is computed as LENGTH(BIN(doc_id+1))−1 —
    * integer-exact on both engines, no float log.
    *
    * Scale: one corpus tokenize feeding two map-side-combined
    * aggregates (per-bucket token counts; per-type min doc), then
    * cumulative windows over the ≤64-row bucket table (buckets grow
    * as log₂ of the corpus — bounded at ANY size, hence the exempted
    * global window). */
  def heapsGrowth(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def bucket(c: Column): Column = (length(bin(c + 1)) - 1).cast("long")
    val tok = docs.select(col("doc_id"), explode(words(col("text"))).as("w"))
    val docsPer = docs.groupBy(bucket(col("doc_id")).as("bucket"))
      .agg(count(lit(1)).as("n_docs"))
    val tokPer = tok.groupBy(bucket(col("doc_id")).as("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val newTypes = tok.groupBy(col("w"))
      .agg(min(col("doc_id")).as("fd"))
      .groupBy(bucket(col("fd")).as("bucket"))
      .agg(count(lit(1)).as("n_new_types"))
    val cum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docsPer
      .join(tokPer, Seq("bucket"), "left")
      .join(newTypes, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types"))
      .withColumn("docs_cum", sum(col("n_docs")).over(cum))
      .withColumn("tokens_cum", sum(col("n_tokens")).over(cum))
      .withColumn("types_cum", sum(col("n_new_types")).over(cum))
      .orderBy(col("bucket"))
  }

  /** Calibration / reliability table for a quality signal — the
    * companion to [[qualityAuc]]: AUC measures DISCRIMINATION (does
    * the score order positives above negatives), but a gating
    * threshold also needs the score→rate mapping to be honest, and
    * that is what the reliability table shows — per score bin, the
    * observed positive rate in integer permille. Bins are FIXED-WIDTH
    * (score div 64), not quantiles: bin identity is a pure per-row
    * projection — no global sort, no data-dependent cuts — so the
    * whole table is ONE map-side-combined aggregate at any corpus
    * size (a quantile-binned variant composes from the q18 broadcast
    * cutoffs with this same rollup). Same signal/label pair as the
    * AUC face (n_chars vs even/odd source). */
  def calibration(docs: DataFrame): DataFrame =
    docs
      .groupBy(expr("n_chars div 64").as("bin"))
      .agg(count(lit(1)).as("n"),
        // NULLIF before the cast — the qualityAuc label contract: a
        // digitless source is a NULL label and counts as negative
        sum(when(nullif(regexp_extract(col("source"), "(\\d+)$", 1),
            lit("")).cast("long") % 2 === 0, 1L).otherwise(0L))
          .as("n_pos"))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("1000 * n_pos div n").as("pos_permille"))
      .orderBy(col("bin"))

  /** Code-vs-prose detection — the routing gate every mixed crawl
    * needs before language-specific processing (code goes to the code
    * pipeline: different dedup granularity, different quality rules;
    * prose tokenizers mangle code and code filters starve prose).
    * Two cheap engine-exact signals per document: the code-symbol
    * census (occurrences of ;{}()=<># — prose uses almost none,
    * source text is ~5-15%) and a keyword-token count over a fixed
    * evidence set (def/return/import/…). Verdict: symbols ≥ 5% of
    * chars (cross-multiplied integers, no float ratio) OR ≥ 3 keyword
    * hits. Pure per-row projection, no exchange, linear at any corpus
    * size — and fully CODEGEN: the keyword census is one anchored
    * regexp_count pass (a consumed leading boundary + a lookahead
    * trailing boundary keeps adjacent keywords countable), replacing
    * the round-11 split + HOF-lambda filter whose per-token predicate
    * ran in the expression INTERPRETER — the registry's last
    * interpreted-lambda hot path (token-equality semantics unchanged,
    * same oracle).
    *
    * The projection is CHECKPOINTED before the presentation sort
    * (round 16, closing the r15 α=1.28-1.44 watch-item): a global
    * orderBy range-partitions by SAMPLING its child, and the reservoir
    * sampler consumes every partition's full iterator — so the sort
    * was re-running the whole regex census a second time, interleaved
    * with exchange buffers (regex allocation churn made that second
    * pass degrade superlinearly: measured α 1.29 at sf1→sf3, sort leg
    * alone 8×). Materializing the five-long projection first bounds
    * the sampling pass to ~40 B rows: measured α 0.97 and 2.7× faster
    * at sf3 (profiled in BASELINE.md round-16 notes). */
  def codeDetect(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[;{}()=<>#]", "")))
          .cast("long").as("n_sym"),
        // trailing boundary is \z (true end-of-input), NOT $: Java's $
        // also matches before a final line terminator, so "...def\n"
        // would count a keyword where split-on-space token equality
        // (the oracle semantics) sees the token "def\n" and does not
        regexp_count(col("text"),
          lit("(?:^| )(?:def|return|import|if|else|for|while|var|" +
            "const|class)(?= |\\z)")).cast("long").as("kw_hits"))
      .withColumn("is_code",
        col("n_sym") * 20 >= col("n_chars") || col("kw_hits") >= 3)
      .localCheckpoint(true)
      .orderBy(col("doc_id"))

  /** N-gram novelty audit — the memorization / boilerplate signal at
    * the gram level (document-level dedup can pass a corpus whose
    * docs still share most of their PHRASES — template families, SEO
    * farms, quote chains): per document, how many of its word
    * 5-grams occur exactly once in the WHOLE corpus (novel) vs
    * repeated somewhere (shared or self-repeated), as count + integer
    * permille. Low novelty = templated/duplicated phrasing even when
    * no document-level dup fires.
    *
    * Scale shape: one tokenize + per-row sliding-window gram
    * projection (no self-join), then every exchange carries the
    * gram's 8-byte poly_digest FINGERPRINT, never the ~50-byte gram
    * string (the winnowing/MOSS convention — measured 9.2× at 10×
    * data on string keys, the fingerprint keys cut the shuffled bytes
    * ~3×; hash collisions merge a pair of distinct grams with
    * probability n²/2p ≈ 10⁻³·n²/10⁹ and do so IDENTICALLY in both
    * engines, so the census stays exactly replayable): ONE hash-keyed
    * count aggregate (map-side combined), counts joined back on the
    * hash, one per-doc rollup. Docs shorter than the gram width drop
    * out by definition (both engines apply the same length filter). */
  def ngramNovelty(docs: DataFrame, n: Int = 5): DataFrame = {
    val toks = docs.select(col("doc_id"), words(col("text")).as("t"))
    // note: this face counts gram OCCURRENCES (a within-doc repeat is
    // by definition non-novel), so the per-doc-distinct
    // word_gram_digests expression the dedup gram family uses does NOT
    // apply here — the digests themselves are identical
    // native bag digests: one poly_digest per gram position, straight
    // from per-token hashes (the interpreted transform∘concat_ws∘slice
    // chain dominated this key at sf1 — gram strings never existed in
    // the exchanges, but they were still BUILT per row)
    val grams = toks.filter(size(col("t")) >= n)
      .select(col("doc_id"),
        explode(call_function("word_gram_digests_bag", col("t"), lit(n)))
          .as("g"))
    val cnt = grams.groupBy(col("g")).agg(count(lit(1)).as("c"))
    grams.join(cnt, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        expr("1000 * n_novel div n_grams").as("novelty_permille"))
      .orderBy(col("doc_id"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_ngram_novelty" -> ((s, dir) =>
      ngramNovelty(docsOf(s, dir))),
    "text_code_detect" -> ((s, dir) =>
      codeDetect(docsOf(s, dir))),
    "text_calibration" -> ((s, dir) =>
      calibration(docsOf(s, dir))),
    "text_heaps" -> ((s, dir) =>
      heapsGrowth(docsOf(s, dir))),
    "text_quality_auc" -> ((s, dir) =>
      qualityAuc(docsOf(s, dir))),
    "text_tfidf_keywords" -> ((s, dir) =>
      tfidfKeywords(docsOf(s, dir))),
    "text_bm25" -> ((s, dir) =>
      bm25TopK(docsOf(s, dir))),
    "text_unigram_logprob" -> ((s, dir) =>
      unigramLogProb(docsOf(s, dir))),
    "text_pii_scrub" -> ((s, dir) =>
      piiScrub(withSyntheticPii(docsSpread(s, dir)))),
    "text_ngram_stats" -> ((s, dir) =>
      ngramStats(docsOf(s, dir))),
    "text_quality" -> ((s, dir) => quality(docsOf(s, dir))),
    "text_gopher_rules" -> ((s, dir) =>
      gopherRules(docsSpread(s, dir))),
    "text_zipf" -> ((s, dir) => zipfFit(docsOf(s, dir))),
    "text_url_canon" -> ((s, dir) =>
      urlCanonDedup(docsOf(s, dir))),
    "text_tokens" -> ((s, dir) => tokens(docsOf(s, dir))),
    "text_langid" -> ((s, dir) => langId(docsOf(s, dir))),
    "text_fingerprint" -> ((s, dir) =>
      fingerprintGate(docsSpread(s, dir))),
    "text_winnow_overlap" -> ((s, dir) =>
      winnowOverlapPairsPoly(docsSpread(s, dir))),
    "text_rep_words" -> ((s, dir) =>
      repetition(docsOf(s, dir))),
    "text_chunk" -> ((s, dir) =>
      chunk(docsOf(s, dir))),
    // Flesch readability: exact integer counts + one shared double op
    "text_readability" -> ((s, dir) =>
      readability(docsOf(s, dir))),
    // add-V-smoothed bigram LM, fixed-point term sums
    "text_bigram_logprob" -> ((s, dir) =>
      bigramLogProb(docsOf(s, dir))),
    "text_entropy" -> ((s, dir) =>
      entropy(docsOf(s, dir))),
    "text_ppl_bucket" -> ((s, dir) =>
      pplBucket(docsOf(s, dir))),
    "text_collocation" -> ((s, dir) =>
      collocations(docsOf(s, dir))),
    "text_bpe_merge" -> ((s, dir) =>
      bpeMergeCandidates(docsOf(s, dir))))

  def oracleSql: Map[String, String] = Map(
    // same sliding grams (inclusive 1-based slice) hashed with the
    // same seeded codepoint fold, corpus count, uniqueness census,
    // integer permille
    "text_ngram_novelty" ->
      """WITH t AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    LIST_REDUCE(LIST_PREPEND(CAST(888888883 AS BIGINT),
        |      LIST_TRANSFORM(STRING_SPLIT(
        |        ARRAY_TO_STRING(t[i + 1 : i + 5], ' '), ''),
        |        c -> CAST(UNICODE(c) AS BIGINT))),
        |      (acc, x) -> (acc * 31 + x) % 1000000007) AS g
        |  FROM t, UNNEST(RANGE(0, LEN(t) - 4)) r(i)
        |  WHERE LEN(t) >= 5),
        |c AS (SELECT g, COUNT(*) AS c FROM g GROUP BY g)
        |SELECT doc_id, COUNT(*) AS n_grams,
        |  CAST(SUM(CASE WHEN c.c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  CAST(1000 * SUM(CASE WHEN c.c = 1 THEN 1 ELSE 0 END)
        |    // COUNT(*) AS BIGINT) AS novelty_permille
        |FROM g JOIN c ON c.g = g.g
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // same symbol census (global regexp strip), keyword filter, and
    // cross-multiplied verdict
    "text_code_detect" ->
      """SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n_chars,
        |  CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text,
        |    '[;{}()=<>#]', '', 'g')) AS BIGINT) AS n_sym,
        |  CAST(LENGTH(LIST_FILTER(STRING_SPLIT(text, ' '), w -> w IN
        |    ('def', 'return', 'import', 'if', 'else', 'for', 'while',
        |     'var', 'const', 'class'))) AS BIGINT) AS kw_hits,
        |  (LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[;{}()=<>#]',
        |    '', 'g'))) * 20 >= LENGTH(text)
        |    OR LENGTH(LIST_FILTER(STRING_SPLIT(text, ' '), w -> w IN
        |      ('def', 'return', 'import', 'if', 'else', 'for', 'while',
        |       'var', 'const', 'class'))) >= 3 AS is_code
        |FROM documents ORDER BY doc_id""".stripMargin,
    // same fixed-width bins, label rule (NULLIF before the cast — a
    // digitless source is a NULL label counted negative), integer
    // permille
    "text_calibration" ->
      """SELECT n_chars // 64 AS bin, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN CAST(NULLIF(REGEXP_EXTRACT(source,
        |    '(\d+)$', 1), '') AS BIGINT) % 2 = 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(1000 * SUM(CASE WHEN CAST(NULLIF(REGEXP_EXTRACT(source,
        |    '(\d+)$', 1), '') AS BIGINT) % 2 = 0 THEN 1 ELSE 0 END)
        |    // COUNT(*) AS BIGINT) AS pos_permille
        |FROM documents GROUP BY 1 ORDER BY bin""".stripMargin,
    // same power-of-two bucket (LENGTH(BIN(n))−1), first-occurrence
    // census, cumulative windows; COUNT/SUM cast to BIGINT
    "text_heaps" ->
      """WITH tok AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w
        |  FROM documents),
        |dp AS (
        |  SELECT LENGTH(BIN(doc_id + 1)) - 1 AS bucket,
        |    COUNT(*) AS n_docs
        |  FROM documents GROUP BY 1),
        |tp AS (
        |  SELECT LENGTH(BIN(doc_id + 1)) - 1 AS bucket,
        |    COUNT(*) AS n_tokens
        |  FROM tok GROUP BY 1),
        |nt AS (
        |  SELECT LENGTH(BIN(fd + 1)) - 1 AS bucket,
        |    COUNT(*) AS n_new_types
        |  FROM (SELECT w, MIN(doc_id) AS fd FROM tok GROUP BY w)
        |  GROUP BY 1)
        |SELECT CAST(dp.bucket AS BIGINT) AS bucket, dp.n_docs,
        |  COALESCE(tp.n_tokens, 0) AS n_tokens,
        |  COALESCE(nt.n_new_types, 0) AS n_new_types,
        |  CAST(SUM(dp.n_docs) OVER (ORDER BY dp.bucket) AS BIGINT)
        |    AS docs_cum,
        |  CAST(SUM(COALESCE(tp.n_tokens, 0)) OVER (ORDER BY dp.bucket)
        |    AS BIGINT) AS tokens_cum,
        |  CAST(SUM(COALESCE(nt.n_new_types, 0)) OVER (ORDER BY dp.bucket)
        |    AS BIGINT) AS types_cum
        |FROM dp
        |LEFT JOIN tp ON tp.bucket = dp.bucket
        |LEFT JOIN nt ON nt.bucket = dp.bucket
        |ORDER BY bucket""".stripMargin,
    // same doubled-rank formulation on the (lang, score) histogram:
    // cumulative strictly-below counts, tie-exact 2·avgrank, integer
    // permille; every SUM re-cast to BIGINT
    "text_quality_auc" ->
      """WITH h AS (
        |  SELECT lang, n_chars AS score, COUNT(*) AS n_s,
        |    CAST(SUM(CASE WHEN CAST(NULLIF(REGEXP_EXTRACT(source,
        |      '(\d+)$', 1), '') AS BIGINT) % 2 = 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS p_s
        |  FROM documents GROUP BY 1, 2),
        |c AS (
        |  SELECT lang, score, n_s, p_s,
        |    CAST(COALESCE(SUM(n_s) OVER (PARTITION BY lang
        |      ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      1 PRECEDING), 0) AS BIGINT) AS c_below
        |  FROM h)
        |SELECT lang,
        |  CAST(SUM(p_s) AS BIGINT) AS n_pos,
        |  CAST(SUM(n_s - p_s) AS BIGINT) AS n_neg,
        |  CAST(SUM(p_s * (2 * c_below + n_s + 1)) AS BIGINT) AS u2,
        |  CAST(1000 * (SUM(p_s * (2 * c_below + n_s + 1))
        |      - SUM(p_s) * (SUM(p_s) + 1))
        |    // (2 * SUM(p_s) * SUM(n_s - p_s)) AS BIGINT)
        |    AS auc_permille
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,
    // full replay: tokenization, (doc, word) tf, df-from-tf, the
    // integer score tf·⌊1e6·ln(n/df)⌋ (division and ln in the same
    // double order as the Spark expression), rank with term tie-break
    "text_tfidf_keywords" ->
      """WITH tok AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY doc_id, w),
        |dfw AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
        |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
        |s AS (
        |  SELECT t.doc_id, t.w,
        |    t.tf * CAST(FLOOR(LN((SELECT n FROM nn) / d.df) * 1e6)
        |      AS BIGINT) AS s
        |  FROM tf t JOIN dfw d ON t.w = d.w),
        |r AS (
        |  SELECT doc_id, w, s,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, w)
        |      AS rk
        |  FROM s)
        |SELECT doc_id, CAST(rk AS BIGINT) AS rk, w AS term,
        |  ROUND(CAST(s AS DOUBLE) / 1e6, 6) AS score
        |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    // vocabulary collapse, per-word pair positions, frequency-weighted
    // integer counts and the exact top-k — all BIGINT, zero seams
    "text_bpe_merge" ->
      """WITH vocab AS (
        |  SELECT w, COUNT(*) AS wc FROM (
        |    SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
        |  WHERE LENGTH(w) >= 2 GROUP BY w),
        |pairs AS (
        |  SELECT SUBSTRING(w, i, 1) AS lhs, SUBSTRING(w, i + 1, 1) AS rhs,
        |    wc
        |  FROM vocab, UNNEST(RANGE(1, LENGTH(w))) r(i)),
        |pc AS (
        |  SELECT lhs, rhs, CAST(SUM(wc) AS BIGINT) AS pair_count
        |  FROM pairs GROUP BY lhs, rhs)
        |SELECT lhs, rhs, pair_count FROM pc
        |ORDER BY pair_count DESC, lhs, rhs LIMIT 50""".stripMargin,
    // full replay: unigram/bigram counts, the min-count cut, the PMI
    // with the constant term parenthesized to match the Spark
    // expression's double-rounding path, and the rounded-score top-k
    "text_collocation" ->
      """WITH toks AS (SELECT STRING_SPLIT(text, ' ') AS t FROM documents),
        |uni AS (SELECT UNNEST(t) AS w FROM toks),
        |uc AS (SELECT w, COUNT(*) AS c_w FROM uni GROUP BY w),
        |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM uni),
        |bi AS (SELECT t[i] AS w1, t[i + 1] AS w2
        |       FROM toks, UNNEST(RANGE(1, LEN(t))) r(i)),
        |bt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS b FROM bi),
        |bc AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bi
        |       GROUP BY w1, w2 HAVING COUNT(*) >= 5),
        |sc AS (
        |  SELECT w1, w2, c_xy, x.c_w AS c_x, y.c_w AS c_y,
        |    ROUND(LN(CAST(c_xy AS DOUBLE)) - LN(CAST(x.c_w AS DOUBLE))
        |      - LN(CAST(y.c_w AS DOUBLE))
        |      + (2 * LN((SELECT n FROM nn)) - LN((SELECT b FROM bt))), 4)
        |      AS pmi_r
        |  FROM bc JOIN uc x ON bc.w1 = x.w JOIN uc y ON bc.w2 = y.w)
        |SELECT * FROM sc ORDER BY pmi_r DESC, w1, w2 LIMIT 50""".stripMargin,
    // both entropies recomputed from scratch via the same
    // H = ln n − (Σ c·ln c)/n identity, from relational symbol counts
    // (codepoint split: DuckDB STRING_SPLIT(x,'') and the JVM regex
    // split are both codepoint-correct — proven by the adversarial
    // corpus). ROUND(6) absorbs libm-vs-JVM ln() ulps and summation
    // order. NULL text propagates NULL; empty text is all-zero (no
    // char rows; the one empty-string word gives ln 1 = 0).
    // the same three run-collapse counts (regex class semantics are
    // identical for these plain character classes), same literals,
    // one shared double expression
    "text_readability" ->
      """SELECT doc_id,
        |  CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_words,
        |  GREATEST(1, CAST(LENGTH(REGEXP_REPLACE(REGEXP_REPLACE(
        |    LOWER(text), '[.!?]+', 'S', 'g'), '[^S]', '', 'g'))
        |    AS BIGINT)) AS n_sentences,
        |  CAST(LENGTH(REGEXP_REPLACE(REGEXP_REPLACE(
        |    LOWER(text), '[aeiouy]+', 'V', 'g'), '[^V]', '', 'g'))
        |    AS BIGINT) AS n_syllables,
        |  ROUND(206.835
        |    - 1.015 * CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE)
        |      / GREATEST(1, CAST(LENGTH(REGEXP_REPLACE(REGEXP_REPLACE(
        |          LOWER(text), '[.!?]+', 'S', 'g'), '[^S]', '', 'g'))
        |          AS BIGINT))
        |    - 84.6 * CAST(LENGTH(REGEXP_REPLACE(REGEXP_REPLACE(
        |          LOWER(text), '[aeiouy]+', 'V', 'g'), '[^V]', '', 'g'))
        |          AS DOUBLE)
        |      / LEN(STRING_SPLIT(text, ' ')), 6) AS flesch
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_entropy" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents),
        |cc AS (
        |  SELECT doc_id, COUNT(*) AS c FROM (
        |    SELECT doc_id, UNNEST(LIST_FILTER(STRING_SPLIT(text, ''),
        |      x -> x != '')) AS ch FROM docs) GROUP BY doc_id, ch),
        |hc AS (
        |  SELECT doc_id, LN(SUM(c)) - SUM(c * LN(c)) / SUM(c) AS h
        |  FROM cc GROUP BY doc_id),
        |wc AS (
        |  SELECT doc_id, COUNT(*) AS c FROM (
        |    SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w
        |    FROM docs) GROUP BY doc_id, w),
        |hw AS (
        |  SELECT doc_id, LN(SUM(c)) - SUM(c * LN(c)) / SUM(c) AS h
        |  FROM wc GROUP BY doc_id)
        |SELECT d.doc_id,
        |  ROUND(CASE WHEN d.text IS NULL THEN NULL
        |             ELSE COALESCE(hc.h, 0.0) END, 6) AS char_entropy,
        |  ROUND(CASE WHEN d.text IS NULL THEN NULL
        |             ELSE COALESCE(hw.h, 0.0) END, 6) AS word_entropy,
        |  ROUND(CASE WHEN d.text IS NULL THEN NULL
        |             ELSE COALESCE(hc.h, 0.0) / LN(2.0) END, 6)
        |    AS bits_per_char
        |FROM docs d
        |LEFT JOIN hc ON d.doc_id = hc.doc_id
        |LEFT JOIN hw ON d.doc_id = hw.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // the whole chunking stage replayed: token split, the shared
    // integer chunk-count formula, 1-based inclusive list slices, and
    // the reassembled chunk TEXT itself rides the hash — a dropped,
    // shifted, or mis-sliced window anywhere fails it
    "text_chunk" ->
      """WITH toks AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |n AS (
        |  SELECT doc_id, t, LEN(t) AS n FROM toks)
        |SELECT doc_id, i AS chunk_idx,
        |  LEAST(64, n - i*48) AS n_tokens,
        |  ARRAY_TO_STRING(t[i*48+1 : i*48+64], ' ') AS chunk
        |FROM n, UNNEST(RANGE(0,
        |  CAST(1 + GREATEST(0, (n - 64 + 47) // 48) AS BIGINT))) AS r(i)
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    // the whole retrieval stage recomputed: postings, doc lengths,
    // corpus stats, per-term idf, fixed-point BM25 term scores, exact
    // integer rank. Fractional literals are CAST to DOUBLE so DuckDB's
    // DECIMAL arithmetic can't diverge from Spark's binary doubles;
    // the operation ORDER mirrors bm25TopK exactly.
    "text_bm25" ->
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
        |      FROM documents WHERE doc_id % 100 = 0))),
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
        |rk AS (
        |  SELECT query_id, doc_id, isum,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY isum DESC, doc_id) AS rk
        |  FROM sc)
        |SELECT query_id, CAST(rk AS BIGINT) AS rk, doc_id,
        |  ROUND(CAST(isum AS DOUBLE) / 1e6, 6) AS score
        |FROM rk WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin,
    // bigram and unigram count tables, vocab scalar, the same
    // floor(ln·1e6) fixed-point terms — the whole smoothed LM replayed
    "text_bigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
        |uni AS (
        |  SELECT w, COUNT(*) AS cu FROM (
        |    SELECT UNNEST(t) AS w FROM toks) u GROUP BY w),
        |v AS (SELECT COUNT(*) AS vocab FROM uni),
        |bg AS (
        |  SELECT doc_id, t[i - 1] AS w1, t[i] AS w2
        |  FROM toks, UNNEST(RANGE(2, LEN(t) + 1)) r(i)),
        |bc AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY w1, w2)
        |SELECT bg.doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(CAST(SUM(
        |      CAST(FLOOR(LN(CAST(bc.cb + 1 AS DOUBLE)) * 1e6) AS BIGINT)
        |      - CAST(FLOOR(LN(CAST(uni.cu + (SELECT vocab FROM v)
        |          AS DOUBLE)) * 1e6) AS BIGINT)) AS DOUBLE)
        |    / (COUNT(*) * 1e6), 6) AS mean_logp
        |FROM bg
        |JOIN bc ON bg.w1 = bc.w1 AND bg.w2 = bc.w2
        |JOIN uni ON bg.w1 = uni.w
        |GROUP BY bg.doc_id ORDER BY bg.doc_id""".stripMargin,
    // the whole signal recomputed: unigram table, per-token ln-count
    // fixed-point sum, corpus-total normalizer
    "text_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w
        |  FROM documents),
        |counts AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w),
        |total AS (SELECT COUNT(*) AS n FROM toks)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  ROUND(CAST(SUM(CAST(FLOOR(LN(CAST(cnt AS DOUBLE)) * 1e6)
        |      AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1e6)
        |    - LN(CAST((SELECT n FROM total) AS DOUBLE)), 6) AS mean_logp
        |FROM toks JOIN counts USING (w)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the scoring CTEs restate text_unigram_logprob; NTILE replays the
    // rounded-score-desc, doc_id-asc total order per language
    "text_ppl_bucket" ->
      """WITH toks AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w
        |  FROM documents),
        |counts AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w),
        |total AS (SELECT COUNT(*) AS n FROM toks),
        |scored AS (
        |  SELECT doc_id,
        |    ROUND(CAST(SUM(CAST(FLOOR(LN(CAST(cnt AS DOUBLE)) * 1e6)
        |        AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1e6)
        |      - LN(CAST((SELECT n FROM total) AS DOUBLE)), 6) AS mean_logp
        |  FROM toks JOIN counts USING (w) GROUP BY doc_id),
        |b AS (
        |  SELECT s.doc_id, d.lang, s.mean_logp,
        |    NTILE(3) OVER (PARTITION BY d.lang
        |      ORDER BY s.mean_logp DESC, s.doc_id) AS t
        |  FROM scored s JOIN documents d USING (doc_id))
        |SELECT doc_id, lang, mean_logp,
        |  CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
        |    AS ppl_bucket
        |FROM b ORDER BY doc_id""".stripMargin,
    "text_pii_scrub" ->
      """SELECT doc_id,
        |  REGEXP_REPLACE(REGEXP_REPLACE(text2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+[0-9]{1,3}-[0-9]{3}-[0-9]+', '<PHONE>', 'g') AS scrubbed,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(text2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_emails,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(text2,
        |    '\+[0-9]{1,3}-[0-9]{3}-[0-9]+')) AS BIGINT) AS n_phones
        |FROM (SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com or +1-555-'
        |      || doc_id AS text2
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    "text_ngram_stats" ->
      """SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        |FROM (
        |  SELECT UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(w) - 1),
        |    i -> w[i] || ' ' || w[i + 1])) AS ngram
        |  FROM (SELECT STRING_SPLIT(text, ' ') AS w FROM documents) s
        |  WHERE LEN(w) >= 2
        |) t
        |GROUP BY ngram ORDER BY n_occurrences DESC, ngram LIMIT 100""".stripMargin,
    "text_quality" ->
      """SELECT doc_id,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars,
        |  CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_words,
        |  LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
        |    w -> w IN ('the', 'a'))) / LEN(STRING_SPLIT(text, ' '))
        |    AS stopword_ratio,
        |  LENGTH(REGEXP_REPLACE(text, '[^a-zA-Z]', '', 'g')) / LENGTH(text)
        |    AS alpha_ratio,
        |  LENGTH(REGEXP_REPLACE(text, '[a-zA-Z0-9\s]', '', 'g')) / LENGTH(text)
        |    AS punct_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    // same synthesized variants, same canonicalization chain (utm
    // removal needs the 'g' flag — DuckDB replaces first-only by
    // default, Spark always-global), same min-id keeper
    "text_url_canon" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 6 AS INT)
        |      WHEN 0 THEN 'http://example' || (doc_id // 6) || '.com/p/'
        |        || (doc_id // 6)
        |      WHEN 1 THEN 'https://EXAMPLE' || (doc_id // 6) || '.COM/p/'
        |        || (doc_id // 6)
        |      WHEN 2 THEN 'https://www.example' || (doc_id // 6)
        |        || '.com/p/' || (doc_id // 6)
        |      WHEN 3 THEN 'http://example' || (doc_id // 6) || '.com:80/p/'
        |        || (doc_id // 6)
        |      WHEN 4 THEN 'https://example' || (doc_id // 6) || '.com/p/'
        |        || (doc_id // 6) || '?utm_source=x&utm_campaign=y'
        |      ELSE 'https://example' || (doc_id // 6) || '.com/p/'
        |        || (doc_id // 6) || '/?utm_a=2&utm_b=1#frag'
        |    END AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, url,
        |    REGEXP_REPLACE(
        |      REGEXP_REPLACE(
        |        REGEXP_REPLACE(
        |          REGEXP_REPLACE(
        |            LOWER(REGEXP_EXTRACT(
        |              REGEXP_REPLACE(REGEXP_REPLACE(url, '^https?://', ''),
        |                '^www\.', ''), '^[^/]+'))
        |            || REGEXP_REPLACE(
        |              REGEXP_REPLACE(REGEXP_REPLACE(url, '^https?://', ''),
        |                '^www\.', ''), '^[^/]+', ''),
        |            ':80/', '/'),
        |          '#.*$', ''),
        |        '[?&]utm_[^&#]*', '', 'g'),
        |      '/$', '') AS canon_url
        |  FROM u),
        |k AS (SELECT canon_url, MIN(doc_id) AS keep_id FROM c
        |      GROUP BY canon_url)
        |SELECT c.doc_id, c.url, c.canon_url,
        |  c.doc_id = k.keep_id AS is_canonical
        |FROM c JOIN k ON c.canon_url = k.canon_url
        |ORDER BY c.doc_id""".stripMargin,
    // same count → top-100 cut → ln/ln least squares; ROUND(6)
    // absorbs libm/summation-order ulps
    "text_zipf" ->
      """WITH c AS (
        |  SELECT w, COUNT(*) AS c FROM (
        |    SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents) t
        |  GROUP BY w),
        |tot AS (
        |  SELECT COUNT(*) AS n_types,
        |    CAST(SUM(c) AS BIGINT) AS n_tokens FROM c),
        |top AS (SELECT * FROM c ORDER BY c DESC, w LIMIT 100),
        |xy AS (
        |  SELECT LN(CAST(ROW_NUMBER() OVER (ORDER BY c DESC, w)
        |      AS DOUBLE)) AS x,
        |    LN(CAST(c AS DOUBLE)) AS y
        |  FROM top),
        |s AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx,
        |    SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
        |  FROM xy)
        |SELECT tot.n_types, tot.n_tokens,
        |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope_r,
        |  ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
        |    / n, 6) AS intercept_r
        |FROM tot, s""".stripMargin,
    // full replay: same integer cross-multiplied rule verdicts, same
    // bitmask arithmetic — LIST HOFs mirror the Spark transforms
    "text_gopher_rules" ->
      """WITH base AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS w,
        |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(LENGTH(REPLACE(text, ' ', '')) AS BIGINT) AS sum_wlen
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, w, n_words, sum_wlen,
        |    LIST_TRANSFORM(RANGE(1, GREATEST(CAST(n_words AS INT), 1)),
        |      i -> w[i] || ' ' || w[i + 1]) AS bigrams
        |  FROM base),
        |rules AS (
        |  SELECT doc_id, n_words, sum_wlen,
        |    (n_words >= 20 AND n_words <= 80) AS r_wordcount,
        |    (sum_wlen >= 3 * n_words AND sum_wlen <= 10 * n_words)
        |      AS r_meanlen,
        |    (5 * LEN(LIST_FILTER(w, x -> REGEXP_MATCHES(x, '[a-zA-Z]')))
        |      >= 4 * n_words) AS r_alpha,
        |    (LEN(LIST_FILTER(w, x -> x IN ('a', 'the', 'of', 'and')))
        |      >= 2) AS r_stop,
        |    (5 * LIST_MAX(LIST_TRANSFORM(LIST_DISTINCT(w),
        |        d -> LEN(LIST_FILTER(w, x -> x = d))))
        |      <= n_words) AS r_domword,
        |    (10 * (LEN(bigrams) - LEN(LIST_DISTINCT(bigrams)))
        |      <= 3 * LEN(bigrams)) AS r_dupbigram
        |  FROM bg)
        |SELECT doc_id, n_words, sum_wlen, r_wordcount, r_meanlen,
        |  r_alpha, r_stop, r_domword, r_dupbigram,
        |  CAST((CASE WHEN r_wordcount THEN 0 ELSE 1 END)
        |    + (CASE WHEN r_meanlen THEN 0 ELSE 2 END)
        |    + (CASE WHEN r_alpha THEN 0 ELSE 4 END)
        |    + (CASE WHEN r_stop THEN 0 ELSE 8 END)
        |    + (CASE WHEN r_domword THEN 0 ELSE 16 END)
        |    + (CASE WHEN r_dupbigram THEN 0 ELSE 32 END) AS BIGINT)
        |    AS reasons,
        |  ((CASE WHEN r_wordcount THEN 0 ELSE 1 END)
        |    + (CASE WHEN r_meanlen THEN 0 ELSE 2 END)
        |    + (CASE WHEN r_alpha THEN 0 ELSE 4 END)
        |    + (CASE WHEN r_stop THEN 0 ELSE 8 END)
        |    + (CASE WHEN r_domword THEN 0 ELSE 16 END)
        |    + (CASE WHEN r_dupbigram THEN 0 ELSE 32 END)) = 0 AS pass
        |FROM rules ORDER BY doc_id""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        |  CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
        |    AS BIGINT) AS n_re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      """SELECT doc_id,
        |  CASE WHEN s_en = best AND best > 0 THEN 'en'
        |       WHEN s_de = best AND best > 0 THEN 'de'
        |       WHEN s_fr = best AND best > 0 THEN 'fr'
        |       WHEN s_es = best AND best > 0 THEN 'es'
        |       ELSE 'und' END AS lang_pred,
        |  CAST(best AS BIGINT) AS score,
        |  lang AS lang_label
        |FROM (
        |  SELECT doc_id, lang, s_en, s_de, s_fr, s_es,
        |    GREATEST(s_en, s_de, s_fr, s_es) AS best
        |  FROM (
        |    SELECT doc_id, lang,
        |      LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
        |        w -> w IN ('the', 'a', 'of', 'and'))) AS s_en,
        |      LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
        |        w -> w IN ('der', 'die', 'das', 'und'))) AS s_de,
        |      LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
        |        w -> w IN ('le', 'la', 'les', 'et'))) AS s_fr,
        |      LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
        |        w -> w IN ('el', 'los', 'las', 'y'))) AS s_es
        |    FROM documents) t) u
        |ORDER BY doc_id""".stripMargin,
    // The oracle states the metric in its naive relational form
    // (unnest → per-(doc, word) counts); the Spark side computes the
    // same numbers shuffle-free per row. Identical integers on both
    // sides ⇒ identical division results.
    "text_rep_words" ->
      """SELECT doc_id,
        |  CAST(SUM(cnt) AS BIGINT) AS n_words,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  CAST(MAX(cnt) AS BIGINT) AS top_cnt,
        |  CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT)
        |    AS top_word_frac,
        |  CAST(1 AS DOUBLE) - CAST(COUNT(*) AS DOUBLE)
        |    / CAST(SUM(cnt) AS BIGINT) AS dup_word_frac
        |FROM (
        |  SELECT doc_id, word, COUNT(*) AS cnt
        |  FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS word
        |        FROM documents) t
        |  GROUP BY doc_id, word) c
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // hash values are engine-specific; the gate carries winnowing's
    // structural guarantees in-plan (see fingerprintGate)
    "text_fingerprint" ->
      """SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n_chars,
        |  TRUE AS fp_ok
        |FROM documents ORDER BY doc_id""".stripMargin,
    // The full winnowing pipeline recomputed in SQL against the
    // replayable PolyFingerprint face: codepoint list per doc, k-gram
    // polynomial hashes via list_reduce over list slices (seed 0,
    // B=31 mod 1000000007 — exact BIGINT math), window-min winnowing
    // as a bounded-frame MIN window, distinct fingerprints, posting
    // lists capped to [2, 16], all pairs within postings, shared-print
    // counts >= 5 — the dedup_simhash oracle pattern. Gram-range and
    // window clipping (docs shorter than k chars / w grams) mirror the
    // expression's max(·, 1) exactly: DuckDB list slices clamp, the
    // ROWS frame clips, and the i <= GREATEST(ng - 7, 1) predicate
    // keeps the same single-window fallback.
    "text_winnow_overlap" ->
      """WITH cps AS (
        |  SELECT doc_id,
        |    LIST_TRANSFORM(STRING_SPLIT(text, ''),
        |      c -> CAST(UNICODE(c) AS BIGINT)) AS cp,
        |    LENGTH(text) AS n
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, i,
        |    LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
        |        cp[CAST(i AS INT):CAST(i + 15 AS INT)]),
        |      (acc, x) -> (acc * 31 + x) % 1000000007) AS h
        |  FROM cps, UNNEST(RANGE(1, GREATEST(n - 15, 1) + 1)) AS r(i)),
        |wm AS (
        |  SELECT doc_id, i,
        |    MIN(h) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS f,
        |    COUNT(*) OVER (PARTITION BY doc_id) AS ng
        |  FROM grams),
        |fp AS (
        |  SELECT DISTINCT doc_id, f FROM wm
        |  WHERE i <= GREATEST(ng - 7, 1)),
        |pf AS (SELECT f FROM fp GROUP BY f HAVING COUNT(*) BETWEEN 2 AND 16)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        |FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
        |WHERE a.f IN (SELECT f FROM pf)
        |GROUP BY 1, 2 HAVING COUNT(*) >= 5
        |ORDER BY doc_a, doc_b""".stripMargin
  )
}
