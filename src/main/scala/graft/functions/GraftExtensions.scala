package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Engine extension point: registers graft's native Catalyst
  * expressions with the session's function registry, so they are
  * callable from SQL and via functions.call_function from the
  * DataFrame API. Activated by
  * `spark.sql.extensions=graft.functions.GraftExtensions`
  * (GraftSession sets this). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "4.0.0", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // materialized-view rewrite (no-op until MvCatalog has entries)
    ext.injectOptimizerRule(graft.plans.MvRewriteRule.apply)
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      info("dot_product",
        "dot_product(a, b) - dot product of two array<double> vectors"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      info("cosine_sim",
        "cosine_sim(a, b) - cosine similarity of two array<double> vectors"),
      (children: Seq[Expression]) => CosineSimilarity(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("outer_upper"),
      info("outer_upper",
        "outer_upper(v) - upper-triangle outer product of v (row-major) with v appended"),
      (children: Seq[Expression]) => OuterUpper(children(0))))
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      info("minhash_sig",
        "minhash_sig(shingles) - 64-element MinHash signature of array<string>"),
      (children: Seq[Expression]) => MinHashSignature(children.head)))
    ext.injectFunction((
      FunctionIdentifier("ascii_normalize"),
      info("ascii_normalize",
        "ascii_normalize(s) - strip to [A-Za-z0-9 ], squeeze space " +
          "runs, trim, lowercase — one pass, bit-identical to the " +
          "lower/trim/regexp_replace chain"),
      (children: Seq[Expression]) => AsciiNormalize(children.head)))
    ext.injectFunction((
      FunctionIdentifier("word_shingles"),
      info("word_shingles",
        "word_shingles(tokens, n) - first-occurrence-distinct word " +
          "n-gram shingle strings (space-joined), one primitive pass — " +
          "bit-identical to the array_distinct/transform/concat_ws/" +
          "slice composition"),
      (children: Seq[Expression]) => {
        expectArity("word_shingles(tokens, n)", 2, children)
        WordShingles(children.head, intArg(children(1), "n"))
      }))
    ext.injectFunction((
      FunctionIdentifier("char_shingles"),
      info("char_shingles",
        "char_shingles(s, n) - first-occurrence-distinct character " +
          "n-gram strings, one code-point pass — bit-identical to the " +
          "array_distinct/transform/substring composition"),
      (children: Seq[Expression]) => {
        expectArity("char_shingles(s, n)", 2, children)
        CharShingles(children.head, intArg(children(1), "n"))
      }))
    ext.injectFunction((
      FunctionIdentifier("minhash_gram_sig"),
      info("minhash_gram_sig",
        "minhash_gram_sig(tokens, n[, slots]) - ONE-PERMUTATION MinHash " +
          "signature over word n-grams, computed straight from the " +
          "token array (no shingle strings, no per-shingle permutation " +
          "passes; rotation densification); slots defaults to 64, " +
          "widen it for corpus-derived LSH band geometry"),
      (children: Seq[Expression]) => {
        if (children.size != 2 && children.size != 3)
          throw new IllegalArgumentException(
            "minhash_gram_sig(tokens, n[, slots]) takes 2 or 3 " +
              s"arguments, got ${children.size}")
        if (children.size == 3)
          MinHashGramSignature(children.head, intArg(children(1), "n"),
            intArg(children(2), "slots"))
        else MinHashGramSignature(children.head, intArg(children(1), "n"))
      }))
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      info("simhash64",
        "simhash64(tokens) - 64-bit SimHash of array<string>"),
      (children: Seq[Expression]) => SimHash64(children.head)))
    ext.injectFunction((
      FunctionIdentifier("poly_simhash"),
      info("poly_simhash",
        "poly_simhash(tokens) - 60-bit SimHash over codepoint-polynomial " +
          "token hashes; exactly replayable in standard SQL"),
      (children: Seq[Expression]) => PolySimHash(children.head)))
    ext.injectFunction((
      FunctionIdentifier("poly_digest"),
      info("poly_digest",
        "poly_digest(s) - seeded codepoint-polynomial digest of a " +
          "string; exactly replayable in standard SQL (the row-" +
          "checksum primitive)"),
      (children: Seq[Expression]) => PolyDigest(children.head)))
    ext.injectFunction((
      FunctionIdentifier("poly_digest2"),
      info("poly_digest2",
        "poly_digest2(s) - WIDE seeded codepoint-polynomial digest: " +
          "both PolyHash folds packed as h1*P2 + h2 (keyspace " +
          "P1*P2 ~ 2^59.8); exactly replayable in standard SQL — the " +
          "dedup-family group/join key"),
      (children: Seq[Expression]) => PolyDigest2(children.head)))
    ext.injectFunction((
      FunctionIdentifier("entropy_nats"),
      info("entropy_nats",
        "entropy_nats(x) - Shannon entropy in nats of x's symbol " +
          "multiset: code points when x is a string, elements when x " +
          "is array<string>"),
      (children: Seq[Expression]) => SymbolEntropy(children.head)))
    ext.injectFunction((
      FunctionIdentifier("image_dims"),
      info("image_dims",
        "image_dims(blob) - struct(fmt, width, height) parsed from " +
          "PNG/GIF/BMP headers; NULL for unknown formats"),
      (children: Seq[Expression]) => ImageDims(children.head)))
    ext.injectFunction((
      FunctionIdentifier("planted_wav"),
      info("planted_wav",
        "planted_wav(doc_id) - 8-bit mono PCM WAV fixture with " +
          "oracle-replayable planted samples"),
      (children: Seq[Expression]) => PlantedWav(children.head)))
    ext.injectFunction((
      FunctionIdentifier("wav_pcm_stats"),
      info("wav_pcm_stats",
        "wav_pcm_stats(blob) - struct(n_samples, sum_dev2, peak_dev) " +
          "folded from 8-bit mono PCM WAV samples; NULL otherwise"),
      (children: Seq[Expression]) => WavPcmStats(children.head)))
    ext.injectFunction((
      FunctionIdentifier("wav_window_energy"),
      info("wav_window_energy",
        "wav_window_energy(blob) - array<bigint> of per-16-sample " +
          "sum-of-squared-deviation energies from an 8-bit mono PCM " +
          "WAV; NULL otherwise"),
      (children: Seq[Expression]) => WavWindowEnergy(children.head)))
    ext.injectFunction((
      FunctionIdentifier("planted_bmp"),
      info("planted_bmp",
        "planted_bmp(doc_id, w) - W x W 24-bpp BMP fixture with " +
          "oracle-replayable planted grayscale pixels"),
      (children: Seq[Expression]) => PlantedBmp(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("bmp_thumb8"),
      info("bmp_thumb8",
        "bmp_thumb8(blob) - nearest-neighbor 8x8 24-bpp BMP thumbnail " +
          "of an uncompressed 24-bpp BMP; NULL otherwise"),
      (children: Seq[Expression]) => BmpThumb8(children.head)))
    ext.injectFunction((
      FunctionIdentifier("bmp_ahash64"),
      info("bmp_ahash64",
        "bmp_ahash64(blob) - struct(hi, lo) 64-bit perceptual " +
          "average-hash decoded from an 8x8 24-bpp BMP; NULL otherwise"),
      (children: Seq[Expression]) => BmpAhash64(children.head)))
    ext.injectFunction((
      FunctionIdentifier("readability_counts"),
      info("readability_counts",
        "readability_counts(lowered_text) - struct(n_words, " +
          "n_sent_runs, n_syllables): single-pass word/sentence-run/" +
          "vowel-group counts; pass lower(text)"),
      (children: Seq[Expression]) => ReadabilityCounts(children.head)))
    ext.injectFunction((
      FunctionIdentifier("bmp_gray_hist"),
      info("bmp_gray_hist",
        "bmp_gray_hist(blob) - struct(w, h, sum_gray, hist[16]) " +
          "16-bin grayscale histogram of any uncompressed 24-bpp " +
          "BMP; NULL otherwise"),
      (children: Seq[Expression]) => BmpGrayHist(children.head)))
    ext.injectFunction((
      FunctionIdentifier("audio_meta"),
      info("audio_meta",
        "audio_meta(blob) - struct(fmt, channels, sample_rate, bits, " +
          "n_frames, duration_ms) parsed from WAV/AIFF headers; NULL " +
          "for unknown formats"),
      (children: Seq[Expression]) => AudioMeta(children.head)))
    ext.injectFunction((
      FunctionIdentifier("rand_project"),
      info("rand_project",
        "rand_project(v) - 16 fixed-point (1e-6) Johnson-Lindenstrauss " +
          "±1 projections of v as array<bigint>; exactly replayable " +
          "in standard SQL"),
      (children: Seq[Expression]) => RandProject(children.head)))
    ext.injectFunction((
      FunctionIdentifier("nearest_centroid"),
      info("nearest_centroid",
        "nearest_centroid(q, centroids) - struct(cluster, dist2_fp): " +
          "index of the nearest centroid under exact integer squared " +
          "L2 and its distance; centroids must be a foldable " +
          "array<array<bigint>> literal"),
      (children: Seq[Expression]) =>
        NearestCentroid(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("hyperplane_bits"),
      info("hyperplane_bits",
        "hyperplane_bits(v) - 48 fixed-seed random-hyperplane LSH sign bits"),
      (children: Seq[Expression]) => HyperplaneBits(children.head)))
    // Spark's runtime-filter bloom expressions are public catalyst
    // classes but not in the public function registry; expose them so
    // the incremental-dedup pre-screen can build/probe OR-merged (=
    // order-independent) fixed-size filters without custom sketch code.
    def expectArity(name: String, n: Int, children: Seq[Expression]): Unit =
      if (children.length != n) throw new IllegalArgumentException(
        s"$name expects $n arguments, got ${children.length}")
    ext.injectFunction((
      FunctionIdentifier("bloom_agg"),
      info("bloom_agg",
        "bloom_agg(xxh64, est_items, num_bits) - OR-merged bloom filter " +
          "over 64-bit hashes (binary)"),
      (children: Seq[Expression]) => {
        expectArity("bloom_agg(xxh64, est_items, num_bits)", 3, children)
        new BloomFilterAggregate(children(0), children(1), children(2))
      }))
    ext.injectFunction((
      FunctionIdentifier("bloom_contains"),
      info("bloom_contains",
        "bloom_contains(bloom, xxh64) - membership probe; no false negatives"),
      (children: Seq[Expression]) => {
        expectArity("bloom_contains(bloom, xxh64)", 2, children)
        BloomFilterMightContain(children(0), children(1))
      }))
    // k and w shape the expression itself, so they must be literal at
    // plan time; validate arity and foldability for a clean analysis
    // error instead of a builder ClassCastException.
    def intArg(e: Expression, name: String): Int = {
      if (!e.foldable) throw new IllegalArgumentException(
        s"$name must be a foldable integer literal")
      e.eval() match {
        case i: Int => i
        case l: Long if l.isValidInt => l.toInt
        case other => throw new IllegalArgumentException(
          s"$name must be an integer literal, got " +
            s"${Option(other).getOrElse("NULL")} (${e.dataType.catalogString})")
      }
    }
    ext.injectFunction((
      FunctionIdentifier("rolling_fingerprint"),
      info("rolling_fingerprint",
        "rolling_fingerprint(text, k, w) - winnowed Rabin-Karp k-gram fingerprint"),
      (children: Seq[Expression]) => {
        expectArity("rolling_fingerprint(text, k, w)", 3, children)
        RollingHashFingerprint(children.head,
          intArg(children(1), "k"), intArg(children(2), "w"))
      }))
    ext.injectFunction((
      FunctionIdentifier("poly_fingerprint"),
      info("poly_fingerprint",
        "poly_fingerprint(text, k, w) - winnowed codepoint-polynomial " +
          "k-gram fingerprint; exactly replayable in standard SQL"),
      (children: Seq[Expression]) => {
        expectArity("poly_fingerprint(text, k, w)", 3, children)
        PolyFingerprint(children.head,
          intArg(children(1), "k"), intArg(children(2), "w"))
      }))
    ext.injectFunction((
      FunctionIdentifier("word_gram_digests"),
      info("word_gram_digests",
        "word_gram_digests(tokens, n) - first-occurrence-distinct " +
          "poly_digest values of every word n-gram (space-joined), " +
          "computed without materializing gram strings; exactly " +
          "replayable in standard SQL"),
      (children: Seq[Expression]) => {
        expectArity("word_gram_digests(tokens, n)", 2, children)
        WordGramDigests(children.head, intArg(children(1), "n"))
      }))
    ext.injectFunction((
      FunctionIdentifier("word_gram_digests_bag"),
      info("word_gram_digests_bag",
        "word_gram_digests_bag(tokens, n) - one poly_digest per word " +
          "n-gram POSITION (occurrence bag, no distinctness), computed " +
          "without materializing gram strings; exactly replayable in " +
          "standard SQL"),
      (children: Seq[Expression]) => {
        expectArity("word_gram_digests_bag(tokens, n)", 2, children)
        WordGramDigestsBag(children.head, intArg(children(1), "n"))
      }))
    ext.injectFunction((
      FunctionIdentifier("word_gram_digests_bag2"),
      info("word_gram_digests_bag2",
        "word_gram_digests_bag2(tokens, n) - one poly_digest2 (both " +
          "PolyHash folds packed, keyspace ~2^59.8) per word n-gram " +
          "POSITION (occurrence bag, no distinctness), computed " +
          "without materializing gram strings; exactly replayable in " +
          "standard SQL"),
      (children: Seq[Expression]) => {
        expectArity("word_gram_digests_bag2(tokens, n)", 2, children)
        WordGramDigestsBag2(children.head, intArg(children(1), "n"))
      }))
    ext.injectFunction((
      FunctionIdentifier("word_gram_digests2"),
      info("word_gram_digests2",
        "word_gram_digests2(tokens, n) - first-occurrence-distinct " +
          "poly_digest2 values (both PolyHash folds packed, keyspace " +
          "~2^59.8) of every word n-gram, computed without " +
          "materializing gram strings; exactly replayable in " +
          "standard SQL"),
      (children: Seq[Expression]) => {
        expectArity("word_gram_digests2(tokens, n)", 2, children)
        WordGramDigests2(children.head, intArg(children(1), "n"))
      }))
    ext.injectFunction((
      FunctionIdentifier("kmv_kth"),
      info("kmv_kth",
        "kmv_kth(h, k) - KMV distinct sketch: struct(n_kept, kth) of " +
          "the k smallest distinct BIGINT hashes; exactly replayable " +
          "as ORDER BY h LIMIT k"),
      (children: Seq[Expression]) => {
        expectArity("kmv_kth(h, k)", 2, children)
        KmvKth(children.head, intArg(children(1), "k"))
      }))
    ext.injectFunction((
      FunctionIdentifier("kmv_sketch"),
      info("kmv_sketch",
        "kmv_sketch(h, k) - KMV distinct sketch as its sorted hash " +
          "array (the k smallest distinct BIGINT hashes, ascending); " +
          "closed under union trim, so sketch set algebra replays " +
          "exactly as ORDER BY h LIMIT k per operand"),
      (children: Seq[Expression]) => {
        expectArity("kmv_sketch(h, k)", 2, children)
        KmvSketch(children.head, intArg(children(1), "k"))
      }))
    ext.injectFunction((
      FunctionIdentifier("adc_scan"),
      info("adc_scan",
        "adc_scan(codes, lut[, cell, coarse]) - per lookup table, the sum " +
          "of the entries a packed BINARY(M) PQ code selects from a " +
          "foldable [T][M][K] table; with an IVF cell slot and a " +
          "foldable [C][T] coarse table, plus the cell's coarse term " +
          "(NULL where a table does not probe the cell)"),
      (children: Seq[Expression]) => children match {
        case Seq(codes, lut) => AdcScan(codes, lut)
        case Seq(codes, lut, cell, coarse) =>
          AdcScanCoarse(codes, lut, cell, coarse)
        case _ => throw new IllegalArgumentException(
          "adc_scan(codes, lut[, cell, coarse]) takes 2 or 4 arguments, " +
            s"got ${children.size}")
      }))
    ext.injectFunction((
      FunctionIdentifier("pq_decode"),
      info("pq_decode",
        "pq_decode(codes, book) - the PQ reconstruction a packed " +
          "BINARY(M) code selects from a foldable [M][K][w] codebook"),
      (children: Seq[Expression]) => {
        expectArity("pq_decode(codes, book)", 2, children)
        PqDecode(children(0), children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("top_c"),
      info("top_c",
        "top_c(score, id, payload, c) - the c best (score DESC, id ASC) " +
          "entries as array<struct<id, score, payload>>, best first; " +
          "bounded per-group state, partial-aggregated map-side"),
      (children: Seq[Expression]) => {
        expectArity("top_c(score, id, payload, c)", 4, children)
        TopC(children(0), children(1), children(2), intArg(children(3), "c"))
      }))
    ext.injectFunction((
      FunctionIdentifier("sign_pack32"),
      info("sign_pack32",
        "sign_pack32(v, offset) - 32 sign bits of v[offset..offset+31] " +
          "packed into a BIGINT in [0, 2^32)"),
      (children: Seq[Expression]) => {
        expectArity("sign_pack32(v, offset)", 2, children)
        SignPack32(children.head, intArg(children(1), "offset"))
      }))
  }
}
