package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.sources.Stores

class DedupSpec extends GraftSpec {
  import spark.implicits._

  private def textsDF(ts: (Long, String)*) =
    ts.toSeq.toDF("doc_id", "text")

  test("exact dedup keeps the min id and counts copies") {
    val df = textsDF(1L -> "aa bb cc", 5L -> "aa bb cc", 3L -> "zz yy",
      9L -> "aa bb cc")
    val got = Dedup.exact(df).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 3L), (3L, 1L)))
  }

  test("one-permutation minhash signature: agreement approximates true " +
      "Jaccard, identical texts collide fully, disjoint texts do not") {
    val common = (1 to 40).map(i => s"w$i").mkString(" ")
    val a = common + " " + (1 to 20).map(i => s"a$i").mkString(" ")
    val b = common + " " + (1 to 20).map(i => s"b$i").mkString(" ")
    val z = (1 to 60).map(i => s"z$i").mkString(" ")
    val sigs = textsDF(1L -> a, 2L -> b, 3L -> a, 4L -> z)
      .selectExpr("doc_id", "minhash_gram_sig(split(text, ' '), 3) AS sig")
      .orderBy("doc_id").collect()
      .map(_.getSeq[Long](1).toIndexedSeq)
    def agree(x: IndexedSeq[Long], y: IndexedSeq[Long]) =
      x.zip(y).count { case (u, v) => u == v }.toDouble / Dedup.NumHashes
    // identical text → identical signature; disjoint → ~zero agreement
    assert(sigs(0) == sigs(2), "identical texts must collide slot-wise")
    assert(agree(sigs(0), sigs(3)) < 0.15,
      s"disjoint texts agree ${agree(sigs(0), sigs(3))}")
    val shA = a.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val shB = b.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val trueJ = (shA & shB).size.toDouble / (shA | shB).size
    assert(math.abs(agree(sigs(0), sigs(1)) - trueJ) < 0.2,
      s"OPH estimate ${agree(sigs(0), sigs(1))} vs true Jaccard $trueJ")
    // densification never leaves an empty sentinel in the signature —
    // a 3-word doc occupies at most 1 slot and borrows the other 63
    val tiny = textsDF(9L -> "just three words")
      .selectExpr("minhash_gram_sig(split(text, ' '), 3) AS sig")
      .collect().head.getSeq[Long](0)
    assert(tiny.length == Dedup.NumHashes && !tiny.contains(Long.MaxValue))
  }

  test("band geometry derives from corpus count: default at gate " +
      "scales, one slot per doubling past 16384, recall-scaled bands") {
    import Dedup.{autoGeometry, BandGeometry}
    // gate scales keep the original 16x4 geometry BIT-FOR-BIT
    assert(autoGeometry(500L) == BandGeometry(16, 4))
    assert(autoGeometry(5000L) == BandGeometry(16, 4))
    assert(autoGeometry(16384L) == BandGeometry(16, 4))
    // one slot per doubling past GeometryOccupancy << 4
    assert(autoGeometry(16385L) == BandGeometry(20, 5))
    assert(autoGeometry(50000L) == BandGeometry(25, 6))
    assert(autoGeometry(1000000L) == BandGeometry(62, 10)) // ~2^20 docs
    // 10^9 docs hit the r=16 clamp — the RefinedWeb-scale regime
    assert(autoGeometry(1000000000L) == BandGeometry(233, 16))
    // bands hold recall: expected agreeing-band mass b*0.8^r never
    // drops below the default geometry's 16*0.8^4
    (4 to 16).foreach { r =>
      val b = Dedup.autoBands(r)
      assert(b * math.pow(0.8, r.toDouble) >=
        16 * math.pow(0.8, 4.0) - 1e-9, s"recall mass lost at r=$r")
    }
    // the widened slot map is bit-identical to the original at 64
    val toks = "the quick brown fox jumps over the lazy dog tonight"
    val cmpRow = textsDF(1L -> toks)
      .selectExpr("minhash_gram_sig(split(text, ' '), 3, 64) AS a",
        "minhash_gram_sig(split(text, ' '), 3) AS b")
      .collect().head
    val (s64, sDefault) =
      (cmpRow.getSeq[Long](0).toIndexedSeq, cmpRow.getSeq[Long](1).toIndexedSeq)
    assert(s64 == sDefault,
      "slots=64 must reproduce the original top-6-bit slot map exactly")
    // and a WIDENED geometry still finds planted near-dups: same docs,
    // one word changed, forced through the 25x6 (150-slot) geometry
    val base = (1 to 50).map(i => s"tok$i").mkString(" ")
    val docs = textsDF(1L -> base, 2L -> (base + " extra"),
      3L -> (1 to 50).map(i => s"other$i").mkString(" "))
    val (cands, _) = Dedup.minhashCandidatesAudited(docs,
      geometry = Some(BandGeometry(25, 6)))
    val got = cands.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)),
      s"wide geometry lost the planted near-dup pair: $got")
    assert(!got.contains((1L, 3L)) && !got.contains((2L, 3L)),
      s"disjoint doc co-bucketed under wide geometry: $got")
  }

  test("simhash: identical texts collide, disjoint texts are distant") {
    val df = textsDF(
      1L -> "spark scales out with partitions and shuffles",
      2L -> "spark scales out with partitions and shuffles",
      3L -> "entirely different words about cooking pasta tonight")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        call_function("simhash64", col("toks")).as("h"))
    val h = df.orderBy("doc_id").collect().map(_.getLong(1))
    def hamming(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(hamming(h(0), h(1)) == 0)
    assert(hamming(h(0), h(2)) > 10)
  }

  test("minhash LSH finds the planted near-dup pairs, ordered a<b") {
    val pairs = Dedup.minhashPairs(
      graft.sources.Tables.load(spark, sf, "documents")).collect()
    assert(pairs.nonEmpty, "no near-dup pairs found at sf0.001")
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.8)
    }
  }

  test("incremental near-dup verdicts: history probe, batch probe, keep") {
    val base = "the quick brown fox jumps over the lazy dog again and " +
      "again while the sun sets slowly behind the quiet green hills today"
    val history = textsDF(
      1L -> base,
      2L -> "completely different historical text about glaciers and ice")
    val novel = "a novel batch document about submarine volcanoes that " +
      "erupt deep below the pacific surface forming new islands of " +
      "black basalt rock over many thousand patient years"
    val batch = textsDF(
      3L -> (base + " extra"),            // near-dup of history doc 1
      6L -> (novel + " indeed"),
      9L -> (novel + " truly"),
      12L -> "nothing like anything else in either corpus at all here")
    val got = Dedup.incrementalNear(history, batch).collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(got(3L) == ((true, false, false)), s"3: ${got(3L)}")
    // 6 and 9 differ only in the final token, which lives in exactly
    // one 3-shingle: J = 24/26 ≈ 0.92 ≥ 0.8 — min id keeps
    assert(got(6L) == ((false, false, true)), s"6: ${got(6L)}")
    assert(got(9L) == ((false, true, false)), s"9: ${got(9L)}")
    assert(got(12L) == ((false, false, true)), s"12: ${got(12L)}")
  }

  test("persisted LSH store: geometry pins from the CEILING at build, " +
      "a probe across an autoGeometry rung reads history bands as-is " +
      "(no re-band), and verdicts equal the in-face face") {
    val base = "the quick brown fox jumps over the lazy dog again and " +
      "again while the sun sets slowly behind the quiet green hills today"
    val novel = "a novel batch document about submarine volcanoes that " +
      "erupt deep below the pacific surface forming new islands of " +
      "black basalt rock over many thousand patient years"
    val history = textsDF(
      1L -> base,
      2L -> "completely different historical text about glaciers and ice")
    val batch = textsDF(
      3L -> (base + " extra"),
      6L -> (novel + " indeed"),
      9L -> (novel + " truly"),
      12L -> "nothing like anything else in either corpus at all here")
    // ceiling 20000 sits past the 16384 autoGeometry rung, so the
    // PINNED geometry is strictly wider than what the live count (6
    // docs) derives — exactly the drift scenario the pin exists for
    val ceiling = 20000L
    val pinned = Dedup.autoGeometry(ceiling)
    assert(pinned != Dedup.autoGeometry(6L),
      "fixture must cross a geometry rung to prove anything")
    val path = java.nio.file.Files
      .createTempDirectory("lsh_store_spec").toString + "/store"
    Stores.ensure(path)(tmp => Dedup.buildLshStore(history, tmp, ceiling))
    // sidecar carries the ceiling-derived geometry, not the live one
    val geo = Stores.geometry(spark, Stores.Lsh, path,
      "bands INT, rows_per_band INT, hist_count BIGINT")
    assert(geo.getAs[Int]("bands") == pinned.bands &&
      geo.getAs[Int]("rows_per_band") == pinned.rowsPerBand)
    assert(geo.getAs[Long]("hist_count") == 2L)
    // probe must not touch the persisted band rows
    val bandsDir = java.nio.file.Paths.get(s"$path/bands")
    def bandState() = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(bandsDir).iterator().asScala
        .map(p => p.getFileName.toString ->
          java.nio.file.Files.getLastModifiedTime(p)).toMap
    }
    val before = bandState()
    val got = Dedup.incrementalNearServe(history, batch, path).collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(bandState() == before,
      "probe modified the persisted band store — it must be read-only")
    // same verdicts as the in-face derivation at the live geometry:
    // the wider pinned geometry holds recall, the verify stage is exact
    val want = Dedup.incrementalNear(history, batch).collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(got == want, s"serve=$got vs in-face=$want")
    assert(got(3L) == ((true, false, false)))
  }

  test("persisted LSH store refusals: corpus past the pinned ceiling, " +
      "history past the ceiling at build, corrupt sidecar geometry") {
    val history = textsDF(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "one two three four five six seven eight nine ten eleven")
    val batch = textsDF(
      3L -> "completely novel text that matches nothing in the store")
    val dir = java.nio.file.Files
      .createTempDirectory("lsh_store_refuse").toString
    // live (2 + 1) > ceiling (2): the probe must refuse, not degrade
    val p1 = s"$dir/tight"
    Stores.ensure(p1)(tmp =>
      Dedup.buildLshStore(history, tmp, corpusCeiling = 2L))
    val e1 = intercept[IllegalArgumentException] {
      Dedup.incrementalNearServe(history, batch, p1).collect()
    }
    assert(e1.getMessage.contains("exceeds the pinned ceiling"),
      e1.getMessage)
    // build refuses a ceiling below the data in hand
    val e2 = intercept[IllegalArgumentException] {
      Dedup.buildLshStore(history, s"$dir/under", corpusCeiling = 1L)
    }
    assert(e2.getMessage.contains("exceeds the pinned corpus ceiling"),
      e2.getMessage)
    // a sidecar whose geometry disagrees with its recorded ceiling is
    // a corrupt/foreign store — refused before any probe work
    val p3 = s"$dir/corrupt"
    Stores.ensure(p3)(tmp =>
      Dedup.buildLshStore(history, tmp, corpusCeiling = 100L))
    Stores.writeGeometry(spark, p3,
      "bands INT, rows_per_band INT, corpus_ceiling BIGINT, hist_count BIGINT",
      999, 7, 100L, 2L)
    val e3 = intercept[IllegalArgumentException] {
      Dedup.incrementalNearServe(history, batch, p3).collect()
    }
    assert(e3.getMessage.contains("does not match its recorded ceiling"),
      e3.getMessage)
  }

  test("persisted LSH store refuses a DRIFTED history: docs added " +
      "since build have no band rows and must not be probed silently") {
    // advice r15 #1: a history that grew after buildLshStore (but is
    // still under the ceiling) passes the stored-count ceiling check,
    // yet its new docs have NO band rows — near-dups against them
    // would be silently missed. The probe must compare the PASSED
    // frame against the sidecar's hist_count and refuse.
    val builtHistory = textsDF(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "one two three four five six seven eight nine ten eleven")
    val grownHistory = builtHistory.unionByName(textsDF(
      4L -> "a brand new history document appended after the build ran"))
    val batch = textsDF(
      3L -> "completely novel text that matches nothing in the store")
    val path = java.nio.file.Files
      .createTempDirectory("lsh_store_drift").toString + "/store"
    Stores.ensure(path)(tmp =>
      Dedup.buildLshStore(builtHistory, tmp, corpusCeiling = 100L))
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalNearServe(grownHistory, batch, path).collect()
    }
    assert(e.getMessage.contains("NO band rows"), e.getMessage)
    // the exact built history still probes fine
    val ok = Dedup.incrementalNearServe(builtHistory, batch, path)
      .collect()
    assert(ok.length == 1 && ok(0).getBoolean(3), "batch doc must keep")
  }

  test("packed subset key never exceeds 63 bits on any valid Long " +
      "geometry, and a hypothetical wider signature is refused") {
    // advice r15 #4: the subset bucket key packs (chunks - maxDist)
    // width-w chunk values into one Long. For every geometry the
    // non-empty-chunk rule admits at totalBits <= 64 the pack fits:
    // w·(chunks−maxDist) <= w·(chunks−1) < totalBits <= 64. Sweep the
    // full valid lattice to pin the implication ...
    for {
      totalBits <- 1 to 64
      chunks <- 2 to Dedup.MaxSimhashChunks
      w = (totalBits + chunks - 1) / chunks
      if totalBits > w * (chunks - 1) // the non-empty-chunk rule
      maxDist <- 1 until chunks
    } assert(w * (chunks - maxDist) <= 63,
      s"pack overflow at totalBits=$totalBits chunks=$chunks " +
        s"maxDist=$maxDist")
    // ... and the explicit require still catches a wider-than-Long
    // signature face someone might wire up later (80 bits, 10 chunks,
    // maxDist=1: non-empty holds at w=8 but the pack needs 72 bits)
    import spark.implicits._
    val sigs = Seq((1L, 1L), (2L, 2L)).toDF("doc_id", "simhash")
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashPairsFrom(sigs, totalBits = 80, maxDist = 1,
        chunks = 10)
    }
    assert(e.getMessage.contains("would wrap"), e.getMessage)
  }

  test("simhash pairs respect the hamming bound and ordering") {
    val pairs = Dedup.polySimhashPairs(
      graft.sources.Tables.load(spark, sf, "documents")).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) <= 3L)
    }
  }

  test("subset-bucketed hamming pairs are EXACT vs brute force on " +
      "random signatures at both face widths") {
    // the chunk-subset pigeonhole (hamming<=3 => a full 3-of-6-chunk
    // subset matches) must lose nothing and add nothing relative to
    // the all-pairs definition — including planted pairs at hamming
    // exactly 3 (spread across 3 chunks, the worst case) and exactly
    // 4 (must be filtered), and including bit 63 of the 64-bit face
    // (arithmetic-shift sign-extension territory)
    val rnd = new scala.util.Random(42)
    Seq(60, 64).foreach { bits =>
      def mask(x: Long) = if (bits == 64) x else x & ((1L << bits) - 1)
      val base = Array.fill(40)(mask(rnd.nextLong()))
      val planted = base.take(10).zipWithIndex.flatMap { case (s, i) =>
        val d3 = s ^ (1L << (bits - 1)) ^ (1L << (bits / 2)) ^ 1L
        val d4 = s ^ (1L << (bits - 2)) ^ (1L << (bits / 3)) ^
          (1L << (bits / 5)) ^ 2L
        Seq(d3, d4)
      }
      val sigs = (base ++ planted).zipWithIndex
        .map { case (s, i) => (i.toLong, s) }.toSeq
        .toDF("doc_id", "simhash")
      val got = Dedup.simhashPairsFrom(sigs, totalBits = bits, maxDist = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val all = (base ++ planted).zipWithIndex
      val want = (for {
        (x, i) <- all; (y, j) <- all
        if i < j
        h = java.lang.Long.bitCount(x ^ y)
        if h <= 3
      } yield (i.toLong, j.toLong, h.toLong)).toSet
      assert(want.nonEmpty, s"bits=$bits: fixture planted no pairs")
      assert(got == want,
        s"bits=$bits: missing=${(want -- got).take(5)} " +
          s"extra=${(got -- want).take(5)}")
    }
  }

  test("autoSimhashChunks: gate scales keep the 6-chunk geometry " +
      "bit-for-bit, knees widen it monotonically, invalid rungs are " +
      "skipped, the ladder caps at 12") {
    // every gate-scale corpus (and well past it) stays on the default
    // split — the oracle replays the same geometry the corpus derives
    Seq(0L, 1L, 600L, 60000L, 600000L, 50000000L).foreach { n =>
      assert(Dedup.autoSimhashChunks(n, 60) == 6, s"n=$n @60")
      assert(Dedup.autoSimhashChunks(n, 64) == 6, s"n=$n @64")
    }
    // the 60-bit rung thresholds: C(k,3)·n ≤ 2^subsetBits(k) with
    // subsetBits 30,33,36,39,42,45 for k=6..10,12 (k=11 invalid: the
    // ceil-width split leaves an empty last chunk)
    assert(Dedup.autoSimhashChunks((1L << 30) / 20, 60) == 6)
    assert(Dedup.autoSimhashChunks((1L << 30) / 20 + 1, 60) == 7)
    assert(Dedup.autoSimhashChunks(1000000000L, 60) == 8)
    assert(Dedup.autoSimhashChunks((1L << 42) / 120, 60) == 10)
    assert(Dedup.autoSimhashChunks((1L << 42) / 120 + 1, 60) == 12,
      "k=11 must be skipped at 60 bits (empty last chunk)")
    assert(Dedup.autoSimhashChunks(Long.MaxValue, 60) == 12,
      "past every rung the ladder clamps at MaxSimhashChunks")
    // monotone in n at both face widths
    Seq(60, 64).foreach { bits =>
      val ks = Seq(1L, 1000L, 1e8.toLong, 1e10.toLong, 1e12.toLong,
        Long.MaxValue).map(Dedup.autoSimhashChunks(_, bits))
      assert(ks == ks.sorted, s"bits=$bits: not monotone: $ks")
      assert(ks.last <= Dedup.MaxSimhashChunks)
    }
    // the image-face floor (minChunks = maxDist+1 = 4): small corpora
    // keep the 4-single-chunk explode cost, the knee sits at
    // C(4,3)·n > 2^16, and the ladder rejoins the text rungs above it
    assert(Dedup.autoSimhashChunks(16384, 64, minChunks = 4) == 4)
    assert(Dedup.autoSimhashChunks(16385, 64, minChunks = 4) == 5)
    assert(Dedup.autoSimhashChunks(50000, 64, minChunks = 4) == 5)
    assert(Dedup.autoSimhashChunks(100000000L, 64, minChunks = 4) ==
      Dedup.autoSimhashChunks(100000000L, 64),
      "above the text floor the two ladders must agree")
    // a floor at or below maxDist would break the pigeonhole — refused
    val e = intercept[IllegalArgumentException] {
      Dedup.autoSimhashChunks(10, 64, minChunks = 3)
    }
    assert(e.getMessage.contains("pigeonhole"), e.getMessage)
  }

  test("subset-bucketed hamming pairs stay EXACT at WIDENED chunk " +
      "geometries (every valid ladder rung, both face widths)") {
    // the pigeonhole recall claim autoSimhashChunks rides on: for any
    // k > maxDist the subset bucketing loses nothing and adds nothing
    // vs brute force — planted hamming-3 neighbors spread across 3
    // DIFFERENT chunks (worst case) plus hamming-4 decoys included
    val rnd = new scala.util.Random(7)
    Seq(60, 64).foreach { bits =>
      def mask(x: Long) = if (bits == 64) x else x & ((1L << bits) - 1)
      val base = Array.fill(30)(mask(rnd.nextLong()))
      val planted = base.take(8).flatMap { s =>
        Seq(s ^ (1L << (bits - 1)) ^ (1L << (bits / 2)) ^ 1L,
          s ^ (1L << (bits - 2)) ^ (1L << (bits / 3)) ^
            (1L << (bits / 5)) ^ 2L)
      }
      val all = (base ++ planted).zipWithIndex
      val want = (for {
        (x, i) <- all; (y, j) <- all
        if i < j
        h = java.lang.Long.bitCount(x ^ y)
        if h <= 3
      } yield (i.toLong, j.toLong, h.toLong)).toSet
      assert(want.nonEmpty)
      val sigs = all.map { case (s, i) => (i.toLong, s) }.toSeq
        .toDF("doc_id", "simhash")
      val rungs = (4 to Dedup.MaxSimhashChunks).filter { k =>
        val w = (bits + k - 1) / k
        bits > w * (k - 1)
      }
      rungs.foreach { k =>
        val got = Dedup
          .simhashPairsFrom(sigs, totalBits = bits, maxDist = 3,
            chunks = k)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet
        assert(got == want,
          s"bits=$bits chunks=$k: missing=${(want -- got).take(5)} " +
            s"extra=${(got -- want).take(5)}")
      }
    }
  }

  test("simhashPairsFrom rejects signature widths that leave empty " +
      "chunks (negative mask widths)") {
    val sigs = Seq((1L, 5L), (2L, 6L)).toDF("doc_id", "simhash")
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashPairsFrom(sigs, totalBits = 7, maxDist = 3)
    }
    assert(e.getMessage.contains("empty chunks"), e.getMessage)
    // the supported faces still pass the guard
    Dedup.simhashPairsFrom(sigs, totalBits = 60, maxDist = 3).collect()
    Dedup.simhashPairsFrom(sigs, totalBits = 64, maxDist = 3).collect()
  }

  test("contamination flags verbatim 13-gram overlap with the benchmark") {
    val span = (1 to 15).map(i => s"s$i").mkString(" ") // 15 shared words
    val benchDoc = span + " " + (1 to 10).map(i => s"b$i").mkString(" ")
    val leaked = (1 to 5).map(i => s"p$i").mkString(" ") + " " + span
    val clean = (1 to 30).map(i => s"c$i").mkString(" ")
    val df = textsDF(0L -> benchDoc, 7L -> leaked, 9L -> clean)
    val got = Dedup.contamination(df, col("doc_id") === 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.contains(0L), "benchmark doc must self-match")
    // 15-word shared span → 3 distinct 13-gram starts in each doc
    assert(got(7L) == 3L, s"leaked doc hits: ${got.get(7L)}")
    assert(!got.contains(9L), "clean doc must not be flagged")
  }

  test("bloom pre-screen is exact even when the filter is tiny") {
    val history = textsDF(1L -> "aa bb", 2L -> "cc dd", 4L -> "ee ff")
    val batch = textsDF(3L -> "cc dd", 6L -> "gg hh", 9L -> "aa bb",
      12L -> "ii jj")
    val expected = Map(3L -> true, 6L -> false, 9L -> true, 12L -> false)
    // default sizing AND a deliberately saturated 64-bit filter: false
    // positives are verified away by the store join, false negatives
    // cannot occur, so is_dup is exact in both regimes
    Seq((1L << 20, 8L << 20), (4L, 64L)).foreach { case (items, bits) =>
      val got = Dedup.bloomIncremental(history, batch, items, bits)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(got == expected, s"items=$items bits=$bits: $got")
    }
  }

  test("cluster resolution maps chained pairs to the min id") {
    // components: {1,2,3,9} via chain 9-2, 2-1, 1-3; {5,7}; {8,11}
    val pairs = Seq((2L, 9L), (1L, 2L), (1L, 3L), (5L, 7L), (8L, 11L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.resolveClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L,
      7L -> 5L, 8L -> 8L, 9L -> 1L, 11L -> 8L))
  }

  test("cluster resolution detects an existing star forest in one round") {
    // input already in canonical star shape → the first full round is
    // an identity and the signature check stops the loop immediately
    val pairs = Seq((0L, 5L), (0L, 9L), (0L, 17L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.resolveClustersCounted(pairs)
    assert(rounds == 1, s"star input took $rounds rounds")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 5L -> 0L, 9L -> 0L, 17L -> 0L,
      20L -> 20L, 21L -> 20L))
  }

  test("bloom filter has no false negatives and a sane FP rate") {
    val n = 2000
    val members = spark.range(n).select(col("id").as("h"))
    val bloom = members
      .agg(call_function("bloom_agg", col("h"), lit(n.toLong),
        lit(8L * 8L * n)).as("b")) // ~8 bits/item → fpp ~2%
      .head.getAs[Array[Byte]]("b")
    val hits = spark.range(n).select((col("id") + 1000000L).as("h"))
      .select(call_function("bloom_contains", lit(bloom), col("h")).as("m"))
      .filter(col("m")).count()
    assert(hits < n * 0.05, s"FP rate ${hits.toDouble / n} >= 5%")
    val misses = members
      .select(call_function("bloom_contains", lit(bloom), col("h")).as("m"))
      .filter(!col("m")).count()
    assert(misses == 0, s"bloom dropped $misses true members")
  }

  test("cluster resolution labels reflexive-only nodes as their own root") {
    // a node whose only pair evidence is a self-pair must still appear
    // in the map, labeled as itself (regression: the star rounds drop
    // self-pairs, so these nodes exist only in the original pair set)
    val pairs = Seq((7L, 7L), (1L, 3L), (3L, 3L)).toDF("doc_a", "doc_b")
    val got = Dedup.resolveClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 3L -> 1L, 7L -> 7L))
  }

  test("cluster resolution agrees with union-find on random graphs") {
    // fixed-seed random graphs of mixed shape (cliques, chains, forks)
    // cross-checked against a local union-find reference — the
    // strongest equivalence evidence short of the DuckDB oracle
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 60 + trial * 20
      val edges = (1 to n).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter { case (a, b) => a != b }
      val parent = Array.tabulate(n.toLong.toInt)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        .map(x => x -> {
          // path-compress to the true min of the component
          var r = x.toInt; while (parent(r) != r) r = parent(r); r.toLong
        }).toMap
      val got = Dedup.resolveClusters(
        edges.toDF("doc_a", "doc_b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial (n=$n) mismatch")
    }
  }

  test("cluster resolution converges on a long chain in O(log n) rounds") {
    // 64-node path graph (diameter 63): the chain-shaped dup graph —
    // serial boilerplate drift — where plain min-label propagation
    // needs diameter supersteps (63 here, past any sane maxIter).
    // Large-star/small-star must resolve it in <= 2·log₂(n) rounds.
    val n = 64
    val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1))
      .toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.resolveClustersCounted(pairs)
    val got = labels.collect()
    assert(got.length == n && got.forall(_.getLong(1) == 0L),
      s"chain not fully resolved: ${got.take(10).mkString(",")}")
    assert(rounds <= 12, // 2·log₂(64), the Kiveris convergence contract
      s"needed $rounds rounds on a 64-chain — not O(log n)")
  }

  test("star-round count grows by at most one per chain DOUBLING — " +
      "the log-growth contract dedup_embedding's cluster stage rides") {
    // the r14 growth curve measured the min-label+pointer-jump loop at
    // α=1.55 because chain-shaped clusters deepen with n; the star
    // rounds this registry face now uses must pay ≤ +1 round per 2×
    def chainRounds(n: Int): Int = {
      val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1))
        .toDF("doc_a", "doc_b")
      val (labels, rounds) = Dedup.resolveClustersCounted(pairs)
      assert(labels.collect().forall(_.getLong(1) == 0L),
        s"n=$n chain not fully resolved")
      rounds
    }
    val rounds = Seq(32, 64, 128, 256).map(chainRounds)
    rounds.zip(rounds.tail).foreach { case (a, b) =>
      assert(b <= a + 1,
        s"doubling the chain cost more than one extra round: $rounds")
    }
    Seq(32, 64, 128, 256).zip(rounds).foreach { case (n, r) =>
      assert(r <= 2 * (math.log(n) / math.log(2)).ceil.toInt,
        s"n=$n took $r rounds — above the 2·log₂(n) contract")
    }
  }

  test("segment dedup keeps exactly the first occurrence of every " +
    "segment and conserves the distinct-segment count") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j K L M N O P Q R S T"), // 2 segments
      (2L, "a b c d e f g h i j x y z"),     // seg 1 dups doc 1, tail unique
      (3L, "K L M N O P Q R S T"),           // whole doc dups doc 1 seg 2
      (4L, "a b c d e f g h i j"))           // whole doc dups doc 1 seg 1
      .toDF("doc_id", "text")
    val got = Dedup.segmentDedup(docs).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    // doc 1 keeps everything (it is the first occurrence of both segs)
    assert(got(0).getLong(2) == 2 &&
      got(0).getString(3) == "a b c d e f g h i j K L M N O P Q R S T")
    // doc 2 loses its first window, keeps the unique tail
    assert(got(1).getLong(2) == 1 && got(1).getString(3) == "x y z")
    // docs 3 and 4 vanish entirely (NULL text, zero kept)
    assert(got(2).getLong(2) == 0 && got(2).isNullAt(3))
    assert(got(3).getLong(2) == 0 && got(3).isNullAt(3))
    // conservation: kept segments == distinct segments in the corpus
    val distinctSegs = docs.as[(Long, String)].collect()
      .flatMap { case (_, t) => t.split(" ").grouped(10).map(_.mkString(" ")) }
      .distinct.length
    assert(got.map(_.getLong(2)).sum == distinctSegs)
    // corpus-scale sanity: deterministic and non-vacuous on documents
    val big = Dedup.segmentDedup(
      graft.sources.Tables.load(spark, sf, "documents")).collect()
    assert(big.nonEmpty && big.exists(r => r.getLong(2) < r.getLong(1)),
      "segment dedup dropped nothing on the near-dup-bearing corpus")
  }

  test("span removal excises exactly the duplicated word ranges, " +
    "keeps first occurrences, merges overlapping anchors, and " +
    "handles short-doc and within-doc repeats") {
    import spark.implicits._
    def ws(a: Int, b: Int) = (a to b).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      // 1: 30 unique words — the first occurrence of everything below
      (1L, ws(1, 30)),
      // 2: unique head + copy of doc 1's w1..w15 + unique tail — the
      // three duplicated grams' covered ranges merge to ONE island
      // that is exactly the copied 15 words
      (2L, "u1 u2 u3 u4 u5 " + ws(1, 15) + " v1 v2 v3 v4 v5"),
      // 3: verbatim copy of doc 1 — everything removed, NULL text
      (3L, ws(1, 30)),
      // 4: short unique doc (<13 words → one whole-doc gram)
      (4L, ws(40, 49)),
      // 5: short copy of doc 4 — its single whole-doc gram anchors,
      // clamped to the doc end
      (5L, ws(40, 49)),
      // 6: a 13-word run repeated WITHIN one doc + unique tail — the
      // second copy anchors, the first stays
      (6L, ws(60, 72) + " " + ws(60, 72) + " z1"))
      .toDF("doc_id", "text")
    val got = Dedup.spanRemoval(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getString(4)))
    assert(got.toSeq == Seq(
      (1L, 30L, 0L, 0L, ws(1, 30)),
      (2L, 25L, 1L, 15L, "u1 u2 u3 u4 u5 v1 v2 v3 v4 v5"),
      (3L, 30L, 1L, 30L, null),
      (4L, 10L, 0L, 0L, ws(40, 49)),
      (5L, 10L, 1L, 10L, null),
      (6L, 27L, 1L, 13L, ws(60, 72) + " z1")))
    // corpus-scale sanity: non-vacuous on the near-dup-bearing corpus,
    // and internally consistent (spans ⇔ removals, removals ≤ words)
    val big = Dedup.spanRemoval(
      graft.sources.Tables.load(spark, sf, "documents")).collect()
    assert(big.nonEmpty && big.exists(_.getLong(3) > 0),
      "span removal excised nothing on the near-dup-bearing corpus")
    big.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1))
      assert((r.getLong(2) > 0) == (r.getLong(3) > 0))
      assert((r.getLong(3) == r.getLong(1)) == r.isNullAt(4))
    }
  }

  test("decontam spans scrub exactly the benchmark-overlapping word " +
    "ranges from training docs and exclude benchmark members") {
    import spark.implicits._
    def ws(a: Int, b: Int) = (a to b).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      // 0: the BENCHMARK item (pred doc_id % 2 === 0 here)
      (0L, ws(1, 20)),
      // 1: clean training doc — untouched
      (1L, ws(100, 125)),
      // 3: training doc quoting the benchmark's w3..w17 mid-document —
      // exactly the quoted 15 words scrubbed (anchors at the three
      // fully-inside gram positions merge to one island)
      (3L, "a1 a2 a3 a4 a5 " + ws(3, 17) + " b1 b2 b3 b4 b5"),
      // 5: training doc that IS benchmark text verbatim — fully
      // scrubbed, NULL text (every gram is a benchmark gram)
      (5L, ws(1, 20)))
      .toDF("doc_id", "text")
    val got = Dedup.decontamSpans(docs, col("doc_id") % 2 === 0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getString(4)))
    assert(got.toSeq == Seq(
      (1L, 26L, 0L, 0L, ws(100, 125)),
      (3L, 25L, 1L, 15L, "a1 a2 a3 a4 a5 b1 b2 b3 b4 b5"),
      (5L, 20L, 1L, 20L, null)))
    // the scrub's complement of the flag: every doc contamination
    // flags with n_hits > 0 loses words here, and clean docs lose none
    val corpus = graft.sources.Tables.load(spark, sf, "documents")
    val flagged = Dedup.contamination(corpus, col("doc_id") % 50 === 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scrubbed = Dedup.decontamSpans(corpus, col("doc_id") % 50 === 0)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(scrubbed.nonEmpty && scrubbed.keySet.forall(_ % 50 != 0))
    scrubbed.foreach { case (id, removed) =>
      assert((removed > 0) == (flagged.getOrElse(id, 0L) > 0),
        s"doc $id: scrub/flag disagree (removed=$removed, " +
          s"hits=${flagged.getOrElse(id, 0L)})")
    }
    assert(scrubbed.values.exists(_ > 0),
      "fixture corpus has no benchmark leakage to scrub")
  }

  test("near-contamination catches paraphrased eval leaks that " +
    "verbatim containment misses") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    // doc 3: the eval doc verbatim; doc 5: lightly paraphrased (3 of 30
    // words changed — kills every 13-gram but keeps trigram Jaccard
    // high); doc 7: unrelated
    val para = ((1 to 30).map(i => s"tok$i").take(10) ++ Seq("X") ++
      (12 to 20).map(i => s"tok$i") ++ Seq("Y") ++
      (22 to 30).map(i => s"tok$i")).mkString(" ")
    val fixture = Seq(
      (3L, base), (5L, para),
      (7L, (100 to 130).map(i => s"other$i").mkString(" ")),
      (40L, base)) // 40 % 40 == 0 → the eval member
      .toDF("doc_id", "text")
    val near = Dedup.nearContamination(fixture, col("doc_id") % 40 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // verbatim leak (3) and the eval doc itself (40) match at 1.0
    assert(near.contains((3L, 40L, 1.0)) && near.contains((40L, 40L, 1.0)))
    // the paraphrase is caught near, 0.5 <= j < 1
    val pj = near.collectFirst { case (5L, 40L, j) => j }
    assert(pj.exists(j => j >= 0.5 && j < 1.0), s"paraphrase: $near")
    assert(!near.exists(_._1 == 7L), "unrelated doc flagged")
    // ...while the verbatim 13-gram rule misses exactly the paraphrase
    val verbatim = Dedup.contamination(fixture, col("doc_id") % 40 === 0)
      .collect().map(_.getLong(0)).toSet
    assert(verbatim == Set(3L, 40L), s"verbatim: $verbatim")
  }

  test("cluster weights: one row per representative, sizes sum to the " +
    "corpus, singletons weigh 1") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val out = Dedup.clusterWeights(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.map(_._2).sum == docs.count(), "weights must sum to corpus")
    assert(out.map(_._1).distinct.length == out.length)
    assert(out.exists(_._2 > 1), "no multi-doc cluster on the " +
      "near-dup-bearing corpus — weight face is vacuous")
    // representatives are cluster minima: no member id below its rep
    val labels = Dedup.nearDupClusters(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    labels.foreach { case (d, k) => assert(k <= d) }
  }

  test("keep-best: exactly one keep per cluster, and it is the longest " +
      "member with min-id tie-break, on a fixture where that is NOT " +
      "the min id") {
    // 1 and 2 are near-identical (long), 3 matches them and is the
    // SHORTEST; min id keeps 1 anyway — so flip lengths: make doc 1
    // the shortest so keep-best must pick 2, not the representative
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base, base.length.toLong),
      (2L, base + " extra tail words here", base.length + 23L),
      (9L, "totally different content entirely unrelated text", 49L))
      .toDF("doc_id", "text", "n_chars")
    val got = Dedup.keepBest(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val clustered = got.map(_._1).toSet
    assert(clustered == Set(1L, 2L), s"clustered set $clustered")
    assert(got.forall(_._2 == 1L), "cluster rep should be min id 1")
    assert(got.count(_._4) == 1)
    assert(got.find(_._4).get._1 == 2L,
      "keep must go to the LONGEST member, not the representative")
    // corpus-level: one keep per cluster, always the (len desc, id)
    // argmax — full driver replay
    val corpus = graft.sources.Tables.load(spark, sf, "documents")
    val out = Dedup.keepBest(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    out.groupBy(_._2).foreach { case (c, members) =>
      val best = members.minBy(m => (-m._3, m._1))
      members.foreach { m =>
        assert(m._4 == (m == best), s"cluster $c keep verdict wrong")
      }
    }
  }

  test("substring stats: shared boilerplate counts per-gram, whole-doc " +
      "copies saturate, unique text stays clean") {
    val boiler = (1 to 20).map(i => s"b$i").mkString(" ") // 20 shared words
    val df = textsDF(
      1L -> (boiler + " " + (1 to 30).map(i => s"x$i").mkString(" ")),
      2L -> (boiler + " " + (1 to 30).map(i => s"y$i").mkString(" ")),
      3L -> (1 to 50).map(i => s"z$i").mkString(" "), // fully unique
      4L -> (1 to 50).map(i => s"z$i").mkString(" "), // exact copy of 3
      5L -> "short doc") // < 13 tokens → one short gram
    val got = Dedup.substringStats(df).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
    // 50-token docs have 38 distinct 13-grams; docs 1/2 share exactly
    // the 8 grams fully inside the 20-word boilerplate prefix
    assert(got(1L) == ((38L, 8L, true)), s"doc 1: ${got(1L)}")
    assert(got(2L) == ((38L, 8L, true)), s"doc 2: ${got(2L)}")
    // exact copies: every gram duplicated, fraction 1
    assert(got(3L) == ((38L, 38L, true)))
    assert(got(4L) == ((38L, 38L, true)))
    // the short doc's single whole-text gram matches nothing
    assert(got(5L) == ((1L, 0L, false)))
    // threshold is the documented 20% integer cut: 8*5 >= 38
    assert(8L * 5 >= 38L)
  }

  test("planted mega-cluster: 1000 byte-identical docs collapse before " +
      "banding — candidate volume is rep-bounded and clusters expand " +
      "exactly") {
    // the classic LSH scale-killer: a boilerplate mega-cluster lands in
    // ONE bucket per band and (pre-fix) emitted O(n²) ≈ 500k pairs.
    // After the exact pre-collapse only the representative is banded.
    val base = (1 to 40).map(i => s"m$i").mkString(" ")
    val mega = (0L until 1000L).map(i => (10L + i * 2, base))
    val docs = (mega ++ Seq((5001L, base + " tail extra"),
      (7001L, (1 to 40).map(i => s"q$i").mkString(" "))))
      .toDF("doc_id", "text")
    val (cands, audit) = Dedup.minhashCandidatesAudited(docs)
    val c = cands.collect().map(r => (r.getLong(0), r.getLong(1)))
    // reps = {10, 5001, 7001}: at most C(3,2) candidate pairs, vs the
    // ~499500 the uncollapsed mega-bucket would have produced
    assert(c.length <= 3, s"candidate volume not rep-bounded: ${c.length}")
    assert(c.contains((10L, 5001L)), s"near-dup candidate lost: ${c.toSeq}")
    assert(audit.isEmpty, "no bucket should exceed the cap after collapse")
    // pairs stay rep-only; the cluster face recovers every member
    val pairs = Dedup.minhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((10L, 5001L)), s"pairs: ${pairs.toSeq}")
    val labels = Dedup.nearDupClusters(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == 1001, s"expanded cluster size ${labels.length}")
    assert(labels.forall(_._2 == 10L), "all members must label to rep 10")
    assert(!labels.exists(_._1 == 7001L), "singleton unrelated doc clustered")
    // weights see the whole group through the expansion
    val w = Dedup.clusterWeights(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(w(10L) == 1001L && w(7001L) == 1L, s"weights: $w")
  }

  test("distinct-text degenerate buckets above the cap are dropped and " +
      "audited, never silently exploded") {
    // 6 DISTINCT texts at pairwise Jaccard ~1 co-bucket on most bands —
    // with maxBucket=3 those buckets must drop into the audit frame
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val docs = (1L to 6L).map(i => (i, s"$base t$i"))
      .toDF("doc_id", "text")
    val (_, audit) = Dedup.minhashCandidatesAudited(docs, maxBucket = 3)
    val dropped = audit.collect()
    assert(dropped.nonEmpty, "cap never fired on a 6-member co-bucket")
    assert(dropped.forall(_.getLong(2) > 3L),
      "audit rows must only carry above-cap occupancies")
    // with the default cap the same corpus generates candidates freely
    val (cands, audit2) = Dedup.minhashCandidatesAudited(docs)
    assert(audit2.isEmpty && cands.count() == 15L,
      "default cap must admit the 6-member family (C(6,2) pairs)")
  }

  test("the default candidate path surfaces a firing cap in the " +
      "process-local dropped-bucket counter, never silently") {
    // incrementalNear exposes maxBucket — drive the cut with a tiny cap
    // and assert the counter observes it (ADVICE r13: at gate scale the
    // default MaxBucket never fires, so without this seam a production
    // recall regression would be invisible)
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val history = (1L to 4L).map(i => (i, s"$base h$i"))
      .toDF("doc_id", "text")
    val batch = (11L to 14L).map(i => (i, s"$base b$i"))
      .toDF("doc_id", "text")
    Dedup.incrementalNear(history, batch, maxBucket = 3).collect()
    assert(Dedup.lastDroppedBuckets > 0L,
      "cap fired but the dropped-bucket counter stayed at zero")
    // a clean run resets the counter back to zero
    Dedup.minhashCandidates(
      Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
        .toDF("doc_id", "text")).collect()
    assert(Dedup.lastDroppedBuckets == 0L,
      "clean run must report zero dropped buckets")
  }

  test("incremental near-dup expands exact-dup members to their rep's " +
      "verdict across the history boundary") {
    val h = (1 to 30).map(i => s"h$i").mkString(" ")
    val novel = (1 to 30).map(i => s"n$i").mkString(" ")
    val history = textsDF(1L -> h)
    val batch = textsDF(
      4L -> h,      // rep of the exact group, dup of history
      6L -> h,      // member: inherits doh, dup_in_batch of its rep
      9L -> novel,  // rep of the novel group: clean keeper
      12L -> novel) // member: dup_in_batch only
    val got = Dedup.incrementalNear(history, batch).collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(got(4L) == ((true, false, false)), s"4: ${got(4L)}")
    assert(got(6L) == ((true, true, false)), s"6: ${got(6L)}")
    assert(got(9L) == ((false, false, true)), s"9: ${got(9L)}")
    assert(got(12L) == ((false, true, false)), s"12: ${got(12L)}")
  }

  test("no dedup plan contains a cartesian product") {
    Seq("dedup_minhash", "dedup_simhash", "dedup_ngram_jaccard",
      "dedup_embedding").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$q plan contains a cartesian product")
    }
  }

  test("dedup_boilerplate: every copy of a df>=3 segment drops, " +
      "kept+removed partitions the segments") {
    import spark.implicits._
    // doc 1/2/3 share segment A (df=3 -> boilerplate, removed from all
    // three); doc 1/2 share B (df=2 -> kept everywhere); each doc has
    // a unique tail segment
    val a = (1 to 10).map(i => s"a$i").mkString(" ")
    val b = (1 to 10).map(i => s"b$i").mkString(" ")
    def uniq(d: Int) = (1 to 10).map(i => s"u${d}_$i").mkString(" ")
    val docs = Seq(
      (1L, s"$a $b ${uniq(1)}"), (2L, s"$a $b ${uniq(2)}"),
      (3L, s"$a ${uniq(3)}"), (4L, uniq(4)))
      .toDF("doc_id", "text")
    val got = Dedup.boilerplateStrip(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), Option(r.getString(4))))).toMap
    assert(got(1L) == ((3L, 2L, 1L, Some(s"$b ${uniq(1)}"))))
    assert(got(2L) == ((3L, 2L, 1L, Some(s"$b ${uniq(2)}"))))
    assert(got(3L) == ((2L, 1L, 1L, Some(uniq(3)))))
    assert(got(4L) == ((1L, 1L, 0L, Some(uniq(4)))))
    // corpus face: conservation + non-vacuousness (the synthetic
    // corpus DOES contain df>=3 segments)
    val face = SparkEntry.queries("dedup_boilerplate")(spark, sf).collect()
    assert(face.forall(r => r.getLong(2) + r.getLong(3) == r.getLong(1)))
    assert(face.map(_.getLong(3)).sum > 0, "no boilerplate found")
  }
}
