package graft

import org.apache.spark.sql.functions._

class FunctionsSpec extends GraftSpec {
  import spark.implicits._

  private val df = Seq(
    (Array(1.0, 2.0, 3.0), Array(4.0, -5.0, 6.0)),
    (Array(1.0, 0.0), Array(0.0, 1.0))).toDF("a", "b")

  test("dot_product matches manual computation (eval + codegen paths)") {
    val got = df.select(call_function("dot_product", col("a"), col("b")))
      .collect().map(_.getDouble(0))
    assert(got(0) == 1.0 * 4 - 2 * 5 + 3 * 6)
    assert(got(1) == 0.0)
  }

  test("outer_upper emits the row-major upper triangle plus the vector") {
    val got = df.limit(1)
      .select(call_function("outer_upper", col("a")))
      .collect().head.getSeq[Double](0)
    // a = [1,2,3]: triangle (1,2,3,4,6,9) then the vector itself
    assert(got == Seq(1.0, 2.0, 3.0, 4.0, 6.0, 9.0, 1.0, 2.0, 3.0))
    // float input widens element-by-element (same values)
    import spark.implicits._
    val gotF = Seq(Tuple1(Array(0.5f, -1.0f))).toDF("v")
      .select(call_function("outer_upper", col("v")))
      .collect().head.getSeq[Double](0)
    assert(gotF == Seq(0.25, -0.5, 1.0, 0.5, -1.0))
  }

  test("cosine_sim matches the composed dot/norm formula") {
    val got = df.select(call_function("cosine_sim", col("a"), col("b")))
      .collect().map(_.getDouble(0))
    val expected0 = 12.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(got(0) - expected0) < 1e-15)
    assert(got(1) == 0.0)
  }

  test("native functions are SQL-callable through the extension") {
    df.createOrReplaceTempView("vecs")
    val r = spark.sql("SELECT dot_product(a, b) d FROM vecs ORDER BY d DESC")
      .collect().map(_.getDouble(0))
    assert(r.head == 12.0)
  }

  test("rolling fingerprint is edit-robust and deterministic") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val edited = base.replace("lazy", "hazy") // one local edit
    val fps = Seq((1L, base), (2L, base), (3L, edited)).toDF("id", "t")
      .select(call_function("rolling_fingerprint", col("t"), lit(8), lit(4)))
      .collect().map(_.getSeq[Long](0).toSet)
    assert(fps(0) == fps(1)) // deterministic
    val overlap = (fps(0) & fps(2)).size.toDouble / (fps(0) | fps(2)).size
    assert(overlap > 0.5, s"local edit destroyed fingerprint (overlap $overlap)")
    assert(fps(0) != fps(2))
  }

  test("poly_fingerprint matches an independent reference recompute, " +
    "including short-input clipping") {
    // straight-line reference: codepoint polynomial per k-gram
    // (seed 0, B=31 mod 1e9+7), min per w-window, distinct sorted
    def ref(s: String, k: Int, w: Int): Seq[Long] = {
      val cps = s.codePoints().toArray
      val nGrams = math.max(cps.length - k + 1, 1)
      val hs = (0 until nGrams).map { i =>
        cps.slice(i, math.min(i + k, cps.length))
          .foldLeft(0L)((acc, c) => (acc * 31 + c) % 1000000007L)
      }
      (0 until math.max(nGrams - w + 1, 1))
        .map(j => hs.slice(j, math.min(j + w, nGrams)).min)
        .distinct.sorted
    }
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "ab"),        // shorter than k: single whole-string hash
      (3L, "abcdefg"))   // >= k grams but fewer than w windows
    val got = rows.toDF("id", "t")
      .select(col("id"),
        call_function("poly_fingerprint", col("t"), lit(4), lit(3)))
      .orderBy(col("id"))
      .collect().map(_.getSeq[Long](1).toList)
    rows.zip(got).foreach { case ((_, s), fp) =>
      assert(fp == ref(s, 4, 3).toList, s"mismatch for '$s'")
    }
    assert(got(1) ==
      List("ab".codePoints().toArray
        .foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L)))
  }

  test("poly_simhash: identical texts collide, values fit in 60 bits, " +
    "near-duplicates are close in hamming distance") {
    val base = (0 until 40).map(i => s"word$i").mkString(" ")
    val near = base.replace("word7", "wird7")
    val far = (0 until 40).map(i => s"other$i").mkString(" ")
    val sims = Seq((1L, base), (2L, base), (3L, near), (4L, far))
      .toDF("id", "t")
      .select(col("id"), call_function("poly_simhash", split(col("t"), " ")))
      .orderBy(col("id")).collect().map(_.getLong(1))
    sims.foreach(s => assert(s >= 0L && s < (1L << 60)))
    assert(sims(0) == sims(1))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sims(0), sims(2)) < ham(sims(0), sims(3)),
      "one-token edit must be closer than a disjoint text")
  }

  test("image_dims parses real PNG/GIF/BMP headers, NULL otherwise") {
    def png(w: Int, h: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(33)
      bb.put(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
        .map(_.toByte))
      bb.putInt(13); bb.put("IHDR".getBytes("US-ASCII"))
      bb.putInt(w); bb.putInt(h)
      bb.put(Array[Byte](8, 2, 0, 0, 0)); bb.putInt(0)
      bb.array()
    }
    def gif(w: Int, h: Int): Array[Byte] =
      "GIF89a".getBytes("US-ASCII") ++ Array(
        (w & 255).toByte, (w >> 8).toByte, (h & 255).toByte, (h >> 8).toByte)
    def bmp(w: Int, h: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(26)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte); bb.put('M'.toByte)
      bb.position(18); bb.putInt(w); bb.putInt(h)
      bb.array()
    }
    val blobs = Seq(
      (1L, png(640, 480)), (2L, gif(320, 200)), (3L, bmp(1024, 768)),
      (4L, "not an image at all, just bytes".getBytes("US-ASCII")))
      .toDF("id", "blob")
    val got = blobs
      .select(col("id"), call_function("image_dims", col("blob")).as("d"))
      .selectExpr("id", "d.fmt AS fmt", "d.width AS w", "d.height AS h")
      .orderBy(col("id")).collect()
    assert((got(0).getString(1), got(0).getInt(2), got(0).getInt(3)) ==
      ("png", 640, 480))
    assert((got(1).getString(1), got(1).getInt(2), got(1).getInt(3)) ==
      ("gif", 320, 200))
    assert((got(2).getString(1), got(2).getInt(2), got(2).getInt(3)) ==
      ("bmp", 1024, 768))
    assert(got(3).isNullAt(1) && got(3).isNullAt(2) && got(3).isNullAt(3))
  }

  test("bmp_ahash64 decodes a hand-built BMP to the reference aHash, " +
      "is invariant to brightness shifts, flips with a pixel, and " +
      "returns NULL on non-thumbnails") {
    def bmp8(gray: (Int, Int) => Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(246)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte); bb.put('M'.toByte); bb.putInt(246)
      bb.putInt(0); bb.putInt(54)
      bb.putInt(40); bb.putInt(8); bb.putInt(8)
      bb.putShort(1); bb.putShort(24); bb.putInt(0); bb.putInt(192)
      bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0)
      for (fileRow <- 0 to 7; j <- 0 to 7) { // bottom-up rows, BGR
        val g = gray(7 - fileRow, j).toByte
        bb.put(g); bb.put(g); bb.put(g)
      }
      bb.array()
    }
    // reference aHash computed independently of the expression code
    def refHash(gray: (Int, Int) => Int): (Long, Long) = {
      val gs = for (i <- 0 to 7; j <- 0 to 7) yield gray(i, j)
      val sum = gs.sum
      var hi = 0L; var lo = 0L
      for (k <- 0 until 64 if 64 * gs(k) > sum)
        if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
      (hi, lo)
    }
    val base = (i: Int, j: Int) => 10 + 20 * ((i + j) % 8)
    val brighter = (i: Int, j: Int) => base(i, j) + 15 // mean shifts too
    // (0,0) sits at gray 10, far below the ~80 mean: raising it to 250
    // must flip its own bit regardless of the mean shift it causes
    val onePixel = (i: Int, j: Int) =>
      if ((i, j) == (0, 0)) 250 else base(i, j)
    val rows = Seq(
      (1L, bmp8(base)), (2L, bmp8(brighter)), (3L, bmp8(onePixel)),
      (4L, "BMnot really a bitmap".getBytes("US-ASCII")))
      .toDF("id", "blob")
      .select(col("id"), call_function("bmp_ahash64", col("blob")).as("h"))
      .selectExpr("id", "h.hi AS hi", "h.lo AS lo")
      .orderBy(col("id")).collect()
    assert((rows(0).getLong(1), rows(0).getLong(2)) == refHash(base))
    // aHash thresholds at the image mean, so a global brightness
    // shift must not move a single bit — the perceptual part
    assert((rows(1).getLong(1), rows(1).getLong(2)) == refHash(base))
    val (hi3, lo3) = (rows(2).getLong(1), rows(2).getLong(2))
    assert((hi3, lo3) == refHash(onePixel) && (hi3, lo3) != refHash(base))
    assert(rows(3).isNullAt(1) && rows(3).isNullAt(2))
  }

  test("phashPairs matches brute-force aHash hamming on planted BMP " +
      "families — including worst-case hamming-3 and a hamming-4 decoy " +
      "— through the shared corpus-derived subset machinery") {
    def bmp8(gray: (Int, Int) => Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(246)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte); bb.put('M'.toByte); bb.putInt(246)
      bb.putInt(0); bb.putInt(54)
      bb.putInt(40); bb.putInt(8); bb.putInt(8)
      bb.putShort(1); bb.putShort(24); bb.putInt(0); bb.putInt(192)
      bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0)
      for (fileRow <- 0 to 7; j <- 0 to 7) {
        val g = gray(7 - fileRow, j).toByte
        bb.put(g); bb.put(g); bb.put(g)
      }
      bb.array()
    }
    def refHash(gray: (Int, Int) => Int): Long = {
      val gs = for (i <- 0 to 7; j <- 0 to 7) yield gray(i, j)
      val sum = gs.sum
      (0 until 64).foldLeft(0L)((acc, k) =>
        if (64 * gs(k) > sum) acc | (1L << k) else acc)
    }
    val base = (i: Int, j: Int) => 10 + 20 * ((i + j) % 8)
    // flip sets chosen from below-mean pixels raised to 150: each flip
    // moves only its OWN bit (Δsum stays inside the 640 margin to the
    // nearest threshold crossing), so hamming is the set difference
    def flipped(px: Set[(Int, Int)]) = (i: Int, j: Int) =>
      if (px((i, j))) 150 else base(i, j)
    val variants: Seq[(Long, (Int, Int) => Int)] = Seq(
      1L -> base,
      2L -> flipped(Set((0, 0), (1, 0), (0, 2))), // hamming 3 vs base
      3L -> flipped(Set((0, 0), (1, 0), (0, 2), (2, 1))), // 4 vs base
      4L -> base, // exact dup of 1
      5L -> flipped(Set((0, 1))), // hamming 1 vs base
      6L -> ((i: Int, j: Int) => 10 + 20 * ((i * 3 + j * 5) % 8)))
    val want = (for {
      (a, ga) <- variants; (b, gb) <- variants
      if a < b
      h = java.lang.Long.bitCount(refHash(ga) ^ refHash(gb))
      if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(want.exists(_._3 == 3L) && want.exists(_._3 == 0L),
      s"fixture lost its planted distances: $want")
    val thumbs = variants.map { case (id, g) => (id, bmp8(g)) }
      .toDF("doc_id", "blob")
    val got = graft.operators.Multimodal.phashPairs(thumbs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == want,
      s"missing=${want -- got} extra=${got -- want}")
  }

  // shared BMP fixture for the persisted-store specs: same geometry as
  // the phashPairs test above (8×8 24-bpp, planted gray formulas)
  private def storeBmp8(gray: (Int, Int) => Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(246)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte); bb.put('M'.toByte); bb.putInt(246)
    bb.putInt(0); bb.putInt(54)
    bb.putInt(40); bb.putInt(8); bb.putInt(8)
    bb.putShort(1); bb.putShort(24); bb.putInt(0); bb.putInt(192)
    bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0)
    for (fileRow <- 0 to 7; j <- 0 to 7) {
      val g = gray(7 - fileRow, j).toByte
      bb.put(g); bb.put(g); bb.put(g)
    }
    bb.array()
  }
  private def storeRefHash(gray: (Int, Int) => Int): Long = {
    val gs = for (i <- 0 to 7; j <- 0 to 7) yield gray(i, j)
    val sum = gs.sum
    (0 until 64).foldLeft(0L)((acc, k) =>
      if (64 * gs(k) > sum) acc | (1L << k) else acc)
  }
  private def storeVariants: Seq[(Long, (Int, Int) => Int)] = {
    val base = (i: Int, j: Int) => 10 + 20 * ((i + j) % 8)
    def flipped(px: Set[(Int, Int)]) = (i: Int, j: Int) =>
      if (px((i, j))) 150 else base(i, j)
    Seq(
      1L -> base,
      2L -> flipped(Set((0, 0), (1, 0), (0, 2))), // hamming 3 vs base
      3L -> flipped(Set((0, 0), (1, 0), (0, 2), (2, 1))), // 4 vs base
      4L -> base, // exact dup of 1 — dup_of_history
      5L -> flipped(Set((0, 1))), // h1 vs base — doh AND dib (vs 4)
      6L -> ((i: Int, j: Int) => 10 + 20 * ((i * 3 + j * 5) % 8))) // keep
  }

  test("persisted pHash store: geometry pins from the CEILING at " +
      "build, a probe across an autoSimhashChunks rung reads bucket " +
      "rows as-is (no re-bucket), and verdicts equal brute-force " +
      "hamming") {
    import graft.operators.{Dedup, Multimodal}
    val variants = storeVariants
    val hashes = variants.map { case (id, g) => id -> storeRefHash(g) }
      .toMap
    val history = variants.filter(_._1 <= 3)
    val batch = variants.filter(_._1 > 3)
    // ceiling 20000 sits past the C(4,3)·n > 2^16 ladder knee, so the
    // PINNED chunk count is strictly wider than what the live count
    // derives — exactly the accumulating-store drift the pin is for
    val ceiling = 20000L
    val pinned = Dedup.autoSimhashChunks(ceiling, 64, 3, minChunks = 4)
    assert(pinned != Dedup.autoSimhashChunks(history.size.toLong, 64, 3,
      minChunks = 4),
      "fixture must cross a ladder rung to prove anything")
    val path = java.nio.file.Files
      .createTempDirectory("phash_store_spec").toString + "/store"
    Multimodal.buildPhashStore(
      history.map { case (id, g) => (id, storeBmp8(g)) }
        .toDF("doc_id", "blob"), path, ceiling)
    val geo = spark.read.parquet(s"$path/geometry").collect()(0)
    assert(geo.getAs[Int]("chunks") == pinned &&
      geo.getAs[Int]("max_dist") == 3 &&
      geo.getAs[Long]("hist_count") == 3L)
    // the probe must not touch the persisted bucket rows
    val bandsDir = java.nio.file.Paths.get(s"$path/bands")
    def bandState() = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(bandsDir).iterator().asScala
        .map(p => p.getFileName.toString ->
          java.nio.file.Files.getLastModifiedTime(p)).toMap
    }
    val before = bandState()
    val got = Multimodal.phashServe(
      batch.map { case (id, g) => (id, storeBmp8(g)) }
        .toDF("doc_id", "blob"), path).collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(bandState() == before,
      "probe modified the persisted store — it must be read-only")
    // brute-force verdicts from the reference hashes: the pigeonhole
    // holds at the pinned rung, the hamming filter is exact
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val want = batch.map(_._1).map { x =>
      val doh = history.map(_._1).exists(h => ham(hashes(x), hashes(h)) <= 3)
      val dib = batch.map(_._1).exists(y =>
        y < x && ham(hashes(x), hashes(y)) <= 3)
      x -> ((doh, dib, !doh && !dib))
    }.toMap
    assert(got == want, s"serve=$got vs brute=$want")
    assert(got(4L)._1 && got(5L)._2 && got(6L)._3,
      "fixture lost its planted verdict spread")
  }

  test("persisted pHash store refusals: live corpus past the pinned " +
      "ceiling, build past the ceiling, corrupt sidecar geometry") {
    import graft.operators.Multimodal
    val thumbs = storeVariants
      .map { case (id, g) => (id, storeBmp8(g)) }.toDF("doc_id", "blob")
    val history = thumbs.filter(col("doc_id") <= 3)
    val batch = thumbs.filter(col("doc_id") > 3)
    val dir = java.nio.file.Files
      .createTempDirectory("phash_store_refuse").toString
    // live (3 + 3) > ceiling (3): the probe must refuse, not degrade
    val p1 = s"$dir/tight"
    Multimodal.buildPhashStore(history, p1, corpusCeiling = 3L)
    val e1 = intercept[IllegalArgumentException] {
      Multimodal.phashServe(batch, p1).collect()
    }
    assert(e1.getMessage.contains("exceeds the pinned ceiling"),
      e1.getMessage)
    // build refuses a ceiling below the data in hand
    val e2 = intercept[IllegalArgumentException] {
      Multimodal.buildPhashStore(history, s"$dir/under", corpusCeiling = 2L)
    }
    assert(e2.getMessage.contains("exceeds the pinned corpus ceiling"),
      e2.getMessage)
    // a sidecar whose chunk count disagrees with its recorded ceiling
    // is a corrupt/foreign store — refused before any probe work
    val p3 = s"$dir/corrupt"
    Multimodal.buildPhashStore(history, p3, corpusCeiling = 100L)
    import spark.implicits._
    Seq((9, 3, 100L, 3L))
      .toDF("chunks", "max_dist", "corpus_ceiling", "hist_count")
      .write.mode("overwrite").parquet(s"$p3/geometry")
    val e3 = intercept[IllegalArgumentException] {
      Multimodal.phashServe(batch, p3).collect()
    }
    assert(e3.getMessage.contains("does not match its recorded ceiling"),
      e3.getMessage)
  }

  test("bmp_thumb8: identity on an 8x8 source, correct sampling " +
      "through a PADDED row stride, NULL on undersized input") {
    // general W×H 24-bpp BMP with explicit row padding
    def bmp(w: Int, h: Int, gray: (Int, Int) => Int): Array[Byte] = {
      val stride = ((w * 3 + 3) / 4) * 4
      val bb = java.nio.ByteBuffer.allocate(54 + stride * h)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte); bb.put('M'.toByte); bb.putInt(54 + stride * h)
      bb.putInt(0); bb.putInt(54)
      bb.putInt(40); bb.putInt(w); bb.putInt(h)
      bb.putShort(1); bb.putShort(24); bb.putInt(0); bb.putInt(stride * h)
      bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0)
      for (fr <- 0 until h) {
        for (j <- 0 until w) {
          val g = gray(h - 1 - fr, j).toByte
          bb.put(g); bb.put(g); bb.put(g)
        }
        for (_ <- w * 3 until stride) bb.put(0.toByte)
      }
      bb.array()
    }
    val g8 = (i: Int, j: Int) => 10 + i * 8 + j
    // 9 px wide: stride 28 ≠ 27 — an offset-arithmetic bug shears rows
    val g9 = (i: Int, j: Int) => 7 + i * 13 + j * 5
    val rows = Seq(
      (1L, bmp(8, 8, g8)), (2L, bmp(9, 16, g9)),
      (3L, bmp(4, 4, g8)))
      .toDF("id", "blob")
      .select(col("id"),
        call_function("bmp_thumb8", col("blob")).as("t"))
      .orderBy(col("id")).collect()
    // 8×8 in → byte-identical 8×8 out
    assert(java.util.Arrays.equals(rows(0).getAs[Array[Byte]](1),
      bmp(8, 8, g8)))
    // 9×16 in → out pixel (i,j) = src(⌊i·16/8⌋, ⌊j·9/8⌋), read back
    // through the padded stride
    val t2 = rows(1).getAs[Array[Byte]](1)
    for (i <- 0 until 8; j <- 0 until 8) {
      val expect = g9(i * 16 / 8, j * 9 / 8)
      val got = t2(54 + (7 - i) * 24 + j * 3) & 0xff
      assert(got == expect, s"pixel ($i,$j): got $got, want $expect")
    }
    assert(rows(2).isNullAt(1), "4x4 source must yield NULL")
  }

  test("bmp_gray_hist: exact bins through a padded stride, pixel mass, " +
      "NULL on garbage") {
    def bmp(w: Int, h: Int, gray: (Int, Int) => Int): Array[Byte] = {
      val stride = ((w * 3 + 3) / 4) * 4
      val bb = java.nio.ByteBuffer.allocate(54 + stride * h)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte); bb.put('M'.toByte); bb.putInt(54 + stride * h)
      bb.putInt(0); bb.putInt(54)
      bb.putInt(40); bb.putInt(w); bb.putInt(h)
      bb.putShort(1); bb.putShort(24); bb.putInt(0); bb.putInt(stride * h)
      bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0)
      for (fr <- 0 until h) {
        for (j <- 0 until w) {
          val g = gray(h - 1 - fr, j).toByte
          bb.put(g); bb.put(g); bb.put(g)
        }
        // padding bytes deliberately NON-zero: a stride bug that reads
        // them as pixels shifts a bin count
        for (_ <- w * 3 until stride) bb.put(0xEE.toByte)
      }
      bb.array()
    }
    // 9 px wide (stride 28): values span several bins
    val g9 = (i: Int, j: Int) => (i * 37 + j * 11) % 256
    val rows = Seq(
      (1L, bmp(9, 5, g9)),
      (2L, "not a bmp at all".getBytes))
      .toDF("id", "blob")
      .select(col("id"),
        call_function("bmp_gray_hist", col("blob")).as("g"))
      .orderBy(col("id")).collect()
    val st = rows(0).getStruct(1)
    assert((st.getInt(0), st.getInt(1)) == ((9, 5)))
    val pix = for (i <- 0 until 5; j <- 0 until 9) yield g9(i, j)
    assert(st.getLong(2) == pix.map(_.toLong).sum)
    val hist = st.getSeq[Long](3)
    assert(hist.length == 16 && hist.sum == 45)
    for (b <- 0 until 16)
      assert(hist(b) == pix.count(_ >> 4 == b), s"bin $b off")
    assert(rows(1).isNullAt(1))
  }

  test("mm_audio_snr: gated energy split, integer ln-SNR, and NULL " +
      "on empty sides replay from the raw window energies") {
    import org.apache.spark.sql.functions._
    val winE = graft.operators.Multimodal.pcmTable(
        graft.sources.Tables.load(spark, sf, "documents"))
      .select(col("doc_id"),
        explode(call_function("wav_window_energy", col("blob")))
          .as("energy"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val gate = graft.operators.Multimodal.VadEnergyGate
    val want = winE.groupBy(_._1).map { case (d, es) =>
      val sp = es.filter(_._2 >= gate).map(_._2)
      val no = es.filter(_._2 < gate).map(_._2)
      def lnFp(x: Long) = math.floor(math.log(x.toDouble) * 1e6).toLong
      d -> ((es.length.toLong, sp.length.toLong, sp.sum, no.sum,
        if (sp.sum > 0 && no.sum > 0) Some(lnFp(sp.sum) - lnFp(no.sum))
        else None,
        sp.sum >= no.sum))
    }
    val got = SparkEntry.queries("mm_audio_snr")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        r.getBoolean(6)))).toMap
    assert(got == want)
    // the fixture must exercise both flag polarities
    assert(got.values.exists(_._6) && got.values.exists(!_._6))
  }

  test("mm_image_entropy: integer entropy terms and the contrast flag " +
      "replay from the histogram face over the corpus") {
    val hist = SparkEntry.queries("mm_image_hist")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
    val want = hist.groupBy(_._1).map { case (d, rows) =>
      val cnts = rows.map(_._3).filter(_ > 0)
      d -> ((cnts.sum,
        cnts.map(c => c * math.floor(math.log(c.toDouble) * 1e6).toLong)
          .sum,
        cnts.max * 10 >= cnts.sum * 9))
    }
    val got = SparkEntry.queries("mm_image_entropy")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got.nonEmpty && got == want)
  }

  test("wav_pcm_stats folds real 8-bit PCM: silence, clipping, LIST " +
      "chunk walk, NULL on 16-bit") {
    def wav(samples: Array[Int], bits: Int = 8,
        withList: Boolean = false): Array[Byte] = {
      val list = if (withList) 12 else 0
      val bb = java.nio.ByteBuffer.allocate(44 + list + samples.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes); bb.putInt(4 + 24 + list + 8 + samples.length)
      bb.put("WAVE".getBytes)
      bb.put("fmt ".getBytes); bb.putInt(16)
      bb.putShort(1); bb.putShort(1); bb.putInt(8000); bb.putInt(8000)
      bb.putShort(1); bb.putShort(bits.toShort)
      if (withList) { bb.put("LIST".getBytes); bb.putInt(4); bb.put("INFO".getBytes) }
      bb.put("data".getBytes); bb.putInt(samples.length)
      samples.foreach(s => bb.put(s.toByte))
      bb.array()
    }
    val tone = Array(128, 200, 56, 128, 255, 1)
    val rows = Seq(
      (1L, wav(tone)),
      (2L, wav(Array.fill(10)(128))),          // silence
      (3L, wav(tone, withList = true)),        // LIST chunk interposed
      (4L, wav(tone, bits = 16)))              // not the 8-bit contract
      .toDF("id", "blob")
      .select(col("id"),
        call_function("wav_pcm_stats", col("blob")).as("st"))
      .selectExpr("id", "st.n_samples AS n", "st.sum_dev2 AS ss",
        "st.peak_dev AS pk")
      .orderBy(col("id")).collect()
    val devs = tone.map(_ - 128)
    val ss = devs.map(d => d.toLong * d).sum
    val pk = devs.map(math.abs).max
    assert((rows(0).getLong(1), rows(0).getLong(2), rows(0).getInt(3)) ==
      ((tone.length.toLong, ss, pk)))
    assert((rows(1).getLong(1), rows(1).getLong(2), rows(1).getInt(3)) ==
      ((10L, 0L, 0)))
    // the LIST chunk must not shift the fold
    assert((rows(2).getLong(1), rows(2).getLong(2), rows(2).getInt(3)) ==
      ((tone.length.toLong, ss, pk)))
    assert(rows(3).isNullAt(1))
  }

  test("audio_meta walks real WAV chunk lists and decodes AIFF " +
    "extended-float rates, NULL otherwise") {
    // WAV bytes built with ByteBuffer — an independent code path from
    // the hex-expression fixture generator in Multimodal.audioTable
    def wav(ch: Int, rate: Int, bits: Int, frames: Int,
        withList: Boolean): Array[Byte] = {
      val align = ch * bits / 8
      val dataSize = frames * align
      val listLen = if (withList) 12 else 0
      val bb = java.nio.ByteBuffer.allocate(44 + listLen + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII"))
      bb.putInt(4 + 24 + listLen + 8 + dataSize)
      bb.put("WAVEfmt ".getBytes("US-ASCII"))
      bb.putInt(16); bb.putShort(1)
      bb.putShort(ch.toShort); bb.putInt(rate); bb.putInt(rate * align)
      bb.putShort(align.toShort); bb.putShort(bits.toShort)
      if (withList) {
        bb.put("LIST".getBytes("US-ASCII")); bb.putInt(4)
        bb.put("INFO".getBytes("US-ASCII"))
      }
      bb.put("data".getBytes("US-ASCII")); bb.putInt(dataSize)
      bb.put(Array.fill(dataSize)('x'.toByte))
      bb.array()
    }
    // AIFF with the rate hand-encoded as an 80-bit extended float
    def aiff(ch: Int, rateExtHex: String, bits: Int,
        frames: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + 8 + 18)
      bb.put("FORM".getBytes("US-ASCII")); bb.putInt(4 + 26)
      bb.put("AIFFCOMM".getBytes("US-ASCII")); bb.putInt(18)
      bb.putShort(ch.toShort); bb.putInt(frames); bb.putShort(bits.toShort)
      bb.put(rateExtHex.grouped(2)
        .map(Integer.parseInt(_, 16).toByte).toArray)
      bb.array()
    }
    val blobs = Seq(
      (1L, wav(2, 44100, 16, 500, withList = false)),
      (2L, wav(1, 8000, 8, 250, withList = true)), // chunk walk required
      (3L, aiff(2, "400EBB80000000000000", 24, 48000)), // 48 kHz
      (4L, aiff(1, "400DAC44000000000000", 16, 11025)), // 22.05 kHz
      (5L, "RIFFxxxxJUNK and then some".getBytes("US-ASCII")))
      .toDF("id", "blob")
    val got = blobs
      .select(col("id"), call_function("audio_meta", col("blob")).as("m"))
      .selectExpr("id", "m.fmt", "m.channels", "m.sample_rate", "m.bits",
        "m.n_frames", "m.duration_ms")
      .orderBy(col("id")).collect()
    assert(got(0).toSeq.drop(1) == Seq("wav", 2, 44100, 16, 500L, 11L))
    assert(got(1).toSeq.drop(1) == Seq("wav", 1, 8000, 8, 250L, 31L))
    assert(got(2).toSeq.drop(1) == Seq("aiff", 2, 48000, 24, 48000L, 1000L))
    assert(got(3).toSeq.drop(1) == Seq("aiff", 1, 22050, 16, 11025L, 500L))
    assert(got(4).isNullAt(1))
  }

  test("audio_meta returns NULL (never throws) on adversarial chunk " +
    "sizes, and tolerates a truncated data payload") {
    // container + one chunk whose DECLARED size is attacker-controlled
    def riffChunk(container: String, tag4: String, declared: Long,
        kind: String): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + 8)
        .order(if (kind == "wav") java.nio.ByteOrder.LITTLE_ENDIAN
          else java.nio.ByteOrder.BIG_ENDIAN)
      bb.put((if (kind == "wav") "RIFF" else "FORM").getBytes("US-ASCII"))
      bb.putInt(100)
      bb.put(container.getBytes("US-ASCII"))
      bb.put(tag4.getBytes("US-ASCII"))
      bb.putInt(declared.toInt) // raw 32 bits, read back unsigned
      bb.array()
    }
    // truncated-but-valid WAV: fmt + data header only, payload absent
    def truncatedWav(): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(44)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(1000000)
      bb.put("WAVEfmt ".getBytes("US-ASCII"))
      bb.putInt(16); bb.putShort(1)
      bb.putShort(2.toShort); bb.putInt(44100); bb.putInt(44100 * 4)
      bb.putShort(4.toShort); bb.putShort(16.toShort)
      bb.put("data".getBytes("US-ASCII")); bb.putInt(400000)
      bb.array()
    }
    val blobs = Seq(
      // size 0xFFFFFFF0: Int-wraps negative if tracked as toInt
      (1L, riffChunk("WAVE", "JUNK", 0xFFFFFFF0L, "wav")),
      // size just under Int.MaxValue: 8 + size overflows Int
      (2L, riffChunk("WAVE", "JUNK", 0x7FFFFFF8L, "wav")),
      (3L, riffChunk("AIFF", "JUNK", 0xFFFFFFF0L, "aiff")),
      (4L, riffChunk("AIFF", "JUNK", 0x7FFFFFF8L, "aiff")),
      (5L, truncatedWav()))
      .toDF("id", "blob")
    val got = blobs
      .select(col("id"), call_function("audio_meta", col("blob")).as("m"))
      .selectExpr("id", "m.fmt", "m.channels", "m.sample_rate", "m.bits",
        "m.n_frames")
      .orderBy(col("id")).collect()
    (0 to 3).foreach(i => assert(got(i).isNullAt(1),
      s"corrupt blob ${i + 1} must yield NULL, got ${got(i)}"))
    // the truncated header still parses: 400000 bytes / align 4
    assert(got(4).toSeq.drop(1) == Seq("wav", 2, 44100, 16, 100000L))
  }

  test("audio fixture roundtrip: audioTable headers parse back to the " +
    "planted parameters") {
    val docs = spark.range(0, 40).select(col("id").as("doc_id"),
      lit("t").as("text"), lit("s").as("source"))
    val got = graft.operators.Multimodal.audioTable(docs)
      .select(col("doc_id"), call_function("audio_meta", col("blob")).as("m"))
      .selectExpr("doc_id", "m.fmt", "m.channels", "m.sample_rate",
        "m.bits", "m.n_frames")
      .orderBy(col("doc_id")).collect()
    got.foreach { r =>
      val id = r.getLong(0)
      val rate = Seq(8000, 22050, 44100, 48000)(((id % 7) % 4).toInt)
      assert(r.getString(1) == (if (id % 2 == 0) "wav" else "aiff"))
      assert(r.getInt(2) == 1 + (id % 3).toInt)
      assert(r.getInt(3) == rate)
      assert(r.getInt(4) == 8 * (1 + (id % 5) % 3).toInt)
      assert(r.getLong(5) == 100 + id % 400)
    }
  }

  test("expressions survive whole-stage codegen (no fallback errors)") {
    // a wide pipeline through both functions under codegen
    val n = 1000
    val wide = spark.range(n).select(
      transform(sequence(lit(0), lit(63)),
        i => (col("id") + i).cast("double")).as("v"))
    val s = wide.select(
      call_function("cosine_sim", col("v"), col("v")).as("c"),
      call_function("dot_product", col("v"), col("v")).as("d"))
      .agg(sum("c"), max("d")).collect().head
    assert(math.abs(s.getDouble(0) - n) < 1e-6) // cos(v,v)=1 per row
  }

  test("kmv_kth: exact below k, order statistic at k, dedup and " +
      "partition-merge invariance, null skip") {
    // 3 distinct hashes with k=4 → exact path: n_kept=3, kth=max
    val small = Seq(10L, 7L, 10L, 7L, 42L).toDF("h")
      .select(call_function("kmv_kth", col("h"), lit(4)).as("s"))
      .selectExpr("s.n_kept", "s.kth").collect().head
    assert((small.getLong(0), small.getLong(1)) == (3L, 42L))
    // 1000 distinct values over 8 partitions, k=16: kth = 16th
    // smallest regardless of layout; duplicates (x2) change nothing
    val vals = new scala.util.Random(11).shuffle((1L to 1000L).toList)
    val big = spark.sparkContext
      .parallelize(vals ++ vals, 8).toDF("h")
      .select(call_function("kmv_kth", col("h"), lit(16)).as("s"))
      .selectExpr("s.n_kept", "s.kth").collect().head
    assert((big.getLong(0), big.getLong(1)) == (16L, 16L))
    // nulls skipped, not counted
    val withNull = Seq(Some(5L), None, Some(9L)).toDF("h")
      .select(call_function("kmv_kth", col("h"), lit(8)).as("s"))
      .selectExpr("s.n_kept", "s.kth").collect().head
    assert((withNull.getLong(0), withNull.getLong(1)) == (2L, 9L))
  }

  test("nearest_centroid: exact argmin on matching dims, NULL (never " +
      "a truncated partial distance) on a dimension mismatch") {
    val cents = "array(array(0L, 0L), array(10L, 10L))"
    val ok = Seq((1L, Seq(1L, 1L)), (2L, Seq(9L, 8L))).toDF("id", "v")
      .selectExpr("id", s"nearest_centroid(v, $cents) AS nc")
      .selectExpr("id", "nc.cluster", "nc.dist2_fp")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(ok.toSeq == Seq((1L, 0L, 2L), (2L, 1L, 5L)), ok.mkString(","))
    // a 3-dim vector against 2-dim centroids: NULL, not a plausible
    // assignment computed from the first two coordinates
    val bad = Seq((1L, Seq(1L, 1L, 100L))).toDF("id", "v")
      .selectExpr("id", s"nearest_centroid(v, $cents) AS nc")
      .collect().head
    assert(bad.isNullAt(1), "dimension mismatch must yield NULL")
  }

  test("poly_digest: hand-folded values, surrogate pairs, and the " +
      "checksum fold detects single-character corruption") {
    def fold(s: String): Long = {
      var h = 888888883L
      s.codePoints().toArray.foreach(cp => h = (h * 31 + cp) % 1000000007L)
      h
    }
    val inputs = Seq("", "a", "abc", "the cat", "café", "😀x")
    val got = inputs.toDF("s")
      .selectExpr("poly_digest(s) AS h").collect().map(_.getLong(0))
    assert(got.toSeq == inputs.map(fold),
      s"digest mismatch: ${got.toSeq} vs ${inputs.map(fold)}")
    // order-independent table fingerprint: permuting rows preserves
    // the XOR/SUM fold, corrupting one character changes it
    val rows = Seq("r1|alpha", "r2|beta", "r3|gamma")
    def fp(xs: Seq[String]): (Long, Long) = {
      val hs = xs.map(fold)
      (hs.reduce(_ ^ _), hs.sum)
    }
    assert(fp(rows) == fp(rows.reverse))
    assert(fp(rows) != fp(Seq("r1|alpha", "r2|betb", "r3|gamma")))
    // the operator face: deterministic across two runs on the corpus
    val o = graft.sources.Tables.load(spark, sf, "orders")
    val a = graft.operators.Etl.rowChecksum(o).collect().toSeq
    val b = graft.operators.Etl.rowChecksum(o).collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("word_gram_digests equals the composed built-ins " +
      "(array_distinct . poly_digest . concat_ws . slice) everywhere") {
    // variety: normal docs, within-doc repeated grams (distinct rule),
    // shorter-than-n docs (single truncated gram), one word, empty
    // string (split -> [""]), surrogate pairs, multi-space-free texts
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "aa bb aa bb aa bb aa bb aa bb",
      "one two", "solo", "",
      "café 😀x naïve über café 😀x naïve",
      (1 to 40).map(i => s"w${i % 7}").mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    Seq(1, 3, 5, 13).foreach { n =>
      val got = df.selectExpr("doc_id",
        s"word_gram_digests(split(text, ' '), $n) AS g")
      val want = df.selectExpr("doc_id",
        s"""array_distinct(transform(
           |  sequence(1, greatest(size(split(text, ' ')) - ${n - 1}, 1)),
           |  i -> poly_digest(
           |    concat_ws(' ', slice(split(text, ' '), i, $n))))) AS g"""
          .stripMargin)
      val g = got.orderBy("doc_id").collect().map(_.getSeq[Long](1).toSeq)
      val w = want.orderBy("doc_id").collect().map(_.getSeq[Long](1).toSeq)
      assert(g.toSeq == w.toSeq, s"n=$n: ${g.toSeq} vs ${w.toSeq}")
    }
  }

  test("poly_digest2 packs both folds (h1*P2 + h2) and word_gram_digests2 " +
      "equals the composed built-ins everywhere") {
    def fold(s: String, b: Long, p: Long, seed: Long): Long = {
      var h = seed
      s.codePoints().toArray.foreach(cp => h = (h * b + cp) % p)
      h
    }
    def dual(s: String): Long =
      fold(s, 31, 1000000007L, 888888883L) * 998244353L +
        fold(s, 37, 998244353L, 777777777L)
    val inputs = Seq("", "a", "abc", "the cat", "café", "😀x")
    val got = inputs.toDF("s")
      .selectExpr("poly_digest2(s) AS h").collect().map(_.getLong(0))
    assert(got.toSeq == inputs.map(dual),
      s"packed digest mismatch: ${got.toSeq} vs ${inputs.map(dual)}")
    // keyspace is genuinely wider: strings colliding mod neither prime
    // stay distinct, and every packed value decomposes back into the
    // two folds (h1 = h / P2, h2 = h % P2)
    got.zip(inputs).foreach { case (h, s) =>
      assert(h / 998244353L == fold(s, 31, 1000000007L, 888888883L))
      assert(h % 998244353L == fold(s, 37, 998244353L, 777777777L))
    }
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "aa bb aa bb aa bb aa bb aa bb",
      "one two", "solo", "",
      "café 😀x naïve über café 😀x naïve",
      (1 to 40).map(i => s"w${i % 7}").mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    Seq(1, 3, 5, 13).foreach { n =>
      val g = df.selectExpr("doc_id",
        s"word_gram_digests2(split(text, ' '), $n) AS g")
        .orderBy("doc_id").collect().map(_.getSeq[Long](1).toSeq)
      val w = df.selectExpr("doc_id",
        s"""array_distinct(transform(
           |  sequence(1, greatest(size(split(text, ' ')) - ${n - 1}, 1)),
           |  i -> poly_digest2(
           |    concat_ws(' ', slice(split(text, ' '), i, $n))))) AS g"""
          .stripMargin)
        .orderBy("doc_id").collect().map(_.getSeq[Long](1).toSeq)
      assert(g.toSeq == w.toSeq, s"n=$n: ${g.toSeq} vs ${w.toSeq}")
    }
  }

  test("ascii_normalize equals the lower/trim/regexp_replace chain on " +
      "every edge: unicode spaces, tabs, non-BMP, stripped-char-split " +
      "space runs, all-stripped strings") {
    val inputs = Seq(
      "  Hello,   WORLD!!  ", "MiXeD 123 caSe", "", "   ", "...",
      "a .b", "a . b", "tab\tand\nnewline", "café über naïve",
      "😀 emoji 😀 split", " nbsp ", "KKKelvin",
      "ends with space ", " starts", "a1B2c3")
    val df = inputs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "s")
    val got = df.selectExpr("id", "ascii_normalize(s) AS n")
      .orderBy("id").collect().map(_.getString(1))
    val want = df.selectExpr("id",
      """lower(trim(regexp_replace(
        |  regexp_replace(s, '[^A-Za-z0-9 ]', ''), ' +', ' '))) AS n"""
        .stripMargin)
      .orderBy("id").collect().map(_.getString(1))
    assert(got.toSeq == want.toSeq,
      s"normalize mismatch: ${got.toSeq} vs ${want.toSeq}")
  }

  test("word_gram_digests_bag equals the composed per-position " +
      "poly_digest chain (occurrence bag, no distinctness)") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "aa bb aa bb aa bb aa bb aa bb",
      "one two", "solo", "",
      "café 😀x naïve über café 😀x naïve")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    Seq(1, 3, 5).foreach { n =>
      val g = df.selectExpr("doc_id",
        s"word_gram_digests_bag(split(text, ' '), $n) AS g")
        .orderBy("doc_id").collect().map(_.getSeq[Long](1).toSeq)
      val w = df.selectExpr("doc_id",
        s"""transform(
           |  sequence(1, greatest(size(split(text, ' ')) - ${n - 1}, 1)),
           |  i -> poly_digest(
           |    concat_ws(' ', slice(split(text, ' '), i, $n)))) AS g"""
          .stripMargin)
        .orderBy("doc_id").collect().map(_.getSeq[Long](1).toSeq)
      assert(g.toSeq == w.toSeq, s"n=$n: ${g.toSeq} vs ${w.toSeq}")
    }
  }

  test("word_shingles and char_shingles equal their composed-builtin " +
      "definitions everywhere (order, distinctness, clipping, unicode)") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "aa bb aa bb aa bb aa bb aa bb",
      "one two", "solo", "",
      "café 😀x naïve über café 😀x naïve",
      (1 to 40).map(i => s"w${i % 7}").mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    Seq(1, 3, 13).foreach { n =>
      val g = df.selectExpr("doc_id",
        s"word_shingles(split(text, ' '), $n) AS s")
        .orderBy("doc_id").collect().map(_.getSeq[String](1).toSeq)
      val w = df.selectExpr("doc_id",
        s"""array_distinct(transform(
           |  sequence(1, greatest(size(split(text, ' ')) - ${n - 1}, 1)),
           |  i -> concat_ws(' ', slice(split(text, ' '), i, $n)))) AS s"""
          .stripMargin)
        .orderBy("doc_id").collect().map(_.getSeq[String](1).toSeq)
      assert(g.toSeq == w.toSeq, s"word n=$n: ${g.toSeq} vs ${w.toSeq}")
    }
    Seq(1, 5, 9).foreach { n =>
      val g = df.selectExpr("doc_id", s"char_shingles(text, $n) AS s")
        .orderBy("doc_id").collect().map(_.getSeq[String](1).toSeq)
      val w = df.selectExpr("doc_id",
        s"""array_distinct(transform(
           |  sequence(1, greatest(length(text) - ${n - 1}, 1)),
           |  i -> substring(text, i, $n))) AS s""".stripMargin)
        .orderBy("doc_id").collect().map(_.getSeq[String](1).toSeq)
      assert(g.toSeq == w.toSeq, s"char n=$n: ${g.toSeq} vs ${w.toSeq}")
    }
  }

  test("word_gram_digests rejects NULL token elements with a " +
      "descriptive error instead of an executor NPE") {
    Seq("word_gram_digests", "word_gram_digests2").foreach { fn =>
      val e = intercept[Exception] {
        Seq(Tuple1(Seq("a", null, "c"))).toDF("toks")
          .selectExpr(s"$fn(toks, 2) AS g").collect()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(e).exists(c =>
        c.isInstanceOf[IllegalArgumentException] &&
          c.getMessage.contains("NULL token")),
        s"$fn: wrong failure ${e.getMessage}")
    }
  }

  test("wav_window_energy windows the PCM fold: hand energies, short " +
      "tail, chunk walk, NULL off-contract; VAD face segments gate") {
    def wav(samples: Array[Int], bits: Int = 8,
        withList: Boolean = false): Array[Byte] = {
      val list = if (withList) 12 else 0
      val bb = java.nio.ByteBuffer.allocate(44 + list + samples.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes); bb.putInt(4 + 24 + list + 8 + samples.length)
      bb.put("WAVE".getBytes)
      bb.put("fmt ".getBytes); bb.putInt(16)
      bb.putShort(1); bb.putShort(1); bb.putInt(8000); bb.putInt(8000)
      bb.putShort(1); bb.putShort(bits.toShort)
      if (withList) { bb.put("LIST".getBytes); bb.putInt(4); bb.put("INFO".getBytes) }
      bb.put("data".getBytes); bb.putInt(samples.length)
      samples.foreach(s => bb.put(s.toByte))
      bb.array()
    }
    // 20 samples: a full 16-sample window + a 4-sample tail
    val samples = (0 until 20).map(i => 128 + (i % 7) * 10 - 30).toArray
    val want = samples.grouped(16).map(w =>
      w.map(s => { val d = s - 128; d.toLong * d }).sum).toSeq
    val rows = Seq(
      (1L, wav(samples)),
      (2L, wav(samples, withList = true)),
      (3L, wav(samples, bits = 16)))
      .toDF("id", "blob")
      .select(col("id"),
        call_function("wav_window_energy", col("blob")).as("e"))
      .orderBy(col("id")).collect()
    assert(rows(0).getSeq[Long](1) == want)
    assert(rows(1).getSeq[Long](1) == want, "LIST chunk shifted the fold")
    assert(rows(2).isNullAt(1), "16-bit must be off-contract")
    // VAD face invariants on the corpus: window count matches the
    // clip length contract; active windows partition into segments
    val vad = SparkEntry.queries("mm_audio_vad")(spark, sf).collect()
    assert(vad.nonEmpty)
    vad.foreach { r =>
      val (docId, nWin, nAct, nSeg, longest) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4))
      val nSamples = 64 + docId % 192
      assert(nWin == (nSamples + 15) / 16, s"doc $docId window count")
      assert(nAct <= nWin && nSeg <= nAct && longest <= nAct)
      assert((nSeg == 0) == (nAct == 0))
    }
    // the gate genuinely splits the corpus
    assert(vad.exists(_.getLong(2) > 0) &&
      vad.exists(r => r.getLong(2) < r.getLong(1)))
  }

  /** A 2-subspace, 2-dim-per-subspace PQ fixture: slot 0 of every
    * subspace is the zero centroid, subspace 1 keeps only 2 live slots
    * (a Lloyd pass dropped one), vector 4's reconstruction is zero. */
  private val adcBook = Seq(
    Seq(Seq(0.0, 0.0), Seq(1.0, 0.5), Seq(-0.25, 2.0)),
    Seq(Seq(0.0, 0.0), Seq(0.75, -1.5)))
  private val adcCodes = Seq(1L -> Seq(1, 1), 2L -> Seq(2, 0),
    3L -> Seq(2, 1), 4L -> Seq(0, 0))
  private val adcQueries = Seq(Seq(0.3, -0.7, 1.1, 0.2),
    Seq(0.0, 0.0, 0.0, 0.0), Seq(-2.0, 0.125, 0.5, 3.0))

  private def packed: org.apache.spark.sql.DataFrame =
    adcCodes.map { case (id, cs) => (id, cs.map(_.toByte).toArray) }
      .toDF("vec_id", "codes")

  test("adc_scan equals the relational partial-dot sum, zero-norm " +
    "vectors included") {
    // one table per query (partial dots) plus the squared-norm table
    val lut = adcQueries.map(q => adcBook.zipWithIndex.map { case (cs, j) =>
      cs.map(c => c.indices.map(i => q(2 * j + i) * c(i)).sum) }) :+
      adcBook.map(_.map(c => c.map(x => x * x).sum))
    val got = packed.select(col("vec_id"),
        call_function("adc_scan", col("codes"), typedlit(lut)))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val rel = adcCodes.flatMap { case (id, cs) =>
        cs.zipWithIndex.map { case (s, j) => (id, j, s) } }
      .toDF("vec_id", "j", "slot")
      .join(lut.zipWithIndex.flatMap { case (tab, t) =>
          tab.zipWithIndex.flatMap { case (row, j) =>
            row.zipWithIndex.map { case (v, s) => (t, j, s, v) } } }
        .toDF("t", "j", "slot", "pd"), Seq("j", "slot"))
      .groupBy("vec_id", "t").agg(sum("pd"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2))
    assert(rel.length == adcCodes.size * lut.size)
    rel.foreach { case ((id, t), want) =>
      assert(math.abs(got(id)(t) - want) < 1e-9, s"vec $id table $t")
    }
    // the zero reconstruction scores 0 everywhere, and the zero query
    // scores 0 against everything
    assert(got(4L).forall(_ == 0.0))
    assert(got.values.forall(_(1) == 0.0))
    // pq_decode is the reconstruction the codes select
    val dec = packed.select(col("vec_id"),
        call_function("pq_decode", col("codes"), typedlit(adcBook)))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    adcCodes.foreach { case (id, cs) =>
      assert(dec(id) == cs.zipWithIndex.flatMap { case (s, j) => adcBook(j)(s) })
    }
  }

  test("adc_scan coarse form adds the probed cell's term and NULLs " +
    "unprobed tables") {
    val lut = Seq(adcBook.map(_.map(_ => 1.0)), adcBook.map(_.map(_ => 2.0)))
    // cell slot 0 is probed by table 0 only, slot 1 by both
    val coarse = Seq(Seq(Some(0.5), None), Seq(Some(-1.0), Some(4.0)))
    val got = packed.withColumn("cell", (col("vec_id") % 2).cast("int"))
      .select(col("vec_id"), call_function("adc_scan", col("codes"),
        typedlit(lut), col("cell"), typedlit(coarse)))
      .collect().map(r => r.getLong(0) -> r.getSeq[java.lang.Double](1)).toMap
    assert(got(2L).toSeq == Seq[java.lang.Double](2.5, null))
    assert(got(3L).toSeq == Seq[java.lang.Double](1.0, 8.0))
  }

  test("adc_scan and pq_decode refuse a code that points at an absent " +
    "slot, a code of the wrong width, and an unknown IVF cell") {
    def failure(df: org.apache.spark.sql.DataFrame): String = {
      val e = intercept[Exception](df.collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    }
    val lut = Seq(adcBook.map(_.map(_ => 1.0)))
    // slot 2 of subspace 1 was dropped: only slots 0 and 1 are live
    val absent = Seq((1L, Array[Byte](0, 2))).toDF("vec_id", "codes")
    assert(failure(absent.select(call_function("adc_scan", col("codes"),
      typedlit(lut)))).contains("absent slot 2 of subspace 1"))
    assert(failure(absent.select(call_function("pq_decode", col("codes"),
      typedlit(adcBook)))).contains("absent slot 2 of subspace 1"))
    val short = Seq((1L, Array[Byte](1))).toDF("vec_id", "codes")
    assert(failure(short.select(call_function("adc_scan", col("codes"),
      typedlit(lut)))).contains("corrupt or foreign PQ store"))
    assert(failure(packed.select(call_function("adc_scan", col("codes"),
      typedlit(lut), lit(5), typedlit(Seq(Seq(0.0))))))
      .contains("IVF cell slot 5 is absent"))
  }

  test("top_c keeps the (score DESC, id ASC) window ranking whatever " +
    "the partitioning or merge order") {
    import org.apache.spark.sql.expressions.Window
    // heavy score ties (7 distinct values over 400 ids), one NaN, one
    // NULL score, two groups
    val rows = (1L to 400L).map { id =>
      val score: Option[Double] =
        if (id == 17) Some(Double.NaN) else if (id == 18) None
        else Some((id * 37 % 7) / 7.0)
      (id % 2, id, score)
    }
    val df = rows.toDF("g", "id", "score")
    val w = Window.partitionBy(col("g"))
      .orderBy(col("score").desc, col("id"))
    val want = df.filter(col("score").isNotNull)
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 25)
      .orderBy("g", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the payload must ride with its own entry through partial merges
    def topC(d: org.apache.spark.sql.DataFrame) = d.groupBy(col("g"))
      .agg(call_function("top_c", col("score"), col("id"),
        struct(col("id").cast("string").as("s"),
          array(col("id"), col("g")).as("a")), lit(25)).as("t"))
      .select(col("g"), posexplode(col("t")).as(Seq("p", "c")))
      .orderBy("g", "p").collect()
      .map { r =>
        val c = r.getStruct(2)
        val pl = c.getStruct(2)
        assert(pl.getString(0) == c.getLong(0).toString &&
          pl.getSeq[Long](1) == Seq(c.getLong(0), r.getLong(0)))
        (r.getLong(0), c.getLong(0))
      }.toSeq
    assert(want.length == 50 && want.find(_._1 == 1L).contains((1L, 17L)))
    assert(topC(df.coalesce(1)) == want)
    assert(topC(df.repartition(8)) == want)
    assert(topC(df.repartition(13, col("id")).sortWithinPartitions(
      col("id").desc)) == want)
    assert(topC(df.orderBy(rand(3))) == want)
  }
}
