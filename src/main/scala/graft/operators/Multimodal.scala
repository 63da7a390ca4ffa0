package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** A multimodal record: an opaque binary payload plus typed metadata.
  * Top-level case classes so Spark derives Encoders. */
case class MediaRow(doc_id: Long, media_type: String, blob: Array[Byte],
    n_bytes: Long, source: String)

/** Deterministic stand-in for decoded media features. */
case class MediaFeatures(doc_id: Long, media_type: String, n_bytes: Long,
    checksum: Long, width: Int, height: Int, feature: Array[Float])

/** Multimodal column plumbing (SURVEY §2C `mm_metadata`).
  *
  * Images/audio/video are carried as opaque `binary` columns with typed
  * metadata; decode/feature-extract runs batched per partition over a
  * typed Dataset — the Spark-side shape (schema, encoders, partition
  * batching, feature vector output) is real and tested, while the
  * codec itself is a DETERMINISTIC STUB (this environment has no media
  * libraries): "decoding" hashes the payload into a fake
  * width/height/feature vector. Swapping in a real codec changes only
  * `decodeStub`, nothing in the plan.
  */
object Multimodal {

  /** Manufacture a binary corpus from the documents table: payload =
    * UTF-8 bytes of the text, media type assigned round-robin. */
  def mediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      element_at(lit(Array("image", "audio", "video")),
        (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
      col("text").cast("binary").as("blob"),
      length(col("text")).cast("long").as("n_bytes"),
      col("source"))

  // hex builders for real container headers — all declarative column
  // expressions, so blob synthesis itself stays a codegen'd projection
  private def beU32Hex(c: Column): Column = lpad(hex(c), 8, "0")
  private def leU16Hex(c: Column): Column = concat(
    lpad(hex(c.bitwiseAND(lit(255))), 2, "0"),
    lpad(hex(shiftright(c, 8).bitwiseAND(lit(255))), 2, "0"))
  private def leU32Hex(c: Column): Column = concat(
    lpad(hex(c.bitwiseAND(lit(255))), 2, "0"),
    lpad(hex(shiftright(c, 8).bitwiseAND(lit(255))), 2, "0"),
    lpad(hex(shiftright(c, 16).bitwiseAND(lit(255))), 2, "0"),
    lpad(hex(shiftright(c, 24).bitwiseAND(lit(255))), 2, "0"))

  /** Binary corpus with REAL format headers: each document becomes a
    * blob whose leading bytes are a well-formed PNG / GIF89a / BMP
    * header (dimensions derived from doc_id, so an external oracle can
    * recompute them arithmetically) followed by the text payload. The
    * graft side then recovers the dimensions by PARSING THE BYTES with
    * the native image_dims expression — generation and extraction share
    * no code path. */
  def imageTable(docs: DataFrame): DataFrame = {
    val width = (lit(160) + col("doc_id") % 1280).cast("int")
    val height = (lit(90) + col("doc_id") % 720).cast("int")
    // PNG: signature + IHDR length/tag, dims as be u32, then
    // depth/color/compression/filter/interlace + (unchecked) CRC
    val pngHdr = concat(lit("89504E470D0A1A0A0000000D49484452"),
      beU32Hex(width), beU32Hex(height), lit("080200000000000000"))
    // GIF89a: logical screen descriptor dims as le u16
    val gifHdr = concat(lit("474946383961"), leU16Hex(width), leU16Hex(height))
    // BMP: "BM" + 16 filler bytes, then BITMAPINFOHEADER dims as le i32
    val bmpHdr = concat(lit("424D"), lit("0" * 32),
      leU32Hex(width), leU32Hex(height))
    val hdr = when(col("doc_id") % 3 === 0, pngHdr)
      .when(col("doc_id") % 3 === 1, gifHdr)
      .otherwise(bmpHdr)
    docs.select(col("doc_id"),
      concat(to_binary(hdr, lit("hex")), col("text").cast("binary"))
        .as("blob"))
  }

  private def beU16Hex(c: Column): Column = lpad(hex(c), 4, "0")

  /** Binary "audio" corpus with REAL container headers: each document
    * becomes a complete WAV (RIFF, little-endian, chunk-walked — a
    * LIST/INFO chunk is interposed between `fmt ` and `data` for every
    * doc_id%10==4 so offset-hardcoded parsers break) or AIFF (IFF
    * big-endian, COMM with the sample rate as an 80-bit extended
    * float) file whose parameters derive from doc_id, so an external
    * oracle can recompute them arithmetically. The payload is planted
    * at full declared size (data chunk size = actual bytes), so the
    * container is well-formed end-to-end; graft recovers the metadata
    * by PARSING THE BYTES with the native audio_meta expression —
    * generation and extraction share no code path. */
  def audioTable(docs: DataFrame): DataFrame = {
    val channels = (lit(1) + col("doc_id") % 3).cast("int")
    val rateIdx = ((col("doc_id") % 7) % 4).cast("int")
    val rate = when(rateIdx === 0, 8000).when(rateIdx === 1, 22050)
      .when(rateIdx === 2, 44100).otherwise(48000).cast("int")
    val bits = (lit(8) * (lit(1) + (col("doc_id") % 5) % 3)).cast("int")
    val align = (channels * bits / lit(8)).cast("int")
    val frames = (lit(100) + col("doc_id") % 400).cast("long")
    val dataSize = (frames * align).cast("int")
    val payload = repeat(lit("x"), dataSize).cast("binary")
    // canonical 80-bit extended-float encodings of the four rates
    val rateExtHex = when(rateIdx === 0, "400BFA00000000000000")
      .when(rateIdx === 1, "400DAC44000000000000")
      .when(rateIdx === 2, "400EAC44000000000000")
      .otherwise(lit("400EBB80000000000000"))
    val listHex = when(col("doc_id") % 10 === 4,
      "4C49535404000000494E464F").otherwise(lit("")) // LIST + size 4 + INFO
    val listLen = when(col("doc_id") % 10 === 4, 12).otherwise(lit(0))
    val wavHdr = concat(
      lit("52494646"), // RIFF
      leU32Hex(lit(4) + lit(24) + listLen + lit(8) + dataSize),
      lit("57415645"), // WAVE
      lit("666D742010000000"), // "fmt " + size 16
      lit("0100"), // PCM
      leU16Hex(channels), leU32Hex(rate), leU32Hex(rate * align),
      leU16Hex(align), leU16Hex(bits),
      listHex,
      lit("64617461"), // data
      leU32Hex(dataSize))
    val aiffHdr = concat(
      lit("464F524D"), // FORM
      beU32Hex(lit(4) + lit(26) + lit(16) + dataSize),
      lit("41494646"), // AIFF
      lit("434F4D4D00000012"), // COMM + size 18
      beU16Hex(channels), beU32Hex(frames), beU16Hex(bits), rateExtHex,
      lit("53534E44"), // SSND
      beU32Hex(lit(8) + dataSize), lit("0000000000000000"))
    val hdr = when(col("doc_id") % 2 === 0, wavHdr).otherwise(aiffHdr)
    docs.select(col("doc_id"),
      concat(to_binary(hdr, lit("hex")), payload).as("blob"))
  }

  /** Binary "video" corpus: each blob is a text container header
    * `VID0|<n_frames>|<frame_len>|` followed by n_frames fixed-size
    * frames whose bytes are a doc_id+index-derived fill — so an
    * external oracle can recompute every sampled frame's properties
    * arithmetically while the graft side has to parse geometry and
    * offsets out of the payload bytes. Blob synthesis is one codegen'd
    * projection (transform over a sequence, joined and cast to
    * binary). */
  def videoTable(docs: DataFrame): DataFrame =
    docs
      .selectExpr("doc_id",
        "cast(4 + doc_id % 4 as int) AS n_frames",
        "cast(64 + doc_id % 32 as int) AS frame_len")
      .withColumn("blob", expr(
        """cast(concat('VID0|', n_frames, '|', frame_len, '|',
          |  array_join(transform(sequence(0, n_frames - 1),
          |    i -> repeat(char(97 + (doc_id + i) % 26), frame_len)), ''))
          |as binary)""".stripMargin))
      .select(col("doc_id"), col("blob"))

  /** Frame sampling over binary video blobs: parse the container
    * geometry from the header BYTES, take every `stride`-th frame by
    * byte-offset arithmetic, and emit per-frame properties. This is
    * the plumbing shape of real video sampling at 100 TB — a pure
    * per-row projection + explode (no shuffle, no driver round-trip),
    * with the frame decode itself swappable behind the extracted
    * `frame_bytes` column. */
  def sampleFrames(videos: DataFrame, stride: Int = 2): DataFrame = {
    val parsed = videos
      // the header is ASCII and at most 4+1+2+1+2+1 = 11 bytes; 24 is
      // safely past it and split() stops at the first frame (no '|')
      .withColumn("_hdr",
        split(decode(expr("substring(blob, 1, 24)"), "UTF-8"), "\\|"))
      .withColumn("n_frames", element_at(col("_hdr"), 2).cast("int"))
      .withColumn("frame_len", element_at(col("_hdr"), 3).cast("int"))
      .withColumn("hdr_len",
        length(element_at(col("_hdr"), 2)) +
          length(element_at(col("_hdr"), 3)) + lit(7))
    parsed
      .select(col("doc_id"), col("blob"), col("frame_len"), col("hdr_len"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride)))
          .as("frame_idx"))
      .withColumn("frame_bytes",
        expr("substring(blob, hdr_len + frame_idx * frame_len + 1, frame_len)"))
      .select(col("doc_id"), col("frame_idx"),
        length(col("frame_bytes")).as("frame_len"),
        ascii(decode(col("frame_bytes"), "UTF-8")).as("first_byte"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** The decode stub: deterministic pseudo-features from the payload
    * bytes. A real implementation would decode pixels/samples here —
    * batched per partition, exactly this signature. */
  def decodeStub(m: MediaRow): MediaFeatures = {
    // FNV-1a over the payload — cheap, deterministic, dependency-free
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < m.blob.length) {
      h ^= (m.blob(i) & 0xffL); h *= 0x100000001b3L; i += 1
    }
    val w = 160 + (math.abs(h) % 1280).toInt
    val ht = 90 + (math.abs(h >> 16) % 720).toInt
    val feat = Array.tabulate(8)(k =>
      (((h >> (8 * (k % 8))) & 0xff).toFloat - 128f) / 128f)
    MediaFeatures(m.doc_id, m.media_type, m.n_bytes, h, w, ht, feat)
  }

  /** Typed decode over the Dataset — Spark already executes `map`
    * partition-batched; a real codec needing per-partition setup
    * (shared decoder handles) would switch this to mapPartitions
    * without touching the plan shape. */
  def extractFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.as[MediaRow].map(decodeStub)
  }

  /** WebDataset-style shard manifest for binary payloads: per media
    * type, documents concatenate in doc_id order and cut into shards
    * every `shardBytes` START bytes — an item whose start falls in
    * [k·B, (k+1)·B) belongs to shard k, so shards never split an item
    * and overflow B by less than one item (certified per shard by the
    * in-plan `bytes_ok` gate: shard_bytes ≤ B−1+max_item). This is
    * the export layout that turns a 100 TB binary corpus into ~equal
    * tar-shard units for sequential training reads.
    *
    * Scale shape: the per-type running byte offset is a DISTRIBUTED
    * PREFIX SCAN (the stream_late_audit pattern) — within-chunk
    * running sums over (media_type, chunk)-keyed windows plus a
    * chunk-count-sized per-type prefix broadcast back — NOT a
    * per-media-type global window, which would drag the whole corpus
    * into |types| partitions. The oracle computes the NAIVE per-type
    * running sum; hash equality proves chunked scan ≡ definition. */
  val ShardChunk = 100L

  def shardManifest(media: DataFrame, shardBytes: Long = 4096L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shardBytes > 0, s"shardBytes must be positive, got $shardBytes")
    val m = media.select(col("doc_id"), col("media_type"), col("n_bytes"),
      expr(s"doc_id div $ShardChunk").as("chunk"))
    val inChunk = Window.partitionBy(col("media_type"), col("chunk"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prevChunks = Window.partitionBy(col("media_type"))
      .orderBy(col("chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = m.groupBy(col("media_type"), col("chunk"))
      .agg(sum(col("n_bytes")).as("csum"))
      .select(col("media_type"), col("chunk"),
        coalesce(sum(col("csum")).over(prevChunks), lit(0L)).as("psum"))
    m.join(broadcast(prefix), Seq("media_type", "chunk"))
      .withColumn("start_b",
        coalesce(sum(col("n_bytes")).over(inChunk), lit(0L)) + col("psum"))
      .withColumn("shard", expr(s"start_b div $shardBytes"))
      .groupBy(col("media_type"), col("shard"))
      .agg(count(lit(1)).as("n_items"), sum(col("n_bytes")).as("shard_bytes"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"),
        (sum(col("n_bytes")) <= lit(shardBytes - 1) + max(col("n_bytes")))
          .as("bytes_ok"))
      .orderBy(col("media_type"), col("shard"))
  }

  /** The aspect-ratio bucket ladder (per-mille width/height), the
    * SDXL-style training buckets: portrait 1:2 → square → landscape
    * 2:1. Part of the operator contract — the oracle replays the same
    * ladder. */
  val AspectBuckets: Seq[Int] = Seq(500, 563, 750, 1000, 1333, 1778, 2000)

  /** Images per training micro-batch within a bucket. */
  val AspectBatchSize = 16

  /** VAD energy gate: a 16-sample window is "speech" iff its
    * sum-of-squared-deviations reaches this (≈ the fixture corpus's
    * median window energy, so the gate genuinely splits). */
  val VadEnergyGate = 85000L

  /** Aspect-ratio bucketing — the batching pass of any image-training
    * pipeline: images only batch with same-shape peers, so each image
    * is assigned the ladder bucket nearest its aspect ratio and a
    * deterministic micro-batch number within that bucket. The ratio is
    * fixed-point (1000·w div h, exact integer), nearest-bucket ties
    * break to the SMALLER ratio (total order, engine-independent), and
    * batch ids come from a bucket-keyed ROW_NUMBER over doc_id — so
    * the whole batch plan is bit-replayable.
    *
    * Scale shape: dims decode in the codegen'd [[imageTable]] header
    * parse (blobs never shuffle — only (doc_id, w, h) tuples leave the
    * scan), bucket assignment is a per-row argmin over a 7-element
    * constant ladder, and the only exchange is the bucket-keyed window
    * (bounded key cardinality = ladder size; within-bucket sort is the
    * price of deterministic batch numbering — at extreme per-bucket
    * cardinality this becomes a range-partitioned sort, same key). */
  def aspectBuckets(docs: DataFrame): DataFrame = {
    val ladder = AspectBuckets.mkString(", ")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket_fp")).orderBy(col("doc_id"))
    imageTable(docs)
      .select(col("doc_id"),
        call_function("image_dims", col("blob")).as("d"))
      .select(col("doc_id"),
        col("d.width").as("width"), col("d.height").as("height"),
        expr("cast(d.width as bigint) * 1000 div cast(d.height as bigint)")
          .as("ar_fp"))
      .withColumn("bucket_fp", expr(
        s"""array_min(transform(array($ladder),
           |  b -> struct(abs(ar_fp - b) AS d, cast(b AS bigint) AS b))).b"""
          .stripMargin))
      .withColumn("rn", row_number().over(w))
      .withColumn("batch_id",
        expr(s"cast((rn - 1) div $AspectBatchSize as bigint)"))
      .drop("rn")
      .orderBy(col("doc_id"))
  }

  /** Shot/scene segmentation over decoded frame features — the pass
    * that decides WHERE to sample video frames (one keyframe per shot
    * beats a blind stride): consecutive frames whose feature distance
    * exceeds `threshold` start a new segment. The feature here is the
    * decoded first byte (the synthetic corpus's per-frame signal —
    * a real deployment swaps a frame histogram/embedding into the
    * same plan); frames parse from container BYTES via
    * [[sampleFrames]] at stride 1.
    *
    * Scale shape: frame parse is a per-row projection + explode (no
    * shuffle — blobs never leave the scan); the cut detection is one
    * doc-keyed lag window + running sum (frames-per-doc bounded), and
    * the segment rollup is a (doc, segment)-keyed map-side-combinable
    * aggregate. */
  def sceneSegments(videos: DataFrame, threshold: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    val run = byDoc.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    sampleFrames(videos, stride = 1)
      .withColumn("prev_fb", lag(col("first_byte"), 1).over(byDoc))
      .withColumn("cut",
        when(abs(col("first_byte") - col("prev_fb")) > threshold, 1L)
          .otherwise(0L))
      .withColumn("segment_id", sum(col("cut")).over(run))
      .groupBy(col("doc_id"), col("segment_id"))
      .agg(min(col("frame_idx")).as("start_frame"),
        count(lit(1)).as("n_frames"))
      .orderBy(col("doc_id"), col("segment_id"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_scene_segments" -> ((s, dir) =>
      sceneSegments(videoTable(Tables.load(s, dir, "documents")))),
    "mm_aspect_bucket" -> ((s, dir) =>
      aspectBuckets(Tables.load(s, dir, "documents"))),
    "mm_shard_pack" -> ((s, dir) =>
      shardManifest(mediaTable(Tables.load(s, dir, "documents")))),
    // The correctness face hash-matches the REAL plumbing (round-robin
    // type assignment, byte length) and carries the stub's output
    // contract as in-plan gates (q18/q21 shape): dimensions inside the
    // declared ranges, feature norm inside [0, sqrt(8)] for 8 features
    // in [-1, 1). The stub internals (checksum/width/height values)
    // stay engine-specific by design — extractFeatures still returns
    // them to library callers.
    "mm_metadata" -> { (s, dir) =>
      val feats = extractFeatures(s, mediaTable(Tables.load(s, dir, "documents")))
      feats.toDF()
        .withColumn("feat_norm",
          sqrt(aggregate(transform(col("feature"), x => x.cast("double") * x),
            lit(0.0), (acc, v) => acc + v)))
        .select(col("doc_id"), col("media_type"), col("n_bytes"),
          (col("width").between(160, 1439) && col("height").between(90, 809))
            .as("dims_ok"),
          col("feat_norm").between(lit(0.0), sqrt(lit(8.0))).as("norm_ok"))
        .orderBy(col("doc_id"))
    },

    // -- real header parsing over binary columns --------------------------
    // Spark derives (fmt, width, height) by parsing actual PNG/GIF/BMP
    // bytes; the oracle recomputes the planted dimensions
    // arithmetically — full value-hash coverage for a binary-parsing
    // operator.
    "mm_image_dims" -> { (s, dir) =>
      imageTable(Tables.load(s, dir, "documents"))
        .select(col("doc_id"),
          call_function("image_dims", col("blob")).as("d"))
        .select(col("doc_id"), col("d.fmt").as("fmt"),
          col("d.width").as("width"), col("d.height").as("height"))
        .orderBy(col("doc_id"))
    },

    // -- real audio-header parsing over binary columns ---------------------
    // Spark derives (fmt, channels, sample_rate, bits, n_frames,
    // duration_ms) by chunk-walking actual RIFF/IFF bytes — including
    // decoding AIFF's 80-bit extended-float sample rate; the oracle
    // recomputes the planted parameters arithmetically.
    "mm_audio_meta" -> { (s, dir) =>
      audioTable(Tables.load(s, dir, "documents"))
        .select(col("doc_id"),
          call_function("audio_meta", col("blob")).as("m"))
        .select(col("doc_id"), col("m.fmt").as("fmt"),
          col("m.channels").as("channels"),
          col("m.sample_rate").as("sample_rate"),
          col("m.bits").as("bits"), col("m.n_frames").as("n_frames"),
          col("m.duration_ms").as("duration_ms"))
        .orderBy(col("doc_id"))
    },

    // -- strided frame sampling over binary video containers ---------------
    // Spark parses geometry + frame offsets out of the blob bytes; the
    // oracle recomputes the planted per-frame properties arithmetically.
    "mm_frame_sample" -> { (s, dir) =>
      sampleFrames(videoTable(Tables.load(s, dir, "documents")))
    },

    // -- perceptual-hash image near-dup -----------------------------------
    // REAL pixel decode (BMP needs no codec), native aHash expression,
    // chunk-bucketed Hamming pairs; the oracle replays hash + pairs
    // from the planted pixel arithmetic — a green hash proves the byte
    // decode, the bucket recall AND the distance filter at once.
    "mm_phash_dedup" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      // family modulus scales with the corpus so planted near-dup
      // clusters stay ~10 replicas at any SF — real corpora have
      // bounded duplicate-cluster sizes, not clusters growing with n;
      // a fixed modulus would make pair volume quadratic in corpus
      // size purely as a fixture artifact (the autoBitsPerBand lesson)
      phashPairs(thumbTable(docs, famMod = math.max(50L, docs.count() / 10)))
    },

    // -- the PERSISTED-store face of the image near-dup contract ----------
    // Build once under a ceiling-pinned chunk geometry (4x live
    // headroom — deterministic, so the ensured store replays
    // bit-identically), probe from parquet. The %3 history/batch split
    // mirrors dedup_incr_near_serve; the oracle replays the planted
    // pixel arithmetic into TRUE all-pairs hamming verdicts — serving
    // from the pinned store must change NOTHING about them.
    "mm_phash_serve" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val n = docs.count()
      val thumbs = thumbTable(docs, famMod = math.max(50L, n / 10))
      val ceiling = 4L * n
      val path = phashStorePath(dir, ceiling)
      Similarity.ensureIndex(path)(tmp =>
        buildPhashStore(thumbs.filter(col("doc_id") % 3 =!= 0), tmp,
          ceiling))
      phashServe(thumbs.filter(col("doc_id") % 3 === 0), path)
    },

    // -- the resize stage of the multimodal ingest pipeline ---------------
    // REAL nearest-neighbor pixel math on real bytes: variable-size
    // source BMPs → native bmp_thumb8 resize → a fresh 8×8 BMP →
    // composed straight into bmp_ahash64 (decode → RESIZE →
    // fingerprint); src dims recovered by image_dims header parsing.
    // The oracle recomputes the planted source pixel at every sampled
    // ⌊i·H/8⌋ coordinate arithmetically — hash equality proves the
    // stride walk, the sampling map AND the composition.
    "mm_resize_thumb" -> { (s, dir) =>
      srcImageTable(Tables.load(s, dir, "documents"))
        .select(col("doc_id"),
          call_function("image_dims", col("blob")).as("d"),
          call_function("bmp_ahash64",
            call_function("bmp_thumb8", col("blob"))).as("hsh"))
        .select(col("doc_id"), col("d.width").as("src_w"),
          col("d.height").as("src_h"),
          col("hsh.hi").as("hi"), col("hsh.lo").as("lo"))
        .orderBy(col("doc_id"))
    },

    // -- per-image brightness histogram over real BMP decode ---------------
    // The exposure/content profile a multimodal curation pass filters
    // on (all-black frames, low-contrast scans): one native
    // bmp_gray_hist header-walk + O(W·H) byte loop per blob (handles
    // stride padding — spec-tested on a 9-px row), 16 integer bins +
    // pixel mass out, then a posexplode to the gated long format.
    // Blobs never shuffle: the only exchange is the final
    // presentation sort over 16 rows/doc. The oracle recomputes every
    // bin count from the planted per-pixel gray arithmetic — hash
    // equality proves the byte decode end to end. The decoded frame is
    // CHECKPOINTED before the presentation sort (round 16 — the
    // text_code_detect sort-sampling trap: a global orderBy
    // range-partitions by sampling its child, and the reservoir
    // sampler consumes full partition iterators, so the
    // planted_bmp + bmp_gray_hist pixel work ran TWICE; the sf9 spot
    // point held this key at α 1.17/1.10 until the second pass was
    // bounded to the 40-byte decoded rows).
    "mm_image_hist" -> { (s, dir) =>
      srcImageTable(Tables.load(s, dir, "documents"))
        .select(col("doc_id"),
          call_function("bmp_gray_hist", col("blob")).as("g"))
        .select(col("doc_id"), col("g.w").cast("long").as("w"),
          col("g.sum_gray").as("sum_gray"),
          posexplode(col("g.hist")).as(Seq("bin", "cnt")))
        .select(col("doc_id"), col("w"), col("sum_gray"),
          col("bin").cast("long").as("bin"), col("cnt"))
        .localCheckpoint(true)
        .orderBy(col("doc_id"), col("bin"))
    },

    // -- per-image brightness-entropy / contrast gate ------------------------
    // The low-information-image filter (all-black frames, flat scans,
    // solid-color padding tiles) a multimodal pass drops before
    // captioning: gray-histogram entropy kept EXACT as the integer
    // Σ cnt·⌊ln(cnt)·1e6⌋ over occupied bins (lns of exact integers —
    // the unigramLogProb discipline; true entropy recovers as
    // ln N − ent_sum/(N·1e6)), plus the cross-multiplied low-contrast
    // flag (one bin holds ≥ 90% of pixel mass). Composes the SAME
    // native bmp_gray_hist decode as mm_image_hist but folds the
    // 16-bin array with in-row HOFs — zero exchanges, blobs never
    // leave their split; the only sort is presentation.
    "mm_image_entropy" -> { (s, dir) =>
      srcImageTable(Tables.load(s, dir, "documents"))
        .select(col("doc_id"),
          call_function("bmp_gray_hist", col("blob")).as("g"))
        .select(col("doc_id"),
          aggregate(col("g.hist"), lit(0L), (a, c) => a + c).as("n_px"),
          aggregate(col("g.hist"), lit(0L), (a, c) =>
            a + when(c > 0,
              c * floor(log(c.cast("double")) * 1e6).cast("long"))
              .otherwise(0L)).as("ent_sum_fp"),
          array_max(col("g.hist")).as("max_bin"))
        .select(col("doc_id"), col("n_px"), col("ent_sum_fp"),
          (col("max_bin") * 10 >= col("n_px") * 9).as("low_contrast"))
        .orderBy(col("doc_id"))
    },

    // -- real PCM sample decoding over binary audio -------------------------
    // The codec-free audio decode (8-bit PCM ≙ raw biased samples — the
    // BMP-pixel story's audio twin): chunk-walk the RIFF bytes, fold
    // the data chunk into loudness/clipping stats, all-integer so the
    // oracle replays every sample from the planted arithmetic.
    "mm_audio_rms" -> { (s, dir) =>
      pcmTable(Tables.load(s, dir, "documents"))
        .select(col("doc_id"),
          call_function("wav_pcm_stats", col("blob")).as("st"))
        .select(col("doc_id"), col("st.n_samples").as("n_samples"),
          col("st.sum_dev2").as("sum_dev2"),
          col("st.peak_dev").as("peak_dev"),
          round(sqrt(col("st.sum_dev2").cast("double")
            / col("st.n_samples")), 6).as("rms"))
        .orderBy(col("doc_id"))
    },

    // -- energy-gated voice-activity detection over binary audio -----------
    // The segmentation every speech pipeline runs before transcription/
    // training: per-16-sample window energies decode INSIDE the
    // codegen'd projection (wav_window_energy — blobs never shuffle,
    // only the small integer array leaves the row), a fixed integer
    // energy gate marks active windows, and consecutive active windows
    // merge into speech segments with the q48 islands key (win_idx −
    // row_number, exact). Everything after the decode is clip-local,
    // so the per-clip shuffle is the posexplode's narrow
    // (doc_id, idx, energy) rows and one doc-keyed window+aggregate.
    // -- speech-to-noise ratio over the same energy windows -----------------
    // The audio-quality gate a speech-data pipeline applies after VAD
    // (a clip can HAVE speech and still be unusable under the noise
    // floor): per clip, total energy in gated (speech) vs un-gated
    // (noise) windows, the SNR as the exact integer
    // ⌊ln(E_s)·10⁶⌋ − ⌊ln(E_n)·10⁶⌋ (natural-log fixed point — lns of
    // exact integer energies, the unigramLogProb discipline; dB =
    // 10/ln10 × that), NULL when either side is empty, plus the
    // speech-dominant flag (gated energy ≥ un-gated energy).
    // Same zero-shuffle shape as the VAD: one native per-row energy
    // fold, one doc-keyed map-side-combined rollup.
    "mm_audio_snr" -> { (s, dir) =>
      pcmTable(Tables.load(s, dir, "documents"))
        .select(col("doc_id"),
          posexplode(call_function("wav_window_energy", col("blob")))
            .as(Seq("win_idx", "energy")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("energy") >= VadEnergyGate, 1L).otherwise(0L))
            .as("n_speech"),
          sum(when(col("energy") >= VadEnergyGate, col("energy"))
            .otherwise(0L)).as("e_speech"),
          sum(when(col("energy") < VadEnergyGate, col("energy"))
            .otherwise(0L)).as("e_noise"))
        .select(col("doc_id"), col("n_windows"), col("n_speech"),
          col("e_speech"), col("e_noise"),
          when(col("e_speech") > 0 && col("e_noise") > 0,
            floor(log(col("e_speech").cast("double")) * 1e6).cast("long")
              - floor(log(col("e_noise").cast("double")) * 1e6)
                .cast("long")).as("snr_ln_fp"),
          (col("e_speech") >= col("e_noise")).as("speech_dominant"))
        .orderBy(col("doc_id"))
    },

    "mm_audio_vad" -> { (s, dir) =>
      val winE = pcmTable(Tables.load(s, dir, "documents"))
        .select(col("doc_id"),
          posexplode(call_function("wav_window_energy", col("blob")))
            .as(Seq("win_idx", "energy")))
      val active = winE.filter(col("energy") >= VadEnergyGate)
      val w = Window.partitionBy(col("doc_id")).orderBy(col("win_idx"))
      val segs = active
        .withColumn("grp", col("win_idx") - row_number().over(w))
        .groupBy(col("doc_id"), col("grp"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_segments"),
          max(col("len")).as("longest_run"),
          sum(col("len")).as("n_active"))
      winE.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_windows"))
        .join(segs, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_windows"),
          coalesce(col("n_active"), lit(0L)).as("n_active"),
          coalesce(col("n_segments"), lit(0L)).as("n_segments"),
          coalesce(col("longest_run"), lit(0L)).as("longest_run"))
        .orderBy(col("doc_id"))
    })

  /** Complete 8×8 24-bpp BMP thumbnails with planted grayscale pixels:
    * gray(d, i, j) = 4·(((f·7+i·3+j·5) mod 13) + ((f·4+i·6+j) mod 11)
    * + ((f·2+i·5+j·3) mod 17) + ((f·5+i+j·7) mod 19))
    * + 24·[(r+8i+j) mod 19 = 0] with f = d mod famMod (the visual
    * family) and r = d div famMod (the replica's perturbation phase).
    * Four coprime moduli give 13·11·17·19 = 46 189 distinct base
    * images (CRT), so families stay visually distinct up to that
    * count — with two moduli, 143 classes aliased at sf1's 5 000
    * families and candidate volume went quadratic (measured 31.4M
    * bucket pairs at 50k docs vs 2.1M de-aliased). Replicas of
    * a family share the base image and differ by a few bumped pixels,
    * distinct families differ broadly, so aHash Hamming distance
    * separates them. Pixels are stored as real BMP bytes: bottom-up
    * rows, BGR triplets (B=G=R), 24 B/row (already 4-aligned). The
    * extraction side recovers the hash by PARSING THE BYTES with the
    * native bmp_ahash64 expression — generation and extraction share
    * no code path. */
  def thumbTable(docs: DataFrame, famMod: Long = 50L): DataFrame = {
    // constant 54-byte header: "BM", file size 246, reserved, pixel
    // offset 54; BITMAPINFOHEADER: size 40, dims 8×8, planes 1,
    // bpp 24, compression 0, image size 192, resolutions/colors 0
    val hdrHex = "424DF600000000000000360000002800000008000000" +
      "080000000100180000000000C0000000000000000000000000000000" +
      "00000000"
    val f = col("doc_id") % famMod
    val r = expr(s"doc_id div $famMod")
    val pixelHex = concat((0 to 7).flatMap { fileRow =>
      val i = 7 - fileRow // BMP rows are bottom-up
      (0 to 7).map { j =>
        val base = ((((f * 7 + lit(i * 3 + j * 5)) % 13) +
          ((f * 4 + lit(i * 6 + j)) % 11) +
          ((f * 2 + lit(i * 5 + j * 3)) % 17) +
          ((f * 5 + lit(i + j * 7)) % 19)) * 4)
        val gray = base +
          when((r + lit(i * 8 + j)) % 19 === 0, 24).otherwise(0)
        repeat(lpad(hex(gray), 2, "0"), 3)
      }
    }: _*)
    docs.select(col("doc_id"),
      to_binary(concat(lit(hdrHex), pixelHex), lit("hex")).as("blob"))
  }

  /** Complete 8-bit mono PCM WAV fixtures: n = 64 + doc_id mod 192
    * samples at 8 kHz, sample(t) = (d·31 + t·13 + t² mod 97) mod 256 —
    * planted arithmetic an external oracle replays per sample. Every
    * doc_id%10==4 blob interposes a LIST/INFO chunk between `fmt ` and
    * `data` (audioTable's walk-robustness contract). Synthesis runs
    * through the native planted_wav fixture generator (generation
    * shares no code with the parsing/folding expressions). */
  def pcmTable(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      call_function("planted_wav", col("doc_id")).as("blob"))

  /** Variable-size source images for the resize stage: complete W×W
    * 24-bpp BMPs, W = 16 + 8·(doc_id mod 3) ∈ {16, 24, 32} (all three
    * strides are 4-byte multiples, so the fixtures carry no row
    * padding — the EXPRESSION handles padded strides, spec-tested with
    * a 9-px-wide image). Pixels follow the same four-coprime-moduli
    * gray formula keyed by doc_id directly, so an external oracle
    * recomputes the value at any (row, col) arithmetically. Synthesis
    * runs through the native planted_bmp fixture generator (a
    * declarative transform/hex formulation measured ~2.7 µs/pixel in
    * the interpreted HOF path and dominated the key; generation still
    * shares no code with the parsing/resizing expressions). */
  def srcImageTable(docs: DataFrame): DataFrame = {
    val w = (lit(16) + col("doc_id") % 3 * 8).cast("int")
    docs.select(col("doc_id"),
      call_function("planted_bmp", col("doc_id"), w).as("blob"))
  }

  /** Near-dup image pairs by perceptual-hash Hamming distance ≤
    * maxDist: decode each thumbnail's aHash with the native
    * bmp_ahash64 expression, pack the two non-negative 32-bit halves
    * into ONE 64-bit signature, and hand off to the SAME
    * corpus-derived subset-bucket machinery as dedup_simhash
    * ([[Dedup.simhashPairsFrom]] with chunk count from
    * [[Dedup.autoSimhashChunks]]): the signature splits into k chunks
    * and buckets by all C(k, k−maxDist) chunk subsets — pigeonhole
    * recall is exact at EVERY rung, and the ladder widens k with the
    * corpus count so expected random candidate mass stays linear in n.
    * This retires the round-11 FIXED 4×16-bit single-chunk scheme,
    * whose 2^16 per-chunk keyspace was the repo's earliest quadratic
    * knee (~n²/2^16 candidates — a web-scale image corpus hits it at
    * millions of images): the ladder keeps the same 4-chunk geometry
    * below the knee (identical explode cost) and widens it PAST the
    * knee instead of saturating (k=11 top rung keys 2^46). Blobs
    * never shuffle: only (subset id, packed
    * chunk values, doc_id, signature) rows — ~40 B — cross the wire,
    * which is what makes this viable over a 100 TB media corpus. */
  /** (doc_id, simhash) aHash signatures for a thumbnail frame: decode
    * each blob with the native bmp_ahash64 expression and pack the two
    * non-negative 32-bit halves into ONE 64-bit signature — hi, lo ∈
    * [0, 2³²) by the bmp_ahash64 contract, so hi<<32 | lo is a
    * lossless pack and XOR+popcount over it equals the summed
    * half-distances the retired 4-chunk face computed. Shared by the
    * live pair face and the persisted store build/serve sides. */
  private def ahashSigs(thumbs: DataFrame): DataFrame =
    thumbs
      .select(col("doc_id"),
        call_function("bmp_ahash64", col("blob")).as("h"))
      .select(col("doc_id"),
        shiftleft(col("h.hi"), 32).bitwiseOR(col("h.lo")).as("simhash"))

  def phashPairs(thumbs: DataFrame, maxDist: Int = 3): DataFrame = {
    val sigs = ahashSigs(thumbs)
    // floor at maxDist+1 chunks (4 for hamming≤3): pigeonhole recall
    // holds for ANY k > maxDist, and small image corpora keep the
    // original 4-single-chunk explode cost (4 rows/doc) instead of
    // paying the text face's 20-subset floor — the ladder widens at
    // exactly the occupancy knee (C(4,3)·n > 2^16 ≈ 16k thumbs) where
    // the old fixed scheme went quadratic. sf0.1 cost restored ~1:1
    // vs the retired scheme; the sf1 point (50k thumbs) lands on the
    // 5-chunk rung (10 rows/doc) with keyspace 2^25.
    Dedup.simhashPairsFrom(sigs, totalBits = 64, maxDist = maxDist,
      chunks = Dedup.autoSimhashChunks(thumbs.count(), 64, maxDist,
        minChunks = maxDist + 1))
  }

  // ---- persisted pHash store: build once, probe many --------------------
  // The image-side analog of Dedup.buildLshStore/incrementalNearServe
  // (verdict r15 #3): mm_phash_dedup derives its chunk ladder from LIVE
  // counts per run, which is correct in-face — but an ACCUMULATING
  // image store whose corpus later crosses an autoSimhashChunks rung
  // would silently need every historical signature re-bucketed under
  // the wider split. This split pins the geometry from the planned
  // corpus CEILING at build time, persists it in a one-row sidecar
  // beside the bucket rows, reads it back at probe time, and REFUSES
  // loudly past the ceiling or on a sidecar/ceiling mismatch — the
  // dedup_incr_near_serve discipline applied to the image family.

  /** pHash store root under the shared
    * [[graft.sources.Tables.scratchRoot]]. */
  def phashStoreRoot: String =
    graft.sources.Tables.scratchRoot + "/phash_store"

  /** On-disk store location for a dataset directory; the ceiling rides
    * the path (the pqIndexPath convention) so a ceiling change can
    * never probe a stale-geometry store. */
  def phashStorePath(dir: String, corpusCeiling: Long): String =
    s"$phashStoreRoot/${dir.replaceAll("[^A-Za-z0-9._-]", "_")}" +
      s"/near_c$corpusCeiling"

  /** Materialize the image near-dup store: aHash signatures of the
    * history thumbnails, exploded into chunk-subset bucket rows under
    * the chunk count [[Dedup.autoSimhashChunks]] derives from the
    * CEILING (not the live count — the geometry never moves under an
    * accumulating store until planned capacity is actually exceeded).
    * Persists the bucket rows (~C(chunks,maxDist)·24 B per image;
    * blobs never stored — signatures are self-contained, unlike the
    * text store, so serving needs no history frame at all) plus a
    * one-row sidecar (chunks, max_dist, corpus_ceiling, hist_count).
    * Fails loudly if history already exceeds the ceiling. */
  def buildPhashStore(thumbs: DataFrame, path: String,
      corpusCeiling: Long, maxDist: Int = 3): Unit = {
    val histCount = thumbs.count()
    require(histCount <= corpusCeiling,
      s"buildPhashStore: history count $histCount exceeds the pinned " +
        s"corpus ceiling $corpusCeiling — pin the ceiling at planned " +
        "capacity, not below the data you already have")
    val chunks = Dedup.autoSimhashChunks(corpusCeiling, 64, maxDist,
      minChunks = maxDist + 1)
    Dedup.simhashSubsetKeys(ahashSigs(thumbs), 64, maxDist, chunks)
      .withColumnsRenamed(Map("doc_id" -> "hist_id", "simhash" -> "hist_sim"))
      .write.mode("overwrite").parquet(s"$path/bands")
    import thumbs.sparkSession.implicits._
    Seq((chunks, maxDist, corpusCeiling, histCount))
      .toDF("chunks", "max_dist", "corpus_ceiling", "hist_count")
      .write.mode("overwrite").parquet(s"$path/geometry")
  }

  /** Probe the PERSISTED image store with a batch of thumbnails —
    * per batch image: does it near-dup anything in the STORED history
    * (dup_of_history), an earlier image of this batch (dup_in_batch),
    * or neither (keep). The geometry is the PINNED one from the
    * sidecar (never re-derived from live counts, so historical bucket
    * rows are read as-is even when the live corpus has crossed ladder
    * rungs since the build), and — unlike the text store — the stored
    * SIGNATURES are the complete verify state, so there is no history
    * frame to drift from the sidecar count. Refusals (loud, never
    * silent): live corpus (stored hist_count + batch count) above the
    * pinned ceiling; sidecar chunk count differing from what its
    * recorded ceiling derives (corrupt or foreign store). */
  def phashServe(batch: DataFrame, path: String): DataFrame = {
    val spark = batch.sparkSession
    val geo = spark.read.parquet(s"$path/geometry").collect() match {
      case Array(row) => row
      case rows => throw new IllegalStateException(
        s"pHash store $path: geometry sidecar has ${rows.length} rows, " +
          "expected exactly 1 — corrupt store")
    }
    val chunks = geo.getAs[Int]("chunks")
    val maxDist = geo.getAs[Int]("max_dist")
    val ceiling = geo.getAs[Long]("corpus_ceiling")
    val histCount = geo.getAs[Long]("hist_count")
    val expect = Dedup.autoSimhashChunks(ceiling, 64, maxDist,
      minChunks = maxDist + 1)
    require(chunks == expect,
      s"pHash store $path: pinned chunk count $chunks does not match " +
        s"its recorded ceiling $ceiling (expects $expect) — corrupt " +
        "or foreign store; rebuild")
    val live = histCount + batch.count()
    require(live <= ceiling,
      s"pHash store $path: live corpus $live exceeds the pinned " +
        s"ceiling $ceiling — the build-time geometry no longer holds " +
        "bucket occupancy; rebuild the store with a larger ceiling " +
        "(re-bucketing history is REQUIRED past the ceiling, by " +
        "design never implicit)")
    val sigs = ahashSigs(batch).localCheckpoint(true)
    val keys = Dedup.simhashSubsetKeys(sigs, 64, maxDist, chunks)
      .localCheckpoint(true)
    // history-vs-batch: batch subset keys against the persisted bucket
    // rows; the exact hamming filter runs on the packed signatures, so
    // the join output needs no second verify pass
    val doh = keys
      .join(spark.read.parquet(s"$path/bands"), Seq("chunk", "chunk_val"))
      .filter(bit_count(col("simhash").bitwiseXOR(col("hist_sim")))
        <= maxDist)
      .select(col("doc_id")).distinct().withColumn("doh", lit(true))
    // batch-vs-batch: the live pair face under the PINNED geometry —
    // an earlier batch image (smaller id) marks the later one
    val dib = Dedup.simhashPairsFrom(sigs, 64, maxDist, chunks)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("dib", lit(true))
    sigs.select(col("doc_id"))
      .join(doh, Seq("doc_id"), "left_outer")
      .join(dib, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("doh"), lit(false)).as("dup_of_history"),
        coalesce(col("dib"), lit(false)).as("dup_in_batch"))
      .withColumn("keep", !col("dup_of_history") && !col("dup_in_batch"))
      .orderBy(col("doc_id"))
  }

  /** mm_image_dims and mm_frame_sample are fully oracled — the oracle
    * recomputes the doc_id-derived properties that the Spark side
    * parses out of the payload bytes. mm_metadata hash-matches its
    * real plumbing columns plus the stub's contract gates (the stub
    * internals are engine-specific by design). */
  def oracleSql: Map[String, String] = Map(
    // every sample replayed from the planted arithmetic: the integer
    // fold (Σ dev², max |dev|) rides the hash exactly; RMS is one
    // deterministic double from those integers
    // full formula replay: per-sample devs -> 16-sample window
    // energies -> integer gate -> islands (win - ROW_NUMBER) -> per-
    // clip segment stats; generation and extraction share no code
    // same planted window energies, gated split, integer ln-SNR
    "mm_audio_snr" ->
      """WITH s AS (
        |  SELECT doc_id, t // 16 AS win_idx,
        |    (doc_id * 31 + t * 13 + (t * t) % 97) % 256 - 128 AS dev
        |  FROM (SELECT doc_id,
        |          UNNEST(RANGE(0, 64 + doc_id % 192)) AS t
        |        FROM documents) u),
        |we AS (
        |  SELECT doc_id, win_idx,
        |    CAST(SUM(dev * dev) AS BIGINT) AS energy
        |  FROM s GROUP BY doc_id, win_idx),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_windows,
        |    CAST(SUM(CASE WHEN energy >= 85000 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_speech,
        |    CAST(SUM(CASE WHEN energy >= 85000 THEN energy ELSE 0 END)
        |      AS BIGINT) AS e_speech,
        |    CAST(SUM(CASE WHEN energy < 85000 THEN energy ELSE 0 END)
        |      AS BIGINT) AS e_noise
        |  FROM we GROUP BY doc_id)
        |SELECT doc_id, n_windows, n_speech, e_speech, e_noise,
        |  CASE WHEN e_speech > 0 AND e_noise > 0 THEN
        |    CAST(FLOOR(LN(e_speech) * 1e6) AS BIGINT)
        |      - CAST(FLOOR(LN(e_noise) * 1e6) AS BIGINT) END
        |    AS snr_ln_fp,
        |  e_speech >= e_noise AS speech_dominant
        |FROM agg ORDER BY doc_id""".stripMargin,
    "mm_audio_vad" ->
      """WITH s AS (
        |  SELECT doc_id, t // 16 AS win_idx,
        |    (doc_id * 31 + t * 13 + (t * t) % 97) % 256 - 128 AS dev
        |  FROM (SELECT doc_id,
        |          UNNEST(RANGE(0, 64 + doc_id % 192)) AS t
        |        FROM documents) u),
        |we AS (
        |  SELECT doc_id, win_idx,
        |    CAST(SUM(dev * dev) AS BIGINT) AS energy
        |  FROM s GROUP BY doc_id, win_idx),
        |act AS (
        |  SELECT doc_id, win_idx,
        |    win_idx - ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY win_idx) AS grp
        |  FROM we WHERE energy >= 85000),
        |runs AS (
        |  SELECT doc_id, grp, COUNT(*) AS len
        |  FROM act GROUP BY 1, 2),
        |segs AS (
        |  SELECT doc_id, COUNT(*) AS n_segments, MAX(len) AS longest_run,
        |    CAST(SUM(len) AS BIGINT) AS n_active
        |  FROM runs GROUP BY doc_id),
        |wins AS (
        |  SELECT doc_id, COUNT(*) AS n_windows FROM we GROUP BY doc_id)
        |SELECT w.doc_id, w.n_windows,
        |  COALESCE(g.n_active, 0) AS n_active,
        |  COALESCE(g.n_segments, 0) AS n_segments,
        |  COALESCE(g.longest_run, 0) AS longest_run
        |FROM wins w LEFT JOIN segs g USING (doc_id)
        |ORDER BY w.doc_id""".stripMargin,
    "mm_audio_rms" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    (doc_id * 31 + t * 13 + (t * t) % 97) % 256 - 128 AS dev
        |  FROM (SELECT doc_id,
        |          UNNEST(RANGE(0, 64 + doc_id % 192)) AS t
        |        FROM documents) u),
        |a AS (
        |  SELECT doc_id, COUNT(*) AS n_samples,
        |    CAST(SUM(dev * dev) AS BIGINT) AS sum_dev2,
        |    CAST(MAX(ABS(dev)) AS INT) AS peak_dev
        |  FROM s GROUP BY doc_id)
        |SELECT doc_id, n_samples, sum_dev2, peak_dev,
        |  ROUND(SQRT(CAST(sum_dev2 AS DOUBLE) / n_samples), 6) AS rms
        |FROM a ORDER BY doc_id""".stripMargin,
    // every bin count and the pixel mass replayed from the planted
    // per-pixel gray formula; zero bins emitted via the RANGE(0,16)
    // cross join so the 16-row-per-doc shape matches exactly
    // same planted-pixel histogram (occupied bins only — matching the
    // cnt>0 guard), integer entropy terms, cross-multiplied flag
    "mm_image_entropy" ->
      """WITH dims AS (
        |  SELECT doc_id, 16 + 8 * (doc_id % 3) AS w FROM documents),
        |cells AS (
        |  SELECT doc_id, w,
        |    4 * (((doc_id * 7 + i * 3 + j * 5) % 13)
        |       + ((doc_id * 4 + i * 6 + j) % 11)
        |       + ((doc_id * 2 + i * 5 + j * 3) % 17)
        |       + ((doc_id * 5 + i + j * 7) % 19)) AS g
        |  FROM dims, UNNEST(RANGE(0, 32)) ri(i), UNNEST(RANGE(0, 32)) rj(j)
        |  WHERE i < w AND j < w),
        |hb AS (
        |  SELECT doc_id, g // 16 AS bin, COUNT(*) AS cnt
        |  FROM cells GROUP BY doc_id, g // 16)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_px,
        |  CAST(SUM(cnt * CAST(FLOOR(LN(cnt) * 1e6) AS BIGINT))
        |    AS BIGINT) AS ent_sum_fp,
        |  MAX(cnt) * 10 >= SUM(cnt) * 9 AS low_contrast
        |FROM hb GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "mm_image_hist" ->
      """WITH dims AS (
        |  SELECT doc_id, 16 + 8 * (doc_id % 3) AS w FROM documents),
        |cells AS (
        |  SELECT doc_id, w,
        |    4 * (((doc_id * 7 + i * 3 + j * 5) % 13)
        |       + ((doc_id * 4 + i * 6 + j) % 11)
        |       + ((doc_id * 2 + i * 5 + j * 3) % 17)
        |       + ((doc_id * 5 + i + j * 7) % 19)) AS g
        |  FROM dims, UNNEST(RANGE(0, 32)) ri(i), UNNEST(RANGE(0, 32)) rj(j)
        |  WHERE i < w AND j < w),
        |hb AS (
        |  SELECT doc_id, g // 16 AS bin, COUNT(*) AS cnt
        |  FROM cells GROUP BY doc_id, g // 16),
        |mass AS (
        |  SELECT doc_id, CAST(SUM(g) AS BIGINT) AS sum_gray
        |  FROM cells GROUP BY doc_id)
        |SELECT d.doc_id, CAST(d.w AS BIGINT) AS w, m.sum_gray,
        |  CAST(b.bin AS BIGINT) AS bin,
        |  CAST(COALESCE(hb.cnt, 0) AS BIGINT) AS cnt
        |FROM dims d
        |JOIN mass m ON d.doc_id = m.doc_id
        |CROSS JOIN UNNEST(RANGE(0, 16)) b(bin)
        |LEFT JOIN hb ON hb.doc_id = d.doc_id AND hb.bin = b.bin
        |ORDER BY d.doc_id, b.bin""".stripMargin,
    // the resize replayed from planted arithmetic: source gray at the
    // nearest-neighbor coordinates (⌊i·H/8⌋, ⌊j·W/8⌋), then the same
    // divisionless aHash packing as mm_phash_dedup
    "mm_resize_thumb" ->
      """WITH px AS (
        |  SELECT doc_id, 16 + 8 * (doc_id % 3) AS w, i, j,
        |    4 * (((doc_id * 7 + ((i * (16 + 8 * (doc_id % 3))) // 8) * 3
        |           + ((j * (16 + 8 * (doc_id % 3))) // 8) * 5) % 13)
        |       + ((doc_id * 4 + ((i * (16 + 8 * (doc_id % 3))) // 8) * 6
        |           + ((j * (16 + 8 * (doc_id % 3))) // 8)) % 11)
        |       + ((doc_id * 2 + ((i * (16 + 8 * (doc_id % 3))) // 8) * 5
        |           + ((j * (16 + 8 * (doc_id % 3))) // 8) * 3) % 17)
        |       + ((doc_id * 5 + ((i * (16 + 8 * (doc_id % 3))) // 8)
        |           + ((j * (16 + 8 * (doc_id % 3))) // 8) * 7) % 19)) AS g
        |  FROM documents, UNNEST(RANGE(0, 8)) r1(i),
        |       UNNEST(RANGE(0, 8)) r2(j)),
        |tot AS (SELECT doc_id, SUM(g) AS s FROM px GROUP BY doc_id),
        |bits AS (
        |  SELECT p.doc_id, MAX(p.w) AS w,
        |    CAST(SUM(CASE WHEN 64 * p.g > t.s AND i * 8 + j >= 32
        |      THEN CAST(1 AS BIGINT) << (i * 8 + j - 32)
        |      ELSE 0 END) AS BIGINT) AS hi,
        |    CAST(SUM(CASE WHEN 64 * p.g > t.s AND i * 8 + j < 32
        |      THEN CAST(1 AS BIGINT) << (i * 8 + j)
        |      ELSE 0 END) AS BIGINT) AS lo
        |  FROM px p JOIN tot t ON p.doc_id = t.doc_id
        |  GROUP BY p.doc_id)
        |SELECT doc_id, CAST(w AS INT) AS src_w, CAST(w AS INT) AS src_h,
        |  hi, lo
        |FROM bits ORDER BY doc_id""".stripMargin,
    // the whole pipeline replayed from the planted pixel arithmetic:
    // grays, the divisionless mean compare 64·g > Σg, the two-half
    // bit packing, all-pairs XOR+popcount distance ≤ 3. Equality
    // proves the BMP byte decode and the chunk-bucket recall exactly
    "mm_phash_dedup" ->
      """WITH fm AS (
        |  SELECT GREATEST(50, COUNT(*) // 10) AS m FROM documents),
        |px AS (
        |  SELECT doc_id, i, j,
        |    4 * ((((doc_id % m) * 7 + i * 3 + j * 5) % 13)
        |       + (((doc_id % m) * 4 + i * 6 + j) % 11)
        |       + (((doc_id % m) * 2 + i * 5 + j * 3) % 17)
        |       + (((doc_id % m) * 5 + i + j * 7) % 19))
        |    + CASE WHEN ((doc_id // m) + i * 8 + j) % 19 = 0
        |           THEN 24 ELSE 0 END AS g
        |  FROM documents, fm, UNNEST(RANGE(0, 8)) r1(i),
        |       UNNEST(RANGE(0, 8)) r2(j)),
        |tot AS (SELECT doc_id, SUM(g) AS s FROM px GROUP BY doc_id),
        |bits AS (
        |  SELECT p.doc_id,
        |    CAST(SUM(CASE WHEN 64 * p.g > t.s AND i * 8 + j >= 32
        |      THEN CAST(1 AS BIGINT) << (i * 8 + j - 32)
        |      ELSE 0 END) AS BIGINT) AS hi,
        |    CAST(SUM(CASE WHEN 64 * p.g > t.s AND i * 8 + j < 32
        |      THEN CAST(1 AS BIGINT) << (i * 8 + j)
        |      ELSE 0 END) AS BIGINT) AS lo
        |  FROM px p JOIN tot t ON p.doc_id = t.doc_id
        |  GROUP BY p.doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(BIT_COUNT(XOR(a.lo, b.lo))
        |     + BIT_COUNT(XOR(a.hi, b.hi)) AS BIGINT) AS hamming
        |FROM bits a JOIN bits b ON a.doc_id < b.doc_id
        |WHERE BIT_COUNT(XOR(a.lo, b.lo))
        |    + BIT_COUNT(XOR(a.hi, b.hi)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // same planted-arithmetic hash replay, folded into the incremental
    // verdict contract over the %3 history/batch split (the
    // dedup_incr_near_serve oracle shape): TRUE all-pairs hamming —
    // serving from the pinned parquet store must reproduce it exactly.
    // Shared CTE chains are AS MATERIALIZED (the DuckDB default
    // inlining re-evaluates bits once per reference — the sf1 oracle
    // ceiling trap).
    "mm_phash_serve" ->
      """WITH fm AS MATERIALIZED (
        |  SELECT GREATEST(50, COUNT(*) // 10) AS m FROM documents),
        |px AS MATERIALIZED (
        |  SELECT doc_id, i, j,
        |    4 * ((((doc_id % m) * 7 + i * 3 + j * 5) % 13)
        |       + (((doc_id % m) * 4 + i * 6 + j) % 11)
        |       + (((doc_id % m) * 2 + i * 5 + j * 3) % 17)
        |       + (((doc_id % m) * 5 + i + j * 7) % 19))
        |    + CASE WHEN ((doc_id // m) + i * 8 + j) % 19 = 0
        |           THEN 24 ELSE 0 END AS g
        |  FROM documents, fm, UNNEST(RANGE(0, 8)) r1(i),
        |       UNNEST(RANGE(0, 8)) r2(j)),
        |tot AS MATERIALIZED (
        |  SELECT doc_id, SUM(g) AS s FROM px GROUP BY doc_id),
        |bits AS MATERIALIZED (
        |  SELECT p.doc_id,
        |    CAST(SUM(CASE WHEN 64 * p.g > t.s AND i * 8 + j >= 32
        |      THEN CAST(1 AS BIGINT) << (i * 8 + j - 32)
        |      ELSE 0 END) AS BIGINT) AS hi,
        |    CAST(SUM(CASE WHEN 64 * p.g > t.s AND i * 8 + j < 32
        |      THEN CAST(1 AS BIGINT) << (i * 8 + j)
        |      ELSE 0 END) AS BIGINT) AS lo
        |  FROM px p JOIN tot t ON p.doc_id = t.doc_id
        |  GROUP BY p.doc_id),
        |pairs AS MATERIALIZED (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bits a JOIN bits b ON a.doc_id < b.doc_id
        |  WHERE BIT_COUNT(XOR(a.lo, b.lo))
        |      + BIT_COUNT(XOR(a.hi, b.hi)) <= 3),
        |sym AS MATERIALIZED (
        |  SELECT doc_a AS x, doc_b AS y FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
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
        |ORDER BY b.doc_id""".stripMargin,
    // NAIVE definition: one per-type running sum over doc_id order.
    // Hash equality proves the engine's chunked distributed prefix
    // scan computes the identical start offset for every item
    "mm_shard_pack" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |      WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |    CAST(LENGTH(text) AS BIGINT) AS n_bytes
        |  FROM documents),
        |s AS (
        |  SELECT *, COALESCE(SUM(n_bytes) OVER (
        |    PARTITION BY media_type ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS start_b
        |  FROM m)
        |SELECT media_type, CAST(start_b // 4096 AS BIGINT) AS shard,
        |  COUNT(*) AS n_items, CAST(SUM(n_bytes) AS BIGINT) AS shard_bytes,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
        |  (SUM(n_bytes) <= 4095 + MAX(n_bytes)) AS bytes_ok
        |FROM s GROUP BY media_type, shard
        |ORDER BY media_type, shard""".stripMargin,
    "mm_metadata" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |    WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  CAST(LENGTH(text) AS BIGINT) AS n_bytes,
        |  TRUE AS dims_ok, TRUE AS norm_ok
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_frame_sample" ->
      """SELECT doc_id, CAST(f AS INT) AS frame_idx,
        |  CAST(64 + doc_id % 32 AS INT) AS frame_len,
        |  CAST(97 + (doc_id + f) % 26 AS INT) AS first_byte
        |FROM (SELECT doc_id, UNNEST(range(0, 4 + doc_id % 4, 2)) AS f
        |      FROM documents) t
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "mm_audio_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'aiff' END AS fmt,
        |  CAST(1 + doc_id % 3 AS INT) AS channels,
        |  CAST(CASE (doc_id % 7) % 4 WHEN 0 THEN 8000 WHEN 1 THEN 22050
        |    WHEN 2 THEN 44100 ELSE 48000 END AS INT) AS sample_rate,
        |  CAST(8 * (1 + (doc_id % 5) % 3) AS INT) AS bits,
        |  CAST(100 + doc_id % 400 AS BIGINT) AS n_frames,
        |  CAST((100 + doc_id % 400) * 1000 //
        |    (CASE (doc_id % 7) % 4 WHEN 0 THEN 8000 WHEN 1 THEN 22050
        |     WHEN 2 THEN 44100 ELSE 48000 END) AS BIGINT) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_image_dims" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
        |    ELSE 'bmp' END AS fmt,
        |  CAST(160 + doc_id % 1280 AS INT) AS width,
        |  CAST(90 + doc_id % 720 AS INT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,

    // frames replayed closed-form (the planted byte arithmetic), same
    // lag + running-sum segmentation — a green hash proves the byte
    // parse AND the cut rule; the SUM window is HUGEINT → cast
    "mm_scene_segments" ->
      """WITH f AS (
        |  SELECT doc_id, CAST(t.f AS INT) AS frame_idx,
        |    97 + CAST((doc_id + t.f) % 26 AS INT) AS fb
        |  FROM documents,
        |    UNNEST(RANGE(0, 4 + CAST(doc_id % 4 AS BIGINT))) t(f)),
        |c AS (
        |  SELECT doc_id, frame_idx,
        |    CASE WHEN ABS(fb - LAG(fb) OVER (
        |        PARTITION BY doc_id ORDER BY frame_idx)) > 10
        |      THEN 1 ELSE 0 END AS cut
        |  FROM f),
        |s AS (
        |  SELECT doc_id, frame_idx,
        |    SUM(cut) OVER (PARTITION BY doc_id ORDER BY frame_idx)
        |      AS seg
        |  FROM c)
        |SELECT doc_id, CAST(seg AS BIGINT) AS segment_id,
        |  MIN(frame_idx) AS start_frame, COUNT(*) AS n_frames
        |FROM s GROUP BY doc_id, seg
        |ORDER BY doc_id, segment_id""".stripMargin,
    // same closed-form dims as mm_image_dims, same per-mille ladder
    // argmin (tie → smaller ratio), same bucket-keyed batch numbering
    "mm_aspect_bucket" ->
      """WITH dims AS (
        |  SELECT doc_id,
        |    CAST(160 + doc_id % 1280 AS INT) AS width,
        |    CAST(90 + doc_id % 720 AS INT) AS height
        |  FROM documents),
        |ar AS (
        |  SELECT doc_id, width, height,
        |    CAST(width AS BIGINT) * 1000 // CAST(height AS BIGINT)
        |      AS ar_fp
        |  FROM dims),
        |bk AS (
        |  SELECT a.*, (
        |    SELECT CAST(b AS BIGINT)
        |    FROM UNNEST([500, 563, 750, 1000, 1333, 1778, 2000]) t(b)
        |    ORDER BY ABS(a.ar_fp - b), b LIMIT 1) AS bucket_fp
        |  FROM ar a)
        |SELECT doc_id, width, height, ar_fp, bucket_fp,
        |  CAST((ROW_NUMBER() OVER (
        |    PARTITION BY bucket_fp ORDER BY doc_id) - 1) // 16 AS BIGINT)
        |    AS batch_id
        |FROM bk ORDER BY doc_id""".stripMargin)
}
