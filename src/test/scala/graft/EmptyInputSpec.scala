package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Relational, Sampling, TextAnalysis}

/** Empty-corpus contract for the library faces a user calls directly:
  * an operator fed zero rows returns zero rows WITH ITS USUAL SCHEMA —
  * never an opaque driver-side exception out of an eager `.head()` /
  * `.collect()`. Purely-declarative faces satisfy this for free; the
  * tests pin the driver-state faces (boundary bucketing, BM25 corpus
  * stats) that have to handle it explicitly.
  */
class EmptyInputSpec extends GraftSpec {

  private def emptyDocs: DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType),
        StructField("lang", StringType),
        StructField("source", StringType),
        StructField("n_chars", LongType))))

  test("per-row and shuffle faces: empty in, empty out, schema intact") {
    val faces: Seq[(String, DataFrame => DataFrame)] = Seq(
      "quality" -> TextAnalysis.quality _,
      "tokens" -> TextAnalysis.tokens _,
      "langId" -> TextAnalysis.langId _,
      "repetition" -> TextAnalysis.repetition _,
      "chunk" -> ((d: DataFrame) => TextAnalysis.chunk(d)),
      "entropy" -> TextAnalysis.entropy _,
      "unigramLogProb" -> TextAnalysis.unigramLogProb _,
      "tfidfKeywords" -> ((d: DataFrame) => TextAnalysis.tfidfKeywords(d)),
      "winnowOverlapPairsPoly" ->
        ((d: DataFrame) => TextAnalysis.winnowOverlapPairsPoly(d)),
      "exact" -> Dedup.exact _,
      "minhashPairs" -> ((d: DataFrame) => Dedup.minhashPairs(d)),
      "polySimhashPairs" -> ((d: DataFrame) => Dedup.polySimhashPairs(d)),
      "nearDupClusters" -> Dedup.nearDupClusters _,
      "stratifiedSample" ->
        ((d: DataFrame) => Sampling.stratifiedSample(d)),
      "topKPerStratum" -> ((d: DataFrame) => Sampling.topKPerStratum(d)),
      "packSequences" -> ((d: DataFrame) => Sampling.packSequences(d)),
      "temperatureMix" -> ((d: DataFrame) => Sampling.temperatureMix(d)),
      // round-12 gram-digest faces: the digest arrays come from a
      // native expression, so prove the empty corpus flows through
      "contamination" ->
        ((d: DataFrame) => Dedup.contamination(d, col("doc_id") < 0)),
      "nearContamination" ->
        ((d: DataFrame) => Dedup.nearContamination(d, col("doc_id") < 0)),
      "substringStats" -> ((d: DataFrame) => Dedup.substringStats(d)),
      "segmentDedup" -> ((d: DataFrame) => Dedup.segmentDedup(d)),
      "boilerplateStrip" -> ((d: DataFrame) => Dedup.boilerplateStrip(d)),
      "weightedSample" -> ((d: DataFrame) => Sampling.weightedSample(d)))
    faces.foreach { case (name, f) =>
      val out = f(emptyDocs)
      assert(out.schema.nonEmpty, s"$name lost its schema")
      assert(out.count() == 0, s"$name fabricated rows from nothing")
    }
  }

  test("attrition over an emptied corpus emits NULL drop rates, " +
      "never a division error") {
    val rows = graft.operators.Corpus.attrition(spark, emptyDocs)
      .orderBy(col("stage")).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getLong(1) == 0L && r.getLong(2) == 0L)
      assert(r.isNullAt(3),
        s"stage ${r.getString(0)}: drop_permille must be NULL at prev=0")
    }
  }

  test("graph, phash and knn-graph faces: empty in, empty out") {
    import graft.operators.{Graph, Multimodal, Similarity}
    val emptyEdges = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("a", LongType), StructField("b", LongType))))
    val tri = Graph.triangleCounts(emptyEdges)
    assert(tri.columns.toSeq == Seq("node", "n_tri") && tri.count() == 0)
    val ph = Multimodal.phashPairs(Multimodal.thumbTable(emptyDocs))
    assert(ph.columns.toSeq == Seq("doc_a", "doc_b", "hamming") &&
      ph.count() == 0)
    val emptyVecs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType))))
    val kg = Similarity.knnGraph(emptyVecs)
    assert(kg.columns.toSeq == Seq("vec_id", "rk", "neighbor_id", "cos_r")
      && kg.count() == 0)
    val km = Similarity.kmeansAssign(emptyVecs)
    assert(km.columns.toSeq == Seq("vec_id", "cluster", "dist2_fp", "dist")
      && km.count() == 0)
    val tk = TextAnalysis.tfidfKeywords(emptyDocs)
    assert(tk.columns.toSeq == Seq("doc_id", "rk", "term", "score") &&
      tk.count() == 0)
  }

  test("bm25 over an empty corpus returns an empty, correctly-typed frame") {
    val out = TextAnalysis.bm25TopK(emptyDocs)
    assert(out.columns.toSeq == Seq("query_id", "rk", "doc_id", "score"))
    assert(out.schema("score").dataType == DoubleType)
    assert(out.count() == 0)
  }

  test("bucketByBoundaries rejects an empty frame with a clear error") {
    val df = emptyDocs.select(col("doc_id"), col("n_chars"))
    val e = intercept[IllegalArgumentException] {
      Relational.bucketByBoundaries(df, "n_chars")
    }
    assert(e.getMessage.contains("empty"),
      s"error should name the empty input, got: ${e.getMessage}")
  }

  test("checkpointObserved: metrics that never arrive fall back to the " +
    "checkpoint, and the fallback is counted") {
    val before = graft.plans.Probes.fallbacks
    val ck = emptyDocs.select(col("doc_id")).localCheckpoint(true)
    val row = graft.plans.Probes.awaitObserved(ck,
      scala.concurrent.Promise[org.apache.spark.sql.Row]().future,
      scala.concurrent.duration.Duration(1, "ms"), Seq(count(lit(1))))
    assert(row.getLong(0) == 0L)
    assert(graft.plans.Probes.fallbacks == before + 1,
      "the fallback was not counted")
    // the fused path over an empty corpus answers 0 either way
    val (_, fused) = graft.plans.Probes.checkpointObserved(
      emptyDocs.repartition(4), count(lit(1)).as("n"))
    assert(fused.getLong(0) == 0L)
  }
}
