package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.sources.{Stores, Tables}

class SimilaritySpec extends GraftSpec {

  private lazy val vecs = Tables.load(spark, sf, "embeddings")

  test("brute-force kNN matches an independently computed top-1") {
    val rows = vecs.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val q = rows(0L)
    val expectedTop = rows.filter(_._1 != 0L)
      .map { case (id, v) => id -> cos(q, v) }
      .maxBy { case (id, c) => (c, -id.toDouble) }
    val got = Similarity.knnBrute(vecs, col("vec_id") === 0)
      .filter(col("rank") === 1).collect().head
    assert(got.getLong(1) == expectedTop._1)
    assert(math.abs(got.getDouble(2) - expectedTop._2) < 1e-9)
  }

  test("incremental embedding verdicts: LSH face is a sound subset of exact") {
    import org.apache.spark.sql.functions.col
    def flags(exact: Boolean) =
      Similarity.incrementalEmbedding(vecs, col("vec_id") % 3 === 0,
          exact = exact).collect()
        .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2))))
        .toMap
    val e = flags(exact = true)
    val l = flags(exact = false)
    assert(e.keySet == l.keySet)
    // the LSH face's verify stage is exact cosine, so it can MISS a
    // dup (bucket recall) but never invent one
    l.foreach { case (id, (dh, db)) =>
      assert(!dh || e(id)._1, s"LSH false-positive history dup at $id")
      assert(!db || e(id)._2, s"LSH false-positive batch dup at $id")
    }
    // the fixture exercises both verdicts on the exact face
    assert(e.values.exists(_._1) && e.values.exists(_._2))
    // keep bit is the negation of the dup flags on every row
    Similarity.incrementalEmbedding(vecs, col("vec_id") % 3 === 0)
      .collect().foreach { r =>
        assert(r.getBoolean(3) == (!r.getBoolean(1) && !r.getBoolean(2)))
      }
  }

  test("IVF cell assignment shuffles no corpus rows") {
    // the corpus→cell assignment is a per-row argmax over the broadcast
    // codebook: no exchange keyed by vec_id may appear anywhere (the
    // pre-fix plan shuffled the n·C crossJoin expansion through
    // 'Exchange hashpartitioning(vec_id…' to rank centroids per row —
    // a 65536× row amplification at production C=2^16)
    val plan = Similarity.knnIvf(vecs, col("vec_id") < 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(vec_id"),
      s"corpus-side shuffle in IVF assignment:\n${plan.take(1500)}")
    // probing reads the queries of a vector's cell from a plan literal:
    // no shuffle keyed by cell, no nested-loop probe join
    assert(!plan.contains("hashpartitioning(cell") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"cell-keyed shuffle or probe join in IVF kNN:\n${plan.take(1500)}")
  }

  /** IVF cells (a c_id, slot, c_e frame) as their one-subspace
    * codebook, slot order */
  private def ivfCells(frame: org.apache.spark.sql.DataFrame) =
    new graft.functions.PqCodebook(Array(frame.select("slot", "c_e")
      .collect().map(r => r.getInt(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1).map(_._2)))

  test("IVF probe lists: the head is pq_assign's slot and the list is " +
    "the plain (cosine DESC in Spark's order, slot) sort — fixture " +
    "vectors, a zero vector and an exact two-cell tie") {
    val trained = ivfCells(Similarity.ivfPqIndex(vecs)._1).cents(0)
    // cells 3 and 7 identical: a vector at that centroid ties exactly
    val tied = trained.updated(7, trained(3))
    def norm(a: Array[Double]) = math.sqrt(a.map(v => v * v).sum)
    def cos(x: Array[Double], c: Array[Double]): Double =
      if (norm(x) == 0 || norm(c) == 0) -2.0
      else x.indices.map(i => x(i) * c(i)).sum / (norm(x) * norm(c))
    // Spark's double order: NaN above every number, -0.0 = 0.0
    val order = Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse,
      Ordering.Int)
    def probes(book: Array[Array[Double]],
        vs: Seq[Array[Double]]): Seq[Seq[Int]] = {
      val kernel = new graft.functions.PqCodebook(Array(book))
      import spark.implicits._
      val heads = vs.map(_.toSeq).toDF("v")
        .select(element_at(call_function("pq_assign", col("v"),
          typedlit(Seq(book.map(_.toSeq).toSeq))), 1).getField("slot"))
        .collect().map(_.getInt(0))
      vs.zip(heads).map { case (v, head) =>
        val got = kernel.probe(v, book.length).toSeq
        val want = book.indices.sortBy { c =>
          val x = cos(v, book(c)); (if (x == 0.0) 0.0 else x, c)
        }(order)
        assert(got == want, s"probe list $got != plain sort $want")
        assert(got.head == head, s"probe head ${got.head} != pq_assign $head")
        assert(kernel.probe(v, 2).toSeq == want.take(2))
        got
      }
    }
    probes(trained, vecs.select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray).toSeq)
    assert(probes(trained, Seq(Array.fill(Similarity.Dim)(0.0))).head ==
      trained.indices, "a zero vector probes every cell in slot order")
    assert(probes(tied, Seq(tied(3))).head.take(2) == Seq(3, 7),
      "an exact tie keeps the smaller slot first")
  }

  test("knnIvf and knnIvfPq probe identical cells for the same nprobe") {
    val (cellsFrame, _, codes) = Similarity.ivfPqIndex(vecs)
    val cells = ivfCells(cellsFrame)
    val cellOf = codes.select("vec_id", "ivf_cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val qv = vecs.filter(col("vec_id") < 5).select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val n = cellOf.size
    for (p <- Seq(1, 3)) {
      // every neighbor ranked (k = n, C = n): the cells an answer
      // reaches are exactly the cells its query probed
      def reached(df: org.apache.spark.sql.DataFrame) = df.collect()
        .groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.map(r => cellOf(r.getLong(1))).toSet }
      val ivf = reached(Similarity.knnIvf(vecs, col("vec_id") < 5, k = n,
        nprobe = p))
      val ivfpq = reached(Similarity.knnIvfPq(vecs, col("vec_id") < 5,
        k = n, nprobe = p, candidates = n))
      qv.foreach { case (q, v) =>
        val probed = cells.probe(v, p).toSet
          .filter(c => cellOf.exists { case (id, cc) => cc == c && id != q })
        assert(ivf(q) == probed && ivfpq(q) == probed,
          s"nprobe=$p query $q: knnIvf ${ivf(q)}, knnIvfPq ${ivfpq(q)}, " +
            s"probe list $probed")
      }
    }
  }

  test("int8 quantization respects the 0.5/scale reconstruction bound") {
    val stats = Similarity.quantizeStats(vecs).collect()
    assert(stats.length == vecs.count())
    stats.foreach { r =>
      val scale = r.getDouble(1)
      val maxErr = r.getDouble(2)
      val mse = r.getDouble(3)
      assert(scale > 0)
      // round() puts each element within half a quantization step
      assert(maxErr <= 0.5 / scale * (1 + 1e-9) + 1e-12,
        s"vec ${r.getLong(0)}: max_abs_err $maxErr > 0.5/scale ${0.5 / scale}")
      assert(mse >= 0 && mse <= maxErr * maxErr + 1e-15)
    }
  }

  test("IVF kNN achieves decent recall vs brute force") {
    val brute = Similarity.knnBrute(vecs, col("vec_id") < 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // near-random embeddings give IVF little cluster structure to
    // exploit; recall should still climb with the probe count
    val ivf2 = Similarity.knnIvf(vecs, col("vec_id") < 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf5 = Similarity.knnIvf(vecs, col("vec_id") < 10, nprobe = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall2 = (brute & ivf2).size.toDouble / brute.size
    val recall5 = (brute & ivf5).size.toDouble / brute.size
    assert(recall2 >= 0.2, s"IVF nprobe=2 recall $recall2 too low")
    assert(recall5 >= recall2, "recall must not drop with more probes")
    assert(recall5 >= 0.5, s"IVF nprobe=5 recall $recall5 too low")
  }

  test("bitpack packs exactly the driver-computed sign bits; " +
      "hamming kNN beats chance recall and improves with k") {
    val rows = vecs.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def pack(v: Array[Float], off: Int): Long =
      (0 until 32).foldLeft(0L) { (acc, i) =>
        if (off + i < v.length && v(off + i) >= 0) acc | (1L << i) else acc
      }
    val packed = Similarity.bitpack(vecs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(packed.size == rows.size)
    rows.foreach { case (id, v) =>
      val (h0, h1, pos) = packed(id)
      assert(h0 == pack(v, 0) && h1 == pack(v, 32),
        s"vec $id: packed halves disagree with driver replay")
      assert(pos == java.lang.Long.bitCount(h0) + java.lang.Long.bitCount(h1))
      assert(h0 >= 0 && h0 < (1L << 32) && h1 >= 0 && h1 < (1L << 32),
        s"vec $id: half out of the replayable [0, 2^32) range")
    }
    // recall vs exact cosine: random-ish embeddings bound what 64 sign
    // bits can recover, but the ranking must still beat chance (~0.01
    // for 5 of 499) and improve as k grows
    val brute = Similarity.knnBrute(vecs, col("vec_id") < 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def ham(k: Int) =
      Similarity.knnHamming(vecs, col("vec_id") < 10, k = k).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val r5 = (brute & ham(5)).size.toDouble / brute.size
    val r20 = (brute & ham(20)).size.toDouble / brute.size
    assert(r5 >= 0.08, s"hamming@5 recall $r5 is indistinguishable from chance")
    assert(r20 >= r5, "recall must not drop with more neighbors")
    assert(r20 >= 0.25, s"hamming@20 recall $r20 too low")
  }

  test("embedding near-dup pairs are verified, thresholded and ordered") {
    val pairs = Similarity.embeddingPairs(vecs, threshold = 0.35).collect()
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.35)
    }
  }

  test("embedding LSH fails loudly on recall collapse, reports stats") {
    // maxBucket=8 on 500 vectors over 16 buckets/band drops (nearly)
    // every bucket — the stats side output must say so
    val st = Similarity.embeddingBucketStats(vecs, maxBucket = 8).collect().head
    val (total, dropped, droppedIds) =
      (st.getLong(0), st.getLong(1), st.getLong(2))
    assert(total > 0)
    assert(dropped > 0, "tight maxBucket must report dropped buckets")
    assert(droppedIds > dropped * 8, "each dropped bucket holds > maxBucket ids")
    // the guard refuses to return a silently-empty result
    val ex = intercept[IllegalStateException] {
      Similarity.embeddingPairs(vecs, threshold = 0.35, maxBucket = 8)
    }
    assert(ex.getMessage.contains("recall collapse"))
    // with the default maxBucket nothing is dropped at this corpus size
    val ok = Similarity.embeddingBucketStats(vecs).collect().head
    assert(ok.getLong(1) == 0L)
  }

  test("exact block-pair face equals driver-computed all-pairs cosine; " +
    "LSH face is a verified subset with sane recall") {
    val rows = vecs.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    val expected = (for {
      (ia, va) <- rows; (ib, vb) <- rows if ia < ib
      c = cos(va, vb) if c >= 0.4 - 1e-9
    } yield (ia, ib)).toSet
    val exact = Similarity.embeddingPairsExact(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == expected,
      s"exact face diverges from all-pairs: missing ${expected -- exact}, " +
        s"extra ${exact -- expected}")
    // block count must not matter (completeness is structural)
    val exact4 = Similarity.embeddingPairsExact(vecs, blocks = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact4 == exact)
    // the probabilistic face can only miss pairs, never invent them,
    // and at 4-bit banding recall stays usable on this corpus
    val lsh = Similarity.embeddingPairs(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
    assert(lsh.size.toDouble / exact.size >= 0.5,
      s"LSH recall collapsed: ${lsh.size}/${exact.size}")
  }

  test("8-bit bands produce a verified subset of 4-bit candidates") {
    // an 8-bit band is two concatenated 4-bit bands over the same 48
    // sign bits: agreement on it implies agreement on both halves, so
    // the 8-bit pair set must be a subset of the 4-bit one
    val pairs8 = Similarity.embeddingPairs(vecs, threshold = 0.35,
      bitsPerBand = 8).collect()
    pairs8.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.35)
    }
    val set4 = Similarity.embeddingPairs(vecs, threshold = 0.35).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val set8 = pairs8.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(set8.subsetOf(set4))
  }

  test("label centroids match a driver-computed mean per (label, dim)") {
    val cents = Similarity.labelCentroids(vecs).collect()
    val labels = vecs.select("label").distinct().count()
    assert(cents.length == labels * Similarity.Dim)
    val expected = vecs.select("label", "embedding").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1))
      .groupBy(_._1).map { case (l, rows) =>
        val n = rows.length
        l -> (0 until Similarity.Dim).map(d =>
          rows.map(_._2(d).toDouble).sum / n)
      }
    cents.foreach { r =>
      val (l, d) = (r.getInt(0), r.getLong(1).toInt)
      // fixed-point quantization floor() bounds the drift by 1e-9
      assert(math.abs(r.getDouble(2) - expected(l)(d)) < 1e-8,
        s"centroid ($l,$d) off: ${r.getDouble(2)} vs ${expected(l)(d)}")
      assert(r.getLong(3) > 0)
    }
  }

  /** Driver-side covariance of the fixture embeddings: the independent
    * reference the PCA tests check the operator against. */
  private lazy val driverCov: Array[Array[Double]] = {
    val rows = vecs.select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val (n, d) = (rows.length, Similarity.Dim)
    val mean = Array.tabulate(d)(j => rows.map(_(j)).sum / n)
    Array.tabulate(d, d) { (i, j) =>
      rows.map(r => (r(i) - mean(i)) * (r(j) - mean(j))).sum / (n - 1)
    }
  }

  private def covTimes(v: Array[Double]): Array[Double] =
    driverCov.map(row => row.indices.map(k => row(k) * v(k)).sum)

  // loadings are rounded to 4 decimals, so ‖v − v_exact‖ ≤ RoundNorm
  private val RoundNorm = 0.5e-4 * math.sqrt(Similarity.Dim)

  test("power iteration finds the covariance top eigenvector") {
    val got = Similarity.topComponentCertified(vecs).collect()
    assert(got.length == Similarity.Dim)
    val v = got.map(_.getDouble(1))
    val eig = got.head.getDouble(2)
    val rt = RoundNorm * (2 + RoundNorm) // relative rounding term
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-9 + rt, "unit norm")
    // driver-side reference: covariance times v must be ~ eig * v
    val cv = covTimes(v)
    val rayleigh = v.indices.map(j => cv(j) * v(j)).sum
    assert(math.abs(rayleigh - eig) / eig < 0.05 + rt + 0.5e-4 / eig,
      s"eigenvalue estimate off: $eig vs $rayleigh")
    // residual ||Cv - λv|| relative to λ: the operator's certificate
    // (resid_ok = residual < 0.10 over its own centered pass) must
    // agree with this driver-side recomputation
    val resid = math.sqrt(v.indices
      .map(j => math.pow(cv(j) - rayleigh * v(j), 2)).sum)
    got.foreach(r => assert(r.getBoolean(3), "resid_ok false"))
    assert(resid / rayleigh < 0.10 + 0.02 + 2 * rt,
      s"residual $resid vs eig $rayleigh")
  }

  test("certified fixed-step face agrees with the converged component") {
    val cert = Similarity.topComponentCertified(vecs).collect()
    assert(cert.length == Similarity.Dim)
    // schema: (dim, loading, eigenvalue, resid_ok), loadings rounded
    cert.foreach(r => assert(r.getBoolean(3), "certificate failed"))
    // run-to-convergence reference on the driver's covariance: power
    // iteration until the direction stops moving (cap 300 steps)
    val d = Similarity.Dim
    var v = Array.fill(d)(1.0 / math.sqrt(d))
    var eig = 0.0
    var moved = 1.0
    var it = 0
    while (moved >= 1e-12 && it < 300) {
      val av = covTimes(v)
      eig = math.sqrt(av.map(x => x * x).sum)
      val vNew = av.map(_ / eig)
      moved = 1.0 - math.abs(v.zip(vNew).map { case (a, b) => a * b }.sum)
      v = vNew
      it += 1
    }
    val vCert = cert.map(_.getDouble(1))
    // the fixed 60-step iterate must point (nearly) the same way as
    // the run-to-convergence one
    val dot = v.zip(vCert).map { case (a, b) => a * b }.sum
    assert(math.abs(dot) > 0.999, s"direction disagrees: |cos|=$dot")
    assert(math.abs(cert.head.getDouble(2) - eig) < 0.01 * eig + 1e-4,
      "eigenvalue disagrees")
    // rounding really applied: 4 decimals survive a *10^4 roundtrip
    vCert.foreach(x =>
      assert(math.abs(x * 10000 - math.rint(x * 10000)) < 1e-6))
  }

  test("IVF probing every cell is exactly brute force") {
    // the correctness face's contract: nprobe = centroidBudget makes
    // IVF centroid-independent and exact — same pairs, same ranks
    val brute = Similarity.knnBrute(vecs, col("vec_id") < 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
    val full = Similarity.knnIvf(vecs, col("vec_id") < 10,
        nprobe = Similarity.CentroidBudget).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
    assert(full == brute)
  }

  test("IVF uses a fixed centroid budget and is deterministic") {
    val a = Similarity.knnIvf(vecs, col("vec_id") < 5, centroidBudget = 32)
      .collect()
    val b = Similarity.knnIvf(vecs, col("vec_id") < 5, centroidBudget = 32)
      .collect()
    assert(a.toSeq == b.toSeq)
    assert(a.length == 25, s"5 queries x k=5 expected, got ${a.length}")
  }

  /** (vec_id, subspace, slot) of a packed code store */
  private def unpack(codes: org.apache.spark.sql.DataFrame) =
    codes.select("vec_id", "codes").collect().toSeq.flatMap { r =>
      r.getAs[Array[Byte]](1).zipWithIndex.map { case (b, j) =>
        (r.getLong(0), j, b & 0xff) }
    }.sorted

  test("PQ assignment is deterministic, bounded and subspace-optimal") {
    val (book1, c1) = Similarity.pqIndex(vecs)
    val (_, c2) = Similarity.pqIndex(vecs)
    val codes1 = unpack(c1)
    assert(codes1 == unpack(c2), "PQ codes differ across runs")
    assert(codes1.size == vecs.count() * Similarity.PqM)
    // compression contract: every (m, slot) comes from its subspace's
    // codebook — at most M·K distinct codes library-wide
    val centArr = book1.collect().map { r =>
      (r.getInt(0), r.getInt(4)) -> r.getSeq[Float](2).map(_.toDouble).toArray
    }.toMap
    assert(centArr.size <= Similarity.PqM * Similarity.PqK)
    assert(codes1.map(c => (c._2, c._3)).toSet.subsetOf(centArr.keySet),
      "assignment used a slot absent from the codebook")
    // per-subspace optimality vs a driver-side exact argmax
    val sub = Similarity.Dim / Similarity.PqM
    val byVec = vecs.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    codes1.take(200).foreach { case (vid, m, slot) =>
      val e = byVec(vid).slice(m * sub, (m + 1) * sub)
      val best = centArr.collect { case ((mm, s), ce) if mm == m =>
        s -> cos(e, ce) }.toSeq.maxBy { case (s, c) => (c, -s) }
      val got = cos(e, centArr((m, slot)))
      assert(got >= best._2 - 1e-12,
        s"vec $vid subspace $m: assigned sim $got < best ${best._2}")
    }
  }

  /** The relational k-means + encode the kernels replaced: broadcast
    * codebook crossJoin, folded argmax, posexplode + groupBy
    * fixed-point means, slot = c_id rank. Kept here as the reference
    * the native path must reproduce bit for bit. */
  private object RelationalKmeans {
    import org.apache.spark.sql.DataFrame
    private def dot(a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column) = call_function("dot_product", a, b)
    private def safeCos(d: org.apache.spark.sql.Column,
        na: org.apache.spark.sql.Column, nb: org.apache.spark.sql.Column) =
      when(na === 0 || nb === 0, lit(-2.0)).otherwise(d / (na * nb))
    private def hashOrder(df: DataFrame, n: Int) =
      df.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(n)
    private def subvectors(df: DataFrame, m: Int) = {
      val w = Similarity.Dim / m
      df.select(col("vec_id"), col("embedding"),
          explode(sequence(lit(0), lit(m - 1))).as("m"))
        .select(col("vec_id"), col("m"),
          slice(col("embedding"), col("m") * w + 1, lit(w)).as("e"))
        .withColumn("nrm", sqrt(dot(col("e"), col("e"))))
    }
    /** (vec_id, m, e, cell = nearest c_id) */
    def assign(sub: DataFrame, cents: DataFrame): DataFrame = {
      val packed = broadcast(cents.groupBy(col("m").as("cm"))
        .agg(collect_list(struct(col("c_id"), col("c_e"), col("c_nrm")))
          .as("ents")))
      sub.join(packed, col("m") === col("cm"))
        .select(col("vec_id"), col("m"), col("e"),
          aggregate(transform(col("ents"), c => struct(
              safeCos(dot(col("e"), c.getField("c_e")), col("nrm"),
                c.getField("c_nrm")).as("sim"), c.getField("c_id").as("cell"))),
            struct(lit(Double.NegativeInfinity).as("sim"),
              lit(Long.MaxValue).as("cell")),
            (acc, x) => when(x.getField("sim") > acc.getField("sim") ||
              (x.getField("sim") === acc.getField("sim") &&
                x.getField("cell") < acc.getField("cell")), x)
              .otherwise(acc)).getField("cell").as("cell"))
    }
    /** centroid rows (m, c_id, c_e, c_nrm) after `iters` Lloyd passes */
    def train(df: DataFrame, k: Int, m: Int, iters: Int): DataFrame = {
      val sub = subvectors(hashOrder(df, 256 * k), m).localCheckpoint(true)
      val seed = subvectors(hashOrder(df, k), m)
        .select(col("m"), col("vec_id").as("c_id"), col("e").as("c_e"),
          col("nrm").as("c_nrm"))
      (0 until iters).foldLeft(seed) { (cents, _) =>
        assign(sub, cents.localCheckpoint(true))
          .select(col("m"), col("cell"), posexplode(col("e")).as(Seq("pos", "v")))
          .groupBy(col("m"), col("cell"), col("pos"))
          .agg((sum(floor(col("v").cast("double") * 1e9).cast("long"))
            / (count(lit(1)) * 1e9)).as("mv"))
          .groupBy(col("m"), col("cell"))
          .agg(array_sort(collect_list(struct(col("pos"), col("mv")))).as("pm"))
          .select(col("m"), col("cell").as("c_id"),
            transform(col("pm"), x => x.getField("mv").cast("float")).as("c_e"))
          .withColumn("c_nrm", sqrt(dot(col("c_e"), col("c_e"))))
      }
    }
    /** (vec_id, subspace, slot) with slot = the cell's c_id rank */
    def codes(df: DataFrame, cents: DataFrame, m: Int) = {
      val slots: Map[(Int, Long), Int] = cents.select("m", "c_id").collect()
        .map(r => (r.getInt(0), r.getLong(1))).groupBy(_._1).toSeq
        .flatMap { case (j, cs) => cs.map(_._2).sorted.zipWithIndex.toSeq
          .map { case (c, s) => (j, c) -> s } }.toMap
      assign(subvectors(df, m), cents).select("vec_id", "m", "cell").collect()
        .map(r => (r.getLong(0), r.getInt(1), slots((r.getInt(1), r.getLong(2)))))
        .toSeq.sorted
    }
    def rows(cents: DataFrame) = cents.select("m", "c_id", "c_e").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toSeq))
      .toSeq.sortBy(r => (r._1, r._2))
  }

  test("native k-means: PQ and IVF-PQ codebooks and codes equal the " +
    "relational Lloyd pass they replaced") {
    import RelationalKmeans._
    for ((m, iters) <- Seq((Similarity.PqM, Similarity.RefineIters), (32, 1))) {
      val (book, codes) = Similarity.pqIndex(vecs, refineIters = iters, m = m)
      val cents = train(vecs, Similarity.PqK, m, iters)
      assert(rows(book) == rows(cents), s"PQ m=$m codebook")
      assert(unpack(codes) == RelationalKmeans.codes(vecs, cents, m),
        s"PQ m=$m codes")
    }
    val (cells, book, codes) = Similarity.ivfPqIndex(vecs, m = 32,
      refineIters = 1)
    val relCells = train(vecs, Similarity.CentroidBudget, 1, 1)
    assert(rows(cells.withColumn("m", lit(0))) == rows(relCells))
    val residuals = assign(vecs.select(col("vec_id"), lit(0).as("m"),
        col("embedding").as("e"),
        sqrt(call_function("dot_product", col("embedding"), col("embedding")))
          .as("nrm")), relCells)
      .join(cells.select(col("c_id").as("cell"), col("c_e"), col("slot")), "cell")
      .select(col("vec_id"), col("slot"),
        zip_with(col("e"), col("c_e"), (x, c) => x - c).as("embedding"))
    val relBook = train(residuals, Similarity.PqK, 32, 1)
    assert(rows(book) == rows(relBook), "IVF-PQ residual codebook")
    assert(unpack(codes) == RelationalKmeans.codes(residuals, relBook, 32),
      "IVF-PQ codes")
    assert(codes.select("vec_id", "ivf_cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).sorted.toSeq ==
      residuals.select("vec_id", "slot").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).sorted.toSeq, "IVF cells")
  }

  test("index builds run a bounded number of Spark jobs") {
    val (_, pqJobs) = jobsDuring(Similarity.buildPqIndex(vecs,
      Stores.path(Stores.Ann, "spec_jobs", "pq")))
    val (_, ivfJobs) = jobsDuring(Similarity.buildIvfPqIndex(vecs,
      Stores.path(Stores.Ann, "spec_jobs", "ivfpq")))
    // count, sample, seed, one Lloyd pass, then the writes
    assert(pqJobs <= 10, s"PQ build ran $pqJobs jobs")
    assert(ivfJobs <= 16, s"IVF-PQ build ran $ivfJobs jobs")
  }

  test("emb_pq's argmax certificate fails a kernel that reports a " +
    "non-best slot") {
    val honest = Similarity.pqCodesGate(vecs).collect()
    assert(honest.nonEmpty && honest.forall(_.getBoolean(2)))
    // every subspace's slot swapped for another live one (0 <-> 1), its
    // similarity reported as the floor -2.0: a certificate that trusted
    // the kernel's own similarity would pass every row, so only the
    // independently folded bound over the whole codebook can catch it
    val swapped = Similarity.pqCodesGate(vecs, a => transform(a, s =>
        struct(when(s.getField("slot") === 0, 1).otherwise(0).as("slot"),
          lit(-2.0).as("sim"))))
      .collect()
    val failed = swapped.count(!_.getBoolean(2))
    assert(swapped.length == honest.length &&
      failed > swapped.length / 2,
      s"only $failed of ${swapped.length} rows failed the certificate")
  }

  test("zero-norm vectors get deterministic assignments instead of " +
    "ANSI divide-by-zero aborts") {
    // a degenerate all-zero embedding used to kill the whole query
    // under ANSI mode (cosine denominators are Spark divisions); it
    // must instead sort below every real cosine (-2.0) and pick cells
    // by the deterministic id tie-break
    val withZero = vecs.select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(spark.range(1).select(lit(999999L).as("vec_id"),
        array_repeat(lit(0.0f), Similarity.Dim).as("embedding"),
        lit(0).as("label")))
    // PQ: the zero vector still gets all 4 codes and its certificate
    // holds (sim_assigned == sim_best == -2.0)
    val gate = Similarity.pqCodesGate(withZero)
      .filter(col("vec_id") === 999999L).collect()
    assert(gate.length == 1)
    assert(gate.head.getInt(1) == Similarity.PqM)
    assert(gate.head.getBoolean(2), "argmax certificate broke on zero-norm")
    // IVF: assignment completes and the zero vector never outranks a
    // real neighbor for a real query
    val ivf = Similarity.knnIvf(withZero, col("vec_id") === 0,
      nprobe = Similarity.CentroidBudget).collect()
    assert(ivf.length == 5 && ivf.forall(_.getLong(1) != 999999L))
    // brute force with the zero vector AS the query: still emits k
    // deterministic rows (all cosines -2.0, ranked by neighbor id)
    val bruteZero = Similarity.knnBrute(withZero, col("vec_id") === 999999L)
      .collect()
    assert(bruteZero.length == 5)
    assert(bruteZero.forall(_.getDouble(2) == -2.0))
    assert(bruteZero.map(_.getLong(1)).toSeq == (0L to 4L).toSeq)
  }

  test("ADC retrieve-then-rerank equals brute-force top-k with the " +
    "identity certificate on every row") {
    val brute = Similarity.knnBrute(vecs, col("vec_id") < 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
    val face = Similarity.knnPqAdcExact(vecs, col("vec_id") < 10).collect()
    assert(face.forall(_.getBoolean(4)), "ADC != reconstruction cosine")
    assert(face.map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
      == brute,
      "rerank face diverged from brute force — ADC top-C lost a true " +
        "top-k neighbor (raise candidates or fix the code scan)")
  }

  test("IVF-PQ exact face equals brute-force top-k; certificate and " +
    "determinism hold; probing fewer cells degrades gracefully") {
    val brute = Similarity.knnBrute(vecs, col("vec_id") < 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
    val face = Similarity.knnIvfPqExact(vecs, col("vec_id") < 10).collect()
    assert(face.forall(_.getBoolean(4)),
      "IVF-PQ table score != centroid+reconstruction dot")
    assert(face.map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
      == brute, "probe-all IVF-PQ rerank diverged from brute force")
    // the serving face: probed-cell scan + rerank — recall floor only
    // (near-random corpus gives the coarse quantizer little structure)
    val serving = Similarity.knnIvfPq(vecs, col("vec_id") < 10,
      nprobe = 4, candidates = 50).collect()
    assert(serving.forall(_.getBoolean(4)))
    val servingSet = serving.map(r => (r.getLong(0), r.getLong(1))).toSet
    val bruteSet = brute.map(t => (t._1, t._2)).toSet
    assert((servingSet & bruteSet).size.toDouble / bruteSet.size >= 0.2,
      "IVF-PQ serving recall collapsed")
    val serving2 = Similarity.knnIvfPq(vecs, col("vec_id") < 10,
      nprobe = 4, candidates = 50).collect()
    assert(serving.toSeq == serving2.toSeq, "IVF-PQ is not deterministic")
  }

  test("autoBitsPerBand: integer ceil-log2 of n/occupancy, clamped") {
    assert(Similarity.autoBitsPerBand(1) == 4)
    assert(Similarity.autoBitsPerBand(500) == 4)
    assert(Similarity.autoBitsPerBand(512) == 4) // 32*2^4 = 512 exactly
    assert(Similarity.autoBitsPerBand(513) == 5)
    assert(Similarity.autoBitsPerBand(2000) == 6)
    assert(Similarity.autoBitsPerBand(20000) == 10)
    assert(Similarity.autoBitsPerBand(Long.MaxValue) == 16)
    // monotone: more data never means fewer bits
    val pts = Seq(1L, 100L, 1000L, 10000L, 100000L, 1000000L)
    assert(pts.map(Similarity.autoBitsPerBand) ==
      pts.map(Similarity.autoBitsPerBand).sorted)
  }

  test("auto-bits LSH face is a verified subset of the exact face " +
    "with the guard still armed") {
    val n = vecs.count()
    val auto = Similarity.embeddingPairs(vecs,
      bitsPerBand = Similarity.autoBitsPerBand(n)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.embeddingPairsExact(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto.subsetOf(exact),
      "LSH emitted a pair the all-pairs face does not have")
    assert(auto.nonEmpty, "auto-bits LSH found nothing at fixture SF")
  }

  test("serve faces read the persisted index: equal to build faces, " +
    "no rebuild on a second call, corpse dirs are replaced") {
    import java.nio.file.{Files, Paths}
    val pqPath = Similarity.pqIndexPath(sf)
    val ivfPath = Similarity.ivfPqIndexPath(sf)
    // a markerless corpse (killed build) must be replaced, not served
    val corpse = Paths.get(pqPath)
    if (!Files.exists(corpse.resolve(Stores.Marker))) {
      Files.createDirectories(corpse)
    }
    val pqServe = Similarity.knnPqServe(vecs, col("vec_id") < 10, pqPath)
      .collect()
    val pqBuild = Similarity.knnPqAdcExact(vecs, col("vec_id") < 10)
      .collect()
    assert(pqServe.toSeq == pqBuild.toSeq,
      "knnPqServe diverged from the build face on the same geometry")
    val ivfServe = Similarity.knnIvfPqServe(vecs, col("vec_id") < 10,
      ivfPath).collect()
    val ivfBuild = Similarity.knnIvfPqExact(vecs, col("vec_id") < 10)
      .collect()
    assert(ivfServe.toSeq == ivfBuild.toSeq,
      "knnIvfPqServe diverged from the build face on the same geometry")
    // second call serves the EXISTING index — the marker's mtime pins it
    val marker = Paths.get(pqPath, Stores.Marker)
    val mtime = Files.getLastModifiedTime(marker)
    val again = Similarity.knnPqServe(vecs, col("vec_id") < 10, pqPath)
      .collect()
    assert(again.toSeq == pqServe.toSeq, "serve is not deterministic")
    assert(Files.getLastModifiedTime(marker) == mtime,
      "second serve rebuilt a complete index")
  }

  test("sample-trained codebooks: above the 256·K training cap the " +
    "exact IVF-PQ face still equals brute force (candidate margin " +
    "survives sampled Lloyd)") {
    // 5000 synthetic vectors > the 4096-vector training cap, so the
    // Lloyd passes genuinely train on a strict subset here (the
    // verdict r16 #7 path); the exact face's contract must not move
    import spark.implicits._
    val synth = spark.range(5000).toDF("vec_id")
      .select(col("vec_id"), transform(sequence(lit(0), lit(63)),
        d => ((pmod(xxhash64(col("vec_id") * 64 + d), lit(2000))
          - 1000) / 1000.0).cast("float")).as("embedding"))
      .localCheckpoint(true)
    val cand = Similarity.autoAdcCandidates(5000L)
    val got = Similarity.knnIvfPqExact(synth, col("vec_id") < 5,
        candidates = cand).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val want = Similarity.knnBrute(synth, col("vec_id") < 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(got.nonEmpty && got.toSeq == want.toSeq,
      "sample-trained exact face diverged from brute force above the cap")
  }

  test("two-pass threshold top-k is bit-identical to the window brute " +
    "face, including ties and the fewer-than-k edge") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    for (k <- Seq(1, 5, 17)) {
      val brute = rows(Similarity.knnBrute(vecs, col("vec_id") < 10, k))
      val fast = rows(
        Similarity.knnBruteThreshold(vecs, col("vec_id") < 10, k))
      assert(fast == brute, s"threshold top-k diverged at k=$k")
    }
    // k exceeding the candidate count: every query keeps its full
    // (n-1)-row ranking — the below−1 cut fallback path
    val tiny = vecs.filter(col("vec_id") < 8)
    val bruteAll = rows(Similarity.knnBrute(tiny, col("vec_id") < 3, 50))
    val fastAll = rows(
      Similarity.knnBruteThreshold(tiny, col("vec_id") < 3, 50))
    assert(fastAll == bruteAll && fastAll.nonEmpty)
    assert(fastAll.count(_._1 == 0L) == 7,
      "k>n edge did not keep the full ranking")
  }

  test("serve faces refuse a drifted, foreign, or corrupt index — " +
    "the persisted-LSH-store refusal triple (verdict r16 #2)") {
    // a PRIOR run of this test corrupts pq_subset's sidecar on purpose;
    // start from a clean slate so reruns exercise the same sequence
    // (the MedallionSpec orphan-location pattern)
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val pqSub = Stores.path(Stores.Ann, "spec_refusals", "pq_subset")
    val ivfSub = Stores.path(Stores.Ann, "spec_refusals", "ivf_subset")
    val refRoot = Paths.get(pqSub).getParent
    if (Files.exists(refRoot)) {
      Files.walk(refRoot).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    }
    // drift: index built over a strict subset of the live corpus —
    // serving the full corpus would silently miss every post-build
    // vector (they have no code rows)
    val subset = vecs.filter(col("vec_id") % 2 === 0)
    Stores.ensure(pqSub)(tmp =>
      Similarity.buildPqIndex(subset, tmp))
    val drift = intercept[IllegalArgumentException] {
      Similarity.knnPqServe(vecs, col("vec_id") < 10, pqSub)
    }
    assert(drift.getMessage.contains("drifted corpus"))
    // ... and the IVF-PQ face applies the same refusal
    Stores.ensure(ivfSub)(tmp =>
      Similarity.buildIvfPqIndex(subset, tmp))
    val ivfDrift = intercept[IllegalArgumentException] {
      Similarity.knnIvfPqServe(vecs, col("vec_id") < 10, ivfSub)
    }
    assert(ivfDrift.getMessage.contains("drifted corpus"))
    // foreign store: sidecar m disagrees with the serving plan's m —
    // the codes would be DECODED wrong, not merely stale
    val foreign = intercept[IllegalArgumentException] {
      Similarity.knnPqServe(subset, col("vec_id") < 10, pqSub, m = 16)
    }
    assert(foreign.getMessage.contains("foreign store"))
    // corrupt sidecar: not exactly one geometry row
    import spark.implicits._
    Seq((Similarity.PqK, 32, 1, subset.count()),
        (Similarity.PqK, 32, 1, subset.count()))
      .toDF("pq_k", "m", "refine_iters", "build_count")
      .write.mode("overwrite").parquet(s"$pqSub/geometry")
    val corrupt = intercept[IllegalStateException] {
      Similarity.knnPqServe(subset, col("vec_id") < 10, pqSub)
    }
    assert(corrupt.getMessage.contains("corrupt store"))
    // an intact store + the exact build corpus still serves
    assert(Similarity.knnIvfPqServe(subset, col("vec_id") < 10, ivfSub)
      .count() > 0)
  }

  test("ADC scores equal cosine against the reconstruction; recall " +
    "vs brute is sane") {
    // the shipped kernel path at the library-default geometry (M=4
    // subspaces of 16 dims, two Lloyd passes) with C = k: the exact
    // re-rank only reorders ADC's own top-5, so the emitted set IS the
    // pure-ADC ranking, and every row carries the in-plan certificate
    val face = Similarity.knnPqAdcExact(vecs, col("vec_id") < 10,
      candidates = 5, m = Similarity.PqM,
      refineIters = Similarity.RefineIters).collect()
    assert(face.length == 50)
    assert(face.forall(_.getBoolean(4)), "ADC != reconstruction cosine")
    // recall floor: PQ with 4x16 codebooks on near-random 64-dim data
    // retains limited structure — the floor is deliberately modest and
    // the real contract is the identity certificate above
    val brute = Similarity.knnBrute(vecs, col("vec_id") < 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val adc = face.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & adc).size.toDouble / brute.size
    assert(recall >= 0.1, s"ADC recall vs brute $recall collapsed")
  }

  test("PQ / IVF-PQ keys and emb_recall_audit give identical rows under " +
    "1, 4 and 32 shuffle partitions with AQE on and off") {
    val keys = Seq("knn_pq_adc", "knn_ivfpq", "knn_pq_serve",
      "knn_ivfpq_serve", "emb_recall_audit", "emb_pq", "emb_pq_distortion",
      "knn_ivf")
    val confs = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled")
    val saved = confs.map(c => c -> spark.conf.get(c))
    def rows(parts: Int, aqe: Boolean): Map[String, Seq[String]] = {
      spark.conf.set(confs(0), parts.toString)
      spark.conf.set(confs(1), aqe.toString)
      keys.map(k => k -> SparkEntry.queries(k)(spark, sf).collect()
        .map(_.toString).toSeq).toMap
    }
    try {
      val base = rows(4, aqe = true)
      keys.foreach(k => assert(base(k).nonEmpty, s"$k returned no rows"))
      for (parts <- Seq(1, 4, 32); aqe <- Seq(true, false)
           if parts != 4 || !aqe) {
        val got = rows(parts, aqe)
        keys.foreach { k =>
          assert(got(k) == base(k),
            s"$k changed at $parts shuffle partitions with AQE $aqe")
        }
      }
    } finally saved.foreach { case (c, v) => spark.conf.set(c, v) }
  }

  test("standardize: per-dim zero mean / unit variance on the fixture, " +
      "NULL on a constant dimension") {
    import spark.implicits._
    val z = Similarity.standardize(vecs).collect()
    val byDim = z.filter(!_.isNullAt(2)).groupBy(_.getLong(1))
    byDim.foreach { case (d, rows) =>
      val vals = rows.map(_.getDouble(2))
      val m = vals.sum / vals.length
      val v = vals.map(x => (x - m) * (x - m)).sum / vals.length
      assert(math.abs(m) < 1e-4, s"dim $d mean $m not ~0")
      assert(math.abs(v - 1.0) < 1e-3, s"dim $d var $v not ~1")
    }
    // constant dimension → σ = 0 → NULL z, never a division error
    val const = Seq(
      (1L, Array(1.0f, 2.0f), 0), (2L, Array(1.0f, 5.0f), 0),
      (3L, Array(1.0f, 8.0f), 0)).toDF("vec_id", "embedding", "label")
    val cz = Similarity.standardize(const).collect()
    assert(cz.filter(_.getLong(1) == 0L).forall(_.isNullAt(2)))
    assert(cz.filter(_.getLong(1) == 1L).forall(!_.isNullAt(2)))
  }

  test("kNN graph: ranked cell-mate neighbors, no self edges, cosine " +
      "non-increasing per vector, and top-1 is the true nearest " +
      "cell-mate on a brute sample") {
    val g = Similarity.knnGraph(vecs).collect()
    assert(g.nonEmpty)
    val byVec = g.groupBy(_.getLong(0))
    byVec.foreach { case (v, rows) =>
      val rks = rows.map(_.getLong(1)).sorted.toSeq
      assert(rks == (1L to rks.length).toSeq, s"rank gap for $v")
      val cs = rows.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b },
        s"cosine increases along ranks for $v")
      assert(rows.forall(_.getLong(2) != v), s"self edge at $v")
    }
    // brute re-check: within each cell, every member's top-1 neighbor
    // maximizes cosine over its cell-mates (driver-side replay on the
    // full fixture — cells are small)
    val emb = vecs.collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray
    }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    // reconstruct cell membership from the graph itself: the union of
    // {v} ∪ neighbors(v) per vector lies in one cell, and for the
    // top-1 check only candidates that appear as SOME vector's
    // neighbor set are needed — use all ids seen with v
    byVec.foreach { case (v, rows) =>
      val cellMates = rows.map(_.getLong(2)).toSet
      val top1 = rows.minBy(_.getLong(1))
      val best = cellMates.map(m => (cos(emb(v), emb(m)), m))
        .maxBy { case (c, m) => (c, -m.toDouble) }
      assert(top1.getLong(2) == best._2,
        s"top-1 for $v is not the nearest cell-mate")
    }
  }

  test("rand_proj: proj_fp equals a driver replay of the ±1 sign hash " +
      "and proj is the shared scaling of it") {
    val emb = vecs.orderBy(col("vec_id")).limit(5).collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray
    }
    val got = Similarity.randProject(
        vecs.filter(col("vec_id") < emb.length)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got.size == emb.length * graft.functions.RandProject.OutDim)
    emb.foreach { case (id, v) =>
      val q = v.map(x => math.floor(x * 1e6).toLong)
      for (j <- 0 until graft.functions.RandProject.OutDim) {
        val expFp = q.indices.map { d =>
          if (graft.functions.RandProject.sign(d, j)) q(d) else -q(d)
        }.sum
        val (fp, p) = got((id, j.toLong))
        assert(fp == expFp, s"vec $id dim $j: got $fp want $expFp")
        assert(p == expFp / 4e6, s"proj must be the exact IEEE division")
      }
    }
    // the projection must not collapse: distinct outputs across vectors
    val perJ = got.toSeq.groupBy(_._1._2).view
      .mapValues(_.map(_._2._1).distinct.length)
    assert(perJ.values.forall(_ > 1), "a projection column is constant")
  }

  test("recall audit: hit counts equal a driver intersection of the " +
      "two faces and recall is their exact ratio") {
    val exact = Similarity.knnBrute(vecs, col("vec_id") % 50 === 0, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = Similarity.knnGraph(vecs)
      .filter(col("vec_id") % 50 === 0).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = Similarity.recallAudit(vecs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got.keySet == exact.keySet)
    got.foreach { case (v, (ne, na, nh, rec)) =>
      assert(ne == exact(v).size)
      assert(na == approx.getOrElse(v, Set.empty).size)
      assert(nh == (exact(v) & approx.getOrElse(v, Set.empty)).size)
      assert(rec == nh.toDouble / ne)
      assert(rec >= 0.0 && rec <= 1.0)
    }
    // the audit is not vacuous: the graph finds SOMETHING on average
    val mean = got.values.map(_._4).sum / got.size
    assert(mean > 0.1, s"mean recall $mean collapsed — cell config broken")
  }

  test("hybrid rrf: fusion equals a driver replay over both legs' " +
      "outputs, and a both-legs doc sums both reciprocal terms") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // doc 1 shares words with query doc 0 AND its embedding is near
    // vec 0 — it must surface in BOTH legs; docs 2/3 are lexical-only
    // and vector-only hits respectively
    val docs = Seq(
      (0L, "alpha beta gamma delta", "en", "web", 22L),
      (1L, "alpha beta gamma epsilon", "en", "web", 24L),
      (2L, "alpha beta zeta eta", "en", "web", 19L),
      (3L, "iota kappa lambda mu", "en", "web", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f), 0),
      (2L, Array(0.0f, 0.0f, 1.0f), 0),
      (3L, Array(0.8f, 0.2f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val every = 4L // legs' explicit sample; hybridRrf's internal
    // bounded-count modulus (max(100, n/128) = 100 on 4 docs) selects
    // the SAME query set {0}
    val bm = TextAnalysis.bm25TopK(docs, every, 8, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    val kn = Similarity.knnBrute(vecs, col("vec_id") % every === 0, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(3).toLong)
      .toMap
    assert(bm.keySet.intersect(kn.keySet).nonEmpty,
      "fixture failed to produce a both-legs doc")
    val expect = (bm.keySet ++ kn.keySet).map { key =>
      val fp = bm.get(key).map(r => 1000000000000L / (60 + r)).getOrElse(0L) +
        kn.get(key).map(r => 1000000000000L / (60 + r)).getOrElse(0L)
      key -> ((fp, bm.get(key), kn.get(key)))
    }.toMap
    val got = Similarity.hybridRrf(docs, vecs).collect().map { r =>
      (r.getLong(0), r.getLong(2)) ->
        ((r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          if (r.isNullAt(5)) None else Some(r.getLong(5))))
    }.toMap
    assert(got == expect)
    // ranks strictly follow (rrf_fp desc, doc_id)
    val ranked = Similarity.hybridRrf(docs, vecs).collect()
      .map(r => (r.getLong(1), r.getLong(3), r.getLong(2)))
    assert(ranked.sortBy { case (_, fp, id) => (-fp, id) }
      .map(_._1).toSeq == ranked.map(_._1).sorted.toSeq)
  }

  test("kmeans: assignments and distances equal a full driver replay " +
      "of two integer Lloyd rounds; clustering is non-trivial") {
    val q = vecs.collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray
        .map(x => math.floor(x.toDouble * 1e6).toLong + Similarity.KmShift)
    }.sortBy(_._1)
    var cents = q.take(Similarity.KmK).map(_._2.clone())
    def nearest(s: Array[Long]): (Int, Long) = {
      var bk = -1; var bd = Long.MaxValue
      for (k <- cents.indices) {
        var d = 0L
        for (i <- s.indices) {
          val t = s(i) - cents(k)(i); d += t * t
        }
        if (d < bd) { bd = d; bk = k }
      }
      (bk, bd)
    }
    for (_ <- 1 to Similarity.KmIters) {
      val byK = q.groupBy { case (_, s) => nearest(s)._1 }
      cents = cents.zipWithIndex.map { case (prev, k) =>
        byK.get(k).fold(prev) { members =>
          Array.tabulate(prev.length) { d =>
            members.map(_._2(d)).sum / members.length
          }
        }
      }
    }
    val expect = q.map { case (id, s) =>
      val (k, d) = nearest(s); id -> ((k.toLong, d))
    }.toMap
    val got = Similarity.kmeansAssign(vecs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expect)
    assert(got.values.map(_._1).toSet.size > 1,
      "k-means collapsed to a single cluster on the fixture")
  }

  test("mmr: redundancy penalty reorders pure-relevance ranking on a " +
      "hand-computed fixture; data face picks are dense and distinct") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // q=[.5,0]; c1=[2,0] dominates relevance; c2=[.5,0] is redundant
    // with c1 (score 7·25e6 − 3·1e8 = −125e6); c3=[0,.5] is orthogonal
    // (score 0) → MMR order c1, c3, c2 though qsim(c2) > qsim(c3)
    val vecs = Seq(
      (0L, Array(0.5f, 0f)), (1L, Array(2f, 0f)),
      (2L, Array(0.5f, 0f)), (3L, Array(0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.mmrDiversify(vecs, col("vec_id") === 0, k = 3,
        pool = 3).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 1L, 7L * 100000000L),
      (2L, 3L, 0L),
      (3L, 2L, 7L * 25000000L - 3L * 100000000L)), got.mkString(", "))
    // data face: per query, ranks dense 1..5, picks distinct, pick 1
    // is the relevance argmax of the pool
    val face = Similarity.mmrDiversify(
      graft.sources.Tables.load(spark, sf, "embeddings"),
      col("vec_id") < 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    face.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to 5L).toSeq)
      assert(rows.map(_._3).distinct.length == rows.length)
      val scores = rows.sortBy(_._2).map(_._4)
      // pick 1 carries the pure-relevance score, the maximum possible
      assert(scores.head >= scores.max, s"query $qid: $scores")
    }
  }

  test("embedding dedup clusters: verdicts equal a driver union-find " +
      "over the engine's own auto-bits LSH pairs") {
    val n = vecs.count()
    val pairs = Similarity.embeddingPairs(vecs,
      bitsPerBand = Similarity.autoBitsPerBand(n)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // min-label union-find: union points the larger root at the
    // smaller, so every root IS its component's min id
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val got = Similarity.embeddingDedupClusters(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val ids = vecs.select("vec_id").collect().map(_.getLong(0)).sorted
    assert(got.map(_._1).toSeq == ids.toSeq, "one verdict per vector")
    got.foreach { case (id, canon, dup) =>
      assert(canon == find(id), s"canon mismatch at $id")
      assert(dup == (canon != id), s"is_dup inconsistent at $id")
    }
    // fixture has both dups and keepers, and every canonical is kept
    assert(got.exists(_._3) && got.exists(!_._3))
    val byId = got.map(r => r._1 -> r._3).toMap
    assert(got.map(_._2).distinct.forall(c => !byId(c)),
      "a canonical representative was marked dup")
  }

  test("matryoshka audit: overlap bounded by k, full-width truncation " +
      "is the identity, energy fractions lie in (0, 1]") {
    import org.apache.spark.sql.functions.col
    val got = Similarity.matryoshkaAudit(vecs, col("vec_id") < 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 10)
    got.foreach { case (q, ov, en) =>
      assert(ov >= 0 && ov <= 5, s"query $q overlap $ov")
      assert(en > 0.0 && en <= 1.0, s"query $q energy $en")
    }
    // truncating to the full dimension must recover brute top-k exactly
    val idAudit = Similarity.matryoshkaAudit(vecs, col("vec_id") < 10,
      subDim = Similarity.Dim).collect()
    assert(idAudit.forall(r => r.getLong(1) == 5L),
      "full-width truncation lost neighbors")
    assert(idAudit.forall(r => r.getDouble(2) == 1.0))
  }

  test("radius search: every reported match truly clears the " +
      "threshold, counts are a sound subset of brute-force range") {
    import org.apache.spark.sql.functions.col
    val rows = vecs.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    val byId = rows.toMap
    val got = Similarity.radiusSearch(vecs, col("vec_id") < 10)
      .collect()
    assert(got.length == 10)
    got.foreach { r =>
      val q = r.getLong(0); val n = r.getLong(1)
      // brute-force range count is an upper bound (LSH can only miss)
      val brute = rows.count { case (id, v) =>
        id != q && cos(v, byId(q)) >= 0.3 - 1e-9 }
      assert(n <= brute, s"query $q: $n matches > brute $brute")
      if (n > 0) {
        // the reported best really clears the threshold
        val bid = r.getLong(2)
        assert(cos(byId(q), byId(bid)) >= 0.3 - 1e-9)
        assert(math.abs(r.getDouble(3) - cos(byId(q), byId(bid))) < 1e-3)
      } else assert(r.isNullAt(2) && r.isNullAt(3))
    }
    // the fixture produces at least one non-empty query
    assert(got.exists(_.getLong(1) > 0))
  }

  test("norm audit: planted zero, NaN and wrong-dim vectors are " +
      "counted in their batch, clean batches report zeros") {
    import spark.implicits._
    val clean = (0L until 100L).map(i =>
      (i, Array.fill(64)(0.1f + (i % 7) * 0.01f)))
    val dirty = Seq(
      (100L, Array.fill(64)(0.0f)),            // zero vector
      (101L, Array.fill(64)(Float.NaN)),       // non-finite
      (102L, Array.fill(32)(1.0f)),            // dimension drift
      (103L, Array.fill(64)(0.5f)))            // fine
    val vecs = (clean ++ dirty).toSeq.toDF("vec_id", "embedding")
    val got = Similarity.normAudit(vecs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(got(0L) == ((100L, 0L, 0L, 0L)), s"clean batch: ${got(0L)}")
    assert(got(1L) == ((4L, 1L, 1L, 1L)), s"dirty batch: ${got(1L)}")
    // fp norm spread is exact on the clean batch: all norms of the
    // i%7==0 rows are 0.1*8 = 0.8 exactly at the scan's float grid
    val face = Similarity.normAudit(
      graft.sources.Tables.load(spark, sf, "embeddings")).collect()
    assert(face.nonEmpty && face.forall(r =>
      r.getLong(2) == 0L && r.getLong(3) == 0L && r.getLong(4) == 0L))
    face.foreach(r => assert(r.getLong(5) <= r.getLong(6)))
  }

  test("emb_pair_hist: identical pairs hit the top bin, orthogonal " +
      "pairs the middle, opposed pairs the bottom; corpus conserves") {
    import spark.implicits._
    val u = Array(1f, 0f, 0f, 0f)
    val v = Array(0f, 1f, 0f, 0f)
    val w = Array(-1f, 0f, 0f, 0f)
    // pairs: (0,1)=identical cos 1 -> bin 15 (clamped); (2,3)=
    // orthogonal cos 0 -> bin 8; (4,5)=opposed cos -1 -> bin 0
    val vecs = Seq((0L, u), (1L, u), (2L, u), (3L, v), (4L, u), (5L, w))
      .toDF("vec_id", "embedding")
    val got = Similarity.pairCosineHist(vecs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(got(15L) == ((1L, 1000000L, 1000000L)))
    assert(got(8L) == ((1L, 0L, 0L)))
    assert(got(0L) == ((1L, -1000000L, -1000000L)))
    // corpus face: pair-count conservation + envelope sanity
    val n = Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") % 2 === 0).count()
    val face = SparkEntry.queries("emb_pair_hist")(spark, sf).collect()
    assert(face.map(_.getLong(1)).sum == n)
    face.foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) <= 15)
      assert(r.getLong(2) <= r.getLong(3))
    }
  }

  test("emb_lsh_audit: per-band mass conserves, pair mass replays from " +
      "bucket sizes, auto-bits geometry keeps buckets under the cut") {
    val vecs = Tables.load(spark, sf, "embeddings")
    val n = vecs.count()
    val bits = Similarity.autoBitsPerBand(n)
    val face = Similarity.lshBucketAudit(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(face.length == 48 / bits, "band count = plane budget / bits")
    face.foreach { case (_, nBuckets, nRows, maxB, candPairs, oversize) =>
      assert(nRows == n, "every vector lands in exactly one bucket per band")
      assert(nBuckets <= nRows && maxB <= nRows)
      // the audit's whole point: auto-bits keeps occupancy sane
      assert(oversize == 0, "degenerate bucket at auto-bits geometry")
      assert(candPairs >= maxB * (maxB - 1) / 2,
        "pair mass at least the biggest bucket's")
    }
  }

  test("emb_dim_stats: integer moments replay per dimension") {
    val vecs = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(_.getSeq[Float](1).toArray)
    val dim = vecs.head.length
    val want = (0 until dim).map { d =>
      val ms = vecs.map(v => math.floor(v(d).toDouble * 1e6).toLong)
      (d.toLong, ms.length.toLong, ms.sum, ms.map(m => m * m).sum,
        ms.min, ms.max)
    }
    val got = Similarity.dimStats(Tables.load(spark, sf, "embeddings"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == want)
  }

  test("pq distortion audit: per-subspace energy replays from the raw " +
      "vectors, training improves the codebook, and the audit is " +
      "deterministic") {
    val rows = vecs.select("vec_id", "embedding").collect()
      .map(r => r.getSeq[Float](1).toArray)
    // brute per-subspace quantized energy (the emb_centroids
    // fixed-point discipline: floor(x*1e3) per element, integer fold)
    val want = (0 until 4).map { m =>
      rows.map { e =>
        (m * 16 until (m + 1) * 16).map { d =>
          val q = math.floor(e(d).toDouble * 1e3).toLong
          q * q
        }.sum
      }.sum
    }
    val got = Similarity.pqDistortionAudit(vecs).collect()
    assert(got.length == 4)
    got.zipWithIndex.foreach { case (r, m) =>
      assert(r.getLong(0) == m && r.getLong(1) == rows.length)
      assert(r.getLong(2) == want(m), s"subspace $m energy")
      assert(r.getBoolean(3), s"subspace $m: refinement did not improve")
      assert(r.getBoolean(4), s"subspace $m: invalid cosine")
    }
    // pure function of the data: identical output on a re-run over a
    // different physical layout
    val re = Similarity.pqDistortionAudit(vecs.repartition(7)).collect()
    assert(re.map(_.toSeq).toSeq == got.map(_.toSeq).toSeq)
  }

  test("cell purity: census conserves the corpus, purity and entropy " +
      "terms replay from a driver argmax assignment") {
    val rows = vecs.select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    // driver centroids with the SAME fixed-point mean
    val cents = rows.groupBy(_._2).map { case (l, vs) =>
      val d = vs.head._3.length
      l.toLong -> Array.tabulate(d) { j =>
        vs.map(v => math.floor(v._3(j) * 1e9).toLong).sum.toDouble /
          (vs.length * 1e9)
      }
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dp = a.zip(b).map { case (x, y) => x * y }.sum
      dp / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    val assign = rows.map { case (_, l, e) =>
      val best = cents.toSeq.map { case (c, cv) => (-cos(e, cv), c) }
        .sorted.head._2
      (best, l)
    }
    val want = assign.groupBy(_._1).map { case (cell, ms) =>
      val byLabel = ms.groupBy(_._2).map(_._2.length.toLong)
      cell -> ((ms.length.toLong, byLabel.size.toLong, byLabel.max,
        1000L * byLabel.max / ms.length,
        byLabel.map(n =>
          n * math.floor(math.log(n.toDouble) * 1e6).toLong).sum))
    }
    val got = Similarity.cellPurity(vecs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got == want)
    assert(got.values.map(_._1).sum == rows.length)
    got.values.foreach { case (n, nl, nm, pm, _) =>
      assert(nm <= n && nl >= 1 && pm >= 1000 / nl && pm <= 1000)
    }
  }

  test("mutual knn: exactly the reciprocal edges of the knn graph " +
      "survive, with rank and similarity carried over") {
    val graph = Similarity.knnGraph(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val edges = graph.map(e => (e._1, e._3)).toSet
    val want = graph.filter(e => edges((e._3, e._1)))
      .sortBy(e => (e._1, e._2)).toSeq
    val got = Similarity.mutualKnn(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == want, "mutual cut diverges from the driver filter")
    assert(got.nonEmpty && got.size < graph.size,
      "fixture graph has no one-directional edges to cut")
    // symmetry: the mutual edge SET is closed under reversal
    val mset = got.map(e => (e._1, e._3)).toSet
    assert(mset.forall(e => mset((e._2, e._1))))
  }

  test("hard negatives: every mined negative carries a different label " +
      "and the ranking equals the label-filtered brute force") {
    val rows = vecs.select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    val got = Similarity.hardNegatives(vecs, col("vec_id") < 10)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getDouble(4), r.getInt(5)))
    assert(got.nonEmpty)
    val byId = rows.map(r => r._1 -> r).toMap
    got.foreach { case (q, ql, n, nl, _, _) =>
      assert(byId(q)._2 == ql && byId(n)._2 == nl && ql != nl,
        s"query $q: negative $n shares its label")
    }
    // brute replay: per query, top-5 by cosine among different-label
    // vectors, ties on neighbor id
    rows.filter(_._1 < 10).foreach { case (q, ql, qe) =>
      val want = rows.filter(r => r._1 != q && r._2 != ql)
        .map(r => (r._1, cos(qe, r._3)))
        .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toSeq
      val mine = got.filter(_._1 == q).sortBy(_._6).map(_._3).toSeq
      assert(mine == want, s"query $q ranking")
    }
  }

  test("k-center farthest-point: exact traversal on a planted geometry, " +
      "duplicate and exhaustion semantics, empty in, empty out") {
    import spark.implicits._
    // quantized coords (x1000): 1=(0,0,0) 2=(9,0,0) 3=(1000,0,0)
    // 4=(0,1000,0) 5=(500,500,0); seed = min id, then farthest-first
    // with min-id ties: 3 (1e6, tied with 4), 4 (1e6), radius row 5
    // (500000 -- the corpus max min-distance after the 3 centers)
    val vecs = Seq(
      (1L, Array(0f, 0f, 0f)), (2L, Array(0.01f, 0f, 0f)),
      (3L, Array(1f, 0f, 0f)), (4L, Array(0f, 1f, 0f)),
      (5L, Array(0.5f, 0.5f, 0f))).toDF("vec_id", "embedding")
    val got = Similarity.kCenterSelect(vecs, k = 3).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1, 1L, 0L), (2, 3L, 1000000L), (3, 4L, 1000000L),
      (4, 5L, 500000L)))
    // exact duplicates never re-select: a two-copy corpus yields the
    // seed alone (remaining min-distances are all zero)
    val dup = Seq((7L, Array(1f, 2f, 3f)), (9L, Array(1f, 2f, 3f)))
      .toDF("vec_id", "embedding")
    assert(Similarity.kCenterSelect(dup, k = 3).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1, 7L, 0L)))
    // exhaustion: two distinct vectors under k = 3 emit seed + one
    // pick and no radius row -- fewer rows, never a null row
    val two = Seq((1L, Array(0f, 0f, 0f)), (2L, Array(1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    assert(Similarity.kCenterSelect(two, k = 3).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1, 1L, 0L), (2, 2L, 1000000L)))
    // empty corpus: empty frame with the schema intact
    val empty = Similarity.kCenterSelect(
      vecs.filter(col("vec_id") < 0), k = 2)
    assert(empty.columns.toSeq == Seq("sel_rank", "vec_id", "dist_fp"))
    assert(empty.count() == 0)
  }

  test("nprobe operating table: production serve geometry, full probe " +
      "recalls 1.0 (the candidate-budget proof), scan fraction " +
      "non-decreasing and 1.0 at all-cells") {
    val vecs = graft.sources.Tables.load(spark, sf, "embeddings")
    val t = graft.operators.Similarity
      .nprobeOperatingTable(vecs, probes = Seq(1, 4, 16)).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    assert(t.map(_._1).toSeq == Seq(1, 4, 16))
    t.foreach { case (p, q, rec, scan) =>
      assert(q > 0 && rec >= 0.0 && rec <= 1.0 &&
        scan > 0.0 && scan <= 1.0, s"row $p: q=$q rec=$rec scan=$scan")
    }
    assert(t.sliding(2).forall(w => w(0)._4 <= w(1)._4),
      "scan fraction must be non-decreasing in nprobe")
    // all 16 cells probed = exact re-rank over the full ADC ordering:
    // recall 1.0 is the proof that the corpus-derived candidate budget
    // holds — a shortfall HERE is a budget regression, never routing
    val full = t.last
    assert(full._4 == 1.0 && full._3 == 1.0,
      s"full-probe row: recall=${full._3} scan=${full._4}")
  }
}
