package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph
import graft.sources.Tables

class GraphSpec extends GraftSpec {
  import spark.implicits._

  /** Naive driver-side replay of the fixed-point update rule. */
  private def naivePageRank(edges: Seq[(Long, Long)], iters: Int)
      : Map[Long, Long] = {
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val n = deg.size.toLong
    val teleport = 3L * Graph.FpOne / (20L * n)
    var r = deg.keys.map(_ -> Graph.FpOne / n).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _) => r(s) * 17L / (20L * deg(s)) }.sum
      }
      r = in.map { case (v, s) => v -> (teleport + s) }
    }
    r
  }

  test("degree audit: census replays on a star fixture and conserves " +
      "node and edge mass on the warehouse graph") {
    // star: hub 0 ↔ leaves 1..9 (both directions) → hub deg 9
    // (bucket 3), nine leaves deg 1 (bucket 0)
    val star = (1L to 9L).flatMap(i => Seq((0L, i), (i, 0L)))
      .toDF("src", "dst")
    val got = Graph.degreeAudit(star).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(0L -> ((9L, 1L, 1L, 9L)), 3L -> ((1L, 9L, 9L, 9L))))
    // warehouse face: buckets partition the node set; edge mass sums
    // to the edge count; bucket envelopes nest correctly
    val edges = Graph.coPurchaseEdges(
      Tables.load(spark, sf, "orders"), Tables.load(spark, sf, "lineitem"))
    val face = Graph.degreeAudit(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(face.map(_._2).sum == edges.select(col("src")).distinct().count())
    assert(face.map(_._5).sum == edges.count())
    face.foreach { case (b, _, mn, mx, _) =>
      assert((1L << b) <= mn && mn <= mx && mx < (1L << (b + 1)))
    }
  }

  test("pagerank equals the driver replay on a random graph and on a star") {
    val rnd = new scala.util.Random(7)
    val base = (1 to 60).map(_ => (rnd.nextInt(12).toLong,
      rnd.nextInt(12).toLong)).filter(e => e._1 != e._2).distinct
    val undirected = (base ++ base.map(_.swap)).distinct
    val df = undirected.toDF("src", "dst")
    val got = Graph.pageRank(df, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == naivePageRank(undirected, 3))
    // star: the hub outranks every leaf
    val star = ((1L to 5L).map(0L -> _) ++ (1L to 5L).map(_ -> 0L))
    val sr = Graph.pageRank(star.toDF("src", "dst"), iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(l => sr(0L) > sr(l)),
      s"hub must outrank leaves: $sr")
    assert(sr == naivePageRank(star, 3))
  }

  test("fixed-point mass: total rank stays within the floor-loss bound " +
      "of FpOne on the warehouse co-purchase graph") {
    val edges = Graph.coPurchaseEdges(Tables.load(spark, sf, "orders"),
      Tables.load(spark, sf, "lineitem"))
    val nEdges = edges.count()
    val ranks = Graph.pageRank(edges, iters = 3).collect()
    val total = ranks.map(_.getLong(1)).sum
    // each contribution and the teleport floor lose < 1 unit each,
    // per node per iteration; 3 iterations bound the total deficit
    val maxLoss = 3L * (nEdges + ranks.length)
    assert(total <= Graph.FpOne, s"mass exceeds 1.0: $total")
    assert(total >= Graph.FpOne - maxLoss,
      s"mass deficit ${Graph.FpOne - total} exceeds floor bound $maxLoss")
    // ranking sanity: every rank positive, nodes distinct
    assert(ranks.forall(_.getLong(1) > 0))
    assert(ranks.map(_.getLong(0)).distinct.length == ranks.length)
  }

  /** Naive driver-side triangle participation: for each node, count
    * unordered triples that are pairwise connected. */
  private def naiveTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = edges.map { case (a, b) => (a min b, a max b) }.toSet
    val nodes = es.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val tris = for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      k <- (j + 1) until nodes.length
      u = nodes(i); v = nodes(j); w = nodes(k)
      if es((u, v)) && es((u, w)) && es((v, w))
    } yield (u, v, w)
    val per = tris.flatMap(t => Seq(t._1, t._2, t._3))
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    nodes.map(n => n -> per.getOrElse(n, 0L)).toMap
  }

  test("triangle counts match the naive replay on K4, a path, and a " +
      "random graph") {
    def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
      Graph.triangleCounts(edges.map { case (a, b) => (a min b, a max b) }
          .distinct.toDF("a", "b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // K4: four triangles, every node in exactly three
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    assert(run(k4) == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // path: no triangles, all nodes still present with 0
    assert(run(Seq((1L, 2L), (2L, 3L), (3L, 4L))) ==
      Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
    // random graph vs the naive enumeration
    val rnd = new scala.util.Random(11)
    val g = (1 to 80).map(_ => (rnd.nextInt(14).toLong,
      rnd.nextInt(14).toLong)).filter(e => e._1 != e._2)
      .map { case (a, b) => (a min b, a max b) }.distinct
    assert(run(g) == naiveTriangles(g))
  }

  test("bfs hops: exact distances on a path-plus-shortcut graph, " +
      "unreached nodes absent, shortest path wins") {
    import spark.implicits._
    // path 0-1-2-3-4-5 plus shortcut 0-3: dist(3)=1, dist(4)=2,
    // dist(5)=3; node 6 is disconnected and must not appear
    val und = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (0L, 3L), (6L, 7L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(0L).toDF("node")
    val got = Graph.bfsHops(edges, seeds, hops = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 1L,
      4L -> 2L, 5L -> 3L))
    // the delta-frontier face is hash-equivalent on the same fixture
    val delta = Graph.bfsHopsDelta(edges, seeds, hops = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(delta == got, s"delta-frontier diverged: $delta")
  }

  test("delta-frontier bfs equals the full-table face on a random " +
      "graph and exits early when the frontier drains") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val base = (1 to 120).map(_ => (rnd.nextInt(25).toLong,
      rnd.nextInt(25).toLong)).filter(e => e._1 != e._2).distinct
    val edges = (base ++ base.map(_.swap)).distinct.toDF("src", "dst")
    val seeds = Seq(0L, 7L).toDF("node")
    for (hops <- Seq(1, 2, 4)) {
      val naive = Graph.bfsHops(edges, seeds, hops).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val delta = Graph.bfsHopsDelta(edges, seeds, hops).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(delta == naive, s"hops=$hops: $delta vs $naive")
    }
    // a 2-edge path exhausts in 2 hops: asking for 20 must still
    // terminate (empty-frontier early exit) with exact distances
    val tiny = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L))
      .toDF("src", "dst")
    val t = Graph.bfsHopsDelta(tiny, Seq(0L).toDF("node"), hops = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t == Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
  }

  test("co-supply triangle key: nodes are suppliers, total " +
      "participation divides by 3, sampling keeps the graph sparse") {
    val li = Tables.load(spark, sf, "lineitem")
    val edges = Graph.coSupplyEdges(li)
    val nEdges = edges.count()
    val nPairsUnsampled = Graph.coSupplyEdges(li, sampleMod = 1L).count()
    // the 1/20 DOULION sample must actually bound edge volume
    assert(nEdges < nPairsUnsampled,
      s"sampling dropped nothing: $nEdges vs $nPairsUnsampled")
    val out = Graph.triangleCounts(edges).collect()
    assert(out.nonEmpty)
    val supp = Tables.load(spark, sf, "supplier")
      .select(col("s_suppkey")).collect().map(_.getLong(0)).toSet
    assert(out.forall(r => supp.contains(r.getLong(0))))
    // every triangle contributes exactly 3 node participations
    assert(out.map(_.getLong(1)).sum % 3 == 0)
  }

  test("autoSampleMod: gate scales keep the base 1/20 modulus " +
      "bit-for-bit, one base step per extra million lineitem rows") {
    // every gate corpus (sf0.001/0.01/0.1 lineitem ≤ ~600k) derives 20
    Seq(0L, 1L, 60000L, 600000L, 1000000L).foreach { n =>
      assert(Graph.autoSampleMod(n) == 20L, s"n=$n")
    }
    assert(Graph.autoSampleMod(1000001L) == 40L)
    assert(Graph.autoSampleMod(6005720L) == 140L) // the sf1 point
    assert(Graph.autoSampleMod(18017160L) == 380L) // the sf3 point
    // the SQL replay form must agree: ceil-division identity
    Seq(1L, 999999L, 1000000L, 1000001L, 7777777L).foreach { n =>
      assert((n + 999999L) / 1000000L == math.ceil(n / 1e6).toLong,
        s"ceil identity broke at $n")
    }
  }

  test("connected components: exact min-id labels on a long path, " +
      "disjoint cliques, and an isolated edge") {
    // a 9-node path (diameter 8 > one resolver round), a 3-clique, and
    // an isolated edge
    val und = (10L to 17L).map(v => (v, v + 1)) ++
      Seq((30L, 31L), (31L, 32L), (30L, 32L), (50L, 51L))
    val edges = und.toDF("a", "b")
    val got = Graph.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (10L to 18L).map(_ -> 10L).toMap ++
      (30L to 32L).map(_ -> 30L).toMap ++ Map(50L -> 50L, 51L -> 50L)
    assert(got == want, s"got $got")
    // a 64-node path, the worst diameter per node count, resolves to
    // one label (DedupSpec pins the resolver's O(log n) round bound on
    // the same chain)
    val path64 = (1L to 63L).map(v => (v, v + 1)).toDF("a", "b")
    assert(Graph.connectedComponents(path64).collect().map(_.getLong(1))
      .distinct.toSeq == Seq(1L))
    // warehouse face: labels partition the co-supply node set, every
    // label is the min of its own component
    val cc = Graph.connectedComponents(
      Graph.coSupplyEdges(Tables.load(spark, sf, "lineitem"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(cc.nonEmpty)
    cc.groupBy(_._2).foreach { case (comp, members) =>
      assert(members.map(_._1).min == comp,
        s"component $comp label is not its min member")
    }
  }

  /** Driver-side replay of the hub-capped common-neighbor rule. */
  private def naiveLinkPred(edges: Seq[(Long, Long)], hubCap: Long,
      topK: Int): Seq[(Long, Long, Long, Long, Long)] = {
    val nbrs = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    val deg = nbrs.map { case (v, s) => v -> s.size.toLong }
    val edgeSet = edges.toSet
    val wedges = for {
      (c, ns) <- nbrs.toSeq if deg(c) <= hubCap
      a <- ns; b <- ns if a < b
    } yield (a, b)
    wedges.groupBy(identity)
      .map { case (p, xs) => p -> xs.size.toLong }
      .filter { case (p, _) => !edgeSet.contains(p) }
      .toSeq.map { case ((a, b), common) =>
        val u = deg(a) + deg(b) - common
        (a, b, common, u, common * 1000000L / u)
      }
      .sortBy { case (a, b, _, _, j) => (-j, a, b) }.take(topK)
  }

  test("link prediction: matches the driver replay on a shared-" +
      "neighbor graph, excludes existing edges and hub wedges") {
    // 1 and 2 share sub-cap neighbors 3,4 and are NOT adjacent;
    // 5 is a hub (deg 4 > cap 3) whose wedges must not count
    val edges = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (1L, 5L), (2L, 5L), (3L, 5L), (4L, 5L))
    val got = Graph.linkPredict(edges.toDF("a", "b"),
      topK = 10, hubCap = 3L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val want = naiveLinkPred(edges, hubCap = 3L, topK = 10)
    assert(got == want, s"got $got want $want")
    // (1,2) predicted: 2 common of union 2+... deg(1)=3, deg(2)=3,
    // common counts only sub-cap pivots 3 and 4 (hub 5 excluded)
    val p12 = got.find(r => r._1 == 1L && r._2 == 2L).get
    assert(p12._3 == 2L && p12._4 == 4L && p12._5 == 500000L)
    // no predicted pair is an existing edge
    val es = edges.toSet
    assert(got.forall(r => !es.contains((r._1, r._2))))
    // random graph vs replay
    val rnd = new scala.util.Random(11)
    val base = (1 to 80).map(_ => (rnd.nextInt(16).toLong,
      rnd.nextInt(16).toLong)).filter(e => e._1 < e._2).distinct
    val g2 = Graph.linkPredict(base.toDF("a", "b"),
      topK = 15, hubCap = 6L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(g2 == naiveLinkPred(base, hubCap = 6L, topK = 15),
      s"random-graph mismatch: $g2")
  }

  /** Driver replay of sync min-tie label propagation. */
  private def naiveLabelProp(edges: Seq[(Long, Long)], iters: Int)
      : Map[Long, Long] = {
    val nbrs = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    var lbl = nbrs.keys.map(v => v -> v).toMap
    for (_ <- 1 to iters) {
      lbl = nbrs.map { case (v, ns) =>
        val counts = ns.map(lbl).groupBy(identity)
          .map { case (l, xs) => l -> xs.size }
        v -> counts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
      }
    }
    lbl
  }

  test("label propagation: two cliques with a bridge resolve to two " +
      "communities and match the driver replay on a random graph") {
    // two 4-cliques joined by one bridge edge
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) ++ Seq((4L, 10L))
    val got = Graph.labelPropagation(edges.toDF("a", "b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == naiveLabelProp(edges, 3), s"got $got")
    // clique cores agree within themselves and differ across cliques
    assert(Seq(1L, 2L, 3L).map(got).distinct.length == 1)
    assert(Seq(11L, 12L, 13L).map(got).distinct.length == 1)
    assert(got(1L) != got(11L), "cliques merged into one community")
    // random graph: exact replay equality
    val rnd = new scala.util.Random(31)
    val base = (1 to 100).map(_ => (rnd.nextInt(20).toLong,
      rnd.nextInt(20).toLong)).filter(e => e._1 < e._2).distinct
    val g2 = Graph.labelPropagation(base.toDF("a", "b"), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g2 == naiveLabelProp(base, 4), "random-graph replay mismatch")
  }

  test("fixpoint checkpoints do not compound plan statistics — the " +
      "sf3 BigInteger-overflow mechanism stays dead") {
    // plain localCheckpoint inherits origin-plan sizeInBytes, so a
    // checkpoint → self-join → checkpoint loop doubles the stat's
    // bit-length every round (13 → 23 499 bits in 12 rounds measured;
    // ~30 rounds overflow BigInteger and kill the driver — the
    // round-14 sf3 dedup_embedding failure). checkpointFresh rebuilds
    // the leaf without origin stats: bounded forever.
    var plain = spark.range(8).toDF("a").localCheckpoint()
    var fresh = graft.plans.Loops.checkpointFresh(spark.range(8).toDF("a"))
    var plainBits = Seq.empty[Int]
    var freshBits = Seq.empty[Int]
    for (_ <- 1 to 6) {
      plain = plain.as("x").join(plain.as("y"), "a").select(col("a"))
        .localCheckpoint()
      fresh = graft.plans.Loops.checkpointFresh(
        fresh.as("x").join(fresh.as("y"), "a").select(col("a")))
      plainBits :+= plain.queryExecution.optimizedPlan.stats
        .sizeInBytes.bitLength
      freshBits :+= fresh.queryExecution.optimizedPlan.stats
        .sizeInBytes.bitLength
    }
    assert(plainBits.last > plainBits.head * 8,
      s"plain checkpoint no longer compounds? $plainBits")
    assert(freshBits.distinct.size == 1,
      s"fresh leaf stats must stay flat across rounds: $freshBits")
    // and the rebuilt frame carries the same rows
    assert(fresh.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L to 7L).toSeq)
  }

  test("modularity: exact integer contributions on the two-triangle " +
      "bridge and a driver replay over label-prop communities") {
    // triangles {1,2,3} and {4,5,6} bridged by 3-4: m = 7, each
    // community has e_in = 3, d_tot = 7 → contrib 4·7·3 − 7² = 35,
    // i.e. Q = (35 + 35) / (4·7²) = 70/196 ≈ 0.357 (the textbook
    // value for this fixture)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("a", "b")
    val comm = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 4L)).toDF("node", "community")
    val got = Graph.modularity(edges, comm).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == Seq((1L, 3L, 3L, 7L, 35L), (4L, 3L, 3L, 7L, 35L)))
    // the all-in-one partition scores 4·m·m − (2m)² = 0 exactly —
    // "no structure found" is visible as a zero, not a small float
    val one = Graph.modularity(edges,
      (1L to 6L).map(_ -> 9L).toDF("node", "community")).collect()
    assert(one.length == 1 && one.head.getLong(4) == 0L)
    // random graph: the identity replays from raw parts over the
    // engine's own label-prop communities
    val rnd = new scala.util.Random(11)
    val base = (1 to 80).map(_ => (rnd.nextInt(14).toLong,
      rnd.nextInt(14).toLong)).filter(e => e._1 < e._2).distinct
    val df = base.toDF("a", "b")
    val labels = Graph.labelPropagation(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m = base.size.toLong
    val deg = (base.map(_._1) ++ base.map(_._2)).groupBy(identity)
      .map { case (n, xs) => n -> xs.size.toLong }
    val expect = labels.values.toSeq.distinct.sorted.map { c =>
      val nodes = labels.filter(_._2 == c).keySet
      val ein = base.count(e => nodes(e._1) && nodes(e._2)).toLong
      val dtot = nodes.toSeq.map(deg).sum
      (c, nodes.size.toLong, ein, dtot, 4L * m * ein - dtot * dtot)
    }
    val got2 = Graph.modularity(df,
        labels.toSeq.toDF("node", "community")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got2 == expect, "random-graph modularity replay mismatch")
  }

  test("k-core peel: a path sheds endpoints round by round, the " +
      "triangle survives as the 2-core, and a driver replay matches " +
      "on a random graph") {
    // path 1-2-3-4 (peels completely: endpoints r1, middle r2) plus
    // triangle 5-6-7 (the 2-core)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (5L, 6L), (6L, 7L), (5L, 7L)).toDF("a", "b")
    val got = Graph.kCore(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getLong(4)))).toMap
    assert(got(1L) == ((1L, 1L, false, 0L)))
    assert(got(4L) == ((1L, 1L, false, 0L)))
    assert(got(2L) == ((2L, 2L, false, 0L)))
    assert(got(3L) == ((2L, 2L, false, 0L)))
    Seq(5L, 6L, 7L).foreach(n => assert(got(n) == ((2L, 0L, true, 2L))))
    // driver replay of the fixed-round peel on a random graph
    val rnd = new scala.util.Random(47)
    val base = (1 to 120).map(_ => (rnd.nextInt(25).toLong,
      rnd.nextInt(25).toLong)).filter(e => e._1 < e._2).distinct
    def replay(es: Seq[(Long, Long)], k: Int, rounds: Int)
        : Map[Long, (Long, Long, Boolean, Long)] = {
      val bi = (es ++ es.map(_.swap)).distinct
      val deg0 = bi.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      var alive = deg0.keySet
      var deg = deg0
      val removedAt = collection.mutable.Map[Long, Long]()
      for (r <- 1 to rounds) {
        val cut = alive.filter(n => deg(n) < k)
        cut.foreach(n => removedAt(n) = r.toLong)
        alive = alive -- cut
        deg = alive.map(n => n ->
          bi.count(e => e._1 == n && alive(e._2)).toLong).toMap
      }
      deg0.map { case (n, d0) =>
        n -> ((d0, removedAt.getOrElse(n, 0L), !removedAt.contains(n),
          if (alive(n)) deg(n) else 0L))
      }
    }
    val want = replay(base, 2, 3)
    val g2 = Graph.kCore(base.toDF("a", "b")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getLong(4)))).toMap
    assert(g2 == want, "random-graph k-core replay mismatch")
  }
}
