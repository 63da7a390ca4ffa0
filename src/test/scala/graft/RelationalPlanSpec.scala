package graft

import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint

/** Plan-shape assertions: the promises the Scaladoc makes about scale
  * behavior must be visible in the plans Catalyst actually produces. */
class RelationalPlanSpec extends GraftSpec {

  private def analyzed(q: String) =
    SparkEntry.queries(q)(spark, sf).queryExecution.analyzed

  private def physical(q: String) =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("q9 global top-N compiles to TakeOrderedAndProject (no full sort)") {
    assert(physical("q9_sort_limit").contains("TakeOrderedAndProject"))
  }

  test("q2 predicates reach the parquet scan as pushed filters") {
    val plan = physical("q2_filter_project")
    assert(plan.contains("PushedFilters"))
    assert(plan.contains("GreaterThanOrEqual(p_size"))
  }

  test("q3 carries no broadcast hint (customer is fact-scale)") {
    val hints = analyzed("q3_join_agg").collect { case h: ResolvedHint => h }
    assert(hints.isEmpty,
      s"q3 must not hint broadcasts; found: ${hints.map(_.simpleString(80))}")
  }

  test("q5 broadcast hints cover only fixed-size dims (nation, region)") {
    val hints = analyzed("q5_multi_join").collect { case h: ResolvedHint => h }
    assert(hints.size == 2)
    hints.foreach { h =>
      val leafs = h.child.collectLeaves().mkString
      assert(leafs.contains("nation") || leafs.contains("region"),
        s"unexpected broadcast hint over: $leafs")
    }
    assert(!analyzed("q5_multi_join").toString.linesIterator
      .exists(l => l.contains("ResolvedHint") && l.contains("customer")))
  }

  test("q22 latest-by-key is a single window pass, not a max-ts self-join") {
    val plan = physical("q22_latest_by_key")
    assert(plan.contains("Window") || plan.contains("WindowGroupLimit"))
    assert(!plan.contains("Join"),
      s"q22 must not self-join:\n${plan.take(1500)}")
  }

  test("AQE splits a skewed join partition (skew=true in the final plan)") {
    import org.apache.spark.sql.functions._
    // q19 proves salted-join PARITY; this proves the engine's other
    // skew lever actually fires: a sort-merge join whose build of one
    // key dwarfs the median must come out of AQE as a skew-handled
    // join, not one straggler task. Thresholds are lowered because the
    // fixture is MBs, not the production defaults' 256 MB.
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold", // force SMJ
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val prev = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set(keys(0), "-1")
      spark.conf.set(keys(1), "64KB")
      spark.conf.set(keys(2), "2.0")
      spark.conf.set(keys(3), "32KB")
      // ~2/3 of the fact lands on key 1; dim is uniform. No agg on the
      // join key downstream — a same-key aggregate would REQUIRE the
      // hash distribution, and AQE (correctly) refuses to split skewed
      // partitions when that breaks a parent's requirement.
      val fact = spark.range(0, 300000)
        .select(when(col("id") % 3 =!= 0, lit(1L)).otherwise(col("id"))
          .as("k"), col("id").as("v"))
      val dim = spark.range(0, 1000)
        .select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = fact.join(dim, "k")
      // execute THIS queryExecution (count() would plan a separate one
      // and leave this plan unexecuted / non-final)
      assert(joined.collect().nonEmpty)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n${plan.take(2000)}")
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("every oracle key has a query; every query returns rows at sf0.001") {
    SparkEntry.oracleSql.keys.foreach { k =>
      assert(SparkEntry.queries.contains(k), s"oracle without query: $k")
    }
    // spot-check a few cheap ones for non-vacuousness
    Seq("q2_filter_project", "q10_anti_join", "etl_clean").foreach { k =>
      assert(SparkEntry.queries(k)(spark, sf).limit(1).count() == 1,
        s"$k returned 0 rows — vacuous oracle check")
    }
  }

  test("Tables.load infers a table's schema once; a rewritten table is " +
    "re-inferred") {
    import java.nio.file.Files
    import graft.sources.Tables
    val tmp = Files.createTempDirectory("graft-load")
    val dir = tmp.toString
    try {
      spark.range(5).selectExpr("id AS vec_id", "id * 2 AS v")
        .write.parquet(s"$dir/t.parquet")
      val (first, _) = jobsDuring(Tables.load(spark, dir, "t"))
      val (second, jobs) = jobsDuring(Tables.load(spark, dir, "t"))
      assert(jobs == 0, s"a repeated load of an unchanged table ran $jobs jobs")
      assert(second.schema == first.schema &&
        second.schema.fieldNames.toSeq == Seq("vec_id", "v"))
      spark.range(3).selectExpr("id AS vec_id", "'x' AS s")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      val rewritten = Tables.load(spark, dir, "t")
      assert(rewritten.schema.fieldNames.toSeq == Seq("vec_id", "s"))
      assert(rewritten.count() == 3)
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    }
  }
}
