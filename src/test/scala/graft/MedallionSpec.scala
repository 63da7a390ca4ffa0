package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.Etl
import graft.pipeline.Medallion
import graft.sources.{CsvIngest, Sinks}

/** The local file system under its own `graftfs` scheme: a layer
  * writer that bypasses the Hadoop FileSystem cannot resolve its paths. */
class SchemeLocalFs extends org.apache.hadoop.fs.LocalFileSystem(
    new org.apache.hadoop.fs.RawLocalFileSystem {
      override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
    }) {
  override def getScheme: String = "graftfs"
}

/** End-to-end medallion pipeline checks: writer/reader quote contract,
  * the full zip→raw→trusted→refined roundtrip, and the audited run. */
class MedallionSpec extends GraftSpec {
  import spark.implicits._

  test("writeSingleCsv and trustedOptions agree on quote/escape") {
    val dir = Files.createTempDirectory(Paths.get("target"), "quote").toString
    val tricky = """he said "hi"|and; more"""
    val df = Seq((1L, tricky), (2L, "plain")).toDF("codigo", "descricao")
    Sinks.writeSingleCsv(df, s"$dir/csv")
    val back = CsvIngest.read(spark, s"$dir/csv", Etl.rawSchema,
      CsvIngest.trustedOptions).orderBy("codigo").collect()
    assert(back(0).getString(1) == tricky,
      s"quoted value corrupted on roundtrip: '${back(0).getString(1)}'")
    assert(back(1).getString(1) == "plain")
    // the trusted export is marker-free (script.py:25-28 disables the
    // _SUCCESS committer marker for exactly this layer)
    val files = new java.io.File(s"$dir/csv").listFiles().map(_.getName)
    assert(!files.contains("_SUCCESS"),
      s"trusted dir must carry no _SUCCESS marker: ${files.toSeq}")
  }

  /** Bytes of the one part-*.csv under a local `dir`. */
  private def partBytes(dir: String): Array[Byte] = {
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    assert(parts.length == 1, s"expected one part file under $dir")
    Files.readAllBytes(parts.head.toPath)
  }

  test("trusted export = EF BB BF + a plain coalesce(1) write in the " +
      "trusted dialect, for a tricky-quote frame and an empty frame") {
    val dir = Files.createTempDirectory(Paths.get("target"), "bomeq").toString
    val tricky = Seq((1L, """he said "hi"|and; more"""), (2L, "plain"))
      .toDF("codigo", "descricao")
    val empty = Seq.empty[(Long, String)].toDF("codigo", "descricao")
    Seq("tricky" -> tricky, "empty" -> empty).foreach { case (name, df) =>
      Sinks.writeSingleCsv(df, s"$dir/$name/trusted")
      df.coalesce(1).write.options(CsvIngest.trustedOptions)
        .csv(s"$dir/$name/plain")
      val plain = partBytes(s"$dir/$name/plain")
      assert(plain.nonEmpty, s"$name: plain write has no header")
      assert(partBytes(s"$dir/$name/trusted").toSeq ==
        (Seq(0xEF, 0xBB, 0xBF).map(_.toByte) ++ plain.toSeq), name)
    }
  }

  test("rawToTrusted → trustedToRefined through file:// URI dirs and " +
      "a non-file FileSystem scheme") {
    val root = Files.createTempDirectory(Paths.get("target"), "uri")
      .toAbsolutePath.toString
    Files.createDirectories(Paths.get(s"$root/raw"))
    Files.write(Paths.get(s"$root/raw/data.csv"),
      "1;alpha\n2;\"be;ta\"\n3;  ".getBytes(StandardCharsets.UTF_8))
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[SchemeLocalFs].getName)
    Seq("file", "graftfs").foreach { scheme =>
      val uri = s"$scheme://$root"
      Medallion.rawToTrusted(spark, s"$uri/raw", s"$uri/$scheme/trusted",
        Etl.rawSchema, "codigo")
      Medallion.trustedToRefined(spark, s"$uri/$scheme/trusted",
        s"$uri/$scheme/refined", Etl.trustedSchema)
      assert(partBytes(s"$root/$scheme/trusted").take(3).toSeq ==
        Seq(0xEF, 0xBB, 0xBF).map(_.toByte), scheme)
      val got = spark.read.parquet(s"$uri/$scheme/refined").orderBy("codigo")
        .collect().map(r => (r.getLong(0), Option(r.getString(1)),
          r.getString(2))).toSeq
      assert(got == Seq((1L, Some("alpha"), "PRIMARIO"),
        (2L, Some("be;ta"), "SECUNDARIO"), (3L, None, "PRIMARIO")),
        s"$scheme: $got")
    }
  }

  test("Sinks and Medallion touch files only through Spark / Hadoop " +
      "FileSystem") {
    // a local-only file API on a layer's data path breaks every
    // non-local URI (hdfs://, s3a://, gs://) and bypasses Hadoop's
    // checksums; the scratch stores publish under the same rule
    Seq("sources/Sinks.scala", "pipeline/Medallion.scala",
        "sources/Stores.scala", "operators/Similarity.scala",
        "operators/Dedup.scala", "operators/Multimodal.scala").foreach { f =>
      val src = new String(Files.readAllBytes(
        Paths.get("src/main/scala/graft", f)), StandardCharsets.UTF_8)
      Seq("java.io.File", "java.nio.file").foreach { api =>
        assert(!src.contains(api), s"$f uses $api")
      }
    }
  }

  test("etl_raw_roundtrip: accents and quoting survive zip→raw→refined") {
    val out = Etl.queries("etl_raw_roundtrip")(spark, sf).collect()
    assert(out.length == 100)
    val byId = out.map(r => r.getLong(0) -> r.getString(1)).toMap
    // iso-8859-1 → utf-8 decode kept the accents
    val accented = byId.filter { case (id, _) => id % 3 == 0 && id % 5 != 0 }
    assert(accented.nonEmpty)
    accented.values.foreach(v => assert(v.endsWith("çãõé"), v))
    // embedded quote/semicolon/pipe survived BOTH csv layers
    val quoted = byId.filter { case (id, _) => id % 5 == 0 }
    assert(quoted.nonEmpty)
    quoted.values.foreach(v => assert(v.contains("\"aspas\";e|pipe"), v))
    // parity segment applied
    out.foreach { r =>
      val want = if (r.getLong(0) % 2 == 1) "PRIMARIO" else "SECUNDARIO"
      assert(r.getString(2) == want)
    }
  }

  test("compaction hits the computed file count and keeps every row") {
    val root = Files.createTempDirectory(Paths.get("target"), "compact")
      .toString
    spark.range(0, 10000).toDF("id")
      .repartition(20).write.mode("overwrite").parquet(s"$root/small")
    val n = Sinks.compact(spark, s"$root/small", s"$root/big")
    val outFiles = new java.io.File(s"$root/big").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(n == 1 && outFiles == 1, s"expected 1 file, got $outFiles ($n)")
    val back = spark.read.parquet(s"$root/big")
    assert(back.count() == 10000)
    assert(back.agg(sum("id")).head.getLong(0) == 10000L * 9999 / 2)
  }

  test("upsert: change rows win (nulls included), new keys insert") {
    val snap = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal")
    val changes = Seq((2L, null.asInstanceOf[String], 99.0), (4L, "d", 40.0))
      .toDF("k", "name", "bal")
    val got = Medallion.upsert(snap, changes, "k").orderBy("k").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getDouble(2))).toSeq
    assert(got == Seq(
      (1L, Some("a"), 10.0),
      (2L, None, 99.0), // the changeset's explicit NULL wins — no coalesce
      (3L, Some("c"), 30.0),
      (4L, Some("d"), 40.0)))
  }

  test("auditedRun persists per-layer audit rows to the warehouse") {
    val root = Files.createTempDirectory(Paths.get("target"), "audited")
      .toString
    Files.createDirectories(Paths.get(s"$root/raw"))
    Files.write(Paths.get(s"$root/raw/data.csv"),
      "1;alpha\n2;  \n3;gamma".getBytes(StandardCharsets.UTF_8))
    spark.sql("DROP TABLE IF EXISTS graft_audit_spec")
    var tick = 0
    val clock = () => { tick += 1; f"2026-08-12 00:00:$tick%02d" }
    Medallion.auditedRun(spark, uid = "run-42", project = "graft",
      rawPath = s"$root/raw", trustedDir = s"$root/trusted",
      refinedDir = s"$root/refined", rawSchema = Etl.rawSchema,
      codeCol = "codigo", auditTable = "graft_audit_spec", clock = clock)
    val audit = spark.table("graft_audit_spec")
      .filter(col("uid") === "run-42").orderBy("step").collect()
    assert(audit.length == 2)
    assert(audit.map(_.getString(2)).toSeq == Seq("refined", "trusted"))
    audit.foreach { r =>
      assert(r.getString(1) == "graft")
      assert(r.getLong(3) >= 1L) // qtd_files
      assert(r.getLong(4) == 3L) // qtd_rows: cleaning keeps all rows
      assert(r.getString(5) < r.getString(6)) // dt_start < dt_end
    }
    spark.sql("DROP TABLE IF EXISTS graft_audit_spec")
  }

  test("successive audited runs append distinct ledger rows") {
    val root = Files.createTempDirectory(Paths.get("target"), "ledger")
      .toString
    Files.createDirectories(Paths.get(s"$root/raw"))
    Files.write(Paths.get(s"$root/raw/data.csv"),
      "1;alpha\n2;beta".getBytes(StandardCharsets.UTF_8))
    spark.sql("DROP TABLE IF EXISTS graft_ledger_spec")
    var tick = 0
    val clock = () => { tick += 1; f"2026-08-13 00:00:$tick%02d" }
    Seq("run-1", "run-2", "run-3").foreach { uid =>
      Medallion.auditedRun(spark, uid, "graft", s"$root/raw",
        s"$root/trusted", s"$root/refined", Etl.rawSchema, "codigo",
        "graft_ledger_spec", clock)
    }
    val ledger = spark.table("graft_ledger_spec")
      .orderBy("dt_start").collect()
    // 3 runs × 2 layers, no overwrites, run identity preserved
    assert(ledger.length == 6)
    assert(ledger.map(_.getString(0)).distinct.toSeq ==
      Seq("run-1", "run-2", "run-3"))
    // the ledger answers "when did run-2 start/end and what did it do"
    val run2 = ledger.filter(_.getString(0) == "run-2")
    assert(run2.map(_.getString(2)).toSeq == Seq("trusted", "refined"))
    // timestamps are strictly increasing across the whole ledger
    val stamps = ledger.flatMap(r => Seq(r.getString(5), r.getString(6)))
    assert(stamps.toSeq == stamps.sorted.toSeq)
    spark.sql("DROP TABLE IF EXISTS graft_ledger_spec")
  }

  test("retrying a failed run is idempotent: distinct attempt rows, " +
    "identical refined content") {
    // dag.py:56-60 gives every task retries=1 — a mid-chain failure
    // re-executes the whole raw→trusted→refined chain as a new
    // attempt. The engine contract that makes that safe: every layer
    // write is overwrite-mode (re-runs replace partial output, never
    // append to it) while the run ledger is append-only (each attempt
    // leaves its own audit rows).
    val root = Files.createTempDirectory(Paths.get("target"), "retry")
      .toString
    Files.createDirectories(Paths.get(s"$root/raw"))
    Files.write(Paths.get(s"$root/raw/data.csv"),
      "1;alpha\n2;beta\n3;gamma".getBytes(StandardCharsets.UTF_8))
    spark.sql("DROP TABLE IF EXISTS graft_retry_spec")
    var tick = 0
    val clock = () => { tick += 1; f"2026-08-13 01:00:$tick%02d" }
    // attempt 1 dies between trusted and refined: trusted is written,
    // refined is a partial directory from the crashed write
    Medallion.rawToTrusted(spark, s"$root/raw", s"$root/trusted",
      Etl.rawSchema, "codigo")
    Files.createDirectories(Paths.get(s"$root/refined"))
    Files.write(Paths.get(s"$root/refined/part-crashed.parquet"),
      "not parquet".getBytes(StandardCharsets.UTF_8))
    def runAttempt(uid: String) =
      Medallion.auditedRun(spark, uid, "graft", s"$root/raw",
        s"$root/trusted", s"$root/refined", Etl.rawSchema, "codigo",
        "graft_retry_spec", clock)
    def refinedContent(): Seq[String] =
      spark.read.parquet(s"$root/refined")
        .orderBy("codigo").collect().map(_.mkString("|")).toSeq
    runAttempt("run-7-attempt-2") // the retry after the failure
    val afterRetry = refinedContent()
    runAttempt("run-7-attempt-3") // an operator re-trigger on success
    // refined output is content-identical across attempts — the stray
    // partial file is gone, nothing appended twice
    assert(refinedContent() == afterRetry)
    assert(afterRetry.length == 3)
    val ledger = spark.table("graft_retry_spec").orderBy("dt_start")
      .collect()
    // the ledger holds BOTH attempts, each with its own uid and the
    // same recomputed layer row counts
    assert(ledger.length == 4)
    assert(ledger.map(_.getString(0)).distinct.toSeq ==
      Seq("run-7-attempt-2", "run-7-attempt-3"))
    assert(ledger.forall(_.getLong(4) == 3L))
    spark.sql("DROP TABLE IF EXISTS graft_retry_spec")
  }

  test("quarantine read keeps parseable fields of bad rows and tags " +
    "exactly the malformed ones") {
    val dir = Files.createTempDirectory(Paths.get("target"), "badrec")
      .toString
    Files.createDirectories(Paths.get(s"$dir/raw"))
    Files.write(Paths.get(s"$dir/raw/data.csv"),
      Seq("1;alice", "37;bob;EXTRA;COLS", "not_a_number;carol", "43",
        "5;eve").mkString("\n").getBytes(StandardCharsets.UTF_8))
    val got = CsvIngest.readQuarantine(spark, s"$dir/raw", Etl.rawSchema)
      .orderBy(coalesce(col("codigo"), lit(-1L)), col("descricao"))
      .collect()
    // (-1=bad long) carol, then 1 alice, 5 eve, 37 bob, 43 short
    assert(got.length == 5)
    assert(got(0).isNullAt(0) && got(0).getString(1) == "carol" &&
      !got(0).isNullAt(2))
    assert(got(1).getLong(0) == 1L && got(1).isNullAt(2))
    assert(got(2).getLong(0) == 5L && got(2).isNullAt(2))
    assert(got(3).getLong(0) == 37L && got(3).getString(1) == "bob" &&
      !got(3).isNullAt(2))
    assert(got(4).getLong(0) == 43L && got(4).isNullAt(1) &&
      !got(4).isNullAt(2))
    // the quarantine column carries the raw line for the audit trail
    assert(got(0).getString(2) == "not_a_number;carol")
  }

  test("observed in-flight metrics agree with the cleaned frame") {
    val m = SparkEntry.queries("etl_observe")(spark, sf).collect().head
    val clean = SparkEntry.queries("etl_clean")(spark, sf)
    assert(m.getLong(0) == clean.count())
    assert(m.getLong(1) ==
      clean.filter(col("descricao").isNull).count())
    assert(m.getLong(2) ==
      clean.filter(col("segmento") === "PRIMARIO").count())
    assert(m.getLong(3) <= m.getLong(4))
  }

  test("ingest pipeline conserves rows across quarantine/clean/verdict") {
    val rows = SparkEntry.queries("pipeline_ingest")(spark, sf).collect()
    val customers = spark.read.parquet(s"$sf/customer.parquet").count()
    // every raw line lands in exactly one summary bucket
    assert(rows.map(_.getLong(3)).sum == customers)
    val byStatus = rows.groupBy(_.getString(0)).view
      .mapValues(_.map(_.getLong(3)).sum).toMap
    // quarantined = the planted families, recomputed from actual keys
    val planted = spark.read.parquet(s"$sf/customer.parquet")
      .select("c_custkey").collect().map(_.getLong(0))
      .count(i => i % 37 == 0 || i % 41 == 0 || i % 43 == 0).toLong
    assert(byStatus("quarantined") == planted)
    assert(byStatus("ok") == customers - planted)
    // both verdict values and both segments appear (non-vacuous join)
    val okRows = rows.filter(_.getString(0) == "ok")
    assert(okRows.map(_.getBoolean(2)).toSet == Set(true, false))
    assert(okRows.map(_.getString(1)).toSet ==
      Set("PRIMARIO", "SECUNDARIO"))
  }

  test("variant extraction: typed get, string coercion, missing-path " +
      "NULL, and the per-row schema of the landed telemetry") {
    import spark.implicits._
    val df = Seq("""{"k": 42}""", """{"k": 7}""").toDF("props")
      .selectExpr("parse_json(props) AS v")
    val rows = df.selectExpr(
      "variant_get(v, '$.k', 'long') AS k",
      "variant_get(v, '$.k', 'string') AS ks",
      "try_variant_get(v, '$.j', 'long') AS j",
      "schema_of_variant(v) AS sch").collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(7L, 42L))
    // number→string coercion yields the bare token (what the DuckDB
    // oracle's json_extract_string returns — the gate relies on this)
    assert(rows.map(_.getString(1)).sorted.toSeq == Seq("42", "7"))
    assert(rows.forall(_.isNullAt(2)))
    assert(rows.forall(_.getString(3) == "OBJECT<k: BIGINT>"))
  }

  test("dq audit: planted violations are counted exactly per check " +
      "and only clean checks pass") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")
    val cust = Seq(
      (1L, Option("alice"), 10.0), (2L, None, 20.0), // 1 null name
      (3L, Option("bob"), 5.0), (3L, Option("bob2"), 6.0)) // dup key
      .toDF("c_custkey", "c_name", "c_acctbal")
    val ord = Seq(
      (10L, 1L, 100.0, "1995-01-01"),
      (11L, 2L, -5.0, "1995-06-01"),   // negative price
      (12L, 99L, 50.0, "1995-07-01"),  // orphan custkey
      (13L, 3L, 60.0, "1890-01-01"))   // out-of-range date
      .map { case (k, c, p, d) => (k, c, p, ts(d)) }
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val li = Seq(
      (10L, 5.0), (10L, 99.0),  // one bad quantity
      (77L, 3.0))               // orphan orderkey
      .toDF("l_orderkey", "l_quantity")
    val got = graft.operators.Etl.dqAudit(cust, ord, li).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getLong(3), r.getBoolean(4))))
      .toMap
    assert(got(1L) == (("customer", "not_null_name", 1L, false)))
    assert(got(2L) == (("customer", "unique_custkey", 1L, false)))
    assert(got(3L) == (("orders", "nonneg_totalprice", 1L, false)))
    assert(got(4L) == (("orders", "valid_orderdate", 1L, false)))
    assert(got(5L) == (("lineitem", "quantity_range", 1L, false)))
    assert(got(6L) == (("orders", "fk_custkey", 1L, false)))
    assert(got(7L) == (("lineitem", "fk_orderkey", 1L, false)))
    // and a clean load passes everything
    val clean = graft.operators.Etl.dqAudit(
      Seq((1L, Option("a"), 1.0)).toDF("c_custkey", "c_name", "c_acctbal"),
      Seq((10L, 1L, 5.0, ts("1995-01-01")))
        .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"),
      Seq((10L, 5.0)).toDF("l_orderkey", "l_quantity")).collect()
    assert(clean.length == 7 && clean.forall(_.getBoolean(4)))
    assert(clean.forall(_.getLong(3) == 0L))
  }

  test("kAnonymize: every ladder level on a hand-built fixture, every " +
      "released row >= k, total count conserved") {
    import spark.implicits._
    def c(key: Long, nat: Int, bal: Double, seg: String) =
      (key, s"c$key", nat, bal, seg)
    val fixture = (
      // nation 1 / seg A / band 0 ×3 → released at level 0
      Seq(c(1, 1, 100, "A"), c(2, 1, 150, "A"), c(3, 1, 200, "A")) ++
      // nation 1 / seg A / bands 1 and 2, sizes 1+2 → level 1 release
      Seq(c(4, 1, 1100, "A"), c(5, 1, 2100, "A"), c(6, 1, 2200, "A")) ++
      // nation 2: three singleton (seg, band) groups → level 2 release
      Seq(c(7, 2, 100, "A"), c(8, 2, 100, "B"), c(9, 2, 100, "C")) ++
      // nation 3: two customers, stuck below k at every level → suppressed
      Seq(c(10, 3, 100, "A"), c(11, 3, 150, "A"))
    ).toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
      "c_mktsegment")
    val got = graft.operators.Etl.kAnonymize(fixture, k = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, "A", "0", 3L, 0L),
      (1L, "A", "*", 3L, 1L),
      (2L, "*", "*", 3L, 2L),
      (-1L, "*", "*", 2L, 3L)), got.mkString(", "))
    // warehouse face: anonymity + conservation invariants
    val face = graft.operators.Etl.kAnonymize(
      graft.sources.Tables.load(spark, sf, "customer")).collect()
    assert(face.filter(_.getLong(4) < 3).forall(_.getLong(3) >= 6),
      "a released row aggregates fewer than k individuals")
    val total = graft.sources.Tables.load(spark, sf, "customer").count()
    assert(face.map(_.getLong(3)).sum == total, "count not conserved")
  }

  test("pii vault: deterministic tokens, lossless roundtrip, vault " +
      "stays PII-cardinality, no raw PII in the output") {
    import org.apache.spark.sql.functions._
    val customer = graft.sources.Tables.load(spark, sf, "customer")
    val out = graft.operators.Etl.piiVault(customer).collect()
    // every row roundtrips through the vault losslessly
    assert(out.nonEmpty && out.forall(_.getBoolean(3)))
    // deterministic: a second run tokenizes identically
    val out2 = graft.operators.Etl.piiVault(customer).collect()
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      out2.map(r => (r.getLong(0), r.getString(1))).toSeq)
    // same name => same token, distinct names => distinct tokens here
    val names = customer.select(col("c_custkey"), col("c_name"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val toks = out.map(r => r.getLong(0) -> r.getString(1)).toMap
    val byName = names.groupBy(_._2).values
    byName.foreach { grp =>
      assert(grp.map(kv => toks(kv._1)).toSet.size == 1,
        "equal PII values tokenized differently")
    }
    assert(toks.values.toSet.size == names.values.toSet.size,
      "token cardinality diverged from PII cardinality (collision)")
    // the pseudonymized face never carries the raw name
    assert(out.forall(r => !names.values.toSet.contains(r.getString(1))))
  }

  test("iqr outlier audit: quartiles, fences and counts match an " +
      "exact driver replay; a planted extreme value is flagged") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val customer = graft.sources.Tables.load(spark, sf, "customer")
    val got = graft.operators.Etl.outlierIqr(customer).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val cents = customer
      .select(col("c_mktsegment"), floor(col("c_acctbal") * 100)
        .cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def qdisc(xs: Seq[Long], q: Double): Long = {
      // ANSI percentile_disc: smallest value with cume_dist >= q
      val s = xs.sorted
      s(math.ceil(q * s.length).toInt - 1)
    }
    cents.groupBy(_._1).foreach { case (seg, rs) =>
      val xs = rs.map(_._2)
      val q1 = qdisc(xs, 0.25); val q3 = qdisc(xs, 0.75)
      val iqr = q3 - q1
      val nOut = xs.count(c =>
        2 * c < 2 * q1 - 3 * iqr || 2 * c > 2 * q3 + 3 * iqr)
      assert(got(seg) == ((q1, q3, iqr, xs.length.toLong, nOut.toLong,
        1000L * nOut / xs.length)), s"$seg: ${got(seg)}")
    }
    // planted extreme value: one segment, tight cluster, one spike
    val planted = ((1 to 40).map(i => (i.toLong, "S", 100.0 + i % 5))
      ++ Seq((99L, "S", 99999.0)))
      .toDF("c_custkey", "c_mktsegment", "c_acctbal")
    val p = graft.operators.Etl.outlierIqr(planted).collect().head
    assert(p.getLong(5) == 1L, s"planted outlier not flagged: $p")
  }

  test("skew audit: permilles conserve the total and a planted hot " +
      "partition is the only flagged one") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val face = graft.operators.Etl.skewAudit(
      graft.sources.Tables.load(spark, sf, "orders")).collect()
    val total = face.map(_.getLong(1)).sum
    assert(face.nonEmpty)
    face.foreach { r =>
      assert(r.getLong(2) == 1000L * r.getLong(1) / total)
      assert(r.getBoolean(3) ==
        (r.getLong(1) * face.length > 2L * total))
    }
    // planted: 11 even months of 10 rows, one month with 200
    val rows = (1 to 11).flatMap(m => (1 to 10).map(i =>
      (s"2024-${"%02d".format(m)}-0${1 + i % 9}"))) ++
      (1 to 200).map(i => s"2024-12-${"%02d".format(1 + i % 28)}")
    val planted = rows.zipWithIndex
      .map { case (d, i) => (i.toLong, java.sql.Timestamp.valueOf(s"$d 00:00:00")) }
      .toDF("o_orderkey", "o_orderdate")
    val got = graft.operators.Etl.skewAudit(planted).collect()
      .map(r => r.getDate(0).toString -> r.getBoolean(3)).toMap
    assert(got("2024-12-01"), "hot month not flagged")
    assert(got.count(_._2) == 1, s"extra hot flags: $got")
  }

  test("volume anomaly: planted 3x spike alerts after a full trailing " +
      "week, partial baselines never alert") {
    import spark.implicits._
    // 10 uniform days of 20 events, then one day at 60 (3x), then 2
    // more uniform days
    val rows = (0 until 13).flatMap { d =>
      val n = if (d == 10) 60 else 20
      (0 until n).map(i => (d * 1000L + i,
        java.sql.Timestamp.valueOf(f"2024-03-${d + 1}%02d 12:00:00")))
    }
    val planted = rows.toDF("event_id", "ts")
    val got = graft.operators.Etl.volumeAnomaly(planted).collect()
      .map(r => r.getDate(0).toString ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          r.getBoolean(4)))).toMap
    // first 7 days: no full trailing week -> NULL trail, never hot
    (1 to 7).foreach { d =>
      val (_, t7, dev, hot) = got(f"2024-03-$d%02d")
      assert(t7.isEmpty && dev.isEmpty && !hot, s"day $d")
    }
    // day 11 is the spike: trail = 7*20, dev = |7*60-140|*1000/140
    val (n11, t11, dev11, hot11) = got("2024-03-11")
    assert(n11 == 60 && t11.contains(140L) &&
      dev11.contains(1000L * (7 * 60 - 140) / 140) && hot11)
    // day 12-13: spike enters the baseline, days are normal -> cold
    assert(!got("2024-03-12")._4 && !got("2024-03-13")._4)
    assert(got.values.count(_._4) == 1, "exactly one hot day")
    // corpus face: structural invariants (the synthetic feed is
    // uniform — the audit must NOT invent anomalies)
    val face = graft.operators.Etl.volumeAnomaly(
      graft.sources.Tables.load(spark, sf, "events")).collect()
    assert(face.nonEmpty)
    assert(face.forall(r => !r.getBoolean(4)))
  }

  test("fk orphans: planted orphans count rows AND distinct keys; the " +
      "warehouse census covers all six edges with consistent totals") {
    import spark.implicits._
    // child keys: 1,1,2,3,9,9,9 vs parents {1,2,3} → 4 orphan rows
    // over 1 distinct missing key (9)
    val child = Seq(1L, 1L, 2L, 3L, 9L, 9L, 9L, 8L).toDF("ck")
    val parent = Seq(1L, 2L, 3L, 3L).toDF("pk") // dup parent must not fan out
    val got = graft.operators.Etl
      .fkEdge("t", child, "ck", parent, "pk").collect()
    assert(got.length == 1)
    assert(got(0).getString(0) == "t")
    assert(got(0).getLong(1) == 8, "n_child counts rows")
    assert(got(0).getLong(2) == 4, "n_orphan counts orphan ROWS")
    assert(got(0).getLong(3) == 2, "n_missing_parents counts KEYS {8,9}")
    // warehouse face: six edges, child totals match the table counts
    val face = graft.operators.Etl.fkOrphans(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(face.keySet == Set("customer.nationkey", "lineitem.orderkey",
      "lineitem.partkey", "lineitem.suppkey", "orders.custkey",
      "supplier.nationkey"))
    val li = graft.sources.Tables.load(spark, sf, "lineitem").count()
    assert(face("lineitem.orderkey")._1 == li)
    assert(face("lineitem.partkey")._1 == li)
    face.values.foreach { case (child0, orphan, missing) =>
      assert(orphan <= child0 && missing <= orphan)
    }
  }

  test("inferred dim: facts referencing withheld keys become " +
      "placeholder members with backfill evidence; covered keys and " +
      "the real dim stay untouched") {
    import spark.implicits._
    val cust = (1L to 200L).toDF("c_custkey")
    val ords = Seq((97L, "1995-01-03"), (97L, "1995-02-01"),
      (5L, "1995-01-05"), (194L, "1996-07-09"))
      .toDF("o_custkey", "o_orderdate")
    val got = graft.operators.Etl.inferredDim(ords, cust).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
        r.getDate(3).toString, r.getDate(4).toString))).toMap
    // 97 and 194 are withheld (% 97 == 0) -> inferred; 5 is covered
    assert(got.keySet == Set(97L, 194L))
    assert(got(97L) == (("INFERRED", 2L, "1995-01-03", "1995-02-01")))
    assert(got(194L) == (("INFERRED", 1L, "1996-07-09", "1996-07-09")))
  }

  test("freshness: a feed that went silent is the only stale one; lag " +
      "hours, trailing-3-day counts, and the derived as-of all replay") {
    import spark.implicits._
    def ts(d: Int) =
      java.sql.Timestamp.valueOf(f"2024-03-$d%02d 06:00:00")
    // feed a: every day 1..10; feed b: stops after day 5
    val rows = (1 to 10).map(d => (d.toLong, "a", ts(d))) ++
      (1 to 5).map(d => (100L + d, "b", ts(d)))
    val got = graft.operators.Etl.freshness(
        rows.toDF("event_id", "event_type", "ts")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.size == 2)
    // as-of = feed a's last event (the global max)
    got.values.foreach(r => assert(r.getTimestamp(2) == ts(10)))
    val a = got("a")
    assert(a.getTimestamp(1) == ts(10) && a.getLong(3) == 10 &&
      a.getLong(4) == 3 && // days 8,9,10 are within 3 days of as-of
      a.getLong(5) == 0 && !a.getBoolean(6))
    val b = got("b")
    assert(b.getTimestamp(1) == ts(5) && b.getLong(3) == 5 &&
      b.getLong(4) == 0 && // silent feed: nothing near the as-of
      b.getLong(5) == 5L * 24 && b.getBoolean(6))
    // boundary: exactly 72h of silence IS stale (>=), 71h is not
    val edge = Seq((1L, "live", ts(10)), (2L, "edge",
        java.sql.Timestamp.valueOf("2024-03-07 06:00:00")),
      (3L, "near", java.sql.Timestamp.valueOf("2024-03-07 07:00:00")))
      .toDF("event_id", "event_type", "ts")
    val e = graft.operators.Etl.freshness(edge).collect()
      .map(r => r.getString(0) -> (r.getLong(5), r.getBoolean(6))).toMap
    assert(e("edge") == ((72L, true)) && e("near") == ((71L, false)) &&
      e("live") == ((0L, false)))
  }

  test("catalogLoad is a TRUNCATE-write: the second load fully replaces " +
      "the first, schema survives the catalog, the ledger receipts both") {
    val tbl = "graft_spec_catalog"
    val audit = "graft_spec_catalog_audit"
    Seq(tbl, audit).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val tick = new java.util.concurrent.atomic.AtomicInteger(0)
    val clock = () => s"t${tick.incrementAndGet()}"
    val first = Seq((1L, "stale"), (2L, "stale"), (3L, "stale"))
      .toDF("id", "v")
    val second = Seq((2L, "fresh"), (9L, "fresh")).toDF("id", "v")
    Medallion.catalogLoad(spark, first, tbl, audit, "u1", "p", clock)
    val loaded = Medallion.catalogLoad(spark, second, tbl, audit, "u2",
      "p", clock)
    // truncate semantics: no stale row survives — not an append, not a
    // merge; the overlapping key 2 carries ONLY the fresh value
    val got = loaded.collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(got == Map(2L -> "fresh", 9L -> "fresh"), got.toString)
    assert(spark.table(tbl).count() == 2)
    // schema autodetect: names and types came from the frame
    assert(loaded.schema.map(f => (f.name, f.dataType)) ==
      second.schema.map(f => (f.name, f.dataType)))
    // both loads receipted with their own counts and clock brackets
    val ledger = spark.table(audit).collect()
      .map(r => (r.getString(0), r.getString(2), r.getLong(4),
        r.getString(5), r.getString(6))).toSet
    assert(ledger == Set(("u1", "load", 3L, "t1", "t2"),
      ("u2", "load", 2L, "t3", "t4")), ledger.toString)
    Seq(tbl, audit).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("Dag: deterministic order, ledger receipts, resume skips " +
      "finished steps, no-op on a fully-receipted graph, cycles refuse") {
    import graft.pipeline.Dag
    val ledger = "graft_spec_dag_ledger"
    spark.sql(s"DROP TABLE IF EXISTS $ledger")
    val runs = scala.collection.mutable.ArrayBuffer[String]()
    val fault = new java.util.concurrent.atomic.AtomicBoolean(true)
    def step(name: String, deps: String*): Dag.Step =
      Dag.Step(name, deps, () => { runs += name; (1L, 1L) })
    // diamond with a one-shot fault on d: a → {b, c} → d
    val graph = Seq(
      step("a"),
      step("c", "a"), // declared out of order: scheduling must not care
      step("b", "a"),
      Dag.Step("d", Seq("b", "c"), () => {
        if (fault.getAndSet(false))
          throw new RuntimeException("boom")
        runs += "d"; (1L, 1L)
      }))
    val tick = new java.util.concurrent.atomic.AtomicInteger(0)
    val clock = () => s"t${tick.incrementAndGet()}"
    intercept[RuntimeException] {
      Dag.run(spark, graph, ledger, "r1", "p", clock)
    }
    // lexicographic-ready order ran a, b, c — then died on d
    assert(runs.toSeq == Seq("a", "b", "c"), runs.toString)
    assert(Dag.completedSteps(spark, ledger, "p") == Set("a", "b", "c"))
    // resume: ONLY d runs; its receipt lands under the new uid
    val resumed = Dag.run(spark, graph, ledger, "r2", "p", clock)
    assert(runs.toSeq == Seq("a", "b", "c", "d"), runs.toString)
    assert(resumed.collect().map(r =>
      (r.getString(0), r.getString(2))).toSeq == Seq(("r2", "d")))
    // fully receipted: a further run executes nothing, returns no rows
    val noop = Dag.run(spark, graph, ledger, "r3", "p", clock)
    assert(runs.size == 4 && noop.count() == 0)
    // a different project shares the ledger table without interference
    assert(Dag.completedSteps(spark, ledger, "other").isEmpty)
    // malformed graphs refuse loudly
    intercept[IllegalArgumentException] {
      Dag.run(spark, Seq(step("x", "y"), step("y", "x")), ledger, "r",
        "p2", clock)
    }
    intercept[IllegalArgumentException] {
      Dag.run(spark, Seq(step("x", "nope")), ledger, "r", "p2", clock)
    }
    intercept[IllegalArgumentException] {
      Dag.run(spark, Seq(step("x"), step("x")), ledger, "r", "p2", clock)
    }
    spark.sql(s"DROP TABLE IF EXISTS $ledger")
  }

  test("Dag: bounded per-step retry — a twice-failing transient step " +
      "succeeds on attempt 3 with 3 ledger rows and the backoff " +
      "schedule; permanent failures and exhausted budgets fail-fast") {
    import graft.pipeline.Dag
    val ledger = "graft_spec_dag_retry"
    spark.sql(s"DROP TABLE IF EXISTS $ledger")
    // a previous ABORTED run can leave the managed location behind with
    // no catalog entry (DROP then can't see it) — clear the orphan too
    val loc = java.nio.file.Paths.get("spark-warehouse", ledger)
    if (java.nio.file.Files.exists(loc)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(loc).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
    }
    val tick = new java.util.concurrent.atomic.AtomicInteger(0)
    val clock = () => s"t${tick.incrementAndGet()}"
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val fails = new java.util.concurrent.atomic.AtomicInteger(2)
    val flaky = Dag.Step("flaky", Nil, () => {
      if (fails.getAndDecrement() > 0)
        throw new java.io.IOException("transient hiccup")
      (1L, 5L)
    })
    val ran = Dag.run(spark, Seq(flaky), ledger, "r1", "pr", clock,
      maxAttempts = 3, sleep = sleeps += _)
    // attempt 3 succeeded: two burned-attempt receipts under the
    // reserved '#' marker, then the completion receipt — 3 ledger rows
    val receipts = spark.table(ledger)
      .filter(col("nm_project") === "pr")
      .orderBy(col("dt_start"))
      .collect().map(r => (r.getString(2), r.getLong(3), r.getLong(4)))
    assert(receipts.toSeq == Seq(
      ("flaky#failed_attempt_1", 0L, 0L),
      ("flaky#failed_attempt_2", 0L, 0L),
      ("flaky", 1L, 5L)), receipts.mkString(", "))
    assert(ran.count() == 3)
    // the httpFetch backoff schedule: 200, then 400
    assert(sleeps.toSeq == Seq(200L, 400L), sleeps.toString)
    // burned receipts never read back as completion, the real one does
    assert(Dag.completedSteps(spark, ledger, "pr") == Set("flaky"))
    // a resumed run skips the completed step entirely
    assert(Dag.run(spark, Seq(flaky), ledger, "r2", "pr", clock,
      maxAttempts = 3).count() == 0)
    // permanent (non-transient) failure: no retry, no burned receipt
    val permRuns = new java.util.concurrent.atomic.AtomicInteger(0)
    val perm = Dag.Step("perm", Nil, () => {
      permRuns.incrementAndGet()
      throw new IllegalStateException("schema drift")
    })
    intercept[IllegalStateException] {
      Dag.run(spark, Seq(perm), ledger, "r3", "pr2", clock,
        maxAttempts = 3)
    }
    assert(permRuns.get() == 1, "non-transient must not retry")
    assert(Dag.completedSteps(spark, ledger, "pr2").isEmpty)
    // exhausted budget: transient failure on the LAST attempt
    // propagates; only maxAttempts-1 burned receipts in the ledger
    val alwaysRuns = new java.util.concurrent.atomic.AtomicInteger(0)
    val always = Dag.Step("always", Nil, () => {
      alwaysRuns.incrementAndGet()
      throw new java.io.IOException("never heals")
    })
    intercept[java.io.IOException] {
      Dag.run(spark, Seq(always), ledger, "r4", "pr3", clock,
        maxAttempts = 3, sleep = _ => ())
    }
    assert(alwaysRuns.get() == 3)
    assert(spark.table(ledger).filter(col("nm_project") === "pr3")
      .count() == 2, "exactly the two burned receipts")
    // a step name carrying the reserved marker is refused up front
    intercept[IllegalArgumentException] {
      Dag.run(spark, Seq(Dag.Step("x#y", Nil, () => (1L, 1L))),
        ledger, "r5", "pr4", clock)
    }
    spark.sql(s"DROP TABLE IF EXISTS $ledger")
  }

  test("Dag: two interleaved runs of one project converge with " +
      "step-level at-least-once — overlapped step runs twice, " +
      "receipted steps are never re-run, re-run is a no-op") {
    import graft.pipeline.Dag
    val ledger = "graft_spec_dag_race"
    spark.sql(s"DROP TABLE IF EXISTS $ledger")
    val tick = new java.util.concurrent.atomic.AtomicInteger(0)
    val clock = () => s"t${tick.incrementAndGet()}"
    val execs = scala.collection.mutable.ArrayBuffer[String]()
    // run B's graph: plain chain s1 → s2 → s3
    def bStep(name: String, deps: String*): Dag.Step =
      Dag.Step(name, deps, () => { execs += s"B:$name"; (1L, 1L) })
    val graphB = Seq(bStep("s1"), bStep("s2", "s1"), bStep("s3", "s2"))
    // run A interleaves: while A is INSIDE s2 (uncommitted), the
    // concurrent run B starts against the same ledger — the
    // scheduler-catchup race, made deterministic by nesting the call
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val graphA = Seq(
      Dag.Step("s1", Nil, () => { execs += "A:s1"; (1L, 1L) }),
      Dag.Step("s2", Seq("s1"), () => {
        execs += "A:s2"
        if (!fired.getAndSet(true))
          Dag.run(spark, graphB, ledger, "uB", "race", clock)
        (1L, 1L)
      }),
      Dag.Step("s3", Seq("s2"), () => { execs += "A:s3"; (1L, 1L) }))
    Dag.run(spark, graphA, ledger, "uA", "race", clock)
    // s1: A receipted it before B started → B skipped it (resume rule)
    // s2: executions OVERLAPPED (A inside, unreceipted, when B read the
    //     ledger) → the documented at-least-once: both ran it
    // s3: B receipted it first → A re-read the ledger and SKIPPED it
    assert(execs.toSeq == Seq("A:s1", "A:s2", "B:s2", "B:s3"),
      s"interleaving: $execs")
    // the ledger carries both s2 receipts (duplicate-tolerant), every
    // step receipted at least once, and completedSteps dedups
    val receipts = spark.table(ledger)
      .filter(col("nm_project") === "race")
      .select(col("uid"), col("step")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(receipts.sorted ==
      Seq(("uA", "s1"), ("uA", "s2"), ("uB", "s2"), ("uB", "s3")).sorted,
      s"receipts: $receipts")
    assert(Dag.completedSteps(spark, ledger, "race") ==
      Set("s1", "s2", "s3"))
    // converged: a sequential catch-up run executes nothing
    val noop = Dag.run(spark, graphA, ledger, "uC", "race", clock)
    assert(noop.count() == 0 && execs.size == 4)
    spark.sql(s"DROP TABLE IF EXISTS $ledger")
  }
}
