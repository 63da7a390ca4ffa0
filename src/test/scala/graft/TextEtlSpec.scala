package graft

import org.apache.spark.sql.functions._
import graft.operators.{Cleaning, TextAnalysis}
import graft.sources.Sinks

class TextEtlSpec extends GraftSpec {

  test("check-digit audit: the canonical CNPJ validates by hand, the " +
      "planted-invalid slice is exactly the %7 keys") {
    import graft.operators.Etl
    // 11.222.333/0001-81 — the textbook valid CNPJ: dv1 = 8, dv2 = 1
    val dv = spark.sql(
      s"SELECT ${Etl.dvSql("'112223330001'", Etl.Dv1Weights)} AS d1, " +
        s"${Etl.dvSql("'1122233300018'", Etl.Dv2Weights)} AS d2")
      .collect().head
    assert(dv.getLong(0) == 8L && dv.getLong(1) == 1L,
      s"canonical CNPJ digits: got (${dv.getLong(0)}, ${dv.getLong(1)})")
    // audit over keys 1..70: invalid = the 10 multiples of 7, split
    // 5 even (PAR) / 5 odd (IMPAR); everything else validates
    import spark.implicits._
    val cust = (1L to 70L).map(k => (k, s"c$k")).toDF("c_custkey", "c_name")
    val got = Etl.checkDigitAudit(cust).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(got("PAR") == ((35L, 30L, 5L)), s"PAR: ${got("PAR")}")
    assert(got("IMPAR") == ((35L, 30L, 5L)), s"IMPAR: ${got("IMPAR")}")
  }

  test("check-digit arithmetic validates PUBLISHED real-world CNPJs — " +
      "expected digits from public registry data, not from the " +
      "generator") {
    import graft.operators.Etl
    // Independent-path fixture (round-12 verdict item 7): the engine's
    // dv expression is checked against CNPJs whose check digits are
    // PUBLIC FACTS (published registry numbers / the Receita Federal
    // documentation example), so a bug in the dvSql generator cannot
    // replicate into the expectation. (base12, published dv1, dv2):
    val published = Seq(
      ("000000000001", 9L, 1L), // Banco do Brasil   00.000.000/0001-91
      ("330001670001", 0L, 1L), // Petrobras         33.000.167/0001-01
      ("003603050001", 0L, 4L), // Caixa Econômica   00.360.305/0001-04
      ("114447770001", 6L, 1L), // RFB doc example   11.444.777/0001-61
      ("112223330001", 8L, 1L)) // textbook example  11.222.333/0001-81
    published.foreach { case (base12, d1, d2) =>
      val r = spark.sql(
        s"SELECT ${Etl.dvSql(s"'$base12'", Etl.Dv1Weights)} AS d1, " +
          s"${Etl.dvSql(s"'$base12$d1'", Etl.Dv2Weights)} AS d2")
        .collect().head
      assert(r.getLong(0) == d1 && r.getLong(1) == d2,
        s"$base12: got (${r.getLong(0)}, ${r.getLong(1)}), " +
          s"published ($d1, $d2)")
    }
    // and a corrupted published number must NOT validate: flipping one
    // body digit of the Petrobras CNPJ changes both check digits
    val bad = spark.sql(
      s"SELECT ${Etl.dvSql("'330001670002'", Etl.Dv1Weights)} AS d1")
      .collect().head.getLong(0)
    assert(bad != 0L, "corrupted CNPJ body must fail dv1 validation")
  }
  import spark.implicits._

  test("quality scores: exact values on a crafted doc") {
    val df = Seq((1L, "the cat sat!")).toDF("doc_id", "text")
    val r = TextAnalysis.quality(df).collect().head
    assert(r.getLong(1) == 12) // n_chars
    assert(r.getLong(2) == 3)  // n_words
    assert(r.getDouble(3) == 1.0 / 3) // stopword: 'the'
    assert(r.getDouble(4) == 9.0 / 12) // alpha: thecatsat
    assert(r.getDouble(5) == 1.0 / 12) // punct: '!'
  }

  test("token counts: regex tokenizer splits punctuation") {
    val df = Seq((1L, "ab2c, d!")).toDF("doc_id", "text")
    val r = TextAnalysis.tokens(df).collect().head
    assert(r.getLong(1) == 2) // whitespace: [ab2c,] [d!]
    assert(r.getLong(2) == 6) // ab | 2 | c | , | d | !
  }

  test("language id picks the marker language, und when none") {
    val df = Seq(
      (1L, "der hund und die katze", "x"),
      (2L, "le chat et la souris", "x"),
      (3L, "qqq www eee", "x")).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.langId(df).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "de")
    assert(got(2L) == "fr")
    assert(got(3L) == "und")
  }

  test("entropy: exact values on crafted docs, zero/NULL edges") {
    val df = Seq(
      1L -> "aabb",          // chars: H = ln 2, 1 bit/char; one word: Hw = 0
      2L -> "abcd",          // uniform 4 chars: H = ln 4, 2 bits/char
      3L -> "aaaa",          // single symbol: 0 entropy
      4L -> "x y x y",       // words x,y,x,y (+3 spaces in chars)
      5L -> "",              // empty: zeros by definition
      6L -> null.asInstanceOf[String] // NULL propagates
    ).toDF("doc_id", "text")
    val got = TextAnalysis.entropy(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    def d(r: org.apache.spark.sql.Row, i: Int) = r.getDouble(i)
    assert(math.abs(d(got(1L), 1) - math.log(2)) < 1e-6)
    assert(d(got(1L), 2) == 0.0)
    assert(math.abs(d(got(1L), 3) - 1.0) < 1e-6)
    assert(math.abs(d(got(2L), 1) - math.log(4)) < 1e-6)
    assert(math.abs(d(got(2L), 3) - 2.0) < 1e-6)
    assert(d(got(3L), 1) == 0.0 && d(got(3L), 3) == 0.0)
    // doc 4 words: {x:2, y:2} of 4 -> ln 2
    assert(math.abs(d(got(4L), 2) - math.log(2)) < 1e-6)
    assert(d(got(5L), 1) == 0.0 && d(got(5L), 2) == 0.0)
    assert(got(6L).isNullAt(1) && got(6L).isNullAt(2) && got(6L).isNullAt(3))
    // user-callable SQL face: NULL array elements are skipped, not
    // counted as a distinct symbol (documented SymbolEntropy contract)
    val sql = spark.sql(
      """SELECT entropy_nats(array('a', CAST(NULL AS STRING), 'a')) AS h1,
        |       entropy_nats(array('a', 'a')) AS h2,
        |       entropy_nats(array(CAST(NULL AS STRING))) AS h3
        |""".stripMargin).head()
    assert(sql.getDouble(0) == 0.0 && sql.getDouble(1) == 0.0 &&
      sql.getDouble(2) == 0.0,
      "NULL array elements must be skipped by entropy_nats")
  }

  test("token chunking: stride overlap, exact tail coverage, short docs") {
    // 10 tokens, width 4, stride 3 -> n_chunks = 1 + ceil(6/3) = 3
    val ten = (1 to 10).map(i => s"t$i").mkString(" ")
    val df = Seq(
      1L -> ten,
      2L -> "a b",          // shorter than width: one chunk, whole doc
      3L -> null.asInstanceOf[String] // NULL text: contributes nothing
    ).toDF("doc_id", "text")
    val got = TextAnalysis.chunk(df, width = 4, stride = 3).collect()
    val byDoc = got.groupBy(_.getLong(0))
    assert(!byDoc.contains(3L))
    assert(byDoc(2L).map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq == Seq((0L, 2L, "a b")))
    val c1 = byDoc(1L).sortBy(_.getLong(1))
      .map(r => (r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(c1 == Seq(
      (0L, 4L, "t1 t2 t3 t4"),
      (1L, 4L, "t4 t5 t6 t7"),   // 1-token overlap at stride 3
      (2L, 4L, "t7 t8 t9 t10"))) // tail covered exactly once
    // every token appears in at least one chunk; no chunk exceeds width
    val covered = c1.flatMap(_._3.split(" ")).toSet
    assert(covered == (1 to 10).map(i => s"t$i").toSet)
    assert(c1.forall(_._2 <= 4))
    // width-boundary doc: exactly one chunk, not a degenerate second
    val exact = TextAnalysis.chunk(
      Seq(9L -> (1 to 4).map(i => s"x$i").mkString(" ")).toDF("doc_id", "text"),
      width = 4, stride = 3).collect()
    assert(exact.length == 1 && exact.head.getLong(2) == 4L)
  }

  test("chunk output feeds sequence packing without re-tokenizing") {
    // the docs claim chunk -> sample_pack composes; prove it: chunks
    // become pack units keyed (doc_id, chunk_idx), every chunk lands
    // in exactly one sequence, and no sequence exceeds capacity
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .filter(col("text").isNotNull).limit(200)
    val chunks = TextAnalysis.chunk(docs)
    val asUnits = chunks.select(
      (col("doc_id") * 10000 + col("chunk_idx")).as("doc_id"),
      col("chunk").as("text"))
    val capacity = 256L
    val packed = graft.operators.Sampling.packSequences(asUnits, capacity)
    assert(packed.count() == chunks.count(), "a chunk was dropped")
    val perSeq = packed.groupBy(col("shard"), col("seq_id"))
      .agg(sum(col("n_tokens")).as("toks")).collect()
    // packSequences allows one unit to straddle a boundary (greedy
    // running-sum packing); chunks are <= 64 tokens, so a sequence
    // never exceeds capacity + 63
    assert(perSeq.forall(_.getLong(2) <= capacity + 63),
      "a packed sequence exceeds capacity + chunk width")
    // chunk n_tokens must agree with what packing re-derives
    val n1 = chunks.agg(sum(col("n_tokens"))).collect().head.getLong(0)
    val n2 = packed.agg(sum(col("n_tokens"))).collect().head.getLong(0)
    assert(n1 == n2, s"token accounting diverged: $n1 vs $n2")
  }

  test("pii scrub redacts emails and phones and counts matches") {
    val df = Seq(
      (1L, "mail a.user+tag@sub.example.org and b@x.io please"),
      (2L, "call +1-555-12345 or +44-207-9460000 now"),
      (3L, "no pii here")).toDF("doc_id", "text")
    val rows = TextAnalysis.piiScrub(df).collect()
    assert(rows(0).getString(1) == "mail <EMAIL> and <EMAIL> please")
    assert(rows(0).getLong(2) == 2 && rows(0).getLong(3) == 0)
    assert(rows(1).getString(1) == "call <PHONE> or <PHONE> now")
    assert(rows(1).getLong(2) == 0 && rows(1).getLong(3) == 2)
    assert(rows(2).getString(1) == "no pii here")
    assert(rows(2).getLong(2) == 0 && rows(2).getLong(3) == 0)
  }

  test("ngram stats counts bigrams corpus-wide with deterministic ties") {
    val df = Seq((1L, "a b a b c"), (2L, "a b"), (3L, "x"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.ngramStats(df, n = 2, topK = 3).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // "a b" ×3 (twice in doc1, once in doc2); "b a"/"b c" ×1 tie → lexical
    assert(got == Seq(("a b", 3L), ("b a", 1L), ("b c", 1L)))
  }

  test("winnow overlap pairs detect partial span reuse") {
    val span = (0 until 30).map(i => s"shared$i").mkString(" ")
    val a = span + " " + (0 until 30).map(i => s"atail$i").mkString(" ")
    val b = (0 until 30).map(i => s"bhead$i").mkString(" ") + " " + span
    val c = (0 until 60).map(i => s"cword$i").mkString(" ")
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val pairs = TextAnalysis.winnowOverlapPairsPoly(df).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // the ~250-char shared span yields many shared winnowed prints
    assert(pairs.contains((1L, 2L)), s"span reuse not detected: $pairs")
    assert(pairs((1L, 2L)) >= 3)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      "disjoint doc must not pair")
  }

  test("winnow oracle corpus precondition: documents are ASCII, " +
    "non-empty, single-spaced") {
    // the text_winnow_overlap / dedup_simhash oracles replay the JVM
    // codePointAt fold via DuckDB's per-character split + UNICODE();
    // empty tokens (double spaces), empty docs, and combining
    // sequences are the known divergence surfaces — assert the
    // generated corpus stays clear of them so the gates stay honest
    val bad = graft.sources.Tables.load(spark, sf, "documents")
      .filter(col("text").isNull || col("text") === "" ||
        col("text").contains("  ") ||
        col("text").rlike("[^\\x20-\\x7E]"))
      .count()
    assert(bad == 0, s"$bad documents violate the oracle precondition")
  }

  test("poly winnow overlap face detects the same planted span reuse") {
    // same planted span, fed in reversed doc order: the pair must still
    // come out once, canonically ordered, and minShared must gate it
    val span = (0 until 30).map(i => s"shared$i").mkString(" ")
    val a = span + " " + (0 until 30).map(i => s"atail$i").mkString(" ")
    val b = (0 until 30).map(i => s"bhead$i").mkString(" ") + " " + span
    val c = (0 until 60).map(i => s"cword$i").mkString(" ")
    val df = Seq((3L, c), (2L, b), (1L, a)).toDF("doc_id", "text")
    val rows = TextAnalysis.winnowOverlapPairsPoly(df).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    val pairs = rows.toMap
    assert(rows.length == pairs.size, s"duplicate pair rows: ${rows.toSeq}")
    assert(pairs.contains((1L, 2L)), s"span reuse not detected: $pairs")
    assert(!pairs.contains((2L, 1L)), "pair must be emitted as (lo, hi)")
    assert(pairs((1L, 2L)) >= 3)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      "disjoint doc must not pair")
    val gated = TextAnalysis.winnowOverlapPairsPoly(df,
      minShared = (pairs((1L, 2L)) + 1).toInt).count()
    assert(gated == 0, "minShared above the shared count must drop the pair")
  }

  test("bm25 retrieval: dense ranks, non-increasing scores, a " +
    "driver-side brute-force recompute of one query, and a " +
    "hand-checked score") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val rows = TextAnalysis.bm25TopK(docs).collect()
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.keySet == Set(0L, 100L, 200L, 300L, 400L))
    byQuery.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to 5L),
        s"query $q ranks not dense")
      val scores = sorted.map(_.getDouble(3)).toSeq
      assert(scores == scores.sorted.reverse, s"query $q not sorted")
    }
    // brute-force query 0 over the whole corpus on the driver, same
    // formula and operation order, and require the FULL top-5 to
    // match — an oracle-independent check of the distributed plan
    val all = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val n = all.length
    val dlm = all.map { case (id, ws) => (id, ws.length.toLong) }.toMap
    val avgdl = dlm.values.sum.toDouble / n
    val q0 = all.find(_._1 == 0L).get._2.take(8).distinct
    val dfm = q0.map(t => t -> all.count(_._2.contains(t)).toLong).toMap
    val bf = all.flatMap { case (id, ws) =>
      val tfm = ws.groupBy(identity).map { case (w, a) => (w, a.length.toLong) }
      val hits = q0.filter(tfm.contains)
      if (hits.isEmpty) None
      else Some((id, hits.map { t =>
        val tf = tfm(t); val d = dfm(t)
        math.floor(math.log((n.toDouble - d + 0.5) / (d + 0.5) + 1.0)
          * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dlm(id) / avgdl))
          * 1e6).toLong
      }.sum))
    }.sortBy { case (id, s) => (-s, id) }.take(5)
    val got = byQuery(0L).sortBy(_.getLong(1))
      .map(r => (r.getLong(2), r.getDouble(3))).toSeq
    val exp = bf.map { case (id, s) =>
      (id, BigDecimal(s / 1e6).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq
    assert(got == exp, s"query-0 top-5 mismatch:\n got $got\n exp $exp")
    // hand-check one score: a 2-doc corpus where the query doc holds
    // both query terms once. N=2, df=1 per term ->
    // idf = ln((2-1+0.5)/(1+0.5)+1) = ln(2); dl=2, avgdl=2.5
    val tiny = Seq((0L, "alpha beta"), (1L, "gamma delta epsilon"))
      .toDF("doc_id", "text")
    val tr = TextAnalysis.bm25TopK(tiny, every = 2).collect()
      .filter(r => r.getLong(0) == 0L && r.getLong(2) == 0L)
    assert(tr.length == 1)
    val idf = math.log((2.0 - 1 + 0.5) / (1 + 0.5) + 1.0)
    val term = idf * (1 * 2.2) / (1 + 1.2 * (0.25 + 0.75 * 2 / 2.5))
    val tinyExp = math.floor(term * 1e6).toLong * 2 // two terms, tf=1
    assert(tr.head.getDouble(3) ==
      BigDecimal(tinyExp / 1e6).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble,
      s"hand-checked score mismatch: ${tr.head.getDouble(3)}")
  }

  test("unigram log-prob matches a driver-side recompute and the " +
    "vocab table broadcasts (token stream never shuffles by word)") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "the the cat"), // common words → high mean logp
      (2L, "zyx qwv jjk")) // singletons → low mean logp
      .toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogProb(docs).collect()
    // corpus: the=2, cat=1, zyx=1, qwv=1, jjk=1; N=6
    def score(cnts: Seq[Int]): Double = {
      val s = cnts.map(c => math.floor(math.log(c.toDouble) * 1e6).toLong).sum
      val v = s.toDouble / (cnts.length * 1e6) - math.log(6.0)
      math.rint(v * 1e6) / 1e6
    }
    assert(got(0).getLong(0) == 1L && got(0).getLong(1) == 3L)
    assert(got(0).getDouble(2) == score(Seq(2, 2, 1)))
    assert(got(1).getDouble(2) == score(Seq(1, 1, 1)))
    assert(got(0).getDouble(2) > got(1).getDouble(2),
      "rare-word doc must score below common-word doc")
    val plan = TextAnalysis.unigramLogProb(
      graft.sources.Tables.load(spark, sf, "documents"))
      .queryExecution.executedPlan.toString
    // the vocab BUILD legitimately shuffles (vocab-sized after map-side
    // combine); the per-token LOOKUP must be a broadcast probe, never a
    // sort-merge join repartitioning the token stream by word
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab lookup is not a broadcast join:\n${plan.take(1200)}")
    assert(!plan.contains("SortMergeJoin"),
      s"token stream shuffles into a sort-merge join:\n${plan.take(1200)}")
  }

  test("ppl bucketing: balanced per-language terciles ordered by score") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val out = TextAnalysis.pplBucket(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3)))
    // total coverage, one bucket per doc
    assert(out.length.toLong === docs.count())
    assert(out.map(_._1).distinct.length === out.length)
    out.groupBy(_._2).foreach { case (lang, rows) =>
      val byBucket = rows.groupBy(_._4).view.mapValues(_.length).toMap
      // ntile(3): bucket sizes differ by at most 1
      val sizes = Seq("head", "middle", "tail").map(byBucket.getOrElse(_, 0))
      assert(sizes.max - sizes.min <= 1, s"$lang unbalanced: $byBucket")
      // score ordering across bucket boundaries (ties may straddle)
      def scores(b: String) = rows.filter(_._4 == b).map(_._3)
      if (scores("head").nonEmpty && scores("middle").nonEmpty)
        assert(scores("head").min >= scores("middle").max,
          s"$lang head/middle inversion")
      if (scores("middle").nonEmpty && scores("tail").nonEmpty)
        assert(scores("middle").min >= scores("tail").max,
          s"$lang middle/tail inversion")
    }
  }

  test("collocations: a planted phrase tops the PMI ranking with " +
      "hand-computed score and counts") {
    // "alpha beta" always co-occur; filler words pair freely, so their
    // bigrams score near 0 while the phrase's PMI is strongly positive
    val phrase = Array.fill(6)("alpha beta").mkString(" ")
    val free = (1 to 30).flatMap(i =>
      Seq(s"f${i % 3}", s"g${i % 5}")).mkString(" ")
    val df = Seq((1L, phrase), (2L, free), (3L, free))
      .toDF("doc_id", "text")
    val got = TextAnalysis.collocations(df, minCount = 2, k = 10).collect()
    val top = got.head
    assert((top.getString(0), top.getString(1)) == (("alpha", "beta")))
    val nTok = 12 + 60 + 60
    val nBi = 11 + 59 + 59
    assert(top.getLong(2) == 6L && top.getLong(3) == 6L
      && top.getLong(4) == 6L)
    val expected = math.log(6.0) - math.log(6.0) - math.log(6.0) +
      (2 * math.log(nTok.toDouble) - math.log(nBi.toDouble))
    assert(math.abs(top.getDouble(5) - expected) < 1e-3,
      s"pmi ${top.getDouble(5)} vs $expected")
    // scores arrive ranked: rounded PMI non-increasing down the list
    val pmis = got.map(_.getDouble(5))
    assert(pmis.zip(pmis.tail).forall { case (a, b) => a >= b })
  }

  test("bpe merge candidates: frequency-weighted within-word pair " +
      "counts with hand-checked totals") {
    // vocab: "aaab"×2, "ab"×1, "x" excluded (single char)
    val df = Seq((1L, "aaab x ab"), (2L, "aaab")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeMergeCandidates(df, k = 10).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // (a,a): two positions in "aaab" × wc 2 = 4; (a,b): 1×2 + 1×1 = 3
    assert(got.toSeq == Seq(("a", "a", 4L), ("a", "b", 3L)), got.toSeq)
  }

  test("cleaning: trim, empty→NULL, parity segment") {
    val df = Seq((1L, "  x  "), (2L, "   "), (3L, "y"))
      .toDF("codigo", "descricao")
    val got = Cleaning.referenceClean(df, "codigo")
      .orderBy("codigo").collect()
    assert(got(0).getString(1) == "x")
    assert(got(0).getString(2) == "PRIMARIO")
    assert(got(1).isNullAt(1)) // whitespace-only → trimmed → NULL
    assert(got(1).getString(2) == "SECUNDARIO")
    assert(got(2).getString(1) == "y")
  }

  test("run-level audit row mirrors the reference monitor shape") {
    val row = graft.pipeline.Monitor.runAudit(spark, uid = "run-1",
      project = "graft", step = "trusted", qtdFiles = 1, qtdRows = 1500,
      dtStart = "2026-08-12 00:00:00", dtEnd = "2026-08-12 00:01:00")
      .collect().head
    assert(row.getString(0) == "run-1")
    assert(row.getLong(4) == 1500)
  }

  test("single-file CSV sink writes a BOM exactly once") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory(Paths.get("target"), "bomtest")
      .toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    // a second export into the same dir replaces the first: no BOM
    // stacks up on the rewrite
    Sinks.writeSingleCsv(df, s"$dir/csv")
    Sinks.writeSingleCsv(df, s"$dir/csv")
    val names = new java.io.File(s"$dir/csv").list().toSeq
    val parts = names.filter(n => n.startsWith("part-") && n.endsWith(".csv"))
    assert(parts.length == 1, s"expected one part file: $names")
    val bytes = Files.readAllBytes(Paths.get(s"$dir/csv", parts.head))
    val bom = Seq(0xEF, 0xBB, 0xBF).map(_.toByte)
    assert(bytes.take(3).toSeq == bom)
    assert(bytes.slice(3, 6).toSeq != bom)
    assert(new String(bytes, 3, bytes.length - 3, "UTF-8") ==
      "id|v\n1|a\n2|b\n")
    // Spark's own checksum sidecar stays and still verifies on read
    assert(names.contains(s".${parts.head}.crc"), s"no .crc: $names")
    assert(spark.read.option("header", "true").option("delimiter", "|")
      .csv(s"$dir/csv").count() == 2)
  }

  test("bigram logprob: fixture replay of the smoothed LM, planted " +
      "spam scores below prose, one-token docs drop out") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the rug"),
      (3L, "mat the on sat cat rug"), // shuffled spam: unseen bigrams
      (4L, "solo"))                   // no bigrams
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("web"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val texts = Map(1L -> "the cat sat on the mat",
      2L -> "the cat sat on the rug", 3L -> "mat the on sat cat rug",
      4L -> "solo")
    val uni = texts.values.flatMap(_.split(" ")).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val vocab = uni.size.toLong
    val bigs = texts.view.mapValues(_.split(" ").sliding(2).toSeq
      .filter(_.length == 2).map(a => (a(0), a(1)))).toMap
    val bc = bigs.values.flatten.groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    def mean(d: Long): Double = {
      val terms = bigs(d).map { b =>
        math.floor(math.log((bc(b) + 1).toDouble) * 1e6).toLong -
          math.floor(math.log((uni(b._1) + vocab).toDouble) * 1e6).toLong
      }
      BigDecimal(terms.sum.toDouble / (terms.length * 1e6))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = TextAnalysis.bigramLogProb(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L), "doc 4 has no bigrams")
    Seq(1L, 2L, 3L).foreach { d =>
      assert(got(d) == ((5L, mean(d))), s"doc $d: ${got(d)} vs ${mean(d)}")
    }
    assert(got(3L)._2 < got(1L)._2,
      "shuffled spam must score below prose sharing its unigrams")
  }

  test("readability: hand-computed counts, sentence-run collapsing, " +
      "fragment floor, score arithmetic") {
    val docs = Seq(
      // 6 words, "!!" + "." + "?" = 3 sentence RUNS (not 4 marks),
      // syllable groups: quick(ui=1) brown(o=1) fox(o=1) is(i=1)
      // here(e,e=2) now(o=1) = 7
      (1L, "Quick brown fox!! Is here. Now?", "en", "web", 31L),
      // no punctuation → sentence floor 1; y counts as a vowel:
      // rhythm(y=1) my(y=1) gym(y=1) = 3 groups
      (2L, "rhythm my gym", "en", "web", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextAnalysis.readability(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    def fl(w: Long, s: Long, y: Long): Double =
      BigDecimal(206.835 - 1.015 * w.toDouble / s - 84.6 * y.toDouble / w)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((6L, 3L, 7L, fl(6, 3, 7))))
    assert(got(2L) == ((3L, 1L, 3L, fl(3, 1, 3))))
  }

  test("gopher rules: each rule flips on a crafted violation, bitmask " +
      "composes, verdicts vary on the corpus fixture") {
    // pad to 20+ words so only the TARGETED rule fails per doc
    val okTail = (1 to 18).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      // all rules pass
      (0L, s"the cat of dog and $okTail"),
      // R1: too short (word lengths keep the mean in [3,10])
      (1L, "the cats off and dogs"),
      // R2: mean word length > 10 (distinct words so only R2 trips)
      (2L, ("the of " + (1 to 18).map(i =>
        s"pneumonoultramicroscopics$i").mkString(" "))),
      // R3: <80% alphabetic words (5 numeric of 20, all distinct, mean
      // length in range)
      (3L, "the of " + (1 to 13).map(i => f"alpha$i%02d").mkString(" ")
        + " 1234 2345 3456 4567 5678"),
      // R4: no stopword evidence
      (4L, (1 to 20).map(i => s"tok$i").mkString(" ")),
      // R5: one word dominates (>20%)
      (5L, "the of " + (1 to 10).map(_ => "spam").mkString(" ") + " " +
        (1 to 8).map(i => s"x$i").mkString(" ")),
      // R6: duplicated bigrams (>30%)
      (6L, "the of " + (1 to 9).map(_ => "ab cd").mkString(" ")))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("web").as("source"), length(col("text")).as("n_chars"))
    val got = TextAnalysis.gopherRules(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(9)).toMap
    assert(got(0L) == 0L, s"clean doc flagged: ${got(0L)}")
    assert(got(1L) == 1L, s"wordcount bit: ${got(1L)}")
    assert(got(2L) == 2L, s"meanlen bit: ${got(2L)}")
    assert(got(3L) == 4L, s"alpha bit: ${got(3L)}")
    assert(got(4L) == 8L, s"stopword bit: ${got(4L)}")
    assert((got(5L) & 16L) == 16L, s"dominance bit: ${got(5L)}")
    assert((got(6L) & 32L) == 32L, s"dup-bigram bit: ${got(6L)}")
    // corpus face: verdicts vary and pass == (reasons == 0) everywhere
    val face = TextAnalysis.gopherRules(
      graft.sources.Tables.load(spark, sf, "documents")).collect()
    assert(face.exists(_.getBoolean(10)) && face.exists(!_.getBoolean(10)))
    face.foreach(r =>
      assert(r.getBoolean(10) == (r.getLong(9) == 0L)))
  }

  test("zipf fit: a planted power-law corpus slopes near -1, a " +
      "uniform vocabulary fits an exactly flat line") {
    // word k appears floor(1000/k) times -> ln(freq) ~ -1 * ln(rank)
    val zipfWords = (1 to 50).flatMap(k => Seq.fill(1000 / k)(f"w$k%02d"))
    val zipf = Seq((0L, zipfWords.mkString(" "))).toDF("doc_id", "text")
    val r = TextAnalysis.zipfFit(zipf, topN = 50).collect().head
    assert(r.getLong(0) == 50L)
    assert(r.getLong(1) == zipfWords.length.toLong)
    val slope = r.getDouble(2)
    assert(slope > -1.05 && slope < -0.90, s"planted slope $slope")
    // equal counts: y is constant, the regression is exactly flat and
    // the intercept is exactly ln(count) rounded
    val uniWords = (1 to 50).flatMap(k => Seq.fill(20)(f"u$k%02d"))
    val uni = Seq((0L, uniWords.mkString(" "))).toDF("doc_id", "text")
    val u = TextAnalysis.zipfFit(uni, topN = 50).collect().head
    assert(u.getDouble(2) == 0.0, s"uniform slope ${u.getDouble(2)}")
    assert(u.getDouble(3) ==
      BigDecimal(math.log(20.0)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("url canonicalization: all six mess variants collapse to one " +
      "canonical form, exactly one keeper per group") {
    val docs = (0L until 60L).map(i => (i, s"text $i"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.urlCanonDedup(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getBoolean(3)))
    assert(got.length == 60)
    got.groupBy(_._1 / 6).foreach { case (g, rows) =>
      // one canonical form per logical URL, host lowercased, no mess
      assert(rows.map(_._3).distinct.toSeq == Seq(s"example$g.com/p/$g"),
        s"group $g canons: ${rows.map(_._3).distinct.toSeq}")
      // the minimum doc_id is the single keeper
      assert(rows.filter(_._4).map(_._1).toSeq == Seq(rows.map(_._1).min))
    }
    // distinct logical URLs never merge
    assert(got.map(_._3).distinct.length == 10)
    // path case must be preserved (only the host lowercases)
    val mixed = Seq((0L, "x")).toDF("doc_id", "text")
    val canon = TextAnalysis.urlCanonDedup(mixed).collect().head.getString(2)
    assert(canon == "example0.com/p/0")
  }

  test("heaps growth: hand-computed vocabulary curve on a crafted " +
      "corpus, and the cumulative totals close over the fixture") {
    // doc 0: "a b" | doc 1: "a c" | docs 2,3: "a b c d" -> buckets
    // b0={0}, b1={1,2}, b2={3}
    val crafted = Seq((0L, "a b"), (1L, "a c"), (2L, "a b c d"),
      (3L, "a b c d")).toDF("doc_id", "text")
    val h = TextAnalysis.heapsGrowth(crafted).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // bucket 0: 1 doc, 2 tokens, types {a,b} new
    assert(h(0L) == ((1L, 2L, 2L, 1L, 2L, 2L)))
    // bucket 1 (docs 1,2): 6 tokens, new types {c,d}
    assert(h(1L) == ((2L, 6L, 2L, 3L, 8L, 4L)))
    // bucket 2 (doc 3): 4 tokens, nothing new
    assert(h(2L) == ((1L, 4L, 0L, 4L, 12L, 4L)))
    // fixture closure: the curve ends at the corpus totals and every
    // cumulative column is monotone
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val rows = TextAnalysis.heapsGrowth(docs).collect()
    val toks = docs.select(explode(split(col("text"), " ")).as("w"))
    val last = rows.last
    assert(last.getLong(4) == docs.count())
    assert(last.getLong(5) == toks.count())
    assert(last.getLong(6) == toks.distinct().count())
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(0) < b.getLong(0))
        (4 to 6).foreach(i => assert(a.getLong(i) <= b.getLong(i)))
      case _ =>
    }
  }

  test("ngram novelty: shared phrases count as non-novel, short docs " +
      "drop out, and the census replays brute-force on the corpus") {
    // docs 0/1 share one 5-gram ("a b c d e"); doc 2 is all-novel;
    // doc 3 is too short for any 5-gram
    val crafted = Seq(
      (0L, "a b c d e x y"), // grams: abcde, bcdex, cdexy
      (1L, "z a b c d e"), // grams: zabcd, abcde
      (2L, "p q r s t u"), // grams: pqrst, qrstu
      (3L, "one two three four")).toDF("doc_id", "text")
    val h = TextAnalysis.ngramNovelty(crafted).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(h.keySet == Set(0L, 1L, 2L))
    assert(h(0L) == ((3L, 2L, 666L)), s"doc0: ${h(0L)}")
    assert(h(1L) == ((2L, 1L, 500L)))
    assert(h(2L) == ((2L, 2L, 1000L)))
    // corpus brute replay over the registered FINGERPRINT semantics
    // (the census counts poly-digest values, so the replay hashes the
    // gram with the same seeded codepoint fold — the sf0.001 corpus
    // carries real collisions that a string-level replay would miss)
    def poly(s: String): Long = {
      var acc = 888888883L
      s.codePoints().forEach { cp => acc = (acc * 31 + cp) % 1000000007L }
      acc
    }
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val grams = docs.flatMap { case (id, t) =>
      if (t.length < 5) Seq.empty
      else (0 to t.length - 5)
        .map(i => (id, poly(t.slice(i, i + 5).mkString(" "))))
    }
    val freq = grams.groupBy(_._2).view.mapValues(_.length).toMap
    val want = grams.groupBy(_._1).map { case (id, gs) =>
      val novel = gs.count(g => freq(g._2) == 1).toLong
      id -> ((gs.length.toLong, novel, 1000L * novel / gs.length))
    }
    val got = TextAnalysis.ngramNovelty(
        graft.sources.Tables.load(spark, sf, "documents")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(got == want)
  }

  test("code detect: source text routes to code, prose stays prose, " +
      "and the symbol/keyword census replays on the corpus") {
    val crafted = Seq(
      (0L, "def f(x): return x + 1 # comment"), // keywords + symbols
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "x = {a: 1}; y = (2 < 3); z = [];"), // symbol-dense, no kw
      (3L, "if you return for a while import nothing"), // kw-only prose
      // trailing-newline boundary (advice r15 #2): split-on-space
      // token semantics see the token "def\n" != "def" — the census
      // lookahead must be \z (end of INPUT), because Java's $ also
      // matches before a final line terminator and would count it
      (4L, "def\n"),
      (5L, "return import def\n")) // 2 true hits, not 3
      .toDF("doc_id", "text")
    val h = TextAnalysis.codeDetect(crafted).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3),
        r.getBoolean(4)))).toMap
    assert(h(0L)._3, "def/return + symbols must flag")
    assert(!h(1L)._3, "prose flagged as code")
    assert(h(2L)._3, "symbol-dense text must flag")
    assert(h(3L)._3 && h(3L)._1 == 0,
      "3+ keywords must flag even with zero symbols")
    assert(h(4L)._2 == 0L, "\"def\\n\" is not the token \"def\"")
    assert(h(5L)._2 == 2L && !h(5L)._3,
      "a newline-terminated keyword must not be the third hit")
    // corpus replay
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val kw = Set("def", "return", "import", "if", "else", "for",
      "while", "var", "const", "class")
    val got = TextAnalysis.codeDetect(
        graft.sources.Tables.load(spark, sf, "documents")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))).toMap
    docs.foreach { case (id, t) =>
      val sym = t.count(";{}()=<>#".contains(_)).toLong
      val hits = t.split(" ", -1).count(kw).toLong
      val (gc, gs, gk, gcode) = got(id)
      assert(gc == t.length.toLong && gs == sym && gk == hits, s"doc $id")
      assert(gcode == (sym * 20 >= t.length || hits >= 3))
    }
  }

  test("calibration: bin census replays brute-force and conserves the " +
      "corpus totals") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("n_chars"), col("source")).collect()
      .map(r => (r.getLong(0),
        r.getString(1).replaceAll("\\D", "").toLong % 2 == 0))
    val got = TextAnalysis.calibration(
        graft.sources.Tables.load(spark, sf, "documents")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3))))
    assert(got.nonEmpty)
    val byBin = docs.groupBy(_._1 / 64)
    assert(got.length == byBin.size)
    got.foreach { case (bin, (n, pos, pm)) =>
      val rows = byBin(bin)
      assert(n == rows.length && pos == rows.count(_._2), s"bin $bin")
      assert(pm == 1000L * pos / n)
    }
    assert(got.map(_._2._1).sum == docs.length)
    assert(got.map(_._2._2).sum == docs.count(_._2))
  }

  test("quality auc: perfect separation scores 1000, all-ties scores " +
      "500, and the histogram formulation equals brute-force " +
      "average-rank AUC on the corpus") {
    // hand cases: lang x separates perfectly, lang y is one big tie
    val hand = Seq(
      ("x", 10L, "src0"), ("x", 9L, "src2"), // positives (even src)
      ("x", 2L, "src1"), ("x", 1L, "src3"), // negatives
      ("y", 5L, "src0"), ("y", 5L, "src2"),
      ("y", 5L, "src1"), ("y", 5L, "src3"))
      .toDF("lang", "n_chars", "source")
    val h = TextAnalysis.qualityAuc(hand).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(h("x") == 1000L, s"perfect separation: ${h("x")}")
    assert(h("y") == 500L, s"all ties: ${h("y")}")
    // corpus replay: brute-force doubled average ranks per positive
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("lang"), col("n_chars"), col("source")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getString(2).replaceAll("\\D", "").toLong % 2 == 0))
    val got = TextAnalysis.qualityAuc(
        graft.sources.Tables.load(spark, sf, "documents")).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.nonEmpty)
    docs.groupBy(_._1).foreach { case (lang, rows) =>
      val nPos = rows.count(_._3).toLong
      val nNeg = rows.length - nPos
      val u2 = rows.filter(_._3).map { case (_, s, _) =>
        2L * rows.count(_._2 < s) + rows.count(_._2 == s) + 1L
      }.sum
      val (gp, gn, gu2, gauc) = got(lang)
      assert(gp == nPos && gn == nNeg && gu2 == u2, s"$lang u2")
      assert(gauc == 1000L * (u2 - nPos * (nPos + 1)) / (2 * nPos * nNeg),
        s"$lang auc")
      assert(gauc >= 0 && gauc <= 1000)
    }
  }
}
