// The package grants access to the listener bus drain
// (SparkContext.listenerBus is private[spark]); nothing else here
// depends on Spark internals.
package org.apache.spark.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{call_function, col, explode, expr, lit, sequence, split, typedlit}

import graft.{GraftSession, SparkEntry}
import graft.operators._
import graft.pipeline.{Medallion, Monitor}
import graft.sources.{CsvIngest, Landing, Sinks}
import graft.streaming.Streaming

/** One perfbench run inside one JVM, driven by perfbench/run.py.
  *
  *   Driver modules
  *       prints each module's public query keys, and SparkEntry's, as JSON
  *   Driver run <workload> <inputDir> <runDir> <seconds> <trace> [key ...]
  *       writes <runDir>/result.json and <runDir>/spans.jsonl
  *
  * A run is: one set-up (JVM start, a GraftSession, and one warm pass
  * that builds every index store a key serves from and writes every
  * result for the correctness check), then whole timed passes until
  * `seconds` have elapsed (at least [[MinPasses]]). Operations run one
  * at a time; between them, outside every timed interval, persisted
  * RDDs are released and the heap is collected.
  */
object Driver {

  /** Public `queries` maps by module, in SparkEntry's order. */
  val modules: Seq[(String, Set[String])] = Seq(
    "operators.Relational" -> Relational.queries.keySet,
    "operators.Etl" -> Etl.queries.keySet,
    "operators.TextAnalysis" -> TextAnalysis.queries.keySet,
    "operators.Dedup" -> Dedup.queries.keySet,
    "operators.Similarity" -> Similarity.queries.keySet,
    "operators.Multimodal" -> Multimodal.queries.keySet,
    "operators.Sampling" -> Sampling.queries.keySet,
    "streaming.Streaming" -> Streaming.queries.keySet,
    "operators.Corpus" -> Corpus.queries.keySet,
    "operators.Warehouse" -> Warehouse.queries.keySet,
    "operators.Graph" -> Graph.queries.keySet)

  def moduleOf(key: String): String =
    modules.filter(_._2.contains(key)).map(_._1) match {
      case Seq(m) => m
      case ms => sys.error(
        s"key $key is in ${ms.size} module queries maps (${ms.mkString(",")}); expected exactly one")
    }

  /** An operation: `construct` builds the result (work a key does
    * eagerly happens here), `materialize` executes it. Set-up passes
    * execute it through `dump` instead when there is one, which keeps
    * the result for the correctness check. */
  final case class Op(name: String, module: String,
      construct: SparkSession => DataFrame,
      materialize: DataFrame => Unit,
      dump: Option[DataFrame => Unit] = None)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  /** A value already rendered as JSON. */
  final case class Raw(s: String)

  private def json(fields: (String, Any)*): String = fields.map {
    case (k, Raw(v)) => s"${q(k)}:$v"
    case (k, v: String) => s"${q(k)}:${q(v)}"
    case (k, v) => s"${q(k)}:$v"
  }.mkString("{", ",", "}")

  /** Wall clock in epoch milliseconds with sub-millisecond resolution,
    * on the same time base as listener event times. */
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  // ---------------------------------------------------------------- ops

  def queryOps(keys: Seq[String], out: Path, dataDir: String): Seq[Op] =
    keys.map { k =>
      val fn = SparkEntry.queries.getOrElse(k, sys.error(s"unknown query key $k"))
      // part files keep the result's row order when read back by name
      Op(k, moduleOf(k), s => fn(s, dataDir), noop,
        Some(df => df.write.mode("overwrite").parquet(out.resolve(k).toString)))
    }

  /** The paper's pipeline: landing -> raw -> trusted -> refined, audit,
    * upsert of a changeset, partitioned refined write. The audit step
    * leaves its rows in `audit`. */
  def medallionOps(dataDir: String, out: Path,
      audit: mutable.ArrayBuffer[Seq[Any]]): Seq[Op] = {
    val raw = out.resolve("raw").toString
    val trusted = out.resolve("trusted").toString
    val refined = out.resolve("refined").toString
    val rawSchema = Etl.rawSchema
    val trustedSchema = Medallion.trustedSchemaOf(rawSchema)
    def unit(s: SparkSession): DataFrame = s.emptyDataFrame
    def none(df: DataFrame): Unit = ()
    Seq(
      Op("landing", "pipeline",
        s => Landing.decodeText(Landing.unzipEntries(
          Landing.readBinary(s, s"$dataDir/landing/*.zip"))),
        df => df.select(col("text")).coalesce(1)
          .write.mode("overwrite").text(raw)),
      Op("raw_to_trusted", "pipeline",
        s => { Medallion.rawToTrusted(s, raw, trusted, rawSchema, "codigo"); unit(s) },
        none),
      Op("trusted_to_refined", "pipeline",
        s => { Medallion.trustedToRefined(s, trusted, refined, trustedSchema); unit(s) },
        none),
      Op("audit", "pipeline",
        s => Monitor.audit(Seq(
          (CsvIngest.read(s, trusted, trustedSchema, CsvIngest.trustedOptions),
            "trusted", "codigo", "descricao"),
          (s.read.parquet(refined), "refined", "codigo", "descricao"))),
        df => { audit.clear(); audit ++= df.collect().map(_.toSeq) }),
      Op("upsert", "pipeline",
        s => Medallion.upsert(s.read.parquet(refined),
          s.read.parquet(s"$dataDir/changes.parquet"), "codigo"),
        df => Sinks.writeParquet(df, out.resolve("upsert").toString)),
      Op("partitioned_write", "pipeline",
        s => s.read.parquet(refined),
        df => Sinks.writeParquet(df, out.resolve("partitioned").toString,
          Seq("segmento"))))
  }

  // ------------------------------------------------------------ tracing

  /** Records job spans and per-stage task statistics in memory, tagged
    * with the operation that was running (a local property). */
  final class Tracer extends SparkListener {
    val records = new ConcurrentLinkedQueue[String]()
    private val jobStart = mutable.Map[Int, (String, Long)]()
    private val stageTag = mutable.Map[Int, String]()
    private val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
    private val sums = mutable.Map[Int, Array[Long]]()
    private def tag(p: java.util.Properties): String =
      Option(p).flatMap(x => Option(x.getProperty(TagKey))).getOrElse("")

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = (tag(e.properties), e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (t, t0) =>
        records.add(json("kind" -> "job", "tag" -> t, "id" -> e.jobId,
          "start" -> t0, "end" -> e.time))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stageTag(e.stageInfo.stageId) = tag(e.properties)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val id = e.stageId
      taskMs.getOrElseUpdate(id, mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        val a = sums.getOrElseUpdate(id, new Array[Long](5))
        a(0) += m.shuffleReadMetrics.totalBytesRead
        a(1) += m.shuffleWriteMetrics.bytesWritten
        a(2) += m.diskBytesSpilled
        a(3) += m.inputMetrics.bytesRead
        a(4) += m.outputMetrics.bytesWritten
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val id = e.stageInfo.stageId
      val ts = taskMs.remove(id).getOrElse(mutable.ArrayBuffer[Long]()).sorted
      val a = sums.remove(id).getOrElse(new Array[Long](5))
      val med = if (ts.isEmpty) 0L else ts(ts.size / 2)
      records.add(json("kind" -> "stage", "tag" -> stageTag.remove(id).getOrElse(""),
        "id" -> id, "tasks" -> ts.size, "task_ms" -> ts.sum,
        "max_task_ms" -> ts.lastOption.getOrElse(0L), "median_task_ms" -> med,
        "shuffle_read" -> a(0), "shuffle_write" -> a(1), "spill" -> a(2),
        "input" -> a(3), "output" -> a(4)))
    }
  }

  val TagKey = "perfbench.tag"
  /** Every run times at least this many passes, so the tail percentile
    * (10 samples beyond it) lies well above the median on every
    * workload, and the pass count is the same from run to run. */
  val MinPasses = 5

  // ---------------------------------------------------------------- run

  private def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  private def procField(file: String, key: String): Long =
    try Files.readAllLines(Paths.get(file)).asScala
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Exception => -1L }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("modules") =>
      println((modules :+ ("SparkEntry" -> SparkEntry.queries.keySet)).map {
        case (m, ks) => s"${q(m)}:${ks.toSeq.sorted.map(q).mkString("[", ",", "]")}"
      }.mkString("{", ",", "}"))
    case Some("run") => run(args.drop(1).toIndexedSeq)
    case _ => sys.error("usage: Driver modules | Driver run <workload> <inputDir> " +
      "<runDir> <seconds> <trace> [key ...]")
  }

  def run(a: IndexedSeq[String]): Unit = {
    val Seq(workload, inputDir, runDirS, secondsS, traceS) = a.take(5)
    val keys = a.drop(5)
    val runDir = Paths.get(runDirS)
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val records = new ConcurrentLinkedQueue[String]()
    val out = runDir.resolve("out")
    val audit = mutable.ArrayBuffer[Seq[Any]]()
    val ops =
      if (workload == "medallion") medallionOps(inputDir, out, audit)
      else queryOps(keys, out, inputDir)
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime.toDouble

    // --- set-up starts at JVM start: session, then the warm pass below
    val spark = GraftSession.local(cpus)
    val tracer = new Tracer
    def drain(): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

    /** Runs one op; returns its latency. Records op / construct /
      * materialize spans. `phase` tags the spans and jobs. */
    def runOp(op: Op, phase: String, pass: Int, write: Boolean): Double = {
      val tag = s"$phase:$pass:${op.name}"
      spark.sparkContext.setLocalProperty(TagKey, tag)
      spark.sparkContext.setJobDescription(s"perfbench $tag")
      val t0 = nowMs()
      var ok = true
      var err = ""
      var t1 = t0
      try {
        val df = op.construct(spark)
        t1 = nowMs()
        (if (write) op.dump.getOrElse(op.materialize) else op.materialize)(df)
      } catch {
        case e: Throwable =>
          ok = false
          err = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
          System.err.println(s"[perfbench] $tag failed: $err")
      }
      val t2 = nowMs()
      spark.sparkContext.setLocalProperty(TagKey, null)
      spark.sparkContext.setJobDescription(null)
      records.add(json("kind" -> "op", "tag" -> tag, "phase" -> phase,
        "pass" -> pass, "op" -> op.name, "module" -> op.module,
        "start" -> t0, "construct_end" -> t1, "end" -> t2, "ok" -> ok,
        "error" -> err))
      (t2 - t0) / 1e3
    }

    def pass(phase: String, n: Int, write: Boolean): Double =
      ops.map { op =>
        release(spark)
        runOp(op, phase, n, write)
      }.sum

    pass("setup", 1, write = true)
    val setupS = (nowMs() - jvmStartMs) / 1e3
    release(spark)

    // --- timed passes. With tracing, the even passes are traced and the
    // odd ones around them are not, so the run also measures its own
    // tracing overhead.
    val wchar0 = procField("/proc/self/io", "wchar")
    val passes = mutable.ArrayBuffer[(Int, Boolean, Double)]()
    val tLoop = nowMs()
    var n = 0
    while (n < MinPasses || (nowMs() - tLoop) / 1e3 < seconds) {
      n += 1
      val traced = trace && n % 2 == 0
      if (traced) spark.sparkContext.addSparkListener(tracer)
      passes += ((n, traced, pass("timed", n, write = false)))
      if (traced) { drain(); spark.sparkContext.removeSparkListener(tracer) }
    }
    val wchar1 = procField("/proc/self/io", "wchar")
    val hwmKb = procField("/proc/self/status", "VmHWM")

    // --- native kernels over the documents and embeddings (traced runs only)
    val kernels =
      if (trace && workload == "queries") functionsBench(spark, inputDir)
      else Seq.empty
    release(spark)

    val passJson = passes.map { case (i, t, s) =>
      json("pass" -> i, "traced" -> t, "seconds" -> s) }.mkString("[", ",", "]")
    val kernelJson = kernels.map { case (k, rows, secs) =>
      json("name" -> k, "rows" -> rows, "seconds" -> secs) }.mkString("[", ",", "]")
    val auditJson = audit.map(r =>
      r.map {
        case s: String => q(s); case null => "null"; case v => v.toString
      }.mkString("[", ",", "]")).mkString("[", ",", "]")
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
      .map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(runDir.resolve("result.json"), json(
      "workload" -> workload,
      "cpus" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "setup_s" -> setupS,
      "passes" -> Raw(passJson),
      "wchar_timed" -> (wchar1 - wchar0),
      "peak_rss_kb" -> hwmKb,
      "kernels" -> Raw(kernelJson),
      "audit" -> Raw(auditJson),
      "oracle_sql" -> Raw(oracle),
      "ops" -> Raw(ops.map(o => json("name" -> o.name, "module" -> o.module))
        .mkString("[", ",", "]"))))
    records.addAll(tracer.records)
    Files.write(runDir.resolve("spans.jsonl"), records.asScala.toSeq.asJava)
    spark.stop()
  }

  /** rows/s of each native kernel applied over the documents and embeddings and
    * written to a noop sink; median of three timings. */
  def functionsBench(spark: SparkSession, dir: String): Seq[(String, Long, Double)] = {
    val reps = 40
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(split(col("text"), " ").as("toks"))
      .withColumn("r", explode(sequence(lit(1), lit(reps)))).drop("r").cache()
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("r", explode(sequence(lit(1), lit(reps)))).drop("r")
      .withColumn("s", expr("transform(v, x -> cast(round(x * 1000000) as bigint))"))
      .cache()
    val nDocs = docs.count()
    val nVecs = vecs.count()
    val cents = vecs.limit(16).collect().map(_.getSeq[Long](1)).toSeq
    val cases: Seq[(String, DataFrame, Long)] = Seq(
      ("minhash_gram_sig", docs.select(call_function("minhash_gram_sig", col("toks"), lit(3))), nDocs),
      ("word_gram_digests", docs.select(call_function("word_gram_digests", col("toks"), lit(3))), nDocs),
      ("simhash64", docs.select(call_function("simhash64", col("toks"))), nDocs),
      ("dot_product", vecs.select(call_function("dot_product", col("v"), col("v"))), nVecs),
      ("nearest_centroid", vecs.select(call_function("nearest_centroid", col("s"), typedlit(cents))), nVecs))
    val res = cases.map { case (name, df, rows) =>
      spark.sparkContext.setLocalProperty(TagKey, s"kernel:0:$name")
      noop(df)
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); noop(df); (System.nanoTime() - t0) / 1e9 }
      (name, rows, ts.sorted.apply(1))
    }
    spark.sparkContext.setLocalProperty(TagKey, null)
    docs.unpersist(blocking = true)
    vecs.unpersist(blocking = true)
    res
  }
}
