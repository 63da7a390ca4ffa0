package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Similarity}
import graft.sources.{Stores, Tables}

/** The shared store protocol: publish through the Hadoop FileSystem
  * (any scheme), never rebuild a complete store, replace a corpse, and
  * keep the winner of a build race. */
class StoresSpec extends GraftSpec {

  /** A fresh local dir; touches the session, which [[Stores.ensure]]
    * resolves its FileSystem through. */
  private def tempRoot(prefix: String): String = {
    spark
    Files.createTempDirectory(Paths.get("target"), prefix)
      .toAbsolutePath.toString
  }

  /** Relative paths of every file and directory under a local `dir`. */
  private def layout(dir: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.map(p => root.relativize(p).toString)
      .filter(_.nonEmpty).toSet
    finally walk.close()
  }

  private def builds(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).toSeq.flatten
      .filter(_.contains(".build-"))

  test("Stores.ensure: a complete store is never rebuilt and a " +
      "markerless corpse is replaced") {
    val root = tempRoot("stores_ensure")
    val path = s"$root/store"
    Files.createDirectories(Paths.get(path, "leftover"))
    var runs = 0
    def build(tmp: String): Unit = {
      runs += 1
      spark.range(3).write.parquet(s"$tmp/frame")
    }
    assert(Stores.ensure(path)(build) == path)
    assert(runs == 1)
    assert(layout(path).contains(Stores.Marker) &&
      !layout(path).contains("leftover"), s"corpse kept: ${layout(path)}")
    val marker = Paths.get(path, Stores.Marker)
    val mtime = Files.getLastModifiedTime(marker)
    Stores.ensure(path)(build)
    assert(runs == 1, "a complete store was rebuilt")
    assert(Files.getLastModifiedTime(marker) == mtime)
    assert(builds(root).isEmpty, s"build dirs left: ${builds(root)}")
  }

  test("Stores.ensure: a store published during the build leaves " +
      "exactly one complete store and no nested build directory") {
    // Hadoop's rename onto a NON-EMPTY directory moves the source
    // inside it; a commit that renamed without checking the target
    // would nest this build inside the winner's store
    val root = tempRoot("stores_race")
    val path = s"$root/store"
    Stores.ensure(path) { tmp =>
      spark.range(3).write.parquet(s"$tmp/frame")
      Stores.ensure(path)(winner => spark.range(5).write
        .parquet(s"$winner/frame"))
    }
    assert(layout(path).filter(!_.contains("/")) ==
      Set(Stores.Marker, "frame"), s"store: ${layout(path)}")
    assert(layout(path).forall(!_.contains(".build-")),
      s"nested build dir: ${layout(path)}")
    assert(builds(root).isEmpty, s"build dirs left: ${builds(root)}")
    assert(spark.read.parquet(s"$path/frame").count() == 5,
      "the winner's store was not kept")
  }

  test("all four stores build and serve through a non-file " +
      "FileSystem scheme") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[SchemeLocalFs].getName)
    val root = tempRoot("stores_graftfs")
    val uri = s"graftfs://$root"
    def published(leaf: String): Unit = {
      assert(Files.exists(Paths.get(root, leaf, Stores.Marker)),
        s"$leaf: no marker")
      assert(!Files.exists(Paths.get(root, leaf, s".${Stores.Marker}.crc")),
        s"$leaf: marker has a checksum sidecar")
    }
    // ANN: the serve faces ensure their own index
    val vecs = Tables.load(spark, sf, "embeddings")
    val q = col("vec_id") < 10
    assert(Similarity.knnPqServe(vecs, q, s"$uri/pq").collect().toSeq ==
      Similarity.knnPqAdcExact(vecs, q).collect().toSeq)
    assert(Similarity.knnIvfPqServe(vecs, q, s"$uri/ivfpq").collect()
      .toSeq == Similarity.knnIvfPqExact(vecs, q).collect().toSeq)
    // LSH and pHash: the registry keys' split, ceiling and build
    val docs = Tables.load(spark, sf, "documents")
    val n = docs.count()
    val history = docs.filter(col("doc_id") % 3 =!= 0)
    Stores.ensure(s"$uri/lsh")(tmp =>
      Dedup.buildLshStore(history, tmp, 4L * n))
    assert(Dedup.incrementalNearServe(history,
        docs.filter(col("doc_id") % 3 === 0), s"$uri/lsh")
      .collect().toSeq ==
      Dedup.queries("dedup_incr_near_serve")(spark, sf).collect().toSeq)
    val thumbs = Multimodal.thumbTable(docs, famMod = math.max(50L, n / 10))
    Stores.ensure(s"$uri/phash")(tmp => Multimodal.buildPhashStore(
      thumbs.filter(col("doc_id") % 3 =!= 0), tmp, 4L * n))
    assert(Multimodal.phashServe(thumbs.filter(col("doc_id") % 3 === 0),
        s"$uri/phash").collect().toSeq ==
      Multimodal.queries("mm_phash_serve")(spark, sf).collect().toSeq)
    Seq("pq", "ivfpq", "lsh", "phash").foreach(published)
    assert(builds(root).isEmpty, s"build dirs left: ${builds(root)}")
  }
}
