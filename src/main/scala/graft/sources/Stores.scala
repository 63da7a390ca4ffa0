package graft.sources

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** What the build-once / serve-many scratch stores share — the ANN
  * index, the LSH band store and the pHash store: their place under
  * [[Tables.scratchRoot]], publishing, the one-row geometry sidecar and
  * the ceiling refusals. Every file operation goes through the path's
  * Hadoop `FileSystem`, so the root may be any Hadoop URI. */
object Stores {

  /** A store family: its directory under the scratch root, and the
    * name its refusals carry. */
  final case class Kind(root: String, label: String)

  /** v3: one packed code row per vector; v2 roots are never read. */
  val Ann = Kind("ann_index_v3", "ANN index")
  val Lsh = Kind("lsh_store", "LSH store")
  val Phash = Kind("phash_store", "pHash store")

  /** `scratchRoot/<kind>/<dir>/<leaf>`, with `dir` (a dataset
    * directory) flattened to one path-safe segment. Callers put the
    * store's geometry in `leaf`, so a geometry change can never serve
    * a stale store. */
  def path(kind: Kind, dir: String, leaf: String): String =
    s"${Tables.scratchRoot}/${kind.root}/" +
      s"${dir.replaceAll("[^A-Za-z0-9._-]", "_")}/$leaf"

  /** Written last into a finished build: a store without it is a
    * corpse of a killed build. */
  private[graft] val Marker = "_GRAFT_INDEX_OK"

  /** Run `build` into a unique sibling of `path` and publish it there,
    * unless a COMPLETE store (marker present) sits at `path` — then a
    * serve costs one `exists`. Builds are deterministic, so losing a
    * race is fine. The FileSystem comes from the active session. */
  def ensure(path: String)(build: String => Unit): String = {
    val dst = new Path(path)
    val fs = dst.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(dst, Marker))) {
      val tmp = new Path(
        s"$path.build-${ProcessHandle.current().pid()}-${System.nanoTime()}")
      build(tmp.toString)
      // an empty marker needs no checksum sidecar: create it on the raw
      // file system, so the store's layout is the same on every scheme
      val raw = fs match {
        case c: ChecksumFileSystem => c.getRawFileSystem
        case f => f
      }
      raw.create(new Path(tmp, Marker), false).close()
      publish(fs, tmp, dst)
    }
    path
  }

  /** `rename` onto a NON-EMPTY directory moves the source inside it
    * (Hadoop local and HDFS), so the target is checked first: keep a
    * complete store (another builder won), replace a markerless
    * corpse. A builder publishing between the check and the rename
    * nests this build in its store; that copy is removed. */
  private def publish(fs: FileSystem, tmp: Path, dst: Path): Unit =
    if (fs.exists(new Path(dst, Marker))) fs.delete(tmp, true)
    else {
      if (fs.exists(dst)) fs.delete(dst, true)
      fs.rename(tmp, dst)
      val nested = new Path(dst, tmp.getName)
      if (fs.exists(nested)) fs.delete(nested, true)
    }

  /** Write the store's one-row geometry sidecar, `values` in `ddl`
    * order. Every geometry column is non-null. */
  def writeGeometry(spark: SparkSession, path: String, ddl: String,
      values: Any*): Unit = {
    val schema = StructType(
      StructType.fromDDL(ddl).map(_.copy(nullable = false)))
    spark.createDataFrame(java.util.List.of(Row(values: _*)), schema)
      .write.mode("overwrite").parquet(s"$path/geometry")
  }

  /** A store frame, read with its write schema: inferring it costs a
    * footer-reading job per frame on every serve. */
  def read(spark: SparkSession, path: String, ddl: String): DataFrame =
    spark.read.schema(ddl).parquet(path)

  /** The store's geometry sidecar row (`ddl` may name a subset of its
    * columns); anything but exactly one row is a corrupt store. */
  def geometry(spark: SparkSession, kind: Kind, path: String,
      ddl: String): Row =
    read(spark, s"$path/geometry", ddl).collect() match {
      case Array(row) => row
      case rows => throw new IllegalStateException(
        s"${kind.label} $path: geometry sidecar has ${rows.length} " +
          "rows, expected exactly 1 — corrupt store")
    }

  /** Build-time refusal: a ceiling pinned below the history in hand. */
  def checkBuildCeiling(kind: Kind, path: String, histCount: Long,
      ceiling: Long): Unit =
    require(histCount <= ceiling,
      s"${kind.label} $path: history count $histCount exceeds the " +
        s"pinned corpus ceiling $ceiling — pin the ceiling at planned " +
        "capacity, not below the data you already have")

  /** Serve-time refusal: the live corpus outgrew the ceiling the
    * store's geometry was derived from, so that geometry no longer
    * holds its recall / occupancy bound. */
  def checkServeCeiling(kind: Kind, path: String, live: Long,
      ceiling: Long): Unit =
    require(live <= ceiling,
      s"${kind.label} $path: live corpus $live exceeds the pinned " +
        s"ceiling $ceiling — the build-time geometry no longer holds; " +
        "rebuild the store with a larger ceiling (rebuilding history " +
        "is REQUIRED past the ceiling, by design never implicit)")
}
