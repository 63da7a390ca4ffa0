package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** KMV (k-minimum-values) distinct-count sketch kernel (Bar-Yossef et
  * al. 2002; Beyer et al. 2007 "On Synopses for Distinct-Value
  * Estimation"): keep the k SMALLEST DISTINCT hash values seen; the
  * kth smallest estimates the distinct count as (k−1)·M / h_k for a
  * hash uniform on [0, M). Unlike HLL (q21's sketch), the KMV state
  * is a PURE ORDER STATISTIC of a deterministic hash — the sketch an
  * external engine replays EXACTLY with `ORDER BY h LIMIT k`, which is
  * what makes this one hash-checkable end to end, not just
  * error-bounded.
  *
  * Scale shape: bounded state (k longs) per group regardless of input
  * rows, and merge is a set-union-then-trim — associative and
  * commutative, so Spark runs it as a partial aggregate per map task
  * + one combine per group (ObjectHashAggregate): corpus rows never
  * shuffle, only k-sized sketches do. This is the custom
  * [[TypedImperativeAggregate]] path — the engine's extension point
  * for aggregates whose state is an object, not a fixed-width row.
  *
  * Returns struct(n_kept, kth): n_kept = min(k, #distinct hashes),
  * kth = largest kept hash. The estimator arithmetic (exact count
  * below k, (k−1)·M div kth at k) stays IN THE PLAN so the oracle
  * replays it relationally. NULL inputs are skipped; empty groups
  * yield n_kept = 0 with kth NULL-surrogate 0.
  */
case class KmvKth(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  require(k >= 2 && k <= 65536, s"k out of range: $k")

  override def children: Seq[Expression] = Seq(child)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"kmv_kth expects a BIGINT hash, got ${child.dataType.catalogString}")
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("n_kept", LongType, nullable = false),
    StructField("kth", LongType, nullable = false)))
  override def prettyName: String = "kmv_kth"

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  override def update(
      buffer: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      // admit only if it would rank among the k smallest — O(log k)
      if (buffer.size < k) buffer.add(h)
      else if (h < buffer.last) { if (buffer.add(h)) buffer.pollLast() }
    }
    buffer
  }

  override def merge(
      buffer: java.util.TreeSet[java.lang.Long],
      other: java.util.TreeSet[java.lang.Long])
      : java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    while (it.hasNext) {
      val h = it.next()
      if (buffer.size < k) buffer.add(h)
      else if (h < buffer.last) { if (buffer.add(h)) buffer.pollLast() }
    }
    buffer
  }

  override def eval(buffer: java.util.TreeSet[java.lang.Long]): Any =
    InternalRow(buffer.size.toLong,
      if (buffer.isEmpty) 0L else buffer.last.longValue())

  override def serialize(
      buffer: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buffer.size)
    bb.putInt(buffer.size)
    val it = buffer.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(
      bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val s = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { s.add(bb.getLong); i += 1 }
    s
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvKth =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvKth =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvKth =
    copy(child = newChildren.head)
}

/** KMV sketch materialized as its SORTED hash array (ascending), the
  * form set algebra needs: for sets A and B with k-minimum-value
  * sketches S_A and S_B over the SAME hash, the k smallest of
  * S_A ∪ S_B is EXACTLY the KMV sketch of A ∪ B (Beyer et al. 2007
  * §4: the union sketch is a deterministic function of the two
  * operand sketches), so union cardinality and — via the Jaccard
  * fraction |S_∪ ∩ S_A ∩ S_B| / k — intersection cardinality are
  * computable from two k-long arrays without re-reading either set.
  *
  * Same bounded TreeSet state and partial-aggregate shape as
  * [[KmvKth]]; only the eval surface differs (the full order
  * statistic instead of its tail). At 100 TB the per-group state is
  * still k longs and only sketches cross the exchange; downstream
  * set algebra runs on ≤ k-element arrays per row. Exactly
  * replayable: `ORDER BY h LIMIT k` per operand, then the identical
  * trim on the concatenation.
  */
case class KmvSketch(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  require(k >= 2 && k <= 65536, s"k out of range: $k")

  override def children: Seq[Expression] = Seq(child)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"kmv_sketch expects a BIGINT hash, got ${child.dataType.catalogString}")
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "kmv_sketch"

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  override def update(
      buffer: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      if (buffer.size < k) buffer.add(h)
      else if (h < buffer.last) { if (buffer.add(h)) buffer.pollLast() }
    }
    buffer
  }

  override def merge(
      buffer: java.util.TreeSet[java.lang.Long],
      other: java.util.TreeSet[java.lang.Long])
      : java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    while (it.hasNext) {
      val h = it.next()
      if (buffer.size < k) buffer.add(h)
      else if (h < buffer.last) { if (buffer.add(h)) buffer.pollLast() }
    }
    buffer
  }

  override def eval(buffer: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Long](buffer.size)
    val it = buffer.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def serialize(
      buffer: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buffer.size)
    bb.putInt(buffer.size)
    val it = buffer.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(
      bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val s = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { s.add(bb.getLong); i += 1 }
    s
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvSketch =
    copy(child = newChildren.head)
}

/** Bounded top-C per group: `top_c(score, id, payload, c)` keeps the
  * c best (score DESC, id ASC) entries — the ranking a `row_number()`
  * window over that order cut at c would emit — as an array of
  * struct(id, score, payload), best first. Scores order as Spark
  * orders doubles (NaN above every number, -0.0 = 0.0); rows with a
  * NULL score or id are skipped. The payload (any type) rides with its
  * entry, so a consumer of the survivors needs no join back to the
  * scanned rows.
  *
  * State is a heap of at most c entries whose head is the worst kept,
  * so update and merge are O(log c) per entry and the result is the
  * top c of the whole multiset whatever the merge order or
  * partitioning; a payload is copied only when its entry is admitted.
  * Spark runs it as a partial aggregate per map task ([[KmvKth]]'s
  * ObjectHashAggregate path): the exchange carries at most
  * partitions × groups × c entries, never the scored rows. */
case class TopC(
    score: Expression,
    id: Expression,
    payload: Expression,
    c: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.PriorityQueue[TopC.Entry]] {

  import TopC.Entry

  require(c >= 1 && c <= 1000000, s"top_c bound out of range: $c")

  override def children: Seq[Expression] = Seq(score, id, payload)
  override def checkInputDataTypes(): TypeCheckResult =
    if (score.dataType == DoubleType && id.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"top_c expects (DOUBLE score, BIGINT id), got " +
        s"${score.dataType.catalogString} and ${id.dataType.catalogString}")
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("payload", payload.dataType, payload.nullable))),
    containsNull = false)
  override def prettyName: String = "top_c"

  /** payload value → a standalone one-field UnsafeRow (serializable) */
  @transient private lazy val pack = UnsafeProjection.create(
    Array[Expression](BoundReference(0, payload.dataType, payload.nullable)))

  override def createAggregationBuffer(): java.util.PriorityQueue[Entry] =
    new java.util.PriorityQueue[Entry](TopC.WorstFirst)

  private def admits(buf: java.util.PriorityQueue[Entry], s: Double,
      i: Long): Boolean =
    buf.size < c || TopC.better(s, i, buf.peek())

  private def add(buf: java.util.PriorityQueue[Entry], e: Entry): Unit = {
    if (buf.size >= c) buf.poll()
    buf.add(e)
  }

  override def update(
      buffer: java.util.PriorityQueue[Entry],
      input: InternalRow): java.util.PriorityQueue[Entry] = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) {
      val (sd, il) = (s.asInstanceOf[Double], i.asInstanceOf[Long])
      if (admits(buffer, sd, il))
        add(buffer, Entry(sd, il, pack(InternalRow(payload.eval(input))).copy()))
    }
    buffer
  }

  override def merge(
      buffer: java.util.PriorityQueue[Entry],
      other: java.util.PriorityQueue[Entry])
      : java.util.PriorityQueue[Entry] = {
    val it = other.iterator()
    while (it.hasNext) {
      val e = it.next()
      if (admits(buffer, e.score, e.id)) add(buffer, e)
    }
    buffer
  }

  override def eval(buffer: java.util.PriorityQueue[Entry]): Any = {
    val kept = buffer.toArray(new Array[Entry](0))
    java.util.Arrays.sort(kept, TopC.WorstFirst.reversed())
    new org.apache.spark.sql.catalyst.util.GenericArrayData(kept.map(e =>
      InternalRow(e.id, e.score, e.row.get(0, payload.dataType))))
  }

  override def serialize(buffer: java.util.PriorityQueue[Entry]): Array[Byte] = {
    val rows = buffer.toArray(new Array[Entry](0))
    val bb = ByteBuffer.allocate(4 + rows.map(20 + _.row.getSizeInBytes).sum)
    bb.putInt(rows.length)
    rows.foreach { e =>
      bb.putDouble(e.score).putLong(e.id)
        .putInt(e.row.getSizeInBytes).put(e.row.getBytes)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[Entry] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val q = createAggregationBuffer()
    var i = 0
    while (i < n) {
      val (s, id, len) = (bb.getDouble, bb.getLong, bb.getInt)
      val b = new Array[Byte](len)
      bb.get(b)
      val row = new UnsafeRow(1)
      row.pointTo(b, len)
      q.add(Entry(s, id, row))
      i += 1
    }
    q
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopC =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopC =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopC =
    copy(score = newChildren(0), id = newChildren(1), payload = newChildren(2))
}

object TopC {
  /** `row`: the packed payload */
  final case class Entry(score: Double, id: Long, row: UnsafeRow)

  /** (score, id) ranks strictly above `e`: higher score, then smaller id */
  def better(score: Double, id: Long, e: Entry): Boolean = {
    val s = org.apache.spark.sql.catalyst.util.SQLOrderingUtil
      .compareDoubles(score, e.score)
    s > 0 || (s == 0 && id < e.id)
  }

  /** Ascending in rank quality: lower score first, then larger id. */
  val WorstFirst: java.util.Comparator[Entry] = (a: Entry, b: Entry) =>
    if (better(b.score, b.id, a)) -1 else if (better(a.score, a.id, b)) 1
    else 0
}
