package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, FloatType, IntegerType}

private[functions] object VectorInput {
  def isVector(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
    case _ => false
  }
  def isFloat(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  /** element read widening float→double (same value either way). */
  def get(a: ArrayData, i: Int, float: Boolean): Double =
    if (float) a.getFloat(i).toDouble else a.getDouble(i)
}

private[functions] trait VectorInputCheck { self: BinaryExpression =>
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e => VectorInput.isVector(e.dataType))
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<double|float> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }
}

/** Native dot product over two array<double> columns.
  *
  * The HOF formulation (`aggregate(zip_with(a, b, *), 0.0, +)`)
  * allocates an intermediate array and interprets two lambdas per row;
  * this expression is a single fused primitive loop, participates in
  * whole-stage codegen, and allocates nothing. It is the hot inner op
  * of every kNN / embedding-LSH plan (SURVEY §4's codegen-hot case).
  *
  * Arrays are assumed non-null-elemented and equal-length (embedding
  * columns); the shorter length wins if they differ.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with VectorInputCheck {

  override def dataType: DataType = DoubleType

  override def prettyName: String = "dot_product"

  @transient private lazy val lf = VectorInput.isFloat(left.dataType)
  @transient private lazy val rf = VectorInput.isFloat(right.dataType)

  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) {
      sum += VectorInput.get(a, i, lf) * VectorInput.get(b, i, rf); i += 1
    }
    sum
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dotExpr", this)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Native random-hyperplane LSH sign bits over an array<double>
  * embedding: bit p of the result is 1 iff dot(v, plane_p) > 0, for 48
  * fixed-seed Gaussian hyperplanes. One primitive double loop per row
  * replaces 48 separate literal-array dot-product expressions (which
  * bloat the plan and re-run per sign). Bands extract as
  * `(bits >> (band*4)) & 15` — plain integer arithmetic. */
case class HyperplaneBits(child: Expression) extends UnaryExpression {

  import HyperplaneBits._

  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorInput.isVector(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double|float>, got " +
        child.dataType.catalogString)

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def prettyName: String = "hyperplane_bits"

  @transient private lazy val cf = VectorInput.isFloat(child.dataType)

  def compute(input: ArrayData): Long = {
    val n = input.numElements()
    var bits = 0L
    var p = 0
    while (p < NumPlanes) {
      val plane = Planes(p)
      val d = math.min(n, plane.length)
      var dot = 0.0
      var i = 0
      while (i < d) { dot += VectorInput.get(input, i, cf) * plane(i); i += 1 }
      if (dot > 0) bits |= (1L << p)
      p += 1
    }
    bits
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hyperplaneExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBits =
    copy(child = newChild)
}

object HyperplaneBits {
  val NumPlanes = 48
  val Dim = 64
  /** Fixed-seed Gaussian hyperplanes — the engine-wide LSH family. */
  val Planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(NumPlanes)(Array.fill(Dim)(rnd.nextGaussian()))
  }
}

/** Native cosine similarity over two array<double> columns — fused
  * dot/norm/norm single pass (vs three separate array traversals when
  * composed from DotProduct). Returns NaN when either norm is zero,
  * matching the composed double arithmetic. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with VectorInputCheck {

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_sim"

  @transient private lazy val lf = VectorInput.isFloat(left.dataType)
  @transient private lazy val rf = VectorInput.isFloat(right.dataType)

  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = VectorInput.get(a, i, lf); val yi = VectorInput.get(b, i, rf)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cosExpr", this)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Sign-bit binary quantization of a 32-element slice of an embedding:
  * bit i of the result is 1 iff v[offset + i] >= 0 (missing elements
  * read as bit 0). Two calls (offset 0 and 32) pack a 64-dim float
  * vector into two BIGINT halves — a 16× size cut (8 B of codes vs
  * 256 B of floats) whose Hamming distance approximates angular
  * distance (Charikar's SimHash bound), computable with two XOR +
  * popcount ops instead of 64 float multiplies. Values stay in
  * [0, 2^32), so the packing is exactly replayable in standard SQL
  * integer arithmetic (no sign-bit overflow anywhere). */
case class SignPack32(child: Expression, offset: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorInput.isVector(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double|float>, got " +
        child.dataType.catalogString)

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def prettyName: String = "sign_pack32"

  @transient private lazy val f = VectorInput.isFloat(child.dataType)

  def compute(a: ArrayData): Long = {
    val n = a.numElements()
    var bits = 0L
    var i = 0
    while (i < 32) {
      val j = offset + i
      if (j < n && VectorInput.get(a, j, f) >= 0) bits |= (1L << i)
      i += 1
    }
    bits
  }

  override protected def nullSafeEval(a: Any): Any =
    compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("signPackExpr", this)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): SignPack32 =
    copy(child = newChild)
}

/** Johnson–Lindenstrauss random projection with a deterministic ±1
  * (Achlioptas) matrix: out[j] = Σ_d sign(d, j)·⌊x_d·1e6⌋ for
  * [[RandProject.OutDim]] output dimensions, where sign is a pure
  * function of (d, j) — the same engine-independent multiplicative
  * hash the shard/sampling operators use — so an external SQL engine
  * replays the whole projection with integer arithmetic. Inputs are
  * quantized to 1e-6 fixed point BEFORE the sum, making every output
  * an exact BIGINT in any partition order (the emb_centroids
  * contract); magnitudes stay ≤ Dim·|x|·1e6 ≪ 2^63. One fused
  * primitive loop per row in whole-stage codegen — the HOF
  * formulation would interpret Dim·OutDim lambda calls per row, and a
  * posexplode formulation would shuffle Dim·OutDim rows per vector. */
case class RandProject(child: Expression) extends UnaryExpression {

  import RandProject._

  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorInput.isVector(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double|float>, got " +
        child.dataType.catalogString)

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def prettyName: String = "rand_project"

  @transient private lazy val f = VectorInput.isFloat(child.dataType)

  def compute(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Long](OutDim)
    var d = 0
    while (d < n) {
      val q = math.floor(VectorInput.get(a, d, f) * 1e6).toLong
      var j = 0
      while (j < OutDim) {
        if (sign(d, j)) out(j) += q else out(j) -= q
        j += 1
      }
      d += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def nullSafeEval(a: Any): Any =
    compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("randProjExpr", this)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): RandProject =
    copy(child = newChild)
}

object RandProject {
  val OutDim = 16
  /** true ⇒ +1 — replayed in SQL as
    * `((d*100003 + j) % 1000003 * 2654435761) % 2 = 0`. */
  def sign(d: Int, j: Int): Boolean =
    (d.toLong * 100003L + j) % 1000003L * 2654435761L % 2L == 0L
}

/** Flattened upper-triangle outer product x·xᵀ (diagonal included,
  * row-major), with the raw vector APPENDED: positions
  * [0, d(d+1)/2) hold x_i·x_j for i ≤ j, positions [d(d+1)/2,
  * d(d+1)/2 + d) hold x itself. One posexplode + sum over this array
  * accumulates the Gram matrix AND the per-dimension sums in a single
  * distributed pass — exactly the sufficient statistics (Σxxᵀ, Σx, n)
  * a covariance/PCA pass needs, so the driver can run the whole
  * eigensolve locally on a Dim×Dim matrix instead of paying one
  * cluster round-trip per power-iteration step. A fused primitive
  * loop in whole-stage codegen; d(d+3)/2 doubles per row (2144 at
  * d = 64). */
case class OuterUpper(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorInput.isVector(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double|float>, got " +
        child.dataType.catalogString)

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "outer_upper"

  @transient private lazy val f = VectorInput.isFloat(child.dataType)

  def compute(a: ArrayData): ArrayData = {
    val d = a.numElements()
    val out = new Array[Double](d * (d + 1) / 2 + d)
    var k = 0
    var i = 0
    while (i < d) {
      val xi = VectorInput.get(a, i, f)
      var j = i
      while (j < d) {
        out(k) = xi * VectorInput.get(a, j, f); j += 1; k += 1
      }
      i += 1
    }
    i = 0
    while (i < d) { out(k) = VectorInput.get(a, i, f); k += 1; i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def nullSafeEval(a: Any): Any =
    compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("outerExpr", this)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): OuterUpper =
    copy(child = newChild)
}

/** Nearest centroid under squared L2 distance in shifted fixed-point
  * space — the assignment step of Lloyd's k-means. Left child is the
  * quantized vector (array<bigint>, values = ⌊x·1e6⌋ + shift), right
  * child the K×D centroid table as a FOLDABLE array<array<bigint>>
  * literal (K·D longs embedded in the plan — the broadcast-codebook
  * pattern at literal scale; re-planned per Lloyd iteration by the
  * driver, exactly like emb_pq's codebook). Distances are exact
  * BIGINTs (terms ≤ (4e6)²·D ≪ 2^63), ties break to the LOWEST
  * centroid index by a strict `<` scan in k order, so the result is
  * bit-reproducible at any parallelism and replayable with
  * ROW_NUMBER(ORDER BY dist, k) in standard SQL. One fused primitive
  * K·D loop per row inside whole-stage codegen. */
case class NearestCentroid(left: Expression, right: Expression)
    extends BinaryExpression {

  import org.apache.spark.sql.types.{LongType, StructField, StructType}

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType,
      right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(ArrayType(LongType, _), _))
        if right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<bigint>, foldable " +
        s"array<array<bigint>>), got ${left.dataType.catalogString} and " +
        s"${right.dataType.catalogString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("cluster", LongType, nullable = false),
    StructField("dist2_fp", LongType, nullable = false)))

  override def prettyName: String = "nearest_centroid"

  @transient private lazy val cents: Array[Array[Long]] = {
    val arr = right.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(arr.numElements()) { k =>
      arr.getArray(k).toLongArray()
    }
  }

  def compute(a: ArrayData): Any = {
    val n = a.numElements()
    var best = -1
    var bestDist = Long.MaxValue
    var k = 0
    while (k < cents.length) {
      val c = cents(k)
      // a dimension mismatch must fail loudly, not rank on a partial
      // distance: truncating to min(n, |c|) yields a plausible but
      // wrong assignment that silently corrupts every downstream stage
      if (c.length != n) return null
      var dist = 0L
      var i = 0
      while (i < n) {
        val diff = a.getLong(i) - c(i)
        dist += diff * diff
        i += 1
      }
      if (dist < bestDist) { bestDist = dist; best = k }
      k += 1
    }
    if (best < 0) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](best.toLong, bestDist))
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestExpr", this)
    nullSafeCodeGen(ctx, ev, (a, _) =>
      s"""${ev.value} = (org.apache.spark.sql.catalyst.InternalRow)
         |  $ref.compute($a);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroid =
    copy(left = newLeft, right = newRight)
}

/** Foldable lookup-table literals of the compressed-domain ADC kernels
  * ([[AdcScan]], [[AdcScanCoarse]], [[PqDecode]]), decoded once per
  * expression instance. A packed PQ code is BINARY(M): byte j is the
  * vector's dense slot within subspace j's codebook. */
private[functions] object Adc {

  /** `array<array<array<double>>>` [T][M][K_j] → nested primitive arrays.
    * Each subspace row holds exactly its live slots, so a slot a Lloyd
    * pass dropped is simply out of range. */
  def tables(e: Expression): Array[Array[Array[Double]]] = {
    val ts = e.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ts.numElements()) { t =>
      val ms = ts.getArray(t)
      Array.tabulate(ms.numElements())(j => ms.getArray(j).toDoubleArray())
    }
  }

  def isTables(dt: DataType): Boolean = dt match {
    case ArrayType(ArrayType(ArrayType(DoubleType, _), _), _) => true
    case _ => false
  }

  /** The code's slot in subspace j, refusing a code that does not fit
    * the table: a wrong code width or a slot past the subspace's live
    * entries means a corrupt or foreign store — never a silent read. */
  def slot(codes: Array[Byte], j: Int, live: Int): Int = {
    val s = codes(j) & 0xff
    if (s >= live) throw new IllegalStateException(
      s"ADC code points at absent slot $s of subspace $j (which holds " +
        s"$live) — corrupt PQ store")
    s
  }

  def requireWidth(codes: Array[Byte], m: Int): Unit =
    if (codes.length != m) throw new IllegalStateException(
      s"${codes.length}-byte PQ code against an M=$m lookup table — " +
        "corrupt or foreign PQ store")

  /** out(t) = Σ_j tables(t)(j)(codes(j)), summed in subspace order. */
  def scan(codes: Array[Byte], tabs: Array[Array[Array[Double]]]): Array[Double] = {
    val out = new Array[Double](tabs.length)
    var t = 0
    while (t < tabs.length) {
      val tab = tabs(t)
      requireWidth(codes, tab.length)
      var s = 0.0
      var j = 0
      while (j < tab.length) { s += tab(j)(slot(codes, j, tab(j).length)); j += 1 }
      out(t) = s
      t += 1
    }
    out
  }
}

/** Compressed-domain ADC scan (Jégou et al. 2011's asymmetric distance
  * computation): `adc_scan(codes, lut)` sums, for each of the T tables
  * of a foldable [T][M][K_j] lookup table, the entry each of the
  * vector's M code bytes selects. With one table per query holding
  * that query's partial dots against every subspace centroid, each sum
  * is the query's inner product with the vector's reconstruction; a
  * table of squared centroid norms yields the reconstruction's squared
  * norm in the same pass.
  *
  * One primitive loop over the packed row: no corpus row is multiplied
  * or shuffled. The table is a plan literal, shipped once per stage
  * with the task binary; its size is T·M·K doubles, independent of the
  * corpus. A code byte past its subspace's live slots, or a code of
  * the wrong width, throws. */
case class AdcScan(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && Adc.isTables(right.dataType) &&
        right.foldable) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (binary codes, foldable " +
        "array<array<array<double>>> lookup table), got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "adc_scan"

  @transient private lazy val tabs = Adc.tables(right)

  def compute(codes: Array[Byte]): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(Adc.scan(codes, tabs))

  override protected def nullSafeEval(c: Any, t: Any): Any =
    compute(c.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("adcScan", this)
    nullSafeCodeGen(ctx, ev, (c, _) => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcScan =
    copy(left = newLeft, right = newRight)
}

/** IVF-PQ form of [[AdcScan]]: `adc_scan(codes, lut, cell, coarse)`
  * adds the coarse term of the vector's IVF cell. `cell` is the cell's
  * dense slot and `coarse` a foldable [C][T] table of per-table coarse
  * terms (the query-to-cell dots); a NULL entry means table t does not
  * probe that cell, and the result's element t is then NULL, so the
  * caller drops the pair without scoring it further. A cell slot
  * outside the table throws: the store indexes a cell the serving
  * codebook does not have. */
case class AdcScanCoarse(codes: Expression, lut: Expression,
    cell: Expression, coarse: Expression) extends QuaternaryExpression {

  override def first: Expression = codes
  override def second: Expression = lut
  override def third: Expression = cell
  override def fourth: Expression = coarse

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = codes.dataType == BinaryType && Adc.isTables(lut.dataType) &&
      lut.foldable && cell.dataType == IntegerType && coarse.foldable &&
      (coarse.dataType match {
        case ArrayType(ArrayType(DoubleType, _), _) => true
        case _ => false
      })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (binary codes, foldable lookup table, int " +
        "cell slot, foldable array<array<double>> coarse table), got " +
        children.map(_.dataType.catalogString).mkString(", "))
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def prettyName: String = "adc_scan"

  @transient private lazy val tabs = Adc.tables(lut)

  /** coarse(c)(t); null = table t does not probe cell c */
  @transient private lazy val terms: Array[Array[java.lang.Double]] = {
    val cs = coarse.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(cs.numElements()) { c =>
      val vs = cs.getArray(c)
      Array.tabulate(vs.numElements())(t =>
        if (vs.isNullAt(t)) null else java.lang.Double.valueOf(vs.getDouble(t)))
    }
  }

  def compute(c: Array[Byte], slot: Int): ArrayData = {
    if (slot < 0 || slot >= terms.length) throw new IllegalStateException(
      s"IVF cell slot $slot is absent from the ${terms.length}-cell " +
        "coarse table — corrupt IVF-PQ store")
    val sums = Adc.scan(c, tabs)
    val ct = terms(slot)
    val out = new Array[Any](sums.length)
    var t = 0
    while (t < sums.length) {
      if (ct(t) != null) out(t) = ct(t).doubleValue + sums(t)
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(c: Any, l: Any, cl: Any, co: Any): Any =
    compute(c.asInstanceOf[Array[Byte]], cl.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("adcScanCoarse", this)
    nullSafeCodeGen(ctx, ev, (c, _, cl, _) =>
      s"${ev.value} = $ref.compute($c, $cl);")
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): AdcScanCoarse =
    copy(codes = newFirst, lut = newSecond, cell = newThird,
      coarse = newFourth)
}

/** `pq_decode(codes, book)`: the reconstruction a packed PQ code
  * stands for — subspace j's centroid at slot codes[j], concatenated in
  * subspace order. `book` is the foldable [M][K_j][w_j] codebook. This
  * is the decode path the ADC identity certificate compares the table
  * sum against; it shares no arithmetic with [[AdcScan]]. Same
  * refusals as the scan. */
case class PqDecode(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && Adc.isTables(right.dataType) &&
        right.foldable) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (binary codes, foldable " +
        "array<array<array<double>>> codebook), got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "pq_decode"

  @transient private lazy val book = Adc.tables(right)

  def compute(codes: Array[Byte]): ArrayData = {
    Adc.requireWidth(codes, book.length)
    val cents = Array.tabulate(book.length) { j =>
      book(j)(Adc.slot(codes, j, book(j).length))
    }
    UnsafeArrayData.fromPrimitiveArray(Array.concat(cents.toIndexedSeq: _*))
  }

  override protected def nullSafeEval(c: Any, b: Any): Any =
    compute(c.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqDecode", this)
    nullSafeCodeGen(ctx, ev, (c, _) => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqDecode =
    copy(left = newLeft, right = newRight)
}

/** A [M][K_j][w_j] PQ codebook — subspace j's centroids in slot
  * order — with every centroid's norm: parsed once per expression
  * instance from the foldable codebook of the encode kernels
  * ([[PqEncode]], [[PqAssign]], [[PqLloyd]]), and built on the driver
  * from the IVF cells, whose [[probe]] lists are the query side of the
  * same order. A vector's subspace j is its slice
  * [Σ_{i<j} w_i, Σ_{i≤j} w_i). */
private[graft] final class PqCodebook(val cents: Array[Array[Array[Double]]]) {
  val m: Int = cents.length
  val widths: Array[Int] = cents.map(cs => if (cs.isEmpty) 0 else cs(0).length)
  val offsets: Array[Int] = widths.scanLeft(0)(_ + _)
  def dim: Int = offsets(m)
  private val nrm = cents.map(_.map(c => math.sqrt(c.map(x => x * x)
    .foldLeft(0.0)(_ + _))))

  /** Why the codebook cannot encode with at most `maxSlots` slots per
    * subspace, or None: no subspace, an empty subspace (it could not
    * assign its slice anywhere), ragged centroid widths, or more
    * centroids than a code can address. */
  def defect(maxSlots: Int): Option[String] =
    if (m == 0) Some("the PQ codebook has no subspace")
    else cents.indices.collectFirst {
      case j if cents(j).isEmpty => s"subspace $j of the PQ codebook is empty"
      case j if widths(j) == 0 || cents(j).exists(_.length != widths(j)) =>
        s"subspace $j of the PQ codebook has ragged or empty centroids"
      case j if cents(j).length > maxSlots =>
        s"subspace $j holds ${cents(j).length} centroids; a one-byte code " +
          s"addresses at most $maxSlots (K ≤ $maxSlots)"
    }

  /** The order every nearest-centroid choice uses: (a, slot sa) ranks
    * before (b, slot sb) when cosine a is greater as Spark orders
    * doubles (NaN above every number, -0.0 = 0.0), then on the smaller
    * slot. */
  private def before(a: Double, sa: Int, b: Double, sb: Int): Boolean = {
    val c = org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(a, b)
    c > 0 || c == 0 && sa < sb
  }

  /** The norm of x's subspace-j slice. */
  private def sliceNorm(x: Array[Double], j: Int): Double = {
    var nv = 0.0
    var i = offsets(j)
    while (i < offsets(j + 1)) { nv += x(i) * x(i); i += 1 }
    math.sqrt(nv)
  }

  /** The cosine of x's subspace-j slice (norm vn) with the centroid at
    * slot s. A zero-norm side scores -2.0 (Similarity.safeCos). Dots
    * and norms are DotProduct's sequential double loops, so the result
    * equals the relational cosine bit for bit. */
  private def cosine(x: Array[Double], vn: Double, j: Int, s: Int): Double = {
    val (c, cn) = (cents(j)(s), nrm(j)(s))
    if (vn == 0 || cn == 0) -2.0
    else {
      val off = offsets(j)
      var d = 0.0
      var i = 0
      while (i < c.length) { d += x(off + i) * c(i); i += 1 }
      d / (vn * cn)
    }
  }

  private def requireWidth(n: Int): Unit =
    if (n != dim) throw new IllegalStateException(
      s"$n-dim vector against a $dim-dim PQ codebook")

  /** Per subspace j, the slot of the centroid nearest v's slice and its
    * cosine, written to slots(j) / sims(j), in the [[before]] order. A
    * vector whose width is not the codebook's is refused. */
  def assign(v: ArrayData, f: Boolean, slots: Array[Int],
      sims: Array[Double]): Unit = {
    requireWidth(v.numElements())
    val x = Array.tabulate(dim)(VectorInput.get(v, _, f))
    var j = 0
    while (j < m) {
      val vn = sliceNorm(x, j)
      var best = 0
      var bestSim = 0.0
      var s = 0
      while (s < cents(j).length) {
        val sim = cosine(x, vn, j, s)
        if (s == 0 || before(sim, s, bestSim, best)) { best = s; bestSim = sim }
        s += 1
      }
      slots(j) = best
      sims(j) = bestSim
      j += 1
    }
  }

  /** An IVF query's probe list: the `n` slots of a one-subspace
    * codebook (the coarse cells) nearest x, nearest first, in the
    * [[before]] order — so its head is the slot [[assign]] picks. */
  def probe(x: Array[Double], n: Int): Array[Int] = {
    require(m == 1, s"probe lists need a one-subspace codebook, got M = $m")
    requireWidth(x.length)
    val vn = sliceNorm(x, 0)
    val sims = Array.tabulate(cents(0).length)(cosine(x, vn, 0, _))
    sims.indices.sortWith((a, b) => before(sims(a), a, sims(b), b))
      .take(n).toArray
  }
}

/** Shared analysis of the (vector, foldable codebook) kernels. */
private[functions] trait PqBookInput { self: Expression =>
  def vector: Expression
  def codebook: Expression
  /** the most slots per subspace the output can address */
  def maxSlots: Int = Int.MaxValue

  @transient lazy val book: PqCodebook = new PqCodebook(Adc.tables(codebook))
  @transient lazy val floatInput: Boolean = VectorInput.isFloat(vector.dataType)

  override def checkInputDataTypes(): TypeCheckResult =
    if (!VectorInput.isVector(vector.dataType) ||
        !Adc.isTables(codebook.dataType) || !codebook.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<double|float> vector, foldable " +
          "array<array<array<double>>> codebook), got " +
          s"${vector.dataType.catalogString} and " +
          codebook.dataType.catalogString)
    else book.defect(maxSlots).fold[TypeCheckResult](
      TypeCheckResult.TypeCheckSuccess)(TypeCheckResult.TypeCheckFailure(_))
}

/** `pq_encode(v, book)`: the packed PQ code of v — BINARY(M), byte j
  * the slot of the centroid nearest v's subspace-j slice
  * ([[PqCodebook.assign]]'s order: cosine descending, then the smaller
  * slot). This is the code `adc_scan` and `pq_decode` read. One fused
  * M·K·w loop per row; a codebook with more than 256 slots in a
  * subspace, or an empty subspace, is refused at analysis. */
case class PqEncode(left: Expression, right: Expression)
    extends BinaryExpression with PqBookInput {

  override def vector: Expression = left
  override def codebook: Expression = right
  override def maxSlots: Int = 256
  override def dataType: DataType = BinaryType
  override def prettyName: String = "pq_encode"

  def compute(v: ArrayData): Array[Byte] = {
    val slots = new Array[Int](book.m)
    book.assign(v, floatInput, slots, new Array[Double](book.m))
    slots.map(_.toByte)
  }

  override protected def nullSafeEval(v: Any, b: Any): Any =
    compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncode", this)
    nullSafeCodeGen(ctx, ev, (v, _) => s"${ev.value} = $ref.compute($v);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncode =
    copy(left = newLeft, right = newRight)
}

/** `pq_assign(v, book)`: per subspace, struct(slot, sim) — the nearest
  * slot and its cosine, in [[PqEncode]]'s order. The unpacked form:
  * an IVF coarse assignment (M = 1, any number of cells) reads
  * element 1's slot, and the PQ certificates read the kernel's own
  * best cosine to check against an independently recomputed one. */
case class PqAssign(left: Expression, right: Expression)
    extends BinaryExpression with PqBookInput {

  import org.apache.spark.sql.types.{StructField, StructType}

  override def vector: Expression = left
  override def codebook: Expression = right
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("slot", IntegerType, nullable = false),
    StructField("sim", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "pq_assign"

  def compute(v: ArrayData): ArrayData = {
    val (slots, sims) = (new Array[Int](book.m), new Array[Double](book.m))
    book.assign(v, floatInput, slots, sims)
    new GenericArrayData(Array.tabulate[Any](book.m)(j =>
      org.apache.spark.sql.catalyst.InternalRow(slots(j), sims(j))))
  }

  override protected def nullSafeEval(v: Any, b: Any): Any =
    compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAssign", this)
    nullSafeCodeGen(ctx, ev, (v, _) => s"${ev.value} = $ref.compute($v);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAssign =
    copy(left = newLeft, right = newRight)
}
