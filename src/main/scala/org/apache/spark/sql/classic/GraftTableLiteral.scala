package org.apache.spark.sql.classic

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, UnsafeProjection}
import org.apache.spark.sql.types.{ArrayType, DataType}

/** Access shim for `ExpressionUtils.column` (which is `private[sql]`):
  * a Column over a literal array whose value is held in
  * `UnsafeArrayData` form.
  *
  * Why this exists: the ADC scan's driver-built lookup tables (Q·M·K
  * partial dots, codebooks, query vectors) ride the plan as literals.
  * A literal built from a Scala collection (`typedlit`) holds
  * `GenericArrayData`, whose `toString` renders every element, and
  * Spark renders expression and plan strings many times per query —
  * auto-generated column names during analysis, and the plan
  * description of every SQL execution and adaptive re-plan event.
  * Profiled on the PQ serve path (local[4], 4 vCPU), formatting the
  * doubles of one 11×32×16 table took a quarter of the driver's time.
  * `UnsafeArrayData` prints as a fixed-width handle while equality and
  * hashing stay by value (its bytes), so plans still compare and
  * canonicalize correctly.
  *
  * Lives in `org.apache.spark.sql.classic` solely to satisfy the
  * `private[sql]` boundary, as [[GraftStatsReset]] does.
  */
object GraftTableLiteral {
  /** `value`: a Scala collection (nested Seqs, boxed or primitive
    * elements, nulls allowed where `dataType` allows them). */
  def apply(value: Any, dataType: ArrayType): org.apache.spark.sql.Column = {
    val toUnsafe = UnsafeProjection.create(
      Array[Expression](BoundReference(0, dataType, nullable = false)))
    val row = toUnsafe(InternalRow(
      CatalystTypeConverters.convertToCatalyst(value))).copy()
    ExpressionUtils.column(Literal(row.getArray(0), dataType: DataType))
  }
}
