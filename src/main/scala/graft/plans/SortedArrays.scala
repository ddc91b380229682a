package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{ArrayUnion, AttributeReference, BinaryExpression,
  Expression, If, IsNull, Literal, SortArray}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Merge-scan kernel over SORTED long arrays (no per-call hash set). */
object SortedArrayKernel {
  /** |a ∩ b| for ascending-sorted, duplicate-free `array<long>` inputs:
    * one two-pointer pass, O(|a| + |b|), zero allocation. Spark's
    * `array_intersect` builds an OpenHashSet per evaluation — per PAIR
    * in a near-dup verify join, which is the hot loop of every blocked
    * Jaccard scan. Inputs that are unsorted or carry duplicates produce
    * an undercount; callers sort once per document (`sort_array` /
    * `array_sort` after `array_distinct`/`collect_set`), amortizing the
    * sort over every pair the document participates in.
    */
  def intersectCount(a: ArrayData, b: ArrayData): Long =
    intersectCount(a, b, false, false)

  /** Typed variant: `aInt`/`bInt` say whether each input is
    * `array<int>` (the 31-bit hash sets — §2.3 narrower types: an int
    * set column halves the dominant verify-attach shuffle) or
    * `array<long>`. The flags are baked as literals at codegen, so the
    * JIT specializes each call site; mixed widths compare exactly
    * (31-bit values are lossless in both), which keeps a long-typed
    * at-rest index probe-compatible with an int-typed batch side.
    */
  def intersectCount(a: ArrayData, b: ArrayData, aInt: Boolean, bInt: Boolean): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0L
    while (i < na && j < nb) {
      val x = if (aInt) a.getInt(i).toLong else a.getLong(i)
      val y = if (bInt) b.getInt(j).toLong else b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }
}

/** Custom codegen expression: intersection size of two sorted
  * `array<long>` set columns. With set semantics the full Jaccard
  * needs nothing else: |A ∪ B| = |A| + |B| - |A ∩ B|, so the verify
  * step of every near-dup pipeline (blocked exact, MinHash/LSH, token
  * LSH) becomes one merge scan per pair instead of two hash-set
  * constructions (`array_intersect` + `array_union`).
  */
case class SortedIntersectCount(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  private def isIntArray(e: Expression): Boolean = e.dataType match {
    case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType, _) => true
    case _ => false
  }
  private lazy val aInt = isIntArray(left)
  private lazy val bInt = isIntArray(right)
  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedArrayKernel.intersectCount(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], aInt, bInt)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.plans.SortedArrayKernel.intersectCount($a, $b, $aInt, $bInt)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  def sorted_intersect_count(a: Column, b: Column): Column =
    GraftBridge.column(SortedIntersectCount(GraftBridge.expression(a), GraftBridge.expression(b)))
}

/** Union of sorted, duplicate-free set columns as a declarative
  * aggregate: the buffer is the set so far, a group's first row is
  * taken as it is, and only a repeated key pays `sort_array(array_union)`.
  * Its array buffer is not fixed-width and it is not a typed imperative
  * aggregate, so Spark plans it as a sort-based aggregate: on input
  * already clustered by the key it sorts (memory-managed, spilling) and
  * streams the adjacent rows of one key at a time, with no hash map of
  * buffers, and keeps the key's hash partitioning for the operators
  * above it.
  */
case class SortedSetUnion(child: Expression) extends DeclarativeAggregate with UnaryLike[Expression] {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = true
  private lazy val set = AttributeReference("set", child.dataType)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] = set :: Nil
  override lazy val initialValues: Seq[Expression] = Literal.create(null, child.dataType) :: Nil
  override lazy val updateExpressions: Seq[Expression] = union(set, child) :: Nil
  override lazy val mergeExpressions: Seq[Expression] = union(set.left, set.right) :: Nil
  override lazy val evaluateExpression: Expression = set
  private def union(a: Expression, b: Expression): Expression =
    If(IsNull(a), b, If(IsNull(b), a, SortArray(ArrayUnion(a, b), Literal(true))))
  override protected def withNewChildInternal(newChild: Expression): SortedSetUnion =
    copy(child = newChild)
}

object SortedSetUnion {
  def sorted_set_union(c: Column): Column =
    GraftBridge.column(SortedSetUnion(GraftBridge.expression(c)).toAggregateExpression())
}
