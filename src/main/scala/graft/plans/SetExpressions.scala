package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._

/** Set predicates over SORTED arrays, with whole-stage codegen.
  *
  * Built for the prefix-filter join's minimal-match rule
  * ([[graft.operators.Dedup.jaccardPairsPrefix]]): a candidate pair must be
  * emitted from exactly ONE of its shared prefix elements — the first in
  * canonical order — which reduces to "the elements BEFORE each side's match
  * position are disjoint". That predicate runs once per matched posting row
  * inside the join condition (billions of evaluations on a dense corpus), so
  * it must be allocation-free and codegen'd: `arrays_overlap` builds a hash
  * set per evaluation, and an `array_intersect`-based formulation
  * materializes a throwaway array per pair — the exact per-pair alloc-churn
  * defect the round-15 label-screen rewrite removed.
  */
object SetExpressions {

  /** True iff two ascending-sorted arrays share an element. A single merge
    * walk — O(|a| + |b|) comparisons, zero allocation. Elements are longs
    * (shingle-hash element spaces) or strings (unigram token spaces,
    * compared in UTF8 binary order — `sort_array`'s own order). Both inputs
    * MUST be sorted ascending; elements must be non-null.
    */
  def sortedOverlap(a: Column, b: Column): Column =
    ColumnShim.column(SortedArraysOverlap(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Exact |a ∩ b| over two ascending-sorted arrays of distinct elements —
    * one merge walk, zero allocation. The verify-stage twin of
    * [[sortedOverlap]]: `size(array_intersect(sa, sb))` materializes a
    * throwaway intersection array per pair, which at 10^8 verified pairs is
    * pure alloc churn (the q86/q156 lesson). Same contracts: both inputs
    * sorted ascending, elements distinct and non-null.
    */
  def sortedIntersectCount(a: Column, b: Column): Column =
    ColumnShim.column(SortedArraysIntersectCount(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Exact Jaccard |a ∩ b| / |a ∪ b| of two sorted arrays as a double (0.0
    * when both are empty): one merge walk for the intersection, and the
    * union as |a| + |b| - |a ∩ b| in integer arithmetic. One expression, so
    * an optimizer that inlines it into a join condition and a projection
    * still walks each pair once per use. Same contracts as
    * [[sortedIntersectCount]].
    */
  def sortedJaccard(a: Column, b: Column): Column =
    ColumnShim.column(SortedArraysJaccard(ColumnShim.expression(a), ColumnShim.expression(b)))
}

/** Two ascending-sorted arrays of the same element type: bigint (shingle
  * hashes) or string (tokens, UTF8 binary order).
  */
sealed trait SortedArraysInput extends BinaryExpression {

  @transient protected lazy val elemType: DataType = left.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _)   => true
      case ArrayType(StringType, _) => true
      case _                        => false
    }
    if (ok(left.dataType) && left.dataType == right.dataType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"${getClass.getSimpleName} requires two array<bigint> or two array<string> inputs, got ${left.dataType} / ${right.dataType}"
      )
  }

  /** The comparison of element `i` of `l` with element `j` of `r`, in Java. */
  protected def compareCode(l: String, r: String, i: String, j: String): String = elemType match {
    case LongType => s"java.lang.Long.compare($l.getLong($i), $r.getLong($j))"
    case _        => s"$l.getUTF8String($i).compareTo($r.getUTF8String($j))"
  }

  protected def compare(la: ArrayData, ra: ArrayData, i: Int, j: Int): Int =
    if (elemType == LongType) java.lang.Long.compare(la.getLong(i), ra.getLong(j))
    else la.getUTF8String(i).compareTo(ra.getUTF8String(j))
}

/** |a ∩ b| of two sorted arrays of distinct elements by one merge walk. */
sealed trait SortedArraysIntersect extends SortedArraysInput {

  protected def intersectCount(l: Any, r: Any): Int = {
    val la = l.asInstanceOf[ArrayData]
    val ra = r.asInstanceOf[ArrayData]
    val n = la.numElements()
    val m = ra.numElements()
    var i = 0
    var j = 0
    var acc = 0
    while (i < n && j < m) {
      val c = compare(la, ra, i, j)
      if (c == 0) { acc += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    acc
  }

  /** Java code leaving |l ∩ r| in the int variable `acc`. */
  protected def intersectCountCode(ctx: CodegenContext, l: String, r: String, acc: String): String = {
    val i = ctx.freshName("i")
    val j = ctx.freshName("j")
    val n = ctx.freshName("n")
    val m = ctx.freshName("m")
    val c = ctx.freshName("c")
    s"""
       |int $n = $l.numElements();
       |int $m = $r.numElements();
       |int $i = 0;
       |int $j = 0;
       |int $acc = 0;
       |while ($i < $n && $j < $m) {
       |  int $c = ${compareCode(l, r, i, j)};
       |  if ($c == 0) { $acc++; $i++; $j++; }
       |  else if ($c < 0) { $i++; }
       |  else { $j++; }
       |}
     """.stripMargin
  }
}


case class SortedArraysOverlap(left: Expression, right: Expression) extends SortedArraysInput {

  override def dataType: DataType = BooleanType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val la = l.asInstanceOf[ArrayData]
    val ra = r.asInstanceOf[ArrayData]
    val n = la.numElements()
    val m = ra.numElements()
    var i = 0
    var j = 0
    var hit = false
    while (!hit && i < n && j < m) {
      val c = compare(la, ra, i, j)
      if (c == 0) hit = true
      else if (c < 0) i += 1
      else j += 1
    }
    hit
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val c = ctx.freshName("c")
      val hit = ctx.freshName("hit")
      s"""
         |int $n = $l.numElements();
         |int $m = $r.numElements();
         |int $i = 0;
         |int $j = 0;
         |boolean $hit = false;
         |while (!$hit && $i < $n && $j < $m) {
         |  int $c = ${compareCode(l, r, i, j)};
         |  if ($c == 0) { $hit = true; }
         |  else if ($c < 0) { $i++; }
         |  else { $j++; }
         |}
         |${ev.value} = $hit;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class SortedArraysIntersectCount(left: Expression, right: Expression) extends SortedArraysIntersect {

  override def dataType: DataType = IntegerType

  override def nullSafeEval(l: Any, r: Any): Any = intersectCount(l, r)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val acc = ctx.freshName("acc")
      s"""${intersectCountCode(ctx, l, r, acc)}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class SortedArraysJaccard(left: Expression, right: Expression) extends SortedArraysIntersect {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val inter = intersectCount(l, r)
    val union = l.asInstanceOf[ArrayData].numElements() + r.asInstanceOf[ArrayData].numElements() - inter
    if (union == 0) 0.0 else inter.toDouble / union.toDouble
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val acc = ctx.freshName("acc")
      val union = ctx.freshName("union")
      s"""${intersectCountCode(ctx, l, r, acc)}
         |int $union = $l.numElements() + $r.numElements() - $acc;
         |${ev.value} = $union == 0 ? 0.0 : (double) $acc / (double) $union;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
