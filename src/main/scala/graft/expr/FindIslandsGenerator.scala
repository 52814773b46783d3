package graft.expr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Generator}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import graft.islands.IslandMath

/** `find_islands(arr, threshold, min_len)` as a Catalyst Generator
  * (SURVEY.md §4 custom-work candidate (b), §2.9: "generator
  * Array[Double] → rows (start, end)"): the SQL surface of the
  * run-length threshold segmentation (build_islands_from_scores.py:
  * 82-116), emitting one (start_idx, end_idx) row per island exactly
  * like explode emits elements. It is the plan for full-table scans
  * too: Islands.islandsFromArray evaluates it per row, where a
  * gaps-and-islands window form would explode every element and
  * shuffle it. SQL users reach it as
  *
  * {{{ SELECT vec_id, i.* FROM sm LATERAL VIEW find_islands(smoothed, 0.2, 3) i }}}
  *
  * Evaluation is one pass per row over the scalar port — a Generator
  * is CodegenFallback by nature, which is fine: it runs once per row,
  * not once per element. A null element reads as NaN, so like NaN it
  * is never at or above the threshold and ends a run. IslandsSpec pins
  * generator ≡ scalar ≡ the window form on NaN-free data.
  */
case class FindIslandsGenerator(arr: Expression, threshold: Expression, minLen: Expression)
  extends Expression with Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(arr, threshold, minLen)

  override def checkInputDataTypes(): TypeCheckResult =
    (arr.dataType, threshold.dataType, minLen.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, t, m) =>
        TypeCheckResult.TypeCheckFailure(
          s"find_islands requires (array<double>, double, int), got ($a, $t, $m)")
    }

  override def elementSchema: StructType = StructType(Seq(
    StructField("start_idx", IntegerType, nullable = false),
    StructField("end_idx", IntegerType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val a = arr.eval(input)
    if (a == null) return Nil
    val thr = threshold.eval(input)
    val ml = minLen.eval(input)
    if (thr == null || ml == null) return Nil
    val ad = a.asInstanceOf[ArrayData]
    val data = Array.tabulate(ad.numElements())(i =>
      if (ad.isNullAt(i)) Double.NaN else ad.getDouble(i))
    IslandMath.findIslands(data, thr.asInstanceOf[Double], ml.asInstanceOf[Int])
      .map { case (s, e) => InternalRow(s, e) }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(arr = newChildren(0), threshold = newChildren(1), minLen = newChildren(2))
}

object FindIslandsGenerator {
  /** Idempotent per-session registration of `find_islands`. */
  def register(s: SparkSession): Unit =
    s.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("find_islands"),
      new ExpressionInfo(classOf[FindIslandsGenerator].getName, "find_islands"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "find_islands takes (arr, threshold, min_len)")
        FindIslandsGenerator(children(0), children(1), children(2))
      })
}
