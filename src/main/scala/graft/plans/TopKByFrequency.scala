package graft.plans

import java.util.{Arrays, Comparator}

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, RowOrdering, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.types.{ArrayType, DataType}

/** The `k` most frequent elements of an array, most frequent first, ties
  * broken by the element in Catalyst's own ascending order for its type
  * (null first) — per row, the answer of the explode → groupBy(row, e) →
  * row_number() over (count desc, e asc) → filter(rk <= k) → collect
  * shape, without the shuffle, the window or the join back.
  *
  * That shape is the whole-corpus idiom; on a micro-batch of a few
  * hundred records it costs a plan of dozens of generated classes per
  * batch, while this stays one static call inside the batch's own
  * projection. It is also O(n log n) per row, unlike the in-row
  * `filter`-per-distinct-element count, which is O(n²) on the tokens of
  * a long article.
  *
  * Counting sorts the elements and measures runs of equal ones rather
  * than hashing them: equality is then exactly the type's ordering
  * (collations, -0.0 = 0.0, NaN = NaN, structs field by field), the
  * same grouping a GROUP BY on the element gives, which value hashes of
  * UnsafeRow bytes or byte arrays would not. A stable sort of the runs
  * by count descending keeps equal counts in ascending element order. */
case class TopKByFrequency(child: Expression, k: Int) extends UnaryExpression {

  @transient private lazy val elementType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  @transient private lazy val ordering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(elementType)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _ if k < 0 =>
      TypeCheckResult.TypeCheckFailure(s"top_k_by_frequency needs k >= 0, got $k")
    case ArrayType(et, _) if RowOrdering.isOrderable(et) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"top_k_by_frequency needs an array of orderable elements, got ${t.simpleString}")
  }
  override def dataType: DataType = child.dataType
  override def prettyName: String = "top_k_by_frequency"

  override def nullSafeEval(v: Any): Any = topK(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("topKByFrequency", this)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $self.topK($a);")
  }

  /** The top-k array of one row; called from the generated code. */
  def topK(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val xs = new Array[AnyRef](n)
    var m = 0
    var nulls = 0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) nulls += 1
      else { xs(m) = a.get(i, elementType); m += 1 }
      i += 1
    }
    val cmp: Comparator[AnyRef] = (x, y) => ordering.compare(x, y)
    Arrays.sort(xs, 0, m, cmp)
    // runs of equal elements in ascending order, the null run first
    val runs = new Array[TopKByFrequency.Run](m + 1)
    var d = 0
    if (nulls > 0) { runs(0) = TopKByFrequency.Run(null, nulls); d = 1 }
    i = 0
    while (i < m) {
      var j = i + 1
      while (j < m && cmp.compare(xs(i), xs(j)) == 0) j += 1
      runs(d) = TopKByFrequency.Run(xs(i), j - i)
      d += 1
      i = j
    }
    Arrays.sort(runs, 0, d, TopKByFrequency.ByCountDesc) // stable
    val out = new Array[Any](math.min(k, d))
    i = 0
    while (i < out.length) {
      out(i) = InternalRow.copyValue(runs(i).value)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TopKByFrequency {
  private final case class Run(value: AnyRef, count: Int)
  private val ByCountDesc: Comparator[Run] =
    (x, y) => Integer.compare(y.count, x.count)

  /** DataFrame-API binding. */
  def col(c: Column, k: Int): Column =
    GraftBridge.column(TopKByFrequency(GraftBridge.expression(c), k))
}
