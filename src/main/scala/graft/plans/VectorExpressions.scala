package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expressions for vector math (north-star similarity
  * path). The DataFrame-API formulation — `aggregate(zip_with(a,b,*),0,+)`
  * — allocates an intermediate array per row and folds through generic
  * lambda machinery; this expression pair compiles to a tight primitive
  * loop via `doGenCode` and stays inside whole-stage codegen.
  *
  * Preference-order rationale (SURVEY.md §7.3): built-ins compose the
  * semantics but not the performance here, so this is the (b)-tier
  * "custom Expression" escape hatch — no custom LogicalPlan/Strategy
  * needed, the operator is still a scalar function.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isDoubleArray(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isDoubleArray(left.dataType) && isDoubleArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product needs array<double> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** L2 norm of an array<double>. */
case class L2Norm(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"l2_norm needs array<double>, got ${t.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2_norm"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    while (i < x.numElements()) {
      val v = x.getDouble(i)
      s += v * v
      i += 1
    }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x => {
      val fn = ctx.freshName("l2")
      val code =
        s"""
           |private double $fn(org.apache.spark.sql.catalyst.util.ArrayData a) {
           |  double s = 0.0;
           |  for (int i = 0; i < a.numElements(); i++) {
           |    double v = a.getDouble(i);
           |    s += v * v;
           |  }
           |  return java.lang.Math.sqrt(s);
           |}
         """.stripMargin
      val method = ctx.addNewFunction(fn, code)
      s"$method($x)"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Sparse dot product over two key-sorted (key, w: double) struct
  * arrays, returned as an EXACT 1e-9-quantized long (Σ over matching
  * keys of ⌊w_x·w_y·1e9 + 0.5⌋): the two-pointer merge is O(k_x + k_y)
  * per pair where the relational form (join on key + re-group) pays a
  * (pair, key)-grain shuffle — the q172 posting-intersection hot loop
  * as one codegen'd scalar. Quantizing INSIDE the expression makes the
  * pair dot independent of any accumulation order by construction, so
  * the DuckDB oracle replays it term-for-term as integer sums (the
  * oracle joins on the raw key; only the ENGINE needs the sort, and
  * any total order works as long as both sides sorted the same way —
  * array_sort's binary order). Keys are long OR string (the shingle
  * itself — no hashing pass needed) and must be strictly increasing
  * per side; both pointers advance on a match, so equal-key runs
  * never double-count. */
case class SortedSparseDotMicro(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.types.{LongType, StringType, StructType}

  private def keyType(t: DataType): Option[DataType] = t match {
    case ArrayType(s: StructType, _)
        if s.length == 2 && s(1).dataType == DoubleType &&
          (s(0).dataType == LongType || s(0).dataType == StringType) =>
      Some(s(0).dataType)
    case _ => None
  }
  override def checkInputDataTypes(): TypeCheckResult =
    (keyType(left.dataType), keyType(right.dataType)) match {
      case (Some(a), Some(b)) if a == b => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "sorted_sparse_dot_micro needs two array<struct<long|string," +
          s"double>> inputs with matching key type, got " +
          s"${left.dataType.simpleString} / " +
          s"${right.dataType.simpleString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_sparse_dot_micro"

  private lazy val stringKeyed =
    keyType(left.dataType).contains(
      org.apache.spark.sql.types.StringType)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var s = 0L
    while (i < nx && j < ny) {
      val cmp =
        if (stringKeyed)
          x.getStruct(i, 2).getUTF8String(0)
            .compareTo(y.getStruct(j, 2).getUTF8String(0))
        else java.lang.Long.compare(
          x.getStruct(i, 2).getLong(0), y.getStruct(j, 2).getLong(0))
      if (cmp < 0) i += 1
      else if (cmp > 0) j += 1
      else {
        s += math.floor(x.getStruct(i, 2).getDouble(1) *
          y.getStruct(j, 2).getDouble(1) * 1e9 + 0.5).toLong
        i += 1; j += 1
      }
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val fn = ctx.freshName("ssdot")
      val cmp =
        if (stringKeyed)
          "x.getStruct(i, 2).getUTF8String(0).compareTo(" +
            "y.getStruct(j, 2).getUTF8String(0))"
        else
          "java.lang.Long.compare(x.getStruct(i, 2).getLong(0), " +
            "y.getStruct(j, 2).getLong(0))"
      val code =
        s"""
           |private long $fn(
           |    org.apache.spark.sql.catalyst.util.ArrayData x,
           |    org.apache.spark.sql.catalyst.util.ArrayData y) {
           |  int nx = x.numElements();
           |  int ny = y.numElements();
           |  int i = 0; int j = 0;
           |  long s = 0L;
           |  while (i < nx && j < ny) {
           |    int c = $cmp;
           |    if (c < 0) { i++; }
           |    else if (c > 0) { j++; }
           |    else {
           |      s += (long) java.lang.Math.floor(
           |        x.getStruct(i, 2).getDouble(1)
           |          * y.getStruct(j, 2).getDouble(1) * 1e9 + 0.5);
           |      i++; j++;
           |    }
           |  }
           |  return s;
           |}
         """.stripMargin
      val method = ctx.addNewFunction(fn, code)
      s"${ev.value} = $method($x, $y);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  private def e(c: Column): Expression = GraftBridge.expression(c)

  def dot(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(e(a), e(b)))
  def l2norm(a: Column): Column =
    GraftBridge.column(L2Norm(e(a)))
  def sortedSparseDotMicro(a: Column, b: Column): Column =
    GraftBridge.column(SortedSparseDotMicro(e(a), e(b)))
}
