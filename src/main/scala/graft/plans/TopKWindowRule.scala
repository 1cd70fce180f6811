package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, StructType}

/** Rewrites the per-group top-k idiom
  *
  *   Filter(rn <= k)
  *     Window([row_number() OVER (PARTITION BY g ORDER BY s) AS rn])
  *       child
  *
  * into a bounded-heap aggregate + posexplode:
  *
  *   Filter(other conjuncts, if any)
  *     Project(child cols from struct, pos+1 AS rn)   — same exprIds
  *       Generate(posexplode(topk))
  *         Aggregate(g, top_k_rows(k, ORDER BY s, struct(child.*)))
  *
  * Why: the window form shuffles every row of every group and SORTS each
  * group (Spark's own WindowGroupLimit trims to k per partition first,
  * but still sorts what remains); the aggregate keeps O(k) state per
  * group and combines map-side, so each mapper ships ≤ k rows per group
  * — at 100 TB that is a shuffle of k·|groups| rows instead of the
  * corpus. Output attributes (exprIds) are preserved exactly, so parent
  * plans are untouched.
  *
  * Guards: single row_number window expression, non-empty ORDER BY, a
  * `rn <= literal` (or equivalent) conjunct with 0 < k ≤ MaxK, struct
  * output (needs ≥ 1 child column). GraftExtensions injects the rule
  * into the fixed-point operator-optimization batch, which runs before
  * Spark's InferWindowGroupLimit; an intervening WindowGroupLimit (a plan
  * optimized without the rule) is subsumed and stripped.
  */
object TopKWindowRule extends Rule[LogicalPlan] with PredicateHelper {

  /** Heaps are O(k) driver-of-state per group: refuse silly limits. */
  val MaxK = 1000

  private def limitFrom(e: Expression, rn: ExprId): Option[Int] = e match {
    case LessThanOrEqual(a: AttributeReference, Literal(v: Int, IntegerType))
        if a.exprId == rn => Some(v)
    case LessThan(a: AttributeReference, Literal(v: Int, IntegerType))
        if a.exprId == rn => Some(v - 1)
    case GreaterThanOrEqual(Literal(v: Int, IntegerType), a: AttributeReference)
        if a.exprId == rn => Some(v)
    case GreaterThan(Literal(v: Int, IntegerType), a: AttributeReference)
        if a.exprId == rn => Some(v - 1)
    case EqualTo(a: AttributeReference, Literal(1, IntegerType))
        if a.exprId == rn => Some(1)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, Window(
        Seq(al @ Alias(WindowExpression(_: RowNumber, _), rnName)),
        part, order, wchild, _))
        if order.nonEmpty && wchild.output.nonEmpty &&
          // A non-deterministic partition/sort key (e.g. rand()) must stay
          // on the window path: the heap re-evaluates keys per comparison,
          // and unseeded non-determinism isn't initialize()d in the
          // aggregate's projections.
          order.forall(_.child.deterministic) &&
          part.forall(_.deterministic) =>
      val rnId = al.exprId
      val conjuncts = splitConjunctivePredicates(cond)
      val ks = conjuncts.flatMap(c => limitFrom(c, rnId))
      if (ks.isEmpty || ks.min <= 0 || ks.min > MaxK) f
      else {
        val k = ks.min
        // a plan Spark already optimized may carry InferWindowGroupLimit's
        // trim below the Window; the aggregate subsumes it
        val child = wchild match {
          case wgl: WindowGroupLimit => wgl.child
          case c => c
        }
        val dataStruct = CreateStruct(child.output)
        val aggAlias = Alias(
          TopKRows(order, dataStruct, k).toAggregateExpression(), "_topk")()
        // Attribute partition keys stay in the aggregate output and pass
        // through the explode UNTOUCHED (same exprId, no re-derivation
        // from the struct): the physical agg's hashpartitioning on them
        // then propagates to any downstream regroup on the same keys.
        // Re-deriving them via GetStructField aliases (the original
        // form) breaks AliasAwareOutputPartitioning — the partitioning
        // attribute vanishes between the agg and the restore Project —
        // and costs a redundant exchange (q12's regroup re-shuffled on
        // doc_id it was already partitioned by).
        val partAttrs: Seq[Attribute] = part.collect {
          case a: AttributeReference => a
        }.distinct
        // A global top-k (no PARTITION BY) heaps the k rows that a Limit
        // over a Sort keeps. Spark plans that as TakeOrderedAndProject,
        // whose single-partition output the aggregate reads with no
        // exchange of its own — the shape InferWindowGroupLimit gives the
        // same window.
        val input =
          if (part.nonEmpty) child
          else Limit(Literal(k), Sort(order, global = true, child))
        val aggregate = Aggregate(part, partAttrs :+ aggAlias, input)
        val structType = dataStruct.dataType.asInstanceOf[StructType]
        val posAttr =
          AttributeReference("_topk_pos", IntegerType, nullable = false)()
        val rowAttr =
          AttributeReference("_topk_row", structType, nullable = false)()
        val gen = Generate(PosExplode(aggAlias.toAttribute),
          unrequiredChildIndex = Seq(partAttrs.length), outer = false,
          qualifier = None, generatorOutput = Seq(posAttr, rowAttr),
          aggregate)
        val partIds = partAttrs.map(_.exprId).toSet
        val restored = child.output.zipWithIndex.map { case (a, i) =>
          if (partIds.contains(a.exprId)) a
          else Alias(GetStructField(rowAttr, i, Some(a.name)), a.name)(
            exprId = a.exprId, qualifier = a.qualifier)
        }
        val rnAlias = Alias(Add(posAttr, Literal(1)), rnName)(exprId = rnId)
        val project = Project(restored :+ rnAlias, gen)
        val rest = conjuncts.filter(c => limitFrom(c, rnId).isEmpty)
        if (rest.isEmpty) project
        else Filter(rest.reduce(And), project)
      }
  }
}
