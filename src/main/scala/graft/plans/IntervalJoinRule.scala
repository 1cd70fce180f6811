package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, FullOuter, Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Rewrites the interval OVERLAP join — a join whose cross-side
  * predicate contains the conjunct pair
  *
  *   l_start ≤ r_end  AND  r_start ≤ l_end
  *
  * (any ≤/< spelling, timestamp or integral columns) and no cross-side
  * equality — from the BroadcastNestedLoopJoin Spark plans for it into
  * the partitioned interval join (DeWitt et al. 1991; q349's
  * hand-built shape).
  *
  * INNER/CROSS (round 13):
  *
  *   Project(original output)
  *     Join(bkt_l = bkt_r AND bkt_l = ⌊max(l_start, r_start)/W⌋
  *          AND <original condition>)
  *       :- Generate(explode(sequence(⌊lo_l/W⌋, ⌊hi_l/W⌋)))
  *       +- Generate(explode(sequence(⌊lo_r/W⌋, ⌊hi_r/W⌋)))
  *
  * BOTH sides explode to the width-W buckets their interval covers
  * (unlike the point-band BandJoinRule, where only the build side
  * fans out); overlapping pairs share at least the owner bucket
  * ⌊max(l_start, r_start)/W⌋ — which both covered ranges provably
  * contain under the overlap predicate (max(starts) ∈ [lo, hi] of each
  * side, with per-side lo/hi min/max-normalized so even an inverted
  * interval row keeps the cover) — and the owner equality keeps each
  * pair EXACTLY once. The original predicate runs as the equi join's
  * residual, so the rewrite is result-identical for any data.
  *
  * LEFT OUTER / LEFT SEMI / LEFT ANTI / RIGHT OUTER (round 14 — the
  * verdict's enrichment form): a both-sides fan-out cannot preserve
  * rows (each unmatched preserved copy would null-extend once per
  * bucket), so the preserved side does NOT explode — it keys on the
  * single bucket ⌊lo_p/W⌋ of its interval's low endpoint, and the
  * OTHER side explodes to [⌊lo_o/W⌋ − S, ⌊hi_o/W⌋] where
  * S = ⌈maxSpan/W⌉ and maxSpan (the second conf,
  * `spark.graft.intervalJoin.maxSpan`, same backing unit as width)
  * bounds the preserved side's interval spans. Coverage proof: for a
  * true pair, lo_p ≤ hi_o (from the overlap conjuncts, endpoints
  * min/max-normalized) and lo_p ≥ hi_p − span_p ≥ lo_o − maxSpan ≥
  * lo_o − S·W, and ⌊(lo_o − S·W)/W⌋ = ⌊lo_o/W⌋ − S exactly — so the
  * preserved row's one bucket always lands inside the other side's
  * exploded range, each true pair meets EXACTLY once (the preserved
  * row has one copy; the other side's copies are distinct buckets),
  * and other-side duplication is invisible to a preserved-side join
  * (outer null-extends per preserved row; semi/anti are
  * build-duplication-insensitive).
  *
  * maxSpan is an ENFORCED contract — exact when it holds, LOUD when
  * violated, never silently wrong and never scale-unsafe: rows whose
  * preserved-side span exceeds it are split off by an exact
  * complementary Filter pair into an error branch that RAISES a
  * descriptive error per oversize row (pointing at the conf and at
  * q369's span profiler). A plain-join fallback branch was rejected
  * deliberately: Spark can only plan the non-equi outer join as a
  * BroadcastNestedLoopJoin that broadcasts the ENTIRE non-preserved
  * side (LeftOuter forces build-right), which is an OOM at 100 TB
  * even when the oversize set is empty — the broadcast materializes
  * before the streamed side's emptiness is knowable. The error branch
  * is a scan+filter+project: no join, no broadcast, zero output rows
  * whenever the contract holds. The span filter computes hi−lo in
  * decimal, so ANSI mode never overflows on extreme raw-long
  * endpoints; the raise is guarded by the (attribute-referencing)
  * span predicate so constant folding can never fire it at plan time.
  * The preserved-side subtree is referenced by both branches (two
  * scans — fine for the enrichment pattern's scan-shaped inputs;
  * q369 profiles span p50/p99/max so the user sets maxSpan from
  * measured data, not hope).
  *
  * The bucket width is WORKLOAD knowledge (typical span / density —
  * Spark has no stats for it at this point in planning), so the rule
  * fires only when `spark.graft.intervalJoin.width` is set to a
  * positive long in the columns' long backing unit (MICROSECONDS for
  * timestamps — UnixMicros, never a seconds-rounding cast; raw for
  * bigints); the preserved-side forms additionally require
  * `spark.graft.intervalJoin.maxSpan`. Unset ⇒ no-op, plans untouched.
  *
  * FULL OUTER (round 15 — the last hole in the type lattice): both
  * sides are preserved, so neither single-branch form applies;
  * instead the join decomposes into the standard three-way union —
  * the INNER matches, plus each side's unmatched rows null-extended
  * through a LeftAnti against the other side. All three children are
  * plain theta joins of exactly the shapes this rule's Inner and
  * preserved-side branches rewrite on the next fixpoint iteration
  * (extraOptimizations run in a fixed-point batch), so no BNLJ
  * survives anywhere in the final plan; both anti branches carry the
  * maxSpan contract, so an oversize row on EITHER side raises. The
  * inputs are read three times — the scan-shaped-input tradeoff the
  * preserved-side form already accepts (two scans), and the price of
  * never broadcasting a whole side.
  *
  * Guards: no cross-side equality conjunct (the planner already
  * hash-joins those — and this makes the rule a provable no-op on its
  * own bucketed output, whose bucket equality is exactly such a
  * conjunct: fixpoint idempotence rests on hasCrossEqui, and the
  * span-overflow error branch is join-free, so nothing this rule
  * emits can re-match); the four endpoint expressions deterministic,
  * each referencing exactly one side, timestamp/integral typed. Null
  * endpoints (Least/Greatest SKIP nulls, so only a both-null row
  * degenerates): a BOTH-null exploded-side row drops at the Generate
  * (null sequence) and a both-null preserved-side row keys on a null
  * bucket and matches nothing; a ONE-null row normalizes to its
  * non-null endpoint — it still generates buckets / keys on a real
  * bucket and can MEET candidate rows, and correctness there rests on
  * the residual original predicate, whose null comparison rejects
  * every such pair. Either way the row null-extends (outer) / drops
  * (semi) / passes (anti) — exactly the naive join's behavior. */
object IntervalJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  val WidthConf = "spark.graft.intervalJoin.width"
  val MaxSpanConf = "spark.graft.intervalJoin.maxSpan"

  private def longBacked(e: Expression): Boolean = e.dataType match {
    case TimestampType | TimestampNTZType => true
    case IntegerType | LongType | ShortType => true
    case _ => false
  }

  /** The expression's exact long value (micros for timestamps); the
    * NTZ→TZ cast and the bucket Sequence are TimeZoneAwareExpressions
    * and must carry the session zone to stay resolved post-analysis. */
  private def asLong(e: Expression): Expression = e.dataType match {
    case TimestampType => UnixMicros(e)
    case TimestampNTZType =>
      UnixMicros(Cast(e, TimestampType, Some(conf.sessionLocalTimeZone)))
    case LongType => e
    case _ => Cast(e, LongType)
  }

  /** `a ≤ b` / `a < b` as (a, b); strict is sound — the bucket cover
    * only needs to be ≥ the predicate's reach, and the original
    * predicate stays the residual. */
  private def lte(c: Expression): Option[(Expression, Expression)] =
    c match {
      case LessThanOrEqual(a, b) => Some((a, b))
      case LessThan(a, b) => Some((a, b))
      case GreaterThanOrEqual(b, a) => Some((a, b))
      case GreaterThan(b, a) => Some((a, b))
      case _ => None
    }

  private def oneSided(e: Expression, side: LogicalPlan): Boolean =
    e.references.nonEmpty && e.references.subsetOf(side.outputSet) &&
      e.deterministic

  /** Sign-safe exact-long floor division (BandJoinRule's form). */
  private def bktOf(xv: Expression, w: Long): Expression = {
    val wl = Literal(w)
    Subtract(IntegralDivide(xv, wl),
      If(And(LessThan(xv, Literal(0L)),
          Not(EqualTo(Remainder(xv, wl), Literal(0L)))),
        Literal(1L), Literal(0L)))
  }

  /** Explode `side` to the width-`w` buckets its [s, e] interval
    * covers, widened `margin` buckets below the low end. */
  private def ranged(side: LogicalPlan, s: Expression, e: Expression,
      w: Long, margin: Long, tag: String): (Generate, Attribute) = {
    val lo = bktOf(Least(Seq(asLong(s), asLong(e))), w) match {
      case b if margin == 0L => b
      case b => Subtract(b, Literal(margin))
    }
    val hi = bktOf(Greatest(Seq(asLong(s), asLong(e))), w)
    val arr = Alias(
      Sequence(lo, hi, Some(Literal(1L)),
        Some(conf.sessionLocalTimeZone)), s"_iv_arr$tag")()
    val proj = Project(side.output :+ arr, side)
    val bktAttr = AttributeReference(
      s"_iv_bkt$tag", LongType, nullable = true)()
    (Generate(Explode(arr.toAttribute),
      unrequiredChildIndex = Seq(side.output.size),
      outer = false, qualifier = None,
      generatorOutput = Seq(bktAttr), proj), bktAttr)
  }

  /** The preserved-side span-overflow predicate: |hi − lo| in DECIMAL
    * (ANSI-safe on extreme raw longs) strictly above maxSpan. Also
    * used to RECOGNIZE this rule's own plain branch and skip it. */
  private def bigSpanPred(s: Expression, e: Expression,
      maxSpan: Long): Expression = {
    val dec = DecimalType(38, 0)
    val span = Abs(Subtract(Cast(asLong(e), dec), Cast(asLong(s), dec)))
    GreaterThan(span, Cast(Literal(maxSpan), dec))
  }

  private def confLong(key: String): Long = try {
    conf.getConfString(key, "").trim match {
      case "" => 0L
      case s => s.toLong
    }
  } catch { case _: NumberFormatException => 0L }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val width = confLong(WidthConf)
    val maxSpan = confLong(MaxSpanConf)
    if (width <= 0L) plan
    else plan.transformUp {
      case j @ Join(l, r,
          Inner | Cross | LeftOuter | LeftSemi | LeftAnti | RightOuter
          | FullOuter,
          Some(cond), hint) =>
        val conjuncts = splitConjunctivePredicates(cond)
        val hasCrossEqui = conjuncts.exists {
          case EqualTo(a, b) =>
            (oneSided(a, l) && oneSided(b, r)) ||
              (oneSided(a, r) && oneSided(b, l))
          case EqualNullSafe(a, b) =>
            (oneSided(a, l) && oneSided(b, r)) ||
              (oneSided(a, r) && oneSided(b, l))
          case _ => false
        }
        // the overlap pair: one conjunct puts a LEFT expr ≤ a RIGHT
        // expr, another a RIGHT expr ≤ a LEFT expr — (l_start, r_end)
        // and (r_start, l_end) in the canonical orientation
        val pairs = conjuncts.flatMap(lte(_))
        val lr = pairs.collectFirst {
          case (a, b)
              if oneSided(a, l) && oneSided(b, r) &&
                longBacked(a) && longBacked(b) => (a, b)
        }
        val rl = pairs.collectFirst {
          case (a, b)
              if oneSided(a, r) && oneSided(b, l) &&
                longBacked(a) && longBacked(b) => (a, b)
        }
        if (hasCrossEqui || lr.isEmpty || rl.isEmpty) j
        else {
          val (lStart, rEnd) = lr.get
          val (rStart, lEnd) = rl.get
          j.joinType match {
            case Inner | Cross =>
              val (genL, lBkt) =
                ranged(l, lStart, lEnd, width, 0L, "_l")
              val (genR, rBkt) =
                ranged(r, rStart, rEnd, width, 0L, "_r")
              val owner = bktOf(
                Greatest(Seq(asLong(lStart), asLong(rStart))), width)
              val newCond = And(EqualTo(lBkt, rBkt),
                And(EqualTo(lBkt, owner), cond))
              Project(j.output,
                Join(genL, genR, Inner, Some(newCond), hint))
            case FullOuter if maxSpan > 0L =>
              // inner matches + each side's unmatched rows
              // null-extended; all three children re-match this
              // rule's Inner / preserved-side branches on the next
              // fixpoint iteration, so no BNLJ survives
              def nulls(as: Seq[Attribute]) =
                as.map(a => Alias(Literal(null, a.dataType), a.name)())
              Union(Seq(
                Project(j.output, Join(l, r, Inner, Some(cond), hint)),
                Project(l.output ++ nulls(r.output),
                  Join(l, r, LeftAnti, Some(cond), hint)),
                Project(nulls(l.output) ++ r.output,
                  // side-reversed child: swap any side-specific hints
                  // so leftHint still describes l and rightHint r
                  Join(r, l, LeftAnti, Some(cond),
                    JoinHint(hint.rightHint, hint.leftHint)))))
            case jt if maxSpan > 0L && jt != FullOuter =>
              val rightPreserved = jt == RightOuter
              val (p, o) = if (rightPreserved) (r, l) else (l, r)
              val (pS, pE) = if (rightPreserved) (rStart, rEnd)
                else (lStart, lEnd)
              val (oS, oE) = if (rightPreserved) (lStart, lEnd)
                else (rStart, rEnd)
              val bigPred = bigSpanPred(pS, pE, maxSpan)
              locally {
                val margin = (maxSpan + width - 1L) / width
                // exact complementary routing: ≤ maxSpan OR a null
                // endpoint (null rows match nothing on either path —
                // keep them off the nested-loop branch)
                val smallPred = Or(Not(bigPred), IsNull(bigPred))
                val pSmall = Filter(smallPred, p)
                val pBig = Filter(bigPred, p)
                val keyAlias = Alias(bktOf(
                  Least(Seq(asLong(pS), asLong(pE))), width), "_iv_key")()
                val pKeyed = Project(pSmall.output :+ keyAlias, pSmall)
                val (genO, oBkt) =
                  ranged(o, oS, oE, width, margin, "_o")
                val newCond =
                  And(EqualTo(keyAlias.toAttribute, oBkt), cond)
                val smallJoin = if (rightPreserved)
                  Join(genO, pKeyed, RightOuter, Some(newCond), hint)
                else Join(pKeyed, genO, jt, Some(newCond), hint)
                // the contract-violation branch: one raising column
                // (guarded by the span predicate so it can never
                // constant-fold), nulls elsewhere — no join, no
                // broadcast, empty whenever the contract holds
                val msg = "IntervalJoinRule: a preserved-side interval " +
                  s"span exceeds $MaxSpanConf = $maxSpan; raise the " +
                  "conf to the true span bound (q369's interval " +
                  "profiler publishes span_max and margin_buckets) or " +
                  "unset it to keep the unrewritten plan"
                val errCols = j.output.zipWithIndex.map { case (a, i) =>
                  val v: Expression =
                    if (i == 0)
                      If(bigPred,
                        Cast(RaiseError(Literal(msg)), a.dataType),
                        Literal(null, a.dataType))
                    else Literal(null, a.dataType)
                  Alias(v, a.name)()
                }
                Union(Project(j.output, smallJoin),
                  Project(errCols, pBig))
              }
            case _ => j // preserved-side form without maxSpan: no-op
          }
        }
    }
  }
}
