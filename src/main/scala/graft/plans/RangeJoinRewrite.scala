package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Optimizer rewrite: a pure interval join — point-in-interval
  * (`x BETWEEN lo AND hi`) or interval-overlap
  * (`aHi >= bLo AND bHi >= aLo`) between two relations with no equi
  * predicate — into a bucketized equi-join, the form
  * [[graft.operators.Relational.joinRange]] hand-writes.
  *
  * Why: Spark plans a join whose only cross-side predicates are
  * inequalities as BroadcastNestedLoopJoin — O(N·M) work that is the
  * single worst scale cliff a naive user query can hit (the DuckDB
  * comparator spends 93 s of its 166 s total on exactly this plan at
  * sf0.1; at 100 TB it simply never finishes). The reference engine
  * never hits this because it only joins on scraped keys
  * (`/root/reference/src/db.rs:48-66`), but a user porting ad-hoc SQL
  * to this library will. The rewrite makes the safe plan automatic.
  *
  * Both shapes are ONE pattern: each side carries an interval
  * `[lo, hi]` on the shared axis, joined on overlap — a "point" is the
  * degenerate interval whose bounds are the same expression
  * (`x BETWEEN lo AND hi` ⇔ `[x,x]` overlaps `[lo,hi]`). Per side:
  *
  *  - a point side gains one projected column `bucket(x)`;
  *  - an interval side explodes to every bucket its `[lo, hi]` overlaps
  *    (`sequence(bucket(lo), bucket(hi))`);
  *  - equi-join on the bucket, then the ORIGINAL predicate re-filters —
  *    so bucket-edge effects cannot change results, only work.
  *
  * `bucket(v) = floor(seconds(v) / width)` is monotone non-decreasing
  * (IEEE division by a positive constant and floor both are), so
  * overlapping value intervals always share at least one bucket. With a
  * point side a qualifying pair meets exactly once (in the point's
  * bucket). With two exploded sides it meets once per shared bucket, so
  * the join filters to the FIRST shared bucket —
  * `bucket == greatest(bucket(aLo), bucket(bLo))` — restoring
  * exactly-once without any dedup shuffle.
  *
  * Bound values are projected once per ROW on their own side and the
  * attribute substituted into the re-filter, so the predicate that runs
  * once per candidate PAIR is primitive compares — recomputing e.g.
  * `o_orderdate + INTERVAL 2 DAYS` per pair measured 3.4× the
  * hand-bucketized query's wall-clock at sf0.1.
  *
  * Intervals wider than `maxBucketsPerInterval` buckets (pathological —
  * a row that would explode into thousands of copies) are split off and
  * joined with the original theta shape: `[A-long × B-all]` and
  * `[A-short × B-long]` branches union with the bucketized
  * `[A-short × B-short]` — a disjoint partition of all pairs. The
  * residues are typically empty; the split keeps `sequence()` bounded
  * and is emitted as Cross-typed joins so this rule cannot re-match
  * them inside the fixed-point optimizer batch (the matcher takes Inner
  * only). Honest cost: each input is scanned once more per fallback
  * branch (filter-pruned at the source) even when the residue is
  * empty — an O(N) read traded for removing O(N·M) compute. Tests
  * therefore assert "one equi bucket join + at most the guarded nested
  * loops", not zero.
  *
  * Correctness guards: Inner joins only; both children fully
  * deterministic (the rewrite duplicates each side across branches);
  * all four bound expressions deterministic, single-sided, of one
  * common numeric/date/timestamp type; no cross-side equi predicate (if
  * one exists the join is already shuffle-plannable and bucketing would
  * only add work). Nulls in any bound drop on both paths exactly as the
  * inner theta join drops them (null comparison → no match; null
  * bucket/sequence → no row).
  *
  * Wiring: `spark.sql.extensions=graft.plans.GraftExtensions` injects
  * it cluster-wide and it fires BY DEFAULT, no configuration needed:
  * when both sides' interval widths are statically proven plan-time
  * constants (the `base ± constant` shape — `provenWidth` via
  * `baseOffset`), the bucket width defaults to the widest proven
  * interval, which bounds explosion at ≤2 extra rows per side and
  * needs no cap filter or fallback branch. Unproven shapes (widths
  * that depend on row values) stay untouched unless the user opts in
  * with `spark.graft.rangeJoin.bucketWidth` (seconds for temporal
  * keys, domain units for numeric; > 0), which rewrites every matching
  * join at that width with the cap-guarded fallback for long
  * intervals. `spark.graft.rangeJoin.auto=false` disables the
  * conf-free path. Malformed conf values are treated as unset — a bad
  * string in one session-wide conf must not fail unrelated queries
  * from inside the optimizer. [[RangeJoinRewrite.applied]] applies the
  * rewrite eagerly to one DataFrame without touching session conf.
  */
case class RangeJoinRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val widthOpt = spark.conf.getOption(RangeJoinRewrite.widthKey)
      .flatMap(_.toDoubleOption).filter(_ > 0)
    val autoOn = spark.conf.getOption(RangeJoinRewrite.autoKey)
      .flatMap(_.toBooleanOption).getOrElse(true)
    if (widthOpt.isEmpty && !autoOn) plan
    else {
      val cap = spark.conf.getOption(RangeJoinRewrite.capKey)
        .flatMap(_.toLongOption).getOrElse(4096L)
      RangeJoinRewrite.rewritePlan(
        plan, widthOpt, cap, spark.sessionState.conf.sessionLocalTimeZone)
    }
  }
}

object RangeJoinRewrite extends PredicateHelper {

  val widthKey = "spark.graft.rangeJoin.bucketWidth"
  val capKey = "spark.graft.rangeJoin.maxBucketsPerInterval"
  val autoKey = "spark.graft.rangeJoin.auto"

  /** Eager application to a single DataFrame: rewrite its analyzed plan
    * directly and rewrap. Used by `q_join_range_auto` / `q_join_overlap`
    * so the rewrite is scoped to one query instead of flipping a
    * session-global conf under the shared Verify/Bench session. Omitting
    * `width` exercises the default-on path: the bucket width is derived
    * from the statically proven interval width and the call fails fast
    * if the shape cannot be proven. */
  def applied(spark: SparkSession, df: org.apache.spark.sql.DataFrame,
      width: Double, cap: Long): org.apache.spark.sql.DataFrame =
    appliedOpt(spark, df, Some(width), cap)
  def applied(spark: SparkSession, df: org.apache.spark.sql.DataFrame,
      width: Double): org.apache.spark.sql.DataFrame =
    appliedOpt(spark, df, Some(width), 4096L)
  def applied(spark: SparkSession, df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    appliedOpt(spark, df, None, 4096L)

  private def appliedOpt(spark: SparkSession,
      df: org.apache.spark.sql.DataFrame,
      widthOpt: Option[Double], cap: Long): org.apache.spark.sql.DataFrame = {
    val before = df.queryExecution.analyzed
    val after =
      rewritePlan(before, widthOpt, cap, spark.sessionState.conf.sessionLocalTimeZone)
    require(!after.fastEquals(before),
      "RangeJoinRewrite.applied: no pure range/overlap join found to rewrite")
    org.apache.spark.sql.graftshim.ColumnShim.dataFrame(spark, after)
  }

  def rewritePlan(plan: LogicalPlan, width: Double, cap: Long,
      tz: String): LogicalPlan = rewritePlan(plan, Some(width), cap, tz)

  def rewritePlan(plan: LogicalPlan, widthOpt: Option[Double], cap: Long,
      tz: String): LogicalPlan =
    plan.transformUp {
      case j @ Join(_, _, Inner, Some(_), _) =>
        rewriteJoin(j, widthOpt, cap, tz).getOrElse(j)
    }

  private def bucketable(dt: DataType): Boolean = dt match {
    case _: NumericType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Monotone bucket id: floor(value-as-double / width), LongType. Date
    * and NTZ go through timestamp (session tz — NTZ→LTZ in a fixed zone
    * is monotone non-decreasing: DST gaps skip, overlaps collapse,
    * order never inverts, which is the only property bucketing needs);
    * every cast carries an explicit timeZoneId because this runs after
    * the analyzer's ResolveTimeZone pass. */
  private def toBucket(e: Expression, width: Double, tz: String): Expression = {
    val asDouble = e.dataType match {
      case DateType | TimestampNTZType =>
        Cast(Cast(e, TimestampType, Some(tz)), DoubleType, Some(tz))
      case DoubleType => e
      case _ => Cast(e, DoubleType, Some(tz))
    }
    Floor(Divide(asDouble, Literal(width)))
  }

  /** Decompose `e` as `(base, constantOffset)` in the axis units
    * toBucket divides by (seconds for temporal, raw value for numeric).
    * Identity casts and RuntimeReplaceable wrappers (`DatetimeSub` in an
    * analyzed plan) are transparent. Anything unrecognized is its own
    * base with offset 0 — always sound, just unproven. */
  private def baseOffset(e: Expression): (Expression, Double) = {
    def num(x: Expression): Option[Double] =
      if (!x.foldable) None
      else x.eval() match {
        case n: Number => Some(n.doubleValue)
        case d: org.apache.spark.sql.types.Decimal => Some(d.toDouble)
        case _ => None
      }
    e match {
      case c: Cast if c.dataType == c.child.dataType => baseOffset(c.child)
      case r: RuntimeReplaceable => baseOffset(r.replacement)
      case TimestampAddInterval(b, i, _)
          if i.dataType.isInstanceOf[DayTimeIntervalType] =>
        num(i).map { micros =>
          val (bb, o) = baseOffset(b); (bb, o + micros / 1e6)
        }.getOrElse((e, 0.0))
      case DateAdd(b, d) =>
        num(d).map { days =>
          val (bb, o) = baseOffset(b); (bb, o + days * 86400.0)
        }.getOrElse((e, 0.0))
      case Add(b, r, _) if r.dataType.isInstanceOf[NumericType] =>
        num(r).map { v => val (bb, o) = baseOffset(b); (bb, o + v) }
          .getOrElse((e, 0.0))
      case Add(l, b, _) if l.dataType.isInstanceOf[NumericType] && l.foldable =>
        num(l).map { v => val (bb, o) = baseOffset(b); (bb, o + v) }
          .getOrElse((e, 0.0))
      case Subtract(b, r, _) if r.dataType.isInstanceOf[NumericType] =>
        num(r).map { v => val (bb, o) = baseOffset(b); (bb, o - v) }
          .getOrElse((e, 0.0))
      case other => (other, 0.0)
    }
  }

  /** Statically proven max bucket-span of `[lo, hi]`: when both bounds
    * are `base ± constant` over the SAME base (the common shape — e.g.
    * `o_orderdate ± 2 days`), the value width is a plan-time constant
    * and the span is at most `floor((|Δ| + slack) / width) + 2`
    * (alignment margin; 4 h slack covers a DST-zone NTZ→LTZ conversion
    * shifting the two bounds by different offsets). A proven-short side
    * needs NO cap filter and NO theta fallback branch — which is what
    * deletes the extra input scans from the plan. */
  private def staticMaxBuckets(lo: Expression, hi: Expression,
      width: Double): Option[Long] = {
    val (bl, ol) = baseOffset(lo)
    val (bh, oh) = baseOffset(hi)
    if (!bl.semanticEquals(bh)) None
    else {
      val slack = lo.dataType match {
        case DateType | TimestampType | TimestampNTZType => 14400.0
        case _ => 0.0
      }
      Some(((math.abs(oh - ol) + slack) / width).toLong + 2L)
    }
  }

  /** Statically proven VALUE width of `[lo, hi]` in axis units (seconds
    * for temporal, raw for numeric): 0 for a point, `|Δ|` when both
    * bounds are `base ± constant` over the same base, None when the
    * width depends on row values. This is what lets the rule fire with
    * no configuration: a proven width is the textbook bucket width
    * (explosion ≤ 2 extra rows per side regardless of data), so the
    * default-on path derives `bucketWidth = max(side widths)` instead
    * of demanding a conf. */
  private def provenWidth(lo: Expression, hi: Expression): Option[Double] =
    if (lo.semanticEquals(hi)) Some(0.0)
    else {
      val (bl, ol) = baseOffset(lo)
      val (bh, oh) = baseOffset(hi)
      if (bl.semanticEquals(bh)) Some(math.abs(oh - ol)) else None
    }

  /** One join side as an interval `[lo, hi]` on the shared axis.
    * `shortEx` carries `bucketAttr` (projected for a point, exploded
    * for an interval); `shortPlain`/`long` feed the theta fallback
    * branches. */
  private case class Side(proj: LogicalPlan, loAttr: Attribute,
      hiAttr: Attribute, shortEx: LogicalPlan, bucketAttr: Attribute,
      shortPlain: LogicalPlan, long: Option[LogicalPlan], isPoint: Boolean)

  private def buildSide(p: LogicalPlan, lo: Expression, hi: Expression,
      tag: String, width: Double, cap: Long, tz: String): Side = {
    val provenShort = staticMaxBuckets(lo, hi, width).exists(_ <= cap)
    if (lo.semanticEquals(hi)) {
      val xAl = Alias(lo, s"__graft_${tag}_x")()
      // bucket from the original expr, not the sibling alias (a Project
      // cannot reference its own output) — once per row either way
      val bAl = Alias(toBucket(lo, width, tz), s"__graft_${tag}_bucket")()
      val proj = Project(p.output :+ xAl :+ bAl, p)
      Side(proj, xAl.toAttribute, xAl.toAttribute, proj, bAl.toAttribute,
        proj, None, isPoint = true)
    } else {
      val loAl = Alias(lo, s"__graft_${tag}_lo")()
      val hiAl = Alias(hi, s"__graft_${tag}_hi")()
      val proj = Project(p.output :+ loAl :+ hiAl, p)
      val blo = toBucket(loAl.toAttribute, width, tz)
      val bhi = toBucket(hiAl.toAttribute, width, tz)
      val nBuckets = Add(Subtract(bhi, blo), Literal(1L))
      // bound BOTH directions: an inverted interval (lo > hi — possible
      // with arbitrary bound expressions, and in the general overlap
      // shape it can still produce matches) makes sequence() descend,
      // whose length nb <= cap alone would not bound. A statically
      // proven-short side skips the runtime cap filter AND the theta
      // fallback branch: no extra scan of either input survives in the
      // common `base ± constant` shape.
      val shortPlain = if (provenShort) proj
        else Filter(And(
          LessThanOrEqual(nBuckets, Literal(cap)),
          GreaterThanOrEqual(nBuckets, Literal(-cap))), proj)
      val bAttr =
        AttributeReference(s"__graft_${tag}_bucket", LongType, nullable = false)()
      val gen = Generate(Explode(new Sequence(blo, bhi, None, Some(tz))),
        unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = Seq(bAttr), child = shortPlain)
      Side(proj, loAl.toAttribute, hiAl.toAttribute, gen, bAttr,
        shortPlain,
        if (provenShort) None
        else Some(Filter(Or(
          GreaterThan(nBuckets, Literal(cap)),
          LessThan(nBuckets, Literal(-cap))), proj)),
        isPoint = false)
    }
  }

  private def rewriteJoin(j: Join, widthOpt: Option[Double], cap: Long,
      tz: String): Option[LogicalPlan] = {
    val Join(left, right, _, Some(cond), _) = j
    // duplicating a side across branches is only sound if re-evaluating
    // it yields the same rows
    val deterministic = j.children.forall(
      _.find(_.expressions.exists(!_.deterministic)).isEmpty)
    if (!deterministic) return None

    val lOut = left.outputSet
    val rOut = right.outputSet
    // 1 = left-only, 2 = right-only, 0 = constant, 3 = mixed/unusable
    def sideOf(e: Expression): Int =
      if (!e.deterministic) 3
      else if (e.references.isEmpty) 0
      else if (e.references.subsetOf(lOut)) 1
      else if (e.references.subsetOf(rOut)) 2
      else 3

    val conjs = splitConjunctivePredicates(cond)
    val hasEqui = conjs.exists {
      case EqualTo(a, b) => Set(sideOf(a), sideOf(b)) == Set(1, 2)
      case EqualNullSafe(a, b) => Set(sideOf(a), sideOf(b)) == Set(1, 2)
      case _ => false
    }
    if (hasEqui) return None

    // Normalize every usable cross-side inequality to `big >= small`
    // (strictness is irrelevant for bucket containment).
    def norm(big: Expression, small: Expression): Seq[(Expression, Expression)] =
      if (Set(sideOf(big), sideOf(small)) == Set(1, 2) &&
        bucketable(big.dataType) && bucketable(small.dataType))
        Seq((big, small)) else Nil
    val ineqs = conjs.flatMap {
      case GreaterThanOrEqual(a, b) => norm(a, b)
      case GreaterThan(a, b) => norm(a, b)
      case LessThanOrEqual(a, b) => norm(b, a)
      case LessThan(a, b) => norm(b, a)
      case _ => Nil
    }
    // Opposite-orientation pair `(u >= v, s >= t)` with u,t on side A
    // and v,s on side B reads as intervals A=[t,u], B=[v,s] joined on
    // overlap: u>=v ⇔ aHi>=bLo, s>=t ⇔ bHi>=aLo. A BETWEEN is the
    // special case t ≡ u (or v ≡ s): prefer it — a point side needs no
    // explode, no dedup filter, and no fallback branch of its own.
    val found = for {
      (u, v) <- ineqs
      (s, t) <- ineqs
      if sideOf(t) == sideOf(u) && sideOf(s) == sideOf(v)
      if u.dataType == s.dataType // per-comparison equality ⇒ all four equal
    } yield (t, u, v, s)
    val pair = found.find { case (alo, ahi, blo, bhi) =>
      alo.semanticEquals(ahi) || blo.semanticEquals(bhi)
    }.orElse(found.headOption)

    pair.flatMap { case (alo, ahi, blo, bhi) =>
      // Explicit conf width rewrites every matching join (cap-guarded
      // fallback handles unproven widths). The conf-free default only
      // fires when BOTH sides' widths are plan-time constants — then
      // the bucket width derives from the proof and the rewrite is
      // guaranteed fallback-free, so auto mode can never make an
      // unproven query worse. Width choice is MEASURED (PLANS.md,
      // sf0.1 best-of-3): with a point side, a finer bucket costs only
      // ~W/width interval copies while shrinking each point's candidate
      // window ∝ width — optimum ≈ W/4 (1.18 s vs 1.67 s at W); with
      // two exploded interval sides both pay the copies, so the full
      // proven width wins (0.70 s vs 1.02 s at W/8). Either choice
      // stays statically proven-short (actual span ≈ 5 buckets).
      val effWidth: Option[Double] = widthOpt.orElse {
        (provenWidth(alo, ahi), provenWidth(blo, bhi)) match {
          case (Some(wa), Some(wb)) if math.max(wa, wb) > 0 =>
            val w = math.max(wa, wb)
            Some(if (math.min(wa, wb) == 0.0) w / 4 else w)
          case _ => None
        }
      }
      effWidth.map { width =>
      val (aPlan, bPlan) = if (sideOf(ahi) == 1) (left, right) else (right, left)
      val a = buildSide(aPlan, alo, ahi, "a", width, cap, tz)
      val b = buildSide(bPlan, blo, bhi, "b", width, cap, tz)
      // per-pair predicate over pre-projected attributes only
      val newCond = cond.transformUp {
        case e if e.semanticEquals(alo) => a.loAttr
        case e if e.semanticEquals(ahi) => a.hiAttr
        case e if e.semanticEquals(blo) => b.loAttr
        case e if e.semanticEquals(bhi) => b.hiAttr
      }

      val eq = EqualTo(a.bucketAttr, b.bucketAttr)
      // two exploded sides meet once per shared bucket: keep only the
      // first shared bucket; with a point side pairs already meet once
      val pairCond =
        if (a.isPoint || b.isPoint) newCond
        else And(newCond, EqualTo(b.bucketAttr, Greatest(Seq(
          toBucket(a.loAttr, width, tz), toBucket(b.loAttr, width, tz)))))
      val branchShort = Project(j.output,
        Filter(pairCond, Join(a.shortEx, b.shortEx, Inner, Some(eq), JoinHint.NONE)))
      // disjoint fallback partition: [A-long × B-all] ∪ [A-short × B-long]
      val branchALong = a.long.map(l => Project(j.output,
        Filter(newCond, Join(l, b.proj, Cross, None, JoinHint.NONE))))
      val branchBLong = b.long.map(l => Project(j.output,
        Filter(newCond, Join(a.shortPlain, l, Cross, None, JoinHint.NONE))))
      (Seq(branchShort) ++ branchALong ++ branchBLong)
        .reduceLeft[LogicalPlan](Union(_, _))
      }
    }
  }
}
