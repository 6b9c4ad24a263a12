package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Quantitative-distribution operators (north-star extension): inequality
  * (Gini/Lorenz), weighted order statistics, and change-point scoring —
  * the distribution-shape diagnostics a data warehouse runs over revenue
  * and a training-data pipeline runs over quality/token distributions.
  *
  * Scale + exactness stance (shared by all three):
  *  - The only fact-scale work is one equi-join/aggregate pass; every
  *    rank/prefix window runs either PARTITIONED (per-nation) or over a
  *    frame bounded by construction (the calendar date domain) — the
  *    partition-less-window fence (WindowLint, pinned by WindowLintSpec)
  *    covers both.
  *  - Money travels as exact integer cents; products that can pass 2^63
  *    at 100 TB (rank×cents, day-count×cents) accumulate in
  *    decimal(38,0), mirrored by HUGEINT in the oracle, and drop to
  *    double only through an exact decimal→double parse (the oracle side
  *    must `CAST(CAST(x AS VARCHAR) AS DOUBLE)` — DuckDB's direct
  *    hugeint→double double-rounds past 2^53). Identical IEEE op trees on
  *    identical operands need no rounding to hash-match.
  */
object Quant {

  /** Value-bucketed per-group rank/prefix machinery: `row_number()` (and
    * weighted cumulative sums) ordered by an integer VALUE column within
    * each group, computed WITHOUT a per-group window over raw rows — a
    * nation-keyed `Window.partitionBy(n_name)` has only ~25 partitions,
    * so at 100 TB each task would sort millions of rows. Instead the
    * value axis splits into ≤256 ORDER-PRESERVING buckets
    * (`(v − lo) >> shift`; lo/hi from a one-row aggregate collect, the
    * bounded-driver pattern of qPackSequences), ranks run within
    * (group, bucket) — 256× the parallelism — and per-bucket totals
    * (≤ groups×256 tiny rows) prefix-sum per group and broadcast back.
    * Equal values land in equal buckets, so bucket order + in-bucket
    * order IS the global value order; ranks are bit-identical to the
    * naive window, which is exactly what the plain-SQL oracles check. */
  private def valueBucket(df: DataFrame, v: String): DataFrame = {
    // LAZY bounds (r21, guide §1.2/§5): the bounds used to come from an
    // eager `agg(min,max).first()` — a full extra pass over the input
    // (for qWeightedMedian a fact-table scan; for qGiniNation the whole
    // join+aggregate pipeline) plus its own job's plan/codegen
    // round-trip, all before the real query started. Now they ride the
    // plan as a broadcast one-row aggregate; where the input subtree
    // contains an exchange (qGiniNation's custkey aggregate) Spark's
    // ReuseExchange computes it once for both consumers. The bit-length
    // form `length(bin(x)) = 64 − numberOfLeadingZeros(x)` reproduces
    // the old driver-side shift exactly, and the OUTPUT is invariant to
    // the bounds anyway: any monotone bucketing yields the same global
    // rank/prefix order (bounds only shape bucket granularity).
    valueBucketFrom(df, v, boundsOf(df, col(v)))
  }

  /** One-row (__lo, __shift) bounds aggregate over an arbitrary source
    * frame. Callers may pass a CHEAPER source than the bucketed frame
    * itself (qWeightedMedian: the raw projected fact column, skipping
    * the dimension joins) — by the invariance argument above any frame
    * whose min/max BOUND the bucketed column gives identical output. */
  private def boundsOf(src: DataFrame, c: Column): DataFrame =
    src.agg(
      min(c).as("__lo"),
      greatest(
        length(bin(greatest(max(c) - min(c), lit(1L)))) - 8,
        lit(0)).as("__shift"))

  private def valueBucketFrom(df: DataFrame, v: String,
      bounds: DataFrame): DataFrame =
    df.crossJoin(broadcast(bounds))
      .withColumn("__bkt",
        expr(s"shiftright($v - __lo, cast(__shift as int))"))
      .drop("__lo", "__shift")

  /** Gini coefficient of customer revenue inside each nation — the
    * inequality audit ("do 20% of customers carry 80% of revenue?").
    * Computed from the rank form G = (2·Σi·xᵢ − (n+1)·Σxᵢ)/(n·Σxᵢ) over
    * revenue ranked ascending within the nation: ONE fact-scale join
    * (lineitem⋈orders on orderkey) feeds a custkey aggregate; the rank
    * is the [[valueBucket]] two-level form (never a 25-partition
    * nation window); ties broken by custkey so both engines rank
    * identically; Σi·xᵢ accumulates in decimal because
    * rank(10⁷)×cents(10⁹) rows overflow bigint long before 100 TB.
    * Customer/nation attach by broadcast. */
  def qGiniNation(s: SparkSession, dir: String): DataFrame = {
    val rev = lineitem(s, dir)
      .select(col("l_orderkey"), cents(col("l_extendedprice")).as("pc"))
      .join(orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey")).agg(sum(col("pc")).as("rev"))
    val c = customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
    val n = nation(s, dir).select(col("n_nationkey"), col("n_name"))
    giniOf(rev
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey")))
  }

  /** Gini core over a (n_name, o_custkey, rev) frame — the two-level
    * ranked form, also driven directly by the ×100 scale probe. */
  private[graft] def giniOf(joined: DataFrame): DataFrame = {
    val b = valueBucket(joined, "rev")
    val withinW = Window.partitionBy(col("n_name"), col("__bkt"))
      .orderBy(col("rev"), col("o_custkey"))
    val offW = Window.partitionBy(col("n_name")).orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = b.groupBy(col("n_name"), col("__bkt"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(offW), lit(0L)))
      .select(col("n_name"), col("__bkt"), col("__off"))
    val ranked = b
      .join(broadcast(offsets), Seq("n_name", "__bkt"))
      .withColumn("i", col("__off") + row_number().over(withinW).cast("long"))
    val g = ranked.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("rev").cast("decimal(38,0)")).as("sx"),
        sum(col("i").cast("decimal(38,0)") * col("rev").cast("decimal(38,0)"))
          .as("six"))
    val nd = col("n_customers").cast("double")
    val sxd = col("sx").cast("double")
    val sixd = col("six").cast("double")
    g.select(col("n_name"), col("n_customers"),
        ((lit(2.0) * sixd - (nd + lit(1.0)) * sxd) / (nd * sxd)).as("gini"))
      .orderBy("n_name")
  }

  /** Weighted median unit price per supplier nation, weighted by
    * quantity: the order statistic that "half the shipped VOLUME cost
    * less than this". Classic prefix-sum selection — cumulative weight in
    * (price, orderkey, linenumber) order, the median being the first
    * value whose doubled cumulative weight reaches the nation total —
    * with the cumulative sum in the [[valueBucket]] two-level form, plus
    * a TARGET-BUCKET refinement: the per-(nation, bucket) weight totals
    * (a tiny aggregate) already locate the single bucket per nation
    * whose cumulative range straddles half the total — prior cum <
    * tot/2 ≤ cum-through-bucket — so only THAT bucket's raw rows flow
    * through the ordered window (~1/256 of the data; the rest is
    * filtered map-side by the broadcast target join). Everything is
    * exact integers end to end, and the result is identical to the
    * full prefix scan because the median row is in the straddling
    * bucket by definition. Supplier→nation attach by broadcast, so the
    * fact table is shuffled exactly once (the bucket totals aggregate;
    * the window sees only the surviving sliver). */
  def qWeightedMedian(s: SparkSession, dir: String): DataFrame = {
    val sup = supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
    val n = nation(s, dir).select(col("n_nationkey"), col("n_name"))
    // Bounds from the RAW projected fact column (r21): the broadcast
    // bounds row scans one lineitem column instead of re-running the
    // two dimension joins; the FK joins drop no rows, and even a
    // superset bound yields identical output (valueBucket invariance).
    val li = lineitem(s, dir)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        cents(col("l_extendedprice")).as("price_cents"),
        round(col("l_quantity")).cast("bigint").as("wt"))
    val rows = valueBucketFrom(li
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey")),
      "price_cents",
      boundsOf(lineitem(s, dir)
        .select(cents(col("l_extendedprice")).as("pc")), col("pc")))
    val withinW = Window.partitionBy(col("n_name"), col("__bkt"))
      .orderBy(col("price_cents"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offW = Window.partitionBy(col("n_name")).orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketAgg = rows.groupBy(col("n_name"), col("__bkt"))
      .agg(sum(col("wt")).as("__w"))
    val offsets = bucketAgg
      .withColumn("__off", coalesce(sum(col("__w")).over(offW), lit(0L)))
    // Total weight per nation derives from the same bucket aggregate
    // (exchange-reused), not a third scan of the fact table.
    val tot = bucketAgg.groupBy(col("n_name")).agg(sum(col("__w")).as("tot_wt"))
    val target = offsets.join(tot, "n_name")
      .filter(col("__off") * 2 < col("tot_wt") &&
        (col("__off") + col("__w")) * 2 >= col("tot_wt"))
      .select(col("n_name"), col("__bkt"), col("__off"), col("tot_wt"))
    rows.join(broadcast(target), Seq("n_name", "__bkt"))
      .withColumn("cumw", col("__off") + sum(col("wt")).over(withinW))
      .filter(col("cumw") * 2 >= col("tot_wt"))
      .groupBy(col("n_name"), col("tot_wt"))
      .agg(min(col("price_cents")).as("wmedian_cents"))
      .select(col("n_name"), col("tot_wt"), col("wmedian_cents"))
      .orderBy("n_name")
  }

  /** CUSUM change-point score over daily revenue: the k-th day's
    * deviation of the revenue trajectory from a constant-rate fit,
    * scaled by n to stay integral — Cₖ = n·Sₖ − k·T (Sₖ = prefix sum,
    * T = total, n = day count), the standard "where did the level
    * shift?" statistic with every term exact. Top-20 days by |Cₖ|.
    * The fact table collapses to the calendar-bounded day frame in one
    * aggregate; both global windows (day rank, prefix sum) read that
    * ~2.4k-row frame, never raw data; n·Sₖ reaches ~2.4k×10¹⁶ cents at
    * 100 TB — past bigint — so the products run in decimal and only the
    * final score drops to double (exact parse both engines). */
  def qCusumDaily(s: SparkSession, dir: String): DataFrame = {
    val daily = lineitem(s, dir)
      .groupBy(to_date(col("l_shipdate")).as("d"))
      .agg(sum(cents(col("l_extendedprice"))).as("daily_cents"))
    val w = Window.orderBy(col("d"))
    val pre = daily
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("s_k", sum(col("daily_cents")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = daily.agg(count(lit(1)).as("n_days"),
      sum(col("daily_cents")).as("t_cents"))
    val cusum = (col("n_days").cast("decimal(38,0)") *
        col("s_k").cast("decimal(38,0)") -
      col("k").cast("decimal(38,0)") * col("t_cents").cast("decimal(38,0)"))
      .cast("double")
    pre.crossJoin(broadcast(tot))
      // dates travel as UTC-midnight timestamps (driver-compare constraint)
      .select(col("d").cast("timestamp").as("d"), col("daily_cents"),
        cusum.as("cusum_scaled"))
      .orderBy(abs(col("cusum_scaled")).desc, col("d"))
      .limit(20)
  }

  /** Theil–Sen robust trend of daily revenue: the median of all
    * pairwise slopes (cents/day) — the estimator that shrugs off the
    * outlier days an OLS slope (q_stats_linreg) chases. The O(n²) pair
    * set is over the DAILY AGGREGATE, whose size is bounded by the date
    * domain, not the corpus (~2.4k days → ~3M pairs at any SF; the
    * aggregate side broadcasts) — the only formulation of Theil–Sen
    * that survives scale.
    *
    * Float discipline: each slope is one correctly-rounded division of
    * exact integers (Δcents / Δdays), so the slope multiset is
    * bit-identical across engines; the median interpolates two order
    * statistics of identical doubles with the same a + 0.5·(b−a) form
    * both sides — full precision, no rounding. */
  def qQuantTheilSen(s: SparkSession, dir: String): DataFrame = {
    val daily = orders(s, dir)
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(sum(cents(col("o_totalprice"))).as("rev"))
      .select(datediff(col("d"), lit("1992-01-01").cast("date")).as("dn"),
        col("rev"))
    val a = daily.select(col("dn").as("dn1"), col("rev").as("rev1"))
    val b = daily.select(col("dn").as("dn2"), col("rev").as("rev2"))
    val pairs = b.join(broadcast(a), col("dn1") < col("dn2"))
      .select(((col("rev2") - col("rev1")) /
        (col("dn2") - col("dn1")).cast("double")).as("slope"))
    val nDays = daily.agg(count(lit(1)).as("n_days"))
    pairs.agg(count(lit(1)).as("n_pairs"),
        percentile(col("slope"), lit(0.5)).as("sen_slope"))
      .crossJoin(broadcast(nDays))
      .select(col("n_days"), col("n_pairs"), col("sen_slope"))
  }

  /** Holt double-exponential smoothing (level + trend) of daily revenue
    * — the classic short-horizon forecaster (Holt 1957) and the
    * drift-aware sibling of the windowed [[graft.operators.Stats]] EWMA:
    * per day, the one-step-ahead forecast fitted = l + b and the updated
    * state l' = ½(y + l + b), b' = ½(b + l' − l) (α = β = ½).
    *
    * The recurrence is EXACT INTEGER: money is cents, halving is
    * `shiftright(·,1)` — arithmetic shift = floor division in Spark,
    * `>> 1` in DuckDB with identical floor semantics (verified on
    * negatives) — so a sequential fixpoint over 2.4k days is
    * oracle-checkable bit-for-bit with no float drift at any depth.
    *
    * Scale shape: the fact table collapses to the calendar-bounded
    * daily frame in one partial-agg'd shuffle (~2.4k rows at ANY scale
    * factor — the [[qQuantTheilSen]] date-domain argument); the
    * inherently sequential smoothing pass then runs as a single
    * `aggregate()` higher-order fold over that bounded array inside one
    * codegen'd projection — never a partition-less window over raw
    * rows, never a driver collect. */
  def qForecastHolt(s: SparkSession, dir: String): DataFrame =
    holtFrame(s, dir).orderBy("day")

  /** The Holt fold without the presentation sort — shared by
    * [[qForecastHolt]] and the conformal-interval audit. */
  private[graft] def holtFrame(s: SparkSession, dir: String): DataFrame = {
    val daily = orders(s, dir)
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(sum(cents(col("o_totalprice"))).as("y"))
    val seq = daily
      .agg(sort_array(collect_list(struct(col("d"), col("y")))).as("seq"))
    val stepped = seq.select(explode(expr(
      """aggregate(
        |  seq,
        |  struct(cast(0 as bigint) as l, cast(0 as bigint) as b, 0 as t,
        |    cast(array() as array<struct<d:date,y:bigint,fitted:bigint,level:bigint,trend:bigint>>) as out),
        |  (acc, x) -> named_struct(
        |    'l', if(acc.t = 0, x.y, shiftright(x.y + acc.l + acc.b, 1)),
        |    'b', if(acc.t = 0, cast(0 as bigint),
        |      shiftright(acc.b + shiftright(x.y + acc.l + acc.b, 1) - acc.l, 1)),
        |    't', acc.t + 1,
        |    'out', concat(acc.out, array(named_struct(
        |      'd', x.d, 'y', x.y,
        |      'fitted', if(acc.t = 0, x.y, acc.l + acc.b),
        |      'level', if(acc.t = 0, x.y, shiftright(x.y + acc.l + acc.b, 1)),
        |      'trend', if(acc.t = 0, cast(0 as bigint),
        |        shiftright(acc.b + shiftright(x.y + acc.l + acc.b, 1) - acc.l, 1)))))),
        |  acc -> acc.out)""".stripMargin)).as("r"))
    stepped.select(col("r.d").cast("timestamp").as("day"),
      col("r.y").as("revenue_cents"), col("r.fitted").as("fitted_cents"),
      (col("r.y") - col("r.fitted")).as("err_cents"),
      col("r.level").as("level_cents"), col("r.trend").as("trend_cents"))
  }

  /** Split-conformal prediction interval for the Holt one-step forecast
    * (Vovk's split/inductive conformal, the distribution-free coverage
    * guarantee): calibrate the 90% quantile of |error| on the first 80%
    * of days — rank ⌈0.9·(n_cal+1)⌉ of the sorted absolute errors, the
    * finite-sample-corrected conformal score — then report how often
    * the held-out last 20% of days actually landed within ±q̂. A
    * well-specified forecaster covers ≈ 90%; under-coverage flags
    * drift the point forecast hides.
    *
    * Everything is exact: errors are integer cents, the quantile is an
    * ORDER-STATISTIC pick (rank via cross-multiplied integer ceil, tie
    * broken by day), and coverage is an exact integer ratio — no float
    * enters until the final division. The ranks run over the
    * calendar-bounded daily frame ([[qQuantTheilSen]] argument). */
  def qForecastConformal(s: SparkSession, dir: String): DataFrame = {
    val hw = holtFrame(s, dir)
    val n = hw.agg(count(lit(1)).as("n_days"))
    val withT = hw.crossJoin(broadcast(n))
      .withColumn("t", row_number().over(Window.orderBy("day")))
      .withColumn("cal_n", expr("(8 * n_days) div 10"))
    val cal = withT.filter(col("t") <= col("cal_n"))
      .withColumn("r", row_number().over(
        Window.orderBy(abs(col("err_cents")), col("day"))))
    val q = cal
      .filter(col("r") === least(expr("(9 * (cal_n + 1) + 9) div 10"),
        col("cal_n")))
      .select(abs(col("err_cents")).as("q_cents"))
    withT.filter(col("t") > col("cal_n"))
      .crossJoin(broadcast(q))
      .agg(max(col("cal_n")).as("n_cal"), count(lit(1)).as("n_test"),
        max(col("q_cents")).as("q_cents"),
        sum(when(abs(col("err_cents")) <= col("q_cents"), 1L)
          .otherwise(0L)).as("n_covered"))
      .withColumn("coverage",
        col("n_covered").cast("double") / col("n_test").cast("double"))
  }

  /** Binary-segmentation change-point localization over daily revenue —
    * the argmax complement of [[qCusumDaily]]'s score list: the single
    * split k maximizing the between-segment variance reduction
    * n₁n₂/n·(μ₁−μ₂)², evaluated for every candidate day in one pass
    * over the calendar-bounded daily frame via prefix sums. The score
    * rewrites to (n₂S₁ − n₁S₂)²/(n₁n₂n): the numerator is EXACT
    * decimal(38,0) (inner term ~17 digits, squared ~34 — inside
    * decimal range; at 100 TB cents this is the arithmetic that
    * silently wraps in bigint), and the one division to double happens
    * on exactly-parsed operands, so both engines compute bit-identical
    * scores and agree on the argmax (ties → earlier day). DuckDB's
    * HUGEINT must round-trip through VARCHAR for the exact double
    * parse (the [[Quant]] header gotcha). */
  def qChangepointBinseg(s: SparkSession, dir: String): DataFrame = {
    val daily = orders(s, dir)
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(sum(cents(col("o_totalprice"))).as("rev"))
    val w = Window.orderBy("d")
    val pre = daily
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("s1", sum(col("rev")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("rev")).as("st"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val inner = dec(col("n") - col("k")) * dec(col("s1")) -
      dec(col("k")) * dec(col("st") - col("s1"))
    val score = (inner * inner).cast("double") /
      (col("k") * (col("n") - col("k")) * col("n")).cast("double")
    pre.crossJoin(broadcast(tot))
      .filter(col("k") < col("n"))
      .select(col("d").cast("timestamp").as("split_day"),
        col("k").as("n_left"), (col("n") - col("k")).as("n_right"),
        (col("s1").cast("double") / col("k").cast("double") / 100.0)
          .as("mean_left"),
        ((col("st") - col("s1")).cast("double") /
          (col("n") - col("k")).cast("double") / 100.0).as("mean_right"),
        score.as("score"))
      .orderBy(col("score").desc, col("split_day"))
      .limit(1)
  }

  /** Centered 7-day rolling MEDIAN of daily revenue — the robust
    * sibling of the rolling mean (q_window_moving): one outlier day
    * shifts a 7-day mean by outlier/7 but leaves the median untouched,
    * which is why robust anomaly baselines smooth with medians. Exact:
    * the window holds ≤7 integer cent values, and both engines
    * interpolate the even-count middle as lo + 0.5·(hi − lo) on exact
    * doubles — no rounding needed. The window reads the
    * calendar-bounded daily aggregate (the [[qCusumDaily]] frame
    * argument), never raw rows, so the partition-less ORDER BY is over
    * ~2.4k rows at any scale factor. */
  def qWindowMedian(s: SparkSession, dir: String): DataFrame = {
    val daily = orders(s, dir)
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(sum(cents(col("o_totalprice"))).as("rev"))
    val w = Window.orderBy("d").rowsBetween(-3, 3)
    daily.select(col("d").cast("timestamp").as("day"), col("rev"),
        percentile(col("rev"), lit(0.5)).over(w).as("med7_cents"))
      .orderBy("day")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_changepoint_binseg" -> qChangepointBinseg,
    "q_window_median" -> qWindowMedian,
    "q_forecast_conformal" -> qForecastConformal,
    "q_forecast_holt" -> qForecastHolt,
    "q_quant_theilsen" -> qQuantTheilSen,
    "q_gini_nation" -> qGiniNation,
    "q_weighted_median" -> qWeightedMedian,
    "q_cusum_daily" -> qCusumDaily)

  /** The Holt recurrence as DuckDB CTEs, shared by the forecast oracle
    * and the conformal-coverage oracle. */
  private val holtCte =
    """WITH RECURSIVE daily AS (
      |  SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t, d, y FROM (
      |    SELECT CAST(o_orderdate AS DATE) AS d,
      |      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      |    FROM orders GROUP BY 1)),
      |hw(t, d, y, fitted, l, b) AS (
      |  SELECT t, d, y, y AS fitted, y AS l, CAST(0 AS BIGINT) AS b FROM daily WHERE t = 1
      |  UNION ALL
      |  SELECT dd.t, dd.d, dd.y, hw.l + hw.b,
      |    (dd.y + hw.l + hw.b) >> 1,
      |    (hw.b + ((dd.y + hw.l + hw.b) >> 1) - hw.l) >> 1
      |  FROM daily dd JOIN hw ON dd.t = hw.t + 1)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_changepoint_binseg" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |pre AS (SELECT d, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS k,
        |    CAST(sum(rev) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s1
        |  FROM daily),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(rev) AS BIGINT) AS st FROM daily),
        |sc AS (SELECT d, k, n - k AS n2, s1, st - s1 AS s2,
        |    CAST((CAST(n - k AS HUGEINT) * s1 - CAST(k AS HUGEINT) * (st - s1)) *
        |         (CAST(n - k AS HUGEINT) * s1 - CAST(k AS HUGEINT) * (st - s1)) AS HUGEINT) AS num,
        |    k * (n - k) * n AS den
        |  FROM pre, tot WHERE k < n)
        |SELECT CAST(d AS TIMESTAMP) AS split_day, k AS n_left, n2 AS n_right,
        |  CAST(s1 AS DOUBLE) / k / 100.0 AS mean_left,
        |  CAST(s2 AS DOUBLE) / n2 / 100.0 AS mean_right,
        |  CAST(CAST(num AS VARCHAR) AS DOUBLE) / CAST(den AS DOUBLE) AS score
        |FROM sc ORDER BY score DESC, split_day LIMIT 1""".stripMargin,
    "q_window_median" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM orders GROUP BY 1)
        |SELECT CAST(d AS TIMESTAMP) AS day, rev,
        |  median(rev) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS med7_cents
        |FROM daily ORDER BY day""".stripMargin,
    "q_forecast_holt" -> (holtCte +
      """
        |SELECT CAST(d AS TIMESTAMP) AS day, y AS revenue_cents, fitted AS fitted_cents,
        |  y - fitted AS err_cents, l AS level_cents, b AS trend_cents
        |FROM hw ORDER BY day""".stripMargin),
    "q_forecast_conformal" -> (holtCte +
      """,
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM hw),
        |wt AS (SELECT hw.t, hw.d, abs(hw.y - hw.fitted) AS ae,
        |    (8 * n_days) // 10 AS cal_n FROM hw, nn),
        |cal AS (SELECT ae, cal_n,
        |    row_number() OVER (ORDER BY ae, d) AS r FROM wt WHERE t <= cal_n),
        |qv AS (SELECT ae AS q_cents FROM cal
        |  WHERE r = least((9 * (cal_n + 1) + 9) // 10, cal_n))
        |SELECT CAST(max(cal_n) AS BIGINT) AS n_cal,
        |  CAST(count(*) AS BIGINT) AS n_test,
        |  CAST(max(q_cents) AS BIGINT) AS q_cents,
        |  CAST(sum(CASE WHEN ae <= q_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
        |  CAST(sum(CASE WHEN ae <= q_cents THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) AS coverage
        |FROM wt, qv WHERE t > cal_n""".stripMargin),
    "q_quant_theilsen" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |n AS (SELECT date_diff('day', DATE '1992-01-01', d) AS dn, rev FROM daily),
        |p AS (SELECT (b.rev - a.rev) / CAST(b.dn - a.dn AS DOUBLE) AS slope
        |  FROM n a JOIN n b ON a.dn < b.dn)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM n) AS n_days,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  median(slope) AS sen_slope
        |FROM p""".stripMargin,
    "q_gini_nation" ->
      """WITH rev AS (SELECT o.o_custkey,
        |    CAST(sum(CAST(round(l.l_extendedprice*100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey GROUP BY 1),
        |ranked AS (SELECT n.n_name, rev.rev,
        |    row_number() OVER (PARTITION BY n.n_name ORDER BY rev.rev, rev.o_custkey) AS i
        |  FROM rev JOIN customer c ON rev.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |g AS (SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers,
        |    sum(CAST(rev AS HUGEINT)) AS sx,
        |    sum(CAST(i AS HUGEINT) * CAST(rev AS HUGEINT)) AS six
        |  FROM ranked GROUP BY 1)
        |SELECT n_name, n_customers,
        |  (2.0 * CAST(CAST(six AS VARCHAR) AS DOUBLE)
        |    - (CAST(n_customers AS DOUBLE) + 1.0) * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
        |  / (CAST(n_customers AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE)) AS gini
        |FROM g ORDER BY n_name""".stripMargin,
    "q_weighted_median" ->
      """WITH rows_ AS (SELECT n.n_name,
        |    CAST(round(l.l_extendedprice*100) AS BIGINT) AS price_cents,
        |    CAST(round(l.l_quantity) AS BIGINT) AS wt,
        |    l.l_orderkey, l.l_linenumber
        |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey),
        |cw AS (SELECT n_name, price_cents,
        |    CAST(sum(wt) OVER (PARTITION BY n_name
        |      ORDER BY price_cents, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumw
        |  FROM rows_),
        |tot AS (SELECT n_name, CAST(sum(wt) AS BIGINT) AS tot_wt FROM rows_ GROUP BY 1)
        |SELECT cw.n_name, tot.tot_wt, min(cw.price_cents) AS wmedian_cents
        |FROM cw JOIN tot ON cw.n_name = tot.n_name
        |WHERE cw.cumw * 2 >= tot.tot_wt
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "q_cusum_daily" ->
      """WITH daily AS (SELECT CAST(l_shipdate AS DATE) AS d,
        |    CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS daily_cents
        |  FROM lineitem GROUP BY 1),
        |pre AS (SELECT d, daily_cents,
        |    CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS k,
        |    CAST(sum(daily_cents) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s_k
        |  FROM daily),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(daily_cents) AS BIGINT) AS t_cents FROM daily)
        |SELECT d, daily_cents,
        |  CAST(CAST(CAST(n_days AS HUGEINT) * CAST(s_k AS HUGEINT)
        |    - CAST(k AS HUGEINT) * CAST(t_cents AS HUGEINT) AS VARCHAR) AS DOUBLE)
        |    AS cusum_scaled
        |FROM pre, tot
        |ORDER BY abs(cusum_scaled) DESC, d LIMIT 20""".stripMargin)
}
