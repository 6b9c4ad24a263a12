package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Core relational operator family: scan/project/filter, aggregation
  * (group-by, rollup, distinct), joins (broadcast, anti, semi, as-of,
  * range), windows (rank, running, lag), and set operations.
  *
  * Scale notes (100 TB design stance):
  *  - Filters/projections are plain Catalyst expressions → pushed into the
  *    parquet scan (verify with `.explain`: `PushedFilters`, `ReadSchema`).
  *  - Dimension joins (`part`, `supplier`, `customer`) use explicit
  *    `broadcast()` — at TPC-H-like ratios the dim side stays MBs while
  *    the fact side scales, so shuffle of the fact table is avoided.
  *  - The as-of join is a union+sort single-shuffle formulation, NOT a
  *    join+filter+window (which would materialize every (probe, build)
  *    pair). One shuffle by key, linear scan within partition.
  *  - The range join buckets the time axis and equi-joins on the bucket,
  *    turning an O(N*M) theta-join into a bounded equi-join.
  *  - All monetary aggregates use exact integer cents (see
  *    [[graft.Tables.cents]]) so results are deterministic and
  *    oracle-comparable bit-for-bit.
  */
object Relational {

  /** Scan + filter + projection; predicate and both columns reach the
    * parquet reader (pushdown + pruning). */
  def scanProjectFilter(s: SparkSession, dir: String): DataFrame = {
    lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-03-01").cast("timestamp") &&
        col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_shipdate"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** TPC-H Q1-shaped pricing summary: group-by with sum/count over exact
    * cents. Partial (map-side) aggregation makes the shuffle tiny: 6 groups
    * regardless of input scale. */
  def q1Agg(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir)
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("bigint")).as("sum_qty"),
        (sum(cents(col("l_extendedprice"))).cast("double") / 100)
          .as("sum_base_price"),
        (sum(cents(col("l_extendedprice")) *
          (lit(100) - cents(col("l_discount")))).cast("double") / 10000)
          .as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Rollup (grouping-sets family) over order status/priority. */
  def aggRollup(s: SparkSession, dir: String): DataFrame = {
    orders(s, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        (sum(cents(col("o_totalprice"))).cast("double") / 100).as("sum_price"))
      .orderBy(asc_nulls_first("o_orderstatus"),
        asc_nulls_first("o_orderpriority"))
  }

  /** Cube (full grouping-sets lattice) over order status/priority. */
  def aggCube(s: SparkSession, dir: String): DataFrame = {
    orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(asc_nulls_first("o_orderstatus"),
        asc_nulls_first("o_orderpriority"))
  }

  /** HLL sketch aggregation: approximate distinct parts per return flag.
    * No SQL oracle (sketch estimates are engine-specific); the exact
    * counterpart is q_agg_distinct and RelationalSpec bounds the error. */
  def aggApprox(s: SparkSession, dir: String): DataFrame = {
    lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")
  }

  /** Mergeable HLL sketches (Apache DataSketches via Spark 4 built-ins):
    * build one distinct-partkey sketch PER GROUP map-side, then
    * `hll_union_agg` merges the group sketches into a global estimate
    * WITHOUT re-touching the data — the 100 TB pre-aggregation pattern
    * where per-partition/per-day sketch columns are stored and any
    * later rollup (global, per-region, per-month) is a cheap union of
    * kilobyte sketches instead of a re-scan. No SQL oracle (sketch bytes
    * are engine-specific); RelationalSpec bounds both estimate layers
    * against the exact counts. */
  def aggHllPartial(s: SparkSession, dir: String): DataFrame = {
    val perFlag = lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(hll_sketch_agg(col("l_partkey"), lit(14)).as("sk"))
    val per = perFlag.select(col("l_returnflag"),
      hll_sketch_estimate(col("sk")).as("approx_parts"))
    val global = perFlag
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
        .as("approx_parts"))
      .select(lit("ALL").as("l_returnflag"), col("approx_parts"))
    per.union(global).orderBy("l_returnflag")
  }

  /** Grading companion for [[aggApprox]] (VERDICT r8 #1): the HLL
    * estimate is engine-specific, but its ERROR BOUND is data — emit the
    * exact distinct count (hash-checked against DuckDB) plus a
    * `within_tol` boolean the oracle asserts as literal TRUE. Gate: 5%
    * relative error = 2.5× the requested rsd (0.02) — the sketch is
    * deterministic for fixed data, and the slack absorbs fixture
    * regeneration. Integer arithmetic only (err·20 ≤ exact ⟺ err ≤ 5%),
    * so the boolean cannot drift by float rounding. */
  def aggApproxCheck(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_exact"),
        approx_count_distinct(col("l_partkey"), 0.02).as("est"))
      .select(col("l_returnflag"), col("n_exact"),
        (abs(col("est") - col("n_exact")) * 20 <= col("n_exact")).as("within_tol"))
      .orderBy("l_returnflag")

  /** Grading companion for [[aggHllPartial]]: checks BOTH sketch layers —
    * the per-group estimates AND the merged (`hll_union_agg`) global
    * estimate — against exact distinct counts. The global exact count
    * needs its own aggregate (per-group exacts don't compose: part keys
    * overlap across flags), which is precisely why the mergeable-sketch
    * pattern exists at 100 TB. lgK=14 → rsd ≈ 0.8%; gated at 5%. */
  def aggHllCheck(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir)
    val perFlag = li.groupBy(col("l_returnflag"))
      .agg(hll_sketch_agg(col("l_partkey"), lit(14)).as("sk"),
        countDistinct(col("l_partkey")).as("n_exact"))
    val per = perFlag.select(col("l_returnflag"), col("n_exact"),
      hll_sketch_estimate(col("sk")).as("est"))
    val global = perFlag
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est"))
      .crossJoin(li.agg(countDistinct(col("l_partkey")).as("n_exact")))
      .select(lit("ALL").as("l_returnflag"), col("n_exact"), col("est"))
    per.union(global)
      .select(col("l_returnflag"), col("n_exact"),
        (abs(col("est") - col("n_exact")) * 20 <= col("n_exact")).as("within_tol"))
      .orderBy("l_returnflag")
  }

  /** Explicit GROUPING SETS: status-only and priority-only rollups in one
    * pass (no full lattice). */
  def aggGroupingSets(s: SparkSession, dir: String): DataFrame = {
    orders(s, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        (sum(cents(col("o_totalprice"))).cast("double") / 100).as("sum_price"))
      .orderBy(asc_nulls_first("o_orderstatus"),
        asc_nulls_first("o_orderpriority"))
  }

  /** Exact distinct aggregation (count distinct parts/suppliers per flag). */
  def aggDistinct(s: SparkSession, dir: String): DataFrame = {
    lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")
  }

  /** TPC-H Q3-shaped: segment customers ⋈ orders ⋈ lineitem, revenue per
    * order, top 10. Customer side broadcast (dim ≪ fact at scale); the
    * orders⋈lineitem join shuffles on the key both sides already share. */
  def q3Shipping(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-06-01").cast("timestamp")
    val c = customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val o = orders(s, dir).filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = lineitem(s, dir).filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"),
        (cents(col("l_extendedprice")) * (lit(100) - cents(col("l_discount"))))
          .as("rev_e4"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg((sum(col("rev_e4")).cast("double") / 10000).as("revenue"))
      .orderBy(desc("revenue"), asc("o_orderdate"), asc("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-shaped: six-table local-supplier-volume join — revenue per
    * nation where customer and supplier sit in the same ASIA nation, one
    * order-year slice. The dim chain region→nation→supplier collapses
    * into ONE broadcast (region filter first, so only ASIA suppliers
    * ship); the two remaining joins shuffle on keys the fact tables
    * already carry (orderkey, then custkey). The same-nation predicate
    * rides as a post-join map-side filter once both nationkeys are in
    * flight — never a join of its own. Revenue in exact e4 integer units
    * until the final division. */
  def q5LocalVolume(s: SparkSession, dir: String): DataFrame = {
    val asia = region(s, dir).filter(col("r_name") === "ASIA")
    val n = nation(s, dir)
      .join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val sup = supplier(s, dir)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val o = orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val c = customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
    val li = lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"),
      (cents(col("l_extendedprice")) * (lit(100) - cents(col("l_discount"))))
        .as("rev_e4"))
    li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .filter(col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg((sum(col("rev_e4")).cast("double") / 10000).as("revenue"))
      .orderBy(desc("revenue"), asc("n_name"))
  }

  /** TPC-H Q10-shaped: returned-item reporting — the 20 customers who
    * returned the most revenue in one quarter, with their nation. Fact
    * joins shuffle on carried keys (orderkey, custkey); nation
    * broadcasts; the top-20 runs as TakeOrderedAndProject (per-partition
    * heaps, only 20 rows to the driver — never a global sort). Revenue
    * ties break on c_custkey so the limit is deterministic. */
  def q10Returns(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir).filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (cents(col("l_extendedprice")) * (lit(100) - cents(col("l_discount"))))
          .as("rev_e4"))
    val o = orders(s, dir)
      .filter(col("o_orderdate") >= lit("1995-10-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val c = customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
    val n = nation(s, dir).select(col("n_nationkey"), col("n_name"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg((sum(col("rev_e4")).cast("double") / 10000).as("revenue"))
      .orderBy(desc("revenue"), asc("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q2-shaped: cheapest supplier per part — the correlated
    * min-subquery decorrelated into a SINGLE aggregation pass:
    * `min(struct(price, suppkey))` computes the group minimum AND its
    * lexicographic tie-break (lowest suppkey among minimum-price rows) in
    * one map-side-combined shuffle on partkey, where the textbook plan
    * (min per group, then join the fact back on the min) scans the fact
    * twice and shuffles twice. Supplier and nation attributes attach
    * AFTER the aggregate — two broadcast lookups over one row per part.
    * Prices in exact cents; everything else integer/text, so the output
    * is engine-exact with no rounding. */
  def q2MinCost(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir).select(col("l_partkey"), col("l_suppkey"),
      cents(col("l_extendedprice")).as("price_cents"))
    val sup = supplier(s, dir).select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
    val n = nation(s, dir).select(col("n_nationkey"), col("n_name"))
    li.groupBy(col("l_partkey"))
      .agg(min(struct(col("price_cents"), col("l_suppkey"))).as("m"))
      .select(col("l_partkey").as("p_partkey"),
        col("m.price_cents").as("min_price_cents"),
        col("m.l_suppkey").as("s_suppkey"))
      .join(broadcast(sup), "s_suppkey")
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("p_partkey"), col("min_price_cents"),
        col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy("p_partkey")
  }

  /** TPC-H Q18-shaped: large-volume orders — orders whose total quantity
    * exceeds 300, with the customer who placed them. The HAVING filter
    * runs where it belongs: ONE partial-aggregated shuffle on orderkey
    * cuts ~15k orders to dozens BEFORE any join, so the orders join
    * probes with a frame a broadcast can carry at any SF and the customer
    * lookup is a second broadcast. Quantities are integral doubles in the
    * fixture — summed as bigint, so the threshold and output are exact. */
  def q18BigOrders(s: SparkSession, dir: String): DataFrame = {
    val big = lineitem(s, dir)
      .select(col("l_orderkey"), round(col("l_quantity")).cast("bigint").as("qty"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("qty")).as("total_qty"))
      .filter(col("total_qty") > 300)
    val o = orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderdate"), col("o_totalprice"))
    val c = customer(s, dir).select(col("c_custkey"), col("c_name"))
    o.join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      .orderBy(desc("total_qty"), asc("o_orderkey"))
  }

  /** Referential-integrity audit over the star schema's five FK edges,
    * with deterministically injected violations so the auditor provably
    * counts (orphaned lineitems via negated orderkeys, orders pointing at
    * negated custkeys, customers/suppliers moved to nonexistent nations —
    * both engines rebuild the same corruption). Each edge is a left-anti
    * join: dimension key sets (nation, customer, supplier, part)
    * broadcast; the lineitem→orders edge — the one parent that outgrows a
    * broadcast at 100 TB — shuffles on the join key both sides carry.
    * Output is one row per edge with total child rows and orphan count,
    * all exact integers. */
  def qRefIntegrity(s: SparkSession, dir: String): DataFrame = {
    val li0 = lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    val li = li0.union(li0.filter(col("l_orderkey") % 991 === 0)
      .select((-col("l_orderkey")).as("l_orderkey"), col("l_partkey"), col("l_suppkey")))
    val o0 = orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val o = o0.union(o0.filter(col("o_orderkey") % 997 === 0)
      .select(col("o_orderkey"), (-col("o_custkey")).as("o_custkey")))
    val c0 = customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
    val c = c0.union(c0.filter(col("c_custkey") % 499 === 0)
      .select(col("c_custkey"), (col("c_nationkey") + 1000).as("c_nationkey")))
    val s0 = supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
    val sup = s0.union(s0.filter(col("s_suppkey") % 97 === 0)
      .select(col("s_suppkey"), (col("s_nationkey") + 1000).as("s_nationkey")))
    val nKeys = nation(s, dir).select(col("n_nationkey"))
    def audit(name: String, child: DataFrame, key: String,
        parent: DataFrame, pkey: String, bcast: Boolean): DataFrame = {
      // Left join + conditional count instead of a separate anti-join so
      // each edge costs ONE pass over the child (total + orphan counts
      // from the same probe).
      val p = parent.select(col(pkey)).distinct().withColumn("__hit", lit(1))
      child.join(if (bcast) broadcast(p) else p, col(key) === col(pkey), "left")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("__hit").isNull, 1L).otherwise(0L)).as("n_orphans"))
        .select(lit(name).as("fk_edge"), col("n_rows"), col("n_orphans"))
    }
    audit("lineitem.orderkey->orders", li, "l_orderkey", o0.select("o_orderkey"), "o_orderkey", bcast = false)
      .union(audit("lineitem.partkey->part", li, "l_partkey",
        part(s, dir).select("p_partkey"), "p_partkey", bcast = true))
      .union(audit("lineitem.suppkey->supplier", li, "l_suppkey",
        s0.select("s_suppkey"), "s_suppkey", bcast = true))
      .union(audit("orders.custkey->customer", o, "o_custkey",
        c0.select("c_custkey"), "c_custkey", bcast = true))
      .union(audit("customer.nationkey->nation", c, "c_nationkey", nKeys, "n_nationkey", bcast = true))
      .union(audit("supplier.nationkey->nation", sup, "s_nationkey", nKeys, "n_nationkey", bcast = true))
      .orderBy("fk_edge")
  }

  /** Market-basket co-occurrence with lift: the top-30 part pairs bought
    * together in the same order, scored by lift = N·c₁₂/(c₁·c₂) — the
    * association-rule primitive. ONE pass over the fact: the per-order
    * basket (one shuffle on orderkey; the codegen
    * [[graft.plans.SortedPairsExpr]] kernel, shared with n-gram dedup,
    * emits canonical pairs IN-ARRAY so the blowup is bounded by basket
    * size, ≤7 lineitems per TPC-H order) explodes pairs, singleton
    * part keys, and a one-per-order sentinel TOGETHER — (d1,d2),
    * (d,-1), (-1,-1); partkeys are positive so -1 is free — and a
    * single count aggregation (second shuffle) yields pair counts, part
    * frequencies, AND the order count in one frame. Only that
    * aggregated frame is cached (|distinct pairs|+|parts|+1 rows — no
    * raw-basket cache materialization, the r7 cost), the top-30 cut
    * runs BEFORE the frequency joins (30 rows through two broadcast
    * lookups), and lift is one correctly-rounded division of
    * exact-integer doubles. The c₁₂-desc, (p1,p2)-asc order makes the
    * cut deterministic. */
  def qBasketLift(s: SparkSession, dir: String): DataFrame =
    // Fanned scan keyed on l_orderkey: the basket groupBy clusters on it,
    // so the fan-out replaces the one fact-scale exchange while
    // parallelizing the scan (Tables.fanned scaladoc).
    basketLiftOf(graft.Tables.fanned(s, dir, "lineitem", "l_orderkey"))

  /** [[qBasketLift]] over an arbitrary lineitem frame — the core the
    * ×100 scale probe drives directly. */
  private[graft] def basketLiftOf(li: DataFrame): DataFrame = {
    val counts = li
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("docs"))
      .select(explode(concat(
        graft.plans.GraftExpressions.sorted_pairs(col("docs")),
        expr("transform(docs, d -> struct(d AS d1, -1L AS d2))"),
        expr("array(struct(-1L AS d1, -1L AS d2))"))).as("p"))
      .groupBy(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .agg(count(lit(1)).as("c"))
      .cache() // small: one row per distinct pair/part + 1 sentinel
    // Materialize before fan-out (r21): the four consumers below (top
    // pairs + two broadcast frequency builds + the order count) are
    // submitted concurrently, and racing an unmaterialized cache each
    // re-ran the whole basket pipeline (r21 per-job profile: four overlapping
    // ~0.5 s jobs for one computation — the imagedup cache-race fix).
    graft.Tables.pin(counts)
    val pairs = counts.filter(col("d2") >= 0)
      .select(col("d1").as("p1"), col("d2").as("p2"), col("c").as("c12"))
      .orderBy(desc("c12"), asc("p1"), asc("p2"))
      .limit(30)
    val freq = counts.filter(col("d2") === -1 && col("d1") >= 0)
      .select(col("d1").as("pk"), col("c"))
    val nOrders = counts.filter(col("d1") === -1)
      .select(col("c").as("n_orders"))
    pairs
      .join(broadcast(freq.select(col("pk").as("p1"), col("c").as("c1"))), "p1")
      .join(broadcast(freq.select(col("pk").as("p2"), col("c").as("c2"))), "p2")
      .crossJoin(broadcast(nOrders))
      .select(col("p1"), col("p2"), col("c12"),
        (col("c12").cast("double") * col("n_orders").cast("double") /
          (col("c1").cast("double") * col("c2").cast("double"))).as("lift"))
      .orderBy(desc("c12"), asc("p1"), asc("p2"))
  }

  /** TPC-H Q21-shaped: suppliers who were the SOLE late shipper in a
    * multi-supplier order ("late" = shipped >75 days after the order
    * date — this fixture has no commit/receipt dates). The textbook
    * formulation is EXISTS + NOT-EXISTS correlated self-joins on
    * lineitem (three scans, three shuffles); a groupBy-then-join-back
    * still plans TWO lineitem scans (the aggregate and the probe subtree
    * diverge, so Catalyst cannot reuse the exchange). Here the per-order
    * facts the two subqueries ask for — supplier set and LATE supplier
    * set — ride a window over the SAME orderkey partition the rows
    * already sit in: one scan, one exchange, and the qualifying-pair
    * distinct reuses that partitioning (orderkey ⊆ its grouping keys).
    * The per-order sets are bounded by lines-per-order (~7), not data
    * volume. The closing supplier rollup shuffles one row per qualifying
    * pair — tiny at any scale. Output ordering (numwait desc, s_name) is
    * unique because supplier names are. */
  def q21LateSuppliers(s: SparkSession, dir: String): DataFrame = {
    // Fanned scan keyed on l_orderkey: the orders join AND the per-order
    // window both cluster on it — the fan-out replaces that exchange
    // (Tables.fanned scaladoc).
    val li = graft.Tables.fanned(s, dir, "lineitem", "l_orderkey")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val o = orders(s, dir).select(col("o_orderkey"), col("o_orderdate"))
    val joined = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 75 DAYS"))
    val byOrder = Window.partitionBy(col("l_orderkey"))
    joined
      .withColumn("n_supp", size(collect_set(col("l_suppkey")).over(byOrder)))
      .withColumn("n_late_supp",
        size(collect_set(when(col("late"), col("l_suppkey"))).over(byOrder)))
      .filter(col("late") && col("n_supp") > 1 && col("n_late_supp") === 1)
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("numwait"))
      .join(broadcast(supplier(s, dir).select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(desc("numwait"), asc("s_name"))
      .limit(20)
  }

  /** TPC-H Q16-shaped: how many DISTINCT suppliers can source each
    * (brand, type, size) part profile, excluding suppliers whose return
    * rate is strictly above the corpus-wide rate (the fixture's stand-in
    * for Q16's complaint filter; a FIXED threshold would be meaningless —
    * the synthetic returnflag is near-uniform, so every supplier sits in
    * 29–37%). The compare is the exact integer cross-multiplication
    * `r·N > R·n` in decimal (r·N passes 2⁶³ at 100 TB), so no float
    * threshold exists to drift. The exclusion list is a supplier-grain
    * aggregate (map-side combined, ≤|supplier| rows; the 1-row corpus
    * totals ride along broadcast) applied as a BROADCAST anti-join to the
    * distinct (part, supplier) pair frame — the pair distinct is the one
    * fact-scale shuffle; part attributes then attach per-pair by
    * broadcast and the profile rollup's countDistinct shuffles pairs,
    * already deduped, once more at profile grain. */
  def q16SupplierVariety(s: SparkSession, dir: String): DataFrame = {
    val perSupp = lineitem(s, dir)
      .groupBy(col("l_suppkey"))
      .agg(sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("r"),
        count(lit(1)).as("n"))
    val global = perSupp.agg(sum(col("r")).as("r_tot"), sum(col("n")).as("n_tot"))
    val excl = perSupp.crossJoin(broadcast(global))
      .filter(col("r").cast("decimal(38,0)") * col("n_tot").cast("decimal(38,0)") >
        col("r_tot").cast("decimal(38,0)") * col("n").cast("decimal(38,0)"))
      .select(col("l_suppkey"))
    val pairs = lineitem(s, dir).select("l_partkey", "l_suppkey").distinct()
      .join(broadcast(excl), Seq("l_suppkey"), "left_anti")
    pairs
      .join(broadcast(part(s, dir)
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"), asc("p_brand"), asc("p_type"), asc("p_size"))
      .limit(30)
  }

  /** TPC-H Q13-shaped: customer distribution by order count — how many
    * customers placed exactly k orders in a window, INCLUDING the
    * zero-order customers a plain groupBy would drop. Per-custkey counts
    * are one partial-aggregated shuffle on custkey; the customer LEFT
    * join runs custkey-to-custkey (co-partitioned, no broadcast needed
    * at any scale since both sides shard on the same key); the final
    * histogram is a tiny second aggregate (≤ max-orders-per-customer
    * groups regardless of corpus size). */
  def q13OrderCounts(s: SparkSession, dir: String): DataFrame = {
    val counted = orders(s, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("c_count"))
    customer(s, dir).select(col("c_custkey"))
      .join(counted, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("c_count"), lit(0L)).as("c_count"))
      .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  /** TPC-H Q17-shaped: small-quantity revenue — lineitems of one brand's
    * parts whose quantity is below 20% of that part's average quantity.
    * The correlated avg subquery decorrelates into a per-part aggregate
    * joined back on partkey (both sides co-partitioned on partkey: one
    * shuffle each, no broadcast of fact-scale data). The 0.2·avg compare
    * is EXACT: avg = sum/cnt over integral quantities, so
    * qty < 0.2·(sum/cnt) ⟺ 5·qty·cnt < sum in pure bigint — no float
    * enters until the final cents→double division. */
  def q17SmallQty(s: SparkSession, dir: String): DataFrame = {
    val brandParts = part(s, dir).filter(col("p_brand") === "Brand#23")
      .select(col("p_partkey"))
    val li = lineitem(s, dir)
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), round(col("l_quantity")).cast("bigint").as("qty"),
        cents(col("l_extendedprice")).as("price_cents"))
    val perPart = li.groupBy(col("l_partkey"))
      .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("cnt"))
      .withColumnRenamed("l_partkey", "agg_partkey")
    li.join(perPart, col("l_partkey") === col("agg_partkey"))
      .filter(col("qty") * 5 * col("cnt") < col("sum_qty"))
      .agg(count(lit(1)).as("n_small"),
        (sum(col("price_cents")).cast("double") / 100).as("lost_revenue"))
  }

  /** TPC-H Q22-shaped: idle rich customers — above the positive-balance
    * average with NO orders in the recent window, per nation. The scalar
    * average rides as a 1-row broadcast; the compare is exact integer
    * cross-multiplication (bal·n_pos > sum_pos in cents — no float
    * threshold). The "no recent orders" test is a LEFT ANTI join on
    * custkey against a date-pruned orders scan: at 100 TB the date
    * filter reaches the parquet reader and the anti join shuffles only
    * the surviving keys. */
  def q22IdleRich(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir).select(col("c_custkey"), col("c_nationkey"),
      cents(col("c_acctbal")).as("bal_cents"))
    val posAvg = c.filter(col("bal_cents") > 0)
      .agg(sum(col("bal_cents")).as("sum_pos"), count(lit(1)).as("n_pos"))
    val recent = orders(s, dir)
      .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    c.crossJoin(broadcast(posAvg))
      .filter(col("bal_cents") * col("n_pos") > col("sum_pos"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_idle"),
        (sum(col("bal_cents")).cast("double") / 100).as("total_bal"))
      .orderBy("c_nationkey")
  }

  /** TPC-H Q7-shaped: bilateral shipping volume — revenue flowing between
    * two nations (either direction) by ship year. Supplier-nation and
    * customer-nation are both tiny dim chains folded into broadcasts
    * BEFORE touching facts, and each is pre-filtered to the two nations
    * of interest, so the fact joins carry only qualifying rows: lineitem
    * joins suppliers map-side (broadcast), orders on orderkey, customers
    * on custkey — the two fact shuffles the flow inherently needs. The
    * cross-pair filter (supp ≠ cust nation) is a residual map-side
    * predicate once both nation names are in flight. */
  def q7NationFlows(s: SparkSession, dir: String): DataFrame = {
    val twoNations = nation(s, dir)
      .filter(col("n_name").isin("NATION_3", "NATION_7"))
    val sup = supplier(s, dir)
      .join(broadcast(twoNations), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = customer(s, dir)
      .join(broadcast(twoNations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val li = lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"),
      year(col("l_shipdate")).as("ship_year"),
      (cents(col("l_extendedprice")) * (lit(100) - cents(col("l_discount"))))
        .as("rev_e4"))
    li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
      .agg((sum(col("rev_e4")).cast("double") / 10000).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "ship_year")
  }

  /** Open-interval counting by sweep line: how many lineitems were
    * "in flight" (ordered but not yet shipped) on each boundary date.
    * The naive plan is a dates × intervals range theta-join — the exact
    * shape that makes DuckDB's nested-loop q_join_range comparator take
    * 60+ s — re-expressed as the classic event-sweep: every interval
    * contributes a +1 at its start date and a −1 the day after its end,
    * one groupBy collapses the deltas to the DATE DOMAIN (bounded by the
    * calendar span of the dataset — ~2.4k days here and data-volume-
    * independent, unlike row counts), and one global cumulative sum over
    * that aggregated frame yields the open count. The only fact-scale
    * work is the lineitem⋈orders equi-join; the partition-less window
    * reads calendar-many rows (WindowLint-fenced). */
  def qOrdersOpen(s: SparkSession, dir: String): DataFrame = {
    // The synthetic fixture draws shipdate independently of orderdate, so
    // ~half the rows "ship" before they are ordered — a negative-length
    // interval that would silently corrupt the delta stream (a −1 BEFORE
    // its +1). A sweep line is only sound over valid intervals; the
    // filter is the data-quality gate every interval operator needs
    // (caught by the brute-force spot check in RelationalSpec).
    val iv = lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate"))
      .join(orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >= col("o_orderdate"))
      .select(to_date(col("o_orderdate")).as("d0"),
        date_add(to_date(col("l_shipdate")), 1).as("d1"))
    val deltas = iv.select(explode(array(
        struct(col("d0").as("d"), lit(1L).as("delta")),
        struct(col("d1").as("d"), lit(-1L).as("delta")))).as("e"))
      .select(col("e.d").as("d"), col("e.delta").as("delta"))
      .groupBy(col("d")).agg(sum(col("delta")).as("delta"))
    val w = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas.withColumn("open_cnt", sum(col("delta")).over(w))
      // dates travel as UTC-midnight timestamps (driver-compare constraint)
      .select(col("d").cast("timestamp").as("d"), col("delta"), col("open_cnt"))
      .orderBy("d")
  }

  /** Broadcast-hash dimension join: lineitem ⋈ part, rolled up by brand. */
  def joinBroadcast(s: SparkSession, dir: String): DataFrame = {
    val p = part(s, dir).select("p_partkey", "p_brand")
    lineitem(s, dir).select("l_partkey", "l_quantity")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(col("l_quantity").cast("bigint")).as("sum_qty"),
        count(lit(1)).as("n_items"))
      .orderBy("p_brand")
  }

  /** Anti join: customers with no pending ('P') order (NOT EXISTS). */
  def joinAnti(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir).filter(col("o_orderstatus") === "P")
      .select(col("o_custkey"))
    customer(s, dir)
      .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * match NULL keys instead of dropping out — the semantics a dimension
    * join needs when "unknown" is itself a category. The nullable key is
    * derived (`nullif(status, 'O')` makes open orders an "unknown"
    * bucket); the distinct-key dim frame (≤3 rows incl. NULL) broadcasts,
    * so the fact side is never shuffled: a null-safe broadcast hash join
    * plans identically to the plain one (the null check folds into the
    * key comparison, no fallback to nested-loop). */
  def joinNullsafe(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
      .select(col("o_orderkey"), nullif(col("o_orderstatus"), lit("O")).as("k"))
    val dim = o.select(col("k").as("dk")).distinct()
    o.join(broadcast(dim), col("k") <=> col("dk"))
      .groupBy(col("dk"))
      .agg(count(lit(1)).as("n_orders"), min(col("o_orderkey")).as("min_key"))
      .orderBy(col("dk"))
  }

  /** Semi join: suppliers with at least one returned lineitem (EXISTS). */
  def joinSemi(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir).filter(col("l_returnflag") === "R")
      .select(col("l_suppkey"))
    supplier(s, dir)
      .join(li, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_suppkey", "s_name")
      .orderBy("s_suppkey")
  }

  /** Full outer join: per-day reconciliation of orders placed vs
    * lineitems shipped — days exist on either side alone (order-only
    * early days, ship-only tail days), so the join must preserve both.
    * Both inputs pre-aggregate to one row per day BEFORE the join (the
    * exchanges carry date-keyed partials, not fact rows) and the outer
    * join itself runs over two tiny day-keyed sets. */
  def joinOuter(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("n_orders"))
    val l = lineitem(s, dir)
      .groupBy(to_date(col("l_shipdate")).as("d"))
      .agg(count(lit(1)).as("n_ships"))
    // the day ships as a yyyy-MM-dd string: DATE values round-trip
    // differently through the driver's pandas compare (date vs datetime)
    o.join(l, Seq("d"), "full_outer")
      .select(date_format(col("d"), "yyyy-MM-dd").as("d"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("n_ships"), lit(0L)).as("n_ships"))
      .orderBy("d")
  }

  /** Ranking window: latest order per customer. */
  def windowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(desc("o_orderdate"), desc("o_orderkey"))
    orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_orderstatus")
      .orderBy("o_custkey")
  }

  /** Running-total window: cumulative spend per customer in exact cents. */
  def windowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        cents(col("o_totalprice")).as("price_cents"))
      .withColumn("running_cents", sum(col("price_cents")).over(w))
      .select(col("o_custkey"), col("o_orderkey"),
        (col("running_cents").cast("double") / 100).as("running_total"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** 7-day moving average over the per-priority daily revenue series — a
    * bounded ROWS frame (6 preceding + current) on TOP of the daily
    * aggregate, so the window input is one row per (priority, day), not
    * the raw fact table: the aggregate shrinks the data BEFORE the sort,
    * which is what keeps a 100 TB moving average tractable. The average
    * divides two exact integers (windowed cent sum / windowed row count),
    * so the float hash-matches. */
  def windowMoving(s: SparkSession, dir: String): DataFrame = {
    val daily = orders(s, dir)
      .groupBy(col("o_orderpriority"), to_date(col("o_orderdate")).as("day"))
      .agg(sum(cents(col("o_totalprice"))).as("day_cents"))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("day"))
      .rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("win_cents", sum(col("day_cents")).over(w))
      .withColumn("n_days", count(lit(1)).over(w))
      .select(col("o_orderpriority"), col("day").cast("timestamp").as("day"),
        col("day_cents"), col("win_cents"), col("n_days"),
        (col("win_cents").cast("double") / col("n_days").cast("double"))
          .as("avg_cents"))
      .orderBy("o_orderpriority", "day")
  }

  /** Ratio-to-report: each (flag, status) cell's share of its flag's
    * revenue. The share window runs over the 6-row AGGREGATE, never the
    * fact table — pre-aggregate, then window, the scalable order. */
  def windowShare(s: SparkSession, dir: String): DataFrame = {
    val cells = lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(cents(col("l_extendedprice"))).as("cell_cents"))
    val w = Window.partitionBy(col("l_returnflag"))
    cells
      .withColumn("flag_cents", sum(col("cell_cents")).over(w))
      .select(col("l_returnflag"), col("l_linestatus"), col("cell_cents"),
        (col("cell_cents").cast("double") / col("flag_cents").cast("double"))
          .as("share"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Lag window: gap in days since the customer's previous order. */
  def windowLag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    orders(s, dir)
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .select(col("o_custkey"), col("o_orderkey"),
        coalesce(datediff(col("o_orderdate"), col("prev_date")), lit(-1))
          .as("days_since_prev"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Distribution windows: quartile (`ntile`), `percent_rank`, and
    * `cume_dist` of order value within each status, plus the cheapest
    * order key over the full frame (`first` with an explicit unbounded
    * frame) — the analytic-function family the reference lacks (§2.8).
    * Ordering key is exact cents + orderkey, so ranks are deterministic
    * and the rank-ratio doubles are engine-exact (int/int division). */
  def windowDistribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(cents(col("o_totalprice")), col("o_orderkey"))
    orders(s, dir)
      .select(col("o_orderstatus"), col("o_orderkey"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cum_dist"),
        first(col("o_orderkey"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
          .as("cheapest_key"))
      .orderBy("o_orderstatus", "o_orderkey")
  }

  /** Map scalar functions (absent from the reference, §2.11): per-status
    * map of priority→order count assembled with
    * `map_from_entries(array_sort(collect_list(struct(...))))`, consumed
    * with `try_element_at` / `map_keys` / `size`. The sort before map
    * construction pins entry order, so key listings are deterministic on
    * any partitioning. */
  def mapFuncs(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("o_orderstatus"))
      .agg(map_from_entries(
        array_sort(collect_list(struct(col("o_orderpriority"), col("n")))))
        .as("m"))
      .select(col("o_orderstatus"),
        size(col("m")).as("n_priorities"),
        coalesce(try_element_at(col("m"), lit("1-URGENT")), lit(0L)).as("urgent_n"),
        coalesce(try_element_at(col("m"), lit("5-LOW")), lit(0L)).as("low_n"),
        concat_ws(",", map_keys(col("m"))).as("priorities"))
      .orderBy("o_orderstatus")

  /** RANGE-frame window (time-based, not row-based): per event, the
    * user's running count and exact-cents sum over the PRECEDING HOUR of
    * their own activity — frames defined by event-time distance, so ties
    * and gaps behave correctly where a ROWS frame would miscount. One
    * shuffle on user_id; per-user state is one hour of that user's
    * events. */
  def qWindowTimerange(s: SparkSession, dir: String): DataFrame = {
    // exact integer microseconds on both engines: a seconds cast would
    // truncate fractional timestamps and shift frame boundaries
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600L * 1000000L, 0L)
    events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        cents(col("value")).as("v"))
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_last_hour"),
        (sum(col("v")).over(w).cast("double") / 100).as("sum_last_hour"))
      .orderBy("event_id")
  }

  /** Time-series resampling with gap fill: orders per calendar day over
    * the full span, days with no orders emitted as zero — the date spine
    * is `sequence()` over the global min/max (a 1-row broadcast feeding a
    * generator), never a driver-side loop, so the spine costs one tiny
    * aggregate at any corpus size. The spine side of the fill join is
    * broadcast: days are few even over decades, the daily partials are
    * the big side. */
  def qResampleDaily(s: SparkSession, dir: String): DataFrame = {
    val span = orders(s, dir)
      .agg(min(to_date(col("o_orderdate"))).as("d0"),
        max(to_date(col("o_orderdate"))).as("d1"))
    val spine = span
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val daily = orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n"))
    // broadcast the DAILY side: it is post-aggregation (one row per
    // active day) and it is the side a left-outer join can actually
    // build — a hint on the preserved spine side would be silently
    // dropped (JoinSelection can't broadcast-build the left of a
    // LeftOuter), falling back to shuffling both sides
    spine.join(broadcast(daily), Seq("day"), "left")
      // timestamp (UTC midnight) rather than date: pandas folds an SQL
      // DATE into datetime64 anyway, so a date-typed column can never
      // value-match the oracle in the driver's compare
      .select(col("day").cast("timestamp").as("day"),
        coalesce(col("n"), lit(0L)).as("n_orders"))
      .orderBy("day")
  }

  /** INTERSECT: customers having both a finished and an open order. */
  def setIntersect(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      .intersect(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
      .orderBy("o_custkey")
  }

  /** EXCEPT: customers with finished orders but no open ones. */
  def setExcept(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      .except(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
      .orderBy("o_custkey")
  }

  /** As-of join: for each purchase event, the most recent signup event of
    * the same user at-or-before it.
    *
    * Single-shuffle formulation: tag both sides, union, sort within user by
    * (ts, side) and carry the last non-null signup ts forward with
    * `last(ignoreNulls)`. No pair materialization — at 100 TB this is one
    * shuffle by user_id and a linear within-partition pass, where the naive
    * join+window would build |purchases|×|signups| rows per user first.
    */
  def joinAsOf(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("ts").as("signup_ts"),
        lit(0).as("side"), lit(null).cast("long").as("event_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        lit(null).cast("timestamp").as("signup_ts"),
        lit(1).as("side"), col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    signups.unionByName(purchases)
      .withColumn("last_signup_ts", last(col("signup_ts"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select("event_id", "user_id", "ts", "last_signup_ts")
      .orderBy("event_id")
  }

  /** Nearest as-of join (the pandas merge_asof direction=nearest shape,
    * completing the backward [[joinAsOf]]): for each purchase, the
    * signup of the same user CLOSEST in time, either direction, ties to
    * the earlier one. Same single-shuffle union trick — both direction
    * windows share the ONE (user_id, ts, side) sort, so the whole
    * bidirectional lookup is one exchange + one within-partition pass
    * (`last ignoreNulls` backward, `first ignoreNulls` forward; an
    * equal-ts signup sorts before the purchase, so it is found by the
    * backward window at distance 0 — which wins any tie anyway). */
  def joinAsOfNearest(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("ts").as("signup_ts"),
        lit(0).as("side"), lit(null).cast("long").as("event_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        lit(null).cast("timestamp").as("signup_ts"),
        lit(1).as("side"), col("event_id"))
    val base = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("side"))
    val back = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    signups.unionByName(purchases)
      .withColumn("prev_ts", last(col("signup_ts"), ignoreNulls = true).over(back))
      .withColumn("next_ts", first(col("signup_ts"), ignoreNulls = true).over(fwd))
      .filter(col("side") === 1)
      .withColumn("d_prev", unix_micros(col("ts")) - unix_micros(col("prev_ts")))
      .withColumn("d_next", unix_micros(col("next_ts")) - unix_micros(col("ts")))
      .withColumn("nearest_signup_ts",
        when(col("prev_ts").isNull && col("next_ts").isNull,
          lit(null).cast("timestamp"))
          .when(col("next_ts").isNull ||
            (col("prev_ts").isNotNull && col("d_prev") <= col("d_next")),
            col("prev_ts"))
          .otherwise(col("next_ts")))
      .withColumn("direction",
        when(col("nearest_signup_ts").isNull, lit(null).cast("string"))
          .when(col("nearest_signup_ts") <=> col("prev_ts"), lit("backward"))
          .otherwise(lit("forward")))
      .withColumn("delta_us",
        when(col("direction") === "backward", col("d_prev"))
          .when(col("direction") === "forward", col("d_next")))
      .select("event_id", "user_id", "ts", "nearest_signup_ts",
        "direction", "delta_us")
      .orderBy("event_id")
  }

  /** Range join: returned lineitems shipped within ±2 days of an urgent
    * order's date. Bucketized: both sides are keyed to a day bucket (the
    * probe side exploded to the 5 candidate buckets), equi-joined on the
    * bucket, then the exact range predicate is applied — bounded work per
    * row instead of an O(N·M) theta join.
    */
  def joinRange(s: SparkSession, dir: String): DataFrame = {
    val day = 86400L
    val o = orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate"),
        (unix_timestamp(col("o_orderdate")) / day).cast("long").as("bucket"))
    // Fanned scan: the 5-way bucket explode and timestamp math run
    // map-side on the single-row-group fixture's one core otherwise
    // (Tables.fanned scaladoc).
    val li = graft.Tables.fanned(s, dir, "lineitem", "l_orderkey")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_shipdate"),
        (unix_timestamp(col("l_shipdate")) / day).cast("long").as("li_bucket"))
      .withColumn("bucket", explode(sequence(col("li_bucket") - 2, col("li_bucket") + 2)))
    li.join(o, Seq("bucket"))
      .filter(abs(unix_timestamp(col("l_shipdate")) - unix_timestamp(col("o_orderdate"))) <= 2 * day)
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_near_shipments"))
      .orderBy("o_orderkey")
  }

  /** [[joinRange]]'s semantics written the way a naive user would — a
    * pure theta join (`l_shipdate BETWEEN o_orderdate ± 2 days`), which
    * Spark would plan as an O(N·M) BroadcastNestedLoopJoin — then
    * bucketized AUTOMATICALLY by [[graft.plans.RangeJoinRewrite]]
    * (applied eagerly, so the shared session's conf stays untouched).
    * `applied` throws if the rule fails to fire, making this
    * CORRECTNESS row a hard end-to-end proof that the optimizer rule
    * both rewrites and preserves semantics: its oracle is the identical
    * DuckDB SQL as hand-bucketized [[joinRange]]. */
  def joinRangeAuto(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate"))
    val li = graft.Tables.fanned(s, dir, "lineitem", "l_orderkey")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_shipdate"))
    val naive = li.join(o,
        col("l_shipdate") >= col("o_orderdate") - expr("INTERVAL 2 DAYS") &&
          col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 2 DAYS"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_near_shipments"))
      .orderBy("o_orderkey")
    // no width passed: the rule derives it from the statically proven
    // `o_orderdate ± 2 days` interval — the default-on path a naive
    // user's un-configured session gets via GraftExtensions
    graft.plans.RangeJoinRewrite.applied(s, naive)
  }

  /** Two-sided interval-OVERLAP join, the general shape
    * [[graft.plans.RangeJoinRewrite]] bucketizes: each returned-lineitem
    * "shipment window" `[l_shipdate, +2 days]` against each urgent
    * order's "fulfillment window" `[o_orderdate, +3 days]`, counted per
    * order. Written as the naive theta join (O(N·M) nested loop without
    * the rule), then rewritten: BOTH sides explode to their overlapped
    * buckets, equi-join on the bucket, and the pair is kept only in its
    * FIRST shared bucket (`bucket == greatest(bucket(aLo), bucket(bLo))`)
    * so each qualifying pair survives exactly once with no dedup
    * shuffle. DuckDB plans the same SQL as IEJoin, so this row is graded
    * against the comparator's good plan. */
  def joinOverlap(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate"))
    val li = lineitem(s, dir)
      .filter(col("l_returnflag") === "R" && col("l_quantity") <= 2)
      .select(col("l_orderkey"), col("l_shipdate"))
    val naive = li.join(o,
        col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 3 DAYS") &&
          col("o_orderdate") <= col("l_shipdate") + expr("INTERVAL 2 DAYS"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_overlap"))
      .orderBy("o_orderkey")
    // conf-free: both windows are `base + constant`, so the rule proves
    // widths 2d/3d and buckets at the wider one on its own
    graft.plans.RangeJoinRewrite.applied(s, naive)
  }

  /** Interval join (point-in-interval): events against a small table of
    * overlapping campaign windows (derived from `nation` — 3-day windows
    * staggered by a day, so one event can land in several). The window
    * side broadcasts: the fact scan evaluates the interval predicate
    * map-side (BroadcastNestedLoopJoin with a 25-row build — the
    * deliberate probe pattern) and only per-campaign aggregate partials
    * shuffle. When BOTH sides are large, bucketize the time axis into an
    * equi-join exactly as [[joinRange]] does. */
  def joinInterval(s: SparkSession, dir: String): DataFrame = {
    val camp = nation(s, dir).select(
      col("n_nationkey").as("campaign_id"),
      expr("timestamp'2024-01-01 00:00:00' + make_dt_interval(n_nationkey)").as("start_ts"),
      expr("timestamp'2024-01-01 00:00:00' + make_dt_interval(n_nationkey + 3)").as("end_ts"))
    events(s, dir).join(broadcast(camp),
        col("ts") >= col("start_ts") && col("ts") < col("end_ts"))
      .groupBy(col("campaign_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(cents(col("value"))).as("sum_value_cents"))
      .orderBy("campaign_id")
  }

  /** Pivot (row→column transpose, the in-engine analog of the reference's
    * columnar transpose, `db.rs:72-86`): order counts per priority with
    * one column per status. */
  def pivot(s: SparkSession, dir: String): DataFrame = {
    orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("f_cnt"),
        coalesce(col("O"), lit(0L)).as("o_cnt"),
        coalesce(col("P"), lit(0L)).as("p_cnt"))
      .orderBy("o_orderpriority")
  }

  /** Unpivot (columns→rows, UNNEST-family): order metrics as (key,
    * metric, value) triples for a deterministic row sample. */
  def unpivot(s: SparkSession, dir: String): DataFrame = {
    orders(s, dir)
      .filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_custkey").cast("double").as("o_custkey_d"))
      .unpivot(Array(col("o_orderkey")),
        Array(col("o_totalprice"), col("o_custkey_d")), "metric", "value")
      .orderBy("o_orderkey", "metric")
  }

  /** Exact percentiles (median + p90, linear interpolation) over integer
    * cents per status. */
  def percentiles(s: SparkSession, dir: String): DataFrame = {
    orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        percentile(cents(col("o_totalprice")), lit(0.5)).as("median_cents"),
        percentile(cents(col("o_totalprice")), lit(0.9)).as("p90_cents"))
      .orderBy("o_orderstatus")
  }

  /** Sketch counterpart of [[percentiles]] (rows-only; tolerance vs the
    * exact form is spec-asserted): `approx_percentile` keeps a bounded
    * quantile summary per group — constant memory per partition and
    * merge-combinable partials, where the exact percentile must gather
    * every group value onto its reducer. At 100 TB the sketch is the only
    * formulation that fits; accuracy 10000 bounds rank error at
    * ~1/10000th of the group. */
  def percentilesApprox(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        percentile_approx(cents(col("o_totalprice")), lit(0.5), lit(10000))
          .as("median_cents_approx"),
        percentile_approx(cents(col("o_totalprice")), lit(0.9), lit(10000))
          .as("p90_cents_approx"))
      .orderBy("o_orderstatus")

  /** Grading companion for [[percentilesApprox]]: `percentile_approx`
    * (accuracy 10000) guarantees its result is an element whose RANK is
    * within n/10000 of the target — a property checkable with exact
    * integer counting, no engine-specific sketch values. Per group:
    * count of values strictly below / at-or-below the approx result must
    * bracket the target rank within n/1000 (10× the guarantee, margin
    * for fixture regen). One broadcast join of the 3-row sketch frame
    * back onto orders + one counting aggregate. */
  def percentilesCheck(s: SparkSession, dir: String): DataFrame = {
    val appr = percentilesApprox(s, dir)
    val v = cents(col("o_totalprice"))
    def rankOk(lt: Column, le: Column, n: Column, pPermille: Int): Column =
      (lt * 1000 <= n * pPermille + n) && (le * 1000 >= n * pPermille - n)
    orders(s, dir).join(broadcast(appr), "o_orderstatus")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(when(v < col("median_cents_approx"), 1L).otherwise(0L)).as("lt_med"),
        sum(when(v <= col("median_cents_approx"), 1L).otherwise(0L)).as("le_med"),
        sum(when(v < col("p90_cents_approx"), 1L).otherwise(0L)).as("lt_p90"),
        sum(when(v <= col("p90_cents_approx"), 1L).otherwise(0L)).as("le_p90"))
      .select(col("o_orderstatus"), col("n"),
        rankOk(col("lt_med"), col("le_med"), col("n"), 500).as("median_rank_ok"),
        rankOk(col("lt_p90"), col("le_p90"), col("n"), 900).as("p90_rank_ok"))
      .orderBy("o_orderstatus")
  }

  /** String scalar-function family: case, replace, padding, substring,
    * edit distance. */
  def stringFuncs(s: SparkSession, dir: String): DataFrame = {
    documents(s, dir).select(
      col("doc_id"),
      upper(col("lang")).as("lang_upper"),
      regexp_replace(col("source"), "src", "s-").as("source_repl"),
      lpad(col("doc_id").cast("string"), 6, "0").as("id_padded"),
      substring(col("text"), 1, 10).as("text_head"),
      levenshtein(col("lang"), col("source")).as("lev"))
      .orderBy("doc_id")
  }

  /** JSON scalar functions: extract the numeric payload key from the
    * events' JSON props and aggregate per event_type bucket. */
  def jsonExtract(s: SparkSession, dir: String): DataFrame = {
    events(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      .groupBy(col("event_type"), (col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy("event_type", "k_bucket")
  }

  /** Hierarchical subtree rollup via Spark 4's NATIVE recursive CTE
    * (`WITH RECURSIVE`, UNION ALL form — the engine's recursion is
    * acyclic-only, and the synthetic decimal-shift forest child →
    * child div 10 is a tree of depth ≤ 6 at any key range): every
    * (node, ancestor) pair expands by recursion, then subtree account
    * balances roll up per ancestor in exact cents — the BOM/org-chart
    * aggregation every SQL engine is benchmarked on, previously only
    * expressible here as plan-unrolled iterations
    * ([[graft.operators.Graph.qGraphComponents]]). Recursion depth is
    * bounded by the KEY WIDTH (log₁₀ of the max key), not data volume,
    * so the unrolled-by-the-engine plan survives any scale factor. */
  def sqlRecursive(s: SparkSession, dir: String): DataFrame =
    s.sql(
      s"""WITH RECURSIVE cust AS (
         |  SELECT c_custkey, c_acctbal FROM parquet.`$dir/customer.parquet`),
         |e AS (SELECT c_custkey AS child, c_custkey div 10 AS parent
         |  FROM cust WHERE c_custkey > 0),
         |reach(node, anc) AS (
         |  SELECT c_custkey, c_custkey FROM cust
         |  UNION ALL
         |  SELECT r.node, e.parent FROM reach r JOIN e ON r.anc = e.child),
         |rev AS (SELECT c_custkey,
         |  cast(round(c_acctbal * 100) as bigint) AS cents FROM cust)
         |SELECT cast(r.anc as bigint) AS ancestor, count(*) AS n_desc,
         |  sum(v.cents) AS subtree_cents
         |FROM reach r JOIN rev v ON r.node = v.c_custkey
         |WHERE r.anc < 200
         |GROUP BY r.anc ORDER BY ancestor""".stripMargin)

  /** Correlated LATERAL subquery with ORDER BY + LIMIT — top-3
    * customers by balance per nation, written as the lateral join the
    * SQL:2016 surface expects and decorrelated by Catalyst into a
    * ranked join (never a per-nation rescan). The oracle deliberately
    * uses the INDEPENDENT window formulation — two formulations
    * agreeing is the decorrelation-correctness proof. */
  def sqlLateral(s: SparkSession, dir: String): DataFrame =
    s.sql(
      s"""SELECT n.n_name, cast(t.c_custkey as bigint) AS c_custkey,
         |  t.c_acctbal
         |FROM parquet.`$dir/nation.parquet` n,
         |LATERAL (SELECT c_custkey, c_acctbal
         |  FROM parquet.`$dir/customer.parquet` c
         |  WHERE c.c_nationkey = n.n_nationkey
         |  ORDER BY c_acctbal DESC, c_custkey LIMIT 3) t
         |ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey""".stripMargin)

  /** The VARIANT path (Spark 4's binary semi-structured type):
    * `parse_json` → typed `variant_get` extraction + `try_variant_get`
    * null-safety on a missing path, aggregated per event type —
    * the modern engine surface for the reference's JSON-ish props,
    * distinct from [[jsonExtract]]'s string-functions path (VARIANT
    * parses once into a binary encoding; repeated path access does
    * not re-parse the text). */
  def jsonVariant(s: SparkSession, dir: String): DataFrame =
    s.sql(
      s"""SELECT event_type, count(*) AS n,
         |  sum(variant_get(parse_json(props), '$$.k', 'bigint')) AS sum_k,
         |  max(variant_get(parse_json(props), '$$.k', 'bigint')) AS max_k,
         |  sum(CASE WHEN try_variant_get(parse_json(props), '$$.missing', 'bigint')
         |      IS NULL THEN 1 ELSE 0 END) AS n_missing
         |FROM parquet.`$dir/events.parquet`
         |GROUP BY event_type ORDER BY event_type""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sql_recursive" -> sqlRecursive,
    "q_sql_lateral" -> sqlLateral,
    "q_json_variant" -> jsonVariant,
    "q_json_extract" -> jsonExtract,
    "q_pivot" -> pivot,
    "q_unpivot" -> unpivot,
    "q_percentiles" -> percentiles,
    "q_percentiles_approx" -> percentilesApprox,
    "q_string_funcs" -> stringFuncs,
    "q_scan_project_filter" -> scanProjectFilter,
    "q1_agg" -> q1Agg,
    "q_agg_rollup" -> aggRollup,
    "q_agg_cube" -> aggCube,
    "q_agg_groupingsets" -> aggGroupingSets,
    "q_agg_approx" -> aggApprox,
    "q_agg_hll_partial" -> aggHllPartial,
    "q_agg_approx_check" -> aggApproxCheck,
    "q_agg_hll_check" -> aggHllCheck,
    "q_percentiles_check" -> percentilesCheck,
    "q_agg_distinct" -> aggDistinct,
    "q3_shipping" -> q3Shipping,
    "q5_local_volume" -> q5LocalVolume,
    "q10_returns" -> q10Returns,
    "q_basket_lift" -> qBasketLift,
    "q2_min_cost" -> q2MinCost,
    "q18_big_orders" -> q18BigOrders,
    "q_ref_integrity" -> qRefIntegrity,
    "q21_late_suppliers" -> q21LateSuppliers,
    "q16_supplier_variety" -> q16SupplierVariety,
    "q13_order_counts" -> q13OrderCounts,
    "q17_small_qty" -> q17SmallQty,
    "q22_idle_rich" -> q22IdleRich,
    "q7_nation_flows" -> q7NationFlows,
    "q_orders_open" -> qOrdersOpen,
    "q_join_broadcast" -> joinBroadcast,
    "q_join_anti" -> joinAnti,
    "q_join_semi" -> joinSemi,
    "q_join_nullsafe" -> joinNullsafe,
    "q_window_rank" -> windowRank,
    "q_window_running" -> windowRunning,
    "q_window_moving" -> windowMoving,
    "q_window_share" -> windowShare,
    "q_window_lag" -> windowLag,
    "q_window_distribution" -> windowDistribution,
    "q_map_funcs" -> mapFuncs,
    "q_resample_daily" -> qResampleDaily,
    "q_window_timerange" -> qWindowTimerange,
    "q_set_intersect" -> setIntersect,
    "q_set_except" -> setExcept,
    "q_join_asof" -> joinAsOf,
    "q_join_asof_nearest" -> joinAsOfNearest,
    "q_join_range" -> joinRange,
    "q_join_range_auto" -> joinRangeAuto,
    "q_join_overlap" -> joinOverlap,
    "q_join_interval" -> joinInterval,
    "q_join_outer" -> joinOuter,
  )

  val oracles: Map[String, String] = Map(
    "q_pivot" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (o_orderstatus = 'F') AS f_cnt,
        |  count(*) FILTER (o_orderstatus = 'O') AS o_cnt,
        |  count(*) FILTER (o_orderstatus = 'P') AS p_cnt
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_unpivot" ->
      """SELECT o_orderkey, metric, value FROM (
        |  SELECT o_orderkey, 'o_totalprice' AS metric, o_totalprice AS value FROM orders WHERE o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 'o_custkey_d', CAST(o_custkey AS DOUBLE) FROM orders WHERE o_orderkey % 100 = 0)
        |ORDER BY o_orderkey, metric""".stripMargin,
    "q_percentiles" ->
      """SELECT o_orderstatus,
        |  quantile_cont(CAST(round(o_totalprice*100) AS BIGINT), 0.5) AS median_cents,
        |  quantile_cont(CAST(round(o_totalprice*100) AS BIGINT), 0.9) AS p90_cents
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_string_funcs" ->
      """SELECT doc_id, upper(lang) AS lang_upper,
        |  regexp_replace(source, 'src', 's-', 'g') AS source_repl,
        |  lpad(CAST(doc_id AS VARCHAR), 6, '0') AS id_padded,
        |  substring(text, 1, 10) AS text_head,
        |  levenshtein(lang, source) AS lev
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_sql_recursive" ->
      """WITH RECURSIVE e AS (SELECT c_custkey AS child, c_custkey // 10 AS parent
        |  FROM customer WHERE c_custkey > 0),
        |reach(node, anc) AS (
        |  SELECT c_custkey, c_custkey FROM customer
        |  UNION ALL
        |  SELECT r.node, e.parent FROM reach r JOIN e ON r.anc = e.child),
        |rev AS (SELECT c_custkey,
        |  CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer)
        |SELECT CAST(r.anc AS BIGINT) AS ancestor, count(*) AS n_desc,
        |  CAST(sum(v.cents) AS BIGINT) AS subtree_cents
        |FROM reach r JOIN rev v ON r.node = v.c_custkey
        |WHERE r.anc < 200
        |GROUP BY r.anc ORDER BY ancestor""".stripMargin,
    // independent window formulation — agreement proves the engine's
    // LATERAL decorrelation
    "q_sql_lateral" ->
      """SELECT n_name, CAST(c_custkey AS BIGINT) AS c_custkey, c_acctbal FROM (
        |  SELECT n.n_name, c.c_custkey, c.c_acctbal,
        |    row_number() OVER (PARTITION BY n.n_nationkey
        |      ORDER BY c.c_acctbal DESC, c.c_custkey) AS rn
        |  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey)
        |WHERE rn <= 3 ORDER BY n_name, c_acctbal DESC, c_custkey""".stripMargin,
    "q_json_variant" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
        |  CAST(sum(CASE WHEN json_extract(props, '$.missing') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_json_extract" ->
      """SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
        |  count(*) AS n, CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type, k_bucket
        |ORDER BY event_type, k_bucket""".stripMargin,
    "q_scan_project_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1998-03-01'
        |  AND l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100 AS sum_base_price,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000 AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_agg_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100 AS sum_price
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_agg_groupingsets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100 AS sum_price
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_agg_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Sketch companions: exact side re-derived, tolerance booleans are
    // literal TRUE (Spark flipping one = red row).
    "q_agg_approx_check" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_exact,
        |  TRUE AS within_tol
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_agg_hll_check" ->
      """SELECT l_returnflag, n_exact, within_tol FROM (
        |  SELECT l_returnflag, count(DISTINCT l_partkey) AS n_exact,
        |    TRUE AS within_tol FROM lineitem GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT 'ALL', count(DISTINCT l_partkey), TRUE FROM lineitem)
        |ORDER BY l_returnflag""".stripMargin,
    "q_percentiles_check" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  TRUE AS median_rank_ok, TRUE AS p90_rank_ok
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q3_shipping" ->
      """SELECT l_orderkey, o_orderdate,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000 AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin,
    "q2_min_cost" ->
      """WITH li AS (SELECT l_partkey, l_suppkey,
        |    CAST(round(l_extendedprice*100) AS BIGINT) AS price_cents FROM lineitem),
        |mc AS (SELECT l_partkey, min(price_cents) AS min_price_cents FROM li GROUP BY 1),
        |w AS (SELECT li.l_partkey, mc.min_price_cents, min(li.l_suppkey) AS s_suppkey
        |  FROM li JOIN mc ON li.l_partkey = mc.l_partkey AND li.price_cents = mc.min_price_cents
        |  GROUP BY 1, 2)
        |SELECT w.l_partkey AS p_partkey, w.min_price_cents, w.s_suppkey, s.s_name, n.n_name
        |FROM w JOIN supplier s ON w.s_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |ORDER BY p_partkey""".stripMargin,
    "q18_big_orders" ->
      """WITH big AS (SELECT l_orderkey, CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING total_qty > 300)
        |SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice, big.total_qty
        |FROM orders o JOIN big ON o.o_orderkey = big.l_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY total_qty DESC, o_orderkey""".stripMargin,
    "q_ref_integrity" ->
      """WITH li AS (SELECT l_orderkey, l_partkey, l_suppkey FROM lineitem
        |  UNION ALL SELECT -l_orderkey, l_partkey, l_suppkey FROM lineitem WHERE l_orderkey % 991 = 0),
        |o AS (SELECT o_orderkey, o_custkey FROM orders
        |  UNION ALL SELECT o_orderkey, -o_custkey FROM orders WHERE o_orderkey % 997 = 0),
        |c AS (SELECT c_custkey, c_nationkey FROM customer
        |  UNION ALL SELECT c_custkey, c_nationkey + 1000 FROM customer WHERE c_custkey % 499 = 0),
        |sup AS (SELECT s_suppkey, s_nationkey FROM supplier
        |  UNION ALL SELECT s_suppkey, s_nationkey + 1000 FROM supplier WHERE s_suppkey % 97 = 0),
        |e1 AS (SELECT 'lineitem.orderkey->orders' AS fk_edge, count(*) AS n_rows,
        |    CAST(sum(CASE WHEN p.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
        |  FROM li LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) p ON li.l_orderkey = p.o_orderkey),
        |e2 AS (SELECT 'lineitem.partkey->part', count(*),
        |    CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM li LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p ON li.l_partkey = p.p_partkey),
        |e3 AS (SELECT 'lineitem.suppkey->supplier', count(*),
        |    CAST(sum(CASE WHEN p.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM li LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) p ON li.l_suppkey = p.s_suppkey),
        |e4 AS (SELECT 'orders.custkey->customer', count(*),
        |    CAST(sum(CASE WHEN p.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) p ON o.o_custkey = p.c_custkey),
        |e5 AS (SELECT 'customer.nationkey->nation', count(*),
        |    CAST(sum(CASE WHEN p.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM c LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) p ON c.c_nationkey = p.n_nationkey),
        |e6 AS (SELECT 'supplier.nationkey->nation', count(*),
        |    CAST(sum(CASE WHEN p.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM sup LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) p ON sup.s_nationkey = p.n_nationkey)
        |SELECT * FROM e1 UNION ALL SELECT * FROM e2 UNION ALL SELECT * FROM e3
        |UNION ALL SELECT * FROM e4 UNION ALL SELECT * FROM e5 UNION ALL SELECT * FROM e6
        |ORDER BY fk_edge""".stripMargin,
    "q21_late_suppliers" ->
      """WITH j AS (SELECT l.l_orderkey, l.l_suppkey,
        |    (l.l_shipdate > o.o_orderdate + INTERVAL 75 DAY) AS late
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |po AS (SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supp,
        |    count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp
        |  FROM j GROUP BY 1),
        |q AS (SELECT DISTINCT j.l_orderkey, j.l_suppkey
        |  FROM j JOIN po ON j.l_orderkey = po.l_orderkey
        |  WHERE j.late AND po.n_supp > 1 AND po.n_late_supp = 1)
        |SELECT s.s_suppkey, s.s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM q JOIN supplier s ON q.l_suppkey = s.s_suppkey
        |GROUP BY 1, 2 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    "q16_supplier_variety" ->
      """WITH ps AS (SELECT l_suppkey,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS r, count(*) AS n
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT sum(r) AS r_tot, sum(n) AS n_tot FROM ps),
        |excl AS (SELECT l_suppkey FROM ps, tot
        |  WHERE CAST(r AS HUGEINT) * CAST(n_tot AS HUGEINT)
        |      > CAST(r_tot AS HUGEINT) * CAST(n AS HUGEINT)),
        |pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        |  WHERE l_suppkey NOT IN (SELECT l_suppkey FROM excl))
        |SELECT p.p_brand, p.p_type, p.p_size,
        |  CAST(count(DISTINCT pairs.l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM pairs JOIN part p ON pairs.l_partkey = p.p_partkey
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 30""".stripMargin,
    "q13_order_counts" ->
      """WITH counted AS (SELECT o_custkey, count(*) AS c_count FROM orders
        |  WHERE o_orderpriority <> '1-URGENT' GROUP BY 1)
        |SELECT coalesce(c_count, 0) AS c_count, count(*) AS custdist
        |FROM customer LEFT JOIN counted ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q17_small_qty" ->
      """WITH li AS (SELECT l_partkey, CAST(round(l_quantity) AS BIGINT) AS qty,
        |    CAST(round(l_extendedprice*100) AS BIGINT) AS price_cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#23'),
        |pp AS (SELECT l_partkey AS agg_partkey,
        |    CAST(sum(qty) AS BIGINT) AS sum_qty, count(*) AS cnt
        |  FROM li GROUP BY 1)
        |SELECT count(*) AS n_small,
        |  CAST(sum(price_cents) AS DOUBLE)/100 AS lost_revenue
        |FROM li JOIN pp ON l_partkey = agg_partkey
        |WHERE qty * 5 * cnt < sum_qty""".stripMargin,
    "q22_idle_rich" ->
      """WITH c AS (SELECT c_custkey, c_nationkey,
        |    CAST(round(c_acctbal*100) AS BIGINT) AS bal_cents FROM customer),
        |pa AS (SELECT CAST(sum(bal_cents) AS BIGINT) AS sum_pos,
        |    count(*) AS n_pos FROM c WHERE bal_cents > 0),
        |recent AS (SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1998-01-01')
        |SELECT c_nationkey, count(*) AS n_idle,
        |  CAST(sum(bal_cents) AS DOUBLE)/100 AS total_bal
        |FROM c, pa
        |WHERE CAST(bal_cents AS HUGEINT) * n_pos > sum_pos
        |  AND c_custkey NOT IN (SELECT o_custkey FROM recent)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q7_nation_flows" ->
      """WITH two AS (SELECT n_nationkey, n_name FROM nation
        |  WHERE n_name IN ('NATION_3', 'NATION_7')),
        |sup AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier
        |  JOIN two ON s_nationkey = n_nationkey),
        |cust AS (SELECT c_custkey, n_name AS cust_nation FROM customer
        |  JOIN two ON c_nationkey = n_nationkey)
        |SELECT supp_nation, cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS ship_year,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
        |    * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000
        |    AS revenue
        |FROM lineitem
        |JOIN sup ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN cust ON o_custkey = c_custkey
        |WHERE supp_nation <> cust_nation
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q_orders_open" ->
      """WITH iv AS (SELECT CAST(o.o_orderdate AS DATE) AS d0,
        |    CAST(l.l_shipdate AS DATE) + 1 AS d1
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_shipdate >= o.o_orderdate),
        |ev AS (SELECT d0 AS d, 1 AS delta FROM iv
        |  UNION ALL SELECT d1 AS d, -1 AS delta FROM iv),
        |g AS (SELECT d, CAST(sum(delta) AS BIGINT) AS delta FROM ev GROUP BY d)
        |SELECT d, delta, CAST(sum(delta) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open_cnt
        |FROM g ORDER BY d""".stripMargin,
    "q_basket_lift" ->
      """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT a.l_partkey AS p1, c.l_partkey AS p2, count(*) AS c12
        |  FROM b a JOIN b c USING (l_orderkey)
        |  WHERE a.l_partkey < c.l_partkey GROUP BY p1, p2),
        |top AS (SELECT * FROM p ORDER BY c12 DESC, p1, p2 LIMIT 30),
        |f AS (SELECT l_partkey, count(*) AS c FROM b GROUP BY l_partkey),
        |n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM b)
        |SELECT p1, p2, c12,
        |  CAST(c12 AS DOUBLE) * CAST(n_orders AS DOUBLE)
        |    / (CAST(f1.c AS DOUBLE) * CAST(f2.c AS DOUBLE)) AS lift
        |FROM top JOIN f f1 ON p1 = f1.l_partkey
        |  JOIN f f2 ON p2 = f2.l_partkey, n
        |ORDER BY c12 DESC, p1, p2""".stripMargin,
    "q5_local_volume" ->
      """SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000 AS revenue
        |FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q10_returns" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000 AS revenue
        |FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1995-10-01'
        |  AND o_orderdate < TIMESTAMP '1996-01-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,
    "q_join_broadcast" ->
      """SELECT p_brand, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin,
    "q_join_nullsafe" ->
      """SELECT dk, count(*) AS n_orders, min(o_orderkey) AS min_key
        |FROM (SELECT o_orderkey, nullif(o_orderstatus, 'O') AS k FROM orders) o
        |JOIN (SELECT DISTINCT nullif(o_orderstatus, 'O') AS dk FROM orders) d
        |  ON o.k IS NOT DISTINCT FROM d.dk
        |GROUP BY dk ORDER BY dk""".stripMargin,
    "q_join_semi" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_returnflag = 'R')
        |ORDER BY s_suppkey""".stripMargin,
    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus FROM (
        |  SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin,
    "q_window_moving" ->
      """WITH d AS (SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS day_cents
        |  FROM orders GROUP BY o_orderpriority, day)
        |SELECT o_orderpriority, CAST(day AS TIMESTAMP) AS day, day_cents,
        |  CAST(sum(day_cents) OVER w AS BIGINT) AS win_cents,
        |  CAST(count(*) OVER w AS BIGINT) AS n_days,
        |  CAST(CAST(sum(day_cents) OVER w AS BIGINT) AS DOUBLE) /
        |    CAST(count(*) OVER w AS DOUBLE) AS avg_cents
        |FROM d
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY day
        |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderpriority, day""".stripMargin,
    "q_window_share" ->
      """WITH c AS (SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS cell_cents
        |  FROM lineitem GROUP BY l_returnflag, l_linestatus)
        |SELECT l_returnflag, l_linestatus, cell_cents,
        |  CAST(cell_cents AS DOUBLE) /
        |    CAST(CAST(sum(cell_cents) OVER (PARTITION BY l_returnflag) AS BIGINT) AS DOUBLE) AS share
        |FROM c ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)/100 AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_window_lag" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(coalesce(date_diff('day', lag(o_orderdate, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), o_orderdate), -1) AS INT) AS days_since_prev
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_window_distribution" ->
      """SELECT o_orderstatus, o_orderkey,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cum_dist,
        |  first_value(o_orderkey) OVER (PARTITION BY o_orderstatus
        |    ORDER BY CAST(round(o_totalprice*100) AS BIGINT), o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS cheapest_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus
        |  ORDER BY CAST(round(o_totalprice*100) AS BIGINT), o_orderkey)
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin,
    "q_map_funcs" ->
      """WITH c AS (SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_orderstatus,
        |  CAST(count(*) AS INT) AS n_priorities,
        |  CAST(coalesce(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN n END), 0) AS BIGINT) AS urgent_n,
        |  CAST(coalesce(sum(CASE WHEN o_orderpriority = '5-LOW' THEN n END), 0) AS BIGINT) AS low_n,
        |  array_to_string(list_sort(list(o_orderpriority)), ',') AS priorities
        |FROM c GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_window_timerange" ->
      """SELECT event_id, user_id,
        |  count(*) OVER w AS n_last_hour,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) OVER w AS DOUBLE)/100 AS sum_last_hour
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q_resample_daily" ->
      """WITH span AS (SELECT min(CAST(o_orderdate AS DATE)) AS d0,
        |    max(CAST(o_orderdate AS DATE)) AS d1 FROM orders),
        |ticks AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS ts FROM span),
        |spine AS (SELECT CAST(ts AS DATE) AS day FROM ticks),
        |daily AS (SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n
        |  FROM orders GROUP BY 1)
        |SELECT CAST(day AS TIMESTAMP) AS day, CAST(coalesce(n, 0) AS BIGINT) AS n_orders
        |FROM spine LEFT JOIN daily USING (day) ORDER BY day""".stripMargin,
    "q_set_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,
    "q_set_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,
    "q_join_asof" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |     s AS (SELECT user_id, ts FROM events WHERE event_type = 'signup')
        |SELECT p.event_id, p.user_id, p.ts,
        |  (SELECT max(s.ts) FROM s WHERE s.user_id = p.user_id AND s.ts <= p.ts) AS last_signup_ts
        |FROM p ORDER BY p.event_id""".stripMargin,
    "q_join_asof_nearest" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |     s AS (SELECT user_id, ts FROM events WHERE event_type = 'signup'),
        |x AS (SELECT p.event_id, p.user_id, p.ts,
        |    (SELECT max(s.ts) FROM s WHERE s.user_id = p.user_id AND s.ts <= p.ts) AS prev_ts,
        |    (SELECT min(s.ts) FROM s WHERE s.user_id = p.user_id AND s.ts > p.ts) AS next_ts
        |  FROM p),
        |y AS (SELECT *,
        |    epoch_us(ts) - epoch_us(prev_ts) AS d_prev,
        |    epoch_us(next_ts) - epoch_us(ts) AS d_next,
        |    CASE WHEN prev_ts IS NULL AND next_ts IS NULL THEN NULL
        |         WHEN next_ts IS NULL OR (prev_ts IS NOT NULL
        |           AND epoch_us(ts) - epoch_us(prev_ts) <= epoch_us(next_ts) - epoch_us(ts))
        |           THEN prev_ts
        |         ELSE next_ts END AS nearest_signup_ts
        |  FROM x)
        |SELECT event_id, user_id, ts, nearest_signup_ts,
        |  CASE WHEN nearest_signup_ts IS NULL THEN NULL
        |       WHEN nearest_signup_ts IS NOT DISTINCT FROM prev_ts THEN 'backward'
        |       ELSE 'forward' END AS direction,
        |  CASE WHEN nearest_signup_ts IS NULL THEN NULL
        |       WHEN nearest_signup_ts IS NOT DISTINCT FROM prev_ts THEN d_prev
        |       ELSE d_next END AS delta_us
        |FROM y ORDER BY event_id""".stripMargin,
    "q_join_range" ->
      """SELECT o_orderkey, count(*) AS n_near_shipments
        |FROM orders JOIN lineitem
        |  ON abs(date_diff('second', o_orderdate, l_shipdate)) <= 172800
        |WHERE o_orderpriority = '1-URGENT' AND l_returnflag = 'R'
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,
    // identical semantics to q_join_range — the Spark side differs only
    // in HOW the plan is produced (optimizer rule vs hand bucketization)
    "q_join_range_auto" ->
      """SELECT o_orderkey, count(*) AS n_near_shipments
        |FROM orders JOIN lineitem
        |  ON l_shipdate >= o_orderdate - INTERVAL 2 DAY
        | AND l_shipdate <= o_orderdate + INTERVAL 2 DAY
        |WHERE o_orderpriority = '1-URGENT' AND l_returnflag = 'R'
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,
    "q_join_overlap" ->
      """SELECT o_orderkey, count(*) AS n_overlap
        |FROM orders JOIN lineitem
        |  ON l_shipdate <= o_orderdate + INTERVAL 3 DAY
        | AND o_orderdate <= l_shipdate + INTERVAL 2 DAY
        |WHERE o_orderpriority = '1-URGENT' AND l_returnflag = 'R'
        |  AND l_quantity <= 2
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,
    "q_join_interval" ->
      """WITH camp AS (SELECT n_nationkey AS campaign_id,
        |    TIMESTAMP '2024-01-01 00:00:00' + n_nationkey * INTERVAL 1 DAY AS start_ts,
        |    TIMESTAMP '2024-01-01 00:00:00' + (n_nationkey + 3) * INTERVAL 1 DAY AS end_ts
        |  FROM nation)
        |SELECT campaign_id, count(*) AS n_events,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM events e JOIN camp c ON e.ts >= c.start_ts AND e.ts < c.end_ts
        |GROUP BY campaign_id ORDER BY campaign_id""".stripMargin,
    "q_join_outer" ->
      """WITH o AS (SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n_orders
        |  FROM orders GROUP BY 1),
        |l AS (SELECT CAST(l_shipdate AS DATE) AS d, count(*) AS n_ships
        |  FROM lineitem GROUP BY 1)
        |SELECT strftime(COALESCE(o.d, l.d), '%Y-%m-%d') AS d,
        |  COALESCE(n_orders, 0) AS n_orders,
        |  COALESCE(n_ships, 0) AS n_ships
        |FROM o FULL OUTER JOIN l ON o.d = l.d
        |ORDER BY d""".stripMargin,
  )
}
