package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Iterative graph analytics in pure DataFrame algebra (north-star
  * extension): link-authority scoring (PageRank) over a deterministic
  * synthetic link graph derived from the documents table — the
  * domain/page-authority signal a crawl-curation pipeline feeds into
  * quality weighting.
  *
  * All rank arithmetic is INTEGER (bigint), not floating point: ranks
  * start at 10^12, damping 0.85 is the exact rational ·17 div 60 (with
  * out-degree 3 folded in), and the teleport term is the exact constant
  * 1.5·10^11. Summing bigints is order-independent, so the result is
  * bit-identical on any partitioning AND in any engine — which is what
  * makes an iterative fixpoint DuckDB-oracle-checkable at all (a
  * double-based PageRank would drift by reduction order).
  *
  * Scale shape: a fixed, plan-unrolled iteration count (3) — each
  * iteration is one shuffle-join of edges against current ranks on src
  * plus one partial-aggregated groupBy on dst. Edges and ranks co-shuffle
  * on the same key domain, so at 100 TB the two exchanges per iteration
  * are the algorithm's floor (Pregel pays the same); nothing is ever
  * collected to the driver and no window sees more than a key group.
  */
object Graph {

  private val initRank = 1000000000000L  // 10^12 per node
  private val teleport = 150000000000L   // 0.15 · 10^12, exact

  /** Damped, out-degree-split contribution: floor(rank·17 / (20·3)).
    * `div` (not `/`) keeps it in bigint; operands are positive so Spark's
    * truncating div and DuckDB's flooring `//` agree. */
  private val contrib: Column = expr("(rank * 17) div 60")

  /** Synthetic 3-out-regular link graph over doc_ids [0, N): doc i links
    * to (i² + 7k) mod N for k = 1..3 — deterministic, so both engines
    * rebuild the identical graph (the same fixture pattern as the dedup
    * corpus). The quadratic map makes in-degree genuinely skewed (at
    * N=500: max in-degree 20, ~46% of nodes receive no links), so the
    * authority scores actually spread — a linear map would be a bijection
    * per k and collapse PageRank to uniform. N enters the plan as a
    * broadcast scalar, not an eager count. */
  private def parts(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val nodes = documents(s, dir).select(col("doc_id").as("id"))
    (nodes, synthEdges(nodes))
  }

  /** The iteration core over arbitrary `nodes(id)` / `edges(src, dst)`,
    * shared with the dev scale probe so what gets measured IS what
    * ships: rank_{t+1}(v) = 1.5·10^11 + Σ_{u→v} floor(rank_t(u)·17/60),
    * `iters` plan-unrolled rounds. */
  def pagerank(nodes: DataFrame, edges: DataFrame, iters: Int = 3): DataFrame = {
    var ranks = nodes.select(col("id"), lit(initRank).as("rank"))
    for (_ <- 1 to iters) {
      val contribs = edges
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), contrib.as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("s"))
      ranks = nodes.join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(teleport) + coalesce(col("s"), lit(0L))).as("rank"))
    }
    ranks
  }

  /** 3-iteration integer PageRank over the synthetic link graph. Every
    * doc has out-degree 3 by construction (no dangling mass). */
  def qLinkPagerank(s: SparkSession, dir: String): DataFrame = {
    val (nodes, edges) = parts(s, dir)
    pagerank(nodes, edges)
      .select(col("id").as("doc_id"), col("rank")).orderBy("doc_id")
  }

  /** The synthetic graph over an arbitrary id column (dev probes build
    * it from amplified corpora). */
  def synthEdges(nodes: DataFrame): DataFrame = {
    val n = nodes.agg(count(lit(1)).as("n"))
    nodes.crossJoin(broadcast(n)).select(
      col("id").as("src"),
      explode(array((1 to 3).map(k =>
        (col("id") * col("id") + k * 7) % col("n")): _*)).as("dst"))
  }

  /** Triangle census of the link graph: undirected edge count, wedge
    * (open-triple) count, and triangle count — the inputs to a global
    * clustering coefficient, all exact integers.
    *
    * The enumeration is the classic ordered-edge join: every triangle
    * a<b<c is found exactly once by joining (a,b)⋈(b,c) and probing
    * (a,c). Two shuffle joins on single bigint keys; at 100 TB the
    * production refinement is orienting edges from low- to high-degree
    * endpoints instead of low-to-high id (caps the join fan-out per key
    * at O(sqrt(m)) even under power-law skew) — id-orientation keeps the
    * oracle SQL identical and is already sub-enumeration (no pair ever
    * materializes twice). */
  def qGraphTriangles(s: SparkSession, dir: String): DataFrame = {
    val (nodes, edges) = parts(s, dir)
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .cache() // feeds the census from four angles (e1/e2/probe/degrees):
               // without it each branch re-derives the whole edge pipeline
    // Materialize before the four census branches (concurrently
    // submitted crossJoin broadcast builds) race the cache (r21).
    graft.Tables.pin(und)
    val deg = und.select(col("a").as("v"))
      .union(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val bc = und.select(col("a").as("b"), col("b").as("c"))
    val ac = und.select(col("a"), col("b").as("c"))
    val tri = und.join(bc, "b").join(ac, Seq("a", "c"), "left_semi")
    nodes.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(und.agg(count(lit(1)).as("n_edges")))
      .crossJoin(deg.agg(sum(expr("d * (d - 1) div 2")).as("n_wedges")))
      .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
  }

  /** Connected components by plan-unrolled min-label propagation over a
    * deterministic chain graph: doc i links to i+1 except at break
    * points (i ≡ 6 mod 7 or i ≡ 10 mod 11), giving components of varied
    * size 1–7 and diameter ≤6 — so SIX fixed iterations converge
    * EXACTLY, which is what makes an iterative fixpoint oracle-checkable
    * (both engines unroll the same k; no convergence test, no
    * nondeterministic stopping). Each iteration is one shuffle-join of
    * labels against the bidirectional edge list plus one min-groupBy —
    * the Pregel floor, same as [[pagerank]]. Component label = min
    * doc_id reached; output one row per component with its size and
    * span. At 100 TB the same unrolled plan runs with label frames
    * partitioned on id; nothing collects to the driver. */
  def qGraphComponents(s: SparkSession, dir: String): DataFrame = {
    val nodes = documents(s, dir).select(col("doc_id").as("id"))
    val fwd = nodes
      .filter(col("id") % 7 =!= 6 && col("id") % 11 =!= 10)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
      .join(nodes.select(col("id").as("dst")), "dst") // keep dst in range
    // Bidirectional edges PLUS a self-loop per node: the self-loop folds
    // "keep my own label" into the neighbor-min, so each iteration is ONE
    // join + groupBy referencing `lab` once. The naive
    // `lab.union(join(e, lab))` references lab twice per round — the plan
    // DOUBLES per iteration (2^6 copies of the scan by round 6; measured
    // 4.3 s of pure optimizer/replan time at sf0.1 vs 0.2 s for the
    // 3-iteration pagerank, whose recurrence references ranks once).
    // Cached: consumed by all 6 rounds. (No unpersist here — it would run
    // at plan-CONSTRUCTION time, before any job, silently cancelling the
    // cache; the harness clears the cache manager between queries, same
    // as qGraphTriangles' und cache.)
    val e = fwd.select("src", "dst")
      .union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .union(nodes.select(col("id").as("src"), col("id").as("dst")))
      .cache()
    var lab = nodes.select(col("id"), col("id").as("lab"))
    for (_ <- 1 to 6) {
      lab = e.join(lab.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(min(col("lab")).as("lab"))
    }
    lab.groupBy(col("lab").as("component"))
      .agg(count(lit(1)).as("n_nodes"), max(col("id")).as("max_id"))
      .orderBy("component")
  }

  /** Degree assortativity of the link graph: the Pearson correlation of
    * endpoint degrees over all (symmetrically oriented) edges — "do
    * hubs link to hubs?". With both orientations counted, the x and y
    * marginals coincide, so r reduces to the fully RATIONAL form
    * (2m·Σdₐd_b − (Σdₐ)²)/(2m·Σdₐ² − (Σdₐ)²): integer power sums
    * (decimal-accumulated — degree products × edge count pass 2⁶³ at
    * scale), one double division, no sqrt — bit-exact across engines.
    * Cost: the und-edge distinct, one degree groupBy, two node-keyed
    * joins of degrees onto edge endpoints, a 1-row aggregate. */
  def qGraphAssortativity(s: SparkSession, dir: String): DataFrame = {
    val (nodes, edges) = parts(s, dir)
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("v"))
      .union(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val sym = und.select(col("a").as("u"), col("b").as("w"))
      .union(und.select(col("b").as("u"), col("a").as("w")))
    val pairs = sym
      .join(deg.select(col("v").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("v").as("w"), col("d").as("dw")), "w")
    val g = pairs.agg(count(lit(1)).as("m2"),
      sum(col("du").cast("decimal(38,0)")).as("sx"),
      sum((col("du") * col("dw")).cast("decimal(38,0)")).as("sxy"),
      sum((col("du") * col("du")).cast("decimal(38,0)")).as("sx2"))
    g.select(col("m2"),
        ((col("m2").cast("decimal(38,0)") * col("sxy") - col("sx") * col("sx"))
          .cast("double") /
         (col("m2").cast("decimal(38,0)") * col("sx2") - col("sx") * col("sx"))
          .cast("double")).as("assortativity"))
  }

  /** Community detection by synchronous label propagation (Raghavan,
    * Albert & Kumara 2007) over the undirected link graph — the
    * between-components-and-PageRank grouping signal (dense crawl
    * neighborhoods → candidate boilerplate/mirror families) that
    * min-label components cannot give (they only see connectivity, not
    * density). Three PLAN-UNROLLED synchronous rounds with a fully
    * deterministic update — each node adopts the most frequent label
    * among its neighbors INCLUDING its own current label (the
    * self-inclusion variant: damps the classic LPA oscillation AND lets
    * the recurrence reference the label frame exactly once per round —
    * the [[qGraphComponents]] self-loop trick, so the plan stays linear
    * in rounds instead of doubling), ties broken toward the smaller
    * label. Fixed rounds + deterministic tie-break is what makes an LPA
    * fixpoint oracle-checkable at all.
    *
    * Scale shape: per round one shuffle-join of labels onto the
    * symmetric edge list plus one (node, label) count aggregate and one
    * node-partitioned top-1 window (bounded by a node's distinct
    * neighbor labels ≤ degree) — the Pregel floor, nothing collected. */
  def qGraphLpa(s: SparkSession, dir: String): DataFrame = {
    val (nodes, edges) = parts(s, dir)
    lpa(nodes, edges)
      .groupBy(col("lab").as("community"))
      .agg(count(lit(1)).as("n_nodes"), min(col("id")).as("min_id"),
        max(col("id")).as("max_id"))
      .orderBy("community")
  }

  /** The LPA core over arbitrary `nodes(id)` / directed `edges(src,
    * dst)` (symmetrized + deduped here): per-node final label after
    * `rounds` synchronous self-inclusive updates. Shared with the spec
    * so the tested recurrence IS the shipped one. */
  def lpa(nodes: DataFrame, edges: DataFrame, rounds: Int = 3): DataFrame = {
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    // Pinned (r22): under AQE every round's edge-side shuffle-map stage
    // is independent of the label recurrence, so all `rounds` of them
    // are submitted CONCURRENTLY and race the unmaterialized cache —
    // the per-job profile (OPTIMIZATION_r22.md, wave 4) showed 6
    // overlapping 66-task jobs each re-deriving the
    // full symmetrized-dedup edge frame (~0.5–1.1 s apiece at 32
    // cores). The racers duplicate WIDE work (scan + distinct), which
    // is exactly where the pin discipline pays (basket_lift, imagedup);
    // materializing once dropped the row 2.0 → ~1.2 s (best-of-3) and
    // removed the c32/c8 = 2.0 scaling inversion.
    val e = graft.Tables.pin(
      und.select(col("a").as("src"), col("b").as("dst"))
        .union(und.select(col("b").as("src"), col("a").as("dst")))
        .union(nodes.select(col("id").as("src"), col("id").as("dst")))
        .cache())
    var lab = nodes.select(col("id"), col("id").as("lab"))
    for (_ <- 1 to rounds) {
      // Top-1 label per node as a row_number window (r22 REVERT of the
      // r21 min(struct(−c, lab)) aggregate): the struct-valued min
      // cannot use hash aggregation — it planned as a per-round
      // SortAggregate FALLBACK (plan_golden showed 7 sorts with 0
      // windows), and both the driver artifact (0.85×, r21→r21) and a
      // 6/6 interleaved re-validation (OPTIMIZATION_r22.md: window 2.31 s vs
      // aggregate 3.14 s best-of-6) measured the aggregate SLOWER than
      // the window it replaced. The two forms are exactly equivalent
      // for positive bigint counts (min over the lexicographic struct
      // ≡ rn=1 over (c desc, lab asc)); the window's per-partition sort
      // is bounded by a node's distinct neighbor labels ≤ degree.
      lab = e.join(lab.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"), col("lab"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("id")).orderBy(col("c").desc, col("lab").asc)))
        .filter(col("rn") === 1)
        .select(col("id"), col("lab"))
    }
    lab
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_graph_lpa" -> qGraphLpa,
    "q_link_pagerank" -> qLinkPagerank,
    "q_graph_triangles" -> qGraphTriangles,
    "q_graph_components" -> qGraphComponents,
    "q_graph_assortativity" -> qGraphAssortativity,
  )

  private def ccIterSql(prev: String, cur: String): String =
    s"""l$cur AS (SELECT e.dst AS id, min(lab) AS lab
       |  FROM e JOIN l$prev ON e.src = l$prev.id GROUP BY 1)""".stripMargin

  private def iterSql(prev: String, cur: String): String =
    s"""c$cur AS (SELECT dst AS id, CAST(SUM((rank*17)//60) AS BIGINT) AS s
       |  FROM edges JOIN r$prev ON src = r$prev.id GROUP BY dst),
       |r$cur AS (SELECT nodes.id, CAST(150000000000 + COALESCE(s, 0) AS BIGINT) AS rank
       |  FROM nodes LEFT JOIN c$cur USING (id))""".stripMargin

  private def lpaIterSql(prev: String, cur: String): String =
    s"""cn$cur AS (SELECT e.dst AS id, lab, count(*) AS c
       |  FROM e JOIN l$prev ON e.src = l$prev.id GROUP BY 1, 2),
       |l$cur AS (SELECT id, lab FROM (SELECT id, lab,
       |    row_number() OVER (PARTITION BY id ORDER BY c DESC, lab) AS rn
       |  FROM cn$cur) WHERE rn = 1)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_graph_lpa" ->
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
         |nodes AS (SELECT doc_id AS id FROM documents),
         |edges AS (SELECT id AS src, (id*id + 7*k) % nn.n AS dst
         |  FROM nodes, nn, (VALUES (1),(2),(3)) AS ks(k)),
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM edges WHERE src <> dst),
         |e AS (SELECT a AS src, b AS dst FROM und
         |  UNION ALL SELECT b, a FROM und
         |  UNION ALL SELECT id, id FROM nodes),
         |l0 AS (SELECT id, id AS lab FROM nodes),
         |${lpaIterSql("0", "1")},
         |${lpaIterSql("1", "2")},
         |${lpaIterSql("2", "3")}
         |SELECT lab AS community, count(*) AS n_nodes,
         |  CAST(min(id) AS BIGINT) AS min_id, CAST(max(id) AS BIGINT) AS max_id
         |FROM l3 GROUP BY lab ORDER BY community""".stripMargin,
    "q_link_pagerank" ->
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
         |nodes AS (SELECT doc_id AS id FROM documents),
         |edges AS (SELECT id AS src,
         |    unnest([(id*id+7) % nn.n, (id*id+14) % nn.n, (id*id+21) % nn.n]) AS dst
         |  FROM nodes, nn),
         |r0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS rank FROM nodes),
         |${iterSql("0", "1")},
         |${iterSql("1", "2")},
         |${iterSql("2", "3")}
         |SELECT id AS doc_id, rank FROM r3 ORDER BY doc_id""".stripMargin,
    "q_graph_triangles" ->
      // NB: `unnest` inside a CTE that is expanded more than once trips a
      // DuckDB binder assertion ("Failed to bind column reference"); the
      // VALUES-join form generates the same k=1..3 edges without unnest.
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |nodes AS (SELECT doc_id AS id FROM documents),
        |edges AS (SELECT id AS src, (id*id + 7*k) % nn.n AS dst
        |  FROM nodes, nn, (VALUES (1),(2),(3)) t(k)),
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM edges WHERE src <> dst),
        |deg AS (SELECT v, count(*) AS d
        |  FROM (SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY v),
        |tri AS (SELECT count(*) AS n_triangles FROM und e1
        |  JOIN und e2 ON e2.a = e1.b
        |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT (SELECT count(*) FROM nodes) AS n_nodes,
        |  (SELECT count(*) FROM und) AS n_edges,
        |  (SELECT CAST(sum(d*(d-1)//2) AS BIGINT) FROM deg) AS n_wedges,
        |  (SELECT n_triangles FROM tri) AS n_triangles""".stripMargin,
    "q_graph_components" ->
      s"""WITH nodes AS (SELECT doc_id AS id FROM documents),
         |fwd AS (SELECT n.id AS src, n.id + 1 AS dst FROM nodes n
         |  JOIN nodes m ON m.id = n.id + 1
         |  WHERE n.id % 7 <> 6 AND n.id % 11 <> 10),
         |e AS (SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd
         |  UNION ALL SELECT id, id FROM nodes),
         |l0 AS (SELECT id, id AS lab FROM nodes),
         |${ccIterSql("0", "1")},
         |${ccIterSql("1", "2")},
         |${ccIterSql("2", "3")},
         |${ccIterSql("3", "4")},
         |${ccIterSql("4", "5")},
         |${ccIterSql("5", "6")}
         |SELECT lab AS component, CAST(count(*) AS BIGINT) AS n_nodes,
         |  max(id) AS max_id
         |FROM l6 GROUP BY 1 ORDER BY component""".stripMargin,
    "q_graph_assortativity" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |nodes AS (SELECT doc_id AS id FROM documents),
        |edges AS (SELECT id AS src, (id*id + 7*k) % nn.n AS dst
        |  FROM nodes, nn, (VALUES (1),(2),(3)) t(k)),
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM edges WHERE src <> dst),
        |deg AS (SELECT v, count(*) AS d
        |  FROM (SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY v),
        |sym AS (SELECT a AS u, b AS w FROM und UNION ALL SELECT b, a FROM und),
        |pairs AS (SELECT du.d AS du, dw.d AS dw FROM sym
        |  JOIN deg du ON sym.u = du.v JOIN deg dw ON sym.w = dw.v),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS m2,
        |    sum(CAST(du AS HUGEINT)) AS sx,
        |    sum(CAST(du AS HUGEINT) * CAST(dw AS HUGEINT)) AS sxy,
        |    sum(CAST(du AS HUGEINT) * CAST(du AS HUGEINT)) AS sx2
        |  FROM pairs)
        |SELECT m2,
        |  CAST(CAST(CAST(m2 AS HUGEINT) * sxy - sx * sx AS VARCHAR) AS DOUBLE)
        |  / CAST(CAST(CAST(m2 AS HUGEINT) * sx2 - sx * sx AS VARCHAR) AS DOUBLE)
        |    AS assortativity
        |FROM g""".stripMargin,
  )
}
