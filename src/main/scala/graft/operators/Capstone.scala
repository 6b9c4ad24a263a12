package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Capstone composites: end-to-end pipelines that chain many of the
  * engine's operators into one plan, proving they compose without
  * driver-side bottlenecks — each is a single declarative DataFrame
  * program (Catalyst sees the WHOLE pipeline, so filters still push into
  * the scan and co-partitioned stages share exchanges), oracle-checked
  * against the identical DuckDB SQL.
  *
  *  - [[qCapstoneCorpus]]: the full LLM-corpus build — quality gate →
  *    exact dedup → eval-contamination scan → tokenize → quality-ordered
  *    token-budget selection.
  *  - [[qCapstoneSessions]]: the behavioral stack — sessionize →
  *    per-session conversion → signup-cohort rollup.
  *  - [[qCapstoneScrape]]: the reference's whole scan cycle
  *    (upsert-classify + deletions + seen-set, `db.rs:48-124`) folded
  *    into one audit frame.
  */
object Capstone {

  /** Token budget for [[qCapstoneCorpus]] — a real selection pressure at
    * every sf (≈ half the sf0.001 corpus survives). */
  val tokenBudget = 20000L

  /** The full training-corpus build as ONE plan:
    *
    *  1. quality gate (composite score ≥ 0.5 — per-row codegen, pushes to
    *     the scan),
    *  2. exact dedup (min doc_id per md5(text) — one shuffle on the
    *     content hash),
    *  3. contamination scan: drop training docs sharing text with the
    *     held-out eval set (doc_id % 97 = 0, UNGATED — benchmark data is
    *     never quality-filtered). While the eval hash set fits a
    *     broadcast, the anti-join is a map-side probe (the sf0.01 plan);
    *     when it outgrows one, the join key IS the dedup window's
    *     partition key, so the corpus side arrives co-partitioned — no
    *     extra wide shuffle either way,
    *  4. tokenize + the same two-level prefix sum as
    *     [[Selection.qSelectBudget]] (segment key monotone in the sort
    *     key → global running total without a single-partition window),
    *  5. admit docs whose cumulative tokens START inside the budget.
    */
  def qCapstoneCorpus(s: SparkSession, dir: String): DataFrame =
    // NOT fanned (A/B r21: −0.14 s — the 0.6 s single-task kernel job
    // the per-job profile flagged is still cheaper than the fan
    // exchange here; OPTIMIZATION_r21.md).
    corpusBuild(documents(s, dir))

  /** [[corpusBuild]] with in-flight accounting via `Dataset.observe`:
    * the returned Observation yields the quality-gate survivor count and
    * their token mass after the terminal action completes — collected BY
    * the pipeline's own pass, zero extra jobs. At 100 TB a separate
    * `count()` for the run report is a second full corpus scan; observe
    * metrics ride the task results for free (the accumulator mechanism),
    * which is how a production pipeline reports its funnel. */
  def corpusBuildObserved(docs: DataFrame): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("corpus_build")
    import graft.functions.TextAnalysis.{qualityScore, tokens}
    val gated = docs
      .withColumn("score", qualityScore(col("text")))
      .filter(col("score") >= 0.5)
      .observe(obs, count(lit(1)).as("n_gated"),
        sum(size(tokens(col("text"))).cast("bigint")).as("gated_tokens"))
    (corpusBuildFrom(gated, docs), obs)
  }

  /** Frame-level form of the corpus build (the registered query binds it
    * to the fixture; the 10× amplified run is in PLANS.md, "Scale
    * probe"). */
  def corpusBuild(docs: DataFrame): DataFrame = {
    import graft.functions.TextAnalysis.qualityScore
    corpusBuildFrom(docs
      .withColumn("score", qualityScore(col("text")))
      .filter(col("score") >= 0.5), docs)
  }

  /** Stages downstream of the quality gate. `gated` carries
    * doc_id/text/lang/source/score with the gate already applied; `all`
    * is the UNGATED corpus (the eval contamination set is never
    * quality-filtered). */
  private def corpusBuildFrom(gated: DataFrame, all: DataFrame): DataFrame = {
    import graft.functions.TextAnalysis.tokens
    val evalHashes = all.filter(col("doc_id") % 97 === 0)
      .select(md5(col("text").cast("binary")).as("h")).distinct()
    val dedupW = Window.partitionBy(md5(col("text").cast("binary")))
    val scored = gated
      .withColumn("canon", min(col("doc_id")).over(dedupW))
      .filter(col("doc_id") === col("canon"))
      .filter(col("doc_id") % 97 =!= 0)
      .withColumn("h", md5(col("text").cast("binary")))
      .join(evalHashes, Seq("h"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("score"),
        size(tokens(col("text"))).cast("bigint").as("n_tokens"))
      .withColumn("seg", floor((lit(1.0) - col("score")) * 32).cast("int"))
      .cache() // fan-out: ranked side + segment offsets; 5 scalar cols
                // (NOT pinned: corpusBuildObserved's Observation must
                //  complete on the pipeline's own action, not a pin)
    val withinW = Window.partitionBy(col("seg"))
      .orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val segW = Window.orderBy(col("seg"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = scored.groupBy(col("seg"))
      .agg(sum(col("n_tokens")).as("seg_sum"))
      .withColumn("seg_off", coalesce(sum(col("seg_sum")).over(segW), lit(0L)))
      .select(col("seg"), col("seg_off"))
    scored
      .withColumn("cum", sum(col("n_tokens")).over(withinW))
      .join(broadcast(offsets), "seg")
      .withColumn("cum_tokens", (col("seg_off") + col("cum")).cast("bigint"))
      .filter(col("cum_tokens") - col("n_tokens") < tokenBudget)
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
        col("cum_tokens"), round(col("score"), 6).as("quality"))
      .orderBy("doc_id")
  }

  /** The behavioral stack end-to-end: 10-minute-gap sessionization (one
    * shuffle on user_id; the session id is a running sum of gap breaks
    * inside that partition), per-session conversion flags, then a
    * signup-cohort rollup keyed by each user's FIRST session date. The
    * per-user window and the session groupBy reuse the sessionization's
    * user_id partitioning; only the closing cohort aggregate (one row per
    * date) exchanges again. Counts are integers; the one rate rounds to
    * 6 dp — the established oracle convention. */
  def qCapstoneSessions(s: SparkSession, dir: String): DataFrame = {
    val orderW = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val runW = orderW.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prevTs = lag(col("ts"), 1).over(orderW)
    val sessions = events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("new_s",
        when(prevTs.isNull ||
          unix_micros(col("ts")) - unix_micros(prevTs) > 600000000L, 1)
          .otherwise(0))
      .withColumn("sid", sum(col("new_s")).over(runW))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).as("s_start"), count(lit(1)).as("n_ev"),
        max(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("has_purchase"))
    sessions
      .withColumn("cohort_date",
        to_date(min(col("s_start")).over(Window.partitionBy(col("user_id")))))
      .withColumn("cohort_date", col("cohort_date").cast("timestamp"))
      .groupBy(col("cohort_date"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_sessions"),
        sum(col("has_purchase")).cast("bigint").as("n_purchase_sessions"),
        countDistinct(when(col("has_purchase") === 1, col("user_id")))
          .as("n_converted"))
      .withColumn("conv_rate",
        round(col("n_converted").cast("double") / col("n_users").cast("double"), 6))
      .orderBy("cohort_date")
  }

  /** The reference's whole scan cycle as one audit frame: merge-classify
    * counts per action, the mime-preservation count (hand-corrected
    * types surviving a rescan — THE reference behavior, `db.rs:88-90`),
    * the tombstone count, and the seen-set size — all from ONE
    * full-outer merge join + one aggregate ([[Scrape.scanCycleAudit]]
    * folds [[Scrape.cycle]], the same per-key frame the `--out` merge
    * writes and the J1–J4 operators view). */
  def qCapstoneScrape(s: SparkSession, dir: String): DataFrame =
    Scrape.scanCycleAudit(Scrape.filesCurrent(s, dir), Scrape.filesScan(s, dir))

  /** The data-RELEASE gate as one plan: the compliance pipeline a corpus
    * passes through on its way out the door, per source —
    *
    *  1. deterministic duplicate + PII injection (the fixture corpus is
    *     clean, so both hazards are synthesized the q_text_redact way:
    *     every 11th doc re-enters as a copy under a shifted id, every
    *     7th gains a contact line),
    *  2. quality gate (n_chars ≥ 100),
    *  3. exact dedup on RAW content (min doc_id per md5(text) — catches
    *     the copies even though their injected PII differs),
    *  4. PII detection on the released set (the regex pair of
    *     [[Pipeline.qTextRedact]] — these docs get redacted, not
    *     dropped, so they are COUNTED),
    *  5. k-anonymity over QI = (lang, 100-char length bucket) within
    *     each source's released docs,
    *  6. a DP-noised public count (the [[Privacy.qPrivacyDp]]
    *     mechanism, seeded per source).
    *
    * Scale shape: one narrow union, ONE content-hash exchange (the
    * dedup window), one (source, lang, bucket) aggregate that collapses
    * to per-source, and a broadcast join against the tiny pre-gate
    * counts — the noise is a map-side expression. Catalyst sees the
    * whole pipeline, so the n_chars gate pushes into both union
    * branches' scans. */
  def qCapstoneRelease(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars").map(col)
    val corpus0 = d.select(cols: _*).unionByName(
      d.filter(col("doc_id") % 11 === 0)
        // bit-40 offset, not +1000000: doc_ids reach 1e6 around sf200
        // (50k docs/sf) and a colliding injected id would corrupt the
        // dedup tiering identically in both engines (the ekey lesson)
        .select((col("doc_id") + 1099511627776L).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars")))
    val pii = corpus0.withColumn("ptext",
      when(col("doc_id") % 7 === 0, concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com or call 555"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(col("text")))
    val gated = pii.filter(col("n_chars") >= 100)
    val released = gated
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .filter(col("rk") === 1)
      .withColumn("pf",
        when((size(regexp_extract_all(col("ptext"), lit(Pipeline.emailRe), lit(0))) +
          size(regexp_extract_all(col("ptext"), lit(Pipeline.numRe), lit(0)))) > 0,
          1L).otherwise(0L))
    val grouped = released
      .groupBy(col("source"), col("lang"),
        floor(col("n_chars") / 100).cast("long").as("qb"))
      .agg(count(lit(1)).as("n"), sum(col("pf")).as("np"))
    val audit = grouped.groupBy(col("source")).agg(
      sum(col("n")).as("n_released"),
      sum(col("np")).as("n_pii_docs"),
      min(col("n")).as("min_k"),
      sum(when(col("n") < 3, 1L).otherwise(0L)).as("n_small_groups"))
    val raw = corpus0.groupBy(col("source")).agg(count(lit(1)).as("n_raw"))
    val u = conv(substring(md5(concat(lit("rel"), col("source"))), 1, 13), 16, 10)
      .cast("long").cast("double") / lit(math.pow(16.0, 13))
    audit.join(broadcast(raw), Seq("source"))
      .select(col("source"), col("n_raw"), col("n_released"),
        col("n_pii_docs"), col("min_k"), col("n_small_groups"),
        round(col("n_released") + lit(-10.0) * signum(u - 0.5) *
          log(greatest(lit(1.0) - lit(2.0) * abs(u - 0.5), lit(1e-12))), 6)
          .as("n_public"))
      .orderBy("source")
  }

  /** Hybrid retrieval as one plan — the RAG stack's standard recall
    * path: a LEXICAL ranking (BM25 top-20 over the probe terms, the
    * [[graft.functions.TextAnalysis]] ranking spine) and a DENSE
    * ranking (cosine against a fixed probe embedding, vec_id 0 — the
    * id-aligned embeddings table), fused by reciprocal rank (k = 60),
    * top-10 kept with both ranks visible.
    *
    * Determinism: the dense side ranks on the raw cosine — the kernel
    * carries DuckDB's exact operation tree (`Kernels.cosine` lockstep,
    * the q_sim_topk precedent), so the boolean ordering is bit-stable —
    * with vec_id tie-breaks; the lexical side is the round-6-then-rank
    * spine; both top-20s are bounded orderBy+limit, and the fused score
    * is two correctly-rounded divisions added in a fixed order.
    *
    * Scale shape: the probe vector broadcasts (one row); the dense scan
    * is a map-side cosine + bounded top-k (TakeOrderedAndProject); the
    * lexical side's only wide exchange carries matching-term rows; the
    * fusion joins two 20-row frames. */
  def qCapstoneHybrid(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (lexTop, _) = graft.functions.TextAnalysis.rankedTop20(s, dir)
    val e = embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val probe = e.filter(col("vec_id") === 0)
      .select(col("emb").as("probe_emb"))
    val denseTop = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(probe))
      .select(col("vec_id"),
        graft.functions.Similarity.cosine(col("probe_emb"), col("emb")).as("cos"))
      .orderBy(desc("cos"), asc("vec_id")).limit(20)
      .withColumn("rd", row_number().over(Window.orderBy(desc("cos"), asc("vec_id"))))
      .select(col("vec_id").as("doc_id"), col("cos"), col("rd"))
    lexTop.select("doc_id", "ra").join(denseTop, Seq("doc_id"), "full_outer")
      .withColumn("fused",
        coalesce(lit(1.0) / (lit(60.0) + col("ra").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("rd").cast("double")), lit(0.0)))
      .orderBy(col("fused").desc, col("doc_id"))
      .limit(10)
      .select(col("doc_id"), col("ra").as("lex_rank"), col("rd").as("dense_rank"),
        col("fused"))
  }

  /** Entity resolution with survivorship — the record-linkage capstone
    * (blocking → match → cluster → golden record) over the customer
    * dimension: the fixture injects a deletion-typo duplicate for every
    * third customer (one digit dropped from the name, acctbal drifted
    * +37.50 — both engines derive the identical variant set), and the
    * pipeline must merge each duplicate back onto its source and elect
    * one surviving record per cluster.
    *
    *  1. '''Blocking''': SymSpell deletion neighborhood on the full name
    *     (the [[Dedup.qDedupFuzzy]] discipline — a lev≤1 pair MUST share
    *     a deletion key, so the equi-join has full recall and nothing
    *     all-pairs runs), pre-gated by nation equality.
    *  2. '''Match rule''': levenshtein ≤ 1 AND unequal lengths — the
    *     deletion-typo model. The length gate excludes the
    *     substitution-only lev-1 pairs between DISTINCT customers
    *     ("…001" vs "…002"); the surviving cross-matches a weak rule
    *     still admits (a variant insertion-reaching another base name in
    *     the same nation) are kept deliberately — deterministic in both
    *     engines, and exactly the imperfect-rule chaining a real ER
    *     deployment audits for (visible as the handful of size>2
    *     clusters).
    *  3. '''Clustering''': [[Dedup.clustersOf]] (bounded union-find with
    *     the distributed min-label fallback).
    *  4. '''Survivorship''': per cluster the max-acctbal record wins
    *     (tie → smallest key) — a cluster-partitioned top-1 window over
    *     the resolved frame, never a global sort.
    *
    * Scale shape: deletion keys bound bucket sizes by typo
    * neighborhoods (the SymSpell argument); the only wide work is the
    * key-equi-join and the cluster shuffle on pair output, which is
    * orders of magnitude below the dimension. */
  def qCapstoneEntity(s: SparkSession, dir: String): DataFrame = {
    val base = customer(s, dir).select(
      col("c_custkey").cast("bigint").as("ekey"), col("c_name").as("name"),
      col("c_nationkey").as("nation"), col("c_acctbal").as("acctbal"))
    // variant ids live above bit 40 (ekey + 2^40) so they stay disjoint
    // from genuine custkeys at ANY scale factor — a small additive
    // offset like +100000 collides with real keys once the fixture
    // reaches 100k customers (SF≥1: 150k) and silently corrupts the
    // clustering identically in both engines, invisible to the oracle;
    // the injected set stays BOUNDED (ekey % 3, < 90000) like
    // Dedup.corpus bounds its copies
    val variants = base.filter(col("ekey") % 3 === 0 && col("ekey") < 90000)
      .select((col("ekey") + 1099511627776L).as("ekey"),
        expr("concat(substring(name, 1, 10), substring(name, 12))").as("name"),
        col("nation"), (col("acctbal") + 37.5).as("acctbal"))
    // NOT fanned (A/B r21: −0.16 s) — with the posting-list blocking in
    // [[resolveEntities]] the one wide exchange already runs wide, and
    // the extra scan exchange costs more than the narrow map it fixes
    // (the same verdict as Dedup.corpus). The cache-build widening
    // below is gated on the customer dimension fitting one scan split
    // (ADVICE r21: it was unconditional) — at real scale the dimension
    // is multi-split and the exchange vanishes from the plan.
    resolveEntities(s, base.union(variants),
      widen = graft.Tables.belowOneSplit(s, dir, "customer"))
      .orderBy("cluster_id")
  }

  /** The blocking → match → cluster → survivorship core over an
    * arbitrary (ekey, name, nation, acctbal) frame, without the
    * presentation sort — shared with the ×100 scale probe so the probe
    * measures the SHIPPED pipeline. */
  private[graft] def resolveEntities(s: SparkSession,
      entityFrame: DataFrame, widen: Boolean = true): DataFrame = {
    // Widen the dimension cache BEFORE caching (r21; GATED r22 — the
    // shipped caller passes `widen` from Tables.belowOneSplit, so the
    // exchange only exists where the dimension scan cannot parallelize
    // itself): the deletion-key explode map (≈26 keys × xxhash per
    // entity) ran as one 0.47 s 2-task stage over the narrow scan
    // partitions. A scan-level fan measured −0.16 s (extra exchange per
    // consumer path), but ONE repartition at cache build is paid once
    // while every cache reader — blocking explode, survivorship window,
    // both verify joins — runs wide. Width = shuffle-width/4 (floor 8):
    // dimension-scale frame, and the 32-wide arm LOST to per-task
    // overhead in the same A/B (OPTIMIZATION_r21.md: rep8 beat shipped 8/10
    // interleaved rounds, ~−0.2 s; rep32 lost). Row order inside
    // partitions is irrelevant: sorted_pairs canonicalizes +
    // distinct()s the candidate set and survivorship is a
    // deterministic window.
    val entities = (if (widen)
        entityFrame.repartition(
          math.max(8, s.sessionState.conf.numShufflePartitions / 4))
      else entityFrame)
      .cache() // blocking + survivorship + verify
    // Posting-list blocking (r21, the interOfCorpus discipline): group
    // the exploded deletion keys into per-(nation, key) buckets and
    // generate candidate pairs in-array with the sorted_pairs kernel.
    // The previous two-sided self-join on the exploded frame planned as
    // a BROADCAST hash join (the pre-explosion customer stats look
    // small), so the driver collected and hash-built ~26 exploded rows
    // per entity single-threaded — a ~1 s serial stall per run at
    // sf0.1 (r21 per-job profile); and the levenshtein verify ran per CANDIDATE
    // row (~21 duplicate key hits per true pair) instead of per
    // distinct pair. Keys shuffle as 8-byte xxhash64, nation folded
    // into the grouping key, so the one wide exchange carries 24-byte
    // rows. Collision safety is STRONGER than the interOfCorpus odds
    // argument: SymSpell completeness means every true lev≤1 pair
    // already shares a genuine deletion key, so a hash collision can
    // only add a candidate that FAILS the exact verify below — the
    // output is collision-invariant, not merely collision-improbable.
    val keyed = entities.select(col("nation"), col("ekey"),
      explode(expr(
        "array_distinct(concat(array(name), transform(sequence(1, length(name))," +
          " i -> concat(substring(name, 1, i - 1), substring(name, i + 1)))))"))
        .as("bkey"))
      .select(col("nation"), xxhash64(col("bkey")).as("bk"), col("ekey"))
    val cand = keyed.groupBy(col("nation"), col("bk"))
      .agg(collect_list(col("ekey")).as("es"))
      .filter(size(col("es")) >= 2)
      .select(explode(
        graft.plans.GraftExpressions.sorted_pairs(col("es"))).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .distinct()
    // Exact verify ONCE per distinct candidate pair (names re-attached
    // from the cached dimension — two keyed joins of a pair frame that
    // is orders of magnitude below the exploded key frame).
    val pairs = cand
      .join(entities.select(col("ekey").as("d1"), col("name").as("n1")), "d1")
      .join(entities.select(col("ekey").as("d2"), col("name").as("n2")), "d2")
      .filter(levenshtein(col("n1"), col("n2")) <= 1 &&
        length(col("n1")) =!= length(col("n2")))
      .select(col("d1"), col("d2"))
    val clusters = Dedup.clustersOf(s, pairs)
    val resolved = entities
      .join(clusters.withColumnRenamed("doc_id", "ekey"), Seq("ekey"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("acctbal").desc, col("ekey"))
    val golden = resolved.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("ekey").as("golden_key"),
        col("name").as("golden_name"), col("acctbal").as("golden_acctbal"))
    val sizes = resolved.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_records"))
    golden.join(sizes, Seq("cluster_id"))
      .select(col("cluster_id"), col("n_records"), col("golden_key"),
        col("golden_name"), col("golden_acctbal"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_capstone_entity" -> qCapstoneEntity,
    "q_capstone_corpus" -> qCapstoneCorpus,
    "q_capstone_hybrid" -> qCapstoneHybrid,
    "q_capstone_sessions" -> qCapstoneSessions,
    "q_capstone_scrape" -> qCapstoneScrape,
    "q_capstone_release" -> qCapstoneRelease,
  )

  private def toksSql = "list_filter(string_split(text,' '), x -> x <> '')"

  val oracles: Map[String, String] = Map(
    // nation-gated brute-force match + recursive closure — an
    // independent algorithm agreeing on the golden-record set proves
    // SymSpell blocking recall AND the cluster/survivorship logic
    "q_capstone_entity" ->
      """WITH RECURSIVE base AS (
        |  SELECT c_custkey AS ekey, c_name AS name, c_nationkey AS nation, c_acctbal AS acctbal FROM customer),
        |var AS (SELECT ekey + 1099511627776 AS ekey, substr(name, 1, 10) || substr(name, 12) AS name,
        |    nation, acctbal + 37.5 AS acctbal FROM base WHERE ekey % 3 = 0 AND ekey < 90000),
        |e AS (SELECT * FROM base UNION ALL SELECT * FROM var),
        |prs AS (SELECT a.ekey AS d1, b.ekey AS d2 FROM e a JOIN e b
        |  ON a.nation = b.nation AND a.ekey < b.ekey
        |  AND length(a.name) <> length(b.name) AND levenshtein(a.name, b.name) <= 1),
        |und AS (SELECT d1, d2 FROM prs UNION ALL SELECT d2, d1 FROM prs),
        |reach(v, r) AS (
        |  SELECT DISTINCT d1, d1 FROM und
        |  UNION
        |  SELECT u.d1, reach.r FROM und u JOIN reach ON u.d2 = reach.v),
        |cl AS (SELECT v AS ekey, min(r) AS cluster_id FROM reach GROUP BY v),
        |res AS (SELECT e.ekey, e.name, e.acctbal, cl.cluster_id FROM e JOIN cl USING (ekey)),
        |g AS (SELECT cluster_id, ekey, name, acctbal,
        |   row_number() OVER (PARTITION BY cluster_id ORDER BY acctbal DESC, ekey) AS rn FROM res),
        |sz AS (SELECT cluster_id, count(*) AS n_records FROM res GROUP BY 1)
        |SELECT CAST(g.cluster_id AS BIGINT) AS cluster_id, sz.n_records,
        |  CAST(g.ekey AS BIGINT) AS golden_key, g.name AS golden_name, g.acctbal AS golden_acctbal
        |FROM g JOIN sz USING (cluster_id) WHERE rn = 1 ORDER BY cluster_id""".stripMargin,
    "q_capstone_hybrid" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS w FROM documents),
        |d AS (SELECT doc_id, w, len(w) AS dl FROM t),
        |c AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |  CAST(sum(dl) AS DOUBLE)/CAST(count(*) AS DOUBLE) AS avgdl FROM d),
        |tf AS (SELECT doc_id, dl, tok, count(*) AS tf
        |  FROM (SELECT doc_id, dl, unnest(w) AS tok FROM d)
        |  WHERE tok IN ('hash','spark','window') GROUP BY doc_id, dl, tok),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |sc AS (SELECT doc_id, tok,
        |  ln(1.0 + (n_docs - CAST(df AS DOUBLE) + 0.5)/(CAST(df AS DOUBLE) + 0.5))
        |  * ((CAST(tf AS DOUBLE) * 2.2) /
        |     (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)/avgdl))) AS cb
        |  FROM tf JOIN df USING (tok), c),
        |g AS (SELECT doc_id,
        |  round(coalesce(max(CASE WHEN tok='hash' THEN cb END), 0.0)
        |   + coalesce(max(CASE WHEN tok='spark' THEN cb END), 0.0)
        |   + coalesce(max(CASE WHEN tok='window' THEN cb END), 0.0), 6) AS sa
        |  FROM sc GROUP BY doc_id),
        |ta AS (SELECT doc_id, sa FROM g ORDER BY sa DESC, doc_id LIMIT 20),
        |ra AS (SELECT doc_id, row_number() OVER (ORDER BY sa DESC, doc_id) AS ra FROM ta),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |p AS (SELECT emb AS pe FROM e WHERE vec_id = 0),
        |dt AS (SELECT vec_id, list_cosine_similarity(emb, pe) AS cos
        |  FROM e, p WHERE vec_id <> 0 ORDER BY cos DESC, vec_id LIMIT 20),
        |dr AS (SELECT vec_id AS doc_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS rd FROM dt)
        |SELECT coalesce(ra.doc_id, dr.doc_id) AS doc_id,
        |  CAST(ra.ra AS INT) AS lex_rank, CAST(dr.rd AS INT) AS dense_rank,
        |  coalesce(1.0 / (60.0 + CAST(ra.ra AS DOUBLE)), 0.0)
        |    + coalesce(1.0 / (60.0 + CAST(dr.rd AS DOUBLE)), 0.0) AS fused
        |FROM ra FULL OUTER JOIN dr ON ra.doc_id = dr.doc_id
        |ORDER BY fused DESC, coalesce(ra.doc_id, dr.doc_id) LIMIT 10""".stripMargin,
    "q_capstone_release" ->
      """WITH c0 AS (
        |  SELECT doc_id, text, lang, source, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1099511627776, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 11 = 0),
        |p AS (SELECT *, CASE WHEN doc_id % 7 = 0
        |    THEN text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |      '@mail.example.com or call 555' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |    ELSE text END AS ptext
        |  FROM c0 WHERE n_chars >= 100),
        |dd AS (SELECT *, row_number() OVER (PARTITION BY md5(text)
        |    ORDER BY doc_id) AS rk FROM p),
        |rel AS (SELECT *, CASE WHEN
        |      len(regexp_extract_all(ptext, '[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+'))
        |      + len(regexp_extract_all(ptext, '[0-9]{5,}')) > 0
        |    THEN 1 ELSE 0 END AS pf
        |  FROM dd WHERE rk = 1),
        |g AS (SELECT source, lang, CAST(floor(n_chars / 100) AS BIGINT) AS qb,
        |    count(*) AS n, sum(pf) AS np
        |  FROM rel GROUP BY 1, 2, 3),
        |aud AS (SELECT source,
        |    CAST(sum(n) AS BIGINT) AS n_released,
        |    CAST(sum(np) AS BIGINT) AS n_pii_docs,
        |    CAST(min(n) AS BIGINT) AS min_k,
        |    CAST(sum(CASE WHEN n < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups
        |  FROM g GROUP BY 1),
        |raw AS (SELECT source, CAST(count(*) AS BIGINT) AS n_raw FROM c0 GROUP BY 1),
        |j AS (SELECT a.*, r.n_raw,
        |    CAST(CAST('0x' || substring(md5('rel' || a.source), 1, 13) AS BIGINT)
        |      AS DOUBLE) / power(16.0, 13) AS u
        |  FROM aud a JOIN raw r USING (source))
        |SELECT source, n_raw, n_released, n_pii_docs, min_k, n_small_groups,
        |  round(n_released + (-10.0) * sign(u - 0.5)
        |    * ln(greatest(1 - 2 * abs(u - 0.5), 1e-12)), 6) AS n_public
        |FROM j ORDER BY source""".stripMargin,
    "q_capstone_corpus" ->
      (s"""WITH t AS (SELECT doc_id, lang, source, text, $toksSql AS toks FROM documents),
        |q AS (SELECT doc_id, lang, source, text,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    ${graft.functions.TextAnalysis.qualityScoreSql("toks", "text")} AS score
        |  FROM t),
        |d AS (SELECT * FROM (
        |    SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS canon
        |    FROM q WHERE score >= 0.5)
        |  WHERE doc_id = canon),
        |tr AS (SELECT * FROM d WHERE doc_id % 97 <> 0
        |  AND md5(text) NOT IN (SELECT md5(text) FROM documents WHERE doc_id % 97 = 0)),
        |c AS (SELECT doc_id, lang, source, n_tokens, score,
        |    CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM tr)
        |SELECT doc_id, lang, source, n_tokens, cum_tokens,
        |  round(score, 6) AS quality
        |FROM c WHERE cum_tokens - n_tokens < $tokenBudget
        |ORDER BY doc_id""".stripMargin),
    "q_capstone_sessions" ->
      """WITH g AS (SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |x AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g),
        |sess AS (SELECT user_id, sid, min(ts) AS s_start, count(*) AS n_ev,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase
        |  FROM x GROUP BY user_id, sid),
        |c AS (SELECT *, CAST(min(s_start) OVER (PARTITION BY user_id) AS DATE)
        |    AS cohort_date FROM sess)
        |SELECT cohort_date,
        |  count(DISTINCT user_id) AS n_users,
        |  count(*) AS n_sessions,
        |  CAST(sum(has_purchase) AS BIGINT) AS n_purchase_sessions,
        |  count(DISTINCT CASE WHEN has_purchase = 1 THEN user_id END) AS n_converted,
        |  round(CAST(count(DISTINCT CASE WHEN has_purchase = 1 THEN user_id END) AS DOUBLE)
        |    / CAST(count(DISTINCT user_id) AS DOUBLE), 6) AS conv_rate
        |FROM c GROUP BY cohort_date ORDER BY cohort_date""".stripMargin,
    "q_capstone_scrape" -> (Scrape.cte +
      """,u AS (SELECT
        |    CASE WHEN c.filename IS NULL THEN 'insert'
        |         WHEN (n.created IS DISTINCT FROM c.created
        |            OR n.modified IS DISTINCT FROM c.modified
        |            OR n.size IS DISTINCT FROM c.size) THEN 'update'
        |         ELSE 'unchanged' END AS action,
        |    CASE WHEN c.filename IS NOT NULL
        |          AND NOT (n.created IS DISTINCT FROM c.created
        |                OR n.modified IS DISTINCT FROM c.modified
        |                OR n.size IS DISTINCT FROM c.size)
        |         THEN c.mime_type ELSE n.mime_type END AS mime_type,
        |    n.mime_type AS guessed
        |  FROM scan n LEFT JOIN cur c
        |    ON n.external_source = c.external_source AND n.path = c.path
        |   AND n.filename = c.filename)
        |SELECT metric, n FROM (
        |  SELECT action AS metric, count(*) AS n FROM u GROUP BY action
        |  UNION ALL
        |  SELECT 'mime_preserved' AS metric, count(*) AS n FROM u
        |    WHERE action = 'unchanged' AND mime_type IS DISTINCT FROM guessed
        |  UNION ALL
        |  SELECT 'deleted' AS metric, count(*) AS n FROM cur c
        |    WHERE NOT EXISTS (SELECT 1 FROM scan n
        |      WHERE n.external_source = c.external_source AND n.path = c.path
        |        AND n.filename = c.filename)
        |  UNION ALL
        |  SELECT 'seen' AS metric, count(*) AS n FROM (
        |    SELECT DISTINCT c.uuid_external_file, n.path, n.filename
        |    FROM scan n LEFT JOIN cur c
        |      ON n.external_source = c.external_source AND n.path = c.path
        |     AND n.filename = c.filename
        |    WHERE c.filename IS NULL
        |       OR (n.created IS DISTINCT FROM c.created
        |        OR n.modified IS DISTINCT FROM c.modified
        |        OR n.size IS DISTINCT FROM c.size)
        |       OR (c.filename IS NOT NULL AND n.size IS NOT DISTINCT FROM c.size)))
        |ORDER BY metric""".stripMargin),
  )
}
