package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.TextAnalysis.tokens

/** Deduplication family (north-star extension, SURVEY §7.5): exact
  * content-hash dedup, n-gram Jaccard near-dup, MinHash-LSH, SimHash.
  *
  * Corpus fixture: `documents` plus deterministic injected duplicates —
  * ids+100000 are byte-exact copies of doc_id<50, ids+200000 are near
  * copies (three tokens appended) of doc_id in [50,100). Both Spark and
  * the DuckDB oracles derive the same corpus, so the dedup operators have
  * known positives to find.
  *
  * Scale design:
  *  - Exact dedup: hash-groupBy — one shuffle on a 16-byte key regardless
  *    of document size.
  *  - N-gram Jaccard: inverted-index self-join on shingles with a
  *    document-frequency cap (prefix-filtering analog): frequent shingles
  *    are dropped BEFORE the self-join, bounding per-gram fanout to df²,
  *    so the join is near-linear instead of quadratic at 100 TB.
  *  - MinHash-LSH: per-row signature (no shuffle), banded bucketing
  *    (shuffle on band hash only), exact-Jaccard verification restricted
  *    to candidate pairs — the classic sub-quadratic near-dup pipeline.
  *  - SimHash: per-row 64-bit fingerprint, pigeonhole blocking on 16-bit
  *    chunks (Hamming ≤ 3 ⇒ some chunk of 4 equal), verify via
  *    `bit_count(xor)`.
  */
object Dedup {

  /** documents ∪ exact copies (ids+100000 of doc_id<50) ∪ near copies
    * (ids+200000 of 50≤doc_id<100, three tokens appended).
    *
    * Offset bound: the injected tiers stay disjoint from genuine ids
    * while max(doc_id) < 100000, i.e. fixture sf < 2 (50k docs/sf) —
    * fine for every test/bench scale here. A production corpus builder
    * would use a high-bit offset (the qCapstoneEntity 2⁴⁰ convention);
    * these small offsets are kept because the canonical-dedup tier
    * ORDER (raw < +100000 curated < +200000) is part of several
    * fixtures' semantics and their oracles. */
  def corpus(s: SparkSession, dir: String): DataFrame = {
    // Deliberately NOT fanned (Tables.fanned): the dedup pipelines are
    // bound by their posting-list exchanges, which already run wide;
    // the r21 A/B (OPTIMIZATION_r21.md) showed the extra scan exchange
    // a net loss across the family (−0.07 … −1.5 s per query at sf0.1;
    // re-measured in r21 with the same verdict — the corpus subtree's
    // many consumers each pay the extra exchange + AQE stage
    // round-trip, which costs more than the 3-task map narrowness it
    // fixes).
    val d = documents(s, dir)
    val exact = d.filter(col("doc_id") < 50)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val near = d.filter(col("doc_id") >= 50 && col("doc_id") < 100)
      .select((col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" zz9 qq8 vv7")).as("text"))
    d.select("doc_id", "text").union(exact).union(near)
  }

  private val corpusCte =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50
      |  UNION ALL SELECT doc_id + 200000, text || ' zz9 qq8 vv7' FROM documents WHERE doc_id >= 50 AND doc_id < 100)
      |""".stripMargin

  /** Exact dedup: group by content hash, keep the smallest id as canonical. */
  def qDedupExact(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir)
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
      .orderBy("content_hash")

  /** Shared bounded member-list aggregator for [[qDedupCanonical]] (one
    * instance: cache plan-matching compares aggregator identity). */
  private lazy val minK16 = graft.functions.TopK.minK(16)

  /** Source-priority canonical selection: for every exact-duplicate group,
    * pick the representative from the most-trusted provenance tier (here
    * the +100000 "curated mirror" tier outranks the raw corpus; the
    * near-copy tier is last), tie-broken by doc_id — the cross-source
    * canonicalization step that decides WHICH copy of a duplicated
    * document a training corpus keeps, independent of ingestion order.
    *
    * One shuffle on the 16-byte content hash. The per-group member list
    * is BOUNDED ([[graft.functions.MinKAgg]], 16 smallest ids map-side) so
    * a pathologically duplicated boilerplate doc at 100 TB never
    * concentrates its full copy set in one reducer buffer; zero-padding
    * the id key makes the heap's lexicographic order numeric. */
  def qDedupCanonical(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir)
      .select(
        md5(col("text").cast("binary")).as("content_hash"),
        col("doc_id"),
        when(col("doc_id").between(100000, 199999), lit(0))
          .when(col("doc_id") < 100000, lit(1))
          .otherwise(lit(2)).as("tier"))
      .groupBy(col("content_hash"))
      .agg(
        min(struct(col("tier"), col("doc_id"))).as("c"),
        count(lit(1)).as("n_copies"),
        minK16(lpad(col("doc_id").cast("string"), 7, "0"), col("doc_id"))
          .as("kept"))
      .filter(col("n_copies") > 1)
      .select(col("content_hash"), col("c.doc_id").as("canonical_id"),
        col("c.tier").as("canonical_tier"), col("n_copies"),
        concat_ws(",", expr("transform(kept, x -> x._2)")).as("member_ids"))
      .orderBy("content_hash")

  /** Distinct word-3-gram shingles per document (custom codegen kernel
    * [[graft.plans.Shingles3Expr]]; same semantics as the built-in
    * `array_distinct(transform(sequence…, slice…))` chain, ~an order of
    * magnitude cheaper per row). */
  def shingles(text: Column): Column =
    graft.plans.GraftExpressions.shingles3(text)

  /** Max document frequency for a shingle to participate in the self-join
    * (prefix-filtering: ubiquitous shingles carry no dedup signal but
    * quadratic join cost). */
  val maxDf = 20

  /** One shared UDAF instance: a fresh `cappedList(maxDf)` per query build
    * would defeat cache plan-matching (canonicalization compares the
    * aggregator object) and pile up duplicate cache entries on repeated
    * invocation. */
  private lazy val cappedListMaxDf = graft.functions.CappedCollect.cappedList(maxDf)

  /** Reference-side df cap for the recall companions: loose enough to be
    * EXACT at every grading scale (max observed shingle df is 50 at sf0.1
    * — the injected copy count bounds it), tight enough that the
    * ground-truth pipeline keeps the bounded-reducer property (≤ 512²/2
    * candidate structs per gram) instead of reintroducing the unbounded
    * hot-key blowup the production cap exists to prevent. */
  private[graft] val truthDf = 512
  private[graft] lazy val cappedListTruthDf = graft.functions.CappedCollect.cappedList(truthDf)

  /** N-gram Jaccard near-dup pairs over df-filtered shingle sets.
    *
    * Inverted-index shape with ONE wide shuffle: explode (doc, gram) and
    * group by gram into a SIZE-CAPPED posting list
    * ([[graft.functions.CappedListAgg]]): a gram over [[maxDf]] documents
    * collapses to an empty list during aggregation — map-side combine
    * included — so a pathological hot shingle never materializes its full
    * posting list in any reducer (prefix filtering with bounded memory;
    * ubiquitous shingles carry no dedup signal but df² join cost).
    * Candidate pairs are generated inside each posting list by the codegen
    * kernel [[graft.plans.SortedPairsExpr]] (≤ df²/2 structs; the
    * higher-order-function formulation evaluated interpreted) instead of a
    * 2-sided self-join shuffle; per-doc sizes re-derive from the posting
    * lists (exchange-reused) and broadcast into the final jaccard
    * computation. */
  def qDedupNgram(s: SparkSession, dir: String): DataFrame =
    ngramPairs(s, dir).orderBy("d1", "d2")

  /** The pair pipeline without the presentation sort — cluster assignment
    * consumes pairs in any order, so [[qDedupClusters]] skips the global
    * range-partition + sort exchange that [[qDedupNgram]]'s ORDER BY adds. */
  private[graft] def ngramPairs(s: SparkSession, dir: String): DataFrame =
    pairsOf(fannedCorpus(s, dir))

  /** The corpus with a WIDTH-CAPPED scan fan-out for the posting-list
    * consumers (q_dedup_ngram / containment / clusters / leakfree /
    * winnow): their map side (shingle + explode + hash + capped-list
    * partial agg) ran on the fixture's 3 scan partitions, but full
    * 32-wide fanning degrades map-side combine (each map partition
    * ships its own partial posting list per gram) — the A/B sweep put
    * the family's optimum at width 8 (+0.3…+0.4 s per query vs plain,
    * where 32-wide was a net LOSS). The LSH/simhash pipelines cache
    * their per-doc frames and stay unfanned (measured loss there). */
  private[graft] def fannedCorpus(s: SparkSession, dir: String): DataFrame =
    graft.Tables.fanIfSmall(s, dir, "documents", corpus(s, dir), 8,
      col("doc_id"))

  /** [[ngramPairs]] over an arbitrary (doc_id, text) corpus — the
    * DataFrame-level core, also driven directly by the ×100 scale probe
    * so the probe measures the SHIPPED pipeline, not a copy. */
  private[graft] def pairsOf(docs: DataFrame): DataFrame =
    interOfCorpus(docs, cappedListMaxDf)
      .select(col("d1"), col("d2"),
        (col("n_inter").cast("double") /
          (col("s1") + col("s2") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)

  /** Containment score over an arbitrary corpus (core of
    * [[qDedupContainment]]). */
  private[graft] def containmentOf(docs: DataFrame): DataFrame =
    interOfCorpus(docs, cappedListMaxDf)
      .select(col("d1"), col("d2"),
        (col("n_inter").cast("double") /
          least(col("s1"), col("s2"))).as("containment"))
      .filter(col("containment") >= 0.8)

  /** The shared sized-intersection frame (d1, d2, n_inter, s1, s2) that
    * every n-gram set-similarity measure derives from — jaccard
    * ([[qDedupNgram]]), containment ([[qDedupContainment]]). The posting
    * lists are deliberately NOT cached: their two consumers (the sizes
    * broadcast and the pair generator) share the aggregate's shuffle via
    * exchange reuse, A/B timing at sf0.1 puts cache and no-cache within
    * run noise of each other, and skipping the cache means no
    * array-heavy storage lingers in the session (the r6 audit's leak
    * concern) and nothing spills when the posting lists outgrow memory
    * at corpus scale. */
  private[graft] def ngramInter(s: SparkSession, dir: String): DataFrame =
    interOfCorpus(corpus(s, dir), cappedListMaxDf)

  /** [[ngramInter]] parameterized by the corpus frame and the posting-list
    * aggregator, so the recall companions can run the same pipeline with
    * the loose [[truthDf]] cap as the ground-truth side and the scale
    * probe can amplify the corpus. */
  private[graft] def interOfCorpus(docs: DataFrame,
      postingAgg: org.apache.spark.sql.expressions.UserDefinedFunction): DataFrame =
    interOfGramFrame(docs
      .select(col("doc_id"), explode(shingles(col("text"))).as("gram_s"))
      .select(col("doc_id"), xxhash64(col("gram_s")).as("gram")), postingAgg)

  /** [[interOfCorpus]] over a pre-exploded (doc_id, gram) frame, so a
    * caller that already materialized the shingle sets (the recall
    * companion shares one cached frame between the ground-truth and LSH
    * pipelines) can skip a second scan+shingle pass. */
  private[graft] def interOfGramFrame(g: DataFrame,
      postingAgg: org.apache.spark.sql.expressions.UserDefinedFunction,
      wideReduce: Boolean = false,
      sizesByDfCap: Option[Int] = None): DataFrame = {
    // Shingles shuffle as 8-byte xxhash64 keys, not strings (~3× less
    // shuffle volume); a hash collision would merge two shingles'
    // posting lists — ~2e-9 at 10^5 distinct shingles, negligible.
    //
    // (An explicit post-aggregate repartition before the pair explode —
    // countering AQE's byte-based coalescing of the tiny posting-list
    // aggregate — was tried and REVERTED in r21: interleaved A/B showed
    // the extra exchange a consistent ~0.25 s loss per query at sf0.1
    // and neutral on the recall companion; the reduce cost here is the
    // capped-list merge, not the explode width.)
    //
    // `wideReduce` (r21, for the truthDf=512 recall ground truth only):
    // the posting aggregate's reduce gets AQE-coalesced to ~1 task
    // (tiny shuffled bytes, big per-gram merge CPU — the r21 per-job
    // profile showed a single 1.1 s task), so repartition the RAW gram
    // rows on gram at the session's shuffle width first — an explicit
    // width is AQE-exempt, and the aggregate above it plans as one wide
    // COMPLETE agg (no map-side partial, but the merge work
    // parallelizes). Interleaved A/B (OPTIMIZATION_r21.md):
    // wideReduce+sizesByDfCap beat the shipped shape 9/10 rounds,
    // ~−0.4 s; the cheap maxDf=8 family measured neutral-to-negative on
    // the same lever and keeps the default shape.
    val width = g.sparkSession.sessionState.conf.numShufflePartitions
    val gIn = if (wideReduce) g.repartition(width, col("gram")) else g
    val byGram = gIn.groupBy("gram")
      .agg(postingAgg(col("doc_id")).as("docs"))
      .filter(size(col("docs")) >= 1) // empty = overflowed past the cap
    // `sizesByDfCap=Some(cap)` (r21): per-doc sizes WITHOUT a second
    // pass over the expensive posting merge — count grams per doc after
    // a broadcast anti-join against the (tiny, ≤ |g|/cap) OVERFLOW gram
    // set. Exactly equivalent to exploding the capped lists PROVIDED
    // `g` is distinct per (doc_id, gram) (shingles3 emits distinct
    // grams): an overflowed gram yields an empty list ⇒ contributes 0
    // to every doc ≡ the df-filter excluding it — and this is
    // literally the oracle's rare/kept/sizes CTE formulation.
    val sizes = sizesByDfCap match {
      case Some(cap) =>
        val over = g.groupBy("gram").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("gram")
        g.join(broadcast(over), Seq("gram"), "left_anti")
          .groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      case None =>
        byGram.select(explode(col("docs")).as("doc_id"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    }
    val pairs = byGram.select(explode(
      graft.plans.GraftExpressions.sorted_pairs(col("docs"))).as("p"))
    val inter = pairs.groupBy(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .agg(count(lit(1)).as("n_inter"))
    val sized = inter
      .join(broadcast(sizes.withColumnRenamed("doc_id", "d1")
        .withColumnRenamed("n_grams", "s1")), "d1")
      .join(broadcast(sizes.withColumnRenamed("doc_id", "d2")
        .withColumnRenamed("n_grams", "s2")), "d2")
    sized
  }

  /** Winnowing fingerprint dedup (Schleimer, Wilkerson, Aiken 2003 —
    * SIGMOD; the MOSS local fingerprinting algorithm): hash every
    * k=5-token gram, slide a window of w=8 consecutive gram hashes, and
    * keep each window's MINIMUM hash as a fingerprint. The winnowing
    * guarantee: any token run of length ≥ w+k−1 = 12 shared verbatim by
    * two documents shares at least one selected fingerprint, while only
    * ~2/(w+1) ≈ 22% of grams are ever selected — position-unaligned
    * substring-dedup signal (what the fixed-boundary [[qDedupPassage]]
    * misses when a copied span straddles passage edges) at a fifth of
    * the index size.
    *
    * Scale shape is the [[qDedupNgram]] inverted-index discipline: the
    * per-doc winnow is a pure projection (no shuffle); fingerprints
    * flow through ONE wide shuffle into df-capped posting lists
    * ([[graft.functions.CappedListAgg]] — a fingerprint appearing in
    * more than [[maxDf]] docs carries no dedup signal but df² pair
    * cost, so it collapses during aggregation, map-side combine
    * included); candidate pairs generate in-array via the
    * [[graft.plans.SortedPairsExpr]] codegen kernel; pairs sharing ≥ 3
    * fingerprints survive. The md5-hex gram hash is ordered
    * identically in both engines (lexicographic on the hex string), so
    * the selected fingerprint SET is oracle-exact. */
  def qDedupWinnow(s: SparkSession, dir: String): DataFrame =
    winnowPairsOf(fannedCorpus(s, dir)).orderBy("d1", "d2")

  /** [[qDedupWinnow]] over an arbitrary (doc_id, text) corpus without the
    * presentation sort — also driven directly by the ×100 scale probe so
    * the probe measures the SHIPPED pipeline. */
  private[graft] def winnowPairsOf(docs: DataFrame): DataFrame = {
    val fps = docs
      .select(col("doc_id"), graft.functions.TextAnalysis.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 12) // below w+k-1 no window exists
      .select(col("doc_id"), expr(
        "transform(sequence(0, size(w) - 5), i -> md5(concat_ws(' ', slice(w, i + 1, 5))))")
        .as("h"))
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(0, size(h) - 8), j -> array_min(slice(h, j + 1, 8))))"))
        .as("fp"))
    val byFp = fps.groupBy(col("fp"))
      .agg(cappedListMaxDf(col("doc_id")).as("docs"))
      .filter(size(col("docs")) >= 1) // empty = overflowed past the cap
    byFp.select(explode(
        graft.plans.GraftExpressions.sorted_pairs(col("docs"))).as("p"))
      .groupBy(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
  }

  /** Exact repeated-SPAN detection (the suffix-array substring dedup of
    * Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    * Better", re-expressed relationally): find every maximal token run
    * that some OTHER document also contains verbatim, reported as
    * (doc_id, span_start, span_tokens) — the spans a substring-dedup
    * pass would excise, which pair-level dedup ([[qDedupNgram]],
    * [[qDedupWinnow]]) cannot produce because it only says WHICH docs
    * overlap, not WHERE.
    *
    * Relational formulation: hash every k=8-token gram with its
    * position; a gram occurring in ≥2 distinct docs is "duplicated";
    * per doc, runs of consecutive duplicated positions merge into
    * maximal spans via gaps-and-islands (i − row_number), covering
    * islandLen + k − 1 tokens. Equivalent to the suffix-array criterion
    * for runs ≥ k: a shared run of length L ≥ k makes exactly its
    * L−k+1 grams duplicated, and the island reconstructs L.
    *
    * Scale shape — STRICTLY LINEAR, unlike any pair pipeline: the gram
    * df-aggregate partial-aggregates map-side on the 32-hex-char key;
    * the hits join is position⋈gram (output ≤ positions, never df²),
    * so a boilerplate gram in every document costs its row count, not
    * a pair explosion — no df cap needed; the island window partitions
    * by doc_id and is bounded by document length. Three keyed
    * shuffles total regardless of duplication structure — this is the
    * formulation that survives 100 TB where suffix-array construction
    * (the paper's own, single-node) cannot. */
  def qDedupSubstring(s: SparkSession, dir: String): DataFrame =
    // Fanned input (Tables.fanned scaladoc): unlike the pair pipelines
    // (posting-list exchanges already run wide; fan-out measured a net
    // loss there), this pipeline's cost is the per-row token+gram-hash
    // projection feeding posexplode — map-side work that the
    // single-row-group fixture would run on 3 of 32 cores. A/B
    // (r21, OPTIMIZATION_r21.md): 1.75 s → 1.29 s at sf0.1; gate is a
    // no-op at scale.
    substringSpansOf(graft.Tables.fanIfSmall(s, dir, "documents",
      corpus(s, dir), col("doc_id"))).orderBy("doc_id", "span_start")

  /** [[qDedupSubstring]] over an arbitrary (doc_id, text) corpus without
    * the presentation sort (scale-probe entry point). */
  private[graft] def substringSpansOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 8
    // Grams shuffle as 8-byte xxhash64 keys, not 32-hex-char md5: the
    // gram hash never reaches the output (only island positions do), so
    // the ~2e-9 collision odds argument of [[interOfCorpus]] applies —
    // a collision could only ADD a spurious duplicated position, and
    // only if the colliding grams also sit in 2+ docs. ~4× less shuffle
    // volume on the two gram-keyed exchanges.
    val pos = docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(w) - $k), i -> xxhash64(concat_ws(' ', slice(w, i + 1, $k))))"))
        .as(Seq("i", "g")))
    val dup = pos.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("g"))
    val hits = pos.join(dup, Seq("g")).select(col("doc_id"), col("i"))
    val w = Window.partitionBy("doc_id").orderBy("i")
    hits.withColumn("grp", col("i") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("i")).cast("bigint").as("span_start"),
        (count(lit(1)) + (k - 1)).as("span_tokens"))
      .select(col("doc_id"), col("span_start"), col("span_tokens"))
  }

  /** Leakage-free train/val/test split: near-duplicate CLUSTERS travel
    * together. Splitting documents independently (the
    * [[graft.operators.Pipeline.qSplitStratified]] convention) silently
    * leaks training text into eval whenever near-dups straddle the
    * boundary — the classic contamination the eval literature warns
    * about; the fix is to hash the cluster REPRESENTATIVE, not the doc:
    * every member of a component inherits its minimum-id label
    * ([[clustersOf]]), singletons represent themselves, and the salted
    * md5 of the representative picks the split at the 80/10/10
    * boundaries ('cc'/'e6' — exactly the stratified-split convention).
    * Output: per-split doc and cluster counts plus `leaky_clusters`,
    * the count of clusters spanning >1 split — structurally zero, and
    * the oracle recomputes it rather than trusting the construction.
    * Scale: the split column is a map-side projection over the cluster
    * frame; everything fact-scale is the pair pipeline already audited
    * under [[qDedupNgram]]/[[qDedupClusters]]. */
  def qSplitLeakfree(s: SparkSession, dir: String): DataFrame = {
    val docs = corpus(s, dir).select(col("doc_id"))
    val clusters = clustersOf(s, ngramPairs(s, dir).select(col("d1"), col("d2")))
    val rep = docs.join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("rep"))
    val h = md5(concat(lit("spl"), col("rep").cast("string")))
    val sp = rep.withColumn("split",
      when(h < "cc", lit("train")).when(h < "e6", lit("val"))
        .otherwise(lit("test")))
    val leak = sp.groupBy(col("rep"))
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1)
      .agg(count(lit(1)).as("leaky_clusters"))
    sp.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("rep")).as("n_clusters"))
      .crossJoin(broadcast(leak))
      .select(col("split"), col("n_docs"), col("n_clusters"),
        col("leaky_clusters"))
      .orderBy("split")
  }

  /** Asymmetric containment dedup: pairs where the smaller shingle set is
    * ≥80% contained in the other — catches quote/subset duplication
    * (a document embedded whole inside a longer one) that symmetric
    * Jaccard misses: a 100-gram doc inside a 10,000-gram doc has
    * jaccard ≈ 0.01 but containment 1.0. Same df-capped posting-list
    * pipeline and the same single wide shuffle as [[qDedupNgram]];
    * only the final score differs. */
  def qDedupContainment(s: SparkSession, dir: String): DataFrame =
    containmentOf(fannedCorpus(s, dir)).orderBy("d1", "d2")

  /** Cluster assignment over the near-dup pair graph (the step after
    * pair-finding that a dedup pipeline actually consumes): connected
    * components — every document labeled with the smallest doc_id
    * reachable through near-dup pairs, one canonical id per duplicate
    * cluster. Execution strategy in [[clustersOf]]. */
  def qDedupClusters(s: SparkSession, dir: String): DataFrame =
    clustersOf(s, ngramPairs(s, dir).select(col("d1"), col("d2")))

  /** Components of an undirected pair graph as (doc_id, cluster_id =
    * smallest member). The pair set is already the REDUCED output of
    * pair-finding (orders of magnitude below the corpus), so up to
    * `driverThreshold` pairs a driver union-find is the honest winner —
    * one collect of a bounded set beats dozens of scheduled stages on
    * rows that fit in L2. Past the threshold (multi-GB pair graphs), the
    * distributed min-label propagation runs: per round one keyed join +
    * min-aggregation, rounds = graph diameter, iteration state
    * localCheckpoint'ed so lineage stays flat. Both paths produce
    * identical labels (DedupSpec asserts it). */
  private[graft] def clustersOf(s: SparkSession, pairsDF: DataFrame,
      driverThreshold: Long = 1000000L): DataFrame = {
    // Size probe via cache + count, NOT limit(cap+1).collect(): a limit
    // over this aggregate executes as executeTake's incremental partition
    // batches (1, 4, 16, … sequential jobs), serializing the reduce side
    // onto a handful of cores — measured 2.9× the pair pipeline's own
    // cost at sf0.1. cache+count materializes the pairs in ONE fully
    // parallel job; the small-graph collect then reads the cache (no
    // re-execution), and the distributed path consumes the same cache.
    // Driver memory stays bounded: collect only runs when count ≤ cap.
    val cap = math.min(driverThreshold, Int.MaxValue - 2L).toInt
    val cached = pairsDF.cache()
    val n = cached.count()
    val out =
      if (n <= cap) {
        val es = cached.collect().map(r => (r.getLong(0), r.getLong(1)))
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        es.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val labels = parent.keys.toSeq.map(v => (v, find(v)))
        cached.unpersist(false)
        import s.implicits._
        labels.toDF("doc_id", "cluster_id")
      } else {
        val edges = cached
          .union(cached.select(col("d2").as("d1"), col("d1").as("d2")))
          .select(col("d1").as("src"), col("d2").as("dst")).cache()
        var labels = edges.select(col("src").as("v")).distinct()
          .withColumn("lbl", col("v")).localCheckpoint(true)
        var converged = false
        var iter = 0
        while (!converged && iter < 50) {
          val neighborMin = edges.join(
              labels.select(col("v").as("dst"), col("lbl").as("nlbl")), "dst")
            .groupBy(col("src").as("v")).agg(min(col("nlbl")).as("nmin"))
          val next = labels.join(neighborMin, Seq("v"), "left")
            .select(col("v"),
              least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"))
            .localCheckpoint(true)
          val changed = next.join(labels.withColumnRenamed("lbl", "old"), "v")
            .filter(col("lbl") =!= col("old")).count()
          labels = next
          converged = changed == 0
          iter += 1
        }
        edges.unpersist()
        cached.unpersist()
        labels.select(col("v").as("doc_id"), col("lbl").as("cluster_id"))
      }
    out.orderBy("doc_id")
  }

  /** Passage-level dedup (the sub-document granularity of Lee et al.'s
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499, approximated at fixed passage boundaries): each
    * document splits into non-overlapping 32-token passages; a passage is
    * kept only at its FIRST occurrence corpus-wide (smallest
    * (doc_id, passage_idx)), and every document reports how much of it
    * survived plus the md5 of its reassembled deduplicated text.
    *
    * Scale shape: chunking is a generator over the per-row token array (no
    * scalar rides through the explode — see the repetition-query trap);
    * first-occurrence election is ONE shuffle keyed on the 16-byte passage
    * hash; reassembly is a per-doc sort-free `collect_list` + `array_sort`
    * whose size is bounded by the document's own passage count. Exact
    * copies (fixture ids+100000) lose every passage; near copies
    * (ids+200000) keep only their divergent tail. */
  def qDedupPassage(s: SparkSession, dir: String): DataFrame = {
    val win = 32
    val chunks = corpus(s, dir)
      .select(col("doc_id"), graft.functions.TextAnalysis.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(toks)-1, $win), st -> array_join(slice(toks, st+1, $win), ' '))")))
      .select(col("doc_id"), col("pos").as("passage_idx"),
        col("col").as("passage"),
        md5(col("col").cast("binary")).as("h"))
    // First occurrence = smallest (doc_id, passage_idx), packed into one
    // comparable long so the oracle's window min matches bit-for-bit.
    val keyed = chunks.withColumn("k",
      col("doc_id") * 100000L + col("passage_idx"))
    val firstW = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    keyed
      .withColumn("keep", col("k") === min(col("k")).over(firstW))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_passages"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dup"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("passage_idx").as("i"), col("passage").as("c"))))),
          x => x.getField("c")), " ").cast("binary")).as("kept_md5"))
      .orderBy("doc_id")
  }

  // --- MinHash-LSH (not SQL-expressible → rows-only driver check;
  //     semantics covered by DedupSpec) ------------------------------

  private val P = 2147483647L // 2^31-1, Mersenne prime
  /** 64 permutations in 16 bands of 4: LSH match threshold
    * ≈ (1/bands)^(1/rows) = (1/16)^(1/4) = 0.5, matching the verification
    * threshold below. */
  val numPerm = 64
  val bands = 16

  /** Deterministic permutation parameters (fixed seed). */
  private lazy val perms: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(numPerm)((rnd.nextInt(Int.MaxValue - 1).toLong + 1,
      rnd.nextInt(Int.MaxValue).toLong))
  }

  private[graft] lazy val permA: Array[Long] = perms.map(_._1).toArray
  private[graft] lazy val permB: Array[Long] = perms.map(_._2).toArray

  /** MinHash signature computed per-row (no shuffle): shingles → base hash
    * in [0,P) (pmod of xxhash64) → min over shingles of (a·h+b mod P) per
    * permutation. Runs as the custom codegen kernel
    * [[graft.plans.MinHashSignatureExpr]] — same arithmetic as the
    * higher-order-function fold, over primitive arrays. (History: the
    * per-permutation `array_min(transform(…))` formulation re-evaluated
    * the whole shingling pipeline 128× after projection collapsing —
    * 450s at sf0.1; the single `aggregate` fold got it to ~8s; the
    * kernel is ~1s.) */
  def minhashSignature(text: Column): Column =
    graft.plans.GraftExpressions.minhash_signature(shingles(text), permA, permB)

  /** Candidate pairs via banded LSH, verified with exact Jaccard ≥ 0.5.
    * The shingle sets are cached: they feed band hashing AND both sides of
    * the verification join, and without the cache Catalyst re-derives the
    * whole shingling pipeline for each consumer. */
  def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    minhashPairs(s, dir).orderBy("d1", "d2")

  /** The LSH pair pipeline without the presentation sort (consumed by
    * [[qDedupMinhash]] and the recall companion, which aggregates). */
  private[graft] def minhashPairs(s: SparkSession, dir: String): DataFrame =
    minhashPairsOf(shingledSigs(s, dir))

  /** The cached (doc_id, grams, sig) frame the LSH pipeline runs over.
    * The CACHE is what materializes `sig`: without it, projection
    * collapsing substitutes the signature kernel into each of the 16
    * band-slice references and the kernel runs 16× per row (the same
    * trap as the array_min(transform(…)) history note above — measured
    * 0.8 s → 15 s when r21 briefly cached only the gram arrays). */
  private[graft] def shingledSigs(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir)
      .select(col("doc_id"), shingles(col("text")).as("grams"))
      .filter(size(col("grams")) > 0)
      .withColumn("sig",
        graft.plans.GraftExpressions.minhash_signature(col("grams"), permA, permB))
      .cache() // feeds banding + both verification sides — compute once

  /** The LSH pair pipeline over a pre-built [[shingledSigs]] frame the
    * CALLER has cached ([[minhashPairs]] for the standalone query; the
    * recall companion shares the same cached frame with its ground-truth
    * pipeline so the corpus is scanned and shingled exactly once). */
  private[graft] def minhashPairsOf(sigs: DataFrame): DataFrame = {
    val banded = sigs.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        bIdx => xxhash64(concat_ws("_",
          slice(col("sig"), bIdx * (numPerm / bands) + 1, lit(numPerm / bands)))))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash"))
    // Candidate pairs by the same inverted-index shape as the n-gram
    // dedup: group the banded rows into per-bucket doc lists (ONE shuffle
    // keyed on (band, band_hash)) and generate pairs inside each bucket
    // with the sorted_pairs kernel — instead of shuffling both sides of a
    // self-join. Bucket sizes bound the pair count exactly as the
    // self-join's equi-keys would, with half the shuffled volume.
    // Deliberately uncapped (unlike the ngram df cap): an LSH bucket's
    // size is the size of a genuine near-dup cluster, which IS the
    // signal. The degenerate case — a flood of byte-identical documents
    // collapsing into one huge bucket — belongs to the exact-dedup stage,
    // which a pipeline runs first (q_corpus_curate ordering).
    val cand = banded.groupBy(col("band"), col("band_hash"))
      .agg(collect_list(col("doc_id")).as("docs"))
      .filter(size(col("docs")) >= 2)
      .select(explode(
        graft.plans.GraftExpressions.sorted_pairs(col("docs"))).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .distinct()
    val g1 = sigs.select(col("doc_id").as("d1"), col("grams").as("g1"))
    val g2 = sigs.select(col("doc_id").as("d2"), col("grams").as("g2"))
    // Only the pair-ID frame (two longs per candidate) is ever broadcast:
    // each side's gram arrays are filtered by streaming past that hash
    // table, and the two |cand|-row results meet in a pair-keyed shuffle
    // that moves just one gram array per surviving row. (The r6 shape
    // hinted broadcast on cand⋈g1 — which would have shipped gram arrays
    // to every executor if the candidate set grew.)
    g1.join(broadcast(cand), "d1").join(g2.join(broadcast(cand), "d2"), Seq("d1", "d2"))
      .select(col("d1"), col("d2"),
        (size(array_intersect(col("g1"), col("g2"))).cast("double") /
          size(array_union(col("g1"), col("g2")))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  // --- SimHash (rows-only) ------------------------------------------

  /** 64-bit SimHash fingerprint: per bit, majority vote of the distinct
    * token hashes. Custom codegen kernel ([[graft.plans.SimHash64Expr]];
    * tokens are deduplicated by hash inside the kernel). */
  def simhash(text: Column): Column =
    graft.plans.GraftExpressions.simhash64(tokens(text))

  /** Near-dup pairs with Hamming distance ≤ 3, found by pigeonhole
    * blocking on the four 16-bit chunks (d ≤ 3 ⇒ ≥1 chunk equal). */
  def qDedupSimhash(s: SparkSession, dir: String): DataFrame =
    simhashPairs(s, dir).orderBy("d1", "d2")

  /** The pigeonhole pair pipeline without the presentation sort (consumed
    * by [[qDedupSimhash]] and the recall companion, which aggregates). */
  private[graft] def simhashPairs(s: SparkSession, dir: String): DataFrame =
    simhashPairsOf(simhashFps(s, dir))

  /** The cached per-doc fingerprint frame — shared by the pair pipeline
    * and (in the recall companion) the brute-force grader + corpus
    * count, so the corpus is scanned and simhashed exactly once. */
  private[graft] def simhashFps(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir).select(col("doc_id"), simhash(col("text")).as("fp"))
      .cache() // fingerprint feeds both sides of the pigeonhole join
  // (The r21 eager pin was REMOVED here in r22: the fingerprint cache's
  // first consumer is the recall row's PINNED `found` pair frame — one
  // consumer, no race — and for q_dedup_simhash the self-join's two
  // sides race at most one bounded fingerprint pass. Interleaved A/Bs
  // (pin on/off ×2 and a 4-arm pin A/B, OPTIMIZATION_r22.md) measured
  // the pin here 0.00–0.08 s net cost, never a win; no static plan changes
  // (plan_golden byte-identical for both simhash rows with fp unpinned,
  // provided `found` stays pinned). The pin stays at the sites where it
  // measured neutral-to-positive: basket_lift counts, imagedup hashes,
  // triangles' edge frame, snm, and the recall row's `found`.)

  /** The pigeonhole pair pipeline over a pre-built cached [[simhashFps]]
    * frame. */
  private[graft] def simhashPairsOf(fp: DataFrame): DataFrame = {
    val chunked = fp.select(col("doc_id"), col("fp"),
      posexplode(expr("transform(sequence(0, 3), k -> shiftright(fp, k * 16) & 65535)")))
      .withColumnsRenamed(Map("pos" -> "chunk", "col" -> "chunk_val"))
    chunked.as("x").join(chunked.as("y"),
        col("x.chunk") === col("y.chunk") &&
          col("x.chunk_val") === col("y.chunk_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  /** Fuzzy (edit-distance-1) vocabulary join via SymSpell-style
    * deletion-neighborhood blocking: every token is keyed by itself plus
    * each single-character deletion; two tokens within distance 1 MUST
    * share a key (delete-side: one is the other's deletion; substitution:
    * both delete the differing position), so the equi-join on block keys
    * has full recall and candidates verify with `levenshtein == 1` — no
    * all-pairs comparison ever materializes. At 100 TB vocabulary the
    * block keys bound bucket sizes by alphabet-neighborhoods, the same
    * prefix-filtering argument as the shingle df cap.
    *
    * Fixture: deterministic injected typos (drop the 2nd character; 'z'
    * for the 1st) of every length≥4 token — both engines rebuild them, so
    * the pairs to find are known positives. The DuckDB oracle brute-forces
    * the quadratic self-join — an independent algorithm agreeing on the
    * output IS the blocking-recall proof. */
  def qDedupFuzzy(s: SparkSession, dir: String): DataFrame = {
    val base = documents(s, dir)
      .select(explode(tokens(col("text"))).as("tok")).distinct()
    val long4 = base.filter(length(col("tok")) >= 4)
    val vocab = base
      .union(long4.select(concat(substring(col("tok"), 1, 1),
        expr("substring(tok, 3)")).as("tok")))
      .union(long4.select(concat(lit("z"),
        expr("substring(tok, 2)")).as("tok")))
      .distinct()
    val keyed = vocab.select(col("tok"), explode(array_distinct(concat(
        array(col("tok")),
        expr("transform(sequence(1, length(tok)), i -> concat(substring(tok, 1, i-1), substring(tok, i+1)))")
      ))).as("v"))
    keyed.as("x").join(keyed.as("y"),
        col("x.v") === col("y.v") && col("x.tok") < col("y.tok"))
      .select(col("x.tok").as("t1"), col("y.tok").as("t2"))
      .distinct()
      .filter(levenshtein(col("t1"), col("t2")) === 1)
      .orderBy("t1", "t2")
  }

  /** Sorted-neighborhood dedup (Hernández–Stolfo): sort the corpus by a
    * blocking key (the first 20 characters of the text), then compare only
    * documents whose keys fall in the same or an ADJACENT position of the
    * sorted key sequence — the sliding window that lets near-duplicates
    * meet even when their keys differ slightly, without any quadratic
    * self-join. Verification is exact `levenshtein ≤ 12` (the injected
    * near-copies append 12 characters; exact copies are distance 0).
    *
    * Scale shape: the global sort order is materialized as a dense rank
    * over the DISTINCT key frame — an aggregate whose size is the key
    * cardinality, not the corpus (the premise of key-blocking dedup) —
    * via the same two-level bucketed rank as
    * [[Selection.qShuffleGlobal]], so no partition-less window ever sees
    * an un-aggregated row. Neighborhood pairs come from one equi-join:
    * each document probes ranks {kr−1, kr, kr+1} (a 3× generator, not a
    * theta join), and the `d1 < d2` filter keeps each unordered pair
    * exactly once (same block: both orientations generated, one kept;
    * adjacent blocks: one orientation per direction, one kept). */
  def qDedupSnm(s: SparkSession, dir: String): DataFrame = {
    val keyed = corpus(s, dir).select(
      col("doc_id"), col("text"), substring(col("text"), 1, 20).as("bkey"))
    val ranked = Selection.twoLevelRank(
        keyed.select("bkey").distinct().withColumn("kid", col("bkey")),
        "bkey", "kid", Nil, "kr")
      .select("bkey", "kr")
    // One row per document; consumed from three angles (probe side, build
    // side, and the output sort's range-sampling pass) — cached so the
    // corpus→key→rank pipeline runs once, like qBasketLift's baskets.
    val d = keyed.join(ranked, "bkey").cache()
    // Materialize before the neighborhood join's two concurrently-
    // submitted sides race the cache (r21, the imagedup fix).
    graft.Tables.pin(d)
    val probe = d.select(col("doc_id"), col("text"),
      explode(array(col("kr") - 1, col("kr"), col("kr") + 1)).as("pk"))
    probe.as("a").join(d.as("b"),
        col("a.pk") === col("b.kr") && col("a.doc_id") < col("b.doc_id")
          // Length prefilter: |Δlen| > 12 already implies distance > 12,
          // so the expensive verify never runs on the ~90% of neighborhood
          // pairs a cheap length compare rejects. (Predicate pushdown
          // re-expands a lev-column filter into one levenshtein call PER
          // predicate reference — the prefilter, not the banded variant,
          // is what took this query from 16.7 s to ~1 s at sf0.1.)
          && abs(length(col("a.text")) - length(col("b.text"))) <= 12)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        // Threshold-banded edit distance: exact for distances ≤ 12, −1
        // past the band. The explode(array(…)) is a Generate BARRIER:
        // predicates on a generator output cannot push below the
        // Generate, so the verify runs ONCE per pair — a plain
        // lev-column filter is alias-substituted into every predicate
        // reference AND the join condition (3+ evaluations per pair:
        // 6.8 s → 1.2 s at sf0.1).
        explode(array(levenshtein(col("a.text"), col("b.text"), 12)
          .cast("bigint"))).as("lev"))
      .filter(col("lev") >= 0 && col("lev") <= 12)
      .orderBy("d1", "d2")
  }

  // --- Oracle-graded quality companions for the rows-only kernels ----
  //
  // Pattern (VERDICT r8 #1, the q_dedup_fuzzy argument): the sketch
  // kernel itself is not SQL-expressible, but its QUALITY METRIC is data
  // — compute the ground truth with an independent, oracle-checkable
  // pipeline, join the kernel's output against it, and emit the exact
  // count (hash-checked against DuckDB's brute force) plus thresholded
  // pass/fail booleans the oracle asserts as literals. A kernel
  // regression flips a boolean → hash mismatch → red CORRECTNESS row.
  // Thresholds sit well below measured recall (margin for fixture
  // regeneration: the borderline pairs are probabilistic in the DATA,
  // not the fixed-seed kernels).

  /** Grading companion for [[qDedupMinhash]]: LSH pairs vs the exact
    * Jaccard-≥0.5 pair set from the [[truthDf]]-capped posting pipeline
    * (exact at grading scales — max df 50). Emits one row:
    * `n_exact` (oracle brute-forces the same number), `precision_ok`
    * (every LSH pair is a true pair — deterministic: the LSH pipeline
    * verifies candidates with the same exact-Jaccard predicate), and
    * `recall_ok` (≥ 90% of true pairs found; measured 100% at all three
    * SFs, 138-366 pairs — fixture pairs have j ≥ 0.72, detection
    * ≥ 99.3% per pair at 16×4 banding). */
  def qDedupMinhashRecall(s: SparkSession, dir: String): DataFrame = {
    // ONE cached scan+shingle pass feeds BOTH pipelines (r21): the
    // ground-truth side explodes the cached gram arrays (identical
    // values to re-shingling — explode drops the same empty arrays the
    // size>0 filter does) and the LSH side signatures/verifies from the
    // same frame. Before, truth and LSH each re-derived corpus+shingles
    // from the raw scan (~0.6 s of duplicated map work at sf0.1).
    // NOT pinned (r22 probe): the per-job profile counts ~14 overlapping
    // corpus-scan-shaped ~0.3 s jobs here — every concurrent consumer
    // racing the unmaterialized signature cache re-runs the
    // scan+shingle+signature pass — but the duplicates are narrow map
    // jobs that overlap on otherwise-idle cores, so they cost almost no
    // wall time, while an eager pin SERIALIZES materialization before
    // the consumers (interleaved A/B: pin on 2.77 s vs off 2.35 s).
    // Same verdict as the simhash fingerprint pin; the pin discipline
    // pays only where racers duplicate WIDE work (basket_lift,
    // imagedup).
    val sh = shingledSigs(s, dir)
    val exact = interOfGramFrame(
        sh.select(col("doc_id"), explode(col("grams")).as("gram_s"))
          .select(col("doc_id"), xxhash64(col("gram_s")).as("gram")),
        cappedListTruthDf,
        // Wide reduce + df-count sizes (r21): the loose truthDf cap
        // makes the posting merge the row's dominant job — see the
        // interOfGramFrame scaladoc; A/B in OPTIMIZATION_r21.md.
        wideReduce = true, sizesByDfCap = Some(truthDf))
      .select(col("d1"), col("d2"),
        (col("n_inter").cast("double") /
          (col("s1") + col("s2") - col("n_inter"))).as("j"))
      .filter(col("j") >= 0.5)
      .select(col("d1"), col("d2"), lit(1L).as("e"))
    val found = minhashPairsOf(sh).select("d1", "d2")
      .withColumn("f", lit(1L))
    // ONE full-outer join + ONE aggregate (r21): both sides are DISTINCT
    // pair sets, so n_hit (the intersection) is the rows where both
    // markers land, and all three counts fall out of a single pass —
    // replacing two cached pair frames, their materialization pins, two
    // crossJoin broadcast builds and three separate aggregate jobs.
    // Each pipeline is now consumed exactly once (no cache, no race);
    // the shared `sh` cache behind both sides is bounded per-doc state.
    exact.join(found, Seq("d1", "d2"), "full_outer")
      .agg(
        coalesce(sum(col("e")), lit(0L)).as("n_exact"),
        coalesce(sum(col("f")), lit(0L)).as("n_found"),
        coalesce(sum(col("e") * col("f")), lit(0L)).as("n_hit"))
      .select(col("n_exact"),
        (col("n_found") === col("n_hit")).as("precision_ok"),
        (col("n_hit") * 10 >= col("n_exact") * 9).as("recall_ok"))
  }

  /** Grading companion for [[qDedupSimhash]], two hard rows:
    *
    *  - `exact_copy`: the injected byte-identical pairs (Hamming 0 by
    *    construction) must ALL be found; the oracle recomputes the tier
    *    count from the raw table. (The injected NEAR copies — 3 tokens
    *    appended, ~5% of the token set — land at Hamming 4-8 and are
    *    OUT of the ≤3 design radius; radius-3 64-bit SimHash targets
    *    near-exact duplication. They are minhash/ngram territory and
    *    carry no claim here — measured 4/50 inside radius at sf0.01.)
    *  - `radius3_complete`: pigeonhole completeness, the kernel's core
    *    guarantee (Hamming ≤ 3 over 4 chunks ⇒ some chunk equal) —
    *    the blocked pair set must EQUAL the brute-force all-pairs
    *    Hamming-≤3 set. Blocked ⊆ brute holds by the post-filter, so
    *    count equality is set equality. The brute-force side is
    *    grading-only (quadratic by definition — that's what makes it
    *    ground truth); `n_ref` is the corpus size, which the oracle
    *    re-derives. */
  def qDedupSimhashRecall(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    val exactTruth = d.filter(col("doc_id") < 50)
      .select(col("doc_id").as("d1"), (col("doc_id") + 100000).as("d2"))
    // ONE cached simhash pass (r21): the pair pipeline, the brute-force
    // grader and the corpus count all read [[simhashFps]] — before, the
    // recall row simhashed the corpus twice and scanned it a third time
    // for the count.
    val fp = simhashFps(s, dir)
    // Kept pinned (r22 re-audit): a 4-arm interleaved A/B
    // (OPTIMIZATION_r22.md: none/fp_only/found_only/both) put all pin
    // combinations within noise (best 0.93–1.02 s, wins 1/2/1/2) — the
    // apparent 0.25–0.44 s nopin win in two earlier 2-arm sessions was
    // box weather. Dropping THIS pin also flips the static plan's
    // broadcast semi-join to SMJ (the planner loses the materialized
    // cache's size stats: plan_golden 5/5/1 → 7/4/3), so it stays. A
    // single-pass full-outer marker collapse of the grading tail — the
    // r21 minhash_recall discipline — was also tried and measured a
    // 6/6 LOSS (1.59 vs 1.41 s): the count-only crossJoin branches
    // overlap in the scheduler and shuffle nothing, which the joined
    // single pass gives up.
    val found = simhashPairsOf(fp).select("d1", "d2").cache()
    graft.Tables.pin(found) // materialize before the grading branches race it
    val exactHit = exactTruth.join(found, Seq("d1", "d2"), "left_semi")
    val exactRow = exactTruth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(exactHit.agg(count(lit(1)).as("n_hit")))
      .select(lit("exact_copy").as("tier"), col("n_truth").as("n_ref"),
        (col("n_hit") === col("n_truth")).as("ok"))
    val brute = fp.as("x").join(fp.as("y"), col("x.doc_id") < col("y.doc_id"))
      .filter(bit_count(col("x.fp").bitwiseXOR(col("y.fp"))) <= 3)
    val blockRow = fp.agg(count(lit(1)).as("n_corpus"))
      .crossJoin(brute.agg(count(lit(1)).as("n_brute")))
      .crossJoin(found.agg(count(lit(1)).as("n_blocked")))
      .select(lit("radius3_complete").as("tier"), col("n_corpus").as("n_ref"),
        (col("n_brute") === col("n_blocked")).as("ok"))
    exactRow.union(blockRow).orderBy("tier")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_minhash_recall" -> qDedupMinhashRecall,
    "q_dedup_simhash_recall" -> qDedupSimhashRecall,
    "q_dedup_snm" -> qDedupSnm,
    "q_dedup_fuzzy" -> qDedupFuzzy,
    "q_dedup_exact" -> qDedupExact,
    "q_dedup_ngram" -> qDedupNgram,
    "q_dedup_containment" -> qDedupContainment,
    "q_dedup_minhash" -> qDedupMinhash,
    "q_dedup_simhash" -> qDedupSimhash,
    "q_dedup_clusters" -> qDedupClusters,
    "q_dedup_passage" -> qDedupPassage,
    "q_dedup_winnow" -> qDedupWinnow,
    "q_dedup_substring" -> qDedupSubstring,
    "q_split_leakfree" -> qSplitLeakfree,
    "q_dedup_canonical" -> qDedupCanonical,
  )

  /** The ngram pair pipeline as DuckDB CTEs, shared by the pair oracle and
    * the recursive-closure cluster oracle. */
  private val ngramPairsCtes =
    s""", toks AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS w FROM corpus),
       |shing AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+2],' ') FOR i IN range(1, len(w)-1)]) AS g FROM toks WHERE len(w) >= 3),
       |ex AS (SELECT doc_id, unnest(g) AS gram FROM shing),
       |rare AS (SELECT gram FROM ex GROUP BY gram HAVING count(*) <= $maxDf),
       |kept AS (SELECT doc_id, gram FROM ex JOIN rare USING (gram)),
       |sizes AS (SELECT doc_id, count(*) AS n_grams FROM kept GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_inter
       |  FROM kept a JOIN kept b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    // The exact side re-derived independently (uncapped up to truthDf;
    // max df at grading scales is 50, so this IS the exact pair set);
    // the quality booleans are literal TRUE — Spark flipping either
    // turns the row red.
    "q_dedup_minhash_recall" -> (corpusCte +
      s""", toks AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS w FROM corpus),
         |shing AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+2],' ') FOR i IN range(1, len(w)-1)]) AS g FROM toks WHERE len(w) >= 3),
         |ex AS (SELECT doc_id, unnest(g) AS gram FROM shing),
         |rare AS (SELECT gram FROM ex GROUP BY gram HAVING count(*) <= $truthDf),
         |kept AS (SELECT doc_id, gram FROM ex JOIN rare USING (gram)),
         |sizes AS (SELECT doc_id, count(*) AS n_grams FROM kept GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_inter
         |  FROM kept a JOIN kept b ON a.gram = b.gram AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT count(*) AS n_exact, TRUE AS precision_ok, TRUE AS recall_ok
         |FROM inter JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
         |WHERE CAST(n_inter AS DOUBLE)/(s1.n_grams + s2.n_grams - n_inter) >= 0.5""".stripMargin),
    "q_dedup_simhash_recall" -> (corpusCte +
      """SELECT 'exact_copy' AS tier,
        |  (SELECT count(*) FROM documents WHERE doc_id < 50) AS n_ref,
        |  TRUE AS ok
        |UNION ALL
        |SELECT 'radius3_complete' AS tier,
        |  (SELECT count(*) FROM corpus) AS n_ref, TRUE AS ok
        |ORDER BY tier""".stripMargin),
    "q_dedup_snm" -> (corpusCte +
      """, keyed AS (SELECT doc_id, text, substring(text,1,20) AS bkey FROM corpus),
        |kr AS (SELECT bkey, CAST(row_number() OVER (ORDER BY bkey) AS BIGINT) AS kr
        |  FROM (SELECT DISTINCT bkey FROM keyed)),
        |d AS (SELECT doc_id, text, kr FROM keyed JOIN kr USING (bkey)),
        |probe AS (SELECT doc_id, text, kr + dl.dt AS pk
        |  FROM d CROSS JOIN (VALUES (-1),(0),(1)) AS dl(dt))
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev
        |FROM probe a JOIN d b ON a.pk = b.kr AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.text, b.text) <= 12
        |ORDER BY d1, d2""".stripMargin),
    "q_dedup_fuzzy" ->
      """WITH base AS (SELECT DISTINCT unnest(list_filter(string_split(text,' '), x -> x <> '')) AS tok FROM documents),
        |t1 AS (SELECT substring(tok,1,1) || substring(tok,3) AS tok FROM base WHERE length(tok) >= 4),
        |t2 AS (SELECT 'z' || substring(tok,2) AS tok FROM base WHERE length(tok) >= 4),
        |v AS (SELECT DISTINCT tok FROM (SELECT tok FROM base
        |  UNION ALL SELECT tok FROM t1 UNION ALL SELECT tok FROM t2))
        |SELECT a.tok AS t1, b.tok AS t2 FROM v a JOIN v b
        |  ON a.tok < b.tok AND levenshtein(a.tok, b.tok) = 1
        |ORDER BY t1, t2""".stripMargin,
    "q_dedup_canonical" -> (corpusCte +
      """, t AS (SELECT md5(text) AS content_hash, doc_id,
        |    CASE WHEN doc_id BETWEEN 100000 AND 199999 THEN 0
        |         WHEN doc_id < 100000 THEN 1 ELSE 2 END AS tier
        |  FROM corpus),
        |r AS (SELECT content_hash, doc_id, tier,
        |    row_number() OVER (PARTITION BY content_hash ORDER BY tier, doc_id) AS rn
        |  FROM t),
        |a AS (SELECT content_hash, count(*) AS n_copies,
        |    array_to_string(list_sort(list(doc_id))[1:16], ',') AS member_ids
        |  FROM t GROUP BY content_hash)
        |SELECT r.content_hash, CAST(r.doc_id AS BIGINT) AS canonical_id,
        |  r.tier AS canonical_tier, a.n_copies, a.member_ids
        |FROM r JOIN a USING (content_hash)
        |WHERE rn = 1 AND n_copies > 1 ORDER BY content_hash""".stripMargin),
    "q_dedup_exact" -> (corpusCte +
      """SELECT md5(text) AS content_hash, CAST(min(doc_id) AS BIGINT) AS canonical_id,
        |  count(*) AS n_copies
        |FROM corpus GROUP BY md5(text) ORDER BY content_hash""".stripMargin),
    "q_dedup_ngram" -> (corpusCte + ngramPairsCtes +
      """
        |SELECT d1, d2, CAST(n_inter AS DOUBLE)/(s1.n_grams + s2.n_grams - n_inter) AS jaccard
        |FROM inter JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
        |WHERE CAST(n_inter AS DOUBLE)/(s1.n_grams + s2.n_grams - n_inter) >= 0.5
        |ORDER BY d1, d2""".stripMargin),
    "q_dedup_containment" -> (corpusCte + ngramPairsCtes +
      """
        |SELECT d1, d2, CAST(n_inter AS DOUBLE)/least(s1.n_grams, s2.n_grams) AS containment
        |FROM inter JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
        |WHERE CAST(n_inter AS DOUBLE)/least(s1.n_grams, s2.n_grams) >= 0.8
        |ORDER BY d1, d2""".stripMargin),
    "q_dedup_clusters" -> (corpusCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      ngramPairsCtes +
      """,
        |prs AS (SELECT d1, d2
        |  FROM inter JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
        |  WHERE CAST(n_inter AS DOUBLE)/(s1.n_grams + s2.n_grams - n_inter) >= 0.5),
        |und AS (SELECT d1, d2 FROM prs UNION ALL SELECT d2, d1 FROM prs),
        |reach(v, r) AS (
        |  SELECT DISTINCT d1, d1 FROM und
        |  UNION
        |  SELECT u.d1, reach.r FROM und u JOIN reach ON u.d2 = reach.v)
        |SELECT v AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
        |FROM reach GROUP BY v ORDER BY doc_id""".stripMargin),
    // the oracle re-derives the closure AND the leakage count instead of
    // trusting the by-construction zero
    "q_split_leakfree" -> (corpusCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      ngramPairsCtes +
      """,
        |prs AS (SELECT d1, d2
        |  FROM inter JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
        |  WHERE CAST(n_inter AS DOUBLE)/(s1.n_grams + s2.n_grams - n_inter) >= 0.5),
        |und AS (SELECT d1, d2 FROM prs UNION ALL SELECT d2, d1 FROM prs),
        |reach(v, r) AS (
        |  SELECT DISTINCT d1, d1 FROM und
        |  UNION
        |  SELECT u.d1, reach.r FROM und u JOIN reach ON u.d2 = reach.v),
        |cl AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
        |rep AS (SELECT c.doc_id, coalesce(cl.cluster_id, c.doc_id) AS rep
        |  FROM corpus c LEFT JOIN cl ON c.doc_id = cl.doc_id),
        |sp AS (SELECT doc_id, rep,
        |  CASE WHEN md5('spl' || CAST(rep AS VARCHAR)) < 'cc' THEN 'train'
        |       WHEN md5('spl' || CAST(rep AS VARCHAR)) < 'e6' THEN 'val'
        |       ELSE 'test' END AS split FROM rep),
        |leak AS (SELECT count(*) AS leaky FROM (
        |  SELECT rep FROM sp GROUP BY rep HAVING count(DISTINCT split) > 1))
        |SELECT split, count(*) AS n_docs,
        |  CAST(count(DISTINCT rep) AS BIGINT) AS n_clusters,
        |  (SELECT CAST(leaky AS BIGINT) FROM leak) AS leaky_clusters
        |FROM sp GROUP BY split ORDER BY split""".stripMargin),
    "q_dedup_winnow" -> (corpusCte +
      s""", toks AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS w FROM corpus),
         |grams AS (SELECT doc_id, [md5(array_to_string(w[i:i+4], ' ')) FOR i IN range(1, len(w) - 3)] AS h
         |  FROM toks WHERE len(w) >= 12),
         |fps AS (SELECT doc_id, list_distinct([list_min(h[j:j+7]) FOR j IN range(1, len(h) - 6)]) AS f FROM grams),
         |e AS (SELECT doc_id, unnest(f) AS fp FROM fps),
         |rare AS (SELECT fp FROM e GROUP BY fp HAVING count(*) <= $maxDf),
         |kept AS (SELECT doc_id, fp FROM e JOIN rare USING (fp)),
         |shared AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared
         |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT d1, d2, n_shared FROM shared WHERE n_shared >= 3
         |ORDER BY d1, d2""".stripMargin),
    // NOTE (hash asymmetry, deliberate): the oracle keys grams by md5
    // while the engine uses xxhash64 — unlike the pair pipelines, a
    // cross-doc xxhash64 collision here would surface DIRECTLY in
    // output rows (a spurious duplicated position lengthening or
    // fabricating a span), at ~2e-9 odds per the interOfCorpus
    // argument; accepted for the 4× smaller gram-keyed shuffles.
    "q_dedup_substring" -> (corpusCte +
      """, toks AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS w FROM corpus),
        |pos AS (SELECT doc_id, unnest([{'i': i - 1, 'g': md5(array_to_string(w[i:i+7], ' '))} FOR i IN range(1, len(w) - 6)], recursive := true)
        |  FROM toks WHERE len(w) >= 8),
        |dup AS (SELECT g FROM pos GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
        |hits AS (SELECT doc_id, i FROM pos JOIN dup USING (g)),
        |isl AS (SELECT doc_id, i, i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM hits)
        |SELECT doc_id, CAST(min(i) AS BIGINT) AS span_start, CAST(count(*) + 7 AS BIGINT) AS span_tokens
        |FROM isl GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin),
    "q_dedup_passage" -> (corpusCte +
      """, t AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS w FROM corpus),
        |c AS (SELECT doc_id, CAST(st/32 AS INT) AS passage_idx,
        |    array_to_string(w[st+1:st+32], ' ') AS passage
        |  FROM (SELECT doc_id, w, unnest(range(0, len(w), 32)) AS st FROM t WHERE len(w) > 0)),
        |k AS (SELECT doc_id, passage_idx, passage, md5(passage) AS h,
        |    doc_id * 100000 + passage_idx AS k FROM c),
        |f AS (SELECT *, k = min(k) OVER (PARTITION BY h) AS keep FROM k)
        |SELECT doc_id, count(*) AS n_passages,
        |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dup,
        |  md5(coalesce(string_agg(passage, ' ' ORDER BY passage_idx) FILTER (WHERE keep), '')) AS kept_md5
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin),
  )
}
