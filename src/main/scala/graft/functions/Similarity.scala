package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Similarity-search family over the `embeddings` table (north-star
  * extension, SURVEY §7.5): brute-force cosine top-k as the exactness
  * baseline, embedding near-dup detection, and a random-hyperplane-LSH
  * bucketed variant as the 100 TB path.
  *
  * Numeric contract: embeddings are cast to `array<double>` and folded
  * left-to-right by `aggregate` — bit-identical to DuckDB's
  * `list_cosine_similarity` on `DOUBLE[]` (verified empirically), so
  * cosine scores hash-match the oracle exactly, not just approximately.
  *
  * Scale notes: top-k broadcasts the (small) probe set and computes
  * per-partition-local top-k via window over (probe × shard) — one pass
  * over the corpus, no corpus shuffle. The LSH variant buckets by plane
  * signs so candidate generation is an equi-join on (table, bucket);
  * brute force is kept as the recall oracle.
  */
object Similarity {

  /** Left-to-right double-precision cosine — the custom codegen Expression
    * ([[graft.plans.CosineSimExpr]]); primitive-loop kernel, bit-identical
    * to [[cosineFold]] and to DuckDB's `list_cosine_similarity`. */
  def cosine(a: Column, b: Column): Column =
    graft.plans.GraftExpressions.cosine_sim(a, b)

  /** The same cosine as a built-in higher-order-function fold (reference
    * formulation; kept for the bit-parity spec): dot/(‖a‖·‖b‖) clamped
    * to [-1, 1] — the exact DuckDB list_cosine_similarity op tree; see
    * the kernel comment in [[graft.plans.Kernels.cosine]]. The clamp
    * handles zero-norm vectors explicitly (ADVICE r8): ANSI mode makes
    * the raw divide THROW on a 0.0 divisor, and even with a NaN produced,
    * Spark's comparison semantics order NaN above every double (in `when`
    * predicates too, not just least/greatest), so an unguarded
    * `when(c > 1.0, 1.0)` would convert NaN to 1.0. The kernel (JVM `if`,
    * IEEE 0/0) and DuckDB both yield NaN — so must the fold. */
  def cosineFold(a: Column, b: Column): Column = {
    val np = norm(a) * norm(b)
    val c = when(np === 0.0, lit(Double.NaN)).otherwise(dot(a, b) / np)
    when(isnan(c), c).when(c > 1.0, 1.0).when(c < -1.0, -1.0).otherwise(c)
  }

  /** Left-to-right dot product (the order DuckDB folds in). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, v) => s + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (s, v) => s + v))

  private def embDouble(c: Column): Column = c.cast("array<double>")

  /** Brute-force top-5 cosine neighbors for probe vectors (vec_id%50==0).
    * Probe side broadcast; corpus scanned once. */
  def qSimTopk(s: SparkSession, dir: String): DataFrame =
    bruteRanked(s, dir).filter(col("rank") <= 5).orderBy("probe_id", "rank")

  /** The brute-force ranked frame (probe_id, neighbor_id, cos, rank) —
    * consumed by [[qSimTopk]] (top-5) and as the exact reference side of
    * the ANN recall companions (top-3). */
  private[graft] def bruteRanked(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).select(col("vec_id"), embDouble(col("embedding")).as("emb"))
    val probes = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("probe_id"), col("emb").as("probe_emb"))
    val scored = e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        cosine(col("probe_emb"), col("emb")).as("cos"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(desc("cos"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
  }

  /** Embedding near-dup: deterministic perturbed variants (ids+100000 of
    * vec_id<20, x→0.95x+0.001) vs the corpus; pairs with cosine ≥ 0.9
    * are the near-duplicates to be detected. */
  def qSimNeardup(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).select(col("vec_id"), embDouble(col("embedding")).as("emb"))
    val variants = e.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000).as("var_id"),
        transform(col("emb"), x => x * 0.95 + 0.001).as("var_emb"))
    e.join(broadcast(variants))
      .select(col("vec_id"), col("var_id"),
        cosine(col("emb"), col("var_emb")).as("cos"))
      .filter(col("cos") >= 0.9)
      .orderBy("vec_id", "var_id")
  }

  /** MaxSim late-interaction scoring (the ColBERT retrieval primitive):
    * each "document" is a BAG of vectors (here: an embedding label
    * group), each query a small set of token vectors (vec_id < 4);
    * score(doc) = Σ_q max_{v∈doc} cos(q, v). Unlike whole-vector cosine
    * (one vector per doc), late interaction lets each query token match
    * its own best doc vector — the multi-vector retrieval model.
    *
    * Scale shape: the query token set is tiny by construction, so it
    * broadcasts; per-row cosines are map-side codegen; the ONLY shuffle
    * is the (label) max-aggregate, whose grain is docs — never
    * (docs × corpus). Float discipline: per-token maxima are bit-exact
    * (max over identical cosine values, no summation), and the final
    * score sums the 4 per-token columns in one fixed-order expression,
    * identical in both engines — no rounding needed, the q_sim_topk
    * convention. */
  def qSimMaxsim(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
      .select(col("vec_id"), col("label"), embDouble(col("embedding")).as("emb"))
    val qs = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
    def m(i: Int): Column =
      max(when(col("qid") === i, col("cos"))).as(s"m$i")
    e.join(broadcast(qs))
      .select(col("label"), col("qid"), cosine(col("qemb"), col("emb")).as("cos"))
      .groupBy(col("label"))
      .agg(m(0), m(1), m(2), m(3))
      .select(col("label"), col("m0"), col("m1"), col("m2"), col("m3"),
        (col("m0") + col("m1") + col("m2") + col("m3")).as("maxsim"))
      .orderBy(desc("maxsim"), asc("label"))
  }

  /** Two-stage quantized retrieval (the SQ8 serving pattern): stage 1
    * ranks ALL candidates by cosine over int8-quantized vectors and keeps
    * a top-20 shortlist per probe; stage 2 re-ranks the shortlist with
    * exact double cosine and keeps top-5.
    *
    * At 100 TB the first pass reads the 4×-smaller quantized columns (the
    * int8 index is what sits in fast storage) and only shortlist rows
    * ever touch full-precision embeddings. Numerically the stage-1 scores
    * are ORACLE-EXACT despite quantization: quantized components are
    * integers ≤127, so every dot/norm term (≤ 64·127² ≈ 10⁶ ≪ 2⁵³) sums
    * exactly in double in ANY fold order — both engines produce identical
    * ranks, and the query hash-matches DuckDB end-to-end. Zero-norm
    * vectors score −2.0 (sorted last, same convention as the IVF path). */
  def qSimQuantized(s: SparkSession, dir: String): DataFrame = {
    val q = embeddings(s, dir)
      .select(col("vec_id"), embDouble(col("embedding")).as("emb"))
      .withColumn("m", expr("array_max(transform(emb, x -> abs(x)))"))
      .withColumn("qv", expr(
        """CASE WHEN m = 0d THEN transform(emb, x -> 0d)
          |ELSE transform(emb, x -> floor(x * (127.0d / m) + 0.5d)) END""".stripMargin))
      .withColumn("qn2", dot(col("qv"), col("qv")))
      .select(col("vec_id"), col("emb"), col("qv"), col("qn2"))
    val probes = q.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("probe_id"), col("emb").as("pemb"),
        col("qv").as("pqv"), col("qn2").as("pqn2"))
    val scored = q.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        col("emb"), col("pemb"),
        when(col("qn2") === 0d || col("pqn2") === 0d, lit(-2.0))
          .otherwise(cosine(col("qv"), col("pqv"))).as("qcos"))
    val w1 = Window.partitionBy(col("probe_id"))
      .orderBy(desc("qcos"), asc("neighbor_id"))
    val shortlist = scored.withColumn("qrank", row_number().over(w1))
      .filter(col("qrank") <= 20)
    val w2 = Window.partitionBy(col("probe_id"))
      .orderBy(desc("cos"), asc("neighbor_id"))
    shortlist
      .select(col("probe_id"), col("neighbor_id"),
        cosine(col("pemb"), col("emb")).as("cos"))
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= 5)
      .orderBy("probe_id", "rank")
  }

  // --- LSH-bucketed ANN (rows-only; recall checked in SimilaritySpec) ---

  /** Bucket occupancy target ~32 vectors: planes = log2(N/32), so bucket
    * count tracks corpus size and candidate work per probe stays bounded.
    * 8 independent tables union their buckets for recall (sign-LSH on
    * near-orthogonal random vectors needs several tables; clustered
    * real-world embeddings need fewer). */
  val numTables = 8
  /** Capped at 30: buckets are packed into an Int via `1 << p` (kernel and
    * fold alike), and Java shifts are mod 32 — plane 32 would silently
    * alias plane 0, collapsing bucket resolution. 2^30 buckets holds the
    * ~32-vector occupancy target to ~3.4e10 rows; past that, occupancy
    * grows linearly instead (still bounded per-probe work, just larger
    * candidate sets). */
  def numPlanesFor(n: Long): Int =
    math.min(30, math.max(4, math.ceil(math.log(n / 32.0) / math.log(2)).toInt))

  /** Deterministic random hyperplanes (fixed seed), dims × planes ×
    * tables, shipped as an expression reference object (a few-hundred-value
    * broadcast). */
  private[graft] def planesFor(dim: Int, numPlanes: Int): Seq[Seq[Array[Double]]] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(numTables)(Seq.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian())))
  }

  /** Reference formulation of one table's bucket as built-in folds — kept
    * for the kernel-parity spec ([[graft.plans.LshBucketsExpr]] is what
    * queries run: the folds are interpreted and re-evaluate per plane). */
  private[graft] def bucketOfFold(emb: Column, tablePlanes: Seq[Array[Double]]): Column =
    tablePlanes.zipWithIndex.map { case (p, i) =>
      val dot = aggregate(zip_with(emb, typedlit(p.toSeq), (x, w) => x * w),
        lit(0.0), (s, v) => s + v)
      when(dot >= 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** ANN top-3 via sign-LSH: bucket each vector per table, candidates are
    * bucket-mates of the probe in any table, ranked by exact cosine. */
  def qSimLsh(s: SparkSession, dir: String): DataFrame =
    lshTop3(s, dir).orderBy("probe_id", "rank")

  /** The LSH ANN answer (top-3 per probe) without the presentation sort —
    * consumed by [[qSimLsh]] and the recall companion. */
  private[graft] def lshTop3(s: SparkSession, dir: String): DataFrame = {
    val dim = 64
    val e = embeddings(s, dir).select(col("vec_id"), embDouble(col("embedding")).as("emb"))
    // Plane count sized from parquet footer metadata (driver-side KBs, no
    // job) — an eager e.count() here would full-scan the corpus at plan
    // construction time, before the query even executes.
    val n = graft.Tables.parquetRowCount(s, s"$dir/embeddings.parquet")
    val np = numPlanesFor(n)
    // table-major flat planes: index t*np+p — one codegen kernel computes
    // every table's bucket in a single pass over the embedding
    val flat = planesFor(dim, np).flatten.toArray
    // The bucketed frame IS the ANN index. It fans out into both join
    // sides below (corpus + probes), so without a materialization the
    // corpus would be scanned and re-bucketed twice. Caching here stands
    // in for what a production pipeline does at 100 TB: an index-build job
    // persists (vec_id, table_id, bucket) as a table once, and queries
    // equi-join against that — one corpus pass at build time, zero at
    // query time.
    val bucketed = e.select(col("vec_id"), col("emb"),
      posexplode(graft.plans.GraftExpressions.lsh_buckets(col("emb"), flat, np)))
      .withColumnsRenamed(Map("pos" -> "table_id", "col" -> "bucket"))
      .cache()
    val probes = bucketed.filter(col("vec_id") % 50 === 0)
      .select(col("table_id"), col("bucket"),
        col("vec_id").as("probe_id"), col("emb").as("probe_emb"))
    // Cosine runs per (table, pair) duplicate — cheap kernel — and pairs
    // dedupe AFTER scoring, so the shuffle carries 3 scalar columns
    // instead of 64-double embedding arrays.
    val cands = bucketed.join(broadcast(probes), Seq("table_id", "bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        cosine(col("probe_emb"), col("emb")).as("cos"))
      .groupBy("probe_id", "neighbor_id").agg(max(col("cos")).as("cos"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(desc("cos"), asc("neighbor_id"))
    cands
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
  }

  // --- IVF-partitioned ANN (rows-only; recall checked in SimilaritySpec) ---

  /** IVF geometry: cell count tracks corpus size like the LSH plane count
    * (≈ N/128 vectors per cell), probes visit the nearest [[ivfNprobe]]
    * cells. Centroids here are deterministic pseudo-random directions
    * (fixed seed) standing in for offline-trained k-means centroids — in a
    * production pipeline the training job writes the centroid matrix and
    * this query ships it as a reference object, exactly as done here. */
  val ivfNprobe = 4
  def ivfCellsFor(n: Long): Int =
    math.max(8, math.min(4096, (n / 128).toInt))

  private[graft] def ivfCentroids(dim: Int, k: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(11)
    Array.fill(k)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Distributed k-means refinement of IVF centroids (Lloyd iterations in
    * DataFrame algebra — the "train" step of an IVF index):
    * assignment is the zero-shuffle [[graft.plans.IvfCellsExpr]] kernel;
    * the mean update is posexplode → per-(cell, dim) average, whose
    * shuffle carries only partial (sum, count) pairs for k·dim keys; the
    * k·dim result rows collect to the driver — bounded by the centroid
    * matrix itself (which must fit on the driver regardless), never by
    * the corpus. Cells that capture no vectors keep their old centroid.
    * Per-dimension means use floating-point partial sums, so centroids
    * are approximate to summation order — fine for index training where
    * any near-centroid works (the ANN results themselves stay exact-
    * cosine-ranked). */
  def kmeansRefine(e: DataFrame, cents: Array[Array[Double]],
      iters: Int): Array[Array[Double]] = {
    val dim = cents.head.length
    var c = cents
    for (_ <- 1 to iters) {
      val rows = e.select(
        element_at(graft.plans.GraftExpressions.ivf_cells(col("emb"), c, 1), 1)
          .as("cell"),
        posexplode(col("emb")))
        .groupBy(col("cell"), col("pos")).agg(avg(col("col")).as("m"))
        .collect()
      val next = c.map(_.clone())
      rows.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      require(next.forall(_.length == dim))
      c = next
    }
    c
  }

  /** ANN top-3 via IVF cells: every vector is assigned to its nearest
    * centroid by the codegen kernel ([[graft.plans.IvfCellsExpr]], zero
    * shuffle), probes shortlist their [[ivfNprobe]] nearest cells, and
    * candidate generation is a broadcast equi-join on the cell id — the
    * corpus is scanned once and only candidate scores (3 scalar columns)
    * ever shuffle. A (probe, neighbor) pair can match at most once because
    * a neighbor lives in exactly one cell, so no dedup step is needed
    * (unlike multi-table LSH). */
  def qSimIvf(s: SparkSession, dir: String): DataFrame =
    ivfTop3(s, dir).orderBy("probe_id", "rank")

  /** The IVF ANN answer (top-3 per probe) without the presentation sort —
    * consumed by [[qSimIvf]] and the recall companion. */
  private[graft] def ivfTop3(s: SparkSession, dir: String): DataFrame = {
    val dim = 64
    val n = graft.Tables.parquetRowCount(s, s"$dir/embeddings.parquet")
    val cents = ivfCentroids(dim, ivfCellsFor(n))
    // Cell assignment is the IVF index; it fans out into the corpus side
    // and (filtered) the probe side, so cache at the fan-out point — one
    // corpus scan, not two. At 100 TB the assignment is a persisted index
    // table written by the (kmeansRefine) training job; the cache stands
    // in for that here.
    val assigned = embeddings(s, dir)
      .select(col("vec_id"), embDouble(col("embedding")).as("emb"))
      .select(col("vec_id"), col("emb"),
        element_at(graft.plans.GraftExpressions.ivf_cells(col("emb"), cents, 1), 1).as("cell"))
      .cache()
    val probes = assigned.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("probe_id"), col("emb").as("probe_emb"),
        explode(graft.plans.GraftExpressions.ivf_cells(col("emb"), cents, ivfNprobe)).as("cell"))
    val cands = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        cosine(col("probe_emb"), col("emb")).as("cos"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(desc("cos"), asc("neighbor_id"))
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
  }

  /** Shared shape of the two ANN recall companions (VERDICT r8 #1):
    * join the ANN top-3 against the exact brute-force top-3 (the oracled
    * reference — [[bruteRanked]] is the same frame q_sim_topk
    * hash-checks), and emit `n_probes`/`n_truth` (oracle re-derives both
    * from the raw table) plus a thresholded `recall_ok` the oracle
    * asserts as literal TRUE. The threshold is intentionally below
    * measured recall: the fixture's embeddings are near-isotropic
    * gaussians — the hardest case for space-partitioned ANN — and
    * regenerate across rounds, so the gate proves "the index finds
    * real neighbors far above chance" without riding the noise floor. */
  private def annRecall(found: DataFrame, truth: DataFrame,
      minRecallPct: Int): DataFrame = {
    val hit = found.join(truth, Seq("probe_id", "neighbor_id"), "left_semi")
    truth.agg(countDistinct(col("probe_id")).as("n_probes"),
        count(lit(1)).as("n_truth"))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_probes"), col("n_truth"),
        (col("n_hit") * 100 >= col("n_truth") * minRecallPct).as("recall_ok"))
  }

  /** Grading companion for [[qSimLsh]]: recall@3 vs exact top-3, gated
    * at 30%. Measured raw recall: 0.70 at sf0.001, 0.80 at
    * sf0.01, 0.42 at sf0.1 — sign-LSH recall falls with corpus size on
    * isotropic gaussians (more planes → thinner buckets), so the gate
    * sits below the worst measured SF; chance recall is ~0.5%. */
  def qSimLshRecall(s: SparkSession, dir: String): DataFrame =
    annRecall(
      lshTop3(s, dir).select("probe_id", "neighbor_id"),
      bruteRanked(s, dir).filter(col("rank") <= 3)
        .select("probe_id", "neighbor_id"),
      30)

  /** Grading companion for [[qSimIvf]]: recall@3 vs exact top-3, gated
    * at 25% (nprobe=4; measured 0.60-0.67 across all three SFs). */
  def qSimIvfRecall(s: SparkSession, dir: String): DataFrame =
    annRecall(
      ivfTop3(s, dir).select("probe_id", "neighbor_id"),
      bruteRanked(s, dir).filter(col("rank") <= 3)
        .select("probe_id", "neighbor_id"),
      25)

  /** Brute-force top-5 via the typed [[TopK]] aggregator instead of a
    * window: partial top-k reduces map-side, so the shuffle carries at
    * most k pairs per (partition, probe) instead of the whole scored
    * corpus per probe. Output identical to [[qSimTopk]] (same oracle). */
  def qSimTopkAgg(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).select(col("vec_id"), embDouble(col("embedding")).as("emb"))
    val probes = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("probe_id"), col("emb").as("probe_emb"))
    val scored = e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        cosine(col("probe_emb"), col("emb")).as("cos"))
    scored.groupBy(col("probe_id"))
      .agg(TopK.topK(5)(col("cos"), col("neighbor_id")).as("tk"))
      .select(col("probe_id"), posexplode(col("tk")))
      .select(col("probe_id"), col("col._2").as("neighbor_id"),
        col("col._1").as("cos"), (col("pos") + 1).cast("int").as("rank"))
      .orderBy("probe_id", "rank")
  }

  /** Array/math scalar-function family over the embedding vectors:
    * dimensionality, component extremes, energy (self-dot), L2 norm. */
  def qArrayMath(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).select(col("vec_id"), embDouble(col("embedding")).as("emb"))
    e.select(
      col("vec_id"),
      size(col("emb")).as("dim"),
      array_min(col("emb")).as("mn"),
      array_max(col("emb")).as("mx"),
      dot(col("emb"), col("emb")).as("sum_sq"),
      sqrt(dot(col("emb"), col("emb"))).as("l2"))
      .orderBy("vec_id")
  }

  /** Per-label centroid frame over GLOBALLY-quantized embeddings: each
    * component snaps to a fixed 1e-4 grid (`floor(x·10⁴ + 0.5)` — exact
    * double arithmetic on the float32-widened value, identical in any
    * engine), so the per-(label, dim) component sums are exact integers
    * whose partial-aggregate merge order cannot change a bit; squared
    * magnitudes accumulate in decimal(38,0)/HUGEINT for int64 headroom
    * at corpus scale. Returns label, n, Σ|x|² (grid units²), and the
    * dim-ordered centroid array (exact sums / n) — everything downstream
    * touches only |labels| rows. */
  private def labelCentroids(s: SparkSession, dir: String): DataFrame = {
    val qcol = expr(
      "transform(embedding, x -> cast(floor(cast(x as double) * 10000d + 0.5d) as bigint))")
    embeddings(s, dir)
      .select(col("label"), posexplode(qcol).as(Seq("dim", "qi")))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"), sum(col("qi")).as("s"),
        sum((col("qi") * col("qi")).cast("decimal(38,0)")).as("qq"))
      .groupBy("label")
      .agg(max(col("n")).as("n"), sum(col("qq")).as("qtot"),
        transform(array_sort(collect_list(struct(col("dim"), col("s")))),
          p => p.getField("s").cast("double")).as("ss"))
      .select(col("label"), col("n"), col("qtot"),
        transform(col("ss"), x => x / col("n").cast("double")).as("cvec"))
  }

  /** Per-label cluster-quality audit: centroid magnitude and inertia
    * (mean squared distance to the label centroid) in quantized-grid
    * units², via the exact decomposition E|x−c|² = E|x|² − |c|² — so NO
    * join-back of the centroid onto the corpus and no per-vector second
    * pass: one explode-aggregate over (label, dim), then |labels| rows.
    * The float part (|c|² via the left-fold dot kernel, mirrored by
    * DuckDB's list_dot_product) runs over the dim-ordered centroid
    * array; round(6) absorbs nothing — the tree is deterministic — but
    * keeps parity with the similarity family's score convention. */
  def qEmbInertia(s: SparkSession, dir: String): DataFrame = {
    val c = labelCentroids(s, dir)
    val n = col("n").cast("double")
    c.select(col("label"), col("n"),
        round(dot(col("cvec"), col("cvec")), 6).as("centroid_sq"),
        round(col("qtot").cast("double") / n - dot(col("cvec"), col("cvec")),
          6).as("inertia"))
      .orderBy("label")
  }

  /** Pairwise label-centroid separation |c_a − c_b|² (same grid units²)
    * — the between-cluster counterpart of [[qEmbInertia]], computed as
    * dot(a,a) − 2·dot(a,b) + dot(b,b) over the tiny cached centroid
    * frame (|labels|² pairs; the corpus is scanned once by the shared
    * centroid aggregate). Together they give the Davies-Bouldin-style
    * separation-vs-spread read on an embedding space. */
  def qEmbSeparation(s: SparkSession, dir: String): DataFrame = {
    val c = labelCentroids(s, dir).select(col("label"), col("cvec")).cache()
    val a = c.select(col("label").as("la"), col("cvec").as("ca"))
    val b = c.select(col("label").as("lb"), col("cvec").as("cb"))
    a.join(broadcast(b), col("la") < col("lb"))
      .select(col("la"), col("lb"),
        round(dot(col("ca"), col("ca")) - lit(2.0) * dot(col("ca"), col("cb"))
          + dot(col("cb"), col("cb")), 6).as("dist_sq"))
      .orderBy("la", "lb")
  }

  /** Duplicate-cluster assignment over the embedding near-dup pair graph:
    * the step a corpus pipeline actually consumes after pair detection —
    * every vector labeled with the smallest id reachable through
    * cosine-≥0.9 pairs, one canonical id per near-dup cluster. Composes
    * [[qSimNeardup]]'s broadcast pair generation (the fact side is never
    * shuffled for pair-finding) with the dedup stack's
    * [[graft.operators.Dedup.clustersOf]] size-adaptive components
    * (bounded driver union-find below the pair threshold, distributed
    * min-label propagation above it — identical labels either way, spec-
    * asserted). The oracle closes the same pair set with a recursive CTE,
    * so the transitive closure itself is hash-checked, not just pairs. */
  def qEmbClusters(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).select(col("vec_id"), embDouble(col("embedding")).as("emb"))
    val variants = e.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000).as("var_id"),
        transform(col("emb"), x => x * 0.95 + 0.001).as("var_emb"))
    val pairs = e.join(broadcast(variants))
      .filter(cosine(col("emb"), col("var_emb")) >= 0.9)
      .select(col("vec_id").as("d1"), col("var_id").as("d2"))
    graft.operators.Dedup.clustersOf(s, pairs)
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
      .orderBy("vec_id")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    * cluster the embedding space, then prune near-duplicates WITHIN each
    * cluster only — all-pairs cosine becomes Σ|cell|² instead of N²,
    * the property that makes embedding dedup feasible at corpus scale.
    * A vector is a duplicate iff some lower-id vector in the SAME cell
    * has cosine ≥ 0.9 with it; `dup_of` is the smallest such id (the
    * kept representative), so the output is deterministic.
    *
    * Clustering here is hyperplane octants of the first five components
    * (32 cells) — a fixed space partition both engines express exactly,
    * standing in for the offline-trained k-means assignment
    * ([[kmeansRefine]] is that trainer; [[graft.plans.IvfCellsExpr]] the
    * assignment kernel) with the identical plan shape: cell id is a
    * map-side codegen expression, and the ONLY shuffle is the self-join's
    * hash partitioning on the cell key. At 100 TB, k grows ∝ N (SemDeDup
    * uses N/‾cluster-size‾ clusters) so per-cell pair work stays
    * constant; skewed cells split under AQE like any hot join key.
    *
    * Float discipline: injected variants (x→0.95x+0.001, ids+100000 of
    * vec_id<40) score ≥0.9999 against their originals while unrelated
    * 64-dim pairs score ≈0 — nothing sits near the 0.9 predicate
    * boundary, and both engines fold the identical cosine op tree, so
    * the boolean is bit-stable. Octant membership compares the same
    * doubles (`x·0.95+0.001 > 0`) in both engines — a variant whose
    * near-zero component flips sign lands in a different cell and is
    * (by SemDeDup design) not matched; the oracle reproduces exactly
    * that. */
  def qDedupSemantic(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
      .select(col("vec_id"), embDouble(col("embedding")).as("emb"))
    val variants = e.filter(col("vec_id") < 40)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("emb"), x => x * 0.95 + 0.001).as("emb"))
    val octant = (0 until 5)
      .map(i => when(element_at(col("emb"), i + 1) > 0.0, lit(1 << (4 - i)))
        .otherwise(lit(0)))
      .reduce(_ + _)
    val cells = e.unionByName(variants)
      .select(col("vec_id"), col("emb"), octant.cast("int").as("cell"))
    val l = cells.select(col("cell"), col("vec_id").as("id1"), col("emb").as("emb1"))
    val r = cells.select(col("cell"), col("vec_id").as("id2"), col("emb").as("emb2"))
    l.join(r, Seq("cell"))
      .filter(col("id1") < col("id2") &&
        cosine(col("emb1"), col("emb2")) >= 0.9)
      .groupBy(col("cell"), col("id2"))
      .agg(min(col("id1")).as("dup_of"))
      .select(col("cell"), col("id2").as("vec_id"), col("dup_of"))
      .orderBy("vec_id")
  }

  /** Clustering-quality evaluation: adjusted Rand index and purity of
    * the hyperplane-octant cell assignment (the same 32-cell geometric
    * partition [[qDedupSemantic]] clusters by) against the ground-truth
    * `label` column — the "did the unsupervised partition recover the
    * classes" scorecard a curation pipeline reads before trusting a
    * cluster-level dedup or mixing decision.
    *
    * ARI = (Σᵢⱼ C(nᵢⱼ,2) − E) / (½(Σᵢ C(aᵢ,2) + Σⱼ C(bⱼ,2)) − E) with
    * E = Σᵢ C(aᵢ,2)·Σⱼ C(bⱼ,2)/C(n,2): every C(·,2) is exact integer
    * arithmetic (`DIV 2` of an even product), and the three final float
    * ops are correctly-rounded IEEE on identical operands — full
    * precision, no rounding, NULLIF guarding the degenerate
    * single-cluster case (the kappa convention).
    *
    * Scale shape: one (cell, label) contingency aggregation with
    * map-side partials; everything after operates on ≤ cells×labels
    * rows. */
  def qClusterAri(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
      .select(col("label"), embDouble(col("embedding")).as("emb"))
    val octant = (0 until 5)
      .map(i => when(element_at(col("emb"), i + 1) > 0.0, lit(1 << (4 - i)))
        .otherwise(lit(0)))
      .reduce(_ + _)
    val ct = e.select(col("label"), octant.cast("int").as("cell"))
      .groupBy("cell", "label").agg(count(lit(1)).as("nij"))
    val comb = ct.agg(sum(expr("nij * (nij - 1) DIV 2")).as("sum_comb"))
    val a = ct.groupBy("cell").agg(sum(col("nij")).as("ai"), max(col("nij")).as("mx"))
      .agg(sum(expr("ai * (ai - 1) DIV 2")).as("sum_a"),
        count(lit(1)).as("n_cells"), sum(col("ai")).as("n"),
        sum(col("mx")).as("sum_max"))
    val b = ct.groupBy("label").agg(sum(col("nij")).as("bj"))
      .agg(sum(expr("bj * (bj - 1) DIV 2")).as("sum_b"),
        count(lit(1)).as("n_labels"))
    val exp_ = col("sum_a").cast("double") * col("sum_b").cast("double") /
      expr("n * (n - 1) DIV 2").cast("double")
    val ari = (col("sum_comb").cast("double") - exp_) /
      nullif((col("sum_a") + col("sum_b")).cast("double") / lit(2.0) - exp_,
        lit(0.0))
    comb.crossJoin(a).crossJoin(b)
      .select(col("n"), col("n_cells"), col("n_labels"), col("sum_comb"),
        col("sum_a"), col("sum_b"),
        (col("sum_max").cast("double") / col("n").cast("double")).as("purity"),
        ari.as("ari"))
  }

  /** Top principal component of the embedding space by power iteration —
    * the dimensionality-reduction audit the embedding family lacked
    * (PCA whitening / common-component removal is standard retrieval
    * preprocessing, e.g. Arora et al. 2017's "remove the first PC").
    *
    * Scale shape (the point of the formulation): the ONLY pass over the
    * data computes the exact 64×64 second-moment matrix via
    * [[MomentAgg]] — one fixed-size buffer per task holding n, Σqⱼ and
    * the 2 080 upper-triangle sums Σqⱼqₖ of the ×10⁴-quantized grid
    * values, so the shuffle carries ONE buffer per partition and no
    * per-row explode ever materializes (the r10 formulation inflated
    * 2 080 rows per input row before its partial aggregate; VERDICT r10
    * #2). Cross-product sums are exact 128-bit integers (per-term
    * ≤ 1e8, so 64-bit wraps past ~9e10 rows — the limb pair is exact
    * past 1e27), turned into a double covariance ONCE via the
    * established exactly-parsed-string cast, so both engines see
    * bit-identical matrices. The single-row collect is bounded by the
    * embedding DIMENSIONALITY, not the data (the kmeansRefine
    * precedent), and 8 power-iteration steps run driver-side as plain
    * left-fold loops — bit-identical to the oracle's unrolled
    * `list_transform`/`list_dot_product` CTE chain (the same fold
    * DuckDB applies in the cosine kernels, verified bit-equal there).
    * v₀ = 1/√64 = 0.125 exactly; trace folds the diagonal via `d·1.0`
    * products to pin the same add order. Zero-row input returns the
    * empty frame (the EmptyInputSpec contract) instead of collapsing
    * on a missing moment matrix. */
  def qEmbPca(s: SparkSession, dir: String): DataFrame =
    pcaOf(s, embeddings(s, dir))

  /** [[qEmbPca]] over an arbitrary frame with an `embedding` array
    * column (scale-probe entry point — the probe measures the SHIPPED
    * one-pass moment kernel). */
  private[graft] def pcaOf(s: SparkSession, emb: DataFrame): DataFrame = {
    val e = emb.select(expr(
      "transform(cast(embedding as array<double>), x -> cast(floor(x * 10000d + 0.5d) as bigint))")
      .as("q"))
    val momentUdaf = udaf(new MomentAgg(),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
    // bounded collect: ONE row — the finished (n, Σq, ΣqqT) buffer,
    // 2 080 + 64 integers regardless of corpus size
    val buf = e.select(momentUdaf(col("q")).as("m")).select(
      col("m.n").as("n"), col("m.s").as("s"),
      col("m.hi").as("hi"), col("m.lo").as("lo")).head()
    val nVecs = buf.getLong(0)
    if (nVecs == 0L)
      return s.range(0).select(
        lit(0L).as("n"), lit(0d).as("trace"), lit(0d).as("lambda1"),
        lit(0d).as("explained"), lit(0d).as("load1"), lit(0d).as("load2"),
        lit(0d).as("load3"), lit(0d).as("load4"))
    val sArr = buf.getSeq[Long](1).toArray
    val hiArr = buf.getSeq[Long](2).toArray
    val loArr = buf.getSeq[Long](3).toArray
    val d = sArr.length
    val nD = nVecs.toDouble
    val m = Array.ofDim[Double](d, d)
    var idx = 0
    var j = 0
    while (j < d) {
      var k = j
      while (k < d) {
        // the oracle's exact arithmetic: HUGEINT→VARCHAR→DOUBLE sum,
        // BIGINT→DOUBLE coordinate sums, identical op order
        val sjk = MomentAgg.cellValue(hiArr(idx), loArr(idx)).toString.toDouble
        val cov = sjk / nD - (sArr(j).toDouble / nD) * (sArr(k).toDouble / nD)
        m(j)(k) = cov
        m(k)(j) = cov
        idx += 1
        k += 1
      }
      j += 1
    }
    def matvec(x: Array[Double]): Array[Double] = m.map { row =>
      var acc = 0.0; var i = 0
      while (i < d) { acc += row(i) * x(i); i += 1 }
      acc
    }
    def fold(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < d) { acc += a(i) * b(i); i += 1 }
      acc
    }
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    for (_ <- 1 to 8) {
      val u = matvec(v)
      val nrm = math.sqrt(fold(u, u))
      v = u.map(_ / nrm)
    }
    val lambda = fold(v, matvec(v))
    val trace = fold(Array.tabulate(d)(i => m(i)(i)), Array.fill(d)(1.0))
    s.range(1).select(
      lit(nVecs).as("n"),
      round(lit(trace), 6).as("trace"),
      round(lit(lambda), 6).as("lambda1"),
      round(lit(lambda / trace), 6).as("explained"),
      round(lit(v(0)), 6).as("load1"), round(lit(v(1)), 6).as("load2"),
      round(lit(v(2)), 6).as("load3"), round(lit(v(3)), 6).as("load4"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cluster_ari" -> qClusterAri,
    "q_emb_pca" -> qEmbPca,
    "q_dedup_semantic" -> qDedupSemantic,
    "q_emb_clusters" -> qEmbClusters,
    "q_emb_inertia" -> qEmbInertia,
    "q_emb_separation" -> qEmbSeparation,
    "q_sim_topk" -> qSimTopk,
    "q_sim_maxsim" -> qSimMaxsim,
    "q_sim_neardup" -> qSimNeardup,
    "q_sim_lsh" -> qSimLsh,
    "q_sim_ivf" -> qSimIvf,
    "q_sim_lsh_recall" -> qSimLshRecall,
    "q_sim_ivf_recall" -> qSimIvfRecall,
    "q_sim_topk_agg" -> qSimTopkAgg,
    "q_sim_quantized" -> qSimQuantized,
    "q_array_math" -> qArrayMath,
  )

  // Shared CTE chain for the centroid audits. The unnest-bearing CTEs are
  // MATERIALIZED: the separation oracle expands `c` twice, and an unnest
  // inside a multiply-expanded CTE trips a DuckDB binder assertion.
  private val centroidCte =
    """WITH v AS MATERIALIZED (SELECT label, embedding::DOUBLE[] AS e FROM embeddings),
      |x AS MATERIALIZED (SELECT label, unnest(range(1, len(e)+1)) AS d, e FROM v),
      |q AS (SELECT label, d, CAST(floor(e[CAST(d AS INT)]*10000 + 0.5) AS BIGINT) AS qi FROM x),
      |g AS (SELECT label, d, count(*) AS n, CAST(sum(qi) AS BIGINT) AS s,
      |  sum(CAST(qi AS HUGEINT)*qi) AS qq FROM q GROUP BY label, d),
      |l AS (SELECT label, CAST(max(n) AS BIGINT) AS n, sum(qq) AS qtot,
      |  list(CAST(s AS DOUBLE) ORDER BY d) AS ss FROM g GROUP BY label),
      |c AS (SELECT label, n, qtot,
      |  list_transform(ss, x -> x / CAST(n AS DOUBLE)) AS cvec FROM l)""".stripMargin

  // The ANN recall oracles re-derive the probe/truth cardinalities from
  // the raw table (every probe has ≥ 3 neighbors at all grading scales,
  // so exact top-3 is exactly 3 rows per probe) and assert the recall
  // gate as a literal — Spark flipping it turns the row red.
  private val annRecallOracle =
    """SELECT CAST(count(*) AS BIGINT) AS n_probes,
      |  CAST(3 * count(*) AS BIGINT) AS n_truth, TRUE AS recall_ok
      |FROM embeddings WHERE vec_id % 50 = 0""".stripMargin

  // q_emb_pca oracle: the identical exact-integer moment pipeline, then
  // the 8 power-iteration steps unrolled as list_transform /
  // list_dot_product CTE pairs (the same left fold the driver loop runs).
  private val pcaOracle = {
    val iters = (1 to 8).map { i =>
      s"""u$i AS (SELECT list_transform(m, r -> list_dot_product(r, v)) AS u
         |  FROM mat, i${i - 1}),
         |i$i AS (SELECT list_transform(u, x -> x / sqrt(list_dot_product(u, u))) AS v
         |  FROM u$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT list_transform(embedding::DOUBLE[],
       |    x -> CAST(floor(x * 10000 + 0.5) AS BIGINT)) AS q FROM embeddings),
       |s AS (SELECT j, count(*) AS n, CAST(sum(q[CAST(j AS INT)]) AS BIGINT) AS sj
       |  FROM e, range(1, 65) tj(j) GROUP BY j),
       |p AS (SELECT j, k,
       |    sum(CAST(q[CAST(j AS INT)] AS HUGEINT) * q[CAST(k AS INT)]) AS sjk
       |  FROM e, range(1, 65) tj(j), range(1, 65) tk(k)
       |  WHERE k >= j GROUP BY j, k),
       |cov0 AS (SELECT p.j AS j, p.k AS k, a.n AS n,
       |    CAST(CAST(p.sjk AS VARCHAR) AS DOUBLE) / CAST(a.n AS DOUBLE)
       |    - (CAST(a.sj AS DOUBLE) / CAST(a.n AS DOUBLE))
       |      * (CAST(b.sj AS DOUBLE) / CAST(b.n AS DOUBLE)) AS cov
       |  FROM p JOIN s a ON p.j = a.j JOIN s b ON p.k = b.j),
       |sym AS (SELECT j, k, cov FROM cov0
       |  UNION ALL SELECT k AS j, j AS k, cov FROM cov0 WHERE j <> k),
       |r AS (SELECT j, list(cov ORDER BY k) AS row FROM sym GROUP BY j),
       |mat AS (SELECT (SELECT list(row ORDER BY j) FROM r) AS m,
       |  (SELECT list(cov ORDER BY j) FROM sym WHERE j = k) AS diag),
       |i0 AS (SELECT list_transform(range(1, 65), x -> 0.125) AS v),
       |$iters,
       |u9 AS (SELECT list_transform(m, r -> list_dot_product(r, v)) AS u
       |  FROM mat, i8),
       |fin AS (SELECT (SELECT CAST(max(n) AS BIGINT) FROM cov0) AS n,
       |    list_dot_product(mat.diag,
       |      list_transform(range(1, 65), x -> 1.0)) AS trace,
       |    list_dot_product(i8.v, u9.u) AS lambda, i8.v AS v
       |  FROM mat, i8, u9)
       |SELECT n, round(trace, 6) AS trace, round(lambda, 6) AS lambda1,
       |  round(lambda / trace, 6) AS explained,
       |  round(v[1], 6) AS load1, round(v[2], 6) AS load2,
       |  round(v[3], 6) AS load3, round(v[4], 6) AS load4
       |FROM fin""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_emb_pca" -> pcaOracle,
    "q_cluster_ari" ->
      """WITH e AS (SELECT label, embedding::DOUBLE[] AS emb FROM embeddings),
        |c AS (SELECT label,
        |    (CASE WHEN emb[1] > 0.0 THEN 16 ELSE 0 END
        |     + CASE WHEN emb[2] > 0.0 THEN 8 ELSE 0 END
        |     + CASE WHEN emb[3] > 0.0 THEN 4 ELSE 0 END
        |     + CASE WHEN emb[4] > 0.0 THEN 2 ELSE 0 END
        |     + CASE WHEN emb[5] > 0.0 THEN 1 ELSE 0 END)::INT AS cell FROM e),
        |ct AS (SELECT cell, label, count(*) AS nij FROM c GROUP BY 1, 2),
        |comb AS (SELECT CAST(sum((nij * (nij - 1)) // 2) AS BIGINT) AS sum_comb FROM ct),
        |a AS (SELECT CAST(sum((ai * (ai - 1)) // 2) AS BIGINT) AS sum_a,
        |    CAST(count(*) AS BIGINT) AS n_cells, CAST(sum(ai) AS BIGINT) AS n,
        |    CAST(sum(mx) AS BIGINT) AS sum_max
        |  FROM (SELECT cell, sum(nij) AS ai, max(nij) AS mx FROM ct GROUP BY cell)),
        |b AS (SELECT CAST(sum((bj * (bj - 1)) // 2) AS BIGINT) AS sum_b,
        |    CAST(count(*) AS BIGINT) AS n_labels
        |  FROM (SELECT label, sum(nij) AS bj FROM ct GROUP BY label))
        |SELECT n, n_cells, n_labels, sum_comb, sum_a, sum_b,
        |  CAST(sum_max AS DOUBLE) / CAST(n AS DOUBLE) AS purity,
        |  (CAST(sum_comb AS DOUBLE)
        |    - CAST(sum_a AS DOUBLE) * CAST(sum_b AS DOUBLE)
        |      / CAST((n * (n - 1)) // 2 AS DOUBLE))
        |  / NULLIF(CAST(sum_a + sum_b AS DOUBLE) / 2.0
        |    - CAST(sum_a AS DOUBLE) * CAST(sum_b AS DOUBLE)
        |      / CAST((n * (n - 1)) // 2 AS DOUBLE), 0) AS ari
        |FROM comb, a, b""".stripMargin,
    "q_dedup_semantic" ->
      """WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |a AS MATERIALIZED (
        |  SELECT vec_id, emb FROM e
        |  UNION ALL
        |  SELECT vec_id + 100000, [x * 0.95 + 0.001 FOR x IN emb] FROM e WHERE vec_id < 40),
        |c AS (SELECT vec_id, emb,
        |    (CASE WHEN emb[1] > 0.0 THEN 16 ELSE 0 END
        |     + CASE WHEN emb[2] > 0.0 THEN 8 ELSE 0 END
        |     + CASE WHEN emb[3] > 0.0 THEN 4 ELSE 0 END
        |     + CASE WHEN emb[4] > 0.0 THEN 2 ELSE 0 END
        |     + CASE WHEN emb[5] > 0.0 THEN 1 ELSE 0 END)::INT AS cell FROM a)
        |SELECT l.cell AS cell, r.vec_id AS vec_id, CAST(min(l.vec_id) AS BIGINT) AS dup_of
        |FROM c l JOIN c r ON l.cell = r.cell AND l.vec_id < r.vec_id
        |WHERE list_cosine_similarity(l.emb, r.emb) >= 0.9
        |GROUP BY l.cell, r.vec_id
        |ORDER BY vec_id""".stripMargin,
    "q_sim_lsh_recall" -> annRecallOracle,
    "q_sim_ivf_recall" -> annRecallOracle,
    "q_emb_clusters" ->
      """WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |vv AS (SELECT vec_id + 100000 AS var_id,
        |    [x * 0.95 + 0.001 FOR x IN emb] AS var_emb FROM e WHERE vec_id < 20),
        |prs AS (SELECT e.vec_id AS d1, vv.var_id AS d2 FROM e, vv
        |  WHERE list_cosine_similarity(e.emb, vv.var_emb) >= 0.9),
        |und AS (SELECT d1, d2 FROM prs UNION ALL SELECT d2, d1 FROM prs),
        |reach(node, r) AS (
        |  SELECT DISTINCT d1, d1 FROM und
        |  UNION
        |  SELECT u.d1, reach.r FROM und u JOIN reach ON u.d2 = reach.node)
        |SELECT node AS vec_id, CAST(min(r) AS BIGINT) AS cluster_id
        |FROM reach GROUP BY node ORDER BY vec_id""".stripMargin,
    "q_emb_inertia" ->
      (centroidCte + """
        |SELECT label, n,
        |  round(list_dot_product(cvec, cvec), 6) AS centroid_sq,
        |  round(CAST(qtot AS DOUBLE) / CAST(n AS DOUBLE)
        |    - list_dot_product(cvec, cvec), 6) AS inertia
        |FROM c ORDER BY label""".stripMargin),
    "q_emb_separation" ->
      (centroidCte + """
        |SELECT a.label AS la, b.label AS lb,
        |  round(list_dot_product(a.cvec, a.cvec)
        |    - 2.0 * list_dot_product(a.cvec, b.cvec)
        |    + list_dot_product(b.cvec, b.cvec), 6) AS dist_sq
        |FROM c a JOIN c b ON a.label < b.label
        |ORDER BY la, lb""".stripMargin),
    "q_array_math" ->
      """SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
        |  list_min(embedding::DOUBLE[]) AS mn, list_max(embedding::DOUBLE[]) AS mx,
        |  list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS sum_sq,
        |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS l2
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q_sim_maxsim" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 4),
        |s AS (SELECT e.label, q.qid, list_cosine_similarity(q.qemb, e.emb) AS cos
        |  FROM e, q),
        |m AS (SELECT label,
        |    max(CASE WHEN qid = 0 THEN cos END) AS m0,
        |    max(CASE WHEN qid = 1 THEN cos END) AS m1,
        |    max(CASE WHEN qid = 2 THEN cos END) AS m2,
        |    max(CASE WHEN qid = 3 THEN cos END) AS m3
        |  FROM s GROUP BY label)
        |SELECT label, m0, m1, m2, m3, m0 + m1 + m2 + m3 AS maxsim
        |FROM m ORDER BY maxsim DESC, label""".stripMargin,
    "q_sim_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |p AS (SELECT vec_id AS probe_id, emb AS probe_emb FROM e WHERE vec_id % 50 = 0),
        |scored AS (SELECT probe_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(probe_emb, e.emb) AS cos
        |  FROM e, p WHERE e.vec_id <> p.probe_id),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
        |SELECT probe_id, neighbor_id, cos, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 5
        |ORDER BY probe_id, rank""".stripMargin,
    "q_sim_topk_agg" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |p AS (SELECT vec_id AS probe_id, emb AS probe_emb FROM e WHERE vec_id % 50 = 0),
        |scored AS (SELECT probe_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(probe_emb, e.emb) AS cos
        |  FROM e, p WHERE e.vec_id <> p.probe_id),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
        |SELECT probe_id, neighbor_id, cos, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 5
        |ORDER BY probe_id, rank""".stripMargin,
    "q_sim_quantized" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |mm AS (SELECT vec_id, emb, list_max([abs(x) FOR x IN emb]) AS m FROM e),
        |q AS (SELECT vec_id, emb,
        |    CASE WHEN m = 0 THEN [CAST(0 AS DOUBLE) FOR x IN emb]
        |         ELSE [floor(x * (127.0/m) + 0.5) FOR x IN emb] END AS qv
        |  FROM mm),
        |qq AS (SELECT *, list_dot_product(qv, qv) AS qn2 FROM q),
        |p AS (SELECT vec_id AS probe_id, emb AS pemb, qv AS pqv, qn2 AS pqn2
        |  FROM qq WHERE vec_id % 50 = 0),
        |sc AS (SELECT probe_id, qq.vec_id AS neighbor_id, emb, pemb,
        |    CASE WHEN qn2 = 0 OR pqn2 = 0 THEN -2.0
        |         ELSE list_cosine_similarity(qv, pqv) END AS qcos
        |  FROM qq, p WHERE qq.vec_id <> p.probe_id),
        |c1 AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY qcos DESC, neighbor_id) AS qrank FROM sc),
        |c2 AS (SELECT probe_id, neighbor_id, list_cosine_similarity(pemb, emb) AS cos FROM c1 WHERE qrank <= 20),
        |r AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank FROM c2)
        |SELECT probe_id, neighbor_id, cos, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,
    "q_sim_neardup" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |v AS (SELECT vec_id + 100000 AS var_id, [x * 0.95 + 0.001 FOR x IN emb] AS var_emb FROM e WHERE vec_id < 20)
        |SELECT e.vec_id, v.var_id, list_cosine_similarity(e.emb, v.var_emb) AS cos
        |FROM e, v WHERE list_cosine_similarity(e.emb, v.var_emb) >= 0.9
        |ORDER BY e.vec_id, v.var_id""".stripMargin,
  )
}
