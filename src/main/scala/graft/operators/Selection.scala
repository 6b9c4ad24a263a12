package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Corpus selection & ordering operators (north-star extension): the
  * stages that decide WHICH documents enter a training corpus and in WHAT
  * order — weighted source mixing, deterministic global shuffle, and
  * quality-ordered selection under a token budget.
  *
  * Like [[Pipeline]], every decision is a pure function of row content
  * (salted md5 of the key, or an oracle-exact quality score), never of
  * partitioning or an RNG — re-running on a re-partitioned 100 TB corpus
  * reproduces the same corpus byte-for-byte, and the DuckDB oracles
  * reproduce it too.
  *
  * Scale shape:
  *  - weighted mixing is a stateless map-side filter (zero shuffle);
  *  - global shuffle and budget selection need a GLOBAL rank / prefix sum.
  *    `Window.orderBy` without partitionBy funnels the whole corpus
  *    through one task, so both use the two-level form: rank within a
  *    deterministic segment (one shuffle), prefix-sum the tiny per-segment
  *    totals, broadcast the offsets back. Total order is preserved because
  *    the segment key is a monotone function of the sort key.
  */
object Selection {

  /** Per-language sampling rate as a first-hex-digit md5 threshold:
    * en 100%, de/fr 50%, es 25%, zh 12.5% — the up/down-sampling mixture
    * step that rebalances a crawl toward a target language distribution.
    * Rates are k/16 fractions of the hash keyspace so a one-char hex
    * compare decides membership in any engine. */
  private val langRate: Seq[(String, String)] =
    Seq("en" -> "g", "de" -> "8", "fr" -> "8", "es" -> "4", "zh" -> "2")

  /** Weighted language mixing: keep a deterministic per-language fraction
    * of documents. Stateless map-side filter — mixing a 100 TB corpus
    * never shuffles, and the filter sits in the same codegen stage as the
    * parquet scan. Unknown languages default to keep-nothing (explicit
    * allowlist semantics). */
  def qMixWeighted(s: SparkSession, dir: String): DataFrame = {
    val h = md5(concat(lit("mix"), col("doc_id").cast("string")))
    val thr = langRate.foldLeft(lit("0")) { case (acc, (l, t)) =>
      when(col("lang") === l, lit(t)).otherwise(acc)
    }
    documents(s, dir)
      .filter(substring(h, 1, 1) < thr)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  /** Two-level rank: `row_number() over (partition by partKeys order by
    * h, id)` computed WITHOUT a single-partition window — rank within
    * (partKeys, first-2-hex-of-h) buckets, bucket counts prefix-summed
    * per partKeys (≤256 tiny rows each) and broadcast back. The bucket
    * is a PREFIX of the sort key, so bucket-then-hash order IS the
    * global hash order; at 100 TB each task sees ≤1/256 of its key
    * group. Shared with the dev scale probe so what gets measured IS
    * what ships. */
  private[graft] def twoLevelRank(df: DataFrame, h: String, id: String,
      partKeys: Seq[String], out: String): DataFrame = {
    val keys = partKeys.map(col)
    val b = df.withColumn("__bkt", substring(col(h), 1, 2))
    val withinW = Window.partitionBy(keys :+ col("__bkt"): _*)
      .orderBy(col(h), col(id))
    val offW = Window.partitionBy(keys: _*).orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = b.groupBy(keys :+ col("__bkt"): _*)
      .agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(offW), lit(0L)))
      .select(keys :+ col("__bkt") :+ col("__off"): _*)
    b.withColumn("__rn", row_number().over(withinW).cast("bigint"))
      .join(broadcast(offsets), partKeys :+ "__bkt")
      .withColumn(out, (col("__off") + col("__rn")).cast("bigint"))
      .drop("__bkt", "__rn", "__off")
  }

  /** Deterministic global shuffle: assign every document a dense position
    * in salted-md5 order — the "shuffle the corpus once, reproducibly"
    * step before sequence packing. The rank is [[twoLevelRank]], never a
    * single-partition window. */
  def qShuffleGlobal(s: SparkSession, dir: String): DataFrame = {
    val base = documents(s, dir).select(
      col("doc_id"),
      md5(concat(lit("shf"), col("doc_id").cast("string"))).as("h"))
    twoLevelRank(base, "h", "doc_id", Nil, "pos")
      .select(col("doc_id"), col("h"), col("pos"))
      .orderBy("pos")
  }

  /** Temperature-scaled language rebalancing: cap each language at
    * floor(8·√N_l) documents — the α=0.5 temperature-sampling rule that
    * flattens a skewed language distribution (hot languages downsample
    * hard, rare languages pass nearly whole) without hand-set weights.
    * The 8·√N form keeps the arithmetic engine-exact: IEEE sqrt is
    * correctly rounded everywhere and ·8 is a power of two, so floor never
    * sits on a cross-engine rounding tie (no order-dependent
    * normalization sum, which a Σ-normalized softmax would introduce).
    *
    * The within-language rank reuses the two-level form of
    * [[qShuffleGlobal]] keyed by (lang, hash-prefix bucket): one shuffle
    * on a 256-way-salted key, so a 90%-one-language corpus at 100 TB
    * never funnels that language through a single reducer. */
  def qMixTemperature(s: SparkSession, dir: String): DataFrame = {
    val base = documents(s, dir).select(
      col("doc_id"), col("lang"), col("source"),
      md5(concat(lit("tmp"), col("doc_id").cast("string"))).as("h"))
    val targets = base.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_lang"))
      .withColumn("target",
        least(col("n_lang"), floor(lit(8) * sqrt(col("n_lang"))).cast("bigint")))
      .select(col("lang"), col("target"))
    twoLevelRank(base, "h", "doc_id", Seq("lang"), "lang_rank")
      .join(broadcast(targets), "lang")
      .filter(col("lang_rank") <= col("target"))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  /** Epoch-based upsampling: repeat every document of a high-trust
    * language a fixed number of times (en 1, de/fr 2, es 3, zh 4 — rare
    * languages see more epochs), emitting an epoch counter per copy — the
    * dual of [[qMixWeighted]]'s downsampling, done with a generator
    * (`explode(sequence(...))`) so the corpus is never materialized per
    * epoch. Stateless map-side row multiplication: zero shuffle at any
    * scale, and each output row carries its provenance (doc_id, epoch). */
  def qMixEpochs(s: SparkSession, dir: String): DataFrame = {
    val epochs = Seq("en" -> 1, "de" -> 2, "fr" -> 2, "es" -> 3, "zh" -> 4)
      .foldLeft(lit(1)) { case (acc, (l, e)) =>
        when(col("lang") === l, lit(e)).otherwise(acc)
      }
    documents(s, dir)
      .withColumn("n_epochs", epochs)
      .select(col("doc_id"), col("lang"),
        explode(expr("sequence(1, n_epochs)")).as("epoch"))
      .orderBy("doc_id", "epoch")
  }

  /** One step of multiplicative-weights domain reweighting (the
    * DoReMi-style mixing update): sources whose loss proxy exceeds the
    * corpus mean gain weight, w₁(s) ∝ w₀(s)·exp(η·(loss(s) − loss̄)),
    * starting from natural token-count-free weights w₀ = n_docs/N. The
    * loss proxy is the mean quality DEFICIT on the 1e-6 integer grid,
    * so loss(s) and loss̄ are exact-integer ratios — bit-identical
    * operands into the one engine-dependent op (`exp`), whose ulp noise
    * the 6-dp output rounding absorbs (the established ln-convention).
    * The normalizer Σe is an ORDERED full-frame window over the
    * ~|sources| rows (float summation order pinned on both engines —
    * the mirrored-prefix-sum trick at trivial size). One corpus pass
    * for the per-source aggregate; everything after runs on a
    * sources-row frame. */
  def qMixReweight(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextAnalysis.qualityScore
    val eta = 4.0
    val g = documents(s, dir)
      .select(col("source"),
        floor(qualityScore(col("text")) * 1000000).cast("bigint").as("q6"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("q6")).as("sum_q6"))
    val tot = g.agg(sum(col("n_docs")).as("n_total"),
      sum(col("sum_q6")).as("tot_q6"))
    val zW = Window.orderBy(col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    g.crossJoin(broadcast(tot))
      .withColumn("loss",
        lit(1.0) - col("sum_q6").cast("double") / 1000000.0 / col("n_docs").cast("double"))
      .withColumn("mean_loss",
        lit(1.0) - col("tot_q6").cast("double") / 1000000.0 / col("n_total").cast("double"))
      .withColumn("w0", col("n_docs").cast("double") / col("n_total").cast("double"))
      .withColumn("ew", col("w0") * exp(lit(eta) * (col("loss") - col("mean_loss"))))
      .withColumn("z", sum(col("ew")).over(zW))
      .select(col("source"), col("n_docs"), round(col("loss"), 6).as("loss"),
        round(col("w0"), 6).as("w0"),
        round(col("ew") / col("z"), 6).as("w1"))
      .orderBy("source")
  }

  /** Token budget for [[qSelectBudget]]: ~half the sf0.001 corpus, a few
    * percent of sf0.1 — the selection pressure is real at every sf. */
  val tokenBudget = 15000L

  /** Quality-ordered selection under a token budget: rank documents by
    * the oracle-exact composite quality score (best first), admit each
    * document whose preceding admitted mass leaves budget — i.e. every
    * doc whose cumulative token count STARTS inside the budget. The
    * "fill the training-token budget with the best data" selection step.
    *
    * The cumulative sum is the same two-level prefix sum as
    * [[Pipeline.qPackSequences]], but ordered by (score desc, doc_id):
    * the segment key floor((1-score)·32) is monotone in the sort key, so
    * within-segment cumsum + broadcast segment offsets reproduce the
    * global running total without a single-partition window. */
  def qSelectBudget(s: SparkSession, dir: String): DataFrame = {
    // cache at the genuine fan-out: both the ranked side and the offsets
    // side need (score, n_tokens), and the tokenization behind them is
    // the expensive part — without the cache each side re-scans and
    // re-tokenizes the corpus. The cached frame is 4 scalar columns
    // (~32 B/row), not the text.
    val scored = documents(s, dir).select(
      col("doc_id"),
      graft.functions.TextAnalysis.qualityScore(col("text")).as("score"),
      size(graft.functions.TextAnalysis.tokens(col("text")))
        .cast("bigint").as("n_tokens"))
      .withColumn("seg", floor((lit(1.0) - col("score")) * 32).cast("int"))
      .cache()
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
      .select(col("doc_id"), col("score"), col("n_tokens"), col("cum_tokens"))
      .orderBy("doc_id")
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    * top-50 documents by the key ln(u)/w, where u is a deterministic
    * md5-derived uniform (first 13 hex digits / 16^13 — 52 bits, exact in
    * a double) and w = n_chars, so longer documents are proportionally
    * likelier but nothing is certain. One map-side key computation plus a
    * bounded top-k (`TakeOrderedAndProject` — k rows per partition cross
    * the wire, no global sort), the distributed shape of weighted corpus
    * subsampling at any scale. Selection orders by the RAW key (`ln`
    * differs by ulps between runtimes, but adjacent keys are far wider
    * apart than an ulp); the reported key rounds to 6 decimals so the
    * oracle compare is exact — the established ln-query convention. */
  def qSampleWeighted(s: SparkSession, dir: String): DataFrame = {
    val u = (conv(substring(md5(concat(lit("aes"),
        col("doc_id").cast("string"))), 1, 13), 16, 10).cast("long")
      .cast("double") / lit(math.pow(16.0, 13)))
    documents(s, dir)
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("n_chars"),
        (log(u) / col("n_chars").cast("double")).as("raw_key"))
      .orderBy(col("raw_key").desc, col("doc_id"))
      .limit(50)
      .select(col("doc_id"), col("n_chars"),
        round(col("raw_key"), 6).as("aes_key"))
  }

  /** Per-source KL divergence (bits) from the corpus-wide token
    * distribution — the mixture-quality diagnostic that tells you how far
    * each source's unigram profile sits from the blend it feeds (a
    * near-zero source adds no diversity; a large one shifts the mix).
    * KL(Pₛ‖P꜀) = Σ_tok pₛ·log2(pₛ/p꜀) over the source's own tokens.
    *
    * Determinism: same ordered-prefix-sum trick as q_text_entropy (the
    * per-token terms accumulate ORDER BY tok within each source, so both
    * engines add in the same sequence; round(6) absorbs the log2 ulp).
    *
    * Scale shape: one (source, tok) aggregate, then a tok-keyed window
    * for corpus token totals and a source-keyed window pass for source
    * totals + the prefix sum; the grand total N rides in as a broadcast
    * 1-row aggregate (computed from per-doc token counts — no second
    * explode). No partition-less window anywhere. */
  def qMixKl(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.functions.TextAnalysis.tokens(col("text"))
    val tot = documents(s, dir)
      .agg(sum(size(toks).cast("bigint")).as("n_total"))
    val tf = documents(s, dir)
      .select(col("source"), explode(toks).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val byTok = Window.partitionBy("tok")
    val bySrc = Window.partitionBy("source")
    val prefix = Window.partitionBy("source").orderBy("tok")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ps = col("c").cast("double") / col("n_s").cast("double")
    val pc = col("c_t").cast("double") / col("n_total").cast("double")
    tf.crossJoin(broadcast(tot))
      .withColumn("c_t", sum(col("c")).over(byTok))
      .withColumn("n_s", sum(col("c")).over(bySrc))
      .withColumn("term", ps * log2(ps / pc))
      .withColumn("cum", sum(col("term")).over(prefix))
      .groupBy("source")
      .agg(max(col("n_s")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        round(max_by(col("cum"), col("tok")), 6).as("kl_bits"))
      .orderBy("source")
  }

  /** Length-curriculum interleave: order the corpus short-to-long (the
    * classic "easy first" curriculum) while ROUND-ROBINING across
    * sources so no source dominates any training window. The global
    * position is pure arithmetic — (within_rank−1)·n_sources + src_idx —
    * over a per-source length rank, so no partition-less window exists
    * anywhere: the within-source rank is [[twoLevelRank]] keyed by
    * (source, zero-padded-length bucket) — the zero-pad makes the string
    * order the numeric order and its 2-char prefix a monotone bucket —
    * and n_sources rides as a 1-row broadcast. Emits the first 400
    * curriculum slots. */
  def qCurriculumPack(s: SparkSession, dir: String): DataFrame = {
    val base = documents(s, dir).select(
      col("doc_id"), col("source"), col("n_chars"),
      lpad(col("n_chars").cast("string"), 6, "0").as("lkey"),
      substring(col("source"), 4, 10).cast("int").as("src_idx"))
    val nSrc = base.agg(countDistinct(col("source")).as("n_src"))
    twoLevelRank(base, "lkey", "doc_id", Seq("source"), "within_rank")
      .crossJoin(broadcast(nSrc))
      .withColumn("slot",
        (col("within_rank") - 1) * col("n_src") + col("src_idx"))
      .filter(col("slot") < 400)
      .select(col("slot"), col("doc_id"), col("source"), col("n_chars"),
        col("within_rank"))
      .orderBy("slot")
  }

  /** Neyman-allocation stratified sampling: a fixed budget of 100 docs
    * split across language strata ∝ N_h·σ_h (the allocation minimizing
    * the stratified mean's variance — more samples where the stratum is
    * big AND internally diverse), then a deterministic md5-order draw
    * of exactly that many docs per stratum. The classic two-pass
    * distributed design: one stats pass (map-side power-sum partials),
    * a 5-row allocation frame broadcast back, one partitioned rank.
    *
    * Float discipline: σ_h = sqrt(N·Σx² − (Σx)²)/N from exact integer
    * power sums (identical correctly-rounded op tree both engines →
    * bit-identical); the allocation denominator Σ N_h·σ_h accumulates
    * as an ORDERED prefix sum over lang (unordered float aggregation
    * would be order-nondeterministic), so `floor(budget·w_h/denom)` is
    * bit-stable and the floor boundary cannot flip across engines. */
  def qSampleNeyman(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 100.0
    val d = documents(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
    val stats = d.groupBy("lang").agg(
      count(lit(1)).as("n_pop"),
      sum(col("n_chars")).as("m1"),
      sum(col("n_chars") * col("n_chars")).as("m2"))
      .withColumn("sd",
        sqrt((col("n_pop") * col("m2") - col("m1") * col("m1")).cast("double")) /
          col("n_pop").cast("double"))
      .withColumn("w", col("n_pop").cast("double") * col("sd"))
    val denom = stats
      .withColumn("cum", sum(col("w")).over(Window.orderBy(col("lang"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .agg(max(col("cum")).as("denom"))
    val alloc = stats.crossJoin(broadcast(denom))
      .select(col("lang"), col("n_pop"),
        floor(lit(budget) * col("w") / col("denom")).cast("int").as("alloc"))
    val rk = row_number().over(Window.partitionBy(col("lang"))
      .orderBy(md5(concat(lit("ney"), col("doc_id").cast("string"))), col("doc_id")))
    d.join(broadcast(alloc), "lang")
      .withColumn("rk", rk)
      .filter(col("rk") <= col("alloc"))
      .select(col("lang"), col("doc_id"), col("rk"), col("alloc"))
      .orderBy("lang", "rk")
  }

  /** DSIR-style data selection via hashed-n-gram importance weights (Xie
    * et al. 2023, "Data Selection for Language Models via Importance
    * Resampling"): score every document by how much more likely its
    * hashed-unigram profile is under the TARGET distribution (here the
    * English sub-corpus — the in-domain exemplar) than under the raw
    * corpus, lw(d) = Σ_b c_d[b]·log2(p̂_t[b]/p̂_r[b]) with add-1
    * smoothing over B=256 buckets (b = first two hex chars of
    * md5(token) — both engines hash identically), and keep the top 200.
    *
    * Scale shape: the bucket language models are ONE 256-row aggregate
    * (map-side partials collapse the token stream before the shuffle);
    * they join back by broadcast, so the per-doc scoring pass is
    * shuffle-free beyond its own (doc_id, bucket) aggregate (≤256 rows
    * per doc regardless of length). The top-200 runs as
    * TakeOrderedAndProject — per-partition bounded heaps, never a
    * global sort. Determinism: per-doc terms accumulate as an ordered
    * prefix sum (ORDER BY bucket), round(6) absorbs the log2 ulp, and
    * the selection sorts on the ROUNDED score (ties → doc_id) so both
    * engines cut the same 200. */
  def qSelectDsir(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.functions.TextAnalysis.tokens(col("text"))
    // NOT fanned (A/B r21: −0.07 s): the two single-task tokenize
    // passes the r21 per-job profile flagged are cheaper than the fan
    // exchange + extra AQE stage round-trips at fixture scale.
    val d = documents(s, dir)
    val bucketed = d
      .select(col("doc_id"), col("lang"), explode(toks).as("tok"))
      .select(col("doc_id"), col("lang"),
        substring(md5(col("tok")), 1, 2).as("b"))
    val bstats = bucketed.groupBy(col("b")).agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_t"),
      count(lit(1)).as("c_r"))
    val tot = bstats.agg(sum(col("c_t")).as("n_t"), sum(col("c_r")).as("n_r"))
    val lm = broadcast(bstats.crossJoin(broadcast(tot)))
    val perDoc = bucketed.groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).as("c"))
    val ratio =
      ((col("c_t") + 1).cast("double") / (col("n_t") + 256).cast("double")) /
        ((col("c_r") + 1).cast("double") / (col("n_r") + 256).cast("double"))
    val prefix = Window.partitionBy("doc_id").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDoc.join(lm, Seq("b"))
      .withColumn("term", col("c").cast("double") * log2(ratio))
      .withColumn("cum", sum(col("term")).over(prefix))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        round(max_by(col("cum"), col("b")), 6).as("dsir_logratio"))
      .orderBy(col("dsir_logratio").desc, col("doc_id"))
      .limit(200)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_select_dsir" -> qSelectDsir,
    "q_sample_neyman" -> qSampleNeyman,
    "q_curriculum_pack" -> qCurriculumPack,
    "q_mix_kl" -> qMixKl,
    "q_sample_weighted" -> qSampleWeighted,
    "q_mix_weighted" -> qMixWeighted,
    "q_mix_reweight" -> qMixReweight,
    "q_mix_temperature" -> qMixTemperature,
    "q_mix_epochs" -> qMixEpochs,
    "q_shuffle_global" -> qShuffleGlobal,
    "q_select_budget" -> qSelectBudget,
  )

  private val langRateSql = langRate
    .map { case (l, t) => s"WHEN lang = '$l' THEN '$t'" }
    .mkString("CASE ", " ", " ELSE '0' END")

  val oracles: Map[String, String] = Map(
    "q_select_dsir" ->
      """WITH bk AS (SELECT doc_id, lang, substring(md5(tok), 1, 2) AS b
        |  FROM (SELECT doc_id, lang, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS tok FROM documents)),
        |bs AS (SELECT b, sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_t, count(*) AS c_r FROM bk GROUP BY b),
        |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_t, CAST(sum(c_r) AS BIGINT) AS n_r FROM bs),
        |pd AS (SELECT doc_id, b, count(*) AS c FROM bk GROUP BY doc_id, b),
        |x AS (SELECT doc_id, b, c,
        |  CAST(c AS DOUBLE) * log2(((CAST(c_t + 1 AS DOUBLE))/(CAST(n_t + 256 AS DOUBLE))) / ((CAST(c_r + 1 AS DOUBLE))/(CAST(n_r + 256 AS DOUBLE)))) AS term
        |  FROM pd JOIN bs USING (b), tot),
        |y AS (SELECT doc_id, b, sum(term) OVER (PARTITION BY doc_id ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  sum(c) OVER (PARTITION BY doc_id) AS n_tokens FROM x),
        |z AS (SELECT doc_id, CAST(max(n_tokens) AS BIGINT) AS n_tokens,
        |  round(max_by(cum, b), 6) AS dsir_logratio FROM y GROUP BY doc_id)
        |SELECT doc_id, n_tokens, dsir_logratio FROM z
        |ORDER BY dsir_logratio DESC, doc_id LIMIT 200""".stripMargin,
    "q_sample_neyman" ->
      """WITH st AS (SELECT lang, count(*) AS n_pop,
        |    CAST(sum(n_chars) AS BIGINT) AS m1,
        |    CAST(sum(n_chars * n_chars) AS BIGINT) AS m2
        |  FROM documents GROUP BY lang),
        |w AS (SELECT lang, n_pop,
        |    CAST(n_pop AS DOUBLE)
        |      * (sqrt(CAST(n_pop * m2 - m1 * m1 AS DOUBLE)) / CAST(n_pop AS DOUBLE))
        |      AS w
        |  FROM st),
        |dn AS (SELECT max(cum) AS denom FROM (
        |  SELECT sum(w) OVER (ORDER BY lang
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM w)),
        |al AS (SELECT lang, CAST(floor(100.0 * w / denom) AS INT) AS alloc
        |  FROM w, dn),
        |r AS (SELECT d.lang, d.doc_id, al.alloc,
        |    row_number() OVER (PARTITION BY d.lang
        |      ORDER BY md5('ney' || CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rk
        |  FROM documents d JOIN al ON d.lang = al.lang)
        |SELECT lang, doc_id, CAST(rk AS INT) AS rk, alloc
        |FROM r WHERE rk <= alloc ORDER BY lang, rk""".stripMargin,
    "q_curriculum_pack" ->
      """WITH b AS (SELECT doc_id, source, n_chars,
        |    CAST(substring(source, 4) AS INT) AS src_idx,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY lpad(CAST(n_chars AS VARCHAR), 6, '0'), doc_id) AS BIGINT)
        |      AS within_rank
        |  FROM documents),
        |ns AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_src FROM documents)
        |SELECT (within_rank - 1) * n_src + src_idx AS slot, doc_id, source,
        |  n_chars, within_rank
        |FROM b, ns WHERE (within_rank - 1) * n_src + src_idx < 400
        |ORDER BY slot""".stripMargin,
    "q_mix_kl" ->
      """WITH t AS (SELECT source, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS tok FROM documents),
        |tf AS (SELECT source, tok, count(*) AS c FROM t GROUP BY source, tok),
        |tot AS (SELECT CAST(sum(len(list_filter(string_split(text,' '), x -> x <> ''))) AS BIGINT) AS n_total FROM documents),
        |x AS (SELECT source, tok, c,
        |  sum(c) OVER (PARTITION BY tok) AS c_t,
        |  sum(c) OVER (PARTITION BY source) AS n_s,
        |  n_total FROM tf, tot),
        |y AS (SELECT source, tok, n_s,
        |  sum((CAST(c AS DOUBLE)/CAST(n_s AS DOUBLE))
        |      * log2((CAST(c AS DOUBLE)/CAST(n_s AS DOUBLE)) / (CAST(c_t AS DOUBLE)/CAST(n_total AS DOUBLE))))
        |    OVER (PARTITION BY source ORDER BY tok
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM x)
        |SELECT source, CAST(max(n_s) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  round(max_by(cum, tok), 6) AS kl_bits
        |FROM y GROUP BY source ORDER BY source""".stripMargin,
    "q_sample_weighted" ->
      """WITH k AS (SELECT doc_id, n_chars,
        |  ln(CAST(CAST('0x' || substring(md5('aes' || CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) AS DOUBLE)
        |     / power(16.0, 13)) / CAST(n_chars AS DOUBLE) AS raw_key
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, n_chars, round(raw_key, 6) + 0 AS aes_key
        |FROM k ORDER BY raw_key DESC, doc_id LIMIT 50""".stripMargin,
        // `+ 0`: DuckDB's round yields IEEE -0.0 for a key in (-5e-7, 0)
        // where Spark's BigDecimal round yields +0.0; adding +0.0
        // normalizes the sign bit and is an exact no-op for every other
        // value.
    "q_mix_weighted" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE substring(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 1) < $langRateSql
         |ORDER BY doc_id""".stripMargin,
    "q_mix_reweight" ->
      s"""WITH t AS (SELECT source,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS toks, text
         |  FROM documents),
         |q AS (SELECT source,
         |    CAST(floor((${graft.functions.TextAnalysis.qualityScoreSql("toks", "text")}) * 1000000) AS BIGINT) AS q6
         |  FROM t),
         |g AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(q6) AS BIGINT) AS sum_q6 FROM q GROUP BY source),
         |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
         |    CAST(sum(sum_q6) AS BIGINT) AS tot_q6 FROM g),
         |x AS (SELECT source, n_docs,
         |    1.0 - CAST(sum_q6 AS DOUBLE) / 1000000.0 / CAST(n_docs AS DOUBLE) AS loss,
         |    1.0 - CAST(tot_q6 AS DOUBLE) / 1000000.0 / CAST(n_total AS DOUBLE) AS mean_loss,
         |    CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE) AS w0
         |  FROM g, tot),
         |e AS (SELECT *, w0 * exp(4.0 * (loss - mean_loss)) AS ew FROM x),
         |z AS (SELECT *, sum(ew) OVER (ORDER BY source
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS zz FROM e)
         |SELECT source, n_docs, round(loss, 6) AS loss, round(w0, 6) AS w0,
         |  round(ew / zz, 6) AS w1
         |FROM z ORDER BY source""".stripMargin,
    "q_mix_temperature" ->
      """WITH t AS (SELECT lang, least(count(*),
        |    CAST(floor(8 * sqrt(count(*))) AS BIGINT)) AS target
        |  FROM documents GROUP BY lang),
        |r AS (SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('tmp' || CAST(doc_id AS VARCHAR)), doc_id) AS lang_rank
        |  FROM documents)
        |SELECT doc_id, lang, source FROM r JOIN t USING (lang)
        |WHERE lang_rank <= target ORDER BY doc_id""".stripMargin,
    "q_mix_epochs" ->
      """SELECT doc_id, lang, CAST(unnest(range(1,
        |    CASE lang WHEN 'en' THEN 1 WHEN 'de' THEN 2 WHEN 'fr' THEN 2
        |              WHEN 'es' THEN 3 WHEN 'zh' THEN 4 ELSE 1 END + 1)) AS INT) AS epoch
        |FROM documents ORDER BY doc_id, epoch""".stripMargin,
    "q_shuffle_global" ->
      """SELECT doc_id, md5('shf' || CAST(doc_id AS VARCHAR)) AS h,
        |  CAST(row_number() OVER (
        |    ORDER BY md5('shf' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos
        |FROM documents ORDER BY pos""".stripMargin,
    "q_select_budget" ->
      s"""WITH t AS (SELECT doc_id, text,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |sc AS (SELECT doc_id,
         |    (${graft.functions.TextAnalysis.qualityScoreSql("toks", "text")}) AS score,
         |    CAST(len(toks) AS BIGINT) AS n_tokens
         |  FROM t),
         |c AS (SELECT doc_id, score, n_tokens,
         |    CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM sc)
         |SELECT doc_id, score, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens - n_tokens < ${tokenBudget}
         |ORDER BY doc_id""".stripMargin,
  )
}
