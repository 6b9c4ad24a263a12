package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim

import graft.Tables._

/** Incremental corpus dedup (north-star extension): deduplicate a NEW
  * batch of scraped documents against an EXISTING corpus — the recurring
  * production shape of dedup, where the corpus is 100 TB and each
  * increment is a sliver of it.
  *
  * Scale design — a broadcast Bloom filter splits the batch before any
  * shuffle:
  *  - the filter is built over the corpus's 8-byte content hashes in one
  *    aggregation pass (`DataFrameStatFunctions.bloomFilter`), sized from
  *    the corpus's parquet FOOTER row count (metadata, not a scan — the
  *    eager-count anti-pattern);
  *  - batch rows whose hash is definitely-not-present (the bulk of a
  *    healthy crawl) are emitted map-side, never touching an exchange;
  *  - only might-be-present rows (true dups + the configured
  *    false-positive sliver) proceed to the exact anti-join that decides
  *    them. In production that join lands on a hash-bucketed corpus index
  *    (see the bucketed-join layout in ScaleSpec), so the per-increment
  *    cost scales with the INCREMENT, not the corpus.
  * The membership probe runs as Spark's codegen'd
  * [[BloomFilterMightContain]] against a literal filter — no UDF in the
  * hot path.
  *
  * Fixture: the batch re-scrapes docs with doc_id % 5 == 0 under new ids
  * (+400000, byte-identical text → must be eliminated) and adds novel
  * docs derived from doc_id % 5 == 1 (+500000, prefixed text → must
  * survive). Both engines derive the same batch, so the oracle is exact.
  */
object Incremental {

  /** The incoming scrape: re-scraped duplicates ∪ genuinely new docs. */
  def newBatch(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    val rescraped = d.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 400000).as("doc_id"), col("text"))
    val novel = d.filter(col("doc_id") % 5 === 1)
      .select((col("doc_id") + 500000).as("doc_id"),
        concat(lit("new material "), col("text")).as("text"))
    rescraped.union(novel)
  }

  /** Corpus row count from parquet footers — metadata only, no scan, no
    * Spark job (the sizing input the Bloom filter needs). */
  private[operators] def footerRowCount(s: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val conf = s.sessionState.newHadoopConf()
    val fs = p.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).toSeq.filter(st => st.isFile &&
          st.getPath.getName.endsWith(".parquet")).map(_.getPath)
      else Seq(p)
    files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        import scala.jdk.CollectionConverters._
        r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      } finally r.close()
    }.sum
  }

  /** Membership probe column: the codegen'd
    * [[graft.plans.BloomMightContainExpr]] over the xxhash64 of `c`. The
    * filter rides as a by-reference constructor param, NOT a plan
    * `Literal` — Catalyst hashes literal byte arrays by value on every
    * semantic-equality check during optimization, which at megabyte
    * filter sizes was ~half this query's runtime. */
  private def mightContain(bloomBytes: Array[Byte], c: Column): Column =
    graft.plans.GraftExpressions.bloom_might_contain(xxhash64(c), bloomBytes)

  /** Optimal bit count for `n` items at false-positive rate `p`,
    * capped at 2^26 bits (8 MiB — past that, broadcast cost beats the
    * routing win; the exact join still guarantees correctness). */
  private def optimalNumBits(n: Long, p: Double): Long =
    math.min(1L << 26,
      math.max(64L, math.ceil(-n * math.log(p) / (math.log(2) * math.log(2))).toLong))

  /** The routing core over explicit frames (also driven at amplified
    * scale in PLANS.md's scale-probe runs): bloom over `corpus.text`, split
    * `batch`, exact anti-join only the might-contain slice.
    *
    * The filter is built by Catalyst's [[BloomFilterAggregate]] — a real
    * two-phase aggregation whose per-partition partials OR together
    * executor-side, so the driver receives ONE finished filter.
    * (`DataFrameStatFunctions.bloomFilter` instead ships every
    * partition's partial to the driver and merges them sequentially —
    * measured 16× slower at 10× corpus, driver-bound; PLANS.md.) */
  private[graft] def novelAgainst(corpus: DataFrame, batch0: DataFrame,
      expectedItems: Long, fpp: Double): DataFrame = {
    val n = math.max(64L, expectedItems)
    val agg = new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(
        ColumnShim.expression(xxhash64(col("text"))),
        Literal(n), Literal(optimalNumBits(n, fpp)))
      .toAggregateExpression()
    val bytes = corpus.select(ColumnShim.column(agg).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val batch = batch0
      .withColumn("content_hash", md5(col("text").cast("binary")))
    val corpusHashes = corpus
      .select(md5(col("text").cast("binary")).as("content_hash")).distinct()
    if (bytes == null) {
      // empty corpus: no filter to route with — the exact join alone
      // (and it degenerates to "everything is novel")
      batch.join(corpusHashes, Seq("content_hash"), "left_anti")
        .select(col("doc_id"), col("content_hash"))
    } else {
      val definiteNovel = batch.filter(!mightContain(bytes, col("text")))
      val maybeDup = batch.filter(mightContain(bytes, col("text")))
        .join(corpusHashes, Seq("content_hash"), "left_anti")
      definiteNovel.select(col("doc_id"), col("content_hash"))
        .union(maybeDup.select(col("doc_id"), col("content_hash")))
    }
  }

  private[graft] def incrementalNovel(s: SparkSession, dir: String,
      fpp: Double): DataFrame =
    novelAgainst(documents(s, dir), newBatch(s, dir),
      footerRowCount(s, s"$dir/documents.parquet"), fpp)
      .orderBy("doc_id")

  /** Batch docs whose content does not already exist in the corpus. */
  def qDedupIncremental(s: SparkSession, dir: String): DataFrame =
    incrementalNovel(s, dir, fpp = 0.01)

  /** Incremental aggregate maintenance: the nightly-cube-refresh algebra.
    * The "standing" summary (slices 0..8 of the key space) and the "new
    * delta" (slice 9) are aggregated SEPARATELY and merged by summing
    * partial states — never rescanning the standing side's raw rows. The
    * DuckDB oracle computes the same result as one flat group-over-
    * everything: hash-matching it proves the merge algebra (sum/count
    * re-aggregate; min/max re-min/max) — the property that lets a 100 TB
    * cube absorb a daily sliver for the delta's scan cost, not the
    * lake's. Exact integer cents keep the merge bit-identical. */
  def qAggDeltaMerge(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir)
    def partial(slice: DataFrame): DataFrame =
      slice.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("l_extendedprice"))).as("sum_cents"),
          min(cents(col("l_extendedprice"))).as("min_cents"),
          max(cents(col("l_extendedprice"))).as("max_cents"))
    val standing = partial(li.filter(col("l_orderkey") % 10 < 9))
    val delta = partial(li.filter(col("l_orderkey") % 10 === 9))
    standing.union(delta)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("n")).as("n"), sum(col("sum_cents")).as("sum_cents"),
        min(col("min_cents")).as("min_cents"),
        max(col("max_cents")).as("max_cents"))
      .orderBy("l_returnflag")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_agg_delta_merge" -> qAggDeltaMerge,
    "q_dedup_incremental" -> qDedupIncremental,
  )

  val oracles: Map[String, String] = Map(
    // The flat one-pass form: hash-matching the split-and-merge engine
    // path against it IS the merge-algebra proof.
    "q_agg_delta_merge" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  min(CAST(round(l_extendedprice*100) AS BIGINT)) AS min_cents,
        |  max(CAST(round(l_extendedprice*100) AS BIGINT)) AS max_cents
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_dedup_incremental" ->
      """WITH batch AS (
        |  SELECT doc_id + 400000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 500000, 'new material ' || text FROM documents WHERE doc_id % 5 = 1)
        |SELECT b.doc_id, md5(b.text) AS content_hash
        |FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE md5(d.text) = md5(b.text))
        |ORDER BY doc_id""".stripMargin,
  )
}
