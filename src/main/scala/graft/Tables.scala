package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

import scala.util.control.NonFatal

/** Parquet table access for the driver-provided fixtures
  * (`/root/testdata/sf*`; see TESTDATA.md / FIXTURES.md).
  *
  * All queries in this engine read through here so that the scan side
  * stays uniform: plain `spark.read.parquet`, letting Catalyst push
  * filters/column pruning into the parquet scan. At cluster scale the
  * same call reads `s3a://` URIs unchanged.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Materialize a cached frame NOW (bounded count) so concurrently
    * submitted consumers read the cache instead of racing it — each
    * racer re-runs the full pipeline (r21 per-job profile: q_basket_lift
    * ran its basket pipeline 4×; OPTIMIZATION_r21.md "Cache discipline"). */
  private[graft] def pin(df: DataFrame): DataFrame = {
    df.count()
    df
  }

  /** Total on-disk bytes of a table path (driver-side metadata listing —
    * no Spark job), for the size gates below. A path that cannot be
    * measured (missing, unreadable) reads as unbounded, so the gates
    * stay shut; fatal errors (OOM, interrupts) propagate. */
  private def tableBytes(spark: SparkSession, path: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      fs.getContentSummary(p).getLength
    } catch { case NonFatal(_) => Long.MaxValue }

  /** Scale-adaptive scan fan-out (optimization guide §2.5 "input skew …
    * repartition immediately after the read" / §6): the bench fixtures
    * are single-file, SINGLE-ROW-GROUP parquet, so Spark's split
    * planning can never give the scan more than one task — every
    * map-side operator (parquet decode, codegen expressions, partial
    * aggregation, the multimodal codecs and text kernels) was running
    * on 1 of 32 cores. Hash-repartition the freshly-read table to
    * `defaultParallelism` on its natural unique key, ONLY when the
    * table is too small for Spark's own split planning to parallelize
    * (total bytes below `spark.sql.files.maxPartitionBytes`, i.e. the
    * whole table fits one split) and big enough for the exchange to pay
    * for itself (≥ 512 KiB). At 100 TB the gate is structurally false —
    * real inputs carry thousands of row groups and split naturally —
    * so production plans are untouched; the gate reads file metadata
    * on the driver (no job, ~µs on a local fs).
    *
    * Keying the exchange on the table's PRIMARY key (not round-robin)
    * does double duty: downstream joins/groupBys/windows on the same
    * key accept `HashPartitioning(key, par)` as-is, so for the many
    * queries whose first wide operation is keyed on it the fan-out
    * REPLACES their shuffle instead of adding one; round-robin would
    * also pay `sortBeforeRepartition`'s local sort of the single input
    * partition. Deterministic keys keep retried tasks stable
    * (SPARK-38388 does not apply to hash partitioning on real columns).
    */
  private def fanOut(spark: SparkSession, path: String, df: DataFrame,
      cap: Int, key: Column*): DataFrame = {
    val par = spark.sparkContext.defaultParallelism.min(cap)
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val bytes = tableBytes(spark, path)
    if (par > 1 && bytes >= 512L * 1024 && bytes < maxSplit)
      df.repartition(par, key: _*)
    else df
  }

  /** Read a fixture table with the scan fan-out applied on `key`.
    * OPT-IN per call site: the r21 interleaved A/B (OPTIMIZATION_r21.md,
    * fan-out decision table) showed the fan-out exchange wins only
    * where heavy per-row work follows the scan (codec kernels, shingle
    * pipelines, wide decimal aggregates) — applied blanket at the named
    * readers it taxed every near-floor query 0.1–0.35 s for an exchange
    * nothing downstream amortizes.
    * Key on the column downstream joins/groupBys cluster on, so the
    * fan-out REPLACES their first shuffle where possible.
    *
    * Width capped at [[scanFanCap]] (r22): the driver's own 8-core
    * artifact ran the whole batch 21% faster than 32-core (VERDICT r21
    * — every explicit width at defaultParallelism overshoots at this
    * data volume), and the interleaved width sweep (OPTIMIZATION_r22.md,
    * widths 0/4/8/16/32 × 4 rounds, 9 fanned queries) put the optimum
    * at 16 for EVERY lineitem/orders/documents fan site (total 5.53 s
    * at w16 vs 7.09 s at w32 vs 12.88 s unfanned). The cap only ever
    * applies where the gate fires — tables below one split — so width
    * follows the data volume, not the machine: at 8 cores the width is
    * still defaultParallelism (min), and at 100 TB the gate is false. */
  private[graft] val scanFanCap = 16

  private[graft] def fanned(spark: SparkSession, dir: String, name: String,
      key: String*): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.parquet(path)
    fanOut(spark, path, df, scanFanCap, key.map(col): _*)
  }

  /** [[fanOut]] for a DERIVED frame whose size tracks the named fixture
    * table (e.g. the dedup corpus = documents ∪ bounded copies): same
    * gate, applied to the frame instead of a fresh scan. `cap` bounds
    * the fan width below defaultParallelism — pipelines whose first
    * wide operation is a high-cardinality partial aggregate (the
    * posting-list family) lose map-side combine quality as map width
    * grows (every extra map partition ships its own partial list per
    * key), and the r21 width sweep (OPTIMIZATION_r21.md) put their
    * optimum at ~8 on this box while 32 was a net loss. */
  private[graft] def fanIfSmall(spark: SparkSession, dir: String,
      name: String, df: DataFrame, cap: Int, key: Column*): DataFrame =
    fanOut(spark, s"$dir/$name.parquet", df, cap, key: _*)

  private[graft] def fanIfSmall(spark: SparkSession, dir: String,
      name: String, df: DataFrame, key: Column*): DataFrame =
    fanOut(spark, s"$dir/$name.parquet", df, scanFanCap, key: _*)

  /** True when the named fixture table fits one scan split (the same
    * upper-bound test [[fanOut]] gates on, WITHOUT the 512 KiB floor) —
    * for call sites whose measured exchange win starts below that floor
    * (the capstone entity frame's 26-key explode pays at 312 KiB of
    * customer). At 100 TB any real table is multi-split, so gated
    * widenings vanish from production plans (ADVICE r21: the entity
    * repartition used to be unconditional). */
  private[graft] def belowOneSplit(spark: SparkSession, dir: String,
      name: String): Boolean = {
    tableBytes(spark, s"$dir/$name.parquet") <
      spark.sessionState.conf.filesMaxPartitionBytes
  }

  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = t(s, d, "region")
  /** Schema-drift-proof event-time normalization. Upstream fixture
    * regeneration has already shipped `ts` in three encodings across
    * rounds — parquet TIMESTAMP(NANOS) (arriving as LongType nanos under
    * `spark.sql.legacy.parquet.nanosAsLong=true`), TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (arriving as TIMESTAMP_NTZ), and plain
    * TIMESTAMP — so every events read funnels through here, converting at
    * the boundary the way the reference does (`db.rs:83-84`,
    * `s3.rs:114-115`). Accepted inputs, all normalized to TimestampType:
    *
    *  - TimestampType: pass through.
    *  - TimestampNTZType: reinterpret the naive local datetime as a UTC
    *    instant (sessions here run with session tz UTC, so `cast` keeps
    *    the wall-clock field values — the same instant DuckDB assigns when
    *    it reads the naive column).
    *  - LongType: epoch integer, nanos or µs decided PER ROW by magnitude
    *    (`|v| ≥ 1e17`: as µs that is year 5138+, as nanos it is 1973+ —
    *    unambiguous for any real event feed). Nanos truncate toward zero
    *    (`div 1000`), matching DuckDB's read of the same file. The
    *    magnitude test is a codegen'd `when`, so drift detection costs no
    *    extra pass and no plan-time action.
    */
  def normalizeTs(df: DataFrame, c: String = "ts"): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(c).dataType match {
      case TimestampType => df
      case TimestampNTZType =>
        df.withColumn(c, col(c).cast(TimestampType))
      case LongType =>
        df.withColumn(c, timestamp_micros(
          when(abs(col(c)) >= lit(100000000000000000L), expr(s"$c div 1000"))
            .otherwise(col(c))))
      case other => throw new IllegalArgumentException(
        s"unsupported event-time type for column '$c': $other")
    }
  }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(t(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Table row count from parquet footer metadata only — reads a few KB of
    * footer per file on the driver, no Spark job, no data scan. The right
    * way to size data-dependent parameters (e.g. LSH plane counts) at plan
    * construction time: an eager `df.count()` there would be a full pass
    * over the corpus before the query even runs. */
  def parquetRowCount(s: SparkSession, path: String): Long = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = s.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val files = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (f.isFile && !n.startsWith("_") && !n.startsWith(".")) files += f
    }
    files.iterator.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Money-as-cents: `round(x*100)` recovers the exact integer cents from a
    * 2-decimal price stored as double, identically in Spark and DuckDB
    * (the value is never at a rounding tie because 2-decimal values are not
    * exactly representable in binary). Integer sums are then exact in both
    * engines — the basis of every oracle-checked monetary aggregate here,
    * instead of order-dependent floating-point summation.
    */
  def cents(c: Column): Column = round(c * 100).cast("bigint")
}
