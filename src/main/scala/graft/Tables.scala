package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.apache.spark.sql.Column

import scala.util.control.NonFatal

/** Parquet table access for the driver-provided fixtures
  * (`/root/testdata/sf*`; see TESTDATA.md / FIXTURES.md).
  *
  * All queries in this engine read through here so that the scan side
  * stays uniform: [[parquet]] is `spark.read.parquet` with the schema
  * read from one footer on the driver, letting Catalyst push
  * filters/column pruning into the parquet scan. At cluster scale the
  * same call reads `s3a://` URIs unchanged.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` without the Spark job that Spark 4.1
    * submits to learn the schema. Spark's inference reads one footer
    * (`ParquetUtils.inferSchema` → `ParquetFileFormat.
    * mergeSchemasInParallel`), but as a job: 62–122 ms per read against
    * 8–17 ms for a read whose schema is supplied (4-core box, warm
    * local[4] session, 5 fixture tables × 4 rounds). Here the same
    * footer is read on the driver and handed to `spark.read.schema`.
    *
    * Exactness: [[footerSchema]] is what Spark's non-merging inference
    * returns — the same file (see [[schemaFile]]), the same converter
    * flags from the session conf, `ParquetFileFormat.readSchemaFromFooter`
    * (which prefers the Spark row schema stored in Spark-written
    * footers), then made nullable as Spark's file relation makes every
    * data schema. Partition columns of a `k=v` tree are not in the
    * footer; Spark's file index still discovers and types them, as it
    * does for a plain read.
    *
    * Falls back to plain `spark.read.parquet`, and so to Spark's own
    * result or error (`PATH_NOT_FOUND`, `UNABLE_TO_INFER_SCHEMA`, a
    * footer it cannot read), when [[footerSchema]] has no answer: the
    * path is missing, a glob, a streaming sink's output or holds no data
    * file, or `spark.sql.parquet.mergeSchema` is on (Spark then merges
    * every footer). */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The data schema Spark's non-merging parquet inference gives `path`,
    * read on the driver with no Spark job; None where [[parquet]] falls
    * back. The converter flags are the ones `mergeSchemasInParallel`
    * takes from the session conf (Spark 4.1 bytecode): binary as string,
    * INT96 as timestamp, NTZ inference, nanos as long and unknown type
    * annotations; the other three keep their defaults there too. */
  private[graft] def footerSchema(spark: SparkSession,
      path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled || path.exists("{}[]*?\\".contains(_)))
      return None
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    try {
      schemaFile(root.getFileSystem(hadoopConf), root).map { f =>
        val footer = new Footer(f.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoopConf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS))
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = conf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
          nanosAsLong = conf.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation =
            conf.parquetReaderRespectUnknownTypeAnnotation)
        asNullable(ParquetFileFormat.readSchemaFromFooter(footer, converter))
          .asInstanceOf[StructType]
      }
    } catch { case NonFatal(_) => None }
  }

  /** Spark's `DataType.asNullable` (private to Spark). */
  private def asNullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType => MapType(asNullable(m.keyType), asNullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** The file whose footer Spark's non-merging inference reads: the
    * first `_common_metadata`, else the first `_metadata`, else the first
    * data file, of the leaves sorted by path string. Summary files are
    * looked for at the root, where Parquet's output committer writes
    * them. None when there is no data file, or when the root holds a
    * `_spark_metadata` log: Spark then reads the files the log names
    * instead of listing. */
  private def schemaFile(fs: FileSystem, root: Path): Option[FileStatus] = {
    val level = scan(fs, root)
    if (level.named.contains("_spark_metadata")) None
    else level.named.get("_common_metadata")
      .orElse(level.named.get("_metadata"))
      .orElse(descend(fs, level))
  }

  /** What [[scan]] keeps of one directory. */
  private final case class Level(least: Option[FileStatus],
      dirs: Seq[FileStatus], named: Map[String, FileStatus])

  /** One directory of Spark's leaf listing, read through the listing
    * iterator: the least visible data file by path string, the visible
    * subdirectories and the special names seen. File systems promise no
    * listing order, so each directory is read to its end, but nothing
    * below it is listed unless it can hold an earlier path. */
  private def scan(fs: FileSystem, dir: Path): Level = {
    var least: Option[FileStatus] = None
    val dirs = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
    val named = Map.newBuilder[String, FileStatus]
    entries(fs, dir).foreach { s =>
      val name = s.getPath.getName
      if (specialNames(name)) named += name -> s
      if (!hidden(name)) {
        if (s.isDirectory) dirs += s
        else if (!summary(name) && least.forall(l => sortKey(s) < sortKey(l)))
          least = Some(s)
      }
    }
    Level(least, dirs.toSeq, named.result())
  }

  /** The least data file of a scanned directory: every file under a
    * subdirectory `d` sorts as `d/…`, one contiguous run, so the
    * subdirectories that sort before the directory's own least file are
    * tried in order and the first one holding a data file wins. */
  private def descend(fs: FileSystem, level: Level): Option[FileStatus] =
    level.dirs.filter(d => level.least.forall(l => sortKey(d) < sortKey(l)))
      .sortBy(sortKey).iterator
      .flatMap(d => descend(fs, scan(fs, d.getPath)))
      .nextOption().orElse(level.least)

  private def sortKey(s: FileStatus): String =
    if (s.isDirectory) s"${s.getPath}/" else s.getPath.toString

  private val specialNames =
    Set("_spark_metadata", "_common_metadata", "_metadata")
  private def summary(name: String): Boolean =
    name == "_common_metadata" || name == "_metadata"

  /** Names Spark's file listing skips (`HadoopFSUtils.
    * shouldFilterOutPathName`), directories included. */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith("_common_metadata") && !name.startsWith("_metadata")

  /** The children of `dir` (or `dir` itself when it is a file) through
    * the file system's listing iterator, which pages where the store
    * does (HDFS, S3A). */
  private def entries(fs: FileSystem, dir: Path): Iterator[FileStatus] = {
    val it = fs.listStatusIterator(dir)
    new Iterator[FileStatus] {
      def hasNext: Boolean = it.hasNext
      def next(): FileStatus = it.next()
    }
  }

  /** Every data file under `dir` that Spark's listing reads. */
  private def dataFiles(fs: FileSystem, dir: Path): Iterator[FileStatus] =
    entries(fs, dir).filterNot(s => hidden(s.getPath.getName)).flatMap { s =>
      if (s.isDirectory) dataFiles(fs, s.getPath)
      else if (summary(s.getPath.getName)) Iterator.empty
      else Iterator.single(s)
    }

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
      val p = new Path(path)
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
    fanOut(spark, s"$dir/$name.parquet", t(spark, dir, name), scanFanCap,
      key.map(col): _*)
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
    val conf = s.sessionState.newHadoopConf()
    val root = new Path(path)
    dataFiles(root.getFileSystem(conf), root).map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
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
