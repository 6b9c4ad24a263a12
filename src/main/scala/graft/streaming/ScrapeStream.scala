package graft.streaming

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Scrape

/** The reference's whole loop — rescan → merge → tombstone — as an
  * incremental Structured Streaming pipeline (SURVEY §2.10), with a
  * parquet snapshot as its state:
  *
  *  - micro-batch source: the rescan streams of [[graft.Scan.start]],
  *    one complete listing of every PATH per trigger (`graft-files`, or
  *    `graft-s3` for `s3://` over the REST lister);
  *  - `foreachBatch`: each cycle merges into the persistent state
  *    ([[mergeBatch]]: [[Scrape.cycle]], J3 upsert classify + J2
  *    deletion tombstoning in one join over the declared sources,
  *    stamped with the cycle's scan instant), then publishes
  *    partition-incrementally. State is a parquet snapshot dir
  *    Hive-partitioned by `external_source`, and only the scanned
  *    sources' partition dirs are swapped (staged write → rename old
  *    aside → rename new in → drop old), approximating K2's
  *    readers-never-see-half-a-scan guarantee (`fs.rs:103-114`).
  *
  * Each micro-batch is ONE complete scan of the sources it declares, so
  * keys missing from it tombstone in that cycle. `graft.Main --out` is
  * this cycle on a temporary checkpoint; the PostgreSQL sink runs the
  * same cycle into `external_file` instead ([[graft.Scan.Pg]]).
  */
object ScrapeStream {

  /** One merge's keys per action, over the sources it published. */
  final case class CycleCounts(inserted: Long, updated: Long,
      unchanged: Long, deleted: Long) {
    override def toString: String = s"$inserted inserted, $updated " +
      s"updated, $unchanged unchanged, $deleted deleted"
  }

  /** The state's columns and types: its read, the empty state and the
    * merge's output. */
  private val stateSchema = StructType.fromDDL("uuid_external_file string, " +
    "external_source string, path string, filename string, " +
    "mime_type string, created timestamp, modified timestamp, size bigint, " +
    "deleted timestamp")
  private val stateCols = stateSchema.fieldNames.toSeq.map(col)

  /** Read the current snapshot (empty when absent) with the state's fixed
    * schema: no job infers it, and a partition value such as
    * `external_source=007` stays the string it was written as. Columns
    * come back in canonical order regardless of the partition layout
    * (partition columns append last on read). The existence check goes
    * through the session's Hadoop filesystem, like the swap, so a
    * `file:`, `hdfs://` or `s3a://` state dir is seen, not read as
    * empty. */
  def readState(spark: SparkSession, stateDir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(stateDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p) && fs.listStatus(p).nonEmpty)
      spark.read.schema(stateSchema).parquet(stateDir).select(stateCols: _*)
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stateSchema)
  }

  /** One batch of the merge loop: [[Scrape.cycle]] (one join, one read
    * of the current slice) written and published; returns its keys per
    * action, counted by an `Observation` on the write itself.
    *
    * Partition-incremental: a scan touches only its own `external_source`
    * partition(s). The current state is read partition-pruned to the
    * scanned sources (matching is on (source, path, filename), so rows of
    * other sources can never join the scan), and publication swaps only
    * the scanned sources' partition dirs — every other partition's files
    * stay byte-identical. At 100 TB state a 1-file scan of one source
    * therefore rewrites one partition, not the whole table.
    *
    * Publication protocol (not Spark's overwrite commit, whose
    * delete-then-rename window can lose the old partition — including
    * tombstone rows a replay cannot reconstruct from the scan file): the
    * batch output is written to a per-batch staging dir, then per
    * partition the old dir is renamed aside into a dot-prefixed holding
    * dir (invisible to partition discovery), the staged dir is renamed
    * in, and the holding dir is dropped last. Any crash leaves either the
    * old or the new partition recoverable; [[recoverSwaps]] (run at the
    * start of every batch) finishes or rolls back an interrupted swap
    * before the streaming replay re-merges. Renames are atomic on
    * HDFS/POSIX; on object stores without atomic rename (raw S3) state
    * belongs in a log-structured table format instead.
    *
    * `scanned` declares the sources this batch is a complete scan of;
    * the merge and the swap cover exactly those, and the batch's rows of
    * any other source are filtered out in the plan. A declared source
    * with no rows is an empty rescan: it tombstones every live row of
    * its source (the reference's J2, `db.rs:48-65`).
    *
    * `scanInstant` is the cycle's scan time, read once by the caller when
    * the batch starts: it stamps every row this batch finds missing, so
    * `deleted` is the latest scan that saw the file gone, as with the
    * reference's UPDATE (`README.md:6-8`, `db.rs:48-65`). `batchId`
    * names the batch's staging and holding dirs. */
  def mergeBatch(spark: SparkSession, stateDir: String,
      scanned: Seq[String])(scan: DataFrame, batchId: Long,
      scanInstant: java.sql.Timestamp): CycleCounts = {
    recoverSwaps(spark, stateDir)
    val ofSources = col("external_source").isin(scanned: _*)
    val current = readState(spark, stateDir).filter(ofSources)
    // the per-action counts ride the write's own job
    val counts = Observation()
    def n(a: String) = count(when(col("action") === a, 1)).as(a)
    val newState = Scrape.cycle(current, scan.filter(ofSources), lit(scanInstant))
      .observe(counts, n("insert"), n("update"), n("unchanged"), n("deleted"))
      .select(stateCols: _*)
    // Stage the batch output beside the state dir (never inside it — the
    // stage must stay invisible to readState's partition discovery), then
    // swap the scanned partitions in explicitly. Hive-partitioned by
    // source so the next scan's readState prunes to its own slice; file
    // count per partition follows the shuffle, not a coalesce(1)
    // bottleneck.
    val stageDir = s"$stateDir.stage-$batchId"
    newState.write.mode(SaveMode.Overwrite)
      .partitionBy("external_source").parquet(stageDir)
    publishPartitions(spark, stageDir, stateDir, scanned, batchId)
    val m = counts.get.map { case (a, v) => a -> v.asInstanceOf[Long] }
    CycleCounts(m("insert"), m("update"), m("unchanged"), m("deleted"))
  }

  private def partDirName(source: String): String =
    "external_source=" + org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.escapePathName(source)

  /** Swap the scanned sources' partition dirs from `stageDir` into
    * `stateDir`: old aside into `.old-<batchId>` → staged in → holding
    * dir dropped. Each step is a single FS rename (atomic on HDFS/POSIX);
    * [[recoverSwaps]] heals any crash between steps. */
  private def publishPartitions(spark: SparkSession, stageDir: String,
      stateDir: String, sources: Seq[String], batchId: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val state = new Path(stateDir)
    val fs = state.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(state)
    val holding = new Path(state, s".old-$batchId")
    for (src <- sources) {
      val part = partDirName(src)
      val live = new Path(state, part)
      val staged = new Path(new Path(stageDir), part)
      if (fs.exists(staged)) {
        if (fs.exists(live)) {
          fs.mkdirs(holding)
          require(fs.rename(live, new Path(holding, part)),
            s"publish: failed to move $live aside")
        }
        require(fs.rename(staged, live), s"publish: failed to move $staged in")
      }
    }
    fs.delete(holding, true)
    fs.delete(new Path(stageDir), true)
  }

  /** Finish or roll back swaps interrupted by a crash. Rule per partition
    * found under a `.old-*` holding dir: if the live partition exists the
    * swap completed (the holding copy is garbage — drop it); if not, the
    * crash hit between aside and in — restore the old partition, and the
    * streaming replay of the uncommitted batch re-merges it. Leftover
    * `.stage-*` dirs are always garbage (the replay rewrites them). */
  def recoverSwaps(spark: SparkSession, stateDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val state = new Path(stateDir)
    val fs = state.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(state)) return
    for (h <- fs.listStatus(state)
         if h.isDirectory && h.getPath.getName.startsWith(".old-")) {
      for (p <- fs.listStatus(h.getPath) if p.isDirectory) {
        val live = new Path(state, p.getPath.getName)
        if (!fs.exists(live))
          require(fs.rename(p.getPath, live), s"recover: failed to restore $live")
      }
      fs.delete(h.getPath, true)
    }
    val parent = state.getParent
    if (parent != null && fs.exists(parent))
      for (st <- fs.listStatus(parent)
           if st.isDirectory && st.getPath.getName.startsWith(state.getName + ".stage-"))
        fs.delete(st.getPath, true)
  }
}
