package graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sinks.PgMerge
import graft.sources.FileListing
import graft.streaming.{RocksDb, ScrapeStream, ScrapeTws}

/** The scan cycle as a library: the reference's whole loop (list, merge,
  * tombstone; `main.rs:20-81`) is one Structured Streaming query that a
  * CLI, a test or a notebook starts the same way.
  *
  * {{{
  * val q = Scan.start(spark, Seq("/data"), Some("docs"), Scan.Out("/state"),
  *   Trigger.AvailableNow(), checkpoint = "/tmp/ckpt")
  * q.awaitTermination()
  * ScrapeStream.readState(spark, "/state").show()
  * }}}
  *
  * [[start]] is the snapshot cycle (a parquet `--out` or PostgreSQL over
  * the wire), [[startEvents]] the change-event form, each over the PATHs'
  * [[rescanStream]]s. `Trigger.AvailableNow` runs one cycle;
  * `ProcessingTime` is the reference's daemon (`main.rs:64-96`), except
  * that a cycle STARTS every interval. The caller owns the checkpoint:
  * `graft.Main` passes a temporary one, so every run starts at cycle 0.
  */
object Scan {

  /** Where a snapshot cycle publishes. */
  sealed trait Sink

  /** A parquet snapshot dir, Hive-partitioned by source, merged by
    * [[streaming.ScrapeStream.mergeBatch]]. */
  final case class Out(dir: String) extends Sink

  /** `external_file` on PostgreSQL, staged over COPY and merged in one
    * transaction by the `graft-pg` table ([[sinks.PgMerge.publishScanWire]]). */
  final case class Pg(target: PgMerge.PgTarget) extends Sink

  /** How an `s3://` PATH lists: over the built-in REST client
    * (`graft-s3`: SigV4 + ListObjectsV2, no connector jars) when `s3Wire`,
    * else through the s3a connector like any Hadoop path. */
  final case class Listing(s3Wire: Boolean = false,
      s3Endpoint: Option[String] = None)

  /** Start the snapshot cycle over `paths`: ONE query over the union of
    * their rescan streams (not one per path, which would merge into one
    * `Out` dir concurrently), each micro-batch one cycle: list → merge,
    * tombstoning vanished keys. Every declared source is published each
    * cycle, so an empty rescan tombstones its source's live rows. The
    * cycle reads the clock once on the driver when the batch starts; that
    * instant stamps the `Out` sink's tombstones (the PG sink stamps the
    * server's `now()`). `onCycle` runs after each `Out` publish with the
    * merge's keys per action over the declared sources. Any failure
    * fails the query (S8, `main.rs:61-65`). */
  def start(spark: SparkSession, paths: Seq[String],
      identifier: Option[String], sink: Sink, trigger: Trigger,
      checkpoint: String, listing: Listing = Listing(),
      onCycle: ScrapeStream.CycleCounts => Unit = _ => ()): StreamingQuery = {
    require(paths.nonEmpty, "at least one PATH required")
    val scanned = paths.map(FileListing.identifierFor(_, identifier)).distinct
    val publish: (DataFrame, Long, java.sql.Timestamp) => Unit = sink match {
      case Out(dir) => (batch, cycle, at) =>
        onCycle(ScrapeStream.mergeBatch(spark, dir, scanned)(batch, cycle, at))
      case Pg(t) => (batch, _, _) =>
        // each declared source publishes its slice: list the batch once
        val listed = batch.persist()
        try scanned.foreach(src => PgMerge.publishScanWire(
          listed.filter(col("external_source") === src), t, src,
          maxConnections = 2))
        finally { listed.unpersist(); () }
    }
    paths.map(rescanStream(spark, _, identifier, listing)).reduce(_ union _)
      .writeStream
      .foreachBatch { (df: DataFrame, cycle: Long) =>
        val at = new java.sql.Timestamp(System.currentTimeMillis())
        // repeated or nested PATHs (`/a /a`, `-i X /data /data/sub`) list
        // one file twice: keep one row per key, or the merge's join
        // multiplies the file's rows every cycle. One PATH lists each key
        // once and skips the shuffle.
        val batch = if (paths.size > 1)
          df.dropDuplicates("external_source", "path", "filename") else df
        publish(batch, cycle, at)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /** One change-event query: `source`'s events append under `dir`. */
  final case class EventStream(source: String, dir: String,
      query: StreamingQuery) {

    /** The seen-set size from the engine's state metrics — the number
      * an operator watches for unbounded-state drift. */
    def seenSet: Option[Long] = query.recentProgress
      .flatMap(_.stateOperators.map(_.numRowsTotal)).lastOption
  }

  /** Start the CHANGE-EVENT form of the scan ([[streaming.ScrapeTws]]):
    * one pinned query per PATH (the deletion clock is per source) whose
    * rescans emit insert/update/delete/revive rows appended under
    * `out/events/<source>/`, with the seen-set as `transformWithState`
    * state in `out/.events-checkpoint/<source>/`. `observed` is
    * `current_timestamp()`, which Structured Streaming pins to the BATCH
    * timestamp: the scan-constant observation instant (P8) that drives
    * the per-source deletion watermark. State lives in the checkpoint,
    * so one-shot runs compose into the reference's loop across process
    * restarts. `rebuildState` seeds a FRESH checkpoint from the existing
    * event log (the state-schema upgrade: the log is the durable record). */
  def startEvents(spark: SparkSession, paths: Seq[String],
      identifier: Option[String], out: String, trigger: Trigger,
      listing: Listing = Listing(), rebuildState: Boolean = false,
      note: String => Unit = _ => ()): Seq[EventStream] =
    RocksDb.withRocksDb(spark) {
      // path checks go through Hadoop's FileSystem, not java.nio: with a
      // non-local --out (hdfs://, s3a://) a java.nio check on the raw
      // string silently passes
      val hadoopConf = spark.sessionState.newHadoopConf()
      paths.map { p =>
        val src = FileListing.identifierFor(p, identifier)
        val scans = rescanStream(spark, p, identifier, listing)
          .withColumn("observed", current_timestamp())
        val sub = java.net.URLEncoder.encode(src, "UTF-8")
        val eventsDir = s"$out/events/$sub"
        // a changefeed-claimed log (--watch-pg) must not take rescan
        // appends: the two dialects' event_seq spaces (LSN vs per-key
        // apply index) would mis-order same-millisecond compaction ties
        require(!hExists(hadoopConf, s"$eventsDir/_graft_changefeed"),
          s"$src: $eventsDir belongs to a --watch-pg changefeed " +
            "(marker present) — one log, one producer; use a " +
            "different --out for the rescan daemon")
        // Spark applies initial state only on a fresh checkpoint's batch
        // 0 and would silently IGNORE it on a resume, so an existing
        // checkpoint is refused loudly instead
        val initial = if (rebuildState) {
          require(!hExists(hadoopConf, s"$out/.events-checkpoint/$sub"),
            s"--rebuild-state replays the log into a FRESH checkpoint; " +
              s"remove $out/.events-checkpoint/$sub first")
          Some(spark.read.parquet(eventsDir))
        } else None
        // the log is PLAIN parquet appends, not the FileStreamSink, whose
        // _spark_metadata would swallow every batch of a REBUILT checkpoint
        // (ids restart at 0) and stall on metadata compaction every 10
        // batches. At-least-once: a replayed batch re-appends identical
        // rows that the (event_ms, event_seq) compaction absorbs.
        val legacyMeta = new org.apache.hadoop.fs.Path(
          s"$eventsDir/_spark_metadata")
        val legacyFs = legacyMeta.getFileSystem(hadoopConf)
        if (legacyFs.exists(legacyMeta)) {
          // a pre-r15 FileStreamSink log would HIDE plain appends
          note(s"$src: removing legacy _spark_metadata from $eventsDir " +
            "(the event log is plain parquet now)")
          legacyFs.delete(legacyMeta, true)
          ()
        }
        val q = ScrapeTws.changeStream(spark, scans, src, initial)
          .writeStream
          .foreachBatch { (df: DataFrame, _: Long) =>
            df.write.mode("append").parquet(eventsDir)
            ()
          }
          .option("checkpointLocation", s"$out/.events-checkpoint/$sub")
          .outputMode("append")
          .trigger(trigger)
          .start()
        EventStream(src, eventsDir, q)
      }
    }

  /** The rescan stream of one PATH: every micro-batch is one complete
    * listing of it, every row stamped with the path's scan identifier.
    * An `s3://` path under `Listing.s3Wire` lists through `graft-s3`;
    * every other path goes through the Hadoop filesystem (`graft-files`,
    * `s3://` mapped to the s3a connector). The identifier is always set:
    * the rows must carry the key the sinks publish and tombstone under,
    * and `graft-files` would otherwise derive it from the s3a URL. */
  def rescanStream(spark: SparkSession, p: String,
      identifier: Option[String], listing: Listing = Listing()): DataFrame = {
    val reader = FileListing.parseS3Url(p).filter(_ => listing.s3Wire) match {
      case Some(_) =>
        val r = spark.readStream.format("graft-s3").option("url", p)
        listing.s3Endpoint.fold(r)(ep => r.option("endpoint", ep))
      case None =>
        spark.readStream.format("graft-files").option("path", normalize(p))
    }
    reader.option("identifier", FileListing.identifierFor(p, identifier))
      .load()
  }

  /** A CLI `--interval` as a trigger: one cycle and stop without it, a
    * cycle every SEC seconds with it. */
  def trigger(interval: Option[Long]): Trigger =
    interval.fold[Trigger](Trigger.AvailableNow())(sec =>
      Trigger.ProcessingTime(sec * 1000L))

  /** Wait until every one of `queries` has ended — never on the
    * session's other queries: `spark.streams.awaitAnyTermination` also
    * returns, or rethrows, for any query that ended earlier in a shared
    * session (tests, notebooks). The first failure propagates, and the
    * remaining queries are stopped on the way out (S8 fail-fast: one
    * dead scan fails the run loudly). */
  def awaitRun(queries: Seq[StreamingQuery]): Unit =
    try {
      while (queries.exists(_.isActive)) {
        queries.filterNot(_.isActive).foreach(_.awaitTermination())
        queries.find(_.isActive).foreach(_.awaitTermination(1000L))
      }
      queries.foreach(_.awaitTermination())
    } finally queries.foreach(_.stop())

  /** Row count of a plain-parquet event log: an empty/missing dir
    * (no data files to infer a schema from) is ZERO events, not an
    * error; any OTHER read failure (corrupt sink, permissions) must
    * propagate, never print a silent zero. */
  def countEvents(spark: SparkSession, dir: String): Long =
    try spark.read.parquet(dir).count()
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).exists(c =>
            c.startsWith("UNABLE_TO_INFER_SCHEMA") ||
              c.startsWith("PATH_NOT_FOUND")) => 0L
    }

  /** The bucket-audit frame for one path — COUNT(*), SUM(size) ("du"
    * over a prefix), MIN/MAX(size), MIN/MAX(modified) (staleness probe)
    * — expressed so the WHOLE aggregate pushes into the graft-files
    * listing tasks ([[graft.sources.v2.FilesSource]]
    * `SupportsPushDownAggregates`): each listing shard folds its walk
    * into ONE partial row in-stream, no per-file InternalRow ever
    * reaches Spark, and the `created` stat is provably never taken. */
  def auditFrame(spark: SparkSession, path: String): DataFrame =
    spark.read.format("graft-files").option("path", normalize(path)).load()
      .agg(count(lit(1)).as("n_files"), sum("size").as("total_bytes"),
        min("size").as("min_bytes"), max("size").as("max_bytes"),
        min("modified").as("oldest_modified"),
        max("modified").as("newest_modified"))

  /** Whether `path` exists, through the caller's Hadoop conf (the
    * session's, so the `spark.hadoop.*` channel reaches remote stores). */
  private[graft] def hExists(conf: Configuration, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(conf).exists(p)
  }

  /** `s3://` (reference scheme) → `s3a://` (Hadoop connector scheme). */
  private def normalize(p: String): String =
    if (p.startsWith("s3://")) "s3a://" + p.stripPrefix("s3://") else p
}
