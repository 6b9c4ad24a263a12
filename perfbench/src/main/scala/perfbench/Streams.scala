package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.streaming.{RocksDb, StreamBench}

/** Stateful streaming: a seeded, event-time-ordered file stream, written
  * by `run.py` with modification times in replay order, replayed with
  * `Trigger.AvailableNow` through each stateful operator, one file per
  * micro-batch, into the `noop` sink. The operators come from the
  * program's public builders. Checks, not timed: every generated row is
  * consumed, none is dropped as late, and the rows emitted equal what
  * the batch form of the same operator gives over the same files. */
object Streams extends Workload {
  /** (name, output mode, RocksDB state store, builder). */
  private def ops(s: SparkSession, ev: String, sc: String)
      : Seq[(String, String, Boolean, () => DataFrame)] = Seq(
    ("tumbling", "update", false,
      () => StreamBench.tumbling(StreamBench.sourceStream(s, ev))),
    ("session", "append", false,
      () => StreamBench.session(StreamBench.sourceStream(s, ev))),
    ("dedup", "append", false,
      () => StreamBench.dedup(StreamBench.sourceStream(s, ev))),
    ("join", "append", false,
      () => StreamBench.intervalJoin(StreamBench.sourceStream(s, ev))),
    ("tws_totals", "update", true,
      () => StreamBench.twsTotals(s, StreamBench.sourceStream(s, ev))),
    ("scrape_tws", "append", true, () => StreamBench.scrapeTws(s, sc)))

  final class State(val spark: SparkSession, val a: Args, val dir: File) {
    val ev = new File(dir, "events").getPath
    val sc = new File(dir, "scans").getPath
    /** Expected emitted rows per op, from the batch forms (untimed). */
    var expected: Map[String, Long] = Map.empty
    var events = 0L
    var scanRows = 0L
    var scrapeEvents = 0L
  }

  def setup(spark: SparkSession, a: Args): State = {
    val st = new State(spark, a, a.out.resolve("stream").toFile)
    // the inputs are generated by run.py from the seed; set-up resolves
    // their schemas, as every op's source does
    spark.read.parquet(st.ev).schema
    spark.read.parquet(st.sc).schema
    st
  }

  def teardown(st: State): Unit = ()

  /** Expected emitted rows of each op, from its batch form. Update-mode
    * aggregates emit one row per group touched per micro-batch (one file
    * each); append-mode ops emit each final row once. */
  def prepare(st: State, out: Outcome): Unit = {
    val s = st.spark
    val ev = s.read.parquet(st.ev).withColumn("f", input_file_name())
    def groupsPerFile(keys: org.apache.spark.sql.Column*): Long =
      ev.groupBy((col("f") +: keys): _*).count().count()
    st.events = s.read.parquet(st.ev).count()
    st.scanRows = s.read.parquet(st.sc).count()
    st.scrapeEvents = scrapeEvents(st)
    st.expected = Map(
      "tumbling" -> groupsPerFile(window(col("ts"), "1 hour"),
        col("event_type")),
      "dedup" -> ev.select("props").distinct().count(),
      "join" -> StreamBench.intervalJoin(s.read.parquet(st.ev)).count(),
      "tws_totals" -> groupsPerFile(col("user_id")))
  }

  /** Change events `ScrapeTws.changeStream` emits over the scan files,
    * replayed on the driver: a first sighting is an insert; a sighting
    * of a tombstoned file, or one whose size changed since its last
    * sighting, is an update; a known file absent from two scans in a row
    * is tombstoned in the micro-batch of the second, because the
    * deletion timer of a file absent from one scan only fires after the
    * next scan has refreshed it or not. The final no-data batch sweeps
    * the last scan's absentees. */
  private def scrapeEvents(st: State): Long = {
    val scansInOrder = Option(new File(st.sc).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.lastModified)
      .map(f => st.spark.read.parquet(f.getPath).select("filename", "size")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    val known = scala.collection.mutable.HashMap.empty[String, (Long, Boolean)]
    var n = 0L
    (0 to scansInOrder.length).foreach { i =>
      val cur = if (i < scansInOrder.length) scansInOrder(i) else Map.empty[String, Long]
      cur.foreach { case (k, size) =>
        if (known.get(k).forall { case (s0, dead) => dead || s0 != size }) n += 1
        known(k) = (size, false)
      }
      if (i >= 1) known.toList.foreach { case (k, (size, _)) =>
        if (!cur.contains(k) && !scansInOrder(i - 1).contains(k)) {
          n += 1
          known(k) = (size, true)
        }
      }
    }
    n
  }

  /** Sessions closed by the last micro-batch's watermark (append mode
    * emits a session once the watermark passes its end). */
  private def sessionsClosed(st: State, watermarkIso: String): Long = {
    val wm = java.time.Instant.parse(watermarkIso)
    val wmMicros = wm.getEpochSecond * 1000000L + wm.getNano / 1000
    val ends = StreamBench.session(st.spark.read.parquet(st.ev))
      .select(unix_micros(col("session_window.end"))).collect()
      .map(_.getLong(0))
    ends.count(_ <= wmMicros).toLong
  }

  private def sum(ps: Seq[StreamingQueryProgress])(
      f: StreamingQueryProgress => Double): Double = ps.map(f).sum

  private def duration(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.toLong / 1e3).getOrElse(0.0)

  /** Run one op to completion into the `noop` sink; its progress. */
  private def runOp(s: SparkSession, mode: String, rocks: Boolean,
      ckpt: File)(build: => DataFrame): Seq[StreamingQueryProgress] = {
    def run(): Seq[StreamingQueryProgress] = {
      val q = build.writeStream.format("noop").outputMode(mode)
        .option("checkpointLocation", ckpt.getPath)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.toSeq
    }
    try if (rocks) RocksDb.withRocksDb(s)(run()) else run()
    finally deleteTree(ckpt)
  }

  def pass(st: State, p: Int, tr: Trace, out: Outcome): Unit = {
    val s = st.spark
    ops(s, st.ev, st.sc).foreach { case (name, mode, rocks, build) =>
      val ckpt = new File(st.dir, s"ckpt-$name-$p")
      val request = s"stream:$name:$p"
      val res = Layers.timed(out, tr, "stream", name, p) {
        runOp(s, mode, rocks, ckpt) {
          tr.span(request, "operators.build")(build())
        }
      }
      res.foreach { case (progress, counters, wall) =>
        val input = progress.map(_.numInputRows).sum
        val emitted = progress.map(_.sink.numOutputRows).sum
        val late = progress.flatMap(_.stateOperators)
          .map(_.numRowsDroppedByWatermark).sum
        // the join reads the stream twice, once for each side
        val generated = name match {
          case "scrape_tws" => st.scanRows
          case "join" => 2 * st.events
          case _ => st.events
        }
        out.check(input == generated,
          s"stream $name (pass $p): consumed $input of $generated rows")
        out.check(late == 0L,
          s"stream $name (pass $p): $late rows dropped as late")
        val want = name match {
          case "session" =>
            val wm = progress.lastOption.flatMap(x =>
              Option(x.eventTime.get("watermark"))).getOrElse("")
            Some(sessionsClosed(st, wm))
          case "scrape_tws" => Some(st.scrapeEvents)
          case _ => st.expected.get(name)
        }
        want.foreach { w =>
          out.check(emitted == w,
            s"stream $name (pass $p): emitted $emitted rows, batch form $w")
        }
        out.extra(s"rows.$name") = input
        counters.foreach { c =>
          val state = progress.map(_.stateOperators.map(_.numRowsTotal).sum)
          out.layerSamples += Layers.exec(c, wall) ++ Map(
            "operators.build_s" -> tr.spanSeconds(request, "operators.build"),
            "streaming.state_commit_s" -> sum(progress)(x =>
              x.stateOperators.map(_.commitTimeMs).sum / 1e3),
            "streaming.state_rows_peak" ->
              (if (state.isEmpty) 0.0 else state.max.toDouble),
            "streaming.add_batch_s" -> sum(progress)(duration(_, "addBatch")),
            "streaming.planning_s" ->
              sum(progress)(duration(_, "queryPlanning")),
            "streaming.offset_log_s" -> sum(progress)(x =>
              duration(x, "walCommit") + duration(x, "commitOffsets")),
            "streaming.batches" -> progress.size.toDouble,
            "streaming.late_rows_dropped" -> late.toDouble)
        }
      }
    }
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
    ()
  }
}
