package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.Tables._

/** Streaming window family over `events` (SURVEY §2.10 + §7.5): tumbling,
  * sliding, and session windows. Each operator exists twice with identical
  * semantics:
  *
  *  - a batch form (registered as a driver query, DuckDB-oracle-checked —
  *    the batch-replay oracle for the streaming computation), and
  *  - a Structured-Streaming form (`readStream` → watermark → windowed agg),
  *    exercised by StreamingSpec with the in-memory sink.
  *
  * The reference's latent streaming shape (count-or-time micro-batching,
  * `fs.rs:100`) maps to `Trigger.ProcessingTime` + source rate limits;
  * its per-scan seen-set is `foreachBatch` state (SURVEY §2.10).
  *
  * Scale notes: windowed aggregations shuffle on (window, keys) with
  * map-side partial aggregation; watermarks bound state. Session windows
  * shuffle by user — the state per key is one open session.
  */
object EventWindows {

  /** Tumbling 1-hour windows × event_type: count + exact-cents sum. */
  def qTumbling(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(cents(col("value"))).cast("double") / 100).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("window_start", "event_type")

  /** Sliding 1-hour windows every 30 minutes (each event in 2 windows). */
  def qSliding(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"),
        (sum(cents(col("value"))).cast("double") / 100).as("sum_value"))
      .select(col("window.start").as("window_start"), col("n"), col("sum_value"))
      .orderBy("window_start")

  /** Session windows per user with a 10-minute inactivity gap. */
  def qSession(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        (sum(cents(col("value"))).cast("double") / 100).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")

  // --- Structured Streaming forms (driven by StreamingSpec) -----------

  /** `events` as a bounded stream: one parquet file per trigger — the
    * count-or-time micro-batch analog of `chunks_timeout(200, 1s)`. */
  def eventsStream(s: SparkSession, dir: String): DataFrame = {
    // raw parquet schema (long nanos, TIMESTAMP_NTZ, or timestamp — the
    // fixture has shipped all three), NOT the converted Tables.events
    // schema — the stream re-applies the same boundary normalization.
    val schema = t(s, dir, "events").schema
    val raw = s.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir) // FileStreamSource requires a directory, hence the glob
    graft.Tables.normalizeTs(raw)
  }

  /** Streaming tumbling aggregation with a watermark: late events beyond
    * 30 minutes are dropped and window state is bounded. */
  def tumblingStream(s: SparkSession, dir: String): DataFrame =
    eventsStream(s, dir)
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** Streaming session windows (update mode state per user). */
  def sessionStream(s: SparkSession, dir: String): DataFrame =
    eventsStream(s, dir)
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))

  /** Custom arbitrary state (`flatMapGroupsWithState`) — the API the
    * reference's per-scan seen-set maps to (SURVEY §2.10): per-user
    * running (event count, cumulative value cents), emitted on every
    * update. State is one tuple per user — bounded by key cardinality.
    */
  def userTotalsStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = eventsStream(s, dir)
      .select(col("user_id"), cents(col("value")).as("value_cents"))
      .as[(Long, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[(Long, Long)]) =>
          val (n0, v0) = state.getOption.getOrElse((0L, 0L))
          var n = n0
          var v = v0
          rows.foreach { case (_, cents) => n += 1; v += cents }
          state.update((n, v))
          Iterator((user, n, v))
      }
      .toDF("user_id", "n_events", "total_cents")
  }

  /** Run a streaming DF to completion against the bounded source and
    * return the final result via the memory sink (complete mode). */
  def runToCompletion(s: SparkSession, df: DataFrame, name: String): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_tumbling" -> qTumbling,
    "q_stream_sliding" -> qSliding,
    "q_stream_session" -> qSession,
  )

  val oracles: Map[String, String] = Map(
    "q_stream_tumbling" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100 AS sum_value
        |FROM events GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin,
    "q_stream_sliding" ->
      """SELECT ws AS window_start, count(*) AS n,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100 AS sum_value
        |FROM (SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
        |        time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE]) AS ws,
        |      value FROM events)
        |GROUP BY ws ORDER BY ws""".stripMargin,
    "q_stream_session" ->
      """WITH g AS (SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w > INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts, value,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100 AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
  )
}
