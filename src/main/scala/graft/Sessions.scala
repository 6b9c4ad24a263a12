package graft

import org.apache.spark.sql.SparkSession

/** The one place a Spark session is built. Every entry point (the CLI,
  * `Bench`, `Verify`, the product and stream benches, the dev tools and
  * the test session) starts here, so the confs they share cannot drift
  * apart:
  *
  *  - session time zone UTC (oracle dates and `normalizeTs` assume it);
  *  - `spark.sql.legacy.parquet.nanosAsLong` on, so a TIMESTAMP(NANOS)
  *    fixture arrives as long instead of failing the scan;
  *  - UI off, and the app-status store's retention capped (nothing reads
  *    it with the UI off, and an uncapped store grows the heap over a
  *    long run of queries);
  *  - `spark.sql.shuffle.partitions` equal to the width.
  *
  * The master is `local[width]` unless `SPARK_MASTER` names another. */
object Sessions {

  /** `SPARK_GRAFT_CPUS` if set, else the JVM's available processors. */
  def width: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The shared confs, for callers that add their own (extensions, a
    * warehouse dir) before `getOrCreate`. */
  def builder(app: String, width: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$width]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", width.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "10")

  def local(app: String, width: Int): SparkSession =
    builder(app, width).getOrCreate()
}
