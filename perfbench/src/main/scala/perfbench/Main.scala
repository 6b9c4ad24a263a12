package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the result file the runner script reads. */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\t' => "\\t"; case '\r' => "\\r"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + esc(s) + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}

/** Command-line options, passed by `run.py`. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, out: Path, fixture: String, pgPort: Int, threads: Int)

/** One timed operation of the closed loop. */
final case class OpRecord(kind: String, name: String, pass: Int,
    wallS: Double, traced: Boolean, ok: Boolean)

/** What a run records: timed operations, checks and their failures,
  * per-layer samples and context. */
final class Outcome {
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val failures = mutable.ArrayBuffer.empty[String]
  var checks = 0L
  var checksFailed = 0L
  /** Per-layer samples, one map per traced operation. */
  val layerSamples = mutable.ArrayBuffer.empty[Map[String, Double]]
  /** Context for the runner's `context` line. */
  val extra = mutable.LinkedHashMap.empty[String, Any]

  def check(ok: Boolean, what: => String): Unit = {
    checks += 1
    if (!ok) { checksFailed += 1; failures += what }
  }
}

/** A workload: set-up (timed as `setup_s`), untimed preparation, and
  * passes of timed operations repeated until the run's time is spent. */
trait Workload {
  type State
  def setup(spark: SparkSession, a: Args): State
  def teardown(st: State): Unit
  /** Untimed work before the timed window: warm-up, and what the checks
    * need to know in advance. */
  def prepare(st: State, out: Outcome): Unit
  /** One pass over the workload's pinned operation list. Each operation
    * runs inside [[Layers.timed]]; work outside it is not timed. */
  def pass(st: State, pass: Int, tr: Trace, out: Outcome): Unit
}

object Main {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", Paths.get(need("--out")), need("--fixture"),
      m.get("--pg-port").map(_.toInt).getOrElse(0),
      Runtime.getRuntime.availableProcessors)
  }

  def session(threads: Int, scratch: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation",
        scratch.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Fixed single-thread integer-mixing loop (the idea of `Bench`'s
    * `cal_1t_ms`): its time tracks the effective speed of one core. */
  def calibrateMs(): Double = {
    def work(iters: Long): Long = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0L
      while (i < iters) {
        x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; x ^= x >>> 29; i += 1
      }
      x
    }
    work(20000000L)
    val t0 = System.nanoTime()
    val sink = work(200000000L)
    val ms = (System.nanoTime() - t0) / 1e6
    if (sink == 42L) println("calibration sink")
    ms
  }

  def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case NonFatal(_) => -1.0 }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.out)
    val calMs = calibrateMs()
    val wl: Workload = a.workload match {
      case "scan_publish" => ScanPublish
      case "query_tabular" => Queries.Tabular
      case "query_llm" => Queries.Llm
      case "stream_stateful" => Streams
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // Set-up repeats until there are five rounds and the rounds after the
    // first add up to 3 s (at most 15 rounds): a short set-up is then
    // sampled more often. The runner reports the median. Every round
    // builds a fresh session and workload state after a full collection,
    // so no round pays for the garbage of the one before; the first also
    // pays the JVM's class loading.
    var spark: SparkSession = null
    var state: wl.State = null.asInstanceOf[wl.State]
    val setups = mutable.ArrayBuffer.empty[Double]
    while (setups.size < 5 || (setups.tail.sum < 3.0 && setups.size < 15)) {
      if (spark != null) { wl.teardown(state); spark.stop() }
      System.gc()
      val t0 = System.nanoTime()
      spark = session(a.threads, a.out)
      state = wl.setup(spark, a)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val out = new Outcome
    val trace = new Trace(spark)
    var exit = 0
    try {
      val t0 = System.nanoTime()
      wl.prepare(state, out)
      out.extra("prepare_s") = (System.nanoTime() - t0) / 1e9
      // The closed loop: one client, the next operation starts when the
      // previous one has ended. Passes repeat until the timed operations
      // add up to the run's seconds. A traced run records its layers on
      // pass 0, which is as cold as an untraced run's, then spends two
      // passes measuring its own overhead (see Trace.beforeOp).
      var p = 0
      var layerSamples = 0
      def timedS = out.ops.map(_.wallS).sum
      if (a.trace) trace.attach()
      trace.overheadPasses = a.trace
      while (p < (if (a.trace) 3 else 1) || timedS < a.seconds) {
        if (p >= 3) trace.detach()
        wl.pass(state, p, trace, out)
        if (p == 0) layerSamples = out.layerSamples.size
        p += 1
      }
      trace.detach()
      out.layerSamples.remove(layerSamples,
        out.layerSamples.size - layerSamples)
      out.extra("passes") = p
    } catch {
      case NonFatal(e) =>
        out.failures += s"run aborted: $e"
        e.printStackTrace()
        exit = 1
    } finally {
      try wl.teardown(state) catch { case NonFatal(e) => e.printStackTrace() }
      spark.stop()
    }
    if (a.trace) trace.writeSpans(a.out.resolve("spans.jsonl"))
    val result = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setups,
      "ops" -> out.ops.map(o => Map("kind" -> o.kind, "name" -> o.name,
        "pass" -> o.pass, "wall_s" -> o.wallS, "traced" -> o.traced,
        "ok" -> o.ok)),
      "failures" -> out.failures,
      "checks" -> out.checks,
      "checks_failed" -> out.checksFailed,
      "layers" -> Layers.summarize(out),
      "extra" -> out.extra,
      "context" -> Map("cal_1t_ms" -> calMs,
        "peak_rss_mb" -> peakRssMb(), "threads" -> a.threads))
    Files.write(a.out.resolve("result.json"),
      Json(result).getBytes("UTF-8"))
    sys.exit(exit)
  }
}
