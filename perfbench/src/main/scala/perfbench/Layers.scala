package perfbench

import scala.util.control.NonFatal

/** Timing of operations and the per-layer metrics of the traced run.
  *
  * Unless noted, a value is the mean per traced operation (per cycle, per
  * query or per stream op). A metric a workload's layers never record is
  * left out here; `run.py` reports it as 0. Keys starting with `_` are
  * inputs to the ratios, not metrics. */
object Layers {
  /** Run one timed operation of the closed loop. A failure is recorded
    * and the loop goes on. Returns the result, the traced counters and
    * the wall time in seconds. */
  def timed[A](out: Outcome, tr: Trace, kind: String, name: String,
      pass: Int)(body: => A): Option[(A, Option[OpCounters], Double)] = {
    val request = s"$kind:$name:$pass"
    tr.beforeOp(pass)
    val t0 = System.nanoTime()
    try {
      val (v, c) = tr.op(request)(body)
      val wall = (System.nanoTime() - t0) / 1e9
      out.ops += OpRecord(kind, name, pass, wall, c.isDefined, ok = true)
      Some((v, c, wall))
    } catch {
      case NonFatal(e) =>
        val wall = (System.nanoTime() - t0) / 1e9
        out.ops += OpRecord(kind, name, pass, wall, tr.isActive, ok = false)
        out.failures += s"$kind $name failed: $e"
        None
    }
  }

  /** Spark executor and planning figures of one traced operation. */
  def exec(c: OpCounters, wall: Double): Map[String, Double] = {
    val gap = math.max(0.0, wall - c.jobUnionS)
    Map("plans.plan_s" -> c.planS, "exec.jobs" -> c.jobs.toDouble,
      "exec.tasks" -> c.tasks.toDouble, "exec.driver_gap_s" -> gap,
      "exec.task_run_s" -> c.taskRunS, "exec.task_cpu_s" -> c.taskCpuS,
      "exec.gc_s" -> c.gcS,
      "exec.shuffle_write_mb" -> c.shuffleWriteBytes / 1048576.0,
      "exec.shuffle_fetch_wait_s" -> c.shuffleFetchWaitS,
      "exec.spill_mb" -> c.spillBytes / 1048576.0,
      "exec.scan_read_mb" -> c.scanReadBytes / 1048576.0,
      "_wall" -> wall)
  }

  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  /** Where one operation's wall time went: the driver's gap (planning
    * runs inside it, on the driver, while no job runs), planning alone,
    * and executor task time, each as a share of the wall. */
  def split(s: Map[String, Double]): Map[String, Double] = {
    val wall = s.getOrElse("_wall", 0.0)
    Map("exec.plan_gap_share" -> ratio(s("exec.driver_gap_s"), wall),
      "plans.plan_share" -> ratio(s("plans.plan_s"), wall),
      "exec.task_run_per_wall" -> ratio(s("exec.task_run_s"), wall))
  }

  def summarize(out: Outcome): Map[String, Double] = {
    val ss = out.layerSamples.toSeq
    def sum(k: String): Double = ss.map(_.getOrElse(k, 0.0)).sum
    def mean(k: String): Double = ratio(sum(k), ss.size.toDouble)
    // overhead: traced against untraced wall of the same operations, on
    // the two passes that alternate them (Trace.beforeOp)
    val walls = out.ops.filter(o => o.ok && (o.pass == 1 || o.pass == 2))
      .groupBy(o => (o.kind, o.name))
    val pairs = walls.values.flatMap { os =>
      val (t, u) = os.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some((Main.median(t.map(_.wallS).toSeq),
        Main.median(u.map(_.wallS).toSeq)))
    }
    val overhead = ratio(pairs.map(_._1).sum, pairs.map(_._2).sum) -
      (if (pairs.isEmpty) 0.0 else 1.0)
    val means = ss.flatMap(_.keys).distinct.filterNot(_.startsWith("_"))
      .map(n => n -> mean(n)).toMap
    means ++ Map(
      "pgmerge.update_useful_ratio" ->
        ratio(sum("_useful"), sum("pgmerge.rows_updated")),
      "pgmerge.wal_bytes_per_row" -> ratio(sum("_wal_bytes"),
        sum("pgmerge.rows_inserted") + sum("pgmerge.rows_updated")),
      "exec.plan_gap_share" -> ratio(sum("exec.driver_gap_s"), sum("_wall")),
      "plans.plan_share" -> ratio(sum("plans.plan_s"), sum("_wall")),
      "exec.task_run_per_wall" -> ratio(sum("exec.task_run_s"), sum("_wall")),
      "streaming.state_rows_peak" ->
        ss.map(_.getOrElse("streaming.state_rows_peak", 0.0))
          .foldLeft(0.0)(math.max),
      "trace.overhead_ratio" -> overhead)
  }
}
