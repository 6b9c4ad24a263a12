package graft.dev

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.window.WindowExec

/** Regression fence for the r6 `q_pack_sequences` scale bug: a
  * partition-less `WindowExec` (`Window.orderBy` with no partitionBy)
  * funnels its whole input through ONE task, so it is only admissible
  * over a frame bounded by a CONSTANT regardless of corpus size — a
  * per-segment/bucket totals frame (segment count capped by
  * construction), a top-k limit, never raw data.
  *
  * Static plan shape can't prove boundedness (an aggregate's group count
  * is a data property), so the fence is empirical: execute the plan, then
  * count each partition-less window's CHILD RDD (a window emits one row
  * per input row, so child rows = rows through the single task; WindowExec
  * itself publishes no row-count metric — a first cut read
  * `metrics("numOutputRows")` and was vacuously green at 0). Any count
  * above the cap means the frame scales with the data — exactly what the
  * r6 flag caught — and the lint fails the query.
  *
  * `main` sweeps every registered query at the given SF (default sf0.1,
  * the largest fixture; cap 8192 — comfortably above every by-construction
  * bound in the library: ≤4097 pack segments, ≤1000 zipf terms, ≤256
  * rank buckets) and exits 1 on any violation. WindowLintSpec drives the
  * same collector against a deliberately unbounded plan to prove the
  * fence actually fires.
  */
object WindowLint {

  /** Rows through each partition-less WindowExec of `df`'s plan,
    * measured by executing the physical plan AS BUILT (a `df.count()`
    * would let column pruning delete the very window under audit). */
  def partitionlessWindowRows(df: DataFrame): Seq[Long] = {
    val qe = df.queryExecution
    qe.executedPlan.execute().count() // force full execution: finalizes AQE stages
    // Re-walk AFTER execution so AQE's final stages are visible, then count
    // each window's input frame. The child re-executes from the nearest
    // materialized shuffle — cheap at lint scale, and exact.
    collectWindows(qe.executedPlan).map(_.child.execute().count())
  }

  private def collectWindows(p: SparkPlan): Seq[WindowExec] = {
    val here = p match {
      case w: WindowExec if w.windowExpression.nonEmpty && w.partitionSpec.isEmpty => Seq(w)
      case _ => Nil
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children
    }
    here ++ kids.flatMap(collectWindows)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cap = if (args.length > 1) args(1).toLong else 8192L
    val spark = graft.Sessions.local("window-lint", graft.Sessions.width)
    spark.sparkContext.setLogLevel("ERROR")
    var violations = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val rows = partitionlessWindowRows(fn(spark, sfDir))
        val bad = rows.filter(_ > cap)
        if (bad.nonEmpty) {
          violations += 1
          println(s"FAIL $name: partition-less window over ${bad.max} rows (cap $cap)")
        } else if (rows.nonEmpty) {
          println(s"ok   $name: partition-less windows ${rows.mkString(",")} rows")
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          violations += 1
          println(s"FAIL $name: ${e.getMessage}")
      }
      spark.sharedState.cacheManager.clearCache()
    }
    println(if (violations == 0) "0 violations" else s"$violations violations")
    spark.stop()
    if (violations > 0) sys.exit(1)
  }
}
