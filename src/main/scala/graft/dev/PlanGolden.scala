package graft.dev

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}

/** Plan-regression golden snapshot (VERDICT r8 #3): per registered query,
  * the count of shuffle exchanges / broadcast exchanges / sorts in the
  * STATIC physical plan at sf0.001 under the test session's config. The
  * golden file locks in the r7/r8 plan-shape wins (seen-set collapse,
  * basket fusion, scan-cycle fusion) — [[graft.PlanGoldenSpec]] fails if
  * any query's exchange count grows (a regression) OR shrinks (an
  * improvement that must be re-snapshotted), so the file can never drift
  * from the code.
  *
  * Regenerate with: `sbt "runMain graft.dev.PlanGolden"` (writes
  * src/test/resources/plan_golden.tsv).
  *
  * The snapshot uses `queryExecution.sparkPlan` (pre-AQE): AQE's runtime
  * re-planning (broadcast conversion, skew splitting) is deliberately
  * outside the gate — the gate pins what the STATIC planner asks for,
  * which is what survives a 100× scale-up where AQE's choices change
  * with the data.
  */
object PlanGolden {

  val goldenPath = "src/test/resources/plan_golden.tsv"

  /** The test session's width: fan-out widths follow it, so the file is
    * taken at the width [[graft.PlanGoldenSpec]] checks it at. */
  val width = 4

  /** (shuffle exchanges, broadcast exchanges, sorts) of the static
    * physical plan — `executedPlan` BEFORE any job runs, i.e. after
    * EnsureRequirements has inserted the exchanges (`sparkPlan` is the
    * raw strategy output and carries none), recursing through the
    * un-executed AdaptiveSparkPlanExec wrapper to its initial plan.
    * Note plan CONSTRUCTION itself runs jobs for the size-adaptive
    * queries (clustersOf's cache+count, the kmeans collect) — that is
    * part of the query's fixed shape and is fine at sf0.001. */
  def metricsOf(df: DataFrame): (Int, Int, Int) = {
    def walk(p: SparkPlan): (Int, Int, Int) = {
      val self = p match {
        case _: ShuffleExchangeExec => (1, 0, 0)
        case _: BroadcastExchangeExec => (0, 1, 0)
        case _: SortExec => (0, 0, 1)
        case _ => (0, 0, 0)
      }
      val kids = (p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case other => other.children
      }).map(walk)
      kids.foldLeft(self) { case ((a, b, c), (x, y, z)) =>
        (a + x, b + y, c + z)
      }
    }
    walk(df.queryExecution.executedPlan)
  }

  def snapshot(spark: SparkSession, dir: String): Seq[(String, (Int, Int, Int))] =
    graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val m = metricsOf(fn(spark, dir))
      spark.sharedState.cacheManager.clearCache()
      name -> m
    }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Sessions.local("plan-golden", width)
    spark.sparkContext.setLogLevel("ERROR")
    val lines = snapshot(spark, dir).map { case (n, (sh, bc, so)) =>
      s"$n\t$sh\t$bc\t$so"
    }
    Files.createDirectories(Paths.get(goldenPath).getParent)
    Files.writeString(Paths.get(goldenPath),
      "# query\tshuffle_exchanges\tbroadcast_exchanges\tsorts\n" +
        lines.mkString("", "\n", "\n"))
    println(s"[plan-golden] wrote ${lines.size} rows to $goldenPath")
    spark.stop()
  }
}
