package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Plan-regression gate (VERDICT r8 #3): every registered query's static
  * physical plan is pinned to the golden operator counts in
  * `src/test/resources/plan_golden.tsv`. A change that adds a shuffle,
  * broadcast, or sort to ANY query fails here — locking in the r7/r8
  * plan wins (seen-set collapse to one join, basket fusion, scan-cycle
  * fusion). A shrink fails too, with a regen instruction, so the golden
  * never drifts stale. Regenerate: `sbt "runMain graft.dev.PlanGolden"`. */
class PlanGoldenSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("no query's static plan gained a shuffle/broadcast/sort vs golden") {
    assert(spark.sparkContext.defaultParallelism == graft.dev.PlanGolden.width,
      "the golden file is taken at the test session's width")
    val path = java.nio.file.Paths.get(graft.dev.PlanGolden.goldenPath)
    assert(java.nio.file.Files.exists(path),
      s"golden file missing — run: sbt \"runMain graft.dev.PlanGolden\"")
    val golden = java.nio.file.Files.readAllLines(path).asScala
      .filterNot(l => l.startsWith("#") || l.isBlank)
      .map { l =>
        val Array(n, sh, bc, so) = l.split("\t")
        n -> ((sh.toInt, bc.toInt, so.toInt))
      }.toMap

    val missing = SparkEntry.queries.keySet -- golden.keySet
    assert(missing.isEmpty,
      s"queries not in golden (regenerate it): ${missing.toSeq.sorted}")

    val diffs = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val got = graft.dev.PlanGolden.metricsOf(fn(spark, TestSpark.sf0001))
      spark.sharedState.cacheManager.clearCache()
      val want = golden(name)
      if (got != want) {
        val kind =
          if (got._1 > want._1 || got._2 > want._2 || got._3 > want._3)
            "REGRESSION"
          else "improvement — regenerate golden"
        diffs += s"$name: golden(sh,bc,so)=$want got=$got [$kind]"
      }
    }
    assert(diffs.isEmpty, "plan drift:\n" + diffs.mkString("\n"))
  }
}
