package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Skew

/** Scale-mechanism checks: salted joins/aggregations preserve semantics,
  * and bucketed tables co-locate joins (no shuffle exchange on either
  * side) — the storage-layout lever for repeated 100 TB joins. */
class ScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("no registered query plans a cartesian product") {
    // BroadcastNestedLoopJoin with a tiny broadcast build side is the
    // deliberate probe pattern; CartesianProduct (both sides shuffled,
    // |L|x|R| work) is always a planning accident at 100 TB.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, TestSpark.sf0001).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("partition-less windows only ever see aggregated rows") {
    // A WindowExec with no partitionSpec funnels its whole input through
    // ONE task — tolerable only over per-group totals (segment offsets,
    // bucket ranks) whose cardinality is fixed by construction, never
    // over raw table rows that grow with the data. Fence: beneath every
    // global WindowExec there must be an aggregate before any scan.
    // (That the aggregate's group count stays constant at 100 TB is the
    // formula-level bound proven in PipelineSpec/SelectionSpec — group
    // cardinality is invisible to a toy-scale plan.)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec

    // a frame is admissible below a partition-less window if it is
    // bounded by construction: an aggregate (group count is a data-size
    // cap the empirical WindowLint sweep verifies) or a LIMIT (a literal
    // constant — the top-k ranking pattern)
    def hasAggBelow(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => true
      case _: org.apache.spark.sql.execution.GlobalLimitExec => true
      case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
      case _: org.apache.spark.sql.execution.CollectLimitExec => true
      case a: AdaptiveSparkPlanExec => hasAggBelow(a.executedPlan)
      case other => other.children.exists(hasAggBelow)
    }
    def nakedGlobalWindows(p: SparkPlan): Seq[WindowExec] = {
      val self = p match {
        case w: WindowExec if w.partitionSpec.isEmpty && !hasAggBelow(w.child) =>
          Seq(w)
        case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => nakedGlobalWindows(a.executedPlan)
        case other => other.children.flatMap(nakedGlobalWindows)
      }
      self ++ kids
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val bad = nakedGlobalWindows(
          fn(spark, TestSpark.sf0001).queryExecution.executedPlan)
        if (bad.nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"partition-less WindowExec over un-aggregated rows in: $offenders")
  }

  test("hive-partitioned layout prunes partitions at the scan") {
    // write.partitionBy is the directory-layout lever: a predicate on the
    // partition column must resolve as a PartitionFilter (directory
    // pruning before any I/O), not a post-scan data filter
    val dir = java.nio.file.Files.createTempDirectory("part_layout")
    graft.Tables.documents(spark, TestSpark.sf001)
      .write.mode("overwrite").partitionBy("lang").parquet(dir.toString)
    val read = spark.read.parquet(dir.toString).filter(col("lang") === "de")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*lang[^\\]]*de[^\\]]*\\].*"),
      plan.linesIterator.take(12).mkString("\n"))
    val expected = graft.Tables.documents(spark, TestSpark.sf001)
      .filter(col("lang") === "de").count()
    assert(read.count() == expected)
  }

  test("size gates stay shut when a table path cannot be measured") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gate")
      .resolve("absent").toString
    assert(!Tables.belowOneSplit(spark, dir, "customer"))
    val df = spark.range(1000).toDF("id")
    assert(Tables.fanIfSmall(spark, dir, "customer", df, col("id")) eq df,
      "an unmeasurable table must not fan out")
  }

  test("salted join equals plain join") {
    val li = graft.Tables.lineitem(spark, TestSpark.sf0001)
      .select("l_orderkey", "l_quantity")
    val o = graft.Tables.orders(spark, TestSpark.sf0001)
      .select("o_orderkey", "o_orderstatus")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val plain = li.join(o, Seq("l_orderkey")).count()
    val salted = Skew.saltedJoin(li, o, Seq("l_orderkey"), 8).count()
    assert(plain == salted)
  }

  test("salted two-phase count equals plain group-by count") {
    val o = graft.Tables.orders(spark, TestSpark.sf0001)
    val plain = o.groupBy("o_orderstatus").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedCount(o, Seq("o_orderstatus"), 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(plain == salted)
  }

  test("bucketed tables join without a shuffle exchange") {
    // warehouse dir is a static conf — TestSpark points it at a temp dir
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      graft.Tables.lineitem(spark, TestSpark.sf0001)
        .select("l_orderkey", "l_quantity")
        .write.mode("overwrite").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("li_bucketed")
      graft.Tables.orders(spark, TestSpark.sf0001)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable("o_bucketed")

      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
      joined.count() // materialize (resolves AQE final plan)

      def shuffles(p: org.apache.spark.sql.execution.SparkPlan): Int = {
        val self = p match {
          case _: ShuffleExchangeExec => 1
          case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
          case _ => 0
        }
        self + p.children.map(shuffles).sum
      }
      assert(shuffles(joined.queryExecution.executedPlan) == 0,
        joined.queryExecution.executedPlan.toString)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
    }
  }

  test("scrape merge against a bucketed current side shuffles ONLY the scan") {
    // Scrape.scala's scale note claims the `current` side arrives
    // pre-partitioned (previous scan's output / bucketed storage) so a
    // rescan shuffles only the new listing. Prove it (VERDICT r8 #2):
    // store filesCurrent bucketed on the natural key and assert each
    // merge operator's plan drops EXACTLY ONE shuffle vs the unbucketed
    // run — the current side's — while producing identical results.
    // At 100 TB that is the difference between one and two full-corpus
    // exchanges per rescan cycle.
    import graft.operators.Scrape
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    def shuffles(p: org.apache.spark.sql.execution.SparkPlan): Int = {
      val self = p match {
        case _: ShuffleExchangeExec => 1
        case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
        case _ => 0
      }
      self + p.children.map(shuffles).sum
    }
    try {
      // Bucket on (path, filename): the fixture's external_source is a
      // single constant, so Catalyst folds its equality into per-side
      // filters and the JOIN keys that survive optimization are
      // (path, filename) — a bucket spec including the constant column
      // wouldn't satisfy the folded distribution. (A multi-source
      // production table buckets on all three; same mechanism.)
      Scrape.filesCurrent(spark, TestSpark.sf0001)
        .write.mode("overwrite")
        .bucketBy(8, "path", "filename")
        .sortBy("path", "filename")
        .saveAsTable("files_current_bucketed")
      val bucketed = spark.table("files_current_bucketed")
      val plain = Scrape.filesCurrent(spark, TestSpark.sf0001)
      val scan = Scrape.filesScan(spark, TestSpark.sf0001)
      // Force SMJ: at toy scale the current side broadcasts and the
      // exchange this test exists to count never plans at all.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

      def runBoth(name: String,
          op: (org.apache.spark.sql.DataFrame,
            org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame,
          sortCols: Seq[String]): Unit = {
        val b = op(bucketed, scan)
        val u = op(plain, scan)
        // executedPlan, not sparkPlan: exchanges are inserted by
        // EnsureRequirements during preparation (nothing executes here —
        // the AQE wrapper still holds its initial plan).
        val (nb, nu) = (shuffles(b.queryExecution.executedPlan),
          shuffles(u.queryExecution.executedPlan))
        assert(nb == nu - 1,
          s"$name: bucketed=$nb unbucketed=$nu — current side still shuffles\n" +
            b.queryExecution.executedPlan.toString)
        val sb = b.orderBy(sortCols.map(col): _*).collect().toSeq
        val su = u.orderBy(sortCols.map(col): _*).collect().toSeq
        assert(sb == su, s"$name: bucketed result differs")
      }
      runBoth("upsert", Scrape.upsertClassify, Seq("path", "filename"))
      runBoth("seen", Scrape.seenKeys, Seq("path", "filename"))
      runBoth("deletions",
        (c, n) => Scrape.deletions(c, n,
          lit("2026-01-15 00:00:00").cast("timestamp")),
        Seq("path", "filename"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS files_current_bucketed")
    }
  }

  test("bloom join reduction returns exactly the plain join's aggregate") {
    // false positives die in the real join, so the bloom probe is pure
    // shuffle reduction -- the result must be bit-identical to no-bloom
    val got = graft.operators.Skew.qJoinBloomReduce(spark, TestSpark.sf001)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    val dim = Tables.orders(spark, TestSpark.sf001)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate"))
    val plain = Tables.lineitem(spark, TestSpark.sf001)
      .select(col("l_orderkey"), col("l_extendedprice"))
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_items"),
        (sum(Tables.cents(col("l_extendedprice"))).cast("double") / 100)
          .as("revenue"))
      .orderBy("month")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == plain.toSeq)
  }
}
