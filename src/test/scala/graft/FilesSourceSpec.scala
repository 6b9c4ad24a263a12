package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.FilesSource

/** The DataSource V2 connector (`graft-files`) against a real temp tree:
  * row parity with a `Files.walk` expectation ([[ScanRows.walk]]), filter
  * pushdown (plan + semantics +
  * shard pruning), and `created`-column pruning (the stat-syscall
  * elision), observed via the test counter. */
class FilesSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** 20 top-level subdirs (→ ≥ 4×parallelism shards under local[4], so
    * the BFS stops at depth 1 and each subdir is its own partition),
    * nested files below some of them, plus root-level files that become
    * the early-rows partition. */
  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft_dsv2")
    Files.writeString(r.resolve("rootfile.txt"), "at the root")
    Files.writeString(r.resolve("noext"), "no extension")
    (0 until 20).foreach { i =>
      val d = Files.createDirectories(r.resolve(f"sub$i%02d"))
      Files.writeString(d.resolve(f"doc$i%02d.txt"), "x" * (i + 1))
      Files.writeString(d.resolve(f"data$i%02d.json"), "{}" * (i + 1))
    }
    val deep = Files.createDirectories(r.resolve("sub05/deeper/more"))
    Files.writeString(deep.resolve("leaf.csv"), "a,b,c")
    r
  }

  private def readV2 = spark.read.format("graft-files")
    .option("path", root.toString).option("identifier", "srcv2").load()

  test("row parity with FileListing over the same tree") {
    val v2 = ScanRows.of(readV2).toSet
    val walked = ScanRows.walk(root, "srcv2").toSet
    assert(v2 == walked)
    assert(v2.size == 43) // 2 root + 40 subdir + 1 deep
  }

  test("pushed filters are consumed exactly and show in the scan") {
    val df = readV2.filter(col("filename").endsWith(".txt") && col("size") >= 5L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("StringEndsWith(filename,.txt)"), plan)
    assert(plan.contains("GreaterThanOrEqual(size,5)"), plan)
    val got = df.select("filename").collect().map(_.getString(0)).toSet
    val exp = ScanRows.walk(root, "srcv2")
      .filter(f => f.filename.endsWith(".txt") && f.size >= 5L)
      .map(_.filename).toSet
    assert(got == exp && got.nonEmpty)
  }

  test("path-prefix pushdown prunes shards before listing") {
    val all = readV2
    val prefix = root.toString + "/sub05"
    val pruned = readV2.filter(col("path").startsWith(prefix))
    // shard pruning is visible as fewer input partitions: only the
    // sub05 subtree (plus the early-rows partition) survives planning
    assert(pruned.rdd.getNumPartitions < all.rdd.getNumPartitions)
    val got = pruned.select("filename").collect().map(_.getString(0)).toSet
    assert(got == Set("doc05.txt", "data05.json", "leaf.csv"))
  }

  test("exact-dir isin pushdown prunes shards, early rows, and stat calls") {
    val d5 = root.toString + "/sub05"
    val d7 = root.toString + "/sub07"
    val pruned = readV2.filter(col("path").isin(d5, d7))
    assert(pruned.rdd.getNumPartitions < readV2.rdd.getNumPartitions)
    val got = pruned.select("filename").collect().map(_.getString(0)).toSet
    // exact dirs match their OWN files only — sub05's deeper subtree has
    // a different path value and is filtered inside the shard
    assert(got == Set("doc05.txt", "data05.json", "doc07.txt", "data07.json"))
    // the early-rows partition (root files) matches no named dir, and
    // non-matching rows are dropped BEFORE the created stat
    FilesSource.createdStatCalls.set(0L)
    readV2.filter(col("path").isin(d5)).select("created").collect()
    assert(FilesSource.createdStatCalls.get() == 2L)
  }

  test("SupportsRuntimeFiltering: a runtime path filter prunes shards") {
    import org.apache.spark.sql.connector.read.{Batch, SupportsRuntimeFiltering}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.sources.In
    val batch = readV2.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.get
    val scan = batch.scan
    assert(scan.isInstanceOf[SupportsRuntimeFiltering])
    val rf = scan.asInstanceOf[SupportsRuntimeFiltering]
    assert(rf.filterAttributes().map(_.describe()).toSeq == Seq("path"))
    val before = scan.asInstanceOf[Batch].planInputPartitions().length
    rf.filter(Array[org.apache.spark.sql.sources.Filter](
      In("path", Array(root.toString + "/sub03"))))
    val after = scan.asInstanceOf[Batch].planInputPartitions().length
    assert(after < before && after == 1,
      s"runtime dir filter should leave one shard, had $before now $after")
  }

  test("dynamic pruning join: only the joined dirs are listed") {
    import spark.implicits._
    // the "rescan only the directories this batch names" shape: a small
    // changed-dirs frame joined against the listing on `path`
    val changed = Seq(root.toString + "/sub04", root.toString + "/sub09")
      .toDF("dir")
    val joined = readV2.join(changed, col("path") === col("dir"))
    val got = joined.select("filename").collect().map(_.getString(0)).toSet
    assert(got == Set("doc04.txt", "data04.json", "doc09.txt", "data09.json"))
    // whether Spark injected the runtime filter is environment-dependent
    // (DPP heuristics); the CONTRACT is covered by the test above — here
    // we only require correctness of the join result either way
  }

  test("created-column pruning elides the per-file stat syscall") {
    FilesSource.createdStatCalls.set(0L)
    readV2.select("path", "filename", "size", "modified").collect()
    assert(FilesSource.createdStatCalls.get() == 0L)
    val withCreated = readV2.select("filename", "created").collect()
    // every shard row stats exactly once; early rows were captured at
    // planning time and never re-stat
    assert(FilesSource.createdStatCalls.get() == 41L)
    assert(withCreated.forall(_.getTimestamp(1) != null))
  }

  test("SupportsReportStatistics: exact row counts reach the optimizer") {
    // unfiltered: all 43 files, exact (tree ≪ the 10⁴ stats budget)
    val stats = readV2.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(43)), stats.toString)
    // stats are computed AFTER pushdown, so a pushed filename filter
    // shrinks the reported count to the surviving rows
    val filtered = readV2.filter(col("filename").endsWith(".txt"))
    assert(filtered.queryExecution.optimizedPlan.stats.rowCount
      .contains(BigInt(21)))
  }

  /** A probe side whose OWN size estimate clears the broadcast
    * threshold (3M rows × ~20 B ≫ 10 MB), so any planned broadcast can
    * only come from the listing's reported statistics. */
  private def bigProbe = spark.range(0, 3000000).selectExpr(
    "concat('doc', lpad(cast(id % 100 as string), 2, '0'), '.txt') AS filename",
    "id AS payload")

  test("a small listing joins as broadcast WITHOUT a hint (reported stats)") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val joined = bigProbe.join(readV2.select("filename", "size"), Seq("filename"))
    val plan = joined.queryExecution.sparkPlan
    assert(plan.collectFirst { case b: BroadcastHashJoinExec => b }.nonEmpty,
      s"reported stats should pick broadcast for the 43-row listing:\n$plan")
    assert(plan.collectFirst { case s: SortMergeJoinExec => s }.isEmpty)
  }

  test("an over-budget listing reports UNKNOWN, never an underestimate") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // statsBudget=5 < 41 shard files: the walk aborts and the connector
    // must refuse to guess — the planner falls back to the conservative
    // default size, so no blind broadcast of a possibly-huge listing
    val capped = spark.read.format("graft-files")
      .option("path", root.toString).option("identifier", "srcv2")
      .option("statsBudget", "5").load()
    val stats = capped.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.isEmpty, stats.toString)
    val joined = bigProbe.join(capped.select("filename", "size"), Seq("filename"))
    assert(joined.queryExecution.sparkPlan
      .collectFirst { case b: BroadcastHashJoinExec => b }.isEmpty,
      "unknown stats must not plan a planning-time broadcast")
  }

  test("limit pushdown stops listing work, not just row output") {
    // one shard (prefix-pruned to sub05's subtree = 3 files) + limit 2:
    // the reader must stop BEFORE statting the third file
    FilesSource.createdStatCalls.set(0L)
    val rows = readV2
      .filter(col("path").startsWith(root.toString + "/sub05"))
      .select("filename", "created")
      .limit(2).collect()
    assert(rows.length == 2)
    assert(FilesSource.createdStatCalls.get() <= 2L,
      s"limit should cap stat calls at 2, saw ${FilesSource.createdStatCalls.get()}")
    // and the global-limit semantics stay exact across many shards
    assert(readV2.limit(5).count() == 5L)
    assert(readV2.limit(1000).count() == 43L)
  }

  test("pure-SQL surface: CREATE TABLE USING graft-files, pushdown intact") {
    spark.sql("DROP TABLE IF EXISTS files_sql_t")
    spark.sql(s"""CREATE TABLE files_sql_t USING `graft-files`
      OPTIONS (path '${root.toString}', identifier 'sql-src')""")
    try {
      val df = spark.sql(
        "SELECT path, filename, size FROM files_sql_t WHERE filename LIKE '%.txt'")
      // Catalyst turns the leading-% LIKE into EndsWith, which the
      // connector consumes — visible in the scan, absent as a residual
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("StringEndsWith(filename,.txt)"), plan)
      assert(df.count() == 21)
      assert(spark.sql("SELECT count(*) FROM files_sql_t").collect()(0).getLong(0) == 43)
      val src = spark.sql("SELECT DISTINCT external_source FROM files_sql_t")
        .collect().map(_.getString(0)).toSeq
      assert(src == Seq("sql-src"))
    } finally spark.sql("DROP TABLE IF EXISTS files_sql_t")
  }

  test("aggregate pushdown: COUNT/SUM/MIN/MAX collapse to one partial row per shard") {
    val agged = readV2.agg(
      count(lit(1)).as("n"), sum("size").as("total"),
      min("size").as("smin"), max("size").as("smax"),
      min("modified").as("mmin"), max("modified").as("mmax"))
    val plan = agged.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation=[count, sum:size, min:size," +
      " max:size, min:modified, max:modified]"), plan)
    val r = agged.collect()(0)
    // ground truth from the platform's own walk of the tree
    val walked = ScanRows.walk(root, "srcv2")
    assert(r.getLong(0) == walked.length.toLong)
    assert(r.getLong(1) == walked.map(_.size).sum)
    assert(r.getLong(2) == walked.map(_.size).min)
    assert(r.getLong(3) == walked.map(_.size).max)
    assert(r.getTimestamp(4) == walked.map(_.modified).minBy(_.getTime))
    assert(r.getTimestamp(5) == walked.map(_.modified).maxBy(_.getTime))
  }

  test("aggregate pushdown composes with pushed filters and skips all stats") {
    FilesSource.createdStatCalls.set(0L)
    val agged = readV2.filter(col("filename").endsWith(".json"))
      .agg(count(lit(1)).as("n"), sum("size").as("total"))
    assert(agged.queryExecution.executedPlan.toString
      .contains("PushedAggregation=[count, sum:size]"))
    val r = agged.collect()(0)
    val walked = ScanRows.walk(root, "srcv2").filter(_.filename.endsWith(".json"))
    assert(r.getLong(0) == walked.length.toLong &&
      r.getLong(1) == walked.map(_.size).sum)
    assert(FilesSource.createdStatCalls.get() == 0L,
      "aggregated scan must never take the created stat")
  }

  test("unsupported aggregates fall back to the row scan, still correct") {
    // count(DISTINCT mime_type) and avg are not pushable — plan must NOT
    // claim a pushed aggregation and results must match the plain path
    val agged = readV2.agg(countDistinct("mime_type").as("n"))
    assert(!agged.queryExecution.executedPlan.toString
      .contains("PushedAggregation"))
    val exp = ScanRows.walk(root, "srcv2").flatMap(_.mime_type).distinct.length
    assert(agged.collect()(0).getLong(0) == exp.toLong)
    val grouped = readV2.groupBy("path").agg(count(lit(1)).as("n"))
    assert(!grouped.queryExecution.executedPlan.toString
      .contains("PushedAggregation"))
    assert(grouped.collect().map(_.getLong(1)).sum == 43L)
  }

  test("conf rotation retires the superseded broadcast deterministically " +
      "(VERDICT r19 next#2): same conf → same handle; rotated conf → new " +
      "handle carrying the new value, old handle destroy()ed") {
    val scan = new graft.sources.v2.FilesScan(root.toString, "srcv2",
      Map.empty, FilesSource.SCHEMA, Array.empty, 100000L)
    val hconf = spark.sparkContext.hadoopConfiguration
    val key = "graft.test.rotated.credential"
    try {
      hconf.set(key, "v1")
      val b1 = scan.currentConfBroadcast()
      // unchanged conf: the SAME broadcast comes back (no per-trigger
      // churn), still usable
      assert(scan.currentConfBroadcast() eq b1)
      assert(b1.value.contains(key -> "v1"))
      // first rotation: new handle with the new value; the superseded
      // one is destroyed (value access throws), not left to the
      // ContextCleaner
      hconf.set(key, "v2")
      val b2 = scan.currentConfBroadcast()
      assert(b2 ne b1)
      assert(b2.value.contains(key -> "v2"))
      assert(intercept[org.apache.spark.SparkException](b1.value)
        .getMessage.toLowerCase.contains("destroy"))
      // second rotation: same contract, proving retirement isn't
      // first-rotation-only
      hconf.set(key, "v3")
      val b3 = scan.currentConfBroadcast()
      assert((b3 ne b2) && b3.value.contains(key -> "v3"))
      assert(intercept[org.apache.spark.SparkException](b2.value)
        .getMessage.toLowerCase.contains("destroy"))
      assert(scan.currentConfBroadcast() eq b3)
    } finally hconf.unset(key)
  }

  test("pushed filters also gate the stat: only survivors pay it") {
    FilesSource.createdStatCalls.set(0L)
    val rows = readV2.filter(col("filename").endsWith(".csv"))
      .select("filename", "created").collect()
    assert(rows.length == 1)
    assert(FilesSource.createdStatCalls.get() == 1L)
    // and count() prunes even `created` away — zero stats for a bare count
    FilesSource.createdStatCalls.set(0L)
    assert(readV2.count() == 43L)
    assert(FilesSource.createdStatCalls.get() == 0L)
  }
}
