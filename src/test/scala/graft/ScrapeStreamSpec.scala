package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.ScrapeStream

/** The parquet snapshot merge: partition-incremental publication, swap
  * recovery, and, end to end through [[Scan.start]], two rescans of a
  * tree whose state must show inserts, updates, and the vanished-key
  * tombstone after the second. */
class ScrapeStreamSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // each merge's scan instant: deterministic, one millisecond per batch
  private def at(batch: Long) = new Timestamp(1767225600000L + batch)

  test("merge touches only the scanned source's partition") {
    val state = Files.createTempDirectory("scrape_state_inc").toString
    def scanDF(src: String, file: String, m: Timestamp, size: Long) =
      Seq((src, "/d", file, Option("text/plain"), Option.empty[Timestamp], m, Option(size)))
        .toDF("external_source", "path", "filename", "mime_type",
          "created", "modified", "size")
    val t1 = ts("2026-01-01 10:00:00")
    val t2 = ts("2026-01-02 10:00:00")
    ScrapeStream.mergeBatch(spark, state, Seq("sA"))(
      scanDF("sA", "a.txt", t1, 1L), 0L, at(0))
    ScrapeStream.mergeBatch(spark, state, Seq("sB"))(
      scanDF("sB", "b.txt", t1, 2L), 1L, at(1))

    def snapshot(p: Path): Seq[(String, Long, Long)] = {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => (f.toString, Files.getLastModifiedTime(f).toMillis, Files.size(f)))
        .toSeq.sorted
    }
    val aDir = Paths.get(state, "external_source=sA")
    val before = snapshot(aDir)
    assert(before.nonEmpty)

    // a scan of sB must leave sA's partition files physically untouched
    ScrapeStream.mergeBatch(spark, state, Seq("sB"))(
      scanDF("sB", "b.txt", t2, 20L), 2L, at(2))
    assert(snapshot(aDir) == before)

    val rows = ScrapeStream.readState(spark, state)
      .collect().map(r => r.getString(3) -> r).toMap
    assert(rows("b.txt").getLong(7) == 20L) // sB merged
    assert(rows("a.txt").getLong(7) == 1L && rows("a.txt").isNullAt(8)) // sA intact
  }

  test("recoverSwaps restores an interrupted swap and drops completed leftovers") {
    val state = Files.createTempDirectory("scrape_state_rec").toString
    def scanDF(src: String, file: String) =
      Seq((src, "/d", file, Option("text/plain"), Option.empty[Timestamp],
        ts("2026-01-01 10:00:00"), Option(1L)))
        .toDF("external_source", "path", "filename", "mime_type",
          "created", "modified", "size")
    ScrapeStream.mergeBatch(spark, state, Seq("sA"))(scanDF("sA", "a.txt"), 0L, at(0))
    ScrapeStream.mergeBatch(spark, state, Seq("sB"))(scanDF("sB", "b.txt"), 1L, at(1))

    // crash between "old aside" and "new in": sA's live partition is gone,
    // its only copy sits under the holding dir
    val aDir = Paths.get(state, "external_source=sA")
    val hold9 = Paths.get(state, ".old-9", "external_source=sA")
    Files.createDirectories(hold9.getParent)
    Files.move(aDir, hold9)
    // crash after "new in" but before holding-dir cleanup: sB live AND an
    // obsolete holding copy both exist
    val hold8 = Paths.get(state, ".old-8", "external_source=sB")
    Files.createDirectories(hold8)
    Files.write(hold8.resolve("stale.parquet"), Array[Byte](1))
    // leftover staging dir from the interrupted batch
    Files.createDirectories(Paths.get(state + ".stage-9"))

    ScrapeStream.recoverSwaps(spark, state)

    assert(Files.exists(aDir)) // interrupted swap rolled back
    assert(!Files.exists(Paths.get(state, ".old-9")))
    assert(!Files.exists(Paths.get(state, ".old-8"))) // garbage dropped
    assert(!Files.exists(Paths.get(state + ".stage-9")))
    val rows = ScrapeStream.readState(spark, state)
      .collect().map(r => r.getString(3) -> r.getString(1)).toMap
    assert(rows == Map("a.txt" -> "sA", "b.txt" -> "sB"))
  }

  private def scanOf(src: String, files: String*) =
    files.map(f => (src, "/d", f, Option("text/plain"),
      Option.empty[Timestamp], ts("2026-01-01 10:00:00"), Option(1L)))
      .toDF("external_source", "path", "filename", "mime_type",
        "created", "modified", "size")

  test("a declared source whose rescan came back empty tombstones all its " +
      "live rows") {
    val state = Files.createTempDirectory("scrape_state_empty").toString
    ScrapeStream.mergeBatch(spark, state, Seq("sA"))(
      scanOf("sA", "a.txt", "b.txt"), 0L, at(0))
    ScrapeStream.mergeBatch(spark, state, Seq("sB"))(scanOf("sB", "c.txt"), 1L, at(1))
    ScrapeStream.mergeBatch(spark, state, scanned = Seq("sA"))(
      scanOf("sA"), 2L, at(2))
    val rows = ScrapeStream.readState(spark, state)
      .collect().map(r => r.getString(3) -> r).toMap
    assert(rows.keySet == Set("a.txt", "b.txt", "c.txt"))
    assert(!rows("a.txt").isNullAt(8) && !rows("b.txt").isNullAt(8),
      "the empty rescan of sA tombstones its rows")
    assert(rows("c.txt").isNullAt(8), "other sources stay untouched")
  }

  test("a file:-URI state dir is read through the Hadoop filesystem: a " +
      "file missing from the next scan is tombstoned, not lost") {
    val dir = Files.createTempDirectory("scrape_state_uri")
    val state = dir.toUri.toString.stripSuffix("/")
    assert(state.startsWith("file:"))
    ScrapeStream.mergeBatch(spark, state, Seq("sU"))(
      scanOf("sU", "a.txt", "b.txt"), 0L, at(0))
    ScrapeStream.mergeBatch(spark, state, Seq("sU"))(scanOf("sU", "b.txt"), 1L, at(1))
    val rows = ScrapeStream.readState(spark, state)
      .collect().map(r => r.getString(3) -> r).toMap
    assert(rows.keySet == Set("a.txt", "b.txt"), "a.txt must not be lost")
    assert(!rows("a.txt").isNullAt(8), "a.txt tombstoned")
    assert(rows("b.txt").isNullAt(8))
  }

  /** `body`'s result and every query it ran in the test session. A
    * sentinel query flushes the listener bus: its event is delivered
    * after every earlier one. */
  private def queriesDuring[A](body: => A): (A, Seq[QueryExecution]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.toString.contains("Range (7340033")) sentinel.countDown()
        else { seen.add(qe); () }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val r = body
      spark.range(7340033L, 7340034L).collect()
      assert(sentinel.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not flush")
      import scala.jdk.CollectionConverters._
      (r, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  test("the merge write is one join over one scan of the state partition") {
    val state = Files.createTempDirectory("scrape_state_shape").toString
    ScrapeStream.mergeBatch(spark, state, Seq("sS"))(
      scanOf("sS", "a.txt", "b.txt", "c.txt"), 0L, at(0))
    ScrapeStream.mergeBatch(spark, state, Seq("sT"))(scanOf("sT", "t.txt"), 1L, at(1))
    val churned = scanOf("sS", "b.txt", "d.txt")
      .unionByName(Seq(("sS", "/d", "c.txt", Option("text/plain"),
        Option.empty[Timestamp], ts("2026-01-02 10:00:00"), Option(9L)))
        .toDF(scanOf("sS").columns.toIndexedSeq: _*))
    val (counts, queries) = queriesDuring(
      ScrapeStream.mergeBatch(spark, state, Seq("sS"))(churned, 2L, at(2)))
    val writes = queries.map(_.executedPlan).filter(p => find(p) {
      case _: DataWritingCommandExec => true
      case _ => false
    }.isDefined)
    assert(writes.size == 1, s"one merge write: $writes")
    val plan = writes.head
    val joins = collect(plan) { case j: BaseJoinExec => j }
    val stateScans = collect(plan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(
            Paths.get(state).getFileName.toString)) => s
    }
    assert(joins.size == 1, s"one merge join:\n$plan")
    assert(stateScans.size == 1, s"one scan of the state:\n$plan")
    assert(counts == ScrapeStream.CycleCounts(inserted = 1L, updated = 1L,
      unchanged = 1L, deleted = 1L))
    val rows = ScrapeStream.readState(spark, state)
      .collect().map(r => r.getString(3) -> r).toMap
    assert(rows.keySet == Set("a.txt", "b.txt", "c.txt", "d.txt", "t.txt"))
    assert(!rows("a.txt").isNullAt(8) && rows("c.txt").getLong(7) == 9L)
  }

  test("two-batch incremental scrape: insert, update, tombstone") {
    val tree = Files.createTempDirectory("scrape_tree")
    val state = tree.toString + "_state"
    val checkpoint = tree.toString + "_checkpoint"
    // one rescan of the tree per run, resuming the run's checkpoint
    def rescan(): Unit = Scan.awaitRun(Seq(Scan.start(spark,
      Seq(tree.toString), Some("s1"), Scan.Out(state),
      Trigger.AvailableNow(), checkpoint)))

    Files.writeString(tree.resolve("a.txt"), "a")
    Files.writeString(tree.resolve("b.txt"), "bb")
    rescan()
    Files.delete(tree.resolve("a.txt"))                  // vanished
    Files.writeString(tree.resolve("b.txt"), "b" * 20)   // changed
    Files.writeString(tree.resolve("c.txt"), "ccc")      // new
    rescan()

    val rows = ScrapeStream.readState(spark, state)
      .collect().map(r => r.getString(3) -> r).toMap
    assert(rows.size == 3)
    // a.txt vanished in scan2 → tombstoned
    assert(rows("a.txt").getTimestamp(8) != null)
    // b.txt updated to scan2 metadata, alive
    assert(rows("b.txt").getLong(7) == 20L)
    assert(rows("b.txt").isNullAt(8))
    // c.txt inserted with generated uuid
    assert(rows("c.txt").getString(0).startsWith("gen_"))
    assert(rows("c.txt").isNullAt(8))
  }
}
