package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.ScrapeStream

/** The graft-files streaming source: one micro-batch = one complete
  * rescan, driving the full live scrape loop (list → merge → tombstone)
  * against a real mutating directory tree — the reference's daemon
  * (`main.rs:64-96`), run through `graft.Main`'s `--out` sink, end-to-end
  * with no intermediate scan files. */
class StreamFilesLiveSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** One `graft.Main` scan cycle of `paths` into the `--out` state. */
  private def scanCycle(id: String, state: String, paths: String*): Unit =
    Main.main((Seq("-i", id) ++ paths ++ Seq("--out", state)).toArray)

  test("streaming rescan batch equals the batch listing") {
    val root = Files.createTempDirectory("graft_stream_src")
    Files.writeString(root.resolve("x.txt"), "xx")
    val sub = Files.createDirectories(root.resolve("s"))
    Files.writeString(sub.resolve("y.json"), "{}")

    val q = spark.readStream.format("graft-files")
      .option("path", root.toString).option("identifier", "ssrc").load()
      .writeStream.format("memory").queryName("files_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val streamed = spark.table("files_stream")
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(6))).toSet
    val batch = spark.read.format("graft-files")
      .option("path", root.toString).option("identifier", "ssrc").load()
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(6))).toSet
    assert(streamed == batch && streamed.size == 2)
  }

  test("live scrape loop: rescans merge inserts, updates, tombstones") {
    val root = Files.createTempDirectory("graft_live_tree")
    val a = Files.createDirectories(root.resolve("a"))
    val b = Files.createDirectories(root.resolve("b"))
    Files.writeString(a.resolve("f1.txt"), "one")
    Files.writeString(a.resolve("f2.json"), "{}")
    Files.writeString(b.resolve("f3.txt"), "three")
    val state = Files.createTempDirectory("graft_live_state").toString
    val _ = spark // materialize the shared session so Main reuses it

    scanCycle("livesrc", state, root.toString)
    val s1 = ScrapeStream.readState(spark, state).collect()
      .map(r => r.getString(3) -> r).toMap
    assert(s1.keySet == Set("f1.txt", "f2.json", "f3.txt"))
    assert(s1.values.forall(_.isNullAt(8))) // nothing tombstoned
    val f1Uuid = s1("f1.txt").getString(0)
    val f1ModBefore = s1("f1.txt").getTimestamp(6)

    // mutate the tree: delete f2, add f4, touch f1 forward
    Files.delete(a.resolve("f2.json"))
    Files.writeString(b.resolve("f4.csv"), "a,b")
    Files.writeString(a.resolve("f1.txt"), "one-changed")
    Files.setLastModifiedTime(a.resolve("f1.txt"),
      FileTime.fromMillis(f1ModBefore.getTime + 60000))

    scanCycle("livesrc", state, root.toString)
    val s2 = ScrapeStream.readState(spark, state).collect()
      .map(r => r.getString(3) -> r).toMap
    assert(s2.keySet == Set("f1.txt", "f2.json", "f3.txt", "f4.csv"))
    // vanished key tombstoned by the rescan
    assert(!s2("f2.json").isNullAt(8))
    // new file inserted live
    assert(s2("f4.csv").isNullAt(8) && s2("f4.csv").getLong(7) == 3L)
    // changed file updated in place, identity stable across rescans
    assert(s2("f1.txt").getTimestamp(6).getTime == f1ModBefore.getTime + 60000)
    assert(s2("f1.txt").getString(0) == f1Uuid)
    // untouched file survives unmodified
    assert(s2("f3.txt").isNullAt(8))
  }

  test("two PATHs under one -i are one complete scan: both trees stay live") {
    val a = Files.createTempDirectory("graft_two_a")
    val b = Files.createTempDirectory("graft_two_b")
    Files.writeString(a.resolve("a1.txt"), "a")
    Files.writeString(a.resolve("a2.txt"), "aa")
    Files.writeString(b.resolve("b1.txt"), "b")
    val state = Files.createTempDirectory("graft_two_state").toString
    val _ = spark
    scanCycle("twosrc", state, a.toString, b.toString)
    val rows = ScrapeStream.readState(spark, state).collect()
      .map(r => r.getString(3) -> r).toMap
    assert(rows.keySet == Set("a1.txt", "a2.txt", "b1.txt"))
    assert(rows.values.forall(_.isNullAt(8)),
      s"tombstoned: ${rows.filterNot(_._2.isNullAt(8)).keySet}")
    assert(rows.values.forall(_.getString(1) == "twosrc"))
  }

  test("repeated and nested PATHs under one -i keep one row per file") {
    val tree = Files.createTempDirectory("graft_dup_tree")
    val sub = Files.createDirectories(tree.resolve("sub"))
    Files.writeString(tree.resolve("t.txt"), "t")
    Files.writeString(sub.resolve("s.txt"), "s")
    val state = Files.createTempDirectory("graft_dup_state").toString
    val _ = spark
    for (_ <- 1 to 2)
      scanCycle("dupsrc", state, tree.toString, tree.toString, sub.toString)
    val names = ScrapeStream.readState(spark, state).collect()
      .map(_.getString(3)).sorted.toSeq
    assert(names == Seq("s.txt", "t.txt"), "one row per file, every cycle")
  }
}
