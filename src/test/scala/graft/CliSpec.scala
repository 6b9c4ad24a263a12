package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The `query` CLI subcommand: registered queries are runnable by name
  * with parquet output (the analytics analog of the scrape CLI path). */
class CliSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  // what an address without credentials resolves to
  private val envUser =
    sys.env.get("PGUSER").filter(_.nonEmpty).getOrElse("postgres")
  private val envPassword = sys.env.get("PGPASSWORD").filter(_.nonEmpty)

  test("query subcommand writes a registered query's result to parquet") {
    val _ = spark // materialize the shared session so Main reuses it
    val out = Files.createTempDirectory("cli_q").toString
    Main.main(Array("query", "q1_agg", TestSpark.sf0001, "--out", out))
    val rows = spark.read.parquet(out)
    assert(rows.count() > 0)
    assert(rows.columns.contains("sum_qty"))
  }

  test("Sql.attach exposes tables and kernels to pure spark.sql") {
    Sql.attach(spark, TestSpark.sf0001)
    val r = spark.sql(
      """SELECT count(*) AS n,
        |  max(size(shingles(text, 3))) AS max_shingles,
        |  max(size(minhash_signature(shingles3(text)))) AS sig_len
        |FROM documents""".stripMargin).collect()(0)
    assert(r.getLong(0) > 0)
    assert(r.getInt(1) > 0)
    assert(r.getInt(2) == 64)
    // events view carries the ns->micros conversion
    val ts = spark.sql("SELECT min(ts) FROM events").collect()(0)
    assert(ts.getTimestamp(0) != null)
    // SQL UDFs (CREATE FUNCTION ... RETURN) inline into the plan
    val u = spark.sql(
      "SELECT tok_count('a b  c') AS tc, cents(12.345) AS c").collect()(0)
    assert(u.getInt(0) == 3 && u.getLong(1) == 1235L)
    val agg = spark.sql(
      "SELECT sum(cents(o_totalprice)) FROM orders").collect()(0)
    assert(agg.getLong(0) > 0L)
  }

  test("scan CLI merges a tree into parquet state through the V2 connector") {
    val _ = spark
    val tree = Files.createTempDirectory("cli_scan")
    Files.writeString(tree.resolve("a.txt"), "alpha")
    Files.writeString(tree.resolve("b.json"), "{}")
    val sub = Files.createDirectories(tree.resolve("nested"))
    Files.writeString(sub.resolve("c.csv"), "1,2")
    val out = Files.createTempDirectory("cli_scan_out").toString
    Main.main(Array("-i", "cli-e2e", tree.toString, "--out", out))
    val state = spark.read.parquet(out)
    assert(state.count() == 3)
    assert(state.select("external_source").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("cli-e2e"))
    assert(state.columns.toSet.contains("mime_type"))
  }

  test("the CLI's connector read prunes listing work under a filename filter") {
    import org.apache.spark.sql.functions.col
    val tree = Files.createTempDirectory("cli_prune")
    (0 until 6).foreach(i => Files.writeString(tree.resolve(s"f$i.txt"), "x"))
    (0 until 6).foreach(i => Files.writeString(tree.resolve(s"g$i.log"), "y"))
    // exactly the read Main now issues, plus the filter a user would add:
    // the filename predicate pushes into the listing task and the absent
    // `created` column elides the per-file extra stat — zero counter hits
    graft.sources.v2.FilesSource.createdStatCalls.set(0L)
    val got = spark.read.format("graft-files").option("path", tree.toString)
      .load()
      .filter(col("filename").endsWith(".txt"))
      .select("path", "filename", "size")
      .collect()
    assert(got.length == 6)
    assert(graft.sources.v2.FilesSource.createdStatCalls.get() == 0L)
  }

  test("query --explain prints the formatted plan without executing") {
    val _ = spark
    val outBuf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outBuf)) {
      Main.main(Array("query", "q3_shipping", TestSpark.sf0001, "--explain"))
    }
    val plan = outBuf.toString("UTF-8")
    assert(plan.contains("Physical Plan"))
    assert(plan.contains("Scan parquet"))
  }

  test("unknown query name fails with a clear error") {
    val e = intercept[RuntimeException] {
      Main.main(Array("query", "no_such_query", TestSpark.sf0001))
    }
    assert(e.getMessage.contains("no_such_query"))
  }

  test("audit subcommand runs the bucket-audit through the pushed aggregate") {
    val _ = spark
    val tree = Files.createTempDirectory("cli_audit")
    (0 until 5).foreach(i =>
      Files.writeString(tree.resolve(s"f$i.txt"), "x" * (i + 1)))
    val sub = Files.createDirectories(tree.resolve("deep"))
    Files.writeString(sub.resolve("g.bin"), "y" * 100)
    // the e2e CLI path prints the audit row…
    val outBuf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outBuf)) {
      Main.main(Array("audit", tree.toString))
    }
    val line = outBuf.toString("UTF-8")
    assert(line.contains("files=6"), line)
    assert(line.contains(s"bytes=${1 + 2 + 3 + 4 + 5 + 100}"), line)
    // …and the frame behind it carries the WHOLE aggregate into the
    // listing tasks: the plan claims the pushdown, no per-file row
    // survives to Spark (partial rows = listing shards, not files),
    // and the created stat is never taken
    graft.sources.v2.FilesSource.createdStatCalls.set(0L)
    val frame = Scan.auditFrame(spark, tree.toString)
    val plan = frame.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation=[count, sum:size, min:size," +
      " max:size, min:modified, max:modified]"), plan)
    val r = frame.collect()(0)
    assert(r.getLong(0) == 6L && r.getLong(1) == 115L)
    assert(r.getLong(2) == 1L && r.getLong(3) == 100L)
    assert(r.getTimestamp(4) != null && r.getTimestamp(5) != null)
    assert(graft.sources.v2.FilesSource.createdStatCalls.get() == 0L)
  }

  test("--stream-events scans emit change events; a vanished file tombstones on a later rescan") {
    import org.apache.spark.sql.functions.col
    val _ = spark
    val tree = Files.createTempDirectory("cli_se")
    Files.writeString(tree.resolve("a.txt"), "alpha")
    Files.writeString(tree.resolve("b.txt"), "beta")
    val out = Files.createTempDirectory("cli_se_out").toString
    def rescan(): Unit = Main.main(Array("--stream-events", "-i", "cli-se",
      tree.toString, "--out", out))
    // run 1: one rescan cycle, both files surface as inserts
    rescan()
    val evDir = s"$out/events/" + java.net.URLEncoder.encode("cli-se", "UTF-8")
    val ev1 = spark.read.parquet(evDir)
    assert(ev1.filter(col("action") === "insert")
      .select("filename").collect().map(_.getString(0)).toSet ==
      Set("a.txt", "b.txt"))
    assert(ev1.filter(col("action") === "delete").count() == 0)
    // b vanishes; later invocations RESUME the checkpointed seen-set and
    // tombstone it once the per-source watermark passes its timer (the
    // clock advances one rescan per invocation, so allow a few)
    Files.delete(tree.resolve("b.txt"))
    var dels = Seq.empty[String]
    var runs = 0
    while (dels.isEmpty && runs < 4) {
      Thread.sleep(5) // batch timestamps must strictly advance (ms clock)
      rescan(); runs += 1
      dels = spark.read.parquet(evDir).filter(col("action") === "delete")
        .select("filename").collect().map(_.getString(0)).toSeq
    }
    assert(dels.nonEmpty && dels.toSet == Set("b.txt"), s"after $runs rescans: $dels")
    // a.txt was re-seen unchanged on every rescan: no further events
    val ev = spark.read.parquet(evDir)
    assert(ev.filter(col("filename") === "a.txt").count() == 1)
    // the persisted log compacts back into the current snapshot by
    // event_ms (file order is NOT event order in a parquet log)
    val snap = graft.streaming.ScrapeTws.snapshotOf(ev)
      .collect().map(r => r.getString(3) ->
        Option(r.getTimestamp(8))).toMap
    assert(snap.keySet == Set("a.txt", "b.txt"))
    assert(snap("a.txt").isEmpty, "live file has no tombstone")
    assert(snap("b.txt").nonEmpty, "vanished file's tombstone survives compaction")
  }

  test("--rebuild-state CLI: a deleted checkpoint is rebuilt from the " +
      "event log and the resumed daemon still tombstones; an EXISTING " +
      "checkpoint is refused loudly") {
    import org.apache.spark.sql.functions.col
    val _ = spark
    val tree = Files.createTempDirectory("cli_rb")
    Files.writeString(tree.resolve("keep.txt"), "k")
    Files.writeString(tree.resolve("drop.txt"), "d")
    val out = Files.createTempDirectory("cli_rb_out").toString
    def run(extra: String*): Unit = Main.main(Array("--stream-events",
      "-i", "cli-rb", tree.toString, "--out", out) ++ extra)
    run() // inserts for both files, checkpointed
    val sub = java.net.URLEncoder.encode("cli-rb", "UTF-8")
    val evDir = s"$out/events/$sub"
    val ckpt = s"$out/.events-checkpoint/$sub"
    assert(spark.read.parquet(evDir).count() == 2)
    // --rebuild-state against a LIVE checkpoint must refuse (Spark would
    // silently ignore the initial state on resume)
    val e = intercept[IllegalArgumentException](run("--rebuild-state"))
    assert(e.getMessage.contains("FRESH checkpoint"), e.getMessage)
    // the upgrade scenario: checkpoint gone, log is the durable record
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    Files.delete(tree.resolve("drop.txt"))
    Thread.sleep(5)
    run("--rebuild-state") // fresh checkpoint seeded from the log
    // subsequent plain invocations RESUME the rebuilt checkpoint and the
    // deletion clock still works: drop.txt tombstones within a few scans
    var dels = Seq.empty[String]
    var runs = 0
    while (dels.isEmpty && runs < 4) {
      Thread.sleep(5)
      run(); runs += 1
      dels = spark.read.parquet(evDir).filter(col("action") === "delete")
        .select("filename").collect().map(_.getString(0)).toSeq
    }
    assert(dels.nonEmpty && dels.toSet == Set("drop.txt"),
      s"after rebuild + $runs rescans: $dels")
    // keep.txt re-seen unchanged throughout: its single insert survived
    // the rebuild (the log was never truncated) and nothing re-emitted
    val ev = spark.read.parquet(evDir)
    assert(ev.filter(col("filename") === "keep.txt").count() == 1)
    val snap = graft.streaming.ScrapeTws.snapshotOf(ev)
      .collect().map(r => r.getString(3) -> Option(r.getTimestamp(8))).toMap
    assert(snap("keep.txt").isEmpty && snap("drop.txt").nonEmpty)
  }

  test("--stream-events over an empty tree reports zero events instead of crashing") {
    val _ = spark
    val tree = Files.createTempDirectory("cli_se_empty")
    val out = Files.createTempDirectory("cli_se_empty_out").toString
    val outBuf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outBuf)) {
      Main.main(Array("--stream-events", "-i", "cli-se-empty",
        tree.toString, "--out", out))
    }
    assert(outBuf.toString("UTF-8").contains("0 change events"),
      outBuf.toString("UTF-8"))
  }

  test("--stream-events fails up front when paths derive one identifier") {
    val _ = spark
    val tree = Files.createTempDirectory("cli_se_dup")
    // the same PATH twice → the same derived hostname:path identifier →
    // one events/checkpoint dir; must fail BEFORE any query starts, with
    // the colliding identifier named (ADVICE r12)
    val e = intercept[IllegalArgumentException] {
      Main.main(Array("--stream-events", tree.toString, tree.toString,
        "--out", Files.createTempDirectory("cli_se_dup_out").toString))
    }
    assert(e.getMessage.contains("collide"), e.getMessage)
    assert(e.getMessage.contains(tree.toString), e.getMessage)
  }

  test("--stream-events --interval waits on its own query, not on a " +
      "query that ended earlier in the shared session") {
    val _ = spark
    val tree = Files.createTempDirectory("cli_se_daemon")
    Files.writeString(tree.resolve("a.txt"), "alpha")
    val out = Files.createTempDirectory("cli_se_daemon_out").toString
    // a finished query: the session's awaitAnyTermination returns at once
    // for it until resetTerminated()
    spark.readStream.format("graft-files").option("path", tree.toString)
      .load().writeStream.format("memory").queryName("cli_ended_before")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val before = spark.streams.active.map(_.id).toSet
    def ours = spark.streams.active.filterNot(q => before(q.id))
    val daemon = new Thread(() => Main.main(Array("--stream-events", "-i",
      "cli-se-daemon", "--interval", "1", tree.toString, "--out", out)))
    daemon.setDaemon(true)
    daemon.start()
    try {
      val deadline = System.currentTimeMillis() + 30000L
      while (ours.flatMap(_.recentProgress).length < 2 &&
          System.currentTimeMillis() < deadline) Thread.sleep(100L)
      assert(ours.flatMap(_.recentProgress).length >= 2,
        "the daemon's query completed two cycles")
      assert(daemon.isAlive, "the daemon returned while its query ran on")
    } finally {
      ours.foreach(_.stop())
      daemon.join(30000L)
    }
    assert(!daemon.isAlive, "the daemon returns once its query is stopped")
  }

  test("handoff lock honesty (VERDICT r17 #5): schemes without atomic " +
      "create get a visible narrows-not-closes note; local/HDFS silent") {
    assert(WatchPg.lockAtomicityNote(null).isEmpty)
    assert(WatchPg.lockAtomicityNote("file").isEmpty)
    assert(WatchPg.lockAtomicityNote("hdfs").isEmpty)
    assert(WatchPg.lockAtomicityNote("viewfs").isEmpty)
    Seq("s3a", "s3", "gs", "wasb", "abfs", "oss").foreach { s =>
      val n = WatchPg.lockAtomicityNote(s)
      assert(n.exists(m => m.contains(s"'$s://'") && m.contains("NARROWS")
        && m.contains("double-bootstrap")), s"scheme $s got $n")
    }
  }

  test("main arg parsing: value-less trailing flags and non-numeric " +
      "values fail naming the flag, not with a raw array/number " +
      "exception (review r18)") {
    val e = intercept[IllegalArgumentException](
      Main.main(Array("--watch-pg", "h:1/db", "--out", "/tmp/x", "SRC",
        "--max-retain-mb")))
    assert(e.getMessage.contains("--max-retain-mb needs a value"),
      e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Main.main(Array("--interval", "soon", "/tmp")))
    assert(e2.getMessage.contains("--interval needs a number"),
      e2.getMessage)
    val e3 = intercept[IllegalArgumentException](Main.main(Array("--pg")))
    assert(e3.getMessage.contains("--pg needs a value"), e3.getMessage)
  }

  test("slots arg parsing: a value-less trailing flag fails with the " +
      "usage message, not ArrayIndexOutOfBounds (ADVICE r17)") {
    val e = intercept[IllegalArgumentException](
      Main.main(Array("slots", "127.0.0.1:1/db", "--out")))
    assert(e.getMessage.contains("--out needs a value") &&
      e.getMessage.contains("usage"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Main.main(Array("slots", "127.0.0.1:1/db", "--prefix")))
    assert(e2.getMessage.contains("--prefix needs a value"), e2.getMessage)
  }

  test("compact CLI (VERDICT r18 next#1): refuses against a live " +
      "checkpoint; --rebuild-state swaps the log atomically, removes " +
      "the checkpoint, and the resumed daemon continues correctly; an " +
      "interrupted swap heals on rerun") {
    import org.apache.spark.sql.functions.col
    val _ = spark
    val tree = Files.createTempDirectory("cli_cp")
    Files.writeString(tree.resolve("keep.txt"), "k")
    Files.writeString(tree.resolve("drop.txt"), "d")
    Files.writeString(tree.resolve("mod.txt"), "m")
    val out = Files.createTempDirectory("cli_cp_out").toString
    def run(extra: String*): Unit = Main.main(Array("--stream-events",
      "-i", "cli-cp", tree.toString, "--out", out) ++ extra)
    val sub = java.net.URLEncoder.encode("cli-cp", "UTF-8")
    val evDir = s"$out/events/$sub"
    val ckpt = s"$out/.events-checkpoint/$sub"
    def events() = spark.read.parquet(evDir)
    def snap() = graft.streaming.ScrapeTws.snapshotOf(events())
      .collect().map(_.toSeq).toSet
    run() // inserts for all three
    // grow the log the way a long-lived daemon does: drop.txt vanishes
    // and every later rescan RE-STAMPS its tombstone (one delete event
    // per scan — the O(deleted × scans) growth compact exists to cut)
    Files.delete(tree.resolve("drop.txt"))
    var runs = 0
    while (events().filter(col("action") === "delete").count() < 3 &&
        runs < 8) {
      Thread.sleep(5); run(); runs += 1
    }
    val before = events().count()
    assert(before >= 6, s"log should carry re-stamped deletes: $before")
    val snapBefore = snap()
    // (c) refusal: the checkpoint is live — a daemon may be appending
    val e = intercept[IllegalArgumentException](
      Main.main(Array("compact", "--out", out, "cli-cp")))
    assert(e.getMessage.contains("checkpoint exists at") &&
      e.getMessage.contains("--rebuild-state"), e.getMessage)
    assert(events().count() == before, "refusal must not touch the log")
    // the lifecycle operation: compact + remove the checkpoint
    Main.main(Array("compact", "--out", out, "--rebuild-state", "cli-cp"))
    assert(!new java.io.File(ckpt).exists(), "checkpoint removed")
    assert(events().count() == 3, "one event per known file")
    assert(snap() == snapBefore, "snapshot invariant under compaction")
    assert(!new java.io.File(s"$evDir.pre-compact").exists() &&
      !new java.io.File(s"$evDir.compact-stage").exists(),
      "no swap residue")
    // resume from the compacted log: fresh checkpoint seeded from it,
    // then live churn (an update and an insert) lands correctly
    Files.writeString(tree.resolve("mod.txt"), "much longer content")
    Files.writeString(tree.resolve("new.txt"), "n")
    Thread.sleep(5)
    run("--rebuild-state")
    val s1 = snap().map(r => r(3).asInstanceOf[String] ->
      Option(r(8)).map(_.asInstanceOf[java.sql.Timestamp].getTime)).toMap
    assert(s1.keySet == Set("keep.txt", "drop.txt", "mod.txt", "new.txt"))
    assert(s1("new.txt").isEmpty && s1("keep.txt").isEmpty &&
      s1("mod.txt").isEmpty, "live rows stay live after the resume")
    assert(s1("drop.txt").nonEmpty, "compacted tombstone survives")
    // the deletion clock still works post-compaction: keep.txt vanishes
    // and the resumed daemon tombstones it within a few rescans
    Files.delete(tree.resolve("keep.txt"))
    var dels = Map.empty[String, Option[Long]]
    runs = 0
    while (!dels.get("keep.txt").exists(_.nonEmpty) && runs < 8) {
      Thread.sleep(5); run(); runs += 1
      dels = snap().map(r => r(3).asInstanceOf[String] ->
        Option(r(8)).map(_.asInstanceOf[java.sql.Timestamp].getTime)).toMap
    }
    assert(dels("keep.txt").nonEmpty,
      s"resumed daemon must tombstone keep.txt (after $runs rescans)")
    // interrupted-swap healing: simulate a crash between the aside
    // rename and the stage rename-in (live log missing, original
    // retained) — the next compact restores it before compacting
    val snapNow = snap()
    assert(new java.io.File(evDir).renameTo(
      new java.io.File(s"$evDir.pre-compact")))
    Main.main(Array("compact", "--out", out, "--rebuild-state", "cli-cp"))
    assert(new java.io.File(evDir).exists() &&
      !new java.io.File(s"$evDir.pre-compact").exists())
    assert(snap() == snapNow, "healed + compacted log keeps the snapshot")
    assert(events().count() == 4, "healed log compacted to one per file")
  }

  test("compact on a changefeed log: the _graft_changefeed marker is " +
      "preserved across the swap and the refusal keys on the SLOT " +
      "checkpoint the marker names") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val out = Files.createTempDirectory("cli_cp_cf_out").toString
    val sub = java.net.URLEncoder.encode("cf-src", "UTF-8")
    val evDir = s"$out/events/$sub"
    // a changefeed-dialect log: event_seq is the LSN space; two events
    // for one key (insert then tombstoning update) plus a lone insert
    Seq(
      ("gen_x", "cf-src", "/p", "f1", "text/plain",
        null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(5000L),
        java.lang.Long.valueOf(10L), null.asInstanceOf[java.lang.Long],
        "insert", 1000L, 111L),
      ("gen_x", "cf-src", "/p", "f1", "text/plain",
        null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(5000L),
        java.lang.Long.valueOf(10L), java.lang.Long.valueOf(2000L),
        "delete", 2000L, 222L),
      ("gen_y", "cf-src", "/p", "f2", "text/plain",
        null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(6000L),
        java.lang.Long.valueOf(20L), null.asInstanceOf[java.lang.Long],
        "insert", 1500L, 150L))
      .toDF("uuid_external_file", "external_source", "path", "filename",
        "mime_type", "created_ms", "modified_ms", "size", "deleted_ms",
        "action", "event_ms", "event_seq")
      .write.parquet(evDir)
    val marker = s"$evDir/_graft_changefeed"
    val markerContent = "graft_cf_ab12_cd34\ncf-src"
    Files.writeString(java.nio.file.Paths.get(marker), markerContent)
    // the marker names the slot; its checkpoint gates the compaction
    // (alongside the always-checked rescan one — ADVICE r19)
    val slotCkpt = s"$out/.changefeed-checkpoint/_slot_graft_cf_ab12_cd34"
    Files.createDirectories(java.nio.file.Paths.get(slotCkpt))
    val e = intercept[IllegalArgumentException](
      Main.main(Array("compact", "--out", out, "cf-src")))
    assert(e.getMessage.contains("_slot_graft_cf_ab12_cd34"), e.getMessage)
    // stopped watch, checkpoint removed by the operator: plain compact
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(slotCkpt))
    Main.main(Array("compact", "--out", out, "cf-src"))
    assert(Files.readString(java.nio.file.Paths.get(marker)) ==
      markerContent, "marker must survive the swap byte-identical")
    val after = spark.read.parquet(evDir)
    assert(after.count() == 2)
    val f1 = after.filter(col("filename") === "f1").collect()(0)
    assert(f1.getAs[String]("action") == "delete" &&
      f1.getAs[Long]("event_seq") == 222L,
      "the LSN-winning event survives compaction")
  }

  test("compact dual-checkpoint gate (ADVICE r19): a RESCAN checkpoint " +
      "on a marker-bearing log also refuses — the marker must not route " +
      "the check to the slot checkpoint only — and --rebuild-state " +
      "removes BOTH") {
    import spark.implicits._
    val out = Files.createTempDirectory("cli_cp_dual_out").toString
    val sub = java.net.URLEncoder.encode("dual-src", "UTF-8")
    val evDir = s"$out/events/$sub"
    Seq(
      ("gen_a", "dual-src", "/p", "f1", "text/plain",
        null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(5000L),
        java.lang.Long.valueOf(10L), null.asInstanceOf[java.lang.Long],
        "insert", 1000L, 100L),
      ("gen_a", "dual-src", "/p", "f1", "text/plain",
        null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(5000L),
        java.lang.Long.valueOf(11L), null.asInstanceOf[java.lang.Long],
        "update", 2000L, 200L))
      .toDF("uuid_external_file", "external_source", "path", "filename",
        "mime_type", "created_ms", "modified_ms", "size", "deleted_ms",
        "action", "event_ms", "event_seq")
      .write.parquet(evDir)
    Files.writeString(java.nio.file.Paths.get(s"$evDir/_graft_changefeed"),
      "graft_cf_dual\ndual-src")
    // ONLY the rescan checkpoint exists: a rescan daemon appending to
    // this (marker-bearing) log — the mid-trigger append the swap
    // would lose if the marker routed the check to the slot ckpt only
    val rescanCkpt = s"$out/.events-checkpoint/$sub"
    Files.createDirectories(java.nio.file.Paths.get(rescanCkpt))
    val e = intercept[IllegalArgumentException](
      Main.main(Array("compact", "--out", out, "dual-src")))
    assert(e.getMessage.contains(".events-checkpoint"), e.getMessage)
    assert(spark.read.parquet(evDir).count() == 2,
      "refusal must not touch the log")
    // now BOTH exist; --rebuild-state compacts and removes both
    val slotCkpt = s"$out/.changefeed-checkpoint/_slot_graft_cf_dual"
    Files.createDirectories(java.nio.file.Paths.get(slotCkpt))
    Main.main(Array("compact", "--out", out, "--rebuild-state", "dual-src"))
    assert(spark.read.parquet(evDir).count() == 1, "compacted")
    assert(!new java.io.File(rescanCkpt).exists() &&
      !new java.io.File(slotCkpt).exists(),
      "--rebuild-state removes EVERY checkpoint guarding the log")
  }

  test("compact discovery mode continues past a refusing log (ADVICE " +
      "r19): the healthy logs compact, the refused one is untouched, " +
      "and ONE aggregate error names the skipped sources") {
    import spark.implicits._
    val out = Files.createTempDirectory("cli_cp_cont_out").toString
    def log(src: String): String = {
      val dir = s"$out/events/" + java.net.URLEncoder.encode(src, "UTF-8")
      (1 to 3).map(i => ("gen_" + i, src, "/p", "f", "text/plain",
        null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(5000L),
        java.lang.Long.valueOf(i.toLong),
        null.asInstanceOf[java.lang.Long],
        if (i == 1) "insert" else "update", 1000L + i, 0L))
        .toDF("uuid_external_file", "external_source", "path", "filename",
          "mime_type", "created_ms", "modified_ms", "size", "deleted_ms",
          "action", "event_ms", "event_seq")
        .write.parquet(dir)
      dir
    }
    val dBusy = log("s-busy")
    val dOk = log("s-ok")
    Files.createDirectories(java.nio.file.Paths.get(
      s"$out/.events-checkpoint/" +
        java.net.URLEncoder.encode("s-busy", "UTF-8")))
    val e = intercept[RuntimeException](
      Main.main(Array("compact", "--out", out)))
    assert(e.getMessage.contains("1 of 2 sources failed") &&
      e.getMessage.contains("s-busy"), e.getMessage)
    assert(e.getCause.isInstanceOf[IllegalArgumentException] &&
      e.getCause.getMessage.contains("checkpoint exists"),
      String.valueOf(e.getCause))
    assert(spark.read.parquet(dOk).count() == 1,
      "the healthy log must compact despite the earlier refusal")
    assert(spark.read.parquet(dBusy).count() == 3,
      "the refused log stays untouched")
  }

  test("compact with no SOURCE compacts every log under OUT/events and " +
      "heals swap residue instead of compacting it as a foreign log") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("cli_cp_all_out").toString
    def log(src: String, n: Int): String = {
      val dir = s"$out/events/" + java.net.URLEncoder.encode(src, "UTF-8")
      (1 to n).map(i => ("gen_" + i, src, "/p", "f", "text/plain",
        null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(5000L),
        java.lang.Long.valueOf(i.toLong),
        null.asInstanceOf[java.lang.Long],
        if (i == 1) "insert" else "update", 1000L + i, 0L))
        .toDF("uuid_external_file", "external_source", "path", "filename",
          "mime_type", "created_ms", "modified_ms", "size", "deleted_ms",
          "action", "event_ms", "event_seq")
        .write.parquet(dir)
      dir
    }
    val d1 = log("s one", 4) // url-encoding round-trips (space -> +)
    val d2 = log("s2", 3)
    // an interrupted swap on d2: live log missing, original retained
    assert(new java.io.File(d2).renameTo(
      new java.io.File(s"$d2.pre-compact")))
    Main.main(Array("compact", "--out", out))
    Seq(d1, d2).foreach { d =>
      assert(spark.read.parquet(d).count() == 1, s"$d compacted")
      assert(spark.read.parquet(d)
        .filter(col("action") === "update").count() == 1,
        "the last event won")
      assert(!new java.io.File(s"$d.pre-compact").exists())
    }
    // an OUT with no logs is an error, not a silent no-op
    val empty = Files.createTempDirectory("cli_cp_none").toString
    val e = intercept[IllegalArgumentException](
      Main.main(Array("compact", "--out", empty)))
    assert(e.getMessage.contains("no event logs"), e.getMessage)
    // an EMPTY log (a rescan of an empty tree appends a parquet dir
    // with no data files) skips cleanly instead of crashing on schema
    // inference — and --rebuild-state still performs its documented
    // checkpoint removal (review r19: the advertised resume would
    // otherwise refuse on the leftover checkpoint)
    val out2 = Files.createTempDirectory("cli_cp_empty_out").toString
    val tree = Files.createTempDirectory("cli_cp_empty_tree")
    Main.main(Array("--stream-events", "-i", "cp-empty", tree.toString,
      "--out", out2))
    val ckpt2 = s"$out2/.events-checkpoint/cp-empty"
    assert(new java.io.File(ckpt2).exists())
    Main.main(Array("compact", "--out", out2, "--rebuild-state"))
    assert(!new java.io.File(ckpt2).exists(),
      "--rebuild-state removes the checkpoint even for an empty log")
  }

  test("compact heal: a live dir RECREATED by a daemon restart after a " +
      "mid-swap crash merges with the retained original — the history " +
      "is never deleted (review r19)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("cli_cp_heal_out").toString
    val sub = java.net.URLEncoder.encode("heal-src", "UTF-8")
    val evDir = s"$out/events/$sub"
    def row(uuid: String, fn: String, action: String, deleted: Option[Long],
        ms: Long) =
      (uuid, "heal-src", "/p", fn, "text/plain",
        null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(5000L),
        java.lang.Long.valueOf(1L),
        deleted.map(java.lang.Long.valueOf).orNull, action, ms, 0L)
    def write(dir: String, rows: Seq[(String, String, String, String,
        String, java.lang.Long, java.lang.Long, java.lang.Long,
        java.lang.Long, String, Long, Long)]): Unit =
      rows.toDF("uuid_external_file", "external_source", "path",
        "filename", "mime_type", "created_ms", "modified_ms", "size",
        "deleted_ms", "action", "event_ms", "event_seq")
        .write.mode("append").parquet(dir)
    // the retained original holds the HISTORY (g exists only here);
    // the recreated live dir holds only a post-crash delta (f deleted)
    write(s"$evDir.pre-compact", Seq(
      row("gen_f", "f", "insert", None, 1000L),
      row("gen_g", "g", "insert", None, 1001L)))
    write(evDir, Seq(
      row("gen_f", "f", "delete", Some(2000L), 2000L)))
    // marker collision: pre retains the OLD slot's marker, the
    // restarted daemon re-handed-off under a NEW slot — the LIVE
    // marker must win the merge (review r19: keying later refusals/GC
    // on the stale slot would let a swap race the new-slot daemon)
    Files.writeString(java.nio.file.Paths.get(
      s"$evDir.pre-compact/_graft_changefeed"), "graft_cf_old\nheal-src")
    Files.writeString(java.nio.file.Paths.get(
      s"$evDir/_graft_changefeed"), "graft_cf_new\nheal-src")
    Main.main(Array("compact", "--out", out, "heal-src"))
    val after = spark.read.parquet(evDir)
    assert(after.count() == 2, "union of history + delta, compacted")
    val byName = after.collect()
      .map(r => r.getAs[String]("filename") -> r.getAs[String]("action"))
      .toMap
    assert(byName == Map("f" -> "delete", "g" -> "insert"),
      s"g's history survived and f's delta won: $byName")
    assert(!new java.io.File(s"$evDir.pre-compact").exists())
    assert(Files.readString(java.nio.file.Paths.get(
      s"$evDir/_graft_changefeed")) == "graft_cf_new\nheal-src",
      "the live marker wins the consolidation")
  }

  test("WAL-note suppression arithmetic (VERDICT r18 wrong#5): first " +
      "exceedance and every Nth after print; below-threshold resets") {
    val s = new WatchPg.WalNoteSuppressor(every = 3)
    // counts 1..7 over threshold: print at 1, 4, 7 (1 + k·every)
    val printed = (1 to 7).map(_ => s.shouldPrint())
    assert(printed == Seq(true, false, false, true, false, false, true),
      printed.toString)
    assert(s.count == 7L)
    // a below-threshold trigger resets the streak: the NEXT exceedance
    // is a fresh event and prints as a first line again
    s.reset()
    assert(s.shouldPrint() && s.count == 1L)
    assert(!s.shouldPrint() && s.count == 2L)
    // default cadence stays a daemon-friendly once-per-60-triggers
    assert(new WatchPg.WalNoteSuppressor().every == 60)
  }

  test("argv parsing starts no session: sink and mode conflicts fail " +
      "with their messages") {
    def refused(args: String*): String =
      intercept[IllegalArgumentException](Main.parse(args.toArray)).getMessage
    assert(refused("--jdbc", "jdbc:postgresql://h/db", "--pg", "h:1/db", "/t")
      .contains("--jdbc and --pg are exclusive sinks"))
    assert(refused("--stream-events", "--pg", "h:1/db", "/t")
      .contains("--stream-events emits parquet change events; use --out"))
    assert(refused("--watch-pg", "h:1/db", "--s3-wire", "SRC")
      .contains("--watch-pg is its own mode"))
    assert(refused("--max-changes", "5", "/t")
      .contains("--max-changes bounds the --watch-pg changefeed triggers"))
    assert(refused("--max-retain-mb", "5", "/t")
      .contains("--max-retain-mb monitors the --watch-pg slot"))
    assert(refused("--rebuild-state", "/t")
      .contains("--rebuild-state applies to the --stream-events checkpoint"))
    assert(refused("--stream-events", "-i", "X", "/a", "/b")
      .contains("--stream-events with -i supports a single PATH"))
    assert(refused("-v").contains("at least one PATH required"))
    assert(refused("--watch-pg", "h:1/db").contains("at least one SOURCE required"))
    assert(refused("compact").contains("compact: --out DIR required (usage:"))
    assert(refused("slots").contains("slots: ADDR required"))
    // the modes parse into their library calls
    assert(Main.parse(Array("-i", "X", "--interval", "3", "/a", "/b")) ==
      Main.ScanRun(Seq("/a", "/b"), Some("X"), Scan.Out("./scan_out"),
        Some(3L), Scan.Listing(), 0, fromEnv = false))
    assert(Main.parse(Array("compact", "--out", "/o", "S")) ==
      Main.CompactRun("/o", rebuildState = false, Seq("S")))
  }

  test("argv parsing: DATABASE_URL is the sink only when no sink flag " +
      "or other mode names one") {
    sys.props("graft.databaseUrl") = "postgres://u:p@dbhost:6543/scans"
    try {
      Main.parse(Array("/t")) match {
        case Main.ScanRun(_, _, Scan.Pg(t), _, _, _, fromEnv) =>
          assert(fromEnv)
          assert((t.host, t.port, t.database, t.user, t.password) ==
            (("dbhost", 6543, "scans", "u", Some("p"))))
        case other => fail(s"DATABASE_URL not the sink: $other")
      }
      assert(Main.parse(Array("--out", "/o", "/t")) match {
        case Main.ScanRun(_, _, Scan.Out("/o"), _, _, _, false) => true
        case _ => false
      })
      Main.parse(Array("--pg", "h:1/db", "/t")) match {
        case Main.ScanRun(_, _, Scan.Pg(t), _, _, _, fromEnv) =>
          assert(!fromEnv && t.host == "h")
        case other => fail(s"--pg lost to DATABASE_URL: $other")
      }
      assert(Main.parse(Array("--stream-events", "/t"))
        .isInstanceOf[Main.EventsRun])
      assert(Main.parse(Array("--watch-pg", "h:1/db", "SRC"))
        .isInstanceOf[Main.WatchRun])
    } finally sys.props.remove("graft.databaseUrl")
    Main.parse(Array("/t")) match {
      case Main.ScanRun(_, _, Scan.Out("./scan_out"), _, _, _, false) => ()
      case other => fail(s"no DATABASE_URL, no flag: $other")
    }
  }

  test("argv parsing: duplicate PATHs fail under --stream-events and " +
      "--watch-pg, naming the duplicate") {
    val e = intercept[IllegalArgumentException](
      Main.parse(Array("--stream-events", "/data/a", "/data/a")))
    assert(e.getMessage.contains("collide") &&
      e.getMessage.contains("/data/a, /data/a"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Main.parse(Array("--watch-pg", "h:1/db", "SRC", "OTHER", "SRC")))
    assert(e2.getMessage == "requirement failed: duplicate --watch-pg " +
      "SOURCE args: SRC", e2.getMessage)
    // the batch sinks take repeated PATHs: one row per file is kept
    assert(Main.parse(Array("/data/a", "/data/a")).isInstanceOf[Main.ScanRun])
  }

  test("argv parsing: --watch-pg resolves its address once, into the " +
      "watch's PgTarget; a malformed one fails before any session") {
    assert(Main.parse(Array("--watch-pg",
        "postgres://u:p%40@h:6543/db?sslmode=require", "SRC")) ==
      Main.WatchRun(sinks.PgMerge.PgTarget("h", 6543, "db", "u", Some("p@"),
        "require"), Seq("SRC"), "./scan_out", None, None, None, 0))
    // main parses before it builds a session: the same refusal
    Seq[Array[String] => Unit](Main.parse(_), Main.main(_)).foreach { run =>
      val e = intercept[IllegalArgumentException](
        run(Array("--watch-pg", "h:1", "SRC")))
      assert(e.getMessage.contains("a PostgreSQL address is " +
        "HOST:PORT/DBNAME") && e.getMessage.contains("'h:1'") &&
        !e.getMessage.contains("--pg"), e.getMessage)
    }
  }

  test("--jdbc is the wire sink's alias: a jdbc:postgresql URL parses " +
      "into the PG target, any other JDBC URL is refused before any " +
      "listing, naming --pg") {
    val t = sinks.PgMerge.parsePgTarget(
      "jdbc:postgresql://10.0.0.7/scans?user=graft&password=p%40ss&sslmode=require")
    assert(t == sinks.PgMerge.PgTarget("10.0.0.7", 5432, "scans",
      "graft", Some("p@ss"), "require"))
    assert(Main.parse(Array("--jdbc", "jdbc:postgresql://h:7/db", "/t")) ==
      Main.ScanRun(Seq("/t"), None, Scan.Pg(sinks.PgMerge.PgTarget(
        "h", 7, "db", envUser, envPassword, "prefer")), None, Scan.Listing(),
        0, fromEnv = false))
    val tree = Files.createTempDirectory("cli_jdbc_duck")
    Files.writeString(tree.resolve("a.txt"), "alpha")
    val duck = tree.resolve("x.duckdb")
    val e = intercept[IllegalArgumentException](Main.main(Array(
      "--jdbc", s"jdbc:duckdb:$duck", "-i", "cli-duck", tree.toString)))
    assert(e.getMessage.contains("--pg") &&
      e.getMessage.contains("jdbc:duckdb:"), e.getMessage)
    assert(!Files.exists(duck), "nothing was published")
    val e2 = intercept[IllegalArgumentException](
      Main.parse(Array("--jdbc", "h:1/db", "/t")))
    assert(e2.getMessage.contains("--jdbc expects a jdbc:postgresql://"),
      e2.getMessage)
    val e3 = intercept[IllegalArgumentException](sinks.PgMerge.parsePgTarget(
      "jdbc:postgresql://h/db?currentSchema=x"))
    assert(e3.getMessage.contains("unsupported JDBC URL parameter(s) " +
      "currentSchema"), e3.getMessage)
  }

  test("--out tombstones carry the scan's real instant: runs order their " +
      "deletions, and one cycle's tombstones share one stamp") {
    val _ = spark
    val tree = Files.createTempDirectory("cli_instant")
    Seq("keep.txt", "f1.txt", "f2.txt", "f3.txt")
      .foreach(f => Files.writeString(tree.resolve(f), f))
    val out = Files.createTempDirectory("cli_instant_out").toString
    def run(): Unit = Main.main(Array("-i", "cli-instant", tree.toString,
      "--out", out))
    def deleted(): Map[String, Option[java.sql.Timestamp]] =
      streaming.ScrapeStream.readState(spark, out).collect()
        .map(r => r.getString(3) -> Option(r.getTimestamp(8))).toMap
    val started = System.currentTimeMillis()
    run()
    Files.delete(tree.resolve("f1.txt"))
    Files.delete(tree.resolve("f2.txt"))
    run()
    val second = deleted()
    Files.delete(tree.resolve("f3.txt"))
    run()
    val third = deleted()
    // each cycle stamps every row it finds missing with its one instant
    // (the reference's UPDATE re-stamps earlier tombstones too)
    assert(second("keep.txt").isEmpty && third("keep.txt").isEmpty)
    assert(second("f3.txt").isEmpty)
    val (d2, d3) = (second("f1.txt").get, third("f3.txt").get)
    assert(second("f2.txt").contains(d2),
      "one cycle's tombstones share one stamp")
    assert(Seq("f1.txt", "f2.txt").forall(third(_).contains(d3)),
      "one cycle's tombstones share one stamp")
    assert(d2.before(d3), s"deletions ordered as they happened: $d2, $d3")
    assert(d2.getTime >= started && d3.getTime <= System.currentTimeMillis(),
      s"stamps are the scans' instants: $d2, $d3")
  }

  /** `body`'s result, the physical plan of every SQL execution run while
    * it ran, by execution id, and the SQL execution id of every job it
    * started (in any session). A sentinel job in its own group flushes
    * the listener bus: its start is delivered after every earlier event. */
  private def runDuring[A](body: => A): (A, Map[Long, String],
      Seq[Option[Long]]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
      SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val plans = new java.util.concurrent.ConcurrentHashMap[Long, String]
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Option[Long]]
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.put(s.executionId, s.physicalPlanDescription); ()
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.jobGroup.id") == "plans-flush"))
          flushed.countDown()
        else {
          jobs.add(props.flatMap(p => Option(p.getProperty(
            "spark.sql.execution.id"))).map(_.toLong)); ()
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      sc.setJobGroup("plans-flush", "listener flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not flush")
      import scala.jdk.CollectionConverters._
      (r, plans.asScala.toMap, jobs.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("--out reports each cycle's keys per action from the merge itself, " +
      "and no query reads the state again to count it") {
    val _ = spark
    val tree = Files.createTempDirectory("cli_counts")
    Seq("keep1.txt", "keep2.txt", "chg.txt", "gone.txt")
      .foreach(f => Files.writeString(tree.resolve(f), f))
    val out = Files.createTempDirectory("cli_counts_out").toString
    def run(): Seq[String] = {
      val buf = new java.io.ByteArrayOutputStream
      Console.withOut(new java.io.PrintStream(buf, true)) {
        Main.main(Array("-i", "cli-counts", tree.toString, "--out", out))
      }
      buf.toString("UTF-8").linesIterator
        .filter(_.startsWith("scan complete:")).toSeq
    }
    val first = run()
    Files.delete(tree.resolve("gone.txt"))                     // vanished
    Files.writeString(tree.resolve("chg.txt"), "chg.txt, longer") // changed
    Files.writeString(tree.resolve("new.txt"), "new.txt")     // new
    val (second, plans, jobs) = runDuring(run())
    // the merge write reads the state once; nothing else reads it
    val stateReads = plans.values.filter(p => p.contains("Scan parquet") &&
      p.contains(out) && !p.contains("InsertIntoHadoopFsRelationCommand"))
    assert(stateReads.isEmpty,
      s"a query re-read the state after the merge:\n${stateReads.mkString("\n")}")
    // and the cycle runs nothing beside that write: no collect of the
    // batch's sources, no job inferring the state's schema
    val writes = plans.collect {
      case (id, p) if p.contains("InsertIntoHadoopFsRelationCommand") => id
    }.toSet
    val besides = jobs.filterNot(_.exists(writes))
    assert(writes.size == 1 && besides.isEmpty,
      s"jobs beside the merge write ${writes.mkString(",")}, by SQL " +
        s"execution: ${besides.map(_.fold("none")(id =>
          s"$id ${plans.getOrElse(id, "").take(300)}")).mkString("\n")}")
    assert(first == Seq(s"scan complete: 4 inserted, 0 updated, " +
      s"0 unchanged, 0 deleted at $out"))
    assert(second == Seq(s"scan complete: 1 inserted, 1 updated, " +
      s"2 unchanged, 1 deleted at $out"))
  }

  test("--out keeps a numeric-looking identifier's spelling: the second " +
      "cycle of -i 007 merges into the state") {
    val _ = spark
    val tree = Files.createTempDirectory("cli_007")
    Seq("a.txt", "b.txt", "c.txt")
      .foreach(f => Files.writeString(tree.resolve(f), f))
    val out = Files.createTempDirectory("cli_007_out").toString
    def run(): Unit = Main.main(Array("-i", "007", tree.toString,
      "--out", out))
    run()
    Files.delete(tree.resolve("c.txt"))
    Files.writeString(tree.resolve("n.txt"), "n.txt")
    run()
    val rows = streaming.ScrapeStream.readState(spark, out).collect()
      .map(r => r.getString(3) -> r).toMap
    assert(rows.keySet == Set("a.txt", "b.txt", "c.txt", "n.txt"),
      "the second cycle's new file is in the state")
    assert(!rows("c.txt").isNullAt(8), "the vanished file is tombstoned")
    assert(Seq("a.txt", "b.txt", "n.txt").forall(rows(_).isNullAt(8)))
    assert(rows.values.map(_.getString(1)).toSet == Set("007"))
    assert(Files.isDirectory(java.nio.file.Paths.get(out,
      "external_source=007")))
  }

  private val pgHost = sys.env.getOrElse("PGWIRE_HOST", "127.0.0.1")
  private val pgPort = sys.env.get("PGPORT").flatMap(_.toIntOption)
    .getOrElse(54329)

  private def pgLive: Boolean =
    try { new sinks.PgWireClient(pgHost, pgPort, "postgres", "postgres").close(); true }
    catch { case _: Throwable => false }

  test("--jdbc jdbc:postgresql://… leaves the same table as --pg over " +
      "the same tree (live PostgreSQL)") {
    assume(pgLive, s"no PostgreSQL server at $pgHost:$pgPort")
    import sinks.PgMerge
    val _ = spark
    def withClient[A](f: sinks.PgWireClient => A): A = {
      val c = new sinks.PgWireClient(pgHost, pgPort, "postgres", "postgres")
      try f(c) finally c.close()
    }
    def recreate(c: sinks.PgWireClient): Unit = {
      c.exec(s"DROP TABLE IF EXISTS ${PgMerge.table}")
      c.exec(
        s"""CREATE TABLE ${PgMerge.table} (
           |  external_source TEXT, path TEXT, filename TEXT, mime_type TEXT,
           |  created TIMESTAMPTZ, modified TIMESTAMPTZ, size BIGINT,
           |  deleted TIMESTAMPTZ,
           |  CONSTRAINT ${PgMerge.constraint}
           |    UNIQUE (external_source, path, filename))""".stripMargin)
    }
    def table(): Seq[Vector[Option[String]]] = withClient(_.query(
      "SELECT external_source, path, filename, mime_type, created::text, " +
        "modified::text, size::text, (deleted IS NULL)::text FROM " +
        s"${PgMerge.table} ORDER BY path, filename"))
    val tree = Files.createTempDirectory("cli_jdbc_pg")
    Files.writeString(tree.resolve("a.txt"), "alpha")
    Files.createDirectory(tree.resolve("sub"))
    Files.writeString(tree.resolve("sub/b.json"), "{}")
    Files.writeString(tree.resolve("gone.csv"), "1,2")
    def scan(sink: Seq[String]): Unit =
      Main.main((sink ++ Seq("-i", "cli-jdbc", tree.toString)).toArray)
    val pg = Seq("--pg", s"$pgHost:$pgPort/postgres")
    val jdbc = Seq("--jdbc",
      s"jdbc:postgresql://$pgHost:$pgPort/postgres?user=postgres")
    try {
      withClient(recreate)
      scan(pg)
      val viaPg = table()
      assert(viaPg.size == 3 && viaPg.forall(_(7) == Some("true")),
        s"the --pg run published the tree: $viaPg")
      withClient(recreate)
      scan(jdbc)
      assert(table() == viaPg)
      // and the alias tombstones like --pg: a vanished file is marked
      Files.delete(tree.resolve("gone.csv"))
      scan(jdbc)
      assert(table().map(r => r(2) -> r(7)).toMap == Map(
        Some("a.txt") -> Some("true"), Some("b.json") -> Some("true"),
        Some("gone.csv") -> Some("false")))
    } finally withClient(_.exec(s"DROP TABLE IF EXISTS ${PgMerge.table}"))
  }
}
