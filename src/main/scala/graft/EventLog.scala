package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The event-log lifecycle of `--stream-events` and `--watch-pg`:
  * `graft.Main compact` as a library call. */
object EventLog {

  /** `graft.Main compact`'s usage, quoted by its errors. */
  private[graft] val usage =
    "(usage: compact --out DIR [--rebuild-state] [SOURCE...]; no " +
      "SOURCE = every log under OUT/events)"

  /** One compacted log: its event count before and after. */
  final case class Compacted(source: String, before: Long, after: Long)

  /** Compact the event logs of `sources` under `out` and return each
    * log's event count before and after. The append-only log re-stamps
    * one delete event per tombstoned file per scan, so it grows
    * O(deleted files × scans) for a long-lived daemon (VERDICT r18
    * next#1); this is the lifecycle step that keeps it bounded.
    *
    * Per source: a stop-the-world rewrite of `OUT/events/<source>` to its
    * [[graft.streaming.ScrapeTws.compactedEvents]] equivalent — one
    * `(event_ms, event_seq)`-winning event row per file identity, with
    * `snapshotOf`/`initialStateOf` byte-for-byte invariant. The swap is
    * staged: the compacted rows land in `<events>.compact-stage`, the old
    * log renames aside to `<events>.pre-compact`, the stage renames in,
    * and the old log is dropped LAST, so a crash at any cut leaves the
    * original or the compacted log plus the original, and the next
    * compact heals the half-swap first. A changefeed log's
    * `_graft_changefeed` marker is carried into the compacted dir before
    * the swap.
    *
    * No source = every log under `OUT/events` (swap residue maps back to
    * its base log): one log's refusal or error does not strand the rest,
    * and the run rethrows one aggregate naming the skipped sources
    * (ADVICE r19). Named sources stay fail-fast.
    *
    * Checkpoint contract: a LIVE checkpoint — the rescan
    * `.events-checkpoint/<source>` (checked whatever the marker says: a
    * rescan daemon on the same --out writes it on a marker-bearing log
    * too) or the marker's `.changefeed-checkpoint/_slot_<slot>` — means a
    * daemon may be appending mid-trigger, and the swap would lose that
    * append, so compact REFUSES unless `rebuildState`. That asserts the
    * daemon is stopped and removes every such checkpoint after the swap:
    * the daemon resumes with `--stream-events --rebuild-state` (a fresh
    * checkpoint seeded from the compacted log) or, for a changefeed
    * watch, with plain `--watch-pg` (the slot is the cursor). `note`
    * receives the per-log progress lines. */
  def compact(spark: SparkSession, out: String, sources: Seq[String] = Nil,
      rebuildState: Boolean = false,
      note: String => Unit = _ => ()): Seq[Compacted] = {
    // no SOURCE named → every log under OUT/events (the sub-dir names
    // are the URL-encoded sources), listed through the SESSION hadoop
    // conf, so the spark.hadoop.* channel reaches a remote --out (r19)
    val discovery = sources.isEmpty
    val logs = if (!discovery) sources else {
      val events = new org.apache.hadoop.fs.Path(s"$out/events")
      val fs = events.getFileSystem(spark.sessionState.newHadoopConf())
      require(fs.exists(events),
        s"compact: no event logs at $out/events $usage")
      // swap residue (`<sub>.pre-compact` / `<sub>.compact-stage`)
      // maps back to its base source — so an interrupted compact's
      // retained original is found and HEALED, never compacted as a
      // foreign log
      val found = fs.listStatus(events).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName)
        .map(_.stripSuffix(".pre-compact").stripSuffix(".compact-stage"))
        .distinct.sorted
        .map(sub => java.net.URLDecoder.decode(sub, "UTF-8"))
      require(found.nonEmpty,
        s"compact: no event logs at $out/events $usage")
      found
    }
    // discovery compacts each log independently, then rethrows ONE
    // aggregate (first failure as the cause, rest suppressed); named
    // sources keep the fail-fast contract (S8)
    if (!discovery) logs.map(compactOne(spark, out, _, rebuildState, note))
    else {
      val results = logs.map { src =>
        try Right(compactOne(spark, out, src, rebuildState, note))
        catch { case NonFatal(e) =>
          System.err.println(s"$src: compact failed — " +
            s"${e.getClass.getSimpleName}: ${e.getMessage}")
          Left(src -> e)
        }
      }
      val failures = results.collect { case Left(f) => f }
      if (failures.nonEmpty) {
        val rest = // honest tail (review r20): "the rest compacted"
          if (failures.size < logs.size) "; the rest compacted"
          else "" // nothing was — don't claim otherwise
        val agg = new RuntimeException(
          s"compact: ${failures.size} of ${logs.size} sources failed " +
            s"(${failures.map(_._1).mkString(", ")})$rest",
          failures.head._2)
        failures.tail.foreach { case (_, e) => agg.addSuppressed(e) }
        throw agg
      }
      results.collect { case Right(c) => c }
    }
  }

  private def compactOne(spark: SparkSession, out: String, src: String,
      rebuildState: Boolean, note: String => Unit): Compacted = {
    import org.apache.hadoop.fs.Path
    val sub = java.net.URLEncoder.encode(src, "UTF-8")
    val eventsDir = s"$out/events/$sub"
    val events = new Path(eventsDir)
    val fs = events.getFileSystem(spark.sessionState.newHadoopConf())
    val pre = new Path(s"$eventsDir.pre-compact")
    val stage = new Path(s"$eventsDir.compact-stage")
    require(fs.exists(events) || fs.exists(pre),
      s"$src: no event log at $eventsDir — nothing to compact")
    // which checkpoint guards this log? a changefeed marker names the
    // slot (its checkpoint is keyed per slot); otherwise the rescan
    // daemon's per-source checkpoint. A half-swapped log's marker may
    // live only in the retained original — read whichever copy exists,
    // BEFORE any mutation
    val markerContent: Option[String] =
      WatchPg.readMarkerContent(fs, new Path(events, "_graft_changefeed"))
        .orElse(WatchPg.readMarkerContent(fs, new Path(pre, "_graft_changefeed")))
    // EVERY checkpoint that could belong to a daemon appending to this
    // log (ADVICE r19): the marker's slot checkpoint AND the per-source
    // rescan one, which a rescan daemon writes whatever the marker says
    val checkpoints: Seq[String] =
      markerContent.map { content =>
        val slot = content.linesIterator.toSeq.headOption.getOrElse("")
        require(slot.nonEmpty, s"$src: corrupt _graft_changefeed marker " +
          s"under $eventsDir (empty)")
        s"$out/.changefeed-checkpoint/_slot_$slot"
      }.toSeq :+ s"$out/.events-checkpoint/$sub"
    val hconf = spark.sessionState.newHadoopConf()
    val ckpts = checkpoints.map { c =>
      val p = new Path(c); (p.getFileSystem(hconf), p, c)
    }
    // the refusal runs BEFORE the heal (review r19): a live checkpoint
    // means a daemon may be appending to the live dir RIGHT NOW, and
    // the heal's consolidation moves files out of it
    ckpts.foreach { case (ckptFs, ckptPath, checkpoint) =>
      if (ckptFs.exists(ckptPath) && !rebuildState)
        throw new IllegalArgumentException(
          s"$src: a checkpoint exists at $checkpoint — its daemon may be " +
            "appending to this log mid-trigger, and the swap would lose " +
            "that append. Stop the daemon, then rerun with " +
            "--rebuild-state to compact AND remove the checkpoint (resume " +
            "the rescan daemon with --stream-events --rebuild-state; a " +
            "changefeed watch resumes plain — the slot is its cursor)")
    }
    // heal a previous run's half-swap: live log missing → restore the
    // original. BOTH present (review r19) is a completed swap's leftover
    // OR a restarted daemon's delta events over a crashed swap; the
    // UNION is the true log either way (the max-struct compaction
    // absorbs duplicates), so move the live files into the original and
    // restore it. Each move is atomic, so a crash mid-way is resumable.
    // A stray stage dir is always garbage (this run rewrites it).
    if (fs.exists(pre)) {
      if (fs.exists(events)) {
        fs.listStatus(events).foreach { st =>
          val dst = new org.apache.hadoop.fs.Path(pre, st.getPath.getName)
          if (fs.exists(dst) &&
              st.getPath.getName == "_graft_changefeed") {
            // the LIVE marker wins (review r19): a restarted daemon may
            // have re-handed-off under a NEW slot (as markerContent reads)
            fs.delete(dst, true)
            require(fs.rename(st.getPath, dst),
              s"$src: could not carry the live marker into $pre")
          } else if (fs.exists(dst)) {
            fs.delete(st.getPath, true) // identical leftover (_SUCCESS)
          } else require(fs.rename(st.getPath, dst),
            s"$src: could not consolidate ${st.getPath} into $pre")
        }
        fs.delete(events, true)
        note(s"$src: merged the live log into retained $pre " +
          "(a previous compact was interrupted mid-swap; the union is " +
          "the true log)")
      }
      require(fs.rename(pre, events),
        s"$src: could not restore $pre after an interrupted compact")
      note(s"$src: restored the log from $pre")
    }
    fs.delete(stage, true)
    // an EMPTY log (a rescan of an empty tree) is "nothing to compact",
    // not a schema-inference crash; the --rebuild-state checkpoint
    // removal still applies, or the advertised resume would refuse
    val before = Scan.countEvents(spark, eventsDir)
    if (before == 0L) {
      dropCheckpoints(src, rebuildState, ckpts, note)
      note(s"$src: no events at $eventsDir — nothing to compact")
      return Compacted(src, 0L, 0L)
    }
    graft.streaming.ScrapeTws.compactedEvents(
        spark.read.parquet(eventsDir))
      .write.mode("overwrite").parquet(stage.toString)
    val after = spark.read.parquet(stage.toString).count()
    // carry the changefeed marker into the compacted dir BEFORE the
    // swap — the log must claim its slot at every instant a resume
    // could observe it
    markerContent.foreach { content =>
      val o = fs.create(new Path(stage, "_graft_changefeed"), true)
      try o.write(content.getBytes("UTF-8")) finally o.close()
    }
    require(fs.rename(events, pre),
      s"$src: could not move $eventsDir aside")
    require(fs.rename(stage, events),
      s"$src: could not move the compacted log in (original retained " +
        s"at $pre — rerun compact to heal)")
    fs.delete(pre, true)
    dropCheckpoints(src, rebuildState, ckpts, note)
    note(s"$src: compacted $before events -> $after " +
      s"(one per known file) at $eventsDir")
    Compacted(src, before, after)
  }

  /** The `--rebuild-state` half of the compact lifecycle: remove EVERY
    * (stopped) daemon checkpoint guarding this log (ADVICE r19 — both
    * the marker-named slot checkpoint and the per-source rescan one)
    * so the resume reseeds from the compacted log. Shared by the
    * compacted and empty-log paths. */
  private def dropCheckpoints(src: String, rebuildState: Boolean,
      ckpts: Seq[(org.apache.hadoop.fs.FileSystem,
        org.apache.hadoop.fs.Path, String)], note: String => Unit): Unit =
    if (rebuildState) ckpts.foreach { case (ckptFs, ckptPath, checkpoint) =>
      if (ckptFs.exists(ckptPath)) {
        ckptFs.delete(ckptPath, true)
        note(s"$src: removed checkpoint $checkpoint — resume with " +
          "--stream-events --rebuild-state (rescan daemon) or plain " +
          "--watch-pg (changefeed; slot is the cursor)")
      }
    }
}
