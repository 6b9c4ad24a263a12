package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.sinks.{PgMerge, PgWireClient}

/** The replication-slot lifecycle (`graft.Main slots`) as a library call
  * (VERDICT r16 #2 — an orphaned `graft_cf_*` slot retains WAL FOREVER;
  * PostgreSQL never drops one on its own, and the watch path
  * deliberately never auto-drops either, because only the logs' markers
  * know which slot is whose).
  *
  * [[gc]] lists every slot under the prefix on the server with its
  * retained-WAL lag, cross-checks each `graft_cf_*` slot against the
  * `_graft_changefeed` markers under the given `--out` dirs' event
  * logs, and — ONLY when asked — drops the slots no marker claims. A
  * claimed slot is never dropped, and orphan-hood is only provable
  * relative to the dirs given: the report says so loudly, since a log
  * dir not listed still owns its slot.
  */
object Slots {

  /** How a slot relates to the given logs. */
  sealed trait Claim
  /** Named by the markers of these log dirs. */
  final case class Claimed(dirs: Seq[String]) extends Claim
  /** No marker yet, but a handoff lock of its watch group is present. */
  case object Locked extends Claim
  /** A `graft_cf_*` slot no given marker claims. */
  case object Orphan extends Claim
  /** Not a watch-group slot: no marker can ever prove it orphaned. */
  case object Unclaimable extends Claim

  /** One slot on the server: `active` and the retained WAL as the server
    * prints them. */
  final case class Slot(name: String, active: String, retainedWal: String,
      claim: Claim)

  /** One GC pass: the server's slots, claims naming slots the server
    * lacks, `--out` dirs without an events dir, and what was dropped or
    * could not be. */
  final case class Report(prefix: String, dropOrphans: Boolean,
      slots: Seq[Slot], missing: Seq[(String, Seq[String])],
      noLogs: Seq[String], dropped: Seq[String],
      dropFailures: Seq[(String, String)]) {

    def orphans: Seq[String] = slots.collect { case Slot(n, _, _, Orphan) => n }

    /** The report as `graft.Main slots` prints it. */
    def lines: Seq[String] =
      noLogs.map(out => s"note — $out/events does not exist (no logs, no claims)") ++
      (if (slots.isEmpty) Seq(s"no $prefix* slots on this server") else Nil) ++
      slots.map { s =>
        val tail = s"retained-wal ${s.retainedWal}  active ${s.active}"
        s.claim match {
          case Unclaimable =>
            s"${s.name}  UNCLAIMABLE by markers (not a watch-group " +
              "slot; its owner is whichever stream named it — never " +
              s"auto-dropped)  $tail"
          case Claimed(dirs) => s"${s.name}  CLAIMED by ${dirs.mkString(", ")}  $tail"
          case Locked =>
            s"${s.name}  HANDOFF LOCK PRESENT (in progress, or a " +
              "crashed first run — not droppable; remove the lock to " +
              s"make it GC-able)  $tail"
          case Orphan =>
            s"${s.name}  ORPHAN (no marker in the given --out dirs)  $tail"
        }
      } ++
      missing.map { case (s, dirs) =>
        s"$s  MISSING on server but claimed by ${dirs.mkString(", ")}" } ++
      (if (orphans.isEmpty) Nil
       else if (!dropOrphans)
         Seq(s"${orphans.size} orphan(s) retaining WAL — rerun with " +
           "--drop-orphans to drop them. CAUTION: orphan-hood is only " +
           "provable against the --out dirs listed; a watch log NOT " +
           "passed here still owns its slot")
       else orphans.flatMap { s =>
         if (dropped.contains(s)) Some(s"dropped $s")
         else dropFailures.collectFirst { case (`s`, m) => s"could not drop $s: $m" }
       })
  }

  /** Classify the server's `prefix*` slots against the markers under
    * `outs` (read through `hadoopConf`: pass the session's, so a remote
    * `--out` configured through `spark.hadoop.*` is seen) and, with
    * `dropOrphans`, drop the provable orphans. Raw `mode=changefeed`
    * slots (default `graft_slot`, or user-named under the prefix) retain
    * WAL the same way but have no marker: they are listed, never
    * dropped. */
  def gc(hadoopConf: Configuration, target: PgMerge.PgTarget,
      outs: Seq[String], prefix: String = "graft_",
      dropOrphans: Boolean = false): Report = {
    // an IN-PROGRESS handoff (lock taken, markers not yet committed)
    // owns a slot that no marker claims yet — dropping it as an
    // "orphan" would kill the handoff mid-seed. The lock file names
    // the group digest; its slots are protected, never dropped.
    val inProgressDigests: Set[String] = outs.flatMap { out =>
      val p = new Path(out)
      val fs = p.getFileSystem(hadoopConf)
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.map(_.getPath.getName).collect {
        case n if n.startsWith("._graft_handoff_") && n.endsWith(".lock") =>
          n.stripPrefix("._graft_handoff_").stripSuffix(".lock")
      }
    }.toSet
    // which slots do the given logs CLAIM? marker layout:
    // $out/events/<sub>/_graft_changefeed, first line = slot name
    val noLogs = outs.filterNot(out => Scan.hExists(hadoopConf, s"$out/events"))
    val claims: Map[String, Seq[String]] = outs.diff(noLogs).flatMap { out =>
      val events = new Path(s"$out/events")
      val fs = events.getFileSystem(hadoopConf)
      fs.listStatus(events).toSeq.filter(_.isDirectory).flatMap { st =>
        WatchPg.readMarkerContent(fs, new Path(st.getPath, "_graft_changefeed"))
          .map(_.linesIterator.toVector.headOption.getOrElse(""))
          .filter(_.nonEmpty)
          .map(slot => slot -> st.getPath.toString)
      }
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val c = target.connect()
    try {
      val slots = c.query(
        "SELECT slot_name, active::text, coalesce(pg_size_pretty(" +
          "pg_wal_lsn_diff(pg_current_wal_lsn(), restart_lsn)), '?') " +
          "FROM pg_replication_slots " +
          s"WHERE starts_with(slot_name, " +
          s"${PgWireClient.sqlLit(prefix)}) ORDER BY slot_name")
        .filter(_.nonEmpty).map { r =>
          val slot = r(0).get
          val digest = slot.stripPrefix("graft_cf_").takeWhile(_ != '_')
          val claim =
            if (!slot.startsWith("graft_cf_")) Unclaimable
            else claims.get(slot).map(Claimed(_))
              // in-progress OR crashed-mid-handoff: either way the lock
              // holder's redo guidance owns this slot's fate, not the GC
              .getOrElse(if (inProgressDigests(digest)) Locked else Orphan)
          Slot(slot, r(1).get, r(2).get, claim)
        }
      // claims that point at slots the server no longer has are worth a
      // line too (the watch path refuses them loudly at its next run).
      // Only claims INSIDE the prefix: a narrowed prefix filters the
      // server listing, and a claim outside it would otherwise be
      // reported missing while alive and well.
      val missing = claims.keySet.filter(_.startsWith(prefix))
        .diff(slots.map(_.name).toSet).toSeq.map(s => s -> claims(s))
      val report = Report(prefix, dropOrphans, slots, missing, noLogs,
        Nil, Nil)
      if (!dropOrphans) report
      else {
        // an ACTIVE slot is being streamed right now — PostgreSQL
        // refuses the drop server-side; report that instead of dying
        val results = report.orphans.map { s =>
          try {
            c.query(s"SELECT pg_drop_replication_slot(${PgWireClient.sqlLit(s)})")
            Right(s)
          } catch { case e: java.sql.SQLException => Left(s -> e.getMessage) }
        }
        report.copy(dropped = results.collect { case Right(s) => s },
          dropFailures = results.collect { case Left(f) => f })
      }
    } finally c.close()
  }
}
