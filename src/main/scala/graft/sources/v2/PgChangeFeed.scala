package graft.sources.v2

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sinks.{PgMerge, PgWireClient}
import graft.sinks.PgMerge.PgTarget

/** INCREMENTAL change feed over `external_file` — PostgreSQL logical
  * decoding (the public `pgoutput` plugin + replication-slot SQL
  * functions) as a Spark micro-batch source, the O(changes) complement
  * to the `graft-pg` rescan watch (VERDICT r15 #4 shipped the rescan;
  * this closes its scale hole: a 10⁸-row table costs a full read per
  * trigger under rescan, but only its CHANGED rows here).
  *
  *   spark.readStream.format("graft-pg")
  *     .option("url", …).option("mode", "changefeed").load()
  *
  * Offsets are WAL positions (LSNs): `latestOffset` is
  * `pg_current_wal_lsn()`, each batch drains the slot up to its end
  * LSN via `pg_logical_slot_peek_binary_changes` (PEEK — replaying a
  * failed batch re-reads the same changes), and `commit` advances the
  * slot (`pg_replication_slot_advance`), releasing WAL. Delivery is
  * at-least-once on the commit edge (a crash between Spark's commit
  * and the slot advance re-delivers one batch — the same contract as
  * the rescan watch, absorbed by consumer-side compaction).
  *
  * The feed decodes the pgoutput binary stream from its PUBLIC wire
  * spec ("Logical Streaming Replication Message Formats", protocol
  * version 1 — tuple values arrive in TEXT form, so the existing
  * column converters apply). Transactions surface in COMMIT order;
  * `action` is insert/update/delete/truncate, row columns carry the
  * NEW image (updates/inserts) or the OLD image (deletes — complete,
  * because the bootstrap sets `REPLICA IDENTITY FULL`: the table's
  * unique constraint has nullable columns, which PostgreSQL rejects
  * as an identity index). The old image is USED, not just carried: an
  * update that moves the file identity (rename) emits delete(old) +
  * update(new) so compaction never keeps a phantom row, and an
  * unchanged out-of-line (TOASTed) value arriving as `u` resolves
  * from it instead of aliasing to SQL NULL ([[PgChangeFeed.Decoder]]).
  *
  * Bootstrap (idempotent, at stream start): a publication for the
  * table, `REPLICA IDENTITY FULL`, and the named logical slot. Needs
  * `wal_level=logical` and a role with REPLICATION — both documented
  * server-side requirements, checked loudly. An UNUSED slot retains
  * WAL forever: drop it (`pg_drop_replication_slot`) when the watch is
  * decommissioned. For a CONSISTENT start (state + changes with no
  * loss and no double-count), create the slot with
  * [[PgChangeFeed.bootstrapSnapshot]] and batch-read under its
  * exported snapshot first. `maxchangespertrigger` bounds each batch
  * at commit boundaries — a backlog drains as N bounded batches.
  */
object PgChangeFeed {

  val schema: StructType = StructType(
    Seq(
      StructField("action", StringType, nullable = false),
      StructField("lsn", LongType, nullable = false),
      StructField("committed", TimestampType)) ++ PgMerge.readSchema.fields)

  /** `X/Y` (two hex words) ↔ the 64-bit WAL position. */
  def parseLsn(s: String): Long = {
    val (hi, lo) = s.span(_ != '/')
    (java.lang.Long.parseLong(hi, 16) << 32) |
      java.lang.Long.parseLong(lo.tail, 16)
  }

  def formatLsn(lsn: Long): String =
    f"${lsn >>> 32}%X/${lsn & 0xffffffffL}%X"

  def fromHex(s: String): Array[Byte] = {
    require(s.length % 2 == 0, s"odd hex length ${s.length}")
    val out = new Array[Byte](s.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = ((Character.digit(s.charAt(2 * i), 16) << 4) |
        Character.digit(s.charAt(2 * i + 1), 16)).toByte
      i += 1
    }
    out
  }

  /** One decoded change of the watched table: the action, the commit
    * timestamp (unix micros) of its transaction, and the column values
    * POSITIONALLY against `cols` (the relation's column layout — one
    * shared Vector instance per Relation message, so consumers can
    * cache layout-derived indices on reference identity). TEXT form,
    * None = SQL NULL; both empty for truncate. Positional, not a Map
    * (r17): building + probing an 8-entry string-keyed Map per change
    * was measured as a significant slice of the single-connection
    * drain's per-row cost. */
  final case class Change(action: String, commitTsMicros: Long,
      cols: Vector[String], colVals: Vector[Option[String]]) {
    /** Column values by name — adapter/spec convenience; the hot reader
      * path indexes `colVals` through a cached layout mapping instead. */
    def values: Map[String, Option[String]] =
      cols.iterator.zip(colVals.iterator).toMap
  }

  /** Stateful pgoutput (protocol version 1) message decoder — PURE
    * (offline-testable against captured frames): Relation messages
    * register column layouts, Begin carries the transaction's commit
    * timestamp, Insert/Update/Delete/Truncate emit [[Change]]s for the
    * relation `namespace.tableName` (BOTH matched — a same-named table
    * in another schema published alongside would otherwise feed its
    * rows in silently, review r16). Unknown message tags fail LOUDLY —
    * silent protocol drift would silently drop changes.
    *
    * Update semantics (review r16): the REPLICA IDENTITY FULL old
    * image is USED, not discarded — (a) an unchanged out-of-line
    * (TOASTed) column arrives as `u` in the NEW image and is resolved
    * from the old one (aliasing it to SQL NULL would corrupt state
    * downstream); (b) an update that CHANGES a key column (`keyCols` —
    * the file identity) emits TWO changes, a delete of the old
    * identity then the update under the new one, so a rename never
    * leaves a phantom live row in the compacted state. */
  final class Decoder(tableName: String, namespace: String = "public",
      keyCols: Seq[String] = Seq("external_source", "path", "filename")) {
    // oid → (namespace, relname, column layout, key-column indices —
    // the positions of `keyCols` in the layout, -1 when absent)
    private val relations =
      mutable.Map.empty[Int, (String, String, Vector[String], Array[Int])]
    private var commitTs = 0L // unix micros of the current tx's commit

    // pgoutput timestamps are micros since 2000-01-01T00:00:00Z
    private val pgEpochMicros = 946684800000000L

    private final class Cursor(b: Array[Byte]) {
      var i = 0
      def u8(): Int = { val v = b(i) & 0xff; i += 1; v }
      def i16(): Int = { (u8() << 8) | u8() }
      def i32(): Int = { (i16() << 16) | (i16() & 0xffff) }
      def i64(): Long = { ((i32().toLong) << 32) | (i32().toLong & 0xffffffffL) }
      def cstr(): String = {
        val start = i
        while (b(i) != 0) i += 1
        val s = new String(b, start, i - start,
          java.nio.charset.StandardCharsets.UTF_8)
        i += 1
        s
      }
      def bytes(n: Int): Array[Byte] = {
        val out = java.util.Arrays.copyOfRange(b, i, i + n); i += n; out
      }
      def hasMore: Boolean = i < b.length
    }

    // the REAL remediation, not "restart" (ADVICE r16): key-only
    // frames already logged before the identity was restored to FULL
    // sit at-or-past confirmed_flush_lsn and re-decode on every
    // restart — a restart alone crash-loops on this same error. The
    // slot has to move PAST the offending window, accepting a fresh
    // handoff for the skipped changes.
    private def keyOnlyMsg: String =
      "pgoutput: key-only old image — the watched table's REPLICA " +
        "IDENTITY is no longer FULL (flipped mid-stream?). " +
        "Restarting alone CANNOT recover: these frames are already in " +
        "the WAL and re-decode on every restart. Skip them by " +
        "advancing the slot past the offending window " +
        "(pg_replication_slot_advance to pg_current_wal_lsn()) or drop " +
        "the slot and redo a fresh snapshot handoff — either way the " +
        "skipped window's changes must come from a re-seed, not the feed"

    private sealed trait Cell
    private case object CNull extends Cell
    private case object CUnchanged extends Cell
    private final case class CText(v: String) extends Cell

    /** TupleData: Int16 ncols, then per column `n` (NULL), `u`
      * (unchanged out-of-line value — NOT a NULL: resolved from the
      * old image by the caller), or `t` + Int32 length + TEXT bytes. */
    private def tuple(c: Cursor): Vector[Cell] = {
      val n = c.i16()
      Vector.fill(n) {
        c.u8().toChar match {
          case 'n' => CNull
          case 'u' => CUnchanged
          case 't' =>
            val len = c.i32()
            CText(new String(c.bytes(len),
              java.nio.charset.StandardCharsets.UTF_8))
          case other => throw new IllegalStateException(
            s"pgoutput: unknown tuple column kind '$other'")
        }
      }
    }

    /** Resolve cells to values; `u` carries FORWARD from `old` (the
      * complete REPLICA IDENTITY FULL image) and fails loudly when no
      * usable old image exists — silently aliasing an unchanged TOAST
      * value to SQL NULL would corrupt every consumer downstream. */
    private def resolved(cells: Vector[Cell],
        old: Option[Vector[Option[String]]]): Vector[Option[String]] =
      cells.zipWithIndex.map {
        case (CText(v), _) => Some(v)
        case (CNull, _) => None
        case (CUnchanged, i) => old match {
          case Some(o) => o(i)
          case None => throw new IllegalStateException(
            "pgoutput: unchanged-TOAST column with no complete old " +
              "image — the feed requires REPLICA IDENTITY FULL")
        }
      }

    private def isWatched(relId: Int): Boolean =
      relations.get(relId) match {
        case Some((ns, name, _, _)) => name == tableName && ns == namespace
        case None => throw new IllegalStateException(
          s"pgoutput: change for unregistered relation $relId " +
            "(Relation message not seen)")
      }

    /** Decode ONE pgoutput message; emits 0, 1, or 2 [[Change]]s (2:
      * an identity-changing update = delete of the old identity + the
      * update under the new one). */
    def feed(data: Array[Byte]): Seq[Change] = {
      val c = new Cursor(data)
      c.u8().toChar match {
        case 'B' => // Begin: final_lsn(8) commit_ts(8) xid(4)
          c.i64()
          commitTs = c.i64() + pgEpochMicros
          Nil
        case 'C' => Nil // Commit: flags/lsns/ts — nothing to emit
        case 'R' => // Relation: oid ns relname replident ncols cols…
          val oid = c.i32()
          val ns = c.cstr()
          val name = c.cstr()
          c.u8() // replica identity
          val ncols = c.i16()
          val cols = Vector.fill(ncols) {
            c.u8() // per-column flags
            val col = c.cstr()
            c.i32(); c.i32() // type oid, typmod
            col
          }
          relations(oid) = (ns, name, cols, keyCols.map(cols.indexOf).toArray)
          Nil
        case 'I' => // Insert: oid 'N' tuple
          val oid = c.i32()
          // unwatched first (review r18): a foreign table published
          // alongside must never reach the tuple parse OR the identity
          // checks below — its frames are none of this feed's business
          if (!isWatched(oid)) Nil
          else {
            require(c.u8().toChar == 'N',
              "pgoutput: Insert without new tuple")
            val cells = tuple(c)
            Seq(Change("insert", commitTs, relations(oid)._3,
              resolved(cells, None)))
          }
        case 'U' => // Update: oid ['K'|'O' old-tuple] 'N' new-tuple
          val oid = c.i32()
          // unwatched first (review r18): before this reorder, a
          // foreign table with DEFAULT replica identity crash-looped
          // the stream on its key-only 'K' old image — with a
          // remediation message naming the WATCHED table
          if (!isWatched(oid)) Nil
          else {
            var kind = c.u8().toChar
            // 'O' = the complete old row (REPLICA IDENTITY FULL — what
            // this feed bootstraps and depends on). A key-only 'K' old
            // tuple means the identity was flipped mid-stream: its
            // absent columns are indistinguishable from SQL NULL, so
            // continuing risks either a phantom old row (ignore it) or a
            // null-identity tombstone (use it) — fail LOUDLY instead
            // (review r16). Remediation (ADVICE r16): re-bootstrapping
            // FULL only affects FUTURE WAL — the key-only frames already
            // past confirmed_flush_lsn re-decode on every restart, so a
            // plain restart crash-loops; the slot must skip them.
            if (kind == 'K') throw new IllegalStateException(keyOnlyMsg)
            val old: Option[Vector[Option[String]]] =
              if (kind == 'O') {
                val cells = tuple(c)
                kind = c.u8().toChar
                Some(resolved(cells, None))
              } else None
            require(kind == 'N', s"pgoutput: Update tuple kind '$kind'")
            val cells = tuple(c)
            val (_, _, cols, keyIdx) = relations(oid)
            val now = resolved(cells, old)
            val renamed = old.exists(o =>
              keyIdx.exists(i => i >= 0 && o(i) != now(i)))
            if (renamed)
              Seq(Change("delete", commitTs, cols, old.get),
                Change("update", commitTs, cols, now))
            else Seq(Change("update", commitTs, cols, now))
          }
        case 'D' => // Delete: oid ('K'|'O') old-tuple
          val oid = c.i32()
          if (!isWatched(oid)) Nil // unwatched first, as in 'U'
          else {
            val kind = c.u8().toChar
            // same contract as Update: a key-only old image would emit a
            // delete with null identity columns, which the adapters drop
            // SILENTLY — a missed deletion, not a degraded one
            if (kind == 'K') throw new IllegalStateException(keyOnlyMsg)
            require(kind == 'O', s"pgoutput: Delete tuple kind '$kind'")
            val cells = tuple(c)
            Seq(Change("delete", commitTs, relations(oid)._3,
              resolved(cells, None)))
          }
        case 'T' => // Truncate: nrels(4) options(1) oids…
          val nrels = c.i32()
          c.u8()
          val oids = Vector.fill(nrels)(c.i32())
          if (oids.exists(o => relations.get(o).exists(r =>
            r._2 == tableName && r._1 == namespace)))
            Seq(Change("truncate", commitTs, Vector.empty, Vector.empty))
          else Nil
        case 'Y' | 'O' | 'M' => Nil // Type / Origin / Message: skip
        case other => throw new IllegalStateException(
          s"pgoutput: unknown message tag '$other' — protocol drift " +
            "must be loud, not silently dropped")
      }
    }
  }

  /** Compact a (batch-read) changefeed frame into current row state:
    * last change per file identity in LSN order wins, deletes drop the
    * row, and a TRUNCATE resets everything before it — one hash
    * exchange at any feed size, the changefeed twin of
    * [[graft.streaming.ScrapeTws.snapshotOf]]. The result carries the
    * table columns only (current live rows as of the feed's horizon);
    * rows never touched since the slot was created are NOT in the feed
    * — union with a batch read for full state. */
  def compact(feed: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val tl = feed.filter(col("action") === "truncate")
      .agg(max("lsn").as("graft_trunc_lsn"))
    val alive = feed.crossJoin(broadcast(tl))
      .filter(col("action") =!= "truncate" &&
        (col("graft_trunc_lsn").isNull ||
          col("lsn") > col("graft_trunc_lsn")))
      .drop("graft_trunc_lsn")
    val w = Window
      .partitionBy("external_source", "path", "filename")
      .orderBy(col("lsn").desc)
    alive
      .withColumn("graft_rn", row_number().over(w))
      .filter(col("graft_rn") === 1 && col("action") =!= "delete")
      .drop("graft_rn", "action", "lsn", "committed")
  }

  /** The feed's server-side prerequisites, idempotent — shared by the
    * stream bootstrap and the snapshot handoff (which must run these
    * BEFORE its slot exists: REPLICA IDENTITY decides what the handoff
    * window's UPDATE/DELETE statements log, and PostgreSQL rejects
    * UPDATE/DELETE outright on a published table with no identity). */
  private[v2] def ensureFeedObjects(c: PgWireClient, pub: String): Unit = {
    require(c.queryOne("SHOW wal_level").contains("logical"),
      "graft-pg changefeed needs wal_level=logical " +
        "(ALTER SYSTEM SET wal_level='logical' + restart)")
    if (c.queryOne("SELECT count(*) FROM pg_publication " +
      s"WHERE pubname = ${PgWireClient.sqlLit(pub)}").contains("0"))
      c.exec(s"CREATE PUBLICATION $pub FOR TABLE ${PgMerge.table}")
    // U/D events need an old image; the unique constraint's columns are
    // nullable, so FULL is the only identity PostgreSQL accepts here
    if (!c.queryOne("SELECT relreplident FROM pg_class WHERE oid = " +
      s"'${PgMerge.table}'::regclass").contains("f"))
      c.exec(s"ALTER TABLE ${PgMerge.table} REPLICA IDENTITY FULL")
  }

  /** A consistent batch↔changefeed handoff (the CDC bootstrap problem):
    * a slot created AFTER a batch read misses the window's changes; one
    * created before double-counts them. [[bootstrapSnapshot]] closes the
    * window exactly — the slot is created through the REPLICATION
    * protocol's `CREATE_REPLICATION_SLOT … EXPORT_SNAPSHOT` (protocol
    * docs "Streaming Replication Protocol"), which EXPORTS the slot's
    * consistent snapshot: while this handle stays open, any number of
    * sessions — including every shard of a `graft-pg` batch read via
    * `.option("snapshot", handle.snapshotName)` — adopt it with `SET
    * TRANSACTION SNAPSHOT` and see EXACTLY the state the feed starts
    * after. state(snapshot) + changes(slot) loses nothing and doubles
    * nothing, by the server's own MVCC guarantee rather than by timing.
    *
    * The exported snapshot lives until this handle closes (and the
    * handle's connection must execute nothing else — the server
    * invalidates the export on its next command), so: bootstrap →
    * batch-read under the snapshot → close → stream the slot. The slot
    * itself persists for the changefeed. */
  /** `originMs`: a server-clock instant taken at-or-before the slot's
    * consistent point — seed events stamped with it (and `event_seq` 0)
    * compact strictly BELOW every feed event, whose `event_ms` is a
    * commit time at-or-after the consistent point and whose LSN breaks
    * a same-millisecond tie. */
  final class SnapshotHandle private[v2] (repl: PgWireClient,
      val slot: String, val snapshotName: String, val consistentPoint: Long,
      val originMs: Long)
      extends AutoCloseable {
    override def close(): Unit = repl.close()
  }

  /** Create a NEW changefeed slot named `slot` with its exported
    * consistent snapshot, on the server `target` addresses, for the
    * publication `publication` (the `graft-pg` reader's own `slot` and
    * `publication` options name the same two). Fails loudly when the slot
    * already exists: an existing slot's horizon is already fixed, so a
    * consistent handoff can only start from a fresh one. */
  def bootstrapSnapshot(target: PgTarget, slot: String,
      publication: String = "graft_pub"): SnapshotHandle = {
    checkedName("slot", slot)
    val pub = checkedName("publication", publication)
    val originMs = target.withClient { ctl =>
      ensureFeedObjects(ctl, pub)
      require(ctl.queryOne("SELECT count(*) FROM pg_replication_slots " +
        s"WHERE slot_name = ${PgWireClient.sqlLit(slot)}").contains("0"),
        s"graft-pg changefeed: slot '$slot' already exists — the " +
          "snapshot bootstrap hands off from a FRESH slot (drop the old " +
          "one with pg_drop_replication_slot, or resume the existing " +
          "feed without a bootstrap)")
      // server clock BEFORE the slot exists: every feed commit is later
      ctl.queryOne(
        "SELECT (extract(epoch FROM now()) * 1000)::bigint").get.toLong
    }
    // the walsender session: CREATE_REPLICATION_SLOT responds over the
    // normal result-set messages, so the plain query path reads it
    // (connect(): the same bounded connect-phase retry as every other
    // engine connection)
    val repl = target.connect(Seq("replication" -> "database"))
    try {
      // legacy keyword form: accepted by every version with logical
      // decoding (the option-list form only appeared in PG 15)
      val row = repl.query(
        s"CREATE_REPLICATION_SLOT $slot LOGICAL pgoutput EXPORT_SNAPSHOT")
        .head
      // slot_name, consistent_point, snapshot_name, output_plugin
      new SnapshotHandle(repl, slot,
        row(2).getOrElse(throw new IllegalStateException(
          "CREATE_REPLICATION_SLOT returned no snapshot name")),
        parseLsn(row(1).get), originMs)
    } catch { case e: Throwable => repl.close(); throw e }
  }

  /** One connection + the checked slot name, run `f`, close — the shared
    * preamble of the slot utilities. */
  private def withSlotConn[A](target: PgTarget, slot: String)(
      f: (PgWireClient, String) => A): A = {
    val checked = checkedName("slot", slot)
    target.withClient(f(_, checked))
  }

  /** Does the named slot exist? The resume-vs-handoff decision for a
    * changefeed consumer. */
  def slotExists(target: PgTarget, slot: String): Boolean =
    withSlotConn(target, slot)((c, slot) =>
      c.queryOne("SELECT count(*) FROM pg_replication_slots " +
        s"WHERE slot_name = ${PgWireClient.sqlLit(slot)}").contains("1"))

  /** Drop the named slot if it exists (releasing its retained WAL) —
    * the failed-handoff cleanup and the orphan-GC primitive. Returns
    * whether a slot was dropped. */
  def dropSlot(target: PgTarget, slot: String): Boolean =
    withSlotConn(target, slot)((c, slot) =>
      c.queryOne("SELECT count(pg_drop_replication_slot(slot_name)) " +
        "FROM pg_replication_slots WHERE slot_name = " +
        PgWireClient.sqlLit(slot)).contains("1"))

  /** Retained-WAL bytes behind the named slot —
    * `pg_wal_lsn_diff(pg_current_wal_lsn(), restart_lsn)` — the
    * disk-filling failure-mode gauge (VERDICT r17 #4): a slot whose
    * confirms lag pins every WAL segment since its `restart_lsn` on the
    * SERVER's disk. None when the slot does not exist (or the column is
    * unexpectedly null). */
  def retainedWalBytes(target: PgTarget, slot: String): Option[Long] =
    withSlotConn(target, slot)(retainedWalBytes)

  /** Core form over a caller-owned connection — the watch daemon's
    * per-trigger monitor reuses one long-lived connection instead of
    * reconnecting. */
  def retainedWalBytes(c: PgWireClient, slot: String): Option[Long] =
    c.query("SELECT pg_wal_lsn_diff(pg_current_wal_lsn(), " +
      "restart_lsn)::text FROM pg_replication_slots WHERE slot_name = " +
      PgWireClient.sqlLit(checkedName("slot", slot)))
      .headOption.flatMap(_.headOption.flatten).flatMap(_.toLongOption)

  /** Existing slots whose name starts with `prefix` (`starts_with`, not
    * LIKE — a slot-charset prefix is full of `_` wildcards) — the
    * other-logs'-cursors / orphaned-slot visibility surface for
    * per-log slot naming. */
  def siblingSlots(target: PgTarget, prefix: String): Seq[String] =
    target.withClient(c =>
      c.query("SELECT slot_name FROM pg_replication_slots " +
        s"WHERE starts_with(slot_name, ${PgWireClient.sqlLit(prefix)}) " +
        "ORDER BY slot_name").flatMap(_.headOption.flatten))

  /** [[graft.streaming.ScrapeTws.genUuid]] as a column — the
    * md5-over-joined-triple deterministic surrogate, bit-identical to
    * the batch and daemon paths. */
  private def uuidCol: org.apache.spark.sql.Column =
    graft.streaming.ScrapeTws.uuidCol // ONE copy of the surrogate (r18)

  /** The feed in the engine's CHANGE-EVENT dialect — the exact schema
    * [[graft.streaming.ScrapeTws.changeStream]] emits — so a PG-backed
    * watch swaps from the rescan daemon (O(table) per trigger) to the
    * changefeed (O(changes)) without touching any consumer: the same
    * parquet event log, the same [[graft.streaming.ScrapeTws.snapshotOf]]
    * compaction.
    *
    * Mapping: actions reflect the ROW outcome — a new image carrying a
    * tombstone IS a "delete" (the publish path tombstones by UPDATE),
    * and a physical DELETE (old image, REPLICA IDENTITY FULL) becomes a
    * tombstone AT its commit time; "insert"/"update" otherwise (the
    * stateless adapter labels the row operation, not the seen-set
    * transition — compaction only orders by `(event_ms, event_seq)` and
    * reads `deleted_ms`, so the snapshot is identical either way).
    * `event_ms` is the transaction commit time; `event_seq` is the LSN,
    * globally monotone hence per-key monotone — commit order IS the
    * compaction order. `uuid_external_file` is the engine's
    * deterministic surrogate (bit-identical to the batch and daemon
    * paths). TRUNCATE has no per-file expression: it fails the stream
    * LOUDLY instead of silently un-recording a table wipe. Rows of
    * other sources are dropped — run one adapted feed per source,
    * exactly like the daemon's one-query-per-source contract. */
  def asScrapeEvents(feed: org.apache.spark.sql.DataFrame,
      source: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    feed
      .filter(when(col("action") === "truncate", raise_error(lit(
        "PgChangeFeed.asScrapeEvents: TRUNCATE of the watched table " +
          "cannot be expressed as per-file change events — rebuild " +
          "consumers from a fresh snapshot handoff")))
        .otherwise(col("external_source") === lit(source)))
      .select(
        uuidCol.as("uuid_external_file"),
        col("external_source"), col("path"), col("filename"),
        col("mime_type"),
        unix_millis(col("created")).as("created_ms"),
        unix_millis(col("modified")).as("modified_ms"),
        col("size"),
        when(col("action") === "delete",
          coalesce(unix_millis(col("deleted")), unix_millis(col("committed"))))
          .otherwise(unix_millis(col("deleted"))).as("deleted_ms"),
        when(col("action") === "delete" || col("deleted").isNotNull,
          "delete").otherwise(col("action")).as("action"),
        unix_millis(col("committed")).as("event_ms"),
        col("lsn").as("event_seq"))
  }

  /** A batch-read STATE frame ([[PgMerge.readSchema]] shape — e.g. the
    * snapshot-handoff read) as seed rows of the same change-event log
    * [[asScrapeEvents]] appends to: live rows become "insert" events,
    * tombstoned rows "delete" events, all stamped `(originMs, seq 0)`
    * ([[SnapshotHandle.originMs]]) so every subsequent feed event
    * out-compacts them. `snapshotOf(seed ∪ feed)` then equals the
    * table — history AND changes, one log. */
  def stateAsScrapeEvents(state: org.apache.spark.sql.DataFrame,
      originMs: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    state.select(
      uuidCol.as("uuid_external_file"),
      col("external_source"), col("path"), col("filename"),
      col("mime_type"),
      unix_millis(col("created")).as("created_ms"),
      unix_millis(col("modified")).as("modified_ms"),
      col("size"),
      unix_millis(col("deleted")).as("deleted_ms"),
      when(col("deleted").isNotNull, "delete").otherwise("insert")
        .as("action"),
      lit(originMs).as("event_ms"),
      lit(0L).as("event_seq"))
  }

  /** Valid slot/publication identifier (travels into engine-generated
    * SQL): PostgreSQL replication-slot charset. */
  private[graft] def checkedName(kind: String, n: String): String = {
    require(n.nonEmpty && n.forall(ch =>
      ch == '_' || Character.isLetterOrDigit(ch) && ch < 0x80) &&
      !Character.isDigit(n.head) && n == n.toLowerCase,
      s"graft-pg changefeed: $kind name must be lower_snake_case " +
        s"([a-z0-9_], not starting with a digit), got '$n'")
    n
  }
}

private[v2] case class LsnOffset(lsn: Long) extends Offset {
  override def json(): String = lsn.toString
}

private[v2] class PgChangeFeedScan(target: PgTarget, slot: String,
    pub: String, maxChanges: Option[Long]) extends Scan {
  override def readSchema(): StructType = PgChangeFeed.schema
  override def description(): String =
    s"graft-pg changefeed ${target.host}:${target.port}/${target.database} " +
      s"slot=$slot publication=$pub" +
      maxChanges.map(n => s" maxChangesPerTrigger=$n").getOrElse("")
  override def toMicroBatchStream(
      checkpointLocation: String): MicroBatchStream =
    new PgChangeFeedStream(target, slot, pub, maxChanges)
}

/** LSN-offset micro-batch stream over the logical slot. The driver
  * holds ONE control connection (offsets, slot bootstrap, advance);
  * each batch's single partition drains the slot on an executor
  * connection. One partition by design: logical decoding is a single
  * ordered stream — sharding happens downstream of the feed.
  *
  * Admission control: `maxchangespertrigger` bounds each micro-batch —
  * after a long stop (or against a hot table) the backlog arrives as N
  * bounded batches instead of one arbitrarily large one. The bound is
  * found with a `upto_nchanges` PEEK whose max row LSN is, by
  * construction, the LAST COMPLETE transaction's commit LSN (the server
  * finishes the transaction it is decoding before honoring the bound,
  * and a subsequent `upto_lsn` peek includes exactly the transactions
  * committing at-or-before that LSN — both pinned live by the spec), so
  * batches always cut at commit boundaries. Approximate by design: one
  * transaction larger than the bound still arrives whole, and the count
  * includes the begin/commit/relation protocol rows. Costs one extra
  * server-side decode of the bounded window per trigger.
  *
  * Why NOT pgoutput protocol v2 in-progress streaming (VERDICT r16 #6,
  * investigated and pinned empirically r17): proto v1 never emits
  * stream messages — even at `logical_decoding_work_mem = 64kB` a
  * 100k-row transaction peeks as B/C/I/R only (the server spills its
  * reorder buffer to disk instead). With `proto_version '2', streaming
  * 'on'` the same peek emits 511 Stream Start/Stop chunk pairs — AND
  * leaks chunks of transactions that have not committed yet (measured:
  * 49,980 rows of a still-open transaction arrived in a peek). Under
  * this source's PEEK-replay model the slot only advances at commit
  * boundaries, so an open bulk-load's chunks would re-ship on EVERY
  * trigger until it commits — O(size × triggers) transport where v1
  * ships once, after commit — while the client must buffer per-xid in
  * heap (the commit timestamp every emitted row needs arrives only in
  * Stream Commit) or drop-and-re-read. v2 streaming trades the
  * server's bounded disk spill for unbounded client heap plus repeated
  * wire shipping: a net loss for this architecture, documented here
  * instead of implemented. */
private[v2] class PgChangeFeedStream(target: PgTarget, slot: String,
    pub: String, maxChanges: Option[Long]) extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxRows}

  override def getDefaultReadLimit: ReadLimit =
    maxChanges.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  // Trigger.AvailableNow (review r16): WITHOUT this interface Spark
  // falls back to a SINGLE unbounded batch (SingleBatchExecutor pairs
  // the source with ReadLimit.allAvailable), silently bypassing
  // maxchangespertrigger in exactly the one-shot mode a backlog drain
  // uses. With it, batches stay bounded and the run terminates at the
  // WAL horizon captured here — changes committing after the capture
  // wait for the next invocation.
  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    ready
    availableNowTarget = Some(PgChangeFeed.parseLsn(
      one("SELECT pg_current_wal_lsn()").get))
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    ready
    val startLsn = start.asInstanceOf[LsnOffset].lsn
    // under AvailableNow every end offset is capped at the prepared
    // horizon, and the run terminates when it is reached (no-progress)
    def capped(end: Long): Offset =
      LsnOffset(availableNowTarget.fold(end)(t =>
        math.max(math.min(end, t), startLsn)))
    limit match {
      case mr: ReadMaxRows =>
        // the peek always reads from the slot's confirmed position, but
        // Spark only calls commit() when a NEW batch runs — and under a
        // bound, "new data exists" is itself answered by this peek. Left
        // at the old position the peek re-counts the last batch forever
        // and the stream deadlocks after one batch. Advance to `start`
        // first: everything at-or-before it is durably processed (it is
        // the completed end of the previous batch — a replayed batch
        // re-peeks (start, end], which this never releases).
        advanceTo(startLsn)
        one("SELECT max(lsn)::text FROM pg_logical_slot_peek_binary_changes(" +
          s"${PgWireClient.sqlLit(slot)}, NULL, ${mr.maxRows}, " +
          "'proto_version', '1', 'publication_names', " +
          s"${PgWireClient.sqlLit(pub)})") match {
          case Some(lsn) => capped(PgChangeFeed.parseLsn(lsn))
          case None =>
            // nothing pending: no batch — except under AvailableNow,
            // where the horizon must still be REACHED to terminate
            // (one empty batch when unrelated WAL advanced past start)
            availableNowTarget.fold(start)(capped(_))
        }
      case _ =>
        availableNowTarget.fold(latestOffset())(capped(_))
    }
  }

  private var client: PgWireClient = _

  private def ctl: PgWireClient = synchronized {
    if (client == null)
      client = target.connect()
    client
  }

  private def one(sql: String): Option[String] = ctl.queryOne(sql)

  /** Idempotent feed bootstrap, run once per stream (start OR resume):
    * wal_level gate, publication, REPLICA IDENTITY FULL, the slot. A
    * slot already created by [[PgChangeFeed.bootstrapSnapshot]] is left
    * exactly where its consistent point pinned it. */
  private lazy val ready: Unit = {
    val c = ctl
    PgChangeFeed.ensureFeedObjects(c, pub)
    if (c.queryOne("SELECT count(*) FROM pg_replication_slots " +
      s"WHERE slot_name = ${PgWireClient.sqlLit(slot)}").contains("0")) {
      c.query("SELECT pg_create_logical_replication_slot(" +
        s"${PgWireClient.sqlLit(slot)}, 'pgoutput')")
      ()
    }
  }

  /** The watched table's actual schema, resolved ONCE driver-side
    * (search_path decides where the unqualified name lives): the
    * decoder matches namespace+relname, so a same-named table in
    * another schema published alongside never feeds rows in. */
  private lazy val tableNamespace: String = {
    ready
    one("SELECT n.nspname FROM pg_class c " +
      "JOIN pg_namespace n ON n.oid = c.relnamespace " +
      s"WHERE c.oid = '${PgMerge.table}'::regclass").get
  }

  override def initialOffset(): Offset = {
    ready
    LsnOffset(PgChangeFeed.parseLsn(one(
      "SELECT confirmed_flush_lsn FROM pg_replication_slots " +
        s"WHERE slot_name = ${PgWireClient.sqlLit(slot)}").get))
  }

  override def latestOffset(): Offset = {
    ready
    LsnOffset(PgChangeFeed.parseLsn(
      one("SELECT pg_current_wal_lsn()").get))
  }

  override def deserializeOffset(json: String): Offset =
    LsnOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] =
    Array(PgCdcPartition(target, slot, pub,
      end.asInstanceOf[LsnOffset].lsn, tableNamespace))

  override def createReaderFactory(): PartitionReaderFactory =
    new PgCdcReaderFactory

  /** Advance the slot's confirmed position, releasing WAL up to `lsn`.
    * Guarded — advancing backwards is a server error, and an
    * already-current slot needs no call. */
  private def advanceTo(lsn: Long): Unit = {
    val t = PgChangeFeed.formatLsn(lsn)
    one("SELECT CASE WHEN confirmed_flush_lsn < " +
      s"'$t'::pg_lsn THEN pg_replication_slot_advance(" +
      s"${PgWireClient.sqlLit(slot)}, '$t'::pg_lsn)::text END " +
      s"FROM pg_replication_slots WHERE slot_name = " +
      PgWireClient.sqlLit(slot))
    ()
  }

  /** Spark committed the batch: release the WAL up to its end (the
    * PEEK in the batch itself consumed nothing). */
  override def commit(end: Offset): Unit =
    advanceTo(end.asInstanceOf[LsnOffset].lsn)

  override def stop(): Unit = synchronized {
    if (client != null) { client.close(); client = null }
  }
}

private[v2] case class PgCdcPartition(target: PgTarget, slot: String,
    pub: String, endLsn: Long, namespace: String) extends InputPartition

private[v2] class PgCdcReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val PgCdcPartition(target, slot, pub, endLsn, namespace) = p
    new PartitionReader[InternalRow] {
      private val client = target.connect()
      private val rows =
        try {
          client.exec("SET TIME ZONE 'UTC'")
          // PEEK (not get): a replayed batch re-reads the same changes;
          // the slot only moves on the driver's commit-time advance.
          // BINARY result format (VERDICT r16 #1): `data` ships as its
          // raw bytes — the hex transport doubled the WAL volume on
          // this single ordered connection and paid a decode pass per
          // message (measured +8% drain rate on localhost; the bigger
          // r17 win was the positional decoder, +30% — PLANS.md
          // holds the layer-by-layer numbers). Binary is also
          // independent of the server's bytea_output setting, which is
          // what the hex encode existed to guarantee.
          client.queryStreamRaw(
            "SELECT lsn, data FROM " +
              s"pg_logical_slot_peek_binary_changes(" +
              s"${PgWireClient.sqlLit(slot)}, " +
              s"'${PgChangeFeed.formatLsn(endLsn)}'::pg_lsn, NULL, " +
              "'proto_version', '1', 'publication_names', " +
              s"${PgWireClient.sqlLit(pub)})")
        } catch { case e: Throwable => client.close(); throw e }

      private val decoder = new PgChangeFeed.Decoder(PgMerge.table,
        namespace)
      private val tableCols = PgMerge.readSchema.fields
      // the schema-driven text→InternalRow converters, shared with the
      // batch reader ([[PgTextCodec]] — one timestamp-parse fix lands
      // in both paths)
      private val convert = PgTextCodec.converters(PgMerge.readSchema)
      private var current: InternalRow = _
      // one message can emit up to TWO changes (an identity-changing
      // update = delete + update): drain them before the next message
      private var pending: List[(Long, PgChangeFeed.Change)] = Nil

      // pg_lsn's binary send form: one 8-byte big-endian word — the
      // same 64-bit position parseLsn derives from the X/Y text form
      private def lsnOf(b: Array[Byte]): Long =
        java.nio.ByteBuffer.wrap(b).getLong

      // schema-index → change-layout-index mapping, cached on the
      // layout Vector's REFERENCE (one instance per Relation message —
      // recomputed only when the server re-sends the relation): the
      // per-change name→value Map this replaces was a measured slice
      // of the single-connection drain's per-row cost (r17)
      private var cachedLayout: Vector[String] = null
      private var layoutIdx: Array[Int] = null
      private def idxFor(cols: Vector[String]): Array[Int] = {
        if (cols ne cachedLayout) {
          cachedLayout = cols
          layoutIdx = tableCols.map(f => cols.indexOf(f.name))
        }
        layoutIdx
      }

      private def toRow(lsn: Long,
          ch: PgChangeFeed.Change): InternalRow = {
        val vals = new Array[Any](3 + tableCols.length)
        vals(0) = UTF8String.fromString(ch.action)
        vals(1) = Long.box(lsn)
        vals(2) = Long.box(ch.commitTsMicros)
        val idx = idxFor(ch.cols)
        var i = 0
        while (i < tableCols.length) {
          val src = idx(i)
          vals(3 + i) = convert(i)(
            if (src < 0) None else ch.colVals(src))
          i += 1
        }
        InternalRow.fromSeq(
          scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
      }

      override def next(): Boolean = {
        pending match {
          case (lsn, ch) :: rest =>
            pending = rest
            current = toRow(lsn, ch)
            true
          case Nil =>
            while (rows.hasNext) {
              val r = rows.next()
              val decoded = decoder.feed(r(1).get)
              if (decoded.nonEmpty) {
                pending = decoded.toList.map(ch => (lsnOf(r(0).get), ch))
                return next()
              }
              // else: Begin/Commit/Relation/foreign relation
            }
            false
        }
      }
      override def get(): InternalRow = current
      override def close(): Unit = {
        client.cancelIfActive()
        client.close()
      }
    }
  }
}
