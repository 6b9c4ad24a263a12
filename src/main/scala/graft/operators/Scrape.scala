package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.Mime

/** The reference's signature semantics, in-engine (SURVEY §2.5):
  *
  *  - J3 conditional upsert: new key → insert; metadata changed → update
  *    (including mime_type); unchanged → no write so a hand-corrected
  *    mime_type survives rescans (`db.rs:88-90,105-118`).
  *  - J2 anti-join deletion detection: every previously-known row of the
  *    source not seen this scan gets `deleted = scanInstant`
  *    (`db.rs:48-65`, `README.md:6-8`).
  *  - J1 inner equi-join re-find + J4 union-distinct seen-set
  *    (`db.rs:101-104,120-123`).
  *
  * All four are views of ONE full-outer merge join, [[cycle]]: the
  * scanned keys ([[upsertClassify]], [[seenKeys]]), the missed keys
  * ([[deletions]]), or every key (the `--out` merge, [[scanCycleAudit]],
  * the S3 composition row). The DuckDB oracles of the `q_scrape_*` rows
  * therefore check the merge the `--out` sink writes.
  *
  * Documented deviations from Postgres-exact behavior (intentional; see
  * SURVEY §7.7):
  *  - Change detection uses null-safe IS-DISTINCT-FROM semantics (Spark
  *    `<=>`). Postgres row-value `<>` yields NULL (→ no update) when e.g.
  *    `created` flips NULL→non-NULL with other fields equal
  *    (`db.rs:115-117`); we treat that as a change.
  *  - J1 joins size with null-safe equality; the reference's `size =`
  *    (`db.rs:104`) silently drops null-size (>i64) unchanged rows from
  *    the seen-set, getting them wrongly tombstoned.
  *  - Key comparisons are on (external_source, path, filename) — the
  *    uniqueness constraint inferred at `db.rs:108`.
  *
  * Scale notes: [[cycle]] is ONE full-outer join that shuffles both sides
  * by the natural key and reads the current slice once; at 100 TB the
  * `current` side arrives partitioned from the previous scan's output
  * (or bucketed storage), so only the new scan shuffles.
  */
object Scrape {

  private val keyCols = Seq("external_source", "path", "filename")

  /** Null-safe "any metadata field differs" (J3's WHERE, null-safe). */
  private def changed(n: DataFrame, c: DataFrame): Column =
    !(n("created") <=> c("created")) ||
      !(n("modified") <=> c("modified")) ||
      !(n("size") <=> c("size"))

  /** J3: classify each scanned row against the current snapshot.
    * Returns scan rows + `action` ∈ insert|update|unchanged, with
    * mime_type resolved per the preservation rule and the re-found
    * `uuid_external_file` (null for inserts): [[cycle]]'s keys the scan
    * saw.
    */
  def upsertClassify(current: DataFrame, scan: DataFrame): DataFrame =
    classified(current, scan, lit(null).cast("timestamp"))
      .filter(col("action") =!= "deleted")
      .select(Seq("external_source", "path", "filename", "action",
        "mime_type", "created", "modified", "size", "uuid_external_file")
        .map(col): _*)

  /** J2: rows of `current` whose key is absent from this scan →
    * tombstoned with the scan-constant instant (P8: one instant per scan,
    * the analog of transaction-start `NOW()` — never per-row
    * `current_timestamp()`): [[cycle]]'s deleted keys. Faithfully
    * re-stamps already-deleted rows, as the reference's UPDATE does
    * (`db.rs:54-58` has no `deleted IS NULL` guard).
    */
  def deletions(current: DataFrame, scan: DataFrame, scanInstant: Column): DataFrame =
    cycle(current, scan, scanInstant).filter(col("action") === "deleted")
      .select(col("uuid_external_file"), col("external_source"), col("path"),
        col("filename"), col("deleted"))

  /** J1 + J4: the seen-set — uuids returned by the upsert (insert/update;
    * inserts carry null until the sink assigns a key) unioned DISTINCT with
    * the J1 re-find (key + null-safe size match).
    *
    * The union is every row of [[upsertClassify]]: the upsert branch is
    * its inserts and updates, and the re-find fires on matched rows only
    * (updates and unchanged), where every unchanged row has an equal
    * size. A matched row's current-side key equals its scan-side key, so
    * both branches emit the same (uuid, path, filename) tuple for it.
    * The closing `distinct` is the reference's set semantics — a real
    * scan can list the same file twice (`db.rs:120-123`). */
  def seenKeys(current: DataFrame, scan: DataFrame): DataFrame =
    upsertClassify(current, scan)
      .select(col("uuid_external_file"), col("path"), col("filename"))
      .distinct()

  /** [[cycle]] with an insert's uuid NULL: the sink assigns it. */
  private def classified(current: DataFrame, scan: DataFrame,
      scanInstant: Column): DataFrame =
    cycle(current, scan, scanInstant).withColumn("uuid_external_file",
      when(col("action") =!= "insert", col("uuid_external_file")))

  /** The WHOLE scan cycle per key from ONE full-outer merge join and one
    * projection — the reference's transaction (`db.rs:48-124`), of which
    * the J1–J4 operators above are views. Each key comes back as
    * its next state row plus `action` (insert|update|unchanged|deleted)
    * and `mime_preserved` (an unchanged row whose kept mime differs from
    * the scan's guess, `db.rs:88-90`). The uuid is the current one, else
    * [[graft.streaming.ScrapeTws.uuidCol]]; a key the scan saw takes its
    * metadata with `deleted` NULL (an unchanged one keeps the current
    * mime); a key it missed keeps its row stamped `scanInstant`,
    * re-stamping earlier tombstones like the reference (`db.rs:54-58`). */
  def cycle(current: DataFrame, scan: DataFrame, scanInstant: Column): DataFrame = {
    val (c, n) = (current.as("c"), scan.as("n"))
    val scanHit = n("filename").isNotNull
    val action = when(!scanHit, "deleted").when(c("filename").isNull, "insert")
      .when(changed(n, c), "update").otherwise("unchanged")
    def seen(f: String): Column = when(scanHit, n(f)).otherwise(c(f)).as(f)
    n.join(c, keyCols.map(k => n(k) === c(k)).reduce(_ && _), "full_outer")
      .select(Seq(c("uuid_external_file")) ++ keyCols.map(seen) ++ Seq(
        when(action.isin("insert", "update"), n("mime_type"))
          .otherwise(c("mime_type")).as("mime_type"),
        seen("created"), seen("modified"), seen("size"),
        when(!scanHit, scanInstant).as("deleted"), action.as("action"),
        (action === "unchanged" && !(n("mime_type") <=> c("mime_type")))
          .as("mime_preserved")): _*)
      // the surrogate hashes the merged key, so it follows the join
      .withColumn("uuid_external_file",
        coalesce(col("uuid_external_file"), graft.streaming.ScrapeTws.uuidCol))
  }

  /** [[cycle]] folded into one aggregate: counts per action, preserved
    * mimes, and the seen-set size (distinct (uuid, path, filename) of
    * the keys the scan saw, J1+J4). Emits (metric, n) rows via `stack`. */
  def scanCycleAudit(current: DataFrame, scan: DataFrame): DataFrame = {
    val a = col("action")
    def hits(p: Column, name: String) = sum(when(p, 1L).otherwise(0L)).as(name)
    cycle(current, scan, lit(null).cast("timestamp"))
      .agg(hits(a === "insert", "n_insert"), hits(a === "update", "n_update"),
        hits(a === "unchanged", "n_unchanged"),
        hits(col("mime_preserved"), "n_mime"),
        hits(a === "deleted", "n_deleted"),
        countDistinct(when(a =!= "deleted",
          struct(col("uuid_external_file"), col("path"), col("filename"))))
          .as("n_seen"))
      .select(expr(
        """stack(6,
          |  'insert', n_insert, 'update', n_update, 'unchanged', n_unchanged,
          |  'mime_preserved', n_mime, 'deleted', n_deleted, 'seen', n_seen)
          |AS (metric, n)""".stripMargin))
      .orderBy("metric")
  }

  // ---------------------------------------------------------------------
  // Oracle-checkable fixture derivation: a deterministic files_current /
  // files_scan pair computed from `orders` identically in Spark and DuckDB
  // (FIXTURES.md §B). Key space: o_orderkey%7<5 currently known,
  // %7>=2 in this scan → overlap {2,3,4}, new {5,6}, vanished {0,1};
  // %5==0 rows changed (modified +1 day); %11==0 rows carry a
  // hand-corrected mime; %13==0 null size; %3==0 null created;
  // %17==0 already tombstoned.
  // ---------------------------------------------------------------------

  private def extCase(k: Column): Column =
    when(k % 4 === 0, ".txt").when(k % 4 === 1, ".json")
      .when(k % 4 === 2, ".csv").otherwise(".dat")

  private def base(s: SparkSession, dir: String): DataFrame =
    baseOf(orders(s, dir))

  private def baseOf(ordersDf: DataFrame): DataFrame = {
    val k = col("o_orderkey")
    ordersDf.select(
      k,
      lit("demo").as("external_source"),
      concat(lit("/bucket/"), col("o_orderstatus")).as("path"),
      concat(lit("f_"), k.cast("string"), extCase(k)).as("filename"),
      col("o_orderdate"),
      when(k % 3 === 0, lit(null).cast("timestamp"))
        .otherwise(col("o_orderdate")).as("created"),
      when(k % 13 === 0, lit(null).cast("bigint"))
        .otherwise(cents(col("o_totalprice"))).as("size"))
  }

  /** Snapshot of the sink table before the scan (has uuid + tombstones). */
  def filesCurrent(s: SparkSession, dir: String): DataFrame = {
    val b = base(s, dir).filter(col("o_orderkey") % 7 < 5)
    val k = col("o_orderkey")
    b.select(
      k.cast("string").as("uuid_external_file"),
      col("external_source"), col("path"), col("filename"),
      when(k % 11 === 0, "text/corrected")
        .otherwise(Mime.mimeOf(col("filename"))).as("mime_type"),
      col("created"),
      col("o_orderdate").as("modified"),
      col("size"),
      when(k % 17 === 0, lit("2025-12-01 00:00:00").cast("timestamp"))
        .otherwise(lit(null).cast("timestamp")).as("deleted"))
  }

  /** One scan's enriched listing (no uuid/deleted; mime freshly guessed;
    * %5==0 rows have a newer modified). */
  def filesScan(s: SparkSession, dir: String): DataFrame = {
    val b = base(s, dir).filter(col("o_orderkey") % 7 >= 2)
    val k = col("o_orderkey")
    b.select(
      k,
      col("external_source"), col("path"), col("filename"),
      Mime.mimeOf(col("filename")).as("mime_type"),
      col("created"),
      when(k % 5 === 0, col("o_orderdate") + expr("INTERVAL 1 DAY"))
        .otherwise(col("o_orderdate")).as("modified"),
      col("size"))
      .drop("o_orderkey")
  }

  private val scanInstant = "2026-01-15 00:00:00"

  def qUpsert(s: SparkSession, dir: String): DataFrame =
    upsertClassify(filesCurrent(s, dir), filesScan(s, dir))
      .orderBy("path", "filename")

  def qDeletions(s: SparkSession, dir: String): DataFrame =
    deletions(filesCurrent(s, dir), filesScan(s, dir),
      lit(scanInstant).cast("timestamp"))
      .orderBy("path", "filename")

  def qSeen(s: SparkSession, dir: String): DataFrame =
    seenKeys(filesCurrent(s, dir), filesScan(s, dir))
      .orderBy("path", "filename")

  /** [[graft.streaming.ScrapeTws.snapshotOf]] as an oracled query
    * (VERDICT r12 #6): compact a deterministic change-event log — every
    * key inserts, %5 keys update later, %7 keys tombstone last, and %3
    * keys carry a SAME-instant contradictory pair (event_seq 0 vs 1,
    * the apply-order tie the reference's set semantics would dedup,
    * `db.rs:120-123`) — and prove the engine's map-side max-struct fold
    * equals the window-function arg-max formulation. The tie pair is
    * adversarial: seq 0 carries the LARGER size, so a value-wise max
    * would pick the wrong sighting — only apply order wins. */
  def qScrapeSnapshot(s: SparkSession, dir: String): DataFrame =
    snapshotOfOrders(orders(s, dir)).orderBy("path", "filename")

  /** The deterministic change-event log (inserts, updates, deletes,
    * plus a same-instant `event_seq` tie) replayed from any
    * orders-shaped frame — shared by the snapshot row, the compact row
    * (r19), and the ×N amplified scale run (PLANS.md). */
  def eventLogOfOrders(ordersDf: DataFrame): DataFrame = {
    val b = baseOf(ordersDf)
      .withColumn("mime_guess", Mime.mimeOf(col("filename")))
    val k = col("o_orderkey")
    def ev(filter: Column, size: Column, mime: Column, deletedMs: Column,
        action: String, eventMs: Column, seq: Long): DataFrame =
      b.filter(filter).select(
        k.cast("string").as("uuid_external_file"),
        col("external_source"), col("path"), col("filename"),
        mime.as("mime_type"),
        k.as("created_ms"), (k * 2).as("modified_ms"),
        size.cast("bigint").as("size"),
        deletedMs.cast("bigint").as("deleted_ms"),
        lit(action).as("action"),
        eventMs.cast("bigint").as("event_ms"),
        lit(seq).as("event_seq"))
    ev(lit(true), col("size"), col("mime_guess"),
        lit(null), "insert", k + 1000000L, 0L)
      .unionAll(ev(k % 5 === 0, col("size") + 7L, col("mime_guess"),
        lit(null), "update", k + 2000000L, 0L))
      .unionAll(ev(k % 7 === 0, col("size"), col("mime_guess"),
        k + 3000000L, "delete", k + 3000000L, 0L))
      .unionAll(ev(k % 3 === 0, k + 1000L, lit("text/tie0"),
        lit(null), "update", k + 4000000L, 0L))
      .unionAll(ev(k % 3 === 0, k - 50L, lit("text/tie1"),
        lit(null), "update", k + 4000000L, 1L))
  }

  /** The event-log build + compaction over any orders-shaped frame —
    * shared by the oracled query and the ×N amplified scale run. */
  def snapshotOfOrders(ordersDf: DataFrame): DataFrame =
    graft.streaming.ScrapeTws.snapshotOf(eventLogOfOrders(ordersDf))

  /** The `compact` lifecycle kernel as an oracled row (r19): the same
    * deterministic log reduced to its single `(event_ms, event_seq)`-
    * winning EVENT row per identity, all twelve columns verbatim
    * ([[graft.streaming.ScrapeTws.compactedEvents]] — the rewrite
    * `graft.Main compact` swaps in). The DuckDB oracle re-derives the
    * winners relationally. */
  def qScrapeCompact(s: SparkSession, dir: String): DataFrame =
    graft.streaming.ScrapeTws.compactedEvents(
        eventLogOfOrders(orders(s, dir)))
      .orderBy("path", "filename")

  // ---------------------------------------------------------------------
  // The S3→scrape COMPOSITION as an oracled row (VERDICT r13 #5): the
  // graft-s3 listing frame shape — bucket keys split into (path,
  // filename) with the root-key semantics the reference panics on
  // (`s3.rs:104-108` vs P2's `path=""`), mime inferred from the key,
  // `created` ALWAYS NULL (`s3.rs:123`) — replayed deterministically
  // from `orders` and pushed through the `--out` sink's merge
  // ([[cycle]]) against a current snapshot. The key split below is the
  // COLUMN form of [[graft.sources.S3Wire.splitKey]]; ScrapeSpec pins
  // the two in lockstep over adversarial keys.
  // ---------------------------------------------------------------------

  /** Bucket keys from orders: %9==0 are ROOT-LEVEL (no '/'), the rest
    * live under `logs/<status>/`. */
  private def s3Key(k: Column): Column =
    when(k % 9 === 0,
      concat(lit("f_"), k.cast("string"), extCase(k)))
      .otherwise(concat(lit("logs/"), col("o_orderstatus"), lit("/f_"),
        k.cast("string"), extCase(k)))

  /** The column form of `S3Wire.splitKey`: path = "/"+dir, or "" for a
    * root-level key; filename = the segment after the last '/'. `(?s)`
    * + `\z` because POSIX names may carry newlines: bare `.`/`$` would
    * stop at/before a line terminator and silently diverge from the
    * index-based production split (review r14); both regex dialects
    * here (java.util.regex, DuckDB's RE2) support the two escapes
    * identically. */
  private[graft] def splitKeyCols(key: Column): (Column, Column) = (
    when(key.contains("/"),
      concat(lit("/"), regexp_extract(key, "(?s)^(.*)/[^/]*\\z", 1)))
      .otherwise(lit("")),
    regexp_extract(key, "(?s)([^/]*)\\z", 1))

  /** One S3 rescan's listing frame (the graft-s3 table's seven columns)
    * derived from orders: %7>=2 keys present, %5==0 carry a newer
    * modified, size = price cents (%13==0 NULL), created NULL. */
  private def s3Base(s: SparkSession, dir: String): DataFrame = {
    val k = col("o_orderkey")
    // Fanned (Tables.fanned scaladoc): the s3 key build + regex split +
    // mime inference is per-row map work over the single-row-group
    // orders scan; A/B r21 +0.21 s (the union-of-event-log queries,
    // snapshot/compact/cdc, measured 1.5-2.5 s LOSSES from fanning --
    // their 5-8 union branches multiply the fanned partition count into
    // the compaction groupBy -- so they stay plain).
    graft.Tables.fanned(s, dir, "orders", "o_orderkey")
      .select(k, col("o_orderstatus"), col("o_orderdate"),
      s3Key(k).as("key"),
      when(k % 13 === 0, lit(null).cast("bigint"))
        .otherwise(cents(col("o_totalprice"))).as("size"))
  }

  private def s3Frame(df: DataFrame): DataFrame = {
    val (path, filename) = splitKeyCols(col("key"))
    df.select(
      col("o_orderkey"),
      lit("s3://demo-bucket").as("external_source"),
      path.as("path"), filename.as("filename"),
      Mime.mimeOf(filename).as("mime_type"),
      lit(null).cast("timestamp").as("created"), // s3.rs:123
      col("o_orderdate").as("modified"), col("size"))
  }

  /** Snapshot before the rescan: %7<5 known, %11 corrected mimes,
    * %17 tombstoned — the same fixture logic as [[filesCurrent]], in the
    * S3 key shape. */
  def s3Current(s: SparkSession, dir: String): DataFrame = {
    val k = col("o_orderkey")
    s3Frame(s3Base(s, dir)).filter(k % 7 < 5).select(
      k.cast("string").as("uuid_external_file"),
      col("external_source"), col("path"), col("filename"),
      when(k % 11 === 0, "application/x-corrected")
        .otherwise(col("mime_type")).as("mime_type"),
      col("created"), col("modified"), col("size"),
      when(k % 17 === 0, lit("2025-12-01 00:00:00").cast("timestamp"))
        .otherwise(lit(null).cast("timestamp")).as("deleted"))
  }

  def s3Scan(s: SparkSession, dir: String): DataFrame = {
    val k = col("o_orderkey")
    s3Frame(s3Base(s, dir)).filter(k % 7 >= 2)
      .withColumn("modified",
        when(k % 5 === 0, col("modified") + expr("INTERVAL 1 DAY"))
          .otherwise(col("modified")))
      .drop("o_orderkey")
  }

  /** The composed rescan: classification of every listed key PLUS the
    * tombstone set, one event-shaped frame (`action` ∈
    * insert|update|unchanged|deleted) — the `--out` merge ([[cycle]])
    * over the S3 listing shape, oracle-checked end to end. A deleted key
    * carries only its identity and stamp, an insert no uuid. */
  def qScrapeS3(s: SparkSession, dir: String): DataFrame = {
    val a = col("action")
    def listed(f: String) = when(a =!= "deleted", col(f)).as(f)
    classified(s3Current(s, dir), s3Scan(s, dir),
        lit(scanInstant).cast("timestamp"))
      .select(col("external_source"), col("path"), col("filename"), a,
        listed("mime_type"), listed("created"), listed("modified"),
        listed("size"), col("uuid_external_file"), col("deleted"))
      .orderBy("path", "filename")
  }

  // ---------------------------------------------------------------------
  // The CHANGEFEED dialect as an oracled row (VERDICT r16 #3): a
  // deterministic pgoutput-shaped change log — inserts, metadata
  // updates, tombstoning updates (the publish path deletes by UPDATE),
  // physical deletes (old image, deleted_ms = commit time), the
  // decoder's rename delete+update pairs, and a foreign-source row the
  // adapter must drop — replayed through the REAL --watch-pg dataflow:
  // stateAsScrapeEvents (the snapshot-handoff seed, stamped strictly
  // below every feed event) ∪ asScrapeEvents (the feed) → snapshotOf.
  // The DuckDB oracle re-derives the snapshot relationally (last
  // (event_ms, event_seq) per identity wins).
  // ---------------------------------------------------------------------

  private val cdcOriginMs = 1767225600000L // 2026-01-01T00:00:00Z

  def qCdcFeed(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.v2.PgChangeFeed
    val src = "pgdemo"
    val base = orders(s, dir).select(col("o_orderkey").as("k"),
      col("o_orderstatus"), col("o_totalprice"))
    def tm(c: Column) = timestamp_millis(c)
    val path = concat(lit("/cdc/"), col("o_orderstatus"))
    val fname = concat(lit("f_"), col("k").cast("string"), lit(".txt"))
    val createdC = when(col("k") % 3 === 0, lit(null).cast("timestamp"))
      .otherwise(tm(col("k") * 1000L))
    val sizeC = when(col("k") % 29 === 0, lit(null).cast("bigint"))
      .otherwise(cents(col("o_totalprice")))
    // the handoff's batch-read state: PgMerge.readSchema shape
    val seed = base.filter(col("k") % 7 < 5).select(
      lit(src).as("external_source"), path.as("path"),
      fname.as("filename"),
      when(col("k") % 11 === 0, "text/corrected").otherwise("text/plain")
        .as("mime_type"),
      createdC.as("created"), tm(col("k") * 2000L).as("modified"),
      sizeC.as("size"),
      when(col("k") % 17 === 0, tm(lit(1700000000000L)))
        .otherwise(lit(null).cast("timestamp")).as("deleted"))
    // one decoded change row (the graft-pg mode=changefeed schema)
    def change(cond: Column, action: String, lsnBase: Long, phaseMs: Long,
        mime: Column, modifiedMs: Column, size: Column, deleted: Column,
        source: String = src, fn: Column = fname): DataFrame =
      base.filter(cond).select(
        lit(action).as("action"),
        (lit(lsnBase) + col("k")).cast("bigint").as("lsn"),
        tm(lit(cdcOriginMs + phaseMs) + col("k")).as("committed"),
        lit(source).as("external_source"), path.as("path"),
        fn.as("filename"), mime.as("mime_type"),
        createdC.as("created"), tm(modifiedMs).as("modified"),
        size.as("size"), deleted.as("deleted"))
    val nullTs = lit(null).cast("timestamp")
    val feed = change(col("k") % 7 >= 5, "insert", 10000000L, 1000000L,
        lit("text/plain"), col("k") * 2000L, sizeC, nullTs)
      .unionByName(change(col("k") % 5 === 0, "update", 20000000L,
        2000000L, lit("text/markdown"), col("k") * 2000L + 777L,
        sizeC + 7L, nullTs))
      .unionByName(change(col("k") % 11 === 0, "update", 30000000L,
        3000000L, lit("text/plain"), col("k") * 2000L, sizeC,
        tm(lit(cdcOriginMs + 3000000L) + col("k"))))
      .unionByName(change(col("k") % 13 === 0, "delete", 40000000L,
        4000000L, lit("text/plain"), col("k") * 2000L, sizeC, nullTs))
      .unionByName(change(col("k") % 19 === 0, "delete", 50000000L,
        5000000L, lit("text/plain"), col("k") * 2000L, sizeC, nullTs))
      .unionByName(change(col("k") % 19 === 0, "update", 55000000L,
        5000000L, lit("text/plain"), col("k") * 2000L, sizeC, nullTs,
        fn = concat(lit("r_"), col("k").cast("string"), lit(".txt"))))
      .unionByName(change(col("k") % 23 === 0, "insert", 60000000L,
        6000000L, lit("text/plain"), col("k") * 2000L, sizeC, nullTs,
        source = "othersrc"))
    graft.streaming.ScrapeTws.snapshotOf(
      PgChangeFeed.stateAsScrapeEvents(seed, cdcOriginMs)
        .unionByName(PgChangeFeed.asScrapeEvents(feed, src)))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_scrape_upsert" -> qUpsert,
    "q_scrape_deletions" -> qDeletions,
    "q_scrape_seen" -> qSeen,
    "q_scrape_snapshot" -> qScrapeSnapshot,
    "q_scrape_compact" -> qScrapeCompact,
    "q_scrape_s3" -> qScrapeS3,
    "q_cdc_feed" -> qCdcFeed,
  )

  /** Shared CTE text for the DuckDB oracles — must mirror
    * filesCurrent/filesScan exactly (also reused by
    * [[Capstone.qCapstoneScrape]]'s oracle). */
  private[operators] val cte =
    """WITH base AS (
      |  SELECT o_orderkey AS k, 'demo' AS external_source,
      |    concat('/bucket/', o_orderstatus) AS path,
      |    concat('f_', CAST(o_orderkey AS VARCHAR),
      |      CASE o_orderkey % 4 WHEN 0 THEN '.txt' WHEN 1 THEN '.json'
      |           WHEN 2 THEN '.csv' ELSE '.dat' END) AS filename,
      |    o_orderdate,
      |    CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderdate END AS created,
      |    CASE WHEN o_orderkey % 13 = 0 THEN NULL
      |         ELSE CAST(round(o_totalprice*100) AS BIGINT) END AS size,
      |    CASE o_orderkey % 4 WHEN 0 THEN 'text/plain' WHEN 1 THEN 'application/json'
      |         WHEN 2 THEN 'text/csv' ELSE NULL END AS guessed_mime
      |  FROM orders),
      |cur AS (
      |  SELECT CAST(k AS VARCHAR) AS uuid_external_file, external_source, path, filename,
      |    CASE WHEN k % 11 = 0 THEN 'text/corrected' ELSE guessed_mime END AS mime_type,
      |    created, o_orderdate AS modified, size,
      |    CASE WHEN k % 17 = 0 THEN TIMESTAMP '2025-12-01 00:00:00' END AS deleted
      |  FROM base WHERE k % 7 < 5),
      |scan AS (
      |  SELECT external_source, path, filename, guessed_mime AS mime_type, created,
      |    CASE WHEN k % 5 = 0 THEN o_orderdate + INTERVAL 1 DAY ELSE o_orderdate END AS modified,
      |    size
      |  FROM base WHERE k % 7 >= 2)
      |""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_scrape_upsert" -> (cte +
      """SELECT n.external_source, n.path, n.filename,
        |  CASE WHEN c.filename IS NULL THEN 'insert'
        |       WHEN (n.created IS DISTINCT FROM c.created
        |          OR n.modified IS DISTINCT FROM c.modified
        |          OR n.size IS DISTINCT FROM c.size) THEN 'update'
        |       ELSE 'unchanged' END AS action,
        |  CASE WHEN c.filename IS NOT NULL
        |        AND NOT (n.created IS DISTINCT FROM c.created
        |              OR n.modified IS DISTINCT FROM c.modified
        |              OR n.size IS DISTINCT FROM c.size)
        |       THEN c.mime_type ELSE n.mime_type END AS mime_type,
        |  n.created, n.modified, n.size, c.uuid_external_file
        |FROM scan n LEFT JOIN cur c
        |  ON n.external_source = c.external_source AND n.path = c.path AND n.filename = c.filename
        |ORDER BY n.path, n.filename""".stripMargin),
    "q_scrape_deletions" -> (cte +
      """SELECT c.uuid_external_file, c.external_source, c.path, c.filename,
        |  TIMESTAMP '2026-01-15 00:00:00' AS deleted
        |FROM cur c
        |WHERE NOT EXISTS (SELECT 1 FROM scan n
        |  WHERE n.external_source = c.external_source AND n.path = c.path AND n.filename = c.filename)
        |ORDER BY c.path, c.filename""".stripMargin),
    // the window arg-max formulation of snapshotOf's max-struct fold —
    // same event-log CTE, last (event_ms, event_seq) per identity wins
    "q_scrape_snapshot" -> (cte +
      """, ev AS (
        |  SELECT CAST(k AS VARCHAR) AS uuid_external_file, external_source,
        |    path, filename, guessed_mime AS mime_type,
        |    k AS created_ms, k*2 AS modified_ms,
        |    size, CAST(NULL AS BIGINT) AS deleted_ms,
        |    k + 1000000 AS event_ms, CAST(0 AS BIGINT) AS event_seq
        |  FROM base
        |  UNION ALL
        |  SELECT CAST(k AS VARCHAR), external_source, path, filename,
        |    guessed_mime, k, k*2, size + 7, NULL, k + 2000000, 0
        |  FROM base WHERE k % 5 = 0
        |  UNION ALL
        |  SELECT CAST(k AS VARCHAR), external_source, path, filename,
        |    guessed_mime, k, k*2, size, k + 3000000, k + 3000000, 0
        |  FROM base WHERE k % 7 = 0
        |  UNION ALL
        |  SELECT CAST(k AS VARCHAR), external_source, path, filename,
        |    'text/tie0', k, k*2, k + 1000, NULL, k + 4000000, 0
        |  FROM base WHERE k % 3 = 0
        |  UNION ALL
        |  SELECT CAST(k AS VARCHAR), external_source, path, filename,
        |    'text/tie1', k, k*2, k - 50, NULL, k + 4000000, 1
        |  FROM base WHERE k % 3 = 0),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY external_source, path, filename
        |    ORDER BY event_ms DESC, event_seq DESC) AS rn
        |  FROM ev)
        |SELECT uuid_external_file, external_source, path, filename,
        |  mime_type, epoch_ms(created_ms) AS created,
        |  epoch_ms(modified_ms) AS modified, size,
        |  epoch_ms(deleted_ms) AS deleted
        |FROM ranked WHERE rn = 1
        |ORDER BY path, filename""".stripMargin),
    // the compact lifecycle kernel: the log's single winning EVENT row
    // per identity, all twelve columns (graft.Main compact's rewrite)
    "q_scrape_compact" -> (cte +
      """, ev AS (
        |  SELECT CAST(k AS VARCHAR) AS uuid_external_file, external_source,
        |    path, filename, guessed_mime AS mime_type,
        |    k AS created_ms, k*2 AS modified_ms,
        |    size, CAST(NULL AS BIGINT) AS deleted_ms,
        |    'insert' AS action,
        |    k + 1000000 AS event_ms, CAST(0 AS BIGINT) AS event_seq
        |  FROM base
        |  UNION ALL
        |  SELECT CAST(k AS VARCHAR), external_source, path, filename,
        |    guessed_mime, k, k*2, size + 7, NULL, 'update', k + 2000000, 0
        |  FROM base WHERE k % 5 = 0
        |  UNION ALL
        |  SELECT CAST(k AS VARCHAR), external_source, path, filename,
        |    guessed_mime, k, k*2, size, k + 3000000, 'delete',
        |    k + 3000000, 0
        |  FROM base WHERE k % 7 = 0
        |  UNION ALL
        |  SELECT CAST(k AS VARCHAR), external_source, path, filename,
        |    'text/tie0', k, k*2, k + 1000, NULL, 'update', k + 4000000, 0
        |  FROM base WHERE k % 3 = 0
        |  UNION ALL
        |  SELECT CAST(k AS VARCHAR), external_source, path, filename,
        |    'text/tie1', k, k*2, k - 50, NULL, 'update', k + 4000000, 1
        |  FROM base WHERE k % 3 = 0),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY external_source, path, filename
        |    ORDER BY event_ms DESC, event_seq DESC) AS rn
        |  FROM ev)
        |SELECT uuid_external_file, external_source, path, filename,
        |  mime_type, created_ms, modified_ms, size, deleted_ms, action,
        |  event_ms, event_seq
        |FROM ranked WHERE rn = 1
        |ORDER BY path, filename""".stripMargin),
    // the composed S3 rescan: key split (root keys → path ''), inferred
    // mime, created NULL (s3.rs:123), classify + tombstone in one frame
    "q_scrape_s3" ->
      """WITH s3base AS (
        |  SELECT o_orderkey AS k, o_orderdate,
        |    CASE WHEN o_orderkey % 9 = 0
        |      THEN concat('f_', CAST(o_orderkey AS VARCHAR),
        |        CASE o_orderkey % 4 WHEN 0 THEN '.txt' WHEN 1 THEN '.json'
        |             WHEN 2 THEN '.csv' ELSE '.dat' END)
        |      ELSE concat('logs/', o_orderstatus, '/f_',
        |        CAST(o_orderkey AS VARCHAR),
        |        CASE o_orderkey % 4 WHEN 0 THEN '.txt' WHEN 1 THEN '.json'
        |             WHEN 2 THEN '.csv' ELSE '.dat' END) END AS key,
        |    CASE o_orderkey % 4 WHEN 0 THEN 'text/plain'
        |         WHEN 1 THEN 'application/json' WHEN 2 THEN 'text/csv'
        |         ELSE NULL END AS guessed_mime,
        |    CASE WHEN o_orderkey % 13 = 0 THEN NULL
        |         ELSE CAST(round(o_totalprice*100) AS BIGINT) END AS size
        |  FROM orders),
        |frame AS (
        |  SELECT k, 's3://demo-bucket' AS external_source,
        |    CASE WHEN key LIKE '%/%'
        |      THEN '/' || regexp_extract(key, '(?s)^(.*)/[^/]*\z', 1)
        |      ELSE '' END AS path,
        |    regexp_extract(key, '(?s)([^/]*)\z', 1) AS filename,
        |    guessed_mime AS mime_type,
        |    CAST(NULL AS TIMESTAMP) AS created,
        |    o_orderdate AS modified, size
        |  FROM s3base),
        |cur AS (
        |  SELECT CAST(k AS VARCHAR) AS uuid_external_file, external_source,
        |    path, filename,
        |    CASE WHEN k % 11 = 0 THEN 'application/x-corrected'
        |         ELSE mime_type END AS mime_type,
        |    created, modified, size
        |  FROM frame WHERE k % 7 < 5),
        |scan AS (
        |  SELECT external_source, path, filename, mime_type, created,
        |    CASE WHEN k % 5 = 0 THEN modified + INTERVAL 1 DAY
        |         ELSE modified END AS modified, size
        |  FROM frame WHERE k % 7 >= 2)
        |SELECT * FROM (
        |  SELECT n.external_source, n.path, n.filename,
        |    CASE WHEN c.filename IS NULL THEN 'insert'
        |         WHEN (n.created IS DISTINCT FROM c.created
        |            OR n.modified IS DISTINCT FROM c.modified
        |            OR n.size IS DISTINCT FROM c.size) THEN 'update'
        |         ELSE 'unchanged' END AS action,
        |    CASE WHEN c.filename IS NOT NULL
        |          AND NOT (n.created IS DISTINCT FROM c.created
        |                OR n.modified IS DISTINCT FROM c.modified
        |                OR n.size IS DISTINCT FROM c.size)
        |         THEN c.mime_type ELSE n.mime_type END AS mime_type,
        |    n.created, n.modified, n.size, c.uuid_external_file,
        |    CAST(NULL AS TIMESTAMP) AS deleted
        |  FROM scan n LEFT JOIN cur c
        |    ON n.external_source = c.external_source AND n.path = c.path
        |   AND n.filename = c.filename
        |  UNION ALL
        |  SELECT c.external_source, c.path, c.filename, 'deleted',
        |    CAST(NULL AS VARCHAR), CAST(NULL AS TIMESTAMP),
        |    CAST(NULL AS TIMESTAMP), CAST(NULL AS BIGINT),
        |    c.uuid_external_file, TIMESTAMP '2026-01-15 00:00:00'
        |  FROM cur c WHERE NOT EXISTS (SELECT 1 FROM scan n
        |    WHERE n.external_source = c.external_source AND n.path = c.path
        |      AND n.filename = c.filename))
        |ORDER BY path, filename""".stripMargin,
    "q_scrape_seen" -> (cte +
      """SELECT DISTINCT * FROM (
        |  SELECT c.uuid_external_file, n.path, n.filename
        |  FROM scan n LEFT JOIN cur c
        |    ON n.external_source = c.external_source AND n.path = c.path AND n.filename = c.filename
        |  WHERE c.filename IS NULL
        |     OR (n.created IS DISTINCT FROM c.created
        |      OR n.modified IS DISTINCT FROM c.modified
        |      OR n.size IS DISTINCT FROM c.size)
        |  UNION
        |  SELECT c.uuid_external_file, c.path, c.filename
        |  FROM scan n JOIN cur c
        |    ON n.external_source = c.external_source AND n.path = c.path AND n.filename = c.filename
        |   AND n.size IS NOT DISTINCT FROM c.size)
        |ORDER BY path, filename""".stripMargin),
    // the changefeed dialect: seed (handoff batch state, stamped at the
    // origin instant / seq 0) ∪ feed events (commit-time event_ms, LSN
    // event_seq; tombstoning updates and physical deletes both land as
    // delete events — the physical delete's deleted_ms IS its commit
    // time; renames arrive as delete(old identity) + update(new));
    // foreign-source rows never enter. Compaction = last (event_ms,
    // event_seq) per identity, the window form of snapshotOf's
    // max-struct fold.
    "q_cdc_feed" ->
      """WITH cols AS (
        |  SELECT o_orderkey AS k,
        |    '/cdc/' || o_orderstatus AS path,
        |    'f_' || CAST(o_orderkey AS VARCHAR) || '.txt' AS filename,
        |    CASE WHEN o_orderkey % 3 = 0 THEN NULL
        |         ELSE o_orderkey * 1000 END AS created_ms,
        |    CASE WHEN o_orderkey % 29 = 0 THEN NULL
        |         ELSE CAST(round(o_totalprice*100) AS BIGINT) END AS size
        |  FROM orders),
        |ev AS (
        |  SELECT path, filename,
        |    CASE WHEN k % 11 = 0 THEN 'text/corrected'
        |         ELSE 'text/plain' END AS mime_type,
        |    created_ms, k*2000 AS modified_ms, size,
        |    CASE WHEN k % 17 = 0 THEN 1700000000000 END AS deleted_ms,
        |    1767225600000 AS event_ms, CAST(0 AS BIGINT) AS event_seq
        |  FROM cols WHERE k % 7 < 5
        |  UNION ALL
        |  SELECT path, filename, 'text/plain', created_ms, k*2000, size,
        |    NULL, 1767225600000 + 1000000 + k, 10000000 + k
        |  FROM cols WHERE k % 7 >= 5
        |  UNION ALL
        |  SELECT path, filename, 'text/markdown', created_ms,
        |    k*2000 + 777, size + 7,
        |    NULL, 1767225600000 + 2000000 + k, 20000000 + k
        |  FROM cols WHERE k % 5 = 0
        |  UNION ALL
        |  SELECT path, filename, 'text/plain', created_ms, k*2000, size,
        |    1767225600000 + 3000000 + k,
        |    1767225600000 + 3000000 + k, 30000000 + k
        |  FROM cols WHERE k % 11 = 0
        |  UNION ALL
        |  SELECT path, filename, 'text/plain', created_ms, k*2000, size,
        |    1767225600000 + 4000000 + k,
        |    1767225600000 + 4000000 + k, 40000000 + k
        |  FROM cols WHERE k % 13 = 0
        |  UNION ALL
        |  SELECT path, filename, 'text/plain', created_ms, k*2000, size,
        |    1767225600000 + 5000000 + k,
        |    1767225600000 + 5000000 + k, 50000000 + k
        |  FROM cols WHERE k % 19 = 0
        |  UNION ALL
        |  SELECT path, 'r_' || CAST(k AS VARCHAR) || '.txt', 'text/plain',
        |    created_ms, k*2000, size,
        |    NULL, 1767225600000 + 5000000 + k, 55000000 + k
        |  FROM cols WHERE k % 19 = 0),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY path, filename
        |    ORDER BY event_ms DESC, event_seq DESC) AS rn
        |  FROM ev)
        |SELECT 'gen_' || md5('pgdemo' || chr(31) || path || chr(31)
        |    || filename) AS uuid_external_file,
        |  'pgdemo' AS external_source, path, filename, mime_type,
        |  epoch_ms(created_ms) AS created,
        |  epoch_ms(modified_ms) AS modified, size,
        |  epoch_ms(deleted_ms) AS deleted
        |FROM ranked WHERE rn = 1
        |ORDER BY path, filename""".stripMargin,
  )
}
