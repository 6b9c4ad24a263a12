package graft

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.{PgMerge, PgWireClient}

/** The merge sink, two layers:
  *
  *  1. SQL-marker tests of the generated statements (shape parity with
  *     the reference's `db.rs:92-124`).
  *  2. One list of publish scenarios — the single-transaction epilogue
  *     (K2), rollback atomicity, staged duplicates — and two executors
  *     of it. Offline, [[MergeSqlHarness]] runs the library's statements
  *     on an in-process DuckDB over JDBC, each scenario its own test; the
  *     one dialect seam is the conflict-target spelling (named constraint
  *     vs column set — same key set), injected via `conflictTarget`. When
  *     a PostgreSQL server is up, the same list runs again through the
  *     shipped path, `publishScanWire` into an `external_file` with the
  *     named constraint. Every scenario mirrors the reference semantics:
  *     untouched rows keep corrected mime_types (`db.rs:88-90`), changed
  *     rows update, tombstoned rows resurrect, NULL metadata compares
  *     null-safely, vanished rows tombstone, other sources stay
  *     untouched.
  */
class PgMergeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("upsert SQL: conflict target, conditional update, resurrect") {
    val sql = PgMerge.upsertSql("scratch_t")
    assert(sql.contains("ON CONFLICT ON CONSTRAINT external_file_unique_constraint"))
    assert(sql.contains("mime_type = EXCLUDED.mime_type"))
    assert(sql.contains("IS DISTINCT FROM"))   // null-safe change detection
    assert(sql.contains("deleted = NULL"))      // reappearing files resurrected
    assert(sql.contains("FROM scratch_t"))
    // only changed rows reach the insert, deduplicated in place
    assert(sql.contains("FROM (SELECT DISTINCT * FROM scratch_t) s"))
    assert(sql.contains("WHERE NOT EXISTS"))
    assert(sql.contains("f.deleted IS NULL"))
  }

  test("mark-deleted SQL: set-based anti-join on the natural key") {
    val sql = PgMerge.markDeletedSql("scratch_t")
    assert(sql.contains("SET deleted = now()"))
    assert(sql.contains("NOT EXISTS"))
    assert(sql.contains("external_source = $1"))
  }

  test("scratch names are sanitized SQL identifiers") {
    val n = PgMerge.scratchName("ab-12; DROP TABLE x--")
    assert(n.matches("[A-Za-z0-9_]+"))
  }

  // --- the publish scenarios ------------------------------------------

  /** What a scenario needs of a database: a fresh `external_file`
    * holding rows, source A's publish, and statements. `breakEpilogue`
    * makes the merge fail after staging, each executor its own way. */
  private trait MergeDb {
    def seed(rows: Seq[Row]): Unit
    def publishA(scan: Seq[Row], breakEpilogue: Boolean = false): Unit
    def exec(sql: String): Unit
    /** Every row of `sql`'s result, each column as text (null for NULL). */
    def query(sql: String): Seq[Seq[String]]
  }

  private val T1 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
  private val T2 = java.sql.Timestamp.valueOf("2026-02-02 00:00:00")

  /** The reference's six-row starting state. */
  private val seedRows = Seq(
    Row("A", "/d", "same.txt", "text/corrected", T1, T1, 10L, null),
    Row("A", "/d", "changed.txt", "text/plain", T1, T1, 10L, null),
    Row("A", "/d", "undead.txt", "text/plain", T1, T1, 10L, T1),
    Row("A", "/d", "nullc.txt", "text/hand", null, T1, 10L, null),
    Row("A", "/d", "gone.txt", "text/plain", T1, T1, 10L, null),
    Row("B", "/d", "gone.txt", "text/plain", T1, T1, 10L, null))

  /** Source A's rescan: same/undead/nullc identical, changed.txt grew,
    * new.txt appeared, gone.txt vanished. */
  private val scan = Seq(
    Row("A", "/d", "same.txt", "text/plain", T1, T1, 10L),
    Row("A", "/d", "changed.txt", "text/plain", T1, T2, 20L),
    Row("A", "/d", "undead.txt", "text/plain", T1, T1, 10L),
    Row("A", "/d", "nullc.txt", "text/plain", null, T1, 10L),
    Row("A", "/d", "new.txt", "text/markdown", T2, T2, 30L))

  /** Every column of every row, as text, keyed by source/filename. */
  private def fullState(db: MergeDb): Map[String, Seq[String]] =
    db.query(s"SELECT * FROM ${PgMerge.table}")
      .map(r => (r(0) + "/" + r(2)) -> r).toMap

  /** (mime_type, size, live) keyed by source/filename. */
  private def state(db: MergeDb): Map[String, (String, Long, Boolean)] =
    fullState(db).map { case (k, r) => k -> ((r(3), r(6).toLong, r(7) == null)) }

  private def scratchTables(db: MergeDb): Int =
    db.query("SELECT count(*) FROM information_schema.tables " +
      "WHERE table_name LIKE 'graft_scan_%'").head.head.toInt

  private val scenarios: Seq[(String, MergeDb => Unit)] = Seq(
    "live publish: stage, upsert, tombstone, commit against a real JDBC database" -> { (db: MergeDb) =>
      db.publishA(scan)
      val st = state(db)
      assert(st.size == 7, s"expected 7 rows, got $st")
      // untouched identical row keeps its hand-corrected mime (db.rs:88-90)
      assert(st("A/same.txt") == (("text/corrected", 10L, true)))
      // changed row updated in place
      assert(st("A/changed.txt") == (("text/plain", 20L, true)))
      // tombstoned row that reappeared is resurrected
      assert(st("A/undead.txt") == (("text/plain", 10L, true)))
      // NULL created rescanned identically: IS DISTINCT FROM says unchanged,
      // so the hand-set mime survives (row-value <> would have updated it)
      assert(st("A/nullc.txt") == (("text/hand", 10L, true)))
      // vanished from disk -> tombstoned
      assert(st("A/gone.txt")._3 === false)
      // same filename under another source: out of scope for A's scan
      assert(st("B/gone.txt") == (("text/plain", 10L, true)))
      // brand-new file inserted
      assert(st("A/new.txt") == (("text/markdown", 30L, true)))
      // the per-scan scratch table was dropped inside the transaction
      assert(scratchTables(db) == 0, "scratch table leaked past commit")
    },

    "publish: the eight named merge checks — insert, update, " +
        "corrected-mime no-op, resurrect, NULL-created, tombstone, scope, " +
        "row count" -> { (db: MergeDb) =>
      db.publishA(scan)
      val st = fullState(db)
      def live(k: String) = st(k)(7) == null
      assert(st("A/new.txt")(3) == "text/markdown" && st("A/new.txt")(6) == "30" &&
        live("A/new.txt"), "insert: new key appears live")
      // new.txt's modified is the scan's T2, freshly inserted
      assert(st("A/changed.txt")(5) == st("A/new.txt")(5) &&
        st("A/changed.txt")(6) == "20" && live("A/changed.txt"),
        "update: changed row takes scan values")
      assert(st("A/same.txt")(3) == "text/corrected",
        "no-op: unchanged row keeps corrected mime (db.rs:88-90)")
      assert(live("A/undead.txt"), "resurrect: reappeared tombstone cleared")
      assert(st("A/nullc.txt")(3) == "text/hand" && st("A/nullc.txt")(4) == null &&
        live("A/nullc.txt"), "null-safe: NULL created == NULL created is a no-op")
      assert(!live("A/gone.txt"), "tombstone: row missing from scan marked deleted")
      assert(live("B/gone.txt"), "scope: other source untouched by A's tombstone pass")
      assert(st.size == 7, "row count: 6 existing + 1 insert")
    },

    "live publish: an identical duplicate staged row publishes once" -> { (db: MergeDb) =>
      // a retried task's copy: the same rows staged twice; without the
      // DISTINCT the insert would fail
      db.publishA(scan ++ Seq(
        Row("A", "/d", "new.txt", "text/markdown", T2, T2, 30L),
        Row("A", "/d", "changed.txt", "text/plain", T1, T2, 20L)))
      val st = state(db)
      assert(st.size == 7, s"expected 7 rows, got $st")
      assert(st("A/new.txt") == (("text/markdown", 30L, true)))
      assert(st("A/changed.txt") == (("text/plain", 20L, true)))
    },

    "live publish: a contradictory same-key pair fails, table unchanged" -> { (db: MergeDb) =>
      val before = fullState(db)
      // two different rows for one new key: no DISTINCT can pick one, so
      // the publish fails as the reference's single INSERT would
      intercept[java.sql.SQLException] {
        db.publishA(scan :+ Row("A", "/d", "new.txt", "text/markdown", T2, T2, 31L))
      }
      assert(fullState(db) == before,
        "a failed publish must leave every row as it was")
    },

    "live publish: a same-key pair, one row as live, applies the other" -> { (db: MergeDb) =>
      // same.txt staged both as it is live and as a changed copy: only the
      // changed row passes the filter, so it applies (merging every staged
      // row failed with 21000 or applied it, by the DISTINCT's row order)
      db.publishA(scan :+ Row("A", "/d", "same.txt", "text/plain", T1, T2, 40L))
      val st = state(db)
      assert(st.size == 7, s"expected 7 rows, got $st")
      assert(st("A/same.txt") == (("text/plain", 40L, true)))
      assert(st("A/changed.txt") == (("text/plain", 20L, true)))
      assert(st("A/new.txt") == (("text/markdown", 30L, true)))
    },

    "live publish: a rescan leaves unchanged rows exactly as they were" -> { (db: MergeDb) =>
      db.publishA(scan)
      val first = fullState(db)
      // hand-correct a live row's mime after ingest, then rescan the same
      // tree: nothing changed on disk, so no row may be rewritten
      db.exec(s"UPDATE ${PgMerge.table} SET " +
        "mime_type = 'text/hand2' WHERE filename = 'new.txt'")
      db.publishA(scan)
      val second = fullState(db)
      assert(second.keySet == first.keySet)
      // every live row is byte-identical — the hand-set mimes and the
      // NULL created of nullc.txt included
      val live = first.collect { case (k, v) if v(7) == null => k }
      assert(live.size == 6, s"six live rows: $live")
      live.filterNot(_ == "A/new.txt").foreach(k =>
        assert(second(k) == first(k), s"$k rewritten by an identical rescan"))
      assert(second("A/new.txt") == first("A/new.txt").updated(3, "text/hand2"))
      assert(second("A/nullc.txt")(4) == null, "NULL created stays NULL")
      // the tombstone state holds: gone.txt stays deleted, B untouched
      assert(second("A/gone.txt")(7) != null)
      assert(second("B/gone.txt") == first("B/gone.txt"))
    },

    "live publish is atomic: a failing epilogue rolls back, table unchanged" -> { (db: MergeDb) =>
      val before = state(db)
      val e = intercept[Throwable](db.publishA(scan, breakEpilogue = true))
      assert(e != null)
      assert(state(db) == before, "failed publish must leave the table untouched")
    })

  /** The harness: a conflict target that matches no unique index breaks
    * the upsert statement inside the transaction. */
  private def offline(h: MergeSqlHarness): MergeDb = new MergeDb {
    def seed(rows: Seq[Row]): Unit = h.seed(rows)
    def publishA(scan: Seq[Row], breakEpilogue: Boolean): Unit =
      h.publish(scan, "A",
        if (breakEpilogue) "(no_such_column)" else MergeSqlHarness.keyTarget)
    def exec(sql: String): Unit = h.exec(sql)
    def query(sql: String): Seq[Seq[String]] = h.query(sql)
  }

  scenarios.foreach { case (name, run) =>
    test(name) {
      Using.resource(new MergeSqlHarness) { h =>
        val db = offline(h)
        db.seed(seedRows)
        run(db)
      }
    }
  }

  private val scanSchema = StructType(Seq(
    StructField("external_source", StringType), StructField("path", StringType),
    StructField("filename", StringType), StructField("mime_type", StringType),
    StructField("created", TimestampType), StructField("modified", TimestampType),
    StructField("size", LongType)))

  /** The shipped path on the harness server: `publishScanWire` stages
    * over COPY and commits through `mergeWire`, named constraint
    * verbatim; renaming the constraint away breaks the upsert. */
  private object wire extends MergeDb {
    def seed(rows: Seq[Row]): Unit = BenchPg.withClient { c =>
      BenchPg.createTable(c)
      def lit(v: Any): String = v match {
        case null => "NULL"
        case s: String => PgWireClient.sqlLit(s)
        case t: java.sql.Timestamp => s"'${t.toInstant}'"
        case other => other.toString
      }
      c.exec(s"INSERT INTO ${PgMerge.table} VALUES " + rows.map(r =>
        r.toSeq.map(lit).mkString("(", ",", ")")).mkString(","))
    }
    def publishA(scan: Seq[Row], breakEpilogue: Boolean): Unit = {
      if (breakEpilogue) exec(s"ALTER TABLE ${PgMerge.table} RENAME " +
        s"CONSTRAINT ${PgMerge.constraint} TO broken_constraint")
      PgMerge.publishScanWire(spark.createDataFrame(scan.asJava, scanSchema),
        BenchPg.target, "A", maxConnections = 2)
    }
    def exec(sql: String): Unit = BenchPg.withClient(_.exec(sql))
    def query(sql: String): Seq[Seq[String]] =
      BenchPg.withClient(_.query(sql)).map(_.map(_.orNull))
  }

  test("live PostgreSQL: every publish scenario again through " +
      "publishScanWire, named constraint verbatim") {
    assume(BenchPg.reachable,
      s"no PostgreSQL server at ${BenchPg.host}:${BenchPg.port}")
    try scenarios.foreach { case (name, run) =>
      withClue(s"[$name] ") {
        wire.seed(seedRows)
        run(wire)
      }
    } finally wire.exec(s"DROP TABLE IF EXISTS ${PgMerge.table}")
  }
}
