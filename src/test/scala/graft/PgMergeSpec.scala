package graft

import java.sql.DriverManager

import scala.util.Using

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.PgMerge

/** The merge sink, two layers:
  *
  *  1. SQL-marker tests of the generated statements (shape parity with
  *     the reference's `db.rs:92-124`).
  *  2. LIVE execution of the whole publish path — Spark's batched JDBC
  *     staging write (K3/B2), the single-connection transactional
  *     epilogue (K2), rollback atomicity — against an in-process DuckDB
  *     over JDBC. No Postgres server exists offline; the one dialect seam
  *     is the conflict-target spelling (named constraint vs column set —
  *     same key set), injected via `conflictTarget`. Every scenario
  *     mirrors the reference semantics: untouched rows keep corrected
  *     mime_types (`db.rs:88-90`), changed rows update, tombstoned rows
  *     resurrect, NULL metadata compares null-safely, vanished rows
  *     tombstone, other sources stay untouched.
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
    assert(sql.contains("external_source = ?"))
  }

  test("scratch names are sanitized SQL identifiers") {
    val n = PgMerge.scratchName("ab-12; DROP TABLE x--")
    assert(n.matches("[A-Za-z0-9_]+"))
  }

  // --- live JDBC execution ------------------------------------------

  private val duckDriver = "org.duckdb.DuckDBDriver"
  private val keyTarget = "(external_source, path, filename)"

  /** Spark's generic JDBC dialect rethrows from tableExists unless the
    * dialect classifies the error as object-not-found, and DuckDB's
    * SQLExceptions carry no SQLState — so the staging write needs this
    * one-method dialect. Registration is idempotent. */
  private object DuckDbDialect extends org.apache.spark.sql.jdbc.JdbcDialect {
    override def canHandle(url: String): Boolean =
      url.startsWith("jdbc:duckdb:") || url.startsWith(CountingDriver.prefix)
    override def isObjectNotFoundException(e: java.sql.SQLException): Boolean =
      e.getMessage != null && e.getMessage.contains("does not exist")
  }
  org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(DuckDbDialect)
  private val T1 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
  private val T2 = java.sql.Timestamp.valueOf("2026-02-02 00:00:00")

  private def freshDb(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_pg").toString
    s"jdbc:duckdb:$dir/merge.db"
  }

  /** Seed the reference's six-row starting state (pgmerge_check.py rows). */
  private def seed(url: String): Unit = {
    Class.forName(duckDriver)
    val c = DriverManager.getConnection(url)
    try {
      Using.resource(c.createStatement())(_.execute(
        s"""CREATE TABLE ${PgMerge.table} (
           |  external_source TEXT, path TEXT, filename TEXT, mime_type TEXT,
           |  created TIMESTAMP, modified TIMESTAMP, size BIGINT,
           |  deleted TIMESTAMP, UNIQUE $keyTarget)""".stripMargin))
      val rows = Seq(
        ("A", "/d", "same.txt", "text/corrected", T1, T1, 10L, null),
        ("A", "/d", "changed.txt", "text/plain", T1, T1, 10L, null),
        ("A", "/d", "undead.txt", "text/plain", T1, T1, 10L, T1),
        ("A", "/d", "nullc.txt", "text/hand", null, T1, 10L, null),
        ("A", "/d", "gone.txt", "text/plain", T1, T1, 10L, null),
        ("B", "/d", "gone.txt", "text/plain", T1, T1, 10L, null))
      Using.resource(c.prepareStatement(
        s"INSERT INTO ${PgMerge.table} VALUES (?,?,?,?,?,?,?,?)")) { ins =>
        rows.foreach { case (src, p, f, m, cr, mo, sz, del) =>
          ins.setString(1, src); ins.setString(2, p); ins.setString(3, f)
          ins.setString(4, m)
          ins.setTimestamp(5, cr.asInstanceOf[java.sql.Timestamp])
          ins.setTimestamp(6, mo.asInstanceOf[java.sql.Timestamp])
          ins.setLong(7, sz)
          ins.setTimestamp(8, del.asInstanceOf[java.sql.Timestamp])
          ins.executeUpdate()
        }
      }
    } finally c.close()
  }

  private val scanSchema = StructType(Seq(
    StructField("external_source", StringType), StructField("path", StringType),
    StructField("filename", StringType), StructField("mime_type", StringType),
    StructField("created", TimestampType), StructField("modified", TimestampType),
    StructField("size", LongType)))

  /** Source A's rescan: same/undead/nullc identical, changed.txt grew,
    * new.txt appeared, gone.txt vanished. */
  private def scanDf() = spark.createDataFrame(
    java.util.Arrays.asList(
      Row("A", "/d", "same.txt", "text/plain", T1, T1, 10L),
      Row("A", "/d", "changed.txt", "text/plain", T1, T2, 20L),
      Row("A", "/d", "undead.txt", "text/plain", T1, T1, 10L),
      Row("A", "/d", "nullc.txt", "text/plain", null, T1, 10L),
      Row("A", "/d", "new.txt", "text/markdown", T2, T2, 30L)),
    scanSchema)

  private def state(url: String): Map[String, (String, Long, Boolean)] = {
    val c = DriverManager.getConnection(url)
    try Using.resource(c.createStatement()) { st =>
      val rs = st.executeQuery(
        s"""SELECT external_source, filename, mime_type, size,
           |  deleted IS NULL AS live FROM ${PgMerge.table}""".stripMargin)
      val b = Map.newBuilder[String, (String, Long, Boolean)]
      while (rs.next()) b += (rs.getString(1) + "/" + rs.getString(2)) ->
        ((rs.getString(3), rs.getLong(4), rs.getBoolean(5)))
      b.result()
    } finally c.close()
  }

  test("live publish: stage, upsert, tombstone, commit against a real JDBC database") {
    val url = freshDb()
    seed(url)
    PgMerge.publishScan(scanDf(), url, "", "", externalSource = "A",
      maxConnections = 2, driverClass = duckDriver, conflictTarget = keyTarget)
    val st = state(url)
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
    val c = DriverManager.getConnection(url)
    try Using.resource(c.createStatement()) { st =>
      val rs = st.executeQuery(
        "SELECT count(*) FROM information_schema.tables " +
          "WHERE table_name LIKE 'graft_scan_%'")
      rs.next()
      assert(rs.getInt(1) == 0, "scratch table leaked past commit")
    } finally c.close()
  }

  /** Every column of every row, as text, keyed by source/filename. */
  private def fullState(url: String): Map[String, Seq[String]] = {
    val c = DriverManager.getConnection(url)
    try Using.resource(c.createStatement()) { st =>
      val rs = st.executeQuery(s"SELECT * FROM ${PgMerge.table}")
      val n = rs.getMetaData.getColumnCount
      val b = Map.newBuilder[String, Seq[String]]
      while (rs.next()) b += (rs.getString("external_source") + "/" +
        rs.getString("filename")) -> (1 to n).map(rs.getString)
      b.result()
    } finally c.close()
  }

  private def publishA(url: String, scan: org.apache.spark.sql.DataFrame) =
    PgMerge.publishScan(scan, url, "", "", externalSource = "A",
      maxConnections = 2, driverClass = duckDriver, conflictTarget = keyTarget)

  private def withRows(rows: Row*) = spark.createDataFrame(
    java.util.Arrays.asList(rows: _*), scanSchema)

  /** Run `f` with the database at one thread. DuckDB, unlike PostgreSQL
    * (21000 over the whole command), detects a key written twice by one
    * INSERT only within one vector of rows, and its parallel DISTINCT
    * may emit a same-key pair in two; one thread keeps a tiny scan in
    * one vector. The setting lives on the database instance, which every
    * connection to the file shares while `holder` is open. */
  private def oneThread[A](url: String)(f: => A): A = {
    val holder = DriverManager.getConnection(url)
    try {
      Using.resource(holder.createStatement())(
        _.execute("SET GLOBAL threads = 1"))
      f
    } finally holder.close()
  }

  test("live publish: an identical duplicate staged row publishes once") {
    val url = freshDb()
    seed(url)
    // a retried task's copy: the same rows staged twice, in two
    // partitions; without the DISTINCT the insert would fail
    oneThread(url)(publishA(url, scanDf().union(withRows(
      Row("A", "/d", "new.txt", "text/markdown", T2, T2, 30L),
      Row("A", "/d", "changed.txt", "text/plain", T1, T2, 20L)))))
    val st = state(url)
    assert(st.size == 7, s"expected 7 rows, got $st")
    assert(st("A/new.txt") == (("text/markdown", 30L, true)))
    assert(st("A/changed.txt") == (("text/plain", 20L, true)))
  }

  test("live publish: a contradictory same-key pair fails, table unchanged") {
    val url = freshDb()
    seed(url)
    val before = fullState(url)
    // two different rows for one new key: no DISTINCT can pick one, so
    // the publish fails as the reference's single INSERT would
    intercept[java.sql.SQLException] {
      oneThread(url)(publishA(url, scanDf().union(withRows(
        Row("A", "/d", "new.txt", "text/markdown", T2, T2, 31L)))))
    }
    assert(fullState(url) == before,
      "a failed publish must leave every row as it was")
  }

  test("live publish: a same-key pair, one row as live, applies the other") {
    val url = freshDb()
    seed(url)
    // same.txt staged both as it is live and as a changed copy: only the
    // changed row passes the filter, so it applies (merging every staged
    // row failed with 21000 or applied it, by the DISTINCT's row order)
    publishA(url, scanDf().union(withRows(
      Row("A", "/d", "same.txt", "text/plain", T1, T2, 40L))))
    val st = state(url)
    assert(st.size == 7, s"expected 7 rows, got $st")
    assert(st("A/same.txt") == (("text/plain", 40L, true)))
    assert(st("A/changed.txt") == (("text/plain", 20L, true)))
    assert(st("A/new.txt") == (("text/markdown", 30L, true)))
  }

  test("live publish: a rescan leaves unchanged rows exactly as they were") {
    val url = freshDb()
    seed(url)
    publishA(url, scanDf())
    val first = fullState(url)
    // hand-correct a live row's mime after ingest, then rescan the same
    // tree: nothing changed on disk, so no row may be rewritten
    val c = DriverManager.getConnection(url)
    try Using.resource(c.createStatement())(_.execute(
      s"UPDATE ${PgMerge.table} SET " +
        "mime_type = 'text/hand2' WHERE filename = 'new.txt'"))
    finally c.close()
    publishA(url, scanDf())
    val second = fullState(url)
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
  }

  test("live publish is atomic: a failing epilogue rolls back, table unchanged") {
    val url = freshDb()
    seed(url)
    val before = state(url)
    // sabotage the merge AFTER staging: a conflict target that matches no
    // unique index makes the upsert statement fail inside the transaction
    val e = intercept[Throwable] {
      PgMerge.publishScan(scanDf(), url, "", "", externalSource = "A",
        maxConnections = 2, driverClass = duckDriver,
        conflictTarget = "(no_such_column)")
    }
    assert(e != null)
    assert(state(url) == before, "failed publish must leave the table untouched")
  }

  test("live readCurrent: source slice arrives through the JDBC source") {
    val url = freshDb()
    seed(url)
    val rows = PgMerge.readCurrent(spark, url, "", "", "A", duckDriver)
      .collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getAs[String]("external_source") == "A"))
  }

  test("live K1: publishScan never exceeds the connection cap") {
    val url = freshDb()
    seed(url)
    // a scan wide enough that, uncapped, local[4] would run 4 staging
    // tasks (= 4 connections) at once; the coalesce(maxConnections)
    // inside publishScan must hold the LIVE concurrent count at 2
    import org.apache.spark.sql.functions._
    val wide = spark.range(0, 400, 1, 8).select(
      lit("A").as("external_source"), lit("/w").as("path"),
      concat(lit("f"), col("id"), lit(".txt")).as("filename"),
      lit("text/plain").as("mime_type"),
      lit(T1).as("created"), lit(T1).as("modified"),
      col("id").as("size"))
    CountingDriver.reset()
    PgMerge.publishScan(wide, CountingDriver.prefix + url.stripPrefix("jdbc:"),
      "", "", externalSource = "A", maxConnections = 2,
      driverClass = classOf[CountingDriver].getName,
      conflictTarget = keyTarget)
    // the counter really saw the whole flow: schema probes + 2 staging
    // task connections + the single-connection epilogue
    assert(CountingDriver.totalOpened.get() >= 3,
      s"counting driver missed connections: ${CountingDriver.totalOpened.get()}")
    // the cap: never more than maxConnections staging connections plus
    // at most one driver-side connection concurrently
    val peak = CountingDriver.peak.get()
    assert(peak <= 3,
      s"connection cap violated: peak $peak with maxConnections=2")
    // and the publish itself worked through the wrapper
    val c = DriverManager.getConnection(url)
    try Using.resource(c.createStatement()) { st =>
      val rs = st.executeQuery(
        s"SELECT count(*) FROM ${PgMerge.table} WHERE path = '/w'")
      rs.next(); assert(rs.getInt(1) == 400)
    } finally c.close()
  }
}

/** A delegating JDBC driver that counts live connections — the
  * instrument for the K1 connection-cap test. URLs spelled
  * `jdbc:counting:duckdb:<path>` forward to the DuckDB driver with the
  * `counting:` infix stripped; every opened connection bumps
  * current/peak/total and `close()` (intercepted through a dynamic
  * proxy) decrements exactly once. Registered with DriverManager at
  * class-load; Spark also Class.forName's it via the `driver` prop. */
class CountingDriver extends java.sql.Driver {
  import CountingDriver._
  override def acceptsURL(url: String): Boolean = url.startsWith(prefix)
  override def connect(url: String,
      info: java.util.Properties): java.sql.Connection = {
    if (!acceptsURL(url)) return null
    val real = DriverManager.getConnection(
      "jdbc:" + url.stripPrefix(prefix), info)
    val n = current.incrementAndGet()
    peak.getAndUpdate(p => math.max(p, n))
    totalOpened.incrementAndGet()
    val closed = new java.util.concurrent.atomic.AtomicBoolean(false)
    java.lang.reflect.Proxy.newProxyInstance(
      getClass.getClassLoader, Array(classOf[java.sql.Connection]),
      (_, method, args) => {
        if (method.getName == "close" && closed.compareAndSet(false, true))
          current.decrementAndGet()
        try method.invoke(real,
          (if (args == null) Array.empty[Object] else args): _*)
        catch {
          case e: java.lang.reflect.InvocationTargetException =>
            throw e.getCause
        }
      }).asInstanceOf[java.sql.Connection]
  }
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def getPropertyInfo(url: String, info: java.util.Properties) =
    Array.empty[java.sql.DriverPropertyInfo]
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger = throw new java.sql.SQLFeatureNotSupportedException()
}

object CountingDriver {
  val prefix = "jdbc:counting:"
  val current = new java.util.concurrent.atomic.AtomicInteger(0)
  val peak = new java.util.concurrent.atomic.AtomicInteger(0)
  val totalOpened = new java.util.concurrent.atomic.AtomicLong(0L)
  def reset(): Unit = { current.set(0); peak.set(0); totalOpened.set(0L) }
  DriverManager.registerDriver(new CountingDriver)
}
