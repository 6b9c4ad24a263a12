package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.{PgMerge, PgWireClient}

/** END-TO-END PgMerge against a REAL PostgreSQL server over the engine's
  * own v3 wire-protocol client (VERDICT r12 #1) — no JDBC jar, no psql:
  * the staged COPY write runs from Spark executors, the merge transaction
  * (BEGIN → upsert with the reference's named-constraint conflict target
  * verbatim, `db.rs:105-108` → tombstone → COMMIT) runs on one driver
  * connection, and every scenario of dev/pgmerge_live_check.py is
  * re-asserted here THROUGH that code path.
  *
  * Requires the harness server (see pgmerge_live_check.py's bootstrap:
  * trust auth, 127.0.0.1:54329); the whole suite cancels cleanly when no
  * server is reachable so `sbt test` stays green on a bare box.
  */
class PgWireSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val host = sys.env.getOrElse("PGWIRE_HOST", "127.0.0.1")
  private val port = sys.env.get("PGPORT").flatMap(_.toIntOption)
    .getOrElse(54329)
  private val user = "postgres"
  private val db = "postgres"

  private def live: Boolean =
    try { new PgWireClient(host, port, user, db).close(); true }
    catch { case _: Throwable => false }

  private def withClient[A](f: PgWireClient => A): A = {
    val c = new PgWireClient(host, port, user, db)
    try f(c) finally c.close()
  }

  private val T1 = "2026-01-01 00:00:00+00"
  private val T2 = "2026-02-02 00:00:00+00"

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.OffsetDateTime
      .parse(s.replace(" ", "T").replace("+00", "Z")).toInstant)

  /** Fresh external_file with the reference's NAMED constraint, seeded
    * with the six pre-existing rows of the live-check fixture. */
  private def seed(c: PgWireClient): Unit = {
    c.exec(s"DROP TABLE IF EXISTS ${PgMerge.table}")
    c.exec(
      s"""CREATE TABLE ${PgMerge.table} (
         |  external_source TEXT, path TEXT, filename TEXT, mime_type TEXT,
         |  created TIMESTAMPTZ, modified TIMESTAMPTZ, size BIGINT,
         |  deleted TIMESTAMPTZ,
         |  CONSTRAINT ${PgMerge.constraint}
         |    UNIQUE (external_source, path, filename))""".stripMargin)
    def lit(v: Any): String = v match {
      case null => "NULL"
      case s: String => PgWireClient.sqlLit(s)
      case other => other.toString
    }
    val rows: Seq[Seq[Any]] = Seq(
      Seq("A", "/d", "same.txt", "text/corrected", T1, T1, 10, null),
      Seq("A", "/d", "changed.txt", "text/plain", T1, T1, 10, null),
      Seq("A", "/d", "undead.txt", "text/plain", T1, T1, 10, T1),
      Seq("A", "/d", "nullc.txt", "text/plain", null, T1, 10, null),
      Seq("A", "/d", "gone.txt", "text/plain", T1, T1, 10, null),
      Seq("B", "/d", "gone.txt", "text/plain", T1, T1, 10, null))
    c.exec(s"INSERT INTO ${PgMerge.table} VALUES " +
      rows.map(_.map(lit).mkString("(", ",", ")")).mkString(","))
  }

  /** The live-check's scan listing as a Spark frame (what the engine
    * actually stages over COPY). */
  private def scanDf = {
    val rows = Seq(
      ("A", "/d", "same.txt", "text/plain", ts(T1), ts(T1), 10L),
      ("A", "/d", "changed.txt", "text/plain", ts(T1), ts(T2), 99L),
      ("A", "/d", "undead.txt", "text/plain", ts(T1), ts(T1), 10L),
      ("A", "/d", "nullc.txt", "text/plain",
        null.asInstanceOf[java.sql.Timestamp], ts(T1), 10L),
      ("A", "/d", "new.txt", "text/markdown", ts(T2), ts(T2), 7L))
    import spark.implicits._
    rows.toDF("external_source", "path", "filename", "mime_type",
      "created", "modified", "size")
  }

  private def publish(): Unit =
    PgMerge.publishScanWire(scanDf, host, port, db, user, "A")

  private def t(c: PgWireClient, sql: String): Boolean =
    c.queryOne(sql).contains("t")

  test("wire protocol basics: query, null, affected counts, COPY") {
    assume(live, s"no PostgreSQL server at $host:$port")
    withClient { c =>
      assert(c.queryOne("SELECT 1 + 1") == Some("2"))
      assert(c.queryOne("SELECT NULL") == None)
      assert(c.queryOne("SELECT 'a''b\\'") == Some("a'b\\"))
      c.exec("DROP TABLE IF EXISTS pgwire_smoke")
      c.exec("CREATE TABLE pgwire_smoke (k TEXT, n BIGINT)")
      assert(c.exec(
        "INSERT INTO pgwire_smoke VALUES ('x', 1), ('y', 2)") == 2L)
      // COPY text format: tab/newline/backslash escapes + \N null
      val n = c.copyIn("COPY pgwire_smoke (k, n) FROM STDIN",
        Iterator(
          PgWireClient.copyRow(Seq(Some("tab\there\nand\\slash"), Some("3"))),
          PgWireClient.copyRow(Seq(None, Some("4")))))
      assert(n == 2L)
      assert(c.queryOne("SELECT count(*) FROM pgwire_smoke") == Some("4"))
      assert(t(c, "SELECT k = E'tab\\there\\nand\\\\slash' " +
        "FROM pgwire_smoke WHERE n = 3"))
      assert(t(c, "SELECT k IS NULL FROM pgwire_smoke WHERE n = 4"))
      // an error leaves the connection usable (drained to ReadyForQuery)
      intercept[java.sql.SQLException](c.exec("SELECT 1/0"))
      assert(c.queryOne("SELECT 5") == Some("5"))
      c.exec("DROP TABLE pgwire_smoke")
    }
  }

  test("extended protocol: execBound runs Parse/Bind/Execute/Sync with " +
      "real text-format binds (NULL, quotes, unicode) and recovers from " +
      "errors — the sqlx prepared-statement shape (db.rs:48-65)") {
    assume(live, s"no PostgreSQL server at $host:$port")
    withClient { c =>
      c.exec("DROP TABLE IF EXISTS pgwire_bind")
      c.exec("CREATE TABLE pgwire_bind (k TEXT, n BIGINT)")
      // adversarial bind values travel as DATA, not as statement text
      val hostile = "x'; DROP TABLE pgwire_bind; --é漢\n\t\\"
      assert(c.execBound("INSERT INTO pgwire_bind VALUES ($1, $2)",
        Seq(Some(hostile), Some("1"))) == 1L)
      assert(c.execBound("INSERT INTO pgwire_bind VALUES ($1, $2)",
        Seq(None, Some("2"))) == 1L)
      assert(t(c, s"SELECT k = ${PgWireClient.sqlLit(hostile)} " +
        "FROM pgwire_bind WHERE n = 1"), "bound value arrives byte-exact")
      assert(t(c, "SELECT k IS NULL FROM pgwire_bind WHERE n = 2"))
      assert(c.execBound("UPDATE pgwire_bind SET n = n + 1 WHERE $1 = $1",
        Seq(Some("x"))) == 2L, "affected count from CommandComplete")
      // an error inside the extended cycle drains to ReadyForQuery
      intercept[java.sql.SQLException](
        c.execBound("INSERT INTO pgwire_bind VALUES ($1, $2)",
          Seq(Some("a"), Some("not-a-number"))))
      assert(c.queryOne("SELECT count(*) FROM pgwire_bind") == Some("2"),
        "connection (and data) intact after a failed bound statement")
      // extended + simple protocols interleave inside one explicit txn
      c.exec("BEGIN")
      c.execBound("DELETE FROM pgwire_bind WHERE n = $1", Seq(Some("2")))
      c.exec("ROLLBACK")
      assert(c.queryOne("SELECT count(*) FROM pgwire_bind") == Some("2"),
        "Sync does not end an explicit transaction block")
      c.exec("DROP TABLE pgwire_bind")
    }
  }

  test("publishScanWire end-to-end: all pgmerge_live_check scenarios " +
      "through the engine (real PostgreSQL, named constraint verbatim)") {
    assume(live, s"no PostgreSQL server at $host:$port")
    withClient(seed)

    // K2 first (as the live check runs it): a transaction that fails
    // mid-merge must leave NO trace — engine client, engine-generated
    // upsert SQL verbatim, injected failure, explicit ROLLBACK
    withClient { c =>
      c.exec(s"DROP TABLE IF EXISTS k2_scratch")
      c.exec(
        """CREATE TABLE k2_scratch (
          |  external_source TEXT, filename TEXT, path TEXT, mime_type TEXT,
          |  created TIMESTAMPTZ, modified TIMESTAMPTZ, size BIGINT)"""
          .stripMargin)
      c.exec("INSERT INTO k2_scratch VALUES " +
        s"('A','new.txt','/d','text/markdown','$T2','$T2',7)")
      c.exec("BEGIN")
      assert(PgMerge.upsertSql("k2_scratch").contains(
        s"ON CONFLICT ON CONSTRAINT ${PgMerge.constraint}"),
        "the named-constraint spelling is the point of the live path")
      c.exec(PgMerge.upsertSql("k2_scratch"))
      intercept[java.sql.SQLException](c.exec("SELECT 1/0"))
      c.exec("ROLLBACK")
      assert(c.queryOne(s"SELECT count(*) FROM ${PgMerge.table}") ==
        Some("6"), "rollback: failed merge transaction leaves state untouched")
      assert(c.queryOne(s"SELECT count(*) FROM ${PgMerge.table} " +
        "WHERE filename='new.txt'") == Some("0"))
      c.exec("DROP TABLE k2_scratch")
    }

    // engine's OWN rollback branch: a merge that fails inside
    // publishScanWire (constraint renamed away → ON CONFLICT target
    // unresolvable) must leave the table untouched and drop its scratch
    withClient(_.exec(s"ALTER TABLE ${PgMerge.table} RENAME CONSTRAINT " +
      s"${PgMerge.constraint} TO k2_hidden"))
    intercept[java.sql.SQLException](publish())
    withClient { c =>
      assert(c.queryOne(s"SELECT count(*) FROM ${PgMerge.table}") ==
        Some("6"), "failed publishScanWire leaves state untouched")
      assert(c.queryOne("SELECT count(*) FROM pg_tables " +
        "WHERE tablename LIKE 'graft_scan_%'") == Some("0"),
        "failed publishScanWire drops its scratch table")
      c.exec(s"ALTER TABLE ${PgMerge.table} RENAME CONSTRAINT " +
        s"k2_hidden TO ${PgMerge.constraint}")
    }

    // the real merge — staged over COPY from executors, then the
    // single-transaction epilogue, all through the engine
    publish()

    withClient { c =>
      def rowPred(fname: String, pred: String): Boolean =
        t(c, s"SELECT $pred FROM ${PgMerge.table} " +
          s"WHERE external_source='A' AND filename='${fname}'")
      assert(rowPred("new.txt",
        s"mime_type='text/markdown' AND size=7 AND deleted IS NULL AND " +
          s"created = TIMESTAMPTZ '$T2'"),
        "insert: new key appears live")
      assert(rowPred("changed.txt",
        s"modified = TIMESTAMPTZ '$T2' AND size=99 AND deleted IS NULL"),
        "update: changed row takes scan values")
      assert(rowPred("same.txt", "mime_type='text/corrected'"),
        "no-op: unchanged row keeps corrected mime (db.rs:88-90)")
      assert(rowPred("undead.txt", "deleted IS NULL"),
        "resurrect: reappeared tombstone cleared")
      assert(rowPred("nullc.txt",
        "mime_type='text/plain' AND created IS NULL AND deleted IS NULL"),
        "null-safe: NULL created == NULL created is a no-op")
      assert(rowPred("gone.txt", "deleted IS NOT NULL"),
        "tombstone: row missing from scan marked deleted")
      assert(t(c, s"SELECT deleted IS NULL FROM ${PgMerge.table} " +
        "WHERE external_source='B'"),
        "scope: other source untouched by A's tombstone pass")
      assert(c.queryOne(s"SELECT count(*) FROM ${PgMerge.table}") ==
        Some("7"), "row count: 6 existing + 1 insert")
      assert(c.queryOne("SELECT count(*) FROM pg_tables " +
        "WHERE tablename LIKE 'graft_scan_%'") == Some("0"),
        "scratch dropped inside the committed transaction")
    }

    // idempotence: the identical rescan re-stamps nothing
    publish()
    withClient { c =>
      assert(t(c, s"SELECT mime_type='text/corrected' FROM " +
        s"${PgMerge.table} WHERE external_source='A' AND " +
        "filename='same.txt'"),
        "idempotent: corrected mime survives the rescan")
      assert(t(c, s"SELECT deleted IS NULL FROM ${PgMerge.table} " +
        "WHERE external_source='A' AND filename='new.txt'"))
      assert(c.queryOne(s"SELECT count(*) FROM ${PgMerge.table}") ==
        Some("7"))
      c.exec(s"DROP TABLE ${PgMerge.table}")
    }
  }

  test("--pg CLI sink: a real directory scan publishes to live PostgreSQL " +
      "through the wire client") {
    assume(live, s"no PostgreSQL server at $host:$port")
    withClient { c =>
      c.exec(s"DROP TABLE IF EXISTS ${PgMerge.table}")
      c.exec(
        s"""CREATE TABLE ${PgMerge.table} (
           |  external_source TEXT, path TEXT, filename TEXT, mime_type TEXT,
           |  created TIMESTAMPTZ, modified TIMESTAMPTZ, size BIGINT,
           |  deleted TIMESTAMPTZ,
           |  CONSTRAINT ${PgMerge.constraint}
           |    UNIQUE (external_source, path, filename))""".stripMargin)
    }
    val tree = java.nio.file.Files.createTempDirectory("pgwire_cli")
    java.nio.file.Files.writeString(tree.resolve("a.txt"), "alpha")
    java.nio.file.Files.createDirectory(tree.resolve("sub"))
    java.nio.file.Files.writeString(tree.resolve("sub/b.json"), "{}")
    Main.main(Array("--pg", s"$host:$port/$db", "-i", "cli-pg",
      tree.toString))
    withClient { c =>
      assert(c.queryOne(s"SELECT count(*) FROM ${PgMerge.table} " +
        "WHERE external_source='cli-pg'") == Some("2"))
      assert(t(c, s"SELECT mime_type = 'application/json' FROM " +
        s"${PgMerge.table} WHERE filename = 'b.json'"),
        "P3 mime inference survives the wire publish")
      assert(t(c, s"SELECT size = 5 AND deleted IS NULL FROM " +
        s"${PgMerge.table} WHERE filename = 'a.txt'"))
      // a rescan after deletion tombstones over the same sink
      java.nio.file.Files.delete(tree.resolve("a.txt"))
      Main.main(Array("--pg", s"$host:$port/$db", "-i", "cli-pg",
        tree.toString))
      assert(t(c, s"SELECT deleted IS NOT NULL FROM ${PgMerge.table} " +
        "WHERE filename = 'a.txt'"), "vanished file tombstoned (J2)")
      assert(t(c, s"SELECT deleted IS NULL FROM ${PgMerge.table} " +
        "WHERE filename = 'b.json'"))
      c.exec(s"DROP TABLE ${PgMerge.table}")
    }
  }

  test("K1: a staged wire publish never exceeds its connection budget") {
    assume(live, s"no PostgreSQL server at $host:$port")
    withClient(seed)
    import spark.implicits._
    import org.apache.spark.sql.functions.{concat, lit}
    // 5k rows across many upstream partitions — coalesce(2) must be the
    // ONLY thing capping concurrent connections
    val big = spark.range(5000).repartition(16)
      .select(lit("K").as("external_source"), lit("/d").as("path"),
        concat(lit("f"), $"id").as("filename"),
        lit("text/plain").as("mime_type"),
        lit(ts(T1)).as("created"), lit(ts(T1)).as("modified"),
        $"id".as("size"))
    PgWireClient.resetPeak()
    PgMerge.publishScanWire(big, host, port, db, user, "K",
      maxConnections = 2)
    assert(PgWireClient.peak <= 2,
      s"connection budget exceeded: peak=${PgWireClient.peak}")
    assert(PgWireClient.live == 0, "no leaked connections")
    withClient { c =>
      assert(c.queryOne(s"SELECT count(*) FROM ${PgMerge.table} " +
        "WHERE external_source='K'") == Some("5000"))
      // the engine's connections are identifiable server-side
      assert(c.queryOne("SELECT application_name FROM pg_stat_activity " +
        "WHERE pid = pg_backend_pid()") == Some("graft"))
      c.exec(s"DROP TABLE ${PgMerge.table}")
    }
  }

  test("readCurrentWire: distributed hash-sharded read returns the exact " +
      "source slice") {
    assume(live, s"no PostgreSQL server at $host:$port")
    withClient { c =>
      seed(c)
      // bulk-extend source A so every one of 3 shards is non-trivially hit
      c.exec(s"INSERT INTO ${PgMerge.table} " +
        "SELECT 'A', '/bulk', 'f' || i, 'text/plain', " +
        s"TIMESTAMPTZ '$T1', TIMESTAMPTZ '2026-03-04 05:06:07.123456+00', " +
        "i, NULL FROM generate_series(1, 200) g(i)")
    }
    val df = PgMerge.readCurrentWire(spark, host, port, db, user, "A",
      numPartitions = 3)
    assert(df.rdd.getNumPartitions == 3, "one shard per connection")
    val rows = df.collect()
    assert(rows.length == 205, "5 seeded A rows + 200 bulk; B excluded " +
      "remotely")
    assert(rows.forall(_.getString(0) == "A"))
    // shards are DISJOINT and COMPLETE: identity set matches a direct read
    val got = rows.map(r => (r.getString(1), r.getString(2))).toSet
    assert(got.size == 205, "no duplicate identities across shards")
    val viaSql = withClient(_.query(
      s"SELECT path, filename FROM ${PgMerge.table} " +
        "WHERE external_source = 'A'"))
      .map(f => (f(0).get, f(1).get)).toSet
    assert(got == viaSql)
    // timestamptz text → micros-exact Spark timestamps
    val f7 = rows.find(r => r.getString(2) == "f7").get
    assert(f7.getTimestamp(5).toInstant ==
      java.time.Instant.parse("2026-03-04T05:06:07.123456Z"))
    assert(f7.getLong(6) == 7L && f7.isNullAt(7))
    // the tombstone column survives the round trip (undead.txt seed)
    assert(rows.count(!_.isNullAt(7)) == 1)
    // COPY statements cannot carry extended-protocol binds, so the
    // source travels as a standard_conforming_strings LITERAL in the
    // remote COPY: a hostile name (quotes, backslash, newline) must
    // still select exactly its own slice
    val hostile = "s'; DROP--\\\nsrc"
    withClient(_.exec(s"INSERT INTO ${PgMerge.table} VALUES " +
      s"(${PgWireClient.sqlLit(hostile)}, '/h', 'f', 'text/plain', " +
      s"NULL, TIMESTAMPTZ '$T1', 1, NULL)"))
    val h = PgMerge.readCurrentWire(spark, host, port, db, user, hostile,
      numPartitions = 2).collect()
    assert(h.length == 1 && h(0).getString(0) == hostile)
    withClient(_.exec(s"DROP TABLE ${PgMerge.table}"))
  }

  test("fuzz: COPY text escaping and timestamptz parsing round-trip " +
      "adversarial values through live PostgreSQL bit-exactly") {
    assume(live, s"no PostgreSQL server at $host:$port")
    val rnd = new scala.util.Random(20260815L)
    // adversarial pool of whole CODE POINTS: every COPY metachar,
    // quotes, unicode controls (U+001F, NEL, U+2028) and an
    // astral-plane emoji — picking raw chars would split its surrogate
    // pair into invalid Unicode, which PostgreSQL rightly rejects.
    // NUL excluded: PG TEXT forbids it by design.
    val pool = Seq("\t", "\n", "\r", "\\", "'", "\"", "`", "|", ",",
      ";", "%", "_", " ", "\u001f", "\u0085", "\u2028", "\u00e9",
      "\u6f22", new String(Character.toChars(0x1F642)), "a", "b", "0")
    val strings = (0 until 200).map { i =>
      (0 until rnd.nextInt(12)).map(_ => pool(rnd.nextInt(pool.length)))
        .mkString + i // unique suffix = stable join key
    }
    val instants = (0 until 200).map { _ =>
      java.time.Instant.ofEpochSecond(
        rnd.between(-30610224000L, 30610224000L), // years ~1000-2940
        rnd.nextInt(1000000) * 1000L)
    }
    withClient { c =>
      c.exec("SET TIME ZONE 'UTC'")
      c.exec("DROP TABLE IF EXISTS pgwire_fuzz")
      c.exec("CREATE TABLE pgwire_fuzz (i INT, s TEXT, ts TIMESTAMPTZ)")
      val fmt = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS'+00'")
        .withZone(java.time.ZoneOffset.UTC)
      val n = c.copyIn("COPY pgwire_fuzz (i, s, ts) FROM STDIN",
        strings.indices.iterator.map(i => PgWireClient.copyRow(Seq(
          Some(i.toString), Some(strings(i)),
          Some(fmt.format(instants(i)))))))
      assert(n == 200L)
      val rows = c.query(
        "SELECT i, s, ts FROM pgwire_fuzz ORDER BY i")
      assert(rows.size == 200)
      rows.foreach { r =>
        val i = r(0).get.toInt
        assert(r(1).get == strings(i),
          s"string $i mangled: got ${r(1).get.toList} " +
            s"want ${strings(i).toList}")
        assert(PgWireClient.parsePgTimestamp(r(2).get).toInstant ==
          instants(i), s"instant $i: got ${r(2).get}")
      }
      c.exec("DROP TABLE pgwire_fuzz")
    }
  }

  test("--pg --interval: the reference's poll-sleep daemon re-scans and " +
      "tombstones a file deleted between cycles") {
    assume(live, s"no PostgreSQL server at $host:$port")
    withClient { c =>
      c.exec(s"DROP TABLE IF EXISTS ${PgMerge.table}")
      c.exec(
        s"""CREATE TABLE ${PgMerge.table} (
           |  external_source TEXT, path TEXT, filename TEXT, mime_type TEXT,
           |  created TIMESTAMPTZ, modified TIMESTAMPTZ, size BIGINT,
           |  deleted TIMESTAMPTZ,
           |  CONSTRAINT ${PgMerge.constraint}
           |    UNIQUE (external_source, path, filename))""".stripMargin)
    }
    val tree = java.nio.file.Files.createTempDirectory("pg_daemon")
    java.nio.file.Files.writeString(tree.resolve("a.txt"), "alpha")
    java.nio.file.Files.writeString(tree.resolve("b.txt"), "beta")
    // the daemon runs as one streaming query in the shared session; the
    // test ends it by stopping the queries it started
    val before = spark.streams.active.map(_.id).toSet
    val daemon = new Thread(() => Main.main(Array(
      "--pg", s"$host:$port/$db", "-i", "daemon-pg", "--interval", "1",
      tree.toString)))
    daemon.setDaemon(true)
    try {
      daemon.start()
      val deadline = System.currentTimeMillis() + 90000L
      def poll(pred: String): Boolean = {
        while (System.currentTimeMillis() < deadline) {
          if (withClient(c => t(c, pred))) return true
          Thread.sleep(300L)
        }
        false
      }
      assert(poll(s"SELECT count(*) = 2 FROM ${PgMerge.table} " +
        "WHERE external_source = 'daemon-pg' AND deleted IS NULL"),
        "first cycle published both files live")
      java.nio.file.Files.delete(tree.resolve("a.txt"))
      assert(poll(s"SELECT deleted IS NOT NULL FROM ${PgMerge.table} " +
        "WHERE filename = 'a.txt'"),
        "a later cycle tombstoned the vanished file")
      assert(withClient(c => t(c, s"SELECT deleted IS NULL FROM " +
        s"${PgMerge.table} WHERE filename = 'b.txt'")))
    } finally {
      spark.streams.active.filterNot(q => before(q.id)).foreach(_.stop())
      daemon.join(30000L)
      withClient(_.exec(s"DROP TABLE IF EXISTS ${PgMerge.table}"))
    }
    assert(!daemon.isAlive, "the daemon returns once its query is stopped")
  }

  test("--pg over s3:// through the s3a connector: rows carry the s3:// " +
      "identifier they are published under, so a vanished object is " +
      "tombstoned") {
    assume(live, s"no PostgreSQL server at $host:$port")
    withClient { c =>
      c.exec(s"DROP TABLE IF EXISTS ${PgMerge.table}")
      c.exec(
        s"""CREATE TABLE ${PgMerge.table} (
           |  external_source TEXT, path TEXT, filename TEXT, mime_type TEXT,
           |  created TIMESTAMPTZ, modified TIMESTAMPTZ, size BIGINT,
           |  deleted TIMESTAMPTZ,
           |  CONSTRAINT ${PgMerge.constraint}
           |    UNIQUE (external_source, path, filename))""".stripMargin)
    }
    // s3:// maps to s3a://, served here by the in-JVM object store
    val hc = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.s3a.impl", "fs.s3a.impl.disable.cache")
    val saved = keys.map(k => k -> Option(hc.get(k)))
    hc.set("fs.s3a.impl", classOf[MockS3FileSystem].getName)
    hc.set("fs.s3a.impl.disable.cache", "true")
    MockS3Store.clear()
    MockS3Store.put("pgs3", "docs/a.txt", 5L, 1700000000000L)
    MockS3Store.put("pgs3", "docs/sub/b.json", 2L, 1700000001000L)
    val url = "s3://pgs3/docs"
    def run(): Unit = Main.main(Array("--pg", s"$host:$port/$db", url))
    try {
      run()
      MockS3Store.bucket("pgs3").remove("docs/a.txt")
      run()
      withClient { c =>
        assert(c.query(s"SELECT DISTINCT external_source FROM " +
          s"${PgMerge.table}").map(_.head) == Seq(Some(url)))
        assert(t(c, s"SELECT deleted IS NOT NULL FROM ${PgMerge.table} " +
          "WHERE filename = 'a.txt'"), "vanished object tombstoned (J2)")
        assert(t(c, s"SELECT deleted IS NULL FROM ${PgMerge.table} " +
          "WHERE filename = 'b.json'"))
      }
    } finally {
      // restore, not unset: unset also drops core-default.xml's value
      // for every later suite of the shared session
      saved.foreach { case (k, v) => v.fold(hc.unset(k))(hc.set(k, _)) }
      MockS3Store.clear()
      withClient(_.exec(s"DROP TABLE IF EXISTS ${PgMerge.table}"))
    }
  }

  test("COPY staging preserves timestamptz microseconds and text edge " +
      "cases across the wire") {
    assume(live, s"no PostgreSQL server at $host:$port")
    import spark.implicits._
    val odd = java.sql.Timestamp.from(
      java.time.Instant.parse("2026-03-04T05:06:07.123456Z"))
    val df = Seq(
      ("W", "/p\tq", "a'b\\c", "text/plain", odd, odd, 1L),
      // an exact duplicate listing: the reference set-dedups these
      // (db.rs:120-123); without the upsert's DISTINCT it dies with
      // PostgreSQL 21000 — same shape as a Spark task-retry re-COPY
      ("W", "/p\tq", "a'b\\c", "text/plain", odd, odd, 1L),
      ("W", "/line\nbreak", "", "text/plain", odd, odd,
        Long.MaxValue)) // empty filename: the S3 root-key shape (P2)
      .toDF("external_source", "path", "filename", "mime_type",
        "created", "modified", "size")
    withClient { c =>
      c.exec(s"DROP TABLE IF EXISTS ${PgMerge.table}")
      c.exec(
        s"""CREATE TABLE ${PgMerge.table} (
           |  external_source TEXT, path TEXT, filename TEXT, mime_type TEXT,
           |  created TIMESTAMPTZ, modified TIMESTAMPTZ, size BIGINT,
           |  deleted TIMESTAMPTZ,
           |  CONSTRAINT ${PgMerge.constraint}
           |    UNIQUE (external_source, path, filename))""".stripMargin)
    }
    PgMerge.publishScanWire(df, host, port, db, user, "W")
    withClient { c =>
      assert(c.queryOne(s"SELECT count(*) FROM ${PgMerge.table}") ==
        Some("2"))
      assert(t(c, s"SELECT created = TIMESTAMPTZ " +
        s"'2026-03-04 05:06:07.123456+00' FROM ${PgMerge.table} " +
        "WHERE filename = 'a''b\\c'"),
        "microsecond timestamptz fidelity over COPY")
      assert(t(c, s"SELECT path = E'/p\\tq' FROM ${PgMerge.table} " +
        "WHERE filename = 'a''b\\c'"), "tab inside a path component")
      assert(t(c, s"SELECT size = ${Long.MaxValue} FROM " +
        s"${PgMerge.table} WHERE filename = ''"), "max int8 size")
      c.exec(s"DROP TABLE ${PgMerge.table}")
    }
  }

  test("copyOut: COPY TO STDOUT decodes every COPY-out escape " +
      "(\\b \\f \\n \\r \\t \\v \\\\ \\N) bit-exactly against copyIn, " +
      "streams incrementally, and recovers from errors") {
    assume(live, s"no PostgreSQL server at $host:$port")
    withClient { c =>
      c.exec("DROP TABLE IF EXISTS pgwire_copyout")
      c.exec("CREATE TABLE pgwire_copyout (i INT, s TEXT)")
      // every control char COPY TO escapes, plus quotes/unicode/empty;
      // raw \u000b and \b/\f exercise the escapes copyIn never EMITS
      // (copyField passes them raw — legal COPY input) but COPY TO does
      val vals: Seq[Option[String]] = Seq(
        Some("plain"), Some(""), None, Some("tab\there"), Some("nl\nhere"),
        Some("cr\rhere"), Some("back\\slash"), Some("bell\bbs"),
        Some("ff\fff"), Some("vt\u000bvt"), Some("\\N"), // literal ≠ NULL
        Some("q'u\"ote"), Some("é漢" +
          new String(Character.toChars(0x1F642))))
      val n = c.copyIn("COPY pgwire_copyout (i, s) FROM STDIN",
        vals.indices.iterator.map(i => PgWireClient.copyRow(
          Seq(Some(i.toString), vals(i)))))
      assert(n == vals.size.toLong)
      val back = c.copyOut(
        "COPY (SELECT i, s FROM pgwire_copyout ORDER BY i) TO STDOUT")
        .toVector
      assert(back.size == vals.size)
      back.foreach { f =>
        val i = f(0).get.toInt
        assert(f(1) == vals(i), s"value $i mangled: got ${f(1)} " +
          s"want ${vals(i)}")
      }
      // connection reusable after exhaustion
      assert(c.queryOne("SELECT 6 * 7") == Some("42"))
      // an error (bad statement) drains clean and raises
      intercept[java.sql.SQLException](
        c.copyOut("COPY (SELECT 1/0) TO STDOUT").toVector)
      assert(c.queryOne("SELECT 8") == Some("8"))
      c.exec("DROP TABLE pgwire_copyout")
    }
    // incrementality at the byte layer, same proof shape as queryStream:
    // the first row of a ~27 MB COPY arrives after a bounded read
    val c2 = new PgWireClient(host, port, user, db)
    try {
      val before = c2.bytesReceived
      val it = c2.copyOut("COPY (SELECT i, repeat('x', 120) " +
        "FROM generate_series(1, 200000) g(i)) TO STDOUT")
      assert(it.next()(0) == Some("1"))
      val afterFirst = c2.bytesReceived - before
      assert(afterFirst < (1L << 20),
        s"first row cost $afterFirst bytes — the whole COPY result " +
          "was NOT buffered before delivery")
      assert(it.size == 199999)
      assert(c2.bytesReceived - before > (20L << 20))
    } finally c2.close()
  }

  test("property (offline): copyDecodeRow inverts copyRow over seeded " +
      "adversarial field values — the COPY text codec is its own inverse") {
    val rnd = new scala.util.Random(20260815L)
    val pool = Seq("\t", "\n", "\r", "\\", "\\N", "\b", "\f", "\u000b",
      "'", "\"", "é", "漢", new String(Character.toChars(0x1F642)),
      " ", "", "a", "0", "\\\\", "n", "N")
    (0 until 500).foreach { i =>
      val fields: Seq[Option[String]] = (0 until 1 + rnd.nextInt(6)).map {
        _ =>
          if (rnd.nextInt(10) == 0) None
          else Some((0 until rnd.nextInt(8))
            .map(_ => pool(rnd.nextInt(pool.length))).mkString)
      }
      val line = PgWireClient.copyRow(fields)
      // an encoded row never contains a RAW delimiter the framing
      // could misread as structure… except \b/\f/VT, which the
      // WRITE side passes raw (legal COPY input; only COPY TO escapes
      // them) — so strip those before asserting
      val structural = line.filter(c => c == '\n' || c == '\r')
      assert(structural.isEmpty, s"case $i leaked a raw row delimiter")
      assert(PgWireClient.copyDecodeRow(line) == fields.toVector,
        s"case $i: $fields through '$line'")
    }
    // the NULL marker is unambiguous: a LITERAL backslash-N value
    // encodes as \\N and decodes back as the string, never as NULL
    assert(PgWireClient.copyRow(Seq(Some("\\N"))) == "\\\\N")
    assert(PgWireClient.copyDecodeRow("\\\\N") == Vector(Some("\\N")))
    assert(PgWireClient.copyDecodeRow("\\N") == Vector(None))
  }

  test("cancel: CancelRequest stops a running query (57014) and a " +
      "cancelled shard-read backend leaves pg_stat_activity") {
    assume(live, s"no PostgreSQL server at $host:$port")
    val c = new PgWireClient(host, port, user, db)
    try {
      val marker = "graft_cancel_probe"
      @volatile var failure: Option[Throwable] = None
      val runner = new Thread(() => {
        try { c.query(s"SELECT pg_sleep(30) /* $marker */"); () }
        catch { case e: Throwable => failure = Some(e) }
      })
      runner.start()
      // wait until the server reports the query running
      withClient { probe =>
        var tries = 0
        while (tries < 100 && !t(probe, "SELECT count(*) > 0 FROM " +
          "pg_stat_activity WHERE query LIKE '%" + marker +
          "%' AND state = 'active' AND pid <> pg_backend_pid()")) {
          Thread.sleep(100L); tries += 1
        }
        assert(tries < 100, "pg_sleep query never showed up as active")
        c.cancel()
        runner.join(10000L)
        assert(!runner.isAlive, "cancelled query returned")
        assert(failure.exists(_.getMessage.contains("57014")),
          s"query failed with 'canceling statement': $failure")
        // the SESSION survives a cancel (only the query died)
        assert(c.queryOne("SELECT 9") == Some("9"))
        // cancelIfActive outside a cycle is a no-op (nothing to cancel)
        c.cancelIfActive()
        assert(c.queryOne("SELECT 10") == Some("10"))
        // after close, the backend is gone from pg_stat_activity — the
        // shard-read task-kill path (cancelIfActive + close) in one
        c.close()
        var gone = false
        var w = 0
        while (w < 100 && !gone) {
          gone = t(probe, "SELECT count(*) = 0 FROM pg_stat_activity " +
            "WHERE query LIKE '%" + marker + "%' AND pid <> pg_backend_pid()")
          if (!gone) { Thread.sleep(100L); w += 1 }
        }
        assert(gone, "backend still in pg_stat_activity after close")
      }
    } finally c.close()
  }

  test("connect retry: a refusing-then-accepting endpoint is survived " +
      "by bounded backoff; auth rejections are NOT retried") {
    assume(live, s"no PostgreSQL server at $host:$port")
    // phase 1: nothing listens on the port → ECONNREFUSED; after ~400 ms
    // a byte-pump proxy to the real server starts accepting
    val proxyPort = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }
    val proxyUp = new java.util.concurrent.CountDownLatch(1)
    val proxy = new Thread(() => {
      Thread.sleep(400L)
      val srv = new java.net.ServerSocket(proxyPort, 4,
        java.net.InetAddress.getByName("127.0.0.1"))
      proxyUp.countDown()
      def pump(a: java.io.InputStream, b: java.io.OutputStream): Thread = {
        val t = new Thread(() => {
          try {
            val buf = new Array[Byte](8192)
            var n = a.read(buf)
            while (n >= 0) { b.write(buf, 0, n); b.flush(); n = a.read(buf) }
          } catch { case _: Throwable => () }
        })
        t.setDaemon(true); t.start(); t
      }
      try {
        val cli = srv.accept()
        val up = new java.net.Socket(host, port)
        pump(cli.getInputStream, up.getOutputStream)
        pump(up.getInputStream, cli.getOutputStream)
        Thread.sleep(30000L)
      } catch { case _: Throwable => () }
    })
    proxy.setDaemon(true)
    // attempts=1 BEFORE the proxy even starts: fails fast, nothing listens
    intercept[java.io.IOException](PgWireClient.connect(
      "127.0.0.1", proxyPort, user, db, attempts = 1))
    proxy.start()
    // bounded retry outlives the refusal window and lands on the proxy
    val c = PgWireClient.connect("127.0.0.1", proxyPort, user, db,
      attempts = 5, backoffMs = 300)
    try assert(c.queryOne("SELECT 11") == Some("11")) finally c.close()
    // an AUTH rejection must throw immediately (SQLException, no retry):
    // a nonexistent role fails startup deterministically
    val t0 = System.nanoTime()
    intercept[java.sql.SQLException](PgWireClient.connect(
      host, port, "graft_no_such_role_xyz", db, attempts = 5,
      backoffMs = 2000))
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(elapsedMs < 2000, s"auth rejection took ${elapsedMs}ms — it " +
      "was retried (the backoff alone would exceed 2000ms)")
  }
}
