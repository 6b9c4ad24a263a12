package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.{PgMerge, PgWireClient}

/** LIVE coverage for the `graft-pg` DataSource V2 table (VERDICT r14
  * #1): `spark.read.format("graft-pg")` is the planner-integrated read
  * half of the reference product — COPY TO STDOUT bulk transport, hash
  * sharding across executor tasks, and the `external_source` equality
  * predicate PUSHED into the remote statement. Requires the harness
  * PostgreSQL (trust auth, 127.0.0.1:54329); every test cancels cleanly
  * when no server is reachable. */
class PgSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val host = sys.env.getOrElse("PGWIRE_HOST", "127.0.0.1")
  private val port = sys.env.get("PGPORT").flatMap(_.toIntOption)
    .getOrElse(54329)
  private val db = "postgres"
  private def url = s"$host:$port/$db"
  private def target = PgMerge.parsePgTarget(url)

  private def live: Boolean =
    try { new PgWireClient(host, port, "postgres", db).close(); true }
    catch { case _: Throwable => false }

  private def withClient[A](f: PgWireClient => A): A = {
    val c = new PgWireClient(host, port, "postgres", db)
    try f(c) finally c.close()
  }

  /** `pg_stat_reset()` once no other client backend of the test
    * database is left, waiting at most 30 s: a previous read's shard
    * sessions flush their table counters as they exit, and one that
    * exits after the reset adds its blocks to the next measurement (a
    * ctid read once counted exactly 4× its true blocks that way).
    * `held` are backends a still-running stream keeps open; they never
    * exit, so they are not waited for. */
  private def resetStats(held: Seq[String] = Nil): Unit = withClient { c =>
    val notHeld = held.map(p => s" AND pid <> ${p.toInt}").mkString
    def others: Long = c.queryOne("SELECT count(*) FROM pg_stat_activity " +
      "WHERE datname = current_database() AND pid <> pg_backend_pid() " +
      "AND backend_type = 'client backend'" + notHeld)
      .map(_.toLong).getOrElse(0L)
    val deadline = System.currentTimeMillis() + 30000L
    while (others > 0L && System.currentTimeMillis() < deadline)
      Thread.sleep(100L)
    c.queryOne("SELECT pg_stat_reset()")
    ()
  }

  private def createTable(c: PgWireClient): Unit = {
    c.exec(s"DROP TABLE IF EXISTS ${PgMerge.table}")
    c.exec(
      s"""CREATE TABLE ${PgMerge.table} (
         |  external_source TEXT, path TEXT, filename TEXT, mime_type TEXT,
         |  created TIMESTAMPTZ, modified TIMESTAMPTZ, size BIGINT,
         |  deleted TIMESTAMPTZ,
         |  CONSTRAINT ${PgMerge.constraint}
         |    UNIQUE (external_source, path, filename))""".stripMargin)
  }

  test("graft-pg: the external_source predicate is PUSHED to the remote " +
      "statement (visible in the plan), residual filters stay Spark-side, " +
      "and the slice is exact — incl. a hostile source name") {
    assume(live, s"no PostgreSQL server at $host:$port")
    withClient { c =>
      createTable(c)
      c.exec(s"INSERT INTO ${PgMerge.table} " +
        "SELECT 'P' || (i % 3), '/d' || (i % 7), 'f' || i, 'text/plain', " +
        "NULL, TIMESTAMPTZ '2026-01-02 03:04:05.678901+00' " +
        "  + make_interval(secs => i), i, " +
        "CASE WHEN i % 10 = 0 THEN now() END " +
        "FROM generate_series(1, 3000) g(i)")
    }
    import org.apache.spark.sql.functions._
    val reader = spark.read.format("graft-pg").option("url", url)
    val df = reader.load()
      .filter(col("external_source") === "P1")
      .filter(col("size") <= 100) // bigint range: PUSHES (VERDICT r16 #5)
      .filter(col("path") < "/z") // TEXT range: must stay Spark-side
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("external_source = 'P1'"),
      s"pushdown visible in the plan:\n$plan")
    assert(plan.contains("size <= 100"),
      s"the bigint range predicate reaches the remote statement:\n$plan")
    assert(!plan.contains("path < '/z'"),
      s"the TEXT range stays Spark-side (collation vs binary UTF-8 " +
        s"ordering divergence):\n$plan")
    val rows = df.collect()
    // i % 3 == 1 && i <= 100 → i in {1,4,…,100}: 34 rows
    assert(rows.length == 34, s"got ${rows.length}")
    assert(rows.forall(_.getString(0) == "P1"))
    assert(rows.forall(_.getLong(6) <= 100))
    // deleted tombstones and micros-exact timestamps survive
    val all = reader.load().filter(col("external_source") === "P0").collect()
    assert(all.length == 1000)
    assert(all.count(!_.isNullAt(7)) == 100, "every 10th row tombstoned")
    assert(all.map(_.getTimestamp(5).toInstant).min ==
      java.time.Instant.parse("2026-01-02T03:04:08.678901Z"),
      "micros-exact timestamps (P0 = i%3==0, first i=3)")
    // timestamp RANGE pushdown (VERDICT r16 #5), value-exact vs the
    // residual form: the same predicate evaluated Spark-side over the
    // full slice must select the identical rows
    val cut = java.sql.Timestamp.from(
      java.time.Instant.parse("2026-01-02T03:29:05.678901Z")) // +1500s
    val pushedTs = reader.load()
      .filter(col("external_source") === "P2" && col("modified") >= cut)
    val tsPlan = pushedTs.queryExecution.executedPlan.toString
    assert(tsPlan.contains(
      "modified >= TIMESTAMPTZ '2026-01-02 03:29:05.678901+00'"),
      s"timestamp range reaches the remote statement:\n$tsPlan")
    val pushedRows = pushedTs.collect().map(_.getString(2)).sorted.toSeq
    val residualRows = reader.load()
      .filter(col("external_source") === "P2").collect()
      .filter(r => !r.getTimestamp(5).before(cut))
      .map(_.getString(2)).sorted.toSeq
    assert(pushedRows == residualRows && pushedRows.length == 500,
      s"pushed=${pushedRows.length} residual=${residualRows.length}")
    // `deleted IS NULL` PUSHES (VERDICT r15 #2 — "live files only" is
    // the query every real consumer runs): the tombstone history stays
    // server-side, the plan says so, and the rows are value-exact
    // against the residual-filter form evaluated Spark-side
    val liveOnly = reader.load()
      .filter(col("external_source") === "P0")
      .filter(col("deleted").isNull)
    val lp = liveOnly.queryExecution.executedPlan.toString
    assert(lp.contains("deleted IS NULL"),
      s"deleted IS NULL pushed:\n$lp")
    val liveRows = liveOnly.collect().map(_.toString).sorted.toSeq
    val residual = all.filter(_.isNullAt(7)).map(_.toString).sorted.toSeq
    assert(liveRows == residual && liveRows.length == 900,
      "pushed and residual forms agree value-exact")
    // tombstones-only, the inverse predicate
    val dead = reader.load().filter(col("external_source") === "P0")
      .filter(col("deleted").isNotNull)
    assert(dead.queryExecution.executedPlan.toString
      .contains("deleted IS NOT NULL"))
    assert(dead.count() == 100)
    // equality on the other text/bigint columns pushes too
    val eq = reader.load().filter(col("path") === "/d3")
      .filter(col("size") === 3L)
    val ep = eq.queryExecution.executedPlan.toString
    assert(ep.contains("path = '/d3'") && ep.contains("size = 3"), ep)
    assert(eq.count() == 1, "size is unique in the fixture: exactly i=3")
    // COLUMN PRUNING reaches the remote COPY: a 2-column projection
    // ships 2 columns' text, and the plan says so
    val pruned = reader.load()
      .filter(col("external_source") === "P2")
      .select(col("filename"), col("size"))
    val prunedPlan = pruned.queryExecution.executedPlan.toString
    assert(prunedPlan.contains("ReadColumns: [filename, size]"),
      s"pruned read schema visible in the plan:\n$prunedPlan")
    val ps = pruned.collect()
    assert(ps.length == 1000 && ps.map(_.getLong(1)).sum ==
      (2 to 2999 by 3).map(_.toLong).sum)
    // the empty projection (count(*)) ships a constant marker per row
    assert(reader.load().filter(col("external_source") === "P2")
      .count() == 1000)
    // PARTIAL limit pushdown: the remote statement gains LIMIT n, the
    // plan says so, and the global limit still holds exactly
    val lim = reader.load().filter(col("external_source") === "P0").limit(7)
    val lplan = lim.queryExecution.executedPlan.toString
    assert(lplan.contains("PushedLimit: 7"), s"limit pushed:\n$lplan")
    assert(lim.collect().length == 7)
    // NO filter: the whole table crosses (all three sources)
    assert(reader.load().count() == 3000)
    // hostile source name travels safely as a COPY literal
    val hostile = "p'; DROP--\\\nsrc"
    withClient(_.exec(s"INSERT INTO ${PgMerge.table} VALUES " +
      s"(${PgWireClient.sqlLit(hostile)}, '/h', 'f', 'text/plain', " +
      "NULL, now(), 1, NULL)"))
    val h = reader.load().filter(col("external_source") === hostile)
    assert(h.count() == 1)
    withClient(_.exec(s"DROP TABLE ${PgMerge.table}"))
  }

  test("graft-pg aggregate pushdown: count/min/max/sum fold REMOTELY to " +
      "one partial row per shard; text min/max stays Spark-side " +
      "(collation divergence)") {
    assume(live, s"no PostgreSQL server at $host:$port")
    withClient { c =>
      createTable(c)
      c.exec(s"INSERT INTO ${PgMerge.table} " +
        "SELECT 'AG', '/d' || (i % 7), 'f' || i, 'text/plain', " +
        "NULL, TIMESTAMPTZ '2026-01-02 03:04:05.678901+00' + " +
        "(i || ' s')::interval, i, " +
        "CASE WHEN i % 5 = 0 THEN now() END " +
        "FROM generate_series(1, 5000) g(i)")
    }
    import org.apache.spark.sql.functions._
    val df = spark.read.format("graft-pg").option("url", url)
      .option("partitions", "4").load()
      .filter(col("external_source") === "AG")
      .agg(count(lit(1)).as("n"), count(col("deleted")).as("nd"),
        min("size").as("mn"), max("size").as("mx"),
        sum("size").as("sm"), max("modified").as("mm"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation: [count(*), count(deleted), " +
      "min(size), max(size), CAST(sum(size) AS BIGINT), max(modified)]"),
      s"aggregates pushed:\n$plan")
    val r = df.collect()(0)
    assert(r.getLong(0) == 5000L)
    assert(r.getLong(1) == 1000L, "count(col) skips NULLs remotely")
    assert(r.getLong(2) == 1L && r.getLong(3) == 5000L)
    assert(r.getLong(4) == 5000L * 5001L / 2L)
    assert(r.getTimestamp(5).toInstant ==
      java.time.Instant.parse("2026-01-02T03:04:05.678901Z")
        .plusSeconds(5000L))
    // GROUP BY pushdown: grouped partials fold remotely per shard and
    // Spark merges them — equality-only semantics, so text group KEYS
    // are safe where text min/max is not
    val gdf = spark.read.format("graft-pg").option("url", url)
      .option("partitions", "4").load()
      .filter(col("external_source") === "AG")
      .groupBy("path")
      .agg(count(lit(1)).as("n"), sum("size").as("sm"))
    val gplan = gdf.queryExecution.executedPlan.toString
    assert(gplan.contains("PushedGroupBy: [path]") &&
      gplan.contains("PushedAggregation: [count(*), " +
        "CAST(sum(size) AS BIGINT)]"), s"grouped pushdown:\n$gplan")
    val g = gdf.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2))).toMap
    assert(g.size == 7)
    // i % 7 == 3 -> 714 rows (3, 10, ..., 4994); sum = sum of that series
    assert(g("/d3")._1 == 714L)
    assert(g("/d3")._2 == (3 to 4994 by 7).map(_.toLong).sum)
    // pushed DISTINCT: a group-by with no aggregates ships one row per
    // distinct key per shard
    val ddf = spark.read.format("graft-pg").option("url", url).load()
      .filter(col("external_source") === "AG")
      .select("path").distinct()
    assert(ddf.queryExecution.executedPlan.toString
      .contains("PushedGroupBy: [path]"))
    assert(ddf.collect().map(_.getString(0)).sorted.toSeq ==
      (0 until 7).map(i => s"/d$i"))
    // TEXT min/max pushes via COLLATE "C" (VERDICT r15 #6): memcmp over
    // UTF-8 bytes IS Spark's binary UTF8String order, so the collation
    // divergence that once kept text min/max Spark-side is collated
    // away. Mixed-case + accented fixture: under a linguistic server
    // collation min/max would differ ('Zebra' < 'apple' in bytes but
    // not in en_US; 'Éclair' is the byte-order max, not 'Zebra')
    withClient { c =>
      c.exec(s"INSERT INTO ${PgMerge.table} VALUES " +
        "('TXT', '/t', 'Zebra.txt', 'text/plain', NULL, now(), 1, NULL), " +
        "('TXT', '/t', 'apple.txt', 'text/plain', NULL, now(), 2, NULL), " +
        "('TXT', '/t', 'AAA.txt', 'text/plain', NULL, now(), 3, NULL), " +
        "('TXT', '/t', 'Éclair.txt', 'text/plain', NULL, now(), 4, NULL)")
    }
    val tdf = spark.read.format("graft-pg").option("url", url).load()
      .filter(col("external_source") === "TXT")
      .agg(min("filename").as("f"), max("filename").as("g"))
    val tplan = tdf.queryExecution.executedPlan.toString
    assert(tplan.contains("PushedAggregation: [min(filename COLLATE " +
      "\"C\"), max(filename COLLATE \"C\")]"), s"text min/max pushed:\n$tplan")
    val tr = tdf.collect()(0)
    // the Spark-side form, for value-exactness: natural String order on
    // this fixture (no surrogates) == code points == UTF-8 bytes
    val names = spark.read.format("graft-pg").option("url", url).load()
      .filter(col("external_source") === "TXT")
      .select("filename").collect().map(_.getString(0))
    assert(tr.getString(0) == names.min && tr.getString(1) == names.max)
    assert(tr.getString(0) == "AAA.txt" && tr.getString(1) == "Éclair.txt")
    // empty slice: pushed partials merge to count 0 / NULL min
    val e = spark.read.format("graft-pg").option("url", url).load()
      .filter(col("external_source") === "NOPE")
      .agg(count(lit(1)), min("size")).collect()(0)
    assert(e.getLong(0) == 0L && e.isNullAt(1))
    assert(PgWireClient.live == 0, "no leaked connections")
    withClient(_.exec(s"DROP TABLE ${PgMerge.table}"))
  }

  test("graft-pg WRITE: df.write.format(graft-pg) runs the full " +
      "transactional scan publish (upsert + mime preservation + " +
      "tombstone + resurrect) under the plan-enforced connection budget") {
    assume(live, s"no PostgreSQL server at $host:$port")
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val t1 = ts("2026-01-01T00:00:00Z")
    val t2 = ts("2026-02-02T00:00:00.123456Z")
    withClient { c =>
      createTable(c)
      // pre-existing state: a corrected mime, a tombstoned row, a row
      // that will vanish — the PgWireSpec live-check shapes
      c.exec(s"INSERT INTO ${PgMerge.table} VALUES " +
        "('W', '/d', 'same.txt', 'text/corrected', " +
        " TIMESTAMPTZ '2026-01-01 00:00:00+00', " +
        " TIMESTAMPTZ '2026-01-01 00:00:00+00', 10, NULL), " +
        "('W', '/d', 'undead.txt', 'text/plain', NULL, " +
        " TIMESTAMPTZ '2026-01-01 00:00:00+00', 5, now()), " +
        "('W', '/d', 'gone.txt', 'text/plain', NULL, " +
        " TIMESTAMPTZ '2026-01-01 00:00:00+00', 7, NULL), " +
        "('OTHER', '/d', 'keep.txt', 'text/plain', NULL, " +
        " TIMESTAMPTZ '2026-01-01 00:00:00+00', 1, NULL)")
    }
    val scan = Seq(
      ("W", "/d", "same.txt", "text/plain", t1, t1, 10L), // unchanged
      ("W", "/d", "undead.txt", "text/plain",
        null.asInstanceOf[java.sql.Timestamp], t1, 5L), // resurrects
      ("W", "/d", "new.txt", "text/markdown", t2, t2, 9L)) // insert
      .toDF("external_source", "path", "filename", "mime_type",
        "created", "modified", "size")
      .repartition(8) // the WRITE must repartition down to the budget
    PgWireClient.resetPeak()
    scan.write.format("graft-pg").option("url", url)
      .option("source", "W").mode("append").save()
    assert(PgWireClient.peak <= 2,
      s"K1: plan-enforced maxConnections (writers are sequential with " +
        s"the driver's scratch/epilogue connections): ${PgWireClient.peak}")
    val back = spark.read.format("graft-pg").option("url", url).load()
      .filter(col("external_source") === "W").collect()
      .map(r => r.getString(2) -> r).toMap
    assert(back.size == 4)
    assert(back("same.txt").getString(3) == "text/corrected",
      "unchanged row keeps its corrected mime (db.rs:88-90)")
    assert(back("undead.txt").isNullAt(7), "reappeared row resurrected")
    assert(back("new.txt").getString(3) == "text/markdown" &&
      back("new.txt").getTimestamp(4).toInstant == t2.toInstant,
      "insert lands micros-exact")
    assert(!back("gone.txt").isNullAt(7), "vanished key tombstoned (J2)")
    // cross-source isolation: OTHER untouched
    val other = spark.read.format("graft-pg").option("url", url).load()
      .filter(col("external_source") === "OTHER").collect()
    assert(other.length == 1 && other(0).isNullAt(7))
    // plan-time validation, BEFORE any connection opens: a mistyped
    // column fails Spark's ANSI store-assignment against the table
    // schema (a MISSING nullable column is legitimately padded with
    // NULL by byName append resolution — the writer's own fieldIdx
    // check is defense-in-depth behind that), and a missing 'source'
    // option fails the builder
    val badType = intercept[org.apache.spark.sql.AnalysisException](
      Seq(("W", "/d", "f.txt", "text/plain", "not-a-long"))
        .toDF("external_source", "path", "filename", "mime_type", "size")
        .write.format("graft-pg").option("url", url)
        .option("source", "W").mode("append").save())
    assert(badType.getMessage.toLowerCase.contains("cast") ||
      badType.getMessage.contains("INCOMPATIBLE"), badType.getMessage)
    val noSrc = intercept[Exception](
      scan.write.format("graft-pg").option("url", url)
        .mode("append").save())
    assert(noSrc.getMessage.contains("'source'"), noSrc.getMessage)
    // FAILED publish: a same-key CONTRADICTORY pair on a NEW key (no
    // dup.txt row exists, so both rows pass the upsert's changed-rows
    // filter) survives its DISTINCT and fails it with PostgreSQL 21000 —
    // the merge transaction rolls back, the scratch is dropped, and the
    // published state is untouched (K2 atomicity through the V2 sink)
    val before = spark.read.format("graft-pg").option("url", url).load()
      .filter(col("external_source") === "W").collect()
      .map(_.toString).sorted.toSeq
    val bad = Seq(
      ("W", "/d", "dup.txt", "text/plain", t1, t1, 1L),
      ("W", "/d", "dup.txt", "text/plain", t1, t1, 2L))
      .toDF("external_source", "path", "filename", "mime_type",
        "created", "modified", "size")
    val failed = intercept[Exception](bad.write.format("graft-pg")
      .option("url", url).option("source", "W").mode("append").save())
    assert(failed.getMessage.contains("21000") ||
      Option(failed.getCause).exists(_.getMessage.contains("21000")),
      s"the contradictory pair surfaced loudly: $failed")
    withClient { c =>
      assert(c.queryOne("SELECT count(*) FROM pg_tables " +
        "WHERE tablename LIKE 'graft_scan_%'") == Some("0"),
        "abort dropped the scratch")
    }
    val after = spark.read.format("graft-pg").option("url", url).load()
      .filter(col("external_source") === "W").collect()
      .map(_.toString).sorted.toSeq
    assert(after == before, "a failed publish changes NOTHING")
    assert(PgWireClient.live == 0, "no leaked connections")
    withClient(_.exec(s"DROP TABLE ${PgMerge.table}"))
  }

  test("graft-pg reads 10^6 rows through COPY TO STDOUT with equality " +
      "to readCurrentWire, partition-count control, and no leaked " +
      "connections") {
    assume(live, s"no PostgreSQL server at $host:$port")
    withClient { c =>
      createTable(c)
      c.exec(s"INSERT INTO ${PgMerge.table} " +
        "SELECT CASE WHEN i <= 1000000 THEN 'BIG' ELSE 'OTHER' END, " +
        "'/p' || (i % 97), 'f' || i, 'text/plain', " +
        "NULL, TIMESTAMPTZ '2026-01-02 03:04:05.678901+00', i, NULL " +
        "FROM generate_series(1, 1001000) g(i)")
    }
    import org.apache.spark.sql.functions._
    val df = spark.read.format("graft-pg")
      .option("url", s"postgres://postgres@$host:$port/$db?sslmode=prefer")
      .option("partitions", "8")
      .load()
      .filter(col("external_source") === "BIG")
    assert(df.rdd.getNumPartitions == 8, "partitions option honored")
    val agg = df.agg(count(lit(1)), sum("size"), countDistinct("filename"),
      max("modified")).collect()(0)
    assert(agg.getLong(0) == 1000000L, "the OTHER slice never crossed")
    assert(agg.getLong(1) == 500000500000L) // n(n+1)/2
    assert(agg.getLong(2) == 1000000L, "shards disjoint AND complete")
    assert(agg.getTimestamp(3).toInstant ==
      java.time.Instant.parse("2026-01-02T03:04:05.678901Z"))
    // equality with the library-call form (same transport, same slice)
    val viaCall = PgMerge.readCurrentWire(spark,
      PgMerge.PgTarget(host, port, db, "postgres", None, "disable"), "BIG",
      numPartitions = 8)
      .agg(count(lit(1)), sum("size"), countDistinct("filename")).collect()(0)
    assert(viaCall.getLong(0) == agg.getLong(0) &&
      viaCall.getLong(1) == agg.getLong(1) &&
      viaCall.getLong(2) == agg.getLong(2))
    assert(PgWireClient.live == 0, "no leaked connections")
    withClient(_.exec(s"DROP TABLE ${PgMerge.table}"))
  }

  test("graft-pg ctid block-range sharding (VERDICT r15 #1): value-" +
      "identical to hash sharding on 10^6 rows, loses/duplicates nothing " +
      "under concurrent inserts, and touches each heap page ~once where " +
      "hash touches it ~N times") {
    assume(live, s"no PostgreSQL server at $host:$port")
    withClient { c =>
      createTable(c)
      c.exec(s"INSERT INTO ${PgMerge.table} " +
        "SELECT 'BIG', '/p' || (i % 97), 'f' || i, 'text/plain', " +
        "NULL, TIMESTAMPTZ '2026-01-02 03:04:05.678901+00', i, NULL " +
        "FROM generate_series(1, 1000000) g(i)")
      assume(c.queryOne("SELECT current_setting('server_version_num')::int" +
        " >= 140000") == Some("t"), "ctid sharding needs PostgreSQL >= 14")
    }
    import org.apache.spark.sql.functions._
    def reader(mode: String) = spark.read.format("graft-pg")
      .option("url", url).option("partitions", "8")
      .option("shardmode", mode).load()
    // countDistinct is NOT pushable, so the signature forces every row
    // across the wire — it exercises the sharded ROW read, and
    // count == countDistinct == 10^6 is the lose-nothing/duplicate-
    // nothing proof in one row
    def signature(mode: String): (Long, Long, Long) = {
      val r = reader(mode).filter(col("external_source") === "BIG")
        .agg(count(lit(1)), sum("size"), countDistinct("filename"))
        .collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val plan = reader("ctid").filter(col("external_source") === "BIG")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShardMode: ctid"), plan)
    val ctidSig = signature("ctid")
    assert(ctidSig == signature("hash"),
      "ctid and hash shardings read the SAME rows")
    assert(ctidSig == ((1000000L, 500000500000L, 1000000L)))

    // heap I/O ratio: pg_statio counts blocks touched (hit + read —
    // a warm cache must not hide the amplification). Stats flush when
    // the shard connections close; poll until the counter is stable.
    def blocksTouched(mode: String): Long = {
      resetStats()
      signature(mode)
      def counter: Long = withClient(_.queryOne(
        "SELECT coalesce(heap_blks_read + heap_blks_hit, 0) " +
          s"FROM pg_statio_user_tables WHERE relname = '${PgMerge.table}'")
        .map(_.toLong).getOrElse(0L))
      val deadline = System.currentTimeMillis() + 20000L
      var prev = -1L
      var cur = counter
      while ((cur == 0L || cur != prev) &&
        System.currentTimeMillis() < deadline) {
        Thread.sleep(500L); prev = cur; cur = counter
      }
      cur
    }
    val ctidBlocks = blocksTouched("ctid")
    val hashBlocks = blocksTouched("hash")
    // 8 hash shards each scan the whole heap (~8×); 8 ctid shards
    // partition it (~1×). Margin 4× absorbs catalog/visibility noise.
    assert(ctidBlocks > 0 && hashBlocks >= 4 * ctidBlocks,
      s"hash read-amplification visible: ctid=$ctidBlocks " +
        s"hash=$hashBlocks (expected ~8x)")
    info(s"heap blocks touched: ctid=$ctidBlocks hash=$hashBlocks " +
      s"(${hashBlocks.toDouble / ctidBlocks}x)")

    // concurrent inserts: another source keeps appending pages while
    // ctid reads run — the stable slice is never lost or duplicated
    // (each shard statement is one snapshot; the LAST range is
    // unbounded, so growth lands in exactly one shard). UPDATEs moving
    // ctids between shard statements need a quiesced slice — the
    // documented repeatable-read caveat, same class as hash sharding's
    // insert-between-statements window.
    val inserted = new java.util.concurrent.atomic.AtomicLong(0L)
    @volatile var stop = false
    val writer = new Thread(() => {
      val c = new PgWireClient(host, port, "postgres", db)
      try {
        var batch = 0
        while (!stop) {
          c.exec(s"INSERT INTO ${PgMerge.table} " +
            s"SELECT 'CONC', '/c', 'c' || (${batch * 5000L} + j), " +
            "'text/plain', NULL, now(), j, NULL " +
            "FROM generate_series(1, 5000) g(j)")
          inserted.addAndGet(5000L)
          batch += 1
        }
      } finally c.close()
    })
    writer.start()
    try (1 to 3).foreach { _ =>
      assert(signature("ctid") == ((1000000L, 500000500000L, 1000000L)),
        "the stable slice reads exactly under concurrent growth")
    } finally { stop = true; writer.join(30000L) }
    assert(!writer.isAlive)
    // once quiesced, the appended source reads completely too
    val conc = reader("ctid").filter(col("external_source") === "CONC")
      .agg(count(lit(1)), countDistinct("filename")).collect()(0)
    assert(conc.getLong(0) == inserted.get && conc.getLong(1) == inserted.get,
      s"appended rows all land in exactly one shard: $conc vs $inserted")
    // explicit ctid against a pre-14 server would fail loudly; here we
    // can only pin the >= 14 happy path plus the hash opt-out
    assert(reader("hash").filter(col("external_source") === "CONC")
      .count() == inserted.get)
    assert(PgWireClient.live == 0, "no leaked connections")
    withClient(_.exec(s"DROP TABLE ${PgMerge.table}"))
  }

  test("graft-pg reports catalog statistics (SupportsReportStatistics): " +
      "a small external_file side BROADCASTS in a join") {
    assume(live, s"no PostgreSQL server at $host:$port")
    withClient { c =>
      createTable(c)
      c.exec(s"INSERT INTO ${PgMerge.table} " +
        "SELECT 'ST', '/s', 'f' || i, 'text/plain', NULL, now(), i, NULL " +
        "FROM generate_series(1, 100) g(i)")
    }
    import org.apache.spark.sql.functions._
    val files = spark.read.format("graft-pg").option("url", url).load()
      .filter(col("external_source") === "ST")
    // the catalog estimate (pg_relation_size) replaces the conservative
    // V2 default (spark.sql.defaultSizeInBytes = Long.Max-ish) — that
    // is what makes the broadcast decision possible at all
    val sz = files.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(sz > 0 && sz < 10L * 1024 * 1024,
      s"catalog-backed size estimate, small enough to broadcast: $sz")
    // the fact side is ABOVE the broadcast threshold (3M rows), so a
    // BroadcastHashJoin in the plan can only mean the graft-pg side won
    val fact = spark.range(3000000L)
      .select(concat(lit("f"), (col("id") % 100) + 1).as("filename"))
    val joined = fact.join(files, Seq("filename"))
    val planStr = joined.queryExecution.executedPlan.toString
    assert(planStr.contains("BroadcastHashJoin"),
      s"small PG side broadcasts:\n$planStr")
    assert(joined.count() == 3000000L, "30k fact rows per matched file")
    assert(PgWireClient.live == 0, "no leaked connections")
    withClient(_.exec(s"DROP TABLE ${PgMerge.table}"))
  }

  test("graft-pg top-N pushdown: ORDER BY … LIMIT n folds per shard " +
      "with Spark's EXACT comparator — explicit NULLS placement (Spark " +
      "ASC is NULLS FIRST, PG's default is NULLS LAST) and COLLATE \"C\" " +
      "text order") {
    assume(live, s"no PostgreSQL server at $host:$port")
    withClient { c =>
      createTable(c)
      // created is NULL on every 3rd row — the NULLS-placement fixture
      c.exec(s"INSERT INTO ${PgMerge.table} " +
        "SELECT 'TN', '/t', 'f' || i, 'text/plain', " +
        "CASE WHEN i % 3 = 0 THEN NULL ELSE " +
        "TIMESTAMPTZ '2026-01-02 03:04:05+00' + (i || ' s')::interval END, " +
        "TIMESTAMPTZ '2026-01-02 03:04:05+00' + (i || ' s')::interval, " +
        "i, NULL FROM generate_series(1, 100000) g(i)")
      c.exec(s"INSERT INTO ${PgMerge.table} VALUES " +
        "('TN', '/x', 'Zebra.txt', 'text/plain', NULL, now(), 0, NULL), " +
        "('TN', '/x', 'AAA.txt', 'text/plain', NULL, now(), 0, NULL), " +
        "('TN', '/x', 'Éclair.txt', 'text/plain', NULL, now(), 0, NULL)")
    }
    import org.apache.spark.sql.functions._
    def df = spark.read.format("graft-pg").option("url", url)
      .option("partitions", "4").load()
      .filter(col("external_source") === "TN")
    // numeric DESC: the "newest/biggest first" query ships ~n rows per
    // shard instead of the 100k slice
    val top = df.orderBy(col("size").desc).limit(7)
    val tplan = top.queryExecution.executedPlan.toString
    assert(tplan.contains("PushedTopN: [size DESC NULLS LAST]") &&
      tplan.contains("PushedLimit: 7"), s"topN pushed:\n$tplan")
    assert(top.collect().map(_.getLong(6)).toSeq ==
      (100000L to 99994L by -1L))
    // ASC on a nullable timestamp: Spark puts NULLS FIRST — the remote
    // statement must say so explicitly or PG's NULLS-LAST default would
    // return the wrong 5 rows entirely
    val nf = df.orderBy(col("created").asc).limit(5)
    assert(nf.queryExecution.executedPlan.toString
      .contains("PushedTopN: [created ASC NULLS FIRST]"))
    val nfr = nf.collect()
    assert(nfr.length == 5 && nfr.forall(_.isNullAt(4)),
      "ASC over a nullable key returns the NULL rows first, like Spark")
    // DESC = NULLS LAST: the true maxima (i=100000; 99999 is a NULL row)
    val nd = df.orderBy(col("created").desc).limit(2).collect()
    assert(nd.map(_.getString(2)).toSeq == Seq("f100000", "f99998"))
    // text via COLLATE "C": byte order, not the server's collation
    val tx = df.orderBy(col("filename").asc).limit(2)
    assert(tx.queryExecution.executedPlan.toString
      .contains("PushedTopN: [filename COLLATE \"C\" ASC NULLS FIRST]"))
    assert(tx.collect().map(_.getString(2)).toSeq ==
      Seq("AAA.txt", "Zebra.txt"))
    assert(df.orderBy(col("filename").desc).limit(1)
      .collect()(0).getString(2) == "Éclair.txt")
    // cross-mode equality: hash shards return the same top-N
    val viaHash = spark.read.format("graft-pg").option("url", url)
      .option("partitions", "4").option("shardmode", "hash").load()
      .filter(col("external_source") === "TN")
      .orderBy(col("size").desc).limit(7)
      .collect().map(_.getLong(6)).toSeq
    assert(viaHash == (100000L to 99994L by -1L))
    // a multi-key order pushes too, and ties break by the second key
    val mk = df.orderBy(col("size").asc, col("filename").desc).limit(2)
    assert(mk.queryExecution.executedPlan.toString.contains(
      "PushedTopN: [size ASC NULLS FIRST, filename COLLATE \"C\" DESC " +
        "NULLS LAST]"))
    assert(mk.collect().map(_.getString(2)).toSeq ==
      Seq("Éclair.txt", "Zebra.txt"), "size-0 ties break on byte-DESC name")
    assert(PgWireClient.live == 0, "no leaked connections")
    withClient(_.exec(s"DROP TABLE ${PgMerge.table}"))
  }

  test("graft-pg runtime filtering (SupportsRuntimeFiltering): a " +
      "broadcast join's key values land in the remote statement and an " +
      "indexed key collapses the remote read") {
    assume(live, s"no PostgreSQL server at $host:$port")
    withClient { c =>
      createTable(c)
      c.exec(s"INSERT INTO ${PgMerge.table} " +
        "SELECT 'RF', '/r' || (i % 13), 'f' || i, 'text/plain', " +
        "NULL, now(), i, NULL FROM generate_series(1, 200000) g(i)")
      c.exec(s"CREATE INDEX graft_rf_filename ON ${PgMerge.table} " +
        "(filename)")
    }
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def big = spark.read.format("graft-pg").option("url", url)
      .option("partitions", "4").load()
      .filter(col("external_source") === "RF")
    def blocksTouched[A](run: => A): Long = {
      resetStats()
      run
      def counter: Long = withClient(_.queryOne(
        "SELECT coalesce(heap_blks_read + heap_blks_hit, 0) " +
          s"FROM pg_statio_user_tables WHERE relname = '${PgMerge.table}'")
        .map(_.toLong).getOrElse(0L))
      val deadline = System.currentTimeMillis() + 20000L
      var prev = -1L
      var cur = counter
      while ((cur == 0L || cur != prev) &&
        System.currentTimeMillis() < deadline) {
        Thread.sleep(500L); prev = cur; cur = counter
      }
      cur
    }
    // the full-slice read, for scale: every heap page once (ctid shards)
    val fullBlocks = blocksTouched {
      assert(big.count() == 200000L)
    }
    // broadcast join on the indexed key: the DPP rule hands the scan
    // the build side's filename values at runtime ([[PgWireScan.filter]]).
    // The build side must keep a SELECTIVE FILTER in the optimized plan
    // (a local Seq constant-folds to a bare LocalRelation and the rule
    // sees nothing to prune with) — Range + filter survives.
    val dim = spark.range(1L, 200001L)
      .filter((col("id") % 40000L) === 10L)
      .select(concat(lit("f"), col("id")).as("filename"))
    val joined = big.join(broadcast(dim), Seq("filename"))
    val planStr = joined.queryExecution.executedPlan.toString
    assert(planStr.contains("RuntimeFilters: [dynamicpruning"),
      s"the scan carries a NON-EMPTY runtime filter:\n$planStr")
    val expect = Set("f10", "f40010", "f80010", "f120010", "f160010")
    val rfBlocks = blocksTouched {
      val rows = joined.collect()
      assert(rows.length == 5 &&
        rows.map(_.getAs[String]("filename")).toSet == expect,
        "the join result is exact")
    }
    // with the IN list pushed and the index probing it, the remote read
    // touches a handful of heap pages, not the whole slice
    assert(rfBlocks > 0 && rfBlocks * 10 < fullBlocks,
      s"runtime IN collapsed the remote read: full=$fullBlocks " +
        s"filtered=$rfBlocks")
    info(s"heap blocks: full=$fullBlocks runtime-filtered=$rfBlocks")
    assert(PgWireClient.live == 0, "no leaked connections")
    withClient(_.exec(s"DROP TABLE ${PgMerge.table}"))
  }

  test("graft-pg changefeed (logical decoding): inserts/updates/deletes " +
      "stream INCREMENTALLY through a pgoutput slot — O(changes) per " +
      "trigger, delete events carry the OLD row, quiet triggers never " +
      "touch the table") {
    assume(live, s"no PostgreSQL server at $host:$port")
    assume(withClient(_.queryOne("SHOW wal_level")) == Some("logical"),
      "changefeed needs wal_level=logical on the harness server")
    val slot = "graft_cdc_spec"
    val pubName = "graft_cdc_spec_pub"
    def dropFeed(): Unit = withClient { c =>
      if (c.queryOne("SELECT count(*) FROM pg_replication_slots WHERE " +
        s"slot_name = '$slot'") == Some("1"))
        c.query(s"SELECT pg_drop_replication_slot('$slot')")
      c.exec(s"DROP PUBLICATION IF EXISTS $pubName")
    }
    withClient { c =>
      createTable(c)
      // a PRE-EXISTING row: the feed starts at slot creation — history
      // is the batch read's job, the feed is changes-from-now
      c.exec(s"INSERT INTO ${PgMerge.table} VALUES " +
        "('CDC', '/w', 'old.txt', 'text/plain', NULL, now(), 1, NULL)")
    }
    dropFeed()
    import org.apache.spark.sql.functions._
    val q = spark.readStream.format("graft-pg")
      .option("url", url).option("mode", "changefeed")
      .option("slot", slot).option("publication", pubName)
      .load()
      .writeStream.format("memory").queryName("pg_cdc_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(250L))
      .start()
    try {
      val deadline = System.currentTimeMillis() + 60000L
      // DML must land AFTER the slot exists (the bootstrap runs at
      // stream start) or it predates the feed's consistent point
      while (withClient(_.queryOne("SELECT count(*) FROM " +
        s"pg_replication_slots WHERE slot_name = '$slot'")) != Some("1") &&
        System.currentTimeMillis() < deadline) Thread.sleep(100L)
      // the stream's own client backends, open for as long as it runs
      val streamPids = withClient(_.query("SELECT pid FROM " +
        "pg_stat_activity WHERE datname = current_database() AND " +
        "pid <> pg_backend_pid() AND backend_type = 'client backend'"))
        .flatMap(_.head)
      withClient { c =>
        c.exec(s"INSERT INTO ${PgMerge.table} VALUES " +
          "('CDC', '/w', 'a.txt', 'text/plain', NULL, " +
          "TIMESTAMPTZ '2026-01-02 03:04:05.678901+00', 7, NULL), " +
          "('CDC', '/w', 'b.txt', 'text/plain', NULL, now(), 8, NULL)")
        c.exec(s"UPDATE ${PgMerge.table} SET size = 9 " +
          "WHERE filename = 'a.txt'")
        c.exec(s"DELETE FROM ${PgMerge.table} WHERE filename = 'b.txt'")
      }
      def events = spark.table("pg_cdc_out")
      while (events.count() < 4 &&
        System.currentTimeMillis() < deadline) Thread.sleep(200L)
      val all = events.orderBy(col("lsn")).collect()
      assert(all.length == 4,
        s"exactly the four changes, no duplicates, no history: " +
          s"${all.mkString("; ")}")
      assert(all.map(_.getString(0)).toSeq ==
        Seq("insert", "insert", "update", "delete"),
        "commit order preserved")
      assert(!all.map(_.getAs[String]("filename")).contains("old.txt"),
        "the pre-existing row is NOT in the feed")
      val ins = all(0)
      assert(ins.getAs[String]("filename") == "a.txt" &&
        ins.getAs[Long]("size") == 7L &&
        ins.getAs[java.sql.Timestamp]("modified").toInstant ==
          java.time.Instant.parse("2026-01-02T03:04:05.678901Z"),
        "insert carries the full new image, micros-exact")
      assert(all(2).getAs[Long]("size") == 9L, "update carries the new image")
      val del = all(3)
      assert(del.getAs[String]("filename") == "b.txt" &&
        del.getAs[Long]("size") == 8L,
        "delete carries the complete OLD row (REPLICA IDENTITY FULL) — " +
          "the thing a rescan watch has to infer from state")
      assert(all.forall(r => !r.isNullAt(2)), "commit timestamps present")
      assert(all.map(_.getLong(1)).distinct.length == 4 &&
        all.forall(_.getLong(1) > 0L),
        "four changes carry four distinct, populated LSNs")
      // O(changes): with DML quiet, triggers keep firing (WAL advances
      // server-wide) but the TABLE is never touched — zero scans, zero
      // heap blocks, while the rescan watch would read 3 rows per 250ms
      resetStats(held = streamPids)
      Thread.sleep(2000L)
      val scans = withClient(_.queryOne(
        "SELECT coalesce(seq_scan, 0) + coalesce(idx_scan, 0) " +
          s"FROM pg_stat_user_tables WHERE relname = '${PgMerge.table}'"))
      assert(scans == Some("0"),
        s"quiet triggers never scan the table (got $scans scans)")
      // the feed COMPACTS to current state: last change per identity
      // wins, the delete drops b.txt — equal to the batch read for
      // every touched key (union with a batch read covers history)
      val compacted = graft.sources.v2.PgChangeFeed.compact(events)
        .collect().map(r => r.getAs[String]("filename") ->
          r.getAs[Long]("size")).toMap
      assert(compacted == Map("a.txt" -> 9L),
        s"compact(feed) = live touched rows: $compacted")
      val batchNow = spark.read.format("graft-pg").option("url", url)
        .load().filter(col("external_source") === "CDC")
        .collect().map(_.getAs[String]("filename")).toSet
      assert(batchNow == Set("old.txt", "a.txt"),
        "…consistent with the table: b.txt gone, old.txt only in batch")
      // the adapter re-expresses the feed in the daemon's change-event
      // dialect; the daemon-side compaction agrees on the live rows and
      // surfaces the physical DELETE as a commit-time tombstone
      val snap = graft.streaming.ScrapeTws.snapshotOf(
        graft.sources.v2.PgChangeFeed.asScrapeEvents(events, "CDC"))
        .collect().map(r => r.getAs[String]("filename") ->
          (r.getAs[Long]("size"),
            r.getAs[java.sql.Timestamp]("deleted"))).toMap
      assert(snap("a.txt") == ((9L, null)) && snap("b.txt")._2 != null,
        s"snapshotOf(asScrapeEvents(feed)) matches the table: $snap")
    } finally {
      try spark.streams.active
        .filter(_.name == "pg_cdc_out").foreach(_.stop())
      finally dropFeed() // an abandoned slot retains WAL forever
    }
    assert(PgWireClient.live == 0, "no leaked connections after stop")
    withClient(_.exec(s"DROP TABLE ${PgMerge.table}"))
  }

  test("graft-pg snapshot handoff (the CDC bootstrap race): an exported-" +
      "snapshot batch read sees EXACTLY the slot's consistent point " +
      "across all shard connections, and the changefeed delivers exactly " +
      "the handoff window's changes — no loss, no double-count") {
    assume(live, s"no PostgreSQL server at $host:$port")
    assume(withClient(_.queryOne("SHOW wal_level")) == Some("logical"),
      "snapshot handoff needs wal_level=logical on the harness server")
    val slot = "graft_handoff_spec"
    val pubName = "graft_handoff_pub"
    def dropFeed(): Unit = withClient { c =>
      if (c.queryOne("SELECT count(*) FROM pg_replication_slots WHERE " +
        s"slot_name = '$slot'") == Some("1"))
        c.query(s"SELECT pg_drop_replication_slot('$slot')")
      c.exec(s"DROP PUBLICATION IF EXISTS $pubName")
    }
    withClient { c =>
      createTable(c)
      c.exec(s"INSERT INTO ${PgMerge.table} " +
        "SELECT 'HO', '/h', 'f' || i, 'text/plain', NULL, now(), i, NULL " +
        "FROM generate_series(1, 1000) g(i)")
    }
    dropFeed()
    import org.apache.spark.sql.functions._
    def bootstrap() = graft.sources.v2.PgChangeFeed.bootstrapSnapshot(
      target, slot, pubName)
    val handle = bootstrap()
    var snapRows: Map[String, Long] = Map.empty
    var nowRows: Map[String, Long] = Map.empty
    try {
      assert(handle.snapshotName.nonEmpty && handle.consistentPoint > 0L)
      // the handoff window: DML that lands AFTER the slot's consistent
      // point — exactly the changes a slot-after-read would lose and a
      // slot-before-read would double-count
      withClient { c =>
        c.exec(s"INSERT INTO ${PgMerge.table} VALUES " +
          "('HO', '/h', 'new1.txt', 'text/plain', NULL, now(), 2001, NULL)," +
          "('HO', '/h', 'new2.txt', 'text/plain', NULL, now(), 2002, NULL)")
        c.exec(s"UPDATE ${PgMerge.table} SET size = 999999 " +
          "WHERE filename = 'f500'")
        c.exec(s"DELETE FROM ${PgMerge.table} WHERE filename = 'f600'")
      }
      // the snapshot read: executed NOW, over 4 separate shard
      // connections (ctid ranges), yet sees the PRE-window state
      val snap = spark.read.format("graft-pg").option("url", url)
        .option("partitions", "4")
        .option("snapshot", handle.snapshotName).load()
        .filter(col("external_source") === "HO")
      assert(snap.queryExecution.executedPlan.toString
        .contains(s"Snapshot: ${handle.snapshotName}"))
      snapRows = snap.collect()
        .map(r => r.getString(2) -> r.getLong(6)).toMap
      assert(snapRows.size == 1000, s"got ${snapRows.size}")
      assert(snapRows("f500") == 500L, "the update is invisible")
      assert(snapRows.contains("f600"), "the delete is invisible")
      assert(!snapRows.contains("new1.txt") && !snapRows.contains("new2.txt"),
        "the inserts are invisible")
      // the same query WITHOUT the snapshot reads post-window state —
      // the race made visible
      nowRows = spark.read.format("graft-pg").option("url", url)
        .option("partitions", "4").load()
        .filter(col("external_source") === "HO")
        .collect().map(r => r.getString(2) -> r.getLong(6)).toMap
      assert(nowRows.size == 1001 && nowRows("f500") == 999999L &&
        !nowRows.contains("f600") && nowRows.contains("new1.txt"))
      // a second bootstrap over the live slot refuses loudly
      val dup = intercept[IllegalArgumentException](
        bootstrap())
      assert(dup.getMessage.contains("already exists"), dup.getMessage)
    } finally handle.close()
    // a frozen snapshot under the RESCAN watch is rejected at plan time
    val snapStream = intercept[Exception] {
      val q = spark.readStream.format("graft-pg").option("url", url)
        .option("snapshot", "00000003-0000001B-1").load()
        .writeStream.format("memory").queryName("snap_reject")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(snapStream.getMessage.contains("batch-only") ||
      Option(snapStream.getCause).exists(_.getMessage.contains("batch-only")),
      s"got: $snapStream")
    // the changefeed from the handoff's slot: exactly the window's four
    // changes — nothing before the consistent point, nothing doubled
    val q = spark.readStream.format("graft-pg")
      .option("url", url).option("mode", "changefeed")
      .option("slot", slot).option("publication", pubName)
      .load()
      .writeStream.format("memory").queryName("handoff_cdc")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(250L))
      .start()
    try {
      val deadline = System.currentTimeMillis() + 60000L
      def events = spark.table("handoff_cdc")
      while (events.count() < 4 &&
        System.currentTimeMillis() < deadline) Thread.sleep(200L)
      val all = events.orderBy(col("lsn")).collect()
      assert(all.length == 4, s"exactly the handoff window: " +
        s"${all.mkString("; ")}")
      assert(all.map(_.getString(0)).toSeq ==
        Seq("insert", "insert", "update", "delete"))
      // >= : the first post-bootstrap WAL record can land exactly AT
      // the consistent point (it IS the next insert location)
      assert(all.forall(_.getLong(1) >= handle.consistentPoint),
        "every change is at-or-past the consistent point")
      // no loss, no double: snapshot state + the feed's changes = now
      val applied = (snapRows
        ++ Seq("new1.txt" -> 2001L, "new2.txt" -> 2002L)
        + ("f500" -> 999999L)) - "f600"
      assert(applied == nowRows,
        "state(snapshot) + changes(slot) reconstructs the live table")
    } finally {
      try spark.streams.active
        .filter(_.name == "handoff_cdc").foreach(_.stop())
      finally dropFeed()
    }
    assert(PgWireClient.live == 0, "no leaked connections")
    withClient(_.exec(s"DROP TABLE ${PgMerge.table}"))
  }

  test("graft-pg changefeed admission control: maxchangespertrigger " +
      "splits a backlog into bounded micro-batches that cut at COMMIT " +
      "boundaries, with nothing lost and nothing doubled") {
    assume(live, s"no PostgreSQL server at $host:$port")
    assume(withClient(_.queryOne("SHOW wal_level")) == Some("logical"),
      "changefeed needs wal_level=logical on the harness server")
    val slot = "graft_admctl_spec"
    val pubName = "graft_admctl_pub"
    def dropFeed(): Unit = withClient { c =>
      if (c.queryOne("SELECT count(*) FROM pg_replication_slots WHERE " +
        s"slot_name = '$slot'") == Some("1"))
        c.query(s"SELECT pg_drop_replication_slot('$slot')")
      c.exec(s"DROP PUBLICATION IF EXISTS $pubName")
    }
    withClient(createTable)
    dropFeed()
    // the slot first (bootstrap + close — its snapshot is not the point
    // here), then a BACKLOG of 6 separate transactions before the
    // stream ever runs: the after-a-long-stop shape
    graft.sources.v2.PgChangeFeed.bootstrapSnapshot(target, slot, pubName)
      .close()
    withClient { c =>
      (0 until 6).foreach { t =>
        c.exec(s"INSERT INTO ${PgMerge.table} " +
          s"SELECT 'AC', '/a', 'f' || (${t * 5} + j), 'text/plain', " +
          "NULL, now(), j, NULL FROM generate_series(0, 4) g(j)")
      }
    }
    import org.apache.spark.sql.functions._
    val q = spark.readStream.format("graft-pg")
      .option("url", url).option("mode", "changefeed")
      .option("slot", slot).option("publication", pubName)
      .option("maxchangespertrigger", "8")
      .load()
      .writeStream.format("memory").queryName("admctl_cdc")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
      .start()
    try {
      val deadline = System.currentTimeMillis() + 60000L
      def events = spark.table("admctl_cdc")
      while (events.count() < 30 &&
        System.currentTimeMillis() < deadline) Thread.sleep(200L)
      // nothing lost, nothing doubled across the batch cuts
      val names = events.collect().map(_.getAs[String]("filename")).toSeq
      assert(names.length == 30 && names.distinct.length == 30,
        s"all 30 backlog inserts exactly once (got ${names.length})")
      // the backlog arrived as MULTIPLE bounded batches: each trigger's
      // row count stays at whole-transaction granularity under the
      // bound (a 5-insert tx is ~7 peek rows incl. begin/commit, so a
      // bound of 8 admits 1-2 transactions per trigger — never all 6)
      val sizes = q.recentProgress.toSeq.map(_.numInputRows)
        .filter(_ > 0L)
      assert(sizes.sum == 30L, s"progress accounts for the backlog: $sizes")
      assert(sizes.length >= 3, s"the backlog split into bounded " +
        s"batches: $sizes")
      assert(sizes.forall(n => n % 5 == 0L),
        s"batches cut at COMMIT boundaries (5-insert transactions " +
          s"arrive whole): $sizes")
      assert(sizes.max <= 10L,
        s"no batch exceeded the bound's transaction round-up: $sizes")
    } finally {
      try spark.streams.active
        .filter(_.name == "admctl_cdc").foreach(_.stop())
      finally ()
    }
    // Trigger.AvailableNow honors the SAME bound (review r16: without
    // SupportsTriggerAvailableNow Spark silently falls back to ONE
    // unbounded batch — the OOM the flag exists to prevent, in exactly
    // the one-shot backlog-drain mode): a fresh 4-transaction backlog
    // drains as multiple bounded batches AND the query terminates at
    // the prepared WAL horizon
    withClient { c =>
      (6 until 10).foreach { t =>
        c.exec(s"INSERT INTO ${PgMerge.table} " +
          s"SELECT 'AC', '/a', 'f' || (${t * 5} + j), 'text/plain', " +
          "NULL, now(), j, NULL FROM generate_series(0, 4) g(j)")
      }
    }
    try {
      val q2 = spark.readStream.format("graft-pg")
        .option("url", url).option("mode", "changefeed")
        .option("slot", slot).option("publication", pubName)
        .option("maxchangespertrigger", "8")
        .load()
        .writeStream.format("memory").queryName("admctl_an")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q2.awaitTermination(60000L), "AvailableNow terminates")
      val names2 = spark.table("admctl_an")
        .collect().map(_.getAs[String]("filename")).toSeq
      assert(names2.length == 20 && names2.distinct.length == 20,
        s"the whole backlog drained exactly once (got ${names2.length})")
      val sizes2 = q2.recentProgress.toSeq.map(_.numInputRows)
        .filter(_ > 0L)
      assert(sizes2.length >= 2 && sizes2.max <= 10L,
        s"AvailableNow batches stay BOUNDED: $sizes2")
    } finally dropFeed()
    assert(PgWireClient.live == 0, "no leaked connections")
    withClient(_.exec(s"DROP TABLE ${PgMerge.table}"))
  }

  test("changefeed binary transport (VERDICT r16 #1): the raw binary " +
      "peek ships byte-identical pgoutput frames to the hex path — " +
      "same LSNs, same bytes, no hex doubling") {
    assume(live, s"no PostgreSQL server at $host:$port")
    assume(withClient(_.queryOne("SHOW wal_level")) == Some("logical"),
      "changefeed needs wal_level=logical on the harness server")
    val slot = "graft_cf_bin_eq"
    def dropSlot(): Unit = withClient { c =>
      if (c.queryOne("SELECT count(*) FROM pg_replication_slots WHERE " +
        s"slot_name = '$slot'") == Some("1"))
        c.query(s"SELECT pg_drop_replication_slot('$slot')")
      c.exec("DROP PUBLICATION IF EXISTS graft_pub")
    }
    withClient(createTable)
    dropSlot()
    try {
      graft.sources.v2.PgChangeFeed.bootstrapSnapshot(target, slot).close()
      withClient { c =>
        // inserts, a non-identity update, a RENAME (old image used), a
        // physical delete — every message family the decoder handles
        c.exec(s"INSERT INTO ${PgMerge.table} " +
          "SELECT 'BIN', '/b', 'f' || i, 'text/plain', NULL, now(), i, " +
          "NULL FROM generate_series(1, 500) g(i)")
        c.exec(s"UPDATE ${PgMerge.table} SET size = 999 " +
          "WHERE filename = 'f1'")
        c.exec(s"UPDATE ${PgMerge.table} SET filename = 'renamed' " +
          "WHERE filename = 'f2'")
        c.exec(s"DELETE FROM ${PgMerge.table} WHERE filename = 'f3'")
      }
      val fnArgs = s"('$slot', NULL, NULL, 'proto_version', '1', " +
        "'publication_names', 'graft_pub')"
      // peek is non-destructive: both transports read the SAME window
      val viaHex = withClient(_.queryStream(
        "SELECT lsn::text, encode(data, 'hex') FROM " +
          s"pg_logical_slot_peek_binary_changes$fnArgs").toVector)
      val viaBin = withClient(_.queryStreamRaw(
        "SELECT lsn, data FROM " +
          s"pg_logical_slot_peek_binary_changes$fnArgs").toVector)
      assert(viaHex.length == viaBin.length && viaHex.length > 500,
        s"hex=${viaHex.length} bin=${viaBin.length}")
      viaHex.zip(viaBin).foreach { case (h, b) =>
        import graft.sources.v2.PgChangeFeed
        assert(PgChangeFeed.parseLsn(h(0).get) ==
          java.nio.ByteBuffer.wrap(b(0).get).getLong,
          "pg_lsn binary form = the parsed X/Y text form")
        assert(java.util.Arrays.equals(PgChangeFeed.fromHex(h(1).get),
          b(1).get), "bytea binary form = the hex-decoded text form")
      }
      // and the payload volume really halves (plus per-row framing)
      val hexBytes = viaHex.iterator.map(_(1).get.length).sum
      val binBytes = viaBin.iterator.map(_(1).get.length).sum
      assert(binBytes * 2 == hexBytes,
        s"hex payload is exactly 2x: $hexBytes vs $binBytes")
      // the dropSlot primitive (failed-handoff cleanup / orphan GC):
      // true when a slot went, false when nothing was there to drop
      import graft.sources.v2.PgChangeFeed
      assert(PgChangeFeed.dropSlot(target, slot))
      assert(!PgChangeFeed.dropSlot(target, slot))
    } finally {
      dropSlot()
      withClient(_.exec(s"DROP TABLE ${PgMerge.table}"))
    }
    assert(PgWireClient.live == 0, "no leaked connections")
  }

  test("--watch-pg CLI: first run seeds the event log from a consistent " +
      "snapshot handoff, later one-shot runs append only the changes, " +
      "and a missing slot over an existing log refuses loudly") {
    assume(live, s"no PostgreSQL server at $host:$port")
    assume(withClient(_.queryOne("SHOW wal_level")) == Some("logical"),
      "changefeed needs wal_level=logical on the harness server")
    val src = "WP"
    // slots are per-LOG (random token behind the source-digest prefix);
    // the test addresses them by prefix, like the CLI's orphan warning
    val slotPrefix = "graft_cf_" + java.security.MessageDigest
      .getInstance("MD5").digest(src.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8) + "_"
    def slotsBy(prefix: String): Seq[String] = withClient(_.query(
      "SELECT slot_name FROM pg_replication_slots WHERE " +
        s"starts_with(slot_name, '$prefix')")
      .flatMap(_.headOption.flatten))
    def slots(): Seq[String] = slotsBy(slotPrefix)
    def dropFeed(): Unit = withClient { c =>
      slotsBy("graft_cf_").foreach(n =>
        c.query(s"SELECT pg_drop_replication_slot('$n')"))
      c.exec("DROP PUBLICATION IF EXISTS graft_pub")
    }
    withClient { c =>
      createTable(c)
      c.exec(s"INSERT INTO ${PgMerge.table} VALUES " +
        "('WP', '/w', 'a.txt', 'text/plain', NULL, now(), 1, NULL), " +
        "('WP', '/w', 'b.txt', 'text/plain', NULL, now(), 2, NULL), " +
        "('WP', '/w', 'dead.txt', 'text/plain', NULL, now(), 3, now()), " +
        "('OTHER', '/o', 'x.txt', 'text/plain', NULL, now(), 9, NULL)")
    }
    dropFeed()
    val out = java.nio.file.Files
      .createTempDirectory("graft_watchpg").toString
    import org.apache.spark.sql.functions._
    def log = spark.read.parquet(s"$out/events/$src")
    try {
      // run 1: no slot yet → handoff seed + drain (no changes pending)
      Main.main(Array("--watch-pg", url, "--out", out, src))
      val seed = log.collect()
      assert(seed.length == 3, s"the WP slice seeded (OTHER excluded): " +
        s"${seed.mkString("; ")}")
      assert(seed.forall(_.getAs[Long]("event_seq") == 0L),
        "seed rows carry the below-every-feed-event stamp")
      assert(seed.map(r => r.getAs[String]("filename") ->
        r.getAs[String]("action")).toMap ==
        Map("a.txt" -> "insert", "b.txt" -> "insert",
          "dead.txt" -> "delete"))
      // changes between invocations: insert, tombstoning update,
      // physical delete
      withClient { c =>
        c.exec(s"INSERT INTO ${PgMerge.table} VALUES " +
          "('WP', '/w', 'new.txt', 'text/markdown', NULL, now(), 4, NULL)")
        c.exec(s"UPDATE ${PgMerge.table} SET deleted = now() " +
          "WHERE filename = 'a.txt'")
        c.exec(s"DELETE FROM ${PgMerge.table} WHERE filename = 'b.txt'")
      }
      // run 2: the slot is the cursor — exactly the 3 changes append
      Main.main(Array("--watch-pg", url, "--out", out, src))
      assert(log.count() == 6L, "3 seeds + exactly 3 change events")
      assert(log.filter(col("event_seq") > 0L).count() == 3L)
      // the compacted log tracks the table: live rows match; the
      // PHYSICAL delete lives on as a tombstone (the log remembers
      // what the table dropped)
      val snap = graft.streaming.ScrapeTws.snapshotOf(log)
        .collect().map(r => r.getAs[String]("filename") ->
          Option(r.getAs[java.sql.Timestamp]("deleted")).isEmpty).toMap
      assert(snap == Map("a.txt" -> false, "b.txt" -> false,
        "dead.txt" -> false, "new.txt" -> true), s"got $snap")
      // quiet third run: nothing new, nothing doubled
      Main.main(Array("--watch-pg", url, "--out", out, src))
      assert(log.count() == 6L)
      // the log claims its slot through the committed-handoff marker
      assert(slots().size == 1, s"one per-log slot: ${slots()}")
      // a second log of the SAME source is its own consumer: fresh
      // slot, fresh handoff — the first log's cursor is never shared
      // (review r16: a source-keyed slot let two --out dirs silently
      // steal each other's changes)
      val out2 = java.nio.file.Files
        .createTempDirectory("graft_watchpg2").toString
      Main.main(Array("--watch-pg", url, "--out", out2, src))
      assert(slots().size == 2, s"per-log slots: ${slots()}")
      assert(spark.read.parquet(s"$out2/events/$src").count() == 3L,
        "the second log seeds from CURRENT state (new.txt live; a.txt " +
          "and dead.txt tombstoned; the physically-deleted b.txt is " +
          "not in the table, hence not in a FRESH handoff)")
      // an events dir WITHOUT the marker (interrupted first run, or a
      // foreign log) refuses loudly instead of resuming with silently
      // missing pre-slot history
      val out3 = java.nio.file.Files
        .createTempDirectory("graft_watchpg3").toString
      java.nio.file.Files.createDirectories(
        java.nio.file.Path.of(s"$out3/events/$src"))
      val e3 = intercept[IllegalArgumentException](
        Main.main(Array("--watch-pg", url, "--out", out3, src)))
      assert(e3.getMessage.contains("marker"), e3.getMessage)
      // a GROUP watch: two sources share ONE slot and one stream —
      // logical decoding pays the WAL once, each batch fans out to the
      // per-source logs
      val out4 = java.nio.file.Files
        .createTempDirectory("graft_watchpg4").toString
      val allBefore = slotsBy("graft_cf_").size
      Main.main(Array("--watch-pg", url, "--out", out4, src, "OTHER"))
      assert(slotsBy("graft_cf_").size == allBefore + 1,
        "ONE slot for the whole group")
      assert(spark.read.parquet(s"$out4/events/WP").count() == 3L &&
        spark.read.parquet(s"$out4/events/OTHER").count() == 1L,
        "both members seeded from the one exported snapshot")
      // changes fan out of one decoded batch into the right logs
      withClient { c =>
        c.exec(s"INSERT INTO ${PgMerge.table} VALUES " +
          "('WP', '/w', 'wp2.txt', 'text/plain', NULL, now(), 5, NULL), " +
          "('OTHER', '/o', 'o2.txt', 'text/plain', NULL, now(), 6, NULL)")
      }
      Main.main(Array("--watch-pg", url, "--out", out4, src, "OTHER"))
      assert(spark.read.parquet(s"$out4/events/WP").count() == 4L &&
        spark.read.parquet(s"$out4/events/OTHER").count() == 2L,
        "each source's change lands in ITS log only")
      // a subset rerun refuses: the missing member's log would silently
      // starve while the shared slot advances
      val eSub = intercept[IllegalArgumentException](
        Main.main(Array("--watch-pg", url, "--out", out4, src)))
      assert(eSub.getMessage.contains("group"), eSub.getMessage)
      // two DIFFERENT groups under the SAME --out stay fully isolated:
      // per-group checkpoints and slots (review r16 — one shared
      // checkpoint let a later group's offsets advance an earlier
      // group's slot past undelivered changes)
      val out5 = java.nio.file.Files
        .createTempDirectory("graft_watchpg5").toString
      Main.main(Array("--watch-pg", url, "--out", out5, src))
      Main.main(Array("--watch-pg", url, "--out", out5, "OTHER"))
      assert(spark.read.parquet(s"$out5/events/WP").count() == 4L &&
        spark.read.parquet(s"$out5/events/OTHER").count() == 2L,
        "both groups seeded from current state")
      withClient(_.exec(s"INSERT INTO ${PgMerge.table} VALUES " +
        "('OTHER', '/o', 'o3.txt', 'text/plain', NULL, now(), 7, NULL)"))
      Main.main(Array("--watch-pg", url, "--out", out5, "OTHER"))
      Main.main(Array("--watch-pg", url, "--out", out5, src))
      assert(spark.read.parquet(s"$out5/events/OTHER").count() == 3L,
        "the OTHER group's change arrived despite the earlier WP runs")
      assert(spark.read.parquet(s"$out5/events/WP").count() == 4L,
        "the WP group is untouched by the OTHER group's activity")
      // a dropped slot over a surviving (marker-committed) log cannot
      // resume silently
      dropFeed()
      val e = intercept[IllegalArgumentException](
        Main.main(Array("--watch-pg", url, "--out", out, src)))
      assert(e.getMessage.contains("unrecoverable"), e.getMessage)
      // the documented REDO (ADVICE r16): remove the group's logs (the
      // slot is already dropped) and rerun — the checkpoint is keyed by
      // SLOT, so the old incarnation's still-on-disk checkpoint cannot
      // feed the fresh slot foreign offsets; the handoff re-seeds from
      // current table state
      def rmr(s: String): Unit = {
        val p = new org.apache.hadoop.fs.Path(s)
        p.getFileSystem(spark.sessionState.newHadoopConf())
          .delete(p, true)
        ()
      }
      rmr(s"$out/events")
      assert(new java.io.File(s"$out/.changefeed-checkpoint").exists,
        "the stale checkpoint deliberately survives into the redo")
      Main.main(Array("--watch-pg", url, "--out", out, src))
      assert(log.count() == 4L,
        "the redone handoff seeds CURRENT state (a.txt + dead.txt " +
          "tombstoned, new.txt + wp2.txt live) despite the stale " +
          "checkpoint on disk: " + log.collect().mkString("; "))
      // the handoff concurrency guard (ADVICE r16): an existing lock
      // admits no second bootstrapper; a completed run leaves no lock
      val digest = slotPrefix.stripPrefix("graft_cf_").stripSuffix("_")
      assert(!new java.io.File(
        s"$out/._graft_handoff_$digest.lock").exists,
        "a completed handoff removes its lock")
      val out6 = java.nio.file.Files
        .createTempDirectory("graft_watchpg6").toString
      java.nio.file.Files.createFile(java.nio.file.Path.of(
        s"$out6/._graft_handoff_$digest.lock"))
      val eLock = intercept[IllegalArgumentException](
        Main.main(Array("--watch-pg", url, "--out", out6, src)))
      assert(eLock.getMessage.contains("handoff"), eLock.getMessage)
      assert(!new java.io.File(s"$out6/events").exists,
        "a lock-refused run seeds nothing and creates no slot")
    } finally {
      spark.streams.active.foreach(_.stop())
      dropFeed()
    }
    assert(PgWireClient.live == 0, "no leaked connections")
    withClient(_.exec(s"DROP TABLE ${PgMerge.table}"))
  }

  test("slots command (VERDICT r16 #2): lists graft_cf_* slots with " +
      "claims cross-checked against the given logs' markers, drops " +
      "ONLY provable orphans and only under --drop-orphans, and " +
      "reports claimed-but-missing slots") {
    assume(live, s"no PostgreSQL server at $host:$port")
    assume(withClient(_.queryOne("SHOW wal_level")) == Some("logical"),
      "changefeed needs wal_level=logical on the harness server")
    def allSlots(): Seq[String] = withClient(_.query(
      "SELECT slot_name FROM pg_replication_slots WHERE " +
        "starts_with(slot_name, 'graft_cf_')").flatMap(_.headOption.flatten))
    def dropAll(): Unit = withClient { c =>
      allSlots().foreach(n =>
        c.query(s"SELECT pg_drop_replication_slot('$n')"))
      c.exec("DROP PUBLICATION IF EXISTS graft_pub")
    }
    withClient { c =>
      createTable(c)
      c.exec(s"INSERT INTO ${PgMerge.table} VALUES " +
        "('WP', '/w', 'a.txt', 'text/plain', NULL, now(), 1, NULL), " +
        "('OTHER', '/o', 'x.txt', 'text/plain', NULL, now(), 9, NULL)")
    }
    dropAll()
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val (outA, outB, outC) = (tmp("graft_slA"), tmp("graft_slB"),
      tmp("graft_slC"))
    def runSlots(extra: String*): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf))(
        Main.main(Array("slots", url, "--out", outA, "--out", outB) ++
          extra))
      new String(buf.toByteArray, "UTF-8")
    }
    try {
      // two live watch groups + one orphan (its log dir deleted — the
      // exact fleet accident the command exists for)
      Main.main(Array("--watch-pg", url, "--out", outA, "WP"))
      Main.main(Array("--watch-pg", url, "--out", outB, "OTHER"))
      Main.main(Array("--watch-pg", url, "--out", outC, "WP"))
      val p = new org.apache.hadoop.fs.Path(outC)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      assert(allSlots().size == 3, s"three slots: ${allSlots()}")
      // listing only: all three named, none dropped
      val listing = runSlots()
      assert(listing.linesIterator.count(_.contains("CLAIMED")) == 2 &&
        listing.linesIterator.count(_.contains("ORPHAN")) == 1 &&
        listing.contains("--drop-orphans"), s"got:\n$listing")
      assert(allSlots().size == 3, "listing drops nothing")
      // the GC: exactly the orphan goes; both claimed slots survive
      val claimed = runSlots().linesIterator
        .filter(_.contains("CLAIMED")).map(_.split("  ")(0)).toSet
      val gc = runSlots("--drop-orphans")
      assert(gc.linesIterator.count(_.startsWith("dropped ")) == 1,
        s"got:\n$gc")
      assert(allSlots().toSet == claimed,
        "claimed slots survive, the orphan is gone")
      // an IN-PROGRESS handoff's slot has no marker YET — the lock file
      // must protect it from the GC (dropping it would kill the handoff
      // mid-seed); with the lock gone it becomes a plain orphan
      val outD = tmp("graft_slD")
      Main.main(Array("--watch-pg", url, "--out", outD, "WP"))
      val pD = new org.apache.hadoop.fs.Path(outD)
      pD.getFileSystem(spark.sessionState.newHadoopConf())
        .delete(pD, true)
      val wpDigest = java.security.MessageDigest.getInstance("MD5")
        .digest("WP".getBytes("UTF-8")).map("%02x".format(_))
        .mkString.take(8)
      java.nio.file.Files.createFile(java.nio.file.Path.of(
        s"$outA/._graft_handoff_$wpDigest.lock"))
      try {
        val gcLocked = runSlots("--drop-orphans")
        assert(gcLocked.contains("HANDOFF LOCK PRESENT") &&
          !gcLocked.linesIterator.exists(_.startsWith("dropped ")),
          s"the locked group's slot survives the GC:\n$gcLocked")
      } finally java.nio.file.Files.delete(java.nio.file.Path.of(
        s"$outA/._graft_handoff_$wpDigest.lock"))
      assert(runSlots("--drop-orphans").linesIterator
        .count(_.startsWith("dropped ")) == 1,
        "lock removed -> the same slot GCs as a plain orphan")
      // a claim whose slot vanished server-side is reported (the watch
      // path refuses it loudly at its next run)
      withClient(c => claimed.take(1).foreach(s =>
        c.query(s"SELECT pg_drop_replication_slot('$s')")))
      assert(runSlots().contains("MISSING on server but claimed"),
        "claimed-but-missing slots surface in the listing")
      // a raw `mode=changefeed` slot (not a watch group's) is lifecycle
      // surface too (VERDICT r17 #3): visible with its retained-WAL
      // lag under the default graft_ prefix, UNCLAIMABLE by markers,
      // and NEVER auto-dropped — even under --drop-orphans
      withClient { c =>
        c.query("SELECT pg_create_logical_replication_slot(" +
          "'graft_slot', 'pgoutput')"); ()
      }
      try {
        val raw = runSlots("--drop-orphans")
        assert(raw.linesIterator.exists(l => l.startsWith("graft_slot") &&
          l.contains("UNCLAIMABLE") && l.contains("retained-wal")),
          s"raw slot visible with lag, never droppable:\n$raw")
        assert(withClient(_.queryOne("SELECT count(*) FROM " +
          "pg_replication_slots WHERE slot_name = 'graft_slot'"))
          .contains("1"), "the raw slot survives --drop-orphans")
        // a narrower --prefix excludes it from the listing entirely
        val narrow = runSlots("--prefix", "graft_cf_")
        assert(!narrow.contains("graft_slot"), s"got:\n$narrow")
        // a prefix narrower than a live claim must not report that
        // claim as missing — it was filtered out, not dropped
        val narrow2 = runSlots("--prefix", "graft_slot")
        assert(narrow2.linesIterator.exists(l =>
          l.startsWith("graft_slot") && l.contains("UNCLAIMABLE")) &&
          !narrow2.contains("MISSING on server"),
          s"claims outside the prefix stay unreported:\n$narrow2")
      } finally withClient { c =>
        c.query("SELECT pg_drop_replication_slot('graft_slot')"); ()
      }
    } finally dropAll()
    assert(PgWireClient.live == 0, "no leaked connections")
    withClient(_.exec(s"DROP TABLE ${PgMerge.table}"))
  }

  test("product-cycle bench (VERDICT r17 #1): two full s3-list → " +
      "scrape → pg-publish cycles through the real seams, churn arms " +
      "verified against the table; the non-empty guard refuses " +
      "without opt-in") {
    assume(live, s"no PostgreSQL server at $host:$port")
    // fresh-or-empty table: the cycle runs and every merge arm lands
    withClient(_.exec(s"DROP TABLE IF EXISTS ${PgMerge.table}"))
    val st = ProductBench.run(spark, 3000)
    assert(st.exists(s => s.rows == 3000L && s.live == 2850L &&
      s.dead == 300L && s.c1Sec > 0 && s.c2Sec > 0),
      s"cycle stats verified (live = n - n/10 + n/20): $st")
    // the bench cleans up after itself
    assert(withClient(_.queryOne("SELECT count(*) FROM pg_class WHERE " +
      s"relname = '${PgMerge.table}' AND relkind = 'r'")).contains("0"),
      "the bench drops its table")
    // a NON-EMPTY table without the opt-in: row omitted, data untouched
    withClient { c =>
      createTable(c)
      c.exec(s"INSERT INTO ${PgMerge.table} VALUES " +
        "('REAL', '/data', 'keep.txt', 'text/plain', NULL, now(), 7, " +
        "NULL)")
    }
    try {
      assert(ProductBench.run(spark, 3000).isEmpty,
        "non-empty table without opt-in omits the product row")
      assert(withClient(_.queryOne(
        s"SELECT count(*) FROM ${PgMerge.table}")).contains("1"),
        "the guarded table keeps its real data")
    } finally withClient(_.exec(s"DROP TABLE IF EXISTS ${PgMerge.table}"))
    assert(PgWireClient.live == 0, "no leaked connections")
  }

  test("changefeed kill-recovery (VERDICT r17 #2): a daemon death " +
      "AFTER the batch's durable write but BEFORE the slot advance " +
      "replays the same batch from the checkpoint, and the idempotent " +
      "(event_ms, event_seq) compaction absorbs the replay — the " +
      "snapshot equals the live table key-for-key") {
    assume(live, s"no PostgreSQL server at $host:$port")
    assume(withClient(_.queryOne("SHOW wal_level")) == Some("logical"),
      "changefeed needs wal_level=logical on the harness server")
    import graft.sources.v2.PgChangeFeed
    withClient { c =>
      createTable(c)
      c.exec(s"INSERT INTO ${PgMerge.table} VALUES " +
        "('KR', '/k', 'a.txt', 'text/plain', NULL, now(), 1, NULL), " +
        "('KR', '/k', 'b.txt', 'text/plain', NULL, now(), 2, NULL), " +
        "('KR', '/k', 'c.txt', 'text/plain', NULL, now(), 3, NULL)")
    }
    val out = java.nio.file.Files
      .createTempDirectory("graft_killrec").toString
    try {
      // handoff + initial drain (all three rows arrive as seed events)
      Main.main(Array("--watch-pg", url, "--out", out, "KR"))
      // the kill window's DML: metadata update, tombstoning update,
      // physical delete, fresh insert — every dialect arm
      withClient { c =>
        c.exec(s"UPDATE ${PgMerge.table} SET size = 100, " +
          "modified = now() WHERE path = '/k' AND filename = 'a.txt'")
        c.exec(s"UPDATE ${PgMerge.table} SET deleted = now() " +
          "WHERE path = '/k' AND filename = 'b.txt'")
        c.exec(s"DELETE FROM ${PgMerge.table} " +
          "WHERE path = '/k' AND filename = 'c.txt'")
        c.exec(s"INSERT INTO ${PgMerge.table} VALUES " +
          "('KR', '/k', 'd.txt', 'text/plain', NULL, now(), 4, NULL)")
      }
      val eventsDir =
        s"$out/events/${java.net.URLEncoder.encode("KR", "UTF-8")}"
      val slotName = java.nio.file.Files.readString(java.nio.file.Path
        .of(s"$eventsDir/_graft_changefeed")).linesIterator.next()
      def confirmed: String = withClient(_.queryOne(
        "SELECT confirmed_flush_lsn::text FROM pg_replication_slots " +
          s"WHERE slot_name = '$slotName'")).get
      val lsnBefore = confirmed
      val countBefore = spark.read.parquet(eventsDir).count()
      // CRASH INJECTION at the verdict's cut point: the REAL dataflow
      // (asScrapeEvents → append to the log, same checkpoint the CLI
      // uses) dies after its durable write, before Spark can mark the
      // batch committed — so source.commit (the slot advance) is never
      // reached, exactly like a kill -9 between write and commit
      val feed = spark.readStream.format("graft-pg").option("url", url)
        .option("mode", "changefeed").option("slot", slotName).load()
      val q = feed.writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          PgChangeFeed.asScrapeEvents(df, "KR")
            .write.mode("append").parquet(eventsDir)
          sys.error("injected daemon death: write durable, commit not " +
            "reached")
        }
        .option("checkpointLocation",
          s"$out/.changefeed-checkpoint/_slot_$slotName")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.awaitTermination())
      // the invariant is NOT "confirmed froze": restoring the handoff
      // run's COMMITTED batch may advance to that batch's end
      // (durably-processed WAL — background checkpoint records can put
      // that horizon past the handoff confirm). What must hold is that
      // NOTHING of the uncommitted batch's window is released — its
      // planned end stays strictly ahead of the confirm, so the replay
      // re-ships it
      val plannedEnd = {
        val dir = new java.io.File(
          s"$out/.changefeed-checkpoint/_slot_$slotName/offsets")
        val last = dir.listFiles().filter(_.getName.forall(_.isDigit))
          .maxBy(_.getName.toInt)
        java.nio.file.Files.readString(last.toPath)
          .linesIterator.toSeq.last.trim.toLong
      }
      assert(PgChangeFeed.parseLsn(confirmed) < plannedEnd,
        s"the uncommitted batch's window (end $plannedEnd) must not be " +
          s"released by the crash (confirmed $confirmed)")
      val countMid = spark.read.parquet(eventsDir).count()
      assert(countMid > countBefore,
        "the doomed batch's write is durable (that is the hazard)")
      // restart through the REAL CLI from the same checkpoint: Spark
      // replays the planned-but-uncommitted batch — the peek re-reads
      // the same window (the slot never moved), the same events append
      // AGAIN, and only then does the slot advance
      Main.main(Array("--watch-pg", url, "--out", out, "KR"))
      val log = spark.read.parquet(eventsDir)
      assert(log.count() >= countMid + (countMid - countBefore),
        s"at-least-once: the window's events land twice " +
          s"(${countBefore} -> ${countMid} -> ${log.count()})")
      // the absorb proof: compacted snapshot == live table, key for key
      // and value for value on the live rows
      val snap = graft.streaming.ScrapeTws.snapshotOf(log)
        .filter(org.apache.spark.sql.functions.col("deleted").isNull)
        .select("filename", "size", "mime_type")
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getString(2))).sortBy(_._1).toSeq
      val table = withClient(_.query(
        s"SELECT filename, size::text, mime_type FROM ${PgMerge.table} " +
          "WHERE external_source = 'KR' AND deleted IS NULL " +
          "ORDER BY filename"))
        .map(r => (r(0).get, r(1).get.toLong, r(2).get)).toSeq
      assert(snap == table,
        s"snapshot-after-replay equals live table: $snap vs $table")
      assert(snap.map(_._1) == Seq("a.txt", "d.txt") &&
        snap.head._2 == 100L, s"the update and insert both took: $snap")
      // the tombstone and the physical delete both survive compaction
      // as dead rows (deleted set), matching the table's b.txt and the
      // physically-gone c.txt
      val dead = graft.streaming.ScrapeTws.snapshotOf(log)
        .filter(org.apache.spark.sql.functions.col("deleted").isNotNull)
        .select("filename").collect().map(_.getString(0)).sorted.toSeq
      assert(dead == Seq("b.txt", "c.txt"), s"dead rows: $dead")
      // the slot advance lags one batch BY DESIGN (sources commit at
      // the NEXT batch / restart): the replayed window's WAL is
      // released by the following run, and the watch continues normally
      withClient(_.exec(s"INSERT INTO ${PgMerge.table} VALUES " +
        "('KR', '/k', 'e.txt', 'text/plain', NULL, now(), 5, NULL)"))
      Main.main(Array("--watch-pg", url, "--out", out, "KR"))
      assert(confirmed != lsnBefore,
        "the next committed run releases the replayed window's WAL")
      val finalSnap = graft.streaming.ScrapeTws.snapshotOf(
        spark.read.parquet(eventsDir))
        .filter(org.apache.spark.sql.functions.col("deleted").isNull)
        .select("filename", "size").collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(finalSnap ==
        Seq(("a.txt", 100L), ("d.txt", 4L), ("e.txt", 5L)),
        s"recovery continues normally after the replay: $finalSnap")
    } finally {
      withClient { c =>
        c.query("SELECT pg_drop_replication_slot(slot_name) FROM " +
          "pg_replication_slots WHERE starts_with(slot_name, 'graft_cf_')")
        c.exec("DROP PUBLICATION IF EXISTS graft_pub")
        c.exec(s"DROP TABLE IF EXISTS ${PgMerge.table}")
      }
    }
    assert(PgWireClient.live == 0, "no leaked connections")
  }

  test("changefeed kill-recovery under admission control: batch 1 " +
      "commits and its WAL is released by the NEXT peek's " +
      "advance-to-start, the crash on batch 2 replays ONLY batch 2, " +
      "and the compaction absorbs the exact duplicates") {
    assume(live, s"no PostgreSQL server at $host:$port")
    assume(withClient(_.queryOne("SHOW wal_level")) == Some("logical"),
      "changefeed needs wal_level=logical on the harness server")
    import graft.sources.v2.PgChangeFeed
    withClient { c =>
      createTable(c)
      c.exec(s"INSERT INTO ${PgMerge.table} VALUES " +
        "('KB', '/b', 's1.txt', 'text/plain', NULL, now(), 1, NULL), " +
        "('KB', '/b', 's2.txt', 'text/plain', NULL, now(), 2, NULL), " +
        "('KB', '/b', 's3.txt', 'text/plain', NULL, now(), 3, NULL)")
    }
    val out = java.nio.file.Files
      .createTempDirectory("graft_killbnd").toString
    try {
      Main.main(Array("--watch-pg", url, "--out", out, "KB"))
      // the backlog: 30 single-row transactions so maxchangespertrigger
      // splits it into several bounded batches (each tx is B/row/C
      // protocol rows; the bound cuts at commit boundaries)
      withClient { c =>
        (0 until 24).foreach(i => c.exec(
          s"INSERT INTO ${PgMerge.table} VALUES ('KB', '/b', " +
            f"'f$i%02d.txt', 'text/plain', NULL, now(), ${100 + i}%d, " +
            "NULL)"))
        c.exec(s"UPDATE ${PgMerge.table} SET size = 11 " +
          "WHERE path = '/b' AND filename = 's1.txt'")
        c.exec(s"UPDATE ${PgMerge.table} SET deleted = now() " +
          "WHERE path = '/b' AND filename = 's2.txt'")
        c.exec(s"DELETE FROM ${PgMerge.table} " +
          "WHERE path = '/b' AND filename = 's3.txt'")
      }
      val eventsDir =
        s"$out/events/${java.net.URLEncoder.encode("KB", "UTF-8")}"
      val slotName = java.nio.file.Files.readString(java.nio.file.Path
        .of(s"$eventsDir/_graft_changefeed")).linesIterator.next()
      val lsn0 = withClient(_.queryOne(
        "SELECT confirmed_flush_lsn::text FROM pg_replication_slots " +
          s"WHERE slot_name = '$slotName'")).get
      def advancedPast(lsn: String): Boolean = withClient(_.queryOne(
        s"SELECT (confirmed_flush_lsn > '$lsn'::pg_lsn)::text FROM " +
          s"pg_replication_slots WHERE slot_name = '$slotName'"))
        .contains("true") // boolean::text renders 'true', not wire 't'
      // crash on the SECOND bounded batch: batch 1 commits normally, so
      // the next peek's advance-to-start releases batch 1's WAL while
      // batch 2 is the planned-but-uncommitted one the restart replays
      // count DATA batches only: the restored checkpoint replays the
      // handoff run's final (empty) horizon batch first, which plans
      // with no advance — the invariant under test needs two batches
      // that carry changes
      val seen = new java.util.concurrent.atomic.AtomicInteger(0)
      val feed = spark.readStream.format("graft-pg").option("url", url)
        .option("mode", "changefeed").option("slot", slotName)
        .option("maxchangespertrigger", "20").load()
      val q = feed.writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val n = df.count()
          PgChangeFeed.asScrapeEvents(df, "KB")
            .write.mode("append").parquet(eventsDir)
          if (n > 0 && seen.incrementAndGet() >= 2)
            sys.error("injected daemon death on bounded data batch 2")
        }
        .option("checkpointLocation",
          s"$out/.changefeed-checkpoint/_slot_$slotName")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.awaitTermination())
      assert(seen.get == 2, s"died on the second bounded DATA batch: " +
        s"$seen")
      // batch 1's WAL is RELEASED (the advance-to-start happened when
      // batch 2's peek planned), but nothing of batch 2's window is:
      // exactly the durably-processed prefix and no more
      assert(advancedPast(lsn0),
        "batch 1's commit releases its WAL via the next advance-to-start")
      // restart with the SAME bound drains the replayed batch 2 plus
      // the rest of the backlog; the replay lands as exact duplicates
      Main.main(Array("--watch-pg", url, "--out", out,
        "--max-changes", "20", "KB"))
      val log = spark.read.parquet(eventsDir)
      assert(log.count() > log.distinct().count(),
        "the replayed bounded batch landed twice (exact duplicates)")
      val snap = graft.streaming.ScrapeTws.snapshotOf(log)
      val live = snap
        .filter(org.apache.spark.sql.functions.col("deleted").isNull)
        .select("filename", "size").collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
      val expect = (0 until 24)
        .map(i => (f"f$i%02d.txt", 100L + i)) :+ ("s1.txt", 11L)
      assert(live == expect.sortBy(_._1),
        s"snapshot equals the live table after bounded replay: $live")
      val dead = snap
        .filter(org.apache.spark.sql.functions.col("deleted").isNotNull)
        .select("filename").collect().map(_.getString(0)).sorted.toSeq
      assert(dead == Seq("s2.txt", "s3.txt"), s"dead rows: $dead")
    } finally {
      withClient { c =>
        c.query("SELECT pg_drop_replication_slot(slot_name) FROM " +
          "pg_replication_slots WHERE starts_with(slot_name, 'graft_cf_')")
        c.exec("DROP PUBLICATION IF EXISTS graft_pub")
        c.exec(s"DROP TABLE IF EXISTS ${PgMerge.table}")
      }
    }
    assert(PgWireClient.live == 0, "no leaked connections")
  }

  test("stream-bench changefeed guard (VERDICT r17 #6): a NON-EMPTY " +
      "external_file is never dropped by the bench without the " +
      "explicit opt-in — reachability is not consent") {
    assume(live, s"no PostgreSQL server at $host:$port")
    assume(withClient(_.queryOne("SHOW wal_level")) == Some("logical"),
      "changefeed needs wal_level=logical on the harness server")
    withClient { c =>
      createTable(c)
      c.exec(s"INSERT INTO ${PgMerge.table} VALUES " +
        "('REAL', '/data', 'keep.txt', 'text/plain', NULL, now(), 7, " +
        "NULL)")
    }
    try {
      // no opt-in: the row is omitted and the table is untouched
      assert(streaming.StreamBench.changefeedStats(spark, 1000L).isEmpty,
        "non-empty table without opt-in omits the changefeed row")
      assert(withClient(_.queryOne(
        s"SELECT count(*) FROM ${PgMerge.table}")).contains("1") &&
        withClient(_.queryOne(s"SELECT path FROM ${PgMerge.table}"))
          .contains("/data"),
        "the guarded table keeps its real data")
      // FAIL-CLOSED on ambiguity (review r18): a SECOND relation named
      // external_file in another schema makes the catalog probe
      // ambiguous — the guard must refuse even though the public table
      // is about to be emptied, because it cannot PROVE which one the
      // unqualified DROP would hit
      withClient { c =>
        c.exec("CREATE SCHEMA IF NOT EXISTS graft_guard_s2")
        c.exec(s"CREATE TABLE graft_guard_s2.${PgMerge.table} (x INT)")
        c.exec(s"DELETE FROM ${PgMerge.table}")
      }
      try {
        assert(!BenchPg.mayDropTable,
          "two same-named relations refuse without opt-in")
        assert(streaming.StreamBench.changefeedStats(spark, 1000L).isEmpty,
          "the ambiguous catalog omits the row")
      } finally withClient(
        _.exec("DROP SCHEMA graft_guard_s2 CASCADE"))
      // the explicit opt-in proceeds (drops, seeds, drains, cleans up)
      sys.props("graft.bench.allowDrop") = "true"
      try {
        val st = streaming.StreamBench.changefeedStats(spark, 1000L)
        assert(st.exists(_.rows == 1000L),
          s"opted-in bench drains its seeded rows, got $st")
      } finally { sys.props.remove("graft.bench.allowDrop"); () }
    } finally withClient(_.exec(s"DROP TABLE IF EXISTS ${PgMerge.table}"))
    assert(PgWireClient.live == 0, "no leaked connections")
  }

  test("--watch-pg --max-retain-mb (VERDICT r17 #4): the watch notes " +
      "retained WAL past the threshold at trigger time — the " +
      "disk-filling failure mode stops requiring a manual `slots` run") {
    assume(live, s"no PostgreSQL server at $host:$port")
    assume(withClient(_.queryOne("SHOW wal_level")) == Some("logical"),
      "changefeed needs wal_level=logical on the harness server")
    withClient { c =>
      createTable(c)
      c.exec(s"INSERT INTO ${PgMerge.table} VALUES " +
        "('WM', '/w', 'a.txt', 'text/plain', NULL, now(), 1, NULL)")
    }
    val out = java.nio.file.Files
      .createTempDirectory("graft_retain").toString
    try {
      // handoff run (no threshold: silent), then hold confirms back by
      // writing DML the slot has not streamed yet
      Main.main(Array("--watch-pg", url, "--out", out, "WM"))
      withClient(_.exec(s"INSERT INTO ${PgMerge.table} VALUES " +
        "('WM', '/w', 'b.txt', 'text/plain', NULL, now(), 2, NULL)"))
      // the gauge itself reads positive lag through the engine's client
      val slotName = {
        val events = new java.io.File(s"$out/events")
        val marker = events.listFiles().head.toPath
          .resolve("_graft_changefeed")
        java.nio.file.Files.readString(marker).linesIterator.next()
      }
      val lag = graft.sources.v2.PgChangeFeed.retainedWalBytes(target,
        slotName)
      assert(lag.exists(_ > 0L), s"held-back confirms show WAL lag: $lag")
      // a 0 MiB threshold trips at trigger time; the note prints on the
      // stream-execution thread, which inherits withOut's binding
      // (DynamicVariable = InheritableThreadLocal)
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf))(
        Main.main(Array("--watch-pg", url, "--out", out,
          "--max-retain-mb", "0", "WM")))
      val txt = new String(buf.toByteArray, "UTF-8")
      assert(txt.contains("MiB of WAL") &&
        txt.contains("over --max-retain-mb 0") &&
        txt.contains("disk fills"), s"note text pinned, got:\n$txt")
      // a missing slot reads as None, not a throw (monitor never kills)
      assert(graft.sources.v2.PgChangeFeed.retainedWalBytes(target,
        "graft_cf_nosuchslot").isEmpty)
    } finally {
      withClient { c =>
        c.query("SELECT pg_drop_replication_slot(slot_name) FROM " +
          "pg_replication_slots WHERE starts_with(slot_name, 'graft_cf_')")
        c.exec("DROP PUBLICATION IF EXISTS graft_pub")
        c.exec(s"DROP TABLE IF EXISTS ${PgMerge.table}")
      }
    }
    assert(PgWireClient.live == 0, "no leaked connections")
  }

  test("handoff lock cleanup (ADVICE r17): a CLEAN bootstrap failure " +
      "deletes the just-created lock, so the rerun hands off fresh " +
      "instead of refusing with 'another handoff in progress'") {
    assume(live, s"no PostgreSQL server at $host:$port")
    assume(withClient(_.queryOne("SHOW wal_level")) == Some("logical"),
      "changefeed needs wal_level=logical on the harness server")
    // no external_file on the server: bootstrapSnapshot fails cleanly
    // at the publication/replica-identity gate — the most common class
    // of first-run failure (server fine, prerequisites not)
    withClient(_.exec(s"DROP TABLE IF EXISTS ${PgMerge.table}"))
    val out = java.nio.file.Files
      .createTempDirectory("graft_lockclean").toString
    intercept[Exception](
      Main.main(Array("--watch-pg", url, "--out", out, "WP")))
    val leftover = new java.io.File(out).listFiles().toSeq
      .map(_.getName).filter(_.startsWith("._graft_handoff_"))
    assert(leftover.isEmpty,
      s"a clean bootstrap failure must delete its lock, found $leftover")
    // same --out, prerequisites fixed: a fresh handoff succeeds (the
    // pre-fix behavior died here on the leaked lock)
    withClient { c =>
      createTable(c)
      c.exec(s"INSERT INTO ${PgMerge.table} VALUES " +
        "('WP', '/w', 'a.txt', 'text/plain', NULL, now(), 1, NULL)")
    }
    try {
      Main.main(Array("--watch-pg", url, "--out", out, "WP"))
      val marker = new java.io.File(s"$out/events")
        .listFiles().toSeq.flatMap(d =>
          Option(new java.io.File(d, "_graft_changefeed"))
            .filter(_.exists()))
      assert(marker.nonEmpty, "the rerun committed its handoff marker")
    } finally withClient { c =>
      c.query("SELECT pg_drop_replication_slot(slot_name) FROM " +
        "pg_replication_slots WHERE starts_with(slot_name, 'graft_cf_')")
      c.exec("DROP PUBLICATION IF EXISTS graft_pub")
      c.exec(s"DROP TABLE IF EXISTS ${PgMerge.table}")
    }
    assert(PgWireClient.live == 0, "no leaked connections")
  }

  test("graft-pg micro-batch streaming (VERDICT r15 #4): a PG-backed " +
      "external_file watches like an S3 bucket — inserts surface next " +
      "trigger, a tombstone becomes a ScrapeTws delete event") {
    assume(live, s"no PostgreSQL server at $host:$port")
    withClient { c =>
      createTable(c)
      c.exec(s"INSERT INTO ${PgMerge.table} VALUES " +
        "('PGS', '/w', 'a.txt', 'text/plain', NULL, now(), 1, NULL), " +
        "('PGS', '/w', 'b.txt', 'text/plain', NULL, now(), 2, NULL), " +
        "('PGS', '/w', 'c.txt', 'text/plain', NULL, now(), 3, NULL)")
    }
    import org.apache.spark.sql.functions._
    graft.streaming.RocksDb.withRocksDb(spark) {
      // streaming scans get no filter pushdown: live-rows-only and the
      // source pin are Spark-side, exactly like the batch residuals
      val scans = spark.readStream.format("graft-pg")
        .option("url", url).option("partitions", "2").load()
        .filter(col("deleted").isNull && col("external_source") === "PGS")
        .drop("deleted")
        .withColumn("observed", current_timestamp())
      val q = graft.streaming.ScrapeTws.changeStream(spark, scans, "PGS")
        .writeStream.format("memory").queryName("pg_daemon_out")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime(250L))
        .start()
      try {
        def count(action: String): Long = spark.table("pg_daemon_out")
          .filter(col("action") === action).count()
        val deadline = System.currentTimeMillis() + 60000L
        while (count("insert") < 3 &&
          System.currentTimeMillis() < deadline) Thread.sleep(200L)
        assert(count("insert") == 3L, "the live rows surfaced")
        // a row INSERTED live shows up on the next rescan
        withClient(_.exec(s"INSERT INTO ${PgMerge.table} VALUES " +
          "('PGS', '/w', 'new.txt', 'text/plain', NULL, now(), 4, NULL)"))
        while (count("insert") < 4 &&
          System.currentTimeMillis() < deadline) Thread.sleep(200L)
        assert(count("insert") == 4L, "the live insert surfaced")
        // a row TOMBSTONED in PG leaves the rescan → delete event
        // (surviving rows keep the deletion watermark advancing)
        withClient(_.exec(s"UPDATE ${PgMerge.table} SET deleted = now() " +
          "WHERE filename = 'a.txt'"))
        while (count("delete") < 1 &&
          System.currentTimeMillis() < deadline) Thread.sleep(200L)
        val dels = spark.table("pg_daemon_out")
          .filter(col("action") === "delete")
          .select("path", "filename").distinct().collect()
          .map(r => (r.getString(0), r.getString(1))).toSet
        assert(dels == Set(("/w", "a.txt")), s"got $dels")
      } finally q.stop()
    }
    assert(PgWireClient.live == 0, "no leaked connections after stop")
    withClient(_.exec(s"DROP TABLE ${PgMerge.table}"))
  }

  test("slots reads the markers through the session's Hadoop conf: a " +
      "slot claimed under an --out only the session can resolve stays " +
      "CLAIMED and is not dropped") {
    assume(live, s"no PostgreSQL server at $host:$port")
    assume(withClient(_.queryOne("SHOW wal_level")) == Some("logical"),
      "changefeed needs wal_level=logical on the harness server")
    val slot = "graft_cf_confchan_0000beef"
    // a scheme only this session's Hadoop conf knows: a bare
    // Configuration fails on it at once
    val hc = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.graftslots.impl", "fs.graftslots.impl.disable.cache")
    val saved = keys.map(k => k -> Option(hc.get(k)))
    hc.set("fs.graftslots.impl", classOf[MockS3FileSystem].getName)
    hc.set("fs.graftslots.impl.disable.cache", "true")
    MockS3Store.clear()
    MockS3Store.putBytes("slotsout", "w/events/WP/_graft_changefeed",
      s"$slot\nWP".getBytes("UTF-8"), 1700000000000L)
    withClient(_.query("SELECT pg_create_logical_replication_slot(" +
      s"'$slot', 'pgoutput')"))
    try {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf))(Main.main(Array(
        "slots", url, "--out", "graftslots://slotsout/w", "--drop-orphans")))
      val report = new String(buf.toByteArray, "UTF-8")
      assert(report.linesIterator.exists(l => l.startsWith(s"$slot  CLAIMED by ") &&
        l.contains("graftslots://slotsout/w/events/WP")), s"got:\n$report")
      assert(!report.contains(s"dropped $slot"), s"got:\n$report")
      assert(withClient(_.queryOne("SELECT count(*) FROM pg_replication_slots " +
        s"WHERE slot_name = '$slot'")) == Some("1"), "the claimed slot survives")
    } finally {
      withClient(_.query("SELECT pg_drop_replication_slot(slot_name) FROM " +
        s"pg_replication_slots WHERE slot_name = '$slot'"))
      // restore, not unset: unset also drops core-default.xml's value
      saved.foreach { case (k, v) => v.fold(hc.unset(k))(hc.set(k, _)) }
      MockS3Store.clear()
    }
  }
}
