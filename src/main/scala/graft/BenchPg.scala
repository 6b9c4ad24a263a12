package graft

import scala.util.control.NonFatal

import graft.sinks.{PgMerge, PgWireClient}

/** Shared harness-PostgreSQL plumbing for the measured bench rows
  * ([[ProductBench]], [[graft.streaming.StreamBench]]'s changefeed
  * row): connection resolution, the destructive-setup guard, and the
  * canonical `external_file` DDL — ONE copy, so the guard can't drift
  * between the two benches (review r18).
  *
  * The guard FAILS CLOSED (review r18): the bench may DROP the product
  * table only when the probe POSITIVELY establishes it is absent or
  * empty. Any probe error, an ambiguous catalog state (same-named
  * relations in several schemas, a partitioned variant), or a non-zero
  * row count refuses without the explicit opt-in — an error while
  * *checking* whether data exists must never be read as "no data". */
private[graft] object BenchPg {

  def host: String = sys.env.getOrElse("PGWIRE_HOST", "127.0.0.1")
  def port: Int =
    sys.env.get("PGPORT").flatMap(_.toIntOption).getOrElse(54329)

  /** The harness server's `postgres` database: the benches' own
    * connections and what they hand to `PgChangeFeed` and the
    * `graft-pg` table. */
  def target: PgMerge.PgTarget =
    PgMerge.PgTarget(host, port, "postgres", "postgres", None, "disable")

  def withClient[A](f: PgWireClient => A): A = target.withClient(f)

  /** True when the server answers at all; benches omit their row
    * cleanly when it does not. */
  def reachable: Boolean =
    try withClient(_.queryOne("SELECT 1").contains("1"))
    catch { case NonFatal(_) => false }

  def optedIn: Boolean =
    sys.env.get("GRAFT_BENCH_ALLOW_DROP").contains("1") ||
      sys.props.get("graft.bench.allowDrop").contains("true")

  /** May this bench DROP/recreate `external_file`? Positive proof of
    * absent-or-empty, or the explicit opt-in — nothing else.
    *
    * The emptiness count runs against the `to_regclass`-RESOLVED
    * relation — the exact search_path resolution `DROP TABLE` itself
    * uses — so the proof can never apply to a same-named table in a
    * different schema than the one at risk (ADVICE r18). Residual
    * TOCTOU: the probe and the later DROP run on separate connections
    * with no lock, so a row inserted in between is still destroyed —
    * accepted as bench-only (the guard protects against pointing the
    * bench at a LIVE deployment, not against racing one mid-bench). */
  def mayDropTable: Boolean = optedIn || {
    try withClient { c =>
      // where would DROP TABLE resolve? NULL = nothing at that name on
      // the search_path (to_regclass never throws on a missing name)
      val resolved = c.queryOne(
        s"SELECT coalesce(to_regclass('${PgMerge.table}')::text, '')")
        .getOrElse("")
      // ANY relation by that name counts (plain, partitioned, in any
      // schema): "0" is the only state that proves nothing is at risk
      val relations = c.queryOne("SELECT count(*) FROM pg_class " +
        s"WHERE relname = '${PgMerge.table}'")
      (resolved.isEmpty && relations.contains("0")) ||
        (resolved.nonEmpty && relations.contains("1") &&
          withClient(_.queryOne(s"SELECT count(*) FROM $resolved")
            .contains("0")))
    } catch { case NonFatal(_) => false } // probe failed: fail CLOSED
  }

  def refusalNote(label: String): String =
    s"$label: ${PgMerge.table} on $host:$port is non-empty or " +
      "unverifiable — refusing the DROP/recreate (set " +
      "GRAFT_BENCH_ALLOW_DROP=1 or -Dgraft.bench.allowDrop=true to " +
      "opt in); row omitted"

  def createTable(c: PgWireClient): Unit = {
    c.exec(s"DROP TABLE IF EXISTS ${PgMerge.table}")
    c.exec(
      s"""CREATE TABLE ${PgMerge.table} (
         |  external_source TEXT, path TEXT, filename TEXT,
         |  mime_type TEXT, created TIMESTAMPTZ, modified TIMESTAMPTZ,
         |  size BIGINT, deleted TIMESTAMPTZ,
         |  CONSTRAINT ${PgMerge.constraint}
         |    UNIQUE (external_source, path, filename))""".stripMargin)
  }
}
