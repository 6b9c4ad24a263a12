package graft

import java.sql.{Connection, DriverManager}

import scala.util.Using
import scala.util.control.NonFatal

import org.apache.spark.sql.Row

import graft.sinks.PgMerge

/** The publish epilogue's SQL, executed offline: an in-process DuckDB over
  * plain JDBC holds `external_file`, and [[publish]] runs the statements
  * [[PgMerge.mergeWire]] runs, in its order, in one transaction:
  * `upsertSql`, then `markDeletedSql` with the source bound to its `$1`,
  * then the DROP of the scratch table, then COMMIT; any failure rolls
  * back and rethrows. The statement text is the library's, never a copy.
  * The one difference is the conflict-target spelling: DuckDB has no
  * named-constraint conflict target, so [[keyTarget]], the column set the
  * constraint covers, is passed through `upsertSql`'s `conflictTarget`.
  *
  * Rows are [[Row]]s of the eight `external_file` columns in table order
  * (the seed) or the seven scan columns (a publish, `deleted` left out).
  * The database runs at one thread: DuckDB, unlike PostgreSQL (21000 over
  * the whole command), detects a key written twice by one INSERT only
  * within one vector of rows, and its parallel DISTINCT may emit a
  * same-key pair in two; one thread keeps a tiny scan in one vector.
  *
  * Every statement is closed explicitly, never left to the connection:
  * DuckDB's JDBC driver keeps its database instance alive past
  * `Connection.close` while a statement of it is unclosed, and a later
  * connection to the same file then reads it without that connection's
  * commits. */
final class MergeSqlHarness extends AutoCloseable {
  import MergeSqlHarness._

  private val conn: Connection = {
    Class.forName("org.duckdb.DuckDBDriver")
    DriverManager.getConnection("jdbc:duckdb:")
  }
  exec("SET threads = 1")

  def exec(sql: String): Unit =
    Using.resource(conn.createStatement())(_.execute(sql))

  /** Every row of `sql`'s result, each column as text (null for NULL). */
  def query(sql: String): Seq[Seq[String]] =
    Using.resource(conn.createStatement()) { st =>
      val rs = st.executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val b = Seq.newBuilder[Seq[String]]
      while (rs.next()) b += (1 to n).map(rs.getString)
      b.result()
    }

  /** A fresh `external_file`, unique on [[keyTarget]], holding `rows`. */
  def seed(rows: Seq[Row]): Unit = {
    exec(s"DROP TABLE IF EXISTS ${PgMerge.table}")
    exec(s"CREATE TABLE ${PgMerge.table} ($scanDdl, deleted TIMESTAMP, " +
      s"UNIQUE $keyTarget)")
    insert(PgMerge.table, rows)
  }

  /** Stage `scan` into a new scratch table with a prepared INSERT, then
    * merge it as `source`'s scan in one transaction. */
  def publish(scan: Seq[Row], source: String,
      conflictTarget: String = keyTarget): Unit = {
    val scratch = PgMerge.scratchName(java.util.UUID.randomUUID().toString)
    exec(s"CREATE TABLE $scratch ($scanDdl)")
    insert(scratch, scan)
    conn.setAutoCommit(false)
    try {
      exec(PgMerge.upsertSql(scratch, conflictTarget))
      Using.resource(conn.prepareStatement(PgMerge.markDeletedSql(scratch))) {
        del =>
          del.setString(1, source)
          del.executeUpdate()
      }
      exec(s"DROP TABLE $scratch")
      conn.commit()
    } catch {
      case e: Throwable =>
        try conn.rollback()
        catch { case NonFatal(r) => e.addSuppressed(r) }
        throw e
    } finally conn.setAutoCommit(true)
  }

  private def insert(table: String, rows: Seq[Row]): Unit =
    rows.headOption.foreach { first =>
      val marks = Seq.fill(first.length)("?").mkString(",")
      Using.resource(conn.prepareStatement(
          s"INSERT INTO $table VALUES ($marks)")) { ins =>
        rows.foreach { r =>
          (0 until r.length).foreach(i => ins.setObject(i + 1, r.get(i)))
          ins.executeUpdate()
        }
      }
    }

  def close(): Unit = conn.close()
}

object MergeSqlHarness {
  /** The conflict target DuckDB spells for the named constraint. */
  val keyTarget = "(external_source, path, filename)"

  /** The scan columns in staging order, as DuckDB column definitions. */
  private val scanDdl =
    "external_source TEXT, path TEXT, filename TEXT, mime_type TEXT, " +
      "created TIMESTAMP, modified TIMESTAMP, size BIGINT"
}
