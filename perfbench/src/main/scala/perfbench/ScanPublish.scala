package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.sinks.{PgMerge, PgWireClient}
import graft.sources.S3Wire
import graft.sources.S3Wire.S3Conf

/** The reference's own job: list a bucket, classify each object, publish
  * the scan to PostgreSQL with upsert and tombstones, in one
  * transaction. A pass is one fresh cycle into an empty table (insert
  * arm only) followed by [[ScanPublish.rescans]] rescans of seeded churn.
  * Every cycle is timed from the `S3Wire.listDF` call to the return of
  * `PgMerge.publishScanWire` (after COMMIT); the table check after it is
  * not timed. */
object ScanPublish extends Workload {
  val objects = 20000
  val warmupObjects = 1000
  val rescans = 6
  val source = "perfbench"
  val bucket = "bench"

  final case class Obj(key: String, modifiedMs: Long, size: Long)

  /** The served namespace, swapped between cycles. Responses go out with
    * TCP_NODELAY: otherwise each small page waits on the client's delayed
    * ACK, and that harness stall would dominate the listing. */
  final class Endpoint(threads: Int) {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    @volatile var keys: Array[Obj] = Array.empty
    val requests = new AtomicLong
    val busyNs = new AtomicLong
    private val pool: ExecutorService = Executors.newFixedThreadPool(threads)
    private val server =
      HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val t0 = System.nanoTime()
      try ListObjectsV2.serve(keys, ex)
      finally {
        ex.close()
        requests.incrementAndGet()
        busyNs.addAndGet(System.nanoTime() - t0)
      }
    })
    server.setExecutor(pool)
    server.start()
    val conf = S3Conf(s"http://127.0.0.1:${server.getAddress.getPort}",
      "us-east-1", "perfbench", "perfbench", pathStyle = true)
    def stop(): Unit = {
      server.stop(0)
      pool.shutdownNow() // its threads are not daemons
      ()
    }
  }

  /** ListObjectsV2 over a sorted key array: prefix, delimiter grouping,
    * max-keys, and continuation-token / start-after as the last key
    * already covered. Signatures are not verified. */
  object ListObjectsV2 {
    private def xesc(s: String): String = s.flatMap {
      case '&' => "&amp;"; case '<' => "&lt;"; case '>' => "&gt;"
      case c => c.toString
    }

    /** First index whose key is >= `k` (or > `k` when `strict`). */
    private def lowerBound(keys: Array[Obj], k: String,
        strict: Boolean): Int = {
      var lo = 0
      var hi = keys.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        val c = keys(mid).key.compareTo(k)
        if (c < 0 || (strict && c == 0)) lo = mid + 1 else hi = mid
      }
      lo
    }

    def serve(keys: Array[Obj], ex: HttpExchange): Unit = {
      val params = Option(ex.getRequestURI.getRawQuery).getOrElse("")
        .split("&").filter(_.nonEmpty).map { kv =>
          val Array(k, v) = kv.split("=", 2).padTo(2, "")
          java.net.URLDecoder.decode(k, "UTF-8") ->
            java.net.URLDecoder.decode(v, "UTF-8")
        }.toMap
      val prefix = params.getOrElse("prefix", "")
      val delim = params.get("delimiter").filter(_.nonEmpty)
      val maxKeys = params.get("max-keys").map(_.toInt).getOrElse(1000)
      val after = params.get("continuation-token")
        .orElse(params.get("start-after"))
      var i = after match {
        case Some(t) if t >= prefix => lowerBound(keys, t, strict = true)
        case _ => lowerBound(keys, prefix, strict = false)
      }
      val contents = new StringBuilder
      val prefixes = new StringBuilder
      var n = 0
      var lastCovered = ""
      while (i < keys.length && n < maxKeys &&
          keys(i).key.startsWith(prefix)) {
        val o = keys(i)
        val cut = delim.map(d => o.key.indexOf(d, prefix.length)).getOrElse(-1)
        if (cut >= 0) {
          val group = o.key.substring(0, cut + delim.get.length)
          val end = lowerBound(keys, group + Char.MaxValue, strict = false)
          prefixes ++= s"<CommonPrefixes><Prefix>${xesc(group)}</Prefix></CommonPrefixes>"
          lastCovered = keys(end - 1).key
          i = end
        } else {
          contents ++= s"<Contents><Key>${xesc(o.key)}</Key><LastModified>" +
            java.time.Instant.ofEpochMilli(o.modifiedMs).toString +
            s"</LastModified><Size>${o.size}</Size></Contents>"
          lastCovered = o.key
          i += 1
        }
        n += 1
      }
      val truncated = i < keys.length && keys(i).key.startsWith(prefix)
      val next =
        if (truncated) s"<NextContinuationToken>${xesc(lastCovered)}" +
          "</NextContinuationToken><IsTruncated>true</IsTruncated>"
        else "<IsTruncated>false</IsTruncated>"
      val xml = ("""<?xml version="1.0" encoding="UTF-8"?>""" +
        s"<ListBucketResult><Name>$bucket</Name>" + next + contents +
        prefixes + "</ListBucketResult>").getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/xml")
      ex.sendResponseHeaders(200, xml.length)
      ex.getResponseBody.write(xml)
    }
  }

  /** Seeded namespace and churn. Keys sit under `logs/dayNN/` (25
    * prefixes, so the shard planner recurses), one in four a `.json`,
    * the rest `.bin`. */
  final class Namespace(seed: Long, objects: Int) {
    private val base = 1700000000000L
    private var nextId = 0
    private def fresh(rnd: java.util.SplittableRandom): Obj = {
      val id = nextId
      nextId += 1
      val day = rnd.nextInt(25)
      val key =
        if (rnd.nextInt(4) == 0) f"logs/day$day%02d/part-$id%08d.json"
        else f"logs/day$day%02d/blob-$id%08d.bin"
      Obj(key, base + rnd.nextLong(86400000L * 30), 100L + rnd.nextInt(1 << 20))
    }
    /** The initial namespace and each rescan's, all derived from `seed`. */
    val rounds: IndexedSeq[Array[Obj]] = {
      val rnd = new java.util.SplittableRandom(seed)
      val first = Array.fill(objects)(fresh(rnd))
      val out = mutable.ArrayBuffer(first.sortBy(_.key))
      (1 to rescans).foreach { r =>
        val kept = out.last.flatMap { o =>
          val u = rnd.nextDouble()
          if (u < 0.10) None // vanished: the tombstone arm
          else if (u < 0.20) Some(o.copy( // modified: the update arm
            modifiedMs = o.modifiedMs + 60000L * r,
            size = o.size + 1 + rnd.nextInt(4096)))
          else Some(o) // unchanged: the no-op arm
        }
        val added = Array.fill(objects / 20)(fresh(rnd)) // new: insert arm
        out += (kept ++ added).sortBy(_.key)
      }
      out.toIndexedSeq
    }
  }

  /** What the table must hold: key -> (row text, live). */
  type Expected = mutable.HashMap[(String, String), (String, Boolean)]

  def mimeOf(key: String): String =
    if (key.endsWith(".json")) "application/json"
    else "application/octet-stream"

  def splitKey(key: String): (String, String) = {
    val i = key.lastIndexOf('/')
    ("/" + key.substring(0, i), key.substring(i + 1))
  }

  final class State(val spark: SparkSession, val a: Args,
      val endpoint: Endpoint, val ns: Namespace) {
    def client(): PgWireClient =
      new PgWireClient("127.0.0.1", a.pgPort, "postgres", "postgres")
  }

  private def recreateTable(st: State): Unit = {
    val c = st.client()
    try {
      c.exec(s"DROP TABLE IF EXISTS ${PgMerge.table}")
      c.exec(
        s"""CREATE TABLE ${PgMerge.table} (
           |  external_source TEXT, path TEXT, filename TEXT,
           |  mime_type TEXT, created TIMESTAMPTZ, modified TIMESTAMPTZ,
           |  size BIGINT, deleted TIMESTAMPTZ,
           |  CONSTRAINT ${PgMerge.constraint}
           |    UNIQUE (external_source, path, filename))""".stripMargin)
      ()
    } finally c.close()
  }

  /** The endpoint and the namespace. Each pass starts by creating an
    * empty table. */
  def setup(spark: SparkSession, a: Args): State =
    new State(spark, a, new Endpoint(a.threads), new Namespace(a.seed, objects))

  def teardown(st: State): Unit = {
    st.endpoint.stop()
    val c = st.client()
    try { c.exec(s"DROP TABLE IF EXISTS ${PgMerge.table}"); () }
    finally c.close()
  }

  /** One cycle: list the served namespace and publish it. */
  private def cycle(st: State, tr: Trace, request: String): Unit = {
    val df = tr.span(request, "S3Wire.listDF") {
      S3Wire.listDF(st.spark, st.endpoint.conf, bucket, "", Some(source))
    }
    tr.span(request, "PgMerge.publishScanWire") {
      PgMerge.publishScanWire(df, "127.0.0.1", st.a.pgPort, "postgres",
        "postgres", source)
    }
  }

  /** Warm-up: three times a fresh cycle and a rescan of a small
    * namespace, so the timed passes measure the write paths and not the
    * JVM's first compilation of them. */
  def prepare(st: State, out: Outcome): Unit = {
    val warm = new Namespace(st.a.seed + 1, warmupObjects).rounds.take(2)
    (1 to 3).foreach { _ =>
      recreateTable(st)
      warm.foreach { served =>
        st.endpoint.keys = served
        cycle(st, new Trace(st.spark), "warmup")
      }
    }
  }

  /** Table rows of the source: key -> (row text, live, xmin). */
  private def readTable(st: State)
      : Map[(String, String), (String, Boolean, String)] = {
    val c = st.client()
    try c.query(
      "SELECT path, filename, mime_type, size, " +
        "(extract(epoch FROM modified) * 1000)::bigint, " +
        "deleted IS NULL, created IS NULL, xmin::text " +
        s"FROM ${PgMerge.table} WHERE external_source = '$source'")
      .map { r =>
        val v = r.map(_.getOrElse("\\N"))
        (v(0), v(1)) -> (v.slice(0, 5).mkString("|") + "|" + v(6),
          v(5) == "t", v(7))
      }.toMap
    finally c.close()
  }

  private def walLsn(st: State): String = {
    val c = st.client()
    try c.queryOne("SELECT pg_current_wal_lsn()::text").get
    finally c.close()
  }

  private def walBytes(st: State, from: String, to: String): Double = {
    val c = st.client()
    try c.queryOne(s"SELECT pg_wal_lsn_diff('$to', '$from')").get.toDouble
    finally c.close()
  }

  /** Order-independent digest: row count and the sum of row hashes. */
  private def digest(rows: Iterable[(String, Boolean)]): (Int, Long) =
    (rows.size, rows.iterator.map { case (t, live) =>
      scala.util.hashing.MurmurHash3.stringHash(t + "|" + live).toLong
    }.sum)

  def pass(st: State, p: Int, tr: Trace, out: Outcome): Unit = {
    recreateTable(st)
    val expected: Expected = mutable.HashMap.empty
    var before = Map.empty[(String, String), (String, Boolean, String)]
    st.ns.rounds.zipWithIndex.foreach { case (served, r) =>
      val kind = if (r == 0) "fresh" else "rescan"
      st.endpoint.keys = served
      val req0 = st.endpoint.requests.get
      val busy0 = st.endpoint.busyNs.get
      val lsn0 = walLsn(st)
      var publishEndMs = 0L
      val res = Layers.timed(out, tr, kind, s"cycle$r", p) {
        val request = s"$kind:cycle$r:$p"
        cycle(st, tr, request)
        publishEndMs = System.currentTimeMillis()
        request
      }
      val lsn1 = walLsn(st)
      // untimed: what the table must hold now, and what it holds
      val seen = mutable.HashSet.empty[(String, String)]
      served.foreach { o =>
        val (path, file) = splitKey(o.key)
        seen += ((path, file))
        expected((path, file)) = (Seq(path, file, mimeOf(o.key), o.size,
          o.modifiedMs).mkString("|") + "|t", true)
      }
      expected.keys.filterNot(seen).foreach { k =>
        expected(k) = (expected(k)._1, false)
      }
      val after = readTable(st)
      val ok = digest(after.values.map(v => (v._1, v._2))) ==
        digest(expected.values)
      out.check(ok, s"$kind cycle $r (pass $p): table digest differs " +
        s"from the served namespace (${after.size} rows, " +
        s"${after.count(_._2._2)} live; expected ${expected.size} rows, " +
        s"${expected.count(_._2._2)} live)")
      res.foreach { case (request, counters, wall) =>
        counters.foreach { c =>
          val written = after.filter { case (k, v) =>
            before.get(k).forall(_._3 != v._3)
          }
          val updated = written.filter { case (k, _) => before.contains(k) }
          val useful = updated.count { case (k, v) =>
            val b = before(k)
            b._1 != v._1 || b._2 != v._2
          }
          out.layerSamples += Layers.exec(c, wall) ++ Map(
            "s3wire.plan_s" -> tr.spanSeconds(request, "S3Wire.listDF"),
            "s3wire.requests" ->
              (st.endpoint.requests.get - req0).toDouble,
            "s3wire.list_task_s" -> c.mapTaskRunS,
            "bench.s3_endpoint_busy_s" ->
              (st.endpoint.busyNs.get - busy0) / 1e9,
            "pgwire.copy_task_s" -> c.resultTaskRunS,
            "pgwire.copy_rows" -> c.resultRecordsRead.toDouble,
            "pgmerge.epilogue_s" ->
              (if (c.lastJobEndMs > 0)
                math.max(0L, publishEndMs - c.lastJobEndMs) / 1e3
              else 0.0),
            "pgmerge.rows_inserted" -> (written.size - updated.size).toDouble,
            "pgmerge.rows_updated" -> updated.size.toDouble,
            "_useful" -> useful.toDouble,
            "_wal_bytes" -> walBytes(st, lsn0, lsn1))
        }
      }
      before = after
    }
  }
}
