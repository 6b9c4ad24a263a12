package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.sources.S3Wire

/** Integration test of the S3 listing path (S4/S7) against
  * [[MockS3FileSystem]] — an in-JVM Hadoop FileSystem with S3 object-store
  * semantics. The offline harness has no s3a jars or network, so this is
  * the closest executable parity check to the reference's `s3.rs:87-150`:
  * every line of the `graft-files` listing (shard BFS over implicit
  * prefix-dirs, recursive paged listing, executor-side Configuration
  * rebuild, client-conf propagation) runs for real; only the AWS wire
  * protocol is substituted.
  */
class S3ListingIntegrationSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  /** fs.mocks3.impl must reach every FileSystem instantiation — including
    * the executor-side Configuration rebuild of the listing tasks — via
    * the source's `hadoop.*` options, the same channel that carries real
    * s3a client config. Cache disabled so reuse of the driver's instance
    * can't mask a propagation bug. */
  private val mockConf = Map(
    "fs.mocks3.impl" -> classOf[MockS3FileSystem].getName,
    "fs.mocks3.impl.disable.cache" -> "true")

  /** The `graft-files` listing of `url` with `conf` as `hadoop.*`
    * options. */
  private def listMock(url: String, conf: Map[String, String] = mockConf) =
    spark.read.format("graft-files").option("path", url)
      .options(conf.map { case (k, v) => s"hadoop.$k" -> v }).load()

  private val T0 = 1700000000000L

  override def beforeAll(): Unit = {
    super.beforeAll()
    MockS3Store.clear()
    // small hierarchical layout: root object + nested prefixes
    MockS3Store.put("small-bucket", "root.bin", 10, T0)
    MockS3Store.put("small-bucket", "logs/2026/01/a.json", 100, T0 + 1000)
    MockS3Store.put("small-bucket", "logs/2026/01/b.json", 200, T0 + 2000)
    MockS3Store.put("small-bucket", "logs/2026/02/c.csv", 300, T0 + 3000)
    MockS3Store.put("small-bucket", "img/d.png", 400, T0 + 4000)
    // ≥minShards (local[4]×4=16) first-level prefixes so the BFS stops
    // expanding and hands whole prefixes to executor tasks; prefix 0 holds
    // 2500 keys so ITS recursive listing must page (MaxKeys=1000 → 3 pages).
    (0 until 20).foreach { p =>
      val n = if (p == 0) 2500 else 5
      (0 until n).foreach { i =>
        MockS3Store.put("big-bucket", f"shard$p%02d/part-$i%05d.parquet",
          1000L + i, T0 + i)
      }
    }
  }

  test("list over mocks3 finds all objects with S3 semantics (no created)") {
    val rows = ScanRows.of(listMock("mocks3://small-bucket/"))
      .sortBy(r => (r.path, r.filename))
    assert(rows.length == 5)
    assert(rows.forall(_.created.isEmpty), "S3 rows must have no creation time (s3.rs:123)")
    assert(rows.forall(_.external_source == "mocks3://small-bucket/"))
    val byName = rows.map(r => r.filename -> r).toMap
    assert(byName("a.json").path == "/logs/2026/01")
    assert(byName("a.json").mime_type.contains("application/json"))
    assert(byName("a.json").size == 100L)
    assert(byName("a.json").modified.getTime == T0 + 1000)
    assert(byName("c.csv").path == "/logs/2026/02")
    assert(byName("d.png").mime_type.contains("image/png"))
    // root-level object: the reference's panic case (s3.rs:107-108).
    // path is "" — the SAME identity S3Wire.splitKey produces (review r18: the fs path used to render "/" here, so
    // toggling --s3-wire flipped the row's merge identity)
    assert(byName("root.bin").path == "")
  }

  test("listDF (distributed, executor-side conf rebuild) agrees with list") {
    // the listing equals the bucket's own key set, split the way the
    // REST lister splits keys
    val inStore = MockS3Store.bucket("small-bucket").asScala.map {
      case (key, (size, mtime)) =>
        val (dir, name) = S3Wire.splitKey(key)
        (dir, name, mtime, size)
    }.toSet
    val listed = ScanRows.of(listMock("mocks3://small-bucket/"))
      .map(r => (r.path, r.filename, r.modified.getTime, r.size)).toSet
    assert(listed == inStore)
  }

  test("recursive listing pages like ListObjectsV2 (MaxKeys=1000)") {
    MockS3Store.pagesServed.set(0)
    val df = listMock("mocks3://big-bucket/")
    assert(df.count() == 2500 + 19 * 5)
    // shard00's 2500 keys / 1000-key pages => its recursive listing alone
    // serves >=3 pages (the other 19 shards add one page each — never fewer).
    assert(MockS3Store.pagesServed.get() >= 3,
      s"expected >=3 pages for the 2500-key shard, saw ${MockS3Store.pagesServed.get()}")
  }

  test("client config (S7 channel) reaches every FS instantiation") {
    MockS3Store.seenEndpoints.clear()
    val conf = mockConf + ("fs.s3a.endpoint" -> "http://localhost:9000")
    val n = listMock("mocks3://small-bucket/logs", conf).count()
    assert(n == 3)
    val seen = MockS3Store.seenEndpoints.toArray.toSet
    assert(seen == Set("http://localhost:9000"),
      s"endpoint conf must reach driver AND executor FS construction, saw $seen")
  }

  test("session hadoopConfiguration reaches executor listing tasks " +
      "(review r18: credentials set the standard Spark way used to be " +
      "dropped by the executor-side conf rebuild)") {
    // set client config on the SESSION conf only — no option for it —
    // the way a real cluster passes --conf spark.hadoop.fs.s3a.*
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.endpoint", "http://session-only:9000")
    MockS3Store.seenEndpoints.clear()
    try {
      val n = listMock("mocks3://small-bucket/logs").count()
      assert(n == 3)
      val seen = MockS3Store.seenEndpoints.toArray.toSet
      assert(seen == Set("http://session-only:9000"),
        "session-level hadoop conf must reach executor FS construction, " +
          s"saw $seen")
    } finally hc.unset("fs.s3a.endpoint")
  }

  test("session hadoopConfiguration reaches the graft-files V2 " +
      "partition readers (review r19: the r18 session-conf fix never " +
      "reached the V2 executor rebuild — env + hadoop.* options only)") {
    val hc = spark.sparkContext.hadoopConfiguration
    // the scheme mapping AND a client-config marker ride the SESSION
    // conf only — no hadoop.* reader options at all
    hc.set("fs.mocks3.impl", classOf[MockS3FileSystem].getName)
    hc.set("fs.s3a.endpoint", "http://v2-session-only:9000")
    MockS3Store.seenEndpoints.clear()
    try {
      val n = spark.read.format("graft-files")
        .option("path", "mocks3://small-bucket/logs").load().count()
      assert(n == 3)
      val seen = MockS3Store.seenEndpoints.toArray.toSet
      assert(seen == Set("http://v2-session-only:9000"),
        "session-level hadoop conf must reach the V2 partition " +
          s"readers' FS construction, saw $seen")
    } finally {
      hc.unset("fs.mocks3.impl")
      hc.unset("fs.s3a.endpoint")
    }
  }

  test("a cached FileSystem with WRONG credentials cannot poison a " +
      "correctly-conf'd listing (VERDICT r18 missing#4: the JVM FS " +
      "cache keys on (scheme, authority, ugi), never conf)") {
    // per-request auth ON: every mocks3 call checks the credential the
    // INSTANCE was constructed with
    MockS3Store.requiredSecret.set("s3cr3t")
    // deliberately NO disable.cache anywhere in this scenario — the fix
    // under test (FileSystem.newInstance in the listing paths) must not
    // depend on it
    val badConf = new org.apache.hadoop.conf.Configuration()
    badConf.set("fs.mocks3.impl", classOf[MockS3FileSystem].getName)
    badConf.set("fs.mocks3.secret", "wrong")
    val uri = new java.net.URI("mocks3://small-bucket/")
    // poison the JVM-wide cache: exactly what a long-lived executor
    // holds after an earlier job that used different credentials
    val cached = org.apache.hadoop.fs.FileSystem.get(uri, badConf)
    try {
      // the poisoned instance really is cached and really does 403
      assert(org.apache.hadoop.fs.FileSystem.get(uri, badConf) eq cached)
      intercept[org.apache.hadoop.security.AccessControlException] {
        cached.listFiles(
          new org.apache.hadoop.fs.Path("mocks3://small-bucket/"), true)
      }
      val goodConf = Map(
        "fs.mocks3.impl" -> classOf[MockS3FileSystem].getName,
        "fs.mocks3.secret" -> "s3cr3t")
      // the graft-files listing (planning + partition readers; fs conf
      // rides the source's `hadoop.*` option channel)
      val n = listMock("mocks3://small-bucket/", goodConf).count()
      assert(n == 5, s"graft-files through the poisoned cache: $n rows")
    } finally {
      MockS3Store.requiredSecret.set(null)
      try cached.close() catch { case _: java.io.IOException => () }
    }
  }
}
