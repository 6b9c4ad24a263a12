package graft

import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.S3Wire
import graft.sources.S3Wire.{S3Conf, S3Object}

/** The driverless S3 REST lister, tested two ways:
  *
  *  1. the SigV4 implementation is anchored to the AWS documentation's
  *     PUBLISHED worked example (the 20150830 iam ListUsers request:
  *     known canonical-request hash, known final signature) — the
  *     algorithm is checked against AWS's own numbers, not against
  *     itself;
  *  2. ListObjectsV2 runs LIVE over real HTTP against an in-JVM
  *     endpoint that verifies every request's signature server-side
  *     and implements the public pagination/prefix/delimiter
  *     semantics — continuation tokens, truncated root pages,
  *     common-prefix sharding, and the 403 path all execute on the
  *     wire.
  */
class S3WireSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // --- 1. SigV4 vs the AWS documentation's worked example ----------------

  test("SigV4 reproduces the AWS documentation's published example " +
      "signature") {
    // https://docs.aws.amazon.com/IAM/latest/UserGuide/create-signed-request.html
    // GET https://iam.amazonaws.com/?Action=ListUsers&Version=2010-05-08
    val emptySha =
      "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855"
    val headers = Seq(
      "content-type" -> "application/x-www-form-urlencoded; charset=utf-8",
      "host" -> "iam.amazonaws.com",
      "x-amz-date" -> "20150830T123600Z")
    val canon = S3Wire.canonicalRequest("GET", "/",
      Seq("Action" -> "ListUsers", "Version" -> "2010-05-08"),
      headers, emptySha)
    assert(java.security.MessageDigest.getInstance("SHA-256")
      .digest(canon.getBytes(UTF_8)).map("%02x".format(_)).mkString ==
      "f536975d06c0309214f805bb90ccff089219ecd68b2577efef23edd43b7e1a59",
      s"canonical request drifted from the published example:\n$canon")
    val sig = S3Wire.signature(
      "wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY",
      "20150830T123600Z", "us-east-1", "iam", canon)
    assert(sig ==
      "5d672d79c15b13162d9279b0855cfba6789a8edb4c82c400e06b5924a6f2b5d7")
  }

  test("key split matches the reference's path/filename semantics " +
      "incl. the root-key case it panics on") {
    assert(S3Wire.splitKey("a/b/c.txt") == ("/a/b", "c.txt"))
    assert(S3Wire.splitKey("top.json") == ("", "top.json")) // s3.rs:107-108
    assert(S3Wire.splitKey("d/") == ("/d", ""))
  }

  test("resolveConf path-style resolution: non-AWS endpoints default to " +
      "path-style, explicit settings always win (review r14)") {
    // no env interference expected: the harness sets no AWS_* vars
    assume(!sys.env.contains("AWS_S3_FORCE_PATH_STYLE") &&
      !sys.env.contains("AWS_ENDPOINT_URL"))
    // a custom endpoint from OPTIONS defaults to path-style
    assert(S3Wire.resolveConf(Map(
      "endpoint" -> "http://127.0.0.1:9000")).pathStyle)
    // …but an explicit pathstyle=false option wins (vhost-only gateway)
    assert(!S3Wire.resolveConf(Map(
      "endpoint" -> "https://s3.mycorp.example",
      "pathstyle" -> "false")).pathStyle)
    // real AWS endpoints keep virtual-host addressing by default —
    // sovereign partitions included (ADVICE r14: .amazonaws.com.cn)
    assert(!S3Wire.resolveConf(Map.empty).pathStyle)
    assert(!S3Wire.resolveConf(Map(
      "endpoint" -> "https://s3.cn-north-1.amazonaws.com.cn")).pathStyle)
    assert(S3Wire.resolveConf(Map("pathstyle" -> "1")).pathStyle)
  }

  test("env contract matches the reference's client config (s3.rs:24-49)") {
    val c = S3Wire.confFromEnv(Map(
      "AWS_ENDPOINT_URL" -> "http://127.0.0.1:9000",
      "AWS_REGION" -> "eu-west-1",
      "AWS_ACCESS_KEY_ID" -> "ak",
      "AWS_SECRET_ACCESS_KEY" -> "sk",
      "AWS_S3_FORCE_PATH_STYLE" -> "1"))
    assert(c == S3Conf("http://127.0.0.1:9000", "eu-west-1", "ak", "sk",
      pathStyle = true))
    val d = S3Wire.confFromEnv(Map("AWS_REGION" -> "us-west-2"))
    assert(d.endpoint == "https://s3.us-west-2.amazonaws.com")
    assert(!d.pathStyle)
  }

  // --- 2. live HTTP endpoint ----------------------------------------------

  private val accessKey = "GRAFTACCESSKEY"
  private val secretKey = "graft/secret+key"
  private val bucket = "test-bucket"

  /** Keys of the fixture bucket, with a root-level object and three
    * top-level prefixes of uneven size. */
  private val fixture: Seq[S3Object] = (Seq(
    S3Object("root.txt", 1700000000000L, 5L)) ++
    (0 until 7).map(i => S3Object(s"logs/2024/f$i.json",
      1700000001000L + i, 100L + i)) ++
    (0 until 4).map(i => S3Object(s"data/part-$i.parquet",
      1700000002000L + i, 1000L + i)) ++
    Seq(S3Object("docs/readme.md", 1700000003000L, 7L)))
    .sortBy(_.key)

  /** Minimal ListObjectsV2 endpoint: signature-verifying, paginating,
    * delimiter-aware, serving `fixture` in key order. The continuation
    * token is opaque to the client (here: the last emitted key). */
  private def withServer[A](f: S3Conf => A): A = {
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val port = server.getAddress.getPort
    server.createContext("/", (ex: HttpExchange) => {
      try handle(ex, port) finally ex.close()
    })
    server.start()
    served = fixture
    failNext.set(0)
    failWhere = _ => true
    forbidProbe = None
    try f(S3Conf(s"http://127.0.0.1:$port", "us-east-1", accessKey,
      secretKey, pathStyle = true))
    finally server.stop(0)
  }

  /** Body served for GetObject: deterministic bytes per key. */
  private def objectBody(key: String): Array[Byte] =
    (s"content-of:$key:" + "x" * 64).getBytes(UTF_8)

  /** The key set the server currently serves — mutable so the rescan
    * daemon test can delete a key between scans. Reset per test. */
  @volatile private var served: Seq[S3Object] = fixture

  /** Failure injection: the next N requests answer 503 SlowDown (the
    * documented S3 throttle) before normal service resumes. */
  private val failNext = new java.util.concurrent.atomic.AtomicInteger(0)
  /** The list prefixes `failNext` applies to (all by default). */
  @volatile private var failWhere: String => Boolean = _ => true
  /** A prefix whose no-delimiter listing (a planner probe) answers 403. */
  @volatile private var forbidProbe: Option[String] = None
  private val requestCount = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Every `prefix=` the server was asked to list — the observable the
    * prefix-pushdown test pins (the pruning must happen SERVER-side). */
  private val seenListPrefixes =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private def handle(ex: HttpExchange, port: Int): Unit = {
    requestCount.incrementAndGet()
    val rawQuery = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    val params = rawQuery.split("&").filter(_.nonEmpty).map { kv =>
      val Array(k, v) = kv.split("=", 2).padTo(2, "")
      java.net.URLDecoder.decode(k, "UTF-8") ->
        java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap
    if (failWhere(params.getOrElse("prefix", "")) &&
        failNext.getAndUpdate(n => math.max(0, n - 1)) > 0) {
      val body = "<Error><Code>SlowDown</Code></Error>".getBytes(UTF_8)
      ex.sendResponseHeaders(503, body.length)
      ex.getResponseBody.write(body)
      return
    }
    if (forbidProbe.exists(params.get("prefix").contains) &&
        !params.contains("delimiter")) {
      val body = "<Error><Code>AccessDenied</Code></Error>".getBytes(UTF_8)
      ex.sendResponseHeaders(403, body.length)
      ex.getResponseBody.write(body)
      return
    }
    // verify the signature server-side from the RECEIVED request parts
    val amzDate = ex.getRequestHeaders.getFirst("x-amz-date")
    val payloadSha = ex.getRequestHeaders.getFirst("x-amz-content-sha256")
    val host = ex.getRequestHeaders.getFirst("Host")
    val rangeHdr = Option(ex.getRequestHeaders.getFirst("Range"))
    // STS session tokens are SIGNED headers — include when sent, so a
    // token-bearing client only passes if it signed consistently
    val tokenHdr =
      Option(ex.getRequestHeaders.getFirst("x-amz-security-token"))
    val expectedAuth = S3Wire.authorizationHeader(accessKey, secretKey,
      amzDate, "us-east-1", "s3", ex.getRequestMethod,
      ex.getRequestURI.getPath, params.toSeq,
      Seq("host" -> host, "x-amz-date" -> amzDate,
        "x-amz-content-sha256" -> payloadSha) ++
        tokenHdr.map("x-amz-security-token" -> _) ++
        rangeHdr.map("range" -> _), payloadSha)
    val gotAuth = ex.getRequestHeaders.getFirst("Authorization")
    if (gotAuth != expectedAuth) {
      val body = "<Error><Code>SignatureDoesNotMatch</Code></Error>"
        .getBytes(UTF_8)
      ex.sendResponseHeaders(403, body.length)
      ex.getResponseBody.write(body)
      return
    }
    // a gateway may mount S3 under a path (review r18): the endpoint
    // accepts an optional '/s3proxy' base so the base-path test can
    // prove signing and routing both honor it
    val reqPath = ex.getRequestURI.getPath.stripPrefix("/s3proxy")
    // GetObject: /bucket/key (no list-type param)
    if (!params.get("list-type").contains("2")) {
      val key = reqPath.stripPrefix(s"/$bucket/")
      if (!served.exists(_.key == key)) {
        ex.sendResponseHeaders(404, -1); return
      }
      val full = objectBody(key)
      val (code, body) = rangeHdr match {
        case Some(r) =>
          val Array(a, b) = r.stripPrefix("bytes=").split("-").map(_.toLong)
          (206, full.slice(a.toInt, b.toInt + 1))
        case None => (200, full)
      }
      ex.sendResponseHeaders(code, body.length)
      ex.getResponseBody.write(body)
      return
    }
    require(reqPath == s"/$bucket", "path-style bucket")
    val prefix = params.getOrElse("prefix", "")
    seenListPrefixes.add(prefix)
    val delim = params.get("delimiter")
    val maxKeys = params.get("max-keys").map(_.toInt).getOrElse(1000)
    // start-after behaves exactly like an initial continuation token in
    // this model (real S3: StartAfter starts listing after that key;
    // ContinuationToken takes precedence when both are present)
    val after = params.get("continuation-token")
      .orElse(params.get("start-after"))
    // Real-S3 pagination model: Contents AND CommonPrefixes together
    // count toward max-keys, in lexicographic key order, so PREFIXES
    // SPREAD ACROSS TRUNCATED PAGES — the shape that masked the r13
    // listDF common-prefix-drop finding when the old stub returned all
    // prefixes on every page. Entries: Left(object) | Right((prefix,
    // last covered key)); the token is the last covered key, opaque to
    // the client.
    val inPrefix = served.filter(_.key.startsWith(prefix))
    val entries: Seq[Either[S3Object, (String, String)]] = delim match {
      case None => inPrefix.map(Left(_))
      case Some(d) =>
        val out = scala.collection.mutable
          .ArrayBuffer.empty[Either[S3Object, (String, String)]]
        var i = 0
        while (i < inPrefix.size) {
          val o = inPrefix(i)
          val rest = o.key.drop(prefix.length)
          if (rest.contains(d)) {
            val g = prefix + rest.takeWhile(_ != d.head) + d
            val covered = inPrefix.drop(i).takeWhile(_.key.startsWith(g))
            out += Right((g, covered.last.key))
            i += covered.size
          } else { out += Left(o); i += 1 }
        }
        out.toSeq
    }
    val remaining = entries.filter {
      case Left(o) => after.forall(o.key > _)
      case Right((_, lastKey)) => after.forall(lastKey > _)
    }
    val pageEntries = remaining.take(maxKeys)
    val truncated = remaining.size > maxKeys
    val page = pageEntries.collect { case Left(o) => o }
    val grouped = pageEntries.collect { case Right((g, _)) => g }
    val lastCovered = pageEntries.lastOption.map {
      case Left(o) => o.key
      case Right((_, lk)) => lk
    }
    // real S3 XML-escapes key text (keys may carry &, <, quotes)
    def xesc(s: String): String = s.flatMap {
      case '&' => "&amp;"; case '<' => "&lt;"; case '>' => "&gt;"
      case c => c.toString
    }
    val next =
      if (truncated) s"<NextContinuationToken>${xesc(lastCovered.get)}" +
        "</NextContinuationToken><IsTruncated>true</IsTruncated>"
      else "<IsTruncated>false</IsTruncated>"
    val xml =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<ListBucketResult xmlns="http://s3.amazonaws.com/doc/2006-03-01/">
         |<Name>$bucket</Name><Prefix>${xesc(prefix)}</Prefix>$next
         |${page.map(o =>
          s"<Contents><Key>${xesc(o.key)}</Key><LastModified>" +
            java.time.Instant.ofEpochMilli(o.modifiedMs).toString +
            s"</LastModified><Size>${o.size}</Size></Contents>")
          .mkString("\n")}
         |${grouped.map(p =>
          s"<CommonPrefixes><Prefix>${xesc(p)}</Prefix></CommonPrefixes>")
          .mkString("\n")}
         |</ListBucketResult>""".stripMargin.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/xml")
    ex.sendResponseHeaders(200, xml.length)
    ex.getResponseBody.write(xml)
  }

  test("live HTTP: paginated listAll returns every key in order " +
      "(3-key pages, the reference's cursor loop)") {
    withServer { conf =>
      val got = S3Wire.listAll(conf, bucket, "", maxKeys = 3).toSeq
      assert(got == fixture, s"got $got")
      assert(got.size == 13 && got.size > 3 * 2,
        "multiple continuation pages were actually taken")
      // prefix pushdown evaluates remotely
      val logs = S3Wire.listAll(conf, bucket, "logs/", maxKeys = 3).toSeq
      assert(logs.size == 7 && logs.forall(_.key.startsWith("logs/")))
    }
  }

  test("live HTTP: delimiter page yields common prefixes + root objects") {
    withServer { conf =>
      val page = S3Wire.listPage(conf, bucket, "", None, Some("/"))
      assert(page.commonPrefixes.toSet == Set("logs/", "data/", "docs/"))
      assert(page.objects.map(_.key) == Seq("root.txt"))
    }
  }

  test("live HTTP: the delimiter drain collects common prefixes spread " +
      "across truncated pages (the r13 listDF data-loss finding)") {
    withServer { conf =>
      // maxKeys=2 at root: page 1 = [data/, docs/], page 2 = [logs/,
      // root.txt] — a first-page-only read loses logs/ entirely and its
      // 7 files would read as deletions downstream
      val first = S3Wire.listPage(conf, bucket, "", None, Some("/"), 2)
      val Some((objs, prefixes)) =
        S3Wire.drainBounded(conf, bucket, "", 2, 32, first)
      assert(prefixes.toSet == Set("data/", "docs/", "logs/"),
        s"prefixes from later pages must survive: $prefixes")
      assert(objs.map(_.key) == Seq("root.txt"))
      val df = S3Wire.listDF(spark, conf, bucket, "", maxKeys = 2)
      assert(df.count() == 13, "no namespace lost at any page size")
      // past the page cap the drain REFUSES rather than truncating
      assert(S3Wire.drainBounded(conf, bucket, "", 2, 1, first).isEmpty,
        "an over-cap level returns None, never a silent partial drain")
      // past the OBJECT cap it refuses too (ADVICE r18: the root's
      // larger page budget let up to rootPlanPages×maxKeys direct
      // objects onto the driver — drained objects are now charged
      // against the pre-list capacity, checked between pages)
      assert(S3Wire.drainBounded(conf, bucket, "logs/2024/", 2, 32,
        S3Wire.listPage(conf, bucket, "logs/2024/", None, Some("/"), 2),
        maxObjs = 3L).isEmpty,
        "an over-object-cap drain returns None")
      assert(S3Wire.drainBounded(conf, bucket, "logs/2024/", 2, 32,
        S3Wire.listPage(conf, bucket, "logs/2024/", None, Some("/"), 2),
        maxObjs = 100L).exists(_._1.size == 7),
        "a within-cap drain still completes")
    }
  }

  test("live HTTP: a wrong secret is rejected by the endpoint (403) " +
      "WITHOUT retries") {
    withServer { conf =>
      val bad = conf.copy(secretKey = "wrong")
      val before = requestCount.get()
      val e = intercept[java.io.IOException] {
        S3Wire.listPage(bad, bucket, "", None, None)
      }
      assert(e.getMessage.contains("403"), e.getMessage)
      assert(requestCount.get() - before == 1,
        "client errors must not retry — they only repeat")
    }
  }

  test("live HTTP: 503 SlowDown retries with backoff and recovers " +
      "(the documented S3 throttle at fleet scale)") {
    withServer { conf =>
      failNext.set(2)
      val before = requestCount.get()
      val page = S3Wire.listPage(conf, bucket, "logs/", None, None)
      assert(page.objects.size == 7, "listing succeeded after throttling")
      assert(requestCount.get() - before == 3, "two 503s then success")
      // sustained throttling exhausts the bounded retries and FAILS LOUD
      failNext.set(99)
      val e = intercept[java.io.IOException] {
        S3Wire.listPage(conf, bucket, "logs/", None, None)
      }
      assert(e.getMessage.contains("503"), e.getMessage)
      failNext.set(0)
    }
  }

  test("live HTTP: keys with spaces/unicode/URL-metachars survive " +
      "signing, listing XML, and object fetch") {
    withServer { conf =>
      // '&' exercises the endpoint's XML escaping (real S3 escapes key
      // text); '?'/'='/'+' exercise the client's path encoding — an
      // unencoded '?' would truncate the signed path into a query
      served = Seq(
        S3Object("dir with space/f1 (v2)+x.txt", 1700000000000L, 3L),
        S3Object("uni/é漢🙂 a=b&c?.bin", 1700000001000L, 4L))
      val got = S3Wire.listAll(conf, bucket, "", 10).toSeq
      assert(got == served.sortBy(_.key), s"got $got")
      got.foreach { o =>
        val body = new String(S3Wire.getObject(conf, bucket, o.key), UTF_8)
        assert(body.startsWith(s"content-of:${o.key}:"), body)
      }
      val page = S3Wire.listPage(conf, bucket, "", None, Some("/"))
      assert(page.commonPrefixes.toSet == Set("dir with space/", "uni/"))
    }
  }

  test("live HTTP: GetObject fetches bodies (full + ranged) and " +
      "fetchObjects feeds a distributed binary column") {
    withServer { conf =>
      val full = S3Wire.getObject(conf, bucket, "docs/readme.md")
      assert(new String(full, UTF_8).startsWith("content-of:docs/readme.md:"))
      // bounded partial read — the 100 TB frame-fetch shape
      val part = S3Wire.getObject(conf, bucket, "root.txt",
        range = Some((11L, 18L)))
      assert(new String(part, UTF_8) == "root.txt")
      intercept[java.io.IOException](
        S3Wire.getObject(conf, bucket, "absent.bin"))
      // executor-side fetch: listing → key frame → binary column
      import spark.implicits._
      val keys = fixture.map(_.key).toDF("key").repartition(3)
      val fetched = S3Wire.fetchObjects(spark, conf, bucket, keys).collect()
      assert(fetched.length == 13)
      assert(fetched.forall { r =>
        new String(r.getAs[Array[Byte]]("content"), UTF_8) ==
          new String(objectBody(r.getString(0)), UTF_8)
      })
    }
  }

  test("graft-s3 V2 table: batch read over live HTTP equals the direct " +
      "listing") {
    withServer { conf =>
      val df = spark.read.format("graft-s3")
        .option("url", s"s3://$bucket")
        .option("endpoint", conf.endpoint)
        .option("accessKey", accessKey).option("secretKey", secretKey)
        .option("maxKeys", "3")
        .load()
      val rows = df.collect()
      assert(rows.length == 13)
      val keys = rows.map(r => (r.getString(1), r.getString(2))).toSet
      assert(keys == fixture.map(o => S3Wire.splitKey(o.key)).toSet)
      assert(rows.forall(_.isNullAt(4)), "created NULL on s3")
      // at maxKeys=3 the planner pre-lists root.txt + docs/ (one-page
      // subtrees) into one row partition, range-splits flat data/ and
      // re-delimits hot logs/ down to the (flat) logs/2024/ level —
      // the table's partitioning mirrors the planner's plan exactly
      val plan = S3Wire.planShards(conf, bucket, "", maxKeys = 3,
        maxDepth = 2)
      assert(df.rdd.getNumPartitions == plan.leaves.size + 1,
        s"pre-listed chunk + the plan's range-split leaves: " +
          s"${df.rdd.getNumPartitions} vs ${plan.leaves.size} + 1")
      assert(plan.leaves.size >= 32,
        "two flat prefixes each split at least hex-floor wide")
    }
  }

  test("recursive re-sharding: a namespace dominated by ONE hot prefix " +
      "fans out across >1 executor cursor and lists equal (r13 #4)") {
    withServer { conf =>
      served = (Seq(S3Object("root.txt", 1700000000000L, 5L),
        S3Object("hot/c.txt", 1700000000500L, 6L)) ++
        (0 until 40).map(i => S3Object(f"hot/a/k$i%02d.bin",
          1700000001000L + i, 10L + i)) ++
        (0 until 40).map(i => S3Object(f"hot/b/k$i%02d.bin",
          1700000002000L + i, 50L + i))).sortBy(_.key)
      val plan = S3Wire.planShards(conf, bucket, "", maxKeys = 5,
        maxDepth = 2)
      assert(plan.leaves.map(_.prefix).toSet == Set("hot/a/", "hot/b/"),
        s"the hot prefix re-delimited into its children: $plan")
      assert(plan.preListed.map(_.key).toSet == Set("root.txt", "hot/c.txt"),
        "direct objects of the expanded level + root objects pre-listed")
      val df = S3Wire.listDF(spark, conf, bucket, "", maxKeys = 5)
      assert(df.rdd.getNumPartitions > 1,
        ">1 partition does the listing work despite total skew")
      val got = df.collect().map(r => (r.getString(1), r.getString(2))).toSet
      assert(got == served.map(o => S3Wire.splitKey(o.key)).toSet,
        "listing equality holds under re-sharding")
      // depth 0 reproduces the r13 single-level plan exactly
      val flatPlan = S3Wire.planShards(conf, bucket, "", maxKeys = 5,
        maxDepth = 0)
      assert(flatPlan.leaves == Seq(S3Wire.LeafShard("hot/")) &&
        flatPlan.preListed.map(_.key) == Seq("root.txt"))
      // a FLAT hot prefix (no children to re-delimit) RANGE-SPLITS on
      // start-after boundaries (hex floor + probe quantiles +
      // observed-alphabet successors); hash-spread keys land across
      // many complementary cursors, and equality still holds exactly
      served = ((0 until 40).map(i => S3Object(f"deep/${i * 6}%02x.bin",
        1700000003000L + i, 3L)) ++ Seq(S3Object("one/x.txt",
        1700000004000L, 1L))).sortBy(_.key)
      val p2 = S3Wire.planShards(conf, bucket, "", maxKeys = 5, maxDepth = 2)
      assert(p2.preListed.map(_.key) == Seq("one/x.txt"))
      assert(p2.leaves.map(_.prefix).distinct == Seq("deep/") &&
        p2.leaves.size >= 16,
        s"flat prefix split into complementary ranges (at least the r14 " +
          s"hex-floor 16): ${p2.leaves}")
      val flatDf = S3Wire.listDF(spark, conf, bucket, "", maxKeys = 5)
      val counts = flatDf.rdd
        .mapPartitions(it => Iterator.single(it.size)).collect()
      assert(counts.sum == 41, "range shards lose and duplicate nothing")
      assert(counts.count(_ > 0) >= 10,
        s"hash-spread keys actually spread across range cursors: " +
          counts.mkString(","))
      // a range split at zero fan-out degrades to the one honest cursor
      assert(S3Wire.planShards(conf, bucket, "", maxKeys = 5, maxDepth = 2,
        flatFanout = 0).leaves == Seq(S3Wire.LeafShard("deep/")))
    }
  }

  test("alphabet-agnostic flat range-split (r14 #3): a flat hot prefix " +
      "whose keys share a NON-HEX alphabet (img_00001…) still fans out " +
      "across range cursors, losing and duplicating nothing") {
    withServer { conf =>
      // 200 sequential keys img_000…img_199 under one flat prefix: every
      // fixed-hex boundary ('1'…'f') sorts BELOW 'i', so the r14 scheme
      // collapsed this onto ONE working cursor; the probe page's keys
      // (img_000…img_009 at maxKeys=10) expose the real alphabet
      served = ((0 until 200).map(i => S3Object(f"flat/img_$i%03d",
        1700000005000L + i, 2L)) ++ Seq(S3Object("tiny/y.txt",
        1700000006000L, 1L))).sortBy(_.key)
      val plan = S3Wire.planShards(conf, bucket, "", maxKeys = 10,
        maxDepth = 2)
      assert(plan.preListed.map(_.key) == Seq("tiny/y.txt"))
      assert(plan.leaves.map(_.prefix).distinct == Seq("flat/"))
      val bounds = plan.leaves.flatMap(_.stopAt)
      assert(bounds.forall(_.forall(_ < 0x80)), "boundaries stay ASCII " +
        "(the UTF-8 vs UTF-16 ordering guarantee)")
      // adjacent shards share their boundary: no gap, no overlap
      assert(plan.leaves.map(_.startAfter) ==
        (None +: plan.leaves.map(_.stopAt).init),
        "ranges chain exactly")
      // ≥ fanout/2 cursors do REAL work (the verdict's bar): count keys
      // per leaf through the actual executor cursor path
      val perLeaf = plan.leaves.map(s =>
        S3Wire.listShard(conf, bucket, s, maxKeys = 10).size)
      val fanout = 15 // the default
      assert(perLeaf.sum == 200, s"lose nothing, duplicate nothing: " +
        s"${perLeaf.sum} keys across ${perLeaf.size} cursors")
      assert(perLeaf.count(_ > 0) >= fanout / 2,
        s"non-hex keys spread across cursors: " +
          s"${perLeaf.count(_ > 0)} working of ${perLeaf.size} " +
          s"(${perLeaf.mkString(",")})")
      // end-to-end equality through the distributed frame
      val df = S3Wire.listDF(spark, conf, bucket, "", maxKeys = 10)
      val got = df.collect().map(r => (r.getString(1), r.getString(2))).toSet
      assert(got == served.map(o => S3Wire.splitKey(o.key)).toSet)
      // …and the hash-prefixed layout keeps its hex-floor split intact:
      // uniform two-hex-char keys hit ≥ 12 distinct working cursors
      served = (0 until 256).map(i => S3Object(f"hash/$i%02x",
        1700000007000L + i, 2L)).sortBy(_.key)
      val hp = S3Wire.planShards(conf, bucket, "", maxKeys = 10,
        maxDepth = 2)
      val hashWork = hp.leaves.map(s =>
        S3Wire.listShard(conf, bucket, s, maxKeys = 10).size)
      assert(hashWork.sum == 256)
      assert(hashWork.count(_ > 0) >= 12,
        s"hex-floor intact for hash layouts: ${hashWork.mkString(",")}")
      // NON-ASCII flat keys: observed-key boundaries truncate at the
      // first non-ASCII unit (the UTF-8 vs UTF-16 ordering guarantee
      // only holds when the boundary side is ASCII) — here that leaves
      // only the hex floor, which degrades gracefully: boundaries all
      // sort below 'é', one working cursor, NOTHING lost or duplicated
      served = (0 until 60).map(i => S3Object(f"uni/é$i%02d",
        1700000008000L + i, 2L)).sortBy(_.key)
      val up = S3Wire.planShards(conf, bucket, "", maxKeys = 10,
        maxDepth = 2)
      assert(up.leaves.flatMap(_.stopAt).forall(_.forall(_ < 0x80)))
      val uniWork = up.leaves.map(s =>
        S3Wire.listShard(conf, bucket, s, maxKeys = 10).size)
      assert(uniWork.sum == 60,
        s"non-ASCII keys survive the split exactly: ${uniWork.mkString(",")}")
    }
  }

  test("a FLAT bucket (keys with no '/') never drains onto the driver " +
      "(review r18): one probe + one delimiter page decide, the range " +
      "shards do the listing, and equality holds") {
    withServer { conf =>
      served = (0 until 300).map(i =>
        S3Object(f"${(i * 37) % 4096}%03x.bin", 1700000009000L + i, 2L))
        .distinctBy(_.key).sortBy(_.key)
      val n = served.size
      requestCount.set(0)
      val plan = S3Wire.planShards(conf, bucket, "", maxKeys = 10,
        maxDepth = 2)
      assert(plan.preListed.isEmpty,
        "a flat root pre-lists NOTHING onto the driver")
      assert(plan.leaves.nonEmpty && plan.leaves.forall(_.prefix == ""),
        s"root-level range shards: ${plan.leaves}")
      assert(requestCount.get() <= 3,
        s"probe + one delimiter page, not a full drain " +
          s"(the pre-fix planner paged the whole namespace): " +
          s"${requestCount.get()} requests")
      val df = S3Wire.listDF(spark, conf, bucket, "", maxKeys = 10)
      val got = df.collect().map(r => (r.getString(1), r.getString(2))).toSet
      assert(got.size == n &&
        got == served.map(o => S3Wire.splitKey(o.key)).toSet,
        "range shards lose and duplicate nothing on a flat bucket")
    }
  }

  // --- concurrent child probes -------------------------------------------

  /** Ten one-page children under the hierarchical `logs/` prefix, plus a
    * root object: at maxKeys = 20 the root and `logs/` truncate and
    * re-delimit, and every `logs/dNN/` probe completes in one page. */
  private val tenChildren: Seq[S3Object] = (Seq(
    S3Object("root.txt", 1700000000000L, 5L)) ++
    (for (d <- 0 until 10; k <- 0 until 3) yield
      S3Object(f"logs/d$d%02d/f$k.json", 1700000001000L + d * 10 + k, 10L + k)))
    .sortBy(_.key)

  private def planThreads(): Int = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.count(_.getName == "graft-s3-plan")
  }

  test("concurrent child probes: ten one-page children plan exactly as " +
      "the sequential planner, with its request count") {
    withServer { conf =>
      served = tenChildren
      requestCount.set(0)
      val plan = S3Wire.planShards(conf, bucket, "", maxKeys = 20)
      // the root's direct object is pre-listed before its children are
      // expanded; the children then follow in child order
      assert(plan.leaves.isEmpty, s"every subtree fits a probe: $plan")
      assert(plan.preListed.map(_.key) ==
        "root.txt" +: tenChildren.map(_.key).filter(_.startsWith("logs/")))
      assert(plan.preListed.toSet == tenChildren.toSet, "metadata kept")
      // sequential count: root probe + root delimiter page, logs/ probe
      // + logs/ delimiter page, one probe per child
      assert(requestCount.get() == 2 + 2 + 10, s"${requestCount.get()}")
      assert(planThreads() == 0, "a probe thread outlived the plan")
    }
  }

  test("concurrent child probes: 503s on the probes retry and the plan " +
      "is unchanged") {
    withServer { conf =>
      served = tenChildren
      val expected = S3Wire.planShards(conf, bucket, "", maxKeys = 20)
      failWhere = _.startsWith("logs/d")
      failNext.set(3)
      requestCount.set(0)
      val plan = S3Wire.planShards(conf, bucket, "", maxKeys = 20)
      assert(failNext.get() == 0, "the 503s hit the child probes")
      assert(plan == expected)
      assert(requestCount.get() == 14 + 3, "three throttled probes retried")
      assert(planThreads() == 0)
    }
  }

  test("concurrent child probes: a 403 on one probe fails the plan with " +
      "that probe's own exception, cancels the rest and leaves no thread") {
    withServer { conf =>
      served = tenChildren
      forbidProbe = Some("logs/d05/")
      // a sibling stuck in retry backoff (~3 s of 503s) is cancelled, not
      // waited for
      failWhere = _ == "logs/d09/"
      failNext.set(4)
      val t0 = System.nanoTime()
      val e = intercept[S3Wire.S3HttpException] {
        S3Wire.planShards(conf, bucket, "", maxKeys = 20)
      }
      val waitedS = (System.nanoTime() - t0) / 1e9
      assert(e.code == 403, e.getMessage)
      assert(e.getMessage.contains("logs/d05/"), e.getMessage)
      assert(planThreads() == 0, "a probe thread outlived the failed plan")
      assert(waitedS < 2.0, f"the backing-off probe was waited for: $waitedS%.2fs")
    }
  }

  test("concurrent child probes: a small shardBudget is spent level by " +
      "level and keeps the request bound") {
    withServer { conf =>
      // three hot children, each with two hot grandchildren (3 keys each
      // against maxKeys = 2): everything truncates and re-delimits
      served = (for (p <- Seq("a", "b", "c"); q <- Seq("x", "y");
          k <- 0 until 3)
        yield S3Object(s"$p/$q/k$k", 1700000001000L + k, 1L)).sortBy(_.key)
      requestCount.set(0)
      val budget = 3
      val plan = S3Wire.planShards(conf, bucket, "", maxKeys = 2,
        shardBudget = budget)
      // the root takes 1, then a/ and b/ are charged TOGETHER before
      // either recurses; c/ and every grandchild become plain cursors
      // (depth-first charging would have probed and range-split a/x/)
      assert(plan.leaves == Seq("a/x/", "a/y/", "b/x/", "b/y/", "c/")
        .map(S3Wire.LeafShard(_)), s"$plan")
      assert(plan.preListed.isEmpty)
      // root probe + 2 root delimiter pages, 2 probes, 2 delimiter pages
      assert(requestCount.get() == 7, s"${requestCount.get()}")
      assert(requestCount.get() <= budget * (2 + 32), "request bound")
      assert(plan.leaves.map(s =>
        S3Wire.listShard(conf, bucket, s, maxKeys = 2).size).sum == 18,
        "the cursors cover every key")
    }
  }

  test("STS session token (review r18): x-amz-security-token travels as " +
      "a SIGNED header — the verifying endpoint accepts a token-bearing " +
      "client end to end") {
    withServer { conf =>
      val withTok = conf.copy(sessionToken = Some("FwoGZXIvYXdzTESTTOKEN"))
      val keys = S3Wire.listAll(withTok, bucket, "").map(_.key).toSeq
      assert(keys == fixture.map(_.key),
        "token-bearing listing verifies and lists equal")
      val body = S3Wire.getObject(withTok, bucket, "root.txt")
      assert(new String(body, UTF_8).startsWith("content-of:root.txt"),
        "token-bearing GetObject verifies")
      // conf resolution carries the token through env/props/options
      assert(S3Wire.confFromEnv(Map("AWS_SESSION_TOKEN" -> "t1"))
        .sessionToken.contains("t1"))
      assert(S3Wire.resolveConf(Map("sessiontoken" -> "t2"))
        .sessionToken.contains("t2"))
    }
  }

  test("endpoint with a base path (review r18): a gateway mounting S3 " +
      "under /s3proxy routes AND signs through the path") {
    withServer { conf =>
      val proxied = conf.copy(endpoint = conf.endpoint + "/s3proxy")
      val keys = S3Wire.listAll(proxied, bucket, "").map(_.key).toSeq
      assert(keys == fixture.map(_.key),
        "listing through the mounted path verifies and lists equal")
      val body = S3Wire.getObject(proxied, bucket, "docs/readme.md")
      assert(new String(body, UTF_8).startsWith("content-of:docs/"),
        "GetObject through the mounted path verifies")
    }
  }

  test("retry classification is TYPED (review r18): key text containing " +
      "'HTTP 200' cannot spoof the status, a hard 403 never retries") {
    var calls = 0
    val ok = S3Wire.withRetry("spoof") {
      calls += 1
      if (calls < 3) throw new S3Wire.S3HttpException(503,
        "ListObjectsV2 b/reports/HTTP 200 summaries/: HTTP 503 SlowDown")
      42
    }
    assert(ok == 42 && calls == 3,
      "a transient 503 retries even with 'HTTP 200' in the key text")
    calls = 0
    intercept[S3Wire.S3HttpException](S3Wire.withRetry("hard") {
      calls += 1
      throw new S3Wire.S3HttpException(403,
        "GetObject b/logs/HTTP 500 report.bin: HTTP 403 AccessDenied")
    })
    assert(calls == 1,
      "a hard 403 fails immediately even with 'HTTP 500' in the key text")
  }

  test("graft-s3 V2 table re-shards the skewed namespace the same way " +
      "(one partition per leaf cursor + pre-listed chunks)") {
    withServer { conf =>
      served = (Seq(S3Object("solo.txt", 1700000000000L, 5L)) ++
        (0 until 30).map(i => S3Object(f"hot/x/k$i%02d.bin",
          1700000001000L + i, 10L)) ++
        (0 until 30).map(i => S3Object(f"hot/y/k$i%02d.bin",
          1700000002000L + i, 20L))).sortBy(_.key)
      val df = spark.read.format("graft-s3")
        .option("url", s"s3://$bucket")
        .option("endpoint", conf.endpoint)
        .option("accessKey", accessKey).option("secretKey", secretKey)
        .option("maxKeys", "5")
        .load()
      // pre-listed chunk + hot/x/ and hot/y/ each range-split: the V2
      // table's partitioning mirrors the planner's plan exactly (same
      // inputs → same leaves), never a re-derived shape
      val plan = S3Wire.planShards(conf, bucket, "", maxKeys = 5,
        maxDepth = 2)
      assert(df.rdd.getNumPartitions == plan.leaves.size + 1,
        s"got ${df.rdd.getNumPartitions} vs plan ${plan.leaves.size} + 1")
      assert(plan.leaves.size >= 32, "each hot child range-split at " +
        s"least hex-floor wide: ${plan.leaves.size}")
      assert(df.count() == 61)
      // maxdepth=0 pins the r13 single-level shape for comparison
      val flat = spark.read.format("graft-s3")
        .option("url", s"s3://$bucket")
        .option("endpoint", conf.endpoint)
        .option("accessKey", accessKey).option("secretKey", secretKey)
        .option("maxKeys", "5").option("maxDepth", "0")
        .load()
      assert(flat.rdd.getNumPartitions == 2, "root chunk + the one hot/ cursor")
      assert(flat.count() == 61)
    }
  }

  test("graft-s3 prefix pushdown: a path StartsWith/equality narrows " +
      "the REST listing SERVER-side (observed prefixes), stays exact " +
      "via the residual filter, and a disjoint prefix lists NOTHING") {
    withServer { conf =>
      import org.apache.spark.sql.functions.col
      def reader = spark.read.format("graft-s3")
        .option("url", s"s3://$bucket")
        .option("endpoint", conf.endpoint)
        .option("accessKey", accessKey).option("secretKey", secretKey)
        .load()
      // StartsWith: only the logs/ subtree is LISTED, not post-filtered
      seenListPrefixes.clear()
      val logs = reader.filter(col("path").startsWith("/logs"))
      val lplan = logs.queryExecution.executedPlan.toString
      assert(lplan.contains("ListPrefix: 'logs'"), lplan)
      assert(logs.count() == 7)
      import scala.jdk.CollectionConverters._
      assert(seenListPrefixes.asScala.nonEmpty &&
        seenListPrefixes.asScala.forall(_.startsWith("logs")),
        s"every server-side listing was subtree-scoped: $seenListPrefixes")
      // equality form: prefix narrows to 'docs/'; the residual filter
      // keeps the semantics exact (a deeper dir would list but not match)
      seenListPrefixes.clear()
      val docs = reader.filter(col("path") === "/docs")
      assert(docs.queryExecution.executedPlan.toString
        .contains("ListPrefix: 'docs/'"))
      assert(docs.count() == 1)
      assert(seenListPrefixes.asScala.forall(_.startsWith("docs/")))
      // the residual really is applied: a DEEPER key lists under prefix
      // 'docs/' (superset) but its path '/docs/sub' fails the equality —
      // without the residual the count would read 2
      served = fixture :+ S3Object("docs/sub/deep.txt", 1700000009000L, 3L)
      assert(reader.filter(col("path") === "/docs").count() == 1,
        "the deeper key lists under the refined prefix but the residual " +
          "equality drops it")
      served = fixture
      // a filter subtree DISJOINT from the table's url prefix: empty
      // scan, zero listing requests
      seenListPrefixes.clear()
      val disjoint = spark.read.format("graft-s3")
        .option("url", s"s3://$bucket/logs")
        .option("endpoint", conf.endpoint)
        .option("accessKey", accessKey).option("secretKey", secretKey)
        .load()
        .filter(col("path").startsWith("/data"))
      assert(disjoint.count() == 0)
      assert(seenListPrefixes.asScala.isEmpty,
        s"disjoint prefixes never hit the server: $seenListPrefixes")
      // nested prefixes intersect to the LONGER one
      val nested = reader
        .filter(col("path").startsWith("/logs"))
        .filter(col("path").startsWith("/logs/2024"))
      assert(nested.queryExecution.executedPlan.toString
        .contains("ListPrefix: 'logs/2024'"))
      assert(nested.count() == 7)
    }
  }

  test("graft-s3 streaming: the always-on S3 rescan daemon tombstones a " +
      "deleted object with zero connector jars") {
    graft.streaming.RocksDb.withRocksDb(spark) {
      withServer { conf =>
        import org.apache.spark.sql.functions.{col, current_timestamp}
        // whole bucket, not a one-object prefix: the deletion clock is
        // the stream's watermark, which only advances while rescans
        // still carry rows — the surviving 12 objects keep it moving
        val scans = spark.readStream.format("graft-s3")
          .option("url", s"s3://$bucket")
          .option("endpoint", conf.endpoint)
          .option("accessKey", accessKey).option("secretKey", secretKey)
          .option("identifier", "s3-daemon")
          .load()
          .withColumn("observed", current_timestamp())
        val q = graft.streaming.ScrapeTws.changeStream(spark, scans,
          "s3-daemon")
          .writeStream.format("memory").queryName("s3_daemon_out")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger
            .ProcessingTime(250L))
          .start()
        try {
          def count(action: String): Long = spark.table("s3_daemon_out")
            .filter(col("action") === action).count()
          val deadline = System.currentTimeMillis() + 60000L
          while (count("insert") < 13 &&
            System.currentTimeMillis() < deadline) Thread.sleep(200L)
          assert(count("insert") == 13L, "all bucket objects surfaced")
          // the object vanishes from the bucket between rescans
          served = served.filterNot(_.key == "docs/readme.md")
          while (count("delete") < 1 &&
            System.currentTimeMillis() < deadline) Thread.sleep(200L)
          val dels = spark.table("s3_daemon_out")
            .filter(col("action") === "delete")
            .select("path", "filename").distinct().collect()
            .map(r => (r.getString(0), r.getString(1))).toSet
          assert(dels == Set(("/docs", "readme.md")), s"got $dels")
        } finally q.stop()
      }
    }
  }

  test("the whole reference product with zero external jars: s3:// scan " +
      "over live HTTP published to live PostgreSQL over the wire client") {
    val pgPort = sys.env.get("PGPORT").flatMap(_.toIntOption).getOrElse(54329)
    val pgLive =
      try { new graft.sinks.PgWireClient("127.0.0.1", pgPort, "postgres",
        "postgres").close(); true }
      catch { case _: Throwable => false }
    assume(pgLive, s"no PostgreSQL server at 127.0.0.1:$pgPort")
    withServer { conf =>
      val pg = new graft.sinks.PgWireClient("127.0.0.1", pgPort, "postgres",
        "postgres")
      try {
        pg.exec(s"DROP TABLE IF EXISTS ${graft.sinks.PgMerge.table}")
        pg.exec(
          s"""CREATE TABLE ${graft.sinks.PgMerge.table} (
             |  external_source TEXT, path TEXT, filename TEXT,
             |  mime_type TEXT, created TIMESTAMPTZ, modified TIMESTAMPTZ,
             |  size BIGINT, deleted TIMESTAMPTZ,
             |  CONSTRAINT ${graft.sinks.PgMerge.constraint}
             |    UNIQUE (external_source, path, filename))""".stripMargin)
        val props = Seq("aws.accessKeyId" -> accessKey,
          "aws.secretAccessKey" -> secretKey, "aws.region" -> "us-east-1")
        props.foreach { case (k, v) => sys.props(k) = v }
        try Main.main(Array("--s3-wire", "--s3-endpoint", conf.endpoint,
          "--pg", s"127.0.0.1:$pgPort/postgres", s"s3://$bucket"))
        finally props.foreach { case (k, _) => sys.props.remove(k) }
        def one(sql: String): Option[String] = pg.queryOne(sql)
        assert(one(s"SELECT count(*) FROM ${graft.sinks.PgMerge.table} " +
          s"WHERE external_source = 's3://$bucket'") == Some("13"))
        assert(one(s"SELECT mime_type FROM ${graft.sinks.PgMerge.table} " +
          "WHERE filename = 'readme.md'") == Some("text/markdown"))
        assert(one(s"SELECT count(*) FROM ${graft.sinks.PgMerge.table} " +
          "WHERE path = '' AND filename = 'root.txt' AND created IS NULL")
          == Some("1"), "root key lists with empty path, null created")
        // …and the published state reads BACK through the graft-pg V2
        // table (COPY transport, pushed source filter, pruned columns):
        // the full bidirectional product — S3 REST in, PG wire out, PG
        // wire back in — with zero external jars
        val back = spark.read.format("graft-pg")
          .option("url", s"127.0.0.1:$pgPort/postgres")
          .option("partitions", "3")
          .load()
          .filter(org.apache.spark.sql.functions.col("external_source")
            === s"s3://$bucket")
          .select("path", "filename", "mime_type")
        val got = back.collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
        assert(got.size == 13 && got.contains(("", "root.txt", "text/plain"))
          && got.contains(("/docs", "readme.md", "text/markdown")),
          s"round trip through graft-pg: $got")
        pg.exec(s"DROP TABLE ${graft.sinks.PgMerge.table}")
      } finally pg.close()
    }
  }

  test("listDF: distributed prefix-sharded listing matches the engine's " +
      "scan frame incl. root-key and null-created semantics") {
    withServer { conf =>
      val df = S3Wire.listDF(spark, conf, bucket, "", maxKeys = 3)
      val rows = df.collect()
      assert(rows.length == 13)
      assert(rows.forall(_.getString(0) == s"s3://$bucket"))
      val byName = rows.map(r => (r.getString(1), r.getString(2)) ->
        (r.getString(3), r.isNullAt(4), r.getTimestamp(5).getTime,
          r.getLong(6))).toMap
      // the root-level key the reference panics on (s3.rs:107-108)
      assert(byName(("", "root.txt")) == (("text/plain", true,
        1700000000000L, 5L)))
      assert(byName(("/logs/2024", "f3.json"))._1 == "application/json")
      assert(rows.forall(_.isNullAt(4)), "created is NULL on s3 (s3.rs:123)")
      // identity column set matches FileListing's frame
      assert(df.columns.toSeq == Seq("external_source", "path", "filename",
        "mime_type", "created", "modified", "size"))
    }
  }

  test("listDF reads through the graft-s3 table: one V2 relation over the " +
      "plan made at the call, with the scan frame's exact schema") {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    withServer { conf =>
      val df = S3Wire.listDF(spark, conf, bucket, "", maxKeys = 3)
      df.queryExecution.analyzed match {
        case r: DataSourceV2Relation =>
          assert(r.table.name == s"graft-s3:s3://$bucket")
        case other => fail(s"not a V2 relation: $other")
      }
      assert(df.schema == graft.sources.v2.FilesSource.SCHEMA,
        df.schema.treeString)
      val plan = S3Wire.planShards(conf, bucket, "", maxKeys = 3,
        maxDepth = 2)
      val chunks = S3Wire.chunkPreListed(plan.preListed, 3)
      assert(chunks.nonEmpty && plan.leaves.nonEmpty)
      assert(df.rdd.getNumPartitions == plan.leaves.size + chunks.size)
      // each run lists the carried plan's leaves and nothing else: no
      // root or delimiter page, so the planner did not run again
      import scala.jdk.CollectionConverters._
      seenListPrefixes.clear()
      assert(df.count() == 13)
      assert(seenListPrefixes.asScala.toSet ==
        plan.leaves.map(_.prefix).toSet, seenListPrefixes)
      // a pushed prefix narrower than the carried plan's is planned
      // afresh: only that subtree is listed, and the residual filter
      // keeps the rows exact
      seenListPrefixes.clear()
      val logs = df.filter(org.apache.spark.sql.functions.col("path")
        .startsWith("/logs"))
      assert(logs.count() == 7)
      assert(seenListPrefixes.asScala.nonEmpty &&
        seenListPrefixes.asScala.forall(_.startsWith("logs")),
        seenListPrefixes)
    }
  }
}
