package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Layout guard over the main source tree: the dev tools stay a leaf
  * that no shipped file reaches into, and every Spark session is built
  * by [[Sessions]], so the confs all entry points share cannot drift
  * apart again. Query and stream builders read parquet only through
  * [[Tables]], so none brings back Spark's schema-inference job. The
  * wire transport to PostgreSQL stages and merges in one place: the
  * `graft-pg` table, whose commit runs `PgMerge.mergeWire`. Each store
  * has one listing path, its DataSource V2 table (`graft-files`,
  * `graft-s3`): the listing helpers build no RDD of their own. The scan
  * daemon has one cycle engine: every mode is a streaming query, with no
  * loop, sleep or thread pool of its own, started by a library entry
  * ([[Scan]], [[WatchPg]]); `Main` only parses argv and prints. No
  * shipped handler swallows a fatal error: a `Throwable` catch rethrows,
  * every other catch-all is `NonFatal`. The file table has one merge
  * join: `Scrape`'s operators are views of `Scrape.cycle`. A PostgreSQL
  * address has one shape, `PgMerge.PgTarget`, which opens every
  * connection. */
class LayoutSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  /** (path relative to the source root, contents) of every main file. */
  private lazy val sources: Seq[(String, String)] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => root.relativize(p).toString.replace('\\', '/') ->
        Files.readString(p))
    finally walk.close()
  }

  test("no main file outside graft/dev references graft.dev") {
    assert(sources.exists(_._1 == "graft/Sessions.scala"),
      s"main sources not found under ${root.toAbsolutePath}")
    val devRef = raw"graft\.dev\b|\bdev\.[A-Z]".r
    val bad = sources.collect {
      case (f, src) if !f.startsWith("graft/dev/") &&
          devRef.findFirstIn(src).isDefined => f
    }
    assert(bad.isEmpty, s"shipped files referencing graft.dev: $bad")
  }

  test("SparkSession.builder is called only by the session factory") {
    val calls = sources.map { case (f, src) =>
      f -> "SparkSession.builder".r.findAllMatchIn(src).size
    }.filter(_._2 > 0)
    assert(calls == Seq("graft/Sessions.scala" -> 1),
      s"SparkSession.builder outside the one factory call: $calls")
  }

  test("builders read parquet only through Tables") {
    val builderDirs = Seq("operators", "functions", "plans", "streaming")
      .map(d => s"graft/$d/")
    // batch reads of a parquet path: read.parquet, read.<options>.parquet,
    // read.format("parquet"); readStream does not infer a schema
    val batchRead =
      raw"""\bread\s*\.(\s*\w+\([^)]*\)\s*\.)*\s*parquet\(|\bread\s*\.\s*format\(\s*"parquet"""".r
    // ScrapeStream.readState reads the daemon's own state directory with
    // the state's fixed schema, so it infers nothing either
    val exempt = Map("graft/streaming/ScrapeStream.scala" -> 1)
    assert(sources.exists(_._1 == "graft/Tables.scala"))
    val bad = sources.collect {
      case (f, src) if builderDirs.exists(f.startsWith) &&
          batchRead.findAllMatchIn(src).size > exempt.getOrElse(f, 0) => f
    }
    assert(bad.isEmpty, s"parquet reads that bypass Tables.parquet: $bad")
    // the guard sees the forms it names
    Seq("s.read.parquet(dir)", "spark.read\n  .schema(x).parquet(p)",
        "spark.read.format(\"parquet\").load(p)").foreach { src =>
      assert(batchRead.findFirstIn(src).isDefined, src)
    }
    assert(batchRead.findFirstIn("s.readStream.schema(x).parquet(dir)").isEmpty)
  }

  test("one merge join for the file table: Scrape's operators are views " +
      "of Scrape.cycle") {
    val scrape = sources.collectFirst {
      case ("graft/operators/Scrape.scala", src) => src
    }
    assert(scrape.nonEmpty)
    val join = raw"\.join\(".r
    val hits = join.findAllIn(scrape.get).size
    assert(hits == 1, s"Scrape.scala holds $hits joins, not Scrape.cycle's one")
    // the guard sees the form it names
    Seq("n.join(c, joinCond, \"left\")",
        "current\n      .join(scan.select(keys: _*), keys, \"left_anti\")")
      .foreach(src => assert(join.findFirstIn(src).isDefined, src))
  }

  /** file → number of matches of `re`, for the files that match. */
  private def count(re: scala.util.matching.Regex): Map[String, Int] =
    sources.map { case (f, src) => f -> re.findAllMatchIn(src).size }
      .filter(_._2 > 0).toMap

  test("the wire publish and read exist once, in the graft-pg table") {
    // PgMerge's wire calls go through the table: no Spark job, RDD or
    // COPY channel of their own
    val ownJob =
      raw"\b(foreachPartition|mapPartitions\w*|parallelize|copyIn\w*|copyOut)\b".r
    val merge = sources.collectFirst {
      case ("graft/sinks/PgMerge.scala", src) => src
    }
    assert(merge.nonEmpty)
    assert(ownJob.findAllIn(merge.get).isEmpty,
      s"PgMerge runs a job or COPY of its own: ${ownJob.findAllIn(merge.get).toSeq}")
    // a COPY staging statement is a string literal ending FROM STDIN
    val staging = "FROM STDIN\"".r
    assert(count(staging) == Map("graft/sources/v2/PgWireSource.scala" -> 1))
    // the upsert runs over the wire at one call site, the epilogue's,
    // and the epilogue's one caller is the table's commit
    val wireUpsert = raw"\.exec\(\s*(PgMerge\.)?upsertSql\(".r
    assert(count(wireUpsert) == Map("graft/sinks/PgMerge.scala" -> 1))
    assert(count(raw"\bmergeWire\(".r) == Map(
      "graft/sinks/PgMerge.scala" -> 1, // the definition
      "graft/sources/v2/PgWireSource.scala" -> 1))
    // the guards see the forms they name
    Seq("rows.foreachPartition { it =>", "sc.parallelize(0 until n, n)",
        "c.copyInStart(sql)", "c.copyOut(shardCopySql(preds))").foreach { src =>
      assert(ownJob.findFirstIn(src).isDefined, src)
    }
    assert(staging.findFirstIn("c.copyIn(s\"COPY $scratch ($cols) FROM STDIN\",")
      .isDefined)
    assert(wireUpsert.findFirstIn("c.exec(PgMerge.upsertSql(scratch))").isDefined)
    assert(wireUpsert.findFirstIn("st.execute(upsertSql(scratch, t))").isEmpty)
  }

  test("one listing path per store: the listing files build no RDD") {
    val ownRdd = raw"\b(parallelize|sparkContext)\b".r
    Seq("graft/sources/S3Wire.scala", "graft/sources/FileListing.scala")
      .foreach { f =>
        val src = sources.collectFirst { case (`f`, s) => s }
        assert(src.nonEmpty, f)
        val hits = ownRdd.findAllIn(src.get).toSeq
        assert(hits.isEmpty, s"$f lists through an RDD of its own: $hits")
      }
    // the guard sees the forms it names
    Seq("spark.sparkContext.parallelize(chunks, chunks.size)",
        "new Configuration(spark.sparkContext.hadoopConfiguration)")
      .foreach(src => assert(ownRdd.findFirstIn(src).isDefined, src))
  }

  test("one cycle engine: Main has no poll-sleep loop of its own") {
    val main = sources.collectFirst { case ("graft/Main.scala", s) => s }
    assert(main.nonEmpty)
    val ownLoop = raw"Thread\.sleep|scala\.concurrent|graft\.maxCycles".r
    val hits = ownLoop.findAllIn(main.get).toSeq
    assert(hits.isEmpty, s"Main cycles outside a streaming query: $hits")
    // nor do the library entries Main calls
    Seq("graft/Scan.scala", "graft/WatchPg.scala").foreach { f =>
      val src = sources.collectFirst { case (`f`, s) => s }
      assert(src.nonEmpty, f)
      val libHits = ownLoop.findAllIn(src.get).toSeq
      assert(libHits.isEmpty, s"$f cycles outside a streaming query: $libHits")
    }
    val live = sources.collect {
      case (f, s) if s.contains("runLiveListing") => f
    }
    assert(live.isEmpty, s"a second daemon form: $live")
    // the guard sees the forms it names
    Seq("if (c < maxCycles) Thread.sleep(sec * 1000L)",
        "import scala.concurrent.{Await, ExecutionContext, Future}",
        "sys.props.get(\"graft.maxCycles\")")
      .foreach(src => assert(ownLoop.findFirstIn(src).isDefined, src))
  }

  test("the scan cycle is a library: Main only parses argv and prints") {
    val main = sources.collectFirst { case ("graft/Main.scala", s) => s }
    assert(main.nonEmpty)
    val lines = main.get.linesIterator.size
    assert(lines <= 400, s"Main.scala has $lines lines (at most 400)")
    // the streams, the changefeed and the publish are the library's
    val engine = raw"\b(writeStream|readStream|foreachBatch|PgChangeFeed|publishScan\w*)\b|PgWireClient\.connect".r
    val hits = engine.findAllIn(main.get).toSeq
    assert(hits.isEmpty, s"Main runs a mode itself: $hits")
    // the unshipped second entry points stay deleted
    val gone = raw"\b(runAvailable|purchaseSignupJoinBatch|queryStreamBound)\b".r
    val dead = sources.collect {
      case (f, s) if gone.findFirstIn(s).isDefined => f
    }
    assert(dead.isEmpty, s"deleted entry points are back: $dead")
    // the guards see the forms they name
    Seq("df.writeStream.foreachBatch(f)", "spark.readStream.format(x)",
        "PgChangeFeed.bootstrapSnapshot(opts)",
        "sinks.PgWireClient.connect(t.host, t.port)",
        "sinks.PgMerge.publishScanWire(batch)", "PgMerge.publishScan(b)")
      .foreach(src => assert(engine.findFirstIn(src).isDefined, src))
    assert(gone.findFirstIn("def runAvailable(spark: SparkSession)").isDefined)
  }

  /** The parameter lists of every `def` in `src`, each def's lists as
    * one string: the balanced `[…]` and `(…)` groups after its name. */
  private def defParams(src: String): Seq[String] =
    raw"\bdef\s+\w+".r.findAllMatchIn(src).map { m =>
      val out = new StringBuilder
      var i = m.end
      def skipSpace(): Unit =
        while (i < src.length && src(i).isWhitespace) i += 1
      skipSpace()
      while (i < src.length && (src(i) == '(' || src(i) == '[')) {
        val start = i
        var depth = 1
        i += 1
        while (i < src.length && depth > 0) {
          if (src(i) == '(' || src(i) == '[') depth += 1
          else if (src(i) == ')' || src(i) == ']') depth -= 1
          i += 1
        }
        out ++= src.substring(start, i)
        skipSpace()
      }
      out.toString
    }.toSeq

  test("one PostgreSQL address: every connection opens through " +
      "PgTarget.connect, and no second address shape is left") {
    val gone = raw"\b(PgConnInfo|wireOptions|userOrEnv|passwordOrEnv)\b".r
    assert(count(gone).isEmpty,
      s"a second address shape is back: ${count(gone)}")
    // the client's connect is called once, by PgTarget.connect, and its
    // constructor only by that connect
    val connect = raw"PgWireClient\.connect\(".r
    assert(count(connect) == Map("graft/sinks/PgMerge.scala" -> 1),
      s"PgWireClient.connect outside PgTarget.connect: ${count(connect)}")
    val construct = raw"new\s+PgWireClient\(".r
    assert(count(construct) == Map("graft/sinks/PgWire.scala" -> 1),
      s"a PgWireClient built outside its connect: ${count(construct)}")
    val merge = sources.collectFirst {
      case ("graft/sinks/PgMerge.scala", src) => src
    }.get
    // …inside PgTarget's def connect, with no other def between them
    val opens =
      raw"(?s)case class PgTarget\(.*?\bdef connect\b(?:(?!\bdef\b).)*PgWireClient\.connect\(".r
    assert(opens.findFirstIn(merge).isDefined,
      "PgTarget.connect does not open the connection")
    // the changefeed's helpers take a PgTarget, not an option map
    val feed = sources.collectFirst {
      case ("graft/sources/v2/PgChangeFeed.scala", src) => src
    }.get
    val stringMap = raw"Map\[String,\s*String\]".r
    val mapDefs = defParams(feed).filter(stringMap.findFirstIn(_).isDefined)
    assert(mapDefs.isEmpty, s"PgChangeFeed defs taking an option map: $mapDefs")
    // the guards see the forms they name
    assert(gone.findFirstIn("PgConnInfo.resolve(merged)").isDefined)
    assert(connect.findFirstIn(
      "val c = PgWireClient.connect(conn.host, conn.port,").isDefined)
    assert(construct.findFirstIn(
      "val c = new PgWireClient(host, port, \"postgres\", \"postgres\")")
      .isDefined)
    assert(opens.findFirstIn("case class PgTarget(h: String) {\n  def " +
      "connect(): C =\n    PgWireClient.connect(h)").isDefined)
    assert(opens.findFirstIn("case class PgTarget(h: String) {\n  def " +
      "connect(): C = c\n  def other(): C = PgWireClient.connect(h)").isEmpty)
    assert(defParams("private def withSlotConn[A](options: Map[String, " +
      "String])(\n    f: (PgWireClient, String) => A): A = {").exists(
      stringMap.findFirstIn(_).isDefined))
    assert(defParams("  def siblingSlots(target: PgMerge.PgTarget,\n" +
      "      prefix: String): Seq[String] =") ==
      Seq("(target: PgMerge.PgTarget,\n      prefix: String)"))
  }

  /** The handler bodies of every `case x: Throwable =>` in `src`: the
    * text after the arrow up to the brace that closes its catch block. */
  private def throwableHandlers(src: String): Seq[String] =
    raw"case\s+(\w+|_)\s*:\s*Throwable\s*=>".r.findAllMatchIn(src).map { m =>
      var depth = 0
      var i = m.end
      while (i < src.length && depth >= 0) {
        if (src(i) == '{') depth += 1 else if (src(i) == '}') depth -= 1
        i += 1
      }
      src.substring(m.end, i)
    }.toSeq

  test("no shipped Throwable catch swallows a fatal error") {
    val rethrow = raw"\bthrow\b".r
    val swallowing = sources.flatMap { case (f, src) =>
      throwableHandlers(src).filter(rethrow.findFirstIn(_).isEmpty)
        .map(h => s"$f: case …: Throwable =>${h.take(60)}")
    }
    assert(swallowing.isEmpty,
      s"Throwable catches that do not rethrow (use NonFatal):\n" +
        swallowing.mkString("\n"))
    // the guard sees the forms it names
    def swallows(src: String): Seq[Boolean] =
      throwableHandlers(src).map(rethrow.findFirstIn(_).isEmpty)
    assert(swallows("catch { case _: Throwable => }") == Seq(true))
    assert(swallows("} catch { case t: Throwable => false }") == Seq(true))
    assert(swallows("try f() catch { case e: Throwable =>\n" +
      "  try c.close() catch { case NonFatal(_) => () }\n  throw e\n}") ==
      Seq(false))
  }
}
