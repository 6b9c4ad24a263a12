package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Layout guard over the main source tree: the dev tools stay a leaf
  * that no shipped file reaches into, and every Spark session is built
  * by [[Sessions]], so the confs all entry points share cannot drift
  * apart again. Query and stream builders read parquet only through
  * [[Tables]], so none brings back Spark's schema-inference job. */
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
    // ScrapeStream.readState reads the daemon's own state directory,
    // whose schema can differ between builds; it keeps Spark's inference
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
}
