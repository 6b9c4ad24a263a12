package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Layout guard over the main source tree: the dev tools stay a leaf
  * that no shipped file reaches into, and every Spark session is built
  * by [[Sessions]], so the confs all entry points share cannot drift
  * apart again. */
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
}
