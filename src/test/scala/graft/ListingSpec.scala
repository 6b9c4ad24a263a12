package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FileListing
import graft.functions.Mime

/** The filesystem listing (`graft-files`) over a real temp directory tree
  * against a `Files.walk` expectation + the reference's S3-URL parse
  * fixtures (`s3.rs:159-175`) + MIME lookup cases (FIXTURES.md). */
class ListingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("parseS3Url: reference fixtures and negatives") {
    assert(FileListing.parseS3Url("s3://test_bucket/test") == Some(("test_bucket", "test")))
    assert(FileListing.parseS3Url("s3://test-bucket") == Some(("test-bucket", "")))
    assert(FileListing.parseS3Url("s3://test-bucket_0253/") == Some(("test-bucket_0253", "")))
    assert(FileListing.parseS3Url("s3://bucket/a/b/c.txt") == Some(("bucket", "a/b/c.txt")))
    assert(FileListing.parseS3Url("http://x/y").isEmpty)
    assert(FileListing.parseS3Url("s3://").isEmpty)
    assert(FileListing.parseS3Url("/plain/path").isEmpty)
  }

  test("identifier defaults: explicit > raw s3 url > hostname:path") {
    assert(FileListing.identifierFor("s3://b/p", Some("custom")) == "custom")
    assert(FileListing.identifierFor("s3://b/p", None) == "s3://b/p")
    val id = FileListing.identifierFor("/data", None)
    assert(id.endsWith(":/data") && id.length > ":/data".length)
  }

  test("AWS env vars map to the equivalent fs.s3a.* properties (s3.rs:24-49)") {
    val full = FileListing.awsEnvToS3aConf(Map(
      "AWS_ENDPOINT_URL" -> "http://localhost:9000",
      "AWS_REGION" -> "eu-central-1",
      "AWS_S3_FORCE_PATH_STYLE" -> "TRUE",
      "UNRELATED" -> "x"))
    assert(full == Map(
      "fs.s3a.endpoint" -> "http://localhost:9000",
      "fs.s3a.endpoint.region" -> "eu-central-1",
      "fs.s3a.path.style.access" -> "true"))
    // reference's matches!: only true/TRUE/1 enable path style
    assert(FileListing.awsEnvToS3aConf(Map("AWS_S3_FORCE_PATH_STYLE" -> "yes")).isEmpty)
    assert(FileListing.awsEnvToS3aConf(Map("AWS_S3_FORCE_PATH_STYLE" -> "1"))
      == Map("fs.s3a.path.style.access" -> "true"))
    assert(FileListing.awsEnvToS3aConf(Map.empty).isEmpty)
  }

  test("mime lookup: known, unknown, case-insensitive, no extension") {
    assert(Mime.lookup("a.txt") == Some("text/plain"))
    assert(Mime.lookup("A.JSON") == Some("application/json"))
    assert(Mime.lookup("archive.tar.gz") == Some("application/gzip"))
    assert(Mime.lookup("noext").isEmpty)
    assert(Mime.lookup("weird.zzz").isEmpty)
    // round-2 coverage additions (VERDICT: common mime_guess-visible gaps)
    assert(Mime.lookup("r.docx")
      .contains("application/vnd.openxmlformats-officedocument.wordprocessingml.document"))
    assert(Mime.lookup("s.xlsx")
      .contains("application/vnd.openxmlformats-officedocument.spreadsheetml.sheet"))
    assert(Mime.lookup("favicon.ico").contains("image/x-icon"))
    assert(Mime.lookup("book.epub").contains("application/epub+zip"))
    assert(Mime.lookup("app.apk").contains("application/vnd.android.package-archive"))
    assert(Mime.lookup("sheet.ods").contains("application/vnd.oasis.opendocument.spreadsheet"))
    assert(Mime.byExt.size >= 140) // broad-coverage floor
  }

  test("mime: the listing's per-row lookup equals the plan expression mimeOf") {
    // graft-s3 and graft-files rows carry Mime.lookup; frames built by
    // hand carry Mime.mimeOf — one name, one mime type either way
    import spark.implicits._
    val names = Seq("a.", ".bashrc", "noext", "A.JSON", "x.tar.GZ", "ü.TXT",
      "İ.PNG", "FAV.ICO")
    val viaPlan = names.toDF("n").repartition(2)
      .select($"n", Mime.mimeOf($"n")).collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(viaPlan == names.map(n => n -> Mime.lookup(n)).toMap)
    // Spark's lower ignores the JVM's locale; under a Turkish default
    // locale String.toLowerCase turns "ICO" into "ıco" (dotless ı)
    val default = java.util.Locale.getDefault
    val underTr =
      try {
        java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
        names.map(n => n -> Mime.lookup(n)).toMap
      } finally java.util.Locale.setDefault(default)
    assert(underTr == viaPlan)
    assert(viaPlan("FAV.ICO").contains("image/x-icon"))
    assert(viaPlan("A.JSON").contains("application/json"))
    assert(viaPlan("x.tar.GZ").contains("application/gzip"))
    assert(viaPlan("ü.TXT").contains("text/plain"))
    assert(viaPlan("İ.PNG").contains("image/png"))
    assert(Seq("a.", "noext").forall(viaPlan(_).isEmpty))
  }

  private def mkTree(): Path = {
    val root = Files.createTempDirectory("graft_listing")
    Files.writeString(root.resolve("top.txt"), "hello")
    val sub = Files.createDirectories(root.resolve("sub/deeper"))
    Files.writeString(root.resolve("sub").resolve("data.json"), "{}")
    Files.writeString(sub.resolve("noext"), "x" * 100)
    Files.createDirectories(root.resolve("empty"))
    root
  }

  /** The filesystem listing: the `graft-files` table over `root`. */
  private def listFiles(root: Path, identifier: Option[String]) = {
    val r = spark.read.format("graft-files").option("path", root.toString)
    ScanRows.of(identifier.fold(r)(r.option("identifier", _)).load())
  }

  test("list: recursive walk finds all files with split paths, mime, sizes") {
    val root = mkTree()
    val rows = listFiles(root, Some("testsrc"))
    assert(rows.length == 3)
    val byName = rows.map(r => r.filename -> r).toMap
    assert(byName("top.txt").size == 5L)
    assert(byName("top.txt").mime_type.contains("text/plain"))
    assert(byName("top.txt").path == root.toString)
    assert(byName("data.json").path.endsWith("/sub"))
    assert(byName("noext").mime_type.isEmpty)
    assert(byName("noext").size == 100L)
    assert(rows.forall(_.external_source == "testsrc"))
    // local FS records a creation time (fs.rs:65 parity); s3a stays None
    assert(rows.forall(_.created.nonEmpty))
    assert(rows.forall(_.modified != null))
  }

  test("listDF: distributed variant agrees with list") {
    // every column of every row equals what Files.walk reads from the
    // platform for the same tree
    val root = mkTree()
    assert(listFiles(root, Some("x")).toSet == ScanRows.walk(root, "x").toSet)
  }

  test("list of a single file (root-level) yields path of its parent") {
    val root = mkTree()
    val file = root.resolve("top.txt")
    val rows = listFiles(file, None)
    assert(rows.length == 1)
    assert(rows.head.filename == "top.txt")
    assert(rows.head.path == root.toString)
    assert(rows == ScanRows.walk(file,
      FileListing.identifierFor(file.toString, None)))
  }
}
