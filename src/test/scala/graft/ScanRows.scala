package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.BasicFileAttributes
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.functions.Mime

/** One row of the engine's seven-column scan frame, as the listing specs
  * compare it. */
final case class ScanRow(external_source: String, path: String,
    filename: String, mime_type: Option[String], created: Option[Timestamp],
    modified: Timestamp, size: Long)

object ScanRows {
  /** The rows of a collected scan frame. */
  def of(df: DataFrame): Seq[ScanRow] = df.collect().toSeq.map(r =>
    ScanRow(r.getString(0), r.getString(1), r.getString(2),
      Option(r.getString(3)), Option(r.getTimestamp(4)), r.getTimestamp(5),
      r.getLong(6)))

  /** What a listing of the local tree (or single file) at `root` must
    * return, read straight from the platform with `Files.walk`: one row
    * per regular file, `path` its parent directory, `created` the NIO
    * creation time where the filesystem records one (`fs.rs:65`). */
  def walk(root: Path, source: String): Seq[ScanRow] = {
    val files = Files.walk(root)
    try files.iterator.asScala.filter(Files.isRegularFile(_)).map { f =>
      val attrs = Files.readAttributes(f, classOf[BasicFileAttributes])
      val created = attrs.creationTime.toMillis
      val name = f.getFileName.toString
      ScanRow(source, f.getParent.toString, name, Mime.lookup(name),
        if (created > 0) Some(new Timestamp(created)) else None,
        new Timestamp(attrs.lastModifiedTime.toMillis), attrs.size)
    }.toList
    finally files.close()
  }
}
