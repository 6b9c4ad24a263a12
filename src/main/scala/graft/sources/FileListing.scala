package graft.sources

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** The listing helpers the reference's two scan sources share
  * (`fs.rs:98-101` WalkDir, `s3.rs:87-100,136-150` ListObjectsV2
  * pagination) — URL parsing, client config, the scan identifier and the
  * driver's breadth-first shard split. The listing itself is one
  * DataSource V2 table per store: `graft-files`
  * ([[graft.sources.v2.FilesSource]]) over the Hadoop FS API and
  * `graft-s3` ([[graft.sources.v2.S3WireSource]]) over the REST protocol.
  *
  * Scale design: the reference lists sequentially (one in-flight S3 page,
  * one directory walker). Here the driver expands the namespace breadth-
  * first only until it has enough shards to feed the cluster
  * ([[shardRoots]]), then each task recursively lists its shard via the
  * Hadoop FS API (`listFiles(recursive=true)`, which on s3a is
  * ListObjectsV2 pagination under a prefix — the same prefix-pushdown as
  * `s3.rs:91-92`, but with hundreds of prefixes in flight instead of
  * one). `file://` and `s3a://` are uniform through the Hadoop FS
  * abstraction — the reference's scheme dispatch (`main.rs:72-81`)
  * reduces to URI parsing.
  */
object FileListing {

  /** Port of the reference's S3 URL regex
    * `^s3://(?<bucket>[[:alnum:]-_]+)(|/(?<path>.*))$` (`s3.rs:52-63`),
    * including its unit-tested fixtures (`s3.rs:159-175`). Returns
    * (bucket, prefix) or None when the URL is not an s3 URL.
    */
  private val S3Re = "^s3://([A-Za-z0-9\\-_]+)(?:|/(.*))$".r
  def parseS3Url(url: String): Option[(String, String)] = url match {
    case S3Re(bucket, path) => Some((bucket, Option(path).getOrElse("")))
    case _ => None
  }

  /** The reference's AWS client env config (`s3.rs:24-49`) mapped onto the
    * equivalent S3A Hadoop properties: `AWS_ENDPOINT_URL` →
    * `fs.s3a.endpoint`, `AWS_REGION` → `fs.s3a.endpoint.region`,
    * `AWS_S3_FORCE_PATH_STYLE` ("true"/"TRUE"/"1", default false) →
    * `fs.s3a.path.style.access`. Credentials are NOT mapped here: s3a's
    * default provider chain already reads `AWS_ACCESS_KEY_ID`/
    * `AWS_SECRET_ACCESS_KEY` itself. Pure-map form for testability;
    * callers pass `sys.env`. */
  def awsEnvToS3aConf(env: Map[String, String]): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    env.get("AWS_ENDPOINT_URL").foreach(v => out += "fs.s3a.endpoint" -> v)
    env.get("AWS_REGION").foreach(v => out += "fs.s3a.endpoint.region" -> v)
    val pathStyle = env.get("AWS_S3_FORCE_PATH_STYLE") match {
      case Some("true") | Some("TRUE") | Some("1") => true
      case _ => false
    }
    if (pathStyle) out += "fs.s3a.path.style.access" -> "true"
    out.result()
  }

  /** Default scan identifier (P6): explicit > s3 raw URL (`s3.rs:71`) >
    * `hostname:path` (`fs.rs:43-47`). */
  def identifierFor(pathOrUrl: String, explicit: Option[String]): String =
    explicit.getOrElse {
      // any URL keeps its raw form (s3://… included — the s3 regex
      // requires that literal prefix, so the "://" test subsumes it)
      if (pathOrUrl.contains("://")) pathOrUrl
      else java.net.InetAddress.getLocalHost.getHostName + ":" + pathOrUrl
    }

  /** Split a root into listable shards: BFS over directories driver-side
    * until we have ≥ `minShards` of them (or the frontier is exhausted).
    * Files met during expansion are emitted immediately so nothing is
    * listed twice. Returns (shardDirs, filesFoundDuringExpansion).
    */
  private[sources] def shardRoots(
      fs: FileSystem, root: Path, minShards: Int,
      maxExpand: Int = 4): (Seq[String], Seq[FileInfoRaw]) = {
    // the frontier holds FileStatus, not Path (review r18): each
    // level's entries were just RETURNED by the parent's listStatus, so
    // re-stat'ing them doubled the driver's round-trips per level — and
    // a directory deleted between levels turned that redundant stat
    // into a FileNotFoundException for the whole listing
    var frontier: Seq[org.apache.hadoop.fs.FileStatus] =
      Seq(fs.getFileStatus(root))
    val files = mutable.ArrayBuffer.empty[FileInfoRaw]
    var depth = 0
    while (frontier.size < minShards && depth < maxExpand && frontier.nonEmpty) {
      val next = mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
      var expandedAny = false
      frontier.foreach { st =>
        if (st.isDirectory) {
          expandedAny = true
          fs.listStatus(st.getPath).foreach { c =>
            if (c.isDirectory) next += c
            else files += raw(c)
          }
        } else files += raw(st)
      }
      if (!expandedAny) return (Seq.empty, files.toSeq)
      frontier = next.toSeq
      depth += 1
    }
    (frontier.map(_.getPath.toString), files.toSeq)
  }

  /** Serializable row captured from a FileStatus. Parent dir and basename
    * are split via Hadoop Path components (P1/P2) at capture time — the
    * URI's path part, scheme/authority dropped, so `file://` and `s3a://`
    * rows look identical. A root-level object gets `path=""` — the case
    * the reference panics on (`s3.rs:107-108`), handled gracefully here.
    */
  private[sources] case class FileInfoRaw(
      dir: String, name: String, modified: Long, size: Long,
      created: Option[Long])

  /** Creation time for `file://` paths via the NIO attribute API —
    * Hadoop's FileStatus has no ctime, but the reference's fs branch
    * records one (`fs.rs:65`), so local listings read it directly from
    * the platform (where the filesystem lacks birth time, NIO substitutes
    * mtime). S3/HDFS-like schemes stay None, matching `s3.rs:123`. */
  private[sources] def createdOf(fp: Path): Option[Long] = {
    val scheme = fp.toUri.getScheme
    if (scheme == null || scheme == "file") {
      try {
        val attrs = java.nio.file.Files.readAttributes(
          java.nio.file.Paths.get(fp.toUri.getPath),
          classOf[java.nio.file.attribute.BasicFileAttributes])
        val c = attrs.creationTime.toMillis
        if (c > 0) Some(c) else None
      } catch { case _: Exception => None }
    } else None
  }

  private def raw(st: org.apache.hadoop.fs.FileStatus): FileInfoRaw = {
    val p = st.getPath
    // a root-level object's parent is Path("/"), whose URI path is "/"
    // — normalize to "" so fs/s3a rows share the identity
    // [[S3Wire.splitKey]] produces (P2; review r18: "/" here vs ""
    // there flipped the merge identity when toggling --s3-wire)
    val dir = Option(p.getParent).map(_.toUri.getPath)
      .filter(_ != "/").getOrElse("")
    FileInfoRaw(dir, p.getName, st.getModificationTime, st.getLen, createdOf(p))
  }

  /** Close an FS instance without letting a close-time error mask the
    * real failure (review r19: S3A-style connectors can throw UNCHECKED
    * exceptions from close on an already-shut pool — catching only
    * IOException let those replace the original listing error). ONE
    * copy for every newInstance site of the V2 source. */
  private[sources] def closeQuietly(
      fs: org.apache.hadoop.fs.FileSystem): Unit =
    try fs.close() catch { case scala.util.control.NonFatal(_) => () }

  /** Every entry of the RESOLVED driver conf, serialized for executor
    * rebuild (review r18): the executor closures used to rebuild from
    * `new Configuration()` + the env-derived overrides alone, dropping
    * the session's `hadoopConfiguration` — credentials set the standard
    * Spark way (`--conf spark.hadoop.fs.s3a.access.key=…`) worked for
    * the driver's shardRoots and then 403'd on every executor task of a
    * real cluster (invisible on local[*], where driver == executor). */
  private[sources] def confEntries(
      hconf: Configuration): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    hconf.iterator().asScala.map(e => e.getKey -> e.getValue).toSeq
  }
}
