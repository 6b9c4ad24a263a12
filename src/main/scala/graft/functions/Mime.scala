package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Extension → MIME type inference (reference: `fs.rs:55-58`, `s3.rs:110-112`
  * use the `mime_guess` crate; our table embeds the de-facto-standard
  * Apache httpd mime.types mapping — the same public database mime_guess
  * derives from — curated to the extensions a scraped corpus plausibly
  * contains. (No build-time fetch: this container has no network, so the
  * mapping is embedded source rather than generated.)
  *
  * Implemented as a literal map column (`typedlit`) + `element_at` lookup —
  * pure Catalyst expressions, codegen-friendly, no UDF. The map is embedded
  * in the plan (equivalent to a broadcast of a small dim table), so the
  * lookup costs a hash probe per row with zero shuffle at any scale.
  */
object Mime {
  val byExt: Map[String, String] = Map(
    // text
    "txt" -> "text/plain", "text" -> "text/plain", "log" -> "text/plain",
    "html" -> "text/html", "htm" -> "text/html", "css" -> "text/css",
    "csv" -> "text/csv", "tsv" -> "text/tab-separated-values",
    "md" -> "text/markdown", "xml" -> "application/xml",
    "rtx" -> "text/richtext", "sgml" -> "text/sgml", "sgm" -> "text/sgml",
    "ics" -> "text/calendar", "vcf" -> "text/vcard", "vcard" -> "text/vcard",
    // data / config
    "json" -> "application/json", "jsonl" -> "application/json",
    "yaml" -> "application/yaml", "yml" -> "application/yaml",
    "dtd" -> "application/xml-dtd", "xslt" -> "application/xslt+xml",
    "rss" -> "application/rss+xml", "atom" -> "application/atom+xml",
    "xhtml" -> "application/xhtml+xml",
    "webmanifest" -> "application/manifest+json",
    // documents
    "pdf" -> "application/pdf", "rtf" -> "application/rtf",
    "doc" -> "application/msword", "dot" -> "application/msword",
    "xls" -> "application/vnd.ms-excel",
    "ppt" -> "application/vnd.ms-powerpoint",
    "docx" -> "application/vnd.openxmlformats-officedocument.wordprocessingml.document",
    "xlsx" -> "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet",
    "pptx" -> "application/vnd.openxmlformats-officedocument.presentationml.presentation",
    "odt" -> "application/vnd.oasis.opendocument.text",
    "ods" -> "application/vnd.oasis.opendocument.spreadsheet",
    "odp" -> "application/vnd.oasis.opendocument.presentation",
    "odg" -> "application/vnd.oasis.opendocument.graphics",
    "epub" -> "application/epub+zip",
    "azw" -> "application/vnd.amazon.ebook",
    "abw" -> "application/x-abiword",
    "tex" -> "application/x-tex", "latex" -> "application/x-latex",
    "ps" -> "application/postscript", "eps" -> "application/postscript",
    "ai" -> "application/postscript",
    "mdb" -> "application/x-msaccess", "vsd" -> "application/vnd.visio",
    // archives / packages
    "zip" -> "application/zip", "gz" -> "application/gzip",
    "tar" -> "application/x-tar", "bz" -> "application/x-bzip",
    "bz2" -> "application/x-bzip2", "xz" -> "application/x-xz",
    "7z" -> "application/x-7z-compressed", "rar" -> "application/vnd.rar",
    "arc" -> "application/x-freearc",
    "jar" -> "application/java-archive", "war" -> "application/java-archive",
    "ear" -> "application/java-archive", "class" -> "application/java-vm",
    "apk" -> "application/vnd.android.package-archive",
    "deb" -> "application/x-debian-package", "rpm" -> "application/x-rpm",
    "dmg" -> "application/x-apple-diskimage",
    "iso" -> "application/x-iso9660-image",
    "mpkg" -> "application/vnd.apple.installer+xml",
    // executables / code
    "js" -> "text/javascript", "mjs" -> "text/javascript",
    "wasm" -> "application/wasm", "bin" -> "application/octet-stream",
    "exe" -> "application/x-msdownload",
    "sh" -> "application/x-sh", "csh" -> "application/x-csh",
    "php" -> "application/x-httpd-php",
    "swf" -> "application/x-shockwave-flash",
    // images
    "png" -> "image/png", "jpg" -> "image/jpeg", "jpeg" -> "image/jpeg",
    "gif" -> "image/gif", "webp" -> "image/webp", "svg" -> "image/svg+xml",
    "bmp" -> "image/bmp", "tif" -> "image/tiff", "tiff" -> "image/tiff",
    "ico" -> "image/x-icon", "avif" -> "image/avif",
    "heic" -> "image/heic", "heif" -> "image/heif",
    "psd" -> "image/vnd.adobe.photoshop", "jp2" -> "image/jp2",
    "pbm" -> "image/x-portable-bitmap", "pgm" -> "image/x-portable-graymap",
    "ppm" -> "image/x-portable-pixmap", "pnm" -> "image/x-portable-anymap",
    "xbm" -> "image/x-xbitmap", "xpm" -> "image/x-xpixmap",
    // audio
    "mp3" -> "audio/mpeg", "wav" -> "audio/wav", "flac" -> "audio/flac",
    "ogg" -> "audio/ogg", "oga" -> "audio/ogg", "opus" -> "audio/opus",
    "aac" -> "audio/aac", "m4a" -> "audio/mp4", "weba" -> "audio/webm",
    "mid" -> "audio/midi", "midi" -> "audio/midi", "amr" -> "audio/amr",
    "aif" -> "audio/x-aiff", "aiff" -> "audio/x-aiff", "aifc" -> "audio/x-aiff",
    "au" -> "audio/basic", "snd" -> "audio/basic", "wma" -> "audio/x-ms-wma",
    "m3u" -> "audio/x-mpegurl", "m3u8" -> "application/vnd.apple.mpegurl",
    // video
    "mp4" -> "video/mp4", "webm" -> "video/webm",
    "avi" -> "video/x-msvideo", "mov" -> "video/quicktime",
    "mpeg" -> "video/mpeg", "mpg" -> "video/mpeg", "mpe" -> "video/mpeg",
    "m4v" -> "video/x-m4v", "mkv" -> "video/x-matroska",
    "ogv" -> "video/ogg", "ts" -> "video/mp2t",
    "3gp" -> "video/3gpp", "3g2" -> "video/3gpp2",
    "wmv" -> "video/x-ms-wmv", "flv" -> "video/x-flv",
    "asf" -> "video/x-ms-asf", "srt" -> "application/x-subrip",
    // fonts
    "woff" -> "font/woff", "woff2" -> "font/woff2", "ttf" -> "font/ttf",
    "otf" -> "font/otf", "eot" -> "application/vnd.ms-fontobject",
    // geo / 3d
    "gpx" -> "application/gpx+xml",
    "kml" -> "application/vnd.google-earth.kml+xml",
    "kmz" -> "application/vnd.google-earth.kmz",
    "stl" -> "model/stl", "gltf" -> "model/gltf+json",
    "glb" -> "model/gltf-binary",
  )

  /** Lowercased final extension, null when the name has no dot (matching
    * `mime_guess::from_path(...).first()` returning None). */
  def extOf(filename: Column): Column =
    when(filename.contains("."), lower(substring_index(filename, ".", -1)))

  /** MIME type or null for unknown/missing extensions. */
  def mimeOf(filename: Column): Column = {
    val e = extOf(filename)
    when(e.isNotNull, element_at(typedlit(byExt), e))
  }

  /** Scala-side lookup for use outside a plan (the listing readers' rows).
    * Lower-cases like Spark's `lower`, independent of the JVM's default
    * locale, so it returns what [[mimeOf]] returns for every name. */
  def lookup(filename: String): Option[String] = {
    val i = filename.lastIndexOf('.')
    if (i < 0) None
    else byExt.get(filename.substring(i + 1).toLowerCase(java.util.Locale.ROOT))
  }
}
