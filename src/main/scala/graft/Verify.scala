package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local("graft-verify", Sessions.width)
    spark.sparkContext.setLogLevel("WARN")
    muteBoundedWindowWarnings()
    // Dev-only subset filter (comma-separated names); the driver sets
    // nothing and gets the full dump.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    def rmRec(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }
    // A FULL run owns the whole outDir: clear it first so artifacts from
    // an interrupted earlier run (stale __err.txt beside fresh parquet —
    // VERDICT r11 "What's wrong" #5) can't sit beside this run's output.
    // Subset runs (dev loop) leave other queries' artifacts in place —
    // the per-query cleanup below still keeps each touched name honest.
    // Ownership guard (ADVICE r12): only wipe a directory a previous
    // Verify run MARKED as its own — a mistyped/shared outDir (".", a
    // data dir) is refused loudly instead of recursively deleted.
    val marker = Paths.get(outDir, "_graft_verify_dir")
    val outFile = new java.io.File(outDir)
    if (only.isEmpty) {
      val nonEmpty = Option(outFile.list()).exists(_.nonEmpty)
      // a pre-marker Verify dir is recognizable by its oracle dump, so a
      // driver-reused outDir from an earlier round still clears
      val owned = Files.exists(marker) ||
        Files.exists(Paths.get(outDir, "oracle_sql.json"))
      require(!nonEmpty || owned,
        s"refusing to clear '$outDir': non-empty and not a Verify output " +
          "dir (no _graft_verify_dir marker) — pass an empty or " +
          "verify-owned directory")
      rmRec(Paths.get(outDir))
    }
    outFile.mkdirs()
    // claim ownership only on FULL runs (which passed the guard above):
    // a subset run stamping an arbitrary pre-existing dir would poison
    // the guard and license a later full run to wipe it (review r13)
    if (only.isEmpty) Files.writeString(marker, "verify output dir\n")
    // A crashed query must be impossible to read as "absent, probably
    // fine": write a per-query error marker file AND an aggregate
    // _failed.json manifest, so the round's correctness artifact can
    // carry an explicit err row instead of silence (r7 shipped 7
    // analysis-time crashes with no trace in CORRECTNESS_r07).
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Stale-artifact hygiene on a reused outDir (ADVICE r8): a failure
    // must also REMOVE any previous run's parquet for that query
    // (otherwise the checker grades the stale output and never reads the
    // fresh error marker — the masked-crash mode the markers exist to
    // kill), and a success must remove any previous run's error marker.
    selected.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        Files.deleteIfExists(Paths.get(s"$outDir/$name.__err.txt"))
      } catch { case scala.util.control.NonFatal(e) =>
        val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        failed(name) = msg
        System.err.println(s"[verify] FAILED $name: $msg")
        rmRec(Paths.get(s"$outDir/$name"))
        Files.writeString(Paths.get(s"$outDir/$name.__err.txt"), msg + "\n")
      }
      // Queries that cache() at fan-out points (LSH/IVF index frames)
      // would otherwise pin storage memory for the rest of the run.
      spark.sharedState.cacheManager.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failedJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failed.json"), failedJson)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size}/${selected.size} queries FAILED: " +
        failed.keys.mkString(", "))
    spark.stop()
    // Exit 0 even on per-query failure so the driver's DuckDB compare
    // still grades the queries that DID produce output; the markers +
    // manifest are the machine-readable failure record.
  }

  /** Silence WindowExecBase's per-execution "No Partition Defined"
    * warning for the OPERATOR RUNNERS only (VERDICT r19 next#3: 605
    * lines per Verify run, every one from a bounded form WindowLint
    * deliberately admits — date-domain daily frames, ordered prefix
    * sums over pre-aggregated rows — burying any real warning). The
    * lint itself stays untouched: un-aggregated-row global windows are
    * still a hard plan-audit failure; this only declutters the log of
    * the forms the audit already proved bounded. */
  private[graft] def muteBoundedWindowWarnings(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
}
