package graft.dev

import graft.{Sessions, SparkEntry, Verify}

/** Dev-only interleaved A/B over registered queries. Each ARM is a set of
  * runtime-settable session confs; a `baseline` arm with none always
  * runs first. Per query and round every arm runs once, so JVM/JIT
  * warm-up falls on all arms alike instead of gifting the last-measured
  * arm the hottest JVM (the ordering artifact this avoids: one baseline
  * measured first took 6.59 s, the same baseline measured last 4.52 s).
  * Prints best-of-[[rounds]] per arm and query, and the arm's total.
  *
  * Run over `SPARK_GRAFT_SF_DIR` (default sf0.1):
  * {{{
  * sbt "runMain graft.dev.Ab QUERY... [LABEL:KEY=VALUE[,KEY=VALUE]...]..."
  * sbt "runMain graft.dev.Ab q1_agg q14_promo aqe_off:spark.sql.adaptive.enabled=false"
  * }}}
  * A change that is not a runtime conf (code, static confs, the master)
  * is A/B'd across two commits with `perfbench/run.py` instead. */
object Ab {
  val rounds = 5

  private val usage =
    "usage: Ab QUERY... [LABEL:KEY=VALUE[,KEY=VALUE]...]..."

  /** `LABEL:KEY=VALUE[,KEY=VALUE]...` → (label, confs). */
  private def parseArm(arg: String): (String, Map[String, String]) = {
    val (label, rest) = arg.span(_ != ':')
    require(label.nonEmpty && rest.length > 1, s"bad arm '$arg' ($usage)")
    label -> rest.drop(1).split(',').map { kv =>
      val (k, v) = kv.span(_ != '=')
      require(k.nonEmpty && v.nonEmpty, s"bad conf '$kv' in arm '$arg'")
      k -> v.drop(1)
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val (armArgs, queries) = args.toSeq.partition(_.contains('='))
    require(queries.nonEmpty, usage)
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val arms = ("baseline" -> Map.empty[String, String]) +:
      armArgs.map(parseArm)
    require(arms.map(_._1).distinct.size == arms.size,
      s"arm labels must be distinct: ${arms.map(_._1).mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-ab", Sessions.width)
    spark.sparkContext.setLogLevel("ERROR")
    Verify.muteBoundedWindowWarnings()
    spark.range(1000000L).selectExpr("sum(id)").collect()
    // one untimed warm-up pass over the queries
    queries.foreach(q => SparkEntry.queries(q)(spark, sfDir).count())
    spark.sharedState.cacheManager.clearCache()
    val best = scala.collection.mutable.Map.empty[(String, String), Double]
      .withDefaultValue(Double.MaxValue)
    for (q <- queries; _ <- 1 to rounds; (label, kv) <- arms) {
      val defaults = kv.keys.map(k => k ->
        scala.util.Try(spark.conf.get(k)).toOption).toMap
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      val t0 = System.nanoTime()
      try SparkEntry.queries(q)(spark, sfDir).count()
      finally {
        spark.sharedState.cacheManager.clearCache()
        defaults.foreach { case (k, vOpt) =>
          vOpt.fold(spark.conf.unset(k))(v => spark.conf.set(k, v)) }
      }
      best((label, q)) =
        math.min(best((label, q)), (System.nanoTime() - t0) / 1e9)
    }
    println(s"[ab] queries: ${queries.mkString(" ")}")
    arms.foreach { case (label, _) =>
      val tot = queries.map(q => best((label, q))).sum
      val per = queries.map(q => f"${best((label, q))}%5.3f").mkString(" ")
      println(f"[ab] $label%-14s TOTAL(best-of-$rounds) = $tot%7.3f s   $per")
    }
    spark.stop()
  }
}
