package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (suites share the JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.builder("graft-test", 4)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
  val sf01 = s"${new java.io.File(sf001).getParent}/sf0.1"
}
