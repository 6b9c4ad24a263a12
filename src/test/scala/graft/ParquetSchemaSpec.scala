package graft

import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.parquet]] against plain `spark.read.parquet` on directory
  * layouts the fixtures do not have: the schema must be the one Spark
  * infers, the rows the ones Spark reads, and every case Spark answers
  * with an error must still get Spark's own error. */
class ParquetSchemaSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** Both reads agree on the schema and on the rows. */
  private def assertSameRead(path: String): Unit = {
    val plain = spark.read.parquet(path)
    val viaTables = Tables.parquet(spark, path)
    assert(viaTables.schema == plain.schema)
    assert(sorted(viaTables) == sorted(plain))
  }

  /** One single-file parquet write of `df`, moved to `dir/name`. */
  private def writeOne(df: DataFrame, dir: String, name: String): Unit = {
    val out = tmp("schema_one")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    val part = new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.createDirectories(JPath.of(dir, name).getParent)
    Files.move(part.toPath, JPath.of(dir, name))
  }

  test("multi-file spark.range output: same nullable schema and rows") {
    val dir = tmp("schema_range")
    spark.range(0, 1000, 1, 4)
      .select(col("id"), (col("id") * 2).as("twice"))
      .write.mode("overwrite").parquet(dir)
    assert(new java.io.File(dir).list().count(_.endsWith(".parquet")) == 4)
    // Spark stores nullable = false for range columns in the footer's
    // row schema; its file relation reads them as nullable
    assert(Tables.footerSchema(spark, dir).contains(spark.read.parquet(dir).schema))
    assert(spark.read.parquet(dir).schema.forall(_.nullable))
    assertSameRead(dir)
    assert(Tables.parquetRowCount(spark, dir) == 1000L)
  }

  test("k=v partitioned directory: same schema, partition column last") {
    val dir = tmp("schema_part")
    spark.range(0, 60).select(col("id"), (col("id") % 3).as("k"),
        concat(lit("v"), col("id").cast("string")).as("s"))
      .write.partitionBy("k").mode("overwrite").parquet(dir)
    assert(Tables.parquet(spark, dir).schema.fieldNames.toSeq == Seq("id", "s", "k"))
    assertSameRead(dir)
  }

  test("files of different schemas: the footer Spark picks, hidden dirs skipped") {
    val dir = tmp("schema_order")
    // Spark reads the footer of the least path; a '.' sorts before the
    // '/' of a same-named directory, and "_tmp" is never listed
    writeOne(spark.range(3).select(col("id").cast("int").as("b")), dir, "b/x.parquet")
    writeOne(spark.range(3).select(col("id").as("a"), lit("z").as("extra")), dir, "b.parquet")
    writeOne(spark.range(3).select(lit(1.5).as("hidden")), dir, "_tmp/a.parquet")
    assert(spark.read.parquet(dir).schema.fieldNames.toSeq == Seq("a", "extra"))
    assert(Tables.footerSchema(spark, dir).contains(spark.read.parquet(dir).schema))
    assert(Tables.parquetRowCount(spark, dir) == 6L)
  }

  test("a streaming sink's output and a glob path go to Spark") {
    val src = tmp("sink_src")
    spark.range(5).write.mode("overwrite").parquet(src)
    val out = tmp("sink_out")
    spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
      .writeStream.format("parquet")
      .option("checkpointLocation", tmp("sink_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(out).awaitTermination()
    // a file the sink's log does not name, sorting before its part files:
    // Spark reads only what `_spark_metadata` lists
    writeOne(spark.range(3).select(lit("x").as("stray")), out, "a-stray.parquet")
    assert(Tables.footerSchema(spark, out).isEmpty)
    assert(spark.read.parquet(out).schema.fieldNames.toSeq == Seq("id"))
    assertSameRead(out)
    val glob = s"$src/*.parquet"
    assert(Tables.footerSchema(spark, glob).isEmpty)
    assertSameRead(glob)
  }

  private def condition(read: => DataFrame): String =
    intercept[AnalysisException](read).getCondition

  test("missing path and empty directory fail with Spark's own condition") {
    val missing = s"${tmp("schema_missing")}/nope"
    assert(condition(spark.read.parquet(missing)) == "PATH_NOT_FOUND")
    assert(condition(Tables.parquet(spark, missing)) == "PATH_NOT_FOUND")
    val empty = tmp("schema_empty")
    Files.createFile(JPath.of(empty, "_SUCCESS"))
    assert(condition(spark.read.parquet(empty)) == "UNABLE_TO_INFER_SCHEMA")
    assert(condition(Tables.parquet(spark, empty)) == "UNABLE_TO_INFER_SCHEMA")
  }

  test("mergeSchema on: Spark's merged schema") {
    val dir = tmp("schema_merge")
    spark.range(3).select(col("id")).write.parquet(s"$dir/k=1")
    spark.range(3).select(col("id"), lit("x").as("extra")).write.parquet(s"$dir/k=2")
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try {
      assert(Tables.footerSchema(spark, dir).isEmpty)
      assert(spark.read.parquet(dir).schema.fieldNames.toSeq == Seq("id", "extra", "k"))
      assertSameRead(dir)
    } finally spark.conf.unset(key)
  }

  test("Tables.parquet starts no Spark job; Spark's own inference does") {
    val dir = tmp("schema_jobs")
    spark.range(0, 100, 1, 2).write.mode("overwrite").parquet(dir)
    assert(ParquetSchemaSpec.jobsDuring(spark)(spark.read.parquet(dir)) > 0,
      "control: plain inference should submit a job, else the count is vacuous")
    assert(ParquetSchemaSpec.jobsDuring(spark)(Tables.parquet(spark, dir)) == 0)
  }
}

object ParquetSchemaSpec {

  /** Spark jobs submitted by `body` on this thread, counted by a
    * listener on the job group. A sentinel job in a second group flushes
    * the listener bus: its start event is delivered after every earlier
    * one. */
  def jobsDuring(spark: org.apache.spark.sql.SparkSession)(body: => Any): Int = {
    val sc = spark.sparkContext
    val (probe, flush) = ("schema-probe", "schema-flush")
    val jobs = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`probe`) => jobs.incrementAndGet()
          case Some(`flush`) => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(probe, "jobs probe")
      body
      sc.setJobGroup(flush, "listener flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus did not flush")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    jobs.get
  }
}
