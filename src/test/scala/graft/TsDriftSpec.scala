package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** Event-time schema-drift tolerance ([[Tables.normalizeTs]]).
  *
  * The driver's fixture regeneration has already shipped `events.ts` in
  * three different parquet encodings across rounds; this spec pins the
  * boundary conversion by writing the SAME instants in four encodings —
  * TimestampType, TIMESTAMP_NTZ, epoch-µs long, epoch-nanos long — and
  * asserting every encoding normalizes to the identical TimestampType
  * rows and the identical windowed-aggregate result.
  */
class TsDriftSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // Same three instants (µs precision) in every encoding.
  private val micros = Seq(1767225600000000L, 1767225601500000L, 1767229200000007L)

  private def writeRead(schema: StructType, rows: Seq[Row]): org.apache.spark.sql.DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("ts_drift").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** A real parquet TIMESTAMP(NANOS) column, which Spark cannot write:
    * the session's `nanosAsLong` reads it as epoch-nanos long. */
  private lazy val nanosDir: String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val dir = java.nio.file.Files.createTempDirectory("ts_drift_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = new org.apache.hadoop.conf.Configuration()
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"), conf))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try micros.zipWithIndex.foreach { case (us, i) =>
      w.write(groups.newGroup().append("id", i.toLong).append("ts", us * 1000))
    } finally w.close()
    dir
  }

  private def canonical(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    Tables.normalizeTs(df)
      .select(col("id"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq

  private val asTimestamp = writeRead(
    StructType(Seq(StructField("id", LongType), StructField("ts", TimestampType))),
    micros.zipWithIndex.map { case (us, i) =>
      Row(i.toLong, java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(us * 1000))) })

  private val asNtz = writeRead(
    StructType(Seq(StructField("id", LongType), StructField("ts", TimestampNTZType))),
    micros.zipWithIndex.map { case (us, i) =>
      Row(i.toLong, java.time.LocalDateTime.ofEpochSecond(
        us / 1000000, ((us % 1000000) * 1000).toInt, java.time.ZoneOffset.UTC)) })

  private val asMicros = writeRead(
    StructType(Seq(StructField("id", LongType), StructField("ts", LongType))),
    micros.zipWithIndex.map { case (us, i) => Row(i.toLong, us) })

  private val asNanos = writeRead(
    StructType(Seq(StructField("id", LongType), StructField("ts", LongType))),
    micros.zipWithIndex.map { case (us, i) => Row(i.toLong, us * 1000) })

  private val all = Seq("timestamp" -> asTimestamp, "ntz" -> asNtz,
    "long_us" -> asMicros, "long_nanos" -> asNanos)

  test("all four encodings normalize to TimestampType") {
    all.foreach { case (name, df) =>
      val dt = Tables.normalizeTs(df).schema("ts").dataType
      assert(dt == TimestampType, s"encoding $name → $dt")
    }
  }

  test("all four encodings yield identical instants") {
    val want = micros.zipWithIndex.map { case (us, i) => (i.toLong, us) }
    all.foreach { case (name, df) =>
      assert(canonical(df) == want, s"encoding $name")
    }
  }

  test("a windowed aggregate is encoding-invariant") {
    def agg(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      Tables.normalizeTs(df)
        .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
        .select(unix_micros(col("window.start")), col("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val want = agg(asTimestamp)
    assert(want.map(_._2).sum == micros.size.toLong)
    all.tail.foreach { case (name, df) => assert(agg(df) == want, s"encoding $name") }
  }

  test("Tables.parquet reads every encoding like spark.read.parquet") {
    val encodings = all.map { case (name, df) =>
      name -> new org.apache.hadoop.fs.Path(df.inputFiles.head).getParent.toString
    } :+ ("parquet_nanos" -> nanosDir)
    encodings.foreach { case (name, dir) =>
      val plain = spark.read.parquet(dir)
      val viaTables = Tables.parquet(spark, dir)
      assert(viaTables.schema == plain.schema, s"encoding $name")
      assert(canonical(viaTables) == canonical(plain), s"encoding $name")
    }
    assert(Tables.parquet(spark, nanosDir).schema("ts").dataType == LongType)
    assert(canonical(Tables.parquet(spark, nanosDir)) ==
      micros.zipWithIndex.map { case (us, i) => (i.toLong, us) })
    // the footer read takes nanosAsLong from the session, like Spark's
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(key, "false")
    try assert(Tables.footerSchema(spark, nanosDir) ==
      scala.util.Try(spark.read.parquet(nanosDir).schema).toOption)
    finally spark.conf.set(key, "true")
  }

  test("unsupported event-time types are rejected at the boundary") {
    val bad = Seq(("x", 1.0)).toDF("id", "ts")
    assertThrows[IllegalArgumentException](Tables.normalizeTs(bad))
  }
}
