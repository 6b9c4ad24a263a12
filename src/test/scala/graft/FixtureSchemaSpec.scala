package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._

/** Canary for fixture regeneration drift. The driver regenerates
  * /root/testdata between rounds and has already changed a physical
  * encoding once (events.ts TIMESTAMP(NANOS) → TIMESTAMP_NTZ, which
  * broke 17 tests in 8 suites before [[Tables.normalizeTs]]). This spec
  * pins the NORMALIZED schema each table presents to the engine — if an
  * upstream regen drifts a type the engine doesn't already normalize,
  * exactly this spec fails, naming the column, instead of a scatter of
  * downstream analysis errors.
  *
  * It also holds [[Tables.t]] to Spark's own inference: every fixture
  * table at every scale reads with the schema `spark.read.parquet`
  * infers, and without the Spark job that inference submits.
  */
class FixtureSchemaSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private val scales = Seq(TestSpark.sf0001, TestSpark.sf001, TestSpark.sf01)

  private def tableNames(d: String): Seq[String] =
    new java.io.File(d).list().toSeq.filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted

  test("Tables.t gives every fixture table Spark's inferred schema") {
    for (d <- scales; name <- tableNames(d)) {
      assert(Tables.t(spark, d, name).schema ==
        spark.read.parquet(s"$d/$name.parquet").schema, s"$d/$name")
    }
    assert(tableNames(dir).contains("events"), s"no fixture tables under $dir")
  }

  test("Tables.t on the fixture tables starts no Spark job") {
    val names = tableNames(dir)
    assert(names.size >= 10, s"fixture tables under $dir: $names")
    assert(ParquetSchemaSpec.jobsDuring(spark)(
      names.foreach(n => Tables.t(spark, dir, n))) == 0)
  }

  private def typesOf(df: org.apache.spark.sql.DataFrame): Map[String, DataType] =
    df.schema.fields.map(f => f.name -> f.dataType).toMap

  test("events normalizes to a true TimestampType event time") {
    val t = typesOf(Tables.events(spark, dir))
    assert(t("ts") == TimestampType, s"events.ts normalized to ${t("ts")}")
    assert(t("event_id") == LongType && t("user_id") == LongType)
    assert(t("event_type") == StringType && t("value") == DoubleType)
  }

  test("documents carries the text-pipeline columns") {
    val t = typesOf(Tables.documents(spark, dir))
    assert(t("doc_id") == LongType)
    assert(t("text") == StringType && t("lang") == StringType &&
      t("source") == StringType)
    assert(t("n_chars") == LongType)
  }

  test("embeddings vector is float-or-double array (both normalized by cast)") {
    val t = typesOf(Tables.embeddings(spark, dir))
    assert(t("vec_id") == LongType)
    t("embedding") match {
      case ArrayType(FloatType | DoubleType, _) => ()
      case other => fail(s"embedding drifted to $other — extend the " +
        "Similarity embDouble cast if this is a new numeric encoding")
    }
  }

  test("relational date columns stay in the date-like family") {
    // The regenerated fixture ships dates as TIMESTAMP(MICROS,
    // isAdjustedToUTC=false) → TIMESTAMP_NTZ; every consumer uses
    // interval/`to_date`/`datediff` arithmetic that is identical across
    // DateType / TimestampType / TimestampNTZType (oracle-verified), so
    // all three are acceptable — anything else (string, int days, …)
    // needs a normalization like Tables.normalizeTs before use.
    val dateLike: Set[DataType] = Set(DateType, TimestampType, TimestampNTZType)
    assert(dateLike(typesOf(Tables.orders(spark, dir))("o_orderdate")))
    assert(dateLike(typesOf(Tables.lineitem(spark, dir))("l_shipdate")))
  }
}
