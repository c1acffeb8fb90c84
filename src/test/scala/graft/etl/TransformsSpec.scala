package graft.etl

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSparkSession

/** P1–P11 operator specs (SURVEY.md §2.3, §5.2.1). */
class TransformsSpec extends AnyFunSuite {
  lazy val spark = TestSparkSession.spark
  import spark.implicits._

  private val names = Seq("date", "store_id", "product_id", "units_sold", "sales_amount")

  test("P1-P4: comma-packed single-column layout is sniffed and split") {
    val packed = Seq(
      "2024-01-05,S01,P001,3,29.97",
      "2024-01-06,S02,P002,1,9.99").toDF("raw")
    val out = Transforms.normalizeDelimited(packed, names)
    assert(out.columns.toSeq == names)
    val row = out.orderBy("date").head()
    assert(row.getString(0) == "2024-01-05")
    assert(row.getString(3) == "3")
  }

  test("P5: clean multi-column layout is positionally renamed") {
    val clean = Seq(("2024-01-05", "S01", "P001", 3, 29.97))
      .toDF("a", "b", "c", "d", "e")
    val out = Transforms.normalizeDelimited(clean, names)
    assert(out.columns.toSeq == names)
    assert(out.head().getString(2) == "P001")
  }

  test("P6: datetime coerce — bad values become null, never throw") {
    val df = Seq("2024-01-05", "not-a-date", "2024-02-29").toDF("date")
    val out = Transforms.coerceTimestamp(df, "date")
    assert(out.schema("date").dataType == TimestampType)
    assert(out.where($"date".isNull).count() == 1)
  }

  test("P7/P8: numeric coerce — bad values become null (no int-cast crash, SURVEY §4.4.1)") {
    val df = Seq("3", "xx", "5").toDF("units_sold")
    val longs = Transforms.coerceLong(df, "units_sold")
    assert(longs.schema("units_sold").dataType == LongType)
    assert(longs.where($"units_sold".isNull).count() == 1)
    val dbl = Transforms.coerceDouble(Seq("1.5", "oops").toDF("x"), "x")
    assert(dbl.where($"x".isNull).count() == 1)
  }

  test("P7: long coercion is per row: integers exactly, other numbers through double") {
    val df = Seq("12.0", "1e3", "12.7", "-3", "9223372036854775807", "Inf", "NaN", "abc")
      .toDF("units_sold")
    val want = Seq(Some(12L), Some(1000L), Some(12L), Some(-3L), Some(Long.MaxValue),
      None, None, None)
    assert(Transforms.coerceLong(df, "units_sold").as[Option[Long]].collect().toSeq == want)
    assert(Transforms.coerceSchema(df, Map("units_sold" -> "long"))
      .as[Option[Long]].collect().toSeq == want)
  }

  test("P9: dropNullRows drops rows with any null and never increases rows") {
    val df = Seq(
      (Some("a"), Some(1)),
      (None: Option[String], Some(2)),
      (Some("c"), None: Option[Int])).toDF("s", "n")
    assert(Transforms.dropNullRows(df).count() == 1)
  }

  test("P10: exact dedup removes full-row duplicates and is idempotent") {
    val df = Seq(("a", 1), ("a", 1), ("b", 2)).toDF("k", "v")
    val once = Transforms.dedupExact(df)
    assert(once.count() == 2)
    assert(Transforms.dedupExact(once).count() == 2)
  }

  test("P11 + count conservation: initial = kept + dropped") {
    val df = Seq(("2024-01-05", "3"), ("bad", "xx"), ("2024-01-07", "5")).toDF("date", "units")
    val typed = Transforms.coerceLong(Transforms.coerceTimestamp(df, "date"), "units")
    val kept = Transforms.dropNullRows(typed)
    assert(df.count() == kept.count() + 1)
  }

  test("coerceSchema applies all casts in one projection") {
    val df = Seq(("2024-01-05", "S1", "7", "1.5")).toDF("date", "store_id", "units_sold", "sales_amount")
    val out = Transforms.coerceSchema(df, Map(
      "date" -> "timestamp", "units_sold" -> "long", "sales_amount" -> "double"))
    assert(out.schema("date").dataType == TimestampType)
    assert(out.schema("units_sold").dataType == LongType)
    assert(out.schema("sales_amount").dataType == DoubleType)
    assert(out.schema("store_id").dataType == StringType)
  }
}
