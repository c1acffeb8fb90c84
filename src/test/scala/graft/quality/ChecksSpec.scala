package graft.quality

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSparkSession

/** A1–A4, J1, B1–B9 specs (SURVEY.md §2.4–2.6, §5.2.1). */
class ChecksSpec extends AnyFunSuite {
  lazy val spark = TestSparkSession.spark
  import spark.implicits._

  test("A2: nullCounts counts per-column nulls in one pass") {
    val df = Seq(
      (Some("a"), Some(1.0)),
      (None: Option[String], Some(2.0)),
      (Some("c"), None: Option[Double])).toDF("s", "v")
    val row = Checks.nullCounts(df, Seq("s", "v")).head()
    assert(row.getAs[Long]("null_s") == 1)
    assert(row.getAs[Long]("null_v") == 1)
  }

  test("A3: duplicateKeys finds groups with count > 1") {
    val df = Seq(("P1", "d1"), ("P1", "d1"), ("P2", "d1"), ("P1", "d2"))
      .toDF("product_id", "date")
    val dupes = Checks.duplicateKeys(df, Seq("product_id", "date")).collect()
    assert(dupes.length == 1)
    assert(dupes.head.getAs[String]("product_id") == "P1")
    assert(dupes.head.getAs[Long]("dupes") == 2)
  }

  test("J1: orphanRows = child rows with no parent key match") {
    val child = Seq(("P1", 1), ("P9", 2), ("P9", 3)).toDF("product_id", "n")
    val parent = Seq("P1", "P2").toDF("product_id")
    assert(Checks.orphanRows(child, parent, "product_id", "product_id").count() == 2)
    // FK property: after inner join with the parent, zero orphans remain.
    val joined = child.join(parent, Seq("product_id"), "left_semi")
    assert(Checks.orphanRows(joined, parent, "product_id", "product_id").count() == 0)
  }

  test("A4: valueRanges extracts min/max per column in one pass") {
    val df = Seq((1.0, 5L), (-2.5, 9L)).toDF("amount", "units")
    val row = Checks.valueRanges(df, Seq("amount", "units")).head()
    assert(row.getAs[Double]("min_amount") == -2.5)
    assert(row.getAs[Double]("max_amount") == 1.0)
    assert(row.getAs[Long]("max_units") == 9L)
  }

  // the suite's rules over the rows of one query's result frame
  import ValidationSuite.{evaluate, DuplicateKeys, NullCounts, Ranges, RowCount, Sales}

  test("B1-B5: threshold checks pass/fail at the right boundaries") {
    // [not_empty, row_count] for a row count of `n`
    def counted(n: Long, expected: Long) =
      evaluate(RowCount(Sales), Seq(n).toDF().collect().toSeq, "t", expected)
    def range(min: Double, strict: Boolean) = evaluate(Ranges(Sales, Seq("c" -> "c"), strict),
      Seq((min, min)).toDF().collect().toSeq, "t", 0).head
    assert(counted(1, 1).head.passed)
    assert(!counted(0, 0).head.passed)
    assert(counted(5, 5)(1).passed)
    assert(!counted(4, 5)(1).passed)
    assert(range(0.0, strict = false).passed) // >= 0 passes at 0
    assert(!range(-0.01, strict = false).passed)
    assert(!range(0.0, strict = true).passed) // > 0 fails at 0 (B3 asymmetry)
    assert(range(0.01, strict = true).passed)
  }

  test("B6/B7: null-count and duplicate checks") {
    val nulls = Checks.nullCounts(Seq(("a", 1)).toDF("s", "v"), Seq("s", "v"))
    assert(evaluate(NullCounts(Sales, Seq("s" -> "s", "v" -> "v")), nulls.collect().toSeq,
      "t", 0).forall(_.passed))
    val dupes = Checks.duplicateKeys(Seq("k", "k").toDF("id"), Seq("id"))
    val Seq(res) = evaluate(DuplicateKeys(Sales, Seq("id")), dupes.collect().toSeq, "t", 0)
    assert(!res.passed && res.detail.contains("k"))
  }

  test("B9: assertAllPassed throws ValidationFailure listing critical failures") {
    val results = Seq(
      CheckResult("ok", "t", "CRITICAL", passed = true, "fine"),
      CheckResult("bad", "t", "CRITICAL", passed = false, "broken"))
    val e = intercept[ValidationFailure](Checks.assertAllPassed(results))
    assert(e.results.exists(_.check == "bad"))
    assert(Checks.renderReport(results).contains("failed=1"))
  }
}
