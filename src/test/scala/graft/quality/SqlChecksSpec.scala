package graft.quality

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSparkSession
import graft.pipeline.Pipeline

/** The literal-SQL validation suite must agree with the DataFrame form
  * check-for-check on the same loaded tables (SURVEY §3.3). */
class SqlChecksSpec extends AnyFunSuite {
  lazy val spark = TestSparkSession.spark

  private def write(path: String, content: String): String = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
    path
  }

  test("spark.sql validation suite flags the same defects as the DataFrame form") {
    val sales = write("target/fixtures/sqlchecks_sales.csv",
      """dt,store,product,units,amount
        |2024-01-05,S01,P001,3,29.97
        |2024-01-07,S02,P002,2,19.98
        |2024-01-07,S02,P002,5,-5.00
        |2024-01-08,S03,P999,1,5.00
        |""".stripMargin)
    val products = write("target/fixtures/sqlchecks_products.json",
      """[{"product_id": "P001", "product_name": "Widget", "price": 9.99},
        |{"product_id": "P002", "product_name": "Gadget", "price": 0.0}]""".stripMargin)

    val dfResults = Pipeline.run(spark, sales, products,
      database = "test_sqlchecks", failOnCritical = false)
    val sqlResults = SqlChecks.runAll(spark,
      "test_sqlchecks.store_sales", "test_sqlchecks.products",
      expectedSales = 4, expectedProducts = 2)

    def failures(rs: Seq[CheckResult]) =
      rs.filterNot(_.passed).map(_.check).sorted

    // same defects detected: dup key, orphan FK, negative amount, zero price
    assert(failures(dfResults) == failures(sqlResults))
    assert(failures(sqlResults) == Seq(
      "no_duplicate_keys", "range_price", "range_sales_amount",
      "referential_integrity"))

    // check for check, in order, with the same outcome and detail; the
    // literal SQL names its null counts with the reference's aliases
    val sqlAlias = Map("null_dates" -> "null_date", "null_product_ids" -> "null_product_id",
      "null_units" -> "null_units_sold", "null_amounts" -> "null_sales_amount",
      "null_names" -> "null_product_name", "null_prices" -> "null_price")
    def outcomes(rs: Seq[CheckResult]) =
      rs.map(r => (sqlAlias.getOrElse(r.check, r.check), r.passed, r.detail))
    assert(dfResults.size == 17)
    assert(outcomes(dfResults) == outcomes(sqlResults))
  }
}
