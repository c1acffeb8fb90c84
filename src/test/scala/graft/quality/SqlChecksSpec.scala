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

  test("the nine queries keep the reference's SQL text byte for byte") {
    assert(SqlChecks.rowCountSql("t") == "SELECT COUNT(*) AS total_rows FROM t")
    assert(SqlChecks.salesNullSql("t") ==
      "SELECT\n" +
        "  count_if(date IS NULL) AS null_dates,\n" +
        "  count_if(product_id IS NULL) AS null_product_ids,\n" +
        "  count_if(units_sold IS NULL) AS null_units,\n" +
        "  count_if(sales_amount IS NULL) AS null_amounts\n" +
        "FROM t")
    assert(SqlChecks.productsNullSql("t") ==
      "SELECT\n" +
        "  count_if(product_id IS NULL) AS null_product_ids,\n" +
        "  count_if(product_name IS NULL) AS null_names,\n" +
        "  count_if(price IS NULL) AS null_prices\n" +
        "FROM t")
    assert(SqlChecks.salesDuplicateSql("t") ==
      "SELECT product_id, date, COUNT(*) AS duplicate_count\n" +
        "FROM t\n" +
        "GROUP BY product_id, date\n" +
        "HAVING COUNT(*) > 1")
    assert(SqlChecks.productsDuplicateSql("t") ==
      "SELECT product_id, COUNT(*) AS duplicate_count\n" +
        "FROM t\n" +
        "GROUP BY product_id\n" +
        "HAVING COUNT(*) > 1")
    assert(SqlChecks.orphanSql("s_t", "p_t") ==
      "SELECT COUNT(*) AS orphaned_records\n" +
        "FROM s_t s\n" +
        "LEFT JOIN p_t p ON s.product_id = p.product_id\n" +
        "WHERE p.product_id IS NULL")
    assert(SqlChecks.salesRangeSql("t") ==
      "SELECT\n" +
        "  MIN(sales_amount) AS min_amount, MAX(sales_amount) AS max_amount,\n" +
        "  MIN(units_sold) AS min_units, MAX(units_sold) AS max_units\n" +
        "FROM t")
    assert(SqlChecks.priceRangeSql("t") ==
      "SELECT MIN(price) AS min_price, MAX(price) AS max_price FROM t")
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

    // check for check, in order, with the same name, outcome and detail
    def outcomes(rs: Seq[CheckResult]) = rs.map(r => (r.check, r.passed, r.detail))
    assert(dfResults.size == 17)
    assert(outcomes(dfResults) == outcomes(sqlResults))
  }
}
