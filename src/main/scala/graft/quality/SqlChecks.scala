package graft.quality

import org.apache.spark.sql.SparkSession

/** The reference's nine validation queries as LITERAL SQL over the loaded
  * warehouse tables (dags/etl_pipeline.py:283–443), run through
  * `spark.sql` — the engine's SQL entry point behaves like the BigQuery
  * client path the reference uses (SURVEY §3.3). The only dialect change
  * is `COUNTIF` → `count_if` (SURVEY §4.4.5).
  *
  * `quality.Checks` is the DataFrame form of the same queries; ChecksSpec
  * + SqlChecksSpec pin that both forms agree check-for-check.
  */
object SqlChecks {

  /** Query 1/2 — row counts (:283–291). */
  def rowCountSql(table: String): String =
    s"SELECT COUNT(*) AS total_rows FROM $table"

  /** Query 3 — sales null checks, single pass (:327–334). */
  def salesNullSql(table: String): String =
    s"""SELECT
       |  count_if(date IS NULL) AS null_dates,
       |  count_if(product_id IS NULL) AS null_product_ids,
       |  count_if(units_sold IS NULL) AS null_units,
       |  count_if(sales_amount IS NULL) AS null_amounts
       |FROM $table""".stripMargin

  /** Query 4 — products null checks (:344–350). */
  def productsNullSql(table: String): String =
    s"""SELECT
       |  count_if(product_id IS NULL) AS null_product_ids,
       |  count_if(product_name IS NULL) AS null_names,
       |  count_if(price IS NULL) AS null_prices
       |FROM $table""".stripMargin

  /** Query 5 — duplicate sales keys (:364–369). */
  def salesDuplicateSql(table: String): String =
    s"""SELECT product_id, date, COUNT(*) AS duplicate_count
       |FROM $table
       |GROUP BY product_id, date
       |HAVING COUNT(*) > 1""".stripMargin

  /** Query 6 — duplicate product ids (:378–383). */
  def productsDuplicateSql(table: String): String =
    s"""SELECT product_id, COUNT(*) AS duplicate_count
       |FROM $table
       |GROUP BY product_id
       |HAVING COUNT(*) > 1""".stripMargin

  /** Query 7 — referential integrity via LEFT JOIN + IS NULL (:396–402);
    * Catalyst rewrites this literal form into the same broadcast anti-join
    * `Checks.orphanRows` plans directly. */
  def orphanSql(salesTable: String, productsTable: String): String =
    s"""SELECT COUNT(*) AS orphaned_records
       |FROM $salesTable s
       |LEFT JOIN $productsTable p ON s.product_id = p.product_id
       |WHERE p.product_id IS NULL""".stripMargin

  /** Query 8 — sales value ranges (:414–421). */
  def salesRangeSql(table: String): String =
    s"""SELECT
       |  MIN(sales_amount) AS min_amount, MAX(sales_amount) AS max_amount,
       |  MIN(units_sold) AS min_units, MAX(units_sold) AS max_units
       |FROM $table""".stripMargin

  /** Query 9 — price range (:438–443). */
  def priceRangeSql(table: String): String =
    s"SELECT MIN(price) AS min_price, MAX(price) AS max_price FROM $table"

  /** Run the full literal-SQL validation suite — same checks, same
    * thresholds, same report shape as the DataFrame form
    * (`Pipeline.validate`). */
  def runAll(spark: SparkSession, salesTable: String, productsTable: String,
      expectedSales: Long, expectedProducts: Long): Seq[CheckResult] = {

    val salesCount = spark.sql(rowCountSql(salesTable)).head().getLong(0)
    val productsCount = spark.sql(rowCountSql(productsTable)).head().getLong(0)
    // the SQL keeps the reference's aliases (`null_dates`, …); the checks
    // are named after the columns they count, as `Checks.nullCounts` does
    def nullCounts(sql: String, cols: String*) =
      spark.sql(sql).toDF(cols.map("null_" + _): _*).head()
    val salesNulls = nullCounts(salesNullSql(salesTable),
      "date", "product_id", "units_sold", "sales_amount")
    val productNulls = nullCounts(productsNullSql(productsTable),
      "product_id", "product_name", "price")
    val salesDupes = spark.sql(salesDuplicateSql(salesTable))
    val productDupes = spark.sql(productsDuplicateSql(productsTable))
    val orphans = spark.sql(orphanSql(salesTable, productsTable)).head().getLong(0)
    val salesRange = spark.sql(salesRangeSql(salesTable)).head()
    val priceRange = spark.sql(priceRangeSql(productsTable)).head()

    Seq(
      Checks.checkNotEmpty(salesTable, salesCount),
      Checks.checkNotEmpty(productsTable, productsCount),
      Checks.checkRowCount(salesTable, salesCount, expectedSales),
      Checks.checkRowCount(productsTable, productsCount, expectedProducts)) ++
      Checks.checkNoNulls(salesTable, salesNulls) ++
      Checks.checkNoNulls(productsTable, productNulls) ++ Seq(
      Checks.checkNoDuplicates(salesTable, salesDupes),
      Checks.checkNoDuplicates(productsTable, productDupes),
      Checks.checkNoOrphans(salesTable, orphans),
      Checks.checkNonNegative(salesTable, "sales_amount",
        salesRange.getAs[Double]("min_amount")),
      Checks.checkNonNegative(salesTable, "units_sold",
        salesRange.getAs[Long]("min_units").toDouble),
      Checks.checkStrictlyPositive(productsTable, "price",
        priceRange.getAs[Double]("min_price")))
  }
}
