package graft.quality

import org.apache.spark.sql.SparkSession

/** The reference's nine validation queries as LITERAL SQL over the loaded
  * warehouse tables (dags/etl_pipeline.py:283–443), run through
  * `spark.sql` — the engine's SQL entry point behaves like the BigQuery
  * client path the reference uses (SURVEY §3.3). Both the SQL text and
  * the DataFrame form (`Pipeline.validate`) are built from the one table
  * in [[ValidationSuite]].
  */
object SqlChecks {

  /** The nine queries' SQL text, in the reference's order. */
  def queries(salesTable: String, productsTable: String): Seq[String] =
    ValidationSuite.queries.map(ValidationSuite.sql(salesTable, productsTable))

  /** Run the full literal-SQL validation suite, its nine queries at once —
    * same checks, same thresholds, same report shape as the DataFrame form
    * (`Pipeline.validate`). */
  def runAll(spark: SparkSession, salesTable: String, productsTable: String,
      expectedSales: Long, expectedProducts: Long): Seq[CheckResult] =
    ValidationSuite.run(spark, salesTable, productsTable, expectedSales, expectedProducts,
      ValidationSuite.alone) {
      case Seq(q) => spark.sql(ValidationSuite.sql(salesTable, productsTable)(q))
    }
}
