package graft.pipeline

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.etl.{Transforms, Warehouse}
import graft.quality.{CheckResult, Checks, Concurrently, ValidationSuite}
import graft.sources.Sources

/** Pipeline runner — SURVEY.md §2.7 (O1–O5) and §3.1.
  *
  * The reference's Airflow DAG (dags/etl_pipeline.py:534–543) —
  * `create_dataset >> [extract → transform → load]×2 >> validate` —
  * restated as one driver program that keeps the DAG's shape: after the
  * database exists, the two extract → transform → load branches run as
  * concurrent Spark jobs, the barrier is joining both before validation,
  * and validation submits the reference's nine BigQuery queries at once,
  * as five plans: each loaded table's row count, null counts and ranges
  * share one scan. The sales CSV is read as strings, with no inference
  * pass; `transformSales` types every value. XCom scalars become ordinary
  * return values: each branch's row count is observed on the write
  * that loads it. There is no scheduler, SMTP, or metadata DB here by
  * design (SURVEY §1.5, §7.4).
  */
object Pipeline {

  /** O3 — the reference's retry budget (retries=3, delay, :21–22) as a
    * local combinator; scheduling/e-mail stay out of engine scope.
    * Retries NonFatal failures only — OutOfMemoryError, interrupts, and
    * other fatal errors propagate immediately — and logs each suppressed
    * attempt so transient-vs-persistent failures stay distinguishable. */
  def retry[T](attempts: Int, delayMs: Long = 0L)(f: => T): T =
    try f
    catch {
      case scala.util.control.NonFatal(e) if attempts > 1 =>
        System.err.println(
          s"[graft.retry] attempt failed (${attempts - 1} left): $e")
        if (delayMs > 0) Thread.sleep(delayMs)
        retry(attempts - 1, delayMs)(f)
    }

  /** The canonical sales-branch transform (transform_excel_data,
    * etl_pipeline.py:110–160): layout-sniff/normalize → coerce casts →
    * drop nulls. One narrow pipelined stage, no shuffle. */
  def transformSales(raw: DataFrame): DataFrame = {
    val names = Seq("date", "store_id", "product_id", "units_sold", "sales_amount")
    val named = Transforms.normalizeDelimited(raw, names)
    val typed = Transforms.coerceSchema(named, Map(
      "date"         -> "timestamp",
      "store_id"     -> "string",
      "product_id"   -> "string",
      "units_sold"   -> "long",
      "sales_amount" -> "double"))
    Transforms.dropNullRows(typed)
  }

  /** The canonical products-branch transform (transform_json_data,
    * etl_pipeline.py:162–198): coerce price → exact dedup → drop nulls. */
  def transformProducts(raw: DataFrame): DataFrame = {
    val typed = Transforms.coerceSchema(
      raw.select("product_id", "product_name", "price"),
      Map("product_id" -> "string", "product_name" -> "string", "price" -> "double"))
    Transforms.dropNullRows(Transforms.dedupExact(typed))
  }

  /** Post-load validation (validate_data, etl_pipeline.py:261–473): the
    * nine reference queries over the loaded tables as five plans, each
    * table's row count, null counts and ranges in one aggregate, submitted
    * at the same time and returned as results in the reference's order
    * rather than raised (callers choose `Checks.assertAllPassed`). */
  def validate(sales: DataFrame, products: DataFrame, expectedSales: Long,
      expectedProducts: Long): Seq[CheckResult] =
    ValidationSuite.run(sales.sparkSession, "store_sales", "products", expectedSales,
      expectedProducts, ValidationSuite.byTable)(ValidationSuite.frame(sales, products))

  /** O1 — the whole DAG as one driver program. Returns the validation
    * results (and throws [[graft.quality.ValidationFailure]] on critical
    * failures when `failOnCritical`). */
  def run(
      spark: SparkSession,
      salesCsvPath: String,
      productsJsonPath: String,
      database: String = "staging_dataset",
      failOnCritical: Boolean = true): Seq[CheckResult] = {

    Warehouse.ensureDatabase(spark, database)

    // The DAG's two branches run as concurrent Spark jobs; the barrier is
    // the join inside `Concurrently`, before validation starts.
    val Seq(salesRows, productRows) = Concurrently(spark)(
      () => loadCounted(transformSales(Sources.tabular(spark, salesCsvPath)),
        s"$database.store_sales"),
      () => loadCounted(transformProducts(Sources.json(spark, productsJsonPath)),
        s"$database.products"))

    // Validation reads the *loaded* tables (the reference deliberately
    // re-counts what load already knew, SURVEY §4.1).
    val loadedSales = Sources.table(spark, s"$database.store_sales")
    val loadedProducts = Sources.table(spark, s"$database.products")
    val results = validate(loadedSales, loadedProducts, salesRows, productRows)
    if (failOnCritical) Checks.assertAllPassed(results) else results
  }

  /** K2 + O2 — load `df` into `fqTable` and return how many rows the load
    * wrote (the reference's XCom count, etl_pipeline.py:77–78), counted by
    * an observation on the write itself rather than by a second pass over
    * the source. */
  private[pipeline] def loadCounted(df: DataFrame, fqTable: String): Long = {
    val o = Observation()
    Warehouse.overwriteTable(df.observe(o, count(lit(1)).as("rows")), fqTable)
    writtenRows(o)(df.count())
  }

  /** The `rows` count an observation took on a frame that was WRITTEN.
    * A write runs its own `QueryExecution`, so the written frame's
    * `queryExecution.observedMetrics` (what `Dedup.observedLong` reads)
    * is its never-executed plan's initial row, `[0]`: a silent wrong
    * zero. The observation's own result is read instead. Spark completes
    * it from the listener bus when the write's execution ends, which can
    * be after the write returns while the other branch's jobs keep the
    * bus busy, so this waits for it, up to [[ObservationWait]]. If it is
    * still absent, this says so on stderr and recomputes. */
  private[pipeline] def writtenRows(o: Observation)(fallback: => Long): Long =
    Try(Await.result(o.future, ObservationWait)).toOption match {
      case Some(row) => row.getAs[Long]("rows")
      case None =>
        System.err.println(
          s"[graft] WARN observed metric 'rows' (observation ${o.name}) absent " +
            s"$ObservationWait after the write returned - recomputing with an extra pass")
        fallback
    }

  /** How long [[writtenRows]] waits for the listener bus: far beyond its
    * usual lag of milliseconds, and short next to the recount it saves
    * on a large table. */
  private val ObservationWait = 10.seconds
}
