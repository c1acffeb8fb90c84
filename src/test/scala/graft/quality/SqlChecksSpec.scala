package graft.quality

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
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
    val Seq(salesCount, productsCount, salesNulls, productsNulls, salesDupes, productsDupes,
      _, salesRanges, priceRange) = SqlChecks.queries("t", "t")
    assert(salesCount == "SELECT COUNT(*) AS total_rows FROM t")
    assert(productsCount == "SELECT COUNT(*) AS total_rows FROM t")
    assert(salesNulls ==
      "SELECT\n" +
        "  count_if(date IS NULL) AS null_dates,\n" +
        "  count_if(product_id IS NULL) AS null_product_ids,\n" +
        "  count_if(units_sold IS NULL) AS null_units,\n" +
        "  count_if(sales_amount IS NULL) AS null_amounts\n" +
        "FROM t")
    assert(productsNulls ==
      "SELECT\n" +
        "  count_if(product_id IS NULL) AS null_product_ids,\n" +
        "  count_if(product_name IS NULL) AS null_names,\n" +
        "  count_if(price IS NULL) AS null_prices\n" +
        "FROM t")
    assert(salesDupes ==
      "SELECT product_id, date, COUNT(*) AS duplicate_count\n" +
        "FROM t\n" +
        "GROUP BY product_id, date\n" +
        "HAVING COUNT(*) > 1")
    assert(productsDupes ==
      "SELECT product_id, COUNT(*) AS duplicate_count\n" +
        "FROM t\n" +
        "GROUP BY product_id\n" +
        "HAVING COUNT(*) > 1")
    assert(SqlChecks.queries("s_t", "p_t")(6) ==
      "SELECT COUNT(*) AS orphaned_records\n" +
        "FROM s_t s\n" +
        "LEFT JOIN p_t p ON s.product_id = p.product_id\n" +
        "WHERE p.product_id IS NULL")
    assert(salesRanges ==
      "SELECT\n" +
        "  MIN(sales_amount) AS min_amount, MAX(sales_amount) AS max_amount,\n" +
        "  MIN(units_sold) AS min_units, MAX(units_sold) AS max_units\n" +
        "FROM t")
    assert(priceRange ==
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

  private lazy val loaded = {
    val sales = write("target/fixtures/sqlchecks_conc_sales.csv",
      """dt,store,product,units,amount
        |2024-01-05,S01,P001,3,29.97
        |2024-01-07,S02,P002,2,19.98
        |""".stripMargin)
    val products = write("target/fixtures/sqlchecks_conc_products.json",
      """[{"product_id": "P001", "product_name": "Widget", "price": 9.99},
        |{"product_id": "P002", "product_name": "Gadget", "price": 19.99}]""".stripMargin)
    Pipeline.run(spark, sales, products, database = "test_sqlchecks_conc")
  }

  test("plan probe: the DataFrame form scans each loaded table once for its aggregate queries") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    assert(loaded.forall(_.passed))
    val (sales, products) = ("test_sqlchecks_conc.store_sales", "test_sqlchecks_conc.products")
    // per execution: the tables it scans, and whether it is one global
    // aggregate over one table (a row count, null count or range query)
    def probe(f: => Seq[CheckResult]) = TestSparkSession.executionsDuring {
      assert(f.forall(_.passed)): Unit
    }.map { qe =>
      val p = qe.optimizedPlan
      val tables = p.collect { case r: LogicalRelation => r.catalogTable.map(_.identifier.table) }
        .flatten.sorted
      val aggregate =
        p.exists { case a: Aggregate => a.groupingExpressions.isEmpty; case _ => false }
      val join = p.exists(_.isInstanceOf[Join])
      (tables, aggregate && !join)
    }
    val frames = probe(Pipeline.validate(spark.table(sales), spark.table(products), 2, 2))
    assert(frames.collect { case (t, true) => t.mkString(",") }.sorted ==
      Seq("products", "store_sales"), frames)
    // the duplicate-key queries and the orphan join keep their own plans
    assert(frames.size == 5, frames)
    assert(frames.flatMap(_._1).count(_ == "store_sales") == 3, frames)
    assert(frames.flatMap(_._1).count(_ == "products") == 3, frames)
    // the SQL form keeps the reference's nine queries
    val sql = probe(SqlChecks.runAll(spark, sales, products, expectedSales = 2,
      expectedProducts = 2))
    assert(sql.size == 9 && sql.count(_._2) == 6, sql)
  }

  test("concurrent suite: every job carries the caller's job group, none outlives runAll") {
    assert(loaded.forall(_.passed))
    val sc = spark.sparkContext
    val starts = new ConcurrentLinkedQueue[(Long, String, String)]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val p = Option(js.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).orNull
        starts.add((js.time, prop("spark.jobGroup.id"), prop("spark.job.description"))): Unit
      }
    }
    sc.addSparkListener(l)
    val returnedAt =
      try {
        sc.setJobGroup("sqlchecks-spec", "sql suite")
        val results = SqlChecks.runAll(spark, "test_sqlchecks_conc.store_sales",
          "test_sqlchecks_conc.products", expectedSales = 2, expectedProducts = 2)
        val t = System.currentTimeMillis()
        assert(results.size == 17 && results.forall(_.passed), results)
        t
      } finally {
        sc.clearJobGroup()
        Thread.sleep(500) // the async listener bus drains
        sc.removeSparkListener(l)
      }
    val jobs = starts.asScala.toSeq
    assert(jobs.size >= 9, s"${jobs.size} jobs")
    assert(jobs.forall(_._2 == "sqlchecks-spec"), jobs)
    assert(jobs.forall(_._3 == "sql suite"), jobs)
    assert(jobs.forall(_._1 <= returnedAt), s"a job started after runAll returned: $jobs")
  }

  test("concurrent suite: a missing table rethrows its own AnalysisException after its siblings end") {
    assert(loaded.forall(_.passed))
    val sc = spark.sparkContext
    val ends = new ConcurrentLinkedQueue[Long]()
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = started.incrementAndGet(): Unit
      override def onJobEnd(je: SparkListenerJobEnd): Unit = ends.add(je.time): Unit
    }
    sc.addSparkListener(l)
    val (e, thrownAt) =
      try {
        val e = intercept[AnalysisException] {
          SqlChecks.runAll(spark, "test_sqlchecks_conc.store_sales",
            "test_sqlchecks_conc.no_such_products", expectedSales = 2, expectedProducts = 2)
        }
        (e, System.currentTimeMillis())
      } finally {
        Thread.sleep(500) // the async listener bus drains
        sc.removeSparkListener(l)
      }
    // the analysis error itself, not the pool's ExecutionException wrapper
    assert(e.getMessage.contains("no_such_products"), e.getMessage)
    // the sales-side queries were joined, not abandoned: they ran, and
    // every one of their jobs had ended when runAll threw
    assert(started.get() > 0 && ends.size == started.get(), s"${started.get()} / ${ends.size}")
    assert(ends.asScala.forall(_ <= thrownAt))
    assert(sc.statusTracker.getActiveJobIds().isEmpty)
  }
}
