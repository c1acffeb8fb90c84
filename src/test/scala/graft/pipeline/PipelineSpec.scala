package graft.pipeline

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, Observation}
import org.apache.spark.sql.functions.{count, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSparkSession
import graft.quality.{CheckResult, ValidationFailure}

/** End-to-end pipeline test with planted defects (SURVEY §5.2.2,
  * FIXTURES.md §A): the transform must drop exactly the malformed rows and
  * validation must flag exactly the planted defects. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSparkSession.spark

  private def write(path: String, content: String): String = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
    path
  }

  // Planted defects (FIXTURES.md A1): bad date, bad units, duplicate
  // (product_id, date) key, orphan product, negative amount.
  private lazy val salesCsv = write("target/fixtures/store_sales.csv",
    """dt,store,product,units,amount
      |2024-01-05,S01,P001,3,29.97
      |2024-01-05,S01,P002,1,9.99
      |bad-date,S01,P001,2,19.98
      |2024-01-06,S02,P001,xx,10.00
      |2024-01-07,S02,P002,2,19.98
      |2024-01-07,S02,P002,5,-5.00
      |2024-01-08,S03,P999,1,5.00
      |""".stripMargin)

  // Planted defects (FIXTURES.md A2): exact duplicate record, null name,
  // zero price.
  private lazy val productsJson = write("target/fixtures/products.json",
    """[
      |  {"product_id": "P001", "product_name": "Widget", "price": 9.99},
      |  {"product_id": "P002", "product_name": "Gadget", "price": 19.99},
      |  {"product_id": "P002", "product_name": "Gadget", "price": 19.99},
      |  {"product_id": "P003", "product_name": "Free",   "price": 0.0},
      |  {"product_id": "P004", "product_name": null,     "price": 5.0}
      |]""".stripMargin)

  private lazy val cleanSales = write("target/fixtures/clean_sales.csv",
    """dt,store,product,units,amount
      |2024-01-05,S01,P001,3,29.97
      |2024-01-06,S01,P002,1,9.99
      |""".stripMargin)

  private lazy val cleanProducts = write("target/fixtures/clean_products.json",
    """[
      |  {"product_id": "P001", "product_name": "Widget", "price": 9.99},
      |  {"product_id": "P002", "product_name": "Gadget", "price": 19.99}
      |]""".stripMargin)

  // Every check on the planted fixture, in the reference's order:
  // (table, check, passed, detail).
  private val plantedResults = Seq(
    ("store_sales", "not_empty", true, "rows=5"),
    ("products", "not_empty", true, "rows=3"),
    ("store_sales", "row_count", true, "actual=5 expected=5"),
    ("products", "row_count", true, "actual=3 expected=3"),
    ("store_sales", "null_date", true, "nulls=0"),
    ("store_sales", "null_product_id", true, "nulls=0"),
    ("store_sales", "null_units_sold", true, "nulls=0"),
    ("store_sales", "null_sales_amount", true, "nulls=0"),
    ("products", "null_product_id", true, "nulls=0"),
    ("products", "null_product_name", true, "nulls=0"),
    ("products", "null_price", true, "nulls=0"),
    ("store_sales", "no_duplicate_keys", false,
      "duplicate keys (first 5): [P002,2024-01-07 00:00:00.0,2]"),
    ("products", "no_duplicate_keys", true, "duplicates=0"),
    ("store_sales", "referential_integrity", false, "orphans=1"),
    ("store_sales", "range_sales_amount", false, "min=-5.0 (must be >= 0)"),
    ("store_sales", "range_units_sold", true, "min=1.0 (must be >= 0)"),
    ("products", "range_price", false, "min=0.0 (must be > 0)"))

  private def rows(rs: Seq[CheckResult]) = rs.map(r => (r.table, r.check, r.passed, r.detail))

  test("E2E: transform drops exactly the malformed rows") {
    val sales = Pipeline.transformSales(graft.sources.Sources.csv(spark, salesCsv))
    // 7 rows - bad date - bad units = 5
    assert(sales.count() == 5)
    val products = Pipeline.transformProducts(graft.sources.Sources.json(spark, productsJson))
    // 5 records - 1 exact duplicate - 1 null name = 3
    assert(products.count() == 3)
  }

  test("no inference pass: typed sales rows equal those of a type-inferring read") {
    // columns that inference types: clean dates, then clean timestamps,
    // integral and exponent doubles and infinities in the numeric columns
    val dates = write("target/fixtures/infer_dates.csv",
      """dt,store,product,units,amount
        |2024-01-05,S01,P001,3,29.97
        |2024-01-06,S01,P002,12.0,1e3
        |2024-01-07,S02,P003,1e3,1.5E-2
        |2024-01-08,S02,P004,Inf,-Inf
        |2024-01-09,S03,P005,7.9,Inf
        |2024-01-10,S03,P006,-2,NaN
        |""".stripMargin)
    val timestamps = write("target/fixtures/infer_timestamps.csv",
      """dt,store,product,units,amount
        |2024-01-05 10:30:00,S01,P001,3,29
        |2024-01-06T08:00:00,S01,P002,4,30
        |2024-01-07 23:59:59.5,S02,P003,5,31
        |""".stripMargin)
    def inferring(path: String) =
      spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    // the inferring read types every column but the keys
    def types(path: String) = inferring(path).schema.fields.map(_.dataType.typeName).toSeq
    assert(types(dates) == Seq("date", "string", "string", "double", "double"))
    assert(types(timestamps) == Seq("timestamp", "string", "string", "integer", "integer"))
    for (path <- Seq(dates, timestamps)) {
      val want = Pipeline.transformSales(inferring(path))
      val got = Pipeline.transformSales(graft.sources.Sources.csv(spark, path))
      assert(got.schema == want.schema, path)
      assert(got.collect().toSet == want.collect().toSet, path)
    }
    // P004's units are infinite, P006's amount NaN: both rows are dropped
    assert(Pipeline.transformSales(graft.sources.Sources.csv(spark, dates))
      .select("units_sold").collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 7L, 12L, 1000L))
  }

  test("per-row numeric coercion: 12.0 and 1e3 are 12 and 1000 whatever the column holds") {
    val rows = """dt,store,product,units,amount
                 |2024-01-05,S01,P001,12.0,1.00
                 |2024-01-06,S01,P002,1e3,2.00
                 |2024-01-07,S02,P003,5,3.00
                 |""".stripMargin
    // type inference reads the first file's units as doubles, the second's
    // (one unparsable value) as strings
    def file(name: String, units: String) =
      write(s"target/fixtures/$name.csv", rows + s"2024-01-08,S02,P004,$units,4.00\n")
    val (numeric, mixed) = (file("units_numeric", "7"), file("units_mixed", "abc"))
    for ((path, kept) <- Seq(numeric -> 4, mixed -> 3)) {
      val units = Pipeline.transformSales(graft.sources.Sources.csv(spark, path))
        .select("product_id", "units_sold").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(units.size == kept, path)
      assert(units("P001") == 12 && units("P002") == 1000 && units("P003") == 5, path)
    }
  }

  test("job budget: Pipeline.run on the planted fixture runs at most 18 Spark jobs") {
    val jobs = TestSparkSession.jobsDuring {
      Pipeline.run(spark, salesCsv, productsJson, database = "test_jobs", failOnCritical = false)
      ()
    }
    assert(jobs <= 18, s"$jobs jobs")
  }

  test("E2E: validation flags exactly the planted defects") {
    val e = intercept[ValidationFailure] {
      Pipeline.run(spark, salesCsv, productsJson, database = "test_e2e")
    }
    val failed = e.results.map(r => s"${r.table}/${r.check}").toSet
    assert(failed == Set(
      "store_sales/no_duplicate_keys",    // (P002, 2024-01-07) ×2
      "store_sales/referential_integrity", // P999 orphan
      "store_sales/range_sales_amount",    // -5.00
      "products/range_price"))             // price 0.0 (strict > 0)
    assert(rows(e.results) == plantedResults.filterNot(_._3))
    val all = Pipeline.run(spark, salesCsv, productsJson, database = "test_e2e",
      failOnCritical = false)
    assert(rows(all) == plantedResults)
  }

  test("E2E: clean inputs validate green and report renders") {
    val results = Pipeline.run(spark, cleanSales, cleanProducts, database = "test_clean")
    assert(results.forall(_.passed))
    val report = graft.quality.Checks.renderReport(results)
    assert(report.contains("failed=0"))
    // loaded tables are readable back from the warehouse by name (S4/K2)
    assert(spark.table("test_clean.store_sales").count() == 2)
  }

  test("concurrent DAG: every job carries the caller's job group, none outlives run") {
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
        sc.setJobGroup("pipeline-spec", "planted DAG")
        val results = Pipeline.run(spark, salesCsv, productsJson, database = "test_group",
          failOnCritical = false)
        val t = System.currentTimeMillis()
        assert(rows(results) == plantedResults)
        t
      } finally {
        sc.clearJobGroup()
        Thread.sleep(500) // the async listener bus drains
        sc.removeSparkListener(l)
      }
    val jobs = starts.asScala.toSeq
    assert(jobs.size >= 10, s"${jobs.size} jobs")
    assert(jobs.forall(_._2 == "pipeline-spec"), jobs)
    assert(jobs.forall(_._3 == "planted DAG"), jobs)
    assert(jobs.forall(_._1 <= returnedAt), s"a job started after run returned: $jobs")
  }

  test("concurrent DAG: two runs from two threads into two databases") {
    val planted = Future(Pipeline.run(spark, salesCsv, productsJson,
      database = "test_conc_planted", failOnCritical = false))
    val clean = Future(Pipeline.run(spark, cleanSales, cleanProducts,
      database = "test_conc_clean"))
    assert(rows(Await.result(planted, 5.minutes)) == plantedResults)
    val cleanResults = Await.result(clean, 5.minutes)
    assert(cleanResults.size == plantedResults.size && cleanResults.forall(_.passed))
    assert(cleanResults.filter(_.check == "row_count").map(_.detail) ==
      Seq("actual=2 expected=2", "actual=2 expected=2"))
    assert(spark.table("test_conc_planted.store_sales").count() == 5)
    assert(spark.table("test_conc_clean.store_sales").count() == 2)
  }

  test("concurrent DAG: a failing branch rethrows its own exception after its sibling ends") {
    val sc = spark.sparkContext
    val missing = Paths.get("target/fixtures/no_such_products.json").toAbsolutePath.toString
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
          Pipeline.run(spark, salesCsv, missing, database = "test_missing")
        }
        (e, System.currentTimeMillis())
      } finally {
        Thread.sleep(500) // the async listener bus drains
        sc.removeSparkListener(l)
      }
    // the same exception the sequential runner threw, not a wrapper
    assert(e.getClass == classOf[AnalysisException])
    assert(e.getMessage.contains(missing), e.getMessage)
    // the sales branch was joined, not abandoned: it ran, every one of its
    // jobs had ended when run threw, and it loaded its table
    assert(started.get() > 0 && ends.size == started.get(), s"${started.get()} / ${ends.size}")
    assert(ends.asScala.forall(_ <= thrownAt))
    assert(sc.statusTracker.getActiveJobIds().isEmpty)
    assert(spark.table("test_missing.store_sales").count() == 5)
  }

  test("written-frame count: a saved frame's observation gives the true count, no WARN") {
    spark.sql("CREATE DATABASE IF NOT EXISTS test_observed")
    val df = spark.range(0, 7, 1, 3).toDF("id")
    val o = Observation()
    val obs = df.observe(o, count(lit(1)).as("rows"))
    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val (n, loaded) =
      try {
        obs.write.mode("overwrite").format("parquet").saveAsTable("test_observed.seven")
        (Pipeline.writtenRows(o)(-1L), Pipeline.loadCounted(df, "test_observed.seven_again"))
      } finally System.setErr(stderr)
    assert(n == 7 && loaded == 7)
    assert(!err.toString.contains("[graft] WARN"), err.toString)
    // the hazard the reader avoids: the written frame's own plan never
    // executed, so its observedMetrics hold the initial row, a silent 0
    assert(obs.queryExecution.observedMetrics.get(o.name).map(_.getLong(0)) == Some(0L))
  }

  test("written-frame count: a lagging listener bus delays the observation, no recount") {
    spark.sql("CREATE DATABASE IF NOT EXISTS test_observed")
    val sc = spark.sparkContext
    // holds up the shared listener queue, which also completes observations
    val lagging = new SparkListener {
      override def onJobEnd(je: SparkListenerJobEnd): Unit = Thread.sleep(1500)
    }
    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    sc.addSparkListener(lagging)
    System.setErr(new java.io.PrintStream(err, true))
    val n =
      try Pipeline.loadCounted(spark.range(0, 7, 1, 3).toDF("id"), "test_observed.lagging")
      finally { System.setErr(stderr); sc.removeSparkListener(lagging) }
    assert(n == 7)
    assert(!err.toString.contains("[graft] WARN"), err.toString)
  }

  test("O3: retry combinator retries then succeeds") {
    var attempts = 0
    val out = Pipeline.retry(3) { attempts += 1; if (attempts < 3) sys.error("flaky") else 42 }
    assert(out == 42 && attempts == 3)
    intercept[RuntimeException](Pipeline.retry(2)(sys.error("always")))
  }

  test("O3: retry does NOT swallow fatal errors (NonFatal only)") {
    var attempts = 0
    intercept[InterruptedException] {
      Pipeline.retry(3) { attempts += 1; throw new InterruptedException("stop") }
    }
    Thread.interrupted() // clear the flag for later tests
    assert(attempts == 1, "a fatal error must not be retried")
  }
}
