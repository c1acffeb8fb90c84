package graft.quality

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The reference's validation suite (dags/etl_pipeline.py:283–449) as one
  * ordered table of its nine queries. Each query is built either as a
  * DataFrame plan over the loaded frames (`Pipeline.validate`) or as the
  * reference's literal SQL over named tables (`SqlChecks.runAll`). Both
  * forms submit the nine at once and turn the nine results into the same
  * 17 critical checks, in the reference's order.
  */
private[graft] object ValidationSuite {

  /** Which of the two loaded tables a query reads. */
  sealed trait Side
  case object Sales extends Side
  case object Products extends Side

  /** One of the nine queries. A column comes paired with the stem of the
    * reference's SQL alias for it (`null_dates`, `min_amount`). */
  sealed trait Query { def side: Side }
  /** A1 → B4 not-empty and B5 row-count (:283–321). */
  final case class RowCount(side: Side) extends Query
  /** A2 → B6, one check per column (:327–358). */
  final case class NullCounts(side: Side, cols: Seq[(String, String)]) extends Query
  /** A3 → B7 (:364–390). */
  final case class DuplicateKeys(side: Side, keys: Seq[String]) extends Query
  /** J1 → B8: sales rows whose `key` matches no products row (:396–408). */
  final case class Orphans(key: String) extends Query { def side: Side = Sales }
  /** A4 → B1–B3, one check per column on its minimum: `> 0` when `strict`
    * (B3, the reference's deliberate asymmetry), else `>= 0` (:414–449). */
  final case class Ranges(side: Side, cols: Seq[(String, String)], strict: Boolean)
      extends Query

  val queries: Seq[Query] = Seq(
    RowCount(Sales),
    RowCount(Products),
    NullCounts(Sales, Seq("date" -> "dates", "product_id" -> "product_ids",
      "units_sold" -> "units", "sales_amount" -> "amounts")),
    NullCounts(Products,
      Seq("product_id" -> "product_ids", "product_name" -> "names", "price" -> "prices")),
    DuplicateKeys(Sales, Seq("product_id", "date")),
    DuplicateKeys(Products, Seq("product_id")),
    Orphans("product_id"),
    Ranges(Sales, Seq("sales_amount" -> "amount", "units_sold" -> "units"), strict = false),
    Ranges(Products, Seq("price" -> "price"), strict = true))

  /** The DataFrame form of `q` over the loaded frames. */
  def frame(sales: DataFrame, products: DataFrame)(q: Query): DataFrame = {
    val df = if (q.side == Sales) sales else products
    q match {
      case RowCount(_) => df.agg(count(lit(1)))
      case NullCounts(_, cols) => Checks.nullCounts(df, cols.map(_._1))
      case DuplicateKeys(_, keys) => Checks.duplicateKeys(df, keys)
      // products is a known dimension table → force the broadcast hint
      // (the generic default decides from size stats; see Checks.orphanRows)
      case Orphans(key) =>
        Checks.orphanRows(sales, products, key, key, broadcastParent = Some(true))
          .agg(count(lit(1)))
      case Ranges(_, cols, _) => Checks.valueRanges(df, cols.map(_._1))
    }
  }

  /** The reference's literal SQL for `q` over the named tables. The only
    * dialect change is `COUNTIF` → `count_if` (SURVEY §4.4.5); Catalyst
    * rewrites the orphan query's LEFT JOIN + IS NULL into the broadcast
    * anti-join that `Checks.orphanRows` plans directly. */
  def sql(sales: String, products: String)(q: Query): String = {
    val t = if (q.side == Sales) sales else products
    def select(items: Seq[String]) =
      if (items.size == 1) s"SELECT ${items.head} FROM $t"
      else items.mkString("SELECT\n  ", ",\n  ", s"\nFROM $t")
    q match {
      case RowCount(_) => select(Seq("COUNT(*) AS total_rows"))
      case NullCounts(_, cols) =>
        select(cols.map { case (c, a) => s"count_if($c IS NULL) AS null_$a" })
      case DuplicateKeys(_, keys) =>
        val k = keys.mkString(", ")
        s"SELECT $k, COUNT(*) AS duplicate_count\nFROM $t\nGROUP BY $k\nHAVING COUNT(*) > 1"
      case Orphans(key) =>
        s"SELECT COUNT(*) AS orphaned_records\nFROM $sales s\n" +
          s"LEFT JOIN $products p ON s.$key = p.$key\nWHERE p.$key IS NULL"
      case Ranges(_, cols, _) =>
        select(cols.map { case (c, a) => s"MIN($c) AS min_$a, MAX($c) AS max_$a" })
    }
  }

  /** Runs the nine queries, each built by `build`, at the same time and
    * returns their 17 checks in the reference's order. `sales` and
    * `products` name the tables in the checks. */
  def run(spark: SparkSession, sales: String, products: String, expectedSales: Long,
      expectedProducts: Long)(build: Query => DataFrame): Seq[CheckResult] = {
    val checks = Concurrently(spark)(queries.map { q => () =>
      val (table, expected) =
        if (q.side == Sales) (sales, expectedSales) else (products, expectedProducts)
      evaluate(q, build(q), table, expected)
    }: _*)
    // B4 for both tables, then B5 for both, then the rest in query order
    val (counts, rest) = checks.splitAt(2)
    counts.transpose.flatten ++ rest.flatten
  }

  /** Runs `q`'s built frame and applies the reference's rules to the
    * collected rows, as the reference compares its BigQuery results
    * client-side. Every check is critical. */
  def evaluate(q: Query, result: DataFrame, table: String,
      expected: Long): Seq[CheckResult] = {
    def check(name: String, passed: Boolean, detail: String) =
      CheckResult(name, table, "CRITICAL", passed, detail)
    lazy val row = result.head() // the one row of an aggregate query
    q match {
      case _: RowCount =>
        val n = row.getLong(0)
        Seq(check("not_empty", n > 0, s"rows=$n"),
          check("row_count", n == expected, s"actual=$n expected=$expected"))
      // named after the columns, whatever the query's aliases
      case NullCounts(_, cols) => cols.zipWithIndex.map { case ((c, _), i) =>
        check(s"null_$c", row.getLong(i) == 0, s"nulls=${row.getLong(i)}")
      }
      // the first offenders are logged like the reference's head() of the
      // duplicate frame
      case _: DuplicateKeys =>
        val offenders = result.limit(6).collect()
        Seq(check("no_duplicate_keys", offenders.isEmpty,
          if (offenders.isEmpty) "duplicates=0"
          else offenders.take(5).mkString("duplicate keys (first 5): ", ", ", "")))
      case _: Orphans =>
        Seq(check("referential_integrity", row.getLong(0) == 0, s"orphans=${row.getLong(0)}"))
      // each column yields its min and max. MIN over no values is SQL NULL
      // (which `getDouble` would read as 0.0): no row breaks the rule.
      case Ranges(_, cols, strict) => cols.zipWithIndex.map { case ((c, _), i) =>
        val min = Option(row.get(2 * i)).map { case n: Number => n.doubleValue }
        val (bound, ok) = if (strict) (">", min.forall(_ > 0)) else (">=", min.forall(_ >= 0))
        check(s"range_$c", ok, s"min=${min.getOrElse("null")} (must be $bound 0)")
      }
    }
  }
}
