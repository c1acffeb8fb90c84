package graft.quality

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The reference's validation suite (dags/etl_pipeline.py:283–449) as one
  * ordered table of its nine queries, run in groups, one action per group.
  * The DataFrame form (`Pipeline.validate`) builds plans over the loaded
  * frames in five groups ([[byTable]]): each table's row count, null
  * counts and ranges share one aggregate, so one scan of the table
  * answers the three, as the reference's separate queries would not. The
  * SQL form (`SqlChecks.runAll`) runs the reference's literal SQL over
  * named tables, each query alone. Both submit their groups at once and
  * turn the nine results into the same 17 critical checks, in the
  * reference's order.
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

  /** The aggregate columns of a row-count, null-count or range query:
    * one row over its side's table answers it. */
  private val aggregates: PartialFunction[Query, Seq[Column]] = {
    case RowCount(_) => Seq(count(lit(1)))
    case NullCounts(_, cols) => Checks.nullCountColumns(cols.map(_._1))
    case Ranges(_, cols, _) => Checks.rangeColumns(cols.map(_._1))
  }

  /** Each query alone: the SQL form's groups. */
  val alone: Seq[Seq[Query]] = queries.map(Seq(_))

  /** The DataFrame form's groups: each table's row count, null counts and
    * ranges together, so one scan of the table answers the three, and the
    * duplicate-key and orphan queries alone. */
  val byTable: Seq[Seq[Query]] = {
    val (fused, own) = queries.partition(aggregates.isDefinedAt)
    Seq(Sales, Products).map(side => fused.filter(_.side == side)) ++ own.map(Seq(_))
  }

  /** The DataFrame form of a group over the loaded frames, as one plan: a
    * duplicate-key or orphan query alone, or aggregate queries over one
    * table as one aggregate of all their columns, in the group's order. */
  def frame(sales: DataFrame, products: DataFrame)(group: Seq[Query]): DataFrame = {
    def on(side: Side) = if (side == Sales) sales else products
    group match {
      case Seq(DuplicateKeys(side, keys)) => Checks.duplicateKeys(on(side), keys)
      // products is a known dimension table → force the broadcast hint
      // (the generic default decides from size stats; see Checks.orphanRows)
      case Seq(Orphans(key)) =>
        Checks.orphanRows(sales, products, key, key, broadcastParent = Some(true))
          .agg(count(lit(1)))
      case _ =>
        require(group.forall(_.side == group.head.side), s"one table per aggregate: $group")
        val aggs = group.flatMap(aggregates)
        on(group.head.side).agg(aggs.head, aggs.tail: _*)
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

  /** Runs the nine queries in `groups`, one action per group and every
    * group at the same time, and returns their 17 checks in the
    * reference's order. `build` gives a group's one plan (see [[rows]]).
    * `sales` and `products` name the tables in the checks. */
  def run(spark: SparkSession, sales: String, products: String, expectedSales: Long,
      expectedProducts: Long, groups: Seq[Seq[Query]])(
      build: Seq[Query] => DataFrame): Seq[CheckResult] = {
    val answered = Concurrently(spark)(groups.map { g => () => g.zip(rows(g, build(g))) }: _*)
      .flatten.toMap
    val checks = queries.map { q =>
      val (table, expected) =
        if (q.side == Sales) (sales, expectedSales) else (products, expectedProducts)
      evaluate(q, answered(q), table, expected)
    }
    // B4 for both tables, then B5 for both, then the rest in query order
    val (counts, rest) = checks.splitAt(2)
    counts.transpose.flatten ++ rest.flatten
  }

  /** Collects a group's plan with one action and returns each query's
    * rows: the first offenders of a duplicate-key query (the reference
    * logs the head() of its duplicate frame), the one row of a query
    * alone, and for aggregate queries built as one aggregate, the slice of
    * its one row that holds each query's columns. */
  private def rows(group: Seq[Query], result: DataFrame): Seq[Seq[Row]] = group match {
    case Seq(_: DuplicateKeys) => Seq(result.limit(6).collect().toSeq)
    case Seq(_) => Seq(Seq(result.head()))
    case _ =>
      val row = result.head().toSeq
      val ends = group.map(aggregates(_).size).scanLeft(0)(_ + _)
      ends.zip(ends.tail).map { case (from, until) => Seq(Row.fromSeq(row.slice(from, until))) }
  }

  /** Applies the reference's rules to `q`'s collected rows, as the
    * reference compares its BigQuery results client-side. Every check is
    * critical. */
  def evaluate(q: Query, rows: Seq[Row], table: String,
      expected: Long): Seq[CheckResult] = {
    def check(name: String, passed: Boolean, detail: String) =
      CheckResult(name, table, "CRITICAL", passed, detail)
    lazy val row = rows.head // the one row of an aggregate query
    q match {
      case _: RowCount =>
        val n = row.getLong(0)
        Seq(check("not_empty", n > 0, s"rows=$n"),
          check("row_count", n == expected, s"actual=$n expected=$expected"))
      // named after the columns, whatever the query's aliases
      case NullCounts(_, cols) => cols.zipWithIndex.map { case ((c, _), i) =>
        check(s"null_$c", row.getLong(i) == 0, s"nulls=${row.getLong(i)}")
      }
      case _: DuplicateKeys =>
        Seq(check("no_duplicate_keys", rows.isEmpty,
          if (rows.isEmpty) "duplicates=0"
          else rows.take(5).mkString("duplicate keys (first 5): ", ", ", "")))
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
