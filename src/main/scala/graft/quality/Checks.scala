package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One validation outcome — the engine's analogue of a line in the
  * reference's validation report (dags/etl_pipeline.py:296–449, :453–458). */
final case class CheckResult(
    check: String,
    table: String,
    severity: String, // "CRITICAL" | "WARNING" | "INFO"
    passed: Boolean,
    detail: String) {
  def render: String = {
    val status = if (passed) "PASS" else s"FAIL [$severity]"
    f"$status%-16s $table%-14s $check%-22s $detail"
  }
}

/** Raised when any critical check fails — the analogue of the reference's
  * `raise` that fails the validate task (etl_pipeline.py:465–466). */
final class ValidationFailure(val results: Seq[CheckResult])
    extends RuntimeException(
      s"${results.count(r => !r.passed)} critical validation check(s) failed:\n" +
        results.filterNot(_.passed).map(_.render).mkString("\n"))

/** Data-quality aggregates and the report — SURVEY.md §2.4–§2.6 (A2–A4,
  * J1, B9). Each aggregate is a single-pass Spark plan. The reference's
  * suite over them, with its threshold rules (B1–B8) applied to the
  * collected rows, is [[ValidationSuite]].
  */
object Checks {

  // ── aggregates ────────────────────────────────────────────────────────

  /** A2 — per-column null counts in ONE pass over the table
    * (COUNTIF(col IS NULL) ×N, etl_pipeline.py:327–334, :344–350).
    * Output columns are named `null_<col>`. */
  def nullCounts(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = nullCountColumns(cols)
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** [[nullCounts]]' aggregate columns, to share a pass with others. */
  def nullCountColumns(cols: Seq[String]): Seq[Column] =
    cols.map(c => count(when(col(c).isNull, lit(1))).as(s"null_$c"))

  /** A3 — duplicate-key detection (GROUP BY keys HAVING COUNT(*)>1,
    * etl_pipeline.py:364–369, :378–383). Hash aggregate; partial
    * (map-side) aggregation keeps the shuffle small at scale. */
  def duplicateKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("dupes"))
      .where(col("dupes") > 1)

  /** J1 — orphaned-foreign-key rows: child rows whose key has no match in
    * the parent (LEFT JOIN … WHERE parent.key IS NULL,
    * etl_pipeline.py:396–402). Written as a left-anti join directly — the
    * form Catalyst rewrites the reference's literal SQL into.
    *
    * Broadcast policy: a dimension-sized parent is broadcast so the fact
    * side never shuffles, but the hint is CONDITIONAL — an unconditional
    * broadcast of a fact-sized parent's keys would OOM the driver on a
    * fact⋈fact FK check. `broadcastParent = None` (default) decides from
    * the optimizer's size estimate vs `autoBroadcastJoinThreshold`
    * (pre-action file statistics — no job runs); `Some(true)` forces the
    * hint (the reference-shaped pipeline path, where the parent is a
    * known dimension table); `Some(false)` leaves the strategy entirely
    * to AQE's runtime sizes. */
  def orphanRows(child: DataFrame, parent: DataFrame, childKey: String, parentKey: String,
      broadcastParent: Option[Boolean] = None): DataFrame = {
    val keys = parent.select(col(parentKey).as(childKey)).distinct()
    val doBroadcast = broadcastParent.getOrElse {
      val threshold = parent.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
      threshold > 0 &&
        parent.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(threshold)
    }
    child.join(if (doBroadcast) broadcast(keys) else keys, Seq(childKey), "left_anti")
  }

  /** A4 — multi-column MIN/MAX range extraction in one pass
    * (etl_pipeline.py:414–421, :438–443). Output: `min_<col>`, `max_<col>`. */
  def valueRanges(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = rangeColumns(cols)
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** [[valueRanges]]' aggregate columns, to share a pass with others. */
  def rangeColumns(cols: Seq[String]): Seq[Column] =
    cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))

  // ── report (B9 / O5) ─────────────────────────────────────────────────

  /** B9 — render the aggregate report (etl_pipeline.py:453–458). */
  def renderReport(results: Seq[CheckResult]): String = {
    val failed = results.count(r => !r.passed)
    val header =
      s"=== DATA QUALITY VALIDATION REPORT ===\n" +
        s"checks=${results.size} passed=${results.size - failed} failed=$failed\n"
    header + results.map(_.render).mkString("\n")
  }

  /** B9 — fail on any critical failure (etl_pipeline.py:465–466). */
  def assertAllPassed(results: Seq[CheckResult]): Seq[CheckResult] = {
    val criticalFailures = results.filter(r => !r.passed && r.severity == "CRITICAL")
    if (criticalFailures.nonEmpty) throw new ValidationFailure(criticalFailures)
    results
  }
}
