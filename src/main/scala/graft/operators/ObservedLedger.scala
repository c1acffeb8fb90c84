package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

/** Ledger of observed-metrics rows from recently EXECUTED plans, keyed
  * by CollectMetrics (observation) name — recorded by
  * [[Dedup.materialize]] after every checkpoint action and by the
  * pipeline stats action, read by every "fold a count into the
  * checkpoint pass" site and by `CorpusPipeline.observedCounts`.
  *
  * Why it exists (round 17): `Observation.future` completes on the
  * SHARED ASYNC LISTENER BUS. The accumulator values it reports are
  * merged by the scheduler as tasks finish — they are final and
  * synchronously readable via `queryExecution.observedMetrics` the
  * moment the materializing action returns — but the future needs the
  * bus to drain first. Under a backlogged bus (a 142-query bench JVM
  * at local[32] emits thousands of task events) the bounded
  * `Await.result(o.future, 10 s)` this codebase used could stall the
  * driver for seconds per site and then silently recompute: the
  * round-16 driver window measured q_corpus_pipeline_fuzzy at ×2.73
  * its quiet time with exactly that signature, while an 8-core run of
  * the same code was clean. Reading the executed plan's own
  * accumulators removes the listener from the loop entirely.
  *
  * Values are identical to what the listener would deliver — both read
  * the same `CollectMetricsExec` accumulators (Spark collects them
  * with `CollectMetricsExec.collect(executedPlan)`, which traverses
  * adaptive plans and query stages).
  *
  * Bounded ring (metric rows are a handful of scalars each); safe for
  * concurrent readers/writers (streaming micro-batches). Only FULLY
  * materializing actions may record — a limit-1 take would record
  * partial accumulator values (the documented dsir-probe hazard). A
  * direct `queryExecution.observedMetrics` read is valid only for a
  * frame whose own plan executed; on a frame that was written it reads
  * `[0]`, so never record a frame a write consumed. */
private[graft] object ObservedLedger {
  private val MaxEntries = 64
  private val recent =
    new java.util.concurrent.ConcurrentLinkedDeque[Map[String, Row]]()

  /** Record the observed metrics of a dataset whose plan a FULL action
    * just executed (checkpoint materialization, global-aggregate head). */
  def record(df: DataFrame): Unit = {
    val m =
      try df.queryExecution.observedMetrics
      catch { case scala.util.control.NonFatal(_) => Map.empty[String, Row] }
    if (m.nonEmpty) {
      recent.addFirst(m)
      while (recent.size > MaxEntries) recent.pollLast()
    }
  }

  /** Most recent executed-plan metric row under `name`, if any. */
  def lookup(name: String): Option[Row] = {
    val it = recent.iterator()
    while (it.hasNext) {
      val row = it.next().get(name)
      if (row.isDefined) return row
    }
    None
  }

  /** Test seam. */
  private[graft] def clear(): Unit = recent.clear()
}
