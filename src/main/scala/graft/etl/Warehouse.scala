package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Warehouse emulation — SURVEY.md §2.2 (K1–K3).
  *
  * The reference loads into BigQuery with `WRITE_TRUNCATE` + schema
  * autodetect (dags/etl_pipeline.py:202–218) after creating the dataset
  * if absent (:41–60). The Spark-native equivalent is the session catalog:
  * `CREATE DATABASE IF NOT EXISTS` + `saveAsTable(Overwrite)` over parquet.
  * Overwrite ≡ WRITE_TRUNCATE; the plan's schema ≡ autodetect; saveAsTable
  * is synchronous ≡ `job.result()`. Kept behind small functions so a real
  * connector (e.g. spark-bigquery-connector) could slot in.
  */
object Warehouse {

  /** K3 — idempotent namespace creation (client.create_dataset(exists_ok=True),
    * etl_pipeline.py:41–60; the `us-central1` location pin has no Spark
    * analogue and is dropped, SURVEY §4.3). */
  def ensureDatabase(spark: SparkSession, db: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")

  /** K2 — truncate-and-replace load (WRITE_TRUNCATE + autodetect,
    * etl_pipeline.py:202–218). */
  def overwriteTable(df: DataFrame, fqTable: String): Unit =
    df.write.mode("overwrite").format("parquet").saveAsTable(fqTable)

  /** K2 at scale — same load, partitioned by the given columns so that
    * downstream date/key predicates get static + dynamic partition pruning
    * on a 100 TB table (SURVEY §4.2). */
  def overwritePartitionedTable(df: DataFrame, fqTable: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").format("parquet")
      .partitionBy(partitionCols: _*).saveAsTable(fqTable)

  /** K2 at scale, co-location variant: bucketed + sorted by the join key.
    * Two tables bucketed the same way equi-join with NO exchange on
    * either side (SortMergeJoin reads buckets directly) — the 100 TB
    * answer to a fact⋈fact join that can't broadcast. */
  def overwriteBucketedTable(df: DataFrame, fqTable: String, bucketCol: String,
      buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(fqTable)

  /** Incremental load: overwrite ONLY the partitions present in `df`
    * (dynamic partition overwrite), leaving the rest of the table alone —
    * the daily-increment alternative to the reference's WRITE_TRUNCATE
    * full reload (etl_pipeline.py:209; SURVEY §4.1 flags the
    * no-incrementality anti-pattern). */
  def overwriteIncrementalPartitions(df: DataFrame, fqTable: String,
      partitionCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      if (spark.catalog.tableExists(fqTable)) {
        // insertInto matches by POSITION and the table stores partition
        // columns last — reorder to the table's physical column order.
        val target = spark.table(fqTable).columns
        df.select(target.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
          .write.mode("overwrite").insertInto(fqTable)
      } else
        df.write.mode("overwrite").format("parquet")
          .partitionBy(partitionCols: _*).saveAsTable(fqTable)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None    => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Keyed MERGE/upsert (SCD type 1): rows from `updates` replace
    * current rows with the same key; unmatched updates insert; everything
    * else is untouched — the incremental alternative to the reference's
    * WRITE_TRUNCATE reload (etl_pipeline.py:209) when the warehouse has no
    * native MERGE.
    *
    * Shape: one left-anti equi-join on the key (AQE broadcasts `updates`'
    * keys when the delta is small — the common case) plus a union; the
    * current table's payload never shuffles. Pair with
    * [[overwriteIncrementalPartitions]] to rewrite only the partitions the
    * delta touches. When `current` reads the same table being rewritten,
    * stage the merge result first ([[stageParquet]]) — Spark cannot
    * overwrite a table from a plan that still reads it.
    */
  /** See class doc; `checkKeyUniqueness = false` skips the eager
    * duplicate-source-key scan for callers that guarantee key-unique
    * deltas by construction (e.g. the streaming MERGE sink's versioned
    * in-batch dedup) — the check runs ONE extra job over the delta at
    * call time, which is the right default for interactive merges but
    * pure overhead on a per-micro-batch hot path. */
  def mergeUpsert(current: DataFrame, updates: DataFrame, keys: Seq[String],
      checkKeyUniqueness: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit}
    require(keys.nonEmpty, "mergeUpsert: at least one key column required")
    require(current.columns.sorted.sameElements(updates.columns.sorted),
      "mergeUpsert: current and updates must share a schema " +
        s"(current: ${current.columns.sorted.mkString(",")}; " +
        s"updates: ${updates.columns.sorted.mkString(",")})")
    // Name-only agreement isn't enough: a drifted column TYPE would surface
    // later as a confusing union error or a silent coercion mid-merge.
    // Nullability-INSENSITIVE comparison (catalogString carries the full
    // nested type but no nullable flags): nested nullability differences
    // (ArrayType.containsNull, struct-field nullable, MapType.
    // valueContainsNull) are not drift — unionByName merges them fine,
    // and a parquet-read current table routinely differs from a
    // freshly-built delta in exactly those flags.
    current.columns.foreach { c =>
      val (ct, ut) = (current.schema(c).dataType, updates.schema(c).dataType)
      require(ct.catalogString == ut.catalogString,
        s"mergeUpsert: column $c type drift — current ${ct.simpleString} vs updates ${ut.simpleString}")
    }
    if (checkKeyUniqueness) {
      // MERGE semantics require at most one source row per key (SQL MERGE
      // raises on multiple matches; keeping both would duplicate the key
      // in the result). The count aliases to a reserved name so a key
      // column literally called "count" cannot collide.
      val dupKeys = updates.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("_g_cnt")).where(col("_g_cnt") > 1).limit(1).count()
      require(dupKeys == 0,
        s"mergeUpsert: updates contain multiple rows for the same key (${keys.mkString(",")}); " +
          "dedup the delta deterministically before merging")
    }
    updates.unionByName(
      current.join(updates.select(keys.map(col): _*), keys, "left_anti"))
  }

  /** Typed durable stage boundary — replaces the reference's lossy /tmp CSV
    * hop (SURVEY §1.5): parquet keeps types, so no re-inference/re-parse
    * downstream.
    *
    * Small-artifact compaction (round 17; guide §6 "coalesce on write"):
    * a frame whose optimizer size estimate fits in ONE input split is
    * written as ONE file — operator-owned parallelism upstream (the
    * spread exchanges) otherwise fans a kilobyte-scale index artifact
    * into partitions-many tiny files, and every probe of the stored
    * artifact then pays per-file open/listing overhead forever (measured
    * round 17: the IVF×PQ index went 1 → 32 files and its indexed probe
    * ×1.46). The compaction is an explicit repartition(1), NOT a
    * coalesce(1): coalesce back-propagates through the narrow chain and
    * would re-serialize the upstream CPU stage onto one task. A frame
    * estimated above one split keeps its partitioning untouched — no
    * shuffle is added to an at-scale write. */
  def stageParquet(df: DataFrame, path: String): Unit = {
    val conf = df.sparkSession.sessionState.conf
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val out =
      if (bytes < BigInt(conf.filesMaxPartitionBytes)) df.repartition(1) else df
    out.write.mode("overwrite").parquet(path)
  }
}
