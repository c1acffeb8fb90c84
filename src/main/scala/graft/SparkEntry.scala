package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.quality.Checks
import graft.sources.Sources

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator from SURVEY.md §2 (or a §7.6 /
  * north-star extension), expressed Spark-first; `oracleSql` carries the
  * DuckDB-equivalent ANSI SQL for the driver's hash compare.
  *
  * Cross-engine determinism rules used throughout:
  *  - every multi-row result has a total ORDER BY in BOTH engines;
  *  - double sums go through an exact DECIMAL(25,10) accumulation and are
  *    cast back to double at the end — bit-identical regardless of
  *    summation order (plain double sums differ in the last ulp between
  *    engines/partitionings);
  *  - every computed column is aliased to the same name in both engines.
  */
object SparkEntry {

  /** Built incremental-dedup index per scale dir (see
    * q_incremental_dedup_indexed) — an index is built once per corpus
    * version, then probed per batch. The value carries (path, corpus doc
    * count): a production index stores its row count alongside, so per-
    * batch probes never re-count the corpus for the disk guard's rows
    * floor. */
  private val ndIndexDirs =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  /** Same pattern for the persisted IVF×PQ ANN index
    * (q_ann_ivfpq_indexed). */
  private val annIndexDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Same pattern for the persisted perceptual media-hash index
    * (q_media_dedup_incremental). */
  private val mediaIdxDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** And for the per-frame VIDEO hash index (q_video_dedup_incremental). */
  private val videoIdxDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-and-memoize the IVF×PQ index artifact for a scale dir — ONE
    * builder shared by every registration that probes it
    * (q_ann_ivfpq_indexed, q_hard_negatives_ivfpq_indexed), so the
    * artifact cannot depend on which query ran first and a build-param
    * change cannot silently fork the index the others probe. */
  private def ensureAnnIndex(s: SparkSession, dir: String): String =
    annIndexDirs.computeIfAbsent(dir, { d =>
      val path = java.nio.file.Files.createTempDirectory("graft_annidx").toString
      graft.etl.Warehouse.stageParquet(
        graft.operators.Similarity.buildIvfPqIndex(
          t(s, d, "embeddings"), "embedding", "vec_id",
          graft.operators.FrozenAnn.coarse, graft.operators.FrozenAnn.pqIndex,
          corpusSpill = 2),
        s"$path/ivfpq")
      path
    })

  /** Same pattern for the persisted benchmark decontamination index
    * (q_contamination_fuzzy_indexed) — benchmark suites change rarely,
    * so their band/shingle build is a once-per-benchmark-version cost. */
  private val fuzzyIndexDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Sources.testTable(s, dir, name)

  /** Read a PERSISTED index artifact this process built, with its schema
    * memoized alongside the path memo (round 17): a stored index's schema
    * is a build-time artifact exactly like its row count — re-inferring
    * it per probe costs a parquet footer job + a driver gap per artifact
    * per invocation (3 artifacts × 3 bench iterations on the incremental
    * probe alone). The DATA is still read and computed fresh every
    * invocation; only the metadata rides the existing per-corpus-version
    * memo scope. */
  private val storedSchemas =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()
  private def readStored(s: SparkSession, path: String): DataFrame =
    s.read.schema(storedSchemas.computeIfAbsent(path,
      p => s.read.parquet(p).schema)).parquet(path)

  /** `events.ts` normalized to TimestampType whatever encoding the
    * testdata generation shipped — TIMESTAMP(NANOS)-as-long under the
    * legacy conf, or plain `timestamp[us]` (TIMESTAMP_NTZ): see
    * [[Sources.normalizeTs]]. */
  private def events(s: SparkSession, dir: String): DataFrame =
    Sources.normalizeTs(t(s, dir, "events"))

  /** Order-insensitive exact sum of a double column (see scaladoc above).
    * The result is capped at DECIMAL(18,4) before the double cast: DuckDB's
    * wide-decimal→double conversion is not correctly rounded, but at scale 4
    * the scaled integer stays below 2^53, making both engines' conversions
    * exact and bit-identical. */
  private def dsum(c: Column): Column =
    sum(c.cast(DecimalType(25, 10))).cast(DecimalType(18, 4)).cast("double")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── A1: row counts (etl_pipeline.py:283–291) ─────────────────────
    "q_count_lineitem" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(count(lit(1)).as("cnt"))),
    "q_count_part" -> ((s, dir) =>
      t(s, dir, "part").agg(count(lit(1)).as("cnt"))),

    // ── A2: single-pass per-column null counts (:327–334, :344–350) ──
    "q_null_counts_lineitem" -> ((s, dir) =>
      Checks.nullCounts(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_quantity", "l_shipdate"))),
    "q_null_counts_part" -> ((s, dir) =>
      Checks.nullCounts(t(s, dir, "part"),
        Seq("p_partkey", "p_name", "p_retailprice"))),

    // ── A3: duplicate-key detection (:364–369, :378–383) ─────────────
    "q_duplicate_sales_keys" -> ((s, dir) =>
      Checks.duplicateKeys(t(s, dir, "lineitem"), Seq("l_partkey", "l_shipdate"))
        .orderBy(col("l_partkey"), col("l_shipdate"))),
    "q_duplicate_pk" -> ((s, dir) =>
      Checks.duplicateKeys(t(s, dir, "part"), Seq("p_partkey"))
        .orderBy(col("p_partkey"))),

    // ── J1 + B8: referential integrity via anti-join (:396–402) ──────
    "q_orphan_lineitem_part" -> ((s, dir) =>
      Checks.orphanRows(t(s, dir, "lineitem"), t(s, dir, "part"),
        "l_partkey", "p_partkey").agg(count(lit(1)).as("orphans"))),
    "q_orphan_orders_customer" -> ((s, dir) =>
      Checks.orphanRows(t(s, dir, "orders"), t(s, dir, "customer"),
        "o_custkey", "c_custkey").agg(count(lit(1)).as("orphans"))),

    // ── A4: multi-column MIN/MAX ranges (:414–421, :438–443) ─────────
    "q_value_ranges_lineitem" -> ((s, dir) =>
      Checks.valueRanges(t(s, dir, "lineitem"), Seq("l_quantity", "l_extendedprice"))),
    "q_value_ranges_part" -> ((s, dir) =>
      Checks.valueRanges(t(s, dir, "part"), Seq("p_retailprice"))),

    // ── Flagship: filtered group-aggregate (TPC-H Q1 shape; exercises
    //    parquet predicate pushdown + partial hash aggregation) ────────
    "q1_pricing_summary" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // ── Big⋈big join (TPC-H Q3 shape): lineitem⋈orders⋈customer with
    //    selective filters + top-k by revenue. No broadcast hints — AQE
    //    picks broadcast vs shuffle join from runtime sizes ────────────
    "q3_shipping_priority" -> ((s, dir) => {
      val cutoff = lit("1998-06-01").cast("timestamp")
      val cust = t(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val ords = t(s, dir, "orders")
        .where(col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val li = t(s, dir, "lineitem")
        .where(col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(ords, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // ── Broadcast equi-join + aggregate (dimension side broadcast —
    //    the fact side never shuffles for the join) ───────────────────
    "q_revenue_by_segment" -> ((s, dir) =>
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer").select("c_custkey", "c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .orderBy(col("c_mktsegment"))),
    "q_revenue_by_nation" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "supplier").select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation").select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))),

    // ── Top-k with total order (sort + limit; TakeOrderedAndProject) ──
    "q_top_orders" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)),

    // ── P10: exact dedup (:178) + north-star exact content dedup ─────
    "q_distinct_documents" -> ((s, dir) =>
      t(s, dir, "documents").dropDuplicates()
        .agg(count(lit(1)).as("n_unique"))),
    "q_dedup_exact_text" -> ((s, dir) =>
      t(s, dir, "documents").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_unique_texts"))),

    // ── North star: text analysis over `documents` ───────────────────
    "q_token_counts" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
        .orderBy(col("doc_id"))),
    "q_lang_distribution" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"))),
    "q_doc_fingerprints" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")))
            .as("fingerprint"))
        .orderBy(col("doc_id"))),
    "q_quality_scores" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          (length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("double") /
            length(col("text"))).as("alpha_ratio"),
          (length(regexp_replace(col("text"), "[^0-9]", "")).cast("double") /
            length(col("text"))).as("digit_ratio"))
        .orderBy(col("doc_id"))),

    // ── North star: event-time windowed aggregate (batch form; the
    //    streaming form is graft.streaming, same logical query) ────────
    "q_events_hourly" -> ((s, dir) =>
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          dsum(col("value")).as("value_sum"))
        .orderBy(col("hour_start"), col("event_type"))),

    // ── North star: sessionization (session_window; oracle is the
    //    equivalent gaps-and-islands SQL) ───────────────────────────────
    "q_event_sessions" -> ((s, dir) =>
      graft.streaming.StreamingOps.sessionCounts(events(s, dir), gap = "5 minutes")
        .orderBy(col("user_id"), col("session_start"))),

    // ── Window functions: per-group top-k via row_number ─────────────
    "q_top3_orders_per_segment" -> ((s, dir) => {
      val joined = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer").select("c_custkey", "c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      joined.withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("c_mktsegment"), col("rk").cast("long").as("rk"),
          col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_mktsegment"), col("rk"))
    }),

    // ── Grouping sets: ROLLUP with subtotals ─────────────────────────
    "q_rollup_counts" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    // ── Set operation: EXCEPT (customers with no orders) ─────────────
    "q_customers_without_orders" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"))
        .except(t(s, dir, "orders").select(col("o_custkey").as("c_custkey")))
        .orderBy(col("c_custkey"))),

    // ── Set operation: INTERSECT (suppliers in customer nations) ─────
    "q_supplier_customer_nations" -> ((s, dir) =>
      t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
        .intersect(t(s, dir, "customer").select(col("c_nationkey").as("nationkey")))
        .orderBy(col("nationkey"))),

    // ── Window: lag/lead + running sum per customer order history ────
    "q_order_deltas" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .where(col("o_custkey") < 100)
        .select(
          col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          lag(col("o_orderkey"), 1).over(w).as("prev_orderkey"),
          lead(col("o_orderkey"), 1).over(w).as("next_orderkey"),
          sum(col("o_totalprice").cast(DecimalType(25, 10)))
            .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
            .cast(DecimalType(18, 4)).cast("double").as("running_total"))
        .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
    }),

    // ── Approximate aggregate: HLL distinct count next to the exact one.
    //    HLL values differ across engines by design, so the oracle-checked
    //    contract is the exact count plus an in-tolerance boolean per
    //    sketch (|approx − exact| / exact ≤ 5% — well above HLL's ~2.3%
    //    default relative stddev; deterministic within Spark from fixed
    //    hashing + commutative sketch merge) ─────────────────────────────
    "q_approx_distinct" -> ((s, dir) => {
      def ok(approx: Column, exact: Column): Column =
        abs(approx.cast("double") - exact.cast("double")) / exact.cast("double") <= 0.05
      t(s, dir, "lineitem").agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_partkey")).as("ap"),
        countDistinct(col("l_orderkey")).as("eo"),
        approx_count_distinct(col("l_orderkey")).as("ao"))
        .select(col("exact_parts"),
          ok(col("ap"), col("exact_parts")).as("approx_parts_ok"),
          ok(col("ao"), col("eo")).as("approx_orders_ok"))
    }),

    // ── Pivot: status × linestatus cross-tab ─────────────────────────
    "q_pivot_linestatus" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("l_returnflag"))),

    // ── Grouping sets: CUBE over two dimensions ──────────────────────
    "q_cube_order_stats" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)),

    // ── Correlated-style aggregate filter: orders above their
    //    customer's average (decorrelated as join against the agg) ─────
    "q_above_avg_orders" -> ((s, dir) => {
      // One scan: the per-customer average comes from a window over the
      // same shuffle the final grouping needs (vs. the self-join form,
      // which scans orders twice and joins). avg is an exact-decimal-sum
      // ÷ count in DOUBLE, so both engines compute bit-identical
      // averages and the > comparison agrees even near the boundary.
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("o_custkey"))
      t(s, dir, "orders")
        .withColumn("avg_price",
          sum(col("o_totalprice").cast(DecimalType(25, 10))).over(w)
            .cast(DecimalType(18, 4)).cast("double") / count(lit(1)).over(w))
        .where(col("o_totalprice") > col("avg_price") * 2)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_above"))
        .orderBy(col("o_custkey"))
    }),

    // ── North star dedup: exact all-pairs n-gram Jaccard (ground truth;
    //    the LSH variants below are the scale path) ────────────────────
    "q_ngram_jaccard_pairs" -> ((s, dir) =>
      graft.operators.Dedup.exactJaccardPairs(
        t(s, dir, "documents"), "text", "doc_id", threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))),

    // ── North star dedup: MinHash+LSH near-dups (approximate candidate
    //    generation, exact verify). Banding derives from the threshold
    //    (minHashBands: τ=0.5 ⇒ r=4/b=32); at the corpus's real near-dup
    //    similarity (J ≥ 0.89) the per-pair candidate probability is
    //    1 − (1−0.89⁴)³² ≈ 1 − 2e-14 — LSH recall == exact ground truth,
    //    asserted by DedupSpec across thresholds and verified on sf0.01 ──
    "q_minhash_near_dups" -> ((s, dir) =>
      graft.operators.Dedup.nearDupPairsMinHash(
        t(s, dir, "documents"), "text", "doc_id", threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))),

    // ── PER-CORPUS TUNED banding (candidate-volume control): samples
    //    background pair similarity, derives (r,b) from corpus size +
    //    profile (minHashBandsTunedFor), same exact-verified plan. Same
    //    ground-truth oracle as the fixed form — tuning trades cost,
    //    never recall (every option meets the at-τ recall bound) ────────
    "q_minhash_near_dups_tuned" -> ((s, dir) =>
      graft.operators.Dedup.nearDupPairsMinHash(
        t(s, dir, "documents"), "text", "doc_id", threshold = 0.5,
        detector = graft.operators.Dedup.Detector.Tuned)
        .orderBy(col("id_a"), col("id_b"))),

    // ── MULTILINGUAL near-dup dedup: the SAME MinHash+LSH detector over
    //    the SCRIPT-AWARE tokenizer (Tok.Ml — per-codepoint Han/kana/
    //    Hangul, lowercased word runs elsewhere). The fixture plants
    //    zh/ja/ru/ar/en twins; under the Latin tokenizer the non-Latin
    //    twins tokenize EMPTY and are undetectable (ShinglesSpec pins
    //    that blindness) — this query is the proof the router-identified
    //    languages are now dedup-able. Oracle: exact all-pairs Jaccard
    //    over the SAME tokenizer restated in DuckDB (generated from
    //    Tok.Ml.sqlTokens — the no-drift discipline) ──────────────────
    "q_minhash_near_dups_ml" -> ((s, dir) =>
      graft.operators.Dedup.nearDupPairsMinHash(
        graft.operators.MlFixture.frame(s), "text", "doc_id",
        threshold = 0.5, tok = graft.functions.Tok.Ml)
        .orderBy(col("id_a"), col("id_b"))),

    // ── PER-SCRIPT quality gating: gopherFlagsMl branches the Gopher
    //    rules on the routed language (word-shape rules vacuous for
    //    per-codepoint CJK + unsegmented Thai; stopword floor only where
    //    a list exists, in the language's OWN list). Fixture: tripled
    //    natural zh/ja/ru/ar/en docs (all pass except the stopword-free
    //    pangram) + per-script garbage (symbol spam, bullet spam, digit
    //    spam, stopword-free salad — each fails its flag). Oracle:
    //    every rule + the lang routing regenerated in DuckDB from the
    //    same LangProfiles tables ─────────────────────────────────────
    "q_gopher_quality_ml" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      import s.implicits._
      val ta = graft.functions.TextAnalysis
      val lang = graft.functions.GraftFunctions.langIdNative(col("text"))
      val f = ta.gopherFlagsMl(col("text"), lang)
      val names = Seq("word_count_ok", "mean_word_len_ok", "symbol_ratio_ok",
        "bullet_ratio_ok", "ellipsis_ratio_ok", "alpha_word_ratio_ok",
        "stopword_ok")
      graft.operators.MlFixture.gateDocs.toDF("doc_id", "text")
        .select(col("doc_id") +: lang.as("lang") +:
          names.map(n => f.getField(n).as(n)) :+
          ta.gopherPassMl(col("text"), lang).as("pass"): _*)
        .orderBy(col("doc_id"))
    }),

    // ── ml tokenizer PARITY probe: token count + md5 fingerprint of the
    //    space-joined ml token stream, over the near-dup fixture PLUS all
    //    26 LangProfiles samples — any kernel↔SQL divergence on any
    //    script hash-mismatches here before it can corrupt a downstream
    //    rung ─────────────────────────────────────────────────────────
    "q_tokens_ml" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      import s.implicits._
      val lp = graft.functions.LangProfiles
      val samples = lp.sampleCodes.zipWithIndex.map { case (code, k) =>
        (100L + k, code, lp.samples(code))
      }
      val toks = graft.functions.GraftFunctions.normTokensMl(col("text"))
      graft.operators.MlFixture.frame(s)
        .unionByName(samples.toDF("doc_id", "lang", "text"))
        .select(col("doc_id"), col("lang"),
          size(toks).cast("long").as("n_tokens"),
          md5(concat_ws(" ", toks)).as("toks_fp"))
        .orderBy(col("doc_id"))
    }),

    // ── North star dedup: SimHash near-dups (native Catalyst expression
    //    + Hamming LSH). maxHamming=3 ⇒ 4 chunks, COMPLETE recall for the
    //    stated bound (round 1 asked for 8 with 4 fixed chunks, which only
    //    guaranteed ≤ 3 — the chunk count now derives from the bound).
    //    Oracle: FNV-1a-64 + bit voting restated in DuckDB SQL over
    //    HUGEINT arithmetic (mod-2⁶⁴ multiply), all-pairs Hamming ───────
    "q_simhash_near_dups" -> ((s, dir) =>
      graft.operators.Dedup.nearDupPairsSimHash(
        s, t(s, dir, "documents"), "text", "doc_id", maxHamming = 3)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy(col("id_a"), col("id_b"))),

    // ── North star similarity: exact brute-force cosine top-1 per probe
    //    (IDs only in the output — argmax is stable across engines even
    //    when the last ulp of the cosine isn't) ─────────────────────────
    "q_ann_top1" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.Similarity.bruteForceTopK(
        emb, emb.where(col("vec_id") < 20), "embedding", "vec_id", k = 1)
        .select(col("q_id"), col("c_id").as("nn_id"))
        .orderBy(col("q_id"))
    }),

    // ── Embedding DIMENSION REDUCTION: integer-exact Achlioptas sparse
    //    random projection (Johnson-Lindenstrauss) 64 → 16 — the pass a
    //    corpus runs before the quadratic-ish embedding stages. Two
    //    positional checksums pin every projected component; the oracle
    //    rebuilds the same ±1/0 matrix cells as literals and folds the
    //    same floor(x·1024 + 0.5) quantization ───────────────────────────
    "q_jl_projection" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.Similarity.randomProject(emb, "embedding", "proj",
          inDim = 64, outDim = 16)
        .select(col("vec_id"),
          aggregate(col("proj"), lit(0L), (a, x) => a + x).as("proj_sum"),
          aggregate(zip_with(col("proj"),
              sequence(lit(1L), lit(16L)), (x, j) => x * j),
            lit(0L), (a, y) => a + y).as("proj_weighted"))
        .orderBy(col("vec_id"))
    }),

    // ── North star curation: hard-negative mining — per query, the k
    //    nearest corpus vectors EXCLUDING the query and its known
    //    positives (the DPR-style contrastive-training step). Probes and
    //    positive pairs broadcast; corpus scans once; exclusion anti-join
    //    runs BEFORE the ranking window so the output is always k true
    //    negatives. IDs only (argmax stable across engines) ─────────────
    "q_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 20)
      val positives = q.select(col("vec_id").as("q_id"),
          (col("vec_id") + lit(1L)).as("pos_id"))
        .unionByName(q.select(col("vec_id").as("q_id"),
          (col("vec_id") + lit(2L)).as("pos_id")))
      graft.operators.Similarity.hardNegatives(
        emb, q, positives, "embedding", "vec_id", k = 3)
        .select(col("q_id"), col("rank").cast("long").as("rank"),
          col("c_id").as("neg_id"))
        .orderBy(col("q_id"), col("rank"))
    }),

    // ── Hard negatives over the IVF index under FULL probe (nProbe =
    //    nLists): candidate coverage is complete, so the result is
    //    EXACTLY the brute-force form's — same oracle — while the plan
    //    is the production index-probe shape (broadcast probes +
    //    centroids, corpus never shuffles, over-fetch k+m → anti-join →
    //    re-rank). Production runs partial nProbe; the full-probe
    //    registration pins the exactness contract ─────────────────────
    "q_hard_negatives_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 20)
      val positives = q.select(col("vec_id").as("q_id"),
          (col("vec_id") + lit(1L)).as("pos_id"))
        .unionByName(q.select(col("vec_id").as("q_id"),
          (col("vec_id") + lit(2L)).as("pos_id")))
      graft.operators.Similarity.hardNegativesIvf(
        emb, q, positives, "embedding", "vec_id",
        graft.operators.FrozenAnn.coarse, k = 3,
        nProbe = graft.operators.FrozenAnn.coarse.length)
        .select(col("q_id"), col("rank").cast("long").as("rank"),
          col("c_id").as("neg_id"))
        .orderBy(col("q_id"), col("rank"))
    }),

    // ── Hard negatives over the PERSISTED IVF×PQ index — the build-once/
    //    probe-per-batch shape a daily mining job runs (shares the
    //    q_ann_ivfpq_indexed stored artifact). Full probe ⇒ candidate
    //    coverage complete ⇒ ground truth = ranking by PQ-reconstructed
    //    cosine with the positives excluded, which the oracle restates
    //    from the same frozen codebooks. Production runs partial nProbe ──
    "q_hard_negatives_ivfpq_indexed" -> ((s, dir) => {
      val idxDir = ensureAnnIndex(s, dir)
      val q = t(s, dir, "embeddings").where(col("vec_id") < 20)
      val positives = q.select(col("vec_id").as("q_id"),
          (col("vec_id") + lit(1L)).as("pos_id"))
        .unionByName(q.select(col("vec_id").as("q_id"),
          (col("vec_id") + lit(2L)).as("pos_id")))
      graft.operators.Similarity.hardNegativesIvfPqIndexed(
        readStored(s, s"$idxDir/ivfpq"), q, positives, "embedding", "vec_id",
        graft.operators.FrozenAnn.coarse, graft.operators.FrozenAnn.pqIndex,
        k = 3, nProbe = graft.operators.FrozenAnn.coarse.length)
        .select(col("q_id"), col("rank").cast("long").as("rank"),
          col("c_id").as("neg_id"))
        .orderBy(col("q_id"), col("rank"))
    }),

    // ── SQ8-quantized ANN: the corpus side scores DECODED 8-bit codes
    //    (asymmetric distance — probe stays full precision), ~4× less
    //    corpus memory/IO than the float baseline. The oracle re-derives
    //    the per-dimension [lo, hi] range, the round-clamp encode, and
    //    the decode in SQL, so the two engines rank the SAME quantized
    //    vectors; output is IDs only (argmax gaps dwarf cross-engine
    //    float drift, as q_ann_top1 established) ─────────────────────────
    "q_ann_sq8_top1" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = graft.operators.Similarity.sq8Train(emb, "embedding")
      val enc = graft.operators.Similarity.sq8Encode(emb, "embedding", "vec_id", idx)
      graft.operators.Similarity.sq8TopK(
        enc, emb.where(col("vec_id") < 20), "embedding", "vec_id", idx, k = 1)
        .select(col("q_id"), col("c_id").as("nn_id"))
        .orderBy(col("q_id"))
    }),

    // ── PQ-quantized ANN against the FROZEN codebook (FrozenAnn — the
    //    train-once-probe-daily artifact shape): encode corpus → score
    //    probes against reconstructions (asymmetric distance). The
    //    oracle re-derives encode → reconstruct → score → argmax in SQL
    //    from the SAME literals (AnnOracles.pqTop1); training is frozen
    //    because k-means is not SQL-expressible (spec-checked instead) ──
    "q_ann_pq_top1" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = graft.operators.FrozenAnn.pqIndex
      val enc = graft.operators.Similarity.pqEncode(emb, "embedding", "vec_id", idx)
      graft.operators.Similarity.pqTopK(
        enc, emb.where(col("vec_id") < 20), "embedding", "vec_id", idx, k = 1)
        .select(col("q_id"), col("c_id").as("nn_id"))
        .orderBy(col("q_id"))
    }),

    // ── IVF ANN against the frozen coarse quantizer: corpus spills into
    //    its 2 nearest lists, probes visit 4 of 16 — exact scoring on
    //    the pruned candidate set only ─────────────────────────────────
    "q_ann_ivf_top1" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.Similarity.ivfTopKWith(
        emb, emb.where(col("vec_id") < 20), "embedding", "vec_id",
        graft.operators.FrozenAnn.coarse, k = 1, nProbe = 4, corpusSpill = 2)
        .select(col("q_id"), col("c_id").as("nn_id"))
        .orderBy(col("q_id"))
    }),

    // ── IVF × PQ — the production composition (FAISS-IVFPQ shape):
    //    frozen lists prune WHICH rows are scored, frozen PQ codes
    //    compress WHAT they cost to score ───────────────────────────────
    "q_ann_ivfpq_top1" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.Similarity.ivfPqTopK(
        emb, emb.where(col("vec_id") < 20), "embedding", "vec_id",
        graft.operators.FrozenAnn.coarse, graft.operators.FrozenAnn.pqIndex,
        k = 1, nProbe = 4, corpusSpill = 2)
        .select(col("q_id"), col("c_id").as("nn_id"))
        .orderBy(col("q_id"))
    }),

    // ── IVF×PQ probing a PERSISTED index — the build-once/probe-per-batch
    //    production shape (the ANN analogue of q_incremental_dedup_indexed):
    //    the (list, c_id, codes) artifact is written once per corpus
    //    version, round-tripped through parquet, and the probe path never
    //    re-reads corpus vectors. Memoized per scale dir so bench
    //    iterations measure the PROBE, not a rebuild. Result-identical to
    //    q_ann_ivfpq_top1 (SimilaritySpec pins the round-trip), so it
    //    shares the same frozen-artifact oracle ──────────────────────────
    "q_ann_ivfpq_indexed" -> ((s, dir) => {
      val idxDir = ensureAnnIndex(s, dir)
      graft.operators.Similarity.ivfPqTopKIndexed(
        readStored(s, s"$idxDir/ivfpq"),
        t(s, dir, "embeddings").where(col("vec_id") < 20), "embedding", "vec_id",
        graft.operators.FrozenAnn.coarse, graft.operators.FrozenAnn.pqIndex,
        k = 1, nProbe = 4)
        .select(col("q_id"), col("c_id").as("nn_id"))
        .orderBy(col("q_id"))
    }),

    // ── Sign-LSH bucketed ANN: 16-bit hyperplane signature, 4×4-bit
    //    chunk keys, candidates share any chunk. The plane matrix is a
    //    pure function of (planes, dim, seed) — the oracle emits the
    //    same murmur3 parity bits as literals (AnnOracles.lshTop1) ─────
    "q_ann_lsh_top1" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.Similarity.approxTopKLSH(
        emb, emb.where(col("vec_id") < 20), "embedding", "vec_id", k = 1)
        .select(col("q_id"), col("c_id").as("nn_id"))
        .orderBy(col("q_id"))
    }),

    // ── North star similarity: EXACT cosine pairs (oracle-checked; IDs
    //    only — membership is stable because no corpus pair sits within
    //    ~5e-4 of the threshold, far beyond cross-engine float drift).
    //    DELIBERATELY the all-pairs exact form: at τ=0.45 the
    //    threshold-derived sign-LSH banding is r=9/b=337 with background
    //    collision b·2⁻ʳ ≈ 0.66 — candidates ≈ the full upper triangle
    //    plus 337× band rows, i.e. strictly MORE work than the exact scan
    //    (see Similarity.cosinePairsExact's regime scaladoc). The banded
    //    path owns the τ ≥ 0.8 dedup regime (q_embedding_dedup_resolved);
    //    moderate-τ search at scale is ivfTopK's job, not pair
    //    enumeration ──────────
    "q_embedding_similar_pairs" -> ((s, dir) =>
      graft.operators.Similarity.cosinePairsExact(
        t(s, dir, "embeddings"), "embedding", "vec_id", threshold = 0.45)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))),

    // ── North star text analysis: richer per-doc stats (higher-order
    //    array functions in both engines) ──────────────────────────────
    "q_text_stats" -> ((s, dir) => {
      val c = col("text")
      t(s, dir, "documents").select(
        col("doc_id"),
        graft.functions.TextAnalysis.tokenCount(c).cast("long").as("n_tokens"),
        graft.functions.TextAnalysis.bpeIshTokenCount(c).cast("long").as("n_pieces"),
        graft.functions.TextAnalysis.stopwordRatio(c).as("stop_ratio"),
        graft.functions.TextAnalysis.meanTokenLength(c).as("mean_token_len"))
        .orderBy(col("doc_id"))
    }),

    // ── North star text analysis: language-ID distribution. Native
    //    codegen'd kernel (LangIdExpr) — the scan stage stays inside
    //    whole-stage codegen, so parallelism follows input splits like
    //    every other scan (no repartition needed; the round-1 HOF form
    //    required one). Oracle: same heuristic restated in DuckDB SQL ──
    "q_lang_id" -> ((s, dir) => {
      // Multilingual fixture: doc_id % 30 ∈ [0, 26) swaps in the
      // LangProfiles sample for that code (26 languages — 17 stopword-
      // voted + 9 script-detected), the rest keep the original text.
      // The fixture is generated from the SAME LangProfiles source the
      // kernel and the oracle derive from; LangIdSpec separately pins
      // each sample to its intended code (ground truth, not just
      // cross-engine agreement).
      graft.functions.GraftFunctions.register(s)
      val lp = graft.functions.LangProfiles
      val aug = lp.sampleCodes.zipWithIndex.foldLeft(Option.empty[Column]) {
        case (acc, (code, k)) =>
          val cond = col("doc_id") % 30 === k
          val sample = lit(lp.samples(code))
          Some(acc.fold(when(cond, sample))(_.when(cond, sample)))
      }.get.otherwise(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), aug.as("text"))
        .groupBy(graft.functions.GraftFunctions.langIdNative(col("text")).as("lang_pred"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang_pred"))
    }),

    // ── Exact percentiles per group (same interpolation formula in both
    //    engines ⇒ bit-identical) ─────────────────────────────────────
    "q_percentiles" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          expr("percentile(o_totalprice, 0.25)").as("p25"),
          expr("percentile(o_totalprice, 0.5)").as("p50"),
          expr("percentile(o_totalprice, 0.75)").as("p75"),
          expr("percentile(o_totalprice, 0.9)").as("p90"))
        .orderBy(col("o_orderstatus"))),

    // ── North star dedup: end-to-end near-dup REMOVAL (detect →
    //    cluster via connected components → keep min-id survivor).
    //    Oracle-checked: the DuckDB side recomputes the exact pairs and
    //    resolves clusters with a recursive-CTE label propagation; counts
    //    agree because LSH recall == exact ground truth on this corpus
    //    (see q_minhash_near_dups) ──────────────────────────────────────
    "q_dedup_resolved" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val kept = graft.operators.Dedup.removeNearDuplicates(
        docs, "text", "doc_id", threshold = 0.5)
      docs.agg(count(lit(1)).as("n_docs")).crossJoin(
        kept.agg(count(lit(1)).as("n_kept")))
    }),

    // ── Near-dup removal with the PRIORITY survivor rule (cross-source
    //    dedup: curated beats crawl): priority = the source's numeric
    //    suffix, survivor = max priority then min id. id_checksum pins
    //    WHICH member survived each cluster, not just how many ──────────
    "q_dedup_prioritized" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("prio",
          regexp_extract(col("source"), "([0-9]+)", 1).cast("int"))
      val kept = graft.operators.Dedup.removeNearDuplicates(
        docs, "text", "doc_id", threshold = 0.5,
        detector = graft.operators.Dedup.Detector.Fixed,
        priorityCol = Some("prio"))
      docs.agg(count(lit(1)).as("n_docs")).crossJoin(
        kept.agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).cast("long").as("id_checksum")))
    }),

    // ── North star dedup: embedding-space near-dup REMOVAL via the
    //    banded sign-LSH SCALE path (detect → CC → min-id survivor).
    //    The corpus has no natural near-dups (max pair cosine ≈ 0.6 —
    //    noise tail), so the query plants one deterministic jittered copy
    //    per vec_id % 10 == 0 (the q_pii_redaction augmentation pattern:
    //    md5-keyed ±eps per dimension, identically restated in the
    //    oracle) and dedups at τ=0.9 — the regime embedding dedup
    //    actually runs at (planted pairs ≈ 0.98, noise ≤ 0.6+ε: wide
    //    margins both sides). Oracle = all-pairs cosine + recursive-CTE
    //    CC in DuckDB over the same augmented corpus; the registered
    //    Spark plan is the threshold-derived banded-LSH detector, never
    //    the quadratic exact path (that form is test-only ground truth) ──
    "q_embedding_dedup_resolved" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      // Two-step select: the md5 jitter key MUST be the ORIGINAL vec_id.
      // Aliasing `vec_id + 1000000` as "vec_id" in the SAME select makes
      // the lambda's col("vec_id") resolve to the lateral alias (the
      // OFFSET id) — a silent cross-engine augmentation mismatch the
      // count-level checks can't see (caught by q_semantic_dedup's
      // kept_id_sum, which pins per-member scores).
      val jit = e.where(col("vec_id") % 10 === 0).select(
        col("vec_id"),
        transform(col("embedding"), (x, i) =>
          x + lit(0.025) * when(
            substring(md5(concat(col("vec_id").cast("string"), lit("-"),
              (i + lit(1)).cast("string"))), 1, 1) <= lit("7"),
            lit(1.0)).otherwise(lit(-1.0))).as("embedding"))
        .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("embedding"))
      val aug = e.unionByName(jit)
      val kept = graft.operators.Dedup.removeNearDuplicatesByEmbedding(
        aug, "embedding", "vec_id", threshold = 0.9)
      aug.agg(count(lit(1)).as("n_vecs")).crossJoin(
        kept.agg(count(lit(1)).as("n_kept")))
    }),

    // ── North star dedup: SEMANTIC dedup (SemDeDup, Abbas et al. 2023) —
    //    cluster-bounded exact cosine over the frozen coarse centroids
    //    (the q_ann_ivf_top1 artifact): assign → within-cluster pairs →
    //    CC → keep-the-outlier survivor (LOWEST primary-centroid cosine
    //    per group, not min-id — the kept_id_sum column pins the rule).
    //    Same jitter augmentation as q_embedding_dedup_resolved; oracle
    //    restates assignment/pairs/CC/rank from the SAME centroid
    //    literals (AnnOracles.semanticDedup) ───────────────────────────
    "q_semantic_dedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      // Two-step select: the md5 jitter key MUST be the ORIGINAL vec_id.
      // Aliasing `vec_id + 1000000` as "vec_id" in the SAME select makes
      // the lambda's col("vec_id") resolve to the lateral alias (the
      // OFFSET id) — a silent cross-engine augmentation mismatch the
      // count-level checks can't see (caught by q_semantic_dedup's
      // kept_id_sum, which pins per-member scores).
      val jit = e.where(col("vec_id") % 10 === 0).select(
        col("vec_id"),
        transform(col("embedding"), (x, i) =>
          x + lit(0.025) * when(
            substring(md5(concat(col("vec_id").cast("string"), lit("-"),
              (i + lit(1)).cast("string"))), 1, 1) <= lit("7"),
            lit(1.0)).otherwise(lit(-1.0))).as("embedding"))
        .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("embedding"))
      val aug = e.unionByName(jit)
      val cents = graft.operators.FrozenAnn.coarse
      val pairs = graft.operators.Dedup.semanticDupPairs(
        aug, "embedding", "vec_id", cents, threshold = 0.9)
      val labels = graft.operators.Dedup.resolveClusters(pairs)
      // Survivors via the SAME labels (the removal tail factored out of
      // removeSemanticDuplicates): the composed form would re-run the
      // pair detect + CC a second time inside this one query — identical
      // output, half the detect cost (round-16 optimization).
      val kept = graft.operators.Dedup.removeSemanticByLabels(
        aug, "embedding", "vec_id", cents, labels)
      aug.agg(count(lit(1)).as("n_vecs"))
        .crossJoin(pairs.agg(count(lit(1)).as("n_pairs")))
        .crossJoin(labels.agg(countDistinct(col("label")).as("n_groups")))
        .crossJoin(kept.agg(count(lit(1)).as("n_kept"),
          coalesce(sum(col("vec_id")), lit(0L)).as("kept_id_sum")))
    }),

    // ── North star dedup: INCREMENTAL near-dup removal — dedup a new
    //    batch against an existing corpus (and within itself) without
    //    ever generating existing↔existing pairs: the daily-increment
    //    shape at 100 TB. The 300-split exercises both resolution paths
    //    on this corpus: clusters touching the existing side (all
    //    incoming members drop, incl. a 3-node chain through two
    //    existing docs) and purely-incoming clusters (min-id survivor).
    //    Oracle: exact pairs restricted to incoming-membered pairs +
    //    recursive-CTE CC + the same taint rule ─────────────────────────
    "q_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val existing = docs.where(col("doc_id") < 300)
      val incoming = docs.where(col("doc_id") >= 300)
      val kept = graft.operators.Dedup.removeNearDuplicatesIncremental(
        existing, incoming, "text", "doc_id", threshold = 0.5)
      incoming.agg(count(lit(1)).as("n_incoming")).crossJoin(
        kept.agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).cast("long").as("id_checksum")))
    }),

    // ── North star dedup: incremental removal probing a PERSISTED index —
    //    the existing corpus's (id, sh) shingle index and (id, band,
    //    band_key) band index are written once and round-tripped through
    //    parquet; the batch path never re-reads the corpus text. Same
    //    oracle as q_incremental_dedup: the stored-index probe must be
    //    result-identical to the recompute path ─────────────────────────
    "q_incremental_dedup_indexed" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val existing = docs.where(col("doc_id") < 300)
      val incoming = docs.where(col("doc_id") >= 300)
      // The index is a per-corpus-version artifact: built ONCE, probed
      // every batch. Memoizing the build per scale dir makes repeated
      // invocations (bench iterations) measure the production shape —
      // the probe against the stored index — not a rebuild.
      val (idx, idxRows) = ndIndexDirs.computeIfAbsent(dir, { d =>
        val path = java.nio.file.Files.createTempDirectory("graft_ndidx").toString
        val ex = t(s, d, "documents").where(col("doc_id") < 300)
        graft.etl.Warehouse.stageParquet(
          graft.operators.Dedup.shingleIndex(ex, "text", "doc_id"),
          s"$path/shingles")
        graft.etl.Warehouse.stageParquet(
          graft.operators.Dedup.minHashBandIndex(
            s.read.parquet(s"$path/shingles"), threshold = 0.5),
          s"$path/bands")
        graft.etl.Warehouse.stageParquet(
          graft.operators.Dedup.minHashSignatureHead(
            s.read.parquet(s"$path/shingles")),
          s"$path/sigheads")
        // the count is a build-time artifact, like the index itself
        (path, s.read.parquet(s"$path/shingles").count())
      })
      val shStored = readStored(s, s"$idx/shingles")
      val bandsStored = readStored(s, s"$idx/bands")
      val headsStored = readStored(s, s"$idx/sigheads")
      val kept = graft.operators.Dedup.removeNearDuplicatesIncrementalIndexed(
        bandsStored, shStored, incoming, "text", "doc_id", threshold = 0.5,
        existingSigHead = Some(headsStored),
        knownCorpusRows = Some(idxRows))
      incoming.agg(count(lit(1)).as("n_incoming")).crossJoin(
        kept.agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).cast("long").as("id_checksum")))
    }),

    // ── North star: the WHOLE pre-training pipeline end to end — quality
    //    gate → exact dedup → near-dup removal → benchmark
    //    decontamination → PII redaction → split → chunking, one row of
    //    per-stage kept counts + survivor id checksum + chunk totals.
    //    The single highest-value integration check: every stage's DuckDB
    //    restatement (each already oracle-proven in isolation) composed
    //    into one ground-truth CTE chain ─────────────────────────────────
    "q_corpus_pipeline" -> ((s, dir) => corpusPipelineQuery(s, dir, tuned = false)),

    // ── Same end-to-end pipeline with the SCALE dedup configuration:
    //    tunedNearDedup swaps the near-dup stage to the per-corpus tuned
    //    detector (sampled-background band tuning + self-gating signature
    //    prefilter). Same ground-truth oracle — survivors are identical
    //    by construction (both detectors exact-verify the threshold);
    //    what changes is the cost curve on high-background corpora ──────
    "q_corpus_pipeline_tuned" -> ((s, dir) => corpusPipelineQuery(s, dir, tuned = true)),

    // ── Same pipeline with the SEMANTIC dedup rung on: planted
    //    paraphrase twins (reversed tokens — lexically invisible —
    //    + jittered embeddings) must pass every shingle rung and
    //    collapse only at the embedding stage. See
    //    corpusPipelineSemanticQuery ─────────────────────────────────────
    "q_corpus_pipeline_semantic" -> ((s, dir) => corpusPipelineSemanticQuery(s, dir)),
    // ── The semantic rung in JL-PROJECTED space (projectTo = 16): the
    //    one-flag scale configuration — vectors project through the
    //    integer-exact codegen'd fold, the centroid codebook projects
    //    driver-side through the SAME fold, and assignment / pair
    //    cosine / keep-the-outlier all run at 16 dims. Oracle restates
    //    the PROJECTED rung (matrix cells + projected-centroid literals
    //    from the engine's own generators), pinning the composition
    //    against drift ──────────────────────────────────────────────────
    "q_corpus_pipeline_semantic_jl" -> ((s, dir) =>
      corpusPipelineSemanticQuery(s, dir, projectTo = Some(16))),

    // ── The pipeline with FUZZY decontamination on: planted reworded
    //    benchmark twins (marker token every 7 normalized tokens — no
    //    verbatim 8-gram survives, trigram Jaccard ≈ 0.5) must pass the
    //    exact decon AND the 0.8 near-dup rung, and drop only at the
    //    fuzzy stage. See corpusPipelineFuzzyQuery ──────────────────────
    "q_corpus_pipeline_fuzzy" -> ((s, dir) => corpusPipelineFuzzyQuery(s, dir)),
    "q_corpus_pipeline_dsir" -> ((s, dir) => corpusPipelineDsirQuery(s, dir)),
    "q_corpus_pipeline_url" -> ((s, dir) => corpusPipelineUrlQuery(s, dir)),
    "q_corpus_pipeline_c4" -> ((s, dir) => corpusPipelineC4Query(s, dir)),

    // ── The SCALE-PRESCRIBED c4 configuration (round-11 verdict item 2):
    //    the same C4 chain with the line-level dedup rung on — shared
    //    boilerplate lines are scrubbed before shingling, which is the
    //    measured 237.5 → 96.4 s fix at 500k on high-boilerplate crawl
    //    corpora. This registered+benched form IS the configuration
    //    users should run at scale ─────────────────────────────────────
    "q_corpus_pipeline_c4_lines" -> ((s, dir) =>
      corpusPipelineC4Query(s, dir, lineDedup = true)),
    // ── The pipeline with the MODEL quality gate folded into the
    //    quality scan: the frozen hashed-linear scorer's logit joins the
    //    rule conjunction (one more codegen'd term, no extra stage) and
    //    only the filler-augmented target class clears minLogit=0. See
    //    corpusPipelineModelQuery ───────────────────────────────────────
    "q_corpus_pipeline_model" -> ((s, dir) => corpusPipelineModelQuery(s, dir)),
    // ── The pipeline with the PERPLEXITY gate folded into the quality
    //    scan: the frozen trigram Stupid-Backoff LM's per-token mean
    //    log-score gates at minMeanLog (exact integer decision — one
    //    more codegen'd term, no extra stage); only the filler-bearing
    //    reference-shaped class clears the cut. The CCNet LM-filter
    //    rung, composed. See corpusPipelinePplQuery ────────────────────
    "q_corpus_pipeline_ppl" -> ((s, dir) => corpusPipelinePplQuery(s, dir)),
    // ── The pipeline with the TRAINING-MIX TAIL on: per-source cap after
    //    the gate (WindowGroupLimit), token-share mixing after the
    //    selection rungs (key-pure md5 rates from the survivors' token
    //    histogram), and greedy sequence packing of the final chunks —
    //    the three stages a real pre-training run executes between
    //    curation and the trainer. See corpusPipelineMixQuery ──────────
    "q_corpus_pipeline_mix" -> ((s, dir) => corpusPipelineMixQuery(s, dir)),
    // ── The pipeline chunking/packing on TRAINED-BPE pieces: the
    //    bpeChunking Config swaps the window unit to the frozen merge
    //    table's pieces (the units a trainer actually packs), and the
    //    packing budget then counts true pieces — the accounting a real
    //    run needs end to end. See corpusPipelineBpeQuery ──────────────
    "q_corpus_pipeline_bpe" -> ((s, dir) => corpusPipelineBpeQuery(s, dir)),

    // ── The multimodal pipeline variant: documents carry an image
    //    payload (ImageFixture PNGs on doc_id < 60, NULL elsewhere) and
    //    the perceptual image-dedup rung (128-bit h∥v dHash) runs
    //    between near-dup and decontamination. Oracle restates the
    //    image stage from the frozen grids (imageHamming128Ctes) +
    //    recursive-CTE CC over stage-3 survivors ─────────────────────────
    "q_corpus_pipeline_image" -> ((s, dir) => corpusPipelineImageQuery(s, dir)),
    // ── The pipeline with the perceptual AUDIO rung composed in: WAV
    //    payloads on doc_id < 60 (AudioFixture triples), twins collapse
    //    to min-id at the audio stage, payload-less docs pass. Oracle
    //    restates the stage from the ANALYTIC envelope
    //    (audioHammingCtes). See corpusPipelineAudioQuery ──────────────
    "q_corpus_pipeline_audio" -> ((s, dir) => corpusPipelineAudioQuery(s, dir)),
    // ── The pipeline with the perceptual VIDEO rung composed in: AVI
    //    payloads on doc_id < 45 (VideoFixture triples — REAL container
    //    decode, raw BI_RGB frames), twins collapse to min-id at the
    //    video stage via the aligned-frame matched gate, payload-less
    //    docs pass. Oracle restates the stage from the ANALYTIC frame
    //    grids (videoMatchCtes). See corpusPipelineVideoQuery ──────────
    "q_corpus_pipeline_video" -> ((s, dir) => corpusPipelineVideoQuery(s, dir)),
    // ── The COMPOSED MEDIA-DECONTAMINATION pipeline: the image-variant
    //    chain plus the media benchmark probe — corpus image payloads
    //    probe a frozen benchmark hash index right after text decon
    //    (leaked eval images drop; their image-dedup survivors are what
    //    probe). Oracle restates BOTH image stages from the frozen 9×8
    //    luma grids: the 128-bit dedup pairs and the 64-bit all-pairs
    //    benchmark Hamming ─────────────────────────────────────────────
    "q_corpus_pipeline_media_decon" -> ((s, dir) =>
      corpusPipelineMediaDeconQuery(s, dir)),
    // ── The COMPOSED MULTILINGUAL pipeline: the full chain under the
    //    script-aware tokenizer (Config.tokenizer = Tok.Ml) over the
    //    multilingual fixture — per-script Gopher gate drops the planted
    //    zh/en garbage, the ml exact rung collapses the byte-identical
    //    zh duplicate, the ml near-dup rung removes the zh/ja/ru/ar/en
    //    twins (invisible under the Latin tokenizer), decontamination
    //    drops the CJK benchmark leak, and chunking windows ml tokens.
    //    The proof the round-13 ml surface COMPOSES, not just
    //    coexists. Oracle: every rung restated in DuckDB from the same
    //    generated tables (Tok.Ml.sqlTokens / LangProfiles /
    //    gopherRuleSqlsMl — no-drift) ───────────────────────────────────
    "q_corpus_pipeline_ml" -> ((s, dir) => corpusPipelineMlQuery(s, dir)),

    // ── North star (round 15): the ALL-RUNGS composed pipeline — ml
    //    tokenizer + gopher gate, ml exact/near dedup, SEMANTIC-JL rung
    //    (projectTo=16), perceptual IMAGE dedup, CJK text decon, MEDIA
    //    decon (frozen benchmark image hashes), token-share MIX, ml
    //    chunking, sequence PACKING — one config, one oracle. The 19
    //    sibling variants pin each rung group; this pins their
    //    cross-rung interactions (ml fingerprints feed the mix strata
    //    AFTER media removal, the semantic survivor feeds the image
    //    rung, ...). Fixture: MlFixture.fullDocs (+ per-doc embedding
    //    literals, ImageFixture payloads, id%3 strata) ─────────────────
    "q_corpus_pipeline_full" -> ((s, dir) => corpusPipelineFullQuery(s, dir)),

    // ── North star text analysis: corpus vocabulary — top tokens by
    //    frequency (explode → partial-agg → TakeOrderedAndProject; the
    //    shuffle carries one row per distinct token per task) ───────────
    "q_top_tokens" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      t(s, dir, "documents")
        .select(explode(graft.functions.GraftFunctions.normTokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)
    }),

    // ── North star sampling: deterministic content-stable sample —
    //    membership is a pure function of the key (md5 prefix), so the
    //    identical predicate runs in the DuckDB oracle and the checksum
    //    pins exact membership, not just the count ─────────────────────
    "q_deterministic_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sampled = graft.operators.Sampling.deterministicSample(docs, "doc_id", 0.25)
      docs.agg(count(lit(1)).as("n_docs")).crossJoin(
        sampled.agg(count(lit(1)).as("n_sampled"),
          sum(col("doc_id")).cast("long").as("id_checksum")))
    }),

    // ── North star sampling: PER-SOURCE document cap (the C4/RefinedWeb
    //    domain cap) — keep the k best docs per source by length,
    //    deterministic tie-break on id; the per-source kept counts +
    //    id checksums pin exact membership. One shuffle on the group
    //    key; the rank ≤ k filter plans as WindowGroupLimit (bounded
    //    per-group buffer, no full-group sort at a hot domain) ─────────
    "q_source_cap" -> ((s, dir) => {
      graft.operators.Sampling.capPerGroup(
        t(s, dir, "documents"), "source", "doc_id", 10, col("n_chars"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).cast("long").as("id_checksum"))
        .orderBy(col("source"))
    }),

    // ── North star sampling: CLUSTER-BALANCED subsample — nearest frozen
    //    coarse centroid as the topic key (the q_ann assignment ordering,
    //    restated from the same literals), then keep the k best rows per
    //    cluster by a deterministic md5 score, ties by id. Per-cluster
    //    kept counts + id checksums pin exact membership; the assignment
    //    is one narrow literal expression, the only shuffle is the
    //    WindowGroupLimit cap ─────────────────────────────────────────────
    "q_cluster_balanced_sample" -> ((s, dir) => {
      val score = conv(substring(md5(col("vec_id").cast("string")), 1, 8),
        16, 10).cast("double")
      graft.operators.Sampling.clusterBalancedSample(
        t(s, dir, "embeddings"), "embedding", "vec_id",
        graft.operators.FrozenAnn.coarse, k = 5, orderBy = score)
        .groupBy(col("cluster").cast("long").as("cluster"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("vec_id")).cast("long").as("id_checksum"))
        .orderBy(col("cluster"))
    }),

    // ── North star sampling: STRATIFIED deterministic sample (per-lang
    //    keep rates — the training-mix rebalancing pass). Same key-pure
    //    md5 bucket as q_deterministic_sample; the identical CASE
    //    predicate runs in the oracle, and the checksum pins exact
    //    membership per stratum ──────────────────────────────────────────
    "q_stratified_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sampled = graft.operators.Sampling.stratifiedSample(
        docs, "doc_id", "lang",
        rates = Map("en" -> 0.5, "zh" -> 0.25), defaultFraction = 0.1)
      sampled.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"),
          sum(col("doc_id")).cast("long").as("id_checksum"))
        .orderBy(col("lang"))
    }),

    // ── North star sampling: temperature-based training-mix resampling
    //    (q_s ∝ p_s^α, α=0.5 flattening toward rare languages, expected
    //    total ≈ half the corpus). Rates are derived from the lang
    //    histogram, 4-decimal-rounded (the pow/float-parity discipline),
    //    and applied through the same key-pure md5 predicate — the oracle
    //    re-derives the rates and thresholds entirely in SQL ─────────────
    "q_temperature_resample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Sampling.temperatureResample(
        docs, "doc_id", "lang", alpha = 0.5, targetFraction = 0.5)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"),
          sum(col("doc_id")).cast("long").as("id_checksum"))
        .orderBy(col("lang"))
    }),

    // ── North star dedup: line-level (paragraph) boilerplate removal —
    //    lines appearing in ≥ 2 distinct docs are scrubbed from ALL docs.
    //    The corpus has no natural line structure, so each doc gains a
    //    shared copyright footer (doc_id % 2 == 0) and a unique footer
    //    (the deterministic-augmentation pattern, restated in the
    //    oracle); the dedup must remove exactly the shared line ──────────
    "q_line_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val aug = docs.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 2 === 0,
            lit("\ncopyright footer all rights reserved")).otherwise(lit("")),
          lit("\ndoc "), col("doc_id").cast("string"), lit(" unique footer"))
          .as("text"))
      graft.operators.LineDedup.removeDuplicatedLines(aug, "text", "doc_id")
        .select(col("doc_id"), md5(col("text")).as("text_fp"),
          when(length(col("text")) === 0, lit(0L))
            .otherwise(size(split(col("text"), "\n")).cast("long"))
            .as("n_lines_kept"))
        .orderBy(col("doc_id"))
    }),

    // ── North star dedup: INTRA-document line collapse — repeated lines
    //    within ONE page keep only their first occurrence (the within-
    //    page sibling of q_line_dedup; a nav menu pasted twice into one
    //    page never trips the cross-doc distinct-document count). One
    //    narrow codegen'd projection, no shuffle. Augmentation plants a
    //    thrice-repeated line + blank-line runs (blanks always survive)
    //    + a per-doc unique line ───────────────────────────────────────
    "q_doc_line_collapse" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val aug = docs.select(col("doc_id"),
        concat(col("text"),
          lit("\nrepeated nav menu line\nrepeated nav menu line\n\n\ndoc "),
          col("doc_id").cast("string"),
          lit(" unique line\nrepeated nav menu line")).as("text"))
      graft.operators.LineDedup.collapseRepeatedLines(aug, "text")
        .select(col("doc_id"), md5(col("text")).as("text_fp"),
          size(split(col("text"), "\n")).cast("long").as("n_lines_kept"))
        .orderBy(col("doc_id"))
    }),

    // ── North star dedup: span-level (substring) removal — every 8-token
    //    window occurring ≥ 2 times corpus-wide is scrubbed from ALL its
    //    occurrences (Lee et al. ACL 2022 semantics, windowed-hash form).
    //    A 13-token boilerplate sentence is planted in every third doc
    //    (longer than n → the overlapping-window union must reconstruct
    //    it) plus a per-doc unique tail that must survive; the oracle
    //    rediscovers spans from exact strings where Spark uses xxhash64
    //    (collision-free at any testable scale — the documented
    //    contamination bound) ───────────────────────────────────────────
    "q_span_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val aug = docs.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0, lit(
            " shared sponsor message please subscribe to our newsletter" +
            " for updates and offers today")).otherwise(lit("")),
          lit(" doc "), col("doc_id").cast("string"), lit(" unique tail"))
          .as("text"))
      graft.operators.SpanDedup.removeDuplicatedSpans(
          aug, "text", "doc_id", n = 8)
        .select(col("doc_id"), md5(col("text")).as("text_fp"),
          when(length(col("text")) === 0, lit(0L))
            .otherwise(size(split(col("text"), " ")).cast("long"))
            .as("n_tokens_kept"))
        .orderBy(col("doc_id"))
    }),

    // ── North star selection: quality-first curation under a global
    //    token budget — greedy prefix of the (quality DESC, id) order.
    //    The plan is the distributed prefix sum (range partition →
    //    per-partition totals → broadcast offsets → local window), NEVER
    //    a single-partition global window; the oracle is the equivalent
    //    one-window cumsum in DuckDB ────────────────────────────────────
    "q_budget_selection" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = docs.select(col("doc_id"),
        graft.functions.TextAnalysis.qualityScore(col("text")).as("quality"),
        graft.functions.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Selection.selectUnderTokenBudget(
        scored, "quality", "n_tokens", "doc_id", budget = 20000L)
        .agg(count(lit(1)).as("n_selected"),
          sum(col("doc_id")).cast("long").as("id_checksum"),
          sum(col("n_tokens")).cast("long").as("token_total"))
    }),

    // ── Event funnel: clicks converting to a purchase within 10 minutes,
    //    per user — the KEYED range join (candidates meet on
    //    (user_id, time-bucket), so bucket fan-out is per-user local,
    //    never an event-storm × all-users product) ──────────────────────
    "q_event_funnel" -> ((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("c_start"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("c_end"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"))
      val converted = graft.operators.Joins.rangeJoinPointInterval(
          purchases, "p_ts", clicks, "c_start", "c_end",
          bucketSeconds = 600, keys = Seq("user_id"))
        .groupBy(col("user_id"))
        .agg(countDistinct(col("click_id")).as("n_converted"))
      clicks.groupBy(col("user_id")).agg(count(lit(1)).as("n_clicks"))
        .join(converted, Seq("user_id"), "left")
        .select(col("user_id"), col("n_clicks"),
          coalesce(col("n_converted"), lit(0L)).as("n_converted"))
        .orderBy(col("user_id"))
    }),

    // ── North star text analysis: TF-IDF top terms per document —
    //    explode → (doc, token) tf → token df join → smooth-idf score,
    //    per-doc top-3. Ranking uses the 9-decimal-rounded score so an
    //    engine's last-ulp ln() difference can't reorder; the emitted
    //    columns are integer-exact ─────────────────────────────────────
    "q_tfidf_top_terms" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val docs = t(s, dir, "documents")
      val tf = docs
        .select(col("doc_id"),
          explode(graft.functions.GraftFunctions.normTokens(col("text"))).as("token"))
        .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val total = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, Seq("token")).crossJoin(total)
        .where(col("doc_id") < 20)
        .withColumn("tfidf",
          round(col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0), 9))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("token"))
      scored.withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
        .select(col("doc_id"), col("token"), col("tf"), col("df"), col("rk"))
        .orderBy(col("doc_id"), col("rk"))
    }),

    // ── Skew mitigation, oracle-checked: two-stage salted aggregation
    //    over the 5-hot-key events table — stage 1 spreads each key over
    //    32 salt reducers with DECIMAL partials (decomposable ⇒ the merge
    //    on the true key is EXACT, so salting is invisible in results,
    //    which is precisely what the oracle asserts) ─────────────────────
    "q_skew_salted_agg" -> ((s, dir) =>
      graft.operators.Skew.saltedAggregate(
        events(s, dir), Seq("event_type"), saltBuckets = 32,
        partials = Seq(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(25, 10))).as("v")),
        merges = Seq(sum(col("n")).as("n_events"),
          sum(col("v")).cast(DecimalType(18, 4)).cast("double").as("value_sum")))
        .orderBy(col("event_type"))),

    // ── Skew mitigation, oracle-checked (join form): the big side gets a
    //    random salt, the small side replicates saltBuckets×, the join key
    //    becomes (key, salt) so one hot key spreads over 8 reducers — and
    //    the result must be indistinguishable from the plain join ───────
    "q_skew_salted_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val dim = ev.groupBy(col("event_type"))
        .agg(dsum(col("value")).as("type_value_sum"))
      graft.operators.Skew.saltedJoin(ev, dim, "event_type", saltBuckets = 8)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), max(col("type_value_sum")).as("type_value_sum"))
        .orderBy(col("event_type"))
    }),

    // ── North star quality: the composite document quality score —
    //    the same component formulas as q_text_stats, clamped and
    //    averaged; identical arithmetic order in both engines ⇒ the raw
    //    doubles hash-match ──────────────────────────────────────────────
    "q_quality_composite" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.functions.TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))),

    // ── Event analytics: daily retention cohorts — each user's cohort is
    //    their first-activity day; one (cohort_day, activity_day) cell
    //    counts distinct active users. Two shuffles (per-user min, then
    //    cell count-distinct), both on keys that scale with users ───────
    "q_retention_cohorts" -> ((s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val cohort = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
      ev.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_day"), col("day"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy(col("cohort_day"), col("day"))
    }),

    // ── North star chunking: overlapping fixed-size token windows (the
    //    pre-tokenization pass before packing) — one narrow codegen'd
    //    scan stage, no shuffle. chunk_fp = md5(chunk text) pins exact
    //    window content without shipping the text ───────────────────────
    "q_doc_chunks" -> ((s, dir) =>
      graft.operators.Chunking.chunkByTokens(
        t(s, dir, "documents"), "text", "doc_id", chunkTokens = 64, overlapTokens = 16)
        .withColumn("chunk_fp", md5(col("chunk_text"))).drop("chunk_text")
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // ── North star packing: greedy token-budget packing of chunks into
    //    fixed-length training examples (the stage after chunking in a
    //    pre-training pipeline). Deterministic end to end: key-pure md5
    //    shard, (doc_id, chunk_idx) in-shard order, pure greedy fold —
    //    restated verbatim as a DuckDB recursive CTE (one lockstep
    //    iteration advances every (split, shard) group by one chunk).
    //    Examples never cross splits (a train/test-mixing example would
    //    leak through the pack) ─────────────────────────────────────────
    "q_packed_examples" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val chunks = graft.operators.Chunking.chunkByTokens(
        docs, "text", "doc_id", chunkTokens = 64, overlapTokens = 16)
      val splits = graft.operators.Sampling.hashSplit(docs, "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select(col("doc_id"), col("split"))
      graft.operators.Packing.packExamples(
        chunks.join(splits, Seq("doc_id")), tokenBudget = 256,
        splitCol = Some("split"))
        .withColumn("doc_starts_str",
          array_join(transform(col("doc_starts"), x => x.cast("string")), ","))
        .drop("doc_starts")
        .orderBy(col("example_id"))
    }),

    // ── North star packing #2: token IDS from packing — chunk on the
    //    FrozenBpe piece stream, pack at the budget, and emit each
    //    example's `input_ids` (member pieces' vocab ids in pack order;
    //    id space = merge rank ∪ code points × the '▁' marker bit,
    //    deterministic from the merge table alone). The tensor a trainer
    //    consumes, pinned id-for-id against the oracle's replace-chain
    //    piece stream + the same id arithmetic ─────────────────────────
    "q_packed_input_ids" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.operators.FrozenBpe.model
      val chunks = graft.operators.Chunking.chunkByTokens(
        docs, "text", "doc_id", chunkTokens = 64, overlapTokens = 16,
        tokenizer = Some(graft.operators.Bpe.pieces(col("text"), model)))
      val splits = graft.operators.Sampling.hashSplit(docs, "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select(col("doc_id"), col("split"))
      graft.operators.Packing.packExamples(
        chunks.join(splits, Seq("doc_id")), tokenBudget = 256,
        splitCol = Some("split"),
        inputIds = Some(graft.operators.Bpe.pieceIds(col("chunk_text"), model)))
        .select(col("example_id"), col("split"), col("n_chunks"),
          col("n_tokens"),
          array_join(transform(col("input_ids"), i => i.cast("string")), ",")
            .as("input_ids_str"))
        .orderBy(col("example_id"))
    }),

    // ── North star quality: unigram log-probability score (the CCNet-ish
    //    LM-filtering proxy) — corpus unigram frequencies joined back to
    //    token occurrences; per-token ln rounds into DECIMAL(25,9) so
    //    the per-doc sum is EXACT and order-independent (a double sum
    //    would drift across partitionings and engines). Scale 9, not 12:
    //    a 10k-token doc's scaled-integer sum stays ≪ 2⁵³, keeping the
    //    final decimal→double cast exact in BOTH engines (DuckDB's
    //    wide-decimal→double conversion is not correctly rounded — the
    //    same bound the dsum discipline pins) ───────────────────────────
    "q_unigram_logprob" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val toksE = t(s, dir, "documents").select(col("doc_id"),
        explode(graft.functions.GraftFunctions.normTokens(col("text"))).as("token"))
      val vocab = toksE.groupBy(col("token")).agg(count(lit(1)).as("tf"))
      val total = toksE.agg(count(lit(1)).as("n_total"))
      toksE.join(vocab, Seq("token")).crossJoin(total)
        .withColumn("lp", log(col("tf") / col("n_total")).cast(DecimalType(25, 9)))
        .groupBy(col("doc_id"))
        // NO post-round: the scale-9 decimal sum casts to double EXACTLY
        // in both engines (scaled integer ≪ 2⁵³), while round(·, 6) sits a
        // half-way-tie away from an engine-specific rounding-mode mismatch
        // (observed: one sf0.1 doc landing on x.xxx0535 → ±1e-6 split)
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("lp")).cast("double").as("logprob"))
        .orderBy(col("doc_id"))
    }),

    // ── North star quality: bigram LM score — add-one-smoothed
    //    conditional log-prob P(w2|w1) = (c(w1 w2)+1)/(c(w1)+V) summed per
    //    doc, completing the n-gram LM family next to q_unigram_logprob.
    //    Same decimal discipline (per-term ln → DECIMAL(25,9) ⇒ exact
    //    order-independent sums); count shuffles are keyed on the grams,
    //    the per-doc rollup on doc_id — all hash-partitioned ─────────────
    "q_bigram_logprob" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val docs = t(s, dir, "documents")
      val bigrams = docs.select(col("doc_id"),
        explode(graft.functions.GraftFunctions.ngramsNative(col("text"), 2)).as("bg"))
      val toks = docs.select(
        explode(graft.functions.GraftFunctions.normTokens(col("text"))).as("token"))
      val uniC = toks.groupBy("token").agg(count(lit(1)).as("uc"))
      val biC = bigrams.groupBy("bg").agg(count(lit(1)).as("bc"))
      val vocab = uniC.agg(count(lit(1)).as("v"))
      bigrams
        .withColumn("token", split(col("bg"), " ").getItem(0))
        .join(biC, Seq("bg"))
        .join(uniC, Seq("token"))
        .crossJoin(vocab)
        .withColumn("lp",
          log((col("bc") + lit(1).cast("double")) / (col("uc") + col("v")))
            .cast(DecimalType(25, 9)))
        .groupBy(col("doc_id"))
        // exact decimal→double cast, no lossy round — see q_unigram_logprob
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("lp")).cast("double").as("logprob"))
        .orderBy(col("doc_id"))
    }),

    // ── North star sampling: reproducible train/val/test split ────────
    "q_hash_split" -> ((s, dir) =>
      graft.operators.Sampling.hashSplit(t(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .groupBy(col("split")).agg(count(lit(1)).as("n"))
        .orderBy(col("split"))),

    // ── Word-blocklist gate (C4-style badwords filter): token-exact
    //    membership against a literal array — no regex, no substring
    //    false hits; one narrow scan ────────────────────────────────────
    "q_blocklist_filter" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val docs = t(s, dir, "documents")
      val kept = docs.where(!graft.functions.TextAnalysis
        .containsBlockedWord(col("text"), Seq("dup", "contraband")))
      docs.agg(count(lit(1)).as("n_docs")).crossJoin(
        kept.agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).cast("long").as("id_checksum")))
    }),

    // ── PHRASE-blocklist gate: contiguous-token-run membership via the
    //    native n-gram stream — one arrays_overlap per distinct phrase
    //    LENGTH (here 1-, 2-, and 3-token entries → three narrow array
    //    checks in one scan stage), token-exact, no regex ───────────────
    "q_phrase_blocklist" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val docs = t(s, dir, "documents")
      val kept = docs.where(!graft.functions.TextAnalysis
        .containsBlockedPhrase(col("text"),
          Seq("contraband", "table hash", "slow hash batch")))
      docs.agg(count(lit(1)).as("n_docs")).crossJoin(
        kept.agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).cast("long").as("id_checksum")))
    }),

    // ── Training-mix composition: downsample three sources to 50/30/20
    //    TOKEN shares (n_chars as the mass column) at the largest total
    //    the downsample-only constraint allows — the binding stratum
    //    keeps rate 1.0. Rate derivation restated verbatim in SQL ───────
    "q_token_mix" -> ((s, dir) => {
      val mixed = graft.operators.Sampling.mixToTokenShares(
        t(s, dir, "documents"), "doc_id", "source", "n_chars",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
      mixed.groupBy(col("source")).agg(
        count(lit(1)).as("n_sampled"),
        sum(col("n_chars")).cast("long").as("tok_sum"),
        sum(col("doc_id")).cast("long").as("id_checksum"))
        .orderBy(col("source"))
    }),

    // ── Deterministic training-order shuffle into 8 shards: the
    //    order_checksum (Σ pos·doc_id per shard) pins the FULL
    //    permutation, not just shard membership — any swap of two
    //    adjacent rows changes it ───────────────────────────────────────
    "q_shard_shuffle" -> ((s, dir) => {
      val sh = graft.operators.Sampling.shuffleIntoShards(
        t(s, dir, "documents"), "doc_id", 8, seed = "e0")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("shuffle_key"), col("doc_id"))
      sh.withColumn("pos", row_number().over(w))
        .groupBy(col("shard")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("pos") * col("doc_id")).cast("long").as("order_checksum"))
        .orderBy(col("shard"))
    }),

    // ── North star accounting: TRAINED-BPE token counts (Sennrich ACL
    //    2016 / GPT-2 reference encoder — public algorithm) under the
    //    frozen in-library-trained merge table: per-doc word count,
    //    piece count, and an order-sensitive md5 of the piece stream.
    //    ONE narrow codegen'd kernel scan (BpeEncodeExpr — merge table
    //    travels as a codegen reference object); the oracle restates
    //    serving as a FIXED chain of string replaces, provably equal to
    //    the canonical min-rank loop because training only emits
    //    fresh-output merges (BpeSpec proves the equivalence against an
    //    independent reference implementation word by word) ────────────
    "q_bpe_token_counts" -> ((s, dir) =>
      graft.operators.Bpe.tokenCounts(t(s, dir, "documents"), "text",
        "doc_id", graft.operators.FrozenBpe.model)
        .orderBy(col("doc_id"))),

    // ── BPE over the MULTILINGUAL tokenizer: the frozen (English-
    //    trained) merge table serves zh/ja/ru/ar text through its
    //    code-point base symbols — no merge applies to a non-Latin
    //    word, so each surfaces as codepoint pieces with the '▁'
    //    marker, losslessly. The md5 of the full piece stream pins the
    //    entire ml-tokenize → piece → marker path across engines ──────
    "q_bpe_token_counts_ml" -> ((s, dir) =>
      graft.operators.Bpe.tokenCounts(graft.operators.MlFixture.frame(s),
        "text", "doc_id", graft.operators.FrozenBpe.model,
        graft.functions.Tok.Ml)
        .orderBy(col("doc_id"))),

    // ── BPE DETOKENIZATION round-trip: text → pieces → vocab ids →
    //    bpe_decode must reproduce the space-joined normalized tokens
    //    EXACTLY (the '▁' word-boundary marker makes the piece/id
    //    stream lossless — the trainer-side data-loading inverse). The
    //    oracle states the theorem directly: decoded ≡ DuckDB's own
    //    independent normalization of the text ─────────────────────────
    "q_bpe_roundtrip" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      import graft.functions.GraftFunctions.{bpeDecode, bpePieceIds, bpePieces}
      val m = graft.operators.FrozenBpe.model.merges
      t(s, dir, "documents").select(col("doc_id"),
          bpeDecode(bpePieceIds(
            concat_ws(" ", bpePieces(col("text"), m)), m), m).as("decoded"))
        .select(col("doc_id"), md5(col("decoded")).as("decoded_fp"),
          when(length(col("decoded")) === 0, lit(0L))
            .otherwise(size(split(col("decoded"), " ")).cast("long"))
            .as("n_words"))
        .orderBy(col("doc_id"))
    }),

    // ── North star multimodal: PERCEPTUAL image near-dup pairs — dHash
    //    over the REAL decode + bilinear-resize path (javax.imageio, no
    //    external codec), then the same Hamming-LSH chunk banding as the
    //    text simhash family. Fixture: 60 deterministic PNGs in
    //    base/near-dup/unrelated triples (ImageFixture). The oracle
    //    restates hash → band → Hamming from the FROZEN 9×8 luma grids
    //    (FrozenImageGrids — the oracle cannot decode PNG; the decode
    //    itself is pinned by MultimodalSpec's live ≡ frozen assert, the
    //    FrozenAnn discipline) ──────────────────────────────────────────
    // ── MEDIA decontamination: the corpus's image payloads probe a
    //    FROZEN benchmark hash index (every 5th fixture image) with the
    //    dHash + Hamming-band machinery — the q_contamination_fuzzy_
    //    indexed shape for media. A corpus item is flagged iff some
    //    benchmark image sits within Hamming 6 (itself, or its planted
    //    near-twin). Oracle: ground-truth ALL-PAIRS Hamming restated
    //    from the frozen 9×8 luma grids (both sides), independent of
    //    the banding — complete recall within the bound is the
    //    pigeonhole guarantee, precision is exact ───────────────────────
    "q_media_contamination" -> ((s, dir) => {
      val media = graft.operators.ImageFixture.frame(s)
      val bench = media.where(col("media_id") % 5 === 0)
      graft.operators.Dedup.mediaContaminationHits(
        media,
        graft.operators.Dedup.imageHashFrame(bench, "media_id",
          "media_type", "content"),
        "media_id", "media_type", "content", kind = "image", maxHamming = 6)
        .orderBy(col("corpus_id"))
    }),

    "q_image_near_dups" -> ((s, dir) => {
      val media = graft.operators.ImageFixture.frame(s)
      graft.operators.Dedup.imageNearDupPairs(
          media, "media_id", "media_type", "content", maxHamming = 6)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── The 128-bit companion: horizontal ∥ vertical dHash banded over
    //    maxHamming+1 chunks of the concat — chunks twice as wide as the
    //    64-bit layout at the same bound, so background bucket
    //    collisions fall ~2^9 per chunk while recall stays complete
    //    (pigeonhole). Oracle restated from BOTH frozen grid families ──
    "q_image_near_dups_128" -> ((s, dir) => {
      val media = graft.operators.ImageFixture.frame(s)
      graft.operators.Dedup.imageNearDupPairs128(
          media, "media_id", "media_type", "content", maxHamming = 6)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── North star multimodal: PERCEPTUAL audio near-dup pairs — the
    //    Haitsma-Kalker-style sign-of-energy-difference fingerprint
    //    (time-envelope form) over the REAL javax.sound.sampled PCM
    //    decode, banded with the same Hamming-LSH chunks as the
    //    simhash/image families. Fixture: 60 deterministic WAVs in
    //    base/near-dup/unrelated triples (AudioFixture); the synthesis
    //    is a ±A square wave so each window's L1 envelope is EXACTLY
    //    64·amplitude — the oracle restates hash → band → Hamming from
    //    that analytic envelope (stronger than a frozen-decode pin;
    //    MultimodalSpec asserts live decode ≡ analytic) ────────────────
    "q_audio_near_dups" -> ((s, dir) => {
      val media = graft.operators.AudioFixture.frame(s)
      graft.operators.Dedup.audioNearDupPairs(
          media, "media_id", "media_type", "content", maxHamming = 4)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── North star multimodal: perceptual near-duplicate VIDEO pairs —
    //    REAL AVI container decode (RIFF walk, raw BI_RGB frames — zero
    //    codec, integer-exact), every-2nd-frame sampling, per-frame
    //    dHash banded with the shared Hamming-LSH chunks PER ALIGNED
    //    FRAME, pairs kept when ≥ ceil(0.6·min(nFrames)) frames agree
    //    within 4 bits. Fixture: 45 AVIs of 6 9×8 grayscale frames in
    //    base/near-dup/unrelated triples (VideoFixture) — frames ARE the
    //    dHash grid, so the oracle restates bits from the planted pixel
    //    matrix (MultimodalSpec pins live container decode ≡ analytic) ──
    "q_video_near_dups" -> ((s, dir) => {
      val media = graft.operators.VideoFixture.frame(s)
      graft.operators.Dedup.videoNearDupPairs(
          media, "media_id", "media_type", "content",
          everyN = 2, maxHamming = 4, minMatchFrac = 0.6)
        .select(col("id_a"), col("id_b"), col("n_matched"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── The trim-robust frame-SET variant (alignFrames = false): a's
    //    frame may match ANY of b's frames; matched counts a's ordinals
    //    with a partner. Fixture: clips sampled at everyN=1 with every
    //    third clip REPLACED by a 1-frame-trimmed copy of its triple's
    //    base — invisible to ordinal alignment (every aligned pair
    //    compares unrelated pseudo-random frames), caught by the set
    //    detector (5 of 6 ordinals find byte-identical partners) ────────
    "q_video_near_dups_set" -> ((s, dir) => {
      import s.implicits._
      val media = s.range(graft.operators.VideoFixture.NumClips).as[Long]
        .mapPartitions(_.map { id =>
          val bytes =
            if (id % 3 == 2)
              graft.operators.VideoFixture.aviBytes(id - 2, fromFrame = 1)
            else graft.operators.VideoFixture.aviBytes(id)
          (id, "video/avi", bytes)
        }).toDF("media_id", "media_type", "content")
      graft.operators.Dedup.videoNearDupPairs(
          media, "media_id", "media_type", "content",
          everyN = 1, maxHamming = 4, minMatchFrac = 0.6,
          alignFrames = false)
        .select(col("id_a"), col("id_b"), col("n_matched"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── North star multimodal: G.711 µ-law COMPRESSED audio through the
    //    same perceptual rung — the JDK parser reports the companded
    //    encoding, each byte expands through the ENGINE-OWNED integer
    //    µ-law table (Multimodal.G711), and the envelope hash bands as
    //    usual. Fixture: 30 µ-law WAVs whose square-wave synthesis makes
    //    window w's decoded L1 envelope exactly 64·ulaw(mag field) — the
    //    oracle restates hash → band → Hamming from that analytic
    //    expansion, so the G.711 table itself is oracle-pinned ──────────
    "q_audio_ulaw_near_dups" -> ((s, dir) => {
      val media = graft.operators.AudioFixture.frameUlaw(s)
      graft.operators.Dedup.audioNearDupPairs(
          media, "media_id", "media_type", "content", maxHamming = 4)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── North star multimodal: INCREMENTAL batch-vs-corpus perceptual
    //    dedup probing a PERSISTED hash index — the multimodal sibling
    //    of q_incremental_dedup_indexed: the corpus's (id, sh) frame is
    //    written once (memoized parquet round-trip — the production
    //    probe shape), each batch decodes once and probes one-sidedly.
    //    Fixture: existing = the 60 AudioFixture clips; incoming = 30
    //    fresh ids where even ordinals are EXACT amplitude-scaled
    //    copies of corpus bases (identical fingerprint → tainted) and
    //    odd ordinals are unrelated clips (survive) ────────────────────
    "q_media_dedup_incremental" -> ((s, dir) => {
      import s.implicits._
      val idx = mediaIdxDirs.computeIfAbsent(dir, { _ =>
        val path = java.nio.file.Files.createTempDirectory("graft_mediaidx").toString
        graft.etl.Warehouse.stageParquet(
          graft.operators.Dedup.audioHashFrame(
            graft.operators.AudioFixture.frame(s),
            "media_id", "media_type", "content"),
          s"$path/hashes")
        path
      })
      val exHashes = readStored(s, s"$idx/hashes")
      val incoming = s.range(30).as[Long].mapPartitions(_.map { j =>
        val id = 1000L + j
        val bytes =
          if (j % 2 == 0)
            graft.operators.AudioFixture.wavBytesScaled(3L * (j / 2), 4, 5)
          else graft.operators.AudioFixture.wavBytes(id)
        (id, "audio/wav", bytes)
      }).toDF("media_id", "media_type", "content")
      val kept = graft.operators.Dedup.removeNearDuplicateMediaIncremental(
        exHashes, incoming, "media_id", "media_type", "content",
        kind = "audio", maxHamming = 4)
      incoming.agg(count(lit(1)).as("n_incoming")).crossJoin(
        kept.agg(count(lit(1)).as("n_kept"),
          sum(col("media_id")).cast("long").as("id_checksum")))
    }),

    // ── The VIDEO form of the incremental probe: the persisted index is
    //    the per-frame (id, fpos, sh) frame, the probe joins per ALIGNED
    //    frame and gates on matched-frame count — the batch detector's
    //    contract against a parquet artifact. Incoming: even ordinals =
    //    byte-identical re-containers of corpus bases (tainted), odd =
    //    fresh clips (survive). Oracle restates from the analytic grids ─
    "q_video_dedup_incremental" -> ((s, dir) => {
      import s.implicits._
      val idx = videoIdxDirs.computeIfAbsent(dir, { _ =>
        val path = java.nio.file.Files.createTempDirectory("graft_videoidx").toString
        graft.etl.Warehouse.stageParquet(
          graft.operators.Dedup.videoFrameHashFrame(
            graft.operators.VideoFixture.frame(s),
            "media_id", "media_type", "content"),
          s"$path/hashes")
        path
      })
      val exHashes = readStored(s, s"$idx/hashes")
      val incoming = s.range(20).as[Long].mapPartitions(_.map { j =>
        val id = 1000L + j
        val bytes =
          if (j % 2 == 0) graft.operators.VideoFixture.aviBytes(3L * (j / 2))
          else graft.operators.VideoFixture.aviBytes(5000L + j)
        (id, "video/avi", bytes)
      }).toDF("media_id", "media_type", "content")
      val kept = graft.operators.Dedup.removeNearDuplicateMediaIncremental(
        exHashes, incoming, "media_id", "media_type", "content",
        kind = "video", maxHamming = 4)
      incoming.agg(count(lit(1)).as("n_incoming")).crossJoin(
        kept.agg(count(lit(1)).as("n_kept"),
          sum(col("media_id")).cast("long").as("id_checksum")))
    }),

    // ── North star multimodal: binary payload → batched stub feature
    //    extraction; n_bytes is the oracle-checkable invariant ─────────
    "q_multimodal_features" -> ((s, dir) => {
      val media = t(s, dir, "documents")
        .select(col("doc_id"), lit("text").as("mtype"),
          encode(col("text"), "UTF-8").as("payload"))
      graft.operators.Multimodal.extractFeaturesDF(s, media, "doc_id", "mtype", "payload")
        .select(col("media_id").as("doc_id"), col("n_bytes"))
        .orderBy(col("doc_id"))
    }),

    // ── North star temporal join: backward as-of join — each click picks
    //    up the latest prior purchase by the same user. Union+window
    //    formulation: ONE shuffle on user_id, no row explosion (the
    //    crossJoin+filter form would be |clicks|×|purchases| per user).
    //    Oracle: DuckDB's native ASOF LEFT JOIN ─────────────────────────
    "q_asof_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
      graft.operators.Joins.asOfJoin(clicks, purchases, Seq("user_id"), "ts", "p_ts",
          tieBreak = Some("purchase_id"))
        .select(col("event_id"), col("user_id"), col("purchase_id"))
        .orderBy(col("event_id"))
    }),

    // ── North star temporal join: point-in-interval range join — error
    //    events landing in each signup's first 5 minutes, ANY user (no
    //    equi-key). Time-bucketed: candidates meet in a hash join on the
    //    bucket id instead of a |signups|×|errors| nested loop ──────────
    "q_range_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val wins = ev.where(col("event_type") === "signup")
        .select(col("event_id").as("window_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 5 MINUTES")).as("w_end"))
      val errs = ev.where(col("event_type") === "error").select(col("ts"))
      val counts = graft.operators.Joins
        .rangeJoinPointInterval(errs, "ts", wins, "w_start", "w_end", bucketSeconds = 300L)
        .groupBy(col("window_id")).agg(count(lit(1)).as("n_errors"))
      wins.select("window_id").join(counts, Seq("window_id"), "left")
        .select(col("window_id"), coalesce(col("n_errors"), lit(0L)).as("n_errors"))
        .orderBy(col("window_id"))
    }),

    // ── Incremental load: keyed MERGE/upsert — a 10% price-touch delta
    //    merged over the full snapshot; row count is invariant, the
    //    touched keys carry the new price. One anti-join + union; the
    //    untouched payload never shuffles ────────────────────────────────
    "q_merge_upsert" -> ((s, dir) => {
      val base = t(s, dir, "orders")
      val updates = base.where(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 1.1)
      graft.etl.Warehouse.mergeUpsert(base, updates, Seq("o_orderkey"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("total"))
    }),

    // ── North star text analysis: Gopher-style repetition stats — token
    //    multiplicity and most-repeated-bigram counts per document (the
    //    raw signals of duplicate-line / repeated-n-gram quality filters).
    //    Native multiplicity-preserving `ngrams` kernel; one scan, two
    //    partial-agg shuffles ──────────────────────────────────────────────
    "q_repetition_stats" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val toks = graft.functions.GraftFunctions.normTokens(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_distinct_tokens"),
          explode_outer(graft.functions.GraftFunctions.ngramsNative(col("text"), 2))
            .as("bigram"))
        .groupBy(col("doc_id"), col("bigram"))
        .agg(max(col("n_tokens")).as("n_tokens"),
          max(col("n_distinct_tokens")).as("n_distinct_tokens"),
          count(col("bigram")).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("n_tokens")).as("n_tokens"),
          max(col("n_distinct_tokens")).as("n_distinct_tokens"),
          sum(col("c")).cast("long").as("n_bigrams"),
          max(col("c")).cast("long").as("max_bigram_count"))
        .orderBy(col("doc_id"))
    }),

    // ── North star text analysis: per-doc top terms (TF ranking without
    //    floating-point IDF — integer-deterministic across engines) ──────
    "q_doc_top_terms" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("tf").desc, col("token"))
      t(s, dir, "documents").where(col("doc_id") < 20)
        .select(col("doc_id"),
          explode(graft.functions.GraftFunctions.normTokens(col("text"))).as("token"))
        .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
        .orderBy(col("doc_id"), col("rk"))
    }),

    // ── North star text analysis: PII redaction. The corpus text has no
    //    real PII, so each doc is deterministically augmented with a
    //    synthetic email/phone/URL derived from its id; the redaction
    //    kernel (shared-regex-subset) then has to scrub exactly those.
    //    Output pins the full redacted text via md5 ──────────────────────
    "q_pii_redaction" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      val aug = concat(col("text"), lit(" contact user"), id,
        lit("@example.com or +1-555-000-"), lpad(id, 4, "0"),
        lit(" visit https://example.com/u/"), id,
        lit(" from 10."), (col("doc_id") % 200).cast("string"),
        lit(".0."), (col("doc_id") % 250).cast("string"),
        lit(" ssn "), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
        lit("-"), lpad((col("doc_id") % 100).cast("string"), 2, "0"),
        lit("-"), lpad(id, 4, "0"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          md5(graft.functions.TextAnalysis.redactPii(aug)).as("redacted_fp"),
          graft.functions.TextAnalysis.piiMatchCount(aug).cast("long").as("n_pii"))
        .orderBy(col("doc_id"))
    }),

    // ── Web-crawl HTML stripping: each document wrapped in a
    //    deterministic HTML shell (script/style bodies with tag-shaped
    //    code, a conditional comment, attributes, named+numeric
    //    entities — restated byte-identically in the oracle). The chain
    //    (TextAnalysis.htmlStripStages, one table drives Spark AND the
    //    oracle) removes blocks wholesale, then tags, then
    //    single-decodes entities; collapseWhitespace folds the runs.
    //    One narrow codegen'd scan stage — no shuffle at any scale ──────
    "q_html_strip" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      val aug = concat(
        lit("<!DOCTYPE html><html><head><title>doc "), id,
        lit("</title><style type=\"text/css\">body { color: #fff; }</style>"),
        lit("<script>var x = 1 < 2 && 2 > 1; /* <p>not a tag</p> */</script></head><body>"),
        when(col("doc_id") % 3 === 0, lit("<!-- tracked <b>id</b> -->")).otherwise(lit("")),
        lit("<p class=\"main\" id=\"p"), id, lit("\">"), col("text"),
        lit("</p><br/><div>&amp;copy; footer &lt;tag&gt;&nbsp;&#39;quoted&#39; &quot;q&quot;</div></body></html>"))
      val cleaned = graft.functions.TextAnalysis.collapseWhitespace(
        graft.functions.TextAnalysis.stripHtml(aug))
      t(s, dir, "documents")
        .select(col("doc_id"), md5(cleaned).as("clean_fp"),
          length(cleaned).cast("long").as("clean_len"))
        .orderBy(col("doc_id"))
    }),

    // ── Gopher-style rule gates (Rae et al. 2021): seven boolean rules
    //    per document over a deterministic augmentation that exercises
    //    each rule (bullet walls on %17, ellipsis lines on %7, symbol
    //    runs on %11 — restated byte-identically in the oracle). One
    //    narrow codegen'd scan stage; every rule re-derived in SQL ───────
    "q_gopher_quality" -> ((s, dir) => {
      val aug = concat(col("text"),
        when(col("doc_id") % 17 === 0,
          repeat(lit("\n- bullet item"), 30)).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          lit("\nto be continued...\nand more...")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" ## ### #")).otherwise(lit("")),
        // prose-like stopword run on a third of docs: without it the
        // word-salad corpus fails stopword_ok everywhere and the `pass`
        // conjunction would be constant false — no oracle signal
        when(col("doc_id") % 3 === 0,
          lit(" it was the best of days and this is that for you with more time"))
          .otherwise(lit("")))
      val f = graft.functions.TextAnalysis.gopherFlags(aug)
      val names = Seq("word_count_ok", "mean_word_len_ok", "symbol_ratio_ok",
        "bullet_ratio_ok", "ellipsis_ratio_ok", "alpha_word_ratio_ok",
        "stopword_ok")
      t(s, dir, "documents")
        .select(col("doc_id") +:
          names.map(n => f.getField(n).as(n)) :+
          graft.functions.TextAnalysis.gopherPass(aug).as("pass"): _*)
        .orderBy(col("doc_id"))
    }),

    // ── Unicode normalization (crawl ingest cleanup): decomposed accents
    //    (e + U+0301) planted everywhere — the NFC kernel must compose
    //    them or exact dedup fingerprints silently split; cp1252 mojibake
    //    on %3, C0 control contamination on %4, non-breaking spaces on
    //    %5. The mojibake repair table and control class are shared with
    //    the oracle; NFC itself is pinned native-kernel vs DuckDB
    //    nfc_normalize (both implement Unicode canonical composition).
    //    One narrow codegen'd scan stage ─────────────────────────────────
    "q_unicode_normalize" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val aug = concat(col("text"),
        lit(" Cafe\u0301 nai\u0308ve touche\u0301"),
        when(col("doc_id") % 3 === 0, lit(mojibakeFixture)).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          lit(" bad\u0007control\u0001chars")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          lit(" non\u00A0breaking\u00A0space")).otherwise(lit("")))
      val norm = graft.functions.UnicodeNorm.normalizeUnicode(aug)
      t(s, dir, "documents")
        .select(col("doc_id"), md5(norm).as("norm_fp"),
          length(norm).cast("long").as("norm_len"))
        .orderBy(col("doc_id"))
    }),

    // ── URL-level dedup (the CCNet-shape "one document per URL" crawl
    //    pass): docs are assigned deterministic URL variants — tracking
    //    params, fragments, host case, default ports, www., and leading
    //    whitespace differ, content URL agrees in pairs {%5==0, %5==1}
    //    per page k = doc_id/5; %10==4 docs all share one empty-path
    //    URL; schemeless strings pass through opaque. Survivor = min
    //    doc_id per canonical URL. Only (canonical-url, id) pairs
    //    shuffle; the canonicalization chain is restated in the oracle
    //    from the same tracking-param table ───────────────────────────────
    "q_url_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("url", urlVariantCol)
      graft.operators.Dedup.exactByUrl(docs, "url", "doc_id")
        .select(col("doc_id"),
          graft.functions.TextAnalysis.canonicalizeUrl(col("url")).as("canon_url"))
        .orderBy(col("doc_id"))
    }),

    // ── C4-style line + page cleaning (Raffel et al. 2020 §2.2): lines
    //    survive iff they end in terminal punctuation, have ≥ 3 words,
    //    and don't mention javascript; page gates check curly braces,
    //    "lorem ipsum", and ≥ 5 sentences AFTER the line clean. The
    //    augmentation plants one droppable nav line everywhere, a
    //    javascript line on %4, an unpunctuated menu on %5, a
    //    multi-sentence prose line on %2 (the only docs that can clear
    //    the 5-sentence gate), lorem-ipsum on %7, and a curly-braced
    //    code line on %9 — every rule exercised both ways, restated
    //    byte-identically in the oracle. One narrow scan stage ───────────
    "q_c4_line_filter" -> ((s, dir) => {
      val aug = c4AugCol
      val cleaned = graft.functions.TextAnalysis.c4LineClean(aug)
      val flags = graft.functions.TextAnalysis.c4PageFlags(aug)
      t(s, dir, "documents")
        .select(col("doc_id"), md5(cleaned).as("clean_fp"),
          when(length(cleaned) === 0, lit(0L))
            .otherwise(size(split(cleaned, "\n")).cast("long"))
            .as("n_lines_kept"),
          flags.getField("no_curly_ok").as("no_curly_ok"),
          flags.getField("no_lorem_ok").as("no_lorem_ok"),
          flags.getField("min_sentences_ok").as("min_sentences_ok"),
          graft.functions.TextAnalysis.c4PagePass(aug).as("pass"))
        .orderBy(col("doc_id"))
    }),

    // ── North star quality: MODEL-BASED quality gate — the frozen
    //    hashed-linear (fastText-shape) scorer FrozenQualityModel, which
    //    FreezeQm distilled from the Gopher rule conjunction on the
    //    filler-augmented corpus (even ids get QmOracle.fillerSuffix and
    //    pass the gate; odd ids fail — balanced, learnable labels on a
    //    corpus whose raw text defeats the stopword rule everywhere).
    //    The scoring scan is ONE narrow codegen'd projection: tokens
    //    fold through the scaled-LONG weight literal, so the logit is an
    //    exact integer sum + one float division chain — bit-identical in
    //    DuckDB (QmOracle restates it from the same literals) ───────────
    "q_quality_model_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(col("text"), lit(QmOracle.fillerSuffix)))
          .otherwise(col("text")).as("text"))
      graft.operators.QualityModel.score(docs, "text", "doc_id",
        graft.operators.FrozenQualityModel.model)
        .withColumn("n_tokens", col("n_tokens").cast("long"))
        .orderBy(col("doc_id"))
    }),

    // ── North star quality: trained trigram-LM perplexity filter — the
    //    CCNet recipe (Wenzek et al. LREC 2020) under Stupid Backoff
    //    (Brants et al. EMNLP 2007): FrozenNgramLm pins the LM trained
    //    on the reference slice (even-id filler-augmented docs — fluent
    //    English), and every document scores Σ log S(w|context) as an
    //    exact scaled-LONG fold in ONE narrow codegen'd projection (the
    //    tables ride a codegen reference object; no shuffle/join/UDF).
    //    The backoff decision restates in DuckDB as three LEFT JOINs +
    //    a COALESCE chain from the same literals (NgramLmOracle) ───────
    "q_ngram_lm_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(col("text"), lit(QmOracle.fillerSuffix)))
          .otherwise(col("text")).as("text"))
      graft.operators.NgramLm.score(docs, "text", "doc_id",
        graft.operators.FrozenNgramLm.model)
        .withColumn("n_tokens", col("n_tokens").cast("long"))
        .orderBy(col("doc_id"))
    }),

    // ── The trigram LM over the MULTILINGUAL tokenizer: same frozen
    //    model, ml token stream — CJK/Cyrillic grams miss every table
    //    and fold the exact unk/backoff integers (the unknown-script
    //    floor a mixed corpus really hits), en text scores normally;
    //    oracle = the same generated COALESCE chain over ml tokens ─────
    "q_ngram_lm_score_ml" -> ((s, dir) =>
      graft.operators.NgramLm.score(graft.operators.MlFixture.frame(s),
        "text", "doc_id", graft.operators.FrozenNgramLm.model,
        graft.functions.Tok.Ml)
        .withColumn("n_tokens", col("n_tokens").cast("long"))
        .orderBy(col("doc_id"))),

    // ── CCNet perplexity BUCKETS (Wenzek et al. LREC 2020 §4.3): the
    //    head/middle/tail stratification over the same scored corpus —
    //    cut thresholds from a DETERMINISTIC md5 sample's exact order
    //    statistics (the scale-honest CCNet recipe: no corpus-wide
    //    ntile), assignment a narrow literal-threshold scan. The oracle
    //    rediscovers the cuts from the same sample predicate + rank
    //    arithmetic and agrees on every per-doc bucket ────────────────
    "q_ppl_buckets" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(col("text"), lit(QmOracle.fillerSuffix)))
          .otherwise(col("text")).as("text"))
      graft.operators.NgramLm.perplexityBuckets(docs, "text", "doc_id",
          graft.operators.FrozenNgramLm.model, nBuckets = 3,
          sampleFraction = 0.2)
        .withColumn("n_tokens", col("n_tokens").cast("long"))
        .withColumn("bucket", col("bucket").cast("long"))
        .orderBy(col("doc_id"))
    }),

    // ── The CCNet bucket → mix COMPOSITION: quality-stratified
    //    token-share mixing — bucket by LM score, then downsample the
    //    buckets to 60/30/10 TOKEN shares (upweighting head-quality
    //    text is exactly what the bucketing exists for). Buckets feed
    //    mixToTokenShares as the strata column with n_tokens as mass;
    //    the oracle composes the two restatements verbatim ─────────────
    "q_bucket_mix" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(col("text"), lit(QmOracle.fillerSuffix)))
          .otherwise(col("text")).as("text"))
      val buckets = graft.operators.NgramLm.perplexityBuckets(docs, "text",
        "doc_id", graft.operators.FrozenNgramLm.model, nBuckets = 3,
        sampleFraction = 0.2)
      val mixed = graft.operators.Sampling.mixToTokenShares(
        buckets, "doc_id", "bucket_label", "n_tokens",
        Map("head" -> 0.6, "middle" -> 0.3, "tail" -> 0.1))
      mixed.groupBy(col("bucket_label")).agg(
        count(lit(1)).as("n_sampled"),
        sum(col("n_tokens")).cast("long").as("tok_sum"),
        sum(col("doc_id")).cast("long").as("id_checksum"))
        .orderBy(col("bucket_label"))
    }),

    // ── North star selection: DSIR importance weights (Xie et al.
    //    NeurIPS 2023) — the GENERATIVE selection score next to the
    //    discriminative model gate above. FrozenDsir pins the fitted
    //    hashed unigram+bigram log-ratio table (target = the augmented
    //    even-id class, raw = whole pool); scoring is one narrow
    //    codegen'd projection folding scaled LONGS — exact integer sum,
    //    bit-identical in DuckDB (DsirOracle, same literals) ────────────
    "q_dsir_logweight" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(col("text"), lit(QmOracle.fillerSuffix)))
          .otherwise(col("text")).as("text"))
      graft.operators.Dsir.logWeight(docs, "text", "doc_id",
        graft.operators.FrozenDsir.model)
        .withColumn("n_features", col("n_features").cast("long"))
        .orderBy(col("doc_id"))
    }),

    // ── North star selection: DSIR Gumbel-top-k resampling — sample 50
    //    docs without replacement with probability ∝ exp(log_w), via
    //    deterministic md5-derived Gumbel keys (partition/retry-stable,
    //    DECIMAL(25,9)-quantized for engine parity). Per-partition
    //    top-k heap + driver merge — no global sort ──────────────────────
    "q_dsir_resample" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(col("text"), lit(QmOracle.fillerSuffix)))
          .otherwise(col("text")).as("text"))
      graft.operators.Dsir.resample(docs, "text", "doc_id",
        graft.operators.FrozenDsir.model, k = 50)
    }),

    // ── North star curation: BM25 ranked retrieval — the k most
    //    on-topic docs for a literal query, no inverted index: ONE stats
    //    aggregation (|Q|+2 driver scalars) + ONE narrow scoring
    //    projection (per-term tf = array filters, idf/avgdl as plan
    //    literals) + per-partition top-k heap. Per-term scores quantize
    //    to DECIMAL(25,9) (exact sums, ln-ulp absorption) ───────────────
    "q_bm25_topk" -> ((s, dir) =>
      graft.operators.Retrieval.bm25TopK(t(s, dir, "documents"),
        "text", "doc_id", Seq("hash", "join", "spark"), k = 20)),

    // ── North star decontamination: corpus docs sharing any 3-gram with
    //    the benchmark slice (doc_id % 50 == 0). The join key is a 64-bit
    //    shingle hash — bare (hash, id) pairs shuffle, never shingle
    //    strings; the exact-string DuckDB oracle agrees because 64-bit
    //    collisions are absent at any testable scale ─────────────────────
    "q_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Dedup.contaminationHits(
        docs.where(col("doc_id") % 50 =!= 0), docs.where(col("doc_id") % 50 === 0),
        "text", "doc_id", n = 3)
        .select(col("corpus_id").as("doc_id"), col("n_benchmark_hits"))
        .orderBy(col("doc_id"))
    }),

    // Bloom-prefiltered decontamination: same results as q_contamination
    // BY CONSTRUCTION (exact confirm join scrubs bloom false positives) —
    // the oracle is literally the same SQL. What changes is the 100 TB
    // shape: the benchmark's distinct shingle hashes compress into a
    // ~1.2-byte-per-key bloom probed inside the corpus scan stage, so the
    // corpus-side shuffle carries only true hits + fpp noise instead of
    // every shingle (Dedup.contaminationHitsBloom scaladoc).
    "q_contamination_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Dedup.contaminationHitsBloom(
        docs.where(col("doc_id") % 50 =!= 0), docs.where(col("doc_id") % 50 === 0),
        "text", "doc_id", n = 3)
        .select(col("corpus_id").as("doc_id"), col("n_benchmark_hits"))
        .orderBy(col("doc_id"))
    }),

    // ── FUZZY decontamination: corpus docs NEAR-duplicate to any
    //    benchmark doc at trigram Jaccard ≥ 0.5 drop — the reworded-leak
    //    test the exact n-gram probe cannot see. One-sided band probe
    //    (benchmark = the untouchable side), exact verify; at this
    //    corpus's similarity level the banding has total recall, so the
    //    exact all-pairs oracle is the ground truth ─────────────────────
    "q_contamination_fuzzy" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val kept = graft.operators.Dedup.removeContaminatedFuzzy(
        docs, docs.where(col("doc_id") % 50 === 0), "text", "doc_id",
        threshold = 0.5)
      docs.agg(count(lit(1)).as("n_docs")).crossJoin(
        kept.agg(count(lit(1)).as("n_kept"),
          coalesce(sum(col("doc_id")), lit(0L)).cast("long").as("id_checksum")))
    }),

    // ── FUZZY decontamination probing a PERSISTED benchmark index — the
    //    production shape: the benchmark's band/shingle index is built
    //    once per benchmark version and round-tripped through parquet;
    //    the decon pass never re-shingles the benchmark. Same oracle as
    //    q_contamination_fuzzy: the stored-index probe must be
    //    result-identical to the recompute path ──────────────────────────
    "q_contamination_fuzzy_indexed" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = fuzzyIndexDirs.computeIfAbsent(dir, { d =>
        val path = java.nio.file.Files.createTempDirectory("graft_fzidx").toString
        val bench = t(s, d, "documents").where(col("doc_id") % 50 === 0)
        graft.etl.Warehouse.stageParquet(
          graft.operators.Dedup.shingleIndex(bench, "text", "doc_id"),
          s"$path/shingles")
        graft.etl.Warehouse.stageParquet(
          graft.operators.Dedup.minHashBandIndex(
            s.read.parquet(s"$path/shingles"), threshold = 0.5),
          s"$path/bands")
        path
      })
      val kept = graft.operators.Dedup.removeContaminatedFuzzyIndexed(
        docs, readStored(s, s"$idx/bands"), readStored(s, s"$idx/shingles"),
        "text", "doc_id", threshold = 0.5)
      docs.agg(count(lit(1)).as("n_docs")).crossJoin(
        kept.agg(count(lit(1)).as("n_kept"),
          coalesce(sum(col("doc_id")), lit(0L)).cast("long").as("id_checksum")))
    }),

    // ── Approximate percentile sketch next to the exact quantile, with
    //    the same in-tolerance-boolean contract as q_approx_distinct ─────
    "q_approx_percentile" -> ((s, dir) => {
      def ok(approx: Column, exact: Column): Column =
        abs(approx - exact) / abs(exact) <= 0.02
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(expr("percentile(o_totalprice, 0.5)").as("p50"),
          expr("approx_percentile(o_totalprice, 0.5, 10000)").as("ap50"),
          expr("percentile(o_totalprice, 0.9)").as("p90"),
          expr("approx_percentile(o_totalprice, 0.9, 10000)").as("ap90"))
        .select(col("o_orderstatus"), col("p50"),
          ok(col("ap50"), col("p50")).as("p50_ok"),
          ok(col("ap90"), col("p90")).as("p90_ok"))
        .orderBy(col("o_orderstatus"))
    })
  )

  /** Shared tail of the q_corpus_pipeline* bodies: ONE row of per-stage
    * kept counts + document/chunk stats. The two aggregate `head()`s are
    * the only actions — and they ARE the pipeline's materializing passes,
    * so every stage observation ([[graft.pipeline.CorpusPipeline
    * .Prepared.observations]]) collects its count as a side effect;
    * stage accounting costs ZERO extra scans (it used to re-execute the
    * gate/dedup chain once per stage aggregate). The collected scalars
    * come back as a literal one-row frame with the exact historical
    * column names/types (n_<stage> longs first, then the stats), so the
    * oracles are byte-compatible with the pre-observation shape. */
  private def pipelineStatsRow(s: SparkSession,
      p: graft.pipeline.CorpusPipeline.Prepared,
      extraDocStats: Seq[Column] = Nil,
      extraPackedStats: Seq[Column] = Nil): DataFrame = {
    val docAggs = Seq(
      sum(col("doc_id")).cast("long").as("id_checksum"),
      sum(length(col("text"))).cast("long").as("text_len_sum")) ++
      extraDocStats ++ Seq(
      sum(when(col("split") === "train", 1L).otherwise(0L)).cast("long").as("n_train"),
      sum(when(col("split") === "val", 1L).otherwise(0L)).cast("long").as("n_val"),
      sum(when(col("split") === "test", 1L).otherwise(0L)).cast("long").as("n_test"))
    val docStats = p.documents.agg(docAggs.head, docAggs.tail: _*)
    val chunkStats = p.chunks.agg(
      count(lit(1)).as("n_chunks"),
      sum(col("n_chunk_tokens")).cast("long").as("chunk_token_sum"))
    val packedStats = p.packed.map { pk =>
      val aggs = Seq(
        count(lit(1)).as("n_examples"),
        coalesce(sum(col("n_chunks")), lit(0L)).cast("long").as("packed_chunk_sum"),
        coalesce(sum(col("n_tokens")), lit(0L)).cast("long").as("packed_token_sum")) ++
        extraPackedStats
      pk.agg(aggs.head, aggs.tail: _*)
    }
    // ONE action for the whole stats row (was 2–3 sequential head()s):
    // the doc/chunk/packed single-row aggregates are independent
    // subtrees over the materialized documents checkpoint, so
    // cross-joining them into one plan both drops the per-action
    // driver/scheduling overhead and lets their stages overlap inside
    // the single job (guide §2.6 — the tail of one aggregate back-fills
    // the other's cores) instead of running strictly back-to-back. The
    // column names are disjoint by construction (they were the columns
    // of the historical one-row output), and the doc → chunk → packed
    // order is preserved, so the emitted row is byte-identical.
    val combined = packedStats
      .foldLeft(docStats.crossJoin(chunkStats))(_ crossJoin _)
    val row = combined.head() // fires every remaining stage observation
    // `head()` on a cross-join of GLOBAL aggregates consumes every input
    // row, so the plan's observation accumulators are complete — record
    // them for observedCounts' synchronous ledger read (no listener
    // await; see graft.operators.ObservedLedger).
    graft.operators.ObservedLedger.record(combined)
    val litCols = combined.schema.fields.zipWithIndex.map { case (f, i) =>
      (if (row.isNullAt(i)) lit(null) else lit(row.get(i)))
        .cast(f.dataType).as(f.name)
    }
    val stageCols = p.observedCounts.map { case (n, c) => lit(c).as(s"n_$n") }
    s.range(1).select(stageCols ++ litCols: _*)
  }

  /** Deterministic URL-variant fixture shared by q_url_dedup and
    * q_corpus_pipeline_url: content-identical URLs in pairs {%5==0,
    * %5==1} per page k = doc_id/5 (tracking params, default ports, host
    * case, www., fragments, leading whitespace differ); %10==4 docs all
    * share one empty-path URL; everything else gets an opaque schemeless
    * string that passes through canonicalization untouched. */
  private def urlVariantCol: Column = {
    val k = floor(col("doc_id") / 5).cast("long").cast("string")
    when(col("doc_id") % 5 === 0,
      concat(lit("https://WWW.Example.COM/articles/page"), k, lit("?utm_source=feed")))
      .when(col("doc_id") % 5 === 1,
        concat(lit("https://example.com:443/articles/page"), k, lit("#section2")))
      .when(col("doc_id") % 5 === 2,
        concat(lit("http://example.com:80/articles/page"), k, lit("?utm_a=1&q=2")))
      .when(col("doc_id") % 5 === 3,
        concat(lit(" https://example.com/articles/page"), k, lit("/?ref=rss&q=2")))
      .when(col("doc_id") % 10 === 4, lit("HTTPS://User.Example.com:443"))
      .otherwise(concat(lit("doc-"), col("doc_id").cast("string")))
  }

  /** C4 fixture augmentation shared by q_c4_line_filter and
    * q_corpus_pipeline_c4: a terminal-punctuated intro line carrying the
    * doc's own text, a droppable nav line everywhere, a javascript line
    * on %4, an unpunctuated menu on %5, a multi-sentence prose line on
    * %2 (the only docs that can clear the 5-sentence page gate), lorem
    * ipsum on %7, and a curly-braced code line on %9 — every C4 rule
    * exercised both ways. */
  private[graft] def c4AugCol: Column = {
    val id = col("doc_id").cast("string")
    concat(
      lit("Intro for doc "), id, lit(": "), col("text"), lit("."),
      lit("\nclick here"),
      when(col("doc_id") % 4 === 0,
        lit("\nPlease enable JavaScript to view this page.")).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        lit("\nmenu home about contact")).otherwise(lit("")),
      when(col("doc_id") % 2 === 0,
        lit("\nIt was a fine day. The tests all passed! Did they really? " +
          "“Yes indeed.” And so it goes on.")).otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        lit("\nLorem ipsum dolor sit amet.")).otherwise(lit("")),
      when(col("doc_id") % 9 === 0,
        lit("\nfunction f() { return 1; } end of code block.")).otherwise(lit("")))
  }

  /** DuckDB restatement of [[c4AugCol]] over documents(doc_id, text). */
  private lazy val c4AugSql: String =
    "'Intro for doc ' || CAST(doc_id AS VARCHAR) || ': ' || text || '.' || " +
      "chr(10) || 'click here' || " +
      "CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'Please enable JavaScript to view this page.' ELSE '' END || " +
      "CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'menu home about contact' ELSE '' END || " +
      "CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'It was a fine day. The tests all passed! Did they really? " +
      "“Yes indeed.” And so it goes on.' ELSE '' END || " +
      "CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'Lorem ipsum dolor sit amet.' ELSE '' END || " +
      "CASE WHEN doc_id % 9 = 0 THEN chr(10) || 'function f() { return 1; } end of code block.' ELSE '' END"

  /** DuckDB restatement of [[graft.functions.TextAnalysis.c4LineKeep]]
    * over a line variable `l` — same terminal-punctuation class, word
    * split, and javascript substring rule. */
  private val c4KeepSql: String =
    "regexp_matches(rtrim(l), '[.!?”\"]$') AND " +
      "len(regexp_split_to_array(trim(l), '\\s+')) >= 3 AND " +
      "NOT contains(lower(l), 'javascript')"

  /** DuckDB CASE mirroring [[urlVariantCol]] byte for byte. */
  private lazy val urlVariantSql: String =
    "CASE " +
      "WHEN doc_id % 5 = 0 THEN 'https://WWW.Example.COM/articles/page' || CAST(doc_id // 5 AS VARCHAR) || '?utm_source=feed' " +
      "WHEN doc_id % 5 = 1 THEN 'https://example.com:443/articles/page' || CAST(doc_id // 5 AS VARCHAR) || '#section2' " +
      "WHEN doc_id % 5 = 2 THEN 'http://example.com:80/articles/page' || CAST(doc_id // 5 AS VARCHAR) || '?utm_a=1&q=2' " +
      "WHEN doc_id % 5 = 3 THEN ' https://example.com/articles/page' || CAST(doc_id // 5 AS VARCHAR) || '/?ref=rss&q=2' " +
      "WHEN doc_id % 10 = 4 THEN 'HTTPS://User.Example.com:443' " +
      "ELSE 'doc-' || CAST(doc_id AS VARCHAR) END"

  /** [[graft.functions.TextAnalysis.canonicalizeUrl]] restated
    * step-for-step as CTEs t1/t2/t3/canon over `src(doc_id, url)` —
    * `canon` yields (doc_id, curl), curl NULL iff url is NULL. The
    * tracking-param alternation is shared with the engine (no drift);
    * only the multi-match tracking removal needs 'g', every other
    * pattern is anchored or consumes to end-of-string. Shared by
    * q_url_dedup and q_corpus_pipeline_url. */
  private def urlCanonCtes(src: String): String = {
    val track = graft.functions.TextAnalysis.trackingParamAlt
    s"t1 AS (SELECT doc_id, trim(url) AS u FROM $src), " +
      "t2 AS (SELECT doc_id, u, " +
      "lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://.*', 1)) AS scheme, " +
      "lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*).*', 1)) AS hostport, " +
      "regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1) AS rest FROM t1), " +
      "t3 AS (SELECT doc_id, u, scheme, " +
      "CASE WHEN scheme = 'http' THEN regexp_replace(regexp_replace(hostport, '^www\\.', ''), ':80$', '') " +
      "WHEN scheme = 'https' THEN regexp_replace(regexp_replace(hostport, '^www\\.', ''), ':443$', '') " +
      "ELSE regexp_replace(hostport, '^www\\.', '') END AS host, " +
      "regexp_replace(regexp_replace(regexp_replace(regexp_replace(rest, " +
      s"'#.*', ''), '[?&]($track)=[^&#]*', '', 'g'), " +
      "'^([^?&]*)&', '\\1?'), '[?&]$', '') AS p FROM t2), " +
      "canon AS (SELECT doc_id, CASE WHEN scheme = '' THEN u " +
      "ELSE scheme || '://' || host || (CASE WHEN p = '' THEN '/' ELSE p END) END AS curl FROM t3)"
  }

  /** The q_corpus_pipeline / q_corpus_pipeline_tuned body: planted-defect
    * fixture (boilerplate footer, Gopher stopword run, HTML shell, %50
    * benchmark leak) through the full CorpusPipeline, reduced to one row
    * of per-stage kept counts + survivor checksums. `tuned` selects the
    * tunedNearDedup scale configuration — same oracle serves both
    * registrations because the two near-dup detectors exact-verify the
    * same threshold (survivors identical by construction). */
  private def corpusPipelineQuery(s: SparkSession, dir: String,
      tuned: Boolean): DataFrame = {
    val raw = t(s, dir, "documents")
    // Plant (a) a shared boilerplate footer on even ids for the
    // line-dedup stage, (b) a prose-like stopword run on id%3 so the
    // Gopher gate passes at a meaningful rate on the word-salad corpus
    // — then wrap the CORPUS side in an HTML shell the stripHtml stage
    // must remove before any downstream signal sees the text. The
    // benchmark side stays the un-wrapped augmentation (eval sets are
    // clean text), so decontamination semantics are unchanged. All of
    // it restated byte-identically in the oracle.
    // the doc_id tokens inside the stopword run keep every shared
    // contiguous run under 8 tokens — the run must trip the Gopher
    // stopword rule WITHOUT creating cross-document 8-gram overlap
    // that the decontamination stage would read as benchmark leakage
    val docs = raw.select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" it was the best of day "), col("doc_id").cast("string"),
            lit(" and this is that for you with "), col("doc_id").cast("string"),
            lit(" more time"))).otherwise(lit("")),
        when(col("doc_id") % 2 === 0,
          lit("\ncopyright footer all rights reserved")).otherwise(lit("")))
        .as("text"))
    val bench = docs.where(col("doc_id") % 50 === 0)
    val corpus = docs.select(col("doc_id"),
      concat(lit("<html><body><p class=\"d\">"), col("text"),
        lit("</p><!-- boilerplate --></body></html>")).as("text"))
    val cfg = graft.pipeline.CorpusPipeline.Config(
      stripHtml = true, gopherRules = true,
      langs = Set("en"), minTokens = 10, maxTokens = 100000,
      minAlphaRatio = 0.4, lineDedupMinDocs = Some(2),
      dedupThreshold = 0.5, shingleN = 3, tunedNearDedup = tuned,
      decontaminateN = 8, chunkTokens = 64, overlapTokens = 16,
      splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      materializeDocuments = true)
    val p = graft.pipeline.CorpusPipeline.prepare(corpus, Some(bench), cfg)
    pipelineStatsRow(s, p)
  }

  /** q_corpus_pipeline_semantic: the pipeline with the SEMANTIC rung on.
    * Corpus = documents ⨝ embeddings (ids align 1:1) plus planted
    * PARAPHRASE twins: every 10th doc re-appears as id+1e6 with its
    * normalized tokens REVERSED — lexically invisible (the trigrams of a
    * reversed token stream share ~nothing with the original), so the
    * exact/near rungs must pass both members through — and its embedding
    * jittered by the q_semantic_dedup md5 scheme (cosine ≈ 0.99 → a
    * within-cluster semantic pair under the frozen coarse centroids).
    * The semantic rung then collapses each surviving twin pair to its
    * keep-the-outlier survivor. Plain upstream config (no html/gopher/
    * line stages — those are pinned by the other two pipeline queries). */
  private def corpusPipelineSemanticQuery(s: SparkSession, dir: String,
      projectTo: Option[Int] = None): DataFrame = {
    val emb = t(s, dir, "embeddings").select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .join(emb, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("text"), col("embedding"))
    val norm = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    // Two-step select: the md5 jitter key MUST be the ORIGINAL doc_id
    // (same lateral-alias trap as q_semantic_dedup).
    val twins = base.where(col("doc_id") % 10 === 0).select(
      col("doc_id"),
      concat_ws(" ", reverse(split(norm, "\\s+"))).as("text"),
      transform(col("embedding"), (x, i) =>
        x + lit(0.025) * when(
          substring(md5(concat(col("doc_id").cast("string"), lit("-"),
            (i + lit(1)).cast("string"))), 1, 1) <= lit("7"),
          lit(1.0)).otherwise(lit(-1.0))).as("embedding"))
      .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"),
        col("embedding"))
    val corpus = base.unionByName(twins)
    val cfg = graft.pipeline.CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, maxTokens = 100000,
      minAlphaRatio = 0.4, dedupThreshold = 0.5, shingleN = 3,
      semanticDedup = Some(graft.pipeline.CorpusPipeline.SemanticDedupConfig(
        "embedding", graft.operators.FrozenAnn.coarse, threshold = 0.9,
        projectTo = projectTo)),
      chunkTokens = 64, overlapTokens = 16,
      splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      materializeDocuments = true)
    val p = graft.pipeline.CorpusPipeline.prepare(corpus, None, cfg)
    pipelineStatsRow(s, p)
  }

  /** q_corpus_pipeline_fuzzy: the pipeline with the FUZZY decontamination
    * stage on. Corpus = documents plus planted REWORDED benchmark leaks:
    * every benchmark doc (id%50==0) re-appears as id+2e6 with a per-doc
    * marker token inserted after every 7th normalized token — every
    * verbatim run is ≤ 7 tokens, so the exact 8-gram probe is blind to
    * the twin, while its trigram Jaccard to the benchmark doc stays
    * ≈ 0.5 (measured 0.49–0.52 at sf0.01). With dedupThreshold=0.8 the
    * near-dup rung passes the twin (0.5 < 0.8) and only
    * fuzzyDecontaminate=0.4 can catch it — decon cut deliberately BELOW
    * the dedup cut, the asymmetric-tolerance production shape. Plain
    * upstream config (html/gopher/line pinned by the other pipeline
    * queries). */
  private def corpusPipelineFuzzyQuery(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val norm = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    val toks = split(norm, "\\s+")
    val m = greatest(ceil(size(toks) / lit(7.0)).cast("int"), lit(1))
    // Two-step select: the marker token MUST use the ORIGINAL doc_id
    // (same lateral-alias trap as the semantic twins).
    val twins = raw.where(col("doc_id") % 50 === 0).select(
      col("doc_id"),
      array_join(flatten(transform(sequence(lit(0), m - lit(1)),
        g => concat(slice(toks, g * lit(7) + lit(1), lit(7)),
          array(concat(lit("qq"), col("doc_id").cast("string")))))), " ")
        .as("text"))
      .select((col("doc_id") + lit(2000000L)).as("doc_id"), col("text"))
    val corpus = raw.unionByName(twins)
    val bench = raw.where(col("doc_id") % 50 === 0)
    val cfg = graft.pipeline.CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, maxTokens = 100000,
      minAlphaRatio = 0.4, dedupThreshold = 0.8, shingleN = 3,
      decontaminateN = 8, fuzzyDecontaminate = Some(0.4),
      chunkTokens = 64, overlapTokens = 16,
      splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      materializeDocuments = true)
    val p = graft.pipeline.CorpusPipeline.prepare(corpus, Some(bench), cfg)
    pipelineStatsRow(s, p)
  }

  /** q_corpus_pipeline_dsir: the pipeline with the DSIR SELECTION rung
    * on. Corpus = documents with the q_dsir_* filler augmentation (even
    * ids get QmOracle.fillerSuffix — the frozen model's target class),
    * benchmark = the %50 slice of the same augmented frame. After the
    * plain cleaning chain, the selection rung importance-resamples
    * k=150 documents with the FROZEN FrozenDsir weights: the n_target
    * column pins that the selected set is dominated by the target class
    * (the +12 vs −30 mean log-weight separation dwarfs the Gumbel
    * noise), and the id checksum pins the exact selected set. Plain
    * upstream config (html/gopher/line pinned by the other pipeline
    * queries). */
  private def corpusPipelineDsirQuery(s: SparkSession, dir: String): DataFrame = {
    val corpus = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 2 === 0,
        concat(col("text"), lit(QmOracle.fillerSuffix)))
        .otherwise(col("text")).as("text"))
    // benchmark = the RAW %50 slice (no filler): an augmented benchmark
    // would share the filler's 8-grams with EVERY target-class doc and
    // decontaminate the whole target class away before selection
    val bench = t(s, dir, "documents").where(col("doc_id") % 50 === 0)
      .select(col("doc_id"), col("text"))
    val cfg = graft.pipeline.CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, maxTokens = 100000,
      minAlphaRatio = 0.4, dedupThreshold = 0.5, shingleN = 3,
      decontaminateN = 8,
      dsirSelect = Some(graft.pipeline.CorpusPipeline.DsirSelectConfig(
        graft.operators.FrozenDsir.model, k = 150)),
      chunkTokens = 64, overlapTokens = 16,
      splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      materializeDocuments = true)
    val p = graft.pipeline.CorpusPipeline.prepare(corpus, Some(bench), cfg)
    pipelineStatsRow(s, p, extraDocStats = Seq(
      sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).cast("long").as("n_target")))
  }

  /** q_corpus_pipeline_url: the pipeline with the URL-dedup rung FIRST.
    * Corpus = documents with the [[urlVariantCol]] URL fixture (pairs
    * {5k, 5k+1} share a canonical URL but carry DIFFERENT text — no
    * other rung can collapse them, so the url_dedup stage count and the
    * id checksum pin that the URL rung did it and kept the min id), and
    * NULL urls on %7==3 (kept unconditionally — no URL ≠ same URL; a
    * %5-pair member that lands on %7==3 escapes its pair, restated in
    * the oracle). Plain upstream config otherwise — the other optional
    * rungs are pinned by their own pipeline queries. */
  private def corpusPipelineUrlQuery(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = raw.withColumn("url",
      when(col("doc_id") % 7 === 3, lit(null).cast("string"))
        .otherwise(urlVariantCol))
    val bench = raw.where(col("doc_id") % 50 === 0)
    val cfg = graft.pipeline.CorpusPipeline.Config(
      urlCol = Some("url"),
      langs = Set("en"), minTokens = 10, maxTokens = 100000,
      minAlphaRatio = 0.4, dedupThreshold = 0.5, shingleN = 3,
      decontaminateN = 8, chunkTokens = 64, overlapTokens = 16,
      splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      materializeDocuments = true)
    val p = graft.pipeline.CorpusPipeline.prepare(corpus, Some(bench), cfg)
    pipelineStatsRow(s, p)
  }

  /** q_corpus_pipeline_c4: the pipeline with the C4 rules folded into
    * the quality-gate scan. Corpus = documents with the
    * [[c4AugCol]] augmentation (every C4 rule exercised both ways):
    * only %2 docs can clear the 5-sentence page gate, %7 drops on lorem
    * ipsum, %9 on the curly brace, and the line clean scrubs the
    * nav/menu/javascript lines from every survivor BEFORE the
    * token/lang gate sees the text. Benchmark = the raw %50 slice (the
    * intro line carries the doc's own text verbatim, so surviving %50
    * docs still drop at decon). Plain config otherwise. */
  private def corpusPipelineC4Query(s: SparkSession, dir: String,
      lineDedup: Boolean = false): DataFrame = {
    val corpus = t(s, dir, "documents").select(col("doc_id"), c4AugCol.as("text"))
    val bench = t(s, dir, "documents").where(col("doc_id") % 50 === 0)
      .select(col("doc_id"), col("text"))
    val cfg = graft.pipeline.CorpusPipeline.Config(
      c4Rules = true,
      langs = Set("en"), minTokens = 10, maxTokens = 100000,
      minAlphaRatio = 0.4, dedupThreshold = 0.5, shingleN = 3,
      lineDedupMinDocs = if (lineDedup) Some(2) else None,
      decontaminateN = 8, chunkTokens = 64, overlapTokens = 16,
      splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      materializeDocuments = true)
    val p = graft.pipeline.CorpusPipeline.prepare(corpus, Some(bench), cfg)
    pipelineStatsRow(s, p)
  }

  /** q_corpus_pipeline_model: the pipeline with the MODEL quality gate
    * on. Corpus = documents with the q_quality_model_score filler
    * fixture (even ids get QmOracle.fillerSuffix — the frozen model's
    * positive class; odd ids score negative), benchmark = the raw %50
    * slice. The FrozenQualityModel logit folds into the quality-gate
    * scan at minLogit=0, so the "quality" stage count collapses to
    * (roughly) the even-id class — n_target pins it, and the logit's
    * scaled-long fold is bit-identical cross-engine by construction
    * (the QmOracle discipline). Plain config otherwise. */
  private def corpusPipelineModelQuery(s: SparkSession, dir: String): DataFrame = {
    val corpus = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 2 === 0,
        concat(col("text"), lit(QmOracle.fillerSuffix)))
        .otherwise(col("text")).as("text"))
    // benchmark = the RAW %50 slice (no filler) — an augmented benchmark
    // would share the filler's 8-grams with every target-class doc and
    // decontaminate the whole surviving class away (the dsir fixture's
    // rationale)
    val bench = t(s, dir, "documents").where(col("doc_id") % 50 === 0)
      .select(col("doc_id"), col("text"))
    val cfg = graft.pipeline.CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, maxTokens = 100000,
      minAlphaRatio = 0.4,
      modelGate = Some(graft.pipeline.CorpusPipeline.ModelGateConfig(
        graft.operators.FrozenQualityModel.model, minLogit = 0.0)),
      dedupThreshold = 0.5, shingleN = 3,
      decontaminateN = 8, chunkTokens = 64, overlapTokens = 16,
      splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      materializeDocuments = true)
    val p = graft.pipeline.CorpusPipeline.prepare(corpus, Some(bench), cfg)
    pipelineStatsRow(s, p, extraDocStats = Seq(
      sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).cast("long").as("n_target")))
  }

  /** The q_corpus_pipeline_ppl / q_ngram_lm_score gate threshold: sits
    * between the frozen LM's reference-shaped (≈ −1.8 nat/token) and
    * off-reference (≈ −4.3) class means, so the gate decision — an
    * EXACT integer comparison on both engines — separates the classes. */
  private val PplMinMeanLog: Double = -3.0

  /** q_corpus_pipeline_ppl: the pipeline with the PERPLEXITY gate on.
    * Corpus = the filler-augmented fixture (even ids carry
    * QmOracle.fillerSuffix — the text FrozenNgramLm trained on; odd ids
    * stay raw and score ≈ −4.3 nat/token), benchmark = the raw %50
    * slice. The trigram Stupid-Backoff mean log-score gates the quality
    * scan at minMeanLog = −3.0 as the exact integer comparison
    * score_scaled ≥ ⌊−3.0·1e9⌋·n_tokens, so the "quality" stage count
    * collapses to (roughly) the even-id class — n_target pins it.
    * Plain config otherwise. */
  private def corpusPipelinePplQuery(s: SparkSession, dir: String): DataFrame = {
    val corpus = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 2 === 0,
        concat(col("text"), lit(QmOracle.fillerSuffix)))
        .otherwise(col("text")).as("text"))
    // raw %50 benchmark — the model-variant rationale: an augmented
    // benchmark would decontaminate the whole surviving class away
    val bench = t(s, dir, "documents").where(col("doc_id") % 50 === 0)
      .select(col("doc_id"), col("text"))
    val cfg = graft.pipeline.CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, maxTokens = 100000,
      minAlphaRatio = 0.4,
      perplexityGate = Some(graft.pipeline.CorpusPipeline.PerplexityGateConfig(
        graft.operators.FrozenNgramLm.model, minMeanLog = PplMinMeanLog)),
      dedupThreshold = 0.5, shingleN = 3,
      decontaminateN = 8, chunkTokens = 64, overlapTokens = 16,
      splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      materializeDocuments = true)
    val p = graft.pipeline.CorpusPipeline.prepare(corpus, Some(bench), cfg)
    pipelineStatsRow(s, p, extraDocStats = Seq(
      sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).cast("long").as("n_target")))
  }

  /** q_corpus_pipeline_mix: the pipeline with the TRAINING-MIX TAIL on —
    * domainCap(source, k=15) right after the quality gate (best-first by
    * token count, ties by id), mixToShares(source, {src0:0.5, src1:0.3,
    * src2:0.2}) after decontamination (every other source drops; kept
    * token mass proportional to the shares at the largest
    * downsample-only total), and packTokenBudget=256 rolling the final
    * chunks into greedy-packed examples. Corpus = raw documents (the
    * `source` column is the native per-document domain); benchmark = the
    * %50 slice, so the decon rung stays live. Per-source kept counts pin
    * the mix; the packed totals pin the example assignment. */
  private def corpusPipelineMixQuery(s: SparkSession, dir: String): DataFrame = {
    val corpus = t(s, dir, "documents").select(col("doc_id"), col("text"),
      col("source"))
    val bench = t(s, dir, "documents").where(col("doc_id") % 50 === 0)
      .select(col("doc_id"), col("text"))
    val cfg = graft.pipeline.CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, maxTokens = 100000,
      minAlphaRatio = 0.4,
      domainCap = Some(graft.pipeline.CorpusPipeline.DomainCapConfig(
        "source", k = 15)),
      dedupThreshold = 0.5, shingleN = 3, decontaminateN = 8,
      mixToShares = Some(graft.pipeline.CorpusPipeline.MixConfig(
        "source", Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))),
      chunkTokens = 64, overlapTokens = 16,
      packTokenBudget = Some(256L),
      splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      materializeDocuments = true)
    val p = graft.pipeline.CorpusPipeline.prepare(corpus, Some(bench), cfg)
    pipelineStatsRow(s, p, extraDocStats = Seq("src0", "src1", "src2").map(src =>
      sum(when(col("source") === src, 1L).otherwise(0L)).cast("long").as(s"n_$src")))
  }

  /** q_corpus_pipeline_bpe: the plain pipeline with chunking AND packing
    * on TRAINED-BPE pieces (`bpeChunking` + `packTokenBudget`): the
    * chunk windows slice the FrozenBpe piece stream of the redacted
    * text, and the greedy packing budget counts those pieces. Corpus =
    * raw documents; benchmark = the %50 slice. chunk_token_sum /
    * packed_token_sum pin the piece accounting end to end. */
  /** q_corpus_pipeline_image: the plain chain over documents carrying an
    * opaque image payload (the ImageFixture PNGs on doc_id < 60, NULLs
    * elsewhere — payloads draw INSIDE the typed map, nothing ships from
    * the driver), with the perceptual image-dedup rung on. Stage counts
    * + id_checksum pin which members each image cluster lost. */
  private def corpusPipelineImageQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = base.as[(Long, String)].map { case (id, tx) =>
      val img = id < graft.operators.ImageFixture.NumImages
      (id, tx,
        if (img) "image/png" else null,
        if (img) graft.operators.ImageFixture.pngBytes(id) else null)
    }.toDF("doc_id", "text", "media_type", "content")
    val bench = t(s, dir, "documents").where(col("doc_id") % 50 === 0)
      .select(col("doc_id"), col("text"))
    val cfg = graft.pipeline.CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, maxTokens = 100000,
      minAlphaRatio = 0.4, dedupThreshold = 0.5, shingleN = 3,
      decontaminateN = 8,
      imageDedup = Some(graft.pipeline.CorpusPipeline.ImageDedupConfig(
        "media_type", "content", maxHamming = 6)),
      chunkTokens = 64, overlapTokens = 16,
      splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      materializeDocuments = true)
    val p = graft.pipeline.CorpusPipeline.prepare(corpus, Some(bench), cfg)
    pipelineStatsRow(s, p)
  }

  /** q_corpus_pipeline_media_decon: the q_corpus_pipeline_image shape
    * PLUS the media-decontamination rung — the corpus's image payloads
    * probe a frozen benchmark hash index (the fixture images with
    * media_id % 5 = 0, hashed through [[graft.operators.Dedup
    * .imageHashFrame]] exactly as a persisted benchmark artifact would
    * be) right after the text decontamination stage. Hash-pins the
    * rung's PLACEMENT in the composed chain: after image dedup (a
    * near-dup of a leaked image must collapse first so the survivor is
    * what probes), after text decon, before selection/redaction. */
  private def corpusPipelineMediaDeconQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = base.as[(Long, String)].map { case (id, tx) =>
      val img = id < graft.operators.ImageFixture.NumImages
      (id, tx,
        if (img) "image/png" else null,
        if (img) graft.operators.ImageFixture.pngBytes(id) else null)
    }.toDF("doc_id", "text", "media_type", "content")
    val bench = t(s, dir, "documents").where(col("doc_id") % 50 === 0)
      .select(col("doc_id"), col("text"))
    val benchHashes = graft.operators.Dedup.imageHashFrame(
      graft.operators.ImageFixture.frame(s).where(col("media_id") % 5 === 0),
      "media_id", "media_type", "content")
    val cfg = graft.pipeline.CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, maxTokens = 100000,
      minAlphaRatio = 0.4, dedupThreshold = 0.5, shingleN = 3,
      decontaminateN = 8,
      imageDedup = Some(graft.pipeline.CorpusPipeline.ImageDedupConfig(
        "media_type", "content", maxHamming = 6)),
      mediaDecontaminate = Some(
        graft.pipeline.CorpusPipeline.MediaDecontaminateConfig(
          "media_type", "content", kind = "image",
          benchmarkHashes = benchHashes, maxHamming = 6)),
      chunkTokens = 64, overlapTokens = 16,
      splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      materializeDocuments = true)
    val p = graft.pipeline.CorpusPipeline.prepare(corpus, Some(bench), cfg)
    pipelineStatsRow(s, p)
  }

  /** q_corpus_pipeline_audio: the pipeline with the perceptual AUDIO
    * rung composed in — the image-variant fixture with WAV payloads
    * attached to doc_id < 60 (the AudioFixture triples: the 20 planted
    * twin pairs collapse to min-id at the audio stage; docs without a
    * payload pass). Plain config otherwise. */
  private def corpusPipelineAudioQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = base.as[(Long, String)].map { case (id, tx) =>
      val aud = id < graft.operators.AudioFixture.NumClips
      (id, tx,
        if (aud) "audio/wav" else null,
        if (aud) graft.operators.AudioFixture.wavBytes(id) else null)
    }.toDF("doc_id", "text", "media_type", "content")
    val bench = t(s, dir, "documents").where(col("doc_id") % 50 === 0)
      .select(col("doc_id"), col("text"))
    val cfg = graft.pipeline.CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, maxTokens = 100000,
      minAlphaRatio = 0.4, dedupThreshold = 0.5, shingleN = 3,
      decontaminateN = 8,
      audioDedup = Some(graft.pipeline.CorpusPipeline.AudioDedupConfig(
        "media_type", "content", maxHamming = 4)),
      chunkTokens = 64, overlapTokens = 16,
      splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      materializeDocuments = true)
    val p = graft.pipeline.CorpusPipeline.prepare(corpus, Some(bench), cfg)
    pipelineStatsRow(s, p)
  }

  private def corpusPipelineVideoQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = base.as[(Long, String)].map { case (id, tx) =>
      val vid = id < graft.operators.VideoFixture.NumClips
      (id, tx,
        if (vid) "video/avi" else null,
        if (vid) graft.operators.VideoFixture.aviBytes(id) else null)
    }.toDF("doc_id", "text", "media_type", "content")
    val bench = t(s, dir, "documents").where(col("doc_id") % 50 === 0)
      .select(col("doc_id"), col("text"))
    val cfg = graft.pipeline.CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, maxTokens = 100000,
      minAlphaRatio = 0.4, dedupThreshold = 0.5, shingleN = 3,
      decontaminateN = 8,
      videoDedup = Some(graft.pipeline.CorpusPipeline.VideoDedupConfig(
        "media_type", "content", everyN = 2, maxHamming = 4,
        minMatchFrac = 0.6)),
      chunkTokens = 64, overlapTokens = 16,
      splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      materializeDocuments = true)
    val p = graft.pipeline.CorpusPipeline.prepare(corpus, Some(bench), cfg)
    pipelineStatsRow(s, p)
  }

  /** q_corpus_pipeline_ml: the FULL chain under the script-aware
    * tokenizer over the composed multilingual fixture
    * ([[graft.operators.MlFixture.pipelineDocs]] — tripled natural
    * zh/ja/ru/ar/en docs + per-script garbage + an exact zh duplicate;
    * benchmark = the clean unrelated zh and en docs). Expected
    * end-to-end survivors: the five language bases + the unrelated ru
    * doc (garbage AND the stopword-free en pangram gate-dropped, the
    * duplicate exact-deduped, the five twins near-deduped, the zh leak
    * decontaminated — the hit the Latin tokenizer could never see) —
    * asserted by the oracle's stage-by-stage DuckDB restatement, not
    * hardcoded. */
  private def corpusPipelineMlQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = graft.operators.MlFixture.pipelineDocs.toDF("doc_id", "text")
    val bench = graft.operators.MlFixture.docs
      .collect { case (id, _, tx) if id == 2L || id == 42L => (id, tx) }
      .toDF("doc_id", "text")
    val cfg = graft.pipeline.CorpusPipeline.Config(
      tokenizer = graft.functions.Tok.Ml, gopherRules = true,
      langs = Set("ar", "en", "ja", "ru", "zh"),
      minTokens = 10, maxTokens = 100000, minAlphaRatio = 0.4,
      dedupThreshold = 0.5, shingleN = 3, decontaminateN = 8,
      chunkTokens = 64, overlapTokens = 16,
      splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      materializeDocuments = true)
    val p = graft.pipeline.CorpusPipeline.prepare(corpus, Some(bench), cfg)
    pipelineStatsRow(s, p)
  }

  /** q_corpus_pipeline_full: EVERY rung family in one config — the
    * composed chain the 19 sibling variants pin pairwise, run whole.
    * Corpus = [[graft.operators.MlFixture.fullDocs]] (the ml-variant
    * fixture + five rung-threading English docs) with per-doc embedding
    * literals, ImageFixture payloads on the mapped carriers, and
    * `source = 'src' || id % 3` mix strata. Expected stage work: the ml
    * gate drops the garbage + the stopword-free pangram, exact dedup
    * drops the zh duplicate, near-dup drops the five ml twins, the
    * SEMANTIC-JL rung collapses the planted embedding pair {600, 601}
    * (lexically unrelated — only the embedding rung can see it), the
    * IMAGE rung collapses 701 into 700 (PNG 4 is PNG 3's near-dup edit),
    * text decon drops the CJK leak, MEDIA decon drops 702 (PNG 7 is
    * within Hamming 6 of frozen benchmark image 6), the MIX rung
    * resamples the survivors to the 0.5/0.3/0.2 token shares, and the
    * tail chunks ml tokens and greedy-packs them at budget 256 — every
    * stage restated in DuckDB by [[corpusPipelineFullOracle]]. */
  private def corpusPipelineFullQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val attach = graft.operators.MlFixture.fullMediaAttach.toMap
    val corpus = graft.operators.MlFixture.fullDocs.toDF("doc_id", "text")
      .as[(Long, String)].map { case (id, tx) =>
        val img = attach.get(id)
        (id, tx, s"src${id % 3}",
          img.map(_ => "image/png").orNull,
          img.map(graft.operators.ImageFixture.pngBytes).orNull,
          graft.operators.MlFixture.fullEmbedding(id))
      }.toDF("doc_id", "text", "source", "media_type", "content", "embedding")
    val fx = graft.operators.MlFixture
    val bench = fx.docs
      .collect { case (id, _, tx) if id == 2L || id == 42L => (id, tx) }
      .toDF("doc_id", "text")
    val benchHashes = graft.operators.Dedup.imageHashFrame(
      graft.operators.ImageFixture.frame(s)
        .where(col("media_id").isin(fx.fullBenchImageIds: _*)),
      "media_id", "media_type", "content")
    val cfg = graft.pipeline.CorpusPipeline.Config(
      tokenizer = graft.functions.Tok.Ml, gopherRules = true,
      langs = Set("ar", "en", "ja", "ru", "zh"),
      minTokens = 10, maxTokens = 100000, minAlphaRatio = 0.4,
      dedupThreshold = 0.5, shingleN = 3,
      semanticDedup = Some(graft.pipeline.CorpusPipeline.SemanticDedupConfig(
        "embedding", graft.operators.FrozenAnn.coarse, threshold = 0.9,
        projectTo = Some(16))),
      imageDedup = Some(graft.pipeline.CorpusPipeline.ImageDedupConfig(
        "media_type", "content", maxHamming = 6)),
      decontaminateN = 8,
      mediaDecontaminate = Some(
        graft.pipeline.CorpusPipeline.MediaDecontaminateConfig(
          "media_type", "content", kind = "image",
          benchmarkHashes = benchHashes, maxHamming = 6)),
      mixToShares = Some(graft.pipeline.CorpusPipeline.MixConfig(
        "source", Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))),
      chunkTokens = 64, overlapTokens = 16,
      packTokenBudget = Some(256L),
      splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      materializeDocuments = true)
    val p = graft.pipeline.CorpusPipeline.prepare(corpus, Some(bench), cfg)
    pipelineStatsRow(s, p)
  }

  private def corpusPipelineBpeQuery(s: SparkSession, dir: String): DataFrame = {
    val corpus = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val bench = t(s, dir, "documents").where(col("doc_id") % 50 === 0)
      .select(col("doc_id"), col("text"))
    val cfg = graft.pipeline.CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, maxTokens = 100000,
      minAlphaRatio = 0.4, dedupThreshold = 0.5, shingleN = 3,
      decontaminateN = 8, chunkTokens = 64, overlapTokens = 16,
      bpeChunking = Some(graft.operators.FrozenBpe.model),
      packTokenBudget = Some(256L),
      splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      materializeDocuments = true)
    val p = graft.pipeline.CorpusPipeline.prepare(corpus, Some(bench), cfg)
    // input_id_sum pins the pieces→ids mapping INSIDE the pipeline (the
    // packed rollup's input_ids column, summed — id arithmetic restated
    // in the oracle via bpePidExpr)
    pipelineStatsRow(s, p, extraPackedStats = Seq(
      coalesce(sum(aggregate(col("input_ids"), lit(0L),
        (acc, x) => acc + x)), lit(0L)).cast("long").as("input_id_sum")))
  }

  /** DuckDB CTE producing (doc_id, shingles): distinct 3-gram shingles of
    * the normalized text — the oracle-side mirror of
    * [[graft.operators.Dedup.shingleSets]], shared by every dedup oracle. */
  private lazy val incrementalDedupOracle: String =
    s"WITH RECURSIVE $shingleCte, " +
      "j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
      "WHERE b.doc_id >= 300 AND " +
      "len(list_intersect(a.shingles,b.shingles))*1.0/greatest(len(list_distinct(list_concat(a.shingles,b.shingles))),1) >= 0.5), " +
      "e AS (SELECT id_a AS src, id_b AS dst FROM j UNION ALL SELECT id_b, id_a FROM j), " +
      "r AS (SELECT src AS id, src AS label FROM e UNION SELECT e.dst AS id, r.label FROM r JOIN e ON e.src = r.id), " +
      "lab AS (SELECT id, min(label) AS label FROM r GROUP BY id), " +
      "tainted AS (SELECT DISTINCT label FROM lab WHERE id < 300), " +
      "losers AS (SELECT id FROM lab WHERE id >= 300 AND " +
      "(label IN (SELECT label FROM tainted) OR id <> label)), " +
      "kept AS (SELECT doc_id FROM documents WHERE doc_id >= 300 " +
      "AND doc_id NOT IN (SELECT id FROM losers)) " +
      "SELECT (SELECT count(*) FROM documents WHERE doc_id >= 300) AS n_incoming, " +
      "count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_checksum FROM kept"

  // ── Shared DuckDB fragments of the composed corpus-pipeline oracles —
  // ONE copy of each chain-invariant block (the language-vote CTE, the
  // PII redaction fold, the 8-gram shingle CTE, and the redact → chunk →
  // split tail), so a fix to the shared chain cannot silently miss one
  // of the seven restatements. Byte-identity with the pre-refactor
  // oracle strings was pinned by regenerating oracle_sql.json and
  // diffing (round 10). ─────────────────────────────────────────────────

  /** The 4-language stopword-vote + Han-ratio language CTE over `tok`. */
  /** The per-language vote string (lpad(score)||code) greatest() argmax
    * over a token-array expression — GENERATED from
    * [[graft.functions.LangProfiles.stopwords]] (no-drift; the greatest
    * on "score||code" strings reproduces the kernel's highest-score-
    * then-highest-code tie-break). */
  private def langVoteGreatestSql(tokArr: String): String =
    graft.functions.LangProfiles.stopwords.toSeq.sortBy(_._1).map {
      case (code, words) =>
        val lst = words.map(w => s"'$w'").mkString(",")
        s"lpad(CAST(len(list_filter($tokArr, x -> list_contains([$lst], x))) AS VARCHAR),8,'0')||'$code'"
    }.mkString("greatest(", ", ", ")")

  /** The ordered script-ratio WHEN branches over a text expression —
    * GENERATED from [[graft.functions.LangProfiles.scriptRules]]
    * (RE2 char classes; same thresholds and order as the kernel). */
  private def langScriptWhensSql(textExpr: String): String =
    graft.functions.LangProfiles.scriptRules.map { r =>
      s"WHEN len(regexp_extract_all($textExpr,'[${r.sqlClass}]'))*1.0/" +
        s"greatest(length($textExpr),1) > ${r.thresholdSql} THEN '${r.code}'"
    }.mkString(" ")

  private lazy val pipelineLangCteSql: String =
    // the vote reads the SCRIPT-AWARE token array (the kernel's round-14
    // tokenizer — ml ≡ Latin on the ASCII corpus, restated for no-drift),
    // computed once as a column so the 26 per-language filters share it
    "lang AS (SELECT doc_id, CASE " + langScriptWhensSql("text") +
      " WHEN CAST(substr(b,1,8) AS INT) > 0 THEN substr(b,9,2) ELSE 'und' END AS lang FROM " +
      s"(SELECT doc_id, text, ${langVoteGreatestSql("mt")} AS b FROM " +
      s"(SELECT doc_id, text, ${graft.functions.Tok.Ml.sqlTokens("text")} AS mt FROM tok) y) x), "

  /** The PII redaction chain over a `text` column, generated FROM
    * piiClasses (patterns cannot drift). */
  private lazy val piiRedactSql: String =
    graft.functions.TextAnalysis.piiClasses.foldLeft("text") {
      case (acc, (re, tag)) => s"regexp_replace($acc, '$re', '$tag', 'g')"
    }

  /** (doc_id, sh) distinct 8-gram shingles of token array `t` in src. */
  private def gram8CteSql(src: String): String =
    s"SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-6,1)), " +
      s"i -> array_to_string(list_slice(t,i,i+7),' '))) AS sh FROM $src"

  /** dw → init → enc → pieces CTEs: the frozen-BPE serving restatement
    * over the DISTINCT words of `src` (any CTE exposing a column `w`) —
    * each word becomes a spaced-symbol string (" c1  c2 … ") and merge
    * r replaces all " a  b " with " ab ", one pass per rank in rank
    * order; equal to the canonical min-rank loop because every trained
    * merge output is fresh (Bpe.train scaladoc; BpeSpec proves the
    * equivalence against an independent reference). Shared by
    * q_bpe_token_counts and the q_corpus_pipeline_bpe tail. */
  private def bpePieceCtes(src: String): String = {
    val merges = graft.operators.FrozenBpe.model.merges
    require(merges.forall(_.matches("[a-z0-9]+ [a-z0-9]+")),
      "frozen merges must be plain normalized tokens (SQL-literal-safe)")
    val chain = merges.foldLeft("s0") { (acc, m) =>
      val i = m.indexOf(' ')
      val a = m.substring(0, i); val b = m.substring(i + 1)
      s"replace($acc, ' $a  $b ', ' $a$b ')"
    }
    s"dw AS (SELECT DISTINCT w FROM $src), " +
      "init AS (SELECT w, ' ' || array_to_string(list_transform(range(1, length(w) + 1), i -> substr(w, CAST(i AS INT), 1)), '  ') || ' ' AS s0 FROM dw), " +
      s"enc AS (SELECT w, $chain AS s FROM init), " +
      // first piece of each word carries the '▁' word-boundary marker
      // (the engine kernel's SentencePiece-style convention)
      "pieces AS (SELECT w, list_concat([('▁' || p0[1])], p0[2:]) AS ps FROM " +
      "(SELECT w, list_filter(regexp_split_to_array(trim(s), '\\s+'), x -> x <> '') AS p0 FROM enc)), "
  }

  /** The 128-bit perceptual-hash pair CTEs (frozen grids → h∥v dHash
    * bits → chunk band → exact Hamming), with every CTE name prefixed
    * by `p` so the chain composes into larger oracles. Both frozen grid
    * families ride as VALUES; the 128-bit concat = horizontal dHash
    * bits [0, 64) ∥ vertical bits [64, 128); chunk boundaries come from
    * the SAME [[graft.operators.Dedup.hammingChunkLayout]] the
    * engine bands with (no drift). Ends with `${p}hm(id_a, id_b,
    * hamming)` — NOT bound-filtered (the consumer applies `<= h`). */
  private def imageHamming128Ctes(p: String, maxHamming: Int): String = {
    val hRows = graft.operators.FrozenImageGrids.grids
      .map { case (id, g) => s"($id, ${g.mkString("[", ",", "]")})" }
      .mkString(", ")
    val vRows = graft.operators.FrozenImageGrids.gridsV
      .map { case (id, g) => s"($id, ${g.mkString("[", ",", "]")})" }
      .mkString(", ")
    val (_, offsets) = graft.operators.Dedup.hammingChunkLayout(128, maxHamming)
    val chunkCase = "CASE " + (1 to maxHamming).map(j =>
      s"WHEN b < ${offsets(j)} THEN ${j - 1}").mkString(" ") + s" ELSE $maxHamming END"
    val layRows = (0 to maxHamming).map(j => s"($j, ${offsets(j)})").mkString(", ")
    s"${p}grh(media_id, g) AS (VALUES $hRows), " +
      s"${p}grv(media_id, g) AS (VALUES $vRows), " +
      s"${p}bb AS (SELECT unnest(range(0, 64)) AS b), " +
      // horizontal: bit b = row*8+col set iff 9-wide cell (row,col) >
      // right neighbor; vertical (at concat bit 64+b): 8-wide cell
      // (row,col) > the cell below. DuckDB lists are 1-based.
      s"${p}bt AS (" +
      s"SELECT media_id, b, CASE WHEN g[(b//8)*9 + (b%8) + 1] > g[(b//8)*9 + (b%8) + 2] THEN 1 ELSE 0 END AS bit FROM ${p}grh, ${p}bb " +
      "UNION ALL " +
      s"SELECT media_id, b + 64, CASE WHEN g[(b//8)*8 + (b%8) + 1] > g[(b//8 + 1)*8 + (b%8) + 1] THEN 1 ELSE 0 END FROM ${p}grv, ${p}bb), " +
      s"${p}lay(ck, lo) AS (VALUES $layRows), " +
      s"${p}ch AS (SELECT media_id, $chunkCase AS ck, b, bit FROM ${p}bt), " +
      // chunk keys as bit STRINGS (equality is all the band join needs)
      s"${p}bd AS (SELECT media_id, ck, string_agg(CAST(bit AS VARCHAR), '' ORDER BY b) AS key " +
      s"FROM ${p}ch JOIN ${p}lay USING (ck) GROUP BY media_id, ck), " +
      s"${p}cand AS (SELECT DISTINCT a.media_id AS id_a, b2.media_id AS id_b " +
      s"FROM ${p}bd a JOIN ${p}bd b2 ON a.ck = b2.ck AND a.key = b2.key AND a.media_id < b2.media_id), " +
      s"${p}hm AS (SELECT c.id_a, c.id_b, " +
      s"(SELECT count(*) FROM ${p}bt x JOIN ${p}bt y ON x.b = y.b " +
      s"WHERE x.media_id = c.id_a AND y.media_id = c.id_b AND x.bit <> y.bit) AS hamming FROM ${p}cand c)"
  }

  /** DuckDB CTE chain producing `${p}hm(id_a, id_b, hamming)` for the
    * AUDIO fixture: envelope-delta bits from the ANALYTIC envelope (the
    * ±A square-wave fixture makes window w's L1 energy exactly
    * 64·amplitude — [[graft.operators.AudioFixture.windowAmplitude]];
    * live PCM decode ≡ analytic is MultimodalSpec's assert), banded
    * over the SAME hammingChunkLayout the engine bands with. Shared by
    * the standalone q_audio_near_dups oracle and the composed
    * q_corpus_pipeline_audio restatement. */
  private def audioHammingCtes(p: String, maxHamming: Int): String =
    audioHammingCtesFromRows(p, maxHamming,
      (0 until graft.operators.AudioFixture.NumClips).map { id =>
        s"($id, ${analyticEnvelope(id.toLong).mkString("[", ",", "]")})"
      }.mkString(", "))

  /** The ANALYTIC L1 envelope of fixture clip `id`: 64·amplitude per
    * window (the ±A square-wave identity). */
  private def analyticEnvelope(id: Long): Seq[Long] =
    (0 until graft.operators.AudioFixture.Windows)
      .map(w => 64L * graft.operators.AudioFixture.windowAmplitude(id, w))

  /** [[audioHammingCtes]] for the G.711 µ-LAW fixture: the analytic
    * envelope is 64 · the ENGINE's own µ-law expansion of the planted
    * companded magnitude field ([[graft.operators.AudioFixture
    * .ulawWindowAmplitude]] → [[graft.operators.G711.ulawToLinear]]) —
    * so a wrong expansion table would hash-mismatch here, not just in a
    * spec. */
  private def audioUlawHammingCtes(p: String, maxHamming: Int): String =
    audioHammingCtesFromRows(p, maxHamming,
      (0 until graft.operators.AudioFixture.NumUlawClips).map { id =>
        val env = (0 until graft.operators.AudioFixture.Windows)
          .map(w => 64L * graft.operators.AudioFixture.ulawWindowAmplitude(id.toLong, w))
        s"($id, ${env.mkString("[", ",", "]")})"
      }.mkString(", "))

  /** DuckDB CTE chain producing `vm(id_a, id_b, n_matched)` for the
    * VIDEO fixture: per-sampled-frame dHash bits from the ANALYTIC 9×8
    * pixel grids (fixture frames ARE the dHash grid and are grayscale,
    * so decoded luma ≡ planted value —
    * [[graft.operators.VideoFixture.frameGrid]]; live AVI container
    * decode ≡ analytic is MultimodalSpec's assert), then BRUTE-FORCE
    * aligned-frame Hamming — equivalent ground truth to the engine's
    * banding because chunk recall is complete within the bound, so
    * band→verify and brute-force→filter select the same pair set —
    * and the matched-frame count per pair. */
  /** The fixture's (media_id, sampled frame, analytic grid) VALUES rows
    * — corpus clips under their own ids; reused with remapped ids by the
    * incremental oracle. */
  private def videoFixtureRows: Seq[String] = for {
    id <- 0 until graft.operators.VideoFixture.NumClips
    f <- Seq(0, 2, 4) // 6 frames sampled every 2nd
  } yield s"($id, $f, " +
    s"${graft.operators.VideoFixture.frameGrid(id.toLong, f).mkString("[", ",", "]")})"

  private def videoMatchCtes(p: String): String =
    videoMatchCtesFromRows(p, videoFixtureRows.mkString(", "))

  /** Ground truth for q_video_near_dups_set: the everyN=1 corpus where
    * every third clip is a 1-frame-TRIMMED copy of its triple's base
    * (ordinal f carries base frame f+1), brute-force CROSS-frame Hamming
    * (no ordinal alignment), matched = a's distinct ordinals with ≥ one
    * partner, gated at ceil(0.6·min(nf)) with per-clip frame counts. */
  private lazy val videoSetMatchOracle: String = {
    val vf = graft.operators.VideoFixture
    val rows = (for {
      id <- 0 until vf.NumClips
      trimmed = id % 3 == 2
      f <- 0 until (if (trimmed) 5 else 6)
    } yield {
      val src = if (trimmed) (id - 2).toLong else id.toLong
      val srcF = if (trimmed) f + 1 else f
      s"($id, $f, ${vf.frameGrid(src, srcF).mkString("[", ",", "]")})"
    }).mkString(", ")
    s"WITH svgr(media_id, f, g) AS (VALUES $rows), " +
      "svbb AS (SELECT rr.r AS r, cc.c AS c FROM " +
      "(SELECT unnest(range(0, 8)) AS r) rr, (SELECT unnest(range(0, 8)) AS c) cc), " +
      "svbt AS (SELECT media_id, f, r * 8 + c AS b, " +
      "CASE WHEN g[r * 9 + c + 1] > g[r * 9 + c + 2] THEN 1 ELSE 0 END AS bit FROM svgr, svbb), " +
      "svhm AS (SELECT a.media_id AS id_a, b2.media_id AS id_b, a.f AS fa, b2.f AS fb, " +
      "sum(CASE WHEN a.bit <> b2.bit THEN 1 ELSE 0 END) AS hamming " +
      "FROM svbt a JOIN svbt b2 ON a.b = b2.b AND a.media_id < b2.media_id " +
      "GROUP BY 1, 2, 3, 4), " +
      "svm AS (SELECT id_a, id_b, count(DISTINCT fa) AS n_matched FROM svhm " +
      "WHERE hamming <= 4 GROUP BY 1, 2), " +
      "snf AS (SELECT media_id, count(*) AS nf FROM svgr GROUP BY 1) " +
      "SELECT id_a, id_b, CAST(n_matched AS BIGINT) AS n_matched FROM svm " +
      "JOIN snf na ON na.media_id = svm.id_a JOIN snf nb ON nb.media_id = svm.id_b " +
      "WHERE n_matched >= ceil(0.6 * least(na.nf, nb.nf)) ORDER BY id_a, id_b"
  }

  private def videoMatchCtesFromRows(p: String, rows: String): String = {
    s"${p}vgr(media_id, f, g) AS (VALUES $rows), " +
      s"${p}vbb AS (SELECT rr.r AS r, cc.c AS c FROM " +
      "(SELECT unnest(range(0, 8)) AS r) rr, (SELECT unnest(range(0, 8)) AS c) cc), " +
      // dHash bit (r·8+c): cell (r, c) brighter than its right neighbor
      // (1-based DuckDB list indexing over the row-major 9-wide grid)
      s"${p}vbt AS (SELECT media_id, f, r * 8 + c AS b, " +
      s"CASE WHEN g[r * 9 + c + 1] > g[r * 9 + c + 2] THEN 1 ELSE 0 END AS bit FROM ${p}vgr, ${p}vbb), " +
      s"${p}vhm AS (SELECT a.media_id AS id_a, b2.media_id AS id_b, a.f AS f, " +
      "sum(CASE WHEN a.bit <> b2.bit THEN 1 ELSE 0 END) AS hamming " +
      s"FROM ${p}vbt a JOIN ${p}vbt b2 ON a.f = b2.f AND a.b = b2.b AND a.media_id < b2.media_id " +
      "GROUP BY 1, 2, 3), " +
      s"${p}vm AS (SELECT id_a, id_b, count(*) AS n_matched FROM ${p}vhm WHERE hamming <= 4 GROUP BY 1, 2)"
  }

  private def audioHammingCtesFromRows(p: String, maxHamming: Int,
      rows: String): String = {
    val (_, offsets) = graft.operators.Dedup.hammingChunkLayout(64, maxHamming)
    val chunkCase = "CASE " + (1 to maxHamming).map(j =>
      s"WHEN b < ${offsets(j)} THEN ${j - 1}").mkString(" ") + s" ELSE $maxHamming END"
    val layRows = (0 to maxHamming).map(j => s"($j, ${offsets(j)})").mkString(", ")
    s"${p}gr(media_id, g) AS (VALUES $rows), " +
      s"${p}bb AS (SELECT unnest(range(0, 64)) AS b), " +
      // bit b set iff window b+1 carries more L1 energy than window b
      // (DuckDB lists are 1-based)
      s"${p}bt AS (SELECT media_id, b, CASE WHEN g[b + 2] > g[b + 1] THEN 1 ELSE 0 END AS bit FROM ${p}gr, ${p}bb), " +
      s"${p}lay(ck, lo) AS (VALUES $layRows), " +
      s"${p}ch AS (SELECT media_id, $chunkCase AS ck, b, bit FROM ${p}bt), " +
      s"${p}bd AS (SELECT media_id, ck, CAST(sum(bit * (CAST(1 AS BIGINT) << (b - lo))) AS BIGINT) AS key " +
      s"FROM ${p}ch JOIN ${p}lay USING (ck) GROUP BY media_id, ck), " +
      s"${p}cand AS (SELECT DISTINCT a.media_id AS id_a, b2.media_id AS id_b " +
      s"FROM ${p}bd a JOIN ${p}bd b2 ON a.ck = b2.ck AND a.key = b2.key AND a.media_id < b2.media_id), " +
      s"${p}hm AS (SELECT c.id_a, c.id_b, " +
      s"(SELECT count(*) FROM ${p}bt x JOIN ${p}bt y ON x.b = y.b " +
      s"WHERE x.media_id = c.id_a AND y.media_id = c.id_b AND x.bit <> y.bit) AS hamming FROM ${p}cand c)"
  }

  /** The piece→vocab-id mapping the engine's `bpe_piece_ids` kernel
    * applies ([[graft.functions.BpeEncoder.idOfPiece]]), restated for
    * DuckDB: a VALUES table of the frozen merge OUTPUTS with their
    * ranks, and the id arithmetic (merge rank; else M + codepoint;
    * '▁'-marked pieces shift by the unmarked-space size M + 0x110000).
    * The merge table alone defines the space — no extra artifact. */
  private lazy val bpeIdmCte: String = {
    val vals = graft.operators.FrozenBpe.model.merges.zipWithIndex
      .map { case (m, k) => s"('${m.replace(" ", "")}',$k)" }.mkString(",")
    s"idm AS (SELECT * FROM (VALUES $vals) AS _idm(piece, rk))"
  }

  /** Id expression over a piece column `p` (use with a LEFT JOIN on
    * [[bpeIdmJoin]]); `rk` comes from that join. */
  private def bpePidExpr(p: String): String = {
    val m = graft.operators.FrozenBpe.model.merges.length
    s"(CASE WHEN starts_with($p,'▁') THEN ${m + 0x110000} ELSE 0 END) + " +
      s"COALESCE(idm.rk, $m + unicode(CASE WHEN starts_with($p,'▁') " +
      s"THEN substr($p,2) ELSE $p END))"
  }

  private def bpeIdmJoin(p: String): String =
    s"LEFT JOIN idm ON idm.piece = (CASE WHEN starts_with($p,'▁') " +
      s"THEN substr($p,2) ELSE $p END)"

  /** The greedy-packing rollup CTEs (pord → ppk → pex) over the tail's
    * `ck` (doc_id, chunk_idx, n) and `sp` (doc_id, split) — the
    * q_packed_examples recursion at `budget`, per (split, md5-hex
    * shard) in (doc_id, chunk_idx) order. Emitted with a LEADING comma
    * (the tail fragments end comma-free, ready for a SELECT). */
  private def packingCtes(budget: Long): String =
    ", pord AS MATERIALIZED (SELECT sp.split AS split, substr(md5(CAST(ck.doc_id AS VARCHAR)),1,1) AS shard, " +
      "ck.doc_id AS doc_id, ck.chunk_idx AS chunk_idx, ck.n AS n, " +
      "row_number() OVER (PARTITION BY sp.split, substr(md5(CAST(ck.doc_id AS VARCHAR)),1,1) ORDER BY ck.doc_id, ck.chunk_idx) AS rn " +
      "FROM ck JOIN sp ON ck.doc_id = sp.doc_id), " +
      "ppk AS (SELECT split, shard, n, rn, CAST(0 AS BIGINT) AS ex, n AS tk FROM pord WHERE rn = 1 " +
      "UNION ALL SELECT o.split, o.shard, o.n, o.rn, " +
      s"CASE WHEN p.tk > 0 AND p.tk + o.n > $budget THEN p.ex + 1 ELSE p.ex END, " +
      s"CASE WHEN p.tk > 0 AND p.tk + o.n > $budget THEN o.n ELSE p.tk + o.n END " +
      "FROM ppk p JOIN pord o ON o.split = p.split AND o.shard = p.shard AND o.rn = p.rn + 1), " +
      "pex AS (SELECT split, shard, ex, count(*) AS nchunks, CAST(sum(n) AS BIGINT) AS ntok FROM ppk GROUP BY 1,2,3) "

  /** The redact → re-tokenize → chunk(64/16) → split(0.9/0.05/0.05)
    * tail over the final content stage `src`. */
  private def pipelineTailSql(src: String): String =
    s"red AS (SELECT doc_id, $piiRedactSql AS rt FROM $src), " +
      "rtok AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(regexp_replace(lower(rt),'[^a-z0-9]+',' ','g')),'\\s+'), x -> x <> '') AS t FROM red), " +
      "st AS (SELECT doc_id, t, unnest(list_filter(range(0, len(t), 48), s -> s = 0 OR s + 16 < len(t))) AS s FROM rtok WHERE len(t) > 0), " +
      // chunk_idx = s // stride: the surviving start list is a PREFIX of
      // range (only tail starts drop), so position == s/stride — used by
      // the packing rollup, inert for the other pipeline oracles
      "ck AS (SELECT doc_id, CAST(s // 48 AS BIGINT) AS chunk_idx, len(list_slice(t, s + 1, s + 64)) AS n FROM st), " +
      "sp AS (SELECT doc_id, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,8) < 'e6666666' THEN 'train' " +
      "WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,8) < 'f3333333' THEN 'val' ELSE 'test' END AS split FROM " + src + ") "

  /** Ground truth for q_corpus_pipeline: every stage's already-proven
    * DuckDB restatement (the q_html_strip chain + newline-preserving
    * collapse, lang-ID voting, the seven generated Gopher rules,
    * norm-text exact dedup, the q_line_dedup line-scrub + reassembly,
    * trigram Jaccard pairs + recursive-CTE CC, 8-gram decontamination,
    * the piiClasses redaction chain, md5 hash-split, chunk windows)
    * composed into one CTE chain over the html-wrapped, footer- and
    * stopword-augmented documents fixture (benchmark = the un-wrapped
    * augmentation). */
  private lazy val corpusPipelineOracle: String = {
    // redaction chain generated FROM piiClasses — patterns cannot drift
    def gram8(src: String): String = gram8CteSql(src)
    val renorm = "trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g'))"
    // quality gate = the config gate AND the seven generated Gopher rules
    val gopher = gopherRuleSqls("tok.text", "tok.t", "tok.norm")
      .map(r => s"($r)").mkString(" AND ")
    "WITH RECURSIVE " +
      // the same augmentation the Spark side plants: stopword run on id%3,
      // shared footer on even ids — this un-wrapped form IS the benchmark
      "aug1 AS MATERIALIZED (SELECT doc_id, text || " +
      "CASE WHEN doc_id % 3 = 0 THEN ' it was the best of day ' || CAST(doc_id AS VARCHAR) || " +
      "' and this is that for you with ' || CAST(doc_id AS VARCHAR) || ' more time' ELSE '' END || " +
      "CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'copyright footer all rights reserved' ELSE '' END AS text FROM documents), " +
      // corpus side: HTML shell, then the generated strip chain + the
      // newline-preserving collapse (the stage the pipeline runs first).
      // MATERIALIZED: DuckDB would otherwise inline the 14-regexp chain
      // into every downstream reference (the recursive CC references its
      // ancestors many times) — hours instead of seconds
      "raw0 AS (SELECT doc_id, '<html><body><p class=\"d\">' || text || " +
      "'</p><!-- boilerplate --></body></html>' AS raw FROM aug1), " +
      s"doc0 AS MATERIALIZED (SELECT doc_id, ${collapseLineWsSql(htmlStripSql("raw"))} AS text FROM raw0), " +
      "base AS (SELECT doc_id, text, trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')) AS norm FROM doc0), " +
      "tok AS MATERIALIZED (SELECT doc_id, text, norm, regexp_split_to_array(norm,'\\s+') AS t FROM base), " +
      "btok AS (SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+') AS t " +
      "FROM aug1 WHERE doc_id % 50 = 0), " +
      pipelineLangCteSql +
      "q1 AS MATERIALIZED (SELECT tok.doc_id AS doc_id, tok.text AS text, tok.norm AS norm, tok.t AS t " +
      "FROM tok JOIN lang ON tok.doc_id = lang.doc_id " +
      "WHERE len(tok.t) BETWEEN 10 AND 100000 " +
      "AND length(regexp_replace(tok.text,'[^A-Za-z]','','g'))*1.0/greatest(length(tok.text),1) >= 0.4 " +
      s"AND lang.lang = 'en' AND $gopher), " +
      "q2 AS (SELECT * FROM q1 WHERE doc_id IN (SELECT min(doc_id) FROM q1 GROUP BY norm)), " +
      // line-level dedup (the q_line_dedup restatement): lines in >= 2
      // distinct docs are scrubbed from all docs, blank lines exempt,
      // order-preserving reassembly; then the minTokens re-gate on the
      // recomputed token stream (the rewrite can empty a document)
      "lls AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line, " +
      "generate_subscripts(string_split(text, chr(10)), 1) AS lpos FROM q2), " +
      "ldup AS (SELECT line FROM (SELECT DISTINCT doc_id, line FROM lls WHERE trim(line) <> '') " +
      "GROUP BY line HAVING count(*) >= 2), " +
      "lkept AS (SELECT doc_id, line, lpos FROM lls WHERE trim(line) = '' OR line NOT IN (SELECT line FROM ldup)), " +
      "lreb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY lpos) AS t2 FROM lkept GROUP BY doc_id), " +
      "q2l0 AS (SELECT q2.doc_id AS doc_id, COALESCE(lreb.t2, '') AS text FROM q2 LEFT JOIN lreb ON q2.doc_id = lreb.doc_id), " +
      s"q2l AS MATERIALIZED (SELECT doc_id, text, $renorm AS norm, regexp_split_to_array($renorm,'\\s+') AS t " +
      s"FROM q2l0 WHERE len(regexp_split_to_array($renorm,'\\s+')) >= 10), " +
      "sh3 AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-1,1)), " +
      "i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS sh FROM q2l), " +
      "j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id " +
      "WHERE len(list_intersect(a.sh,b.sh))*1.0/greatest(len(list_distinct(list_concat(a.sh,b.sh))),1) >= 0.5), " +
      "e AS (SELECT id_a AS src, id_b AS dst FROM j UNION ALL SELECT id_b, id_a FROM j), " +
      "r AS (SELECT src AS id, src AS label FROM e UNION SELECT e.dst AS id, r.label FROM r JOIN e ON e.src = r.id), " +
      "lab AS (SELECT id, min(label) AS label FROM r GROUP BY id), " +
      "q3 AS (SELECT * FROM q2l WHERE doc_id NOT IN (SELECT id FROM lab WHERE label <> id)), " +
      s"sh8c AS (${gram8("q3")}), " +
      s"sh8b AS (${gram8("btok")}), " +
      "cont AS (SELECT DISTINCT c.doc_id AS doc_id FROM sh8c c JOIN sh8b b ON len(list_intersect(c.sh,b.sh)) > 0), " +
      "q4 AS (SELECT * FROM q3 WHERE doc_id NOT IN (SELECT doc_id FROM cont)), " +
      pipelineTailSql("q4") +
      "SELECT (SELECT count(*) FROM documents) AS n_input, " +
      "(SELECT count(*) FROM q1) AS n_quality, " +
      "(SELECT count(*) FROM q2) AS n_exact_dedup, " +
      "(SELECT count(*) FROM q2l) AS n_line_dedup, " +
      "(SELECT count(*) FROM q3) AS n_near_dedup, " +
      "(SELECT count(*) FROM q4) AS n_decontaminated, " +
      "(SELECT CAST(sum(doc_id) AS BIGINT) FROM q4) AS id_checksum, " +
      "(SELECT CAST(sum(length(rt)) AS BIGINT) FROM red) AS text_len_sum, " +
      "(SELECT count(*) FROM sp WHERE split='train') AS n_train, " +
      "(SELECT count(*) FROM sp WHERE split='val') AS n_val, " +
      "(SELECT count(*) FROM sp WHERE split='test') AS n_test, " +
      "(SELECT count(*) FROM ck) AS n_chunks, " +
      "(SELECT CAST(sum(n) AS BIGINT) FROM ck) AS chunk_token_sum"
  }

  /** Ground truth for q_corpus_pipeline_semantic: the plain-config
    * pipeline chain (quality/lang gate → exact → trigram near-dup CC)
    * extended with the SEMANTIC rung — primary assignment to the frozen
    * coarse centroids (AnnOracles.coarseCtes, the exact literals the
    * Spark side probes), within-cluster cosine ≥ 0.9 pairs, a second
    * recursive-CTE CC, and the keep-the-outlier survivor rank — over the
    * documents ⨝ embeddings corpus plus the reversed-token/jittered-
    * embedding paraphrase twins. */
  private lazy val corpusPipelineSemanticOracle: String = {
    "WITH RECURSIVE " +
      AnnOracles.coarseCtes + ", " +
      "dv AS (SELECT d.doc_id, d.text, list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v " +
      "FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id), " +
      // twins: reversed-token text, md5-jittered embedding — the jitter
      // key is the ORIGINAL doc_id (inner select), the id offset applies
      // outside, exactly as the Spark side's two-step select
      "tw AS (SELECT doc_id + 1000000 AS doc_id, text, v FROM (" +
      "SELECT doc_id, array_to_string(list_reverse(regexp_split_to_array(" +
      "trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+')), ' ') AS text, " +
      "list_transform(v, (x, i) -> x + 0.025 * (CASE WHEN " +
      "substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 1) <= '7' " +
      "THEN 1.0 ELSE -1.0 END)) AS v FROM dv WHERE doc_id % 10 = 0)), " +
      "aug AS MATERIALIZED (SELECT doc_id, text, v FROM dv UNION ALL SELECT doc_id, text, v FROM tw), " +
      "base AS (SELECT doc_id, text, trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')) AS norm FROM aug), " +
      "tok AS MATERIALIZED (SELECT doc_id, text, norm, regexp_split_to_array(norm,'\\s+') AS t FROM base), " +
      pipelineLangCteSql +
      "q1 AS MATERIALIZED (SELECT tok.doc_id AS doc_id, tok.text AS text, tok.norm AS norm, tok.t AS t " +
      "FROM tok JOIN lang ON tok.doc_id = lang.doc_id " +
      "WHERE len(tok.t) BETWEEN 10 AND 100000 " +
      "AND length(regexp_replace(tok.text,'[^A-Za-z]','','g'))*1.0/greatest(length(tok.text),1) >= 0.4 " +
      "AND lang.lang = 'en'), " +
      "q2 AS (SELECT * FROM q1 WHERE doc_id IN (SELECT min(doc_id) FROM q1 GROUP BY norm)), " +
      "sh3 AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-1,1)), " +
      "i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS sh FROM q2), " +
      "j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id " +
      "WHERE len(list_intersect(a.sh,b.sh))*1.0/greatest(len(list_distinct(list_concat(a.sh,b.sh))),1) >= 0.5), " +
      "e AS (SELECT id_a AS src, id_b AS dst FROM j UNION ALL SELECT id_b, id_a FROM j), " +
      "r AS (SELECT src AS id, src AS label FROM e UNION SELECT e.dst AS id, r.label FROM r JOIN e ON e.src = r.id), " +
      "lab AS (SELECT id, min(label) AS label FROM r GROUP BY id), " +
      "q3 AS MATERIALIZED (SELECT * FROM q2 WHERE doc_id NOT IN (SELECT id FROM lab WHERE label <> id)), " +
      // ── semantic rung: primary assignment → within-cluster pairs →
      //    CC #2 → keep-the-outlier (lowest centroid cosine, ties by id)
      "sememb AS MATERIALIZED (SELECT q3.doc_id AS id, a.v FROM q3 JOIN aug a ON a.doc_id = q3.doc_id), " +
      "sasg AS MATERIALIZED (SELECT id, l, cc FROM (SELECT s2.id, ls.l, " +
      "list_cosine_similarity(s2.v, cents[ls.l+1]) AS cc, " +
      "ROW_NUMBER() OVER (PARTITION BY s2.id ORDER BY " +
      "list_cosine_similarity(s2.v, cents[ls.l+1]) DESC, ls.l) AS rk " +
      "FROM sememb s2, ls, co) WHERE rk = 1), " +
      "sj AS MATERIALIZED (SELECT ax.id AS id_a, ay.id AS id_b " +
      "FROM sasg ax JOIN sasg ay ON ax.l = ay.l AND ax.id < ay.id " +
      "JOIN sememb x ON x.id = ax.id JOIN sememb y ON y.id = ay.id " +
      "WHERE list_cosine_similarity(x.v, y.v) >= 0.9), " +
      "se AS (SELECT id_a AS src, id_b AS dst FROM sj UNION ALL SELECT id_b, id_a FROM sj), " +
      "sr AS (SELECT src AS id, src AS label FROM se " +
      "UNION SELECT se.dst AS id, sr.label FROM sr JOIN se ON se.src = sr.id), " +
      "slab AS (SELECT id, min(label) AS label FROM sr GROUP BY id), " +
      "sranked AS (SELECT slab.id, ROW_NUMBER() OVER (PARTITION BY slab.label " +
      "ORDER BY sasg.cc ASC, slab.id ASC) AS rk FROM slab JOIN sasg ON sasg.id = slab.id), " +
      "q3s AS (SELECT * FROM q3 WHERE doc_id NOT IN (SELECT id FROM sranked WHERE rk > 1)), " +
      pipelineTailSql("q3s") +
      "SELECT (SELECT count(*) FROM aug) AS n_input, " +
      "(SELECT count(*) FROM q1) AS n_quality, " +
      "(SELECT count(*) FROM q2) AS n_exact_dedup, " +
      "(SELECT count(*) FROM q3) AS n_near_dedup, " +
      "(SELECT count(*) FROM q3s) AS n_semantic_dedup, " +
      "(SELECT count(*) FROM q3s) AS n_decontaminated, " +
      "(SELECT CAST(sum(doc_id) AS BIGINT) FROM q3s) AS id_checksum, " +
      "(SELECT CAST(sum(length(rt)) AS BIGINT) FROM red) AS text_len_sum, " +
      "(SELECT count(*) FROM sp WHERE split='train') AS n_train, " +
      "(SELECT count(*) FROM sp WHERE split='val') AS n_val, " +
      "(SELECT count(*) FROM sp WHERE split='test') AS n_test, " +
      "(SELECT count(*) FROM ck) AS n_chunks, " +
      "(SELECT CAST(sum(n) AS BIGINT) FROM ck) AS chunk_token_sum"
  }

  /** Ground truth for q_corpus_pipeline_semantic_jl: the semantic
    * pipeline with the rung restated in JL-PROJECTED space — the ±1/0
    * matrix cells and the projected-centroid codebook are emitted from
    * the engine's OWN generators ([[graft.operators.Similarity
    * .randomProjectionMatrix]] / `projectCentroids` — no drift), the
    * per-document projection folds the same floor(x·1024 + 0.5)
    * quantization in BIGINT, and assignment / within-cluster cosine /
    * keep-the-outlier then run over the 16-dim vectors exactly as the
    * engine's one-flag projectTo composition does. */
  private lazy val corpusPipelineSemanticJlOracle: String = {
    val outDim = 16; val inDim = 64
    val m = graft.operators.Similarity.randomProjectionMatrix(inDim, outDim)
    // the list(o ORDER BY j) reassembly below is dense only if every
    // output row has ≥ 1 nonzero cell — deterministic property of the
    // seeded matrix, asserted at SQL-generation time
    (0 until outDim).foreach(j => require(
      m.slice(j * inDim, (j + 1) * inDim).exists(_ != 0),
      s"JL matrix row $j is all-zero; the oracle's list reassembly " +
        "would drop a dimension"))
    val cells = (for {
      j <- 0 until outDim; d <- 0 until inDim
      w = m(j * inDim + d) if w != 0
    } yield s"($d, $j, $w)").mkString(", ")
    "WITH RECURSIVE " +
      AnnOracles.coarseCtesProjected(outDim) + ", " +
      s"w(d0, j, wt) AS (VALUES $cells), " +
      "dv AS (SELECT d.doc_id, d.text, list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v " +
      "FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id), " +
      "tw AS (SELECT doc_id + 1000000 AS doc_id, text, v FROM (" +
      "SELECT doc_id, array_to_string(list_reverse(regexp_split_to_array(" +
      "trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+')), ' ') AS text, " +
      "list_transform(v, (x, i) -> x + 0.025 * (CASE WHEN " +
      "substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 1) <= '7' " +
      "THEN 1.0 ELSE -1.0 END)) AS v FROM dv WHERE doc_id % 10 = 0)), " +
      "aug AS MATERIALIZED (SELECT doc_id, text, v FROM dv UNION ALL SELECT doc_id, text, v FROM tw), " +
      "base AS (SELECT doc_id, text, trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')) AS norm FROM aug), " +
      "tok AS MATERIALIZED (SELECT doc_id, text, norm, regexp_split_to_array(norm,'\\s+') AS t FROM base), " +
      pipelineLangCteSql +
      "q1 AS MATERIALIZED (SELECT tok.doc_id AS doc_id, tok.text AS text, tok.norm AS norm, tok.t AS t " +
      "FROM tok JOIN lang ON tok.doc_id = lang.doc_id " +
      "WHERE len(tok.t) BETWEEN 10 AND 100000 " +
      "AND length(regexp_replace(tok.text,'[^A-Za-z]','','g'))*1.0/greatest(length(tok.text),1) >= 0.4 " +
      "AND lang.lang = 'en'), " +
      "q2 AS (SELECT * FROM q1 WHERE doc_id IN (SELECT min(doc_id) FROM q1 GROUP BY norm)), " +
      "sh3 AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-1,1)), " +
      "i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS sh FROM q2), " +
      "j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id " +
      "WHERE len(list_intersect(a.sh,b.sh))*1.0/greatest(len(list_distinct(list_concat(a.sh,b.sh))),1) >= 0.5), " +
      "e AS (SELECT id_a AS src, id_b AS dst FROM j UNION ALL SELECT id_b, id_a FROM j), " +
      "r AS (SELECT src AS id, src AS label FROM e UNION SELECT e.dst AS id, r.label FROM r JOIN e ON e.src = r.id), " +
      "lab AS (SELECT id, min(label) AS label FROM r GROUP BY id), " +
      "q3 AS MATERIALIZED (SELECT * FROM q2 WHERE doc_id NOT IN (SELECT id FROM lab WHERE label <> id)), " +
      // ── the PROJECTED semantic rung: quantize → ±1/0 fold → 16-dim
      //    lists; then assignment / pairs / CC / keep-the-outlier exactly
      //    as the unprojected oracle, over the projected space
      "sem0 AS (SELECT q3.doc_id AS id, a.v FROM q3 JOIN aug a ON a.doc_id = q3.doc_id), " +
      "semq AS (SELECT id, generate_subscripts(v, 1) - 1 AS d0, " +
      "CAST(floor(unnest(v) * 1024 + 0.5) AS BIGINT) AS qv FROM sem0), " +
      "semp AS (SELECT semq.id AS id, w.j AS j, CAST(sum(qv * wt) AS DOUBLE) AS o " +
      "FROM semq JOIN w ON semq.d0 = w.d0 GROUP BY semq.id, w.j), " +
      "sememb AS MATERIALIZED (SELECT id, list(o ORDER BY j) AS v FROM semp GROUP BY id), " +
      "sasg AS MATERIALIZED (SELECT id, l, cc FROM (SELECT s2.id, ls.l, " +
      "list_cosine_similarity(s2.v, cents[ls.l+1]) AS cc, " +
      "ROW_NUMBER() OVER (PARTITION BY s2.id ORDER BY " +
      "list_cosine_similarity(s2.v, cents[ls.l+1]) DESC, ls.l) AS rk " +
      "FROM sememb s2, ls, co) WHERE rk = 1), " +
      "sj AS MATERIALIZED (SELECT ax.id AS id_a, ay.id AS id_b " +
      "FROM sasg ax JOIN sasg ay ON ax.l = ay.l AND ax.id < ay.id " +
      "JOIN sememb x ON x.id = ax.id JOIN sememb y ON y.id = ay.id " +
      "WHERE list_cosine_similarity(x.v, y.v) >= 0.9), " +
      "se AS (SELECT id_a AS src, id_b AS dst FROM sj UNION ALL SELECT id_b, id_a FROM sj), " +
      "sr AS (SELECT src AS id, src AS label FROM se " +
      "UNION SELECT se.dst AS id, sr.label FROM sr JOIN se ON se.src = sr.id), " +
      "slab AS (SELECT id, min(label) AS label FROM sr GROUP BY id), " +
      "sranked AS (SELECT slab.id, ROW_NUMBER() OVER (PARTITION BY slab.label " +
      "ORDER BY sasg.cc ASC, slab.id ASC) AS rk FROM slab JOIN sasg ON sasg.id = slab.id), " +
      "q3s AS (SELECT * FROM q3 WHERE doc_id NOT IN (SELECT id FROM sranked WHERE rk > 1)), " +
      pipelineTailSql("q3s") +
      "SELECT (SELECT count(*) FROM aug) AS n_input, " +
      "(SELECT count(*) FROM q1) AS n_quality, " +
      "(SELECT count(*) FROM q2) AS n_exact_dedup, " +
      "(SELECT count(*) FROM q3) AS n_near_dedup, " +
      "(SELECT count(*) FROM q3s) AS n_semantic_dedup, " +
      "(SELECT count(*) FROM q3s) AS n_decontaminated, " +
      "(SELECT CAST(sum(doc_id) AS BIGINT) FROM q3s) AS id_checksum, " +
      "(SELECT CAST(sum(length(rt)) AS BIGINT) FROM red) AS text_len_sum, " +
      "(SELECT count(*) FROM sp WHERE split='train') AS n_train, " +
      "(SELECT count(*) FROM sp WHERE split='val') AS n_val, " +
      "(SELECT count(*) FROM sp WHERE split='test') AS n_test, " +
      "(SELECT count(*) FROM ck) AS n_chunks, " +
      "(SELECT CAST(sum(n) AS BIGINT) FROM ck) AS chunk_token_sum"
  }

  /** Ground truth for q_corpus_pipeline_fuzzy: the plain-config chain
    * (quality/lang gate → exact dedup → trigram near-dup CC at 0.8 →
    * exact 8-gram decontamination) extended with the FUZZY stage —
    * trigram Jaccard ≥ 0.4 against ANY benchmark doc drops — over the
    * documents fixture plus the marker-inserted reworded twins (exactly
    * the Spark side's construction, restated in SQL). */
  private lazy val corpusPipelineFuzzyOracle: String = {
    def gram8(src: String): String = gram8CteSql(src)
    "WITH RECURSIVE " +
      "d0 AS (SELECT doc_id, text, regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+') AS t FROM documents), " +
      // reworded twins: a per-doc marker token after every 7th normalized
      // token — the marker uses the ORIGINAL doc_id (inner select), the
      // id offset applies outside, exactly as the Spark side's two-step
      // select (DuckDB lateral aliasing would otherwise bind the marker
      // to the offset id)
      "tw AS (SELECT doc_id + 2000000 AS doc_id, text FROM (" +
      "SELECT doc_id, array_to_string(" +
      "flatten(list_transform(range(0, CAST(greatest(ceil(len(t)/7.0),1) AS BIGINT)), " +
      "g -> list_append(list_slice(t, g*7+1, g*7+7), 'qq' || CAST(doc_id AS VARCHAR)))), ' ') AS text " +
      "FROM d0 WHERE doc_id % 50 = 0)), " +
      "aug AS MATERIALIZED (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM tw), " +
      "btok AS (SELECT doc_id, t FROM d0 WHERE doc_id % 50 = 0), " +
      "base AS (SELECT doc_id, text, trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')) AS norm FROM aug), " +
      "tok AS MATERIALIZED (SELECT doc_id, text, norm, regexp_split_to_array(norm,'\\s+') AS t FROM base), " +
      pipelineLangCteSql +
      "q1 AS MATERIALIZED (SELECT tok.doc_id AS doc_id, tok.text AS text, tok.norm AS norm, tok.t AS t " +
      "FROM tok JOIN lang ON tok.doc_id = lang.doc_id " +
      "WHERE len(tok.t) BETWEEN 10 AND 100000 " +
      "AND length(regexp_replace(tok.text,'[^A-Za-z]','','g'))*1.0/greatest(length(tok.text),1) >= 0.4 " +
      "AND lang.lang = 'en'), " +
      "q2 AS (SELECT * FROM q1 WHERE doc_id IN (SELECT min(doc_id) FROM q1 GROUP BY norm)), " +
      "sh3 AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-1,1)), " +
      "i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS sh FROM q2), " +
      "j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id " +
      "WHERE len(list_intersect(a.sh,b.sh))*1.0/greatest(len(list_distinct(list_concat(a.sh,b.sh))),1) >= 0.8), " +
      "e AS (SELECT id_a AS src, id_b AS dst FROM j UNION ALL SELECT id_b, id_a FROM j), " +
      "r AS (SELECT src AS id, src AS label FROM e UNION SELECT e.dst AS id, r.label FROM r JOIN e ON e.src = r.id), " +
      "lab AS (SELECT id, min(label) AS label FROM r GROUP BY id), " +
      "q3 AS MATERIALIZED (SELECT * FROM q2 WHERE doc_id NOT IN (SELECT id FROM lab WHERE label <> id)), " +
      s"sh8c AS (${gram8("q3")}), " +
      s"sh8b AS (${gram8("btok")}), " +
      "cont AS (SELECT DISTINCT c.doc_id AS doc_id FROM sh8c c JOIN sh8b b ON len(list_intersect(c.sh,b.sh)) > 0), " +
      "q4 AS MATERIALIZED (SELECT * FROM q3 WHERE doc_id NOT IN (SELECT doc_id FROM cont)), " +
      // fuzzy stage: trigram Jaccard >= 0.4 against any benchmark doc —
      // trigrams of the surviving corpus side reuse sh3 (text is
      // unchanged through the dedup stages)
      "sh3b AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-1,1)), " +
      "i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS sh FROM btok), " +
      "fcont AS (SELECT DISTINCT c.doc_id AS doc_id FROM sh3 c JOIN sh3b b ON " +
      "c.doc_id IN (SELECT doc_id FROM q4) AND " +
      "len(list_intersect(c.sh,b.sh))*1.0/greatest(len(list_distinct(list_concat(c.sh,b.sh))),1) >= 0.4), " +
      "q5 AS (SELECT * FROM q4 WHERE doc_id NOT IN (SELECT doc_id FROM fcont)), " +
      pipelineTailSql("q5") +
      "SELECT (SELECT count(*) FROM aug) AS n_input, " +
      "(SELECT count(*) FROM q1) AS n_quality, " +
      "(SELECT count(*) FROM q2) AS n_exact_dedup, " +
      "(SELECT count(*) FROM q3) AS n_near_dedup, " +
      "(SELECT count(*) FROM q4) AS n_decontaminated, " +
      "(SELECT count(*) FROM q5) AS n_decontaminated_fuzzy, " +
      "(SELECT CAST(sum(doc_id) AS BIGINT) FROM q5) AS id_checksum, " +
      "(SELECT CAST(sum(length(rt)) AS BIGINT) FROM red) AS text_len_sum, " +
      "(SELECT count(*) FROM sp WHERE split='train') AS n_train, " +
      "(SELECT count(*) FROM sp WHERE split='val') AS n_val, " +
      "(SELECT count(*) FROM sp WHERE split='test') AS n_test, " +
      "(SELECT count(*) FROM ck) AS n_chunks, " +
      "(SELECT CAST(sum(n) AS BIGINT) FROM ck) AS chunk_token_sum"
  }

  /** Ground truth for q_corpus_pipeline_dsir: the plain-config chain
    * (quality/lang gate → exact dedup → trigram near-dup CC at 0.5 →
    * exact 8-gram decontamination) extended with the DSIR selection
    * rung — the FrozenDsir scaled-long fold over the survivors' tokens,
    * the md5-Gumbel key, (z DESC, id) top-150 — over the
    * filler-augmented documents fixture (benchmark = its %50 slice).
    * The weight table and filler are the SAME literals the Spark side
    * serves (DsirOracle discipline). */
  private lazy val corpusPipelineDsirOracle: String = {
    def gram8(src: String): String = gram8CteSql(src)
    val m = graft.operators.FrozenDsir.model
    val w = m.weightsScaled.mkString("[", ",", "]") + "::BIGINT[]"
    val filler = QmOracle.fillerSuffix
    require(!filler.contains("'"), "filler must be quote-free")
    "WITH RECURSIVE " +
      s"aug AS MATERIALIZED (SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN text || '$filler' ELSE text END AS text FROM documents), " +
      // benchmark = the RAW %50 slice (no filler — see the Spark side)
      "btok AS (SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+') AS t FROM documents WHERE doc_id % 50 = 0), " +
      "base AS (SELECT doc_id, text, trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')) AS norm FROM aug), " +
      "tok AS MATERIALIZED (SELECT doc_id, text, norm, regexp_split_to_array(norm,'\\s+') AS t FROM base), " +
      pipelineLangCteSql +
      "q1 AS MATERIALIZED (SELECT tok.doc_id AS doc_id, tok.text AS text, tok.norm AS norm, tok.t AS t " +
      "FROM tok JOIN lang ON tok.doc_id = lang.doc_id " +
      "WHERE len(tok.t) BETWEEN 10 AND 100000 " +
      "AND length(regexp_replace(tok.text,'[^A-Za-z]','','g'))*1.0/greatest(length(tok.text),1) >= 0.4 " +
      "AND lang.lang = 'en'), " +
      "q2 AS (SELECT * FROM q1 WHERE doc_id IN (SELECT min(doc_id) FROM q1 GROUP BY norm)), " +
      "sh3 AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-1,1)), " +
      "i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS sh FROM q2), " +
      "j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id " +
      "WHERE len(list_intersect(a.sh,b.sh))*1.0/greatest(len(list_distinct(list_concat(a.sh,b.sh))),1) >= 0.5), " +
      "e AS (SELECT id_a AS src, id_b AS dst FROM j UNION ALL SELECT id_b, id_a FROM j), " +
      "r AS (SELECT src AS id, src AS label FROM e UNION SELECT e.dst AS id, r.label FROM r JOIN e ON e.src = r.id), " +
      "lab AS (SELECT id, min(label) AS label FROM r GROUP BY id), " +
      "q3 AS MATERIALIZED (SELECT * FROM q2 WHERE doc_id NOT IN (SELECT id FROM lab WHERE label <> id)), " +
      s"sh8c AS (${gram8("q3")}), " +
      s"sh8b AS (${gram8("btok")}), " +
      "cont AS (SELECT DISTINCT c.doc_id AS doc_id FROM sh8c c JOIN sh8b b ON len(list_intersect(c.sh,b.sh)) > 0), " +
      "q4 AS MATERIALIZED (SELECT * FROM q3 WHERE doc_id NOT IN (SELECT doc_id FROM cont)), " +
      // DSIR rung: FrozenDsir fold over the survivors' filtered tokens
      // (unigrams ++ bigrams), md5-Gumbel key, (z DESC, id) top-150 —
      // the DsirOracle restatement applied to q4 instead of documents
      s"dw AS (SELECT $w AS w), " +
      "ftq AS (SELECT doc_id, unnest(list_concat(tf, CASE WHEN len(tf) < 2 THEN [] ELSE " +
      "list_transform(range(1, len(tf)), i -> tf[i]||' '||tf[i+1]) END)) AS f " +
      "FROM (SELECT doc_id, list_filter(t, x -> x <> '') AS tf FROM q4)), " +
      s"pt AS (SELECT doc_id, w[CAST(CAST(concat('0x', substr(md5(f),1,8)) AS BIGINT) % ${m.dim} AS INT) + 1] AS wt FROM ftq, dw), " +
      "sw AS (SELECT doc_id, CAST(sum(wt) AS BIGINT) AS s FROM pt GROUP BY doc_id), " +
      "keyed AS (SELECT q4.doc_id AS doc_id, " +
      s"CAST(CAST(CAST(COALESCE(sw.s, 0) AS DOUBLE) / ${graft.operators.Dsir.WeightScale.toDouble} AS DECIMAL(25,9)) + " +
      s"CAST(-ln(-ln((CAST(CAST(concat('0x', substr(md5('${graft.operators.Dsir.DefaultSalt}' || CAST(q4.doc_id AS VARCHAR)),1,8)) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)) AS DECIMAL(25,9)) AS DOUBLE) AS z " +
      "FROM q4 LEFT JOIN sw ON q4.doc_id = sw.doc_id), " +
      "sel AS (SELECT doc_id FROM keyed ORDER BY z DESC, doc_id LIMIT 150), " +
      "q5 AS (SELECT * FROM q4 WHERE doc_id IN (SELECT doc_id FROM sel)), " +
      pipelineTailSql("q5") +
      "SELECT (SELECT count(*) FROM aug) AS n_input, " +
      "(SELECT count(*) FROM q1) AS n_quality, " +
      "(SELECT count(*) FROM q2) AS n_exact_dedup, " +
      "(SELECT count(*) FROM q3) AS n_near_dedup, " +
      "(SELECT count(*) FROM q4) AS n_decontaminated, " +
      "(SELECT count(*) FROM q5) AS n_dsir_selected, " +
      "(SELECT CAST(sum(doc_id) AS BIGINT) FROM q5) AS id_checksum, " +
      "(SELECT CAST(sum(length(rt)) AS BIGINT) FROM red) AS text_len_sum, " +
      "(SELECT CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) FROM q5) AS n_target, " +
      "(SELECT count(*) FROM sp WHERE split='train') AS n_train, " +
      "(SELECT count(*) FROM sp WHERE split='val') AS n_val, " +
      "(SELECT count(*) FROM sp WHERE split='test') AS n_test, " +
      "(SELECT count(*) FROM ck) AS n_chunks, " +
      "(SELECT CAST(sum(n) AS BIGINT) FROM ck) AS chunk_token_sum"
  }

  /** Ground truth for q_corpus_pipeline_model: the filler-augmented
    * fixture chain (the dsir oracle's skeleton) with the MODEL gate
    * joined into q1 — the FrozenQualityModel scaled-long fold over the
    * FILTERED token list (normTokens drops empties; the md5 feature
    * hash, exact integer sum, mean + bias — the QmOracle restatement)
    * at minLogit=0 — and no selection rung. */
  private lazy val corpusPipelineModelOracle: String = {
    def gram8(src: String): String = gram8CteSql(src)
    val m = graft.operators.FrozenQualityModel.model
    val w = m.weightsScaled.mkString("[", ",", "]") + "::BIGINT[]"
    val scale = graft.operators.QualityModel.WeightScale
    val filler = QmOracle.fillerSuffix
    require(!filler.contains("'"), "filler must be quote-free")
    "WITH RECURSIVE " +
      s"aug AS MATERIALIZED (SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN text || '$filler' ELSE text END AS text FROM documents), " +
      "btok AS (SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+') AS t FROM documents WHERE doc_id % 50 = 0), " +
      "base AS (SELECT doc_id, text, trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')) AS norm FROM aug), " +
      "tok AS MATERIALIZED (SELECT doc_id, text, norm, regexp_split_to_array(norm,'\\s+') AS t FROM base), " +
      pipelineLangCteSql +
      // the model gate: FrozenQualityModel fold over the FILTERED tokens
      // (normTokens drops empties), exact long sum, mean + bias
      s"mw AS (SELECT $w AS w), " +
      "mft AS (SELECT doc_id, unnest(list_filter(t, x -> x <> '')) AS tok FROM tok), " +
      s"mpt AS (SELECT doc_id, w[CAST(CAST(concat('0x', substr(md5(tok),1,8)) AS BIGINT) % ${m.dim} AS INT) + 1] AS wt FROM mft, mw), " +
      "msw AS (SELECT doc_id, CAST(sum(wt) AS BIGINT) AS s FROM mpt GROUP BY doc_id), " +
      s"mlg AS (SELECT tok.doc_id AS doc_id, ${java.lang.Double.toString(m.bias)} + " +
      s"(CAST(COALESCE(msw.s, 0) AS DOUBLE) / ${java.lang.Double.toString(scale.toDouble)}) / " +
      "CAST(greatest(len(list_filter(tok.t, x -> x <> '')), 1) AS DOUBLE) AS logit " +
      "FROM tok LEFT JOIN msw ON tok.doc_id = msw.doc_id), " +
      "q1 AS MATERIALIZED (SELECT tok.doc_id AS doc_id, tok.text AS text, tok.norm AS norm, tok.t AS t " +
      "FROM tok JOIN lang ON tok.doc_id = lang.doc_id " +
      "JOIN mlg ON tok.doc_id = mlg.doc_id " +
      "WHERE len(tok.t) BETWEEN 10 AND 100000 " +
      "AND length(regexp_replace(tok.text,'[^A-Za-z]','','g'))*1.0/greatest(length(tok.text),1) >= 0.4 " +
      "AND lang.lang = 'en' AND mlg.logit >= 0.0), " +
      "q2 AS (SELECT * FROM q1 WHERE doc_id IN (SELECT min(doc_id) FROM q1 GROUP BY norm)), " +
      "sh3 AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-1,1)), " +
      "i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS sh FROM q2), " +
      "j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id " +
      "WHERE len(list_intersect(a.sh,b.sh))*1.0/greatest(len(list_distinct(list_concat(a.sh,b.sh))),1) >= 0.5), " +
      "e AS (SELECT id_a AS src, id_b AS dst FROM j UNION ALL SELECT id_b, id_a FROM j), " +
      "r AS (SELECT src AS id, src AS label FROM e UNION SELECT e.dst AS id, r.label FROM r JOIN e ON e.src = r.id), " +
      "lab AS (SELECT id, min(label) AS label FROM r GROUP BY id), " +
      "q3 AS MATERIALIZED (SELECT * FROM q2 WHERE doc_id NOT IN (SELECT id FROM lab WHERE label <> id)), " +
      s"sh8c AS (${gram8("q3")}), " +
      s"sh8b AS (${gram8("btok")}), " +
      "cont AS (SELECT DISTINCT c.doc_id AS doc_id FROM sh8c c JOIN sh8b b ON len(list_intersect(c.sh,b.sh)) > 0), " +
      "q4 AS MATERIALIZED (SELECT * FROM q3 WHERE doc_id NOT IN (SELECT doc_id FROM cont)), " +
      pipelineTailSql("q4") +
      "SELECT (SELECT count(*) FROM aug) AS n_input, " +
      "(SELECT count(*) FROM q1) AS n_quality, " +
      "(SELECT count(*) FROM q2) AS n_exact_dedup, " +
      "(SELECT count(*) FROM q3) AS n_near_dedup, " +
      "(SELECT count(*) FROM q4) AS n_decontaminated, " +
      "(SELECT CAST(sum(doc_id) AS BIGINT) FROM q4) AS id_checksum, " +
      "(SELECT CAST(sum(length(rt)) AS BIGINT) FROM red) AS text_len_sum, " +
      "(SELECT CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) FROM q4) AS n_target, " +
      "(SELECT count(*) FROM sp WHERE split='train') AS n_train, " +
      "(SELECT count(*) FROM sp WHERE split='val') AS n_val, " +
      "(SELECT count(*) FROM sp WHERE split='test') AS n_test, " +
      "(SELECT count(*) FROM ck) AS n_chunks, " +
      "(SELECT CAST(sum(n) AS BIGINT) FROM ck) AS chunk_token_sum"
  }

  /** Ground truth for q_corpus_pipeline_ppl: the filler-augmented
    * fixture chain (the model oracle's skeleton) with the PERPLEXITY
    * gate joined into q1 — the FrozenNgramLm Stupid-Backoff fold over
    * the FILTERED token list ([[NgramLmOracle.scoreCteChain]], the same
    * three-LEFT-JOIN COALESCE restatement the standalone oracle uses)
    * gated by the exact integer comparison score ≥ ⌊−3.0·1e9⌋·n. */
  private lazy val corpusPipelinePplOracle: String = {
    def gram8(src: String): String = gram8CteSql(src)
    val thrScaled = math.round(PplMinMeanLog * graft.operators.NgramLm.WeightScale)
    val filler = QmOracle.fillerSuffix
    require(!filler.contains("'"), "filler must be quote-free")
    "WITH RECURSIVE " +
      s"aug AS MATERIALIZED (SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN text || '$filler' ELSE text END AS text FROM documents), " +
      "btok AS (SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+') AS t FROM documents WHERE doc_id % 50 = 0), " +
      "base AS (SELECT doc_id, text, trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')) AS norm FROM aug), " +
      "tok AS MATERIALIZED (SELECT doc_id, text, norm, regexp_split_to_array(norm,'\\s+') AS t FROM base), " +
      pipelineLangCteSql +
      // the perplexity gate: FrozenNgramLm backoff fold over the
      // FILTERED tokens, exact integer threshold decision
      "nlm_ft AS (SELECT doc_id, list_filter(t, x -> x <> '') AS ft FROM tok), " +
      NgramLmOracle.scoreCteChain("nlm_ft") + ", " +
      "ngate AS (SELECT f.doc_id AS doc_id, " +
      s"COALESCE(sw.score, 0) >= $thrScaled * len(f.ft) AS pass " +
      "FROM nlm_ft f LEFT JOIN nlm_sw sw ON f.doc_id = sw.doc_id), " +
      "q1 AS MATERIALIZED (SELECT tok.doc_id AS doc_id, tok.text AS text, tok.norm AS norm, tok.t AS t " +
      "FROM tok JOIN lang ON tok.doc_id = lang.doc_id " +
      "JOIN ngate ON tok.doc_id = ngate.doc_id " +
      "WHERE len(tok.t) BETWEEN 10 AND 100000 " +
      "AND length(regexp_replace(tok.text,'[^A-Za-z]','','g'))*1.0/greatest(length(tok.text),1) >= 0.4 " +
      "AND lang.lang = 'en' AND ngate.pass), " +
      "q2 AS (SELECT * FROM q1 WHERE doc_id IN (SELECT min(doc_id) FROM q1 GROUP BY norm)), " +
      "sh3 AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-1,1)), " +
      "i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS sh FROM q2), " +
      "j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id " +
      "WHERE len(list_intersect(a.sh,b.sh))*1.0/greatest(len(list_distinct(list_concat(a.sh,b.sh))),1) >= 0.5), " +
      "e AS (SELECT id_a AS src, id_b AS dst FROM j UNION ALL SELECT id_b, id_a FROM j), " +
      "r AS (SELECT src AS id, src AS label FROM e UNION SELECT e.dst AS id, r.label FROM r JOIN e ON e.src = r.id), " +
      "lab AS (SELECT id, min(label) AS label FROM r GROUP BY id), " +
      "q3 AS MATERIALIZED (SELECT * FROM q2 WHERE doc_id NOT IN (SELECT id FROM lab WHERE label <> id)), " +
      s"sh8c AS (${gram8("q3")}), " +
      s"sh8b AS (${gram8("btok")}), " +
      "cont AS (SELECT DISTINCT c.doc_id AS doc_id FROM sh8c c JOIN sh8b b ON len(list_intersect(c.sh,b.sh)) > 0), " +
      "q4 AS MATERIALIZED (SELECT * FROM q3 WHERE doc_id NOT IN (SELECT doc_id FROM cont)), " +
      pipelineTailSql("q4") +
      "SELECT (SELECT count(*) FROM aug) AS n_input, " +
      "(SELECT count(*) FROM q1) AS n_quality, " +
      "(SELECT count(*) FROM q2) AS n_exact_dedup, " +
      "(SELECT count(*) FROM q3) AS n_near_dedup, " +
      "(SELECT count(*) FROM q4) AS n_decontaminated, " +
      "(SELECT CAST(sum(doc_id) AS BIGINT) FROM q4) AS id_checksum, " +
      "(SELECT CAST(sum(length(rt)) AS BIGINT) FROM red) AS text_len_sum, " +
      "(SELECT CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) FROM q4) AS n_target, " +
      "(SELECT count(*) FROM sp WHERE split='train') AS n_train, " +
      "(SELECT count(*) FROM sp WHERE split='val') AS n_val, " +
      "(SELECT count(*) FROM sp WHERE split='test') AS n_test, " +
      "(SELECT count(*) FROM ck) AS n_chunks, " +
      "(SELECT CAST(sum(n) AS BIGINT) FROM ck) AS chunk_token_sum"
  }

  /** Ground truth for q_corpus_pipeline_mix: the plain chain over raw
    * documents (source carried through) with the TRAINING-MIX TAIL —
    * the per-source cap (row_number ≤ 15 by token count desc, id asc)
    * after q1, the token-share rate derivation re-run in SQL after q4
    * (the q_token_mix float discipline: c = min(toks/w), round(·,4),
    * thresholdHex as hex()), and the greedy packing recursion (the
    * q_packed_examples pattern) over the tail's chunk windows. */
  private lazy val corpusPipelineMixOracle: String = {
    def gram8(src: String): String = gram8CteSql(src)
    "WITH RECURSIVE " +
      "aug AS (SELECT doc_id, text, source FROM documents), " +
      "btok AS (SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+') AS t FROM documents WHERE doc_id % 50 = 0), " +
      "base AS (SELECT doc_id, text, source, trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')) AS norm FROM aug), " +
      "tok AS MATERIALIZED (SELECT doc_id, text, source, norm, regexp_split_to_array(norm,'\\s+') AS t FROM base), " +
      pipelineLangCteSql +
      "q1 AS MATERIALIZED (SELECT tok.doc_id AS doc_id, tok.text AS text, tok.source AS source, tok.norm AS norm, tok.t AS t " +
      "FROM tok JOIN lang ON tok.doc_id = lang.doc_id " +
      "WHERE len(tok.t) BETWEEN 10 AND 100000 " +
      "AND length(regexp_replace(tok.text,'[^A-Za-z]','','g'))*1.0/greatest(length(tok.text),1) >= 0.4 " +
      "AND lang.lang = 'en'), " +
      // per-source cap: best-first by token count, ties by ascending id
      "qc AS MATERIALIZED (SELECT doc_id, text, source, norm, t FROM " +
      "(SELECT q1.*, ROW_NUMBER() OVER (PARTITION BY source ORDER BY len(t) DESC, doc_id ASC) AS rk FROM q1) " +
      "WHERE rk <= 15), " +
      "q2 AS (SELECT * FROM qc WHERE doc_id IN (SELECT min(doc_id) FROM qc GROUP BY norm)), " +
      "sh3 AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-1,1)), " +
      "i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS sh FROM q2), " +
      "j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id " +
      "WHERE len(list_intersect(a.sh,b.sh))*1.0/greatest(len(list_distinct(list_concat(a.sh,b.sh))),1) >= 0.5), " +
      "e AS (SELECT id_a AS src, id_b AS dst FROM j UNION ALL SELECT id_b, id_a FROM j), " +
      "r AS (SELECT src AS id, src AS label FROM e UNION SELECT e.dst AS id, r.label FROM r JOIN e ON e.src = r.id), " +
      "lab AS (SELECT id, min(label) AS label FROM r GROUP BY id), " +
      "q3 AS MATERIALIZED (SELECT * FROM q2 WHERE doc_id NOT IN (SELECT id FROM lab WHERE label <> id)), " +
      s"sh8c AS (${gram8("q3")}), " +
      s"sh8b AS (${gram8("btok")}), " +
      "cont AS (SELECT DISTINCT c.doc_id AS doc_id FROM sh8c c JOIN sh8b b ON len(list_intersect(c.sh,b.sh)) > 0), " +
      "q4 AS MATERIALIZED (SELECT * FROM q3 WHERE doc_id NOT IN (SELECT doc_id FROM cont)), " +
      // token-share mix: the q_token_mix derivation over the SURVIVORS'
      // token mass (zero-mass strata excluded from min and rates)
      "mshares(s, w) AS (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)), " +
      "mhist AS (SELECT source AS s, CAST(sum(len(t)) AS BIGINT) AS toks " +
      "FROM q4 WHERE source IN (SELECT s FROM mshares) GROUP BY source HAVING sum(len(t)) > 0), " +
      "mcst AS (SELECT min(toks / w) AS c FROM mhist JOIN mshares USING (s)), " +
      "mrates AS (SELECT s, round(least(1.0, c * w / toks), 4) AS rr " +
      "FROM mhist JOIN mshares USING (s) CROSS JOIN mcst), " +
      "mth AS (SELECT s, CASE WHEN rr >= 1.0 THEN 'g' ELSE " +
      "lpad(lower(hex(CAST(least(round(rr * 4294967296.0), 4294967295) AS BIGINT))),8,'0') END AS th FROM mrates), " +
      "q5 AS MATERIALIZED (SELECT q4.* FROM q4 JOIN mth ON q4.source = mth.s " +
      "WHERE substr(md5(CAST(q4.doc_id AS VARCHAR)),1,8) < mth.th), " +
      pipelineTailSql("q5") +
      packingCtes(256) +
      "SELECT (SELECT count(*) FROM aug) AS n_input, " +
      "(SELECT count(*) FROM q1) AS n_quality, " +
      "(SELECT count(*) FROM qc) AS n_domain_cap, " +
      "(SELECT count(*) FROM q2) AS n_exact_dedup, " +
      "(SELECT count(*) FROM q3) AS n_near_dedup, " +
      "(SELECT count(*) FROM q4) AS n_decontaminated, " +
      "(SELECT count(*) FROM q5) AS n_mixed, " +
      "(SELECT CAST(sum(doc_id) AS BIGINT) FROM q5) AS id_checksum, " +
      "(SELECT CAST(sum(length(rt)) AS BIGINT) FROM red) AS text_len_sum, " +
      "(SELECT CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) FROM q5) AS n_src0, " +
      "(SELECT CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) FROM q5) AS n_src1, " +
      "(SELECT CAST(sum(CASE WHEN source = 'src2' THEN 1 ELSE 0 END) AS BIGINT) FROM q5) AS n_src2, " +
      "(SELECT count(*) FROM sp WHERE split='train') AS n_train, " +
      "(SELECT count(*) FROM sp WHERE split='val') AS n_val, " +
      "(SELECT count(*) FROM sp WHERE split='test') AS n_test, " +
      "(SELECT count(*) FROM ck) AS n_chunks, " +
      "(SELECT CAST(sum(n) AS BIGINT) FROM ck) AS chunk_token_sum, " +
      "(SELECT count(*) FROM pex) AS n_examples, " +
      "(SELECT CAST(sum(nchunks) AS BIGINT) FROM pex) AS packed_chunk_sum, " +
      "(SELECT CAST(sum(ntok) AS BIGINT) FROM pex) AS packed_token_sum"
  }

  /** Ground truth for q_corpus_pipeline_image: the plain chain (quality/
    * lang gate → exact dedup → trigram near-dup CC → decontamination →
    * tail) with the PERCEPTUAL IMAGE stage between near-dup and
    * decontamination: frozen-grid 128-bit pairs ([[imageHamming128Ctes]])
    * restricted to stage-3 survivors, recursive-CTE CC, min-id
    * survivor. */
  private lazy val corpusPipelineImageOracle: String = {
    def gram8(src: String): String = gram8CteSql(src)
    "WITH RECURSIVE " +
      "btok AS (SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+') AS t FROM documents WHERE doc_id % 50 = 0), " +
      "base AS (SELECT doc_id, text, trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')) AS norm FROM documents), " +
      "tok AS MATERIALIZED (SELECT doc_id, text, norm, regexp_split_to_array(norm,'\\s+') AS t FROM base), " +
      pipelineLangCteSql +
      "q1 AS MATERIALIZED (SELECT tok.doc_id AS doc_id, tok.text AS text, tok.norm AS norm, tok.t AS t " +
      "FROM tok JOIN lang ON tok.doc_id = lang.doc_id " +
      "WHERE len(tok.t) BETWEEN 10 AND 100000 " +
      "AND length(regexp_replace(tok.text,'[^A-Za-z]','','g'))*1.0/greatest(length(tok.text),1) >= 0.4 " +
      "AND lang.lang = 'en'), " +
      "q2 AS (SELECT * FROM q1 WHERE doc_id IN (SELECT min(doc_id) FROM q1 GROUP BY norm)), " +
      "sh3 AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-1,1)), " +
      "i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS sh FROM q2), " +
      "j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id " +
      "WHERE len(list_intersect(a.sh,b.sh))*1.0/greatest(len(list_distinct(list_concat(a.sh,b.sh))),1) >= 0.5), " +
      "e AS (SELECT id_a AS src, id_b AS dst FROM j UNION ALL SELECT id_b, id_a FROM j), " +
      "r AS (SELECT src AS id, src AS label FROM e UNION SELECT e.dst AS id, r.label FROM r JOIN e ON e.src = r.id), " +
      "lab AS (SELECT id, min(label) AS label FROM r GROUP BY id), " +
      "q3 AS MATERIALIZED (SELECT * FROM q2 WHERE doc_id NOT IN (SELECT id FROM lab WHERE label <> id)), " +
      imageHamming128Ctes("i", 6) + ", " +
      // the image stage: frozen-grid pairs among the docs that REACH it
      "ipair AS (SELECT id_a, id_b FROM ihm WHERE hamming <= 6 " +
      "AND id_a IN (SELECT doc_id FROM q3) AND id_b IN (SELECT doc_id FROM q3)), " +
      "ie AS (SELECT id_a AS src, id_b AS dst FROM ipair UNION ALL SELECT id_b, id_a FROM ipair), " +
      "ir AS (SELECT src AS id, src AS label FROM ie UNION SELECT ie.dst AS id, ir.label FROM ir JOIN ie ON ie.src = ir.id), " +
      "ilab AS (SELECT id, min(label) AS label FROM ir GROUP BY id), " +
      "q3i AS MATERIALIZED (SELECT * FROM q3 WHERE doc_id NOT IN (SELECT id FROM ilab WHERE label <> id)), " +
      s"sh8c AS (${gram8("q3i")}), " +
      s"sh8b AS (${gram8("btok")}), " +
      "cont AS (SELECT DISTINCT c.doc_id AS doc_id FROM sh8c c JOIN sh8b b ON len(list_intersect(c.sh,b.sh)) > 0), " +
      "q4 AS MATERIALIZED (SELECT * FROM q3i WHERE doc_id NOT IN (SELECT doc_id FROM cont)), " +
      pipelineTailSql("q4") +
      "SELECT (SELECT count(*) FROM documents) AS n_input, " +
      "(SELECT count(*) FROM q1) AS n_quality, " +
      "(SELECT count(*) FROM q2) AS n_exact_dedup, " +
      "(SELECT count(*) FROM q3) AS n_near_dedup, " +
      "(SELECT count(*) FROM q3i) AS n_image_dedup, " +
      "(SELECT count(*) FROM q4) AS n_decontaminated, " +
      "(SELECT CAST(sum(doc_id) AS BIGINT) FROM q4) AS id_checksum, " +
      "(SELECT CAST(sum(length(rt)) AS BIGINT) FROM red) AS text_len_sum, " +
      "(SELECT count(*) FROM sp WHERE split='train') AS n_train, " +
      "(SELECT count(*) FROM sp WHERE split='val') AS n_val, " +
      "(SELECT count(*) FROM sp WHERE split='test') AS n_test, " +
      "(SELECT count(*) FROM ck) AS n_chunks, " +
      "(SELECT CAST(sum(n) AS BIGINT) FROM ck) AS chunk_token_sum"
  }

  /** Ground truth for q_corpus_pipeline_media_decon: the image-variant
    * chain ([[corpusPipelineImageOracle]]'s stages verbatim) plus the
    * MEDIA-DECONTAMINATION stage after text decon — ground-truth
    * ALL-PAIRS 64-bit dHash Hamming between every frozen grid and the
    * benchmark subset (media_id % 5 = 0), the
    * [[mediaContaminationOracle]] construction with no banding at all. */
  private lazy val corpusPipelineMediaDeconOracle: String = {
    def gram8(src: String): String = gram8CteSql(src)
    val mediaRows = graft.operators.FrozenImageGrids.grids
      .map { case (id, g) => s"($id, ${g.mkString("[", ",", "]")})" }
      .mkString(", ")
    "WITH RECURSIVE " +
      "btok AS (SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+') AS t FROM documents WHERE doc_id % 50 = 0), " +
      "base AS (SELECT doc_id, text, trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')) AS norm FROM documents), " +
      "tok AS MATERIALIZED (SELECT doc_id, text, norm, regexp_split_to_array(norm,'\\s+') AS t FROM base), " +
      pipelineLangCteSql +
      "q1 AS MATERIALIZED (SELECT tok.doc_id AS doc_id, tok.text AS text, tok.norm AS norm, tok.t AS t " +
      "FROM tok JOIN lang ON tok.doc_id = lang.doc_id " +
      "WHERE len(tok.t) BETWEEN 10 AND 100000 " +
      "AND length(regexp_replace(tok.text,'[^A-Za-z]','','g'))*1.0/greatest(length(tok.text),1) >= 0.4 " +
      "AND lang.lang = 'en'), " +
      "q2 AS (SELECT * FROM q1 WHERE doc_id IN (SELECT min(doc_id) FROM q1 GROUP BY norm)), " +
      "sh3 AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-1,1)), " +
      "i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS sh FROM q2), " +
      "j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id " +
      "WHERE len(list_intersect(a.sh,b.sh))*1.0/greatest(len(list_distinct(list_concat(a.sh,b.sh))),1) >= 0.5), " +
      "e AS (SELECT id_a AS src, id_b AS dst FROM j UNION ALL SELECT id_b, id_a FROM j), " +
      "r AS (SELECT src AS id, src AS label FROM e UNION SELECT e.dst AS id, r.label FROM r JOIN e ON e.src = r.id), " +
      "lab AS (SELECT id, min(label) AS label FROM r GROUP BY id), " +
      "q3 AS MATERIALIZED (SELECT * FROM q2 WHERE doc_id NOT IN (SELECT id FROM lab WHERE label <> id)), " +
      imageHamming128Ctes("i", 6) + ", " +
      "ipair AS (SELECT id_a, id_b FROM ihm WHERE hamming <= 6 " +
      "AND id_a IN (SELECT doc_id FROM q3) AND id_b IN (SELECT doc_id FROM q3)), " +
      "ie AS (SELECT id_a AS src, id_b AS dst FROM ipair UNION ALL SELECT id_b, id_a FROM ipair), " +
      "ir AS (SELECT src AS id, src AS label FROM ie UNION SELECT ie.dst AS id, ir.label FROM ir JOIN ie ON ie.src = ir.id), " +
      "ilab AS (SELECT id, min(label) AS label FROM ir GROUP BY id), " +
      "q3i AS MATERIALIZED (SELECT * FROM q3 WHERE doc_id NOT IN (SELECT id FROM ilab WHERE label <> id)), " +
      s"sh8c AS (${gram8("q3i")}), " +
      s"sh8b AS (${gram8("btok")}), " +
      "cont AS (SELECT DISTINCT c.doc_id AS doc_id FROM sh8c c JOIN sh8b b ON len(list_intersect(c.sh,b.sh)) > 0), " +
      "q4 AS MATERIALIZED (SELECT * FROM q3i WHERE doc_id NOT IN (SELECT doc_id FROM cont)), " +
      // ── media decontamination: 64-bit dHash bits from the frozen 9×8
      // grids, all-pairs Hamming vs the benchmark subset, drop ≤ 6
      s"mgr(media_id, g) AS (VALUES $mediaRows), " +
      "mbb AS (SELECT unnest(range(0, 64)) AS b), " +
      "mbt AS (SELECT media_id, b, CASE WHEN g[(b//8)*9 + (b%8) + 1] > g[(b//8)*9 + (b%8) + 2] THEN 1 ELSE 0 END AS bit FROM mgr, mbb), " +
      "mbench AS (SELECT media_id, b, bit FROM mbt WHERE media_id % 5 = 0), " +
      "mham AS (SELECT c.media_id AS corpus_id, mbench.media_id AS bench_id, " +
      "sum(CASE WHEN c.bit <> mbench.bit THEN 1 ELSE 0 END) AS mh " +
      "FROM mbt c JOIN mbench ON c.b = mbench.b GROUP BY 1, 2), " +
      "q4m AS MATERIALIZED (SELECT * FROM q4 WHERE doc_id NOT IN " +
      "(SELECT DISTINCT corpus_id FROM mham WHERE mh <= 6)), " +
      pipelineTailSql("q4m") +
      "SELECT (SELECT count(*) FROM documents) AS n_input, " +
      "(SELECT count(*) FROM q1) AS n_quality, " +
      "(SELECT count(*) FROM q2) AS n_exact_dedup, " +
      "(SELECT count(*) FROM q3) AS n_near_dedup, " +
      "(SELECT count(*) FROM q3i) AS n_image_dedup, " +
      "(SELECT count(*) FROM q4) AS n_decontaminated, " +
      "(SELECT count(*) FROM q4m) AS n_media_decontaminated, " +
      "(SELECT CAST(sum(doc_id) AS BIGINT) FROM q4m) AS id_checksum, " +
      "(SELECT CAST(sum(length(rt)) AS BIGINT) FROM red) AS text_len_sum, " +
      "(SELECT count(*) FROM sp WHERE split='train') AS n_train, " +
      "(SELECT count(*) FROM sp WHERE split='val') AS n_val, " +
      "(SELECT count(*) FROM sp WHERE split='test') AS n_test, " +
      "(SELECT count(*) FROM ck) AS n_chunks, " +
      "(SELECT CAST(sum(n) AS BIGINT) FROM ck) AS chunk_token_sum"
  }

  /** Ground truth for q_corpus_pipeline_audio: the plain chain with the
    * AUDIO rung between near-dup and decontamination: analytic-envelope
    * pairs ([[audioHammingCtes]]) restricted to stage-3 survivors,
    * recursive-CTE CC, min-id survivor (the image-variant skeleton). */
  private lazy val corpusPipelineAudioOracle: String = {
    def gram8(src: String): String = gram8CteSql(src)
    "WITH RECURSIVE " +
      "btok AS (SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+') AS t FROM documents WHERE doc_id % 50 = 0), " +
      "base AS (SELECT doc_id, text, trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')) AS norm FROM documents), " +
      "tok AS MATERIALIZED (SELECT doc_id, text, norm, regexp_split_to_array(norm,'\\s+') AS t FROM base), " +
      pipelineLangCteSql +
      "q1 AS MATERIALIZED (SELECT tok.doc_id AS doc_id, tok.text AS text, tok.norm AS norm, tok.t AS t " +
      "FROM tok JOIN lang ON tok.doc_id = lang.doc_id " +
      "WHERE len(tok.t) BETWEEN 10 AND 100000 " +
      "AND length(regexp_replace(tok.text,'[^A-Za-z]','','g'))*1.0/greatest(length(tok.text),1) >= 0.4 " +
      "AND lang.lang = 'en'), " +
      "q2 AS (SELECT * FROM q1 WHERE doc_id IN (SELECT min(doc_id) FROM q1 GROUP BY norm)), " +
      "sh3 AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-1,1)), " +
      "i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS sh FROM q2), " +
      "j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id " +
      "WHERE len(list_intersect(a.sh,b.sh))*1.0/greatest(len(list_distinct(list_concat(a.sh,b.sh))),1) >= 0.5), " +
      "e AS (SELECT id_a AS src, id_b AS dst FROM j UNION ALL SELECT id_b, id_a FROM j), " +
      "r AS (SELECT src AS id, src AS label FROM e UNION SELECT e.dst AS id, r.label FROM r JOIN e ON e.src = r.id), " +
      "lab AS (SELECT id, min(label) AS label FROM r GROUP BY id), " +
      "q3 AS MATERIALIZED (SELECT * FROM q2 WHERE doc_id NOT IN (SELECT id FROM lab WHERE label <> id)), " +
      audioHammingCtes("a", 4) + ", " +
      // the audio stage: analytic-envelope pairs among the docs that REACH it
      "apair AS (SELECT id_a, id_b FROM ahm WHERE hamming <= 4 " +
      "AND id_a IN (SELECT doc_id FROM q3) AND id_b IN (SELECT doc_id FROM q3)), " +
      "ae AS (SELECT id_a AS src, id_b AS dst FROM apair UNION ALL SELECT id_b, id_a FROM apair), " +
      "ar AS (SELECT src AS id, src AS label FROM ae UNION SELECT ae.dst AS id, ar.label FROM ar JOIN ae ON ae.src = ar.id), " +
      "alab AS (SELECT id, min(label) AS label FROM ar GROUP BY id), " +
      "q3a AS MATERIALIZED (SELECT * FROM q3 WHERE doc_id NOT IN (SELECT id FROM alab WHERE label <> id)), " +
      s"sh8c AS (${gram8("q3a")}), " +
      s"sh8b AS (${gram8("btok")}), " +
      "cont AS (SELECT DISTINCT c.doc_id AS doc_id FROM sh8c c JOIN sh8b b ON len(list_intersect(c.sh,b.sh)) > 0), " +
      "q4 AS MATERIALIZED (SELECT * FROM q3a WHERE doc_id NOT IN (SELECT doc_id FROM cont)), " +
      pipelineTailSql("q4") +
      "SELECT (SELECT count(*) FROM documents) AS n_input, " +
      "(SELECT count(*) FROM q1) AS n_quality, " +
      "(SELECT count(*) FROM q2) AS n_exact_dedup, " +
      "(SELECT count(*) FROM q3) AS n_near_dedup, " +
      "(SELECT count(*) FROM q3a) AS n_audio_dedup, " +
      "(SELECT count(*) FROM q4) AS n_decontaminated, " +
      "(SELECT CAST(sum(doc_id) AS BIGINT) FROM q4) AS id_checksum, " +
      "(SELECT CAST(sum(length(rt)) AS BIGINT) FROM red) AS text_len_sum, " +
      "(SELECT count(*) FROM sp WHERE split='train') AS n_train, " +
      "(SELECT count(*) FROM sp WHERE split='val') AS n_val, " +
      "(SELECT count(*) FROM sp WHERE split='test') AS n_test, " +
      "(SELECT count(*) FROM ck) AS n_chunks, " +
      "(SELECT CAST(sum(n) AS BIGINT) FROM ck) AS chunk_token_sum"
  }

  /** Ground truth for q_corpus_pipeline_video: the plain chain with the
    * VIDEO rung between near-dup and decontamination: analytic
    * per-frame-grid matched pairs ([[videoMatchCtes]], matched-frame
    * gate ≥ ceil(0.6·3) = 2) restricted to stage-3 survivors,
    * recursive-CTE CC, min-id survivor (the image/audio-variant
    * skeleton). */
  private lazy val corpusPipelineVideoOracle: String = {
    def gram8(src: String): String = gram8CteSql(src)
    "WITH RECURSIVE " +
      "btok AS (SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+') AS t FROM documents WHERE doc_id % 50 = 0), " +
      "base AS (SELECT doc_id, text, trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')) AS norm FROM documents), " +
      "tok AS MATERIALIZED (SELECT doc_id, text, norm, regexp_split_to_array(norm,'\\s+') AS t FROM base), " +
      pipelineLangCteSql +
      "q1 AS MATERIALIZED (SELECT tok.doc_id AS doc_id, tok.text AS text, tok.norm AS norm, tok.t AS t " +
      "FROM tok JOIN lang ON tok.doc_id = lang.doc_id " +
      "WHERE len(tok.t) BETWEEN 10 AND 100000 " +
      "AND length(regexp_replace(tok.text,'[^A-Za-z]','','g'))*1.0/greatest(length(tok.text),1) >= 0.4 " +
      "AND lang.lang = 'en'), " +
      "q2 AS (SELECT * FROM q1 WHERE doc_id IN (SELECT min(doc_id) FROM q1 GROUP BY norm)), " +
      "sh3 AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-1,1)), " +
      "i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS sh FROM q2), " +
      "j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id " +
      "WHERE len(list_intersect(a.sh,b.sh))*1.0/greatest(len(list_distinct(list_concat(a.sh,b.sh))),1) >= 0.5), " +
      "e AS (SELECT id_a AS src, id_b AS dst FROM j UNION ALL SELECT id_b, id_a FROM j), " +
      "r AS (SELECT src AS id, src AS label FROM e UNION SELECT e.dst AS id, r.label FROM r JOIN e ON e.src = r.id), " +
      "lab AS (SELECT id, min(label) AS label FROM r GROUP BY id), " +
      "q3 AS MATERIALIZED (SELECT * FROM q2 WHERE doc_id NOT IN (SELECT id FROM lab WHERE label <> id)), " +
      videoMatchCtes("v") + ", " +
      // the video stage: analytic matched-frame pairs among the docs
      // that REACH it (≥ 2 of 3 aligned frames within 4 bits)
      "vpair AS (SELECT id_a, id_b FROM vvm WHERE n_matched >= 2 " +
      "AND id_a IN (SELECT doc_id FROM q3) AND id_b IN (SELECT doc_id FROM q3)), " +
      "ve AS (SELECT id_a AS src, id_b AS dst FROM vpair UNION ALL SELECT id_b, id_a FROM vpair), " +
      "vr AS (SELECT src AS id, src AS label FROM ve UNION SELECT ve.dst AS id, vr.label FROM vr JOIN ve ON ve.src = vr.id), " +
      "vlab AS (SELECT id, min(label) AS label FROM vr GROUP BY id), " +
      "q3v AS MATERIALIZED (SELECT * FROM q3 WHERE doc_id NOT IN (SELECT id FROM vlab WHERE label <> id)), " +
      s"sh8c AS (${gram8("q3v")}), " +
      s"sh8b AS (${gram8("btok")}), " +
      "cont AS (SELECT DISTINCT c.doc_id AS doc_id FROM sh8c c JOIN sh8b b ON len(list_intersect(c.sh,b.sh)) > 0), " +
      "q4 AS MATERIALIZED (SELECT * FROM q3v WHERE doc_id NOT IN (SELECT doc_id FROM cont)), " +
      pipelineTailSql("q4") +
      "SELECT (SELECT count(*) FROM documents) AS n_input, " +
      "(SELECT count(*) FROM q1) AS n_quality, " +
      "(SELECT count(*) FROM q2) AS n_exact_dedup, " +
      "(SELECT count(*) FROM q3) AS n_near_dedup, " +
      "(SELECT count(*) FROM q3v) AS n_video_dedup, " +
      "(SELECT count(*) FROM q4) AS n_decontaminated, " +
      "(SELECT CAST(sum(doc_id) AS BIGINT) FROM q4) AS id_checksum, " +
      "(SELECT CAST(sum(length(rt)) AS BIGINT) FROM red) AS text_len_sum, " +
      "(SELECT count(*) FROM sp WHERE split='train') AS n_train, " +
      "(SELECT count(*) FROM sp WHERE split='val') AS n_val, " +
      "(SELECT count(*) FROM sp WHERE split='test') AS n_test, " +
      "(SELECT count(*) FROM ck) AS n_chunks, " +
      "(SELECT CAST(sum(n) AS BIGINT) FROM ck) AS chunk_token_sum"
  }

  /** Ground truth for q_corpus_pipeline_bpe: the plain chain over raw
    * documents, with the TAIL's chunk windows sliced over the FrozenBpe
    * PIECE stream of the redacted text ([[bpePieceCtes]] over the
    * redacted tokens, flattened per doc in token order) and the packing
    * recursion counting those pieces. */
  private lazy val corpusPipelineBpeOracle: String = {
    def gram8(src: String): String = gram8CteSql(src)
    "WITH RECURSIVE " +
      "btok AS (SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+') AS t FROM documents WHERE doc_id % 50 = 0), " +
      "base AS (SELECT doc_id, text, trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')) AS norm FROM documents), " +
      "tok AS MATERIALIZED (SELECT doc_id, text, norm, regexp_split_to_array(norm,'\\s+') AS t FROM base), " +
      pipelineLangCteSql +
      "q1 AS MATERIALIZED (SELECT tok.doc_id AS doc_id, tok.text AS text, tok.norm AS norm, tok.t AS t " +
      "FROM tok JOIN lang ON tok.doc_id = lang.doc_id " +
      "WHERE len(tok.t) BETWEEN 10 AND 100000 " +
      "AND length(regexp_replace(tok.text,'[^A-Za-z]','','g'))*1.0/greatest(length(tok.text),1) >= 0.4 " +
      "AND lang.lang = 'en'), " +
      "q2 AS (SELECT * FROM q1 WHERE doc_id IN (SELECT min(doc_id) FROM q1 GROUP BY norm)), " +
      "sh3 AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-1,1)), " +
      "i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS sh FROM q2), " +
      "j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id " +
      "WHERE len(list_intersect(a.sh,b.sh))*1.0/greatest(len(list_distinct(list_concat(a.sh,b.sh))),1) >= 0.5), " +
      "e AS (SELECT id_a AS src, id_b AS dst FROM j UNION ALL SELECT id_b, id_a FROM j), " +
      "r AS (SELECT src AS id, src AS label FROM e UNION SELECT e.dst AS id, r.label FROM r JOIN e ON e.src = r.id), " +
      "lab AS (SELECT id, min(label) AS label FROM r GROUP BY id), " +
      "q3 AS MATERIALIZED (SELECT * FROM q2 WHERE doc_id NOT IN (SELECT id FROM lab WHERE label <> id)), " +
      s"sh8c AS (${gram8("q3")}), " +
      s"sh8b AS (${gram8("btok")}), " +
      "cont AS (SELECT DISTINCT c.doc_id AS doc_id FROM sh8c c JOIN sh8b b ON len(list_intersect(c.sh,b.sh)) > 0), " +
      "q4 AS MATERIALIZED (SELECT * FROM q3 WHERE doc_id NOT IN (SELECT doc_id FROM cont)), " +
      // BPE tail: redact → tokenize → FrozenBpe pieces per distinct word
      // → per-doc piece stream in token order → chunk windows → split
      s"red AS (SELECT doc_id, $piiRedactSql AS rt FROM q4), " +
      "rtok AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(regexp_replace(lower(rt),'[^a-z0-9]+',' ','g')),'\\s+'), x -> x <> '') AS t FROM red), " +
      "rtoks AS (SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos FROM rtok), " +
      bpePieceCtes("rtoks") +
      "pstream AS MATERIALIZED (SELECT rtoks.doc_id AS doc_id, flatten(list(ps ORDER BY pos)) AS t " +
      "FROM rtoks JOIN pieces ON rtoks.w = pieces.w GROUP BY rtoks.doc_id), " +
      "st AS (SELECT doc_id, t, unnest(list_filter(range(0, len(t), 48), s -> s = 0 OR s + 16 < len(t))) AS s FROM pstream WHERE len(t) > 0), " +
      "ck AS (SELECT doc_id, CAST(s // 48 AS BIGINT) AS chunk_idx, len(list_slice(t, s + 1, s + 64)) AS n FROM st), " +
      // every packed chunk's pieces through the vocab-id arithmetic —
      // summed, this pins the engine-side input_ids end to end
      "cpc AS (SELECT unnest(list_slice(t, s + 1, s + 64)) AS p FROM st), " +
      bpeIdmCte + ", " +
      s"cpid AS (SELECT ${bpePidExpr("p")} AS pid FROM cpc ${bpeIdmJoin("p")}), " +
      "sp AS (SELECT doc_id, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,8) < 'e6666666' THEN 'train' " +
      "WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,8) < 'f3333333' THEN 'val' ELSE 'test' END AS split FROM q4) " +
      packingCtes(256) +
      "SELECT (SELECT count(*) FROM documents) AS n_input, " +
      "(SELECT count(*) FROM q1) AS n_quality, " +
      "(SELECT count(*) FROM q2) AS n_exact_dedup, " +
      "(SELECT count(*) FROM q3) AS n_near_dedup, " +
      "(SELECT count(*) FROM q4) AS n_decontaminated, " +
      "(SELECT CAST(sum(doc_id) AS BIGINT) FROM q4) AS id_checksum, " +
      "(SELECT CAST(sum(length(rt)) AS BIGINT) FROM red) AS text_len_sum, " +
      "(SELECT count(*) FROM sp WHERE split='train') AS n_train, " +
      "(SELECT count(*) FROM sp WHERE split='val') AS n_val, " +
      "(SELECT count(*) FROM sp WHERE split='test') AS n_test, " +
      "(SELECT count(*) FROM ck) AS n_chunks, " +
      "(SELECT CAST(sum(n) AS BIGINT) FROM ck) AS chunk_token_sum, " +
      "(SELECT count(*) FROM pex) AS n_examples, " +
      "(SELECT CAST(sum(nchunks) AS BIGINT) FROM pex) AS packed_chunk_sum, " +
      "(SELECT CAST(sum(ntok) AS BIGINT) FROM pex) AS packed_token_sum, " +
      "(SELECT CAST(sum(pid) AS BIGINT) FROM cpid) AS input_id_sum"
  }

  /** Ground truth for q_corpus_pipeline_url: the URL rung — canonical-url
    * min-id survivor over the [[urlVariantSql]] fixture, NULL urls
    * (%7==3) kept unconditionally, canonicalization restated via
    * [[urlCanonCtes]] — followed by the plain-config chain (quality/lang
    * gate → exact dedup → trigram near-dup CC at 0.5 → exact 8-gram
    * decontamination → redact → chunk → split), the dsir oracle's
    * upstream skeleton without the filler augmentation. */
  private lazy val corpusPipelineUrlOracle: String = {
    def gram8(src: String): String = gram8CteSql(src)
    "WITH RECURSIVE " +
      s"aug AS (SELECT doc_id, text, CASE WHEN doc_id % 7 = 3 THEN NULL ELSE $urlVariantSql END AS url FROM documents), " +
      urlCanonCtes("aug") + ", " +
      "ukeep AS (SELECT min(doc_id) AS doc_id FROM canon WHERE curl IS NOT NULL GROUP BY curl), " +
      "u1 AS MATERIALIZED (SELECT doc_id, text FROM aug WHERE url IS NULL OR doc_id IN (SELECT doc_id FROM ukeep)), " +
      "btok AS (SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+') AS t FROM documents WHERE doc_id % 50 = 0), " +
      "base AS (SELECT doc_id, text, trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')) AS norm FROM u1), " +
      "tok AS MATERIALIZED (SELECT doc_id, text, norm, regexp_split_to_array(norm,'\\s+') AS t FROM base), " +
      pipelineLangCteSql +
      "q1 AS MATERIALIZED (SELECT tok.doc_id AS doc_id, tok.text AS text, tok.norm AS norm, tok.t AS t " +
      "FROM tok JOIN lang ON tok.doc_id = lang.doc_id " +
      "WHERE len(tok.t) BETWEEN 10 AND 100000 " +
      "AND length(regexp_replace(tok.text,'[^A-Za-z]','','g'))*1.0/greatest(length(tok.text),1) >= 0.4 " +
      "AND lang.lang = 'en'), " +
      "q2 AS (SELECT * FROM q1 WHERE doc_id IN (SELECT min(doc_id) FROM q1 GROUP BY norm)), " +
      "sh3 AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-1,1)), " +
      "i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS sh FROM q2), " +
      "j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id " +
      "WHERE len(list_intersect(a.sh,b.sh))*1.0/greatest(len(list_distinct(list_concat(a.sh,b.sh))),1) >= 0.5), " +
      "e AS (SELECT id_a AS src, id_b AS dst FROM j UNION ALL SELECT id_b, id_a FROM j), " +
      "r AS (SELECT src AS id, src AS label FROM e UNION SELECT e.dst AS id, r.label FROM r JOIN e ON e.src = r.id), " +
      "lab AS (SELECT id, min(label) AS label FROM r GROUP BY id), " +
      "q3 AS MATERIALIZED (SELECT * FROM q2 WHERE doc_id NOT IN (SELECT id FROM lab WHERE label <> id)), " +
      s"sh8c AS (${gram8("q3")}), " +
      s"sh8b AS (${gram8("btok")}), " +
      "cont AS (SELECT DISTINCT c.doc_id AS doc_id FROM sh8c c JOIN sh8b b ON len(list_intersect(c.sh,b.sh)) > 0), " +
      "q4 AS MATERIALIZED (SELECT * FROM q3 WHERE doc_id NOT IN (SELECT doc_id FROM cont)), " +
      pipelineTailSql("q4") +
      "SELECT (SELECT count(*) FROM aug) AS n_input, " +
      "(SELECT count(*) FROM u1) AS n_url_dedup, " +
      "(SELECT count(*) FROM q1) AS n_quality, " +
      "(SELECT count(*) FROM q2) AS n_exact_dedup, " +
      "(SELECT count(*) FROM q3) AS n_near_dedup, " +
      "(SELECT count(*) FROM q4) AS n_decontaminated, " +
      "(SELECT CAST(sum(doc_id) AS BIGINT) FROM q4) AS id_checksum, " +
      "(SELECT CAST(sum(length(rt)) AS BIGINT) FROM red) AS text_len_sum, " +
      "(SELECT count(*) FROM sp WHERE split='train') AS n_train, " +
      "(SELECT count(*) FROM sp WHERE split='val') AS n_val, " +
      "(SELECT count(*) FROM sp WHERE split='test') AS n_test, " +
      "(SELECT count(*) FROM ck) AS n_chunks, " +
      "(SELECT CAST(sum(n) AS BIGINT) FROM ck) AS chunk_token_sum"
  }

  /** Ground truth for q_corpus_pipeline_c4: the C4 rung — line clean
    * ([[c4KeepSql]]) + page gates (curly/lorem on the RAW page, the
    * 5-sentence floor on the CLEANED text, exactly c4PageFlags) over the
    * [[c4AugSql]] fixture — followed by the plain-config chain, the url
    * oracle's skeleton with the C4 front end instead of the URL rung. */
  private lazy val corpusPipelineC4Oracle: String = {
    def gram8(src: String): String = gram8CteSql(src)
    "WITH RECURSIVE " +
      s"aug0 AS (SELECT doc_id, $c4AugSql AS t FROM documents), " +
      // u0 = the raw-page gates alone (the engine's c4_page_gate stage);
      // the line clean is computed only for its survivors, then the
      // sentence floor — exactly the restructured single-evaluation chain
      "u0 AS MATERIALIZED (SELECT doc_id, t FROM aug0 WHERE " +
      "NOT contains(t, '{') AND NOT contains(lower(t), 'lorem ipsum')), " +
      "cln AS MATERIALIZED (SELECT doc_id, array_to_string(list_filter(" +
      s"string_split(t, chr(10)), l -> $c4KeepSql), chr(10)) AS text FROM u0), " +
      "u1 AS MATERIALIZED (SELECT doc_id, text FROM cln WHERE " +
      "len(regexp_extract_all(text, '[.!?]+')) >= 5), " +
      "btok AS (SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+') AS t FROM documents WHERE doc_id % 50 = 0), " +
      "base AS (SELECT doc_id, text, trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')) AS norm FROM u1), " +
      "tok AS MATERIALIZED (SELECT doc_id, text, norm, regexp_split_to_array(norm,'\\s+') AS t FROM base), " +
      pipelineLangCteSql +
      "q1 AS MATERIALIZED (SELECT tok.doc_id AS doc_id, tok.text AS text, tok.norm AS norm, tok.t AS t " +
      "FROM tok JOIN lang ON tok.doc_id = lang.doc_id " +
      "WHERE len(tok.t) BETWEEN 10 AND 100000 " +
      "AND length(regexp_replace(tok.text,'[^A-Za-z]','','g'))*1.0/greatest(length(tok.text),1) >= 0.4 " +
      "AND lang.lang = 'en'), " +
      "q2 AS (SELECT * FROM q1 WHERE doc_id IN (SELECT min(doc_id) FROM q1 GROUP BY norm)), " +
      "sh3 AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-1,1)), " +
      "i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS sh FROM q2), " +
      "j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id " +
      "WHERE len(list_intersect(a.sh,b.sh))*1.0/greatest(len(list_distinct(list_concat(a.sh,b.sh))),1) >= 0.5), " +
      "e AS (SELECT id_a AS src, id_b AS dst FROM j UNION ALL SELECT id_b, id_a FROM j), " +
      "r AS (SELECT src AS id, src AS label FROM e UNION SELECT e.dst AS id, r.label FROM r JOIN e ON e.src = r.id), " +
      "lab AS (SELECT id, min(label) AS label FROM r GROUP BY id), " +
      "q3 AS MATERIALIZED (SELECT * FROM q2 WHERE doc_id NOT IN (SELECT id FROM lab WHERE label <> id)), " +
      s"sh8c AS (${gram8("q3")}), " +
      s"sh8b AS (${gram8("btok")}), " +
      "cont AS (SELECT DISTINCT c.doc_id AS doc_id FROM sh8c c JOIN sh8b b ON len(list_intersect(c.sh,b.sh)) > 0), " +
      "q4 AS MATERIALIZED (SELECT * FROM q3 WHERE doc_id NOT IN (SELECT doc_id FROM cont)), " +
      pipelineTailSql("q4") +
      "SELECT (SELECT count(*) FROM aug0) AS n_input, " +
      "(SELECT count(*) FROM u0) AS n_c4_page_gate, " +
      "(SELECT count(*) FROM q1) AS n_quality, " +
      "(SELECT count(*) FROM q2) AS n_exact_dedup, " +
      "(SELECT count(*) FROM q3) AS n_near_dedup, " +
      "(SELECT count(*) FROM q4) AS n_decontaminated, " +
      "(SELECT CAST(sum(doc_id) AS BIGINT) FROM q4) AS id_checksum, " +
      "(SELECT CAST(sum(length(rt)) AS BIGINT) FROM red) AS text_len_sum, " +
      "(SELECT count(*) FROM sp WHERE split='train') AS n_train, " +
      "(SELECT count(*) FROM sp WHERE split='val') AS n_val, " +
      "(SELECT count(*) FROM sp WHERE split='test') AS n_test, " +
      "(SELECT count(*) FROM ck) AS n_chunks, " +
      "(SELECT CAST(sum(n) AS BIGINT) FROM ck) AS chunk_token_sum"
  }

  /** Ground truth for q_corpus_pipeline_c4_lines: the C4 chain
    * ([[corpusPipelineC4Oracle]]) with the LINE-LEVEL dedup stage
    * between exact and near-dup — the configuration prescribed for
    * high-boilerplate crawl corpora at scale (the measured 237.5 →
    * 96.4 s fix at 500k, BASELINE.md round 11): shared nav/menu lines
    * are scrubbed BEFORE shingling, so they can never flood the
    * near-dup band join. Line stage = the q_line_dedup restatement
    * (lines in ≥ 2 distinct docs scrubbed everywhere, blank lines
    * exempt, order-preserving reassembly, minTokens re-gate). */
  private lazy val corpusPipelineC4LinesOracle: String = {
    def gram8(src: String): String = gram8CteSql(src)
    val renorm = "trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g'))"
    "WITH RECURSIVE " +
      s"aug0 AS (SELECT doc_id, $c4AugSql AS t FROM documents), " +
      "u0 AS MATERIALIZED (SELECT doc_id, t FROM aug0 WHERE " +
      "NOT contains(t, '{') AND NOT contains(lower(t), 'lorem ipsum')), " +
      "cln AS MATERIALIZED (SELECT doc_id, array_to_string(list_filter(" +
      s"string_split(t, chr(10)), l -> $c4KeepSql), chr(10)) AS text FROM u0), " +
      "u1 AS MATERIALIZED (SELECT doc_id, text FROM cln WHERE " +
      "len(regexp_extract_all(text, '[.!?]+')) >= 5), " +
      "btok AS (SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+') AS t FROM documents WHERE doc_id % 50 = 0), " +
      "base AS (SELECT doc_id, text, trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')) AS norm FROM u1), " +
      "tok AS MATERIALIZED (SELECT doc_id, text, norm, regexp_split_to_array(norm,'\\s+') AS t FROM base), " +
      pipelineLangCteSql +
      "q1 AS MATERIALIZED (SELECT tok.doc_id AS doc_id, tok.text AS text, tok.norm AS norm, tok.t AS t " +
      "FROM tok JOIN lang ON tok.doc_id = lang.doc_id " +
      "WHERE len(tok.t) BETWEEN 10 AND 100000 " +
      "AND length(regexp_replace(tok.text,'[^A-Za-z]','','g'))*1.0/greatest(length(tok.text),1) >= 0.4 " +
      "AND lang.lang = 'en'), " +
      "q2 AS (SELECT * FROM q1 WHERE doc_id IN (SELECT min(doc_id) FROM q1 GROUP BY norm)), " +
      // line-level dedup (the q_line_dedup restatement; see
      // corpusPipelineOracle's identical block)
      "lls AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line, " +
      "generate_subscripts(string_split(text, chr(10)), 1) AS lpos FROM q2), " +
      "ldup AS (SELECT line FROM (SELECT DISTINCT doc_id, line FROM lls WHERE trim(line) <> '') " +
      "GROUP BY line HAVING count(*) >= 2), " +
      "lkept AS (SELECT doc_id, line, lpos FROM lls WHERE trim(line) = '' OR line NOT IN (SELECT line FROM ldup)), " +
      "lreb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY lpos) AS t2 FROM lkept GROUP BY doc_id), " +
      "q2l0 AS (SELECT q2.doc_id AS doc_id, COALESCE(lreb.t2, '') AS text FROM q2 LEFT JOIN lreb ON q2.doc_id = lreb.doc_id), " +
      s"q2l AS MATERIALIZED (SELECT doc_id, text, $renorm AS norm, regexp_split_to_array($renorm,'\\s+') AS t " +
      s"FROM q2l0 WHERE len(regexp_split_to_array($renorm,'\\s+')) >= 10), " +
      "sh3 AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-1,1)), " +
      "i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS sh FROM q2l), " +
      "j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id " +
      "WHERE len(list_intersect(a.sh,b.sh))*1.0/greatest(len(list_distinct(list_concat(a.sh,b.sh))),1) >= 0.5), " +
      "e AS (SELECT id_a AS src, id_b AS dst FROM j UNION ALL SELECT id_b, id_a FROM j), " +
      "r AS (SELECT src AS id, src AS label FROM e UNION SELECT e.dst AS id, r.label FROM r JOIN e ON e.src = r.id), " +
      "lab AS (SELECT id, min(label) AS label FROM r GROUP BY id), " +
      "q3 AS MATERIALIZED (SELECT * FROM q2l WHERE doc_id NOT IN (SELECT id FROM lab WHERE label <> id)), " +
      s"sh8c AS (${gram8("q3")}), " +
      s"sh8b AS (${gram8("btok")}), " +
      "cont AS (SELECT DISTINCT c.doc_id AS doc_id FROM sh8c c JOIN sh8b b ON len(list_intersect(c.sh,b.sh)) > 0), " +
      "q4 AS MATERIALIZED (SELECT * FROM q3 WHERE doc_id NOT IN (SELECT doc_id FROM cont)), " +
      pipelineTailSql("q4") +
      "SELECT (SELECT count(*) FROM aug0) AS n_input, " +
      "(SELECT count(*) FROM u0) AS n_c4_page_gate, " +
      "(SELECT count(*) FROM q1) AS n_quality, " +
      "(SELECT count(*) FROM q2) AS n_exact_dedup, " +
      "(SELECT count(*) FROM q2l) AS n_line_dedup, " +
      "(SELECT count(*) FROM q3) AS n_near_dedup, " +
      "(SELECT count(*) FROM q4) AS n_decontaminated, " +
      "(SELECT CAST(sum(doc_id) AS BIGINT) FROM q4) AS id_checksum, " +
      "(SELECT CAST(sum(length(rt)) AS BIGINT) FROM red) AS text_len_sum, " +
      "(SELECT count(*) FROM sp WHERE split='train') AS n_train, " +
      "(SELECT count(*) FROM sp WHERE split='val') AS n_val, " +
      "(SELECT count(*) FROM sp WHERE split='test') AS n_test, " +
      "(SELECT count(*) FROM ck) AS n_chunks, " +
      "(SELECT CAST(sum(n) AS BIGINT) FROM ck) AS chunk_token_sum"
  }

  /** Ground truth shared by q_hard_negatives AND q_hard_negatives_ivf:
    * exact cosine ranking with the query and its two planted positives
    * (q+1, q+2) excluded BEFORE the rank. The IVF registration probes
    * every list, so its candidate set is complete and its result equals
    * the brute-force form's by construction (SimilaritySpec pins it). */
  private lazy val hardNegativesOracle: String =
    "WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20), " +
      "pos AS (SELECT vec_id AS q_id, vec_id + 1 AS pos_id FROM q " +
      "UNION ALL SELECT vec_id, vec_id + 2 FROM q), " +
      "sc AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id, " +
      "list_cosine_similarity(q.embedding, c.embedding) AS cos " +
      "FROM q JOIN embeddings c ON c.vec_id <> q.vec_id), " +
      "scx AS (SELECT sc.* FROM sc ANTI JOIN pos " +
      "ON sc.q_id = pos.q_id AND sc.c_id = pos.pos_id), " +
      "rk AS (SELECT q_id, c_id, row_number() OVER " +
      "(PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM scx) " +
      "SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id AS neg_id " +
      "FROM rk WHERE rank <= 3 ORDER BY q_id, rank"

  /** ML-tokenizer shingle CTE over the [[graft.operators.MlFixture]]
    * VALUES corpus — tokens generated from Tok.Ml.sqlTokens (the same
    * single-source table the kernel classifies with). */
  private lazy val mlShingleCte: String = {
    val toks = graft.functions.Tok.Ml.sqlTokens("text")
    "sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-1,1)), " +
      "i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS shingles " +
      s"FROM (SELECT doc_id, $toks AS t FROM ${graft.operators.MlFixture.sqlValues}))"
  }

  /** Exact all-pairs ml-shingle Jaccard ≥ 0.5 — ground truth for
    * q_minhash_near_dups_ml (same total-recall argument as the Latin
    * form: planted twins sit at J ≈ 0.7–0.9, miss probability ≤ 1e-4). */
  private lazy val mlExactJaccardPairsSql: String =
    s"WITH $mlShingleCte, " +
      "j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
      "len(list_intersect(a.shingles,b.shingles))*1.0/greatest(len(list_distinct(list_concat(a.shingles,b.shingles))),1) AS jaccard " +
      "FROM sh a JOIN sh b ON a.doc_id < b.doc_id) " +
      "SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5 ORDER BY id_a, id_b"

  /** ml tokenizer parity: count + md5 of the space-joined stream over
    * fixture ∪ LangProfiles samples (both VALUES literals generated from
    * the same Scala sources the Spark side reads). */
  private lazy val mlTokensSql: String = {
    val lp = graft.functions.LangProfiles
    val sampleVals = lp.sampleCodes.zipWithIndex.map { case (code, k) =>
      s"(${100 + k}, '$code', '${lp.samples(code)}')"
    }.mkString(", ")
    val toks = graft.functions.Tok.Ml.sqlTokens("text")
    s"WITH all_docs(doc_id, lang, text) AS (" +
      s"SELECT * FROM ${graft.operators.MlFixture.sqlValues} " +
      s"UNION ALL SELECT * FROM (VALUES $sampleVals) s(doc_id, lang, text)) " +
      s"SELECT doc_id, lang, CAST(len($toks) AS BIGINT) AS n_tokens, " +
      s"md5(array_to_string($toks, ' ')) AS toks_fp FROM all_docs ORDER BY doc_id"
  }

  private val shingleCte: String =
    "sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-1,1)), " +
      "i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS shingles " +
      "FROM (SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+') AS t FROM documents))"

  /** Exact all-pairs n-gram Jaccard ≥ 0.5 — the ground truth that BOTH
    * q_ngram_jaccard_pairs (exact prefix-filter join) and
    * q_minhash_near_dups (LSH with total recall at this corpus's
    * similarity level, exact-verified) must reproduce. */
  private val exactJaccardPairsSql: String =
    s"WITH $shingleCte, " +
      "j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
      "len(list_intersect(a.shingles,b.shingles))*1.0/greatest(len(list_distinct(list_concat(a.shingles,b.shingles))),1) AS jaccard " +
      "FROM sh a JOIN sh b ON a.doc_id < b.doc_id) " +
      "SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5 ORDER BY id_a, id_b"

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q_count_lineitem" -> "SELECT COUNT(*) AS cnt FROM lineitem",
    "q_count_part" -> "SELECT COUNT(*) AS cnt FROM part",
    "q_null_counts_lineitem" ->
      ("SELECT COUNT(*) FILTER (WHERE l_orderkey IS NULL) AS null_l_orderkey, " +
        "COUNT(*) FILTER (WHERE l_partkey IS NULL) AS null_l_partkey, " +
        "COUNT(*) FILTER (WHERE l_quantity IS NULL) AS null_l_quantity, " +
        "COUNT(*) FILTER (WHERE l_shipdate IS NULL) AS null_l_shipdate " +
        "FROM lineitem"),
    "q_null_counts_part" ->
      ("SELECT COUNT(*) FILTER (WHERE p_partkey IS NULL) AS null_p_partkey, " +
        "COUNT(*) FILTER (WHERE p_name IS NULL) AS null_p_name, " +
        "COUNT(*) FILTER (WHERE p_retailprice IS NULL) AS null_p_retailprice " +
        "FROM part"),
    "q_duplicate_sales_keys" ->
      ("SELECT l_partkey, l_shipdate, COUNT(*) AS dupes FROM lineitem " +
        "GROUP BY l_partkey, l_shipdate HAVING COUNT(*) > 1 " +
        "ORDER BY l_partkey, l_shipdate"),
    "q_duplicate_pk" ->
      ("SELECT p_partkey, COUNT(*) AS dupes FROM part " +
        "GROUP BY p_partkey HAVING COUNT(*) > 1 ORDER BY p_partkey"),
    "q_orphan_lineitem_part" ->
      ("SELECT COUNT(*) AS orphans FROM lineitem l " +
        "LEFT JOIN part p ON l.l_partkey = p.p_partkey " +
        "WHERE p.p_partkey IS NULL"),
    "q_orphan_orders_customer" ->
      ("SELECT COUNT(*) AS orphans FROM orders o " +
        "LEFT JOIN customer c ON o.o_custkey = c.c_custkey " +
        "WHERE c.c_custkey IS NULL"),
    "q_value_ranges_lineitem" ->
      ("SELECT MIN(l_quantity) AS min_l_quantity, MAX(l_quantity) AS max_l_quantity, " +
        "MIN(l_extendedprice) AS min_l_extendedprice, " +
        "MAX(l_extendedprice) AS max_l_extendedprice FROM lineitem"),
    "q_value_ranges_part" ->
      ("SELECT MIN(p_retailprice) AS min_p_retailprice, " +
        "MAX(p_retailprice) AS max_p_retailprice FROM part"),
    "q1_pricing_summary" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,10))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_qty, " +
        "CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,10))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_base_price, " +
        "CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,10))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc_price, " +
        "COUNT(*) AS count_order " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    "q3_shipping_priority" ->
      ("SELECT o_orderkey, o_orderdate, o_orderpriority, " +
        "CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,10))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment = 'BUILDING' " +
        "AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00' " +
        "AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00' " +
        "GROUP BY o_orderkey, o_orderdate, o_orderpriority " +
        "ORDER BY revenue DESC, o_orderkey LIMIT 10"),
    "q_revenue_by_segment" ->
      ("SELECT c_mktsegment, COUNT(*) AS n_orders, " +
        "CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,10))) AS DECIMAL(18,4)) AS DOUBLE) AS total_price " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    "q_revenue_by_nation" ->
      ("SELECT n_name, " +
        "CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,10))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue, " +
        "COUNT(*) AS n_items " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "GROUP BY n_name ORDER BY n_name"),
    "q_top_orders" ->
      ("SELECT o_orderkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),
    "q_distinct_documents" ->
      "SELECT COUNT(*) AS n_unique FROM (SELECT DISTINCT * FROM documents)",
    "q_dedup_exact_text" ->
      ("SELECT COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique_texts " +
        "FROM documents"),
    "q_token_counts" ->
      ("SELECT doc_id, CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens " +
        "FROM documents ORDER BY doc_id"),
    "q_lang_distribution" ->
      "SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang ORDER BY lang",
    "q_doc_fingerprints" ->
      ("SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint " +
        "FROM documents ORDER BY doc_id"),
    "q_quality_scores" ->
      ("SELECT doc_id, " +
        "CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio, " +
        "CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) AS digit_ratio " +
        "FROM documents ORDER BY doc_id"),
    "q_events_hourly" ->
      ("SELECT date_trunc('hour', ts) AS hour_start, event_type, " +
        "COUNT(*) AS n_events, " +
        "CAST(CAST(SUM(CAST(value AS DECIMAL(25,10))) AS DECIMAL(18,4)) AS DOUBLE) AS value_sum " +
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
    // session_window ≡ gaps-and-islands: a gap >= the 5-minute threshold
    // starts a new session (session windows are half-open intervals).
    "q_event_sessions" ->
      ("WITH l AS (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts FROM events), " +
        "g AS (SELECT user_id, ts, CASE WHEN prev_ts IS NULL OR ts - prev_ts >= INTERVAL 5 MINUTE THEN 1 ELSE 0 END AS new_s FROM l), " +
        "s AS (SELECT user_id, ts, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM g) " +
        "SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events " +
        "FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"),
    "q_top3_orders_per_segment" ->
      ("SELECT c_mktsegment, rk, o_orderkey, o_totalprice FROM (" +
        "SELECT c_mktsegment, o_orderkey, o_totalprice, " +
        "ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS rk " +
        "FROM orders JOIN customer ON o_custkey = c_custkey) " +
        "WHERE rk <= 3 ORDER BY c_mktsegment, rk"),
    "q_rollup_counts" ->
      ("SELECT l_returnflag, l_linestatus, COUNT(*) AS n, " +
        "CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,10))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_qty " +
        "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"),
    "q_customers_without_orders" ->
      ("SELECT c_custkey FROM customer " +
        "EXCEPT SELECT o_custkey AS c_custkey FROM orders ORDER BY c_custkey"),
    "q_supplier_customer_nations" ->
      ("SELECT s_nationkey AS nationkey FROM supplier " +
        "INTERSECT SELECT c_nationkey AS nationkey FROM customer ORDER BY nationkey"),
    "q_order_deltas" ->
      ("SELECT o_custkey, o_orderkey, o_orderdate, " +
        "lag(o_orderkey, 1) OVER w AS prev_orderkey, " +
        "lead(o_orderkey, 1) OVER w AS next_orderkey, " +
        "CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,10))) OVER " +
        "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING) " +
        "AS DECIMAL(18,4)) AS DOUBLE) AS running_total " +
        "FROM orders WHERE o_custkey < 100 " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) " +
        "ORDER BY o_custkey, o_orderdate, o_orderkey"),
    "q_pivot_linestatus" ->
      ("SELECT l_returnflag, " +
        "COUNT(*) FILTER (WHERE l_linestatus = 'F') AS F, " +
        "COUNT(*) FILTER (WHERE l_linestatus = 'O') AS O " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_cube_order_stats" ->
      ("SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, " +
        "CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,10))) AS DECIMAL(18,4)) AS DOUBLE) AS total " +
        "FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority) " +
        "ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"),
    "q_above_avg_orders" ->
      ("WITH a AS (SELECT o_custkey, " +
        "CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,10))) AS DECIMAL(18,4)) AS DOUBLE)/COUNT(*) AS avg_price " +
        "FROM orders GROUP BY o_custkey) " +
        "SELECT o.o_custkey, COUNT(*) AS n_above FROM orders o JOIN a USING (o_custkey) " +
        "WHERE o.o_totalprice > a.avg_price * 2 GROUP BY o.o_custkey ORDER BY o.o_custkey"),
    "q_ngram_jaccard_pairs" -> exactJaccardPairsSql,
    "q_minhash_near_dups" -> exactJaccardPairsSql,
    "q_minhash_near_dups_tuned" -> exactJaccardPairsSql,
    "q_minhash_near_dups_ml" -> mlExactJaccardPairsSql,
    "q_tokens_ml" -> mlTokensSql,
    "q_gopher_quality_ml" -> mlGopherQualitySql,
    "q_media_contamination" -> mediaContaminationOracle,
    "q_bpe_token_counts_ml" -> {
      val mlToks = graft.functions.Tok.Ml.sqlTokens("text")
      s"WITH mld AS (SELECT doc_id, text FROM ${graft.operators.MlFixture.sqlValues}), " +
        s"tk AS (SELECT doc_id, $mlToks AS t FROM mld), " +
        "toks AS (SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos FROM tk), " +
        bpePieceCtes("toks") +
        "perdoc AS (SELECT toks.doc_id AS doc_id, count(*) AS n_toks, " +
        "CAST(sum(len(ps)) AS BIGINT) AS n_pieces, " +
        "string_agg(array_to_string(ps, ' '), ' ' ORDER BY pos) AS stream " +
        "FROM toks JOIN pieces ON toks.w = pieces.w GROUP BY toks.doc_id) " +
        "SELECT d.doc_id AS doc_id, CAST(COALESCE(p.n_toks, 0) AS BIGINT) AS n_tokens, " +
        "COALESCE(p.n_pieces, 0) AS n_pieces, md5(COALESCE(p.stream, '')) AS pieces_fp " +
        "FROM mld d LEFT JOIN perdoc p ON d.doc_id = p.doc_id ORDER BY doc_id"
    },
    // SimHash ground truth, independently restated: FNV-1a-64 per token
    // (fold over UTF-8 bytes — tokens are [a-z0-9]+ so unicode(ch) IS the
    // byte — with mod-2⁶⁴ HUGEINT multiply), multiplicity-weighted bit
    // votes, sign vector packed to a signed BIGINT, all-pairs Hamming ≤ 3.
    // Matches graft.functions.SimHashUtil bit for bit.
    "q_simhash_near_dups" -> {
      val pw = (0 until 64)
        .map(b => s"($b, CAST('${BigInt(1) << b}' AS HUGEINT))").mkString(", ")
      "WITH tk AS (SELECT doc_id, list_filter(" +
        "regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+'), " +
        "x -> x <> '') AS toks FROM documents), " +
        "hb AS (SELECT doc_id, list_reduce(" +
        "list_prepend(CAST('14695981039346656037' AS HUGEINT), " +
        "list_transform(string_split(tok, ''), c -> CAST(unicode(c) AS HUGEINT))), " +
        "(h, b) -> (xor(h, b) * 1099511628211) % CAST('18446744073709551616' AS HUGEINT)) AS h " +
        "FROM (SELECT doc_id, unnest(toks) AS tok FROM tk)), " +
        s"pw(bit, p) AS (VALUES $pw), " +
        "v AS (SELECT doc_id, bit, p, sum(CASE WHEN (h // p) % 2 = 1 THEN 1 ELSE -1 END) AS vote " +
        "FROM hb CROSS JOIN pw GROUP BY doc_id, bit, p), " +
        "sim0 AS (SELECT doc_id, sum(CASE WHEN vote > 0 THEN p ELSE CAST(0 AS HUGEINT) END) AS u " +
        "FROM v GROUP BY doc_id), " +
        "sgn AS (SELECT d.doc_id, CAST(CASE WHEN u IS NULL THEN 0 " +
        "WHEN u >= CAST('9223372036854775808' AS HUGEINT) THEN u - CAST('18446744073709551616' AS HUGEINT) " +
        "ELSE u END AS BIGINT) AS s FROM documents d LEFT JOIN sim0 ON d.doc_id = sim0.doc_id) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming " +
        "FROM sgn a JOIN sgn b ON a.doc_id < b.doc_id " +
        "WHERE bit_count(xor(a.s, b.s)) <= 3 ORDER BY id_a, id_b"
    },
    "q_embedding_similar_pairs" ->
      ("SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM embeddings a " +
        "JOIN embeddings b ON a.vec_id < b.vec_id " +
        "WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45 " +
        "ORDER BY id_a, id_b"),
    // Connected components as a recursive CTE: propagate every label along
    // edges until fixpoint (UNION dedups), then min-label per node; a doc
    // is removed iff its cluster min label isn't itself.
    "q_dedup_resolved" ->
      (s"WITH RECURSIVE $shingleCte, " +
        "j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
        "WHERE len(list_intersect(a.shingles,b.shingles))*1.0/greatest(len(list_distinct(list_concat(a.shingles,b.shingles))),1) >= 0.5), " +
        "e AS (SELECT id_a AS src, id_b AS dst FROM j UNION ALL SELECT id_b, id_a FROM j), " +
        "r AS (SELECT src AS id, src AS label FROM e UNION SELECT e.dst AS id, r.label FROM r JOIN e ON e.src = r.id), " +
        "lab AS (SELECT id, min(label) AS label FROM r GROUP BY id), " +
        "losers AS (SELECT count(*) AS n_losers FROM lab WHERE label <> id) " +
        "SELECT (SELECT count(*) FROM documents) AS n_docs, " +
        "(SELECT count(*) FROM documents) - n_losers AS n_kept FROM losers"),
    // same pairs + CC as q_dedup_resolved; the survivor RANK swaps to
    // (priority desc, id asc) — the checksum pins which member survived
    "q_dedup_prioritized" ->
      (s"WITH RECURSIVE $shingleCte, " +
        "j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
        "WHERE len(list_intersect(a.shingles,b.shingles))*1.0/greatest(len(list_distinct(list_concat(a.shingles,b.shingles))),1) >= 0.5), " +
        "e AS (SELECT id_a AS src, id_b AS dst FROM j UNION ALL SELECT id_b, id_a FROM j), " +
        "r AS (SELECT src AS id, src AS label FROM e UNION SELECT e.dst AS id, r.label FROM r JOIN e ON e.src = r.id), " +
        "lab AS (SELECT id, min(label) AS label FROM r GROUP BY id), " +
        // TRY_CAST + explicit NULLS LAST: a digitless source yields a null
        // priority on the Spark side ("no priority = crawl-grade"); the
        // oracle must mirror that, not throw a conversion error
        "pr AS (SELECT doc_id, TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) AS prio FROM documents), " +
        "rk AS (SELECT lab.id AS id, ROW_NUMBER() OVER (PARTITION BY lab.label " +
        "ORDER BY pr.prio DESC NULLS LAST, lab.id ASC) AS rk FROM lab JOIN pr ON pr.doc_id = lab.id), " +
        "kept AS (SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id FROM rk WHERE rk > 1)) " +
        "SELECT (SELECT count(*) FROM documents) AS n_docs, count(*) AS n_kept, " +
        "CAST(sum(doc_id) AS BIGINT) AS id_checksum FROM kept"),
    "q_approx_distinct" ->
      ("SELECT count(DISTINCT l_partkey) AS exact_parts, " +
        "TRUE AS approx_parts_ok, TRUE AS approx_orders_ok FROM lineitem"),
    // Incremental dedup ground truth: exact pairs restricted to those with
    // an incoming (id >= 300) member — the same edge set the one-sided
    // band probe can produce — then CC and the taint rule: clusters with
    // any existing member drop all incoming; pure-incoming keep min id.
    "q_incremental_dedup" -> incrementalDedupOracle,
    // The stored-index probe must be result-IDENTICAL to the recompute
    // path — one ground truth for both.
    "q_incremental_dedup_indexed" -> incrementalDedupOracle,
    "q_corpus_pipeline" -> corpusPipelineOracle,
    // identical ground truth: the tuned detector exact-verifies the same
    // threshold, so the pipeline's survivors cannot differ
    "q_corpus_pipeline_tuned" -> corpusPipelineOracle,
    "q_corpus_pipeline_semantic" -> corpusPipelineSemanticOracle,
    "q_corpus_pipeline_fuzzy" -> corpusPipelineFuzzyOracle,
    "q_corpus_pipeline_dsir" -> corpusPipelineDsirOracle,
    // Same deterministic augmentation as the Spark side: one jittered copy
    // per vec_id % 10 == 0, ±0.025 per dimension keyed by md5(vec_id||'-'||i)
    // (DuckDB list lambdas index from 1; the Spark transform uses i+1 to
    // match), then exact all-pairs cosine at τ=0.9 + recursive-CTE CC.
    "q_embedding_dedup_resolved" ->
      ("WITH RECURSIVE base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings), " +
        "aug AS (SELECT vec_id, embedding FROM base " +
        "UNION ALL SELECT vec_id + 1000000, " +
        "list_transform(embedding, (x, i) -> x + 0.025 * (CASE WHEN " +
        "substr(md5(CAST(vec_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 1) <= '7' " +
        "THEN 1.0 ELSE -1.0 END)) FROM base WHERE vec_id % 10 = 0), " +
        "j AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM aug a " +
        "JOIN aug b ON a.vec_id < b.vec_id " +
        "WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.9), " +
        "e AS (SELECT id_a AS src, id_b AS dst FROM j UNION ALL SELECT id_b, id_a FROM j), " +
        "r AS (SELECT src AS id, src AS label FROM e UNION SELECT e.dst AS id, r.label FROM r JOIN e ON e.src = r.id), " +
        "lab AS (SELECT id, min(label) AS label FROM r GROUP BY id), " +
        "losers AS (SELECT count(*) AS n_losers FROM lab WHERE label <> id) " +
        "SELECT (SELECT count(*) FROM aug) AS n_vecs, " +
        "(SELECT count(*) FROM aug) - n_losers AS n_kept FROM losers"),
    "q_deterministic_sample" ->
      ("SELECT (SELECT count(*) FROM documents) AS n_docs, count(*) AS n_sampled, " +
        "CAST(sum(doc_id) AS BIGINT) AS id_checksum FROM documents " +
        "WHERE substr(md5(CAST(doc_id AS VARCHAR)),1,8) < '40000000'"),
    // per-source cap: identical (n_chars DESC, doc_id ASC) rank, k=10
    "q_source_cap" ->
      ("SELECT source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_checksum " +
        "FROM (SELECT source, doc_id, ROW_NUMBER() OVER " +
        "(PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rk FROM documents) " +
        "WHERE rk <= 10 GROUP BY source ORDER BY source"),
    // Cluster-balanced subsample: nearest frozen coarse centroid (the
    // q_ann assignment restatement, keep=1) as the topic key, then the
    // per-cluster k-best cap under the md5 score, ties by id.
    "q_cluster_balanced_sample" -> {
      "WITH " + AnnOracles.coarseCtes + ", " +
        "ca AS (SELECT vec_id, l FROM (SELECT e.vec_id, ls.l, " +
        "ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY " +
        "list_cosine_similarity(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), cents[ls.l+1]) DESC, ls.l) AS rk " +
        "FROM embeddings e, ls, co) WHERE rk <= 1), " +
        "scv AS (SELECT vec_id, l, CAST(CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)),1,8)) AS BIGINT) AS DOUBLE) AS s FROM ca), " +
        "kept AS (SELECT l, vec_id FROM (SELECT l, vec_id, ROW_NUMBER() OVER " +
        "(PARTITION BY l ORDER BY s DESC, vec_id ASC) AS rk FROM scv) WHERE rk <= 5) " +
        "SELECT CAST(l AS BIGINT) AS cluster, count(*) AS n_kept, " +
        "CAST(sum(vec_id) AS BIGINT) AS id_checksum " +
        "FROM kept GROUP BY l ORDER BY cluster"
    },
    // Same md5-bucket predicate, per-stratum threshold (0.5 → 80000000,
    // 0.25 → 40000000, default 0.1 → 1999999a — thresholdHex values).
    "q_stratified_sample" ->
      ("SELECT lang, count(*) AS n_sampled, CAST(sum(doc_id) AS BIGINT) AS id_checksum " +
        "FROM documents WHERE substr(md5(CAST(doc_id AS VARCHAR)),1,8) < " +
        "CASE lang WHEN 'en' THEN '80000000' WHEN 'zh' THEN '40000000' ELSE '1999999a' END " +
        "GROUP BY lang ORDER BY lang"),
    // Temperature resampling ground truth: the rate derivation re-run in
    // SQL — lang histogram, w = p^0.5, normalizer summed in lang-sorted
    // order (list_reduce over an ORDER BY list pins the float summation
    // order to match the Scala foldLeft), rates rounded to 4 decimals,
    // then the same md5 thresholds Sampling.thresholdHex builds
    // (round-half-up, capped at ffffffff, rate 1.0 → 'g' above every
    // bucket).
    "q_temperature_resample" ->
      ("WITH hist AS (SELECT CAST(lang AS VARCHAR) AS s, count(*) AS n FROM documents GROUP BY lang), " +
        "tot AS (SELECT sum(n) AS total FROM hist), " +
        "wts AS (SELECT s, n, pow(n * 1.0 / total, 0.5) AS w FROM hist CROSS JOIN tot), " +
        "z AS (SELECT list_reduce(list(w ORDER BY s), (a, b) -> a + b) AS z FROM wts), " +
        "rates AS (SELECT s, round(least(1.0, w / z * (0.5 * total) / n), 4) AS r " +
        "FROM wts CROSS JOIN z CROSS JOIN tot), " +
        "th AS (SELECT s, CASE WHEN r >= 1.0 THEN 'g' ELSE " +
        "lpad(lower(hex(CAST(least(round(r * 4294967296.0), 4294967295) AS BIGINT))),8,'0') END AS th FROM rates) " +
        "SELECT d.lang AS lang, count(*) AS n_sampled, CAST(sum(d.doc_id) AS BIGINT) AS id_checksum " +
        "FROM documents d JOIN th ON CAST(d.lang AS VARCHAR) = th.s " +
        "WHERE substr(md5(CAST(d.doc_id AS VARCHAR)),1,8) < th.th " +
        "GROUP BY d.lang ORDER BY d.lang"),
    // Line-dedup ground truth over the same augmented corpus: exact line
    // strings (the Spark side joins on 64-bit line hashes — collision-free
    // at any testable scale, the contamination argument), distinct-doc
    // counts, blank lines exempt, order-preserving reassembly.
    "q_line_dedup" ->
      ("WITH aug AS (SELECT doc_id, text || CASE WHEN doc_id % 2 = 0 " +
        "THEN chr(10) || 'copyright footer all rights reserved' ELSE '' END || " +
        "chr(10) || 'doc ' || CAST(doc_id AS VARCHAR) || ' unique footer' AS t FROM documents), " +
        "ls AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS line, " +
        "generate_subscripts(string_split(t, chr(10)), 1) AS pos FROM aug), " +
        "dups AS (SELECT line FROM (SELECT DISTINCT doc_id, line FROM ls WHERE trim(line) <> '') " +
        "GROUP BY line HAVING count(*) >= 2), " +
        "kept AS (SELECT doc_id, line, pos FROM ls WHERE trim(line) = '' OR line NOT IN (SELECT line FROM dups)), " +
        "reb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS t2, count(*) AS nk FROM kept GROUP BY doc_id) " +
        "SELECT a.doc_id AS doc_id, md5(COALESCE(reb.t2, '')) AS text_fp, " +
        "CAST(COALESCE(reb.nk, 0) AS BIGINT) AS n_lines_kept " +
        "FROM aug a LEFT JOIN reb ON a.doc_id = reb.doc_id ORDER BY doc_id"),
    // Intra-doc line collapse: first occurrence per (doc, line) wins,
    // blank lines always survive, order preserved — the window-min
    // restatement of the engine's array_position-equals-index filter.
    "q_doc_line_collapse" ->
      ("WITH aug AS (SELECT doc_id, text || chr(10) || 'repeated nav menu line' || " +
        "chr(10) || 'repeated nav menu line' || chr(10) || chr(10) || chr(10) || " +
        "'doc ' || CAST(doc_id AS VARCHAR) || ' unique line' || chr(10) || 'repeated nav menu line' AS t FROM documents), " +
        "ls AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS line, " +
        "generate_subscripts(string_split(t, chr(10)), 1) AS pos FROM aug), " +
        "kept AS (SELECT doc_id, line, pos FROM (SELECT doc_id, line, pos, " +
        "min(pos) OVER (PARTITION BY doc_id, line) AS fp FROM ls) " +
        "WHERE trim(line) = '' OR pos = fp), " +
        "reb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS t2, " +
        "count(*) AS nk FROM kept GROUP BY doc_id) " +
        "SELECT doc_id, md5(t2) AS text_fp, CAST(nk AS BIGINT) AS n_lines_kept " +
        "FROM reb ORDER BY doc_id"),
    // Span-dedup ground truth over the same augmented corpus: every
    // 8-token window of the normalized stream is a span (exact strings
    // here vs 64-bit hashes in Spark — the collision argument), total
    // occurrences >= 2 mark all their positions covered, survivors
    // reassemble in order. 1-based list positions throughout; DuckDB
    // slices are inclusive, so [pos:pos+7] is the 8-token window.
    "q_span_dedup" ->
      ("WITH aug AS (SELECT doc_id, text || CASE WHEN doc_id % 3 = 0 " +
        "THEN ' shared sponsor message please subscribe to our newsletter for updates and offers today' ELSE '' END || " +
        "' doc ' || CAST(doc_id AS VARCHAR) || ' unique tail' AS t FROM documents), " +
        "tk AS (SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(t),'[^a-z0-9]+',' ','g')),'\\s+') AS tok FROM aug), " +
        "sp AS (SELECT doc_id, tok, unnest(generate_series(1, len(tok)-7)) AS pos FROM tk WHERE len(tok) >= 8), " +
        "sp2 AS (SELECT doc_id, pos, array_to_string(tok[pos:pos+7], ' ') AS span FROM sp), " +
        "dups AS (SELECT span FROM sp2 GROUP BY span HAVING count(*) >= 2), " +
        "covered AS (SELECT DISTINCT doc_id, tpos FROM (SELECT doc_id, unnest(generate_series(pos, pos+7)) AS tpos " +
        "FROM sp2 WHERE span IN (SELECT span FROM dups))), " +
        "toks AS (SELECT doc_id, unnest(tok) AS tkn, generate_subscripts(tok,1) AS tpos FROM tk), " +
        "kept AS (SELECT t.doc_id, t.tkn, t.tpos FROM toks t LEFT JOIN covered c " +
        "ON c.doc_id = t.doc_id AND c.tpos = t.tpos WHERE c.tpos IS NULL), " +
        "reb AS (SELECT doc_id, string_agg(tkn, ' ' ORDER BY tpos) AS t2, count(*) AS nk FROM kept GROUP BY doc_id) " +
        "SELECT a.doc_id AS doc_id, md5(COALESCE(reb.t2, '')) AS text_fp, " +
        "CAST(COALESCE(reb.nk, 0) AS BIGINT) AS n_tokens_kept " +
        "FROM aug a LEFT JOIN reb ON a.doc_id = reb.doc_id ORDER BY doc_id"),
    // Budget selection ground truth: the quality composite (the proven
    // q_quality_composite formula) + token counts, one global window
    // cumsum — the semantic the distributed prefix sum must reproduce
    // exactly.
    "q_budget_selection" ->
      ("WITH n AS (SELECT doc_id, text, trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')) AS norm FROM documents), " +
        "tk AS (SELECT doc_id, text, norm, regexp_split_to_array(norm,'\\s+') AS tok FROM n), " +
        "c AS (SELECT doc_id, len(tok) AS n_tokens, " +
        "least(len(tok)/100.0, 1.0) AS length_score, " +
        "least((length(regexp_replace(text,'[^A-Za-z]','','g'))*1.0/greatest(length(text),1))/0.7, 1.0) AS alpha_score, " +
        "CASE WHEN (length(replace(norm,' ',''))*1.0/greatest(len(tok),1)) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.3 END AS word_len_score, " +
        "least((len(list_filter(tok, x -> list_contains(['the','and','of','to','in','is','it','you','that','was','for','are','with','this'], x)))*1.0" +
        "/greatest(len(tok),1))/0.2, 1.0) AS stop_score FROM tk), " +
        "q AS (SELECT doc_id, n_tokens, (length_score + alpha_score + word_len_score + stop_score)/4.0 AS quality FROM c), " +
        "sel AS (SELECT doc_id, n_tokens FROM q " +
        "QUALIFY sum(n_tokens) OVER (ORDER BY quality DESC, doc_id) <= 20000) " +
        "SELECT count(*) AS n_selected, CAST(sum(doc_id) AS BIGINT) AS id_checksum, " +
        "CAST(sum(n_tokens) AS BIGINT) AS token_total FROM sel"),
    "q_event_funnel" ->
      ("WITH clicks AS (SELECT event_id AS click_id, user_id, ts AS c_start, " +
        "ts + INTERVAL 10 MINUTE AS c_end FROM events WHERE event_type='click'), " +
        "p AS (SELECT user_id, ts AS p_ts FROM events WHERE event_type='purchase'), " +
        "conv AS (SELECT c.user_id AS user_id, count(DISTINCT c.click_id) AS n_converted " +
        "FROM clicks c JOIN p ON p.user_id = c.user_id AND p.p_ts >= c.c_start AND p.p_ts < c.c_end " +
        "GROUP BY c.user_id), " +
        "cl AS (SELECT user_id, count(*) AS n_clicks FROM clicks GROUP BY user_id) " +
        "SELECT cl.user_id AS user_id, n_clicks, COALESCE(n_converted, 0) AS n_converted " +
        "FROM cl LEFT JOIN conv ON conv.user_id = cl.user_id ORDER BY user_id"),
    "q_tfidf_top_terms" ->
      ("WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+')) AS token FROM documents), " +
        "tf AS (SELECT doc_id, token, count(*) AS tf FROM tok WHERE token <> '' GROUP BY 1,2), " +
        "dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1), " +
        "n AS (SELECT count(*) AS n_docs FROM documents), " +
        "sc AS (SELECT doc_id, tf.token AS token, tf.tf AS tf, dfreq.df AS df, " +
        "round(tf.tf * (ln((n_docs + 1.0)/(dfreq.df + 1.0)) + 1.0), 9) AS tfidf " +
        "FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n WHERE doc_id < 20) " +
        "SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS BIGINT) AS rk " +
        "FROM sc QUALIFY rk <= 3 ORDER BY doc_id, rk"),
    // The salted aggregate must be INVISIBLE in results — the oracle is
    // the plain unsalted GROUP BY with the same decimal discipline.
    "q_skew_salted_agg" ->
      ("SELECT event_type, COUNT(*) AS n_events, " +
        "CAST(CAST(SUM(CAST(value AS DECIMAL(25,10))) AS DECIMAL(18,4)) AS DOUBLE) AS value_sum " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    // The salted join must be invisible: oracle is the plain join.
    "q_skew_salted_join" ->
      ("WITH d AS (SELECT event_type, " +
        "CAST(CAST(SUM(CAST(value AS DECIMAL(25,10))) AS DECIMAL(18,4)) AS DOUBLE) AS type_value_sum " +
        "FROM events GROUP BY event_type) " +
        "SELECT e.event_type AS event_type, count(*) AS n_events, max(d.type_value_sum) AS type_value_sum " +
        "FROM events e JOIN d ON e.event_type = d.event_type " +
        "GROUP BY e.event_type ORDER BY e.event_type"),
    // Composite quality score restated with the exact component formulas
    // and summation order of TextAnalysis.qualityScore.
    "q_quality_composite" ->
      ("WITH n AS (SELECT doc_id, text, trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')) AS norm FROM documents), " +
        "tk AS (SELECT doc_id, text, norm, regexp_split_to_array(norm,'\\s+') AS tok FROM n), " +
        "c AS (SELECT doc_id, " +
        "least(len(tok)/100.0, 1.0) AS length_score, " +
        "least((length(regexp_replace(text,'[^A-Za-z]','','g'))*1.0/greatest(length(text),1))/0.7, 1.0) AS alpha_score, " +
        "CASE WHEN (length(replace(norm,' ',''))*1.0/greatest(len(tok),1)) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.3 END AS word_len_score, " +
        "least((len(list_filter(tok, x -> list_contains(['the','and','of','to','in','is','it','you','that','was','for','are','with','this'], x)))*1.0" +
        "/greatest(len(tok),1))/0.2, 1.0) AS stop_score " +
        "FROM tk) " +
        "SELECT doc_id, (length_score + alpha_score + word_len_score + stop_score)/4.0 AS quality " +
        "FROM c ORDER BY doc_id"),
    "q_retention_cohorts" ->
      ("WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events), " +
        "cohort AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id) " +
        "SELECT cohort_day, day, count(DISTINCT ev.user_id) AS n_active " +
        "FROM ev JOIN cohort ON ev.user_id = cohort.user_id " +
        "GROUP BY cohort_day, day ORDER BY cohort_day, day"),
    // Chunk windows restated: starts = range(0, n, stride) with the
    // no-new-tokens tail filter; slice is 1-based inclusive in DuckDB,
    // matching Spark's slice(arr, s+1, chunkTokens).
    "q_doc_chunks" ->
      ("WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+'), x -> x <> '') AS t FROM documents), " +
        "st AS (SELECT doc_id, t, unnest(list_filter(range(0, len(t), 48), s -> s = 0 OR s + 16 < len(t))) AS s " +
        "FROM tk WHERE len(t) > 0) " +
        "SELECT doc_id, CAST(s // 48 AS BIGINT) AS chunk_idx, " +
        "CAST(len(list_slice(t, s + 1, s + 64)) AS BIGINT) AS n_chunk_tokens, " +
        "md5(array_to_string(list_slice(t, s + 1, s + 64), ' ')) AS chunk_fp " +
        "FROM st ORDER BY doc_id, chunk_idx"),
    // Greedy packing restated as a recursive CTE: chunks (the q_doc_chunks
    // windows) join their doc's hash-split, rank within (split, shard) by
    // (doc_id, chunk_idx), and the recursion advances EVERY group one chunk
    // per iteration carrying (example idx, running tokens) — the exact
    // greedy rule of Packing.assignExamples (boundary only when tok > 0 and
    // tok + n would exceed the budget; an oversized chunk packs alone).
    "q_packed_examples" ->
      ("WITH RECURSIVE tk AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+'), x -> x <> '') AS t FROM documents), " +
        "st AS (SELECT doc_id, t, unnest(list_filter(range(0, len(t), 48), s -> s = 0 OR s + 16 < len(t))) AS s FROM tk WHERE len(t) > 0), " +
        "ch AS (SELECT doc_id, CAST(s // 48 AS BIGINT) AS chunk_idx, CAST(len(list_slice(t, s + 1, s + 64)) AS BIGINT) AS n FROM st), " +
        "sp AS (SELECT doc_id, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,8) < 'e6666666' THEN 'train' " +
        "WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,8) < 'f3333333' THEN 'val' ELSE 'test' END AS split FROM documents), " +
        // MATERIALIZED: without it DuckDB re-inlines this CTE into every
        // recursion step, turning O(maxGroupSize) iterations into repeated
        // full window recomputes (~160 s at sf0.1; instant materialized)
        "ordered AS MATERIALIZED (SELECT sp.split AS split, substr(md5(CAST(ch.doc_id AS VARCHAR)),1,1) AS shard, " +
        "ch.doc_id AS doc_id, ch.chunk_idx AS chunk_idx, ch.n AS n, " +
        "row_number() OVER (PARTITION BY sp.split, substr(md5(CAST(ch.doc_id AS VARCHAR)),1,1) ORDER BY ch.doc_id, ch.chunk_idx) AS rn " +
        "FROM ch JOIN sp ON ch.doc_id = sp.doc_id), " +
        "packed AS (SELECT split, shard, doc_id, chunk_idx, n, rn, CAST(0 AS BIGINT) AS ex, n AS tok FROM ordered WHERE rn = 1 " +
        "UNION ALL SELECT o.split, o.shard, o.doc_id, o.chunk_idx, o.n, o.rn, " +
        "CASE WHEN p.tok > 0 AND p.tok + o.n > 256 THEN p.ex + 1 ELSE p.ex END, " +
        "CASE WHEN p.tok > 0 AND p.tok + o.n > 256 THEN o.n ELSE p.tok + o.n END " +
        "FROM packed p JOIN ordered o ON o.split = p.split AND o.shard = p.shard AND o.rn = p.rn + 1) " +
        // doc_starts ground truth: the exclusive running sum of member
        // token counts in pack order — deterministic from the same
        // recursion (one window over the packed rows)
        ", wst AS (SELECT *, CAST(coalesce(sum(n) OVER (PARTITION BY split, shard, ex " +
        "ORDER BY doc_id, chunk_idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st FROM packed) " +
        "SELECT split || '/' || shard || '/' || CAST(ex AS VARCHAR) AS example_id, split, " +
        "count(*) AS n_chunks, CAST(sum(n) AS BIGINT) AS n_tokens, " +
        "CAST(CAST(sum(n) AS BIGINT) AS DOUBLE) / 256.0 AS fill_ratio, " +
        "string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(chunk_idx AS VARCHAR), ',' ORDER BY doc_id, chunk_idx) AS members, " +
        "string_agg(CAST(st AS VARCHAR), ',' ORDER BY doc_id, chunk_idx) AS doc_starts_str " +
        "FROM wst GROUP BY split, shard, ex ORDER BY example_id"),
    // input_ids ground truth: the replace-chain piece stream (bpePieceCtes)
    // chunked at 64/16, packed at 256 (the q_packed_examples recursion),
    // every piece mapped through the merge-rank/codepoint/marker id
    // arithmetic (bpePidExpr) and concatenated in pack order
    "q_packed_input_ids" ->
      ("WITH RECURSIVE tk0 AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+'), x -> x <> '') AS t FROM documents), " +
        "toks AS (SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos FROM tk0), " +
        bpePieceCtes("toks") +
        "pstream AS MATERIALIZED (SELECT toks.doc_id AS doc_id, flatten(list(ps ORDER BY pos)) AS t " +
        "FROM toks JOIN pieces ON toks.w = pieces.w GROUP BY toks.doc_id), " +
        "st AS (SELECT doc_id, t, unnest(list_filter(range(0, len(t), 48), s -> s = 0 OR s + 16 < len(t))) AS s FROM pstream WHERE len(t) > 0), " +
        "ckp AS MATERIALIZED (SELECT doc_id, CAST(s // 48 AS BIGINT) AS chunk_idx, list_slice(t, s + 1, s + 64) AS ps FROM st), " +
        "ch AS (SELECT doc_id, chunk_idx, CAST(len(ps) AS BIGINT) AS n FROM ckp), " +
        "sp AS (SELECT doc_id, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,8) < 'e6666666' THEN 'train' " +
        "WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,8) < 'f3333333' THEN 'val' ELSE 'test' END AS split FROM documents), " +
        "ordered AS MATERIALIZED (SELECT sp.split AS split, substr(md5(CAST(ch.doc_id AS VARCHAR)),1,1) AS shard, " +
        "ch.doc_id AS doc_id, ch.chunk_idx AS chunk_idx, ch.n AS n, " +
        "row_number() OVER (PARTITION BY sp.split, substr(md5(CAST(ch.doc_id AS VARCHAR)),1,1) ORDER BY ch.doc_id, ch.chunk_idx) AS rn " +
        "FROM ch JOIN sp ON ch.doc_id = sp.doc_id), " +
        "packed AS (SELECT split, shard, doc_id, chunk_idx, n, rn, CAST(0 AS BIGINT) AS ex, n AS tok FROM ordered WHERE rn = 1 " +
        "UNION ALL SELECT o.split, o.shard, o.doc_id, o.chunk_idx, o.n, o.rn, " +
        "CASE WHEN p.tok > 0 AND p.tok + o.n > 256 THEN p.ex + 1 ELSE p.ex END, " +
        "CASE WHEN p.tok > 0 AND p.tok + o.n > 256 THEN o.n ELSE p.tok + o.n END " +
        "FROM packed p JOIN ordered o ON o.split = p.split AND o.shard = p.shard AND o.rn = p.rn + 1), " +
        bpeIdmCte + ", " +
        "pcs AS (SELECT doc_id, chunk_idx, unnest(ps) AS p, generate_subscripts(ps, 1) AS i FROM ckp), " +
        s"pid AS (SELECT doc_id, chunk_idx, i, ${bpePidExpr("p")} AS pid FROM pcs ${bpeIdmJoin("p")}), " +
        "cids AS (SELECT doc_id, chunk_idx, string_agg(CAST(pid AS VARCHAR), ',' ORDER BY i) AS ids FROM pid GROUP BY 1, 2) " +
        "SELECT p.split || '/' || p.shard || '/' || CAST(p.ex AS VARCHAR) AS example_id, p.split AS split, " +
        "count(*) AS n_chunks, CAST(sum(p.n) AS BIGINT) AS n_tokens, " +
        "string_agg(c.ids, ',' ORDER BY p.doc_id, p.chunk_idx) AS input_ids_str " +
        "FROM packed p JOIN cids c ON p.doc_id = c.doc_id AND p.chunk_idx = c.chunk_idx " +
        "GROUP BY p.split, p.shard, p.ex ORDER BY example_id"),
    "q_unigram_logprob" ->
      ("WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+')) AS token FROM documents), " +
        "tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''), " +
        "vocab AS (SELECT token, count(*) AS tf FROM tok2 GROUP BY 1), " +
        "n AS (SELECT count(*) AS n_total FROM tok2), " +
        "pt AS (SELECT doc_id, CAST(ln(tf * 1.0 / n_total) AS DECIMAL(25,9)) AS lp " +
        "FROM tok2 JOIN vocab ON tok2.token = vocab.token CROSS JOIN n) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, " +
        "CAST(sum(lp) AS DOUBLE) AS logprob " +
        "FROM pt GROUP BY doc_id ORDER BY doc_id"),
    // Bigram LM ground truth: the proven q_repetition_stats bigram
    // restatement (filtered tokens, list_transform windows) + the
    // unigram-logprob decimal discipline.
    "q_bigram_logprob" ->
      ("WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+'), x -> x <> '') AS t FROM documents), " +
        "tok AS (SELECT doc_id, unnest(t) AS token FROM tk), " +
        "uc AS (SELECT token, count(*) AS uc FROM tok GROUP BY 1), " +
        "v AS (SELECT count(*) AS v FROM uc), " +
        "bgs AS (SELECT doc_id, unnest(CASE WHEN len(t) < 2 THEN [] ELSE " +
        "list_transform(range(1, len(t)), i -> t[i]||' '||t[i+1]) END) AS bg FROM tk), " +
        "bc AS (SELECT bg, count(*) AS bc FROM bgs GROUP BY 1), " +
        "per AS (SELECT g.doc_id AS doc_id, CAST(ln((bc.bc + 1.0)/(uc.uc + v.v)) AS DECIMAL(25,9)) AS lp " +
        "FROM bgs g JOIN bc ON g.bg = bc.bg JOIN uc ON split_part(g.bg, ' ', 1) = uc.token CROSS JOIN v) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, " +
        "CAST(sum(lp) AS DOUBLE) AS logprob " +
        "FROM per GROUP BY doc_id ORDER BY doc_id"),
    "q_hash_split" ->
      ("SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,8) < 'e6666666' THEN 'train' " +
        "WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,8) < 'f3333333' THEN 'val' " +
        "ELSE 'test' END AS split, count(*) AS n " +
        "FROM documents GROUP BY split ORDER BY split"),
    // token-exact membership: a doc drops iff its normalized token LIST
    // intersects the blocklist — never a substring hit
    "q_blocklist_filter" ->
      ("WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+') AS t FROM documents), " +
        "kept AS (SELECT doc_id FROM tk WHERE len(list_intersect(t, ['dup','contraband'])) = 0) " +
        "SELECT (SELECT count(*) FROM documents) AS n_docs, count(*) AS n_kept, " +
        "CAST(sum(doc_id) AS BIGINT) AS id_checksum FROM kept"),
    // phrase gate: one list_intersect per phrase length over the proven
    // n-gram window restatements (filtered tokens, list_transform)
    "q_phrase_blocklist" ->
      ("WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+'), x -> x <> '') AS t FROM documents), " +
        "gr AS (SELECT doc_id, t, " +
        "CASE WHEN len(t) < 2 THEN [] ELSE list_transform(range(1, len(t)), i -> t[i]||' '||t[i+1]) END AS g2, " +
        "CASE WHEN len(t) < 3 THEN [] ELSE list_transform(range(1, len(t)-1), i -> t[i]||' '||t[i+1]||' '||t[i+2]) END AS g3 FROM tk), " +
        "kept AS (SELECT doc_id FROM gr WHERE len(list_intersect(t, ['contraband'])) = 0 " +
        "AND len(list_intersect(g2, ['table hash'])) = 0 " +
        "AND len(list_intersect(g3, ['slow hash batch'])) = 0) " +
        "SELECT (SELECT count(*) FROM documents) AS n_docs, count(*) AS n_kept, " +
        "CAST(sum(doc_id) AS BIGINT) AS id_checksum FROM kept"),
    // rate derivation re-run in SQL with the q_temperature_resample
    // float discipline: same op order (c*w/toks), round(x,4) ≡
    // roundRate4 for positives, thresholdHex restated as hex()
    "q_token_mix" ->
      ("WITH shares(s, w) AS (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)), " +
        "hist AS (SELECT source AS s, CAST(sum(n_chars) AS BIGINT) AS toks " +
        "FROM documents WHERE source IN (SELECT s FROM shares) GROUP BY source), " +
        "c AS (SELECT min(toks / w) AS c FROM hist JOIN shares USING (s)), " +
        "rates AS (SELECT s, round(least(1.0, c * w / toks), 4) AS r " +
        "FROM hist JOIN shares USING (s) CROSS JOIN c), " +
        "th AS (SELECT s, CASE WHEN r >= 1.0 THEN 'g' ELSE " +
        "lpad(lower(hex(CAST(least(round(r * 4294967296.0), 4294967295) AS BIGINT))),8,'0') END AS th FROM rates) " +
        "SELECT d.source AS source, count(*) AS n_sampled, " +
        "CAST(sum(d.n_chars) AS BIGINT) AS tok_sum, " +
        "CAST(sum(d.doc_id) AS BIGINT) AS id_checksum " +
        "FROM documents d JOIN th ON d.source = th.s " +
        "WHERE substr(md5(CAST(d.doc_id AS VARCHAR)),1,8) < th.th " +
        "GROUP BY d.source ORDER BY d.source"),
    // shard CASE generated from the SAME thresholdHex table the Spark
    // side compiles to — boundaries cannot drift between engines
    "q_shard_shuffle" -> {
      val cases = (1 until 8).map(i =>
        s"WHEN substr(hk,1,8) < '${graft.operators.Sampling.thresholdHex(i / 8.0)}' THEN ${i - 1}")
        .mkString(" ")
      "WITH h AS (SELECT doc_id, md5('e0:' || CAST(doc_id AS VARCHAR)) AS hk FROM documents), " +
        s"s AS (SELECT doc_id, hk, CASE $cases ELSE 7 END AS shard FROM h), " +
        "p AS (SELECT shard, doc_id, row_number() OVER (PARTITION BY shard ORDER BY hk, doc_id) AS pos FROM s) " +
        "SELECT shard, count(*) AS n_docs, CAST(sum(pos*doc_id) AS BIGINT) AS order_checksum " +
        "FROM p GROUP BY shard ORDER BY shard"
    },
    // '' filter: DuckDB's split of a fully-stripped text yields [''];
    // the Spark tokenizer yields no tokens at all.
    "q_top_tokens" ->
      ("WITH tok AS (SELECT unnest(regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+')) AS token FROM documents) " +
        "SELECT token, count(*) AS n FROM tok WHERE token <> '' " +
        "GROUP BY token ORDER BY n DESC, token LIMIT 20"),
    // Same heuristic as TextAnalysis.langId: per-language stopword votes
    // (multiplicity-aware), argmax encoded as a zero-padded sortable
    // string so greatest() applies (score first, then language code —
    // matching Spark's array_max struct ordering), CJK gate, und fallback.
    // GENERATED from LangProfiles (samples fixture + vote + script
    // rules — the same source the kernel compiles from)
    "q_lang_id" -> {
      val lp = graft.functions.LangProfiles
      val whens = lp.sampleCodes.zipWithIndex.map { case (code, k) =>
        s"WHEN doc_id % 30 = $k THEN '${lp.samples(code)}'"
      }.mkString(" ")
      s"WITH aug AS (SELECT doc_id, CASE $whens ELSE text END AS text FROM documents), " +
        // the vote reads the script-aware token array (the kernel's
        // round-14 tokenizer) — diacritic Latin samples vote on true words
        s"tk AS (SELECT doc_id, text, ${graft.functions.Tok.Ml.sqlTokens("text")} AS tok FROM aug), " +
        s"sc AS (SELECT text, ${langVoteGreatestSql("tok")} AS b FROM tk), " +
        "pred AS (SELECT CASE " + langScriptWhensSql("text") +
        " WHEN CAST(substr(b,1,8) AS INT) > 0 THEN substr(b,9,2) ELSE 'und' END AS lang_pred FROM sc) " +
        "SELECT lang_pred, count(*) AS n_docs FROM pred GROUP BY lang_pred ORDER BY lang_pred"
    },
    "q_ann_top1" ->
      ("SELECT a.vec_id AS q_id, " +
        "(SELECT b.vec_id FROM embeddings b WHERE b.vec_id <> a.vec_id " +
        "ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id LIMIT 1) AS nn_id " +
        "FROM embeddings a WHERE a.vec_id < 20 ORDER BY q_id"),
    "q_jl_projection" -> {
      // the SAME matrix generator's nonzero cells as literals (w's j is
      // 0-based, so the weighted checksum uses j + 1 — exactly the
      // engine's sequence(1, 16) weights); quantization restated as
      // floor(x·1024 + 0.5) on the exactly-scaled double
      val m = graft.operators.Similarity.randomProjectionMatrix(64, 16)
      val cells = (for {
        j <- 0 until 16; d <- 0 until 64
        w = m(j * 64 + d) if w != 0
      } yield s"($d, $j, $w)").mkString(", ")
      s"WITH w(d0, j, wt) AS (VALUES $cells), " +
        "ev AS (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS d FROM embeddings), " +
        "q AS (SELECT vec_id, d - 1 AS d0, CAST(floor(CAST(x AS DOUBLE) * 1024 + 0.5) AS BIGINT) AS qv FROM ev), " +
        "pr AS (SELECT q.vec_id AS vec_id, w.j AS j, CAST(sum(qv * wt) AS BIGINT) AS o " +
        "FROM q JOIN w ON q.d0 = w.d0 GROUP BY q.vec_id, w.j) " +
        "SELECT vec_id, CAST(sum(o) AS BIGINT) AS proj_sum, " +
        "CAST(sum((j + 1) * o) AS BIGINT) AS proj_weighted " +
        "FROM pr GROUP BY vec_id ORDER BY vec_id"
    },
    // hard negatives: exact cosine ranking with the query and its two
    // planted positives (q+1, q+2) excluded BEFORE the rank
    "q_hard_negatives" -> hardNegativesOracle,
    // the full-probe IVF form is result-identical to the brute-force
    // form by construction (every list probed ⇒ complete candidate set;
    // SimilaritySpec pins the equality) — same ground truth
    "q_hard_negatives_ivf" -> hardNegativesOracle,
    // same train → encode (round-clamp to [0,255]) → decode chain as
    // Similarity.sq8Train/sq8Codes/sq8Decode; zipped unnest derives the
    // per-dimension range, the probe stays full precision
    "q_ann_sq8_top1" ->
      ("WITH s0 AS (SELECT unnest(embedding) AS x, " +
        "unnest(range(1, len(embedding)+1)) AS dim FROM embeddings), " +
        "s AS (SELECT dim, min(CAST(x AS DOUBLE)) AS lo, max(CAST(x AS DOUBLE)) AS hi " +
        "FROM s0 GROUP BY dim), " +
        "slist AS (SELECT list(lo ORDER BY dim) AS los, list(hi ORDER BY dim) AS his FROM s), " +
        "dec AS (SELECT vec_id, list_transform(range(1, len(embedding)+1), i -> " +
        "CASE WHEN his[i] = los[i] THEN los[i] " +
        "ELSE los[i] + CAST(least(greatest(round((CAST(embedding[i] AS DOUBLE)-los[i])" +
        "/(his[i]-los[i])*255),0),255) AS BIGINT)/255.0*(his[i]-los[i]) END) AS dvec " +
        "FROM embeddings, slist), " +
        "p AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS pvec " +
        "FROM embeddings WHERE vec_id < 20) " +
        "SELECT p.vec_id AS q_id, " +
        "(SELECT d.vec_id FROM dec d WHERE d.vec_id <> p.vec_id " +
        "ORDER BY list_cosine_similarity(p.pvec, d.dvec) DESC, d.vec_id LIMIT 1) AS nn_id " +
        "FROM p ORDER BY q_id"),
    // frozen-artifact ANN family: SQL generated from the SAME FrozenAnn
    // literals the Spark queries probe (AnnOracles — no-drift pattern)
    "q_semantic_dedup" -> AnnOracles.semanticDedup(threshold = 0.9),
    "q_quality_model_score" -> QmOracle.qualityModelScore,
    "q_ngram_lm_score" -> NgramLmOracle.ngramLmScore,
    "q_ngram_lm_score_ml" -> NgramLmOracle.ngramLmScoreMl(
      graft.operators.MlFixture.sqlValues,
      graft.functions.Tok.Ml.sqlTokens("text")),
    "q_ppl_buckets" -> NgramLmOracle.pplBuckets(
      graft.operators.Sampling.thresholdHex(0.2)),
    "q_bucket_mix" -> NgramLmOracle.bucketMix(
      graft.operators.Sampling.thresholdHex(0.2)),
    // DSIR selection family: SQL generated from the SAME FrozenDsir
    // literals the Spark queries fold (DsirOracle — no-drift pattern)
    "q_dsir_logweight" -> DsirOracle.dsirLogWeight,
    "q_dsir_resample" -> DsirOracle.dsirResample(k = 50, salt = graft.operators.Dsir.DefaultSalt),
    // BM25: stats + score restated in SQL from the same term list and
    // constants (Retrieval.bm25OracleSql — no-drift pattern)
    "q_bm25_topk" -> graft.operators.Retrieval.bm25OracleSql(
      Seq("hash", "join", "spark"), k = 20),
    "q_ann_pq_top1" -> AnnOracles.pqTop1,
    "q_ann_ivf_top1" -> AnnOracles.ivfTop1,
    "q_ann_ivfpq_top1" -> AnnOracles.ivfPqTop1,
    // the indexed probe is result-identical to the in-line build by
    // construction (parquet round-trip pinned in SimilaritySpec), so the
    // same frozen-artifact oracle serves both registrations
    "q_ann_ivfpq_indexed" -> AnnOracles.ivfPqTop1,
    "q_hard_negatives_ivfpq_indexed" -> AnnOracles.ivfPqHardNegatives(3),
    "q_ann_lsh_top1" -> AnnOracles.lshTop1,
    "q_text_stats" ->
      ("WITH n AS (SELECT doc_id, text, trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')) AS norm FROM documents), " +
        "tk AS (SELECT doc_id, text, norm, regexp_split_to_array(norm,'\\s+') AS tok FROM n) " +
        "SELECT doc_id, CAST(len(tok) AS BIGINT) AS n_tokens, " +
        "CAST(len(regexp_extract_all(text, '[\\p{L}]+|[\\p{N}]+|[^\\s\\p{L}\\p{N}]')) AS BIGINT) AS n_pieces, " +
        "len(list_filter(tok, x -> list_contains(['the','and','of','to','in','is','it','you','that','was','for','are','with','this'], x)))*1.0" +
        "/greatest(len(tok),1) AS stop_ratio, " +
        "length(replace(norm,' ',''))*1.0/greatest(len(tok),1) AS mean_token_len " +
        "FROM tk ORDER BY doc_id"),
    "q_multimodal_features" ->
      ("SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes " +
        "FROM documents ORDER BY doc_id"),
    "q_percentiles" ->
      ("SELECT o_orderstatus, quantile_cont(o_totalprice, 0.25) AS p25, " +
        "quantile_cont(o_totalprice, 0.5) AS p50, " +
        "quantile_cont(o_totalprice, 0.75) AS p75, " +
        "quantile_cont(o_totalprice, 0.9) AS p90 " +
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    // DuckDB's native ASOF LEFT JOIN is the independent re-statement of the
    // union+window as-of (latest purchase at-or-before each click).
    "q_asof_join" ->
      ("WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type='click'), " +
        "purch AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts FROM events WHERE event_type='purchase') " +
        "SELECT event_id, clicks.user_id AS user_id, purchase_id FROM clicks ASOF LEFT JOIN purch " +
        "ON clicks.user_id = purch.user_id AND purch.p_ts <= clicks.ts ORDER BY event_id"),
    "q_range_join" ->
      ("WITH s AS (SELECT event_id AS window_id, ts AS w_start, ts + INTERVAL 5 MINUTE AS w_end FROM events WHERE event_type='signup'), " +
        "e AS (SELECT ts FROM events WHERE event_type='error') " +
        "SELECT window_id, count(e.ts) AS n_errors FROM s LEFT JOIN e " +
        "ON e.ts >= s.w_start AND e.ts < s.w_end GROUP BY window_id ORDER BY window_id"),
    "q_merge_upsert" ->
      ("SELECT count(*) AS n_rows, " +
        "CAST(CAST(SUM(CAST(CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 1.1 ELSE o_totalprice END AS DECIMAL(25,10))) AS DECIMAL(18,4)) AS DOUBLE) AS total " +
        "FROM orders"),
    // '' filter: DuckDB's split of empty/punctuation-only text yields ['']
    // (n_tokens 1) where Spark's normTokens yields no tokens — guard so the
    // oracle stays robust to degenerate docs, not just this fixture.
    "q_repetition_stats" ->
      ("WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+'), x -> x <> '') AS t FROM documents), " +
        "base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_tokens, " +
        "CASE WHEN len(t) < 2 THEN [] ELSE list_transform(range(1, len(t)), i -> t[i]||' '||t[i+1]) END AS bg FROM tk), " +
        "bc AS (SELECT doc_id, unnest(bg) AS bigram FROM base), " +
        "cnt AS (SELECT doc_id, bigram, count(*) AS c FROM bc GROUP BY 1,2), " +
        "agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, CAST(max(c) AS BIGINT) AS max_bigram_count FROM cnt GROUP BY 1) " +
        "SELECT base.doc_id AS doc_id, n_tokens, n_distinct_tokens, COALESCE(n_bigrams, 0) AS n_bigrams, " +
        "COALESCE(max_bigram_count, 0) AS max_bigram_count " +
        "FROM base LEFT JOIN agg ON base.doc_id = agg.doc_id ORDER BY base.doc_id"),
    "q_doc_top_terms" ->
      ("WITH tk AS (SELECT doc_id, unnest(regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+')) AS token FROM documents WHERE doc_id < 20), " +
        "tf AS (SELECT doc_id, token, count(*) AS tf FROM tk WHERE token <> '' GROUP BY 1,2) " +
        "SELECT doc_id, token, tf, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tf DESC, token) AS BIGINT) AS rk " +
        "FROM tf QUALIFY rk <= 3 ORDER BY doc_id, rk"),
    // Built from TextAnalysis.piiClasses — the oracle's patterns and
    // consumption order can never drift from the engine's.
    "q_pii_redaction" -> {
      val classes = graft.functions.TextAnalysis.piiClasses
      def redactedSql(upTo: Int): String =
        classes.take(upTo).foldLeft("t") { case (acc, (re, tag)) =>
          s"regexp_replace($acc, '$re', '$tag', 'g')"
        }
      val counts = classes.indices.map { i =>
        s"len(regexp_extract_all(${redactedSql(i)}, '${classes(i)._1}'))"
      }.mkString(" + ")
      "WITH aug AS (SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@example.com or +1-555-000-' || lpad(CAST(doc_id AS VARCHAR),4,'0') || " +
        "' visit https://example.com/u/' || CAST(doc_id AS VARCHAR) || " +
        "' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR) || " +
        "' ssn ' || lpad(CAST(doc_id % 1000 AS VARCHAR),3,'0') || '-' || " +
        "lpad(CAST(doc_id % 100 AS VARCHAR),2,'0') || '-' || lpad(CAST(doc_id AS VARCHAR),4,'0') AS t " +
        "FROM documents) " +
        s"SELECT doc_id, md5(${redactedSql(classes.length)}) AS redacted_fp, " +
        s"CAST($counts AS BIGINT) AS n_pii " +
        "FROM aug ORDER BY doc_id"
    },
    "q_html_strip" -> {
      val cleaned = s"trim(regexp_replace(${htmlStripSql("t")}, '\\s+', ' ', 'g'))"
      "WITH aug AS (SELECT doc_id, '<!DOCTYPE html><html><head><title>doc ' || " +
        "CAST(doc_id AS VARCHAR) || " +
        "'</title><style type=\"text/css\">body { color: #fff; }</style>' || " +
        "'<script>var x = 1 < 2 && 2 > 1; /* <p>not a tag</p> */</script></head><body>' || " +
        "CASE WHEN doc_id % 3 = 0 THEN '<!-- tracked <b>id</b> -->' ELSE '' END || " +
        "'<p class=\"main\" id=\"p' || CAST(doc_id AS VARCHAR) || '\">' || text || " +
        "'</p><br/><div>&amp;copy; footer &lt;tag&gt;&nbsp;&#39;quoted&#39; " +
        "&quot;q&quot;</div></body></html>' AS t FROM documents) " +
        s"SELECT doc_id, md5($cleaned) AS clean_fp, " +
        s"CAST(length($cleaned) AS BIGINT) AS clean_len FROM aug ORDER BY doc_id"
    },
    "q_approx_percentile" ->
      ("SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS p50, " +
        "TRUE AS p50_ok, TRUE AS p90_ok " +
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "q_bpe_token_counts" -> {
      // serving restated as a FIXED replace chain over the frozen merge
      // table ([[bpePieceCtes]]); distinct words encode once
      "WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+'), x -> x <> '') AS t FROM documents), " +
        "toks AS (SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos FROM tk), " +
        bpePieceCtes("toks") +
        "perdoc AS (SELECT toks.doc_id AS doc_id, count(*) AS n_toks, " +
        "CAST(sum(len(ps)) AS BIGINT) AS n_pieces, " +
        "string_agg(array_to_string(ps, ' '), ' ' ORDER BY pos) AS stream " +
        "FROM toks JOIN pieces ON toks.w = pieces.w GROUP BY toks.doc_id) " +
        "SELECT d.doc_id AS doc_id, CAST(COALESCE(p.n_toks, 0) AS BIGINT) AS n_tokens, " +
        "COALESCE(p.n_pieces, 0) AS n_pieces, md5(COALESCE(p.stream, '')) AS pieces_fp " +
        "FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id ORDER BY doc_id"
    },
    // Round-trip theorem stated directly: encode → ids → decode must
    // reproduce DuckDB's own independent normalization of the text —
    // the engine's whole piece/id pipeline cancels out exactly.
    "q_bpe_roundtrip" ->
      ("SELECT doc_id, md5(array_to_string(tok, ' ')) AS decoded_fp, " +
        "CAST(len(tok) AS BIGINT) AS n_words FROM " +
        "(SELECT doc_id, list_filter(regexp_split_to_array(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),'\\s+'), x -> x <> '') AS tok " +
        "FROM documents) ORDER BY doc_id"),
    "q_image_near_dups" -> {
      // dHash → chunk-band → Hamming restated from the FROZEN 9×8 luma
      // grids (the oracle cannot decode PNG; live decode ≡ frozen is
      // MultimodalSpec's assert). Band boundaries generated from the
      // SAME hammingChunkLayout the engine bands with — no drift.
      val rows = graft.operators.FrozenImageGrids.grids
        .map { case (id, g) => s"($id, ${g.mkString("[", ",", "]")})" }
        .mkString(", ")
      val (_, offsets) = graft.operators.Dedup.hammingChunkLayout(64, 6)
      val chunkCase = "CASE " + (1 to 6).map(j =>
        s"WHEN b < ${offsets(j)} THEN ${j - 1}").mkString(" ") + " ELSE 6 END"
      val layRows = (0 to 6).map(j => s"($j, ${offsets(j)})").mkString(", ")
      s"WITH gr(media_id, g) AS (VALUES $rows), " +
        "bb AS (SELECT unnest(range(0, 64)) AS b), " +
        // bit b = row*8+col set iff cell (row, col) > its right neighbor;
        // grid is row-major 9-wide, DuckDB lists are 1-based
        "bt AS (SELECT media_id, b, CASE WHEN g[(b//8)*9 + (b%8) + 1] > g[(b//8)*9 + (b%8) + 2] THEN 1 ELSE 0 END AS bit FROM gr, bb), " +
        s"lay(ck, lo) AS (VALUES $layRows), " +
        s"ch AS (SELECT media_id, $chunkCase AS ck, b, bit FROM bt), " +
        "bd AS (SELECT media_id, ck, CAST(sum(bit * (CAST(1 AS BIGINT) << (b - lo))) AS BIGINT) AS key " +
        "FROM ch JOIN lay USING (ck) GROUP BY media_id, ck), " +
        "cand AS (SELECT DISTINCT a.media_id AS id_a, b2.media_id AS id_b " +
        "FROM bd a JOIN bd b2 ON a.ck = b2.ck AND a.key = b2.key AND a.media_id < b2.media_id), " +
        "hm AS (SELECT c.id_a, c.id_b, " +
        "(SELECT count(*) FROM bt x JOIN bt y ON x.b = y.b " +
        "WHERE x.media_id = c.id_a AND y.media_id = c.id_b AND x.bit <> y.bit) AS hamming FROM cand c) " +
        "SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, " +
        "CAST(hamming AS BIGINT) AS hamming FROM hm WHERE hamming <= 6 ORDER BY id_a, id_b"
    },
    "q_image_near_dups_128" -> (
      "WITH " + imageHamming128Ctes("", 6) +
        " SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, " +
        "CAST(hamming AS BIGINT) AS hamming FROM hm WHERE hamming <= 6 ORDER BY id_a, id_b"),
    "q_audio_near_dups" -> (
      // envelope-delta hash → chunk-band → Hamming restated from the
      // ANALYTIC envelope (audioHammingCtes — shared with the composed
      // pipeline oracle; live PCM decode ≡ analytic is MultimodalSpec's
      // assert). Band boundaries from the engine's own chunk layout.
      "WITH " + audioHammingCtes("", 4) +
        " SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, " +
        "CAST(hamming AS BIGINT) AS hamming FROM hm WHERE hamming <= 4 ORDER BY id_a, id_b"),
    "q_video_near_dups" -> (
      // per-frame dHash bits from the ANALYTIC pixel grids (fixture
      // frames ARE the 9×8 dHash grid), brute-force aligned-frame
      // Hamming (≡ the engine's complete-recall banding within the
      // bound), matched-frame gate at ceil(0.6 · 3) = 2
      "WITH " + videoMatchCtes("") +
        " SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, " +
        "CAST(n_matched AS BIGINT) AS n_matched FROM vm WHERE n_matched >= 2 ORDER BY id_a, id_b"),
    "q_video_near_dups_set" -> videoSetMatchOracle,
    "q_audio_ulaw_near_dups" -> (
      // the analytic envelope runs THROUGH the engine's µ-law table
      // (audioUlawHammingCtes inlines 64·ulawToLinear(planted field)),
      // so the G.711 expansion itself is oracle-pinned
      "WITH " + audioUlawHammingCtes("", 4) +
        " SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, " +
        "CAST(hamming AS BIGINT) AS hamming FROM hm WHERE hamming <= 4 ORDER BY id_a, id_b"),
    "q_gopher_quality" -> {
      // every rule generated by gopherRuleSqls — the SAME generator the
      // corpus-pipeline oracle composes, fed by the engine's own
      // stopword map (no drift anywhere)
      val rules = gopherRuleSqls("t", "tok", "norm")
      val names = Seq("word_count_ok", "mean_word_len_ok", "symbol_ratio_ok",
        "bullet_ratio_ok", "ellipsis_ratio_ok", "alpha_word_ratio_ok",
        "stopword_ok")
      val flagCols = rules.zip(names).map { case (r, n) => s"$r AS $n" }
      val pass = rules.map(r => s"($r)").mkString(" AND ")
      "WITH aug AS (SELECT doc_id, text || " +
        "CASE WHEN doc_id % 17 = 0 THEN repeat(chr(10) || '- bullet item', 30) ELSE '' END || " +
        "CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'to be continued...' || chr(10) || 'and more...' ELSE '' END || " +
        "CASE WHEN doc_id % 11 = 0 THEN ' ## ### #' ELSE '' END || " +
        "CASE WHEN doc_id % 3 = 0 THEN ' it was the best of days and this is that for you with more time' ELSE '' END AS t FROM documents), " +
        "n AS (SELECT doc_id, t, " +
        "trim(regexp_replace(lower(t),'[^a-z0-9]+',' ','g')) AS norm FROM aug), " +
        "k AS (SELECT doc_id, t, norm, " +
        "regexp_split_to_array(norm,'\\s+') AS tok FROM n) " +
        s"SELECT doc_id, ${flagCols.mkString(", ")}, $pass AS pass " +
        "FROM k ORDER BY doc_id"
    },
    "q_unicode_normalize" -> {
      // repairs + control class generated from UnicodeNorm's own tables;
      // NFC is DuckDB's nfc_normalize vs the native kernel — the one
      // genuinely independent reimplementation in this oracle
      val repl = graft.functions.UnicodeNorm.mojibakeRepairs
        .foldLeft("t") { case (acc, (bad, good)) =>
          s"replace($acc, '$bad', '$good')"
        }
      val ctrl = graft.functions.UnicodeNorm.controlClass
      val norm =
        s"replace(regexp_replace(nfc_normalize($repl), '$ctrl', '', 'g'), chr(160), ' ')"
      "WITH aug AS (SELECT doc_id, text || " +
        "' Cafe' || chr(769) || ' nai' || chr(776) || 've touche' || chr(769) || " +
        s"CASE WHEN doc_id % 3 = 0 THEN '$mojibakeFixture' ELSE '' END || " +
        "CASE WHEN doc_id % 4 = 0 THEN ' bad' || chr(7) || 'control' || chr(1) || 'chars' ELSE '' END || " +
        "CASE WHEN doc_id % 5 = 0 THEN ' non' || chr(160) || 'breaking' || chr(160) || 'space' ELSE '' END " +
        "AS t FROM documents) " +
        s"SELECT doc_id, md5($norm) AS norm_fp, " +
        s"CAST(length($norm) AS BIGINT) AS norm_len FROM aug ORDER BY doc_id"
    },
    "q_url_dedup" -> {
      s"WITH aug AS (SELECT doc_id, $urlVariantSql AS url FROM documents), " +
        urlCanonCtes("aug") + ", " +
        "keep AS (SELECT min(doc_id) AS doc_id FROM canon GROUP BY curl) " +
        "SELECT c.doc_id, c.curl AS canon_url FROM canon c " +
        "JOIN keep k ON c.doc_id = k.doc_id ORDER BY c.doc_id"
    },
    "q_corpus_pipeline_url" -> corpusPipelineUrlOracle,
    "q_corpus_pipeline_c4" -> corpusPipelineC4Oracle,
    "q_corpus_pipeline_c4_lines" -> corpusPipelineC4LinesOracle,
    "q_corpus_pipeline_model" -> corpusPipelineModelOracle,
    "q_corpus_pipeline_ppl" -> corpusPipelinePplOracle,
    "q_corpus_pipeline_mix" -> corpusPipelineMixOracle,
    "q_corpus_pipeline_bpe" -> corpusPipelineBpeOracle,
    "q_corpus_pipeline_image" -> corpusPipelineImageOracle,
    "q_corpus_pipeline_audio" -> corpusPipelineAudioOracle,
    "q_corpus_pipeline_video" -> corpusPipelineVideoOracle,
    "q_corpus_pipeline_ml" -> corpusPipelineMlOracle,
    "q_corpus_pipeline_full" -> corpusPipelineFullOracle,
    "q_corpus_pipeline_media_decon" -> corpusPipelineMediaDeconOracle,
    "q_corpus_pipeline_semantic_jl" -> corpusPipelineSemanticJlOracle,
    "q_media_dedup_incremental" -> {
      // existing = the 60 fixture envelopes; incoming = 30 fresh ids:
      // even ordinals carry EXACT 4/5-scaled copies of corpus bases
      // (envelope · 4/5, exact — identical fingerprint), odd ordinals
      // are unrelated analytic clips. One-sided probe (pairs must touch
      // an incoming id), recursive-CTE CC, text-incremental taint
      // semantics (clusters touching the corpus drop all incoming
      // members; pure-incoming clusters keep min id).
      val exRows = (0 until graft.operators.AudioFixture.NumClips).map { id =>
        s"($id, ${analyticEnvelope(id.toLong).mkString("[", ",", "]")})"
      }
      val inRows = (0 until 30).map { j =>
        val env =
          if (j % 2 == 0) analyticEnvelope(3L * (j / 2)).map(_ * 4 / 5)
          else analyticEnvelope(1000L + j)
        s"(${1000 + j}, ${env.mkString("[", ",", "]")})"
      }
      "WITH RECURSIVE " +
        audioHammingCtesFromRows("", 4, (exRows ++ inRows).mkString(", ")) + ", " +
        "p2 AS (SELECT id_a, id_b FROM hm WHERE hamming <= 4 AND id_b >= 1000), " +
        "e AS (SELECT id_a AS src, id_b AS dst FROM p2 UNION ALL SELECT id_b, id_a FROM p2), " +
        "r AS (SELECT src AS id, src AS label FROM e UNION SELECT e.dst AS id, r.label FROM r JOIN e ON e.src = r.id), " +
        "lab AS (SELECT id, min(label) AS label FROM r GROUP BY id), " +
        "tainted AS (SELECT DISTINCT label FROM lab WHERE id < 1000), " +
        "losers AS (SELECT id FROM lab WHERE id >= 1000 AND " +
        "(label IN (SELECT label FROM tainted) OR id <> label)), " +
        "inc AS (SELECT unnest(range(1000, 1030)) AS id), " +
        "kept AS (SELECT id FROM inc WHERE id NOT IN (SELECT id FROM losers)) " +
        "SELECT (SELECT count(*) FROM inc) AS n_incoming, count(*) AS n_kept, " +
        "CAST(sum(id) AS BIGINT) AS id_checksum FROM kept"
    },
    "q_video_dedup_incremental" -> {
      // existing = the 45 fixture clips' analytic frame grids; incoming
      // = 20 fresh ids: even ordinals are byte-identical re-containers
      // of corpus bases (every aligned frame hamming 0 -> matched gate
      // trivially met -> tainted), odd ordinals are unrelated analytic
      // clips. One-sided matched pairs, recursive-CTE CC, the
      // text-incremental taint semantics.
      val inRows = (0 until 20).flatMap { j =>
        val src = if (j % 2 == 0) 3L * (j / 2) else 5000L + j
        Seq(0, 2, 4).map(f => s"(${1000 + j}, $f, " +
          s"${graft.operators.VideoFixture.frameGrid(src, f).mkString("[", ",", "]")})")
      }
      "WITH RECURSIVE " +
        videoMatchCtesFromRows("", (videoFixtureRows ++ inRows).mkString(", ")) + ", " +
        "p2 AS (SELECT id_a, id_b FROM vm WHERE n_matched >= 2 AND id_b >= 1000), " +
        "e AS (SELECT id_a AS src, id_b AS dst FROM p2 UNION ALL SELECT id_b, id_a FROM p2), " +
        "r AS (SELECT src AS id, src AS label FROM e UNION SELECT e.dst AS id, r.label FROM r JOIN e ON e.src = r.id), " +
        "lab AS (SELECT id, min(label) AS label FROM r GROUP BY id), " +
        "tainted AS (SELECT DISTINCT label FROM lab WHERE id < 1000), " +
        "losers AS (SELECT id FROM lab WHERE id >= 1000 AND " +
        "(label IN (SELECT label FROM tainted) OR id <> label)), " +
        "inc AS (SELECT unnest(range(1000, 1020)) AS id), " +
        "kept AS (SELECT id FROM inc WHERE id NOT IN (SELECT id FROM losers)) " +
        "SELECT (SELECT count(*) FROM inc) AS n_incoming, count(*) AS n_kept, " +
        "CAST(sum(id) AS BIGINT) AS id_checksum FROM kept"
    },
    "q_c4_line_filter" -> {
      // line predicate + page gates restated from TextAnalysis.c4LineKeep
      // / c4PageFlags — same terminal-punctuation class, same word split,
      // same javascript substring rule, sentence runs counted on the
      // CLEANED text exactly as c4PageFlags does; aug + keep shared with
      // the composed q_corpus_pipeline_c4 oracle
      val gates = Seq(
        "NOT contains(t, '{')" -> "no_curly_ok",
        "NOT contains(lower(t), 'lorem ipsum')" -> "no_lorem_ok",
        "len(regexp_extract_all(c, '[.!?]+')) >= 5" -> "min_sentences_ok")
      val pass = gates.map { case (g, _) => s"($g)" }.mkString(" AND ")
      s"WITH aug AS (SELECT doc_id, $c4AugSql AS t FROM documents), " +
        "cleaned AS (SELECT doc_id, t, array_to_string(list_filter(" +
        s"string_split(t, chr(10)), l -> $c4KeepSql), chr(10)) AS c FROM aug) " +
        "SELECT doc_id, md5(c) AS clean_fp, " +
        "CAST(CASE WHEN length(c) = 0 THEN 0 ELSE len(string_split(c, chr(10))) END AS BIGINT) AS n_lines_kept, " +
        gates.map { case (g, n) => s"$g AS $n" }.mkString(", ") +
        s", $pass AS pass FROM cleaned ORDER BY doc_id"
    },
    "q_contamination" -> contaminationOracle,
    // identical results to the exact detector by construction: the bloom
    // is a prefilter, the confirm join restores exactness for any fpp
    "q_contamination_bloom" -> contaminationOracle,
    // fuzzy decontamination: exact all-pairs corpus×benchmark trigram
    // Jaccard ≥ 0.5 — the LSH band probe must reproduce it exactly at
    // this corpus's similarity level (total recall, exact verify)
    "q_contamination_fuzzy" -> contaminationFuzzyOracle,
    // identical results to the recompute path by construction: the stored
    // band/shingle index round-trips the same rows the fresh build derives
    "q_contamination_fuzzy_indexed" -> contaminationFuzzyOracle
  )

  /** Ground truth shared by q_contamination_fuzzy and its persisted-index
    * twin: exact all-pairs corpus×benchmark trigram Jaccard ≥ 0.5. */
  private lazy val contaminationFuzzyOracle: String =
    s"WITH $shingleCte, " +
      "cont AS (SELECT DISTINCT c.doc_id FROM sh c JOIN sh b ON b.doc_id % 50 = 0 AND " +
      "len(list_intersect(c.shingles,b.shingles))*1.0/greatest(len(list_distinct(list_concat(c.shingles,b.shingles))),1) >= 0.5), " +
      "kept AS (SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM cont)) " +
      "SELECT (SELECT count(*) FROM documents) AS n_docs, count(*) AS n_kept, " +
      "CAST(COALESCE(sum(doc_id), 0) AS BIGINT) AS id_checksum FROM kept"

  /** Mojibake fixture shared by q_unicode_normalize's Spark augmentation
    * and its oracle restatement (one constant — no drift): smart quotes,
    * em dash, and accents as their cp1252 misdecodings, which the repair
    * table must map back. */
  private val mojibakeFixture = " â€œmojibakeâ€� Ã©tÃ© â€” fixed"

  /** The [[graft.functions.TextAnalysis.stripHtml]] chain over a SQL text
    * expression — generated FROM htmlStripStages (no drift). */
  private def htmlStripSql(src: String): String = {
    def sq(s: String): String = s.replace("'", "''")
    graft.functions.TextAnalysis.htmlStripStages.foldLeft(src) {
      case (acc, (re, repl)) =>
        s"regexp_replace($acc, '${sq(re)}', '${sq(repl)}', 'g')"
    }
  }

  /** [[graft.functions.TextAnalysis.collapseLineWhitespace]] in SQL —
    * horizontal runs fold, newlines survive (backref keeps the `\n`). */
  private def collapseLineWsSql(src: String): String =
    s"trim(regexp_replace(regexp_replace($src, '[ \\t]*(\\n)[ \\t]*', '\\1', 'g'), '[ \\t]+', ' ', 'g'))"

  /** The seven [[graft.functions.TextAnalysis.gopherFlags]] rules over SQL
    * expressions for the raw text, its normalized token array, and the
    * normalized text — one generator feeds q_gopher_quality AND the
    * corpus-pipeline oracle (no drift). Order matches gopherFlags. */
  private def gopherRuleSqls(text: String, tok: String, norm: String): Seq[String] = {
    val stops = graft.functions.TextAnalysis.stopwords("en")
      .map(s => s"'$s'").mkString("[", ",", "]")
    val words = s"regexp_split_to_array(trim($text),'\\s+')"
    val lines = s"regexp_split_to_array($text,'\\n')"
    Seq(
      s"len($tok) BETWEEN 50 AND 100000",
      s"length(replace($norm,' ',''))*1.0/greatest(len($tok),1) BETWEEN 3.0 AND 10.0",
      s"(len(regexp_extract_all($text,'#')) + len(regexp_extract_all($text,'\\.\\.\\.')))*1.0" +
        s"/greatest(len($words),1) <= 0.1",
      s"len(list_filter($lines, l -> starts_with(l,'- ') OR starts_with(l,'* ') OR starts_with(l,'•')))*1.0" +
        s"/greatest(len($lines),1) <= 0.9",
      s"len(list_filter($lines, l -> ends_with(l,'...')))*1.0" +
        s"/greatest(len($lines),1) <= 0.3",
      s"len(list_filter($words, w -> regexp_matches(w,'[A-Za-z]')))*1.0" +
        s"/greatest(len($words),1) >= 0.8",
      s"len(list_intersect(list_distinct($tok), $stops)) >= 2")
  }

  /** The seven [[graft.functions.TextAnalysis.gopherFlagsMl]] rules over
    * SQL expressions for the raw text, the ML token array, and the
    * routed language — generated from the same LangProfiles class sets
    * the gate branches on (no drift). Order matches gopherFlagsMl. */
  private def gopherRuleSqlsMl(text: String, tok: String,
      lang: String): Seq[String] = {
    val lp = graft.functions.LangProfiles
    def inSet(set: Set[String]): String =
      set.toSeq.sorted.map(c => s"'$c'").mkString(s"$lang IN (", ",", ")")
    val noShape = inSet(lp.noWordShapeLangs)
    val noStops = inSet(lp.noWordShapeLangs ++ lp.scriptWordLangs)
    val lines = s"regexp_split_to_array($text,'\\n')"
    val stopsCase = lp.stopwords.toSeq.sortBy(_._1).map { case (code, words) =>
      s"WHEN '$code' THEN ${words.map(w => s"'$w'").mkString("[", ",", "]")}"
    }.mkString(s"CASE $lang ", " ",
      s" ELSE ${lp.stopwords("en").map(w => s"'$w'").mkString("[", ",", "]")} END")
    Seq(
      s"len($tok) BETWEEN 50 AND 100000",
      s"($noShape OR length(array_to_string($tok,''))*1.0/greatest(len($tok),1) BETWEEN 3.0 AND 10.0)",
      s"(len(regexp_extract_all($text,'#')) + len(regexp_extract_all($text,'\\.\\.\\.')))*1.0" +
        s"/greatest(len($tok),1) <= 0.1",
      s"len(list_filter($lines, l -> starts_with(l,'- ') OR starts_with(l,'* ') OR starts_with(l,'•')))*1.0" +
        s"/greatest(len($lines),1) <= 0.9",
      s"len(list_filter($lines, l -> ends_with(l,'...')))*1.0" +
        s"/greatest(len($lines),1) <= 0.3",
      s"($noShape OR len(list_filter($tok, t -> NOT regexp_matches(t,'^[0-9]+$$')))*1.0" +
        s"/greatest(len($tok),1) >= 0.8)",
      s"($noStops OR len(list_intersect(list_distinct($tok), $stopsCase)) >= 2)")
  }

  private lazy val mlGopherQualitySql: String = {
    val rules = gopherRuleSqlsMl("text", "tok", "lang")
    val names = Seq("word_count_ok", "mean_word_len_ok", "symbol_ratio_ok",
      "bullet_ratio_ok", "ellipsis_ratio_ok", "alpha_word_ratio_ok",
      "stopword_ok")
    val flagCols = rules.zip(names).map { case (r, n) => s"$r AS $n" }
    val pass = rules.map(r => s"($r)").mkString(" AND ")
    val mlToks = graft.functions.Tok.Ml.sqlTokens("text")
    s"WITH g AS (SELECT doc_id, text FROM ${graft.operators.MlFixture.gateSqlValues}), " +
      s"k AS (SELECT doc_id, text, $mlToks AS tok FROM g), " +
      s"l AS (SELECT doc_id, text, tok, CASE ${langScriptWhensSql("text")} " +
      s"WHEN CAST(substr(b,1,8) AS INT) > 0 THEN substr(b,9,2) ELSE 'und' END AS lang " +
      // the routing vote reads the SAME ml token array the gate rules do
      // (the kernel's round-14 tokenizer)
      s"FROM (SELECT doc_id, text, tok, ${langVoteGreatestSql("tok")} AS b FROM k) x) " +
      s"SELECT doc_id, lang, ${flagCols.mkString(", ")}, $pass AS pass " +
      "FROM l ORDER BY doc_id"
  }

  /** Ground truth for q_corpus_pipeline_ml: the full multilingual chain
    * restated in DuckDB — ml tokenization ([[graft.functions.Tok]]
    * `.Ml.sqlTokens`, the same generator the kernel parity oracle uses),
    * script-ratio + stopword-vote language routing, the seven per-script
    * Gopher rules ([[gopherRuleSqlsMl]]), ml-token-stream exact dedup,
    * ml-trigram Jaccard pairs + recursive-CTE CC, ml 8-gram
    * decontamination against the clean benchmark docs, then the
    * redact → ml re-tokenize → chunk(64/16) → md5 split tail. Every
    * fragment generated from the same Scala tables the kernels read —
    * the no-drift discipline. */
  private lazy val corpusPipelineMlOracle: String = {
    val mlToks = graft.functions.Tok.Ml.sqlTokens("text")
    val rules = gopherRuleSqlsMl("text", "tok", "lang")
      .map(r => s"($r)").mkString(" AND ")
    val mlRtToks = graft.functions.Tok.Ml.sqlTokens("rt")
    val benchVals = graft.operators.MlFixture.docs
      .filter(d => d._1 == 2L || d._1 == 42L)
      .map { case (i, _, t) => s"($i, '$t')" }
      .mkString("(VALUES ", ", ", ") bf(doc_id, text)")
    "WITH RECURSIVE " +
      s"pd AS MATERIALIZED (SELECT doc_id, text FROM ${graft.operators.MlFixture.pipelineSqlValues}), " +
      s"ptok AS MATERIALIZED (SELECT doc_id, text, $mlToks AS tok FROM pd), " +
      s"pl AS MATERIALIZED (SELECT doc_id, text, tok, CASE ${langScriptWhensSql("text")} " +
      "WHEN CAST(substr(b,1,8) AS INT) > 0 THEN substr(b,9,2) ELSE 'und' END AS lang " +
      // routing vote over the SAME ml token array (round-14 tokenizer)
      s"FROM (SELECT doc_id, text, tok, ${langVoteGreatestSql("tok")} AS b FROM ptok) x), " +
      "q1 AS MATERIALIZED (SELECT doc_id, text, tok FROM pl " +
      "WHERE len(tok) BETWEEN 10 AND 100000 " +
      "AND length(array_to_string(tok,''))*1.0/greatest(length(text),1) >= 0.4 " +
      s"AND lang IN ('ar','en','ja','ru','zh') AND $rules), " +
      "q2 AS (SELECT * FROM q1 WHERE doc_id IN (SELECT min(doc_id) FROM q1 GROUP BY array_to_string(tok, ' '))), " +
      "sh3 AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(tok)-1,1)), " +
      "i -> tok[i]||' '||tok[i+1]||' '||tok[i+2])) AS sh FROM q2), " +
      "j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id " +
      "WHERE len(list_intersect(a.sh,b.sh))*1.0/greatest(len(list_distinct(list_concat(a.sh,b.sh))),1) >= 0.5), " +
      "e AS (SELECT id_a AS src, id_b AS dst FROM j UNION ALL SELECT id_b, id_a FROM j), " +
      "r AS (SELECT src AS id, src AS label FROM e UNION SELECT e.dst AS id, r.label FROM r JOIN e ON e.src = r.id), " +
      "lab AS (SELECT id, min(label) AS label FROM r GROUP BY id), " +
      "q3 AS (SELECT * FROM q2 WHERE doc_id NOT IN (SELECT id FROM lab WHERE label <> id)), " +
      s"btok AS (SELECT doc_id, $mlToks AS t FROM $benchVals), " +
      "c8 AS (SELECT doc_id, tok AS t FROM q3), " +
      s"sh8c AS (${gram8CteSql("c8")}), " +
      s"sh8b AS (${gram8CteSql("btok")}), " +
      "cont AS (SELECT DISTINCT c.doc_id AS doc_id FROM sh8c c JOIN sh8b b ON len(list_intersect(c.sh,b.sh)) > 0), " +
      "q4 AS (SELECT * FROM q3 WHERE doc_id NOT IN (SELECT doc_id FROM cont)), " +
      s"red AS (SELECT doc_id, $piiRedactSql AS rt FROM q4), " +
      s"rtok AS (SELECT doc_id, $mlRtToks AS t FROM red), " +
      "st AS (SELECT doc_id, t, unnest(list_filter(range(0, len(t), 48), s -> s = 0 OR s + 16 < len(t))) AS s FROM rtok WHERE len(t) > 0), " +
      "ck AS (SELECT doc_id, len(list_slice(t, s + 1, s + 64)) AS n FROM st), " +
      "sp AS (SELECT doc_id, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,8) < 'e6666666' THEN 'train' " +
      "WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,8) < 'f3333333' THEN 'val' ELSE 'test' END AS split FROM q4) " +
      "SELECT (SELECT count(*) FROM pd) AS n_input, " +
      "(SELECT count(*) FROM q1) AS n_quality, " +
      "(SELECT count(*) FROM q2) AS n_exact_dedup, " +
      "(SELECT count(*) FROM q3) AS n_near_dedup, " +
      "(SELECT count(*) FROM q4) AS n_decontaminated, " +
      "(SELECT CAST(sum(doc_id) AS BIGINT) FROM q4) AS id_checksum, " +
      "(SELECT CAST(sum(length(rt)) AS BIGINT) FROM red) AS text_len_sum, " +
      "(SELECT count(*) FROM sp WHERE split='train') AS n_train, " +
      "(SELECT count(*) FROM sp WHERE split='val') AS n_val, " +
      "(SELECT count(*) FROM sp WHERE split='test') AS n_test, " +
      "(SELECT count(*) FROM ck) AS n_chunks, " +
      "(SELECT CAST(sum(n) AS BIGINT) FROM ck) AS chunk_token_sum"
  }

  /** Ground truth for q_corpus_pipeline_full — every rung of the
    * all-rungs chain restated from the same generated tables: the
    * ml-variant gate/exact/near stages over [[graft.operators.MlFixture
    * .fullDocs]], the JL-projected semantic rung (the
    * q_corpus_pipeline_semantic_jl construction over the fixture's
    * embedding literals), the 128-bit frozen-grid image stage mapped
    * through the doc→media attachment, the CJK 8-gram text decon, the
    * 64-bit frozen-grid media decon against benchmark image 6, the
    * q_token_mix rate derivation over the survivors' ml-token mass, and
    * the ml chunk → split → greedy-pack tail. */
  private lazy val corpusPipelineFullOracle: String = {
    val fx = graft.operators.MlFixture
    val mlToks = graft.functions.Tok.Ml.sqlTokens("text")
    val rules = gopherRuleSqlsMl("text", "tok", "lang")
      .map(r => s"($r)").mkString(" AND ")
    val mlRtToks = graft.functions.Tok.Ml.sqlTokens("rt")
    val benchVals = fx.docs
      .filter(d => d._1 == 2L || d._1 == 42L)
      .map { case (i, _, t) => s"($i, '$t')" }
      .mkString("(VALUES ", ", ", ") bf(doc_id, text)")
    val imapVals = fx.fullMediaAttach
      .map { case (d, m) => s"($d, $m)" }
      .mkString("(VALUES ", ", ", ") im(doc_id, media_id)")
    val benchImgs = fx.fullBenchImageIds.mkString(", ")
    // the JL cell table — the q_corpus_pipeline_semantic_jl emission
    val outDim = 16; val inDim = 64
    val m = graft.operators.Similarity.randomProjectionMatrix(inDim, outDim)
    (0 until outDim).foreach(j => require(
      m.slice(j * inDim, (j + 1) * inDim).exists(_ != 0),
      s"JL matrix row $j is all-zero; the oracle's list reassembly " +
        "would drop a dimension"))
    val cells = (for {
      j <- 0 until outDim; d <- 0 until inDim
      w = m(j * inDim + d) if w != 0
    } yield s"($d, $j, $w)").mkString(", ")
    "WITH RECURSIVE " +
      AnnOracles.coarseCtesProjected(outDim) + ", " +
      s"w(d0, j, wt) AS (VALUES $cells), " +
      s"femb AS (SELECT doc_id, v FROM ${fx.fullEmbSqlValues}), " +
      s"imap AS (SELECT doc_id, media_id FROM $imapVals), " +
      s"pd AS MATERIALIZED (SELECT doc_id, text, 'src' || CAST(doc_id % 3 AS VARCHAR) AS source FROM ${fx.fullSqlValues}), " +
      s"ptok AS MATERIALIZED (SELECT doc_id, text, source, $mlToks AS tok FROM pd), " +
      s"pl AS MATERIALIZED (SELECT doc_id, text, source, tok, CASE ${langScriptWhensSql("text")} " +
      "WHEN CAST(substr(b,1,8) AS INT) > 0 THEN substr(b,9,2) ELSE 'und' END AS lang " +
      s"FROM (SELECT doc_id, text, source, tok, ${langVoteGreatestSql("tok")} AS b FROM ptok) x), " +
      "q1 AS MATERIALIZED (SELECT doc_id, text, source, tok FROM pl " +
      "WHERE len(tok) BETWEEN 10 AND 100000 " +
      "AND length(array_to_string(tok,''))*1.0/greatest(length(text),1) >= 0.4 " +
      s"AND lang IN ('ar','en','ja','ru','zh') AND $rules), " +
      "q2 AS (SELECT * FROM q1 WHERE doc_id IN (SELECT min(doc_id) FROM q1 GROUP BY array_to_string(tok, ' '))), " +
      "sh3 AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(tok)-1,1)), " +
      "i -> tok[i]||' '||tok[i+1]||' '||tok[i+2])) AS sh FROM q2), " +
      "j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id " +
      "WHERE len(list_intersect(a.sh,b.sh))*1.0/greatest(len(list_distinct(list_concat(a.sh,b.sh))),1) >= 0.5), " +
      "e AS (SELECT id_a AS src, id_b AS dst FROM j UNION ALL SELECT id_b, id_a FROM j), " +
      "r AS (SELECT src AS id, src AS label FROM e UNION SELECT e.dst AS id, r.label FROM r JOIN e ON e.src = r.id), " +
      "lab AS (SELECT id, min(label) AS label FROM r GROUP BY id), " +
      "q3 AS MATERIALIZED (SELECT * FROM q2 WHERE doc_id NOT IN (SELECT id FROM lab WHERE label <> id)), " +
      // ── SEMANTIC-JL rung (the semantic_jl oracle block over femb) ──
      "semq AS (SELECT q3.doc_id AS id, generate_subscripts(f.v, 1) - 1 AS d0, " +
      "CAST(floor(unnest(f.v) * 1024 + 0.5) AS BIGINT) AS qv FROM q3 JOIN femb f ON f.doc_id = q3.doc_id), " +
      "semp AS (SELECT semq.id AS id, w.j AS j, CAST(sum(qv * wt) AS DOUBLE) AS o " +
      "FROM semq JOIN w ON semq.d0 = w.d0 GROUP BY semq.id, w.j), " +
      "sememb AS MATERIALIZED (SELECT id, list(o ORDER BY j) AS v FROM semp GROUP BY id), " +
      "sasg AS MATERIALIZED (SELECT id, l, cc FROM (SELECT s2.id, ls.l, " +
      "list_cosine_similarity(s2.v, cents[ls.l+1]) AS cc, " +
      "ROW_NUMBER() OVER (PARTITION BY s2.id ORDER BY " +
      "list_cosine_similarity(s2.v, cents[ls.l+1]) DESC, ls.l) AS rk " +
      "FROM sememb s2, ls, co) WHERE rk = 1), " +
      "sj AS MATERIALIZED (SELECT ax.id AS id_a, ay.id AS id_b " +
      "FROM sasg ax JOIN sasg ay ON ax.l = ay.l AND ax.id < ay.id " +
      "JOIN sememb x ON x.id = ax.id JOIN sememb y ON y.id = ay.id " +
      "WHERE list_cosine_similarity(x.v, y.v) >= 0.9), " +
      "se AS (SELECT id_a AS src, id_b AS dst FROM sj UNION ALL SELECT id_b, id_a FROM sj), " +
      "sr AS (SELECT src AS id, src AS label FROM se " +
      "UNION SELECT se.dst AS id, sr.label FROM sr JOIN se ON se.src = sr.id), " +
      "slab AS (SELECT id, min(label) AS label FROM sr GROUP BY id), " +
      "sranked AS (SELECT slab.id, ROW_NUMBER() OVER (PARTITION BY slab.label " +
      "ORDER BY sasg.cc ASC, slab.id ASC) AS rk FROM slab JOIN sasg ON sasg.id = slab.id), " +
      "q3s AS MATERIALIZED (SELECT * FROM q3 WHERE doc_id NOT IN (SELECT id FROM sranked WHERE rk > 1)), " +
      // ── IMAGE rung: frozen-grid 128-bit pairs mapped doc→media ──
      imageHamming128Ctes("i", 6) + ", " +
      "ipair AS (SELECT da.doc_id AS id_a, db.doc_id AS id_b FROM ihm " +
      "JOIN imap da ON da.media_id = ihm.id_a JOIN imap db ON db.media_id = ihm.id_b " +
      "WHERE ihm.hamming <= 6 " +
      "AND da.doc_id IN (SELECT doc_id FROM q3s) AND db.doc_id IN (SELECT doc_id FROM q3s)), " +
      "ie AS (SELECT id_a AS src, id_b AS dst FROM ipair UNION ALL SELECT id_b, id_a FROM ipair), " +
      "ir AS (SELECT src AS id, src AS label FROM ie UNION SELECT ie.dst AS id, ir.label FROM ir JOIN ie ON ie.src = ir.id), " +
      "ilab AS (SELECT id, min(label) AS label FROM ir GROUP BY id), " +
      "q3i AS MATERIALIZED (SELECT * FROM q3s WHERE doc_id NOT IN (SELECT id FROM ilab WHERE label <> id)), " +
      // ── TEXT decon: CJK-capable 8-gram probe over ml tokens ──
      s"btok AS (SELECT doc_id, $mlToks AS t FROM $benchVals), " +
      "c8 AS (SELECT doc_id, tok AS t FROM q3i), " +
      s"sh8c AS (${gram8CteSql("c8")}), " +
      s"sh8b AS (${gram8CteSql("btok")}), " +
      "cont AS (SELECT DISTINCT c.doc_id AS doc_id FROM sh8c c JOIN sh8b b ON len(list_intersect(c.sh,b.sh)) > 0), " +
      "q4 AS MATERIALIZED (SELECT * FROM q3i WHERE doc_id NOT IN (SELECT doc_id FROM cont)), " +
      // ── MEDIA decon: 64-bit horizontal dHash bits (the ibt rows with
      // b < 64) vs the benchmark image, all-pairs, mapped doc→media ──
      "mbt AS (SELECT media_id, b, bit FROM ibt WHERE b < 64), " +
      s"mbench AS (SELECT media_id, b, bit FROM mbt WHERE media_id IN ($benchImgs)), " +
      "mham AS (SELECT im.doc_id AS corpus_doc, mbench.media_id AS bench_id, " +
      "sum(CASE WHEN x.bit <> mbench.bit THEN 1 ELSE 0 END) AS mh " +
      "FROM imap im JOIN mbt x ON x.media_id = im.media_id " +
      "JOIN mbench ON mbench.b = x.b GROUP BY 1, 2), " +
      "q4m AS MATERIALIZED (SELECT * FROM q4 WHERE doc_id NOT IN " +
      "(SELECT DISTINCT corpus_doc FROM mham WHERE mh <= 6)), " +
      // ── MIX: the q_token_mix derivation over the survivors' ml-token
      // mass (zero-mass strata excluded from min and rates) ──
      "mshares(s, w) AS (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)), " +
      "mhist AS (SELECT source AS s, CAST(sum(len(tok)) AS BIGINT) AS toks " +
      "FROM q4m WHERE source IN (SELECT s FROM mshares) GROUP BY source HAVING sum(len(tok)) > 0), " +
      "mcst AS (SELECT min(toks / w) AS c FROM mhist JOIN mshares USING (s)), " +
      "mrates AS (SELECT s, round(least(1.0, c * w / toks), 4) AS rr " +
      "FROM mhist JOIN mshares USING (s) CROSS JOIN mcst), " +
      "mth AS (SELECT s, CASE WHEN rr >= 1.0 THEN 'g' ELSE " +
      "lpad(lower(hex(CAST(least(round(rr * 4294967296.0), 4294967295) AS BIGINT))),8,'0') END AS th FROM mrates), " +
      "q5 AS MATERIALIZED (SELECT q4m.* FROM q4m JOIN mth ON q4m.source = mth.s " +
      "WHERE substr(md5(CAST(q4m.doc_id AS VARCHAR)),1,8) < mth.th), " +
      // ── ml tail: redact → ml re-tokenize → chunk(64/16) → split ──
      s"red AS (SELECT doc_id, $piiRedactSql AS rt FROM q5), " +
      s"rtok AS (SELECT doc_id, $mlRtToks AS t FROM red), " +
      "st AS (SELECT doc_id, t, unnest(list_filter(range(0, len(t), 48), s -> s = 0 OR s + 16 < len(t))) AS s FROM rtok WHERE len(t) > 0), " +
      "ck AS (SELECT doc_id, CAST(s // 48 AS BIGINT) AS chunk_idx, len(list_slice(t, s + 1, s + 64)) AS n FROM st), " +
      "sp AS (SELECT doc_id, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,8) < 'e6666666' THEN 'train' " +
      "WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,8) < 'f3333333' THEN 'val' ELSE 'test' END AS split FROM q5) " +
      packingCtes(256) +
      "SELECT (SELECT count(*) FROM pd) AS n_input, " +
      "(SELECT count(*) FROM q1) AS n_quality, " +
      "(SELECT count(*) FROM q2) AS n_exact_dedup, " +
      "(SELECT count(*) FROM q3) AS n_near_dedup, " +
      "(SELECT count(*) FROM q3s) AS n_semantic_dedup, " +
      "(SELECT count(*) FROM q3i) AS n_image_dedup, " +
      "(SELECT count(*) FROM q4) AS n_decontaminated, " +
      "(SELECT count(*) FROM q4m) AS n_media_decontaminated, " +
      "(SELECT count(*) FROM q5) AS n_mixed, " +
      "(SELECT CAST(sum(doc_id) AS BIGINT) FROM q5) AS id_checksum, " +
      "(SELECT CAST(sum(length(rt)) AS BIGINT) FROM red) AS text_len_sum, " +
      "(SELECT count(*) FROM sp WHERE split='train') AS n_train, " +
      "(SELECT count(*) FROM sp WHERE split='val') AS n_val, " +
      "(SELECT count(*) FROM sp WHERE split='test') AS n_test, " +
      "(SELECT count(*) FROM ck) AS n_chunks, " +
      "(SELECT CAST(sum(n) AS BIGINT) FROM ck) AS chunk_token_sum, " +
      "(SELECT count(*) FROM pex) AS n_examples, " +
      "(SELECT CAST(sum(nchunks) AS BIGINT) FROM pex) AS packed_chunk_sum, " +
      "(SELECT CAST(sum(ntok) AS BIGINT) FROM pex) AS packed_token_sum"
  }

  /** Ground-truth media decontamination: all-pairs 64-bit dHash Hamming
    * between every frozen grid and the benchmark subset (media_id % 5 =
    * 0), restated from [[graft.operators.FrozenImageGrids]] — the same
    * frozen-side discipline as q_image_near_dups, with no banding at all
    * (the oracle must not share the engine's candidate structure). */
  private lazy val mediaContaminationOracle: String = {
    val rows = graft.operators.FrozenImageGrids.grids
      .map { case (id, g) => s"($id, ${g.mkString("[", ",", "]")})" }
      .mkString(", ")
    s"WITH gr(media_id, g) AS (VALUES $rows), " +
      "bb AS (SELECT unnest(range(0, 64)) AS b), " +
      "bt AS (SELECT media_id, b, CASE WHEN g[(b//8)*9 + (b%8) + 1] > g[(b//8)*9 + (b%8) + 2] THEN 1 ELSE 0 END AS bit FROM gr, bb), " +
      "bench AS (SELECT media_id, b, bit FROM bt WHERE media_id % 5 = 0), " +
      "ham AS (SELECT c.media_id AS corpus_id, bench.media_id AS bench_id, " +
      "sum(CASE WHEN c.bit <> bench.bit THEN 1 ELSE 0 END) AS h " +
      "FROM bt c JOIN bench ON c.b = bench.b GROUP BY 1, 2) " +
      "SELECT corpus_id, count(*) AS n_benchmark_hits FROM ham " +
      "WHERE h <= 6 GROUP BY corpus_id ORDER BY corpus_id"
  }

  private lazy val contaminationOracle: String =
    s"WITH $shingleCte, " +
      "b AS (SELECT doc_id, shingles FROM sh WHERE doc_id % 50 = 0), " +
      "c AS (SELECT doc_id, shingles FROM sh WHERE doc_id % 50 <> 0) " +
      "SELECT c.doc_id AS doc_id, count(*) AS n_benchmark_hits FROM c JOIN b " +
      "ON len(list_intersect(c.shingles, b.shingles)) > 0 " +
      "GROUP BY c.doc_id ORDER BY c.doc_id"
}
