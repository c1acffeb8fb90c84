package graft.operators

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSparkSession

/** Degenerate-input hardening: every operator must return sane (usually
  * empty) results — not throw — on empty and single-row inputs. At 100 TB
  * an empty partition/table shows up constantly (new date partitions,
  * filtered-out sources). */
class EdgeCasesSpec extends AnyFunSuite {
  lazy val spark = TestSparkSession.spark
  import spark.implicits._

  private lazy val emptyDocs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  private lazy val oneDoc = Seq((1L, "only one document here")).toDF("doc_id", "text")

  private lazy val emptyVecs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)))))

  test("dedup family on empty and single-doc inputs") {
    assert(Dedup.exactJaccardPairs(emptyDocs, "text", "doc_id", 0.5).count() == 0)
    assert(Dedup.nearDupPairsMinHash(emptyDocs, "text", "doc_id", 0.5).count() == 0)
    assert(Dedup.nearDupPairsSimHash(spark, emptyDocs, "text", "doc_id").count() == 0)
    assert(Dedup.exactJaccardPairs(oneDoc, "text", "doc_id", 0.5).count() == 0)
    assert(Dedup.nearDupPairsMinHash(oneDoc, "text", "doc_id", 0.5).count() == 0)
    assert(Dedup.removeNearDuplicates(oneDoc, "text", "doc_id").count() == 1)
    assert(Dedup.exactByContent(emptyDocs, "text", "doc_id").count() == 0)
  }

  test("resolveClusters on empty pair set") {
    val emptyPairs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType))))
    assert(Dedup.resolveClusters(emptyPairs).count() == 0)
  }

  test("similarity family on empty and trivial inputs") {
    val one = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    assert(Similarity.cosinePairs(emptyVecs, "embedding", "vec_id", 0.5).count() == 0)
    assert(Similarity.bruteForceTopK(one, one, "embedding", "vec_id", 5).count() == 0) // no non-self neighbor
    assert(Similarity.ivfTopK(emptyVecs, emptyVecs, "embedding", "vec_id", 5, nLists = 4, nProbe = 2).count() == 0)
  }

  test("round-3 operators on empty and degenerate inputs") {
    val docs = Seq((1L, "alpha beta gamma", "en")).toDF("doc_id", "text", "lang")
    val emptyDocs = docs.where(org.apache.spark.sql.functions.lit(false))
    // incremental dedup: empty incoming → empty result; empty existing →
    // plain within-batch dedup (everything unique survives)
    assert(Dedup.removeNearDuplicatesIncremental(docs, emptyDocs, "text", "doc_id").count() == 0)
    assert(Dedup.removeNearDuplicatesIncremental(emptyDocs, docs, "text", "doc_id").count() == 1)
    // stratified sample: a NULL stratum falls to the default fraction
    val withNull = Seq((1L, "x", null: String), (2L, "y", "en")).toDF("doc_id", "text", "lang")
    val kept = Sampling.stratifiedSample(withNull, "doc_id", "lang",
      Map("en" -> 1.0), defaultFraction = 0.0)
      .select("doc_id").as[Long].collect().toSet
    assert(!kept.contains(1L), "null stratum must take the default fraction")
    // chunking on an empty frame
    assert(Chunking.chunkByTokens(emptyDocs, "text", "doc_id", 8).count() == 0)
    // keyed range join with no matching keys
    val pts = Seq((1L, 100L)).toDF("user_id", "ts0")
      .select($"user_id", org.apache.spark.sql.functions.timestamp_micros($"ts0").as("p_ts"))
    val ivs = Seq((2L, 50L, 150L)).toDF("user_id", "s0", "e0")
      .select($"user_id", org.apache.spark.sql.functions.timestamp_micros($"s0").as("st"),
        org.apache.spark.sql.functions.timestamp_micros($"e0").as("en"))
    assert(Joins.rangeJoinPointInterval(pts, "p_ts", ivs, "st", "en",
      bucketSeconds = 1, keys = Seq("user_id")).count() == 0)
  }

  test("whitespace-only and empty text through the text stack") {
    val weird = Seq((1L, ""), (2L, "   \t  "), (3L, "!!!")).toDF("doc_id", "text")
    assert(Dedup.shingleSets(weird, "text", "doc_id").count() == 0) // no shingles
    graft.functions.GraftFunctions.register(spark)
    val hashed = weird.select(
      graft.functions.GraftFunctions.simhash64(
        graft.functions.GraftFunctions.normTokens($"text")).as("h"))
    assert(hashed.count() == 3) // simhash of zero tokens = 0L, no throw
  }

  test("oversized document flows through line/span dedup reassembly (single-buffer bound)") {
    // the documented per-doc collect_list bound: one document far above
    // corpus-typical size (100k tokens, ~700 KB) reassembles correctly —
    // the guard that the single-buffer aggregation is a stated contract,
    // not an accident that breaks at the first big row
    val bigTokens = Array.tabulate(100000)(i => s"w$i")
    val bigLines = bigTokens.grouped(20).map(_.mkString(" ")).mkString("\n")
    val docs = Seq((1L, bigLines), (2L, "short other doc with its own words"))
      .toDF("doc_id", "text")
    val lineOut = LineDedup.removeDuplicatedLines(docs, "text", "doc_id")
      .where($"doc_id" === 1L).head().getAs[String]("text")
    assert(lineOut == bigLines, "no duplicated lines -> big doc unchanged")
    val spanOut = SpanDedup.removeDuplicatedSpans(docs, "text", "doc_id")
      .where($"doc_id" === 1L).head().getAs[String]("text")
    assert(spanOut == bigTokens.mkString(" "),
      "all-unique tokens -> normalized stream survives intact")
  }

  test("checks on empty tables report failure, not exceptions") {
    import graft.quality.{CheckResult, Checks, SqlChecks, ValidationSuite}
    import ValidationSuite.{RowCount, Sales}
    val sales = emptyDocs.select($"doc_id".as("product_id"), $"text".as("date"))
    assert(!ValidationSuite.evaluate(RowCount(Sales),
      ValidationSuite.frame(sales, sales)(Seq(RowCount(Sales))).collect().toSeq, "t", 0)
      .head.passed)
    assert(Checks.duplicateKeys(sales, Seq("product_id")).count() == 0)

    // the whole suite, in both forms, over empty loaded tables: only the
    // not-empty checks fail, and a column with no rows has no minimum to
    // break a range rule
    def empty(cols: (String, DataType)*) = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(cols.map { case (n, t) => StructField(n, t) }))
    val emptySales = empty("date" -> TimestampType, "store_id" -> StringType,
      "product_id" -> StringType, "units_sold" -> LongType, "sales_amount" -> DoubleType)
    val emptyProducts = empty("product_id" -> StringType, "product_name" -> StringType,
      "price" -> DoubleType)
    val expected = Seq(
      ("store_sales", "not_empty", false, "rows=0"),
      ("products", "not_empty", false, "rows=0"),
      ("store_sales", "row_count", true, "actual=0 expected=0"),
      ("products", "row_count", true, "actual=0 expected=0"),
      ("store_sales", "null_date", true, "nulls=0"),
      ("store_sales", "null_product_id", true, "nulls=0"),
      ("store_sales", "null_units_sold", true, "nulls=0"),
      ("store_sales", "null_sales_amount", true, "nulls=0"),
      ("products", "null_product_id", true, "nulls=0"),
      ("products", "null_product_name", true, "nulls=0"),
      ("products", "null_price", true, "nulls=0"),
      ("store_sales", "no_duplicate_keys", true, "duplicates=0"),
      ("products", "no_duplicate_keys", true, "duplicates=0"),
      ("store_sales", "referential_integrity", true, "orphans=0"),
      ("store_sales", "range_sales_amount", true, "min=null (must be >= 0)"),
      ("store_sales", "range_units_sold", true, "min=null (must be >= 0)"),
      ("products", "range_price", true, "min=null (must be > 0)"))
    def rows(rs: Seq[CheckResult]) = rs.map(r => (r.table, r.check, r.passed, r.detail))
    assert(rows(graft.pipeline.Pipeline.validate(emptySales, emptyProducts, 0, 0)) == expected)
    emptySales.createOrReplaceTempView("empty_store_sales")
    emptyProducts.createOrReplaceTempView("empty_products")
    assert(rows(SqlChecks.runAll(spark, "empty_store_sales", "empty_products", 0, 0)) ==
      expected.map { case (t, c, p, d) => (s"empty_$t", c, p, d) })
  }

  test("CorpusPipeline.prepare on an EMPTY corpus: zero-row outputs, zero observed counts, no crash") {
    // the streaming edge: a micro-batch can gate to nothing; the full
    // composed pipeline (url rung, strip, C4, gopher, line dedup, fuzzy
    // decon, materialized documents) must flow an empty frame through
    // every rung — CC loops, window caps, checkpoints — without throwing
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("url", StringType)))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val bench = Seq((10L, "shared words here for the benchmark tonight"))
      .toDF("doc_id", "text")
    val out = graft.pipeline.CorpusPipeline.prepare(empty, Some(bench),
      graft.pipeline.CorpusPipeline.Config(
        urlCol = Some("url"), stripHtml = true, c4Rules = true,
        gopherRules = true, lineDedupMinDocs = Some(2),
        fuzzyDecontaminate = Some(0.5),
        // round-11 rungs: the model gate, the training-mix tail, and
        // BPE chunking must all flow an empty frame too (the mix rung's
        // histogram derivation has nothing to derive from — it must
        // pass the empty corpus through, not throw)
        modelGate = Some(graft.pipeline.CorpusPipeline.ModelGateConfig(
          graft.operators.FrozenQualityModel.model)),
        domainCap = Some(graft.pipeline.CorpusPipeline.DomainCapConfig("url", 5)),
        mixToShares = Some(graft.pipeline.CorpusPipeline.MixConfig("url",
          Map("a" -> 1.0))),
        temperatureMix = Some(graft.pipeline.CorpusPipeline.TemperatureMixConfig(
          "url", alpha = 0.5, targetFraction = 0.5)),
        bpeChunking = Some(graft.operators.FrozenBpe.model),
        packTokenBudget = Some(256L),
        materializeDocuments = true, splits = Seq("train" -> 1.0)))
    assert(out.documents.count() == 0)
    assert(out.chunks.count() == 0)
    assert(out.packed.get.count() == 0)
    // materializeDocuments executed the chain, so every observation is
    // collected — and every stage saw zero rows
    assert(out.observedCounts.forall(_._2 == 0L),
      s"empty corpus must observe zero everywhere: ${out.observedCounts}")
    assert(out.stageReport.forall { case (_, kept, dropped) =>
      kept == 0L && dropped == 0L })
  }

  test("round-6 operators on null / empty / degenerate inputs") {
    import graft.functions.TextAnalysis
    // null text: every text function yields null (never throws), so a
    // pipeline WHERE gate silently drops the row — the right semantics
    // for a corpus with missing documents
    val withNull = Seq((1L, "the quick brown fox and the lazy dog again"),
      (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val r = withNull.select(
      TextAnalysis.collapseWhitespace(TextAnalysis.stripHtml($"text")).as("s"),
      TextAnalysis.gopherPass($"text").as("g"))
      .where($"doc_id" === 2L).head()
    assert(r.isNullAt(0), "string functions propagate null")
    // the gopher conjunction on null text is null-or-false — either way
    // a WHERE gate drops the row, which is the contract that matters
    assert(r.isNullAt(1) || !r.getBoolean(1))
    assert(graft.pipeline.CorpusPipeline.prepare(withNull,
      None, graft.pipeline.CorpusPipeline.Config(
        stripHtml = true, gopherRules = true, minTokens = 1,
        splits = Seq("train" -> 1.0)))
      .documents.where($"doc_id" === 2L).isEmpty,
      "null text must be gated out, not crash the pipeline")

    // bloom decontamination: empty CORPUS (the benchmark side being
    // empty is already covered in DedupSpec)
    val bench = Seq((10L, "shared words here for the benchmark"))
      .toDF("doc_id", "text")
    assert(Dedup.contaminationHitsBloom(emptyDocs, bench, "text", "doc_id").isEmpty)

    // sq8: empty corpus refuses to train (loudly), single-doc corpus
    // degenerates to all-constant dims and still round-trips
    intercept[IllegalArgumentException] {
      Similarity.sq8Train(
        Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"), "embedding")
    }
    val one = Seq((1L, Array(0.5f, -1.5f, 3f))).toDF("vec_id", "embedding")
    val idx = Similarity.sq8Train(one, "embedding")
    val dec = Similarity.sq8Encode(one, "embedding", "vec_id", idx)
      .select(Similarity.sq8Decode($"codes", idx)).head().getSeq[Double](0)
    assert(dec == Seq(0.5, -1.5, 3.0), "constant dims decode exactly to lo")
  }
}
