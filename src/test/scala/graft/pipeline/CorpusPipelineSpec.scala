package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSparkSession
import graft.operators.Dedup

/** End-to-end corpus-preparation spec: every stage's invariant checked on
  * the real corpus plus planted defects (a near-dup, PII, a benchmark
  * leak, junk docs). */
class CorpusPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSparkSession.spark
  import spark.implicits._

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("prepare: filters, dedups, decontaminates, redacts, chunks, and splits per document") {
    val base = docs.select($"doc_id", $"text")
    // planted defects: junk (too short), PII, and a benchmark leak
    val planted = Seq(
      (900001L, "too short"),
      (900002L, ("the quick brown fox jumps over the lazy dog and that is the " +
        "reason you should mail admin@example.org about it " + ("again and " * 30)).trim))
      .toDF("doc_id", "text")
    val corpus = base.union(planted)
    val benchmark = docs.where($"doc_id" % 50 === 0).select($"doc_id", $"text")

    val cfg = CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, dedupThreshold = 0.5,
      chunkTokens = 64, overlapTokens = 16,
      splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val out = CorpusPipeline.prepare(corpus, Some(benchmark), cfg)
    val kept = out.documents.cache()

    // junk filtered; survivors meet the language/quality gate
    val ids = kept.select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(900001L), "short junk doc must be filtered")
    assert(ids.contains(900002L), "long English prose must survive")
    assert(kept.count() > 0)

    // no near-dup pair survives at the configured threshold
    assert(Dedup.nearDupPairsMinHash(kept, "text", "doc_id", 0.5).count() == 0)

    // no surviving doc shares an n-gram with the benchmark: the
    // contamination probe finds nothing (compare on the PRE-redaction
    // text via ids — redaction may alter shingles)
    val preRedaction = corpus.join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
    assert(Dedup.contaminationHits(preRedaction, benchmark, "text", "doc_id",
      n = cfg.decontaminateN).count() == 0)

    // PII is gone from every surviving text
    assert(kept.where($"text".contains("@example.org")).count() == 0)
    assert(kept.where($"doc_id" === 900002L).head().getAs[String]("text")
      .contains("<EMAIL>"))

    // chunks: inherit the document split, never exceed the window size,
    // and every kept doc with tokens has at least one chunk
    val chunks = out.chunks.cache()
    assert(chunks.where($"n_chunk_tokens" > 64).count() == 0)
    val chunkSplits = chunks.select("doc_id", "split").distinct()
      .join(kept.select($"doc_id", $"split".as("doc_split")), Seq("doc_id"))
    assert(chunkSplits.where($"split" =!= $"doc_split").count() == 0,
      "chunks must inherit their document's split (no per-chunk leakage)")
    assert(chunks.select("doc_id").distinct().count() == kept.count())

    // split assignment is the deterministic md5 bucket: re-running is stable
    val again = CorpusPipeline.prepare(corpus, Some(benchmark), cfg)
    assert(again.documents.select("doc_id", "split").as[(Long, String)].collect().toSet ==
      kept.select("doc_id", "split").as[(Long, String)].collect().toSet)
    kept.unpersist(); chunks.unpersist()
  }

  test("bloomDecontaminate: identical survivors to the exact path at any fpp") {
    // The bloom path is a PREFILTER — the exact confirm join removes
    // bloom false positives, so survivors must be identical to the
    // exact-join path by construction, even at an absurd fpp. This pins
    // the Config wiring end to end (Config → prepare → removeContaminatedBloom).
    val corpus = docs.select($"doc_id", $"text")
    val benchmark = docs.where($"doc_id" % 50 === 0).select($"doc_id", $"text")
    val cfg = CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, dedupThreshold = 0.5,
      chunkTokens = 64, overlapTokens = 16)
    val exact = CorpusPipeline.prepare(corpus, Some(benchmark), cfg)
      .documents.select("doc_id").as[Long].collect().toSet
    val viaBloom = CorpusPipeline.prepare(corpus, Some(benchmark),
      cfg.copy(bloomDecontaminate = true))
      .documents.select("doc_id").as[Long].collect().toSet
    val viaBloomHighFpp = CorpusPipeline.prepare(corpus, Some(benchmark),
      cfg.copy(bloomDecontaminate = true, bloomFpp = 0.5))
      .documents.select("doc_id").as[Long].collect().toSet
    assert(exact.nonEmpty && viaBloom == exact && viaBloomHighFpp == exact)
  }

  test("tunedNearDedup: identical survivors to the fixed-banding path") {
    // the tuned detector (sampled-background band tuning + self-gating
    // signature prefilter) exact-verifies the same threshold, so the
    // pipeline's survivor set cannot differ — this pins the Config wiring
    // (Config → prepare → removeNearDuplicates with Detector.Tuned) end
    // to end
    val corpus = docs.select($"doc_id", $"text")
    val cfg = CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, dedupThreshold = 0.5,
      chunkTokens = 64, overlapTokens = 16)
    val fixed = CorpusPipeline.prepare(corpus, None, cfg)
      .documents.select("doc_id").as[Long].collect().toSet
    val tuned = CorpusPipeline.prepare(corpus, None,
      cfg.copy(tunedNearDedup = true))
      .documents.select("doc_id").as[Long].collect().toSet
    assert(fixed.nonEmpty && tuned == fixed)
  }

  test("optional line/span stages: boilerplate scrubbed before near-dup, emptied docs re-gated") {
    // two long, genuinely distinct English docs that share (a) a
    // boilerplate footer LINE and (b) a 10-token boilerplate SPAN that
    // does not align with any line boundary; plus a doc that is nothing
    // but the shared footer repeated (must drop at the re-gate)
    val prose1 = "the quick brown fox jumps over the lazy dog and then " +
      "walks along the river bank watching the morning light on the water " +
      ("while the birds sing " * 10).trim
    val prose2 = "a completely different story about ships and harbors where " +
      "sailors tell tales of distant storms and quiet nights far from home " +
      ("as the waves roll on " * 10).trim
    val footer = "copyright footer all rights reserved by the site owner today"
    val span = "please subscribe to our newsletter for updates and offers now"
    val corpus = Seq(
      (1L, s"$prose1 $span more of the first story continues here\n$footer"),
      (2L, s"$prose2 $span more of the second story continues here\n$footer"),
      (3L, s"$footer\n$footer\n$footer")).toDF("doc_id", "text")

    val cfg = CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, dedupThreshold = 0.5,
      lineDedupMinDocs = Some(2), spanDedupN = Some(8),
      chunkTokens = 64, overlapTokens = 16,
      splits = Seq("train" -> 1.0))
    val out = CorpusPipeline.prepare(corpus, None, cfg)
    val kept = out.documents.cache()
    val texts = kept.select($"doc_id", $"text").as[(Long, String)].collect().toMap

    // both prose docs survive (they are NOT near-dups once the shared
    // boilerplate is scrubbed), the footer-only doc drops at the re-gate
    assert(texts.keySet == Set(1L, 2L),
      s"expected docs 1 and 2 to survive, got ${texts.keySet}")
    // the shared footer line and the shared span are gone from survivors
    texts.values.foreach { t =>
      assert(!t.contains("copyright footer"), s"footer line must be scrubbed: $t")
      assert(!t.contains("please subscribe to our newsletter"),
        s"shared span must be scrubbed: $t")
    }
    // unique prose survives the scrubbing (span dedup normalizes text, so
    // check on normalized tokens)
    assert(texts(1L).contains("quick brown fox"))
    assert(texts(2L).contains("ships and harbors"))

    // stage bookkeeping: the optional stages appear, in pipeline order
    val stageNames = out.stages.map(_._1)
    assert(stageNames == Seq("input", "quality", "exact_dedup",
      "line_dedup", "span_dedup", "near_dedup", "decontaminated"))
    // line stage dropped the footer-only doc; span stage dropped none
    val counts = out.stages.toMap.map { case (k, v) => k -> v.count() }
    assert(counts("exact_dedup") == 3L)
    assert(counts("line_dedup") == 2L, "footer-only doc must drop at the line-stage re-gate")
    assert(counts("span_dedup") == 2L)
    assert(counts("near_dedup") == 2L)

    // defaults (None/None) leave the chain unchanged: without the line
    // stage the two docs ARE near-dups of nothing here (distinct prose),
    // but the footer/span survive untouched
    val plain = CorpusPipeline.prepare(corpus, None, CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, dedupThreshold = 0.5,
      chunkTokens = 64, overlapTokens = 16, splits = Seq("train" -> 1.0)))
    assert(plain.stages.map(_._1) ==
      Seq("input", "quality", "exact_dedup", "near_dedup", "decontaminated"))
    val plainTexts = plain.documents.select($"doc_id", $"text")
      .as[(Long, String)].collect().toMap
    assert(plainTexts.values.exists(_.contains("copyright footer")),
      "without the line stage the footer must survive")
    kept.unpersist()
  }

  test("optional html-strip + gopher stages: markup never reaches downstream signals") {
    val prose = "the quick brown fox jumps over the lazy dog and it was a " +
      "good day for all of you with this fine weather in the field " +
      ("walking along the river bank watching the light " * 5).trim
    val footer = "copyright footer all rights reserved by the site owner today"
    // two docs sharing most of their prose (near-dups, NOT exact: each
    // has a unique tail) whose html shells differ — only stripping lets
    // the line stage see both footer copies and the near-dup stage see
    // the shared prose; plus a gopher-failing doc (symbol wall) in clean
    // html
    val corpus = Seq(
      (1L, s"<html><body><p class='a'>$prose first story unique tail here today</p>\n$footer</body></html>"),
      (2L, s"<HTML><BODY><div id='b'>$prose second tale distinct ending there tomorrow</div>\n$footer</BODY></HTML>"),
      (3L, s"<p>$prose ${"# # # # # # # # # # " * 20}</p>"))
      .toDF("doc_id", "text")
    val cfg = CorpusPipeline.Config(
      stripHtml = true, gopherRules = true,
      langs = Set("en"), minTokens = 10, dedupThreshold = 0.5,
      lineDedupMinDocs = Some(2),
      chunkTokens = 64, overlapTokens = 16, splits = Seq("train" -> 1.0))
    val out = CorpusPipeline.prepare(corpus, None, cfg)
    val texts = out.documents.select($"doc_id", $"text")
      .as[(Long, String)].collect().toMap

    // doc 3 fails the gopher symbol rule AFTER stripping; docs 1/2 become
    // EXACT content dups once markup is gone — min-id survivor only
    assert(texts.keySet == Set(1L), s"expected only doc 1, got ${texts.keySet}")
    // no markup or entities in the surviving text; line structure (the
    // footer line) survived the strip for the line stage to scrub
    assert(!texts(1L).contains("<") && !texts(1L).contains(">"))
    assert(!texts(1L).contains("copyright footer"),
      "footer line must still be scrubbed by the line stage after stripping")
    assert(texts(1L).contains("quick brown fox"))

    // without stripHtml the markup pollutes every downstream artifact:
    // the surviving text still carries tags (what a training set must
    // never contain) — the strip stage is what prevents that
    val plain = CorpusPipeline.prepare(corpus, None, cfg.copy(stripHtml = false))
    val plainTexts = plain.documents.select($"doc_id", $"text")
      .as[(Long, String)].collect().toMap
    assert(plainTexts.nonEmpty && plainTexts.values.forall(_.contains("<")),
      "without the strip stage, markup survives into the output text")
  }

  test("optional semantic-dedup stage: paraphrase twins collapse AFTER the lexical rungs") {
    val cents: Array[(Int, Array[Float])] = Array(
      0 -> Array(1f, 0f, 0f, 0f),
      1 -> Array(0f, 1f, 0f, 0f),
      2 -> Array(0f, 0f, 1f, 0f))
    val prose = "the river was quiet in the morning and you could hear it " +
      "move for a while with this soft light on the water"
    // 1 vs 101: PARAPHRASES — no lexical overlap (the shingle rungs are
    // blind to them), embeddings nearly identical in cluster 0; 101 is
    // farther from the centroid, so keep-the-outlier keeps 101, not the
    // min id. 3 vs 4: lexical near-dups with unrelated embeddings — the
    // near-dup rung resolves them (min-id 3) before semantics runs.
    val corpus = Seq(
      (1L, "the storm reached the harbor at dawn and it was strong for " +
        "this time of year with heavy rain over the town",
        Array(1f, 0.05f, 0f, 0f)),
      (101L, "a violent gale hit the port early today and all ships stayed " +
        "inside because the winds were too dangerous for them out there",
        Array(1f, 0.052f, 0f, 0f)),
      (2L, "cooking with fresh herbs is a joy and you should try it for " +
        "dinner this week with your family at home",
        Array(0f, 1f, 0f, 0f)),
      (3L, prose + " first unique ending today",
        Array(0f, 0f, 1f, 0f)),
      (4L, prose + " second distinct ending tomorrow",
        Array(0f, 0f, 0.9f, 0.1f)))
      .toDF("doc_id", "text", "embedding")
    val cfg = CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, dedupThreshold = 0.5,
      semanticDedup = Some(CorpusPipeline.SemanticDedupConfig(
        "embedding", cents, threshold = 0.99)),
      chunkTokens = 64, overlapTokens = 16, splits = Seq("train" -> 1.0))

    val out = CorpusPipeline.prepare(corpus, None, cfg)
    val ids = out.documents.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(101L, 2L, 3L),
      s"lexical rung drops 4, semantic rung drops the CLOSER twin 1: $ids")
    assert(out.stages.map(_._1) == Seq("input", "quality", "exact_dedup",
      "near_dedup", "semantic_dedup", "decontaminated"),
      "semantic stage must sit between near-dup and decontamination")
    val semCount = out.stages.toMap.apply("semantic_dedup").count()
    assert(semCount == 3)

    // stage off → identical pipeline plus the semantic loser; no
    // semantic_dedup entry in the stage list
    val off = CorpusPipeline.prepare(corpus, None,
      cfg.copy(semanticDedup = None))
    assert(off.documents.select("doc_id").as[Long].collect().toSet ==
      Set(1L, 101L, 2L, 3L))
    assert(!off.stages.map(_._1).contains("semantic_dedup"))
  }

  test("optional blocklist gate: token-exact drops in the quality stage, off = unchanged") {
    val corpus = Seq(
      (1L, "this document mentions contraband right in the middle of the text " +
        "and it is long enough for the token floor"),
      (2L, "contrabandist is a LONGER token and must not trip the exact gate " +
        "even though it shares a prefix with the listed word"),
      (3L, "perfectly clean prose about query engines and the shuffle plans " +
        "they produce for large scans"))
      .toDF("doc_id", "text")
    val cfg = CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, dedupThreshold = 0.8,
      blocklist = Seq("contraband"),
      chunkTokens = 64, overlapTokens = 16, splits = Seq("train" -> 1.0))
    val on = CorpusPipeline.prepare(corpus, None, cfg)
    assert(on.documents.select("doc_id").as[Long].collect().toSet == Set(2L, 3L))
    val off = CorpusPipeline.prepare(corpus, None, cfg.copy(blocklist = Nil))
    assert(off.documents.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("optional fuzzy-decontamination stage: reworded benchmark leak drops only there") {
    val base = "the quick brown fox jumps over the lazy dog and it was a " +
      "good day for all of you with this fine weather in the field near " +
      "the river bank where we like to walk for a while every morning"
    // A marker token after every 7th token: every verbatim run is <= 7
    // tokens (the exact 8-gram probe is blind) while the trigram Jaccard
    // to the benchmark stays ~0.5 — visible to fuzzy tau=0.4, invisible
    // to the 0.8 near-dup rung. The asymmetric-threshold production
    // shape: decon cut BELOW the dedup cut.
    val reworded = base.split(" ").grouped(7)
      .flatMap(g => g :+ "qq9").mkString(" ")
    val corpus = Seq(
      (1L, base), // verbatim leak — the EXACT stage's kill
      (2L, reworded), // reworded leak — only the fuzzy stage can see it
      (3L, "cooking with fresh herbs is a joy and you should try it for " +
        "dinner this week with your family at home every single night"))
      .toDF("doc_id", "text")
    val bench = Seq((500L, base)).toDF("doc_id", "text")
    val cfg = CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, dedupThreshold = 0.8,
      decontaminateN = 8, fuzzyDecontaminate = Some(0.4),
      chunkTokens = 64, overlapTokens = 16, splits = Seq("train" -> 1.0))

    val out = CorpusPipeline.prepare(corpus, Some(bench), cfg)
    assert(out.stages.map(_._1) == Seq("input", "quality", "exact_dedup",
      "near_dedup", "decontaminated", "decontaminated_fuzzy"),
      "fuzzy stage must follow the exact decontamination stage")
    val stage = out.stages.toMap
    val afterExact = stage("decontaminated").select("doc_id").as[Long].collect().toSet
    assert(afterExact == Set(2L, 3L),
      s"exact decon drops the verbatim leak but MUST pass the reworded twin: $afterExact")
    val ids = out.documents.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(3L),
      s"the fuzzy stage is the only rung that can catch the reworded leak: $ids")

    // stage off → the reworded leak survives to the output; no
    // decontaminated_fuzzy entry in the stage list
    val off = CorpusPipeline.prepare(corpus, Some(bench),
      cfg.copy(fuzzyDecontaminate = None))
    assert(off.documents.select("doc_id").as[Long].collect().toSet == Set(2L, 3L))
    assert(!off.stages.map(_._1).contains("decontaminated_fuzzy"))
  }

  test("optional URL-dedup rung: canonical-URL duplicates drop FIRST, null urls exempt") {
    // docs 1 and 2 share a canonical URL but have DIFFERENT text — no
    // other rung can collapse them, only the URL rung (min-id survivor);
    // doc 4 has no URL and must pass unconditionally (no URL ≠ same URL)
    val corpus = Seq(
      (1L, "the first version of the page content and it is long enough for the token floor with you"),
      (2L, "a second story about ships and harbors that is also long enough for the floor right now"),
      (3L, "a third tale of rivers and the quiet morning light that you can hear for a while"),
      (4L, "the fourth document with no url at all and it is long enough for the token floor too"))
      .toDF("doc_id", "text")
      .withColumn("url",
        when($"doc_id" === 1L, lit("https://WWW.Example.COM/a?utm_source=x"))
          .when($"doc_id" === 2L, lit("https://example.com:443/a#frag"))
          .when($"doc_id" === 3L, lit("doc-3"))
          .otherwise(lit(null).cast("string")))
    val cfg = CorpusPipeline.Config(
      urlCol = Some("url"), langs = Set("en"), minTokens = 10,
      dedupThreshold = 0.8, chunkTokens = 64, overlapTokens = 16,
      splits = Seq("train" -> 1.0))
    val out = CorpusPipeline.prepare(corpus, None, cfg)
    // URL rung is the FIRST rung after input (before the strip/gate scans)
    assert(out.stages.map(_._1).take(3) == Seq("input", "url_dedup", "quality"))
    val ids = out.documents.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 3L, 4L),
      s"canonical-url pair {1,2} must collapse to min id 1; null-url 4 kept: $ids")

    // off → the URL twin survives (its text is unique to every other rung)
    val off = CorpusPipeline.prepare(corpus, None, cfg.copy(urlCol = None))
    assert(off.documents.select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 4L))
    assert(!off.stages.map(_._1).contains("url_dedup"))
  }

  test("materializeDocuments: identical documents and chunks, observations still fire") {
    val corpus = docs.select($"doc_id", $"text")
    val benchmark = docs.where($"doc_id" % 50 === 0).select($"doc_id", $"text")
    val cfg = CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, dedupThreshold = 0.5,
      chunkTokens = 64, overlapTokens = 16, splits = Seq("train" -> 1.0))
    val lazyOut = CorpusPipeline.prepare(corpus, Some(benchmark), cfg)
    val matOut = CorpusPipeline.prepare(corpus, Some(benchmark),
      cfg.copy(materializeDocuments = true))
    def docSet(p: CorpusPipeline.Prepared) =
      p.documents.select($"doc_id", $"split", length($"text").as("l"))
        .as[(Long, String, Int)].collect().toSet
    def chunkSet(p: CorpusPipeline.Prepared) =
      p.chunks.select($"doc_id", $"chunk_idx",
        $"n_chunk_tokens".cast("long"), $"split")
        .as[(Long, Long, Long, String)].collect().toSet
    assert(docSet(matOut) == docSet(lazyOut))
    assert(chunkSet(matOut) == chunkSet(lazyOut))
    // the eager checkpoint executed the chain, so every observation is
    // already collected — stage counts agree between the two modes
    assert(matOut.observedCounts == {
      lazyOut.documents.count(); lazyOut.observedCounts
    })
  }

  test("optional model quality gate: below-threshold docs drop in the quality scan, off = unchanged") {
    import graft.operators.{FrozenQualityModel, QualityModel}
    // the frozen model's positive class: filler-augmented (even) docs
    val corpus = docs.select($"doc_id",
      when($"doc_id" % 2 === 0,
        concat($"text", lit(graft.QmOracle.fillerSuffix)))
        .otherwise($"text").as("text"))
    val cfg = CorpusPipeline.Config(langs = Set("en"), minTokens = 10,
      dedupThreshold = 0.5, chunkTokens = 64, overlapTokens = 16,
      splits = Seq("train" -> 1.0))
    val predicted = QualityModel
      .score(corpus, "text", "doc_id", FrozenQualityModel.model)
      .where($"predicted").select("doc_id").as[Long].collect().toSet
    assert(predicted.nonEmpty, "fixture must have a positive class")

    val on = CorpusPipeline.prepare(corpus, None, cfg.copy(modelGate =
      Some(CorpusPipeline.ModelGateConfig(FrozenQualityModel.model, minLogit = 0.0))))
    val onIds = on.documents.select("doc_id").as[Long].collect().toSet
    assert(onIds.nonEmpty && onIds.subsetOf(predicted),
      "no below-threshold doc may survive the model gate")
    // no extra stage: the logit folds into the quality scan
    assert(on.stages.map(_._1) ==
      Seq("input", "quality", "exact_dedup", "near_dedup", "decontaminated"))

    // off → low-logit docs flow through to the end
    val off = CorpusPipeline.prepare(corpus, None, cfg)
    val offIds = off.documents.select("doc_id").as[Long].collect().toSet
    assert((offIds -- predicted).nonEmpty,
      "gate off must keep below-threshold docs")
  }

  test("optional perplexity gate: low mean-log docs drop in the quality scan, off = unchanged") {
    import graft.operators.{FrozenNgramLm, NgramLm}
    // the frozen LM's reference class: filler-augmented (even) docs
    val corpus = docs.select($"doc_id",
      when($"doc_id" % 2 === 0,
        concat($"text", lit(graft.QmOracle.fillerSuffix)))
        .otherwise($"text").as("text"))
    val cfg = CorpusPipeline.Config(langs = Set("en"), minTokens = 10,
      dedupThreshold = 0.5, chunkTokens = 64, overlapTokens = 16,
      splits = Seq("train" -> 1.0))
    val thr = -3.0
    val cleared = NgramLm
      .filterByScore(corpus, "text", FrozenNgramLm.model, thr)
      .select("doc_id").as[Long].collect().toSet
    assert(cleared.nonEmpty, "fixture must have a reference-shaped class")

    val on = CorpusPipeline.prepare(corpus, None, cfg.copy(perplexityGate =
      Some(CorpusPipeline.PerplexityGateConfig(FrozenNgramLm.model, minMeanLog = thr))))
    val onIds = on.documents.select("doc_id").as[Long].collect().toSet
    assert(onIds.nonEmpty && onIds.subsetOf(cleared),
      "no below-threshold doc may survive the perplexity gate")
    // no extra stage: the LM score folds into the quality scan
    assert(on.stages.map(_._1) ==
      Seq("input", "quality", "exact_dedup", "near_dedup", "decontaminated"))

    // off → low-score docs flow through to the end
    val off = CorpusPipeline.prepare(corpus, None, cfg)
    val offIds = off.documents.select("doc_id").as[Long].collect().toSet
    assert((offIds -- cleared).nonEmpty,
      "gate off must keep below-threshold docs")
  }

  test("training-mix tail: domain cap, token-share mix, temperature mix, packing compose as rungs") {
    import graft.functions.TextAnalysis
    val corpus = docs.select($"doc_id", $"text", $"source")
    val cfg = CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, dedupThreshold = 0.5,
      domainCap = Some(CorpusPipeline.DomainCapConfig("source", k = 3)),
      mixToShares = Some(CorpusPipeline.MixConfig("source",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))),
      temperatureMix = Some(CorpusPipeline.TemperatureMixConfig("source",
        alpha = 0.5, targetFraction = 0.9)),
      chunkTokens = 64, overlapTokens = 16, packTokenBudget = Some(256L),
      splits = Seq("train" -> 1.0), materializeDocuments = true)
    val out = CorpusPipeline.prepare(corpus, None, cfg)

    // stage ORDER is load-bearing: cap after the gate / before the dedup
    // rungs; mixing after every selection rung / before redaction
    assert(out.stages.map(_._1) == Seq("input", "quality", "domain_cap",
      "exact_dedup", "near_dedup", "decontaminated", "mixed",
      "temperature_mixed"))

    // cap keeps at most k per source, and exactly the BEST k (token
    // count desc, ties by ascending id) of the gate survivors
    val stages = out.stages.toMap
    val capRows = stages("domain_cap")
      .select($"source", $"doc_id").as[(String, Long)].collect()
    assert(capRows.groupBy(_._1).forall(_._2.length <= 3))
    val ranked = stages("quality")
      .select($"source", $"doc_id", TextAnalysis.tokenCount($"text").as("n"))
      .as[(String, Long, Int)].collect()
      .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        rows.sortBy(r => (-r._3, r._2)).take(3).toSeq }
      .map(r => (r._1, r._2)).toSet
    assert(capRows.toSet == ranked, "cap must keep the best-k per source")
    // the cap plans as a map-side-partial WindowGroupLimit before its one
    // exchange (the Sampling.capPerGroup scale shape, composed)
    val capPlan = stages("domain_cap").queryExecution.executedPlan.toString
    assert(capPlan.contains("WindowGroupLimit"),
      s"domain cap must plan a WindowGroupLimit:\n$capPlan")

    // mix: only the target strata survive to documents
    val outSources = out.documents.select("source").distinct()
      .as[String].collect().toSet
    assert(outSources.subsetOf(Set("src0", "src1", "src2")),
      s"non-target strata must drop at the mix rung: $outSources")
    assert(outSources.nonEmpty)

    // packing: no example exceeds the budget, and the examples PARTITION
    // the chunk set (every chunk in exactly one example)
    val pk = out.packed.get.cache()
    assert(pk.where($"n_tokens" > 256).count() == 0)
    assert(pk.agg(sum($"n_chunks")).head().getLong(0) == out.chunks.count())
    assert(pk.select("example_id").distinct().count() == pk.count())

    // tail off → no extra stages, no packed output
    val off = CorpusPipeline.prepare(corpus, None, cfg.copy(
      domainCap = None, mixToShares = None, temperatureMix = None,
      packTokenBudget = None))
    assert(off.packed.isEmpty)
    assert(off.stages.map(_._1) == Seq("input", "quality", "exact_dedup",
      "near_dedup", "decontaminated"))
  }

  test("image dedup rung: stage order, min-id survivors among planted twins, null payloads pass") {
    import graft.operators.ImageFixture
    val base = docs.select($"doc_id", $"text")
    val corpus = base.as[(Long, String)].map { case (id, tx) =>
      val img = id < ImageFixture.NumImages
      (id, tx, if (img) "image/png" else null,
        if (img) ImageFixture.pngBytes(id) else null)
    }.toDF("doc_id", "text", "media_type", "content")
    val out = CorpusPipeline.prepare(corpus, None, CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, dedupThreshold = 0.5,
      imageDedup = Some(CorpusPipeline.ImageDedupConfig(
        "media_type", "content", maxHamming = 6)),
      chunkTokens = 64, overlapTokens = 16,
      splits = Seq("train" -> 1.0), materializeDocuments = true))
    // stage ORDER: the image rung sits between near-dup and decon
    assert(out.stages.map(_._1) == Seq("input", "quality", "exact_dedup",
      "near_dedup", "image_dedup", "decontaminated"))
    val st = out.stages.toMap
    val near = st("near_dedup").select("doc_id").as[Long].collect().toSet
    val img = st("image_dedup").select("doc_id").as[Long].collect().toSet
    // the fixture's only <=6-bit pairs are the planted (3k, 3k+1) twins
    // (MultimodalSpec pins this); where BOTH reach the stage, min id wins.
    // Docs without a payload (id >= 60) must all pass through.
    val expectedLosers = (0 until 20)
      .map(k => (3L * k, 3L * k + 1))
      .filter { case (a, b) => near(a) && near(b) }
      .map(_._2).toSet
    assert(img == near -- expectedLosers,
      s"unexpected image-stage delta: ${(near -- img) -- expectedLosers}")
    assert(expectedLosers.nonEmpty, "fixture must exercise the rung")
    assert((near -- img).forall(_ < ImageFixture.NumImages),
      "null-payload docs must never drop at the image rung")
  }

  test("audio dedup rung: stage order, min-id survivors among planted twins, null payloads pass") {
    import graft.operators.AudioFixture
    val base = docs.select($"doc_id", $"text")
    val corpus = base.as[(Long, String)].map { case (id, tx) =>
      val aud = id < AudioFixture.NumClips
      (id, tx, if (aud) "audio/wav" else null,
        if (aud) AudioFixture.wavBytes(id) else null)
    }.toDF("doc_id", "text", "media_type", "content")
    val out = CorpusPipeline.prepare(corpus, None, CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, dedupThreshold = 0.5,
      audioDedup = Some(CorpusPipeline.AudioDedupConfig(
        "media_type", "content", maxHamming = 4)),
      chunkTokens = 64, overlapTokens = 16,
      splits = Seq("train" -> 1.0), materializeDocuments = true))
    // stage ORDER: the audio rung sits between near-dup and decon
    assert(out.stages.map(_._1) == Seq("input", "quality", "exact_dedup",
      "near_dedup", "audio_dedup", "decontaminated"))
    val st = out.stages.toMap
    val near = st("near_dedup").select("doc_id").as[Long].collect().toSet
    val aud = st("audio_dedup").select("doc_id").as[Long].collect().toSet
    // the fixture's only <=4-bit pairs are the planted (3k, 3k+1) twins
    // (MultimodalSpec pins this); where BOTH reach the stage, min id wins.
    // Docs without a payload (id >= 60) must all pass through.
    val expectedLosers = (0 until 20)
      .map(k => (3L * k, 3L * k + 1))
      .filter { case (a, b) => near(a) && near(b) }
      .map(_._2).toSet
    assert(aud == near -- expectedLosers,
      s"unexpected audio-stage delta: ${(near -- aud) -- expectedLosers}")
    assert(expectedLosers.nonEmpty, "fixture must exercise the rung")
    assert((near -- aud).forall(_ < AudioFixture.NumClips),
      "null-payload docs must never drop at the audio rung")
  }

  test("video dedup rung: stage order, min-id survivors among planted twins, null payloads pass") {
    import graft.operators.VideoFixture
    val base = docs.select($"doc_id", $"text")
    val corpus = base.as[(Long, String)].map { case (id, tx) =>
      val vid = id < VideoFixture.NumClips
      (id, tx, if (vid) "video/avi" else null,
        if (vid) VideoFixture.aviBytes(id) else null)
    }.toDF("doc_id", "text", "media_type", "content")
    val out = CorpusPipeline.prepare(corpus, None, CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, dedupThreshold = 0.5,
      videoDedup = Some(CorpusPipeline.VideoDedupConfig(
        "media_type", "content", everyN = 2, maxHamming = 4,
        minMatchFrac = 0.6)),
      chunkTokens = 64, overlapTokens = 16,
      splits = Seq("train" -> 1.0), materializeDocuments = true))
    // stage ORDER: the video rung sits between near-dup and decon
    assert(out.stages.map(_._1) == Seq("input", "quality", "exact_dedup",
      "near_dedup", "video_dedup", "decontaminated"))
    val st = out.stages.toMap
    val near = st("near_dedup").select("doc_id").as[Long].collect().toSet
    val vid = st("video_dedup").select("doc_id").as[Long].collect().toSet
    // the fixture's only matched pairs are the planted (3k, 3k+1) twins
    // (MultimodalSpec pins banded == brute force); where BOTH reach the
    // stage, min id wins. Docs without a payload (id >= 45) must pass.
    val expectedLosers = (0 until 15)
      .map(k => (3L * k, 3L * k + 1))
      .filter { case (a, b) => near(a) && near(b) }
      .map(_._2).toSet
    assert(vid == near -- expectedLosers,
      s"unexpected video-stage delta: ${(near -- vid) -- expectedLosers}")
    assert(expectedLosers.nonEmpty, "fixture must exercise the rung")
    assert((near -- vid).forall(_ < VideoFixture.NumClips),
      "null-payload docs must never drop at the video rung")
  }

  test("langs config with a non-en set: the gate keeps exactly the configured languages") {
    val lp = graft.functions.LangProfiles
    // plant Spanish (stopword-voted) and Russian (script-detected) docs
    // among the English corpus; gate on {es, ru}. The token/alpha-ratio
    // proxies are Latin-specific, so a non-Latin pipeline relaxes them —
    // the realistic multilingual configuration.
    val corpus = docs.select($"doc_id",
      when($"doc_id" % 3 === 0, lit(lp.samples("es")))
        .when($"doc_id" % 3 === 1, lit(lp.samples("ru")))
        .otherwise($"text").as("text"))
    val out = CorpusPipeline.prepare(corpus, None, CorpusPipeline.Config(
      langs = Set("es", "ru"), minTokens = 0, minAlphaRatio = 0.0,
      dedupThreshold = 0.5, chunkTokens = 64, overlapTokens = 16,
      splits = Seq("train" -> 1.0), materializeDocuments = true))
    graft.functions.GraftFunctions.register(spark)
    val langs = out.documents
      .select(graft.functions.GraftFunctions.langIdNative($"text").as("l"))
      .distinct().as[String].collect().toSet
    assert(langs == Set("es", "ru"),
      s"gate must keep exactly the configured languages, got $langs")
    // identical planted texts collapse to one survivor per language
    assert(out.documents.count() == 2L)
  }

  test("mix rung: NON-empty corpus with zero target-stratum mass yields empty output, not a crash") {
    // survivors exist, but every one sits outside the target strata —
    // the data-dependent state the rung must resolve itself (round-11
    // ADVICE): largest achievable downsample-only total is 0 => empty.
    val corpus = docs.select($"doc_id", $"text", $"source")
    val cfg = CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, dedupThreshold = 0.5,
      mixToShares = Some(CorpusPipeline.MixConfig("source",
        Map("no_such_source" -> 1.0))),
      chunkTokens = 64, overlapTokens = 16,
      splits = Seq("train" -> 1.0), materializeDocuments = true)
    val out = CorpusPipeline.prepare(corpus, None, cfg)
    assert(out.documents.count() == 0L, "no target mass => empty mix output")
    val counts = out.observedCounts.toMap
    assert(counts("decontaminated") > 0L, "pre-mix survivors must exist")
    assert(counts("mixed") == 0L)
    // the operator itself keeps its misuse guard when called directly
    val e = intercept[IllegalArgumentException] {
      graft.operators.Sampling.mixToTokenShares(
        corpus.withColumn("_n", org.apache.spark.sql.functions.lit(5L)),
        "doc_id", "source", "_n", Map("no_such_source" -> 1.0))
    }
    assert(e.getMessage.contains("no target stratum"))
  }

  test("dsir selection + mixing combined: the dsir stage count stays the FULL k") {
    // regression: the mix rung's emptiness probe used to run a limit-1
    // take THROUGH the dsir stage's CollectMetrics node, completing the
    // observation with a partial count (first action wins) — the probe
    // must read the bare checkpoint instead
    import graft.operators.FrozenDsir
    val corpus = docs.select($"doc_id",
      when($"doc_id" % 2 === 0,
        concat($"text", lit(graft.QmOracle.fillerSuffix)))
        .otherwise($"text").as("text"), $"source")
    val shares = (0 until 20).map(i => s"src$i" -> 0.05).toMap
    val out = CorpusPipeline.prepare(corpus, None, CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, dedupThreshold = 0.5,
      dsirSelect = Some(CorpusPipeline.DsirSelectConfig(FrozenDsir.model, k = 20)),
      mixToShares = Some(CorpusPipeline.MixConfig("source", shares)),
      chunkTokens = 64, overlapTokens = 16, splits = Seq("train" -> 1.0),
      materializeDocuments = true))
    val counts = out.observedCounts.toMap
    assert(counts("dsir_selected") == 20L,
      s"dsir count must be the full k, not a probe-truncated partial: $counts")
    assert(counts("mixed") <= 20L && counts("mixed") > 0L)
    out.stageReport.foreach { case (n, _, dropped) =>
      assert(dropped >= 0L, s"stage $n reports negative drop: $dropped") }
  }

  test("bpeChunking: chunk windows and packing budget count trained-BPE pieces") {
    import graft.operators.{Bpe, FrozenBpe}
    val corpus = docs.select($"doc_id", $"text").limit(60)
    val cfg = CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, dedupThreshold = 0.5,
      chunkTokens = 64, overlapTokens = 16, packTokenBudget = Some(256L),
      splits = Seq("train" -> 1.0), materializeDocuments = true)
    val bpe = CorpusPipeline.prepare(corpus, None,
      cfg.copy(bpeChunking = Some(FrozenBpe.model)))
    // chunk token mass == the BPE piece mass of the surviving documents
    val pieceMass = bpe.documents.select(
      sum(size(Bpe.pieces($"text", FrozenBpe.model)))).head().getLong(0)
    val chunkMass = bpe.chunks.agg(
      sum(when($"chunk_idx" === 0, $"n_chunk_tokens")
        .otherwise($"n_chunk_tokens" - 16))).head().getLong(0)
    assert(chunkMass == pieceMass,
      s"BPE chunk windows must cover the piece stream: $chunkMass vs $pieceMass")
    // packing budget holds in piece units, and examples partition chunks
    val pk = bpe.packed.get.cache()
    assert(pk.where($"n_tokens" > 256).count() == 0)
    assert(pk.agg(sum($"n_chunks")).head().getLong(0) == bpe.chunks.count())
    // off = whitespace units: the same docs yield a different (smaller)
    // token mass — BPE pieces per word >= 1
    val ws = CorpusPipeline.prepare(corpus, None, cfg)
    val wsMass = ws.chunks.agg(sum($"n_chunk_tokens")).head().getLong(0)
    val bpeMass = bpe.chunks.agg(sum($"n_chunk_tokens")).head().getLong(0)
    assert(bpeMass >= wsMass, "piece mass must dominate word mass")
  }

  test("observedCounts before any action fails fast with a descriptive error, not a hang") {
    val corpus = docs.select($"doc_id", $"text").limit(40)
    val out = CorpusPipeline.prepare(corpus, None, CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, dedupThreshold = 0.5,
      chunkTokens = 64, overlapTokens = 16, splits = Seq("train" -> 1.0)))
    // the dedup rungs' internal materializations fire the EARLY
    // observations during prepare, but the tail stages' accumulators
    // only ride the caller's action — reading counts without one used to
    // block the driver forever on Observation.get (round-10 ADVICE)
    val ex = intercept[IllegalStateException] { out.observedCounts }
    assert(ex.getMessage.contains("run an action"),
      s"error must tell the caller what to do: ${ex.getMessage}")
    // after an action, the same call returns the full ledger
    out.documents.count()
    assert(out.observedCounts.nonEmpty &&
      out.observedCounts.forall(_._2 >= 0L))
  }

  test("optional C4 rules: line clean + page gates fold into the quality scan, off = unchanged") {
    val prose = "It was a fine day. The tests all passed! Did they really? " +
      "“Yes indeed.” And so it goes on for a while with this fine weather."
    val corpus = Seq(
      (1L, prose + "\nclick here\nmenu home about contact"), // passes; boilerplate lines scrubbed
      (2L, prose + "\nLorem ipsum dolor sit amet."),         // page-dropped: lorem
      (3L, prose + "\nfunction f() { return 1; } done."),    // page-dropped: curly brace
      (4L, "Just one sentence is here today with enough words for you."))
      .toDF("doc_id", "text")                                // page-dropped: < 5 sentences
    val cfg = CorpusPipeline.Config(
      c4Rules = true, langs = Set("en"), minTokens = 10,
      dedupThreshold = 0.8, chunkTokens = 64, overlapTokens = 16,
      splits = Seq("train" -> 1.0))
    val out = CorpusPipeline.prepare(corpus, None, cfg)
    val texts = out.documents.select($"doc_id", $"text")
      .as[(Long, String)].collect().toMap
    assert(texts.keySet == Set(1L),
      s"lorem/curly/sentence-floor pages must drop: ${texts.keySet}")
    // the line clean scrubbed the unpunctuated boilerplate lines and the
    // surviving prose is intact
    assert(!texts(1L).contains("click here") && !texts(1L).contains("menu home"))
    assert(texts(1L).contains("The tests all passed!"))
    // the raw-page gates get their own stage (its CollectMetrics node is
    // the pushdown barrier that keeps c4LineClean single-evaluation);
    // the sentence floor + line clean still ride the quality scan
    assert(out.stages.map(_._1) ==
      Seq("input", "c4_page_gate", "quality", "exact_dedup", "near_dedup",
        "decontaminated"))
    out.documents.count()
    assert(out.observedCounts.toMap.apply("c4_page_gate") == 2L,
      "raw gates keep docs 1 and 4 (no curly, no lorem)")
    // ONE c4LineClean per surviving row: the sentence floor reads the
    // cleaned ATTRIBUTE above the c4_page_gate CollectMetrics barrier
    // instead of re-deriving the clean (round-10 measured it twice).
    // The pipeline's own quality frame is checkpointed (its plan is a
    // scan), so assert on the same filter-over-observed-projection shape
    // the pipeline builds: the c4LineKeep terminal-punct class must
    // appear exactly once (in the projection), and the floor's filter
    // must sit ABOVE the CollectMetrics node, not pushed through it.
    val gateShape = out.stages.collectFirst { case ("c4_page_gate", df) => df }
      .get.where(graft.functions.TextAnalysis.c4MinSentencesOk($"text"))
    val planStr = gateShape.queryExecution.optimizedPlan.toString
    val cleanCount = "\\[\\.!\\?”".r.findAllIn(planStr).size
    assert(cleanCount == 1,
      s"c4LineClean must appear exactly once in the optimized plan, found $cleanCount:\n$planStr")
    val filterIdx = planStr.indexOf("Filter")
    val metricsIdx = planStr.indexOf("CollectMetrics")
    assert(filterIdx >= 0 && metricsIdx >= 0 && filterIdx < metricsIdx,
      s"the sentence floor must stay above the CollectMetrics barrier:\n$planStr")

    // off → every doc survives with its boilerplate untouched
    val off = CorpusPipeline.prepare(corpus, None, cfg.copy(c4Rules = false))
    val offTexts = off.documents.select($"doc_id", $"text")
      .as[(Long, String)].collect().toMap
    assert(offTexts.keySet == Set(1L, 2L, 3L, 4L))
    assert(offTexts(1L).contains("click here"))
  }

  test("stage accounting: observed counts ride the materializing pass and equal recomputed counts") {
    import graft.operators.FrozenDsir
    // a config that turns on MOST optional rungs, so every conditional
    // observation point is exercised: 8 stages (input, quality,
    // exact_dedup, line_dedup, near_dedup, decontaminated,
    // decontaminated_fuzzy, dsir_selected)
    val corpus = docs.select($"doc_id",
      when($"doc_id" % 2 === 0,
        concat($"text", lit(graft.QmOracle.fillerSuffix)))
        .otherwise($"text").as("text"))
    val bench = docs.where($"doc_id" % 50 === 0).select($"doc_id", $"text")
    val cfg = CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, dedupThreshold = 0.5,
      lineDedupMinDocs = Some(2), decontaminateN = 8,
      fuzzyDecontaminate = Some(0.4),
      dsirSelect = Some(CorpusPipeline.DsirSelectConfig(FrozenDsir.model, k = 15)),
      chunkTokens = 64, overlapTokens = 16, splits = Seq("train" -> 1.0))
    val out = CorpusPipeline.prepare(corpus, Some(bench), cfg)

    // observations mirror the stage list name for name, in order
    assert(out.observations.map(_._1) == out.stages.map(_._1))

    // ONE action over documents = the materializing pass every stage
    // observation rides (upstream rungs' internal materializations fired
    // most of them during prepare already)
    out.documents.count()

    val observed = out.observedCounts.toMap
    val recomputed = out.stages.map { case (n, df) => n -> df.count() }.toMap
    assert(observed == recomputed,
      s"observed stage counts must equal recomputed counts:\n$observed\nvs\n$recomputed")
    // and the counts are real (the fixture is non-trivial at every rung)
    assert(observed("input") > 0 && observed("dsir_selected") == 15L)

    // the report derives (kept, dropped) per stage from the same counts
    val report = out.stageReport
    assert(report.map(_._1) == out.stages.map(_._1))
    report.foreach { case (name, kept, dropped) =>
      assert(kept == observed(name))
      assert(dropped >= 0L, s"stage $name reports negative drop: $dropped")
    }
    assert(report.head == (("input", observed("input"), 0L)))
    assert(report.map(_._3).sum == observed("input") - observed("dsir_selected"),
      "drops must telescope from input to the last stage")
  }

  test("optional DSIR-selection stage: k importance-weighted survivors, LAST content rung") {
    import graft.operators.{Dsir, FrozenDsir}
    // even-id docs get the frozen model's target-class filler (mean
    // log-weight +12 vs −30 — the separation dwarfs the Gumbel noise),
    // so the selected set must be dominated by them
    val corpus = docs.select($"doc_id",
      when($"doc_id" % 2 === 0,
        concat($"text", lit(graft.QmOracle.fillerSuffix)))
        .otherwise($"text").as("text"))
    val cfg = CorpusPipeline.Config(
      langs = Set("en"), minTokens = 10, dedupThreshold = 0.5,
      dsirSelect = Some(CorpusPipeline.DsirSelectConfig(FrozenDsir.model, k = 15)),
      chunkTokens = 64, overlapTokens = 16, splits = Seq("train" -> 1.0))
    val out = CorpusPipeline.prepare(corpus, None, cfg)

    assert(out.stages.map(_._1).last == "dsir_selected",
      s"selection must be the LAST content stage: ${out.stages.map(_._1)}")
    val ids = out.documents.select("doc_id").as[Long].collect().toSet
    assert(ids.size == 15)
    assert(ids.count(_ % 2 == 0) >= 14,
      s"selection must be dominated by the target class: $ids")

    // the selected set is exactly Dsir.resampleRows over the pre-selection
    // survivors — the stage adds selection, never changes upstream rungs
    val upstream = CorpusPipeline.prepare(corpus, None,
      cfg.copy(dsirSelect = None))
    val expected = Dsir.resampleRows(
      upstream.stages.toMap.apply("decontaminated"), "text", "doc_id",
      FrozenDsir.model, 15).select("doc_id").as[Long].collect().toSet
    assert(ids == expected, "pipeline selection must equal the bare operator")
    assert(!upstream.stages.map(_._1).contains("dsir_selected"))
  }

  test("multilingual pipeline: tokenizer=Ml + langs incl. zh/ja/ru/ar — gates, dedups, and chunks non-Latin text end to end") {
    import graft.functions.Tok
    import graft.operators.MlFixture
    // gateDocs = tripled natural zh/ja/ru/ar/en docs (incl. the planted
    // twins) + per-script garbage (symbol spam, bullet spam, digit spam,
    // stopword-free salad)
    val corpus = MlFixture.gateDocs.toDF("doc_id", "text")
    val cfg = CorpusPipeline.Config(
      langs = Set("en", "zh", "ja", "ru", "ar"),
      tokenizer = Tok.Ml,
      gopherRules = true,
      minTokens = 10, dedupThreshold = 0.5,
      chunkTokens = 512, overlapTokens = 64)
    val out = CorpusPipeline.prepare(corpus, None, cfg)
    val ids = out.documents.select("doc_id").as[Long].collect().toSet
    // per-script Gopher gate: every natural doc passes (the stopword-free
    // en pangram 42 fails its floor); garbage drops — 900/901 on gopher
    // flags, 902/903 on lang routing (und ∉ langs)
    // near-dup rung: the tripled twins still sit far above J=0.5, so the
    // min-id survivor keeps 0/10/20/30/40 and drops 1/11/21/31/41
    assert(ids == Set(0L, 2L, 10L, 20L, 22L, 30L, 40L),
      s"survivors: $ids")
    // chunking runs on ML tokens: the zh survivor chunks with its
    // CHARACTER token count (the Latin tokenizer would emit zero tokens
    // and zero chunks for it)
    val zhChunks = out.chunks.where($"doc_id" === 0L)
      .select($"chunk_text", $"n_chunk_tokens".cast("long")).collect()
    assert(zhChunks.nonEmpty, "zh document must produce chunks")
    val zhTok = graft.functions.ShingleUtil.normTokensMl(
      org.apache.spark.unsafe.types.UTF8String.fromString(
        MlFixture.gateDocs.toMap.apply(0L))).length
    assert(zhChunks.map(_.getLong(1)).sum == zhTok,
      "chunk token accounting must equal the ml token count")
    // and under the DEFAULT Latin tokenizer the same corpus loses every
    // non-Latin document at the gate (zero tokens < minTokens) — the
    // contrast that makes tokenizer=Ml load-bearing
    val latinOut = CorpusPipeline.prepare(corpus, None,
      cfg.copy(tokenizer = Tok.Latin, gopherRules = false))
    val latinIds = latinOut.documents.select("doc_id").as[Long].collect().toSet
    assert(latinIds.forall(id => id >= 40),
      s"Latin pipeline must drop all non-Latin docs, kept: $latinIds")
  }

  test("composed multilingual pipeline: ml exact rung + CJK decontamination (the q_corpus_pipeline_ml shape)") {
    import graft.functions.Tok
    import graft.operators.MlFixture
    // pipelineDocs = gateDocs + an exact ml-content duplicate (500) of
    // the tripled zh base; benchmark = the clean unrelated zh/en docs.
    // The registered q_corpus_pipeline_ml is hash-pinned against the
    // full DuckDB restatement; this spec keeps the survivor set visible
    // in the suite (and names which rung removed what).
    val corpus = MlFixture.pipelineDocs.toDF("doc_id", "text")
    val bench = MlFixture.docs
      .collect { case (i, _, t) if i == 2L || i == 42L => (i, t) }
      .toDF("doc_id", "text")
    val cfg = CorpusPipeline.Config(
      tokenizer = Tok.Ml, gopherRules = true,
      langs = Set("ar", "en", "ja", "ru", "zh"),
      minTokens = 10, dedupThreshold = 0.5, decontaminateN = 8,
      chunkTokens = 64, overlapTokens = 16,
      materializeDocuments = true)
    val out = CorpusPipeline.prepare(corpus, Some(bench), cfg)
    val ids = out.documents.select("doc_id").as[Long].collect().toSet
    // garbage + the stopword-free en pangram (42) gate-dropped; 500
    // exact-deduped into base 0; twins near-deduped; the zh leak (2)
    // decontaminated — the hit a Latin-tokenizer decon never sees
    assert(ids == Set(0L, 10L, 20L, 22L, 30L, 40L), s"survivors: $ids")
    val counts = out.observedCounts.toMap
    assert(counts("exact_dedup") == counts("quality") - 1,
      "the planted exact duplicate must fall at the ml exact rung")
    assert(counts("decontaminated") == counts("near_dedup") - 1,
      "the zh benchmark leak must fall at decontamination")
  }

  test("ALL-RUNGS composed pipeline: ml + semantic-JL + image dedup + media decon + mix + pack in one config (the q_corpus_pipeline_full shape)") {
    import graft.functions.Tok
    import graft.operators.{Dedup, ImageFixture, MlFixture}
    val attach = MlFixture.fullMediaAttach.toMap
    val corpus = MlFixture.fullDocs.toDF("doc_id", "text")
      .as[(Long, String)].map { case (id, tx) =>
        val img = attach.get(id)
        (id, tx, s"src${id % 3}",
          img.map(_ => "image/png").orNull,
          img.map(ImageFixture.pngBytes).orNull,
          MlFixture.fullEmbedding(id))
      }.toDF("doc_id", "text", "source", "media_type", "content", "embedding")
    val bench = MlFixture.docs
      .collect { case (i, _, t) if i == 2L || i == 42L => (i, t) }
      .toDF("doc_id", "text")
    val benchHashes = Dedup.imageHashFrame(
      ImageFixture.frame(spark)
        .where(col("media_id").isin(MlFixture.fullBenchImageIds: _*)),
      "media_id", "media_type", "content")
    val cfg = CorpusPipeline.Config(
      tokenizer = Tok.Ml, gopherRules = true,
      langs = Set("ar", "en", "ja", "ru", "zh"),
      minTokens = 10, dedupThreshold = 0.5, decontaminateN = 8,
      semanticDedup = Some(CorpusPipeline.SemanticDedupConfig(
        "embedding", graft.operators.FrozenAnn.coarse, threshold = 0.9,
        projectTo = Some(16))),
      imageDedup = Some(CorpusPipeline.ImageDedupConfig(
        "media_type", "content", maxHamming = 6)),
      mediaDecontaminate = Some(CorpusPipeline.MediaDecontaminateConfig(
        "media_type", "content", kind = "image",
        benchmarkHashes = benchHashes, maxHamming = 6)),
      mixToShares = Some(CorpusPipeline.MixConfig(
        "source", Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))),
      chunkTokens = 64, overlapTokens = 16,
      packTokenBudget = Some(256L),
      materializeDocuments = true)
    val out = CorpusPipeline.prepare(corpus, Some(bench), cfg)
    out.documents.count() // fire the observations
    val counts = out.observedCounts.toMap
    // each planted interaction falls at ITS rung: the ml twins at
    // near-dup, ONE of the embedding pair {600, 601} at semantic-JL
    // (lexically unrelated — no text rung can see it), 701 at the image
    // rung (PNG 4 = PNG 3's near-dup edit), the zh leak at text decon,
    // 702 at media decon (PNG 7 within Hamming 6 of benchmark image 6)
    assert(counts("semantic_dedup") == counts("near_dedup") - 1,
      s"the embedding twin pair must collapse at the semantic rung: $counts")
    assert(counts("image_dedup") == counts("semantic_dedup") - 1,
      s"the image near-dup pair must collapse at the image rung: $counts")
    assert(counts("decontaminated") == counts("image_dedup") - 1,
      s"the zh benchmark leak must fall at text decon: $counts")
    assert(counts("media_decontaminated") == counts("decontaminated") - 1,
      s"the benchmark-image carrier must fall at media decon: $counts")
    val semSurvivors = out.stages.toMap.apply("semantic_dedup")
      .select("doc_id").as[Long].collect().toSet
    assert(Set(600L, 601L).intersect(semSurvivors).size == 1,
      s"exactly one embedding twin survives: $semSurvivors")
    val mediaClean = out.stages.toMap.apply("media_decontaminated")
      .select("doc_id").as[Long].collect().toSet
    assert(mediaClean.contains(700L) && !mediaClean.contains(701L) &&
      !mediaClean.contains(702L) && !mediaClean.contains(2L),
      s"image min-id survivor + decon drops: $mediaClean")
    // the mix rung reads the POST-media-removal ml token masses and its
    // survivors are a subset of the media-clean set
    val mixed = out.documents.select("doc_id").as[Long].collect().toSet
    assert(mixed.subsetOf(mediaClean) && mixed.nonEmpty, s"mixed: $mixed")
    assert(out.packed.nonEmpty && out.packed.get.count() > 0,
      "packing must emit examples")
  }

  test("videoDedup alignFrames=false: the pipeline rung catches a TRIMMED re-upload the aligned rung misses") {
    import graft.operators.VideoFixture
    // two documents with DISTINCT prose (so no text rung collapses them)
    // whose video payloads are clip 0 and clip 0 with its first frame
    // trimmed — every surviving frame identical, every ordinal shifted
    def prose(tag: String) =
      s"this is a perfectly ordinary english paragraph about $tag with " +
        "enough words to clear the minimum token floor for the gate"
    val corpus = Seq(
      (1L, prose("the original video upload"), "video/avi",
        VideoFixture.aviBytes(0L)),
      (2L, prose("a sneaky trimmed re upload of it"), "video/avi",
        VideoFixture.aviBytes(0L, fromFrame = 1)))
      .toDF("doc_id", "text", "media_type", "content")
    def run(align: Boolean) = CorpusPipeline.prepare(corpus, None,
      CorpusPipeline.Config(langs = Set("en"), minTokens = 5,
        videoDedup = Some(CorpusPipeline.VideoDedupConfig(
          "media_type", "content", everyN = 1, alignFrames = align))))
      .documents.select("doc_id").as[Long].collect().toSet
    // aligned (default) is provably blind to the 1-frame trim
    assert(run(align = true) == Set(1L, 2L),
      "aligned rung must miss the ordinal shift")
    // the SET config catches it; min id survives
    assert(run(align = false) == Set(1L),
      "frame-SET rung must drop the trimmed re-upload")
  }

  test("media decontamination rung: a leaked benchmark image drops after the text stages; clean docs survive") {
    import graft.operators.{Dedup, ImageFixture}
    def prose(tag: String) =
      s"this is a perfectly ordinary english paragraph about $tag with " +
        "enough words to clear the minimum token floor for the gate"
    // doc 1 carries benchmark image 0's exact payload (leak), doc 2 its
    // planted near-twin (image 1 — perceptual leak), doc 3 an unrelated
    // image, doc 4 no payload at all
    val corpus = Seq(
      (1L, prose("an exact benchmark image leak"), "image/png",
        ImageFixture.pngBytes(0L)),
      (2L, prose("a near twin of a benchmark image"), "image/png",
        ImageFixture.pngBytes(1L)),
      (3L, prose("a completely unrelated illustration"), "image/png",
        ImageFixture.pngBytes(29L)),
      (4L, prose("plain text with no media payload"), null, null))
      .toDF("doc_id", "text", "media_type", "content")
    val benchIdx = Dedup.imageHashFrame(
      Seq((0L, "image/png", ImageFixture.pngBytes(0L)))
        .toDF("media_id", "media_type", "content"),
      "media_id", "media_type", "content")
    val out = CorpusPipeline.prepare(corpus, None,
      CorpusPipeline.Config(langs = Set("en"), minTokens = 5,
        mediaDecontaminate = Some(CorpusPipeline.MediaDecontaminateConfig(
          "media_type", "content", "image", benchIdx))))
    assert(out.stages.map(_._1).contains("media_decontaminated"))
    val ids = out.documents.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(3L, 4L),
      s"exact leak AND perceptual twin must drop; got $ids")
  }
}
