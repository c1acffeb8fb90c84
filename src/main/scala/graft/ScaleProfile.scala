package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev utility: per-STAGE wall-clock splits for the dedup-family scaling
  * tables in BASELINE.md (the "which stage dominates, and is it still
  * growing linearly?" evidence the 100× question needs — a total alone
  * can hide a quadratic stage behind a shrinking constant one).
  *
  * Decomposition is by the public operator APIs, so each stage is timed
  * as its own action (detect re-runs inside the total — stages do NOT
  * sum to the total; they are independent measurements of each span).
  * Run one JVM per scale dir (the BASELINE.md isolation methodology):
  * `SPARK_GRAFT_SF_DIR=<dir> runMain graft.ScaleProfile`.
  */
object ScaleProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional args: profile only the named sections
    // (dedup | dedupfixed | deduptuned | detect_split | detect_tuned |
    //  indexed | linededup | packing | selection | semskew).
    // dedupfixed/deduptuned are NOT in the default set: they exist for
    // fresh-JVM A/B isolation and are meaningless inside a combined pass
    // (see comment at their sections). selection/semskew are also
    // arg-only: their tables are measured one JVM per scale dir
    // (BASELINE.md methodology), not inside the combined pass.
    val sections: Set[String] =
      if (args.nonEmpty) args.toSet
      else Set("dedup", "detect_split", "detect_tuned", "indexed", "linededup", "packing")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // RESTARTABLE staged detects (round 16): point the staged loop's
    // scratch at a stable dir so a multi-hour adversarial run resumes
    // from its committed steps after a restart (Dedup.scala resume
    // manifest). Same-dir reruns of a DIFFERENT plan refuse loudly.
    sys.env.get("SPARK_GRAFT_DETECT_RESUME_DIR").foreach { d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      spark.conf.set("spark.graft.detect.resumeDir", d)
    }
    spark.range(0, 1000000L).selectExpr("sum(id)").collect() // JIT warmup
    import graft.operators.{Chunking, Dedup, LineDedup, Packing, Sampling}

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def timed(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"[profile] $name%-48s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    }
    // times the checkpoint that computes `df`; its rows ride that action
    def timedMaterialize(name: String)(df: => DataFrame): (DataFrame, Long) = {
      var m: (DataFrame, Long) = null
      timed(name) { m = Dedup.materializeCounted(df); m._2 }
      m
    }

    // ── q_dedup_resolved: detect → CC → full removal ──────────────────
    if (sections("dedup")) {
      timed("dedup.detect(nearDupPairsMinHash tau=0.5)") {
        Dedup.nearDupPairsMinHash(docs, "text", "doc_id", 0.5).count()
      }
      val pairs = Dedup.materialize(
        Dedup.nearDupPairsMinHash(docs, "text", "doc_id", 0.5))
      timed("dedup.cc(resolveClusters on materialized pairs)") {
        Dedup.resolveClusters(pairs).count()
      }
      timed("dedup.total(removeNearDuplicates)") {
        Dedup.removeNearDuplicates(docs, "text", "doc_id", 0.5).count()
      }
    }

    // ── the two removal forms, ISOLATED: each in its own fresh JVM (the
    //    combined `dedup` section's detect arm leaves JIT + page cache
    //    warm, making any same-JVM total read falsely low) ──────────────
    if (sections("dedupfixed")) {
      timed("dedupfixed.total(removeNearDuplicates, fixed detector)") {
        Dedup.removeNearDuplicates(docs, "text", "doc_id", 0.5,
          detector = Dedup.Detector.Fixed).count()
      }
    }
    // the round-12 DEFAULT: auto-selected detector (fixed vs tuned from
    // the sampled background) — A/B against dedupfixed/deduptuned reads
    // the decision's overhead and which plan it picked at each decade
    if (sections("dedupauto")) {
      timed("dedupauto.total(removeNearDuplicates, auto detector)") {
        Dedup.removeNearDuplicates(docs, "text", "doc_id", 0.5).count()
      }
    }
    if (sections("deduptuned")) {
      timed("deduptuned.total(removeNearDuplicates, tuned detector)") {
        Dedup.removeNearDuplicates(docs, "text", "doc_id", 0.5,
          detector = Dedup.Detector.Tuned).count()
      }
    }

    // ── detect, decomposed: where does band-join time go? ─────────────
    // (shingle+sign / band self-join candidate volume / array-payload
    //  verify — the three spans whose relative growth says whether a
    //  scale-up is drowning in background LSH collisions or in the
    //  verify join's shingle shuffle)
    if (sections("detect_split")) {
      val (rr, b) = Dedup.minHashBands(0.5)
      val (sh, _) = timedMaterialize("detect.shingle+sign(materialize shingle sets)")(
        Dedup.shingleIndex(docs, "text", "doc_id"))
      val (banded, _) = timedMaterialize(s"detect.bands(minHashBandRows r=$rr b=$b)")(
        Dedup.minHashBandRows(sh, 128, rr, b))
      // the SHARED candidate-join construction (Dedup.minHashCandidates)
      // — this section decomposes the real plan by construction
      val (candidates, _) =
        timedMaterialize("detect.candidates(band join + length filter + pair dedup)")(
          Dedup.minHashCandidates(banded, 0.5))
      graft.functions.GraftFunctions.register(spark)
      val shH = sh.select(col("id"),
        graft.functions.GraftFunctions.hashArray64(col("sh")).as("sh"))
      timed("detect.verify(hashed-shingle join + exact jaccard)") {
        Dedup.verifyJaccard(candidates, shH, 0.5).count()
      }
    }

    // ── detect with PER-CORPUS tuned banding: the candidate-volume
    //    control (minHashBandsTunedFor). Same decomposition as
    //    detect_split so the candidate counts are directly comparable —
    //    the BASELINE.md tuned-vs-default table reads both sections. ────
    if (sections("detect_tuned")) {
      val (sh, nDocs) = timedMaterialize("tuned.shingle(materialize shingle sets)")(
        Dedup.shingleIndex(docs, "text", "doc_id"))
      val (shH, _) = timedMaterialize("tuned.hash(materialize hashed shingles)")(
        Dedup.hashShingles(sh))
      var est: Dedup.BackgroundEstimate = null
      timed("tuned.sample(128-doc background estimate)") {
        est = Dedup.sampleBackgroundJaccard(shH, 128)
        est.pairJaccards.size.toLong
      }
      val (rr, b) = Dedup.minHashBandsTunedFor(0.5, nDocs, est)
      val js = est.pairJaccards
      println(f"[profile] tuned.bands: r=$rr b=$b k=${rr * b} " +
        f"(default ${Dedup.minHashBands(0.5)}) bgJ mean=${js.sum / math.max(js.size, 1)}%.4f " +
        f"p90=${js.sorted.drop(js.size * 9 / 10).headOption.getOrElse(0.0)}%.4f n=$nDocs " +
        f"expCand=${Dedup.expectedCandidates(rr, b, nDocs, est)}%.3g " +
        s"(prefilter ${if (Dedup.expectedCandidates(rr, b, nDocs, est) >= 4e6) "ON" else "OFF"} at default gate)")
      // same single-signature-pass decomposition as the Tuned detector:
      // sigM feeds bandProjection AND the prefilter head (shared helpers —
      // this section decomposes the production plan by construction)
      val (sigM, _) = timedMaterialize(s"tuned.sign(minHashSignatures k=${rr * b})")(
        Dedup.minHashSignatures(sh.withColumnRenamed("sh", "shingles"), rr * b)
          .select(col("id"), org.apache.spark.sql.functions.size(
            col("shingles")).as("sz"), col("sig")))
      val (banded, _) = timedMaterialize(s"tuned.bands(bandProjection r=$rr b=$b)")(
        Dedup.bandProjection(sigM, rr, b))
      val (candidates, _) =
        timedMaterialize("tuned.candidates(band join + length filter + pair dedup)")(
          Dedup.minHashCandidates(banded, 0.5))
      val (kept, _) = timedMaterialize("tuned.prefilter(signature-agreement, h=64)")(
        Dedup.prefilterBySignature(candidates, sigM, 0.5, math.min(64, rr * b)))
      timed("tuned.verify(hashed-shingle join + exact jaccard)") {
        Dedup.verifyJaccard(kept, shH, 0.5).count()
      }
    }

    // ── q_incremental_dedup_indexed: index build vs probe ─────────────
    if (sections("indexed")) {
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    val delta = docs.where(col("doc_id") % 10 === 0)
    val idxDir = java.nio.file.Files.createTempDirectory("scale_idx").toString
    timed("indexed.build(shingleIndex + bandIndex + sigHead, once per corpus)") {
      val sh = Dedup.materialize(Dedup.shingleIndex(corpus, "text", "doc_id"))
      sh.write.mode("overwrite").parquet(s"$idxDir/shingles")
      Dedup.minHashBandIndex(spark.read.parquet(s"$idxDir/shingles"), threshold = 0.5)
        .write.mode("overwrite").parquet(s"$idxDir/bands")
      Dedup.minHashSignatureHead(spark.read.parquet(s"$idxDir/shingles"))
        .write.mode("overwrite").parquet(s"$idxDir/sigheads")
      spark.read.parquet(s"$idxDir/bands").count()
    }
    timed("indexed.probe(removeNearDuplicatesIncrementalIndexed)") {
      Dedup.removeNearDuplicatesIncrementalIndexed(
        spark.read.parquet(s"$idxDir/bands"), spark.read.parquet(s"$idxDir/shingles"),
        delta, "text", "doc_id", threshold = 0.5).count()
    }
    timed("indexed.probe_prefiltered(+ stored sigHead)") {
      // minCandidates = 0 forces the self-gate open so this section always
      // measures the PREFILTERED plan shape (the production gate would
      // skip it below 4e6 candidates — that skipping path is the plain
      // probe section above plus one candidate materialize/count)
      Dedup.removeNearDuplicatesIncrementalIndexed(
        spark.read.parquet(s"$idxDir/bands"), spark.read.parquet(s"$idxDir/shingles"),
        delta, "text", "doc_id", threshold = 0.5,
        existingSigHead = Some(spark.read.parquet(s"$idxDir/sigheads")),
        prefilterMinCandidates = 0.0).count()
    }
    }

    // ── q_line_dedup: duplicate-line discovery vs full rewrite ────────
    // (the query's footer augmentation, so the duplicate set is non-empty)
    if (sections("linededup")) {
    val aug = docs.select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 2 === 0,
          lit("\ncopyright footer all rights reserved")).otherwise(lit("")),
        lit("\ndoc "), col("doc_id").cast("string"), lit(" unique footer"))
        .as("text"))
    timed("linededup.discover(duplicate line hashes only)") {
      val lines = aug.select(col("doc_id"),
        explode(split(col("text"), "\n")).as("_line"))
      lines.where(trim(col("_line")) =!= "")
        .select(xxhash64(col("_line")).as("_h"), col("doc_id")).distinct()
        .groupBy(col("_h")).agg(count(lit(1)).as("_nd"))
        .where(col("_nd") >= 2).count()
    }
    timed("linededup.total(removeDuplicatedLines)") {
      LineDedup.removeDuplicatedLines(aug, "text", "doc_id").count()
    }
    }

    // ── q_packed_examples: chunk+split input vs full pack ─────────────
    if (sections("packing")) {
    val chunks = Chunking.chunkByTokens(docs, "text", "doc_id", 64, 16)
    val splits = Sampling.hashSplit(docs, "doc_id",
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      .select(col("doc_id"), col("split"))
    timed("packing.input(chunk + split join only)") {
      chunks.join(splits, Seq("doc_id")).count()
    }
    timed("packing.total(packExamples budget=256)") {
      Packing.packExamples(chunks.join(splits, Seq("doc_id")),
        tokenBudget = 256, splitCol = Some("split")).count()
    }
    }

    // ── selection/retrieval family (round 9): all narrow-scan shapes —
    // the decade table should show clean linearity ─────────────────────
    if (sections("selection")) {
      import graft.operators.{Dsir, FrozenDsir, Retrieval}
      // aggregate over log_w — a bare count() would prune the fold away
      // and time the parquet row count instead
      timed("dsir.logWeight(frozen model, full corpus)") {
        Dsir.logWeight(docs, "text", "doc_id", FrozenDsir.model)
          .agg(sum(col("log_w")), count(lit(1))).first().getLong(1)
      }
      timed("dsir.resample(Gumbel top-k, k=1000)") {
        Dsir.resample(docs, "text", "doc_id", FrozenDsir.model, 1000).count()
      }
      timed("bm25.topK(3 terms, k=20, stats + score passes)") {
        Retrieval.bm25TopK(docs, "text", "doc_id",
          Seq("hash", "join", "spark"), 20).count()
      }
    }

    // ── round 13: the multilingual tokenizer kernel in ISOLATION — the
    // Tok.Ml swap must not tax the scan (same one-pass shape; the ml
    // kernel adds an ASCII fast path + two EnumSet probes per non-ASCII
    // codepoint). Both arms fold the full corpus's token count. ────────
    if (sections("mltok")) {
      graft.functions.GraftFunctions.register(spark)
      timed("mltok.latin(norm_tokens full-corpus token-count fold)") {
        docs.select(sum(size(graft.functions.GraftFunctions
          .normTokens(col("text")))).as("s"), count(lit(1)).as("n"))
          .first().getLong(1)
      }
      timed("mltok.ml(norm_tokens_ml full-corpus token-count fold)") {
        docs.select(sum(size(graft.functions.GraftFunctions
          .normTokensMl(col("text")))).as("s"), count(lit(1)).as("n"))
          .first().getLong(1)
      }
    }

    // ── round 11: the model quality gate in ISOLATION — the composed
    // q_corpus_pipeline_model fixture is scale-ADVERSARIAL by design
    // (its 250k-doc shared filler suffix is exactly the elevated-
    // background LSH regime, and that cost belongs to the near-dup
    // rung's documented story, not the gate); the gate itself is one
    // narrow codegen'd scan term, measured here ───────────────────────
    if (sections("modelgate")) {
      import graft.operators.{FrozenQualityModel, QualityModel}
      graft.functions.GraftFunctions.register(spark)
      timed("modelgate.score(frozen hashed-linear, full corpus)") {
        QualityModel.score(docs, "text", "doc_id", FrozenQualityModel.model)
          .agg(sum(col("logit")), count(lit(1))).first().getLong(1)
      }
      timed("modelgate.gate(logit >= 0 filter, survivor count)") {
        docs.where(QualityModel.logitCol(col("text"),
          FrozenQualityModel.model) >= 0).count()
      }
    }

    // ── round 11: the q_corpus_pipeline_c4 scale attribution, measured —
    // the fixture plants ONE 20-token prose line on half the corpus
    // (plus nav/menu boilerplate), which at 250k+ sharing docs is the
    // elevated-background LSH regime: every pair of sharers collides in
    // some band, candidates grow quadratically, verify rejects them all.
    // That shared-line shape is EXACTLY what the line-dedup rung exists
    // for — scrubbing cross-document lines before near-dup collapses the
    // background. A/B the same c4 chain with the rung off vs on. ───────
    if (sections("c4bg") || sections("c4bgon") || sections("c4bgoff")) {
      import graft.pipeline.CorpusPipeline
      val aug = docs.select(col("doc_id"), SparkEntry.c4AugCol.as("text"))
      val bench = docs.where(col("doc_id") % 50 === 0)
        .select(col("doc_id"), col("text"))
      def cfg(lineDedup: Option[Int]) = CorpusPipeline.Config(
        c4Rules = true, langs = Set("en"), minTokens = 10,
        maxTokens = 100000, minAlphaRatio = 0.4, dedupThreshold = 0.5,
        shingleN = 3, decontaminateN = 8, lineDedupMinDocs = lineDedup,
        chunkTokens = 64, overlapTokens = 16,
        splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
        materializeDocuments = true)
      // single-arm sections (c4bgon / c4bgoff) for fresh-JVM isolation —
      // and because at the fifth decade the line-dedup-OFF arm is the
      // measured x29.6 flood: the scale row wants the ON arm alone
      if (sections("c4bg") || sections("c4bgon"))
        timed("c4bg.line_dedup_on(c4 chain + lineDedupMinDocs=2)") {
          CorpusPipeline.prepare(aug, Some(bench), cfg(Some(2)))
            .documents.count()
        }
      if (sections("c4bg") || sections("c4bgoff"))
        timed("c4bg.line_dedup_off(the registered q_corpus_pipeline_c4 shape)") {
          CorpusPipeline.prepare(aug, Some(bench), cfg(None))
            .documents.count()
        }
    }

    // ── round 11: the q_corpus_pipeline_model scale attribution — the
    // fixture appends ONE shared 66-token filler suffix to half the
    // corpus (the frozen model's positive class), so at 250k sharers
    // the near-dup rung sits in the elevated-background regime and
    // FIXED banding OOMs in the verify join (measured at 500k). The
    // prescribed configuration for high-background corpora is
    // tunedNearDedup (sampled background → wider bands + signature
    // prefilter) — run the SAME chain tuned and time it. ───────────────
    if (sections("modelbg") || sections("modelbgdefault") ||
        sections("modelbgtuned") || sections("modelbgspan")) {
      import graft.pipeline.CorpusPipeline
      import graft.operators.FrozenQualityModel
      val aug = docs.select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(col("text"), lit(QmOracle.fillerSuffix)))
          .otherwise(col("text")).as("text"))
      val bench = docs.where(col("doc_id") % 50 === 0)
        .select(col("doc_id"), col("text"))
      def modelCfg(tuned: Boolean, spanN: Option[Int] = None) =
        CorpusPipeline.Config(
        langs = Set("en"), minTokens = 10, maxTokens = 100000,
        minAlphaRatio = 0.4,
        modelGate = Some(CorpusPipeline.ModelGateConfig(
          FrozenQualityModel.model, minLogit = 0.0)),
        dedupThreshold = 0.5, shingleN = 3, decontaminateN = 8,
        tunedNearDedup = tuned, spanDedupN = spanN,
        chunkTokens = 64, overlapTokens = 16,
        splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
        materializeDocuments = true)
      // round 12: the DEFAULT config (auto detector) must complete where
      // fixed banding OOM'd — the verdict-item-1 done-criterion. Run the
      // default FIRST (cold) so its number is the honest one. The
      // single-arm sections (modelbgdefault / modelbgtuned) exist for
      // fresh-JVM cold-vs-cold attribution: inside the combined pass the
      // second arm reads falsely low (JIT + page cache warm).
      if (sections("modelbg") || sections("modelbgdefault"))
        timed("modelbg.default(model-gate chain, AUTO detector)") {
          CorpusPipeline.prepare(aug, Some(bench), modelCfg(tuned = false))
            .documents.count()
        }
      if (sections("modelbg") || sections("modelbgtuned"))
        timed("modelbg.tuned(model-gate chain + tunedNearDedup)") {
          CorpusPipeline.prepare(aug, Some(bench), modelCfg(tuned = true))
            .documents.count()
        }
      // the SPILL-GUARD remedy arm (round 13): the fixture's shared
      // filler is a mid-line SUFFIX, so the LINE rung cannot scrub it —
      // the span rung can, and after the scrub the near-dup background
      // returns to natural and the fifth decade fits the box again
      if (sections("modelbgspan"))
        timed("modelbgspan.default(model chain + spanDedupN=8)") {
          CorpusPipeline.prepare(aug, Some(bench),
            modelCfg(tuned = false, spanN = Some(8)))
            .documents.count()
        }
    }

    // ── round 11: perceptual image dedup at scale — synthesize
    // SPARK_GRAFT_IMAGES PNGs (default 60k) with the ImageFixture
    // generator (draw + encode INSIDE the tasks, fixture triples =
    // 1/3 planted near-dup pairs) and time decode→dHash→band→verify
    // and the full removal. The decode is the dominant narrow span;
    // the band join ships (chunk_key, id, hash) only. ──────────────────
    // ── round 12: the trained trigram-LM (Stupid Backoff) scoring
    // kernel, isolated per decade — like modelgate, a narrow codegen'd
    // scan (tables ride a reference object, exact integer fold): the
    // decade table should show clean linearity ─────────────────────────
    if (sections("ngramlm")) {
      import graft.operators.{FrozenNgramLm, NgramLm}
      timed("ngramlm.score(frozen trigram backoff, full corpus)") {
        NgramLm.score(docs, "text", "doc_id", FrozenNgramLm.model)
          .agg(sum(col("score_scaled")), count(lit(1))).first().getLong(1)
      }
      timed("ngramlm.gate(mean_log >= -3 filter, survivor count)") {
        NgramLm.filterByScore(docs, "text", FrozenNgramLm.model, -3.0).count()
      }
    }

    // ── round 12: perceptual audio dedup at scale — synthesize
    // SPARK_GRAFT_CLIPS WAVs (default 60k) with the AudioFixture
    // generator (synthesize + RIFF-encode INSIDE the tasks, fixture
    // triples = 1/3 planted near-dup pairs) and time decode→hash→band→
    // verify and the full removal. PCM decode is the dominant narrow
    // span; the band join ships (chunk, id, hash) longs only. ──────────
    if (sections("audiodedup")) {
      import graft.operators.{Dedup, AudioFixture, Multimodal}
      val n = sys.env.getOrElse("SPARK_GRAFT_CLIPS", "60000").toInt
      // same chunk-saturation arithmetic as imagededup: h=4 -> 13-bit
      // chunks -> 8k buckets, saturating around ~1e5 clips; at corpus
      // scale tighten to h=2 (21-bit chunks, ~2M buckets, good to ~1e7)
      val h = sys.env.getOrElse("SPARK_GRAFT_CLIPS_H", "4").toInt
      import spark.implicits._
      val media = spark.range(n).as[Long]
        .mapPartitions(_.map(id => (id, "audio/wav", AudioFixture.wavBytes(id))))
        .toDF("media_id", "media_type", "content")
      timed(s"audiodedup.decode+hash(n=$n audioEnvelope + audioHash64)") {
        media.as[Multimodal.MediaRecord].mapPartitions { it =>
          it.flatMap(m => Multimodal.audioEnvelope(m)
            .map(e => (m.media_id, Multimodal.audioHash64(e))))
        }.count()
      }
      timed(s"audiodedup.pairs(n=$n banded Hamming <= $h)") {
        Dedup.audioNearDupPairs(media, "media_id", "media_type", "content",
          maxHamming = h).count()
      }
      timed(s"audiodedup.removal(n=$n h=$h pairs -> CC -> min-id survivor)") {
        Dedup.removeNearDuplicateAudio(media, "media_id", "media_type",
          "content", maxHamming = h).count()
      }
    }

    // ── round 12: JL sparse-projection kernel at scale — synthesize
    // SPARK_GRAFT_VECS deterministic 64-dim float vectors inside the
    // tasks and time the 64→16 integer-exact projection (one narrow
    // codegen'd scan; the matrix is a plan-resident reference object).
    if (sections("jlproject")) {
      import graft.operators.Similarity
      val n = sys.env.getOrElse("SPARK_GRAFT_VECS", "1000000").toLong
      import spark.implicits._
      val vecs = spark.range(n).as[Long]
        .mapPartitions(_.map { id =>
          (id, Array.tabulate(64) { d =>
            var x = (id * 73856093L ^ d * 19349663L).toInt
            x *= 0x9e3779b1; x ^= x >>> 16
            (x % 1000) / 1000.0f
          })
        }).toDF("vec_id", "embedding")
      timed(s"jlproject.project(n=$n 64->16 integer-exact)") {
        Similarity.randomProject(vecs, "embedding", "proj", 64, 16)
          .select(sum(element_at(col("proj"), 1))).collect()
        n
      }
    }

    // ── round 12: perceptual video dedup at scale — synthesize
    // SPARK_GRAFT_CLIPS AVIs (default 30k; 6 frames each → 3 sampled
    // per clip, fixture triples = 1/3 planted near-dup pairs) with the
    // VideoFixture generator (RIFF-encode INSIDE the tasks) and time
    // the container decode→frame-hash span, the banded aligned-frame
    // pair detection, and the full removal. The AVI walk + raw-DIB
    // frame reads are the dominant narrow span; the band join ships
    // (fpos, chunk, id, hash) longs only — per-fpos banding multiplies
    // the bucket space by the sampled-frame count, so saturation sits
    // ABOVE the single-hash families at equal h. ──────────────────────
    if (sections("videodedup")) {
      import graft.operators.{Dedup, VideoFixture, Multimodal}
      val n = sys.env.getOrElse("SPARK_GRAFT_CLIPS", "30000").toInt
      val h = sys.env.getOrElse("SPARK_GRAFT_CLIPS_H", "4").toInt
      import spark.implicits._
      val media = spark.range(n).as[Long]
        .mapPartitions(_.map(id => (id, "video/avi", VideoFixture.aviBytes(id))))
        .toDF("media_id", "media_type", "content")
      timed(s"videodedup.decode+hash(n=$n videoFrameHashes everyN=2)") {
        media.as[Multimodal.MediaRecord].mapPartitions { it =>
          it.flatMap(m => Multimodal.videoFrameHashes(m, 2).toSeq.flatten)
        }.count()
      }
      timed(s"videodedup.pairs(n=$n banded aligned-frame Hamming <= $h)") {
        Dedup.videoNearDupPairs(media, "media_id", "media_type", "content",
          everyN = 2, maxHamming = h).count()
      }
      timed(s"videodedup.removal(n=$n h=$h pairs -> CC -> min-id survivor)") {
        Dedup.removeNearDuplicateVideos(media, "media_id", "media_type",
          "content", everyN = 2, maxHamming = h).count()
      }
    }

    if (sections("imagededup")) {
      import graft.operators.{Dedup, ImageFixture, Multimodal}
      val n = sys.env.getOrElse("SPARK_GRAFT_IMAGES", "60000").toInt
      // Hamming bound: h=6 needs 9-bit chunks (64/7), whose 512-bucket
      // space saturates with background band collisions around ~1e5
      // images; the at-scale setting is a tighter bound (h=3 -> 16-bit
      // chunks -> 65k buckets, good to ~1e7) - the standard dHash
      // near-identical regime
      val h = sys.env.getOrElse("SPARK_GRAFT_IMAGES_H", "6").toInt
      import spark.implicits._
      val media = spark.range(n).as[Long]
        .mapPartitions(_.map(id => (id, "image/png", ImageFixture.pngBytes(id))))
        .toDF("media_id", "media_type", "content")
      timed(s"imagededup.decode+hash(n=$n lumaGrid9x8 + dHash64)") {
        media.as[Multimodal.MediaRecord].mapPartitions { it =>
          it.flatMap(m => Multimodal.lumaGrid9x8(m)
            .map(g => (m.media_id, Multimodal.dHash64(g))))
        }.count()
      }
      timed(s"imagededup.pairs(n=$n banded Hamming <= $h)") {
        Dedup.imageNearDupPairs(media, "media_id", "media_type", "content",
          maxHamming = h).count()
      }
      timed(s"imagededup.removal(n=$n h=$h pairs -> CC -> min-id survivor)") {
        Dedup.removeNearDuplicateImages(media, "media_id", "media_type",
          "content", maxHamming = h).count()
      }
    }

    // ── round 11: trained-BPE serving throughput (narrow kernel scan) ──
    if (sections("bpe")) {
      import graft.operators.{Bpe, FrozenBpe}
      timed("bpe.tokenCounts(frozen merges, full corpus)") {
        Bpe.tokenCounts(docs, "text", "doc_id", FrozenBpe.model)
          .agg(sum(col("n_pieces")), count(lit(1))).first().getLong(1)
      }
    }

    // ── SemDeDup skew guard: one runaway cluster, split vs unsplit ────
    // Opt-in (args "semskew"): synthesizes SPARK_GRAFT_SEMSKEW_N vectors
    // (default 24k, dim 64) that nearly all primary-assign to ONE coarse
    // centroid — the skew shape the maxClusterSize guard exists for.
    // Unsplit, the pair join concentrates ~n²/2 cosine kernels in ONE
    // task; split, the same work spreads over m(m+1)/2 block tasks.
    // Pair counts print alongside so equality is visible in the log.
    if (sections("semskew")) {
      val n = sys.env.getOrElse("SPARK_GRAFT_SEMSKEW_N", "24000").toInt
      val dim = 64
      val cents: Array[(Int, Array[Float])] = Array.tabulate(4) { c =>
        c -> Array.tabulate(dim)(j => if (j == c) 1f else 0f)
      }
      // deterministic cone around e0: v = e0 + 0.6·u(id), u entries
      // hash-derived in [-1, 1] — pairwise cosines spread ~0.68–0.95, so
      // the kernel work happens but only a thin tail clears τ = 0.9
      val vecs = spark.range(n).select(col("id"),
        transform(sequence(lit(0), lit(dim - 1)), j =>
          when(j === lit(0), lit(1.0)).otherwise(lit(0.0)) +
            lit(0.6) * (pmod(xxhash64(concat(col("id").cast("string"),
              lit("-"), j.cast("string"))), lit(2001)).cast("double") -
              lit(1000.0)) / lit(1000.0)).as("vec"))
      val v = graft.operators.Dedup.materialize(vecs)
      val m = (n + 2999) / 3000
      // Disable broadcast joins for BOTH runs: at this toy scale AQE
      // broadcasts the 13 MB side and parallelizes the stream side,
      // hiding exactly the skew this section measures — at cluster
      // scale neither side of the pair join fits in memory and the
      // shuffle join's per-key task IS the hazard shape.
      val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        timed(s"semskew.unsplit(n=$n one cluster, cap>=n: 1 quadratic task)") {
          Dedup.semanticDupPairs(v, "vec", "id", cents, 0.9,
            maxClusterSize = n).count()
        }
        timed(s"semskew.split(cap=3000: ~${m * (m + 1) / 2} block tasks)") {
          Dedup.semanticDupPairs(v, "vec", "id", cents, 0.9,
            maxClusterSize = 3000).count()
        }
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }

    // ── round 15: STAGED cosinePairs at guard-engaging scale — the
    // generalized banded-family staging (round 14b) measured, not just
    // spec-pinned. Synthesizes SPARK_GRAFT_VECS 64-dim vectors in
    // clusters of SPARK_GRAFT_COSINE_M members around hash-random unit
    // centroids with in-cluster cosine ≈ 0.95 (> τ = 0.9; pairs collide
    // in ~11% of the 176 bands each, so candidates stay DISTINCT after
    // pair-dedup and the verify payload join is the real disk load —
    // the text detect's adversarial shape in embedding space).
    // SPARK_GRAFT_COSINE_FORCE: "auto" = let bandPlan decide (prints
    // the staging note), an integer = forceGroups (1 = single pass) —
    // the A/B pair BASELINE.md's staged-wall-multiplier row reads. ────
    if (sections("cosinestaged")) {
      import graft.operators.{Dedup, Similarity}
      val n = sys.env.getOrElse("SPARK_GRAFT_VECS", "250000").toLong
      val m = sys.env.getOrElse("SPARK_GRAFT_COSINE_M", "100").toInt
      val force = sys.env.getOrElse("SPARK_GRAFT_COSINE_FORCE", "auto")
      val fg = if (force == "auto") None else Some(force.toInt)
      // round 16: AUTO defaults to pilot-calibrated staging; set
      // SPARK_GRAFT_COSINE_CALIB=false for the uncalibrated A/B arm
      sys.env.get("SPARK_GRAFT_COSINE_CALIB").foreach(v =>
        spark.conf.set("spark.graft.bandguard.calibratePilot", v))
      import spark.implicits._
      val vecs = Dedup.materialize(spark.range(n).as[Long]
        .mapPartitions(_.map { id =>
          val c = id / m
          // shared avalanche unit (graft.functions.VectorSimUtil.mixUnit,
          // called statically inside the lambda — serialization-safe):
          // the SAME generator as MlFixture.fullEmbedding, so this arm's
          // documented cosine geometry cannot drift from the oracle's
          def mix(a: Long, d: Int, seed: Int): Double =
            graft.functions.VectorSimUtil.mixUnit(a, d, seed)
          // centroid(cluster) + 0.23 · noise(member): |cent| ≈ |noise|,
          // so pairwise in-cluster cosine ≈ 1/(1 + 0.23²) ≈ 0.95 ± 0.01
          (id, Array.tabulate(64)(d => mix(c, d, 0) + 0.23 * mix(id, d, 0x2545f491)))
        }).toDF("id", "vec"))
      vecs.count()
      timed(s"cosinestaged.pairs(n=$n m=$m tau=0.9 force=$force)") {
        Similarity.cosinePairsImpl(vecs, "vec", "id", 0.9, 0.999, 42, fg).count()
      }
    }

    // ── round 15: STAGED image-Hamming A/B at guard-engaging scale —
    // the Hamming-family staging measured on ONE materialized hash
    // frame (decode excluded, so the A/B isolates the staging cost):
    // `single` = hammingPairs with the guard bypassed, `staged` =
    // hammingPairs at SPARK_GRAFT_IMAGES_K groups, `auto` = the public
    // entry point (bandPlan prints its own decision). At the
    // default 450k fixture images / h=6 the 9-bit chunks hold ~880
    // images per bucket — ~1.4e9 candidate rows carrying both hashes
    // through the bucket join, the measured-disk regime. Pairs equality
    // staged ≡ single is MultimodalSpec's pin; this arm records wall
    // and peak disk. SPARK_GRAFT_IMAGES_RUN selects arms
    // (single|staged|auto|all). ──────────────────────────────────────
    if (sections("imagestaged")) {
      import graft.operators.{Dedup, ImageFixture, Multimodal}
      val n = sys.env.getOrElse("SPARK_GRAFT_IMAGES", "450000").toInt
      val h = sys.env.getOrElse("SPARK_GRAFT_IMAGES_H", "6").toInt
      val k = sys.env.getOrElse("SPARK_GRAFT_IMAGES_K", "3").toInt
      val run = sys.env.getOrElse("SPARK_GRAFT_IMAGES_RUN", "all")
      import spark.implicits._
      // DISTINCT synthetic images (the generator draws for any id —
      // triples per k=id/3, so n/3 planted near-dup pairs and ~uniform
      // background buckets); decode + dHash INSIDE the tasks
      val media = spark.range(n).as[Long]
        .mapPartitions(_.map(id => (id, "image/png", ImageFixture.pngBytes(id))))
        .toDF("media_id", "media_type", "content")
      val hashed = Dedup.materialize(
        Dedup.imageHashFrame(media, "media_id", "media_type", "content"))
      timed(s"imagestaged.decode+hash(n=$n)") { hashed.count() }
      if (run == "all" || run == "single")
        timed(s"imagestaged.single(n=$n h=$h guard bypassed)") {
          Dedup.hammingPairs(hashed, Seq("sh"), h).count()
        }
      if (run == "all" || run == "staged")
        timed(s"imagestaged.staged(n=$n h=$h k=$k)") {
          Dedup.hammingPairs(hashed, Seq("sh"), h, k).count()
        }
      if (run == "all" || run == "auto")
        timed(s"imagestaged.auto(n=$n h=$h bandPlan decides)") {
          Dedup.imageNearDupPairs(media, "media_id", "media_type", "content",
            maxHamming = h, hashes = Some(hashed)).count()
        }
    }

    // ── round 16: the incremental TEXT PROBE's bounded plan measured at
    // guard-engaging scale (round-15 verdict item 4) — an oversized
    // delta probing a boilerplate-heavy persisted index. Every doc with
    // doc_id % SHARE == 0 carries the model fixture's shared 66-token
    // filler suffix (the measured elevated-background mechanism); evens
    // build the stored index ONCE, odds arrive as the delta. The guard
    // prices Σ in_k·all_k and auto-splits the delta into id-hash
    // sub-batches; stagedPairUnion's telemetry prints per-group wall +
    // measured peak spill. SPARK_GRAFT_PROBE_FORCE: "auto" = guard
    // decides, integer = forceProbeGroups (1 = the single pass the A/B
    // row contrasts). SPARK_GRAFT_PROBE_SHARE: the sharer modulus
    // (default 2 = every doc shares the suffix — the worst case). ─────
    if (sections("textprobe")) {
      import graft.operators.Dedup
      val force = sys.env.getOrElse("SPARK_GRAFT_PROBE_FORCE", "auto")
      val fg = if (force == "auto") None else Some(force.toInt)
      val share = sys.env.getOrElse("SPARK_GRAFT_PROBE_SHARE", "2").toInt
      val aug = docs.select(col("doc_id"),
        when(col("doc_id") % share === 0,
          concat(col("text"), lit(QmOracle.fillerSuffix)))
          .otherwise(col("text")).as("text"))
      val existing = aug.where(col("doc_id") % 2 === 0)
      val incoming = aug.where(col("doc_id") % 2 =!= 0)
      val exSh = Dedup.materialize(
        Dedup.shingleIndex(existing, "text", "doc_id"))
      val exBands = Dedup.materialize(
        Dedup.minHashBandIndex(exSh, threshold = 0.5))
      timed("textprobe.index-build(existing evens)") {
        exSh.count(); exBands.count()
      }
      timed(s"textprobe.removeIncremental(force=$force share=$share)") {
        Dedup.removeIncrementalFrom(exBands, exSh, incoming, "text",
          "doc_id", threshold = 0.5, n = 3, k = 128,
          checkDisjointIds = false, maxIter = 20,
          forceProbeGroups = fg).count()
      }
    }
    spark.stop()
  }
}
