package graft.pipeline

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, Tally, TallyHandle, TextAnalysis, Tok}
import graft.operators.{Chunking, Dedup, Dsir, LineDedup, Packing, Sampling, SpanDedup}

/** End-to-end pre-training corpus preparation — the canonical chain every
  * LLM data pipeline runs, composed from the engine's operators:
  *
  *   [URL dedup] → [HTML strip] → [C4 line/page clean] →
  *   quality filter (+ optional Gopher rules / model gate) →
  *   language filter → [per-domain cap] → exact content dedup →
  *   [line-level dedup] → [span-level dedup] → near-dup removal →
  *   [semantic dedup] → benchmark decontamination
  *   [+ fuzzy decontamination] → [DSIR importance selection] →
  *   [token-share / temperature mixing] →
  *   PII redaction → document chunking → train/val/test split
  *   [→ sequence packing].
  *
  * Composition notes (the order is load-bearing):
  *  - URL dedup (when `urlCol` is set) runs before EVERYTHING, including
  *    the HTML strip: it reads only (url, id), so it is the cheapest
  *    rung by far, and on a crawl it is also the largest reduction —
  *    no other stage should ever pay for a URL-duplicate;
  *  - cheap narrow filters (quality, language) run FIRST so the expensive
  *    dedup stages see the smallest possible corpus;
  *  - the optional line/span stages run BETWEEN exact and near-dup:
  *    after exact (no point scrubbing boilerplate from byte-identical
  *    copies a cheaper stage already removes) and before near-dup
  *    (scrubbing boilerplate CHANGES shingle sets — two pages that are
  *    near-dups only because they share a footer must stop being
  *    near-dups once the footer is gone);
  *  - line/span rewrite text, so each is followed by a re-application of
  *    the `minTokens` gate: a document scrubbed down to nothing (or to
  *    fewer than `minTokens` tokens) drops here, exactly as the operator
  *    contracts prescribe ("the caller's quality gate drops it");
  *  - dedup runs BEFORE redaction: redaction placeholders would otherwise
  *    make distinct documents look identical (`<EMAIL>` ≠ the emails it
  *    replaced);
  *  - the split is assigned per DOCUMENT and inherited by chunks — a
  *    per-chunk split would leak overlapping windows of one document
  *    across train and test;
  *  - every stage is a lazy DataFrame→DataFrame function. Besides the
  *    checkpoints the dedup/CC operators take inside themselves, the
  *    pipeline checkpoints a stage only where it is read more than
  *    once:
  *     - the quality gate (with the optional pre-gate stages on, or the
  *       adaptive spread fired): exact dedup reads it twice (fingerprint
  *       and semi-join), and without line/span dedup the near-dup
  *       profile and the documents action read it again;
  *     - the near-dup input (with line or span dedup on, the last of
  *       them): the near-dup profile's shingle checkpoint and the
  *       documents action both read it, and each would otherwise re-run
  *       the exact and line/span dedup shuffles;
  *     - the documents (`materializeDocuments`): the caller's actions
  *       and the chunk derivation all read it;
  *     - the rare-rung checkpoints named where they are taken (exact
  *       decontamination survivors under fuzzy decontamination, the DSIR
  *       selection, the pre-mix survivors).
  *  - each text rewrite runs once per row: the filters over stripped
  *    text read it through [[Dedup.evaluateOnce]] (the C4 line clean
  *    through its stage tally), so the optimizer cannot copy the
  *    rewrite into every predicate.
  */
object CorpusPipeline {

  /** The optional SEMANTIC dedup rung (SemDeDup): requires the corpus to
    * carry an embedding column (`embedCol`, array<float/double>); rows
    * whose embeddings cluster together under `centroids` and clear the
    * cosine `threshold` collapse to the keep-the-outlier survivor
    * ([[Dedup.removeSemanticDuplicates]]). Runs AFTER lexical near-dup —
    * it exists to catch paraphrases the shingle families cannot see, so
    * it must only see documents that already survived them. */
  final case class SemanticDedupConfig(
      embedCol: String,
      centroids: Array[(Int, Array[Float])],
      threshold: Double,
      assignKeep: Int = 1,
      maxClusterSize: Int = 20000,
      projectTo: Option[Int] = None)

  /** The optional PERCEPTUAL IMAGE dedup rung for multimodal corpora:
    * documents carry an opaque image payload (`binaryCol` binary,
    * `typeCol` mime string; docs without an image hold NULLs and always
    * survive — no hash, no duplicate evidence). Near-identical images
    * collapse to the min-id survivor via banded dHash
    * ([[Dedup.removeNearDuplicateImages128]] — horizontal ∥ vertical
    * 128-bit signature by default; `use128 = false` selects the 64-bit
    * horizontal-only form). Runs AFTER the text dedup rungs (cheapest
    * evidence first; the payload is id-stable metadata the line/span
    * text rewrites never touch) and BEFORE decontamination, like the
    * semantic rung it composes next to. */
  final case class ImageDedupConfig(
      typeCol: String,
      binaryCol: String,
      maxHamming: Int = 6,
      use128: Boolean = true)

  /** The optional PERCEPTUAL AUDIO dedup rung — the audio sibling of
    * [[ImageDedupConfig]]: near-identical PCM payloads (banded
    * envelope-delta fingerprint within the Hamming bound —
    * [[Dedup.removeNearDuplicateAudio]]) collapse to the min-id
    * survivor; NULL / undecodable / sub-65-sample payloads always pass.
    * Composes in the same slot discipline: after the text rungs,
    * next to the image rung, before decontamination. */
  final case class AudioDedupConfig(
      typeCol: String,
      binaryCol: String,
      maxHamming: Int = 4)

  /** The optional PERCEPTUAL VIDEO dedup rung — the image/audio rungs'
    * video sibling: near-identical clips (REAL sampled-frame AVI decode
    * → per-frame dHash → aligned-frame Hamming banding, pairs kept when
    * ≥ ceil(minMatchFrac · min(nFrames)) frames agree —
    * [[Dedup.removeNearDuplicateVideos]]) collapse to the min-id
    * survivor; NULL / undecodable / codec-bound payloads always pass.
    * Same slot discipline: after the text rungs, next to the
    * image/audio rungs, before decontamination. */
  final case class VideoDedupConfig(
      typeCol: String,
      binaryCol: String,
      everyN: Int = 2,
      maxHamming: Int = 4,
      minMatchFrac: Double = 0.6,
      alignFrames: Boolean = true)

  /** The optional MEDIA DECONTAMINATION rung: the corpus's media
    * payloads probe a FROZEN benchmark hash index (the (id, sh) /
    * (id, fpos, sh) frame [[Dedup.imageHashFrame]] /
    * [[Dedup.audioHashFrame]] / [[Dedup.videoFrameHashFrame]] builds,
    * persisted once per benchmark version) with the perceptual-hash +
    * Hamming-band machinery; any corpus item within `maxHamming` of a
    * benchmark item (video: the matched-frame gate) drops. Slots right
    * after the TEXT decontamination stages — eval leakage is eval
    * leakage whatever the modality — and before selection, for the same
    * reason those do. */
  final case class MediaDecontaminateConfig(
      typeCol: String,
      binaryCol: String,
      kind: String,
      benchmarkHashes: DataFrame,
      maxHamming: Int = 6,
      everyN: Int = 2,
      minMatchFrac: Double = 0.6,
      alignFrames: Boolean = true)

  /** The optional DSIR SELECTION rung: importance-resample `k` documents
    * toward the fitted target distribution ([[Dsir.resampleRows]] with
    * the frozen `model`). Runs LAST among the content stages — after
    * every dedup/decontamination rung (selection weights must never
    * resurrect a duplicate or a leak) and before redaction (selection
    * reads the natural text; `<EMAIL>` placeholder tokens must not
    * influence which documents train). */
  final case class DsirSelectConfig(
      model: Dsir.Model,
      k: Int,
      salt: String = Dsir.DefaultSalt)

  /** The optional MODEL-BASED quality gate: the trained hashed-linear
    * scorer ([[graft.operators.QualityModel]] — the fastText-shape
    * classifier stage of CCNet/DCLM-style pipelines) folded into the
    * SAME quality-gate scan as the rule conjunction. Documents whose
    * logit falls below `minLogit` drop in the "quality" stage. The
    * scorer is one narrow codegen'd term (scaled-long fold through a
    * literal weight table — strictly cheaper than the regex-heavy rule
    * gates it usually replaces), so at 100 TB this adds zero stages and
    * zero shuffles. */
  final case class ModelGateConfig(
      model: graft.operators.QualityModel.Model,
      minLogit: Double = 0.0)

  /** The optional PERPLEXITY gate: the trained trigram Stupid-Backoff
    * LM ([[graft.operators.NgramLm]] — the CCNet recipe's LM-filter
    * stage, the generative sibling of [[ModelGateConfig]]'s
    * discriminative scorer) folded into the SAME quality-gate scan.
    * Documents whose per-token mean log-score under the reference LM
    * falls below `minMeanLog` drop in the "quality" stage. The decision
    * is the exact integer comparison score_scaled ≥
    * ⌊minMeanLog·1e9⌋·n_tokens ([[graft.operators.NgramLm.gateCol]]) —
    * one narrow codegen'd term, zero extra stages or shuffles. */
  final case class PerplexityGateConfig(
      model: graft.operators.NgramLm.Model,
      minMeanLog: Double)

  /** The optional PER-DOMAIN document cap (the C4/RefinedWeb anti-SEO
    * rung): keep at most `k` documents per `groupCol` value (domain,
    * source, crawl host), best-first by whitespace token count with ties
    * broken by ascending id ([[Sampling.capPerGroup]] — one group-key
    * shuffle planned as a map-side-partial `WindowGroupLimit`). Runs
    * right after the quality gate and BEFORE the dedup rungs: it reads
    * only (group, rank signal, id), and every document it sheds is a
    * document the expensive shingle stages never see. */
  final case class DomainCapConfig(groupCol: String, k: Int)

  /** The optional TOKEN-SHARE mixing rung ([[Sampling.mixToTokenShares]]):
    * downsample strata so kept token mass per `strataCol` value is
    * proportional to `targetShares` at the largest downsample-only total
    * (strata absent from the map drop). Token mass = whitespace token
    * count of the (pre-redaction) text. */
  final case class MixConfig(strataCol: String, targetShares: Map[String, Double])

  /** The optional TEMPERATURE mixing rung
    * ([[Sampling.temperatureResample]]): per-stratum keep rates ∝
    * (n_s/N)^alpha scaled to `targetFraction` of the corpus — the
    * multilingual-LM flattening pass. */
  final case class TemperatureMixConfig(strataCol: String, alpha: Double,
      targetFraction: Double)

  /** Tuning for [[prepare]]; defaults are the common pre-training shape. */
  final case class Config(
      textCol: String = "text",
      idCol: String = "doc_id",
      urlCol: Option[String] = None,
      stripHtml: Boolean = false,
      c4Rules: Boolean = false,
      gopherRules: Boolean = false,
      langs: Set[String] = Set("en"),
      tokenizer: Tok = Tok.Latin,
      minTokens: Int = 10,
      maxTokens: Int = 100000,
      minAlphaRatio: Double = 0.4,
      modelGate: Option[ModelGateConfig] = None,
      perplexityGate: Option[PerplexityGateConfig] = None,
      domainCap: Option[DomainCapConfig] = None,
      blocklist: Seq[String] = Nil,
      lineDedupMinDocs: Option[Int] = None,
      spanDedupN: Option[Int] = None,
      dedupThreshold: Double = 0.8,
      shingleN: Int = 3,
      tunedNearDedup: Boolean = false,
      semanticDedup: Option[SemanticDedupConfig] = None,
      imageDedup: Option[ImageDedupConfig] = None,
      audioDedup: Option[AudioDedupConfig] = None,
      videoDedup: Option[VideoDedupConfig] = None,
      decontaminateN: Int = 8,
      bloomDecontaminate: Boolean = false,
      bloomFpp: Double = 0.001,
      fuzzyDecontaminate: Option[Double] = None,
      mediaDecontaminate: Option[MediaDecontaminateConfig] = None,
      dsirSelect: Option[DsirSelectConfig] = None,
      mixToShares: Option[MixConfig] = None,
      temperatureMix: Option[TemperatureMixConfig] = None,
      chunkTokens: Int = 512,
      overlapTokens: Int = 64,
      bpeChunking: Option[graft.operators.Bpe.Model] = None,
      packTokenBudget: Option[Long] = None,
      splits: Seq[(String, Double)] = Seq("train" -> 0.98, "val" -> 0.01, "test" -> 0.01),
      materializeDocuments: Boolean = false)

  /** The kept documents (post-filter/dedup/decontaminate, text redacted,
    * `split` assigned) and their chunks (split inherited from the
    * document; (idCol, chunk_idx, chunk_text, n_chunk_tokens, split)).
    *
    * `packed` carries the greedy-packed training examples when
    * `Config.packTokenBudget` is set (one row per example — see
    * [[graft.operators.Packing.packExamples]]).
    *
    * `stages` exposes each intermediate frame by name (input,
    * [url_dedup], [c4_page_gate], quality, [domain_cap], exact_dedup,
    * [line_dedup], [span_dedup], near_dedup, [semantic_dedup],
    * [image_dedup], [audio_dedup],
    * decontaminated, [decontaminated_fuzzy], [media_decontaminated],
    * [dsir_selected], [mixed],
    * [temperature_mixed]; the bracketed stages appear
    * iff enabled) for ad-hoc inspection — but do NOT count them to build
    * a stage report: each count re-executes that stage's upstream chain.
    *
    * `observations` carries one row tally per stage (same names, same
    * order). Each count sits at its stage, inside the main chain, so the
    * per-stage kept counts are collected by the checkpoints inside
    * [[prepare]] and whatever action first materializes `documents` /
    * `chunks`: zero extra scans at any scale. Read them via
    * [[observedCounts]]. */
  final case class Prepared(documents: DataFrame, chunks: DataFrame,
      stages: Seq[(String, DataFrame)] = Nil,
      observations: Seq[(String, TallyHandle)] = Nil,
      packed: Option[DataFrame] = None) {

    /** Per-stage kept counts, in pipeline order, read off the stage
      * tallies. Contract: call AFTER at least one action over `documents`
      * (or `chunks`): the counts ride that single materializing pass (the
      * upstream rungs' own materializations inside [[prepare]] already
      * run most tallies, but the tail stages' only run with the caller's
      * action); calling before any such action throws a descriptive
      * IllegalStateException. With `Config.materializeDocuments` on, the
      * documents checkpoint executes the whole chain inside [[prepare]],
      * so every count is available the moment prepare returns.
      *
      * A tally can legitimately be ABSENT from an executed plan: AQE may
      * replace the stage's whole runtime subtree with an empty relation,
      * so its exec never runs while a later stage's does — which only
      * happens when zero rows flowed (observed on a fully-gated empty
      * corpus; EdgeCasesSpec pins it). An absent count is therefore
      * coerced to 0 ONLY when the chain proves it exact (the previous
      * stage kept 0 rows — the pipeline is a monotone filter chain — or,
      * for the input row, no stage anywhere reports a survivor);
      * otherwise the count is recomputed from the matching `stages`
      * frame (bounded, loud-in-cost — never a silent wrong 0), and an
      * UNRUN tally below a live stage fails fast. */
    def observedCounts: Seq[(String, Long)] = {
      // a stage tally that did not run below one that did was in an
      // executed plan, which dropped it
      val lastRan = observations.lastIndexWhere(_._2.ran)
      lazy val anySurvivor = observations.exists { case (n, h) => h.ran && h(n) > 0L }
      var prev: Option[Long] = None
      observations.zipWithIndex.map { case ((name, h), i) =>
        val c =
          if (h.ran) h(name)
          else if (i < lastRan) {
            if (prev.contains(0L) || (prev.isEmpty && !anySurvivor)) 0L
            else stages.collectFirst { case (`name`, df) =>
              System.err.println(
                s"[graft] WARN stage '$name': observed count was elided " +
                  "from the executed plan (AQE empty-relation / reused " +
                  "exchange) - recomputing the stage frame with an extra " +
                  "pass")
              df.count()
            }
              .getOrElse(throw new IllegalStateException(
                s"stage '$name': observed count was dropped from the plan and " +
                  "no stage frame exists to recompute it"))
          }
          else if (prev.contains(0L)) 0L // monotone chain: upstream kept 0
          else throw new IllegalStateException(
            s"stage '$name' has no observed count: no action has executed it " +
              "yet (run an action over documents or chunks, or set " +
              "Config.materializeDocuments to collect every count inside prepare)")
        prev = Some(c)
        name -> c
      }
    }

    /** The per-stage accounting artifact a production corpus run logs:
      * (stage, kept, dropped-by-this-stage), in pipeline order, derived
      * from [[observedCounts]] (same contract: call after an action).
      * "dropped" is vs the previous stage's kept count — the input row
      * reports 0. */
    def stageReport: Seq[(String, Long, Long)] = {
      val counts = observedCounts
      counts.zip(0L +: counts.map(_._2)).map {
        case ((name, kept), prev) =>
          (name, kept, if (name == "input") 0L else prev - kept)
      }
    }
  }

  /** Scale-ADAPTIVE parallelism for the CPU-heavy gate scan (guide §2.5
    * "input skew" / the [[Dedup.shingleSets]] discipline one stage up):
    * the strip/C4/Gopher/lang gate chain is regex-heavy per byte and runs
    * INSIDE the scan stage, so its parallelism is whatever the file
    * layout gave the scan — a corpus (or daily delta) smaller than
    * cores × maxPartitionBytes arrives as a handful of splits and the
    * whole gate runs on them while the rest of the box idles (measured
    * round 16: 2.3–2.7 s single-task gate job of a 9.6 s pipeline query
    * at sf0.1). The guard is data-derived, not a local-mode constant:
    * spread by id-hash only when the OPTIMIZER'S OWN size estimate says
    * the scan cannot fill the session's parallelism — at which point the
    * extra exchange is bounded by cores × maxPartitionBytes bytes. A
    * 100 TB corpus fails the condition and keeps today's plan (its scan
    * is already thousands of splits; a full-corpus shuffle there would
    * be pure waste). Row-identical: every downstream rung is
    * partitioning-agnostic (hash aggregates, key joins, per-row
    * projections; the split/redaction are pure functions of id/text). */
  private def cpuSpread(df: DataFrame, idCol: String): DataFrame =
    Dedup.spreadIfSmall(df, col(idCol))

  def prepare(corpus: DataFrame, benchmark: Option[DataFrame] = None,
      cfg: Config = Config()): Prepared = {
    GraftFunctions.register(corpus.sparkSession)
    val text = col(cfg.textCol)

    // Each stage is counted at the stage itself by a row tally named
    // after it ([[graft.functions.Tally]], codegen'd, so it splits no
    // stage); the buffer, in chain order, is both `Prepared.stages` and
    // `Prepared.observations`.
    val stageTallies = ListBuffer.empty[(String, DataFrame, TallyHandle)]
    // `df` counted as the stage `name`; `cut` (a checkpoint) follows the count
    def counted(name: String, df: DataFrame,
        cut: DataFrame => DataFrame = identity): DataFrame = {
      val (tallied, h) = Tally.of(df, name -> lit(1L))
      val out = cut(tallied)
      stageTallies += ((name, out, h))
      out
    }
    // The adaptive spread sits BELOW the input count: the input count is
    // partitioning-blind (same rows), and the tally is a pushdown
    // barrier — placed above a bare repartition, PushDownPredicates would
    // substitute the gate filter (strip chain inlined) straight back
    // through the exchange into the scan stage, recreating the
    // single-task gate the spread exists to fix (measured round 16: a
    // 1.36 s one-task map stage with the spread above the count; ~0.1 s
    // 32-way below it).
    // Applied to EVERY config (the plain gate's token/alpha/lang-vote
    // signals are the same per-byte text machinery — measured round 16:
    // the dsir variant's plain gate ran ~1.3 s single-task), but only
    // ever in the small-scan regime the size gate detects, so the plain
    // config's lazy-narrow-scan contract at scale is untouched.
    val heavyChain = cfg.urlCol.isDefined || cfg.stripHtml || cfg.c4Rules ||
      cfg.gopherRules || cfg.modelGate.isDefined || cfg.perplexityGate.isDefined
    val spreadCorpus = cpuSpread(corpus, cfg.idCol)
    // Whether the adaptive spread FIRED decides the gate materialization
    // below: a fired spread is an Exchange in the LAZY gate chain, and a
    // lazy chain is re-executed by every downstream materializing action
    // (shuffle stages are not reused across separate driver actions) —
    // the plain-gate configs re-paid the spread exchange + the per-byte
    // gate machinery 2–3× per query, and under a loaded 32-way box that
    // repetition is exactly where the round-16 driver regressions sat
    // (q_corpus_pipeline_fuzzy/_dsir). Spread ⇒ small regime ⇒ the gate
    // survivors are bounded ⇒ checkpointing them once is cheap by the
    // same argument that made the spread safe. No spread (the 100 TB
    // scan) ⇒ heavyChain alone decides, exactly as before.
    val spreadOn = spreadCorpus ne corpus
    val corpusO = counted("input", spreadCorpus)

    // 0a. optional URL-level dedup — the FIRST rung when `urlCol` is set
    //    (crawl corpora carry one): one document per canonical URL is a
    //    crawl's cheapest and largest reduction, and running it before
    //    anything else means the expensive strip/gate regex scans never
    //    touch a URL-duplicate at all. Only (canonical-url, id) pairs
    //    shuffle ([[Dedup.exactByUrl]]); NULL urls pass through (no URL
    //    ≠ same URL).
    val urlDeduped = cfg.urlCol.fold(corpusO) { u =>
      counted("url_dedup", Dedup.exactByUrl(corpusO, u, cfg.idCol))
    }

    // 0. optional HTML stripping — FIRST: every downstream signal (token
    //    counts, language votes, shingles, lines) must see text, not
    //    markup. The collapse is the NEWLINE-PRESERVING one: the optional
    //    line-dedup stage downstream needs the line structure that
    //    collapseWhitespace would weld away. The BENCHMARK gets the same
    //    strip: decontamination compares shingle sets, and a corpus
    //    expected to be HTML usually means HTML-wrapped eval dumps too —
    //    markup-shingles vs text-shingles would silently under-detect
    //    contamination. (On an already-clean benchmark the strip is a
    //    no-op: shingling normalizes whitespace anyway.)
    //    Every gate rule and the benchmark's shingle filter read the
    //    stripped column: evaluateOnce keeps the 15-regexp chain from
    //    being copied into each of those predicates (21 copies in the
    //    gate filter without it).
    def stripped(df: DataFrame): DataFrame = df.withColumn(cfg.textCol,
      Dedup.evaluateOnce(
        TextAnalysis.collapseLineWhitespace(TextAnalysis.stripHtml(text))))
    val source = if (!cfg.stripHtml) urlDeduped else stripped(urlDeduped)
    val benchClean =
      if (!cfg.stripHtml) benchmark else benchmark.map(stripped)

    // 0b. optional C4 cleaning (Raffel et al. 2020 §2.2, the same public
    //    rules the standalone c4LineClean/c4PagePass columns implement):
    //    runs after the strip (rules read text lines, not markup) and
    //    before the quality gate, whose token/alpha/lang signals must see
    //    the text that will actually train and whose minTokens floor
    //    re-gates what the rewrite empties (the line/span-dedup
    //    discipline). Three sub-steps, ONE c4LineClean evaluation per
    //    surviving row (round 10 measured the naive gate-then-rewrite
    //    shape at 2× on survivors):
    //     1. the raw-page rules (no '{', no lorem ipsum) filter FIRST —
    //        cheap contains-gates that push into the parquet scan;
    //     2. the line clean rewrites the text in one projection, and the
    //        `c4_page_gate` stage count's tally doubles as the pushdown
    //        barrier: PushDownPredicates would otherwise substitute the
    //        cleaned-text alias back into the sentence floor below the
    //        projection (measured, round 10) and pay the 14-op clean
    //        twice — a filter cannot cross a tally (that is the
    //        SEMANTICS of a stage count), so
    //     3. the sentence floor above it reads the cleaned ATTRIBUTE.
    //    The extra reported stage is honest accounting: a production C4
    //    run reports page-rule drops separately from the quality gate.
    val c4Gated = if (!cfg.c4Rules) source else
      counted("c4_page_gate",
        source.where(TextAnalysis.c4RawPagePass(text))
          .withColumn(cfg.textCol, TextAnalysis.c4LineClean(text)))
    val c4Source = if (!cfg.c4Rules) c4Gated
      else c4Gated.where(TextAnalysis.c4MinSentencesOk(text))

    // 1. quality + language gate: one narrow codegen'd scan stage
    //    (+ optional Gopher rule conjunction and/or the trained
    //    model-gate logit — same scan, no extra stage: the model scorer
    //    is one more scaled-long fold term in the conjunction)
    // Tokenizer-dependent gate signals. Under Tok.Ml every signal is the
    // script-aware form: ml token counts (a zh document is no longer
    // zero words), tokenCharRatio instead of the [A-Za-z] alphaRatio
    // (which gates every non-Latin document to 0.0), and the PER-SCRIPT
    // Gopher gate branched on the routed language. Latin keeps the
    // byte-identical historical expressions.
    val ml = cfg.tokenizer == Tok.Ml
    def nTokens(c: Column): Column =
      if (ml) size(Tok.Ml.tokens(c)) else TextAnalysis.tokenCount(c)
    val alphaGate =
      if (ml) TextAnalysis.tokenCharRatio(text) >= cfg.minAlphaRatio
      else TextAnalysis.alphaRatio(text) >= cfg.minAlphaRatio
    val gopherGate =
      if (!cfg.gopherRules) lit(true)
      else if (ml)
        TextAnalysis.gopherPassMl(text, GraftFunctions.langIdNative(text))
      else TextAnalysis.gopherPass(text)
    val gate = c4Source.where(
      nTokens(text).between(cfg.minTokens, cfg.maxTokens) &&
        alphaGate &&
        GraftFunctions.langIdNative(text).isin(cfg.langs.toSeq: _*) &&
        gopherGate &&
        cfg.modelGate.fold(lit(true)) { mg =>
          graft.operators.QualityModel.logitCol(text, mg.model,
            cfg.tokenizer) >= mg.minLogit } &&
        cfg.perplexityGate.fold(lit(true)) { pg =>
          graft.operators.NgramLm.gateCol(text, pg.model, pg.minMeanLog,
            cfg.tokenizer) } &&
        (if (cfg.blocklist.nonEmpty)
          !TextAnalysis.containsBlockedWord(text, cfg.blocklist, cfg.tokenizer)
        else lit(true)))
    // With the optional stages on, the gate's upstream is no longer a
    // cheap narrow scan (URL-dedup shuffles; strip is a 15-regexp chain;
    // C4/Gopher add per-document rule conjunctions) and it feeds MULTIPLE
    // downstream consumers (exactByContent reads it twice, the dedup
    // rungs and both final actions read on) — materialize it once
    // instead of re-running the expensive scan per consumer.
    // Round 17: a FIRED spread materializes the gate too — the spread
    // put an Exchange (plus the per-byte gate work above it) into the
    // lazy chain, and every one of those same downstream consumers
    // re-executes it per action; one bounded checkpoint of the gate
    // survivors replaces 2–3 spread+gate re-executions (see spreadOn).
    // The plain-config gate WITHOUT a fired spread (the at-scale shape)
    // stays a lazy narrow scan, exactly as before.
    val filtered = counted("quality", gate,
      if (heavyChain || spreadOn) Dedup.materialize else identity)

    // 1b. optional per-domain cap — right after the gate, BEFORE the
    //    dedup rungs: ranks read only (group, token count, id), and a
    //    capped document is a document the shingle stages never pay for.
    //    Best-first by token count (the gate's own signal — no new
    //    column), ties by ascending id: deterministic membership across
    //    runs, partitionings, and engines. One group-key shuffle, planned
    //    as a map-side-partial WindowGroupLimit (bounded k-row buffer per
    //    domain — the 100 TB shape; see Sampling.capPerGroup).
    val capped = cfg.domainCap.fold(filtered) { dc =>
      counted("domain_cap",
        Sampling.capPerGroup(filtered, dc.groupCol, cfg.idCol, dc.k,
          nTokens(text)))
    }

    // 2. exact content dedup (min-id survivor per normalized text)
    val exact = counted("exact_dedup",
      Dedup.exactByContent(capped, cfg.textCol, cfg.idCol, cfg.tokenizer))

    // 2b/2c. optional line- then span-level dedup. Both REWRITE text, so
    //    each re-applies the minTokens gate (a doc scrubbed below the
    //    floor drops — the operators themselves never delete documents),
    //    and both run BEFORE near-dup: removing shared boilerplate
    //    changes shingle sets, and the near-dup decision must be made on
    //    the text that will actually be trained on.
    // The last rewrite is read by two actions downstream (the near-dup
    // detector's shingle checkpoint and the documents action), so it is
    // checkpointed once, after its count. Line dedup under span dedup
    // stays lazy: span dedup's three reads of it share its exchanges.
    def rewriteStage(name: String, rewritten: DataFrame, last: Boolean): DataFrame =
      counted(name, rewritten.where(nTokens(text) >= cfg.minTokens),
        if (last) Dedup.materialize else identity)
    val lineDeduped = cfg.lineDedupMinDocs.map { m =>
      rewriteStage("line_dedup",
        LineDedup.removeDuplicatedLines(exact, cfg.textCol, cfg.idCol, m),
        last = cfg.spanDedupN.isEmpty)
    }
    val spanDeduped = cfg.spanDedupN.map { n =>
      rewriteStage("span_dedup",
        SpanDedup.removeDuplicatedSpans(lineDeduped.getOrElse(exact), cfg.textCol,
          cfg.idCol, n, tok = cfg.tokenizer),
        last = true)
    }
    val nearInput = spanDeduped.orElse(lineDeduped).getOrElse(exact)

    // 3. near-dup removal (MinHash+LSH detect → CC → min-id survivor).
    //    The DEFAULT detector is AUTO-selected per corpus
    //    (Dedup.selectDetector: a bounded background sample + corpus
    //    count price the fixed banding; toy/typical corpora keep the
    //    fixed single-plan geometry, high-background corpora escalate to
    //    tuned banding + the signature prefilter by themselves, and the
    //    near-all-pairs regime fails loudly with the remedy named —
    //    line-dedup rung / higher threshold / per-group dedup — instead
    //    of OOMing the verify join). `tunedNearDedup` PINS the tuned
    //    detector (skip the decision; the forced form for corpora the
    //    caller has already profiled). Survivors are identical across
    //    detectors (every candidate is exact-verified at the same
    //    threshold); only the cost moves.
    val nearDeduped = counted("near_dedup", Dedup.removeNearDuplicates(
      nearInput, cfg.textCol, cfg.idCol, cfg.dedupThreshold, cfg.shingleN,
      tok = cfg.tokenizer,
      detector =
        if (cfg.tunedNearDedup) Dedup.Detector.Tuned else Dedup.Detector.Auto))

    // 3b. optional SEMANTIC dedup (SemDeDup) — the last dedup rung:
    //    paraphrase-level duplicates the shingle families cannot see,
    //    visible only in embedding space. AFTER lexical near-dup (cheaper
    //    rungs first shrink the cluster population) and BEFORE
    //    decontamination (a semantic dup of a contaminated doc should
    //    drop here, not survive because its contaminated twin was
    //    removed first by a later stage). Embeddings are id-stable
    //    metadata — the line/span text rewrites upstream don't touch
    //    them.
    val semDeduped = cfg.semanticDedup.fold(nearDeduped) { sc =>
      counted("semantic_dedup",
        Dedup.removeSemanticDuplicates(nearDeduped, sc.embedCol, cfg.idCol,
          sc.centroids, sc.threshold, assignKeep = sc.assignKeep,
          maxClusterSize = sc.maxClusterSize, projectTo = sc.projectTo))
    }

    // 3c. optional PERCEPTUAL IMAGE dedup — the multimodal rung: docs
    //    whose image payloads are near-identical (banded dHash within
    //    the Hamming bound) collapse to the min-id survivor; NULL /
    //    undecodable payloads always pass. After the text rungs (the
    //    payload is id-stable metadata; text evidence is cheaper and
    //    should shrink the decode population first), before
    //    decontamination (an image-dup of a contaminated doc must drop
    //    here, not survive its twin's later removal).
    // Decode ONCE across the media rungs (round 14): when the decon
    // probe matches a dedup rung's kind (and, for video, its sampling
    // rate), hash the payloads a single time at that rung's input and
    // share the materialized frame between the rung and the probe —
    // decode is the dominant media span, and the decon population is a
    // subset of the rung input (superset hash rows are inert in the
    // probe's anti-join: the documented corpusHashes contract). The
    // 128-bit image frame's `lo` IS the 64-bit horizontal dHash, so the
    // 64-bit decon probe reads it directly. The streaming ingestion path
    // has used exactly this one-frame discipline since round 13.
    val sharedImg: Option[(DataFrame, DataFrame)] =
      (cfg.imageDedup, cfg.mediaDecontaminate) match {
        case (Some(ic), Some(mdc)) if mdc.kind == "image" =>
          if (ic.use128) {
            val h = Dedup.materialize(Dedup.imageHashFrame128(
              semDeduped, cfg.idCol, ic.typeCol, ic.binaryCol))
            Some((h, h.select(col("id"), col("lo").as("sh"))))
          } else {
            val h = Dedup.materialize(Dedup.imageHashFrame(
              semDeduped, cfg.idCol, ic.typeCol, ic.binaryCol))
            Some((h, h))
          }
        case _ => None
      }
    val imgDeduped = cfg.imageDedup.fold(semDeduped) { ic =>
      counted("image_dedup",
        if (ic.use128)
          Dedup.removeNearDuplicateImages128(semDeduped, cfg.idCol,
            ic.typeCol, ic.binaryCol, ic.maxHamming,
            hashes = sharedImg.map(_._1))
        else
          Dedup.removeNearDuplicateImages(semDeduped, cfg.idCol,
            ic.typeCol, ic.binaryCol, ic.maxHamming,
            hashes = sharedImg.map(_._1)))
    }

    // 3d. optional PERCEPTUAL AUDIO dedup — the image rung's audio
    //    sibling, same slot discipline (see [[AudioDedupConfig]]).
    val sharedAud: Option[DataFrame] =
      (cfg.audioDedup, cfg.mediaDecontaminate) match {
        case (Some(ac), Some(mdc)) if mdc.kind == "audio" =>
          Some(Dedup.materialize(Dedup.audioHashFrame(
            imgDeduped, cfg.idCol, ac.typeCol, ac.binaryCol)))
        case _ => None
      }
    val audDeduped = cfg.audioDedup.fold(imgDeduped) { ac =>
      counted("audio_dedup",
        Dedup.removeNearDuplicateAudio(imgDeduped, cfg.idCol,
          ac.typeCol, ac.binaryCol, ac.maxHamming, hashes = sharedAud))
    }

    // 3e. optional PERCEPTUAL VIDEO dedup — the third media sibling,
    //    same slot discipline (see [[VideoDedupConfig]]).
    // video sharing additionally requires ONE sampling rate: fpos
    // semantics are rate-relative, so a probe at a different everyN
    // must decode its own frame
    val sharedVid: Option[DataFrame] =
      (cfg.videoDedup, cfg.mediaDecontaminate) match {
        case (Some(vc), Some(mdc))
            if mdc.kind == "video" && mdc.everyN == vc.everyN =>
          Some(Dedup.materialize(Dedup.videoFrameHashFrame(
            audDeduped, cfg.idCol, vc.typeCol, vc.binaryCol, vc.everyN)))
        case _ => None
      }
    val vidDeduped = cfg.videoDedup.fold(audDeduped) { vc =>
      counted("video_dedup",
        Dedup.removeNearDuplicateVideos(audDeduped, cfg.idCol,
          vc.typeCol, vc.binaryCol, vc.everyN, vc.maxHamming,
          vc.minMatchFrac, alignFrames = vc.alignFrames,
          frameHashes = sharedVid))
    }

    // 4. benchmark decontamination. DELIBERATELY a larger n than the
    //    dedup shingles: any-single-trigram overlap would scrub nearly
    //    every English document (common trigrams are everywhere); the
    //    standard decontamination window is ~8–13 contiguous tokens —
    //    long enough that sharing one is real benchmark leakage.
    //    `bloomDecontaminate` selects the bloom-prefiltered scale path
    //    (the corpus-side shuffle shrinks from "all shingles" to "true
    //    hits + fpp noise"); survivors are IDENTICAL by construction —
    //    the exact confirm join removes bloom false positives at any fpp.
    // Without a benchmark the stage keeps every row. When the fuzzy
    // stage is ON, cut the lineage at the exact-decon survivors once: the
    // fuzzy probe reads its corpus side for shingles AND for the final
    // anti-join, and every downstream consumer (documents, chunks)
    // re-reads it again — without the checkpoint each of those
    // re-executes the whole six-stage chain (measured ×2.7 on the
    // pipeline query at sf0.1). Off = no fuzzy stage = plans unchanged.
    val fuzzyOn = benchClean.isDefined && cfg.fuzzyDecontaminate.isDefined
    val cleanM = counted("decontaminated", benchClean.fold(vidDeduped) { b =>
      if (cfg.bloomDecontaminate)
        Dedup.removeContaminatedBloom(vidDeduped, b, cfg.textCol, cfg.idCol,
          cfg.decontaminateN, cfg.bloomFpp, cfg.tokenizer)
      else
        Dedup.removeContaminated(vidDeduped, b, cfg.textCol, cfg.idCol,
          cfg.decontaminateN, cfg.tokenizer)
    }, if (fuzzyOn) Dedup.materialize else identity)

    // 4b. optional FUZZY decontamination — the reworded-leak net: a
    //    paraphrased benchmark dump shares most of its SHINGLE set while
    //    dodging every verbatim `decontaminateN`-token run, so the exact
    //    probe above cannot see it. Runs AFTER the exact pass (the cheap
    //    equi-join already removed the verbatim mass, so the band probe
    //    sees a smaller corpus side) at the caller's Jaccard threshold —
    //    deliberately independent of `dedupThreshold`: leakage tolerance
    //    is asymmetric, a decon cut well BELOW the dedup cut is the
    //    normal configuration (dropping a borderline training doc is
    //    cheap; keeping a borderline benchmark twin poisons the eval).
    val fuzzyClean = (benchClean, cfg.fuzzyDecontaminate) match {
      case (Some(b), Some(tau)) =>
        counted("decontaminated_fuzzy",
          Dedup.removeContaminatedFuzzy(cleanM, b, cfg.textCol, cfg.idCol,
            tau, cfg.shingleN, tok = cfg.tokenizer))
      case _ => cleanM
    }

    // 4b'. optional MEDIA decontamination — the perceptual benchmark
    //    probe, right after the text decontamination stages (same
    //    rationale: a leaked eval image/clip must never train, and must
    //    drop before any selection rung can weight it).
    val mediaClean = cfg.mediaDecontaminate.fold(fuzzyClean) { mdc =>
      // probe with the matching dedup rung's ALREADY-COMPUTED hash frame
      // when one exists (decode once across the rungs — see sharedImg)
      val shared = mdc.kind match {
        case "image" => sharedImg.map(_._2)
        case "audio" => sharedAud
        case _       => sharedVid
      }
      counted("media_decontaminated",
        Dedup.removeContaminatedMediaIndexed(fuzzyClean, mdc.benchmarkHashes,
          cfg.idCol, mdc.typeCol, mdc.binaryCol, mdc.kind, mdc.maxHamming,
          mdc.everyN, mdc.minMatchFrac, mdc.alignFrames,
          corpusHashes = shared))
    }

    // 4c. optional DSIR selection — the importance-resampling rung:
    //    keep k documents drawn toward the fitted target distribution.
    //    LAST content stage: selection must only ever see documents that
    //    survived every dedup/decontamination rung (a high-importance
    //    duplicate or leak must stay dead), and it reads pre-redaction
    //    text (placeholder tokens carry no target-distribution signal).
    // Materialized after its count: the k-row selection feeds documents
    // and chunks — without the checkpoint each consumer re-runs the
    // Gumbel-scored top-k over the whole upstream chain (the cleanM
    // multi-consumer rationale, at a k-row materialization cost).
    // The top-k selection ends in a single partition (orderBy + limit ⇒
    // TakeOrdered merge), which would serialize EVERY downstream stage —
    // redaction, chunking, packing, the stats aggregates — onto one task
    // (measured round 16: ~1.5 s of one-task jobs in the dsir variant's
    // tail). The spread's PARTITION COUNT derives from k — problem
    // knowledge the optimizer doesn't have ([[Dedup.spreadRows]]): the
    // round-16 full-parallelism spread fanned the 150-row selection to
    // 32 partitions and every one of the ~20 downstream tail jobs became
    // a 32-task job of ~5 rows each — the driver bench paid +5-7 s of
    // job-tail scheduling overhead at 32 cores (q_corpus_pipeline_dsir
    // 8.2 → 13.0 s) while the 8-core run was clean. k/32-rows-per-task
    // keeps the ~10 ms/row redaction parallel (k=150 ⇒ 5 tasks of ~30
    // rows) without the fan; a corpus-sized k still spreads to the full
    // session parallelism.
    val selected = cfg.dsirSelect.fold(mediaClean) { dc =>
      counted("dsir_selected", Dedup.spreadRows(
        Dsir.resampleRows(mediaClean, cfg.textCol,
          cfg.idCol, dc.model, dc.k, dc.salt, cfg.tokenizer),
        col(cfg.idCol), dc.k), Dedup.materialize)
    }

    // 4d. optional MIXING rungs — the training-mix composition step,
    //    after every selection rung (mix rates must be derived from the
    //    final surviving corpus, and a mix must never resurrect a
    //    duplicate or leak) and before redaction (token mass is counted
    //    on natural text). Both are two-pass by nature: ONE bounded
    //    aggregate brings #strata scalars to the driver, then the
    //    applied predicate is a narrow key-pure md5 scan — so when a mix
    //    rung is on and the upstream tail is not already a checkpoint
    //    (the DSIR rung's is), the pre-mix survivors are materialized
    //    once rather than re-executing the whole chain for the histogram
    //    pass AND every downstream consumer.
    val mixOn = cfg.mixToShares.isDefined || cfg.temperatureMix.isDefined
    val mixInput =
      if (mixOn && cfg.dsirSelect.isEmpty) Dedup.materialize(selected) else selected
    val shareMixed = cfg.mixToShares.fold(mixInput) { mc =>
      // A pre-mix corpus with NO target stratum carrying positive token
      // mass (fully-gated streaming micro-batch; a batch whose survivors
      // all sit in non-target strata) has no histogram to derive rates
      // from. That is a reachable DATA state, not operator misuse — so
      // the pipeline path resolves it itself: the largest achievable
      // downsample-only total is 0, hence the mix's correct output is
      // the empty frame (every non-target stratum drops; every target
      // stratum rate is 0). The operator's own require stays reserved
      // for direct misuse. One bounded existence probe on the
      // checkpointed pre-mix frame.
      val noTargetMass = mixInput
        .where(col(mc.strataCol).cast("string")
          .isin(mc.targetShares.keys.toSeq: _*) &&
          nTokens(text) > 0)
        .isEmpty
      counted("mixed",
        if (noTargetMass) mixInput.where(lit(false))
        else Sampling.mixToTokenShares(
          mixInput.withColumn("_mix_tokens", nTokens(text)),
          cfg.idCol, mc.strataCol, "_mix_tokens", mc.targetShares)
          .drop("_mix_tokens"))
    }
    val mixed = cfg.temperatureMix.fold(shareMixed) { tc =>
      counted("temperature_mixed",
        Sampling.temperatureResample(shareMixed, cfg.idCol, tc.strataCol,
          tc.alpha, tc.targetFraction))
    }

    // 5. PII redaction + 6. per-DOCUMENT split assignment.
    //    `materializeDocuments` checkpoints the finished documents frame
    //    ONCE so that every consumer — the caller's own actions AND the
    //    chunk derivation below — reads the materialized survivors
    //    instead of re-executing the full chain per action (a production
    //    run stages the final documents to storage before chunking for
    //    exactly this reason; at test scale it is a survivor-sized local
    //    checkpoint). Default off: the lazy-API contract stands.
    val documentsPlan = Sampling.hashSplit(
      mixed.withColumn(cfg.textCol, TextAnalysis.redactPii(text)),
      cfg.idCol, cfg.splits)
    val documents =
      if (cfg.materializeDocuments) Dedup.materialize(documentsPlan) else documentsPlan

    // 7. chunks get the SAME split: it is a pure function of the id
    //    (md5 bucket), so re-deriving it on the chunker's output is a
    //    narrow projection that matches the document's split exactly —
    //    no join, and the documents subtree evaluates once, not twice.
    //    `bpeChunking` swaps the window unit from whitespace tokens to
    //    TRAINED-BPE pieces (the units a real trainer packs) — same
    //    narrow chunking plan, the codegen'd kernel swaps in; the
    //    downstream packing budget then counts true pieces too (it
    //    reads the chunker's n_chunk_tokens).
    val chunks = Sampling.hashSplit(
      Chunking.chunkByTokens(
        documents, cfg.textCol, cfg.idCol, cfg.chunkTokens, cfg.overlapTokens,
        tokenizer = cfg.bpeChunking.map(m =>
            graft.operators.Bpe.pieces(text, m, cfg.tokenizer))
          .orElse(if (ml) Some(Tok.Ml.tokens(text)) else None)),
      cfg.idCol, cfg.splits)

    // 8. optional sequence packing — the stage after chunking in every
    //    pre-training pipeline: greedy first-fit of the chunks into
    //    fixed-budget training examples, per (split, shard) so examples
    //    never straddle a split ([[Packing.packExamples]] — one hash
    //    shuffle, O(1)-state streaming pass per task).
    // With BPE chunking on, chunk_text IS a space-joined piece stream —
    // the packed examples additionally emit `input_ids` (the member
    // pieces' vocab ids under the same merge table, in pack order): the
    // tensor a trainer consumes, closing the text→training-example path.
    val packed = cfg.packTokenBudget.map { budget =>
      Packing.packExamples(chunks, budget, cfg.idCol, "chunk_idx",
        "n_chunk_tokens", splitCol = Some("split"),
        inputIds = cfg.bpeChunking.map(m =>
          graft.operators.Bpe.pieceIds(col("chunk_text"), m)))
    }

    Prepared(documents, chunks,
      stageTallies.toList.map { case (name, df, _) => name -> df },
      stageTallies.toList.map { case (name, _, h) => name -> h },
      packed)
  }
}
