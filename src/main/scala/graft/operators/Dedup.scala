package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, Tally, TallyHandle, TextAnalysis, Tok}

/** Deduplication operators for large-scale training-data pipelines
  * (north-star mandate; extends the reference's exact `drop_duplicates`,
  * dags/etl_pipeline.py:178, to the near-duplicate families a 100 TB text
  * corpus needs).
  *
  * Scale design: every method is a pure DataFrame plan — candidate
  * generation is always hash-partitioned (groupBy/join on a bucket key),
  * never all-pairs; exact verification runs only within candidate buckets.
  * No driver-side materialization anywhere.
  */
object Dedup {

  /** Exact full-row dedup (reference P10 at scale: one hash shuffle on all
    * columns; AQE coalesces post-shuffle partitions). */
  def exact(df: DataFrame): DataFrame = df.dropDuplicates()

  /** Exact content dedup by normalized-text fingerprint: keeps the row
    * with the lowest id per content group. Shuffles only (fingerprint,
    * id) pairs — not the documents — then semi-joins the winners back. */
  def exactByContent(df: DataFrame, textCol: String, idCol: String,
      tok: Tok = Tok.Latin): DataFrame = {
    // Latin keeps the historical normalizeText fingerprint (frozen
    // oracles); Ml fingerprints the space-joined ml token stream — under
    // the Latin rule EVERY non-Latin document normalizes to "" and the
    // whole zh/ru corpus would collapse into one "duplicate" group.
    // Documents whose ML token stream is EMPTY (scripts outside the
    // routing table — Bengali, Armenian, emoji-only, punctuation-only)
    // would re-create the same collapse one rung down: they all hash
    // xxhash64("") and every one but the min-id row would silently drop
    // as a "duplicate". Empty-token documents fall back to the RAW-text
    // fingerprint (mirroring shingleSets' size > 0 guard): distinct
    // unroutable texts stay distinct; byte-identical ones still dedup.
    val fpCol =
      if (tok == Tok.Latin) TextAnalysis.fingerprint64(col(textCol))
      else {
        GraftFunctions.register(df.sparkSession)
        val toks = tok.tokens(col(textCol))
        when(size(toks) > 0, xxhash64(concat_ws(" ", toks)))
          .otherwise(xxhash64(col(textCol)))
      }
    val fp = df.select(col(idCol), fpCol.as("_fp"))
    val keep = fp.groupBy(col("_fp")).agg(min(col(idCol)).as(idCol)).drop("_fp")
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Exact URL-level dedup (the CCNet-shape "one document per URL" crawl
    * pass): keys on [[TextAnalysis.canonicalizeUrl]] — tracking params,
    * fragments, host case, default ports, and `www.` never split a URL
    * group — and keeps the lowest id per canonical URL. Same scale shape
    * as [[exactByContent]]: only (canonical-url, id) pairs shuffle, the
    * documents themselves move nowhere; winners semi-join back. Rows
    * whose url column is NULL are kept unconditionally (no URL ≠ same
    * URL). */
  def exactByUrl(df: DataFrame, urlCol: String, idCol: String): DataFrame = {
    val canon = df.select(col(idCol), TextAnalysis.canonicalizeUrl(col(urlCol)).as("_curl"))
      .where(col("_curl").isNotNull)
    val keep = canon.groupBy(col("_curl")).agg(min(col(idCol)).as(idCol)).drop("_curl")
    df.where(col(urlCol).isNull)
      .unionByName(df.join(keep, Seq(idCol), "left_semi"))
  }

  /** (id, shingles) projection — distinct word n-gram shingles per doc,
    * docs with no shingle dropped.
    *
    * Repartitions by id BEFORE the shingle expression so that, on an
    * input that arrives in a few splits (a single-file table), the
    * CPU-heavy shingle and minhash stages still spread over the session's
    * shuffle partitions. The shuffle moves only (id, text). It does NOT
    * pin the parallelism: the planner drops this exchange when the input
    * is already hash-partitioned by id into that many partitions (a join
    * or aggregate keyed on it just ran), and the stage then runs on
    * however many partitions AQE coalesced that shuffle into.
    *
    * The emptiness filter reads the shingles through [[evaluateOnce]]:
    * pushed below the projection it would build every shingle array
    * twice. */
  def shingleSets(df: DataFrame, textCol: String, idCol: String, n: Int = 3,
      tok: Tok = Tok.Latin): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.select(col(idCol).as("id"), col(textCol).as("_text"))
      .repartition(cpuParallelism(df), col("id"))
      .select(col("id"), evaluateOnce(tok.shingles(col("_text"), n)).as("shingles"))
      .where(size(col("shingles")) > 0)
  }

  /** Explicit partition count for CPU-bound expression stages. A plain
    * `repartition(col)` lets AQE coalesce by BYTE size — and text/vector
    * compute is heavy per byte, so AQE would merge a small-on-disk corpus
    * back into one task. An explicit count pins the parallelism. */
  private[operators] def cpuParallelism(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  /** Scale-ADAPTIVE spread for CPU-heavy stages whose input may arrive
    * under-split (guide §2.5 "input skew"; the CorpusPipeline gate-spread
    * discipline, shared here since round 17): repartition by `key` to
    * the session's parallelism ONLY when the optimizer's own size
    * estimate says the scan cannot fill it — at which point the exchange
    * is bounded by partitions × maxPartitionBytes bytes by construction.
    * A corpus-scale input (its scan is already thousands of splits)
    * fails the condition and keeps its narrow plan — no full-corpus
    * shuffle is ever introduced at scale. Returns `df` itself (reference-
    * equal) when not spreading, so callers can branch on `ne`. */
  private[graft] def spreadIfSmall(df: DataFrame, key: Column): DataFrame = {
    val conf = df.sparkSession.sessionState.conf
    val target = conf.numShufflePartitions
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes < BigInt(target.toLong) * conf.filesMaxPartitionBytes)
      df.repartition(target, key)
    else df
  }

  /** [[spreadIfSmall]] for a frame whose ROW COUNT the caller knows at
    * plan time (a top-k selection: k is in the config) — problem
    * knowledge the optimizer doesn't have. Partition count derives from
    * the rows, NOT blindly the session parallelism: fanning a k-row
    * frame to 32 partitions makes EVERY downstream job over it a
    * 32-task job of ~k/32 rows each, and at high core counts the
    * per-task scheduling overhead of the job tail dwarfs the per-row
    * work (round-16 lesson: the 150-row DSIR tail at 32-way cost the
    * driver bench +5-7 s of pure job-tail overhead while the 8-core run
    * was clean). `rowsPerTask` targets ~100-300 ms of CPU-heavy per-row
    * tail work (regex redaction ≈ 10 ms/row) per task; a corpus-sized k
    * still clamps up to the session parallelism. */
  private[graft] def spreadRows(df: DataFrame, key: Column, rows: Long,
      rowsPerTask: Long = 32L): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    val parts = math.min(target.toLong,
      math.max(1L, (rows + rowsPerTask - 1) / rowsPerTask)).toInt
    df.repartition(parts, key)
  }

  /** Cut lineage and materialize a reused subtree exactly once. RELIABLE
    * `checkpoint()` (HDFS/object-store) whenever the session has a
    * checkpoint dir configured — `localCheckpoint` pins blocks in executor
    * storage and dies with an executor: fine on local[n], fatal mid-job on
    * a 1000-node cluster — with `localCheckpoint` as the no-dir fallback.
    * Every operator that re-reads a subtree goes through HERE so the
    * policy can't drift per call site (round-2 had unconditional
    * localCheckpoints in two dedup hot paths). */
  private[graft] def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** `c`, computed ONCE per row for every filter or projection that
    * reads the column it defines: `graft_once(c)`, an identity the
    * optimizer keeps in its projection without splitting the codegen
    * stage ([[graft.functions.Once]] says why). */
  private[graft] def evaluateOnce(c: Column): Column =
    call_function("graft_once", c)

  /** [[materialize]] + row count in ONE driver action: the count is a
    * [[Tally]] the checkpoint pass runs, instead of a separate count job
    * (a full extra pass over the checkpointed frame at any scale).
    * Used by every detect path that materializes a frame and immediately
    * needs its cardinality (AUTO/tuned banding, guard pricing). */
  private[graft] def materializeCounted(df: DataFrame): (DataFrame, Long) = {
    val (tallied, h) = Tally.of(df, "n_rows" -> lit(1L))
    val m = materialize(tallied)
    (m, h.valueOr("n_rows")(m.count()))
  }

  /** EXACT n-gram Jaccard pairs above a threshold, via prefix-filtering
    * set-similarity join (Vernica/Carey/Li, "Efficient Parallel
    * Set-Similarity Joins Using MapReduce", SIGMOD 2010 — public
    * literature): under any fixed global token order, two sets with
    * J ≥ τ MUST share a token within the first |S| − ⌈τ·|S|⌉ + 1 tokens
    * of each (pigeonhole on the required overlap ≥ ⌈τ·max|S|⌉). So:
    * explode only the prefix, equi-join on the prefix token, then verify
    * candidates with the exact Jaccard. No all-pairs product anywhere —
    * the joins are hash-partitioned on token / id, which is what survives
    * a 100×-scale corpus. Results are identical to the quadratic
    * definition (it is a candidate-pruning rewrite, not an approximation). */
  def exactJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, n: Int = 3, tok: Tok = Tok.Latin): DataFrame = {
    val sh = shingleSets(df, textCol, idCol, n, tok)
    // Shingle STRINGS are hashed to 64-bit longs at the source and never
    // seen again: the df count, the ordered-set arrays, the prefix
    // self-join, and the Jaccard verify all run on 8-byte keys instead of
    // ~25-byte n-gram text — the dominant shuffle/heap cost of this
    // operator at corpus scale. Set semantics are preserved up to 64-bit
    // collisions WITHIN one document pair (~|doc|²/2⁶⁴ — the same
    // collision model the string kernel already uses internally, and the
    // same argument [[contaminationHits]] documents).
    //
    // Global token order = ascending document frequency (rarest first),
    // ties by token hash — the load-bearing part of prefix filtering:
    // prefixes then hold each doc's RAREST shingles, so the candidate
    // equi-join buckets stay small even on corpora with skewed token
    // frequencies (lexicographic ordering degenerates to near-all-pairs
    // when frequent tokens land in prefixes).
    val tokens = sh.select(col("id"), explode(col("shingles")).as("_s"))
      .select(col("id"), xxhash64(col("_s")).as("tok"))
    val docFreq = tokens.groupBy("tok").agg(count(lit(1)).as("df"))
    // Materialized once: this subtree otherwise re-executes for the
    // prefix explode AND each verify join side — 3× the corpus's
    // heaviest stage. Blocks are evicted by the ContextCleaner when the
    // plan is garbage-collected.
    val ordered = materialize(tokens.join(docFreq, Seq("tok"))
      .groupBy("id")
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("ord"))
      .select(col("id"), transform(col("ord"), x => x.getField("tok")).as("sh")))
    val prefixLen = (size(col("sh")).cast("double") -
      ceil(size(col("sh")).cast("double") * lit(threshold)) + 1).cast("int")
    val prefixTokens = ordered
      .select(col("id"), size(col("sh")).as("sz"),
        posexplode(slice(col("sh"), lit(1), greatest(prefixLen, lit(1)))))
      .withColumnRenamed("pos", "tpos") // 0-based position within the doc
      .withColumnRenamed("col", "tok")
    // Candidate pruning beyond the token-match itself (both public
    // literature, exact — rewrites, not approximations):
    //  - length filter: J ≥ τ forces τ·|A| ≤ |B| ≤ |A|/τ;
    //  - POSITIONAL filter (PPJoin, Xiao/Wang/Lin/Yu, WWW 2008): J ≥ τ
    //    needs overlap α ≥ τ/(1+τ)·(|A|+|B|); a shared token at
    //    0-based positions (pA, pB) caps the achievable overlap at
    //    1 + min(|A|−pA−1, |B|−pB−1), so pairs whose FIRST collision
    //    already can't reach α never become candidates at all.
    //    The integer cap is compared against the RAW real bound minus a
    //    1e-9 slack, never a floating ⌈·⌉: ceil of a double product can
    //    land one above the true integer bound when the exact value IS an
    //    integer (e.g. τ=0.43, |A|+|B|=143 → 43.000000000000014 → ⌈·⌉=44),
    //    which would silently drop a qualifying pair from this EXACT
    //    operator. The slack only loosens pruning; the Jaccard verify is
    //    exact regardless.
    val tauFrac = threshold / (1.0 + threshold)
    val candidates = prefixTokens.as("a")
      .join(prefixTokens.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
          // 1e-9 slack, same rationale as the positional filter below: at
          // e.g. τ=0.8, |A|=5 ⊃ |B|=4 the pair sits at J = 0.8 EXACTLY,
          // but 5*0.8 floats to 4.0000000000000004 and a slack-free ≥
          // would silently drop a qualifying pair from this EXACT operator
          col("b.sz") >= col("a.sz") * threshold - lit(1e-9) &&
          col("a.sz") >= col("b.sz") * threshold - lit(1e-9) &&
          (lit(1) + least(col("a.sz") - col("a.tpos") - 1,
            col("b.sz") - col("b.tpos") - 1)).cast("double") >=
            lit(tauFrac) * (col("a.sz") + col("b.sz")) - lit(1e-9))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyJaccard(candidates, ordered, threshold)
  }

  /** Join candidate (id_a, id_b) pairs back to their shingle sets and keep
    * exact Jaccard ≥ threshold. Candidates travel as bare ID pairs until
    * this point — the arrays are only shuffled once per side, keyed by id.
    * Callers pass 64-bit-hashed shingle arrays ([[hashShingles]], or
    * hashed at source like [[exactJaccardPairs]]) so the per-pair payload
    * is 8 bytes/element. The Jaccard itself is the native
    * [[graft.functions.JaccardSim]] kernel (same math as [[jaccardCol]],
    * codegen'd O(n+m), string and long element types). `shingledB` holds
    * the `id_b` side when the two sides are different id spaces (a
    * corpus probing a benchmark). */
  private[graft] def verifyJaccard(candidates: DataFrame, shingled: DataFrame,
      threshold: Double, shingledB: Option[DataFrame] = None): DataFrame = {
    GraftFunctions.register(shingled.sparkSession)
    candidates
      .join(shingled.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shingledB.getOrElse(shingled)
        .select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", GraftFunctions.jaccardSim(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact Jaccard of two distinct-element arrays. */
  def jaccardCol(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      greatest(size(array_union(a, b)), lit(1))

  /** MinHash signatures via the native [[graft.functions.MinHashSig]]
    * expression — one tight hashing loop per row inside whole-stage
    * codegen. (The pure-SQL HOF form works but evaluates interpreted and
    * allocates k arrays per row — ~100× slower on a corpus scan.) */
  def minHashSignatures(shingled: DataFrame, k: Int = 128): DataFrame = {
    GraftFunctions.register(shingled.sparkSession)
    shingled.withColumn("sig", GraftFunctions.minhashSig(col("shingles"), k))
  }

  /** (id, band, band_key) rows for an (id, sh)-shaped frame: k-minhash
    * signature split into b bands of `rr` values, band key =
    * hash(band slice, band index). The ONE banding projection shared by
    * the batch ([[nearDupPairsMinHash]]) and incremental
    * ([[removeNearDuplicatesIncremental]]) detectors — band semantics
    * must never diverge between them. */
  private[graft] def minHashBandRows(sh: DataFrame, k: Int, rr: Int, b: Int): DataFrame =
    bandProjection(
      minHashSignatures(sh.withColumnRenamed("sh", "shingles"), k)
        .select(col("id"), size(col("shingles")).as("sz"), col("sig")),
      rr, b)

  /** Banding projection over a precomputed (id, sz, sig) frame — the ONE
    * band-key construction, shared by [[minHashBandRows]] and the tuned
    * path (which materializes the signature frame once so the prefilter
    * head comes from the SAME signatures; band semantics must never
    * diverge between the consumers).
    *
    * `sz` (shingle-set size) rides every band row: it makes the length
    * filter FREE at candidate-generation time — J ≥ τ forces
    * min(|A|,|B|) ≥ τ·max(|A|,|B|), and pruning on it BEFORE the pair
    * dedup + verify joins is where background LSH collisions (which pair
    * arbitrary-sized docs) get cut without touching a shingle array. */
  private[graft] def bandProjection(sig: DataFrame, rr: Int, b: Int): DataFrame =
    bandProjectionFor(sig, rr, 0 until b)

  /** [[bandProjection]] restricted to an explicit subset of band indices
    * — the sequential band-chunk staging ([[detectOnShinglesChunked]])
    * runs this SAME construction per chunk. Band index and band key are
    * identical to the full projection's (the key hashes the band's
    * signature slice with its ABSOLUTE index), so chunked candidates are
    * exactly the full plan's candidates partitioned by band group —
    * never a different set.
    *
    * The keys come from ONE native call per signature
    * ([[graft.functions.BandKeys]], `band_keys`), bit-identical to
    * `hash(slice(sig, j·rr + 1, rr), j)` per band j, so stored band
    * indexes stay valid, and the generated code of the band stages does
    * not grow with the band count. */
  private[graft] def bandProjectionFor(sig: DataFrame, rr: Int,
      bands: Seq[Int]): DataFrame = {
    GraftFunctions.register(sig.sparkSession)
    sig.select(col("id"), col("sz"),
      explode(GraftFunctions.bandKeys(col("sig"), rr, bands)).as("_bk"))
      .select(col("id"), col("sz"),
        col("_bk.band").as("band"), col("_bk.band_key").as("band_key"))
  }

  /** (rowsPerBand, nBands) for MinHash LSH, derived from the Jaccard
    * threshold: the LARGEST r (a divisor of k, for selectivity — false
    * candidates collide per band at ~jʳ) whose banding still catches a
    * pair at exactly `threshold` with probability ≥ [[RecallTarget]],
    * P[candidate] = 1 − (1 − τʳ)^(k/r). The target (0.85 at
    * EXACTLY τ) sits on the S-curve's steep flank: at J = τ + 0.05 recall
    * is already ≳ 0.99, and real near-dup pairs live above the threshold
    * — while a higher at-τ target would force narrow bands (r ≤ 2) whose
    * background collision rate (~j²) floods candidate generation from the
    * moderately-similar bulk. Falls back to r=1 (every minhash value its
    * own band — maximal recall, minimal pruning) when even r=2 misses the
    * target: low thresholds inherently trade pruning for recall, exactly
    * like [[Similarity.signBands]] at moderate cosine. */
  def minHashBands(threshold: Double, k: Int = 128): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0,
      s"minHashBands: threshold must be in (0,1), got $threshold")
    val feasible = (1 to k).filter(k % _ == 0).filter { r =>
      1.0 - math.pow(1.0 - math.pow(threshold, r), (k / r).toDouble) >= RecallTarget
    }
    val r = if (feasible.nonEmpty) feasible.max else 1
    (r, k / r)
  }

  /** The detector constants no caller ever tuned: the at-threshold
    * recall every banding meets ([[minHashBands]], [[minHashBandsTunedFor]]),
    * the tuned banding's hash budget, the background sample size, the
    * signature prefilter's head width, and the circuit breaker's cap on
    * projected verify-join candidates ([[selectDetector]]). */
  private[graft] val RecallTarget: Double = 0.85
  private[graft] val MaxK: Int = 1024
  private[graft] val SampleDocs: Int = 128
  private[graft] val PrefilterHashes: Int = 64
  private[graft] val MaxVerifyCandidates: Double = 4e9

  /** Which plan a MinHash near-dup entry point runs. Every plan
    * exact-verifies its candidates at the same threshold, so the
    * detectors differ in cost, never in pairs.
    *  - [[Detector.Fixed]]: threshold-only banding ([[minHashBands]]) in
    *    one plan — no background sample, no spill guard, no circuit
    *    breaker. Bounded inputs (a streaming micro-batch) rely on that.
    *  - [[Detector.Tuned]]: per-corpus banding ([[minHashBandsTunedFor]])
    *    plus the self-gated signature prefilter, behind the spill guard.
    *  - [[Detector.Auto]]: [[selectDetector]] picks the fixed or the
    *    tuned plan from the sampled background and fails loudly in the
    *    near-all-pairs regime. */
  sealed trait Detector
  object Detector {
    case object Fixed extends Detector
    case object Tuned extends Detector
    case object Auto extends Detector
  }

  /** MinHash + LSH near-duplicate pairs (shingle → minhash → band →
    * bucket-join → exact-Jaccard verify):
    *
    *  1. k-minhash signature per doc;
    *  2. split into b bands of r rows; band key = hash(band slice, band idx);
    *  3. docs sharing any band key are candidates (equi-join on the band
    *     key — hash-partitioned, no all-pairs);
    *  4. verify candidates with exact shingle Jaccard and threshold.
    *
    * Banding derives from the threshold ([[minHashBands]]) so the S-curve
    * midpoint tracks the requested similarity instead of silently
    * weakening the recall guarantee when a caller moves the threshold;
    * `detector` picks the plan ([[Detector]]).
    * Returns (id_a, id_b, jaccard), exact-verified. */
  def nearDupPairsMinHash(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8, n: Int = 3, detector: Detector = Detector.Fixed,
      tok: Tok = Tok.Latin): DataFrame =
    if (detector == Detector.Fixed) {
      val (r, b) = minHashBands(threshold)
      // Materialized once — reused by the signature/banding self-join (2×)
      // and both verify join sides (2×); see exactJaccardPairs.
      val sh = materialize(shingleIndex(df, textCol, idCol, n, tok))
      detectOnShingles(sh, hashShingles(sh),
        DetectorDecision(r, b, tuned = false, prefilterH = 0,
          estCandidates = 0.0, estVerifyInput = 0.0), threshold)
    } else {
      val (sh, shH, nDocs, est) = profileShingles(df, textCol, idCol, n, tok)
      runDetect(sh, shH, selectDetector(threshold, nDocs, est, detector),
        threshold, est.meanShingles)
    }

  /** The corpus profile the Tuned and Auto detectors decide on: one
    * shingle pass (sorted sets, materialized with the corpus count riding
    * the checkpoint), its 64-bit-hashed form (materialized — the sample
    * and every verify read it) and a bounded background sample
    * ([[sampleBackgroundJaccard]] — `SampleDocs` docs to the driver). */
  private[graft] def profileShingles(df: DataFrame, textCol: String,
      idCol: String, n: Int, tok: Tok)
      : (DataFrame, DataFrame, Long, BackgroundEstimate) = {
    val (sh, nDocs) = materializeCounted(shingleIndex(df, textCol, idCol, n, tok))
    val shH = materialize(hashShingles(sh))
    (sh, shH, nDocs, sampleBackgroundJaccard(shH))
  }

  /** Band self-join candidate generation: docs sharing any band key, with
    * the LENGTH FILTER inside the join (J ≥ τ ⇒ min·1 ≥ τ·max; 1e-9
    * slack so a pair at exactly τ never falls to float rounding) — at
    * corpus scale background band collisions outnumber true pairs
    * ~1000:1 (measured, BASELINE.md third-decade table) and pair
    * arbitrary sizes, so this cuts them before the pair-dedup shuffle
    * and the array-payload verify ever see them. The ONE candidate-join
    * construction shared by [[nearDupPairsMinHash]] and the
    * ScaleProfile detect decomposition — the profiler must decompose the
    * REAL plan, so the join lives here, not in two hand-synced copies.
    *
    * A SMALL band frame (see [[smallBandFrame]]) is joined over ONE
    * explicit `repartition(cpuParallelism, band, band_key)` with a
    * shuffled-hash hint. Both sides plan the same exchange, which runs
    * once and is reused, so a lazy `banded` (the fixed detect's
    * signatures and band keys) is evaluated once per document; left to
    * the planner, such a frame is broadcast and its build side computes
    * every signature a second time. AQE does not coalesce a by-number
    * repartition, so the join keeps the session's parallelism instead of
    * collapsing into one task. On a 2k-document corpus (4 cores) a
    * sort-merge join over the same exchange took 556 ms against 102 ms
    * for the hash join. Any other frame keeps the planner's own join. */
  private[graft] def minHashCandidates(banded: DataFrame, threshold: Double,
      blockCell: Option[(Int, Int, Int)] = None): DataFrame = {
    val (bands, probe) =
      if (smallBandFrame(banded)) {
        val shared = banded.repartition(cpuParallelism(banded),
          col("band"), col("band_key"))
        (shared, shared.hint("shuffle_hash"))
      } else (banded, banded)
    val joined = bands.as("a")
      .join(probe.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.id") < col("b.id") && lengthFilter(threshold))
    // SUB-BUCKET staging's cell restriction ((i, j, p)): keep only pairs
    // whose id-hash blocks are exactly {i, j} under p blocks. Runs as a
    // codegen'd filter streaming straight off the join output — pairs of
    // other cells are dropped BEFORE the pair-dedup exchange, so a cell
    // never spills another cell's mass. The caller also restricts the
    // join INPUT to blocks {i, j}; together the p(p+1)/2 cells of a
    // bucket group partition its pair space exactly (each unordered pair
    // has ONE block pair), which is what bounds a single oversized LSH
    // bucket — the (band, bucket-slice) axis's irreducible unit.
    val celled = blockCell.fold(joined) { case (i, j, p) =>
      val blkA = pmod(xxhash64(col("a.id")), lit(p.toLong)).cast("int")
      val blkB = pmod(xxhash64(col("b.id")), lit(p.toLong)).cast("int")
      joined.where(least(blkA, blkB) === lit(i) && greatest(blkA, blkB) === lit(j))
    }
    celled
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Whether the optimizer's size estimate of `banded` is under the bound
    * Spark itself applies before it builds a hash map per shuffle
    * partition: `autoBroadcastJoinThreshold` × shuffle partitions. Under
    * it a per-partition hash table of band rows is as safe as the planner
    * would allow; over it (or with broadcasts disabled) the join stays a
    * sort-merge join that can spill, over an exchange AQE can split for
    * skew. */
  private[graft] def smallBandFrame(banded: DataFrame): Boolean = {
    val conf = banded.sparkSession.sessionState.conf
    banded.queryExecution.optimizedPlan.stats.sizeInBytes <
      BigInt(conf.autoBroadcastJoinThreshold) * conf.numShufflePartitions
  }

  /** (id, sh: array<string>) → (id, sh: array<long>): 64-bit-hash each
    * shingle ONCE PER DOCUMENT so the per-candidate-pair verify joins
    * shuffle 8-byte elements instead of ~25-byte n-gram text — the same
    * at-the-source hashing [[exactJaccardPairs]] does (and the same
    * within-pair collision model, ~|doc|²/2⁶⁴, that
    * [[graft.functions.JaccardSimUtil]] already carries internally:
    * Jaccard values are unchanged). The hash is the native
    * [[graft.functions.HashArray64]] kernel: the interpreted
    * `transform(sh, xxhash64)` HOF form paid per-element expression
    * dispatch over |corpus| × |shingles| elements per verify side and
    * dominated the 500k-doc verify span (BASELINE.md round 6). */
  private[graft] def hashShingles(sh: DataFrame): DataFrame = {
    GraftFunctions.register(sh.sparkSession)
    sh.select(col("id"), GraftFunctions.hashArray64(col("sh")).as("sh"))
  }

  // ── per-corpus LSH tuning (candidate-volume control) ──────────────────

  /** Sampled background-similarity estimate: pairwise Jaccard over a
    * deterministic `sampleDocs`-document sample (first docs by id hash),
    * plus the sample's mean shingle-set size. Driver state is bounded by
    * construction: `sampleDocs` hashed shingle arrays (≈ sampleDocs ×
    * avg-doc-shingles × 8 B — the k-means-training shape), and the
    * O(sampleDocs²) exact Jaccards run on the driver in microseconds.
    *
    * Why it exists: the threshold-only banding ([[minHashBands]]) is
    * blind to the corpus. On a corpus whose "unrelated" pairs still share
    * vocabulary (measured here: background J ≈ 0.16 on the scale corpora,
    * 1000:1 band collisions over true pairs at 500k docs), background
    * candidates grow ~quadratically and dominate the detect cost; wider
    * bands (larger r) cut them exponentially but cost more hashing. The
    * sample feeds [[minHashBandsTunedFor]]'s cost model. */
  final case class BackgroundEstimate(pairJaccards: Seq[Double], meanShingles: Double)

  def sampleBackgroundJaccard(shHashed: DataFrame,
      sampleDocs: Int = SampleDocs): BackgroundEstimate = {
    val rows = shHashed
      .withColumn("_h", xxhash64(col("id")))
      .orderBy(col("_h"), col("id"))
      .limit(sampleDocs)
      .select(col("sh"))
      .collect()
      .map(_.getSeq[Long](0).toSet)
    val js = for {
      i <- rows.indices
      j <- (i + 1) until rows.length
    } yield {
      val inter = (rows(i) & rows(j)).size
      val uni = rows(i).size + rows(j).size - inter
      if (uni == 0) 0.0 else inter.toDouble / uni
    }
    val meanSz =
      if (rows.isEmpty) 0.0 else rows.map(_.size).sum.toDouble / rows.length
    BackgroundEstimate(js, meanSz)
  }

  /** (rowsPerBand, nBands) TUNED to a corpus: picks the r whose total
    * detect cost is lowest for THIS corpus size and background-similarity
    * profile, instead of [[minHashBands]]'s fixed-k threshold-only
    * derivation.
    *
    * Candidate (r, b) options: for each band width r, the minimum b
    * hitting [[RecallTarget]] at exactly `threshold` (the same S-curve
    * calculus as [[minHashBands]]), padded up to the standard 128-hash
    * budget (b = max(b_recall, 128/r)) — padding only RAISES recall, and
    * keeps small-corpus tunings at the proven default geometry; options
    * whose r·b exceeds [[MaxK]] are infeasible (hash budget).
    *
    * Cost model, in units of one minhash inner-loop op (constants
    * CALIBRATED from the measured 50k-doc detect_split profile — band
    * rows ~0.13 µs, candidates ~0.9 µs, hash ops ~0.23 ns; the point is
    * the crossover, not absolute cost):
    *   hash       N · S̄ · k           (minhash kernel is O(S̄) per hash)
    *   band rows  N · b · 400         (a shuffled ~28-byte row)
    *   candidates nPairs · p̄ · 3000   (pair-dedup shuffle + verify join
    *                                   + O(S̄) hashed-Jaccard merge)
    * where p̄ = mean over sampled pair Jaccards of 1 − (1 − jʳ)ᵇ. The
    * background term grows ~N² while the others grow ~N, so the tuner
    * slides toward wider bands exactly when the corpus is big enough (or
    * its background similarity high enough) for candidates to dominate;
    * on the scale corpora it keeps the default r=4 at 50k docs and picks
    * wider bands at 500k, holding candidate growth near-linear per
    * decade (measured: BASELINE.md round 7). Recall at the threshold is
    * ≥ [[RecallTarget]] for EVERY option by construction — tuning trades
    * cost, never recall. */
  def minHashBandsTunedFor(threshold: Double, nDocs: Long,
      background: BackgroundEstimate): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0,
      s"minHashBandsTunedFor: threshold must be in (0,1), got $threshold")
    val options = (1 to 32).flatMap { r =>
      val pr = math.pow(threshold, r)
      val bRecall =
        math.max(1L, math.ceil(math.log1p(-RecallTarget) / math.log1p(-pr)).toLong)
      val b = math.max(bRecall, (128 / r).toLong)
      if (r.toLong * b <= MaxK) Some((r, b.toInt)) else None
    }
    require(options.nonEmpty,
      s"minHashBandsTunedFor: no (r,b) within the $MaxK-hash budget reaches " +
        s"recall $RecallTarget at threshold $threshold")
    val sBar = math.max(background.meanShingles, 1.0)
    val nPairs = nDocs.toDouble * math.max(nDocs - 1, 0).toDouble / 2.0
    def cost(r: Int, b: Int): Double = {
      val k = r.toDouble * b
      nDocs * sBar * k + nDocs * b * 400.0 +
        expectedCandidates(r, b, nDocs, background) * 3000.0
    }
    options.minBy { case (r, b) => cost(r, b) }
  }

  /** Expected band-join candidate count for banding (r, b) on a corpus of
    * `nDocs` with the sampled background profile: nPairs · p̄ where p̄ is
    * the mean over sampled pair Jaccards of the S-curve collision
    * probability 1 − (1 − jʳ)ᵇ. The SAME estimate the tuner's cost model
    * prices candidates with (the sampled mid-J tail carries the mass that
    * actually floods band joins on high-background corpora — measured
    * within 10× of the realized count on the 500k/5M scale corpora, which
    * is the accuracy an order-of-magnitude engagement gate needs). */
  private[graft] def expectedCandidates(r: Int, b: Int, nDocs: Long,
      background: BackgroundEstimate): Double = {
    val nPairs = nDocs.toDouble * math.max(nDocs - 1, 0).toDouble / 2.0
    val pBar =
      if (background.pairJaccards.isEmpty) 0.0
      else background.pairJaccards.iterator.map(j =>
        1.0 - math.pow(1.0 - math.pow(j, r), b.toDouble)).sum /
        background.pairJaccards.size
    nPairs * pBar
  }

  /** The detector plan [[selectDetector]] chose for a corpus: banding
    * (r, b), whether it is the per-corpus tuned geometry, the signature
    * prefilter head width (0 = prefilter off), and the two volume
    * estimates the choice was priced on (band-join candidates; candidates
    * surviving the prefilter and reaching the array verify join). */
  final case class DetectorDecision(r: Int, b: Int, tuned: Boolean,
      prefilterH: Int, estCandidates: Double, estVerifyInput: Double)

  /** Expected candidate volume SURVIVING the signature prefilter and
    * reaching the shingle-array verify join: nPairs · mean over sampled
    * pair Jaccards of collision · [j ≥ cut], where cut is the
    * prefilter's own acceptance bound (threshold − 3.5·√(τ(1−τ)/h) — the
    * deterministic approximation of its binomial agreement test; see
    * [[prefilterBySignature]]). Same ~10×-accuracy contract as
    * [[expectedCandidates]] — it feeds an order-of-magnitude circuit
    * breaker, not a cost model. */
  private[graft] def expectedVerifyInput(r: Int, b: Int, nDocs: Long,
      est: BackgroundEstimate, threshold: Double, h: Int): Double = {
    if (h <= 0) return expectedCandidates(r, b, nDocs, est)
    val cut = threshold - 3.5 * math.sqrt(threshold * (1.0 - threshold) / h)
    val nPairs = nDocs.toDouble * math.max(nDocs - 1, 0).toDouble / 2.0
    if (est.pairJaccards.isEmpty) 0.0
    else nPairs * est.pairJaccards.iterator.map { j =>
      if (j < cut) 0.0
      else 1.0 - math.pow(1.0 - math.pow(j, r), b.toDouble)
    }.sum / est.pairJaccards.size
  }

  /** The detector DECISION for a corpus profile — pure, so specs pin it
    * against synthetic backgrounds without running a 500k-doc corpus.
    * `detector` is Tuned or Auto ([[Detector.Fixed]] needs no profile).
    *
    *  1. AUTO prices the threshold-only FIXED banding ([[minHashBands]])
    *     on the sampled background; below `escalateMinCandidates`
    *     band-join candidates the fixed single-plan path wins (its
    *     candidate join is already sub-dominant and the tuned path's
    *     fixed O(N) overheads — extra checkpoints, the k≈hundreds
    *     signature pass — would only add cost). Toy and
    *     typical-background corpora land here, keeping the proven default
    *     geometry and plan;
    *  2. above the gate (and always for TUNED): per-corpus tuned banding
    *     ([[minHashBandsTunedFor]]) with the signature prefilter — exactly
    *     the configuration that completes the high-background 500k
    *     corpora where fixed banding floods (×29.6 c4 fixture) or OOMs
    *     (model fixture) — measured, BASELINE.md rounds 7/11. The
    *     prefilter engages only when the SAME candidate-volume estimate
    *     the tuner prices ([[expectedCandidates]]) clears
    *     `prefilterMinCandidates`: at ≥ ~4M candidates the verify join
    *     costs seconds-to-minutes (~1–7 µs each) while the prefilter's
    *     extra checkpoint + two head joins cost a fixed ~0.3–0.5 s;
    *  3. AUTO's CIRCUIT BREAKER: if even the escalated plan's estimated
    *     verify-join input (post-prefilter, [[expectedVerifyInput]])
    *     still exceeds [[MaxVerifyCandidates]] (4e9: at the measured
    *     1–7 µs and ~KB payload per verified candidate, hours of
    *     single-box compute and terabytes of shuffle), the corpus's
    *     background similarity sits at/above the threshold — the
    *     near-all-pairs regime no banding inside the hash budget can
    *     escape — and the verify join would OOM or run for hours. Fail
    *     LOUDLY with the remedies named instead of letting the join die
    *     mid-shuffle.
    *
    * The two gates are spec seams: forcing them to 0 runs the escalated
    * and prefiltered plans on fixture corpora. */
  private[graft] def selectDetector(threshold: Double, nDocs: Long,
      est: BackgroundEstimate, detector: Detector = Detector.Auto,
      escalateMinCandidates: Double = 4e6,
      prefilterMinCandidates: Double = 4e6): DetectorDecision = {
    val (r0, b0) = minHashBands(threshold)
    val c0 = expectedCandidates(r0, b0, nDocs, est)
    if (detector == Detector.Auto && c0 < escalateMinCandidates)
      DetectorDecision(r0, b0, tuned = false, prefilterH = 0,
        estCandidates = c0, estVerifyInput = c0)
    else {
      val (rt, bt) = minHashBandsTunedFor(threshold, nDocs, est)
      val ct = expectedCandidates(rt, bt, nDocs, est)
      val h = math.min(PrefilterHashes, rt * bt)
      val pre = if (ct >= prefilterMinCandidates && h > 0) h else 0
      val vin = expectedVerifyInput(rt, bt, nDocs, est, threshold, pre)
      if (detector == Detector.Auto && vin >= MaxVerifyCandidates)
        throw new IllegalStateException(
          f"selectDetector: even the tuned banding (r=$rt, b=$bt) with the " +
            f"signature prefilter projects ~$vin%.2g verify-join candidates " +
            f"(cap $MaxVerifyCandidates%.2g) - the sampled background " +
            f"similarity sits at or above the threshold ($threshold), the " +
            "near-all-pairs regime no banding in the hash budget escapes. " +
            "Remedies: strip the shared boilerplate first (enable the " +
            "line-level dedup rung - CorpusPipeline.Config.lineDedupMinDocs " +
            "- or LineDedup.removeDuplicatedLines), raise the threshold, or " +
            "partition the corpus and dedup per group (source/domain).")
      DetectorDecision(rt, bt, tuned = true, prefilterH = pre,
        estCandidates = ct, estVerifyInput = vin)
    }
  }

  /** Estimated on-disk shuffle footprint of a detect plan, in bytes:
    * candidate id-pairs spill through the pair-dedup exchange (~32 B per
    * serialized row) and the verify join ships TWO hashed shingle arrays
    * per surviving candidate (8 B per element; compression typically
    * halves it — left out as safety margin). Pure, so the spec pins it. */
  private[graft] def spillEstimateBytes(d: DetectorDecision,
      meanShingles: Double): Double =
    d.estCandidates * 32.0 + d.estVerifyInput * 2.0 * meanShingles * 8.0

  /** The disk guard the round-13 5M measurement bought: the detector's
    * cost model priced time and memory but not SPILL DISK, and the 5M
    * adversarial model-fixture corpus died at minute 77 with ENOSPC in
    * the verify-stage shuffle. ONE warning for the minhash detect and the
    * banded families — estimate vs usable local shuffle bytes, the
    * `family`'s own `remedies` named. A WARNING, not a hard fail — shuffle storage is
    * usually elastic on a real cluster and spark.local.dir is not
    * authoritative on every deployment — but it fires UP FRONT, before
    * hours of work. It prints only when the plan does not stage.
    * Returned, not printed, so specs pin the trigger arithmetic. */
  private[graft] def spillWarning(family: String, estBytes: Double,
      usableBytes: Long, remedies: String): Option[String] =
    if (usableBytes > 0 && estBytes > usableBytes.toDouble) Some(
      f"[graft] WARN $family: the plan projects ~${estBytes / 1e9}%.1f GB " +
        f"of candidate/verify shuffle spill but the local shuffle dirs " +
        f"report only ${usableBytes / 1e9}%.1f GB usable - the job is " +
        s"likely to die with ENOSPC in the verify stage. Remedies: " +
        s"$remedies, or point spark.local.dir at larger storage. " +
        UsableBytesCaveat)
    else None

  /** The staging announcement every spill-guarded family prints when it
    * runs its plan as `k` sequential `unit`s (band-chunks of the minhash
    * detect, band-groups of the banded families, sub-batches of the
    * incremental probes) — plus a residual warning naming the family's
    * `remedies` when even the per-unit footprint exceeds usable space
    * (the unit count is clamped: by the family's axis width or the
    * runaway backstop). Returned, not printed, so specs pin the
    * triggers. */
  private[graft] def stagingNote(family: String, estBytes: Double,
      usableBytes: Long, k: Int, unit: String, remedies: String): String = {
    val per = estBytes / k
    val clamped =
      if (usableBytes > 0 && per > usableBytes.toDouble)
        s" WARN: even the staged per-$unit footprint exceeds usable space " +
          s"(the $unit count is clamped) - expect ENOSPC; remedies: " +
          s"$remedies, or point spark.local.dir at larger storage."
      else ""
    f"[graft] INFO $family: staging the plan into $k sequential ${unit}s " +
      f"- projected ~${estBytes / 1e9}%.1f GB of candidate/verify shuffle " +
      f"spill vs ${usableBytes / 1e9}%.1f GB usable local shuffle " +
      f"storage; peak per-$unit spill ~${per / 1e9}%.1f GB. Pairs and " +
      s"recall are IDENTICAL to the single-pass plan (the $unit " +
      s"partition is exact); only wall time trades. $UsableBytesCaveat" +
      clamped
  }

  private val UsableBytesCaveat =
    "(On YARN/K8s the cluster manager overrides spark.local.dir per " +
      "executor - the usable-bytes read is an approximation there.)"

  /** The minhash detect's family label (its plan) and remedies for
    * [[spillWarning]] / [[stagingNote]]. */
  private[graft] def detectFamily(d: DetectorDecision): String =
    s"near-dup detect (r=${d.r}, b=${d.b}, prefilter=${d.prefilterH})"

  private[graft] val DetectRemedies: String =
    "strip the shared boilerplate first (line-level dedup rung for whole " +
      "lines, span-level dedup for mid-line runs), raise the threshold, " +
      "dedup per group (source/domain)"

  /** Number of SEQUENTIAL band-chunks that keeps the detect plan's peak
    * shuffle-spill footprint under `usable × margin`:
    * ⌈est / (usable·margin)⌉ clamped to [1, maxChunks]; 1 = run the
    * single-pass plan. Candidate volume is near-linear in the band count
    * (per-band collision mass sums over bands), so chunking b bands into
    * K groups divides the candidate/verify spill by ~K. Pure, so the
    * spec pins the arithmetic. The 0.5 default margin absorbs the
    * estimator's documented order-of-magnitude error band on the safe
    * side without forcing pathological chunk counts. The 256 default
    * clamp is a runaway backstop, not a tuning knob: the 5M adversarial
    * model fixture legitimately needs ~130 chunks (~5.5 TB projected
    * over ~85 GB usable), which round 13's clamp of 64 would have
    * pushed back above usable space. */
  private[graft] def spillChunkCount(estBytes: Double, usableBytes: Long,
      margin: Double = 0.5, maxChunks: Int = 256): Int = {
    require(margin > 0, s"spillChunkCount: margin must be > 0, got $margin")
    if (usableBytes <= 0 || estBytes <= usableBytes * margin) 1
    else math.min(math.max(maxChunks, 1).toDouble,
      math.ceil(estBytes / (usableBytes * margin))).toInt
  }

  /** Best-effort release of a finished band-chunk's shuffle files before
    * the next chunk runs: force a GC so the completed jobs' shuffle
    * dependencies (now unreferenced — the chunk's result is already on
    * disk) enqueue with the ContextCleaner, then wait — bounded — until
    * the shuffle dirs stop recovering space. Spark exposes no public
    * "delete this shuffle now" API; the cleaner IS the mechanism (it
    * removes shuffle files once their ShuffleDependency is collected),
    * this just makes it prompt instead of eventual — which is the whole
    * point of staging: chunk g's files must be GONE while chunk g+1
    * writes. On a cluster the same cleaner drives executor-side removal
    * through the block-manager endpoints. */
  private[graft] def awaitShuffleRelease(spark: SparkSession,
      maxWaitSec: Int = 60): Unit = {
    System.gc()
    var last = shuffleDirUsableBytes(spark)
    var stable = 0
    var waited = 0
    while (stable < 3 && waited < maxWaitSec) {
      Thread.sleep(1000L)
      waited += 1
      val u = shuffleDirUsableBytes(spark)
      if (u <= last) stable += 1 else { stable = 0; last = u }
    }
  }

  /** The SEQUENTIAL staged-group loop every spill-bounded band family
    * runs through — factored from the minhash detect so the staging
    * mechanics (scratch accumulation, cross-group anti-join, shuffle
    * release) cannot drift between families. `pairFn(g, prior)` builds
    * group `g`'s pair frame; `prior` — the accumulated pairs of earlier
    * groups, projected to `pairKey` — is handed to the CALLER so the
    * anti-join can sit at the family's cheapest point (the minhash
    * detect anti-joins candidates BEFORE its expensive shingle-array
    * verify; the Hamming families after their bucket join, where the
    * verify is a row-local bit_count). A pair found by an earlier group
    * and colliding again in a later one must be anti-joined out via
    * `prior` — that is what makes the union pair-distinct.
    *
    * Peak disk = one group's candidate/verify spill plus the accumulated
    * found pairs (true near-dups — tiny next to the candidate mass).
    * Each group's result is written to a scratch directory
    * ([[stagedScratchBase]]: the session checkpoint dir when configured
    * — the cluster-correct location — else, in LOCAL mode only, a
    * driver-local temp dir) and its shuffle files are released before
    * the next group runs ([[awaitShuffleRelease]] — skipped after the
    * final group, where nothing follows that needs the space). A group
    * with ZERO surviving pairs may write no part files at all — only
    * readable outputs feed the anti-join and the final union (an
    * all-empty run returns an empty frame with the pair schema —
    * nullability normalized to match the parquet read-back of the
    * non-empty path — instead of failing schema inference). Per-group
    * build+write and release-wait seconds print to stderr so staged
    * runs record where their wall time goes, a 2 s-poll sampler thread
    * records each group's MEASURED peak spill (usable-bytes low-water
    * mark vs the group's start — the projected-vs-actual feedback the
    * round-15 cosine A/B showed the guard needs), and ONE summary line
    * at the end totals build/write/wait/peak so decade rows can quote a
    * single number instead of per-group stderr.
    *
    * `resume` = (scratch dir, plan tag): RESTARTABLE staged runs. A
    * multi-hour staged detect on an adversarial corpus can outlive a
    * maintenance window; with a caller-owned scratch dir, each group's
    * job-committed `_SUCCESS` marker IS the manifest — a rerun skips
    * committed groups (their parquet feeds the prior anti-join and the
    * final union exactly as if just written) and recomputes only the
    * group that was in flight. The plan tag is checked against the
    * recorded one (plan.txt) so a resume with a DIFFERENT plan — other
    * banding, other group packing — refuses loudly instead of silently
    * unioning two plans' halves. `projBytes(g)` (0 = unknown) prints
    * next to each group's measured peak for guard calibration. */
  /** Run `body` with a 2 s-poll sampler thread recording the shuffle
    * dirs' usable-bytes LOW-WATER mark — (result, measured peak spill in
    * bytes vs the start). The projected-vs-actual feedback loop every
    * staged family reports ([[stagedPairUnion]] per group) and the
    * pilot-calibrated guards consume. */
  private[graft] def withSpillSampler[T](spark: SparkSession)(body: => T): (T, Long) = {
    val usable0 = shuffleDirUsableBytes(spark)
    val low = new java.util.concurrent.atomic.AtomicLong(usable0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sampler = new Thread(() => {
      while (!stop.get()) {
        low.getAndUpdate(l => math.min(l, shuffleDirUsableBytes(spark)))
        Thread.sleep(2000L)
      }
    }, "graft-spill-sampler")
    sampler.setDaemon(true); sampler.start()
    val res = try body finally stop.set(true)
    (res, math.max(0L, usable0 - low.get()))
  }

  private[graft] def stagedPairUnion(spark: SparkSession, nGroups: Int,
      pairKey: Seq[String],
      pairFn: (Int, Option[DataFrame]) => DataFrame,
      resume: Option[(String, String)] = None,
      projBytes: Int => Double = _ => 0.0): DataFrame = {
    require(nGroups >= 1, s"stagedPairUnion: nGroups must be >= 1, got $nGroups")
    val scratch = resume match {
      case Some((dir, _)) => dir
      case None =>
        stagedScratchBase(spark.sparkContext.isLocal,
            spark.sparkContext.getCheckpointDir) match {
          case Some(dir) => s"$dir/graft_staged_pairs_${java.util.UUID.randomUUID}"
          case None =>
            java.nio.file.Files.createTempDirectory("graft_staged_pairs").toString
        }
    }
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(scratch).getFileSystem(hconf)
    def hpath(s: String) = new org.apache.hadoop.fs.Path(s)
    resume.foreach { case (_, tag) =>
      val planFile = hpath(s"$scratch/plan.txt")
      val plan = s"nGroups=$nGroups pairKey=${pairKey.mkString(",")} tag=$tag"
      if (fs.exists(planFile)) {
        val in = fs.open(planFile)
        val recorded = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        require(recorded == plan,
          s"stagedPairUnion: resume dir $scratch records a DIFFERENT plan " +
            s"('$recorded' vs '$plan') - a cross-plan resume would union " +
            "two plans' partial pair sets; clear the dir or fix the config")
      } else {
        val out = fs.create(planFile, true)
        try out.write(plan.getBytes("UTF-8")) finally out.close()
      }
    }
    var schema: org.apache.spark.sql.types.StructType = null
    val written = scala.collection.mutable.ArrayBuffer.empty[String]
    var sumBuild = 0.0; var sumWait = 0.0; var maxPeak = 0L; var skipped = 0
    (0 until nGroups).foreach { g =>
      val t0 = System.nanoTime()
      val path = s"$scratch/g=$g"
      val committed =
        resume.isDefined && fs.exists(hpath(s"$path/_SUCCESS"))
      if (committed) {
        if (fs.listStatus(hpath(path))
            .exists(s => s.getPath.getName.endsWith(".parquet") && s.getLen > 0))
          written += path
        skipped += 1
        System.err.println(
          s"[graft] INFO staged group ${g + 1}/$nGroups: committed in a " +
            "prior run - skipped (resume manifest)")
      } else {
        val prior =
          if (written.isEmpty) None
          else Some(spark.read.parquet(written.toSeq: _*)
            .select(pairKey.map(col): _*))
        // measured peak spill: poll the shuffle dirs' usable bytes while
        // the group runs; low-water vs start = the group's real footprint
        val (_, peak) = withSpillSampler(spark) {
          val res = pairFn(g, prior)
          schema = res.schema
          // persist the pair schema once (resume only): an all-empty
          // resumed run has no parquet footer and no live pairFn result
          // to infer the empty frame's schema from
          resume.foreach { _ =>
            val sf = hpath(s"$scratch/schema.json")
            if (!fs.exists(sf)) {
              val out = fs.create(sf, true)
              try out.write(schema.json.getBytes("UTF-8")) finally out.close()
            }
          }
          res.write.mode("overwrite").parquet(path)
        }
        maxPeak = math.max(maxPeak, peak)
        if (fs.listStatus(hpath(path))
            .exists(s => s.getPath.getName.endsWith(".parquet") && s.getLen > 0))
          written += path
        val tw = System.nanoTime()
        // release only matters BEFORE the next group's shuffle — the final
        // group's files die with the job (skipping saves the fixed ≥3 s
        // stability wait × 1, and under k=2 plans nearly halves overhead)
        if (g < nGroups - 1) awaitShuffleRelease(spark)
        val tEnd = System.nanoTime()
        sumBuild += (tw - t0) / 1e9; sumWait += (tEnd - tw) / 1e9
        val proj = projBytes(g)
        val projTxt =
          if (proj > 0) f" (projected ~${proj / 1e9}%.1f GB)" else ""
        System.err.println(
          f"[graft] INFO staged group ${g + 1}/$nGroups: build+write " +
            f"${(tw - t0) / 1e9}%.1f s, release wait " +
            f"${(tEnd - tw) / 1e9}%.1f s, measured peak spill " +
            f"~${peak / 1e9}%.1f GB$projTxt")
      }
    }
    System.err.println(
      f"[graft] INFO staged run summary: $nGroups groups ($skipped resumed)" +
        f", build+write ${sumBuild}%.1f s, release waits ${sumWait}%.1f s, " +
        f"max measured peak spill ~${maxPeak / 1e9}%.1f GB")
    // union of per-group results: already pair-distinct (within-group
    // dropDuplicates + the cross-group anti-join); materialize so the
    // scratch dir can be deleted out from under the returned frame
    if (schema == null && written.isEmpty) {
      // every group committed-empty in a prior run: the schema comes
      // from the persisted copy (written with the first computed group)
      val sf = hpath(s"$scratch/schema.json")
      require(fs.exists(sf),
        s"stagedPairUnion: resume dir $scratch has only committed-empty " +
          "groups and no schema.json - clear the dir and rerun")
      val in = fs.open(sf)
      val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      schema = org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    }
    val out =
      if (written.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(
            schema.map(_.copy(nullable = true))))
      else materialize(spark.read.parquet(written.toSeq: _*))
    val p = new org.apache.hadoop.fs.Path(scratch)
    p.getFileSystem(hconf).delete(p, true)
    out
  }

  /** Scratch-location decision for [[stagedPairUnion]]: the session
    * checkpoint dir when configured (the cluster-correct location — the
    * driver and every executor resolve one shared filesystem), else —
    * ONLY in local mode, where driver and executors share one machine —
    * `None`, selecting a driver-local temp dir. Off local mode the temp
    * fallback would have each executor write its task outputs to its
    * OWN local filesystem and the driver's parquet read-back of the
    * scratch path would be silently wrong (missing or garbage rows) in
    * exactly the large-cluster deployment staging exists for — so it is
    * refused loudly with the remedy named. Pure, so the spec pins the
    * refusal without needing a multi-node session. */
  private[graft] def stagedScratchBase(isLocal: Boolean,
      checkpointDir: Option[String]): Option[String] = {
    require(isLocal || checkpointDir.isDefined,
      "stagedPairUnion: no checkpoint dir is configured and the session " +
        "is not local[*] - the driver-local temp-dir fallback would " +
        "scatter per-group task outputs across executor filesystems and " +
        "read back garbage; call spark.sparkContext.setCheckpointDir" +
        "(<path on a shared filesystem>) before running a staged plan")
    checkpointDir
  }

  /** [[detectOnShingles]] staged into `kChunks` SEQUENTIAL band-groups —
    * the bounded-disk plan for corpora whose background similarity makes
    * the single-pass candidate/verify spill exceed local shuffle storage
    * (round-13's measured ENOSPC wall: the 2M-doc adversarial fixture
    * projected ~885 GB against 83 GB usable and died at exactly the
    * predicted stage).
    *
    * Band partitioning is EXACT: every band runs exactly once across the
    * groups, and candidate generation, the length filter, the signature
    * prefilter, and the exact verify are the single-pass constructions
    * applied per group — so the union of per-group verified pairs IS the
    * single-pass pair set (a pair colliding in bands of two groups is
    * found in the first and anti-joined out of the later ones; a pair
    * colliding only within one group is found there). Recall and
    * threshold semantics are unchanged by construction; only wall time
    * trades for the bounded footprint (each group re-joins the hashed
    * shingle frame for its verify). Staging mechanics live in
    * [[stagedPairUnion]].
    *
    * Two round-16 layers on top: (1) SUB-BUCKET staging — a group whose
    * projected spill exceeds the per-stage budget (one dominating LSH
    * bucket, the 5M measured shape) further splits its pair space into
    * id-hash block-pair cells ([[subBucketBlocks]]; `forceSubBlocks` is
    * the parity-spec seam forcing a split on fixture corpora); (2) a
    * RESUME manifest — with `spark.graft.detect.resumeDir` set, the
    * scratch dir is stable and committed steps are skipped on rerun, so
    * a multi-hour adversarial run survives restarts. */
  private[graft] def detectOnShinglesChunked(sh: DataFrame, shH: DataFrame,
      d: DetectorDecision, threshold: Double, kChunks: Int,
      estBytes: Double = 0.0, usableBytes: Long = 0L,
      forceSubBlocks: Int = 0): DataFrame = {
    val spark = sh.sparkSession
    // the O(N) shingle→minhash signature scan runs ONCE; every group
    // reads the materialized frame (it dominates the map-side cost and
    // must not be re-paid per chunk)
    val sigM = materialize(
      minHashSignatures(sh.withColumnRenamed("sh", "shingles"), d.r * d.b)
        .select(col("id"), size(col("shingles")).as("sz"), col("sig")))
    // The staging unit is the (band, bucket-hash slice) pair, NOT the
    // band: per-band collision mass is radically skewed on adversarial
    // corpora (the 2M model fixture measured ONE band holding 26% of
    // the total mass — no band-level grouping can keep that group under
    // the disk), and buckets are the truly independent sub-axis (a
    // candidate pair collides in exactly one bucket per band, and the
    // slice hash sends each bucket to exactly one unit — partitioning
    // the single-pass candidate set exactly). Unit masses come from one
    // key-only aggregate over the materialized signatures
    // (b × SpillSlices scalars to the driver), then greedy LPT packs
    // the units into the kChunks groups so heavy slices cannot stack.
    // Zero-mass units (no bucket with ≥ 2 rows) cannot produce a
    // candidate and are skipped — exactness is unaffected.
    val slices = SpillSlicesPerBand
    val sliceOf = pmod(xxhash64(col("band_key")), lit(slices.toLong)).cast("int")
    val unitMass = bandProjection(sigM, d.r, d.b)
      .groupBy(col("band"), col("band_key")).agg(count(lit(1)).as("_n"))
      .withColumn("_slice", sliceOf)
      .groupBy(col("band"), col("_slice"))
      .agg(coalesce(sum(col("_n") * (col("_n") - lit(1)) / lit(2.0)),
        lit(0.0)).as("_m"))
      .collect().map(r => (r.getInt(0) * slices + r.getInt(1), r.getDouble(2)))
      .filter(_._2 > 0)
    // Zero measured collision mass (possible when the caller's
    // model-based spill estimate over-predicted a corpus with no bucket
    // holding ≥ 2 rows): no unit can produce a candidate, so the pair
    // set is empty by construction — return it as the single-pass plan
    // over an empty banded frame (schema-exact, O(1)) instead of letting
    // massBalancedGroups hand an empty Seq to the group loop.
    if (unitMass.isEmpty)
      return verifyJaccard(
        minHashCandidates(bandProjection(sigM, d.r, d.b).limit(0), threshold),
        shH, threshold)
    val totalMass = math.max(1.0, unitMass.map(_._2).sum)
    val massByUnit = unitMass.toMap
    val groups = massBalancedGroups(unitMass, kChunks)
    val groupProj: Int => Double =
      gi => groups(gi).map(massByUnit).sum / totalMass * estBytes
    val maxShare = groups.map(_.map(massByUnit).sum).max / totalMass
    // SUB-BUCKET staging (round 16 — the 5M DEFAULT fix): a group whose
    // projected spill exceeds the per-stage budget — possible only when
    // one irreducible (band, bucket-slice) unit dominates, since LPT
    // otherwise balances groups near est/k — splits its PAIR SPACE by
    // id-hash block-pair cells: p blocks → p(p+1)/2 sequential cells,
    // every unordered pair in exactly one cell (its endpoints' block
    // pair), heaviest cell ~2/p² of the group. The 5M adversarial
    // fixture's measured shape — ONE LSH bucket (a shared 66-token
    // suffix class) holding 26% of ALL collision mass, un-partitionable
    // by any band/slice axis — died ENOSPC in round 15 exactly here.
    val blocksOf: Seq[Int] = groups.indices.map { gi =>
      if (forceSubBlocks > 0) forceSubBlocks
      else if (estBytes <= 0 || usableBytes <= 0) 1
      else subBucketBlocks(groupProj(gi), usableBytes * SubSplitMargin)
    }
    // execution steps: (group index, optional (i, j, p) block-pair cell)
    val steps: Seq[(Int, Option[(Int, Int, Int)])] =
      groups.indices.flatMap { gi =>
        val p = blocksOf(gi)
        if (p <= 1) Seq((gi, None))
        else for { i <- 0 until p; j <- i until p } yield (gi, Some((i, j, p)))
      }
    System.err.println(
      f"[graft] INFO detect staging: ${unitMass.length} non-empty " +
        f"(band, bucket-slice) units over ${groups.length} groups " +
        f"(${steps.length} sequential steps); heaviest group " +
        f"${maxShare * 100}%.1f%% of collision mass" +
        heaviestGroupWarning(maxShare, kChunks, estBytes, usableBytes))
    groups.indices.filter(blocksOf(_) > 1).foreach(gi =>
      System.err.println(
        "[graft] INFO " + subSplitNote(gi, groupProj(gi), blocksOf(gi))))
    // fail-fast on a PRICED-FATAL plan (round-15 verdict item 2): when
    // even the heaviest block-pair cell at the block clamp projects over
    // usable disk, abort with the remedies named instead of executing a
    // predicted multi-hour ENOSPC. Config-gated, default ON.
    groups.indices.iterator
      .flatMap(gi => pricedFatalMessage(
        maxCellBytes(groupProj(gi), blocksOf(gi)), estBytes, usableBytes))
      .take(1).foreach { msg =>
        if (spark.conf
            .get("spark.graft.dedup.failFastOnPricedEnospc", "true").toBoolean)
          throw new IllegalStateException(msg)
        else System.err.println(s"[graft] WARN $msg (fail-fast disabled " +
          "by spark.graft.dedup.failFastOnPricedEnospc=false - proceeding)")
      }
    // RESTARTABLE long runs: with spark.graft.detect.resumeDir set, the
    // staged loop keeps its scratch there and a rerun skips committed
    // steps — a multi-hour adversarial detect survives a restart at the
    // cost of re-running only the step that was in flight. The plan tag
    // fingerprints banding + packing + splits so a resume against a
    // DIFFERENT plan refuses instead of silently unioning halves.
    val resume = spark.conf.getOption("spark.graft.detect.resumeDir").map {
      dir =>
        val planKey = (d.r, d.b, d.prefilterH, threshold, slices,
          groups.map(_.mkString("+")).mkString("|"),
          blocksOf.mkString(",")).toString
        (dir, s"detect-${java.lang.Integer.toHexString(planKey.hashCode)}")
    }
    val stepProj: Int => Double = si => {
      val (gi, cell) = steps(si)
      cell.fold(groupProj(gi)) { case (i, j, p) =>
        (if (i == j) 1.0 else 2.0) * groupProj(gi) / (p.toDouble * p)
      }
    }
    import spark.implicits._
    var cachedGi = -1
    var cachedBanded: DataFrame = null
    def groupBanded(gi: Int): DataFrame = {
      val unitsDf = broadcast(
        groups(gi).map(u => (u / slices, u % slices)).toDF("band", "_slice"))
      // explode only the group's bands (narrow), then keep its slices
      bandProjectionFor(sigM, d.r, groups(gi).map(_ / slices).distinct.sorted)
        .withColumn("_slice", sliceOf)
        .join(unitsDf, Seq("band", "_slice"))
        .drop("_slice")
    }
    stagedPairUnion(spark, steps.length, Seq("id_a", "id_b"), { (si, prior) =>
      val (gi, cell) = steps(si)
      val share = groups(gi).map(massByUnit).sum / totalMass
      System.err.println(
        f"[graft] INFO detect step ${si + 1}/${steps.length}: group " +
          f"${gi + 1}/${groups.length} (${groups(gi).length} units, " +
          f"${share * 100}%.1f%% of collision mass)" +
          cell.fold("")(c =>
            s", block-pair cell (${c._1},${c._2}) of p=${c._3}"))
      val bandedG = cell match {
        case Some(_) =>
          // ONE materialized banded frame per SPLIT group, shared by its
          // p(p+1)/2 cells — band rows, not pairs, so it is tiny, and
          // rebuilding the projection per cell would re-scan the
          // signature frame p(p+1)/2 times
          if (cachedGi != gi) {
            cachedBanded = materialize(groupBanded(gi)); cachedGi = gi
          }
          cachedBanded
        case None => groupBanded(gi)
      }
      // cell input = the two blocks' band rows; minHashCandidates then
      // keeps exactly this cell's block pairs before the pair exchange
      val banded = cell.fold(bandedG) { case (i, j, p) =>
        val blk = pmod(xxhash64(col("id")), lit(p.toLong)).cast("int")
        bandedG.where(blk === lit(i) || blk === lit(j))
      }
      val cand0 = minHashCandidates(banded, threshold, cell)
      val cand1 =
        if (d.prefilterH > 0)
          prefilterBySignature(cand0, sigM, threshold, d.prefilterH)
        else cand0
      // pairs already found by an earlier step can collide again here
      // only through this step's units — anti-join them out so no pair
      // is verified twice (total verify work matches the single pass,
      // where the candidate dropDuplicates did the same job globally)
      val cand = prior.fold(cand1)(p =>
        cand1.join(p, Seq("id_a", "id_b"), "left_anti"))
      verifyJaccard(cand, shH, threshold)
    }, resume, stepProj)
  }

  /** The MEASURED heaviest-group note for the staged detect — priced in
    * absolute bytes once the exact (band, bucket-slice) mass table
    * exists, which the decision-time [[stagingNote]] (uniform
    * est/k "peak per-chunk") cannot do. The round-15 5M attempt is the
    * motivating measurement: ONE irreducible bucket-slice unit held
    * 26.0% of the mass (~1.6 TB of the projection) and died ENOSPC. A
    * single unit is one LSH bucket's C(B,2) pair set that no band/slice
    * partition can subdivide — which is exactly what SUB-BUCKET staging
    * ([[subBucketBlocks]], round 16) now bounds, so the over-usable
    * branch ANNOUNCES the escalation instead of predicting a death.
    * Pure, so the spec pins the branches without a 5M corpus. */
  private[graft] def heaviestGroupWarning(maxShare: Double, kChunks: Int,
      estBytes: Double, usableBytes: Long): String = {
    val peak = maxShare * estBytes
    if (estBytes > 0 && usableBytes > 0 && peak > usableBytes)
      f" - the heaviest group alone projects ~${peak / 1e9}%.1f GB of " +
        f"the ~${estBytes / 1e9}%.1f GB total spill vs " +
        f"${usableBytes / 1e9}%.1f GB usable - one (band, bucket-slice) " +
        "unit is one LSH bucket's pair set, which no band/slice " +
        "partition can subdivide: SUB-BUCKET staging engages (id-hash " +
        "block-pair cells - see the split note)"
    else if (maxShare * kChunks > 2.0)
      " - WARN: mass concentrates in few buckets; if the heaviest " +
        "group exceeds usable disk, sub-bucket staging will split it " +
        "into id-hash block-pair cells automatically"
    else ""
  }

  /** Per-stage budget margin for sub-bucket staging — the same 0.5 the
    * chunk-count planner ([[spillChunkCount]]) applies, so the two
    * levels of the staging hierarchy price against one bar. */
  private[graft] val SubSplitMargin: Double = 0.5

  /** Clamp on id-hash blocks per split group: p = 64 → 2,080 sequential
    * cells, splitting a single bucket's pair set ~4,096-fold. Beyond it
    * the corpus is essentially one giant duplicate class and the
    * detector's circuit-breaker remedies (line/span dedup, threshold)
    * apply — not more staging. */
  private[graft] val MaxSubBucketBlocks: Int = 64

  /** SUB-BUCKET staging arithmetic (round 16 — the fix for the 5M
    * DEFAULT cell): the number of id-hash blocks that bounds one staging
    * group's heaviest block-pair cell under `budgetBytes` — the smallest
    * p with p(p+1)/2 ≥ projected/budget, clamped to
    * [[MaxSubBucketBlocks]]. Under a uniform id hash a group of pair
    * mass M splits into p diagonal cells (~M/p² each) and p(p−1)/2
    * off-diagonal cells (~2M/p² each), so p(p+1)/2 ≥ M/budget ⟺
    * heaviest cell 2M/p² ≲ budget: the average-cell formula IS the
    * max-cell bound. Returns 1 when the group already fits (no split).
    * Pure, spec-pinned. */
  private[graft] def subBucketBlocks(projectedBytes: Double,
      budgetBytes: Double, maxBlocks: Int = MaxSubBucketBlocks): Int = {
    if (!(budgetBytes > 0) || projectedBytes <= budgetBytes) 1
    else {
      val c = projectedBytes / budgetBytes
      val p = math.ceil((math.sqrt(8.0 * c + 1.0) - 1.0) / 2.0).toInt
      math.min(math.max(p, 2), math.max(maxBlocks, 2))
    }
  }

  /** Projected bytes of a split group's heaviest block-pair cell — the
    * off-diagonal bound 2M/p² (p ≤ 1 ⇒ the whole group). */
  private[graft] def maxCellBytes(projectedBytes: Double, p: Int): Double =
    if (p <= 1) projectedBytes else 2.0 * projectedBytes / (p.toDouble * p)

  /** The per-group sub-split announcement the staged detect prints —
    * pure, so the spec pins the numbers without an adversarial corpus. */
  private[graft] def subSplitNote(gi: Int, projectedBytes: Double,
      p: Int): String =
    f"detect group ${gi + 1}: projected ~${projectedBytes / 1e9}%.1f GB " +
      f"exceeds the per-stage budget - SUB-BUCKET staging into $p " +
      f"id-hash blocks = ${p * (p + 1) / 2} sequential block-pair cells " +
      f"(heaviest cell ~${maxCellBytes(projectedBytes, p) / 1e9}%.1f GB); " +
      "every pair lands in exactly one cell, so pairs and recall are " +
      "IDENTICAL to the single pass - only wall time trades"

  /** PRICED-FATAL decision (round-15 verdict item 2): when even the
    * heaviest block-pair cell AT THE BLOCK CLAMP projects over usable
    * disk, executing is a guaranteed hours-long spill into ENOSPC (the
    * 5M attempt burned ~65 predicted minutes). The default-on fail-fast
    * at the call site throws this message instead; the remedies are the
    * detector's own. Pure, spec-pinned. */
  private[graft] def pricedFatalMessage(maxCell: Double, estBytes: Double,
      usableBytes: Long): Option[String] =
    if (estBytes > 0 && usableBytes > 0 && maxCell > usableBytes) Some(
      f"near-dup detect: the staged plan is priced FATAL - even the " +
        f"heaviest block-pair cell at the clamp projects " +
        f"~${maxCell / 1e9}%.1f GB of candidate/verify spill vs " +
        f"${usableBytes / 1e9}%.1f GB usable local shuffle storage; " +
        "executing would spill to a full disk for hours and die with " +
        "ENOSPC (round-15's measured 5M attempt). Remedies: line/span " +
        "dedup rungs (scrub the shared text that built the bucket), " +
        "raise the threshold, dedup per source group, or point " +
        "spark.local.dir at larger storage. Set " +
        "spark.graft.dedup.failFastOnPricedEnospc=false to run anyway.")
    else None

  /** Bucket-hash slices per band in the staged detect: the sub-axis that
    * keeps staging effective under extreme per-band mass skew. 64 slices
    * × the typical band count keeps the driver-side mass table a few
    * thousand scalars while making the irreducible staging unit ~1/64th
    * of a band (a single BUCKET heavier than the disk is then the only
    * unstageable shape — and that is the near-all-pairs regime the
    * detector's circuit breaker already names remedies for). */
  private[graft] val SpillSlicesPerBand: Int = 64

  /** Usable bytes across the session's shuffle dirs (spark.local.dir —
    * comma-separated — falling back to java.io.tmpdir, exactly where
    * local/standalone shuffle files land). Distinct dirs on distinct
    * filesystems sum; dirs sharing one FileStore are counted ONCE
    * (two dirs on the same disk do not double its capacity — the
    * double-count would inflate the estimate exactly where the guard
    * is meant to fire). Caveat the warning text carries: on YARN/K8s
    * the cluster manager overrides spark.local.dir per executor, so
    * this driver-side read is only an approximation there. */
  private[graft] def shuffleDirUsableBytes(spark: SparkSession): Long =
    spark.sparkContext.getConf
      .get("spark.local.dir", System.getProperty("java.io.tmpdir", "/tmp"))
      .split(",").map(_.trim).filter(_.nonEmpty).distinct
      .map { p =>
        val f = new java.io.File(p)
        val store =
          try java.nio.file.Files.getFileStore(f.toPath).toString
          catch { case scala.util.control.NonFatal(_) => p }
        (store, f.getUsableSpace)
      }
      .groupBy(_._1).values.map(_.head._2).sum

  // ── The GENERALIZED disk guard (round 14): the minhash detector's
  // spill pricing ([[spillEstimateBytes]]) extended to
  // the OTHER banded families — embedding sign-LSH, SemDeDup's
  // within-list blocks, the media Hamming bands, the incremental media
  // probe. Same candidate-volume geometry, same failure mode (round-13's
  // measured ENOSPC wall), so the same up-front warning discipline. The
  // difference: these families have no background sample to price from,
  // so the guard counts the banded collision mass EXACTLY — one
  // key-only aggregate over the (already-materialized, payload-free)
  // signature frame, one scalar to the driver — and skips itself
  // entirely below [[BandGuardMinRows]] where even the all-pairs worst
  // case cannot threaten local shuffle storage. ───────────────────────

  /** Rows floor under which the banded families skip disk pricing:
    * below it even the ALL-PAIRS worst case (n²/2 × ~48 B ≈ 1 TB at
    * n = 200k) only threatens a box that the single-pass minhash guard
    * would also be warning about, and the guard's extra aggregate would
    * be pure overhead on fixture-scale inputs. Above it the aggregate
    * is linear, key-only, and vanishes next to the n²-ish join it
    * prices. */
  private[graft] val BandGuardMinRows: Long = 200000L

  /** EXACT candidate-pair mass of a banded frame: Σ_k C(n_k, 2) over the
    * `keyCols` bucket groups — the pre-dedup candidate row count of the
    * band self-join (each colliding unordered pair appears once per
    * shared bucket). ONE key-only aggregate, ONE scalar to the driver;
    * pure arithmetic, so the spec pins it on literal frames. */
  private[graft] def bandCandidateMass(banded: DataFrame,
      keyCols: Seq[String]): Double =
    banded.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("_n"))
      .agg(coalesce(sum(col("_n") * (col("_n") - lit(1)) / lit(2.0)), lit(0.0)))
      .first().getDouble(0)

  /** One-sided PROBE mass — the incremental-index variant of
    * [[bandCandidateMass]]: Σ_k a_k · b_k over the bucket groups of a
    * probe side joined against an index side (each cross pair appears
    * once per shared bucket). */
  private[graft] def bandProbeMass(probe: DataFrame, index: DataFrame,
      keyCols: Seq[String]): Double = {
    val a = probe.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("_na"))
    val b = index.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("_nb"))
    a.join(b, keyCols)
      .agg(coalesce(sum(col("_na") * col("_nb")), lit(0.0)))
      .first().getDouble(0)
  }

  /** Spill estimate for the non-prefiltered banded families: every
    * candidate row spills through the pair exchange (~32 B serialized)
    * and ships its verify payload (`payloadBytes` per pair — two hashes
    * for the media bands, two vectors for the embedding families).
    * Pure, so the spec pins it. */
  private[graft] def bandSpillEstimateBytes(candidates: Double,
      payloadBytes: Double): Double =
    candidates * (32.0 + payloadBytes)

  /** Price a MATERIALIZED banded frame and pick its execution plan (the
    * media/embedding guard's shared body): skip below the rows floor,
    * else one key-only aggregate → group count, clamped by the family's
    * group axis (`maxGroups`: a 64-bit dHash at maxHamming=6 has only 7
    * chunks to stage over). Returns (k, estBytes, usableBytes) — k = the
    * number of sequential groups to stage into, 1 = run the single pass;
    * the pricing feeds families that calibrate against a measured pilot
    * group ([[pilotCalibratedChunks]]); (1, 0, 0) below the rows floor.
    * Prints the staging note (k > 1) or, when the family cannot stage,
    * the warn-only message. The caller materializes the frame first, so
    * the count and the aggregate never re-execute the upstream
    * decode/scan. */
  private[graft] def bandPlan(family: String, banded: => DataFrame,
      keyCols: Seq[String], nRows: Long, payloadBytes: Double,
      remedies: String, maxGroups: Int): (Int, Double, Long) = {
    if (nRows < BandGuardMinRows) return (1, 0.0, 0L)
    val spark = org.apache.spark.sql.SparkSession.active
    val usable = shuffleDirUsableBytes(spark)
    val est = bandSpillEstimateBytes(bandCandidateMass(banded, keyCols), payloadBytes)
    val k = spillChunkCount(est, usable, maxChunks = math.min(maxGroups, 256))
    if (k <= 1) spillWarning(family, est, usable, remedies).foreach(System.err.println)
    else System.err.println(stagingNote(family, est, usable, k, "band-group", remedies))
    (k, est, usable)
  }

  /** PILOT-CALIBRATED chunk count (round-15 verdict item 5): the
    * generalized guard's payload model is deliberately pessimistic —
    * the measured cosine A/B projected 259 GB where the single pass fit
    * well under 83 GB, so AUTO paid ×1.74 wall for staging that corpus
    * did not need. Once the FIRST staged group has run, its measured
    * peak spill re-prices the rest: calibration = measured/projected for
    * the pilot group, clamped to [0.05, 1] (never inflate, never trust a
    * sampler miss), a ×1.5 safety factor back on top (pessimism stays
    * the tie-break — ENOSPC costs more than wall), and the remaining
    * mass re-chunked with [[spillChunkCount]]. `pilotShare` = the pilot
    * group's fraction of the total estimate. Pure, spec-pinned. */
  private[graft] def pilotCalibratedChunks(estBytes: Double,
      usableBytes: Long, pilotShare: Double, measuredPeakBytes: Long,
      margin: Double = 0.5, maxChunks: Int = 256): Int = {
    val projPilot = estBytes * pilotShare
    val calib =
      if (projPilot <= 0) 1.0
      else math.min(1.0, math.max(0.05, measuredPeakBytes / projPilot))
    spillChunkCount(estBytes * (1.0 - pilotShare) * calib * 1.5,
      usableBytes, margin, maxChunks)
  }

  /** Split a family's group axis (`0 until n` chunk/band indices) into
    * at most `k` contiguous staging groups — the detect loop's grouping
    * rule, shared so every staged family slices its axis the same way. */
  private[graft] def stagingGroups(n: Int, k: Int): Seq[Seq[Int]] =
    (0 until n).grouped(math.max(1, math.ceil(n.toDouble / k).toInt)).toSeq

  /** MASS-BALANCED staging groups — greedy LPT (longest-processing-time)
    * packing of axis indices into `k` groups by their measured collision
    * mass. Count-uniform slicing ([[stagingGroups]]) under-bounds peak
    * spill when the mass is skewed across the axis: the 2M adversarial
    * decade measured a single 6-band group at ~1.6× the uniform per-group
    * estimate (several heavy bands stacked by position), which put the
    * staged plan back over the disk wall the staging exists to avoid.
    * LPT places each index (heaviest first) into the currently-lightest
    * group, so max-group mass ≤ (4/3 − 1/(3k)) × optimal — no stacking
    * of heavy indices by positional accident. A single index heavier
    * than total/k is irreducible at this granularity (it gets its own
    * group; the residual warning in the staging note covers it). Empty
    * groups (k > distinct indices with mass) are dropped. Deterministic:
    * ties break by index. */
  private[graft] def massBalancedGroups(mass: Seq[(Int, Double)],
      k: Int): Seq[Seq[Int]] = {
    require(k >= 1, s"massBalancedGroups: k must be >= 1, got $k")
    val groups = Array.fill(k)(List.empty[Int])
    val load = Array.fill(k)(0.0)
    mass.sortBy { case (i, m) => (-m, i) }.foreach { case (i, m) =>
      val g = load.indices.minBy(j => (load(j), j))
      groups(g) = i :: groups(g)
      load(g) += m
    }
    groups.toSeq.map(_.sorted).filter(_.nonEmpty)
  }

  /** Run the ONE shared detect plan (band → candidates → [prefilter] →
    * exact verify) for a [[DetectorDecision]] over prepared shingle
    * frames (`sh` sorted string shingles, `shH` 64-bit-hashed). Every
    * [[Detector]] comes through here so the band/prefilter/verify
    * construction cannot drift between them. */
  private def detectOnShingles(sh: DataFrame, shH: DataFrame,
      d: DetectorDecision, threshold: Double): DataFrame =
    if (d.prefilterH > 0) {
      // ONE signature pass, materialized: feeds the band rows AND the
      // prefilter head (re-deriving either would re-hash the corpus)
      val sigM = materialize(
        minHashSignatures(sh.withColumnRenamed("sh", "shingles"), d.r * d.b)
          .select(col("id"), size(col("shingles")).as("sz"), col("sig")))
      val candidates = minHashCandidates(bandProjection(sigM, d.r, d.b), threshold)
      val kept = prefilterBySignature(candidates, sigM, threshold, d.prefilterH)
      verifyJaccard(kept, shH, threshold)
    } else {
      val banded = minHashBandRows(sh, d.r * d.b, d.r, d.b)
      verifyJaccard(minHashCandidates(banded, threshold), shH, threshold)
    }

  /** Dispatch a Tuned/Auto detector decision to the single-pass plan or
    * the spill-bounded band-chunk staging, from the spill estimate vs the
    * session's usable shuffle storage. `spillSafetyMargin` and
    * `maxSpillChunks` are spec seams: a ~zero margin forces staging on a
    * fixture corpus; one chunk forces the warn-only path. */
  private[graft] def runDetect(sh: DataFrame, shH: DataFrame,
      d: DetectorDecision, threshold: Double, meanShingles: Double,
      spillSafetyMargin: Double = 0.5, maxSpillChunks: Int = 256): DataFrame = {
    val usable = shuffleDirUsableBytes(sh.sparkSession)
    val est = spillEstimateBytes(d, meanShingles)
    val k = spillChunkCount(est, usable, spillSafetyMargin, maxSpillChunks)
    if (k <= 1) {
      spillWarning(detectFamily(d), est, usable, DetectRemedies)
        .foreach(System.err.println)
      detectOnShingles(sh, shH, d, threshold)
    } else {
      System.err.println(
        stagingNote(detectFamily(d), est, usable, k, "band-chunk", DetectRemedies))
      detectOnShinglesChunked(sh, shH, d, threshold, k, est, usable)
    }
  }

  /** SIGNATURE-AGREEMENT PREFILTER between LSH candidate generation and
    * the exact verify: candidate pairs re-join only the first `h`
    * signature components per side (h 4-byte ints — ~256 B at h=64,
    * versus the full 8-byte-element hashed shingle arrays the verify
    * ships) and survive when the MinHash agreement estimate clears
    * `threshold − 3.5·SE(h)` (SE = √(τ(1−τ)/h): the estimator is
    * unbiased with binomial error). Pairs far below the threshold — the
    * quadratically-growing background mass — never reach the verify join
    * at all; everything that DOES survive is still exact-verified, so
    * false positives remain impossible. Drop probability for a TRUE
    * at-threshold pair is the 3.5σ normal tail (~2·10⁻⁴ at h=64) — two
    * orders below the banding's own 1 − recallTarget miss budget, and
    * decreasing steeply for pairs above the threshold (where real
    * near-dups live). `h ≤ 0` disables; a cut ≤ 0 (tiny h or τ)
    * degenerates to a no-op rather than a noisy filter. */
  private[graft] def prefilterBySignature(candidates: DataFrame, sigM: DataFrame,
      threshold: Double, h: Int): DataFrame = {
    if (h <= 0) return candidates
    prefilterByHead(candidates,
      sigM.select(col("id"), slice(col("sig"), 1, h).as("hd")), threshold, h)
  }

  /** [[prefilterBySignature]] over an ALREADY-SLICED (id, hd) head frame —
    * the form the persisted-index probe uses (the stored
    * [[minHashSignatureHead]] artifact arrives pre-sliced from parquet).
    *
    * The head joins are LEFT joins: a candidate whose id has no head row
    * passes through to the exact verify instead of being filtered on
    * absent evidence. Partial head coverage is a REACHABLE state, not an
    * error — a streaming corpus upgraded mid-life has bands/shingles for
    * every batch but signature heads only for post-upgrade batches
    * ([[graft.streaming.StreamingOps.dedupStreamIntoCorpus]] passes the
    * partial head dir as soon as it exists) — and the prefilter's
    * contract is "survivors stay exact-verified, the head can only drop
    * pairs it has POSITIVE far-below-threshold evidence for".
    *
    * `h` must be the head's width: the cut's standard error is
    * √(τ(1−τ)/h), so a STORED head narrower than claimed would silently
    * understate the error and over-drop true at-threshold pairs — that
    * mismatch is a configuration bug and fails loudly per row (an O(1)
    * array-length check inside the filter, not a separate validation
    * job). Wider heads are safe (more components than priced ⇒ smaller
    * true SE ⇒ conservative cut) and occur legitimately when a probe
    * prices h below the stored artifact's width. */
  private[graft] def prefilterByHead(candidates: DataFrame, head: DataFrame,
      threshold: Double, h: Int): DataFrame = {
    if (h <= 0) return candidates
    val cut = threshold - 3.5 * math.sqrt(threshold * (1 - threshold) / h)
    if (cut <= 0) return candidates
    GraftFunctions.register(head.sparkSession)
    val widthOk = (hd: Column) => size(hd) >= h ||
      raise_error(concat(
        lit(s"prefilterByHead: stored signature head narrower than the " +
          s"claimed width h=$h (found "), size(hd).cast("string"),
        lit(" components) - the agreement cut would be computed with an " +
          "understated standard error; rebuild the head or pass its " +
          "actual width"))).cast("boolean")
    candidates
      .join(head.select(col("id").as("id_a"), col("hd").as("hd_a")), Seq("id_a"), "left")
      .join(head.select(col("id").as("id_b"), col("hd").as("hd_b")), Seq("id_b"), "left")
      .where(col("hd_a").isNull || col("hd_b").isNull ||
        (widthOk(col("hd_a")) && widthOk(col("hd_b")) &&
          GraftFunctions.sigAgreement(col("hd_a"), col("hd_b")) >= cut))
      .select(col("id_a"), col("id_b"))
  }

  /** SimHash near-duplicate pairs: 64-bit simhash per doc (native Catalyst
    * expression), LSH on `maxHamming + 1` disjoint bit chunks — by
    * pigeonhole, a pair within Hamming `maxHamming` has at least one
    * UNTOUCHED chunk, so chunk-key equality gives COMPLETE recall for the
    * stated bound (round 1 fixed 4 chunks, which only covered Hamming ≤ 3
    * whatever the caller asked for). Candidates are verified with
    * `bit_count(a ^ b)`. Returns (id_a, id_b, hamming).
    *
    * `maxHamming` ≤ 15 keeps chunks ≥ 4 bits; note the chunk count rises
    * (and buckets coarsen) with the bound — at corpus scale prefer small
    * bounds, which is also where SimHash is discriminative. */
  def nearDupPairsSimHash(spark: SparkSession, df: DataFrame, textCol: String,
      idCol: String, maxHamming: Int = 3, tok: Tok = Tok.Latin): DataFrame = {
    GraftFunctions.register(spark)
    val hashed = df.select(col(idCol).as("id"), col(textCol).as("_text"))
      .repartition(cpuParallelism(df), col("id"))
      .select(col("id"),
        GraftFunctions.simhash64(tok.tokens(col("_text"))).as("sh"))
    hammingPairs(hashed, Seq("sh"), maxHamming)
  }

  // ── The Hamming-LSH family over k-word hashes ─────────────────────────
  // One family serves every Hamming rung: simhash, image dHash, audio
  // envelope, video frames (one 64-bit word, `Seq("sh")`) and the 128-bit
  // image signature (two words, `Seq("lo", "hi")`: bits [0, 64) in `lo`,
  // [64, 128) in `hi`). Wider hashes buy wider chunks at the same bound —
  // 64·k/(h+1) bits — and so exponentially fewer background collisions.

  /** Chunk layout of the Hamming-LSH banding over a `bits`-wide hash:
    * (widths, bit offsets) for `maxHamming + 1` near-equal chunks — the
    * pigeonhole guarantee (≤ maxHamming differing bits ⇒ at least one
    * chunk identical). Shared by the band join and the oracle-SQL
    * generators so the band boundaries cannot drift between engines. */
  private[graft] def hammingChunkLayout(bits: Int,
      maxHamming: Int): (Array[Int], Array[Int]) = {
    val nChunks = maxHamming + 1
    val widths = Array.tabulate(nChunks)(j =>
      bits / nChunks + (if (j < bits % nChunks) 1 else 0))
    (widths, widths.scanLeft(0)(_ + _))
  }

  /** The (…, chunk, chunk_key) projection every Hamming pair join bands
    * on — shared by the pair join, the disk guard, the incremental probe
    * and the per-frame video banding, so all see the exact same layout.
    * Carries EVERY input column (the video path adds its frame alignment
    * key). Chunk j covers bits [s, e) of the word concatenation; its key
    * ORs the slice of each word it touches, shifted to its place in the
    * chunk, so a chunk may straddle a word boundary. A chunk wider than
    * one long (two words at maxHamming 0) folds its words together (the
    * shift wraps mod 64): equal hashes still share the key, so recall
    * stays complete and the verify drops the extra collisions. */
  private[graft] def hammingChunks(hashed: DataFrame, words: Seq[String],
      maxHamming: Int): DataFrame = {
    val bits = 64 * words.length
    require(maxHamming >= 0 && maxHamming < bits / 4,
      s"maxHamming must be in [0, ${bits / 4 - 1}], got $maxHamming " +
        s"(complete recall needs maxHamming+1 chunks; more than ${bits / 4} " +
        s"chunks of a $bits-bit hash would bucket on < 4 bits)")
    val (widths, offsets) = hammingChunkLayout(bits, maxHamming)
    def mask(w: Int): Long = if (w >= 64) -1L else (1L << w) - 1
    def chunkKey(j: Int): Column = {
      val s = offsets(j); val e = s + widths(j)
      (s / 64 to (e - 1) / 64).map { i =>
        val from = math.max(s, 64 * i); val to = math.min(e, 64 * i + 64)
        val slice = shiftright(col(words(i)), from - 64 * i)
          .bitwiseAND(lit(mask(to - from)))
        if (from == s) slice else shiftleft(slice, from - s)
      }.reduce(_.bitwiseOR(_))
    }
    hashed.select(col("*"),
      posexplode(array((0 to maxHamming).map(chunkKey): _*)))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "chunk_key")
  }

  /** Hamming-LSH pair join over a pre-hashed (id, words…) frame: bucket-
    * join on any identical chunk (complete recall for the bound, by
    * pigeonhole), verify with the exact distance Σ bit_count(w ⊕ w') over
    * the words. Only (chunk_key, id, words) rows shuffle — never
    * payloads. Returns (id_a, id_b, hamming). `kGroups > 1` stages the
    * join into that many SEQUENTIAL chunk-groups — the bounded-disk plan
    * on the [[detectOnShinglesChunked]] model: the chunk axis partitions
    * the band join exactly (every chunk's bucket join runs once across
    * the groups), so the union of per-group verified pairs IS the
    * single-pass pair set and only wall time trades for the
    * ~est/kGroups peak footprint. The group count is clamped by the axis
    * width (maxHamming + 1 chunks). */
  private[graft] def hammingPairs(hashed: DataFrame, words: Seq[String],
      maxHamming: Int, kGroups: Int = 1): DataFrame = {
    val chunked = hammingChunks(hashed, words, maxHamming)
    if (kGroups <= 1) hammingPairsOn(chunked, words, maxHamming, None)
    else {
      val groups = stagingGroups(maxHamming + 1, kGroups)
      stagedPairUnion(hashed.sparkSession, groups.length, Seq("id_a", "id_b"),
        (g, prior) => hammingPairsOn(
          chunked.where(col("chunk").isInCollection(groups(g))),
          words, maxHamming, prior))
    }
  }

  /** The ONE pair construction of [[hammingPairs]]'s single-pass and
    * staged plans, over an already-chunked frame: bucket join →
    * candidate dedup → [cross-group anti-join] → exact bit_count verify.
    * `prior` (staged groups only) holds pairs earlier groups already
    * verified — anti-joined after the candidate dedup so the union over
    * groups is pair-distinct (the verify itself is row-local; unlike the
    * minhash family there is no payload-join to save by anti-joining
    * earlier). */
  private def hammingPairsOn(chunked: DataFrame, words: Seq[String],
      maxHamming: Int, prior: Option[DataFrame]): DataFrame = {
    def side(s: String) = chunked.select(
      Seq(col("chunk"), col("chunk_key"), col("id").as(s"id_$s")) ++
        words.map(w => col(w).as(s"${w}_$s")): _*)
    val cand0 = side("a").join(side("b"), Seq("chunk", "chunk_key"))
      .where(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
    prior.fold(cand0)(p => cand0.join(p, Seq("id_a", "id_b"), "left_anti"))
      .withColumn("hamming", words.map(w =>
        bit_count(col(s"${w}_a").bitwiseXOR(col(s"${w}_b")))).reduce(_ + _))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** The shared body of the image, 128-bit image and audio pair
    * detectors: decode once into a materialized hash frame (two or three
    * longs per item — `hashes` = the caller's ALREADY-MATERIALIZED frame
    * for the same payloads, the decode-once-across-rungs path), price the
    * band join's spill before running it ([[bandPlan]]; the row
    * count rides the decode checkpoint), then [[hammingPairs]] — staged
    * when the guard says the single pass would not fit. */
  private def mediaNearDupPairs(family: String, decode: => DataFrame,
      hashes: Option[DataFrame], words: Seq[String], maxHamming: Int,
      remedies: String): DataFrame = {
    val (h, nDocs) = hashes.map(f => (f, f.count()))
      .getOrElse(materializeCounted(decode))
    val (k, _, _) = bandPlan(family, hammingChunks(h, words, maxHamming),
      Seq("chunk", "chunk_key"), nDocs, payloadBytes = 16.0 * words.length,
      remedies, maxGroups = maxHamming + 1)
    hammingPairs(h, words, maxHamming, k)
  }

  /** PERCEPTUAL near-duplicate image pairs — the multimodal rung of the
    * dedup family: dHash over the REAL decode + engine-owned integer
    * AREA resample
    * ([[Multimodal.lumaGrid9x8]] — javax.imageio, no external codec),
    * then the SAME Hamming-LSH banding as the text simhash family.
    * Returns (id_a, id_b, hamming) for decodable-image pairs within
    * `maxHamming` bits. Non-image / undecodable payloads drop out of the
    * comparison (a perceptual hash of bytes that never decoded is
    * noise, not a near-dup signal).
    *
    * Scale shape: decode is a batched per-partition transform (narrow);
    * after it each image is ONE long — the band join shuffles
    * (chunk_key, id, hash) triples only, never pixels. Pick `maxHamming`
    * against corpus size: the chunks are 64/(maxHamming+1) bits wide,
    * and background band collisions grow as n²/2^width — h=6 (9-bit
    * chunks, 512 buckets) is comfortable to ~1e5 images, h=3 (16-bit
    * chunks, 65k buckets) to ~1e7; beyond that, shard by a cheap
    * pre-key (dimensions, source) first. Measured decade table in
    * BASELINE.md (round 11). */
  def imageNearDupPairs(df: DataFrame, idCol: String, typeCol: String,
      binaryCol: String, maxHamming: Int = 6,
      hashes: Option[DataFrame] = None): DataFrame =
    mediaNearDupPairs("imageNearDupPairs",
      imageHashFrame(df, idCol, typeCol, binaryCol), hashes, Seq("sh"),
      maxHamming,
      remedies = "lower maxHamming (wider chunks, fewer collisions), " +
        "shard by a cheap pre-key (dimensions, source) and dedup per " +
        "shard, or use the 128-bit form (imageNearDupPairs128 - twice " +
        "the chunk width at the same bound)")

  /** PERCEPTUAL near-duplicate AUDIO pairs — the audio rung of the dedup
    * family: 64-bit envelope difference hash over the REAL PCM decode
    * ([[Multimodal.audioEnvelope]] → [[Multimodal.audioHash64]] —
    * javax.sound.sampled, no external codec; Haitsma-Kalker-style
    * sign-of-energy-difference, time-envelope form), then the SAME
    * Hamming-LSH chunk banding as the simhash/image families. Returns
    * (id_a, id_b, hamming) for decodable-audio pairs within
    * `maxHamming` bits; non-audio / undecodable / sub-65-sample payloads
    * drop out of the comparison (and always SURVIVE
    * [[removeNearDuplicateAudio]] — absence of evidence).
    *
    * Scale shape (the [[imageNearDupPairs]] contract): decode is a
    * batched per-partition transform behind an explicit repartition
    * that pins decode parallelism; after it each clip is ONE long — the
    * band join shuffles (chunk_key, id, hash) triples only, never PCM. */
  def audioNearDupPairs(df: DataFrame, idCol: String, typeCol: String,
      binaryCol: String, maxHamming: Int = 4,
      hashes: Option[DataFrame] = None): DataFrame =
    mediaNearDupPairs("audioNearDupPairs",
      audioHashFrame(df, idCol, typeCol, binaryCol), hashes, Seq("sh"),
      maxHamming,
      remedies = "lower maxHamming (wider chunks, fewer collisions), or " +
        "shard by a cheap pre-key (duration, sample rate, source) and " +
        "dedup per shard")

  /** The persistable AUDIO perceptual-hash frame (id, sh): one 64-bit
    * envelope-delta fingerprint per decodable clip — what a
    * build-once/probe-per-batch media index stores
    * ([[removeNearDuplicateMediaIncremental]]; kind "video" indexes the
    * per-frame (id, fpos, sh) frame from [[videoFrameHashFrame]]
    * instead). Decode behind an explicit repartition, exactly the
    * pair-detector's shape. */
  def audioHashFrame(df: DataFrame, idCol: String, typeCol: String,
      binaryCol: String): DataFrame = {
    import df.sparkSession.implicits._
    mediaRecords(df, idCol, typeCol, binaryCol, "audioNearDupPairs")
      .flatMap(m => Multimodal.audioEnvelope(m)
        .map(e => (m.media_id, Multimodal.audioHash64(e))))
      .toDF("id", "sh")
  }

  /** The persistable IMAGE perceptual-hash frame (id, sh): the 64-bit
    * horizontal dHash per decodable image. */
  def imageHashFrame(df: DataFrame, idCol: String, typeCol: String,
      binaryCol: String): DataFrame = {
    import df.sparkSession.implicits._
    mediaRecords(df, idCol, typeCol, binaryCol, "imageNearDupPairs")
      .flatMap(m => Multimodal.lumaGrid9x8(m)
        .map(g => (m.media_id, Multimodal.dHash64(g))))
      .toDF("id", "sh")
  }

  /** The decode prelude every media hash frame shares: integral-id
    * check, (media_id, media_type, content) projection, then an explicit
    * repartition BEFORE the decode — the decode is the dominant CPU span
    * and must not inherit source skew or AQE byte-size coalescing; the
    * payload shuffle is the price of pinned decode parallelism (callers
    * with well-partitioned media dirs can pre-partition upstream). */
  private def mediaRecords(df: DataFrame, idCol: String, typeCol: String,
      binaryCol: String, caller: String): Dataset[Multimodal.MediaRecord] = {
    import df.sparkSession.implicits._
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idT = df.schema(idCol).dataType
    require(Seq(LongType, IntegerType, ShortType, ByteType).contains(idT),
      s"$caller: idCol '$idCol' must be an integral type, got " +
        s"$idT - remap or hash string ids first")
    df.select(
      col(idCol).cast("long").as("media_id"),
      col(typeCol).cast("string").as("media_type"),
      col(binaryCol).as("content"))
      .repartition(cpuParallelism(df), col("media_id"))
      .as[Multimodal.MediaRecord]
  }

  /** Refuse to probe a persisted video hash index at another sampling
    * rate: fpos semantics depend on the rate the index was built with,
    * and probing an everyN=2 index with everyN=1 silently shifts every
    * alignment slot ([[videoFrameHashFrame]] stamps every_n precisely so
    * a persisted index carries its rate). An index WITHOUT the column
    * predates the stamp — the caller owns the invariant then; a
    * MIXED-VINTAGE partitioned index reads pre-stamp rows as NULL under
    * the merged schema, and those rows are excluded, not crashed on.
    * One scan job, no shuffle: each partition ships its distinct rates. */
  private def requireIndexRate(index: DataFrame, everyN: Int,
      caller: String): Unit =
    if (index.columns.contains("every_n")) {
      val rates = index.select(col("every_n").cast("long").as("every_n"))
        .where(col("every_n").isNotNull).rdd
        .mapPartitions(_.map(_.getLong(0)).toSet.iterator)
        .collect().distinct
      require(rates.forall(_ == everyN),
        s"$caller: probe everyN=$everyN but the persisted video hash index " +
          s"carries every_n=${rates.sorted.mkString(",")} — fpos alignment " +
          "would silently shift; probe at the index's rate or rebuild " +
          "the index at one rate")
    }

  /** The media probes' shared preamble: validate the kind and, for
    * video, the frame fraction and the index rate — before any decode —
    * then decode the probe side (row count riding the checkpoint) unless
    * `hashes` is given, and project both sides to (id, fpos, sh) for
    * video, (id, sh) else. Returns (probe, index, decoded row count,
    * video gate). */
  private def mediaProbeSides(caller: String, kind: String, df: DataFrame,
      idCol: String, typeCol: String, binaryCol: String, everyN: Int,
      minMatchFrac: Double, hashes: Option[DataFrame], index: DataFrame)
      : (DataFrame, DataFrame, Option[Long], Option[FrameGate]) = {
    require(Set("image", "audio", "video").contains(kind),
      s"$caller: kind must be 'image', 'audio' or 'video', got '$kind'")
    val gate = if (kind == "video") Some(FrameGate(minMatchFrac)) else None
    if (gate.isDefined) requireIndexRate(index, everyN, caller)
    val (h, nRows) = hashes.map(f => (f, Option.empty[Long])).getOrElse {
      val (m, c) = materializeCounted(kind match {
        case "image" => imageHashFrame(df, idCol, typeCol, binaryCol)
        case "audio" => audioHashFrame(df, idCol, typeCol, binaryCol)
        case "video" => videoFrameHashFrame(df, idCol, typeCol, binaryCol, everyN)
      })
      (m, Some(c))
    }
    val cols = (if (gate.isDefined) Seq("id", "fpos", "sh") else Seq("id", "sh")).map(col)
    (h.select(cols: _*), index.select(cols: _*), nRows, gate)
  }

  /** The media probes' Hamming join over [[hammingChunks]] frames:
    * [[probeJoin]] on the chunk key, the exact bit_count verify, the
    * pair dedup, minus `prior`. Image/audio emit (id_a, id_b); video
    * (`frames` defined, `Some(false)` = the trim-robust SET probe keyed
    * without the ordinal) emits (id_a, id_b, fpos), one row per matched
    * PROBE-side ordinal for the [[FrameGate]] — the batch SET variant's
    * accounting. A staged both-incoming pair surfaces once per member's
    * sub-batch with that member's own ordinal, rows the single pass also
    * emits; an aligned duplicate dies in the prior anti-join. */
  private def hammingProbe(probe: DataFrame, index: DataFrame,
      maxHamming: Int, frames: Option[Boolean], oneSided: Boolean)
      (prior: Option[DataFrame]): DataFrame = {
    val pairKey = Seq(col("id_a"), col("id_b")) ++ frames.map(_ => col("fpos"))
    minusPrior(probeJoin(probe, index, hammingProbeKeys(frames), oneSided,
        extra = frames.map(_ => col("a.fpos").as("fpos")).toSeq :+
          bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .select(pairKey: _*).distinct(), prior)
  }

  /** Join keys of [[hammingProbe]], shared with its disk guard. */
  private def hammingProbeKeys(frames: Option[Boolean]): Seq[String] =
    (if (frames.contains(true)) Seq("fpos") else Nil) ++ Seq("chunk", "chunk_key")

  /** The matched-frame gate of every video rung: keep an (id_a, id_b)
    * pair whose matched frames — `framePairs` rows, one per matched
    * ordinal — reach ⌈minMatchFrac · min(nf_a, nf_b)⌉ of the two clips'
    * sampled frames (`nfA`/`nfB`: (id, nf) counts, [[frameCounts]]).
    * Constructed before any decode, so a bad fraction fails fast. */
  private final case class FrameGate(minMatchFrac: Double) {
    require(minMatchFrac > 0 && minMatchFrac <= 1,
      s"minMatchFrac must be in (0, 1], got $minMatchFrac")
    def apply(framePairs: DataFrame, nfA: DataFrame, nfB: DataFrame): DataFrame =
      framePairs.groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("n_matched"))
        .join(nfA.select(col("id").as("id_a"), col("nf").as("nf_a")), Seq("id_a"))
        .join(nfB.select(col("id").as("id_b"), col("nf").as("nf_b")), Seq("id_b"))
        .where(col("n_matched") >=
          ceil(lit(minMatchFrac) * least(col("nf_a"), col("nf_b"))))
        .select(col("id_a"), col("id_b"), col("n_matched"), col("nf_a"), col("nf_b"))
  }

  /** (id, nf) sampled-frame count per clip of a per-frame hash frame. */
  private def frameCounts(frames: DataFrame): DataFrame =
    frames.groupBy(col("id")).agg(count(lit(1)).as("nf"))

  /** End-to-end perceptual audio dedup: [[audioNearDupPairs]] → CC →
    * keep each cluster's min id; undecodable payloads always survive. */
  def removeNearDuplicateAudio(df: DataFrame, idCol: String, typeCol: String,
      binaryCol: String, maxHamming: Int = 4,
      hashes: Option[DataFrame] = None): DataFrame =
    removeByPairs(df, idCol,
      audioNearDupPairs(df, idCol, typeCol, binaryCol, maxHamming, hashes))

  /** Incremental batch-vs-corpus PERCEPTUAL media dedup — the multimodal
    * sibling of [[removeNearDuplicatesIncrementalIndexed]] (text) and
    * the ANN persisted-index probe: `existingHashes` is the PERSISTED
    * perceptual-hash index (the (id, sh) frame [[imageHashFrame]] /
    * [[audioHashFrame]] builds — one long per media item, round-trips
    * through parquet), and each incoming batch decodes ONCE, probes the
    * index one-sidedly, self-dedups, and returns its survivors. Append
    * the survivors' hash frame to the index and later batches dedup
    * against them — the corpus payloads are never re-decoded.
    *
    * Cluster semantics mirror the text incremental exactly: the pair
    * graph is (incoming↔existing probe pairs) ∪ (incoming self pairs);
    * clusters touching the existing corpus drop ALL their incoming
    * members (an existing item is always the canonical survivor),
    * purely-incoming clusters keep the min id. Undecodable incoming
    * payloads carry no hash and always survive.
    *
    * Scale shape: the probe joins |Δ|·(maxHamming+1) chunk rows against
    * the index's chunk projection — (chunk, key, id, sh) longs only,
    * the index side is a parquet scan of one long per corpus item. */
  def removeNearDuplicateMediaIncremental(existingHashes: DataFrame,
      incoming: DataFrame, idCol: String, typeCol: String, binaryCol: String,
      kind: String, maxHamming: Int, checkDisjointIds: Boolean = true,
      everyN: Int = 2, minMatchFrac: Double = 0.6,
      incomingHashes: Option[DataFrame] = None,
      alignFrames: Boolean = true,
      forceProbeGroups: Option[Int] = None): DataFrame = {
    val caller = "removeNearDuplicateMediaIncremental"
    // `incomingHashes`: the PRECOMPUTED (and caller-materialized) hash
    // frame of `incoming` — decode-once composition for callers that
    // also persist the batch's hash frame (the streaming media rung:
    // probe + index-append must not decode every payload twice). Its
    // (cheap, checkpoint-scan) count is deferred to the guard's first
    // use — a forceProbeGroups bypass then never counts at all.
    val (inH, exH, nInDecoded, gate) = mediaProbeSides(caller, kind,
      incoming, idCol, typeCol, binaryCol, everyN, minMatchFrac,
      incomingHashes, existingHashes)
    incrementalSurvivors(caller, incoming, idCol, inH, exH,
        checkDisjointIds) {
      val frames = gate.map(_ => alignFrames)
      val inChunks = hammingChunks(inH, Seq("sh"), maxHamming)
      val allChunks = inChunks.unionByName(hammingChunks(exH, Seq("sh"), maxHamming))
      // probe mass = Σ_k in_k · all_k over the join keys: the SET
      // variant drops the ordinal from the key, multiplying the mass by
      // ~frames-per-clip — exactly the geometry the pricing must see
      val kSub = forceProbeGroups.getOrElse(probePlan(
        s"$caller($kind) probe", nInDecoded.getOrElse(inH.count()),
        exH.count(), inChunks, allChunks, hammingProbeKeys(frames),
        payloadBytes = if (gate.isDefined) 24.0 else 16.0,
        remedies = "lower maxHamming, or for video raise everyN / keep " +
          "alignFrames=true")._1)
      // the staged unit is the matched-ordinal row (id_a, id_b, fpos)
      // for video; the gate counts the union once
      val pairs = probeSubBatches(inChunks, kSub,
        Seq("id_a", "id_b") ++ frames.map(_ => "fpos"),
        hammingProbe(_, allChunks, maxHamming, frames, oneSided = true)(_))
      gate.fold(pairs) { g =>
        val counts = frameCounts(inH).unionByName(frameCounts(exH))
        g(pairs, counts, counts)
      }
    }
  }

  /** Sampled-frame perceptual hash frame (id, fpos, sh, every_n) for
    * VIDEO payloads: every `everyN`-th frame REALLY decodes
    * ([[Multimodal.videoFrameHashes]] — AVI container walk, raw-DIB /
    * MJPEG frames, zero external codec) into a 64-bit dHash; `fpos` is
    * the frame's SAMPLING SLOT (decoder frame index / everyN — stable
    * under partial decode failure) — the alignment key two same-rate
    * clips match on. `every_n` stamps the sampling rate on the frame so
    * a PERSISTED index carries the invariant its fpos semantics depend
    * on; the incremental probe validates it. Decode behind an explicit
    * repartition pinning parallelism (the media-dedup shape); after it
    * each clip is a handful of longs — payloads never shuffle past the
    * decode. */
  def videoFrameHashFrame(df: DataFrame, idCol: String, typeCol: String,
      binaryCol: String, everyN: Int = 2): DataFrame = {
    import df.sparkSession.implicits._
    mediaRecords(df, idCol, typeCol, binaryCol, "videoFrameHashFrame")
      .flatMap { m =>
        // fpos = decoder-reported ordinal / everyN, NOT zipWithIndex over
        // the successfully decoded frames: if one sampled frame of a
        // partially corrupt clip fails to decode, the surviving frames
        // must keep their true alignment slots or every later frame
        // shifts and aligned matching against an intact copy misses.
        Multimodal.videoFrameHashes(m, everyN).toSeq.flatMap(_.map {
          case (i, h) => (m.media_id, i / everyN, h)
        })
      }
      .toDF("id", "fpos", "sh")
      .withColumn("every_n", lit(everyN))
  }

  /** PERCEPTUAL near-duplicate VIDEO pairs — the video rung of the dedup
    * family: REAL sampled-frame decode → per-frame 64-bit dHash → the
    * SAME Hamming-LSH chunk banding as the simhash/image/audio families,
    * banded PER ALIGNED FRAME (join key (fpos, chunk, chunk_key)), then
    * pairs where at least `ceil(minMatchFrac · min(nFrames))` aligned
    * frames agree within `maxHamming` bits. Frame-ordinal alignment is
    * robust to re-encoding and per-frame edits, not to trimming —
    * `alignFrames = false` selects the trim-robust frame-SET variant
    * (band key without the ordinal) at more candidate volume. Returns
    * (id_a, id_b, n_matched, nf_a, nf_b); non-video / undecodable
    * payloads drop out of the comparison (and always SURVIVE
    * [[removeNearDuplicateVideos]] — absence of evidence).
    *
    * Scale shape: the decode (dominant cost) runs once behind a pinned
    * repartition; the band join ships (fpos, chunk_key, id, sh) longs
    * only; candidates are bounded per aligned frame by the same
    * complete-recall-within-bound argument as the other Hamming rungs. */
  def videoNearDupPairs(df: DataFrame, idCol: String, typeCol: String,
      binaryCol: String, everyN: Int = 2, maxHamming: Int = 4,
      minMatchFrac: Double = 0.6, alignFrames: Boolean = true,
      frameHashes: Option[DataFrame] = None): DataFrame = {
    val gate = FrameGate(minMatchFrac)
    // `frameHashes` = the caller's already-materialized (id, fpos, sh)
    // frame at the SAME everyN rate (decode-once-across-rungs)
    val (hashes, nFrameRows) = frameHashes
      .map(f => { val s = f.select(col("id"), col("fpos"), col("sh")); (s, s.count()) })
      .getOrElse(materializeCounted(
        videoFrameHashFrame(df, idCol, typeCol, binaryCol, everyN)
          .select(col("id"), col("fpos"), col("sh"))))
    val counts = frameCounts(hashes)
    val chunked = hammingChunks(hashes, Seq("sh"), maxHamming)
    // disk guard over the FRAME rows (the band join's true input): the
    // SET variant drops the ordinal from the band key, multiplying the
    // collision mass by ~frames-per-clip — exactly the geometry the
    // pricing must see, so the key set follows alignFrames
    val (k, _, _) = bandPlan("videoNearDupPairs",
      chunked,
      if (alignFrames) Seq("fpos", "chunk", "chunk_key")
      else Seq("chunk", "chunk_key"),
      nFrameRows, payloadBytes = 24.0,
      remedies = "raise everyN (fewer sampled frames per clip - the SET " +
        "variant's candidate volume scales with it quadratically), use " +
        "alignFrames=true if clips are not trimmed (ordinal-keyed bands " +
        "cut the collision mass by ~frames-per-clip), lower maxHamming, " +
        "or shard by duration/resolution and dedup per shard",
      maxGroups = maxHamming + 1)
    // aligned mode joins frame ordinal i to frame ordinal i — robust to
    // re-encoding/per-frame edits, candidate volume bounded per ordinal.
    // SET mode (alignFrames = false) drops the ordinal from the band key
    // — robust to TRIMMING and temporal shifts (a's frame may match ANY
    // of b's frames; matched = how many of a's ordinals found a partner)
    // at (sampled frames per clip)× the candidate volume; pair it with a
    // coarser everyN at corpus scale.
    // The staged unit is the FRAME pair (the band join's output — what
    // spills); the match-fraction aggregation runs once over the union,
    // so staged and single-pass aggregate identical frame-pair sets.
    val framePairs =
      if (k <= 1) videoFramePairsOn(chunked, alignFrames, maxHamming, None)
      else videoFramePairsStaged(chunked, alignFrames, maxHamming, k)
    gate(framePairs, counts, counts)
  }

  /** The ONE frame-pair construction [[videoNearDupPairs]]'s single-pass
    * and staged plans share, over an already-chunked
    * (id, fpos, sh, chunk, chunk_key) frame. `prior` = frame pairs
    * earlier staging groups already found, anti-joined on the full
    * (id_a, id_b, fpos) key so the union counts each matched ordinal
    * exactly once. */
  private[graft] def videoFramePairsOn(sub: DataFrame, alignFrames: Boolean,
      maxHamming: Int, prior: Option[DataFrame]): DataFrame = {
    val joinKey =
      (if (alignFrames) col("a.fpos") === col("b.fpos") else lit(true)) &&
        col("a.chunk") === col("b.chunk") &&
        col("a.chunk_key") === col("b.chunk_key") && col("a.id") < col("b.id")
    // min(hamming) — not dropDuplicates — keeps the report DETERMINISTIC
    // in SET mode, where one a-frame at fpos can match several b-frames
    // with different hamming values (an arbitrary-keep would make the
    // staged and single-pass plans report different, plan-dependent
    // hamming for the same matched ordinal; n_matched is unaffected
    // either way)
    val fp = sub.as("a").join(sub.as("b"), joinKey)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.fpos").as("fpos"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .groupBy(col("id_a"), col("id_b"), col("fpos"))
      .agg(min(col("hamming")).as("hamming"))
    prior.fold(fp)(p =>
      fp.join(p, Seq("id_a", "id_b", "fpos"), "left_anti"))
  }

  /** The video family's chunk-axis staging ([[hammingPairs]]'s
    * shape at frame-pair granularity): each group runs the single-pass
    * construction over its chunk indices, the (id_a, id_b, fpos) union
    * is exact, and the caller's match-fraction aggregation sees the
    * identical frame-pair set. */
  private[graft] def videoFramePairsStaged(chunked: DataFrame,
      alignFrames: Boolean, maxHamming: Int, kGroups: Int): DataFrame = {
    val groups = stagingGroups(maxHamming + 1, kGroups)
    stagedPairUnion(chunked.sparkSession, groups.length,
      Seq("id_a", "id_b", "fpos"),
      (g, prior) => videoFramePairsOn(
        chunked.where(col("chunk").isInCollection(groups(g))),
        alignFrames, maxHamming, prior))
  }

  /** End-to-end perceptual video dedup: [[videoNearDupPairs]] → CC →
    * keep each cluster's min id; undecodable payloads always survive. */
  def removeNearDuplicateVideos(df: DataFrame, idCol: String, typeCol: String,
      binaryCol: String, everyN: Int = 2, maxHamming: Int = 4,
      minMatchFrac: Double = 0.6, alignFrames: Boolean = true,
      frameHashes: Option[DataFrame] = None): DataFrame =
    removeByPairs(df, idCol,
      videoNearDupPairs(df, idCol, typeCol, binaryCol, everyN, maxHamming,
        minMatchFrac, alignFrames, frameHashes))

  /** End-to-end perceptual image dedup: [[imageNearDupPairs]] → CC →
    * keep the minimum id per cluster; undecodable payloads always
    * survive (no hash ⇒ no duplicate evidence). */
  def removeNearDuplicateImages(df: DataFrame, idCol: String, typeCol: String,
      binaryCol: String, maxHamming: Int = 6,
      hashes: Option[DataFrame] = None): DataFrame =
    removeByPairs(df, idCol,
      imageNearDupPairs(df, idCol, typeCol, binaryCol, maxHamming, hashes))

  /** The persistable 128-BIT image hash frame (id, lo, hi): horizontal
    * dHash in `lo` (bit-identical to [[imageHashFrame]]'s `sh` — a
    * 64-bit probe can read `lo` directly), vertical dHash in `hi` —
    * ONE decode emits both grids. The decode-once seam the composed
    * pipeline shares between its 128-bit dedup rung and its 64-bit
    * decontamination probe. */
  def imageHashFrame128(df: DataFrame, idCol: String, typeCol: String,
      binaryCol: String): DataFrame = {
    import df.sparkSession.implicits._
    mediaRecords(df, idCol, typeCol, binaryCol, "imageHashFrame128")
      .flatMap(m => Multimodal.lumaGrids128(m).map { case (gh, gv) =>
        (m.media_id, Multimodal.dHash64(gh), Multimodal.dHash64v(gv))
      })
      .toDF("id", "lo", "hi")
  }

  /** [[imageNearDupPairs]] over the 128-BIT perceptual signature
    * (horizontal dHash ∥ vertical dHash — [[Multimodal.dHash64]] over
    * the 9×8 grid in `lo`, [[Multimodal.dHash64v]] over the 8×9 grid in
    * `hi`): the same decode-once narrow stage emits both grids, the
    * band join ships (chunk, id, lo, hi) only, and the chunks are twice
    * as wide as the 64-bit layout at the same bound — tighter precision
    * (vertical gradients catch what horizontal ones miss), same
    * complete-recall pigeonhole. `hashes` = the caller's
    * already-materialized (id, lo, hi) frame. */
  def imageNearDupPairs128(df: DataFrame, idCol: String, typeCol: String,
      binaryCol: String, maxHamming: Int = 6,
      hashes: Option[DataFrame] = None): DataFrame =
    mediaNearDupPairs("imageNearDupPairs128",
      imageHashFrame128(df, idCol, typeCol, binaryCol), hashes,
      Seq("lo", "hi"), maxHamming,
      remedies = "lower maxHamming (wider chunks, fewer collisions), or " +
        "shard by a cheap pre-key (dimensions, source) and dedup per " +
        "shard")

  /** End-to-end 128-bit perceptual image dedup ([[imageNearDupPairs128]]
    * → CC → min-id survivor); undecodable payloads always survive. */
  def removeNearDuplicateImages128(df: DataFrame, idCol: String, typeCol: String,
      binaryCol: String, maxHamming: Int = 6,
      hashes: Option[DataFrame] = None): DataFrame =
    removeByPairs(df, idCol,
      imageNearDupPairs128(df, idCol, typeCol, binaryCol, maxHamming, hashes))

  /** Embedding-cosine near-duplicate pairs — delegates candidate
    * generation + verification to [[Similarity.cosinePairs]] (banded
    * sign-LSH, threshold-derived r/b, exact verify). */
  def nearDupPairsEmbedding(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double = 0.95): DataFrame =
    Similarity.cosinePairs(df, vecCol, idCol, threshold)

  /** Connected components over near-dup pairs: every doc in a duplicate
    * cluster gets the cluster's minimum id as its label. Returns
    * (id, label). A driver loop over ACTIONS only (a convergence scalar
    * per round, never data).
    *
    * Each round after the first two HOOKS every node and its current
    * label to the smallest label across the node's edges, then JUMPS once
    * (label ← label(label)): Shiloach–Vishkin hooking and shortcutting,
    * the label propagation of Kiveris et al., "Connected Components in
    * MapReduce and Beyond" (SoCC 2014). Hooking the label too is what
    * makes the round count grow with the log of the cluster diameter,
    * not the diameter: a 1,000-node path resolves in about a dozen
    * rounds. A label is always the id of a node in the same
    * cluster and never exceeds that node's own id, and no round raises
    * one, so the loop needs no bound: it ends at the first round that
    * changes no label, and such a round leaves every edge's two ends on
    * one label, the cluster's minimum.
    *
    * Each round runs ONE materializing job: the round's labels are
    * checkpointed with a `_changed` flag whose sum a [[Tally]] reads.
    * Checkpointing is RELIABLE (HDFS/object-store) whenever the session
    * has a checkpoint dir configured — `localCheckpoint` pins blocks in
    * executor storage and dies with an executor, fine on local[n], fatal
    * on a 1000-node job — with `localCheckpoint` as the no-dir
    * fallback. */
  def resolveClusters(pairs: DataFrame): DataFrame = {
    // ONE materialization for the symmetric edge list, derived from the
    // pair detection with a single explode. The former shape checkpointed
    // the pairs AND a self-union of that checkpoint — two full
    // write+read passes over the pair set, the second existing only
    // because a plain `union` of two projections would otherwise execute
    // the whole upstream detect twice inside one job. The explode keeps
    // the detect single-execution with half the materialized passes
    // (measured round 16: two ~0.1–0.6 s checkpoint jobs collapse to one
    // on every CC caller; at corpus scale it removes a full pair-set
    // write+read per dedup).
    val edges = materialize(pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("_e"))
      .select(col("_e.src").as("src"), col("_e.dst").as("dst")))
    // Round 1 in closed form: labels₀(v) = v, so the neighbor-min join
    // over labels₀ reduces to ONE aggregate on the edge list —
    // label₁(v) = min(v, min of v's neighbors). Edges with a null
    // endpoint join nothing; dropping them up front makes both of round
    // 2's reads of this aggregate the same plan, so its exchange runs
    // once and is reused.
    val l1Plan = edges.where(col("dst").isNotNull).groupBy(col("dst"))
      .agg(min(col("src")).as("_nmin"))
      .select(col("dst").as("id"),
        least(col("dst"), col("_nmin")).as("label"))
    // Round 2 FUSED into the same materialize (round 17): near-dup
    // cluster graphs overwhelmingly have diameter ≤ 2 (pairs sharing a
    // common survivor), so the round that PROVES convergence is almost
    // always round 2 — running it inside round 1's plan turns the common
    // case into ONE labels checkpoint instead of two on every CC caller.
    //   label₂(v) = min(label₁(v), min_{u∈N(v)} label₁(u)),
    //   changed₂ ≡ label₂ < label₁;
    // the round-1 aggregate subtree is shared inside the plan (same
    // exchange, reused). Convergence reads off the same tally: changed₂
    // = 0 (labels₁ were a fixed point, or there are no nodes). Explicit
    // aliases: l1Plan appears on BOTH sides of the
    // round-2 join (true self-lineage).
    //
    // Every join of a round is a LEFT join, so AQE may broadcast only its
    // right side. An inner join's build side is picked by whichever input
    // stage finishes first, so identical calls planned either side and
    // compiled new stage bodies. Here the edges are the right side, so a
    // broadcast keeps the round-1 aggregate inside the join's stage (one
    // codegen stage fewer). Every node is some edge's src;
    // the `coalesce` keys a row without one on its own node, which keeps
    // `nid` non-null, so no inferred null filter turns the join inner.
    val nm2 = l1Plan.as("l")
      .join(edges.as("e"), col("l.id") === col("e.src"), "left")
      .groupBy(coalesce(col("e.dst"), col("l.id")).as("nid"))
      .agg(min(col("l.label")).as("nlabel"))
    val (l2, t2) = Tally.of(l1Plan.as("x")
      .join(nm2, col("x.id") === col("nid"), "left")
      .select(col("x.id").as("id"),
        least(col("x.label"), coalesce(col("nlabel"), col("x.label"))).as("label"),
        (coalesce(col("nlabel"), col("x.label")) < col("x.label"))
          .cast("long").as("_changed")),
      "n_changed" -> col("_changed"))
    def settled(m: DataFrame, t: TallyHandle): Boolean = t.valueOr("n_changed")(m
      .agg(coalesce(sum(col("_changed")), lit(0L))).first().getLong(0)) == 0L
    val m = materialize(l2)
    var labels = m.drop("_changed")
    var converged = settled(m, t2)
    while (!converged) {
      // Hook: node u and node L(u) both take nmin(u), the smallest label
      // across u's edges. Edges without a label have a null src, and a
      // null nmin changes nothing. No filter may drop the null-label rows:
      // the optimizer would turn the left join back into an inner one.
      val nmin = edges.join(labels.as("l"), col("src") === col("l.id"), "left")
        .groupBy(col("dst").as("u")).agg(min(col("l.label")).as("nmin"))
      val hooks = nmin.join(labels.as("h"), col("u") === col("h.id"), "left")
        .select(explode(array(col("h.id"), col("h.label"))).as("hid"), col("nmin"))
        .groupBy(col("hid")).agg(min(col("nmin")).as("hmin"))
      val hooked = labels.as("o").join(hooks, col("o.id") === col("hid"), "left")
        .select(col("o.id").as("id"), col("o.label").as("_old"),
          least(col("o.label"), col("hmin")).as("label"))
      // Jump: label ← label(label). Every label is a node's id, so each
      // node finds its label's row. Labels only ever decrease, so
      // "changed" ≡ new label < the round's input label; the count is a
      // TALLY the checkpoint pass runs, one driver action per round.
      val (round, t) = Tally.of(hooked.as("a")
        .join(hooked.as("b"), col("a.label") === col("b.id"), "left")
        .select(col("a.id").as("id"), col("b.label").as("label"),
          (col("b.label") < col("a._old")).cast("long").as("_changed")),
        "n_changed" -> col("_changed"))
      val updated = materialize(round)
      labels = updated.drop("_changed")
      converged = settled(updated, t)
    }
    labels
  }

  /** End-to-end near-duplicate REMOVAL: detect pairs (MinHash+LSH,
    * exact-verified), cluster them, and keep one survivor per cluster.
    * Everything the detection found goes; the rest of the corpus passes
    * through untouched (left-anti on the loser ids). Clusters of any
    * depth resolve: a page history whose revisions chain into one long
    * path keeps its first revision.
    *
    * The default detector is [[Detector.Auto]]: toy/typical corpora run
    * the fixed-banding plan (identical pairs to [[Detector.Fixed]]),
    * high-background corpora escalate to tuned banding + the signature
    * prefilter by themselves, and the near-all-pairs regime fails loudly
    * with the remedy named instead of OOMing — the DEFAULT configuration
    * is scale-safe without a caller knowing to flip a switch. Fixed pins
    * the no-sample plan (A/B isolation, bounded micro-batches); Tuned
    * skips the decision for corpora already profiled as high-background
    * (measured, BASELINE.md round 7: its fixed O(N) overheads only pay
    * off in the millions of documents).
    *
    * The survivor is each cluster's min id, or with `priorityCol` its
    * highest-priority member (ties broken by min id, so the order is
    * total and deterministic) — the CROSS-SOURCE dedup shape: when a
    * curated corpus and a web crawl both carry a document, the curated
    * copy must survive regardless of which side got the smaller id. The
    * rank window shuffles only CLUSTERED ids with their (priority, id)
    * scalars — never corpus text. A null priority sorts LAST under
    * Spark's and SQL's shared desc-nulls-last default, i.e. "no
    * priority" = crawl-grade. */
  def removeNearDuplicates(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8, n: Int = 3,
      tok: Tok = Tok.Latin, detector: Detector = Detector.Auto,
      priorityCol: Option[String] = None): DataFrame =
    removeByPairs(df, idCol,
      nearDupPairsMinHash(df, textCol, idCol, threshold, n, detector, tok),
      priorityCol)

  /** Shared removal tail of every detector family: cluster the verified
    * pairs ([[resolveClusters]]) and drop every member but each cluster's
    * survivor — its min id, or its top (`priorityCol` desc, id asc) row. */
  private def removeByPairs(df: DataFrame, idCol: String, pairs: DataFrame,
      priorityCol: Option[String] = None): DataFrame = {
    val labels = resolveClusters(pairs)
    val losers = priorityCol match {
      case None => labels.where(col("label") =!= col("id"))
      case Some(p) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("label"))
          .orderBy(col("_prio").desc, col("id").asc)
        labels
          .join(df.select(col(idCol).as("id"), col(p).as("_prio")), Seq("id"))
          .withColumn("_rk", row_number().over(w))
          .where(col("_rk") > 1)
    }
    df.join(losers.select(col("id").as(idCol)), Seq(idCol), "left_anti")
  }

  /** Embedding-space near-duplicate REMOVAL — the same detect → cluster →
    * min-id-survivor composition over cosine similarity. The default
    * detection is the banded sign-LSH scale path
    * ([[Similarity.cosinePairs]]: threshold-derived bands, recall ≥
    * 0.999 at the threshold, every pair exact-verified); `exact = true`
    * swaps in the all-pairs ground truth ([[Similarity.cosinePairsExact]])
    * for test-side comparison — never for a corpus-scale run. */
  def removeNearDuplicatesByEmbedding(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double = 0.95, exact: Boolean = false,
      projectTo: Option[Int] = None): DataFrame = projectTo match {
    case Some(outDim) =>
      // ONE-FLAG projected-space detection: JL-project the embeddings
      // (integer-exact kernel) and run the SAME detect → cluster →
      // min-id composition at outDim ≪ inDim — pairwise cosines survive
      // within the JL distortion bound, so every distance evaluation in
      // the quadratic-ish stages costs inDim/outDim less (SimilaritySpec
      // pins survivors ≡ unprojected on the planted-twin fixture). The
      // input dimension is read from one row (a limit-1 job).
      require(!df.columns.contains("_jl_vec"),
        "removeNearDuplicatesByEmbedding: input already has a '_jl_vec' " +
          "column - the projection stages its vectors there; rename yours")
      val inDim = df.select(size(col(vecCol)).cast("int")).limit(1)
        .collect().headOption.map(_.getInt(0))
      inDim match {
        case None => df // empty corpus: nothing to dedup
        case Some(d) =>
          require(outDim <= d,
            s"projectTo=$outDim exceeds the embedding dimension $d")
          Similarity.randomProjectDouble(df, vecCol, "_jl_vec", d, outDim)
            .transform(p => removeNearDuplicatesByEmbedding(
              p, "_jl_vec", idCol, threshold, exact, None))
            .drop("_jl_vec")
      }
    case None =>
      removeByPairs(df, idCol,
        if (exact) Similarity.cosinePairsExact(df, vecCol, idCol, threshold)
        else Similarity.cosinePairs(df, vecCol, idCol, threshold))
  }

  // ── Batch-vs-index probes: build the index once, probe each batch ───
  // Incremental dedup (text, media) joins a batch ONE-SIDED against
  // batch ∪ existing (existing↔existing pairs are unrepresentable);
  // decontamination (fuzzy text, media) joins a corpus CROSS against a
  // frozen benchmark index.

  /** The ONE probe join: `probe` rows (alias `a`) against `index` rows
    * (alias `b`) on equal `keys` and `cond`, projected to (id_a, id_b,
    * extra…). One-sided (the index holds the probe's rows too): no self
    * matches, pairs oriented (least, greatest) so (A, B) and (B, A)
    * dedup to one. Cross: id_a = probe id, id_b = index id, no id
    * relation (a benchmark drawn from the corpus shares its ids). */
  private def probeJoin(probe: DataFrame, index: DataFrame, keys: Seq[String],
      oneSided: Boolean, cond: Column = lit(true),
      extra: Seq[Column] = Nil): DataFrame = {
    val on = keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) && cond
    val (idA, idB) =
      if (oneSided) (least(col("a.id"), col("b.id")), greatest(col("a.id"), col("b.id")))
      else (col("a.id"), col("b.id"))
    probe.as("a")
      .join(index.as("b"), if (oneSided) on && col("a.id") =!= col("b.id") else on)
      .select(Seq(idA.as("id_a"), idB.as("id_b")) ++ extra: _*)
  }

  /** The length filter over two band rows' shingle-set sizes: J ≥ τ
    * forces min(|A|, |B|) ≥ τ·max(|A|, |B|) (1e-9 slack so a pair at
    * exactly τ never falls to float rounding). */
  private def lengthFilter(threshold: Double): Column =
    least(col("a.sz"), col("b.sz")).cast("double") >=
      greatest(col("a.sz"), col("b.sz")) * threshold - lit(1e-9)

  /** Drop the pairs earlier staged groups already found (`prior`, keyed
    * on its own columns), so the union over groups is pair-distinct. */
  private def minusPrior(pairs: DataFrame, prior: Option[DataFrame]): DataFrame =
    prior.fold(pairs)(p => pairs.join(p, p.columns.toSeq, "left_anti"))

  /** Band indexes persisted before `sz` rode the band rows lack the
    * column; backfill it from the shingle index (one cheap join, planned
    * only on the legacy path) instead of invalidating stored artifacts. */
  private def withSz(bands: DataFrame, shingles: DataFrame): DataFrame =
    if (bands.columns.contains("sz")) bands
    else bands.join(shingles.select(col("id"), size(col("sh")).as("sz")), Seq("id"))

  /** Disk guard of a one-sided probe, with a BOUNDED plan (round 15): a
    * 10M-row delta against a boilerplate-heavy index re-creates the
    * round-13 ENOSPC wall one sided, so Σ_k in_k · all_k over the `keys`
    * buckets ([[bandProbeMass]]) is priced against usable shuffle bytes
    * like the batch families. Returns (sub-batches, estimate, usable).
    * Below the rows floor it prices nothing; `nIndex` is only counted
    * when the probe side alone does not clear the floor. */
  private def probePlan(family: String, nProbe: Long, nIndex: => Long,
      probe: DataFrame, all: DataFrame, keys: Seq[String],
      payloadBytes: => Double, remedies: String): (Int, Double, Long) =
    if (nProbe < BandGuardMinRows && nProbe + nIndex < BandGuardMinRows)
      (1, 0.0, 0L)
    else {
      val usable = shuffleDirUsableBytes(probe.sparkSession)
      val est = bandSpillEstimateBytes(bandProbeMass(probe, all, keys), payloadBytes)
      val k = spillChunkCount(est, usable)
      if (k > 1) System.err.println(
        stagingNote(family, est, usable, k, "sub-batch", remedies))
      (k, est, usable)
    }

  /** The probe rows whose id hashes to one of the `idx` residues mod `m`
    * — one sub-batch of the incoming side. */
  private def subBatch(probe: DataFrame, m: Int, idx: Seq[Int]): DataFrame =
    probe.where(pmod(xxhash64(col("id")), lit(m.toLong)).isin(idx.map(_.toLong): _*))

  /** Run a one-sided probe in `kSub` sequential sub-batches of the
    * incoming side ([[stagedPairUnion]]; `kSub <= 1` = one pass). Each
    * sub-batch probes the FULL (incoming ∪ existing) index side, so the
    * union is the single-pass pair set: an incoming↔existing pair lands
    * in its incoming id's sub-batch; an incoming↔incoming pair lands in
    * both members' and `pairsOn`'s prior anti-join keeps the first. */
  private def probeSubBatches(probe: DataFrame, kSub: Int, pairKey: Seq[String],
      pairsOn: (DataFrame, Option[DataFrame]) => DataFrame): DataFrame =
    if (kSub <= 1) pairsOn(probe, None)
    else stagedPairUnion(probe.sparkSession, kSub, pairKey,
      (g, prior) => pairsOn(subBatch(probe, kSub, Seq(g)), prior))

  /** The incremental probes' resolution. First the disjoint-id check
    * (one id-only semi-join job; callers with disjoint ids by
    * construction skip it, like mergeUpsert's checkKeyUniqueness), then
    * the probe's `pairs` are clustered ([[resolveClusters]]): a cluster
    * touching the existing side (`exIds`) drops ALL its incoming members;
    * a purely incoming cluster keeps its min id. Returns the surviving
    * `incoming` rows. */
  private def incrementalSurvivors(caller: String, incoming: DataFrame,
      idCol: String, inIds: DataFrame, exIds: DataFrame,
      checkDisjointIds: Boolean)(pairs: => DataFrame): DataFrame = {
    val (inId, exId) = (inIds.select(col("id")), exIds.select(col("id")))
    if (checkDisjointIds) {
      val overlap = inId.join(exId, Seq("id"), "left_semi")
      require(overlap.isEmpty,
        s"$caller: incoming and existing share ids " +
          s"(e.g. ${overlap.limit(3).collect().mkString(",")}) — id spaces must be disjoint")
    }
    val labels = resolveClusters(pairs)
    val tainted = labels.join(exId, Seq("id"), "left_semi")
      .select(col("label"), lit(true).as("_tainted")).distinct()
    val losers = labels.join(inId, Seq("id"), "left_semi")
      .join(tainted, Seq("label"), "left")
      .where(col("_tainted").isNotNull || col("id") =!= col("label"))
      .select(col("id").as(idCol))
    incoming.join(losers, Seq(idCol), "left_anti")
  }

  /** INCREMENTAL near-duplicate removal — the daily-increment shape: dedup
    * a new `incoming` batch against an `existing` corpus (and within
    * itself) WITHOUT ever generating existing↔existing pairs. At 100 TB
    * this is the difference between |Δ|·b band rows probing a corpus
    * index and re-pairing the whole corpus every day.
    *
    * Mechanics: both sides shingle + minhash + band (threshold-derived
    * r/b, as [[nearDupPairsMinHash]]); the incoming bands probe ALL
    * bands one-sided ([[probeJoin]]), candidates are exact-Jaccard-
    * verified and resolved by [[incrementalSurvivors]] (the two id
    * spaces must be disjoint — checked).
    *
    * Returns the surviving `incoming` rows. The existing corpus's
    * shingle/signature subtree is the per-batch index-build cost; persist
    * it with [[shingleIndex]]/[[minHashBandIndex]] and probe the stored
    * artifacts via [[removeNearDuplicatesIncrementalIndexed]] to pay it
    * once per corpus version instead of per batch. */
  def removeNearDuplicatesIncremental(existing: DataFrame, incoming: DataFrame,
      textCol: String, idCol: String, threshold: Double = 0.8,
      n: Int = 3, k: Int = 128, checkDisjointIds: Boolean = true,
      tok: Tok = Tok.Latin): DataFrame = {
    val (rr, b) = minHashBands(threshold, k)
    // The corpus count rides the shingle checkpoint (materializeCounted)
    // and is handed to the probe's guard as knownCorpusRows — the
    // recompute path then never pays a separate corpus-side count job,
    // matching the stored-index path's persisted-count discipline.
    val (shEx, nEx) = materializeCounted(
      shingleIndex(existing, textCol, idCol, n, tok))
    removeIncrementalFrom(minHashBandRows(shEx, k, rr, b), shEx, incoming,
      textCol, idCol, threshold, n, k, checkDisjointIds, tok = tok,
      knownCorpusRows = Some(nEx))
  }

  /** (id, sh) shingle-index projection — the per-corpus-version artifact a
    * production incremental-dedup pipeline persists ONCE (parquet / a
    * warehouse table) instead of re-shingling 100 TB every daily batch.
    * `sh` is the sorted distinct word-n-gram array [[shingleSets]]
    * produces; [[minHashBandIndex]] derives the band index from it.
    * Shingles hold no nulls, so `sort_array` gives `array_sort`'s order,
    * and unlike `array_sort` (a lambda comparator) it is codegen'd into
    * the shingle stage. */
  def shingleIndex(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, tok: Tok = Tok.Latin): DataFrame =
    shingleSets(df, textCol, idCol, n, tok)
      .select(col("id"), sort_array(col("shingles")).as("sh"))

  /** (id, hd) signature-head projection over a STORED shingle index — the
    * OPTIONAL third persisted incremental-dedup artifact, enabling the
    * signature-agreement prefilter ([[prefilterByHead]]) on the probe path
    * without re-hashing the corpus. Safe across probe geometries: minhash
    * component j hashes with murmur3 seed j regardless of k, so an h-wide
    * stored head is positionwise-identical to the first h components of
    * ANY probe signature with k ≥ h — the head survives k changes that
    * would invalidate the band index. ~4·h bytes/doc (256 B at the
    * default h=64). */
  def minHashSignatureHead(shingles: DataFrame, h: Int = 64): DataFrame = {
    GraftFunctions.register(shingles.sparkSession)
    shingles.select(col("id"), GraftFunctions.minhashSig(col("sh"), h).as("hd"))
  }

  /** (id, sz, band, band_key) band-index projection over a STORED shingle
    * index — the other persisted half of the incremental-dedup index
    * (`sz` = shingle-set size, carried so probes length-filter candidates
    * for free; indexes persisted before `sz` existed are backfilled from
    * the shingle index at probe time).
    * Band geometry derives from (threshold, k) exactly as the batch
    * detector's ([[minHashBands]]), so a stored index is only valid for
    * the (threshold, k, n) it was built with — rebuild on parameter
    * change. Persist bucketed on `band_key`
    * ([[graft.etl.Warehouse.overwriteBucketedTable]]) so daily probe
    * joins co-locate against the index without reshuffling it. */
  def minHashBandIndex(shingles: DataFrame, threshold: Double = 0.8,
      k: Int = 128): DataFrame = {
    val (rr, b) = minHashBands(threshold, k)
    minHashBandRows(shingles, k, rr, b)
  }

  /** [[removeNearDuplicatesIncremental]] probing a PERSISTED index: the
    * existing corpus arrives as its stored (id, band, band_key) band index
    * and (id, sh) shingle index ([[minHashBandIndex]]/[[shingleIndex]]
    * round-tripped through parquet or a warehouse table) — the corpus
    * text is never re-read, re-shingled, or re-hashed on the batch path.
    * `threshold`/`k`/`n` MUST match the index build (band geometry and
    * shingle width are baked into the stored rows). Result is identical
    * to the recompute path on the same corpus (spec-proven).
    *
    * `existingSigHead`: the optional stored [[minHashSignatureHead]]
    * artifact — when provided, probe candidates pass the
    * signature-agreement prefilter ([[prefilterByHead]]) before the
    * shingle-array verify join (the delta's own heads are h cheap hashes
    * per incoming doc; the corpus side comes from storage). Survivors are
    * still exact-verified — passing the head trades nothing but the
    * ~2·10⁻⁴ at-τ estimator tail, same contract as the batch tuned path.
    * The prefilter reads [[PrefilterHashes]] (64) components, so the
    * stored head must be at least that wide ([[minHashSignatureHead]]'s
    * default). It SELF-GATES on the measured candidate count
    * (`prefilterMinCandidates`, same gate as the batch tuned path): a
    * routine small batch probing a large index yields few candidates
    * and skips the head joins' fixed cost; a flood engages them.
    * Providing the head is therefore always safe — it changes plans only
    * when it pays. */
  def removeNearDuplicatesIncrementalIndexed(existingBands: DataFrame,
      existingShingles: DataFrame, incoming: DataFrame,
      textCol: String, idCol: String, threshold: Double = 0.8,
      n: Int = 3, k: Int = 128, checkDisjointIds: Boolean = true,
      existingSigHead: Option[DataFrame] = None,
      prefilterMinCandidates: Double = 4e6, tok: Tok = Tok.Latin,
      knownCorpusRows: Option[Long] = None): DataFrame =
    removeIncrementalFrom(existingBands, existingShingles, incoming,
      textCol, idCol, threshold, n, k, checkDisjointIds,
      existingSigHead, prefilterMinCandidates, tok,
      knownCorpusRows = knownCorpusRows)

  /** Shared incremental-removal core: one-sided band probe of `incoming`
    * against an existing corpus given as (band index, shingle index) —
    * computed fresh by [[removeNearDuplicatesIncremental]], read from
    * storage by [[removeNearDuplicatesIncrementalIndexed]]. */
  private[graft] def removeIncrementalFrom(exBands: DataFrame, shEx: DataFrame,
      incoming: DataFrame, textCol: String, idCol: String, threshold: Double,
      n: Int, k: Int, checkDisjointIds: Boolean,
      exSigHead: Option[DataFrame] = None,
      prefilterMinCandidates: Double = 4e6, tok: Tok = Tok.Latin,
      forceProbeGroups: Option[Int] = None,
      knownCorpusRows: Option[Long] = None,
      forceProbePilotCalib: Boolean = false): DataFrame = {
    val (rr, b) = minHashBands(threshold, k)
    // Fail-FAST width check (driver-side, one column-pruned row): an
    // obviously mis-sized stored head is a configuration bug that should
    // surface before the band join runs — deterministically, on every
    // batch — not per-row mid-verify on whichever candidate happens to
    // touch a head row (a sparsely-probed head could otherwise fail late
    // or intermittently across runs). The per-row raise_error in
    // [[prefilterByHead]] stays as the exhaustive backstop for a head
    // with MIXED widths, which one sampled row cannot rule out.
    exSigHead.foreach { exHd =>
      exHd.select(size(col("hd")).as("w")).limit(1).collect()
        .headOption.foreach { row =>
          val w = row.getInt(0)
          require(w >= PrefilterHashes,
            s"incremental dedup: stored signature head has $w components but " +
              s"the probe prefilter reads $PrefilterHashes — the agreement cut " +
              "would be computed with an understated standard error; rebuild " +
              s"the head at width >= $PrefilterHashes")
        }
    }
    // The guard's delta metrics (row count + total shingle count) are a
    // tally the shingle checkpoint runs — the pricing pass below then
    // costs ZERO extra driver actions on the delta (round 16).
    val (shInTallied, tIn) = Tally.of(shingleIndex(incoming, textCol, idCol, n, tok),
      "n_rows" -> lit(1L), "n_sh" -> size(col("sh")))
    val shIn = materialize(shInTallied)
    incrementalSurvivors("removeNearDuplicatesIncremental", incoming, idCol,
        shIn, shEx, checkDisjointIds) {
      // materialized once: the bands feed BOTH join sides, and the
      // minhash signature is the CPU-heavy stage on the delta
      val newBands = materialize(minHashBandRows(shIn, k, rr, b))
      val allBands = newBands.unionByName(
        withSz(exBands, shEx).select(newBands.columns.map(col): _*))
      val shAllH = hashShingles(shIn.unionByName(shEx))
      val spark = incoming.sparkSession
      // Disk guard over the band buckets (length filter ignored —
      // conservative), payload two hashed shingle arrays at the DELTA's
      // mean width, delta metrics read off the executed shingle
      // checkpoint; `knownCorpusRows` (persisted with a stored index,
      // tracked across streaming batches) spares the corpus count.
      val (kSub, probeEst, probeUsable) = forceProbeGroups.map((_, 0.0, 0L))
        .getOrElse {
          val nIn = tIn.valueOr("n_rows")(shIn.count())
          probePlan("incremental near-dup probe", nIn,
            knownCorpusRows.getOrElse(shEx.count()),
            newBands, allBands, Seq("band", "band_key"),
            payloadBytes = 2.0 * 8.0 * tIn.valueOr("n_sh")(
              shIn.agg(coalesce(sum(size(col("sh"))), lit(0L))).first().getLong(0)) /
              math.max(nIn, 1L),
            remedies = "probe in smaller batches, raise the threshold, or " +
              "strip shared boilerplate (line/span dedup) from the delta " +
              "first")
        }
      // candidates → [self-gated prefilter] → exact verify, per sub-batch.
      // The optional signature-agreement prefilter self-gates on the
      // MEASURED candidate count per pass (same gate as the batch tuned
      // path): below prefilterMinCandidates the head joins' fixed cost can
      // only lose; above it they remove the verify wall (BASELINE.md
      // round 7: 5M-doc verify 639 → 40 s).
      def pairsOn(sub: DataFrame, prior: Option[DataFrame]): DataFrame = {
        val candidates = minusPrior(
          probeJoin(sub, allBands, Seq("band", "band_key"), oneSided = true,
            lengthFilter(threshold)).dropDuplicates("id_a", "id_b"),
          prior)
        val kept = exSigHead match {
          case Some(exHd) =>
            // The self-gate's candidate count is a tally the materialize
            // runs — one driver action, not a checkpoint + a count.
            val (cand, nCand) = materializeCounted(candidates)
            if (nCand >= prefilterMinCandidates) {
              val allHd = minHashSignatureHead(shIn, PrefilterHashes)
                .unionByName(exHd.select(col("id"), col("hd")))
              prefilterByHead(cand, allHd, threshold, PrefilterHashes)
            } else cand
          case None => candidates
        }
        verifyJaccard(kept, shAllH, threshold).select(col("id_a"), col("id_b"))
      }
      // PILOT-CALIBRATED probe split (round 16 — the cosine fix applied
      // to the probe axis): the guard's payload model measured ~×20
      // pessimistic here (185.6 GB projected vs 8.8 GB real peak at a
      // 1M-doc delta — BASELINE.md "Round 16"), so AUTO runs a small
      // id-hash slice of the delta (1/max(kSub,32)) as a measured pilot
      // and re-chunks the REST with the real bytes-per-candidate (clamped
      // ≥ 0.05, ×1.5 safety back on — pessimism stays the tie-break).
      // Exactness is the sub-batch argument unchanged: pilot ∪ rest
      // groups partition the incoming ids (pmod residues 0 vs 1..m−1),
      // every sub-batch probes the full (incoming ∪ existing) band side,
      // and the prior anti-join (seeded with the pilot's keys) keeps the
      // first copy of a both-incoming pair. `forceProbeGroups` bypasses —
      // the parity-spec seam keeps its exact historical plan.
      val calibrateProbe = forceProbePilotCalib || (forceProbeGroups.isEmpty &&
        spark.conf.get("spark.graft.bandguard.calibratePilot", "true").toBoolean)
      if (kSub <= 1 || !calibrateProbe)
        probeSubBatches(newBands, kSub, Seq("id_a", "id_b"), pairsOn)
      else {
        val mMod = math.max(kSub, 32)
        System.err.println(
          s"[graft] INFO incremental near-dup probe: pilot-calibrated " +
            s"split - probing a 1/$mMod id-hash slice of the delta to " +
            "measure real bytes-per-candidate")
        val (pilot, peak) = withSpillSampler(spark) {
          val p = materialize(pairsOn(subBatch(newBands, mMod, Seq(0)), None))
          p.count(); p
        }
        awaitShuffleRelease(spark)
        val kRest = pilotCalibratedChunks(probeEst, probeUsable,
          1.0 / mMod, peak)
        System.err.println(
          f"[graft] INFO incremental near-dup probe: pilot measured peak " +
            f"spill ~${peak / 1e9}%.2f GB vs projected " +
            f"~${probeEst / mMod / 1e9}%.2f GB - rest re-chunked into " +
            f"$kRest sub-batch(es) (uncalibrated plan: $kSub)")
        val pilotKeys = pilot.select(col("id_a"), col("id_b"))
        val restIdx = 1 until mMod
        val restPairs =
          if (kRest <= 1) pairsOn(subBatch(newBands, mMod, restIdx), Some(pilotKeys))
          else {
            val restGroups = stagingGroups(restIdx.length, kRest)
              .map(_.map(restIdx))
            stagedPairUnion(spark, restGroups.length, Seq("id_a", "id_b"),
              (g, prior) => pairsOn(subBatch(newBands, mMod, restGroups(g)),
                Some(prior.fold(pilotKeys)(_.unionByName(pilotKeys)))))
          }
        pilot.unionByName(restPairs)
      }
    }
  }

  /** Benchmark decontamination: per corpus document, the number of
    * benchmark documents it shares at least one word n-gram with (the
    * n-gram-overlap test used to scrub eval sets out of training data).
    *
    * Scale shape: both sides explode their distinct shingles and join on a
    * 64-bit shingle HASH — the shuffle carries (8-byte key, id) pairs, not
    * shingle strings, and is hash-partitioned like every other candidate
    * join here. The benchmark side is typically tiny but the plan never
    * assumes it (no broadcast hint — AQE broadcasts when it fits). A hash
    * collision between a corpus and a benchmark shingle could flag a clean
    * document; at 64 bits that needs billions of distinct shingles per
    * side to matter, and decontamination errs on the cautious side by
    * construction. */
  def contaminationHits(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 3, tok: Tok = Tok.Latin): DataFrame = {
    def sideHashes(df: DataFrame, as: String) =
      shingleSets(df, textCol, idCol, n, tok)
        .select(col("id").as(as), explode(col("shingles")).as("_sh"))
        .select(col(as), xxhash64(col("_sh")).as("_h"))
    sideHashes(corpus, "corpus_id")
      .join(sideHashes(benchmark, "bench_id"), Seq("_h"))
      .select("corpus_id", "bench_id").distinct()
      .groupBy(col("corpus_id")).agg(count(lit(1)).as("n_benchmark_hits"))
  }

  /** FUZZY benchmark decontamination: drop every corpus document that is
    * a NEAR-duplicate of any benchmark document at shingle-Jaccard ≥
    * `threshold` — catches lightly reworded eval leakage the exact
    * n-gram-overlap test cannot see (the exact test needs one VERBATIM
    * n-token run; a paraphrased dump of a benchmark shares most of its
    * shingle set while dodging every long verbatim run).
    *
    * Shape: the incremental detector's one-sided band probe with the
    * BENCHMARK as the untouchable side — corpus bands join benchmark
    * bands only (corpus↔corpus pairs are unrepresentable, so in-corpus
    * near-dups never cause drops here), candidates length-filter for
    * free on the band rows' `sz`, survivors exact-verify on hashed
    * shingle sets. No CC: the resolution rule is "touching the
    * benchmark at all is fatal", which needs no transitivity. Id spaces
    * may overlap (benchmarks drawn from the corpus are the common
    * fixture) — the two sides never union, so no disjointness
    * requirement. Recall is the banding's standard bound for
    * (threshold, k), same trade as [[removeNearDuplicates]]; precision
    * is exact (verify). */
  def removeContaminatedFuzzy(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, threshold: Double = 0.8,
      n: Int = 3, k: Int = 128, tok: Tok = Tok.Latin): DataFrame = {
    val shB = materialize(shingleIndex(benchmark, textCol, idCol, n, tok))
    // the fresh path derives its bands through the SAME entry point the
    // persisted-index build uses — parity by construction
    removeFuzzyFrom(corpus, minHashBandIndex(shB, threshold, k), shB,
      textCol, idCol, threshold, n, k, tok)
  }

  /** [[removeContaminatedFuzzy]] probing a PERSISTED benchmark index: the
    * benchmark arrives as its stored (id, sz, band, band_key) band index
    * and (id, sh) shingle index ([[minHashBandIndex]]/[[shingleIndex]]
    * round-tripped through parquet or a warehouse table) — benchmark
    * suites change rarely and are shared across every corpus run, so the
    * shingle/minhash build is paid once per benchmark version, not per
    * decontamination pass. `threshold`/`k`/`n` MUST match the index build
    * (band geometry and shingle width are baked into the stored rows).
    * Result is identical to the recompute path (spec-proven). */
  def removeContaminatedFuzzyIndexed(corpus: DataFrame,
      benchBands: DataFrame, benchShingles: DataFrame,
      textCol: String, idCol: String, threshold: Double = 0.8,
      n: Int = 3, k: Int = 128, tok: Tok = Tok.Latin): DataFrame =
    removeFuzzyFrom(corpus, benchBands, benchShingles,
      textCol, idCol, threshold, n, k, tok)

  /** Shared fuzzy-decontamination core: a one-sided band probe of the
    * corpus against a benchmark given as (band index, shingle index) —
    * computed fresh by [[removeContaminatedFuzzy]], read from storage by
    * [[removeContaminatedFuzzyIndexed]]. */
  private def removeFuzzyFrom(corpus: DataFrame, benchBands: DataFrame,
      shB: DataFrame, textCol: String, idCol: String, threshold: Double,
      n: Int, k: Int, tok: Tok = Tok.Latin): DataFrame = {
    val (rr, b) = minHashBands(threshold, k)
    // the corpus shingle index is read twice (band rows + exact verify);
    // materializing also cuts the CORPUS lineage — a pipeline hands in a
    // multi-stage computed frame here, not a bare scan
    val shC = materialize(shingleIndex(corpus, textCol, idCol, n, tok))
    val cand = probeJoin(minHashBandRows(shC, k, rr, b),
        withSz(benchBands, shB), Seq("band", "band_key"), oneSided = false,
        lengthFilter(threshold))
      .dropDuplicates("id_a", "id_b")
    val contaminated =
      verifyJaccard(cand, hashShingles(shC), threshold, Some(hashShingles(shB)))
        .select(col("id_a").as(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Drop every corpus document that shares an n-gram with the benchmark
    * ([[contaminationHits]]). */
  def removeContaminated(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 3, tok: Tok = Tok.Latin): DataFrame =
    withoutHits(corpus,
      contaminationHits(corpus, benchmark, textCol, idCol, n, tok), idCol)

  /** `corpus` without the documents `hits` names: a left-anti join on the
    * hit ids (`hits` is [[contaminationHits]] or [[contaminationHitsBloom]]
    * over `corpus`). */
  private def withoutHits(corpus: DataFrame, hits: DataFrame, idCol: String): DataFrame =
    corpus.join(hits.select(col("corpus_id").as(idCol)), Seq(idCol), "left_anti")

  /** [[contaminationHits]] with a BLOOM prefilter on the corpus side —
    * identical results (the exact confirm join removes bloom false
    * positives), different 100 TB shape.
    *
    * Why: the exact path shuffles EVERY corpus shingle hash into the
    * equi-join unless the planner broadcasts the benchmark side, and a
    * benchmark suite of tens of millions of distinct 8-grams is too big
    * for a broadcast HASH RELATION (~16–32 bytes/key of map overhead)
    * while its bloom at `fpp` is ~10–20× smaller (`-n·ln p/ln²2` bits ≈
    * 1.2 B/key at 0.001). So: build the bloom over the benchmark's
    * distinct shingle hashes once (one tiny aggregate — Spark's own
    * BloomFilterAggregate/BloomFilterMightContain runtime-filter pair),
    * probe it INSIDE the corpus scan stage (a codegen'd predicate — no
    * exchange), and only the ~fpp-sized surviving sliver of (hash, id)
    * rows reaches the exact confirm join. At 100 TB the corpus-side
    * shuffle goes from "all shingles" to "true hits + fpp noise".
    *
    * The confirm join keeps the output EXACTLY equal to
    * [[contaminationHits]] for any fpp — fpp trades prefilter
    * selectivity, never correctness (DedupSpec pins parity at fpp=0.5). */
  def contaminationHitsBloom(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 3,
      fpp: Double = 0.001, tok: Tok = Tok.Latin): DataFrame = {
    // Benchmark hashes feed the bloom build AND the confirm join:
    // materialize once (benchmarks are small; this is the cheap side).
    val bench = materialize(
      shingleSets(benchmark, textCol, idCol, n, tok)
        .select(col("id").as("bench_id"), explode(col("shingles")).as("_sh"))
        .select(col("bench_id"), xxhash64(col("_sh")).as("_h")))
    val distinctH = bench.select(col("_h")).distinct()
    val nItems = distinctH.count()
    if (nItems == 0L) {
      // Empty benchmark: no document can be contaminated. (Also the one
      // case BloomFilterAggregate yields NULL instead of a bloom.) The
      // empty frame carries the NON-empty path's schema — corpus_id in
      // the corpus id column's actual type — so output schema never
      // depends on the benchmark's row count (a long-hardcoded corpus_id
      // broke downstream unions for non-long id columns).
      return corpus.sparkSession.emptyDataFrame
        .withColumn("corpus_id", lit(null).cast(corpus.schema(idCol).dataType))
        .withColumn("n_benchmark_hits", lit(null).cast("long"))
    }
    val bloom = distinctH
      .agg(GraftFunctions.bloomAgg(col("_h"), nItems, fpp).as("_bf"))
      .head().getAs[Array[Byte]]("_bf")
    shingleSets(corpus, textCol, idCol, n, tok)
      .select(col("id").as("corpus_id"), explode(col("shingles")).as("_sh"))
      .select(col("corpus_id"), xxhash64(col("_sh")).as("_h"))
      .where(GraftFunctions.bloomMightContain(bloom, col("_h")))
      .join(bench, Seq("_h")) // exact confirm: false positives drop here
      .select("corpus_id", "bench_id").distinct()
      .groupBy(col("corpus_id")).agg(count(lit(1)).as("n_benchmark_hits"))
  }

  /** [[removeContaminated]] via the bloom-prefiltered hit detector —
    * identical survivors, corpus-side-narrow plan. */
  def removeContaminatedBloom(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 3,
      fpp: Double = 0.001, tok: Tok = Tok.Latin): DataFrame =
    withoutHits(corpus,
      contaminationHitsBloom(corpus, benchmark, textCol, idCol, n, fpp, tok), idCol)

  // ─── MEDIA decontamination (perceptual benchmark probe) ───────────────

  /** MEDIA decontamination hits — the perceptual sibling of
    * [[contaminationHits]]: eval-set images/audio/clips leak into
    * training corpora exactly like eval text does, so the corpus's media
    * payloads probe a FROZEN benchmark hash index with the same
    * dHash/envelope/frame-hash + Hamming-band machinery the media dedup
    * rungs band with. Returns (corpus_id, n_benchmark_hits): one row per
    * corpus item whose payload near-duplicates (Hamming ≤ `maxHamming`;
    * video: the matched-frame gate at `minMatchFrac`, `alignFrames =
    * false` for the trim-robust SET probe) at least one benchmark item.
    *
    * `benchmarkHashes` is the PERSISTED index — the (id, sh) frame
    * [[imageHashFrame]]/[[audioHashFrame]] builds, or the (id, fpos, sh
    * [, every_n]) frame [[videoFrameHashFrame]] builds — round-tripped
    * through parquet/a warehouse table; benchmark suites change rarely,
    * so the decode is paid once per benchmark version, not per pass (the
    * removeContaminatedFuzzyIndexed shape). Id spaces may overlap (the
    * sides never union; a benchmark drawn from the corpus is the common
    * fixture). No CC anywhere: "touching the benchmark is fatal" needs
    * no transitivity. Undecodable corpus payloads carry no hash and are
    * never flagged.
    *
    * Scale shape: the corpus decodes once behind the hash frame's pinned
    * repartition, then the probe joins |corpus|·(maxHamming+1) chunk
    * rows against the index's chunk projection — bare longs both sides,
    * the benchmark side a scan of one long per item (per frame for
    * video). */
  def mediaContaminationHits(corpus: DataFrame, benchmarkHashes: DataFrame,
      idCol: String, typeCol: String, binaryCol: String, kind: String,
      maxHamming: Int, everyN: Int = 2, minMatchFrac: Double = 0.6,
      alignFrames: Boolean = true,
      corpusHashes: Option[DataFrame] = None): DataFrame = {
    // `corpusHashes` = the caller's ALREADY-COMPUTED hash frame for the
    // same payloads at the same rate (the streaming per-batch flow,
    // which decodes once and probes dedup + decon with one frame) — may
    // cover a SUPERSET of the corpus ids (hits on absent ids are inert
    // in the caller's anti-join); when absent, decode here.
    val (cH, bH, _, gate) = mediaProbeSides("mediaContaminationHits", kind,
      corpus, idCol, typeCol, binaryCol, everyN, minMatchFrac, corpusHashes,
      benchmarkHashes)
    val pairs = hammingProbe(hammingChunks(cH, Seq("sh"), maxHamming),
      hammingChunks(bH, Seq("sh"), maxHamming), maxHamming,
      gate.map(_ => alignFrames), oneSided = false)(None)
    gate.fold(pairs)(_(pairs, frameCounts(cH), frameCounts(bH)))
      .groupBy(col("id_a").as("corpus_id"))
      .agg(count(lit(1)).as("n_benchmark_hits"))
  }

  /** Drop every corpus item flagged by [[mediaContaminationHits]] against
    * a PERSISTED benchmark hash index (left-anti; the rest of the corpus
    * passes untouched, undecodable payloads always survive). */
  def removeContaminatedMediaIndexed(corpus: DataFrame,
      benchmarkHashes: DataFrame, idCol: String, typeCol: String,
      binaryCol: String, kind: String, maxHamming: Int, everyN: Int = 2,
      minMatchFrac: Double = 0.6, alignFrames: Boolean = true,
      corpusHashes: Option[DataFrame] = None): DataFrame =
    corpus.join(
      mediaContaminationHits(corpus, benchmarkHashes, idCol, typeCol,
        binaryCol, kind, maxHamming, everyN, minMatchFrac, alignFrames,
        corpusHashes)
        .select(col("corpus_id").as(idCol)),
      Seq(idCol), "left_anti")

  // ─── Semantic (embedding-space) deduplication — SemDeDup ──────────────

  /** Within-cluster duplicate pairs for SEMANTIC dedup (SemDeDup, Abbas
    * et al. 2023, arXiv:2303.09540): assign each embedding to its
    * `assignKeep` nearest centroids (narrow literal projection for
    * k ≤ 64, one-row broadcast codebook above — [[Similarity
    * .assignListsAuto]], the IVF assignment), then enumerate exact
    * cosine-≥-threshold pairs ONLY within a shared cluster. The
    * quadratic term is bounded per cluster — k is chosen so
    * |corpus|/k fits a partition (the paper's 100× pruning trick vs
    * all-pairs), and candidates never cross clusters, so the only wide
    * stage is the self-join shuffle on the cluster id. `assignKeep > 1`
    * is the boundary-recall knob (IVF multi-probe shape): a duplicate
    * pair straddling a centroid boundary meets in the second-nearest
    * list at the cost of `assignKeep`× assignment rows.
    *
    * 100 TB shape: assignment is a narrow codegen'd scan (no shuffle);
    * the pair join shuffles (id, vec) rows hash-partitioned on cluster;
    * with k ≈ N/10⁴ clusters the per-partition work is ~10⁸ kernel dot
    * products — sized like the verify stage of the MinHash family. Skewed
    * (over-popular) clusters — one runaway centroid concentrating
    * quadratic work in a single task — are bounded by `maxClusterSize`:
    * a list with n > maxClusterSize members is block-split into
    * m = ⌈n/maxClusterSize⌉ deterministic hash-chunks and its self-join
    * becomes the m(m+1)/2 chunk-pair blocks of a block-nested-loop join
    * (the key grows from `list` to `(list, chunk_a, chunk_b)`), so no
    * task ever holds more than ~maxClusterSize² candidate pairs. The
    * split is EXACT — every within-list pair lands in exactly one block
    * (ordered pair for same-chunk blocks, the (min,max)-chunk block
    * otherwise) — total work is unchanged, only its distribution.
    * Lists at or under the cap keep the single (list, 0, 0) block, i.e.
    * the plan the paper's |corpus|/k sizing already yields.
    *
    * Output: (id_a, id_b, cosine), id_a < id_b, distinct pairs. */
  def semanticDupPairs(df: DataFrame, vecCol: String, idCol: String,
      centroids: Array[(Int, Array[Float])], threshold: Double,
      assignKeep: Int = 1, maxClusterSize: Int = 20000): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val assigned0 = Similarity.assignListsAuto(
        df, vecCol, idCol, centroids, "id", "vec", assignKeep)
    // Disk guard (round 14): the within-list all-pairs mass Σ_l C(n_l,2)
    // has exactly the candidate geometry the minhash guard prices —
    // maxClusterSize SPREADS it over blocks but does not SHRINK it. The
    // assignment is materialized once: the guard's count reads the
    // checkpoint, the per-list aggregate (only above the rows floor)
    // reads the checkpoint, and the a/b block sides + the per-list size
    // broadcast reuse it instead of re-running the codegen'd assignment
    // scan per consumer.
    // The guard's count is a tally the assignment checkpoint runs
    // (round 17) — one driver action, not checkpoint+count.
    val (assigned, nAssigned) = materializeCounted(assigned0)
    val dim = centroids.headOption.map(_._2.length).getOrElse(0)
    val (k, _, _) = bandPlan("semanticDupPairs", assigned, Seq("list"),
      nAssigned,
      payloadBytes = 2.0 * dim * 8,
      remedies = "project the vectors first (projectTo / " +
        "Similarity.randomProject - the JL rung cuts the verify " +
        "payload by in-dim/out-dim), train more/finer centroids " +
        "(smaller lists shrink the within-list mass quadratically), " +
        "or dedup per source/domain group",
      maxGroups = 256)
    if (k <= 1) semanticPairsOn(assigned, maxClusterSize, threshold,
      assignKeep, None)
    else semanticPairsStaged(assigned, maxClusterSize, threshold,
      assignKeep, k)
  }

  /** The ONE within-list pair construction [[semanticDupPairs]]'s
    * single-pass and staged plans share, over a materialized
    * (list, id, vec) assignment frame.
    *
    * Same-chunk blocks order by id (each unordered pair joined twice);
    * cross-chunk blocks already hold each unordered pair exactly once
    * (the pair meets only in its (min-chunk, max-chunk) block), so the
    * id filter must NOT apply — canonical order is restored after the
    * cosine cut via least/greatest (cosine is symmetric). */
  private[graft] def semanticPairsOn(sub: DataFrame, maxClusterSize: Int,
      threshold: Double, assignKeep: Int,
      prior: Option[DataFrame]): DataFrame = {
    val raw = semanticPairBlocks(sub, maxClusterSize)
      .where(col("_ca") =!= col("_cb") || col("id_a") < col("id_b"))
      .withColumn("cosine",
        GraftFunctions.cosineSim(col("vec_a"), col("vec_b")))
      .where(col("cosine") >= threshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("cosine"))
    // A pair sharing ≥ 2 lists under multi-assign appears once per
    // list; the single-assign path cannot duplicate, so skip the
    // extra shuffle. Under staging the lists may land in DIFFERENT
    // groups — the cross-group anti-join (prior) covers that split.
    val dd =
      if (assignKeep > 1) raw.dropDuplicates("id_a", "id_b") else raw
    prior.fold(dd)(p => dd.join(p, Seq("id_a", "id_b"), "left_anti"))
  }

  /** [[semanticDupPairs]]'s staged form: lists are INDEPENDENT
    * (candidates never cross lists), so hash-partitioning the list axis
    * into k sequential groups is exact — each group's within-list
    * blocks run the single-pass construction over its lists only, and
    * the cross-group anti-join covers multi-assign pairs whose shared
    * lists straddle a group boundary. */
  private[graft] def semanticPairsStaged(assigned: DataFrame,
      maxClusterSize: Int, threshold: Double, assignKeep: Int,
      kGroups: Int): DataFrame =
    stagedPairUnion(assigned.sparkSession, kGroups, Seq("id_a", "id_b"),
      (g, prior) => semanticPairsOn(
        assigned.where(
          pmod(xxhash64(col("list")), lit(kGroups.toLong)) === lit(g.toLong)),
        maxClusterSize, threshold, assignKeep, prior))

  /** The skew-bounded candidate blocks of [[semanticDupPairs]]: every
    * within-list (id_a, id_b) candidate row tagged with its block key
    * `(list, _ca, _cb)`, _ca ≤ _cb. Per-list membership counts size the
    * chunk count m = ⌈n/maxClusterSize⌉ (one tiny broadcast — ≤ one row
    * per centroid); members chunk by `xxhash64(id) mod m` (deterministic
    * across runs and engines); the a-side replicates to blocks
    * (_c, _c..m-1), the b-side to (0.._c, _c), so chunk pair (x ≤ y)
    * exists exactly once and the equi-join shuffles on the full block
    * key — an oversized list's quadratic work spreads over m(m+1)/2
    * independent tasks instead of one. The join plans its own exchange
    * on the block key (no explicit repartition: AQE then broadcasts a
    * small side at toy scale and skew-splits residual hot blocks at
    * cluster scale). Exposed private[graft] so specs can pin the
    * per-block volume bound directly. */
  private[graft] def semanticPairBlocks(assigned: DataFrame,
      maxClusterSize: Int): DataFrame = {
    require(maxClusterSize > 0, s"maxClusterSize must be > 0: $maxClusterSize")
    val chunks = assigned
      .groupBy("list").agg(count(lit(1)).as("_n"))
      .withColumn("_m",
        ceil(col("_n") / lit(maxClusterSize.toDouble)).cast("int"))
      .select("list", "_m")
    val chunked = assigned.join(broadcast(chunks), Seq("list"))
      .withColumn("_c",
        pmod(xxhash64(col("id")), col("_m").cast("long")).cast("int"))
    val a = chunked
      .withColumn("_cb", explode(sequence(col("_c"), col("_m") - lit(1))))
      .select(col("list"), col("_c").as("_ca"), col("_cb"),
        col("id").as("id_a"), col("vec").as("vec_a"))
    val b = chunked
      .withColumn("_ca", explode(sequence(lit(0), col("_c"))))
      .select(col("list"), col("_ca"), col("_c").as("_cb"),
        col("id").as("id_b"), col("vec").as("vec_b"))
    a.join(b, Seq("list", "_ca", "_cb"))
  }

  /** SemDeDup REMOVAL: cluster the duplicate pairs ([[resolveClusters]])
    * and keep, per duplicate group, the member FARTHEST from its primary
    * centroid — the paper's keep-the-outlier rule (lowest centroid
    * cosine; prototypical members carry the least marginal information),
    * ties broken by id. Everything outside a duplicate group passes
    * through untouched (left-anti on loser ids).
    *
    * The survivor ranking re-derives each clustered member's primary
    * (nearest-centroid) cosine with a second narrow assignment pass —
    * recomputing a codegen'd projection is cheaper at scale than
    * materializing (id, vec, score) through the pair join; the rank
    * window shuffles only the clustered ids (a vanishing fraction of the
    * corpus). */
  def removeSemanticDuplicates(df: DataFrame, vecCol: String, idCol: String,
      centroids: Array[(Int, Array[Float])], threshold: Double,
      assignKeep: Int = 1, maxClusterSize: Int = 20000,
      projectTo: Option[Int] = None): DataFrame = projectTo match {
    case Some(outDim) =>
      // SemDeDup in JL-projected space, one flag: vectors project through
      // the codegen'd kernel, the centroid codebook projects driver-side
      // through the SAME integer fold ([[Similarity.projectCentroids]]) so
      // assignment, within-cluster cosine, and the keep-the-outlier rank
      // all live in one consistent space. The 1536→64 configuration cuts
      // every downstream distance ~24×.
      require(!df.columns.contains("_jl_vec"),
        "removeSemanticDuplicates: input already has a '_jl_vec' column - " +
          "the projection stages its vectors there; rename yours")
      val inDim = centroids.headOption.map(_._2.length).getOrElse(0)
      require(inDim > 0, "removeSemanticDuplicates: empty centroid codebook")
      require(outDim <= inDim,
        s"projectTo=$outDim exceeds the centroid dimension $inDim")
      Similarity.randomProjectDouble(df, vecCol, "_jl_vec", inDim, outDim)
        .transform(p => removeSemanticDuplicates(p, "_jl_vec", idCol,
          Similarity.projectCentroids(centroids, outDim), threshold,
          assignKeep, maxClusterSize, None))
        .drop("_jl_vec")
    case None =>
      removeSemanticByLabels(df, vecCol, idCol, centroids,
        resolveClusters(
          semanticDupPairs(df, vecCol, idCol, centroids, threshold, assignKeep,
            maxClusterSize)))
  }

  /** [[removeSemanticDuplicates]]'s resolution tail over ALREADY-RESOLVED
    * cluster labels: keep-the-outlier rank (lowest primary-centroid
    * cosine, ties by id) per group, anti-join the losers. Factored out so
    * a caller that has the labels in hand (e.g. a diagnostic query that
    * reports pair/group counts AND survivors) applies the rule without
    * re-running the pair detect + CC a second time — the exact code path
    * the composed form runs, so survivors are identical by construction. */
  private[graft] def removeSemanticByLabels(df: DataFrame, vecCol: String,
      idCol: String, centroids: Array[(Int, Array[Float])],
      labels: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val centDf = centroids.toSeq.toDF("list", "cent")
    val scored = Similarity.assignListsAuto(
        df, vecCol, idCol, centroids, "id", "vec", keep = 1)
      .join(broadcast(centDf), Seq("list"))
      .select(col("id"),
        GraftFunctions.cosineSim(col("vec"), col("cent")).as("cent_cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label"))
      .orderBy(col("cent_cos").asc, col("id").asc)
    val losers = labels.join(scored, Seq("id"))
      .withColumn("_rk", row_number().over(w))
      .where(col("_rk") > 1)
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }
}
