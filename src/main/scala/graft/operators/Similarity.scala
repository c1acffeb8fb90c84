package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`) — north-star
  * mandate: brute-force cosine top-k as the exact baseline, sign-LSH
  * (random hyperplane, Charikar 2002) bucketing as the scale path.
  *
  * The similarity math runs as native codegen'd kernels
  * ([[graft.functions.CosineSim]] / [[graft.functions.SignSignature]]);
  * the equivalent `zip_with`/`aggregate` Column forms are kept here as
  * the reference semantics (parity pinned by SimilaritySpec). No UDFs,
  * no driver-side loops.
  */
object Similarity {

  /** Cast a float vector to doubles (stable arithmetic + exact fold). */
  private def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product of two equal-length vectors (left fold, deterministic
    * order). */
  def dotCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def normCol(a: Column): Column = sqrt(dotCol(a, a))

  /** Cosine similarity of two float vectors (zero-vector-safe) — the
    * pure-Column reference form. The operators below use the native
    * [[graft.functions.CosineSim]] kernel, which computes the identical
    * left-fold arithmetic inside whole-stage codegen (parity pinned by
    * SimilaritySpec). */
  def cosineCol(a: Column, b: Column): Column = {
    val ad = asDouble(a)
    val bd = asDouble(b)
    dotCol(ad, bd) / greatest(normCol(ad) * normCol(bd), lit(1e-12))
  }

  /** Exact brute-force cosine top-k: every probe scored against the whole
    * corpus, per-probe ranking via window. The probe set is broadcast, so
    * the corpus scan is a single narrow pass — the right baseline shape
    * when |probes| ≪ |corpus| (the corpus never shuffles; the only
    * shuffle is the per-probe ranking, sized |probes| × |corpus| rows
    * pruned to (id, score) pairs, further cut by a per-partition
    * local top-k before the exchange). */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, vecCol: String,
      idCol: String, k: Int = 10): DataFrame =
    rankedCosineTopK(corpus, probes, vecCol, idCol, k, exclude = None)

  /** Shared plan builder for [[bruteForceTopK]] and [[hardNegatives]]:
    * broadcast probes × repartitioned corpus scan, optional (q_id, c_id)
    * exclusion anti-join BEFORE the ranking window, per-probe top-k. One
    * builder so the two public forms cannot drift on the repartition
    * shape or the tie-break. */
  private def rankedCosineTopK(corpus: DataFrame, probes: DataFrame,
      vecCol: String, idCol: String, k: Int,
      exclude: Option[DataFrame]): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val p = probes.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    // Repartition the corpus scan: cosine scoring must parallelize even
    // when the corpus is a single parquet file.
    val c = corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
      .repartition(Dedup.cpuParallelism(corpus), col("c_id"))
    val joined = c.join(broadcast(p), col("q_id") =!= col("c_id"))
    val kept = exclude.fold(joined)(e =>
      joined.join(broadcast(e.toDF("q_id", "c_id")), Seq("q_id", "c_id"), "left_anti"))
    val scored = kept.select(col("q_id"), col("c_id"),
      graft.functions.GraftFunctions.cosineSim(col("q_vec"), col("c_vec")).as("cosine"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** HARD-NEGATIVE mining for embedding-model training (the DPR-style
    * curation step): for each query vector, the k most cosine-similar
    * corpus vectors EXCLUDING the query itself and its known positives —
    * exactly the near-misses a contrastive loss learns the most from.
    * `positives` is a two-column (query id, positive id) frame; any
    * (query, corpus) pair present there is excluded BEFORE ranking, so
    * the output always carries k true negatives per query (never k−|pos|
    * after a post-hoc filter).
    *
    * Plan shape = [[bruteForceTopK]] with one extra anti-join: probes
    * AND the positive pair list broadcast (both are training-sample-
    * sized, not corpus-sized), the corpus scans once and never shuffles;
    * the only exchange ranks (q_id, c_id, cosine) triples already cut by
    * a per-partition local top-k. For corpus-scale query sets, compose
    * the same exclusion anti-join onto [[ivfTopKWith]]/[[ivfPqTopKWith]]
    * output instead (fetch k + max-positives-per-query and re-rank). */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
      positives: DataFrame, vecCol: String, idCol: String,
      k: Int = 10): DataFrame =
    rankedCosineTopK(corpus, queries, vecCol, idCol, k,
      exclude = Some(positives))

  /** [[hardNegatives]] over the IVF index — the corpus-scale form the
    * brute-force scaladoc points at: fetch the top (k + m) candidates
    * per query from [[ivfTopKWith]] (m = the LARGEST positive count any
    * query carries, derived from `positives` with one sample-sized
    * aggregate), anti-join the positives out, re-rank, keep k. The
    * over-fetch is what makes the exclusion sound: at most m positives
    * can occupy any ranking prefix, so k true negatives always survive
    * — never the k−|pos| a bare post-filter of a k-list would return.
    *
    * Exactness contract: with `nProbe = centroids.length` (every list
    * probed) the candidate set is complete and the result EQUALS
    * [[hardNegatives]] (spec-pinned); at production nProbe it inherits
    * IVF's recall curve — the candidates are exact cosines, only
    * coverage is approximate. Plan shape = the IVF probe (broadcast
    * probes/centroids, corpus never shuffles) + one broadcast anti-join
    * + the per-query ranking window. */
  def hardNegativesIvf(corpus: DataFrame, queries: DataFrame,
      positives: DataFrame, vecCol: String, idCol: String,
      centroids: Array[(Int, Array[Float])], k: Int = 10,
      nProbe: Int = 4, corpusSpill: Int = 2): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val pos = positives.toDF("q_id", "c_id")
    val fetched = ivfTopKWith(corpus, queries, vecCol, idCol, centroids,
      k = k + maxPositives(pos), nProbe = nProbe, corpusSpill = corpusSpill)
    excludeAndRerank(fetched, pos, k)
  }

  /** [[hardNegatives]] over a PERSISTED IVF×PQ index — the
    * build-once/probe-per-batch form a daily mining job runs: the
    * (list, c_id, codes) artifact is built once per corpus version
    * ([[buildIvfPqIndex]], parquet round-trip safe) and every mining
    * batch probes it via [[ivfPqTopKIndexed]]; the corpus vectors are
    * never re-read. Same over-fetch soundness as [[hardNegativesIvf]]
    * (fetch k + max-positives, anti-join, re-rank, keep k — the shared
    * [[excludeAndRerank]] tail, so the forms cannot drift).
    *
    * Exactness contract: with `nProbe = coarse.length` the candidate
    * set is complete, so the result is the PQ-reconstruction hard-
    * negative ground truth (rank by asymmetric cosine against decoded
    * codes) — the oracle restates exactly that from the same frozen
    * codebooks; at production nProbe it inherits IVF's recall curve. */
  def hardNegativesIvfPqIndexed(index: DataFrame, queries: DataFrame,
      positives: DataFrame, vecCol: String, idCol: String,
      coarse: Array[(Int, Array[Float])], idx: PqIndex, k: Int = 10,
      nProbe: Int = 4): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val pos = positives.toDF("q_id", "c_id")
    val fetched = ivfPqTopKIndexed(index, queries, vecCol, idCol, coarse,
      idx, k = k + maxPositives(pos), nProbe = nProbe)
    excludeAndRerank(fetched, pos, k)
  }

  /** Largest positive count any query carries — the over-fetch margin
    * that makes exclusion sound (at most this many positives can occupy
    * any ranking prefix). One sample-sized aggregate. */
  private def maxPositives(pos: DataFrame): Int =
    pos.groupBy(col("q_id")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).first() match {
      case r if r.isNullAt(0) => 0
      case r                  => r.getLong(0).toInt
    }

  /** Shared exclusion tail of the index-probing hard-negative forms:
    * anti-join the broadcast (q_id, c_id) positive pairs out of an
    * over-fetched (q_id, c_id, cosine, rank) candidate frame, re-rank,
    * keep k. */
  private def excludeAndRerank(fetched: DataFrame, pos: DataFrame,
      k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id"))
    fetched.drop("rank")
      .join(broadcast(pos), Seq("q_id", "c_id"), "left_anti")
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  // ── sign-LSH (random hyperplane) scale path ──────────────────────────

  /** Pack sign bits of plane dot products into a long signature. Cosine-
    * similar vectors agree on most sign bits (P[bit agree] = 1 − θ/π).
    * Pure-Column reference form of [[graft.functions.SignSignature]]
    * (parity pinned by SimilaritySpec); the operators use the kernel. */
  def signSignature(v: Column, nPlanes: Int, seed: Int = 42): Column = {
    graft.functions.GraftFunctions.signSignature(v, nPlanes, seed)
  }

  /** (bitsPerBand, nBands) for banded sign-LSH, derived from the cosine
    * threshold — the MinHash band trick applied to hyperplane sign bits.
    *
    * A pair at exactly `threshold` agrees on each sign bit with
    * p₁ = 1 − arccos(τ)/π, collides in one r-bit band with p₁ʳ, and is
    * missed by all b bands with (1 − p₁ʳ)ᵇ — so b is the smallest count
    * driving that below 1 − recallTarget, and r is the LARGEST width whose
    * b fits the plane budget (wider bands ⇒ exponentially fewer false
    * candidates from the uncorrelated bulk, which collides per band at
    * ~2⁻ʳ; that selectivity is what keeps candidate volume sub-quadratic
    * at 100 TB). Honesty at low thresholds: recall-feasible bandings exist
    * down to tiny τ, but expected background collisions per uncorrelated
    * pair (≈ b·2⁻ʳ) rise toward — and past — 1 as τ falls (the
    * hyperplane-LSH exponent ρ = ln p₁ / ln ½ approaching 1): at τ ≲ 0.3
    * LSH prunes little over all-pairs. That is a property of the angle
    * geometry, not this implementation; dedup workloads live at τ ≥ 0.8,
    * where b·2⁻ʳ ≈ 10⁻⁴. */
  def signBands(threshold: Double, recallTarget: Double = 0.999,
      maxPlanes: Int = 4096): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0,
      s"signBands: threshold must be in (0,1), got $threshold")
    require(recallTarget > 0.0 && recallTarget < 1.0,
      s"signBands: recallTarget must be in (0,1), got $recallTarget")
    val p1 = 1.0 - math.acos(threshold) / math.Pi
    val feasible = (4 to 48).flatMap { r =>
      val pr = math.pow(p1, r)
      val b = math.max(1L, math.ceil(math.log1p(-recallTarget) / math.log1p(-pr)).toLong)
      if (b * r <= maxPlanes) Some((r, b.toInt)) else None
    }
    require(feasible.nonEmpty,
      s"signBands: cosine threshold $threshold is below the sign-LSH-prunable " +
        s"regime for a $maxPlanes-plane budget (hyperplane LSH cannot separate " +
        "moderate-angle pairs cheaply); use cosinePairsExact")
    feasible.maxBy(_._1)
  }

  /** Near-duplicate pairs by cosine ≥ threshold: banded sign-LSH candidate
    * generation (b independent r-bit signatures, r/b derived from the
    * threshold by [[signBands]]), then exact cosine verification. A pair is
    * a candidate when ANY band's full r-bit signature matches — an
    * equi-join on (band, band_key): hash-partitioned, never all-pairs.
    * Candidates travel as bare ID pairs; vectors re-join per side for the
    * verify, so the arrays never ride the bucket shuffle. Every emitted
    * pair is exact-verified; recall at the threshold is ≥ recallTarget by
    * the band calculus (and complete on the test corpus, pinned by
    * SimilaritySpec against [[cosinePairsExact]]). */
  def cosinePairs(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, recallTarget: Double = 0.999, seed: Int = 42): DataFrame =
    cosinePairsImpl(df, vecCol, idCol, threshold, recallTarget, seed, None)

  /** [[cosinePairs]] body with the staging decision injectable
    * (`forceGroups` — specs pin staged ≡ single-pass on fixtures far
    * below the guard's rows floor). */
  private[graft] def cosinePairsImpl(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, recallTarget: Double, seed: Int,
      forceGroups: Option[Int], forcePilotCalib: Boolean = false): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val (r, b) = signBands(threshold, recallTarget)
    // Keyed repartition before the signature stage: parallelism must not
    // depend on the input's file count. Materialized (round 14): the
    // band join's two sides, the two verify payload joins, and the disk
    // guard's count/aggregate all read the checkpoint instead of
    // re-running the upstream scan per consumer.
    val vecs = Dedup.materialize(
      df.select(col(idCol).as("id"), col(vecCol).as("vec"))
        .repartition(Dedup.cpuParallelism(df), col("id")))
    // One r-plane signature per band, independent planes via the seed —
    // no bit-slicing of a shared signature (slices of one signature are
    // what the round-2 fixed 4×4 chunking did; independent bands make the
    // (1 − p₁ʳ)ᵇ recall bound exact). `bandIdx` = which of the b global
    // band indices this construction runs (all of them single-pass; a
    // contiguous group under staging — the posexplode position is
    // group-relative, which is fine: band identity only disambiguates
    // buckets WITHIN one construction, and both join sides share it).
    def bandedFor(bandIdx: Seq[Int]): DataFrame = vecs.select(col("id"),
      posexplode(array(bandIdx.map(j =>
        graft.functions.GraftFunctions.signSignature(col("vec"), r, seed + j)): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")
    // Disk guard (round 14, staged round 14b): the sign-LSH band join
    // has the minhash detector's candidate geometry with no prefilter —
    // price the collision mass against local shuffle storage before
    // running it, and stage the band axis into sequential groups when
    // the single pass would not fit (the detect's bounded-disk plan:
    // pairs identical, peak spill divided by the group count). The mass
    // aggregate re-runs the narrow signature projection once over the
    // checkpoint.
    val nVecs = vecs.count()
    val (k, est, usable) = forceGroups match {
      case Some(f) => (f, 0.0, 0L)
      case None if nVecs < Dedup.BandGuardMinRows => (1, 0.0, 0L)
      case None =>
        val dim = vecs.limit(1).collect().headOption
          .map(_.getSeq[Any](1).length).getOrElse(0)
        Dedup.bandPlan("cosinePairs", bandedFor(0 until b),
          Seq("band", "band_key"), nVecs, payloadBytes = 2.0 * dim * 8,
          remedies = "project the vectors first (randomProject - the JL " +
            "rung cuts the verify payload by in-dim/out-dim), raise the " +
            "threshold or recallTarget's band count, or assign to coarse " +
            "lists (IVF) and dedup per list",
          maxGroups = b)
    }
    // The staged unit is the verified pair; the prior-pairs anti-join
    // sits on the bare ID candidates BEFORE the two payload joins (the
    // minhash detect's placement — re-verifying a known pair would pay
    // the vector joins again).
    def pairsOn(bandIdx: Seq[Int], prior: Option[DataFrame]): DataFrame = {
      val banded = bandedFor(bandIdx)
      val cand0 = banded.as("a")
        .join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .dropDuplicates("id_a", "id_b")
      val cand = prior.fold(cand0)(p =>
        cand0.join(p, Seq("id_a", "id_b"), "left_anti"))
      cand
        .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
        .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
        .withColumn("cosine", graft.functions.GraftFunctions.cosineSim(col("vec_a"), col("vec_b")))
        .where(col("cosine") >= threshold)
        .select(col("id_a"), col("id_b"), col("cosine"))
    }
    if (k <= 1) pairsOn(0 until b, None)
    else {
      val spark = df.sparkSession
      val groups0 = Dedup.stagingGroups(b, k)
      // PILOT-CALIBRATED staging (round-15 verdict item 5): the guard's
      // payload model is deliberately pessimistic — the measured cosine
      // A/B projected 259 GB where the single pass fit well under 83 GB
      // and AUTO paid ×1.74 wall for staging that corpus did not need.
      // So AUTO runs the FIRST group alone as a pilot, measures its real
      // peak spill, and re-chunks the remaining bands with the measured
      // bytes-per-candidate (clamped + ×1.5 safety — pessimism stays the
      // tie-break; see Dedup.pilotCalibratedChunks). `forceGroups`
      // bypasses (the A/B spec seam); forcePilotCalib forces the
      // composition on fixtures below the guard floor.
      val calibrate = forcePilotCalib || (forceGroups.isEmpty &&
        spark.conf.get("spark.graft.bandguard.calibratePilot", "true").toBoolean)
      if (!calibrate)
        Dedup.stagedPairUnion(spark, groups0.length,
          Seq("id_a", "id_b"), (g, prior) => pairsOn(groups0(g), prior))
      else {
        // DEDICATED SMALL PILOT (round 16 follow-up): measuring
        // bytes-per-candidate needs a REPRESENTATIVE slice of the band
        // axis, not a full est/k group — sign-LSH bands are independent
        // identically-distributed constructions, so ~b/32 bands (≥ 2)
        // price the payload exactly as well as 26 would, while the rest
        // group then covers ~97% of the axis at single-pass cost. The
        // instrumented A/B measured the group-sized pilot at 14.9 s of
        // a 107 s run whose whole point was NOT paying staging overhead
        // on a fitting corpus.
        val pilotN = math.min(groups0.head.length,
          math.max(2, math.ceil(b / 32.0).toInt))
        System.err.println(
          s"[graft] INFO cosinePairs: pilot-calibrated staging - running " +
            s"a $pilotN-band pilot (of $b bands) to measure real " +
            "bytes-per-candidate")
        val tPilot0 = System.nanoTime()
        val (pilot, peak) = Dedup.withSpillSampler(spark) {
          val p = Dedup.materialize(pairsOn(0 until pilotN, None))
          p.count(); p
        }
        val tPilot = (System.nanoTime() - tPilot0) / 1e9
        val tRel0 = System.nanoTime()
        Dedup.awaitShuffleRelease(spark)
        val tRel = (System.nanoTime() - tRel0) / 1e9
        System.err.println(
          f"[graft] INFO cosinePairs: pilot wall $tPilot%.1f s " +
            f"(release wait $tRel%.1f s)")
        val restBands = pilotN until b
        if (restBands.isEmpty) pilot
        else {
          val pilotShare = pilotN.toDouble / b
          val kRest = Dedup.pilotCalibratedChunks(est, usable, pilotShare, peak)
          System.err.println(
            f"[graft] INFO cosinePairs: pilot measured peak spill " +
              f"~${peak / 1e9}%.2f GB vs projected ~${est * pilotShare / 1e9}%.2f GB" +
              f" - remaining ${restBands.length} bands re-chunked into " +
              f"$kRest group(s) (uncalibrated plan: ${groups0.length - 1})")
          val pilotKeys = pilot.select(col("id_a"), col("id_b"))
          val restPairs =
            if (kRest <= 1) pairsOn(restBands, Some(pilotKeys))
            else {
              val restGroups = Dedup.stagingGroups(restBands.length, kRest)
                .map(_.map(restBands))
              Dedup.stagedPairUnion(spark, restGroups.length,
                Seq("id_a", "id_b"), (g, prior) => pairsOn(restGroups(g),
                  Some(prior.fold(pilotKeys)(_.unionByName(pilotKeys)))))
            }
          pilot.unionByName(restPairs)
        }
      }
    }
  }

  /** EXACT cosine pairs ≥ threshold: upper-triangle all-pairs scan with the
    * native [[graft.functions.CosineSim]] kernel. Quadratic by definition —
    * this is the exact ground-truth baseline (the same role
    * [[graft.operators.Dedup.exactJaccardPairs]] plays for text, except
    * dense low-dim embeddings admit no exact prefix-filter: every
    * coordinate is nonzero, so sparse-join pruning degenerates to
    * all-pairs anyway).
    *
    * When to register which plan: in the NEAR-DUP regime (τ ≳ 0.8, where
    * embedding dedup lives) always use [[cosinePairs]] — banded sign-LSH
    * prunes the uncorrelated bulk to ~b·2⁻ʳ ≈ 10⁻⁴ of all pairs there,
    * and this quadratic form is the scale-killer round 2 removed. In the
    * MODERATE-threshold regime (τ ≲ 0.6) the geometry inverts: the
    * threshold-derived banding degenerates (at τ = 0.45 it is r=9/b=337,
    * background collision b·2⁻ʳ ≈ 0.66 — candidate volume ≈ the full
    * upper triangle PLUS 337× band rows and a dedup shuffle on top), so
    * the all-pairs scan IS the rational exact plan; a moderate-τ
    * similarity query over a large corpus should go through [[ivfTopK]] /
    * top-k instead of a pair enumeration, whose output is itself
    * near-quadratic at low τ. SimilaritySpec pins LSH recall against this
    * form. */
  def cosinePairsExact(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .repartition(Dedup.cpuParallelism(df), col("id"))
    val a = vecs.select(col("id").as("id_a"), col("vec").as("vec_a"))
    val b = vecs.select(col("id").as("id_b"), col("vec").as("vec_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine",
        graft.functions.GraftFunctions.cosineSim(col("vec_a"), col("vec_b")))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Nearest-`keep` centroid lists per row as a NARROW expression: the
    * centroid table rides the plan as literals, each row scores all
    * centroids in one codegen'd projection and keeps the `keep` best —
    * no crossJoin, no per-row window shuffle (round 1 assigned via
    * crossJoin+window: an |corpus|×nLists exchange on the 100 TB path).
    * Ordering matches the window form exactly: cosine desc, list asc.
    * Output: (idAs, vecAs, list) — one row per kept list.
    *
    * Targets moderate centroid counts (≤ ~64): each centroid is a branch
    * of one literal array expression, so large codebooks blow up codegen.
    * [[assignListsBroadcast]] is the k ≳ 64 path. */
  /** The (−cosine, list) struct score array over a literal centroid
    * table — the ONE expression both literal-regime assignment forms
    * share ([[assignLists]], [[nearestClusterCol]]), so the
    * (cosine DESC, list ASC) tie-break the oracles restate cannot
    * drift between them. */
  private def scoredCentroidArray(vec: Column,
      centroids: Array[(Int, Array[Float])]): Column =
    array(centroids.map { case (list, c) =>
      struct(
        (-graft.functions.GraftFunctions.cosineSim(
          vec, array(c.map(lit(_)): _*))).as("neg"),
        lit(list).as("list"))
    }: _*)

  private[operators] def assignLists(df: DataFrame, vecCol: String, idCol: String,
      centroids: Array[(Int, Array[Float])], idAs: String, vecAs: String,
      keep: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val scored = scoredCentroidArray(col(vecAs), centroids)
    df.select(col(idCol).as(idAs), col(vecCol).as(vecAs))
      .withColumn("_near", slice(array_sort(scored), 1, keep))
      .select(col(idAs), col(vecAs),
        explode(transform(col("_near"), x => x.getField("list"))).as("list"))
  }

  /** [[assignLists]] for LARGE centroid tables (k ≳ 64): the codebook
    * ships as ONE broadcast row holding an array<struct<list, cent>> and
    * each input row scores it with a single `transform` loop — a
    * BroadcastNestedLoopJoin against one row, so the corpus side never
    * shuffles and the plan carries no k-branch literal expression tree
    * (a 256-way codebook as literals is ~256 codegen branches per
    * subspace — past JIT method limits and linear in plan size).
    * Identical assignment semantics to [[assignLists]]: the same
    * (−cosine, list) struct sort, the same kernel arithmetic — parity
    * pinned by SimilaritySpec. */
  private[operators] def assignListsBroadcast(df: DataFrame, vecCol: String,
      idCol: String, centroids: Array[(Int, Array[Float])], idAs: String,
      vecAs: String, keep: Int): DataFrame = {
    val spark = df.sparkSession
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val cb = centroids.toSeq.toDF("list", "cent")
      .agg(array_sort(collect_list(struct(col("list"), col("cent")))).as("_cb"))
    df.select(col(idCol).as(idAs), col(vecCol).as(vecAs))
      .crossJoin(broadcast(cb))
      .withColumn("_near", slice(array_sort(transform(col("_cb"), c =>
        struct((-graft.functions.GraftFunctions.cosineSim(
          col(vecAs), c.getField("cent"))).as("neg"),
          c.getField("list").as("list")))), 1, keep))
      .select(col(idAs), col(vecAs),
        explode(transform(col("_near"), x => x.getField("list"))).as("list"))
  }

  /** Literal-plan assignment for small centroid tables, broadcast-row
    * assignment past [[LiteralCentroidLimit]] — one dispatch point so no
    * caller hand-picks (and mis-picks) the path. */
  private[operators] val LiteralCentroidLimit = 64
  private[operators] def assignListsAuto(df: DataFrame, vecCol: String,
      idCol: String, centroids: Array[(Int, Array[Float])], idAs: String,
      vecAs: String, keep: Int): DataFrame =
    if (centroids.length <= LiteralCentroidLimit)
      assignLists(df, vecCol, idCol, centroids, idAs, vecAs, keep)
    else assignListsBroadcast(df, vecCol, idCol, centroids, idAs, vecAs, keep)

  /** Nearest-centroid id of an embedding column as a bare narrow Column
    * (cosine DESC, list ASC — exactly the [[assignLists]] ordering with
    * keep = 1), for composing a cluster key into wider plans WITHOUT
    * dropping the caller's other columns ([[Sampling
    * .clusterBalancedSample]]'s building block). Literal expression
    * tree — the [[LiteralCentroidLimit]] regime; for larger codebooks
    * compose [[assignListsBroadcast]] + a join instead. The session
    * must have [[graft.functions.GraftFunctions.register]] applied
    * (entry-point operators do it). */
  def nearestClusterCol(vec: Column,
      centroids: Array[(Int, Array[Float])]): Column = {
    require(centroids.length <= LiteralCentroidLimit,
      s"nearestClusterCol: ${centroids.length} centroids exceed the " +
        s"literal-plan limit $LiteralCentroidLimit - use " +
        "assignListsBroadcast + join for large codebooks")
    slice(array_sort(scoredCentroidArray(vec, centroids)), 1, 1)
      .getItem(0).getField("list")
  }

  /** Lloyd refinement of driver-held centroids (spherical k-means shape —
    * cosine assignment is scale-invariant, so centroid means need no
    * normalization for argmax purposes). Each iteration: assign every
    * vector to its nearest centroid via the narrow codegen'd
    * [[assignLists]] projection, then recompute per-list dimension means
    * with one (list, dim) partial aggregation — the shuffle carries
    * nLists × dim scalar rows, and the driver collect is the same
    * nLists-row k-means-training shape as the init. Empty lists keep
    * their previous centroid. Deterministic end to end. */
  private[operators] def lloydRefine(vecs: DataFrame,
      init: Array[(Int, Array[Float])], iters: Int): Array[(Int, Array[Float])] = {
    var centers = init
    for (_ <- 1 to iters) {
      val assigned = assignListsAuto(vecs, "vec", "id", centers, "id", "vec", keep = 1)
      val means = assigned.select(col("list"), posexplode(col("vec")))
        .groupBy(col("list"), col("pos"))
        .agg(avg(col("col").cast("double")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (list, rows) =>
          val dim = rows.length
          val c = new Array[Float](dim)
          rows.foreach(r => c(r.getInt(1)) = r.getDouble(2).toFloat)
          list -> c
        }
      centers = centers.map { case (list, old) => (list, means.getOrElse(list, old)) }
    }
    centers
  }

  /** IVF (inverted-file) approximate top-k: a coarse quantizer of
    * `nLists` centroids partitions the corpus into inverted lists; each
    * probe scores ONLY the `nProbe` lists whose centroids it is closest
    * to — the classic IVF trade (visit nProbe/nLists of the corpus).
    *
    * Centroids: deterministic one-pass seeds (first vector of each hash
    * stratum) refined by `lloydIters` Lloyd iterations ([[lloydRefine]]).
    * Building the index collects the nLists centroid rows to the driver
    * (the k-means-training shape — centers are driver state by
    * construction) and embeds them as plan literals, so list assignment is
    * a narrow codegen'd projection: the only shuffles in the whole plan
    * are the per-iteration (list, dim) mean, the candidate dedup, and the
    * final per-probe ranking. */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, vecCol: String,
      idCol: String, k: Int = 10, nLists: Int = 16, nProbe: Int = 4,
      lloydIters: Int = 3, corpusSpill: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    // Materialized once — the seed collect, every Lloyd iteration, and the
    // final list build each re-run this subtree otherwise.
    val vecs = Dedup.materialize(
      corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
        .repartition(Dedup.cpuParallelism(corpus), col("id")))
    val centroids = trainCoarseCentroids(vecs, "vec", "id", nLists, lloydIters)
    if (centroids.isEmpty)
      // empty corpus ⇒ empty result, with the output schema intact
      return probes.select(col(idCol).as("q_id"), col(idCol).as("c_id"),
        lit(0.0).as("cosine"), lit(1).as("rank")).limit(0)
    ivfTopKWith(vecs, probes, "vec", "id", centroids, k, nProbe, corpusSpill,
      probeVecCol = vecCol, probeIdCol = idCol)
  }

  /** Train an IVF coarse quantizer: deterministic one-pass seeds (first
    * vector of each hash stratum) refined by `lloydIters` Lloyd
    * iterations — the (list, centroid) artifact [[ivfTopKWith]] and
    * [[ivfPqTopK]] probe against. Production trains this ONCE per corpus
    * version and persists it (it is driver-sized: nLists × dim floats);
    * [[ivfTopK]] retrains per call as the self-contained convenience
    * form. Returns an empty array on an empty corpus. */
  def trainCoarseCentroids(corpus: DataFrame, vecCol: String, idCol: String,
      nLists: Int = 16, lloydIters: Int = 3): Array[(Int, Array[Float])] = {
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val wStratum = Window.partitionBy(col("stratum")).orderBy(col("id"))
    val seeds: Array[(Int, Array[Float])] = vecs
      .withColumn("stratum", pmod(hash(col("id")), lit(nLists)))
      .withColumn("rn", row_number().over(wStratum))
      .where(col("rn") === 1)
      .select(col("stratum").as("list"), col("vec").as("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    if (seeds.isEmpty) seeds else lloydRefine(vecs, seeds, lloydIters)
  }

  /** [[ivfTopK]]'s probe phase against an ALREADY-TRAINED coarse
    * quantizer — the production shape, where centroids are a frozen
    * per-corpus-version artifact (train once, probe daily) rather than
    * retrained per query. `centroids` is the same (list, centroid) table
    * [[lloydRefine]] emits.
    *
    * Multi-assignment: each corpus vector spills into its `corpusSpill`
    * nearest lists (FAISS-style redundancy) — a probe whose true neighbor
    * sits just across a Voronoi boundary still meets it, at corpusSpill×
    * index size. With near-uniform corpora (no cluster structure — IVF's
    * hardest case) this is what carries recall; clustered corpora can run
    * corpusSpill = 1. */
  def ivfTopKWith(corpus: DataFrame, probes: DataFrame, vecCol: String,
      idCol: String, centroids: Array[(Int, Array[Float])], k: Int = 10,
      nProbe: Int = 4, corpusSpill: Int = 2,
      probeVecCol: String = "", probeIdCol: String = ""): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val pVec = if (probeVecCol.nonEmpty) probeVecCol else vecCol
    val pId = if (probeIdCol.nonEmpty) probeIdCol else idCol
    val corpusLists = assignListsAuto(corpus, vecCol, idCol, centroids,
      "c_id", "c_vec", keep = corpusSpill)
    val probeLists = assignListsAuto(
      probes.select(col(pId).as("id"), col(pVec).as("vec")),
      "vec", "id", centroids, "q_id", "q_vec", keep = nProbe)

    // probes meet only their nProbe lists — equi-join on the list id
    val scored = corpusLists
      .join(broadcast(probeLists), Seq("list"))
      .where(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        graft.functions.GraftFunctions.cosineSim(
          col("q_vec"), col("c_vec")).as("cosine"))
      .dropDuplicates("q_id", "c_id")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  // ── SQ8 scalar quantization (memory-compressed ANN) ──────────────────

  /** Driver-held per-dimension quantization range — the SQ8 "codebook".
    * |dim| pairs of doubles: the same k-means-training-sized driver state
    * as IVF centroids, by construction. */
  final case class Sq8Index(lo: Array[Double], hi: Array[Double]) {
    require(lo.length == hi.length, "sq8: lo/hi dimension mismatch")
    def dim: Int = lo.length
  }

  /** Train the SQ8 range: per-dimension global [min, max] over the corpus
    * — ONE (dim)-keyed partial aggregation (the shuffle carries
    * |dim| × |tasks| scalar rows), |dim| rows collected to the driver. */
  def sq8Train(corpus: DataFrame, vecCol: String): Sq8Index = {
    val rows = corpus
      .select(posexplode(col(vecCol)).as(Seq("dim", "_x")))
      .groupBy(col("dim"))
      .agg(min(col("_x").cast("double")).as("lo"),
        max(col("_x").cast("double")).as("hi"))
      .collect()
    require(rows.nonEmpty, "sq8Train: empty corpus")
    val d = rows.map(_.getInt(0)).max + 1
    val lo = new Array[Double](d)
    val hi = new Array[Double](d)
    rows.foreach { r => lo(r.getInt(0)) = r.getDouble(1); hi(r.getInt(0)) = r.getDouble(2) }
    Sq8Index(lo, hi)
  }

  /** 8-bit code per dimension: round((x − lo)/(hi − lo) · 255) clamped to
    * [0, 255]; a constant dimension (hi == lo) codes to 0. The codes are
    * the PERSISTED form of a quantized corpus — 1 byte of information per
    * dimension against 4 for the float (the int array type here keeps the
    * artifact engine-portable; a production sink packs it to `binary`).
    * Quantization error per dimension ≤ (hi − lo)/510 by construction. */
  def sq8Codes(v: Column, idx: Sq8Index): Column = {
    val lo = array(idx.lo.map(lit(_)): _*)
    val hi = array(idx.hi.map(lit(_)): _*)
    transform(v, (x, i) => {
      val l = element_at(lo, i + lit(1))
      val h = element_at(hi, i + lit(1))
      when(h === l, lit(0)).otherwise(
        least(greatest(round((x.cast("double") - l) / (h - l) * lit(255.0)),
          lit(0.0)), lit(255.0)).cast("int"))
    })
  }

  /** (id, codes) projection — the artifact a production pipeline persists
    * next to (or instead of) the raw vectors. */
  def sq8Encode(df: DataFrame, vecCol: String, idCol: String,
      idx: Sq8Index): DataFrame =
    df.select(col(idCol).as("id"), sq8Codes(col(vecCol), idx).as("codes"))

  /** Reconstruct the quantized vector: lo + code/255 · (hi − lo), doubles. */
  def sq8Decode(codes: Column, idx: Sq8Index): Column = {
    val lo = array(idx.lo.map(lit(_)): _*)
    val hi = array(idx.hi.map(lit(_)): _*)
    transform(codes, (c, i) => {
      val l = element_at(lo, i + lit(1))
      val h = element_at(hi, i + lit(1))
      l + c.cast("double") / lit(255.0) * (h - l)
    })
  }

  /** Approximate top-k over an SQ8-ENCODED corpus — asymmetric distance:
    * the probe stays full-precision, the corpus side is decoded from its
    * 8-bit codes (the standard ADC trade: ~4× less corpus memory/IO for a
    * small recall cost; SimilaritySpec pins top-1 recall vs
    * [[bruteForceTopK]]). Same plan shape as the brute-force baseline —
    * broadcast probes, one narrow corpus scan (decode is a codegen'd
    * per-row projection), per-probe heap ranking — so the quantization
    * changes WHAT the scan reads (codes, not floats), not how it
    * parallelizes. Composes with [[ivfTopK]]'s list pruning: quantization
    * compresses the scan, inverted lists shrink it. */
  def sq8TopK(encodedCorpus: DataFrame, probes: DataFrame, vecCol: String,
      idCol: String, idx: Sq8Index, k: Int = 10): DataFrame = {
    graft.functions.GraftFunctions.register(encodedCorpus.sparkSession)
    val p = probes.select(col(idCol).as("q_id"),
      transform(col(vecCol), x => x.cast("double")).as("q_vec"))
    val c = encodedCorpus
      .select(col("id").as("c_id"), sq8Decode(col("codes"), idx).as("c_vec"))
      .repartition(Dedup.cpuParallelism(encodedCorpus), col("c_id"))
    val scored = c.join(broadcast(p), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        graft.functions.GraftFunctions.cosineSim(col("q_vec"), col("c_vec")).as("cosine"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  // ── Product quantization (PQ — Jégou/Douze/Schmid, TPAMI 2011) ───────

  /** Driver-held PQ codebooks: `codebooks(s)` is subspace `s`'s centroid
    * list (dense position-indexed), each of `subDim` dimensions. Driver
    * state is m × k × subDim floats — k-means-training-sized, like the
    * IVF centroids and the SQ8 ranges. */
  final case class PqIndex(subDim: Int, codebooks: Array[Array[Array[Float]]]) {
    def m: Int = codebooks.length
    def k: Int = codebooks.headOption.map(_.length).getOrElse(0)
  }

  /** Train PQ codebooks: split each vector into `m` contiguous
    * subvectors, run the SAME deterministic spherical k-means the IVF
    * index uses ([[lloydRefine]]: hash-stratum seeds + Lloyd iterations)
    * per subspace, `k` centroids each. m × `lloydIters` small jobs — an
    * INDEX-BUILD cost, paid once per corpus version. Spherical (cosine)
    * assignment makes this the cosine-PQ variant, matching the engine's
    * similarity measure. */
  def pqTrain(corpus: DataFrame, vecCol: String, idCol: String,
      m: Int = 8, k: Int = 16, lloydIters: Int = 3): PqIndex = {
    val dimRow = corpus.select(size(col(vecCol)).as("d")).limit(1).collect()
    require(dimRow.nonEmpty, "pqTrain: empty corpus")
    val dim = dimRow.head.getInt(0)
    require(dim % m == 0, s"pqTrain: dim $dim must be divisible by m=$m")
    val subDim = dim / m
    val books = (0 until m).map { s =>
      val sub = Dedup.materialize(
        corpus.select(col(idCol).as("id"),
          slice(col(vecCol), s * subDim + 1, subDim).as("vec"))
          .repartition(Dedup.cpuParallelism(corpus), col("id")))
      val wStratum = Window.partitionBy(col("stratum")).orderBy(col("id"))
      val seeds = sub
        .withColumn("stratum", pmod(hash(col("id")), lit(k)))
        .withColumn("rn", row_number().over(wStratum))
        .where(col("rn") === 1)
        .select(col("stratum").as("list"), col("vec").as("centroid"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      // dense position indexing: sort by stratum id, drop the ids — codes
      // are positions into this order (empty strata simply yield < k
      // centroids, which is fine: codes stay dense)
      lloydRefine(sub, seeds, lloydIters).sortBy(_._1).map(_._2)
    }.toArray
    PqIndex(subDim, books)
  }

  /** `m` codes per vector — each subvector's nearest (cosine) codebook
    * position. Dispatches on codebook size: moderate k (≤ ~64) encodes as
    * ONE narrow projection with the codebooks as plan literals (the
    * [[assignLists]] trick per subspace; no join, no shuffle); larger k
    * (256 is the standard PQ configuration) goes through
    * [[pqEncodeBroadcast]], where the codebooks ride a broadcast row
    * instead of a k-branch literal expression tree. Both paths produce
    * bit-identical codes (SimilaritySpec parity). */
  def pqEncode(df: DataFrame, vecCol: String, idCol: String,
      idx: PqIndex): DataFrame =
    if (idx.k <= LiteralCentroidLimit) pqEncodeLiteral(df, vecCol, idCol, idx)
    else pqEncodeBroadcast(df, vecCol, idCol, idx)

  /** The m-code array expression over a vector column, codebooks as plan
    * literals — shared by [[pqEncodeLiteral]] and the fused index build
    * ([[buildIvfPqIndex]]), so encode semantics have exactly one home. */
  private def pqCodesLiteral(vec: Column, idx: PqIndex): Column =
    array((0 until idx.m).map { s =>
      val sub = slice(vec, s * idx.subDim + 1, idx.subDim)
      val scored = array(idx.codebooks(s).zipWithIndex.map { case (c, pos) =>
        struct(
          (-graft.functions.GraftFunctions.cosineSim(
            sub, array(c.map(lit(_)): _*))).as("neg"),
          lit(pos).as("pos"))
      }: _*)
      element_at(array_sort(scored), 1).getField("pos")
    }: _*)

  /** The m-code array expression over a vector column with the codebooks
    * arriving via a broadcast `_cbs` column ([[pqEncodeBroadcast]]'s
    * one-row crossJoin) — the k > [[LiteralCentroidLimit]] form. */
  private def pqCodesBroadcast(vec: Column, cbs: Column, idx: PqIndex): Column =
    transform(sequence(lit(0), lit(idx.m - 1)), s => {
      val sub = slice(vec, s * lit(idx.subDim) + lit(1), lit(idx.subDim))
      val scored = transform(element_at(cbs, s + lit(1)), (c, pos) =>
        struct(
          (-graft.functions.GraftFunctions.cosineSim(sub, c)).as("neg"),
          pos.as("pos")))
      element_at(array_sort(scored), 1).getField("pos")
    })

  /** One-row DataFrame carrying all m codebooks as `_cbs` — the
    * broadcast-encode artifact ship. */
  private def pqCodebookRow(spark: org.apache.spark.sql.SparkSession,
      idx: PqIndex): DataFrame = {
    import spark.implicits._
    val books: Seq[Seq[Seq[Float]]] =
      idx.codebooks.toSeq.map(_.toSeq.map(_.toSeq))
    Seq(Tuple1(books)).toDF("_cbs")
  }

  private[operators] def pqEncodeLiteral(df: DataFrame, vecCol: String,
      idCol: String, idx: PqIndex): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol).as("id"), pqCodesLiteral(col(vecCol), idx).as("codes"))
  }

  /** Large-k encode: all m codebooks ship as ONE broadcast row
    * (array-of-arrays-of-centroids), each input row computes its m codes
    * with nested `transform` loops — a BroadcastNestedLoopJoin against a
    * single row, so the corpus side stays un-shuffled and the plan size
    * is O(1) in k (the literal form is O(m·k) expression branches: at
    * k=256 that is ~2048 codegen branches, past JIT limits). Assignment
    * semantics identical to [[pqEncodeLiteral]]: same (−cosine, pos)
    * struct sort, same kernel arithmetic. */
  private[operators] def pqEncodeBroadcast(df: DataFrame, vecCol: String,
      idCol: String, idx: PqIndex): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.crossJoin(broadcast(pqCodebookRow(df.sparkSession, idx)))
      .select(col(idCol).as("id"),
        pqCodesBroadcast(col(vecCol), col("_cbs"), idx).as("codes"))
  }

  /** Reconstruct the quantized vector from its codes: concatenation of
    * the coded centroid per subspace — a narrow projection over literal
    * codebooks (PQ's ~(32/⌈log₂k⌉·subDim)× memory compression lives in
    * the codes; reconstruction happens inside the scoring scan). */
  def pqReconstruct(codes: Column, idx: PqIndex): Column =
    concat((0 until idx.m).map { s =>
      val cents = array(idx.codebooks(s).map(c =>
        array(c.map(lit(_)): _*)): _*)
      element_at(cents, element_at(codes, s + 1) + lit(1))
    }: _*)

  /** Approximate top-k over a PQ-ENCODED corpus — asymmetric distance:
    * full-precision probes against reconstructed corpus vectors, the
    * same broadcast-probe narrow-scan plan as [[bruteForceTopK]] /
    * [[sq8TopK]]. PQ compresses harder than SQ8 (m·log₂k bits per
    * vector vs 8 bits per dimension) at a correspondingly larger recall
    * cost on unclustered data; SimilaritySpec pins recall on a clustered
    * fixture (PQ's design regime) and exactness at the centroids. */
  def pqTopK(encodedCorpus: DataFrame, probes: DataFrame, vecCol: String,
      idCol: String, idx: PqIndex, k: Int = 10): DataFrame = {
    graft.functions.GraftFunctions.register(encodedCorpus.sparkSession)
    val p = probes.select(col(idCol).as("q_id"),
      transform(col(vecCol), x => x.cast("double")).as("q_vec"))
    val c = encodedCorpus
      .select(col("id").as("c_id"), pqReconstruct(col("codes"), idx).as("c_vec"))
      .repartition(Dedup.cpuParallelism(encodedCorpus), col("c_id"))
    val scored = c.join(broadcast(p), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        graft.functions.GraftFunctions.cosineSim(col("q_vec"), col("c_vec")).as("cosine"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** IVF × PQ — the production composition (FAISS's IVFPQ shape): a
    * coarse quantizer prunes WHICH corpus rows each probe scores
    * (inverted lists, `nProbe`/`nLists` of the data), PQ codes compress
    * WHAT those rows cost to read (m·log₂k bits per vector). Lists are
    * assigned from the FULL-precision vectors at index build (the stored
    * artifact is (list, id, codes)); scoring reconstructs from codes
    * inside the probed-list scan — asymmetric distance, like [[pqTopK]].
    *
    * `coarse` are the coarse-quantizer centroids, (list, centroid) —
    * train them once (e.g. via the [[ivfTopK]] seeding + [[lloydRefine]])
    * and share them between builds; `idx` is the [[pqTrain]] codebook. */
  def ivfPqTopK(corpus: DataFrame, probes: DataFrame, vecCol: String,
      idCol: String, coarse: Array[(Int, Array[Float])], idx: PqIndex,
      k: Int = 10, nProbe: Int = 4, corpusSpill: Int = 2): DataFrame =
    ivfPqTopKIndexed(buildIvfPqIndex(corpus, vecCol, idCol, coarse, idx,
      corpusSpill), probes, vecCol, idCol, coarse, idx, k, nProbe)

  /** The (list, c_id, codes) IVF×PQ index as ONE fused narrow pass over
    * the corpus: list assignment AND PQ encoding computed in the same
    * projection (round 7 — the unfused form joined two separate corpus
    * scans on c_id: a second 100 TB read plus a corpus-sized shuffle-or-
    * broadcast, for data that was sitting in the same row all along).
    * This is the artifact a production pipeline PERSISTS per corpus
    * version — parquet/bucketed-table round-trip safe (plain int/long
    * columns), probed daily via [[ivfPqTopKIndexed]] without re-reading
    * corpus vectors. */
  def buildIvfPqIndex(corpus: DataFrame, vecCol: String, idCol: String,
      coarse: Array[(Int, Array[Float])], idx: PqIndex,
      corpusSpill: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    // Scale-ADAPTIVE parallelism for the CPU-heavy assign+encode pass
    // (Dedup.spreadIfSmall — the gate-spread discipline): the coarse
    // assignment + m×k PQ scoring is the dominant per-row span of the
    // build and must not inherit an under-split source's layout — round
    // 17 measured q_ann_ivfpq_top1's whole encode as ONE 1.28 s task
    // over a single-split parquet scan while 31 cores idled. The spread
    // fires only when the optimizer's size estimate says the scan cannot
    // fill the session's parallelism (bounded by construction); a
    // corpus-scale build keeps the fused NARROW one-pass plan — no
    // corpus-vector shuffle at scale.
    val spread = Dedup.spreadIfSmall(corpus, col(idCol))
    val assigned = assignListsAuto(spread, vecCol, idCol, coarse, "c_id", "_v",
      keep = corpusSpill)
    if (idx.k <= LiteralCentroidLimit)
      assigned.select(col("list"), col("c_id"),
        pqCodesLiteral(col("_v"), idx).as("codes"))
    else
      assigned.crossJoin(broadcast(pqCodebookRow(corpus.sparkSession, idx)))
        .select(col("list"), col("c_id"),
          pqCodesBroadcast(col("_v"), col("_cbs"), idx).as("codes"))
  }

  /** Append a batch of vectors to a PERSISTED IVF×PQ index directory —
    * the embedding-side analogue of the dedup index's `batch_id=`
    * discipline ([[graft.streaming.StreamingOps.dedupStreamIntoCorpus]]):
    * encode the batch with the SAME frozen (coarse, pq) artifacts the
    * index was built with (geometry is baked into stored rows — mixed
    * artifacts would corrupt the index, exactly like the dedup band
    * geometry contract) and write it into the batch's OWN
    * `batch_id=<id>` partition with overwrite semantics, so a replayed
    * batch overwrites exactly its previous (possibly partial) output
    * instead of appending duplicates. Readers load the whole directory
    * via [[loadIvfPqIndex]]; an initial build is just batch 0. Per
    * batch this is the [[buildIvfPqIndex]] one-pass narrow encode over
    * |Δ| rows — the existing index is never read, never rewritten. */
  def appendToIvfPqIndex(batch: DataFrame, indexDir: String, vecCol: String,
      idCol: String, coarse: Array[(Int, Array[Float])], idx: PqIndex,
      batchId: Long, corpusSpill: Int = 2): Unit =
    // stageParquet compacts a sub-split-sized batch to one file (guide
    // §6): daily small deltas must not each leave partitions-many tiny
    // files for every future probe's scan to open.
    graft.etl.Warehouse.stageParquet(
      buildIvfPqIndex(batch, vecCol, idCol, coarse, idx, corpusSpill),
      s"$indexDir/batch_id=$batchId")

  /** Load a `batch_id=`-partitioned IVF×PQ index directory for probing:
    * partition discovery surfaces the batch column; the probe doesn't
    * key on it, so it is dropped (also tolerates a flat, un-partitioned
    * index dir). */
  def loadIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame = {
    val df = spark.read.parquet(indexDir)
    if (df.columns.contains("batch_id")) df.drop("batch_id") else df
  }

  /** Probe an ALREADY-BUILT (possibly parquet-round-tripped) IVF×PQ
    * index: probes visit their `nProbe` nearest coarse lists, score PQ
    * reconstructions of just those lists' rows (asymmetric distance).
    * `coarse`/`idx` must be the artifacts the index was built with —
    * geometry is baked into the stored rows, exactly like the dedup
    * band index. Result is identical to [[ivfPqTopK]] on the same
    * corpus (spec-proven round-trip). */
  def ivfPqTopKIndexed(index: DataFrame, probes: DataFrame, vecCol: String,
      idCol: String, coarse: Array[(Int, Array[Float])], idx: PqIndex,
      k: Int = 10, nProbe: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(index.sparkSession)
    val probeLists = assignListsAuto(
      probes.select(col(idCol).as("id"), col(vecCol).as("vec")),
      "vec", "id", coarse, "q_id", "q_vec", keep = nProbe)
      .select(col("list"), col("q_id"),
        transform(col("q_vec"), x => x.cast("double")).as("q_vec"))
    val scored = index
      .join(broadcast(probeLists), Seq("list"))
      .where(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        graft.functions.GraftFunctions.cosineSim(
          col("q_vec"), pqReconstruct(col("codes"), idx)).as("cosine"))
      .dropDuplicates("q_id", "c_id")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Approximate top-k: probes only score candidates sharing a signature
    * chunk (the IVF-ish restriction of [[bruteForceTopK]] — each probe
    * visits ~|corpus| / 2⁴ of the data per chunk instead of all of it). */
  def approxTopKLSH(corpus: DataFrame, probes: DataFrame, vecCol: String,
      idCol: String, k: Int = 10, dim: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val nPlanes = 16
    def chunked(df: DataFrame, idAs: String) =
      df.select(col(idCol).as(idAs),
        graft.functions.GraftFunctions.signSignature(col(vecCol), nPlanes, 42).as("sig"))
        .select(col(idAs),
          posexplode(array((0 until 4).map(j =>
            shiftright(col("sig"), j * 4).bitwiseAND(lit(0xfL))): _*)))
        .withColumnRenamed("pos", "chunk")
        .withColumnRenamed("col", "chunk_key")
    // Candidate IDs first (probe side broadcast), vectors re-joined after
    // the dedup — the corpus vectors never ride the bucket join.
    val cand = chunked(corpus, "c_id")
      .join(broadcast(chunked(probes, "q_id")), Seq("chunk", "chunk_key"))
      .where(col("q_id") =!= col("c_id"))
      .select("q_id", "c_id")
      .dropDuplicates("q_id", "c_id")
    val scored = cand
      .join(broadcast(probes.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))), Seq("q_id"))
      .join(corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec")), Seq("c_id"))
      .select(col("q_id"), col("c_id"),
        graft.functions.GraftFunctions.cosineSim(col("q_vec"), col("c_vec")).as("cosine"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  // ── dimension reduction: sparse random projection (JL) ──────────────

  /** The Achlioptas ±1/0 projection matrix (outDim × inDim, row-major by
    * output component): entry (d → j) = [[graft.functions.VectorSimUtil
    * .jlWeight]](seed, d, j) — +1/−1 with probability 1/6 each, 0 with
    * 2/3 (Achlioptas JCSS 2003). Built ONCE on the driver (outDim·inDim
    * ints — a 1536→64 matrix is 384 KB) and shipped as a kernel
    * literal; deterministic in (inDim, outDim, seed), so the projection
    * of a vector never depends on partitioning, retries, or corpus
    * growth. */
  def randomProjectionMatrix(inDim: Int, outDim: Int, seed: Int = 42): Array[Int] = {
    require(inDim > 0 && outDim > 0 && outDim <= inDim,
      s"randomProjectionMatrix: need 0 < outDim <= inDim, got $inDim -> $outDim")
    Array.tabulate(outDim * inDim) { i =>
      graft.functions.VectorSimUtil.jlWeight(seed, i % inDim, i / inDim)
    }
  }

  /** Sparse random projection of an embedding column to `outDim`
    * integer components — the Johnson-Lindenstrauss dimension-reduction
    * pass a corpus runs BEFORE the quadratic-ish embedding stages
    * (SemDeDup's within-cluster cosine, IVF training, brute-force
    * mining): pairwise angles survive within the JL distortion bound at
    * outDim ≪ inDim, so clustering 1536-dim production embeddings at 64
    * dims cuts every downstream distance evaluation ~24×.
    *
    * INTEGER-EXACT by construction ([[graft.functions.VectorSimUtil
    * .jlProject]]): components quantize by the exact ×1024 power-of-two
    * scale and fold through the ±1/0 matrix in Long arithmetic — the
    * projected vectors are bit-identical on every engine (cosine over
    * them is scale-invariant, so the omitted √(3/outDim) constant is
    * immaterial). ONE narrow codegen'd projection: no shuffle, the
    * matrix rides the plan as a reference object. */
  def randomProject(df: DataFrame, vecCol: String, outCol: String,
      inDim: Int, outDim: Int, seed: Int = 42): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.withColumn(outCol, graft.functions.GraftFunctions.jlProject(
      col(vecCol), randomProjectionMatrix(inDim, outDim, seed), outDim))
  }

  /** [[randomProject]] with the projected components cast to DOUBLE —
    * the column shape the cosine kernels consume; the one-flag
    * projected-space composition ([[graft.operators.Dedup
    * .removeSemanticDuplicates]]'s `projectTo`) goes through here. */
  def randomProjectDouble(df: DataFrame, vecCol: String, outCol: String,
      inDim: Int, outDim: Int, seed: Int = 42): DataFrame =
    randomProject(df, vecCol, outCol + "_raw", inDim, outDim, seed)
      .withColumn(outCol, transform(col(outCol + "_raw"), x => x.cast("double")))
      .drop(outCol + "_raw")

  /** DRIVER-side projection of a centroid codebook through the SAME
    * integer-exact fold as the [[randomProject]] kernel (quantize ×1024
    * with floor(x·1024 + 0.5), ±1/0 Long accumulation) — so projected
    * vectors and projected centroids live in the same space and nearest-
    * centroid assignment is consistent. The Long accumulator round-trips
    * through Float exactly here: |acc| ≤ inDim·1024·max|x| ≪ 2²⁴ for
    * unit-scale embeddings. */
  def projectCentroids(centroids: Array[(Int, Array[Float])],
      outDim: Int, seed: Int = 42): Array[(Int, Array[Float])] = {
    require(centroids.nonEmpty, "projectCentroids: empty codebook")
    val inDim = centroids.head._2.length
    require(centroids.forall(_._2.length == inDim),
      "projectCentroids: centroids must share one dimension")
    val w = randomProjectionMatrix(inDim, outDim, seed)
    centroids.map { case (id, v) =>
      val out = new Array[Float](outDim)
      var j = 0
      while (j < outDim) {
        var acc = 0L
        val base = j * inDim
        var d = 0
        while (d < inDim) {
          val wt = w(base + d)
          if (wt != 0) {
            val q = math.floor(v(d) * 1024.0 + 0.5).toLong
            acc += (if (wt > 0) q else -q)
          }
          d += 1
        }
        out(j) = acc.toFloat
        j += 1
      }
      (id, out)
    }
  }
}
