package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.{call_function, lit}

/** Registration point for graft's native Catalyst expressions. Idempotent —
  * safe to call per query; also usable from `spark.sql` once registered. */
object GraftFunctions {

  /** Registers every native function whose name the session's registry
    * does not map to graft's own builder: a missing one, or one another
    * registration replaced (a temporary function or UDF of the same
    * name). Operators call this per plan they build; a function graft
    * already registered is left as it is, so a repeated call replaces
    * nothing (replacing one makes Spark log a warning per function).
    * Also installs the planner strategy of [[Tally]], once. */
  def register(spark: SparkSession): Unit = {
    Tally.Strategy.install(spark)
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      if (!registry.lookupFunctionBuilder(FunctionIdentifier(name)).exists(_ eq builder))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_once" -> (exprs => Once(exprs.head)),
    "simhash64" -> (exprs => SimHash64(exprs.head)),
    "minhash_sig" -> (exprs => MinHashSig(exprs.head,
        exprs(1).eval(null).asInstanceOf[Int])),
    "band_keys" -> (exprs => BandKeys(exprs.head,
        exprs(1).eval(null).asInstanceOf[Int],
        exprs(2).eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toIntArray().toSeq)),
    "jaccard_sim" -> (exprs => JaccardSim(exprs.head, exprs(1))),
    "norm_tokens" -> (exprs => NormTokens(exprs.head)),
    "norm_tokens_ml" -> (exprs => NormTokensMl(exprs.head)),
    "shingles_ml" -> (exprs => ShinglesMlExpr(exprs.head,
        exprs(1).eval(null).asInstanceOf[Int])),
    "ngrams_ml" -> (exprs => NGramsMlExpr(exprs.head,
        exprs(1).eval(null).asInstanceOf[Int])),
    "shingles" -> (exprs => ShinglesExpr(exprs.head,
        exprs(1).eval(null).asInstanceOf[Int])),
    "ngrams" -> (exprs => NGramsExpr(exprs.head,
        exprs(1).eval(null).asInstanceOf[Int])),
    "cosine_sim" -> (exprs => CosineSim(exprs.head, exprs(1))),
    "sign_signature" -> (exprs => SignSignature(exprs.head,
        exprs(1).eval(null).asInstanceOf[Int],
        exprs(2).eval(null).asInstanceOf[Int])),
    "lang_id" -> (exprs => LangIdExpr(exprs.head)),
    "hash_array64" -> (exprs => HashArray64(exprs.head)),
    "nfc_normalize" -> (exprs => NfcNormalize(exprs.head)),
    "sig_agreement" -> (exprs => SigAgreement(exprs.head, exprs(1))),
    "bpe_pieces" -> (exprs => BpeEncodeExpr(exprs.head,
        exprs(1).eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toArray[org.apache.spark.unsafe.types.UTF8String](
            org.apache.spark.sql.types.StringType).map(_.toString),
        ml = exprs.length > 2 &&
          exprs(2).eval(null).asInstanceOf[Boolean])),
    "bpe_piece_ids" -> (exprs => BpePieceIdsExpr(exprs.head,
        exprs(1).eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toArray[org.apache.spark.unsafe.types.UTF8String](
            org.apache.spark.sql.types.StringType).map(_.toString))),
    "jl_project" -> (exprs => JlProjectExpr(exprs.head,
        exprs(1).eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toIntArray(),
        exprs(2).eval(null).asInstanceOf[Int])),
    "bpe_decode" -> (exprs => BpeDecodeExpr(exprs.head,
        exprs(1).eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toArray[org.apache.spark.unsafe.types.UTF8String](
            org.apache.spark.sql.types.StringType).map(_.toString))),
    "ngram_lm_score" -> (exprs => {
        import org.apache.spark.sql.catalyst.util.ArrayData
        import org.apache.spark.sql.types.StringType
        import org.apache.spark.unsafe.types.UTF8String
        def strs(i: Int) = exprs(i).eval(null).asInstanceOf[ArrayData]
          .toArray[UTF8String](StringType).map(_.toString)
        def lngs(i: Int) = exprs(i).eval(null).asInstanceOf[ArrayData].toLongArray()
        NgramLmScoreExpr(exprs.head, new NgramLmScorer(
          strs(1), lngs(2), strs(3), lngs(4), strs(5), lngs(6),
          exprs(7).eval(null).asInstanceOf[Long],
          exprs(8).eval(null).asInstanceOf[Long]))
      }),
    // Spark's own runtime-filter bloom pair, surfaced as callable
    // functions (they are not in FunctionRegistry by default). Using the
    // engine's pair — not a re-implementation — guarantees the serialized
    // binary format and the long-hash discipline agree between build and
    // probe, exactly as they do inside injected runtime filters.
    "graft_bloom_agg" -> (exprs =>
        new BloomFilterAggregate(exprs.head, exprs(1), exprs(2))
          .toAggregateExpression()),
    "graft_bloom_might_contain" -> (exprs =>
        BloomFilterMightContain(exprs.head, exprs(1)))
  )

  /** `simhash64(array<string>) -> long` as a Column (session must be
    * registered first; queries call [[register]] idempotently). */
  def simhash64(c: Column): Column = call_function("simhash64", c)

  /** `minhash_sig(array<string>, k) -> array<int>` as a Column. */
  def minhashSig(c: Column, k: Int): Column =
    call_function("minhash_sig", c, org.apache.spark.sql.functions.lit(k))

  /** `band_keys(array<int>, rr, bands) -> array<struct<band, band_key>>`
    * as a Column: the LSH band keys of a MinHash signature
    * ([[MinHashUtil.bandKeys]]). */
  def bandKeys(sig: Column, rr: Int, bands: Seq[Int]): Column =
    call_function("band_keys", sig, lit(rr), lit(bands.toArray))

  /** `jaccard_sim(array<string>, array<string>) -> double` as a Column. */
  def jaccardSim(a: Column, b: Column): Column = call_function("jaccard_sim", a, b)

  /** `norm_tokens(string) -> array<string>` as a Column. */
  def normTokens(c: Column): Column = call_function("norm_tokens", c)

  /** `norm_tokens_ml(string) -> array<string>` as a Column — the
    * script-aware multilingual tokenizer ([[ShingleUtil.normTokensMl]]). */
  def normTokensMl(c: Column): Column = call_function("norm_tokens_ml", c)

  /** `shingles_ml(string, n) -> array<string>` as a Column. */
  def shinglesMl(c: Column, n: Int): Column =
    call_function("shingles_ml", c, org.apache.spark.sql.functions.lit(n))

  /** `ngrams_ml(string, n) -> array<string>` as a Column. */
  def ngramsMl(c: Column, n: Int): Column =
    call_function("ngrams_ml", c, org.apache.spark.sql.functions.lit(n))

  /** `shingles(string, n) -> array<string>` as a Column. */
  def shinglesNative(c: Column, n: Int): Column =
    call_function("shingles", c, org.apache.spark.sql.functions.lit(n))

  /** `ngrams(string, n) -> array<string>` as a Column (multiplicity kept). */
  def ngramsNative(c: Column, n: Int): Column =
    call_function("ngrams", c, org.apache.spark.sql.functions.lit(n))

  /** `cosine_sim(vec, vec) -> double` as a Column. */
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  /** `lang_id(string) -> string` as a Column — native form of
    * [[TextAnalysis.langId]] (parity pinned by TextAnalysisSpec). */
  def langIdNative(c: Column): Column = call_function("lang_id", c)

  /** `sign_signature(vec, nPlanes, seed) -> long` as a Column. */
  def signSignature(v: Column, nPlanes: Int, seed: Int): Column =
    call_function("sign_signature", v,
      org.apache.spark.sql.functions.lit(nPlanes),
      org.apache.spark.sql.functions.lit(seed))

  /** `hash_array64(array<string>) -> array<long>` as a Column — xxhash64
    * per element in one codegen'd loop (seed 42, matching `xxhash64()`). */
  def hashArray64(c: Column): Column = call_function("hash_array64", c)

  /** `bpe_pieces(string, merges) -> array<string>`: BPE piece stream of
    * the normalized tokens under a trained merge table (rank-ordered
    * "left right" strings — [[graft.operators.Bpe.Model]] literals). */
  def bpePieces(c: Column, merges: Array[String], tok: Tok = Tok.Latin): Column =
    call_function("bpe_pieces", c, lit(merges), lit(tok == Tok.Ml))

  /** `bpe_piece_ids(string, merges) -> array<int>`: vocab ids of a
    * space-joined BPE piece stream (merge rank / code-point / marker-bit
    * id space — [[BpeEncoder.idOfPiece]]). */
  def bpePieceIds(c: Column, merges: Array[String]): Column =
    call_function("bpe_piece_ids", c, lit(merges))

  /** `jl_project(array<float|double>, weights, outDim) -> array<long>`:
    * integer-exact Achlioptas sparse random projection under a literal
    * weight matrix ([[graft.operators.Similarity.randomProjectionMatrix]]). */
  def jlProject(c: Column, weights: Array[Int], outDim: Int): Column =
    call_function("jl_project", c, lit(weights), lit(outDim))

  /** `bpe_decode(array<int>, merges) -> string`: detokenize a vocab-id
    * stream back to the space-joined normalized text — the inverse of
    * `bpe_piece_ids ∘ bpe_pieces` ([[BpeEncoder.decodeIds]]; the
    * trainer-side round-trip). */
  def bpeDecode(c: Column, merges: Array[String]): Column =
    call_function("bpe_decode", c, lit(merges))

  /** `sig_agreement(array<int>, array<int>) -> double` as a Column —
    * positionwise MinHash-component agreement (unbiased Jaccard
    * estimator; the LSH signature prefilter's kernel). */
  def sigAgreement(a: Column, b: Column): Column =
    call_function("sig_agreement", a, b)

  /** `graft_bloom_agg(long_col) -> binary`: serialized bloom filter over a
    * LONG column, sized for `nItems` at false-positive rate `fpp`.
    *
    * Spark's BloomFilterAggregate silently CLAMPS the requested size to
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` / `maxNumBits`
    * (defaults 4M items / 2²⁶ bits). Past the clamp the realized fpp
    * degrades far above the requested value — results stay EXACT when a
    * confirm join follows (the contaminationHitsBloom shape), but the
    * prefilter selectivity the scale story depends on collapses. When the
    * session clamp is still Spark's default, bloomAgg RAISES it to fit
    * the request before the plan runs (selectivity preserved — a
    * user-requested bloom of a known set outranks the optimizer's
    * runtime-filter sizing); a clamp the user explicitly pinned is a
    * memory-budget decision and is respected, with a loud stderr warn
    * naming the conf keys ([[bloomClampAction]] pins the rule). */
  private[graft] val BloomMaxItemsKey =
    "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
  private[graft] val BloomMaxBitsKey =
    "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
  private[graft] val BloomMaxItemsDefault = 4000000L
  private[graft] val BloomMaxBitsDefault = 1L << 26

  /** What [[bloomAgg]] must do about the session bloom clamp for a
    * request of `nItems`/`wantBits`. Pure — the spec pins each branch. */
  private[graft] sealed trait BloomClampAction
  private[graft] case object BloomClampFits extends BloomClampAction
  /** Clamp exceeded, confs untouched by the user → raise them to fit. */
  private[graft] final case class BloomClampRaise(items: Long, bits: Long)
      extends BloomClampAction
  /** Clamp exceeded but the user pinned the confs → respect + warn. */
  private[graft] final case class BloomClampWarn(message: String)
      extends BloomClampAction

  /** `userPinned` = either clamp conf was EXPLICITLY set on the session:
    * an explicit ceiling is a memory-budget decision this library must
    * not override, so the degradation is announced instead. Defaults are
    * just Spark's runtime-filter sizing, which this aggregate (a user-
    * requested bloom of a known set, not an optimizer guess) outranks. */
  private[graft] def bloomClampAction(nItems: Long, wantBits: Long, fpp: Double,
      maxItems: Long, maxBits: Long, userPinned: Boolean): BloomClampAction =
    if (nItems <= maxItems && wantBits <= maxBits) BloomClampFits
    else if (!userPinned)
      BloomClampRaise(math.max(nItems, maxItems), math.max(wantBits, maxBits))
    else BloomClampWarn(
      s"[graft] WARN bloomAgg: requested $nItems items / $wantBits bits (fpp=$fpp) " +
        s"exceeds the session clamp (maxNumItems=$maxItems, maxNumBits=$maxBits); " +
        "the realized false-positive rate will be higher than requested. Raise " +
        s"$BloomMaxBitsKey/$BloomMaxItemsKey to keep " +
        "the prefilter selective at this scale.")

  /** Sessions whose clamp confs were raised by [[bloomAgg]] itself —
    * those still count as NOT user-pinned, so a later, larger request can
    * escalate again (weak keys: no session leak). */
  private val graftRaisedClamp =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]())

  def bloomAgg(c: Column, nItems: Long, fpp: Double): Column = {
    val wantBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(nItems, fpp)
    org.apache.spark.sql.SparkSession.getActiveSession.foreach { s =>
      def conf(k: String, dflt: Long): Long =
        try s.conf.getOption(k).map(_.toLong).getOrElse(dflt) catch { case _: NumberFormatException => dflt }
      val maxBits = conf(BloomMaxBitsKey, BloomMaxBitsDefault)
      val maxItems = conf(BloomMaxItemsKey, BloomMaxItemsDefault)
      val pinned = !graftRaisedClamp.containsKey(s) && {
        val all = s.conf.getAll
        all.contains(BloomMaxBitsKey) || all.contains(BloomMaxItemsKey)
      }
      bloomClampAction(nItems, wantBits, fpp, maxItems, maxBits, pinned) match {
        case BloomClampFits => ()
        case BloomClampRaise(items, bits) =>
          // BloomFilterAggregate clamps against SQLConf at eval; raising
          // the session values BEFORE the plan runs keeps the realized
          // filter at the requested size — selectivity preserved, not
          // merely announced.
          s.conf.set(BloomMaxItemsKey, items.toString)
          s.conf.set(BloomMaxBitsKey, bits.toString)
          graftRaisedClamp.put(s, java.lang.Boolean.TRUE)
          System.err.println(
            s"[graft] INFO bloomAgg: raised $BloomMaxItemsKey=$items, " +
              s"$BloomMaxBitsKey=$bits to fit $nItems items at fpp=$fpp.")
        case BloomClampWarn(msg) => System.err.println(msg)
      }
    }
    call_function("graft_bloom_agg", c, lit(nItems), lit(wantBits))
  }

  /** `graft_bloom_might_contain(bloom_binary, long_col) -> boolean` with
    * the serialized bloom embedded as a plan literal — the probe side of
    * [[bloomAgg]]. The literal is the right shape for a driver-built
    * bloom of a SMALL reference set (decontamination benchmarks); a
    * bloom over a large set should arrive via a scalar subquery instead
    * (how Spark's own runtime filters inject it). */
  def bloomMightContain(bloom: Array[Byte], c: Column): Column =
    call_function("graft_bloom_might_contain", lit(bloom), c)
}
