package graft
import org.apache.spark.sql.functions._

/** Dev tool (optimization rounds): dump OPERATOR-INTERNAL plans — the
  * frames whose shape an optimization actually changes, which the final
  * bench action's checkpoint-rooted plan cannot show (round-16 verdict,
  * "What's wrong #5"). Each probe writes
  * `<outDir>/<probe>_<suffix>.txt`. Not part of the bench contract.
  *
  * Usage: sbt "runMain graft.PlanProbes <outDir> <suffix> [probe...]"
  *        (no probe names = all probes)
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in Bench.
  */
object PlanProbes {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanProbes <outDir> <suffix> [probe...]")
    val outDir = args(0); val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
      println(s"[planprobe] wrote $outDir/${name}_$suffix.txt")
    }
    val selected = args.drop(2).toSet

    def want(n: String) = selected.isEmpty || selected(n)

    // The PLAIN-config pipeline's quality-gate stage frame: the round-17
    // claim is that a fired adaptive spread now materializes the gate,
    // so this frame roots at a checkpoint (Scan ExistingRDD) instead of
    // carrying the scan → Exchange → gate chain that every downstream
    // action re-executed.
    if (want("pipeline_quality_plain")) {
      val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val bench = corpus.where(col("doc_id") % 50 === 0)
      val cfg = graft.pipeline.CorpusPipeline.Config(
        langs = Set("en"), minTokens = 10, maxTokens = 100000,
        minAlphaRatio = 0.4, dedupThreshold = 0.5, shingleN = 3,
        decontaminateN = 8, chunkTokens = 64, overlapTokens = 16,
        splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
        materializeDocuments = true)
      val p = graft.pipeline.CorpusPipeline.prepare(corpus, Some(bench), cfg)
      p.stages.collectFirst { case ("quality", df) =>
        dump("pipeline_quality_plain", df) }
      dump("pipeline_documents_plain", p.documents)
    }

    // The DSIR selection tail frame (what prepare's dsir rung materializes):
    // round-17 claim — the k-row top-k selection's spread now derives
    // its partition count from k (Exchange hashpartitioning(doc_id, 5)
    // for k=150 at 32 rows/task) instead of fanning to the session
    // parallelism (the former cpuSpread/spreadIfSmall shape,
    // hashpartitioning(doc_id, 32) — dumped as the `before` via the
    // same spreadIfSmall helper the old call site used, which on a
    // k-row frame always chose the full session parallelism).
    if (want("dsir_tail")) {
      val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val sel = graft.operators.Dsir.resampleRows(corpus, "text", "doc_id",
        graft.operators.FrozenDsir.model, 150)
      dump("dsir_tail_spread_before",
        graft.operators.Dedup.spreadIfSmall(sel, col("doc_id")))
      dump("dsir_tail_spread_after",
        graft.operators.Dedup.spreadRows(sel, col("doc_id"), 150L))
    }

    // The IVF×PQ index build frame: round-17 claim — the CPU-heavy
    // assign+encode no longer runs inside the (single-split at sf0.1)
    // scan stage; an adaptive spread exchange precedes it.
    if (want("ivfpq_build")) {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      dump("ivfpq_build", graft.operators.Similarity.buildIvfPqIndex(
        emb, "embedding", "vec_id",
        graft.operators.FrozenAnn.coarse, graft.operators.FrozenAnn.pqIndex,
        corpusSpill = 2))
    }

    spark.stop()
  }
}
