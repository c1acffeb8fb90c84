package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, TextAnalysis}
import graft.operators.{Chunking, Dedup, LineDedup}
import graft.pipeline.{CorpusPipeline, Pipeline}
import graft.sources.Sources

/** One benchmark process: builds a SparkSession, warms up by running the
  * workload's operation [[WarmUps]] times, then runs it in a loop for
  * `--seconds` and writes every raw measurement as JSON to `--out`.
  * `run.py` turns those into metrics and checks the outputs.
  *
  * With `--trace 1` untraced operations alternate with traced ones, which
  * attach a [[LayerListener]] and put spans around the calls into the
  * program that the benchmark makes itself; the traced minus the untraced
  * median is the tracing overhead. Untraced runs attach no listener. */
object BenchMain {

  final case class Args(workload: String, input: String, seconds: Double,
      trace: Boolean, out: String, traceOut: String,
      cores: Int, runDir: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    Args(m("workload"), m("input"), m("seconds").toDouble, m("trace") == "1", m("out"), m.getOrElse("trace-out", ""),
      m("cores").toInt, m("run-dir"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"${a.runDir}/warehouse")
      .config("spark.local.dir", s"${a.runDir}/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()
    val out = new Json
    out.num("session_ready_ms", sessionReadyMs)
    val w: Workload = a.workload match {
      case "etl_dag"      => new EtlDag(spark, a)
      case "corpus_crawl" => new CorpusCrawl(spark, a)
    }
    val warm = new Loop
    (1 to WarmUps).foreach(_ => runOp(spark, w, warm, None))
    hygiene(spark)
    out.num("warmup_done_ms", System.currentTimeMillis())
    out.obj("warmup", warm.toJson)
    if (!a.trace) out.obj("ops", timedLoop(spark, w, a.seconds).toJson)
    else {
      val tracer = new Tracer(spark)
      val (plain, traced) = tracedLoops(spark, w, a.seconds, tracer)
      out.obj("ops", plain.toJson)
      out.obj("traced_ops", traced.toJson)
      val layers = new Json
      w.layers(tracer, traced, layers)
      tracer.spark_(layers, traced.wallTotal, traced.count, a.cores)
      out.obj("layers", layers)
      tracer.write(a.traceOut)
    }
    out.num("peak_rss_kb", vmHwmKb())
    Files.write(Paths.get(a.out), out.render.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** graft.Bench's between-operation hygiene, outside every timed region:
    * blocking unpersist of what the last operation pinned, then two GCs
    * with a pause so the ContextCleaner can drain in between. */
  def hygiene(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(50)
    System.gc()
  }

  def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong)
      .getOrElse(-1L)

  /** Timings of one loop: per operation its seconds, ok and output. */
  final class Loop {
    val secs = ArrayBuffer.empty[Double]
    val oks = ArrayBuffer.empty[Boolean]
    val outputs = ArrayBuffer.empty[Json]
    val errors = ArrayBuffer.empty[String]
    var hygieneSecs = 0.0
    def count: Int = secs.size
    def wallTotal: Double = secs.sum
    def toJson: Json = {
      val j = new Json
      j.nums("secs", secs.toSeq); j.bools("ok", oks.toSeq)
      j.objs("outputs", outputs.toSeq); j.strs("errors", errors.toSeq)
      j.num("hygiene_secs", hygieneSecs)
      j
    }
  }

  /** Runs the workload's operation until `seconds` have passed. */
  def timedLoop(spark: SparkSession, w: Workload, seconds: Double): Loop = {
    val loop = new Loop
    val start = System.nanoTime()
    while (loop.count == 0 || (System.nanoTime() - start) / 1e9 < seconds)
      runOp(spark, w, loop, None)
    loop
  }

  /** Runs traced and untraced operations in ABBA order (traced, untraced,
    * untraced, traced, ...) for at least four operations and `seconds`, so
    * a drift in speed over the run cancels out of the difference between
    * the two loops: the tracing overhead. The listener is attached for
    * traced operations only. */
  def tracedLoops(spark: SparkSession, w: Workload, seconds: Double,
      tracer: Tracer): (Loop, Loop) = {
    val plain, traced = new Loop
    val start = System.nanoTime()
    var i = 0
    while (i < 4 || (System.nanoTime() - start) / 1e9 < seconds) {
      if (i % 4 == 1 || i % 4 == 2) runOp(spark, w, plain, None)
      else {
        tracer.attach()
        runOp(spark, w, traced, Some(tracer))
        tracer.detach()
      }
      i += 1
    }
    (plain, traced)
  }

  def runOp(spark: SparkSession, w: Workload, loop: Loop, tracer: Option[Tracer]): Unit = {
    val h0 = System.nanoTime()
    hygiene(spark)
    loop.hygieneSecs += (System.nanoTime() - h0) / 1e9
    tracer.foreach(_.beginOp(w.name))
    val t0 = System.nanoTime()
    val res = try Right(w.run(tracer)) catch {
      case e: Throwable => Left(e)
    }
    val dt = (System.nanoTime() - t0) / 1e9
    tracer.foreach(_.endOp())
    loop.secs += dt
    res match {
      case Right(j) =>
        loop.oks += true; loop.outputs += j
      case Left(e) =>
        loop.oks += false; loop.outputs += new Json
        loop.errors += s"${w.name}: ${e.getClass.getName}: ${e.getMessage}".take(300)
    }
  }

  // ── workloads ──────────────────────────────────────────────────────────

  abstract class Workload {
    /** The name of the workload's one operation. */
    def name: String
    /** Runs the operation once; returns its output summary. */
    def run(tracer: Option[Tracer]): Json
    def layers(t: Tracer, traced: Loop, out: Json): Unit = ()
  }

  def span[T](t: Option[Tracer], name: String)(f: => T): T =
    t.fold(f)(_.span(name)(f))

  /** The reference DAG: `Pipeline.run` on the sales CSV and products JSON.
    * Traced operations call it unchanged; the listener attributes its jobs
    * to layers by their call sites. */
  final class EtlDag(spark: SparkSession, a: Args) extends Workload {
    val csv = s"${a.input}/store_sales.csv"
    val json = s"${a.input}/products.json"
    val db = "staging_dataset"
    def name = "pipeline_run"
    def run(t: Option[Tracer]): Json = {
      val results = Pipeline.run(spark, csv, json, db, failOnCritical = false)
      val j = new Json
      j.objs("checks", results.map { r =>
        val c = new Json
        c.str("check", r.check); c.str("table", r.table)
        c.bool("passed", r.passed); c.str("detail", r.detail); c
      })
      j
    }

    override def layers(t: Tracer, traced: Loop, out: Json): Unit = {
      val n = traced.count.toDouble
      val inBytes = Files.size(Paths.get(csv)) + Files.size(Paths.get(json))
      val secs = t.attributedSecs
      def s(k: String) = secs.getOrElse(k, 0.0) / n
      out.num("sources.open_s", s("sources.open"))
      out.num("sources.scans_per_byte",
        t.bytesRead(Set("sources.open", "etl.transform", "etl.load")) / n / inBytes)
      out.num("etl.transform_s", s("etl.transform"))
      out.num("etl.load_s", s("etl.load"))
      out.num("etl.write_amp", t.bytesWritten(Set("etl.load")) / n / inBytes)
      out.num("quality.validate_s", s("quality.validate"))
      out.num("quality.jobs", t.jobs(Set("quality.validate")) / n)
      val wh = Paths.get(a.runDir, "warehouse", s"$db.db")
      val tableBytes = Files.walk(wh).filter(Files.isRegularFile(_))
        .filter(p => !p.getFileName.toString.startsWith("."))
        .mapToLong(Files.size(_)).sum().toDouble
      out.num("quality.scans_per_table",
        t.bytesRead(Set("quality.validate")) / n / tableBytes)
      // jobs whose call site named no layer: their time is in no layer metric
      out.num("trace.unattributed_jobs", t.jobs(Set(s"op.$name")) / n)
    }
  }

  /** A crawl-scale corpus pass: `CorpusPipeline.prepare` with the
    * `q_corpus_pipeline` configuration, then the caller's final action. */
  final class CorpusCrawl(spark: SparkSession, a: Args) extends Workload {
    val cfg = CorpusPipeline.Config(
      stripHtml = true, gopherRules = true,
      langs = Set("en"), minTokens = 10, maxTokens = 100000,
      minAlphaRatio = 0.4, lineDedupMinDocs = Some(2),
      dedupThreshold = 0.5, shingleN = 3,
      decontaminateN = 8, chunkTokens = 64, overlapTokens = 16,
      splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      materializeDocuments = true)
    val corpusPath = s"${a.input}/corpus.parquet"
    val benchPath = s"${a.input}/benchmark.parquet"
    def name = "prepare"

    var last: Option[CorpusPipeline.Prepared] = None
    var checkpoints = 0

    def run(t: Option[Tracer]): Json = {
      val corpus = Sources.parquet(spark, corpusPath)
      val bench = Sources.parquet(spark, benchPath)
      val p = span(t, "pipeline.prepare")(CorpusPipeline.prepare(corpus, Some(bench), cfg))
      checkpoints = spark.sparkContext.getPersistentRDDs.size
      val (ids, chunkIds) = span(t, "pipeline.finish") {
        (p.documents.select(col(cfg.idCol)).collect().map(_.getLong(0)).sorted,
          p.chunks.select(col(cfg.idCol)).distinct().collect().map(_.getLong(0)).sorted)
      }
      last = Some(p)
      val j = new Json
      val kept = new Json
      p.observedCounts.foreach { case (k, v) => kept.num(k, v) }
      j.obj("kept", kept)
      j.nums("ids", ids.toSeq.map(_.toDouble))
      j.nums("chunk_ids", chunkIds.toSeq.map(_.toDouble))
      j
    }

    private def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    private def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

    override def layers(t: Tracer, traced: Loop, out: Json): Unit = {
      val n = traced.count.toDouble
      out.num("pipeline.prepare_s", t.spanSecs("pipeline.prepare") / n)
      out.num("pipeline.finish_s", t.spanSecs("pipeline.finish") / n)
      out.num("pipeline.jobs",
        t.jobs(Set("pipeline.prepare", "pipeline.finish")) / n)
      out.num("pipeline.checkpoints", checkpoints.toDouble)
      val p = last.get
      p.observedCounts.foreach { case (k, v) => out.num(s"pipeline.kept.$k", v.toDouble) }

      // operators: each called on the previous stage's materialised output
      // (the stage frames of the last traced pass are still checkpointed).
      val stage = p.stages.toMap
      val quality = stage("quality").localCheckpoint()
      def op(name: String)(f: => DataFrame): DataFrame = {
        var r: DataFrame = null
        out.num(s"operators.${name}_s", timed { r = f.localCheckpoint() })
        r
      }
      val exact = op("exact_dedup")(Dedup.exactByContent(quality, "text", "doc_id"))
      val lines = op("line_dedup")(LineDedup.removeDuplicatedLines(exact, "text", "doc_id", 2))
      val near = op("near_dedup")(Dedup.removeNearDuplicates(lines, "text", "doc_id", 0.5, 3))
      val bench = Sources.parquet(spark, benchPath).withColumn("text",
        TextAnalysis.collapseLineWhitespace(TextAnalysis.stripHtml(col("text"))))
      val clean = op("decontaminate")(Dedup.removeContaminated(near, bench, "text", "doc_id", 8))
      op("chunk")(Chunking.chunkByTokens(clean, "text", "doc_id", 64, 16))
      // near-dup pairs at the pipeline's threshold: the MinHash detector's
      // (exact-verified) pairs against all pairs exact Jaccard finds
      def keyed(df: DataFrame) = df.select(
        least(col(df.columns(0)), col(df.columns(1))).as("a"),
        greatest(col(df.columns(0)), col(df.columns(1))).as("b")).distinct()
      val pairs = keyed(Dedup.nearDupPairsMinHash(lines, "text", "doc_id", 0.5, 3)).localCheckpoint()
      val truePairs = keyed(Dedup.exactJaccardPairs(lines, "text", "doc_id", 0.5, 3)).localCheckpoint()
      val confirmed = pairs.join(truePairs, Seq("a", "b")).count().toDouble
      out.num("operators.near_dup_recall", confirmed / math.max(truePairs.count(), 1L))
      out.num("operators.near_dup_precision", confirmed / math.max(pairs.count(), 1L))
      hygiene(spark)

      // functions: one kernel per select+aggregate over the input, replicated
      // to at least ProbeRows rows so kernel time outweighs the per-job
      // floor, minus a scan-only baseline; median of three.
      GraftFunctions.register(spark)
      val docs = Sources.parquet(spark, corpusPath).select(col("text"))
      val copies = math.ceil(ProbeRows.toDouble / docs.count()).toLong
      val input = docs.crossJoin(spark.range(copies)).select(col("text"))
        .repartition(a.cores * 4).cache()
      val rows = input.count().toDouble
      val text = col("text")
      def agg(c: org.apache.spark.sql.Column): Double =
        median((1 to 3).map(_ => timed(input.select(c.as("k"))
          .agg(max(xxhash64(col("k")))).collect())))
      val base = agg(text)
      val sh = GraftFunctions.shinglesNative(text, 3)
      val kernels = Seq(
        "strip_html" -> TextAnalysis.stripHtml(text),
        "collapse_ws" -> TextAnalysis.collapseLineWhitespace(text),
        "token_count" -> TextAnalysis.tokenCount(text),
        "alpha_ratio" -> TextAnalysis.alphaRatio(text),
        "gopher" -> TextAnalysis.gopherPass(text),
        "shingles" -> sh)
      val secs = kernels.map { case (k, c) => k -> agg(c) }.toMap
      secs.foreach { case (k, s) =>
        out.num(s"functions.${k}_ns_row", (s - base) / rows * 1e9)
      }
      val mh = agg(GraftFunctions.minhashSig(sh, 128))
      out.num("functions.minhash_ns_row", (mh - secs("shingles")) / rows * 1e9)
      input.unpersist(blocking = true)
    }
  }

  /** Operations run before the timed region, as part of set-up. The first
    * ones fall steeply while the JIT compiles (cold, then roughly 1.5x and
    * 1.2x the warm time on both workloads); after three, most of that
    * drift is behind the timed region. */
  val WarmUps = 3

  /** Rows the kernel probes run over. */
  val ProbeRows = 20000L
}
