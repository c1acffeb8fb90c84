package graft
/** Benchmark main: per-query MEDIAN over `SPARK_GRAFT_BENCH_ITERS`
  * iterations (default 3) — a single-shot timing on a shared sandbox is
  * contention noise, not a measurement (round-1 lesson: the same 8 queries
  * measured 42.1 s in one run and 23.2 s in another). Failures are LOUD:
  * a query that throws contributes an entry to `"errors"` and a sentinel
  * `-1` timing instead of silently adding ~0 s to the total. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val spark = LocalSession()
    // Window comparability evidence (round-17; stderr only, outside the
    // timed regions and the stdout JSON contract): record the host load
    // at start and end so cross-window canary normalization stops being
    // inferred after the fact.
    def logLoad(tag: String): Unit =
      try System.err.println(s"[bench] $tag loadavg " +
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/loadavg"))).trim)
      catch { case scala.util.control.NonFatal(_) => }
    logLoad("start")
    LocalSession.warmUp(spark, sfDir)

    // Optional args: bench only the named queries (dev tool; the driver
    // invokes with no args and gets the full set).
    val selected =
      if (args.nonEmpty) SparkEntry.queries.filter(kv => args.contains(kv._1))
      else SparkEntry.queries

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) -1.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Iterate FULL PASSES (q1..qN, then again) rather than back-to-back
    // repeats of each query: back-to-back repeats overlap each other's
    // page-cache/JIT state much more than the driver's real usage does.
    val timings = selected.keys.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    for (_ <- 1 to iters) {
      selected.foreach { case (name, fn) =>
        if (!errors.contains(name)) {
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).count()
            timings(name) += (System.nanoTime() - t0) / 1e9
          } catch {
            // a fatal error (out of memory, stack overflow) ends the run:
            // the JVM's state no longer backs the later timings
            case scala.util.control.NonFatal(e) =>
              errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          }
          // UNTIMED between-query hygiene: evict blocks pinned by the
          // finished plan (localCheckpoint materializations wait on the
          // ContextCleaner, which lags driver GC) — without this, query
          // N+1 is measured under query N's storage-memory pressure and
          // a 1.5 s query reads 4+ s in a 54-query pass. No completed
          // plan is ever re-read across queries, so eviction is safe.
          // BLOCKING unpersist (async removal races the next query's
          // timed window), then an explicit GC: the old-gen garbage a
          // heavy query leaves behind (interpreted-HOF arrays, shuffle
          // buffers) otherwise surfaces as collection pauses INSIDE the
          // next queries' timed windows — the round-3 driver pass showed
          // exactly that signature (one heavy query ×3.7, scattered ×2–5
          // inflation of untouched trivial queries).
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = true))
          spark.catalog.clearCache()
          // Two GC passes with a short pause between: the first enqueues
          // the dead plans' weak/phantom references, the pause lets the
          // ContextCleaner thread drain its reference queue (it lags a
          // single gc — broadcast/shuffle cleanup would otherwise land
          // INSIDE the next query's timed window), and the second pass
          // collects what the cleaner just released.
          System.gc()
          Thread.sleep(150)
          System.gc()
        }
      }
    }

    logLoad("end")
    val results = selected.keys.map { name =>
      name -> (if (errors.contains(name)) -1.0 else median(timings(name).toSeq))
    }.toSeq
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    val qs = results.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    if (errors.nonEmpty)
      System.err.println(s"[bench] ${errors.size} quer(ies) FAILED: ${errors.keys.mkString(", ")}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","iters":$iters,"queries":$qs,"errors":$errJson,"sf":"$sfDir"}"""
    println(line)
    // ALSO write the record to a file: the driver reconstructs its
    // BENCH_r*.json from a ~2 KB stdout TAIL; at 130+ queries the full
    // line is ~4.5 KB, so the tail cuts the line's HEAD and the JSON no
    // longer parses ("parsed": null three rounds running) — a file
    // artifact survives any stdout framing. Path override via
    // SPARK_GRAFT_BENCH_OUT; default lands next to the repo's other
    // bench records.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}") }
    // LAST stdout line: a SHORT summary that fits whole inside any tail
    // window — the headline total (and failure count) parse even when
    // the per-query map only survives via the file artifact above.
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","iters":$iters,"n_queries":${results.size},"n_errors":${errors.size},"sf":"$sfDir","full":"$out"}""")
    spark.stop()
  }
}
