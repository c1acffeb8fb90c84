package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
/** Dev measurement tool (optimization rounds): run named queries exactly
  * the way graft.Bench does, but with a job listener that prints each
  * Spark job's wall time and call site, plus the gaps between jobs
  * (driver-side planning/analysis time). This is how we attribute a
  * query's seconds to its materializing actions before touching anything
  * — guide §1 "measure first". Not part of the bench contract.
  *
  * Usage: sbt "runMain graft.ProfileQuery q_corpus_pipeline [q_...]"
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in Bench.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileQuery <queryName> [more...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    LocalSession.warmUp(spark, sfDir)

    case class JobRec(id: Int, t0: Long, var t1: Long = -1L,
        site: String = "", nTasks: Int = 0,
        stageIds: Seq[Int] = Seq.empty)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    // Per-stage attribution (round 17): a job's last-stage call site is
    // useless for AQE map-stage jobs (every one reads
    // "withThreadLocalCaptured at CompletableFuture") — record every
    // completed stage's name, task count, wall time and executor
    // run/CPU/GC totals so a slow job can be pinned to its actual stage.
    case class StageRec(name: String, nTasks: Int, wallMs: Long,
        runMs: Long, cpuMs: Long, gcMs: Long)
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // last stage's name carries the action's call site (e.g.
        // "count at Dedup.scala:2414") — the attribution we want
        val site = js.stageInfos.lastOption.map(_.name).getOrElse("?")
        val nt = js.stageInfos.map(_.numTasks).sum
        jobs.put(js.jobId, JobRec(js.jobId, System.nanoTime(), site = site,
          nTasks = nt, stageIds = js.stageInfos.map(_.stageId).toSeq))
        order.add(js.jobId)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val r = jobs.get(je.jobId)
        if (r != null) r.t1 = System.nanoTime()
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for (a <- si.submissionTime; b <- si.completionTime)
          yield b - a).getOrElse(-1L)
        val m = si.taskMetrics
        stages.put(si.stageId, StageRec(si.name, si.numTasks, wall,
          m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime))
      }
    })

    args.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[profile] unknown query: $name")
        case Some(fn) =>
          // one untimed warm pass? No — profile the FIRST pass too, then a
          // second pass: the bench medians over passes, so both matter.
          for (pass <- 1 to 2) {
            jobs.clear(); order.clear()
            val t0 = System.nanoTime()
            val n = fn(spark, sfDir).count()
            val wall = (System.nanoTime() - t0) / 1e9
            println(f"== $name pass $pass: wall $wall%.3f s  (count=$n)")
            var prevEnd = t0
            var jobSum = 0.0
            val it = order.iterator()
            while (it.hasNext) {
              val r = jobs.get(it.next())
              val gap = (r.t0 - prevEnd) / 1e9
              val dur = if (r.t1 < 0) -1.0 else (r.t1 - r.t0) / 1e9
              jobSum += math.max(dur, 0)
              println(f"   job ${r.id}%4d  gap ${gap}%7.3f  dur ${dur}%7.3f  tasks ${r.nTasks}%4d  ${r.site}")
              // stage detail for anything slow enough to matter
              if (dur > 0.25) r.stageIds.foreach { sid =>
                val s = stages.get(sid)
                if (s != null)
                  println(f"        stage $sid%5d wall ${s.wallMs / 1e3}%7.3f run ${s.runMs / 1e3}%8.3f cpu ${s.cpuMs / 1e3}%8.3f gc ${s.gcMs / 1e3}%6.3f tasks ${s.nTasks}%4d  ${s.name.take(90)}")
              }
              prevEnd = if (r.t1 > 0) r.t1 else r.t0
            }
            println(f"   [sum jobs $jobSum%.3f s; driver gaps ${wall - jobSum}%.3f s]")
            // pass-level executor totals across every completed stage of
            // this pass's jobs: wall-inflation vs CPU vs GC at a glance
            var (rt, ct, gt) = (0L, 0L, 0L)
            val it2 = order.iterator()
            while (it2.hasNext) {
              val r = jobs.get(it2.next())
              r.stageIds.foreach { sid =>
                val s = stages.get(sid)
                if (s != null) { rt += s.runMs; ct += s.cpuMs; gt += s.gcMs }
              }
            }
            println(f"   [executor totals: run ${rt / 1e3}%.1f s cpu ${ct / 1e3}%.1f s gc ${gt / 1e3}%.1f s]")
            stages.clear()
            spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
            spark.catalog.clearCache()
            System.gc(); Thread.sleep(150); System.gc()
          }
      }
    }
    spark.stop()
  }
}
