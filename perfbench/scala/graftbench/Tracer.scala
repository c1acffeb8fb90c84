package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Minimal JSON object writer: values are rendered as they are added. */
final class Json {
  private val fields = ArrayBuffer.empty[(String, String)]
  def raw(k: String, v: String): Json = { fields += k -> v; this }
  def num(k: String, v: Double): Json = raw(k, Json.num(v))
  def str(k: String, v: String): Json = raw(k, Json.str(v))
  def bool(k: String, v: Boolean): Json = raw(k, v.toString)
  def obj(k: String, v: Json): Json = raw(k, v.render)
  def nums(k: String, v: Seq[Double]): Json = raw(k, v.map(Json.num).mkString("[", ",", "]"))
  def strs(k: String, v: Seq[String]): Json = raw(k, v.map(Json.str).mkString("[", ",", "]"))
  def bools(k: String, v: Seq[Boolean]): Json = raw(k, v.mkString("[", ",", "]"))
  def objs(k: String, v: Seq[Json]): Json = raw(k, v.map(_.render).mkString("[", ",", "]"))
  def render: String =
    fields.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}

/** Counters for the jobs and tasks launched under one key. */
final class SpanStats {
  var jobs, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleWrite, spill, bytesRead, bytesWritten = 0L
}

/** Rolls Spark jobs and tasks up by key. A job's key is the
  * `perfbench.span` local property that [[Tracer.span]] sets around a call
  * into the program. Inside an operation that has no such span around the
  * call (the whole of `Pipeline.run`), the key is the layer that the job's
  * call site names ([[Tracer.layerOf]]): the call site of the SQL
  * execution that ran the job, else that of its stages. AQE stage and
  * broadcast jobs inherit the submitting thread's local properties, so
  * their tasks land under the key that caused them. */
final class LayerListener extends SparkListener {
  val stageKey = new ConcurrentHashMap[Int, String]()
  val byKey = new ConcurrentHashMap[String, SpanStats]()
  /** Job id -> (start ms, end ms, key), for time attribution and gaps. */
  val jobTimes = new ConcurrentHashMap[Int, (Long, Long, String)]()
  /** SQL execution id -> call site of the thread that started it. */
  private val execSites = new ConcurrentHashMap[Long, String]()
  @volatile var lastEventNs = System.nanoTime()

  private def stats(k: String): SpanStats = byKey.computeIfAbsent(k, _ => new SpanStats)

  private def keyOf(e: SparkListenerJobStart): String = {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty(Tracer.Prop))).getOrElse("other")
    if (!span.startsWith("op.")) span
    else {
      val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execSites.get(id.toLong)))
      (exec.toSeq ++ e.stageInfos.map(_.details)).flatMap(Tracer.layerOf)
        .headOption.getOrElse(span)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execSites.put(s.executionId, s.details)
    case _ =>
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val k = keyOf(e)
    e.stageIds.foreach(stageKey.put(_, k))
    stats(k).synchronized(stats(k).jobs += 1)
    jobTimes.put(e.jobId, (e.time, -1L, k))
    lastEventNs = System.nanoTime()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobTimes.computeIfPresent(e.jobId, (_, j) => j.copy(_2 = e.time))
    lastEventNs = System.nanoTime()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val st = stats(stageKey.getOrDefault(e.stageId, "other"))
    st.synchronized {
      st.tasks += 1
      if (m != null) {
        st.runMs += m.executorRunTime; st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.bytesRead += m.inputMetrics.bytesRead
        st.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
    lastEventNs = System.nanoTime()
  }

  /** Ended jobs as (start ms, end ms, key), by start. */
  def endedJobs: Seq[(Long, Long, String)] =
    jobTimes.values().asScala.toSeq.filter(_._2 >= 0).sortBy(_._1)
}

/** In-memory spans around calls into the program, plus the listener's
  * counts. Everything is written out once, at the end of the run. */
final class Tracer(spark: SparkSession) {
  val listener = new LayerListener
  /** (name, parent, op index, start ns, end ns) */
  val spans = ArrayBuffer.empty[(String, String, Int, Long, Long)]
  /** (start ms, end ms) of every traced operation. */
  val ops = ArrayBuffer.empty[(Long, Long)]
  private var opIndex = -1
  private var opName = ""
  private var opStartMs = 0L
  private val stack = ArrayBuffer.empty[String]
  private val t0 = System.nanoTime()

  def attach(): Unit = spark.sparkContext.addSparkListener(listener)

  /** Waits until the asynchronous listener bus has gone quiet and every
    * started job has ended, then detaches the listener. */
  def detach(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    def pending = listener.jobTimes.values().asScala.exists(_._2 < 0)
    while (System.nanoTime() < deadline &&
        (pending || System.nanoTime() - listener.lastEventNs < 300000000L))
      Thread.sleep(50)
    spark.sparkContext.removeSparkListener(listener)
  }

  def beginOp(name: String): Unit = {
    opIndex += 1; opName = name; opStartMs = System.currentTimeMillis()
    spark.sparkContext.setLocalProperty(Tracer.Prop, s"op.$name")
    stack += s"op.$name"
  }
  def endOp(): Unit = {
    ops += ((opStartMs, System.currentTimeMillis()))
    stack.clear()
    spark.sparkContext.setLocalProperty(Tracer.Prop, null)
  }

  def span[T](name: String)(f: => T): T = {
    val parent = stack.lastOption.getOrElse("")
    stack += name
    spark.sparkContext.setLocalProperty(Tracer.Prop, name)
    val s = System.nanoTime()
    try f
    finally {
      spans += ((name, parent, opIndex, s, System.nanoTime()))
      stack.remove(stack.size - 1)
      spark.sparkContext.setLocalProperty(Tracer.Prop, stack.lastOption.orNull)
    }
  }

  def spanSecs(name: String): Double =
    spans.filter(_._1 == name).map(s => (s._5 - s._4) / 1e9).sum

  private def jobsIn(op: (Long, Long)): Seq[(Long, Long, String)] =
    listener.endedJobs.filter(j => j._1 >= op._1 && j._1 <= op._2)

  /** Wall seconds of each job key over all traced operations. Each stretch
    * of an operation goes to the job running then or, before a job, to
    * that job: the driver work that prepares a job belongs to the call
    * that launches it. The tail after the last job goes to the last. */
  lazy val attributedSecs: Map[String, Double] = {
    val acc = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    ops.foreach { case op @ (os, oe) =>
      val jobs = jobsIn(op)
      var cur = os
      jobs.foreach { case (_, je, k) =>
        val e = math.min(math.max(cur, je), oe)
        acc(k) += (e - cur) / 1000.0
        cur = e
      }
      jobs.lastOption.foreach(j => acc(j._3) += (oe - cur) / 1000.0)
    }
    acc.toMap
  }

  private def sum(keys: Set[String])(f: SpanStats => Long): Double = {
    var t = 0L
    listener.byKey.forEach((k, v) => if (keys.contains(k)) t += f(v))
    t.toDouble
  }
  def bytesRead(keys: Set[String]): Double = sum(keys)(_.bytesRead)
  def bytesWritten(keys: Set[String]): Double = sum(keys)(_.bytesWritten)
  def jobs(keys: Set[String]): Double = sum(keys)(_.jobs)

  /** Engine metrics over all traced operations, per operation. */
  def spark_(out: Json, wall: Double, nOps: Int, cores: Int): Unit = {
    val all = listener.byKey.keySet().asScala.toSet
    val n = nOps.toDouble
    val run = sum(all)(_.runMs) / 1000
    out.num("spark.jobs", sum(all)(_.jobs) / n)
    out.num("spark.tasks", sum(all)(_.tasks) / n)
    out.num("spark.executor_run_s", run / n)
    out.num("spark.executor_cpu_s", sum(all)(_.cpuNs) / 1e9 / n)
    out.num("spark.gc_s", sum(all)(_.gcMs) / 1000 / n)
    out.num("spark.shuffle_write_mb", sum(all)(_.shuffleWrite) / 1e6 / n)
    out.num("spark.spill_mb", sum(all)(_.spill) / 1e6 / n)
    out.num("spark.input_mb", sum(all)(_.bytesRead) / 1e6 / n)
    out.num("spark.core_util", run / (wall * cores))
    out.num("driver.gap_s", gapSecs() / n)
  }

  /** Wall time inside operations during which no job was running. */
  def gapSecs(): Double = ops.map { case op @ (os, oe) =>
    var covered = 0L; var cur = os
    jobsIn(op).foreach { case (js, je, _) =>
      val s = math.max(js, cur); val e = math.min(je, oe)
      if (e > s) { covered += e - s; cur = e }
    }
    (oe - os - covered) / 1000.0
  }.sum

  def write(path: String): Unit = if (path.nonEmpty) {
    val j = new Json
    j.objs("spans", spans.toSeq.map { case (n, p, i, s, e) =>
      new Json().str("name", n).str("parent", p).num("op", i)
        .num("start_s", (s - t0) / 1e9).num("end_s", (e - t0) / 1e9)
    })
    val ms0 = ops.headOption.fold(0L)(_._1)
    j.objs("ops", ops.toSeq.map { case (s, e) =>
      new Json().num("start_s", (s - ms0) / 1e3).num("end_s", (e - ms0) / 1e3)
    })
    j.objs("jobs", listener.endedJobs.map { case (s, e, k) =>
      new Json().str("key", k).num("start_s", (s - ms0) / 1e3).num("end_s", (e - ms0) / 1e3)
    })
    val by = new Json
    listener.byKey.forEach { (k, v) =>
      by.obj(k, new Json().num("jobs", v.jobs).num("tasks", v.tasks)
        .num("run_s", v.runMs / 1000.0).num("cpu_s", v.cpuNs / 1e9)
        .num("gc_s", v.gcMs / 1000.0).num("shuffle_write_b", v.shuffleWrite)
        .num("spill_b", v.spill).num("read_b", v.bytesRead)
        .num("written_b", v.bytesWritten)
        .num("attributed_s", attributedSecs.getOrElse(k, 0.0)))
    }
    j.obj("listener", by)
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.write(Paths.get(path), j.render.getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  val Prop = "perfbench.span"

  /** The layer of a job whose call site (a stack, innermost frame first)
    * runs through the program: the innermost frame in package `graft`
    * decides. The counts and anything else `Pipeline.run` itself calls
    * belong to the transform step. */
  private val rules = Seq(
    """graft\.sources\..*""" -> "sources.open",
    """graft\.etl\.Warehouse.*""" -> "etl.load",
    """graft\.quality\..*|graft\.pipeline\.Pipeline\$\.\S*validate.*""" -> "quality.validate",
    """graft\.pipeline\.Pipeline\$.*|graft\.etl\..*""" -> "etl.transform"
  ).map { case (re, layer) => re.r -> layer }

  def layerOf(callSite: String): Option[String] =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft."))
      .flatMap(f => rules.collectFirst { case (re, l) if re.matches(f) => l })
}
