package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (SURVEY §5.2; one
  * SparkContext per JVM). Mirrors the Verify/Bench session config. */
object TestSparkSession {
  private def rm(path: String): Unit = {
    def loop(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(loop)); f.delete(): Unit
    }
    loop(new java.io.File(path))
  }

  lazy val spark: SparkSession = {
    // A fresh derby metastore must pair with a fresh warehouse dir —
    // leftover table locations from a previous JVM otherwise collide
    // with CREATE TABLE AS SELECT.
    rm("target/test-warehouse"); rm("target/derby"); rm("metastore_db")
    System.setProperty("derby.system.home", "target/derby")
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "target/test-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Spark jobs started while `f` runs (listener-counted; the async
    * listener bus gets 500 ms to drain before the count is read). */
  def jobsDuring(f: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(): Unit
      }
    }
    spark.sparkContext.addSparkListener(l)
    try { f; Thread.sleep(500) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  /** The query executions (SQL actions, checkpoints included) that `f`
    * runs, in completion order. Complete: after `f` it runs a marker
    * action and waits until the listener bus delivers it, and the bus
    * delivers in order. */
  def executionsDuring(f: => Unit): Seq[org.apache.spark.sql.execution.QueryExecution] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.QueryExecution
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = {
        seen.add(qe): Unit
      }
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val marker = "graft_executions_marker"
    def isMarker(qe: QueryExecution) = qe.analyzed.output.exists(_.name == marker)
    spark.listenerManager.register(l)
    try {
      f
      spark.range(1).toDF(marker).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(isMarker) && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally spark.listenerManager.unregister(l)
    val all = seen.asScala.toSeq
    require(all.exists(isMarker), "listener bus did not deliver the marker in 30 s")
    all.filterNot(isMarker)
  }
}
