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
}
