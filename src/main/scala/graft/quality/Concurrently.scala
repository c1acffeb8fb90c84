package graft.quality

import java.util.concurrent.{ExecutionException, Executors}

import scala.util.{Failure, Try}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** Submits independent Spark actions at once: the reference DAG's two load
  * branches (`Pipeline.run`) and the validation suite's query groups
  * ([[ValidationSuite.run]]). */
private[graft] object Concurrently {

  /** One pool, as wide as the widest fan-out (the SQL form's nine
    * validation queries). Only callers of [[apply]] submit to it, never
    * an action running on it, so no pool thread ever waits on another. */
  private lazy val pool = Executors.newFixedThreadPool(9, { (r: Runnable) =>
    val t = new Thread(r, "graft-concurrently")
    t.setDaemon(true)
    t
  })

  /** Runs `actions` at the same time and returns their results in order.
    * Each runs with the caller's local properties and active session
    * (job group, description, scheduler pool), so its jobs belong to the
    * caller's job group. Waits for every action, then rethrows the first
    * failure in submission order as itself, the later ones suppressed.
    * The `Try` keeps a failing action from skipping the pool thread's
    * restore of its own properties. */
  def apply[T](spark: SparkSession)(actions: (() => T)*): Seq[T] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val submitted = actions.map(a => SQLExecution.withThreadLocalCaptured(session, pool)(Try(a())))
    val outcomes = submitted.map { f =>
      try f.get() catch { case e: ExecutionException => Failure(e.getCause) }
    }
    outcomes.collect { case Failure(e) => e } match {
      case first +: later =>
        later.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      case _ => outcomes.map(_.get)
    }
  }
}
