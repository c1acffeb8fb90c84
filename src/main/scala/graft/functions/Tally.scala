package graft.functions

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, BindReferences, Cast, Expression, LeafExpression, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan, SparkStrategy, UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.LongType

/** A row tally: `child`'s rows unchanged, with each of `values` (long
  * expressions over the row) summed into a metric as the rows pass. A row
  * count is the value `1`. [[Tally.of]] builds one over a DataFrame.
  *
  * The node is a pushdown barrier: the optimizer moves no filter below it,
  * so it counts the rows of the frame it was put on, whatever a reader
  * filters later. Column pruning passes through it (its output is its
  * child's). Its exec is codegen'd, so a tally between two fused
  * operators keeps their stage whole. */
case class Tally(handle: TallyHandle, values: Seq[Expression], child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): Tally =
    copy(child = newChild)
}

object Tally {

  /** `df` tallied by the named long `values`, and the handle that reads
    * them after an action has run the returned frame. */
  def of(df: DataFrame, values: (String, Column)*): (DataFrame, TallyHandle) = {
    val spark = df.sparkSession
    GraftFunctions.register(spark)
    val handle = new TallyHandle(values.map(_._1))
    // resolve the value columns against df's plan, as a select would
    val (exprs, child) = df.select(values.map(_._2): _*).queryExecution.analyzed match {
      case Project(list, c) => (list.map { case a: Alias => a.child; case e => e }, c)
      case other => throw new IllegalStateException(s"tally values over $other")
    }
    val plan = Tally(handle,
      exprs.map(e => if (e.dataType == LongType) e else Cast(e, LongType)), child)
    (new org.apache.spark.sql.classic.Dataset[Row](
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan,
      ExpressionEncoder(plan.schema)), handle)
  }

  /** Plans [[Tally]]; [[GraftFunctions.register]] installs it once per
    * session. */
  private[functions] object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case Tally(handle, values, child) => TallyExec(handle, values, planLater(child)) :: Nil
      case _ => Nil
    }

    def install(spark: SparkSession): Unit = {
      val exp = spark.experimental
      if (!exp.extraStrategies.contains(this)) exp.extraStrategies :+= this
    }
  }
}

/** The driver side of one [[Tally]]: the metrics of every exec planned from
  * it. A frame can be planned more than once (each action, a self-join's
  * two sides, a rung that reads its input twice, AQE re-planning), and
  * each exec that runs sees every row of the frame, so a value is the
  * maximum over the execs: a duplicate counts the same rows, an exec that
  * never ran reads 0, and a partial read (`limit`, `isEmpty`) never beats
  * a full one. Accumulator merges are complete when an action returns, so
  * a read right after it is final. A plan that holds the handle can be
  * serialized with a task; only the driver's copy is ever read. */
final class TallyHandle private[functions] (val names: Seq[String]) extends Serializable {
  @transient private lazy val planned =
    new java.util.concurrent.ConcurrentLinkedQueue[Map[String, SQLMetric]]()
  @transient @volatile private var executed = false

  private[functions] def metricsFor(sc: SparkContext): Map[String, SQLMetric] = {
    val m = names.map(n => n -> SQLMetrics.createMetric(sc, n)).toMap
    planned.add(m)
    m
  }

  private[functions] def markExecuted(): Unit = executed = true

  /** Whether any exec planned from this tally has run. */
  def ran: Boolean = executed

  /** `name`'s value: the maximum over the execs that ran, 0 if none ran. */
  def apply(name: String): Long =
    planned.asScala.iterator.map(_(name).value).maxOption.getOrElse(0L)

  /** `name`'s value, or `fallback` with a warning when no exec ran (AQE
    * dropped the tallied subtree as empty, or the frame was never run). */
  def valueOr(name: String)(fallback: => Long): Long =
    if (executed) apply(name)
    else {
      System.err.println(
        s"[graft] WARN observed metric '$name' ($this) absent from the executed " +
          "plan (AQE empty-relation elision, or the tallied frame was never " +
          "materialized) - recomputing with an extra pass")
      fallback
    }

  override def toString: String = names.mkString("tally(", ", ", ")")
}

/** [[Tally]]'s exec: passes each row on and adds each value to its metric.
  * Each run of the exec starts its metrics from 0, as an action re-running
  * the same plan recounts its rows. It is codegen'd when its child is, so
  * it joins its child's stage; over an operator that is not codegen'd (an
  * exchange, a filter with an interpreted predicate) it runs interpreted,
  * and the stage above starts over it instead of over that operator. */
case class TallyExec(handle: TallyHandle, values: Seq[Expression], child: SparkPlan)
    extends UnaryExecNode with CodegenSupport {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override lazy val metrics: Map[String, SQLMetric] = handle.metricsFor(sparkContext)

  // the test CollapseCodegenStages applies to the child
  override def supportCodegen: Boolean = child match {
    case c: CodegenSupport if c.supportCodegen =>
      !c.expressions.exists(_.exists {
        case _: LeafExpression => false
        case e => e.isInstanceOf[CodegenFallback]
      }) && !(child +: child.children).exists(p =>
        WholeStageCodegenExec.isTooManyFields(conf, p.schema))
    case _ => false
  }

  private def start(): Unit = {
    handle.markExecuted()
    metrics.values.foreach(_.reset())
  }

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs()

  override protected def doProduce(ctx: CodegenContext): String = {
    start()
    child.asInstanceOf[CodegenSupport].produce(ctx, this)
  }

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String = {
    ctx.currentVars = input
    val adds = handle.names.zip(BindReferences.bindReferences(values, child.output)).map {
      case (name, e) =>
        val m = metricTerm(ctx, name)
        val ev = e.genCode(ctx)
        s"""${ev.code}
           |if (!${ev.isNull}) $m.add(${ev.value});""".stripMargin
    }
    s"""${adds.mkString("\n")}
       |${consume(ctx, input)}""".stripMargin
  }

  override protected def doExecute(): RDD[InternalRow] = {
    start()
    val ms = handle.names.map(metrics).toArray
    val bound = BindReferences.bindReferences(values, child.output).toArray
    child.execute().mapPartitions(_.map { r =>
      var i = 0
      while (i < bound.length) {
        val v = bound(i).eval(r)
        if (v != null) ms(i).add(v.asInstanceOf[Long])
        i += 1
      }
      r
    })
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TallyExec =
    copy(child = newChild)
}
