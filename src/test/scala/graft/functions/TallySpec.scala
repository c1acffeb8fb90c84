package graft.functions

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.execution.{CollectMetricsExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSparkSession

class TallySpec extends AnyFunSuite {
  private lazy val spark = TestSparkSession.spark
  import TestSparkSession.spark.implicits._

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  // the same frame counted by a CollectMetrics node, in a separate action
  private def observed(df: DataFrame): Long = {
    val o = Observation()
    df.observe(o, count(lit(1)).as("n")).foreach(_ => ())
    o.get("n").asInstanceOf[Long]
  }

  private def chain = spark.range(0, 20000, 1, 4).toDF("id")
    .where($"id" % 7 =!= 3).select(($"id" * 3).as("x"), $"id")

  test("a tally between codegen'd operators stays in one codegen stage and counts every row") {
    val (t, h) = Tally.of(chain, "rows" -> lit(1L), "x_sum" -> $"x")
    val out = t.where($"x" % 2 === 0).select(($"x" + 1).as("y"))
    out.collect()
    val ns = nodes(out.queryExecution.executedPlan)
    val stages = ns.collect { case w: WholeStageCodegenExec => w }
    assert(stages.size == 1, out.queryExecution.executedPlan.toString)
    assert(nodes(stages.head.child).exists(_.isInstanceOf[TallyExec]))
    assert(!ns.exists(_.isInstanceOf[CollectMetricsExec]))
    assert(h.ran)
    assert(h("rows") == observed(chain))
    assert(h("x_sum") == chain.agg(sum($"x")).head().getLong(0))
  }

  test("a filter above the tally is not pushed below it; pruning reaches the scan") {
    val dir = java.nio.file.Files.createTempDirectory("tally").toString + "/t"
    spark.range(0, 100).select($"id", ($"id" * 2).as("b"), lit("pad").as("c"))
      .write.parquet(dir)
    val (t, h) = Tally.of(spark.read.parquet(dir), "rows" -> lit(1L))
    val out = t.where($"id" < 10).select($"id")
    val opt = out.queryExecution.optimizedPlan.toString
    assert(opt.indexOf("Filter") < opt.indexOf("Tally"), opt)
    val scan = out.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema: struct<id:bigint>"), scan)
    assert(out.count() == 10L && h("rows") == 100L)
  }

  test("a self-join, a limit(1) probe first and a re-run of one frame read the full count") {
    val (t, h) = Tally.of(chain, "rows" -> lit(1L))
    val n = observed(chain)
    assert(!t.isEmpty)
    assert(h.ran && h("rows") < n, "the probe reads part of the frame")
    val joined = t.as("a").join(t.as("b"), $"a.id" === $"b.id")
    assert(joined.count() == n)
    assert(h("rows") == n)
    val rows = t.select($"id")
    rows.collect(); rows.collect()
    assert(h("rows") == n, "a second run of the same plan recounts, it does not add")
  }

  test("the interpreted path counts as the codegen'd one") {
    val conf = spark.conf
    conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val (t, h) = Tally.of(chain, "rows" -> lit(1L), "x_sum" -> $"x")
      t.collect()
      assert(h("rows") == observed(chain))
      assert(h("x_sum") == chain.agg(sum($"x")).head().getLong(0))
    } finally conf.unset("spark.sql.codegen.wholeStage")
  }

  test("a written frame's tally is read right after the write; an unrun one falls back loudly") {
    spark.sql("CREATE DATABASE IF NOT EXISTS test_tally")
    val (t, h) = Tally.of(spark.range(0, 7, 1, 3).toDF("id"), "rows" -> lit(1L))
    t.write.mode("overwrite").saveAsTable("test_tally.seven")
    assert(h.ran && h.valueOr("rows")(-1L) == 7L)
    val (_, never) = Tally.of(spark.range(3).toDF("id"), "rows" -> lit(1L))
    val buf = new java.io.ByteArrayOutputStream()
    val prev = System.err
    val got =
      try {
        System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
        never.valueOr("rows")(42L)
      } finally System.setErr(prev)
    assert(!never.ran && got == 42L)
    val msg = buf.toString("UTF-8")
    assert(msg.contains("[graft] WARN observed metric 'rows'") && msg.contains("recomputing"), msg)
  }
}
