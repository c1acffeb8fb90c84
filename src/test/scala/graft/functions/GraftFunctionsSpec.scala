package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSparkSession

class GraftFunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSparkSession.spark

  test("register twice: the second call replaces no registered function") {
    val registry = spark.sessionState.functionRegistry
    val names = Seq("graft_once", "minhash_sig", "shingles", "graft_bloom_might_contain")
    GraftFunctions.register(spark)
    val first = names.map(n => registry.lookupFunctionBuilder(FunctionIdentifier(n)))
    assert(first.forall(_.isDefined))
    GraftFunctions.register(spark)
    val second = names.map(n => registry.lookupFunctionBuilder(FunctionIdentifier(n)))
    first.zip(second).zip(names).foreach { case ((a, b), n) =>
      assert(a.get eq b.get, s"$n was replaced")
    }
  }

  test("register fills in a function missing from the session's registry") {
    val s2 = spark.newSession()
    GraftFunctions.register(s2)
    val registry = s2.sessionState.functionRegistry
    assert(registry.dropFunction(FunctionIdentifier("shingles")))
    GraftFunctions.register(s2)
    assert(registry.functionExists(FunctionIdentifier("shingles")))
    assert(s2.sql("SELECT shingles('a b c d', 3)").head().getSeq[String](0) ==
      Seq("a b c", "b c d"))
  }

  test("register replaces a foreign function that holds a graft name") {
    val s2 = spark.newSession()
    GraftFunctions.register(s2)
    val registry = s2.sessionState.functionRegistry
    val id = FunctionIdentifier("shingles")
    val graftBuilder = registry.lookupFunctionBuilder(id).get
    s2.udf.register("shingles", (t: String, n: Int) => Seq("foreign"))
    assert(s2.sql("SELECT shingles('a b c d', 3)").head().getSeq[String](0) == Seq("foreign"))
    GraftFunctions.register(s2)
    assert(registry.lookupFunctionBuilder(id).get eq graftBuilder)
    assert(s2.sql("SELECT shingles('a b c d', 3)").head().getSeq[String](0) ==
      Seq("a b c", "b c d"))
  }

  test("graft_once is the identity, computed once under the filters that read it") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // the repartition keeps the optimizer from folding the local rows
    val df = Seq((1L, "a b c d"), (2L, "x")).toDF("id", "t").repartition(1)
      .select($"id", graft.operators.Dedup.evaluateOnce(GraftFunctions.shinglesNative($"t", 3)).as("sh"))
      .where(org.apache.spark.sql.functions.size($"sh") > 0)
    assert(df.as[(Long, Seq[String])].collect().toSeq == Seq((1L, Seq("a b c", "b c d"))))
    val plan = df.queryExecution.optimizedPlan.toString
    assert("shingles\\(".r.findAllIn(plan).size == 1, plan)
    assert(!df.queryExecution.executedPlan.toString.contains("CollectMetrics"))
  }
}
