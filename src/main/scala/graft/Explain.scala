package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan inspector: the formatted physical plan of registered queries.
  * Used to audit the scale properties the engine promises — parquet
  * PushedFilters, pruned ReadSchema, BroadcastHashJoin on dimension
  * sides, partial aggregation, and WholeStageCodegen coverage — and to
  * commit before/after plan evidence with an optimization.
  *
  * Usage:
  *   graft.Explain [query ...]                  print (all queries if none named)
  *   graft.Explain <outDir> <suffix> query ...  write <outDir>/<query>_<suffix>.txt
  * The file form is the one whose first argument names no registered
  * query. Env: SPARK_GRAFT_SF_DIR (default sf0.001 for printing, sf0.1
  * for files), SPARK_GRAFT_CPUS as in Bench. Building a query's frame
  * runs the operators' eager materializations; the plan shown is the
  * final plan the bench action executes. */
object Explain {
  def main(args: Array[String]): Unit = {
    val toFiles = args.nonEmpty && !SparkEntry.queries.contains(args(0))
    require(!toFiles || args.length >= 3,
      "usage: Explain [query ...] | Explain <outDir> <suffix> <query ...>")
    val names =
      if (toFiles) args.drop(2).toSeq
      else if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      if (toFiles) "/root/testdata/sf0.1" else "/root/testdata/sf0.001")
    val spark = LocalSession(logLevel = "ERROR")
    if (toFiles) new java.io.File(args(0)).mkdirs()
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[explain] unknown query: $name")
        case Some(fn) =>
          val txt = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
          if (!toFiles) println(s"\n========== $name ==========\n$txt")
          else {
            val out = s"${args(0)}/${name}_${args(1)}.txt"
            java.nio.file.Files.writeString(java.nio.file.Paths.get(out), txt)
            println(s"[explain] wrote $out")
          }
      }
    }
    spark.stop()
  }
}
