package graft
import org.apache.spark.sql.SparkSession

/** The `local[SPARK_GRAFT_CPUS]` session (default 32 cores) every graft
  * main runs on — Bench, Verify, Explain, PlanProbes, ProfileQuery:
  * shuffle partitions = cores, UI off, UTC, AQE on, and parquet
  * TIMESTAMP(NANOS) read as a long (SparkEntry re-derives the
  * TimestampType column).
  *
  * The generated-class cache holds 2000 entries instead of Spark's 100.
  * One warm corpus-pipeline pass alone touches ~94 entries (each
  * whole-stage class is compiled once when its plan is prepared and again
  * under the tasks' class loader), and the 100 entries are 4 LRU
  * segments of 25: a segment that overflows recompiles every class it
  * holds on every pass. */
private[graft] object LocalSession {
  def apply(logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Untimed warmup: exercise codegen/JIT and the parquet reader once so
    * the first timed query isn't charged for JVM warmup. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(0, 1000000L).selectExpr("sum(id)").collect()
    try spark.read.parquet(s"$sfDir/nation.parquet").count()
    catch { case scala.util.control.NonFatal(_) => }
  }
}
