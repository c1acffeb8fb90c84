package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Source readers — SURVEY.md §2.1 (S1–S4).
  *
  * The reference reads an Excel sheet (dags/etl_pipeline.py:70), a JSON
  * document containing an array of records (:92), stage-intermediate CSVs
  * (:117, :169, :227, :248) and warehouse tables by name (:285 etc.).
  * Here each becomes a lazy Spark scan. The CSV and Excel readers type
  * nothing: the transforms' coercing casts do all of the typing, per row.
  */
object Sources {

  /** S3 — CSV with a header row (pd.read_csv, etl_pipeline.py:117). No
    * type inference: every column is a string, as in [[excel]]. An
    * inference pass would scan the whole file once more before the read,
    * and pick one type per column from every value in it, so one bad
    * value would change how the column's good values parse; the
    * transforms' `try_cast`s type each value on its own instead
    * (`Transforms.coerceSchema`). Opening the file reads its header
    * line (one small job). */
  def csv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .csv(path)

  /** S2 — one JSON document holding an array of records
    * (pd.read_json semantics, etl_pipeline.py:92). `multiLine=true` is
    * required: Spark's default reader expects line-delimited JSON, while
    * the reference parses a single document. */
  def json(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").json(path)

  /** S1 — Excel workbook scan (pd.read_excel semantics,
    * etl_pipeline.py:70): first sheet, header row, string cells. Backed
    * by the zero-dependency [[ExcelSource]] DataSourceV2 (xlsx = zip of
    * XML; JDK-only parse — SURVEY §7.4 phase-2). */
  def excel(spark: SparkSession, path: String): DataFrame =
    spark.read.format("xlsx").load(path)

  /** "Tabular file with header" — pluggable by format name; picks the
    * format from the extension of the path's last segment when called
    * with "auto" (a dot in a directory name is not an extension). */
  def tabular(spark: SparkSession, path: String, format: String = "auto"): DataFrame =
    (if (format == "auto") extension(path) else format) match {
      case "csv"            => csv(spark, path)
      case "json"           => json(spark, path)
      case "parquet"        => parquet(spark, path)
      case "xlsx" | "excel" => excel(spark, path)
      case other            => spark.read.format(other).load(path)
    }

  /** The extension of `path`'s last segment, for `tabular`'s "auto". */
  private def extension(path: String): String = {
    val name = path.stripSuffix("/").split("[/\\\\]").last
    name.lastIndexOf('.') match {
      case i if i > 0 && i < name.length - 1 => name.substring(i + 1)
      case _ => throw new IllegalArgumentException(
        s"cannot pick a format for '$path': its last segment has no extension " +
          "(known formats: csv, json, parquet, xlsx); pass the format explicitly")
    }
  }

  /** Columnar scan — the engine-native stage format (replaces the
    * reference's lossy /tmp CSV hand-off, etl_pipeline.py:73–78). */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** S4 — warehouse table scan by name (FROM `proj.dataset.table`,
    * etl_pipeline.py:285). */
  def table(spark: SparkSession, name: String): DataFrame =
    spark.table(name)

  /** Driver-testdata helper: `<sfDir>/<name>.parquet` (TESTDATA.md). */
  def testTable(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Normalize an event-log timestamp column to session-timezone
    * `TimestampType`, whatever physical encoding the parquet shipped:
    *  - `LongType` — TIMESTAMP(NANOS) read under
    *    `spark.sql.legacy.parquet.nanosAsLong=true`; integer `DIV 1000`
    *    (ns-since-epoch ~1.7e18 exceeds double's 2^53 exact range, so a
    *    floating divide would corrupt timestamps);
    *  - `TimestampNTZType` — plain `timestamp[us]` parquet; the cast
    *    interprets the wall-clock in the session timezone (UTC in every
    *    graft session), an instant-preserving reinterpretation;
    *  - already `TimestampType` — pass through.
    * Keeps every downstream operator and oracle on one timestamp flavor
    * regardless of which writer produced the file. */
  def normalizeTs(df: DataFrame, tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(tsCol).dataType match {
      case LongType =>
        df.withColumn(tsCol, timestamp_micros(expr(s"`$tsCol` DIV 1000")))
      case TimestampNTZType =>
        df.withColumn(tsCol, col(tsCol).cast(TimestampType))
      case _ => df
    }
  }
}
