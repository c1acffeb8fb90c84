package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Transform operators — SURVEY.md §2.3 (P1–P11).
  *
  * All narrow-dependency, codegen-friendly column operations: the whole
  * reference transform chain (dags/etl_pipeline.py:110–198) composes into a
  * single pipelined Spark stage with no shuffle (the one exception is
  * [[dedupExact]], which needs one).
  *
  * Coerce semantics (SURVEY §4.4): every failed parse becomes SQL NULL
  * (never NaN), matching pandas `errors="coerce"` intent; the reference's
  * int-cast crash quirk (etl_pipeline.py:138 raising on coerced NaN) is
  * deliberately NOT reproduced — coerce-then-drop is the documented intent
  * of its own comment at :141.
  */
object Transforms {

  /** P1–P5 — normalize a "tabular file with header" into canonical column
    * names, handling the reference's two physical layouts
    * (etl_pipeline.py:122–133):
    *
    *  - comma-packed: the first column's sampled values contain the
    *    delimiter → the whole table is one packed text column; split it
    *    into `names.length` columns (:128–129);
    *  - clean: positionally rename the first `names.length` columns
    *    (:131–133).
    *
    * The sniff (P2/P3) reads 5 non-null values of the first column, like
    * the reference's `df[c].dropna().astype(str).head(5)` (:123).
    */
  def normalizeDelimited(df: DataFrame, names: Seq[String], delim: String = ","): DataFrame = {
    val first = df.columns.head
    // one job: the sample comes to the driver, which decides
    val sample = df
      .select(col(first).cast("string").as("s"))
      .where(col("s").isNotNull)
      .limit(5)
      .collect()
    val packed = sample.exists(_.getString(0).contains(delim))
    if (packed) {
      // P4 — split, fixed arity expand into the canonical names.
      val parts = split(col(first).cast("string"), java.util.regex.Pattern.quote(delim))
      df.select(names.zipWithIndex.map { case (n, i) => parts.getItem(i).as(n) }: _*)
    } else {
      // P5 — positional rename of the leading columns.
      val keep = df.columns.take(names.length)
      df.select(keep.zip(names).map { case (c, n) => col(c).as(n) }: _*)
    }
  }

  /** Coercing cast: bad values → null, never throw. Spark 4 runs ANSI mode
    * by default (plain casts raise on malformed input), so coerce semantics
    * must be explicit `try_cast` — which also keeps the library correct
    * under either ANSI setting. */
  private def tryCast(c: String, to: String): Column =
    expr(s"try_cast(`$c` AS $to)").as(c)

  /** P6 — datetime parse with coerce: bad values → null (the exact
    * analogue of `pd.to_datetime(..., errors="coerce")`, etl_pipeline.py:137). */
  def coerceTimestamp(df: DataFrame, c: String): DataFrame =
    df.withColumn(c, try_to_timestamp(col(c)))

  /** The long coercion of column `c`: an integer string casts exactly,
    * and any other numeric string (`12.0`, `1e3`, `12.7`) through
    * double, truncated, so a value parses the same whatever the other
    * values of its column hold. Out of long's range, NaN and infinities
    * give null. */
  private def tryLong(c: String): Column =
    coalesce(expr(s"try_cast(`$c` AS LONG)"),
      expr(s"try_cast(try_cast(`$c` AS DOUBLE) AS LONG)")).as(c)

  /** P7 — numeric parse with coerce → long (etl_pipeline.py:138; see §4.4
    * for the deliberate no-crash divergence). */
  def coerceLong(df: DataFrame, c: String): DataFrame =
    df.withColumn(c, tryLong(c))

  /** P8 — numeric parse with coerce → double (etl_pipeline.py:139, :174). */
  def coerceDouble(df: DataFrame, c: String): DataFrame =
    df.withColumn(c, tryCast(c, "DOUBLE"))

  /** Apply a name→type coercion map in one projection (single codegen stage
    * rather than N `withColumn` layers). */
  def coerceSchema(df: DataFrame, casts: Map[String, String]): DataFrame = {
    val cols: Seq[Column] = df.columns.toSeq.map { c =>
      casts.get(c) match {
        case Some("timestamp") => try_to_timestamp(col(c)).as(c)
        case Some("long")      => tryLong(c)
        case Some(t)           => tryCast(c, t)
        case None              => col(c)
      }
    }
    df.select(cols: _*)
  }

  /** P9 — drop rows containing any null (df.dropna(), etl_pipeline.py:143, :185). */
  def dropNullRows(df: DataFrame): DataFrame = df.na.drop("any")

  /** P10 — exact full-row duplicate removal (df.drop_duplicates(),
    * etl_pipeline.py:178). Requires one shuffle on all columns; pandas
    * keeps first occurrence in file order, Spark keeps an arbitrary one —
    * irrelevant for exact duplicates (all survivors identical, SURVEY §4.4.4). */
  def dedupExact(df: DataFrame): DataFrame = df.dropDuplicates()
}
