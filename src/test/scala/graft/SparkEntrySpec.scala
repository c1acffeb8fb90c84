package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract smoke: every queries entry runs at sf0.001; entry()
  * returns rows; oracleSql keys all exist in queries; the pipeline
  * variants in [[oracleParity]] match their DuckDB oracle row for row. */
class SparkEntrySpec extends AnyFunSuite {
  lazy val spark = TestSparkSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** Pipeline variants whose DuckDB oracle runs here. Together they
    * exercise every shared oracle fragment (html/gopher/line dedup, c4,
    * url, the ml gate, semantic, media and mix); the other variants'
    * oracles take minutes in DuckDB and are left to graft.Verify plus
    * the DuckDB compare. */
  private val oracleParity = Set("q_corpus_pipeline", "q_corpus_pipeline_c4",
    "q_corpus_pipeline_c4_lines", "q_corpus_pipeline_url",
    "q_corpus_pipeline_ml", "q_corpus_pipeline_full")

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** (sorted column names, sorted rows of stringified values in column
    * name order) of `sql` run by DuckDB over the sf0.001 parquet. */
  private def duckRows(sql: String): (Seq[String], Seq[String]) = {
    val con = java.sql.DriverManager.getConnection("jdbc:duckdb:")
    try {
      val st = con.createStatement()
      tables.foreach(tb => st.execute(
        s"CREATE VIEW $tb AS SELECT * FROM read_parquet('$sfDir/$tb.parquet')"))
      val rs = st.executeQuery(sql)
      val md = rs.getMetaData
      val cols = (1 to md.getColumnCount).map(i => md.getColumnName(i) -> i).sortBy(_._1)
      val rows = Iterator.continually(rs).takeWhile(_.next())
        .map(r => cols.map { case (_, i) => s"${r.getObject(i)}" }.mkString("|")).toVector
      (cols.map(_._1), rows.sorted)
    } finally con.close()
  }

  private def sparkRows(df: org.apache.spark.sql.DataFrame): (Seq[String], Seq[String]) = {
    val cols = df.columns.toSeq.sorted
    val rows = df.collect().toVector
      .map(r => cols.map(c => s"${r.get(r.fieldIndex(c))}").mkString("|"))
    (cols, rows.sorted)
  }

  test("entry() returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"query $name runs at sf0.001") {
      val df = fn(spark, sfDir)
      assert(df.columns.nonEmpty)
      assert(df.count() >= 0)
      if (oracleParity(name))
        assert(sparkRows(df) == duckRows(SparkEntry.oracleSql(name)))
    }
  }
}
