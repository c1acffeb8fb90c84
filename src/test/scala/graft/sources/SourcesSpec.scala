package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSparkSession

/** `Sources.tabular`'s "auto" format pick: the extension comes from the
  * path's last segment only. */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSparkSession.spark

  private def noFormat(path: String): IllegalArgumentException = {
    val e = intercept[IllegalArgumentException](Sources.tabular(spark, path))
    assert(e.getMessage.contains(s"'$path'"), e.getMessage)
    assert(e.getMessage.contains("csv, json, parquet, xlsx"), e.getMessage)
    e
  }

  test("tabular auto: a dot in a directory name is not an extension") {
    // the old sniff read "2/sales" as the format here
    noFormat("/data/v1.2/sales")
  }

  test("tabular auto: a path without any extension names no format") {
    // the old sniff took the whole path as the format
    noFormat("/data/sales")
    noFormat("/data/sales/")
  }

  test("tabular auto: x.csv reads as CSV, also under a dotted directory") {
    val p = Paths.get("target/fixtures/v1.2/x.csv")
    Files.createDirectories(p.getParent)
    Files.writeString(p, "a,b\n1,x\n2,y\n")
    for (path <- Seq(p.toString, p.toAbsolutePath.toString)) {
      val df = Sources.tabular(spark, path)
      assert(df.columns.toSeq == Seq("a", "b"))
      assert(df.count() == 2)
    }
  }
}
