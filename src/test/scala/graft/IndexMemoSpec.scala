package graft

import org.scalatest.funsuite.AnyFunSuite

/** SparkEntry.memoIndex: one memo of persisted index artifacts keyed by
  * (kind, scale dir). */
class IndexMemoSpec extends AnyFunSuite {
  test("two kinds built for the same dir get separate entries") {
    val dir = s"/memo-spec/${System.nanoTime}"
    val nd = SparkEntry.memoIndex("nd", dir)(path => ("nd", path))
    val fz = SparkEntry.memoIndex("fz", dir)(path => ("fz", path))
    assert(nd._1 == "nd" && fz._1 == "fz")
    assert(nd._2 != fz._2)
    assert(new java.io.File(nd._2).getName.startsWith("graft_ndidx"))
    assert(new java.io.File(fz._2).getName.startsWith("graft_fzidx"))
    assert(new java.io.File(nd._2).isDirectory && new java.io.File(fz._2).isDirectory)
  }

  test("a second call for the same key does not rebuild") {
    val dir = s"/memo-spec/${System.nanoTime}"
    var builds = 0
    val first = SparkEntry.memoIndex("ann", dir) { path => builds += 1; path }
    val second = SparkEntry.memoIndex("ann", dir) { path => builds += 1; s"$path-rebuilt" }
    assert(builds == 1)
    assert(first == second)
  }
}
