package graft.operators

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.TestSparkSession

/** ScalaCheck properties for [[Dedup.resolveClusters]]: on random pair
  * sets its labels equal a driver-side union-find's component minimum.
  * Each case mixes components of every shape the dedup families produce
  * or a page history can: paths with shuffled ids (the deep case),
  * stars, cliques and sparse random graphs, over disjoint id sets, plus
  * duplicate, reversed and self-loop pairs. Each case runs a few small
  * Spark jobs per round, so few cases run. */
object ClusterProps extends Properties("graft.cc") {
  private lazy val spark = TestSparkSession.spark

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  /** One component's pairs over `ids` (distinct, in random order). */
  private def component(kind: Int, ids: Seq[Long], rnd: Random): Seq[(Long, Long)] =
    kind match {
      case 0 => ids.zip(ids.drop(1))
      case 1 => ids.drop(1).map(ids.head -> _)
      case 2 => ids.combinations(2).map(p => (p(0), p(1))).toSeq
      case _ => Seq.fill(ids.length)((ids(rnd.nextInt(ids.length)), ids(rnd.nextInt(ids.length))))
    }

  /** A random pair set: one component of each shape and a few more, then
    * repeats (some reversed) and self-loops, in random order. */
  private def pairSet(seed: Long): Seq[(Long, Long)] = {
    val rnd = new Random(seed)
    val ids = rnd.shuffle((1 to 400).map(_ => rnd.nextLong() % 1000000L).distinct)
    val sizes = Seq(2 + rnd.nextInt(120), 2 + rnd.nextInt(20), 2 + rnd.nextInt(8),
      2 + rnd.nextInt(40)) ++ Seq.fill(rnd.nextInt(4))(1 + rnd.nextInt(30))
    val blocks = sizes.scanLeft(0)(_ + _).zip(sizes)
      .map { case (from, n) => ids.slice(from, from + n) }
    val pairs = blocks.zipWithIndex.flatMap { case (b, i) => component(i % 4, b, rnd) }
    val repeats = Seq.fill(rnd.nextInt(10))(pairs(rnd.nextInt(pairs.length)))
      .map { case (a, b) => if (rnd.nextBoolean()) (b, a) else (a, b) }
    val loops = Seq.fill(rnd.nextInt(5))(ids(rnd.nextInt(ids.length))).map(i => (i, i))
    rnd.shuffle(pairs ++ repeats ++ loops)
  }

  /** Node → its component's minimum id, by union-find on the driver. */
  private def unionFindMin(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def root(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = root(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (root(a), root(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> root(x)).toMap
  }

  private def labels(pairs: DataFrame): Map[Long, Long] =
    Dedup.resolveClusters(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  property("labels == union-find component minimum") = forAll(Gen.long) { seed =>
    import spark.implicits._
    val pairs = pairSet(seed)
    labels(pairs.toDF("id_a", "id_b")) == unionFindMin(pairs)
  }

  property("the empty pair set has no labels") = Prop {
    import spark.implicits._
    labels(Seq.empty[(Long, Long)].toDF("id_a", "id_b")).isEmpty
  }
}
