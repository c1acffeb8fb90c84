package graft.operators

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.TestSparkSession

/** ScalaCheck properties for the k-word Hamming-LSH banding
  * ([[Dedup.hammingPairs]]): on random one-word (64-bit) and two-word
  * (128-bit) hashes, the banded pairs equal the brute-force pairs at
  * EVERY legal bound — every chunk layout, including the two-word
  * layouts whose chunks straddle bit 64 — and the first illegal bound is
  * rejected. Besides random near-copies, each bound plants the pigeonhole
  * worst case: a copy at distance exactly maxHamming with one flipped bit
  * in every chunk but one, the bits drawn towards the chunk edges (where
  * an off-by-one in the layout or the key extraction shows). The
  * one-word hashes also drive the batch-vs-index media probes
  * ([[Dedup.removeNearDuplicateMediaIncremental]],
  * [[Dedup.mediaContaminationHits]]) against brute force. Each case
  * runs a few small Spark jobs per bound, so few cases run. */
object HammingBandProps extends Properties("graft.hamming") {
  private lazy val spark = TestSparkSession.spark

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(3)

  /** Chunk bit ranges [start, end) of `maxHamming + 1` near-equal chunks
    * over `bits` — the layout rule restated independently of the engine. */
  private def chunks(bits: Int, maxHamming: Int): Seq[(Int, Int)] = {
    val n = maxHamming + 1
    val widths = (0 until n).map(j => bits / n + (if (j < bits % n) 1 else 0))
    widths.scanLeft(0)(_ + _).zip(widths).map { case (s, w) => (s, s + w) }
  }

  private def flip(w: Vector[Long], bit: Int): Vector[Long] =
    w.updated(bit / 64, w(bit / 64) ^ (1L << (bit % 64)))

  /** Rows for one bound: random bases, near-copies flipping up to 20
    * random bits, and one worst-case copy per base. */
  private def rows(seed: Long, words: Int, maxHamming: Int): Seq[Vector[Long]] = {
    val rnd = new scala.util.Random(seed * 31 + maxHamming)
    val bits = 64 * words
    val bases = Seq.fill(2 + rnd.nextInt(3))(Vector.fill(words)(rnd.nextLong()))
    val copies = Seq.fill(bases.length * 3) {
      Seq.fill(rnd.nextInt(21))(rnd.nextInt(bits))
        .foldLeft(bases(rnd.nextInt(bases.length)))(flip)
    }
    val worst = bases.map { b =>
      val clean = rnd.nextInt(maxHamming + 1)
      chunks(bits, maxHamming).zipWithIndex.filter(_._2 != clean)
        .foldLeft(b) { case (w, ((s, e), _)) =>
          flip(w, rnd.nextInt(3) match {
            case 0 => s
            case 1 => e - 1
            case _ => s + rnd.nextInt(e - s)
          })
        }
    }
    bases ++ copies ++ worst
  }

  private def frame(rows: Seq[Vector[Long]], cols: Seq[String]): DataFrame = {
    import spark.implicits._
    val df = rows.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "w")
    df.select(df("id") +: cols.indices.map(i => df("w")(i).as(cols(i))): _*)
  }

  private def distance(a: Vector[Long], b: Vector[Long]): Int =
    a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum

  /** The media probes over the same one-word hashes, through their
    * precomputed-hash seams. One-sided incremental probe (even ids =
    * the existing index, odd ids = the incoming batch), single pass and
    * `staged` into 3 sub-batches: survivors == the brute-force taint
    * rule (components of the pairs within `h` that touch the batch; a
    * component holding an existing id drops all its incoming members,
    * else its min id survives). Cross decontamination probe (every row
    * against the rows with id % 3 == 0, overlapping id spaces): hits ==
    * the brute-force count of benchmark rows within `h`. */
  private def probesEqualBruteForce(rs: Seq[Vector[Long]], h: Int,
      staged: Boolean): Boolean = {
    val all = frame(rs, Seq("sh"))
    val (ex, in) = (all.where("id % 2 = 0"), all.where("id % 2 = 1"))
    def survivors(groups: Option[Int]) = Dedup.removeNearDuplicateMediaIncremental(
        ex, in.select("id"), "id", "type", "content", kind = "image",
        maxHamming = h, incomingHashes = Some(in), forceProbeGroups = groups)
      .collect().map(_.getLong(0)).toSet
    val parent = Array.tabulate(rs.length)(identity)
    def root(i: Int): Int = if (parent(i) == i) i else root(parent(i))
    for (a <- rs.indices; b <- rs.indices
         if a < b && (a % 2 == 1 || b % 2 == 1) && distance(rs(a), rs(b)) <= h)
      parent(math.max(root(a), root(b))) = math.min(root(a), root(b))
    val bruteSurvivors = rs.indices.groupBy(root).values.flatMap { c =>
      val inc = c.filter(_ % 2 == 1)
      if (inc.length < c.length) Nil else inc.take(1)
    }.map(_.toLong).toSet
    val hits = Dedup.mediaContaminationHits(all, all.where("id % 3 = 0"),
        "id", "type", "content", "image", maxHamming = h, corpusHashes = Some(all))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val bruteHits = rs.indices.map { c =>
      c.toLong -> rs.indices.count(b => b % 3 == 0 && distance(rs(c), rs(b)) <= h).toLong
    }.filter(_._2 > 0).toMap
    survivors(None) == bruteSurvivors && hits == bruteHits &&
      (!staged || survivors(Some(3)) == bruteSurvivors)
  }

  /** `probes`: also drive the media probes ([[probesEqualBruteForce]])
    * at every bound — staged at one seed-drawn bound per case, since
    * each staged run waits out its sub-batches' shuffle release. */
  private def bandedEqualsBruteForce(words: Seq[String],
      probes: Boolean = false): Prop =
    forAll(Gen.long) { seed =>
      val maxLegal = 16 * words.length - 1
      val stagedBound = java.lang.Math.floorMod(seed, maxLegal + 1)
      (0 to maxLegal).forall { h =>
        val rs = rows(seed, words.length, h)
        val banded = Dedup.hammingPairs(frame(rs, words), words, h)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
        val brute = (for {
          a <- rs.indices; b <- rs.indices if a < b
          d = distance(rs(a), rs(b)) if d <= h
        } yield (a.toLong, b.toLong, d)).toSet
        banded == brute &&
          (!probes || probesEqualBruteForce(rs, h, staged = h == stagedBound))
      } && Prop.throws(classOf[IllegalArgumentException]) {
        Dedup.hammingChunks(frame(rows(seed, words.length, 0), words), words,
          maxLegal + 1)
      }
    }

  property("one word: banded pairs == brute force at every maxHamming 0-15; 16 rejected") =
    bandedEqualsBruteForce(Seq("sh"), probes = true)

  property("two words: banded pairs == brute force at every maxHamming 0-31; 32 rejected") =
    bandedEqualsBruteForce(Seq("lo", "hi"))
}
