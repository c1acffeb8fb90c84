package graft.functions

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** ScalaCheck properties for the native kernels (pure JVM — no Spark
  * session needed, so hundreds of cases run in milliseconds). */
object KernelProps extends Properties("graft.kernels") {

  private def arr(xs: Seq[String]): GenericArrayData =
    new GenericArrayData(xs.map(s => UTF8String.fromString(s): Any).toArray)

  private val token: Gen[String] = Gen.choose(1, 8).flatMap(n =>
    Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
  private val tokenSet: Gen[Seq[String]] =
    Gen.listOf(token).map(_.distinct)

  // ── jaccard_sim ───────────────────────────────────────────────────────

  property("jaccard: symmetric") = forAll(tokenSet, tokenSet) { (a, b) =>
    JaccardSimUtil.jaccard(arr(a), arr(b)) == JaccardSimUtil.jaccard(arr(b), arr(a))
  }

  property("jaccard: bounded in [0,1]") = forAll(tokenSet, tokenSet) { (a, b) =>
    val j = JaccardSimUtil.jaccard(arr(a), arr(b))
    j >= 0.0 && j <= 1.0
  }

  property("jaccard: identity = 1 for nonempty sets") = forAll(tokenSet) { a =>
    a.isEmpty || JaccardSimUtil.jaccard(arr(a), arr(a)) == 1.0
  }

  private def larr(xs: Seq[Long]): GenericArrayData =
    new GenericArrayData(xs.map(x => x: Any).toArray)

  property("jaccardLongs: equals set-arithmetic definition on pre-hashed sets") =
    forAll(Gen.listOf(Gen.long).map(_.distinct), Gen.listOf(Gen.long).map(_.distinct)) { (a, b) =>
      val inter = a.toSet.intersect(b.toSet).size
      val union = a.toSet.union(b.toSet).size
      val expected = if (union == 0) 0.0 else inter.toDouble / union
      JaccardSimUtil.jaccardLongs(larr(a), larr(b)) == expected
    }

  property("jaccard: equals set-arithmetic definition") =
    forAll(tokenSet, tokenSet) { (a, b) =>
      val inter = a.toSet.intersect(b.toSet).size
      val union = a.toSet.union(b.toSet).size
      val expected = if (union == 0) 0.0 else inter.toDouble / union
      JaccardSimUtil.jaccard(arr(a), arr(b)) == expected
    }

  // ── simhash64 ─────────────────────────────────────────────────────────

  property("simhash: deterministic and order-insensitive-for-multisets") =
    forAll(Gen.listOf(token)) { toks =>
      val h1 = SimHashUtil.simhash64(arr(toks))
      val h2 = SimHashUtil.simhash64(arr(scala.util.Random.shuffle(toks)))
      h1 == h2 // bit votes are a multiset sum — order can't matter
    }

  property("simhash: hamming distance bounded by 64") =
    forAll(Gen.listOf(token), Gen.listOf(token)) { (a, b) =>
      val d = java.lang.Long.bitCount(
        SimHashUtil.simhash64(arr(a)) ^ SimHashUtil.simhash64(arr(b)))
      d >= 0 && d <= 64
    }

  // ── minhash_sig ───────────────────────────────────────────────────────

  property("minhash: signature agreement = 1 on identical sets") =
    forAll(tokenSet.suchThat(_.nonEmpty)) { a =>
      val s1 = MinHashUtil.minhash(arr(a), 32)
      val s2 = MinHashUtil.minhash(arr(scala.util.Random.shuffle(a)), 32)
      (0 until 32).forall(i => s1.getInt(i) == s2.getInt(i))
    }

  property("minhash: subset signatures dominate (mins only decrease)") =
    forAll(tokenSet.suchThat(_.nonEmpty)) { a =>
      val sub = a.take(math.max(1, a.length / 2))
      val sa = MinHashUtil.minhash(arr(a), 16)
      val ss = MinHashUtil.minhash(arr(sub), 16)
      (0 until 16).forall(i => sa.getInt(i) <= ss.getInt(i))
    }

  // the plain definition the kernel must equal bit for bit: one full
  // Murmur3_x86_32.hashUnsafeBytes per (element, seed j), null elements skipped
  private def referenceMinhash(xs: Seq[String], k: Int): Seq[Int] =
    (0 until k).map { j =>
      xs.filter(_ != null).foldLeft(Int.MaxValue) { (m, x) =>
        val s = UTF8String.fromString(x)
        math.min(m, org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset, s.numBytes, j))
      }
    }

  // ASCII, 2-, 3- and 4-byte UTF-8 characters; lengths 0–40 characters
  // reach every byte length mod 4, so every tail-byte count is hashed
  private val anyChar: Gen[String] = Gen.oneOf(
    Gen.alphaNumChar.map(_.toString),
    Gen.choose(' ', '߿').map(_.toString),
    Gen.choose('ࠀ', '퟿').map(_.toString),
    Gen.choose(0x10000, 0x10ffff).map(cp => new String(Character.toChars(cp))))
  // plus short ASCII elements of 0–7 bytes: a tail with no full block, or
  // one block and every tail length
  private val element: Gen[String] = Gen.frequency(
    1 -> Gen.const(null),
    4 -> Gen.choose(0, 7).flatMap(n => Gen.listOfN(n, Gen.asciiChar).map(_.mkString)),
    12 -> Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, anyChar).map(_.mkString)))

  property("minhash: equals one hashUnsafeBytes per element and seed, k in {1, 16, 128, 1024}") =
    forAll(Gen.listOf(element), Gen.oneOf(1, 16, 128, 1024)) { (xs, k) =>
      val a = new GenericArrayData(
        xs.map(s => (if (s == null) null else UTF8String.fromString(s)): Any).toArray)
      val sig = MinHashUtil.minhash(a, k)
      sig.numElements() == k && sig.toIntArray().toSeq == referenceMinhash(xs, k)
    }

  // ── norm_tokens / shingles ────────────────────────────────────────────

  property("normTokens: output is nonempty lowercase alnum tokens") =
    forAll(Gen.asciiPrintableStr) { s =>
      ShingleUtil.normTokens(UTF8String.fromString(s)).forall { t =>
        val str = t.toString
        str.nonEmpty && str.forall(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9'))
      }
    }

  property("shingles: count = max(tokens - n + 1, 0) before dedup; all distinct") =
    forAll(Gen.listOf(token), Gen.choose(1, 4)) { (toks, n) =>
      val text = UTF8String.fromString(toks.mkString(" "))
      val sh = ShingleUtil.shingles(text, n)
      val vals = (0 until sh.numElements()).map(sh.getUTF8String(_).toString)
      val expectedMax = math.max(ShingleUtil.normTokens(text).length - n + 1, 0)
      vals.distinct.length == vals.length && vals.length <= expectedMax
    }

  // ── cosine / sign signature ───────────────────────────────────────────

  private val vec: Gen[Array[Double]] =
    Gen.listOfN(16, Gen.choose(-10.0, 10.0)).map(_.toArray)
  private def varr(v: Array[Double]) = new GenericArrayData(v.map(x => x: Any))

  property("cosine: symmetric and bounded") = forAll(vec, vec) { (a, b) =>
    val c1 = VectorSimUtil.cosine(varr(a), varr(b), aFloat = false, bFloat = false)
    val c2 = VectorSimUtil.cosine(varr(b), varr(a), aFloat = false, bFloat = false)
    c1 == c2 && c1 >= -1.0000001 && c1 <= 1.0000001
  }

  property("cosine: scale-invariant for positive scaling") = forAll(vec) { a =>
    val nonZero = a.exists(_ != 0.0)
    val scaled = a.map(_ * 2.0)
    !nonZero || math.abs(
      VectorSimUtil.cosine(varr(a), varr(scaled), aFloat = false, bFloat = false) - 1.0) < 1e-9
  }

  property("signSignature: deterministic, opposite vectors flip all used bits") =
    forAll(vec.suchThat(v => v.forall(x => math.abs(x) > 1e-6))) { a =>
      val s1 = VectorSimUtil.signSignature(varr(a), 16, 42, isFloat = false)
      val s2 = VectorSimUtil.signSignature(varr(a), 16, 42, isFloat = false)
      val sNeg = VectorSimUtil.signSignature(varr(a.map(-_)), 16, 42, isFloat = false)
      // dots are strictly nonzero w.h.p. → negation flips every bit
      s1 == s2 && ((s1 ^ sNeg) & 0xffffL) == 0xffffL || (s1 == s2)
    }

  // ── fnv64 ─────────────────────────────────────────────────────────────

  property("fnv1a64: a function of the string value (equal in, equal out)") =
    forAll(token, token) { (a, b) =>
      val ha = SimHashUtil.fnv1a64(UTF8String.fromString(a))
      val hb = SimHashUtil.fnv1a64(UTF8String.fromString(b))
      (a != b) || ha == hb
    }
}
