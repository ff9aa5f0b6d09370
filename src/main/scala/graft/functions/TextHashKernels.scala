package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Tight-loop kernels for the dedup hot paths. Each is bit-for-bit
  * equal to a declared HOF spec form in [[graft.operators.Dedup]]
  * (asserted in FunctionsSpec) — the HOF trees run interpreted with
  * boxed closures, which made the signature projections the dominant
  * cost of d_minhash_pairs / d_simhash_pairs at sf0.1.
  */
object TextHash {
  def minhashText(text: Column, n: Int, numHashes: Int): Column =
    GraftBridge.column(MinHashText(GraftBridge.expression(text), n,
      numHashes))

  def simhashValue(w: Column, bits: Int): Column =
    GraftBridge.column(SimHashValue(GraftBridge.expression(w), bits))

  def shingles(w: Column, n: Int): Column =
    GraftBridge.column(Shingles(GraftBridge.expression(w), n))
}

/** One-pass shingle builder shared by eval and generated code. */
final class ShingleKernel(n: Int) extends Serializable {
  private val space = UTF8String.fromString(" ")

  def shingles(w: ArrayData): ArrayData = {
    val len = w.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    // LinkedHashSet = array_distinct's keep-first semantics
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i <= len - n) {
      var j = 0
      while (j < n) { parts(j) = w.getUTF8String(i + j); j += 1 }
      seen.add(UTF8String.concatWs(space, parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }
}

/** Distinct word n-gram shingles in first-occurrence order — equal to
  * `array_distinct(transform(sequence(1, size-n+1), i -> concat_ws(" ",
  * element_at(w,i)..element_at(w,i+n-1))))` with the empty array for
  * short docs, in one pass with no per-element closure dispatch.
  */
case class Shingles(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType)

  @transient private lazy val kernel = new ShingleKernel(n)

  override def nullSafeEval(v: Any): Any =
    kernel.shingles(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val h = ctx.addReferenceObj("shingleKernel", kernel,
      classOf[ShingleKernel].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $h.shingles($a);")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Shingles = copy(child = newChild)

  override def prettyName: String = "word_shingles"
}

/** FULLY fused text→signature MinHash kernel (round 6), the only
  * MinHash kernel: splits the raw UTF8String on single spaces IN PLACE —
  * limit -1 semantics, bit-equal to `split(text, " ")` (empties kept,
  * and a space byte never occurs inside a UTF-8 multi-byte sequence, so
  * the byte-level scan is exact) — and exploits that consecutive words
  * in the ORIGINAL text are already single-space-joined: an n-word
  * shingle's `concat_ws(" ", ...)` bytes are precisely a CONTIGUOUS
  * slice of the text, so each window hashes straight from the text's
  * base memory. Zero per-row allocation (no String, no regex, no words
  * array, no per-token UTF8Strings, no shingle buffer copy — only the
  * reused word-offset int buffer and the signature array). The round-6
  * kernel-only scaling probe showed the banding stage's 8→32
  * non-scaling residue lives in the split/allocation input path, not
  * the shuffle — this kernel removes that path.
  *
  * Hash family: ONE full XXH64 per shingle (`xxhash64(x)`, default seed
  * 42), then the seed-k value is an XXH64 long remix of that base — the
  * exact semantics of Spark's `xxhash64(lit(k), xxhash64(x))` (hashInt
  * of the k literal folded into the 42 start seed, hoisted per seed
  * since it is constant, then hashLong of the base). A per-seed remix of
  * a common 64-bit base is the standard production MinHash family: the
  * S-curve depends only on the per-hash collision probability
  * (= Jaccard), which any family of independent-looking permutations of
  * a collision-free base preserves (base collisions are 2⁻⁶⁴); fixture
  * recall is re-verified at 1.0 at sf0.01 AND sf0.1. 1 string hash +
  * 96 single-long mixes per shingle, all minima updated in ONE pass.
  * The per-seed minima are invariant to duplicate shingles, so hashing
  * every window equals hashing the distinct shingles `array_distinct`
  * keeps. Bit-equal to the HOF spec form
  * `Dedup.minhashSignatureHof(Dedup.shinglesOfHof(split(text, " ")))`
  * (FunctionsSpec, including split's limit -1 edge cases).
  */
final class MinHashTextKernel(n: Int, numHashes: Int)
    extends Serializable {
  import org.apache.spark.unsafe.Platform

  private val seedH: Array[Long] =
    Array.tabulate(numHashes)(k => XXH64.hashInt(k, 42L))

  @transient private lazy val localStarts: ThreadLocal[Array[Int]] =
    ThreadLocal.withInitial(() => new Array[Int](128))

  def signature(text: UTF8String): ArrayData = {
    val out = new Array[Any](numHashes)
    val nb = text.numBytes()
    val base = text.getBaseObject
    val off = text.getBaseOffset
    var starts = localStarts.get()
    var nWords = 1
    starts(0) = 0
    var p = 0
    while (p < nb) {
      if (Platform.getByte(base, off + p) == ' ') {
        if (nWords >= starts.length) {
          starts = java.util.Arrays.copyOf(starts, starts.length * 2)
          localStarts.set(starts)
        }
        starts(nWords) = p + 1
        nWords += 1
      }
      p += 1
    }
    if (nWords < n) return new GenericArrayData(out) // nulls, like the
    val mins = Array.fill(numHashes)(Long.MaxValue)   // no-shingle case
    var i = 0
    while (i <= nWords - n) {
      val s = starts(i)
      val e = if (i + n < nWords) starts(i + n) - 1 else nb
      val baseH = XXH64.hashUnsafeBytes(base, off + s, e - s, 42L)
      var k = 0
      while (k < numHashes) {
        val h = XXH64.hashLong(baseH, seedH(k))
        if (h < mins(k)) mins(k) = h
        k += 1
      }
      i += 1
    }
    var k = 0
    while (k < numHashes) { out(k) = mins(k); k += 1 }
    new GenericArrayData(out)
  }
}

/** `array<long>` MinHash signature straight from the raw text column. */
case class MinHashText(child: Expression, n: Int, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType)

  @transient private lazy val kernel = new MinHashTextKernel(n, numHashes)

  override def nullSafeEval(v: Any): Any =
    kernel.signature(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val h = ctx.addReferenceObj("minHashTextKernel", kernel,
      classOf[MinHashTextKernel].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $h.signature($a);")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : MinHashText = copy(child = newChild)

  override def prettyName: String = "minhash_text"
}

/** SimHash kernel: distinct tokens of the words array, each hashed to
  * the top `bits` bits of its md5 (= `conv(substring(md5(t),1,15),16,
  * 10)` for bits=60 — the value both engines can compute, which is what
  * keeps the DuckDB oracle exact), folded into per-bit majority votes.
  * Equals `simhashFromVotes(simhashVotes(w))` exactly: vote order is
  * irrelevant to the sums, and distinctness matches `array_distinct`.
  */
final class SimHashKernel(bits: Int) extends Serializable {
  // one digest per executor thread, reset per token — getInstance does a
  // JCA provider lookup, far too heavy for a per-ROW call in a kernel
  // (ADVICE r3); ThreadLocal because the kernel object is shared across
  // a task's codegen instances
  @transient private lazy val localMd: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  def value(words: ArrayData): Long = {
    val md = localMd.get()
    val seen = new java.util.HashSet[UTF8String]()
    val votes = new Array[Int](bits)
    val n = words.numElements()
    var i = 0
    while (i < n) {
      val w = words.getUTF8String(i)
      if (w != null && seen.add(w)) {
        md.reset()
        val d = md.digest(w.getBytes)
        // top 15 hex chars = first 60 bits: big-endian first 8 bytes,
        // shifted right 4 (the low nibble of byte 7 is hex char 16)
        var h = 0L
        var b = 0
        while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
        h >>>= 4
        var bit = 0
        while (bit < bits) {
          votes(bit) += (if (((h >>> bit) & 1L) == 1L) 1 else -1)
          bit += 1
        }
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < bits) {
      if (votes(bit) > 0) out |= 1L << bit
      bit += 1
    }
    out
  }
}

/** The `bits`-bit SimHash of a words array as one long. */
case class SimHashValue(child: Expression, bits: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  @transient private lazy val kernel = new SimHashKernel(bits)

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(kernel.value(v.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val h = ctx.addReferenceObj("simHashKernel", kernel,
      classOf[SimHashKernel].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $h.value($a);")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : SimHashValue = copy(child = newChild)

  override def prettyName: String = "simhash_value"
}
