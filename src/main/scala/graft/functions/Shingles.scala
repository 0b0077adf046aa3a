package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/**
 * Distinct token n-gram shingles of a token array — native Catalyst
 * expression. The result equals, row for row, the higher-order-function
 * chain
 * {{{
 * array_distinct(
 *   when(size(toks) < n, array(concat_ws(" ", toks)))
 *     .otherwise(transform(sequence(0, size(toks) - n),
 *       i => concat_ws(" ", slice(toks, i + 1, n)))))
 * }}}
 * (first-occurrence order; a window joins its non-null tokens with one
 * space; fewer than n tokens give the one whole-array shingle; a null
 * array gives null), but runs as one loop inside whole-stage codegen
 * instead of a per-element interpreted lambda.
 */
case class TokenShingles(child: Expression, n: Int) extends UnaryExpression
  with org.apache.spark.sql.graftshim.TypedInputs {
  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def expectedInputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override def nullSafeEval(input: Any): Any =
    Shingles.ngrams(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Shingles.ngrams($c, $n);")

  override def prettyName: String = "token_shingles"
  override protected def withNewChildInternal(newChild: Expression): TokenShingles =
    copy(child = newChild)
}

/**
 * Banded minhash signature of a shingle array: `bands` band hashes, each
 * over r = k / bands minhash rows — native Catalyst expression. Bit-identical
 * to the Spark-function definition the stored signature stores were built
 * with:
 * {{{
 * sh = transform(shingles, s => xxhash64(s))
 * band b = xxhash64(concat_ws(",",
 *   (b*r until (b+1)*r).map(i => array_min(transform(sh, h => xxhash64(h, i))).cast("string"))))
 * }}}
 * A null shingle array hashes like an empty one: every min is null, so each
 * band is `xxhash64("")` — a null text keeps its `bands` rows.
 */
case class MinhashBands(child: Expression, k: Int, bands: Int) extends UnaryExpression
  with org.apache.spark.sql.graftshim.TypedInputs {
  require(bands >= 1 && k >= bands, s"minhash bands need 1 <= bands <= k, got k=$k bands=$bands")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def expectedInputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override def eval(input: InternalRow): Any =
    Shingles.bandHashes(child.eval(input).asInstanceOf[ArrayData], k, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.Shingles.bandHashes(${c.isNull} ? null : ${c.value}, $k, $bands);""",
      isNull = FalseLiteral)
  }

  override def prettyName: String = "minhash_bands"
  override protected def withNewChildInternal(newChild: Expression): MinhashBands =
    copy(child = newChild)
}

object Shingles {

  /** Spark's `xxhash64` seed. */
  private val Seed = 42L

  /** The shingle kernel, shared by interpreted eval and generated code. */
  def ngrams(toks: ArrayData, n: Int): ArrayData = {
    val size = toks.numElements()
    if (size < n) return new GenericArrayData(Array[Any](joinWindow(toks, 0, size)))
    val out = new Array[Any](size - n + 1)
    val seen = new java.util.HashSet[UTF8String]()
    var m = 0
    var i = 0
    while (i + n <= size) {
      val s = joinWindow(toks, i, n)
      if (seen.add(s)) { out(m) = s; m += 1 }
      i += 1
    }
    new GenericArrayData(if (m == out.length) out else out.take(m))
  }

  /** `concat_ws(" ", toks[from until from + len])`: non-null tokens joined
    * by one space, copied once into one buffer. */
  private def joinWindow(toks: ArrayData, from: Int, len: Int): UTF8String = {
    var bytes = 0
    var parts = 0
    var i = from
    while (i < from + len) {
      if (!toks.isNullAt(i)) { bytes += toks.getUTF8String(i).numBytes; parts += 1 }
      i += 1
    }
    val buf = new Array[Byte](bytes + math.max(parts - 1, 0))
    var pos = 0
    var first = true
    i = from
    while (i < from + len) {
      if (!toks.isNullAt(i)) {
        if (!first) { buf(pos) = ' '; pos += 1 }
        first = false
        val t = toks.getUTF8String(i)
        t.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
        pos += t.numBytes
      }
      i += 1
    }
    UTF8String.fromBytes(buf)
  }

  /** The band kernel, shared by interpreted eval and generated code. Per
    * shingle: h = XXH64(bytes, 42), then row i's value XXH64.hashInt(i,
    * XXH64.hashLong(h, 42)) — Spark's `xxhash64(s)` and `xxhash64(h, i)`;
    * a null shingle hashes to the seed, as `xxhash64(null)` does. */
  def bandHashes(shingles: ArrayData, k: Int, bands: Int): ArrayData = {
    val r = k / bands
    val rows = bands * r
    val mins = Array.fill(rows)(Long.MaxValue)
    val m = if (shingles == null) 0 else shingles.numElements()
    var j = 0
    while (j < m) {
      val h = if (shingles.isNullAt(j)) Seed else {
        val s = shingles.getUTF8String(j)
        XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, Seed)
      }
      val hl = XXH64.hashLong(h, Seed)
      var i = 0
      while (i < rows) {
        val v = XXH64.hashInt(i, hl)
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      j += 1
    }
    val out = new Array[Long](bands)
    val sb = new java.lang.StringBuilder(r * 21)
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      // array_min of an empty array is null and concat_ws skips nulls: ""
      if (m > 0) {
        var i = b * r
        while (i < (b + 1) * r) {
          if (i > b * r) sb.append(',')
          sb.append(mins(i))
          i += 1
        }
      }
      val bytes = sb.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      out(b) = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, Seed)
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def tokenShingles(toks: Column, n: Int): Column =
    org.apache.spark.sql.graftshim.ColumnShim.column(
      TokenShingles(org.apache.spark.sql.graftshim.ColumnShim.expr(toks), n))

  def minhashBands(shingles: Column, k: Int, bands: Int): Column =
    org.apache.spark.sql.graftshim.ColumnShim.column(
      MinhashBands(org.apache.spark.sql.graftshim.ColumnShim.expr(shingles), k, bands))
}
