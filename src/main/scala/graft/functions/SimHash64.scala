package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native 64-bit SimHash over a token array (Charikar's similarity hash):
 * per token a splitmix64-finalized hash votes ±1 on each of 64 bit
 * positions; the signature's bit j is 1 iff the vote sum is positive.
 *
 * Implemented as a Catalyst expression (not a UDF) so the dedup scan stays
 * inside whole-stage codegen: the generated code calls [[SimHash64.hashTokens]]
 * directly on the unsafe array, no row boxing.
 */
case class SimHash64(child: Expression) extends UnaryExpression
  with org.apache.spark.sql.graftshim.TypedInputs {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  // analysis-time typing: a mistyped SQL call must fail analysis, not every task
  override def expectedInputTypes: Seq[DataType] =
    Seq(org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType))

  override def nullSafeEval(input: Any): Any =
    SimHash64.hashTokens(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimHash64.hashTokens($c);")

  override def prettyName: String = "simhash64"
  override protected def withNewChildInternal(newChild: Expression): SimHash64 = copy(child = newChild)
}

/** SimHash from an ALREADY-HASHED token array (array<long>): same voting
  * kernel, caller-supplied hash. Exists so the hash can be a PORTABLE one
  * (md5-derived) that an external oracle (DuckDB) can recompute bit-exactly. */
case class SimHash64FromHashes(child: Expression) extends UnaryExpression
  with org.apache.spark.sql.graftshim.TypedInputs {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def expectedInputTypes: Seq[DataType] =
    Seq(org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))

  override def nullSafeEval(input: Any): Any =
    SimHash64.hashLongs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimHash64.hashLongs($c);")

  override def prettyName: String = "simhash64_from_hashes"
  override protected def withNewChildInternal(newChild: Expression): SimHash64FromHashes =
    copy(child = newChild)
}

object SimHash64 {

  /** splitmix64 finalizer — deterministic, public-domain mixing constants. */
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** 64-bit string hash: FNV-1a over UTF-8 bytes, splitmix-finalized. Reads
    * the bytes in place (no copy per token). */
  def hashString(s: UTF8String): Long = {
    val base = s.getBaseObject
    val offset = s.getBaseOffset
    val n = s.numBytes
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < n) {
      h ^= Platform.getByte(base, offset + i) & 0xFFL
      h *= 0x100000001B3L
      i += 1
    }
    mix64(h)
  }

  /** The SimHash kernel, shared by interpreted eval and generated code. */
  def hashTokens(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = hashString(arr.getUTF8String(i))
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** Voting kernel over pre-hashed tokens (array<long>). */
  def hashLongs(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  def simhash64(c: Column): Column =
    org.apache.spark.sql.graftshim.ColumnShim.column(
      SimHash64(org.apache.spark.sql.graftshim.ColumnShim.expr(c)))

  def simhash64FromHashes(c: Column): Column =
    org.apache.spark.sql.graftshim.ColumnShim.column(
      SimHash64FromHashes(org.apache.spark.sql.graftshim.ColumnShim.expr(c)))
}
