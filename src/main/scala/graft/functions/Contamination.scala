package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * A benchmark's gram sets, indexed on the driver for the decontamination
 * kernel. Benchmark rows group on (bench_id, n_bench), n_bench being the
 * row's distinct-gram count; `grams` maps each gram to the groups of the
 * rows holding it, one entry per such row (so a duplicated row counts twice,
 * as a join over the exploded rows does).
 *
 * @param benchIds per group, its bench_id as a Catalyst value
 * @param nBench per group, its n_bench
 */
final class BenchIndex(val grams: java.util.HashMap[UTF8String, Array[Int]],
                       val benchIds: Array[Any], val nBench: Array[Long]) extends Serializable

/**
 * The decontamination kernel: a document's distinct gram array against a
 * broadcast [[BenchIndex]] — native Catalyst expression, one hash lookup per
 * document gram (the lookups a gram join makes, without its shuffle). The
 * result lists each benchmark group the document covers at `frac >= minFrac`:
 * `(bench_id, n_shared, n_bench, frac)`, in group order, with n_shared the
 * number of (document gram, benchmark row gram) matches of the group and
 * frac [[Contamination.frac]]. A null array covers nothing (an empty list).
 */
case class BenchCoverage(child: Expression, index: Broadcast[BenchIndex], benchType: DataType,
                         minFrac: Double) extends UnaryExpression
  with org.apache.spark.sql.graftshim.TypedInputs {

  override def dataType: DataType = Contamination.coverageType(benchType)
  override def nullable: Boolean = false
  override def expectedInputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override def eval(input: InternalRow): Any =
    Contamination.covered(child.eval(input).asInstanceOf[ArrayData], index.value, minFrac)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val idx = ctx.addReferenceObj("benchIndex", index, classOf[Broadcast[_]].getName)
    val bits = java.lang.Double.doubleToRawLongBits(minFrac)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.Contamination.covered(
        ${c.isNull} ? null : ${c.value}, (graft.functions.BenchIndex) $idx.value(),
        java.lang.Double.longBitsToDouble(${bits}L));""",
      isNull = FalseLiteral)
  }

  override def prettyName: String = "bench_coverage"
  override protected def withNewChildInternal(newChild: Expression): BenchCoverage =
    copy(child = newChild)
}

object Contamination {

  private val Empty = new GenericArrayData(Array.empty[Any])

  def coverageType(benchType: DataType): ArrayType = ArrayType(StructType(Seq(
    StructField("bench_id", benchType),
    StructField("n_shared", LongType, nullable = false),
    StructField("n_bench", LongType, nullable = false),
    StructField("frac", DoubleType, nullable = false))), containsNull = false)

  /** Spark's `round(n_shared / n_bench, 6)` on doubles: HALF_UP on the
    * quotient's shortest decimal form. */
  def frac(nShared: Long, nBench: Long): Double = {
    val d = nShared.toDouble / nBench.toDouble
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
  }

  /** The index of collected `(bench_id, grams)` rows, `benchType` being
    * bench_id's type. A row with null grams (a null text) matches nothing. */
  def index(rows: Array[Row], benchType: DataType): BenchIndex = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(benchType)
    val groups = scala.collection.mutable.LinkedHashMap[(Any, Long), Int]()
    val byGram = scala.collection.mutable.HashMap[UTF8String, scala.collection.mutable.ArrayBuilder.ofInt]()
    rows.iterator.filterNot(_.isNullAt(1)).foreach { r =>
      val sh = r.getSeq[String](1)
      val gid = groups.getOrElseUpdate((r.get(0), sh.size.toLong), groups.size)
      sh.foreach(s => byGram.getOrElseUpdate(UTF8String.fromString(s),
        new scala.collection.mutable.ArrayBuilder.ofInt) += gid)
    }
    val grams = new java.util.HashMap[UTF8String, Array[Int]](byGram.size * 2)
    byGram.foreach { case (g, b) => grams.put(g, b.result()) }
    val keys = groups.keys.toArray
    new BenchIndex(grams, keys.map(k => toCatalyst(k._1)), keys.map(_._2))
  }

  /** The kernel, shared by interpreted eval and generated code. */
  def covered(shingles: ArrayData, idx: BenchIndex, minFrac: Double): ArrayData = {
    if (shingles == null) return Empty
    var hits = new Array[Int](16)
    var h = 0
    var j = 0
    while (j < shingles.numElements()) {
      val gids = if (shingles.isNullAt(j)) null else idx.grams.get(shingles.getUTF8String(j))
      if (gids != null) {
        if (h + gids.length > hits.length)
          hits = java.util.Arrays.copyOf(hits, math.max(hits.length * 2, h + gids.length))
        System.arraycopy(gids, 0, hits, h, gids.length)
        h += gids.length
      }
      j += 1
    }
    if (h == 0) return Empty
    java.util.Arrays.sort(hits, 0, h)
    val out = new java.util.ArrayList[InternalRow]()
    var i = 0
    while (i < h) {
      val g = hits(i)
      var k = i
      while (k < h && hits(k) == g) k += 1
      val f = frac(k - i, idx.nBench(g))
      if (f >= minFrac)
        out.add(new GenericInternalRow(Array[Any](idx.benchIds(g), (k - i).toLong, idx.nBench(g), f)))
      i = k
    }
    if (out.isEmpty) Empty else new GenericArrayData(out.toArray)
  }

  def coverage(shingles: Column, index: Broadcast[BenchIndex], benchType: DataType,
               minFrac: Double): Column =
    ColumnShim.column(BenchCoverage(ColumnShim.expr(shingles), index, benchType, minFrac))
}
