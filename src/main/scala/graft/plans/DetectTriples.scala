package graft.plans

import java.nio.charset.StandardCharsets

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.ground.Grounder
import graft.model.Vocab
import graft.pipeline.RunMetrics

/**
 * Whole-operator mention detection as a first-class Catalyst operator
 * (SURVEY G4/F5 scale path): logical node + strategy + exec node, so the
 * fused detect→top-1→per-turn-dedup kernel lives INSIDE the one query plan —
 * `explain` shows it, plan-shape tests can assert around it, and the
 * optimizer sees through it (column pruning pushes the slim projection under
 * the pass's sort exactly as with a built-in operator).
 *
 * Child contract: output columns (conv_id: string, turn_idx: int, text:
 * string) — checked, names and types, when the node is built, and resolved
 * by name at execution, so projections may reorder.
 * Output: the finished mention triples (subj, pred, obj) =
 * ("turn:<conv_id>/<turn_idx>", [[Vocab.Mentions]], canonical concept CURIE),
 * deduplicated per turn (the zero-shuffle dedup argument — duplicates of a
 * (turn, concept) pair can only originate from the turn's single partition).
 * A turn with a null conv_id or turn_idx has no turn URI and emits nothing.
 */
case class DetectTriplesNode(
    child: LogicalPlan,
    grounder: Broadcast[Grounder],
    metrics: Option[RunMetrics],
    // constructor field, NOT a computed val: plan transforms copy() the node,
    // and re-derived AttributeReferences would mint fresh exprIds, orphaning
    // every parent expression bound to the originals
    output: Seq[Attribute]) extends UnaryNode {

  override def producedAttributes: AttributeSet = AttributeSet(output)

  // the kernel consumes every child column (conv_id, turn_idx, text); without
  // this, ColumnPruning sees zero referenced attributes and projects the
  // child down to nothing
  override def references: AttributeSet = child.outputSet

  override protected def withNewChildInternal(newChild: LogicalPlan): DetectTriplesNode =
    copy(child = newChild)
}

object DetectTriplesNode {
  def apply(child: LogicalPlan, grounder: Broadcast[Grounder],
            metrics: Option[RunMetrics]): DetectTriplesNode = {
    DetectTriples.childOrdinals(child.output)
    DetectTriplesNode(child, grounder, metrics,
      Seq("subj", "pred", "obj").map(AttributeReference(_, StringType, nullable = false)()))
  }
}

case class DetectTriplesExec(
    child: SparkPlan,
    grounder: Broadcast[Grounder],
    runMetrics: Option[RunMetrics],
    output: Seq[Attribute]) extends UnaryExecNode {

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override protected def doExecute(): RDD[InternalRow] = {
    val Array(convOrd, turnOrd, textOrd) = DetectTriples.childOrdinals(child.output)
    val g = grounder
    val m = runMetrics
    child.execute().mapPartitions(turns =>
      new DetectTriples.TripleRows(turns, convOrd, turnOrd, textOrd, g.value, m))
  }

  override protected def withNewChildInternal(newChild: SparkPlan): DetectTriplesExec =
    copy(child = newChild)
}

/** Planner rule mapping the logical node to its exec — injectable both via
  * `spark.experimental.extraStrategies` and SparkSessionExtensions. */
object DetectTriplesStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case DetectTriplesNode(child, grounder, metrics, output) =>
      DetectTriplesExec(planLater(child), grounder, metrics, output) :: Nil
    case _ => Nil
  }
}

object DetectTriples {
  /** Idempotently register the strategy on a session. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val cur = cs.experimental.extraStrategies
    if (!cur.contains(DetectTriplesStrategy))
      cs.experimental.extraStrategies = cur :+ DetectTriplesStrategy
  }

  private val TurnPrefix = "turn:".getBytes(StandardCharsets.UTF_8)
  private val Pred = UTF8String.fromString(Vocab.Mentions)
  private val ChildContract = Seq("conv_id" -> StringType, "turn_idx" -> IntegerType, "text" -> StringType)

  /** Ordinals of conv_id, turn_idx and text in a child's output. Fails unless
    * they are there, typed (string, int, string), as the `SlimTurn` encoder
    * required: a wider turn_idx would render a wrong turn URI. */
  def childOrdinals(child: Seq[Attribute]): Array[Int] = ChildContract.map { case (name, dt) =>
    val i = child.indexWhere(_.name == name)
    require(i >= 0 && child(i).dataType == dt,
      "DetectTriples child must provide (conv_id: string, turn_idx: int, text: string); got " +
        child.map(a => s"${a.name}: ${a.dataType.simpleString}").mkString("(", ", ", ")"))
    i
  }.toArray

  /**
   * The kernel over one partition's turns: per turn, the fused
   * normalize+scan (AhoCorasick.Scanner) feeds a [[Grounder.ConceptCollector]]
   * (span top-1 precomputed per pattern id, per-turn concept dedup by flag
   * array), and each collected concept leaves as a finished (subj, pred, obj)
   * UnsafeRow. subj is rendered once per turn that has a match, into a reused
   * buffer; obj is copied from [[Grounder.conceptBytes]]. The one output row
   * is reused across `next()`, as Spark's own projections reuse theirs: an
   * operator that keeps a row copies it.
   */
  final class TripleRows(turns: Iterator[InternalRow], convOrd: Int, turnOrd: Int, textOrd: Int,
                         grounder: Grounder, metrics: Option[RunMetrics]) extends Iterator[InternalRow] {
    private val scanner = grounder.automaton.newScanner()
    private val collector = new Grounder.ConceptCollector(grounder)
    private val (objBytes, objStarts) = grounder.conceptBytes
    private val turnsProcessed = metrics.map(_.turnsProcessed).orNull
    private val emptyTurns = metrics.map(_.emptyTurns).orNull
    private val mentionsEmitted = metrics.map(_.mentionsEmitted).orNull
    private val writer = new UnsafeRowWriter(3)
    private var subj = new Array[Byte](64)
    private var subjLen = 0
    private var k = 0 // next collected concept of the current turn

    override def hasNext: Boolean = {
      while (k >= collector.n && turns.hasNext) detect(turns.next())
      k < collector.n
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException("no more mention triples")
      val c = collector.hits(k)
      k += 1
      writer.reset()
      writer.zeroOutNullBytes()
      writer.write(0, subj, 0, subjLen)
      writer.write(1, Pred)
      writer.write(2, objBytes, objStarts(c), objStarts(c + 1) - objStarts(c))
      writer.getRow
    }

    private def detect(turn: InternalRow): Unit = {
      collector.reset()
      k = 0
      // a turn without a conv_id or turn_idx has no URI: no triples, no scan
      if (!turn.isNullAt(convOrd) && !turn.isNullAt(turnOrd) && !turn.isNullAt(textOrd)) {
        val text = turn.getUTF8String(textOrd)
        if (text.numBytes > 0) scanner.scan(text, collector)
      }
      if (turnsProcessed != null) {
        turnsProcessed.add(1)
        if (collector.n == 0) emptyTurns.add(1) else mentionsEmitted.add(collector.n)
      }
      if (collector.n > 0) renderSubj(turn.getUTF8String(convOrd), turn.getInt(turnOrd))
    }

    /** subj = "turn:<conv_id>/<turn_idx>", the int written as Spark casts it to string. */
    private def renderSubj(convId: UTF8String, turnIdx: Int): Unit = {
      val idx = Integer.toString(turnIdx)
      val slash = TurnPrefix.length + convId.numBytes
      subjLen = slash + 1 + idx.length
      if (subj.length < subjLen) subj = new Array[Byte](2 * subjLen)
      System.arraycopy(TurnPrefix, 0, subj, 0, TurnPrefix.length)
      convId.writeToMemory(subj, Platform.BYTE_ARRAY_OFFSET + TurnPrefix.length)
      subj(slash) = '/'.toByte
      var i = 0
      while (i < idx.length) { subj(slash + 1 + i) = idx.charAt(i).toByte; i += 1 }
    }
  }
}
