package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k buffer: keeps the k best (score, id) pairs, best =
  * highest score, ties broken by lowest id — exactly row_number over
  * (score DESC, id ASC) ≤ k. */
final class TopKBuffer(val k: Int) {
  // head = current WORST kept pair, so eviction is O(log k)
  private val heap = collection.mutable.PriorityQueue.empty[(Double, Long)](
    Ordering.by(t => (-t._1, t._2)))

  def insert(score: Double, id: Long): Unit = {
    if (heap.size < k) heap.enqueue((score, id))
    else {
      val (ws, wid) = heap.head
      if (score > ws || (score == ws && id < wid)) {
        heap.dequeue()
        heap.enqueue((score, id))
      }
    }
  }
  def mergeFrom(other: TopKBuffer): Unit =
    other.heap.foreach { case (s, i) => insert(s, i) }
  def sortedDesc: Seq[(Double, Long)] =
    heap.toSeq.sortBy(t => (-t._1, t._2))
  def foreachPair(f: (Double, Long) => Unit): Unit = heap.foreach(t => f(t._1, t._2))
  def size: Int = heap.size
}

/** Aggregate function `top_k_by(score, id, k)` → array<struct<score,id>>
  * sorted best-first.
  *
  * Why this exists (SURVEY.md §7.3 escape-hatch (b)): the window
  * formulation `row_number().over(partitionBy(g).orderBy(score DESC)) <= k`
  * SORTS every row of every group after a full shuffle. This aggregate
  * keeps O(k) state per group, combines map-side (partial aggregation
  * applies — each mapper sends at most k pairs per group), and never
  * sorts more than k elements. At 100 TB the difference is a full
  * shuffle+sort of the corpus vs a shuffle of k rows per group.
  *
  * Honest measurement (sf0.1, local[32]): q43 ≈ q40 (±10%) — the cosine
  * scoring join dominates at this scale and update() evals interpreted,
  * so the win is architectural (bounded shuffle), not visible wall-clock
  * until group row counts dwarf k by orders of magnitude.
  */
case class TopKByScore(
    score: Expression,
    id: Expression,
    kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  /** Reject mismatched input types at analysis (a clean error) instead of
    * ClassCastException at execution; the Column API below pre-casts, so
    * float/int/decimal callers still work. (ImplicitCastInputTypes would
    * be the idiomatic coercion hook, but AbstractDataType is private[sql]
    * in Spark 4.) */
  override def checkInputDataTypes(): TypeCheckResult = {
    if (score.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"top_k_by: score must be DOUBLE, got ${score.dataType.sql}")
    else if (id.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"top_k_by: id must be BIGINT, got ${id.dataType.sql}")
    else if (kExpr.dataType != IntegerType || !kExpr.foldable)
      TypeCheckResult.TypeCheckFailure("top_k_by: k must be a literal INT")
    else TypeCheckResult.TypeCheckSuccess
  }

  private lazy val k: Int = kExpr.eval(InternalRow.empty) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(s"k must be int, got $other")
  }

  override def children: Seq[Expression] = Seq(score, id, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType), StructField("id", LongType))))
  override def prettyName: String = "top_k_by"

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) {
      buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    buf.mergeFrom(other)
    buf
  }

  override def eval(buf: TopKBuffer): Any = {
    val rows = buf.sortedDesc.map { case (s, i) =>
      InternalRow(s, i)
    }
    new GenericArrayData(rows.toArray[Any])
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.k)
    out.writeInt(buf.size)
    buf.foreachPair { (s, i) => out.writeDouble(s); out.writeLong(i) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new TopKBuffer(in.readInt())
    val n = in.readInt()
    var j = 0
    while (j < n) {
      buf.insert(in.readDouble(), in.readLong())
      j += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren(0), id = newChildren(1), kExpr = newChildren(2))
}

object TopKAggregate {
  /** top_k_by(score, id, k): Column API entry. Numeric score/id columns
    * of any type are accepted — cast here so the analysis-time type check
    * only ever fires for genuinely non-numeric input. */
  def topKBy(score: Column, id: Column, k: Int): Column =
    GraftBridge.column(
      TopKByScore(GraftBridge.expression(score.cast("double")),
        GraftBridge.expression(id.cast("long")),
        org.apache.spark.sql.catalyst.expressions.Literal(k))
        .toAggregateExpression())
}
