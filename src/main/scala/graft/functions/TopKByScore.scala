package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One (score, id) candidate held by the bounded heap. */
private[graft] final case class ScoredId(score: Double, id: UTF8String)

/** Bounded top-k aggregate over (score DOUBLE, id STRING) pairs.
  *
  * The reference implements batch top-k as a per-thread bounded
  * `BinaryHeap` with a pairwise merge (/root/reference/src/lib.rs:84-110,
  * 218-242). This is the same algorithm hoisted into a Catalyst
  * `TypedImperativeAggregate`: Spark's partial aggregation runs the
  * per-partition heaps (map-side combine), `merge()` is the reduce step,
  * so a grouped top-k shuffles only O(groups × k) rows instead of the full
  * scored set — the property that keeps batch similarity search viable at
  * 100 TB.
  *
  * Result: ARRAY<STRUCT<score, id>> sorted score DESC, id ASC (ties broken
  * by id for determinism — the reference leaves tie order unspecified,
  * lib.rs:100; see SURVEY.md §4.2).
  */
case class TopKByScore(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[ScoredId]] {

  require(k > 0, s"topK requires k > 0, got $k")

  override def checkInputDataTypes(): TypeCheckResult =
    if (score.dataType == DoubleType && id.dataType == StringType) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"topk_by_score expects (DOUBLE, STRING), got (${score.dataType}, ${id.dataType})")
    }
  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("id", StringType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): mutable.PriorityQueue[ScoredId] =
    TopKByScore.emptyHeap()

  private def insert(buf: mutable.PriorityQueue[ScoredId], e: ScoredId): Unit =
    TopKByScore.offer(buf, e, k)

  override def update(
      buf: mutable.PriorityQueue[ScoredId], input: InternalRow): mutable.PriorityQueue[ScoredId] = {
    val s = score.eval(input)
    val i = id.eval(input)
    // NaN scores never enter the heap — parity with the reference, where
    // `score >= threshold` is false for NaN (lib.rs:222).
    if (s != null && i != null && !java.lang.Double.isNaN(s.asInstanceOf[Double])) {
      insert(buf, ScoredId(s.asInstanceOf[Double], i.asInstanceOf[UTF8String].clone()))
    }
    buf
  }

  override def merge(
      buf: mutable.PriorityQueue[ScoredId],
      other: mutable.PriorityQueue[ScoredId]): mutable.PriorityQueue[ScoredId] = {
    other.foreach(insert(buf, _))
    buf
  }

  override def eval(buf: mutable.PriorityQueue[ScoredId]): Any = {
    new GenericArrayData(TopKByScore.bestFirst(buf).map(e => InternalRow(e.score, e.id): Any))
  }

  override def serialize(buf: mutable.PriorityQueue[ScoredId]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { e =>
      out.writeDouble(e.score)
      val b = e.id.getBytes
      out.writeInt(b.length)
      out.write(b)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[ScoredId] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val s = in.readDouble()
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.enqueue(ScoredId(s, UTF8String.fromBytes(b)))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren(0), id = newChildren(1))
  override def prettyName: String = "topk_by_score"
}

object TopKByScore {
  /** Heap ordering: the queue's head (max by this ordering) is the WORST
    * element — lowest score, ties resolved worst = larger id — so evicting
    * the head keeps exactly the `ORDER BY score DESC, id ASC LIMIT k` set. */
  private[graft] val worstFirst: Ordering[ScoredId] = new Ordering[ScoredId] {
    def compare(a: ScoredId, b: ScoredId): Int = {
      val c = java.lang.Double.compare(b.score, a.score)
      if (c != 0) c else a.id.compareTo(b.id)
    }
  }

  private[graft] def emptyHeap(): mutable.PriorityQueue[ScoredId] =
    mutable.PriorityQueue.empty(worstFirst)

  /** Offer one candidate to a heap bounded at `k`. */
  private[graft] def offer(buf: mutable.PriorityQueue[ScoredId], e: ScoredId, k: Int): Unit = {
    if (buf.size < k) buf.enqueue(e)
    else if (worstFirst.compare(e, buf.head) < 0) { buf.dequeue(); buf.enqueue(e) }
  }

  /** The heap's candidates best-first: sorted ascending by [[worstFirst]]
    * = least-worst first. */
  private[graft] def bestFirst(buf: mutable.PriorityQueue[ScoredId]): Array[ScoredId] =
    buf.toArray.sorted(worstFirst)

  /** Column API: collect the top-k (score, id) pairs per group. */
  def topk(score: Column, id: Column, k: Int): Column =
    ColumnBridge.column(
      TopKByScore(ColumnBridge.expression(score), ColumnBridge.expression(id), k)
        .toAggregateExpression())
}
