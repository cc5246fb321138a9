package graft.expr

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded bottom-k buffer: a max-heap on (priority, value) whose root is
  * the current WORST kept pair — admission is O(log k), memory O(k). */
final class SampleKBuf(val k: Int) extends Serializable {
  val heap: scala.collection.mutable.PriorityQueue[(Long, Long)] =
    scala.collection.mutable.PriorityQueue.empty[(Long, Long)]
  def add(pri: Long, v: Long): Unit = {
    if (heap.size < k) heap.enqueue((pri, v))
    else if (Ordering.Tuple2[Long, Long].lt((pri, v), heap.head)) {
      heap.dequeue(); heap.enqueue((pri, v))
    }
  }
}

/** `sample_bottom_k(pri, value, k)`: the k rows with the smallest
  * (priority, value) pairs, emitted as `array<bigint>` of values in
  * ascending pair order — a DISTRIBUTED UNIFORM SAMPLE when the priority is
  * a hash of row identity (each row's rank is i.i.d., so the bottom-k is a
  * uniform k-subset).
  *
  * Why bottom-k-by-hash and not Algorithm-R reservoir sampling: a classic
  * reservoir's content depends on STREAM ORDER, so a distributed run is
  * nondeterministic (partition interleaving changes the result) and no
  * cross-engine oracle can replay it. Hash priorities make the sample a
  * pure function of the data: order-independent, merge-associative
  * (min-merge of two heaps), retry-safe, and bit-replayable in DuckDB as
  * `row_number() OVER (ORDER BY pri, val) <= k`. Seeding = salting the
  * hashed identity string.
  *
  * An object-buffered TypedImperativeAggregate because the state is
  * sketch-style (a bounded heap) and a DeclarativeAggregate's fixed-width
  * mutable buffer cannot hold it. Plans as ObjectHashAggregateExec —
  * hash-based with map-side partial aggregation, so only O(k) pairs per
  * group cross the exchange regardless of input size.
  */
case class SampleK(
    priExpr: Expression,
    valExpr: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[SampleKBuf] {

  override def children: Seq[Expression] = Seq(priExpr, valExpr)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "sample_bottom_k"

  override def checkInputDataTypes(): TypeCheckResult =
    if (k <= 0)
      TypeCheckResult.TypeCheckFailure(s"$prettyName k must be positive, got $k")
    else {
      def integral(t: DataType) = t match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      if (integral(priExpr.dataType) && integral(valExpr.dataType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName arguments must be integral, got " +
          s"(${priExpr.dataType.sql}, ${valExpr.dataType.sql})")
    }

  override def createAggregationBuffer(): SampleKBuf = new SampleKBuf(k)

  override def update(buf: SampleKBuf, input: InternalRow): SampleKBuf = {
    val p = priExpr.eval(input)
    val v = valExpr.eval(input)
    if (p != null && v != null)
      buf.add(p.asInstanceOf[Number].longValue, v.asInstanceOf[Number].longValue)
    buf
  }

  override def merge(buf: SampleKBuf, other: SampleKBuf): SampleKBuf = {
    other.heap.foreach { case (p, v) => buf.add(p, v) }
    buf
  }

  override def eval(buf: SampleKBuf): Any =
    new GenericArrayData(buf.heap.toArray.sorted.map(_._2))

  override def serialize(buf: SampleKBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 16 * buf.heap.size)
    bb.putInt(buf.k).putInt(buf.heap.size)
    buf.heap.foreach { case (p, v) => bb.putLong(p).putLong(v) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): SampleKBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new SampleKBuf(bb.getInt)
    val n = bb.getInt
    (0 until n).foreach(_ => buf.add(bb.getLong, bb.getLong))
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): SampleK =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): SampleK =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SampleK =
    copy(priExpr = c(0), valExpr = c(1))
}
