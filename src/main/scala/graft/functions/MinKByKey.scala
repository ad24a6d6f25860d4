package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `min_k_by_key(key, payload, k)` — the k payloads with the smallest
  * (key, payload) pairs per group, returned sorted ascending.
  *
  * This is deterministic distributed sampling: with `key = hash(row)`,
  * the k globally-smallest hashes are a uniform k-sample of the group
  * that is independent of row order and partitioning (unlike reservoir
  * sampling) and identical on every engine that can compute the hash.
  *
  * Why a custom aggregate instead of `row_number() OVER (...) <= k`:
  * the window form shuffles and sorts EVERY row of every group; this
  * aggregate keeps a k-bounded heap per group per task, so map-side
  * partial aggregation reduces shuffle traffic to k rows per group per
  * task — at 10^10 rows and k=5 that is the difference between
  * shuffling the corpus and shuffling a sample. (SURVEY §7.3's
  * "custom Aggregator where built-ins fall short" case.)
  */
case class MinKByKey(
    keyExpr: Expression,
    payloadExpr: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.PriorityQueue[(Long, Long)]] {

  private lazy val k: Int = kExpr.eval(InternalRow.empty) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(s"k must be an integer literal, got $other")
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (keyExpr.dataType, payloadExpr.dataType, kExpr.dataType) match {
      case (LongType, LongType, IntegerType | LongType) if kExpr.foldable =>
        val kv = kExpr.eval(InternalRow.empty)
        val lv = if (kv == null) -1L else kv.asInstanceOf[Number].longValue()
        // upper bound too: intValue() truncation would turn k >= 2^31
        // into a negative or silently-small heap bound
        if (lv < 1 || lv > Int.MaxValue)
          TypeCheckResult.TypeCheckFailure(s"k must be in [1, ${Int.MaxValue}], got $kv")
        else TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "min_k_by_key requires (bigint key, bigint payload, positive integer literal k)")
    }

  override def children: Seq[Expression] = Seq(keyExpr, payloadExpr, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "min_k_by_key"

  // hoisted: Ordering.Tuple2 builds a fresh instance per call — never
  // allocate in the per-row add() path
  @transient private lazy val ord: Ordering[(Long, Long)] = Ordering.Tuple2[Long, Long]

  // max-heap ordered by (key, payload): the root is the WORST kept pair,
  // evicted when a smaller one arrives
  private def newHeap() =
    scala.collection.mutable.PriorityQueue.empty[(Long, Long)](ord)

  override def createAggregationBuffer(): scala.collection.mutable.PriorityQueue[(Long, Long)] =
    newHeap()

  private def add(buf: scala.collection.mutable.PriorityQueue[(Long, Long)], p: (Long, Long)): Unit =
    if (buf.size < k) buf.enqueue(p)
    else if (ord.lt(p, buf.head)) { buf.dequeue(); buf.enqueue(p) }

  override def update(buf: scala.collection.mutable.PriorityQueue[(Long, Long)],
                      input: InternalRow): scala.collection.mutable.PriorityQueue[(Long, Long)] = {
    val kv = keyExpr.eval(input)
    val pv = payloadExpr.eval(input)
    if (kv != null && pv != null) add(buf, (kv.asInstanceOf[Long], pv.asInstanceOf[Long]))
    buf
  }

  override def merge(buf: scala.collection.mutable.PriorityQueue[(Long, Long)],
                     other: scala.collection.mutable.PriorityQueue[(Long, Long)]):
      scala.collection.mutable.PriorityQueue[(Long, Long)] = {
    other.foreach(add(buf, _))
    buf
  }

  override def eval(buf: scala.collection.mutable.PriorityQueue[(Long, Long)]): Any =
    new GenericArrayData(buf.toArray.sorted(ord).map(_._2))

  override def serialize(buf: scala.collection.mutable.PriorityQueue[(Long, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    buf.foreach { case (a, b) => bb.putLong(a); bb.putLong(b) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.PriorityQueue[(Long, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val heap = newHeap()
    (0 until n).foreach(_ => heap.enqueue((bb.getLong, bb.getLong)))
    heap
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinKByKey =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinKByKey =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): MinKByKey =
    copy(keyExpr = newChildren(0), payloadExpr = newChildren(1), kExpr = newChildren(2))
}

object SampleFunctions {

  /** Register `min_k_by_key`, `top_k_by_score` and `freq_topk` on the
    * session, each unless it is there already.
    */
  def register(spark: SparkSession): Unit = {
    Registration.ifAbsent(spark, "min_k_by_key")(exprs =>
      MinKByKey(exprs.head, exprs(1), exprs(2)).toAggregateExpression())
    Registration.ifAbsent(spark, "top_k_by_score")(exprs =>
      TopKByScore(exprs.head, exprs(1), exprs(2)).toAggregateExpression())
    Registration.ifAbsent(spark, "freq_topk")(exprs =>
      FreqTopK(exprs.head, exprs(1), exprs(2)).toAggregateExpression())
  }
}
