package graft.expressions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Misra-Gries heavy-hitter candidate aggregate: `mg_topk(key, m)`
  * returns every key whose true frequency MIGHT exceed n/m, as a sorted
  * long array — a deterministic SUPERSET of the exact heavy hitters
  * (the classic frequent-items guarantee: any key with count > n/m is
  * in a capacity-m Misra-Gries summary; Misra & Gries 1982, and the
  * mergeable-summaries formulation of Agarwal et al., PODS 2012).
  *
  * Why custom: the exact alternative — GROUP BY key HAVING count >
  * n/m — shuffles one row PER DISTINCT KEY. At 100 TB with billions of
  * keys that is itself a massive exchange just to find a handful of
  * frequent items. This aggregate carries at most m (key, weight)
  * entries per task at every stage: map-side partials bound at m,
  * partials merge by weight-addition followed by the (m+1)-th-largest
  * weight subtraction (the merge that preserves the error bound), and
  * only (groups × m) entries cross the wire. The exact heavy hitters
  * are then recovered with a second filtered pass: semi-join the
  * candidates (a broadcast of ≤ m keys) and recount exactly —
  * candidates-then-verify, so the final answer is EXACT while all
  * unbounded-cardinality state stays bounded. See `SqlQueries.q92HeavyHitters`.
  *
  * Buffer is a mutable Map[Long, Long] (key → lower-bound weight),
  * serialized as length-prefixed (key, weight) pairs. Nulls are
  * skipped. `m` must be a positive integer literal.
  */
case class MisraGriesAgg(
    child: Expression,
    capExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.LongMap[Long]] {

  private lazy val cap: Int = capExpr.eval().asInstanceOf[Int]

  override def children: Seq[Expression] = Seq(child, capExpr)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "mg_topk"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"mg_topk: key column must be bigint, got ${child.dataType.simpleString}")
    else if (capExpr.dataType != IntegerType || !capExpr.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "mg_topk: capacity must be an integer literal")
    else if (capExpr.eval() == null || capExpr.eval().asInstanceOf[Int] <= 0)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "mg_topk: capacity must be a positive integer literal")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): mutable.LongMap[Long] = mutable.LongMap.empty[Long]

  /** Decrement every counter by one, dropping zeros — the MG eviction.
    * O(cap), amortized O(1): each eviction consumes cap prior
    * increments.
    */
  private def decrementAll(m: mutable.LongMap[Long]): Unit = {
    val dead = mutable.ArrayBuffer.empty[Long]
    m.foreachEntry { (k, v) => if (v <= 1L) dead += k else m.update(k, v - 1L) }
    dead.foreach(m.remove)
  }

  override def update(buf: mutable.LongMap[Long], input: InternalRow): mutable.LongMap[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val k = v.asInstanceOf[Long]
      buf.get(k) match {
        case Some(cur) => buf.update(k, cur + 1L)
        case None if buf.size < cap => buf.update(k, 1L)
        case None => decrementAll(buf)
      }
    }
    buf
  }

  /** Mergeable-summaries merge: add weights per key, then if over
    * capacity subtract the (cap+1)-th largest weight from every entry
    * and drop the non-positive ones. The subtraction preserves the
    * count-underestimate ≤ n/(m+1) bound across the partial/final tree.
    */
  override def merge(buf: mutable.LongMap[Long], other: mutable.LongMap[Long]): mutable.LongMap[Long] = {
    other.foreachEntry { (k, v) => buf.update(k, buf.getOrElse(k, 0L) + v) }
    if (buf.size > cap) {
      val weights = buf.values.toArray
      java.util.Arrays.sort(weights)
      val threshold = weights(weights.length - cap - 1) // (cap+1)-th largest
      val dead = mutable.ArrayBuffer.empty[Long]
      buf.foreachEntry { (k, v) =>
        if (v - threshold <= 0L) dead += k else buf.update(k, v - threshold)
      }
      dead.foreach(buf.remove)
    }
    buf
  }

  override def eval(buf: mutable.LongMap[Long]): Any = {
    val keys = buf.keys.toArray
    java.util.Arrays.sort(keys)
    new GenericArrayData(keys)
  }

  override def serialize(buf: mutable.LongMap[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    buf.foreachEntry { (k, v) => bb.putLong(k); bb.putLong(v) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.LongMap[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val m = createAggregationBuffer()
    var i = 0
    while (i < n) { m.update(bb.getLong, bb.getLong); i += 1 }
    m
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): MisraGriesAgg =
    copy(child = newChildren(0), capExpr = newChildren(1))
}
