package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `bucket_collect(x, cap)` → `struct<n: bigint, items: array<x>>`: the
  * group's exact row count `n` and at most `cap + 1` of its non-null `x`
  * values — the one bucket aggregation of every LSH-style operator.
  *
  * A bucket of more than `cap` rows is dropped whole by its caller, so
  * no update or merge ever holds more than `cap + 1` items: a mega
  * bucket costs one counter, never a buffer of its members, and purging
  * it needs no count pre-pass (SparkER's block purging, applied to the
  * grouped blocks). At `cap = Int.MaxValue` this is `collect_list` plus a
  * count. A case class, so two plans built with the same cap are equal
  * and a cached bucket frame is found again by the CacheManager.
  */
case class BucketCollect(child: Expression, cap: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BucketCollect.Buf] with UnaryLike[Expression] {

  import BucketCollect.Buf

  override def nullable: Boolean = false
  private def itemsType = ArrayType(child.dataType, containsNull = false)
  override def dataType: DataType = new StructType()
    .add("n", LongType, nullable = false).add("items", itemsType, nullable = false)

  override def createAggregationBuffer(): Buf = new Buf

  override def update(b: Buf, input: InternalRow): Buf = {
    b.n += 1
    if (b.items.length <= cap) Option(child.eval(input)).foreach(b.items += InternalRow.copyValue(_))
    b
  }

  override def merge(b: Buf, other: Buf): Buf = {
    b.n += other.n
    val it = other.items.iterator
    while (b.items.length <= cap && it.hasNext) b.items += it.next()
    b
  }

  override def eval(b: Buf): Any = InternalRow(b.n, new GenericArrayData(b.items.toArray))

  @transient private lazy val projection =
    UnsafeProjection.create(Array[DataType](LongType, itemsType))

  override def serialize(b: Buf): Array[Byte] = projection(eval(b).asInstanceOf[InternalRow]).getBytes

  override def deserialize(bytes: Array[Byte]): Buf = {
    val row = new UnsafeRow(2)
    row.pointTo(bytes, bytes.length)
    val b = new Buf(row.getLong(0))
    row.getArray(1).foreach(child.dataType, (_, x: Any) => b.items += x)
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): BucketCollect = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BucketCollect = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): BucketCollect = copy(child = c)
}

object BucketCollect {

  final class Buf(var n: Long = 0L, val items: mutable.ArrayBuffer[Any] = mutable.ArrayBuffer.empty)

  /** Registry builder: the collected value and a non-negative int literal cap. */
  def fromArgs(args: Seq[Expression]): BucketCollect = args match {
    case Seq(x, Literal(cap: java.lang.Integer, IntegerType)) if cap >= 0 => BucketCollect(x, cap)
    case _ => throw new IllegalArgumentException("bucket_collect(x, cap): cap is a non-negative int literal")
  }
}
