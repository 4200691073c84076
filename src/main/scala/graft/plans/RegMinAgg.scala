package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Elementwise-minimum aggregate over fixed-length INT register arrays —
  * the HyperBall/HyperANF packed-register merge [Boldi & Vigna 2013] as a
  * native [[TypedImperativeAggregate]] on a primitive `Array[Int]` buffer.
  *
  * Why not the two obvious formulations (both measured on q254, r20):
  *  - a typed `Aggregator[Array[Int], …]` (udaf): the encoder boundary
  *    deserializes EVERY input row to a boxed array and re-serializes the
  *    buffer per update — |E|·m Integer allocations per merge round
  *    (126 s task CPU + 70 s GC at sf0.1);
  *  - 64 declarative `min(element_at(regs, i))` slots: no allocation, but
  *    the 64-expression update path costs ~28 µs/row at sf1 (341 s of
  *    task CPU over 12M rows) — per-expression evaluation overhead ×64 on
  *    every row.
  * Here update() reads the input's ints straight out of the
  * UnsafeArrayData into the reused primitive buffer — one allocation per
  * GROUP (the buffer), zero per row; serialization to bytes happens only
  * at the partial→final shuffle boundary, once per (group, partition).
  *
  * Identity: a MaxValue-filled buffer (min's unit) — groups always see
  * ≥ 1 input row under groupBy, so the identity never surfaces. Inputs
  * must be non-null with exactly `m` elements (loud failure otherwise —
  * the contract of RegMinAggSpec's reference UDAF, ArrayMinAgg).
  */
case class RegMinAgg(child: Expression, m: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Int]] with UnaryLike[Expression] {
  require(m > 0, s"reg_min: m must be positive: $m")

  override def createAggregationBuffer(): Array[Int] =
    Array.fill(m)(Int.MaxValue)

  override def update(buf: Array[Int], input: InternalRow): Array[Int] = {
    val v = child.eval(input)
    require(v != null, "reg_min: null register array")
    val arr = v.asInstanceOf[ArrayData]
    require(arr.numElements() == m,
      s"reg_min: register arrays must have length $m: ${arr.numElements()}")
    var i = 0
    while (i < m) {
      val x = arr.getInt(i)
      if (x < buf(i)) buf(i) = x
      i += 1
    }
    buf
  }

  override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
    var i = 0
    while (i < m) {
      if (b(i) < a(i)) a(i) = b(i)
      i += 1
    }
    a
  }

  override def eval(buf: Array[Int]): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(buf)

  override def serialize(buf: Array[Int]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 * m)
    bb.asIntBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val out = new Array[Int](m)
    java.nio.ByteBuffer.wrap(bytes).asIntBuffer().get(out)
    out
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "reg_min"

  override def withNewMutableAggBufferOffset(newOffset: Int): RegMinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): RegMinAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): RegMinAgg =
    copy(child = newChild)
}
