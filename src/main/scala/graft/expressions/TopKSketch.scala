package graft.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, GraftStringInput}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SpaceSaving (Metwally et al. '05) heavy-hitters summary: at most
  * `capacity` counters; an unseen item evicts the minimum counter and
  * inherits its count as error bound. Guarantees: every item with true
  * frequency > N/capacity is present, and for each reported item
  * `trueCount <= count <= trueCount + error`. When `capacity >=` the number
  * of distinct items, counts are EXACT (error 0).
  *
  * Counters are kept in a hash map; eviction scans for the min lazily —
  * fine for the few-thousand-counter capacities heavy-hitter queries use.
  */
final class SpaceSavingSketch(val capacity: Int) {
  // item -> (count, error)
  val counters = new java.util.HashMap[UTF8String, Array[Long]]()

  def add(item: UTF8String, weight: Long = 1L): Unit = {
    val cur = counters.get(item)
    if (cur != null) { cur(0) += weight; return }
    if (counters.size < capacity) {
      counters.put(item.clone(), Array(weight, 0L))
      return
    }
    // evict the min-count entry; the newcomer inherits its count as error
    var minKey: UTF8String = null
    var minCount = Long.MaxValue
    val it = counters.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue()(0) < minCount) { minCount = e.getValue()(0); minKey = e.getKey }
    }
    counters.remove(minKey)
    counters.put(item.clone(), Array(minCount + weight, minCount))
  }

  /** Standard mergeable-summaries union: sum common counters, keep
    * singletons, then trim back to capacity by estimated count. */
  def merge(other: SpaceSavingSketch): Unit = {
    val it = other.counters.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cur = counters.get(e.getKey)
      if (cur != null) { cur(0) += e.getValue()(0); cur(1) += e.getValue()(1) }
      else counters.put(e.getKey, e.getValue.clone())
    }
    if (counters.size > capacity) {
      val entries = new java.util.ArrayList(counters.entrySet())
      entries.sort { (a, b) =>
        val c = java.lang.Long.compare(b.getValue()(0), a.getValue()(0))
        if (c != 0) c else a.getKey.compareTo(b.getKey)
      }
      counters.clear()
      var i = 0
      while (i < capacity) {
        val e = entries.get(i)
        counters.put(e.getKey, e.getValue)
        i += 1
      }
    }
  }
}

/** `topk_sketch(col, k, capacity)` — approximate top-k items by frequency,
  * one pass, mergeable partials (runs map-side like any partial agg).
  * Returns `array<struct<item, count, error>>` ordered by
  * (count desc, item asc); exact (error 0) whenever capacity covers the
  * distinct count, which is the oracle-checkable regime. */
case class TopKItems(child: Expression,
                     k: Int,
                     capacity: Int,
                     mutableAggBufferOffset: Int = 0,
                     inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SpaceSavingSketch] with GraftStringInput {
  require(k >= 1 && capacity >= k, "need capacity >= k >= 1")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_sketch"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType),
    StructField("count", LongType, nullable = false),
    StructField("error", LongType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): SpaceSavingSketch =
    new SpaceSavingSketch(capacity)

  override def update(buf: SpaceSavingSketch, input: InternalRow): SpaceSavingSketch = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[UTF8String])
    buf
  }

  override def merge(buf: SpaceSavingSketch, other: SpaceSavingSketch): SpaceSavingSketch = {
    buf.merge(other); buf
  }

  override def eval(buf: SpaceSavingSketch): Any = {
    val entries = new java.util.ArrayList(buf.counters.entrySet())
    entries.sort { (a, b) =>
      val c = java.lang.Long.compare(b.getValue()(0), a.getValue()(0))
      if (c != 0) c else a.getKey.compareTo(b.getKey)
    }
    val n = math.min(k, entries.size)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val e = entries.get(i)
      out(i) = InternalRow(e.getKey, e.getValue()(0), e.getValue()(1))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: SpaceSavingSketch): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.capacity)
    out.writeInt(buf.counters.size)
    val it = buf.counters.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val bytes = e.getKey.getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
      out.writeLong(e.getValue()(0))
      out.writeLong(e.getValue()(1))
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): SpaceSavingSketch = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val sketch = new SpaceSavingSketch(in.readInt())
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      sketch.counters.put(UTF8String.fromBytes(b),
        Array(in.readLong(), in.readLong()))
      i += 1
    }
    sketch
  }

  override def withNewMutableAggBufferOffset(offset: Int): TopKItems =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKItems =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKItems =
    copy(child = newChildren.head)
}
