package org.apache.spark.sql.graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import java.util.{HashMap => JHashMap, Objects}

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, ExpectsInputTypes, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A grouped double sum as ONE aggregate: for each distinct tuple of the
  * string `keys`, one sum per `values` column, null until the group's
  * first non-null value, exactly as `groupBy(keys).agg(sum(v), ...)`
  * sums (starting from 0.0, in input order, NaN and infinities
  * included). The result is an array with one struct per key tuple,
  * fields named by `names` (keys first), in no particular order.
  *
  * Made for `Dataset.observe`, whose metrics are global aggregates: a
  * grouped answer has to be keyed inside one buffer. The state is one
  * entry per distinct key tuple (a sum and a "seen a non-null value"
  * flag per column), so the keys must have few distinct values, as for
  * any result collected to the driver — the CNJ courts have one per
  * court.
  *
  * `update` reads a bound column reference straight from the row (no
  * boxed `eval` per cell), and consecutive rows of one key tuple — a
  * court file's rows, in the CNJ scan — reuse the last entry without a
  * hash lookup.
  */
case class KeyedSums(
    keys: Seq[Expression],
    values: Seq[Expression],
    names: Seq[String],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KeyedSums.Buffer]
  with ExpectsInputTypes {

  import KeyedSums._

  require(names.length == keys.length + values.length, "one name per key and value")

  override def children: Seq[Expression] = keys ++ values
  override def inputTypes: Seq[AbstractDataType] =
    keys.map(_ => StringType) ++ values.map(_ => DoubleType)
  override def dataType: DataType = ArrayType(StructType(
    names.zipWithIndex.map { case (n, i) =>
      StructField(n, if (i < keys.length) StringType else DoubleType)
    }), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "keyed_sums"

  // per row, read plain fields only: the key and value counts, and the
  // row ordinal of each child (-1 where it is not a bound reference)
  private val nKeys = keys.length
  private val nValues = values.length
  private val slots: Array[Int] =
    children.map { case b: BoundReference => b.ordinal; case _ => -1 }.toArray

  private def key(i: Int, row: InternalRow): UTF8String = {
    val o = slots(i)
    if (o < 0) keys(i).eval(row).asInstanceOf[UTF8String]
    else if (row.isNullAt(o)) null
    else row.getUTF8String(o)
  }

  override def createAggregationBuffer(): Buffer = new Buffer

  private def entryFor(buf: Buffer, row: InternalRow): Entry = {
    var same = buf.last != null
    var i = 0
    while (same && i < nKeys) {
      same = Objects.equals(key(i, row), buf.lastKey(i))
      i += 1
    }
    if (!same) {
      // cloned: a row's strings point into memory the scan reuses
      val k: Key = ArraySeq.unsafeWrapArray(Array.tabulate(nKeys) { i =>
        val s = key(i, row)
        if (s == null) null else s.clone()
      })
      var e = buf.entries.get(k)
      if (e == null) { e = new Entry(nValues); buf.entries.put(k, e) }
      buf.lastKey = k
      buf.last = e
    }
    buf.last
  }

  override def update(buf: Buffer, row: InternalRow): Buffer = {
    val e = entryFor(buf, row)
    var i = 0
    while (i < nValues) {
      val o = slots(nKeys + i)
      if (o >= 0) {
        if (!row.isNullAt(o)) e.add(i, row.getDouble(o))
      } else {
        val v = values(i).eval(row)
        if (v != null) e.add(i, v.asInstanceOf[Double])
      }
      i += 1
    }
    buf
  }

  override def merge(buf: Buffer, other: Buffer): Buffer = {
    other.entries.forEach { (k, o) =>
      val e = buf.entries.get(k)
      if (e == null) buf.entries.put(k, o.copy()) else e.addAll(o)
    }
    buf
  }

  override def eval(buf: Buffer): Any = {
    val rows = new Array[Any](buf.entries.size())
    var n = 0
    buf.entries.forEach { (k, e) =>
      rows(n) = new GenericInternalRow((k ++ values.indices.map { i =>
        if (e.seen(i)) e.sums(i) else null
      }).toArray[Any])
      n += 1
    }
    new GenericArrayData(rows)
  }

  // a few dozen entries per task: Java serialization is plenty
  override def serialize(buf: Buffer): Array[Byte] = {
    val bytes = new ByteArrayOutputStream
    val out = new ObjectOutputStream(bytes)
    out.writeObject(buf.entries)
    out.close()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val in = new ObjectInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    try buf.entries.putAll(in.readObject().asInstanceOf[JHashMap[Key, Entry]])
    finally in.close()
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KeyedSums =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KeyedSums =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(keys = newChildren.take(keys.length), values = newChildren.drop(keys.length))
}

object KeyedSums {

  /** One key tuple; a null part is a null key, as `groupBy` keeps it. */
  type Key = ArraySeq[UTF8String]

  /** One key tuple's sums; `seen(i)` says `sums(i)` is not null. */
  final class Entry(n: Int) extends Serializable {
    val sums = new Array[Double](n)
    val seen = new Array[Boolean](n)
    def add(i: Int, v: Double): Unit = { sums(i) += v; seen(i) = true }
    def addAll(o: Entry): Unit = (0 until n).foreach(i => if (o.seen(i)) add(i, o.sums(i)))
    def copy(): Entry = { val c = new Entry(n); c.addAll(this); c }
  }

  final class Buffer {
    val entries = new JHashMap[Key, Entry]
    // the last key tuple `update` saw, and its entry
    var lastKey: Key = _
    var last: Entry = _
  }
}
