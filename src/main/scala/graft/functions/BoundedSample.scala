package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, JoinedRow, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** The bounded per-unit sampler: a mergeable aggregate that, grouped by
  * privacy unit, keeps the `maxCells` cells (distinct key values) of
  * lowest cell priority and, in each kept cell, the `maxRows` rows of
  * lowest row priority — or, counting, only how many rows the cell kept.
  *
  * Children: the cell priority (long; equal for every row of a cell, e.g.
  * a seeded hash of unit and keys), the row priority (double, e.g. a
  * projected `rand()`; ignored when counting), the keys, then the payload
  * kept per row. The aggregate draws no randomness itself: with random
  * priorities its result is a uniform sample without replacement of the
  * unit's cells and of each kept cell's rows.
  *
  * Both choices are "the k lowest under one total order", so partial
  * samples merge associatively and a map task ships one row per unit
  * holding at most maxCells * maxRows payload rows, whatever the caps. A
  * cell is its priority AND its exact key bytes (floating-point keys
  * normalized as Spark's grouping does), so a 64-bit priority collision
  * never merges two cells; equal priorities order by key bytes.
  *
  * Keys and payload are kept as `UnsafeRow` copies and serialize as their
  * bytes. An insert scans the kept cells (O(maxCells)) and updates a
  * max-heap of row priorities (O(log maxRows)).
  *
  * Output: array<struct<keys..., payload...>>, one element per kept row,
  * or array<struct<keys..., count>>, one element per kept cell. */
case class BoundedSample(
    children: Seq[Expression],
    names: Seq[String],
    numKeys: Int,
    maxCells: Int,
    maxRows: Int,
    counting: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BoundedSample.Sample] {
  import BoundedSample._

  require(maxCells >= 1 && maxRows >= 1,
    s"maxCells and maxRows must be >= 1, got $maxCells and $maxRows")

  private def kept: Seq[Expression] = children.drop(2)

  override def nullable: Boolean = false
  override def prettyName: String = "graft_bounded_sample"

  override def dataType: DataType = ArrayType(StructType(
    kept.zip(names).map { case (e, n) => StructField(n, e.dataType, e.nullable) } ++
      (if (counting) Seq(StructField(names.last, LongType, nullable = false)) else Nil)),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (children(0).dataType != LongType || children(1).dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName needs a long cell priority and a " +
        s"double row priority, got ${children(0).dataType.catalogString} and " +
        children(1).dataType.catalogString)
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val keyRow =
    UnsafeProjection.create(kept.take(numKeys).map(GraftShims.normalizeFloats))
  @transient private lazy val payloadRow = UnsafeProjection.create(kept.drop(numKeys))

  override def createAggregationBuffer(): Sample = new Sample(maxCells, maxRows)

  override def update(s: Sample, input: InternalRow): Sample = {
    val priority = children(0).eval(input).asInstanceOf[Long]
    val key = keyRow(input)
    var cell = s.find(priority, key)
    if (cell == null && s.admits(priority, key)) cell = s.add(new Cell(priority, key.copy()))
    if (cell != null) {
      if (counting) cell.count = math.min(cell.count + 1, maxRows)
      else {
        val rp = children(1).eval(input).asInstanceOf[Double]
        if (s.accepts(cell, rp)) s.offer(cell, rp, payloadRow(input).copy())
      }
    }
    s
  }

  override def merge(a: Sample, b: Sample): Sample = {
    b.cells.foreach { c =>
      val into = a.find(c.priority, c.key)
      if (into == null) { if (a.admits(c.priority, c.key)) a.add(c) }
      else if (counting) into.count = math.min(into.count + c.count, maxRows)
      else {
        var i = 0
        while (i < c.size) {
          if (a.accepts(into, c.priorities(i))) a.offer(into, c.priorities(i), c.rows(i))
          i += 1
        }
      }
    }
    a
  }

  override def eval(s: Sample): Any = {
    val out = ArrayBuffer.empty[InternalRow]
    s.cells.foreach { c =>
      if (counting) out += new JoinedRow(c.key, new GenericInternalRow(Array[Any](c.count)))
      else (0 until c.size).foreach(i => out += new JoinedRow(c.key, c.rows(i)))
    }
    new GenericArrayData(out.toArray[Any])
  }

  override def serialize(s: Sample): Array[Byte] = {
    def rowBytes(r: UnsafeRow) = 4 + r.getSizeInBytes
    val size = 4 + s.cells.map(c => 8 + rowBytes(c.key) +
      (if (counting) 8 else 4 + (0 until c.size).map(i => 8 + rowBytes(c.rows(i))).sum)).sum
    val buf = ByteBuffer.allocate(size)
    def put(r: UnsafeRow): Unit = { buf.putInt(r.getSizeInBytes); r.writeTo(buf) }
    buf.putInt(s.cells.length)
    s.cells.foreach { c =>
      buf.putLong(c.priority)
      put(c.key)
      if (counting) buf.putLong(c.count)
      else {
        buf.putInt(c.size)
        (0 until c.size).foreach { i => buf.putDouble(c.priorities(i)); put(c.rows(i)) }
      }
    }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): Sample = {
    val buf = ByteBuffer.wrap(bytes)
    // rows point into `bytes`, which they keep alive
    def get(fields: Int): UnsafeRow = {
      val len = buf.getInt
      val r = new UnsafeRow(fields)
      r.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + buf.position(), len)
      buf.position(buf.position() + len)
      r
    }
    val s = new Sample(maxCells, maxRows)
    (0 until buf.getInt).foreach { _ =>
      val c = new Cell(buf.getLong, get(numKeys))
      if (counting) c.count = buf.getLong
      else {
        c.size = buf.getInt
        c.priorities = new Array[Double](c.size)
        c.rows = new Array[UnsafeRow](c.size)
        (0 until c.size).foreach { i =>
          c.priorities(i) = buf.getDouble
          c.rows(i) = get(kept.size - numKeys)
        }
      }
      s.add(c)
    }
    s
  }

  override def withNewMutableAggBufferOffset(offset: Int): BoundedSample =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BoundedSample =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BoundedSample = copy(children = newChildren)
}

object BoundedSample {

  /** The sampler as an aggregate column (apply it in `groupBy(unit).agg`).
    * `keys` and `payload` name the output fields. `rowPriority` None
    * counts: each kept cell then carries how many rows it kept (at most
    * maxRows) in the field `counted`, and there is no payload. */
  def column(cellPriority: Column, rowPriority: Option[Column],
      keys: Seq[(String, Column)], payload: Seq[(String, Column)],
      maxCells: Int, maxRows: Int, counted: String): Column = {
    require(rowPriority.isDefined || payload.isEmpty, "a counting sample keeps no payload")
    val e = GraftShims.expression _
    GraftShims.column(BoundedSample(
      Seq(e(cellPriority), rowPriority.fold[Expression](Literal(0.0))(e)) ++
        (keys ++ payload).map(k => e(k._2)),
      (keys ++ payload).map(_._1) ++ rowPriority.fold(Seq(counted))(_ => Nil),
      keys.size, maxCells, maxRows, counting = rowPriority.isEmpty).toAggregateExpression())
  }

  /** One kept cell: its priority and key, and either its kept rows (a
    * max-heap on row priority, `size` of them) or its kept-row count. */
  final class Cell(val priority: Long, val key: UnsafeRow) {
    var count = 0L
    var size = 0
    var priorities: Array[Double] = Array.emptyDoubleArray
    var rows: Array[UnsafeRow] = Array.empty
  }

  /** The kept cells of one unit. When full, `last` indexes the cell that
    * ranks last: the one a better-ranked new cell evicts. */
  final class Sample(maxCells: Int, maxRows: Int) {
    val cells = new ArrayBuffer[Cell](math.min(maxCells, 16))
    private var last = -1

    private def rank(priority: Long, key: UnsafeRow, c: Cell): Int = {
      val byPriority = java.lang.Long.compare(priority, c.priority)
      if (byPriority != 0) byPriority
      else java.util.Arrays.compareUnsigned(key.getBytes, c.key.getBytes)
    }

    def find(priority: Long, key: UnsafeRow): Cell = {
      var i = 0
      while (i < cells.length) {
        val c = cells(i)
        if (c.priority == priority && c.key == key) return c
        i += 1
      }
      null
    }

    /** Whether a cell not kept yet ranks among the maxCells kept. */
    def admits(priority: Long, key: UnsafeRow): Boolean =
      cells.length < maxCells || rank(priority, key, cells(last)) < 0

    /** Keeps `c` (admitted), evicting the last-ranked cell when full. */
    def add(c: Cell): Cell = {
      if (cells.length < maxCells) cells += c else cells(last) = c
      if (cells.length == maxCells) {
        last = 0
        var i = 1
        while (i < cells.length) {
          if (rank(cells(i).priority, cells(i).key, cells(last)) > 0) last = i
          i += 1
        }
      }
      c
    }

    /** Whether a row of priority `p` ranks among the maxRows kept in `c`. */
    def accepts(c: Cell, p: Double): Boolean = c.size < maxRows || p < c.priorities(0)

    /** Keeps an accepted row in `c`'s heap, evicting the root when full. */
    def offer(c: Cell, p: Double, row: UnsafeRow): Unit = {
      var i = 0
      if (c.size < maxRows) {
        if (c.size == c.rows.length) {
          val n = math.min(maxRows, math.max(4, 2 * c.size))
          c.priorities = java.util.Arrays.copyOf(c.priorities, n)
          c.rows = java.util.Arrays.copyOf(c.rows, n)
        }
        i = c.size
        c.size += 1
        while (i > 0 && c.priorities((i - 1) / 2) < p) {
          val parent = (i - 1) / 2
          c.priorities(i) = c.priorities(parent)
          c.rows(i) = c.rows(parent)
          i = parent
        }
      } else {
        var done = false
        while (!done) {
          val l = 2 * i + 1
          if (l >= c.size) done = true
          else {
            val m = if (l + 1 < c.size && c.priorities(l + 1) > c.priorities(l)) l + 1 else l
            if (c.priorities(m) <= p) done = true
            else {
              c.priorities(i) = c.priorities(m)
              c.rows(i) = c.rows(m)
              i = m
            }
          }
        }
      }
      c.priorities(i) = p
      c.rows(i) = row
    }
  }
}
