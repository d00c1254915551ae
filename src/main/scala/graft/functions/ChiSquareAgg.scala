package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.InterpretedUnsafeProjection
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-partition Pearson chi-square of a category column's frequencies
  * against the pooled table, as one aggregate over `(part, cat)` rows. The
  * buffer is the contingency table itself, a map of `(part, cat)` cells to
  * counts: parts × vocabulary entries, small by contract, so partials
  * combine map-side. The result is one `struct<part_id, chi2, dof, n>` per
  * partition, in `part` order (nulls first), with `part`'s type kept.
  *
  * A partition's expected count in a cell is `e = r·c / g` (row total,
  * column total, grand total). A zero cell adds its `e`, and a partition's
  * `e`s sum to `r`, so Σ (o − e)²/e over all cells = Σ o²/e over present
  * cells − r. The sum runs in category order, so the result does not depend
  * on the order in which rows or partials arrive. `dof` is the vocabulary
  * size − 1, `n` is `r`.
  */
case class ChiSquareAgg(
    left: Expression,
    right: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.Map[(Any, UTF8String), Long]]
    with BinaryLike[Expression] {
  private type Cells = mutable.Map[(Any, UTF8String), Long]

  private def partType: DataType = left.dataType

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("part_id", partType, left.nullable),
    StructField("chi2", DoubleType),
    StructField("dof", LongType),
    StructField("n", LongType))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "chi_square"

  override def createAggregationBuffer(): Cells = mutable.HashMap.empty

  override def update(buffer: Cells, input: InternalRow): Cells = {
    val cat = right.eval(input).asInstanceOf[UTF8String]
    if (cat != null) {
      val key = (left.eval(input), cat)
      // the input row's values are reused: only a new cell copies them
      buffer.get(key) match {
        case Some(o) => buffer(key) = o + 1L
        case None => buffer((InternalRow.copyValue(key._1), cat.clone())) = 1L
      }
    }
    buffer
  }

  override def merge(buffer: Cells, other: Cells): Cells = {
    other.foreach { case (k, o) => buffer(k) = buffer.getOrElse(k, 0L) + o }
    buffer
  }

  override def eval(buffer: Cells): Any = {
    val colTot = buffer.toSeq.groupMapReduce(_._1._2)(_._2)(_ + _)
    val grand = colTot.values.sum
    val dof = colTot.size - 1L
    val ord = TypeUtils.getInterpretedOrdering(partType)
    val byPart: Ordering[Any] = (a, b) =>
      if (a == null) { if (b == null) 0 else -1 }
      else if (b == null) 1
      else ord.compare(a, b)
    val byCat: Ordering[UTF8String] = (a, b) => a.compareTo(b)
    val parts = buffer.toSeq.groupBy(_._1._1).toSeq.sortBy(_._1)(byPart)
    new GenericArrayData(parts.map { case (p, cells) =>
      val r = cells.map(_._2).sum
      val chi2 = cells.sortBy(_._1._2)(byCat).map { case ((_, cat), o) =>
        (o * o) / ((r * colTot(cat)).toDouble / grand)
      }.sum - r
      InternalRow(p, chi2, dof, r)
    }.toArray[Any])
  }

  // A cell serializes as the UnsafeRow (part, cat, o), length-prefixed.
  private def cellSchema: Seq[DataType] = Seq(partType, StringType, LongType)

  override def serialize(buffer: Cells): Array[Byte] = {
    val proj = InterpretedUnsafeProjection.createProjection(
      cellSchema.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) })
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(buffer.size)
    buffer.foreach { case ((p, cat), o) =>
      val row = proj(InternalRow(p, cat, o))
      out.writeInt(row.getSizeInBytes)
      out.write(row.getBytes)
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Cells = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buffer = createAggregationBuffer()
    (0 until in.readInt()).foreach { _ =>
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      val row = new UnsafeRow(3)
      row.pointTo(b, b.length)
      val p = if (row.isNullAt(0)) null else InternalRow.copyValue(row.get(0, partType))
      buffer((p, row.getUTF8String(1).clone())) = row.getLong(2)
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(offset: Int): ChiSquareAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ChiSquareAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ChiSquareAgg =
    copy(left = newLeft, right = newRight)
}

object ChiSquareAgg {
  /** `chiSquare(part, cat)`: the per-part chi-square array of the table. */
  def chiSquare(part: Column, cat: Column): Column =
    Bridge.column(ChiSquareAgg(Bridge.expression(part),
      Bridge.expression(cat.cast("string"))).toAggregateExpression())
}
