package graft.functions

import graft.core.QuantileTree
import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType}

/** The quantile-tree aggregate (reference: combiners.py:629-719): its
  * buffer is a [[QuantileTree]], whose sparse leaf histogram lives on
  * primitive arrays, and its result is the tree in QuantileTree's one byte
  * format — the "serialized tree rides the shuffle" design the reference
  * uses (reference: combiners.py:647-665). `serialize`, `deserialize` and
  * `eval` all use that format.
  *
  * The input decides what it aggregates: a double column builds a tree of
  * its values (NaN fails loud, as in [[QuantileTree.add]]), a binary column
  * merges the serialized trees it holds. Like SQL's aggregates it skips a
  * NULL input, and a NULL or empty tree reads as empty. */
case class QuantileTreeAggregate(
    child: Expression,
    lower: Double,
    upper: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[QuantileTree] with UnaryLike[Expression] {

  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_quantile_tree"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a double value or a binary tree, got ${t.catalogString}")
  }

  private lazy val merging = child.dataType == BinaryType

  override def createAggregationBuffer(): QuantileTree = new QuantileTree(lower, upper)

  override def update(tree: QuantileTree, input: InternalRow): QuantileTree = {
    val v = child.eval(input)
    if (v != null) {
      if (!merging) tree.add(v.asInstanceOf[Double])
      else {
        val bytes = v.asInstanceOf[Array[Byte]]
        if (bytes.nonEmpty) tree.mergeSerialized(bytes)
      }
    }
    tree
  }

  override def merge(tree: QuantileTree, other: QuantileTree): QuantileTree = tree.merge(other)
  override def eval(tree: QuantileTree): Any = tree.serialize()
  override def serialize(tree: QuantileTree): Array[Byte] = tree.serialize()
  override def deserialize(bytes: Array[Byte]): QuantileTree = QuantileTree.deserialize(bytes)

  override def withNewMutableAggBufferOffset(offset: Int): QuantileTreeAggregate =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): QuantileTreeAggregate =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): QuantileTreeAggregate =
    copy(child = newChild)
}

object QuantileTreeAggregate {
  /** The aggregate over [lower, upper] as a column: a tree of `c`'s values
    * when `c` is a double, the merge of its trees when `c` is binary. */
  def column(lower: Double, upper: Double)(c: Column): Column =
    GraftShims.column(
      QuantileTreeAggregate(GraftShims.expression(c), lower, upper).toAggregateExpression())
}
