package graft.expressions

import org.apache.spark.sql.GraftColumn
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BooleanType, DataType, StructType}

/** Entity-key tuples held on the driver, compared the way Spark's hash join
  * and hash aggregate compare their keys: as the `UnsafeRow` bytes of the
  * tuple after NaN and -0.0 are normalized. So binary keys match by
  * content, NaN matches NaN, 0.0 matches -0.0, and two tuples with NULL in
  * the same parts are equal (the grouping rule of
  * `countDistinct(struct(keys))`). */
final class KeySet private (tuples: Set[UnsafeRow]) extends Serializable {
  def size: Int = tuples.size
  def contains(t: UnsafeRow): Boolean = tuples.contains(t)
  override def toString: String = s"KeySet($size tuples)"
}

object KeySet {
  /** The distinct key tuples of `rows` (rows of `schema`) at columns
    * `keys`; fewer tuples than rows means two rows share a key. */
  def of(schema: StructType, keys: Seq[String], rows: Seq[InternalRow]): KeySet = {
    val key = tuple(schema, keys)
    new KeySet(rows.map(r => key(r).copy()).toSet)
  }

  /** The normalized key tuple of columns `keys` of rows of `schema`: two
    * rows share a key exactly when their tuples are equal. The result row
    * is reused, so a tuple that is kept must be copied. */
  def tuple(schema: StructType, keys: Seq[String]): UnsafeProjection =
    projection(keys.map(k =>
      BoundReference(schema.fieldIndex(k), schema(k).dataType, nullable = true)))

  /** The normalized key tuple of `keys`, the same bytes on the driver and
    * in a task. */
  private[expressions] def projection(keys: Seq[Expression]): UnsafeProjection =
    UnsafeProjection.create(keys.map(GraftColumn.normalizedKey))
}

/** The keep-rule of a left-anti equi-join against `keys`: TRUE when the
  * row's key tuple (`children`, of the types the set was built from) has a
  * NULL part, which an equi-join never matches, or is not in the set.
  *
  * The set travels inside the task, so the filter costs no broadcast job,
  * and evaluation falls back to `eval` with the set as a referenced object:
  * every commit reuses the same generated code and no key becomes a
  * literal of the plan. */
case class NotInKeySet(children: Seq[Expression], keys: KeySet)
    extends Expression with CodegenFallback {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "not_in_key_set"

  @transient private lazy val tuple = KeySet.projection(children)

  override def eval(input: InternalRow): Any = {
    val t = tuple(input)
    t.anyNull || !keys.contains(t)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): NotInKeySet =
    copy(children = newChildren)
}
