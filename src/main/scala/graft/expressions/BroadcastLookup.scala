package graft.expressions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** The rows a driver-built hash table holds for a `bigint` key: the probe
  * side of a broadcast hash join, as one expression.
  *
  * The table is a Spark broadcast of `key → array<struct>` built on the
  * driver from a small, already-collected side. `explode` over the lookup
  * joins every streamed row to its matches inside the scan's own stage:
  * unlike a broadcast join against a local relation, no separate job
  * collects the build side first, so a scan joined to it and collected is
  * exactly one Spark job.
  *
  * Nulls: a null key, or a key the table does not hold, yields null (so
  * `explode` drops the row).
  */
case class BroadcastLookup(child: Expression,
                           table: Broadcast[java.util.Map[java.lang.Long, ArrayData]],
                           dataType: DataType)
    extends UnaryExpression with CodegenFallback {

  override def nullable: Boolean = true

  override def prettyName: String = "broadcast_lookup"

  override protected def nullSafeEval(key: Any): Any = {
    require(child.dataType == LongType,
      s"broadcast_lookup requires a bigint key, got ${child.dataType}")
    table.value.get(key.asInstanceOf[Long])
  }

  override protected def withNewChildInternal(newChild: Expression): BroadcastLookup =
    copy(child = newChild)
}

object BroadcastLookup {
  /** Column-API entry point: `key`'s rows of type `rowType`. */
  def apply(key: Column, table: Broadcast[java.util.Map[java.lang.Long, ArrayData]],
            rowType: StructType): Column =
    ColumnBridge.column(BroadcastLookup(ColumnBridge.expression(key), table,
      ArrayType(rowType, containsNull = false)))
}
