package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{CurrentTimestamp, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DataType

/** The processing-time stamp of the running micro-batch (or of the
  * query, in batch mode) — `current_timestamp()`'s value, kept out of
  * generated Java source.
  *
  * Spark resolves `current_timestamp()` once per micro-batch
  * (`CurrentBatchTimestamp`) or once per query (`ComputeCurrentTime`),
  * and ConstantFolding turns it into a timestamp literal. Whole-stage
  * codegen pastes that literal into the stage's source as `<micros>L`,
  * so every micro-batch produces new source, misses the codegen cache
  * and recompiles its stages through Janino. Wrapping the child keeps
  * the same substitution (the child still carries the `CURRENT_LIKE`
  * pattern the rewrites look for) and lets the child fold, but this
  * node is not foldable, and `CodegenFallback` puts it in the stage's
  * `references` array: the per-batch value lives in an object slot and
  * the source stays byte-identical from batch to batch.
  *
  * Deterministic whenever its child is (after folding, a literal), so
  * projections that never read the stamp still prune it.
  */
case class BatchTimestamp(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = child.dataType
  override def foldable: Boolean = false
  override def prettyName: String = "graft_batch_timestamp"

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def withNewChildInternal(newChild: Expression): BatchTimestamp =
    copy(child = newChild)
}

/** Column-level wrapper for [[BatchTimestamp]]. */
object TimeFunctions {

  /** `current_timestamp()` with the same per-batch (per-query) value,
    * compiled once for every batch of a stream.
    */
  def batchTimestamp(): Column = ColumnBridge.column(BatchTimestamp(CurrentTimestamp()))
}
