package org.apache.spark.sql.graft

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.SQLExecution

import _root_.graft.engine.TaskLoader

/** `f` of every partition of a result, from ONE `runJob` over the
  * statement's executed plan: each task decodes its rows with the
  * Dataset's own encoder and returns `f` of them, and the driver gets the
  * answers in partition order (for a sorted result, sort order). The
  * rows are the ones `collect()` and `toLocalIterator()` would return,
  * in the same order, since those run the same executed plan; what comes
  * back to the driver is only what `f` returns. Stages below the result
  * stage (a shuffle, a sort's range sampling) run their own jobs first,
  * as they do for `collect()`.
  *
  * Runs under `SQLExecution.withNewExecutionId` with the DataFrame's own
  * `QueryExecution`, so listeners and the SQL UI see one execution, with
  * its SQL metrics, and under the local executor's task loader
  * (`TaskLoader`), so the driver and the tasks compile each class once.
  * Lives in an `org.apache.spark.sql` subpackage for the `private[sql]`
  * execution hooks, like `FirstPage`. */
object EachPartition {

  def apply[T: ClassTag](df: DataFrame, name: String)(
      f: Iterator[Row] => T): Array[T] = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val qe = ds.queryExecution
    val fromRow = ds.exprEnc
      .resolveAndBind(ds.logicalPlan.output, ds.sparkSession.sessionState.analyzer)
      .createDeserializer()
    TaskLoader.within(ds.sparkSession) {
      SQLExecution.withNewExecutionId(qe, Some(name)) {
        qe.executedPlan.resetMetrics()
        val rdd = qe.executedPlan.execute()
        rdd.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => f(it.map(fromRow)))
      }
    }
  }
}
