package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  AttributeSet, BindReferences, Expression, InterpretedProjection,
  SortOrder, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveExecutionContext
import org.apache.spark.util.collection.Utils

import _root_.graft.engine.TaskLoader

/** The first page of a result and its true row count from ONE execution
  * — what a display needs, without the second Catalyst run, codegen and
  * job set a `count()` next to a `limit(n).collect()` costs. Lives in an
  * `org.apache.spark.sql` subpackage for the `private[sql]` execution
  * hooks.
  *
  * The optimized plan's root is read as `[Project] [global Sort] input`,
  * where the projection and the sort keys count only when they are
  * deterministic and free of subqueries. The execution runs `input`,
  * pruned to the columns the projection and the keys read, with one
  * `runJob`: each task returns its row count and at most `limit` copied
  * rows, so the driver holds at most `limit` × partitions rows.
  *
  *  - Without a sort, a task keeps its first `limit` rows and the page is
  *    the first `limit` rows in partition order — what
  *    `limit(n).collect()` returns.
  *  - With a sort, a task keeps its top `limit` rows under the sort order
  *    and the driver merges those lists — `TakeOrderedAndProject` with the
  *    count in the same pass, and no range-sampling job or range shuffle.
  *
  * The projection is applied on the driver to at most `limit` rows, so,
  * as under `count()`, the rows past the page never pay for it (nor
  * raise its errors).
  *
  * The execution runs under `SQLExecution.withNewExecutionId` with the
  * DataFrame's own `QueryExecution`, so `QueryExecutionListener`s and the
  * SQL UI see one execution per page, as for a `collect()`, and under the
  * local executor's task loader (`TaskLoader`), so the driver and the
  * tasks compile each class once. The plan they
  * are shown is that statement plan, though, not the `input` plan that
  * ran: when a projection or a sort was peeled off, the shown plan has no
  * SQL metrics and `Dataset.observe` metrics stay empty. */
object FirstPage {

  private def pure(e: Expression): Boolean =
    e.deterministic && !SubqueryExpression.hasSubquery(e)

  /** (total rows, the first `limit` rows) of `df` from one execution. */
  def apply(df: DataFrame, limit: Int): (Long, Seq[Row]) = {
    require(limit >= 0, s"limit must be non-negative, got $limit")
    val ds = df.asInstanceOf[Dataset[Row]]
    val qe = ds.queryExecution
    val fromRow = ds.exprEnc
      .resolveAndBind(ds.logicalPlan.output, ds.sparkSession.sessionState.analyzer)
      .createDeserializer()
    TaskLoader.within(ds.sparkSession) {
      SQLExecution.withNewExecutionId(qe, Some("tableToRows")) {
        val (project, below) = qe.optimizedPlan match {
          case Project(list, child) if list.forall(pure) => (Some(list), child)
          case plan => (None, plan)
        }
        // a zero-row page needs no sort (and takeOrdered would not count)
        val (order, input) = below match {
          case Sort(keys, true, child, _) if keys.forall(pure) && limit > 0 =>
            (Some(keys), child)
          case plan => (None, plan)
        }
        val read = AttributeSet(project.getOrElse(below.output)) ++
          AttributeSet(order.getOrElse(Nil))
        val cols = input.output.filter(read.contains)
        val pruned = if (cols.size == input.output.size) input else Project(cols, input)
        val (total, rows) = run(qe, pruned, order, limit)
        val page = project.fold(rows) { list =>
          val proj = new InterpretedProjection(
            list.map(BindReferences.bindReference[Expression](_, cols)))
          proj.initialize(0)
          rows.map(proj)
        }
        (total, page.map(fromRow).toSeq)
      }
    }
  }

  /** Runs `plan` (planned under the statement's adaptive context): the
    * total row count and its first `limit` rows, in partition order or,
    * given an `order`, under it. */
  private def run(
      qe: QueryExecution, plan: LogicalPlan, order: Option[Seq[SortOrder]],
      limit: Int): (Long, Array[InternalRow]) = {
    val rdd = QueryExecution.prepareExecutedPlan(
      plan, AdaptiveExecutionContext(qe.sparkSession, qe)).execute()
    val ord = order.map(new LazilyGeneratedOrdering(_, plan.output))
    val parts = rdd.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
      var n = 0L
      val head = ord match {
        case Some(o) =>
          Utils.takeOrdered(it.map { r => n += 1; r.copy() }, limit)(o).toArray
        case None =>
          val first = Array.newBuilder[InternalRow]
          while (it.hasNext) {
            val r = it.next()
            if (n < limit) first += r.copy()
            n += 1
          }
          first.result()
      }
      (n, head)
    })
    val heads = parts.iterator.flatMap(_._2)
    val rows = ord.fold(heads.take(limit))(Utils.takeOrdered(heads, limit)(_))
    (parts.map(_._1).sum, rows.toArray)
  }
}
