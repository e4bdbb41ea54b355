package graft.spark.source

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, BindReferences, Expression, InterpretedOrdering, Predicate, SubqueryExpression, UnsafeProjection, Unevaluable}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

import scala.collection.mutable.ArrayBuffer

/** Answers a small graft row scan on the driver. When the chunks that
  * plan-time pruning keeps decode to at most `MaxDecodedBytes`, the
  * strategy decodes them with the scan's own `GraftPartitionReader` and
  * the session's Hadoop conf, applies the filters and the projection above
  * the scan, and plans a `LocalTableScanExec`: `collect`, `show` and
  * `take` then run no job, broadcast nothing and start no task.
  * Every other scan plans as before (`BatchScanExec`), and so does any
  * scan whose filters or projection are non-deterministic, hold a
  * subquery, or cannot be evaluated (runtime filters among them).
  *
  * The bound is in decoded bytes (`GraftScan.partitionsWithin`), not
  * stored ones: it caps both the driver's single-threaded decode and the
  * rows it holds, and a compressible table stores millions of rows in a
  * few hundred KB.
  *
  * A scan that reports a sort claim emits its rows sorted by it: the
  * logical plan carries the claim as the relation's ordering, so a rule
  * may drop a `sortWithinPartitions` against it, and `LocalTableScanExec`
  * slices its rows into partitions in order, so every slice keeps it.
  *
  * Planning decodes, so `explain` decodes too; the bound keeps that cheap.
  */
object GraftLocalScan extends SparkStrategy {

  /** Decoded bytes up to which the driver answers. A timed sweep on a
    * 4-core host (2 000 web pages, 6 KB each, in 16 files; url `IN`
    * lookups keeping 1–8 chunks, and range reads) had the driver answer
    * at about half the process CPU of a `local[4]` job at every size,
    * and ahead in wall time up to about this bound; the whole table
    * (12 MB decoded) was level in wall time.
    */
  final val MaxDecodedBytes: Long = 4L << 20

  /** Deterministic, subquery-free, and evaluable once its attributes
    * (themselves `Unevaluable` until bound) are bound to the scan's rows.
    */
  private def evaluable(e: Expression): Boolean =
    e.deterministic && !SubqueryExpression.hasSubquery(e) && !e.exists {
      case _: Attribute   => false
      case _: Unevaluable => true
      case _              => false
    }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(projects, filters,
        DataSourceV2ScanRelation(_, scan: GraftScan, output, _, ordering))
        if (projects ++ filters).forall(evaluable) =>
      scan.partitionsWithin(MaxDecodedBytes).map { parts =>
        // interpreted, not generated: the reader hands over only rows its
        // predicate-first decode admitted, so a point lookup evaluates the
        // filters on a row or two and code generation would cost more
        val keep = filters.reduceOption(And)
          .map(f => Predicate.createInterpreted(BindReferences.bindReference(f, output)))
        keep.foreach(_.initialize(0))
        val rows = ArrayBuffer[InternalRow]()
        parts.foreach { p =>
          val reader = scan.driverReader(p)
          try {
            while (reader.next()) {
              val row = reader.get()
              if (keep.forall(_.eval(row))) rows += row.copy()
            }
          } finally reader.close()
        }
        val sorted = ordering.filter(_.nonEmpty && rows.size > 1)
          .fold(rows.toSeq)(o => rows.toSeq.sorted(new InterpretedOrdering(o, output)))
        // the scan's own columns (a filtered `select *`) need no projection
        val projected =
          if (projects == output) sorted
          else {
            val project = UnsafeProjection.create(projects, output)
            sorted.map(project(_).copy())
          }
        LocalTableScanExec(projects.map(_.toAttribute), projected, None) :: Nil
      }.getOrElse(Nil)
    case _ => Nil
  }
}
