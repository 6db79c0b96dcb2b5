package graft.plans

import org.apache.spark.GraftLocalTask
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, CollectLimitExec, ColumnarRule, ColumnarToRowExec, FileSourceScanExec, FilterExec, InputAdapter, ProjectExec, SparkPlan, TakeOrderedAndProjectExec, UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.internal.SQLConf

import graft.sources.ManifestFileIndex

/** A small single-stage read collected on the calling thread, with no
  * Spark job. `executeCollect` evaluates the child's partitions one after
  * another as local tasks ([[org.apache.spark.GraftLocalTask]]); a
  * `TakeOrderedAndProject` child gets `RDD.takeOrdered`'s own top-K and
  * projection, a `CollectLimit` child the first `limit` rows in partition
  * order, as their own `executeCollect` would. Everything else —
  * `execute` (writes, `toLocalIterator`), `executeTake` — delegates to the
  * child unchanged, so only a collect takes the local path.
  *
  * A local read is not a job: it cannot be cancelled through a job group,
  * it posts no task events (so task-level input, CPU and task counters
  * read 0 for it), and the driver must be able to read the store's files.
  * [[CollectLocally]] bounds its input to a few MB. */
final case class LocalCollectExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = child.execute()

  override def executeCollect(): Array[InternalRow] = child match {
    case t: TakeOrderedAndProjectExec => takeOrdered(t)
    case l: CollectLimitExec if l.limit >= 0 =>
      val rdd = l.child.execute()
      val rows = Array.newBuilder[InternalRow]
      var (taken, i) = (0, 0)
      while (taken < l.limit && i < rdd.partitions.length) {
        val part = GraftLocalTask.runPartition(rdd, i)(
          _.take(l.limit - taken).map(_.copy()).toArray)
        rows ++= part
        taken += part.length
        i += 1
      }
      rows.result().drop(l.offset)
    case l: CollectLimitExec => collect(l.child).drop(l.offset)
    case p => collect(p)
  }

  private def collect(p: SparkPlan): Array[InternalRow] =
    GraftLocalTask.runLocally(p.execute())(_.map(_.copy()).toArray).flatten

  /** `TakeOrderedAndProjectExec.executeCollect`, with the top-K run
    * locally. */
  private def takeOrdered(t: TakeOrderedAndProjectExec): Array[InternalRow] = {
    val presorted = SortOrder.orderingSatisfies(t.child.outputOrdering, t.sortOrder)
    val limit = t.limit
    val limited = GraftLocalTask.takeOrdered(t.child.execute(), limit) { it =>
      val copied = it.map(_.copy())
      if (presorted) copied.take(limit) else copied
    }(new LazilyGeneratedOrdering(t.sortOrder, t.child.output))
    val data = if (t.offset > 0) limited.drop(t.offset) else limited
    if (t.projectList == t.child.output) data
    else {
      val proj = UnsafeProjection.create(t.projectList, t.child.output)
      proj.initialize(0)
      data.map(r => proj(r).copy())
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): LocalCollectExec =
    copy(child = newChild)
}

/** Wraps a plan in [[LocalCollectExec]] when collecting it on the driver
  * costs less than scheduling a job: a small read of a snapshot store,
  * already pruned by its manifest. All of these must hold:
  *  - the plan is one stage of row operators from a fixed list (scan,
  *    columnar-to-row, filter, project, hash aggregate, coalesce, and a
  *    `TakeOrderedAndProject` or `CollectLimit` root) with no subquery —
  *    so no exchange, broadcast or command;
  *  - every leaf scans a [[ManifestFileIndex]], whose file list is
  *    already pruned by the manifest's partition and zone-map skipping;
  *  - the files its scans selected pass [[fits]].
  * Applied after the columnar transitions on the plain and the adaptive
  * path (on the latter to the final stage, where a plan without an
  * exchange is the whole plan). */
object CollectLocally extends Rule[SparkPlan] {

  /** At most `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * files (Spark's own limit for listing files on the driver rather than
    * in a job) and at most `spark.sql.files.openCostInBytes` bytes in all
    * (by Spark's cost model, less than the cost of opening one more
    * file). */
  def fits(files: Long, bytes: Long, conf: SQLConf): Boolean =
    files <= conf.parallelPartitionDiscoveryThreshold && bytes <= conf.filesOpenCostInBytes

  override def apply(plan: SparkPlan): SparkPlan = {
    val body = plan match {
      case t: TakeOrderedAndProjectExec => t.child
      case l: CollectLimitExec => l.child
      case p => p
    }
    // the operator list leaves scans as the only possible leaves. Their
    // files are listed here from the index, not through the scan's
    // `selectedPartitions`: that also sets the scan's file metrics, which
    // the action resets after planning, so they would then read 0
    lazy val selected = body.collect { case s: FileSourceScanExec =>
      s.relation.location.listFiles(s.partitionFilters, s.dataFilters).flatMap(_.files)
    }.flatten
    val local = !body.exists(!rowOperator(_)) && !plan.exists(_.subqueries.nonEmpty) &&
      fits(selected.size, selected.map(_.getLen).sum, conf)
    if (local) LocalCollectExec(plan) else plan
  }

  private def rowOperator(p: SparkPlan): Boolean = p match {
    case s: FileSourceScanExec => s.relation.location.isInstanceOf[ManifestFileIndex]
    case _: ColumnarToRowExec | _: FilterExec | _: ProjectExec | _: HashAggregateExec |
        _: CoalesceExec | _: WholeStageCodegenExec | _: InputAdapter => true
    case _ => false
  }
}

/** The registration handle for [[CollectLocally]]
  * (`SparkSessionExtensions.injectColumnar`). */
object LocalCollect extends ColumnarRule {
  override def postColumnarTransitions: Rule[SparkPlan] = CollectLocally
}
