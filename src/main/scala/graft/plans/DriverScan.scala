package graft.plans

import graft.sources.api.GraftScan
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.{AggregatingAccumulator, ExplainUtils, SQLExecution, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.internal.SQLConf
import scala.collection.mutable.ArrayBuffer

/** Planner strategy: connector scans that are small run on the driver — the
  * in-process row cursor of the reference (cursor.go), where a one-row GET
  * costs one plugin call and no job, and SQLite aggregates in the process
  * that holds the cursor.
  *
  * Two shapes, both over `[Project] [Filter] DataSourceV2ScanRelation` of a
  * `GraftScan`:
  *   - a global aggregate (no grouping) whose scan's own estimate is at most
  *     `spark.sql.autoBroadcastJoinThreshold` bytes — Spark's bound on data
  *     it gathers at the driver; a negative threshold turns it off — and at
  *     most `MaxAggregateRows` rows, and whose functions are all declarative,
  *     without DISTINCT or FILTER, is a `DriverAggregateExec`;
  *   - a scan whose own statistics promise at most `config.pageSize` rows (the
  *     rows one API call returns) is a `DriverScanExec`.
  * Either reads through the scan's usual `BatchScanExec`. A filter,
  * projection or aggregate holding a subquery or a dynamic-pruning
  * expression keeps Spark's plan, and so does a streaming read, which is a
  * different relation. Installed by `GraftOps.register`. */
object DriverScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Aggregate(Nil, aggs, PlainScan(project, filters, r, scan), _)
        if fitsDriver(scan) && aggs.forall(declarative) =>
      DriverAggregateExec(aggs, driverScan(project, filters, r)) :: Nil
    case PlainScan(project, filters, r, scan) if onePage(scan) =>
      driverScan(project, filters, r) :: Nil
    case _ => Nil
  }

  private object PlainScan {
    def unapply(plan: LogicalPlan)
        : Option[(Seq[NamedExpression], Seq[Expression], DataSourceV2ScanRelation, GraftScan)] =
      plan match {
        case PhysicalOperation(project, filters, r @ DataSourceV2ScanRelation(_, scan: GraftScan, _, _, _))
            if (project ++ filters).forall(plain) => Some((project, filters, r, scan))
        case _ => None
      }
  }

  private def driverScan(project: Seq[NamedExpression], filters: Seq[Expression],
      r: DataSourceV2ScanRelation): DriverScanExec =
    DriverScanExec(project, filters.reduceOption(And),
      BatchScanExec(r.output, r.scan, Nil, r.ordering, r.relation.table))

  private def onePage(scan: GraftScan): Boolean = {
    val rows = scan.estimateStatistics().numRows()
    rows.isPresent && rows.getAsLong <= scan.config.pageSize
  }

  /** The most rows a driver aggregate reads. One thread folds them, whatever
    * the cluster: on 4 cores a fold of `count, sum, max` over up to 80,000
    * rows took 51–67 ms against 103–197 ms for Spark's two jobs, and was no
    * faster than them at 240,000. */
  val MaxAggregateRows = 80000L

  private def fitsDriver(scan: GraftScan): Boolean = {
    val limit = SQLConf.get.autoBroadcastJoinThreshold
    val stats = scan.estimateStatistics()
    val (size, rows) = (stats.sizeInBytes(), stats.numRows())
    limit >= 0 && size.isPresent && size.getAsLong <= limit &&
      rows.isPresent && rows.getAsLong <= MaxAggregateRows
  }

  private def declarative(e: NamedExpression): Boolean = plain(e) && !e.exists {
    case a: AggregateExpression =>
      a.isDistinct || a.filter.isDefined || !a.aggregateFunction.isInstanceOf[DeclarativeAggregate]
    case _ => false
  }

  private def plain(e: Expression): Boolean =
    !e.exists(x => x.isInstanceOf[SubqueryExpression] || x.isInstanceOf[DynamicPruning])
}

/** A scan that driver nodes read with its filter and projection. At the root
  * of a query (`collect`, `take`, `head`, `tail`), and under a
  * `DriverAggregateExec`, it reads the scan's input partitions in order on
  * the calling thread through the scan's own reader factory, so split retry,
  * the query cache and the scan ledger work as in a task, and no job runs.
  * Under another operator it is one partition of the scan's rows, read by a
  * task. Filter and projection are interpreted: rows read on the driver do
  * not pay back a code-generation compile. */
case class DriverScanExec(projectList: Seq[NamedExpression], condition: Option[Expression],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  override def outputPartitioning: Partitioning = SinglePartition

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  private def scan: BatchScanExec = child.asInstanceOf[BatchScanExec]

  /** The filter and projection over one partition of the scan's rows. */
  private def pipeline: (Int, Iterator[InternalRow]) => Iterator[InternalRow] =
    DriverScanExec.pipeline(projectList, condition, child.output, longMetric("numOutputRows"))

  /** `use` applied to the output rows, read on the driver; the scan's readers
    * stop at the split where `use` stops. The row counts of this node and of
    * the scan, and `more`, are then posted as driver-side updates of the
    * running SQL execution. */
  private[plans] def readOnDriver[T](more: Seq[SQLMetric])(use: Iterator[InternalRow] => T): T = {
    val scanned = scan.longMetric("numOutputRows")
    val opened = ArrayBuffer[PartitionReader[InternalRow]]()
    val out = try {
      val rows = scan.inputPartitions.iterator.flatMap { p =>
        val reader = scan.readerFactory.createReader(p)
        opened += reader
        Iterator.continually(reader).takeWhile(_.next()).map { r => scanned += 1; r.get() }
      }
      use(pipeline(0, rows))
    } finally opened.foreach(_.close())
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      metrics.values.toSeq ++ more :+ scanned)
    out
  }

  override def executeCollect(): Array[InternalRow] = executeTake(Int.MaxValue)
  override def executeTake(n: Int): Array[InternalRow] =
    readOnDriver(Nil)(_.take(n).map(_.copy()).toArray)
  override def executeTail(n: Int): Array[InternalRow] = executeCollect().takeRight(n)

  /** Exactly one partition, as `SinglePartition` promises: a scan of no
    * split has no input partition to coalesce, and a global aggregate or a
    * join zip over it needs the one empty partition. */
  override protected def doExecute(): RDD[InternalRow] = {
    val rows =
      if (scan.inputPartitions.isEmpty) sparkContext.parallelize(Array.empty[InternalRow], 1)
      else child.execute().coalesce(1)
    rows.mapPartitionsWithIndex(pipeline)
  }

  override def verboseStringWithOperatorId(): String =
    s"""
       |$formattedNodeName
       |${ExplainUtils.generateFieldString("Output", projectList)}
       |${ExplainUtils.generateFieldString("Input", child.output)}
       |${condition.fold("")(c => s"Condition : $c\n")}""".stripMargin

  override protected def withNewChildInternal(c: SparkPlan): DriverScanExec = copy(child = c)
}

object DriverScanExec {
  private def pipeline(projectList: Seq[NamedExpression], condition: Option[Expression],
      input: Seq[Attribute], numOutputRows: SQLMetric)(index: Int,
      rows: Iterator[InternalRow]): Iterator[InternalRow] = {
    val keep = condition.map(c => InterpretedPredicate(BindReferences.bindReference(c, input)))
    val project = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(projectList, input))
    keep.foreach(_.initialize(index))
    project.initialize(index)
    rows.filter(r => keep.forall(_.eval(r))).map { r => numOutputRows += 1; project(r) }
  }
}

/** A global aggregate over a `DriverScanExec`, evaluated on the driver with
  * no job: the scan's rows are folded, as the calling thread reads them,
  * into Spark's `AggregatingAccumulator` (the evaluator behind
  * `Dataset.observe`). A scan of no split answers the aggregates of no rows:
  * 0 for a count, NULL for the rest. It requires no child distribution, so
  * no exchange and no adaptive plan is inserted, and `collect` runs no job.
  * Under another operator it is one partition holding the one row. */
case class DriverAggregateExec(aggregateExpressions: Seq[NamedExpression], child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = aggregateExpressions.map(_.toAttribute)
  override def outputPartitioning: Partitioning = SinglePartition

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  private def aggregate(): InternalRow = {
    val acc = AggregatingAccumulator(aggregateExpressions, child.output)
    child.asInstanceOf[DriverScanExec].readOnDriver(metrics.values.toSeq) { rows =>
      rows.foreach(acc.add)
      longMetric("numOutputRows") += 1
    }
    acc.value.copy()
  }

  override def executeCollect(): Array[InternalRow] = Array(aggregate())
  override def executeTake(n: Int): Array[InternalRow] = executeCollect().take(n)
  override def executeTail(n: Int): Array[InternalRow] = executeCollect().takeRight(n)

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(executeCollect().toSeq, 1)

  override def verboseStringWithOperatorId(): String =
    s"""
       |$formattedNodeName
       |${ExplainUtils.generateFieldString("Output", output)}
       |${ExplainUtils.generateFieldString("Aggregates", aggregateExpressions)}
       |""".stripMargin

  override protected def withNewChildInternal(c: SparkPlan): DriverAggregateExec = copy(child = c)
}
