package graft.plans

import graft.sources.api.GraftScan
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.{ExplainUtils, SQLExecution, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import scala.collection.mutable.ArrayBuffer

/** Planner strategy: a connector scan that returns at most one API page of
  * rows runs on the driver — the in-process row cursor of the reference
  * (cursor.go), where a one-row GET costs one plugin call and no job.
  *
  * It matches `[Project] [Filter] DataSourceV2ScanRelation` over a
  * `GraftScan` whose own statistics promise at most `config.pageSize`
  * rows (the rows one API call returns) and plans it as a `DriverScanExec`
  * over the scan's usual `BatchScanExec`. A filter or projection holding a
  * subquery or a dynamic-pruning expression keeps Spark's plan, and so does
  * a streaming read, which is a different relation. Installed by
  * `GraftOps.register`. */
object DriverScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(project, filters, r @ DataSourceV2ScanRelation(_, scan: GraftScan, _, _, _))
        if onePage(scan) && (project ++ filters).forall(plain) =>
      val batch = BatchScanExec(r.output, scan, Nil, r.ordering, r.relation.table)
      DriverScanExec(project, filters.reduceOption(And), batch) :: Nil
    case _ => Nil
  }

  private def onePage(scan: GraftScan): Boolean = {
    val rows = scan.estimateStatistics().numRows()
    rows.isPresent && rows.getAsLong <= scan.config.pageSize
  }

  private def plain(e: Expression): Boolean =
    !e.exists(x => x.isInstanceOf[SubqueryExpression] || x.isInstanceOf[DynamicPruning])
}

/** A scan of at most one page with its filter and projection. At the root
  * of a query (`collect`, `take`, `head`, `tail`) it reads the scan's input
  * partitions in order on the calling thread through the scan's own reader
  * factory, so split retry, the query cache and the scan ledger work as in
  * a task, and no job runs. Under another operator it is one partition of
  * the scan's rows, read by a task. Filter and projection are interpreted:
  * one page of rows does not pay back a code-generation compile. */
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

  /** The first `n` output rows, read on the driver; the scan's readers
    * stop at the split that completes them. */
  private def readOnDriver(n: Int): Array[InternalRow] = {
    val scanned = scan.longMetric("numOutputRows")
    val opened = ArrayBuffer[PartitionReader[InternalRow]]()
    val out = try {
      val rows = scan.inputPartitions.iterator.flatMap { p =>
        val reader = scan.readerFactory.createReader(p)
        opened += reader
        Iterator.continually(reader).takeWhile(_.next()).map { r => scanned += 1; r.get() }
      }
      pipeline(0, rows).take(n).map(_.copy()).toArray
    } finally opened.foreach(_.close())
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      metrics.values.toSeq :+ scanned)
    out
  }

  override def executeCollect(): Array[InternalRow] = readOnDriver(Int.MaxValue)
  override def executeTake(n: Int): Array[InternalRow] = readOnDriver(n)
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
