package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.StructField

/** Segmented scan: the one algorithm behind graft's de-skewed sequence
  * operators (sessionize, EWM smoothing, adjacent pairs, distributed
  * ordinals). A sequential per-key scan funnels a hyperactive key's whole
  * series through one task; instead the input is range-partitioned on
  * `distribution` (a big key spans many partitions) and sorted within
  * partitions on `ordering`, then
  *   1. `summarize` reduces each partition to a small summary (its first
  *      and last key chunks, run-length counts, ...);
  *   2. `fold` runs on the driver over the summaries in partition order
  *      and returns one carry per partition (the state threaded across
  *      partition boundaries, O(#partitions) bytes);
  *   3. `emit` re-reads each partition — the same shuffle output, its map
  *      stage skipped — with that partition's broadcast carry and returns
  *      rows in the node's output layout.
  *
  * The scan is a Catalyst plan node (logical [[SegmentedScan]], physical
  * [[SegmentedScanExec]]), so building a frame over it runs no job:
  * `explain` and PlanLint see it, and its summary job runs inside the
  * query's own execution, the way a range exchange runs its sampling job.
  */
final case class SegmentedScan(
    name: String,
    distribution: Seq[SortOrder],
    ordering: Seq[SortOrder],
    output: Seq[Attribute],
    scan: SegmentedScan.Scan[_, _],
    child: LogicalPlan) extends UnaryNode {
  // the scan functions read child rows by ordinal: no child column may be
  // pruned away beneath the node
  override def references: AttributeSet = child.outputSet
  override def producedAttributes: AttributeSet = AttributeSet(output) -- child.outputSet
  override protected def stringArgs: Iterator[Any] = Iterator(name, distribution, ordering)
  override protected def withNewChildInternal(c: LogicalPlan): SegmentedScan = copy(child = c)
}

final case class SegmentedScanExec(
    name: String,
    distribution: Seq[SortOrder],
    ordering: Seq[SortOrder],
    output: Seq[Attribute],
    scan: SegmentedScan.Scan[_, _],
    child: SparkPlan) extends UnaryExecNode {
  override def requiredChildDistribution: Seq[Distribution] = OrderedDistribution(distribution) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = ordering :: Nil
  override def outputPartitioning: Partitioning =
    UnknownPartitioning(child.outputPartitioning.numPartitions)
  override lazy val metrics: Map[String, SQLMetric] =
    Map("numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))
  // memoized: the summary job runs once per physical plan, whichever
  // consumer (exchange sampling, shuffle map stage, result stage) asks first
  private lazy val rows: RDD[InternalRow] =
    scan.run(child.execute(), output.map(_.dataType).toArray, longMetric("numOutputRows"))
  override protected def doExecute(): RDD[InternalRow] = rows
  override protected def stringArgs: Iterator[Any] = Iterator(name, distribution, ordering)
  override protected def withNewChildInternal(c: SparkPlan): SegmentedScanExec = copy(child = c)
}

/** Plans [[SegmentedScan]]; [[SegmentedScan.build]] installs it. */
object SegmentedScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case SegmentedScan(name, dist, ord, output, scan, child) =>
      SegmentedScanExec(name, dist, ord, output, scan, planLater(child)) :: Nil
    case _ => Nil
  }

  def setup(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(this))
      spark.experimental.extraStrategies = this +: spark.experimental.extraStrategies
}

object SegmentedScan {

  /** The three phases of one scan. Summaries and carries cross the
    * driver/executor boundary, so they (and everything the functions
    * capture) must be serializable. */
  final class Scan[S, C](
      summarize: Iterator[InternalRow] => S,
      fold: IndexedSeq[S] => IndexedSeq[C],
      emit: (C, Iterator[InternalRow]) => Iterator[InternalRow]) extends Serializable {

    private[core] def run(input: RDD[InternalRow], outTypes: Array[org.apache.spark.sql.types.DataType],
                          numOut: SQLMetric): RDD[InternalRow] = {
      val summaries = input.mapPartitions(it => Iterator.single(summarize(it): Any)).collect()
      val carries = fold(summaries.toIndexedSeq.map(_.asInstanceOf[S]))
      require(carries.length == summaries.length,
        s"segmented scan: fold returned ${carries.length} carries for ${summaries.length} partitions")
      val bc = input.sparkContext.broadcast(carries)
      input.mapPartitionsWithIndex { (pid, it) =>
        // emitted rows may be views over reused buffers; projecting each one
        // before the next is pulled hands consumers flat UnsafeRows
        val proj = UnsafeProjection.create(outTypes)
        emit(bc.value(pid), it).map { r => numOut += 1; proj(r) }
      }
    }
  }

  /** A frame over a segmented scan of `df`. Output columns are `df`'s
    * followed by `appended` (or only `appended` when `keepInput` is false);
    * `emit` returns rows in that layout. `distribution`/`ordering` are
    * sort columns of `df` (a bare column sorts ascending). No job runs
    * here. */
  def build[S, C](df: DataFrame, name: String, distribution: Seq[Column], ordering: Seq[Column],
                  appended: Seq[StructField], keepInput: Boolean = true)(
      summarize: Iterator[InternalRow] => S)(
      fold: IndexedSeq[S] => IndexedSeq[C])(
      emit: (C, Iterator[InternalRow]) => Iterator[InternalRow]): DataFrame = {
    val spark = df.sparkSession
    SegmentedScanStrategy.setup(spark)
    val child = df.queryExecution.analyzed
    // resolved against `child` by the analyzer, as a sortWithinPartitions
    def sortOrders(cs: Seq[Column]): Seq[SortOrder] =
      df.sortWithinPartitions(cs: _*).queryExecution.analyzed.asInstanceOf[Sort].order
    val produced = appended.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    val output = (if (keepInput) child.output else Nil) ++ produced
    val node = SegmentedScan(name, sortOrders(distribution), sortOrders(ordering), output,
      new Scan(summarize, fold, emit), child)
    // produced columns leave through aliases: the analyzer renews an alias
    // (not a custom node's attribute) when a frame is joined with itself
    GraftColumnBridge.ofRows(spark, Project(
      output.map(a => if (produced.contains(a)) Alias(a, a.name)() else a), node))
  }

  /** `row ++ cells`: the reusable view an appending `emit` returns (set
    * `cells`, then `apply` the input row). */
  final class Appender(width: Int) {
    val cells = new GenericInternalRow(width)
    private val joined = new JoinedRow
    def apply(row: InternalRow): InternalRow = joined(row, cells)
  }
}
