package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, JoinedRow, Predicate, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, PartitioningCollection}
import org.apache.spark.sql.execution.{BinaryExecNode, ExternalAppendOnlyUnsafeRowArray, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Marks a frame whose matching runs may be too large to hold in
  * memory: SizeGate's degraded tier ([[SizeGate.hintIfSmall]] past the
  * shuffled-hash bound). No physical operator of its own — an inner
  * equi-join with a marked side is planned by [[BlockSortMergeJoin]],
  * and the marker itself plans as its child. Wrapped by
  * `org.apache.spark.sql.SpillableRuns.mark`. */
case class SpillableRun(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): SpillableRun =
    copy(child = newChild)
}

/** Plans inner equi-joins with a [[SpillableRun]] side as a
  * [[BlockSortMergeJoinExec]]; every other join is left to Spark. */
object BlockSortMergeJoin extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case SpillableRun(child) => planLater(child) :: Nil
    case j: Join if marked(j.left) || marked(j.right) => j match {
      case ExtractEquiJoinKeys(Inner, lk, rk, cond, _, left, right, _)
          if RowOrdering.isOrderable(lk) =>
        BlockSortMergeJoinExec(lk, rk, cond, planLater(left), planLater(right)) :: Nil
      case _ => Nil
    }
    case _ => Nil
  }

  private def marked(p: LogicalPlan): Boolean = p match {
    case _: SpillableRun => true
    case Project(_, c) => marked(c)
    case Filter(_, c) => marked(c)
    case s: LogicalQueryStage => marked(s.logicalPlan)
    case _ => false
  }

  /** Streamed rows held per replay of a spilled run, in bytes. */
  private[plans] val BlockBytes = 64L << 20
}

/** Inner sort-merge join that replays a spilled buffered run once per
  * BLOCK of streamed rows instead of once per streamed row.
  *
  * Spark's SortMergeJoinExec buffers the right side's run for a key in
  * an ExternalAppendOnlyUnsafeRowArray and, once that run has spilled,
  * replays it for each streamed row through a fresh spill reader per
  * spill file. Each reader keeps a 1 MiB record array reachable from
  * the task's completion listeners until the task ends, so a key with
  * S streamed rows against a run spilled to F files holds S × F MiB:
  * 1000 streamed rows against 8 files ran a 7 GiB heap out of memory.
  * Here the streamed rows of a key are gathered into blocks (at most
  * `spark.sql.sortMergeJoinExec.buffer.in.memory.threshold` rows and
  * [[BlockSortMergeJoin.BlockBytes]]) and the run is replayed once per
  * block, so the readers number F per block. A run that did not spill
  * replays from memory at no such cost, and is joined row by row.
  *
  * Same distribution and ordering requirements as a sort-merge join;
  * the buffered run spills exactly as Spark's does (same thresholds).
  * Output is ordered by the join keys; within a key, buffered-major. */
case class BlockSortMergeJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    condition: Option[Expression],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override def outputPartitioning: Partitioning =
    PartitioningCollection(Seq(left.outputPartitioning, right.outputPartitioning))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(leftKeys.map(SortOrder(_, Ascending)), rightKeys.map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] = leftKeys.map(SortOrder(_, Ascending))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "spillSize" -> SQLMetrics.createSizeMetric(sparkContext, "spill size"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOut = longMetric("numOutputRows")
    val spillSize = longMetric("spillSize")
    val inMemRows = conf.sortMergeJoinExecBufferInMemoryThreshold
    val spillRows = conf.sortMergeJoinExecBufferSpillThreshold
    val spillBytes = conf.sortMergeJoinExecBufferSpillSizeThreshold
    left.execute().zipPartitions(right.execute()) { (streamed, buffered) =>
      val pred = condition.map { c =>
        val p = Predicate.create(c, left.output ++ right.output)
        p.initialize(org.apache.spark.TaskContext.getPartitionId())
        p
      }
      new BlockJoinIterator(streamed, buffered,
        UnsafeProjection.create(leftKeys, left.output),
        UnsafeProjection.create(rightKeys, right.output),
        RowOrdering.createNaturalAscendingOrdering(leftKeys.map(_.dataType)),
        // Same arguments as Spark's SortMergeJoinScanner gives its buffer.
        new ExternalAppendOnlyUnsafeRowArray(inMemRows, spillBytes, spillRows, spillBytes),
        inMemRows, pred.fold((_: InternalRow) => true)(p => p.eval(_)),
        UnsafeProjection.create(output, output), numOut, spillSize)
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BlockSortMergeJoinExec =
    copy(left = newLeft, right = newRight)
}

/** The merge over one partition pair. Both inputs arrive sorted by key
  * ascending; rows with a null key never match and are skipped. */
private final class BlockJoinIterator(
    streamedIter: Iterator[InternalRow],
    bufferedIter: Iterator[InternalRow],
    streamedKeyOf: UnsafeProjection,
    bufferedKeyOf: UnsafeProjection,
    ordering: Ordering[InternalRow],
    run: ExternalAppendOnlyUnsafeRowArray,
    blockRows: Int,
    keep: InternalRow => Boolean,
    project: UnsafeProjection,
    numOut: SQLMetric,
    spillSize: SQLMetric) extends Iterator[InternalRow] {

  // The current row of each side and its key; both are the children's
  // (reused) buffers, valid until that side advances.
  private var sRow: UnsafeRow = _
  private var sKey: UnsafeRow = _
  private var bRow: UnsafeRow = _
  private var bKey: UnsafeRow = _
  private var runKey: UnsafeRow = _
  private var runSpilled = false
  private val block = ArrayBuffer.empty[UnsafeRow]
  private var replay: Iterator[UnsafeRow] = Iterator.empty
  private var bCur: UnsafeRow = _
  private var i = 0
  private val joined = new JoinedRow
  private var pending: InternalRow = _
  private var done = false

  advanceStreamed()
  advanceBuffered()

  private def advanceStreamed(): Unit = {
    sRow = null
    while (sRow == null && streamedIter.hasNext) {
      val r = streamedIter.next().asInstanceOf[UnsafeRow]
      val k = streamedKeyOf(r)
      if (!k.anyNull) { sRow = r; sKey = k }
    }
  }

  private def advanceBuffered(): Unit = {
    bRow = null
    while (bRow == null && bufferedIter.hasNext) {
      val r = bufferedIter.next().asInstanceOf[UnsafeRow]
      val k = bufferedKeyOf(r)
      if (!k.anyNull) { bRow = r; bKey = k }
    }
  }

  /** Loads the next block of streamed rows that share the buffered
    * run's key, seeking (and buffering) the next common key first when
    * the streamed side has moved past the run. False when no key is
    * left on both sides. */
  private def nextBlock(): Boolean = {
    block.clear()
    if (sRow == null) return false
    if (runKey == null || ordering.compare(sKey, runKey) != 0) {
      var c = 1
      while (c != 0) {
        if (sRow == null || bRow == null) return false
        c = ordering.compare(sKey, bKey)
        if (c < 0) advanceStreamed() else if (c > 0) advanceBuffered()
      }
      run.clear()
      val spilledBefore = run.spillSize
      runKey = bKey.copy()
      while (bRow != null && ordering.compare(bKey, runKey) == 0) {
        run.add(bRow)
        advanceBuffered()
      }
      runSpilled = run.spillSize > spilledBefore
    }
    val maxRows = if (runSpilled) blockRows else 1
    var bytes = 0L
    while (sRow != null && block.length < maxRows && bytes < BlockSortMergeJoin.BlockBytes &&
        ordering.compare(sKey, runKey) == 0) {
      block += sRow.copy()
      bytes += sRow.getSizeInBytes
      advanceStreamed()
    }
    replay = run.generateIterator()
    i = block.length
    true
  }

  override def hasNext: Boolean = {
    while (pending == null && !done) {
      if (i < block.length) {
        joined(block(i), bCur)
        i += 1
        if (keep(joined)) pending = project(joined)
      } else if (replay.hasNext) {
        bCur = replay.next()
        i = 0
      } else if (!nextBlock()) {
        done = true
        spillSize += run.spillSize
        run.clear()
      }
    }
    pending != null
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    val r = pending
    pending = null
    numOut += 1
    r
  }
}
