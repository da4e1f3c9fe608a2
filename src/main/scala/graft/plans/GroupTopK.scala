package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Group-wise top-k as a first-class operator — the custom
  * LogicalPlan + Strategy + SparkPlan tier (SURVEY §4 / build-rule c).
  *
  * Spark's idiom for "top k rows per group" is a window rank plus a
  * filter: `row_number() OVER (PARTITION BY g ORDER BY s) <= k`. That
  * plan shuffles EVERY row and sorts every partition fully before
  * discarding all but k·|groups| rows. This operator keeps a bounded
  * heap of k rows per group: a partial pass inside each input
  * partition, one shuffle of only the per-partition winners
  * (≤ k · groups · partitions rows), and a final per-group pass. At
  * 100 TB with k=10 the shuffle shrinks from the full table to
  * kilobytes per group — same asymmetry TakeOrderedAndProject exploits
  * for global top-k, generalized per group.
  *
  * Wiring: [[GroupTopKStrategy]] plans the logical node into
  * partial+final [[GroupTopKExec]]; the final's required distribution
  * makes EnsureRequirements insert the (tiny) exchange. The session
  * gets the strategy at build, from [[GraftSparkExtensions]].
  */
/** Which rank function's `<= k` semantics the operator reproduces.
  *  - [[RowNumberMode]]: exactly k rows per group (boundary ties
  *    dropped arbitrarily — row_number's own contract).
  *  - [[RankMode]]: rows with fewer than k strictly-better rows — the
  *    whole boundary tie class is KEPT, so a group may emit more than
  *    k rows (`rank() <= k`).
  *  - [[DenseRankMode]]: every row of the k best distinct order-values
  *    (`dense_rank() <= k`).
  * Tie-heavy data makes Rank/DenseRank retention unbounded in the tie
  * mass — that is the SEMANTICS, not a leak; the partial-pass flush cap
  * still bounds task memory. */
sealed trait TopKMode extends Serializable
case object RowNumberMode extends TopKMode
case object RankMode extends TopKMode
case object DenseRankMode extends TopKMode

final case class GroupTopKNode(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan,
    mode: TopKMode = RowNumberMode) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(c: LogicalPlan): GroupTopKNode =
    copy(child = c)
}

final case class GroupTopKExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    maxPartialGroups: Int,
    child: SparkPlan,
    mode: TopKMode = RowNumberMode) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override protected def withNewChildInternal(c: SparkPlan): GroupTopKExec =
    copy(child = c)

  override protected def doExecute(): RDD[InternalRow] = {
    val groupExprsLocal = groupExprs
    val orderLocal = order
    val kLocal = k
    val childOutput = child.output
    // Memory guard: the partial pass sees arbitrary group cardinality
    // per input partition (a 100×-scale group column could put 10⁷
    // distinct groups in one partition), so its group map is capped —
    // when the map reaches the cap, current heap contents are FLUSHED
    // downstream and the map restarts empty. Correctness is preserved:
    // every flushed row still carries its group key, the shuffle routes
    // all fragments of a group to one final-pass partition, and the
    // final pass re-heaps them (k per fragment ≥ the true top-k union).
    // This is the same partial-agg degradation HashAggregate uses when
    // its hash map is full (emit partial results, let the final merge
    // fix it up) — bounded memory at the cost of a larger shuffle only
    // when group cardinality actually explodes. The final pass must see
    // every row of a group before emitting, so it never flushes; its
    // memory is O(k · groups-in-partition) = proportional to its output.
    val flushThreshold = if (partial) maxPartialGroups else Int.MaxValue
    val modeLocal = mode
    child.execute().mapPartitions ({ iter =>
      val groupProj = UnsafeProjection.create(groupExprsLocal, childOutput)
      val ord = RowOrdering.create(orderLocal, childOutput)
      val worstFirst = ord.reverse

      // Per-group retained set, admission semantics per TopKMode.
      sealed trait Retained {
        def admit(row: InternalRow): Unit // copies if it keeps the row
        def drainInto(out: java.util.ArrayList[InternalRow]): Unit
      }
      // bounded heap, HEAD = worst retained row: admission is one compare
      final class HeapRetained extends Retained {
        private val heap =
          new java.util.PriorityQueue[InternalRow](kLocal, worstFirst)
        def admit(row: InternalRow): Unit =
          if (heap.size < kLocal) heap.add(row.copy()): Unit
          else if (ord.compare(row, heap.peek()) < 0) {
            heap.poll()
            heap.add(row.copy()): Unit
          }
        def drainInto(out: java.util.ArrayList[InternalRow]): Unit = {
          out.addAll(heap): Unit
        }
      }
      // tie-class buckets ordered best-first; prune from the worst end.
      // RankMode keeps a bucket iff rows-strictly-better < k
      // (total − worstBucketSize ≥ k ⇒ the worst bucket's rank > k);
      // DenseRankMode keeps the k best buckets. Boundary-tie mass makes
      // retention exceed k — that IS rank()/dense_rank() semantics.
      final class BucketRetained(dense: Boolean) extends Retained {
        private val buckets =
          new java.util.TreeMap[InternalRow, java.util.ArrayList[InternalRow]](ord)
        private var total = 0

        def admit(row: InternalRow): Unit = {
          // cheap reject before copying: row worse than the worst
          // retained bucket while the set is already full
          val last = if (buckets.isEmpty) null else buckets.lastKey()
          val full =
            if (dense) buckets.size >= kLocal
            else total >= kLocal
          if (last != null && full && ord.compare(row, last) > 0) return
          val copy = row.copy()
          var b = buckets.get(copy)
          if (b == null) {
            b = new java.util.ArrayList[InternalRow]()
            buckets.put(copy, b)
          }
          b.add(copy): Unit
          total += 1
          var done = false
          while (!done && !buckets.isEmpty) {
            val worst = buckets.lastEntry()
            val size = worst.getValue.size
            val drop =
              if (dense) buckets.size > kLocal
              else total - size >= kLocal
            if (drop) {
              buckets.remove(worst.getKey): Unit
              total -= size
            } else done = true
          }
        }
        def drainInto(out: java.util.ArrayList[InternalRow]): Unit =
          buckets.values.forEach(b => { out.addAll(b); () })
      }
      def newRetained(): Retained = modeLocal match {
        case RowNumberMode => new HeapRetained
        case RankMode => new BucketRetained(dense = false)
        case DenseRankMode => new BucketRetained(dense = true)
      }

      new Iterator[InternalRow] {
        private val groups = new java.util.HashMap[UnsafeRow, Retained]()
        private var drain: java.util.Iterator[InternalRow] =
          java.util.Collections.emptyIterator[InternalRow]()

        private def startDrain(): Unit = {
          val all = new java.util.ArrayList[InternalRow]()
          groups.values.forEach(r => r.drainInto(all))
          groups.clear()
          drain = all.iterator()
        }

        private def advance(): Unit = {
          while (!drain.hasNext && iter.hasNext) {
            val row = iter.next()
            val key = groupProj(row)
            var ret = groups.get(key)
            if (ret == null) {
              ret = newRetained()
              groups.put(key.copy(), ret)
            }
            ret.admit(row)
            if (groups.size >= flushThreshold) startDrain()
          }
          if (!drain.hasNext && !iter.hasNext && !groups.isEmpty) startDrain()
        }

        override def hasNext: Boolean = {
          if (!drain.hasNext) advance()
          drain.hasNext
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException("empty iterator")
          drain.next()
        }
      }
    }, preservesPartitioning = true)
  }
}

object GroupTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupTopKNode(g, o, k, child, mode) =>
      val cap = math.max(1, org.apache.spark.sql.internal.SQLConf.get
        .getConfString(GroupTopK.MaxPartialGroupsKey,
          GroupTopK.DefaultMaxPartialGroups.toString).toInt)
      val partialExec =
        GroupTopKExec(g, o, k, partial = true, cap, planLater(child), mode)
      GroupTopKExec(g, o, k, partial = false, cap, partialExec, mode) :: Nil
    case _ => Nil
  }
}

object GroupTopK {

  /** Session conf key capping the partial pass's per-partition group
    * map (see [[GroupTopKExec.doExecute]]). */
  val MaxPartialGroupsKey = "spark.graft.topk.maxPartialGroups"

  /** Default cap: 2¹⁷ groups × k row copies is tens of MB for typical
    * row widths — well inside an executor task's share, far above any
    * grouping a top-k query normally runs on. */
  val DefaultMaxPartialGroups: Int = 1 << 17

  /** Top `k` rows per group of `df`, ordered by `orderCol`
    * (descending when `desc`) with `tieBreak` ascending as the total
    * tie-break — same contract as
    * `row_number() OVER (PARTITION BY group ORDER BY ...) <= k`.
    *
    * Tie contract: `(orderCol, tieBreak)` must be a TOTAL order within
    * each group (e.g. tieBreak = a unique id, as q30's `o_orderkey`).
    * Heap admission compares against the worst retained row strictly, so
    * rows that tie with the boundary on BOTH columns are dropped
    * arbitrarily — exactly like `row_number()`, whose rank among full
    * ties is also arbitrary, but the SET of returned rows then differs
    * run-to-run; a unique tie-break makes both deterministic. */
  def topK(df: DataFrame, groupCols: Seq[String], orderCol: String,
           k: Int, desc: Boolean = true, tieBreak: String): DataFrame = {
    val spark = df.sparkSession
    val child = df.queryExecution.analyzed
    def attr(n: String): Attribute = child.output
      .find(_.name.equalsIgnoreCase(n))
      .getOrElse(throw new IllegalArgumentException(
        s"column $n not in ${child.output.map(_.name).mkString(",")}"))
    val order = Seq(
      SortOrder(attr(orderCol), if (desc) Descending else Ascending),
      SortOrder(attr(tieBreak), Ascending))
    GraftPlanBridge.ofRows(spark,
      GroupTopKNode(groupCols.map(attr), order, k, child))
  }
}

/** Config-based registration
  * (`spark.sql.extensions=graft.plans.GraftSparkExtensions`): the whole
  * library surface — the GroupTopK physical strategy plus every graft_*
  * expression family — lands in any session built with that one conf.
  * It is the only registration route. This is the deployment story
  * for a shared cluster: ship the jar, set the conf, and `expr(
  * "graft_cosine(a, b)")` / SQL `SELECT graft_json_scalar(...)` work in
  * every notebook and job. The same build names
  * [[graft.sources.WriteFsCheckpointFileManager]] as the streaming
  * checkpoint file manager, unless one is configured already. */
class GraftSparkExtensions
    extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    // the parser is the one extension point built eagerly with the
    // session's state; the hook leaves it unchanged. The key goes on the
    // SparkContext's Hadoop conf: setting the SQL conf here would
    // re-enter the state being built.
    ext.injectParser { (session, parser) =>
      graft.sources.WriteFsCheckpointFileManager.select(
        session.sparkContext.hadoopConfiguration)
      parser
    }
    ext.injectPlannerStrategy(_ => GroupTopKStrategy)
    // operator-optimization batch: runs BEFORE Spark's own
    // InferWindowGroupLimit, so the bounded-heap plan wins when the
    // conservative match applies (see TopKRewrite's scaladoc)
    ext.injectOptimizerRule(_ => TopKRewrite)
    val families =
      graft.functions.DedupFunctions.builders ++
        graft.functions.VectorFunctions.builders ++
        graft.functions.JsonFunctions.builders ++
        graft.functions.HtmlFunctions.builders ++
        graft.functions.BpeFunctions.builders
    families.foreach { case (name, builder) =>
      ext.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "graft.functions", name),
        builder))
    }
  }
}
