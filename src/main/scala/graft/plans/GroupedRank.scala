package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode, Window => LogicalWindow}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}

/** Ranking without group-sized window partitions — `row_number()/
  * rank()/dense_rank()/percent_rank()/cume_dist()/ntile(n) OVER
  * ([PARTITION BY g] ORDER BY o)` as a first-class operator (SURVEY §2
  * engine components; the "custom LogicalPlan + Rule + SparkStrategy +
  * SparkPlan" tier, TopKPerGroup's sibling), and the operator tier's
  * generalization of the hand-applied idioms in r13's q23 (per-nation
  * deciles, Relational.scala), m11 (per-(epoch, source) shuffle order,
  * Multimodal.scala) and t20/q23/m11's range-partition ranking (range
  * repartition → per-partition local ranks → bounded offset join).
  *
  * The native plan hash-partitions on g, so EVERY row of a group
  * lands in ONE task — with ~25 nations over a 100 TB corpus that is
  * terabytes per task: an OOM, not a slowdown. With an EMPTY partition
  * clause it is the classic Spark scale killer: the planner requires
  * AllTuples and one task sorts the corpus. [[GroupedRankRewrite]]
  * moves the idiom into the optimizer so ANY query gets the
  * scale-correct plan:
  *
  *   - the logical Window is replaced by [[GroupedRankNode]];
  *   - [[GroupedRankExec]]'s required distribution is
  *     `OrderedDistribution(groupSort ++ order)` — ONE range exchange
  *     on (group, order), the SAME requirement a global sort has: every
  *     task holds a row-balanced contiguous SLICE of the group-major
  *     sort, a group may span many partitions, equal (group, order)
  *     keys never split, and nothing funnels to a single task;
  *   - pass 1 streams each sorted partition once and ships to the
  *     driver only its BOUNDARY-GROUP segments — (group key, rows,
  *     distinct order keys) for the partition's first and last group,
  *     O(partitions) driver data regardless of group count (the
  *     triangular-join replacement: only groups that straddle a
  *     partition edge ever need offsets or cross-partition totals);
  *   - the driver chains boundary segments into per-partition
  *     continuation offsets and spanning-group totals;
  *   - pass 2 re-streams each sorted partition ON THE SAME shuffle
  *     output, restarting local rank state at every group change and
  *     seeding the partition's first group from the driver offsets.
  *
  * ZERO GROUP KEYS (the corpus-global ranking; EXPLAIN prints the node
  * as `GlobalRank`): the whole corpus is ONE group that spans every
  * partition, so pass 1 degenerates to per-partition (row count,
  * distinct-key count) plus the boundary tie facts, and pass 2 emits
  * `partition offset + local rank`. No group key is projected or
  * compared per row, and every partition's one group has a total the
  * driver supplied — so percent_rank and ntile stream with O(1) state
  * and cume_dist buffers ONE tie group, never the partition.
  *
  * Correct across partition boundaries for ANY partitioning Spark may
  * legally hand the exec. Under the exec's OWN exchange equal
  * (group, order) keys co-locate, but `OrderedDistribution` is also
  * satisfied — by RangePartitioning's common-PREFIX rule — by a
  * pre-existing FINER range exchange (an `orderBy(k, id)` below a
  * window ordered by `k` alone, a stacked finer window), and a finer
  * partitioner happily splits order-tie runs at the same boundary a
  * group spans. Segments therefore also carry their boundary order
  * keys and tie-run sizes, and the driver chains split runs exactly as
  * it chains split groups — the continuation partition inherits the
  * run's rank and dense state, distinct counts stop double-counting
  * the run, and cume_dist tie ends are overridden with the run's true
  * group-local end (r16; TieSplitSpec pins the hazardous shapes).
  * percent_rank, cume_dist and ntile are closed forms over (rank,
  * tie-run end, row number, group total) — the formulas mirror
  * Spark's own definitions, so results are bit-identical to the
  * built-in window (the equivalence specs pin all six functions, with
  * ties, nulls, descending keys and NaN/-0.0 doubles).
  * row_number/rank/dense_rank stream with O(1) state;
  * percent_rank/cume_dist/ntile need the group total before the first
  * row can emit. A group whose total the driver supplies (the
  * partition's first group, once pass 1 ran) streams — only cume_dist
  * waits, for its tie run's end — and only a group whose total is
  * local buffers its one-group SEGMENT: memory bounds at the
  * partition (which range partitioning row-balances), never at the
  * group, which is precisely the bound the native plan lacks.
  *
  * Scope guards: every window expression must be one of the six rank
  * functions over the node's own (partition, order) (the function's
  * own running frame, literal ntile bucket count); partition keys
  * deterministic AND orderable; order and child deterministic — the
  * exec runs TWO jobs over the child RDD and keyTools re-evaluates the
  * order expressions in each pass (the range sampler a third time), so
  * a `rank() OVER (ORDER BY rand())` shuffle idiom would produce
  * mutually inconsistent offsets/ties and stays native; streaming
  * children bail. Stacked after [[TopKRewrite]], so `filter(rank <=
  * k)` windows keep the cheaper heap plan (it never materializes the
  * full ranking) and only bare rankings land here.
  * `spark.graft.rank.enabled=false` is the kill switch / A-B lever;
  * `spark.graft.globalRank.longRank=true` widens the Int-family ranks
  * of zero-key windows to LongType past the 2^31 ceiling (see
  * [[RankRange]] and [[GroupedRankRewrite.LongRankKey]]).
  *
  * The rewrite re-executes the sorted child RDD once per pass; below
  * it sits the (reused) shuffle, so pass 2 re-reads shuffle blocks and
  * re-sorts rather than recomputing the plan. Two distributed
  * O(n/p log n/p) sorts replace one single-task O(n log n) sort — at
  * 100 TB the former is a plan, the latter an OOM. Firing on a
  * many-small-groups corpus costs a bounded constant factor (~2× the
  * window stage) where the native hash exchange would have served,
  * while NOT firing on a large-group corpus is an unbounded
  * single-task OOM — group sizes are invisible at plan time, so the
  * rule always fires.
  */
sealed trait GlobalRankFn extends Serializable { def dataType: DataType }
case object GRowNumber extends GlobalRankFn { val dataType: DataType = IntegerType }
case object GRank extends GlobalRankFn { val dataType: DataType = IntegerType }
case object GDenseRank extends GlobalRankFn { val dataType: DataType = IntegerType }
case object GPercentRank extends GlobalRankFn { val dataType: DataType = DoubleType }
case object GCumeDist extends GlobalRankFn { val dataType: DataType = DoubleType }
case class GNTile(buckets: Int) extends GlobalRankFn { val dataType: DataType = IntegerType }

/** Shared matcher for the six rank-family window functions over a
  * node's own (partition, order) spec — used by [[GroupedRankRewrite]]
  * and [[GroupedWindowSplit]]. */
private[plans] object RankFnMatch {
  import CombineSupport.sameExprs

  private val RunningRowFrame =
    SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow)
  private val RunningRangeFrame =
    SpecifiedWindowFrame(RangeFrame, UnboundedPreceding, CurrentRow)

  def supported(
      e: NamedExpression,
      part: Seq[Expression],
      order: Seq[SortOrder]): Option[(Attribute, GlobalRankFn)] = e match {
    case a @ Alias(WindowExpression(fn, WindowSpecDefinition(p2, o2, frame)), _)
        if sameExprs(p2, part) && sameExprs(o2, order) =>
      // each rank function carries its own fixed frame: the running
      // ROW frame for the RowNumber/Rank family, the running RANGE
      // frame for cume_dist (ties included via the range bound)
      (fn, frame) match {
        case (_: RowNumber, RunningRowFrame) => Some(a.toAttribute -> GRowNumber)
        case (_: Rank, RunningRowFrame) => Some(a.toAttribute -> GRank)
        case (_: DenseRank, RunningRowFrame) => Some(a.toAttribute -> GDenseRank)
        case (_: PercentRank, RunningRowFrame) => Some(a.toAttribute -> GPercentRank)
        case (_: CumeDist, RunningRangeFrame) => Some(a.toAttribute -> GCumeDist)
        case (NTile(Literal(b: Int, IntegerType)), RunningRowFrame) if b > 0 =>
          Some(a.toAttribute -> GNTile(b))
        // the LongType variants LongRankWiden swaps in under the
        // longRank conf (zero-key windows only — the analyzer rule
        // never widens a partitioned spec): the exec keys its emission
        // width off the attribute's LongType
        case (_: graft.functions.LongRowNumber, RunningRowFrame) =>
          Some(a.toAttribute -> GRowNumber)
        case (_: graft.functions.LongRank, RunningRowFrame) =>
          Some(a.toAttribute -> GRank)
        case (_: graft.functions.LongDenseRank, RunningRowFrame) =>
          Some(a.toAttribute -> GDenseRank)
        case _ => None
      }
    case _ => None
  }
}

object GroupedRankRewrite extends Rule[LogicalPlan] {

  val ConfKey = "spark.graft.rank.enabled"

  /** Escape hatch past the IntegerType rank ceiling (default false):
    * `row_number`/`rank`/`dense_rank` are IntegerType by Spark's own
    * definition, so past 2^31 input rows a corpus-global ranking has
    * NO representable value and the exec fails loudly — which is
    * exactly the scale this operator exists for. With the conf on,
    * [[graft.functions.LongRankWiden]] swaps the three for LongType
    * window functions AT ANALYSIS TIME on zero-key specs (a documented
    * schema divergence; percent_rank/cume_dist are doubles and ntile
    * is bounded by its bucket count, so they keep native types at any
    * N); this rewrite then recognizes the Long variants and the exec
    * emits 64-bit ranks. Analysis-time is a correctness requirement,
    * not a convenience: Dataset.schema/encoders read the ANALYZED
    * plan, and downstream consumers re-coerce against the Long column
    * in the same resolution fixed-point. Grouped windows keep Int: a
    * single 2^31-row GROUP is a pathological key distribution at any
    * corpus size, whose remedy is restructuring the grouping. */
  val LongRankKey = "spark.graft.globalRank.longRank"

  private def enabled: Boolean =
    SQLConf.get.getConfString(ConfKey, "true").toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      // the PARTITION BY keys are promoted into SortOrder/Range-
      // Partitioning (groupSort), so they must be ORDERABLE — a
      // stricter bar than the native window's hash-clustering
      // (hashable): a hashable-but-unorderable partition type would
      // pass analysis against the native plan and then die at
      // planning after the rewrite, so such windows stay native
      case w @ LogicalWindow(wexprs, part, order, child, _)
          if order.nonEmpty && wexprs.nonEmpty && !child.isStreaming &&
            part.forall(e => e.deterministic && RowOrdering.isOrderable(e.dataType)) &&
            order.forall(_.deterministic) &&
            PlanGuards.subtreeDeterministic(child) &&
            PlanGuards.boundaryTrafficOk(order, part) =>
        val fns = wexprs.map(RankFnMatch.supported(_, part, order))
        if (fns.forall(_.isDefined)) GroupedRankNode(part, order, fns.flatten, child)
        else w
    }
  }
}

/** Logical ranking: child's rows plus one column per rank function
  * (same exprIds as the window expressions the rewrite replaced, so
  * downstream references bind unchanged). */
case class GroupedRankNode(
    part: Seq[Expression],
    order: Seq[SortOrder],
    fns: Seq[(Attribute, GlobalRankFn)],
    child: LogicalPlan) extends UnaryNode {
  override def nodeName: String = if (part.isEmpty) "GlobalRankNode" else super.nodeName
  override def output: Seq[Attribute] = child.output ++ fns.map(_._1)
  override def producedAttributes: AttributeSet = AttributeSet(fns.map(_._1))
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupedRankNode =
    copy(child = newChild)
}

/** One boundary-group segment: its (projected) group key plus row and
  * distinct-order-key counts within one partition, and the segment's
  * boundary ORDER-tie-run facts — first/last projected order key and
  * the row counts of its first/last tie runs. The order facts let the
  * driver chain a tie RUN that a pre-existing FINER range exchange
  * (legal under the OrderedDistribution prefix rule) split across a
  * partition boundary inside a spanning group — the same class of
  * split the group chain already handles one level up; under the
  * exec's own exchange equal (group, order) keys co-locate and the
  * order facts are never consulted. */
private[plans] case class GroupSeg(
    key: UnsafeRow, n: Long, d: Long,
    firstOrd: UnsafeRow, firstRunN: Long, lastOrd: UnsafeRow, lastRunN: Long)

/** Pass-1 result for one partition: its first and last group segments
  * (equal when the partition holds a single group), the group count,
  * and the partition's per-group row/distinct maxima (over ALL its
  * groups, interior included — interior groups never enter the driver
  * chains, so without these two longs an interior group past 2^31
  * rows would silently wrap at the Int narrowing instead of hitting
  * the overflow guard). Driver data stays O(partitions). */
private[plans] case class PartSummary(
    first: GroupSeg, last: GroupSeg, nGroups: Long, maxN: Long, maxD: Long)

case class GroupedRankExec(
    part: Seq[Expression],
    order: Seq[SortOrder],
    fns: Seq[(Attribute, GlobalRankFn)],
    child: SparkPlan) extends UnaryExecNode {

  override def nodeName: String = if (part.isEmpty) "GlobalRank" else "GroupedRank"
  override def output: Seq[Attribute] = child.output ++ fns.map(_._1)

  /** Group columns participate in the range order ahead of the rank
    * order — direction is irrelevant to results (groups only need
    * co-location + contiguity), Ascending/NullsFirst is canonical. */
  private def groupSort: Seq[SortOrder] = part.map(SortOrder(_, Ascending))

  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(groupSort ++ order) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(groupSort ++ order)
  override def outputOrdering: Seq[SortOrder] = groupSort ++ order
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOut = child.output
    val gSort = groupSort
    val grouped = part.nonEmpty
    val ord = order
    val out = output // localized: the closures must not capture `this`
    val op = nodeName
    val fnSpecs: Array[GlobalRankFn] = fns.map(_._2).toArray
    // emission width per column: LongType when the longRank conf
    // widened the attribute at analysis time, IntegerType natively
    val fnLong: Array[Boolean] = fns.map(_._1.dataType == LongType).toArray
    val fnWidth = fnSpecs.zip(fnLong).toSeq
    // percent_rank/cume_dist/ntile need the group's TOTAL before its
    // first row emits
    val needsTotals = fnSpecs.exists {
      case GPercentRank | GCumeDist | _: GNTile => true
      case _ => false
    }
    val needsCume = fnSpecs.contains(GCumeDist)
    val rdd = child.execute()
    PlanGuards.runtimeBoundaryWarn(op, rdd.getNumPartitions, ord, part)

    // r22 fixed-cost trim (the r21 verdict's #1): on ONE post-exchange
    // partition every pass-1 fact is vacuous — no group or tie run can
    // straddle a boundary, so continuation offsets are 0 and no chain
    // exists. With group keys the skip needs no fn-subset condition:
    // every group is wholly local, and the one-group-segment buffer of
    // pass 2 observes each total itself at flush time (`groupTotal`
    // below). With ZERO keys the skip is fn-conditional by design:
    // the one group's total comes from pass 1, which is what lets
    // percent_rank/ntile stream and cume_dist buffer one tie group
    // instead of the whole partition, so their presence keeps pass 1
    // at any partition count. The RankRange overflow guard, which
    // pass 1 also fed via the per-partition maxima, moves INLINE into
    // pass 2's `step` under the skip.
    val skipPassOne = rdd.getNumPartitions <= 1 && (grouped || !needsTotals)

    // Pass 1: boundary-group segments only — O(partitions) to the
    // driver. The input is (group, order)-sorted, so group changes and
    // within-group distinct counting are streaming O(1).
    val summaries: Array[Option[PartSummary]] =
      if (skipPassOne) Array.fill(rdd.getNumPartitions)(None)
      else rdd.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
        val groups = new GroupTracker(part, childOut)
        val (oProj, oCmp) = GroupedRankExec.keyTools(ord, childOut)
        var first: GroupSeg = null
        var curKey: UnsafeRow = null
        var curN = 0L
        var curD = 0L
        var nGroups = 0L
        var maxN = 0L
        var maxD = 0L
        var prevOrd: UnsafeRow = null
        var firstOrd: UnsafeRow = null
        var firstRunN = 0L // rows in the segment's first tie run
        var runN = 0L // rows in the current (ultimately last) tie run
        def closeSeg(): GroupSeg = {
          if (curD == 1L) firstRunN = runN // single-run segment
          GroupSeg(curKey, curN, curD, firstOrd, firstRunN, prevOrd, runN)
        }
        while (it.hasNext) {
          val row = it.next()
          if (groups.starts(row)) {
            if (curKey != null) {
              if (nGroups == 1L) first = closeSeg()
              if (curN > maxN) maxN = curN
              if (curD > maxD) maxD = curD
            }
            nGroups += 1
            curKey = groups.key
            curN = 0L
            curD = 0L
            prevOrd = null
            firstOrd = null
            firstRunN = 0L
            runN = 0L
          }
          curN += 1
          val ok = oProj(row)
          if (prevOrd == null || oCmp.compare(prevOrd, ok) != 0) {
            if (curD == 1L) firstRunN = runN // the first run just closed
            curD += 1
            prevOrd = ok.copy()
            if (firstOrd == null) firstOrd = prevOrd
            runN = 0L
          }
          runN += 1
        }
        if (curKey == null) None
        else {
          if (curN > maxN) maxN = curN
          if (curD > maxD) maxD = curD
          val last = closeSeg()
          Some(PartSummary(if (nGroups == 1L) last else first, last, nGroups, maxN, maxD))
        }
      })

    // Driver stitch: walk partitions in order, chaining boundary
    // segments of the SAME group (empty partitions do not break a
    // chain). Each partition learns (a) the continuation offsets for
    // its first group — rows/distinct keys of that group in earlier
    // partitions — and (b) the final global totals of its first and
    // last groups' chains. Interior groups are wholly local, offsets 0
    // and totals observable in pass 2. With zero keys every partition
    // continues the one chain: (a) is the partition's row/distinct
    // prefix offset and (b) the corpus total.
    //
    // ONE DIMENSION DOWN, the same chaining applies to ORDER-tie runs
    // inside a spanning group: a finer pre-existing range exchange
    // (prefix-rule reuse) may split a tie run at the same boundary the
    // group spans. When the continuing segment's first order key
    // equals the chain's last, the run CONTINUES: the chain's distinct
    // total stops double-counting it, the continuation partition
    // learns the run's rank (its group-local start row), and every
    // partition whose final run extends beyond it learns the run's
    // true group-local end (cume_dist). Under the exec's own exchange
    // equal (group, order) keys co-locate and all of this is a no-op.
    val nParts = summaries.length
    val contN = new Array[Long](nParts)
    val contD = new Array[Long](nParts)
    val contRank = new Array[Long](nParts) // group-local rn of the boundary run's start
    val ordChained = new Array[Boolean](nParts)
    val lastTieEndOv = new Array[Long](nParts) // 0 = no override
    val firstChain = new Array[Int](nParts)
    val lastChain = new Array[Int](nParts)
    val chains = ArrayBuffer.empty[(Long, Long)]
    locally {
      // driver-side comparators with the sort's own semantics
      val (_, gCmp) = GroupedRankExec.keyTools(gSort, childOut)
      val (_, oCmp) = GroupedRankExec.keyTools(ord, childOut)
      var openKey: UnsafeRow = null
      var openChain = -1
      var openOrd: UnsafeRow = null // open chain's final order key
      var openRunStart = 0L // group-local rn of the final run's start
      val runMembers = ArrayBuffer.empty[Int] // partitions whose final run is the open run
      def closeRun(end: Long): Unit = {
        runMembers.foreach(q => lastTieEndOv(q) = end)
        runMembers.clear()
      }
      var p = 0
      while (p < nParts) {
        summaries(p) match {
          case None =>
            firstChain(p) = -1
            lastChain(p) = -1
          case Some(s) =>
            val isChained = openKey != null && gCmp.compare(openKey, s.first.key) == 0
            if (isChained) {
              firstChain(p) = openChain
              contN(p) = chains(openChain)._1
              contD(p) = chains(openChain)._2
              val ordCont = openOrd != null && s.first.firstOrd != null &&
                oCmp.compare(openOrd, s.first.firstOrd) == 0
              ordChained(p) = ordCont
              if (ordCont) {
                contRank(p) = openRunStart
                // the boundary run closes inside p's first segment iff
                // that segment holds more than one run
                if (s.first.d > 1L) closeRun(chains(openChain)._1 + s.first.firstRunN)
              } else {
                // the boundary run closed exactly at the previous edge
                closeRun(chains(openChain)._1)
              }
              chains(openChain) = (chains(openChain)._1 + s.first.n,
                chains(openChain)._2 + s.first.d - (if (ordCont) 1L else 0L))
              if (s.nGroups == 1L) {
                // the chain stays open through p
                if (!(ordCont && s.first.d == 1L)) {
                  // a new final run begins inside p
                  openOrd = s.first.lastOrd
                  openRunStart = chains(openChain)._1 - s.first.lastRunN + 1L
                  runMembers.clear()
                }
              } else if (ordCont && s.first.d == 1L) {
                // the boundary run reaches the spanning group's end
                closeRun(chains(openChain)._1)
              } else runMembers.clear()
            } else {
              // the open chain (if any) ended at the previous edge
              if (openChain >= 0) closeRun(chains(openChain)._1)
              chains += ((s.first.n, s.first.d))
              firstChain(p) = chains.length - 1
            }
            lastChain(p) =
              if (s.nGroups == 1L) firstChain(p)
              else { chains += ((s.last.n, s.last.d)); chains.length - 1 }
            if (!(isChained && s.nGroups == 1L)) {
              // p's LAST group opens a fresh run context
              openOrd = s.last.lastOrd
              openRunStart = s.last.n - s.last.lastRunN + 1L
              runMembers.clear()
            }
            runMembers += p
            openKey = s.last.key
            openChain = lastChain(p)
        }
        p += 1
      }
      if (openChain >= 0) closeRun(chains(openChain)._1)
    }
    val firstTotN = Array.tabulate(nParts)(p =>
      if (firstChain(p) < 0) 0L else chains(firstChain(p))._1)
    val lastTotN = Array.tabulate(nParts)(p =>
      if (lastChain(p) < 0) 0L else chains(lastChain(p))._1)

    // Per-function overflow guards (RankRange). A grouped window's rank
    // columns keep the built-in window's IntegerType (same exprIds,
    // same types): the ceiling fires per GROUP, and a single 2^31-row
    // group is a pathological key distribution at ANY corpus size, so
    // the remedy is restructuring the grouping, not a wider type. The
    // zero-key group is the corpus, whose ceiling binds at exactly the
    // scale the operator targets — hence the longRank escape hatch.
    // The maxima cover interior groups (per-partition maxN/maxD from
    // pass 1) as well as boundary chains, so an interior group past
    // the ceiling fails loudly instead of silently wrapping at the
    // Int narrowing; RankRange refines per function (an
    // ntile/percent_rank/cume_dist-only window has NO ceiling at all).
    // Fail loudly before pass 2 rather than wrap to negatives.
    val maxChainN = (chains.map(_._1) ++ summaries.flatMap(_.map(_.maxN))).foldLeft(0L)(math.max)
    val maxChainD = (chains.map(_._2) ++ summaries.flatMap(_.map(_.maxD))).foldLeft(0L)(math.max)
    val (scope, rankRemedy) =
      if (grouped) ("rows in one group", "; restructure the grouping (a single " +
        "group this large is pathological) or pre-aggregate before ranking")
      else ("input rows", s"; set ${GroupedRankRewrite.LongRankKey}=true for " +
        "LongType ranks (documented schema divergence) or pre-aggregate before ranking")
    RankRange.check(op, scope, fnWidth, maxChainN, maxChainD, rankRemedy)
    // under the pass-1 skip the maxima above are the placeholder 0s:
    // the same per-function ceilings are enforced inline in pass 2's
    // `step` (rn/dr are group-local there), at the exact row that
    // would wrap the Int narrowing (cost: one predictable compare per
    // row, only on the skip path and only when an Int rank is present)
    val inlineNCheck = skipPassOne && fnWidth.exists {
      case (GRowNumber | GRank, false) => true
      case _ => false
    }
    val inlineDCheck = skipPassOne && fnWidth.contains((GDenseRank, false))

    // Pass 2: re-stream each sorted partition (the shuffle below is
    // reused; only the partition-local sort re-runs).
    rdd.mapPartitionsWithIndex({ (pid, it) =>
      val groups = new GroupTracker(part, childOut)
      val (oProj, oCmp) = GroupedRankExec.keyTools(ord, childOut)
      val toUnsafe = UnsafeProjection.create(out, out)
      val extra = new SpecificInternalRow(
        fnWidth.map { case (f, l) => if (l) LongType else f.dataType })
      val joined = new JoinedRow

      var prevOrd: UnsafeRow = null
      var groupIdx = 0L // 1-based once the first group starts
      var rn = 0L // group-local row number (incl. continuation offset)
      var dr = 0L
      var curRank = 0L
      var runsSeen = 0L // tie runs seen in the current group segment
      // first-group order-run continuation (finer-exchange split):
      // the boundary run must not claim a fresh dense rank and its
      // rank is the chain-supplied run start, not the local rn
      val isOrdChained = ordChained(pid)
      val contRankStart = contRank(pid)
      val tieEndOv = lastTieEndOv(pid)

      def startGroup(): Unit = {
        groupIdx += 1
        prevOrd = null
        runsSeen = 0L
        if (groupIdx == 1L) {
          rn = contN(pid)
          dr = contD(pid) - (if (isOrdChained) 1L else 0L)
        } else { rn = 0L; dr = 0L }
      }

      // true iff the current group's total came from the driver chain
      def driverTotal: Boolean = !skipPassOne && groupIdx == 1L

      // shared per-row rank step: continuation-aware tie detection;
      // true iff the row starts a new tie run
      def step(row: InternalRow): Boolean = {
        rn += 1
        if (inlineNCheck && rn > Int.MaxValue.toLong)
          RankRange.check(op, scope, fnWidth, rn, dr, rankRemedy)
        val ok = oProj(row)
        val newRun = prevOrd == null || oCmp.compare(prevOrd, ok) != 0
        if (newRun) {
          runsSeen += 1
          curRank =
            if (groupIdx == 1L && runsSeen == 1L && isOrdChained) contRankStart
            else rn
          dr += 1
          if (inlineDCheck && dr > Int.MaxValue.toLong)
            RankRange.check(op, scope, fnWidth, rn, dr, rankRemedy)
          prevOrd = ok.copy()
        }
        newRun
      }

      // tieEnd = group-local row number of the LAST member of the
      // row's tie run — cume_dist's numerator; unused (0) otherwise.
      def emit(row: InternalRow, rrn: Long, rank: Long, rdr: Long,
          tieEnd: Long, totN: Long): InternalRow = {
        var j = 0
        while (j < fnSpecs.length) {
          fnSpecs(j) match {
            case GRowNumber =>
              if (fnLong(j)) extra.setLong(j, rrn) else extra.setInt(j, rrn.toInt)
            case GRank =>
              if (fnLong(j)) extra.setLong(j, rank) else extra.setInt(j, rank.toInt)
            case GDenseRank =>
              if (fnLong(j)) extra.setLong(j, rdr) else extra.setInt(j, rdr.toInt)
            case GPercentRank =>
              extra.setDouble(j,
                if (totN > 1L) (rank - 1L).toDouble / (totN - 1L).toDouble
                else 0.0d)
            case GCumeDist =>
              extra.setDouble(j, tieEnd.toDouble / totN.toDouble)
            case GNTile(b) =>
              // Spark's NTile fill rule over the GROUP's row count: q =
              // N/b rows per bucket, the first r = N%b buckets take one
              // extra row
              val q = totN / b
              val r = totN % b
              val big = q + 1L
              val t = r * big
              val tile =
                if (rrn <= t) (rrn - 1L) / big + 1L
                else if (q > 0L) r + (rrn - 1L - t) / q + 1L
                else rrn // buckets > rows: bucket == row_number
              extra.setInt(j, tile.toInt)
          }
          j += 1
        }
        toUnsafe(joined(row, extra))
      }

      if (!needsTotals || (!grouped && !needsCume)) {
        // streaming, O(1) state: totals are never consulted, or — zero
        // keys — the one group's total is the driver's corpus total
        val corpusN = if (grouped) 0L else firstTotN(pid)
        it.map { row =>
          if (groups.starts(row)) startGroup()
          step(row)
          emit(row, rn, curRank, dr, 0L, corpusN)
        }
      } else {
        // a group whose total the driver supplied needs no segment
        // buffer: it emits each row at once, or — cume_dist, which
        // needs the tie run's END — buffers ONE tie run. A group whose
        // total is local buffers its one-group SEGMENT and flushes when
        // the group changes (its total then known). Memory bounds at
        // the partition slice, never the group.
        new Iterator[InternalRow] {
          private val buf = ArrayBuffer.empty[(InternalRow, Long, Long, Long)]
          private var outIt: Iterator[InternalRow] = Iterator.empty
          private var exhausted = false

          private def groupTotal(atEnd: Boolean): Long =
            if (driverTotal) firstTotN(pid)
            else if (atEnd && !skipPassOne) lastTotN(pid)
            else rn // a group wholly local to this partition: rn IS its total

          private def flush(atEnd: Boolean): Iterator[InternalRow] = {
            val totN = groupTotal(atEnd)
            val rows = buf.toArray
            buf.clear()
            // tie ends: last group-local row number of each rank run
            val tieEnd = new Array[Long](rows.length)
            var i = rows.length - 1
            var end = 0L
            var lastRank = -1L
            while (i >= 0) {
              if (rows(i)._3 != lastRank) { end = rows(i)._2; lastRank = rows(i)._3 }
              tieEnd(i) = end
              i -= 1
            }
            // the partition's FINAL tie run may extend into later
            // partitions (finer-exchange split): the driver chain then
            // supplies its true group-local end
            if (atEnd && tieEndOv > 0L && rows.nonEmpty) {
              val finalRank = rows(rows.length - 1)._3
              var j = rows.length - 1
              while (j >= 0 && rows(j)._3 == finalRank) {
                tieEnd(j) = tieEndOv
                j -= 1
              }
            }
            Iterator.tabulate(rows.length) { k =>
              val (r, a, b, c) = rows(k)
              emit(r, a, b, c, tieEnd(k), totN)
            }
          }

          @annotation.tailrec private def advance(): Unit = {
            if (outIt.hasNext) ()
            else if (it.hasNext) {
              val row = it.next()
              if (groups.starts(row)) {
                if (buf.nonEmpty) outIt = flush(atEnd = false)
                startGroup()
              }
              val newRun = step(row)
              if (driverTotal && !needsCume) {
                // nothing is pending: the partition's first group
                outIt = Iterator.single(emit(row, rn, curRank, dr, 0L, firstTotN(pid)))
              } else {
                if (driverTotal && newRun && buf.nonEmpty) outIt = flush(atEnd = false)
                buf += ((row.copy(), rn, curRank, dr))
              }
              advance()
            } else if (!exhausted) {
              exhausted = true
              if (buf.nonEmpty) outIt = flush(atEnd = true)
            }
          }
          override def hasNext: Boolean = { advance(); outIt.hasNext }
          override def next(): InternalRow = { advance(); outIt.next() }
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GroupedRankExec =
    copy(child = newChild)
}

object GroupedRankExec {
  /** Per-task tie-detection tools: project the order keys, compare
    * key rows with the SORT'S OWN semantics (RowOrdering over the
    * SortOrders rebound to the key row). Binary key equality would
    * be wrong for floats — -0.0 and 0.0 (and NaN bit patterns) sort
    * equal but differ as bytes — and full-row compare+copy would
    * drag every payload column through the detector; this copies a
    * few key columns once per tie group. */
  private[plans] def keyTools(
      order: Seq[SortOrder],
      childOut: Seq[Attribute]): (UnsafeProjection, BaseOrdering) = {
    val proj = UnsafeProjection.create(order.map(_.child), childOut)
    val bound = order.zipWithIndex.map { case (so, i) =>
      so.copy(child = BoundReference(i, so.child.dataType, so.child.nullable))
    }
    (proj, RowOrdering.create(bound, Seq.empty))
  }
}

/** Per-task group-change detector over a (group, order)-sorted
  * stream, shared by the rank and running-aggregate execs. With ZERO
  * group keys the whole partition is one group: its (empty) key is
  * projected once, at the first row, and no row is ever compared. */
private[plans] final class GroupTracker(part: Seq[Expression], childOut: Seq[Attribute]) {
  private val grouped = part.nonEmpty
  private val (proj, cmp) =
    GroupedRankExec.keyTools(part.map(SortOrder(_, Ascending)), childOut)
  /** The current group's key (a private copy); null before the first row. */
  var key: UnsafeRow = null
  /** True iff `row` starts a new group; [[key]] then holds its key. */
  def starts(row: InternalRow): Boolean =
    if (key == null) { key = proj(row).copy(); true }
    else if (grouped) {
      val k = proj(row)
      if (cmp.compare(key, k) != 0) { key = k.copy(); true } else false
    } else false
}

/** Per-function overflow guards for the rank-family output columns
  * of [[GroupedRankExec]] (corpus totals with zero keys, per-group
  * maxima otherwise). Refined per function rather than a blanket row
  * cap, because the ceiling is a property of the OUTPUT TYPE, not the
  * operator: an Int-typed row_number/rank has no representable value
  * past 2^31-1 rows and an Int-typed dense_rank past 2^31-1 DISTINCT
  * keys, while LongType ranks (the longRank conf), percent_rank and
  * cume_dist (doubles) and ntile (bounded by its literal bucket count)
  * are valid at any N — a 100 TB corpus can ntile/percent_rank
  * globally with NO escape hatch needed. Factored out so the specs
  * exercise the 2^31 boundary with synthetic totals (three longs), not
  * 2^31 real rows. */
private[graft] object RankRange {
  /** @param fns   each rank function with whether it emits LongType
    * @param n     rows in the checked scope (corpus / largest group)
    * @param d     distinct order keys in the checked scope
    * @param remedy appended to the failure message (operator-specific) */
  def check(op: String, scope: String, fns: Seq[(GlobalRankFn, Boolean)],
      n: Long, d: Long, remedy: String): Unit =
    fns.foreach {
      case (GRowNumber | GRank, false) =>
        require(n <= Int.MaxValue.toLong,
          s"$op: $n $scope exceed the IntegerType rank range (2^31-1)$remedy")
      case (GDenseRank, false) =>
        require(d <= Int.MaxValue.toLong,
          s"$op: $d distinct keys over $scope exceed the IntegerType " +
            s"dense_rank range (2^31-1)$remedy")
      case _ => () // LongType ranks, ntile (≤ buckets), percent_rank/cume_dist
    }
}

/** Shared guard for the window-family rewrites: true iff no
  * expression anywhere in the subtree is nondeterministic. The
  * rewrites evaluate (parts of) the child more than once —
  * GlobalAgg duplicates the subtree outright, the two-pass execs run
  * two jobs over their RDD — so a rand()-derived column or sampling
  * filter could diverge between evaluations; those stay native. */
object PlanGuards extends org.apache.spark.internal.Logging {
  def subtreeDeterministic(p: LogicalPlan): Boolean =
    p.find(n => !n.expressions.forall(_.deterministic)).isEmpty

  /** Byte guard on pass-1 boundary-KEY driver traffic, the family
    * analogue of the offset class's maxOffset cap. The rank and
    * running-aggregate execs each ship two projected key rows per
    * partition to the driver — O(partitions × key bytes), which
    * is trivial for the numeric/date keys real rankings use but has
    * no cap of its own: a wide-string order key at 10^5+ partitions
    * would make pass 1 driver-bound. Projected traffic is estimated
    * CONSERVATIVELY at rewrite time as
    * `numShufflePartitions × 2 keys × Σ per-column width`, with
    * variable-width columns (strings/binaries/nested types) assumed
    * 256 bytes regardless of their optimistic defaultSize — past
    * `spark.graft.globalWindow.maxBoundaryBytes` (default 64 MB) the
    * window stays native with a log line, the same
    * weigh-it-deliberately contract as raising maxOffset. The
    * estimate uses the shuffle-partition conf (an upper bound on the
    * range exchange's width; AQE only coalesces downward). */
  val MaxBoundaryBytesKey = "spark.graft.globalWindow.maxBoundaryBytes"

  private def widthOf(dt: org.apache.spark.sql.types.DataType): Long = dt match {
    case org.apache.spark.sql.types.StringType |
         org.apache.spark.sql.types.BinaryType => 256L
    case _: org.apache.spark.sql.types.ArrayType |
         _: org.apache.spark.sql.types.MapType |
         _: org.apache.spark.sql.types.StructType =>
      math.max(dt.defaultSize.toLong, 256L)
    case other => other.defaultSize.toLong
  }

  private def capBytes: Long = SQLConf.get
    .getConfString(MaxBoundaryBytesKey, (64L * 1024 * 1024).toString).toLong

  private def keyBytesOf(order: Seq[SortOrder], part: Seq[Expression]): Long =
    (order.map(_.child.dataType) ++ part.map(_.dataType)).map(widthOf).sum

  /** Plan-time guard. SCOPE CAVEAT (r18, from the r17 advisory): the
    * shuffle-partition conf bounds only the exec's OWN rewrite-
    * inserted exchange — the operators deliberately REUSE pre-existing
    * finer exchanges (the OrderedDistribution prefix rule), and a
    * `repartitionByRange(N)` with N far above the conf is invisible
    * here. [[runtimeBoundaryWarn]] is the runtime backstop for that
    * configuration. */
  def boundaryTrafficOk(order: Seq[SortOrder], part: Seq[Expression] = Nil): Boolean = {
    val cap = capBytes
    val parts = SQLConf.get.numShufflePartitions.toLong
    val keyBytes = keyBytesOf(order, part)
    val projected = parts * 2L * keyBytes
    val ok = projected <= cap
    if (!ok) logInfo(s"window-family rewrite bails to the native plan: " +
      s"projected pass-1 boundary-key driver traffic ($parts partitions × " +
      s"2 keys × $keyBytes bytes = $projected B) exceeds " +
      s"$MaxBoundaryBytesKey=$cap")
    ok
  }

  /** Runtime backstop for [[boundaryTrafficOk]]'s blind spot: called
    * by each key-shipping exec immediately before its pass-1 runJob
    * with the child RDD's ACTUAL partition count, which may come from
    * a reused pre-existing finer exchange the plan-time estimate never
    * saw, and with exactly the key columns its pass 1 ships. The plan
    * is fixed at this point, so there is nothing sound to fall back to
    * mid-execution — instead the breach is logged LOUDLY (warning
    * level) with the numbers and the conf name, so a driver-memory
    * incident is attributable and the fix (raise the cap consciously,
    * or coarsen the pre-partitioning) is named before the OOM rather
    * than after. The estimate stays conservative (256 B floor for
    * variable-width keys); actual traffic is usually far smaller. */
  def runtimeBoundaryWarn(op: String, nParts: Int,
      order: Seq[SortOrder], part: Seq[Expression] = Nil): Unit = {
    val cap = capBytes
    val keyBytes = keyBytesOf(order, part)
    val projected = nParts.toLong * 2L * keyBytes
    if (projected > cap) logWarning(s"$op pass 1 will ship an estimated " +
      s"$projected B of boundary keys to the driver ($nParts actual " +
      s"partitions × 2 keys × $keyBytes B) — above $MaxBoundaryBytesKey=" +
      s"$cap, which the plan-time guard could not see because the " +
      s"operator reused a pre-existing finer exchange. If the driver " +
      s"OOMs here, coarsen the upstream repartitioning or raise the cap " +
      s"deliberately.")
  }

  /** [[boundaryTrafficOk]]'s sibling for ring-shipping operators
    * (SlidingAgg, the offset class): pass 1 ships `extent` projected
    * VALUE tuples (+ evaluated part keys) per partition instead of 2
    * key rows, so the projected traffic is partitions × extent × Σ
    * column width, against the same cap and with the same
    * conservative variable-width floor. */
  def valueTrafficOk(op: String, values: Seq[Expression],
      part: Seq[Expression], extent: Int): Boolean = {
    val cap = capBytes
    val parts = SQLConf.get.numShufflePartitions.toLong
    val width = (values.map(_.dataType) ++ part.map(_.dataType)).map(widthOf).sum
    val projected = parts * extent.toLong * width
    val ok = projected <= cap
    if (!ok) logInfo(s"$op rewrite bails to the native plan: projected " +
      s"pass-1 boundary-value driver traffic ($parts partitions × $extent " +
      s"values × $width bytes = $projected B) exceeds $MaxBoundaryBytesKey=$cap")
    ok
  }

  /** [[runtimeBoundaryWarn]]'s sibling for ring-shipping operators —
    * the same loud-warning runtime backstop over the ACTUAL partition
    * count of a reused finer exchange, with the extent in the
    * message so the remedy (lower the frame extent cap, coarsen the
    * pre-partitioning, or raise the byte cap deliberately) is named
    * before a driver OOM rather than after. */
  def runtimeValueTrafficWarn(op: String, nParts: Int, values: Seq[Expression],
      part: Seq[Expression], extent: Int): Unit = {
    val cap = capBytes
    val width = (values.map(_.dataType) ++ part.map(_.dataType)).map(widthOf).sum
    val projected = nParts.toLong * extent.toLong * width
    if (projected > cap) logWarning(s"$op pass 1 will ship an estimated " +
      s"$projected B of boundary values to the driver ($nParts actual " +
      s"partitions × $extent values × $width B) — above " +
      s"$MaxBoundaryBytesKey=$cap, which the plan-time guard could not see " +
      s"because the operator reused a pre-existing finer exchange. If the " +
      s"driver OOMs here, coarsen the upstream repartitioning, lower the " +
      s"frame-extent conf, or raise the cap deliberately.")
  }
}
