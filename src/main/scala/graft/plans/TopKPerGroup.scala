package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, UnaryNode, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator Catalyst extension — the (c)-tier custom-operator path
  * (logical plan + optimizer rule + strategy + physical operator,
  * SURVEY.md §2B): per-group top-k WITHOUT a window sort.
  *
  * The DataFrame pattern
  * {{{ row_number().over(partitionBy(g).orderBy(o)) <= k }}}
  * is THE idiom for "keep the k best rows per key", and Spark executes
  * it as exchange → full SORT of every partition → WindowExec → filter.
  * (Spark's own `InferWindowGroupLimit` bounds rows entering the sort to
  * k per group per partition, but keeps both per-partition sorts and the
  * window machinery.) At a 100 TB input the sort is O(n log n) in rows
  * it immediately throws away; a bounded heap is O(n log k) with O(G·k)
  * memory and needs no sorted input at all.
  *
  * [[RewriteRankLimit]] (a `Rule[LogicalPlan]`) matches the
  * filter-over-row_number-window shape in the OPTIMIZED plan — user code
  * keeps using the public window API, nothing graft-specific in the
  * query — and replaces it with [[TopKPerGroupPlan]].
  * [[TopKPerGroupStrategy]] plans that as TWO [[TopKPerGroupExec]]
  * nodes, partial then final, with the partial BELOW the exchange (the
  * hash-aggregate pattern): each input partition first reduces to ≤ k
  * rows per group locally, so the shuffle moves at most
  * partitions × groups × k rows no matter how skewed the input; the
  * final node merges per group and emits the row_number the original
  * plan promised (same exprId, so downstream references resolve
  * untouched).
  *
  * Registered by [[graft.GraftExtensions]] (config-only deployment) or
  * post-hoc on an existing session via [[GraftPlans.install]]. */
object GraftPlans {
  /** Idempotently add the rewrite rule + strategy to an EXISTING
    * session (the library-import path; [[graft.GraftExtensions]] is the
    * spark.sql.extensions path). */
  def install(spark: SparkSession): Unit = {
    val e = spark.experimental
    if (!e.extraOptimizations.contains(RewriteRankLimit))
      e.extraOptimizations = e.extraOptimizations :+ RewriteRankLimit
    if (!e.extraStrategies.contains(TopKPerGroupStrategy))
      e.extraStrategies = e.extraStrategies :+ TopKPerGroupStrategy
  }

  /** Registered query (`q8d_rank_limit`): top-3 orders per customer,
    * written with the PUBLIC window API — the rewrite swaps the plan
    * underneath (spec-pinned: no WindowExec, no per-partition Sort).
    *
    * Installed on an ISOLATED child session (shared context and cache,
    * separate experimental methods — the Tables.events pattern), never
    * on the caller's: extraOptimizations are session-global, and
    * installing here would silently rewrite every later
    * row_number-limit query in the same session, making registered
    * plans depend on query RUN ORDER. Users who want the rewrite
    * globally opt in via [[GraftPlans.install]] or
    * [[graft.GraftExtensions]]. */
  def qRankLimit(s0: SparkSession, dir: String): DataFrame = {
    val s = graft.operators.Lineage.child(s0)
    install(s)
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    val w = W.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    graft.Tables.orders(s, dir)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("rnk").cast("long").as("rnk"),
        col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_custkey", "rnk")
  }
}

/** Logical: keep the first `k` rows of each `groupExprs` group under
  * `orderSpec`, emitting `rankAttr` (1-based position) alongside the
  * child's columns. `rankAttr` carries the exprId of the window alias it
  * replaced. */
case class TopKPerGroupPlan(
    groupExprs: Seq[Expression],
    orderSpec: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan)
      : TopKPerGroupPlan = copy(child = newChild)
}

/** Optimizer rule: Filter(row_number_attr ≤ k) over a single-expression
  * row_number Window → [[TopKPerGroupPlan]]. Runs in the user-provided
  * batch (after the built-in optimizer), so it also strips the
  * `WindowGroupLimit` that `InferWindowGroupLimit` may already have
  * inserted below the window. Non-limiting conjuncts survive as a
  * residual Filter on top. */
object RewriteRankLimit extends Rule[LogicalPlan] {

  private object RowNumberWindow {
    /** Matches Window(Seq(alias of row_number over (part, order)), …) and
      * the grandchild with any InferWindowGroupLimit artifact removed. */
    def unapply(p: LogicalPlan): Option[(Attribute, Seq[Expression],
        Seq[SortOrder], LogicalPlan)] = p match {
      case Window(Seq(a @ Alias(
            WindowExpression(RowNumber(), WindowSpecDefinition(part, order, _)),
            _)), _, _, wchild, _) if part.nonEmpty =>
        val realChild = wchild match {
          case WindowGroupLimit(_, _, RowNumber(), _, gc) => gc
          case other => other
        }
        Some((a.toAttribute, part, order, realChild))
      case _ => None
    }
  }

  /** The conjunct that bounds `rank`: rank ≤ v / rank < v / rank = 1.
    * The strict-< forms guard v > Int.MinValue: without it `v - 1`
    * underflows to Int.MaxValue and an always-false filter would
    * rewrite into a keep-everything top-k. */
  private def limitOf(c: Expression, rank: Attribute): Option[Int] = c match {
    case LessThanOrEqual(a: Attribute, Literal(v: Int, _))
      if a.semanticEquals(rank) => Some(v)
    case LessThan(a: Attribute, Literal(v: Int, _))
      if a.semanticEquals(rank) && v > Int.MinValue => Some(v - 1)
    case EqualTo(a: Attribute, Literal(1, _))
      if a.semanticEquals(rank) => Some(1)
    case GreaterThanOrEqual(Literal(v: Int, _), a: Attribute)
      if a.semanticEquals(rank) => Some(v)
    case GreaterThan(Literal(v: Int, _), a: Attribute)
      if a.semanticEquals(rank) && v > Int.MinValue => Some(v - 1)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case f @ Filter(cond, RowNumberWindow(rank, part, order, child)) =>
      // the TIGHTEST bounding conjunct sizes the heaps — with
      // `rnk <= 1000000 AND rnk <= 3` the first-found choice would
      // carry 1M-slot heap semantics through the whole pipeline; the
      // implied looser conjuncts survive as (vacuously true) residuals
      val conjuncts = splitConjunctivePredicates(cond)
      val bounds = conjuncts.flatMap(c => limitOf(c, rank).map(c -> _))
        .filter(_._2 >= 1)
      if (bounds.isEmpty) f
      else {
        val (used, k) = bounds.minBy(_._2)
        val topk = TopKPerGroupPlan(part, order, k, rank, child)
        val rest = conjuncts.filterNot(_ eq used)
        if (rest.isEmpty) topk
        else Filter(rest.reduce(And), topk)
      }
  }

  private def splitConjunctivePredicates(e: Expression): Seq[Expression] =
    e match {
      case And(l, r) =>
        splitConjunctivePredicates(l) ++ splitConjunctivePredicates(r)
      case other => Seq(other)
    }
}

/** Planner strategy: one logical top-k → partial (below the exchange)
  * + final (above it) physical pair, exactly the HashAggregate shape. */
object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case t: TopKPerGroupPlan =>
      val partial = TopKPerGroupExec(t.groupExprs, t.orderSpec, t.k,
        t.rankAttr, finalPhase = false, planLater(t.child))
      TopKPerGroupExec(t.groupExprs, t.orderSpec, t.k, t.rankAttr,
        finalPhase = true, partial) :: Nil
    case _ => Nil
  }
}

/** Physical bounded-heap top-k-per-group.
  *
  * Both phases run the same per-partition algorithm: a hash map from
  * group key to a size-k priority queue ordered WORST-FIRST, so the
  * queue head is the eviction candidate and each row costs O(log k)
  * against the group's current worst — no sort of the input, ever,
  * and memory is O(groups-per-partition × k) rows.
  *
  * The partial phase (input partitioned however the scan left it)
  * declares no required distribution and emits its ≤ k survivors per
  * local group; EnsureRequirements then inserts the hash exchange the
  * FINAL phase demands via `ClusteredDistribution(groupExprs)` — at most
  * partitions × groups × k rows cross the wire, independent of input
  * skew. The final phase re-runs the heap per (now complete) group,
  * sorts each group's ≤ k survivors (k rows, not the partition), and
  * emits the 1-based row number the rewritten window promised.
  *
  * MEMORY ENVELOPE (honest bounds, not spill-safe everywhere):
  *  - The PARTIAL phase's map is bounded by a row budget
  *    ([[TopKPerGroupExec.FlushRowBudget]], as max(1024, budget/k)
  *    distinct groups): past it, the current survivors flush downstream
  *    and the map restarts (the facade combiner's flush-on-overflow
  *    discipline — MapReduceJob.scala). A flushed group can emit up to
  *    k rows per flush instead of k per partition; the FINAL phase
  *    merges them, so correctness is unaffected and partial memory is
  *    O(FlushRowBudget) rows AT ANY input cardinality or skew.
  *  - The FINAL phase cannot flush (a group's rank sequence needs every
  *    survivor of that group), so its memory is O(groups-per-partition
  *    × k) rows, NOT spillable — unlike the vanilla window plan's
  *    external sort. More shuffle partitions spread groups linearly;
  *    but for the degenerate near-unique-key shape (row_number()=1 as
  *    dedup over ~distinct keys) this buffers ~the partition in heap —
  *    use the exact-dedup operators (hash groupBy, spillable) for that
  *    shape instead. The rewrite is OPT-IN per session
  *    (GraftPlans.install / GraftExtensions), never ambient. */
object TopKPerGroupExec {
  /** Partial-phase buffered-row budget (~4M row slots): the map flushes
    * and restarts past max(1024, FlushRowBudget / k) distinct groups,
    * so partial memory is bounded whatever the input cardinality —
    * see the class scaladoc's memory envelope. */
  val FlushRowBudget: Int = 1 << 22
}

case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    orderSpec: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    finalPhase: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] =
    if (finalPhase) child.output :+ rankAttr else child.output

  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (finalPhase) ClusteredDistribution(groupExprs) :: Nil
    else UnspecifiedDistribution :: Nil

  override protected def withNewChildInternal(newChild: SparkPlan)
      : TopKPerGroupExec = copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val groupE = groupExprs
    val orderE = orderSpec
    val kk = k
    val childOutput = child.output
    val emitRank = finalPhase
    val rankA = rankAttr
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(groupE, childOutput)
      val ord = RowOrdering.create(orderE, childOutput)
      // worst-first: head of the queue is the row to evict
      val worstFirst = new java.util.Comparator[InternalRow] {
        override def compare(a: InternalRow, b: InternalRow): Int =
          ord.compare(b, a)
      }
      val heaps =
        new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      // initial capacity bounded: PriorityQueue EAGERLY allocates its
      // backing array, so seeding with a defensive `rnk <= 50000000`
      // bound would allocate a huge Object[] per 3-row group (it grows
      // dynamically past 16 as needed)
      val initialCap = math.min(kk, 16)
      // group cap derived from a ROW budget (the recommendedCap/
      // pairBudget idiom): partial memory ≤ ~FlushRowBudget buffered
      // rows whatever k the query asked for
      val flushGroups =
        math.max(1024, TopKPerGroupExec.FlushRowBudget / kk)
      def offer(row: InternalRow): Unit = {
        val key = keyProj(row)
        var q = heaps.get(key)
        if (q == null) {
          q = new java.util.PriorityQueue[InternalRow](initialCap, worstFirst)
          heaps.put(key.copy(), q)
        }
        if (q.size < kk) q.add(row.copy())
        else if (ord.compare(row, q.peek()) < 0) { q.poll(); q.add(row.copy()) }
      }
      if (!emitRank) {
        // partial: survivors only, order irrelevant (the final phase
        // re-ranks); rows stay UnsafeRow. The map is BOUNDED: past
        // FlushGroups distinct groups the current survivors stream
        // downstream and the map restarts (scaladoc memory envelope) —
        // fill and drain alternate inside one iterator.
        new Iterator[InternalRow] {
          private var cur: java.util.Iterator[InternalRow] = null
          private def refill(): Unit = {
            while (iter.hasNext && heaps.size() < flushGroups)
              offer(iter.next())
            if (!heaps.isEmpty) {
              val snap = new java.util.ArrayList[InternalRow]()
              heaps.values().forEach(q => snap.addAll(q))
              heaps.clear()
              cur = snap.iterator()
            }
          }
          override def hasNext: Boolean = {
            while ((cur == null || !cur.hasNext) &&
                (iter.hasNext || !heaps.isEmpty)) refill()
            cur != null && cur.hasNext
          }
          override def next(): InternalRow = cur.next()
        }
      } else {
        while (iter.hasNext) offer(iter.next())
        val groups = heaps.values().iterator()
        val toUnsafe = UnsafeProjection.create(childOutput :+ rankA,
          childOutput :+ rankA)
        val rankRow = new GenericInternalRow(1)
        val joined = new JoinedRow
        new Iterator[InternalRow] {
          private var cur: Array[InternalRow] = null
          private var i = 0
          override def hasNext: Boolean = {
            while ((cur == null || i >= cur.length) && groups.hasNext) {
              cur = groups.next().toArray(Array.empty[InternalRow])
              java.util.Arrays.sort(cur, ord)
              i = 0
            }
            cur != null && i < cur.length
          }
          override def next(): InternalRow = {
            rankRow.update(0, i + 1)
            val out = toUnsafe(joined(cur(i), rankRow))
            i += 1
            out
          }
        }
      }
    }, preservesPartitioning = true)
  }
}
