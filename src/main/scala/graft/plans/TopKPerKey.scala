package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Top-k rows per key as a first-class physical operator.
  *
  * Spark has no map-side partial for `row_number() OVER (PARTITION BY
  * …) <= k`: the Window route shuffles EVERY row of the fact table,
  * sorts each partition, then discards all but k per key — at 100 TB
  * the shuffle is the job. This operator plans as
  *
  *   TopKPerKeyExec(partial) → Exchange(hash by keys) → TopKPerKeyExec(final)
  *
  * so each map task keeps only its local best k per key in a bounded
  * heap and the shuffle carries ≤ k·|keys| rows per map partition —
  * the same partial/final contract as a hash aggregate, applied to
  * order statistics. Results are EXACT (top-k distributes over
  * set union), provided the caller's sort order is total — same
  * requirement every deterministic top-k in the engine already has.
  *
  * The logical node erases to the child's schema; the planner strategy
  * (injected via SparkSessionExtensions, like the engine's expressions)
  * rewrites it to the two-stage physical form, and EnsureRequirements
  * inserts the key-hash exchange demanded by the final stage's
  * required distribution.
  */
final case class TopKPerKeyPlan(
    groupExprs: Seq[Expression],
    sortOrders: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyPlan =
    copy(child = newChild)
}

object TopKStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyPlan(g, s, k, child) =>
      val part = TopKPerKeyExec(g, s, k, partial = true, planLater(child))
      TopKPerKeyExec(g, s, k, partial = false, part) :: Nil
    case _ => Nil
  }
}

final case class TopKPerKeyExec(
    groupExprs: Seq[Expression],
    sortOrders: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  // both stages are per-partition maps: key-hash layout flows through,
  // so a downstream aggregate/join on the same keys adds no exchange
  override def outputPartitioning:
      org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    // generated projections/orderings are NOT serializable — capture
    // only the expressions + schema and build them per partition
    val gExprs = groupExprs
    val sOrders = sortOrders
    val childOutput = child.output
    val kk = k
    val isPartial = partial
    // flush threshold, resolved at plan time (driver): the default is
    // production-sized; the conf exists so a spec can shrink it and
    // prove the flush path fires while results stay exact
    val maxKeys = conf.getConfString("spark.graft.topk.maxKeys", (1 << 18).toString).toInt
    // 0/negative would make the partial flush on EVERY new key — the
    // OOM guard silently degenerating to a shuffle-everything cliff
    require(maxKeys > 0, s"spark.graft.topk.maxKeys must be positive, got $maxKeys")
    child.execute().mapPartitions ({ iter =>
      val groupProj = UnsafeProjection.create(gExprs, childOutput)
      val ordering =
        org.apache.spark.sql.catalyst.expressions.RowOrdering
          .create(sOrders, childOutput)
      // per key: a bounded "worst on top" heap of copied rows — memory
      // is O(|keys in partition| · k), not O(rows). High-cardinality
      // guard (partial stage only): past `maxKeys` distinct keys the
      // stage flushes its buffered rows downstream and clears — a
      // partial may emit a SUPERSET of its local top-k (the final
      // stage re-filters), so flushing is always correct; worst case
      // degenerates to the Window route's shuffle-everything, never
      // to OOM. The final stage's input is already ≤ k·|keys| rows
      // (the partials' contract), so its map is post-reduction size —
      // the same O(|keys in partition|) residency as a hash-agg final.
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      val reverse = ordering.reversed()
      new Iterator[InternalRow] {
        private var drain: java.util.Iterator[InternalRow] =
          java.util.Collections.emptyIterator[InternalRow]()
        private var exhausted = false
        // move the buffered rows downstream and free the map — the
        // shuffle writer consumes them as we iterate, so residency
        // really drops (unlike an accumulate-then-emit buffer)
        private def drainHeaps(): java.util.Iterator[InternalRow] = {
          val buf = new java.util.ArrayList[InternalRow]()
          heaps.values().forEach(h => h.forEach(r => buf.add(r)))
          heaps.clear()
          buf.iterator()
        }
        private def refill(): Unit = {
          while (!drain.hasNext && !exhausted) {
            if (!iter.hasNext) {
              exhausted = true
              drain = drainHeaps()
            } else {
              val row = iter.next()
              val key = groupProj(row)
              var heap = heaps.get(key)
              if (heap == null) {
                if (isPartial && heaps.size() >= maxKeys) drain = drainHeaps()
                heap = new java.util.PriorityQueue[InternalRow](kk + 1, reverse)
                heaps.put(key.copy(), heap)
              }
              if (heap.size() < kk) heap.add(row.copy())
              else if (ordering.compare(row, heap.peek()) < 0) {
                heap.poll(); heap.add(row.copy())
              }
            }
          }
        }
        override def hasNext: Boolean = { refill(); drain.hasNext }
        override def next(): InternalRow = { refill(); drain.next() }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)

  override def nodeName: String =
    if (partial) "TopKPerKeyPartial" else "TopKPerKeyFinal"
}

/** Builder: wraps a DataFrame in the logical node (resolved against the
  * child's analyzed output) and returns a DataFrame over it.
  */
object TopKPerKey {
  def apply(df: org.apache.spark.sql.DataFrame,
            keyCols: Seq[String],
            orderBy: Seq[org.apache.spark.sql.Column],
            k: Int): org.apache.spark.sql.DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val spark = df.sparkSession
    val analyzed = df.queryExecution.analyzed
    // resolve through the session's resolver (case-sensitivity per
    // spark.sql.caseSensitive, qualified names, ambiguity errors) —
    // not a bare case-sensitive name map
    val resolver = spark.sessionState.conf.resolver
    def resolveName(name: String): Expression =
      analyzed.resolveQuoted(name, resolver).getOrElse(
        throw new IllegalArgumentException(s"unknown column $name")) match {
        case org.apache.spark.sql.catalyst.expressions.Alias(child, _) => child
        case e => e
      }
    val groupExprs = keyCols.map(resolveName)
    val orders = orderBy.map { c =>
      org.apache.spark.sql.graft.GraftSqlBridge.expr(c) match {
        case so: SortOrder => bind(so, resolveName)
        case e => SortOrder(bindExpr(e, resolveName),
          org.apache.spark.sql.catalyst.expressions.Ascending)
      }
    }
    org.apache.spark.sql.graft.GraftSqlBridge.ofRows(spark,
      TopKPerKeyPlan(groupExprs, orders, k, analyzed))
  }

  private def bind(so: SortOrder, resolve: String => Expression): SortOrder =
    so.copy(child = bindExpr(so.child, resolve))

  private def bindExpr(e: Expression, resolve: String => Expression): Expression =
    e.transform {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        resolve(u.name)
    }
}

