package graft.tools

/** Counts plan-shape features (exchanges, join strategies, `graft_hash61`
  * call sites) — the numbers PlanGuardSpec pins and `Probe shape` prints.
  */
object PlanShapeProbe {
  /** Counts from the plan TREE: the current AQE physical plan, each
    * cache's plan once, reused exchanges not re-descended. A `Par.cached`
    * subtree sits under every InMemoryRelation occurrence — same plan
    * object — but runs ONCE, so it is walked once. r16: the plan TEXT is
    * no substitute: an AdaptiveSparkPlan that has ALREADY EXECUTED (a
    * cached subtree materialized by an in-gate audit) prints BOTH its
    * final and initial plans, the initial section duplicating every
    * operator under fresh expression ids.
    */
  def shapeOf(root: org.apache.spark.sql.execution.SparkPlan): Map[String, Int] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.joins._
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, SinglePartition}
    val seenCaches = scala.collection.mutable.Set[AnyRef]()
    val nodes = scala.collection.mutable.Buffer[SparkPlan]()
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => nodes += q; walk(q.plan)
      case t: InMemoryTableScanExec =>
        nodes += t
        if (seenCaches.add(t.relation.cacheBuilder))
          walk(t.relation.cachedPlan)
      case r: ReusedExchangeExec => nodes += r // runs once, at its origin
      case other =>
        nodes += other
        other.children.foreach(walk)
    }
    walk(root)
    Map(
      "exchange" -> nodes.count {
        case s: ShuffleExchangeLike =>
          s.outputPartitioning match {
            case _: HashPartitioning | _: RangePartitioning |
                SinglePartition => true
            case _ => false // round-robin fan exchanges
          }
        case _ => false
      },
      "bnlj" -> nodes.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "cartesian" -> nodes.count(_.isInstanceOf[CartesianProductExec]),
      "smj" -> nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      "bhj" -> nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
      "sort_global" -> nodes.count {
        case s: SortExec => s.global
        case _ => false
      },
      "hash61" -> nodes.flatMap(_.expressions).map(_.collect {
        case h: org.apache.spark.sql.graft.Hash61F => h
      }.size).sum)
  }
}
