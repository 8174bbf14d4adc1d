package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, Cast, EqualTo, Expression, ExprId, NamedExpression}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ColumnShim

import graft.http.{HttpConfigException, HttpLookup}
import graft.streaming.HttpLookupTable

/** Plans a SQL join against a `graft-http-lookup` table as an HTTP lookup —
  * the Spark stand-in for Flink's lookup-join planning, where the optimizer
  * sees `JOIN lookup_table FOR SYSTEM_TIME AS OF … ON probe.k = lookup.k`
  * and routes probe keys to the connector
  * (reference: `table/lookup/HttpLookupTableSource.java` —
  * `getLookupRuntimeProvider(context)` receives the join's key indices).
  *
  * The rule runs post-resolution: it matches an equi-join (INNER, or an
  * outer join preserving the probe side — `probe LEFT JOIN api` /
  * `api RIGHT JOIN probe`, the lookup analog of Flink's LEFT
  * `FOR SYSTEM_TIME AS OF` joins) whose one side is (an alias chain over) a
  * [[HttpLookupTable]] relation, derives the
  * lookup keys from the ON clause exactly as Flink does, splices in the plan
  * [[HttpLookup.join]] builds (codegen'd request rendering → narrow
  * mapPartitions I/O → format decode), and projects the result back onto the
  * join's original output attributes, so everything above the join — WHERE
  * clauses on lookup columns included — resolves untouched.
  *
  * Probe columns are first re-aliased to reserved names, which makes the
  * rewrite immune to name collisions between probe and response fields and
  * to duplicate names inside the probe (self-joined probes).
  */
case class HttpLookupJoinRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j: Join if containsLookup(j.left) || containsLookup(j.right) =>
      val lookupOnRight = containsLookup(j.right)
      val (probeSide, lookupSide) =
        if (lookupOnRight) (j.left, j.right) else (j.right, j.left)
      if (containsLookup(probeSide))
        throw new HttpConfigException(
          "joining two graft-http-lookup tables with each other is not " +
            "supported — one side must be a concrete probe relation")
      val rel = unwrap(lookupSide).getOrElse(throw new HttpConfigException(
        "a graft-http-lookup table must be joined directly " +
          "(probe JOIN api ON probe.k = api.k); apply projections or " +
          "filters around the join, not between the join and the table"))
      // INNER drops probe rows without a lookup match; LEFT (probe LEFT
      // JOIN api — or api RIGHT JOIN probe) keeps them with null
      // enrichment, the lookup analog of Flink's outer
      // `FOR SYSTEM_TIME AS OF` joins. Outer-preserving the LOOKUP side is
      // meaningless (the service's key space is not enumerable) and fails.
      val leftOuter = j.joinType match {
        case Inner => false
        case LeftOuter if lookupOnRight => true
        case RightOuter if !lookupOnRight => true
        case other =>
          throw new HttpConfigException(
            s"graft-http-lookup joins support INNER, and LEFT OUTER " +
              s"preserving the probe side (got ${other.sql} preserving the " +
              "lookup table, whose key space cannot be enumerated); for " +
              "transport errors see " +
              "'http.source.lookup.continue-on-error'")
      }
      val cond = j.condition.getOrElse(throw new HttpConfigException(
        "a graft-http-lookup join needs an equi-join condition naming the " +
          "lookup key columns (ON probe.k = api.k)"))
      rewrite(probeSide, lookupSide, rel, cond, lookupOnRight, leftOuter)
  }

  private def containsLookup(p: LogicalPlan): Boolean = p.exists {
    case r: DataSourceV2Relation => r.table.isInstanceOf[HttpLookupTable]
    case _ => false
  }

  @annotation.tailrec
  private def unwrap(p: LogicalPlan): Option[DataSourceV2Relation] = p match {
    case SubqueryAlias(_, child) => unwrap(child)
    case r: DataSourceV2Relation if r.table.isInstanceOf[HttpLookupTable] =>
      Some(r)
    case _ => None
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  // the analyzer wraps implicit type coercions (probe INT key = lookup
  // BIGINT key) in Casts; the render column is cast to the DECLARED key
  // type below, so stripping them is semantics-preserving
  @annotation.tailrec
  private def stripCast(e: Expression): Expression = e match {
    case c: Cast => stripCast(c.child)
    case other => other
  }

  private def rewrite(
      probeSide: LogicalPlan,
      lookupSide: LogicalPlan,
      rel: DataSourceV2Relation,
      cond: Expression,
      lookupOnRight: Boolean,
      leftOuter: Boolean): LogicalPlan = {
    val table = rel.table.asInstanceOf[HttpLookupTable]
    val lookupAttrs = lookupSide.outputSet
    val probeAttrs = probeSide.outputSet

    // ON-clause equi pairs (lookup column, probe column) — the lookup keys
    val pairs: Seq[(AttributeReference, AttributeReference)] =
      conjuncts(cond).map { c =>
        val bad = () => throw new HttpConfigException(
          s"unsupported graft-http-lookup join predicate '${c.sql}': only " +
            "equi-predicates between a probe column and a lookup key " +
            "column are supported in the ON clause (put residual filters " +
            "in WHERE)")
        c match {
          case EqualTo(l, r) => (stripCast(l), stripCast(r)) match {
            case (a: AttributeReference, b: AttributeReference)
                if lookupAttrs.contains(a) && probeAttrs.contains(b) => (a, b)
            case (b: AttributeReference, a: AttributeReference)
                if lookupAttrs.contains(a) && probeAttrs.contains(b) => (a, b)
            case _ => bad()
          }
          case _ => bad()
        }
      }
    if (table.schema().fieldNames.exists(_.startsWith("__graft_")))
      throw new HttpConfigException(
        "graft-http-lookup column names must not start with '__graft_'")

    // collision-proof the probe: every probe column gets a reserved name;
    // the final projection below restores the original attributes by exprId
    val safeAliases: Seq[NamedExpression] = probeSide.output.zipWithIndex
      .map { case (a, i) => Alias(a, s"__graft_p$i")() }
    val safeName: Map[ExprId, String] = probeSide.output.zipWithIndex
      .map { case (a, i) => a.exprId -> s"__graft_p$i" }.toMap
    var probe = ColumnShim.dataFrame(spark, Project(safeAliases, probeSide))

    // one render column per distinct lookup key, named after the DECLARED
    // column (the wire contract: reference GetRequestFactory renders query
    // params from the lookup table's key field names) and cast to its
    // declared type; duplicate equalities against the same key become
    // post-join filters
    val keyNames = mutable.ListBuffer.empty[String]
    val extraFilters = mutable.ListBuffer.empty[org.apache.spark.sql.Column]
    pairs.groupBy(_._1.exprId).toSeq
      .sortBy { case (id, _) => pairs.indexWhere(_._1.exprId == id) }
      .foreach { case (_, ps) =>
        val lk = ps.head._1
        val first = ps.head._2
        probe = probe.withColumn(
          lk.name, col(safeName(first.exprId)).cast(lk.dataType))
        keyNames += lk.name
        ps.tail.foreach { case (_, other) =>
          extraFilters += (col(safeName(first.exprId)) ===
            col(safeName(other.exprId)))
        }
      }

    if (leftOuter && extraFilters.nonEmpty)
      throw new HttpConfigException(
        "LEFT graft-http-lookup joins do not support multiple equalities " +
          "against the same lookup key in the ON clause (a failed extra " +
          "equality would need to null the enrichment, not drop the row); " +
          "use one equality per key and move the rest to WHERE")

    val options =
      if (leftOuter)
        table.options + (graft.http.HttpOptions.LookupJoinType -> "left")
      else table.options
    var enriched = HttpLookup.join(
      probe, keyNames.toSeq, table.schema(), options,
      includeMetadata = false, headerPreprocessors = Nil,
      emitMatchColumn = leftOuter)
    if (leftOuter) {
      // SQL outer-join semantics: the lookup side's ECHOED key columns must
      // be null on non-matching rows (the render column naturally carries
      // the probe's key value).
      val matched = col(HttpLookup.MatchedColumn)
      pairs.map(_._1).distinctBy(_.exprId).foreach { lk =>
        enriched = enriched.withColumn(
          lk.name,
          org.apache.spark.sql.functions
            .when(matched, col(lk.name))
            .otherwise(org.apache.spark.sql.functions.lit(null)
              .cast(lk.dataType)))
      }
      enriched = enriched.drop(HttpLookup.MatchedColumn)
    }
    extraFilters.foreach(f => enriched = enriched.filter(f))
    val enrichedPlan = enriched.queryExecution.analyzed
    val byName = enrichedPlan.output.map(a => a.name -> a).toMap

    // restore the join's original output: probe attrs by exprId, lookup
    // attrs re-aliased onto the enrichment (or echoed-key) columns
    val probeList: Seq[NamedExpression] = probeSide.output.zipWithIndex.map {
      case (a, i) => Alias(byName(s"__graft_p$i"), a.name)(exprId = a.exprId)
    }
    val lookupList: Seq[NamedExpression] = lookupSide.output.map { r =>
      Alias(byName(r.name), r.name)(exprId = r.exprId)
    }
    Project(
      if (lookupOnRight) probeList ++ lookupList else lookupList ++ probeList,
      enrichedPlan)
  }
}
