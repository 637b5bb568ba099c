package graft.catalog

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, EqualTo, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}

import graft.model.IndexMetadata
import graft.operators.{IndexJoin, IndexProbe}
import graft.sources.FileReader
import graft.store.IndexStore

/** Optimizer rule rewriting INNER equi-joins against graft catalog tables
  * into pre-pruned file reads (reference: catalog/AriadneJoinRule.scala:65-302).
  *
  * Guards (any failure → leave the plan untouched):
  *  - INNER join, condition = conjunction of attr = attr
  *  - graft side is a DataSourceV2(Scan)Relation of a GraftTable, looked
  *    through attribute-only Projects
  *  - every graft-side join column carries an index
  *
  * The rewrite locates files during optimization. Against a local probe
  * side (`VALUES`, a `toDF` of a local Seq) over a warm driver-local index
  * snapshot it runs no query: the probe values and the located files are
  * read from optimized plans. Otherwise it RUNS A QUERY (the first read of
  * a new snapshot collects it; a distributed probe side or a Spark-cached
  * snapshot larger than `spark.sql.autoBroadcastJoinThreshold` executes —
  * same documented oddity as the reference, AriadneJoinRule.scala:43-45); a
  * thread-local guard prevents the nested query's own optimization from
  * re-entering the rule. Replacement outputs are re-aliased to the original
  * ExprIds so parent plan references stay valid (the reference's alias
  * trick, AriadneJoinRule.scala:223-228).
  */
object GraftJoinRule extends Rule[LogicalPlan] with Logging {

  private val rewriting = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (rewriting.get()) return plan
    plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), _) =>
        tryRewrite(j, left, right, cond).getOrElse(j)
    }
  }

  /** Find the graft relation NODE under attribute-only Projects and
    * deterministic Filters (both preserve per-row semantics, so replacing
    * just the relation underneath them is sound — the filters keep applying
    * row-level over the pruned read). */
  private def findRelation(plan: LogicalPlan): Option[(LogicalPlan, IndexMetadata)] =
    plan match {
      case r: DataSourceV2Relation =>
        r.table match {
          case t: GraftTable => Some((r, t.meta))
          case _ => None
        }
      case r: DataSourceV2ScanRelation =>
        r.relation.table match {
          case t: GraftTable => Some((r, t.meta))
          case _ => None
        }
      case Project(projectList, child)
          if projectList.forall(_.isInstanceOf[AttributeReference]) =>
        findRelation(child)
      case f: Filter if f.condition.deterministic =>
        findRelation(f.child)
      case _ => None
    }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other     => Seq(other)
  }

  private def tryRewrite(
      j: Join, left: LogicalPlan, right: LogicalPlan, cond: Expression): Option[Join] = {
    try {
      // Joins where BOTH sides are graft tables fall back to plain catalog
      // scans: rewriting one side makes the fixed-point optimizer probe the
      // other side with the already-rewritten (alias-wrapped) plan on the
      // next iteration — executing a query mid-optimization against a plan
      // the same rule just synthesized. Correctness never depends on the
      // rewrite; both scans keep their own pushdown.
      if (findRelation(left).isDefined && findRelation(right).isDefined)
        return None
      val (graftPlan, otherPlan, graftIsLeft, relationNode, meta) =
        findRelation(left) match {
          case Some((node, m)) => (left, right, true, node, m)
          case None => findRelation(right) match {
            case Some((node, m)) => (right, left, false, node, m)
            case None            => return None
          }
        }

      // all conjuncts must be attr = attr with one side from the graft
      // RELATION itself (attrs flow unchanged through the looked-through
      // Projects/Filters)
      val relOutput = relationNode.outputSet
      val pairs: Seq[(AttributeReference, AttributeReference)] =
        splitConjuncts(cond).map {
          case EqualTo(a: AttributeReference, b: AttributeReference) =>
            if (relOutput.contains(a) && otherPlan.outputSet.contains(b)) (a, b)
            else if (relOutput.contains(b) && otherPlan.outputSet.contains(a)) (b, a)
            else return None
          case _ => return None
        }
      if (pairs.isEmpty) return None
      // every graft-side join column must be indexed (reference rule,
      // AriadneJoinRule.scala:180-186)
      if (!pairs.forall { case (g, _) =>
        meta.indexFor(g.name).exists(_.canProbe) }) return None

      val spark = SparkSession.active
      val store = new IndexStore(spark, meta.name)

      val files = withGuard {
        // probe values: project the other side down to the graft column names
        val probeProjs: Seq[NamedExpression] =
          pairs.map { case (g, o) => Alias(o, g.name)() }
        val probeDf = GraftSqlBridge.ofRows(spark, Project(probeProjs, otherPlan))
        val probes = pairs.map { case (g, _) =>
          g.name -> IndexProbe.Frame(probeDf.select(g.name))
        }.toMap
        IndexProbe.collectFiles(IndexProbe.candidateFiles(store, meta, probes))
      }

      var pruned = FileReader.readFiles(spark, meta, files)
      pruned = IndexJoin.applyTemporalDedup(pruned, meta,
        meta.indexes.filter(_.indexType == "temporal").map(_.column).toSet)
      val prunedPlan = pruned.queryExecution.analyzed

      // restore the RELATION's output: name-match new attrs, alias to orig
      // ExprIds, then splice the replacement under the untouched
      // Projects/Filters above it
      val newByName = prunedPlan.output.map(a => a.name -> a).toMap
      val restored = relationNode.output.map { orig =>
        Alias(newByName(orig.name), orig.name)(exprId = orig.exprId)
      }
      val replacement = Project(restored, prunedPlan)
      val newGraftPlan = graftPlan.transformUp {
        case node if node eq relationNode => replacement
      }

      logInfo(s"graft join rewrite: index ${meta.name} pruned to ${files.size} files")
      Some(if (graftIsLeft) j.copy(left = newGraftPlan)
           else j.copy(right = newGraftPlan))
    } catch {
      case _: InterruptedException => throw new InterruptedException()
      case e: Exception =>
        logWarning(s"graft join rewrite failed, falling back: $e")
        None
    }
  }

  private def withGuard[T](body: => T): T = {
    rewriting.set(true)
    try body finally rewriting.set(false)
  }
}

/** Session-extension registration:
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftSparkExtension()(_))
  * // or spark.sql.extensions=graft.catalog.GraftSparkExtension
  * }}}
  * (reference: catalog/AriadneSparkExtension.scala:39-42)
  */
class GraftSparkExtension extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => GraftJoinRule)
    GraftFunctions.injectable.foreach(ext.injectFunction)
  }
}
