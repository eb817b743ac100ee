package graft.plans

import graft.functions.{CosineSimilarity, DotProduct}
import graft.search.IvfIndex
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
import scala.collection.concurrent.TrieMap

/** O5 — the optional Catalyst rewrite SURVEY.md §4 sketches: a naive
  * exact top-k by vector score over a REGISTERED IVF collection is
  * rewritten to probe only the nprobe nearest clusters
  * (`cluster_id IN (...)` pushed onto the scan — partition pruning
  * when the collection is stored with [[graft.store.VectorStore.writeIndexed]]).
  *
  * Registration is the ANN opt-in: like searching an indexed Milvus
  * collection, top-k against a registered path is approximate BY
  * CONTRACT (milvus_store.py:273-278 nprobe semantics). Unregistered
  * relations are never touched.
  */
object IvfCatalog {
  final case class IndexInfo(centroids: Array[Array[Float]], nprobe: Int)

  private val byPath = TrieMap.empty[String, IndexInfo]

  def register(path: String, centroids: Array[Array[Float]], nprobe: Int): Unit =
    byPath.put(normalize(path), IndexInfo(centroids, nprobe))

  def unregister(path: String): Unit = byPath.remove(normalize(path))
  def clear(): Unit = byPath.clear()

  private def normalize(p: String): String =
    p.stripSuffix("/").replaceFirst("^file:", "")

  private[plans] def lookup(rootPaths: Seq[String]): Option[IndexInfo] =
    rootPaths.iterator.flatMap(rp => byPath.get(normalize(rp))).nextOption()
}

object IvfTopKPrune extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case gl @ GlobalLimit(_, ll @ LocalLimit(_, sort @ Sort(SortOrder(ref, Descending, _, _) +: _, true, child, _)))
        if !alreadyPruned(child) =>
      prune(ref, child) match {
        case Some(newChild) => gl.copy(child = ll.copy(child = sort.copy(child = newChild)))
        case None => gl
      }
  }

  /** Idempotence guard for the fixed-point batch: skip plans that
    * already carry a cluster_id IN filter. OptimizeIn has already run
    * by the time the user-provided batch sees the plan, so an explicit
    * `.isin(probes)` with more than inSetConversionThreshold (10)
    * values arrives as InSet, not In — both shapes must be recognized
    * or the rule re-fires on already-probed queries.
    */
  private def alreadyPruned(plan: LogicalPlan): Boolean =
    plan.exists {
      case Filter(In(a: AttributeReference, _), _) => a.name == "cluster_id"
      case Filter(InSet(a: AttributeReference, _), _) => a.name == "cluster_id"
      case _ => false
    }

  private def literalVec(l: Literal): Option[Array[Float]] = l match {
    case Literal(arr: ArrayData, ArrayType(FloatType, _)) => Some(arr.toFloatArray())
    case Literal(arr: ArrayData, ArrayType(DoubleType, _)) => Some(arr.toDoubleArray().map(_.toFloat))
    case _ => None
  }

  private def prune(scoreRef: Expression, child: LogicalPlan): Option[LogicalPlan] = {
    // 1. the sort key must be (or alias) an expression containing a
    //    DotProduct or CosineSimilarity against a literal query vector
    val scoreExpr: Option[Expression] = scoreRef match {
      case a: AttributeReference =>
        child.collectFirst {
          case p: Project =>
            p.projectList.collectFirst {
              case al: Alias if al.exprId == a.exprId => al.child
            }
        }.flatten
      case e => Some(e)
    }
    val queryVec: Option[Array[Float]] = scoreExpr.flatMap { e =>
      e.collectFirst {
        case DotProduct(x, l @ Literal(_: ArrayData, _)) if !x.isInstanceOf[Literal] => literalVec(l)
        case DotProduct(l @ Literal(_: ArrayData, _), x) if !x.isInstanceOf[Literal] => literalVec(l)
        case CosineSimilarity(x, l @ Literal(_: ArrayData, _)) if !x.isInstanceOf[Literal] => literalVec(l)
        case CosineSimilarity(l @ Literal(_: ArrayData, _), x) if !x.isInstanceOf[Literal] => literalVec(l)
      }.flatten
    }
    if (queryVec.isEmpty) return None

    // 2. a registered file relation below, exposing cluster_id
    var rewritten = false
    val out = child.transformUp {
      case lr @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) if !rewritten =>
        val clusterAttr = lr.output.find(_.name == "cluster_id")
        val info = IvfCatalog.lookup(fs.location.rootPaths.map(_.toString))
        (clusterAttr, info) match {
          case (Some(attr), Some(idx)) =>
            rewritten = true
            val probes = IvfIndex.nearestClusters(queryVec.get, idx.centroids, idx.nprobe)
            Filter(In(attr, probes.map(p => Literal(p))), lr)
          case _ => lr
        }
    }
    if (rewritten) Some(out) else None
  }
}

object IvfPruning {
  /** Opt a live session into the rewrite (idempotent). */
  def enable(spark: SparkSession): Unit = {
    val current = spark.experimental.extraOptimizations
    if (!current.contains(IvfTopKPrune)) {
      spark.experimental.extraOptimizations = current :+ IvfTopKPrune
    }
  }

  def disable(spark: SparkSession): Unit =
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == IvfTopKPrune)
}
