package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Cast}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.types.StructType

/** A DataFrame plan analyzed once over placeholder leaves and rebound to
  * real frames on each call.
  *
  * Catalyst analysis of a wide plan built through the DataFrame API runs
  * on the driver at every construction, before any job; re-analyzing an
  * already-resolved copy of the same plan costs nearly as much. The
  * template keeps the analyzed plan over one empty, all-nullable
  * `LocalRelation` per input; [[bind]] swaps each placeholder for a
  * projection of the real frame's analyzed plan that re-emits its columns
  * under the placeholder's attribute ids, so every reference above stays
  * resolved and the result needs no second analysis. A persisted input
  * keeps its cache: its own analyzed plan is what the cache manager
  * matches.
  *
  * The template holds no data and no reference to any bound frame. It
  * lives under `org.apache.spark.sql` because [[Dataset.ofRows]] is
  * `private[sql]`, as for [[PinnedCheckpoint]]. */
final class PlanTemplate private (leaves: Seq[LocalRelation], plan: LogicalPlan) {

  /** The template's plan over `frames`, one per placeholder in order; each
    * frame must have its placeholder's [[PlanTemplate.layout]]. */
  def bind(frames: Seq[DataFrame]): DataFrame = {
    require(frames.map(PlanTemplate.layout) == leaves.map(l => PlanTemplate.layout(l.schema)),
      "frames do not match the template's layout")
    val real = leaves.zip(frames).map { case (leaf, df) =>
      val rel = df.queryExecution.analyzed
      leaf.output.head.exprId -> Project(leaf.output.zip(rel.output).map { case (p, r) =>
        // nullability may differ; the placeholder's all-nullable type is
        // the one the plan above was analyzed against
        Alias(if (r.dataType == p.dataType) r else Cast(r, p.dataType), p.name)(exprId = p.exprId)
      }, rel)
    }.toMap
    val bound = plan.transformUp {
      case l: LocalRelation if real.contains(l.output.head.exprId) => real(l.output.head.exprId)
    }
    // every node is resolved: the template's copies were analyzed, each
    // input is its frame's analyzed plan, and the projections name their
    // ids. The analyzer returns a plan marked analyzed as it is; a plan
    // built on top of this one is analyzed as usual.
    bound.setAnalyzed()
    Dataset.ofRows(frames.head.sparkSession.asInstanceOf[ClassicSession], bound)
  }
}

object PlanTemplate {
  /** Analyze `build` over one empty placeholder per schema, every field
    * nullable. */
  def apply(session: org.apache.spark.sql.SparkSession, schemas: Seq[StructType])(
      build: Seq[DataFrame] => DataFrame): PlanTemplate = {
    val leaves = schemas.map(s => LocalRelation(s.asNullable))
    val plan = build(leaves.map(Dataset.ofRows(session.asInstanceOf[ClassicSession], _)))
      .queryExecution.analyzed
    // a placeholder the analyzer re-instanced (an input read twice) would
    // never be rebound; `build` reads no literal relation of its own
    val ids = leaves.map(_.output.head.exprId).toSet
    require(plan.collectLeaves().forall {
      case l: LocalRelation => ids(l.output.head.exprId)
      case _ => true
    }, "the template's plan lost a placeholder")
    new PlanTemplate(leaves, plan)
  }

  /** A frame's layout: its column names and types, in order, nullability
    * ignored. Frames of one layout share a template. */
  def layout(df: DataFrame): String = layout(df.schema)
  private def layout(s: StructType): String = s.asNullable.catalogString
}
