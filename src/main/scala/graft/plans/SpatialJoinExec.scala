package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** Broadcast-STRtree spatial join as a first-class physical operator.
  *
  * The reference ships the candidate-generation primitive
  * (`intersection_candidates_with_other`,
  * rust/geoarrow-old/src/indexed/array.rs:50-57) and leaves composition to
  * the host engine; here the host engine *is* the composition: the build
  * side arrives through a real `BroadcastExchange` (reused across stages,
  * AQE-visible), each task bulk-loads one STRtree over it, streams the probe
  * side through, and emits `UnsafeRow`s directly — no Row encoder, and
  * Catalyst column pruning / filter pushdown apply above and below like any
  * built-in join. Versus the `BroadcastNestedLoopJoin` Spark would plan for
  * a θ-join on an `ST_*` predicate this is O(n log m) instead of O(n·m).
  *
  * `predicate` is normalized by [[SpatialJoinStrategy]] to take the LEFT
  * geometry as its first argument (GeomOps method name). `radius` > 0 only
  * for dwithin — it expands the probe envelope. Index build and refine are
  * [[SpatialProbe]]'s, shared with [[SpatialJoinFoldExec]].
  */
case class SpatialJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftGeom: Expression,
    rightGeom: Expression,
    predicate: String,
    radius: Double,
    buildRight: Boolean,
    projection: Option[Seq[Attribute]] = None) extends BinaryExecNode {

  /** `projection` narrows the emitted row to the attributes the parent
    * actually consumes (set by [[SpatialJoinStrategy]] from the enclosing
    * Project): geometry blobs needed only by the join predicate are never
    * written into output rows — at high match fan-out that's the dominant
    * cost. */
  override def output: Seq[Attribute] =
    projection.getOrElse(left.output ++ right.output)

  /** Stream-side partitioning survives the join, but only while its
    * expressions are still present in the (possibly narrowed) output —
    * otherwise advertising it would break the SparkPlan invariant that
    * partitioning expressions come from `output`. */
  override def outputPartitioning: Partitioning = {
    val p = (if (buildRight) left else right).outputPartitioning
    p match {
      case e: Expression if !e.references.subsetOf(outputSet) =>
        org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning(p.numPartitions)
      case _ => p
    }
  }

  override def requiredChildDistribution: Seq[Distribution] =
    if (buildRight) Seq(UnspecifiedDistribution, BroadcastDistribution(IdentityBroadcastMode))
    else Seq(BroadcastDistribution(IdentityBroadcastMode), UnspecifiedDistribution)

  override protected def doExecute(): RDD[InternalRow] = {
    val (buildPlan, streamPlan) = if (buildRight) (right, left) else (left, right)
    val (buildGeomE, streamGeomE) = if (buildRight) (rightGeom, leftGeom) else (leftGeom, rightGeom)
    val broadcastRows = buildPlan.executeBroadcast[Array[InternalRow]]()
    val buildGeomBound = BindReferences.bindReference(buildGeomE, buildPlan.output)
    val streamGeomBound = BindReferences.bindReference(streamGeomE, streamPlan.output)
    val probe = SpatialProbe(predicate, radius, buildRight)
    val bRight = buildRight
    val outAttrs = output
    val joinedAttrs = left.output ++ right.output

    streamPlan.execute().mapPartitions { iter =>
      val rows = broadcastRows.value
      val matches = probe.index(rows, buildGeomBound)
      val joined = new JoinedRow()
      val proj = UnsafeProjection.create(outAttrs, joinedAttrs)
      // lazy: each next() projects into the reused UnsafeRow buffer — the
      // doExecute contract allows row reuse, so no per-row copy
      iter.flatMap { srow =>
        matches(streamGeomBound.eval(srow).asInstanceOf[Array[Byte]]).map { b =>
          if (bRight) joined(srow, rows(b)) else joined(rows(b), srow)
          proj(joined)
        }
      }
    }
  }

  override protected def withNewChildrenInternal(newLeft: SparkPlan, newRight: SparkPlan): SpatialJoinExec =
    copy(left = newLeft, right = newRight)
}
