package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** Physical plan for [[SpatialCountJoin]]: broadcast-STRtree spatial join
  * with the match count folded into the probe loop.
  *
  * Per partition: one STRtree over the broadcast build side, a `long[]`
  * accumulator indexed by build row, the whole probe side streamed through
  * without ever constructing a matched row — then one `(build row, count)`
  * output row per build row that matched. Output size is bounded by
  * `partitions × |build|` regardless of match fan-out; the parent
  * aggregate SUMs the partial counts.
  *
  * `predicate` is normalized (LEFT geometry first) exactly as in
  * [[SpatialJoinExec]], and the index build and refine are the same
  * [[SpatialProbe]]'s.
  */
case class SpatialJoinFoldExec(
    left: SparkPlan,
    right: SparkPlan,
    leftGeom: Expression,
    rightGeom: Expression,
    predicate: String,
    radius: Double,
    buildRight: Boolean,
    groupOutput: Seq[Attribute],
    cntAttr: Attribute) extends BinaryExecNode {

  override def output: Seq[Attribute] = groupOutput :+ cntAttr

  // cntAttr is created by this node, not read from a child
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(cntAttr)

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
    val outAttrs = output
    val buildAttrs = buildPlan.output

    streamPlan.execute().mapPartitions { iter =>
      val rows = broadcastRows.value
      val matches = probe.index(rows, buildGeomBound)
      val counts = new Array[Long](rows.length)
      iter.foreach { srow =>
        matches(streamGeomBound.eval(srow).asInstanceOf[Array[Byte]]).foreach(b => counts(b) += 1)
      }
      val joined = new JoinedRow()
      val cntRow = new GenericInternalRow(1)
      val proj = UnsafeProjection.create(outAttrs, buildAttrs :+ cntAttr)
      (0 until rows.length).iterator.flatMap { idx =>
        if (counts(idx) == 0) Iterator.empty
        else {
          cntRow.update(0, counts(idx))
          Iterator.single(proj(joined(rows(idx), cntRow)))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SpatialJoinFoldExec =
    copy(left = newLeft, right = newRight)
}
