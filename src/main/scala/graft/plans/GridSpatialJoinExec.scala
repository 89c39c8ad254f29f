package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.internal.SQLConf
import org.locationtech.jts.geom.Envelope
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.index.strtree.STRtree

import graft.core.GeomOps

/** Big×big spatial join: grid-partitioned shuffle, STRtree refinement,
  * reference-point dedup. The scale path when neither side fits under the
  * broadcast threshold — where Spark would otherwise plan an O(n·m)
  * BroadcastNestedLoopJoin for a θ-join on an `ST_*` predicate.
  *
  * Topology (the reference's candidate primitive
  * `intersection_candidates_with_other`,
  * rust/geoarrow-old/src/indexed/array.rs:50-57, distributed):
  *  1. sample both children's envelope sizes (a bounded first-rows-per-
  *     partition job, the same trick Spark's RangePartitioner uses) and pick
  *     a cell size — no hand-tuned parameter;
  *  2. explode each row to the grid cells covering its envelope (left
  *     envelopes expanded by `radius` for dwithin) and shuffle both sides on
  *     the cell key — each 100 TB side moves once, keyed, never crossed;
  *  3. per cell, bulk-load an STRtree of the left rows (JTS
  *     PreparedGeometry), stream the right rows through and refine each
  *     candidate with [[SpatialProbe]]'s test — the one the broadcast
  *     execs use;
  *  4. emit a pair only in the cell containing the min corner of its
  *     envelope intersection (reference-point rule) — exactly-once output
  *     with no global DISTINCT pass.
  *
  * `predicate` is normalized by [[SpatialJoinStrategy]] to take the LEFT
  * geometry as its first argument (GeomOps method name).
  *
  * Skew note: the join is a sort-based single pass — both sides shuffle
  * keyed by (cell, subcell, side) with a partitioner that routes by
  * (cell, subcell) only, so within a partition each cell's LEFT (build)
  * rows sort before its RIGHT (probe) rows. Only the build side of a cell
  * is ever resident (it has to be — it becomes the STRtree); probe rows
  * stream through one at a time. Hot cells — detected from the same
  * bounded sample that picks the cell size — are sub-split into a local
  * k×k finer grid so clustered real-world data (everything in one metro
  * tile) spreads across tasks instead of landing in one; see
  * [[chooseGrid]].
  */
case class GridSpatialJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftGeom: Expression,
    rightGeom: Expression,
    predicate: String,
    radius: Double,
    projection: Option[Seq[Attribute]] = None,
    // residual join conjuncts that cannot raise (see
    // SpatialJoinStrategy.absorbable) evaluated in the probe loop BEFORE the
    // exact geometry predicate (round 21): a cheap row filter like DBSCAN's
    // canonical `a.id < b.id` then skips the expensive JTS refine test for
    // the pairs it rejects, instead of running as a FilterExec above the
    // join after the refine already paid
    extraCondition: Option[Expression] = None) extends BinaryExecNode {

  /** see [[SpatialJoinExec.output]] — narrowed to the consumed attributes */
  override def output: Seq[Attribute] =
    projection.getOrElse(left.output ++ right.output)

  /** Sampled envelopes as [minX, minY, maxX, maxY, maxDim] per geometry
    * (already expanded by `expandBy`). Reads at most `rowsPerPart` rows from
    * at most `maxParts` evenly spaced partitions — cost is bounded
    * regardless of input size. */
  private def sampleEnvelopes(plan: SparkPlan, geom: Expression, expandBy: Double)
      : Array[Array[Double]] = {
    val bound = BindReferences.bindReference(geom, plan.output)
    val rdd = plan.execute()
    val nParts = rdd.getNumPartitions
    val maxParts = 128
    val step = math.max(1, nParts / maxParts)
    val rowsPerPart = 64
    // PartitionPruningRDD: the sample job schedules ONLY the ~128 selected
    // partitions — not one no-op task per input partition
    val pruned = org.apache.spark.rdd.PartitionPruningRDD.create(rdd, idx => idx % step == 0)
    pruned.mapPartitions { it =>
      it.take(rowsPerPart).flatMap { row =>
        val wkb = bound.eval(row).asInstanceOf[Array[Byte]]
        if (wkb == null) Iterator.empty
        else {
          val g = GeomOps.read(wkb)
          if (g.isEmpty) Iterator.empty
          else {
            val e = new Envelope(g.getEnvelopeInternal)
            SpatialProbe.padForRadius(e, predicate, expandBy)
            Iterator.single(Array(
              e.getMinX, e.getMinY, e.getMaxX, e.getMaxY,
              math.max(e.getWidth, e.getHeight)))
          }
        }
      }
    }.collect()
  }

  /** Grid parameters from one bounded sample pass per side:
    *
    *  - cell edge: ~4× the median envelope dimension (each geometry covers
    *    O(1) cells), floored so the grid is at most ~8k cells per axis over
    *    the sampled extent (bounds duplication for outlier-huge geometries
    *    and keeps key cardinality sane);
    *  - hot cells: per-cell sample density at that edge. Real-world
    *    clustered data (every point in one metro tile) otherwise lands one
    *    task with most of the input at scale. A cell holding a share `s` of
    *    either side's sample large enough to dominate a task
    *    (s ≥ max(0.04, 2/numPartitions), with ≥16 sampled hits so noise
    *    can't trigger it) is sub-split into a local k×k finer grid,
    *    k = ceil(√(s·numPartitions)) in [2,16] — splitting BOTH sides'
    *    build memory and probe CPU with no row replication beyond the
    *    normal covering-cells duplication. Uniformly distributed inputs
    *    (g33) never cross the threshold and take the exact prior plan.
    */
  private def chooseGrid(numParts: Int): (Double, Map[(Long, Long), Int]) = {
    val lS = sampleEnvelopes(left, leftGeom, radius)
    val rS = sampleEnvelopes(right, rightGeom, 0.0)
    val dims = (lS ++ rS).map(_(4))
    val extent = new Envelope()
    (lS ++ rS).foreach(a => extent.expandToInclude(new Envelope(a(0), a(2), a(1), a(3))))
    if (dims.isEmpty) return (1.0, Map.empty)
    java.util.Arrays.sort(dims)
    val med = dims(dims.length / 2)
    val eMax = math.max(extent.getWidth, extent.getHeight)
    val base = if (med > 0) med * 4 else if (eMax > 0) eMax / 256 else 1.0
    val cs = {
      val c = math.max(base, if (eMax > 0) eMax / 8192 else 0.0)
      if (c > 0) c else 1.0
    }

    // per-cell density per side (covering cells per sampled envelope, capped
    // so one outlier-huge geometry can't blow up the count pass)
    def cellCounts(s: Array[Array[Double]]): collection.Map[(Long, Long), Int] = {
      val m = scala.collection.mutable.HashMap.empty[(Long, Long), Int]
      s.foreach { a =>
        val x0 = math.floor(a(0) / cs).toLong; val x1 = math.floor(a(2) / cs).toLong
        val y0 = math.floor(a(1) / cs).toLong; val y1 = math.floor(a(3) / cs).toLong
        if ((x1 - x0 + 1) * (y1 - y0 + 1) <= 64)
          for (cx <- x0 to x1; cy <- y0 to y1)
            m.updateWith((cx, cy)) { c => Some(c.getOrElse(0) + 1) }
      }
      m
    }
    val lCounts = cellCounts(lS)
    val rCounts = cellCounts(rS)
    val threshold = math.max(0.04, 2.0 / numParts)
    val hot = (lCounts.keySet ++ rCounts.keySet).iterator.flatMap { cell =>
      val share = math.max(
        if (lS.nonEmpty) lCounts.getOrElse(cell, 0).toDouble / lS.length else 0.0,
        if (rS.nonEmpty) rCounts.getOrElse(cell, 0).toDouble / rS.length else 0.0)
      val hits = math.max(lCounts.getOrElse(cell, 0), rCounts.getOrElse(cell, 0))
      if (share >= threshold && hits >= 16) {
        val k = math.min(16, math.max(2, math.ceil(math.sqrt(share * numParts)).toInt))
        Some(cell -> k)
      } else None
    }.toMap
    (cs, hot)
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val numParts = SQLConf.get.numShufflePartitions
    val (cs, hotCells) = chooseGrid(numParts)
    val lBound = BindReferences.bindReference(leftGeom, left.output)
    val rBound = BindReferences.bindReference(rightGeom, right.output)
    val r = radius

    // key = (cellX, cellY, subX, subY); (0,0) sub for regular cells, local
    // k×k sub-grid inside hot cells — same covering-cells rule one level
    // down. Imperative loops, not a for-comprehension: this is the per-row
    // hot path of the shuffle and midstream bindings/boxed map lookups cost
    // real time at 100k+ rows; the common no-hot-cells case never touches
    // the map at all.
    val noHot = hotCells.isEmpty
    def keyed(plan: SparkPlan, bound: Expression, expandBy: Double)
        : RDD[((Long, Long, Int, Int), InternalRow)] =
      plan.execute().mapPartitions { it =>
        it.flatMap { row =>
          val wkb = bound.eval(row).asInstanceOf[Array[Byte]]
          if (wkb == null) Iterator.empty
          else {
            val g = GeomOps.read(wkb)
            if (g.isEmpty) Iterator.empty
            else {
              val env = new Envelope(g.getEnvelopeInternal)
              SpatialProbe.padForRadius(env, predicate, expandBy)
              val x0 = math.floor(env.getMinX / cs).toLong
              val x1 = math.floor(env.getMaxX / cs).toLong
              val y0 = math.floor(env.getMinY / cs).toLong
              val y1 = math.floor(env.getMaxY / cs).toLong
              val copy = row.copy() // shuffled rows must own their bytes
              val out = new scala.collection.mutable.ArrayBuffer[((Long, Long, Int, Int), InternalRow)](
                ((x1 - x0 + 1) * (y1 - y0 + 1)).toInt)
              var cx = x0
              while (cx <= x1) {
                var cy = y0
                while (cy <= y1) {
                  val k = if (noHot) 1 else hotCells.getOrElse((cx, cy), 1)
                  if (k == 1) out += (((cx, cy, 0, 0), copy))
                  else {
                    val sub = cs / k
                    val sx0 = math.max(0, math.floor((env.getMinX - cx * cs) / sub).toInt)
                    val sx1 = math.min(k - 1, math.floor((env.getMaxX - cx * cs) / sub).toInt)
                    val sy0 = math.max(0, math.floor((env.getMinY - cy * cs) / sub).toInt)
                    val sy1 = math.min(k - 1, math.floor((env.getMaxY - cy * cs) / sub).toInt)
                    var sx = sx0
                    while (sx <= sx1) {
                      var sy = sy0
                      while (sy <= sy1) { out += (((cx, cy, sx, sy), copy)); sy += 1 }
                      sx += 1
                    }
                  }
                  cy += 1
                }
                cx += 1
              }
              out.iterator
            }
          }
        }
      }

    val outAttrs = output
    val joinedAttrs = left.output ++ right.output
    val extraCond = extraCondition
    val refine = SpatialProbe(predicate, radius, buildRight = false).refine

    // (cell, sub, side) sort key; side 0 = build (left), 1 = probe (right)
    val lK = keyed(left, lBound, r).map { case ((cx, cy, sx, sy), row) => ((cx, cy, sx, sy, 0: Byte), row) }
    val rK = keyed(right, rBound, 0.0).map { case ((cx, cy, sx, sy), row) => ((cx, cy, sx, sy, 1: Byte), row) }
    val merged = lK.union(rK)
      .repartitionAndSortWithinPartitions(new GridSpatialJoinExec.CellPartitioner(numParts))

    merged.mapPartitions { it =>
      val joined = new JoinedRow()
      val proj = UnsafeProjection.create(outAttrs, joinedAttrs)
      // residual row predicate (null = none): codegen'd once per task,
      // evaluated on the joined row BEFORE the JTS refine test
      val extraPred = extraCond.map { c =>
        val p = org.apache.spark.sql.catalyst.expressions.Predicate.create(c, joinedAttrs)
        p.initialize(org.apache.spark.TaskContext.getPartitionId())
        p
      }.orNull
      val prepF = new PreparedGeometryFactory()
      // per-(cell,sub) state: build rows accumulate, tree builds lazily at
      // the first probe row, probe rows never buffer
      var curX = 0L
      var curY = 0L
      var curSX = 0
      var curSY = 0
      var haveCell = false
      var build = new scala.collection.mutable.ArrayBuffer[(InternalRow, PreparedGeometry, Envelope)]
      var tree: STRtree = null
      it.flatMap { case ((cx, cy, sx, sy, side), row) =>
        if (!haveCell || cx != curX || cy != curY || sx != curSX || sy != curSY) {
          haveCell = true; curX = cx; curY = cy; curSX = sx; curSY = sy
          if (build.nonEmpty) build = new scala.collection.mutable.ArrayBuffer
          tree = null
        }
        if (side == 0) {
          val g = GeomOps.read(lBound.eval(row).asInstanceOf[Array[Byte]])
          val env = new Envelope(g.getEnvelopeInternal)
          // MUST match keyed()'s routing pad exactly: the reference-point
          // dedup compares this envelope's min corner against cell ids the
          // routing envelope generated
          SpatialProbe.padForRadius(env, predicate, r)
          build += ((row, prepF.create(g), env))
          Iterator.empty
        } else if (build.isEmpty) Iterator.empty
        else {
          if (tree == null) {
            tree = new STRtree()
            build.foreach(t => tree.insert(t._3, t))
            tree.build()
          }
          val rg = GeomOps.read(rBound.eval(row).asInstanceOf[Array[Byte]])
          val renv = rg.getEnvelopeInternal
          val cands = tree.query(renv)
          val k = if (noHot) 1 else hotCells.getOrElse((cx, cy), 1)
          val sub = cs / k
          (0 until cands.size()).iterator.flatMap { i =>
            val (lrow, pg, lenv) =
              cands.get(i).asInstanceOf[(InternalRow, PreparedGeometry, Envelope)]
            // reference point: min corner of the envelope intersection must
            // fall in THIS cell — and, inside a hot cell, in THIS subcell —
            // so each pair is emitted exactly once with no global DISTINCT
            val refX = math.max(lenv.getMinX, renv.getMinX)
            val refY = math.max(lenv.getMinY, renv.getMinY)
            if (math.floor(refX / cs).toLong == cx &&
                math.floor(refY / cs).toLong == cy &&
                (k == 1 ||
                  (math.min(k - 1, math.floor((refX - cx * cs) / sub).toInt) == sx &&
                   math.min(k - 1, math.floor((refY - cy * cs) / sub).toInt) == sy)) &&
                (extraPred == null || extraPred.eval(joined(lrow, row))) &&
                { GridSpatialJoinExec.refineTests.increment(); refine(pg, rg) })
              Iterator.single(proj(joined(lrow, row)))
            else Iterator.empty
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(newLeft: SparkPlan, newRight: SparkPlan): GridSpatialJoinExec =
    copy(left = newLeft, right = newRight)
}

object GridSpatialJoinExec {
  /** Spec probe: number of exact-predicate refine tests run. Local-mode
    * only (tasks share the driver JVM in every spec/bench session) — the
    * uncontended LongAdder add is noise next to a JTS predicate test. */
  private[graft] val refineTests = new java.util.concurrent.atomic.LongAdder

  /** Routes by (cell, subcell) only (ignoring the side byte of the sort
    * key), so both sides of a cell land in the same partition; the key
    * ordering then yields build-before-probe within each cell. Hot-cell
    * subcells hash independently, spreading a skewed cell across tasks. */
  private[plans] final class CellPartitioner(override val numPartitions: Int)
      extends org.apache.spark.Partitioner {
    override def getPartition(key: Any): Int = {
      val k = key.asInstanceOf[(Long, Long, Int, Int, Byte)]
      // allocation-free mix of the four route components (hot shuffle path)
      import scala.util.hashing.MurmurHash3.{mix, finalizeHash}
      val h = finalizeHash(mix(mix(mix(mix(0x9747b28c, k._1.##), k._2.##), k._3), k._4), 4)
      val mod = h % numPartitions
      if (mod < 0) mod + numPartitions else mod
    }
    override def equals(other: Any): Boolean = other match {
      case c: CellPartitioner => c.numPartitions == numPartitions
      case _ => false
    }
    override def hashCode: Int = numPartitions
  }
}
