package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.locationtech.jts.geom.{Coordinate, Envelope, Geometry}
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.index.strtree.STRtree

import graft.core.GeomOps

/** The one candidate-then-refine core behind [[SpatialJoinExec]],
  * [[SpatialJoinFoldExec]] and [[GridSpatialJoinExec]] — the primitive the
  * reference ships as `intersection_candidates_with_other`
  * (rust/geoarrow-old/src/indexed/array.rs:50-57).
  *
  * `predicate` is normalized by [[SpatialJoinStrategy]] to take the LEFT
  * geometry as its first argument; `radius` > 0 only for the dWithin family
  * (planar units, or meters for the geodesic members). [[refine]] always
  * takes the BUILD geometry (prepared) first, so when the build side is the
  * right input the predicate is transposed — once, here, not per pair.
  */
final case class SpatialProbe(predicate: String, radius: Double, buildRight: Boolean) {

  /** prepared build geometry × probe geometry → match. */
  val refine: (PreparedGeometry, Geometry) => Boolean = {
    val r = radius
    (if (buildRight) SpatialProbe.transpose(predicate) else predicate) match {
      case "intersects" => _ intersects _
      case "contains" => _ contains _
      case "within" => _ within _
      case "covers" => _ covers _
      case "coveredBy" => _ coveredBy _
      case "touches" => _ touches _
      case "overlaps" => _ overlaps _
      case "crosses" => _ crosses _
      case "equalsTopo" => (p, g) => p.getGeometry.equalsTopo(g)
      case "dWithin" => (p, g) => p.getGeometry.isWithinDistance(g, r)
      case n if SpatialProbe.isGeodesicDWithin(n) =>
        val within = SpatialProbe.geodesicTest(n, r)
        (p, g) => within(p.getGeometry, g)
      case other => throw new IllegalStateException(s"unsupported spatial predicate: $other")
    }
  }

  /** Bulk-loads one STRtree over the broadcast build `rows`, keyed by row
    * index, and returns the probe: streamed WKB → indices of the build rows
    * it matches. Null and EMPTY geometries on either side match nothing. */
  def index(rows: Array[InternalRow], geom: Expression): Array[Byte] => Iterator[Int] = {
    val prepared = new Array[PreparedGeometry](rows.length)
    val tree = new STRtree()
    val factory = new PreparedGeometryFactory()
    var i = 0
    while (i < rows.length) {
      val wkb = geom.eval(rows(i)).asInstanceOf[Array[Byte]]
      if (wkb != null) {
        val g = GeomOps.read(wkb)
        if (!g.isEmpty) {
          prepared(i) = factory.create(g)
          tree.insert(g.getEnvelopeInternal, Integer.valueOf(i))
        }
      }
      i += 1
    }
    tree.build()
    wkb =>
      if (wkb == null) Iterator.empty
      else {
        val g = GeomOps.read(wkb)
        if (g.isEmpty) Iterator.empty
        else {
          val env = new Envelope(g.getEnvelopeInternal)
          SpatialProbe.padForRadius(env, predicate, radius)
          val cands = tree.query(env)
          Iterator.range(0, cands.size)
            .map(c => cands.get(c).asInstanceOf[Integer].intValue)
            .filter(b => refine(prepared(b), g))
        }
      }
  }
}

object SpatialProbe {
  /** P(a,b) ⟺ transpose(P)(b,a). */
  val transpose: Map[String, String] = Map(
    "intersects" -> "intersects", "contains" -> "within", "within" -> "contains",
    "covers" -> "coveredBy", "coveredBy" -> "covers", "touches" -> "touches",
    "overlaps" -> "overlaps", "crosses" -> "crosses", "equalsTopo" -> "equalsTopo",
    "dWithin" -> "dWithin",
    // geodesic dWithin family (symmetric): planned from the edges-dispatch
    // rewrite of ST_DWithin over stamped columns — `radius` is METERS
    "dWithinSphere" -> "dWithinSphere", "dWithinGeodesic" -> "dWithinGeodesic",
    "dWithinSpheroid" -> "dWithinSpheroid", "dWithinVincenty" -> "dWithinVincenty")

  /** Geodesy kernel method name (as it appears in the analysis-time
    * rewrite's StaticInvoke) → the planner's predicate name. */
  val geodesicDistanceToPredicate: Map[String, String] = Map(
    "distanceSphere" -> "dWithinSphere", "distanceGeodesic" -> "dWithinGeodesic",
    "distanceSpheroid" -> "dWithinSpheroid", "distanceVincenty" -> "dWithinVincenty")

  def isGeodesicDWithin(name: String): Boolean =
    name != "dWithin" && name.startsWith("dWithin")

  /** Exact geodesic dWithin test — SAME point semantics as the rewritten
    * expression's kernels (first coordinate of each geometry, as
    * `Geodesy.distance*` read their WKB args). */
  def geodesicTest(name: String, meters: Double): (Geometry, Geometry) => Boolean = {
    val dist: (Coordinate, Coordinate) => Double = name match {
      case "dWithinSphere" => (a, b) => graft.core.Geodesy.haversineMeters(a.x, a.y, b.x, b.y)
      case "dWithinGeodesic" => (a, b) => graft.core.KarneyGeodesic.distance(a.y, a.x, b.y, b.x)
      case "dWithinSpheroid" => (a, b) => graft.core.Geodesy.andoyerMeters(a.x, a.y, b.x, b.y)
      case "dWithinVincenty" => (a, b) => graft.core.Geodesy.vincentyMeters(a.x, a.y, b.x, b.y)
      case other => throw new IllegalStateException(s"not a geodesic dWithin: $other")
    }
    (a, b) => {
      val ca = a.getCoordinate
      val cb = b.getCoordinate
      ca != null && cb != null && dist(ca, cb) <= meters
    }
  }

  /** Expand a lon/lat envelope so it covers every point within `meters`
    * of it, CONSERVATIVELY across all supported earth models: latitude
    * degrees use the global minimum meters-per-degree (110,574 at the
    * WGS84 equator, rounded DOWN to 110,000 for slack), longitude scales
    * by 1/cos of the most extreme padded latitude. Pole-adjacent
    * envelopes widen to the full longitude span (meridians converge —
    * no bounded lon pad is correct there). Over-padding only costs extra
    * CANDIDATES; the exact geodesic test decides membership. */
  def padGeodesic(env: Envelope, meters: Double): Unit = {
    val latPad = meters / 110000.0
    val y0 = math.max(env.getMinY - latPad, -90.0)
    val y1 = math.min(env.getMaxY + latPad, 90.0)
    val phiMax = math.max(math.abs(y0), math.abs(y1))
    // full longitude span when (a) pole-adjacent — meridians converge, no
    // bounded lon pad is correct — or (b) the padded range would cross the
    // ±180 antimeridian: envelopes don't wrap, so a neighborhood that
    // straddles the seam must widen to the full span or pairs across it
    // silently vanish from join output. Over-padding costs only
    // candidates; note the grid path replicates a full-span row into every
    // covering lon cell (bounded by the ≤8k-cells-per-axis grid floor) —
    // pole-adjacent/seam-straddling geodesic grid joins pay that
    // replication, the broadcast path does not.
    lazy val lonPad = meters / (110000.0 * math.cos(math.toRadians(phiMax)))
    if (phiMax >= 89.0 ||
        env.getMinX - lonPad < -180.0 || env.getMaxX + lonPad > 180.0) {
      env.expandToInclude(-180.0, y0)
      env.expandToInclude(180.0, y1)
    } else {
      env.expandBy(lonPad, latPad)
    }
  }

  /** Envelope expansion for a dWithin radius: planar units for the planar
    * predicate, geodesic meters→degrees for the geodesic family. */
  def padForRadius(env: Envelope, predicate: String, radius: Double): Unit =
    if (radius > 0) {
      if (isGeodesicDWithin(predicate)) padGeodesic(env, radius)
      else env.expandBy(radius)
    }
}
