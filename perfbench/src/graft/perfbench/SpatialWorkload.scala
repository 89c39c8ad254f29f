package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import org.locationtech.jts.io.{ByteOrderValues, WKBWriter}

import graft.operators.{ConnectedComponents, Dbscan, SpatialJoin}

/** Seeded synthetic inputs, far larger than the test fixtures, through the
  * user-facing SQL join shapes and the iterative operators' entry points.
  * Every expected answer is computed on the driver without graft: a grid
  * recount for the joins, a brute-force k-th distance for a seeded sample of
  * kNN rows, and closed-form labels for clustering and components. */
final class SpatialWorkload(spark: SparkSession, seed: Long, scale: Double) extends Workload {
  val name = "spatial_scale"

  private def n(full: Int, floor: Int = 8) = math.max(floor, math.round(full * scale).toInt)

  // sizes at scale 1
  private val nPoints = n(60000)
  private val grid = math.max(4, math.round(32 * math.sqrt(scale)).toInt) // zones per side
  private val nDwithin = n(15000)
  private val knnLeft = n(500)
  private val knnRight = n(40000) // 4 copies of each position
  private val knnK = 3
  private val blobs = n(100)
  private val noise = n(500)
  private val hubLeaves = n(5000)
  private val stars = n(600)

  private val extent = 1000.0
  private val cell = extent / grid
  private val radius = 2.0 // ST_DWithin distance
  private val eps = 1.0 // DBSCAN epsilon
  private val minPts = 4

  private val gf = new GeometryFactory()
  private def wkb(g: org.locationtech.jts.geom.Geometry): Array[Byte] = new WKBWriter(2, ByteOrderValues.LITTLE_ENDIAN).write(g)
  private def point(x: Double, y: Double) = gf.createPoint(new Coordinate(x, y))

  private var views: Map[String, DataFrame] = Map.empty
  private var expect: Expected = _

  private final case class Expected(zoneCounts: Map[Long, Long], zonePairs: (Long, BigDecimal),
                                    dwithin: (Long, BigDecimal), knnKth: Map[Long, Double],
                                    clusters: Map[Long, Option[Long]], components: Map[Long, Long])

  def prepare(): Unit = {
    views.values.foreach(_.unpersist(blocking = true))
    val r = new SplittableRandom(seed)
    // the cache-filling jobs run concurrently
    def cached(name: String, schema: StructType, rows: Seq[Row]): Future[DataFrame] = {
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, Main.cpus), schema).cache()
      df.createOrReplaceTempView(name)
      Future { df.count(); df }
    }
    def ptSchema(id: String) = StructType(Seq(StructField(id, LongType), StructField("geom", BinaryType)))

    // zones: one star-shaped 32-gon inside each grid cell, so a point can
    // only fall in the zone of its own cell
    val zones = (0 until grid * grid).map { z =>
      val cx = (z % grid + 0.5) * cell; val cy = (z / grid + 0.5) * cell
      val ring = (0 to 32).map { i =>
        val k = i % 32
        val a = 2 * math.Pi * k / 32
        val rr = cell * (0.30 + 0.18 * new SplittableRandom(seed * 7919 + z * 64 + k).nextDouble())
        new Coordinate(cx + rr * math.cos(a), cy + rr * math.sin(a))
      }
      gf.createPolygon(ring.toArray)
    }
    // points: half uniform, half in seeded hotspots
    val hot = Array.fill(16)((r.nextDouble() * extent, r.nextDouble() * extent))
    def skewed(): (Double, Double) =
      if (r.nextBoolean()) (r.nextDouble() * extent, r.nextDouble() * extent)
      else {
        val (hx, hy) = hot(r.nextInt(hot.length))
        (clamp(hx + gaussian(r) * 15), clamp(hy + gaussian(r) * 15))
      }
    val pts = Array.fill(nPoints)(skewed())
    val prepared = zones.map(PreparedGeometryFactory.prepare)
    val zoneOf = pts.map { case (x, y) =>
      val z = math.min(grid - 1, (y / cell).toInt) * grid + math.min(grid - 1, (x / cell).toInt)
      if (prepared(z).contains(point(x, y))) z.toLong else -1L
    }
    val zoneCounts = zoneOf.filter(_ >= 0).groupBy(identity).map { case (z, a) => z -> a.length.toLong }
    val zonePairs = pairSum(zoneOf.indices.filter(zoneOf(_) >= 0).map(i => (i.toLong, zoneOf(i))))

    // ST_DWithin: two skewed point sets, pairs counted on a radius grid
    val a = Array.fill(nDwithin)(skewed())
    val b = Array.fill(nDwithin)(skewed())
    val dwithin = pairSum(radiusPairs(a, b, radius))

    // kNN: every right position appears 4 times
    val distinct = Array.fill(knnRight / 4)((r.nextDouble() * extent, r.nextDouble() * extent))
    val right = Array.tabulate(distinct.length * 4)(i => distinct(i % distinct.length))
    val left = Array.fill(knnLeft)(skewed())
    val sample = Workload.permute(left.indices, seed).take(48)
    val knnKth = sample.map { i =>
      val (x, y) = left(i)
      val d = right.map { case (u, v) => math.sqrt((u - x) * (u - x) + (v - y) * (v - y)) }
      java.util.Arrays.sort(d)
      i.toLong -> d(knnK - 1)
    }.toMap

    // DBSCAN: 5×5 lattices at 0.45 ε spacing (every point a core point)
    // far apart, plus isolated noise points; ids shuffled
    val blobPts = mutable.ArrayBuffer.empty[(Double, Double)]
    val side = math.ceil(math.sqrt(blobs + noise)).toInt
    val slots = Workload.permute(0 until side * side, seed + 1)
    val blobOf = mutable.ArrayBuffer.empty[Int]
    slots.take(blobs).zipWithIndex.foreach { case (s, bi) =>
      val ox = (s % side) * 10 * eps; val oy = (s / side) * 10 * eps
      for (i <- 0 until 5; j <- 0 until 5) {
        blobPts += ((ox + i * 0.45 * eps + jitter(r), oy + j * 0.45 * eps + jitter(r)))
        blobOf += bi
      }
    }
    slots.slice(blobs, blobs + noise).foreach { s =>
      blobPts += (((s % side) * 10 * eps, (s / side) * 10 * eps)); blobOf += -1
    }
    val dbIds = Workload.permute(blobPts.indices.map(_.toLong), seed + 2).toArray
    val minId = mutable.Map.empty[Int, Long]
    blobOf.indices.foreach { i =>
      val bi = blobOf(i)
      if (bi >= 0) minId(bi) = math.min(minId.getOrElse(bi, Long.MaxValue), dbIds(i))
    }
    val clusters = blobOf.indices.map { i =>
      dbIds(i) -> (if (blobOf(i) >= 0) Some(minId(blobOf(i))) else None)
    }.toMap

    // components: a hub star plus many small stars; ids shuffled
    val groups = mutable.ArrayBuffer.empty[Int]
    groups += hubLeaves + 1
    (0 until stars).foreach(_ => groups += 2 + r.nextInt(11))
    val nVertices = groups.sum
    val vid = Workload.permute((0 until nVertices).map(_.toLong), seed + 3).toArray
    val edges = mutable.ArrayBuffer.empty[(Long, Long)]
    val comp = mutable.Map.empty[Long, Long]
    var base = 0
    groups.zipWithIndex.foreach { case (size, g) =>
      (1 until size).foreach { i =>
        edges += ((vid(base), vid(base + i)))
      }
      val m = (base until base + size).map(vid(_)).min
      (base until base + size).foreach(i => comp(vid(i)) = m)
      base += size
    }

    views = Map(
      "zones" -> cached("zones", StructType(Seq(StructField("zid", LongType), StructField("geom", BinaryType))),
        zones.indices.map(z => Row(z.toLong, wkb(zones(z))))),
      "pts" -> cached("pts", ptSchema("pid"), pts.indices.map(i => Row(i.toLong, wkb(point(pts(i)._1, pts(i)._2))))),
      "dw_a" -> cached("dw_a", ptSchema("aid"), a.indices.map(i => Row(i.toLong, wkb(point(a(i)._1, a(i)._2))))),
      "dw_b" -> cached("dw_b", ptSchema("bid"), b.indices.map(i => Row(i.toLong, wkb(point(b(i)._1, b(i)._2))))),
      "knn_l" -> cached("knn_l", ptSchema("lid"), left.indices.map(i => Row(i.toLong, wkb(point(left(i)._1, left(i)._2))))),
      "knn_r" -> cached("knn_r", ptSchema("rid"), right.indices.map(i => Row(i.toLong, wkb(point(right(i)._1, right(i)._2))))),
      "db" -> cached("db", ptSchema("id"), blobPts.indices.map(i => Row(dbIds(i), wkb(point(blobPts(i)._1, blobPts(i)._2))))),
      "edges" -> cached("edges", StructType(Seq(StructField("src", LongType), StructField("dst", LongType))),
        edges.toSeq.map { case (s, d) => Row(s, d) })).map { case (k, f) => k -> Await.result(f, Duration.Inf) }
    expect = Expected(zoneCounts, zonePairs, dwithin, knnKth, clusters, comp.toMap)
  }

  def corrupt(): Unit = expect = expect.copy(zonePairs = (expect.zonePairs._1 + 1, expect.zonePairs._2))

  def ops: Seq[Op] = Workload.permute(Seq(
    Op("zone_join", ctx => {
      val rows = ctx.collect(ctx.span("entry.sql", "entry")(spark.sql(
        """SELECT COUNT(*), SUM(CAST(p.pid AS DECIMAL(38,0)) * 1000003 + z.zid)
          |FROM pts p JOIN zones z ON ST_Contains(z.geom, p.geom)""".stripMargin)))
      val got = (rows(0).getLong(0), decimal(rows(0), 1))
      ctx.add("plans.exec.pairs_out", got._1)
      Outcome(nPoints, Workload.check(got == expect.zonePairs, s"zone_join $got, expected ${expect.zonePairs}"))
    }),
    Op("zone_count", ctx => {
      val rows = ctx.collect(ctx.span("entry.sql", "entry")(spark.sql(
        "SELECT z.zid, COUNT(*) FROM pts p JOIN zones z ON ST_Contains(z.geom, p.geom) GROUP BY z.zid")))
      val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      Outcome(nPoints, Workload.check(got == expect.zoneCounts,
        s"zone_count differs on ${(got.keySet ++ expect.zoneCounts.keySet).count(k => got.get(k) != expect.zoneCounts.get(k))} zones"))
    }),
    Op("dwithin_join", ctx => {
      // both sides fit a broadcast at this size; the op measures the
      // partitioned big×big grid join, so broadcasting is switched off
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.get(key)
      spark.conf.set(key, "-1")
      val rows =
        try ctx.collect(ctx.span("entry.sql", "entry")(spark.sql(
          s"""SELECT COUNT(*), SUM(CAST(a.aid AS DECIMAL(38,0)) * 1000003 + b.bid)
             |FROM dw_a a JOIN dw_b b ON ST_DWithin(a.geom, b.geom, $radius)""".stripMargin)))
        finally spark.conf.set(key, prev)
      val got = (rows(0).getLong(0), decimal(rows(0), 1))
      ctx.add("plans.exec.pairs_out", got._1)
      Outcome(2L * nDwithin, Workload.check(got == expect.dwithin, s"dwithin_join $got, expected ${expect.dwithin}"))
    }),
    Op("knn", ctx => {
      val out = ctx.span("operators.knn", "operators")(
        SpatialJoin.knn(views("knn_l"), views("knn_r").withColumnRenamed("geom", "rgeom"), "geom", "rgeom",
          knnK, "lid", "rid"))
      val rows = ctx.collect(out.groupBy("lid").agg(count(lit(1)), max("knn_dist")))
      val got = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val bad = (0 until knnLeft).count(i => !got.get(i.toLong).exists(_._1 == knnK)) +
        expect.knnKth.count { case (i, d) => !got.get(i).exists(g => math.abs(g._2 - d) <= 1e-9 * math.max(1, d)) }
      Outcome(knnLeft.toLong + knnRight, Workload.check(bad == 0, s"knn: $bad left rows wrong"))
    }),
    Op("dbscan", ctx => {
      val out = ctx.span("operators.dbscan", "operators")(
        Dbscan.cluster(views("db"), "id", "geom", eps, minPts))
      val got = ctx.collect(out.select("id", "cluster_id"))
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      val bad = expect.clusters.count { case (i, c) => !got.get(i).contains(c) } + (got.size - expect.clusters.size).abs
      Outcome(expect.clusters.size, Workload.check(bad == 0, s"dbscan: $bad points mislabeled"))
    }),
    Op("components", ctx => {
      val out = ctx.span("operators.components", "operators")(
        ConnectedComponents.run(views("edges"), "src", "dst"))
      val got = ctx.collect(out.select("id", "component")).map(r => r.getLong(0) -> r.getLong(1)).toMap
      val bad = expect.components.count { case (v, c) => !got.get(v).contains(c) } + (got.size - expect.components.size).abs
      Outcome(expect.components.size, Workload.check(bad == 0, s"components: $bad vertices mislabeled"))
    })), seed)

  private def decimal(r: Row, i: Int): BigDecimal =
    if (r.isNullAt(i)) BigDecimal(0) else BigDecimal(r.getDecimal(i))

  private def pairSum(pairs: Iterable[(Long, Long)]): (Long, BigDecimal) =
    (pairs.size.toLong, pairs.foldLeft(BigDecimal(0)) { case (s, (x, y)) => s + BigDecimal(x) * 1000003 + y })

  /** Pairs within `d` (Euclidean, inclusive) by bucketing `b` on a d-grid. */
  private def radiusPairs(a: Array[(Double, Double)], b: Array[(Double, Double)], d: Double): Seq[(Long, Long)] = {
    val buckets = b.indices.groupBy { j => ((b(j)._1 / d).floor.toLong, (b(j)._2 / d).floor.toLong) }
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    a.indices.foreach { i =>
      val (x, y) = a(i)
      val cx = (x / d).floor.toLong; val cy = (y / d).floor.toLong
      for (dx <- -1L to 1L; dy <- -1L to 1L; j <- buckets.getOrElse((cx + dx, cy + dy), Nil)) {
        val ex = b(j)._1 - x; val ey = b(j)._2 - y
        if (math.sqrt(ex * ex + ey * ey) <= d) out += ((i.toLong, j.toLong))
      }
    }
    out.toSeq
  }

  private def clamp(v: Double) = math.max(0.0, math.min(extent - 1e-9, v))
  private def jitter(r: SplittableRandom) = (r.nextDouble() - 0.5) * 0.02 * eps
  private def gaussian(r: SplittableRandom): Double = {
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }
}
