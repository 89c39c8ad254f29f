package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}

import graft.core.{GeomOps, KarneyGeodesic, NativeMeasures, TextOps, VecOps}

/** Per-row costs measured beside the workloads in traced runs: the `core`
  * kernels as direct single-thread calls on seeded corpora, and two `ST_*`
  * wrappers through SQL on a cached table. */
object Layers {
  private val gf = new GeometryFactory()

  private def polygon(r: SplittableRandom, vertices: Int) = {
    val x = r.nextDouble() * 100; val y = r.nextDouble() * 100
    gf.createPolygon((0 to vertices).map { k =>
      val a = 2 * math.Pi * (k % vertices) / vertices
      val s = 1.0 + 0.3 * math.sin(5 * a)
      new Coordinate(x + s * math.cos(a), y + s * math.sin(a))
    }.toArray)
  }

  /** Nanoseconds per call of `f(i)`: the median of five ~40 ms batches after
    * a warm-up batch. */
  private def nsPerCall(f: Int => Any): Double = {
    var sink = 0
    def batch(n: Int): Long = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { if (f(i) == null) sink += 1; i += 1 }
      System.nanoTime() - t0
    }
    var n = 16
    while (batch(n) < 40000000L && n < (1 << 24)) n *= 2
    val times = (0 until 5).map(_ => batch(n).toDouble / n).sorted
    if (sink < 0) println(sink)
    times(2)
  }

  def core(seed: Long, tracer: Tracer): Map[String, Double] = {
    val r = new SplittableRandom(seed)
    val polys = Array.fill(256)(polygon(r, 64))
    val polyWkb = polys.map(GeomOps.write)
    val pointWkb = Array.fill(1024)(GeomOps.write(gf.createPoint(
      new Coordinate(r.nextDouble() * 100, r.nextDouble() * 100))))
    val native = polys.map { p =>
      val ring = p.getExteriorRing.getCoordinates.map(c => InternalRow(c.x, c.y): Any)
      new GenericArrayData(Array[Any](new GenericArrayData(ring)))
    }
    val lat = Array.fill(1024)(r.nextDouble() * 170 - 85)
    val lon = Array.fill(1024)(r.nextDouble() * 360 - 180)
    val words = "join hash row batch scan column filter small merge order vector line".split(" ")
    val docs = Array.fill(64)(UTF8String.fromString(
      Seq.fill(40 + r.nextInt(40))(words(r.nextInt(words.length))).mkString(" ")))
    val vecs = Array.fill(512)(new GenericArrayData(Array.fill(64)(r.nextDouble() - 0.5)))
    def m(name: String)(f: Int => Any) = s"core.$name" -> tracer.span(s"core.$name", "core")(nsPerCall(f))
    Map(
      m("wkb_read_ns")(i => GeomOps.read(polyWkb(i & 255))),
      m("wkb_write_ns")(i => GeomOps.write(polys(i & 255))),
      m("intersects_ns")(i => GeomOps.intersects(polyWkb(i & 255), polyWkb((i * 7 + 1) & 255))),
      m("distance_ns")(i => GeomOps.distance(pointWkb(i & 1023), polyWkb(i & 255))),
      m("area_ns")(i => GeomOps.area(polyWkb(i & 255))),
      m("buffer_ns")(i => GeomOps.buffer(polyWkb(i & 255), 0.5)),
      m("native_area_ns")(i => NativeMeasures.polygonArea(native(i & 255), 2)),
      m("karney_inverse_ns")(i => KarneyGeodesic.inverse(lat(i & 1023), lon(i & 1023),
        lat((i + 1) & 1023), lon((i + 1) & 1023))),
      m("minhash_ns")(i => TextOps.minhash(docs(i & 63), 5, 64)),
      m("cosine_ns")(i => VecOps.cosine(vecs(i & 511), vecs((i + 1) & 511))))
  }

  /** Task CPU nanoseconds per row for `ST_Area` and `ST_Intersects` over a
    * cached table of 64-vertex polygon pairs (median of three runs). */
  def functions(spark: SparkSession, side: SparkSide, seed: Long, rows: Int,
                tracer: Tracer): Map[String, Double] = {
    val r = new SplittableRandom(seed)
    val data = (0 until rows).map { _ =>
      val a = polygon(r, 64)
      Row(GeomOps.write(a), GeomOps.write(polygon(r, 64)))
    }
    val schema = StructType(Seq(StructField("a", BinaryType), StructField("b", BinaryType)))
    val t = spark.createDataFrame(spark.sparkContext.parallelize(data, Main.cpus), schema).cache()
    t.count()
    t.createOrReplaceTempView("perfbench_rows")
    def perRow(sql: String): Double = {
      val samples = (0 until 3).map { _ =>
        side.drain()
        val t0 = side.taskCpuNanos
        spark.sql(sql).collect()
        side.drain()
        (side.taskCpuNanos - t0).toDouble / rows
      }.sorted
      samples(1)
    }
    try Map(
      "functions.st_area_row_ns" -> tracer.span("functions.st_area", "functions")(
        perRow("SELECT SUM(ST_Area(a)) FROM perfbench_rows")),
      "functions.st_intersects_row_ns" -> tracer.span("functions.st_intersects", "functions")(
        perRow("SELECT COUNT_IF(ST_Intersects(a, b)) FROM perfbench_rows")))
    finally t.unpersist(blocking = true)
  }
}
