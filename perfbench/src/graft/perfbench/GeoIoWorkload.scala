package graft.perfbench

import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import org.locationtech.jts.io.{ByteOrderValues, WKBWriter}

import graft.sources.{ArrowIpc, FlatGeobuf, FlatGeobufWriter, GeoParquet, Shapefile, ShapefileWriter}

/** A seeded in-memory table written to each format and read back, in full
  * and through bbox windows of ~0.1% and ~10% of the extent. Every pass
  * writes fresh files, then reads them. Expected answers come from plain
  * Spark filters over the in-memory table. */
final class GeoIoWorkload(spark: SparkSession, seed: Long, scale: Double, dir: String) extends Workload {
  val name = "geo_io"
  override def minPasses = 2

  private val nFeatures = math.max(64, math.round(30000 * scale).toInt)
  private val extent = 1000.0
  private val formats = Seq("geoparquet", "fgb", "arrow", "shp")

  private var table: DataFrame = _
  private var polygons: DataFrame = _
  private var windows: Map[String, (Double, Double, Double, Double)] = Map.empty
  private var expected: Map[String, (Long, BigDecimal)] = Map.empty
  private val stored = scala.collection.mutable.Map.empty[String, Double]

  def prepare(): Unit = {
    Option(table).foreach(_.unpersist(blocking = true))
    val r = new SplittableRandom(seed)
    val gf = new GeometryFactory()
    val w = new WKBWriter(2, ByteOrderValues.LITTLE_ENDIAN)
    def window(share: Double) = {
      val side = extent * math.sqrt(share)
      val x0 = r.nextDouble() * (extent - side); val y0 = r.nextDouble() * (extent - side)
      (x0, y0, x0 + side, y0 + side)
    }
    windows = Map("bbox_small" -> window(0.001), "bbox_large" -> window(0.1))
    val rects = windows.toSeq.sortBy(_._1).map { case (_, (x0, y0, x1, y1)) =>
      gf.toGeometry(new org.locationtech.jts.geom.Envelope(x0, x1, y0, y1))
    }
    // half points, half 16-vertex clockwise polygons (the Shapefile takes
    // those; clockwise is its shell orientation). Per window, a flag for
    // rows whose geometry truly intersects it (JTS): GeoParquet's bbox read
    // refines exactly, the other readers return envelope hits
    val rows = (0 until nFeatures).map { i =>
      val x = r.nextDouble() * extent; val y = r.nextDouble() * extent
      val g =
        if (i % 2 == 0) gf.createPoint(new Coordinate(x, y))
        else {
          val s = 0.5 + r.nextDouble() * 2.0
          gf.createPolygon((0 to 16).map { k =>
            val a = -2 * math.Pi * (k % 16) / 16
            new Coordinate(x + s * math.cos(a), y + s * math.sin(a))
          }.toArray)
        }
      val e = g.getEnvelopeInternal
      Row.fromSeq(Seq(i.toLong, s"f$i", math.round(r.nextDouble() * 1e6) / 100.0, e.getMinX, e.getMinY,
        e.getMaxX, e.getMaxY, w.write(g)) ++ rects.map(g.intersects))
    }
    val schema = StructType(Seq("fid" -> LongType, "name" -> StringType, "value" -> DoubleType,
      "xmin" -> DoubleType, "ymin" -> DoubleType, "xmax" -> DoubleType, "ymax" -> DoubleType,
      "geometry" -> BinaryType).map { case (k, t) => StructField(k, t) } ++
      windows.keys.toSeq.sorted.map(k => StructField(s"exact_$k", BooleanType)))
    val all = spark.createDataFrame(spark.sparkContext.parallelize(rows, Main.cpus), schema).cache()
    all.count()
    table = all
    polygons = all.where(col("fid") % 2 === 1)

    // every expected answer in one aggregation over the in-memory table
    val cases = formats.flatMap { f =>
      val src = if (f == "shp") col("fid") % 2 === 1 else lit(true)
      (s"$f.scan", src, GeoIoWorkload.fullHash) +: windows.toSeq.map { case (k, (x0, y0, x1, y1)) =>
        val hit =
          if (f == "geoparquet") col(s"exact_$k")
          else col("xmax") >= x0 && col("xmin") <= x1 && col("ymax") >= y0 && col("ymin") <= y1
        (s"$f.$k", src && hit, GeoIoWorkload.idHash)
      }
    }
    val row = all.agg(count(lit(1)), cases.flatMap { case (_, c, h) =>
      Seq(count_if(c), sum(when(c, h.cast(DecimalType(38, 0))).otherwise(lit(0).cast(DecimalType(38, 0)))))
    }: _*).head()
    expected = cases.zipWithIndex.map { case ((k, _, _), i) =>
      k -> (row.getLong(1 + 2 * i), BigDecimal(row.getDecimal(2 + 2 * i)))
    }.toMap
  }

  def corrupt(): Unit = expected = expected.map { case (k, (n, h)) =>
    k -> (if (k == "geoparquet.scan") (n + 1, h) else (n, h))
  }

  private def path(ctx: Ctx, f: String) = s"$dir/pass${ctx.pass}/$f"

  private def source(f: String) = (if (f == "shp") polygons else table)
    .select("fid", "name", "value", "geometry")

  private def write(f: String): Op = Op(s"$f.write", ctx => {
    val p = path(ctx, f)
    val df = source(f)
    ctx.span(s"sources.$f.write", "sources")(f match {
      case "geoparquet" => GeoParquet.write(GeoParquet.spatialSort(df), p)
      case "fgb" => FlatGeobufWriter.write(df, p)
      case "arrow" => ArrowIpc.write(df, p)
      case "shp" => ShapefileWriter.write(df, p)
    })
    stored(f) = GeoIoWorkload.bytesUnder(new java.io.File(p)) / 1e6
    val n = if (f == "shp") nFeatures / 2 else nFeatures
    ctx.add("sources.rows_written", n)
    Outcome(n)
  })

  private def read(f: String, kind: String): Op = Op(s"$f.$kind", ctx => {
    val p = path(ctx, f)
    val bbox = windows.get(kind)
    val read0 = GeoIoWorkload.fsBytesRead()
    val decoded0 = GeoIoWorkload.decodedRows()
    val rows0 = ctx.sparkSide.recordsRead
    val df = ctx.span(s"sources.$f.read", "sources")(f match {
      case "geoparquet" => GeoParquet.read(spark, p, bbox = bbox)
      case "fgb" => FlatGeobuf.read(spark, p, bbox)
      case "arrow" => GeoIoWorkload.envelopeFilter(ArrowIpc.read(spark, p), bbox)
      case "shp" => GeoIoWorkload.envelopeFilter(Shapefile.read(spark, p), bbox)
    })
    val h = if (bbox.isEmpty) GeoIoWorkload.fullHash else GeoIoWorkload.idHash
    val row = ctx.collect(df.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0)))))(0)
    val got = (row.getLong(0), if (row.isNullAt(1)) BigDecimal(0) else BigDecimal(row.getDecimal(1)))
    ctx.sparkSide.drain()
    val which = if (bbox.isEmpty) "scan" else "bbox"
    ctx.add("sources.rows_read", got._1)
    ctx.add(s"sources.bytes_read.$which", GeoIoWorkload.fsBytesRead() - read0)
    if (f != "fgb") { // FlatGeobuf keeps no per-row decode counter
      ctx.add("sources.rows_decoded", GeoIoWorkload.decodedRows() - decoded0 +
        ctx.sparkSide.recordsRead - rows0)
      ctx.add("sources.rows_returned", got._1)
    }
    val exp = expected(s"$f.$kind")
    Outcome(if (f == "shp") nFeatures / 2 else nFeatures,
      Workload.check(got == exp, s"$f.$kind read $got, expected $exp"))
  })

  /** Writes first, then reads of what this pass wrote, each group permuted. */
  def ops: Seq[Op] =
    Workload.permute(formats.map(write), seed) ++
      Workload.permute(for (f <- formats; k <- Seq("scan", "bbox_small", "bbox_large")) yield read(f, k), seed + 1)

  override def layerFigures: Map[String, Double] =
    stored.map { case (f, mb) => s"sources.$f.stored_mb" -> mb }.toMap
}

object GeoIoWorkload {
  // readers return graft's canonical encoding, so both sides are compared
  // after the same re-encoding
  private def fullHash = xxhash64(col("fid").cast("long"), call_function("st_asbinary", col("geometry")))
  private def idHash = xxhash64(col("fid").cast("long"))

  /** What a user of a format without bbox pushdown writes: a filter on the
    * geometry's envelope. */
  private def envelopeFilter(df: DataFrame, bbox: Option[(Double, Double, Double, Double)]) =
    bbox.fold(df) { case (x0, y0, x1, y1) =>
      val b = call_function("st_bbox", col("geometry"))
      df.where(b.getField("xmax") >= x0 && b.getField("xmin") <= x1 &&
        b.getField("ymax") >= y0 && b.getField("ymin") <= y1)
    }

  def fsBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesRead).sum

  /** The readers' own decode counters (Arrow IPC and Shapefile geometries). */
  def decodedRows(): Long = ArrowIpc.decodedGeoms.sum() + Shapefile.decodedGeoms.sum()

  /** Data bytes on disk, without the hidden checksum files beside them. */
  def bytesUnder(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
    else if (f.getName.startsWith(".")) 0L
    else f.length()
}
