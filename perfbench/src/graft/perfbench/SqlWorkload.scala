package graft.perfbench

import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `SparkEntry.queries` as users hit graft: many short SQL queries over the
  * star schema, in a seed-permuted order. Every execution is collected (the
  * queries aggregate: at most a few hundred rows each) and checked.
  *
  * The tables are generated at scale factor `sf` from a fixed data seed, so
  * every run sees the same rows and the per-query fingerprints (row count
  * plus an order-insensitive hash) stay pinned in `fingerprints.json`.
  */
final class SqlWorkload(spark: SparkSession, seed: Long, sf: Double, dir: String,
                        private var pinned: Map[String, (Long, BigInt)]) extends Workload {
  val name = "sql_sf001"
  override def rowsFromScans = true
  override def minPasses = 2

  private val byName: Map[String, (String, (SparkSession, String) => DataFrame)] =
    SparkEntry.queries.map { case (n, f) => n.takeWhile(_ != '_') -> (n, f) }

  /** The latest fingerprint of each query, by full query name. */
  val observed = scala.collection.mutable.LinkedHashMap.empty[String, (Long, BigInt)]

  private var prepared = 0
  private var dataDir = ""

  // a fresh directory per call: views registered over an earlier copy keep
  // their file listings, so rewriting in place would strand them
  def prepare(): Unit = {
    prepared += 1
    dataDir = s"$dir/data$prepared"
    SqlData.write(spark, dataDir, sf, SqlData.DataSeed)
  }

  def corrupt(): Unit = pinned = pinned.map { case (k, (n, h)) => k -> (n, h + 1) }

  def ops: Seq[Op] = Workload.permute(SqlWorkload.Queries, seed).map { id =>
    val (full, query) = byName(id)
    Op(full, ctx => {
      val df = ctx.span("entry.query", "entry")(query(ctx.spark, dataDir))
      val fp = SqlWorkload.fingerprint(ctx.collect(df))
      observed(full) = fp
      Outcome(0, pinned.get(full) match {
        case Some(exp) => Workload.check(exp == fp, s"$full fingerprint $fp, pinned $exp")
        case None => Some(s"$full has no pinned fingerprint")
      })
    })
  }
}

object SqlWorkload {
  /** A 7-query slice of the 40 named for this workload, sized so two warm
    * passes fit the per-run budget on 4 cores. DBSCAN-style clustering runs
    * at scale in `spatial_scale` instead. */
  val Queries: Seq[String] = Seq(
    "g03", "g19", "g146", // planner-bound
    "g01", "g15", // kernel-heavy
    "g37", // kNN
    "t08") // training data

  /** Row count and the exact sum of per-row 64-bit hashes of each row's
    * canonical text: independent of row order and partitioning. */
  def fingerprint(rows: Array[Row]): (Long, BigInt) =
    (rows.length.toLong, rows.foldLeft(BigInt(0)) { (acc, r) =>
      val s = canon(r)
      acc + ((MurmurHash3.stringHash(s, 1).toLong << 32) | (MurmurHash3.stringHash(s, 2) & 0xffffffffL))
    })

  private def canon(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}

/** The star schema plus `events`, `documents` and `embeddings`, with the
  * value ranges the queries' closed-form oracles were written against. */
object SqlData {
  val DataSeed = 42L

  private val words = ("join hash row batch scan column customer filter small slow merge order " +
    "vector line table data agg value key stream window a spark part group big sort query " +
    "fast the").split(" ")

  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val r = new SplittableRandom(seed)
    def n(base: Double, floor: Int = 1) = math.max(floor, math.round(base * sf).toInt)
    def money(lo: Double, hi: Double) = math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    // rows are drawn in order on this thread; the writes run concurrently
    val writes = scala.collection.mutable.ArrayBuffer.empty[Future[Unit]]
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit = writes += Future {
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    def st(fs: (String, DataType)*) = StructType(fs.map { case (k, t) => StructField(k, t) })

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType),
      regions.indices.map(i => Row(i, regions(i))))
    save("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val nCust = n(150000)
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    save("customer", st("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(-999.99, 9999.99), segs(r.nextInt(5)))))

    val nSupp = n(10000)
    save("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
      "s_acctbal" -> DoubleType),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), money(-999.99, 9999.99))))

    val nPart = n(200000)
    val adj = Seq("small", "red", "blue", "hot", "old", "large")
    val noun = Seq("anvil", "widget", "bolt", "gear", "gizmo", "plate", "ring", "rod")
    val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    save("part", st("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      (0 until nPart).map(i => Row(i.toLong, s"${adj(r.nextInt(6))} ${noun(r.nextInt(8))}",
        s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(6)), 1 + r.nextInt(50),
        900.0 + (i % 1000) / 10.0)))

    val nOrders = n(1500000)
    val day0 = LocalDate.of(1995, 1, 1)
    val status = Seq("F", "O", "P")
    val prio = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    save("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
      (0 until nOrders).map(i => Row(i.toLong, r.nextInt(nCust).toLong, status(r.nextInt(3)),
        money(1000, 500000), day0.plusDays(r.nextInt(2404)).atStartOfDay(), prio(r.nextInt(5)))))

    val nLines = n(6000000)
    val flags = Seq("A", "N", "R")
    save("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
      "l_linestatus" -> StringType, "l_shipdate" -> TimestampNTZType),
      (0 until nLines).map { _ =>
        val q = 1 + r.nextInt(50)
        Row(r.nextInt(nOrders).toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong,
          1 + r.nextInt(7), q.toDouble, math.round(money(900, 2100) * q * 100) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, flags(r.nextInt(3)),
          if (r.nextBoolean()) "O" else "F", day0.plusDays(1 + r.nextInt(2498)).atStartOfDay())
      })

    val nEvents = n(1000000)
    val users = n(15000)
    val kinds = Seq("click", "error", "purchase", "signup", "view")
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val gapMicros = 30L * 86400L * 1000000L / nEvents
    var tsMicros = 0L
    save("events", st("event_id" -> LongType, "ts" -> TimestampNTZType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
      (0 until nEvents).map { i =>
        tsMicros += 1 + r.nextLong(2 * gapMicros)
        Row(i.toLong, t0.plusNanos(tsMicros * 1000L), r.nextInt(users).toLong, kinds(r.nextInt(5)),
          math.max(0.01, math.round(-math.log(1 - r.nextDouble()) * 5000) / 100.0),
          s"""{"k": ${r.nextInt(100)}}""")
      })

    val nDocs = math.max(500, n(50000))
    val langs = Seq("en", "en", "en", "de", "es", "fr", "zh")
    val texts = new Array[String](nDocs)
    save("documents", st("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
      (0 until nDocs).map { i =>
        // every 20th document near-duplicates its predecessor
        texts(i) =
          if (i % 20 == 19) texts(i - 1) + " dup"
          else Seq.fill(10 + r.nextInt(90))(words(r.nextInt(words.length))).mkString(" ")
        Row(i.toLong, texts(i), langs(r.nextInt(langs.length)), s"src${r.nextInt(20)}",
          texts(i).length.toLong)
      })

    val nVecs = math.max(500, n(20000))
    save("embeddings", st("vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType),
      (0 until nVecs).map { i =>
        val v = Array.fill(64)(gaussian(r))
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
      })
    writes.foreach(Await.result(_, Duration.Inf))
  }

  private def gaussian(r: SplittableRandom): Double = {
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }
}
