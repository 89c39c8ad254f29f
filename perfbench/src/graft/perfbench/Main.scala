package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.operators.{ConnectedComponents, SpatialJoin}
import graft.plans.GridSpatialJoinExec
import graft.sources.GeoParquet

/** The benchmark harness: one seeded closed-loop workload, one client, one
  * process. Prints one `PERFBENCH {json}` line with the end-to-end metrics,
  * and with `--trace 1` the per-layer metrics from spans around the
  * harness's calls into each module.
  *
  * Args: `--workload sql_sf001|spatial_scale|geo_io --seed N --seconds S
  * --trace 0|1 --workdir DIR [--smoke 1] [--fingerprints FILE] [--pin FILE]`
  */
object Main {
  val cpus: Int = Runtime.getRuntime.availableProcessors()

  /** Every end-to-end metric and its unit. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "cpu_s" -> "s",
    "rows_per_s" -> "rows/s", "shuffle_mb" -> "MB", "heap_peak_mb" -> "MB")

  /** Every per-layer metric and its unit; a layer a workload never enters
    * reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "plans.analyze_ms" -> "ms", "plans.optimize_ms" -> "ms", "plans.physical_ms" -> "ms",
    "plans.catalyst_share" -> "ratio", "plans.graft_nodes" -> "count", "plans.exchanges" -> "count",
    "plans.exec.refine_tests" -> "count", "plans.exec.pairs_out" -> "count",
    "plans.exec.refine_yield" -> "ratio", "plans.exec.zone_join_s" -> "s",
    "plans.exec.dwithin_join_s" -> "s",
    "operators.jobs" -> "count", "operators.stages" -> "count", "operators.tasks" -> "count",
    "operators.driver_gap_s" -> "s", "operators.knn_s" -> "s", "operators.dbscan_s" -> "s",
    "operators.components_s" -> "s", "operators.grid_fallbacks" -> "count",
    "operators.cell_prefilters" -> "count", "operators.star_switches" -> "count",
    "core.wkb_read_ns" -> "ns", "core.wkb_write_ns" -> "ns", "core.intersects_ns" -> "ns",
    "core.distance_ns" -> "ns", "core.area_ns" -> "ns", "core.buffer_ns" -> "ns",
    "core.native_area_ns" -> "ns", "core.karney_inverse_ns" -> "ns", "core.minhash_ns" -> "ns",
    "core.cosine_ns" -> "ns",
    "functions.st_area_row_ns" -> "ns", "functions.st_intersects_row_ns" -> "ns") ++
    Seq("geoparquet", "fgb", "arrow", "shp").flatMap(f => Seq(
      s"sources.$f.write_s" -> "s", s"sources.$f.scan_s" -> "s", s"sources.$f.bbox_s" -> "s",
      s"sources.$f.stored_mb" -> "MB")) ++ Seq(
    "sources.read_rows_per_s" -> "rows/s", "sources.write_rows_per_s" -> "rows/s",
    "sources.stored_mb" -> "MB", "sources.bytes_read_mb" -> "MB", "sources.bbox_bytes_ratio" -> "ratio",
    "sources.rows_decoded" -> "count", "sources.decode_yield" -> "ratio",
    "sources.footer_opens" -> "count",
    "spark.task_s" -> "s", "spark.gc_s" -> "s", "spark.jit_s" -> "s", "spark.spill_mb" -> "MB",
    "spark.parallelism" -> "ratio") ++
    Seq("harness", "entry", "plans", "operators", "sources", "spark").map(l => s"self.${l}_s" -> "s") ++
    Seq("trace.overhead_s" -> "s", "trace.spans" -> "count")

  private final case class Pass(traced: Boolean, wall: Double, cpu: Double, shuffle: Double,
                                rows: Long, heap: Double, latencies: Seq[(String, Double)],
                                layer: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val workdir = opt("workdir")
    val smoke = opt.getOrElse("smoke", "0") == "1"

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$workdir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workdir/warehouse")
      // the status store keeps finished jobs and query plans (with the
      // local rows behind them) even with the UI off; keeping only the last
      // makes retained heap independent of the history
      .config("spark.ui.retainedJobs", "1")
      .config("spark.ui.retainedStages", "1")
      .config("spark.ui.retainedTasks", "1")
      .config("spark.sql.ui.retainedExecutions", "1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GeoFunctions.register(spark)
    val side = new SparkSide(spark.sparkContext, traced)
    spark.sparkContext.addSparkListener(side)
    // JVM start to a usable session
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    val pinned: Map[String, (Long, BigInt)] = opt.get("fingerprints").map(Fingerprints.read)
      .map(_.getOrElse(if (smoke) "sf0.001" else "sf0.01", Map.empty)).getOrElse(Map.empty)
    val workload: Workload = workloadName match {
      case "sql_sf001" =>
        new SqlWorkload(spark, seed, if (smoke) 0.001 else 0.01, s"$workdir/sql", pinned)
      case "spatial_scale" => new SpatialWorkload(spark, seed, if (smoke) 0.01 else 1.0)
      case "geo_io" => new GeoIoWorkload(spark, seed, if (smoke) 0.01 else 1.0, s"$workdir/io")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: inputs built three times (median kept), then one warm-up pass
    val inputS = median((0 until 3).map { _ =>
      val s = System.nanoTime(); workload.prepare(); (System.nanoTime() - s) / 1e9
    })
    if (opt.getOrElse("corrupt", "0") == "1") workload.corrupt()
    val ops = workload.ops
    val untraced = new Tracer(false)
    val ctx0 = new Ctx(spark, untraced, side)
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    def runOp(ctx: Ctx, op: Op, group: String): Option[Outcome] = {
      attempted += 1
      spark.sparkContext.setJobGroup(group, op.name, interruptOnCancel = false)
      ctx.tracer.group = group
      try {
        val out = ctx.span(s"op:${op.name}", "harness")(op.run(ctx))
        out.error.foreach { e => failed += 1; errors += e }
        Some(out)
      } catch {
        case e: Throwable =>
          failed += 1
          errors += s"${op.name}: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
          None
      } finally spark.sparkContext.clearJobGroup()
    }
    val keep = spark.sparkContext.getPersistentRDDs.keySet
    def releaseOpBlocks(): Unit =
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) => if (!keep(id)) rdd.unpersist(true) }

    val warm0 = System.nanoTime()
    ops.zipWithIndex.foreach { case (op, i) => runOp(ctx0, op, s"warm-$i") }
    releaseOpBlocks()
    val warmS = (System.nanoTime() - warm0) / 1e9
    val setupS = sessionS + inputS + warmS

    // timed loop: the workload's passes, then whole passes until the budget
    // is spent. Traced runs alternate untraced and traced passes, starting
    // and ending untraced, so the overhead is not confounded with warm-up
    val passes = mutable.ArrayBuffer.empty[Pass]
    val allSpans = mutable.ArrayBuffer.empty[Span]
    val loop0 = System.nanoTime()
    var p = 0
    val minPasses = if (traced) math.max(3, workload.minPasses | 1) else workload.minPasses
    while (passes.size < minPasses || (System.nanoTime() - loop0) / 1e9 < seconds) {
      val tracedPass = traced && p % 2 == 1
      val tracer = new Tracer(tracedPass)
      val ctx = new Ctx(spark, tracer, side)
      ctx.pass = p
      side.drain()
      if (tracedPass) side.clearIntervals()
      val c0 = Counters.snapshot(side)
      val cpu0 = Jvm.cpuNanos()
      val w0 = System.nanoTime()
      val lat = mutable.ArrayBuffer.empty[(String, Double)]
      var rows = 0L
      ops.zipWithIndex.foreach { case (op, i) =>
        val s = System.nanoTime()
        runOp(ctx, op, s"p$p-$i").foreach { o =>
          lat += op.name -> (System.nanoTime() - s) / 1e9
          rows += o.rowsIn
        }
      }
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = (Jvm.cpuNanos() - cpu0) / 1e9
      side.drain()
      val c1 = Counters.snapshot(side)
      val layer = if (tracedPass) passLayers(ctx, side, lat.toSeq, wall, c0, c1) else Map.empty[String, Double]
      allSpans ++= tracer.all
      releaseOpBlocks()
      // the status store keeps the last query's plan; make it the same
      // trivial one whatever op ran last
      spark.sql("SELECT 1").collect()
      val heap = Jvm.retainedHeapBytes() / 1e6
      if (workload.rowsFromScans) rows = (c1("recordsRead") - c0("recordsRead")).toLong
      passes += Pass(tracedPass, wall, cpu, (c1("shuffle") - c0("shuffle")) / 1e6, rows, heap, lat.toSeq, layer)
      p += 1
    }

    opt.get("pin").foreach(p => workload match {
      case w: SqlWorkload => Fingerprints.write(p, if (smoke) "sf0.001" else "sf0.01", w.observed.toMap)
      case _ =>
    })
    val measured = passes.filter(!_.traced)
    val lats = measured.flatMap(_.latencies.map(_._2))
    val e2e = Map(
      "setup_s" -> setupS,
      "wall_s" -> median(measured.map(_.wall).toSeq),
      "cpu_s" -> median(measured.map(_.cpu).toSeq),
      "rows_per_s" -> measured.map(_.rows).sum / measured.map(_.wall).sum,
      "shuffle_mb" -> median(measured.map(_.shuffle).toSeq),
      "heap_peak_mb" -> passes.map(_.heap).max)

    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val tp = passes.filter(_.traced)
        val keys = tp.flatMap(_.layer.keys).distinct
        val mean = keys.map(k => k -> tp.map(_.layer.getOrElse(k, 0.0)).sum / tp.size).toMap
        val microTracer = new Tracer(true)
        val micro = Layers.core(seed, microTracer) ++
          Layers.functions(spark, side, seed, if (smoke) 400 else 20000, microTracer)
        allSpans ++= microTracer.all
        val figures = workload.layerFigures
        val overhead = median(tp.map(_.wall).toSeq) - median(measured.map(_.wall).toSeq)
        PerLayer.map(_._1 -> 0.0).toMap ++ mean ++ micro ++ figures ++ Map(
          "sources.stored_mb" -> figures.values.sum,
          "trace.overhead_s" -> overhead,
          "trace.spans" -> allSpans.size.toDouble)
      }
    opt.get("trace-out").filter(_ => traced).foreach(f => Json.writeSpans(f, allSpans.toSeq))

    val env = Map(
      "cpus" -> cpus.toString,
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "samples" -> lats.size.toString,
      "query_p50_s" -> f"${median(lats.toSeq)}%.4f",
      "passes" -> measured.size.toString,
      "pass_wall_s" -> measured.map(x => f"${x.wall}%.3f").mkString(" "),
      "traced_passes" -> passes.count(_.traced).toString,
      "ops_per_pass" -> ops.size.toString,
      "session_s" -> f"$sessionS%.3f", "inputs_s" -> f"$inputS%.3f", "warmup_s" -> f"$warmS%.3f")
    spark.stop()
    println("PERFBENCH " + Json.result(workload.name, attempted, failed, errors.toSeq,
      EndToEnd.map { case (k, u) => (k, e2e(k), u) },
      if (traced) PerLayer.map { case (k, u) => (k, layers(k), u) } else Nil,
      ops.map(op => op.name -> median(measured.flatMap(_.latencies.filter(_._1 == op.name).map(_._2)).toSeq)),
      env))
  }

  /** Per-layer figures of one traced pass. */
  private def passLayers(ctx: Ctx, side: SparkSide, lat: Seq[(String, Double)],
                         wall: Double, c0: Map[String, Double], c1: Map[String, Double]): Map[String, Double] = {
    def d(k: String) = c1(k) - c0(k)
    def spanSum(name: String) = ctx.tracer.all.filter(_.name == name).map(s => (s.t1 - s.t0) / 1e9).sum
    def opSum(pred: String => Boolean) = lat.filter(x => pred(x._1)).map(_._2).sum
    val (an, op, ph) = (ctx.counters.getOrElse("plans.analyze_ms", 0.0) / 1e3, spanSum("plans.optimize"),
      spanSum("plans.physical"))
    val refine = d("refine")
    val pairs = ctx.counters.getOrElse("plans.exec.pairs_out", 0.0)

    // each job hangs under the deepest harness span of its op alive at job
    // start, and its stages under the job
    val tracer = ctx.tracer
    val harness = tracer.all
    val stagesSeen = mutable.Set.empty[Int]
    harness.map(_.group).distinct.flatMap(side.jobsOf).foreach { j =>
      val t1 = if (j.t1 > 0) j.t1 else j.t0
      val parent = harness.filter(s => s.group == j.group && s.t0 <= j.t0 && j.t0 <= s.t1)
        .minByOption(s => s.t1 - s.t0).map(_.id).getOrElse(-1)
      val jid = tracer.record(parent, s"job.${j.id}", "spark", j.group, j.t0, t1)
      j.stages.filter(stagesSeen.add).flatMap(side.stage).foreach(st =>
        tracer.record(jid, s"stage.${st.id}", "spark", j.group, st.t0, st.t1))
    }
    val spans = tracer.all
    val kids = spans.groupBy(_.parent)
    val self = spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Intervals.union(kids.getOrElse(s.id, Nil).map(k => Intervals.clip((k.t0, k.t1), (s.t0, s.t1))))
        (s.t1 - s.t0 - covered) / 1e9
      }.sum
    }.withDefaultValue(0.0)
    var gap = 0.0
    // driver gap: op wall with no task of the op running
    spans.filter(_.name.startsWith("op:")).foreach { s =>
      val stageIds = side.jobsOf(s.group).flatMap(_.stages).toSet
      val busy = Intervals.union(side.tasksOfStages(stageIds).map(t => Intervals.clip((t.t0, t.t1), (s.t0, s.t1))))
      gap += (s.t1 - s.t0 - busy) / 1e9
    }
    val bytesScan = ctx.counters.getOrElse("sources.bytes_read.scan", 0.0)
    val bytesBbox = ctx.counters.getOrElse("sources.bytes_read.bbox", 0.0)
    val decoded = ctx.counters.getOrElse("sources.rows_decoded", 0.0)
    // bytes of one bbox read over bytes of one full scan
    val scanReads = lat.count(_._1.endsWith(".scan"))
    val bboxReads = lat.count(_._1.contains(".bbox_"))
    val readS = opSum(n => n.endsWith(".scan") || n.contains(".bbox_"))
    val writeS = opSum(_.endsWith(".write"))
    Map(
      "plans.analyze_ms" -> an * 1e3, "plans.optimize_ms" -> op * 1e3, "plans.physical_ms" -> ph * 1e3,
      "plans.catalyst_share" -> (an + op + ph) / wall,
      "plans.graft_nodes" -> ctx.counters.getOrElse("plans.graft_nodes", 0.0),
      "plans.exchanges" -> ctx.counters.getOrElse("plans.exchanges", 0.0),
      "plans.exec.refine_tests" -> refine, "plans.exec.pairs_out" -> pairs,
      "plans.exec.refine_yield" -> (if (refine > 0) pairs / refine else 0.0),
      "plans.exec.zone_join_s" -> opSum(_.startsWith("zone_")),
      "plans.exec.dwithin_join_s" -> opSum(_ == "dwithin_join"),
      "operators.jobs" -> d("jobs"), "operators.stages" -> d("stages"), "operators.tasks" -> d("tasks"),
      "operators.driver_gap_s" -> gap,
      "operators.knn_s" -> opSum(_ == "knn"), "operators.dbscan_s" -> opSum(_ == "dbscan"),
      "operators.components_s" -> opSum(_ == "components"),
      "operators.grid_fallbacks" -> d("gridFallback"), "operators.cell_prefilters" -> d("cellPrefilter"),
      "operators.star_switches" -> d("starSwitches"),
      "sources.read_rows_per_s" -> (if (readS > 0) ctx.counters.getOrElse("sources.rows_read", 0.0) / readS else 0.0),
      "sources.write_rows_per_s" -> (if (writeS > 0) ctx.counters.getOrElse("sources.rows_written", 0.0) / writeS else 0.0),
      "sources.bytes_read_mb" -> (bytesScan + bytesBbox) / 1e6,
      "sources.bbox_bytes_ratio" -> (if (bytesScan > 0 && bboxReads > 0) (bytesBbox / bboxReads) / (bytesScan / scanReads) else 0.0),
      "sources.rows_decoded" -> decoded,
      "sources.decode_yield" -> (if (decoded > 0) ctx.counters.getOrElse("sources.rows_returned", 0.0) / decoded else 0.0),
      "sources.footer_opens" -> d("footerOpens"),
      "spark.task_s" -> d("taskNanos") / 1e9, "spark.gc_s" -> d("gcMs") / 1e3,
      "spark.jit_s" -> d("jitMs") / 1e3, "spark.spill_mb" -> d("spill") / 1e6,
      "spark.parallelism" -> d("taskNanos") / 1e9 / wall) ++
      Seq("geoparquet", "fgb", "arrow", "shp").flatMap(f => Seq(
        s"sources.$f.write_s" -> opSum(_ == s"$f.write"),
        s"sources.$f.scan_s" -> opSum(_ == s"$f.scan"),
        s"sources.$f.bbox_s" -> opSum(_.startsWith(s"$f.bbox_")))) ++
      Seq("harness", "entry", "plans", "operators", "sources", "spark").map(l => s"self.${l}_s" -> self(l))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Cumulative counters read around a pass. */
object Counters {
  def snapshot(side: SparkSide): Map[String, Double] = Map(
    "shuffle" -> side.shuffleWrite.toDouble, "recordsRead" -> side.recordsRead.toDouble, "taskNanos" -> side.taskNanos.toDouble,
    "spill" -> side.spillDisk.toDouble, "jobs" -> side.jobs.toDouble, "stages" -> side.stages.toDouble,
    "tasks" -> side.tasks.toDouble, "gcMs" -> Jvm.gcMillis().toDouble, "jitMs" -> Jvm.jitMillis().toDouble,
    "refine" -> GridSpatialJoinExec.refineTests.sum().toDouble,
    "gridFallback" -> SpatialJoin.gridFallbackCount.sum().toDouble,
    "cellPrefilter" -> SpatialJoin.cellPrefilterCount.sum().toDouble,
    "starSwitches" -> ConnectedComponents.starSwitches.sum().toDouble,
    "footerOpens" -> GeoParquet.footerOpens.sum().toDouble)
}
