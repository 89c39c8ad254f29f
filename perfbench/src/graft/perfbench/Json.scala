package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The harness's JSON output, through the Jackson that Spark ships. */
object Json {
  private val mapper = new ObjectMapper()

  private def metricMap(ms: Seq[(String, Double, String)]): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    ms.foreach { case (k, v, u) => m.put(k, Map("value" -> v, "unit" -> u).asJava) }
    m
  }

  def result(workload: String, attempted: Long, failed: Long, errors: Seq[String],
             e2e: Seq[(String, Double, String)], layers: Seq[(String, Double, String)],
             ops: Seq[(String, Double)], env: Map[String, String]): String = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("workload", workload)
    m.put("attempted", attempted)
    m.put("failed", failed)
    m.put("errors", errors.asJava)
    m.put("end_to_end", metricMap(e2e))
    m.put("per_layer", metricMap(layers))
    val opMap = new java.util.LinkedHashMap[String, Any]()
    ops.foreach { case (k, v) => opMap.put(k, v) }
    m.put("op_median_s", opMap)
    m.put("env", env.asJava)
    mapper.writeValueAsString(m)
  }

  def writeSpans(file: String, spans: Seq[Span]): Unit = {
    val rows = spans.map { s =>
      Map[String, Any]("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "group" -> s.group, "t0_ns" -> s.t0, "t1_ns" -> s.t1).asJava
    }
    Files.createDirectories(Paths.get(file).toAbsolutePath.getParent)
    Files.write(Paths.get(file), mapper.writeValueAsString(rows.asJava).getBytes(UTF_8))
  }
}

/** Pinned SQL fingerprints: `{ "sf0.01": { "<query>": [rows, "hashsum"] } }`. */
object Fingerprints {
  private val mapper = new ObjectMapper()

  def read(file: String): Map[String, Map[String, (Long, BigInt)]] = {
    val root = mapper.readTree(new java.io.File(file))
    root.properties().asScala.map { sf =>
      sf.getKey -> sf.getValue.properties().asScala.map { q =>
        q.getKey -> (q.getValue.get(0).asLong(), BigInt(q.getValue.get(1).asText()))
      }.toMap
    }.toMap
  }

  /** Replace the `sf` section of `file` with `observed`. */
  def write(file: String, sf: String, observed: Map[String, (Long, BigInt)]): Unit = {
    val f = new java.io.File(file)
    val old = if (f.exists()) read(file) else Map.empty[String, Map[String, (Long, BigInt)]]
    val all = (old + (sf -> observed)).toSeq.sortBy(_._1)
    val root = new java.util.LinkedHashMap[String, Any]()
    all.foreach { case (k, qs) =>
      val m = new java.util.LinkedHashMap[String, Any]()
      qs.toSeq.sortBy(_._1).foreach { case (q, (n, h)) => m.put(q, Seq[Any](n, h.toString).asJava) }
      root.put(k, m)
    }
    Files.write(f.toPath, mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root).getBytes(UTF_8))
  }
}
