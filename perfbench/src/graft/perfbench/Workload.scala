package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

/** What one execution of an op reports: the input rows it processed and,
  * when its output is wrong, why. */
final case class Outcome(rowsIn: Long, error: Option[String] = None)

/** One closed-loop operation: it runs, and checks what it produced. */
final case class Op(name: String, run: Ctx => Outcome)

trait Workload {
  def name: String
  /** Build the inputs from the seed and register them. Called several times
    * during set-up; each call replaces the previous inputs. */
  def prepare(): Unit
  /** The ops of one pass, in the seed-permuted order. */
  def ops: Seq[Op]
  /** Per-layer figures only this workload can give (bytes stored, …),
    * read after the timed loop. */
  def layerFigures: Map[String, Double] = Map.empty
  /** Count a pass's input rows from the scans' records read instead of
    * from the ops' own figures. */
  def rowsFromScans: Boolean = false
  /** Timed passes every run makes, whatever `--seconds` allows: a fixed
    * count keeps runs comparable when a pass takes about `--seconds`. */
  def minPasses: Int = 1
  /** Shift one expected answer, so the benchmark's test can show the check
    * fires. */
  def corrupt(): Unit
}

/** What an op can reach: the session, the tracer, and the per-pass
  * counters that per-layer metrics are summed from. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val sparkSide: SparkSide) {
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  /** Index of the current pass; ops that write files use it in their paths. */
  var pass = 0

  def add(key: String, v: Double): Unit = counters(key) = counters.getOrElse(key, 0.0) + v

  def span[T](name: String, layer: String)(body: => T): T = tracer.span(name, layer)(body)

  /** Collect `df` with the Catalyst phases forced one at a time, so a traced
    * run can time them. */
  def collect(df: DataFrame): Array[org.apache.spark.sql.Row] = {
    val qe = plan(df)
    val rows = span("execute", "spark")(df.collect())
    countPlan(qe.executedPlan)
    rows
  }

  private def plan(df: DataFrame) = {
    val qe = df.queryExecution
    // a DataFrame is analysed when it is built, so analysis is read from
    // the planning tracker rather than timed here
    if (tracer.on) qe.tracker.phases.get(QueryPlanningTracker.ANALYSIS)
      .foreach(p => add("plans.analyze_ms", p.durationMs.toDouble))
    span("plans.optimize", "plans")(qe.optimizedPlan)
    span("plans.physical", "plans")(qe.executedPlan)
    qe
  }

  /** graft operators and exchanges in the final executed plan. */
  private def countPlan(p: SparkPlan): Unit = if (tracer.on) {
    def walk(n: SparkPlan): Unit = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case other =>
        if (other.getClass.getName.startsWith("graft.")) add("plans.graft_nodes", 1)
        if (other.isInstanceOf[Exchange]) add("plans.exchanges", 1)
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(p)
  }
}

object Workload {
  /** Fisher–Yates with a seeded generator: the op order of one run. */
  def permute[T](xs: Seq[T], seed: Long): Seq[T] = {
    val a = mutable.ArrayBuffer.from(xs)
    val r = new java.util.SplittableRandom(seed)
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq
  }

  def check(ok: Boolean, msg: => String): Option[String] = if (ok) None else Some(msg)
}
