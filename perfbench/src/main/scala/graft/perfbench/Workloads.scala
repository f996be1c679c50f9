package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.queries.GraphB
import graft.tools.FullEval

/** One timed call: a query, or one step of the curation week. A call
  * that throws, or whose output disagrees with the benchmark's
  * expectation, carries `error` and no time. */
final case class CallResult(name: String, kind: String, seconds: Double,
    error: Option[String])

final class CheckFailed(msg: String) extends RuntimeException(msg)

/** What a workload gets from the run: the session, its seed, its
  * directories, and the tracer when this is the traced pass. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
    val injectFailure: Option[String]) {
  val dataDir = s"$work/data"
  var tracer: Option[Tracer] = None

  def phase[T](name: String)(body: => T): T =
    tracer.fold(body)(_.span(name, "phase")(body))

  /** Runs and times one call. Blocks a finished call left behind
    * (localCheckpoint/persist) are freed outside the timed window, so
    * they do not pile up into storage eviction over a run. */
  def call(name: String, kind: String)(body: => Unit): CallResult = {
    def timed(): CallResult = {
      val t0 = System.nanoTime()
      try {
        if (injectFailure.contains(name))
          throw new IllegalStateException(s"deliberate failure injected into $name")
        body
        CallResult(name, kind, (System.nanoTime() - t0) / 1e9, None)
      } catch {
        case NonFatal(e) =>
          CallResult(name, kind, Double.NaN, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    }
    val r = tracer.fold(timed())(_.span(name, "call")(timed()))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.sharedState.cacheManager.clearCache()
    r
  }
}

trait Workload {
  def name: String
  /** The generated input tables the workload reads. */
  def tables: Seq[String]
  /** Builds the workload's own state after the inputs are written. */
  def setup(ctx: Ctx): Unit
  /** True when every pass must start from the state [[setup]] built. */
  def statefulPass: Boolean
  /** The untimed first pass, which also warms the JVM and the session:
    * it records each call's output for the check. */
  def check(ctx: Ctx): Seq[CallResult]
  def pass(ctx: Ctx, round: Int): Seq[CallResult]
  /** Workload-specific figures of the last pass that call times do
    * not give, by name. */
  def figures: Map[String, Double] = Map.empty
  /** Workload-specific per-layer figures from the traced pass. */
  def layers: Map[String, Double] = Map.empty
}

/** A closed loop over named library queries: each pass runs every
  * query once, in an order drawn from the seed, and evaluates the
  * result with [[FullEval]]. The check pass writes each result as
  * parquet beside the DuckDB oracle SQL for the same query. */
final class QueryWorkload(val name: String, val tables: Seq[String],
    queries: Map[String, (SparkSession, String) => DataFrame]) extends Workload {
  def statefulPass: Boolean = false
  private val names = queries.keys.toSeq.sorted

  def setup(ctx: Ctx): Unit = ()

  def check(ctx: Ctx): Seq[CallResult] = {
    val out = s"${ctx.work}/check"
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(s"$out/oracles.json"), Json.obj(oracles.toSeq.sortBy(_._1)
      .map { case (k, v) => k -> Json.str(v) }))
    names.map { q =>
      ctx.call(q, "check") {
        queries(q)(ctx.spark, ctx.dataDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/$q")
      }
    }
  }

  def pass(ctx: Ctx, round: Int): Seq[CallResult] =
    new Random(ctx.seed * 1000003L + round).shuffle(names).map { q =>
      ctx.call(q, "query") {
        val df = ctx.phase("build")(queries(q)(ctx.spark, ctx.dataDir))
        ctx.phase("plan")(df.queryExecution.executedPlan)
        ctx.phase("execute")(FullEval.run(df))
      }
    }
}

object Workloads {
  /** A fixed cut of the reference ETL's daily report suite, three or
    * four queries from each of its six modules: filters, joins,
    * aggregates, windows, pivots, JSON extraction, cohorts, sessions,
    * RFE, ROI, retention, attribution. Lazy frames with no build-time
    * jobs, so their time is Spark scan/join/aggregate/window work. The
    * whole suite is 45 queries; a pass over all of them, warm and
    * cold, does not fit the benchmark's time budget. */
  val EtlDailyQueries: Seq[String] = Seq(
    "q_select_filter", "q_agg_group", "q_join_broadcast", "q_window_rank_dedup",
    "q_json_extract", "q_join_multikey_left", "q_topn_per_group",
    "q_percentile_groups", "q_pivot", "q_cohort_retained", "q_sessionize",
    "q_user_rfe", "q_channel_roi", "q_revenue_join", "q_retention_curve",
    "q_funnel_timing", "q_attribution", "q_anomaly_mad")

  def etlDaily: Workload = new QueryWorkload("etl_daily",
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"),
    EtlDailyQueries.map(q => q -> SparkEntry.queries(q)).toMap)

  /** Checkpointed edge sets and shuffle-heavy wedge joins. Not in
    * BENCHMARK.json: one run takes about two minutes here, so it serves
    * `compare.py pairs` for the graph rows, not every change's gate. */
  def graph: Workload = new QueryWorkload("graph", Seq("lineitem", "events"),
    GraphB.queries ++ Seq("q_triangle_count", "q_triangle_doulion",
      "q_triangle_estimate", "q_pagerank", "q_pagerank_converged")
      .map(q => q -> SparkEntry.queries(q)))

  def byName(name: String): Workload = name match {
    case "etl_daily" => etlDaily
    case "graph" => graph
    case "curation_week" => new CurationWeek
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
