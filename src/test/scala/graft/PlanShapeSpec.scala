package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{RangeFrame, SpecifiedWindowFrame}
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions.col

import graft.gates.EvalWindow._
import graft.logql.{EvalParams, LogQLCompiler}
import graft.promql.{PromParams, PromQLCompiler}
import graft.traceql.{TraceQLCompiler, TraceQLParser}

/** Plan-shape guard for range functions: every LogQL range aggregation and
  * every PromQL range function (and the instant-vector lookback) compiles
  * to the bounded explode, whose cost is samples × min(range/step, grid
  * points). A Spark RANGE-frame window re-aggregates its whole frame for
  * every input row, so a `[1d]` instant read over it goes quadratic in the
  * samples per series. This spec goes red when an optimized plan of a
  * long-range or fine-grid query carries a Window with a RANGE frame.
  */
class PlanShapeSpec extends SparkSpec {

  private def rangeFrames(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect { case w: Window => w }
      .flatMap(_.windowExpressions)
      .flatMap(_.collect {
        case f @ SpecifiedWindowFrame(RangeFrame, _, _) => f.sql
      })

  private def assertExplodeOnly(df: DataFrame, q: String): Unit = {
    val frames = rangeFrames(df)
    assert(frames.isEmpty, s"$q: RANGE-frame window in the plan: $frames")
  }

  test("PromQL instant query over a 1d range has no RANGE-frame window") {
    // the HTTP instant route's parameters: one eval point, 15 s step
    val eng = new PromQLCompiler(spark, sf, PromParams(EndNs, EndNs, 15L))
    for (q <- Seq("""sum(count_over_time(events_value[1d]))""",
        """sum(sum_over_time(events_value[1d]))""",
        """sum(rate(events_total[1d]))""",
        """events_value{event_type="click"}"""))
      assertExplodeOnly(eng.compile(q), q)
  }

  test("LogQL instant query over a 3d range has no RANGE-frame window") {
    // the HTTP instant route's parameters: one 1 s bucket ending at `time`
    val eng = new LogQLCompiler(spark, sf,
      EvalParams(EndNs - 1000000000L, EndNs, 1L))
    for (q <- Seq("""sum(count_over_time({event_type="click"}[3d]))""",
        """sum(count_over_time({event_type="click"} | json [3d]))"""))
      assertExplodeOnly(eng.compile(q), q)
  }

  test("PromQL 12h range at a 900 s step has no RANGE-frame window") {
    val eng = new PromQLCompiler(spark, sf, PromParams(StartNs, EndNs, 900L))
    for (q <- Seq(
        """max_over_time(events_value{event_type="click"}[12h])""",
        """stddev_over_time(events_value{event_type="click"}[12h])""",
        """increase(events_total{event_type="click"}[12h])""",
        """predict_linear(events_value{event_type="click"}[12h], 600)""",
        """holt_winters(events_value{event_type="click"}[12h], 0.5, 0.3)""",
        """max_over_time(rate(events_total[1h])[12h:15m])"""))
      assertExplodeOnly(eng.compile(q), q)
  }

  /** Shuffle exchanges of `df`'s physical plan as AQE first plans it,
    * before any stage runs.
    */
  private def shuffles(df: DataFrame): Seq[String] = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case s: ShuffleExchangeLike => s.toString }
  }

  test("a panel over a small store selection plans no shuffle: LogQL " +
      "metric, PromQL range and TraceQL search") {
    val logql = new LogQLCompiler(spark, sf, EvalParams(StartNs, EndNs, 3600L))
      .compile("""sum by (level) (count_over_time({level=~"info|error"}[1h]))""")
    val promql = new PromQLCompiler(spark, sf, PromParams(StartNs, EndNs, 3600L))
      .compile("""histogram_quantile(0.9, sum by (le) (rate(events_bucket[1h])))""")
    // the /api/search route's frame
    val traceql = new TraceQLCompiler(spark, sf, StartNs, EndNs)
      .traceMeta(TraceQLParser.parseOrThrow(
        """{ .service_name="svc1" && duration > 20ms }""").expr)
      .orderBy(col("start_ns").desc, col("trace_id")).limit(20)
    for ((name, df) <- Seq("logql" -> logql, "promql" -> promql,
        "traceql" -> traceql)) {
      val s = shuffles(df)
      assert(s.isEmpty, s"$name: shuffle in the initial plan: ${s.mkString("; ")}")
    }
  }
}
