package graft.promql

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.gates.EvalWindow._

/** Engine-guard semantics (`reader/router/prometheus_query_range.go:28-37`):
  * MaxSamples admission and deadline cancellation.
  */
class GuardsSpec extends SparkSpec {

  private def params = PromParams(StartNs, EndNs, StepS)

  test("admission: generous cap admits and returns the estimate") {
    val est = Guards.admit(spark, sf, """events_value{event_type="error"}""", params)
    assert(est > 0L)
    // instant selector: series × gridPoints, no range multiplier
    val points = (EndNs - StartNs) / (StepS * 1000000000L) + 1
    assert(est % points == 0L, s"estimate $est not a multiple of grid points $points")
  }

  test("series dictionary count matches the derived distinct-series count") {
    val sel = PromQLParser.parseOrThrow("""events_value{level="error"}""")
      .asInstanceOf[PromQLAst.Selector]
    val n = Guards.seriesCount(spark, sf, sel)
    val expect = graft.model.Tables.gaugeSamples(spark, sf)
      .filter(element_at(col("labels"), "level") === "error")
      .select("fingerprint").distinct().count()
    assert(n == expect, s"dict=$n derived=$expect")
  }

  test("admission: range selector scales by range/scrape-interval budget") {
    val instant = Guards.estimateSamples(spark, sf, "events_value", params)
    val ranged = Guards.estimateSamples(spark, sf, "rate(events_value[1h])", params)
    // 1h range / 15s scrape = 240× the per-point budget
    assert(ranged == instant * 240L, s"ranged=$ranged instant=$instant")
  }

  test("admission: tight cap rejects with the sample estimate in the message") {
    val ex = intercept[Guards.QueryRejected] {
      Guards.admit(spark, sf, "rate(events_total[6h])", params,
        Guards.GuardConfig(maxSamples = 10L))
    }
    assert(ex.getMessage.contains("max 10"))
  }

  test("admission: subquery selectors count at the finer inner step") {
    val coarse = Guards.estimateSamples(spark, sf, "events_value", params)
    val fine = Guards.estimateSamples(spark, sf,
      s"max_over_time(events_value[${StepS}s:${StepS / 4}s])", params)
    assert(fine > coarse, s"fine=$fine coarse=$coarse")
  }

  test("deadline cancels the job group and surfaces QueryTimeout") {
    val slow = udf((x: Long) => { Thread.sleep(4000L); x })
    val t0 = System.nanoTime()
    intercept[Guards.QueryTimeout] {
      Guards.guarded(spark, Guards.GuardConfig(timeoutMs = 700L)) {
        spark.range(0, 8, 1, 8).select(sum(slow(col("id")))).collect()
      }
    }
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(elapsedMs < 3500L, s"cancellation took ${elapsedMs} ms — deadline not enforced")
    // session stays usable after cancellation
    assert(spark.range(10).count() == 10L)
  }

  test("guarded passes results through when under the deadline") {
    val n = Guards.guarded(spark) { spark.range(100).count() }
    assert(n == 100L)
  }

  test("guarded queryRange end-to-end under default config") {
    val rows = Guards.queryRange(spark, sf,
      """sum by (event_type) (rate(events_total{event_type=~"error|signup"}[6h]))""", params)
    assert(rows.nonEmpty)
  }
}
