package graft.promql

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.gates.EvalWindow._
import PromQLAst._

class PromQLSpec extends SparkSpec {

  private def engine =
    new PromQLCompiler(spark, sf, PromParams(StartNs, EndNs, StepS))

  test("parser: selector with matchers, range, offset") {
    assert(PromQLParser.parseOrThrow("""m_x{a="1", b!~"c.*"}[5m] offset 1h""") ==
      Selector("m_x", Seq(Matcher("a", "=", "1"), Matcher("b", "!~", "c.*")),
        Some(300000000000L), 3600000000000L))
  }

  test("parser: @ start()/end(), negative offset, either modifier order") {
    assert(PromQLParser.parseOrThrow("""m @ end()""") ==
      Selector("m", Nil, None, 0L, Some(AtEnd)))
    assert(PromQLParser.parseOrThrow("""m[5m] @ start() offset -1h""") ==
      Selector("m", Nil, Some(300000000000L), -3600000000000L, Some(AtStart)))
    // offset and @ commute (Prometheus grammar: any order, once each)
    assert(PromQLParser.parseOrThrow("""m offset -1h @ 1704067200""") ==
      PromQLParser.parseOrThrow("""m @ 1704067200 offset -1h"""))
    // subqueries take the same modifiers after the [r:s] brackets
    assert(PromQLParser.parseOrThrow("""m[1h:5m] @ end() offset 1h""") ==
      Subquery(Selector("m", Nil, None, 0L), 3600000000000L, 300000000000L,
        3600000000000L, Some(AtEnd)))
    // no-step subquery: resolution defaults to the engine's 1m interval
    assert(PromQLParser.parseOrThrow("""avg_over_time(m[1h:])""") ==
      FnCall("avg_over_time", Seq(
        Subquery(Selector("m", Nil, None, 0L), 3600000000000L, 60000000000L))))
  }

  test("@ end() equals the numeric end timestamp; subquery @ pins the window") {
    val qEnd = s"""avg_over_time(events_value{event_type="click"}[24h] @ end())"""
    val qNum = s"""avg_over_time(events_value{event_type="click"}[24h] @ $EndS)"""
    val a = engine.result(qEnd, Seq("event_type")).collect()
    val b = engine.result(qNum, Seq("event_type")).collect()
    assert(a.nonEmpty && a.toSeq == b.toSeq)
    // subquery `@ end()` over the full grid == the same subquery compiled
    // on an instant grid pinned at end, spread over every eval point
    // (inner is a range fn so sparse sf0.001 clicks still land in windows)
    val sq =
      """max_over_time(count_over_time(events_value{event_type="click"}[6h])[24h:6h] @ end())"""
    val spreadRes = engine.result(sq, Seq("event_type")).collect()
    val pinned = new PromQLCompiler(spark, sf, PromParams(EndNs, EndNs, StepS))
      .result(
        """max_over_time(count_over_time(events_value{event_type="click"}[6h])[24h:6h])""",
        Seq("event_type")).collect()
    assert(spreadRes.nonEmpty && pinned.length == 1)
    assert(spreadRes.map(_.getDouble(2)).distinct.toSeq ==
      Seq(pinned.head.getDouble(2)))
  }

  test("negative offset looks forward: count at start == plain count at start+6h") {
    val neg = engine.result(
      """count_over_time(events_value{event_type="click"}[6h] offset -6h)""",
      Seq("event_type")).collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toMap
    val plain = engine.result(
      """count_over_time(events_value{event_type="click"}[6h])""",
      Seq("event_type")).collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toMap
    assert(neg.nonEmpty)
    for ((t, v) <- neg) assert(plain.get(t + StepS).contains(v), s"at $t")
  }

  test("parser: agg with by + fn nesting") {
    assert(PromQLParser.parseOrThrow("""sum by (a) (rate(m[5m]))""") ==
      Agg("sum", FnCall("rate", Seq(Selector("m", Nil, Some(300000000000L), 0L))),
        Seq("a"), Nil))
  }

  test("parser: precedence ^ over * over +, comparison last") {
    val e = PromQLParser.parseOrThrow("""sum(a) + sum(b) * sum(c) ^ sum(d) > 2""")
    e match {
      case BinOp(">", BinOp("+", _, BinOp("*", _, BinOp("^", _, _, _, _, _, _), _, _, _, _), _, _, _, _), NumLit(n), _, _, _, _) =>
        assert(n == 2.0)
      case other => fail(s"unexpected shape: $other")
    }
  }

  test("parser: on/ignoring vector matching and bool modifier") {
    val BinOp("/", _, _, Some(Seq("a", "b")), None, false, None) =
      PromQLParser.parseOrThrow("""sum(x) / on(a, b) sum(y)"""): @unchecked
    val BinOp(">", _, _, None, None, true, None) =
      PromQLParser.parseOrThrow("""sum(x) > bool sum(y)"""): @unchecked
  }

  test("rate is nonnegative on a counter with resets") {
    val df = engine.compile("""rate(events_total[12h])""")
    assert(df.count() > 0)
    assert(df.filter(col("value") < 0).count() == 0)
  }

  test("increase equals rate times range") {
    val inc = engine.compile("""increase(events_total{event_type="click"}[12h])""")
      .select(col("ts"), col("value").as("inc"))
    val rate = engine.compile("""rate(events_total{event_type="click"}[12h])""")
      .select(col("ts"), col("value").as("r"))
    val joined = inc.join(rate, "ts")
      .filter(abs(col("inc") - col("r") * 43200.0) > 1e-6)
    assert(joined.count() == 0)
  }

  test("delta can be negative on a gauge, rate cannot on a counter") {
    val d = engine.compile("""delta(events_value{event_type="view"}[12h])""")
    assert(d.filter(col("value") < 0).count() > 0)
  }

  test("resets counted only when counter drops") {
    val r = engine.compile("""resets(events_total[24h])""")
    val c = engine.compile("""changes(events_total[24h])""")
    val rSum = r.agg(sum("value")).collect()(0).getDouble(0)
    val cSum = c.agg(sum("value")).collect()(0).getDouble(0)
    assert(rSum > 0)     // the mod-10k counter does reset
    assert(cSum >= rSum) // every reset is a change
  }

  test("histogram_quantile within bucket bounds") {
    val df = engine.compile(
      """histogram_quantile(0.5, sum by (le, event_type) (rate(events_bucket[12h])))""")
    assert(df.count() > 0)
    assert(df.filter(col("value") < 0 || col("value") > 250).count() == 0)
  }

  test("instant vector respects 5m staleness") {
    val df = engine.compile("""events_value{event_type="click"}""")
    // every emitted eval point has a sample within the preceding 5m —
    // sparse sf0.001 data means far fewer rows than eval points × series
    assert(df.count() > 0)
    assert(df.count() < 121)
  }

  test("range/step 48 and 2 over_time take the explode plan and agree where grids coincide") {
    // ratio 12h/15min = 48 on the fine grid, 12h/6h = 2 on the coarse
    // one: both compile to the bounded explode (a Generate, no RANGE
    // frame); results must agree where grids coincide
    val fine = new PromQLCompiler(spark, sf,
      PromParams(StartNs, EndNs, 900L))
      .compile("""max_over_time(events_value{event_type="click"}[12h])""")
    val coarse = engine
      .compile("""max_over_time(events_value{event_type="click"}[12h])""")
    for (plan <- Seq(fine, coarse).map(_.queryExecution.executedPlan.toString)) {
      assert(!plan.contains("RangeFrame"), "no RANGE-frame window plan")
      assert(plan.contains("Generate"), "explode plan")
    }
    // coarse grid ⊂ fine grid: values at shared eval points identical
    val f = fine.select(col("ts"), col("value").as("vf"))
    val joined = coarse.select(col("ts"), col("value").as("vc"))
      .join(f, Seq("ts"))
    assert(joined.count() > 0)
    assert(joined.filter(col("vf") =!= col("vc")).count() == 0)
  }

  test("windowed counter path matches explode path where grids coincide") {
    // the fine grid (range/step 48: each sample in 48 overlapping
    // windows) against the coarse one (range/step 2), one plan for both
    val q = """increase(events_total{event_type="click"}[12h])"""
    val fine = new PromQLCompiler(spark, sf, PromParams(StartNs, EndNs, 900L))
      .compile(q)
    val coarse = engine.compile(q)
    assert(!fine.queryExecution.executedPlan.toString.contains("RangeFrame"))
    val joined = coarse.select(col("ts"), col("value").as("vc"))
      .join(fine.select(col("ts"), col("value").as("vf")), Seq("ts"))
    assert(joined.count() > 0)
    assert(joined.filter(abs(col("vf") - col("vc")) > 1e-9).count() == 0)
  }

  /** Checks (rows, Σ ts, Σ value) of a query's result. */
  private def assertDigest(params: PromParams, q: String,
      want: (Long, Long, Double)): Unit = {
    val r = new PromQLCompiler(spark, sf, params).compile(q)
      .agg(count(lit(1)), sum("ts"), sum("value")).collect()(0)
    val v = r.getDouble(2)
    assert(r.getLong(0) == want._1, s"$q rows")
    assert(r.getLong(1) == want._2, s"$q eval points")
    assert(math.abs(v - want._3) <= 1e-9 * math.max(1.0, math.abs(want._3)),
      s"$q value sum $v, want ${want._3}")
  }

  // The pinned figures below were read where a RANGE-frame window plan and
  // the bounded explode both evaluated these queries and agreed on them;
  // the explode is now the one plan.
  test("instant-vector, holt, quantile and stddev return the pinned values " +
      "at lookback/step 20 and range/step 48") {
    // instant: 5m lookback at 15s steps over the month's last day
    assertDigest(PromParams(EndNs - 86400L * 1000000000L, EndNs, 15L),
      """events_value{event_type="click"}""", (140L, 238924379550L, 6923.0))
    val month900 = PromParams(StartNs, EndNs, 900L)
    assertDigest(month900,
      """holt_winters(events_value{event_type="click"}[12h], 0.5, 0.3)""",
      (2359L, 4022988573600L, 116790.57422987712))
    assertDigest(month900,
      """quantile_over_time(0.5, events_value{event_type="click"}[12h])""",
      (2728L, 4652261184600L, 116275.00000000083))
    assertDigest(month900,
      """stddev_over_time(events_value{event_type="click"}[12h])""",
      (2728L, 4652261184600L, 81434.89193304956))
  }

  test("predict_linear returns the pinned values at range/step 48") {
    assertDigest(PromParams(StartNs, EndNs, 900L),
      """predict_linear(events_value{event_type="click"}[12h], 600)""",
      (2359L, 4022988573600L, 95350.92287886626))
  }

  test("count_over_time returns the pinned values at range/step 16 and 4, " +
      "over the 15s downsample and over raw samples") {
    // events_value routes to the 15s partials, events_total stays raw.
    // range/step 16 once failed analysis with MISSING_GROUP_BY: a count
    // cast sat between its aggregate and a window
    val month900 = PromParams(StartNs, EndNs, 900L)
    for (name <- Seq("events_value", "events_total")) {
      assertDigest(month900, s"""count_over_time($name{event_type="click"}[4h])""",
        (1840L, 3137949790200L, 3360.0))
      assertDigest(month900, s"""count_over_time($name{event_type="click"}[1h])""",
        (711L, 1212534395100L, 840.0))
    }
  }

  test("vector agg drops __name__; by keeps only listed labels") {
    val df = engine.compile("""sum by (event_type) (count_over_time(events_value[6h]))""")
    val keys = df.select(explode(map_keys(col("labels")))).distinct()
      .collect().map(_.getString(0)).toSet
    assert(keys == Set("event_type"))
  }

  test("parser: bare-selector subquery and top-level subquery shapes") {
    assert(PromQLParser.parseOrThrow("""m[1h:5m]""") ==
      Subquery(Selector("m", Nil, None, 0L), 3600000000000L, 300000000000L))
    // a paren expr with a subquery range binds the range to the parens
    val Subquery(BinOp("+", _, _, _, _, _, _), r, s, _, _) =
      PromQLParser.parseOrThrow("""(sum(a) + sum(b))[1h:5m]"""): @unchecked
    assert(r == 3600000000000L && s == 300000000000L)
  }

  test("top-level range vector: instant query returns the raw matrix") {
    val instant = new PromQLCompiler(spark, sf, PromParams(EndNs, EndNs, StepS))
    val matrix = instant
      .compile("""events_value{event_type="click"}[12h]""").collect()
    assert(matrix.nonEmpty)
    // every row keeps its own sample timestamp inside (T-12h, T]
    matrix.foreach { r =>
      val ts = r.getAs[Long]("ts")
      assert(ts > EndS - 43200 && ts <= EndS)
    }
    // a RANGE query must reject a range-vector result, like upstream
    val err = intercept[IllegalArgumentException](
      engine.compile("""events_value[12h]"""))
    assert(err.getMessage.contains("instant"))
    val err2 = intercept[IllegalArgumentException](
      engine.compile("""events_value[12h:30m]"""))
    assert(err2.getMessage.contains("instant"))
  }
}
