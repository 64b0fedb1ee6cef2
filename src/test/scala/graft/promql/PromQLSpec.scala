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

  test("large range/step over_time takes the RANGE-frame window plan and matches explode") {
    // ratio 12h/15min = 48 ≥ threshold → windowed; same query at the 6h
    // step (ratio 2) stays on the explode plan; results must agree where
    // grids coincide
    val fine = new PromQLCompiler(spark, sf,
      PromParams(StartNs, EndNs, 900L))
      .compile("""max_over_time(events_value{event_type="click"}[12h])""")
    val coarse = engine
      .compile("""max_over_time(events_value{event_type="click"}[12h])""")
    val finePlan = fine.queryExecution.executedPlan.toString
    val coarsePlan = coarse.queryExecution.executedPlan.toString
    // the window path still contains one bounded Generate (the marker
    // grid, #series × #eval points) — the plan discriminator is the RANGE
    // frame, absent from the per-sample explode plan
    assert(finePlan.contains("RangeFrame"), "expected window plan")
    assert(!coarsePlan.contains("RangeFrame"), "low ratio keeps explode plan")
    assert(coarsePlan.contains("Generate"), "low ratio explodes")
    // coarse grid ⊂ fine grid: values at shared eval points identical
    val f = fine.select(col("ts"), col("value").as("vf"))
    val joined = coarse.select(col("ts"), col("value").as("vc"))
      .join(f, Seq("ts"))
    assert(joined.count() > 0)
    assert(joined.filter(col("vf") =!= col("vc")).count() == 0)
  }

  test("windowed counter path matches explode path where grids coincide") {
    val q = """increase(events_total{event_type="click"}[12h])"""
    val fine = new PromQLCompiler(spark, sf, PromParams(StartNs, EndNs, 900L))
      .compile(q) // ratio 48 → RANGE-frame counter plan
    val coarse = engine.compile(q) // ratio 2 → explode plan
    assert(fine.queryExecution.executedPlan.toString.contains("RangeFrame"))
    val joined = coarse.select(col("ts"), col("value").as("vc"))
      .join(fine.select(col("ts"), col("value").as("vf")), Seq("ts"))
    assert(joined.count() > 0)
    assert(joined.filter(abs(col("vf") - col("vc")) > 1e-9).count() == 0)
  }

  test("windowed instant-vector and holt paths match explode on identical params") {
    // instant: lookback 5m at 15s steps (ratio 20) over 6h;
    // holt: 12h range at 15min steps (ratio 48) over the month
    val cases = Seq(
      ("""events_value{event_type="click"}""",
        PromParams(StartNs, StartNs + 6L * 3600 * 1000000000L, 15L)),
      ("""holt_winters(events_value{event_type="click"}[12h], 0.5, 0.3)""",
        PromParams(StartNs, EndNs, 900L)),
      ("""quantile_over_time(0.5, events_value{event_type="click"}[12h])""",
        PromParams(StartNs, EndNs, 900L)),
      ("""stddev_over_time(events_value{event_type="click"}[12h])""",
        PromParams(StartNs, EndNs, 900L)))
    for ((q, params) <- cases) {
      val eng = new PromQLCompiler(spark, sf, params)
      def run() = eng.compile(q)
        .select(col("ts"), col("value")).orderBy("ts").collect()
      val windowed = run() // lookback 300/900? — instant uses lookback/step
      spark.conf.set("spark.graft.window.ratio", "1000000")
      try {
        val exploded = run()
        assert(windowed.length == exploded.length, q)
        windowed.zip(exploded).foreach { case (a, b) =>
          assert(a.getLong(0) == b.getLong(0), q)
          assert(math.abs(a.getDouble(1) - b.getDouble(1)) <=
            1e-9 * math.max(1.0, math.abs(b.getDouble(1))), q)
        }
      } finally spark.conf.unset("spark.graft.window.ratio")
    }
  }

  test("windowed regression path matches explode path on identical params") {
    val q = """predict_linear(events_value{event_type="click"}[12h], 600)"""
    val eng = new PromQLCompiler(spark, sf, PromParams(StartNs, EndNs, 900L))
    def run() = eng.compile(q)
      .select(col("ts"), col("value")).orderBy("ts").collect()
    val windowed = run() // ratio 48 → RANGE frame
    spark.conf.set("spark.graft.window.ratio", "1000000")
    try {
      val exploded = run()
      assert(windowed.length == exploded.length && windowed.nonEmpty)
      windowed.zip(exploded).foreach { case (a, b) =>
        assert(a.getLong(0) == b.getLong(0))
        // absolute-epoch x loses a few ulps vs the t-centered explode
        // formulation; the moments are still stable to ~1e-9 relative
        assert(math.abs(a.getDouble(1) - b.getDouble(1)) <=
          1e-6 + 1e-7 * math.abs(b.getDouble(1)),
          s"${a.getDouble(1)} vs ${b.getDouble(1)}")
      }
    } finally spark.conf.unset("spark.graft.window.ratio")
  }

  test("count_over_time: windowed and explode plans agree at range/step 16 " +
      "and 4, over the 15s downsample and over raw samples") {
    // events_value routes to the 15s partials, events_total stays raw. A
    // count's cast must sit outside its window: under the cast the
    // aggregate read as a plain one and analysis failed with
    // MISSING_GROUP_BY once range/step reached the window ratio (16)
    val eng = new PromQLCompiler(spark, sf, PromParams(StartNs, EndNs, 900L))
    def run(q: String, ratio: Option[String]): Seq[(String, Long, Double)] = {
      ratio.foreach(spark.conf.set("spark.graft.window.ratio", _))
      try eng.compile(q)
        .select(to_json(col("labels")), col("ts"), col("value")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
      finally spark.conf.unset("spark.graft.window.ratio")
    }
    for (name <- Seq("events_value", "events_total");
         range <- Seq("4h", "1h")) { // range/step 16 and 4
      val q = s"""count_over_time($name{event_type="click"}[$range])"""
      val exploded = run(q, Some("1000000"))
      assert(exploded.nonEmpty, q)
      assert(run(q, None) == exploded, q) // default ratio 16
      assert(run(q, Some("4")) == exploded, q) // both ranges windowed
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
