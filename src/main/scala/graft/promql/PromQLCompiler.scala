package graft.promql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{MapType, StringType}

import graft.model.Tables
import PromQLAst._

/** PromQL evaluation parameters. Eval points are `startNs + k·stepNs` for
  * k = 0..(end-start)/step, END-INCLUSIVE (Prometheus convention, unlike
  * the LogQL grid). `lookbackNs` is the instant-vector staleness window
  * (Prometheus default 5m).
  */
final case class PromParams(
    startNs: Long, endNs: Long, stepS: Long,
    lookbackNs: Long = 300L * 1000000000L)

/** PromQL → DataFrame compiler.
  *
  * The reference serves PromQL by embedding the upstream engine and
  * substituting accelerated subtrees with pushed-down SQL
  * (`transpiler_v2.go:15-99`); every accelerated planner there maps to a
  * stage here — but we compile the WHOLE expression, so there is no
  * raw-sample fallback path and no engine/SQL split:
  *
  *   - `over_time.go:30-127`  → aggregates per eval point over the
  *     samples in its window
  *   - `counter.go:62-175`    → rate/increase/delta with counter-reset
  *     compensation: resets = Σ prev·(prev>val) over in-window sample pairs,
  *     value = (last − first + resets)/range
  *   - `fill_gaps.go:23-124`  → instant-vector staleness carry-forward via
  *     bounded explode over the grid (lookback/step buckets per sample)
  *   - `sum.go:18-168`        → by/without vector aggs with label re-keying
  *   - histogram_quantile     → engine-side in the reference; here a
  *     bucket-array aggregation with linear interpolation
  *
  * Window semantics: eval point t covers samples with ts ∈ (t−range, t]
  * (end-labeled, Prometheus convention). rate/increase/delta need ≥2
  * samples in the window. A counter reset whose pair straddles the window
  * start is attributed only when the previous sample is itself in-window
  * (the reference's staleness-bounded openWnd differs at most by one
  * boundary sample).
  *
  * Plan: every range function, and the instant-vector lookback, is one
  * bounded explode — each sample is copied to the eval points whose
  * window holds it, at most min(range/step, grid points) of them, and a
  * groupBy per (series, eval point) aggregates. Spark's RANGE-frame
  * window is no cheaper alternative: it re-aggregates its whole frame for
  * every input row, which goes quadratic on long ranges.
  *
  * Frame schema: (fingerprint L, labels M, ts L [epoch sec], value D).
  */
class PromQLCompiler(spark: SparkSession, dir: String, params: PromParams) {

  private val stepNs = params.stepS * 1000000000L
  private val gridStart = params.startNs
  private val gridEnd = params.endNs // inclusive

  def compile(q: String): DataFrame = compileExpr(PromQLParser.parseOrThrow(q))

  /** Gate-facing projection: label keys → flat columns + (ts, value).
    * Rounding matches DuckDB's round() (scaled-double, half away from
    * zero) rather than Spark's BigDecimal HALF_UP — the two differ on
    * values whose 7th decimal sits on the .5 boundary, which the oracle
    * hash compare would flag as a mismatch.
    */
  def result(q: String, labelCols: Seq[String]): DataFrame = {
    val ast = PromQLParser.parseOrThrow(q)
    val df = compileExpr(ast)
    val v = col("value")
    val r6 = when(v >= 0, floor(v * 1e6 + 0.5))
      .otherwise(-floor(-v * 1e6 + 0.5)).cast("double") / 1e6
    val cols = labelCols.map(k => element_at(col("labels"), k).as(k)) ++
      Seq(col("ts"), r6.as("value"))
    val proj = df.select(cols: _*)
    // sort/sort_desc order by value within each eval point (Prometheus
    // orders the instant vector); everything else orders by series.
    ast match {
      case FnCall("sort", _) =>
        proj.orderBy(col("ts") +: col("value").asc +: labelCols.map(col): _*)
      case FnCall("sort_desc", _) =>
        proj.orderBy(col("ts") +: col("value").desc +: labelCols.map(col): _*)
      case _ =>
        proj.orderBy(labelCols.map(col) :+ col("ts"): _*)
    }
  }

  def compileExpr(e: PExpr): DataFrame = e match {
    case s: Selector if s.rangeNs.isDefined => topLevelMatrix(s)
    case s: Selector if s.at.isDefined =>
      spread(pinnedCompiler(resolveAt(s.at.get)).compileExpr(s.copy(at = None)))
    case s: Selector  => instantVector(s)
    case sq: Subquery if sq.at.isDefined =>
      // matrix results stay instant-only even when pinned (the require
      // inside topLevelSubquery would vacuously pass under the pinned
      // single-point grid)
      require(gridStart == gridEnd,
        "range vector result is only valid for instant queries")
      pinnedCompiler(resolveAt(sq.at.get)).topLevelSubquery(sq.copy(at = None))
    case sq: Subquery => topLevelSubquery(sq)
    case f: FnCall    => compileFn(f)
    case a: Agg       => compileAgg(a)
    case b: BinOp     => compileBinOp(b)
    case NumLit(v)    =>
      spark.range(1).select(lit(0L).as("fingerprint"),
        map().cast(MapType(StringType, StringType)).as("labels"),
        lit(0L).as("ts"), lit(v).as("value"))
    case StrLit(s)    =>
      throw new IllegalArgumentException(s"string literal outside fn args: $s")
  }

  /** Top-level range vector — `m[5m]` or `expr[1h:5m]` as the WHOLE query.
    * Prometheus accepts these only for instant queries and answers with
    * the raw matrix: the selector's samples (or the subquery's inner eval
    * points) at their own timestamps within (T−range, T]; a range query
    * rejects them ("invalid expression type range vector",
    * `promql/engine.go exec`). Same contract here: single-point grid
    * (start == end) required.
    */
  private def topLevelMatrix(s: Selector): DataFrame = {
    require(gridStart == gridEnd,
      "range vector result is only valid for instant queries")
    val t0 = s.at.map(resolveAt).getOrElse(gridStart)
    val off = s.offsetNs
    scan(s, t0 - off - s.rangeNs.get + 1, t0 - off + 1)
      .select(col("fingerprint"), col("labels"),
        expr("timestamp_ns div 1000000000").as("ts"), col("value"))
  }

  /** See [[topLevelMatrix]] — subquery variant: the matrix rows are the
    * inner eval points on the finer [range:step] grid, left-open window.
    */
  private def topLevelSubquery(sq: Subquery): DataFrame = {
    require(gridStart == gridEnd,
      "range vector result is only valid for instant queries")
    // matrix rows keep their own (un-offset) inner eval timestamps
    subquerySamples(sq)
      .filter(col("timestamp_ns") > gridStart - sq.rangeNs)
      .select(col("fingerprint"), col("labels"),
        expr(s"(timestamp_ns - ${sq.offsetNs}L) div 1000000000").as("ts"),
        col("value"))
  }

  // --- selectors ---------------------------------------------------------

  /** Largest grid point ≤ c. The grid is anchored at `gridStart` (NOT the
    * epoch), so a pinned `@` evaluation with an arbitrary start still puts
    * its single eval point on-grid; for step-aligned starts this is
    * identical to epoch alignment.
    */
  private def floorTo(c: Column, step: Long): Column =
    c - pmod(c - lit(gridStart), lit(step))
  /** Smallest grid point ≥ c. */
  private def ceilTo(c: Column, step: Long): Column = floorTo(c + (step - 1), step)

  private def gridDf: DataFrame =
    spark.range(0, (gridEnd - gridStart) / stepNs + 1)
      .select((lit(gridStart / 1000000000L) + col("id") * params.stepS).as("ts"))

  /** `@` modifier: evaluate at the pinned instant, then spread the value
    * across every eval point of the real grid.
    */
  /** Resolve an `@` target: `start()`/`end()` refer to the query range
    * itself (Prometheus StartOrEnd semantics). */
  private def resolveAt(a: AtMod): Long = a match {
    case AtNs(ns) => ns
    case AtStart  => params.startNs
    case AtEnd    => params.endNs
  }

  private def pinnedCompiler(atNs: Long): PromQLCompiler =
    new PromQLCompiler(spark, dir,
      PromParams(atNs, atNs, params.stepS, params.lookbackNs))

  private def spread(df: DataFrame): DataFrame =
    df.drop("ts").crossJoin(gridDf)
      .select(col("fingerprint"), col("labels"), col("ts"), col("value"))

  private def matcherCond(m: Matcher): Column = Matchers.cond(m)

  /** Scan the metric family for a selector, matchers applied, over
    * [loNs, hiNs): the one metric fact table filtered on the family name
    * (date-partitioned, family-then-fingerprint sorted), so no query
    * re-derives the counter cumsum window (the reference's ingest-time
    * views, log.sql:96).
    */
  private def scan(sel: Selector, loNs: Long, hiNs: Long): DataFrame =
    sel.matchers.foldLeft(
      graft.store.Store.promMetric(spark, dir, sel.name, loNs, hiNs))(
      (df, m) => df.filter(matcherCond(m)))

  /** Instant vector: at each eval point t, the most recent sample within
    * (t−lookback, t]. Bounded explode: each sample covers at most
    * min(lookback/step, grid points) eval points — one for an instant
    * query; groupBy picks the latest per (series, t).
    */
  private def instantVector(sel: Selector): DataFrame =
    lookback(sel, max_by(col("value"), col("timestamp_ns")))

  /** The lookback explode both instant-vector shapes share: `agg` folds
    * the in-lookback samples of one (series, eval point) into its value.
    */
  private def lookback(sel: Selector, agg: Column): DataFrame = {
    val off = sel.offsetNs
    val df = scan(sel, gridStart - params.lookbackNs - off, gridEnd + 1 - off)
    val tsEff = col("timestamp_ns") + lit(off)
    val firstT = greatest(ceilTo(tsEff, stepNs), lit(gridStart))
    val lastT = least(floorTo(tsEff + (params.lookbackNs - 1), stepNs), lit(gridEnd))
    df.withColumn("t_ns",
        explode(when(firstT <= lastT, sequence(firstT, lastT, lit(stepNs)))
          .otherwise(array())))
      .groupBy(col("fingerprint"), col("t_ns"))
      .agg(first(col("labels")).as("labels"), agg.as("value"))
      .select(col("fingerprint"), col("labels"),
        expr("t_ns div 1000000000").as("ts"), col("value"))
  }

  /** Exploded range frame for range functions: one row per (sample, eval
    * point whose window (t−range, t] contains it), carrying the previous
    * sample of the series (for counter logic). The scan is widened by
    * `range` so the first windows are complete; `prev` comes from a lag
    * within the widened scan.
    */
  private def rangeFrame(sel: Selector): DataFrame = {
    val rangeNs = sel.rangeNs.getOrElse(
      throw new IllegalArgumentException(s"range required: $sel"))
    val off = sel.offsetNs
    val df = scan(sel, gridStart - rangeNs - off, gridEnd + 1 - off)
    val w = Window.partitionBy(col("fingerprint")).orderBy(col("timestamp_ns"))
    val withPrev = df
      .withColumn("prev_ts", lag(col("timestamp_ns"), 1).over(w))
      .withColumn("prev_val", lag(col("value"), 1).over(w))
    val tsEff = col("timestamp_ns") + lit(off)
    val firstT = greatest(ceilTo(tsEff, stepNs), lit(gridStart))
    val lastT = least(floorTo(tsEff + (rangeNs - 1), stepNs), lit(gridEnd))
    withPrev
      .withColumn("t_ns",
        explode(when(firstT <= lastT, sequence(firstT, lastT, lit(stepNs)))
          .otherwise(array())))
      .withColumn("prev_in_window",
        coalesce(col("prev_ts") + lit(off) > col("t_ns") - lit(rangeNs), lit(false)))
  }

  /** Drop __name__ and re-key — range functions and arithmetic remove the
    * metric name (Prometheus semantics).
    */
  private def dropName(df: DataFrame): DataFrame =
    df.withColumn("labels",
        map_filter(col("labels"), (k, _) => k =!= "__name__"))
      .withColumn("fingerprint", Tables.fingerprintOf(col("labels")))

  // --- functions ---------------------------------------------------------

  private def compileFn(f: FnCall): DataFrame = {
    // `@` on the argument selector/subquery: run the whole function pinned,
    // spread across the real grid
    f.args.collectFirst {
      case s: Selector if s.at.isDefined => s.at.get
      case sq: Subquery if sq.at.isDefined => sq.at.get
    } match {
      case Some(a) =>
        val cleared = FnCall(f.fn, f.args.map {
          case sel: Selector => sel.copy(at = None)
          case sq: Subquery => sq.copy(at = None)
          case o => o
        })
        return spread(pinnedCompiler(resolveAt(a)).compileFn(cleared))
      case None =>
    }
    compileFnInner(f)
  }

  private def compileFnInner(f: FnCall): DataFrame = f.fn match {
    case "histogram_quantile" =>
      val NumLit(q) = f.args.head: @unchecked
      histogramQuantile(q, compileExpr(f.args(1)))

    case "quantile_over_time" =>
      val NumLit(q) = f.args.head: @unchecked
      overTime("quantile_over_time", f.args(1), percentile(col("value"), lit(q)))

    case fn if RangeFns.contains(fn) =>
      val arg = f.args.head
      fn match {
        case "sum_over_time"     => overTime(fn, arg, sum(col("value")))
        case "avg_over_time"     => overTime(fn, arg, avg(col("value")))
        case "min_over_time"     => overTime(fn, arg, min(col("value")))
        case "max_over_time"     => overTime(fn, arg, max(col("value")))
        case "count_over_time"   => overTime(fn, arg, count(lit(1)).cast("double"))
        case "last_over_time"    => overTime(fn, arg, max_by(col("value"), col("timestamp_ns")))
        case "present_over_time" => overTime(fn, arg, lit(1.0))
        case "stddev_over_time"  => overTime(fn, arg, stddev_pop(col("value")))
        case "stdvar_over_time"  => overTime(fn, arg, var_pop(col("value")))
        case "deriv"             => regressionFn("deriv", arg, 0.0)
        case _                   => counterFn(fn, arg)
      }

    case "absent" =>
      // 1 at eval points where the selector returns NO series (empty label
      // set, Prometheus semantics); grid anti-join against present points.
      val sel = f.args.head.asInstanceOf[Selector]
      val present = instantVector(sel).select(col("ts")).distinct()
      val nPoints = (gridEnd - gridStart) / stepNs
      val grid = spark.range(0, nPoints + 1)
        .select((lit(gridStart / 1000000000L) + col("id") * params.stepS).as("ts"))
      grid.join(present, Seq("ts"), "left_anti")
        .select(lit(0L).as("fingerprint"),
          map().cast(org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType)).as("labels"),
          col("ts"), lit(1.0).as("value"))

    case "holt_winters" =>
      val NumLit(sf) = f.args(1): @unchecked
      val NumLit(tf) = f.args(2): @unchecked
      holtWinters(f.args.head, sf, tf)

    case "absent_over_time" =>
      // 1 at eval points whose range window (t−range, t] holds NO sample
      // of the selector (Prometheus absent_over_time); grid anti-join.
      // Built straight from the exploded scan — rangeFrame's lag window
      // (prev-sample columns for counter math) would be a wasted shuffle.
      val sel = f.args.head match {
        case s: Selector => s
        case o => throw new IllegalArgumentException(s"absent_over_time arg $o")
      }
      val rangeNs = sel.rangeNs.getOrElse(
        throw new IllegalArgumentException("absent_over_time needs a range"))
      val off = sel.offsetNs
      val df = scan(sel, gridStart - rangeNs - off, gridEnd + 1 - off)
      val tsEff = col("timestamp_ns") + lit(off)
      val firstT = greatest(ceilTo(tsEff, stepNs), lit(gridStart))
      val lastT = least(floorTo(tsEff + (rangeNs - 1), stepNs), lit(gridEnd))
      val present = df.withColumn("t_ns",
          explode(when(firstT <= lastT, sequence(firstT, lastT, lit(stepNs)))
            .otherwise(array())))
        .select(expr("t_ns div 1000000000").as("ts")).distinct()
      gridDf.join(present, Seq("ts"), "left_anti")
        .select(lit(0L).as("fingerprint"), emptyLabels.as("labels"),
          col("ts"), lit(1.0).as("value"))

    case fn if InstantFns.contains(fn) =>
      val inner = compileExpr(f.args.head)
      // calendar fns interpret the VALUE as epoch seconds in UTC (the
      // session timezone is pinned to UTC); Prometheus day_of_week is
      // 0=Sunday, Spark dayofweek is 1=Sunday.
      def cal = timestamp_seconds(col("value"))
      val v = fn match {
        case "abs"   => abs(col("value"))
        case "ceil"  => ceil(col("value")).cast("double")
        case "floor" => floor(col("value")).cast("double")
        case "sqrt"  => sqrt(col("value"))
        case "exp"   => exp(col("value"))
        case "ln"    => log(col("value"))
        case "log2"  => log2(col("value"))
        case "log10" => log10(col("value"))
        case "sgn"   => signum(col("value"))
        case "deg"   => degrees(col("value"))
        case "rad"   => radians(col("value"))
        case "sin"   => sin(col("value"))
        case "cos"   => cos(col("value"))
        case "tan"   => tan(col("value"))
        case "asin"  => asin(col("value"))
        case "acos"  => acos(col("value"))
        case "atan"  => atan(col("value"))
        case "sinh"  => sinh(col("value"))
        case "cosh"  => cosh(col("value"))
        case "tanh"  => tanh(col("value"))
        case "day_of_week"  => (dayofweek(cal) - 1).cast("double")
        case "day_of_month" => dayofmonth(cal).cast("double")
        case "day_of_year"  => dayofyear(cal).cast("double")
        case "hour"         => hour(cal).cast("double")
        case "minute"       => minute(cal).cast("double")
        case "month"        => month(cal).cast("double")
        case "year"         => year(cal).cast("double")
      }
      dropName(inner.withColumn("value", v))

    case "round" =>
      val NumLit(nearest) = f.args(1): @unchecked
      val inner = compileExpr(f.args.head)
      dropName(inner.withColumn("value",
        round(col("value") / nearest, 0) * nearest))

    case "clamp_min" =>
      val NumLit(s) = f.args(1): @unchecked
      dropName(compileExpr(f.args.head)
        .withColumn("value", greatest(col("value"), lit(s))))

    case "clamp_max" =>
      val NumLit(s) = f.args(1): @unchecked
      dropName(compileExpr(f.args.head)
        .withColumn("value", least(col("value"), lit(s))))

    case "clamp" =>
      val NumLit(mn) = f.args(1): @unchecked
      val NumLit(mx) = f.args(2): @unchecked
      dropName(compileExpr(f.args.head)
        .withColumn("value", least(greatest(col("value"), lit(mn)), lit(mx))))

    case "predict_linear" =>
      val NumLit(t) = f.args(1): @unchecked
      regressionFn("predict_linear", f.args.head, t)

    // sort/sort_desc don't change the data, only presentation order —
    // applied by result() at the top level (Prometheus sorts the final
    // instant vector; intermediate sorts are no-ops).
    case "sort" | "sort_desc" => compileExpr(f.args.head)

    case "time" =>
      gridDf.select(lit(0L).as("fingerprint"), emptyLabels.as("labels"),
        col("ts"), col("ts").cast("double").as("value"))

    case "timestamp" =>
      val sel = f.args.head match {
        case s: Selector => s
        case o => throw new IllegalArgumentException(s"timestamp arg $o")
      }
      dropName(timestampVector(sel))

    case "scalar" =>
      val agg = compileExpr(f.args.head)
        .groupBy(col("ts"))
        .agg(count(lit(1)).as("__n"), first(col("value")).as("__v"))
      gridDf.join(agg, Seq("ts"), "left")
        .select(lit(0L).as("fingerprint"), emptyLabels.as("labels"), col("ts"),
          when(col("__n") === 1, col("__v"))
            .otherwise(lit(Double.NaN)).as("value"))

    case "vector" => f.args.head match {
      case NumLit(v) =>
        gridDf.select(lit(0L).as("fingerprint"), emptyLabels.as("labels"),
          col("ts"), lit(v).as("value"))
      case e => compileExpr(e) // scalar-valued frame already spans the grid
    }

    case "label_replace" =>
      val Seq(e, StrLit(dst), StrLit(repl), StrLit(src), StrLit(re)) =
        f.args: @unchecked
      val inner = compileExpr(e)
      val srcV = coalesce(element_at(col("labels"), src), lit(""))
      val anchored = "^(?:" + re + ")$"
      val newV = regexp_replace(srcV, anchored, repl)
      val without = map_filter(col("labels"), (k, _) => k =!= dst)
      // no match → unchanged; empty expansion → dst removed (empty label
      // value ≡ absent, Prometheus semantics); else dst set to expansion
      val lbls = when(!srcV.rlike(anchored), col("labels"))
        .when(newV === "", without)
        .otherwise(map_concat(without, map(lit(dst), newV)))
      inner.withColumn("labels", lbls)
        .withColumn("fingerprint", Tables.fingerprintOf(col("labels")))

    case "label_join" =>
      val e = f.args.head
      val strs = f.args.tail.map {
        case StrLit(s) => s
        case o => throw new IllegalArgumentException(s"label_join arg $o")
      }
      val (dst, sep, srcs) = (strs.head, strs(1), strs.drop(2))
      val joined = concat_ws(sep,
        srcs.map(s => coalesce(element_at(col("labels"), s), lit(""))): _*)
      val without = map_filter(col("labels"), (k, _) => k =!= dst)
      val lbls = when(joined === "", without)
        .otherwise(map_concat(without, map(lit(dst), joined)))
      compileExpr(e).withColumn("labels", lbls)
        .withColumn("fingerprint", Tables.fingerprintOf(col("labels")))

    case other => throw new IllegalArgumentException(s"function $other")
  }

  private def emptyLabels: Column = map().cast(MapType(StringType, StringType))

  /** timestamp(): instant vector whose value is the chosen (latest
    * in-lookback) sample's own timestamp in seconds.
    */
  private def timestampVector(sel: Selector): DataFrame =
    lookback(sel, max(col("timestamp_ns")) / 1000000000.0)

  /** holt_winters / double_exponential_smoothing: Holt's linear trend over
    * the in-window samples in time order (Prometheus `functions.go
    * funcHoltWinters`): s₁=v₀, b₁=v₁−v₀, then per sample
    * b' = tf·(s₁−s₀)+(1−tf)·b (first step uses b₁ directly),
    * s' = sf·vᵢ + (1−sf)·(s₁+b'). The recurrence folds a 4-field struct
    * over the sorted value array with `aggregate` — the DuckDB oracle runs
    * the IDENTICAL fold via list_reduce, so the arithmetic order (and thus
    * every double) matches bit for bit.
    */
  /** Holt fold over a time-ordered value array (the caller sorts the
    * in-window samples by time, so the fold order is the oracle's).
    */
  private def holtValue(vals: Column, sf: Double, tf: Double): Column = {
    val posed = transform(vals, (v, i) =>
      struct(lit(0.0).as("s0"), v.as("s1"), lit(0.0).as("b"), i.as("i")))
    val zero = struct(lit(0.0).as("s0"),
      element_at(vals, 1).as("s1"), lit(0.0).as("b"), lit(0).as("i"))
    val folded = aggregate(
      slice(posed, lit(2), greatest(size(posed) - 1, lit(0))),
      zero,
      (a, e) => {
        val bNew = when(e.getField("i") === 1,
            e.getField("s1") - a.getField("s1"))
          .otherwise(lit(tf) * (a.getField("s1") - a.getField("s0")) +
            lit(1 - tf) * a.getField("b"))
        val x = lit(sf) * e.getField("s1")
        val y = lit(1 - sf) * (a.getField("s1") + bNew)
        struct(a.getField("s1").as("s0"), (x + y).as("s1"),
          bNew.as("b"), e.getField("i").as("i"))
      })
    folded.getField("s1")
  }

  private def holtWinters(arg: PExpr, sf: Double, tf: Double): DataFrame = {
    val frame = arg match {
      case sel: Selector => rangeFrame(sel)
      case sq: Subquery  => subqueryFrame(sq)
      case other => throw new IllegalArgumentException(s"holt_winters arg $other")
    }
    val grouped = frame
      .groupBy(col("fingerprint"), col("t_ns"))
      .agg(first(col("labels")).as("labels"),
        count(lit(1)).as("__n"),
        array_sort(collect_list(struct(col("timestamp_ns").as("ts"),
          col("value").as("v")))).as("__svs"))
    val vals = transform(col("__svs"), s => s.getField("v"))
    dropName(grouped.filter(col("__n") >= 2)
      .select(col("fingerprint"), col("labels"),
        expr("t_ns div 1000000000").as("ts"),
        holtValue(vals, sf, tf).as("value")))
  }

  /** deriv / predict_linear: simple least-squares over the in-window
    * samples with x = sample time − eval time (seconds) — the regression
    * intercept is then the fitted value AT the eval point, and
    * predict_linear(v, t) = intercept + slope·t (Prometheus
    * `functions.go linearRegression`). slope = covar_pop/var_pop, the same
    * closed form DuckDB's regr_slope/regr_intercept use.
    */
  private def regressionFn(fn: String, arg: PExpr, predictS: Double): DataFrame = {
    val (frame, offNs) = arg match {
      case sel: Selector =>
        sel.rangeNs.getOrElse(
          throw new IllegalArgumentException(s"$fn needs a range vector"))
        (rangeFrame(sel), sel.offsetNs)
      case sq: Subquery => (subqueryFrame(sq), 0L)
      case other => throw new IllegalArgumentException(s"$fn arg $other")
    }
    val x = (col("timestamp_ns") + lit(offNs) - col("t_ns")).cast("double") / 1e9
    val grouped = frame.withColumn("__x", x)
      .groupBy(col("fingerprint"), col("t_ns"))
      .agg(first(col("labels")).as("labels"),
        count(lit(1)).as("__n"),
        covar_pop(col("__x"), col("value")).as("__cov"),
        var_pop(col("__x")).as("__var"),
        avg(col("__x")).as("__xm"),
        avg(col("value")).as("__ym"))
    val slope = col("__cov") / col("__var")
    val v = fn match {
      case "deriv"          => slope
      case "predict_linear" => col("__ym") - slope * col("__xm") + slope * predictS
    }
    dropName(grouped.filter(col("__n") >= 2 && col("__var") > 0)
      .select(col("fingerprint"), col("labels"),
        expr("t_ns div 1000000000").as("ts"), v.as("value")))
  }

  /** over_time fns whose re-aggregation from 15s partials is EXACT
    * (order-independent): these route to the downsample table. sum/avg/
    * stddev stay on raw samples — FP summation over partials associates
    * differently, and the pushed-down result must be bit-reproducible.
    */
  private val DownsampleFns =
    Set("count_over_time", "min_over_time", "max_over_time",
      "last_over_time", "present_over_time")

  private def downsampleEligible(fn: String, sel: Selector): Boolean = {
    val q = 15000000000L
    DownsampleFns(fn) &&
      sel.rangeNs.exists(_ % q == 0) && stepNs % q == 0 &&
      sel.offsetNs % q == 0 && gridStart % q == 0 // pinned @ grids may be unaligned
  }

  /** Downsample route (`prom_queryable.go:150-160` raw-vs-downsample fork,
    * `TranspileLabelMatchersDownsample`): window the 15s partials instead
    * of raw samples. 15s buckets nest inside the aligned windows, so
    * count=Σcnt, min/max fold, last=argmax(last_ts) are exact. Returns the
    * exploded bucket frame and the fold of `fn` over its partials.
    */
  private def downsampledFrame(fn: String, sel: Selector): (DataFrame, Column) = {
    val rangeNs = sel.rangeNs.get
    val off = sel.offsetNs
    val df = sel.matchers.foldLeft(graft.store.Store.promMetric15s(spark,
        dir, sel.name, gridStart - rangeNs - off, gridEnd + 1 - off))(
      (d, m) => d.filter(matcherCond(m)))
    val tsEff = col("timestamp_ns") + lit(off)
    // bucket [b, b+15s) is fully inside window (t-range, t] iff
    // t ∈ [b+15s, b+range] (timestamps never sit exactly on bucket or
    // grid boundaries in this model — µs-truncated event times — so the
    // open/closed edge conventions coincide)
    val bucketNs = 15000000000L
    val firstT = greatest(ceilTo(tsEff + bucketNs, stepNs), lit(gridStart))
    val lastT = least(floorTo(tsEff + rangeNs, stepNs), lit(gridEnd))
    val exploded = df.withColumn("t_ns",
      explode(when(firstT <= lastT, sequence(firstT, lastT, lit(stepNs)))
        .otherwise(array())))
    exploded -> (fn match {
      case "count_over_time"   => sum(col("cnt")).cast("double")
      case "min_over_time"     => min(col("min"))
      case "max_over_time"     => max(col("max"))
      case "last_over_time"    => max_by(col("last"), col("last_ts"))
      case "present_over_time" => first(lit(1.0))
    })
  }

  /** Plain windowed aggregation over the eval grid (`over_time.go:30-127`);
    * the samples come from a raw selector, the 15s downsample (when the
    * function and alignment allow), or a SUBQUERY's inner eval grid.
    */
  private def overTime(fn: String, arg: PExpr, agg: Column): DataFrame = {
    val (frame, fold) = arg match {
      case sel: Selector if downsampleEligible(fn, sel) =>
        downsampledFrame(fn, sel)
      case sel: Selector => (rangeFrame(sel), agg)
      case sq: Subquery  => (subqueryFrame(sq), agg)
      case other => throw new IllegalArgumentException(s"range arg $other")
    }
    dropName(frame
      .groupBy(col("fingerprint"), col("t_ns"))
      .agg(first(col("labels")).as("labels"), fold.as("value"))
      .select(col("fingerprint"), col("labels"),
        expr("t_ns div 1000000000").as("ts"), col("value")))
  }

  /** Inner eval points of `expr[r:s]` as samples (fingerprint, labels,
    * timestamp_ns, value) on the OUTER timeline, on the finer grid widened
    * left by `range`: with `offset o` the inner grid shifts back by o and
    * the returned timestamps shift forward by o, so every downstream frame
    * treats them exactly like offset-adjusted selector samples.
    */
  private def subquerySamples(sq: Subquery): DataFrame = {
    require(sq.stepNs % 1000000000L == 0 && sq.stepNs > 0,
      "subquery step must be whole seconds")
    val off = sq.offsetNs
    val innerParams = PromParams(
      gridStart - off - sq.rangeNs, gridEnd - off,
      sq.stepNs / 1000000000L, params.lookbackNs)
    val inner = new PromQLCompiler(spark, dir, innerParams).compileExpr(sq.inner)
    val tsNs = (col("ts") * 1000000000L + lit(off)).as("timestamp_ns")
    inner.select(col("fingerprint"), col("labels"), tsNs, col("value"))
  }

  /** Subquery frame: assign each inner eval point to the outer windows
    * (t−range, t] that contain it — the inner points act as samples.
    */
  private def subqueryFrame(sq: Subquery): DataFrame = {
    val withTs = subquerySamples(sq)
    // prev columns so counter functions work over subqueries too
    val w = Window.partitionBy(col("fingerprint")).orderBy(col("timestamp_ns"))
    val withPrev = withTs
      .withColumn("prev_ts", lag(col("timestamp_ns"), 1).over(w))
      .withColumn("prev_val", lag(col("value"), 1).over(w))
    val firstT = greatest(ceilTo(col("timestamp_ns"), stepNs), lit(gridStart))
    val lastT = least(floorTo(col("timestamp_ns") + (sq.rangeNs - 1), stepNs), lit(gridEnd))
    withPrev.withColumn("t_ns",
        explode(when(firstT <= lastT, sequence(firstT, lastT, lit(stepNs)))
          .otherwise(array())))
      .withColumn("prev_in_window",
        coalesce(col("prev_ts") > col("t_ns") - lit(sq.rangeNs), lit(false)))
  }

  /** rate / increase / delta / resets / changes with counter-reset
    * compensation (`counter.go:62-230`): for each in-window consecutive
    * pair where the value DROPPED, the previous value is the reset
    * compensation; resets/changes count transitions instead.
    */
  private def counterFn(fn: String, arg: PExpr): DataFrame = {
    val (frame, rangeNs, offNs) = arg match {
      case sel: Selector => (rangeFrame(sel), sel.rangeNs.getOrElse(
        throw new IllegalArgumentException(s"$fn needs a range vector")), sel.offsetNs)
      case sq: Subquery  => (subqueryFrame(sq), sq.rangeNs, 0L)
      case other => throw new IllegalArgumentException(s"$fn arg $other")
    }
    val rangeS = rangeNs / 1e9
    val pairIn = col("prev_in_window")
    val dropped = pairIn && col("prev_val") > col("value")
    val changed = pairIn && col("prev_val") =!= col("value")
    val grouped = frame
      .groupBy(col("fingerprint"), col("t_ns"))
      .agg(
        first(col("labels")).as("labels"),
        count(lit(1)).as("__n"),
        min_by(col("value"), col("timestamp_ns")).as("__first"),
        max_by(col("value"), col("timestamp_ns")).as("__last"),
        max_by(col("prev_val"), col("timestamp_ns")).as("__lprev"),
        max_by(col("prev_ts"), col("timestamp_ns")).as("__lprev_ts"),
        max(col("timestamp_ns")).as("__last_ts"),
        sum(when(dropped, col("prev_val")).otherwise(0.0)).as("__reset_comp"),
        sum(when(dropped, 1.0).otherwise(0.0)).as("__resets"),
        sum(when(changed, 1.0).otherwise(0.0)).as("__changes"))
    // irate/idelta need the LAST consecutive pair fully inside the window
    val lastPairIn = col("__lprev_ts").isNotNull &&
      col("__lprev_ts") + offNs > col("t_ns") - rangeNs
    val filtered = fn match {
      case "rate" | "increase" | "delta" => grouped.filter(col("__n") >= 2)
      case "irate" | "idelta"            => grouped.filter(lastPairIn)
      case _                             => grouped
    }
    val idt = (col("__last_ts") - col("__lprev_ts")) / 1e9
    val v = fn match {
      case "rate"     => (col("__last") - col("__first") + col("__reset_comp")) / rangeS
      case "increase" => col("__last") - col("__first") + col("__reset_comp")
      case "delta"    => col("__last") - col("__first")
      case "irate"    => // instantaneous rate over the last pair, reset-aware
        when(col("__last") >= col("__lprev"), col("__last") - col("__lprev"))
          .otherwise(col("__last")) / idt
      case "idelta"   => col("__last") - col("__lprev")
      case "resets"   => col("__resets")
      case "changes"  => col("__changes")
    }
    dropName(filtered.select(col("fingerprint"), col("labels"),
      expr("t_ns div 1000000000").as("ts"), v.as("value")))
  }

  /** histogram_quantile over `le`-labeled cumulative buckets: group by
    * (labels minus le, t), sort buckets, linear interpolation within the
    * hit bucket; +Inf hit returns the highest finite bound (Prometheus).
    */
  private def histogramQuantile(q: Double, inner: DataFrame): DataFrame = {
    val glabels = map_filter(col("labels"), (k, _) => k =!= "le")
    val leD = when(element_at(col("labels"), "le") === "+Inf",
        lit(Double.PositiveInfinity))
      .otherwise(element_at(col("labels"), "le").cast("double"))
    val grouped = inner
      .withColumn("__le", leD) // extract le BEFORE filtering it from labels
      .withColumn("labels", glabels)
      .withColumn("fingerprint", Tables.fingerprintOf(col("labels")))
      .groupBy(col("fingerprint"), col("ts"))
      .agg(first(col("labels")).as("labels"),
        array_sort(collect_list(struct(col("__le").as("le"),
          col("value").as("v")))).as("__bs"))
    // try_element_at: the below-rank array is empty when the quantile falls
    // in the first bucket, and a series may carry only the +Inf bucket —
    // strict element_at throws on both.
    val total = try_element_at(col("__bs"), lit(-1)).getField("v")
    val rank = total * q
    val below = filter(col("__bs"), b => b.getField("v") < rank)
    val hit = try_element_at(filter(col("__bs"), b => b.getField("v") >= rank), lit(1))
    val prevV = coalesce(try_element_at(below, lit(-1)).getField("v"), lit(0.0))
    val lower = coalesce(try_element_at(below, lit(-1)).getField("le"), lit(0.0))
    val hiLe = hit.getField("le")
    val hiV = hit.getField("v")
    val interp = lower + (hiLe - lower) * (rank - prevV) / (hiV - prevV)
    val value = when(total.isNull || total <= 0, lit(null).cast("double"))
      .when(hiLe === Double.PositiveInfinity,
        try_element_at(col("__bs"), lit(-2)).getField("le"))
      .otherwise(interp)
    grouped
      .withColumn("value", value)
      .filter(col("value").isNotNull)
      .select(col("fingerprint"), col("labels"), col("ts"), col("value"))
  }

  // --- vector aggregation ------------------------------------------------

  private def compileAgg(a: Agg): DataFrame = {
    val inner = compileExpr(a.inner)
    a.fn match {
      case "topk" | "bottomk" =>
        val k = a.param.get.toInt
        val tie = to_json(map_from_entries(array_sort(map_entries(col("labels")))))
        val ord = if (a.fn == "topk")
          Seq(col("value").desc, col("__tie").asc)
        else Seq(col("value").asc, col("__tie").asc)
        val withTie = inner.withColumn("__tie", tie)
        val w1 = Window.partitionBy(col("ts"), pmod(col("fingerprint"), lit(64)))
          .orderBy(ord: _*)
        val pruned = withTie.withColumn("__rn", row_number().over(w1))
          .filter(col("__rn") <= k).drop("__rn")
        val w2 = Window.partitionBy(col("ts")).orderBy(ord: _*)
        pruned.withColumn("__rn", row_number().over(w2))
          .filter(col("__rn") <= k).drop("__rn", "__tie")
      case "count_values" =>
        // series count per distinct value; the value's canonical string
        // becomes label `dst` (Go FormatFloat 'f' -1: integers render
        // without a decimal point).
        val dst = a.sparam.get
        val vstr = when(col("value") === floor(col("value")) &&
            abs(col("value")) < 1e15,
          col("value").cast("long").cast("string"))
          .otherwise(col("value").cast("string"))
        val grouped =
          if (a.by.nonEmpty)
            inner.withColumn("labels",
              map_filter(col("labels"), (key, _) => key.isInCollection(a.by)))
          else if (a.without.nonEmpty) {
            val dropKeys = a.without :+ "__name__"
            inner.withColumn("labels",
              map_filter(col("labels"), (key, _) => !key.isInCollection(dropKeys)))
          } else inner.withColumn("labels",
            map().cast(MapType(StringType, StringType)))
        grouped
          .withColumn("labels", map_concat(
            map_filter(col("labels"), (k, _) => k =!= dst),
            map(lit(dst), vstr)))
          .withColumn("fingerprint", Tables.fingerprintOf(col("labels")))
          .groupBy(col("fingerprint"), col("ts"))
          .agg(first(col("labels")).as("labels"),
            count(lit(1)).cast("double").as("value"))
          .select(col("fingerprint"), col("labels"), col("ts"), col("value"))
      case fn =>
        val rekeyed =
          if (a.by.nonEmpty)
            inner.withColumn("labels",
              map_filter(col("labels"), (key, _) => key.isInCollection(a.by)))
          else if (a.without.nonEmpty) {
            val dropKeys = a.without :+ "__name__"
            inner.withColumn("labels",
              map_filter(col("labels"), (key, _) => !key.isInCollection(dropKeys)))
          } else inner.withColumn("labels",
            map().cast(MapType(StringType, StringType)))
        val agg: Column = fn match {
          case "sum"      => sum(col("value"))
          case "min"      => min(col("value"))
          case "max"      => max(col("value"))
          case "avg"      => avg(col("value"))
          case "count"    => count(lit(1)).cast("double")
          case "group"    => first(lit(1.0))
          case "stddev"   => stddev_pop(col("value"))
          case "stdvar"   => var_pop(col("value"))
          case "quantile" => percentile(col("value"), lit(a.param.get))
        }
        rekeyed
          .withColumn("fingerprint", Tables.fingerprintOf(col("labels")))
          .groupBy(col("fingerprint"), col("ts"))
          .agg(first(col("labels")).as("labels"), agg.as("value"))
          .select(col("fingerprint"), col("labels"), col("ts"), col("value"))
    }
  }

  // --- binary operators --------------------------------------------------

  private def arith(op: String, a: Column, b: Column): Column = op match {
    case "+" => a + b
    case "-" => a - b
    case "*" => a * b
    case "/" => a / b
    case "%" => a % b
    case "^" => pow(a, b)
  }

  private def cmp(op: String, a: Column, b: Column): Column = op match {
    case ">"  => a > b
    case ">=" => a >= b
    case "<"  => a < b
    case "<=" => a <= b
    case "==" => a === b
    case "!=" => a =!= b
  }

  private val CmpOps = Set(">", ">=", "<", "<=", "==", "!=")
  private val SetOps = Set("and", "or", "unless")

  private def matchKeyFor(b: BinOp): Column = (b.on, b.ignoring) match {
    case (Some(keys), _) =>
      Tables.fingerprintOf(map_filter(col("labels"),
        (k, _) => k.isInCollection(keys)))
    case (_, Some(ig)) =>
      val dropKeys = ig :+ "__name__"
      Tables.fingerprintOf(map_filter(col("labels"),
        (k, _) => !k.isInCollection(dropKeys)))
    case _ =>
      Tables.fingerprintOf(map_filter(col("labels"),
        (k, _) => k =!= "__name__"))
  }

  /** Vector set operators: and = semi-join on the matching key, unless =
    * anti-join, or = lhs plus rhs series absent from lhs (PromQL one-to-one
    * set semantics per eval point).
    */
  private def compileSetOp(b: BinOp): DataFrame = {
    val key = matchKeyFor(b)
    val lf = compileExpr(b.lhs).withColumn("__mfp", key)
    val rf = compileExpr(b.rhs).withColumn("__mfp", key)
    val out = b.op match {
      case "and" =>
        lf.join(rf.select(col("__mfp"), col("ts")).distinct(),
          Seq("__mfp", "ts"), "left_semi")
      case "unless" =>
        lf.join(rf.select(col("__mfp"), col("ts")).distinct(),
          Seq("__mfp", "ts"), "left_anti")
      case "or" =>
        lf.unionByName(rf.join(
          lf.select(col("__mfp"), col("ts")).distinct(),
          Seq("__mfp", "ts"), "left_anti"))
    }
    out.select(col("fingerprint"), col("labels"), col("ts"), col("value"))
  }

  private def compileBinOp(b: BinOp): DataFrame = if (SetOps(b.op)) compileSetOp(b) else (b.lhs, b.rhs) match {
    case (NumLit(v), rhs) if !CmpOps.contains(b.op) =>
      dropName(compileExpr(rhs).withColumn("value", arith(b.op, lit(v), col("value"))))
    case (lhs, NumLit(v)) if !CmpOps.contains(b.op) =>
      dropName(compileExpr(lhs).withColumn("value", arith(b.op, col("value"), lit(v))))
    case (lhs, NumLit(v)) if CmpOps.contains(b.op) =>
      val df = compileExpr(lhs)
      if (b.boolMod)
        dropName(df.withColumn("value",
          when(cmp(b.op, col("value"), lit(v)), 1.0).otherwise(0.0)))
      else df.filter(cmp(b.op, col("value"), lit(v)))
    case (NumLit(v), rhs) if CmpOps.contains(b.op) =>
      val df = compileExpr(rhs)
      if (b.boolMod)
        dropName(df.withColumn("value",
          when(cmp(b.op, lit(v), col("value")), 1.0).otherwise(0.0)))
      else df.filter(cmp(b.op, lit(v), col("value")))
    case (lhs, rhs) =>
      // vector-vector: one-to-one matching on labels (minus __name__), or
      // the explicit on()/ignoring() set; result keeps lhs labels
      // (arithmetic drops __name__, comparisons keep it). group_left/
      // group_right allow many-to-one and copy the listed labels from the
      // "one" side into the result.
      val matchKey = matchKeyFor(b)
      val lf = compileExpr(lhs).withColumn("__mfp", matchKey)
        .withColumnRenamed("value", "__l")
      val rfBase = compileExpr(rhs).withColumn("__mfp", matchKey)
      val rf = b.group match {
        case Some(_) => rfBase.select(col("__mfp"), col("ts"),
          col("value").as("__r"), col("labels").as("__rlabels"))
        case None => rfBase.select(col("__mfp"), col("ts"), col("value").as("__r"))
      }
      val joined0 = lf.join(rf, Seq("__mfp", "ts"))
      val joined = b.group match {
        case Some(("group_left", extras)) if extras.nonEmpty =>
          // the copied labels OVERWRITE same-named base labels (Prometheus
          // many-to-one semantics), so no duplicate-key throw
          joined0.withColumn("labels", graft.model.MapOps.update(col("labels"),
            map_filter(col("__rlabels"), (k, _) => k.isInCollection(extras))))
        case Some(("group_right", extras)) =>
          val keep = joined0.withColumn("labels",
            if (extras.isEmpty) col("__rlabels")
            else graft.model.MapOps.update(col("__rlabels"),
              map_filter(col("labels"), (k, _) => k.isInCollection(extras))))
          keep.withColumn("fingerprint", Tables.fingerprintOf(col("labels")))
        case _ => joined0
      }
      if (CmpOps.contains(b.op)) {
        val base =
          if (b.boolMod) joined.withColumn("value",
            when(cmp(b.op, col("__l"), col("__r")), 1.0).otherwise(0.0))
          else joined.filter(cmp(b.op, col("__l"), col("__r")))
            .withColumn("value", col("__l"))
        base.select(col("fingerprint"), col("labels"), col("ts"), col("value"))
      } else {
        dropName(joined
          .withColumn("value", arith(b.op, col("__l"), col("__r")))
          .select(col("fingerprint"), col("labels"), col("ts"), col("value")))
      }
  }
}
