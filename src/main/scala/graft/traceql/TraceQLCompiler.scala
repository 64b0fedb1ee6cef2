package graft.traceql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.Store
import TraceQLAst._

/** TraceQL → DataFrame compiler (SURVEY §2.E).
  *
  * Pipeline mirrors `reader/traceql/traceql_transpiler/clickhouse_transpiler`:
  *
  *   1. attr conditions over the exploded span-attr table with the
  *      groupBitOr BITMASK recombination (`attr_condition.go:26-441`):
  *      each leaf term i sets bit i on rows it matches; a per-span
  *      `bit_or(shiftleft(hit_i, i))` aggregate rebuilds the span's term
  *      vector, and the boolean structure is evaluated on the mask — one
  *      scan of the attr table regardless of how many terms
  *   2. span-set aggregator per trace (`aggregator.go:23-76`)
  *   3. structural `&&`/`||` = same-trace semi-join / union
  *      (`complex_and.go`, `complex_or.go`)
  *   4. trace-level synthetics fetch join (`traces_data.go:21-86`)
  *   5. metrics stage rate()/count_over_time() by attrs
  *      (`service/tempo_metrics.go:18-326`)
  *
  * The reference's >10M-row sharded re-execution
  * (`complexity_evaluator.go:31-78`) is obsolete here: the bitmask agg IS
  * a hash shuffle over (trace_id, span_id), which Spark partitions across
  * the cluster natively.
  */
class TraceQLCompiler(spark: SparkSession, dir: String,
    loNs: Long = 0L, hiNs: Long = Long.MaxValue) {

  // `with(sample=N)` hint in effect for the current run() (model_v2.go:
  // 240-261): applied INSIDE the leaf scans so the trace filter sits below
  // the bitmask aggregate and pushes into the parquet scan — the reference
  // injects its RandomFilter into each leaf condition subquery for the same
  // reason (`attr_condition.go:55-72`). Plan construction is single-threaded
  // per compiler instance, so a plain var is safe.
  private var sampleHint: Option[Int] = None

  private def applySample(df: DataFrame): DataFrame =
    sampleHint.fold(df)(n => sampleTraces(df, n))

  // Scans read the materialized store (date-partitioned,
  // (trace_id, span_id)-sorted — Store.ensure) with the query window as a
  // partition-pruning predicate BELOW the bitmask aggregate, mirroring the
  // reference's leaf scan (`clickhouse_transpiler/init.go:21`,
  // `traces.sql:7-32`).
  private def spans: DataFrame =
    applySample(Store.spans(spark, dir, loNs, hiNs).drop("date"))

  private def attrs: DataFrame =
    applySample(Store.spanAttrs(spark, dir, loNs, hiNs).drop("date"))

  private def leaves(c: AttrCond): Seq[AttrCond] = c match {
    case CondAnd(l, r) => leaves(l) ++ leaves(r)
    case CondOr(l, r)  => leaves(l) ++ leaves(r)
    case leaf          => Seq(leaf)
  }

  /** Per-attr-row hit predicate for one leaf term. */
  private def leafHit(c: AttrCond): Column = c match {
    case StrCond(k, op, v) =>
      val m = col("key") === k
      op match {
        case "=" => m && col("val") === v
        case "!=" => m && col("val") =!= v
        case "=~" => m && col("val").rlike("^(?:" + v + ")$")
        case "!~" => m && !col("val").rlike("^(?:" + v + ")$")
        case other => throw new IllegalArgumentException(s"str op $other")
      }
    case NumCond(k, op, v) =>
      val m = col("key") === k
      val n = col("val").cast("double")
      op match {
        case "="  => m && n === v
        case "!=" => m && n =!= v
        case ">"  => m && n > v
        case ">=" => m && n >= v
        case "<"  => m && n < v
        case "<=" => m && n <= v
      }
    case DurCond(op, ns) =>
      val d = col("duration_ns")
      op match {
        case "="  => d === ns
        case "!=" => d =!= ns
        case ">"  => d > ns
        case ">=" => d >= ns
        case "<"  => d < ns
        case "<=" => d <= ns
      }
    // every attr row of a span carries parent_id (GIN carries it since the
    // closure-table rework), so the literal terms evaluate per-row too
    case BoolCond(v) => lit(v)
    case RootCond    => col("parent_id").isNull
    case _ => throw new IllegalStateException("non-leaf")
  }

  /** Boolean structure evaluated over the span's recombined bitmask. */
  private def maskCond(c: AttrCond, idx: Map[AttrCond, Int]): Column = c match {
    case CondAnd(l, r) => maskCond(l, idx) && maskCond(r, idx)
    case CondOr(l, r)  => maskCond(l, idx) || maskCond(r, idx)
    case leaf => expr(s"shiftright(__mask, ${idx(leaf)}) % 2") === 1
  }

  /** Combined bitmask frame for SEVERAL span-set conditions: ONE attrs scan
    * and ONE (trace_id, span_id) hash aggregate carry the leaf bits of all
    * conditions; each span-set is then a mask filter over the shared frame.
    * Catalyst's ReuseExchange dedupes the aggregate's shuffle between the
    * filter branches, so a structural `{a} > {b}` costs one scan + one
    * shuffle instead of two of each (the reference builds exactly one GIN
    * subquery per leaf for the same reason, `attr_condition.go:26-441`).
    */
  private def maskedFrame(conds: Seq[AttrCond]): (DataFrame, Map[AttrCond, Int]) = {
    val ls = conds.flatMap(leaves).distinct
    val idx = ls.zipWithIndex.toMap
    val bits = ls.map(l =>
      when(leafHit(l), shiftleft(lit(1L), idx(l))).otherwise(0L))
    // a span satisfying any positive mask has ≥1 hit row, so non-hit rows
    // can be dropped BEFORE the aggregate: the OR-of-leaves predicate
    // pushes into the parquet scan, where the (key, val) sort order turns
    // it into row-group skipping — the aggregate sees only hit rows
    // (the reference's GIN subqueries select `WHERE key=... AND val...`
    // per leaf for the same reason, attr_condition.go:26-441)
    val hit = ls.map(leafHit).reduce(_ || _)
    val masked = attrs
      .filter(hit)
      .withColumn("__bit", bits.reduce(_ bitwiseOR _))
      .groupBy(col("trace_id"), col("span_id"))
      .agg(bit_or(col("__bit")).as("__mask"),
        first(col("timestamp_ns")).as("timestamp_ns"),
        first(col("duration_ns")).as("duration_ns"),
        first(col("parent_id")).as("parent_id"))
    (masked, idx)
  }

  /** Matched spans of one span-set: (trace_id, span_id, timestamp_ns,
    * duration_ns). One attr scan + one (trace,span) hash agg.
    */
  def spanSetSpans(ss: SpanSet): DataFrame = ss.cond match {
    case None =>
      spans.select(col("trace_id"), col("span_id"),
        col("timestamp_ns"), col("duration_ns"))
    case Some(cond) =>
      val (masked, idx) = maskedFrame(Seq(cond))
      masked.filter(maskCond(cond, idx))
        .select(col("trace_id"), col("span_id"),
          col("timestamp_ns"), col("duration_ns"))
  }

  private def simpleCond(e: TExpr): Option[AttrCond] = e match {
    case Sel(SpanSet(Some(c))) => Some(c)
    case _                     => None
  }

  /** Trace ids matching a structural expression (IndexGroupBy +
    * ComplexAnd/Or).
    */
  def matchingTraces(e: TExpr): DataFrame = e match {
    case Sel(ss) => spanSetSpans(ss).select(col("trace_id")).distinct()
    // operand-level aggregator: traces whose span-set passes its own
    // HAVING (`complex_or.go` over aggregated selectors)
    case AggedSel(ss, agg) =>
      aggregate(Sel(ss), agg).select(col("trace_id"))
    case StructAnd(l, r) => (simpleCond(l), simpleCond(r)) match {
      case (Some(cl), Some(cr)) =>
        // one scan + span agg, then a per-trace bool_or of each mask — no
        // self-join, no duplicated aggregate (the span agg feeds one
        // consumer, so there is nothing to re-execute)
        val (frame, idx) = maskedFrame(Seq(cl, cr))
        frame.groupBy(col("trace_id"))
          .agg(max(maskCond(cl, idx)).as("__a"), max(maskCond(cr, idx)).as("__b"))
          .filter(col("__a") && col("__b"))
          .select(col("trace_id"))
      case _ =>
        matchingTraces(l).join(matchingTraces(r), Seq("trace_id"), "left_semi")
    }
    case StructOr(l, r) => (simpleCond(l), simpleCond(r)) match {
      case (Some(cl), Some(cr)) =>
        val (frame, idx) = maskedFrame(Seq(cl, cr))
        frame.filter(maskCond(cl, idx) || maskCond(cr, idx))
          .select(col("trace_id")).distinct()
      case _ =>
        matchingTraces(l).union(matchingTraces(r)).distinct()
    }
    case StructChild(l, r) => (simpleCond(l), simpleCond(r)) match {
      case (Some(cl), Some(cr)) =>
        // parent(l) → child(r) WITHOUT a self-join: each aggregated span
        // emits a parent-role row keyed by its own span_id and a child-role
        // row keyed by its parent_id; a (trace_id, key) aggregate then
        // looks for both roles on the same key — the edge test becomes a
        // second small aggregate instead of a join over two copies of the
        // span aggregate (which Catalyst cannot dedupe once pruning
        // diverges the branches)
        val (frame, idx) = maskedFrame(Seq(cl, cr))
        val tagged = frame.select(col("trace_id"), explode(array(
            struct(col("span_id").as("j"),
              maskCond(cl, idx).as("isp"), lit(false).as("isc")),
            struct(col("parent_id").as("j"),
              lit(false).as("isp"), maskCond(cr, idx).as("isc")))).as("e"))
          .select(col("trace_id"), col("e.j").as("j"),
            col("e.isp").as("isp"), col("e.isc").as("isc"))
          .filter(col("j").isNotNull && (col("isp") || col("isc")))
        tagged.groupBy(col("trace_id"), col("j"))
          .agg(max(col("isp")).as("__p"), max(col("isc")).as("__c"))
          .filter(col("__p") && col("__c"))
          .select(col("trace_id")).distinct()
      case _ =>
        val parents = structSpans(l)
          .select(col("trace_id"), col("span_id").as("__pid"))
        val children = structSpans(r)
          .join(spans.select(col("trace_id"), col("span_id"), col("parent_id")),
            Seq("trace_id", "span_id"))
        children.join(parents,
            children("trace_id") === parents("trace_id") &&
              children("parent_id") === parents("__pid"))
          .select(children("trace_id")).distinct()
    }
    case StructDescendant(l, r) =>
      // TRUE descendant: r-spans with an l-span among their closure rows
      val (lSp, rSp) = simplePair(l, r, ">>")
      descendants(lSp, rSp).select(col("trace_id")).distinct()

    case StructNotDescendant(l, r) =>
      // traces containing an r-span with NO l-span ancestor: the positive
      // descendant set anti-joined back against the r-spans
      val (lSp, rSp) = simplePair(l, r, "!>>")
      rSp.select(col("trace_id"), col("span_id"))
        .join(descendants(lSp, rSp), Seq("trace_id", "span_id"), "left_anti")
        .select(col("trace_id")).distinct()

    case StructNotAncestor(l, r) =>
      // traces containing an r-span that is NOT an ancestor of any l-span:
      // an r-span IS an ancestor of an l-span ⟺ some l-closure row names
      // its span_id as anc_id — anti-join r-spans against those ids
      val (lSp, rSp) = simplePair(l, r, "<<~")
      val ancIds = closureOf(lSp)
        .select(col("trace_id"), col("anc_id").as("span_id")).distinct()
      rSp.select(col("trace_id"), col("span_id"))
        .join(ancIds, Seq("trace_id", "span_id"), "left_anti")
        .select(col("trace_id")).distinct()
  }

  /** Both sides of a structural op as masked span frames sharing ONE
    * attr scan + aggregate (no self-join).
    */
  private def simplePair(l: TExpr, r: TExpr, op: String): (DataFrame, DataFrame) =
    (simpleCond(l), simpleCond(r)) match {
      case (Some(cl), Some(cr)) =>
        val (frame, idx) = maskedFrame(Seq(cl, cr))
        (frame.filter(maskCond(cl, idx)), frame.filter(maskCond(cr, idx)))
      case _ => throw new IllegalArgumentException(s"$op needs simple span-sets")
    }

  /** (trace_id, span_id) of the r-spans that have an l-span ancestor:
    * the r-spans' closure rows semi-joined against the l-spans on anc_id
    * (one row per matching ancestor; callers dedup or anti-join).
    */
  private def descendants(lSp: DataFrame, rSp: DataFrame): DataFrame =
    closureOf(rSp).alias("t")
      .join(lSp.select(col("trace_id"), col("span_id")).alias("p"),
        col("t.trace_id") === col("p.trace_id") &&
          col("t.anc_id") === col("p.span_id"), "left_semi")
      .select(col("trace_id"), col("span_id"))

  /** Transitive ancestor closure rows (trace_id, span_id, anc_id) of the
    * given spans, read from the ingest-time closure table
    * (Store.ancestorClosure): one semi-join, no iteration.
    */
  private def closureOf(seed: DataFrame): DataFrame =
    Store.ancestors(spark, dir, loNs, hiNs)
      .select(col("trace_id"), col("span_id"), col("anc_id"))
      .join(seed.select(col("trace_id"), col("span_id")),
        Seq("trace_id", "span_id"), "left_semi")

  /** Matched spans of any structural expr (union-of-matches for non-leaf). */
  private def structSpans(e: TExpr): DataFrame = e match {
    case Sel(ss) => spanSetSpans(ss)
    case other =>
      spanSetSpans(SpanSet(None))
        .join(matchingTraces(other), Seq("trace_id"), "left_semi")
  }

  private def cmpCol(c: Column, op: String, v: Double): Column = op match {
    case ">"  => c > v
    case ">=" => c >= v
    case "<"  => c < v
    case "<=" => c <= v
    case "="  => c === v
    case "!=" => c =!= v
  }

  /** Span-set aggregator: per-trace aggregate over the matched spans,
    * kept traces only (`aggregator.go:23-76` HAVING shape). Returns
    * (trace_id, value).
    */
  def aggregate(e: TExpr, agg: SpanAgg): DataFrame = {
    val matched = e match {
      case Sel(ss) => spanSetSpans(ss)
      case other   => // structural expr: aggregate over union of matched spans
        spanSetSpans(SpanSet(None))
          .join(matchingTraces(other), Seq("trace_id"), "left_semi")
    }
    val (withTarget, target) = agg.attr match {
      case None | Some("duration") => (matched, col("duration_ns").cast("double"))
      case Some(a) => // numeric attr aggregation: join the attr value rows
        (matched.join(
          attrs.filter(col("key") === a)
            .select(col("trace_id"), col("span_id"),
              col("val").cast("double").as("__av")),
          Seq("trace_id", "span_id")),
          col("__av"))
    }
    val a: Column = agg.fn match {
      case "count" => countDistinct(col("span_id")).cast("double")
      case "avg"   => avg(target)
      case "min"   => min(target)
      case "max"   => max(target)
      case "sum"   => sum(target)
    }
    withTarget.groupBy(col("trace_id")).agg(a.as("value"))
      .filter(cmpCol(col("value"), agg.op, agg.value))
  }

  /** Trace-level synthetics for matched traces (`traces_data.go:21-86`):
    * start, duration_ms, root service/name (earliest span), span count.
    */
  def traceMeta(e: TExpr): DataFrame = {
    // semi-join dedups by itself — matchingTraces' distinct would add a
    // shuffle for nothing on the plain-selector path
    val ids = e match {
      case Sel(ss) => spanSetSpans(ss).select(col("trace_id"))
      case other   => matchingTraces(other)
    }
    spans.join(ids, Seq("trace_id"), "left_semi")
      .groupBy(col("trace_id"))
      .agg(
        min(col("timestamp_ns")).as("start_ns"),
        ((max(col("timestamp_ns") + col("duration_ns")) -
          min(col("timestamp_ns"))) / 1000000L).cast("long").as("duration_ms"),
        min_by(col("service_name"), col("timestamp_ns")).as("root_service"),
        min_by(col("name"), col("timestamp_ns")).as("root_name"),
        count(lit(1)).as("span_count"))
  }

  /** Legacy tag search (`/api/search` without `q=`): conjunction of
    * `k{=,!=,=~,!~}v` terms over the attr index plus optional duration
    * bounds, one result row per matched SPAN — hex trace id, span's
    * service/name as root_*, start ns, duration ms — newest first,
    * limited (`tempo/sql_index_query.go:13-129` per-tag scans intersected
    * on (trace_id, span_id); `tempo/traces_query.go:11-50` projection,
    * `duration_ms > min`, `<= max`, ORDER BY start DESC LIMIT n;
    * `tempo/tags.go` grammar). Tag terms ride the same bitmask span-set
    * path as TraceQL `{a && b}` — one attr scan, no per-tag subquery.
    * span_id is included as the deterministic tie-break under LIMIT.
    */
  def tagSearch(tags: String, minDurNs: Long = 0, maxDurNs: Long = 0,
      limit: Int = 10): DataFrame = {
    val terms = TempoTagsParser.parseOrThrow(tags)
    require(terms.nonEmpty, "tags must contain at least one term")
    val cond = terms.map { case (k, op, v) => StrCond(k, op, v): AttrCond }
      .reduce(CondAnd(_, _))
    val durMs = expr("duration_ns div 1000000") // intDiv, as traces_query.go:26
    var out = spanSetSpans(SpanSet(Some(cond)))
      .join(spans.select(col("trace_id"), col("span_id"), col("name"),
        col("service_name")), Seq("trace_id", "span_id"))
    if (minDurNs > 0) out = out.filter(durMs > minDurNs / 1000000L)
    if (maxDurNs > 0) out = out.filter(durMs <= maxDurNs / 1000000L)
    // (the reference hex-encodes trace_id at the HTTP layer; kept numeric
    // here — rendering is presentation, not query semantics)
    out.select(
      col("trace_id"),
      col("span_id"),
      col("service_name").as("root_service_name"),
      col("name").as("root_trace_name"),
      col("timestamp_ns").as("start_time_unix_nano"),
      expr("duration_ns div 1000000").as("duration_ms"))
      .orderBy(col("start_time_unix_nano").desc, col("span_id"))
      .limit(limit)
  }

  /** `/api/traces/{id}` point lookup (`service/tempo.go:53-160`). */
  def traceById(traceId: Long): DataFrame =
    spans.filter(col("trace_id") === traceId)
      .select(col("span_id"), col("parent_id"), col("name"),
        col("service_name"), col("timestamp_ns"), col("duration_ns"))

  /** The matched + windowed span frame a metrics query aggregates over:
    * selector-matched spans with intrinsics and any extra group-by attrs
    * pivot-joined on. Shared by `metrics` and `exemplars` so both see the
    * exact same span population (`service/tempo_metrics.go:18-326`).
    */
  private def metricsSpanFrame(e: TExpr, by: Seq[String],
      startNs: Long, endNs: Long): DataFrame = {
    val matched = e match {
      case Sel(ss) => spanSetSpans(ss)
      case other =>
        spanSetSpans(SpanSet(None))
          .join(matchingTraces(other), Seq("trace_id"), "left_semi")
    }
    val intrinsicAttrs = matched.join(
      spans.select(col("trace_id"), col("span_id"), col("name"),
        col("service_name")), Seq("trace_id", "span_id"))
    // grouping attrs beyond the span intrinsics resolve through an attr
    // pivot join, the same `anyIf(val, key=k)` shape as select()
    // (`tempo/metrics_query.go:442-460` buildByPivotCTE)
    val extraBy = by.filterNot(Set("name", "service_name"))
    val withAttrs =
      if (extraBy.isEmpty) intrinsicAttrs
      else {
        val pivots = extraBy.map(k =>
          first(when(col("key") === k, col("val")), ignoreNulls = true).as(k))
        intrinsicAttrs.join(
          attrs.filter(col("key").isin(extraBy: _*))
            .groupBy(col("trace_id"), col("span_id"))
            .agg(pivots.head, pivots.tail: _*),
          Seq("trace_id", "span_id"), "left")
      }
    withAttrs.filter(col("timestamp_ns") >= startNs && col("timestamp_ns") < endNs)
  }

  /** Metrics stage: per-step span rate / count / quantile / histogram
    * grouped by attrs (`tempo_metrics.go:18-326`, histogram buckets
    * `:487-600`). stepS-second tumbling buckets over the span start times.
    * Histogram buckets are power-of-2 duration milliseconds, computed with
    * integer bit-length (no FP log2 — boundary-exact by construction).
    */
  /** Aggregation target resolution (`tempo_metrics.go:110-130`, buildAggExpr
    * in `tempo/metrics_query.go:240-288`): `duration` is the span intrinsic;
    * any other attr is resolved by joining its attr-value rows onto the
    * matched spans — same shape as the span-set aggregator above.
    */
  private def resolveTarget(windowed: DataFrame,
      attr: Option[String]): (DataFrame, Column) = attr match {
    case None | Some("duration") =>
      (windowed, col("duration_ns").cast("double"))
    case Some(a) =>
      (windowed.join(
        attrs.filter(col("key") === a)
          .select(col("trace_id"), col("span_id"),
            col("val").cast("double").as("__av")),
        Seq("trace_id", "span_id")),
        col("__av"))
  }

  def metrics(e: TExpr, m: Metrics, startNs: Long, endNs: Long, stepS: Long): DataFrame = {
    val stepNs = stepS * 1000000000L
    val keyCols = m.by.map(col)
    val bucket = (col("timestamp_ns") - pmod(col("timestamp_ns"), lit(stepNs)))
    val windowed = metricsSpanFrame(e, m.by, startNs, endNs)
    val (withTarget, target) = resolveTarget(windowed, m.attr)
    m.fn match {
      case "rate" | "count_over_time" =>
        val base = windowed
          .groupBy(keyCols :+ bucket.as("bucket_ns"): _*)
          .agg(count(lit(1)).as("__n"))
        val value = m.fn match {
          case "rate"            => col("__n") / stepS.toDouble
          case "count_over_time" => col("__n").cast("double")
        }
        base.select(keyCols ++ Seq(
          expr("bucket_ns div 1000000000").as("ts"), value.as("value")): _*)
      // attr-target aggregations (`tempo/metrics_query.go:23-29`
      // metricsAggFn: avg/min/max/sum over the resolved target column)
      case "avg_over_time" | "min_over_time" | "max_over_time" | "sum_over_time" =>
        val agg = m.fn match {
          case "avg_over_time" => avg(target)
          case "min_over_time" => min(target)
          case "max_over_time" => max(target)
          case "sum_over_time" => sum(target)
        }
        withTarget
          .groupBy(keyCols :+ bucket.as("bucket_ns"): _*)
          .agg(agg.as("value"))
          .select(keyCols ++ Seq(
            expr("bucket_ns div 1000000000").as("ts"), col("value")): _*)
      case "quantile_over_time" =>
        withTarget
          .groupBy(keyCols :+ bucket.as("bucket_ns"): _*)
          .agg(percentile(target, lit(m.param.get)).as("value"))
          .select(keyCols ++ Seq(
            expr("bucket_ns div 1000000000").as("ts"), col("value")): _*)
      case "histogram_over_time" =>
        // power-of-2 bucket of the target (ms for duration, raw value for
        // an attr); SQL expr because Scala shiftleft() takes a literal bit
        // count
        val tLong = m.attr match {
          case None | Some("duration") => expr("duration_ns div 1000000")
          case _                       => target.cast("long")
        }
        withTarget
          .withColumn("__t", tLong)
          .withColumn("le", expr(
            """CASE WHEN __t <= 1 THEN CAST(1 AS BIGINT)
              |ELSE shiftleft(CAST(1 AS BIGINT), length(bin(__t - 1))) END""".stripMargin))
          .groupBy(keyCols ++ Seq(col("le"), bucket.as("bucket_ns")): _*)
          .agg(count(lit(1)).cast("double").as("value"))
          .select(keyCols ++ Seq(col("le"),
            expr("bucket_ns div 1000000000").as("ts"), col("value")): _*)
    }
  }

  /** Instant metrics (`/api/metrics/query`): ONE value per group over the
    * whole [startNs, endNs) window, no time buckets
    * (`service/tempo_metrics.go:326-430`,
    * `tempo/metrics_query.go:143-167` BuildMetricsInstantQuery). rate
    * divides by the window seconds; histogram_over_time returns an empty
    * series list (`tempo_metrics.go:355-357`).
    */
  def metricsInstant(e: TExpr, m: Metrics, startNs: Long, endNs: Long): DataFrame = {
    val windowS = math.max((endNs - startNs) / 1e9, 1.0)
    val keyCols = m.by.map(col)
    val windowed = metricsSpanFrame(e, m.by, startNs, endNs)
    val (withTarget, target) = resolveTarget(windowed, m.attr)
    def grouped(src: DataFrame, v: Column): DataFrame =
      (if (keyCols.isEmpty) src.groupBy() else src.groupBy(keyCols: _*))
        .agg(v.as("value"))
    m.fn match {
      case "rate" =>
        grouped(windowed, count(lit(1)) / windowS)
      case "count_over_time" =>
        grouped(windowed, count(lit(1)).cast("double"))
      case "avg_over_time" => grouped(withTarget, avg(target))
      case "min_over_time" => grouped(withTarget, min(target))
      case "max_over_time" => grouped(withTarget, max(target))
      case "sum_over_time" => grouped(withTarget, sum(target))
      case "quantile_over_time" =>
        grouped(withTarget, percentile(target, lit(m.param.get)))
      case "histogram_over_time" =>
        spark.range(0).select(
          m.by.map(k => lit("").as(k)) :+ lit(0.0).as("value"): _*)
    }
  }

  /** Exemplars for a metrics query: one sampled span per (step bucket,
    * group-by key), returned as (by…, ts, trace_id, dur_ns, span_ts) for
    * the UI to attach `trace:id` links to each series point
    * (`tempo/metrics_query.go:636-720` BuildGenericExemplarsQuery,
    * `service/tempo_metrics.go:191-300`). The reference samples with
    * ClickHouse `any()` (arbitrary row); we take the earliest span per
    * bucket — `row_number` ordered by (timestamp_ns, trace_id, span_id) —
    * so the choice is deterministic and oracle-checkable. Same single
    * shuffle key as the metrics aggregation itself; the rank window is the
    * only extra cost.
    */
  def exemplars(e: TExpr, m: Metrics, startNs: Long, endNs: Long, stepS: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stepNs = stepS * 1000000000L
    val keyCols = m.by.map(col)
    val bucket = (col("timestamp_ns") - pmod(col("timestamp_ns"), lit(stepNs)))
    val w = Window.partitionBy(keyCols :+ col("bucket_ns"): _*)
      .orderBy(col("timestamp_ns"), col("trace_id"), col("span_id"))
    metricsSpanFrame(e, m.by, startNs, endNs)
      .withColumn("bucket_ns", bucket)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(keyCols ++ Seq(
        expr("bucket_ns div 1000000000").as("ts"),
        col("trace_id"),
        col("duration_ns").as("dur_ns"),
        col("timestamp_ns").as("span_ts")): _*)
  }

  /** Second stage `| topk/bottomk(n)` over a metrics frame: rank per eval
    * point (`model_v2.go:259-268`).
    */
  def secondStage(metricsDf: DataFrame, s: SecondStage, tieCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord =
      (if (s.fn == "topk") col("value").desc else col("value").asc) +:
        tieCols.map(col(_).asc)
    val w = Window.partitionBy(col("ts")).orderBy(ord: _*)
    metricsDf.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= s.k).drop("__rn")
  }

  /** `| select(attrs)` second stage (`model_v2.go:259-268`; pivot shape
    * `tempo/metrics_query.go:442-460` buildByPivotCTE `anyIf(val, key=k)`):
    * project the requested attr values as columns onto the matched spans —
    * ONE attrs scan filtered to the requested keys, pivoted per span with
    * first-if, left-joined on (trace_id, span_id). At scale the key filter
    * pushes into the attr scan (sorted by key), so cost is proportional to
    * the selected keys, not the attr table.
    */
  def selectStage(e: TExpr, s: SelectStage): DataFrame = {
    val matched = e match {
      case Sel(ss) => spanSetSpans(ss)
      case other =>
        spanSetSpans(SpanSet(None))
          .join(matchingTraces(other), Seq("trace_id"), "left_semi")
    }
    val pivots = s.attrs.map(k =>
      first(when(col("key") === k, col("val")), ignoreNulls = true).as(k))
    val pivot = attrs.filter(col("key").isin(s.attrs: _*))
      .groupBy(col("trace_id"), col("span_id"))
      .agg(pivots.head, pivots.tail: _*)
    matched.join(pivot, Seq("trace_id", "span_id"), "left")
  }

  /** `with(sample=N)` hint (`model_v2.go:240-261`; RandomFilter
    * `attr_condition.go:55-72` filters `cityHash64(trace_id) %% N == i`):
    * keep a deterministic 1/N of traces. Hash is two overflow-safe Lehmer
    * steps (mod-2^31-1 multiply, h < 2^31 so h*48271 < 2^47 stays in int64)
    * rather than cityHash so any SQL engine can reproduce the exact
    * selection; two rounds so small sequential trace_ids still scatter
    * before the mod-N; deterministic per trace_id so all shards/spans of a
    * trace agree.
    */
  def sampleTraces(df: DataFrame, n: Int, i: Int = 0): DataFrame = {
    val p = 2147483647L
    val h1 = pmod(pmod(col("trace_id"), lit(p)) * 48271L, lit(p))
    val h2 = pmod(h1 * 48271L, lit(p))
    df.filter(h2 % n === i)
  }

  /** Full-query entry point: dispatches the parsed stages — compare /
    * metrics (+ optional topk/bottomk second stage) / span-set aggregate /
    * select() projection / trace synthetics — and consumes `with()` hints
    * (`model_v2.go:9-18` TraceQLScript stage order). Unknown hint keys are
    * rejected rather than silently ignored, so `with(sample=10)` can never
    * return unsampled results without an error.
    */
  def run(q: Query, startNs: Long = loNs, endNs: Long = hiNs,
      stepS: Long = 15L): DataFrame = {
    q.hints.keys.find(_ != "sample").foreach(k =>
      throw new IllegalArgumentException(s"unsupported TraceQL hint: $k"))
    sampleHint = q.hints.get("sample").map(_.toInt).filter(_ > 1)
    try {
      (q.compare, q.metrics, q.agg, q.second) match {
        case (Some(c), _, _, _) => compare(q.expr, c)
        case (_, Some(m), _, sec) =>
          val base = metrics(q.expr, m, startNs, endNs, stepS)
          sec match {
            case Some(s: SecondStage) => secondStage(base, s, m.by)
            case Some(_: SelectStage) => throw new IllegalArgumentException(
              "select() applies to span queries, not metrics frames")
            case None => base
          }
        case (_, _, Some(a), sec) =>
          sec match {
            case Some(s: SelectStage) =>
              // select over kept traces: project attrs onto spans of traces
              // that pass the HAVING (aggregate result is the trace filter)
              selectStage(q.expr, s).join(
                aggregate(q.expr, a).select(col("trace_id")),
                Seq("trace_id"), "left_semi")
            case Some(_: SecondStage) => throw new IllegalArgumentException(
              "topk/bottomk needs a metrics stage")
            case None => aggregate(q.expr, a)
          }
        case (_, _, _, Some(s: SelectStage)) => selectStage(q.expr, s)
        case (_, _, _, Some(_: SecondStage)) => throw new IllegalArgumentException(
          "topk/bottomk needs a metrics stage")
        case _ => traceMeta(q.expr)
      }
    } finally sampleHint = None
  }

  /** `| compare({sel}, topN)` (`tempo_metrics.go:658-830`): split the
    * matched spans into selection (also matching `sel`) vs baseline, count
    * every (attr key, value) on both sides, emit the top-N attr pairs by
    * selection count (deterministic key/val tiebreak).
    */
  def compare(e: TExpr, c: CompareStage): DataFrame = c.baselineFromNs match {
    case Some(bFrom) =>
      // explicit baseline window (metrics_query.go:748-758): the baseline
      // (all-spans) set evaluates over [bFrom, bTo) through a compiler
      // pinned to that window; the selection keeps the request window.
      // Spans in the baseline set are then classified by selection
      // membership — countIf(sel)/countIf(!sel), as BuildCompareQuery does
      val bl = new TraceQLCompiler(spark, dir, bFrom,
        c.baselineToNs.getOrElse(hiNs))
      val base = e match {
        case Sel(ss) => bl.spanSetSpans(ss)
        case other => bl.spanSetSpans(SpanSet(None))
          .join(bl.matchingTraces(other), Seq("trace_id"), "left_semi")
      }
      val selection = spanSetSpans(c.sel)
        .select(col("trace_id"), col("span_id"))
        .withColumn("__sel", lit(true))
      val marked = base.select(col("trace_id"), col("span_id"))
        .join(selection, Seq("trace_id", "span_id"), "left")
        .select(col("trace_id"), col("span_id"),
          coalesce(col("__sel"), lit(false)).as("__sel"))
      bl.attrs.join(marked, Seq("trace_id", "span_id"))
        .groupBy(col("key"), col("val"))
        .agg(sum(when(col("__sel"), 1L).otherwise(0L)).as("sel_count"),
          sum(when(col("__sel"), 0L).otherwise(1L)).as("baseline_count"))
        .orderBy(col("sel_count").desc, col("key"), col("val"))
        .limit(c.topN)
    case None => compareSameWindow(e, c)
  }

  private def compareSameWindow(e: TExpr, c: CompareStage): DataFrame =
    (simpleCond(e), c.sel.cond) match {
    case (Some(ce), Some(cs)) =>
      // one combined mask agg marks each base span as selected-or-not; one
      // attrs join then counts both sides in a single aggregation — the
      // old shape ran two span-set aggs, two attr semi-joins and a count
      // join (6 scans); this runs 2 scans and 1 join
      val (frame, idx) = maskedFrame(Seq(ce, cs))
      val marked = frame.filter(maskCond(ce, idx))
        .select(col("trace_id"), col("span_id"),
          maskCond(cs, idx).as("__sel"))
      attrs.join(marked, Seq("trace_id", "span_id"))
        .groupBy(col("key"), col("val"))
        .agg(count(lit(1)).as("__base"),
          sum(when(col("__sel"), 1L).otherwise(0L)).as("sel_count"))
        .select(col("key"), col("val"), col("sel_count"),
          (col("__base") - col("sel_count")).as("baseline_count"))
        .orderBy(col("sel_count").desc, col("key"), col("val"))
        .limit(c.topN)
    case _ =>
      val base = e match {
        case Sel(ss) => spanSetSpans(ss)
        case other =>
          spanSetSpans(SpanSet(None))
            .join(matchingTraces(other), Seq("trace_id"), "left_semi")
      }
      val selected = base.join(
        spanSetSpans(c.sel).select(col("trace_id"), col("span_id")),
        Seq("trace_id", "span_id"), "left_semi")
      val baseAttrs = attrs.join(base.select(col("trace_id"), col("span_id")),
        Seq("trace_id", "span_id"), "left_semi")
      val selAttrs = attrs.join(selected.select(col("trace_id"), col("span_id")),
        Seq("trace_id", "span_id"), "left_semi")
      val selCnt = selAttrs.groupBy(col("key"), col("val"))
        .agg(count(lit(1)).as("sel_count"))
      val baseCnt = baseAttrs.groupBy(col("key"), col("val"))
        .agg(count(lit(1)).as("base_count"))
      baseCnt.join(selCnt, Seq("key", "val"), "left")
        .select(col("key"), col("val"),
          coalesce(col("sel_count"), lit(0L)).as("sel_count"),
          (col("base_count") - coalesce(col("sel_count"), lit(0L))).as("baseline_count"))
        .orderBy(col("sel_count").desc, col("key"), col("val"))
        .limit(c.topN)
  }

  /** Tag-value autocomplete (`select_values_planner.go:13`). */
  def tagValues(key: String): DataFrame =
    attrs.filter(col("key") === key).select(col("val")).distinct()

  /** Tag-NAME autocomplete (`/api/search/tags`,
    * `select_tags_planner.go`): distinct attr keys in the window.
    */
  def tagNames(): DataFrame =
    attrs.select(col("key")).distinct()

  /** v2 selector-scoped tag autocomplete (`/api/v2/search/tags?q={...}`,
    * `expression_planner_simple.go:38-57` tagsV2Planner): distinct attr
    * keys of the spans matching the selector — the same bitmask leaf plan
    * as a search, with the attr scan semi-joined on its result. No
    * selector → the unscoped v1 dictionary scan.
    */
  def tagNamesV2(sel: Option[SpanSet]): DataFrame = sel match {
    case None => tagNames()
    case Some(ss) =>
      attrs.join(spanSetSpans(ss).select(col("trace_id"), col("span_id")),
          Seq("trace_id", "span_id"), "left_semi")
        .select(col("key")).distinct()
  }

  /** v2 selector-scoped tag-VALUE autocomplete
    * (`/api/v2/search/tag/{tag}/values?q={...}`, valuesV2Planner
    * `expression_planner_simple.go:59-80`).
    */
  def tagValuesV2(key: String, sel: Option[SpanSet]): DataFrame = sel match {
    case None => tagValues(key)
    case Some(ss) =>
      attrs.filter(col("key") === key)
        .join(spanSetSpans(ss).select(col("trace_id"), col("span_id")),
          Seq("trace_id", "span_id"), "left_semi")
        .select(col("val")).distinct()
  }
}
