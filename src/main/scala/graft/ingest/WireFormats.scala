package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.{MapOps, Tables}

/** Wire-format decoders for the remaining ingest surface (SURVEY §2.A,
  * `writer/utils/unmarshal/`). Each decoder turns a DataFrame of request
  * bodies into canonical rows — single-pass `from_json`/regex plans, no
  * UDFs, parallel over request rows. The protobuf-framed variants
  * (Prometheus remote-write snappy, pprof gzip) need codec libraries this
  * container doesn't ship; their JSON twins below carry the same
  * normalization logic the reference applies after unframing.
  */
object WireFormats {

  // --- OTLP/HTTP JSON logs (`otlplogs.go:1-165`) --------------------------

  private val otlpLeafValue = StructType(Seq(
    StructField("stringValue", StringType),
    StructField("intValue", StringType),
    StructField("doubleValue", DoubleType),
    StructField("boolValue", BooleanType),
    // OTLP/JSON already carries bytesValue base64-encoded, which is exactly
    // SanitizeValue's rendering (`otlplogs.go:126-127`) — passthrough
    StructField("bytesValue", StringType)))

  /** AnyValue with BOUNDED recursion: `from_json` needs a closed schema,
    * so kvlist/array values nest [[OtlpNestDepth]] levels (real OTel SDKs
    * emit 1-2: a resource attr holding a kvlist of scalars/arrays);
    * anything deeper than the bound decodes as null and renders "" —
    * the documented depth cutoff of the reference's unbounded Go
    * recursion (`otlplogs.go:116-145`, `otlp.go:130-152`).
    */
  private val OtlpNestDepth = 3

  private def anyValueSchema(depth: Int): StructType =
    if (depth <= 0) otlpLeafValue
    else StructType(otlpLeafValue.fields.toSeq ++ Seq(
      StructField("kvlistValue", StructType(Seq(
        StructField("values", ArrayType(StructType(Seq(
          StructField("key", StringType),
          StructField("value", anyValueSchema(depth - 1))))))))),
      StructField("arrayValue", StructType(Seq(
        StructField("values", ArrayType(anyValueSchema(depth - 1))))))))

  private val otlpAnyValue = anyValueSchema(OtlpNestDepth)

  private val otlpAttr = StructType(Seq(
    StructField("key", StringType),
    StructField("value", otlpAnyValue)))

  /** Shortest-round-trip digits + exponent of a double, derived from the
    * JVM's `Double.toString` (same shortest-digits contract as Go's
    * strconv): ("-", "123", 45) for -1.23e45. Only evaluated on the
    * extreme-magnitude branches where Java always renders E-form
    * (|x| >= 1e20 or 0 < |x| < 1e-18 ⇒ decimal exponent outside [-3, 7)).
    */
  private def javaEForm(d: org.apache.spark.sql.Column) = {
    val s = d.cast("string")
    val expStr = regexp_extract(s, "E(-?[0-9]+)$", 1)
    (when(d < 0, "-").otherwise(""),
      regexp_replace(regexp_replace(
        regexp_extract(s, "^-?([0-9.]+)E", 1), "\\.", ""), "0+$", ""),
      // NaN/Infinity render with no E-form: the empty extract must become
      // null, not an ANSI cast error that would fail the whole decode batch
      when(expStr =!= "", expStr).cast("int"))
  }

  /** Go `strconv.FormatFloat(f, 'f', -1, 64)` (`otlplogs.go:125`): plain
    * decimal, shortest round-trip digits, NEVER scientific notation —
    * 3.0 renders "3", 1e21 renders "1" + 21 zeros, 5e-20 renders
    * "0.00000000000000000005". The decimal(38,18) bridge covers the common
    * band; the extreme bands are reconstructed from the JVM's shortest
    * E-form digits.
    */
  private def goFloatStr(d: org.apache.spark.sql.Column) = {
    val (sign, digits, expn) = javaEForm(d)
    when(abs(d) < 9e18 && d === floor(d), d.cast("long").cast("string"))
      // 0 < |x| < 1e-18: below decimal(38,18) resolution — "0." + zeros + digits
      .when(abs(d) < 1e-18 && d =!= 0.0,
        concat(sign, lit("0."), repeat(lit("0"), -expn - 1), digits))
      .when(abs(d) < 1e20, regexp_replace(
        d.cast(DecimalType(38, 18)).cast("string"), "\\.?0+$", ""))
      // |x| >= 1e20: always integral (2^53 << 1e20) → digits + zero-pad
      .when(!isnan(d) && !d.isin(
          Double.PositiveInfinity, Double.NegativeInfinity),
        concat(sign, rpad(digits, expn + 1, lit("0"))))
      .otherwise(d.cast("string")) // NaN/Inf: Go renders NaN/+Inf/-Inf — rare, keep Java's
  }

  /** Go `%v` / `FormatFloat('g', -1, 64)` — the rendering go-logfmt gives
    * float field values on the Influx message path (`influx.go:17-27` via
    * `logfmt.Encoder`): plain shortest decimal inside [1e-4, 1e21),
    * scientific `1.5e+21` / `2.5e-05` outside (exponent sign always
    * present for positives, padded to two digits — Go strconv 'g'
    * shortest semantics).
    */
  private[ingest] def goFloatStrG(d: org.apache.spark.sql.Column) = {
    val (sign, digits, expn) = javaEForm(d)
    // Go 'g' e-form: one digit, point, rest; exponent signed + 2-digit pad
    val mant = when(length(digits) > 1,
        concat(substring(digits, 1, 1), lit("."), substring(digits, 2, 32)))
      .otherwise(digits)
    val eform = concat(sign, mant, lit("e"),
      when(expn < 0, "-").otherwise("+"),
      lpad(abs(expn).cast("string"), 2, "0"))
    when(abs(d) >= 1e21 || (d =!= 0.0 && abs(d) < 1e-4), eform)
      .otherwise(goFloatStr(d))
  }

  /** `SanitizeKey` (`otlplogs.go:103-114`): non-[a-zA-Z0-9_] → `_`, and a
    * leading digit (or empty key) gains a `_` prefix.
    */
  private def sanitizeKey(k: org.apache.spark.sql.Column) = {
    val s = regexp_replace(k, "[^a-zA-Z0-9_]", "_")
    val first = substring(s, 1, 1)
    // fast path: well-formed keys (the overwhelming majority) pass one
    // rlike and skip the replace/prefix chain entirely
    when(k.rlike("^[a-zA-Z_][a-zA-Z0-9_]*$"), k)
      .when(s === "" || (first >= "0" && first <= "9"), concat(lit("_"), s))
      .otherwise(s)
  }

  private def leafStr(v: org.apache.spark.sql.Column) =
    coalesce(v.getField("stringValue"), v.getField("intValue"),
      goFloatStr(v.getField("doubleValue")),
      v.getField("boolValue").cast("string"),
      v.getField("bytesValue"))

  /** AnyValue → string (`otlplogs.go:116-145` SanitizeValue), RECURSIVE to
    * the schema's depth bound: scalars render Go-style; kvlist → JSON
    * object with SORTED sanitized keys (Go `json.Marshal` of a map built
    * with SanitizeKey — last-wins on keys that collide after
    * sanitization, never an error); array → JSON array of recursively
    * rendered values (unsupported kinds render ""). Beyond the depth
    * bound a nested value decodes as null and renders "".
    */
  private def sanitizeValueStr(v: org.apache.spark.sql.Column,
      depth: Int): org.apache.spark.sql.Column =
    if (depth <= 0) coalesce(leafStr(v), lit(""))
    else coalesce(
      leafStr(v),
      when(v.getField("kvlistValue").isNotNull, to_json(map_from_entries(
        array_sort(map_entries(MapOps.entriesToMapLastWins(
          transform(v.getField("kvlistValue").getField("values"),
            kv => map(sanitizeKey(kv.getField("key")),
              sanitizeValueStr(kv.getField("value"), depth - 1))))))))),
      when(v.getField("arrayValue").isNotNull, to_json(
        transform(v.getField("arrayValue").getField("values"),
          x => sanitizeValueStr(x, depth - 1)))),
      lit(""))

  /** Body AnyValue → line string: the same SanitizeValue rendering.
    * Composed spec form of [[bodyStr]] (differential-tested).
    */
  private[graft] def bodyStrSpec(b: org.apache.spark.sql.Column) =
    sanitizeValueStr(b, OtlpNestDepth)

  private def bodyStr(b: org.apache.spark.sql.Column) =
    coalesce(graft.functions.OtlpSanitize.anyValueStr(b), lit(""))

  private val otlpLogRecord = StructType(Seq(
    StructField("timeUnixNano", StringType),
    StructField("observedTimeUnixNano", StringType),
    StructField("severityText", StringType),
    StructField("traceId", StringType),
    StructField("spanId", StringType),
    StructField("body", otlpAnyValue),
    StructField("attributes", ArrayType(otlpAttr))))

  private val otlpScopeLogs = StructType(Seq(
    StructField("scope", StructType(Seq(
      StructField("attributes", ArrayType(otlpAttr))))),
    StructField("logRecords", ArrayType(otlpLogRecord))))

  private val otlpResourceLogs = StructType(Seq(
    StructField("resource", StructType(Seq(
      StructField("attributes", ArrayType(otlpAttr))))),
    StructField("scopeLogs", ArrayType(otlpScopeLogs))))

  val otlpLogsSchema: StructType = StructType(Seq(
    StructField("resourceLogs", ArrayType(otlpResourceLogs))))

  /** `arr`, or an empty array of `elem` when it is null. The OTLP decoders
    * flatten nested arrays inside one projection, and `flatten` turns its
    * whole result null on one null element, where a per-level `explode`
    * only skipped that element.
    */
  private def orEmpty(arr: Column, elem: DataType): Column =
    coalesce(arr, array().cast(ArrayType(elem)))

  private def attrsOf(c: Column): Column =
    orEmpty(c.getField("attributes"), otlpAttr)

  /** Duplicate attr keys dedupe last-wins (Go map assignment in the
    * reference's attr loops) — map_from_entries would throw
    * DUPLICATED_MAP_KEY on such input and fail the whole decode batch.
    */
  private[graft] def attrsToMapSpec(attrs: org.apache.spark.sql.Column) =
    MapOps.entriesToMapLastWins(transform(attrs, a =>
      map(a.getField("key"), leafStr(a.getField("value")))))

  private def attrsToMap(attrs: org.apache.spark.sql.Column) =
    graft.functions.OtlpSanitize.plainAttrs(attrs)

  private val emptyEntryArr =
    array().cast(ArrayType(MapType(StringType, StringType)))

  /** TRACE-attr flattening (`otlp.go:130-160` writeAttrValue /
    * initAttributesMap): nested kvlist values flatten with dotted key
    * prefixes, array values with `.<index>` keys; scalars render via fmt —
    * bools `%v`, doubles `%f` (fixed six decimals), ints `%d`; bytesValue
    * has NO case in the reference's switch and is dropped. Depth-bounded
    * like the schema; collisions last-win (Go map assignment).
    */
  private def traceAttrEntries(key: org.apache.spark.sql.Column,
      v: org.apache.spark.sql.Column, depth: Int): org.apache.spark.sql.Column = {
    val scalar = coalesce(
      v.getField("stringValue"), v.getField("intValue"),
      when(v.getField("doubleValue").isNotNull,
        format_string("%f", v.getField("doubleValue"))),
      v.getField("boolValue").cast("string"))
    val leaf = when(scalar.isNotNull, array(map(key, scalar)))
    if (depth <= 0) coalesce(leaf, emptyEntryArr)
    else coalesce(
      leaf,
      when(v.getField("kvlistValue").isNotNull,
        flatten(transform(v.getField("kvlistValue").getField("values"),
          kv => traceAttrEntries(
            concat(key, lit("."), kv.getField("key")),
            kv.getField("value"), depth - 1)))),
      when(v.getField("arrayValue").isNotNull,
        flatten(transform(v.getField("arrayValue").getField("values"),
          (x, i) => traceAttrEntries(
            concat(key, lit("."), i.cast("string")), x, depth - 1)))),
      emptyEntryArr)
  }

  /** Composed-HOF executable spec of the trace-attr flattening — kept for
    * the OtlpBodySpec differential test; the decode path runs the native
    * one-pass [[graft.functions.TraceAttrs.flatten]] (the recursive
    * transform/flatten/coalesce tree here is interpreted per element and
    * ran twice per span).
    */
  private[graft] def traceAttrsToMapSpec(attrs: org.apache.spark.sql.Column) =
    MapOps.entriesToMapLastWins(flatten(transform(attrs, a =>
      traceAttrEntries(a.getField("key"), a.getField("value"), OtlpNestDepth))))

  private def traceAttrsToMap(attrs: org.apache.spark.sql.Column) =
    graft.functions.TraceAttrs.flatten(attrs)

  /** LOG-label flattening (`otlplogs.go:98-101` writeAttrValue): keys pass
    * through SanitizeKey, values through SanitizeValue (unsupported kinds
    * → ""), collisions last-win (Go map assignment). Traces/metrics keep
    * raw dotted keys — the reference sanitizes only on the logs path.
    * Staged as transform-then-fold so the sanitize regexes run once per
    * attr, not once per (attr, lambda-capture) pair.
    */
  private[graft] def attrsToMapSanitizedSpec(attrs: org.apache.spark.sql.Column) =
    MapOps.entriesToMapLastWins(transform(attrs, a =>
      map(sanitizeKey(a.getField("key")),
        sanitizeValueStr(a.getField("value"), OtlpNestDepth))))

  private def attrsToMapSanitized(attrs: org.apache.spark.sql.Column) =
    graft.functions.OtlpSanitize.sanitizedAttrs(attrs)

  /** OTLP logs → (fingerprint, timestamp_ns, labels, line) per
    * `otlplogs.go:22-90`: resource, scope, and record attributes merge
    * into the label set in that order (later wins), severityText becomes
    * the `level` label when non-empty, and the first-class traceId/spanId
    * record fields (32/16 hex chars, nonzero) override any same-named
    * attribute. Timestamps fall back to observedTimeUnixNano when
    * timeUnixNano is 0/absent (the reference's final now() fallback is
    * nondeterministic and intentionally omitted — such rows keep null).
    */
  def decodeOtlpLogs(bodies: DataFrame): DataFrame = {
    def idLabel(c: Column, hexLen: Int) =
      when(c.rlike(s"^[0-9a-fA-F]{$hexLen}$$") && c.rlike("[1-9a-fA-F]"),
        lower(c))
    // one projection flattens resource → scope → record into small
    // per-record structs, exploded once (see [[decodeOtlpMetrics]]); each
    // attr map is folded once at its own level — the resource map per
    // resource, the scope map per scope — and only copied per record
    val resources = transform(orEmpty(from_json(col("body"), otlpLogsSchema)
        .getField("resourceLogs"), otlpResourceLogs), rl =>
      struct(attrsToMapSanitized(attrsOf(rl.getField("resource"))).as("res"),
        orEmpty(rl.getField("scopeLogs"), otlpScopeLogs).as("sls")))
    val records = flatten(transform(resources, rl => flatten(transform(
      transform(rl.getField("sls"), sl => struct(
        attrsToMapSanitized(attrsOf(sl.getField("scope"))).as("scopeAttrs"),
        orEmpty(sl.getField("logRecords"), otlpLogRecord).as("recs"))),
      sl => transform(sl.getField("recs"), r => {
        val t = r.getField("timeUnixNano").cast("long")
        struct(rl.getField("res").as("res"),
          sl.getField("scopeAttrs").as("scopeAttrs"),
          attrsToMapSanitized(attrsOf(r)).as("recAttrs"),
          map_filter(map(
            lit("level"), when(r.getField("severityText") =!= "",
              r.getField("severityText")),
            lit("trace_id"), idLabel(r.getField("traceId"), 32),
            lit("span_id"), idLabel(r.getField("spanId"), 16)),
            (_, v) => v.isNotNull).as("overrides"),
          when(t.isNotNull && t =!= 0, t)
            .otherwise(r.getField("observedTimeUnixNano").cast("long"))
            .as("timestamp_ns"),
          bodyStr(r.getField("body")).as("line"))
      })))))
    bodies
      .select(explode(records).as("r"))
      // the merge reads each staged map as a field of the exploded struct,
      // never as an inline attr-map subtree (see DecodePlanSpec)
      .select(
        MapOps.update(MapOps.update(MapOps.update(
          col("r.res"), col("r.scopeAttrs")), col("r.recAttrs")),
          col("r.overrides")).as("labels"),
        col("r.timestamp_ns").as("timestamp_ns"), col("r.line").as("line"))
      .withColumn("fingerprint", Tables.fingerprintOf(col("labels")))
  }

  // --- OTLP/HTTP JSON traces (`otlp.go:18-166`) ---------------------------

  private val otlpSpan = StructType(Seq(
    StructField("traceId", StringType),
    StructField("spanId", StringType),
    StructField("parentSpanId", StringType),
    StructField("name", StringType),
    StructField("kind", StringType),
    StructField("startTimeUnixNano", StringType),
    StructField("endTimeUnixNano", StringType),
    StructField("attributes", ArrayType(otlpAttr)),
    StructField("status", StructType(Seq(
      StructField("code", StringType))))))

  private val otlpScopeSpans = StructType(Seq(
    StructField("spans", ArrayType(otlpSpan))))

  private val otlpResourceSpans = StructType(Seq(
    StructField("resource", StructType(Seq(
      StructField("attributes", ArrayType(otlpAttr))))),
    StructField("scopeSpans", ArrayType(otlpScopeSpans))))

  val otlpTracesSchema: StructType = StructType(Seq(
    StructField("resourceSpans", ArrayType(otlpResourceSpans))))

  /** First non-empty of the preference chain in `m`, else `dflt`
    * (`otlpGetServiceNames`, writer `otlp.go:27-58`).
    */
  private def firstNonEmpty(m: org.apache.spark.sql.Column,
      chain: Seq[String], dflt: String) =
    coalesce(chain.map(k =>
      when(element_at(m, k) =!= "", element_at(m, k))) :+ lit(dflt): _*)

  /** OTLP traces → canonical span rows, mirroring the writer's decode
    * (`otlp.go:60-125`): resource attributes are appended after the span
    * attr set and the map fold last-wins (resource attrs win on key
    * conflicts; chain lookups stay first-occurrence = span-first),
    * `service.name`/`remoteService.name` are filled
    * from the preference chain when absent (peer.service > service.name >
    * faas.name > k8s.deployment.name > process.executable.name; local
    * defaults to "OTLPResourceNoServiceName"), and span status/kind become
    * the `status` (error/ok/unset) and `kind` (server/client/producer/
    * consumer/internal) attrs. `service_name` = the final `service.name`.
    * Enum fields accept both OTLP/JSON spellings (int and name).
    */
  def decodeOtlpTraces(bodies: DataFrame): DataFrame = {
    val statusStr =
      when(col("s.status.code").isin("2", "STATUS_CODE_ERROR"), "error")
        .when(col("s.status.code").isin("1", "STATUS_CODE_OK"), "ok")
        .otherwise("unset")
    val kindStr =
      when(col("s.kind").isin("2", "SPAN_KIND_SERVER"), "server")
        .when(col("s.kind").isin("3", "SPAN_KIND_CLIENT"), "client")
        .when(col("s.kind").isin("4", "SPAN_KIND_PRODUCER"), "producer")
        .when(col("s.kind").isin("5", "SPAN_KIND_CONSUMER"), "consumer")
        .otherwise("internal")
    val localChain = Seq("peer.service", "service.name", "faas.name",
      "k8s.deployment.name", "process.executable.name")
    // one projection flattens resource → scope → span into small per-span
    // structs, exploded once (see [[decodeOtlpMetrics]]); the resource
    // attr map is folded once per resource and only copied per span
    val resources = transform(orEmpty(from_json(col("body"), otlpTracesSchema)
        .getField("resourceSpans"), otlpResourceSpans), rs =>
      struct(traceAttrsToMap(attrsOf(rs.getField("resource"))).as("res"),
        orEmpty(rs.getField("scopeSpans"), otlpScopeSpans).as("sss")))
    val spans = flatten(transform(resources, rs => flatten(transform(
      rs.getField("sss"), ss =>
        transform(orEmpty(ss.getField("spans"), otlpSpan), s => struct(
          rs.getField("res").as("res"),
          traceAttrsToMap(attrsOf(s)).as("spanAttrs"),
          s.getField("traceId").as("traceId"),
          s.getField("spanId").as("spanId"),
          s.getField("parentSpanId").as("parentSpanId"),
          s.getField("name").as("name"),
          s.getField("kind").as("kind"),
          s.getField("startTimeUnixNano").as("startTimeUnixNano"),
          s.getField("endTimeUnixNano").as("endTimeUnixNano"),
          s.getField("status").as("status")))))))
    bodies
      .select(explode(spans).as("s"))
      // the reference appends resource attrs AFTER span attrs (otlp.go:81)
      // and reads them two ways: getOtlpAttr takes the FIRST occurrence
      // (span-first — the service-name chain, otlp.go:18-24), while the
      // attrsMap fold is Go map assignment over the appended list
      // (LAST occurrence wins — resource wins, otlp.go:154-160)
      .withColumn("spanFirst", MapOps.update(col("s.res"), col("s.spanAttrs")))
      .withColumn("merged", MapOps.update(col("s.spanAttrs"), col("s.res")))
      .withColumn("withServ", MapOps.update(
        map(lit("service.name"),
            firstNonEmpty(col("spanFirst"), localChain, "OTLPResourceNoServiceName"),
          lit("remoteService.name"),
            firstNonEmpty(col("spanFirst"), localChain.tail, "")),
        col("merged")))
      .select(
        col("s.traceId").as("trace_id_hex"),
        col("s.spanId").as("span_id_hex"),
        col("s.parentSpanId").as("parent_id_hex"),
        col("s.name").as("name"),
        element_at(col("withServ"), "service.name").as("service_name"),
        col("s.startTimeUnixNano").cast("long").as("timestamp_ns"),
        (col("s.endTimeUnixNano").cast("long") -
          col("s.startTimeUnixNano").cast("long")).as("duration_ns"),
        MapOps.update(col("withServ"),
          map(lit("name"), coalesce(col("s.name"), lit("")),
            lit("status"), statusStr, lit("kind"), kindStr)).as("attrs"))
  }

  // --- OTLP/HTTP JSON metrics (`writer/metric/`, remote-write analog) -----

  private val otlpDataPoint = StructType(Seq(
    StructField("timeUnixNano", StringType),
    StructField("asDouble", DoubleType),
    StructField("asInt", StringType),
    StructField("attributes", ArrayType(otlpAttr))))

  private val otlpMetric = StructType(Seq(
    StructField("name", StringType),
    StructField("gauge", StructType(Seq(
      StructField("dataPoints", ArrayType(otlpDataPoint))))),
    StructField("sum", StructType(Seq(
      StructField("dataPoints", ArrayType(otlpDataPoint)))))))

  private val otlpScopeMetrics = StructType(Seq(
    StructField("metrics", ArrayType(otlpMetric))))

  private val otlpResourceMetrics = StructType(Seq(
    StructField("resource", StructType(Seq(
      StructField("attributes", ArrayType(otlpAttr))))),
    StructField("scopeMetrics", ArrayType(otlpScopeMetrics))))

  val otlpMetricsSchema: StructType = StructType(Seq(
    StructField("resourceMetrics", ArrayType(otlpResourceMetrics))))

  /** OTLP metrics → canonical samples: gauge and sum data points flatten
    * identically; labels = resource attrs + data-point attrs + __name__.
    *
    * The bounded-recursion AnyValue makes the parsed body a struct of
    * thousands of nested fields, far past `spark.sql.codegen.maxFields`.
    * A plan node that OUTPUTS such a struct — an `explode` per nesting
    * level emitting `rm`/`sm`/`m` — falls out of whole-stage codegen, and
    * its fallback projection is then generated and compiled for that
    * struct in every task, a fixed cost of hundreds of ms per push
    * whatever its size. So the body is parsed and flattened inside ONE
    * projection: nested `transform`/`flatten` build an array of small
    * per-point structs, and only that array is exploded. The resource
    * attr map is folded once per resource (the outer transform pairs it
    * with the resource's scopes) and only copied per point.
    */
  def decodeOtlpMetrics(bodies: DataFrame): DataFrame = {
    val resources = transform(orEmpty(from_json(col("body"),
        otlpMetricsSchema).getField("resourceMetrics"), otlpResourceMetrics),
      rm => struct(attrsToMap(attrsOf(rm.getField("resource"))).as("res"),
        orEmpty(rm.getField("scopeMetrics"), otlpScopeMetrics).as("sms")))
    def points(m: Column, kind: String) =
      orEmpty(m.getField(kind).getField("dataPoints"), otlpDataPoint)
    val samples = flatten(transform(resources, rm => flatten(transform(
      rm.getField("sms"), sm => flatten(transform(
        orEmpty(sm.getField("metrics"), otlpMetric), m => transform(
          concat(points(m, "gauge"), points(m, "sum")), dp => struct(
            rm.getField("res").as("res"),
            m.getField("name").as("name"),
            attrsToMap(attrsOf(dp)).as("dpAttrs"),
            dp.getField("timeUnixNano").cast("long").as("timestamp_ns"),
            coalesce(dp.getField("asDouble"),
              dp.getField("asInt").cast("double")).as("value")))))))))
    bodies
      .select(explode(samples).as("p"))
      // the merge reads each staged map as a field of the exploded struct,
      // never as an inline attr-map subtree (see DecodePlanSpec)
      .select(
        MapOps.update(MapOps.update(col("p.res"), col("p.dpAttrs")),
          map(lit("__name__"), col("p.name"))).as("labels"),
        col("p.timestamp_ns").as("timestamp_ns"), col("p.value").as("value"))
      .withColumn("fingerprint", Tables.fingerprintOf(col("labels")))
  }

  // --- Datadog logs JSON (`datadog_json.go`) ------------------------------

  val datadogLogsSchema: ArrayType = ArrayType(StructType(Seq(
    StructField("message", StringType),
    StructField("ddsource", StringType),
    StructField("ddtags", StringType),
    StructField("hostname", StringType),
    StructField("service", StringType),
    StructField("timestamp", LongType), // ms
    StructField("source_type", StringType))))

  /** Datadog log batches → canonical rows (`datadog_json.go:25-96`):
    * `ddtags` parse with the reference's tag pattern — keys start with a
    * letter, values may contain colons, non-matching tokens drop — and
    * ddsource/service/hostname/source_type plus a constant
    * `type=datadog` join the label set when non-empty. An explicit
    * `timestamp` (ms) scales to ns (the reference's now() fallback is
    * nondeterministic and intentionally omitted — such rows keep null).
    */
  /** Composed-HOF executable spec of the ddtags parse — kept for the
    * differential test; the decode path runs the native one-pass
    * [[graft.functions.DatadogTags.parse]].
    */
  private[graft] def datadogTagsSpec(ddtags: org.apache.spark.sql.Column) = {
    val keyRe = """^([\p{L}][\p{L}_0-9\-.\\/]*):"""
    val valRe = """^[\p{L}][\p{L}_0-9\-.\\/]*:([\p{L}_0-9\-.\\/:]+)"""
    // duplicate tag keys ("env:a,env:b") dedupe last-wins — map_from_entries
    // would throw DUPLICATED_MAP_KEY and fail the whole decode batch
    MapOps.entriesToMapLastWins(transform(
      filter(transform(split(coalesce(ddtags, lit("")), ","),
        t => struct(regexp_extract(t, keyRe, 1).as("k"),
          regexp_extract(t, valRe, 1).as("v"))),
        e => e.getField("k") =!= "" && e.getField("v") =!= ""),
      e => map(e.getField("k"), e.getField("v"))))
  }

  def decodeDatadogLogs(bodies: DataFrame,
      ingestTsNs: Option[Long] = None): DataFrame = {
    val tags = graft.functions.DatadogTags.parse(
      coalesce(col("l.ddtags"), lit("")))
    bodies
      .select(explode(from_json(col("body"), datadogLogsSchema)).as("l"))
      .withColumn("tags", tags)
      .select(
        MapOps.update(col("tags"),
          map_filter(map(
            lit("ddsource"), col("l.ddsource"),
            lit("service"), col("l.service"),
            lit("hostname"), col("l.hostname"),
            lit("source_type"), col("l.source_type"),
            lit("type"), lit("datadog")),
            (_, v) => v.isNotNull && v =!= "")).as("labels"),
        // the reference stamps receive time when TsMs is 0/absent
        // (`datadog_json.go:90-93`); the fallback here is an EXPLICIT
        // ingest-time parameter so replays stay deterministic/oracle-testable
        when(col("l.timestamp").isNotNull && col("l.timestamp") =!= 0,
          col("l.timestamp") * 1000000L)
          .otherwise(ingestTsNs.map(n => lit(n)).getOrElse(lit(null))
            .cast("long")).as("timestamp_ns"),
        coalesce(col("l.message"), lit("")).as("line"))
      .withColumn("fingerprint", Tables.fingerprintOf(col("labels")))
  }

  // --- Zipkin JSON spans (`zipkin_json.go:14-266`) ------------------------

  val zipkinSchema: ArrayType = ArrayType(StructType(Seq(
    StructField("traceId", StringType),
    StructField("id", StringType),
    StructField("parentId", StringType),
    StructField("name", StringType),
    StructField("kind", StringType),
    // µs; the reference accepts both JSON numbers and strings
    // (`stringOrInt64`, zipkin_json.go:166-180) — StringType covers both
    StructField("timestamp", StringType),
    StructField("duration", StringType),
    StructField("localEndpoint", StructType(Seq(
      StructField("serviceName", StringType)))),
    StructField("remoteEndpoint", StructType(Seq(
      StructField("serviceName", StringType)))),
    StructField("tags", MapType(StringType, StringType)))))

  /** Zipkin span batch → canonical span rows (`zipkin_json.go:67-165`):
    * µs→ns scaling (numeric or string timestamps), tag set enriched with
    * `name`, lowercased `kind`, `local_endpoint_service_name` /
    * `remote_endpoint_service_name`, the final `service.name`, and an
    * OTel-exported `otel.status_code` tag mapped to the `status` attr
    * TraceQL queries. The service name follows the reference exactly
    * (`zipkin_json.go:119-127`): the local endpoint's name, overwritten by
    * the remote ENDPOINT whenever a local one was set and a remoteEndpoint
    * OBJECT is present — even one without a serviceName, which overwrites
    * with "".
    */
  def decodeZipkin(bodies: DataFrame): DataFrame = {
    val local = col("s.localEndpoint.serviceName")
    val remote = col("s.remoteEndpoint.serviceName")
    val svc = when(local.isNotNull && local =!= "" &&
        col("s.remoteEndpoint").isNotNull, coalesce(remote, lit("")))
      .otherwise(coalesce(local, lit("")))
    bodies
      .select(explode(from_json(col("body"), zipkinSchema)).as("s"))
      .withColumn("baseTags",
        coalesce(col("s.tags"), map().cast(MapType(StringType, StringType))))
      .withColumn("service_name", svc)
      .select(
        col("s.traceId").as("trace_id_hex"),
        col("s.id").as("span_id_hex"),
        col("s.parentId").as("parent_id_hex"),
        col("s.name").as("name"),
        col("service_name"),
        (col("s.timestamp").cast("long") * 1000L).as("timestamp_ns"),
        (col("s.duration").cast("long") * 1000L).as("duration_ns"),
        MapOps.update(col("baseTags"), map_filter(map(
          lit("name"), col("s.name"),
          lit("kind"), lower(col("s.kind")),
          lit("local_endpoint_service_name"), local,
          lit("remote_endpoint_service_name"), remote,
          lit("service.name"), col("service_name"),
          lit("status"), when(element_at(col("baseTags"), "otel.status_code") === "ERROR", "error")
            .when(element_at(col("baseTags"), "otel.status_code") === "OK", "ok")),
          (_, v) => v.isNotNull)).as("tags"))
  }

  // --- Influx line protocol (`influx.go:15-112`) --------------------------

  /** `measurement[,tag=v...] field=value[,field2=...] [ts]` → canonical
    * rows, per `influx.go:15-112`:
    *   - every line carries a `measurement` label plus its tag set; label
    *     KEYS are sanitized (`(^[^a-zA-Z_]|[^a-zA-Z0-9_])` → `_`,
    *     `unmarshal.go:272-282`) and label VALUES over 100 chars truncate
    *     to 100 + "..."
    *   - a line whose fields contain `message` becomes a LOG entry
    *     (`sample_type` "log", value 0): the message alone when it is the
    *     only field, otherwise a logfmt join with `message` first and the
    *     remaining fields in line order (`getMessage`, `influx.go:16-37`;
    *     the reference's Go-map order is nondeterministic — line order is
    *     the deterministic choice)
    *   - otherwise one METRIC sample per numeric field (ints `42i`,
    *     floats; strings and bools skipped), `__name__` = the sanitized
    *     FIELD key (`sanitizeMetricName`, `influx.go:97-101`)
    * Quoted string values, escaped chars (`\,` `\=` `\ `), and quoted
    * commas/spaces inside field values are handled. `precision` scales the
    * line timestamps to ns — ns (default) / us / ms / s, rejecting
    * anything else (`writer/controller/insert.go:80-96`).
    */
  def decodeInflux(lines: DataFrame, precision: String = "ns"): DataFrame = {
    val scale = precision match {
      case "ns" => 1L
      case "us" => 1000L
      case "ms" => 1000000L
      case "s"  => 1000000000L
      case other => throw new IllegalArgumentException(s"Invalid precision $other")
    }
    // head: measurement (escapes allowed), optional ,tags, rest of line
    val headRe = """^((?:[^,\s\\]|\\.)+)(?:,((?:[^\s\\]|\\.)*))?\s+(.*?)\s*$"""

    def unesc(c: org.apache.spark.sql.Column) =
      regexp_replace(c, """\\(.)""", "$1")
    def trunc(c: org.apache.spark.sql.Column) =
      when(length(c) > 100, concat(substring(c, 1, 100), lit("...")))
        .otherwise(c)

    // ONE anchored pass extracts measurement/tags/rest together
    // (graft.functions.RegexpAllGroups — codegen'd, pattern compiled once)
    // instead of three regexp_extract scans of the full line; the trailing
    // timestamp then splits off rest with substring arithmetic, not two
    // more anchored scans
    val parts = lines
      .withColumn("head",
        graft.functions.RegexpAllGroups(col("line"), headRe))
      .withColumn("measurement", unesc(element_at(col("head"), 1)))
      .withColumn("tagstr", element_at(col("head"), 2))
      .withColumn("rest", element_at(col("head"), 3))
      .withColumn("tsStr", regexp_extract(col("rest"), """\s+([0-9]+)$""", 1))
      .withColumn("ts",
        when(col("tsStr") =!= "", col("tsStr")).cast("long") * scale)
      .withColumn("fieldstr",
        when(col("tsStr") === "", col("rest")).otherwise(rtrim(
          col("rest").substr(lit(1),
            length(col("rest")) - length(col("tsStr"))))))

    // field/tag parsing is ONE native compiled pass each
    // (graft.functions.InfluxParse — same regexes, precompiled, with the
    // classify/render/logfmt-quote chain in plain Java); the composed
    // chain survives as influxFieldsSpec/influxTagsSpec below for the
    // differential test. The composed form ran ~15 interpreted regex
    // nodes per FIELD and made influx-logs the slowest decode at sf1.
    val fieldsStaged = graft.functions.InfluxParse.fields(col("fieldstr"))
    val tagsMap = graft.functions.InfluxParse.tags(col("tagstr"))

    val msg = try_element_at(col("msgs"), lit(1))
    val others = filter(col("fields"), f => f.getField("k") =!= "message")
    val withFields = parts
      .withColumn("fields", fieldsStaged)
      .withColumn("tagsMap", tagsMap)
      .withColumn("labels", MapOps.update(
        map(lit("measurement"), trunc(col("measurement"))), col("tagsMap")))
      .withColumn("msgs",
        filter(col("fields"), f => f.getField("k") === "message"))
      .withColumn("logLine",
        when(size(col("msgs")) === 0, lit(null).cast("string"))
          .when(size(col("fields")) === 1, msg.getField("sv"))
          .otherwise(concat(
            lit("message="), msg.getField("lf"),
            when(size(others) > 0, concat(lit(" "), array_join(
              transform(others,
                f => concat(f.getField("k"), lit("="), f.getField("lf"))),
              " "))).otherwise(lit("")))))

    val rowType = StructType(Seq(
      StructField("name", StringType),
      StructField("labels", MapType(StringType, StringType)),
      StructField("line", StringType),
      StructField("value", DoubleType),
      StructField("sample_type", StringType)))
    val rows = when(size(col("msgs")) > 0,
      array(struct(lit(null).cast("string").as("name"), col("labels").as("labels"),
        col("logLine").as("line"), lit(0.0).as("value"),
        lit("log").as("sample_type"))))
      .otherwise(transform(
        filter(col("fields"), f => f.getField("num").isNotNull),
        f => struct(f.getField("sn").as("name"),
          MapOps.update(col("labels"), map(lit("__name__"), f.getField("sn")))
            .as("labels"),
          lit("").as("line"), f.getField("num").as("value"),
          lit("metric").as("sample_type"))))
      .cast(ArrayType(rowType))

    withFields
      .select(col("ts").as("timestamp_ns"), explode(rows).as("r"))
      .select(col("r.name").as("name"), col("r.labels").as("labels"),
        col("timestamp_ns"), col("r.value").as("value"),
        col("r.line").as("line"), col("r.sample_type").as("sample_type"))
      .withColumn("fingerprint", Tables.fingerprintOf(col("labels")))
  }

  /** Composed-HOF executable specs of the influx field/tag parses — kept
    * for the differential test; the decode path runs the native
    * [[graft.functions.InfluxParse]] one-pass forms.
    */
  private[graft] def influxFieldsSpec(
      fieldstr: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val pairRe = """(?:[^,=\s\\]|\\.)+=(?:"(?:[^"\\]|\\.)*"|(?:[^,\\]|\\.)*)"""
    val sanKeyRe = "(^[^a-zA-Z_]|[^a-zA-Z0-9_])"
    def unesc(c: org.apache.spark.sql.Column) =
      regexp_replace(c, """\\(.)""", "$1")
    val rawFields = transform(
      regexp_extract_all(fieldstr, lit(pairRe), lit(0)), p =>
      struct(unesc(regexp_extract(p, """^((?:[^,=\s\\]|\\.)+)=""", 1)).as("k"),
        regexp_replace(p, """^(?:[^,=\s\\]|\\.)+=""", "").as("raw")))
    val typedFields = transform(rawFields, f => {
      val rawv = f.getField("raw")
      val isQuoted = substring(rawv, 1, 1) === "\""
      val strVal = regexp_replace(
        regexp_extract(rawv, """^"((?:[^"\\]|\\.)*)"$""", 1),
        """\\(["\\])""", "$1")
      val isInt = rawv.rlike("""^-?[0-9]+[iu]$""")
      val isFloat =
        rawv.rlike("""^-?(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?$""")
      val isBool =
        rawv.rlike("""^(?:t|T|true|True|TRUE|f|F|false|False|FALSE)$""")
      struct(f.getField("k").as("k"),
        when(isQuoted, strVal)
          .when(isInt, regexp_replace(rawv, "[iu]$", ""))
          // logfmt renders float values with %v ⇒ Go 'g' shortest —
          // e-notation outside [1e-4, 1e21) (go-logfmt via influx.go:20-27)
          .when(isFloat, goFloatStrG(rawv.cast("double")))
          .when(isBool, when(rawv.rlike("^[tT]"), lit("true")).otherwise("false"))
          .otherwise(rawv).as("sv"),
        when(isInt, regexp_replace(rawv, "[iu]$", "").cast("double"))
          .when(isFloat, rawv.cast("double")).as("num"),
        regexp_replace(f.getField("k"), sanKeyRe, "_").as("sn"))
    })
    // go-logfmt quotes a value containing space, '=' or '"'
    transform(typedFields, f => {
      val sv = f.getField("sv")
      struct(f.getField("k").as("k"), sv.as("sv"), f.getField("num").as("num"),
        when(sv.rlike("""[ ="]"""),
          concat(lit("\""), regexp_replace(sv, """(["\\])""", """\\$1"""),
            lit("\""))).otherwise(sv).as("lf"),
        f.getField("sn").as("sn"))
    })
  }

  private[graft] def influxTagsSpec(
      tagstr: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val tagRe = """(?:[^,=\\]|\\.)+=(?:[^,\\]|\\.)*"""
    val sanKeyRe = "(^[^a-zA-Z_]|[^a-zA-Z0-9_])"
    def unesc(c: org.apache.spark.sql.Column) =
      regexp_replace(c, """\\(.)""", "$1")
    def trunc(c: org.apache.spark.sql.Column) =
      when(length(c) > 100, concat(substring(c, 1, 100), lit("...")))
        .otherwise(c)
    MapOps.entriesToMapLastWins(transform(
      regexp_extract_all(tagstr, lit(tagRe), lit(0)), t =>
      map(regexp_replace(
          unesc(regexp_extract(t, """^((?:[^,=\\]|\\.)+)=""", 1)),
          sanKeyRe, "_"),
        trunc(unesc(regexp_replace(t, """^(?:[^,=\\]|\\.)+=""", ""))))))
  }

  // --- Datadog metrics JSON (`datadog_metrics_json.go`, /api/v1/series) ---

  val datadogMetricsSchema: StructType = StructType(Seq(
    StructField("series", ArrayType(StructType(Seq(
      StructField("metric", StringType),
      StructField("points", ArrayType(ArrayType(DoubleType))),
      StructField("tags", ArrayType(StringType)),
      StructField("type", StringType)))))))

  /** Datadog metric series → canonical samples: points are [epoch_s, value]
    * pairs, tags ("k:v") explode into labels, metric name → __name__.
    */
  def decodeDatadogMetrics(bodies: DataFrame): DataFrame = {
    // duplicate tag keys ("env:a,env:b") dedupe last-wins like the
    // reference's Go tag map — map_from_entries would throw on them
    val tags = MapOps.entriesToMapLastWins(transform(
      filter(coalesce(col("s.tags"), array().cast(ArrayType(StringType))),
        t => t.contains(":")),
      t => map(substring_index(t, ":", 1), substring_index(t, ":", -1))))
    bodies
      .select(explode(from_json(col("body"), datadogMetricsSchema)
        .getField("series")).as("s"))
      // stage labels AND the fingerprint per SERIES, in a select WITHOUT
      // the point explode: an expression that shares a select with a
      // generator is evaluated per OUTPUT row — the interpreted tag fold
      // ran once per POINT (measured 125× at 10× rows on the sf1 trend,
      // ~500 µs × points instead of × series); as attribute refs they are
      // computed once per series and only COPIED per point by Generate
      .select(
        MapOps.update(tags, map(lit("__name__"), col("s.metric"))).as("labels"),
        col("s.points").as("pts"))
      .withColumn("fingerprint", Tables.fingerprintOf(col("labels")))
      .select(col("labels"), col("fingerprint"), explode(col("pts")).as("p"))
      .select(col("labels"),
        (element_at(col("p"), 1) * 1000000000L).cast("long").as("timestamp_ns"),
        element_at(col("p"), 2).as("value"),
        col("fingerprint"))
  }

  // --- Datadog metrics v2 JSON (`datadog_metrics_json.go:25-110`, the
  // shape the reference's writer actually serves at /api/v2/series:
  // points are OBJECTS {timestamp: epoch_s, value}, `resources[i]`
  // objects label as resource{i+1}_{key}, and tags are SKIPPED by the
  // upstream decoder) -------------------------------------------------------

  val datadogMetricsV2Schema: StructType = StructType(Seq(
    StructField("series", ArrayType(StructType(Seq(
      StructField("metric", StringType),
      StructField("points", ArrayType(StructType(Seq(
        StructField("timestamp", LongType),
        StructField("value", DoubleType))))),
      StructField("resources",
        ArrayType(MapType(StringType, StringType)))))))))

  /** Datadog v2 series → canonical samples. A missing metric name labels
    * `__name__` as "" (the Go MaybeString default); a missing point value
    * is 0; a missing timestamp is null here and stamped with receive time
    * at the route layer (the decoder's time.Now() default).
    */
  def decodeDatadogMetricsV2(bodies: DataFrame): DataFrame = {
    val resourceEntries = flatten(transform(
      coalesce(col("s.resources"),
        array().cast(ArrayType(MapType(StringType, StringType)))),
      (r, i) => transform(map_entries(r), e =>
        map(concat(lit("resource"), (i + 1).cast("string"), lit("_"),
            e.getField("key")),
          e.getField("value")))))
    bodies
      .select(explode(from_json(col("body"), datadogMetricsV2Schema)
        .getField("series")).as("s"))
      // labels + fingerprint staged per SERIES, outside the point explode
      // (same per-output-row evaluation trap as the v1 decoder above)
      .select(
        MapOps.update(MapOps.entriesToMapLastWins(resourceEntries),
          map(lit("__name__"), coalesce(col("s.metric"), lit(""))))
          .as("labels"),
        col("s.points").as("pts"))
      .withColumn("fingerprint", Tables.fingerprintOf(col("labels")))
      .select(col("labels"), col("fingerprint"), explode(col("pts")).as("p"))
      .select(col("labels"),
        (col("p.timestamp") * 1000000000L).cast("long").as("timestamp_ns"),
        coalesce(col("p.value"), lit(0.0)).as("value"),
        col("fingerprint"))
  }

  // --- Datadog/Cloudflare log push (`datadog_cf_json.go`) -----------------

  val cfSchema: StructType = StructType(Seq(
    StructField("EventType", StringType),
    StructField("Outcome", StringType),
    StructField("ScriptName", StringType),
    StructField("EventTimestampMs", LongType),
    StructField("When", LongType), // ns
    StructField("ActionResult", BooleanType),
    StructField("ActionType", StringType),
    StructField("ActorType", StringType),
    StructField("ResourceType", StringType)))

  /** Cloudflare push (`datadog_cf_json.go:14-146`): NDJSON records → log
    * rows. Labels are the reference's exact field set when non-empty
    * (ScriptName/Outcome/EventType/ActionResult/ActionType/ActorType/
    * ResourceType, with `ddsource` from the request's query param), the
    * raw record stays as the line, timestamps come from EventTimestampMs
    * (ms) or When (ns). The reference's now() fallback is nondeterministic
    * and intentionally omitted — such rows keep null.
    */
  def decodeCloudflare(bodies: DataFrame, ddsource: String = ""): DataFrame =
    bodies
      .select(explode(filter(split(col("body"), "\n"), l => trim(l) =!= "")).as("l"))
      .withColumn("__p", from_json(col("l"), cfSchema))
      .select(
        map_filter(map(
          lit("ddsource"), if (ddsource.isEmpty) lit(null).cast("string") else lit(ddsource),
          lit("ScriptName"), col("__p.ScriptName"),
          lit("Outcome"), col("__p.Outcome"),
          lit("EventType"), col("__p.EventType"),
          lit("ActionResult"), col("__p.ActionResult").cast("string"),
          lit("ActionType"), col("__p.ActionType"),
          lit("ActorType"), col("__p.ActorType"),
          lit("ResourceType"), col("__p.ResourceType")),
          (_, v) => v.isNotNull && v =!= "").as("labels"),
        coalesce(col("__p.EventTimestampMs") * 1000000L, col("__p.When"))
          .as("timestamp_ns"),
        col("l").as("line"))
      .withColumn("fingerprint", Tables.fingerprintOf(col("labels")))

  // --- Elastic bulk NDJSON (`elastic.go:29-144`) --------------------------

  /** `_bulk` bodies (`elastic.go:29-144`): alternating action/document
    * lines. `index`/`create` actions label the FOLLOWING document line
    * with `type=elastic` plus every string field of the action object
    * (`_index`, `_id`, ...); `delete`/`update` actions clear the label
    * set, so their tails produce no entries. Elastic documents carry no
    * timestamp — the reference stamps receive time on EVERY entry
    * (`elastic.go:34,113` time.Now().UnixNano()); here that is the
    * explicit `ingestTsNs` parameter so replays stay deterministic.
    */
  def decodeElasticBulk(bodies: DataFrame,
      ingestTsNs: Option[Long] = None): DataFrame = {
    val emptyMap = map().cast(MapType(StringType, StringType))
    val lines = bodies
      .withColumn("req", monotonically_increasing_id())
      .select(col("req"),
        posexplode(filter(split(col("body"), "\n"), l => trim(l) =!= ""))
          .as(Seq("lineno", "l")))
      .withColumn("actionObj", coalesce(
        get_json_object(col("l"), "$.index"),
        get_json_object(col("l"), "$.create")))
      .withColumn("isAction", col("actionObj").isNotNull ||
        get_json_object(col("l"), "$.delete").isNotNull ||
        get_json_object(col("l"), "$.update").isNotNull)
      .withColumn("actionLabels",
        when(col("actionObj").isNotNull, MapOps.update(
          map(lit("type"), lit("elastic")),
          map_filter(coalesce(
            from_json(col("actionObj"), MapType(StringType, StringType)),
            emptyMap), (k, v) => k =!= "type" && v.isNotNull)))
          .otherwise(when(col("isAction"), emptyMap))) // delete/update clear
    // an action row's labels apply to the NEXT line (the document);
    // the lag window is per request body, so decoding stays parallel
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("req")).orderBy(col("lineno"))
    lines
      .withColumn("docLabels", lag(col("actionLabels"), 1).over(w))
      .filter(!col("isAction") && col("docLabels").isNotNull &&
        size(col("docLabels")) > 0)
      .select(col("docLabels").as("labels"), col("l").as("line"),
        ingestTsNs.map(n => lit(n)).getOrElse(lit(null))
          .cast("long").as("timestamp_ns"))
      .withColumn("fingerprint", Tables.fingerprintOf(col("labels")))
  }
}
