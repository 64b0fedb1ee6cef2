package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, MapFilter, MapFromEntries}
import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.SparkSpec

/** Plan-shape guard for the decode pipelines (the round-7 `weak`):
  * higher-order functions are interpreted and a lambda that captures a
  * non-leaf expression tree re-evaluates it once per map key per row.
  * `MapOps.update(base, over)` puts `over` INSIDE its map_filter lambda
  * (`map_contains_key(over, k)`), so every decode call site must hand it an
  * attribute reference (project the parsed attr map into a column first),
  * never the inline `attrsToMap(...)` subtree. This spec goes red if a
  * decode plan's optimized form carries a map-building expression
  * (map_from_entries / transform) inside any map_filter lambda — exactly
  * the shape that cost decodeOtlpMetrics a 5× ingest tax in round 7.
  */
class DecodePlanSpec extends SparkSpec {

  private def lambdaCaptures(df: DataFrame): Seq[String] = {
    val plan = df.queryExecution.optimizedPlan
    val filters = plan.collect { case p => p.expressions }.flatten
      .flatMap(_.collect { case mf: MapFilter => mf })
    filters.flatMap(mf => mf.function.collect {
      case e: MapFromEntries => s"map_from_entries in lambda: $e"
      case e: ArrayTransform => s"transform in lambda: $e"
    })
  }

  private val otlpLogsBody =
    """{"resourceLogs":[{"resource":{"attributes":[
      |{"key":"service","value":{"stringValue":"api"}}]},
      |"scopeLogs":[{"logRecords":[{"timeUnixNano":"1704067200000000000",
      |"severityText":"INFO","body":{"stringValue":"hello"},
      |"attributes":[{"key":"k","value":{"stringValue":"v"}}]}]}]}]}"""
      .stripMargin.replace("\n", "")

  private val otlpMetricsBody =
    """{"resourceMetrics":[{"resource":{"attributes":[
      |{"key":"service","value":{"stringValue":"api"}}]},
      |"scopeMetrics":[{"metrics":[{"name":"m","gauge":{"dataPoints":[
      |{"timeUnixNano":"1704067200000000000","asDouble":1.5,
      |"attributes":[{"key":"k","value":{"stringValue":"v"}}]}]}}]}]}]}"""
      .stripMargin.replace("\n", "")

  test("decodeOtlpLogs: no attr-map subtree captured by a map_filter lambda") {
    val s = spark
    import s.implicits._
    val captures = lambdaCaptures(
      WireFormats.decodeOtlpLogs(Seq(otlpLogsBody).toDF("body")))
    assert(captures.isEmpty, captures.mkString("\n"))
  }

  test("decodeOtlpMetrics: no attr-map subtree captured by a map_filter lambda") {
    val s = spark
    import s.implicits._
    val captures = lambdaCaptures(
      WireFormats.decodeOtlpMetrics(Seq(otlpMetricsBody).toDF("body")))
    assert(captures.isEmpty, captures.mkString("\n"))
  }

  test("decodeInflux: staged field/tag parsing is not re-inlined by the optimizer") {
    import org.apache.spark.sql.functions._
    // non-foldable source (a literal frame constant-folds the whole plan)
    val src = spark.range(2).select(
      concat(lit("m,a=b f="), col("id"), lit("i,message=\"x y\" 5")).as("line"))
    val plan = WireFormats.decodeInflux(src).queryExecution.optimizedPlan
    val perNode = plan.collect { case p =>
      p -> p.expressions.flatMap(_.collect {
        case e if e.getClass.getSimpleName == "InfluxFieldsParse" ||
          e.getClass.getSimpleName == "InfluxTagsParse" => e
      }).length
    }
    // exactly one native fields parse + one tags parse, both inside one
    // staged Project — if CollapseProject ever re-inlines the fields
    // array into its consumers (or into the row-explode Generate), the
    // count fans out and the whole line re-parses once per consumer
    assert(perNode.map(_._2).sum == 2, plan.toString)
    val generateCount = perNode.collectFirst {
      case (p, n) if p.getClass.getSimpleName == "Generate" => n
    }
    assert(generateCount.contains(0), plan.toString)
  }

  test("decodeOtlpLogs: optimized plan stays a bounded single-pass pipeline") {
    val s = spark
    import s.implicits._
    // non-foldable source so constant folding can't hide plan growth
    import org.apache.spark.sql.functions._
    val src = spark.range(2).select(
      regexp_replace(lit(otlpLogsBody), lit("hello"), concat(lit("h"),
        col("id").cast("string"))).as("body"))
    val plan = WireFormats.decodeOtlpLogs(src).queryExecution.optimizedPlan
    val nodes = plan.collect { case p => p }.length
    // staged decode: scan → project/generate chain. The bound is the
    // round-10 shape (the generator-select staging fix added one Project
    // per explode level so attr maps evaluate per SCOPE, not per record —
    // see the sf1 datadog-metrics 125x finding) plus small headroom; if a
    // future fidelity change doubles the from_json passes or splits the
    // merge into extra shuffles/projects, this goes red before the bench
    // does (the r8 ingest_otlp_roundtrip 2.4x creep arrived silently).
    assert(nodes <= 12, s"decodeOtlpLogs plan grew to $nodes nodes:\n$plan")
  }

  test("logs derivation carries no CodegenFallback fingerprint (to_json)") {
    import org.apache.spark.sql.functions._
    // the fingerprint is per-row in every logs/series derivation; the
    // composed xxhash64(to_json(...)) form is a CodegenFallback that
    // severs whole-stage codegen — the native LabelsFingerprint must be
    // the one in the plan, and StructsToJson must not reappear
    val plan = graft.model.Tables.logs(spark, sf).queryExecution.optimizedPlan
    val exprs = plan.collect { case p => p.expressions }.flatten
    val fps = exprs.flatMap(_.collect {
      case e if e.getClass.getSimpleName == "LabelsFingerprint" => e })
    val jsons = exprs.flatMap(_.collect {
      case e if e.getClass.getSimpleName == "StructsToJson" => e })
    assert(fps.nonEmpty, plan.toString)
    assert(jsons.isEmpty, plan.toString)
  }

  test("decoded OTLP labels still merge record attrs over resource attrs") {
    val s = spark
    import s.implicits._
    val body =
      """{"resourceLogs":[{"resource":{"attributes":[
        |{"key":"k","value":{"stringValue":"res"}},
        |{"key":"only_res","value":{"stringValue":"r"}}]},
        |"scopeLogs":[{"logRecords":[{"timeUnixNano":"1",
        |"severityText":"WARN","body":{"stringValue":"x"},
        |"attributes":[{"key":"k","value":{"stringValue":"rec"}}]}]}]}]}"""
        .stripMargin.replace("\n", "")
    val labels = WireFormats.decodeOtlpLogs(Seq(body).toDF("body"))
      .select(org.apache.spark.sql.functions.col("labels"))
      .collect()(0).getMap[String, String](0)
    assert(labels("k") == "rec")          // record attr wins on conflict
    assert(labels("only_res") == "r")     // resource attr preserved
    assert(labels("level") == "WARN")     // severity → level, verbatim
  }

  /** Nested field count of a type, as whole-stage codegen counts it when
    * it decides whether a plan node is too wide to compile.
    */
  private def nestedFields(t: DataType): Int = t match {
    case st: StructType => st.fields.map(f => nestedFields(f.dataType)).sum
    case m: MapType => nestedFields(m.keyType) + nestedFields(m.valueType)
    case a: ArrayType => nestedFields(a.elementType)
    case _ => 1
  }

  private val otlpTracesBody =
    """{"resourceSpans":[{"resource":{"attributes":[
      |{"key":"service.name","value":{"stringValue":"api"}}]},
      |"scopeSpans":[{"spans":[{"traceId":"5b8efff798038103d269b633813fc60c",
      |"spanId":"eee19b7ec3c1b174","name":"get","kind":2,
      |"startTimeUnixNano":"1704067200000000000",
      |"endTimeUnixNano":"1704067200001000000",
      |"attributes":[{"key":"k","value":{"stringValue":"v"}}]}]}]}]}"""
      .stripMargin.replace("\n", "")

  test("OTLP decoders: no Generate outputs more nested fields than " +
      "spark.sql.codegen.maxFields") {
    // a node whose output carries the parsed AnyValue struct falls out of
    // whole-stage codegen, and its fallback projection is generated for
    // that struct again in every task — a fixed per-push cost
    val maxFields = spark.conf.get("spark.sql.codegen.maxFields").toInt
    // non-foldable source: constant folding must not hide the plan
    def src(body: String) = spark.range(1).select(
      regexp_replace(lit(body), lit("@@"), col("id").cast("string")).as("body"))
    val decoders = Seq(
      "decodeOtlpLogs" -> WireFormats.decodeOtlpLogs(src(otlpLogsBody)),
      "decodeOtlpTraces" -> WireFormats.decodeOtlpTraces(src(otlpTracesBody)),
      "decodeOtlpMetrics" -> WireFormats.decodeOtlpMetrics(src(otlpMetricsBody)))
    for ((name, df) <- decoders) {
      val plan = df.queryExecution.optimizedPlan
      val widths = plan.collect { case g: Generate => nestedFields(g.schema) }
      assert(widths.nonEmpty, s"$name: no Generate in\n$plan")
      assert(widths.forall(_ <= maxFields),
        s"$name: a Generate outputs ${widths.max} nested fields " +
          s"(max $maxFields):\n$plan")
    }
  }

  test("decodeOtlpMetrics: fixed rows — resource attrs bind to their own " +
      "points across gauge/sum, asInt and a nested kvlist attr") {
    val s = spark
    import s.implicits._
    val body =
      """{"resourceMetrics":[
        |{"resource":{"attributes":[
        |  {"key":"host","value":{"stringValue":"a"}},
        |  {"key":"meta","value":{"kvlistValue":{"values":[
        |    {"key":"zone","value":{"stringValue":"eu"}}]}}}]},
        | "scopeMetrics":[{"metrics":[
        |  {"name":"cpu","gauge":{"dataPoints":[
        |    {"timeUnixNano":"1000","asDouble":1.5,
        |     "attributes":[{"key":"core","value":{"intValue":"0"}}]}]}},
        |  {"name":"reqs","sum":{"dataPoints":[
        |    {"timeUnixNano":"2000","asInt":"7"}]}}]}]},
        |{"resource":{"attributes":[{"key":"host","value":{"stringValue":"b"}}]},
        | "scopeMetrics":[{"metrics":[
        |  {"name":"cpu","gauge":{"dataPoints":[
        |    {"timeUnixNano":"3000","asDouble":2.5},
        |    {"timeUnixNano":"4000","asInt":"3","attributes":[
        |      {"key":"host","value":{"stringValue":"override"}}]}]}}]}]}]}"""
        .stripMargin.replace("\n", "")
    val rows = WireFormats.decodeOtlpMetrics(Seq(body).toDF("body"))
      .select("labels", "timestamp_ns", "value").collect()
      .map(r => (r.getMap[String, String](0).toMap, r.getLong(1), r.getDouble(2)))
      .toSeq
    // a kvlist VALUE has no scalar rendering on the metrics path: the key
    // stays, with a null value
    assert(rows == Seq(
      (Map("host" -> "a", "meta" -> null, "core" -> "0", "__name__" -> "cpu"),
        1000L, 1.5),
      (Map("host" -> "a", "meta" -> null, "__name__" -> "reqs"), 2000L, 7.0),
      (Map("host" -> "b", "__name__" -> "cpu"), 3000L, 2.5),
      (Map("host" -> "override", "__name__" -> "cpu"), 4000L, 3.0)),
      rows.mkString("\n"))
  }
}
