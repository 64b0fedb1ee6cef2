package graft.logql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import LogQLAst._

/** The non-query_range LogQL HTTP surface, as real entry points over the
  * compiled plans (reference: `reader/service/query_range.go` +
  * `planner_series.go:25`, `planner_label_names.go:12`,
  * `planner_values.go:27`, `query_range.go:807-900`). Each takes selector
  * STRINGS and goes through the real parser — no hand-built ASTs.
  */
object LogQLApi {

  private def parseSelector(q: String): (Selector, Seq[Stage]) =
    LogQLParser.parseOrThrow(q) match {
      case LogExpr(s, st) => (s, st)
      case other => throw new IllegalArgumentException(s"not a selector: $other")
    }

  /** `/loki/api/v1/series` — distinct label sets matching the UNION of the
    * given selectors (reference MultiStreamSelectPlanner,
    * `planner_multi_stream_select.go:12` + SeriesPlanner).
    */
  def series(spark: SparkSession, dir: String, params: EvalParams,
      selectors: Seq[String]): DataFrame = {
    val c = new LogQLCompiler(spark, dir, params)
    val parts = selectors.map { s =>
      val (sel, stages) = parseSelector(s)
      c.compileLog(sel, stages).select(col("labels"))
    }
    // Spark forbids set ops on MapType: dedup on the sorted entry array.
    parts.reduce(_ union _)
      .select(array_sort(map_entries(col("labels"))).as("__e"))
      .distinct()
      .select(map_from_entries(col("__e")).as("labels"))
  }

  /** `/loki/api/v1/labels` — distinct label NAMES across matching streams. */
  def labelNames(spark: SparkSession, dir: String, params: EvalParams,
      selector: String = "{}"): DataFrame = {
    val c = new LogQLCompiler(spark, dir, params)
    val (sel, stages) = parseSelector(selector)
    c.compileLog(sel, stages)
      .select(explode(map_keys(col("labels"))).as("name"))
      .distinct()
  }

  /** `/loki/api/v1/label/{key}/values` — distinct values for one label. */
  def labelValues(spark: SparkSession, dir: String, params: EvalParams,
      key: String, selector: String = "{}"): DataFrame = {
    val c = new LogQLCompiler(spark, dir, params)
    val (sel, stages) = parseSelector(selector)
    c.compileLog(sel, stages)
      .select(element_at(col("labels"), key).as("value"))
      .filter(col("value").isNotNull)
      .distinct()
  }

  /** `/loki/api/v1/detected_labels` (reference
    * `planner_labels_detect.go:14`, Grafana Drilldown's entry call):
    * distinct label NAMES over the selector window, each with its value
    * cardinality. One explode + one hash agg — O(rows·labels), no
    * per-label scans.
    */
  def detectedLabels(spark: SparkSession, dir: String, params: EvalParams,
      selector: String = "{}"): DataFrame = {
    val c = new LogQLCompiler(spark, dir, params)
    val (sel, stages) = parseSelector(selector)
    c.compileLog(sel, stages)
      .select(explode(map_entries(col("labels"))).as("e"))
      .groupBy(col("e.key").as("label"))
      .agg(countDistinct(col("e.value")).as("cardinality"))
  }

  // logfmt pair extraction — same pattern as the compiler's LogfmtStage
  private val LogfmtPair =
    "([a-zA-Z_][a-zA-Z0-9_]*)=(\"(?:[^\"\\\\]|\\\\.)*\"|[^\\s\"]*)"

  /** `/loki/api/v1/detected_fields` (reference `query_range.go` detected
    * fields endpoint): run the pipeline, sniff each line's parser (json if
    * the line is a JSON object, else logfmt), extract fields, and per
    * (field, parser) report a sniffed TYPE (boolean/int/float/duration/
    * bytes/string, in that precedence) plus value cardinality.
    */
  def detectedFields(spark: SparkSession, dir: String, params: EvalParams,
      query: String): DataFrame = {
    import org.apache.spark.sql.types.{MapType, StringType}
    val c = new LogQLCompiler(spark, dir, params)
    val (sel, stages) = parseSelector(query)
    val df = c.compileLog(sel, stages)
    val isJson = trim(col("line")).startsWith("{")
    val jm = from_json(col("line"), MapType(StringType, StringType))
    val keys = regexp_extract_all(col("line"), lit(LogfmtPair), lit(1))
    val vals = transform(
      regexp_extract_all(col("line"), lit(LogfmtPair), lit(2)),
      v => when(v.startsWith("\""),
          regexp_replace(v.substr(lit(2), length(v) - 2), "\\\\(.)", "$1"))
        .otherwise(v))
    val fieldsMap = when(isJson, coalesce(jm, map().cast(MapType(StringType, StringType))))
      .otherwise(map_from_arrays(keys, vals))
    def allMatch(re: String) = bool_and(col("e.value").rlike(re))
    df.select(when(isJson, "json").otherwise("logfmt").as("parser"),
        explode(map_entries(fieldsMap)).as("e"))
      .groupBy(col("e.key").as("field"), col("parser"))
      .agg(
        allMatch("^(true|false)$").as("__b"),
        allMatch("^-?[0-9]+$").as("__i"),
        allMatch("^-?[0-9]+(\\.[0-9]+)?$").as("__f"),
        allMatch("^-?[0-9]+(\\.[0-9]+)?(ns|us|µs|ms|s|m|h)$").as("__d"),
        allMatch("^-?[0-9]+(\\.[0-9]+)?\\s*([kKmMgGtTpP]i?[bB]|[bB])$").as("__y"),
        countDistinct(col("e.value")).as("cardinality"))
      .select(col("field"), col("parser"),
        when(col("__b"), "boolean").when(col("__i"), "int")
          .when(col("__f"), "float").when(col("__d"), "duration")
          .when(col("__y"), "bytes").otherwise("string").as("type"),
        col("cardinality"))
  }

  /** `/loki/api/v1/index/stats` — stream/entry/byte counts for a selector. */
  def indexStats(spark: SparkSession, dir: String, params: EvalParams,
      selector: String): DataFrame = {
    val c = new LogQLCompiler(spark, dir, params)
    val (sel, stages) = parseSelector(selector)
    c.compileLog(sel, stages).agg(
      countDistinct(col("fingerprint")).as("streams"),
      count(lit(1)).as("entries"),
      sum(length(col("line"))).cast("long").as("bytes"))
  }

  /** `/loki/api/v1/index/volume` — bytes per label value (aggregateBy one
    * label, as Grafana's volume panel queries it).
    */
  def indexVolume(spark: SparkSession, dir: String, params: EvalParams,
      selector: String, by: String): DataFrame = {
    val c = new LogQLCompiler(spark, dir, params)
    val (sel, stages) = parseSelector(selector)
    c.compileLog(sel, stages)
      .groupBy(element_at(col("labels"), by).as("name"))
      .agg(sum(length(col("line"))).cast("long").as("volume"))
  }
}
