package graft.promql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The non-query PromQL HTTP surface beyond labels/values (reference
  * `reader/service/metadata.go:25-80`): `/api/v1/metadata` lists each
  * metric family with its type plus the live series count — the reference
  * scans the `time_series` dictionary for `__name__` + stored metadata;
  * here one pass over the `prom_series` dictionary (tenant-scoped, like
  * every store read) counts each family's distinct fingerprints.
  */
object PromQLApi {

  /** Types of the built families. Pushed families carry no scrape
    * metadata, and Prometheus reports such metrics as "unknown".
    */
  private val Types = Map(
    "events_bucket" -> "histogram",
    "events_total" -> "counter",
    "events_value" -> "gauge")

  def metadata(spark: SparkSession, dir: String): DataFrame =
    graft.store.Store.promSeries(spark, dir)
      .groupBy(col("family").as("metric_name"))
      .agg(countDistinct(col("fingerprint")).as("series"))
      .select(col("metric_name"),
        coalesce(element_at(typedLit(Types), col("metric_name")),
          lit("unknown")).as("type"),
        col("series"))

  /** Every family's dictionary rows, `__name__` inside the label map —
    * the Prometheus label surface treats the metric name as label zero
    * (`reader/service/metadata.go` serves labels off the same
    * time_series-style dictionary).
    */
  private def allSeries(spark: SparkSession, dir: String): DataFrame =
    graft.store.Store.promSeries(spark, dir).select(col("labels"))

  /** `/api/v1/labels` — distinct label names across every family
    * dictionary (dictionary-sized scan, never the sample tables).
    */
  def labelNames(spark: SparkSession, dir: String): DataFrame =
    allSeries(spark, dir)
      .select(explode(map_keys(col("labels"))).as("name"))
      .distinct()

  /** `/api/v1/label/{key}/values` — `__name__` enumerates the families. */
  def labelValues(spark: SparkSession, dir: String, key: String): DataFrame =
    allSeries(spark, dir)
      .select(element_at(col("labels"), key).as("value"))
      .filter(col("value").isNotNull)
      .distinct()

  /** `/api/v1/series?match[]=…` — distinct label sets matching the UNION
    * of the given vector selectors, evaluated on the dictionaries (a
    * selector's matchers apply to the label map exactly as the compiler's
    * scan path applies them to samples).
    */
  def series(spark: SparkSession, dir: String,
      matches: Seq[String]): DataFrame = {
    import PromQLAst._
    val dict = allSeries(spark, dir)
    val parts = matches.map { m =>
      val sel = PromQLParser.parseOrThrow(m) match {
        case s: Selector => s
        case other => throw new IllegalArgumentException(
          s"not a series selector: $other")
      }
      val base = dict
        .filter(element_at(col("labels"), "__name__") === sel.name)
      // the compiler's matcher semantics, one shared implementation
      sel.matchers.foldLeft(base)((df, mt) => df.filter(Matchers.cond(mt)))
    }
    parts.reduce(_ unionByName _)
      .select(array_sort(map_entries(col("labels"))).as("__e"))
      .distinct()
      .select(map_from_entries(col("__e")).as("labels"))
  }
}
