package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.logql.{EvalParams, LogQLCompiler, LogQLParser}

/** Recording rules (ruler): periodically evaluate a LogQL metric query and
  * WRITE the result back as new metric samples
  * (`ruler/manager.go:43-250`, `ruler/logql_evaluator.go:44`,
  * `ruler/writeback.go`). Each evaluation is one batch append — in
  * production a scheduled job (or `foreachBatch` on the ingest stream);
  * the recorded series gets the rule name as its `__name__`.
  */
object Ruler {

  def recordedPath(dir: String): String =
    graft.store.Store.storeRoot + "/" +
      dir.replaceAll("[^a-zA-Z0-9.]+", "_") + "/recorded"

  /** Tenant-keyed recorded-samples path: a scoped session's recording
    * rules write to (and read from) the tenant's own table — same
    * isolation contract as [[Rules.rulesPath]].
    */
  def recordedPath(spark: SparkSession, dir: String): String =
    recordedPath(dir) + spark.conf.getOption("spark.graft.tenant")
      .map(t => "_tenant_" + t.replaceAll("[^a-zA-Z0-9.]+", "_"))
      .getOrElse("")

  /** Evaluate `query` over the window and append the result as samples of
    * metric `ruleName`. Returns the number of samples written.
    */
  def record(spark: SparkSession, dir: String, ruleName: String,
      query: String, params: EvalParams): Long = {
    val df = new LogQLCompiler(spark, dir, params)
      .compileMetric(LogQLParser.parseOrThrow(query))
      .select(
        graft.model.MapOps.update(col("labels"),
          map(lit("__name__"), lit(ruleName))).as("labels"),
        (col("ts") * 1000000000L).as("timestamp_ns"),
        col("value"))
      .withColumn("fingerprint", graft.model.Tables.fingerprintOf(col("labels")))
    val out = df.cache()
    val n = out.count()
    out.write.mode(SaveMode.Append).parquet(recordedPath(spark, dir))
    out.unpersist()
    n
  }

  def recorded(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(recordedPath(spark, dir))

  /** Recording-rule WRITEBACK into the live store
    * (`ruler/writeback.go:13-41` + its in-process writer): the evaluated
    * vector re-enters the writer's metrics pipeline — here
    * [[graft.store.Store.appendMetrics]], the same append path
    * remote-write lands in — so the recorded family is immediately
    * PromQL-queryable over HTTP (labels/series/metadata included) and
    * gains 15s downsample partials like any pushed family. Labels per
    * [[Rules.recordLabels]]. Returns samples pushed.
    */
  def writeback(spark: SparkSession, dir: String, record: String,
      ruleLabels: Map[String, String], query: String,
      params: EvalParams): Long = {
    val vector = new LogQLCompiler(spark, dir, params)
      .compileMetric(LogQLParser.parseOrThrow(query))
      .select(Rules.recordLabels(ruleLabels, record).as("labels"),
        (col("ts") * 1000000000L).as("timestamp_ns"),
        col("value"))
      .withColumn("fingerprint",
        graft.model.Tables.fingerprintOf(col("labels")))
    graft.store.Store.appendMetrics(spark, dir, vector)
  }

  /** Alerting-rule EVALUATION — the step the reference stores rules for
    * but never executes (`ruler/manager.go:12-41` persists `alert:` rules;
    * evaluation is delegated to an external ruler). This is the
    * Prometheus/Loki ruler state machine, run relationally over the eval
    * grid so a batch replay is deterministic and oracle-checkable:
    *
    *   - the rule's LogQL metric expr (normally carrying a comparison)
    *     yields a sample per (series, grid point) where the condition
    *     holds — those are the series' ACTIVE evaluation points;
    *   - consecutive active points form an episode (gaps-and-islands:
    *     `ts − step·row_number()` is constant within a run);
    *   - a point's state is `firing` once its episode has been active for
    *     at least `forS` seconds (`ts − active_since ≥ forS`; forS = 0
    *     fires immediately), else `pending`. Inactive points emit nothing
    *     — exactly Prometheus's ALERTS series semantics, where resolved
    *     alerts just stop being exported.
    *
    * Scale shape: one compiled metric frame + one fingerprint-keyed
    * window pass (episodes) + one (fingerprint, episode)-keyed min —
    * series-bounded partitions, no global windows, nothing beyond the
    * grid frame the expr already materializes.
    *
    * Returns (alertname, labels, ts, value, active_since, state).
    */
  def alertStates(spark: SparkSession, dir: String, alertName: String,
      expr: String, forS: Long, params: EvalParams): DataFrame =
    alertStatesFrom(
      new LogQLCompiler(spark, dir, params)
        .compileMetric(LogQLParser.parseOrThrow(expr)),
      alertName, forS, params.stepS)

  /** The state machine above over an already-compiled grid frame
    * (labels, fingerprint, ts, value) — lets the scheduler run alert
    * rules on EITHER engine ([[Rules.evalVector]] picks it per kind).
    */
  def alertStatesFrom(frame: DataFrame, alertName: String, forS: Long,
      stepS: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("fingerprint")).orderBy(col("ts"))
    val episodes = frame
      .withColumn("__ep",
        col("ts") - lit(stepS) * row_number().over(w))
    episodes
      .withColumn("active_since", min(col("ts")).over(
        Window.partitionBy(col("fingerprint"), col("__ep"))))
      .select(lit(alertName).as("alertname"), col("labels"), col("ts"),
        col("value"), col("active_since"),
        when(col("ts") - col("active_since") >= forS, "firing")
          .otherwise("pending").as("state"))
  }
}
