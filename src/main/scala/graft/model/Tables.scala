package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._

/** Canonical observability data model (see SURVEY.md §1).
  *
  * The reference (metrico/gigapipe, `ctrl/qryn/sql/log.sql:16-32`) stores
  * everything in two tables: `time_series` (fingerprint → label set) and
  * `samples_v3` (fingerprint, timestamp_ns, value|string). We mirror that
  * shape as DataFrames over Parquet, with labels as a first-class
  * `MapType(String,String)` column instead of a JSON string — Spark's map
  * functions (`element_at`, `map_filter`, `map_concat`) then replace the
  * reference's JSONExtract/mapUpdate ClickHouse calls.
  *
  * For the driver's correctness gate the canonical tables are *derived
  * deterministically* from the driver-generated testdata
  * (`/root/testdata/sf{N}/events.parquet` etc.), with the equivalent DuckDB
  * CTE kept in [[OracleViews]] right next to each derivation — the two must
  * stay in lock-step, the DuckDB text is what the oracle compares against.
  *
  * Scale notes (100 TB design): every derived view here is a narrow
  * projection + arithmetic over the source scan — no shuffle, no UDF, fully
  * codegen'd, and column-prunable (reading `logs` for a 2-column query only
  * scans those parquet columns). A production deployment would materialize
  * these as date-partitioned Parquet/Delta tables sorted within partitions
  * by (fingerprint, timestamp_ns); the query compilers only depend on the
  * schema, not on how the table is materialized.
  */
object Tables {

  /** The driver-generated events table AS ENCODED — `ts` may surface as
    * int64 epoch-ns (parquet TIMESTAMP(NANOS) + `nanosAsLong`: Spark 4 has
    * no ns timestamp type and rejects the column without the flag), as
    * TIMESTAMP_NTZ (parquet ms/µs with isAdjustedToUTC=false — what the
    * current generator emits), or as TIMESTAMP (isAdjustedToUTC=true).
    * Streaming reads need THIS schema (a LongType override on a
    * timestamp-encoded parquet column fails the vectorized reader); the
    * canonical model goes through [[events]].
    */
  def rawEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/events.parquet")
  }

  /** Normalize `ts` to canonical epoch-ns LongType, independent of BOTH the
    * parquet timestamp unit and the session timezone:
    *  - LongType: already epoch-ns (TIMESTAMP(NANOS) via nanosAsLong) — pass.
    *  - TIMESTAMP_NTZ: pure wall-clock arithmetic via `timestampdiff` from
    *    the NTZ epoch literal — never casts through the session timezone
    *    (an NTZ→TIMESTAMP cast would shift by the session zone's offset;
    *    verified bit-identical across UTC / Pacific/Kiritimati /
    *    America/New_York). DuckDB's epoch_ns() on the same naive column
    *    makes the identical wall-clock-as-UTC choice, so oracle parity holds.
    *  - TIMESTAMP (instant semantics): `unix_micros`, tz-independent by
    *    construction.
    * Idempotent, narrow, codegen'd — safe on batch and streaming frames.
    */
  def normalizeTs(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    events.schema("ts").dataType match {
      case LongType => events
      case TimestampNTZType => events.withColumn("ts",
        expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)") * lit(1000L))
      case TimestampType => events.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other — expected int64 ns, TIMESTAMP, or TIMESTAMP_NTZ")
    }
  }

  /** Canonical events: `ts` always epoch-ns long, whatever the generator
    * wrote (see [[rawEvents]]/[[normalizeTs]]).
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(rawEvents(spark, dir))

  def documents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** Stable series identity: hash of the sorted label set.
    * Reference: `cityHash64(arraySort(labels))`
    * (`writer/utils/helputils/fingerprint.go`); the exact hash function is
    * an implementation detail — only distribution + stability matter, so we
    * use Spark's codegen'd xxhash64 over the canonical JSON of the sorted
    * entry list. Never exposed in query outputs (oracle-independent).
    */
  def fingerprintOf(labels: Column): Column =
    graft.functions.LabelsFingerprintFn.of(labels)

  /** Log stream table derived from `events.parquet`.
    *
    * Mirrors `samples_v3` rows of type=1 (`log.sql:25-32`) joined with their
    * `time_series` labels: one row per log line with
    *   timestamp_ns  — event time in ns (µs precision: parquet ns is
    *                   truncated identically by Spark (µs timestamps) and by
    *                   the oracle's epoch_us())
    *   labels        — {event_type, level, user} (dynamic label set)
    *   line          — the raw log line (JSON props payload)
    *   value         — numeric payload (metric sample when type=2)
    *   fingerprint   — series identity
    */
  def logs(spark: SparkSession, dir: String): DataFrame =
    logsFrom(events(spark, dir))

  /** The logs derivation over any events-shaped frame — including a
    * STREAMING DataFrame (the live-tail path builds the same projection
    * over readStream, so batch and stream share one derivation). Accepts
    * raw (timestamp-typed) or normalized (ns-long) `ts` — normalization is
    * idempotent and streaming-safe.
    */
  def logsFrom(eventsRaw: DataFrame): DataFrame = {
    val events = normalizeTs(eventsRaw)
    val labels = map(
      lit("event_type"), col("event_type"),
      lit("level"), when(col("event_type") === "error", "error").otherwise("info"),
      lit("user"), col("user_id").cast("string"))
    events
      .select(
        // truncate to µs: the oracle's parquet reader has µs timestamps,
        // so the canonical model pins µs precision (ns-granular inputs
        // keep full precision internally when no oracle parity is needed)
        (col("ts") - pmod(col("ts"), lit(1000L))).as("timestamp_ns"),
        labels.as("labels"),
        col("props").as("line"),
        col("value").as("value"))
      .withColumn("fingerprint", fingerprintOf(col("labels")))
  }

  /** Metric samples table (samples_v3 type=2): the numeric `value` of each
    * event as a counter-ish sample of metric `events_value`.
    */
  def metricSamples(spark: SparkSession, dir: String): DataFrame =
    logs(spark, dir).withColumn("name", lit("events_value"))

  // --- PromQL metric families (samples_v3 type=2 rows; SURVEY §1.1) -------
  // Three synthetic-but-realistic metric series derived from events, each
  // with a DuckDB twin in [[OracleViews]]:
  //   events_value  — gauge, the raw event value
  //   events_total  — counter with RESETS: running sum of value per stream,
  //                   mod 10k (drops whenever the sum crosses a multiple —
  //                   exercises rate/increase reset compensation)
  //   events_bucket — histogram: per le in {10,25,50,100,250,+Inf} the
  //                   cumulative count of events with value ≤ le (every
  //                   event emits all buckets, like a real scrape)

  /** Counter reset modulus (documented in OracleViews.counters). */
  val CounterMod = 10000.0

  val BucketLes: Seq[Double] =
    Seq(10.0, 25.0, 50.0, 100.0, 250.0, Double.PositiveInfinity)

  private def metricBase(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      (col("ts") - pmod(col("ts"), lit(1000L))).as("timestamp_ns"),
      col("event_type"),
      when(col("event_type") === "error", "error").otherwise("info").as("level"),
      col("value"))

  def gaugeSamples(spark: SparkSession, dir: String): DataFrame = {
    val labels = map(
      lit("__name__"), lit("events_value"),
      lit("event_type"), col("event_type"),
      lit("level"), col("level"))
    metricBase(spark, dir)
      .select(col("timestamp_ns"), labels.as("labels"), col("value"))
      .withColumn("fingerprint", fingerprintOf(col("labels")))
  }

  def counterSamples(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("timestamp_ns"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val labels = map(
      lit("__name__"), lit("events_total"),
      lit("event_type"), col("event_type"),
      lit("level"), col("level"))
    metricBase(spark, dir)
      .withColumn("value", pmod(sum(col("value")).over(w), lit(CounterMod)))
      .select(col("timestamp_ns"), labels.as("labels"), col("value"))
      .withColumn("fingerprint", fingerprintOf(col("labels")))
  }

  def bucketSamples(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = metricBase(spark, dir)
      .select(col("timestamp_ns"), col("event_type"), col("value"),
        explode(lit(BucketLes.toArray)).as("le"))
    val w = Window.partitionBy(col("event_type"), col("le"))
      .orderBy(col("timestamp_ns"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val labels = map(
      lit("__name__"), lit("events_bucket"),
      lit("event_type"), col("event_type"),
      lit("le"), when(col("le") === Double.PositiveInfinity, "+Inf")
        .otherwise(col("le").cast("string")))
    base
      .withColumn("value",
        sum(when(col("value") <= col("le"), 1.0).otherwise(0.0)).over(w))
      .select(col("timestamp_ns"), labels.as("labels"), col("value"))
      .withColumn("fingerprint", fingerprintOf(col("labels")))
  }

  /** Span table derived from events: every 10 consecutive event_ids form a
    * trace; each event is a span. Mirrors `tempo_traces`
    * (`ctrl/qryn/sql/traces.sql:7-19`). Purely arithmetic so the DuckDB
    * oracle can replicate it exactly.
    */
  def spans(spark: SparkSession, dir: String): DataFrame =
    spansFrom(events(spark, dir))

  /** Span derivation over any events frame (batch or micro-batch) — the
    * ingest-side transform the streaming fan-out applies per batch.
    */
  def spansFrom(eventsRaw: DataFrame): DataFrame =
    normalizeTs(eventsRaw).select(
      (col("event_id") / 10).cast("long").as("trace_id"),
      col("event_id").as("span_id"),
      when(col("event_id") % 10 === 0, lit(null).cast("long"))
        .otherwise(col("event_id") - 1).as("parent_id"),
      col("event_type").as("name"),
      concat(lit("svc"), (col("user_id") % 5).cast("string")).as("service_name"),
      (col("ts") - pmod(col("ts"), lit(1000L))).as("timestamp_ns"),
      // explicit round: Spark's double→long cast truncates, DuckDB's cast
      // rounds — value*1e6 sits an ulp below the integer for half the
      // 2-decimal values, so the derivations must round identically
      round(col("value") * 1e6, 0).cast("long").as("duration_ns"),
      col("user_id"),
      col("props"))

  /** Span attribute rows (tempo_traces_attrs_gin, `traces.sql:21-32`):
    * exploded key/value pairs per span.
    */
  def spanAttrs(spark: SparkSession, dir: String): DataFrame =
    spans(spark, dir).select(
      col("trace_id"), col("span_id"), col("parent_id"), col("timestamp_ns"),
      col("duration_ns"),
      explode(map(
        lit("name"), col("name"),
        lit("service_name"), col("service_name"),
        lit("user"), col("user_id").cast("string"))).as(Seq("key", "val")))

  /** 15s pre-aggregated downsample of metric samples, mirroring
    * `metrics_15s` (`log.sql:83-107`) with plain columns instead of
    * AggregateFunction partial-state blobs (re-aggregatable with
    * sum/min/max/max_by). At 100 TB this is the table rate()/sum_over_time
    * read instead of raw samples — 15s buckets cut the scan ~15× for typical
    * 1-sample/s series.
    */
  def metrics15s(spark: SparkSession, dir: String): DataFrame =
    partials15s(metricSamples(spark, dir), Seq(col("fingerprint")),
      sum(length(col("line"))).as("bytes"))

  /** The 15s downsample PARTIALS of raw sample rows — the one aggregate
    * behind both downsample tables (`metrics_15s`, `prom_samples_15s`), at
    * build and on every push: per (`keys`, 15s bucket) the last value
    * (argmax by timestamp) and its timestamp, min, max, sum and count,
    * then `extra`. Partials of disjoint row sets merge exactly
    * (`Store.mergePartials`), which is what lets each push append its own.
    */
  def partials15s(rows: DataFrame, keys: Seq[Column], extra: Column*): DataFrame = {
    val bucketNs = 15L * 1000 * 1000 * 1000
    val aggs = Seq(
      max_by(col("value"), col("timestamp_ns")).as("last"),
      max(col("timestamp_ns")).as("last_ts"),
      min(col("value")).as("min"),
      max(col("value")).as("max"),
      sum(col("value")).as("sum"),
      count(lit(1)).as("cnt")) ++ extra
    rows.groupBy(keys :+
        (col("timestamp_ns") - pmod(col("timestamp_ns"), lit(bucketNs)))
          .as("timestamp_ns"): _*)
      .agg(aggs.head, aggs.tail: _*)
  }
}

/** DuckDB CTE text for each derived view — MUST stay in sync with the
  * derivations above; this is what the driver's oracle executes. Flat label
  * columns (event_type, level, user) stand in for the labels map, and
  * fingerprints never appear in outputs, so the oracle needs no hash parity.
  */
object OracleViews {
  val logs: String =
    """logs AS (
      |  SELECT epoch_ns(ts) AS timestamp_ns,
      |         event_type,
      |         CASE WHEN event_type = 'error' THEN 'error' ELSE 'info' END AS level,
      |         CAST(user_id AS VARCHAR) AS "user",
      |         props AS line,
      |         value
      |  FROM events)""".stripMargin

  /** Gauge metric twin of [[Tables.gaugeSamples]]. */
  val metrics: String =
    """metrics AS (
      |  SELECT epoch_ns(ts) AS timestamp_ns,
      |         event_type,
      |         CASE WHEN event_type = 'error' THEN 'error' ELSE 'info' END AS level,
      |         value
      |  FROM events)""".stripMargin

  /** Counter twin of [[Tables.counterSamples]]: running sum mod 10k. */
  val counters: String =
    """counters AS (
      |  SELECT timestamp_ns, event_type, level,
      |         fmod(SUM(value) OVER (PARTITION BY event_type ORDER BY timestamp_ns
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 10000) AS value
      |  FROM metrics)""".stripMargin

  /** Histogram-bucket twin of [[Tables.bucketSamples]]. */
  val buckets: String =
    """buckets AS (
      |  SELECT m.timestamp_ns, m.event_type, l.le,
      |         SUM(CASE WHEN m.value <= l.le THEN 1.0 ELSE 0.0 END)
      |           OVER (PARTITION BY m.event_type, l.le ORDER BY m.timestamp_ns
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
      |  FROM metrics m
      |  CROSS JOIN (SELECT unnest([10.0, 25.0, 50.0, 100.0, 250.0, 'inf'::DOUBLE]) AS le) l)""".stripMargin

  val spans: String =
    """spans AS (
      |  SELECT CAST(event_id // 10 AS BIGINT) AS trace_id,
      |         event_id AS span_id,
      |         CASE WHEN event_id % 10 = 0 THEN NULL ELSE event_id - 1 END AS parent_id,
      |         event_type AS name,
      |         'svc' || CAST(user_id % 5 AS VARCHAR) AS service_name,
      |         epoch_ns(ts) AS timestamp_ns,
      |         CAST(value * 1e6 AS BIGINT) AS duration_ns,
      |         user_id,
      |         props
      |  FROM events)""".stripMargin

  /** Wrap a query body with the standard CTE prelude. */
  def withViews(views: Seq[String], body: String): String =
    "WITH " + views.mkString(",\n") + "\n" + body
}
