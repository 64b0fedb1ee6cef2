package graft.gates

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import org.apache.spark.sql.expressions.Window

import graft.http.{Frontend, Params}
import graft.logql.{EvalParams, LogQLCompiler}
import graft.model.{MapOps, OracleViews, Tables}
import graft.promql.{PromParams, PromQLCompiler}
import graft.traceql.{TraceQLCompiler, TraceQLParser}

/** HTTP-roundtrip gates: the serving layer IS the unit under test — wire
  * payloads go through [[Frontend.route]] (the exact dispatcher the socket
  * server runs), land in the store via the live-append path, and the
  * query side reads them back; the DuckDB oracle replays the derivation
  * from the original events table. Each gate works on a FRESH small copy
  * of the fixture (events downsampled to user_id % 17 == 0) so the
  * per-gate store build stays bounded at any SF — the filter is mirrored
  * in the oracle's view text.
  */
object HttpGates extends GateSet {

  import EvalWindow._

  /** Filtered logs view for the oracle — [[OracleViews.logs]] with the
    * same user_id % 17 downsample [[freshSmallDir]] applies.
    */
  private val smallLogs: String =
    """logs AS (
      |  SELECT epoch_ns(ts) AS timestamp_ns,
      |         event_type,
      |         CASE WHEN event_type = 'error' THEN 'error' ELSE 'info' END AS level,
      |         CAST(user_id AS VARCHAR) AS "user",
      |         props AS line,
      |         value
      |  FROM events WHERE user_id % 17 = 0)""".stripMargin

  /** Events-only fixture dir at ~1/17 scale, memoized per (JVM, dir) so
    * repeated invocations (bench min-of-N samples) pay the store build
    * ONCE. The gates MUTATE this store via HTTP pushes — each invocation
    * pushes under a fresh `run` marker and queries only its own marker,
    * so accumulated appends from earlier samples never leak into a later
    * sample's result.
    */
  private val fixtures =
    scala.collection.concurrent.TrieMap[String, String]()
  private val fixtureLock = new Object

  private def fixtureDir(spark: SparkSession, dir: String): String =
    fixtures.getOrElse(dir, fixtureLock.synchronized {
      fixtures.getOrElseUpdate(dir, {
        val tmp = java.nio.file.Files.createTempDirectory("graft-http-gate")
          .toFile
        tmp.deleteOnExit()
        Tables.rawEvents(spark, dir)
          .filter(pmod(col("user_id"), lit(17L)) === 0)
          .coalesce(1)
          .write.parquet(tmp.getAbsolutePath + "/events.parquet")
        tmp.getAbsolutePath
      })
    })

  private val runCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Pre-pay the fixture build + its store materialization (the resident
    * query service's startup cost) so bench samples of the HTTP gates
    * measure the push-then-query loop, not a one-time store build.
    */
  def warm(spark: SparkSession, dir: String): Unit = {
    graft.store.Store.ensure(spark, fixtureDir(spark, dir))
    ()
  }

  /** One OTLP/HTTP logs request carrying every row of `logs`, resource
    * attributes = the row's label set plus `extra` (the push marker that
    * keeps pushed streams disjoint from the store-built ones).
    */
  private def otlpLogsBody(logs: DataFrame,
      extra: (String, String)): String = {
    val attrs = transform(
      map_entries(MapOps.update(col("labels"),
        map(lit(extra._1), lit(extra._2)))),
      e => struct(e.getField("key").as("key"),
        struct(e.getField("value").as("stringValue")).as("value")))
    logs
      .groupBy(col("labels"))
      .agg(collect_list(struct(
        col("timestamp_ns").cast("string").as("timeUnixNano"),
        struct(col("line").as("stringValue")).as("body"))).as("recs"))
      .select(struct(
        struct(attrs.as("attributes")).as("resource"),
        array(struct(col("recs").as("logRecords"))).as("scopeLogs")).as("rl"))
      .agg(to_json(struct(collect_list(col("rl")).as("resourceLogs"))))
      .head.getString(0)
  }

  /** One Loki push request: streams keyed by level under `eventType`,
    * tagged with the invocation's run marker.
    */
  private def lokiBody(logs: DataFrame, eventType: String,
      run: String): String =
    logs
      .groupBy(element_at(col("labels"), "level").as("level"))
      .agg(collect_list(array(col("timestamp_ns").cast("string"),
        col("line"))).as("values"))
      .select(struct(
        map(lit("event_type"), lit(eventType), lit("level"), col("level"),
          lit("run"), lit(run)).as("stream"),
        col("values").as("values")).as("st"))
      .agg(to_json(struct(collect_list(col("st")).as("streams"))))
      .head.getString(0)

  private def post(fe: Frontend, path: String, body: String,
      okStatus: Int): Unit = {
    val res = fe.route(path, Params(), "POST", body)
    if (res.status != okStatus)
      throw new IllegalStateException(
        s"POST $path -> ${res.status}: ${res.body.take(300)}")
  }

  /** One OTLP/HTTP metrics request: every series of `samples` as a gauge
    * named `family`, datapoint attributes = the sample's labels minus
    * `__name__` (the family name rides the metric `name` field).
    */
  private def otlpMetricsBody(samples: DataFrame, family: String): String = {
    val attrs = transform(
      filter(map_entries(col("labels")),
        e => e.getField("key") =!= "__name__"),
      e => struct(e.getField("key").as("key"),
        struct(e.getField("value").as("stringValue")).as("value")))
    samples
      .groupBy(col("labels"))
      .agg(collect_list(struct(col("timestamp_ns").as("ts"),
        col("value").as("v"))).as("dps"))
      .select(struct(lit(family).as("name"),
        struct(transform(col("dps"), d => struct(
          d.getField("ts").cast("string").as("timeUnixNano"),
          d.getField("v").as("asDouble"),
          attrs.as("attributes"))).as("dataPoints")).as("gauge")).as("m"))
      .agg(to_json(struct(array(struct(array(struct(
        collect_list(col("m")).as("metrics"))).as("scopeMetrics")))
        .as("resourceMetrics"))))
      .head.getString(0)
  }

  /** One OTLP/HTTP traces request: `spans` (long-id columns) under a
    * single resource carrying `service.name`, each span tagged with a
    * `name` attribute so the TraceQL bitmask leaves see pushed spans the
    * same way they see store-built ones.
    */
  private def otlpTracesBody(spans: DataFrame, service: String): String =
    spans
      .select(struct(
        lpad(hex(col("trace_id")), 32, "0").as("traceId"),
        lpad(hex(col("span_id")), 16, "0").as("spanId"),
        when(col("parent_id").isNotNull,
          lpad(hex(col("parent_id")), 16, "0")).as("parentSpanId"),
        col("name").as("name"),
        col("timestamp_ns").cast("string").as("startTimeUnixNano"),
        (col("timestamp_ns") + col("duration_ns")).cast("string")
          .as("endTimeUnixNano"),
        array(struct(lit("name").as("key"),
          struct(col("name").as("stringValue")).as("value")))
          .as("attributes")).as("sp"))
      .agg(collect_list(col("sp")).as("sps"))
      .select(to_json(struct(array(struct(
        struct(array(struct(lit("service.name").as("key"),
          struct(lit(service).as("stringValue")).as("value")))
          .as("attributes")).as("resource"),
        array(struct(col("sps").as("spans"))).as("scopeSpans")))
        .as("resourceSpans"))))
      .head.getString(0)

  /** Leaf partition directories of `tables` holding more parquet parts
    * than `maxFiles` — the small-files audit [[graft.store.Store.maintain]]
    * must zero out.
    */
  private def leavesOverLimit(root: String, tables: Seq[String],
      maxFiles: Int): Int = {
    def leafDirs(f: java.io.File): Seq[java.io.File] = {
      val kids = Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        .toSeq
      val dirs = kids.filter(_.isDirectory)
      if (dirs.isEmpty) Seq(f) else dirs.flatMap(leafDirs)
    }
    tables.map { t =>
      val d = new java.io.File(s"$root/$t")
      if (!d.isDirectory) 0
      else leafDirs(d).count(leaf =>
        Option(leaf.listFiles()).getOrElse(Array.empty[java.io.File])
          .count(f => f.isFile && f.getName.endsWith(".parquet")) > maxFiles)
    }.sum
  }

  override val gates: Seq[Gate] = Seq(

    // --- OTLP push over HTTP -> store append -> LogQL query ---------------
    // (the writer e2e shape: POST wire payload, GET it back — Makefile
    // qryn-test loop; route dispatch + decodeOtlpLogs + Store.appendLogs
    // + the compiled query path all in one certified loop)
    Gate("ingest_http_otlp_roundtrip",
      (spark: SparkSession, dir: String) => {
        val tmp = fixtureDir(spark, dir)
        val run = s"v${runCounter.incrementAndGet()}"
        val fe = new Frontend(spark, tmp, nowNs = () => StartNs)
        post(fe, "/v1/logs",
          otlpLogsBody(Tables.logs(spark, tmp), "otlp" -> run), 200)
        new LogQLCompiler(spark, tmp, EvalParams(StartNs, EndNs, StepS))
          .compileLogQuery(s"""{otlp="$run"}""")
          .groupBy(
            element_at(col("labels"), "event_type").as("event_type"),
            element_at(col("labels"), "level").as("level"),
            element_at(col("labels"), "user").as("user"))
          .agg(count(lit(1)).as("entries"),
            sum(length(col("line"))).cast("long").as("bytes"),
            min(col("timestamp_ns")).as("min_ts"),
            max(col("timestamp_ns")).as("max_ts"))
          .orderBy("event_type", "level", "user")
      },
      Some(OracleViews.withViews(Seq(smallLogs),
        """SELECT event_type, level, "user", count(*) AS entries,
          |  CAST(sum(length(line)) AS BIGINT) AS bytes,
          |  min(timestamp_ns) AS min_ts, max(timestamp_ns) AS max_ts
          |FROM logs GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin))),

    // --- full-stack e2e: HTTP push (Loki + OTLP) -> downsample-maintained
    // store -> range query OVER HTTP (matrix JSON parsed back) -> alert
    // rule POSTED over HTTP evaluated by the alert engine ------------------
    Gate("streaming_http_e2e",
      (spark: SparkSession, dir: String) => {
        val tmp = fixtureDir(spark, dir)
        val run = s"v${runCounter.incrementAndGet()}"
        val fe = new Frontend(spark, tmp, nowNs = () => StartNs)
        val logs = Tables.logs(spark, tmp)
        post(fe, "/loki/api/v1/push", lokiBody(logs, "e2e", run), 204)
        post(fe, "/v1/logs", otlpLogsBody(
          logs.withColumn("labels",
            map(lit("event_type"), lit("e2eotlp"),
              lit("level"), element_at(col("labels"), "level"))),
          "run" -> run), 200)
        // range query over HTTP; parse the matrix JSON back into rows
        val res = fe.route("/loki/api/v1/query_range", Params(
          "query" -> ("""sum by (event_type, level) (count_over_time(""" +
            s"""{event_type=~"e2e|e2eotlp", run="$run"}[6h]))"""),
          "start" -> StartS.toString, "end" -> EndS.toString,
          "step" -> "6h"))
        if (res.status != 200)
          throw new IllegalStateException(s"query_range -> ${res.status}")
        val seriesRe =
          ("""\{"metric":\{"event_type":"([^"]+)","level":"([^"]+)"\},""" +
            """"values":\[(.*?)\]\}""").r
        val pairRe = """\[(\d+),"([0-9.]+)"\]""".r
        val parsed = seriesRe.findAllMatchIn(res.body).flatMap { m =>
          pairRe.findAllMatchIn(m.group(3)).map(pm =>
            Row(m.group(1), m.group(2), pm.group(1).toLong,
              pm.group(2).toDouble))
        }.toSeq
        val counts = spark.createDataFrame(
          spark.sparkContext.parallelize(parsed, 1),
          StructType(Seq(StructField("event_type", StringType),
            StructField("level", StringType),
            StructField("ts", LongType),
            StructField("value", DoubleType))))
        // alert rule arrives over the CRUD route, evaluates via the engine
        post(fe, s"/loki/api/v1/rules/e2e-$run",
          s"""name: g1
             |interval: 1m
             |rules:
             |  - alert: E2EFlow
             |    expr: "sum by (level) (count_over_time({event_type=\\"e2e\\", run=\\"$run\\"}[6h])) > 0"
             |    for: 12h
             |""".stripMargin, 202)
        val rule = graft.streaming.Rules
          .groups(spark, tmp, "loki", s"e2e-$run").head.rules.head
        val states = graft.streaming.Ruler.alertStates(spark, tmp,
            "E2EFlow", rule.expr,
            graft.streaming.Rules.parseIntervalS(rule.forDur),
            EvalParams(StartNs, EndNs, StepS))
          .select(element_at(col("labels"), "level").as("level"),
            col("ts"), col("state"))
        counts.join(states, Seq("level", "ts"), "left")
          .select(col("event_type"), col("level"), col("ts"),
            round(col("value"), 6).as("value"),
            coalesce(col("state"), lit("none")).as("state"))
          .orderBy("event_type", "level", "ts")
      },
      Some(OracleViews.withViews(Seq(smallLogs,
        s"""base AS (
           |  SELECT level, (timestamp_ns // ${StepS}000000000) * $StepS AS ts,
           |    CAST(count(*) AS DOUBLE) AS value
           |  FROM logs GROUP BY 1, 2)""".stripMargin,
        """cnts AS (
          |  SELECT s.src AS event_type, b.level, b.ts, b.value
          |  FROM base b
          |  CROSS JOIN (SELECT unnest(['e2e', 'e2eotlp']) AS src) s)"""
          .stripMargin,
        s"""eps AS (
           |  SELECT level, ts, ts - $StepS * row_number()
           |    OVER (PARTITION BY level ORDER BY ts) AS ep
           |  FROM base WHERE value > 0)""".stripMargin,
        s"""states AS (
           |  SELECT level, ts,
           |    CASE WHEN ts - min(ts) OVER (PARTITION BY level, ep)
           |      >= ${2 * StepS} THEN 'firing' ELSE 'pending' END AS state
           |  FROM eps)""".stripMargin),
        """SELECT c.event_type, c.level, c.ts, round(c.value, 6) AS value,
          |  coalesce(st.state, 'none') AS state
          |FROM cnts c LEFT JOIN states st USING (level, ts)
          |ORDER BY 1, 2, 3""".stripMargin))),

    // --- live-append maintenance loop: push metrics in 4 batches + ONE
    // trace set split across 2 batches -> Store.maintain (compaction +
    // downsample-partial merge) -> (a) PromQL on the pushed family routes
    // through the prom_samples_15s downsample (plan canary), (b) every
    // append-table leaf is back under the file bound, (c) `>>` over the
    // split-pushed traces matches the whole-trace answer the oracle
    // derives — the operations story behind the reference's ctrl
    // maintenance timers + ClickHouse background merges ------------------
    Gate("streaming_maintenance",
      (spark: SparkSession, dir: String) => {
        import spark.implicits._
        val tmp = fixtureDir(spark, dir)
        val runN = runCounter.incrementAndGet()
        val run = s"v$runN"
        val fam = s"graft_rpm_$run"
        val svc = s"push$run"
        val fe = new Frontend(spark, tmp, nowNs = () => StartNs)

        // (1) pushed metric family, four disjoint day-sliced batches —
        // each append writes its own downsample PARTIALS
        val g = Tables.gaugeSamples(spark, tmp)
        for (b <- 0 until 4)
          post(fe, "/v1/metrics", otlpMetricsBody(
            g.filter(pmod(expr("timestamp_ns div 86400000000000"),
              lit(4L)) === b), fam), 200)

        // (2) linear-chain traces (1 in 5), ids offset into a run-private
        // range, parents RE-LINKED to the previous present span (the 1/17
        // event filter breaks the raw chains; a real client pushes
        // consistent traces). Second halves pushed FIRST: the closure
        // repair must handle children-before-parents.
        val idOff = 1000000000000000L + runN * 1000000000L
        val w = Window.partitionBy(col("trace_id")).orderBy(col("span_id"))
        val sp = Tables.spans(spark, tmp)
          .filter(pmod(col("trace_id"), lit(5L)) === 0)
          .withColumn("parent_id", lag(col("span_id"), 1).over(w))
          .withColumn("rn", row_number().over(w))
          .withColumn("cnt",
            count(lit(1)).over(Window.partitionBy(col("trace_id"))))
          .select((col("trace_id") + idOff).as("trace_id"),
            (col("span_id") + idOff).as("span_id"),
            (col("parent_id") + idOff).as("parent_id"),
            col("name"), col("timestamp_ns"), col("duration_ns"),
            (col("rn") <= col("cnt") / 2).as("firstHalf"))
        val spM = graft.model.Materialize(sp)
        post(fe, "/v1/traces",
          otlpTracesBody(spM.filter(!col("firstHalf")), svc), 200)
        post(fe, "/v1/traces",
          otlpTracesBody(spM.filter(col("firstHalf")), svc), 200)

        // (3) scheduled housekeeping: merge downsample partials, bound
        // part-file counts. maxFiles=2 (not the production 8): appends
        // write one file per touched leaf per push, so 4 pushes = 4
        // files — the tighter bound forces the compaction + partial-merge
        // path to actually run under this gate
        graft.store.Store.maintain(spark, tmp, maxFiles = 2)
        val over = leavesOverLimit(graft.store.Store.ensure(spark, tmp),
          Seq("prom_samples", "prom_samples_15s", "spans", "span_attrs",
            "span_ancestors", "samples", "profiles"), 2)

        // (4) the downsample routing rule fires on LIVE data: plan canary
        // + the oracle-checked values
        val mres = new PromQLCompiler(spark, tmp,
            PromParams(StartNs, EndNs, StepS))
          .result(s"count_over_time($fam[6h])", Seq("event_type", "level"))
        // structural canary (plan-string Location fields truncate at
        // spark.sql.maxMetadataStringLength): the scan's root paths must
        // include the pushed-family downsample table
        val scanPaths = mres.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                f.location.rootPaths.map(_.toString)
              case _ => Seq.empty[String]
            }
        }.flatten
        if (!scanPaths.exists(_.contains("prom_samples_15s")))
          throw new IllegalStateException(
            "downsample route did not fire on the pushed family; scanned: " +
              scanPaths.mkString(", "))

        // (5) true-descendant over the split-pushed traces
        val q = TraceQLParser.parseOrThrow(
          s"""{ .service_name="$svc" && .name="view" } >> { .name="purchase" }""")
        val tres = new TraceQLCompiler(spark, tmp, StartNs, EndNs)
          .matchingTraces(q.expr)

        mres.select(lit("metric").as("section"),
            concat(col("event_type"), lit(":"), col("level")).as("series"),
            col("ts"), col("value"))
          .unionByName(tres.select(lit("trace").as("section"),
            (col("trace_id") - idOff).cast("string").as("series"),
            lit(0L).as("ts"), lit(1.0).as("value")))
          .unionByName(Seq(("files_over_limit", "append_tables", 0L,
            over.toDouble)).toDF("section", "series", "ts", "value"))
          .orderBy("section", "series", "ts")
      },
      Some(OracleViews.withViews(Seq(
        """metrics AS (
          |  SELECT epoch_ns(ts) AS timestamp_ns,
          |         event_type,
          |         CASE WHEN event_type = 'error' THEN 'error' ELSE 'info' END AS level,
          |         value
          |  FROM events WHERE user_id % 17 = 0)""".stripMargin,
        s"""spans AS (
           |  SELECT CAST(event_id // 10 AS BIGINT) AS trace_id,
           |         event_id AS span_id, event_type AS name
           |  FROM events
           |  WHERE user_id % 17 = 0 AND (event_id // 10) % 5 = 0
           |    AND epoch_ns(ts) >= $StartNs AND epoch_ns(ts) < $EndNs)"""
          .stripMargin,
        s"grid AS (SELECT unnest(generate_series($StartS, $EndS, $StepS)) AS t)"),
        s"""SELECT * FROM (
           |  SELECT 'metric' AS section, event_type || ':' || level AS series,
           |    g.t AS ts, CAST(count(*) AS DOUBLE) AS value
           |  FROM metrics m JOIN grid g
           |    ON m.timestamp_ns > (g.t - $StepS) * 1000000000
           |   AND m.timestamp_ns <= g.t * 1000000000
           |  GROUP BY 1, 2, 3
           |  UNION ALL
           |  SELECT DISTINCT 'trace', CAST(c.trace_id AS VARCHAR),
           |    CAST(0 AS BIGINT), 1.0
           |  FROM spans c JOIN spans p
           |    ON c.trace_id = p.trace_id AND p.span_id < c.span_id
           |  WHERE c.name = 'purchase' AND p.name = 'view'
           |  UNION ALL
           |  SELECT 'files_over_limit', 'append_tables', CAST(0 AS BIGINT), 0.0
           |) ORDER BY 1, 2, 3""".stripMargin))),

    // --- ruler writeback: a recording rule posted over CRUD evaluates and
    // writes back through the live-append metrics path (writeback.go's
    // in-process writer), making the recorded family immediately
    // PromQL-queryable over HTTP — queried back via /api/v1/query_range
    // with a matcher on the rule's static label (which also certifies the
    // rule-label overlay reached the stored series) -----------------------
    Gate("streaming_ruler_writeback",
      (spark: SparkSession, dir: String) => {
        val tmp = fixtureDir(spark, dir)
        val run = s"v${runCounter.incrementAndGet()}"
        val rec = s"e2e_rate_$run"
        val fe = new Frontend(spark, tmp, nowNs = () => StartNs)
        // the rule evaluates over THIS gate's own pushed stream (run
        // marker): the shared fixture accumulates other gates' pushes,
        // so a broad selector would double-count their log copies
        post(fe, "/loki/api/v1/push",
          lokiBody(Tables.logs(spark, tmp), "wbk", run), 204)
        post(fe, s"/loki/api/v1/rules/wb-$run",
          s"""name: g1
             |interval: 1m
             |rules:
             |  - record: $rec
             |    expr: "sum by (level) (count_over_time({event_type=\\"wbk\\", run=\\"$run\\"}[6h]))"
             |    labels:
             |      team: sre
             |""".stripMargin, 202)
        val rule = graft.streaming.Rules
          .groups(spark, tmp, "loki", s"wb-$run").head.rules.head
        val n = graft.streaming.Ruler.writeback(spark, tmp, rule.record,
          rule.labels, rule.expr, EvalParams(StartNs, EndNs, StepS))
        if (n == 0)
          throw new IllegalStateException("writeback pushed no samples")
        val res = fe.route("/api/v1/query_range", Params(
          "query" -> s"""$rec{team="sre"}""",
          "start" -> StartS.toString, "end" -> EndS.toString,
          "step" -> "6h"))
        if (res.status != 200)
          throw new IllegalStateException(s"query_range -> ${res.status}")
        // bare selectors keep __name__; label keys render sorted
        val seriesRe =
          ("""\{"metric":\{"__name__":"[^"]+","level":"([^"]+)",""" +
            """"team":"sre"\},"values":\[(.*?)\]\}""").r
        val pairRe = """\[(\d+),"([0-9.]+)"\]""".r
        val parsed = seriesRe.findAllMatchIn(res.body).flatMap { m =>
          pairRe.findAllMatchIn(m.group(2)).map(pm =>
            Row(m.group(1), pm.group(1).toLong, pm.group(2).toDouble))
        }.toSeq
        spark.createDataFrame(
          spark.sparkContext.parallelize(parsed, 1),
          StructType(Seq(StructField("level", StringType),
            StructField("ts", LongType),
            StructField("value", DoubleType))))
          .orderBy("level", "ts")
      },
      // LogQL range windows are FLOOR-aligned ([t, t+range)) in this
      // engine — same bucket formulation as the streaming_http_e2e oracle
      Some(OracleViews.withViews(Seq(smallLogs),
        s"""SELECT level,
           |  (timestamp_ns // ${StepS}000000000) * $StepS AS ts,
           |  CAST(count(*) AS DOUBLE) AS value
           |FROM logs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))),

    // --- ruler scheduler loop: a rule group posted over CRUD is evaluated
    // by the SCHEDULED loop (`ruler/manager.go:43-250` interval tickers)
    // on two deterministic clock ticks one interval apart — the recording
    // rule's two writeback vectors and the alerting rule's two ALERTS
    // exports are read back through the PromQL engine; the oracle replays
    // both evaluations from the pushed logs -------------------------------
    Gate("streaming_ruler_scheduler",
      (spark: SparkSession, dir: String) => {
        val tmp = fixtureDir(spark, dir)
        val run = s"v${runCounter.incrementAndGet()}"
        val rec = s"sched_count_$run"
        val alert = s"SchedAlert$run"
        // the scheduler sweeps EVERY stored group: clear groups left by
        // earlier gates/samples so this tick evaluates only its own
        // (each invocation re-posts its rules, so nothing is lost)
        def rmrf(f: java.io.File): Unit = if (f.exists) {
          Option(f.listFiles).foreach(_.foreach(rmrf)); f.delete(): Unit
        }
        rmrf(new java.io.File(graft.streaming.Rules.rulesPath(tmp)))
        val fe = new Frontend(spark, tmp, nowNs = () => StartNs)
        post(fe, "/loki/api/v1/push",
          lokiBody(Tables.logs(spark, tmp), "sch", run), 204)
        post(fe, s"/loki/api/v1/rules/sch-$run",
          s"""name: g1
             |interval: 6h
             |rules:
             |  - record: $rec
             |    expr: "sum by (level) (count_over_time({event_type=\\"sch\\", run=\\"$run\\"}[6h]))"
             |    labels:
             |      team: sre
             |  - alert: $alert
             |    expr: "sum by (level) (count_over_time({event_type=\\"sch\\", run=\\"$run\\"}[6h])) > 0"
             |""".stripMargin, 202)
        val t1 = StartS + 21600L
        val t2 = StartS + 43200L
        var now = t1 * 1000000000L
        val sched = new graft.streaming.RulerScheduler(spark, tmp, () => now)
        val w1 = sched.tick()
        val idle = sched.tick() // same clock: group not due, nothing runs
        now = t2 * 1000000000L
        val w2 = sched.tick()
        // RESTART within the same bucket: a second scheduler instance
        // (fresh in-memory state, the crashed-and-relaunched ruler) must
        // re-seed from the persisted watermark and record NOTHING — the
        // oracle hash then certifies exactly one sample per grid point
        val dup = new graft.streaming.RulerScheduler(spark, tmp,
          () => now).tick()
        if (w1 == 0 || w2 == 0 || idle != 0 || dup != 0)
          throw new IllegalStateException(
            s"scheduler ticks wrote $w1/$idle/$w2/restart=$dup")
        // both families read back through the PromQL engine at exactly
        // the two tick points
        val prom = new PromQLCompiler(spark, tmp,
          PromParams(t1 * 1000000000L, t2 * 1000000000L, 21600L))
        val recorded = prom.compile(s"""$rec{team="sre"}""")
          .select(lit("recorded").as("section"),
            element_at(col("labels"), "level").as("series"),
            col("ts"), col("value"))
        val alerts = prom.compile(s"""ALERTS{alertname="$alert"}""")
          .select(lit("alert").as("section"),
            concat(element_at(col("labels"), "level"), lit(":"),
              element_at(col("labels"), "alertstate")).as("series"),
            col("ts"), col("value"))
        recorded.unionByName(alerts).orderBy("section", "series", "ts")
      },
      // each tick evaluates one floor-aligned [t, t+6h) window; the alert
      // has for=0, so any nonzero count is immediately `firing`
      Some(OracleViews.withViews(Seq(smallLogs,
        s"g AS (SELECT unnest([${StartS + 21600L}::BIGINT, " +
          s"${StartS + 43200L}::BIGINT]) AS t)",
        """counts AS (
          |  SELECT level, g.t AS ts, CAST(count(*) AS DOUBLE) AS value
          |  FROM logs l JOIN g
          |    ON l.timestamp_ns >= g.t * 1000000000
          |   AND l.timestamp_ns < (g.t + 21600) * 1000000000
          |  GROUP BY 1, 2)""".stripMargin),
        """SELECT * FROM (
          |  SELECT 'recorded' AS section, level AS series, ts, value
          |  FROM counts
          |  UNION ALL
          |  SELECT 'alert', level || ':firing', ts, 1.0
          |  FROM counts WHERE value > 0
          |) ORDER BY 1, 2, 3""".stripMargin)))
  )
}
