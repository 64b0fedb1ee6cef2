package graft.http

import java.net.URLDecoder
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.logql.{EvalParams, LogQLApi, LogQLCompiler, LogQLParser}
import graft.logql.LogQLAst.LogExpr
import graft.promql.{PromParams, PromQLApi, PromQLCompiler}
import graft.traceql.{TraceQLCompiler, TraceQLParser}

import Json._

/** Thin HTTP frontend over the three query engines — the reference's
  * router surface (`reader/router/router_v1.go` route table) re-expressed
  * as one dispatcher over the compiled Spark plans. Routes:
  *
  *   - `/loki/api/v1/query_range` (streams or matrix), `/loki/api/v1/
  *     labels`, `/loki/api/v1/label/{k}/values`, `/loki/api/v1/series`,
  *     `/loki/api/v1/index/{stats,volume}`, `/loki/api/v1/
  *     detected_{labels,fields}` (reference
  *     `reader/controller/query_range.go:28`, `label.go`)
  *   - `/api/v1/query_range`, `/api/v1/query` (instant = single-point
  *     grid), `/api/v1/metadata` (reference `prom.go`, `metadata.go`)
  *   - `/api/search?q=<traceql>`, `/api/{v2/}search/tags`,
  *     `/api/{v2/}search/tag/{k}/values`, `/api/traces/{hex}`
  *     (reference `tempo.go:53-160`)
  *   - `/ready` + `/api/echo` liveness probes
  *
  * Serving model: this is a LIBRARY frontend (one JVM, the dev/test and
  * small-deployment shape — the e2e fixture tests drive it over real
  * sockets). At 100 TB the same `route` dispatch sits behind a Spark
  * Connect or Livy-style session pool; nothing here holds per-request
  * state, so horizontal replication is free. The only `collect()` is the
  * response materialization itself — every route's result is bounded by
  * `limit`/label-cardinality/grid size, the same bound the reference's
  * JSON writers have.
  *
  * Wire formats follow the public Loki/Prometheus/Tempo HTTP API: sample
  * values are strings, stream timestamps are ns strings, matrix
  * timestamps are unix seconds, `status`/`data`/`resultType` envelopes.
  * Errors return the Prometheus error envelope with HTTP 400.
  */
class Frontend(private[http] val spark: SparkSession, dir: String,
    nowNs: () => Long = () => System.currentTimeMillis() * 1000000L) {

  // ---- time / duration parsing --------------------------------------------

  /** Loki/Prom timestamps: RFC3339 (`2024-01-01T00:00:00Z`, numeric UTC
    * offsets like `+02:00` included — upstream accepts both, so
    * OffsetDateTime rather than Instant does the parse), float unix
    * seconds (`1704067200.5`), integer unix seconds, or integer unix
    * NANOSECONDS (≥ 16 digits — the Loki convention; second-precision ns
    * values and ns-precision values cannot collide below year 33658).
    * RFC3339 fractional seconds keep full ns precision (epochSecond*1e9 +
    * getNano, not the ms-truncating toEpochMilli).
    */
  private def parseTimeNs(s: String): Long =
    if (s.exists(c => c == 'T' || c == 'Z' || c == '-' && s.length > 10)) {
      val i = java.time.OffsetDateTime.parse(s).toInstant
      i.getEpochSecond * 1000000000L + i.getNano
    }
    else if (s.contains('.')) (s.toDouble * 1e9).toLong
    else if (s.forall(_.isDigit) && s.length >= 16) s.toLong
    else s.toLong * 1000000000L

  /** Durations: bare (float) seconds or Go-style unit strings, compound
    * forms included (`15s`, `5m`, `1h30m`, `1m30s500ms`) — upstream
    * Loki/Prometheus accept the full Go duration grammar.
    */
  private def parseDurationS(s: String): Long = {
    val unit = "([0-9.]+)(ms|s|m|h|d)".r
    val parts = unit.findAllMatchIn(s).toSeq
    if (parts.nonEmpty && parts.map(_.matched).mkString == s) {
      val mult = Map("ms" -> 0.001, "s" -> 1.0, "m" -> 60.0,
        "h" -> 3600.0, "d" -> 86400.0)
      math.max(1L, parts.map(m =>
        m.group(1).toDouble * mult(m.group(2))).sum.toLong)
    } else math.max(1L, s.toDouble.toLong)
  }

  // ---- response envelopes --------------------------------------------------

  private def ok(data: String): HttpResult =
    HttpResult(200, s"""{"status":"success","data":$data}""")

  private def badRequest(msg: String): HttpResult =
    HttpResult(400, obj(Seq(
      "status" -> str("error"), "errorType" -> str("bad_data"),
      "error" -> str(msg))))

  private def notFound(path: String): HttpResult =
    HttpResult(404, obj(Seq(
      "status" -> str("error"), "errorType" -> str("not_found"),
      "error" -> str(s"unknown route: $path"))))

  private def labelsJson(m: Map[String, String]): String =
    sortedObj(m.toSeq.map { case (k, v) => k -> str(v) })

  // ---- Loki ----------------------------------------------------------------

  /** Streams response: rows grouped by label set, values as
    * [ns-string, line] pairs in request direction per stream (the limit
    * was already applied by the compiled plan's TakeOrderedAndProject;
    * the per-stream re-sort here is over the ≤limit collected rows).
    */
  private def streamsArr(rows: Seq[Row], forward: Boolean): String = {
    val byStream = rows.groupBy(r => r.getMap[String, String](1).toMap)
    val streams = byStream.toSeq
      .map { case (labels, rs) =>
        val ordered = rs.sortBy(r => (r.getLong(0), r.getString(2)))
        labelsJson(labels) -> arr(
          (if (forward) ordered else ordered.reverse).map(r =>
            arr(Seq(str(r.getLong(0).toString), str(r.getString(2))))))
      }
      .sortBy(_._1)
      .map { case (lj, vals) =>
        obj(Seq("stream" -> lj, "values" -> vals))
      }
    arr(streams)
  }

  private def lokiStreams(rows: Seq[Row], forward: Boolean): String =
    obj(Seq("resultType" -> str("streams"),
      "result" -> streamsArr(rows, forward)))

  /** Matrix response shared by Loki metric queries and PromQL range
    * queries: rows (ts seconds, labels, value) grouped by label set.
    */
  private def matrix(rows: Seq[Row]): String = {
    val bySeries = rows.groupBy(r => r.getMap[String, String](1).toMap)
    val series = bySeries.toSeq
      .map { case (labels, rs) =>
        labelsJson(labels) -> arr(rs.sortBy(_.getLong(0)).map(r =>
          arr(Seq(num(r.getLong(0).toDouble), str(num(r.getDouble(2)))))))
      }
      .sortBy(_._1)
      .map { case (lj, vals) => obj(Seq("metric" -> lj, "values" -> vals)) }
    obj(Seq("resultType" -> str("matrix"), "result" -> arr(series)))
  }

  private def lokiQueryRange(p: Params): HttpResult = {
    val q = p.required("query")
    val ev = EvalParams(
      parseTimeNs(p.required("start")), parseTimeNs(p.required("end")),
      parseDurationS(p.first("step").getOrElse("15s")))
    val c = new LogQLCompiler(spark, dir, ev)
    LogQLParser.parseOrThrow(q) match {
      case LogExpr(_, _) =>
        // Loki defaults to backward (newest first)
        val forward = p.first("direction").contains("forward")
        val limit = p.first("limit").map(_.toInt).getOrElse(100)
        val rows = c.compileLogQuery(q, Some(limit), forward)
          .select(col("timestamp_ns"), col("labels"), col("line"))
          .collect().toSeq
        ok(lokiStreams(rows, forward))
      case _ =>
        val rows = c.compile(q)
          .select(col("ts"), col("labels"),
            round(col("value"), 6).as("value"))
          .collect().toSeq
        ok(matrix(rows))
    }
  }

  private def lokiLabels(p: Params): HttpResult = {
    val names = LogQLApi.labelNames(spark, dir, evalParams(p),
        p.first("query").getOrElse("{}"))
      .collect().map(_.getString(0)).sorted
    ok(arr(names.toSeq.map(str)))
  }

  private def lokiLabelValues(p: Params, key: String): HttpResult = {
    val values = LogQLApi.labelValues(spark, dir, evalParams(p), key,
        p.first("query").getOrElse("{}"))
      .collect().map(_.getString(0)).sorted
    ok(arr(values.toSeq.map(str)))
  }

  private def lokiSeries(p: Params): HttpResult = {
    val matches = p.all("match[]") ++ p.all("match")
    if (matches.isEmpty) badRequest("at least one match[] required")
    else {
      val sets = LogQLApi.series(spark, dir, evalParams(p), matches)
        .collect().map(r => labelsJson(r.getMap[String, String](0).toMap))
        .sorted
      ok(arr(sets.toSeq))
    }
  }

  /** `/loki/api/v1/index/stats` — Loki returns this one BARE (no
    * status/data envelope), matching the upstream wire shape. `chunks`
    * is 0: the parquet store has no chunk objects.
    */
  private def lokiIndexStats(p: Params): HttpResult = {
    val r = LogQLApi.indexStats(spark, dir, evalParams(p),
      p.required("query")).collect().head
    HttpResult(200, obj(Seq(
      "streams" -> num(r.getLong(0).toDouble),
      "chunks" -> num(0),
      "entries" -> num(r.getLong(1).toDouble),
      "bytes" -> num(if (r.isNullAt(2)) 0 else r.getLong(2).toDouble))))
  }

  /** `/loki/api/v1/index/volume` — Prom-style vector of per-label-value
    * byte volumes at the window end (the shape Grafana's volume panel
    * consumes).
    */
  private def lokiIndexVolume(p: Params): HttpResult = {
    val ev = evalParams(p)
    val by = p.first("aggregateBy").getOrElse("event_type")
    val endSec = ev.endNs / 1000000000L
    val rows = LogQLApi.indexVolume(spark, dir, ev, p.required("query"), by)
      .collect().toSeq
      .filter(!_.isNullAt(0))
      .map(r => sortedObj(Seq(by -> str(r.getString(0)))) ->
        arr(Seq(num(endSec.toDouble), str(num(r.getLong(1).toDouble)))))
      .sortBy(_._1)
      .map { case (m, v) => obj(Seq("metric" -> m, "value" -> v)) }
    ok(obj(Seq("resultType" -> str("vector"), "result" -> arr(rows))))
  }

  private def lokiDetectedLabels(p: Params): HttpResult = {
    val rows = LogQLApi.detectedLabels(spark, dir, evalParams(p),
        p.first("query").getOrElse("{}"))
      .collect().toSeq.sortBy(_.getString(0))
      .map(r => obj(Seq(
        "label" -> str(r.getString(0)),
        "cardinality" -> num(r.getLong(1).toDouble))))
    HttpResult(200, obj(Seq("detectedLabels" -> arr(rows))))
  }

  private def lokiDetectedFields(p: Params): HttpResult = {
    val rows = LogQLApi.detectedFields(spark, dir, evalParams(p),
        p.required("query"))
      .collect().toSeq.sortBy(r => (r.getString(0), r.getString(1)))
      .map(r => obj(Seq(
        "label" -> str(r.getString(0)),
        "type" -> str(r.getString(2)),
        "cardinality" -> num(r.getLong(3).toDouble),
        "parsers" -> arr(Seq(str(r.getString(1)))))))
    HttpResult(200, obj(Seq("fields" -> arr(rows))))
  }

  /** `/loki/api/v1/tail` — the tail surface
    * (`reader/service/query_range.go:670-800`). A WebSocket `Upgrade:`
    * request gets the full-parity RFC 6455 form on the same port (one
    * frame per poll tick — [[GraftHttpServer]]); a plain GET is the
    * LONG-POLL fallback: same Loki tail frame, the client re-polls with
    * `start` advanced past the newest timestamp it has seen. Each tick
    * evaluates the full LogQL pipeline over [start, now) forward — the
    * same evaluation the query_range gates certify, and the batch twin
    * of the [[graft.streaming.LiveTail]] streaming operator.
    *
    * Per-tick limit + drop accounting (WebSocket loop): upstream caps each
    * tick at min(client limit, tailIncrementalLimit=1000) evaluated
    * NEWEST-first (`query_range.go:27,:717-720`, OrderASC=false), then
    * advances `from` past the newest served timestamp — entries beyond
    * the cap are skipped by that advance, yet its frame hard-codes
    * `dropped_entries: []` (`query_range.go:793-795`). Here the skipped
    * rows are ACCOUNTED: the frame reports each one as
    * `{labels, timestamp}` — the Loki tail contract the field exists
    * for — so a client can tell truncation from quiet. Reporting is
    * bounded (one extra limit's worth per tick); beyond that the tick is
    * truncated exactly like upstream.
    *
    * The LONG-POLL route instead serves OLDEST-first: its client re-polls
    * with the advanced cursor, so paging through a burst is lossless —
    * the cursor only passes entries actually served, and nothing is
    * skipped (`dropped_entries` stays empty). The newest-first skip is
    * kept for the WebSocket tick loop only, where it mirrors upstream's
    * push pacing.
    */
  private def lokiTail(p: Params): HttpResult =
    HttpResult(200, tailFrame(p, 0L, newestFirst = false)._1)

  /** One tail tick: the Loki tail frame over [cursor, now) and the next
    * cursor (past the newest SERVED entry — upstream's from-advance,
    * `query_range.go:783-785`). Shared by the long-poll route (single
    * tick per request, oldest-first so re-polling pages losslessly) and
    * the WebSocket loop (one tick per poll interval, upstream's
    * newest-first skip with drop accounting). `cursorNs` = 0 on the first
    * tick ⇒ the client's `start` (default now−1h) applies.
    */
  private def tailFrame(p: Params, cursorNs: Long,
      newestFirst: Boolean): (String, Long) = {
    val q = p.required("query")
    val startNs = if (cursorNs > 0) cursorNs
      else p.first("start").map(parseTimeNs)
        .getOrElse(nowNs() - 3600L * 1000000000L)
    val tickCap = 1000 // upstream tailIncrementalLimit
    // default 100, hard cap 5000 (controller/query_range.go:18-19), then
    // the per-tick incremental cap
    val limit = math.min(tickCap, math.min(
      p.first("limit").map(_.toInt).filter(_ > 0).getOrElse(100), 5000))
    val ev = EvalParams(startNs, nowNs(), 15L)
    // newest-first with one extra limit's worth of headroom: rows past
    // `limit` are the ones upstream's from-advance would silently skip.
    // oldest-first needs no headroom — nothing beyond the limit is passed
    val all = new LogQLCompiler(spark, dir, ev)
      .compileLogQuery(q, Some(if (newestFirst) limit + tickCap else limit),
        forward = !newestFirst)
      .select(col("timestamp_ns"), col("labels"), col("line"))
      .collect().toSeq
    val (served, dropped) = all.splitAt(limit)
    val frame = obj(Seq(
      "streams" -> streamsArr(served.sortBy(_.getLong(0)), forward = true),
      "dropped_entries" -> arr(dropped.map(r => obj(Seq(
        "labels" -> labelsJson(r.getMap[String, String](1).toMap),
        "timestamp" -> str(r.getLong(0).toString)))))))
    val next =
      if (served.isEmpty) startNs else served.map(_.getLong(0)).max + 1
    (frame, next)
  }

  /** Tenant-routed tick for the WebSocket loop: same per-request org
    * scoping as [[routeRaw]]. Invalid org ids were rejected before the
    * upgrade ([[orgOk]]).
    */
  private[http] def tailFrameFor(org: Option[String], p: Params,
      cursorNs: Long): (String, Long) = graft.store.Store.pinned(org match {
    case Some(o) => forTenant(o).tailFrame(p, cursorNs, newestFirst = true)
    case None    => tailFrame(p, cursorNs, newestFirst = true)
  })

  private[http] def orgOk(org: Option[String]): Boolean =
    org.forall(Frontend.validOrg)

  /** Pre-upgrade validation for the WebSocket tail: a missing or
    * unparseable `query` must fail as a plain HTTP 400 BEFORE the 101
    * handshake — after the upgrade there is no HTTP status left to send
    * and the client could not tell a bad query from a network drop.
    * Returns the error message, or None when the tail can start.
    */
  private[http] def tailQueryError(p: Params): Option[String] =
    try {
      LogQLParser.parseOrThrow(p.required("query")): Unit
      None
    } catch {
      case e: Exception =>
        Some(Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
    }

  /** `/loki/api/v1/query` — LogQL INSTANT query
    * (`reader/controller/query_range.go:66-150`,
    * `service/query_range.go:569-660` QueryInstant): log selectors export
    * the streams of [time−5m, time); metric queries evaluate ONE point,
    * the window of each range ending at `time` (floored to the second),
    * and render a `vector` stamped with that time. The literal
    * `vector(1)+vector(1)` health probe short-circuits to "2" exactly as
    * upstream (Grafana's datasource test query).
    */
  private def lokiInstant(p: Params): HttpResult = {
    val q = p.required("query")
    val tNs = p.first("time").map(parseTimeNs).filter(_ != 0)
      .getOrElse(nowNs())
    if (q == "vector(1)+vector(1)")
      return ok(obj(Seq("resultType" -> str("vector"), "result" -> arr(Seq(
        obj(Seq("metric" -> "{}",
          "value" -> arr(Seq(num((tNs / 1000000000L).toDouble), str("2"))))))))))
    LogQLParser.parseOrThrow(q) match {
      case LogExpr(_, _) =>
        val c = new LogQLCompiler(spark, dir,
          EvalParams(tNs - 300000000000L, tNs, 1))
        val limit = p.first("limit").map(_.toInt).getOrElse(100)
        val forward = p.first("direction").contains("forward")
        val rows = c.compileLogQuery(q, Some(limit), forward)
          .select(col("timestamp_ns"), col("labels"), col("line"))
          .collect().toSeq
        ok(lokiStreams(rows, forward))
      case metric =>
        // a one-second grid whose single bucket [t−1s, t) is labelled
        // t−1s and covers the lookback [t−range, t)
        val tS = Math.floorDiv(tNs, 1000000000L)
        val c = new LogQLCompiler(spark, dir,
          EvalParams((tS - 1) * 1000000000L, tS * 1000000000L, 1))
        val vector = c.compileExpr(metric)
          .select(col("labels"), round(col("value"), 6).as("value"))
          .collect().toSeq
          .map { r => labelsJson(r.getMap[String, String](0).toMap) ->
            arr(Seq(num(tS.toDouble), str(num(r.getDouble(1))))) }
          .sortBy(_._1)
          .map { case (lj, v) => obj(Seq("metric" -> lj, "value" -> v)) }
        ok(obj(Seq("resultType" -> str("vector"), "result" -> arr(vector))))
    }
  }

  /** `/api/metrics/query` — TraceQL metrics INSTANT
    * (`controller/tempo.go:527-550`, `service/tempo_metrics.go:326-430`):
    * one value per series over the window, the
    * `{"series":[{labels,value,exemplars}],"metrics":null}` envelope.
    */
  private def tempoMetricsInstant(p: Params): HttpResult = {
    val qStr = p.first("q").orElse(p.first("query")).getOrElse(
      throw new IllegalArgumentException("missing required parameter: q"))
    val q = TraceQLParser.parseOrThrow(qStr)
    if (q.metrics.isEmpty)
      badRequest("query must contain a metrics function (e.g. | rate())")
    else {
      val hiNs = p.first("end").map(parseTimeNs).getOrElse(nowNs())
      val loNs = p.first("start").map(parseTimeNs)
        .getOrElse(hiNs - 3600L * 1000000000L)
      val df = new TraceQLCompiler(spark, dir, loNs, hiNs)
        .metricsInstant(q.expr, q.metrics.get, loNs, hiNs)
      val labelCols = df.columns.filterNot(_ == "value").toSeq
      val series = df.collect().toSeq
        .map { r =>
          val lj = arr(labelCols.map(c => obj(Seq(
            "key" -> str(c),
            "value" -> str(String.valueOf(r.getAs[Any](c)))))))
          val v = r.getAs[Double]("value")
          lj -> obj(Seq("labels" -> lj,
            "value" -> (if (v.isNaN || v.isInfinite) str(num(v)) else num(v)),
            "exemplars" -> arr(Seq.empty)))
        }
        .sortBy(_._1).map(_._2)
      HttpResult(200, obj(Seq(
        "series" -> arr(series), "metrics" -> "null")))
    }
  }

  private def evalParams(p: Params): EvalParams = EvalParams(
    parseTimeNs(p.first("start").getOrElse("0")),
    p.first("end").map(parseTimeNs).getOrElse(Long.MaxValue),
    parseDurationS(p.first("step").getOrElse("15s")))

  // ---- PromQL ---------------------------------------------------------------

  private def promQueryRange(p: Params): HttpResult = {
    val q = p.required("query")
    val params = PromParams(
      parseTimeNs(p.required("start")), parseTimeNs(p.required("end")),
      parseDurationS(p.required("step")))
    val rows = new PromQLCompiler(spark, dir, params).compile(q)
      .select(col("ts"), col("labels"), round(col("value"), 6).as("value"))
      .collect().toSeq
    ok(matrix(rows))
  }

  /** Instant query: a single-point grid (start = end = time) — the same
    * staleness-carry evaluation the promql_instant gate certifies —
    * rendered as a `vector`.
    */
  private def promInstant(p: Params): HttpResult = {
    val q = p.required("query")
    val tNs = parseTimeNs(p.required("time"))
    val rows = new PromQLCompiler(spark, dir, PromParams(tNs, tNs, 15L))
      .compile(q)
      .select(col("ts"), col("labels"), round(col("value"), 6).as("value"))
      .collect().toSeq
    val vector = rows
      .map(r => labelsJson(r.getMap[String, String](1).toMap) ->
        arr(Seq(num(r.getLong(0).toDouble), str(num(r.getDouble(2))))))
      .sortBy(_._1)
      .map { case (lj, v) => obj(Seq("metric" -> lj, "value" -> v)) }
    ok(obj(Seq("resultType" -> str("vector"), "result" -> arr(vector))))
  }

  private def promLabels: HttpResult =
    ok(arr(PromQLApi.labelNames(spark, dir)
      .collect().map(_.getString(0)).sorted.toSeq.map(str)))

  private def promLabelValues(key: String): HttpResult =
    ok(arr(PromQLApi.labelValues(spark, dir, key)
      .collect().map(_.getString(0)).sorted.toSeq.map(str)))

  private def promSeries(p: Params): HttpResult = {
    val matches = p.all("match[]") ++ p.all("match")
    if (matches.isEmpty) badRequest("at least one match[] required")
    else ok(arr(PromQLApi.series(spark, dir, matches)
      .collect().map(r => labelsJson(r.getMap[String, String](0).toMap))
      .sorted.toSeq))
  }

  private def promMetadata: HttpResult = {
    val fams = PromQLApi.metadata(spark, dir).collect().toSeq
      .sortBy(_.getString(0))
      .map(r => r.getString(0) -> arr(Seq(obj(Seq(
        "type" -> str(r.getString(1)),
        "help" -> str(""),
        "unit" -> str(""))))))
    ok(obj(fams))
  }

  // ---- TraceQL / Tempo ------------------------------------------------------

  private def tempoSearch(p: Params): HttpResult = {
    val q = p.required("q")
    val loNs = p.first("start").map(parseTimeNs).getOrElse(0L)
    val hiNs = p.first("end").map(parseTimeNs).getOrElse(Long.MaxValue)
    val limit = p.first("limit").map(_.toInt).getOrElse(20)
    val c = new TraceQLCompiler(spark, dir, loNs, hiNs)
    val metas = c.traceMeta(TraceQLParser.parseOrThrow(q).expr)
      .orderBy(col("start_ns").desc, col("trace_id"))
      .limit(limit)
      .collect().toSeq
      .map { r =>
        obj(Seq(
          "traceID" -> str("%016x".format(r.getLong(0))),
          "rootServiceName" -> str(r.getString(3)),
          "rootTraceName" -> str(r.getString(4)),
          "startTimeUnixNano" -> str(r.getLong(1).toString),
          "durationMs" -> num(r.getLong(2).toDouble),
          "spanCount" -> num(r.getLong(5).toDouble)))
      }
    HttpResult(200, obj(Seq("traces" -> arr(metas))))
  }

  /** `/loki/api/v1/patterns` — Drain-mined log patterns for a selector's
    * stream (Loki 3.x patterns endpoint shape). The miner aggregates over
    * the whole window, so each pattern carries ONE (endSec, count)
    * sample — the per-step breakdown is the miner's documented
    * whole-window granularity, not a wire-format shortcut.
    */
  private def lokiPatterns(p: Params): HttpResult = {
    val ev = evalParams(p)
    val lines = new LogQLCompiler(spark, dir, ev)
      .compileLogQuery(p.first("query").getOrElse("{}"))
      .select(lit("q").as("stream"), col("line"))
    val endSec = ev.endNs / 1000000000L
    val rows = graft.patterns.Patterns.mineLines(lines)
      .collect().toSeq
      .map(r => r.getString(1) -> r.getLong(2))
      .sortBy { case (pat, n) => (-n, pat) }
      .map { case (pat, n) =>
        obj(Seq("pattern" -> str(pat),
          "samples" -> arr(Seq(arr(Seq(num(endSec.toDouble), num(n.toDouble)))))))
      }
    ok(arr(rows))
  }

  /** `/api/metrics/query_range?q=<traceql metrics>` — Tempo's TraceQL
    * metrics endpoint: every non-(ts, value) column of the compiled
    * metrics frame is a series label.
    */
  private def tempoMetrics(p: Params): HttpResult = {
    val q = TraceQLParser.parseOrThrow(p.required("q"))
    if (q.metrics.isEmpty)
      badRequest("q must be a TraceQL metrics query (… | rate() etc.)")
    else {
      val stepS = parseDurationS(p.first("step").getOrElse("15s"))
      val df = new TraceQLCompiler(spark, dir,
          p.first("start").map(parseTimeNs).getOrElse(0L),
          p.first("end").map(parseTimeNs).getOrElse(Long.MaxValue))
        .run(q, stepS = stepS)
      val labelCols = df.columns.filterNot(Set("ts", "value")).toSeq
      val rows = df.collect().toSeq
      val bySeries = rows.groupBy(r =>
        labelCols.map(c => c -> String.valueOf(r.getAs[Any](c))))
      val series = bySeries.toSeq
        .map { case (labels, rs) =>
          val lj = arr(labels.map { case (k, v) =>
            obj(Seq("key" -> str(k), "value" -> str(v))) })
          lj -> arr(rs.sortBy(_.getAs[Long]("ts")).map { r =>
            // a bare non-finite number is invalid JSON — quote it, the
            // way the Loki/Prom paths always do via str(num(...))
            val v = r.getAs[Double]("value")
            obj(Seq(
              "timestampMs" -> num(r.getAs[Long]("ts") * 1000.0),
              "value" -> (if (v.isNaN || v.isInfinite) str(num(v)) else num(v))))
          })
        }
        .sortBy(_._1)
        .map { case (lj, samples) =>
          obj(Seq("labels" -> lj, "samples" -> samples)) }
      HttpResult(200, obj(Seq("series" -> arr(series))))
    }
  }

  /** Optional TraceQL scope selector (`q={...}`) for v2 tag/value
    * autocomplete — a bare span-set selector; anything else is bad_data.
    */
  private def scopeOf(p: Params): Option[graft.traceql.TraceQLAst.SpanSet] =
    p.first("q").filter(_.nonEmpty).map { q =>
      TraceQLParser.parseOrThrow(q).expr match {
        case graft.traceql.TraceQLAst.Sel(ss) => ss
        case _ => throw new IllegalArgumentException(
          "tag autocomplete scope must be a plain span-set selector")
      }
    }

  private def tempoCompiler(p: Params): TraceQLCompiler =
    new TraceQLCompiler(spark, dir,
      p.first("start").map(parseTimeNs).getOrElse(0L),
      p.first("end").map(parseTimeNs).getOrElse(Long.MaxValue))

  /** `/api/search/tags` (v1) and `/api/v2/search/tags?q=` — v2 reports
    * under one `span` scope (attrs are span-scoped in the store).
    */
  private def tempoTags(p: Params, v2: Boolean): HttpResult = {
    val names = tempoCompiler(p).tagNamesV2(scopeOf(p))
      .collect().map(_.getString(0)).sorted.toSeq.map(str)
    HttpResult(200,
      if (v2) obj(Seq("scopes" -> arr(Seq(obj(Seq(
        "name" -> str("span"), "tags" -> arr(names)))))))
      else obj(Seq("tagNames" -> arr(names))))
  }

  private def tempoTagValues(p: Params, key: String, v2: Boolean): HttpResult = {
    val values = tempoCompiler(p).tagValuesV2(key, scopeOf(p))
      .collect().map(_.getString(0)).sorted.toSeq
    HttpResult(200,
      if (v2) obj(Seq("tagValues" -> arr(values.map(v => obj(Seq(
        "type" -> str("string"), "value" -> str(v)))))))
      else obj(Seq("tagValues" -> arr(values.map(str)))))
  }

  private def tempoTraceById(hexId: String): HttpResult = {
    val id = java.lang.Long.parseUnsignedLong(hexId, 16)
    val spans = new TraceQLCompiler(spark, dir).traceById(id)
      .orderBy(col("timestamp_ns"), col("span_id"))
      .collect().toSeq
      .map { r =>
        obj(Seq(
          "spanID" -> str("%016x".format(r.getLong(0))),
          "parentSpanID" -> (if (r.isNullAt(1)) "null"
            else str("%016x".format(r.getLong(1)))),
          "name" -> str(r.getString(2)),
          "serviceName" -> str(r.getString(3)),
          "startTimeUnixNano" -> str(r.getLong(4).toString),
          "durationNanos" -> str(r.getLong(5).toString)))
      }
    if (spans.isEmpty) HttpResult(404, obj(Seq(
      "status" -> str("error"), "errorType" -> str("not_found"),
      "error" -> str(s"trace $hexId not found"))))
    else HttpResult(200, obj(Seq(
      "traceID" -> str(hexId), "spans" -> arr(spans))))
  }

  // ---- Rules CRUD (`ruler/controller/controller.go`; YAML bodies, the
  // Prometheus-format listing at /api/v1/rules per `ruler/manager.go`) ----

  import graft.streaming.Rules

  private val RulesNsRe = "^/loki/api/v1/rules/([^/]+)$".r
  private val RulesGroupRe = "^/loki/api/v1/rules/([^/]+)/([^/]+)$".r
  private val RulesKind = "loki"

  private def yaml(status: Int, body: String): HttpResult =
    HttpResult(status, body, "application/yaml")

  // controller.go writeSuccessJSON: 202 with the empty-error envelope
  private def rulesAccepted: HttpResult = HttpResult(202,
    """{"status":"success","data":null,"errorType":"","error":""}""")

  private def rulesAll: HttpResult = {
    val all = Rules.allGroups(spark, dir, RulesKind)
    if (all.isEmpty) yaml(404, "no rule groups found")
    else yaml(200, Rules.namespacesToYaml(all))
  }

  private def rulesByNamespace(ns: String): HttpResult = {
    val gs = Rules.groups(spark, dir, RulesKind, ns)
    if (gs.isEmpty) yaml(404, """message: "no rule groups found"""")
    else yaml(200, Rules.namespacesToYaml(Map(ns -> gs)))
  }

  private def rulesGetGroup(ns: String, group: String): HttpResult =
    Rules.groups(spark, dir, RulesKind, ns).find(_.name == group) match {
      case Some(g) => yaml(200, Rules.groupToYaml(g))
      case None => yaml(404,
        s"""message: "group does not exist: namespace=\\"$ns\\", name=\\"$group\\"""")
    }

  private def rulesSetGroup(ns: String, body: String): HttpResult = {
    val g = try Rules.parseGroupYaml(body) catch {
      case _: Exception =>
        return yaml(400, "error: failed to parse rule group yaml")
    }
    Rules.setGroup(spark, dir, RulesKind, ns, g)
    rulesAccepted
  }

  private def rulesDelete(ns: String, group: Option[String]): HttpResult = {
    group match {
      case Some(g) => Rules.deleteGroup(spark, dir, RulesKind, ns, g)
      case None => Rules.deleteNamespace(spark, dir, RulesKind, ns)
    }
    // deleting a group must not leave stale health (manager.go pruneHealth)
    Rules.pruneHealth(spark, dir)
    rulesAccepted
  }

  private def rfc3339(ms: Long): String =
    if (ms == 0L) "0001-01-01T00:00:00Z"
    else java.time.format.DateTimeFormatter.ISO_INSTANT
      .format(java.time.Instant.ofEpochMilli(ms))

  /** GET /api/v1/rules — recording rules in the Prometheus JSON format
    * with evaluation health (`manager.go:251-310`).
    */
  private def prometheusRules: HttpResult = {
    val groups = Rules.prometheusGroups(spark, dir, RulesKind)
      .map { g =>
        val rules = g.rules.map { r =>
          obj(Seq(
            "name" -> str(r.name),
            "query" -> str(r.query)) ++
            (if (r.labels.nonEmpty)
              Seq("labels" -> labelsJson(r.labels)) else Seq.empty) ++
            Seq(
              "health" -> str(r.health),
              "lastError" -> str(r.lastError),
              "type" -> str("recording"),
              "lastEvaluation" -> str(rfc3339(r.lastEvalMs)),
              "evaluationTime" -> num(r.evalTimeS)))
        }
        obj(Seq(
          "name" -> str(g.name),
          "file" -> str(g.file),
          "rules" -> arr(rules),
          "interval" -> num(g.intervalS.toDouble),
          "limit" -> num(0),
          "lastEvaluation" -> str(rfc3339(g.lastEvalMs)),
          "evaluationTime" -> num(g.evalTimeS)))
      }
    HttpResult(200, obj(Seq(
      "status" -> str("success"),
      "errorType" -> str(""),
      "error" -> str(""),
      "data" -> obj(Seq("groups" -> arr(groups))))))
  }

  // ---- Pyroscope render (`reader/router/prof.go`,
  // `reader/controller/prof.go:207-296`) -------------------------------------

  /** `query=<typeId>{selector}` split, the controller's detachTypeId. */
  private def splitRenderQuery(q: String): (String, Seq[(String, String, String)]) = {
    val i = q.indexOf('{')
    if (i < 0) (q.trim, Seq.empty)
    else (q.take(i).trim, graft.prof.Profiles.parseSelector(q.drop(i)))
  }

  /** from/until are epoch MILLISECONDS truncated to seconds
    * (`prof.go:216-224` time.Unix(v/1000, 0)); the scan upper bound is
    * inclusive of that second.
    */
  private def renderWindow(p: Params, fromKey: String,
      untilKey: String): (Long, Long) = {
    val fromS = p.required(fromKey).toLong / 1000
    val untilS = p.required(untilKey).toLong / 1000
    (fromS * 1000000000L, untilS * 1000000000L + 1)
  }

  private def typeMeta(typeId: String): (String, String) = {
    val parts = typeId.split(":")
    val sampleType = if (parts.length >= 2) parts(1) else ""
    val sampleUnit =
      if (parts.length >= 5) parts(2)
      else if (parts.length >= 3) parts(2) else ""
    (sampleType, sampleUnit)
  }

  /** FlamebearerProfileV1 wire shape (`prof.go` flameGraphToFlameBearer +
    * the Go json encoder's no-omitempty field set).
    */
  private def fbJson(fb: graft.prof.Profiles.Flamebearer, format: String,
      typeId: String): String = {
    val (sampleType, sampleUnit) = typeMeta(typeId)
    val (units, rate) = sampleType match {
      case "inuse_objects" | "alloc_objects" | "goroutine" | "samples" =>
        ("objects", 100L)
      case "cpu" => ("samples", 1000000000L)
      case _ => (sampleUnit, 100L)
    }
    obj(Seq(
      "flamebearer" -> obj(Seq(
        "names" -> arr(fb.names.map(str)),
        "levels" -> arr(fb.levels.map(l => arr(l.map(v => num(v.toDouble))))),
        "numTicks" -> num(fb.numTicks.toDouble),
        "maxSelf" -> num(fb.maxSelf.toDouble))),
      "metadata" -> obj(Seq(
        "format" -> str(format),
        "spyName" -> str(""),
        "sampleRate" -> num(rate.toDouble),
        "units" -> str(units),
        "name" -> str(sampleType))),
      "timeline" -> "null",
      "groups" -> "null",
      "heatmap" -> "null",
      "leftTicks" -> num(fb.leftTicks.toDouble),
      "rightTicks" -> num(fb.rightTicks.toDouble)))
  }

  private def requireAll(p: Params, keys: Seq[String]): Option[HttpResult] =
    keys.collectFirst {
      case k if p.first(k).forall(_.isEmpty) =>
        badRequest(s"Missing required parameter: $k")
    }

  private def pyroscopeRender(p: Params): HttpResult =
    requireAll(p, Seq("query", "from", "until")).getOrElse {
      val (typeId, matchers) = splitRenderQuery(p.required("query"))
      val (loNs, hiNs) = renderWindow(p, "from", "until")
      val merged = graft.prof.Profiles.mergeTreeQuery(spark, dir, typeId,
        matchers, loNs, hiNs)
      if (p.first("format").contains("dot")) {
        val maxNodes = p.first("maxNodes").map(_.toInt).getOrElse(0)
        HttpResult(200, graft.prof.Profiles.toDot(merged,
          maxNodes = maxNodes), "text/vnd.graphviz; charset=utf-8")
      } else
        HttpResult(200,
          fbJson(graft.prof.Profiles.flamebearer(merged), "single", typeId))
    }

  private def pyroscopeRenderDiff(p: Params): HttpResult =
    requireAll(p, Seq("leftQuery", "leftFrom", "leftUntil",
        "rightQuery", "rightFrom", "rightUntil")).getOrElse {
      val (lType, lMatch) = splitRenderQuery(p.required("leftQuery"))
      val (rType, rMatch) = splitRenderQuery(p.required("rightQuery"))
      val (lLo, lHi) = renderWindow(p, "leftFrom", "leftUntil")
      val (rLo, rHi) = renderWindow(p, "rightFrom", "rightUntil")
      val left = graft.prof.Profiles.mergeTreeQuery(spark, dir, lType,
        lMatch, lLo, lHi)
      val right = graft.prof.Profiles.mergeTreeQuery(spark, dir, rType,
        rMatch, rLo, rHi)
      HttpResult(200,
        fbJson(graft.prof.Profiles.flamebearerDiff(left, right), "double",
          lType))
    }

  // ---- dispatch -------------------------------------------------------------

  private val LabelValuesRe = "^/loki/api/v1/label/([^/]+)/values$".r
  private val PromLabelValuesRe = "^/api/v1/label/([^/]+)/values$".r
  private val TraceByIdRe = "^/api/traces/([0-9a-fA-F]+)$".r
  private val TagValuesRe = "^/api/search/tag/([^/]+)/values$".r
  private val TagValuesV2Re = "^/api/v2/search/tag/([^/]+)/values$".r

  // ---- ingest ----------------------------------------------------------------

  /** `POST /loki/api/v1/push` — decode the push body (JSON streams; both
    * the `values` and legacy `entries` spellings, metric-bearing third
    * elements included) and append it to the QUERYABLE store
    * ([[graft.store.Store.appendLogs]]): samples + new dictionary entries
    * + the batch's 15s downsample partials. 204 on success, like Loki.
    */
  private def lokiPush(body: String): HttpResult = {
    import spark.implicits._
    val rows = graft.ingest.LokiPush.decodeRows(Seq(body).toDF("body"))
    val n = graft.store.Store.appendLogs(spark, dir, rows)
    if (n == 0) badRequest("push body contained no entries")
    else HttpResult(204, "")
  }

  // The remaining ingest POST routes mirror the reference writer's route
  // table (`writer/` controllers; the push-then-query loop its e2e suite
  // certifies per API, Makefile:10-41): each decodes with the
  // gate-certified wire decoder and appends to the QUERYABLE store.
  // Timestamp-less formats stamp receive time (the reference's
  // time.Now()), injectable via the `nowNs` constructor parameter so
  // fixture replays stay deterministic.

  private def bodyDf(body: String): DataFrame = {
    import spark.implicits._
    Seq(body).toDF("body")
  }

  private def appendLogRows(rows: DataFrame, okStatus: Int = 200,
      okBody: String = "{}"): HttpResult = {
    // log-only decoders (OTLP/Datadog/Cloudflare/Elastic) carry no metric
    // value column; the samples table keeps it nullable
    val withVal =
      if (rows.columns.contains("value")) rows
      else rows.withColumn("value", lit(null).cast("double"))
    val n = graft.store.Store.appendLogs(spark, dir,
      withVal.withColumn("timestamp_ns",
        coalesce(col("timestamp_ns"), lit(nowNs()))))
    if (n == 0) badRequest("push body contained no entries")
    else HttpResult(okStatus, okBody)
  }

  private def appendMetricRows(rows: DataFrame, okStatus: Int = 200,
      okBody: String = "{}"): HttpResult = {
    val n = graft.store.Store.appendMetrics(spark, dir,
      rows.withColumn("timestamp_ns",
        coalesce(col("timestamp_ns"), lit(nowNs()))))
    if (n == 0) badRequest("push body contained no samples")
    else HttpResult(okStatus, okBody)
  }

  /** Low 64 bits of a hex trace/span id as the store's LONG id — the
    * same bit pattern `/api/traces/{hex}` parses and tempo search formats
    * back out with %016x (conv's negative toBase yields the SIGNED
    * decimal of the 64-bit value).
    */
  private def hexId(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(c.isNotNull && c =!= "",
      conv(substring(lpad(lower(c), 32, "0"), 17, 16), 16, -10).cast("long"))

  /** Decoded trace rows (trace_id_hex/span_id_hex/parent_id_hex + an
    * attrs-or-tags map) → the canonical span batch [[graft.store.Store
    * .appendSpans]] takes. `service_name` joins the attr map under the
    * store's flat key so TraceQL `.service_name` leaves match pushed
    * spans exactly like derived ones.
    */
  private def appendSpanRows(decoded: DataFrame, attrsCol: String,
      okStatus: Int = 200, okBody: String = "{}"): HttpResult = {
    val rows = decoded.select(
      hexId(col("trace_id_hex")).as("trace_id"),
      hexId(col("span_id_hex")).as("span_id"),
      hexId(col("parent_id_hex")).as("parent_id"),
      col("name"), col("service_name"),
      col("timestamp_ns"), col("duration_ns"),
      graft.model.MapOps.update(col(attrsCol),
        map(lit("service_name"), coalesce(col("service_name"), lit(""))))
        .as("attrs"))
    val n = graft.store.Store.appendSpans(spark, dir, rows)
    if (n == 0) badRequest("push body contained no spans")
    else HttpResult(okStatus, okBody)
  }

  private def otlpLogsPush(body: String): HttpResult =
    appendLogRows(graft.ingest.WireFormats.decodeOtlpLogs(bodyDf(body)))

  private def otlpTracesPush(body: String): HttpResult =
    appendSpanRows(graft.ingest.WireFormats.decodeOtlpTraces(bodyDf(body)),
      "attrs")

  private def otlpMetricsPush(body: String): HttpResult =
    appendMetricRows(graft.ingest.WireFormats.decodeOtlpMetrics(bodyDf(body)))

  private def zipkinPush(body: String): HttpResult =
    appendSpanRows(graft.ingest.WireFormats.decodeZipkin(bodyDf(body)),
      "tags", okStatus = 202, okBody = "")

  private def remoteWritePush(bytes: Array[Byte]): HttpResult = {
    import spark.implicits._
    val decoded = graft.ingest.PromRemoteWrite.decode(Seq(bytes).toDF("body"))
    appendMetricRows(decoded, okStatus = 204, okBody = "")
  }

  private def influxPush(body: String, p: Params): HttpResult = {
    import spark.implicits._
    val lines = body.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    if (lines.isEmpty) badRequest("empty line-protocol body")
    else {
      val decoded = graft.ingest.WireFormats.decodeInflux(
        lines.toDF("line"), p.first("precision").getOrElse("ns"))
      // one request may carry both branches (`influx.go:61-112`): message
      // fields land as log entries, numeric fields as metric samples
      val logs = decoded.filter(col("sample_type") === "log")
        .select(col("labels"), col("timestamp_ns"), col("line"),
          col("value"), col("fingerprint"))
      val metrics = decoded.filter(col("sample_type") === "metric")
        .select(graft.model.MapOps.update(col("labels"),
            map(lit("__name__"), col("name"))).as("labels"),
          col("timestamp_ns"), col("value"))
        .withColumn("fingerprint",
          graft.model.Tables.fingerprintOf(col("labels")))
      val now = nowNs()
      val nLogs = graft.store.Store.appendLogs(spark, dir,
        logs.withColumn("timestamp_ns",
          coalesce(col("timestamp_ns"), lit(now))))
      val nMetrics = graft.store.Store.appendMetrics(spark, dir,
        metrics.withColumn("timestamp_ns",
          coalesce(col("timestamp_ns"), lit(now))))
      if (nLogs + nMetrics == 0) badRequest("no decodable influx lines")
      else HttpResult(204, "")
    }
  }

  private def datadogLogsPush(body: String): HttpResult =
    appendLogRows(graft.ingest.WireFormats.decodeDatadogLogs(bodyDf(body),
      ingestTsNs = Some(nowNs())), okStatus = 200, okBody = "{}")

  private def datadogSeriesPush(body: String): HttpResult =
    appendMetricRows(
      graft.ingest.WireFormats.decodeDatadogMetrics(bodyDf(body)),
      okStatus = 202, okBody = """{"status":"ok"}""")

  /** `POST /api/v2/series` — the Datadog metrics route the reference's
    * writer registers (`router/insert.go:14`): v2 points-as-objects wire
    * shape, 202 `{}` (`controller/datadog.go:64-71`).
    */
  private def datadogSeriesV2Push(body: String): HttpResult =
    appendMetricRows(
      graft.ingest.WireFormats.decodeDatadogMetricsV2(bodyDf(body)),
      okStatus = 202, okBody = "{}")

  private def cloudflarePush(body: String, p: Params): HttpResult =
    appendLogRows(graft.ingest.WireFormats.decodeCloudflare(bodyDf(body),
      ddsource = p.first("ddsource").getOrElse("cloudflare")))

  // the reference's elastic responses are Go map marshals — key order is
  // alphabetical (`controller/elastic.go:31-33`, `:77-80`)
  private def elasticBulkPush(body: String): HttpResult =
    appendLogRows(
      graft.ingest.WireFormats.decodeElasticBulk(bodyDf(body),
        ingestTsNs = Some(nowNs())),
      okBody = """{"errors":false,"took":0}""")

  /** `POST /{target}/_doc[/{id}]` — the single-document spelling
    * normalizes to a one-action bulk body (`elastic.go:29-63` routes both
    * through the same decode).
    */
  private def elasticDocPush(target: String, body: String): HttpResult = {
    val action = s"""{"index":{"_index":${str(target)}}}"""
    elasticBulkPush(action + "\n" + body.replace("\n", " "))
  }

  /** `POST /ingest` — the Pyroscope ingest API: `name=app{k=v,...}`
    * names the service + tag set, the body is a gzip'd pprof profile.
    * Stacks become the store's merged-tree node rows: node identity =
    * hash of the root→frame path, so identical call paths merge across
    * pushes exactly like the reference's tree merge
    * (`prof_merge_v2.go:51-200`).
    */
  private def pprofPush(bytes: Array[Byte], p: Params): HttpResult = {
    import spark.implicits._
    val nameParam = p.required("name")
    val (service, tags) = {
      val i = nameParam.indexOf('{')
      if (i < 0) (nameParam, Map.empty[String, String])
      else (nameParam.take(i),
        nameParam.drop(i + 1).stripSuffix("}").split(",").toSeq
          .filter(_.contains('='))
          .map { kv =>
            val j = kv.indexOf('=')
            kv.take(j) -> kv.drop(j + 1)
          }.toMap)
    }
    val decoded = graft.ingest.Pprof.decode(Seq(bytes).toDF("body"))
    val tsNs = p.first("from").map(parseTimeNs).getOrElse(nowNs())
    val row = stacksToProfileRows(
      decoded.select(lit(service).as("service_name"),
        lit(tsNs).as("timestamp_ns"), col("stack"), col("value")),
      extraTags = tags)
    val n = graft.store.Store.appendProfiles(spark, dir, row)
    if (n == 0) badRequest("profile contained no samples")
    else HttpResult(200, "{}")
  }

  /** (service_name, timestamp_ns, stack Array[String] root-first, value)
    * rows -> one profiles-table row per (service, timestamp). Per-frame
    * prefix rows: node = hash of the root->frame path, parent =
    * parent-path hash (roots parent 0 — the flamegraph BFS contract),
    * self at the leaf — so identical call paths merge across pushes
    * exactly like the reference's tree merge (`prof_merge_v2.go:51-200`).
    * `extraTags` (static per request) join each row's tag set alongside
    * the row's own service_name.
    */
  private def stacksToProfileRows(decoded: DataFrame,
      extraTags: Map[String, String] = Map.empty): DataFrame = {
    val frames = decoded
      .select(col("service_name"), col("timestamp_ns"), col("stack"),
        col("value"), posexplode(col("stack")).as(Seq("pos", "fn")))
      .select(col("service_name"), col("timestamp_ns"), col("fn"),
        col("value"),
        (col("pos") === size(col("stack")) - 1).as("isLeaf"),
        xxhash64(concat_ws("\u0000",
          slice(col("stack"), lit(1), col("pos") + 1))).as("node"),
        when(col("pos") === 0, 0L)
          .otherwise(xxhash64(concat_ws("\u0000",
            slice(col("stack"), lit(1), col("pos"))))).as("parent"))
    val trees = frames
      .groupBy(col("service_name"), col("timestamp_ns"),
        col("parent"), col("node"), col("fn"))
      .agg(sum(when(col("isLeaf"), col("value")).otherwise(0L)).as("self"),
        sum(col("value")).as("total"))
      .groupBy(col("service_name"), col("timestamp_ns"))
      .agg(collect_list(struct(col("parent"), col("node"), col("fn"),
        col("self"), col("total"))).as("tree"))
    // tag KEYS are static, values may be per-row (service_name): sort by
    // key at build time — the store's sorted-entries tag contract
    val tagEntries =
      (extraTags.map { case (k, v) => k -> lit(v) } +
        ("service_name" -> col("service_name"))).toSeq.sortBy(_._1)
        .map { case (k, v) => struct(lit(k).as("key"), v.as("val")) }
    trees
      .filter(size(col("tree")) > 0)
      .select(
        col("timestamp_ns").as("profile_id"),
        col("service_name"),
        col("timestamp_ns"),
        lit("process_cpu:cpu:nanoseconds").as("type_id"),
        array(struct(lit("cpu").as("stype"), lit("nanoseconds").as("unit")))
          .as("sample_types_units"),
        array(tagEntries: _*).as("tags"),
        col("tree"))
  }

  /** `POST /v1development/profiles` — the OTLP profiles development
    * signal (writer `router/profile.go:13`, `controller/profile.go:49-66`;
    * decode re-expressed in [[graft.ingest.OtlpProfiles]]). The reference
    * accepts only the protobuf content type (415 for JSON); this
    * frontend's OTLP surface is OTLP/HTTP-JSON throughout, so the JSON
    * export shape is the wire form here. 200 `{}` like upstream.
    */
  private def otlpProfilesPush(body: String): HttpResult = {
    val decoded = graft.ingest.OtlpProfiles.decode(bodyDf(body))
      .withColumn("timestamp_ns",
        when(col("timestamp_ns").isNull || col("timestamp_ns") === 0L,
          lit(nowNs())).otherwise(col("timestamp_ns")))
    val n = graft.store.Store.appendProfiles(spark, dir,
      stacksToProfileRows(decoded))
    if (n == 0) badRequest("export contained no samples")
    else HttpResult(200, "{}")
  }

  /** Routes the reference registers for BOTH GET and POST
    * (`prometheus_query_range.go:65-66`, `select_labels.go:17-20`):
    * Grafana falls back to form-encoded POST for long queries, so these
    * parse the urlencoded body into Params (merged with the query string)
    * and dispatch through the GET handlers.
    */
  private def isQueryPostRoute(path: String): Boolean = path match {
    case "/api/v1/query_range" | "/api/v1/query" | "/api/v1/labels" |
         "/api/v1/series" | "/loki/api/v1/query_range" |
         "/loki/api/v1/query" | "/loki/api/v1/labels" |
         "/loki/api/v1/label" | "/loki/api/v1/series" => true
    case LabelValuesRe(_) => true
    case PromLabelValuesRe(_) => true
    case _ => false
  }

  private val ElasticDocRe =
    "^/([^/_][^/]*)/(?:_doc|_create)(?:/[^/]*)?$".r
  private val ElasticBulkRe = "^/(?:[^/_][^/]*/)?_bulk$".r

  // ---- multi-tenancy ---------------------------------------------------------

  /** Per-tenant frontends over ISOLATED child sessions: the reference is
    * multi-tenant at the DSN layer (`model.IDBRegistry` resolves
    * X-Scope-OrgID to a tenant DSN); here the analog is
    * `SparkSession.newSession()` — shared SparkContext, isolated SQLConf —
    * with `spark.graft.tenant` pinned, which every store scan turns into
    * an `oid=` partition prune (Store.tenantFilter). Isolated sessions
    * rather than a mutable conf on the shared session: concurrent
    * requests build plans in parallel, and a global tenant flag would
    * leak scoping across them.
    */
  /** LRU-bounded: sessions are cheap to rebuild (a `newSession()` + conf
    * copy), so evicting the least-recently-used tenant only costs that
    * tenant a warm-up — while an UNBOUNDED map lets any client streaming
    * random X-Scope-OrgID values grow driver memory without bound.
    * accessOrder=true makes every lookup a touch. Eviction also purges
    * the store-layer caches keyed by the evicted session
    * ([[graft.store.Store.evictSession]]), which would otherwise pin the
    * session forever.
    */
  private val MaxTenantSessions = 64
  private val tenantFrontends =
    new java.util.LinkedHashMap[String, Frontend](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Frontend]): Boolean = {
        val evict = size() > MaxTenantSessions
        if (evict) graft.store.Store.evictSession(e.getValue.spark)
        evict
      }
    }

  private def forTenant(org: String): Frontend =
    tenantFrontends.synchronized {
      val cached = tenantFrontends.get(org)
      if (cached != null) cached
      else {
        val s = spark.newSession()
        for (k <- Seq("spark.sql.shuffle.partitions",
            "spark.sql.session.timeZone"))
          spark.conf.getOption(k).foreach(s.conf.set(k, _))
        for ((k, v) <- spark.conf.getAll if k.startsWith("spark.graft."))
          s.conf.set(k, v)
        s.conf.set("spark.graft.tenant", org)
        val fe = new Frontend(s, dir, nowNs)
        tenantFrontends.put(org, fe)
        fe
      }
    }

  /** Live session count — spec hook for the LRU bound. */
  private[http] def tenantSessionCount: Int =
    tenantFrontends.synchronized(tenantFrontends.size())

  /** Pure dispatcher — the whole API surface minus the socket, so specs
    * can drive it directly AND through a real server. Text routes decode
    * the body as UTF-8; the two binary wire formats (snappy-protobuf
    * remote-write, gzip pprof) take the raw bytes. `org` is the request's
    * X-Scope-OrgID, routing to the tenant-scoped session when present.
    */
  def route(path: String, p: Params, method: String = "GET",
      body: String = "", org: Option[String] = None): HttpResult =
    routeRaw(path, p, method, body.getBytes(UTF_8), org)

  def routeRaw(path: String, p: Params, method: String,
      bytes: Array[Byte], org: Option[String] = None): HttpResult = org match {
    case Some(o) if !Frontend.validOrg(o) => badRequest("invalid X-Scope-OrgID")
    case Some(o) => forTenant(o).routeRaw(path, p, method, bytes)
    case None => routeRaw0(path, p, method, bytes)
  }

  /** `/metrics` body: the Prometheus text exposition
    * (`commonroutes/routes.go:13-18` serves promhttp over the default
    * registry). The JVM analog of the Go process collectors plus the
    * dispatcher's own request counter; format (# HELP/# TYPE + samples)
    * is the promhttp contract so a Prometheus scraper can ingest it.
    */
  private def metricsExposition: HttpResult = {
    val rt = Runtime.getRuntime
    val upS = (System.nanoTime() - bootNs) / 1e9
    val body =
      s"""# HELP graft_http_requests_total HTTP requests dispatched.
         |# TYPE graft_http_requests_total counter
         |graft_http_requests_total ${requestCount.get()}
         |# HELP process_uptime_seconds Seconds since this frontend started.
         |# TYPE process_uptime_seconds gauge
         |process_uptime_seconds $upS
         |# HELP jvm_memory_used_bytes Heap in use.
         |# TYPE jvm_memory_used_bytes gauge
         |jvm_memory_used_bytes ${rt.totalMemory() - rt.freeMemory()}
         |# HELP jvm_memory_max_bytes Heap ceiling.
         |# TYPE jvm_memory_max_bytes gauge
         |jvm_memory_max_bytes ${rt.maxMemory()}
         |# HELP graft_maintenance_runs_total Maintenance passes run by the timer.
         |# TYPE graft_maintenance_runs_total counter
         |graft_maintenance_runs_total ${maintenanceRuns.get()}
         |# HELP graft_maintenance_failures_total Maintenance passes that failed.
         |# TYPE graft_maintenance_failures_total counter
         |graft_maintenance_failures_total ${maintenanceFailures.get()}
         |# HELP graft_maintenance_last_duration_seconds Duration of the last maintenance pass.
         |# TYPE graft_maintenance_last_duration_seconds gauge
         |graft_maintenance_last_duration_seconds ${maintenanceLastNs.get() / 1e9}
         |""".stripMargin
    HttpResult(200, body, "text/plain; version=0.0.4")
  }

  private val bootNs = System.nanoTime()
  private val requestCount = new java.util.concurrent.atomic.AtomicLong
  private val maintenanceRuns = new java.util.concurrent.atomic.AtomicLong
  private val maintenanceFailures = new java.util.concurrent.atomic.AtomicLong
  private val maintenanceLastNs = new java.util.concurrent.atomic.AtomicLong

  private def routeRaw0(path: String, p: Params, method: String,
      bytes: Array[Byte]): HttpResult = {
    requestCount.incrementAndGet()
    try {
      lazy val body = new String(bytes, UTF_8)
      (method, path) match {
        case ("POST", "/loki/api/v1/push") => lokiPush(body)
        // OTLP/HTTP (writer `/v1/logs`, `/v1/traces`, `/v1/metrics`,
        // `/v1development/profiles`)
        case ("POST", "/v1/logs") => otlpLogsPush(body)
        case ("POST", "/v1/traces") => otlpTracesPush(body)
        case ("POST", "/v1/metrics") => otlpMetricsPush(body)
        case ("POST", "/v1development/profiles") => otlpProfilesPush(body)
        // all five remote-write spellings the writer registers
        // (`writer/router/prom.go:9-14`)
        case ("POST", "/api/v1/prom/remote/write" | "/v1/prom/remote/write"
            | "/prom/remote/write" | "/api/prom/remote/write"
            | "/api/prom/push") => remoteWritePush(bytes)
        case ("POST", "/influx/api/v2/write") => influxPush(body, p)
        case ("POST", "/api/v2/logs") => datadogLogsPush(body)
        case ("POST", "/api/v2/series") => datadogSeriesV2Push(body)
        // POST /api/v1/series is Datadog v1 metric ingest (JSON body); the
        // same path form-encoded is Grafana's prom-series POST fallback
        case ("POST", "/api/v1/series") if body.trim.startsWith("{") =>
          datadogSeriesPush(body)
        // `/tempo/api/push` is ClickhousePushV2 = PushV2, the same Zipkin
        // handler as /tempo/spans (`writer/controller/tempo.go:26`)
        case ("POST", "/tempo/spans") | ("POST", "/api/v2/spans")
            | ("POST", "/tempo/api/push") => zipkinPush(body)
        case ("POST", "/cf/v1/insert") => cloudflarePush(body, p)
        case ("POST", "/ingest") => pprofPush(bytes, p)
        case ("POST", ElasticBulkRe()) => elasticBulkPush(body)
        // `_create/{id}` registers POST+PUT, `_doc/{id}` PUT, bare `_doc`
        // POST (`writer/router/elastic.go:10-13`); one handler serves all
        case ("POST" | "PUT", ElasticDocRe(target)) =>
          elasticDocPush(target, body)
        case ("POST", RulesNsRe(ns)) => rulesSetGroup(ns, body)
        case ("POST", qp) if isQueryPostRoute(qp) =>
          graft.store.Store.pinned(
            routeGet(qp, Params.merge(p, Params.fromQuery(body))))
        case ("POST", other) => notFound(s"POST $other")
        case ("DELETE", RulesGroupRe(ns, group)) =>
          rulesDelete(ns, Some(group))
        case ("DELETE", RulesNsRe(ns)) => rulesDelete(ns, None)
        // a query reads one store version from its first scan to its last
        case ("GET", _) => graft.store.Store.pinned(routeGet(path, p))
        case (other, _) => HttpResult(405, obj(Seq(
          "status" -> str("error"), "errorType" -> str("bad_data"),
          "error" -> str(s"method $other not allowed"))))
      }
    } catch {
      case e: IllegalArgumentException => badRequest(e.getMessage)
      case e: java.time.format.DateTimeParseException =>
        badRequest(e.getMessage)
      // anything the Spark execution throws (bad regex compiled into a
      // plan, schema errors) must still come back as an HTTP envelope —
      // a dropped connection is the one thing a client can't handle
      case e: Exception => HttpResult(500, obj(Seq(
        "status" -> str("error"), "errorType" -> str("internal"),
        "error" -> str(String.valueOf(e.getMessage)))))
    }
  }

  private val TraceByIdJsonRe = "^/api/traces/([0-9a-fA-F]+)/json$".r

  private def routeGet(path: String, p: Params): HttpResult =
    try {
      path match {
        // every /tempo/api/* route is an alias of its /api/* twin
        // (`reader/router/tempo.go:18-34` registers both)
        case t if t.startsWith("/tempo/api/") =>
          routeGet(t.stripPrefix("/tempo"), p)
        case "/ready" => HttpResult(200, str("ready"))
        case "/api/echo" => HttpResult(200, str("echo"))
        // writer liveness: the remote-write GET probe
        // (`writer/controller/prom.go:49-52`) and the influx health pair
        // (`writer/router/insert.go:17-18`, 200 + empty body)
        case "/prom/remote/write" => HttpResult(200, "OK", "text/plain")
        case "/influx/health" | "/influx/api/v2/write/health" =>
          HttpResult(200, "")
        case "/api/v1/status/buildinfo" =>
          ok(obj(Seq("version" -> str(""))))
        // operational pair every binary registers
        // (`shared/commonroutes/routes.go:12-18`): /config is a literal
        // "Not supported" 200 (`controller.go:23-26`); /metrics is the
        // Prometheus text exposition — process gauges + the request
        // counter this dispatcher maintains, same format contract as
        // promhttp (content differs: JVM process, not a Go runtime)
        case "/config" => HttpResult(200, "Not supported", "text/plain")
        case "/metrics" => metricsExposition
        // the unversioned buildinfo spelling (`commonroutes/routes.go:19`,
        // `controller.go:28-34` — a Go map marshal: alphabetical keys)
        case "/api/status/buildinfo" =>
          HttpResult(200,
            obj(Seq("branch" -> str("main"), "version" -> str("0.0.1"))))
        case "/loki/api/v1/query_range" => lokiQueryRange(p)
        case "/loki/api/v1/query" => lokiInstant(p)
        case "/api/metrics/query" => tempoMetricsInstant(p)
        case TraceByIdJsonRe(hexId) => tempoTraceById(hexId)
        // `/label` is the legacy alias of `/labels`
        // (`reader/router/select_labels.go:17`)
        case "/loki/api/v1/labels" | "/loki/api/v1/label" => lokiLabels(p)
        case LabelValuesRe(key) => lokiLabelValues(p, key)
        case "/loki/api/v1/series" => lokiSeries(p)
        case "/loki/api/v1/index/stats" => lokiIndexStats(p)
        case "/loki/api/v1/index/volume" => lokiIndexVolume(p)
        case "/loki/api/v1/detected_labels" => lokiDetectedLabels(p)
        case "/loki/api/v1/detected_fields" => lokiDetectedFields(p)
        case "/loki/api/v1/patterns" => lokiPatterns(p)
        case "/loki/api/v1/tail" => lokiTail(p)
        case "/loki/api/v1/rules" => rulesAll
        case RulesGroupRe(ns, group) => rulesGetGroup(ns, group)
        case RulesNsRe(ns) => rulesByNamespace(ns)
        case "/api/v1/rules" => prometheusRules
        case "/pyroscope/render" => pyroscopeRender(p)
        case "/pyroscope/render-diff" => pyroscopeRenderDiff(p)
        case "/api/metrics/query_range" => tempoMetrics(p)
        case "/api/v1/query_range" => promQueryRange(p)
        case "/api/v1/query" => promInstant(p)
        // the reference binds query_exemplars to the Metadata handler
        // (`reader/router/prometheus_labels.go:23`) — same response here
        case "/api/v1/metadata" | "/api/v1/query_exemplars" => promMetadata
        case "/api/v1/labels" => promLabels
        case PromLabelValuesRe(key) => promLabelValues(key)
        case "/api/v1/series" => promSeries(p)
        case "/api/search" => tempoSearch(p)
        case "/api/search/tags" => tempoTags(p, v2 = false)
        case "/api/v2/search/tags" => tempoTags(p, v2 = true)
        case TagValuesRe(key) => tempoTagValues(p, key, v2 = false)
        case TagValuesV2Re(key) => tempoTagValues(p, key, v2 = true)
        case TraceByIdRe(hexId) => tempoTraceById(hexId)
        case other => notFound(other)
      }
    } catch {
      case e: IllegalArgumentException => badRequest(e.getMessage)
      case e: java.time.format.DateTimeParseException =>
        badRequest(e.getMessage)
    }

  /** Start the HTTP server (port 0 = ephemeral; read the bound port from
    * the returned server). [[GraftHttpServer]] — raw-socket HTTP/1.1 so
    * `/loki/api/v1/tail` upgrades to a REAL WebSocket on the same port,
    * exactly like the reference's gorilla/websocket tail; every other
    * route dispatches through [[routeRaw]]. `tailTickMs` is the tail
    * poll interval (upstream tailPollInterval = 1 s).
    */
  def start(port: Int = 0, tailTickMs: Int = 1000,
      maxConnections: Int = 256): GraftHttpServer =
    new GraftHttpServer(this, port, tailTickMs, maxConnections)

  /** Background maintenance timer — the serving-layer analog of the
    * reference's ctrl timers (`ctrl/qryn/maintenance/rotate.go` rotation
    * + ClickHouse's own background merges): every `intervalS`, compact
    * the append-mutable tables (merging downsample partials) and, when
    * `spark.graft.retention.days` is set, drop expired `date=` partitions.
    * A failed pass keeps the timer alive — maintenance must never take
    * the serving path down — and shows on `/metrics` as
    * `graft_maintenance_failures_total`; fatal errors are not caught.
    * Returns the scheduler so the owner can `shutdown()` it.
    */
  def startMaintenance(intervalS: Long = 3600, maxFiles: Int = 8)
      : java.util.concurrent.ScheduledExecutorService = {
    val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "graft-maintenance"); t.setDaemon(true); t
      })
    ex.scheduleWithFixedDelay(() => {
      val t0 = System.nanoTime()
      val failed =
        try {
          graft.store.Store.maintain(spark, dir, maxFiles)
          spark.conf.getOption("spark.graft.retention.days").foreach { d =>
            val cutoff = java.time.LocalDate
              .now(java.time.ZoneOffset.UTC).minusDays(d.toLong).toString
            graft.store.Store.expire(spark, dir, cutoff)
          }
          false
        } catch { case NonFatal(_) => true }
      maintenanceLastNs.set(System.nanoTime() - t0)
      maintenanceRuns.incrementAndGet()
      if (failed) maintenanceFailures.incrementAndGet(): Unit
    }, intervalS, intervalS, java.util.concurrent.TimeUnit.SECONDS)
    ex
  }

  /** Background ruler timer (`ruler/manager.go:43-250` interval tickers):
    * evaluates every stored rule group on its own interval — recording
    * rules write back into the queryable store, alerting rules export
    * ALERTS samples ([[graft.streaming.RulerScheduler]]). `pollS` bounds
    * the firing latency; each group still fires at its own interval.
    */
  def startRuler(pollS: Long = 15)
      : java.util.concurrent.ScheduledExecutorService =
    new graft.streaming.RulerScheduler(spark, dir, nowNs).start(pollS)
}

object Frontend {

  /** The DSN registry rejects garbage org ids before they reach storage;
    * here the guard is structural: bounded length, printable-ASCII, no
    * path separators (the oid lands in a partition directory name, which
    * the store's writer escapes).
    */
  private[graft] def validOrg(org: String): Boolean =
    org.nonEmpty && org.length <= 128 &&
      org.forall(c => c > ' ' && c < 127 && c != '/' && c != '\\')
}

final case class HttpResult(status: Int, body: String,
    contentType: String = "application/json")

/** Decoded query parameters; repeatable keys (match[]) keep every value. */
final case class Params(values: Map[String, Seq[String]]) {
  def all(key: String): Seq[String] = values.getOrElse(key, Nil)
  def first(key: String): Option[String] = all(key).headOption
  def required(key: String): String = first(key).getOrElse(
    throw new IllegalArgumentException(s"missing required parameter: $key"))
}

object Params {
  def apply(kvs: (String, String)*): Params =
    Params(kvs.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) })

  /** Form-body params FIRST, query-string params appended per key — Go's
    * ParseForm (which the reference's GET+POST routes inherit) gives POST
    * body parameters precedence over URL query values, so `first()`
    * resolves a key present in both places to the form value.
    */
  def merge(query: Params, form: Params): Params =
    Params((query.values.keySet ++ form.values.keySet).map(k =>
      k -> (form.all(k) ++ query.all(k))).toMap)

  def fromQuery(rawQuery: String): Params =
    if (rawQuery == null || rawQuery.isEmpty) Params(Map.empty[String, Seq[String]])
    else Params(rawQuery.split("&").toSeq
      .filter(_.nonEmpty)
      .map { kv =>
        val i = kv.indexOf('=')
        if (i < 0) (URLDecoder.decode(kv, UTF_8), "")
        else (URLDecoder.decode(kv.take(i), UTF_8),
          URLDecoder.decode(kv.drop(i + 1), UTF_8))
      }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) })
}
