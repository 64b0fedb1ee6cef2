package graft.http

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.SparkSpec

/** End-to-end frontend spec: a REAL HttpServer on an ephemeral port,
  * driven over sockets with the JDK HttpClient — request parsing,
  * dispatch, Spark execution, and JSON rendering all in the loop. Shape
  * and invariant assertions run against the sf0.001 fixture; the exact
  * numeric content is certified by the underlying query gates, so this
  * spec pins the WIRE format (envelopes, value-as-string, ns-string
  * stream timestamps, error envelope + status codes).
  */
class FrontendSpec extends SparkSpec with graft.store.TempStores {

  private lazy val server = {
    val s = new Frontend(spark, sf).start(0)
    sys.addShutdownHook(s.stop(0))
    s
  }
  private lazy val base = s"http://127.0.0.1:${server.getAddress.getPort}"
  private lazy val client = HttpClient.newHttpClient()

  private def get(pathAndQuery: String): (Int, String) = {
    val res = client.send(
      HttpRequest.newBuilder(URI.create(base + pathAndQuery)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (res.statusCode(), res.body())
  }

  // the gates' evaluation window (testdata spans 2024-01)
  private val StartS = 1704067200L
  private val EndS = 1706659200L

  test("/ready answers over a real socket") {
    assert(get("/ready") == (200, "\"ready\""))
  }

  test("loki query_range: log selector returns streams with ns-string " +
      "timestamps, honoring limit and direction") {
    val (code, body) = get("/loki/api/v1/query_range" +
      s"?query=%7Bevent_type%3D%22signup%22%7D" +
      s"&start=${StartS}000000000&end=${EndS}000000000&limit=5")
    assert(code == 200)
    assert(body.startsWith("""{"status":"success","data":{"resultType":"streams","result":["""))
    def perStreamTs(b: String): Seq[Seq[Long]] = b.split("""\{"stream":""").toSeq.tail
      .map(chunk => """\["(\d{19})",""".r.findAllMatchIn(chunk)
        .map(_.group(1).toLong).toSeq)
    // default direction=backward: values newest-first WITHIN each stream
    val ts = perStreamTs(body)
    assert(ts.nonEmpty && ts.map(_.size).sum <= 5 && ts.map(_.size).sum > 0)
    assert(ts.forall(s => s == s.sorted.reverse), s"backward order violated: $ts")
    // forward flips the per-stream order
    val (_, fwd) = get("/loki/api/v1/query_range" +
      s"?query=%7Bevent_type%3D%22signup%22%7D" +
      s"&start=${StartS}000000000&end=${EndS}000000000&limit=5&direction=forward")
    val fts = perStreamTs(fwd)
    assert(fts.forall(s => s == s.sorted), s"forward order violated: $fts")
  }

  test("loki query_range: metric query returns a matrix with string values " +
      "on the 6h grid") {
    val (code, body) = get("/loki/api/v1/query_range" +
      "?query=" + enc("""sum by (event_type) (count_over_time({event_type="signup"}[6h]))""") +
      s"&start=$StartS&end=$EndS&step=6h")
    assert(code == 200)
    assert(body.contains(""""resultType":"matrix""""))
    assert(body.contains(""""metric":{"event_type":"signup"}"""))
    // matrix samples are [unix_sec, "value-string"] pairs on the grid
    val pair = """\[(\d{10}),"(\d+(\.\d+)?)"\]""".r
    val samples = pair.findAllMatchIn(body).map(m => m.group(1).toLong).toSeq
    assert(samples.nonEmpty)
    assert(samples.forall(t => t >= StartS && t < EndS && (t - StartS) % 21600 == 0))
  }

  test("loki labels + label values surface the stream dictionary") {
    val (c1, labels) = get(s"/loki/api/v1/labels?start=$StartS&end=$EndS")
    assert(c1 == 200)
    assert(labels.contains("\"event_type\"") && labels.contains("\"level\""))
    val (c2, values) = get(s"/loki/api/v1/label/level/values?start=$StartS&end=$EndS")
    assert(c2 == 200)
    assert(values.contains("\"info\"") && values.contains("\"error\""))
  }

  test("loki series: match[] union of selectors, sorted-key label objects") {
    val (code, body) = get("/loki/api/v1/series" +
      "?match%5B%5D=" + enc("""{event_type="signup"}""") +
      s"&start=$StartS&end=$EndS")
    assert(code == 200)
    assert(body.contains(""""event_type":"signup""""))
    // missing match[] is a 400 with the Prometheus error envelope
    val (bad, err) = get(s"/loki/api/v1/series?start=$StartS&end=$EndS")
    assert(bad == 400 && err.contains(""""errorType":"bad_data""""))
  }

  test("prom query_range: matrix envelope; instant query: vector envelope") {
    val (code, body) = get("/api/v1/query_range" +
      "?query=" + enc("""sum by (event_type) (events_value{event_type="click"})""") +
      s"&start=$StartS&end=$EndS&step=21600")
    assert(code == 200)
    assert(body.startsWith("""{"status":"success","data":{"resultType":"matrix""""))
    assert(body.contains(""""metric":{"event_type":"click"}"""))
    // instant: 1 s after the fixture's last click sample, so the 5 m
    // staleness carry provably has a sample to pick up
    val instT = 1706643059L
    val (ci, inst) = get("/api/v1/query" +
      "?query=" + enc("""events_value{event_type="click"}""") +
      s"&time=$instT")
    assert(ci == 200)
    assert(inst.contains(""""resultType":"vector""""))
    // instant samples are single [sec, "v"] VALUES, not arrays of pairs
    assert(inst.contains(s""""value":[$instT,""""), inst.take(300))
  }

  test("prom labels / label values / series ride the family dictionaries") {
    val (c1, names) = get("/api/v1/labels")
    assert(c1 == 200)
    assert(names.contains("\"__name__\"") && names.contains("\"event_type\""))
    val (c2, fams) = get("/api/v1/label/__name__/values")
    assert(c2 == 200)
    assert(fams == """{"status":"success","data":["events_bucket","events_total","events_value"]}""",
      fams)
    val (c3, series) = get("/api/v1/series?match%5B%5D=" +
      enc("""events_value{event_type="click"}"""))
    assert(c3 == 200)
    assert(series.contains(""""__name__":"events_value"""") &&
      series.contains(""""event_type":"click""""), series.take(300))
    assert(!series.contains("events_total"))
    assert(get("/api/v1/series")._1 == 400)
  }

  test("prom metadata lists the three metric families with types") {
    val (code, body) = get("/api/v1/metadata")
    assert(code == 200)
    assert(body ==
      """{"status":"success","data":{""" +
      """"events_bucket":[{"type":"histogram","help":"","unit":""}],""" +
      """"events_total":[{"type":"counter","help":"","unit":""}],""" +
      """"events_value":[{"type":"gauge","help":"","unit":""}]}}""")
  }

  test("tempo search: TraceQL q= returns trace metas, newest first, " +
      "16-hex ids; traces/{id} returns the span tree") {
    val (code, body) = get("/api/search?q=" + enc("""{ .name="purchase" }""") +
      s"&start=${StartS}000000000&end=${EndS}000000000&limit=3")
    assert(code == 200)
    val ids = """"traceID":"([0-9a-f]{16})"""".r
      .findAllMatchIn(body).map(_.group(1)).toSeq
    assert(ids.nonEmpty && ids.size <= 3)
    val starts = """"startTimeUnixNano":"(\d+)"""".r
      .findAllMatchIn(body).map(_.group(1).toLong).toSeq
    assert(starts == starts.sorted.reverse)
    // point lookup round-trips one of the returned ids
    val (tc, trace) = get(s"/api/traces/${ids.head}")
    assert(tc == 200)
    assert(trace.contains(s""""traceID":"${ids.head}""""))
    assert(trace.contains(""""spanID":""") && trace.contains(""""durationNanos":""""))
    // unknown trace id is a 404
    assert(get("/api/traces/ffffffffffffffff")._1 == 404)
  }

  test("loki index stats (bare object) + volume (vector of byte counts)") {
    val (c1, stats) = get("/loki/api/v1/index/stats?query=" +
      enc("""{event_type="signup"}""") + s"&start=$StartS&end=$EndS")
    assert(c1 == 200)
    assert(stats.matches("""\{"streams":\d+,"chunks":0,"entries":\d+,"bytes":\d+\}"""),
      stats)
    val (c2, vol) = get("/loki/api/v1/index/volume?query=" +
      enc("""{level="info"}""") + s"&start=$StartS&end=$EndS&aggregateBy=event_type")
    assert(c2 == 200)
    assert(vol.contains(""""resultType":"vector""""))
    assert(vol.contains(s""""value":[$EndS,"""") &&
      vol.contains(""""event_type":"""), vol.take(300))
  }

  test("loki detected labels and fields report cardinalities and types") {
    val (c1, dl) = get("/loki/api/v1/detected_labels?query=" +
      enc("""{event_type="signup"}""") + s"&start=$StartS&end=$EndS")
    assert(c1 == 200)
    assert(dl.startsWith("""{"detectedLabels":[{"label":"""), dl.take(120))
    assert(dl.contains(""""cardinality":"""))
    val (c2, df) = get("/loki/api/v1/detected_fields?query=" +
      enc("""{event_type="signup"}""") + s"&start=$StartS&end=$EndS")
    assert(c2 == 200)
    assert(df.startsWith("""{"fields":["""), df.take(120))
    assert(df.contains(""""parsers":["""), df.take(300))
  }

  test("tempo tag autocomplete: v1 flat, v2 scoped under span; q= narrows") {
    val (c1, v1) = get("/api/search/tags")
    assert(c1 == 200 && v1.startsWith("""{"tagNames":["""), v1.take(120))
    assert(v1.contains("\"name\"") && v1.contains("\"service_name\""))
    val (c2, v2) = get("/api/v2/search/tags?q=" + enc("""{ .name="purchase" }"""))
    assert(c2 == 200)
    assert(v2.startsWith("""{"scopes":[{"name":"span","tags":["""), v2.take(120))
    val (c3, tv) = get("/api/search/tag/name/values")
    assert(c3 == 200 && tv.contains("\"purchase\""), tv.take(200))
    val (c4, tv2) = get("/api/v2/search/tag/name/values?q=" +
      enc("""{ .name="purchase" }"""))
    assert(c4 == 200)
    assert(tv2 == """{"tagValues":[{"type":"string","value":"purchase"}]}""", tv2)
    assert(get("/api/echo") == (200, "\"echo\""))
  }

  test("push -> query round trip: POSTed streams become queryable " +
      "(samples, dictionary, downsample partials), idempotent dictionary") {
    // a COPY of the fixture dir: the push mutates its store, and the
    // shared sf0.001 store's contents are load-bearing for other suites
    val tmp = tempDataDir("graft-push")
    val srv = new Frontend(spark, tmp).start(0)
    try {
      val b = s"http://127.0.0.1:${srv.getAddress.getPort}"
      def get2(pq: String): (Int, String) = {
        val r = client.send(HttpRequest.newBuilder(URI.create(b + pq)).GET()
          .build(), HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      def post(path: String, body: String): Int =
        client.send(HttpRequest.newBuilder(URI.create(b + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString()).statusCode()
      def pushedLines: Seq[String] = {
        val (_, body) = get2("/loki/api/v1/query_range?query=" +
          enc("""{event_type="pushed"}""") +
          s"&start=${StartS}000000000&end=${EndS}000000000&limit=100")
        """\["\d{19}","([^"]*)"\]""".r.findAllMatchIn(body)
          .map(_.group(1)).toSeq
      }
      assert(pushedLines.isEmpty)
      def body(ts1: Long, ts2: Long) =
        s"""{"streams":[{"stream":{"event_type":"pushed","level":"info"},
           |"values":[["${ts1}000000000","hello pushed one"],
           |          ["${ts2}000000000","hello pushed two"]]}]}"""
          .stripMargin.replace("\n", "")
      assert(post("/loki/api/v1/push", body(StartS + 100, StartS + 200)) == 204)
      // the pushed stream is queryable: lines, label value, and the
      // downsample-routed count all see it
      assert(pushedLines.toSet ==
        Set("hello pushed one", "hello pushed two"))
      val (_, vals) = get2(s"/loki/api/v1/label/event_type/values" +
        s"?start=$StartS&end=$EndS")
      assert(vals.contains("\"pushed\""))
      val (_, cnt) = get2("/loki/api/v1/query_range?query=" +
        enc("""sum by (event_type) (count_over_time({event_type="pushed"}[6h]))""") +
        s"&start=$StartS&end=$EndS&step=6h")
      val total = ""","(\d+)"\]""".r.findAllMatchIn(cnt)
        .map(_.group(1).toLong).sum
      assert(total == 2, cnt.take(300))
      // second push, same stream: dictionary must NOT duplicate (dup
      // dictionary rows would fan every line out 2x through the broadcast
      // join) - 4 lines total, not 8
      assert(post("/loki/api/v1/push", body(StartS + 300, StartS + 400)) == 204)
      assert(pushedLines.size == 4)
      // a push with no entries is a 400
      assert(post("/loki/api/v1/push", """{"streams":[]}""") == 400)
      // invalid timestamps 400 the whole push (Loki's contract) instead
      // of writing date=null rows every window scan silently drops
      assert(post("/loki/api/v1/push",
        """{"streams":[{"stream":{"event_type":"badts"},
          |"values":[["2024-01-01T00:00:00Z","iso not allowed here"],
          |["1704067500000000000","fine"]]}]}""".stripMargin
          .replace("\n", "")) == 400)
      val (_, badVals) = get2(s"/loki/api/v1/label/event_type/values" +
        s"?start=$StartS&end=$EndS")
      assert(!badVals.contains("badts"), badVals)
      assert(post("/api/v1/nope", "x") == 404)
    } finally srv.stop(0)
  }

  test("ingest POST routes: push-then-query fixture replay per wire " +
      "format (OTLP logs/traces/metrics, remote-write, Influx, Datadog " +
      "logs+series, Zipkin, Elastic bulk+doc, Cloudflare, pprof)") {
    val dir = tempDataDir("graft-ingest")
    val tsNs = (StartS + 5000L) * 1000000000L // inside the 2024-01 window
    val srv = new Frontend(spark, dir, nowNs = () => tsNs).start(0)
    try {
      val b = s"http://127.0.0.1:${srv.getAddress.getPort}"
      def get2(pq: String): (Int, String) = {
        val r = client.send(HttpRequest.newBuilder(URI.create(b + pq)).GET()
          .build(), HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      def post(path: String, body: String): (Int, String) = {
        val r = client.send(HttpRequest.newBuilder(URI.create(b + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      def postBytes(path: String, body: Array[Byte]): (Int, String) = {
        val r = client.send(HttpRequest.newBuilder(URI.create(b + path))
          .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      def lokiLines(sel: String): Seq[String] = {
        val (_, body) = get2("/loki/api/v1/query_range?query=" + enc(sel) +
          s"&start=${StartS}000000000&end=${EndS}000000000&limit=100")
        // lines may themselves be JSON — capture across escaped quotes
        // and unescape the JSON string encoding
        """\["\d{19}","((?:[^"\\]|\\.)*)"\]""".r.findAllMatchIn(body)
          .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\")).toSeq
      }
      def instant(q: String, tSec: Long): String =
        get2("/api/v1/query?query=" + enc(q) + s"&time=$tSec")._2
      val tSec = tsNs / 1000000000L + 10

      // --- OTLP logs -> loki query ------------------------------------
      val otlpLogs =
        s"""{"resourceLogs":[{"resource":{"attributes":[
           |{"key":"event_type","value":{"stringValue":"otlppush"}}]},
           |"scopeLogs":[{"logRecords":[{"timeUnixNano":"$tsNs",
           |"body":{"stringValue":"otlp hello"}}]}]}]}"""
          .stripMargin.replace("\n", "")
      assert(post("/v1/logs", otlpLogs)._1 == 200)
      assert(lokiLines("""{event_type="otlppush"}""") == Seq("otlp hello"))

      // --- OTLP traces -> tempo search + trace by id --------------------
      val traceHex = "0000000000000000000000000000beef"
      val otlpTraces =
        s"""{"resourceSpans":[{"resource":{"attributes":[
           |{"key":"service.name","value":{"stringValue":"otlpsvc"}}]},
           |"scopeSpans":[{"spans":[
           |{"traceId":"$traceHex","spanId":"000000000000b001",
           |"name":"otlp-root","startTimeUnixNano":"$tsNs",
           |"endTimeUnixNano":"${tsNs + 500000}","attributes":[
           |{"key":"zone","value":{"stringValue":"eu2"}}]},
           |{"traceId":"$traceHex","spanId":"000000000000b002",
           |"parentSpanId":"000000000000b001","name":"otlp-leaf",
           |"startTimeUnixNano":"${tsNs + 1000}",
           |"endTimeUnixNano":"${tsNs + 400000}","attributes":[
           |{"key":"zone","value":{"stringValue":"eu2"}}]}]}]}]}"""
          .stripMargin.replace("\n", "")
      assert(post("/v1/traces", otlpTraces)._1 == 200)
      val (sc, search) = get2("/api/search?q=" + enc("""{ .zone="eu2" }""") +
        s"&start=${tsNs - 1}&end=${tsNs + 1000000}")
      assert(sc == 200 && search.contains("\"000000000000beef\""), search.take(300))
      val (tc, byId) = get2("/api/traces/000000000000beef")
      assert(tc == 200 && byId.contains("\"otlp-root\"") &&
        byId.contains("\"otlp-leaf\""), byId.take(400))
      // service_name joined the attr map: TraceQL matches it directly
      val (_, svcSearch) = get2("/api/search?q=" +
        enc("""{ .service_name="otlpsvc" }""") +
        s"&start=${tsNs - 1}&end=${tsNs + 1000000}")
      assert(svcSearch.contains("000000000000beef"), svcSearch.take(300))

      // --- OTLP metrics -> prom instant + __name__ values ---------------
      val otlpMetrics =
        s"""{"resourceMetrics":[{"scopeMetrics":[{"metrics":[
           |{"name":"pushed_gauge","gauge":{"dataPoints":[
           |{"timeUnixNano":"$tsNs","asDouble":7.5,"attributes":[
           |{"key":"job","value":{"stringValue":"push"}}]}]}}]}]}]}"""
          .stripMargin.replace("\n", "")
      assert(post("/v1/metrics", otlpMetrics)._1 == 200)
      assert(instant("""pushed_gauge{job="push"}""", tSec)
        .contains("\"7.5\""))
      val (_, fams) = get2("/api/v1/label/__name__/values")
      assert(fams.contains("\"pushed_gauge\""), fams)

      // --- Prometheus remote-write (snappy protobuf, binary body) -------
      val rw = graft.ingest.PromRemoteWrite.encodeWriteRequest(Seq(
        (Map("__name__" -> "rw_total", "job" -> "rw"),
          Seq((tsNs / 1000000L, 2.0)))))
      assert(postBytes("/api/v1/prom/remote/write", rw)._1 == 204)
      assert(instant("""rw_total{job="rw"}""", tSec).contains("\"2\""))

      // --- Influx line protocol: log AND metric branches ----------------
      val influx =
        s"""weblog,host=h1 message="influx log line" $tsNs
           |cpu,host=h1 usage=0.5 $tsNs""".stripMargin
      assert(post("/influx/api/v2/write", influx)._1 == 204)
      assert(lokiLines("""{measurement="weblog"}""") == Seq("influx log line"))
      assert(instant("""usage{measurement="cpu",host="h1"}""", tSec)
        .contains("\"0.5\""))

      // --- Datadog logs + metric series ---------------------------------
      val ddLogs =
        s"""[{"message":"dd log","ddtags":"env:ddtest","service":"api",
           |"timestamp":${tsNs / 1000000L}}]""".stripMargin.replace("\n", "")
      assert(post("/api/v2/logs", ddLogs)._1 == 200)
      assert(lokiLines("""{env="ddtest",service="api"}""") == Seq("dd log"))
      val ddSeries =
        s"""{"series":[{"metric":"dd_gauge","points":[[${tsNs / 1000000000L},1.5]],
           |"tags":["env:ddtest"],"type":"gauge"}]}"""
          .stripMargin.replace("\n", "")
      assert(post("/api/v1/series", ddSeries)._1 == 202)
      assert(instant("""dd_gauge{env="ddtest"}""", tSec).contains("\"1.5\""))

      // --- Zipkin spans --------------------------------------------------
      val zipkin =
        s"""[{"traceId":"00000000000000ab","id":"00000000000000cd",
           |"name":"zk-op","timestamp":${tsNs / 1000},"duration":1000,
           |"localEndpoint":{"serviceName":"zksvc"},
           |"tags":{"zone":"zk1"}}]""".stripMargin.replace("\n", "")
      assert(post("/api/v2/spans", zipkin)._1 == 202)
      val (_, zkSearch) = get2("/api/search?q=" + enc("""{ .zone="zk1" }""") +
        s"&start=${tsNs - 1}&end=${tsNs + 1000000}")
      assert(zkSearch.contains("00000000000000ab"), zkSearch.take(300))

      // --- Elastic bulk + single-doc spelling ----------------------------
      val bulk =
        """{"index":{"_index":"logs-push"}}
          |{"msg":"bulk doc"}""".stripMargin
      val (bc, bulkRes) = post("/_bulk", bulk)
      assert(bc == 200 && bulkRes.contains("\"errors\":false"))
      assert(lokiLines("""{_index="logs-push"}""") == Seq("""{"msg":"bulk doc"}"""))
      assert(post("/myidx/_doc", """{"msg":"single doc"}""")._1 == 200)
      assert(lokiLines("""{_index="myidx"}""") == Seq("""{"msg":"single doc"}"""))

      // --- Cloudflare NDJSON --------------------------------------------
      val cf = s"""{"EventType":"cfpush","Outcome":"ok","When":$tsNs}"""
      assert(post("/cf/v1/insert?ddsource=cloudflare", cf)._1 == 200)
      assert(lokiLines("""{EventType="cfpush"}""") == Seq(cf))

      // --- pprof over the Pyroscope ingest API (gzip binary body) -------
      val prof = graft.ingest.Pprof.encodeProfile(Seq(
        (Seq("main", "work"), 100L), (Seq("main", "idle"), 50L)))
      assert(postBytes(s"/ingest?name=${enc("pushapp{env=test}")}" +
        s"&from=${tsNs / 1000000000L}", prof)._1 == 200)
      val tree = graft.prof.Profiles.mergeTree(spark, dir, "pushapp")
        .orderBy("fn").collect().map(r =>
          (r.getAs[String]("fn"), r.getAs[Long]("total"))).toSeq
      assert(tree == Seq(("idle", 50L), ("main", 150L), ("work", 100L)), tree)

      // malformed pushes keep the error envelope contract
      assert(post("/v1/logs", """{"resourceLogs":[]}""")._1 == 400)
      assert(post("/api/v2/spans", "[]")._1 == 400)
    } finally srv.stop(0)
  }

  test("pyroscope render: flamebearer levels-array shape, dot format, " +
      "and render-diff double format with left/right ticks") {
    val fromMs = StartS * 1000L
    val untilMs = EndS * 1000L
    val q = enc("""process_cpu:cpu:nanoseconds{service_name="svc0"}""")
    val (code, body) = get(s"/pyroscope/render?query=$q&from=$fromMs&until=$untilMs")
    assert(code == 200)
    assert(body.startsWith("""{"flamebearer":{"names":["total","n/a","""),
      body.take(120))
    assert(body.contains(""""metadata":{"format":"single","spyName":"",""" +
      """"sampleRate":1000000000,"units":"samples","name":"cpu"}"""),
      body.take(600))
    assert(body.contains(""""timeline":null""") &&
      body.contains(""""leftTicks":0"""))
    // levels: quads [offsetDelta, total, self, nameIdx]; level 0 is the
    // synthetic total node and level 1 (the real roots) covers numTicks
    val numTicks = """"numTicks":(\d+)""".r.findFirstMatchIn(body)
      .get.group(1).toLong
    assert(numTicks > 0)
    val levelsStr = body.substring(body.indexOf(""""levels":[""") + 10)
    val lvl = """\[[0-9,\-]*\]""".r.findAllIn(
      levelsStr.take(levelsStr.indexOf("]]") + 1)).toSeq
      .map(s => if (s == "[]") Seq.empty[Long]
        else s.drop(1).dropRight(1).split(",").toSeq.map(_.toLong))
    assert(lvl.head == Seq(0L, numTicks, 0L, 0L), lvl.head)
    assert(lvl(1).nonEmpty && lvl(1).length % 4 == 0)
    val rootsTotal = lvl(1).grouped(4).map(_(1)).sum
    assert(rootsTotal == numTicks, s"$rootsTotal vs $numTicks")
    // every level is offset+total-bounded by the total width
    for (l <- lvl.filter(_.nonEmpty))
      assert(l.grouped(4).map(g => g(0) + g(1)).sum <= numTicks, l)
    // dot format switches the content type and renders a digraph
    val (dc, dot) = get(s"/pyroscope/render?query=$q&from=$fromMs" +
      s"&until=$untilMs&format=dot")
    assert(dc == 200 && dot.startsWith("digraph"), dot.take(80))
    // diff: double format, 7-tuples, side ticks of the two services
    val q2 = enc("""process_cpu:cpu:nanoseconds{service_name="svc1"}""")
    val (dcode, diff) = get("/pyroscope/render-diff" +
      s"?leftQuery=$q&leftFrom=$fromMs&leftUntil=$untilMs" +
      s"&rightQuery=$q2&rightFrom=$fromMs&rightUntil=$untilMs")
    assert(dcode == 200)
    assert(diff.contains(""""format":"double""""), diff.take(400))
    val lt = """"leftTicks":(\d+)""".r.findFirstMatchIn(diff).get.group(1).toLong
    val rt = """"rightTicks":(\d+)""".r.findFirstMatchIn(diff).get.group(1).toLong
    val dTicks = """"numTicks":(\d+)""".r.findFirstMatchIn(diff).get.group(1).toLong
    assert(lt > 0 && rt > 0 && lt + rt == dTicks)
    val dLevels = diff.substring(diff.indexOf(""""levels":[""") + 10)
    val dl0 = """\[[0-9,\-]*\]""".r.findFirstIn(dLevels).get
      .drop(1).dropRight(1).split(",").map(_.toLong).toSeq
    assert(dl0 == Seq(0L, lt, 0L, 0L, rt, 0L, 0L), dl0)
    // missing params use the reference's message
    val (mc, merr) = get("/pyroscope/render?from=1&until=2")
    assert(mc == 400 && merr.contains("Missing required parameter: query"))
  }

  test("live tail long-poll: push via the push API, observe the new " +
      "entries through the tail frame with an advancing cursor") {
    val tmp = tempDataDir("graft-tail")
    val srv = new Frontend(spark, tmp,
      nowNs = () => EndS * 1000000000L).start(0)
    try {
      val b = s"http://127.0.0.1:${srv.getAddress.getPort}"
      def get2(pq: String): (Int, String) = {
        val r = client.send(HttpRequest.newBuilder(URI.create(b + pq)).GET()
          .build(), HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      def push(tsNs: Long, line: String): Int =
        client.send(HttpRequest.newBuilder(URI.create(b + "/loki/api/v1/push"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"streams":[{"stream":{"event_type":"tailpush"},
               |"values":[["$tsNs","$line"]]}]}"""
              .stripMargin.replace("\n", ""))).build(),
          HttpResponse.BodyHandlers.ofString()).statusCode()
      def tail(startNs: Long): (Seq[(Long, String)], String) = {
        val (c, body) = get2("/loki/api/v1/tail?query=" +
          enc("""{event_type="tailpush"}""") + s"&start=$startNs")
        assert(c == 200)
        assert(body.contains(""""dropped_entries":[]"""), body.take(200))
        (("""\["(\d{19})","([^"]*)"\]""".r.findAllMatchIn(body)
          .map(m => (m.group(1).toLong, m.group(2))).toSeq), body)
      }
      val t1 = (StartS + 100) * 1000000000L
      val t2 = (StartS + 200) * 1000000000L
      assert(push(t1, "tail one") == 204)
      assert(push(t2, "tail two") == 204)
      val (both, frame) = tail(t1)
      assert(frame.startsWith("""{"streams":["""), frame.take(80))
      assert(both.map(_._2) == Seq("tail one", "tail two"), both)
      // cursor past the newest seen entry: nothing new yet
      val cursor = both.map(_._1).max + 1
      assert(tail(cursor)._1.isEmpty)
      // a fresh push appears at the advanced cursor, older ones don't
      val t3 = (StartS + 300) * 1000000000L
      assert(push(t3, "tail three") == 204)
      assert(tail(cursor)._1 == Seq((t3, "tail three")))
    } finally srv.stop(0)
  }

  test("instant routes: loki /query vector + streams + health probe, " +
      "tempo /api/metrics/query instant envelope, /tempo aliases, buildinfo") {
    // loki metric instant: latest grid point per series as a vector
    val (c1, v) = get("/loki/api/v1/query?query=" +
      enc("""sum by (event_type) (count_over_time({event_type="signup"}[6h]))""") +
      s"&time=$EndS")
    assert(c1 == 200)
    assert(v.contains(""""resultType":"vector""""), v.take(200))
    assert(v.contains(""""metric":{"event_type":"signup"}"""), v.take(300))
    assert("""\"value\":\[\d{10},"\d+""".r.findFirstIn(v).isDefined, v.take(300))
    // log selector instant: streams
    val (c2, s) = get("/loki/api/v1/query?query=" +
      enc("""{event_type="signup"}""") + s"&time=$EndS&limit=3")
    assert(c2 == 200 && s.contains(""""resultType":"streams""""), s.take(200))
    // the Grafana health probe literal short-circuits to "2"
    val (c3, h) = get("/loki/api/v1/query?query=" +
      enc("vector(1)+vector(1)") + s"&time=$EndS")
    assert(c3 == 200 && h.contains(""""value":[""") && h.contains("\"2\""), h)
    // tempo metrics instant: series envelope with one value per series
    val (c4, ti) = get("/api/metrics/query?q=" +
      enc("""{ .name="purchase" } | rate() by (service_name)""") +
      s"&start=${StartS}000000000&end=${EndS}000000000")
    assert(c4 == 200)
    assert(ti.startsWith("""{"series":[{"labels":[{"key":"service_name""""),
      ti.take(200))
    assert(ti.contains(""""exemplars":[]""") && ti.endsWith(""""metrics":null}"""),
      ti.takeRight(100))
    // /tempo/api/* aliases dispatch to the same handlers
    assert(get("/tempo/api/echo") == (200, "\"echo\""))
    val direct = get("/api/search?q=" + enc("""{ .name="purchase" }""") +
      s"&start=${StartS}000000000&end=${EndS}000000000&limit=2")
    val aliased = get("/tempo/api/search?q=" + enc("""{ .name="purchase" }""") +
      s"&start=${StartS}000000000&end=${EndS}000000000&limit=2")
    assert(direct == aliased && direct._1 == 200)
    val tmi = get("/tempo/api/metrics/query?q=" +
      enc("""{ .name="purchase" } | rate() by (service_name)""") +
      s"&start=${StartS}000000000&end=${EndS}000000000")
    assert(tmi == ((c4, ti)))
    // trace-by-id /json alias
    val ids = """"traceID":"([0-9a-f]{16})"""".r.findAllMatchIn(direct._2)
      .map(_.group(1)).toSeq
    assert(get(s"/api/traces/${ids.head}/json")._1 == 200)
    // buildinfo reports the success envelope with a version field
    assert(get("/api/v1/status/buildinfo") ==
      (200, """{"status":"success","data":{"version":""}}"""))
  }

  test("loki instant metric query evaluates the one window ending at time") {
    // a COPY of the fixture dir: the pushes mutate its store
    val tmp = tempDataDir("graft-instant")
    val srv = new Frontend(spark, tmp).start(0)
    try {
      val b = s"http://127.0.0.1:${srv.getAddress.getPort}"
      def push(host: String, tS: Long): Int =
        client.send(HttpRequest.newBuilder(URI.create(b + "/loki/api/v1/push"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"streams":[{"stream":{"event_type":"instant","host":"$host"},
               |"values":[["${tS}000000000","line"]]}]}"""
              .stripMargin.replace("\n", ""))).build(),
          HttpResponse.BodyHandlers.ofString()).statusCode()
      // `fresh` has a line inside the [1m] window ending at EndS; `stale`
      // only 200 s before EndS, in [EndS−range−300s, EndS−range)
      assert(push("fresh", EndS - 30) == 204)
      assert(push("stale", EndS - 200) == 204)
      val r = client.send(HttpRequest.newBuilder(URI.create(b +
          "/loki/api/v1/query?query=" +
          enc("""sum by (host) (count_over_time({event_type="instant"}[1m]))""") +
          s"&time=$EndS")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, r.body())
      assert(!r.body().contains("stale"), r.body())
      assert(r.body() == """{"status":"success","data":{"resultType":"vector",""" +
        s""""result":[{"metric":{"host":"fresh"},"value":[$EndS,"1"]}]}}""",
        r.body())
    } finally srv.stop(0)
  }

  // Fails when a push of a BUILT family's name is stored apart from the
  // built samples: the series dictionary would list the pushed series while
  // every query of that name read only the built rows.
  test("remote-write samples of a built family are read by instant, 15s " +
      "downsample and series routes alike") {
    // a COPY of the fixture dir: the push mutates its store
    val tmp = tempDataDir("graft-built-push")
    val srv = new Frontend(spark, tmp).start(0)
    try {
      val b = s"http://127.0.0.1:${srv.getAddress.getPort}"
      def get2(pq: String): String = {
        val r = client.send(HttpRequest.newBuilder(URI.create(b + pq)).GET()
          .build(), HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 200, r.body())
        r.body()
      }
      // an hour after the built data ends: two samples in two 15s buckets,
      // both inside the [1m] window ending at the 15s-aligned time `t`
      val t = EndS + 3645
      val labels = Map("__name__" -> "events_value", "event_type" -> "click",
        "level" -> "info")
      val rw = graft.ingest.PromRemoteWrite.encodeWriteRequest(Seq(
        (labels, Seq(((EndS + 3601) * 1000L, 42.0), ((EndS + 3631) * 1000L, 43.0)))))
      val push = client.send(HttpRequest.newBuilder(
          URI.create(b + "/api/v1/prom/remote/write"))
        .POST(HttpRequest.BodyPublishers.ofByteArray(rw)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(push.statusCode() == 204, push.body())

      val sel = """events_value{event_type="click",level="info"}"""
      val series = """{"__name__":"events_value","event_type":"click","level":"info"}"""
      val inst = get2("/api/v1/query?query=" + enc(sel) + s"&time=$t")
      assert(inst == """{"status":"success","data":{"resultType":"vector",""" +
        s""""result":[{"metric":$series,"value":[$t,"43"]}]}}""", inst)

      val countQ = s"count_over_time($sel[1m])"
      val scans = new graft.promql.PromQLCompiler(spark, tmp,
          graft.promql.PromParams(t * 1000000000L, t * 1000000000L, 15L))
        .compile(countQ).queryExecution.sparkPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.rootPaths.mkString(",")
        }
      assert(scans.exists(_.endsWith("/prom_samples_15s")), scans)
      val count = get2("/api/v1/query?query=" + enc(countQ) + s"&time=$t")
      assert(count == """{"status":"success","data":{"resultType":"vector",""" +
        s""""result":[{"metric":{"event_type":"click","level":"info"},""" +
        s""""value":[$t,"2"]}]}}""", count)

      // the dictionary names the one series both answers came from
      val listed = get2("/api/v1/series?match%5B%5D=" + enc(sel))
      assert(listed == s"""{"status":"success","data":[$series]}""", listed)
    } finally srv.stop(0)
  }

  test("rules CRUD over HTTP: YAML group lifecycle, Prometheus-format " +
      "listing with health, and alert rules posted through it evaluate") {
    val dir = tempDataDir("graft-rules")
    val srv = new Frontend(spark, dir).start(0)
    try {
      val b = s"http://127.0.0.1:${srv.getAddress.getPort}"
      def req(method: String, path: String, body: String = ""): (Int, String) = {
        val builder = HttpRequest.newBuilder(URI.create(b + path))
        val r = client.send((method match {
          case "GET" => builder.GET()
          case "POST" => builder.POST(HttpRequest.BodyPublishers.ofString(body))
          case "DELETE" => builder.DELETE()
        }).build(), HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      // empty store: 404s in the reference's YAML message shapes
      assert(req("GET", "/loki/api/v1/rules") == (404, "no rule groups found"))
      assert(req("GET", "/loki/api/v1/rules/team1")._1 == 404)
      // create a group carrying a recording AND an alerting rule
      val groupYaml =
        """name: g1
          |interval: 1m
          |rules:
          |  - record: signup:count6h
          |    expr: "sum by (event_type) (count_over_time({event_type=\"signup\"}[6h]))"
          |    labels:
          |      team: one
          |  - alert: HighSignups
          |    expr: "sum by (event_type) (count_over_time({event_type=\"signup\"}[6h])) > 0"
          |    for: 12h
          |    annotations:
          |      summary: "too many signups"
          |""".stripMargin
      val (pc, pBody) = req("POST", "/loki/api/v1/rules/team1", groupYaml)
      assert(pc == 202 && pBody ==
        """{"status":"success","data":null,"errorType":"","error":""}""",
        (pc, pBody))
      // read back: single group, namespace listing, full listing
      val (gc, gy) = req("GET", "/loki/api/v1/rules/team1/g1")
      assert(gc == 200)
      assert(gy.contains("record: signup:count6h") &&
        gy.contains("alert: HighSignups") && gy.contains("for: 12h") &&
        gy.contains("team: \"one\""), gy)
      // the YAML body round-trips through the parser to the same group
      val reparsed = graft.streaming.Rules.parseGroupYaml(gy)
      assert(reparsed == graft.streaming.Rules.parseGroupYaml(groupYaml))
      val (nc, ny) = req("GET", "/loki/api/v1/rules/team1")
      assert(nc == 200 && ny.startsWith("team1:\n  - name: g1"), ny.take(80))
      assert(req("GET", "/loki/api/v1/rules")._2 == ny)
      // Prometheus-format listing: recording rules only, health fields
      val (lc, listing) = req("GET", "/api/v1/rules")
      assert(lc == 200)
      assert(listing.contains(""""name":"signup:count6h"""") &&
        listing.contains(""""type":"recording"""") &&
        listing.contains(""""health":"unknown"""") &&
        listing.contains(""""file":"team1"""") &&
        listing.contains(""""interval":60"""), listing.take(500))
      assert(!listing.contains("HighSignups")) // alerting rules: not listed
      // the alert rule posted over HTTP evaluates through the alert engine
      val alert = graft.streaming.Rules.groups(spark, dir, "loki", "team1")
        .head.rules.find(!_.isRecording).get
      val states = graft.streaming.Ruler.alertStates(spark, dir,
          "HighSignups", alert.expr,
          graft.streaming.Rules.parseIntervalS(alert.forDur),
          graft.logql.EvalParams(StartS * 1000000000L, EndS * 1000000000L, 21600L))
        .collect()
      assert(states.nonEmpty)
      val byState = states.groupBy(_.getAs[String]("state")).keySet
      assert(byState == Set("pending", "firing"), byState)
      // delete group then namespace
      assert(req("DELETE", "/loki/api/v1/rules/team1/g1")._1 == 202)
      assert(req("GET", "/loki/api/v1/rules/team1/g1")._1 == 404)
      assert(req("POST", "/loki/api/v1/rules/team1", groupYaml)._1 == 202)
      assert(req("DELETE", "/loki/api/v1/rules/team1")._1 == 202)
      assert(req("GET", "/loki/api/v1/rules")._1 == 404)
      // malformed YAML is a 400
      assert(req("POST", "/loki/api/v1/rules/team1", "interval: 1m") ==
        (400, "error: failed to parse rule group yaml"))
    } finally srv.stop(0)
  }

  test("X-Scope-OrgID scopes requests to the tenant's oid partitions: " +
      "two orgs get disjoint answers over the same routes") {
    def withOrg(pathAndQuery: String, org: Option[String]): (Int, String) = {
      val builder = HttpRequest.newBuilder(URI.create(base + pathAndQuery)).GET()
      org.foreach(o => builder.header("X-Scope-OrgID", o))
      val res = client.send(builder.build(), HttpResponse.BodyHandlers.ofString())
      (res.statusCode(), res.body())
    }
    def streams(org: Option[String]): Long = {
      val (c, body) = withOrg("/loki/api/v1/index/stats?query=" +
        enc("""{level="info"}""") + s"&start=$StartS&end=$EndS", org)
      assert(c == 200, body.take(200))
      """"streams":(\d+)""".r.findFirstMatchIn(body).get.group(1).toLong
    }
    val all = streams(None)
    val o0 = streams(Some("0"))
    val o1 = streams(Some("1"))
    assert(o0 > 0 && o1 > 0 && o0 + o1 == all, s"$o0 + $o1 vs $all")
    // series answers are fully disjoint between the two orgs
    def seriesSet(org: Option[String]): Set[String] = {
      val (_, body) = withOrg("/loki/api/v1/series?match%5B%5D=" +
        enc("""{level="info"}""") + s"&start=$StartS&end=$EndS", org)
      """\{[^}]*\}""".r.findAllIn(body.drop(body.indexOf("["))).toSet
    }
    val s0 = seriesSet(Some("0"))
    val s1 = seriesSet(Some("1"))
    assert(s0.nonEmpty && s1.nonEmpty && s0.intersect(s1).isEmpty)
    assert(s0.union(s1) == seriesSet(None))
    // an unknown org simply matches no partitions
    assert(streams(Some("42")) == 0)
  }

  test("PromQL over a metric name never pushed answers 200 with an empty " +
      "result, as Prometheus does") {
    val (c1, range) = get("/api/v1/query_range?query=" +
      enc("sum(rate(no_such_metric[5m]))") +
      s"&start=$StartS&end=$EndS&step=6h")
    assert(c1 == 200, range)
    assert(range.contains(""""resultType":"matrix","result":[]"""), range)
    val (c2, instant) = get("/api/v1/query?query=" + enc("no_such_metric") +
      s"&time=$StartS")
    assert(c2 == 200, instant)
    assert(instant.contains(""""resultType":"vector","result":[]"""), instant)
  }

  test("error envelopes: parse errors are 400 bad_data, unknown routes 404") {
    val (code, body) = get("/loki/api/v1/query_range?query=" +
      enc("{unclosed") + s"&start=$StartS&end=$EndS")
    assert(code == 400)
    assert(body.contains(""""status":"error"""") &&
      body.contains(""""errorType":"bad_data""""))
    // missing required param
    assert(get("/api/v1/query_range?query=up")._1 == 400)
    assert(get("/api/v1/nope")._1 == 404)
  }

  test("loki patterns endpoint mines the selector's stream; tempo metrics " +
      "endpoint serves TraceQL rate() series") {
    val (c1, pats) = get("/loki/api/v1/patterns?query=" +
      enc("""{event_type="signup"}""") + s"&start=$StartS&end=$EndS")
    assert(c1 == 200)
    assert(pats.startsWith("""{"status":"success","data":[{"pattern":"""),
      pats.take(120))
    // the class masker generalized the numeric payload to one pattern
    assert(pats.contains("<N>"), pats.take(200))
    assert("""\[\[\d{10},\d+\]\]""".r.findFirstIn(pats).isDefined, pats.take(200))
    val (c2, m) = get("/api/metrics/query_range?q=" +
      enc("""{ .name="purchase" } | rate() by (service_name)""") +
      s"&start=${StartS}000000000&end=${EndS}000000000&step=6h")
    assert(c2 == 200)
    assert(m.startsWith("""{"series":["""), m.take(120))
    assert(m.contains(""""key":"service_name"""") &&
      m.contains(""""timestampMs":"""), m.take(300))
    // non-metrics q is rejected
    assert(get("/api/metrics/query_range?q=" +
      enc("""{ .name="purchase" }"""))._1 == 400)
  }

  test("robustness: execution errors return a 500 envelope (never a " +
      "dropped connection); non-GET/POST is 405; compound durations work; " +
      "value strings never go scientific") {
    // a matcher regex that PARSES but fails at execution (bad pattern
    // compiled into the plan) must still produce an HTTP envelope
    val (c1, b1) = get("/api/v1/query_range?query=" +
      enc("""events_value{event_type=~"("}""") +
      s"&start=$StartS&end=$EndS&step=6h")
    assert(c1 == 400 || c1 == 500, s"$c1")
    assert(b1.contains(""""status":"error""""), b1.take(200))
    // non-GET/POST methods are rejected, not silently executed
    val del = client.send(
      HttpRequest.newBuilder(URI.create(base + "/loki/api/v1/labels"))
        .method("DELETE", HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(del.statusCode() == 405, del.body().take(200))
    // Go-style compound durations parse (1h30m = 5400s steps)
    val (c2, b2) = get("/loki/api/v1/query_range?query=" +
      enc("""sum by (event_type) (count_over_time({event_type="signup"}[6h]))""") +
      s"&start=$StartS&end=$EndS&step=1h30m")
    assert(c2 == 200, b2.take(200))
    // wire values stay plain decimal at any magnitude
    assert(Json.num(1e15) == "1000000000000000")
    assert(Json.num(2.0e16) == "20000000000000000")
    assert(!Json.num(1.23e17).toLowerCase.contains("e"))
    // small magnitudes take the SHORTEST round-trip form, not the exact
    // binary expansion (a 6dp-rounded rate() sample must stay 8 chars)
    assert(Json.num(0.000046) == "0.000046")
    assert(Json.num(5e-20) == "0.00000000000000000005")
    // non-finite doubles render as quoted-context text, never a throw
    assert(Json.num(Double.NaN) == "NaN")
    assert(Json.num(Double.PositiveInfinity) == "+Inf")
    assert(Json.num(Double.NegativeInfinity) == "-Inf")
    // prom matcher semantics: a missing label equals "", so le!="" must
    // match NO events_value series (they carry no le label)
    val (c3, b3) = get("/api/v1/series?match%5B%5D=" +
      enc("""events_value{le!=""}"""))
    assert(c3 == 200 && b3 == """{"status":"success","data":[]}""", b3)
  }

  test("time parsing: RFC3339, float seconds, and ns forms agree") {
    def q(start: String, end: String) = get("/loki/api/v1/query_range" +
      "?query=" + enc("""{event_type="signup"}""") +
      s"&start=$start&end=$end&limit=3&direction=forward")._2
    val ns = q(s"${StartS}000000000", s"${EndS}000000000")
    val secs = q(StartS.toString, EndS.toString)
    val rfc = q("2024-01-01T00:00:00Z", "2024-01-31T00:00:00Z")
    val flt = q(s"$StartS.0", s"$EndS.0")
    assert(ns == secs && secs == rfc && rfc == flt)
    // numeric UTC offsets (upstream-accepted RFC3339 forms) parse too;
    // the + must be percent-encoded or it decodes as a space
    val off = q(enc("2024-01-01T02:00:00+02:00"), enc("2024-01-31T03:00:00+03:00"))
    assert(off == rfc)
  }

  test("POST form-encoded query routes dispatch like GET (Grafana's " +
      "long-query fallback); non-query POSTs stay 404") {
    def post(path: String, form: String): (Int, String) = {
      val res = client.send(
        HttpRequest.newBuilder(URI.create(base + path))
          .header("Content-Type", "application/x-www-form-urlencoded")
          .POST(HttpRequest.BodyPublishers.ofString(form)).build(),
        HttpResponse.BodyHandlers.ofString())
      (res.statusCode(), res.body())
    }
    val form = "query=" + enc("""sum by (event_type) (events_value{event_type="click"})""") +
      s"&start=$StartS&end=$EndS&step=21600"
    val viaPost = post("/api/v1/query_range", form)
    val viaGet = get("/api/v1/query_range?" + form)
    assert(viaPost == viaGet && viaPost._1 == 200)
    // body and query-string params merge (match[] split across both)
    val (cs, series) = post("/api/v1/series?match%5B%5D=" +
      enc("""events_total"""), "match%5B%5D=" + enc("""events_value"""))
    assert(cs == 200 && series.contains("events_total") &&
      series.contains("events_value"), series.take(300))
    assert(post("/api/v1/metadata", "")._1 == 404)
  }

  test("tenant-scoped WRITES: a push under X-Scope-OrgID lands in that " +
      "org's partitions (visible to it, hidden from others), other " +
      "sessions' cached readers see the append, rules CRUD is per-tenant") {
    val tmp = tempDataDir("graft-tpush")
    val srv = new Frontend(spark, tmp).start(0)
    try {
      val b = s"http://127.0.0.1:${srv.getAddress.getPort}"
      def send(method: String, pq: String, body: String,
          org: Option[String]): (Int, String) = {
        val rb = HttpRequest.newBuilder(URI.create(b + pq))
          .method(method, HttpRequest.BodyPublishers.ofString(body))
        org.foreach(o => rb.header("X-Scope-OrgID", o))
        val r = client.send(rb.build(), HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      def lines(org: Option[String]): Seq[String] = {
        val (_, body) = send("GET", "/loki/api/v1/query_range?query=" +
          enc("""{event_type="tpush"}""") +
          s"&start=${StartS}000000000&end=${EndS}000000000&limit=100", "", org)
        """\["\d{19}","([^"]*)"\]""".r.findAllMatchIn(body)
          .map(_.group(1)).toSeq
      }
      // warm the UNSCOPED session's reader cache before the tenant push:
      // the push must invalidate across sessions, not just its own
      assert(lines(None).isEmpty)
      val body =
        s"""{"streams":[{"stream":{"event_type":"tpush","level":"info"},
           |"values":[["${StartS + 100}000000000","tenant line"]]}]}"""
          .stripMargin.replace("\n", "")
      assert(send("POST", "/loki/api/v1/push", body,
        Some("alpha"))._1 == 204)
      // the pushing org reads its own data back; a different org cannot
      assert(lines(Some("alpha")) == Seq("tenant line"))
      assert(lines(Some("beta")).isEmpty)
      // the unscoped session (cached reader predates the push) sees it too
      assert(lines(None) == Seq("tenant line"))
      // rules CRUD is tenant-keyed: alpha's group is invisible to beta,
      // and beta's DELETE of the same namespace leaves alpha intact
      val yaml = "name: g1\ninterval: 1m\nrules:\n  - record: r1\n" +
        "    expr: \"vector(1)\"\n"
      assert(send("POST", "/loki/api/v1/rules/tns", yaml,
        Some("alpha"))._1 == 202)
      assert(send("GET", "/loki/api/v1/rules/tns", "",
        Some("alpha"))._1 == 200)
      assert(send("GET", "/loki/api/v1/rules/tns", "",
        Some("beta"))._1 == 404)
      assert(send("DELETE", "/loki/api/v1/rules/tns", "",
        Some("beta"))._1 == 202)
      assert(send("GET", "/loki/api/v1/rules/tns", "",
        Some("alpha"))._1 == 200)
    } finally srv.stop(0)
  }

  test("writer route aliases: every alternate spelling the writer " +
      "registers lands in the same decoders (remote-write spellings, " +
      "OTLP profiles, Datadog v2 series, /tempo/api/push, Elastic " +
      "_create + PUT _doc, health probes)") {
    val dir = tempDataDir("graft-alias")
    val tsNs = (StartS + 5000L) * 1000000000L
    val srv = new Frontend(spark, dir, nowNs = () => tsNs).start(0)
    try {
      val b = s"http://127.0.0.1:${srv.getAddress.getPort}"
      def get2(pq: String): (Int, String) = {
        val r = client.send(HttpRequest.newBuilder(URI.create(b + pq)).GET()
          .build(), HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      def send(method: String, path: String, body: Array[Byte]): (Int, String) = {
        val r = client.send(HttpRequest.newBuilder(URI.create(b + path))
          .method(method, HttpRequest.BodyPublishers.ofByteArray(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      def post(path: String, body: String): (Int, String) =
        send("POST", path, body.getBytes("UTF-8"))
      def instant(q: String): String =
        get2("/api/v1/query?query=" + enc(q) +
          s"&time=${tsNs / 1000000000L + 10}")._2
      def lokiLines(sel: String): Seq[String] = {
        val (_, body) = get2("/loki/api/v1/query_range?query=" + enc(sel) +
          s"&start=${StartS}000000000&end=${EndS}000000000&limit=100")
        """\["\d{19}","((?:[^"\\]|\\.)*)"\]""".r.findAllMatchIn(body)
          .map(_.group(1).replace("\\\"", "\"")).toSeq
      }

      // remote-write under the four alternate spellings (prom.go:9-14)
      for ((path, i) <- Seq("/api/prom/remote/write", "/prom/remote/write",
          "/v1/prom/remote/write", "/api/prom/push").zipWithIndex) {
        val rw = graft.ingest.PromRemoteWrite.encodeWriteRequest(Seq(
          (Map("__name__" -> s"rwalias_$i", "job" -> "alias"),
            Seq((tsNs / 1000000L, i + 1.0)))))
        assert(send("POST", path, rw)._1 == 204, path)
        assert(instant(s"""rwalias_$i{job="alias"}""")
          .contains("\"" + (i + 1)), path)
      }
      // the GET spelling of /prom/remote/write is the liveness probe
      assert(get2("/prom/remote/write") == (200, "OK"))
      assert(get2("/influx/health")._1 == 200)
      assert(get2("/influx/api/v2/write/health")._1 == 200)

      // OTLP profiles (the development signal): dictionary-table export
      val prof = graft.ingest.OtlpProfiles.encode("pushotlp", tsNs, Seq(
        (Seq("main", "work"), 100L), (Seq("main", "idle"), 50L)))
      assert(post("/v1development/profiles", prof)._1 == 200)
      val tree = graft.prof.Profiles.mergeTree(spark, dir, "pushotlp")
        .orderBy("fn").collect().map(r =>
          (r.getAs[String]("fn"), r.getAs[Long]("total"))).toSeq
      assert(tree == Seq(("idle", 50L), ("main", 150L), ("work", 100L)), tree)

      // Datadog v2 series: points as objects, resources label the series
      val ddv2 =
        s"""{"series":[{"metric":"ddv2_gauge","points":[
           |{"timestamp":${tsNs / 1000000000L},"value":3.25}],
           |"resources":[{"name":"h1","type":"host"}]}]}"""
          .stripMargin.replace("\n", "")
      val (dc, db) = post("/api/v2/series", ddv2)
      assert((dc, db) == (202, "{}"), s"$dc $db")
      assert(instant("""ddv2_gauge{resource1_name="h1"}""")
        .contains("\"3.25\""))

      // /tempo/api/push = the Zipkin handler (tempo.go:26)
      val zipkin =
        s"""[{"traceId":"00000000000000e1","id":"00000000000000e2",
           |"name":"tp-op","timestamp":${tsNs / 1000},"duration":1000,
           |"localEndpoint":{"serviceName":"tpsvc"},
           |"tags":{"zone":"tp1"}}]""".stripMargin.replace("\n", "")
      assert(post("/tempo/api/push", zipkin)._1 == 202)
      val (_, zk) = get2("/api/search?q=" + enc("""{ .zone="tp1" }""") +
        s"&start=${tsNs - 1}&end=${tsNs + 1000000}")
      assert(zk.contains("00000000000000e1"), zk.take(300))

      // Elastic _create + the PUT spelling of _doc (elastic.go:10-13)
      assert(post("/cidx/_create/1", """{"msg":"created doc"}""")._1 == 200)
      assert(lokiLines("""{_index="cidx"}""") == Seq("""{"msg":"created doc"}"""))
      assert(send("PUT", "/pidx/_doc/7",
        """{"msg":"put doc"}""".getBytes("UTF-8"))._1 == 200)
      assert(lokiLines("""{_index="pidx"}""") == Seq("""{"msg":"put doc"}"""))
    } finally srv.stop(0)
  }

  test("operational endpoints: /config literal, /metrics Prometheus " +
      "exposition, unversioned buildinfo, query_exemplars envelope, " +
      "legacy /label alias") {
    assert(get("/config") == (200, "Not supported"))
    val (mc, metrics) = get("/metrics")
    assert(mc == 200)
    assert(metrics.contains("# TYPE graft_http_requests_total counter"),
      metrics.take(300))
    assert(metrics.contains("jvm_memory_used_bytes "), metrics.take(600))
    assert("""graft_http_requests_total (\d+)""".r
      .findFirstMatchIn(metrics).get.group(1).toLong > 0)
    assert(get("/api/status/buildinfo") ==
      (200, """{"branch":"main","version":"0.0.1"}"""))
    // query_exemplars binds to the Metadata handler upstream
    // (prometheus_labels.go:23): same success envelope
    val (ec, ex) = get("/api/v1/query_exemplars?query=up")
    assert(ec == 200 && ex.startsWith("""{"status":"success","data":"""),
      ex.take(120))
    assert(ex == get("/api/v1/metadata")._2)
    // /label is the legacy alias of /labels
    assert(get(s"/loki/api/v1/label?start=$StartS&end=$EndS") ==
      get(s"/loki/api/v1/labels?start=$StartS&end=$EndS"))
  }

  test("/metrics exports Spark's codegen compile count as a counter that " +
      "does not decrease across a query") {
    val count = """(?m)^graft_spark_codegen_compiles_total (\d+)$""".r
    def scrape(): Long = {
      val (c, body) = get("/metrics")
      assert(c == 200)
      assert(body.contains("# TYPE graft_spark_codegen_compiles_total counter"),
        body.take(300))
      count.findFirstMatchIn(body).get.group(1).toLong
    }
    val before = scrape()
    val (qc, _) = get("/loki/api/v1/query_range?query=" +
      enc("""sum by (level) (count_over_time({level="info"}[1h]))""") +
      s"&start=$StartS&end=$EndS&step=3600")
    assert(qc == 200)
    val after = scrape()
    assert(after >= before, s"$before -> $after")
  }

  test("long-poll tail pages through a burst losslessly: oldest `limit` " +
      "served per poll, nothing skipped, cursor re-polls collect every entry") {
    val tmp = tempDataDir("graft-drop")
    val srv = new Frontend(spark, tmp,
      nowNs = () => EndS * 1000000000L).start(0)
    try {
      val b = s"http://127.0.0.1:${srv.getAddress.getPort}"
      val values = (1 to 8).map(i =>
        s"""["${(StartS + 100 * i)}000000000","drop line $i"]""")
        .mkString(",")
      val push = client.send(
        HttpRequest.newBuilder(URI.create(b + "/loki/api/v1/push"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"streams":[{"stream":{"event_type":"droppush"},"values":[$values]}]}"""))
          .build(), HttpResponse.BodyHandlers.ofString())
      assert(push.statusCode() == 204)
      def poll(startNs: Long): (Seq[(Long, String)], String) = {
        val r = client.send(HttpRequest.newBuilder(URI.create(
          b + "/loki/api/v1/tail?query=" + enc("""{event_type="droppush"}""") +
            s"&start=$startNs&limit=3")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 200)
        val got = """\["(\d{19})","(drop line \d)"\]""".r
          .findAllMatchIn(r.body())
          .map(m => (m.group(1).toLong, m.group(2))).toSeq
        (got, r.body())
      }
      // the long-poll client re-polls with the advanced cursor, so each
      // poll serves the OLDEST `limit` entries and skips nothing — paging
      // through the burst is lossless and dropped_entries stays empty
      // (the newest-first skip semantics live on the WebSocket loop only)
      var cursor = StartS * 1000000000L
      val collected = scala.collection.mutable.ArrayBuffer[String]()
      for (_ <- 1 to 3) {
        val (got, body) = poll(cursor)
        assert(got.size <= 3)
        assert(body.contains(""""dropped_entries":[]"""), body.take(300))
        collected ++= got.map(_._2)
        if (got.nonEmpty) cursor = got.map(_._1).max + 1
      }
      assert(collected.toSeq == (1 to 8).map(i => s"drop line $i"), collected)
    } finally srv.stop(0)
  }

  test("websocket tail keeps upstream's newest-first per-tick truncation, " +
      "accounting the skipped older entries as dropped_entries") {
    val tmp = tempDataDir("graft-wsdrop")
    val srv = new Frontend(spark, tmp,
      nowNs = () => EndS * 1000000000L).start(0, tailTickMs = 150)
    try {
      val port = srv.getAddress.getPort
      val values = (1 to 8).map(i =>
        s"""["${(StartS + 100 * i)}000000000","wsdrop line $i"]""")
        .mkString(",")
      val push = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/loki/api/v1/push"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"streams":[{"stream":{"event_type":"wsdrop"},"values":[$values]}]}"""))
          .build(), HttpResponse.BodyHandlers.ofString())
      assert(push.statusCode() == 204)
      val (sock, in, out) = wsConnect(port,
        "query=" + enc("""{event_type="wsdrop"}""") +
          s"&start=${StartS}000000000&limit=3")
      try {
        val (op, frame) = wsReadFrame(in)
        assert(op == 1)
        val streamsPart = frame.substring(0, frame.indexOf("dropped_entries"))
        def lines(s: String): Seq[String] =
          """wsdrop line (\d)""".r.findAllMatchIn(s).map(_.group(1)).toSeq
        // newest 3 served (upstream's DESC per-tick truncation) ...
        assert(lines(streamsPart).toSet == Set("6", "7", "8"), frame.take(400))
        // ... and the 5 older ones REPORTED with labels + timestamp
        val dropped =
          """\{"labels":\{"event_type":"wsdrop"\},"timestamp":"(\d{19})"\}""".r
            .findAllMatchIn(frame).map(_.group(1).toLong).toSeq
        assert(dropped.toSet ==
          (1 to 5).map(i => (StartS + 100 * i) * 1000000000L).toSet, frame.take(600))
        wsWriteMasked(out, 0x8, Array.emptyByteArray)
      } finally sock.close()
    } finally srv.stop(0)
  }

  test("raw server under concurrent clients: parallel keep-alive " +
      "request streams all get well-formed responses") {
    val ex = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = (1 to 8).map { _ =>
        ex.submit(new java.util.concurrent.Callable[Seq[(Int, String)]] {
          def call(): Seq[(Int, String)] = {
            val c = HttpClient.newHttpClient() // own connection per worker
            (1 to 20).map { i =>
              val pq = if (i % 3 == 0) "/ready"
                else if (i % 3 == 1) s"/loki/api/v1/labels?start=$StartS&end=$EndS"
                else "/api/v1/labels"
              val r = c.send(HttpRequest.newBuilder(
                URI.create(base + pq)).GET().build(),
                HttpResponse.BodyHandlers.ofString())
              (r.statusCode(), r.body())
            }
          }
        })
      }
      for (t <- tasks; (code, body) <- t.get()) {
        assert(code == 200, body.take(120))
        assert(body.startsWith("\"") || body.startsWith("{"), body.take(80))
      }
    } finally { ex.shutdownNow(); () }
  }

  test("websocket tail: RFC 6455 upgrade on the shared port, one Loki " +
      "tail frame per tick with an advancing cursor, ping/pong, clean close") {
    val tmp = tempDataDir("graft-ws")
    val srv = new Frontend(spark, tmp,
      nowNs = () => EndS * 1000000000L).start(0, tailTickMs = 150)
    try {
      val port = srv.getAddress.getPort
      // seed two entries via the PLAIN HTTP push route on the same server
      def push(tsNs: Long, line: String): Int =
        client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/loki/api/v1/push"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"streams":[{"stream":{"event_type":"wstail"},"values":[["$tsNs","$line"]]}]}"""))
          .build(), HttpResponse.BodyHandlers.ofString()).statusCode()
      val t1 = (StartS + 100) * 1000000000L
      assert(push(t1, "ws one") == 204)

      val sock = new java.net.Socket("127.0.0.1", port)
      sock.setSoTimeout(20000)
      val out = sock.getOutputStream
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      val wsKey = java.util.Base64.getEncoder.encodeToString(
        Array.tabulate[Byte](16)(_.toByte))
      out.write((s"GET /loki/api/v1/tail?query=" +
        enc("""{event_type="wstail"}""") + s"&start=$t1" +
        " HTTP/1.1\r\nHost: x\r\nUpgrade: websocket\r\n" +
        "Connection: Upgrade\r\nSec-WebSocket-Key: " + wsKey +
        "\r\nSec-WebSocket-Version: 13\r\n\r\n").getBytes("UTF-8"))
      out.flush()
      def line(): String = {
        val sb = new StringBuilder
        var c = in.read()
        while (c >= 0 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
        sb.toString
      }
      val status = line()
      assert(status == "HTTP/1.1 101 Switching Protocols", status)
      val hdrs = Iterator.continually(line()).takeWhile(_.nonEmpty).toSeq
      val expectKey = java.util.Base64.getEncoder.encodeToString(
        java.security.MessageDigest.getInstance("SHA-1").digest(
          (wsKey + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").getBytes("UTF-8")))
      assert(hdrs.exists(_ == s"Sec-WebSocket-Accept: $expectKey"), hdrs)
      // server frames: unmasked text, tail JSON per tick
      def readFrame(): (Int, String) = {
        val b0 = in.read(); val b1 = in.read()
        assert((b1 & 0x80) == 0) // server→client unmasked
        var len: Long = b1 & 0x7f
        if (len == 126) len = (in.read().toLong << 8) | in.read()
        else if (len == 127) { len = 0; for (_ <- 0 until 8) len = (len << 8) | in.read() }
        val buf = new Array[Byte](len.toInt)
        var off = 0
        while (off < buf.length) {
          val r = in.read(buf, off, buf.length - off); assert(r > 0); off += r
        }
        (b0 & 0x0f, new String(buf, "UTF-8"))
      }
      val (op1, f1) = readFrame()
      assert(op1 == 1)
      assert(f1.contains("ws one") && f1.contains(""""dropped_entries":[]"""),
        f1.take(300))
      // cursor advanced: the next tick must NOT repeat "ws one"
      val (_, f2) = readFrame()
      assert(!f2.contains("ws one"), f2.take(200))
      // a new push appears in a later tick
      val t2 = (StartS + 200) * 1000000000L
      assert(push(t2, "ws two") == 204)
      val frames = Iterator.continually(readFrame()._2).take(8).toSeq
      assert(frames.exists(_.contains("ws two")), frames.last.take(200))
      assert(frames.forall(!_.contains("ws one")))
      // a >64 KiB line forces the 8-byte extended-length frame encoding
      val bigLine = "B" * 70000
      val t3 = (StartS + 300) * 1000000000L
      assert(push(t3, bigLine) == 204)
      val bigFrame = Iterator.continually(readFrame()._2).take(8)
        .find(_.length > 65535)
      assert(bigFrame.exists(_.contains(bigLine)), bigFrame.map(_.take(80)))
      // client ping (masked) → pong with same payload
      def writeMasked(opcode: Int, payload: Array[Byte]): Unit = {
        out.write(0x80 | opcode)
        out.write(0x80 | payload.length)
        val mask = Array[Byte](1, 2, 3, 4)
        out.write(mask)
        out.write(payload.zipWithIndex.map { case (b, i) =>
          (b ^ mask(i & 3)).toByte })
        out.flush()
      }
      writeMasked(0x9, "hb".getBytes("UTF-8"))
      val pong = Iterator.continually(readFrame()).take(8)
        .find(_._1 == 0xA)
      assert(pong.exists(_._2 == "hb"), pong)
      // client close → server echoes close
      writeMasked(0x8, Array.emptyByteArray)
      val closed = Iterator.continually(readFrame()).take(8)
        .find(_._1 == 0x8)
      assert(closed.isDefined)
      sock.close()
    } finally srv.stop(0)
  }

  test("maintenance timer compacts accumulated push files in the " +
      "background without changing query results") {
    val tmp = tempDataDir("graft-mtimer")
    val fe = new Frontend(spark, tmp)
    // 4 pushes into one (oid, date) leaf = 4 part-files (one per push)
    for (i <- 1 to 4)
      assert(fe.route("/loki/api/v1/push", Params(), "POST",
        s"""{"streams":[{"stream":{"event_type":"mtimer"},
           |"values":[["${StartS + i}000000000","timer line $i"]]}]}"""
          .stripMargin.replace("\n", "")).status == 204)
    val root = graft.store.Store.ensure(spark, tmp)
    def leafFiles(): Int = {
      def walk(f: java.io.File): Seq[java.io.File] = {
        val kids = Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        val dirs = kids.filter(_.isDirectory)
        if (dirs.isEmpty) Seq(f) else dirs.toSeq.flatMap(walk)
      }
      walk(new java.io.File(s"$root/samples")).map(l =>
        Option(l.listFiles()).getOrElse(Array.empty[java.io.File])
          .count(_.getName.endsWith(".parquet"))).max
    }
    assert(leafFiles() >= 4)
    def lines(): Seq[String] = {
      val body = fe.route("/loki/api/v1/query_range", Params(
        "query" -> """{event_type="mtimer"}""",
        "start" -> s"${StartS}000000000", "end" -> s"${EndS}000000000",
        "limit" -> "10")).body
      """timer line (\d)""".r.findAllMatchIn(body).map(_.group(1)).toSeq.sorted
    }
    assert(lines() == Seq("1", "2", "3", "4"))
    def metric(name: String): Double =
      s"(?m)^$name (\\S+)$$".r.findFirstMatchIn(
        fe.route("/metrics", Params()).body).get.group(1).toDouble
    val timer = fe.startMaintenance(intervalS = 1, maxFiles = 2)
    try {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (leafFiles() > 2 && System.nanoTime() < deadline)
        Thread.sleep(250)
      assert(leafFiles() <= 2, s"not compacted: ${leafFiles()} files")
      assert(lines() == Seq("1", "2", "3", "4")) // results unchanged
      // keep querying across further timer ticks, as a live deployment
      // does: every answer must equal the pre-timer one
      val hammerEnd = System.nanoTime() + 3L * 1000000000L
      var answers = 0
      while (System.nanoTime() < hammerEnd) {
        assert(lines() == Seq("1", "2", "3", "4"), s"after $answers answers")
        answers += 1
      }
    } finally { timer.shutdownNow(); () }
    assert(metric("graft_maintenance_runs_total") >= 1)
    assert(metric("graft_maintenance_failures_total") == 0)
    assert(metric("graft_maintenance_last_duration_seconds") > 0)
    // a pass that fails (a dir with no inputs cannot build its store)
    // moves the failure counter and keeps the timer running
    val broken = new Frontend(spark, tempDataDir("graft-mfail", None))
    def brokenMetric(name: String): Double =
      s"(?m)^$name (\\S+)$$".r.findFirstMatchIn(
        broken.route("/metrics", Params()).body).get.group(1).toDouble
    val failing = broken.startMaintenance(intervalS = 1)
    try {
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (brokenMetric("graft_maintenance_runs_total") < 2 &&
          System.nanoTime() < deadline)
        Thread.sleep(100)
    } finally { failing.shutdownNow(); () }
    assert(brokenMetric("graft_maintenance_runs_total") >= 2)
    assert(brokenMetric("graft_maintenance_failures_total") ==
      brokenMetric("graft_maintenance_runs_total"))
  }

  test("ruler timer: a rule group posted over HTTP evaluates on the " +
      "background loop and its recorded family becomes queryable") {
    val dir = tempDataDir("graft-rtimer")
    // frozen clock: the first poll's tick is due, every later poll's
    // bucket is unchanged — exactly ONE evaluation, deterministically
    val fe = new Frontend(spark, dir, nowNs = () => EndS * 1000000000L)
    assert(fe.route(s"/loki/api/v1/rules/rtimer", Params(), "POST",
      s"""name: g1
         |interval: 1m
         |rules:
         |  - record: timer:clicks:count
         |    expr: "sum(count_over_time({event_type=\\"click\\"}[24h]))"
         |""".stripMargin).status == 202)
    val timer = fe.startRuler(pollS = 1)
    try {
      val deadline = System.nanoTime() + 60L * 1000000000L
      def recorded() = graft.store.Store.promMetric(spark, dir,
        "timer:clicks:count", 0, Long.MaxValue).count()
      while (recorded() == 0 && System.nanoTime() < deadline)
        Thread.sleep(250)
      assert(recorded() == 1L, s"recorded=${recorded()}")
      Thread.sleep(1500) // more polls with a frozen clock: still one point
      assert(recorded() == 1L)
      val health = graft.streaming.Rules.listRules(spark, dir, "loki")
        .select("rule_name", "health").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(health.get("timer:clicks:count").contains("ok"), health)
    } finally { timer.shutdownNow(); () }
  }

  test("tenant session cache is LRU-bounded and garbage org ids are " +
      "rejected before creating a session") {
    val fe = new Frontend(spark, sf)
    for (i <- 1 to 70)
      assert(fe.route("/ready", Params(), org = Some(s"lru$i")).status == 200)
    assert(fe.tenantSessionCount <= 64, fe.tenantSessionCount)
    // an evicted tenant still answers (session rebuilt transparently)
    assert(fe.route("/ready", Params(), org = Some("lru1")).status == 200)
    // structural garbage: path separators, control chars, oversized ids
    for (bad <- Seq("../evil", "a/b", "a\\b", "with space", "x" * 129, ""))
      assert(fe.route("/ready", Params(), org = Some(bad)).status == 400, bad)
    assert(fe.tenantSessionCount <= 64)
  }

  test("request bounds: oversize Content-Length is 413, oversize header " +
      "is 431 — rejected from the headers alone, nothing buffered") {
    // raw socket: the JDK client won't send these frames
    def rawRequest(req: String): String = {
      val sock = new java.net.Socket("127.0.0.1", server.getAddress.getPort)
      try {
        sock.setSoTimeout(20000)
        sock.getOutputStream.write(req.getBytes("UTF-8"))
        sock.getOutputStream.flush()
        rawLine(sock.getInputStream)
      } finally sock.close()
    }
    // forged 2 GB Content-Length with NO body: must answer 413 immediately
    // instead of pre-allocating the declared size
    val s413 = rawRequest("POST /loki/api/v1/push HTTP/1.1\r\nHost: x\r\n" +
      "Content-Length: 2000000000\r\n\r\n")
    assert(s413 == "HTTP/1.1 413 Payload Too Large", s413)
    val s431 = rawRequest("GET /ready HTTP/1.1\r\nHost: x\r\n" +
      "X-Junk: " + ("j" * 20000) + "\r\n\r\n")
    assert(s431 == "HTTP/1.1 431 Request Header Fields Too Large", s431)
    // an endless header stream is cut off by the line-count bound
    val manyHeaders = (1 to 300).map(i => s"X-H$i: v").mkString("\r\n")
    val sMany = rawRequest(s"GET /ready HTTP/1.1\r\nHost: x\r\n$manyHeaders\r\n\r\n")
    assert(sMany == "HTTP/1.1 431 Request Header Fields Too Large", sMany)
  }

  test("connection cap: over-capacity connections are shed with 503 " +
      "instead of queueing; capacity frees when a connection closes") {
    val srv = new Frontend(spark, sf).start(0, maxConnections = 2)
    try {
      val port = srv.getAddress.getPort
      // two idle keep-alive connections occupy the capacity
      val idle = (1 to 2).map { _ =>
        val s = new java.net.Socket("127.0.0.1", port)
        s.getOutputStream.write("GET /ready HTTP/1.1\r\nHost: x\r\n\r\n".getBytes("UTF-8"))
        s.getOutputStream.flush()
        // drain the response so the handler is parked reading the NEXT request
        val in = s.getInputStream
        assert(rawLine(in) == "HTTP/1.1 200 OK")
        var cl = 0
        Iterator.continually(rawLine(in)).takeWhile(_.nonEmpty).foreach { h =>
          if (h.toLowerCase.startsWith("content-length:")) cl = h.split(":")(1).trim.toInt
        }
        val body = new Array[Byte](cl)
        var off = 0
        while (off < cl) { val r = in.read(body, off, cl - off); assert(r > 0); off += r }
        s
      }
      try {
        val s3 = new java.net.Socket("127.0.0.1", port)
        try {
          s3.setSoTimeout(20000)
          s3.getOutputStream.write("GET /ready HTTP/1.1\r\nHost: x\r\n\r\n".getBytes("UTF-8"))
          s3.getOutputStream.flush()
          val status = rawLine(s3.getInputStream)
          assert(status == "HTTP/1.1 503 Service Unavailable", status)
        } finally s3.close()
        // closing one admitted connection frees a slot
        idle.head.close()
        val deadline = System.nanoTime() + 20L * 1000000000L
        var recovered = false
        while (!recovered && System.nanoTime() < deadline) {
          val s4 = new java.net.Socket("127.0.0.1", port)
          try {
            s4.setSoTimeout(20000)
            s4.getOutputStream.write(
              "GET /ready HTTP/1.1\r\nHost: x\r\nConnection: close\r\n\r\n".getBytes("UTF-8"))
            s4.getOutputStream.flush()
            recovered = rawLine(s4.getInputStream) == "HTTP/1.1 200 OK"
          } finally s4.close()
          if (!recovered) Thread.sleep(100)
        }
        assert(recovered, "slot never freed after closing an admitted connection")
      } finally idle.foreach(s => try s.close() catch { case _: Throwable => () })
    } finally srv.stop(0)
  }

  test("websocket tail validates the query BEFORE the 101 handshake: " +
      "missing or unparseable queries fail as plain HTTP 400") {
    val port = server.getAddress.getPort
    def upgradeStatus(query: String): String = {
      val sock = new java.net.Socket("127.0.0.1", port)
      try {
        sock.setSoTimeout(20000)
        val wsKey = java.util.Base64.getEncoder.encodeToString(
          Array.tabulate[Byte](16)(_.toByte))
        sock.getOutputStream.write((s"GET /loki/api/v1/tail$query HTTP/1.1\r\n" +
          "Host: x\r\nUpgrade: websocket\r\nConnection: Upgrade\r\n" +
          s"Sec-WebSocket-Key: $wsKey\r\nSec-WebSocket-Version: 13\r\n\r\n")
          .getBytes("UTF-8"))
        sock.getOutputStream.flush()
        rawLine(sock.getInputStream)
      } finally sock.close()
    }
    assert(upgradeStatus("") == "HTTP/1.1 400 Bad Request")
    assert(upgradeStatus("?query=" + enc("{unclosed")) ==
      "HTTP/1.1 400 Bad Request")
  }

  test("websocket tail survives fragmented client messages and closes " +
      "1002 on a continuation without an open message") {
    val port = server.getAddress.getPort
    val q = "query=" + enc("""{event_type="signup"}""") +
      s"&start=${StartS}000000000"
    // fragmented 2-frame text message: tolerated (tail has no client
    // payload), ticks keep flowing
    val (sock, in, out) = wsConnect(port, q)
    try {
      wsWriteMasked(out, 0x1, "hel".getBytes("UTF-8"), fin = false)
      wsWriteMasked(out, 0x0, "lo".getBytes("UTF-8"), fin = true)
      val (op, frame) = wsReadFrame(in)
      assert(op == 1 && frame.contains("streams"), s"$op ${frame.take(120)}")
      wsWriteMasked(out, 0x8, Array.emptyByteArray)
      val closed = Iterator.continually(wsReadFrame(in)).take(8).find(_._1 == 0x8)
      assert(closed.isDefined)
    } finally sock.close()
    // a bare continuation frame is a protocol error: close code 1002
    val (sock2, in2, out2) = wsConnect(port, q)
    try {
      wsWriteMasked(out2, 0x0, "orphan".getBytes("UTF-8"), fin = true)
      val closed = Iterator.continually(wsReadFrameBytes(in2)).take(8)
        .find(_._1 == 0x8)
      assert(closed.isDefined, "no close frame")
      val code = ((closed.get._2(0).toInt & 0xff) << 8) |
        (closed.get._2(1).toInt & 0xff)
      assert(code == 1002, s"close code $code")
    } finally sock2.close()
    // an UNMASKED client frame is a protocol error too (RFC 6455 §5.1)
    val (sock3, in3, out3) = wsConnect(port, q)
    try {
      out3.write(Array(0x81.toByte, 0x02.toByte, 'h'.toByte, 'i'.toByte))
      out3.flush()
      val closed = Iterator.continually(wsReadFrameBytes(in3)).take(8)
        .find(_._1 == 0x8)
      assert(closed.isDefined, "no close frame for unmasked client frame")
      val code = ((closed.get._2(0).toInt & 0xff) << 8) |
        (closed.get._2(1).toInt & 0xff)
      assert(code == 1002, s"close code $code")
    } finally sock3.close()
  }

  test("websocket tail closes 1002 when a client stalls mid-frame — a " +
      "tick timeout after partial header bytes must not pace (resuming " +
      "the read loop mid-frame would desynchronize the stream)") {
    val s2 = new Frontend(spark, sf,
      nowNs = () => EndS * 1000000000L).start(0, tailTickMs = 150)
    try {
      val port = s2.getAddress.getPort
      val q = "query=" + enc("""{event_type="signup"}""") +
        s"&start=${StartS}000000000"
      val (sock, in, out) = wsConnect(port, q)
      try {
        out.write(0x81) // first header byte of a masked text frame…
        out.flush()     // …then stall past the tick interval
        val closed = Iterator.continually(wsReadFrameBytes(in)).take(30)
          .find(_._1 == 0x8)
        assert(closed.isDefined, "no close frame for a mid-frame stall")
        val code = ((closed.get._2(0).toInt & 0xff) << 8) |
          (closed.get._2(1).toInt & 0xff)
        assert(code == 1002, s"close code $code")
      } finally sock.close()
    } finally s2.stop(0)
  }

  // ---- raw WebSocket client helpers ------------------------------------------

  /** Open a WebSocket tail on `port` with the given query string; returns
    * (socket, in, out) positioned after a VERIFIED 101 handshake.
    */
  private def wsConnect(port: Int, query: String)
      : (java.net.Socket, java.io.BufferedInputStream, java.io.OutputStream) = {
    val sock = new java.net.Socket("127.0.0.1", port)
    sock.setSoTimeout(20000)
    val out = sock.getOutputStream
    val in = new java.io.BufferedInputStream(sock.getInputStream)
    val wsKey = java.util.Base64.getEncoder.encodeToString(
      Array.tabulate[Byte](16)(_.toByte))
    out.write((s"GET /loki/api/v1/tail?$query HTTP/1.1\r\nHost: x\r\n" +
      "Upgrade: websocket\r\nConnection: Upgrade\r\nSec-WebSocket-Key: " +
      wsKey + "\r\nSec-WebSocket-Version: 13\r\n\r\n").getBytes("UTF-8"))
    out.flush()
    val status = rawLine(in)
    assert(status == "HTTP/1.1 101 Switching Protocols", status)
    Iterator.continually(rawLine(in)).takeWhile(_.nonEmpty).foreach(_ => ())
    (sock, in, out)
  }

  private def rawLine(in: java.io.InputStream): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c >= 0 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
    sb.toString
  }

  /** One server frame: (opcode, raw payload). */
  private def wsReadFrameBytes(in: java.io.InputStream): (Int, Array[Byte]) = {
    val b0 = in.read(); val b1 = in.read()
    assert(b0 >= 0 && b1 >= 0, "ws closed")
    var len: Long = b1 & 0x7f
    if (len == 126) len = (in.read().toLong << 8) | in.read()
    else if (len == 127) { len = 0; for (_ <- 0 until 8) len = (len << 8) | in.read() }
    val buf = new Array[Byte](len.toInt)
    var off = 0
    while (off < buf.length) {
      val r = in.read(buf, off, buf.length - off); assert(r > 0); off += r
    }
    (b0 & 0x0f, buf)
  }

  /** One server frame: (opcode, payload-as-UTF8). */
  private def wsReadFrame(in: java.io.InputStream): (Int, String) = {
    val (op, buf) = wsReadFrameBytes(in)
    (op, new String(buf, "UTF-8"))
  }

  /** One masked client frame (client→server frames must be masked). */
  private def wsWriteMasked(out: java.io.OutputStream, opcode: Int,
      payload: Array[Byte], fin: Boolean = true): Unit = {
    out.write((if (fin) 0x80 else 0x00) | opcode)
    if (payload.length <= 125) out.write(0x80 | payload.length)
    else { out.write(0x80 | 126); out.write(payload.length >> 8); out.write(payload.length & 0xff) }
    val mask = Array[Byte](1, 2, 3, 4)
    out.write(mask)
    out.write(payload.zipWithIndex.map { case (b, i) => (b ^ mask(i & 3)).toByte })
    out.flush()
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)
}
