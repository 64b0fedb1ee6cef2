package graft.logql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{MapType, StringType}

import graft.model.Tables
import LogQLAst._

/** Evaluation window: LogQL range queries evaluate at each step over a
  * lookback of `range`; timestamps are ns since epoch.
  */
final case class EvalParams(startNs: Long, endNs: Long, stepS: Long)

/** LogQL → DataFrame compiler.
  *
  * Where the reference splits execution between generated ClickHouse SQL
  * (`reader/logql/logql_transpiler/clickhouse_planner/`) and a Go channel
  * pipeline (`internal/planner/`), everything here compiles into ONE
  * declarative Spark plan: Catalyst gets the whole query, so predicate
  * pushdown / column pruning / partial aggregation reach the parquet scan
  * with no hand-scheduling, and there is a single implementation per
  * operator instead of the reference's SQL+Go pair.
  *
  * Canonical intermediate schemas:
  *   log stream  — (timestamp_ns L, fingerprint L, labels M, line S, value D)
  *   metric      — (ts L [epoch sec], fingerprint L, labels M, value D)
  *
  * Grid semantics: eval bucket labeled `t` aggregates the window
  * [t+step-range, t+step) — i.e. a lookback of `range` ending at the bucket
  * end. With range == step this is exactly the tumbling bucket [t, t+step);
  * with range > step each sample lands in range/step consecutive buckets.
  * (Labels are bucket-START aligned; Prometheus's end-labeled eval at t
  * corresponds to our bucket t-step.)
  */
class LogQLCompiler(spark: SparkSession, dir: String, params: EvalParams) {

  private val stepNs = params.stepS * 1000000000L

  def compile(q: String): DataFrame = compileExpr(LogQLParser.parseOrThrow(q))

  def compileExpr(e: Expr): DataFrame = e match {
    case LogExpr(sel, stages) =>
      compileLog(sel, stages)
        .select(col("timestamp_ns"), col("labels"), col("line"))
    case other => compileMetric(other)
  }

  /** Log query with API-level direction + limit, as the reference's
    * MainOrderByPlanner/MainLimitPlanner apply them
    * (`planner_main_order_by.go:13`, `planner_main_limit.go:12`) — part of
    * the compiled plan (Spark pushes the sort+limit into a TakeOrderedAndProject,
    * so a `limit 100` never materializes the full stream).
    */
  def compileLogQuery(q: String, limit: Option[Int] = None,
      forward: Boolean = true): DataFrame = {
    val (sel, stages) = LogQLParser.parseOrThrow(q) match {
      case LogExpr(s, st) => (s, st)
      case other => throw new IllegalArgumentException(s"not a log query: $other")
    }
    val df = compileLog(sel, stages)
    val ordered =
      if (forward) df.orderBy(col("timestamp_ns").asc, col("line").asc)
      else df.orderBy(col("timestamp_ns").desc, col("line").desc)
    limit.fold(ordered)(ordered.limit)
  }

  // --- log pipeline ------------------------------------------------------

  /** Selector matcher → predicate over the labels map.
    * Reference does this via the GIN inverted index + groupBitOr bitmask
    * (`planner_stream_select.go:21-142`) because labels are a JSON string
    * in ClickHouse; with a native map column a direct filter is both
    * simpler and pushdown-friendly. At 100 TB the same predicate runs
    * against the (small) series dictionary and semi-joins the fact table
    * on fingerprint — see [[compileLog]].
    *
    * Null semantics: an absent label behaves as the empty string (Loki:
    * `{l=~".*"}` matches streams without `l`), hence the coalesce on the
    * regex ops and the explicit empty-value branches.
    */
  // shared with the streaming live-tail path — see LogQLPredicates
  private def matcherCond(m: LabelMatcher): Column = LogQLPredicates.matcherCond(m)
  private def predCond(p: LabelPred): Column = LogQLPredicates.predCond(p)
  private def lineFilterCond(f: LineFilter): Column = LogQLPredicates.lineFilterCond(f)

  /** Compile the Go-template subset the reference supports — field refs
    * plus the whitelisted pipe functions (`shared/template_funcs.go:29-101`
    * / sprig subset): `{{ .label | lower | trunc 3 }}` etc. Each pipe maps
    * to a codegen'd builtin; unknown functions are rejected at compile
    * time.
    */
  /** Go reference-time layout → java.time pattern (the token subset that
    * appears in dashboards: date, clock, month/day names, millis, zone).
    */
  private def goLayout(l: String): String =
    Seq("2006" -> "yyyy", "Jan" -> "MMM", "Mon" -> "EEE", "01" -> "MM",
      "02" -> "dd", "15" -> "HH", "04" -> "mm", "05" -> "ss",
      ".000" -> ".SSS", "-07:00" -> "XXX", "Z07:00" -> "XXX")
      .foldLeft(l) { case (s, (go, j)) => s.replace(go, j) }

  private def templateCol(tpl: String): Column = {
    val re = ("\\{\\{\\s*\\.?(?!(?:if|else|end|range)\\b)([a-zA-Z_][a-zA-Z0-9_]*)" +
      "((?:\\s*\\|\\s*[a-zA-Z_0-9]+(?:\\s+(?:\"[^\"]*\"|-?[0-9]+))*)*)\\s*\\}\\}").r
    val pipeRe = "\\|\\s*([a-zA-Z_0-9]+)((?:\\s+(?:\"[^\"]*\"|-?[0-9]+))*)".r
    val argRe = "\"([^\"]*)\"|(-?[0-9]+)".r

    // integer-exact string rendering of a numeric column (Go prints
    // float64 90 as "90", not "90.0")
    def numStr(v: Column): Column =
      when(v === floor(v), v.cast("long").cast("string"))
        .otherwise(v.cast("string"))

    def applyPipes(base: Column, pipes: String): Column =
      pipeRe.findAllMatchIn(pipes).foldLeft(base) { (c, m) =>
        val fn = m.group(1)
        val args = argRe.findAllMatchIn(m.group(2)).map { a =>
          Option(a.group(1)).getOrElse(a.group(2))
        }.toSeq
        (fn, args) match {
          case ("lower", Nil)            => lower(c)
          case ("upper", Nil)            => upper(c)
          case ("title", Nil)            => initcap(c)
          case ("trim", Nil)             => trim(c)
          case ("trunc", Seq(n))         => substring(c, 1, n.toInt)
          case ("substr", Seq(a, b))     => // sprig substr start end (0-based)
            substring(c, a.toInt + 1, b.toInt - a.toInt)
          case ("replace", Seq(o, n))    => regexp_replace(c, java.util.regex.Pattern.quote(o), n)
          case ("trimPrefix", Seq(p))    =>
            when(c.startsWith(p), c.substr(lit(p.length + 1), length(c))).otherwise(c)
          case ("trimSuffix", Seq(s))    =>
            when(c.endsWith(s), c.substr(lit(1), length(c) - s.length)).otherwise(c)
          case ("trimAll", Seq(s))       => trim(c, s)
          case ("regexReplaceAll", Seq(r, n)) => regexp_replace(c, r, n)
          case ("regexReplaceAllLiteral", Seq(r, n)) =>
            regexp_replace(c, r, java.util.regex.Matcher.quoteReplacement(n))
          case ("b64enc", Nil)           => base64(encode(c, "UTF-8"))
          case ("b64dec", Nil)           => decode(unbase64(c), "UTF-8")
          case ("urlencode", Nil)        => url_encode(c)
          case ("urldecode", Nil)        => url_decode(c)
          case ("len", Nil)              => length(c).cast("string")
          case ("repeat", Seq(n))        => repeat(c, n.toInt)
          case ("indent", Seq(n))        => regexp_replace(c, "(?m)^", " " * n.toInt)
          case ("nindent", Seq(n))       =>
            concat(lit("\n"), regexp_replace(c, "(?m)^", " " * n.toInt))
          case ("default", Seq(d))       => when(c.isNull || c === "", d).otherwise(c)
          // integer arithmetic (sprig add/sub/mul/div/mod over int64)
          case ("add", Seq(n))           => (c.cast("long") + n.toLong).cast("string")
          case ("sub", Seq(n))           => (c.cast("long") - n.toLong).cast("string")
          case ("mul", Seq(n))           => (c.cast("long") * n.toLong).cast("string")
          case (("div" | "divide"), Seq(n)) =>
            (c.cast("long") / n.toLong).cast("long").cast("string")
          case ("mod", Seq(n))           => pmod(c.cast("long"), lit(n.toLong)).cast("string")
          case ("int", Nil)              => c.cast("double").cast("long").cast("string")
          case ("float64", Nil)          => numStr(c.cast("double"))
          // time chain: toDate parses (typed Column flows through the
          // pipes), date formats, unixEpoch extracts epoch seconds
          case ("toDate", Seq(layout))   => to_timestamp(c, goLayout(layout))
          case ("date", Seq(layout))     => date_format(c, goLayout(layout))
          case ("unixEpoch", Nil)        => c.cast("timestamp").cast("long").cast("string")
          case ("duration", Nil) | ("duration_seconds", Nil) =>
            numStr(durationValue(c))
          // fromJson "key": extract a top-level key of a JSON-valued field
          // (pipe form of sprig's fromJson + field access)
          case ("fromJson", Seq(k))      => coalesce(get_json_object(c, "$." + k), lit(""))
          case other =>
            throw new IllegalArgumentException(s"template function $other")
        }
      }

    def renderPlain(seg: String): Column = {
      var last = 0
      val parts = scala.collection.mutable.ArrayBuffer[Column]()
      for (m <- re.findAllMatchIn(seg)) {
        if (m.start > last) parts += lit(seg.substring(last, m.start))
        val base = m.group(1) match {
          case "__line__" | "_entry" => col("line") // reference bindings
          // per-entry timestamp builtin (`template_funcs.go:19`): bare use
          // renders Go's time.Time.String() for UTC (trailing-zero-trimmed
          // fraction, omitted when zero); piped use (| date, | unixEpoch)
          // flows the typed timestamp into the pipe chain
          case "__timestamp__" if m.group(2).trim.nonEmpty =>
            timestamp_micros(expr("timestamp_ns div 1000"))
          case "__timestamp__" =>
            val frac = pmod(col("timestamp_ns"), lit(1000000000L))
            concat(
              date_format(timestamp_micros(expr("timestamp_ns div 1000")),
                "yyyy-MM-dd HH:mm:ss"),
              when(frac === 0, lit("")).otherwise(concat(lit("."),
                regexp_replace(lpad(frac.cast("string"), 9, "0"), "0+$", ""))),
              lit(" +0000 UTC"))
          case name => coalesce(element_at(col("labels"), name), lit(""))
        }
        parts += applyPipes(base, m.group(2))
        last = m.end
      }
      if (last < seg.length) parts += lit(seg.substring(last))
      if (parts.isEmpty) lit("") else concat(parts.toSeq: _*)
    }

    // {{ if .label }}A{{ else }}B{{ end }} — Go-template truthiness is
    // "label present and non-empty"; blocks don't nest (reference's tail
    // subset). Segments between blocks render through the field/pipe path.
    def renderSegments(seg: String): Column = {
      val ifRe = ("(?s)\\{\\{\\s*if\\s+\\.([a-zA-Z_][a-zA-Z0-9_]*)\\s*\\}\\}(.*?)" +
        "(?:\\{\\{\\s*else\\s*\\}\\}(.*?))?\\{\\{\\s*end\\s*\\}\\}").r
      var last = 0
      val parts = scala.collection.mutable.ArrayBuffer[Column]()
      for (m <- ifRe.findAllMatchIn(seg)) {
        if (m.start > last) parts += renderPlain(seg.substring(last, m.start))
        val cond = coalesce(element_at(col("labels"), m.group(1)), lit("")) =!= ""
        val thenC = renderPlain(m.group(2))
        val elseC = Option(m.group(3)).map(renderPlain).getOrElse(lit(""))
        parts += when(cond, thenC).otherwise(elseC)
        last = m.end
      }
      if (last < seg.length) parts += renderPlain(seg.substring(last))
      if (parts.isEmpty) lit("") else concat(parts.toSeq: _*)
    }

    // {{ range .field }}body{{ end }}: the field holds a JSON array; the
    // body renders once per element with {{ . }} bound to the element
    // (restricted Go-template range — no nesting, no pipes on the element).
    val rangeRe = ("(?s)\\{\\{\\s*range\\s+\\.([a-zA-Z_][a-zA-Z0-9_]*)\\s*\\}\\}" +
      "(.*?)\\{\\{\\s*end\\s*\\}\\}").r
    val dotRe = "\\{\\{\\s*\\.\\s*\\}\\}"
    var last = 0
    val parts = scala.collection.mutable.ArrayBuffer[Column]()
    for (m <- rangeRe.findAllMatchIn(tpl)) {
      if (m.start > last) parts += renderSegments(tpl.substring(last, m.start))
      val arr = coalesce(
        from_json(coalesce(element_at(col("labels"), m.group(1)), lit("[]")),
          org.apache.spark.sql.types.ArrayType(StringType)),
        array().cast("array<string>"))
      val body = m.group(2)
      val litParts = body.split(dotRe, -1)
      parts += array_join(transform(arr, e => {
        val ps = litParts.zipWithIndex.flatMap { case (s, i) =>
          (if (i == 0) Seq() else Seq(e)) ++
            (if (s.isEmpty) Seq() else Seq(lit(s)))
        }
        if (ps.isEmpty) lit("") else concat(ps.toSeq: _*)
      }), "")
      last = m.end
    }
    if (last < tpl.length) parts += renderSegments(tpl.substring(last))
    if (parts.isEmpty) lit("") else concat(parts.toSeq: _*)
  }

  /** Densify a metric frame onto the step grid per series, repeating the
    * last value for gap points (MatrixStepPlanner/FixPeriodPlanner,
    * `matrix_step.go:18`, `planner_from_fix.go:17`); grid points before a
    * series' first sample are not emitted (ZeroEaterPlanner,
    * `planner_zero_eater.go:15`). Bounded work: grid size per series =
    * its own (last-first)/step span.
    */
  def densify(df: DataFrame): DataFrame = {
    val bounds = df.groupBy(col("fingerprint"))
      .agg(first(col("labels")).as("labels"),
        min(col("ts")).as("__mn"), max(col("ts")).as("__mx"))
    val grid = bounds.select(col("fingerprint"), col("labels"),
      explode(sequence(col("__mn"), col("__mx"), lit(params.stepS))).as("ts"))
    val w = Window.partitionBy(col("fingerprint")).orderBy(col("ts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(df.select(col("fingerprint"), col("ts"), col("value")),
        Seq("fingerprint", "ts"), "left")
      .withColumn("value", last(col("value"), ignoreNulls = true).over(w))
      .select(col("fingerprint"), col("labels"), col("ts"), col("value"))
  }

  /** Java regex named-group extraction: `(?P<x>..)` → per-group
    * regexp_extract (reference: `planner_parser_regexp.go`).
    * Lookaround groups `(?<=` `(?<!` `(?=` `(?!` and non-capturing `(?:`
    * are skipped without bumping the capture index.
    */
  private[logql] def regexpGroups(re: String): Seq[(String, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer[(String, Int)]()
    var idx = 0; var i = 0
    while (i < re.length) {
      if (re.charAt(i) == '\\') i += 2
      else if (re.charAt(i) == '(') {
        val named =
          (re.startsWith("(?P<", i) && re.length > i + 4) ||
          (re.startsWith("(?<", i) && re.length > i + 3 &&
            re.charAt(i + 3) != '=' && re.charAt(i + 3) != '!')
        if (named) {
          idx += 1
          val nameStart = re.indexOf('<', i) + 1
          val nameEnd = re.indexOf('>', nameStart)
          out += ((re.substring(nameStart, nameEnd), idx))
          i = nameEnd + 1
        } else if (i + 1 < re.length && re.charAt(i + 1) == '?') {
          i += 1 // (?: (?= (?! (?<= (?<! — grouping, no capture index
        } else { idx += 1; i += 1 }
      } else i += 1
    }
    out.toSeq
  }

  /** `unwrap bytes(x)`: humanize-style byte-size strings ("512KiB", "3MB")
    * → bytes, SI and IEC units (reference delegates to go-units'
    * ParseBytes via the Go-side unwrap).
    */
  private def bytesValue(raw: Column): Column = {
    val num = regexp_extract(raw, "^\\s*([0-9]*\\.?[0-9]+)", 1).cast("double")
    val unit = lower(trim(regexp_extract(raw, "^\\s*[0-9]*\\.?[0-9]+\\s*([a-zA-Z]*)\\s*$", 1)))
    val mult = map(
      lit(""), lit(1.0), lit("b"), lit(1.0),
      lit("kb"), lit(1e3), lit("kib"), lit(1024.0),
      lit("mb"), lit(1e6), lit("mib"), lit(1048576.0),
      lit("gb"), lit(1e9), lit("gib"), lit(1073741824.0),
      lit("tb"), lit(1e12), lit("tib"), lit(1099511627776.0),
      lit("pb"), lit(1e15), lit("pib"), lit(1125899906842624.0))
    num * element_at(mult, unit)
  }

  /** `unwrap duration_seconds(x)`: Go ParseDuration strings, compound
    * ("1h30m", "150ms") → fractional seconds. One regex pass extracts all
    * (number, unit) pairs; a higher-order aggregate sums them — no UDF.
    */
  private def durationValue(raw: Column): Column = {
    val pairRe = "([0-9]*\\.?[0-9]+)(ns|us|µs|ms|s|m|h)"
    val nums = regexp_extract_all(raw, lit(pairRe), lit(1))
    val units = regexp_extract_all(raw, lit(pairRe), lit(2))
    val mult = map(
      lit("ns"), lit(1e-9), lit("us"), lit(1e-6), lit("µs"), lit(1e-6),
      lit("ms"), lit(1e-3), lit("s"), lit(1.0), lit("m"), lit(60.0),
      lit("h"), lit(3600.0))
    when(raw.rlike("^\\s*(" + pairRe + ")+\\s*$"),
      aggregate(
        zip_with(nums, units, (n, u) => n.cast("double") * element_at(mult, u)),
        lit(0.0), (acc, x) => acc + x))
  }

  /** Does this stage change the label set? (If none do, the ingest-time
    * fingerprint stays valid and is never recomputed — the round-1 design
    * re-hashed per mutating stage, which dominated the regexp-parser
    * benchmark. Now [[compileLog]] re-keys once, lazily, and Catalyst
    * prunes the hash entirely for queries that never read `fingerprint`.)
    */
  private def mutatesLabels(s: Stage): Boolean = s match {
    case _: JsonStage | LogfmtStage | _: RegexpStage | _: LabelFormatStage |
         _: DropStage | _: KeepStage => true
    case _ => false
  }

  /** drop/keep entry hit: bare key or (key, value) pair
    * (`planner_drop.go:57-75`).
    */
  private def entryMatch(entries: Seq[(String, Option[String])],
      k: Column, v: Column): Column =
    entries.map {
      case (key, None)      => k === key
      case (key, Some(req)) => k === key && v === req
    }.reduceOption(_ || _).getOrElse(lit(false))

  private[graft] def applyStage(df: DataFrame, s: Stage): DataFrame = s match {
    case f: LineFilter => df.filter(lineFilterCond(f))
    case LabelFilterStage(p) => df.filter(predCond(p))

    case JsonStage(Nil) =>
      // full extract: every top-level JSON field becomes a label; on parse
      // failure the reference injects __error__/__error_details__ labels
      // (internal/planner/parser.go:25-90) instead of dropping the row.
      val parsed = from_json(col("line"), MapType(StringType, StringType))
      df.withColumn("labels",
        when(parsed.isNotNull, graft.model.MapOps.update(col("labels"), parsed))
          .otherwise(graft.model.MapOps.update(col("labels"),
            map(lit("__error__"), lit("JSONParserErr"),
                lit("__error_details__"), lit("Value looks like object, but can't find closing '}' symbol")))))

    case JsonStage(jsonParams) =>
      val extracted = jsonParams.flatMap { case (l, path) =>
        Seq(lit(l), coalesce(get_json_object(col("line"), "$." + path), lit("")))
      }
      df.withColumn("labels",
        graft.model.MapOps.update(col("labels"), map(extracted: _*)))

    case LogfmtStage =>
      // k=v and k="quoted v" pairs → map; quoted values unescaped.
      val pair = "([a-zA-Z_][a-zA-Z0-9_]*)=(\"(?:[^\"\\\\]|\\\\.)*\"|[^\\s\"]*)"
      val keys = regexp_extract_all(col("line"), lit(pair), lit(1))
      val vals = transform(
        regexp_extract_all(col("line"), lit(pair), lit(2)),
        v => when(v.startsWith("\""),
            regexp_replace(v.substr(lit(2), length(v) - 2), "\\\\(.)", "$1"))
          .otherwise(v))
      df.withColumn("labels", graft.model.MapOps.update(col("labels"),
        graft.model.MapOps.fromArraysLastWins(keys, vals)))

    case RegexpStage(re) =>
      // ONE regex pass per row via the native RegexpAllGroups expression
      // (round 1 ran regexp_extract once per named group — N matches/row)
      val jre = re.replace("(?P<", "(?<")
      val groups = regexpGroups(re)
      val extracted = groups.flatMap { case (name, idx) =>
        Seq(lit(name), element_at(col("__regex_groups"), idx))
      }
      df.withColumn("__regex_groups",
          graft.functions.RegexpAllGroups(col("line"), jre))
        .withColumn("labels",
          graft.model.MapOps.update(col("labels"), map(extracted: _*)))
        .drop("__regex_groups")

    case LineFormatStage(tpl) =>
      df.withColumn("line", templateCol(tpl))

    case LabelFormatStage(ops) =>
      // Loki label_format dst=src RENAMES: the source label is removed
      // (unless it is itself a destination of another op).
      val entries = ops.flatMap {
        case (dst, Left(src))  => Seq(lit(dst), coalesce(element_at(col("labels"), src), lit("")))
        case (dst, Right(tpl)) => Seq(lit(dst), templateCol(tpl))
      }
      val dsts = ops.map(_._1).toSet
      val renamedAway = ops.collect {
        case (dst, Left(src)) if src != dst && !dsts.contains(src) => src
      }.distinct
      val concatd = df.withColumn("labels",
        graft.model.MapOps.update(col("labels"), map(entries: _*)))
      if (renamedAway.isEmpty) concatd
      else concatd.withColumn("labels",
        map_filter(col("labels"), (k, _) => !k.isInCollection(renamedAway)))

    case DropStage(keys) =>
      df.withColumn("labels",
        map_filter(col("labels"), (k, v) => !entryMatch(keys, k, v)))

    case KeepStage(keys) =>
      // parser-error labels survive keep regardless of the list
      // (`planner_keep.go:56-69`, mirroring Loki)
      df.withColumn("labels",
        map_filter(col("labels"), (k, v) =>
          k.isin("__error__", "__error_details__") || entryMatch(keys, k, v)))

    case UnwrapStage(l, conv) =>
      // `_entry` unwraps the log line itself and `__value__` (surface:
      // `unwrap_value`) the ingested sample value column — both qryn
      // extensions next to Loki's label unwrap (planner_unwrap.go:39-66:
      // toFloat64OrNull over labels[x] or the string column)
      val raw = l match {
        case "__value__"           => col("value").cast("string")
        case "_entry" | "__line__" => col("line")
        case _                     => element_at(col("labels"), l)
      }
      val v = conv match {
        case Some("bytes")    => bytesValue(raw)
        case Some(_)          => durationValue(raw) // duration | duration_seconds
        case None             => raw.cast("double")
      }
      df.withColumn("value", v).filter(col("value").isNotNull)
  }

  /** Selector + pipeline → log-stream DataFrame.
    *
    * Plan shape at scale: matchers that only touch ingest-time labels are
    * evaluated on the series dictionary (`time_series`) and the fact table
    * is semi-joined on fingerprint (broadcast — the dictionary is ~1e6 rows
    * when samples are 1e12). Matcher work is O(streams), not O(rows), and
    * the parquet scan reads only (ts, fingerprint) + used columns.
    *
    * `loNs`/`hiNs` widen or shift the scan window (used by `offset` and
    * sliding ranges so every emitted bucket sees its full lookback).
    */
  def compileLog(sel: Selector, stages: Seq[Stage],
      loNs: Long = params.startNs, hiNs: Long = params.endNs): DataFrame = {
    var dict = graft.store.Store.timeSeries(spark, dir)
    for (m <- sel.matchers) dict = dict.filter(matcherCond(m))
    val base = graft.store.Store.samples(spark, dir, loNs, hiNs)
      .drop("date")
      .join(graft.store.Store.maybeBroadcastDict(spark, dir, dict),
        Seq("fingerprint"))
      .select(col("timestamp_ns"), col("labels"), col("line"),
        col("value"), col("fingerprint"))
    val staged = stages.foldLeft(base)(applyStage)
    // re-key once if any stage mutated labels (pruned when fp is unused)
    if (stages.exists(mutatesLabels))
      staged.withColumn("fingerprint", Tables.fingerprintOf(col("labels")))
    else staged
  }

  /** Downsample routing (Metrics15ShortcutPlanner,
    * `planner_metrics15s_shortcut.go:31-130` + eligibility rules in
    * `analyze.go:99-131`): a range agg with NO pipeline stages whose
    * step/range/offset are 15s-aligned re-aggregates the metrics_15s
    * partials instead of scanning raw lines — the single biggest
    * scan-reduction lever at 100 TB (15s buckets cut a 1-sample/s stream
    * 15×, and the downsample table carries no line bodies at all).
    */
  private def downsampled(ra: RangeAgg): Option[DataFrame] = {
    val r = ra.range
    val q = 15000000000L
    val eligible = r.stages.isEmpty &&
      Set("rate", "count_over_time", "bytes_over_time", "bytes_rate")(ra.fn) &&
      stepNs % q == 0 && r.rangeNs % q == 0 && r.offsetNs % q == 0
    if (!eligible) None
    else Some {
      val lo = params.startNs - r.offsetNs - (r.rangeNs - stepNs)
      val hi = params.endNs - r.offsetNs
      var dict = graft.store.Store.timeSeries(spark, dir)
      for (m <- r.selector.matchers) dict = dict.filter(matcherCond(m))
      val m15 = graft.store.Store.metrics15s(spark, dir, lo, hi)
        .drop("date")
        .join(graft.store.Store.maybeBroadcastDict(spark, dir, dict),
          Seq("fingerprint"))
      val rangeS = r.rangeNs / 1e9
      val b = bucketed(m15, r.rangeNs, r.offsetNs)
      val agg: Column = ra.fn match {
        case "rate"            => sum(col("cnt")) / rangeS
        case "count_over_time" => sum(col("cnt")).cast("double")
        case "bytes_over_time" => sum(col("bytes")).cast("double")
        case "bytes_rate"      => sum(col("bytes")) / rangeS
      }
      aggregateBuckets(b, ra, agg)
    }
  }

  // --- metric expressions ------------------------------------------------

  def compileMetric(e: Expr): DataFrame = e match {
    case ra: RangeAgg     => compileRangeAgg(ra)
    case va: VectorAgg    => compileVectorAgg(va)
    case BinOp(op, l, r)  => compileBinOp(op, l, r)
    case Cmp(l, op, rhs)  => compileMetric(l).filter(cmpCond(col("value"), op, rhs))
    case ScalarLit(v)     => // degenerate: a scalar as a 1-row frame
      spark.range(1).select(lit(0L).as("ts"), lit(0L).as("fingerprint"),
        map().cast(MapType(StringType, StringType)).as("labels"), lit(v).as("value"))
    case LogExpr(_, _)    => throw new IllegalArgumentException("log expr has no metric value")
  }

  private def cmpCond(c: Column, op: String, n: Double): Column = op match {
    case ">"  => c > n
    case ">=" => c >= n
    case "<"  => c < n
    case "<=" => c <= n
    case "==" => c === n
    case "!=" => c =!= n
  }

  /** Exact long floor-to-multiple (ns timestamps exceed double's 2^53 exact
    * range, so `floor(ts/step)*step` via double FP would misbucket samples
    * that land within a few hundred ns of a boundary).
    */
  private def floorTo(c: Column, step: Long): Column = c - pmod(c, lit(step))

  /** Assign each sample to its covering eval bucket(s) on the step grid.
    *
    * Bucket `t` covers the lookback window [t+step-range, t+step) — see the
    * class doc. range == step tumbles (plain groupBy, map-side partial
    * agg). range > step explodes each sample over the range/step buckets
    * whose lookback covers it: t ∈ [floorTo(ts), floorTo(ts+range-step)],
    * clamped to the query grid, so a sample emits at most
    * min(range/step, grid buckets) rows (one for an instant query). This is
    * the one plan for every range aggregation: Spark's RANGE-frame window
    * re-aggregates its whole frame per input row, which goes quadratic on
    * long ranges. `offset` shifts sample timestamps forward (equivalent to
    * shifting the window back); [[compileRangeAgg]] widens the scan so
    * shifted samples exist.
    */
  private def bucketed(df0: DataFrame, rangeNs: Long, offsetNs: Long): DataFrame = {
    val tsEff = col("timestamp_ns") + lit(offsetNs)
    val gridStart = (params.startNs / stepNs) * stepNs
    val gridEnd = ((params.endNs - 1) / stepNs) * stepNs // last bucket start
    if (rangeNs == stepNs)
      df0.withColumn("bucket_ns", floorTo(tsEff, stepNs))
        .filter(col("bucket_ns") >= gridStart && col("bucket_ns") <= gridEnd)
    else {
      val firstT = greatest(floorTo(tsEff, stepNs), lit(gridStart))
      val lastT = least(floorTo(tsEff + (rangeNs - stepNs), stepNs), lit(gridEnd))
      df0.withColumn("bucket_ns",
        explode(when(firstT <= lastT, sequence(firstT, lastT, lit(stepNs)))
          .otherwise(array())))
    }
  }

  /** Shared tail of a range aggregation: optional by/without re-keying,
    * then the per-(series, bucket) aggregate — used by both the raw path
    * and the metrics_15s downsample path.
    */
  private def aggregateBuckets(b: DataFrame, ra: RangeAgg, agg: Column): DataFrame = {
    val keyed =
      if (ra.by.nonEmpty) {
        val nl = map_filter(col("labels"), (k, _) => k.isInCollection(ra.by))
        b.withColumn("labels", nl)
          .withColumn("fingerprint", Tables.fingerprintOf(col("labels")))
      } else if (ra.without.nonEmpty) {
        val nl = map_filter(col("labels"), (k, _) => !k.isInCollection(ra.without))
        b.withColumn("labels", nl)
          .withColumn("fingerprint", Tables.fingerprintOf(col("labels")))
      } else b
    keyed
      .groupBy(col("fingerprint"), col("bucket_ns"))
      .agg(first(col("labels")).as("labels"), agg.as("value"))
      .select(col("fingerprint"), col("labels"),
        expr("bucket_ns div 1000000000").as("ts"), col("value"))
  }

  private def compileRangeAgg(ra: RangeAgg): DataFrame = {
    downsampled(ra) match {
      case Some(df) => return df
      case None     =>
    }
    // widen the scan so offset-shifted samples and lookback tails exist
    val lo = params.startNs - ra.range.offsetNs - (ra.range.rangeNs - stepNs)
    val hi = params.endNs - ra.range.offsetNs
    val base = compileLog(ra.range.selector, ra.range.stages, lo, hi)
    if (ra.fn == "absent_over_time") return compileAbsent(ra, base)

    val b = bucketed(base, ra.range.rangeNs, ra.range.offsetNs)
    val rangeS = ra.range.rangeNs / 1e9

    val agg: Column = ra.fn match {
      case "rate"              => count(lit(1)) / rangeS
      case "count_over_time"   => count(lit(1)).cast("double")
      case "bytes_over_time"   => sum(length(col("line"))).cast("double")
      case "bytes_rate"        => sum(length(col("line"))) / rangeS
      case "sum_over_time"     => sum(col("value"))
      case "avg_over_time"     => avg(col("value"))
      case "max_over_time"     => max(col("value"))
      case "min_over_time"     => min(col("value"))
      case "first_over_time"   => min_by(col("value"), col("timestamp_ns"))
      case "last_over_time"    => max_by(col("value"), col("timestamp_ns"))
      case "stddev_over_time"  => stddev_pop(col("value"))
      case "stdvar_over_time"  => var_pop(col("value"))
      case "quantile_over_time" =>
        // exact interpolated percentile == DuckDB quantile_cont
        percentile(col("value"), lit(ra.param.get))
      case other => throw new IllegalArgumentException(s"range fn $other")
    }

    aggregateBuckets(b, ra, agg)
  }

  /** absent_over_time: 1 for every step bucket with NO samples for the
    * selector (reference: Go-side `absent_over_time.go:11-29` over a dense
    * step array). Step grid anti-joined with observed buckets.
    */
  private def compileAbsent(ra: RangeAgg, base: DataFrame): DataFrame = {
    val grid = spark.range(params.startNs / stepNs, params.endNs / stepNs)
      .select((col("id") * stepNs).cast("long").as("bucket_ns"))
    val present = bucketed(base, ra.range.rangeNs, ra.range.offsetNs)
      .select(col("bucket_ns")).distinct()
    grid.join(present, Seq("bucket_ns"), "left_anti")
      .select(lit(0L).as("fingerprint"),
        map().cast(MapType(StringType, StringType)).as("labels"),
        expr("bucket_ns div 1000000000").as("ts"),
        lit(1.0).as("value"))
  }

  private def compileVectorAgg(va: VectorAgg): DataFrame = {
    val inner = compileMetric(va.inner)
    va.fn match {
      case "topk" | "bottomk" =>
        // Reference: groupArray + arraySort + arraySlice per timestamp
        // (`planner_topk.go:16-70`). A single rank window partitioned only
        // by ts puts every series of an eval point in one task — a
        // straggler at millions of series. Two-stage rank instead: a
        // salted partial top-k bounds the global window's input to
        // 64·k rows per eval point. Tiebreak on the canonical label JSON
        // so results are reproducible by any engine.
        val k = va.param.get.toInt
        val tie = to_json(map_from_entries(array_sort(map_entries(col("labels")))))
        val ord = if (va.fn == "topk")
          Seq(col("value").desc, col("__tie").asc)
        else Seq(col("value").asc, col("__tie").asc)
        val withTie = inner.withColumn("__tie", tie)
        val w1 = Window.partitionBy(col("ts"), pmod(col("fingerprint"), lit(64)))
          .orderBy(ord: _*)
        val pruned = withTie.withColumn("__rn", row_number().over(w1))
          .filter(col("__rn") <= k).drop("__rn")
        val w2 = Window.partitionBy(col("ts")).orderBy(ord: _*)
        pruned.withColumn("__rn", row_number().over(w2))
          .filter(col("__rn") <= k).drop("__rn", "__tie")
      case fn =>
        val rekeyed =
          if (va.by.nonEmpty)
            inner.withColumn("labels",
              map_filter(col("labels"), (key, _) => key.isInCollection(va.by)))
          else if (va.without.nonEmpty)
            inner.withColumn("labels",
              map_filter(col("labels"), (key, _) => !key.isInCollection(va.without)))
          else inner.withColumn("labels",
            map().cast(MapType(StringType, StringType)))
        val agg: Column = fn match {
          case "sum"    => sum(col("value"))
          case "min"    => min(col("value"))
          case "max"    => max(col("value"))
          case "avg"    => avg(col("value"))
          case "count"  => count(lit(1)).cast("double")
          case "stddev" => stddev_pop(col("value"))
          case "stdvar" => var_pop(col("value"))
        }
        rekeyed
          .withColumn("fingerprint", Tables.fingerprintOf(col("labels")))
          .groupBy(col("fingerprint"), col("ts"))
          .agg(first(col("labels")).as("labels"), agg.as("value"))
          .select(col("fingerprint"), col("labels"), col("ts"), col("value"))
    }
  }

  /** Binary arithmetic: inner join on (fingerprint, ts) — the reference
    * needs either a UNION ALL + re-aggregation SQL trick
    * (`planner_binary_expr.go`) or a RAM hash merge
    * (`planner_binary_ram.go:28-221`); in Spark it is a plain equi-join,
    * broadcast by AQE when one side is small.
    */
  private def compileBinOp(op: String, l: Expr, r: Expr): DataFrame = {
    def arith(a: Column, b: Column): Column = op match {
      case "+" => a + b
      case "-" => a - b
      case "*" => a * b
      case "/" => a / b
      case "%" => a % b
    }
    (l, r) match {
      case (ScalarLit(v), rhs) =>
        compileMetric(rhs).withColumn("value", arith(lit(v), col("value")))
      case (lhs, ScalarLit(v)) =>
        compileMetric(lhs).withColumn("value", arith(col("value"), lit(v)))
      case (lhs, rhs) =>
        val lf = compileMetric(lhs).withColumnRenamed("value", "__l")
        val rf = compileMetric(rhs).select(col("fingerprint"), col("ts"),
          col("value").as("__r"))
        lf.join(rf, Seq("fingerprint", "ts"))
          .withColumn("value", arith(col("__l"), col("__r")))
          .select(col("fingerprint"), col("labels"), col("ts"), col("value"))
    }
  }
}
