package graft.logql

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.gates.EvalWindow._

/** Compiler unit + small-data behavior tests: regex group scanning,
  * matcher null semantics, unwrap conversions, label_format rename,
  * limit/direction — the edge paths the oracle gates exercise only on one
  * data shape.
  */
class LogQLCompilerSpec extends SparkSpec {

  private def engine =
    new LogQLCompiler(spark, sf, EvalParams(StartNs, EndNs, StepS))

  // regexpGroups is private[logql]
  private val groups = engine

  test("regexpGroups: named, unnamed, non-capturing") {
    assert(groups.regexpGroups("(?P<a>x)(y)(?P<b>z)") == Seq(("a", 1), ("b", 3)))
    assert(groups.regexpGroups("(?:x)(?P<a>y)") == Seq(("a", 1)))
    assert(groups.regexpGroups("(?<a>x)") == Seq(("a", 1)))
  }

  test("regexpGroups: lookaround is not a capture group") {
    // round-1 bug: (?<= bumped the index and crashed on missing '>'
    assert(groups.regexpGroups("(?<=pre)(?P<a>x)") == Seq(("a", 1)))
    assert(groups.regexpGroups("(?<!n)(?=y)(?!z)(?P<a>x)") == Seq(("a", 1)))
    assert(groups.regexpGroups("\\((?P<a>x)") == Seq(("a", 1)))
  }

  test("=~ matches streams with absent label when regex allows empty") {
    val all = engine.compileLog(
      LogQLParser.parseOrThrow("""{level=~".*"}""") match {
        case LogQLAst.LogExpr(s, _) => s
        case _ => fail()
      }, Nil).count()
    val none = engine.compileLog(
      LogQLParser.parseOrThrow("""{nosuchlabel=~".*"}""") match {
        case LogQLAst.LogExpr(s, _) => s
        case _ => fail()
      }, Nil).count()
    assert(all > 0)
    assert(none == all) // absent label behaves as "" which matches .*
  }

  test("!~ keeps streams with absent label") {
    val n = engine.compileLog(
      LogQLParser.parseOrThrow("""{nosuchlabel!~"x.*"}""") match {
        case LogQLAst.LogExpr(s, _) => s
        case _ => fail()
      }, Nil).count()
    assert(n > 0)
  }

  test("unwrap bytes parses SI and IEC suffixes") {
    val df = engine.compileLogQuery(
      """{event_type="click"} | json | label_format sz="{{.k}}MiB" | unwrap bytes(sz)""")
    val row = df.limit(1).select(col("value"),
      element_at(col("labels"), "k").cast("double").as("k")).collect()(0)
    assert(row.getDouble(0) == row.getDouble(1) * 1048576.0)
  }

  test("unwrap duration_seconds parses compound durations") {
    val df = engine.compileLogQuery(
      """{event_type="click"} | json | label_format d="{{.k}}m30s500ms" | unwrap duration_seconds(d)""")
    val row = df.limit(1).select(col("value"),
      element_at(col("labels"), "k").cast("double").as("k")).collect()(0)
    assert(math.abs(row.getDouble(0) - (row.getDouble(1) * 60 + 30.5)) < 1e-9)
  }

  test("label_format dst=src renames (source removed)") {
    val df = engine.compileLogQuery(
      """{event_type="view"} | label_format et=event_type""").limit(1)
    val labels = df.select(col("labels")).collect()(0).getMap[String, String](0)
    assert(labels.contains("et"))
    assert(!labels.contains("event_type"))
  }

  test("label merges OVERWRITE existing labels (mapUpdate, no dup-key throw)") {
    // label_format onto an EXISTING label name (sql_misc.go mapUpdate):
    // previously threw DUPLICATED_MAP_KEY under Spark's default policy
    val lf = engine.compileLogQuery(
      """{event_type="view"} | label_format level=`x-{{.level}}`""").limit(1)
      .select(element_at(col("labels"), "level")).collect()(0).getString(0)
    assert(lf == "x-info")
    // json full-extract whose field collides with a stream label
    val js = engine.compileLogQuery(
      """{event_type="view"} | line_format `{"level":"olvl"}` | json""").limit(1)
      .select(element_at(col("labels"), "level")).collect()(0).getString(0)
    assert(js == "olvl")
    // logfmt with a repeated key in one line: LAST occurrence wins (Go map)
    val fmt = engine.compileLogQuery(
      """{event_type="view"} | line_format "a=1 a=2 b=3" | logfmt""").limit(1)
      .select(element_at(col("labels"), "a"),
        element_at(col("labels"), "b")).collect()(0)
    assert(fmt.getString(0) == "2" && fmt.getString(1) == "3")
  }

  test("json parse failure injects __error__ instead of dropping") {
    val df = engine.compileLogQuery(
      """{event_type="view"} | line_format "notjson" | json""")
    val withErr = df.filter(element_at(col("labels"), "__error__") === "JSONParserErr")
    assert(df.count() > 0)
    assert(withErr.count() == df.count())
  }

  test("limit + backward direction returns the latest rows") {
    val fwd = engine.compileLogQuery("""{level="info"}""", Some(5), forward = true)
      .select("timestamp_ns").collect().map(_.getLong(0))
    val bwd = engine.compileLogQuery("""{level="info"}""", Some(5), forward = false)
      .select("timestamp_ns").collect().map(_.getLong(0))
    assert(fwd.length == 5 && bwd.length == 5)
    assert(fwd.max <= bwd.min) // earliest five vs latest five
  }

  test("sub-second range does not divide by zero") {
    val df = engine.compileMetric(
      LogQLParser.parseOrThrow("""sum by (level) (rate({level="info"}[500ms]))"""))
    // no crash; any produced rate must be finite
    assert(df.filter(col("value").isNull || col("value") === Double.PositiveInfinity).count() == 0)
  }

  test("sliding window covers range/step buckets per sample") {
    val c1 = engine.compileMetric(
      LogQLParser.parseOrThrow("""sum(count_over_time({level="info"}[6h]))"""))
      .agg(sum("value")).collect()(0).getDouble(0)
    val c2 = engine.compileMetric(
      LogQLParser.parseOrThrow("""sum(count_over_time({level="info"}[12h]))"""))
      .agg(sum("value")).collect()(0).getDouble(0)
    // every sample counted twice in the 12h/6h sliding window (modulo the
    // final-bucket clamp, so allow <=)
    assert(c2 > c1 && c2 <= 2 * c1)
  }

  // The pinned figures were read where a RANGE-frame window plan and the
  // bounded explode both evaluated this query and agreed on them; the
  // explode is now the one plan.
  test("unwrap range aggregation at range/step 24 returns the pinned values") {
    import graft.logql.LogQLParser
    val q = """sum by (user) (sum_over_time({event_type="click"} | json | unwrap k [6h]))"""
    val eng = new LogQLCompiler(spark, sf,
      EvalParams(StartNs, StartNs + 2 * 86400L * 1000000000L, 900L))
    val df = eng.compileMetric(LogQLParser.parseOrThrow(q))
    assert(!df.queryExecution.executedPlan.toString.contains("RangeFrame"))
    val r = df.agg(count(lit(1)), sum("ts"), sum(round(col("value"), 6)))
      .collect()(0)
    assert(r.getLong(0) == 210L, "rows")
    assert(r.getLong(1) == 357874953300L, "eval points")
    assert(math.abs(r.getDouble(2) - 11430.0) < 1e-9, "value sum")
  }
}
