package graft.promql

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import PromQLAst._

/** Engine guards (`reader/router/prometheus_query_range.go:28-37`): the
  * reference constructs `promql.EngineOpts` with `Timeout: 30s` and a
  * configurable `MaxSamples`; the embedded engine aborts any query whose
  * loaded-sample count exceeds the cap and kills evaluation at the
  * deadline. Spark-first analogs:
  *
  *   - **MaxSamples → pre-flight admission.** Instead of counting samples
  *     mid-flight, estimate them before running: matched-series count per
  *     selector × eval-grid points × per-point in-window sample budget.
  *     The series count is an `approx_count_distinct(fingerprint)` over
  *     the family scan — date-partition-pruned to the query window and
  *     column-pruned to the single `fingerprint` column, so at 100 TB the
  *     admission check reads one thin column of the touched partitions,
  *     not the store. The per-point budget assumes the reference's 15 s
  *     scrape/downsample granularity (`ctrl/qryn/sql/log.sql:96-107`).
  *
  *   - **Timeout → job-group cancellation.** The query action runs tagged
  *     with a Spark job group (`interruptOnCancel = true`); a daemon
  *     watcher cancels the whole group — every stage on every executor —
  *     at the deadline. This is the cluster-wide analog of the engine's
  *     context deadline: no orphaned stages keep burning executors after
  *     the client has given up.
  */
object Guards {

  /** Reference defaults: 30 s engine timeout; MaxSamples defaults to 50M
    * (Prometheus' own default, which the reference passes through when
    * unconfigured).
    */
  final case class GuardConfig(
      maxSamples: Long = 50000000L,
      timeoutMs: Long = 30000L)

  /** Thrown by admission when the sample estimate exceeds `maxSamples` —
    * the analog of the engine's "query processing would load too many
    * samples into memory" error.
    */
  final class QueryRejected(msg: String) extends RuntimeException(msg)

  /** Thrown when the deadline cancels the job group — the analog of the
    * engine's "query timed out in expression evaluation".
    */
  final class QueryTimeout(msg: String) extends RuntimeException(msg)

  /** Assumed scrape granularity for the per-point range budget — the
    * reference's fixed downsample step.
    */
  val ScrapeIntervalNs: Long = 15L * 1000000000L

  /** All selectors of an expression with the eval step they run at
    * (subqueries re-evaluate their inner expression on the finer
    * `[range:step]` grid, so their selectors contribute more points).
    */
  def selectors(e: PExpr, stepNs: Long): Seq[(Selector, Long)] = e match {
    case s: Selector     => Seq((s, stepNs))
    case FnCall(_, args) => args.flatMap(selectors(_, stepNs))
    case a: Agg          => selectors(a.inner, stepNs)
    case b: BinOp        => selectors(b.lhs, stepNs) ++ selectors(b.rhs, stepNs)
    case Subquery(inner, _, subStepNs, _, _) => selectors(inner, subStepNs)
    case _               => Nil
  }

  private def matcherCond(m: Matcher) = {
    val v = element_at(col("labels"), m.label)
    m.op match {
      case "="  => if (m.value.isEmpty) v.isNull || v === "" else v === m.value
      case "!=" => !(v <=> lit(m.value))
      case "=~" => coalesce(v, lit("")).rlike("^(?:" + m.value + ")$")
      case "!~" => !coalesce(v, lit("")).rlike("^(?:" + m.value + ")$")
    }
  }

  /** Matched-series count for one selector, read from the `prom_series`
    * DICTIONARY (series-ever-seen per family — MBs where the sample tables
    * are TBs, so admission costs milliseconds regardless of store size;
    * the count is a safe upper bound on the window's series). The
    * dictionary holds pushed families too; a name it lacks counts 0
    * series, as the compiler answers it with an empty result.
    */
  def seriesCount(spark: SparkSession, dir: String, sel: Selector): Long =
    sel.matchers
      .foldLeft(graft.store.Store.promSeries(spark, dir)
        .filter(col("family") === sel.name))(
        (df, m) => df.filter(matcherCond(m)))
      .agg(approx_count_distinct(col("fingerprint")).as("n"))
      .head().getLong(0)

  /** Peak-sample estimate for a query: Σ over selectors of
    * series × gridPoints × perPointBudget, where perPointBudget is 1 for
    * instant selectors and range/scrapeInterval for range selectors.
    */
  def estimateSamples(spark: SparkSession, dir: String, q: String,
      params: PromParams): Long = {
    val ast = PromQLParser.parseOrThrow(q)
    val stepNs = params.stepS * 1000000000L
    selectors(ast, stepNs).map { case (sel, selStepNs) =>
      val points = (params.endNs - params.startNs) / selStepNs + 1
      val perPoint = sel.rangeNs.fold(1L)(r =>
        math.max(1L, r / ScrapeIntervalNs))
      seriesCount(spark, dir, sel) * points * perPoint
    }.sum
  }

  /** Admission check: throws [[QueryRejected]] when the estimate exceeds
    * the cap; returns the estimate otherwise.
    */
  def admit(spark: SparkSession, dir: String, q: String, params: PromParams,
      cfg: GuardConfig = GuardConfig()): Long = {
    val est = estimateSamples(spark, dir, q, params)
    if (est > cfg.maxSamples)
      throw new QueryRejected(
        s"query would load ~$est samples (max ${cfg.maxSamples}): $q")
    est
  }

  /** Run `action` under the deadline: the current thread keeps the job
    * group (Spark job groups are thread-local, so the tag applies to every
    * job the action submits), while a daemon watcher cancels the group at
    * the deadline. Cancellation surfaces as [[QueryTimeout]].
    */
  def guarded[T](spark: SparkSession, cfg: GuardConfig = GuardConfig())(
      action: => T): T = {
    val sc = spark.sparkContext
    val group = "graft-guard-" + java.util.UUID.randomUUID().toString
    val done = new CountDownLatch(1)
    val watcher = new Thread(() => {
      if (!done.await(cfg.timeoutMs, TimeUnit.MILLISECONDS))
        sc.cancelJobGroup(group)
    }, group + "-watchdog")
    watcher.setDaemon(true)
    sc.setJobGroup(group, s"guarded query (deadline ${cfg.timeoutMs} ms)",
      interruptOnCancel = true)
    watcher.start()
    try action
    catch {
      case e: SparkException if isCancellation(e) =>
        throw new QueryTimeout(
          s"query exceeded ${cfg.timeoutMs} ms deadline")
    } finally {
      done.countDown()
      sc.clearJobGroup()
    }
  }

  private def isCancellation(e: Throwable): Boolean = {
    var t: Throwable = e
    while (t != null) {
      val m = if (t.getMessage == null) "" else t.getMessage.toLowerCase
      if (m.contains("cancelled") || m.contains("canceled")) return true
      t = t.getCause
    }
    false
  }

  /** Full guarded evaluation: admission, then the compiled query runs
    * under the deadline — the complete `EngineOpts` analog in one call.
    */
  def queryRange(spark: SparkSession, dir: String, q: String,
      params: PromParams, cfg: GuardConfig = GuardConfig()): Array[org.apache.spark.sql.Row] = {
    admit(spark, dir, q, params, cfg)
    guarded(spark, cfg) {
      new PromQLCompiler(spark, dir, params).compile(q).collect()
    }
  }
}
