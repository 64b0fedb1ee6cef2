package graft.streaming

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.logql.EvalParams

/** Scheduled rule evaluation — the reference's ruler manager loop
  * (`ruler/manager.go:43-250`: one manager per engine, an interval ticker
  * per rule group). Each [[tick]] evaluates every stored group whose
  * interval has elapsed since its last evaluation:
  *
  *   - RECORDING rules write back through the live metrics append path
  *     ([[Ruler.writeback]] → `Store.appendMetrics`, the reference's
  *     `writeback.go` into its writer), so each tick's vector is
  *     immediately PromQL-queryable and gains downsample partials;
  *   - ALERTING rules run the [[Ruler.alertStates]] state machine over a
  *     bounded lookback (the `for` duration plus slack, so pending→firing
  *     transitions accumulate across ticks exactly like Prometheus's
  *     in-memory active-since) and export the NEW grid points as
  *     Prometheus-style `ALERTS{alertname=…, alertstate=…}` samples
  *     through the same append path.
  *
  * Tick windows tile: a group's evaluation grid runs at its own interval,
  * and each tick covers exactly the grid points after the previous tick's
  * last point — re-running a tick never double-records, ACROSS RESTARTS
  * too: per-group last-eval watermarks are persisted beside the rule
  * configs ([[Rules.saveMarks]], batched ONCE per tick) and re-seeded on
  * the first tick, so a new process resumes after the buckets the old one
  * already recorded (a never-evaluated group still seeds from "one
  * interval back", the reference's cold-start behavior; a long-stopped
  * scheduler back-fills the gap as ONE range evaluation, not one job per
  * missed bucket). As a second line of defense the writeback itself is
  * IDEMPOTENT — appended samples are anti-joined against the
  * already-stored grid points of the tick window — so a crash anywhere
  * between an append and the end-of-tick watermark persist cannot
  * duplicate a grid point. The idempotency is FIRST-WRITE-WINS on
  * (fingerprint, timestamp_ns): if late data lands between a crash and
  * the restart, the re-evaluated bucket may compute a different value,
  * and the anti-join keeps the originally-recorded sample — the same
  * contract a wall-clock-stamping ruler gives by never re-evaluating at
  * all. Per-RULE health is persisted
  * through [[Rules]]' health table, so `/api/v1/rules` reflects the last
  * outcome and evaluation timestamp; a failure of the group SWEEP itself
  * (the rules table unreadable) is recorded as a `_sweep` health row
  * instead of vanishing, and the loop keeps running.
  *
  * The clock is injectable so a spec can drive deterministic ticks; the
  * production wrapper is [[start]], a daemon timer polling at `pollS`
  * (groups fire only when their own interval has elapsed — the poll just
  * bounds the firing latency, like the reference's ticker resolution).
  */
final class RulerScheduler(spark: SparkSession, dir: String,
    nowNs: () => Long = () => System.currentTimeMillis() * 1000000L) {

  private val NsPerS = 1000000000L
  // (kind, namespace, group) -> last evaluated grid point (ns); seeded
  // once from the persisted watermark table so a restart resumes instead
  // of re-recording the previous process's last bucket
  private val lastEvalNs = TrieMap[(String, String, String), Long]()
  @volatile private var seededDone = false
  // a marks load that throws (transient IO or corruption: a missing table
  // is an empty map) is retried after 1, 2, 4, … ticks, the gap capped at
  // SeedRetryMaxTicks, and logged once per streak: n ticks cost O(log n)
  // reads. Meanwhile ticks evaluate from cold-start defaults — the
  // idempotent writeback bounds any re-recorded bucket — and putIfAbsent
  // keeps a late seed from clobbering their in-memory progress
  private var seedGap = 0
  private var seedWait = 0
  private var seedReads = 0
  private val SeedRetryMaxTicks = 64
  private def seed(nowNsVal: Long): Unit =
    if (seedWait > 0) seedWait -= 1
    else if (!seededDone) {
      seedReads += 1
      try {
        Rules.loadMarks(spark, dir).foreach { case (k, v) =>
          lastEvalNs.putIfAbsent(k, v): Unit
        }
        seededDone = true
      } catch {
        case e: Exception =>
          if (seedGap == 0) {
            val msg = Option(e.getMessage).getOrElse(e.toString)
            Console.err.println(s"graft ruler: marks load failed: $msg")
            // a visible health row per swept engine, not a silent gap
            try Rules.saveHealth(spark, dir, Kinds.map(kind =>
              Rules.HealthRow(kind, "_sweep", "_marks", "_marks", "err", msg,
                nowNsVal / 1000000L, 0.0)))
            catch { case _: Exception => () }
          }
          seedGap = math.min(math.max(1, seedGap * 2), SeedRetryMaxTicks)
          seedWait = seedGap - 1
      }
    }

  /** Spec hook: marks-table reads attempted so far. */
  private[streaming] def marksReads: Int = seedReads

  /** Engines swept: the HTTP ruler surface stores under "loki"; the
    * library surface also uses "prom" ([[Rules.evalVector]] picks the
    * engine per kind — one manager per engine, `router/init.go:91,100`).
    */
  private val Kinds = Seq("loki", "prom")

  private def forSeconds(forDur: String): Long =
    if (forDur.isEmpty) 0L else Rules.parseIntervalS(forDur)

  /** One scheduler pass over every stored group of both engines, reading
    * one pinned store version ([[graft.store.Store.pinned]]). Returns the
    * number of samples appended (recorded vectors + ALERTS exports).
    */
  def tick(): Long = graft.store.Store.pinned {
    val now = nowNs()
    seed(now)
    var written = 0L
    val marks = scala.collection.mutable.ArrayBuffer[Rules.MarkRow]()
    for (kind <- Kinds;
         (ns, gs) <- sweep(kind, now);
         g <- gs) {
      val key = (kind, ns, g.name)
      val stepNs = math.max(1L, g.intervalS) * NsPerS
      // work in BUCKET space: the compilers evaluate on the floor-aligned
      // step grid (gridStart = ⌊start/step⌋·step, end-exclusive), so the
      // tick bookkeeping aligns too — consecutive ticks then tile the
      // grid exactly, never re-recording or skipping a bucket
      val nowBucket = (now / stepNs) * stepNs
      val last = lastEvalNs.getOrElse(key, nowBucket - stepNs)
      if (nowBucket > last) {
        // new grid points: (last, nowBucket]
        written += evalGroup(kind, ns, g, last + stepNs, nowBucket, now)
        lastEvalNs(key) = nowBucket
        marks += Rules.MarkRow(kind, ns, g.name, nowBucket)
      }
    }
    // persist ONCE per tick, after the appends: the old per-group persist
    // re-read and rewrote the whole marks table once per due group —
    // O(G²) row churn and two Spark jobs per group per tick. A crash
    // mid-tick now re-evaluates the tick's completed groups on restart,
    // which the idempotent writeback anti-join absorbs (same defense the
    // per-group persist relied on for its own crash window).
    if (marks.nonEmpty) Rules.saveMarks(spark, dir, marks.toSeq)
    written
  }

  /** List one engine's groups; a listing failure (the rules table itself
    * unreadable — a transient FS error on a poisoned config) must not
    * kill the loop OR vanish: it lands as a `_sweep` health row so the
    * rules-health surface shows the last sweep outcome, and the tick
    * continues with the other engine. When a failed sweep later
    * SUCCEEDS, the row flips to "ok" (one extra write on recovery only),
    * so a healed rules table doesn't read as permanently broken.
    */
  private val sweepFailed = TrieMap[String, Boolean]()
  private def sweep(kind: String,
      nowNsVal: Long): Seq[(String, Seq[Rules.RuleGroup])] =
    try {
      val gs = Rules.allGroups(spark, dir, kind).toSeq.sortBy(_._1)
      if (sweepFailed.getOrElse(kind, false)) {
        // clear the flag only AFTER the recovery "ok" lands: if this write
        // throws, the next successful sweep retries it instead of leaving
        // the _sweep row reading "err" forever while sweeps succeed
        try {
          Rules.saveHealth(spark, dir, Seq(Rules.HealthRow(kind,
            "_sweep", "_sweep", "_sweep", "ok", "", nowNsVal / 1000000L, 0.0)))
          sweepFailed(kind) = false
        } catch { case _: Exception => () }
      }
      gs
    } catch {
      case e: Exception =>
        val msg = Option(e.getMessage).getOrElse(e.toString)
        Console.err.println(s"graft ruler: $kind group sweep failed: $msg")
        sweepFailed(kind) = true
        try Rules.saveHealth(spark, dir, Seq(Rules.HealthRow(kind,
          "_sweep", "_sweep", "_sweep", "err", msg, nowNsVal / 1000000L, 0.0)))
        catch { case _: Exception => () } // health table may be down too
        Seq.empty
    }

  /** Evaluate one group over the grid points [startNs, lastPointNs] (both
    * bucket-aligned, inclusive). The engines' own grid conventions differ
    * at the edges (the LogQL/PromQL grids are floor-aligned end-exclusive,
    * the `vector(N)` shortcut is end-inclusive — both gate-pinned), so
    * every evaluated frame is clamped to exactly these points before the
    * append: the tick tiling stays exact regardless of engine.
    */
  private def evalGroup(kind: String, ns: String, g: Rules.RuleGroup,
      startNs: Long, lastPointNs: Long, nowNsVal: Long): Long = {
    var written = 0L
    val healths = g.rules.map { r =>
      val t0 = System.nanoTime()
      val name = if (r.isRecording) r.record else r.alert
      // a failing rule records health=err and must not block its group
      // siblings (`manager.go`: per-rule health, evaluation continues)
      val (health, err) =
        try {
          written +=
            (if (r.isRecording)
              recordWriteback(kind, r, g.intervalS, startNs, lastPointNs)
            else
              exportAlerts(kind, r, g.intervalS, startNs, lastPointNs))
          ("ok", "")
        } catch {
          case e: Exception =>
            ("err", Option(e.getMessage).getOrElse(e.toString))
        }
      Rules.HealthRow(kind, ns, g.name, name, health, err,
        nowNsVal / 1000000L, (System.nanoTime() - t0) / 1e9)
    }
    Rules.saveHealth(spark, dir, healths)
    written
  }

  /** Evaluate one recording rule on its OWN engine ([[Rules.evalVector]]
    * per kind) and write the vector back through the live metrics append
    * path — the [[Ruler.writeback]] semantics (labels per
    * [[Rules.recordLabels]]), engine-dispatched.
    */
  private def recordWriteback(kind: String, r: Rules.Rule, intervalS: Long,
      startNs: Long, lastPointNs: Long): Long = {
    val stepS = math.max(1L, intervalS)
    val out = Rules.evalVector(spark, dir, kind, r.expr,
        EvalParams(startNs, lastPointNs + stepS * NsPerS, stepS))
      .filter(col("ts") * NsPerS >= startNs &&
        col("ts") * NsPerS <= lastPointNs) // clamp to the tick's points
      .select(Rules.recordLabels(r.labels, r.record).as("labels"),
        (col("ts") * NsPerS).as("timestamp_ns"), col("value"))
      .withColumn("fingerprint",
        graft.model.Tables.fingerprintOf(col("labels")))
    appendNew(r.record, out, startNs, lastPointNs)
  }

  /** Idempotent writeback: drop rows whose (fingerprint, timestamp_ns)
    * already exist in the stored family over the tick window before
    * appending. A restart that lost the in-memory watermark (or a crash
    * between the append and the watermark persist) re-evaluates a bucket;
    * the raw append path would duplicate its grid points and every
    * `sum_over_time`/`increase` over them would double-count — the same
    * stored-state anti-join the ancestor-closure repair uses. The probe
    * scan is date-pruned to the tick window and the existing side is a
    * few grid points, so the guard is a broadcast anti-join, not a
    * table pass.
    */
  private def appendNew(name: String, rows: org.apache.spark.sql.DataFrame,
      startNs: Long, lastPointNs: Long): Long = {
    // no broadcast hint: in the normal path the existing side is a few
    // grid points (auto-broadcast), but a lost-marks catch-up over a long
    // window against a fingerprint-rich family can make it large — let
    // the planner pick the join strategy there
    val existing = graft.store.Store.promMetric(spark, dir, name, startNs,
      lastPointNs + 1)
    graft.store.Store.appendMetrics(spark, dir, rows.join(
      existing.select("fingerprint", "timestamp_ns").distinct(),
      Seq("fingerprint", "timestamp_ns"), "left_anti"))
  }

  /** Evaluate one alerting rule's state machine and push the NEW grid
    * points' firing/pending states as `ALERTS` samples. The state frame
    * is computed over a lookback long enough for `for`-episodes to
    * accumulate (forS + one extra interval before the first new point),
    * then filtered to ts > the previous tick's last point so each point
    * exports exactly once.
    */
  private def exportAlerts(kind: String, r: Rules.Rule, intervalS: Long,
      startNs: Long, lastPointNs: Long): Long = {
    val stepS = math.max(1L, intervalS)
    val forS = forSeconds(r.forDur)
    val lookbackNs = (forS + stepS) * NsPerS
    val grid = Rules.evalVector(spark, dir, kind, r.expr,
        EvalParams(startNs - lookbackNs, lastPointNs + stepS * NsPerS, stepS))
      .filter(col("ts") * NsPerS <= lastPointNs)
      .withColumn("fingerprint",
        graft.model.Tables.fingerprintOf(col("labels")))
    val frame = Ruler.alertStatesFrom(grid, r.alert, forS, stepS)
    val fresh = frame.filter(col("ts") * NsPerS >= startNs)
    val overlay = (r.labels ++ Map(
        "__name__" -> "ALERTS", "alertname" -> r.alert)).toSeq
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }
    val samples = fresh.select(
        graft.model.MapOps.update(col("labels"),
          map_concat(map(overlay: _*),
            map(lit("alertstate"), col("state")))).as("labels"),
        (col("ts") * NsPerS).as("timestamp_ns"),
        lit(1.0).as("value"))
      .withColumn("fingerprint",
        graft.model.Tables.fingerprintOf(col("labels")))
    appendNew("ALERTS", samples, startNs, lastPointNs)
  }

  /** Spec hook: the last evaluated grid point for a group, if any. */
  private[streaming] def lastEval(kind: String, ns: String,
      group: String): Option[Long] = lastEvalNs.get((kind, ns, group))

  /** Production timer: poll every `pollS` seconds on a daemon thread; a
    * failed pass must never kill the loop (same contract as the store
    * maintenance timer). Returns the scheduler service for shutdown.
    */
  def start(pollS: Long = 15)
      : java.util.concurrent.ScheduledExecutorService = {
    val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "graft-ruler"); t.setDaemon(true); t
      })
    ex.scheduleWithFixedDelay(() => {
      try tick(): Unit
      catch {
        // per-rule failures land in the health table and sweep failures
        // in a `_sweep` row; anything escaping those (e.g. the health
        // write itself) must not kill the loop, but must not vanish either
        case e: Throwable => Console.err.println(
          s"graft ruler: tick failed: ${Option(e.getMessage).getOrElse(e)}")
      }
    }, pollS, pollS, java.util.concurrent.TimeUnit.SECONDS)
    ex
  }
}
