package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.gates.EvalWindow._

/** Clock-driven scheduler loop (`ruler/manager.go:43-250` interval
  * tickers): groups fire on their own interval, recording rules write
  * back into the queryable store, alerting rules export ALERTS samples,
  * and `/api/v1/rules` health reflects the last evaluation.
  */
class RulerSchedulerSpec extends SparkSpec with graft.store.TempStores {

  /** Fresh store copy — the writeback appends mutate the dir's store, and
    * the shared sf0.001 store's contents are load-bearing elsewhere.
    */
  private def freshStore(): String = tempDataDir("graft-ruler")

  test("restart idempotency: a second scheduler instance re-seeds from " +
      "the persisted watermark and never re-records a bucket; even with " +
      "the watermark lost, the idempotent writeback absorbs the re-eval") {
    val dir = freshStore()
    Rules.setGroup(spark, dir, "loki", "ns", Rules.RuleGroup("wm", 60, Seq(
      Rules.Rule(record = "job:clicks:wm",
        expr = """sum(count_over_time({event_type="click"}[24h]))"""))))

    var now = (StartS + 86400L) * 1000000000L
    val sched1 = new RulerScheduler(spark, dir, () => now)
    assert(sched1.tick() == 1)

    // "restart" within the same bucket: fresh in-memory state, same clock
    // — without the persisted watermark this would re-seed one interval
    // back and re-append the bucket sched1 already recorded
    val sched2 = new RulerScheduler(spark, dir, () => now)
    assert(sched2.tick() == 0, "restarted scheduler re-recorded a bucket")
    assert(sched2.lastEval("loki", "ns", "wm").contains(now))

    // second line of defense: wipe the watermark table (the crash-between
    // -append-and-persist window) — the re-evaluation happens, but the
    // writeback anti-join drops every already-stored grid point
    def rmrf(f: java.io.File): Unit = if (f.exists) {
      Option(f.listFiles).foreach(_.foreach(rmrf)); f.delete(): Unit
    }
    rmrf(new java.io.File(Rules.rulesPath(dir) + "_marks"))
    val sched3 = new RulerScheduler(spark, dir, () => now)
    assert(sched3.tick() == 0, "idempotent writeback appended duplicates")

    // net effect: exactly one sample at the grid point
    val rec = graft.store.Store.promMetric(spark, dir, "job:clicks:wm",
      0, Long.MaxValue).collect()
    assert(rec.length == 1, rec.mkString("; "))

    // the next interval still evaluates exactly once (the anti-join and
    // watermark must not suppress genuinely new points)
    now += 60L * 1000000000L
    assert(sched3.tick() == 1)
    assert(graft.store.Store.promMetric(spark, dir, "job:clicks:wm",
      0, Long.MaxValue).count() == 2)

    // downtime catch-up: a scheduler relaunched THREE intervals later
    // back-fills the gap from its persisted watermark — all three missed
    // buckets in one range evaluation, each grid point exactly once
    now += 3L * 60L * 1000000000L
    val sched4 = new RulerScheduler(spark, dir, () => now)
    assert(sched4.tick() == 3, "catch-up must evaluate every missed bucket")
    val all = graft.store.Store.promMetric(spark, dir, "job:clicks:wm",
      0, Long.MaxValue).collect()
    assert(all.length == 5, all.mkString("; "))
    assert(all.map(_.getAs[Long]("timestamp_ns")).toSet.size == 5,
      "duplicate grid points after catch-up")
  }

  test("a failing group sweep records a _sweep health row and the loop " +
      "keeps running") {
    val dir = freshStore()
    // poison the rules table: a plain FILE at the table path makes the
    // parquet read fail for every listing
    val rp = new java.io.File(Rules.rulesPath(dir))
    rp.getParentFile.mkdirs()
    java.nio.file.Files.write(rp.toPath, "not parquet".getBytes("UTF-8"))
    val sched = new RulerScheduler(spark, dir,
      () => (StartS + 86400L) * 1000000000L)
    assert(sched.tick() == 0) // survives — no throw
    val sweepErr = Rules.loadHealth(spark, dir)
      .filter(h => h.namespace == "_sweep" && h.health == "err")
    assert(sweepErr.nonEmpty, "sweep failure left no visible artifact")
    // heal the table: the NEXT tick evaluates normally AND the stale
    // _sweep error flips to ok (a healed rules table must not read as
    // permanently broken)
    assert(rp.delete())
    Rules.setGroup(spark, dir, "loki", "ns", Rules.RuleGroup("ok", 60, Seq(
      Rules.Rule(record = "ok:rule", expr = "vector(5)"))))
    assert(sched.tick() == 1)
    val sweepAfter = Rules.loadHealth(spark, dir)
      .filter(_.namespace == "_sweep").map(h => h.kind -> h.health).toMap
    assert(sweepAfter.getOrElse("loki", "missing") == "ok", sweepAfter)
  }

  test("an unreadable marks table is re-read on a doubling tick interval " +
      "and logged once per failure streak") {
    val dir = freshStore()
    // a plain FILE at the marks path makes every marks load fail
    val marks = new java.io.File(Rules.rulesPath(dir) + "_marks")
    marks.getParentFile.mkdirs()
    java.nio.file.Files.write(marks.toPath, "not parquet".getBytes("UTF-8"))
    val sched = new RulerScheduler(spark, dir,
      () => (StartS + 86400L) * 1000000000L)
    val err = new java.io.ByteArrayOutputStream()
    Console.withErr(err) { for (_ <- 1 to 100) sched.tick(): Unit }
    // reads at ticks 1, 2, 4, …, 64: log2(100) + 1 of them
    assert(sched.marksReads == 7, s"${sched.marksReads} reads over 100 ticks")
    val logged = err.toString("UTF-8").linesIterator
      .count(_.contains("marks load failed"))
    assert(logged == 1, err.toString("UTF-8"))
  }

  test("scheduler ticks: each due tick writes exactly its grid points " +
      "back through the live append path; off-interval ticks are no-ops; " +
      "alerts export firing states; health records the evaluation") {
    val dir = freshStore()

    val g = Rules.RuleGroup("sched", 60, Seq(
      Rules.Rule(record = "job:clicks:count",
        expr = """sum(count_over_time({event_type="click"}[24h]))""",
        labels = Map("team" -> "obs")),
      Rules.Rule(alert = "ClicksPresent",
        expr = """sum(count_over_time({event_type="click"}[24h])) > 0""",
        forDur = "60s")))
    Rules.setGroup(spark, dir, "loki", "ns", g)

    var now = (StartS + 86400L) * 1000000000L // Jan 2, well inside the data
    val sched = new RulerScheduler(spark, dir, () => now)

    // tick 1: first evaluation — one grid point per rule
    val w1 = sched.tick()
    assert(w1 == 2, s"expected 1 recorded + 1 alert sample, got $w1")
    assert(sched.lastEval("loki", "ns", "sched").contains(now))

    // same clock: the group is not due — nothing written, last-eval fixed
    assert(sched.tick() == 0)
    assert(sched.lastEval("loki", "ns", "sched").contains(now))

    // one interval later: due again, exactly one more point per rule
    now += 60L * 1000000000L
    assert(sched.tick() == 2)
    assert(sched.lastEval("loki", "ns", "sched").contains(now))

    // the recorded family is live-queryable with the writeback label
    // precedence (sample < rule labels < __name__)
    val rec = graft.store.Store.promMetric(spark, dir, "job:clicks:count",
      0, Long.MaxValue).collect()
    assert(rec.length == 2, rec.mkString("; "))
    assert(rec.forall(_.getAs[Map[String, String]]("labels")
      .get("team").contains("obs")))
    assert(rec.map(_.getAs[Long]("timestamp_ns")).toSet ==
      Set(now, now - 60L * 1000000000L))

    // the alert held for ≥ forS across the lookback: state is firing,
    // exported as Prometheus-style ALERTS samples
    val alerts = graft.store.Store.promMetric(spark, dir, "ALERTS",
      0, Long.MaxValue).collect()
    assert(alerts.length == 2, alerts.mkString("; "))
    val al = alerts.map(_.getAs[Map[String, String]]("labels"))
    assert(al.forall(_.get("alertname").contains("ClicksPresent")))
    assert(al.forall(_.get("alertstate").contains("firing")), al.mkString("; "))

    // health rows carry the last evaluation (ok + timestamp > 0)
    val health = Rules.listRules(spark, dir, "loki")
      .select("rule_name", "health").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(health == Map("job:clicks:count" -> "ok", "ClicksPresent" -> "ok"),
      health)
    val groups = Rules.prometheusGroups(spark, dir, "loki")
    assert(groups.nonEmpty && groups.head.lastEvalMs == now / 1000000L)

    // a rule that fails records health=err without blocking the group
    Rules.setGroup(spark, dir, "loki", "ns2", Rules.RuleGroup("bad", 60, Seq(
      Rules.Rule(record = "broken:rule", expr = "{unclosed"),
      Rules.Rule(record = "ok:rule", expr = "vector(7)"))))
    now += 60L * 1000000000L
    val w3 = sched.tick() // sched group fires too (third point each)
    assert(w3 >= 3, s"$w3")
    val h2 = Rules.listRules(spark, dir, "loki")
      .select("rule_name", "health").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(h2("broken:rule") == "err" && h2("ok:rule") == "ok", h2)
    val v7 = graft.store.Store.promMetric(spark, dir, "ok:rule",
      0, Long.MaxValue).collect()
    assert(v7.length == 1 && v7(0).getAs[Double]("value") == 7.0)
  }
}
