package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.logql.{EvalParams, LogQLCompiler, LogQLParser}
import graft.promql.{PromParams, PromQLCompiler}

/** Rule-group storage + the recording-rule evaluation path
  * (`ruler/model.go:1-36`, `ruler/manager.go:43-250`,
  * `ruler/controller/controller.go`).
  *
  * Groups are namespaced configs (`NamespaceRuleGroups`), persisted as a
  * tiny parquet table per store; CRUD is read-modify-overwrite with the
  * working set collected to the driver first — rule configs are
  * human-authored and bounded, so this is config management, not
  * data-path work (the reference likewise serializes YAML into a single
  * config column).
  *
  * Evaluation semantics mirror the reference exactly:
  *   - only recording rules run — alerting rules are stored but never
  *     evaluated (`model.go:5-8`);
  *   - LogQL and PromQL rules each evaluate on their own engine
  *     (`router/init.go:91,100` builds one manager per engine);
  *   - the constant `vector(N)` shortcut skips the engine entirely
  *     (`logql_evaluator.go:44-57`);
  *   - writeback merges labels with rule labels overriding sample labels
  *     and `__name__` = record name overriding both (`writeback.go:13-41`).
  */
object Rules {

  final case class Rule(
      record: String = "", alert: String = "", expr: String = "",
      forDur: String = "", labels: Map[String, String] = Map.empty,
      annotations: Map[String, String] = Map.empty) {
    def isRecording: Boolean = record.nonEmpty
  }

  final case class RuleGroup(name: String, intervalS: Long, rules: Seq[Rule])

  final case class GroupRow(kind: String, namespace: String,
      name: String, intervalS: Long, rules: Seq[Rule])

  def rulesPath(dir: String): String =
    graft.store.Store.storeRoot + "/" +
      dir.replaceAll("[^a-zA-Z0-9.]+", "_") + "/rules"

  /** Rule storage is TENANT-KEYED: a scoped session (`spark.graft.tenant`
    * set from X-Scope-OrgID) reads and writes its own rule table — the
    * reference's ruler config lives in the per-tenant database the DSN
    * registry resolves, so org A's POST must never replace or list org
    * B's groups. Unscoped sessions keep the shared path.
    */
  def rulesPath(spark: SparkSession, dir: String): String =
    rulesPath(dir) + spark.conf.getOption("spark.graft.tenant")
      .map(t => "_tenant_" + t.replaceAll("[^a-zA-Z0-9.]+", "_"))
      .getOrElse("")

  private def load(spark: SparkSession, dir: String): Seq[GroupRow] = {
    // filesystem ops resolve through the Hadoop FileSystem for the rules
    // path's URI (like the store maintenance walks), so rule configs live
    // on HDFS/S3 in a cluster deployment exactly as on local disk
    val base = rulesPath(spark, dir)
    val (fs, live) = graft.store.Store.fsFor(base)
    // overwriteAtomic has a window between rename(live, trash) and
    // rename(tmp, live) where the live dir is absent; a reader landing
    // there (or a crash in the window) must fall back to the .trash copy
    // — the only surviving one — instead of observing an empty rule set
    val src =
      if (fs.exists(live)) Some(live)
      else Some(new Path(base + ".trash")).filter(fs.exists)
    src match {
      case None => Seq.empty
      case Some(p) =>
        import spark.implicits._
        spark.read.parquet(p.toString).as[GroupRow].collect().toSeq
    }
  }

  /** CRUD is read-modify-write over a tiny driver-side config table;
    * concurrent mutators would lose updates and Spark's Overwrite deletes
    * the directory before writing (a crash mid-save loses the table).
    * All mutations serialize on this lock and publish via temp-dir +
    * rename, so readers always see a complete table.
    */
  private val crudLock = new Object

  /** Write a fresh copy at `path + ".tmp"`, swap it in with renames:
    * the live directory is replaced in one rename, never truncated.
    */
  private def overwriteAtomic(path: String)(write: String => Unit): Unit = {
    val (fs, live) = graft.store.Store.fsFor(path)
    val tmp = new Path(path + ".tmp")
    val trash = new Path(path + ".trash")
    fs.delete(tmp, true): Unit
    fs.delete(trash, true): Unit
    write(tmp.toString)
    if (fs.exists(live) && !fs.rename(live, trash))
      throw new java.io.IOException(s"cannot move aside $path")
    if (!fs.rename(tmp, live))
      throw new java.io.IOException(s"cannot publish $path")
    fs.delete(trash, true): Unit
  }

  private def save(spark: SparkSession, dir: String,
      rows: Seq[GroupRow]): Unit = {
    import spark.implicits._
    overwriteAtomic(rulesPath(spark, dir)) { p =>
      spark.createDataset(rows).repartition(1)
        .write.mode(SaveMode.Overwrite).parquet(p)
    }
  }

  /** Create or replace one group (`controller.go` POST
    * `/api/v1/rules/{namespace}`).
    */
  def setGroup(spark: SparkSession, dir: String, kind: String,
      namespace: String, g: RuleGroup): Unit = crudLock.synchronized {
    val rest = load(spark, dir).filterNot(r =>
      r.kind == kind && r.namespace == namespace && r.name == g.name)
    save(spark, dir, rest :+ GroupRow(kind, namespace, g.name, g.intervalS, g.rules))
  }

  def groups(spark: SparkSession, dir: String, kind: String,
      namespace: String): Seq[RuleGroup] =
    load(spark, dir)
      .filter(r => r.kind == kind && r.namespace == namespace)
      .sortBy(_.name)
      .map(r => RuleGroup(r.name, r.intervalS, r.rules))

  /** All namespaces with their groups (`NamespaceRuleGroups`). */
  def allGroups(spark: SparkSession, dir: String,
      kind: String): Map[String, Seq[RuleGroup]] =
    load(spark, dir).filter(_.kind == kind)
      .groupBy(_.namespace)
      .view.mapValues(_.sortBy(_.name)
        .map(r => RuleGroup(r.name, r.intervalS, r.rules)).toSeq)
      .toMap

  def deleteGroup(spark: SparkSession, dir: String, kind: String,
      namespace: String, name: String): Unit = crudLock.synchronized {
    save(spark, dir, load(spark, dir).filterNot(r =>
      r.kind == kind && r.namespace == namespace && r.name == name))
  }

  def deleteNamespace(spark: SparkSession, dir: String, kind: String,
      namespace: String): Unit = crudLock.synchronized {
    save(spark, dir, load(spark, dir).filterNot(r =>
      r.kind == kind && r.namespace == namespace))
  }

  // --- per-rule evaluation health (`manager.go:36-41` RuleHealth,
  // kept keyed by namespace:group:record; persisted here so a restarted
  // service still reports the last outcome) ------------------------------

  final case class HealthRow(kind: String, namespace: String,
      group: String, rule: String, health: String, lastError: String,
      lastEvalMs: Long, evalTimeS: Double)

  private def healthPath(spark: SparkSession, dir: String): String =
    rulesPath(spark, dir) + "_health"

  private[streaming] def loadHealth(spark: SparkSession, dir: String): Seq[HealthRow] = {
    val (fs, p) = graft.store.Store.fsFor(healthPath(spark, dir))
    if (!fs.exists(p)) Seq.empty
    else {
      import spark.implicits._
      spark.read.parquet(p.toString).as[HealthRow].collect().toSeq
    }
  }

  private[streaming] def saveHealth(spark: SparkSession, dir: String,
      updates: Seq[HealthRow]): Unit = if (updates.nonEmpty) crudLock.synchronized {
    import spark.implicits._
    val keys = updates.map(h => (h.kind, h.namespace, h.group, h.rule)).toSet
    val rest = loadHealth(spark, dir).filterNot(h =>
      keys((h.kind, h.namespace, h.group, h.rule)))
    overwriteAtomic(healthPath(spark, dir)) { p =>
      spark.createDataset(rest ++ updates).repartition(1)
        .write.mode(SaveMode.Overwrite).parquet(p)
    }
  }

  /** Evict health rows whose rule no longer exists in the live rule set
    * (`manager.go` pruneHealth; `manager_test.go:132-152`): deleting or
    * replacing a group must not leave stale health behind.
    */
  def pruneHealth(spark: SparkSession, dir: String): Unit = crudLock.synchronized {
    val groups = load(spark, dir)
    val live = groups.flatMap(g => g.rules.map(r =>
      (g.kind, g.namespace, g.name,
        if (r.isRecording) r.record else r.alert))).toSet
    // the synthetic `_sweep` rows record the last SWEEP outcome per
    // engine, not per-rule health — they survive rule CRUD
    val (keep, drop) = loadHealth(spark, dir).partition(h =>
      h.namespace == "_sweep" || live((h.kind, h.namespace, h.group, h.rule)))
    if (drop.nonEmpty) {
      import spark.implicits._
      overwriteAtomic(healthPath(spark, dir)) { p =>
        spark.createDataset(keep).repartition(1)
          .write.mode(SaveMode.Overwrite).parquet(p)
      }
    }
    // scheduler watermarks are per-GROUP: drop the rows of deleted groups
    // so the marks table tracks the live rule set instead of growing with
    // every group that ever existed
    val liveGroups = groups.map(g => (g.kind, g.namespace, g.name)).toSet
    val marks = loadMarks(spark, dir)
    val keepMarks = marks.collect {
      case ((k, n, g), v) if liveGroups((k, n, g)) => MarkRow(k, n, g, v)
    }.toSeq
    if (keepMarks.size < marks.size) {
      import spark.implicits._
      overwriteAtomic(marksPath(spark, dir)) { p =>
        spark.createDataset(keepMarks).repartition(1)
          .write.mode(SaveMode.Overwrite).parquet(p)
      }
    }
  }

  // --- per-group scheduler watermarks (the last evaluated grid point,
  // persisted beside the health table so a RESTARTED scheduler resumes
  // after the buckets the previous process already recorded instead of
  // re-appending them — `appendMetrics` is an append, not an upsert) ----

  final case class MarkRow(kind: String, namespace: String,
      group: String, lastEvalNs: Long)

  private def marksPath(spark: SparkSession, dir: String): String =
    rulesPath(spark, dir) + "_marks"

  private[streaming] def loadMarks(spark: SparkSession,
      dir: String): Map[(String, String, String), Long] = {
    val base = marksPath(spark, dir)
    val (fs, live) = graft.store.Store.fsFor(base)
    // same crash-window fallback as [[load]]: a reader landing between
    // overwriteAtomic's two renames must see the .trash copy, not "never
    // evaluated" (which would re-record the last bucket)
    val src =
      if (fs.exists(live)) Some(live)
      else Some(new Path(base + ".trash")).filter(fs.exists)
    src match {
      case None => Map.empty
      case Some(p) =>
        import spark.implicits._
        spark.read.parquet(p.toString).as[MarkRow].collect()
          .map(m => (m.kind, m.namespace, m.group) -> m.lastEvalNs).toMap
    }
  }

  private[streaming] def saveMarks(spark: SparkSession, dir: String,
      updates: Seq[MarkRow]): Unit = if (updates.nonEmpty) crudLock.synchronized {
    import spark.implicits._
    val keys = updates.map(m => (m.kind, m.namespace, m.group)).toSet
    val rest = loadMarks(spark, dir).collect {
      case ((k, n, g), v) if !keys((k, n, g)) => MarkRow(k, n, g, v)
    }.toSeq
    overwriteAtomic(marksPath(spark, dir)) { p =>
      spark.createDataset(rest ++ updates).repartition(1)
        .write.mode(SaveMode.Overwrite).parquet(p)
    }
  }

  /** `/api/v1/rules` listing in the Prometheus shape — one row per rule
    * with its group/file coordinates and last evaluation outcome
    * (`manager.go:12-41` PrometheusRule/PrometheusGroup/RuleHealth;
    * never-evaluated rules report "unknown").
    */
  def listRules(spark: SparkSession, dir: String, kind: String): DataFrame = {
    import spark.implicits._
    val health = loadHealth(spark, dir)
      .map(h => (h.kind, h.namespace, h.group, h.rule) -> h).toMap
    load(spark, dir).filter(_.kind == kind)
      .flatMap(g => g.rules.map { r =>
        val name = if (r.isRecording) r.record else r.alert
        val h = health.get((kind, g.namespace, g.name, name))
        (g.namespace, g.name, g.intervalS, name, r.expr,
          if (r.isRecording) "recording" else "alerting",
          h.map(_.health).getOrElse("unknown"),
          h.map(_.lastError).getOrElse(""),
          h.map(_.evalTimeS).getOrElse(0.0))
      })
      .toDF("file", "group_name", "interval_s", "rule_name", "query",
        "rule_type", "health", "last_error", "eval_time_s")
      .orderBy("file", "group_name", "rule_name")
  }

  // --- HTTP wire forms (`ruler/controller/controller.go`,
  // `ruler/model.go:8-29`, `ruler/manager.go:12-33,251-310`) --------------

  /** Parse a Go-duration-ish interval ("1m", "30s", bare seconds) to
    * seconds, the storage unit.
    */
  def parseIntervalS(s: String): Long = {
    val unit = "([0-9.]+)(ms|s|m|h|d)".r
    val parts = unit.findAllMatchIn(s).toSeq
    if (parts.nonEmpty && parts.map(_.matched).mkString == s) {
      val mult = Map("ms" -> 0.001, "s" -> 1.0, "m" -> 60.0,
        "h" -> 3600.0, "d" -> 86400.0)
      math.max(1L,
        parts.map(m => m.group(1).toDouble * mult(m.group(2))).sum.toLong)
    } else math.max(1L, s.toDouble.toLong)
  }

  private def unquote(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && ((t.head == '"' && t.last == '"') ||
        (t.head == '\'' && t.last == '\'')))
      t.drop(1).dropRight(1).replace("\\\"", "\"").replace("\\\\", "\\")
    else t
  }

  /** Parse one rule-group YAML body (the POST /api/v1/rules/{ns} payload,
    * `ruler/model.go`'s schema: name, interval, rules[record|alert, expr,
    * for, labels, annotations]). Block style, the form promtool and the
    * reference's own fixtures use; throws IllegalArgumentException on a
    * nameless group so the route 400s like the reference's yaml error.
    */
  def parseGroupYaml(body: String): RuleGroup = {
    val lines = body.linesIterator.map(_.replace("\t", "  "))
      .filter(l => l.trim.nonEmpty && !l.trim.startsWith("#")).toVector
    def indent(l: String) = l.takeWhile(_ == ' ').length
    def kv(l: String): (String, String) = {
      val t = l.trim
      val j = t.indexOf(':')
      if (j < 0) (t, "") else (t.take(j).trim, unquote(t.drop(j + 1)))
    }
    var name = ""
    var intervalS = 60L
    val rules = scala.collection.mutable.ArrayBuffer[Rule]()
    var i = 0
    while (i < lines.length) {
      if (indent(lines(i)) == 0) {
        val (k, v) = kv(lines(i))
        k match {
          case "name" => name = v; i += 1
          case "interval" if v.nonEmpty => intervalS = parseIntervalS(v); i += 1
          case "rules" =>
            i += 1
            while (i < lines.length && lines(i).trim.startsWith("- ")) {
              val itemIndent = indent(lines(i))
              val item = scala.collection.mutable.ArrayBuffer(
                lines(i).replaceFirst("- ", "  "))
              i += 1
              while (i < lines.length && indent(lines(i)) > itemIndent &&
                  !lines(i).trim.startsWith("- ")) {
                item += lines(i); i += 1
              }
              var r = Rule()
              var j = 0
              while (j < item.length) {
                val (k2, v2) = kv(item(j))
                k2 match {
                  case "record" => r = r.copy(record = v2); j += 1
                  case "alert" => r = r.copy(alert = v2); j += 1
                  case "expr" => r = r.copy(expr = v2); j += 1
                  case "for" => r = r.copy(forDur = v2); j += 1
                  case "labels" | "annotations" =>
                    val mapIndent = indent(item(j))
                    j += 1
                    val m = scala.collection.mutable.LinkedHashMap[String, String]()
                    while (j < item.length && indent(item(j)) > mapIndent) {
                      val (k3, v3) = kv(item(j)); m(k3) = v3; j += 1
                    }
                    if (k2 == "labels") r = r.copy(labels = m.toMap)
                    else r = r.copy(annotations = m.toMap)
                  case _ => j += 1
                }
              }
              rules += r
            }
          case _ => i += 1
        }
      } else i += 1
    }
    if (name.isEmpty)
      throw new IllegalArgumentException("failed to parse rule group yaml")
    RuleGroup(name, intervalS, rules.toSeq)
  }

  private def yamlStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** One group as YAML (the GET /{ns}/{group} body), `indentBy` spaces of
    * leading indent so the namespace listings can nest it.
    */
  def groupToYaml(g: RuleGroup, indentBy: Int = 0): String = {
    val pad = " " * indentBy
    val sb = new StringBuilder
    sb ++= s"${pad}name: ${g.name}\n"
    sb ++= s"${pad}interval: ${g.intervalS}s\n"
    sb ++= s"${pad}rules:\n"
    for (r <- g.rules) {
      val head = if (r.isRecording) s"record: ${r.record}"
        else s"alert: ${r.alert}"
      sb ++= s"$pad  - $head\n"
      sb ++= s"$pad    expr: ${yamlStr(r.expr)}\n"
      if (r.forDur.nonEmpty) sb ++= s"$pad    for: ${r.forDur}\n"
      if (r.labels.nonEmpty) {
        sb ++= s"$pad    labels:\n"
        for ((k, v) <- r.labels.toSeq.sorted)
          sb ++= s"$pad      $k: ${yamlStr(v)}\n"
      }
      if (r.annotations.nonEmpty) {
        sb ++= s"$pad    annotations:\n"
        for ((k, v) <- r.annotations.toSeq.sorted)
          sb ++= s"$pad      $k: ${yamlStr(v)}\n"
      }
    }
    sb.result()
  }

  /** Namespace→groups map as YAML (GET /rules and /rules/{ns} bodies). */
  def namespacesToYaml(m: Map[String, Seq[RuleGroup]]): String = {
    val sb = new StringBuilder
    for ((ns, gs) <- m.toSeq.sortBy(_._1)) {
      sb ++= s"$ns:\n"
      for (g <- gs) {
        val y = groupToYaml(g, indentBy = 4)
        sb ++= y.replaceFirst("    name:", "  - name:")
      }
    }
    sb.result()
  }

  /** Driver-side rows for the Prometheus `/api/v1/rules` JSON listing
    * (`manager.go:251-310` GetPrometheusRules): recording rules only,
    * group lastEvaluation = max over its rules, evaluationTime = sum.
    */
  final case class PromRuleWire(name: String, query: String,
      labels: Map[String, String], health: String, lastError: String,
      lastEvalMs: Long, evalTimeS: Double)
  final case class PromGroupWire(name: String, file: String,
      intervalS: Long, rules: Seq[PromRuleWire], lastEvalMs: Long,
      evalTimeS: Double)

  def prometheusGroups(spark: SparkSession, dir: String,
      kind: String): Seq[PromGroupWire] = {
    val health = loadHealth(spark, dir)
      .map(h => (h.kind, h.namespace, h.group, h.rule) -> h).toMap
    load(spark, dir).filter(_.kind == kind)
      .sortBy(g => (g.namespace, g.name))
      .flatMap { g =>
        val rules = g.rules.filter(_.isRecording).map { r =>
          val h = health.get((kind, g.namespace, g.name, r.record))
          PromRuleWire(r.record, r.expr, r.labels,
            h.map(_.health).getOrElse("unknown"),
            h.map(_.lastError).getOrElse(""),
            h.map(_.lastEvalMs).getOrElse(0L),
            h.map(_.evalTimeS).getOrElse(0.0))
        }
        if (rules.isEmpty) None
        else Some(PromGroupWire(g.name, g.namespace, g.intervalS, rules,
          rules.map(_.lastEvalMs).max, rules.map(_.evalTimeS).sum))
      }
  }

  private val VectorRe = """(?i)^\s*vector\(\s*([0-9.]+)\s*\)\s*$""".r

  /** Evaluate one rule expression over the eval grid on the engine the
    * group's manager owns → (labels map, ts seconds, value).
    */
  def evalVector(spark: SparkSession, dir: String, kind: String,
      expr0: String, params: EvalParams): DataFrame = expr0 match {
    case VectorRe(n) =>
      // constant vector: one unlabelled sample per eval point, no engine
      // (`logql_evaluator.go:44-57`)
      spark.range(params.startNs / 1000000000L,
          params.endNs / 1000000000L + 1, params.stepS)
        .select(
          map().cast("map<string,string>").as("labels"),
          col("id").as("ts"),
          lit(n.toDouble).as("value"))
    case _ if kind == "prom" =>
      new PromQLCompiler(spark, dir,
          PromParams(params.startNs, params.endNs, params.stepS))
        .compile(expr0)
        .select(col("labels"), col("ts"), col("value"))
    case _ =>
      new LogQLCompiler(spark, dir, params)
        .compileMetric(LogQLParser.parseOrThrow(expr0))
        .select(col("labels"), col("ts"), col("value"))
  }

  /** The labels of a recorded sample (`writeback.go:13-41`): the sample's
    * own `labels` < the rule's static labels < `__name__` = the record
    * name. Every recording-rule writer applies this one overlay.
    */
  def recordLabels(ruleLabels: Map[String, String], record: String): Column =
    graft.model.MapOps.update(col("labels"),
      map((ruleLabels + ("__name__" -> record)).toSeq
        .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*))

  /** Evaluate every RECORDING rule of a group over the grid and append the
    * results to the recorded-samples store, labelled by [[recordLabels]].
    * Returns samples written.
    */
  def recordGroup(spark: SparkSession, dir: String, kind: String,
      namespace: String, groupName: String, params: EvalParams): Long = {
    val g = groups(spark, dir, kind, namespace).find(_.name == groupName)
      .getOrElse(throw new IllegalArgumentException(
        s"no rule group $kind/$namespace/$groupName"))
    var written = 0L
    val healths = g.rules.filter(_.isRecording).map { r =>
      val t0 = System.nanoTime()
      // a failing rule records health=err and must not block its group
      // siblings (`manager.go`: per-rule health, evaluation continues)
      val (health, err) =
        try {
          val out = evalVector(spark, dir, kind, r.expr, params)
            .select(recordLabels(r.labels, r.record).as("labels"),
              (col("ts") * 1000000000L).as("timestamp_ns"),
              col("value"))
            .withColumn("fingerprint",
              graft.model.Tables.fingerprintOf(col("labels")))
            .cache()
          written += out.count()
          out.write.mode(SaveMode.Append)
            .parquet(Ruler.recordedPath(spark, dir))
          out.unpersist()
          ("ok", "")
        } catch {
          case e: Exception => ("err", Option(e.getMessage).getOrElse(e.toString))
        }
      HealthRow(kind, namespace, groupName, r.record, health, err,
        System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9)
    }
    saveHealth(spark, dir, healths)
    // the reference prunes on every evaluation pass (evaluateInterval)
    pruneHealth(spark, dir)
    written
  }
}
