package graft.prof

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Materialize, Tables}

/** Profiling (Pyroscope) slice (SURVEY §2.F): the profiles table carries a
  * pre-flattened call tree per profile — rows of
  * (parent_id, node_id, fn, self, total), exactly the reference's
  * `tree Array(Tuple(UInt64,UInt64,UInt64,Array(...)))` shape
  * (`ctrl/qryn/sql/profiles.sql:5-17`). Merging flamegraphs across
  * profiles is then explode + groupBy (`planner_merge_raw.go:18-53`,
  * `planner_merge_joined.go:12`): node identity (parent, node, fn) is the
  * merge key, self/total sum.
  *
  * The synthetic derivation (3-level stack per event) is pure arithmetic
  * so the DuckDB oracle replays it exactly.
  */
object Profiles {

  /** Materialized-store read of the profiles table (date-partitioned,
    * service-sorted — Store.ensure). Query planners go through here so the
    * scan is pruned, not derived per query.
    */
  def profiles(spark: SparkSession, dir: String,
      loNs: Long = 0L, hiNs: Long = Long.MaxValue): DataFrame =
    graft.store.Store.profiles(spark, dir, loNs, hiNs).drop("date")

  /** One profile per event: service + a 3-node call tree
    * main → <event_type> → op<user_id%3>, with self-costs derived from the
    * event value (ns). This is the ingest-side derivation the store
    * materializes once.
    *
    * Alongside the tree the row carries the series metadata the reference
    * stores on `profiles_series` (`ctrl/qryn/sql/profiles.sql:19-49`):
    * `type_id` = "name:period_type:period_unit", `sample_types_units` =
    * the (type, unit) pairs of the profile's value columns, and `tags` =
    * the label set the Pyroscope label APIs enumerate. The synthetic
    * derivation is pure arithmetic over the event row so the DuckDB
    * oracle replays it exactly.
    */
  def derive(spark: SparkSession, dir: String): DataFrame = {
    val mid = col("user_id") % 100
    val leaf = round(col("value") * 1000, 0).cast("long")
    val isCpu = col("event_type").isin("click", "view", "signup")
    Tables.events(spark, dir).select(
      col("event_id").as("profile_id"),
      concat(lit("svc"), (col("user_id") % 5).cast("string")).as("service_name"),
      (col("ts") - pmod(col("ts"), lit(1000L))).as("timestamp_ns"),
      when(isCpu, lit("process_cpu:cpu:nanoseconds"))
        .otherwise(lit("memory:space:bytes")).as("type_id"),
      when(isCpu, array(
          struct(lit("cpu").as("stype"), lit("nanoseconds").as("unit")),
          struct(lit("samples").as("stype"), lit("count").as("unit"))))
        .otherwise(array(
          struct(lit("alloc_space").as("stype"), lit("bytes").as("unit")),
          struct(lit("alloc_objects").as("stype"), lit("count").as("unit"))))
        .as("sample_types_units"),
      array(
        struct(lit("service_name").as("key"),
          concat(lit("svc"), (col("user_id") % 5).cast("string")).as("val")),
        struct(lit("event_type").as("key"), col("event_type").as("val")),
        struct(lit("host").as("key"),
          concat(lit("host"), (col("user_id") % 7).cast("string")).as("val")))
        .as("tags"),
      array(
        struct(lit(0L).as("parent"), lit(1L).as("node"), lit("main").as("fn"),
          lit(0L).as("self"), (mid + leaf).as("total")),
        struct(lit(1L).as("parent"), lit(2L).as("node"), col("event_type").as("fn"),
          mid.as("self"), (mid + leaf).as("total")),
        struct(lit(2L).as("parent"), lit(3L).as("node"),
          concat(lit("op"), (col("user_id") % 3).cast("string")).as("fn"),
          leaf.as("self"), leaf.as("total"))).as("tree"))
  }

  /** Merged call tree for a service: explode tree → groupBy node identity
    * → sum self/total (the flamegraph merge aggregation).
    */
  def mergeTree(spark: SparkSession, dir: String, service: String): DataFrame =
    profiles(spark, dir)
      .filter(col("service_name") === service)
      .select(explode(col("tree")).as("n"))
      .groupBy(col("n.parent").as("parent"), col("n.node").as("node"),
        col("n.fn").as("fn"))
      .agg(sum(col("n.self")).as("self"), sum(col("n.total")).as("total"))

  /** Flamegraph level assembly (`service/prof_tree.go:21-656` BFS): assign
    * each merged node its depth via iterative frontier joins from the
    * roots. The merged tree is post-aggregation (small — unique node
    * identities), so the depth-bounded driver loop is the same shape as
    * the reference's Go-side assembly after the merge query.
    */
  def flamegraphLevels(merged: DataFrame, maxDepth: Int = 64): DataFrame =
    assignLevels(merged, maxDepth)
      .select(col("level"), col("fn"), col("self"), col("total"))

  /** BFS depth assignment over any (parent, node, ...) tree frame: roots
    * (parent=0) get level 0, children their parent's level + 1. All other
    * columns pass through. The input is post-aggregation (small — unique
    * node identities), so the depth-bounded driver loop is the same shape
    * as the reference's Go-side assembly after the merge query; the
    * Materialize() point computes the merge once so each BFS level joins
    * the computed result instead of re-running the aggregation per level.
    */
  private def assignLevels(tree0: DataFrame, maxDepth: Int): DataFrame = {
    val cols = tree0.columns
    val tree = Materialize(tree0)
    var frontier = Materialize(tree.filter(col("parent") === 0L)
      .withColumn("level", lit(0L)))
    var acc = frontier
    var depth = 0
    var done = frontier.isEmpty
    while (depth < maxDepth && !done) {
      val next0 = tree.as("m")
        .join(frontier.select(col("node").as("__p"), col("level")).distinct(),
          col("m.parent") === col("__p"))
        .select(cols.map(c => col("m." + c).as(c)) :+
          (col("level") + 1).as("level"): _*)
      val next = Materialize(next0)
      if (next.isEmpty) done = true
      else { acc = acc.unionByName(next); frontier = next }
      depth += 1
    }
    acc
  }

  /** Flamegraph comparison view (`computeFlameGraphDiff`,
    * `reader/service/prof_tree.go:21-656`): merge each side's profiles,
    * full-outer-join on node identity (parent, node, fn) with the missing
    * side zero-filled, then assign BFS levels over the COMBINED node set so
    * both sides agree on depth even where one side lacks a subtree.
    */
  def flamegraphDiff(spark: SparkSession, dir: String,
      leftService: String, rightService: String,
      maxDepth: Int = 64): DataFrame =
    flamegraphDiffTrees(mergeTree(spark, dir, leftService),
      mergeTree(spark, dir, rightService), maxDepth)

  /** Diff core over two already-merged trees (any pair of selectors). */
  def flamegraphDiffTrees(left: DataFrame, right: DataFrame,
      maxDepth: Int = 64): DataFrame = {
    val l = left
      .withColumnRenamed("self", "self_left")
      .withColumnRenamed("total", "total_left")
    val r = right
      .withColumnRenamed("self", "self_right")
      .withColumnRenamed("total", "total_right")
    val joined = l.join(r, Seq("parent", "node", "fn"), "full_outer")
      .na.fill(0L, Seq("self_left", "total_left", "self_right", "total_right"))
    assignLevels(joined, maxDepth)
      .select(col("level"), col("fn"),
        col("self_left"), col("total_left"),
        col("self_right"), col("total_right"))
  }

  /** Graphviz DOT render of a merged tree (`ToDot`,
    * `reader/service/prof_tree.go:512-652`): BFS from a synthetic total
    * root, per node a heat-colored box (self share drives fill + font
    * size), per edge the total-share percentage as label and weight;
    * maxNodes keeps the top-N children by total. The merged tree is
    * post-aggregation (bounded by unique node identities) and the output
    * is a string report, so the bounded collect here is the same
    * driver-side assembly the reference performs after its merge query.
    */
  def toDot(merged: DataFrame, title: String = "flamegraph",
      unit: String = "samples", maxNodes: Int = 0): String = {
    val rows0 = merged.select(col("parent"), col("node"), col("fn"),
        col("self"), col("total"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
      .sortBy { case (_, _, fn, _, total) => (-total, fn) }
    val rows = if (maxNodes > 0) rows0.take(maxNodes) else rows0
    val totalVal = rows.filter(_._1 == 0L).map(_._5).sum
    def pct(v: Long): Double =
      if (totalVal == 0) 0.0 else v.toDouble / totalVal * 100
    def heat(self: Long): String = // prof_tree.go:654-668 0% gray → 100% red
      if (totalVal == 0 || self == 0) "#f8f8f8"
      else {
        val ratio = math.min(1.0, self.toDouble / totalVal)
        f"#ff${(0xf8 * (1 - ratio)).toInt}%02x${(0xf8 * (1 - ratio)).toInt}%02x"
      }
    def fontSize(self: Long): Int = // prof_tree.go:501-510
      if (totalVal == 0 || self == 0) 8
      else 8 + (math.min(1.0, self.toDouble / totalVal) * 16).toInt
    val byParent = rows.groupBy(_._1)
    val sb = new StringBuilder
    sb ++= s"""digraph "$title" {\n"""
    sb ++= s"  // Total: $totalVal $unit\n"
    sb ++= "  node [shape=box];\n  edge [fontsize=10];\n"
    sb ++= s"""  N0 [label="total\\n$totalVal $unit (100%)" fontsize=12 style=filled fillcolor="#eeeeee"];\n"""
    val seq = scala.collection.mutable.Map(0L -> 0)
    var next = 1
    val queue = scala.collection.mutable.Queue(0L)
    val seen = scala.collection.mutable.Set(0L)
    while (queue.nonEmpty) {
      val p = queue.dequeue()
      for ((_, node, fn, self, total) <- byParent.getOrElse(p, Array.empty)
           if !seen(node)) {
        seen += node
        val id = next; next += 1; seq(node) = id
        val label = f"$fn\\ntotal: $total $unit (${pct(total)}%.1f%%) " +
          f"self: $self $unit (${pct(self)}%.1f%%)"
        sb ++= s"""  N$id [label="$label" fontsize=${fontSize(self)} style=filled fillcolor="${heat(self)}"];\n"""
        sb ++= f"""  N${seq(p)} -> N$id [label="${pct(total)}%.1f%%" weight=${math.max(1, pct(total).toInt)}];\n"""
        queue += node
      }
    }
    sb ++= "}\n"
    sb.toString
  }

  /** `/pyroscope/analyze` size estimate (ProfileSizePlanner,
    * `prof_transpiler/planner_profiles_size.go:15-52`): the reference
    * returns (sum of stored payload bytes, exact fingerprint count) for a
    * selector. Our store holds decoded tree rows, not payload blobs, so
    * the size estimate is the canonical row encoding — 4 longs + the
    * function name per node — and the fingerprint analog is the service
    * dictionary.
    */
  def analyze(spark: SparkSession, dir: String,
      service: Option[String] = None): DataFrame = {
    val base = profiles(spark, dir)
    val sel = service.fold(base)(s => base.filter(col("service_name") === s))
    sel.select(col("service_name"), explode(col("tree")).as("n"))
      .agg(
        sum(lit(32) + length(col("n.fn"))).cast("long").as("profile_size"),
        countDistinct(col("service_name")).as("fingerprint_count"))
  }

  /** `/querier.v1.QuerierService/ProfileTypes`
    * (`reader/service/prof.go:33-84`): distinct (type_id ×
    * sample_type_unit) over the window, each expanded to the 5-part
    * Pyroscope type ID `name:sample_type:sample_unit:period_type:
    * period_unit`. The series metadata is tiny after distinct, so this is
    * a dictionary scan, not a fact scan.
    */
  def profileTypes(spark: SparkSession, dir: String,
      loNs: Long = 0L, hiNs: Long = Long.MaxValue): DataFrame = {
    val p = split(col("type_id"), ":")
    profiles(spark, dir, loNs, hiNs)
      .select(col("type_id"), explode(col("sample_types_units")).as("stu"))
      .select(
        p.getItem(0).as("name"),
        col("stu.stype").as("sample_type"),
        col("stu.unit").as("sample_unit"),
        p.getItem(1).as("period_type"),
        p.getItem(2).as("period_unit"))
      .distinct()
      .select(
        concat_ws(":", col("name"), col("sample_type"), col("sample_unit"),
          col("period_type"), col("period_unit")).as("id"),
        col("name"), col("sample_type"), col("sample_unit"),
        col("period_type"), col("period_unit"))
      .orderBy("id")
  }

  /** `/querier.v1.QuerierService/LabelNames`
    * (`prof_transpiler/planner_label_names.go:13-15`): distinct tag keys
    * of the profiles matching the (optional) service selector.
    */
  def labelNames(spark: SparkSession, dir: String,
      service: Option[String] = None,
      loNs: Long = 0L, hiNs: Long = Long.MaxValue): DataFrame = {
    val base = profiles(spark, dir, loNs, hiNs)
    val sel = service.fold(base)(s => base.filter(col("service_name") === s))
    sel.select(explode(col("tags")).as("t"))
      .select(col("t.key").as("name")).distinct().orderBy("name")
  }

  /** `/querier.v1.QuerierService/LabelValues`
    * (`prof_transpiler/planner_label_values.go:14-21`): distinct values of
    * one tag key, same selector scoping as labelNames.
    */
  def labelValues(spark: SparkSession, dir: String, key: String,
      service: Option[String] = None,
      loNs: Long = 0L, hiNs: Long = Long.MaxValue): DataFrame = {
    val base = profiles(spark, dir, loNs, hiNs)
    val sel = service.fold(base)(s => base.filter(col("service_name") === s))
    sel.select(explode(col("tags")).as("t"))
      .filter(col("t.key") === key)
      .select(col("t.val").as("value")).distinct().orderBy("value")
  }

  /** `/querier.v1.QuerierService/Series`
    * (`planner_select_time_series.go:16`, `planner_distinct_time_series
    * .go:13`): the DISTINCT label sets of profiles matching the selector —
    * the Pyroscope series dictionary. Tags pivot to one column per key so
    * the set identity is the row, the same `distinct over a dictionary
    * scan` shape as the LogQL series API.
    */
  def seriesLabels(spark: SparkSession, dir: String,
      service: Option[String] = None,
      loNs: Long = 0L, hiNs: Long = Long.MaxValue): DataFrame = {
    val base = profiles(spark, dir, loNs, hiNs)
    val sel = service.fold(base)(s => base.filter(col("service_name") === s))
    val kv = map_from_entries(col("tags"))
    sel.select(
        kv.getItem("service_name").as("service_name"),
        kv.getItem("event_type").as("event_type"),
        kv.getItem("host").as("host"))
      .distinct()
      .orderBy("service_name", "event_type", "host")
  }

  /** `/querier.v1.QuerierService/GetProfileStats`
    * (`reader/service/prof.go:334-420`): has-any-data flag plus oldest /
    * newest profile time in epoch milliseconds. The reference bounds the
    * min/max scan to the first/last date partitions; here parquet
    * min/max footer stats give the same one-pass answer.
    */
  def profileStats(spark: SparkSession, dir: String): DataFrame =
    profiles(spark, dir).agg(
      max(lit(1)).as("non_empty"),
      floor(min(col("timestamp_ns")) / 1000000L).cast("long").as("oldest_ms"),
      floor(max(col("timestamp_ns")) / 1000000L).cast("long").as("newest_ms"))

  // --- Pyroscope render assembly (`reader/service/prof_tree.go:145-410`,
  // served at `/pyroscope/render{,-diff}` by `reader/router/prof.go`) ----

  /** Flamebearer payload: interned names + per-level value quads (single:
    * [offsetDelta, total, self, nameIdx]; diff: 7-tuples).
    */
  final case class Flamebearer(names: Seq[String], levels: Seq[Seq[Long]],
      numTicks: Long, maxSelf: Long,
      leftTicks: Long = 0L, rightTicks: Long = 0L)

  /** Merged tree filtered by a Pyroscope render query: `typeId{selector}`.
    * A 5-part type id (`name:stype:sunit:ptype:punit`) matches the store's
    * 3-part `type_id` (name:ptype:punit) plus a sample_types_units
    * membership check; a 3-part id matches type_id directly. Matcher ops
    * =, !=, =~, !~ over the tag map.
    */
  def mergeTreeQuery(spark: SparkSession, dir: String, typeId: String,
      matchers: Seq[(String, String, String)],
      loNs: Long = 0L, hiNs: Long = Long.MaxValue): DataFrame = {
    val base = profiles(spark, dir, loNs, hiNs)
    val parts = typeId.split(":")
    val typed =
      if (parts.length >= 5)
        base.filter(col("type_id") ===
            s"${parts(0)}:${parts(3)}:${parts(4)}" &&
          exists(col("sample_types_units"), stu =>
            stu.getField("stype") === parts(1) &&
              stu.getField("unit") === parts(2)))
      else base.filter(col("type_id") === typeId)
    val tags = map_from_entries(col("tags"))
    val selected = matchers.foldLeft(typed) { case (df, (k, op, v)) =>
      val tag = coalesce(element_at(tags, k), lit(""))
      df.filter(op match {
        case "="  => tag === v
        case "!=" => tag =!= v
        case "=~" => tag.rlike("^(?:" + v + ")$")
        case "!~" => !tag.rlike("^(?:" + v + ")$")
      })
    }
    selected.select(explode(col("tree")).as("n"))
      .groupBy(col("n.parent").as("parent"), col("n.node").as("node"),
        col("n.fn").as("fn"))
      .agg(sum(col("n.self")).as("self"), sum(col("n.total")).as("total"))
  }

  /** `{key="v",key!="v",key=~"re",key!~"re"}` → matcher triples; the
    * subset the render query scripts use.
    */
  def parseSelector(sel: String): Seq[(String, String, String)] = {
    val m = """([a-zA-Z_][a-zA-Z0-9_.]*)\s*(=~|!~|!=|=)\s*"((?:[^"\\]|\\.)*)"""".r
    m.findAllMatchIn(sel).map(x =>
      (x.group(1), x.group(2),
        x.group(3).replace("\\\"", "\"").replace("\\\\", "\\"))).toSeq
  }

  /** Single-tree flamebearer BFS (`prof_tree.go:145-215` exactly): a
    * synthetic "total" root level, then per level one [prepend, total,
    * self, nameIdx] quad per node, `prepend` carrying the x-offset debt of
    * childless subtrees and parents' self. The merged node set is
    * post-aggregation small — driver assembly like [[toDot]].
    */
  def flamebearer(merged: DataFrame): Flamebearer = {
    val rows = merged.select(col("parent"), col("node"), col("fn"),
      col("self"), col("total")).collect()
    val children = rows.groupBy(_.getLong(0)).map { case (p, rs) =>
      p -> rs.sortBy(r => (r.getString(2), r.getLong(1))) }
    val names = scala.collection.mutable.ArrayBuffer("total", "n/a")
    val nameIdx = scala.collection.mutable.HashMap("total" -> 0, "n/a" -> 1)
    def intern(fn: String): Long =
      nameIdx.getOrElseUpdate(fn, { names += fn; names.size - 1 }).toLong
    val rootKids = children.getOrElse(0L, Array.empty)
    val total = rootKids.map(_.getLong(4)).sum
    val maxSelf = if (rows.isEmpty) 0L else rows.map(_.getLong(3)).max
    val levels = scala.collection.mutable.ArrayBuffer[Seq[Long]](
      Seq(0L, total, 0L, 0L))
    // (node, self, total) — the synthetic root carries the grand total
    var current = Seq((0L, 0L, total))
    val prependMap = scala.collection.mutable.HashMap(0L -> 0L)
    val reviewed = scala.collection.mutable.HashSet[Long]()
    while (current.nonEmpty) {
      var prepend = 0L
      val lvl = scala.collection.mutable.ArrayBuffer[Long]()
      val next = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      for ((node, self, tot) <- current) {
        prepend += prependMap.getOrElse(node, 0L)
        children.get(node) match {
          case None => prepend += tot
          case Some(cs) =>
            for (c <- cs) {
              val cid = c.getLong(1)
              if (reviewed(cid)) // cycle guard, as the reference's
                return Flamebearer(names.toSeq, levels.toSeq, total, maxSelf)
              reviewed += cid
              prependMap(cid) = prepend
              next += ((cid, c.getLong(3), c.getLong(4)))
              lvl ++= Seq(prepend, c.getLong(4), c.getLong(3),
                intern(c.getString(2)))
              prepend = 0
            }
            prepend += self
        }
      }
      // the reference appends unconditionally, so the deepest pass leaves
      // a trailing empty level in the wire shape — keep that
      levels += lvl.toSeq
      current = next.toSeq
    }
    Flamebearer(names.toSeq, levels.toSeq, total, maxSelf)
  }

  /** Diff flamebearer (`prof_tree.go:308-410` computeFlameGraphDiff): the
    * two merged trees full-outer-join on node identity (zero-filled
    * missing sides), then one DFS laying out BOTH sides' x offsets and a
    * final per-level delta encoding of the 7-tuples
    * [dxL, totalL, selfL, dxR, totalR, selfR, nameIdx].
    */
  def flamebearerDiff(left: DataFrame, right: DataFrame): Flamebearer = {
    val l = left
      .withColumnRenamed("self", "self_left")
      .withColumnRenamed("total", "total_left")
    val r = right
      .withColumnRenamed("self", "self_right")
      .withColumnRenamed("total", "total_right")
    val rows = l.join(r, Seq("parent", "node", "fn"), "full_outer")
      .na.fill(0L, Seq("self_left", "total_left", "self_right", "total_right"))
      .select(col("parent"), col("node"), col("fn"), col("self_left"),
        col("total_left"), col("self_right"), col("total_right"))
      .collect()
    val children = rows.groupBy(_.getLong(0)).map { case (p, rs) =>
      p -> rs.sortBy(_.getLong(1)) } // mergeNodes sorts children by node id
    val roots = children.getOrElse(0L, Array.empty)
    val leftTicks = roots.map(_.getLong(4)).sum
    val rightTicks = roots.map(_.getLong(6)).sum
    val names = scala.collection.mutable.ArrayBuffer[String]()
    val nameIdx = scala.collection.mutable.HashMap[String, Int]()
    def intern(n: String): Long =
      nameIdx.getOrElseUpdate(n, { names += n; names.size - 1 }).toLong
    var maxSelf = 0L
    val levels = scala.collection.mutable.ArrayBuffer[
      scala.collection.mutable.ArrayBuffer[Long]]()
    // BFS queue: (node, fnName, selfL, totalL, selfR, totalR, xL, xR, lvl)
    val queue = scala.collection.mutable.Queue(
      (0L, "total", 0L, leftTicks, 0L, rightTicks, 0L, 0L, 0))
    while (queue.nonEmpty) {
      val (node, fn, selfL, totalL, selfR, totalR, xL, xR, level) =
        queue.dequeue()
      val ni = intern(fn)
      while (levels.size <= level)
        levels += scala.collection.mutable.ArrayBuffer[Long]()
      maxSelf = math.max(maxSelf, math.max(selfL, selfR))
      levels(level) ++= Seq(xL, totalL, selfL, xR, totalR, selfR, ni)
      var (cxL, cxR) = (xL, xR)
      for (c <- children.getOrElse(node, Array.empty)) {
        queue.enqueue((c.getLong(1), c.getString(2), c.getLong(3),
          c.getLong(4), c.getLong(5), c.getLong(6), cxL, cxR, level + 1))
        cxL += c.getLong(4)
        cxR += c.getLong(6)
      }
    }
    // absolute x → delta from the previous block's end, per side
    val encoded = levels.map { lvl =>
      var (prevL, prevR) = (0L, 0L)
      for (j <- lvl.indices by 7) {
        lvl(j) -= prevL;     prevL += lvl(j) + lvl(j + 1)
        lvl(j + 3) -= prevR; prevR += lvl(j + 3) + lvl(j + 4)
      }
      lvl.toSeq
    }.toSeq
    Flamebearer(names.toSeq, encoded, leftTicks + rightTicks, maxSelf,
      leftTicks, rightTicks)
  }

  /** Profile value time series per service (SelectSeriesPlanner,
    * `planner_select_series.go:21-86`): per-step sum of root totals.
    */
  def selectSeries(spark: SparkSession, dir: String, stepS: Long): DataFrame = {
    val stepNs = stepS * 1000000000L
    profiles(spark, dir)
      .select(col("service_name"), col("timestamp_ns"),
        explode(col("tree")).as("n"))
      .filter(col("n.node") === 1L) // root node carries the profile total
      .groupBy(col("service_name"),
        ((col("timestamp_ns") - pmod(col("timestamp_ns"), lit(stepNs)))
          / lit(1000000000L)).cast("long").as("ts"))
      .agg(sum(col("n.total")).as("value"))
  }
}
