package graft.store

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Materialize, Tables}

/** Materialized storage layer mirroring the reference's physical design
  * (`ctrl/qryn/sql/log.sql:16-120`, SURVEY §1.5):
  *
  *   samples      — date-partitioned, sorted within partitions by
  *                  (fingerprint, timestamp_ns): partition pruning on the
  *                  query window + parquet min/max skipping on fingerprint
  *                  replace ClickHouse's PARTITION BY day + primary key
  *   time_series  — the series DICTIONARY (fingerprint → labels), tiny;
  *                  label matchers evaluate here and broadcast into the
  *                  fact scan instead of re-deriving a labels map per row
  *                  per query (round-1's main scale defect)
  *   metrics_15s  — 15s pre-aggregated downsample with PLAIN partial
  *                  columns (cnt/sum/min/max/last/bytes), the rewrite
  *                  target for eligible range aggregations
  *   prom_*       — the PromQL metric families (gauge/counter/bucket)
  *                  materialized once instead of re-running the cumsum
  *                  window per query (ingest-time MV in the reference,
  *                  log.sql:96-107)
  *
  * Appends (one HTTP push, or one ruler tick's writeback) share one
  * contract ([[appendBatch]]): the batch is decoded once, by collecting
  * it; each table delta is written from that local copy in one Spark job
  * with no exchange; a table gains one file per touched (oid, date) leaf;
  * and a dictionary table gains a file only when the batch carries series
  * it does not hold yet, so a push of known series writes no dictionary
  * file at all.
  *
  * Built once per (JVM, testdata dir) under target/graft-store and reused
  * across sessions via the parquet _SUCCESS markers. At 100 TB this build
  * is the ingest pipeline (§2.A Structured Streaming foreachBatch). These
  * tables are the one read path: every query engine (LogQL, PromQL,
  * TraceQL, profiles, admission guards, metadata) scans them, and none
  * re-derives a table from raw events at query time.
  */
object Store {

  private val built = TrieMap[String, String]()

  /** Store location: `SPARK_GRAFT_STORE_ROOT` env or the
    * `spark.graft.store.root` system property, defaulting to the repo's
    * build directory (the sandbox layout). On a cluster point this at a
    * shared filesystem (HDFS/S3A path) — everything below is plain
    * `spark.read/write.parquet` against it.
    */
  def storeRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_STORE_ROOT",
      sys.props.getOrElse("spark.graft.store.root",
        "/root/repo/target/graft-store"))

  // per-dir store-root overrides: lets a gate/spec bind one data dir to a
  // SCHEME-QUALIFIED root (file://…), pinning the FileSystem-path contract
  // through the exact same append/maintain/scan code a cluster runs
  // against hdfs://-or-s3a:// roots. Must be registered before the dir's
  // first ensure; production resolution is untouched.
  private val rootOverrides = TrieMap[String, String]()
  def overrideRoot(dir: String, root: String): Unit =
    rootOverrides.put(dir, root): Unit

  // bump the version segment when a table SCHEMA changes: _SUCCESS-guarded
  // writes would otherwise silently keep serving the old schema
  private[store] def rootFor(dir: String): String =
    rootOverrides.getOrElse(dir,
      storeRoot + "/v7/" + dir.replaceAll("[^a-zA-Z0-9.]+", "_"))

  /** Tenant (`oid`) column — every reference table leads its partition/
    * order key with the organization id (`traces.sql:7`,
    * `profiles.sql:19-49`); queries route through a per-tenant DSN. Here
    * the analog is an `oid` partition column ahead of `date` plus a
    * session conf (`spark.graft.tenant`) that every store scan applies,
    * so a tenant-scoped query prunes to its own partition directories.
    * The synthetic testdata has no ingest context, so oid derives from
    * the stable row identity (trace_id / fingerprint / profile_id mod 2)
    * — the derivation is test wiring; the column, layout, pruning and
    * filter threading are the real mechanism.
    */
  private def withOid(df: DataFrame): DataFrame = {
    val idCol = Seq("trace_id", "fingerprint", "profile_id")
      .find(df.columns.contains)
    idCol.fold(df.withColumn("oid", lit("0")))(c =>
      df.withColumn("oid", pmod(col(c), lit(2L)).cast("string")))
  }

  /** Tenant filter from the session conf; read at plan-build time, so set
    * `spark.graft.tenant` before compiling a query (the per-request tenant
    * context of the reference's DSN registry). Unset ⇒ all tenants.
    */
  private def tenantFilter(spark: SparkSession, df: DataFrame): DataFrame =
    spark.conf.getOption("spark.graft.tenant") match {
      case Some(o) => df.filter(col("oid") === o)
      case None    => df
    }

  /** oid for an APPEND: a tenant-scoped session (`spark.graft.tenant` set —
    * the per-request X-Scope-OrgID context) OWNS every row it pushes, so
    * the write stamps that tenant and the read side's `oid=` partition
    * prune returns the data to the same org — the writer stores the header
    * org id on every insert the same way (`writer/service/` stamps
    * `org_id` from the request context). Without this, a tenant's push
    * would land under the hash-derived test oid: invisible to the pushing
    * tenant, visible to others. Unscoped pushes keep the test-wiring hash
    * derivation so the unscoped gates stay deterministic.
    */
  private def withPushOid(spark: SparkSession, df: DataFrame): DataFrame =
    spark.conf.getOption("spark.graft.tenant") match {
      case Some(o) => df.withColumn("oid", lit(o))
      case None    => withOid(df)
    }

  // epoch-day arithmetic, NOT to_date(timestamp_seconds(...)): the latter
  // follows spark.sql.session.timeZone, so a store written under one
  // session timezone and read under another would mis-prune partitions
  // and silently drop rows (stores persist across JVMs via _SUCCESS)
  private def withDate(df: DataFrame): DataFrame =
    df.withColumn("date",
      date_from_unix_date((col("timestamp_ns") / 86400000000000L).cast("int")))

  /** Hadoop FileSystem for a store path, resolved from the path's URI and
    * the session's hadoopConfiguration — every maintenance walk below
    * (existence probes, partition listing, expiry deletes, compaction
    * swaps) goes through this, so `maintain`/`expire`/pushed-table
    * detection work identically on local disk, HDFS, or s3a:// roots: the
    * analog of the reference running its rotations server-side
    * (`ctrl/qryn/maintenance/rotate.go:48-66`) regardless of disk backend.
    * `FileSystem.get` caches per (scheme, authority), so this is cheap.
    */
  private[graft] def fsFor(path: String): (FileSystem, Path) = {
    val p = new Path(path)
    val conf = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    (p.getFileSystem(conf), p)
  }

  private def listStatus(fs: FileSystem, p: Path): Array[FileStatus] =
    try fs.listStatus(p)
    catch { case _: java.io.FileNotFoundException => Array.empty }

  private def haveTable(path: String): Boolean = {
    val (fs, p) = fsFor(path)
    fs.exists(new Path(p, "_SUCCESS"))
  }

  private def writeSorted(df: DataFrame, path: String): Unit =
    writePartitioned(df, path, Seq("fingerprint", "timestamp_ns"))

  /** Date-partition + sort-within-partition writer: the Spark analog of the
    * reference's `PARTITION BY toDate(...) ORDER BY (keys...)` DDL
    * (`ctrl/qryn/sql/log.sql:16-32`, `traces.sql:7-32`). Partition pruning
    * handles the query window; parquet row-group min/max on the sort keys
    * handles the rest.
    */
  /** Bounded output-batch size — the writer's 50 MiB insert cap analog
    * (`writer/service/generic_insert.go:33-35`): no store file exceeds
    * ~maxRecordsPerFile rows, so downstream readers and compaction see
    * bounded units regardless of partition skew. Conf knob
    * `spark.graft.store.maxRecordsPerFile` (rows; 0 disables).
    */
  private def maxRecordsPerFile(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.store.maxRecordsPerFile")
      .map(_.toLong).getOrElse(8000000L)

  private[store] def writePartitioned(df: DataFrame, path: String,
      sortCols: Seq[String]): Unit =
    if (!haveTable(path))
      withOid(withDate(df))
        .repartition(col("oid"), col("date"))
        .sortWithinPartitions(sortCols.map(col): _*)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", maxRecordsPerFile(df.sparkSession))
        .partitionBy("oid", "date").parquet(path)

  /** Build (if absent) and return the store root for a testdata dir.
    *
    * Concurrency: a resident query service fires its first queries in
    * parallel, and `TrieMap.getOrElseUpdate` may evaluate the builder in
    * MORE than one thread under contention — two overlapping
    * `overwrite` writes to the same parquet path corrupt the store. The
    * lock serializes builds; the lock-free `get` keeps the built path
    * uncontended. Builds are one-time per dir, so a coarse lock costs
    * nothing steady-state.
    */
  def ensure(spark: SparkSession, dir: String): String =
    built.get(dir).getOrElse(buildLock.synchronized {
      ensureLocked(spark, dir)
    })

  private val BuiltTables = Seq("samples", "time_series", "metrics_15s",
    "spans", "span_attrs", "span_ancestors", "profiles", "prom_gauge",
    "prom_counter", "prom_bucket", "prom_gauge_15s", "prom_series")

  private val buildLock = new Object
  private def ensureLocked(spark: SparkSession, dir: String): String =
    built.getOrElseUpdate(dir, {
      val root = rootFor(dir)
      // the one-time build WRITES — take the single-writer lock like every
      // other mutating path, so two cold-starting processes cannot race
      // overlapping overwrites into the same root. Only when something
      // actually needs building: a read-only replica against a complete
      // store must never contend for (or be refused by) the writer lock.
      if (BuiltTables.exists(t => !haveTable(s"$root/$t")))
        writerLock(root).ensureHeld()
      val logs = Tables.logs(spark, dir)
      writeSorted(logs.select(col("timestamp_ns"), col("fingerprint"),
        col("line"), col("value")), s"$root/samples")
      if (!haveTable(s"$root/time_series"))
        // fingerprint-hash sharded (NOT coalesce(1)): at 1e8 series a
        // single-file dictionary write is a one-task straggler and a
        // one-file read bottleneck; shard count is a config knob
        withOid(logs.select(col("fingerprint"), col("labels"))
            .dropDuplicates("fingerprint"))
          .repartition(dictShards(spark), col("fingerprint"))
          .write.mode("overwrite").parquet(s"$root/time_series")
      if (!haveTable(s"$root/metrics_15s"))
        withOid(withDate(Tables.metrics15s(spark, dir)))
          .repartition(col("oid"), col("date"))
          .sortWithinPartitions(col("fingerprint"), col("timestamp_ns"))
          .write.mode("overwrite").partitionBy("oid", "date").parquet(s"$root/metrics_15s")
      // trace + profile stores (round-4: were derive-per-query, which
      // full-scanned events on every TraceQL/profiles query — the reference
      // materializes tempo_traces / tempo_traces_attrs_gin / profiles as
      // date-partitioned tables, traces.sql:7-32 / profiles.sql:5-17)
      writePartitioned(Tables.spans(spark, dir), s"$root/spans",
        Seq("trace_id", "span_id"))
      writePartitioned(Tables.spanAttrs(spark, dir), s"$root/span_attrs",
        Seq("key", "val", "trace_id"))
      if (!haveTable(s"$root/span_ancestors"))
        writePartitioned(ancestorClosure(Tables.spans(spark, dir)),
          s"$root/span_ancestors", Seq("trace_id", "span_id"))
      writePartitioned(graft.prof.Profiles.derive(spark, dir),
        s"$root/profiles", Seq("service_name", "timestamp_ns"))
      writeSorted(Tables.gaugeSamples(spark, dir), s"$root/prom_gauge")
      writeSorted(Tables.counterSamples(spark, dir), s"$root/prom_counter")
      writeSorted(Tables.bucketSamples(spark, dir), s"$root/prom_bucket")
      if (!haveTable(s"$root/prom_gauge_15s")) {
        val bucketNs = 15L * 1000 * 1000 * 1000
        val g15 = Tables.gaugeSamples(spark, dir)
          .groupBy(col("fingerprint"),
            (col("timestamp_ns") - pmod(col("timestamp_ns"), lit(bucketNs)))
              .as("timestamp_ns"))
          .agg(first(col("labels")).as("labels"),
            max_by(col("value"), col("timestamp_ns")).as("last"),
            max(col("timestamp_ns")).as("last_ts"),
            min(col("value")).as("min"),
            max(col("value")).as("max"),
            sum(col("value")).as("sum"),
            count(lit(1)).as("cnt"))
        withOid(withDate(g15))
          .repartition(col("oid"), col("date"))
          .sortWithinPartitions(col("fingerprint"), col("timestamp_ns"))
          .write.mode("overwrite").partitionBy("oid", "date").parquet(s"$root/prom_gauge_15s")
      }
      if (!haveTable(s"$root/prom_series")) {
        // per-family series DICTIONARY — the `time_series` analog for the
        // metric families. Admission estimates and label lookups read this
        // instead of the sample tables: at 100 TB the dictionary is MBs
        // where the families are TBs
        val fams = Seq(
          "events_value"  -> Tables.gaugeSamples(spark, dir),
          "events_total"  -> Tables.counterSamples(spark, dir),
          "events_bucket" -> Tables.bucketSamples(spark, dir))
        val dict = fams.map { case (n, f) =>
          f.select(lit(n).as("family"), col("fingerprint"), col("labels"))
            .dropDuplicates("family", "fingerprint")
        }.reduce(_.unionByName(_))
        withOid(dict)
          .repartition(dictShards(spark), col("fingerprint"))
          .write.mode("overwrite").parquet(s"$root/prom_series")
      }
      root
    })

  private def dictShards(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.dict.shards").map(_.toInt).getOrElse(8)

  /** Series dictionary (fingerprint → labels); small, broadcast at joins. */
  def timeSeries(spark: SparkSession, dir: String): DataFrame =
    tenantFilter(spark,
      readTable(spark, s"${ensure(spark, dir)}/time_series")).drop("oid")

  /** Metric-family series dictionary rows for one family:
    * (fingerprint, labels). Series-ever-seen, not window-scoped — the
    * cheap upper bound admission checks want.
    */
  def promSeries(spark: SparkSession, dir: String, family: String): DataFrame =
    tenantFilter(spark,
      readTable(spark, s"${ensure(spark, dir)}/prom_series"))
      .filter(col("family") === family).drop("oid", "family")

  /** Touch every store table once (file-index listing + footer reads) so a
    * fresh session's first real query doesn't pay the cold-reader cost —
    * the cache-warm a resident query service does at startup.
    */
  def warm(spark: SparkSession, dir: String): Unit = {
    val root = ensure(spark, dir)
    Seq("samples", "time_series", "metrics_15s", "spans", "span_attrs",
      "span_ancestors", "profiles", "prom_gauge", "prom_counter",
      "prom_bucket", "prom_gauge_15s", "prom_series")
      .foreach(t => readTable(spark, s"$root/$t").limit(1).count(): Unit)
  }

  private val dictCounts = TrieMap[(SparkSession, String), Long]()

  /** Broadcast the (matcher-filtered) dictionary ONLY while the full
    * dictionary is plausibly broadcast-sized — an unconditional broadcast
    * breaks at 1e8 high-cardinality series (driver OOM). Above the
    * threshold the join stays a shuffle join and AQE may still downgrade
    * it to broadcast at runtime if the filtered side turns out small.
    * The full-dictionary row count is memoized per (session, dir).
    */
  def maybeBroadcastDict(spark: SparkSession, dir: String,
      filtered: DataFrame): DataFrame = {
    val n = dictCounts.getOrElseUpdate((spark, dir),
      timeSeries(spark, dir).count())
    val thr = spark.conf.getOption("spark.graft.broadcast.maxDictRows")
      .map(_.toLong).getOrElse(10000000L)
    if (n <= thr) broadcast(filtered) else filtered
  }

  /** Per-(session, path) reader cache: `spark.read.parquet` re-lists the
    * partition directories and re-reads footers on EVERY call — a fixed
    * ~0.4 s/scan locally, and a listing storm against object storage at
    * 100 TB. Caching the base DataFrame reuses the resolved FileIndex the
    * way a catalog table would; filters still prune partitions per query.
    * Safe because store tables are write-once (guarded by _SUCCESS).
    *
    * Entries are invalidated immediately by THIS JVM's appends
    * ([[invalidate]]), which covers the single-writer process fully. For
    * the reader/writer split the writer lock encourages, a READ-ONLY
    * replica process has no such signal: its entries expire after
    * [[replicaRefreshMs]] and re-resolve on next use (refreshByPath + a
    * fresh listing — one LIST per table per refresh window), so a replica
    * converges on the writer's pushes without a restart. A process that
    * HOLDS the root's writer lock skips the TTL — it is the only mutator,
    * so its caches are authoritative and its hot path stays listing-free.
    */
  private val readers = TrieMap[(SparkSession, String), (DataFrame, Long)]()

  /** Staleness bound for caches only another PROCESS can invalidate (the
    * reader cache; negative dir probes use [[probeNegativeTtlMs]]).
    */
  @volatile var replicaRefreshMs: Long =
    java.lang.Long.getLong("graft.store.replicaRefreshMs", 300000L)

  /** True when this JVM owns the writer lock covering `path` — then no
    * other process can have changed the table under us.
    */
  private def authoritative(path: String): Boolean =
    // separator-bounded prefix: a lock on .../v7/a must not cover the
    // sibling root .../v7/ab (same-prefix different store)
    writerLocks.exists { case (r, l) =>
      l.isHeld && (path == r || path.startsWith(r + "/")) }

  private[store] def readTable(spark: SparkSession, path: String): DataFrame = {
    val now = System.currentTimeMillis()
    readers.get((spark, path)) match {
      case Some((df, at))
          if now - at < replicaRefreshMs || authoritative(path) => df
      case cached =>
        if (cached.isDefined) spark.catalog.refreshByPath(path)
        val df = spark.read.parquet(path)
        readers.put((spark, path), (df, now))
        df
    }
  }

  /** Fact scan over [loNs, hiNs): ts predicate + derived date predicate so
    * the partition pruning actually fires (the ts column alone can't prune
    * date directories).
    */
  private def scanWindow(spark: SparkSession, path: String,
      loNs: Long, hiNs: Long): DataFrame =
    tenantFilter(spark, readTable(spark, path)
      .filter(col("timestamp_ns") >= loNs && col("timestamp_ns") < hiNs)
      .filter(col("date") >= date_from_unix_date(lit((loNs / 86400000000000L).toInt)) &&
        col("date") <= date_from_unix_date(lit((hiNs / 86400000000000L).toInt))))
      .drop("oid") // tenant applied; downstream schemas stay oid-free

  def samples(spark: SparkSession, dir: String, loNs: Long, hiNs: Long): DataFrame =
    scanWindow(spark, s"${ensure(spark, dir)}/samples", loNs, hiNs)

  def metrics15s(spark: SparkSession, dir: String, loNs: Long, hiNs: Long): DataFrame =
    scanWindow(spark, s"${ensure(spark, dir)}/metrics_15s", loNs, hiNs)

  /** 15s pre-aggregated gauge downsample (the `metrics_15s` analog for the
    * PromQL families; the reference's raw-vs-downsample fork is
    * `prom_queryable.go:150-160`).
    */
  def promGauge15s(spark: SparkSession, dir: String,
      loNs: Long, hiNs: Long): DataFrame =
    scanWindow(spark, s"${ensure(spark, dir)}/prom_gauge_15s", loNs, hiNs)

  /** Bounded ancestor closure (trace_id, span_id, anc_id, timestamp_ns):
    * one row per (span, proper ancestor), built once at ingest by iterative
    * doubling — ⌈log₂ depth⌉ self-joins, depth capped at 64. TraceQL's
    * `>>`, `!>>` and `<<~` read it with one equi-join per query and no
    * driver loop. Size is Σ span depths —
    * bounded by 64× the span table, ~5× for typical trace shapes; the same
    * space-for-join trade as the attrs GIN.
    */
  private def ancestorClosure(spansDf: DataFrame): DataFrame = {
    val base = spansDf
      .filter(col("parent_id").isNotNull)
      .select(col("trace_id"), col("span_id"),
        col("parent_id").as("anc_id"), col("timestamp_ns"))
    var clos = Materialize(base)
    // one count per iteration: the loop's "before" size is the previous
    // iteration's "after" (each count is a full job — this loop runs at
    // ingest, so job count is latency)
    var size = clos.count()
    var dist = 1L
    var fixed = false
    while (dist < 64 && !fixed) {
      val ext = clos.alias("a").join(clos.alias("b"),
          col("a.trace_id") === col("b.trace_id") &&
            col("a.anc_id") === col("b.span_id"))
        .select(col("a.trace_id").as("trace_id"),
          col("a.span_id").as("span_id"),
          col("b.anc_id").as("anc_id"),
          col("a.timestamp_ns").as("timestamp_ns"))
      clos = Materialize(clos.union(ext)
        .dropDuplicates("trace_id", "span_id", "anc_id"))
      val after = clos.count()
      fixed = after == size
      size = after
      dist *= 2
    }
    clos
  }

  /** Driver-side ancestor closure for one PUSH batch's edge set — a push
    * is one bounded HTTP request (the reference's writer computes its GIN
    * rows in-process per batch the same way), so for batches under
    * `spark.graft.closure.driverMax` edges the ⌈log₂ depth⌉ rounds of
    * Spark jobs in [[ancestorClosure]] collapse to one in-memory walk:
    * (trace_id, span_id) → parent map, emit every proper ancestor up to
    * depth 64. Input rows: (trace_id, span_id, parent_id | null, ts).
    */
  private def closureInMemory(
      edges: Array[(Long, Long, Option[Long], Long)])
      : Seq[(Long, Long, Long, Long)] = {
    val parent = new java.util.HashMap[(Long, Long), Long](edges.length * 2)
    for ((t, s, p, _) <- edges; pp <- p) parent.put((t, s), pp)
    // keyed (trace, span, ancestor): client pushes can repeat rows and
    // can carry CYCLIC parent pointers (self-parent, a→b→a) — the
    // distributed path's dropDuplicates(trace_id, span_id, anc_id) makes
    // both emit each closure row once, so the walk must too: putIfAbsent
    // dedups across repeated input rows, and the per-walk `seen` check
    // breaks a cycle the first time an ancestor repeats instead of
    // spinning duplicate emissions up to the depth cap.
    val out = new java.util.LinkedHashMap[(Long, Long, Long), Long]()
    for ((t, s, p, ts) <- edges; first <- p) {
      val seen = new java.util.HashSet[Long](8)
      var anc = first
      var depth = 0
      var more = true
      while (more && depth < 64 && seen.add(anc)) {
        out.putIfAbsent((t, s, anc), ts): Unit
        depth += 1
        val up = parent.get((t, anc))
        if (up == 0L && !parent.containsKey((t, anc))) more = false
        else anc = up
      }
    }
    out.entrySet().iterator().asScala
      .map(e => (e.getKey._1, e.getKey._2, e.getKey._3, e.getValue))
      .toSeq
  }

  def ancestors(spark: SparkSession, dir: String, loNs: Long, hiNs: Long): DataFrame =
    scanWindow(spark, s"${ensure(spark, dir)}/span_ancestors", loNs, hiNs)

  /** Materialized span table over [loNs, hiNs): date-pruned scan of
    * tempo_traces' analog (`traces.sql:7-19`).
    */
  def spans(spark: SparkSession, dir: String, loNs: Long, hiNs: Long): DataFrame =
    scanWindow(spark, s"${ensure(spark, dir)}/spans", loNs, hiNs)

  /** Materialized exploded attr table (tempo_traces_attrs_gin analog,
    * `traces.sql:21-32`), date-pruned — the TraceQL bitmask aggregate's
    * input scan, so the window applies BELOW the aggregate.
    */
  def spanAttrs(spark: SparkSession, dir: String, loNs: Long, hiNs: Long): DataFrame =
    scanWindow(spark, s"${ensure(spark, dir)}/span_attrs", loNs, hiNs)

  /** Materialized profiles table (profiles.sql:5-17 analog), date-pruned. */
  def profiles(spark: SparkSession, dir: String, loNs: Long, hiNs: Long): DataFrame =
    scanWindow(spark, s"${ensure(spark, dir)}/profiles", loNs, hiNs)

  private val DatedTables = Seq("samples", "metrics_15s", "spans",
    "span_attrs", "span_ancestors", "profiles", "prom_gauge",
    "prom_counter", "prom_bucket", "prom_gauge_15s", "prom_pushed",
    "prom_pushed_15s")

  /** Live ingest append — the batched fan-out write a push endpoint makes
    * (`writer/service/insert/`, one insert per canonical table): a decoded
    * batch (the [[graft.ingest.LokiPush.decodeRows]] shape — fingerprint,
    * labels, timestamp_ns, line, value) lands in the QUERYABLE store:
    *
    *   - `samples` gains the rows (same oid/date partition layout as the
    *     build; small-file accumulation is what [[compact]] exists for);
    *   - `time_series` gains only NEW fingerprints (dup dictionary rows
    *     would fan out every broadcast join downstream);
    *   - `metrics_15s` gains the batch's own 15s PARTIALS: the downsample
    *     readers merge per-bucket partials additively (sum(cnt)/
    *     sum(bytes) over the window), so independent batch partials
    *     compose without read-modify-write.
    *
    * Same protocol as every append ([[appendBatch]]). At 100 TB this is
    * the `foreachBatch` body of the ingest stream; each append is one
    * bounded batch write, never a table rewrite. Returns the number of
    * sample rows appended.
    */
  def appendLogs(spark: SparkSession, dir: String, rows: DataFrame): Long =
    appendBatch(spark, dir, rows) { (root, batch) =>
      appendWrite(withPushOid(spark, withDate(batch.select(
          col("timestamp_ns"), col("fingerprint"), col("line"),
          col("value")))),
        Seq("fingerprint", "timestamp_ns"), s"$root/samples")
      // dictionary dedup is per (oid, fingerprint): two tenants pushing
      // the same label set each need their own dictionary row, or the
      // second tenant's series would be invisible to its own label APIs
      val dictWritten = appendDictDelta(spark, s"$root/time_series",
        withPushOid(spark, batch.select(col("fingerprint"), col("labels"))),
        Seq("oid", "fingerprint"))
      val bucketNs = 15L * 1000 * 1000 * 1000
      val partials = batch.coalesce(1)
        .groupBy(col("fingerprint"),
          (col("timestamp_ns") - pmod(col("timestamp_ns"), lit(bucketNs)))
            .as("timestamp_ns"))
        .agg(
          max_by(col("value"), col("timestamp_ns")).as("last"),
          max(col("timestamp_ns")).as("last_ts"),
          min(col("value")).as("min"),
          max(col("value")).as("max"),
          sum(col("value")).as("sum"),
          count(lit(1)).as("cnt"),
          sum(length(col("line"))).as("bytes"))
      appendWrite(withPushOid(spark, withDate(partials)),
        Seq("fingerprint", "timestamp_ns"), s"$root/metrics_15s")
      Seq("samples", "metrics_15s") ++
        (if (dictWritten) Seq("time_series") else Nil)
    }

  private val appendLock = new Object

  /** The append protocol every push path shares:
    *
    *   1. the decoded batch is collected to the driver ONCE — a push is
    *      one HTTP request body and ruler writeback is one tick's output,
    *      so the rows are driver-sized already — which runs the decode as
    *      one Spark job;
    *   2. a null `timestamp_ns` (e.g. a non-integer values-path timestamp
    *      in a Loki push) would land in a date=null partition every
    *      window scan drops — silent data loss behind a 2xx. Loki 400s
    *      the push instead; the whole batch is rejected the same way,
    *      before anything is written (the IllegalArgumentException maps
    *      to the bad_data envelope at the route layer);
    *   3. the rows are rebuilt as a local frame, so each table write
    *      below re-reads them without re-decoding, in one task and
    *      without an exchange ([[appendWrite]]).
    *
    * `write` returns the tables it changed, and only their cached readers
    * are invalidated: a dictionary a push left unchanged keeps its file
    * listing for the next probe. Returns the number of rows appended.
    */
  private def appendBatch(spark: SparkSession, dir: String, rows: DataFrame)(
      write: (String, DataFrame) => Seq[String]): Long = {
    val root = ensure(spark, dir)
    val collected = rows.collect()
    val tsIdx = rows.schema.fieldIndex("timestamp_ns")
    val missing = collected.count(_.isNullAt(tsIdx))
    if (missing > 0)
      throw new IllegalArgumentException(s"$missing of ${collected.length} " +
        "entries have missing/invalid timestamps")
    if (collected.nonEmpty) appendLock.synchronized {
      writerLock(root).ensureHeld()
      val batch = spark.createDataFrame(
        java.util.Arrays.asList(collected: _*), rows.schema)
      invalidate(spark, root, write(root, batch))
    }
    collected.length.toLong
  }

  /** Dictionary delta of one batch: the rows of `cands` (a projection of
    * the local batch frame, so collecting it runs no job) whose `keys` the
    * dictionary does not hold yet, first occurrence per key. The stored
    * side is probed for the batch's OWN fingerprints only — an In()
    * filter the parquet scan prunes with row-group stats, never a pass
    * over the whole dictionary. Above the cap (a pathological mega-batch)
    * the probe is a semi-join against the batch's keys, still bounded by
    * the batch. The delta is written as one file, and only when it is
    * non-empty: a push of known series (the steady state) writes nothing
    * here. Returns whether anything was written.
    */
  private def appendDictDelta(spark: SparkSession, path: String,
      cands: DataFrame, keys: Seq[String]): Boolean = {
    val idx = keys.map(cands.schema.fieldIndex)
    val fresh = new java.util.LinkedHashMap[Seq[Any], Row]()
    cands.collect().foreach(r => fresh.putIfAbsent(idx.map(r.get), r): Unit)
    // null fingerprints can't match any dictionary row (null = never
    // joins), so they stay in the delta, as the anti-join kept them
    val fpIdx = cands.schema.fieldIndex("fingerprint")
    val fps = fresh.values.iterator.asScala
      .collect { case r if !r.isNullAt(fpIdx) => r.getLong(fpIdx) }
      .toSeq.distinct
    if (fps.nonEmpty) {
      val stored = readTable(spark, path).select(keys.map(col): _*)
      val probe =
        if (fps.length <= 100000) stored.filter(col("fingerprint").isin(fps: _*))
        else stored.join(cands.select(keys.map(col): _*), keys, "left_semi")
      probe.collect().foreach(r => fresh.remove(keys.indices.map(r.get)): Unit)
    }
    if (!fresh.isEmpty)
      spark.createDataFrame(new java.util.ArrayList(fresh.values), cands.schema)
        .coalesce(1).write.mode("append").parquet(path)
    !fresh.isEmpty
  }

  /** Per-root single-writer guard (see [[WriterLock]]): every mutating
    * path — appends, [[maintain]], [[expire]] — confirms this process
    * owns the root before touching it; a second live process gets a clean
    * IllegalStateException instead of racing the dictionary anti-join or
    * the compaction swap.
    */
  private val writerLocks = TrieMap[String, WriterLock]()
  private def writerLock(root: String): WriterLock =
    writerLocks.getOrElseUpdate(root, new WriterLock(root))

  /** One-file-per-leaf append write. A push batch is a local frame
    * ([[appendBatch]]); `coalesce(1)` writes it in ONE task, and the sort
    * by the partition columns first makes the dynamic-partition writer
    * close each (oid, date) leaf's file before opening the next — one
    * part-file per touched leaf per push, from one job with no exchange.
    * (The 15s partials coalesce their input before aggregating: a
    * single-partition child satisfies the aggregate's distribution, so it
    * needs no exchange either.) The sort keys keep row-group locality for
    * the scan pruning.
    */
  private def appendWrite(df: DataFrame, sortCols: Seq[String],
      path: String): Unit =
    df.coalesce(1)
      .sortWithinPartitions(
        (Seq("oid", "date") ++ sortCols).map(col): _*)
      .write.mode("append").partitionBy("oid", "date").parquet(path)

  /** Evict the readers cache and refresh the catalog file index for the
    * touched tables across EVERY session that ever read them — the
    * frontend holds one isolated child session per tenant, and a push
    * through one session must not leave another session serving a stale
    * file listing indefinitely. The eviction is keyed by path alone;
    * refreshByPath runs per cached session (catalog caches are
    * per-session).
    */
  private def invalidate(spark: SparkSession, root: String,
      tables: Seq[String]): Unit =
    for (t <- tables) {
      val path = s"$root/$t"
      dirProbe.remove(path)
      val sessions = readers.keysIterator
        .collect { case (s, p) if p == path => s }.toSet + spark
      readers.filterInPlace { case ((_, p), _) => p != path }
      sessions.foreach(_.catalog.refreshByPath(path))
    }

  /** Reader-side recovery after losing a race with [[maintain]]'s
    * write-new-then-swap: a query planned against the pre-swap file
    * listing fails its scan once the originals are renamed away. The data
    * is intact — drop every cached reader under the store root and
    * refresh each session's catalog index, so the caller's retry re-lists
    * the post-swap files. Costs one LIST per table on next use.
    */
  def refreshRoot(spark: SparkSession, dir: String): Unit = {
    val root = ensure(spark, dir)
    def under(p: String) = p == root || p.startsWith(root + "/")
    val sessions = readers.keysIterator
      .collect { case (s, p) if under(p) => s }.toSet + spark
    readers.filterInPlace { case ((_, p), _) => !under(p) }
    sessions.foreach(_.catalog.refreshByPath(root))
  }

  /** Drop every per-session cache entry for an evicted tenant session:
    * [[readers]] and [[dictCounts]] key by (session, path) and would
    * otherwise pin the evicted SparkSession — and its resolved file
    * indexes — forever, defeating the frontend's tenant-LRU memory bound.
    * Called by the frontend when the LRU evicts a tenant.
    */
  def evictSession(session: SparkSession): Unit = {
    readers.filterInPlace { case ((s, _), _) => s ne session }
    dictCounts.filterInPlace { case ((s, _), _) => s ne session }
  }

  /** Conform an append batch to the STORED table's columns: missing
    * columns null-fill with the stored type, extras drop. Parquet happily
    * appends a drifted schema, after which scans become file-order
    * dependent — this pins every append to the build-time contract.
    */
  private def conformTo(spark: SparkSession, path: String,
      df: DataFrame, partCols: Set[String]): DataFrame = {
    val target = readTable(spark, path).schema
      .filterNot(f => partCols.contains(f.name))
    df.select(target.map(f =>
      (if (df.columns.contains(f.name)) col(f.name)
       else lit(null)).cast(f.dataType).as(f.name)): _*)
  }

  /** Live trace ingest (`writer/service/insert/` tempo path): a decoded
    * span batch — (trace_id, span_id, parent_id, name, service_name,
    * timestamp_ns, duration_ns, attrs map) with LONG ids — fans out to
    * the three queryable trace tables:
    *
    *   - `spans` gains the rows (null-filled to the stored schema);
    *   - `span_attrs` gains the exploded attr pairs (the GIN analog), so
    *     TraceQL bitmask leaves see pushed attributes;
    *   - `span_ancestors` gains the batch's OWN ancestor closure: clients
    *     push whole traces per request (the reference's per-batch GIN
    *     insert makes the same assumption), so parent links resolve
    *     within the batch.
    *
    * Same protocol as [[appendLogs]] ([[appendBatch]]) — one append per
    * table, never a rewrite. Returns the number of span rows appended.
    */
  def appendSpans(spark: SparkSession, dir: String, spans: DataFrame): Long =
    appendBatch(spark, dir, spans) { (root, batch) =>
      appendWrite(withPushOid(spark, withDate(conformTo(spark,
          s"$root/spans", batch, Set("oid", "date")))),
        Seq("trace_id", "span_id"), s"$root/spans")
      val attrs = batch.select(col("trace_id"), col("span_id"),
          col("parent_id"), col("timestamp_ns"), col("duration_ns"),
          explode(col("attrs")).as(Seq("key", "val")))
      appendWrite(withPushOid(spark, withDate(conformTo(spark,
          s"$root/span_attrs", attrs, Set("oid", "date")))),
        Seq("key", "val", "trace_id"), s"$root/span_attrs")
      // cross-batch closure: clients normally push whole traces per
      // request, but a trace split across two pushes must still answer
      // `>>`/`<<` — widen the closure input with the STORED spans of the
      // batch's trace ids (a semi-join-bounded read: only the touched
      // traces), then keep only rows not already stored. Both push orders
      // repair: parents-first (the new children walk up through stored
      // parents) and children-first (stored orphans gain ancestors when
      // their parents arrive).
      // the batch's trace ids come from the collected rows (a projection
      // of the local frame runs no job) and push an In() filter INTO the
      // parquet scans — the (trace_id, span_id) sort order turns it into
      // row-group skipping, where a semi-join would scan the whole table.
      // Above the cap (a pathological mega-batch) fall back to the
      // semi-join, which stays shuffle-bounded.
      val ids = batch.select(col("trace_id"))
      val idList = ids.collect().collect {
        case r if !r.isNullAt(0) => r.getLong(0) }.distinct
      def scopeToBatch(df: DataFrame): DataFrame =
        if (idList.length <= 100000) df.filter(col("trace_id").isin(idList: _*))
        else df.join(ids.distinct(), Seq("trace_id"), "left_semi")
      // a scoped session repairs only against ITS tenant's rows — trace
      // ids are per-tenant namespaces, and another org's colliding ids
      // must neither join in nor suppress this org's closure rows
      val stored = scopeToBatch(
          tenantFilter(spark, readTable(spark, s"$root/spans")))
        .select(col("trace_id"), col("span_id"), col("parent_id"),
          col("timestamp_ns"))
      val closureInput = batch
        .select(col("trace_id"), col("span_id"), col("parent_id"),
          col("timestamp_ns"))
        .unionByName(stored)
        .dropDuplicates("trace_id", "span_id")
      // push-sized edge sets take the DRIVER closure (one collect + one
      // in-memory walk instead of ⌈log₂ depth⌉ rounds of join/dedup/count
      // jobs — the dominant latency of a trace push); anything over the
      // cap falls back to the distributed doubling, which stays
      // shuffle-bounded. Conf spark.graft.closure.driverMax (edges; 0
      // forces the distributed path — the spec's equivalence hook).
      val driverMax = spark.conf
        .getOption("spark.graft.closure.driverMax")
        .map(_.toLong).getOrElse(500000L)
      val collected: Option[Array[(Long, Long, Option[Long], Long)]] =
        if (driverMax <= 0) None
        else {
          val rows = closureInput.limit(driverMax.toInt + 1).collect()
          if (rows.length > driverMax) None
          else Some(rows.map(r => (r.getLong(0), r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3))))
        }
      val anc = collected match {
        case Some(edges) =>
          val s = spark
          import s.implicits._
          spark.createDataset(closureInMemory(edges))
            .toDF("trace_id", "span_id", "anc_id", "timestamp_ns")
        case None => ancestorClosure(closureInput)
      }
      val storedAnc = scopeToBatch(tenantFilter(spark,
          readTable(spark, s"$root/span_ancestors")))
        .select(col("trace_id"), col("span_id"), col("anc_id"))
      val fresh = anc.join(storedAnc,
        Seq("trace_id", "span_id", "anc_id"), "left_anti")
      appendWrite(withPushOid(spark, withDate(conformTo(spark,
          s"$root/span_ancestors", fresh, Set("oid", "date")))),
        Seq("trace_id", "span_id"), s"$root/span_ancestors")
      Seq("spans", "span_attrs", "span_ancestors")
    }

  /** Live metric ingest (remote-write / OTLP metrics / Datadog series /
    * Influx fields): decoded samples — (timestamp_ns, labels, value,
    * fingerprint), `__name__` inside the label map — land in the
    * `prom_pushed` fact table (same oid/date layout + fingerprint sort as
    * the built families) and NEW (family, fingerprint) pairs join the
    * `prom_series` dictionary, so the labels/series/metadata APIs and the
    * PromQL compiler (via [[promMetric]]'s pushed-family fallback) see
    * them without any table rewrite. Returns sample rows appended.
    */
  def appendMetrics(spark: SparkSession, dir: String, rows: DataFrame): Long =
    appendBatch(spark, dir, rows.select(col("timestamp_ns"),
        col("labels"), col("value"), col("fingerprint"))) { (root, batch) =>
      appendWrite(withPushOid(spark, withDate(batch)),
        Seq("fingerprint", "timestamp_ns"), s"$root/prom_pushed")
      val dictWritten = appendDictDelta(spark, s"$root/prom_series",
        withPushOid(spark, batch
          .select(element_at(col("labels"), "__name__").as("family"),
            col("fingerprint"), col("labels"))
          .filter(col("family").isNotNull)),
        Seq("oid", "family", "fingerprint"))
      // the batch's own 15s downsample PARTIALS (the `metrics_15s` MV
      // analog for pushed families, log.sql:96-107): independent batches
      // append disjoint partial rows for the same bucket, the readers
      // ([[promPushed15s]]) merge them associatively, and [[maintain]]
      // merges them physically — so the PromQL downsample routing rule
      // fires on LIVE data, not only the batch-built store
      val bucketNs = 15L * 1000 * 1000 * 1000
      val partials = batch.coalesce(1)
        .groupBy(
          element_at(col("labels"), "__name__").as("family"),
          col("fingerprint"),
          (col("timestamp_ns") - pmod(col("timestamp_ns"), lit(bucketNs)))
            .as("timestamp_ns"))
        .agg(first(col("labels")).as("labels"),
          max_by(col("value"), col("timestamp_ns")).as("last"),
          max(col("timestamp_ns")).as("last_ts"),
          min(col("value")).as("min"),
          max(col("value")).as("max"),
          sum(col("value")).as("sum"),
          count(lit(1)).as("cnt"))
        .filter(col("family").isNotNull)
      appendWrite(withPushOid(spark, withDate(partials)),
        Seq("family", "fingerprint", "timestamp_ns"),
        s"$root/prom_pushed_15s")
      Seq("prom_pushed", "prom_pushed_15s") ++
        (if (dictWritten) Seq("prom_series") else Nil)
    }

  /** Live profile ingest (pprof `/ingest`, OTLP profiles): rows already in
    * the profiles-table shape (profile_id, service_name, timestamp_ns,
    * type_id, sample_types_units, tags, tree). Returns rows appended.
    */
  def appendProfiles(spark: SparkSession, dir: String, rows: DataFrame): Long =
    appendBatch(spark, dir, rows) { (root, batch) =>
      appendWrite(withPushOid(spark, withDate(conformTo(spark,
          s"$root/profiles", batch, Set("oid", "date")))),
        Seq("service_name", "timestamp_ns"), s"$root/profiles")
      Seq("profiles")
    }

  /** All pushed-family dictionary rows (fingerprint, labels, family) —
    * the [[promSeries]] surface for families that arrived over HTTP
    * rather than the build. Empty frame when nothing was ever pushed.
    */
  def promSeriesPushed(spark: SparkSession, dir: String): DataFrame =
    tenantFilter(spark,
      readTable(spark, s"${ensure(spark, dir)}/prom_series"))
      .filter(!col("family").isin("events_value", "events_total",
        "events_bucket"))
      .drop("oid")

  private def havePushed(root: String): Boolean =
    haveDir(s"$root/prom_pushed")

  // appends create bare part files (no _SUCCESS): existence = the
  // directory exists at all. MEMOIZED per path — the probe runs on every
  // PromQL compile (downsample/pushed-family routing) and costs a HEAD
  // request per compile on object storage; [[invalidate]] drops the entry
  // when an append creates or touches the path, so a cached "absent"
  // flips as soon as this JVM's first metric push lands. PRESENT is
  // cached forever (an existing table never stops routing), but ABSENT
  // only for [[probeNegativeTtlMs]]: in a read-only replica the first
  // push lands in the WRITER process, and a negative cached forever would
  // keep pushed-family routing off until restart.
  private val dirProbe = TrieMap[String, (Boolean, Long)]()

  /** Re-probe bound for cached-absent directories (one `exists` HEAD per
    * absent path per window). This JVM's appends still flip the cache
    * immediately.
    */
  @volatile var probeNegativeTtlMs: Long =
    java.lang.Long.getLong("graft.store.probeNegativeTtlMs", 15000L)

  private[store] def haveDir(path: String): Boolean = {
    val now = System.currentTimeMillis()
    dirProbe.get(path) match {
      case Some((true, _)) => true
      case Some((false, at)) if now - at < probeNegativeTtlMs => false
      case _ =>
        val (fs, p) = fsFor(path)
        val ok = fs.exists(p)
        dirProbe.put(path, (ok, now))
        ok
    }
  }

  /** Pushed-family fact scan: `prom_pushed` filtered to one `__name__`
    * over the window. None until something was pushed.
    */
  def promPushed(spark: SparkSession, dir: String, name: String,
      loNs: Long, hiNs: Long): Option[DataFrame] = {
    val root = ensure(spark, dir)
    if (!havePushed(root)) None
    else Some(scanWindow(spark, s"$root/prom_pushed", loNs, hiNs)
      .filter(element_at(col("labels"), "__name__") === name))
  }

  /** Pushed-family 15s downsample, merged per bucket ON READ: independent
    * push batches append disjoint PARTIAL rows for the same bucket
    * ([[appendMetrics]]), and the merge functions (Σcnt/Σsum, min/max
    * fold, argmax-by-last_ts) are associative, so the read is exact in
    * any compaction state — the AggregatingMergeTree-on-SELECT semantics
    * of the reference's downsample MV. [[maintain]] applies the SAME
    * merge physically, so steady-state scans see ~1 row per bucket and
    * this groupBy degenerates to a near-no-op over presorted buckets.
    * None until a metric push ever happened.
    */
  def promPushed15s(spark: SparkSession, dir: String, name: String,
      loNs: Long, hiNs: Long): Option[DataFrame] = {
    val root = ensure(spark, dir)
    if (!haveDir(s"$root/prom_pushed_15s")) None
    else Some(scanWindow(spark, s"$root/prom_pushed_15s", loNs, hiNs)
      .filter(col("family") === name)
      .groupBy(col("fingerprint"), col("timestamp_ns"))
      .agg(first(col("labels")).as("labels"),
        max_by(col("last"), col("last_ts")).as("last"),
        max(col("last_ts")).as("last_ts"),
        min(col("min")).as("min"),
        max(col("max")).as("max"),
        sum(col("sum")).as("sum"),
        sum(col("cnt")).as("cnt")))
  }

  /** TTL retention (`ctrl/qryn/maintenance/rotate.go:48-66`, which issues
    * `ALTER TABLE ... DROP PARTITION` per expired day): drop every `date=`
    * partition strictly before the cutoff (ISO yyyy-MM-dd) across the
    * date-partitioned tables. Partition-directory deletes — no data
    * rewrite, O(expired days) filesystem ops, same cost shape as the
    * reference's partition drops. Cached readers for the touched tables
    * are invalidated so the next scan re-lists.
    */
  def expire(spark: SparkSession, dir: String, cutoffDate: String): Unit = {
    val root = ensure(spark, dir)
    writerLock(root).ensureHeld()
    expireRoot(spark, root, cutoffDate)
  }

  private[store] def expireRoot(spark: SparkSession, root: String,
      cutoffDate: String): Unit =
    for (t <- DatedTables) {
      val path = s"$root/$t"
      val (fs, tablePath) = fsFor(path)
      def dirs(p: Path): Array[FileStatus] =
        listStatus(fs, p).filter(_.isDirectory)
      // the store layout is oid=/date= (tenant leads the partition key);
      // date= at the table level covers flat single-tenant layouts
      val top = dirs(tablePath)
      val dateDirs = top.filter(_.getPath.getName.startsWith("date=")) ++
        top.filter(_.getPath.getName.startsWith("oid="))
          .flatMap(s => dirs(s.getPath))
          .filter(_.getPath.getName.startsWith("date="))
      // ISO dates compare lexicographically
      val expired = dateDirs.filter(
        _.getPath.getName.stripPrefix("date=") < cutoffDate)
      if (expired.nonEmpty) {
        expired.foreach(s => fs.delete(s.getPath, true): Unit)
        // cross-session invalidation, same contract as compactRoot: a
        // tenant session must not keep serving dropped partitions
        val sessions = readers.keysIterator
          .collect { case (s, p) if p == path => s }.toSet + spark
        readers.filterInPlace { case ((_, p), _) => p != path }
        sessions.foreach(_.catalog.refreshByPath(path))
      }
    }

  /** Background-merge analog: ClickHouse's MergeTree merges parts
    * continuously; a parquet store fed by streaming micro-batches
    * accumulates small files instead, and every downstream scan pays per
    * file (task scheduling + footer reads). Rewrite each partition
    * directory of `table` holding more than `maxFiles` part files into
    * ONE sorted file (write-new-then-swap, readers of the old version
    * unaffected; per-partition work, nothing global). Returns the number
    * of partitions compacted.
    */
  def compact(spark: SparkSession, dir: String, table: String,
      sortCols: Seq[String], maxFiles: Int = 8): Int =
    compactRoot(spark, ensure(spark, dir), table, sortCols, maxFiles)

  /** Scratch-dir suffixes of [[compactRoot]]'s two-rename swap. A leaf
    * rewrite is: write new data to `leaf.compact`, rename `leaf` →
    * `leaf.old`, rename `leaf.compact` → `leaf`, delete `leaf.old` — so a
    * crash at ANY point leaves at least one complete copy of the leaf for
    * [[recoverScratch]] to restore (`.old` is only created after the new
    * data is fully written; the live leaf is only absent between the two
    * renames).
    */
  private val ScratchSuffixes = Seq(".compact", ".old")
  private def isScratch(name: String): Boolean =
    ScratchSuffixes.exists(name.endsWith)

  /** Resolve the swap scratch state around one live path:
    * live present ⇒ any `.compact`/`.old` siblings are leftovers of an
    * interrupted pass (the new data may be incomplete) — delete them;
    * live absent + `.compact` present ⇒ the crash hit between the two
    * renames and the new data IS complete (it was fully written before
    * the live leaf was moved aside) — promote it, then drop `.old`;
    * live absent + only `.old` ⇒ restore the original. Returns true when
    * anything changed.
    */
  private def recoverScratch(fs: FileSystem, live: Path): Boolean = {
    val tmp = new Path(live.getParent, live.getName + ".compact")
    val old = new Path(live.getParent, live.getName + ".old")
    val haveTmp = fs.exists(tmp)
    val haveOld = fs.exists(old)
    if (!haveTmp && !haveOld) false
    else {
      if (fs.exists(live)) {
        if (haveTmp) fs.delete(tmp, true): Unit
        if (haveOld) fs.delete(old, true): Unit
      } else if (haveTmp) {
        if (!fs.rename(tmp, live))
          throw new java.io.IOException(s"compact recovery failed: $tmp -> $live")
        if (haveOld) fs.delete(old, true): Unit
      } else {
        if (!fs.rename(old, live))
          throw new java.io.IOException(s"compact recovery failed: $old -> $live")
      }
      true
    }
  }

  /** Startup/maintain-time recovery sweep over one table: resolve scratch
    * dirs orphaned by a crash mid-[[compactRoot]], at the table level (the
    * flat dictionary case renames the table dir itself) and in every
    * partition directory below it. Returns true when anything changed.
    */
  private def recoverSweep(fs: FileSystem, tableDir: Path): Boolean = {
    var changed = recoverScratch(fs, tableDir)
    def walk(p: Path): Unit =
      for (s <- listStatus(fs, p) if s.isDirectory) {
        val name = s.getPath.getName
        if (isScratch(name))
          changed |= recoverScratch(fs, new Path(p,
            ScratchSuffixes.foldLeft(name)(_ stripSuffix _)))
        else walk(s.getPath)
      }
    walk(tableDir)
    changed
  }

  /** Test-only fault injection: invoked between the two swap renames of
    * [[compactRoot]] with the leaf path (the worst crash window — live
    * leaf absent, both scratch copies on disk).
    */
  private[store] var compactFaultHook: String => Unit = _ => ()

  private[store] def compactRoot(spark: SparkSession, root: String,
      table: String, sortCols: Seq[String], maxFiles: Int,
      merge: Option[DataFrame => DataFrame] = None,
      targetFiles: Int = 1): Int = {
    val (fs, tableDir) = fsFor(s"$root/$table")
    // a crashed previous pass left scratch dirs: restore before listing,
    // so the leaf selection below sees whole leaves only
    val recovered = fs.exists(tableDir.getParent) && recoverSweep(fs, tableDir)
    // a crash mid-batch-write leaves a partial `_compacting` scratch dir;
    // readers never see it (underscore prefix) but clean it up here so it
    // cannot linger once the table drops back under the file bound
    if (fs.exists(tableDir))
      fs.delete(new Path(tableDir, "_compacting"), true): Unit
    def partDirs(p: Path): Seq[Path] = {
      val kids = listStatus(fs, p)
      val sub = kids.filter(k => k.isDirectory &&
        k.getPath.getName.contains("=") && !isScratch(k.getPath.getName))
      if (sub.isEmpty) Seq(p) else sub.flatMap(s => partDirs(s.getPath)).toSeq
    }
    val leaves =
      if (fs.exists(tableDir) && fs.getFileStatus(tableDir).isDirectory)
        partDirs(tableDir)
      else Nil
    // leaf == tableDir is the FLAT (unpartitioned) dictionary-table case:
    // same write-new-then-swap, but the table's own _SUCCESS marker must
    // survive (it guards the build), and the rewrite keeps the dictionary
    // sharded (targetFiles) instead of collapsing to one file
    // the flat dictionary case is DONE at targetFiles shards — with
    // targetFiles > maxFiles the old bound re-rewrote (and whole-dir
    // re-swapped) an already-compacted dictionary on EVERY maintenance
    // tick, pure rename churn that also kept re-opening the reader race
    // window
    def fileBound(leaf: Path): Int =
      if (leaf == tableDir) math.max(maxFiles, targetFiles) else maxFiles
    val toCompact = leaves.filter(leaf =>
      listStatus(fs, leaf).count(f =>
        f.isFile && f.getPath.getName.endsWith(".parquet")) > fileBound(leaf))
    // crash-safe swap: the ORIGINAL survives as `.old` until the new
    // data is live — a crash anywhere leaves a complete copy for
    // [[recoverScratch]] (vs the old delete-then-rename, whose crash
    // window lost the leaf outright)
    def swapIn(leaf: Path, tmp: Path): Unit = {
      val old = new Path(leaf.getParent, leaf.getName + ".old")
      if (!fs.rename(leaf, old))
        throw new java.io.IOException(s"compact swap failed: $leaf -> $old")
      compactFaultHook(leaf.toString)
      if (!fs.rename(tmp, leaf)) {
        fs.rename(old, leaf): Unit // restore the original
        throw new java.io.IOException(s"compact swap failed: $tmp -> $leaf")
      }
      fs.delete(old, true): Unit
      // drop the nested _SUCCESS marker — partition dirs hold only parts
      if (leaf != tableDir)
        fs.delete(new Path(leaf, "_SUCCESS"), false): Unit
    }
    // leaf == tableDir is the flat dictionary-table case: a single
    // write-new-then-swap keeping the dictionary sharded (targetFiles)
    def rewriteFlat(leaf: Path): Unit = {
      val tmp = new Path(leaf.getParent, leaf.getName + ".compact")
      val df0 = spark.read.parquet(leaf.toString)
      val df = merge.fold(df0)(m => m(df0))
      val sortable = sortCols.filter(df.columns.contains)
      (if (targetFiles <= 1) df.coalesce(1)
       else df.repartition(targetFiles, sortable.take(1).map(col): _*))
        .sortWithinPartitions(sortable.map(col): _*)
        .write.mode("overwrite").parquet(tmp.toString)
      swapIn(leaf, tmp)
    }
    val (flat, allParts) = toCompact.partition(_ == tableDir)
    // schema-drift guard for the one-job rewrite below: it reads every
    // over-limit leaf under ONE explicit schema, so a leaf whose files
    // carry a column absent from that schema would silently rewrite
    // without it. Appends are conformed to the stored contract
    // (appendAligned), so drift can't arise through supported paths —
    // verify cheaply anyway from the parquet FOOTERS (driver-side reads,
    // no Spark jobs) and route any drifted leaf through its own
    // mergeSchema rewrite with its own column set.
    def footerFields(leaf: Path): Set[String] = {
      listStatus(fs, leaf).iterator
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .flatMap { s =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile
              .fromStatus(s, fs.getConf))
          try r.getFileMetaData.getSchema.getFields.asScala
            .map(_.getName).toList
          finally r.close()
        }.toSet
    }
    val headFields: Set[String] =
      allParts.headOption.map(footerFields).getOrElse(Set.empty)
    val (parts, drifted) =
      allParts.partition(l => (l eq allParts.head) ||
        footerFields(l) == headFields)
    drifted.foreach { leaf =>
      val tmp = new Path(leaf.getParent, leaf.getName + ".compact")
      val df0 = spark.read.option("mergeSchema", "true")
        .parquet(leaf.toString)
      val df = merge.fold(df0)(m => m(df0))
      val sortable = sortCols.filter(df.columns.contains)
      df.coalesce(1).sortWithinPartitions(sortable.map(col): _*)
        .write.mode("overwrite").parquet(tmp.toString)
      swapIn(leaf, tmp)
    }
    // partition leaves rewrite in ONE Spark job per table, not one tiny
    // read+write job per leaf (which made a maintenance pass over a
    // fragmented store job-scheduling-bound, not byte-bound): each leaf is
    // tagged with a synthetic __leaf index, the union repartitions on it
    // (one writer task per leaf ⇒ one sorted part file per leaf, the same
    // output the per-leaf coalesce(1) produced), and the dynamic-partition
    // write stages every new copy under a `_compacting` scratch dir
    // (underscore prefix: invisible to parquet readers). Bytes moved =
    // only the over-limit leaves — the recent appends — shuffled once,
    // same cost shape as the appends that created them. The swap then
    // reuses the per-leaf two-rename protocol unchanged, so the
    // crash-safety story (and [[recoverScratch]]) is exactly the old one.
    if (parts.nonEmpty) {
      val scratch = new Path(tableDir, "_compacting")
      fs.delete(scratch, true): Unit
      // ONE scan relation over exactly the over-limit leaves (basePath
      // keeps the partition columns), with an EXPLICIT schema: one bare
      // spark.read.parquet per leaf would pay a footer-inference job
      // each, and a per-leaf union would pay analysis/codegen linear in
      // leaf count — both made a fragmented-store maintenance pass
      // job-scheduling-bound. Partition columns read as STRINGS, so
      // values round-trip bit-exactly into partitionBy below (the dirs
      // the original string-typed append writes produce).
      // leaves from listStatus are scheme-qualified; qualify the table dir
      // the same way before computing relative paths, or the strip is a
      // no-op and Path(scratch, rel) resolves back to the LIVE leaf
      val qTable = fs.makeQualified(tableDir).toString
      val relParts = parts.map(l =>
        fs.makeQualified(l).toString.stripPrefix(qTable).stripPrefix("/"))
      val dataSchema = spark.read.parquet(parts.head.toString).schema
      val (renameFrom, write) = merge match {
        case Some(m) =>
          // partial-merge tables (15s downsamples — small): ONE basePath
          // scan (partition cols read as strings so values round-trip
          // bit-exactly into partitionBy), merge keyed by (partition
          // cols, bucket keys) — leaves are disjoint, so this is exactly
          // the old per-leaf merge — then one exchange on the partition
          // cols: one writer task per leaf ⇒ one sorted file per leaf
          val partKeys = relParts.head.split("/").toSeq
            .filter(_.contains("=")).map(_.takeWhile(_ != '='))
          val full = partKeys.foldLeft(dataSchema)((s, k) => s.add(k, "string"))
          val scan = spark.read.option("basePath", tableDir.toString)
            .schema(full).parquet(parts.map(_.toString): _*)
          val df = m(scan)
          val sortable = sortCols.filter(df.columns.contains)
          (relParts,
            () => df.repartition(partKeys.map(col): _*)
              .sortWithinPartitions((partKeys ++ sortable).map(col): _*)
              .write.mode("overwrite").partitionBy(partKeys: _*)
              .parquet(scratch.toString))
        case None =>
          // plain tables (the big ones): NO shuffle — a union of per-leaf
          // single-partition reads (explicit schema: no per-leaf footer
          // jobs), each tagged with a __leaf index, sorted within its own
          // partition and dynamic-partition written by __leaf: one task
          // per leaf reading and writing its own bytes exactly like the
          // old per-leaf coalesce(1) rewrite, but as ONE Spark job for
          // the whole table instead of one job per leaf
          val unioned = parts.zipWithIndex.map { case (leaf, i) =>
            spark.read.schema(dataSchema).parquet(leaf.toString)
              .coalesce(1).withColumn("__leaf", lit(i))
          }.reduce(_.unionByName(_))
          val sortable = sortCols.filter(dataSchema.fieldNames.contains)
          (parts.indices.map(i => s"__leaf=$i"),
            () => unioned
              .sortWithinPartitions(("__leaf" +: sortable).map(col): _*)
              .write.mode("overwrite").partitionBy("__leaf")
              .parquet(scratch.toString))
      }
      write()
      val staged = parts.zip(renameFrom).filter { case (leaf, rel) =>
        fs.rename(new Path(scratch, rel),
          new Path(leaf.getParent, leaf.getName + ".compact"))
      }
      fs.delete(scratch, true): Unit
      staged.foreach { case (leaf, _) =>
        swapIn(leaf, new Path(leaf.getParent, leaf.getName + ".compact")) }
    }
    flat.foreach(rewriteFlat)
    val n = toCompact.size
    if (n > 0 || recovered) {
      // cross-session invalidation, same contract as [[invalidate]]: a
      // tenant session must not keep serving the pre-compaction (or
      // pre-recovery) file list
      val path = s"$root/$table"
      val sessions = readers.keysIterator
        .collect { case (s, p) if p == path => s }.toSet + spark
      readers.filterInPlace { case ((_, p), _) => p != path }
      sessions.foreach(_.catalog.refreshByPath(path))
    }
    n
  }

  /** Bucket-merge for the 15s downsample PARTIAL tables — the merge
    * ClickHouse's AggregatingMergeTree applies to the reference's MV
    * tables during background merges: partial rows of one
    * (family, fingerprint, bucket) combine via the partial-merge
    * functions (Σcnt/Σsum/Σbytes, min/max fold, argmax-by-last_ts).
    * Read paths apply the SAME merge, so this is purely physical: it
    * shrinks the table back to ~1 row per bucket after many small pushes.
    */
  private[store] def mergePartials(df: DataFrame): DataFrame = {
    // oid/date are the batch-compaction partition tags: leaves are
    // disjoint in them, so including them keeps the merge per-leaf
    // inside the one-job-per-table rewrite (read paths never carry them
    // into this merge — scanWindow drops oid and never selects date)
    val keys = Seq("oid", "date", "family", "fingerprint", "timestamp_ns")
      .filter(df.columns.contains)
    val mergeFns: Map[String, Column] = Map(
      "labels" -> first(col("labels")),
      "last" -> max_by(col("last"), col("last_ts")),
      "last_ts" -> max(col("last_ts")),
      "min" -> min(col("min")),
      "max" -> max(col("max")),
      "sum" -> sum(col("sum")),
      "cnt" -> sum(col("cnt")),
      "bytes" -> sum(col("bytes")))
    val aggs = df.columns.filterNot(keys.contains).toSeq.map(c =>
      mergeFns.getOrElse(c, first(col(c))).as(c))
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .select(df.columns.map(col).toSeq: _*)
  }

  /** The scheduled housekeeping pass a live deployment runs (the
    * reference's ctrl maintenance timers — `rotate.go` + ClickHouse's own
    * background merges): compact every append-MUTABLE table's
    * over-fragmented partition directories, merging downsample partials
    * by bucket and re-sharding the dictionary tables. Each partition is
    * independent work bounded by its own size; nothing global, so at
    * 100 TB this schedules per-partition jobs exactly like the
    * reference's per-part merges. Returns partitions compacted. Safe to
    * run concurrently with queries (write-new-then-swap) but serialized
    * against appends via [[appendLock]].
    */
  def maintain(spark: SparkSession, dir: String, maxFiles: Int = 8): Int =
    appendLock.synchronized {
      val root = ensure(spark, dir)
      writerLock(root).ensureHeld()
      val pm: Option[DataFrame => DataFrame] =
        Some((df: DataFrame) => mergePartials(df))
      val plan: Seq[(String, Seq[String], Option[DataFrame => DataFrame], Int)] =
        Seq(
          ("samples", Seq("fingerprint", "timestamp_ns"), None, 1),
          ("metrics_15s", Seq("fingerprint", "timestamp_ns"), pm, 1),
          ("spans", Seq("trace_id", "span_id"), None, 1),
          ("span_attrs", Seq("key", "val", "trace_id"), None, 1),
          ("span_ancestors", Seq("trace_id", "span_id"), None, 1),
          ("profiles", Seq("service_name", "timestamp_ns"), None, 1),
          ("prom_pushed", Seq("fingerprint", "timestamp_ns"), None, 1),
          ("prom_pushed_15s", Seq("family", "fingerprint", "timestamp_ns"),
            pm, 1),
          ("time_series", Seq("fingerprint"), None, dictShards(spark)),
          ("prom_series", Seq("fingerprint"), None, dictShards(spark)))
      // one compaction job per table now (see compactRoot): overlap the
      // tables on a small pool so the pass's wall-clock is the slowest
      // table, not the sum — tables are disjoint paths, and concurrent
      // Spark jobs from driver threads back-fill each other's tails
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(4, plan.size))
      try plan.map { case (t, sort, m, tf) =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = compactRoot(spark, root, t, sort, maxFiles, m, tf)
        })
      }.map { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          throw e.getCause }
      }.sum
      finally pool.shutdown()
    }

  def promMetric(spark: SparkSession, dir: String, name: String,
      loNs: Long, hiNs: Long): Option[DataFrame] = {
    val table = name match {
      case "events_value"  => Some("prom_gauge")
      case "events_total"  => Some("prom_counter")
      case "events_bucket" => Some("prom_bucket")
      case _               => None
    }
    table.map(t => scanWindow(spark, s"${ensure(spark, dir)}/$t", loNs, hiNs))
      // names outside the built families may have arrived over HTTP —
      // the pushed fact table is their home (appendMetrics)
      .orElse(promPushed(spark, dir, name, loNs, hiNs))
  }
}
