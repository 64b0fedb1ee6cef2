package graft.store

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference,
  Cast, GenericInternalRow, InterpretedOrdering, SortOrder}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StringType,
  StructType}

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
  *   prom_samples — every PromQL metric sample, built or pushed, in one
  *                  fact table keyed by `family` (= `__name__`) and sorted
  *                  by (family, fingerprint, timestamp_ns): the build's
  *                  families (gauge/counter/bucket) are its first push, so
  *                  no query re-runs the cumsum window (`samples_v3`,
  *                  log.sql:25-32)
  *   prom_samples_15s — the one 15s downsample of every family: each
  *                  write appends the partials of its own rows (the
  *                  reference's `metrics_15s_mv`, log.sql:96-107)
  *   prom_series  — the metric series dictionary (family, fingerprint →
  *                  labels), the `time_series` analog for PromQL
  *
  * Appends (one HTTP push, or one ruler tick's writeback) share one
  * contract ([[appendBatch]]): the batch is decoded once, by collecting
  * it; each table delta is derived from that local copy and written on
  * the driver ([[writeLeaves]]), with no write job, committer or staging
  * directory; a table gains one file per touched (oid, date) leaf; and a
  * dictionary table gains a file only when the batch carries series it
  * does not hold yet, so a push of known series writes no dictionary
  * file at all.
  *
  * One commit protocol ([[ManifestLog]]): a store root is the set of files
  * its `_manifest/` log lists, as a MergeTree table is its active parts.
  * The build commits version 0; each push, compaction pass and expiry
  * commits one version; reads plan against a version's file list, never a
  * listing. A request pins one version ([[pinned]]); superseded files are
  * deleted once no pin reads them, uncommitted ones by [[maintain]].
  *
  * Query-side partitioning ([[sized]]): every query-facing scan (the
  * windowed fact scans and the two series dictionaries) sums the recorded
  * bytes of the pinned version's files in the leaves its tenant and its
  * date window can select. At or below 24 MiB it returns its frame
  * `.coalesce(1)`: a single-partition child satisfies every distribution,
  * so the aggregates, sorts, windows and joins above it plan no shuffle
  * and run as one stage of one task per scan. The constant is ClickHouse's
  * `merge_tree_min_bytes_for_concurrent_read`, below which MergeTree reads
  * a range in one stream; F1 Query likewise runs small queries centrally.
  * A larger selection keeps Spark's file splits and exchanges. Appends,
  * the build, compaction and expiry plan as before.
  *
  * Built once per testdata dir under target/graft-store and reused across
  * JVMs through the log. At 100 TB this build is the ingest pipeline
  * (§2.A Structured Streaming foreachBatch). These tables are the one read
  * path: every query engine (LogQL, PromQL, TraceQL, profiles, admission
  * guards, metadata) scans them, and none re-derives a table from raw
  * events at query time.
  */
object Store {

  private[store] val built = TrieMap[String, String]()

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

  // bump the version segment when a table SCHEMA or the store layout
  // changes: a root's log would otherwise keep serving the old one
  private[store] def rootFor(dir: String): String =
    rootOverrides.getOrElse(dir,
      storeRoot + "/v9/" + dir.replaceAll("[^a-zA-Z0-9.]+", "_"))

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
  // and silently drop rows (stores persist across JVMs)
  private def withDate(df: DataFrame): DataFrame =
    df.withColumn("date",
      date_from_unix_date((col("timestamp_ns") / 86400000000000L).cast("int")))

  /** Hadoop FileSystem for a store path, resolved from the path's URI and
    * the session's hadoopConfiguration — every file operation below
    * (the commit log, staged moves, orphan sweeps, expiry and compaction
    * deletes) goes through this, so `maintain`/`expire` and the log work
    * identically on local disk, HDFS, or s3a:// roots: the
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


  /** Every parquet file below a table directory, as paths relative to it,
    * with their sizes. Walks with `listStatus`: the located statuses of a
    * recursive `listFiles` make the local filesystem fork a process per
    * file to read its permissions.
    */
  private def listTable(path: String): Map[String, Long] = {
    val (fs, p) = fsFor(path)
    val base = fs.makeQualified(p).toString + "/"
    def walk(d: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      (try fs.listStatus(d).toSeq catch { case _: java.io.FileNotFoundException => Nil })
        .flatMap(s => if (s.isDirectory) walk(s.getPath) else Seq(s))
    walk(p).filter(_.getPath.getName.endsWith(".parquet"))
      .map(s => s.getPath.toString.stripPrefix(base) -> s.getLen).toMap
  }

  /** The recorded schema of a written frame: data columns in frame order,
    * then the partition columns, all nullable (what a parquet read
    * returns).
    */
  private def schemaOf(df: DataFrame, partCols: Seq[String]): StructType =
    nullable(StructType(df.schema.filterNot(f => partCols.contains(f.name)) ++
      partCols.map(df.schema(_)))).asInstanceOf[StructType]

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** Bounded output-batch size — the writer's 50 MiB insert cap analog
    * (`writer/service/generic_insert.go:33-35`): no store file exceeds
    * ~maxRecordsPerFile rows, so downstream readers and compaction see
    * bounded units regardless of partition skew. Conf knob
    * `spark.graft.store.maxRecordsPerFile` (rows; 0 disables).
    */
  private def maxRecordsPerFile(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.store.maxRecordsPerFile")
      .map(_.toLong).getOrElse(8000000L)

  /** Date-partition + sort-within-partition writer: the Spark analog of the
    * reference's `PARTITION BY toDate(...) ORDER BY (keys...)` DDL
    * (`ctrl/qryn/sql/log.sql:16-32`, `traces.sql:7-32`). Partition pruning
    * handles the query window; parquet row-group min/max on the sort keys
    * handles the rest. Returns the written frame's recorded schema.
    */
  private[store] def writePartitioned(df: DataFrame, path: String,
      sortCols: Seq[String]): StructType = {
    val out = withOid(withDate(df))
    out.repartition(col("oid"), col("date"))
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile(df.sparkSession))
      .partitionBy("oid", "date").parquet(path)
    schemaOf(out, DatePartitions)
  }

  private val DatePartitions = Seq("oid", "date")

  /** Build (if the root has no version yet) and return the store root for
    * a testdata dir. A resident query service fires its first queries in
    * parallel, and two overlapping `overwrite` builds of one root corrupt
    * it: the lock serializes builds, the lock-free `get` keeps the built
    * path uncontended.
    */
  def ensure(spark: SparkSession, dir: String): String =
    built.get(dir).getOrElse(buildLock.synchronized {
      built.getOrElseUpdate(dir, {
        val root = rootFor(dir)
        if (logFor(root).head.version < 0) build(spark, dir, root)
        root
      })
    })

  private val BuiltTables = Seq("samples", "time_series", "metrics_15s",
    "spans", "span_attrs", "span_ancestors", "profiles", "prom_samples",
    "prom_samples_15s", "prom_series")

  /** Sort key of both metric fact tables: a family's rows are contiguous,
    * so row-group statistics skip the other families of a leaf.
    */
  private val MetricSort = Seq("family", "fingerprint", "timestamp_ns")

  /** Metric sample rows (timestamp_ns, labels, value, fingerprint) with
    * their `family` column, the `__name__` label.
    */
  private def withFamily(rows: DataFrame): DataFrame =
    rows.withColumn("family", element_at(col("labels"), "__name__"))

  /** The 15s downsample partials of metric rows carrying `family`. */
  private def metricPartials(rows: DataFrame): DataFrame =
    Tables.partials15s(rows, Seq(col("family"), col("fingerprint")),
      first(col("labels")).as("labels"))

  private val buildLock = new Object

  /** The one-time build: write every table, then commit them all as
    * version 0, under the single-writer lock like every mutating path. The
    * inputs are resolved before the lock is taken, so a dir without them
    * fails with no lock file and no heartbeat. A build that dies before
    * its commit leaves no version; the next ensure rebuilds over it.
    */
  private def build(spark: SparkSession, dir: String, root: String): Unit = {
    val logs = Tables.logs(spark, dir)
    // the built metric families are the store's first metric push: the
    // same fact table, partials and dictionary rows as appendMetrics.
    // Materialized once: three tables are written from it
    val metrics = Materialize(withFamily(Tables.gaugeSamples(spark, dir)
      .unionByName(Tables.counterSamples(spark, dir))
      .unionByName(Tables.bucketSamples(spark, dir))))
    // the reference materializes tempo_traces / tempo_traces_attrs_gin /
    // profiles as date-partitioned tables (traces.sql:7-32, profiles.sql:5-17)
    val partitioned: Seq[(String, DataFrame, Seq[String])] = Seq(
      ("samples", logs.select(col("timestamp_ns"), col("fingerprint"),
        col("line"), col("value")), Seq("fingerprint", "timestamp_ns")),
      ("metrics_15s", Tables.metrics15s(spark, dir),
        Seq("fingerprint", "timestamp_ns")),
      ("spans", Tables.spans(spark, dir), Seq("trace_id", "span_id")),
      ("span_attrs", Tables.spanAttrs(spark, dir),
        Seq("key", "val", "trace_id")),
      ("span_ancestors", ancestorClosure(Tables.spans(spark, dir)),
        Seq("trace_id", "span_id")),
      ("profiles", graft.prof.Profiles.derive(spark, dir),
        Seq("service_name", "timestamp_ns")),
      ("prom_samples", metrics, MetricSort),
      ("prom_samples_15s", metricPartials(metrics), MetricSort))
    // the series DICTIONARIES are flat and fingerprint-hash sharded: a
    // single-file dictionary is a one-task straggler at 1e8 series.
    // prom_series is the per-family `time_series` analog that admission
    // estimates and label lookups read instead of the sample tables
    val dicts: Seq[(String, DataFrame)] = Seq(
      ("time_series", logs.select(col("fingerprint"), col("labels"))
        .dropDuplicates("fingerprint")),
      ("prom_series", metrics.select(col("family"), col("fingerprint"),
        col("labels")).dropDuplicates("family", "fingerprint")))
    writerLock(root).ensureHeld()
    val written =
      partitioned.map { case (t, df, sort) =>
        t -> (writePartitioned(df, s"$root/$t", sort), DatePartitions)
      } ++ dicts.map { case (t, df) =>
        val out = withOid(df)
        out.repartition(dictShards(spark), col("fingerprint"))
          .write.mode("overwrite").parquet(s"$root/$t")
        t -> (schemaOf(out, Nil), Seq.empty[String])
      }
    commit(root, written.map { case (t, created) =>
      TableChange(t, listTable(s"$root/$t"), created = Some(created)) })
  }

  private def dictShards(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.dict.shards").map(_.toInt).getOrElse(8)

  /** Series dictionary (fingerprint → labels); small, broadcast at joins. */
  def timeSeries(spark: SparkSession, dir: String): DataFrame =
    queryScan(spark, s"${ensure(spark, dir)}/time_series", None)

  /** The metric series dictionary, every family: (family, fingerprint,
    * labels), `__name__` inside the labels. Series-ever-seen, not
    * window-scoped — the cheap upper bound admission checks want.
    */
  def promSeries(spark: SparkSession, dir: String): DataFrame =
    queryScan(spark, s"${ensure(spark, dir)}/prom_series", None)

  /** Touch every store table once (footer and data reads) so a
    * fresh session's first real query doesn't pay the cold-reader cost —
    * the cache-warm a resident query service does at startup.
    */
  def warm(spark: SparkSession, dir: String): Unit = {
    val root = ensure(spark, dir)
    BuiltTables.foreach(t => readTable(spark, s"$root/$t").limit(1).count(): Unit)
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

  private[store] val logs = TrieMap[String, ManifestLog]()
  private def logFor(root: String): ManifestLog =
    logs.getOrElseUpdate(root, new ManifestLog(root))

  /** Versions pinned by the current thread's request, per root. */
  private val requestPins =
    new ThreadLocal[scala.collection.mutable.Map[String, Snapshot]]

  /** Run one request against one version per store root: the first scan
    * of a root inside `body` pins that root's head, and every later scan
    * of it reads the same version. A process that does not hold the
    * root's writer lock first checks the log for versions another process
    * committed; the writer trusts its in-memory head. Superseded files
    * outlive every pin ([[retire]]). Nested calls join the outer request.
    */
  def pinned[T](body: => T): T =
    if (requestPins.get != null) body
    else {
      val pins = scala.collection.mutable.Map[String, Snapshot]()
      requestPins.set(pins)
      try body
      finally {
        requestPins.remove()
        pins.foreach { case (root, s) => logFor(root).unpin(s.version) }
      }
    }

  /** Run `body` outside any request pin: appends read the head they
    * commit against.
    */
  private def unpinned[T](body: => T): T = {
    val pins = requestPins.get
    requestPins.remove()
    try body finally if (pins != null) requestPins.set(pins)
  }

  private def snapshot(root: String): Snapshot =
    Option(requestPins.get) match {
      case None => logFor(root).head
      case Some(pins) => pins.getOrElseUpdate(root, {
        val log = logFor(root)
        if (!writerLocks.get(root).exists(_.isHeld)) log.refresh()
        log.pin()
      })
    }

  /** A scan of `index`'s files (all of a table's committed files, or a
    * subset) under its recorded schema: a [[ManifestFileIndex]] behind a
    * plain `HadoopFsRelation`, so planning runs no Spark job.
    */
  private[store] def relation(spark: SparkSession,
      index: ManifestFileIndex): DataFrame = {
    val state = index.state
    spark.baseRelationToDataFrame(HadoopFsRelation(index,
      index.partitionSchema,
      StructType(state.schema.filterNot(f => state.partitionBy.contains(f.name))),
      None, new ParquetFileFormat, Map.empty)(spark))
  }

  private def indexOf(spark: SparkSession, path: String,
      state: TableState): ManifestFileIndex = {
    val (fs, p) = fsFor(path)
    new ManifestFileIndex(spark, fs.makeQualified(p), state)
  }

  /** The index of `path`'s committed files in the pinned version. */
  private def indexOf(spark: SparkSession, path: String): ManifestFileIndex = {
    val i = path.lastIndexOf('/')
    val snap = snapshot(path.take(i))
    indexOf(spark, path, snap.tables.getOrElse(path.drop(i + 1),
      throw new IllegalStateException(
        s"store table $path is not in version ${snap.version}")))
  }

  private[store] def readTable(spark: SparkSession, path: String): DataFrame =
    relation(spark, indexOf(spark, path))

  /** ClickHouse's `merge_tree_min_bytes_for_concurrent_read` (24 MiB):
    * MergeTree reads a smaller range in one stream.
    */
  private val SingleTaskMaxBytes = 24L << 20

  /** `df`, a scan of `index` for tenant `oid` over epoch days `days`, on
    * one partition when the committed files it can select sum to at most
    * [[SingleTaskMaxBytes]]; otherwise `df` unchanged.
    */
  private[store] def sized(df: DataFrame, index: ManifestFileIndex,
      oid: Option[String], days: Option[(Int, Int)]): DataFrame =
    if (index.selectedBytes(oid, days) <= SingleTaskMaxBytes) df.coalesce(1)
    else df

  /** A query-facing scan of `path`: `select` narrows the table's rows,
    * the session's tenant filter applies, and the frame is [[sized]] by
    * the leaves of that tenant and of `days` (what `select` prunes to).
    */
  private def queryScan(spark: SparkSession, path: String,
      days: Option[(Int, Int)],
      select: DataFrame => DataFrame = identity): DataFrame = {
    val index = indexOf(spark, path)
    sized(tenantFilter(spark, select(relation(spark, index)))
      .drop("oid"), // tenant applied; downstream schemas stay oid-free
      index, spark.conf.getOption("spark.graft.tenant"), days)
  }

  /** Fact scan over [loNs, hiNs): ts predicate + derived date predicate so
    * the partition pruning actually fires (the ts column alone can't prune
    * date directories).
    */
  private def scanWindow(spark: SparkSession, path: String,
      loNs: Long, hiNs: Long): DataFrame = {
    val (lo, hi) = ((loNs / 86400000000000L).toInt, (hiNs / 86400000000000L).toInt)
    queryScan(spark, path, Some((lo, hi)), _
      .filter(col("timestamp_ns") >= loNs && col("timestamp_ns") < hiNs)
      .filter(col("date") >= date_from_unix_date(lit(lo)) &&
        col("date") <= date_from_unix_date(lit(hi))))
  }

  def samples(spark: SparkSession, dir: String, loNs: Long, hiNs: Long): DataFrame =
    scanWindow(spark, s"${ensure(spark, dir)}/samples", loNs, hiNs)

  def metrics15s(spark: SparkSession, dir: String, loNs: Long, hiNs: Long): DataFrame =
    scanWindow(spark, s"${ensure(spark, dir)}/metrics_15s", loNs, hiNs)

  /** Bounded ancestor closure (trace_id, span_id, anc_id, timestamp_ns):
    * one row per (span, proper ancestor), built once at ingest by iterative
    * doubling — ⌈log₂ depth⌉ self-joins, depth capped at 64. TraceQL's
    * `>>`, `!>>` and `<<~` read it with one equi-join per query and no
    * driver loop. Size is Σ span depths —
    * bounded by 64× the span table, ~5× for typical trace shapes; the same
    * space-for-join trade as the attrs GIN.
    */
  private[store] def ancestorClosure(spansDf: DataFrame): DataFrame = {
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

  private val ClosureDriverMax = 500000

  /** Driver-side ancestor closure for one PUSH batch's edge set — a push
    * is one bounded HTTP request (the reference's writer computes its GIN
    * rows in-process per batch the same way), so for batches of at most
    * [[ClosureDriverMax]] edges the ⌈log₂ depth⌉ rounds of
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

  /** Live ingest append — the batched fan-out write a push endpoint makes
    * (`writer/service/insert/`, one insert per canonical table): a decoded
    * batch (the [[graft.ingest.LokiPush.decodeRows]] shape — fingerprint,
    * labels, timestamp_ns, line, value) lands in the QUERYABLE store:
    *
    *   - `samples` gains the rows (same oid/date partition layout as the
    *     build; small-file accumulation is what [[maintain]] exists for);
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
      val samples = appendWrite(root, "samples", withPushOid(spark,
          withDate(batch.select(col("timestamp_ns"), col("fingerprint"),
            col("line"), col("value")))),
        Seq("fingerprint", "timestamp_ns"))
      // dictionary dedup is per (oid, fingerprint): two tenants pushing
      // the same label set each need their own dictionary row, or the
      // second tenant's series would be invisible to its own label APIs
      val dict = appendDictDelta(spark, root, "time_series",
        withPushOid(spark, batch.select(col("fingerprint"), col("labels"))),
        Seq("oid", "fingerprint"))
      val partials = Tables.partials15s(batch.coalesce(1),
        Seq(col("fingerprint")), sum(length(col("line"))).as("bytes"))
      Seq(samples, appendWrite(root, "metrics_15s",
        withPushOid(spark, withDate(partials)),
        Seq("fingerprint", "timestamp_ns"))) ++ dict
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
    *   3. the rows are rebuilt as a local frame, so each table delta
    *      below is derived from them without re-decoding, and written by
    *      the driver ([[appendWrite]]);
    *   4. `write` returns each table's change, and the whole batch is ONE
    *      commit: a reader sees all of its tables' rows or none. Its reads
    *      of stored state (dictionary probes, closure repair) see the
    *      head it commits against, even inside a pinned request.
    *
    * Returns the number of rows appended.
    */
  private def appendBatch(spark: SparkSession, dir: String, rows: DataFrame)(
      write: (String, DataFrame) => Seq[TableChange]): Long = {
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
      commit(root, unpinned(write(root, batch)))
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
    * here. Returns the table change, if anything was written.
    */
  private def appendDictDelta(spark: SparkSession, root: String,
      table: String, cands: DataFrame,
      keys: Seq[String]): Option[TableChange] = {
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
      val stored = readTable(spark, s"$root/$table").select(keys.map(col): _*)
      val probe =
        if (fps.length <= 100000) stored.filter(col("fingerprint").isin(fps: _*))
        else stored.join(cands.select(keys.map(col): _*), keys, "left_semi")
      probe.collect().foreach(r => fresh.remove(keys.indices.map(r.get)): Unit)
    }
    Option.when(!fresh.isEmpty)(TableChange(table, writeLeaves(spark, root,
      table, cands.schema, fresh.values.asScala.toSeq, Nil, Nil)))
  }

  /** Per-root single-writer guard (see [[WriterLock]]): every mutating
    * path — appends, [[maintain]], [[expire]] — confirms this process
    * owns the root before touching it; a second live process gets a clean
    * IllegalStateException instead of racing the dictionary anti-join or
    * the commit log.
    */
  private[store] val writerLocks = TrieMap[String, WriterLock]()
  private def writerLock(root: String): WriterLock =
    writerLocks.getOrElseUpdate(root, new WriterLock(root))

  /** One-file-per-leaf append write of `df`, a frame derived from a
    * push's local batch ([[appendBatch]]): collected, then written by
    * [[writeLeaves]]. A projection of the batch folds into a local
    * relation and runs no job; an aggregate (the 15s partials) or a join
    * against the stored tables (the closure repair) runs one. Returns the
    * table's change; the first write to a table also records its schema.
    */
  private def appendWrite(root: String, table: String, df: DataFrame,
      sortCols: Seq[String]): TableChange =
    TableChange(table, writeLeaves(df.sparkSession, root, table, df.schema,
        df.collect().toSeq, DatePartitions, sortCols),
      created = Option.when(!snapshot(root).tables.contains(table))(
        (schemaOf(df, DatePartitions), DatePartitions)))

  /** The one append writer: `rows` (of `schema`, partition columns
    * included) are sorted on the driver by `partCols ++ sortCols` and
    * written as one file per touched leaf, straight into
    * `$root/$table/<leaf>/`, by Spark's own Parquet writer, so the footer,
    * codec and row metadata are those of a task-written file. Leaf names
    * come from Spark's partition-path escaping. There is no write job,
    * committer or staging directory: the manifest is the commit point, so
    * a file no version lists is never read, and [[sweep]] deletes it.
    * Returns the written files (relative to the table) and their sizes.
    */
  private def writeLeaves(spark: SparkSession, root: String, table: String,
      schema: StructType, rows: Seq[Row], partCols: Seq[String],
      sortCols: Seq[String]): Map[String, Long] = {
    def bound(c: String) = {
      val i = schema.fieldIndex(c)
      BoundReference(i, schema(i).dataType, nullable = true)
    }
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    val sorted = rows.map(r => toInternal(r).asInstanceOf[InternalRow])
      .sorted(new InterpretedOrdering(
        (partCols ++ sortCols).map(c => SortOrder(bound(c), Ascending))))
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val partValues = partCols.map(c => c -> Cast(bound(c), StringType, tz))
    def leafOf(r: InternalRow): String =
      partValues.map { case (c, v) => ExternalCatalogUtils
        .getPartitionPathString(c, Option(v.eval(r)).map(_.toString).orNull) + "/"
      }.mkString
    val dataIdx = schema.fields.indices.filterNot(i =>
      partCols.contains(schema(i).name))
    val dataSchema = StructType(dataIdx.map(schema(_)))
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, dataSchema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val ext = factory.getFileExtension(ctx)
    val fs = fsFor(root)._1
    sorted.groupBy(leafOf).map { case (leaf, leafRows) =>
      val file = s"${leaf}part-${java.util.UUID.randomUUID()}.c000$ext"
      val path = s"$root/$table/$file"
      val out = factory.newInstance(path, dataSchema, ctx)
      try leafRows.foreach(r => out.write(
        new GenericInternalRow(dataIdx.map(i => r.get(i, schema(i).dataType)).toArray)))
      finally out.close()
      file -> fs.getFileStatus(new Path(path)).getLen
    }
  }

  /** Drop every per-session cache entry for an evicted tenant session:
    * [[dictCounts]] keys by (session, dir) and would otherwise pin the
    * evicted SparkSession forever, defeating the frontend's tenant-LRU
    * memory bound. Called by the frontend when the LRU evicts a tenant.
    */
  def evictSession(session: SparkSession): Unit =
    dictCounts.filterInPlace { case ((s, _), _) => s ne session }

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
      val spansChange = appendWrite(root, "spans", withPushOid(spark,
          withDate(conformTo(spark, s"$root/spans", batch, Set("oid", "date")))),
        Seq("trace_id", "span_id"))
      val attrs = batch.select(col("trace_id"), col("span_id"),
          col("parent_id"), col("timestamp_ns"), col("duration_ns"),
          explode(col("attrs")).as(Seq("key", "val")))
      val attrsChange = appendWrite(root, "span_attrs", withPushOid(spark,
          withDate(conformTo(spark, s"$root/span_attrs", attrs, Set("oid", "date")))),
        Seq("key", "val", "trace_id"))
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
      // shuffle-bounded
      val rows = closureInput.limit(ClosureDriverMax + 1).collect()
      val anc =
        if (rows.length <= ClosureDriverMax) {
          val edges = rows.map(r => (r.getLong(0), r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3)))
          val s = spark
          import s.implicits._
          spark.createDataset(closureInMemory(edges))
            .toDF("trace_id", "span_id", "anc_id", "timestamp_ns")
        } else ancestorClosure(closureInput)
      val storedAnc = scopeToBatch(tenantFilter(spark,
          readTable(spark, s"$root/span_ancestors")))
        .select(col("trace_id"), col("span_id"), col("anc_id"))
      val fresh = anc.join(storedAnc,
        Seq("trace_id", "span_id", "anc_id"), "left_anti")
      Seq(spansChange, attrsChange, appendWrite(root, "span_ancestors",
        withPushOid(spark, withDate(conformTo(spark, s"$root/span_ancestors",
          fresh, Set("oid", "date")))),
        Seq("trace_id", "span_id")))
    }

  /** Live metric ingest (remote-write / OTLP metrics / Datadog series /
    * Influx fields): decoded samples — (timestamp_ns, labels, value,
    * fingerprint), `__name__` inside the label map — land in the one
    * metric store the build wrote, exactly as the built families did:
    *
    *   - `prom_samples` gains the rows, keyed by `family` = `__name__`, so
    *     a pushed sample of a built family is read by the same scan;
    *   - `prom_series` gains only NEW (family, fingerprint) pairs, so the
    *     labels/series/metadata APIs see them;
    *   - `prom_samples_15s` gains the batch's own 15s PARTIALS: independent
    *     batches append disjoint partial rows for one bucket, readers
    *     ([[promMetric15s]]) and [[maintain]] merge them associatively, so
    *     the PromQL downsample route fires on live data too.
    *
    * Same protocol as every append ([[appendBatch]]). Returns sample rows
    * appended.
    */
  def appendMetrics(spark: SparkSession, dir: String, rows: DataFrame): Long =
    appendBatch(spark, dir, withFamily(rows.select(col("timestamp_ns"),
        col("labels"), col("value"), col("fingerprint")))) { (root, batch) =>
      val samples = appendWrite(root, "prom_samples",
        withPushOid(spark, withDate(batch)), MetricSort)
      val dict = appendDictDelta(spark, root, "prom_series",
        withPushOid(spark, batch
          .select(col("family"), col("fingerprint"), col("labels"))
          .filter(col("family").isNotNull)),
        Seq("oid", "family", "fingerprint"))
      Seq(samples, appendWrite(root, "prom_samples_15s",
        withPushOid(spark, withDate(metricPartials(batch.coalesce(1)))),
        MetricSort)) ++ dict
    }

  /** Live profile ingest (pprof `/ingest`, OTLP profiles): rows already in
    * the profiles-table shape (profile_id, service_name, timestamp_ns,
    * type_id, sample_types_units, tags, tree). Returns rows appended.
    */
  def appendProfiles(spark: SparkSession, dir: String, rows: DataFrame): Long =
    appendBatch(spark, dir, rows) { (root, batch) =>
      Seq(appendWrite(root, "profiles", withPushOid(spark, withDate(conformTo(
          spark, s"$root/profiles", batch, Set("oid", "date")))),
        Seq("service_name", "timestamp_ns")))
    }

  /** One metric family's raw samples over [loNs, hiNs): (timestamp_ns,
    * labels, value, fingerprint). A name never built nor pushed selects
    * no rows — Prometheus answers such a query with an empty result.
    */
  def promMetric(spark: SparkSession, dir: String, name: String,
      loNs: Long, hiNs: Long): DataFrame =
    scanWindow(spark, s"${ensure(spark, dir)}/prom_samples", loNs, hiNs)
      .filter(col("family") === name).drop("family", "date")

  /** One metric family's 15s downsample over [loNs, hiNs), merged per
    * bucket ON READ: independent writes append disjoint PARTIAL rows for
    * one bucket, and [[mergePartials]] is associative, so the read is
    * exact in any compaction state — the AggregatingMergeTree-on-SELECT
    * semantics of the reference's downsample MV (its raw-vs-downsample
    * fork is `prom_queryable.go:150-160`). [[maintain]] applies the SAME
    * merge physically, so steady-state scans see ~1 row per bucket.
    */
  def promMetric15s(spark: SparkSession, dir: String, name: String,
      loNs: Long, hiNs: Long): DataFrame =
    mergePartials(
      scanWindow(spark, s"${ensure(spark, dir)}/prom_samples_15s", loNs, hiNs)
        .filter(col("family") === name).drop("date"))
      .drop("family")

  /** Test-only fault injection before "commit" (data files written) and
    * "retire" (version committed, superseded files not yet deleted).
    */
  private[store] var faultHook: String => Unit = _ => ()

  /** Commit `changes` as one version of `root`. The caller holds
    * [[appendLock]] and the root's writer lock.
    */
  private def commit(root: String, changes: Seq[TableChange]): Snapshot = {
    faultHook("commit")
    logFor(root).commit(changes)
  }

  /** Commit `changes` and return the version with the files it removed,
    * as root-relative paths; None when there is nothing to commit.
    */
  private def commitRemoving(root: String,
      changes: Seq[TableChange]): Option[(Long, Seq[String])] =
    Option.when(changes.nonEmpty)(commit(root, changes).version ->
      changes.flatMap(c => c.removes.map(f => s"${c.table}/$f")))

  /** Delete the files `version` removed once no in-process pin can still
    * scan them. Never called under [[appendLock]]: a ruler tick holds its
    * pin while it appends.
    */
  private def retire(root: String, version: Long, files: Seq[String]): Unit = {
    logFor(root).awaitPinsFrom(version)
    faultHook("retire")
    val fs = fsFor(root)._1
    files.foreach(f => fs.delete(new Path(s"$root/$f"), false): Unit)
  }

  /** The date of a committed file: its `date=` path segment, if any. */
  private def dateOf(file: String): Option[String] =
    file.split('/').find(_.startsWith("date=")).map(_.stripPrefix("date="))

  private def leafOf(file: String): String = file.take(file.lastIndexOf('/') max 0)

  /** TTL retention (`ctrl/qryn/maintenance/rotate.go:48-66`, which issues
    * `ALTER TABLE ... DROP PARTITION` per expired day): drop every `date=`
    * partition strictly before the cutoff (ISO yyyy-MM-dd) across the
    * date-partitioned tables. One commit drops the expired files from the
    * log — no data rewrite, O(expired files) work, the same cost shape as
    * the reference's partition drops — and the emptied partition
    * directories are deleted once no pin can read them.
    */
  def expire(spark: SparkSession, dir: String, cutoffDate: String): Unit =
    expireRoot(spark, ensure(spark, dir), cutoffDate)

  private[store] def expireRoot(spark: SparkSession, root: String,
      cutoffDate: String): Unit = {
    val dropped = appendLock.synchronized {
      writerLock(root).ensureHeld()
      // ISO dates compare lexicographically
      commitRemoving(root, logFor(root).head.tables.toSeq.flatMap { case (t, st) =>
        val gone = st.files.keySet.filter(dateOf(_).exists(_ < cutoffDate))
        Option.when(gone.nonEmpty)(TableChange(t, Map.empty, gone))
      })
    }
    dropped.foreach { case (v, files) =>
      retire(root, v, files)
      // a push may have landed in an expired partition since the commit:
      // only directories the head no longer lists are deleted
      appendLock.synchronized {
        val live = logFor(root).head.tables.toSeq.flatMap { case (t, st) =>
          st.files.keysIterator.map(f => s"$t/${leafOf(f)}") }.toSet
        val fs = fsFor(root)._1
        files.map(leafOf).distinct.filterNot(live)
          .foreach(d => fs.delete(new Path(s"$root/$d"), true): Unit)
      }
    }
  }

  /** Background-merge analog: ClickHouse's MergeTree merges parts
    * continuously; a parquet store fed by streaming micro-batches
    * accumulates small files instead, and every downstream scan pays per
    * file (task scheduling + footer reads). Rewrite each partition
    * directory of `table` holding more than `maxFiles` committed files
    * into ONE sorted file, written into the same directory under a new
    * name (per-partition work, nothing global). Returns the number of
    * partitions rewritten and the change that swaps them in. Reads only
    * the snapshot's files, never a listing.
    */
  private def compactTable(spark: SparkSession, root: String, snap: Snapshot,
      table: String, sortCols: Seq[String], maxFiles: Int,
      merge: Option[DataFrame => DataFrame],
      targetFiles: Int): (Int, Option[TableChange]) =
    snap.tables.get(table) match {
      case None => (0, None)
      case Some(st) =>
        val parts = st.partitionBy
        // an unpartitioned table is a series dictionary: it is DONE at
        // targetFiles shards — with targetFiles > maxFiles a plain bound
        // would re-rewrite an already-compacted dictionary on every pass
        val bound = if (parts.isEmpty) math.max(maxFiles, targetFiles) else maxFiles
        val over = st.files.keys.groupBy(leafOf).values.filter(_.size > bound).toSeq
        if (over.isEmpty) (0, None)
        else {
          val path = s"$root/$table"
          def scan(files: Iterable[String]): DataFrame =
            relation(spark, indexOf(spark, path,
              st.copy(files = files.map(f => f -> st.files(f)).toMap)))
          val sortable = sortCols.filter(st.schema.fieldNames.contains)
          val adds = staged(root, table) { stage =>
            if (parts.isEmpty) {
              val df0 = scan(over.flatten)
              val df = merge.fold(df0)(m => m(df0))
              (if (targetFiles <= 1) df.coalesce(1)
               else df.repartition(targetFiles, sortable.take(1).map(col): _*))
                .sortWithinPartitions(sortable.map(col): _*)
                .write.parquet(stage)
            } else {
              // partial-merge tables (15s downsamples — small): one scan,
              // merge keyed by (partition cols, bucket keys), then one
              // exchange on the partition cols: one writer task per leaf.
              // Plain tables (the big ones): NO shuffle — a union of
              // per-leaf single-partition scans, each sorted within its
              // own partition: one task per leaf reading and writing its
              // own bytes, one Spark job for the whole table
              val df = merge match {
                case Some(m) => m(scan(over.flatten)).repartition(parts.map(col): _*)
                case None => over.map(l => scan(l).coalesce(1)).reduce(_.unionByName(_))
              }
              df.sortWithinPartitions((parts ++ sortable).map(col): _*)
                .write.partitionBy(parts: _*).parquet(stage)
            }
          }
          (over.size, Some(TableChange(table, adds, over.flatten.toSet)))
        }
    }

  /** Run a compaction's Spark `write` against a fresh staging directory
    * under the root, then move every parquet file it produced into
    * `table`'s directory at the same relative path (Spark's file names
    * carry the write's job id, so they never collide with committed
    * files). Returns the moved files and their sizes, for the caller to
    * commit.
    */
  private def staged(root: String, table: String)(
      write: String => Unit): Map[String, Long] = {
    val stage = s"$root/_staging/${java.util.UUID.randomUUID()}"
    val (fs, sp) = fsFor(stage)
    try {
      write(stage)
      val files = listTable(stage)
      for (f <- files.keys) {
        val dest = new Path(s"$root/$table/$f")
        fs.mkdirs(dest.getParent)
        if (!fs.rename(new Path(sp, f), dest))
          throw new java.io.IOException(s"staged move failed: $f -> $dest")
      }
      files
    } finally fs.delete(sp, true): Unit
  }

  /** Delete what no version a reader can see lists: the staging area and
    * every parquet file below a table directory that neither the head nor
    * a pinned version lists — the data files of writes that failed before
    * their commit, and superseded files a failed pass never deleted. The
    * caller holds [[appendLock]], so no write is in flight.
    */
  private def sweep(root: String): Unit = {
    val fs = fsFor(root)._1
    fs.delete(new Path(s"$root/_staging"), true): Unit
    for (t <- BuiltTables) {
      val live = logFor(root).referenced(t)
      listTable(s"$root/$t").keysIterator.filterNot(live)
        .foreach(f => fs.delete(new Path(s"$root/$t/$f"), false): Unit)
    }
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
    // inside the one-job-per-table rewrite (read paths drop both before
    // they merge)
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
    * background merges): delete uncommitted files, then compact every
    * append-MUTABLE table's over-fragmented partition directories,
    * merging downsample partials by bucket and re-sharding the dictionary
    * tables, and commit every table's swap as ONE version. Each partition
    * is independent work bounded by its own size; nothing global. Safe to
    * run concurrently with queries: the superseded files are deleted
    * before this returns, but only once no pinned request can read them.
    * Serialized against appends via [[appendLock]]. Returns partitions
    * compacted.
    */
  def maintain(spark: SparkSession, dir: String, maxFiles: Int = 8): Int =
    maintainRoot(spark, ensure(spark, dir), maxFiles)

  private[store] def maintainRoot(spark: SparkSession, root: String,
      maxFiles: Int): Int = {
    val (n, done) = appendLock.synchronized {
      writerLock(root).ensureHeld()
      sweep(root)
      val snap = logFor(root).head
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
          ("prom_samples", MetricSort, None, 1),
          ("prom_samples_15s", MetricSort, pm, 1),
          ("time_series", Seq("fingerprint"), None, dictShards(spark)),
          ("prom_series", Seq("fingerprint"), None, dictShards(spark)))
      // one compaction job per table: overlap the tables on a small pool
      // so the pass's wall-clock is the slowest table, not the sum —
      // tables are disjoint paths, and concurrent Spark jobs from driver
      // threads back-fill each other's tails
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(4, plan.size))
      val results = try plan.map { case (t, sort, m, tf) =>
        pool.submit(new java.util.concurrent.Callable[(Int, Option[TableChange])] {
          def call(): (Int, Option[TableChange]) =
            compactTable(spark, root, snap, t, sort, maxFiles, m, tf)
        })
      }.map { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          throw e.getCause }
      }
      finally pool.shutdown()
      (results.map(_._1).sum, commitRemoving(root, results.flatMap(_._2)))
    }
    done.foreach { case (v, files) => retire(root, v, files) }
    n
  }

}
