package graft.store

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.gates.EvalWindow._
import graft.logql.{EvalParams, LogQLCompiler, LogQLParser}

class StoreSpec extends SparkSpec with TempStores {

  private def engine =
    new LogQLCompiler(spark, sf, EvalParams(StartNs, EndNs, StepS))

  private def scanPaths(q: String): Seq[String] =
    engine.compileMetric(LogQLParser.parseOrThrow(q))
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.mkString(",")
      }

  test("eligible range agg routes to the metrics_15s downsample") {
    val paths = scanPaths("""sum by (event_type) (rate({level="info"}[6h]))""")
    assert(paths.exists(_.contains("metrics_15s")), paths.mkString("; "))
  }

  test("pipeline stages disqualify the downsample route") {
    val paths = scanPaths("""sum by (user) (count_over_time({level="info"} |= "7" [6h]))""")
    assert(!paths.exists(_.contains("metrics_15s")), paths.mkString("; "))
    assert(paths.exists(_.contains("samples")), paths.mkString("; "))
  }

  test("non-15s-aligned range disqualifies the downsample route") {
    val paths = scanPaths("""sum by (event_type) (count_over_time({level="info"}[6h7s]))""")
    assert(!paths.exists(_.contains("metrics_15s")), paths.mkString("; "))
  }

  private def promql = new graft.promql.PromQLCompiler(spark, sf,
    graft.promql.PromParams(StartNs, EndNs, StepS))

  private def promScanPaths(q: String): Seq[String] =
    promql.compile(q).queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.mkString(",")
    }

  test("PromQL exact over_time fns route to the 15s gauge downsample") {
    assert(promScanPaths("""last_over_time(events_value[6h])""")
      .exists(_.contains("prom_samples_15s")))
    assert(promScanPaths("""count_over_time(events_value{event_type="click"}[12h])""")
      .exists(_.contains("prom_samples_15s")))
    // FP-order-sensitive aggs stay on raw samples
    assert(!promScanPaths("""avg_over_time(events_value[12h])""")
      .exists(_.contains("prom_samples_15s")))
    // unaligned range stays raw
    assert(!promScanPaths("""last_over_time(events_value[6h7s])""")
      .exists(_.contains("prom_samples_15s")))
  }

  // Fails when a built family other than the gauge has no 15s partials, or
  // when its partials disagree with its raw samples: the expected counts
  // are taken from the raw fact table, one window (t−12h, t] per grid point.
  test("count_over_time on the counter family routes to prom_samples_15s " +
      "and equals the raw-path answer") {
    val q = "count_over_time(events_total[12h])"
    assert(promScanPaths(q).exists(_.contains("prom_samples_15s")),
      promScanPaths(q).mkString("; "))
    val got = promql.compile(q)
      .select(element_at(col("labels"), "event_type"), col("ts"), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val rangeNs = 12 * 3600 * 1000000000L
    val raw = Store.promMetric(spark, sf, "events_total", StartNs - rangeNs,
        EndNs + 1)
      .select(element_at(col("labels"), "event_type"), col("timestamp_ns"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val want = (StartNs to EndNs by StepS * 1000000000L).flatMap { t =>
      raw.filter { case (_, ts) => ts > t - rangeNs && ts <= t }
        .groupBy(_._1).map { case (e, xs) =>
          (e, t / 1000000000L, xs.length.toDouble) }
    }.toSet
    assert(want.nonEmpty && got == want,
      s"${(got -- want).take(3)} vs ${(want -- got).take(3)}")
  }

  test("TraceQL attr scan routes to the materialized span store, date-pruned") {
    import graft.traceql.{TraceQLCompiler, TraceQLParser}
    import graft.traceql.TraceQLAst._
    // one-day window inside the 31-day dataset: partition pruning must
    // both appear in the plan and actually drop partitions
    val dayNs = 86400L * 1000000000L
    val eng = new TraceQLCompiler(spark, sf, StartNs, StartNs + dayNs)
    val Query(Sel(ss), _, _, _, _, _) =
      TraceQLParser.parseOrThrow("""{ .name="error" }"""): @unchecked
    val scans = eng.spanSetSpans(ss).queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val attrScan = scans.find(
      _.relation.location.rootPaths.mkString(",").contains("span_attrs"))
    assert(attrScan.isDefined, scans.map(_.relation.location.rootPaths.mkString).mkString("; "))
    assert(attrScan.get.partitionFilters.exists(_.toString.contains("date")))
    assert(attrScan.get.relation.location.listFiles(
      attrScan.get.partitionFilters, Nil).size <= 4) // ≤2 of 31 days × 2 oids
  }

  test("GIN hit-prefilter pushes the OR-of-leaves predicate into the scan") {
    import graft.traceql.{TraceQLCompiler, TraceQLParser}
    import graft.traceql.TraceQLAst._
    val eng = new TraceQLCompiler(spark, sf, StartNs, EndNs)
    val Query(Sel(ss), _, _, _, _, _) =
      TraceQLParser.parseOrThrow("""{ .name="error" && .service_name="svc1" }"""): @unchecked
    val scans = eng.spanSetSpans(ss).queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val attrScan = scans.find(
      _.relation.location.rootPaths.mkString(",").contains("span_attrs")).get
    // the leaf predicates must reach the parquet reader as pushed data
    // filters (row-group skipping on the (key, val) sort), not live only
    // in a post-scan Filter
    val pushed = attrScan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("key") && pushed.contains("val"), pushed)
  }

  test("profiles scan routes to the materialized store") {
    val paths = graft.prof.Profiles.profiles(spark, sf)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.mkString(",")
      }
    assert(paths.exists(p => p.contains("graft-store") && p.contains("/profiles")),
      paths.mkString("; "))
  }

  test("dictionary broadcast is guarded by the size threshold") {
    // disable stats-driven auto-broadcast so the plan shows only the
    // effect of the guard's explicit hint
    def hasBroadcast(q: String): Boolean =
      engine.compileMetric(LogQLParser.parseOrThrow(q))
        .queryExecution.executedPlan.toString.contains("BroadcastHashJoin")
    val q = """sum by (user) (count_over_time({level="info"} |= "7" [6h7s]))"""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      assert(hasBroadcast(q)) // guard's hint broadcasts the small dict
      spark.conf.set("spark.graft.broadcast.maxDictRows", "0")
      try assert(!hasBroadcast(q)) // huge dict: no hint → shuffle join
      finally spark.conf.unset("spark.graft.broadcast.maxDictRows")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  // Fails when the store read of a stage-bearing query (dictionary
  // matchers, samples scan, json + unwrap) drops, duplicates or changes
  // rows. The pinned figures were read off the store path and the
  // per-query derivation from raw events, which agreed on them, before
  // the derivation was deleted.
  test("stage-bearing query returns the pinned per-user rows") {
    val q = """sum by (user) (sum_over_time({event_type="click"} | json | unwrap k [6h]))"""
    val rows = engine.compileMetric(LogQLParser.parseOrThrow(q))
      .select(element_at(col("labels"), "user").as("u"), col("ts"), col("value"))
    assert(rows.count() == 200)
    val perUser = rows.groupBy("u").agg(count(lit(1)).as("n"), sum("value").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val expected = Map(
      "0" -> (14L, 602.0), "1" -> (14L, 795.0), "2" -> (12L, 529.0),
      "3" -> (15L, 684.0), "4" -> (18L, 1021.0), "5" -> (15L, 731.0),
      "6" -> (15L, 775.0), "7" -> (15L, 518.0), "8" -> (11L, 417.0),
      "9" -> (10L, 379.0), "10" -> (13L, 632.0), "11" -> (10L, 496.0),
      "12" -> (14L, 811.0), "13" -> (9L, 423.0), "14" -> (15L, 894.0))
    assert(perUser.keySet == expected.keySet, perUser)
    for ((u, (n, total)) <- expected) {
      assert(perUser(u)._1 == n, s"user $u rows")
      assert(math.abs(perUser(u)._2 - total) < 1e-9, s"user $u value sum")
    }
  }

  // Fails when the closure table misses or invents an ancestor, or the
  // `>>` plan joins it on the wrong side: the reference walks each
  // `purchase` span's parent chain over the raw span derivation on the
  // driver, with no store table involved.
  test("descendant closure table agrees with a driver-side parent walk") {
    import graft.traceql.{TraceQLCompiler, TraceQLParser}
    val eng = new TraceQLCompiler(spark, sf, StartNs, EndNs)
    val q = TraceQLParser.parseOrThrow("""{ .name="view" } >> { .name="purchase" }""")
    val viaClosure = eng.matchingTraces(q.expr).orderBy("trace_id")
      .collect().map(_.getLong(0))

    val parentOf = graft.model.Tables.spans(spark, sf)
      .filter(col("parent_id").isNotNull)
      .select("trace_id", "span_id", "parent_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val names = graft.model.Tables.spanAttrs(spark, sf)
      .filter(col("key") === "name" &&
        col("timestamp_ns") >= StartNs && col("timestamp_ns") < EndNs)
      .select("trace_id", "span_id", "val").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val views = names.collect { case (t, s, "view") => (t, s) }.toSet
    def ancestors(t: Long, s: Long): Iterator[Long] =
      Iterator.iterate(parentOf.get((t, s)))(_.flatMap(p => parentOf.get((t, p))))
        .take(64).takeWhile(_.isDefined).map(_.get)
    val viaWalk = names.collect {
      case (t, s, "purchase") if ancestors(t, s).exists(a => views((t, a))) => t
    }.distinct.sorted
    assert(viaWalk.nonEmpty && viaClosure.sameElements(viaWalk),
      s"closure ${viaClosure.mkString(",")} vs walk ${viaWalk.mkString(",")}")
  }

  test("tenant conf prunes to the tenant's oid partitions") {
    import graft.traceql.{TraceQLCompiler, TraceQLParser}
    import graft.traceql.TraceQLAst._
    val Query(Sel(ss), _, _, _, _, _) =
      TraceQLParser.parseOrThrow("""{ .name="click" }"""): @unchecked
    def build() = new TraceQLCompiler(spark, sf, StartNs, EndNs).spanSetSpans(ss)
    val total = build().count()
    spark.conf.set("spark.graft.tenant", "1")
    try {
      val df = build()
      val scans = df.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      val attrScan = scans.find(
        _.relation.location.rootPaths.mkString(",").contains("span_attrs")).get
      assert(attrScan.partitionFilters.exists(_.toString.contains("oid")))
      val t1 = df.count()
      assert(t1 > 0 && t1 < total, s"$t1 of $total")
    } finally spark.conf.unset("spark.graft.tenant")
  }

  test("tenant conf scopes LogQL samples+dictionary consistently") {
    val q = """sum by (event_type) (count_over_time({level="info"}[6h]))"""
    def total() = engine.compileMetric(LogQLParser.parseOrThrow(q))
      .agg(sum("value")).collect()(0).getDouble(0)
    val all = total()
    var perTenant = 0.0
    for (t <- Seq("0", "1")) {
      spark.conf.set("spark.graft.tenant", t)
      try perTenant += total()
      finally spark.conf.unset("spark.graft.tenant")
    }
    // the two tenants' series partition the stream set exactly
    assert(math.abs(perTenant - all) < 1e-6, s"$perTenant vs $all")
    spark.conf.set("spark.graft.tenant", "0")
    try assert(total() < all)
    finally spark.conf.unset("spark.graft.tenant")
  }

  // Fails when /api/v1/metadata ignores the tenant: counting each built
  // family's series from events.parquet sees every tenant's series.
  test("metadata series counts are tenant-scoped and match the series dictionary") {
    val families = Seq("events_bucket", "events_total", "events_value")
    def counts() = graft.promql.PromQLApi.metadata(spark, sf)
      .filter(col("metric_name").isin(families: _*))
      .collect().map(r => r.getAs[String]("metric_name") -> r.getAs[Long]("series"))
      .toMap
    val all = counts()
    spark.conf.set("spark.graft.tenant", "0")
    try {
      val scoped = counts()
      for (f <- families) {
        val dict = Store.promSeries(spark, sf)
          .filter(col("family") === f).count()
        assert(dict > 0 && scoped(f) == dict,
          s"$f: metadata ${scoped(f)} vs tenant dictionary $dict")
      }
      assert(families.exists(f => scoped(f) < all(f)), s"$scoped vs unscoped $all")
    } finally spark.conf.unset("spark.graft.tenant")
  }

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
  }

  /** Every parquet file below `path`, relative to it, with its size. */
  private def filesUnder(path: String): Map[String, Long] = {
    val (fs, p) = Store.fsFor(path)
    if (!fs.exists(p)) Map.empty
    else {
      val it = fs.listFiles(p, true)
      val base = fs.makeQualified(p).toString + "/"
      val out = Map.newBuilder[String, Long]
      while (it.hasNext) {
        val s = it.next()
        val f = s.getPath.toString
        if (f.endsWith(".parquet")) out += f.stripPrefix(base) -> s.getLen
      }
      out.result()
    }
  }

  /** The root's head version, read back from its log on disk. */
  private def logHead(root: String): Snapshot = new ManifestLog(root).head

  /** The committed files of every table of `root`, as root-relative paths. */
  private def committed(root: String): Set[String] =
    logHead(root).tables.toSeq.flatMap { case (t, st) =>
      st.files.keys.map(f => s"$t/$f") }.toSet

  /** Every parquet file on disk below `root`'s tables. */
  private def onDisk(root: String): Set[String] =
    logHead(root).tables.keys.toSeq.flatMap(t =>
      filesUnder(s"$root/$t").keys.map(f => s"$t/$f")).toSet

  private def values(root: String, table: String): Seq[Long] =
    Store.pinned(Store.readTable(spark, s"$root/$table")
      .select("v").collect().map(_.getLong(0)).toSeq.sorted)

  /** Commit `df` to `table` of `root` through a log of its own: what
    * another process's writer does, or a writer before this process opens
    * the root. Files are written in place.
    */
  private def commitAs(log: ManifestLog, root: String, table: String,
      df: org.apache.spark.sql.DataFrame, partCols: Seq[String]): Unit = {
    val before = filesUnder(s"$root/$table")
    df.write.mode("append").partitionBy(partCols: _*).parquet(s"$root/$table")
    val schema = org.apache.spark.sql.types.StructType(
      df.schema.filterNot(f => partCols.contains(f.name)) ++
        partCols.map(df.schema(_)))
    log.commit(Seq(TableChange(table, filesUnder(s"$root/$table") -- before.keys,
      created = Option.when(!log.head.tables.contains(table))((schema, partCols)))))
  }

  test("expire drops partitions before the cutoff, later queries unaffected") {
    // scratch root so the shared store is untouched
    val root = "/root/repo/target/test-expire"
    val s = spark
    import s.implicits._
    rm(new java.io.File(root)) // clean slate
    val log = new ManifestLog(root)
    commitAs(log, root, "samples",
      Seq((1L, "2024-01-01"), (2L, "2024-01-02"), (3L, "2024-01-03"))
        .toDF("v", "date"), Seq("date"))
    // the REAL store layout nests date= under oid= (tenant-first
    // partition key) — expire must reach one level down
    commitAs(log, root, "spans",
      Seq((1L, "0", "2024-01-01"), (2L, "1", "2024-01-02"),
        (3L, "0", "2024-01-03")).toDF("v", "oid", "date"), Seq("oid", "date"))
    Store.expireRoot(spark, root, "2024-01-03")
    assert(values(root, "samples") == Seq(3L))
    assert(!new java.io.File(s"$root/samples/date=2024-01-01").exists())
    assert(new java.io.File(s"$root/samples/date=2024-01-03").exists())
    assert(values(root, "spans") == Seq(3L))
    assert(!new java.io.File(s"$root/spans/oid=0/date=2024-01-01").exists())
    assert(!new java.io.File(s"$root/spans/oid=1/date=2024-01-02").exists())
    assert(new java.io.File(s"$root/spans/oid=0/date=2024-01-03").exists())
    assert(onDisk(root) == committed(root))
  }

  /** Five micro-batch appends into one partition of a scratch root:
    * five committed part files in `date=2024-01-01`.
    */
  private def fiveAppends(root: String): Unit = {
    val s = spark
    import s.implicits._
    rm(new java.io.File(root))
    val log = new ManifestLog(root)
    for (i <- 1 to 5)
      commitAs(log, root, "samples",
        Seq((i.toLong, "2024-01-01")).toDF("v", "date"), Seq("date"))
  }

  private def leafFiles(root: String): Int =
    new java.io.File(s"$root/samples/date=2024-01-01")
      .listFiles().count(f => f.getName.endsWith(".parquet"))

  test("compact merges small-file partitions without changing results") {
    val root = new java.io.File("target", "test-compact").getAbsolutePath
    fiveAppends(root)
    assert(leafFiles(root) == 5)
    val before = values(root, "samples")
    val n = Store.maintainRoot(spark, root, maxFiles = 2)
    assert(n == 1)
    assert(leafFiles(root) == 1)
    assert(logHead(root).tables("samples").files.size == 1)
    assert(values(root, "samples") == before)
  }

  test("compaction is crash-safe: a fault after the commit but before the " +
      "superseded files are deleted leaves the store answering as after, " +
      "and the next maintain pass deletes them") {
    val root = "/root/repo/target/test-crash"
    fiveAppends(root)
    val before = values(root, "samples")
    val v0 = logHead(root).version
    Store.faultHook = step =>
      if (step == "retire") throw new RuntimeException("injected crash")
    try intercept[RuntimeException](Store.maintainRoot(spark, root, maxFiles = 2))
    finally Store.faultHook = _ => ()
    // the swap is committed: one file in the log, six on disk
    assert(logHead(root).version == v0 + 1)
    assert(logHead(root).tables("samples").files.size == 1)
    assert(leafFiles(root) == 6)
    assert(values(root, "samples") == before)
    // the next maintenance pass sweeps the superseded copies
    assert(Store.maintainRoot(spark, root, maxFiles = 2) == 0)
    assert(onDisk(root) == committed(root) && leafFiles(root) == 1)
    assert(values(root, "samples") == before)
  }

  test("maintenance walks run through the Hadoop FileSystem API: a " +
      "scheme-qualified file: root compacts and expires like a bare path") {
    val root = "file:/root/repo/target/test-fsuri"
    val local = "/root/repo/target/test-fsuri"
    val s = spark
    import s.implicits._
    rm(new java.io.File(local))
    val log = new ManifestLog(root)
    for (i <- 1 to 4)
      commitAs(log, root, "samples",
        Seq((i.toLong, "2024-01-01"), (i.toLong + 10, "2023-12-31"))
          .toDF("v", "date"), Seq("date"))
    assert(Store.maintainRoot(spark, root, maxFiles = 2) == 2)
    assert(new java.io.File(s"$local/samples/date=2024-01-01")
      .listFiles().count(_.getName.endsWith(".parquet")) == 1)
    Store.expireRoot(spark, root, "2024-01-01")
    assert(!new java.io.File(s"$local/samples/date=2023-12-31").exists())
    assert(values(root, "samples") == Seq(1L, 2L, 3L, 4L))
  }

  test("writer lock: a second live writer is refused; crashed holders " +
      "(dead pid or stale heartbeat) are detected and broken") {
    val root = "/root/repo/target/test-wlock"
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(new java.io.File(root))
    new java.io.File(root).mkdirs()
    val mine = new WriterLock(root)
    mine.ensureHeld()
    assert(new java.io.File(root, "_writer.lock").exists())
    assert(mine.isHeld)
    mine.ensureHeld() // re-entrant
    // a second "process" (live foreign owner simulated by another lock
    // instance; OUR pid is alive, so no takeover) gets a clean refusal
    val other = new WriterLock(root, owner = "foreign@elsewhere")
    val e = intercept[IllegalStateException](other.ensureHeld())
    assert(e.getMessage.contains("owned by live writer"), e.getMessage)
    // crashed same-host holder: dead pid ⇒ broken and taken over
    mine.release()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_writer.lock"),
      s"999999999@${WriterLock.host}".getBytes("UTF-8"))
    val taker = new WriterLock(root, owner = "taker@elsewhere")
    taker.ensureHeld()
    assert(taker.isHeld)
    taker.release()
    // stale heartbeat from an unknown host: broken after staleMs
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_writer.lock"),
      "1@unknownhost".getBytes("UTF-8"))
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600L * 1000)
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(root, "_writer.lock"), old)
    val taker2 = new WriterLock(root, owner = "taker2@elsewhere",
      staleMs = 60 * 1000)
    taker2.ensureHeld()
    assert(taker2.isHeld)
    // but a FRESH foreign heartbeat within staleMs still refuses
    val taker3 = new WriterLock(root, owner = "taker3@elsewhere",
      staleMs = 60 * 1000)
    intercept[IllegalStateException](taker3.ensureHeld())
    taker2.release()
  }

  test("writer lock fencing: a holder whose lock was broken and retaken " +
      "is fenced out on its next heartbeat instead of reclaiming; the " +
      "background heartbeat keeps an IDLE live holder unbreakable") {
    val root = "/root/repo/target/test-wlock-fence"
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(new java.io.File(root))
    new java.io.File(root).mkdirs()
    val hfs = Store.fsFor(root)._1
    val lockPath = new org.apache.hadoop.fs.Path(root, "_writer.lock")
    // the taker writes through the same FileSystem API a real writer
    // process would (LocalFileSystem keeps checksum sidecars in sync)
    def takeoverAs(owner: String): Unit = {
      val o = hfs.create(lockPath, true)
      o.write(owner.getBytes("UTF-8")); o.close()
    }

    // takeover (another process broke a stale-looking lock and re-acquired
    // it): the old holder's next fenced heartbeat must read back the owner
    // and FAIL, not re-overwrite — two live writers on one root is the
    // split-brain the lock prevents
    val mine = new WriterLock(root) // default staleMs: no background race
    mine.ensureHeld()
    takeoverAs("taker@elsewhere")
    val e = intercept[IllegalStateException](mine.beatNow())
    assert(e.getMessage.contains("fenced"), e.getMessage)
    assert(!mine.isHeld && mine.fencedOutBy.contains("taker@elsewhere"))
    // fenced-out is terminal: every subsequent mutation attempt refuses
    val e2 = intercept[IllegalStateException](mine.ensureHeld())
    assert(e2.getMessage.contains("fenced"), e2.getMessage)
    hfs.delete(lockPath, false)

    // a lock BROKEN but not yet retaken (file gone): the fenced heartbeat
    // may reclaim it — but only through the exclusive create
    val again = new WriterLock(root, owner = "again@elsewhere")
    again.ensureHeld()
    hfs.delete(lockPath, false)
    again.beatNow() // reclaims via create-exclusive
    assert(again.isHeld && hfs.exists(lockPath))
    again.release()

    // idle-but-live holder: the daemon heartbeat refreshes the mtime even
    // with no appends, so a second process using the same staleMs never
    // sees a stale heartbeat and is refused for as long as we live
    val idle = new WriterLock(root, owner = "idle@elsewhere", staleMs = 400)
    idle.ensureHeld()
    Thread.sleep(900) // > staleMs: without beats this would look crashed
    val taker = new WriterLock(root, owner = "taker2@elsewhere",
      staleMs = 2000) // wide margin: only a dead heartbeat lets it in
    intercept[IllegalStateException](taker.ensureHeld())
    idle.release()
  }

  /** A store root this process reads but never writes: another process's
    * log commits version 0, so [[Store.ensure]] builds nothing and takes
    * no writer lock.
    */
  private def foreignStore(name: String): (String, String, ManifestLog) = {
    val s = spark
    import s.implicits._
    val root = new java.io.File("target", name).getAbsolutePath
    rm(new java.io.File(root))
    val other = new ManifestLog(root)
    commitAs(other, root, "samples",
      Seq((1L, "0", "2024-01-01"), (2L, "1", "2024-01-01"))
        .toDF("v", "oid", "date"), Seq("oid", "date"))
    val dir = s"$root-input"
    Store.overrideRoot(dir, root)
    assert(Store.ensure(spark, dir) == root)
    (dir, root, other)
  }

  test("a family first pushed by ANOTHER process routes for a non-writer " +
      "on its next request, with no probe cache") {
    val s = spark
    import s.implicits._
    val (dir, root, other) = foreignStore("test-foreign-family")
    val ts = 1704103200000000000L
    def sample(family: String) =
      Seq((ts, Map("__name__" -> family), 1.0, 7L, family, "0",
        java.sql.Date.valueOf("2024-01-01")))
        .toDF("timestamp_ns", "labels", "value", "fingerprint", "family",
          "oid", "date")
    commitAs(other, root, "prom_samples", sample("built_total"),
      Seq("oid", "date"))
    def pushed(): Long = Store.pinned(
      Store.promMetric(spark, dir, "foreign_total", 0L, Long.MaxValue).count())
    assert(pushed() == 0L) // the head holds no foreign_total sample
    commitAs(other, root, "prom_samples", sample("foreign_total"),
      Seq("oid", "date"))
    assert(pushed() == 1L) // the next request sees the new version
  }

  test("a non-writer process sees another process's commit on its next " +
      "request, with no TTL") {
    val s = spark
    import s.implicits._
    val (_, root, other) = foreignStore("test-foreign-reads")
    assert(values(root, "samples") == Seq(1L, 2L))
    Store.pinned {
      assert(values(root, "samples") == Seq(1L, 2L))
      // the "writer process" appends behind our back, mid-request
      commitAs(other, root, "samples",
        Seq((3L, "0", "2024-01-02")).toDF("v", "oid", "date"), Seq("oid", "date"))
      // the request keeps reading the version it pinned
      assert(values(root, "samples") == Seq(1L, 2L))
    }
    assert(values(root, "samples") == Seq(1L, 2L, 3L)) // the next request
    // unpinned reads keep the head the last request caught up to
    assert(Store.readTable(spark, s"$root/samples").count() == 3)
  }

  test("downsample partial merge is exact and idempotent: split partials " +
      "fold to the single-pass row, and re-merging is a no-op") {
    val s = spark
    import s.implicits._
    // two partial rows per bucket (two independent pushes) + one lone row
    val partials = Seq(
      // (family, fingerprint, bucket, last, last_ts, min, max, sum, cnt)
      ("m", 1L, 0L, 5.0, 100L, 2.0, 5.0, 7.0, 2L),
      ("m", 1L, 0L, 9.0, 200L, 1.0, 9.0, 10.0, 2L),
      ("m", 2L, 0L, 4.0, 50L, 4.0, 4.0, 4.0, 1L))
      .toDF("family", "fingerprint", "timestamp_ns", "last", "last_ts",
        "min", "max", "sum", "cnt")
    val merged = Store.mergePartials(partials)
      .orderBy("fingerprint").collect()
      .map(r => (r.getLong(1), r.getDouble(3), r.getLong(4), r.getDouble(5),
        r.getDouble(6), r.getDouble(7), r.getLong(8))).toSeq
    assert(merged == Seq(
      (1L, 9.0, 200L, 1.0, 9.0, 17.0, 4L), // argmax-by-last_ts, fold, sums
      (2L, 4.0, 50L, 4.0, 4.0, 4.0, 1L)))
    // idempotent: merging an already-merged frame changes nothing
    val twice = Store.mergePartials(Store.mergePartials(partials))
      .orderBy("fingerprint").collect()
      .map(r => (r.getLong(1), r.getDouble(3), r.getLong(4), r.getDouble(5),
        r.getDouble(6), r.getDouble(7), r.getLong(8))).toSeq
    assert(twice == merged)
  }

  test("maxRecordsPerFile bounds store output batches") {
    val root = "/root/repo/target/test-maxrec"
    val s = spark
    import s.implicits._
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(new java.io.File(root))
    spark.conf.set("spark.graft.store.maxRecordsPerFile", "100")
    try {
      // one partition's 1000 rows must split into ≥10 bounded files
      val df = (0L until 1000L).toDF("fingerprint")
        .withColumn("timestamp_ns", lit(1704067200L) * 1000000000L)
        .coalesce(1)
      Store.writePartitioned(df, s"$root/samples",
        Seq("fingerprint", "timestamp_ns"))
      val parts = new java.io.File(root)
        .listFiles().filter(_.getName == "samples").flatMap(_.listFiles())
        .filter(_.getName.startsWith("oid=")).flatMap(_.listFiles())
        .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
      assert(parts >= 10, s"expected >=10 bounded part files, got $parts")
      assert(spark.read.parquet(s"$root/samples").count() == 1000L)
    } finally spark.conf.unset("spark.graft.store.maxRecordsPerFile")
  }

  test("ensure is single-build-safe under concurrent first callers") {
    // a scratch data dir (events.parquet only) gets its own store root;
    // four threads race the first build — exactly one must win, and the
    // store must be fully readable afterwards
    val scratch = new java.io.File("/root/repo/target/test-concurrent-dir")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(scratch); rm(new java.io.File(Store.rootFor(scratch.getPath)))
    scratch.mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf, "events.parquet"),
      java.nio.file.Paths.get(scratch.getPath, "events.parquet"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val roots = Await.result(
      Future.sequence((1 to 4).map(_ => Future(Store.ensure(spark, scratch.getPath)))),
      5.minutes)
    assert(roots.distinct.size == 1)
    val n = spark.read.parquet(roots.head + "/samples").count()
    assert(n == spark.read.parquet(s"$sf/events.parquet").count())
  }

  // Fails when the build takes the root's writer lock before it resolves
  // its inputs: the lock file and its heartbeat thread would outlive the
  // failed build of a root that never exists.
  test("ensure on a dir without inputs throws, and leaves no writer lock " +
      "file and no heartbeat thread") {
    val dir = tempDataDir("graft-no-inputs", None)
    val root = Store.rootFor(dir)
    intercept[org.apache.spark.sql.AnalysisException](
      Store.ensure(spark, dir))
    val (fs, lock) = Store.fsFor(s"$root/_writer.lock")
    assert(!fs.exists(lock))
    import scala.jdk.CollectionConverters._
    val beats = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName == s"graft-writer-lock-$root")
    assert(beats.isEmpty, beats.map(_.getName))
  }

  test("store reads are identical across session timezones") {
    // date partitions are epoch-day derived (Store.withDate), so a store
    // written under one session timezone and read under another must
    // prune identically — to_date(timestamp_seconds(...)) would not
    val q = """sum by (event_type) (count_over_time({level="info"}[6h]))"""
    def run() = engine.compileMetric(LogQLParser.parseOrThrow(q))
      .select(element_at(col("labels"), "event_type").as("e"),
        col("ts"), col("value"))
      .orderBy("e", "ts").collect()
    val utc = run()
    spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati") // UTC+14
    try {
      val shifted = run()
      assert(utc.length == shifted.length && utc.length > 0)
      utc.zip(shifted).foreach { case (a, b) => assert(a == b) }
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  // Fails when the persist(MEMORY_AND_DISK) materialization changes any
  // row of an iterative plan: the flamegraph BFS materializes the merge
  // once and every level after it.
  test("reliable-checkpoint mode gives identical iterative results") {
    import graft.prof.Profiles
    def levels() = Profiles.flamegraphLevels(Profiles.mergeTree(spark, sf, "svc1"))
      .orderBy("level", "fn", "self", "total").collect().toSeq
    val local = levels()
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    val reliable = try levels()
      finally spark.conf.unset("spark.graft.checkpoint.reliable")
    // three BFS levels (main → event type → op), so the loop iterates
    assert(local.map(_.getLong(0)).distinct.size >= 3, local.mkString("; "))
    assert(local == reliable)
  }

  test("appendSpans/appendMetrics/appendProfiles land in the queryable " +
      "store: attrs GIN, ancestor closure, pushed-family PromQL, profiles") {
    val dir = tempDataDir("graft-append")
    val s = spark
    import s.implicits._
    val ts = 1704100000000000000L // inside the 2024-01 window

    // --- spans: parent+child in one trace, attrs exploded, closure row --
    val spansBatch = Seq(
      (900001L, 1L, Option.empty[Long], "push-root", "pushsvc", ts, 5000L,
        Map("name" -> "push-root", "service_name" -> "pushsvc", "zone" -> "eu")),
      (900001L, 2L, Option(1L), "push-leaf", "pushsvc", ts + 1000, 2000L,
        Map("name" -> "push-leaf", "service_name" -> "pushsvc", "zone" -> "eu")))
      .toDF("trace_id", "span_id", "parent_id", "name", "service_name",
        "timestamp_ns", "duration_ns", "attrs")
    assert(Store.appendSpans(spark, dir, spansBatch) == 2)
    val got = Store.spans(spark, dir, ts - 1, ts + 10000)
      .filter(col("trace_id") === 900001L)
    assert(got.count() == 2)
    // stored schema stayed the build-time one (null-filled extras)
    assert(got.columns.contains("user_id"))
    val attrs = Store.spanAttrs(spark, dir, ts - 1, ts + 10000)
      .filter(col("trace_id") === 900001L && col("key") === "zone")
    assert(attrs.count() == 2)
    val anc = Store.ancestors(spark, dir, ts - 1, ts + 10000)
      .filter(col("trace_id") === 900001L)
      .select("span_id", "anc_id").as[(Long, Long)].collect().toSet
    assert(anc == Set((2L, 1L)))
    // TraceQL end-to-end over the pushed trace
    import graft.traceql.{TraceQLCompiler, TraceQLParser}
    val tql = new TraceQLCompiler(spark, dir, ts - 1, ts + 10000)
    val metas = tql.traceMeta(
      TraceQLParser.parseOrThrow("""{ .zone="eu" }""").expr).collect()
    assert(metas.map(_.getLong(0)).contains(900001L))

    // --- metrics: a NEW family becomes PromQL-queryable + API-visible --
    val mBatch = Seq(
      (ts, Map("__name__" -> "http_requests_total", "job" -> "push"), 1.0),
      (ts + 15000000000L, Map("__name__" -> "http_requests_total", "job" -> "push"), 3.0))
      .toDF("timestamp_ns", "labels", "value")
      .withColumn("fingerprint",
        graft.model.Tables.fingerprintOf(col("labels")))
    assert(Store.appendMetrics(spark, dir, mBatch) == 2)
    val fact = Store.promMetric(spark, dir, "http_requests_total",
      ts - 1, ts + 20000000000L)
    assert(fact.count() == 2)
    // the one fact table keeps families apart
    assert(Store.promMetric(spark, dir, "events_value", ts - 1,
      ts + 20000000000L).count() == 0)
    assert(Store.promMetric(spark, dir, "no_such_metric", 0, 1).count() == 0)
    val fams = graft.promql.PromQLApi.labelValues(spark, dir, "__name__")
      .collect().map(_.getString(0)).toSet
    assert(fams.contains("http_requests_total"), fams)
    val meta = graft.promql.PromQLApi.metadata(spark, dir)
      .filter(col("metric_name") === "http_requests_total").collect()
    assert(meta.length == 1 && meta(0).getString(1) == "unknown")
    // dictionary append is idempotent: same series pushed again, 1 row
    assert(Store.appendMetrics(spark, dir, mBatch) == 2)
    assert(Store.promSeries(spark, dir)
      .filter(col("family") === "http_requests_total").count() == 1)
    // PromQL compiler evaluates the pushed family end-to-end
    import graft.promql.{PromParams, PromQLCompiler}
    val tSec = (ts + 15000000000L) / 1000000000L
    val v = new PromQLCompiler(spark, dir,
        PromParams(tSec * 1000000000L, tSec * 1000000000L, 15L))
      .compile("""http_requests_total{job="push"}""")
      .collect()
    assert(v.length == 1 && v(0).getAs[Double]("value") == 3.0)

    // --- profiles: pushed rows merge into the service's flame tree -----
    val pBatch = Seq((990001L, "pushprof", ts, "process_cpu:cpu:nanoseconds",
      Seq(("cpu", "nanoseconds")),
      Seq(("service_name", "pushprof")),
      Seq((0L, 1L, "main", 0L, 70L), (1L, 2L, "work", 70L, 70L))))
      .toDF("profile_id", "service_name", "timestamp_ns", "type_id",
        "sample_types_units", "tags", "tree")
      .withColumn("sample_types_units",
        expr("transform(sample_types_units, x -> struct(x._1 as stype, x._2 as unit))"))
      .withColumn("tags",
        expr("transform(tags, x -> struct(x._1 as key, x._2 as val))"))
      .withColumn("tree",
        expr("transform(tree, x -> struct(x._1 as parent, x._2 as node, " +
          "x._3 as fn, x._4 as self, x._5 as total))"))
    assert(Store.appendProfiles(spark, dir, pBatch) == 1)
    val tree = graft.prof.Profiles.mergeTree(spark, dir, "pushprof")
      .orderBy("node").collect()
    assert(tree.length == 2 && tree.map(_.getAs[String]("fn")).toSeq ==
      Seq("main", "work"))

    // null timestamps reject the whole batch, nothing written
    val bad = Seq((900002L, 9L, Option.empty[Long], "x", "y",
      Option.empty[Long], 1L, Map.empty[String, String]))
      .toDF("trace_id", "span_id", "parent_id", "name", "service_name",
        "timestamp_ns", "duration_ns", "attrs")
    intercept[IllegalArgumentException](Store.appendSpans(spark, dir, bad))
    assert(Store.spans(spark, dir, 0, Long.MaxValue)
      .filter(col("trace_id") === 900002L).count() == 0)
  }

  test("append closure driver fast path agrees with the distributed " +
      "fallback on split-trace pushes (children first)") {
    val dir = tempDataDir("graft-closure")
    val s = spark
    import s.implicits._
    val ts = 1704100000000000000L
    // root(1) → b(2) → c(3) → d(4), pushed CHILDREN-FIRST across two
    // requests — the cross-batch repair case
    def push(trace: Long, rows: Seq[(Long, Option[Long])]): Unit = {
      val df = rows.map { case (id, p) =>
        (trace, id, p, s"n$id", "closvc", ts + id, 10L,
          Map("name" -> s"n$id")) }
        .toDF("trace_id", "span_id", "parent_id", "name", "service_name",
          "timestamp_ns", "duration_ns", "attrs")
      assert(Store.appendSpans(spark, dir, df) == rows.size)
    }
    def closure(trace: Long): Set[(Long, Long)] =
      Store.ancestors(spark, dir, ts - 1, ts + 100)
        .filter(col("trace_id") === trace)
        .select("span_id", "anc_id").as[(Long, Long)].collect().toSet
    val expected = Set((2L, 1L), (3L, 2L), (3L, 1L), (4L, 3L), (4L, 2L),
      (4L, 1L))
    // driver fast path (default cap)
    push(910001L, Seq(3L -> Some(2L), 4L -> Some(3L)))
    push(910001L, Seq(1L -> None, 2L -> Some(1L)))
    assert(closure(910001L) == expected)
    // the distributed doubling (the fallback above the driver cap) on the
    // edge set the second push closes over: both pushes' spans
    def distributed(trace: Long, rows: Seq[(Long, Option[Long])]) =
      Store.ancestorClosure(rows.map { case (id, p) => (trace, id, p, ts + id) }
          .toDF("trace_id", "span_id", "parent_id", "timestamp_ns"))
        .filter(col("trace_id") === trace)
        .select("span_id", "anc_id").as[(Long, Long)].collect().toSeq
    assert(distributed(910002L, Seq(3L -> Some(2L), 4L -> Some(3L),
      1L -> None, 2L -> Some(1L))).toSet == expected)

    // CYCLIC parent pointers (self-parent, a→b→a — hostile or buggy
    // clients): both paths emit each closure row exactly ONCE instead of
    // walking the cycle up to the depth cap and landing duplicates that
    // double-count >>/<< structural matches
    def closureRows(trace: Long): Seq[(Long, Long)] =
      Store.ancestors(spark, dir, ts - 1, ts + 100)
        .filter(col("trace_id") === trace)
        .select("span_id", "anc_id").as[(Long, Long)].collect().toSeq
    val cyc = Set((5L, 5L), (6L, 7L), (6L, 6L), (7L, 6L), (7L, 7L))
    push(910003L, Seq(5L -> Some(5L), 6L -> Some(7L), 7L -> Some(6L)))
    val gotDriver = closureRows(910003L)
    assert(gotDriver.size == cyc.size && gotDriver.toSet == cyc,
      gotDriver.sorted.mkString("; "))
    val gotDist = distributed(910004L,
      Seq(5L -> Some(5L), 6L -> Some(7L), 7L -> Some(6L)))
    assert(gotDist.size == cyc.size && gotDist.toSet == cyc,
      gotDist.sorted.mkString("; "))
  }

  // Fails when the metrics_15s re-aggregation and the raw samples scan
  // disagree. A stage that removes no rows (`| level="info"` after the
  // same matcher) disqualifies the 15s route, so the second query takes
  // the raw path over identical rows.
  test("downsample and raw paths agree on rate values") {
    def total(q: String) = engine.compileMetric(LogQLParser.parseOrThrow(q))
      .agg(sum("value")).collect()(0).getDouble(0)
    val dsQ = """sum by (event_type) (rate({level="info"}[12h]))"""
    val rawQ = """sum by (event_type) (rate({level="info"} | level="info" [12h]))"""
    assert(scanPaths(dsQ).exists(_.contains("metrics_15s")))
    assert(!scanPaths(rawQ).exists(_.contains("metrics_15s")))
    val (ds, raw) = (total(dsQ), total(rawQ))
    assert(ds > 0 && math.abs(ds - raw) < 1e-6, s"$ds vs $raw")
  }

  // ---- append contract: one decode, one file per leaf, no empty dictionary
  // files, nothing written for a rejected batch ------------------------------

  /** One store serves the append-contract cases below; each case pushes
    * its own series.
    */
  private lazy val appendDir: String = {
    val dir = tempDataDir("graft-append-contract")
    Store.ensure(spark, dir)
    dir
  }

  private val appendTables = Seq("samples", "time_series", "metrics_15s",
    "prom_samples", "prom_series", "prom_samples_15s")

  /** Every parquet file of one store table, as paths below the table. */
  private def tableFiles(table: String): Set[String] =
    filesUnder(s"${Store.rootFor(appendDir)}/$table").keySet

  private def allFiles(): Map[String, Set[String]] =
    appendTables.map(t => t -> tableFiles(t)).toMap

  /** Loki push body: one stream per host, one line per timestamp. */
  private def lokiBody(job: String, hosts: Seq[String], ts: Seq[String]): String =
    hosts.map { h =>
      s"""{"stream":{"job":"$job","host":"$h"},"values":[""" +
        ts.map(t => s"""["$t","line $h $t"]""").mkString(",") + "]}"
    }.mkString("""{"streams":[""", ",", "]}")

  private def lokiRows(body: String) = {
    val s = spark
    import s.implicits._
    graft.ingest.LokiPush.decodeRows(Seq(body).toDF("body"))
  }

  /** (oid=…, date=…) leaf dirs a decoded unscoped batch touches. */
  private def leavesOf(rows: org.apache.spark.sql.DataFrame): Set[String] =
    rows.select(
      concat(lit("oid="), pmod(col("fingerprint"), lit(2L)).cast("string"),
        lit("/date="), date_from_unix_date(
          (col("timestamp_ns") / 86400000000000L).cast("int")).cast("string")))
      .collect().map(_.getString(0)).toSet

  private def leafOf(file: String): String =
    file.split("/").dropRight(1).mkString("/")

  private val day1 = "1704103200000000000" // 2024-01-01T10:00Z
  private val day2 = "1704189600000000000" // 2024-01-02T10:00Z

  test("append: each table gains one file per touched (oid, date) leaf, and " +
      "a push of known series adds no dictionary file") {
    val hosts = (0 until 4).map(i => s"h$i")
    val first = lokiBody("contract_logs", hosts, Seq(day1, day2))
    val leaves = leavesOf(lokiRows(first))
    def pushAndCheck(body: String): Map[String, Set[String]] = {
      val before = allFiles()
      assert(Store.appendLogs(spark, appendDir, lokiRows(body)) == 8)
      val after = allFiles()
      for (t <- Seq("samples", "metrics_15s")) {
        val added = (after(t) -- before(t)).toSeq
        assert(added.map(leafOf).sorted == leaves.toSeq.sorted,
          s"$t gained ${added.mkString(", ")}")
      }
      after.map { case (t, fs) => t -> (fs -- before(t)) }
    }
    val firstAdded = pushAndCheck(first)
    assert(firstAdded("time_series").size == 1) // the four new series
    // the same series again, later in the day: no dictionary file at all
    val again = lokiBody("contract_logs", hosts,
      Seq("1704110400000000000", "1704196800000000000"))
    assert(pushAndCheck(again)("time_series").isEmpty)
    assert(Store.timeSeries(spark, appendDir)
      .filter(element_at(col("labels"), "job") === "contract_logs")
      .count() == 4)

    // the metric path follows the same contract on prom_series
    val s = spark
    import s.implicits._
    val m = Seq((day1.toLong, 1.0), (day2.toLong, 2.0))
      .map { case (t, v) => (t, Map("__name__" -> "contract_gauge", "host" -> "h0"), v) }
      .toDF("timestamp_ns", "labels", "value")
      .withColumn("fingerprint", graft.model.Tables.fingerprintOf(col("labels")))
    val b0 = allFiles()
    assert(Store.appendMetrics(spark, appendDir, m) == 2)
    val b1 = allFiles()
    assert((b1("prom_series") -- b0("prom_series")).size == 1)
    assert(Store.appendMetrics(spark, appendDir, m) == 2)
    val b2 = allFiles()
    assert(b2("prom_series") == b1("prom_series"))
    for (t <- Seq("prom_samples", "prom_samples_15s"))
      assert((b2(t) -- b1(t)).map(leafOf) == leavesOf(m), t)
  }

  test("append: a batch with one null timestamp leaves every table's file " +
      "list unchanged") {
    val body = lokiBody("contract_null", Seq("h0", "h1"), Seq(day1, day2))
      .replaceFirst(day2, "not-a-number")
    val before = allFiles()
    val e = intercept[IllegalArgumentException](
      Store.appendLogs(spark, appendDir, lokiRows(body)))
    assert(e.getMessage == "1 of 4 entries have missing/invalid timestamps")
    val s = spark
    import s.implicits._
    val m = Seq((Option(day1.toLong), 1.0), (Option.empty[Long], 2.0))
      .map { case (t, v) => (t, Map("__name__" -> "contract_null"), v) }
      .toDF("timestamp_ns", "labels", "value")
      .withColumn("fingerprint", graft.model.Tables.fingerprintOf(col("labels")))
    intercept[IllegalArgumentException](Store.appendMetrics(spark, appendDir, m))
    assert(allFiles() == before)
  }

  test("append: a tenant-scoped push dedups its dictionary per " +
      "(oid, fingerprint)") {
    val body = lokiBody("contract_tenant", Seq("h0"), Seq(day1))
    val fp = lokiRows(body).select("fingerprint").head().getLong(0)
    def dictOids(): Seq[String] = Store.readTable(spark,
        s"${Store.rootFor(appendDir)}/time_series")
      .filter(col("fingerprint") === fp)
      .select("oid").collect().map(_.getString(0)).toSeq.sorted
    def pushAs(tenant: String, b: String): Unit = {
      spark.conf.set("spark.graft.tenant", tenant)
      try assert(Store.appendLogs(spark, appendDir, lokiRows(b)) == 1)
      finally spark.conf.unset("spark.graft.tenant")
    }
    pushAs("t1", body)
    pushAs("t1", lokiBody("contract_tenant", Seq("h0"), Seq(day2)))
    assert(dictOids() == Seq("t1"))
    // another tenant pushing the same label set owns its own row
    pushAs("t2", body)
    assert(dictOids() == Seq("t1", "t2"))
  }

  /** Every path below `root`, files and directories, relative to it. */
  private def pathsUnder(root: String): Set[String] = {
    val base = new java.io.File(root).toPath
    val walk = java.nio.file.Files.walk(base)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.map(p => base.relativize(p).toString).toSet
    } finally walk.close()
  }

  // Fails when a push writes through a Spark write job (one per table) or
  // through a committer or staging directory.
  test("append: a Loki push of known series runs at most 3 Spark jobs " +
      "(decode, dictionary probe, partials), writes no shuffle bytes and " +
      "leaves no _staging, _temporary or _SUCCESS path") {
    import org.apache.spark.scheduler._
    val hosts = Seq("h0", "h1", "h2", "h3")
    Store.appendLogs(spark, appendDir,
      lokiRows(lokiBody("contract_jobs", hosts, Seq(day1, day2))))
    val root = Store.rootFor(appendDir)
    // an earlier write's staging directory is not this push's
    val (fs, staging) = Store.fsFor(s"$root/_staging")
    fs.delete(staging, true)
    val before = pathsUnder(root)
    val group = s"append-guard-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          j.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (stages.contains(t.stageId) && t.taskMetrics != null)
          shuffleBytes.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "known-series push")
      try Store.appendLogs(spark, appendDir, lokiRows(lokiBody(
        "contract_jobs", hosts, Seq("1704110400000000000",
          "1704196800000000000"))))
      finally sc.clearJobGroup()
      org.apache.spark.grafttest.ListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get > 0 && jobs.get <= 3, s"${jobs.get} jobs")
    assert(shuffleBytes.get == 0L, s"${shuffleBytes.get} shuffle bytes")
    val machinery = pathsUnder(root).filter(_.split('/').exists(seg =>
      seg == "_staging" || seg == "_temporary" || seg == "_SUCCESS"))
    assert((machinery -- before).isEmpty, machinery.mkString(", "))
  }

  // Fails when a leaf directory name is built by hand rather than by
  // Spark's partition-path escaping: the scan would infer another oid, and
  // the tenant would not read its own push back.
  test("append: a tenant whose org id needs path escaping lands in the " +
      "oid= directory Spark's writer names, and reads its push back") {
    val org = "a:b=c%d"
    val s = spark
    import s.implicits._
    val probe = tempDataDir("graft-oid-probe", None) + "/t"
    Seq((org, 1)).toDF("oid", "x").write.partitionBy("oid").parquet(probe)
    val sparkLeaf = new java.io.File(probe).listFiles()
      .map(_.getName).filter(_.startsWith("oid=")).toSeq
    assert(sparkLeaf == Seq("oid=a%3Ab%3Dc%25d"), sparkLeaf)
    val body = lokiBody("contract_escaped_org", Seq("h0", "h1"), Seq(day1, day2))
    val before = tableFiles("samples")
    spark.conf.set("spark.graft.tenant", org)
    try {
      assert(graft.http.Frontend.validOrg(org))
      assert(Store.appendLogs(spark, appendDir, lokiRows(body)) == 4)
      val lines = Store.pinned(Store.samples(spark, appendDir, 0L, Long.MaxValue)
        .join(Store.timeSeries(spark, appendDir), "fingerprint")
        .filter(element_at(col("labels"), "job") === "contract_escaped_org")
        .select("line").as[String].collect().toSet)
      assert(lines == Set("h0", "h1").flatMap(h =>
        Seq(day1, day2).map(t => s"line $h $t")))
    } finally spark.conf.unset("spark.graft.tenant")
    val added = tableFiles("samples") -- before
    assert(added.nonEmpty && added.forall(_.split('/').head == sparkLeaf.head),
      added.mkString(", "))
  }

  /** Rows of one pushed batch's series in the three tables a Loki push
    * writes: (samples, time_series, metrics_15s).
    */
  private def pushedRows(body: String): (Long, Long, Long) = {
    val fps = lokiRows(body).select("fingerprint").distinct()
      .collect().map(_.getLong(0)).toSeq
    def mine(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("fingerprint").isin(fps: _*)).count()
    Store.pinned((
      mine(Store.samples(spark, appendDir, 0L, Long.MaxValue)),
      mine(Store.timeSeries(spark, appendDir)),
      mine(Store.metrics15s(spark, appendDir, 0L, Long.MaxValue))))
  }

  test("a Loki push is one commit: a pin taken before it sees none of the " +
      "samples/time_series/metrics_15s rows, and a pin taken after sees " +
      "all of them") {
    val root = Store.rootFor(appendDir)
    val body = lokiBody("contract_commit", Seq("h0", "h1"), Seq(day1, day2))
    val v0 = logHead(root).version
    Store.pinned {
      assert(pushedRows(body) == ((0L, 0L, 0L)))
      assert(Store.appendLogs(spark, appendDir, lokiRows(body)) == 4)
      assert(pushedRows(body) == ((0L, 0L, 0L)))
    }
    assert(logHead(root).version == v0 + 1)
    assert(pushedRows(body) == ((4L, 2L, 4L)))
  }

  test("a fault after the data files are written but before the commit: " +
      "the store answers as before, and the next maintain deletes the " +
      "orphans") {
    val root = Store.rootFor(appendDir)
    val body = lokiBody("contract_fault", Seq("h0", "h1"), Seq(day1, day2))
    val v0 = logHead(root).version
    Store.faultHook = step =>
      if (step == "commit") throw new RuntimeException("injected crash")
    try intercept[RuntimeException](
      Store.appendLogs(spark, appendDir, lokiRows(body)))
    finally Store.faultHook = _ => ()
    assert(logHead(root).version == v0)
    assert(pushedRows(body) == ((0L, 0L, 0L)))
    assert((onDisk(root) -- committed(root)).nonEmpty, "no orphan written")
    Store.maintain(spark, appendDir)
    assert(onDisk(root) == committed(root))
    assert(pushedRows(body) == ((0L, 0L, 0L)))
    assert(Store.appendLogs(spark, appendDir, lokiRows(body)) == 4)
    assert(pushedRows(body) == ((4L, 2L, 4L)))
  }
}
