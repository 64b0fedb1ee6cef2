package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Maintenance-endurance harness (dev tool, run by hand for
  * BENCH_sf1.json): N small live pushes with a scheduled-style
  * [[graft.store.Store.maintain]] every K pushes, recording the leaf
  * file-count trajectory and query-latency drift — evidence that the
  * compaction equilibrium holds under SUSTAINED load, not just the
  * gate's 4-push loop. The reference's analog is ClickHouse's continuous
  * background merges keeping parts bounded while inserts stream in.
  *
  * Usage: SPARK_GRAFT_SF_DIR=target/sf1 sbt "runMain graft.DevEndurance"
  * Prints one JSON line: pushes, file counts before/after each maintain,
  * and first/mid/last query latencies.
  *
  * Second axis (`SPARK_GRAFT_RETAIN_DAYS=N`): push days advance
  * monotonically and a rolling TTL cutoff (newest pushed day − N)
  * expires behind them on every maintain — the CLOSED loop. Without
  * expiry the total file count grows with distinct touched partitions
  * (each new day adds leaves); with it the trajectory must flatten into
  * a steady band: compaction bounds files-per-leaf, retention bounds
  * live leaves.
  */
object DevEndurance {

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/target/sf1")
    val pushes = sys.env.getOrElse("SPARK_GRAFT_PUSHES", "50").toInt
    val every = sys.env.getOrElse("SPARK_GRAFT_MAINTAIN_EVERY", "10").toInt
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // events/17 fixture copy, like the HTTP gates at every scale: the
    // endurance subject is the STORE's file equilibrium, which is
    // independent of the base table size
    val tmp = java.nio.file.Files.createTempDirectory("graft-endure").toFile
    tmp.deleteOnExit()
    graft.model.Tables.rawEvents(spark, dir)
      .filter(pmod(col("user_id"), lit(17L)) === 0)
      .coalesce(1)
      .write.parquet(tmp.getAbsolutePath + "/events.parquet")
    val fix = tmp.getAbsolutePath
    val root = graft.store.Store.ensure(spark, fix)

    import graft.gates.EvalWindow._
    val fe = new graft.http.Frontend(spark, fix, nowNs = () => EndNs)

    // retention axis: rolling TTL horizon in days (off when unset)
    val retainDays = sys.env.get("SPARK_GRAFT_RETAIN_DAYS").map(_.toInt)

    // push-day schedule: cycling (i % 28) exercises re-appends into
    // existing partitions (the compaction axis); the retention axis needs
    // MONOTONIC days so the rolling cutoff actually advances past data
    def dayOf(i: Int): Long =
      if (retainDays.isDefined) (i.toLong * 28) / math.max(1, pushes)
      else (i % 28).toLong

    // one bounded push batch: 100 log lines + 100 samples of one metric
    // family, timestamps spread over the window so several (oid, date)
    // leaves are touched per push — the worst case for file accumulation
    def push(i: Int): Unit = {
      val ts0 = StartNs + dayOf(i) * 86400L * 1000000000L
      val values = (1 to 100).map(k =>
        s"""["${ts0 + k * 1000000000L}","endure line $i-$k"]""").mkString(",")
      val res = fe.route("/loki/api/v1/push", graft.http.Params(), "POST",
        s"""{"streams":[{"stream":{"event_type":"endure","run":"r$i"},"values":[$values]}]}""")
      require(res.status == 204, s"push $i -> ${res.status}")
      val s = spark
      import s.implicits._
      val metrics = (1 to 100).map(k =>
        (ts0 + k * 1000000000L,
          Map("__name__" -> "endure_total", "shard" -> s"s${k % 4}"), k.toDouble))
        .toDF("timestamp_ns", "labels", "value")
        .withColumn("fingerprint",
          graft.model.Tables.fingerprintOf(col("labels")))
      graft.store.Store.appendMetrics(spark, fix, metrics): Unit
    }

    // leaf-file census over the append-mutable tables: max + total part
    // files per leaf directory
    def census(): (Int, Int) = {
      def walk(f: java.io.File): Seq[java.io.File] = {
        val kids = Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        val dirs = kids.filter(_.isDirectory)
        if (dirs.isEmpty) Seq(f) else dirs.toSeq.flatMap(walk)
      }
      val tables = Seq("samples", "metrics_15s", "time_series",
        "prom_samples", "prom_samples_15s", "prom_series")
      val perLeaf = tables.flatMap(t => walk(new java.io.File(s"$root/$t")))
        .map(l => Option(l.listFiles()).getOrElse(Array.empty[java.io.File])
          .count(_.getName.endsWith(".parquet")))
      (if (perLeaf.isEmpty) 0 else perLeaf.max, perLeaf.sum)
    }

    // latency probes: the pushed stream's range agg (LogQL) and the
    // pushed family's rate (PromQL) — the queries a tenant would run
    // against the live data
    def latency(): (Double, Double) = {
      def time(f: => Long): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val l = time {
        new graft.logql.LogQLCompiler(spark, fix,
            graft.logql.EvalParams(StartNs, EndNs, 21600L))
          .compile("""sum(count_over_time({event_type="endure"}[6h]))""")
          .count()
      }
      val p = time {
        new graft.promql.PromQLCompiler(spark, fix,
            graft.promql.PromParams(StartNs, EndNs, 21600L))
          .compile("""sum by (shard) (rate(endure_total[1h]))""")
          .count()
      }
      (l, p)
    }

    val trajectory = scala.collection.mutable.ArrayBuffer[String]()
    // seed push first: the latency baseline needs the pushed family to
    // exist (a never-pushed name answers an empty frame, timing nothing)
    push(0)
    val lat0 = latency()
    for (i <- 1 to pushes) {
      push(i)
      if (i % every == 0) {
        val (mx, tot) = census()
        val n = graft.store.Store.maintain(spark, fix, maxFiles = 8)
        // the closed loop: expire everything older than the rolling
        // horizon behind the advancing push days (rotate.go:48-66's
        // per-day DROP PARTITION on a schedule)
        val cut = retainDays.collect {
          case r if dayOf(i) - r > 0 =>
            val cutDay = StartNs / 86400000000000L + (dayOf(i) - r)
            val c = java.time.LocalDate.ofEpochDay(cutDay).toString
            graft.store.Store.expire(spark, fix, c)
            c
        }
        val (mx2, tot2) = census()
        trajectory += s"""{"push":$i,"pre":{"max":$mx,"total":$tot},"compacted":$n""" +
          cut.map(c => s""","expired_before":"$c"""").getOrElse("") +
          s""","post":{"max":$mx2,"total":$tot2}}"""
      }
    }
    val latMid = latency()
    val latN = latency()
    val (fmx, ftot) = census()
    println(
      s"""{"metric":"endurance","pushes":$pushes,"maintain_every":$every,""" +
      retainDays.map(r => s""""retain_days":$r,""").getOrElse("") +
      s""""trajectory":[${trajectory.mkString(",")}],""" +
      s""""final":{"max":$fmx,"total":$ftot},""" +
      s""""latency_s":{"before":[${lat0._1},${lat0._2}],""" +
      s""""after":[${latMid._1},${latMid._2}],""" +
      s""""after_min2":[${math.min(latMid._1, latN._1)},${math.min(latMid._2, latN._2)}]},""" +
      s""""sf":"$dir"}""")
    spark.stop()
  }
}
