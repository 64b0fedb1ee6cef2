package graft.bench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.http.{HttpResult, Params}
import graft.logql.{EvalParams, LogQLCompiler, LogQLParser}
import graft.promql.{PromParams, PromQLCompiler, PromQLParser}
import graft.store.Store
import graft.streaming.RulerScheduler
import graft.traceql.{TraceQLCompiler, TraceQLParser}

/** The `/_bench/` routes. Each answers a JSON object of plain numbers. */
final class Control(spark: SparkSession, dir: String, storeDir: String,
    clock: AtomicLong, val tracer: Option[Tracer]) {

  val frontend = new BenchFrontend(spark, dir, clock, this)
  private val ruler = new RulerScheduler(spark, dir, () => clock.get)
  val quit = new CountDownLatch(1)
  @volatile var setupS = 0.0
  @volatile var buildS = 0.0
  @volatile var warmS = 0.0
  @volatile var launchS = 0.0
  @volatile var sparkS = 0.0

  private def json(kv: (String, Any)*): HttpResult =
    HttpResult(200, kv.map { case (k, v) =>
      val s = v match {
        case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
        case o => o.toString
      }
      "\"" + k + "\":" + s
    }.mkString("{", ",", "}"))

  private def ms(ns: Long): Double = ns / 1e6

  def handle(path: String, p: Params, bytes: Array[Byte]): HttpResult =
    path.stripPrefix("/_bench/") match {
      case "setup" =>
        json("launch_s" -> launchS, "spark_s" -> sparkS,
          "setup_s" -> setupS, "build_s" -> buildS, "warm_s" -> warmS)
      case "clock" =>
        clock.set(p.required("ns").toLong)
        json("ns" -> clock.get)
      case "maintain" =>
        val before = storeFiles()
        val t0 = System.nanoTime()
        Store.maintain(spark, dir)
        val t = System.nanoTime() - t0
        val after = storeFiles()
        val added = after.keySet -- before.keySet
        json("ms" -> ms(t),
          "files_removed" -> (before.keySet -- after.keySet).size,
          "bytes_rewritten" -> added.toSeq.map(after).sum)
      case "tick" =>
        val t0 = System.nanoTime()
        val n = ruler.tick()
        json("ms" -> ms(System.nanoTime() - t0), "samples" -> n)
      case "store" =>
        val files = storeFiles()
        val perLeaf = files.keys.groupBy(_.getParent).values.map(_.size)
        json("files" -> files.size, "bytes" -> files.values.sum,
          "leaf_files_max" -> (if (perLeaf.isEmpty) 0 else perLeaf.max))
      case "calib" => calib()
      case "op" => tracer.get.takeOp()
      case "parse" => parse(p)
      case "decode" => decode(p.required("fmt"), new String(bytes, UTF_8))
      case "jvm" => jvm(p.first("reset").contains("1"))
      case "quit" =>
        quit.countDown()
        json("ok" -> 1)
      case other => HttpResult(404, s"""{"error":"no control route $other"}""")
    }

  /** Parquet data files of the live store, path to size. */
  private def storeFiles(): Map[Path, Long] = {
    val w = Files.walk(Paths.get(storeDir))
    try w.iterator.asScala
      .filter(f => f.getFileName.toString.endsWith(".parquet") &&
        Files.isRegularFile(f))
      .map(f => f -> Files.size(f)).toMap
    finally w.close()
  }

  /** The reference job: a fixed Spark query that runs no graft code. It
    * reads the generated events and aggregates them through a shuffle,
    * the same kind of small job a panel query runs. The client runs it
    * before every timed operation and divides the operations' CPU time by
    * its CPU time, which cancels how fast the host happened to run Spark
    * work during the run (see README.md).
    */
  private def calib(): HttpResult = {
    val rows = spark.read.parquet(s"$dir/events.parquet")
      .groupBy("event_type")
      .agg(org.apache.spark.sql.functions.sum("value"))
      .collect()
    tracer.foreach(_.discard())
    json("rows" -> rows.length)
  }

  /** Times one engine's public parser and then its compiler on a panel
    * query. Compiling may run Spark jobs (dictionary sizing); they are
    * dropped from the per-operation totals.
    */
  private def parse(p: Params): HttpResult = {
    val q = p.required("q")
    val lo = p.required("start").toLong
    val hi = p.required("end").toLong
    val step = p.first("step").map(_.toLong).getOrElse(60L)
    val t0 = System.nanoTime()
    val compile: () => DataFrame = p.required("lang") match {
      case "logql" =>
        val e = LogQLParser.parseOrThrow(q)
        () => new LogQLCompiler(spark, dir, EvalParams(lo, hi, step)).compileExpr(e)
      case "promql" =>
        val e = PromQLParser.parseOrThrow(q)
        () => new PromQLCompiler(spark, dir, PromParams(lo, hi, step)).compileExpr(e)
      case "traceql" =>
        val e = TraceQLParser.parseOrThrow(q)
        () => new TraceQLCompiler(spark, dir, lo, hi).run(e)
    }
    val t1 = System.nanoTime()
    compile()
    val t2 = System.nanoTime()
    tracer.foreach(_.discard())
    json("parse_ms" -> ms(t1 - t0), "compile_ms" -> ms(t2 - t1))
  }

  /** Runs one wire decoder on a push body and materializes every row. */
  private def decode(fmt: String, body: String): HttpResult = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val bodies = Seq(body).toDF("body")
    val df = fmt match {
      case "loki" => graft.ingest.LokiPush.decodeRows(bodies)
      case "otlp_logs" => graft.ingest.WireFormats.decodeOtlpLogs(bodies)
      case "otlp_metrics" => graft.ingest.WireFormats.decodeOtlpMetrics(bodies)
      case "zipkin" => graft.ingest.WireFormats.decodeZipkin(bodies)
      case "influx" => graft.ingest.WireFormats.decodeInflux(
        body.split("\n").toSeq.map(_.trim).filter(_.nonEmpty).toDF("line"))
    }
    val rows = df.collect().length
    val t = System.nanoTime() - t0
    tracer.foreach(_.discard())
    json("ms" -> ms(t), "rows" -> rows)
  }

  private def jvm(reset: Boolean): HttpResult = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    val peak = heap.map(_.getPeakUsage.getUsed).sum
    if (reset) heap.foreach(_.resetPeakUsage())
    json("gc_ms" -> gcs.map(_.getCollectionTime).sum,
      "gc_count" -> gcs.map(_.getCollectionCount).sum,
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      "heap_peak_mb" -> peak / 1048576.0)
  }
}
