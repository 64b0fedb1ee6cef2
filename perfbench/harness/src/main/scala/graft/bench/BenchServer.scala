package graft.bench

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

import graft.http.{Frontend, GraftHttpServer, HttpResult, Params}
import graft.store.Store

/** Server process of the benchmark: builds its store from the generated
  * events, serves it through the real [[GraftHttpServer]], and answers a
  * few control routes under `/_bench/` that the client calls between
  * timed operations (maintenance pass, ruler tick, clock, store and
  * layer statistics). Nothing here runs on a timer: maintenance and ruler
  * ticks happen only when the client asks, at fixed points of its
  * operation sequence, and the clock is the client's.
  *
  * Arguments (all `--key value`):
  *   --data       directory holding events.parquet
  *   --clock-ns   initial value of the injected clock
  *   --port-file  the bound port is written here once setup is done
  *   --trace      1 installs the listeners and answers the layer routes
  *   --master, --partitions, --local-dir  the Spark session's settings
  *   --parent-pid the client; the server halts once it is gone
  */
object BenchServer {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val root = Paths.get(Store.storeRoot).toAbsolutePath.normalize
    if (root.endsWith(Paths.get("target", "graft-store"))) {
      System.err.println(s"refusing to run against the shared store $root")
      sys.exit(2)
    }
    // the client owns this process: if it dies, so does the server
    val parent = java.lang.ProcessHandle.of(opts("parent-pid").toLong)
    val watchdog = new Thread(() => {
      while (parent.map[Boolean](_.isAlive).orElse(false)) Thread.sleep(1000)
      Runtime.getRuntime.halt(3)
    }, "bench-parent-watchdog")
    watchdog.setDaemon(true)
    watchdog.start()
    val trace = opts("trace") == "1"
    val clock = new AtomicLong(opts("clock-ns").toLong)
    val launchS = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getUptime / 1000.0
    val spark = SparkSession.builder()
      .master(opts("master"))
      .config("spark.sql.shuffle.partitions", opts("partitions"))
      .config("spark.default.parallelism", opts("partitions"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", opts("local-dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sparkS = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getUptime / 1000.0 - launchS
    val tracer = if (trace) Some(new Tracer(spark)) else None

    val dir = opts("data")
    val t0 = System.nanoTime()
    val storeDir = Store.ensure(spark, dir)
    val t1 = System.nanoTime()
    Store.warm(spark, dir)
    val t2 = System.nanoTime()
    val ctl = new Control(spark, dir, storeDir, clock, tracer)
    val server = new GraftHttpServer(ctl.frontend, 0, 1000, 16)
    ready(server.getAddress.getPort)
    val t3 = System.nanoTime()
    ctl.setupS = (t3 - t0) / 1e9
    ctl.buildS = (t1 - t0) / 1e9
    ctl.warmS = (t2 - t1) / 1e9
    ctl.launchS = launchS
    ctl.sparkS = sparkS
    val portFile = Paths.get(opts("port-file"))
    Files.write(Paths.get(portFile + ".tmp"),
      server.getAddress.getPort.toString.getBytes(UTF_8))
    Files.move(Paths.get(portFile + ".tmp"), portFile)
    ctl.quit.await()
    server.stop(0)
    spark.stop()
    sys.exit(0)
  }

  /** One answered request closes the setup. */
  private def ready(port: Int): Unit = {
    val s = new Socket("127.0.0.1", port)
    try {
      val out = new PrintWriter(s.getOutputStream)
      out.print("GET /ready HTTP/1.1\r\nHost: localhost\r\nConnection: close\r\n\r\n")
      out.flush()
      val status = new BufferedReader(
        new InputStreamReader(s.getInputStream, UTF_8)).readLine()
      if (status == null || !status.contains(" 200"))
        throw new IllegalStateException(s"/ready answered $status")
    } finally s.close()
  }
}

/** Frontend whose request dispatch the benchmark observes: control
  * routes are answered here, every other route goes to the real
  * [[Frontend]], timed when tracing.
  */
final class BenchFrontend(spark: SparkSession, dir: String, clock: AtomicLong,
    ctl: Control) extends Frontend(spark, dir, () => clock.get) {
  override def routeRaw(path: String, p: Params, method: String,
      bytes: Array[Byte], org: Option[String]): HttpResult =
    if (path.startsWith("/_bench/")) ctl.handle(path, p, bytes)
    else ctl.tracer match {
      case None => super.routeRaw(path, p, method, bytes, org)
      case Some(t) => t.timedRoute(super.routeRaw(path, p, method, bytes, org))
    }
}
