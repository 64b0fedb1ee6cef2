package graft.http

/** Scratch repro driver for the maintenance-timer reader-visibility race
  * (FrontendSpec "maintenance timer compacts ..."). Not a test: run with
  *   sbt "Test/runMain graft.http.MTimerRaceRepro [seconds]"
  * Pushes 4 lines, starts the 1s maintenance timer with maxFiles=2, then
  * hammers query_range for N seconds counting wrong/erroneous responses.
  */
object MTimerRaceRepro {
  private val StartS = 1704067200L
  private val EndS = 1706659200L
  private val sf = "/root/testdata/sf0.001"

  /** One full iteration of the FrontendSpec test body: fresh store, 4
    * pushes, timer with maxFiles=2, wait for compaction, assert results
    * unchanged — plus `hammerS` seconds of extra concurrent queries.
    */
  private def once(spark: org.apache.spark.sql.SparkSession,
      hammerS: Int): Option[String] = {
    val dir = graft.store.TempStores.create("graft-mtimer-repro", Some(sf))
    try onceIn(spark, dir, hammerS)
    finally graft.store.TempStores.drop(dir)
  }

  private def onceIn(spark: org.apache.spark.sql.SparkSession, dir: String,
      hammerS: Int): Option[String] = {
    val fe = new Frontend(spark, dir)
    for (i <- 1 to 4)
      assert(fe.route("/loki/api/v1/push", Params(), "POST",
        s"""{"streams":[{"stream":{"event_type":"mtimer"},
           |"values":[["${StartS + i}000000000","timer line $i"]]}]}"""
          .stripMargin.replace("\n", "")).status == 204)
    val root = graft.store.Store.ensure(spark, dir)
    def leafFiles(): Int = {
      def walk(f: java.io.File): Seq[java.io.File] = {
        val kids = Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        val dirs = kids.filter(_.isDirectory)
        if (dirs.isEmpty) Seq(f) else dirs.toSeq.flatMap(walk)
      }
      walk(new java.io.File(s"$root/samples")).map(l =>
        Option(l.listFiles()).getOrElse(Array.empty[java.io.File])
          .count(_.getName.endsWith(".parquet"))).max
    }
    def lines(): (Int, Seq[String], String) = {
      val r = fe.route("/loki/api/v1/query_range", Params(
        "query" -> """{event_type="mtimer"}""",
        "start" -> s"${StartS}000000000", "end" -> s"${EndS}000000000",
        "limit" -> "10"))
      (r.status,
        """timer line (\d)""".r.findAllMatchIn(r.body).map(_.group(1)).toSeq.sorted,
        r.body)
    }
    if (leafFiles() < 4) return Some(s"setup: only ${leafFiles()} leaf files")
    if (lines()._2 != Seq("1", "2", "3", "4"))
      return Some(s"pre-timer: ${lines()}")
    val timer = fe.startMaintenance(intervalS = 1, maxFiles = 2)
    try {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (leafFiles() > 2 && System.nanoTime() < deadline)
        Thread.sleep(250)
      if (leafFiles() > 2) return Some(s"not compacted: ${leafFiles()} files")
      val (st, got, body) = lines()
      if (got != Seq("1", "2", "3", "4"))
        return Some(s"post-compact: status=$st got=$got body=${body.take(300)}")
      // keep querying against further ticks, like a live deployment
      val hammerDeadline = System.nanoTime() + hammerS * 1000000000L
      while (System.nanoTime() < hammerDeadline) {
        val (st2, got2, body2) = lines()
        if (got2 != Seq("1", "2", "3", "4"))
          return Some(s"hammer: status=$st2 got=$got2 body=${body2.take(300)}")
      }
      None
    } finally { timer.shutdownNow(); () }
  }

  def main(args: Array[String]): Unit = {
    val iters = args.headOption.map(_.toInt).getOrElse(20)
    val hammerS = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[8]").appName("mtimer-repro")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    var failed = 0
    for (i <- 1 to iters) {
      once(spark, hammerS) match {
        case Some(err) => failed += 1; println(s"ITER $i FAIL: $err")
        case None => println(s"ITER $i ok")
      }
    }
    println(s"REPRO iters=$iters failed=$failed")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
