package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark driver: `Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`.
  *
  * Set-up runs `setupRepeats` times (session start, input generation,
  * model training or index build). The first, cold set-up mostly loads
  * classes and compiles; `setup_s` is the median of the later ones. One
  * warm-up operation follows the first set-up and one the last, then a
  * single closed-loop client runs operations
  * until `--seconds` have passed. With `--trace 1` odd operations run
  * untraced and even ones traced, so the tracing overhead is measured in
  * the same process; per-layer figures come from the traced ones and
  * Spark listener figures from the untraced ones.
  *
  * Prints one JSON object as the last line of standard output. */
object Main {
  def session(cores: Int, work: Path, traced: Boolean): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "8192")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val wl = Workload(arg(args, "workload"))
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val work = Paths.get(arg(args, "work")).resolve(wl.name)
    val cores = Runtime.getRuntime.availableProcessors

    var spark: SparkSession = null
    val setupS = mutable.ArrayBuffer.empty[Double]
    val sessionS = mutable.ArrayBuffer.empty[Double] // of which session start
    def setUp(): Unit = {
      if (spark != null) { wl.close(); spark.stop() }
      // start each set-up from a collected heap, so no pause left over
      // from the previous one lands in it
      System.gc()
      val t0 = System.nanoTime()
      spark = session(cores, work, traced)
      sessionS += (System.nanoTime() - t0) / 1e9
      wl.setup(spark, seed, work)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    def attempt(i: Int, tr: Option[Tracer]): Option[OpOut] =
      try {
        wl.window = (0L, 0L)
        Some(tr.fold(wl.op(None))(t => t.span("op")(wl.op(tr))))
      } catch {
        case e: Exception =>
          failed += 1
          if (errors.size < 5) errors += s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }

    // Warm-up operations are counted, not timed. The first follows the
    // cold set-up and warms the JIT, so the later set-ups measure steady
    // set-up cost rather than a compilation trend. The second runs the
    // last session's first queries and the stream's first trigger. With
    // no warm-up the first timed operation ran up to twice as slow.
    setUp()
    attempted += 1; attempt(0, None)
    for (_ <- 2 to wl.setupRepeats) setUp()
    attempted += 1; attempt(-1, None)
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val heap = new HeapWatch
    val plain = mutable.ArrayBuffer.empty[((Long, Long), OpOut)] // timed region, epoch ns
    val withSpans = mutable.ArrayBuffer.empty[OpOut]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 1
    // at least one operation, and in a traced run one of each kind
    while (i == 1 || (traced && i == 2) || System.nanoTime() < deadline) {
      val tr = if (traced && i % 2 == 0) tracer else None
      attempted += 1
      attempt(i, tr).foreach { o => if (tr.isEmpty) plain += ((wl.window, o)) else withSpans += o }
      i += 1
    }
    val correct =
      try { wl.finish(); failed == 0 }
      catch { case e: Exception => errors += s"finish: ${e.getMessage}"; false }
    if (!correct && failed == 0) failed = 1

    val ops = plain.map(_._2).toSeq
    val opMs = ops.map(_.seconds * 1000)
    val parts = ops.flatMap(_.partsMs).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val metrics: Seq[(String, String, Double)] = tracer match {
      case None => Seq(
        ("op_p50_ms", "ms", Stats.median(opMs)),
        ("quality", "frac", wl.quality),
        ("setup_s", "s", Stats.median(setupS.tail.toSeq)),
        ("heap_live_peak_mb", "MiB", heap.peakMb))
      case Some(t) =>
        val windows = plain.map(_._1).toSeq
        t.write(work.resolve(s"spans-seed$seed.json"), Layers.stepTable(t, windows))
        Layers.report(t, wl.modelStats, windows, opMs, withSpans.map(_.seconds * 1000).toSeq)
    }
    heap.close()
    wl.close()
    spark.stop()

    System.err.println(s"perfbench: set-up seconds ${setupS.mkString(" ")}")
    System.err.println(s"perfbench: of which session start ${sessionS.mkString(" ")}")
    System.err.println(s"perfbench: operation ms ${opMs.map(m => f"$m%.0f").mkString(" ")}")
    errors.foreach(e => System.err.println(s"perfbench: $e"))
    val named = (wl.named(opMs, parts) ++ Seq(
      ("failed_frac", "frac", failed.toDouble / attempted),
      ("ops_timed", "count", ops.size.toDouble))).map(Json.metric).mkString(",")
    println(s"""{"workload":"${wl.name}","seed":$seed,"trace":${if (traced) 1 else 0},"named":{$named}}""")
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${metrics.map(Json.metric).mkString(",")}}}""")
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def metric(m: (String, String, Double)): String =
    s"""${str(m._1)}:{"value":${num(m._3)},"unit":${str(m._2)}}"""
}
