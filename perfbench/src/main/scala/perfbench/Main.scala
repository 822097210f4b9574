package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point for the ingestion pipeline.
 *
 * {{{
 * perfbench.Main --workload <backfill|daily_cadence|store_reads> --seed <n>
 *   --seconds <s> --trace <0|1> --root <checkout>
 * perfbench.Main --smoke --seed <n> --root <checkout>
 * }}}
 *
 * Prints a detail line, then as its last stdout line one JSON object with
 * `correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics,
 * or with `--trace 1` the per-layer ones). `--smoke` runs every workload on
 * tiny inputs, traced and untraced, and exits non-zero on any failed check.
 */
object Main {
  val Workloads = Seq("backfill", "daily_cadence", "store_reads")

  def main(argv: Array[String]): Unit = {
    val args = argv.indices.collect {
      case i if argv(i).startsWith("--") && i + 1 < argv.length && !argv(i + 1).startsWith("--") =>
        argv(i).drop(2) -> argv(i + 1)
    }.toMap
    val smoke = argv.contains("--smoke")
    val root = new File(args.getOrElse("root", ".")).getAbsoluteFile
    val seed = args.getOrElse("seed", "1").toLong
    val work = new File(root, s".bench_build/work/${ProcessHandle.current.pid}")
    val status =
      try {
        val spark = session(work)
        sessionReady = processSeconds
        try {
          if (smoke) runSmoke(spark, work, seed)
          else {
            val workload = args.getOrElse("workload", sys.error("--workload is required"))
            val seconds = args.getOrElse("seconds", "10").toDouble
            val trace = args.getOrElse("trace", "0") == "1"
            val out = new File(root, ".bench_out")
            val r = runOne(spark, work, workload, seed, seconds, trace,
              Sizes(workload, smoke = false), Some(out))
            println(Json.obj(Seq("detail" -> r.detail)))
            println(r.resultLine)
            0
          }
        } finally spark.stop()
      } finally Files2.deleteTree(work)
    sys.exit(status)
  }

  final case class Outcome(attempted: Long, failed: Long, metrics: Seq[(String, (Double, String))],
      detail: scala.collection.Map[String, Any]) {
    def resultLine: String = Json.obj(Seq("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap))
  }

  def runOne(spark: SparkSession, work: File, workload: String, seed: Long, seconds: Double,
      trace: Boolean, sizes: Sizes, spansDir: Option[File]): Outcome = {
    val tracer = new Tracer(spark.sparkContext, trace)
    val bench = new Bench(spark, tracer, new File(work, workload), seed, seconds, sizes)
    try {
      workload match {
        case "backfill" => bench.backfill()
        case "daily_cadence" => bench.dailyCadence()
        case "store_reads" => bench.storeReads()
      }
      if (trace) bench.perLayer()
    } finally tracer.close()
    val detail = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "sizes" -> sizes.toString,
      "session_ready_s" -> sessionReady)
    bench.phase("done")
    detail ++= bench.detail
    if (trace) {
      detail("end_to_end_under_tracing") = bench.endToEnd.map { case (k, (v, _)) => k -> v }
      spansDir.foreach { dir =>
        dir.mkdirs()
        val f = new File(dir, s"spans-$workload-seed$seed.jsonl")
        Files.write(f.toPath, tracer.spansJson.getBytes(StandardCharsets.UTF_8))
        detail("spans_file") = f.getPath
      }
    }
    if (bench.failures.nonEmpty) detail("failures") = bench.failures.toSeq
    Outcome(bench.attempted, bench.failed,
      (if (trace) bench.layers else bench.endToEnd).toSeq, detail)
  }

  private var sessionReady = 0.0

  /** Seconds since the JVM started. */
  def processSeconds: Double =
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime) / 1000.0

  /** Every workload on tiny inputs, untraced then traced. */
  private def runSmoke(spark: SparkSession, work: File, seed: Long): Int = {
    val outcomes = for (w <- Workloads; trace <- Seq(false, true)) yield {
      val o = runOne(spark, work, w, seed, seconds = 0.5, trace, Sizes(w, smoke = true), None)
      println(Json.obj(Seq("workload" -> w, "trace" -> trace, "attempted" -> o.attempted,
        "failed" -> o.failed) ++ o.detail.get("failures").map("failures" -> _)))
      o
    }
    if (outcomes.forall(o => o.failed == 0 && o.attempted > 0)) 0 else 1
  }

  /** The program's own session profile: local[N], N shuffle partitions,
    * AQE on, UTC. Spill and temporary files stay under `work`. */
  private def session(work: File): SparkSession = {
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)
    work.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }
}
