package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** A benchmark workload: sets up its seeded inputs, measures closed-loop
  * cycles for the run's time budget, checks its outputs and fills the
  * metric tables of [[Bench.report]]. */
trait Workload {
  def run(b: Bench): Unit
}

/** Entry point; `perfbench/run.py` builds the classpath and passes
  * --workload, --seed, --seconds, --trace, --run-dir, --result, --spans. */
object Main {

  /** Metric names in BENCHMARK.json order. End-to-end metrics are reported
    * on every workload; a per-layer metric of a layer the workload does not
    * run reads 0. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "rows_per_s" -> "rows/s")

  val Spans: Seq[(String, Seq[String])] = Seq(
    "extract" -> Seq("scan", "extract_light", "module_rows"),
    "timejoin" -> Seq("asof", "funnel", "range_join", "stream"))

  val PerLayer: Seq[(String, String)] =
    Spans.flatMap { case (w, ss) =>
      ss.flatMap(s => Seq(s"$w.$s.s" -> "s", s"$w.$s.driver_s" -> "s",
        s"$w.$s.task_cpu_s" -> "s", s"$w.$s.shuffle_bytes" -> "bytes",
        s"$w.$s.task_skew" -> "ratio"))
    } ++ Spans.map(_._1).flatMap(w => Seq(s"$w.gc_s" -> "s", s"$w.spill_bytes" -> "bytes",
      s"$w.gen_rows_per_s" -> "rows/s", s"$w.input_bytes" -> "bytes")) ++ Seq(
      "core.extract.ns_per_turn" -> "ns", "core.extract.bytes_per_turn" -> "bytes",
      "core.normalize.ns_per_turn" -> "ns", "core.block_tree.ns_per_turn" -> "ns",
      "core.tokenize.ns_per_row" -> "ns", "core.parse.ns_per_module" -> "ns",
      "core.entity.ns_per_header" -> "ns", "core.modules_per_turn" -> "ratio",
      "core.errors_per_turn" -> "ratio", "core.blocks_kept_ratio" -> "ratio",
      "timejoin.range_dup_ratio" -> "ratio",
      "timejoin.stream_batch_p50_ms" -> "ms", "timejoin.stream_batch_tail_ms" -> "ms",
      "stream.add_batch_ms" -> "ms", "stream.planning_ms" -> "ms", "stream.wal_ms" -> "ms",
      "stream.state_commit_ms" -> "ms", "stream.state_rows" -> "rows",
      "stream.state_bytes" -> "bytes",
      "heap_live_peak_mb" -> "MB", "failed_frac" -> "ratio", "trace.overhead_frac" -> "ratio")

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  def session(runDir: java.nio.file.Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.default.parallelism", (2 * cores).toString)
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.checkpoint.dir", runDir.resolve("checkpoint").toString)
      .config("spark.sql.streaming.checkpointLocation", runDir.resolve("stream-ckpt").toString)
      .config("spark.hadoop.hadoop.tmp.dir", runDir.resolve("hadoop").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val traced = arg(args, "--trace") == "1"
    val runDir = Paths.get(arg(args, "--run-dir"))
    val resultPath = Paths.get(arg(args, "--result"))
    val spansPath = arg(args, "--spans")
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))

    GcWatch.install()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(runDir, cores)
    val sessionSeconds = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val b = new Bench(spark, cores, seed, seconds, traced, runDir, sessionSeconds)
    println(s"graftbench workload=$workload seed=$seed seconds=$seconds trace=${if (traced) 1 else 0} " +
      s"master=local[$cores] shuffle_partitions=${2 * cores}")
    try {
      val w: Workload = workload match {
        case "extract" => new ExtractWorkload
        case "timejoin" => new TimejoinWorkload
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      b.report.stage(s"$workload.run")(w.run(b))
      b.layer("heap_live_peak_mb", GcWatch.oldPeakMb, "MB")
      val r = b.report
      b.layer("failed_frac", r.failed.toDouble / math.max(1L, r.attempted), "ratio")
      if (traced) { b.tracer.drain(); b.tracer.writeJsonl(spansPath) }

      val names = if (traced) PerLayer else EndToEnd
      val table = if (traced) r.layer else r.e2e
      val missing = names.map(_._1).filterNot(table.contains)
      if (!traced && missing.nonEmpty) {
        r.attempted += 1; r.failed += 1
        println(s"FAILED check metrics: not measured: ${missing.mkString(", ")}")
      }
      println(s"--- $workload: attempted=${r.attempted} failed=${r.failed} " +
        s"failed_frac=${r.failed.toDouble / math.max(1L, r.attempted)}")
      val shown = if (traced) r.layer.toSeq else r.e2e.toSeq
      shown.foreach { case (k, (v, u)) => println(f"  $k%-40s $v%.6g $u") }
      val metrics = names.map { case (k, u) =>
        val v = table.get(k).map(_._1).getOrElse(0.0)
        s""""$k": {"value": ${json(v)}, "unit": "$u"}"""
      }.mkString(", ")
      val out = s"""{"correct": ${r.failed == 0}, "attempted": ${math.max(1L, r.attempted)}, """ +
        s""""failed": ${r.failed}, "metrics": {$metrics}}"""
      Files.writeString(resultPath, out)
    } finally {
      spark.stop()
    }
    sys.exit(0)
  }
}
