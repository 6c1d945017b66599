package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** 64-bit order-insensitive digest of a row multiset: row count plus the
  * wrapping sum of per-row hashes (a sum, unlike XOR, does not cancel
  * duplicated rows). */
final case class Digest(rows: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
  override def toString: String = f"rows=$rows sum=$sum%016x"
}

object Digest {
  val Empty: Digest = Digest(0L, 0L)

  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def str(s: String): Long =
    if (s == null) 0x51ed270b27f0c6c1L
    else {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
      mix(h ^ s.length)
    }

  /** Field-order-sensitive hash of one value (nested rows and arrays fold). */
  def value(v: Any): Long = v match {
    case null => 0x2545f4914f6cdd1dL
    case s: String => str(s)
    case i: Int => mix(i.toLong)
    case l: Long => mix(l)
    case d: Double => mix(java.lang.Double.doubleToLongBits(d))
    case b: Boolean => if (b) 0x3L else 0x5L
    case t: java.sql.Timestamp => mix(t.getTime * 1000L + (t.getNanos / 1000) % 1000)
    case r: Row => fold(r.toSeq)
    case xs: scala.collection.Seq[_] => fold(xs)
    case other => str(other.toString)
  }

  def fold(xs: Iterable[Any]): Long = {
    var h = 0x7f4a7c159e3779b9L
    xs.foreach(x => h = mix(h * 31 + value(x)))
    h
  }

  /** Digest of a DataFrame's rows (one Spark job). */
  def ofRows(df: DataFrame): Digest =
    df.rdd.mapPartitions { it =>
      var c = 0L
      var s = 0L
      it.foreach { r => c += 1; s += fold(r.toSeq) }
      Iterator.single((c, s))
    }.collect().foldLeft(Empty) { case (d, (c, s)) => d + Digest(c, s) }
}

/** Outcome bookkeeping: every stage execution and output check is attempted
  * once; a throwing stage or a failing check is printed under its own name
  * and counted as failed. */
final class Report {
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]

  private def firstLine(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse("").linesIterator.find(_.trim.nonEmpty).getOrElse("")
    if (m.length > 300) m.take(300) + "..." else m
  }

  def stage[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        println(s"FAILED stage $name: ${e.getClass.getName}: ${firstLine(e)}")
        None
    }
  }

  def check(name: String)(ok: => Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    val why = try { if (ok) None else Some(detail) } catch {
      case NonFatal(e) => Some(s"${e.getClass.getName}: ${firstLine(e)}")
    }
    why.foreach { w => failed += 1; println(s"FAILED check $name $w") }
    why.isEmpty
  }
}

/** Shared state of one benchmark run. */
final class Bench(val spark: SparkSession, val cores: Int, val seed: Long,
    val seconds: Double, val traced: Boolean, val runDir: Path,
    val sessionSeconds: Double) {
  val report = new Report
  val tracer = new Tracer(spark, traced, s"r${ProcessHandle.current().pid()}")

  def dir(name: String): String = runDir.resolve(name).toString

  private val t0 = System.nanoTime()
  /** Progress line with seconds since the run's session came up. */
  def log(msg: String): Unit = println(f"[${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }
  }

  /** Bytes on disk under a directory. */
  def bytesUnder(p: String): Long = {
    val s = Files.walk(Paths.get(p))
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Input set-up, repeated `repeats` times into fresh directories so its
    * time is a median; the last copy is kept. Prints the fingerprint of the
    * kept copy (row count and 64-bit row-hash sum). Returns
    * (dir, rows, bytes, median set-up seconds). */
  def setupInputs(kind: String, repeats: Int)(make: String => Long): (String, Long, Long, Double) = {
    var last = ""
    var rows = 0L
    val times = (1 to repeats).map { i =>
      if (last.nonEmpty) deleteTree(last)
      last = dir(s"input-$kind-$i")
      val (n, s) = time(make(last))
      rows = n
      s
    }
    val bytes = bytesUnder(last)
    val fp = Digest.ofRows(spark.read.parquet(last))
    log(s"input $kind: $fp bytes=$bytes (seed $seed); set-up ${times.map(t => f"$t%.2f").mkString(" ")} s")
    report.check(s"$kind.fingerprint_rows")(fp.rows == rows && rows > 0, s"$fp vs $rows generated")
    (last, rows, bytes, Stats.median(times))
  }

  /** Set-up's warm-up: `n` untimed cycles; returns their seconds. */
  def warmup(n: Int)(cycle: => Unit): Double = {
    val (_, s) = time((1 to n).foreach(_ => cycle))
    GcWatch.reset()
    s
  }

  /** Runs `cycle` until `budget` seconds have passed (at least `min` times). */
  def loop(budget: Double, min: Int)(cycle: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < min || (System.nanoTime() - t0) / 1e9 < budget) {
      cycle(i)
      i += 1
    }
    i
  }

  /** A timed step: a stage of the report inside a span of the same name. */
  def step[T](name: String)(body: => T): Option[T] = report.stage(name)(tracer.span(name)(body))

  def e2e(name: String, value: Double, unit: String): Unit = report.e2e(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit = report.layer(name) = (value, unit)

  /** Span metrics of `<workload>.<span>` into the per-layer table. */
  def spanLayer(workload: String, spans: Seq[String]): Unit =
    spans.foreach { s =>
      val m = tracer.spanMetrics(s"$workload.$s").getOrElse(Map.empty)
      Seq("s" -> "s", "driver_s" -> "s", "task_cpu_s" -> "s",
        "shuffle_bytes" -> "bytes", "task_skew" -> "ratio").foreach { case (k, u) =>
        layer(s"$workload.$s.$k", m.getOrElse(k, 0.0), u)
      }
    }

  /** Traced runs: `<workload>.<span>.*` of every span, plus GC pause per
    * cycle, disk spill per traced cycle, set-up rate and input bytes. */
  def workloadLayer(workload: String, spans: Seq[String], gcS: Double, rows: Long,
      genS: Double, bytes: Long): Unit = {
    spanLayer(workload, spans)
    val spill = spans.flatMap(s => tracer.tasksOf(s"$workload.$s")).map(_.diskSpillBytes).sum
    val tracedCycles = math.max(1, tracer.spans.count(_.name == s"$workload.cycle"))
    layer(s"$workload.gc_s", gcS, "s")
    layer(s"$workload.spill_bytes", spill.toDouble / tracedCycles, "bytes")
    layer(s"$workload.gen_rows_per_s", rows / genS, "rows/s")
    layer(s"$workload.input_bytes", bytes.toDouble, "bytes")
  }

  /** Traced runs: the named child spans (timed steps and output checks)
    * must cover at least 90% of each `<workload>.cycle` span. */
  def coverageCheck(workload: String): Unit = {
    val cycles = tracer.spans.filter(_.name == s"$workload.cycle")
    val covered = cycles.map(c => 1.0 - tracer.selfSeconds(c) / c.seconds)
    val worst = if (covered.isEmpty) 0.0 else covered.min
    println(f"span coverage $workload: worst ${worst * 100}%.1f%% over ${cycles.size} traced cycles")
    report.check(s"$workload.span_coverage")(worst >= 0.9, f"worst $worst%.3f")
  }
}
