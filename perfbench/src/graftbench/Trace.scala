package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One span: a named, timed call into a layer. `parent` is -1 at the top. */
final case class SpanRec(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, startMs: Long, var endNs: Long = 0L, var endMs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task facts of one span, filled by [[BenchListener]]. */
final class SpanTasks {
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)] // launch, finish (epoch ms)
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var diskSpillBytes = 0L

  def add(e: SparkListenerTaskEnd): Unit = {
    intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      diskSpillBytes += m.diskBytesSpilled
    }
  }

  /** max/median task time of the span's heaviest stage (by summed task time). */
  def skew: Double =
    if (stageTaskMs.isEmpty) 1.0
    else {
      val ts = stageTaskMs.values.maxBy(_.sum).map(_.toDouble).toSeq
      val med = Stats.median(ts)
      if (med <= 0) 1.0 else ts.max / med
    }

  /** Milliseconds of [lo, hi] during which at least one task of the span ran. */
  def busyMs(lo: Long, hi: Long): Long = {
    var covered = 0L
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered
  }
}

/** Spark listener that attributes every task to the span whose job group
  * started its job. */
final class BenchListener extends SparkListener {
  private val groupSpan = mutable.Map.empty[String, Int]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val tasks = mutable.Map.empty[Int, SpanTasks]

  def bind(group: String, span: Int): Unit = synchronized { groupSpan(group) = span }

  def tasksOf(span: Int): SpanTasks = synchronized {
    tasks.getOrElse(span, new SpanTasks)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.map(_.getProperty("spark.jobGroup.id")).orNull
    groupSpan.get(group).foreach(s => e.stageIds.foreach(stageSpan(_) = s))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach(s => tasks.getOrElseUpdate(s, new SpanTasks).add(e))
  }
}

/** Keeps every micro-batch progress report of every streaming query. */
final class StreamListener extends StreamingQueryListener {
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  def reports(runId: String): Seq[StreamingQueryProgress] = synchronized {
    progress.filter(_.runId.toString == runId).toSeq
  }
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { progress += e.progress }
}

object Listeners {
  private var registered: Option[(org.apache.spark.SparkContext, BenchListener, StreamListener)] = None

  /** Registers the listeners once per session (idempotent). */
  def setup(spark: SparkSession): (BenchListener, StreamListener) = synchronized {
    registered match {
      case Some((sc, b, s)) if sc eq spark.sparkContext => (b, s)
      case _ =>
        val b = new BenchListener
        val s = new StreamListener
        spark.sparkContext.addSparkListener(b)
        spark.streams.addListener(s)
        registered = Some((spark.sparkContext, b, s))
        (b, s)
    }
  }
}

/** Records spans in memory; with tracing on, each span runs its Spark jobs
  * under its own job group so [[BenchListener]] can attribute task metrics.
  * With tracing off, `span` only runs its body. */
final class Tracer(spark: SparkSession, val enabled: Boolean, val runId: String) {
  private val sc = spark.sparkContext
  private val recs = mutable.ArrayBuffer.empty[SpanRec]
  private var stack: List[SpanRec] = Nil
  val (listener, streams) =
    if (enabled) Listeners.setup(spark) else (null: BenchListener, null: StreamListener)

  private def group(id: Int) = s"graftbench-$runId-$id"

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val rec = SpanRec(recs.size, name, stack.headOption.fold(-1)(_.id), runId,
        System.nanoTime(), System.currentTimeMillis())
      recs += rec
      stack = rec :: stack
      listener.bind(group(rec.id), rec.id)
      sc.setJobGroup(group(rec.id), name)
      try body
      finally {
        rec.endNs = System.nanoTime()
        rec.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p.id), p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Attributes jobs run under another job group (a streaming query's) to
    * the innermost open span. */
  def adopt(foreignGroup: String): Unit =
    if (enabled) stack.headOption.foreach(s => listener.bind(foreignGroup, s.id))

  def spans: Seq[SpanRec] = recs.toSeq

  def drain(): Unit = if (enabled) org.apache.spark.BenchBridge.drainListeners(sc)

  /** Per-span-name medians: wall, driver-only, task CPU, shuffle bytes, skew. */
  def spanMetrics(name: String): Option[Map[String, Double]] = {
    val rs = recs.filter(r => r.name == name && r.endNs > 0)
    if (rs.isEmpty) None
    else {
      val t = rs.map(r => r -> listener.tasksOf(r.id))
      Some(Map(
        "s" -> Stats.median(rs.map(_.seconds).toSeq),
        "driver_s" -> Stats.median(t.map { case (r, k) =>
          math.max(0.0, r.seconds - k.busyMs(r.startMs, r.endMs) / 1e3) }.toSeq),
        "task_cpu_s" -> Stats.median(t.map(_._2.cpuNs / 1e9).toSeq),
        "shuffle_bytes" -> Stats.median(t.map(_._2.shuffleWriteBytes.toDouble).toSeq),
        "task_skew" -> Stats.median(t.map(_._2.skew).toSeq)))
    }
  }

  def tasksOf(name: String): Seq[SpanTasks] =
    recs.filter(_.name == name).map(r => listener.tasksOf(r.id)).toSeq

  /** Self time: span time minus the part its child spans cover. */
  def selfSeconds(r: SpanRec): Double =
    r.seconds - recs.filter(_.parent == r.id).map(_.seconds).sum

  def writeJsonl(path: String): Unit = {
    val sb = new StringBuilder
    recs.foreach { r =>
      sb.append(s"""{"id":${r.id},"name":"${r.name}","parent":${r.parent},""" +
        s""""run":"${r.runId}","start_ms":${r.startMs},"end_ms":${r.endMs},""" +
        s""""s":${r.seconds},"self_s":${selfSeconds(r)}}""").append('\n')
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

/** GC notifications: old-generation occupancy after every collection and
  * the pause time of every collection. */
object GcWatch {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  @volatile private var oldPeak = 0L
  @volatile private var pauseMs = 0L
  private var installed = false

  private def isOldPool(n: String) = n.contains("Old Gen") || n.contains("Tenured")

  def install(): Unit = synchronized {
    if (!installed) {
      installed = true
      val l = new NotificationListener {
        def handleNotification(n: Notification, hb: Any): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if isOldPool(pool) => u.getUsed }.sum
            GcWatch.synchronized {
              pauseMs += info.getGcInfo.getDuration
              oldPeak = math.max(oldPeak, used)
            }
          }
      }
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter => e.addNotificationListener(l, null, null)
        case _ =>
      }
    }
  }

  /** Starts the measured phase: forgets earlier peaks and pauses. */
  def reset(): Unit = { Thread.sleep(50); synchronized { oldPeak = 0L; pauseMs = 0L } }

  def oldPeakMb: Double = { Thread.sleep(50); synchronized(oldPeak / 1048576.0) }
  def pauseSeconds: Double = synchronized(pauseMs / 1e3)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least `beyond` samples above it, as
    * (percentile, value); None when there are not more than `beyond` samples. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val s = xs.sorted
    val n = s.length
    if (n <= beyond) None
    else {
      val idx = n - 1 - beyond
      Some((100.0 * (idx + 1) / n, s(idx)))
    }
  }
}
