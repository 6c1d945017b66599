package graftbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.{AsOf, RangeJoin}
import graft.streaming.StreamingExtract

/** `timejoin`: AsOf.asofJoinBucketed (purchase → latest click), the two-hop
  * purchase → click → view funnel, RangeJoin.pointInInterval (events inside
  * 30-minute windows after each error), then the same points and windows
  * through StreamingExtract.intervalJoinStream, fed by one client in
  * micro-batches (addData → processAllAvailable). A few hot users own a
  * large share of the events, and the two hottest are active on one day
  * each, so one (user, day) bucket of the as-of joins holds about a third
  * of all events. */
final class TimejoinWorkload extends Workload {
  val Spec = Inputs.EventSpec(events = 120000L, users = 1000, zipfS = 1.4, days = 30,
    hotUsers = 2, errorPct = 1)
  val WindowMs = 1800000L
  val StreamBatches = 24
  val WarmBatches = 2
  val WarmPasses = 2

  def run(b: Bench): Unit = {
    import b._
    import spark.implicits._
    val (input, events, bytes, genS) = setupInputs("events", 3)(d =>
      Inputs.writeEvents(spark, seed, Spec, 2 * cores, d))
    def read = spark.read.parquet(input)
    val micros = WindowMs * 1000L

    def leg(e: DataFrame, kind: String, ts: String, id: String) =
      e.filter(col("event_type") === kind).groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as(id)).select(col("user_id"), col("ts").as(ts), col(id))

    def asof(e: DataFrame): Digest = {
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      Digest.ofRows(AsOf.asofJoinBucketed(purchases, leg(e, "click", "click_ts", "click_id"),
        key = "user_id", leftTs = "purchase_ts", rightTs = "click_ts")
        .select(col("purchase_id"), col("asof.click_id")))
    }

    def funnel(e: DataFrame): Digest = {
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      val pc = AsOf.asofJoinBucketed(purchases, leg(e, "click", "c_ts", "click_id"),
        key = "user_id", leftTs = "p_ts", rightTs = "c_ts")
        .select(col("user_id"), col("purchase_id"), col("asof.click_id").as("click_id"),
          col("asof.c_ts").as("c_ts"))
      val pcv = AsOf.asofJoinBucketed(pc, leg(e, "view", "v_ts", "view_id"),
        key = "user_id", leftTs = "c_ts", rightTs = "v_ts")
        .select(col("user_id"), col("click_id"), col("asof.view_id").as("view_id"))
      Digest.ofRows(pcv.groupBy(col("user_id")).agg(count(lit(1)).as("purchases"),
        sum(when(col("click_id").isNotNull, 1L).otherwise(0L)).as("with_click"),
        sum(when(col("view_id").isNotNull, 1L).otherwise(0L)).as("full_funnel")))
    }

    def points(e: DataFrame) = e.filter(col("event_type") =!= "error")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("pts"))
    def windows(e: DataFrame) = e.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("error_id"), unix_micros(col("ts")).as("w_start"),
        (unix_micros(col("ts")) + micros).as("w_end"))

    def rangeJoin(e: DataFrame): Digest =
      Digest.ofRows(RangeJoin.pointInInterval(points(e), "pts", windows(e), "w_start", "w_end",
        "user_id", micros).select(col("event_id"), col("error_id")))

    // the stream replays the same events, sorted by time, in StreamBatches slices
    val rows = read.select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .orderBy(col("ts"), col("event_id")).as[(Long, Long, String, Timestamp)].collect()
    val slices = rows.grouped(math.max(1, (rows.length + StreamBatches - 1) / StreamBatches)).map { s =>
      (s.filter(_._3 != "error").map(r => (r._1, r._4, r._2)).toSeq,
        s.filter(_._3 == "error").map(r => (r._1, r._4, new Timestamp(r._4.getTime + WindowMs), r._2)).toSeq)
    }.toIndexedSeq
    val batchMs = mutable.ArrayBuffer.empty[Double]
    val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

    /** Feeds `feed` through one new streaming query; returns the digest of
      * the joined (point, window) pairs. */
    def stream(timed: Boolean, replay: Int,
        feed: Seq[(Seq[(Long, Timestamp, Long)], Seq[(Long, Timestamp, Timestamp, Long)])]): Digest = {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val conf = spark.conf
      conf.set("spark.sql.shuffle.partitions", math.max(1, cores / 2).toString)
      conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      val ckpt = dir(s"stream-ckpt-$replay")
      val pStream = MemoryStream[(Long, Timestamp, Long)]
      val iStream = MemoryStream[(Long, Timestamp, Timestamp, Long)]
      val joined = StreamingExtract.intervalJoinStream(
        pStream.toDF().toDF("k", "pts", "pid"), "pts",
        iStream.toDF().toDF("k", "ws", "we", "iid"), "ws", "we", "k",
        delay = "1 hour", maxIntervalLen = "30 minutes")
      var acc = Digest.Empty
      val q = joined.select(col("pid"), col("iid")).writeStream
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, _: Long) =>
          acc = acc + Digest.ofRows(df)
        }.start()
      tracer.adopt(q.runId.toString)
      try {
        feed.foreach { case (p, i) =>
          val t0 = System.nanoTime()
          pStream.addData(p)
          iStream.addData(i)
          q.processAllAvailable()
          if (timed) batchMs += (System.nanoTime() - t0) / 1e6
        }
      } finally {
        q.stop()
        conf.set("spark.sql.shuffle.partitions", (2 * cores).toString)
        if (tracer.enabled) { tracer.drain(); progress ++= tracer.streams.reports(q.runId.toString) }
      }
      acc
    }

    val batchS = mutable.ArrayBuffer.empty[Double]
    var lastRange: Option[Digest] = None

    /** One batch pass: as-of, funnel and range join, each consumed by a digest. */
    def batchPass(timed: Boolean): Unit = {
      val t0 = System.nanoTime()
      val out = for {
        a <- step("timejoin.asof")(asof(read))
        f <- step("timejoin.funnel")(funnel(read))
        r <- step("timejoin.range_join")(rangeJoin(read))
      } yield (a, f, r)
      val el = (System.nanoTime() - t0) / 1e9
      out.foreach { case (a, f, r) =>
        if (timed) { batchS += el; log(f"batch pass $el%.3f s") }
        lastRange = Some(r)
        tracer.span("timejoin.check") {
          report.check("timejoin.asof_nonempty")(a.rows > 0)
          report.check("timejoin.funnel_nonempty")(f.rows > 0)
          report.check("timejoin.range_nonempty")(r.rows > 0)
        }
      }
    }

    // warm-up: the last WarmBatches micro-batches, then WarmPasses batch
    // passes, so the measured batch passes follow a batch pass
    val warmS = warmup(1) {
      report.stage("timejoin.stream_warmup")(stream(timed = false, replay = 0, slices.takeRight(WarmBatches)))
      (1 to WarmPasses).foreach(_ => batchPass(timed = false))
    }
    e2e("setup_s", sessionSeconds + genS + warmS, "s")
    log(f"session ${sessionSeconds}%.2f s, warm-up ${warmS}%.2f s")
    progress.clear()

    val passes = loop(seconds, 3) { i =>
      if (traced && i % 2 == 0) tracer.span("timejoin.cycle")(batchPass(timed = false))
      else batchPass(timed = true)
    }
    val streamed = step("timejoin.stream")(stream(timed = true, replay = 1, slices))
    log(s"measured $passes batch passes and ${batchMs.size} micro-batches")
    report.check("timejoin.stream_equals_batch")(
      streamed.nonEmpty && streamed == lastRange, s"stream $streamed vs batch $lastRange")
    val gcS = GcWatch.pauseSeconds / (passes + 1)
    val bs = Stats.median(batchS.toSeq)
    val p50 = Stats.median(batchMs.toSeq)
    val tail = Stats.tail(batchMs.toSeq)
    e2e("rows_per_s", events / bs, "rows/s")
    println(f"join_events_per_s ${events / bs}%.1f events/s (median of ${batchS.size} passes of " +
      f"$events events), stream_batch_p50_ms $p50%.2f ms, stream_batch_tail_ms " +
      tail.fold(s"n/a (${batchMs.size} batches)") { case (p, v) =>
        f"$v%.2f ms at p$p%.1f of ${batchMs.size} batches" })

    if (traced) {
      tracer.drain()
      val steps = Main.Spans.toMap.apply("timejoin")
      workloadLayer("timejoin", steps, gcS, events, genS, bytes)
      layer("timejoin.stream_batch_p50_ms", p50, "ms")
      layer("timejoin.stream_batch_tail_ms", tail.fold(0.0)(_._2), "ms")
      val tracedBatch = Seq("asof", "funnel", "range_join")
        .map(s => tracer.spanMetrics(s"timejoin.$s").map(_("s")).getOrElse(0.0)).sum
      layer("trace.overhead_frac", (tracedBatch - bs) / bs, "ratio")
      val e = read
      val nWindows = windows(e).count()
      val replicated = windows(e).select(explode(sequence(
        floor(col("w_start") / micros).cast("long"), floor((col("w_end") - 1) / micros).cast("long"))))
        .count()
      layer("timejoin.range_dup_ratio", replicated.toDouble / math.max(1L, nWindows), "ratio")
      def dur(k: String) = Stats.median(progress.toSeq.map(p =>
        Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
      layer("stream.add_batch_ms", dur("addBatch"), "ms")
      layer("stream.planning_ms", dur("queryPlanning"), "ms")
      layer("stream.wal_ms", dur("walCommit"), "ms")
      layer("stream.state_commit_ms", Stats.median(progress.toSeq.map(
        _.stateOperators.map(_.commitTimeMs.toDouble).sum)), "ms")
      layer("stream.state_rows", Stats.median(progress.toSeq.map(
        _.stateOperators.map(_.numRowsTotal.toDouble).sum)), "rows")
      val stateBytes = progress.map(_.stateOperators.map(_.memoryUsedBytes).sum).maxOption.getOrElse(0L)
      layer("stream.state_bytes", Stats.median(progress.toSeq.map(
        _.stateOperators.map(_.memoryUsedBytes.toDouble).sum)), "bytes")
      val storageMb = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1048576.0
      println(f"timejoin stream state: peak ${stateBytes / 1048576.0}%.1f MB over ${progress.size} " +
        f"micro-batches (storage memory $storageMb%.0f MB)")
      coverageCheck("timejoin")
    }
  }
}
