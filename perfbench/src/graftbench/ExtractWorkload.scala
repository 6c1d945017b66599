package graftbench

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.core._
import graft.fixtures.TranscriptGen
import graft.pipeline.ExtractPipeline

/** The driver-side, single-thread reference pass over a transcript corpus:
  * every turn through `Extractor.extract`, with no Spark involved. */
final case class ReferencePass(modules: Digest, turns: Long, errors: Long,
    blocksKept: Long, blocksTotal: Long, sample: IndexedSeq[Turn])

object ReferencePass {
  /** Hash of a module's fields in schema order, as [[Digest.ofRows]]
    * hashes its row. */
  def moduleHash(m: ExtractedModule): Long = Digest.fold(m.productIterator.toSeq)

  /** Runs the reference pass; keeps every `stride`-th turn as the core
    * probe sample. */
  def run(seed: Long, nConvs: Long, ctx: ModuleParser.Context, stride: Int): ReferencePass = {
    val scratch = new Tokenizer.Scratch
    var d = Digest.Empty
    var turns, errors, kept, total = 0L
    val sample = mutable.ArrayBuffer.empty[Turn]
    Inputs.turnsIterator(seed, nConvs).foreach { t =>
      if (turns % stride == 0) sample += t
      turns += 1
      val ex = Extractor.extract(t.conv_id, t.turn_idx, t.text, ctx, scratch)
      ex.modules.foreach(m => d = d + Digest(1L, moduleHash(m)))
      errors += ex.errors.size
      kept += ex.blocksKept
      total += ex.blocksTotal
    }
    ReferencePass(d, turns, errors, kept, total, sample.toIndexedSeq)
  }

  /** Exact per-turn counts and (traced runs) the core kernel probe. */
  def coreLayer(b: Bench, ref: ReferencePass, ctx: ModuleParser.Context): Unit = {
    b.layer("core.modules_per_turn", ref.modules.rows.toDouble / ref.turns, "ratio")
    b.layer("core.errors_per_turn", ref.errors.toDouble / ref.turns, "ratio")
    b.layer("core.blocks_kept_ratio", ref.blocksKept.toDouble / ref.blocksTotal, "ratio")
    CoreProbe.run(b, ref.sample, ctx)
  }
}

/** `extract`: readTranscripts → extract → modules → noop sink over a
  * parquet corpus. No shuffle and no write, so the extraction core does
  * almost all the work. */
final class ExtractWorkload extends Workload {
  /** 200k conversations ≈ 1.4M turns, conv 0 a 20k-turn mega-conversation. */
  val NConvs = 200000L
  val WarmPasses = 4

  def run(b: Bench): Unit = {
    import b._
    val ctx = ExtractPipeline.makeContext(TranscriptGen.allEntityIds)
    val (input, turns, bytes, genS) = setupInputs("transcripts", 3)(d =>
      Inputs.writeTranscripts(spark, seed, NConvs, 2 * cores, d))
    def read = ExtractPipeline.readTranscripts(spark, input)
    def modules = ExtractPipeline.modules(ExtractPipeline.extract(read, ctx))
    def pass(): Unit = noop(modules.toDF())

    val warmS = warmup(WarmPasses)(report.stage("extract.warmup")(pass()))
    e2e("setup_s", sessionSeconds + genS + warmS, "s")
    log(f"session ${sessionSeconds}%.2f s, warm-up ${warmS}%.2f s")

    val plain = mutable.ArrayBuffer.empty[Double]
    val cycles = loop(seconds, 3) { i =>
      if (traced && i % 2 == 0) tracer.span("extract.cycle") {
        step("extract.scan")(noop(read.select(col("conv_id"), col("turn_idx"), col("text"))))
        step("extract.extract_light") {
          import spark.implicits._
          noop(ExtractPipeline.extract(read, ctx).map(_.modules.size).toDF())
        }
        step("extract.module_rows")(pass())
      }
      else report.stage("extract.pass") {
        plain += time(pass())._2
        log(f"pass ${plain.last}%.3f s")
      }
    }
    val gcS = GcWatch.pauseSeconds / cycles

    val passS = Stats.median(plain.toSeq)
    e2e("rows_per_s", turns / passS, "rows/s")
    println(f"extract_turns_per_s ${turns / passS}%.1f turns/s (median of ${plain.size} passes " +
      f"of $turns turns, pass ${passS}%.4f s)")

    log(s"measured $cycles cycles")
    val sparkDigest = report.stage("extract.digest")(Digest.ofRows(modules.toDF()))
    log("spark digest")
    val ref = ReferencePass.run(seed, NConvs, ctx, stride = 20)
    log("reference pass")
    report.check("extract.turns")(ref.turns == turns, s"${ref.turns} vs $turns")
    report.check("extract.modules_nonempty")(ref.modules.rows > 0)
    report.check("extract.digest_matches_reference")(sparkDigest.contains(ref.modules),
      s"spark $sparkDigest vs reference ${ref.modules}")

    if (traced) {
      tracer.drain()
      workloadLayer("extract", Main.Spans.toMap.apply("extract"), gcS, turns, genS, bytes)
      val tracedS = tracer.spanMetrics("extract.module_rows").map(_("s")).getOrElse(passS)
      layer("trace.overhead_frac", (tracedS - passS) / passS, "ratio")
      ReferencePass.coreLayer(b, ref, ctx)
      coverageCheck("extract")
    }
  }
}
