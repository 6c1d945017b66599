package graftbench

import graft.core._

/** Single-thread timings of the extraction core's kernels over a fixed
  * sample of turns, on the driver, with no Spark involved. Every kernel is
  * timed through its public entry point, and each runs over its own
  * precomputed inputs, so a kernel's ns/item excludes the kernels before
  * it. The row and module inputs come from `Extractor.extract`'s own
  * outputs, and a check confirms that the row tokenizer gives back the
  * module strings the extractor emitted. */
object CoreProbe {

  private val threads =
    java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]

  /** ns per item of `f` over `items`, repeated until at least `minSeconds`
    * (after one untimed warm-up pass). */
  private def nsPer[A](items: IndexedSeq[A], minSeconds: Double = 0.2)(f: A => Unit): Double = {
    if (items.isEmpty) return 0.0
    items.foreach(f)
    var reps = 0L
    val t0 = System.nanoTime()
    var el = 0L
    while (el < minSeconds * 1e9) {
      var i = 0
      while (i < items.length) { f(items(i)); i += 1 }
      reps += 1
      el = System.nanoTime() - t0
    }
    el.toDouble / (reps * items.length)
  }

  /** One content row of the canonical text: the line holding the spans of
    * the modules extracted from it, and those modules. */
  private final case class Row(text: String, lo: Int, hi: Int, modules: Seq[ExtractedModule])

  /** The rows of a turn's extracted modules, located by their spans
    * (offsets into the canonical text). */
  private def rowsOf(text: String, modules: Seq[ExtractedModule]): Seq[Row] =
    modules.filter(_.span_start >= 0).groupBy(m => (m.block_ordinal, m.row_ordinal)).values.map { ms =>
      val at = ms.map(_.span_start).min
      val lo = text.lastIndexOf('\n', at - 1) + 1
      val nl = text.indexOf('\n', at)
      Row(text, lo, if (nl < 0) text.length else nl, ms.sortBy(_.module_ordinal))
    }.toSeq

  def run(b: Bench, sample: IndexedSeq[Turn], ctx: ModuleParser.Context): Unit = {
    val scratch = new Tokenizer.Scratch
    var sink = 0L

    val extractNs = nsPer(sample) { t =>
      sink += Extractor.extract(t.conv_id, t.turn_idx, t.text, ctx, scratch).modules.size
    }
    val tid = Thread.currentThread().getId
    val a0 = threads.getThreadAllocatedBytes(tid)
    sample.foreach(t => sink += Extractor.extract(t.conv_id, t.turn_idx, t.text, ctx, scratch).modules.size)
    val bytesPerTurn = (threads.getThreadAllocatedBytes(tid) - a0).toDouble / sample.length

    val normalizeNs = nsPer(sample)(t => sink += Normalizer.canonicalize(t.text).length)
    val canon = sample.map(t => Normalizer.canonicalize(t.text))
    val blockNs = nsPer(canon)(c => sink += Blocker.blockTreeInto(c, scratch))

    val extracted = sample.map(t => Extractor.extract(t.conv_id, t.turn_idx, t.text, ctx, scratch).modules)
    val rows = canon.indices.flatMap(i => rowsOf(canon(i), extracted(i)))
    val modules = extracted.flatten
    val headers = canon.flatMap(c => Blocker.blockTree(c)
      .filter(_.block.kind == BlockKind.Header).map(Blocker.headerText))

    b.report.check("core.probe_rows_match_extract")(rows.nonEmpty && rows.forall { r =>
      val slices = Tokenizer.tokenizeRow(r.text, r.lo, r.hi, r.lo, scratch)
      r.modules.forall(m => slices.lift(m.module_ordinal).exists(_.str == m.module_str))
    }, "tokenizeRow over a row located from extracted spans does not give back its modules")

    val tokenizeNs = nsPer(rows)(r => sink += Tokenizer.tokenizeRow(r.text, r.lo, r.hi, r.lo, scratch).size)
    val parseNs = nsPer(modules) { m =>
      if (ModuleParser.parseModule(m.module_ordinal, m.module_str, ctx).isRight) sink += 1
    }
    val entityNs = nsPer(headers)(h => if (EntityParser.parse(h).isRight) sink += 1)

    b.layer("core.extract.ns_per_turn", extractNs, "ns")
    b.layer("core.extract.bytes_per_turn", bytesPerTurn, "bytes")
    b.layer("core.normalize.ns_per_turn", normalizeNs, "ns")
    b.layer("core.block_tree.ns_per_turn", blockNs, "ns")
    b.layer("core.tokenize.ns_per_row", tokenizeNs, "ns")
    b.layer("core.parse.ns_per_module", parseNs, "ns")
    b.layer("core.entity.ns_per_header", entityNs, "ns")
    println(s"core probe: ${sample.length} turns, ${rows.length} rows, ${modules.length} " +
      s"modules, ${headers.length} headers (checksum $sink)")
  }
}
