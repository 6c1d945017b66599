package graft.plans

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.core.ExtractedModule
import graft.fixtures.TranscriptGen
import graft.operators.SharedSpark
import graft.pipeline.ExtractPipeline
import graft.tools.Golden

/** Differential spec of the `ModuleRows` node: the writer's `UnsafeRow`
  * bytes against the derived encoder's serializer, and `modules` against
  * the generic flatMap baseline as collected multisets. */
class ModuleRowsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private val schema = ModuleRows.Schema
  private val allFields = schema.fields.indices.toArray
  private lazy val serializer = ExpressionEncoder[ExtractedModule]().createSerializer()

  /** The encoder's row for `m`, projected to `fields` (a pruned row is the
    * encoder's row with only those columns, in that order). */
  private def expected(m: ExtractedModule, fields: Array[Int]): Array[Byte] = {
    val proj = UnsafeProjection.create(fields.toSeq.map(i =>
      BoundReference(i, schema(i).dataType, schema(i).nullable)))
    proj(serializer(m)).getBytes
  }

  private def assertSameBytes(w: ModuleRowWriter, fields: Array[Int],
      mods: Seq[ExtractedModule]): Unit =
    mods.foreach { m =>
      val got: UnsafeRow = w.write(m)
      assert(got.numFields == fields.length)
      assert(got.getBytes.sameElements(expected(m, fields)),
        s"fields ${fields.mkString(",")} of $m")
    }

  private def module(conv: String = "c0", mtype: String = "A",
      zones: Seq[String] = Seq("1", "22"), str: String = "A122"): ExtractedModule =
    ExtractedModule(conv, 3, 1, 2, 4, mtype, zones, str, 10, 20)

  /** Strings of 0, 7, 8 and 9 bytes (word padding), non-ASCII text (2- and
    * 3-byte chars, a surrogate pair, a lone surrogate) and nulls. */
  private val edgeModules: Seq[ExtractedModule] = {
    val texts = Seq("", "abcdefg", "abcdefgh", "abcdefghi", "é", "café", "日本語テキスト",
      "😀 pair", "lone \ud800", "x" * 200)
    texts.map(t => module(conv = t, mtype = t, str = t, zones = Seq(t, t))) ++ Seq(
      module(conv = null), module(mtype = null), module(str = null),
      module(zones = null), module(zones = Seq("a", null, "bcdefghij")),
      module(zones = Seq(null)), module(zones = Seq.empty),
      module(zones = Vector("é", "", "abcdefgh")), module(zones = List("z" * 33, "q")),
      ExtractedModule(null, -1, 0, 0, 0, null, null, null, Int.MinValue, Int.MaxValue))
  }

  test("schema and nullability are the encoder's") {
    val ds = ExtractPipeline.modules(ExtractPipeline.extractTurns(
      ExtractPipeline.transcripts(spark, 4L, 2),
      ExtractPipeline.makeContext(TranscriptGen.allEntityIds)))
    assert(ds.schema == schema)
  }

  test("writer rows are byte-identical to the encoder's for every golden module") {
    val mods = Golden.goldenCorpus().flatMap(_._2.modules)
    assert(mods.size > 100)
    assertSameBytes(new ModuleRowWriter(allFields), allFields, mods)
  }

  test("writer rows are byte-identical on nulls, empty zones, padding and non-ASCII text") {
    val w = new ModuleRowWriter(allFields)
    assertSameBytes(w, allFields, edgeModules)
    // conv_id cache: a reused instance, an equal copy, a null, then text again
    val conv = "conv-" + 7
    assertSameBytes(w, allFields, Seq(module(conv = conv), module(conv = conv),
      module(conv = new String(conv)), module(conv = null), module(conv = "é" + conv),
      module(conv = conv)))
  }

  test("pruned field subsets write exactly the encoder's projected columns") {
    val subsets = Seq(Array.empty[Int], Array(0), Array(1), Array(6), Array(7),
      Array(0, 6), Array(5, 7, 9), Array(1, 2, 3, 4, 8, 9), Array(0, 5, 6, 7))
    val golden = Golden.goldenCorpus().flatMap(_._2.modules).take(200)
    subsets.foreach { f =>
      assertSameBytes(new ModuleRowWriter(f), f, golden ++ edgeModules)
    }
  }

  private def multiset(ds: Dataset[ExtractedModule]): Map[ExtractedModule, Int] =
    ds.collect().toSeq.groupMapReduce(identity)(_ => 1)(_ + _)

  test("modules == flatMap baseline over extract and extractTurns at parallelism 1, 3, 8") {
    val ctx = ExtractPipeline.makeContext(TranscriptGen.allEntityIds)
    for (p <- Seq(1, 3, 8)) {
      val turns = ExtractPipeline.transcripts(spark, Golden.GoldenConvs.toLong, p)
      for ((name, ex) <- Seq("extract" -> ExtractPipeline.extract(turns, ctx),
          "extractTurns" -> ExtractPipeline.extractTurns(turns, ctx))) {
        val want = multiset(ModulesBaseline.modules(ex))
        assert(want.nonEmpty)
        assert(multiset(ExtractPipeline.modules(ex)) == want, s"$name at parallelism $p")
        assert(ExtractPipeline.modules(ex).count() == want.values.sum, s"$name count at $p")
      }
    }
  }

  test("modules == flatMap baseline over a persisted TurnExtraction source") {
    // the ResumableExtract shape: the cached relation replaces the
    // extractor, so the node reads a deserialized cache scan instead
    val ctx = ExtractPipeline.makeContext(TranscriptGen.allEntityIds)
    val turns = ExtractPipeline.transcripts(spark, Golden.GoldenConvs.toLong, 3)
    val ex = ExtractPipeline.extract(turns, ctx).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val mods = ExtractPipeline.modules(ex)
      assert(mods.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
      assert(multiset(mods) == multiset(ModulesBaseline.modules(ex)))
    } finally ex.unpersist()
  }

  test("a DataFrame over modules reads only the referenced columns, same rows") {
    import org.apache.spark.sql.functions.col
    val ctx = ExtractPipeline.makeContext(TranscriptGen.allEntityIds)
    val ex = ExtractPipeline.extract(
      ExtractPipeline.transcripts(spark, Golden.GoldenConvs.toLong, 3), ctx)
    def q(ds: Dataset[ExtractedModule]) =
      ds.filter(col("module_type") =!= "A").select(col("conv_id"), col("zones"))
    val df = q(ExtractPipeline.modules(ex))
    val node = df.queryExecution.optimizedPlan.collect { case m: ModuleRows => m }
    assert(node.map(_.output.map(_.name)) == Seq(Seq("conv_id", "module_type", "zones")))
    val rows = df.collect().map(_.toString).toSeq.sorted
    assert(rows.nonEmpty && rows == q(ModulesBaseline.modules(ex)).collect().map(_.toString).toSeq.sorted)
  }

  test("a self-join of modules resolves its duplicated attributes, same rows") {
    import org.apache.spark.sql.functions.col
    val ctx = ExtractPipeline.makeContext(TranscriptGen.allEntityIds)
    val ex = ExtractPipeline.extract(ExtractPipeline.transcripts(spark, 4L, 2), ctx)
    def pairs(ds: Dataset[ExtractedModule]) = {
      val m = ds.toDF()
      m.as("a").join(m.as("b"), col("a.conv_id") === col("b.conv_id") &&
          col("a.module_type") === col("b.module_type") && col("a.turn_idx") < col("b.turn_idx"))
        .groupBy(col("a.conv_id"), col("b.module_type")).count()
        .collect().map(_.toString).toSeq.sorted
    }
    val got = pairs(ExtractPipeline.modules(ex))
    assert(got.nonEmpty && got == pairs(ModulesBaseline.modules(ex)))
  }

  test("setup is idempotent; install and GraftExtensions register the node") {
    val session = spark.newSession()
    ModuleRows.setup(session)
    ModuleRows.setup(session)
    assert(session.experimental.extraStrategies.count(_ == ModuleRowsStrategy) == 1)
    assert(session.experimental.extraOptimizations.count(_ == PruneModuleRows) == 1)
    val fresh = spark.newSession()
    GraftExtensions.install(fresh)
    assert(fresh.experimental.extraStrategies.contains(ModuleRowsStrategy))
    assert(fresh.experimental.extraOptimizations.contains(PruneModuleRows))

    val injected = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
    val e = new org.apache.spark.sql.SparkSessionExtensions {
      override def injectOptimizerRule(b: RuleBuilder): Unit = injected += b(fresh)
      override def injectPlannerStrategy(b: StrategyBuilder): Unit = injected += b(fresh)
    }
    new GraftExtensions().apply(e)
    assert(injected.contains(PruneModuleRows) && injected.contains(ModuleRowsStrategy))
  }
}
