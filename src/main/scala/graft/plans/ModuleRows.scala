package graft.plans

import java.nio.charset.StandardCharsets

import scala.annotation.switch

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Encoders, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter, UnsafeWriter}
import org.apache.spark.sql.catalyst.plans.logical.{CatalystSerde, Filter, LogicalPlan, ObjectConsumer, Project}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{ObjectConsumerExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{ExtractedModule, TurnExtraction}

/** One `ExtractedModule` row per module of each input `TurnExtraction`:
  * the plan-node form of `extractions.flatMap(_.modules)`.
  *
  * The generic path serializes every module through the derived encoder:
  * about 8 `UTF8String.fromString` calls, a `GenericArrayData` for `zones`
  * and a second copy into the row per module. `ModuleRowsExec` writes each
  * module straight into one reused `UnsafeRow` instead, byte-identical to
  * `ExpressionEncoder[ExtractedModule]` (same schema and nullability), so
  * every DataFrame or typed consumer above it is unchanged.
  *
  * The child is a `DeserializeToObject` of the extraction Dataset; when that
  * Dataset is an extractor `mapPartitions`, `EliminateSerialization` removes
  * the TurnExtraction serialize/deserialize pair and the exec reads the
  * extractor's objects directly. `output` may be any subset of the module
  * schema: `PruneModuleRows` narrows it to the columns the parent uses, and
  * the exec writes only those (`count()` writes none).
  */
case class ModuleRows(output: Seq[Attribute], child: LogicalPlan)
    extends ObjectConsumer with MultiInstanceRelation {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  /** Fresh output ids, so the analyzer can tell the two sides of a
    * self-join apart (as it renews a serializer's outputs). */
  override def newInstance(): ModuleRows = copy(output = output.map(_.newInstance()))
  override protected def withNewChildInternal(newChild: LogicalPlan): ModuleRows =
    copy(child = newChild)
}

object ModuleRows {
  /** Field order of the encoder's row: the writer's field codes index it. */
  val Schema = ExpressionEncoder[ExtractedModule]().schema

  /** The module rows of `extractions` as a typed Dataset. Installs the
    * planner strategy and the pruning rule on its session first. */
  def of(extractions: org.apache.spark.sql.Dataset[TurnExtraction])
      : org.apache.spark.sql.Dataset[ExtractedModule] = {
    val spark = extractions.sparkSession
    setup(spark)
    val objects = CatalystSerde.deserialize(extractions.queryExecution.analyzed)(
      Encoders.product[TurnExtraction])
    GraftBridge.dataset(spark,
      ModuleRows(DataTypeUtils.toAttributes(Schema), objects))(Encoders.product[ExtractedModule])
  }

  /** Idempotent per-session install of the strategy and the pruning rule
    * (the extension-free path; `GraftExtensions` injects both too). */
  def setup(spark: SparkSession): Unit = {
    if (!spark.experimental.extraStrategies.contains(ModuleRowsStrategy))
      spark.experimental.extraStrategies =
        ModuleRowsStrategy +: spark.experimental.extraStrategies
    if (!spark.experimental.extraOptimizations.contains(PruneModuleRows))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ PruneModuleRows
  }
}

/** Column pruning for `ModuleRows`: keep only the attributes its parent
  * projection references. `ColumnPruning` puts that projection above any
  * parent that needs fewer columns (e.g. `Project(Nil, _)` under count),
  * except under a Filter, where it leaves `Project(_, Filter(_, node))` as
  * it does for scans. */
object PruneModuleRows extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(list, m: ModuleRows) if !m.outputSet.subsetOf(p.references) =>
      val pruned = prune(m, p.references)
      if (list == pruned.output) pruned else p.copy(child = pruned)
    case p @ Project(_, f @ Filter(_, m: ModuleRows))
        if !m.outputSet.subsetOf(p.references ++ f.references) =>
      p.copy(child = f.copy(child = prune(m, p.references ++ f.references)))
  }

  private def prune(m: ModuleRows, used: AttributeSet): ModuleRows =
    m.copy(output = m.output.filter(used.contains))
}

object ModuleRowsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ModuleRows(output, child) => ModuleRowsExec(output, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class ModuleRowsExec(output: Seq[Attribute], child: SparkPlan) extends ObjectConsumerExec {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def outputPartitioning: Partitioning =
    UnknownPartitioning(child.outputPartitioning.numPartitions)

  override protected def doExecute(): RDD[InternalRow] = {
    val fields = output.map(a => ModuleRows.Schema.fieldIndex(a.name)).toArray
    val objType = inputObjectType
    val numOutputRows = longMetric("numOutputRows")
    child.execute().mapPartitions { turns =>
      val writer = new ModuleRowWriter(fields)
      new Iterator[InternalRow] {
        private[this] var mods: Vector[ExtractedModule] = Vector.empty
        private[this] var i = 0
        def hasNext: Boolean = {
          while (i >= mods.length && turns.hasNext) {
            mods = turns.next().get(0, objType).asInstanceOf[TurnExtraction].modules
            i = 0
          }
          i < mods.length
        }
        def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val m = mods(i)
          i += 1
          numOutputRows += 1
          writer.write(m)
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): ModuleRowsExec =
    copy(child = newChild)
}

/** Writes the `fields` (indices into `ModuleRows.Schema`, in output order)
  * of a module into one reused `UnsafeRow`, laid out as the encoder's
  * generated projection lays them out. Strings go straight into the row
  * buffer: ASCII text char by char, other text through
  * `UTF8String.fromString`; conv_id is encoded once per distinct string
  * instance (once per turn); `zones` goes through a nested array writer
  * with 8-byte slots. Writing in place skips the per-string
  * `UnsafeWriter.write` copy, about 40% of the writer's time per module. */
private[plans] final class ModuleRowWriter(fields: Array[Int]) {
  private[this] val row = new UnsafeRowWriter(fields.length, 128)
  private[this] val zoneArray = new UnsafeArrayWriter(row, 8)
  private[this] var convRef: String = _
  private[this] var convUtf8: Array[Byte] = _
  /** The row writer's offsets count from the start of its own buffer. */
  private[this] val RowBase = Platform.BYTE_ARRAY_OFFSET

  def write(m: ExtractedModule): UnsafeRow = {
    row.reset()
    row.zeroOutNullBytes()
    var i = 0
    while (i < fields.length) {
      (fields(i): @switch) match {
        case 0 => writeConv(i, m.conv_id)
        case 1 => row.write(i, m.turn_idx)
        case 2 => row.write(i, m.block_ordinal)
        case 3 => row.write(i, m.row_ordinal)
        case 4 => row.write(i, m.module_ordinal)
        case 5 => if (m.module_type == null) row.setNullAt(i) else writeString(row, RowBase, i, m.module_type)
        case 6 => writeZones(i, m.zones)
        case 7 => if (m.module_str == null) row.setNullAt(i) else writeString(row, RowBase, i, m.module_str)
        case 8 => row.write(i, m.span_start)
        case 9 => row.write(i, m.span_end)
      }
      i += 1
    }
    row.getRow
  }

  private def writeConv(i: Int, conv: String): Unit =
    if (conv == null) row.setNullAt(i)
    else {
      if (conv ne convRef) { convRef = conv; convUtf8 = conv.getBytes(StandardCharsets.UTF_8) }
      val at = reserve(row, convUtf8.length)
      System.arraycopy(convUtf8, 0, row.getBuffer, at - Platform.BYTE_ARRAY_OFFSET, convUtf8.length)
      commit(row, RowBase, i, at, convUtf8.length)
    }

  private def writeZones(i: Int, zones: Seq[String]): Unit =
    if (zones == null) row.setNullAt(i)
    else {
      val start = row.cursor() // the array's offsets are relative to its start
      zoneArray.initialize(zones.length)
      var j = 0
      val it = zones.iterator
      while (it.hasNext) {
        val z = it.next()
        if (z == null) zoneArray.setNull8Bytes(j) else writeString(zoneArray, start, j, z)
        j += 1
      }
      row.setOffsetAndSizeFromPreviousCursor(i, start)
    }

  /** `s` (non-null) as UTF-8 at `ordinal` of `out`, whose offsets count
    * from buffer offset `base`. */
  private def writeString(out: UnsafeWriter, base: Int, ordinal: Int, s: String): Unit = {
    val n = s.length
    val at = reserve(out, n)
    val buf = out.getBuffer
    val pos = at - Platform.BYTE_ARRAY_OFFSET
    var k = 0
    while (k < n) {
      val c = s.charAt(k)
      if (c >= 0x80) { out.write(ordinal, UTF8String.fromString(s)); return }
      buf(pos + k) = c.toByte
      k += 1
    }
    commit(out, base, ordinal, at, n)
  }

  /** Room for `n` bytes at the cursor, its word padding zeroed; returns the
    * cursor (the data's buffer offset). */
  private def reserve(out: UnsafeWriter, n: Int): Int = {
    val rounded = ByteArrayMethods.roundNumberOfBytesToNearestWord(n)
    out.grow(rounded)
    val at = out.cursor()
    if (rounded > 0) Platform.putLong(out.getBuffer, at + rounded - 8, 0L)
    at
  }

  /** Points `ordinal` at the `n` bytes written at `at` and moves the cursor
    * past them (what `UnsafeWriter.write(ordinal, bytes)` does after its copy). */
  private def commit(out: UnsafeWriter, base: Int, ordinal: Int, at: Int, n: Int): Unit = {
    out.write(ordinal, ((at - base).toLong << 32) | n)
    out.increaseCursor(ByteArrayMethods.roundNumberOfBytesToNearestWord(n))
  }
}
