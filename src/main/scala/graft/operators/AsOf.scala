package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow,
  JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** As-of join — for every left row, the LATEST right row of the same key
  * with `right.ts <= left.ts` (inclusive) — an operator Spark lacks as a
  * built-in (DuckDB: `ASOF JOIN`, used verbatim as the q56 oracle).
  *
  * Range-partitioned merge scan, the GapAudit two-phase pattern:
  *  - right rows (tag 0) and left rows (tag 1) form one stream, exchanged
  *    ONCE by `repartitionByRange(numShufflePartitions, key, ts, tag)` and
  *    sorted within partitions. Spark's sampled range bounds split a
  *    mega-key (one user owning a measurable fraction of all events) by
  *    time, so no task holds a hot key's whole history — no window, no
  *    hash exchange on the key, no bucket width to tune;
  *  - pass 1: each partition reports its last key and that key's last
  *    right payload (one row per partition, collected to the driver), which
  *    folds them into each partition's carry-in: the latest right row of
  *    its first key held by earlier partitions. Partitions whose rows of
  *    that key are all left rows pass the carry through;
  *  - pass 2 (lazy): a linear merge scan gives each left row the latest
  *    right row at or before it, starting from the broadcast carry-in.
  *    Right rows sort before left rows at equal (key, ts): that tag bit IS
  *    the inclusive bound.
  * Both passes read one shuffle output (the sorted frame's `toRdd`, taken
  * once). Calling the operator therefore runs jobs up front: the
  * range-bound sample and the boundary collect, and under adaptive
  * execution also the exchange's map stage (the shuffle write); the merge
  * scan runs with the caller's action.
  *
  * Keys must be orderable; they compare by their binary (UnsafeRow) form,
  * so a floating-point key should be normalized first (0.0 vs -0.0).
  * `ts` columns are any orderable type both sides share (timestamps,
  * integers). Precondition for deterministic output: the right side must
  * be unique per (key, ts) — pre-aggregate ties (e.g. keep max id) or the
  * match among equal-ts right rows is plan-dependent. Left-outer semantics:
  * left rows with no prior right row get a null match struct. */
object AsOf {

  private val Reserved = Seq("_k", "_t", "_tag", "_r", "_l")

  /** The raw union the merge scan reads: (_k, _t, _tag, _r = right row,
    * _l = left row), range-partitioned on (_k, _t, _tag) and sorted within
    * partitions. Rows with a null key or ts are not in it. */
  private[graft] def rangeSorted(left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String): DataFrame = {
    val r = right.filter(col(key).isNotNull && col(rightTs).isNotNull)
      .select(col(key).as("_k"), col(rightTs).as("_t"), lit(0).as("_tag"),
        struct(right.columns.map(col).toIndexedSeq: _*).as("_r"))
    val l = left.filter(col(key).isNotNull && col(leftTs).isNotNull)
      .select(col(key).as("_k"), col(leftTs).as("_t"), lit(1).as("_tag"),
        lit(null).cast(r.schema("_r").dataType).as("_r"),
        struct(left.columns.map(col).toIndexedSeq: _*).as("_l"))
    val order = Seq(col("_k"), col("_t"), col("_tag"))
    r.withColumn("_l", lit(null).cast(l.schema("_l").dataType))
      .unionByName(l)
      .repartitionByRange(left.sparkSession.sessionState.conf.numShufflePartitions,
        order: _*)
      .sortWithinPartitions(order: _*)
  }

  /** Running (key, latest right payload) over one sorted partition of
    * [[rangeSorted]]; starts from a carry-in (null, null when none). */
  private final class Scan(keyType: DataType, rightWidth: Int,
      var key: UnsafeRow, var payload: InternalRow) {
    private val keyOf =
      UnsafeProjection.create(Seq(BoundReference(0, keyType, nullable = false)))

    /** Advances past `row`; true when it is a left row. */
    def step(row: InternalRow): Boolean = {
      val k = keyOf(row)
      if (key == null || !key.equals(k)) { key = k.copy(); payload = null }
      val isRight = row.getInt(2) == 0
      if (isRight) payload = row.getStruct(3, rightWidth).copy()
      !isRight
    }
  }

  /** `left` as-of `right` on key/ts columns; returns every left column
    * plus a nullable `asof` struct holding the matched right row.
    *
    * NULL semantics follow SQL ASOF (the DuckDB oracle): a NULL key or
    * NULL ts never matches — right rows with either are dropped up front
    * (they could otherwise be carried as a bogus "earliest ever" match),
    * left rows with either bypass the exchange with a null `asof` struct. */
  def asofJoinBucketed(left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String): DataFrame = {
    val clash = (left.columns ++ right.columns).filter(Reserved.contains) ++
      left.columns.filter(_ == "asof")
    require(clash.isEmpty,
      s"asofJoinBucketed reserves column names ${Reserved.mkString(", ")} and " +
        s"the output column 'asof'; input carries ${clash.mkString(", ")}")
    val sorted = rangeSorted(left, right, key, leftTs, rightTs)
    val keyType = sorted.schema("_k").dataType
    val rType = sorted.schema("_r").dataType.asInstanceOf[StructType]
    val lType = sorted.schema("_l").dataType.asInstanceOf[StructType]
    val (nR, nL) = (rType.length, lType.length)
    val rows = sorted.queryExecution.toRdd

    // pass 1: (partition, last key, that key's last right payload or null)
    val tails = rows.mapPartitionsWithIndex { (p, it) =>
      val s = new Scan(keyType, nR, null, null)
      it.foreach(s.step)
      if (s.key == null) Iterator.empty else Iterator((p, s.key, s.payload))
    }.collect()
    val carry = Array.fill(rows.getNumPartitions)((null: UnsafeRow, null: InternalRow))
    var next = 0
    var k: UnsafeRow = null
    var payload: InternalRow = null
    for ((p, lastKey, lastRight) <- tails) {
      while (next <= p) { carry(next) = (k, payload); next += 1 }
      if (k != null && k.equals(lastKey)) { if (lastRight != null) payload = lastRight }
      else { k = lastKey; payload = lastRight }
    }
    val carryIn = rows.sparkContext.broadcast(carry)

    // pass 2: merge scan over the same shuffle output
    val merged = rows.mapPartitionsWithIndex { (p, it) =>
      val (key0, payload0) = carryIn.value(p)
      val s = new Scan(keyType, nR, key0, payload0)
      val asof = new GenericInternalRow(1)
      val out = new JoinedRow
      it.filter(s.step).map { row =>
        asof.update(0, s.payload)
        out(row.getStruct(4, nL), asof): InternalRow
      }
    }
    val matched = GraftBridge.dataFrame(left.sparkSession, merged,
      StructType(lType.fields :+ StructField("asof", rType, nullable = true)))
    val unmatchable = left.filter(col(key).isNull || col(leftTs).isNull)
      .select(left.columns.map(col).toIndexedSeq :+ lit(null).cast(rType).as("asof"): _*)
    matched.unionByName(unmatchable)
  }
}
