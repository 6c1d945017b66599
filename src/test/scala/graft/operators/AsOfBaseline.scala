package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The plain one-window as-of join, kept as the differential baseline for
  * [[AsOf.asofJoinBucketed]]: tag the two inputs, union, and carry a
  * per-key running `last(right_payload, ignoreNulls)` over
  * (key ORDER BY ts, tag), right rows sorting BEFORE left rows at equal
  * timestamps (the inclusive bound). Correct, but one hash exchange on the
  * key puts a mega-key's whole history in one task. Same contract and
  * null semantics as the shipped operator. */
object AsOfBaseline {
  def asofJoin(left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String): DataFrame = {
    val reserved = Seq("_k", "_t", "_tag", "_r", "_l")
    val clash = (left.columns ++ right.columns).filter(reserved.contains) ++
      left.columns.filter(_ == "asof")
    require(clash.isEmpty,
      s"asofJoin reserves column names ${reserved.mkString(", ")} and the " +
        s"output column 'asof'; input carries ${clash.mkString(", ")}")
    val rPayload = struct(right.columns.map(col).toIndexedSeq: _*)
    val lPayload = struct(left.columns.map(col).toIndexedSeq: _*)
    val r = right
      .filter(col(key).isNotNull && col(rightTs).isNotNull)
      .select(
        col(key).as("_k"), col(rightTs).as("_t"),
        lit(0).as("_tag"), rPayload.as("_r"))
    val rType = r.schema("_r").dataType
    val l = left.select(
      col(key).as("_k"), col(leftTs).as("_t"),
      lit(1).as("_tag"), lit(null).cast(rType).as("_r"), lPayload.as("_l"))
    val all = r.withColumn("_l",
      lit(null).cast(l.schema("_l").dataType)).unionByName(l)
    // right (tag 0) sorts before left (tag 1) at equal ts -> inclusive bound
    val w = Window.partitionBy(col("_k"))
      .orderBy(col("_t"), col("_tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    all
      .withColumn("asof", last(col("_r"), ignoreNulls = true).over(w))
      .filter(col("_tag") === 1)
      .select(col("_l.*"), col("asof"))
  }
}
