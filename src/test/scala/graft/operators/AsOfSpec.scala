package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** AsOf.asofJoinBucketed (the shipped range-partitioned merge scan) and the
  * plain one-window AsOfBaseline.asofJoin vs a naive driver-side
  * per-left-row scan, plus the shipped operator's exchange-shape gates. */
class AsOfSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private type Join = (DataFrame, DataFrame, String, String, String) => DataFrame
  private val joins: Seq[(String, Join)] = Seq(
    "baseline" -> (AsOfBaseline.asofJoin _),
    "shipped" -> (AsOf.asofJoinBucketed _))

  private def withPartitions[T](n: Int)(body: => T): T = {
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }

  /** lid -> matched rid over (k, lts, lid) x (k, rts, rid) frames. */
  private def matches(df: DataFrame): Map[Long, Option[Long]] =
    df.select(col("lid"), col("asof.rid")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap

  /** The naive scan: latest right row of the key at or before the left ts. */
  private def naive[K, T: Ordering](lefts: Seq[(K, T, Long)],
      rights: Seq[(K, T, Long)]): Map[Long, Option[Long]] = {
    val byKey = rights.groupBy(_._1)
    lefts.map { case (k, lt, lid) =>
      lid -> byKey.getOrElse(k, Nil).filter(r => Ordering[T].lteq(r._2, lt))
        .sortBy(_._2).lastOption.map(_._3)
    }.toMap
  }

  /** (key, tag) of every row, per partition of the shipped operator's
    * range-sorted union. */
  private def partitionKeys(l: DataFrame, r: DataFrame): Seq[Seq[(Any, Int)]] = {
    val keyType = l.schema("k").dataType
    AsOf.rangeSorted(l, r, "k", "lts", "rts").queryExecution.toRdd
      .mapPartitions(it => Iterator(it.map(row =>
        (row.get(0, keyType), row.getInt(2))).toVector)).collect().toSeq
  }

  test("asof == naive latest-right-at-or-before on a randomized corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val lefts = Seq.fill(400)((rnd.nextInt(12).toLong, rnd.nextInt(1000).toLong,
      rnd.nextInt(100000).toLong))
    // unique right per (key, ts) — the documented precondition
    val rights = Seq.fill(300)((rnd.nextInt(12).toLong, rnd.nextInt(1000).toLong))
      .distinct.map { case (k, t) => (k, t, k * 100000 + t) }

    val l = lefts.toDF("k", "lts", "lid").repartition(7)
    val r = rights.toDF("k", "rts", "rid").repartition(5)
    val byKey = rights.groupBy(_._1)
    val expect = lefts.map { case (k, lt, lid) =>
      val best = byKey.getOrElse(k, Nil).filter(_._2 <= lt)
        .sortBy(_._2).lastOption.map(_._3)
      (k, lt, lid, best)
    }.sortBy(t => (t._1, t._2, t._3))
    for ((name, join) <- joins) {
      val got = join(l, r, "k", "lts", "rts")
        .select(col("k"), col("lts"), col("lid"),
          col("asof.rid").as("rid"), col("asof.rts").as("rts"))
        .collect()
        .map(row => (row.getLong(0), row.getLong(1), row.getLong(2),
          if (row.isNullAt(3)) None else Some(row.getLong(3))))
        .sortBy(t => (t._1, t._2, t._3))
      assert(got.toSeq == expect, name)
      assert(got.length == lefts.length, name) // left-outer: every left row survives
      assert(got.exists(_._4.isEmpty) && got.exists(_._4.nonEmpty), name)
    }
  }

  test("inclusive bound: an equal-ts right row matches") {
    import spark.implicits._
    val l = Seq((1L, 100L, 10L)).toDF("k", "lts", "lid")
    val r = Seq((1L, 100L, 77L)).toDF("k", "rts", "rid")
    for ((name, join) <- joins) {
      val out = join(l, r, "k", "lts", "rts").select(col("asof.rid")).collect()
      assert(out(0).getLong(0) == 77L, name)
    }
  }

  test("SQL null semantics: null key/ts never matches; left nulls survive unmatched") {
    import spark.implicits._
    val l = Seq((Some(1L), Some(100L), 1L), (None, Some(100L), 2L),
      (Some(1L), None, 3L)).toDF("k", "lts", "lid")
    val r = Seq((Some(1L), Some(50L), 10L), (Some(1L), None, 11L),
      (None, Some(10L), 12L)).toDF("k", "rts", "rid")
    // lid=1 matches the one valid right row; null-key (2) and null-ts (3)
    // left rows survive unmatched; null-ts right row 11 is never carried
    // as an "earliest ever" match, null-key right row 12 matches nothing
    for ((name, join) <- joins)
      assert(matches(join(l, r, "k", "lts", "rts")) ==
        Map(1L -> Some(10L), 2L -> None, 3L -> None), name)
  }

  test("reserved/output column names are rejected loudly") {
    import spark.implicits._
    val l = Seq((1L, 1L, 1L)).toDF("k", "lts", "asof")
    val r = Seq((1L, 1L, 1L)).toDF("k", "rts", "rid")
    val l2 = Seq((1L, 1L, 1L)).toDF("k", "lts", "_tag")
    val r2 = Seq((1L, 1L, 1L)).toDF("k", "rts", "_l")
    for ((name, join) <- joins; (a, b) <- Seq((l, r), (l2, r), (l2.toDF("k", "lts", "lid"), r2)))
      intercept[IllegalArgumentException](join(a, b, "k", "lts", "rts"))
  }

  test("per-key window only: no unpartitioned window in the plan") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val l = Seq((1L, 1L, 1L)).toDF("k", "lts", "lid")
    val r = Seq((1L, 1L, 1L)).toDF("k", "rts", "rid")
    val plan = AsOfBaseline.asofJoin(l, r, "k", "lts", "rts")
      .queryExecution.optimizedPlan
    val bad = plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
    assert(bad.isEmpty)
  }

  test("bucketed == plain asofJoin on a randomized corpus with one MEGA-key") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    // key 0 is the mega-key: it owns ~70% of all rows, so the range bounds
    // split it across partitions and plenty of left rows depend on a
    // carry-in from an earlier partition
    def key() = if (rnd.nextInt(10) < 7) 0L else 1L + rnd.nextInt(5)
    val lefts = Seq.fill(600)((key(), rnd.nextInt(1000).toLong, rnd.nextLong()))
    val rights = Seq.fill(80)((key(), rnd.nextInt(1000).toLong))
      .distinct.map { case (k, t) => (k, t, k * 100000 + t) }
    val l = lefts.toDF("k", "lts", "lid").repartition(7)
    val r = rights.toDF("k", "rts", "rid").repartition(5)
    def norm(df: DataFrame) = df
      .select(col("k"), col("lts"), col("lid"),
        col("asof.rid").as("rid"), col("asof.rts").as("rts"))
      .collect()
      .map(row => (row.getLong(0), row.getLong(1), row.getLong(2),
        if (row.isNullAt(3)) None else Some(row.getLong(3)),
        if (row.isNullAt(4)) None else Some(row.getLong(4))))
      .sortBy(t => (t._1, t._2, t._3))
      .toSeq
    val plain = norm(AsOfBaseline.asofJoin(l, r, "k", "lts", "rts"))
    for (n <- Seq(1, 3, 7, 16)) {
      val shipped = withPartitions(n)(norm(AsOf.asofJoinBucketed(l, r, "k", "lts", "rts")))
      assert(shipped == plain, s"partitions=$n diverged")
    }
  }

  test("bucketed: null semantics, inclusive bound, and timestamp ts match plain") {
    import spark.implicits._
    val l = Seq((Some(1L), Some(100L), 1L), (None, Some(100L), 2L),
      (Some(1L), None, 3L), (Some(1L), Some(99L), 4L)).toDF("k", "lts", "lid")
    val r = Seq((Some(1L), Some(100L), 10L), (Some(1L), None, 11L),
      (None, Some(10L), 12L), (Some(1L), Some(40L), 13L)).toDF("k", "rts", "rid")
    // equal-ts inclusive (1 -> 10), earlier right row (4 -> 13), nulls unmatched
    assert(matches(AsOf.asofJoinBucketed(l, r, "k", "lts", "rts")) ==
      Map(1L -> Some(10L), 2L -> None, 3L -> None, 4L -> Some(13L)))

    val ts0 = Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Int) = new Timestamp(ts0.getTime + s * 1000L)
    val lt = Seq((1L, at(100), 1L), (1L, at(30), 2L)).toDF("k", "lts", "lid")
    val rt = Seq((1L, at(50), 10L), (1L, at(10), 11L)).toDF("k", "rts", "rid")
    assert(matches(AsOf.asofJoinBucketed(lt, rt, "k", "lts", "rts")) ==
      Map(1L -> Some(10L), 2L -> Some(11L)))
  }

  test("shipped == baseline on uniform and mega-key fixtures") {
    import spark.implicits._
    val rnd = new scala.util.Random(405)
    // uniform fixture: 6 keys, ~100 rows each over span 10000
    val uniR = (0 until 600).map { i =>
      ((i % 6).toLong, rnd.nextInt(10000).toLong, i.toLong)
    }
    // mega-key fixture: key 0 owns 90% of rows, same span
    val megaR = (0 until 1000).map { i =>
      val k = if (rnd.nextInt(10) < 9) 0L else 1L + rnd.nextInt(5)
      (k, rnd.nextInt(10000).toLong, i.toLong)
    }
    val l = Seq.fill(300)(
      (rnd.nextInt(6).toLong, rnd.nextInt(10000).toLong, rnd.nextLong()))
      .toDF("k", "lts", "lid").repartition(5)
    for ((rows, tag) <- Seq((uniR, "uniform"), (megaR, "mega"))) {
      // unique per (key, ts): keep the max id, the operator's precondition
      val r = rows.toDF("k", "rts", "rid").groupBy("k", "rts")
        .agg(max("rid").as("rid")).repartition(7)
      val plain = matches(AsOfBaseline.asofJoin(l, r, "k", "lts", "rts"))
      assert(matches(AsOf.asofJoinBucketed(l, r, "k", "lts", "rts")) == plain, tag)
      assert(plain.values.exists(_.isDefined) && plain.values.exists(_.isEmpty), tag)
    }
  }

  test("boundary carry == naive scan at 1, 2, 7 and 64 shuffle partitions") {
    import spark.implicits._
    val rnd = new scala.util.Random(2)
    // key 3 spans many partitions: five early right rows, then 300 left
    // rows whose middle partitions hold nothing else; key 9 (the largest)
    // ends with 100 left rows at ONE (key, ts), so the last range bound is
    // the largest row and the partition after it is empty
    val lefts = (0 until 300).map(i => (3L, 10L + i, i.toLong)) ++
      (0 until 100).map(i => (9L, 1000L, 1000L + i)) ++
      (0 until 80).map(i => (1L + rnd.nextInt(5), rnd.nextInt(2000).toLong, 2000L + i))
    val rights = (0 until 5).map(i => (3L, i.toLong, 100L + i)) ++
      Seq((9L, 999L, 900L)) ++
      (0 until 40).map(_ => (1L + rnd.nextInt(5), rnd.nextInt(2000).toLong)).distinct
        .filter(_._1 != 3L).zipWithIndex.map { case ((k, t), i) => (k, t, 500L + i) }
    val l = lefts.toDF("k", "lts", "lid").repartition(3)
    val r = rights.toDF("k", "rts", "rid").repartition(2)

    // a right and a left row at the same (key, ts) with the 2-way range
    // bound between them: 20 rows sort before the pair and 20 after it
    // (Int key, Int ts)
    val tieLefts = (0 until 20).map(i => (1, i, 3000L + i)) ++ Seq((5, 100, 1L)) ++
      (0 until 20).map(i => (7, i, 4000L + i))
    val tieRights = Seq((5, 100, 77L))
    val tieL = tieLefts.toDF("k", "lts", "lid")
    val tieR = tieRights.toDF("k", "rts", "rid")

    // StringType key, timestamp ts
    val ts0 = Timestamp.valueOf("2026-01-01 00:00:00").getTime
    val sLefts = Seq.fill(200)((s"u${rnd.nextInt(4)}", ts0 + rnd.nextInt(500) * 1000L,
      rnd.nextLong()))
    val sRights = Seq.fill(60)((s"u${rnd.nextInt(4)}", ts0 + rnd.nextInt(500) * 1000L))
      .distinct.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
    def tsDf(rows: Seq[(String, Long, Long)], ts: String, id: String) =
      rows.map(t => (t._1, new Timestamp(t._2), t._3)).toDF("k", ts, id)

    val empty = Seq.empty[(Long, Long, Long)].toDF("k", "rts", "rid")
    var sawMiddleLeftOnly = false
    var sawEmpty = false
    for (n <- Seq(1, 2, 7, 64)) withPartitions(n) {
      assert(matches(AsOf.asofJoinBucketed(l, r, "k", "lts", "rts")) ==
        naive(lefts, rights), s"spanning key, partitions=$n")
      assert(matches(AsOf.asofJoinBucketed(tieL, tieR, "k", "lts", "rts")) ==
        naive(tieLefts, tieRights), s"same (key, ts), partitions=$n")
      assert(matches(AsOf.asofJoinBucketed(tsDf(sLefts, "lts", "lid"),
        tsDf(sRights, "rts", "rid"), "k", "lts", "rts")) ==
        naive(sLefts, sRights), s"string key, partitions=$n")
      assert(matches(AsOf.asofJoinBucketed(l, empty, "k", "lts", "rts")) ==
        lefts.map(_._3 -> None).toMap, s"empty right, partitions=$n")

      // the fixtures must really put the boundaries where the spec says
      val parts = partitionKeys(l, r)
      sawEmpty ||= parts.exists(_.isEmpty)
      sawMiddleLeftOnly ||= parts.indices.drop(1).dropRight(1).exists { p =>
        parts(p).nonEmpty && parts(p).forall(_ == ((3L, 1))) &&
          parts(p - 1).exists(_._1 == 3L) && parts(p + 1).exists(_._1 == 3L)
      }
      if (n == 2) {
        val tieParts = partitionKeys(tieL, tieR)
        assert(tieParts(0).last == ((5, 0)) && tieParts(1).head == ((5, 1)),
          s"no bound between the tied right and left rows: $tieParts")
      }
    }
    assert(sawMiddleLeftOnly, "no middle partition held only the spanning key's left rows")
    assert(sawEmpty, "no empty range partition")
  }

  test("range-partitioned: the raw union's one exchange is RangePartitioning") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.UnionExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object H extends AdaptiveSparkPlanHelper
    val l = Seq((1L, 1L, 1L)).toDF("k", "lts", "lid").repartition(3, col("k"))
    val r = Seq((1L, 1L, 1L)).toDF("k", "rts", "rid").repartition(3, col("k"))
    val qe = AsOf.rangeSorted(l, r, "k", "lts", "rts").queryExecution
    assert(qe.optimizedPlan.collect { case w: LWindow => w }.isEmpty)
    // no window and no exchange on the key alone over the raw union: every
    // exchange above the union is the one (_k, _t, _tag) range exchange
    val overUnion = H.collect(qe.executedPlan) {
      case e: ShuffleExchangeExec if H.find(e.child)(_.isInstanceOf[UnionExec]).nonEmpty => e
    }
    assert(overUnion.size == 1, qe.executedPlan.toString)
    overUnion.head.outputPartitioning match {
      case RangePartitioning(order, _) =>
        assert(order.map(_.asInstanceOf[SortOrder].child.asInstanceOf[Attribute].name) ==
          Seq("_k", "_t", "_tag"), qe.executedPlan.toString)
      case other => fail(s"raw union exchanged by $other")
    }
    assert(H.find(qe.executedPlan)(_.nodeName.contains("Window")).isEmpty)
  }

  test("mega-key: max/median rows per range partition <= 2 at 8 partitions") {
    import spark.implicits._
    val rnd = new scala.util.Random(70)
    // key 0 owns ~70% of rows: one hash task would hold 70% of the join
    def key() = if (rnd.nextInt(10) < 7) 0L else 1L + rnd.nextInt(9)
    val l = Seq.fill(20000)((key(), rnd.nextInt(1000000).toLong, rnd.nextLong()))
      .toDF("k", "lts", "lid").repartition(4)
    val r = Seq.fill(5000)((key(), rnd.nextInt(1000000).toLong)).distinct
      .map { case (k, t) => (k, t, t) }.toDF("k", "rts", "rid").repartition(4)
    val sizes = withPartitions(8)(partitionKeys(l, r)).map(_.size).sorted
    assert(sizes.size == 8, sizes)
    val median = (sizes(3) + sizes(4)) / 2.0
    assert(sizes.last / median <= 2.0, s"range partitions unbalanced: $sizes")
  }
}
