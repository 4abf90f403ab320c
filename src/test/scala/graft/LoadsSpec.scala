package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Loads

/** Semantics of the load-side operators: snapshot diff (CDC
  * derivation) and incremental aggregate-state maintenance.
  */
class LoadsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("snapshotDiff classifies insert/delete/update and drops unchanged") {
    val old = Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0),
      (4, null.asInstanceOf[String], 40.0)).toDF("k", "s", "v")
    val neu = Seq((2, "b", 20.0), (3, "c", 99.0), (5, "e", 50.0),
      (4, null.asInstanceOf[String], 40.0)).toDF("k", "s", "v")
    val d = Loads.snapshotDiff(old, neu, "k").collect()
      .map(r => r.getAs[Int]("k") -> r.getAs[String]("change")).toMap
    assert(d == Map(1 -> "D", 3 -> "U", 5 -> "I")) // 2 and 4 unchanged
    // null-safe compare: null == null is NOT an update (key 4 absent)
    val kept = Loads.snapshotDiff(old, neu, "k", keepUnchanged = true)
    assert(kept.count() == 5)
    assert(kept.filter($"change" === "N").count() == 2)
  }

  test("snapshotDiff carries the new-side values (old for deletes)") {
    val old = Seq((1, 10.0), (3, 30.0)).toDF("k", "v")
    val neu = Seq((3, 99.0)).toDF("k", "v")
    val rows = Loads.snapshotDiff(old, neu, "k").collect()
      .map(r => r.getAs[Int]("k") -> r.getAs[Double]("v")).toMap
    assert(rows == Map(1 -> 10.0, 3 -> 99.0))
  }

  test("applyDiff roundtrip: apply(old, diff(old, new)) == new") {
    val old = Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0))
      .toDF("k", "s", "v")
    val neu = Seq((2, "b", 20.0), (3, "c", 99.0), (5, "e", 50.0))
      .toDF("k", "s", "v")
    val rebuilt = Loads.applyDiff(old,
      Loads.snapshotDiff(old, neu, "k"), "k")
    assert(rebuilt.exceptAll(neu).count() == 0)
    assert(neu.exceptAll(rebuilt).count() == 0)
    // empty changeset is the identity
    val same = Loads.applyDiff(old, Loads.snapshotDiff(old, old, "k"), "k")
    assert(same.exceptAll(old).count() == 0 &&
      old.exceptAll(same).count() == 0)
  }

  test("applyDiff roundtrip holds on randomized snapshots with nulls") {
    val r = new scala.util.Random(7)
    val old = (1 to 500).map { i =>
      (i, if (r.nextInt(10) == 0) null else r.nextInt(5).toString,
        r.nextInt(1000) / 10.0)
    }.toDF("k", "s", "v")
    val neu = (1 to 560).flatMap { i =>
      if (r.nextInt(8) == 0) None // deletes + fresh inserts past 500
      else Some((i, if (r.nextInt(10) == 0) null else r.nextInt(5).toString,
        r.nextInt(1000) / 10.0))
    }.toDF("k", "s", "v")
    val rebuilt = Loads.applyDiff(old, Loads.snapshotDiff(old, neu, "k"), "k")
    assert(rebuilt.exceptAll(neu).count() == 0)
    assert(neu.exceptAll(rebuilt).count() == 0)
  }

  test("merged aggregate states equal the direct aggregate") {
    val df = (1 to 1000).map(i => (i, s"g${i % 7}", i * 1.5, i * 2.0))
      .toDF("id", "g", "x", "y")
    val parts = Seq(0, 1, 2).map(p => Loads.aggState(
      df.filter($"id" % 3 === p), Seq("g"), Seq("x", "y")))
    val merged = Loads.mergeAggStates(parts, Seq("g"), Seq("x", "y"))
      .select($"g", $"__n", round($"__sum_x", 6).as("sx"),
        round($"__sum_y", 6).as("sy"))
    val direct = df.groupBy($"g")
      .agg(count(lit(1)).as("__n"), round(sum($"x"), 6).as("sx"),
        round(sum($"y"), 6).as("sy"))
    assert(merged.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(merged).count() == 0)
  }

  test("temporalJoin: picks the version valid at fact time, null-fills outside") {
    import graft.operators.Loads
    // key 1: value A from t=10, B from t=20; key 2: only X from t=15
    val hist = Seq((1L, "A", 10L), (1L, "B", 20L), (2L, "X", 15L))
      .toDF("k", "v", "vts")
    val dim = Loads.scd2History(hist, Seq("k"), "vts")
    val facts = Seq((100L, 1L, 5L), (101L, 1L, 10L), (102L, 1L, 19L),
      (103L, 1L, 20L), (104L, 1L, 99L), (105L, 2L, 16L), (106L, 3L, 50L))
      .toDF("fid", "fk", "ft")
    val got = Loads.temporalJoin(facts, "fk", "ft", dim, "k")
      .select("fid", "v").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got == Map(100L -> None,       // before first version
      101L -> Some("A"), 102L -> Some("A"), // [10, 20)
      103L -> Some("B"), 104L -> Some("B"), // [20, ∞)
      105L -> Some("X"),
      106L -> None))                        // unknown key
  }

  test("digestReport: order-invariant, single-value drift flips it") {
    import graft.operators.Loads
    val a = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "v")
    val d1 = Loads.digestReport(Map("t" -> ((a, Seq("k", "v")))))
      .head.getString(2)
    // any row order / partitioning → identical digest (sum commutes)
    val d2 = Loads.digestReport(Map("t" ->
        ((a.orderBy(col("v").desc).repartition(7), Seq("k", "v")))))
      .head.getString(2)
    assert(d1 == d2)
    // same count, one drifted value → different digest (what
    // countReport cannot see)
    val drift = Seq((1L, "x"), (2L, "y"), (3L, "Z")).toDF("k", "v")
    val d3 = Loads.digestReport(Map("t" -> ((drift, Seq("k", "v")))))
      .head.getString(2)
    assert(d1 != d3)
  }

  test("countReport: one row per table in name order, an empty table as 0") {
    import graft.operators.Loads
    val a = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "v")
    val rows = Loads.countReport(Map("b" -> a.limit(0), "a" -> a.repartition(3),
      "c" -> a.filter(col("k") > 1L))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(rows == Seq("a" -> 3L, "b" -> 0L, "c" -> 2L))
  }

}
