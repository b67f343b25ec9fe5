package graft

import org.apache.spark.sql.functions._

import graft.operators.{IncrementalAgg, ViewMaintenance => VM}
import graft.sources.Snapshot

class IvmSpec extends SparkSpec {
  import sqlImplicits._

  private def freshRoot(): String = tempDir("ivm-spec")

  test("signedStep: upsert yields +new and -old rows; unseen-key deletes are no-ops") {
    val root = freshRoot()
    val v1 = Snapshot.commit(spark, root, Map("t" ->
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "g", "m")))
    // upsert: rewrite id=2, insert id=3 (its feed delete event must drop)
    val v2 = Snapshot.applyChanges(spark, root, "t", Seq("id"),
      upserts = Some(Seq((2L, "b", 25.0), (3L, "c", 30.0)).toDF("id", "g", "m")),
      deleteKeys = None)
    val signed = VM.signedStep(spark, root, "t", v1, v2, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    assert(signed.toSeq == Seq(
      (2L, "b", 20.0, -1), (2L, "b", 25.0, 1), (3L, "c", 30.0, 1)))
  }

  test("signedStep: delete yields the full preimage as a -1 row") {
    val root = freshRoot()
    val v1 = Snapshot.commit(spark, root, Map("t" ->
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "g", "m")))
    val v2 = Snapshot.deleteWhere(spark, root, "t", col("id") === 1L, Seq("id"))
    val signed = VM.signedStep(spark, root, "t", v1, v2, Seq("id")).collect()
    assert(signed.length == 1)
    val r = signed.head
    assert((r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)) ==
      ((1L, "a", 10.0, -1)))
  }

  test("applySigned retracts groups to zero and drops them from the view") {
    val base = Seq(("a", 10.0), ("a", 5.0), ("b", 20.0)).toDF("g", "m")
    val state = IncrementalAgg.state(base, Seq("g"), Seq("m"))
    // retract both 'a' rows; add one 'c' row
    val delta = Seq(("a", 10.0, -1), ("a", 5.0, -1), ("c", 7.0, 1))
      .toDF("g", "m", VM.SignCol)
    val out = VM.applySigned(state, VM.signedState(delta, Seq("g"), Seq("m")),
      Seq("g"), Seq("m"))
      .orderBy("g").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(("b", 1L, 2000L), ("c", 1L, 700L)))
  }

  test("signedJoinDelta reproduces the full re-join under simultaneous two-sided change") {
    // A keyed by k with group column; B a multiset of (k, measure)
    val a0 = Seq((1L, "g1"), (2L, "g2"), (3L, "g1")).toDF("k", "g")
    val b0 = Seq((1L, 10.0), (1L, 4.0), (2L, 20.0), (4L, 99.0)).toDF("k", "m")
    // ΔA: update k=2's group, insert k=4; ΔB: two inserts (k=3, k=4)
    val dA = Seq((2L, "g2", -1), (2L, "gX", 1), (4L, "g9", 1))
      .toDF("k", "g", VM.SignCol)
    val dB = Seq((3L, 7.0, 1), (4L, 1.0, 1)).toDF("k", "m", VM.SignCol)
    val a1 = Seq((1L, "g1"), (2L, "gX"), (3L, "g1"), (4L, "g9")).toDF("k", "g")
    val b1 = b0.unionByName(dB.drop(VM.SignCol))
    val state0 = IncrementalAgg.state(a0.join(b0, Seq("k")), Seq("g"), Seq("m"))
    val delta = VM.signedState(
      VM.signedJoinDelta(dA, bNew = b1, aOld = a0, dB = dB, joinKeys = Seq("k")),
      Seq("g"), Seq("m"))
    val maintained = VM.applySigned(state0, delta, Seq("g"), Seq("m"))
      .orderBy("g").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val recomputed = IncrementalAgg.state(a1.join(b1, Seq("k")), Seq("g"), Seq("m"))
      .orderBy("g").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(maintained.toSeq == recomputed.toSeq)
    // and the delta actually carried both sides (gX from ΔA⋈B, g1 from A⋈ΔB)
    assert(maintained.map(_._1).contains("gX"))
    assert(recomputed.exists { case (g, _, _) => g == "g9" })
  }

  test("signedJoinDelta guards frame shapes") {
    val unsigned = Seq((1L, "g")).toDF("k", "g")
    val signed = unsigned.withColumn(VM.SignCol, lit(1))
    intercept[IllegalArgumentException](
      VM.signedJoinDelta(unsigned, unsigned, unsigned, signed, Seq("k")))
    intercept[IllegalArgumentException](
      VM.signedJoinDelta(signed, signed, unsigned, signed, Seq("k")))
  }
}
