package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Incremental
import graft.sources.Layout

/** Incremental materialized-aggregate maintenance over the change feed:
  * folding feeds v0→v1→…→vN must equal materializing vN from scratch,
  * across a random merge/delete history (round 9).
  */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("g")
  private val sums = Seq("v")

  private def canon(df: DataFrame): Set[(String, Long, Long)] =
    df.select($"g", $"n_rows", $"sum_v").as[(String, Long, Long)]
      .collect().toSet

  private def canonMM(df: DataFrame): Set[(String, Long, Option[Long], Option[Long])] =
    df.select($"g", $"n_rows", $"min_v", $"max_v")
      .as[(String, Long, Option[Long], Option[Long])].collect().toSet

  test("folding the feed chain equals full recompute over a random history") {
    val rnd = new scala.util.Random(4242)
    val root = Files.createTempDirectory("graft_ivm").toString
    def rows(rs: (Long, String, Long)*) = rs.toDF("id", "g", "v")
    val init = (1L to 40L).map(i => (i, s"g${i % 5}", rnd.nextInt(100).toLong))
    Layout.initVersionedManifest(rows(init: _*), root, Seq("g"))

    var state = Incremental.materialize(
      Layout.readVersion(spark, root, 0), keys, sums)
    // min/max state maintained over the SAME history (r10: invalidation bit)
    var mmState = Incremental.materializeMinMax(
      Layout.readVersion(spark, root, 0), keys, "v")
    var version = 0
    (1 to 6).foreach { _ =>
      if (rnd.nextBoolean()) {
        // merge: a mix of updates to existing ids and fresh inserts
        val ups = (1 to 1 + rnd.nextInt(6)).map { _ =>
          val id = 1L + rnd.nextInt(50)
          (id, s"g${id % 5}", rnd.nextInt(100).toLong)
        }
        Layout.mergeVersionedPartitioned(spark, root, rows(ups: _*), Seq("id"), "g")
      } else {
        val cut = 1L + rnd.nextInt(50)
        Layout.deleteVersionedPartitioned(spark, root,
          col("id") % 7 === cut % 7 && col("id") <= cut, "g")
      }
      val feed = Layout.changeFeed(spark, root, version, version + 1, Seq("id"))
      state = Incremental.applyFeed(state, feed, keys, sums)
      version += 1
      val live = Layout.readVersion(spark, root, version)
      mmState = Incremental.applyFeedMinMax(mmState, feed, keys, "v", live)
      val full = Incremental.materialize(live, keys, sums)
      assert(canon(state) == canon(full),
        s"incremental state diverged from recompute at v$version")
      assert(canonMM(mmState) == canonMM(
        Incremental.materializeMinMax(live, keys, "v")),
        s"min/max state diverged from recompute at v$version")
    }
    assert(version == 6)
  }

  test("min/max: extremum deletion invalidates and recomputes; interior deletion folds") {
    val base = Seq((1L, "g1", 5L), (2L, "g1", 9L), (3L, "g1", 7L),
      (4L, "g2", 1L)).toDF("id", "g", "v")
    val state = Incremental.materializeMinMax(base, keys, "v")
    assert(canonMM(state) == Set(("g1", 3L, Some(5L), Some(9L)),
      ("g2", 1L, Some(1L), Some(1L))))
    // delete g1's max (9) → recompute path must find runner-up 7
    val live1 = base.filter($"id" =!= 2L)
    val f1 = Seq((2L, "g1", 9L, "delete")).toDF("id", "g", "v", "_change_type")
    assert(canonMM(Incremental.applyFeedMinMax(state, f1, keys, "v", live1)) ==
      Set(("g1", 2L, Some(5L), Some(7L)), ("g2", 1L, Some(1L), Some(1L))))
    // interior deletion (7 ∈ (5,9)) folds incrementally — even against a
    // DELIBERATELY WRONG live snapshot, proving no recompute touched it
    val wrongLive = Seq((99L, "g1", -100L)).toDF("id", "g", "v")
    val f2 = Seq((3L, "g1", 7L, "delete")).toDF("id", "g", "v", "_change_type")
    assert(canonMM(Incremental.applyFeedMinMax(state, f2, keys, "v", wrongLive)) ==
      Set(("g1", 2L, Some(5L), Some(9L)), ("g2", 1L, Some(1L), Some(1L))))
    // inserts extend the envelope without any base read
    val f3 = Seq((5L, "g2", 50L, "insert"), (6L, "g3", 3L, "insert"))
      .toDF("id", "g", "v", "_change_type")
    assert(canonMM(Incremental.applyFeedMinMax(state, f3, keys, "v", wrongLive)) ==
      Set(("g1", 3L, Some(5L), Some(9L)), ("g2", 2L, Some(1L), Some(50L)),
        ("g3", 1L, Some(3L), Some(3L))))
    // an update moving the max DOWN is remove-at-extremum → recompute
    val live4 = Seq((1L, "g1", 5L), (2L, "g1", 2L), (3L, "g1", 7L)).toDF("id", "g", "v")
    val f4 = Seq((2L, "g1", 9L, "update_pre"), (2L, "g1", 2L, "update_post"))
      .toDF("id", "g", "v", "_change_type")
    assert(canonMM(Incremental.applyFeedMinMax(
      state.filter($"g" === "g1"), f4, keys, "v", live4)) ==
      Set(("g1", 3L, Some(2L), Some(7L))))
  }

  test("moment views (n, Σv, Σv²) fold incrementally; derived stats match direct") {
    // nulls included: SQL avg/var_pop IGNORE them, and so must the view
    // (n_rows counts every row; the non-null count drives the stats)
    val base = Seq((1L, "g1", Some(2.0)), (2L, "g1", Some(4.0)),
      (3L, "g1", Some(6.0)), (4L, "g2", Some(10.0)),
      (6L, "g1", None: Option[Double]), (7L, "g3", None: Option[Double]))
      .toDF("id", "g", "v")
    val s0 = Incremental.materializeMoments(base, keys, "v")
    // delete the 6.0, update 4.0 -> 8.0, insert 12.0 and a null into g2
    val feed = Seq(
      (3L, "g1", Some(6.0), "delete"),
      (2L, "g1", Some(4.0), "update_pre"), (2L, "g1", Some(8.0), "update_post"),
      (5L, "g2", Some(12.0), "insert"),
      (8L, "g2", None: Option[Double], "insert"))
      .toDF("id", "g", "v", "_change_type")
    val live = Seq((1L, "g1", Some(2.0)), (2L, "g1", Some(8.0)),
      (4L, "g2", Some(10.0)), (5L, "g2", Some(12.0)),
      (6L, "g1", None: Option[Double]), (7L, "g3", None: Option[Double]),
      (8L, "g2", None: Option[Double])).toDF("id", "g", "v")
    val s1 = Incremental.applyFeedMoments(s0, feed, keys, "v")
    val derived = Incremental.derivedStats(s1, "v")
      .select($"g", $"avg_v", $"var_v")
      .as[(String, Option[Double], Option[Double])]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    val direct = live.groupBy("g")
      .agg(avg($"v").as("a"), var_pop($"v").as("s"))
      .as[(String, Option[Double], Option[Double])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(derived.keySet == direct.keySet)
    direct.foreach { case (g, (a, s)) =>
      val (da, ds) = derived(g)
      assert(da.isDefined == a.isDefined && ds.isDefined == s.isDefined, g)
      a.foreach(x => assert(math.abs(da.get - x) < 1e-9, g))
      s.foreach(x => assert(math.abs(ds.get - x) < 1e-9, g))
    }
  }

  test("groups emptied by deletes leave no tombstone rows in the state") {
    val a = Seq((1L, "g1", 5L), (2L, "g2", 7L)).toDF("id", "g", "v")
    val state = Incremental.materialize(a, keys, sums)
    // feed deleting every g2 row
    val feed = Seq((2L, "g2", 7L, "delete")).toDF("id", "g", "v", "_change_type")
    val next = Incremental.applyFeed(state, feed, keys, sums)
    assert(canon(next) == Set(("g1", 1L, 5L)))
  }

  // ---------------------------------------------------------- join views

  private def canonJoin(df: DataFrame): Set[(Long, Long, Long, String, Long)] =
    df.select($"ck", $"id", $"fv", $"g", $"dv")
      .as[(Long, Long, Long, String, Long)].collect().toSet

  test("join view: affected-key recompute handles updates, deletes, inserts") {
    val facts = Seq((10L, 1L, 100L), (11L, 1L, 200L), (12L, 2L, 300L))
      .toDF("id", "ck", "fv")
    val dims = Seq((1L, "a", 7L), (2L, "b", 8L), (3L, "c", 9L))
      .toDF("ck", "g", "dv")
    val view = Incremental.materializeJoin(facts, dims, Seq("ck"))
    // dim ck=1 renamed a→z (update feed), fact id=12 deleted, fact id=13
    // inserted under the NEW dim ck=3
    val feedF = Seq((12L, 2L, 300L, "delete"), (13L, 3L, 400L, "insert"))
      .toDF("id", "ck", "fv", "_change_type")
    val feedD = Seq((1L, "a", 7L, "update_pre"), (1L, "z", 7L, "update_post"))
      .toDF("ck", "g", "dv", "_change_type")
    val curF = Seq((10L, 1L, 100L), (11L, 1L, 200L), (13L, 3L, 400L))
      .toDF("id", "ck", "fv")
    val curD = Seq((1L, "z", 7L), (2L, "b", 8L), (3L, "c", 9L))
      .toDF("ck", "g", "dv")
    val next = Incremental.applyFeedJoin(view, feedF, feedD, curF, curD, Seq("ck"))
    assert(canonJoin(next) == canonJoin(
      Incremental.materializeJoin(curF, curD, Seq("ck"))))
  }

  test("join view: untouched keys never re-read the snapshots") {
    val facts = Seq((10L, 1L, 100L), (12L, 2L, 300L)).toDF("id", "ck", "fv")
    val dims = Seq((1L, "a", 7L), (2L, "b", 8L)).toDF("ck", "g", "dv")
    val view = Incremental.materializeJoin(facts, dims, Seq("ck"))
    // feed touches only ck=2; the "current" snapshots carry DELIBERATELY
    // WRONG rows under ck=1 — if the fold consulted them for untouched
    // keys, the wrong values would surface
    val feedF = Seq((12L, 2L, 300L, "delete")).toDF("id", "ck", "fv", "_change_type")
    val emptyD = dims.filter(lit(false)).withColumn("_change_type", lit(""))
    val wrongF = Seq((10L, 1L, -999L)).toDF("id", "ck", "fv")
    val wrongD = Seq((1L, "WRONG", -1L)).toDF("ck", "g", "dv")
    val next = Incremental.applyFeedJoin(view, feedF, emptyD, wrongF, wrongD, Seq("ck"))
    assert(canonJoin(next) == Set((1L, 10L, 100L, "a", 7L)))
  }

  test("update feeds move sums by exactly the value delta; nulls sum as 0") {
    val a = Seq((1L, "g1", 5L), (2L, "g1", 7L)).toDF("id", "g", "v")
    val state = Incremental.materialize(a, keys, sums)
    val feed = Seq(
      (2L, "g1", Some(7L), "update_pre"),
      (2L, "g1", Some(20L), "update_post"),
      (3L, "g1", None: Option[Long], "insert"))
      .toDF("id", "g", "v", "_change_type")
    val next = Incremental.applyFeed(state, feed, keys, sums)
    assert(canon(next) == Set(("g1", 3L, 25L))) // 5 + 20 + 0(null)
  }
}
