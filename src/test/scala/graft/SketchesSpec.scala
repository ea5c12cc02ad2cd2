package graft

import org.apache.spark.sql.functions._
import graft.ops.Sketches
import graft.sources.Tables

/** Distinct, quantile and frequency sketches: KMV error bounds and
  * merge ≡ direct build, hash-sample quantiles, count–min merge and error
  * bounds.
  */
class SketchesSpec extends SparkSpec {
  import spark.implicits._

  private def events = Tables.events(spark, sf())
    .withColumn("day", to_date($"ts"))

  test("KMV distinct sketch: exact under k, ~accurate over, merge = direct") {
    import graft.ops.Aggregates
    // small cardinality (< k): exact
    val small = (1 to 40).map(i => ("g", i.toLong)).toDF("g", "v")
    val gotSmall = Aggregates.kmvDistinct(small, Seq("g"), "v", k = 64)
      .head().getDouble(1)
    assert(gotSmall == 40.0)
    // large cardinality: within KMV's expected error (~1/sqrt(k) ≈ 12.5%)
    val big = (1 to 20000).map(i => ("g", (i * 7L) % 100000))
      .toDF("g", "v")
    val exact = big.select($"v").distinct().count().toDouble
    val est = Aggregates.kmvDistinct(big, Seq("g"), "v", k = 64)
      .head().getDouble(1)
    assert(math.abs(est - exact) / exact < 0.4,
      s"KMV est $est too far from exact $exact")
    // deterministic under partitioning
    val est2 = Aggregates.kmvDistinct(big.repartition(13), Seq("g"), "v", 64)
      .head().getDouble(1)
    assert(est == est2)
    // leaf-merge ≡ direct (the KMV merge property)
    val withLeaf = big.withColumn("leaf", $"v" % 5)
    val merged = Aggregates.kmvMergeEstimate(
      Aggregates.kmvSketches(withLeaf, Seq("g", "leaf"), "v", 64),
      Seq("g"), 64).head().getDouble(1)
    assert(merged == est)
  }

  test("KMV overlap matrix: exact under k, ~accurate over, repartition-stable (r15)") {
    import graft.ops.Aggregates
    // small slices (union < k): the intersection is EXACT
    val small = ((1 to 30).map(i => ("a", i.toLong)) ++
      (21 to 50).map(i => ("b", i.toLong))).toDF("g", "v")
    val gotSmall = Aggregates.kmvOverlapMatrix(small, "g", "v", k = 64)
      .head().getDouble(2)
    assert(gotSmall == 10.0, s"exact-under-k overlap, got $gotSmall")
    // large slices: |A| = |B| = 3000, |A∩B| = 1000 — within the
    // estimator's band (union + ratio error compounds; 3/sqrt(k) is
    // a generous envelope at k = 256)
    val big = ((1 to 3000).map(i => ("a", i.toLong)) ++
      (2001 to 5000).map(i => ("b", i.toLong))).toDF("g", "v")
    val gotBig = Aggregates.kmvOverlapMatrix(big, "g", "v", k = 256)
      .head().getDouble(2)
    assert(math.abs(gotBig - 1000.0) <= 3000.0 * 3.0 / 16.0,
      s"overlap estimate $gotBig vs true 1000")
    // determinism: the estimate is a pure function of the value sets
    val shuffled = Aggregates.kmvOverlapMatrix(big.repartition(7), "g", "v",
      k = 256).head().getDouble(2)
    assert(shuffled == gotBig)
    // disjoint slices: estimate is exactly 0 at any size (no common hash
    // can enter both sketches)
    val disj = ((1 to 2000).map(i => ("a", i.toLong)) ++
      (10001 to 12000).map(i => ("b", i.toLong))).toDF("g", "v")
    assert(Aggregates.kmvOverlapMatrix(disj, "g", "v", k = 64)
      .head().getDouble(2) == 0.0)
  }

  test("kmvRollingDistinct: window merge ≡ direct window sketch, exact " +
      "under k, calendar windows reach across absent days (r15)") {
    import graft.ops.Aggregates
    import java.sql.Timestamp
    // two keys; key "a" has a GAP (days 1-3 then 8-9) so the calendar
    // window must reach back across absent days
    val rows =
      (1 to 3).flatMap(d => (1 to 10).map(u =>
        ("a", Timestamp.valueOf(f"2024-01-0$d 10:00:00"), s"u${d * 100 + u}"))) ++
      (8 to 9).flatMap(d => (1 to 5).map(u =>
        ("a", Timestamp.valueOf(f"2024-01-0$d 10:00:00"), s"u${d * 100 + u}"))) ++
      (1 to 2).map(d =>
        ("b", Timestamp.valueOf(f"2024-01-0$d 10:00:00"), "same_user"))
    val df = rows.toDF("k", "ts", "uid")
    val got = Aggregates.kmvRollingDistinct(df, Seq("k"), "ts", "uid",
        windowDays = 7, k = 64)
      .select($"k", $"day".cast("string"), $"n_distinct_est")
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2.take(10)) -> r._3).toMap
    // all groups are far under k=64 → estimates are EXACT counts
    assert(got(("a", "2024-01-01")) == 10.0)
    assert(got(("a", "2024-01-02")) == 20.0)
    assert(got(("a", "2024-01-03")) == 30.0)
    // day 8's window [Jan 2, Jan 8] spans the gap: days 2, 3 and 8
    assert(got(("a", "2024-01-08")) == 25.0)
    // day 9's window [Jan 3, Jan 9]: days 3, 8, 9
    assert(got(("a", "2024-01-09")) == 20.0)
    // repeated user counts once per window
    assert(got(("b", "2024-01-01")) == 1.0 && got(("b", "2024-01-02")) == 1.0)
    // only observed (key, day) pairs emit
    assert(got.size == 7)
    // over k: merged window ≡ direct sketch of the window's union (the
    // merge property, at the rolling grain)
    val big = (1 to 2).flatMap(d => (1 to 300).map(u =>
      ("x", Timestamp.valueOf(f"2024-02-0$d 10:00:00"), s"v${d * 1000 + u}")))
      .toDF("k", "ts", "uid")
    val rolled = Aggregates.kmvRollingDistinct(big, Seq("k"), "ts", "uid",
        windowDays = 7, k = 64)
      .filter($"day".cast("string").startsWith("2024-02-02"))
      .select($"n_distinct_est").as[Double].head()
    val direct = Aggregates.kmvDistinct(big, Seq("k"), "uid", k = 64)
      .select($"n_distinct_est").as[Double].head()
    assert(rolled == direct, s"merge property at the rolling grain: " +
      s"$rolled vs $direct")
  }

  test("hashSampleQuantiles: exact under k, ~accurate over, deterministic (r15)") {
    import graft.ops.Aggregates
    def micro(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    // group smaller than k: the sample IS the group — exact percentiles
    val small = (1 to 99).map(i => ("g", i.toLong, i.toDouble))
      .toDF("g", "rid", "v")
    val gotSmall = Aggregates.hashSampleQuantiles(small, Seq("g"), "v",
      "rid", k = 256, qs = Seq(0.5, 0.9)).head()
    assert(gotSmall.getLong(1) == 99L)
    // interpolated: index 0.9·(99−1) = 88.2 → 89 + 0.2 = 89.2
    assert(gotSmall.getLong(2) == micro(50.0) &&
      gotSmall.getLong(3) == micro(89.2))
    // 20k uniform values, k=512 sample: the p50/p90 estimates land within
    // the sampling band (~3/sqrt(k) of the rank ≈ 13% of the range here)
    val big = (1 to 20000).map(i => ("g", i.toLong, i.toDouble))
      .toDF("g", "rid", "v")
    val gotBig = Aggregates.hashSampleQuantiles(big, Seq("g"), "v",
      "rid", k = 512, qs = Seq(0.5, 0.9)).head()
    assert(gotBig.getLong(1) == 512L)
    assert(math.abs(gotBig.getLong(2) - micro(10000.0)) < micro(2700.0),
      s"p50 estimate ${gotBig.getLong(2)}")
    assert(math.abs(gotBig.getLong(3) - micro(18000.0)) < micro(2700.0),
      s"p90 estimate ${gotBig.getLong(3)}")
    // pure function of the data: partitioning cannot move the estimate
    val re = Aggregates.hashSampleQuantiles(big.repartition(13), Seq("g"),
      "v", "rid", k = 512, qs = Seq(0.5, 0.9)).head()
    assert(re.getLong(2) == gotBig.getLong(2) &&
      re.getLong(3) == gotBig.getLong(3))
    intercept[IllegalArgumentException] {
      Aggregates.hashSampleQuantiles(small, Seq("g"), "v", "rid", k = 1,
        qs = Seq(0.5))
    }
  }

  // ---------------------------------------------------------- count–min

  test("countMin: estimates never undercount, and match exactly at " +
      "collision-free width (r15)") {
    val df = (Seq.fill(40)("alpha") ++ Seq.fill(25)("beta") ++
      Seq.fill(3)("gamma") ++ Seq("delta")).toDF("k")
    val sk = Sketches.CountMin.build(df, $"k", depth = 4, width = 8192)
    val probes = Seq("alpha", "beta", "gamma", "delta", "absent").toDF("k")
    val est = Sketches.CountMin.estimate(sk, probes, "k",
      depth = 4, width = 8192)
      .as[(String, Long)].collect().toMap
    val exact = Map("alpha" -> 40L, "beta" -> 25L, "gamma" -> 3L,
      "delta" -> 1L, "absent" -> 0L)
    exact.foreach { case (k, n) =>
      assert(est(k) >= n, s"CMS undercounted $k: ${est(k)} < $n")
    }
    // 4 keys into 8192 buckets × 4 independent rows: no collision in at
    // least one row (deterministic seeds — pinned by running it)
    assert(est == exact, s"collision-free width should be exact: $est")
  }

  test("countMin: slice sketches MERGE to the full-corpus sketch exactly") {
    val full = (1 to 300).map(i => s"k${i % 17}").toDF("k")
    val a = full.limit(140)
    val b = full.exceptAll(a)
    val skFull = Sketches.CountMin.build(full, $"k", depth = 3, width = 64)
    val skMerged = Sketches.CountMin.merge(
      Sketches.CountMin.build(a, $"k", depth = 3, width = 64)
        .unionByName(Sketches.CountMin.build(b, $"k", depth = 3, width = 64)))
    assert(skMerged.orderBy("seed", "bucket").collect().toSeq ==
      skFull.orderBy("seed", "bucket").collect().toSeq)
  }

  test("countMin: weighted build ≡ per-row build on the expanded data") {
    val weighted = Seq(("a", 7L), ("b", 2L), ("c", 11L)).toDF("k", "n")
    val expanded = Seq.fill(7)("a") ++ Seq.fill(2)("b") ++ Seq.fill(11)("c")
    val sw = Sketches.CountMin.build(weighted, $"k", depth = 3, width = 32,
      weight = $"n")
    val se = Sketches.CountMin.build(expanded.toDF("k"), $"k",
      depth = 3, width = 32)
    assert(sw.orderBy("seed", "bucket").collect().toSeq ==
      se.orderBy("seed", "bucket").collect().toSeq)
  }

  test("countMin: repartition invariance; null keys skipped; knob guard") {
    val df = (Seq.fill(9)(Some("x")) ++ Seq(None, Some("y"))).toDF("k")
    val a = Sketches.CountMin.build(df, $"k", depth = 2, width = 16)
    val b = Sketches.CountMin.build(df.repartition(5), $"k",
      depth = 2, width = 16)
    assert(a.orderBy("seed", "bucket").collect().toSeq ==
      b.orderBy("seed", "bucket").collect().toSeq)
    assert(a.agg(sum($"cnt")).head().getLong(0) == 2 * 10L,
      "each non-null row lands once per seed row")
    intercept[IllegalArgumentException] {
      Sketches.CountMin.build(df, $"k", depth = 0, width = 16)
    }
  }

  test("countMin: error stays within εN on a skewed corpus (tight width)") {
    val rnd = new scala.util.Random(5)
    // zipf-ish: key j with frequency ~ 1/j
    val rows = (1 to 4000).map(_ => s"w${(1 / math.max(rnd.nextDouble(), 1e-3)).toInt % 97}")
    val df = rows.toDF("k")
    val w = 128
    val sk = Sketches.CountMin.build(df, $"k", depth = 4, width = w)
    val probes = rows.distinct.toDF("k")
    val est = Sketches.CountMin.estimate(sk, probes, "k", depth = 4, width = w)
      .as[(String, Long)].collect().toMap
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val epsN = math.ceil(math.E / w * rows.size).toLong
    exact.foreach { case (k, n) =>
      assert(est(k) >= n && est(k) <= n + 2 * epsN,
        s"$k: est ${est(k)} vs exact $n (εN=$epsN)")
    }
  }
}
