package graft

import graft.ops.Graph

/** The wedge-join skew guard (r19): salting a hot oriented key must be
  * invisible in results, and a uniform graph must take the exact
  * pre-guard plan (no Generate/explode, no salt column).
  */
class TriangleSkewSpec extends SparkSpec {
  import spark.implicits._

  /** A skewed wedge owner: node 1 has low degree-rank neighbors? No —
    * orientation sends edges to the LOWER (deg, node) endpoint, so the
    * hot key is a node whose many neighbors all out-rank it. Build node 1
    * with `spokes` neighbors, each spoke also chained to 3 extra nodes so
    * every spoke out-ranks node 1; spokes are pairwise-ringed so real
    * triangles exist through the hot wedges.
    */
  private def skewed(spokes: Int): Seq[(Long, Long)] = {
    val hub = (2L to (spokes + 1).toLong).map(s => (1L, s))
    val ring = (2L to (spokes + 1).toLong).map(s =>
      (s, if (s == (spokes + 1).toLong) 2L else s + 1))
    // every spoke gets more tail edges than the hub has spokes, so each
    // spoke OUT-RANKS the hub and the hub owns all `spokes` oriented
    // edges — the hot wedge key the guard exists for
    val tails = (2L to (spokes + 1).toLong).flatMap(s =>
      (1 to (spokes + 2)).map(i => (s, 10000L + s * 100 + i)))
    hub ++ ring ++ tails
  }

  private def counts(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.triangleCounts(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  test("salted hot-key path returns exactly the unguarded counts") {
    val edges = skewed(24)
    val unguarded = counts(edges) // default cap: guard never fires here
    spark.conf.set("graft.triangles.wedgeRowsPerTask", "9") // n > 3 is hot
    try {
      val guarded = counts(edges)
      assert(guarded == unguarded)
      assert(guarded.nonEmpty) // the ring closes triangles through node 1
    } finally spark.conf.unset("graft.triangles.wedgeRowsPerTask")
  }

  test("no key over the bound: the exact pre-guard plan (no salt explode)") {
    val edges = skewed(8)
    val df = Graph.triangleCounts(edges.toDF("src", "dst"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("__salt"), "uniform plan must not carry a salt")
  }

  test("guard fires on the hot key: the salted plan carries the explode") {
    spark.conf.set("graft.triangles.wedgeRowsPerTask", "9")
    try {
      val df = Graph.triangleCounts(skewed(24).toDF("src", "dst"))
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("__salt"), "skewed plan must salt the wedge join")
    } finally spark.conf.unset("graft.triangles.wedgeRowsPerTask")
  }

  test("a wedge cap that is not a positive integer fails naming the key") {
    for (bad <- Seq("abc", "0", "-3")) {
      spark.conf.set("graft.triangles.wedgeRowsPerTask", bad)
      try {
        val e = intercept[IllegalArgumentException] { counts(skewed(8)) }
        assert(e.getMessage.contains("graft.triangles.wedgeRowsPerTask"),
          e.getMessage)
      } finally spark.conf.unset("graft.triangles.wedgeRowsPerTask")
    }
  }
}
