package graft

import org.apache.spark.sql.functions._
import graft.ops.Graph

/** PageRank: differential against an in-memory reference implementation,
  * mass conservation, dangling redistribution, and hub ordering.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Reference PageRank on Maps — same semantics, driver-side. */
  private def ref(edges: Seq[(Long, Long)], iters: Int,
                  d: Double = 0.85): Map[Long, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val out = edges.groupBy(_._1).view.mapValues(_.size).toMap
    val n = nodes.size
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 0 until iters) {
      val dangle = nodes.filterNot(out.contains).map(r).sum
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / out(s) }.sum).toMap
      r = nodes.map(v => v ->
        ((1.0 - d) / n + d * (in.getOrElse(v, 0.0) + dangle / n))).toMap
    }
    r
  }

  // a hub (1 -> everyone), a chain, a dangling sink (5 has no out-edges)
  private val edges = Seq(
    (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (3L, 4L), (4L, 1L), (4L, 5L))

  test("pageRank matches the reference implementation on a dangling graph") {
    val got = Graph.pageRank(edges.toDF("src", "dst"), iters = 5)
      .as[(Long, Double)].collect().toMap
    val want = ref(edges, 5)
    assert(got.keySet == want.keySet)
    got.foreach { case (v, r) =>
      assert(math.abs(r - want(v)) < 1e-9, s"node $v: $r vs ${want(v)}")
    }
    // mass is conserved (the dangling node's rank is redistributed, not lost)
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    // 4 receives from the chain AND feeds the cycle: it outranks the sink's
    // upstreams; the dangling sink itself collects only from 4
    assert(got(4L) > got(2L))
  }

  test("pageRank is partitioning-invariant (decimal-accumulated sums)") {
    val a = Graph.pageRank(edges.toDF("src", "dst").repartition(7), iters = 4)
      .as[(Long, Double)].collect().toMap
    val b = Graph.pageRank(edges.toDF("src", "dst").coalesce(1), iters = 4)
      .as[(Long, Double)].collect().toMap
    assert(a == b, "ranks must be bit-identical across partitionings")
  }

  test("pageRank's out-degree counts duplicate edges and self-loops; a " +
      "node with only in-edges is dangling") {
    // (1,2) twice, a self-loop on 3, and 6 reached only from 5
    val odd = Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 3L), (3L, 3L),
      (3L, 1L), (3L, 5L), (5L, 6L))
    val got = Graph.pageRank(odd.toDF("src", "dst"), iters = 6)
      .as[(Long, Double)].collect().toMap
    val want = ref(odd, 6)
    assert(got.keySet == want.keySet)
    got.foreach { case (v, r) =>
      assert(math.abs(r - want(v)) < 1e-9, s"node $v: $r vs ${want(v)}")
    }
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("pageRank of an empty edge list ranks nothing") {
    assert(Graph.pageRank(Seq.empty[(Long, Long)].toDF("src", "dst"),
      iters = 2).collect().isEmpty)
  }

  /** Reference PERSONALIZED PageRank — teleport and dangling mass go to
    * the seed set uniformly.
    */
  private def refPpr(edges: Seq[(Long, Long)], seeds: Set[Long], iters: Int,
                     d: Double = 0.85): Map[Long, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val out = edges.groupBy(_._1).view.mapValues(_.size).toMap
    val s = seeds.intersect(nodes.toSet)
    def t(v: Long): Double = if (s.contains(v)) 1.0 / s.size else 0.0
    var r = nodes.map(v => v -> t(v)).toMap
    for (_ <- 0 until iters) {
      val dangle = nodes.filterNot(out.contains).map(r).sum
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (x, _) => r(x) / out(x) }.sum).toMap
      r = nodes.map(v => v ->
        ((1.0 - d) * t(v) + d * (in.getOrElse(v, 0.0) + dangle * t(v)))).toMap
    }
    r
  }

  test("hits: analytic star graph, driver differential, L1 sums, " +
      "partitioning-invariant (r15)") {
    // star: hubs 1,2,3 all point at authority 10; hub 1 ALSO points at a
    // side authority 11. After any round: auth(10) dominates auth(11);
    // hub(1) dominates hubs 2,3 (it touches more authority mass).
    val edges = Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 11L))
      .toDF("src", "dst")
    val got = Graph.hits(edges, iters = 2)
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(10L)._2 > got(11L)._2, s"10 must out-authority 11: $got")
    assert(got(1L)._1 > got(2L)._1 && got(2L)._1 == got(3L)._1)
    assert(got(10L)._1 == 0.0 && got(1L)._2 == 0.0,
      "pure authorities have no hub score and vice versa")
    // L1 normalization: each column sums to ~1
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-9)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-9)
    // driver-side differential: same recurrence on Maps
    def ref(es: Seq[(Long, Long)], iters: Int) = {
      val ns = (es.map(_._1) ++ es.map(_._2)).distinct
      var h = ns.map(_ -> 1.0).toMap
      var a = ns.map(_ -> 0.0).toMap
      for (_ <- 0 until iters) {
        val ar = ns.map(n => n -> es.filter(_._2 == n).map(e =>
          BigDecimal(h(e._1)).setScale(12, BigDecimal.RoundingMode.HALF_UP))
          .sum).toMap
        val at = ar.values.sum
        a = ar.map { case (n, v) =>
          n -> (if (at == 0) 0.0 else (v.toDouble / at.toDouble)) }
        val hr = ns.map(n => n -> es.filter(_._1 == n).map(e =>
          BigDecimal(a(e._2)).setScale(12, BigDecimal.RoundingMode.HALF_UP))
          .sum).toMap
        val ht = hr.values.sum
        h = hr.map { case (n, v) =>
          n -> (if (ht == 0) 0.0 else (v.toDouble / ht.toDouble)) }
      }
      ns.map(n => n -> ((math.rint(h(n) * 1e10) / 1e10,
        math.rint(a(n) * 1e10) / 1e10))).toMap
    }
    val es2 = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 3L))
    val want = ref(es2, 3)
    val got2 = Graph.hits(es2.toDF("src", "dst"), iters = 3)
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got2 == want, s"got $got2 want $want")
    // decimal accumulation ⇒ identical under repartitioning
    val rep = Graph.hits(es2.toDF("src", "dst").repartition(7), iters = 3)
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rep == got2)
    graft.util.Caches.releaseAll()
  }

  test("personalizedPageRank: seed-restart semantics, differential, refusals (r15)") {
    val seeds = Seq(1L).toDF("node")
    val got = Graph.personalizedPageRank(edges.toDF("src", "dst"), seeds,
      iters = 5).as[(Long, Double)].collect().toMap
    val want = refPpr(edges, Set(1L), 5)
    got.foreach { case (v, r) =>
      assert(math.abs(r - want(v)) < 1e-9, s"node $v: $r vs ${want(v)}")
    }
    // mass conserved (dangling restarts at the seed, never leaks)
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    // proximity, not importance: the seed's direct neighbors outrank the
    // far side of the chain
    assert(got(2L) > got(5L))
    // the seed holds the most mass (it receives every restart)
    assert(got(1L) == got.values.max)
    // a seed OUTSIDE the graph contributes nothing; all-outside refuses
    val got2 = Graph.personalizedPageRank(edges.toDF("src", "dst"),
      Seq(1L, 999L).toDF("node"), iters = 3).as[(Long, Double)]
      .collect().toMap
    val want2 = refPpr(edges, Set(1L), 3)
    got2.foreach { case (v, r) => assert(math.abs(r - want2(v)) < 1e-9) }
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(edges.toDF("src", "dst"),
        Seq(999L).toDF("node"), iters = 2)
    }
    graft.util.Caches.releaseAll()
  }

  test("labelPropagation: two triangles joined by a bridge keep their " +
      "min labels; isolated pair collapses; fixed rounds deterministic " +
      "under repartitioning (r16)") {
    import graft.ops.Graph
    // triangle {1,2,3} — bridge 3–4 — triangle {4,5,6}; pair {10,11}
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L), (10L, 11L)).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, iters = 3)
      .as[(Long, Long)].collect().toMap
    // min-tie-break drives triangle labels to their smallest member;
    // after 3 rounds label 1 has propagated through the bridge
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    // the isolated PAIR oscillates under synchronous updates (the known
    // sync-LPA bipartite behavior — documented): odd rounds swap labels
    assert(got(10L) == 11L && got(11L) == 10L)
    // the full assignment is partitioning-invariant
    val re = Graph.labelPropagation(edges.repartition(5), iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(re == got)
    // one round: a node adopts its neighbourhood majority — node 5's
    // neighbours {4, 6} tie at one vote each, smallest label wins
    val one = Graph.labelPropagation(edges, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(one(5L) == 4L)
    intercept[IllegalArgumentException] {
      Graph.labelPropagation(edges, iters = 0)
    }
    graft.util.Caches.releaseAll()
  }

  test("releasing a lineage cut logs no lost-lineage warning") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("cut-release", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        warned.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    // the suite logs at ERROR; listen at WARN on the RDD loggers only
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val rdds = new LoggerConfig("org.apache.spark.rdd", Level.WARN, false)
    rdds.addAppender(appender, Level.WARN, null)
    ctx.getConfiguration.addLogger(rdds.getName, rdds)
    ctx.updateLoggers()
    try {
      val ranks = Graph.pageRank(edges.toDF("src", "dst"), iters = 3)
      assert(ranks.collect().length == 5)
      assert(!spark.sparkContext.getPersistentRDDs.isEmpty)
      graft.util.Caches.releaseAll()
    } finally {
      ctx.getConfiguration.removeLogger(rdds.getName)
      ctx.updateLoggers()
      appender.stop()
    }
    val lost = warned.toArray.map(_.toString)
      .filter(_.contains("locally checkpointed"))
    assert(lost.isEmpty, lost.mkString("\n"))
  }

  test("releaseAll frees every block the iterative operators pin, " +
      "including the lineage cuts their results still read") {
    import graft.model.AnnSweep
    import graft.ops.{Bpe, MinHashDedup}
    val sc = spark.sparkContext
    // start from an empty registry: earlier tests may have left blocks
    // that only the ContextCleaner (post-GC) would reclaim
    spark.catalog.clearCache()
    graft.util.Caches.releaseAll()
    sc.getPersistentRDDs.values.foreach(_.unpersist(true))
    val es = edges.toDF("src", "dst")
    // an 8-node path: dupGroups takes 7 rounds on it, so cut rounds
    // (every third) and cached rounds both occur
    val path = (0L until 7L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val sweep = Seq(("flat_adc", 1L, 200000L, 2000L, 0L),
      ("sq8", 1L, 900000L, 32000L, 0L))
      .toDF("rung", "refine", "recall_micro", "code_bytes", "float_rows")
    val held = Seq(
      Graph.pageRank(es, iters = 3),
      Graph.personalizedPageRank(es, Seq(1L).toDF("node"), iters = 3),
      Graph.kCore(es, k = 2, rounds = 4),
      Graph.hits(es, iters = 2),
      Graph.labelPropagation(es, iters = 2),
      MinHashDedup.dupGroups(path),
      MinHashDedup.dupGroupsStar(path),
      Bpe.trainMerges(Seq((1L, "low low lower newest")).toDF("doc_id", "text"),
        "text", rounds = 3),
      AnnSweep.selectRung(sweep, 100000L, 512L))
    held.foreach(df => assert(df.collect().nonEmpty))
    assert(sc.getPersistentRDDs.nonEmpty,
      "the held results should still pin their final rounds")
    graft.util.Caches.releaseAll()
    assert(sc.getPersistentRDDs.isEmpty,
      s"releaseAll left live blocks: ${sc.getPersistentRDDs.keySet}")
  }
}
