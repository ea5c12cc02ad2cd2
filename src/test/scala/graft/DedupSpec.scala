package graft

import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Keep-last semantics (extraction.py:105), anti-join idempotence
  * (loading.py:159-176), union; plus seeded randomized properties.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("keepLast keeps exactly the highest-precedence row per key") {
    val df = Seq(
      ("A", 1, 10, "old"), ("A", 1, 20, "new"), ("A", 2, 5, "only"),
      ("B", 1, 7, "x"), ("B", 1, 7, "x2")
    ).toDF("k1", "k2", "prec", "tag")
    val out = Dedup.keepLast(df, Seq("k1", "k2"),
      Seq(col("prec").desc, col("tag").desc))
    val got = out.orderBy("k1", "k2").as[(String, Int, Int, String)].collect().toSeq
    assert(got == Seq(("A", 1, 20, "new"), ("A", 2, 5, "only"), ("B", 1, 7, "x2")))
  }

  test("keepLast is idempotent") {
    val df = Seq(("A", 1, 1), ("A", 2, 2), ("A", 3, 3), ("B", 9, 1))
      .toDF("k", "prec", "v")
    val once = Dedup.keepLast(df, Seq("k"), Seq(col("prec").desc))
    val twice = Dedup.keepLast(once, Seq("k"), Seq(col("prec").desc))
    assert(once.collect().toSet == twice.collect().toSet)
  }

  test("newRows twice appends nothing new (load idempotence)") {
    val target = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val staging = Seq((2L, "b2"), (3L, "c")).toDF("id", "v")
    val delta = Dedup.newRows(staging, target, Seq("id"))
    assert(delta.as[(Long, String)].collect().toSet == Set((3L, "c")))
    val afterLoad = target.unionByName(delta)
    val again = Dedup.newRows(staging, afterLoad, Seq("id"))
    assert(again.isEmpty)
  }

  test("unionAll is column-name based, not positional") {
    val a = Seq((1, "x")).toDF("n", "s")
    val b = Seq(("y", 2)).toDF("s", "n")
    val u = Dedup.unionAll(Seq(a, b)).orderBy("n").as[(Int, String)].collect().toSeq
    assert(u == Seq((1, "x"), (2, "y")))
  }

  test("property: dedup row count = distinct key count (randomized, seeded)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 5) {
      val pairs = List.fill(60)((rnd.nextInt(10), rnd.nextInt(1000)))
      val df = pairs.toDF("k", "prec")
      val d = Dedup.keepLast(df, Seq("k"), Seq(col("prec").desc, col("k")))
      assert(d.count() == pairs.map(_._1).distinct.size)
    }
  }

  test("dupGroups resolves planted 3-chains transitively (canonicalIds cannot)") {
    import graft.ops.MinHashDedup
    // 3-chain (1-2-3, NO direct 1-3 edge), 4-chain, isolated pair, triangle
    val pairs = Seq(
      (1L, 2L), (2L, 3L),
      (10L, 11L), (11L, 12L), (12L, 13L),
      (20L, 21L),
      (30L, 31L), (31L, 32L), (30L, 32L)
    ).toDF("id_a", "id_b")
    val got = MinHashDedup.dupGroups(pairs)
      .as[(Long, Long)].collect().toMap
    val expected = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 30L, 32L -> 30L)
    assert(got == expected)
    // the single-hop collapse splits the chain — documents why dupGroups exists
    val oneHop = MinHashDedup.canonicalIds(pairs)
      .as[(Long, Long)].collect().toMap
    assert(oneHop(3L) == 2L, "single-hop mislabels chain tails")
  }

  test("dupGroups converges on a long path (label must travel the diameter)") {
    import graft.ops.MinHashDedup
    val path = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = MinHashDedup.dupGroups(path).as[(Long, Long)].collect().toMap
    assert(got == (0L to 12L).map(_ -> 0L).toMap)
  }

  test("dupGroupsStar ≡ dupGroups on random graphs; wins on deep chains") {
    import graft.ops.MinHashDedup
    // differential on seeded random graphs (mixed chains/stars/triangles)
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 80
      val pairs = List.fill(120)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .toDF("id_a", "id_b")
      val viaLabel = MinHashDedup.dupGroups(pairs).as[(Long, Long)].collect().toMap
      val viaStar = MinHashDedup.dupGroupsStar(pairs).as[(Long, Long)].collect().toMap
      assert(viaStar == viaLabel, s"trial $trial diverged")
    }
    // planted shapes incl. self-loop-only node
    val planted = Seq((1L, 2L), (2L, 3L), (20L, 21L), (30L, 31L), (31L, 32L),
      (30L, 32L), (40L, 40L)).toDF("id_a", "id_b")
    assert(MinHashDedup.dupGroupsStar(planted).as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 20L -> 20L, 21L -> 20L,
        30L -> 30L, 31L -> 30L, 32L -> 30L, 40L -> 40L))
    // a 60-hop chain: min-label would need 60 rounds — it must now FAIL
    // LOUDLY at maxIter (unconverged labels are wrong, not approximate) —
    // while star rewriting contracts it within its default budget
    val deep = (0L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] { MinHashDedup.dupGroups(deep, maxIter = 10) }
    // the star loop fails just as loudly when its budget runs out
    intercept[IllegalStateException] { MinHashDedup.dupGroupsStar(deep, maxIter = 1) }
    val star = MinHashDedup.dupGroupsStar(deep).as[(Long, Long)].collect().toMap
    assert(star == (0L to 60L).map(_ -> 0L).toMap)
  }

  test("jaccardPairs dfCap drops only stop-shingle-dependent pairs") {
    import graft.ops.SetSimJoin
    // every doc contains the stop 3-gram "zz zz zz"; docs 1/2 additionally
    // share real content; 3..6 share nothing else
    val stop = "zz zz zz"
    val docs = Seq(
      (1L, s"alpha beta gamma delta $stop"),
      (2L, s"alpha beta gamma delta epsilon $stop"),
      (3L, s"one two three $stop"),
      (4L, s"four five six $stop"),
      (5L, s"seven eight nine $stop"),
      (6L, s"ten eleven twelve $stop")
    ).toDF("doc_id", "text")
    val uncapped = SetSimJoin.jaccardPairs(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.05)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // the stop shingle alone links every doc pair at this low threshold
    assert(uncapped.size > 1 && uncapped.contains((3L, 4L)))
    val capped = SetSimJoin.jaccardPairs(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.05, dfCap = Some(3L))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == Set((1L, 2L)),
      s"cap must keep real-overlap pairs and drop stop-only pairs: $capped")
  }

  test("jaccardPairs blockCol: NULL blocks are null-rejecting (never pair)") {
    import graft.ops.SetSimJoin
    // 1/2 and 3/4 are near-identical; 3/4 carry a NULL block. The SQL join
    // contract this bucketed formulation replaced (`x.block = y.block`)
    // never pairs NULL blocks — pinned here so grouping can't silently
    // treat NULL as one shared block.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon", Some("en")),
      (2L, "alpha beta gamma delta zeta", Some("en")),
      (3L, "one two three four five", None),
      (4L, "one two three four six", None)
    ).toDF("doc_id", "text", "lang")
    val got = SetSimJoin.jaccardPairs(docs, "doc_id", "text",
        shingleN = 2, threshold = 0.1, blockCol = Some("lang"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)), s"NULL-block docs must not pair: $got")
  }

  test("incrementalNew: bloom-gated anti-join is EXACT vs the plain anti-join") {
    val corpus = (1L to 400L).map(i => (i, i * 31 % 997)).toDF("doc_id", "fp")
    // fresh = 100 genuinely new + 40 replays of corpus fingerprints
    val fresh = ((1000L to 1099L).map(i => (i, 1000 + i)) ++
      (1L to 40L).map(i => (5000L + i, i * 31 % 997))).toDF("doc_id", "fp")
    val got = Dedup.incrementalNew(fresh, corpus, "fp")
      .select($"doc_id").as[Long].collect().toSet
    val want = fresh.join(corpus.select($"fp").distinct(), Seq("fp"), "left_anti")
      .select($"doc_id").as[Long].collect().toSet
    assert(got == want)
    assert(got == (1000L to 1099L).toSet)
    // empty corpus: everything is new
    val empty = corpus.filter(lit(false))
    assert(Dedup.incrementalNew(fresh, empty, "fp").count() == fresh.count())
  }
}
