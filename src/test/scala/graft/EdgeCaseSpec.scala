package graft

import org.apache.spark.sql.functions._
import graft.ops._
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}

/** Adversarial/edge inputs through the operator surface: empty relations,
  * unicode/emoji text, degenerate documents, zero vectors — nothing may
  * throw under ANSI mode (Spark 4 default), and empty in ⇒ empty out.
  */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emptyDocs =
    Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("empty inputs flow through dedup/window/similarity operators") {
    assert(Dedup.keepLast(emptyDocs, Seq("doc_id"), Seq(col("text").desc)).isEmpty)
    assert(MinHashDedup.nearDupPairs(emptyDocs, "doc_id", "text").isEmpty)
    assert(SimHashDedup.nearDupPairs(emptyDocs, "doc_id", "text").isEmpty)
    assert(SetSimJoin.jaccardPairs(emptyDocs, "doc_id", "text", 3, 0.5).isEmpty)
    assert(TextEmbed.hashEmbed(emptyDocs, "doc_id", "text", 16).isEmpty)
    val emptyBars = Seq.empty[(String, java.sql.Timestamp, Double, Long)]
      .toDF("k", "t", "px", "seq")
    assert(Resample.ohlc(emptyBars, "k", "t", "px", "seq", "month").isEmpty)
    assert(Windows.sma(emptyBars, Seq("k"), Seq(col("t")), "px", 3, "m").isEmpty)
  }

  test("connected components and threshold pairs on empty/singleton inputs") {
    val emptyPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(MinHashDedup.dupGroups(emptyPairs).isEmpty)
    val single = Seq((7L, Seq.fill(8)(1.0f))).toDF("vec_id", "embedding")
    assert(Similarity.thresholdPairs(single, 0.5, blocks = 4).isEmpty)
    assert(Similarity.lshThresholdPairs(single, 0.5, nBits = 4, nTables = 2, dim = 8).isEmpty)
    graft.util.Caches.releaseAll()
    val emptyVecs = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Similarity.thresholdPairs(emptyVecs, 0.5).isEmpty)
  }

  test("round-8 operators: empty and degenerate inputs flow through") {
    // empty corpora: empty in ⇒ empty out, no ANSI throws
    assert(LmStats.scoreDocs(emptyDocs, "doc_id", "text").isEmpty)
    assert(Boilerplate.stripBoilerplate(emptyDocs, "doc_id", "text", 2L).isEmpty)
    assert(Sampling.mixToBudget(emptyDocs, "text", "doc_id", lit(1L),
      Map("en" -> 1.0), 100L).isEmpty)
    assert(SetSimJoin.keptIncrement(emptyDocs, emptyDocs, "doc_id", "text",
      3, 0.5).isEmpty)
    graft.util.Caches.releaseAll()
    // a source whose total token count is ZERO must not divide by zero and
    // must keep nothing (there is nothing to budget)
    val zeroTok = Seq((1L, "en")).toDF("doc_id", "lang")
    assert(Sampling.mixToBudget(zeroTok, "lang", "doc_id", lit(0L),
      Map("en" -> 1.0), 100L).isEmpty)
    // single-row group: winsorize clamps to the value itself; robust z
    // has MAD 0 → null score, nothing flagged
    val one = Seq((42.0, "g")).toDF("v", "g")
    val w = Outliers.winsorize(one, Seq("g"), "v")
    assert(w.count() == 1 && w.select("v_w").as[Double].head() == 42.0)
    val rz = Outliers.tagRobustZ(one, Seq("g"), "v")
    assert(rz.filter(col("is_outlier")).count() == 0)
    // forward as-of with empty right side: all-null payloads, rows kept
    val left = Seq((1, 10L)).toDF("k", "t")
    val emptyRight = Seq.empty[(Int, Long, String)].toDF("k", "rt", "p")
    val fwd = AsOfJoin.forward(left, emptyRight, "k", "t", "rt", Seq("p"))
    assert(fwd.count() == 1 && fwd.head().isNullAt(fwd.head().fieldIndex("asof_p")))
  }

  test("unicode, emoji, huge tokens, and whitespace-only text don't throw") {
    val weird = Seq(
      (1L, "héllo wörld 你好 世界 你好"),
      (2L, "🎉🎉 emoji 🎉 mixed with ascii"),
      (3L, "x" * 10000 + " tiny"),
      (4L, "   \t  \n  "),
      (5L, "")
    ).toDF("doc_id", "text")
    val stats = weird.select(
      TF.tokenCount($"text").as("n"),
      TF.bpeishCount($"text").as("b"),
      TF.fingerprint(TF.tokens($"text")).as("fp"),
      size(TF.shingles(TF.tokens($"text"), 3)).as("sh")).collect()
    assert(stats.length == 5)
    assert(stats.forall(r => r.getInt(0) >= 0))
    // dedup ops run end-to-end on the same weird corpus
    assert(MinHashDedup.nearDupPairs(weird, "doc_id", "text").count() >= 0)
    assert(SimHashDedup.nearDupPairs(weird, "doc_id", "text").count() >= 0)
    assert(TextEmbed.cosineNearDupDocs(weird, "doc_id", "text", 16, 0.9).count() >= 0)
  }

  test("zero and mismatched-length vectors are safe") {
    val vecs = Seq(
      (1L, Array(0.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 2.0f, 3.0f)),
      (3L, Array(1.0f, 2.0f)) // shorter: dot is NULL (matches HOF semantics)
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.thresholdPairs(vecs, threshold = -1.0).collect()
    // (2,3) mismatched lengths -> dot NULL -> filtered; (1,2) and (1,3)
    // survive because the zero-norm guard scores them 0 before any dot runs
    assert(pairs.length == 2)
    assert(pairs.forall(_.getAs[Double]("score") == 0.0))
    val zeroPair = Similarity.thresholdPairs(vecs.filter($"vec_id" <= 2), -1.0).head()
    assert(zeroPair.getAs[Double]("score") == 0.0) // zero vector scores 0, not NaN
  }

  test("native dot NULL semantics match the HOF formulation on edge inputs") {
    val df = Seq(
      (Array(1.0f), Array(1.0f, 2.0f)), // length mismatch
      (Array(1.0f, 2.0f), Array(3.0f, 4.0f))
    ).toDF("a", "b")
    val got = df.select(VF.dot($"a", $"b").as("n"), VF.dotHof($"a", $"b").as("h"))
      .collect()
    assert(got(0).isNullAt(0) && got(0).isNullAt(1)) // both NULL on mismatch
    assert(got(1).getDouble(0) == 11.0 && got(1).getDouble(1) == 11.0)
  }

  test("as-of join with empty right side yields all-null payloads") {
    val left = Seq((1, 5L, "x")).toDF("k", "t", "tag")
    val right = Seq.empty[(Int, Long, String)].toDF("k", "rt", "payload")
    val out = AsOfJoin.backward(left, right, "k", "t", "rt", Seq("payload"))
    assert(out.count() == 1 && out.head().isNullAt(out.head().fieldIndex("asof_payload")))
  }

  test("r14 edges: phash grid boundary, copyInto on non-manifest root, kmv singleton") {
    import graft.ops.{Aggregates, Multimodal}
    import graft.sources.Layout
    // exactly MinPayloadBytes → both prints defined; one byte fewer → dropped
    val boundary = Seq(
      (1L, "x" * graft.functions.expressions.PerceptualHash.MinPayloadBytes),
      (2L, "x" * (graft.functions.expressions.PerceptualHash.MinPayloadBytes - 1))
    ).toDF("doc_id", "text")
    val prints = Multimodal.phashes(Multimodal.fromDocuments(boundary))
    assert(prints.select($"asset_id").as[Long].collect().toSet == Set(1L))
    // copyInto demands a manifest root, loudly: a plain parquet dir is none
    val hl = java.nio.file.Files.createTempDirectory("graft_edge_hl").toString + "/t"
    Seq((1L, "p", 1.0)).toDF("id", "part", "v").write.parquet(hl)
    val e = intercept[IllegalArgumentException] {
      Layout.copyInto(spark, hl, "/nowhere") }
    assert(e.getMessage.contains("manifest root"))
    // kmv: single distinct value, k = 2 → exact 1.0
    val one = Seq(("g", 5L), ("g", 5L), ("g", 5L)).toDF("g", "v")
    assert(Aggregates.kmvDistinct(one, Seq("g"), "v", k = 2)
      .head().getDouble(1) == 1.0)
  }

  test("r14 continuation edges: triangles, holt, audio, blocklist degenerates") {
    import graft.ops.{Graph, Multimodal, Windows}
    // empty edge set / self-loops-only / two-node graph: no triangles
    val emptyEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.triangleCounts(emptyEdges).isEmpty)
    assert(Graph.triangleCounts(
      Seq((1L, 1L), (2L, 2L)).toDF("src", "dst")).isEmpty)
    assert(Graph.triangleCounts(
      Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")).isEmpty)
    // holt: empty frame flows through; single observation = (x, 0, x)
    val emptyS = Seq.empty[(String, Long, Double)].toDF("k", "seq", "v")
    assert(Windows.holt(emptyS, Seq("k"), Seq("seq"), "v", 0.3, 0.1).isEmpty)
    val single = Windows.holt(Seq(("a", 1L, 7.0)).toDF("k", "seq", "v"),
      Seq("k"), Seq("seq"), "v", 0.3, 0.1)
      .select("level", "trend", "forecast").as[(Double, Double, Double)].head()
    assert(single == ((7.0, 0.0, 7.0)))
    // audio: empty corpus and all-sub-frame payloads emit no rows
    val emptyAssets = Seq.empty[(Long, Array[Byte])].toDF("asset_id", "payload")
    assert(Multimodal.silenceProfile(emptyAssets, 4, 100L).isEmpty)
    val tiny = Seq((1L, Array[Byte](1, 2, 3))).toDF("asset_id", "payload")
    assert(Multimodal.silenceProfile(tiny, 4, 100L).isEmpty)
    // blocklist: empty text matches nothing; pattern longer than text too
    assert(Seq("").toDF("t")
      .select(TF.blocklistHits($"t", Seq("x")).as("h"))
      .as[Seq[String]].head() == Seq.empty)
    assert(Seq("ab").toDF("t")
      .select(TF.blocklistHits($"t", Seq("abc")).as("h"))
      .as[Seq[String]].head() == Seq.empty)
  }
}
