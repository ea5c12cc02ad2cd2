package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{Layout, ManifestIndex}

/** Round-10 review-pass regressions: each test pins one fixed finding.
  */
class ReviewFixSpec extends SparkSpec {
  import spark.implicits._

  private def rows(rs: (Long, String, Double)*) = rs.toDF("id", "part", "v")

  private def manifestRoot(tag: String): String = {
    val root = Files.createTempDirectory(s"graft_rf_$tag").toString + "/t"
    Layout.initVersionedManifest(
      rows((1L, "p1", 10.0), (2L, "p1", 20.0), (3L, "p2", 30.0)),
      root, Seq("part"))
    root
  }

  test("DELETE drops exactly predicate-TRUE rows: NULLs survive in every leaf") {
    // x is NULL for id=1 (leaf p1, which also holds a TRUE match) and for
    // id=3 (leaf p2, no TRUE match) — before the fix the p1 null died and
    // the p2 null lived, same predicate, layout-dependent answers
    val df = Seq((1L, "p1", Option.empty[Double]), (2L, "p1", Some(9.0)),
      (3L, "p2", Option.empty[Double]), (4L, "p2", Some(1.0)))
      .toDF("id", "part", "x")
    // partitioned, and unpartitioned (one leaf holding every row)
    for (pcols <- Seq(Seq("part"), Nil)) {
      val root = Files.createTempDirectory("graft_rf_null").toString + "/t"
      Layout.initVersionedManifest(df, root, pcols)
      Layout.deleteVersionedPartitioned(spark, root, col("x") > 5.0, pcols)
      val kept = Layout.readCurrent(spark, root)
        .select("id").as[Long].collect().toSet
      assert(kept == Set(1L, 3L, 4L),
        s"pcols=$pcols: null-x rows must survive everywhere, got $kept")
    }
  }

  test("a crashed claimer's manifest ahead of the pointer is invisible to vacuum, AS OF and history") {
    val root = manifestRoot("orphan")
    Layout.mergeVersionedPartitioned(spark, root,
      rows((2L, "p1", 99.0)), Seq("id"), "part") // v1 committed
    // simulate a writer that wrote v00002.manifest and died BEFORE the
    // pointer flip: copy v1's manifest to v2's name, pointer stays at v1
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      ManifestIndex.manifestPath(root, "v00001"), fs,
      ManifestIndex.manifestPath(root, "v00002"), false,
      spark.sparkContext.hadoopConfiguration)
    // history shows only committed versions; AS OF never serves v2
    assert(Layout.history(spark, root).agg(max($"version")).head().getInt(0) == 1)
    assert(Layout.versionAsOf(spark, root,
      System.currentTimeMillis() + 60000) == 1)
    // vacuum keep=1 must retain the LIVE v1, not count the orphan as the
    // one kept version and doom v1 (which bricked the table pre-fix)
    Layout.vacuumVersions(spark, root, keep = 1)
    assert(Layout.readCurrent(spark, root)
      .select("id", "v").as[(Long, Double)].collect().toSet ==
      Set((1L, 10.0), (2L, 99.0), (3L, 30.0)))
  }

  test("re-initializing a live manifest root is refused, not overwritten") {
    val root = manifestRoot("reinit")
    Layout.mergeVersionedPartitioned(spark, root,
      rows((4L, "p1", 40.0)), Seq("id"), "part")
    intercept[IllegalArgumentException](
      Layout.initVersionedManifest(rows((9L, "p1", 9.0)), root, Seq("part")))
    // the table is untouched
    assert(Layout.readCurrent(spark, root).count() == 4L)
  }

  test("no-match DELETE and no-op COMPACT claim no version, both modes") {
    // partitioned, and unpartitioned (one leaf holding every row)
    for (pcols <- Seq(Seq("part"), Nil)) {
      val root = Files.createTempDirectory("graft_rf_noop").toString + "/t"
      Layout.initVersionedManifest(rows((1L, "p1", 10.0)), root, pcols)
      val before = Layout.resolveCurrent(spark, root)
      assert(Layout.deleteVersionedPartitioned(spark, root,
        col("id") === 999L, pcols) == before,
        s"pcols=$pcols: no-match delete must be a no-op")
    }
    val root = manifestRoot("compact")
    val cur = Layout.resolveCurrent(spark, root)
    val (path, n) = Layout.compactVersionedPartitioned(spark, root,
      targetBytes = 1L, maxFiles = 64) // nothing trips either threshold
    assert(n == 0 && path == cur, "nothing fragmented: no version claimed")
  }

  test("bm25 normalizes query terms like the corpus tokenizer") {
    val docs = Seq((1L, "data engine"), (2L, "other text"))
      .toDF("doc_id", "text")
    val got = graft.ops.Retrieval.bm25(docs, "doc_id", "text",
      Seq("  Data "), topK = 5).select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(1L), "mixed-case/padded terms must still match")
  }

  test("temperatureMix: null-source rows neither sample nor inflate the normalizer") {
    val docs = Seq(
      (1L, "en", "a b c d"), (2L, "en", "e f g h"),
      (3L, null.asInstanceOf[String], "i j k l"),
      (4L, null.asInstanceOf[String], "m n o p"))
      .toDF("doc_id", "lang", "text")
    val tok = graft.functions.TextFunctions.tokenCount(col("text"))
    // target = the full en token mass: with the null group excluded from
    // the normalizer, en's fraction caps at 1 and EVERY en doc is kept
    val kept = graft.ops.Sampling.temperatureMix(
        docs, "lang", "doc_id", tok, alpha = 0.5, targetTokens = 8L)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L),
      s"null-lang mass must not deflate en's share: $kept")
  }
}
