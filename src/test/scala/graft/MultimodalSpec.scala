package graft

import org.apache.spark.sql.functions._
import graft.ops.Multimodal

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val assets = Multimodal.fromDocuments(
    spark.read.parquet(s"${sf()}/documents.parquet"))

  test("asset shape: payload binary + typed metadata") {
    val schema = assets.schema
    assert(schema("payload").dataType.typeName == "binary")
    assert(schema("meta").dataType.typeName == "struct")
    assert(assets.count() > 0)
  }

  test("metadata-only projection prunes the payload column from the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_assets").toString
    assets.write.mode("overwrite").parquet(dir)
    val plan = Multimodal.metadataOnly(spark.read.parquet(dir))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("payload"), "payload must be pruned from ReadSchema")
  }

  test("stub decode yields deterministic fixed-dim unit features") {
    val f = assets.limit(5).select($"asset_id",
      Multimodal.stubDecodeFeatures(8, $"payload").as("feat"))
    val rows = f.collect()
    assert(rows.forall(_.getSeq[Double](1).length == 8))
    assert(rows.forall(_.getSeq[Double](1).forall(v => v >= 0.0 && v < 1.0)))
    val again = f.collect()
    assert(rows.map(_.getSeq[Double](1)).toSeq == again.map(_.getSeq[Double](1)).toSeq)
  }

  test("frame sampling explodes bounded per-asset rows") {
    val frames = Multimodal.sampleFrames(assets.limit(3), everyNth = 50, maxFrames = 4, dim = 4)
    val counts = frames.groupBy("asset_id").count().as[(Long, Long)].collect().toMap
    assert(counts.values.forall(n => n >= 1 && n <= 4))
  }

  test("perceptual hashes: deterministic, brightness-invariant, short/null -> dropped") {
    import graft.functions.expressions.PerceptualHash
    val base = "x" * 30 + "A" * 40 + "x" * 60 // structured strip, len 130
    val df = Seq(
      (1L, base),
      (2L, base),            // identical bytes → identical prints
      (3L, "short"),         // < 65 bytes → no print
      (4L, base.map(c => (c + 2).toChar)) // +2 brightness everywhere
    ).toDF("doc_id", "text")
    val out = Multimodal.phashes(Multimodal.fromDocuments(df))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 4L)) // 3 dropped
    val m = out.map(r => r._1 -> (r._2, r._3)).toMap
    assert(m(1L) == m(2L))
    // uniform brightness shift moves every cell mean AND the global mean
    // equally → both prints invariant (the property that makes them
    // perceptual rather than cryptographic)
    assert(m(1L) == m(4L))
  }

  test("phash near-dup pairs: noised copy found at small distance, disjoint not") {
    val a = (0 until 200).map(i => ('a' + (i * 7 % 20)).toChar).mkString
    val noised = a.zipWithIndex.map { case (c, i) =>
      if (i % 17 == 0) (c + 1).toChar else c }.mkString
    val b = (0 until 200).map(i => ('A' + (i * 13 % 26)).toChar).mkString
    val df = Seq((1L, a), (2L, noised), (3L, b)).toDF("doc_id", "text")
    val pairs = Multimodal.phashNearDupPairs(Multimodal.fromDocuments(df),
        maxDist = 3)
      .as[(Long, Long, Int)].collect().toSeq
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 <= 3))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("quadrant prints: region edit kills one quadrant, match survives (r15)") {
    val base = (0 until 400).map(i => ('a' + (i * 7 % 20)).toChar).mkString
    // replace the LAST quarter wholesale: q0-q2 bytes identical, q3 gone
    val edited = base.take(300) + ("z" * 100)
    val other = (0 until 400).map(i => ('A' + (i * 13 % 26)).toChar).mkString
    val df = Seq((1L, base), (2L, edited), (3L, other)).toDF("doc_id", "text")
    val assets3 = Multimodal.fromDocuments(df)
    // whole-payload dHash distance is far past q184's radius — the edit
    // corrupts a quarter of the cell grid
    val whole = Multimodal.phashes(assets3)
      .select("asset_id", "dhash").as[(Long, Long)].collect().toMap
    assert(java.lang.Long.bitCount(whole(1L) ^ whole(2L)) > 3,
      "a region edit must defeat the whole-payload radius")
    // ...but 3 of 4 quadrant prints are byte-identical
    val prints = Multimodal.quadrantPrints(assets3)
      .select("asset_id", "q", "print").as[(Long, Int, Long)].collect()
    val byA = prints.filter(_._1 == 1L).map(r => r._2 -> r._3).toMap
    val byB = prints.filter(_._1 == 2L).map(r => r._2 -> r._3).toMap
    assert((0 to 2).forall(q => byA(q) == byB(q)) && byA(3) != byB(3))
    val pairs = Multimodal.quadrantMatches(assets3, minShared = 2)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 3L)), s"got $pairs")
    // sub-grid quadrants (n/4 < 65) emit nothing
    assert(Multimodal.quadrantPrints(Multimodal.fromDocuments(
      Seq((9L, "x" * 200)).toDF("doc_id", "text"))).isEmpty)
    intercept[IllegalArgumentException] {
      Multimodal.quadrantMatches(assets3, quads = 4, minShared = 5)
    }
    graft.util.Caches.releaseAll()
  }

  test("quadrant hot-print cap: a shared constant quadrant across 1k " +
      "assets is dropped, legit pairs survive (r15)") {
    // 1000 assets all ending in the SAME solid fill (letterbox-bar
    // analog): the fourth quadrant of every asset prints identically, so
    // the uncapped (q, print) self-join has one bucket with C(1000, 2) ≈
    // 500k candidate pairs. Asset texts are otherwise distinct; ONE pair
    // (1, 2) shares its first three quadrants byte-identically.
    val base = (0 until 300).map(i => ('a' + (i * 7 % 20)).toChar).mkString
    def mixed(id: Long): String = (0 until 300).map { i =>
      val h = (i * 1315423911L) ^ (id * 2654435761L) ^ ((i + id) * 97L)
      ('a' + math.floorMod(h * 0x9E3779B97F4A7C15L >>> 33, 26L).toInt).toChar
    }.mkString
    val rows = (1L to 1000L).map { id =>
      val head = if (id <= 2L) base else mixed(id)
      (id, head + ("z" * 100))
    }
    val df = rows.toDF("doc_id", "text")
    val assets = Multimodal.fromDocuments(df)
    val capped = Multimodal.quadrantMatches(assets, quads = 4,
        minShared = 2, printCap = Some(64L))
      .as[(Long, Long, Long)].collect().toSeq
    // the legit pair still matches on its 3 discriminating quadrants —
    // the hot q3 bucket contributes nothing (its pairs share only the
    // degenerate region, under minShared anyway)
    assert(capped == Seq((1L, 2L, 3L)), s"got $capped")
    // the cap is what bounds the candidate set: without it the hot
    // bucket alone yields C(1000, 2) join rows; with it the join's
    // biggest key group is <= 64. Assert via the print table directly.
    val prints = Multimodal.quadrantPrints(assets, quads = 4)
    val maxDf = prints.groupBy($"q", $"print").count()
      .agg(max($"count")).as[Long].head()
    assert(maxDf >= 1000L, "test corpus must actually have a hot bucket")
    graft.util.Caches.releaseAll()
  }

  test("PerceptualHash matches a hand-rolled reference over real payloads") {
    import graft.functions.expressions.PerceptualHash
    val df = assets.limit(50).select($"asset_id",
      PerceptualHash.aHash($"payload").as("ca"),
      PerceptualHash.dHash($"payload").as("cd"))
    val rows = df.collect()
    val ref = assets.limit(50).select($"asset_id", $"payload").collect().map { r =>
      val bytes = r.getAs[Array[Byte]]("payload")
      val n = bytes.length
      val h: java.lang.Long = if (n < 64) null else {
        val sums = (0 until 64).map { c =>
          bytes.slice((c.toLong * n / 64).toInt, ((c + 1).toLong * n / 64).toInt)
            .map(_ & 0xFF).map(_.toLong).sum
        }
        val lens = (0 until 64).map(c =>
          ((c + 1).toLong * n / 64 - c.toLong * n / 64))
        val tot = sums.sum
        (0 until 64).foldLeft(0L)((acc, c) =>
          if (sums(c) * n > tot * lens(c)) acc | (1L << c) else acc)
      }
      r.getLong(0) -> h
    }.toMap
    rows.foreach { r =>
      val got = if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1))
      assert(got == ref(r.getLong(0)),
        s"ahash mismatch for asset ${r.getLong(0)}")
    }
  }
}
