package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.{Layout, ManifestIndex}

/** Round-10 file-level data skipping: the manifest records per-file
  * min/max/null-count envelopes for eligible data columns, and
  * `ManifestFileIndex.listFiles` drops files whose envelope cannot satisfy
  * the pushed data filters — before a task is planned for them. These
  * tests pin (a) the stats themselves, (b) the skip visible in
  * `selectedPartitions`, (c) conservative behavior around missing stats,
  * evolution, all-null columns and over-long strings, and (d) that pruned
  * results always equal unpruned ones.
  */
class ManifestStatsSpec extends SparkSpec {
  import spark.implicits._

  /** Files a read actually plans, after partition pruning AND data skipping. */
  private def scannedFiles(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.flatMap(_.selectedPartitions.toPartitionArray.map(_.filePath.toString))

  /** One leaf, four files with disjoint id ranges (range partitioning makes
    * the envelopes tight), ids 0..999.
    */
  private def rangedRoot(): String = {
    val root = Files.createTempDirectory("graft_stats").toString
    val df = spark.range(1000)
      .select($"id", lit("p1").as("part"),
        concat(lit("doc-"), format_string("%04d", $"id")).as("name"),
        when($"id" % 10 === 0, $"id" * 2.0).as("score"))
      .repartitionByRange(4, $"id")
    Layout.initVersionedManifest(df, root, Seq("part"))
    root
  }

  test("init records exact per-file stats for eligible columns") {
    val root = rangedRoot()
    val m = ManifestIndex.read(spark, root, "v00000")
    assert(m.entries.size == 4, m.entries.map(_.path).mkString(","))
    assert(m.entries.forall(_.stats.isDefined))
    val all = m.entries.flatMap(_.stats)
    assert(all.map(_.rows).sum == 1000L)
    // union of per-file id envelopes is the table envelope, and the files
    // are range-disjoint
    val idBounds = all.map(s => (s.cols("id").min.get.toLong,
      s.cols("id").max.get.toLong)).sortBy(_._1)
    assert(idBounds.head._1 == 0L && idBounds.last._2 == 999L)
    idBounds.sliding(2).foreach { case Seq((_, hi), (lo, _)) => assert(hi < lo) }
    // score is null in 9/10 rows — null counts add up
    assert(all.map(_.cols("score").nulls).sum == 900L)
    // string bounds present (well under the cap)
    assert(all.forall(_.cols("name").min.isDefined))
  }

  test("range predicates skip range-disjoint files before task planning") {
    val root = rangedRoot()
    val full = Layout.readCurrent(spark, root)
    assert(scannedFiles(full).size == 4)
    val low = full.filter($"id" < 100L)
    assert(scannedFiles(low).size == 1, scannedFiles(low).mkString(","))
    assert(low.count() == 100L)
    val mid = full.filter($"id" >= 400L && $"id" < 600L)
    assert(scannedFiles(mid).size <= 2)
    assert(mid.count() == 200L)
    val eq = full.filter($"id" === 950L)
    assert(scannedFiles(eq).size == 1)
    assert(eq.select($"name").as[String].head() == "doc-0950")
    val in = full.filter($"id".isin(3L, 998L))
    assert(scannedFiles(in).size == 2)
    assert(in.count() == 2L)
    val none = full.filter($"id" > 5000L)
    assert(scannedFiles(none).isEmpty)
    assert(none.count() == 0L)
    // string prefix skipping: names are range-correlated with id
    val pre = full.filter($"name".startsWith("doc-09"))
    assert(scannedFiles(pre).size == 1)
    assert(pre.count() == 100L)
  }

  test("null-count skipping: IS NOT NULL prunes all-null files, IS NULL prunes no-null files") {
    val root = Files.createTempDirectory("graft_stats_null").toString
    // tag is a DATA column: p2's file is all-null, p1's has no nulls —
    // partition pruning can't see tag, only the stats envelope can
    val df = Seq.tabulate(100)(i =>
        (i.toLong, if (i < 50) "p1" else "p2", if (i < 50) Some(s"t$i") else None))
      .toDF("id", "part", "tag").coalesce(1)
    Layout.initVersionedManifest(df, root, Seq("part"))
    val full = Layout.readCurrent(spark, root)
    assert(scannedFiles(full).size == 2)
    val notNull = full.filter($"tag".isNotNull)
    assert(scannedFiles(notNull).size == 1)
    assert(notNull.count() == 50L)
    val isNull = full.filter($"tag".isNull)
    assert(scannedFiles(isNull).size == 1)
    assert(isNull.count() == 50L)
    // a comparison is null-rejecting: the all-null file is skipped too
    val cmp = full.filter($"tag" >= "t0")
    assert(scannedFiles(cmp).size == 1)
  }

  test("carried entries keep their stats verbatim and still skip") {
    val root = rangedRoot()
    // touch a DIFFERENT partition: p1's four entries must carry, stats and all
    Layout.mergeVersionedPartitioned(spark, root,
      Seq((5000L, "p2", "doc-5000", Option.empty[Double]))
        .toDF("id", "part", "name", "score"),
      Seq("id"), "part")
    val m0 = ManifestIndex.read(spark, root, "v00000")
    val m1 = ManifestIndex.read(spark, root, "v00001")
    val p1v0 = m0.entries.filter(_.leaf == "part=p1").sortBy(_.path)
    val p1v1 = m1.entries.filter(_.leaf == "part=p1").sortBy(_.path)
    assert(p1v0 == p1v1) // identical entries, including stats
    // the new p2 file got stats of its own
    assert(m1.entries.filter(_.leaf == "part=p2").forall(_.stats.isDefined))
    // and skipping still works across carried + fresh entries
    val low = Layout.readCurrent(spark, root).filter($"id" < 100L)
    assert(scannedFiles(low).size == 1)
    assert(low.count() == 100L)
  }

  test("schema evolution: pre-evolution files have no stats for the new column and are kept") {
    val root = Files.createTempDirectory("graft_stats_evo").toString
    Layout.initVersionedManifest(
      Seq((1L, "p1", 10.0), (2L, "p1", 20.0)).toDF("id", "part", "v"),
      root, Seq("part"))
    // merge adds column c — old files null-fill it and carry no c-stats
    Layout.mergeVersionedPartitioned(spark, root,
      Seq((3L, "p2", 30.0, "fresh")).toDF("id", "part", "v", "c"),
      Seq("id"), "part")
    val m1 = ManifestIndex.read(spark, root, "v00001")
    val old = m1.entries.filter(_.path.startsWith("v00000/"))
    assert(old.nonEmpty && old.forall(_.stats.exists(!_.cols.contains("c"))))
    val full = Layout.readCurrent(spark, root)
    // conservative: the filter can't prune the old files (no stats for c),
    // and the answer is right
    assert(full.filter($"c".isNull).select($"id").as[Long].collect().toSet
      == Set(1L, 2L))
    assert(full.filter($"c" === "fresh").select($"id").as[Long].collect().toSet
      == Set(3L))
  }

  test("over-long string bounds are dropped (unknown), never truncated into wrong envelopes") {
    val root = Files.createTempDirectory("graft_stats_long").toString
    val big = "x" * 200
    Layout.initVersionedManifest(
      Seq((1L, "p1", big + "a"), (2L, "p1", big + "b")).toDF("id", "part", "text"),
      root, Seq("part"))
    val m = ManifestIndex.read(spark, root, "v00000")
    val st = m.entries.head.stats.get.cols("text")
    assert(st.min.isEmpty && st.max.isEmpty && st.nulls == 0L)
    // unknown bounds keep the file; the filter still answers correctly
    val hit = Layout.readCurrent(spark, root).filter($"text" === (big + "a"))
    assert(hit.count() == 1L)
  }

  test("timestamp bounds are session-zone independent (epoch-micros encoding)") {
    val zone0 = spark.conf.get("spark.sql.session.timeZone")
    val root = Files.createTempDirectory("graft_stats_ts").toString
    val epoch = 1709280000L // 2024-03-01 08:00:00 UTC
    try {
      // WRITE under LA: stats bounds are collected in this session
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      val df = spark.range(100)
        .select($"id", lit("p1").as("part"),
          timestamp_seconds(lit(epoch) + $"id" * 3600L).as("ts"))
        .repartitionByRange(2, $"id")
      Layout.initVersionedManifest(df, root, Seq("part"))
      // READ under Tokyo: epoch-micros bounds decode to the same instants;
      // a string-cast encoding would have shifted every envelope by the
      // zone offset and mis-pruned this instant-based filter
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      val early = Layout.readCurrent(spark, root)
        .filter($"ts" < timestamp_seconds(lit(epoch + 10L * 3600L)))
      assert(early.count() == 10L)
      assert(scannedFiles(early).size == 1)
    } finally spark.conf.set("spark.sql.session.timeZone", zone0)
  }

  test("pre-stats manifests (3-field lines) still read; stats-less entries never skip") {
    val root = rangedRoot()
    // rewrite v00000's manifest without stats, as a round-9 writer produced
    // (commit rename never overwrites, so drop the stats-bearing one first)
    val m = ManifestIndex.read(spark, root, "v00000")
    val mp = ManifestIndex.manifestPath(root, "v00000")
    mp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(mp, false)
    ManifestIndex.write(spark, root, "v00000",
      m.copy(entries = m.entries.map(_.copy(stats = None))))
    val m2 = ManifestIndex.read(spark, root, "v00000")
    assert(m2.entries.forall(_.stats.isEmpty))
    val low = Layout.readCurrent(spark, root).filter($"id" < 100L)
    assert(scannedFiles(low).size == 4) // conservative: nothing skipped
    assert(low.count() == 100L)
  }

  test("differential: pruned reads equal in-memory filters for every predicate shape") {
    val root = rangedRoot()
    val full = Layout.readCurrent(spark, root)
    val reference = full.collect().toSeq
    val preds = Seq(
      $"id" < 250L, $"id" <= 250L, $"id" > 750L, $"id" >= 750L,
      $"id" === 500L, $"id".isin(1L, 500L, 999L),
      lit(250L) > $"id", lit(750L) < $"id",
      $"name" >= "doc-0990", $"name".startsWith("doc-00"),
      $"score".isNotNull, $"score".isNull,
      $"id" < 100L || $"id" > 900L,
      $"id" > 100L && $"name" < "doc-0200",
      !($"id" < 500L))
    preds.foreach { p =>
      val got = full.filter(p).select($"id").as[Long].collect().toSet
      val want = spark.createDataFrame(
          spark.sparkContext.parallelize(reference), full.schema)
        .filter(p).select($"id").as[Long].collect().toSet
      assert(got == want, s"predicate $p: got ${got.size}, want ${want.size}")
    }
  }

  // ------------------------------------------------------------ bloom filters

  /** Two leaves, ids INTERLEAVED (mod 4) across each leaf's four files, so
    * every file's [min, max] envelope spans nearly the whole leaf range —
    * min/max cannot prune a point lookup within a leaf; a per-file bloom can.
    */
  private def interleavedRoot(bloom: Boolean): String = {
    val root = Files.createTempDirectory("graft_bloom").toString
    val df = spark.range(4000)
      .select($"id",
        when($"id" < 2000L, "p1").otherwise("p2").as("part"),
        ($"id" % 4).as("grp"))
      .repartitionByRange(4, $"grp")
      .drop("grp")
    Layout.initVersionedManifest(df, root, Seq("part"),
      if (bloom) Seq("id") else Nil)
    root
  }

  test("bloom skipping: point lookups prune interleaved files min/max cannot") {
    val noBloom = interleavedRoot(bloom = false)
    val withBloom = interleavedRoot(bloom = true)
    // id=1234 lives in p1 only; min/max prunes p2's leaf but all four
    // interleaved p1 files overlap the value — without a bloom every one
    // of them must be planned
    val nP1 = ManifestIndex.read(spark, noBloom, "v00000")
      .entries.count(_.leaf == "part=p1")
    assert(nP1 > 1, s"fixture needs several interleaved files, got $nP1")
    val q1 = Layout.readCurrent(spark, noBloom).filter($"id" === 1234L)
    assert(scannedFiles(q1).size == nP1, scannedFiles(q1).mkString(","))
    assert(q1.count() == 1L)
    // with blooms only the file whose bits contain 1234 (+ any false
    // positives) survives — strictly fewer than the overlap set
    val q2 = Layout.readCurrent(spark, withBloom).filter($"id" === 1234L)
    assert(scannedFiles(q2).size < nP1, scannedFiles(q2).mkString(","))
    assert(q2.count() == 1L)
    // IN-lists prune per value (file kept iff ANY value might be present)
    val all = ManifestIndex.read(spark, withBloom, "v00000").entries.size
    val q3 = Layout.readCurrent(spark, withBloom).filter($"id".isin(8L, 9L))
    assert(scannedFiles(q3).size < all, scannedFiles(q3).mkString(","))
    assert(q3.count() == 2L)
    // a value no file holds may plan zero files and must return empty
    assert(Layout.readCurrent(spark, withBloom).filter($"id" === 99999L)
      .count() == 0L)
  }

  test("bloom never lies about absence: every present value's file is planned") {
    val root = interleavedRoot(bloom = true)
    val cur = Layout.readCurrent(spark, root)
    (0 until 50).foreach { i =>
      val id = (i * 79) % 4000
      assert(cur.filter($"id" === id.toLong).count() == 1L, s"id $id lost")
    }
  }

  test("underscore-prefixed partition columns are real hive leaves, not hidden metadata") {
    // the _dv-sidecar skip must NOT swallow a partition column named
    // '_date' — its leaf dirs contain '=' and are data
    val root = Files.createTempDirectory("graft_underscore").toString
    val df = Seq((1L, "2026-01-01", 10.0), (2L, "2026-01-02", 20.0))
      .toDF("id", "_date", "v")
    Layout.initVersionedManifest(df, root, Seq("_date"))
    val m = ManifestIndex.read(spark, root, "v00000")
    assert(m.entries.nonEmpty && m.entries.forall(_.leaf.startsWith("_date=")),
      m.entries.mkString(","))
    assert(Layout.readCurrent(spark, root)
      .select($"id", $"v").as[(Long, Double)].collect().toSet ==
      Set((1L, 10.0), (2L, 20.0)))
    // ...and a row delete (which writes a REAL _dv sidecar next to those
    // leaves) still works and keeps the sidecar out of the inventory
    Layout.deleteVersionedRows(spark, root, $"id" === 2L)
    assert(Layout.readCurrent(spark, root).count() == 1L)
    assert(ManifestIndex.read(spark, root, "v00001")
      .entries.forall(_.leaf.startsWith("_date=")))
  }

  test("misdeclared bloom columns are rejected at declaration, not silently ignored") {
    val root = rangedRoot()
    intercept[IllegalArgumentException] {
      Layout.setBloomColumns(spark, root, Seq("not_a_column"))
    }
    // eligible declaration still works
    Layout.setBloomColumns(spark, root, Seq("id"))
    // and the init-time variant validates against the incoming frame
    val bad = spark.range(10).select($"id", lit("p").as("part"))
    intercept[IllegalArgumentException] {
      Layout.initVersionedManifest(bad,
        Files.createTempDirectory("graft_badbloom").toString,
        Seq("part"), Seq("nope"))
    }
  }

  test("blooms declared late: new files get them, carried files stay conservative") {
    val root = interleavedRoot(bloom = false)
    Layout.setBloomColumns(spark, root, Seq("id"))
    // rewrite only p1 — its new files carry blooms; p2's carried entries
    // keep their bloom-less stats and are still (conservatively) planned
    Layout.mergeVersionedPartitioned(spark, root,
      Seq((1234L, "p1")).toDF("id", "part"), Seq("id"), "part")
    val m = Layout.currentManifest(spark, root)._2
    val (p1e, p2e) = m.entries.partition(_.leaf == "part=p1")
    assert(p1e.nonEmpty && p1e.forall(_.stats.exists(
      _.cols.get("id").exists(_.bloom.isDefined))))
    assert(p2e.nonEmpty && p2e.forall(_.stats.forall(
      _.cols.get("id").forall(_.bloom.isEmpty))))
    // both sides still answer point lookups correctly
    assert(Layout.readCurrent(spark, root).filter($"id" === 1234L).count() == 1L)
    assert(Layout.readCurrent(spark, root).filter($"id" === 2500L).count() == 1L)
  }

  test("write-time z-order clustering: a clustered append prunes range scans") {
    import graft.sources.Layout
    def build(zCols: Seq[String]): String = {
      val root = Files.createTempDirectory("graft_wcluster").toString
      // seed with a tiny v0 so the append is the interesting commit
      Layout.initVersionedManifest(
        spark.range(1).select($"id", ($"id" % 97).as("a"), ($"id" % 89).as("b"),
          lit("p1").as("part")), root, Seq("part"))
      // shuffled ids: without clustering every file's (a, b) envelope is
      // wide; the z-ordered append lands tight per-file min/max instead
      val batch = spark.range(1, 4000)
        .select((($"id" * 2654435761L) % 4000).as("id"))
        .select($"id", ($"id" % 97).as("a"), ($"id" % 89).as("b"),
          lit("p1").as("part"))
        .repartition(8)
      Layout.appendVersionedRows(spark, root, batch, zOrderCols = zCols)
      root
    }
    val plain = build(Nil)
    val clustered = build(Seq("a", "b"))
    def planned(root: String): Int = scannedFiles(
      Layout.readCurrent(spark, root)
        .filter($"a" >= 10 && $"a" < 15 && $"b" >= 10 && $"b" < 15)).size
    val (nPlain, nClustered) = (planned(plain), planned(clustered))
    assert(nClustered < nPlain,
      s"clustered append should plan fewer files ($nClustered vs $nPlain)")
    // content identical regardless of placement
    val a = Layout.readCurrent(spark, plain).orderBy("id").collect().toSeq
    val c = Layout.readCurrent(spark, clustered).orderBy("id").collect().toSeq
    assert(a == c)
  }

  test("S80: declared clustering places upsert/merge appends — no OPTIMIZE needed") {
    import graft.sources.Layout
    // two tables, identical merge-heavy history; one declares clustering
    def build(declare: Boolean): String = {
      val root = Files.createTempDirectory("graft_declcluster").toString
      Layout.initVersionedManifest(
        spark.range(1).select($"id", ($"id" % 97).as("a"), ($"id" % 89).as("b"),
          lit("p1").as("part")), root, Seq("part"))
      if (declare) Layout.setClusterColumns(spark, root, Seq("a", "b"))
      // three merge batches of SHUFFLED fresh keys: every image is an
      // insert (ids disjoint from the seed), so this is exactly the
      // "hot upserted table" shape that used to decluster until OPTIMIZE
      (0 until 3).foreach { k =>
        val batch = spark.range(1, 1200)
          .select((($"id" * 2654435761L) % 1200 + lit(k * 10000L)).as("id"))
          .select($"id", ($"id" % 97).as("a"), ($"id" % 89).as("b"),
            lit("p1").as("part"))
          .repartition(6)
        Layout.mergeIntoVersionedRows(spark, root, batch, Seq("id"),
          whenNotMatchedInsert = Some(lit(true)))
      }
      // plus one upsert of scattered keys — the other appended-image front
      Layout.upsertVersionedRows(spark, root,
        spark.range(1, 600)
          .select((($"id" * 1327217885L) % 600 + 50000L).as("id"))
          .select($"id", ($"id" % 97).as("a"), ($"id" % 89).as("b"),
            lit("p1").as("part")).repartition(4), Seq("id"))
      root
    }
    // the optimized-write default lands ONE file per commit at this batch
    // size, where file-grain skipping cannot differ — pin the commit
    // split so placement (salted-wide vs z-ranged-tight) is what's tested
    spark.conf.set("graft.write.filesPerLeaf", "4")
    val (plain, clustered) =
      try (build(declare = false), build(declare = true))
      finally spark.conf.unset("graft.write.filesPerLeaf")
    def planned(root: String): Int = scannedFiles(
      Layout.readCurrent(spark, root)
        .filter($"a" >= 10 && $"a" < 15 && $"b" >= 10 && $"b" < 15)).size
    val (nPlain, nClustered) = (planned(plain), planned(clustered))
    assert(nClustered < nPlain,
      s"declared clustering should keep merge/upsert appends skippable " +
        s"($nClustered vs $nPlain planned files)")
    // content identical regardless of placement
    val a = Layout.readCurrent(spark, plain).orderBy("id").collect().toSeq
    val c = Layout.readCurrent(spark, clustered).orderBy("id").collect().toSeq
    assert(a == c)
    // declaration validates loudly: partition and non-numeric columns refuse
    intercept[IllegalArgumentException] {
      Layout.setClusterColumns(spark, clustered, Seq("part"))
    }
    intercept[IllegalArgumentException] {
      Layout.setClusterColumns(spark, clustered, Seq("nope"))
    }
    // SQL face: CLUSTER BY redeclares, NONE drops; OPTIMIZE with no
    // explicit ZORDER list re-clusters to the declaration
    spark.sql(s"ALTER TABLE graft.`$plain` CLUSTER BY (a, b)")
    assert(Layout.currentManifest(spark, plain)._2.clusterColumns ==
      Seq("a", "b"))
    spark.sql(s"ALTER TABLE graft.`$plain` CLUSTER BY NONE")
    assert(Layout.currentManifest(spark, plain)._2.clusterColumns.isEmpty)
    // rename/drop of a declared cluster column refuses loudly — the
    // declaration names logical columns; silent drift would brick writes
    val e1 = intercept[IllegalArgumentException] {
      Layout.renameColumn(spark, clustered, "a", "a2")
    }
    assert(e1.getMessage.contains("CLUSTER BY"))
    val e2 = intercept[IllegalArgumentException] {
      Layout.dropColumn(spark, clustered, "b")
    }
    assert(e2.getMessage.contains("CLUSTER BY"))
  }

  test("S79: per-column NDV folds from per-file sketches into plan stats") {
    import graft.sources.Layout
    val root = rangedRoot()
    val prev = spark.conf.get("spark.sql.cbo.planStats.enabled", "false")
    spark.conf.set("spark.sql.cbo.planStats.enabled", "true")
    try {
      val stats = Layout.readCurrent(spark, root)
        .queryExecution.optimizedPlan.stats
      def ndvOf(c: String): Option[BigInt] =
        stats.attributeStats.find(_._1.name == c).flatMap(_._2.distinctCount)
      // id: 1000 distinct across 4 files — union estimate within HLL lgK=8
      // error (~6.5% · a few σ)
      val idNdv = ndvOf("id")
      assert(idNdv.isDefined, "id must carry a distinctCount")
      assert((idNdv.get - 1000).abs <= 200, s"id ndv ≈ 1000, got $idNdv")
      // score: 100 non-null distinct values, 900 nulls — nulls must NOT
      // count as a distinct value
      val scoreNdv = ndvOf("score")
      assert(scoreNdv.isDefined && (scoreNdv.get - 100).abs <= 25,
        s"score ndv ≈ 100 (nulls excluded), got $scoreNdv")
      // name (string): no min/max envelope, but NDV + nullCount surface
      val nameStat = stats.attributeStats.find(_._1.name == "name").map(_._2)
      assert(nameStat.exists(_.distinctCount.isDefined),
        "string columns must carry distinctCount")
      assert(nameStat.exists(s => s.min.isEmpty && s.max.isEmpty))
    } finally spark.conf.set("spark.sql.cbo.planStats.enabled", prev)
  }

  test("S79: widening drops the column's NDV sketches (stored-type hashes), compaction regrows") {
    import graft.sources.Layout
    val root = Files.createTempDirectory("graft_ndv_widen").toString
    Layout.initVersionedManifest(
      spark.range(500).select($"id".cast("int").as("v"), $"id".as("k"),
        lit("p1").as("part")).repartition(3), root, Seq("part"))
    val prev = spark.conf.get("spark.sql.cbo.planStats.enabled", "false")
    spark.conf.set("spark.sql.cbo.planStats.enabled", "true")
    def ndvOf(c: String): Option[BigInt] = Layout.readCurrent(spark, root)
      .queryExecution.optimizedPlan.stats.attributeStats
      .find(_._1.name == c).flatMap(_._2.distinctCount)
    try {
      assert(ndvOf("v").isDefined)
      Layout.widenColumn(spark, root, "v", org.apache.spark.sql.types.LongType)
      // int-hash sketches must NOT survive into the long-typed column —
      // unioning them with future long-hash sketches would double-count
      assert(ndvOf("v").isEmpty, "widen must drop the stale ndv sketches")
      assert(ndvOf("k").isDefined, "untouched columns keep theirs")
      // the compaction rewrite re-records stats under the wide type
      Layout.compactVersionedPartitioned(spark, root, targetBytes = 1L << 26,
        maxFiles = 1)
      val regrown = ndvOf("v")
      assert(regrown.isDefined && (regrown.get - 500).abs <= 100,
        s"compaction must regrow ndv under the wide type, got $regrown")
    } finally spark.conf.set("spark.sql.cbo.planStats.enabled", prev)
  }

  test("S79: NDV drives aggregate estimation → broadcast build side under CBO") {
    import graft.sources.Layout
    // facts: 40k rows, ONLY 32 distinct group keys, ~3 MB raw; dims: 40k
    // distinct ids. group-then-join: with CBO + NDV the aggregate's
    // estimated output is 32 rows → broadcast side; size-only estimation
    // sees the multi-MB child and sort-merges.
    val facts = Files.createTempDirectory("graft_ndv_f").toString
    Layout.initVersionedManifest(
      spark.range(40000).select(($"id" % 32).as("k"), $"id".as("v"),
        concat(lit("pad-"), format_string("%060d", $"id")).as("pad"),
        lit("p1").as("part")).repartition(4), facts, Seq("part"))
    val dims = Files.createTempDirectory("graft_ndv_d").toString
    Layout.initVersionedManifest(
      spark.range(40000).select($"id".as("k"),
        concat(lit("name-"), format_string("%060d", $"id")).as("name"),
        lit("p1").as("part")).repartition(4), dims, Seq("part"))
    val confs = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.planStats.enabled",
      "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
    val prev = confs.map(c => c -> spark.conf.getOption(c)).toMap
    def joined() = {
      // max(pad) keeps the 60-char payload in the aggregate's input AND
      // output, so size-only estimation (≈ child bytes) stays safely above
      // the broadcast threshold — the contrast then isolates NDV: only the
      // 32-row cardinality estimate can shrink this below it
      val agg = Layout.readCurrent(spark, facts)
        .groupBy("k").agg(sum($"v").as("sum_v"), max($"pad").as("mx"))
      Layout.readCurrent(spark, dims).join(agg, "k")
    }
    def bhjCount(df: DataFrame): Int = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }.size
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (256 * 1024).toString)
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.planStats.enabled", "true")
      assert(bhjCount(joined()) == 1,
        "with NDV-fed CBO the 32-row aggregate must broadcast")
      spark.conf.set("spark.sql.cbo.enabled", "false")
      spark.conf.set("spark.sql.cbo.planStats.enabled", "false")
      assert(bhjCount(joined()) == 0,
        "size-only estimation must NOT broadcast the multi-MB aggregate " +
          "(the contrast that proves NDV did it)")
    } finally prev.foreach { case (c, v) =>
      v match {
        case Some(x) => spark.conf.set(c, x)
        case None => spark.conf.unset(c)
      }
    }
  }

  test("S82: equi-height histograms fix range selectivity on skewed " +
      "columns and flip a join build side") {
    import graft.sources.Layout
    // HEAVILY skewed v: 95% of rows at v < 100, the 5% tail spread to 1e6.
    // Uniform min/max interpolation estimates `v > 500000` at ~50% of
    // rows; the histogram puts nearly all mass in the low bins and
    // estimates the tail correctly (a few percent).
    def skewed(hist: Boolean): String = {
      val root = Files.createTempDirectory("graft_hist").toString
      val prev = spark.conf.getOption("spark.graft.stats.histogramBins")
      if (!hist) spark.conf.set("spark.graft.stats.histogramBins", "0")
      try Layout.initVersionedManifest(
        spark.range(40000).select($"id",
          when($"id" % 20 < 19, $"id" % 100)
            .otherwise(($"id" % 100) * 10000 + 100).cast("double").as("v"),
          concat(lit("pad-"), format_string("%060d", $"id")).as("pad"),
          lit("p1").as("part")).repartition(4), root, Seq("part"))
      finally prev match {
        case Some(x) => spark.conf.set("spark.graft.stats.histogramBins", x)
        case None => spark.conf.unset("spark.graft.stats.histogramBins")
      }
      root
    }
    val withHist = skewed(hist = true)
    val noHist = skewed(hist = false)
    // the fences landed in the manifest only when enabled
    val m = ManifestIndex.read(spark, withHist, "v00000")
    assert(m.entries.forall(_.stats.get.cols("v").hist.exists(_.size == 17)))
    assert(ManifestIndex.read(spark, noHist, "v00000")
      .entries.forall(_.stats.get.cols("v").hist.isEmpty))
    val confs = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.planStats.enabled",
      "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
    val prev = confs.map(c => c -> spark.conf.getOption(c)).toMap
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.planStats.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        (512 * 1024).toString)
      def estRows(root: String): BigInt =
        Layout.readCurrent(spark, root).filter($"v" > 500000.0)
          .queryExecution.optimizedPlan.stats.rowCount.getOrElse(BigInt(-1))
      val (eh, eu) = (estRows(withHist), estRows(noHist))
      val truth = Layout.readCurrent(spark, withHist)
        .filter($"v" > 500000.0).count()
      // uniform interpolation lands wildly high; the histogram estimate
      // is within 3x of the ~1000-row truth
      assert(eu > BigInt(10000), s"uniform estimate should be huge, got $eu")
      assert(eh < BigInt(truth * 3) && eh > BigInt(0),
        s"histogram estimate should be near $truth, got $eh")
      // ...and the better estimate changes a PLAN: the filtered side is
      // small enough to broadcast only under the histogram
      def bhj(root: String): Int = {
        val dims = Layout.readCurrent(spark, root)
          .filter($"v" > 500000.0).select($"id", $"pad")
        val facts = Layout.readCurrent(spark, withHist)
          .select($"id".as("fid"), $"pad".as("fpad"))
        facts.join(dims, $"fid" === dims("id"))
          .queryExecution.executedPlan.collect {
            case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
          }.size
      }
      assert(bhj(withHist) == 1,
        "histogram selectivity must shrink the filtered side under the " +
          "broadcast threshold")
      assert(bhj(noHist) == 0,
        "uniform selectivity must NOT broadcast (the contrast that " +
          "proves the histogram did it)")
    } finally prev.foreach { case (c, v) =>
      v match {
        case Some(x) => spark.conf.set(c, x)
        case None => spark.conf.unset(c)
      }
    }
  }

  test("S74: manifest stats surface as plan statistics under plan-stats/CBO") {
    import graft.sources.Layout
    val root = rangedRoot()
    val prev = spark.conf.get("spark.sql.cbo.planStats.enabled", "false")
    spark.conf.set("spark.sql.cbo.planStats.enabled", "true")
    try {
      val stats = Layout.readCurrent(spark, root)
        .queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(1000)),
        s"rowCount from the manifest, got ${stats.rowCount}")
      val idStat = stats.attributeStats.find(_._1.name == "id").map(_._2)
      assert(idStat.isDefined, "numeric column stats must surface")
      assert(idStat.get.min.isDefined && idStat.get.max.isDefined)
      assert(idStat.get.nullCount.contains(BigInt(0)))
    } finally spark.conf.set("spark.sql.cbo.planStats.enabled", prev)
    // CBO off: same read degrades to size-only statistics, no behavior change
    val off = Layout.readCurrent(spark, root).queryExecution.optimizedPlan.stats
    assert(off.rowCount.isEmpty)
  }

  /** Every file the live version's commit wrote carries exactly the stats
    * the old re-read aggregate ([[graft.sources.ReferenceStats]]) records
    * for it: rows, nulls, min, max and bloom bits bit-equal; NDV estimates
    * and histogram fences equal (every file here is a single split, so the
    * aggregate folds its rows in write order, as the write task did).
    */
  private def assertStatsMatchReference(root: String, what: String): Unit = {
    val v = f"v${Layout.currentVersionNumber(spark, root)}%05d"
    val m = ManifestIndex.read(spark, root, v)
    val fresh = m.entries.filter(_.path.startsWith(v + "/"))
    assert(fresh.nonEmpty, s"$what wrote no files")
    val bloomPhys = m.bloomColumns.map(n =>
      m.dataSchema.find(_.name == n).map(ManifestIndex.physicalName).getOrElse(n))
    val ref = graft.sources.ReferenceStats(spark, root, v, fresh,
      m.dataSchema, bloomPhys)
    def est(b64: String): Double =
      org.apache.datasketches.hll.HllSketch.heapify(
        java.util.Base64.getDecoder.decode(b64)).getEstimate
    fresh.foreach { e =>
      val got = e.stats.getOrElse(fail(s"$what: ${e.path} has no stats"))
      val want = ref.getOrElse(e.path, fail(s"$what: no reference row for ${e.path}"))
      assert(got.rows == want.rows, s"$what ${e.path}")
      assert(got.cols.keySet == want.cols.keySet, s"$what ${e.path}")
      want.cols.foreach { case (c, w) =>
        val g = got.cols(c)
        assert((g.min, g.max, g.nulls) == (w.min, w.max, w.nulls),
          s"$what ${e.path} $c")
        assert(g.bloom == w.bloom, s"$what ${e.path} $c bloom")
        assert(g.ndv.map(est) == w.ndv.map(est), s"$what ${e.path} $c ndv")
        assert(g.hist == w.hist, s"$what ${e.path} $c hist")
      }
    }
  }

  /** Rows exercising every encoding: long-over-cap and null strings, NaN
    * and signed zeros, dates, timestamps, decimals, booleans, ints,
    * floats; partitioned on `_pri`, whose `4-NOT SPECIFIED` leaf is
    * URL-encoded in scan paths.
    */
  private def statRows(from: Long, n: Long): DataFrame =
    spark.range(from, from + n).select($"id",
      when($"id" % 5 === 0, lit(null).cast("string"))
        .when($"id" % 13 === 0, concat(lit("x" * 70), $"id".cast("string")))
        .otherwise(concat(lit("n-"), $"id".cast("string"))).as("name"),
      when($"id" % 4 === 0, lit(null).cast("double"))
        .when($"id" % 17 === 0, lit(Double.NaN))
        .when($"id" % 19 === 0, lit(-0.0))
        .when($"id" % 23 === 0, lit(0.0))
        .otherwise($"id" * 1.5 - 100).as("score"),
      date_add(lit("2026-01-01").cast("date"), ($"id" % 40).cast("int")).as("d"),
      timestamp_micros($"id" * 1000003L).as("ts"),
      ($"id" / 7).cast("decimal(10,2)").as("amt"),
      ($"id" % 3 === 0).as("flag"),
      ($"id" % 50).cast("int").as("small"),
      ($"id" * 0.25).cast("float").as("f"),
      when($"id" % 2 === 0, lit("4-NOT SPECIFIED")).otherwise(lit("1-URGENT"))
        .as("_pri"))

  test("differential: write-time stats equal the re-read aggregate on every commit kind") {
    val root = Files.createTempDirectory("graft_stats_diff").toString + "/t"
    Layout.initVersionedManifest(statRows(0, 800).repartition(2), root,
      Seq("_pri"), Seq("id"))
    assertStatsMatchReference(root, "init")
    Layout.appendVersionedRows(spark, root, statRows(800, 150))
    assertStatsMatchReference(root, "append")
    Layout.mergeVersionedPartitioned(spark, root,
      statRows(900, 100).withColumn("score", $"score" + 1), Seq("id"), Seq("_pri"))
    assertStatsMatchReference(root, "merge")
    Layout.deleteVersionedPartitioned(spark, root, $"id" % 7 === 0, Seq("_pri"))
    assertStatsMatchReference(root, "delete")
    Layout.deleteVersionedRows(spark, root, $"id" % 11 === 0)
    Layout.purgeDeletedRows(spark, root)
    assertStatsMatchReference(root, "purge")
    (0 until 3).foreach(k =>
      Layout.appendVersionedRows(spark, root, statRows(1000 + 40 * k, 40)))
    Layout.compactVersionedPartitioned(spark, root, targetBytes = 1L << 26,
      maxFiles = 1)
    assertStatsMatchReference(root, "compact")
    (0 until 3).foreach(k =>
      Layout.appendVersionedRows(spark, root, statRows(1200 + 40 * k, 40)))
    Layout.compactVersionedPartitioned(spark, root, targetBytes = 1L << 26,
      maxFiles = 1, zOrderCols = Seq("score", "small"))
    assertStatsMatchReference(root, "z-order compact")
    Layout.widenColumn(spark, root, "small", org.apache.spark.sql.types.LongType)
    Layout.appendVersionedRows(spark, root,
      statRows(1400, 40).withColumn("small", $"small".cast("long")))
    Layout.compactVersionedPartitioned(spark, root, targetBytes = 1L << 26,
      maxFiles = 1)
    assertStatsMatchReference(root, "post-widening compact")
    // the comparison covered the URL-encoded leaf
    assert(ManifestIndex.read(spark, root,
      f"v${Layout.currentVersionNumber(spark, root)}%05d")
      .leaves.contains("_pri=4-NOT SPECIFIED"))
  }

  test("a malformed spark.graft.stats.histogramBins fails the write loudly") {
    val key = "spark.graft.stats.histogramBins"
    val df = Seq((1L, "p1", 1.0)).toDF("id", "part", "v")
    try {
      Seq("sixteen", "-1", "").foreach { bad =>
        spark.conf.set(key, bad)
        val root = Files.createTempDirectory("graft_hist_conf").toString + "/t"
        val e = intercept[IllegalArgumentException] {
          Layout.initVersionedManifest(df, root, Seq("part"))
        }
        assert(e.getMessage.contains(key), e.getMessage)
      }
      // a well-formed value still applies: 0 disables the fences
      spark.conf.set(key, "0")
      val root = Files.createTempDirectory("graft_hist_conf").toString + "/t"
      Layout.initVersionedManifest(df, root, Seq("part"))
      assert(ManifestIndex.read(spark, root, "v00000").entries
        .forall(_.stats.exists(_.cols("v").hist.isEmpty)))
    } finally spark.conf.unset(key)
  }
}
