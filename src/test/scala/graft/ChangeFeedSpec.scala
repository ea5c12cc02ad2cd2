package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{Layout, ManifestIndex}

/** Change data feed between layout versions and schema evolution on merge
  * (round 9: the incremental-consumer leg of the versioned layout).
  */
class ChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private def rows(rs: (Long, String, Double)*) = rs.toDF("id", "part", "v")

  test("optimized partitioned write: one file per touched leaf by default; " +
       "caller placement and the files-per-leaf knob override") {
    def leafFiles(v: String, leaf: String) =
      new java.io.File(s"$v/$leaf").listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
    val many = spark.range(300).select($"id",
      concat(lit("p"), $"id" % 3).as("part"), ($"id" * 1.0).as("v"))
    // a frame that merely ARRIVES wide (a filter downstream of 8
    // partitions is not caller placement — projections would be walked
    // through, a filter is not) lands one file per leaf, not 8 x 3 slivers
    val r1 = Files.createTempDirectory("graft_ow_default").toString
    val v1 = Layout.initVersionedManifest(
      many.repartition(8).filter($"id" >= 0), r1, Seq("part"))
    (0 to 2).foreach(p => assert(leafFiles(v1, s"part=p$p") == 1))
    // a caller-PLACED frame (plan rooted at the repartition) is respected:
    // the 4 range splits each carry every part value
    val r2 = Files.createTempDirectory("graft_ow_placed").toString
    val v2 = Layout.initVersionedManifest(
      many.repartitionByRange(4, $"id"), r2, Seq("part"))
    (0 to 2).foreach(p => assert(leafFiles(v2, s"part=p$p") > 1))
    // the knob fans a non-placed write out to n salted files per leaf
    spark.conf.set("graft.write.filesPerLeaf", "2")
    try {
      val r3 = Files.createTempDirectory("graft_ow_knob").toString
      val v3 = Layout.initVersionedManifest(
        many.repartition(8).filter($"id" >= 0), r3, Seq("part"))
      (0 to 2).foreach(p => assert(leafFiles(v3, s"part=p$p") == 2))
    } finally spark.conf.unset("graft.write.filesPerLeaf")
  }

  /** A 3-version partitioned history: v0 initial, v1 merge (update id=2,
    * insert id=4, both in p1), v2 delete id=3 (p2). p3 is never touched.
    */
  private def history(): String = {
    val root = Files.createTempDirectory("graft_cdf").toString
    Layout.initVersionedManifest(
      rows((1L, "p1", 10.0), (2L, "p1", 20.0), (3L, "p2", 30.0), (6L, "p3", 60.0)),
      root, Seq("part"))
    Layout.mergeVersionedPartitioned(spark, root,
      rows((2L, "p1", 99.0), (4L, "p1", 40.0)), Seq("id"), "part")
    Layout.deleteVersionedPartitioned(spark, root, col("id") === 3, "part")
    root
  }

  private def feed(root: String, from: Int, to: Int): Set[(Long, Double, String, String)] =
    Layout.changeFeed(spark, root, from, to, Seq("id"))
      .select($"id", $"v", $"part", $"_change_type")
      .as[(Long, Double, String, String)].collect().toSet

  test("changeFeed: merge emits insert + update pre/post images, nothing else") {
    val root = history()
    assert(feed(root, 0, 1) == Set(
      (4L, 40.0, "p1", "insert"),
      (2L, 20.0, "p1", "update_pre"),
      (2L, 99.0, "p1", "update_post")))
    assert(feed(root, 1, 2) == Set((3L, 30.0, "p2", "delete")))
    // spanning both commits: the intermediate state never leaks
    assert(feed(root, 0, 2) == Set(
      (4L, 40.0, "p1", "insert"),
      (2L, 20.0, "p1", "update_pre"),
      (2L, 99.0, "p1", "update_post"),
      (3L, 30.0, "p2", "delete")))
  }

  test("applying the feed to the old snapshot reproduces the new one") {
    val root = history()
    val cdf = Layout.changeFeed(spark, root, 0, 2, Seq("id"))
    val removedKeys = cdf.filter($"_change_type".isin("delete", "update_pre"))
      .select("id")
    val added = cdf.filter($"_change_type".isin("insert", "update_post"))
      .drop("_change_type")
    val rebuilt = Layout.readVersion(spark, root, 0)
      .join(removedKeys, Seq("id"), "left_anti")
      .unionByName(added)
    val want = Layout.readVersion(spark, root, 2)
      .select($"id", $"part", $"v").as[(Long, String, Double)].collect().toSet
    assert(rebuilt.select($"id", $"part", $"v")
      .as[(Long, String, Double)].collect().toSet == want)
  }

  test("changeFeed on an unpartitioned versioned root") {
    val root = Files.createTempDirectory("graft_cdf_flat").toString + "/t"
    Layout.initVersionedManifest(rows((1L, "a", 1.0), (2L, "b", 2.0)), root, Nil)
    Layout.mergeVersionedPartitioned(spark, root,
      rows((2L, "b", 5.0), (3L, "c", 3.0)), Seq("id"), Nil)
    assert(feed(root, 0, 1) == Set(
      (3L, 3.0, "c", "insert"),
      (2L, 2.0, "b", "update_pre"),
      (2L, 5.0, "b", "update_post")))
  }

  test("schema evolution: merge may add columns; carried rows null-fill") {
    val root = Files.createTempDirectory("graft_cdf_evo").toString
    Layout.initVersionedManifest(
      rows((1L, "p1", 10.0), (3L, "p2", 30.0)), root, Seq("part"))
    // updates add column w; only p1 is rewritten, p2 carries forward
    val up = Seq((2L, "p1", 20.0, "new")).toDF("id", "part", "v", "w")
    Layout.mergeVersionedPartitioned(spark, root, up, Seq("id"), "part")
    val cur = Layout.readCurrent(spark, root)
      .select($"id", $"v", $"w").as[(Long, Double, Option[String])]
      .collect().toSet
    assert(cur == Set((1L, 10.0, None), (2L, 20.0, Some("new")), (3L, 30.0, None)))
    // time travel: v0 predates the column entirely
    assert(!Layout.readVersion(spark, root, 0).columns.contains("w"))
    // the feed reports the evolved column, null on the absent side
    val cdf = Layout.changeFeed(spark, root, 0, 1, Seq("id"))
      .select($"id", $"_change_type", $"w").as[(Long, String, Option[String])]
      .collect().toSet
    assert(cdf == Set((2L, "insert", Some("new"))))
  }

  test("schema evolution rejects dropped and retyped columns loudly") {
    val root = Files.createTempDirectory("graft_cdf_evo2").toString
    Layout.initVersionedManifest(rows((1L, "p1", 10.0)), root, Seq("part"))
    val dropped = Seq((2L, "p1")).toDF("id", "part")
    val ex1 = intercept[IllegalArgumentException] {
      Layout.mergeVersionedPartitioned(spark, root, dropped, Seq("id"), "part")
    }
    assert(ex1.getMessage.contains("drop live column"))
    val retyped = Seq((2L, "p1", "not-a-double")).toDF("id", "part", "v")
    val ex2 = intercept[IllegalArgumentException] {
      Layout.mergeVersionedPartitioned(spark, root, retyped, Seq("id"), "part")
    }
    assert(ex2.getMessage.contains("retyped"))
  }

  test("compactVersionedPartitioned heals only fragmented leaves; links the rest") {
    val root = Files.createTempDirectory("graft_cvp").toString
    // the optimized-write default is ONE file per leaf per commit —
    // fragmentation is opted into via the writer's files-per-leaf knob
    spark.conf.set("graft.write.filesPerLeaf", "4")
    try {
      Layout.initVersionedManifest(
        rows((1L, "p1", 1.0), (100L, "p2", 5.0)), root, Seq("part"))
      (2L to 11L).foreach(i => Layout.mergeVersionedPartitioned(spark, root,
        rows((i, "p1", i.toDouble)), Seq("id"), "part"))
    } finally spark.conf.unset("graft.write.filesPerLeaf")
    def leafFiles(v: Int, leaf: String) =
      ManifestIndex.read(spark, root, f"v$v%05d").byLeaf(leaf).map(_.path).toSet
    assert(leafFiles(10, "part=p1").size > 1,
      "merges should leave p1 with multiple tiny files")
    val (_, rewritten) =
      Layout.compactVersionedPartitioned(spark, root, targetBytes = 1L << 30)
    assert(rewritten == 1, "only p1 is fragmented")
    assert(leafFiles(11, "part=p1").size == 1, "p1 collapses to one file")
    // p2 is linked forward: the new manifest names the SAME file
    assert(leafFiles(11, "part=p2") == leafFiles(10, "part=p2"),
      "healthy leaf must be carried by reference, not copied")
    // content identical across the flip; pre-compaction snapshot intact
    val want = (1L to 11L).map(i => (i, "p1", i.toDouble)).toSet + ((100L, "p2", 5.0))
    assert(Layout.readCurrent(spark, root)
      .select($"id", $"part", $"v").as[(Long, String, Double)].collect().toSet == want)
    assert(Layout.readVersion(spark, root, 10).count() == 12)
    // the change feed across a pure compaction is EMPTY (files moved,
    // content didn't) — manifest compare sees the rewritten leaf, the row
    // diff then proves it equal
    assert(Layout.changeFeed(spark, root, 10, 11, Seq("id")).isEmpty)
    // and a re-run finds nothing left to do
    assert(Layout.compactVersionedPartitioned(spark, root, 1L << 30)._2 == 0)
  }

  test("compaction with zOrderCols clusters the rewritten leaf, same content") {
    val root = Files.createTempDirectory("graft_cvpz").toString
    val rnd = new scala.util.Random(7)
    val init = (1L to 400L).map(i =>
      (i, "p1", rnd.nextInt(1000).toDouble)).toDF("id", "part", "v")
    // fragment p1 (fan-out is opt-in under the optimized-write default),
    // then compact with z-ordering on (id, v)
    spark.conf.set("graft.write.filesPerLeaf", "6")
    try {
      Layout.initVersionedManifest(init, root, Seq("part"))
      (401L to 404L).foreach(i => Layout.mergeVersionedPartitioned(spark, root,
        Seq((i, "p1", rnd.nextInt(1000).toDouble)).toDF("id", "part", "v"),
        Seq("id"), "part"))
    } finally spark.conf.unset("graft.write.filesPerLeaf")
    // maxFiles below the 6-file fan-out flags the leaf; the target keeps
    // the rewrite landing multiple clustered files
    val (after, rewritten) = Layout.compactVersionedPartitioned(spark, root,
      targetBytes = 3000, maxFiles = 2, zOrderCols = Seq("id", "v"))
    assert(rewritten == 1)
    val files = new java.io.File(s"$after/part=p1").listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
    assert(files.length > 1, "target should force multiple clustered files")
    // content preserved exactly
    assert(Layout.readCurrent(spark, root)
      .select($"id", $"v").as[(Long, Double)].collect().toSet ==
      Layout.readVersion(spark, root, 4)
        .select($"id", $"v").as[(Long, Double)].collect().toSet)
    // clustering held: a small 2-D box query's (id, v) bounds intersect
    // only SOME files' bounding boxes (unclustered writes scatter every
    // box across every file — z-order is exactly the 2-D guarantee, so
    // don't assert single-dim disjointness, the curve interleaves dims)
    val boxes = files.map { f =>
      val d = spark.read.parquet(f.getPath)
        .agg(min($"id"), max($"id"), min($"v"), max($"v")).head()
      (d.getLong(0), d.getLong(1), d.getDouble(2), d.getDouble(3))
    }
    val hit = boxes.count { case (i1, i2, v1, v2) =>
      i1 <= 100L && 1L <= i2 && v1 <= 250.0 && 0.0 <= v2 }
    assert(hit < files.length,
      s"a corner box should skip at least one clustered file: $boxes")
  }

  test("multi-level partitioning: pruning, change feed and compaction work at depth 2") {
    val root = Files.createTempDirectory("graft_ml").toString
    def rows2(rs: (Long, String, String, Double)*) =
      rs.toDF("id", "day", "region", "v")
    Layout.initVersionedManifest(rows2(
      (1L, "d1", "eu", 1.0), (2L, "d1", "us", 2.0),
      (3L, "d2", "eu", 3.0), (4L, "d2", "us", 4.0)),
      root, Seq("day", "region"))
    // merge touches ONLY day=d1/region=us
    Layout.mergeVersionedPartitioned(spark, root,
      rows2((2L, "d1", "us", 99.0), (5L, "d1", "us", 5.0)),
      Seq("id"), Seq("day", "region"))
    def files(v: Int, leaf: String) =
      ManifestIndex.read(spark, root, f"v$v%05d").byLeaf(leaf).map(_.path).toSet
    // untouched deep leaves carried forward as the SAME files
    for (leaf <- Seq("day=d1/region=eu", "day=d2/region=eu", "day=d2/region=us"))
      assert(files(1, leaf) == files(0, leaf), s"$leaf must carry forward")
    assert(files(1, "day=d1/region=us") != files(0, "day=d1/region=us"))
    // change feed prunes to exactly the touched deep leaf
    val feed = Layout.changeFeed(spark, root, 0, 1, Seq("id"))
    assert(feed.inputFiles.nonEmpty &&
      feed.inputFiles.forall(_.contains("day=d1/region=us")),
      feed.inputFiles.mkString(","))
    assert(feed.select($"id", $"_change_type").as[(Long, String)].collect().toSet ==
      Set((2L, "update_pre"), (2L, "update_post"), (5L, "insert")))
    // delete pruned by a partition-column predicate
    Layout.deleteVersionedPartitioned(spark, root,
      col("region") === "eu" && col("id") === 3, Seq("day", "region"))
    assert(Layout.readCurrent(spark, root).select($"id").as[Long]
      .collect().toSet == Set(1L, 2L, 4L, 5L))
    // fragment d1/us further (fan-out is opt-in under the optimized-write
    // default), then per-leaf compaction heals just it
    spark.conf.set("graft.write.filesPerLeaf", "4")
    try (6L to 9L).foreach(i => Layout.mergeVersionedPartitioned(spark, root,
      rows2((i, "d1", "us", i.toDouble)), Seq("id"), Seq("day", "region")))
    finally spark.conf.unset("graft.write.filesPerLeaf")
    val (after, rewritten) =
      Layout.compactVersionedPartitioned(spark, root, targetBytes = 1L << 30)
    assert(rewritten == 1)
    assert(new java.io.File(s"$after/day=d1/region=us").listFiles()
      .count(_.getName.endsWith(".parquet")) == 1)
    assert(Layout.readCurrent(spark, root).count() == 8)
  }

  test("optimistic concurrency: a claimed next version rejects the stale writer") {
    val root = Files.createTempDirectory("graft_occ").toString
    Layout.initVersionedManifest(rows((1L, "p1", 1.0)), root, Seq("part"))
    // another writer has claimed v00001 (crashed mid-commit, or is ahead)
    new java.io.File(root, "v00001.claim").createNewFile()
    intercept[java.util.ConcurrentModificationException] {
      Layout.mergeVersionedPartitioned(spark, root,
        rows((2L, "p1", 2.0)), Seq("id"), "part")
    }
    // the failed merge must not have moved the pointer or the content
    assert(Layout.readCurrent(spark, root).count() == 1)
    // a crashed claimer blocks writers until its lease expires; recovery
    // sweeps only claims AHEAD of the committed pointer
    assert(Layout.recoverStaleClaims(spark, root, olderThanMs = 0L) == 1)
    Layout.mergeVersionedPartitioned(spark, root,
      rows((2L, "p2", 2.0)), Seq("id"), "part")
    assert(Layout.readCurrent(spark, root).count() == 2)
    // the committed v1's claim is a tombstone — recovery must NOT touch it
    assert(Layout.recoverStaleClaims(spark, root, 0L) == 0)
    assert(new java.io.File(root, "v00001.claim").exists())
  }

  test("optimistic concurrency: racing writers never lose an update") {
    val root = Files.createTempDirectory("graft_occ2").toString
    Layout.initVersionedManifest(rows((1L, "p1", 1.0)), root, Seq("part"))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val threads = Seq(10L, 20L).map { id =>
      new Thread(() => {
        barrier.await()
        try {
          Layout.mergeVersionedPartitioned(spark, root,
            rows((id, "p1", id.toDouble)), Seq("id"), "part")
          results.put(id, "ok")
        } catch {
          case _: java.util.ConcurrentModificationException =>
            results.put(id, "rejected")
          case t: Throwable => results.put(id, s"unexpected: $t")
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(results.values().stream().allMatch(v => v == "ok" || v == "rejected"),
      s"only clean outcomes allowed: $results")
    val got = Layout.readCurrent(spark, root)
      .select($"id").as[Long].collect().toSet
    // every merge that REPORTED success must be present (no lost update)
    Seq(10L, 20L).filter(id => results.get(id) == "ok").foreach(id =>
      assert(got.contains(id), s"merge $id reported ok but its row is missing"))
    assert(results.values().stream().anyMatch(v => v == "ok"),
      "at least one writer must commit")
  }

  test("withCommitRetry: racing writers BOTH commit, serialized, no lost update") {
    val root = Files.createTempDirectory("graft_occ3").toString
    Layout.initVersionedManifest(rows((1L, "p1", 1.0)), root, Seq("part"))
    val barrier = new java.util.concurrent.CyclicBarrier(3)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(10L, 20L, 30L).map { id =>
      new Thread(() => {
        barrier.await()
        try Layout.withCommitRetry(maxAttempts = 10) {
          Layout.mergeVersionedPartitioned(spark, root,
            rows((id, "p1", id.toDouble)), Seq("id"), "part")
        } catch { case t: Throwable => failures.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(180000))
    assert(failures.isEmpty, s"every retried writer must commit: $failures")
    // all three rows present — serialized commits, no lost update
    val got = Layout.readCurrent(spark, root).select($"id").as[Long].collect().toSet
    assert(got == Set(1L, 10L, 20L, 30L))
    // history is a clean chain: v0 + one version per committed merge
    assert(Layout.history(spark, root).count() == 4)
  }

  test("withCommitRetry rethrows after maxAttempts and passes other errors through") {
    var calls = 0
    intercept[java.util.ConcurrentModificationException] {
      Layout.withCommitRetry(maxAttempts = 3, baseBackoffMs = 1) {
        calls += 1
        throw new java.util.ConcurrentModificationException("always loses")
      }
    }
    assert(calls == 3)
    // non-OCC exceptions are not retried
    var other = 0
    intercept[IllegalArgumentException] {
      Layout.withCommitRetry(maxAttempts = 5) {
        other += 1
        throw new IllegalArgumentException("schema rejection")
      }
    }
    assert(other == 1)
  }

  test("cloneVersion: zero-copy branch, independent history, vacuum-proof") {
    val root = history() // 3 versions
    val branch = Files.createTempDirectory("graft_clone").toString + "/b"
    Layout.cloneVersion(spark, root, 1, branch)
    def state(r: String) = Layout.readCurrent(spark, r)
      .select($"id", $"v").as[(Long, Double)].collect().toSet
    // the clone IS v1's content, as the new root's v0, byte-shared: its
    // entries name exactly the source's files
    val v1 = Set((1L, 10.0), (2L, 99.0), (4L, 40.0), (3L, 30.0), (6L, 60.0))
    assert(state(branch) == v1)
    assert(ManifestIndex.read(spark, branch, "v00000").entries.map(_.path).toSet ==
      ManifestIndex.read(spark, root, "v00001").entries.map(e => s"$root/${e.path}").toSet,
      "clone must reference the source's files, not copy them")
    // branch evolves independently of the source
    Layout.mergeVersionedPartitioned(spark, branch,
      rows((7L, "p3", 70.0)), Seq("id"), "part")
    assert(state(branch) == v1 + ((7L, 70.0)))
    assert(Layout.readVersion(spark, root, 1).count() == 5,
      "source untouched by branch merge")
    // re-homed, the branch survives the source vacuuming the cloned version
    Layout.rehomeClone(spark, branch)
    Layout.vacuumVersions(spark, root, keep = 1)
    assert(state(branch) == v1 + ((7L, 70.0)))
    // refusing to clone ONTO an existing root
    intercept[IllegalArgumentException] {
      Layout.cloneVersion(spark, root, 2, branch)
    }
  }

  test("history lists every live version with the current flagged") {
    val root = history()
    val h = Layout.history(spark, root)
      .select($"version", $"is_current").as[(Int, Boolean)].collect().toSeq
    assert(h == Seq((0, false), (1, false), (2, true)))
    val stats = Layout.history(spark, root)
      .select($"n_files", $"bytes").as[(Long, Long)].collect()
    assert(stats.forall { case (f, b) => f > 0 && b > 0 })
    // vacuum drops rows from the log too
    Layout.vacuumVersions(spark, root, keep = 1)
    assert(Layout.history(spark, root).select($"version").as[Int]
      .collect().toSeq == Seq(2))
  }

  test("changeFeed between identical versions is empty") {
    val root = history()
    // v1 -> v2 deleted id=3 only; diffing v2 against itself via a no-op
    // merge (same rows) must produce zero change rows
    val live = Layout.readCurrent(spark, root)
    Layout.mergeVersionedPartitioned(spark, root,
      live.filter($"id" === 1), Seq("id"), "part")
    assert(Layout.changeFeed(spark, root, 2, 3, Seq("id")).isEmpty)
  }

  test("feed across an addColumn: metadata commit empty, data commits null-fill") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cf_addcol").toString + "/t"
    Layout.initVersionedManifest(
      Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("id", "v", "g"),
      root, Seq("g"))
    Layout.addColumn(spark, root, "score",
      org.apache.spark.sql.types.DoubleType)
    // the schema-only commit must produce ZERO change rows (and the feed
    // reads in the to-side's evolved schema)
    val f01 = Layout.changeFeed(spark, root, 0, 1, Seq("id"))
    assert(f01.columns.contains("score") && f01.isEmpty)
    // a post-add data commit: pre-images null-fill the new column
    Layout.upsertVersionedRows(spark, root,
      Seq((1L, 11L, "a", 0.5)).toDF("id", "v", "g", "score"), Seq("id"))
    val f02 = Layout.changeFeed(spark, root, 0, 2, Seq("id"))
      .select($"id", $"v", $"score", $"_change_type")
      .as[(Long, Long, Option[Double], String)].collect().toSet
    assert(f02 == Set(
      (1L, 10L, None, "update_pre"), (1L, 11L, Some(0.5), "update_post")))
  }
}
