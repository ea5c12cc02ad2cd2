package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sources.{Layout, ManifestIndex}

/** The versioned layout (round 10): a version is a FILE LIST,
  * carry-forward is a manifest entry, change-feed pruning is a manifest
  * compare — the object-store shape. Publish roots (one manifest commit
  * per snapshot, empty partition spec) ride the same format.
  */
class ManifestLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def rows(rs: (Long, String, Double)*) = rs.toDF("id", "part", "v")

  /** Same 3-version history as ChangeFeedSpec, on a MANIFEST root. */
  private def history(): String = {
    val root = Files.createTempDirectory("graft_man").toString
    Layout.initVersionedManifest(
      rows((1L, "p1", 10.0), (2L, "p1", 20.0), (3L, "p2", 30.0), (6L, "p3", 60.0)),
      root, Seq("part"))
    Layout.mergeVersionedPartitioned(spark, root,
      rows((2L, "p1", 99.0), (4L, "p1", 40.0)), Seq("id"), "part")
    Layout.deleteVersionedPartitioned(spark, root, col("id") === 3, "part")
    root
  }

  private def state(root: String): Set[(Long, String, Double)] =
    Layout.readCurrent(spark, root)
      .select($"id", $"part", $"v").as[(Long, String, Double)].collect().toSet

  private def feed(root: String, from: Int, to: Int): Set[(Long, Double, String, String)] =
    Layout.changeFeed(spark, root, from, to, Seq("id"))
      .select($"id", $"v", $"part", $"_change_type")
      .as[(Long, Double, String, String)].collect().toSet

  test("merge/delete on a manifest root: same semantics as the hardlink mode") {
    val root = history()
    assert(state(root) == Set(
      (1L, "p1", 10.0), (2L, "p1", 99.0), (4L, "p1", 40.0), (6L, "p3", 60.0)))
    // time travel through manifests
    assert(Layout.readVersion(spark, root, 0)
      .select($"id").as[Long].collect().toSet == Set(1L, 2L, 3L, 6L))
    assert(Layout.readVersion(spark, root, 1)
      .select($"id").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L, 6L))
  }

  test("carry-forward is a manifest ENTRY: untouched leaves reference the old version's files") {
    val root = history()
    val m1 = ManifestIndex.read(spark, root, "v00001")
    // p1 was rewritten into v00001; p2 and p3 still point into v00000 —
    // no file was linked or copied
    val byLeaf = m1.byLeaf
    assert(byLeaf("part=p1").forall(_.path.startsWith("v00001/")))
    assert(byLeaf("part=p2").forall(_.path.startsWith("v00000/")))
    assert(byLeaf("part=p3").forall(_.path.startsWith("v00000/")))
    // and the v00001 version DIR holds only p1's rewrite (nothing carried
    // physically)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1dirs = fs.listStatus(new Path(root, "v00001"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(v1dirs == Set("part=p1"))
  }

  test("changeFeed prunes by manifest compare and emits the exact images") {
    val root = history()
    assert(feed(root, 0, 1) == Set(
      (4L, 40.0, "p1", "insert"),
      (2L, 20.0, "p1", "update_pre"),
      (2L, 99.0, "p1", "update_post")))
    assert(feed(root, 1, 2) == Set((3L, 30.0, "p2", "delete")))
    assert(feed(root, 0, 2) == Set(
      (4L, 40.0, "p1", "insert"),
      (2L, 20.0, "p1", "update_pre"),
      (2L, 99.0, "p1", "update_post"),
      (3L, 30.0, "p2", "delete")))
    // the pruning is visible in the scans: the 0->1 feed plans only p1
    // files on BOTH sides (p2/p3 entries are identical in both manifests).
    // The join sits under AQE, so unwrap AdaptiveSparkPlanExec to reach the
    // file scans.
    val fed = Layout.changeFeed(spark, root, 0, 1, Seq("id"))
    fed.collect()
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansOf(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scansOf(q.plan)
    }.flatten
    val scans = scansOf(fed.queryExecution.executedPlan)
    assert(scans.size == 2, fed.queryExecution.executedPlan.toString)
    val files = scans.flatMap(_.selectedPartitions.toPartitionArray)
      .map(_.filePath.toString)
    assert(files.nonEmpty && files.forall(_.contains("part=p1")), files.mkString(","))
  }

  test("partition pruning happens in the manifest file index, not the filter") {
    val root = history()
    val pruned = Layout.readCurrent(spark, root).filter($"part" === "p3")
    val scan = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scan.nonEmpty)
    // only p3's single leaf survives listFiles; p1's three files and the
    // carried p2 never reach the scan
    val scanned = scan.head.selectedPartitions.toPartitionArray
      .map(_.filePath.toString)
    assert(scanned.nonEmpty && scanned.forall(_.contains("part=p3")), scanned.mkString(","))
    assert(pruned.select($"id").as[Long].collect().toSet == Set(6L))
    // DATA filters reach the parquet scan too (HadoopFsRelation wires the
    // manifest index into the stock FileSourceStrategy pushdown)
    val dataFiltered = Layout.readCurrent(spark, root).filter($"id" > 3L)
    val s2 = dataFiltered.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(s2.metadata("PushedFilters").contains("GreaterThan(id,3)"),
      s2.metadata("PushedFilters"))
  }

  test("delete-all-of-a-leaf leaves no entries; schema comes from the manifest") {
    val root = history()
    // wipe p1 entirely (ids 1, 2, 4)
    Layout.deleteVersionedPartitioned(spark, root, $"part" === "p1", "part")
    assert(state(root) == Set((6L, "p3", 60.0)))
    val m = ManifestIndex.read(spark, root, "v00003")
    assert(!m.leaves.contains("part=p1"))
    // feed across the wipe reads an empty from-side leaf without a donor
    assert(feed(root, 2, 3).map(t => (t._1, t._4)) ==
      Set((1L, "delete"), (2L, "delete"), (4L, "delete")))
  }

  test("schema evolution: manifest schema is authoritative; carried files null-fill") {
    val root = Files.createTempDirectory("graft_man_evo").toString
    Layout.initVersionedManifest(rows((1L, "p1", 10.0), (3L, "p2", 30.0)), root, Seq("part"))
    val up = Seq((2L, "p1", 20.0, "new")).toDF("id", "part", "v", "w")
    Layout.mergeVersionedPartitioned(spark, root, up, Seq("id"), "part")
    val cur = Layout.readCurrent(spark, root)
      .select($"id", $"v", $"w").as[(Long, Double, Option[String])].collect().toSet
    assert(cur == Set((1L, 10.0, None), (2L, 20.0, Some("new")), (3L, 30.0, None)))
    assert(!Layout.readVersion(spark, root, 0).columns.contains("w"))
    // a pure-NEW-partition merge must still honor the table schema
    val dropped = Seq((9L, "p9")).toDF("id", "part")
    val ex = intercept[IllegalArgumentException] {
      Layout.mergeVersionedPartitioned(spark, root, dropped, Seq("id"), "part")
    }
    assert(ex.getMessage.contains("drop live column"))
  }

  test("compaction heals fragmented leaves from manifest stats; healthy leaves carry") {
    val root = Files.createTempDirectory("graft_man_cvp").toString
    // the optimized-write default lands ONE file per touched leaf per
    // commit, so this test opts into fan-out via the writer's knob: what
    // matters is the leaf exceeds maxFiles so stats flag it as fragmented
    spark.conf.set("graft.write.filesPerLeaf", "8")
    try {
      Layout.initVersionedManifest(rows((1L, "p1", 1.0), (100L, "p2", 5.0)), root, Seq("part"))
      (2L to 11L).foreach(i => Layout.mergeVersionedPartitioned(spark, root,
        rows((i, "p1", i.toDouble)), Seq("id"), "part"))
    } finally spark.conf.unset("graft.write.filesPerLeaf")
    val before = ManifestIndex.read(spark, root, "v00010")
    assert(before.byLeaf("part=p1").size > 4)
    val (_, healed) = Layout.compactVersionedPartitioned(spark, root,
      targetBytes = 64L * 1024 * 1024, maxFiles = 4)
    assert(healed == 1)
    val after = ManifestIndex.read(spark, root, "v00011")
    assert(after.byLeaf("part=p1").size <= 4)
    // p2 carried as an entry, still pointing at its original file
    assert(after.byLeaf("part=p2") == before.byLeaf("part=p2"))
    assert(state(root) == (1L to 11L).map(i => (i, "p1", i.toDouble)).toSet + ((100L, "p2", 5.0)))
    // the pre-compaction snapshot is intact
    assert(Layout.readVersion(spark, root, 10).count() == 12)
    // the change feed across a pure compaction is EMPTY (files moved,
    // content didn't) — manifest compare sees the rewritten leaf, the row
    // diff then proves it equal
    assert(Layout.changeFeed(spark, root, 10, 11, Seq("id")).isEmpty)
    // and a re-run finds nothing left to do
    assert(Layout.compactVersionedPartitioned(spark, root,
      targetBytes = 64L * 1024 * 1024, maxFiles = 4)._2 == 0)
  }

  test("vacuum: a manifest-referenced file OUTLIVES its origin version dir") {
    val root = history() // v0, v1, v2; p3's file lives in v00000, referenced by v2
    val p3file = ManifestIndex.read(spark, root, "v00002").byLeaf("part=p3").head.path
    assert(p3file.startsWith("v00000/"))
    val removed = Layout.vacuumVersions(spark, root, keep = 1)
    assert(removed == 2)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // v0's manifest is gone (version unreadable)...
    assert(!ManifestIndex.exists(spark, root, "v00000"))
    intercept[IllegalArgumentException] { Layout.readVersion(spark, root, 0) }
    // ...but the carried p3 file survived inside the vacuumed version's dir
    assert(fs.exists(new Path(root, p3file)))
    // v0's REWRITTEN-away p1 files did not survive
    assert(!fs.exists(new Path(root, "v00000/part=p1")))
    // and the live snapshot still reads completely
    assert(state(root) == Set(
      (1L, "p1", 10.0), (2L, "p1", 99.0), (4L, "p1", 40.0), (6L, "p3", 60.0)))
  }

  test("cloneVersion: manifest clone references the source absolutely, zero data ops") {
    val root = history()
    val branch = Files.createTempDirectory("graft_man_clone").toString + "/b"
    Layout.cloneVersion(spark, root, 1, branch)
    val v1 = Set((1L, 10.0), (2L, 99.0), (4L, 40.0), (3L, 30.0), (6L, 60.0))
    assert(Layout.readCurrent(spark, branch)
      .select($"id", $"v").as[(Long, Double)].collect().toSet == v1)
    // every entry is absolute into the source; the clone root holds no data
    val m = ManifestIndex.read(spark, branch, "v00000")
    assert(m.entries.nonEmpty && m.entries.forall(_.path.startsWith(root)))
    // divergent write on the branch leaves the source untouched
    Layout.mergeVersionedPartitioned(spark, branch,
      rows((7L, "p1", 70.0)), Seq("id"), "part")
    assert(state(root).forall(_._1 != 7L))
    // compacting the branch re-homes p1's data into the branch root
    Layout.compactVersionedPartitioned(spark, branch, 64L * 1024 * 1024, maxFiles = 1)
    val rehomed = ManifestIndex.read(spark, branch,
      Layout.resolveCurrent(spark, branch).split('/').last)
    assert(rehomed.byLeaf("part=p1").forall(e => !e.path.startsWith("/") ||
      e.path.startsWith(branch)))
  }

  test("OCC: manifest commits race safely under withCommitRetry") {
    // three racing writers, with and without withCommitRetry: every outcome
    // is clean (a commit, or a ConcurrentModificationException for a lost
    // claim), no reported commit is lost, and history is a clean chain
    for (retry <- Seq(true, false)) {
      val root = Files.createTempDirectory("graft_man_occ").toString
      Layout.initVersionedManifest(rows((1L, "p1", 1.0)), root, Seq("part"))
      val ids = Seq(10L, 20L, 30L)
      val barrier = new java.util.concurrent.CyclicBarrier(ids.size)
      val results = new java.util.concurrent.ConcurrentHashMap[Long, String]()
      val threads = ids.map { id =>
        new Thread(() => {
          barrier.await()
          def merge() = Layout.mergeVersionedPartitioned(spark, root,
            rows((id, "p1", id.toDouble)), Seq("id"), "part")
          try {
            if (retry) Layout.withCommitRetry(maxAttempts = 10)(merge())
            else merge()
            results.put(id, "ok")
          } catch {
            case _: java.util.ConcurrentModificationException =>
              results.put(id, "rejected")
            case t: Throwable => results.put(id, s"unexpected: $t")
          }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join(180000))
      val outcomes = ids.map(id =>
        id -> Option(results.get(id)).getOrElse("unfinished")).toMap
      assert(outcomes.values.forall(v => v == "ok" || v == "rejected"),
        s"retry=$retry: only clean outcomes allowed: $outcomes")
      if (retry)
        assert(outcomes.values.forall(_ == "ok"),
          s"every retried writer must commit: $outcomes")
      val committed = ids.filter(outcomes(_) == "ok")
      assert(committed.nonEmpty, s"retry=$retry: no writer committed")
      // no lost update: every merge that REPORTED success is present
      assert(state(root).map(_._1) == Set(1L) ++ committed,
        s"retry=$retry: $outcomes")
      // history is a clean chain: v0 + one version per committed merge
      assert(Layout.history(spark, root).select($"version").as[Int]
        .collect().sorted.toSeq == (0 to committed.size),
        s"retry=$retry: $outcomes")
    }
  }

  test("stale-claim recovery sweeps the debris of a writer that crashed " +
      "before its pointer flip") {
    val root = Files.createTempDirectory("graft_man_guard").toString
    Layout.initVersionedManifest(rows((1L, "p1", 1.0)), root, Seq("part"))
    // simulate a writer that crashed AFTER claiming + committing a manifest
    // but BEFORE the pointer flip: claim + dir + manifest ahead of _current
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.createNewFile(new Path(root, "v00001.claim"))
    fs.mkdirs(new Path(root, "v00001"))
    ManifestIndex.write(spark, root, "v00001",
      ManifestIndex.read(spark, root, "v00000"))
    Thread.sleep(20)
    assert(Layout.recoverStaleClaims(spark, root, olderThanMs = 10) == 1)
    assert(!ManifestIndex.exists(spark, root, "v00001"))
    // a fresh writer now commits v00001 cleanly
    Layout.mergeVersionedPartitioned(spark, root, rows((2L, "p1", 2.0)), Seq("id"), "part")
    assert(state(root) == Set((1L, "p1", 1.0), (2L, "p1", 2.0)))
  }

  test("hive-escaped partition values round-trip through the manifest read path") {
    // values the writer must escape in leaf dir names: space, '=', '/',
    // '%', ':' — parseLeaf must unescape them back to the originals, and
    // key-pruned merge must still target the right leaf. Plus a NULL
    // partition value (the __HIVE_DEFAULT_PARTITION__ leaf) on the read
    // path.
    val root = Files.createTempDirectory("graft_man_esc").toString
    val weird = Seq("a b", "x=y", "p/q", "100%", "c:d")
    val base = weird.zipWithIndex.map { case (p, i) => (i.toLong, p, 1.0) } :+
      ((99L, null.asInstanceOf[String], 9.0))
    Layout.initVersionedManifest(base.toDF("id", "part", "v"), root, Seq("part"))
    val got = Layout.readCurrent(spark, root)
      .select($"id", $"part").as[(Long, Option[String])].collect().toMap
    assert(got == base.map(r => r._1 -> Option(r._2)).toMap)
    // partition pruning still works on an escaped value
    val one = Layout.readCurrent(spark, root).filter($"part" === "x=y")
      .select($"id").as[Long].collect().toSeq
    assert(one == Seq(1L))
    // key-pruned merge into the escaped leaf rewrites ONLY that leaf
    Layout.mergeVersionedPartitioned(spark, root,
      Seq((1L, "x=y", 7.0)).toDF("id", "part", "v"), Seq("id"), "part")
    val m = ManifestIndex.read(spark, root, "v00001")
    val rewritten = m.entries.filter(_.path.startsWith("v00001/")).map(_.leaf).distinct
    assert(rewritten.length == 1 && rewritten.head.startsWith("part=x"))
    assert(Layout.readCurrent(spark, root).filter($"id" === 1L)
      .select($"v").as[Double].head() == 7.0)
  }

  test("depth-2 partitioning: manifest pruning, carry and feed work on (day, region) leaves") {
    val root = Files.createTempDirectory("graft_man_d2").toString
    def r2(rs: (Long, Int, String, Double)*) = rs.toDF("id", "day", "region", "v")
    Layout.initVersionedManifest(r2(
      (1L, 1, "eu", 1.0), (2L, 1, "us", 2.0),
      (3L, 2, "eu", 3.0), (4L, 2, "us", 4.0)), root, Seq("day", "region"))
    // merge touches ONLY (day=1, region=us)
    Layout.mergeVersionedPartitioned(spark, root,
      r2((2L, 1, "us", 99.0), (5L, 1, "us", 5.0)), Seq("id"), Seq("day", "region"))
    val m1 = ManifestIndex.read(spark, root, "v00001")
    assert(m1.byLeaf("day=1/region=us").forall(_.path.startsWith("v00001/")))
    Seq("day=1/region=eu", "day=2/region=eu", "day=2/region=us").foreach(l =>
      assert(m1.byLeaf(l).forall(_.path.startsWith("v00000/")), l))
    // feed prunes to the one deep leaf and reports the right images
    val feed = Layout.changeFeed(spark, root, 0, 1, Seq("id"))
      .select($"id", $"_change_type").as[(Long, String)].collect().toSet
    assert(feed == Set((2L, "update_pre"), (2L, "update_post"), (5L, "insert")))
    // partition pruning on BOTH levels reaches the scan
    val got = Layout.readCurrent(spark, root)
      .filter($"day" === 1 && $"region" === "us")
      .select($"id", $"v").as[(Long, Double)].collect().toSet
    assert(got == Set((2L, 99.0), (5L, 5.0)))
    // partition-predicate delete prunes the match scan and drops the leaf
    Layout.deleteVersionedPartitioned(spark, root, $"day" === 2 && $"region" === "eu",
      Seq("day", "region"))
    assert(!ManifestIndex.read(spark, root, "v00002").leaves.contains("day=2/region=eu"))
    assert(Layout.readCurrent(spark, root).count() == 4)
  }

  test("dynamic partition pruning reaches a manifest-backed fact scan") {
    // manifest fact table partitioned on part, joined to a filtered dim on
    // the partition column: the fact scan must carry a dynamicpruning
    // filter (FileSourceScanExec evaluates it against the manifest index's
    // partition values at runtime — no listing, no full scan)
    val root = Files.createTempDirectory("graft_man_dpp").toString
    val fact = (1L to 400L).map(i => (i, s"p${i % 8}", i.toDouble))
    Layout.initVersionedManifest(fact.toDF("id", "part", "v"), root, Seq("part"))
    val dimDir = Files.createTempDirectory("graft_man_dpp_dim").toString
    Seq(("p3", "keep"), ("p5", "drop")).toDF("part", "tag")
      .write.mode("overwrite").parquet(dimDir)
    val joined = Layout.readCurrent(spark, root)
      .join(spark.read.parquet(dimDir).filter($"tag" === "keep"), Seq("part"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"manifest fact scan must carry a dynamic pruning filter:\n${plan.take(1800)}")
    assert(joined.count() == fact.count(_._2 == "p3"))
  }

  test("history on a manifest root comes from the manifests") {
    val root = history()
    val h = Layout.history(spark, root)
      .select($"version", $"is_current").as[(Int, Boolean)].collect().toMap
    assert(h == Map(0 -> false, 1 -> false, 2 -> true))
  }

  test("vacuumPlan is exactly the real vacuum's deletion set, and deletes nothing") {
    val root = history()
    // add a DV commit so sidecar reference-counting is in the picture
    Layout.deleteVersionedRows(spark, root, col("id") === 4L)
    def tree(): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      val base = java.nio.file.Paths.get(root)
      val s = java.nio.file.Files.walk(base)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => base.relativize(p).toString -> java.nio.file.Files.size(p))
        // LocalFileSystem checksum shadows (.name.crc) ride along with
        // their primaries on delete and don't exist on object stores —
        // they are filesystem artifacts, not plan entities
        .filterNot { case (p, _) =>
          val n = p.substring(p.lastIndexOf('/') + 1)
          n.startsWith(".") && n.endsWith(".crc")
        }
        .toMap
      finally s.close()
    }
    val before = tree()
    val plan = Layout.vacuumPlan(spark, root, keep = 2)
      .select($"path", $"bytes").as[(String, Long)].collect().toMap
    assert(tree() == before, "a dry run must not touch the tree")
    assert(plan.nonEmpty)
    Layout.vacuumVersions(spark, root, keep = 2)
    val after = tree()
    val deleted = before.view.filterKeys(!after.contains(_)).toMap
    assert(deleted == plan,
      s"plan/delete drift: planned-only=${plan.keySet -- deleted.keySet} " +
        s"deleted-only=${deleted.keySet -- plan.keySet}")
    // and the live snapshot is intact
    assert(state(root).map(_._1) == Set(1L, 2L, 6L))
  }

  test("exportFileList: raw-file readers see the exact snapshot; DVs/renames refuse") {
    val root = history()
    val listFile = root + "/_export/files.txt"
    val n = Layout.exportFileList(spark, root, listFile)
    val paths = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(listFile)), "UTF-8").trim.split("\n").toSeq
    assert(paths.size == n && n > 0)
    // an engine with no layout knowledge reads the listed files directly,
    // deriving the partition column from the hive dir names (what DuckDB's
    // hive_partitioning does) — exact snapshot
    def externalRead(ps: Seq[String]) = spark.read.parquet(ps: _*)
      .withColumn("part",
        regexp_extract(input_file_name(), "part=([^/]+)", 1))
      .select($"id", $"part", $"v").as[(Long, String, Double)].collect().toSet
    assert(externalRead(paths) == state(root))
    // carried files from older version dirs are listed by absolute path
    assert(paths.exists(_.contains("/v00000/")) && paths.exists(_.contains("/v00001/")))
    // a deletion vector makes raw files lie → refuse, purge, export again.
    // A dedicated root whose p1 leaf is ONE 3-row file, so deleting one
    // row leaves a DV-bearing entry (a fully-deleted file would just drop
    // out of the manifest and export would rightly succeed)
    val root2 = Files.createTempDirectory("graft_man_exp2").toString
    val listFile2 = root2 + "/_export/files.txt"
    Layout.initVersionedManifest(
      rows((1L, "p1", 10.0), (2L, "p1", 20.0), (3L, "p1", 30.0),
        (6L, "p3", 60.0)).coalesce(1), root2, Seq("part"))
    Layout.deleteVersionedRows(spark, root2, col("id") === 1L)
    val e = intercept[IllegalArgumentException] {
      Layout.exportFileList(spark, root2, listFile2)
    }
    assert(e.getMessage.contains("deletion vectors"))
    Layout.purgeDeletedRows(spark, root2)
    Layout.exportFileList(spark, root2, listFile2)
    val paths2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(listFile2)), "UTF-8").trim.split("\n").toSeq
    assert(externalRead(paths2).map(_._1) == Set(2L, 3L, 6L))
    // pending renames surface physical names → refuse
    Layout.renameColumn(spark, root2, "v", "value")
    val e2 = intercept[IllegalArgumentException] {
      Layout.exportFileList(spark, root2, listFile2)
    }
    assert(e2.getMessage.contains("renames"))
  }

  // ------------------------------------------------------- publish roots

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select($"id").as[Long].collect().toSet

  private def shape(df: org.apache.spark.sql.DataFrame) =
    df.schema.map(f => f.name -> f.dataType)

  /** Metadata value `k` that version `v`'s publish recorded, if any. */
  private def publishMeta(root: String, v: Int, k: String): Option[String] =
    ManifestIndex.read(spark, root, f"v$v%05d").properties
      .get(ManifestIndex.PublishPrefix + k)

  test("publishVersion: a version's metadata is exactly what its publish " +
      "wrote; a key a later publish leaves out is absent there") {
    val root = Files.createTempDirectory("graft_pub_meta").toString + "/t"
    Layout.publishVersion(spark, root, rows((1L, "p1", 1.0)),
      Map("a" -> "1", "b" -> "x\ty\"z"))
    Layout.publishVersion(spark, root, rows((2L, "p1", 2.0)), Map("a" -> "2"))
    def meta(v: Int, k: String) = publishMeta(root, v, k)
    assert(meta(0, "a").contains("1") && meta(0, "b").contains("x\ty\"z"))
    assert(meta(1, "a").contains("2"))
    assert(meta(1, "b").isEmpty, "publish metadata must not carry forward")
    // the rows flipped with the metadata: v1 is exactly the second publish
    assert(ids(Layout.readCurrent(spark, root)) == Set(2L))
    // one manifest commit with an empty partition spec, no carried entries
    val m1 = ManifestIndex.read(spark, root, "v00001")
    assert(m1.partitionSchema.isEmpty && m1.entries.nonEmpty &&
      m1.entries.forall(e => e.leaf == "" && e.path.startsWith("v00001/")))
  }

  test("publishVersion of an empty frame reads back empty with that " +
      "frame's own schema") {
    val empty = Seq.empty[(Long, String)].toDF("id", "tag")
    // after a non-empty publish of a DIFFERENT schema
    val root = Files.createTempDirectory("graft_pub_empty").toString + "/t"
    Layout.publishVersion(spark, root, rows((1L, "p1", 1.0)))
    Layout.publishVersion(spark, root, empty)
    val back = Layout.readCurrent(spark, root)
    assert(back.isEmpty && shape(back) == shape(empty), back.schema.simpleString)
    // and as a fresh root's very first publish
    val root2 = Files.createTempDirectory("graft_pub_empty2").toString + "/t"
    Layout.publishVersion(spark, root2, empty)
    val back2 = Layout.readCurrent(spark, root2)
    assert(back2.isEmpty && shape(back2) == shape(empty))
  }

  test("a publish whose manifest landed but whose pointer never flipped " +
      "leaves readers and the publish metadata at the previous version") {
    val root = Files.createTempDirectory("graft_pub_crash").toString + "/t"
    Layout.publishVersion(spark, root,
      rows((1L, "p1", 10.0), (2L, "p2", 20.0)), Map("w" -> "0"))
    def current() = Layout.readCurrent(spark, root).collect().toSet
    val v0Rows = current()
    // a publish that crashed after writing its manifest (metadata w=1),
    // before the pointer flip: claim + dir + manifest ahead of _current
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m0 = ManifestIndex.read(spark, root, "v00000")
    fs.createNewFile(new Path(root, "v00001.claim"))
    fs.mkdirs(new Path(root, "v00001"))
    ManifestIndex.write(spark, root, "v00001", m0.copy(properties =
      m0.properties.map { case (k, v) =>
        k -> (if (k.startsWith(ManifestIndex.PublishPrefix)) "1" else v) }))
    assert(Layout.currentVersionNumber(spark, root) == 0)
    assert(current() == v0Rows)
    assert(publishMeta(root, 0, "w").contains("0"))
    assert(Layout.history(spark, root).count() == 1)
    // recovery clears the debris …
    Thread.sleep(20)
    assert(Layout.recoverStaleClaims(spark, root, olderThanMs = 10) == 1)
    assert(!ManifestIndex.exists(spark, root, "v00001") &&
      !fs.exists(new Path(root, "v00001")))
    // … and the next publish claims v1 and flips to it
    Layout.publishVersion(spark, root, rows((3L, "p1", 30.0)), Map("w" -> "1"))
    assert(Layout.currentVersionNumber(spark, root) == 1)
    assert(ids(Layout.readCurrent(spark, root)) == Set(3L))
    assert(publishMeta(root, 1, "w").contains("1"))
  }

  test("vacuumVersions on a publish root deletes the replaced files and " +
      "keeps the live ones") {
    val root = Files.createTempDirectory("graft_pub_vac").toString + "/t"
    (1 to 3).foreach(i =>
      Layout.publishVersion(spark, root, rows((i.toLong, "p1", i.toDouble))))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(v: String) = ManifestIndex.read(spark, root, v).entries.map(_.path)
    val (old, live) = (files("v00000") ++ files("v00001"), files("v00002"))
    assert(old.nonEmpty && live.nonEmpty)
    assert(Layout.vacuumVersions(spark, root, keep = 1) == 2)
    assert(old.forall(p => !fs.exists(new Path(root, p))), old.mkString(","))
    assert(live.forall(p => fs.exists(new Path(root, p))), live.mkString(","))
    assert(!fs.exists(new Path(root, "v00000")) && !fs.exists(new Path(root, "v00001")))
    assert(ids(Layout.readCurrent(spark, root)) == Set(3L))
  }

  test("readVersion of an older publish returns that version's rows and " +
      "schema") {
    val root = Files.createTempDirectory("graft_pub_tt").toString + "/t"
    val v0 = rows((1L, "p1", 1.0), (2L, "p2", 2.0))
    val v1 = Seq((7, "x")).toDF("k", "label")
    Layout.publishVersion(spark, root, v0)
    Layout.publishVersion(spark, root, v1)
    val back0 = Layout.readVersion(spark, root, 0)
    assert(shape(back0) == shape(v0))
    assert(back0.as[(Long, String, Double)].collect().toSet ==
      Set((1L, "p1", 1.0), (2L, "p2", 2.0)))
    val back1 = Layout.readVersion(spark, root, 1)
    assert(shape(back1) == shape(v1))
    assert(back1.as[(Int, String)].collect().toSeq == Seq((7, "x")))
  }

  /** A root every metadata DDL applies to: `g` satisfies `g = v * 2`, `id`
    * is unique and non-null, `v` holds no NULL, and `w` is an INT that
    * repeats.
    */
  private def ddlRoot(): String = {
    val root = Files.createTempDirectory("graft_ddl").toString
    Layout.initVersionedManifest(
      Seq((1L, "p1", 10.0, 20.0, 1), (2L, "p2", 20.0, 40.0, 1))
        .toDF("id", "part", "v", "g", "w"), root, Seq("part"))
    root
  }

  private def liveOperation(root: String): String =
    Layout.history(spark, root).filter($"is_current")
      .select($"operation").as[String].head()

  test("every metadata DDL commits exactly one version through the one " +
      "timed commit path, recording its operation") {
    import org.apache.spark.sql.types.{LongType, StringType}
    val root = ddlRoot()
    // an all-empty drop zone whose file has the table's exact schema:
    // COPY INTO commits its ledger alone
    val zone = Files.createTempDirectory("graft_ddl_zone").toString + "/in"
    Layout.readCurrent(spark, root).limit(0).write.parquet(zone)
    val calls: Seq[(String, String, () => Any)] = Seq(
      ("copyInto", "COPY INTO", () => Layout.copyInto(spark, root, zone)),
      ("addCheckConstraint", "ADD CONSTRAINT",
        () => Layout.addCheckConstraint(spark, root, "pos", "v >= 0")),
      ("dropCheckConstraint", "DROP CONSTRAINT",
        () => Layout.dropCheckConstraint(spark, root, "pos")),
      ("setNotNull", "SET NOT NULL", () => Layout.setNotNull(spark, root, "v")),
      ("dropNotNull", "DROP NOT NULL", () => Layout.dropNotNull(spark, root, "v")),
      ("setColumnDefault", "SET DEFAULT",
        () => Layout.setColumnDefault(spark, root, "v", "0.0")),
      ("dropColumnDefault", "DROP DEFAULT",
        () => Layout.dropColumnDefault(spark, root, "v")),
      ("setGeneratedColumn", "SET GENERATED",
        () => Layout.setGeneratedColumn(spark, root, "g", "v * 2")),
      ("dropGeneratedColumn", "DROP GENERATED",
        () => Layout.dropGeneratedColumn(spark, root, "g")),
      ("addUniqueConstraint", "ADD UNIQUE",
        () => Layout.addUniqueConstraint(spark, root, "uid", Seq("id"))),
      ("dropUniqueConstraint", "DROP UNIQUE",
        () => Layout.dropUniqueConstraint(spark, root, "uid")),
      ("setIdentityColumn", "SET IDENTITY",
        () => Layout.setIdentityColumn(spark, root, "id")),
      ("renameColumn", "RENAME COLUMN",
        () => Layout.renameColumn(spark, root, "g", "g2")),
      ("addColumn", "ADD COLUMN",
        () => Layout.addColumn(spark, root, "x", StringType)),
      ("widenColumn", "WIDEN COLUMN",
        () => Layout.widenColumn(spark, root, "w", LongType)),
      ("dropColumn", "DROP COLUMN", () => Layout.dropColumn(spark, root, "x")),
      ("repartitionTable", "REPARTITION",
        () => Layout.repartitionTable(spark, root, Seq("w"))),
      ("restoreVersion", "RESTORE", () => Layout.restoreVersion(spark, root, 0)))
    calls.foreach { case (name, op, call) =>
      val before = Layout.currentVersionNumber(spark, root)
      graft.util.DmlTimer.readAndResetSec()
      call()
      val timed = graft.util.DmlTimer.readAndResetSec()
      assert(Layout.currentVersionNumber(spark, root) == before + 1,
        s"$name must commit exactly one version")
      assert(liveOperation(root) == op, name)
      assert(timed > 0.0, s"$name must count as DML setup time")
    }
  }

  test("a metadata DDL its own validation refuses claims no version") {
    val root = ddlRoot()
    Layout.addColumn(spark, root, "n", org.apache.spark.sql.types.DoubleType)
    val before = Layout.currentVersionNumber(spark, root)
    val refusals: Seq[() => Any] = Seq(
      () => Layout.addCheckConstraint(spark, root, "neg", "v < 0"),
      () => Layout.setNotNull(spark, root, "n"),
      () => Layout.addUniqueConstraint(spark, root, "up", Seq("w")),
      () => Layout.setGeneratedColumn(spark, root, "g", "v * 3"),
      () => Layout.dropCheckConstraint(spark, root, "nope"),
      () => Layout.widenColumn(spark, root, "v",
        org.apache.spark.sql.types.IntegerType))
    refusals.foreach(r => intercept[IllegalArgumentException](r()))
    Layout.addUniqueConstraint(spark, root, "up", Seq("id"))
    assert(Layout.currentVersionNumber(spark, root) == before + 1)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val claims = fs.listStatus(new Path(root)).map(_.getPath.getName)
      .filter(_.endsWith(".claim")).sorted.toSeq
    assert(claims == (1 to before + 1).map(v => f"v$v%05d.claim"),
      "a refused DDL must leave no claim behind")
  }

  test("the jobs of a metadata DDL's probe scan are labelled with its " +
      "public entry point") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val root = ddlRoot()
    // an all-NULL column: file stats cannot prune the null probe's scan
    Layout.addColumn(spark, root, "n", org.apache.spark.sql.types.DoubleType)
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        labels.add(String.valueOf(
          e.properties.getProperty("spark.job.description")))
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerBusSync.drain(sc)
    sc.addSparkListener(l)
    try {
      intercept[IllegalArgumentException](Layout.setNotNull(spark, root, "n"))
      org.apache.spark.graft.ListenerBusSync.drain(sc)
    } finally sc.removeSparkListener(l)
    val seen = labels.toArray.map(_.toString).toSeq
    assert(seen.nonEmpty, "the null probe runs at least one job")
    assert(seen.forall(_ == "Layout.setNotNull"), seen.mkString(", "))
  }
}
