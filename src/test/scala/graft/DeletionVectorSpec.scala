package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sources.{Layout, ManifestIndex}

/** Deletion vectors (merge-on-read row deletes) on manifest roots:
  * a DELETE writes the matched rows' (file, row_index) coordinates as a
  * sidecar and re-points manifest entries — no data file is rewritten.
  * Readers anti-join the positions out; purge/merge/compaction materialize
  * them; vacuum reference-counts the sidecars like data files.
  */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  private def rows(rs: (Long, String, Double)*) = rs.toDF("id", "part", "v")

  private def base() = rows(
    (1L, "p1", 10.0), (2L, "p1", 20.0), (3L, "p1", 30.0),
    (4L, "p2", 40.0), (5L, "p2", 50.0), (6L, "p3", 60.0))

  private def init(): String = {
    val root = Files.createTempDirectory("graft_dv").toString
    // one writer task → one multi-row file per leaf, so a partial delete
    // exercises the DV path rather than the fully-deleted-file drop
    Layout.initVersionedManifest(base().coalesce(1), root, Seq("part"))
    root
  }

  private def state(root: String): Set[(Long, String, Double)] =
    Layout.readCurrent(spark, root)
      .select($"id", $"part", $"v").as[(Long, String, Double)].collect().toSet

  private def man(root: String, v: Int) =
    ManifestIndex.read(spark, root, f"v$v%05d")

  private def fsOf(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("row delete rewrites NO data file: entries identical, only a DV sidecar appears") {
    val root = init()
    val before = man(root, 0)
    Layout.deleteVersionedRows(spark, root, $"v" === 20.0 || $"id" === 5L)
    assert(state(root) == Set(
      (1L, "p1", 10.0), (3L, "p1", 30.0), (4L, "p2", 40.0), (6L, "p3", 60.0)))
    val after = man(root, 1)
    // every data file of v1 IS a v0 file — same path, same size
    assert(after.entries.map(e => (e.path, e.size)).toSet ==
      before.entries.map(e => (e.path, e.size)).toSet)
    // touched files carry a DV ref into v00001/_dv with exact counts;
    // untouched files carry none
    val dvd = after.entries.filter(_.dv.isDefined)
    assert(dvd.nonEmpty && dvd.forall(_.dv.get.path == "v00001/_dv"))
    assert(dvd.map(_.dv.get.rows).sum == 2L)
    assert(dvd.forall(e => e.leaf == "part=p1" || e.leaf == "part=p2"))
    assert(after.entries.filter(_.leaf == "part=p3").forall(_.dv.isEmpty))
    // the new version dir holds ONLY the sidecar
    val fs = fsOf(root)
    val v1 = fs.listStatus(new Path(root, "v00001")).map(_.getPath.getName).toSet
    assert(v1 == Set("_dv"), v1.mkString(","))
  }

  test("successive row deletes accumulate; files with no new matches keep their old DV") {
    val root = init()
    Layout.deleteVersionedRows(spark, root, $"id" === 2L)   // p1 file
    Layout.deleteVersionedRows(spark, root, $"id" === 4L)   // p2 file only
    assert(state(root) == Set(
      (1L, "p1", 10.0), (3L, "p1", 30.0), (5L, "p2", 50.0), (6L, "p3", 60.0)))
    val m2 = man(root, 2)
    val byLeaf = m2.entries.groupBy(_.leaf)
    // p1's DV was untouched by the second delete — still points at v00001
    assert(byLeaf("part=p1").flatMap(_.dv).map(_.path).distinct == Seq("v00001/_dv"))
    assert(byLeaf("part=p2").flatMap(_.dv).map(_.path).distinct == Seq("v00002/_dv"))
    // a third delete on p1 folds the old position in: count goes 1 -> 2
    Layout.deleteVersionedRows(spark, root, $"id" === 3L)
    val m3 = man(root, 3)
    val p1dv = m3.entries.filter(_.leaf == "part=p1").flatMap(_.dv)
    assert(p1dv.map(_.rows).sum == 2L, p1dv.mkString(","))
    assert(p1dv.forall(_.path == "v00003/_dv"))
    assert(state(root) == Set(
      (1L, "p1", 10.0), (5L, "p2", 50.0), (6L, "p3", 60.0)))
  }

  test("time travel ignores later DVs; change feed emits deletes and folds into a view") {
    val root = init()
    Layout.deleteVersionedRows(spark, root, $"part" === "p1" && $"v" >= 20.0)
    // pre-delete snapshot still has every row
    assert(Layout.readVersion(spark, root, 0).count() == 6L)
    val feed = Layout.changeFeed(spark, root, 0, 1, Seq("id"))
    assert(feed.select($"id", $"_change_type").as[(Long, String)].collect().toSet ==
      Set((2L, "delete"), (3L, "delete")))
    // feed pruning: only the dv-changed leaf (p1) is scanned on either side
    feed.collect()
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansOf(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scansOf(q.plan)
    }.flatten
    val files = scansOf(feed.queryExecution.executedPlan)
      .flatMap(_.selectedPartitions.toPartitionArray).map(_.filePath.toString)
    // data scans: only the changed leaf; the only other file read is the
    // DV sidecar itself (the to-side applies it)
    val (dvFiles, dataFiles) = files.partition(_.contains("/_dv/"))
    assert(dataFiles.nonEmpty && dataFiles.forall(_.contains("part=p1")),
      files.mkString(","))
    assert(dvFiles.forall(_.contains("v00001/_dv")), files.mkString(","))
    // the feed maintains an incremental view across a DV delete
    val v0 = Layout.readVersion(spark, root, 0)
    val folded = graft.ops.Incremental.applyFeed(
      graft.ops.Incremental.materialize(v0, Seq("part"), Seq("v")),
      feed, Seq("part"), Seq("v"))
      .select($"part", $"n_rows", $"sum_v").as[(String, Long, Double)].collect().toSet
    assert(folded == Set(("p1", 1L, 10.0), ("p2", 2L, 90.0), ("p3", 1L, 60.0)))
  }

  test("merge reads through DVs: deleted rows never resurrect; rewritten leaf sheds its DV") {
    val root = init()
    Layout.deleteVersionedRows(spark, root, $"id" === 2L)
    Layout.mergeVersionedPartitioned(spark, root,
      rows((3L, "p1", 99.0)), Seq("id"), "part")
    assert(state(root) == Set(
      (1L, "p1", 10.0), (3L, "p1", 99.0), (4L, "p2", 40.0),
      (5L, "p2", 50.0), (6L, "p3", 60.0)))
    val m2 = man(root, 2)
    // p1 was rewritten (DV materialized — no ref); p2/p3 carried untouched
    assert(m2.entries.filter(_.leaf == "part=p1").forall(e =>
      e.dv.isEmpty && e.path.startsWith("v00002/")))
    assert(m2.entries.filterNot(_.leaf == "part=p1").forall(_.path.startsWith("v00000/")))
  }

  test("purgeDeletedRows rewrites exactly the DV leaves; content and feed unchanged") {
    val root = init()
    Layout.deleteVersionedRows(spark, root, $"id".isin(2L, 5L))
    val pre = state(root)
    val (_, n) = Layout.purgeDeletedRows(spark, root)
    assert(n == 2) // part=p1 and part=p2
    assert(state(root) == pre)
    val m2 = man(root, 2)
    assert(m2.entries.forall(_.dv.isEmpty))
    assert(m2.entries.filter(_.leaf == "part=p3").forall(_.path.startsWith("v00000/")))
    assert(m2.entries.filterNot(_.leaf == "part=p3").forall(_.path.startsWith("v00002/")))
    // a purge changes bytes, not rows: the feed across it is empty
    assert(Layout.changeFeed(spark, root, 1, 2, Seq("id")).count() == 0L)
    // idempotent: nothing left to purge
    val (p2, n2) = Layout.purgeDeletedRows(spark, root)
    assert(n2 == 0 && p2.endsWith("v00002"))
  }

  test("vacuum reference-counts DV sidecars: carried DVs outlive their origin, purged DVs sweep") {
    val root = init()
    Layout.deleteVersionedRows(spark, root, $"id" === 2L)            // v1: dv in v00001/_dv
    Layout.mergeVersionedPartitioned(spark, root,
      rows((7L, "p3", 70.0)), Seq("id"), "part")                     // v2: carries p1's dv ref
    val fs = fsOf(root)
    assert(Layout.vacuumVersions(spark, root, keep = 2) == 1)        // drops v0
    // v0's data files are still referenced by v1/v2 manifests — alive
    assert(state(root) == Set(
      (1L, "p1", 10.0), (3L, "p1", 30.0), (4L, "p2", 40.0),
      (5L, "p2", 50.0), (6L, "p3", 60.0), (7L, "p3", 70.0)))
    // v1's DV sidecar is referenced by v2 — it must survive a vacuum that
    // drops v1 itself
    Layout.mergeVersionedPartitioned(spark, root,
      rows((8L, "p3", 80.0)), Seq("id"), "part")                     // v3
    assert(Layout.vacuumVersions(spark, root, keep = 2) == 1)        // drops v1
    val dvDir = new Path(root, "v00001/_dv")
    assert(fs.exists(dvDir) && fs.listStatus(dvDir).exists(st =>
      !st.getPath.getName.startsWith("_")), "referenced DV sidecar swept")
    assert(state(root).size == 7 && !state(root).exists(_._1 == 2L))
    // purge materializes the deletes; after the old versions are vacuumed,
    // nothing references the sidecar and it sweeps with its version
    Layout.purgeDeletedRows(spark, root)                             // v4
    assert(Layout.vacuumVersions(spark, root, keep = 1) == 2)        // drops v2, v3
    assert(!fs.exists(dvDir) ||
      !fs.listStatus(dvDir).exists(st => !st.getPath.getName.startsWith("_")),
      "unreferenced DV sidecar survived vacuum")
    assert(state(root).size == 7)
  }

  test("a fully-deleted file drops out of the manifest (stats know its row count)") {
    val root = init()
    Layout.deleteVersionedRows(spark, root, $"part" === "p2")
    val m1 = man(root, 1)
    assert(!m1.leaves.contains("part=p2"), m1.leaves.mkString(","))
    assert(state(root) == Set(
      (1L, "p1", 10.0), (2L, "p1", 20.0), (3L, "p1", 30.0), (6L, "p3", 60.0)))
  }

  test("a no-match predicate is a no-op: no version committed") {
    val root = init()
    val cur = Layout.deleteVersionedRows(spark, root, $"v" > 1e9)
    assert(cur.endsWith("v00000"))
    assert(Layout.currentVersionNumber(spark, root) == 0)
  }

  test("restoreVersion: rollback is a new commit; the feed shows the inverse of the mistake") {
    val root = init()
    Layout.deleteVersionedRows(spark, root, $"id".isin(2L, 5L))   // the "mistake"
    Layout.mergeVersionedPartitioned(spark, root,
      rows((9L, "p3", 90.0)), Seq("id"), "part")                  // more damage
    Layout.restoreVersion(spark, root, 0)                         // v3 = v0 again
    assert(Layout.currentVersionNumber(spark, root) == 3)
    assert(state(root) == Set(
      (1L, "p1", 10.0), (2L, "p1", 20.0), (3L, "p1", 30.0),
      (4L, "p2", 40.0), (5L, "p2", 50.0), (6L, "p3", 60.0)))
    // the bad versions stay inspectable (append-only history)
    assert(Layout.readVersion(spark, root, 2).count() == 5L)
    // feed(bad -> restored) = the inverse: deleted rows come back as
    // inserts, the bad merge's row leaves as a delete
    val feed = Layout.changeFeed(spark, root, 2, 3, Seq("id"))
      .select($"id", $"_change_type").as[(Long, String)].collect().toSet
    assert(feed == Set((2L, "insert"), (5L, "insert"), (9L, "delete")))
    // the restored manifest keeps v0's files alive through vacuum
    assert(Layout.vacuumVersions(spark, root, keep = 1) == 3)
    assert(state(root).size == 6)
    // history records the rollback
    val ops = Layout.history(spark, root)
      .select($"version", $"operation").as[(Int, String)].collect().toMap
    assert(ops(3) == "RESTORE")
  }

  test("rehomeClone: a re-homed clone survives source vacuum; local roots no-op") {
    val root = init()
    Layout.deleteVersionedRows(spark, root, $"id" === 2L)
    val clone = Files.createTempDirectory("graft_rehome").toString
    Layout.cloneVersion(spark, root, 1, clone)
    val expect = state(clone)
    val (_, n) = Layout.rehomeClone(spark, clone)
    assert(n == 3, s"all three leaves referenced the source, rewrote $n")
    // every reference is now local (entries AND deletion vectors)
    val m = ManifestIndex.read(spark, clone,
      f"v${Layout.currentVersionNumber(spark, clone)}%05d")
    assert(m.entries.forall(e => !e.path.startsWith("/") &&
      e.dv.forall(d => !d.path.startsWith("/"))))
    // nuke the source entirely — the clone must not notice
    val fs = fsOf(root)
    fs.delete(new Path(root), true)
    assert(state(clone) == expect)
    // idempotent: nothing foreign remains
    assert(Layout.rehomeClone(spark, clone)._2 == 0)
  }

  test("clone carries DVs: the cloned snapshot hides deleted rows and evolves independently") {
    val root = init()
    Layout.deleteVersionedRows(spark, root, $"id" === 2L)
    val clone = Files.createTempDirectory("graft_dv_clone").toString
    Layout.cloneVersion(spark, root, 1, clone)
    assert(state(clone) == state(root))
    val cm = man(clone, 0)
    assert(cm.entries.exists(e => e.dv.exists(_.path.startsWith("/"))),
      "clone should absolutize DV paths")
    // clone deletes more; source unaffected
    Layout.deleteVersionedRows(spark, clone, $"id" === 6L)
    assert(state(clone) == Set(
      (1L, "p1", 10.0), (3L, "p1", 30.0), (4L, "p2", 40.0), (5L, "p2", 50.0)))
    assert(state(root).exists(_._1 == 6L))
  }

  test("update: old images DV'd out, new images appended to the same leaves") {
    val root = init()
    Layout.updateVersionedRows(spark, root, $"id" === 2L, Map("v" -> ($"v" * 10)))
    assert(state(root) == Set(
      (1L, "p1", 10.0), (2L, "p1", 200.0), (3L, "p1", 30.0),
      (4L, "p2", 40.0), (5L, "p2", 50.0), (6L, "p3", 60.0)))
    val m1 = man(root, 1)
    val p1 = m1.entries.filter(_.leaf == "part=p1")
    // original p1 file carries a 1-row DV; the updated image is a NEW file
    // in the same leaf; p2/p3 carried untouched
    assert(p1.exists(e => e.path.startsWith("v00000/") && e.dv.exists(_.rows == 1L)))
    assert(p1.exists(e => e.path.startsWith("v00001/") && e.dv.isEmpty))
    assert(m1.entries.filterNot(_.leaf == "part=p1").forall(e =>
      e.path.startsWith("v00000/") && e.dv.isEmpty))
    // the feed sees a plain update
    assert(Layout.changeFeed(spark, root, 0, 1, Seq("id"))
      .select($"id", $"v", $"_change_type").as[(Long, Double, String)]
      .collect().toSet ==
      Set((2L, 20.0, "update_pre"), (2L, 200.0, "update_post")))
  }

  test("update composes with deletes until the original file is fully shadowed") {
    val root = init()
    Layout.updateVersionedRows(spark, root, $"id" === 2L, Map("v" -> ($"v" * 10)))
    Layout.deleteVersionedRows(spark, root, $"id" === 1L)
    // id=3 is the original p1 file's last live row: updating it makes the
    // file fully deleted — the entry must drop, its images living on in
    // the update commits' files
    Layout.updateVersionedRows(spark, root, $"id" === 3L, Map("v" -> lit(0.0)))
    assert(state(root) == Set(
      (2L, "p1", 200.0), (3L, "p1", 0.0),
      (4L, "p2", 40.0), (5L, "p2", 50.0), (6L, "p3", 60.0)))
    val m3 = man(root, 3)
    assert(!m3.entries.exists(_.path.startsWith("v00000/part=p1")),
      m3.entries.mkString(","))
  }

  test("update rejects partition-column and unknown-column assignments") {
    val root = init()
    intercept[IllegalArgumentException] {
      Layout.updateVersionedRows(spark, root, $"id" === 1L, Map("part" -> lit("p9")))
    }
    intercept[IllegalArgumentException] {
      Layout.updateVersionedRows(spark, root, $"id" === 1L, Map("nope" -> lit(1)))
    }
    // and a no-match update is a no-op
    assert(Layout.updateVersionedRows(spark, root, $"id" === 99L,
      Map("v" -> lit(0.0))).endsWith("v00000"))
  }

  test("plan: DV-free reads keep the bare scan; DV reads broadcast-anti-join, pushdown intact") {
    val root = init()
    val clean = Layout.readCurrent(spark, root).filter($"v" > 15.0)
    clean.collect()
    val cleanPlan = clean.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!cleanPlan.contains("Join"), cleanPlan) // zero overhead without DVs
    Layout.deleteVersionedRows(spark, root, $"id" === 2L)
    val dv = Layout.readCurrent(spark, root).filter($"v" > 15.0)
    dv.collect()
    val p = dv.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // build side = deleted positions; never a shuffle/sort-merge join
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the data filter still reaches the parquet scan THROUGH the anti-join
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(v,15.0)"), p)
  }

  test("OCC: a racing merge and row-delete both commit under withCommitRetry") {
    val root = init()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val t1 = new Thread(() =>
      try Layout.withCommitRetry() {
        Layout.mergeVersionedPartitioned(spark, root,
          rows((7L, "p3", 70.0)), Seq("id"), "part")
      } catch { case e: Throwable => errs.add(e) })
    val t2 = new Thread(() =>
      try Layout.withCommitRetry() {
        Layout.deleteVersionedRows(spark, root, $"id" === 2L)
      } catch { case e: Throwable => errs.add(e) })
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(errs.isEmpty, errs.toString)
    // both effects present, serialized — no lost update in either order
    assert(state(root) == Set(
      (1L, "p1", 10.0), (3L, "p1", 30.0), (4L, "p2", 40.0),
      (5L, "p2", 50.0), (6L, "p3", 60.0), (7L, "p3", 70.0)))
    assert(Layout.currentVersionNumber(spark, root) == 2)
  }

  test("readAsOf: wall-clock time travel resolves by commit instant") {
    val root = init()
    val t0 = System.currentTimeMillis()
    Thread.sleep(20)
    Layout.deleteVersionedRows(spark, root, $"id" === 2L)
    Thread.sleep(20)
    val t1 = System.currentTimeMillis()
    Thread.sleep(20)
    Layout.deleteVersionedRows(spark, root, $"id" === 5L)
    val t2 = System.currentTimeMillis()
    assert(Layout.versionAsOf(spark, root, t0) == 0)
    assert(Layout.versionAsOf(spark, root, t1) == 1)
    assert(Layout.versionAsOf(spark, root, t2) == 2)
    assert(Layout.readAsOf(spark, root, t1).count() == 5L)
    assert(Layout.readAsOf(spark, root, t2).count() == 4L)
    // a timestamp before the oldest retained commit must fail, not lie
    intercept[IllegalArgumentException] {
      Layout.versionAsOf(spark, root, t0 - 3600000L)
    }
  }

  test("file skipping composes with DVs: filtered scans match the purged table") {
    val root = Files.createTempDirectory("graft_dv_skip").toString
    val df = (1L to 4000L).map(i => (i, s"p${i % 2}", i * 1.5)).toDF("id", "part", "v")
    Layout.initVersionedManifest(
      df.repartitionByRange(4, $"id"), root, Seq("part"))
    Layout.deleteVersionedRows(spark, root, $"id" % 7 === 0)
    val preds = Seq($"id" < 500L, $"id" >= 3500L, $"id".between(900L, 1100L))
    val dvAnswers = preds.map(p =>
      Layout.readCurrent(spark, root).filter(p)
        .agg(count(lit(1)), sum($"v")).as[(Long, Double)].head())
    Layout.purgeDeletedRows(spark, root)
    val purged = preds.map(p =>
      Layout.readCurrent(spark, root).filter(p)
        .agg(count(lit(1)), sum($"v")).as[(Long, Double)].head())
    assert(dvAnswers == purged)
  }

  test("reading a DV-bearing version logs no ignored-paths warning") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val root = init()
    Layout.deleteVersionedRows(spark, root, $"id" === 2L)
    Layout.deleteVersionedRows(spark, root, $"id" === 4L)
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("dv-read", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        warned.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    // the suite logs at ERROR; listen at WARN on the data-source logger only
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val ds = new LoggerConfig("org.apache.spark.sql.execution.datasources",
      Level.WARN, false)
    ds.addAppender(appender, Level.WARN, null)
    ctx.getConfiguration.addLogger(ds.getName, ds)
    ctx.updateLoggers()
    try {
      assert(state(root) == Set((1L, "p1", 10.0), (3L, "p1", 30.0),
        (5L, "p2", 50.0), (6L, "p3", 60.0)))
      // the row-level writers read the touched files' prior DVs too
      Layout.deleteVersionedRows(spark, root, $"id" === 1L)
    } finally {
      ctx.getConfiguration.removeLogger(ds.getName)
      ctx.updateLoggers()
      appender.stop()
    }
    val ignored = warned.toArray.map(_.toString)
      .filter(_.contains("All paths were ignored"))
    assert(ignored.isEmpty, ignored.mkString("\n"))
  }
}
