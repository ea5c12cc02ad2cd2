package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{Layout, ManifestIndex}

/** `Layout.maintain` (r11): purge → compact → vacuum composed under OCC,
  * on a table carrying deletion vectors + fragmented leaves + pending
  * renames at once. Pins: content invariance, physical convergence (no
  * DVs, coalesced leaves, healed stats/blooms), idempotence (second run
  * all-zero, no version claimed), and policy toggles.
  */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def rows(n: Int) = (1 to n).map(i =>
    (i.toLong, s"p${i % 2}", i.toDouble)).toDF("id", "part", "v")

  /** A worked-over manifest table: 5 fragment-accreting upserts, a DV
    * delete, and a pending column rename.
    */
  private def workedOver(): String = {
    val root = Files.createTempDirectory("graft_maint").toString + "/t"
    Layout.initVersionedManifest(rows(200).coalesce(1), root, Seq("part"))
    (1 to 5).foreach { k =>
      Layout.upsertVersionedRows(spark, root,
        (1 to 10).map(i => ((200 + k * 10 + i).toLong, "p1",
          i.toDouble)).toDF("id", "part", "v"), Seq("id"))
    }
    // DVs land on p0 only, fragments accrete on p1 only — so purge and
    // compact each have distinct work to do in one maintain run
    Layout.deleteVersionedRows(spark, root, $"part" === "p0" && $"id" % 9 === 0)
    Layout.renameColumn(spark, root, "v", "value")
    root
  }

  private def state(root: String): Set[(Long, String, Double)] =
    Layout.readCurrent(spark, root).select($"id", $"part", $"value")
      .as[(Long, String, Double)].collect().toSet

  test("maintain converges DVs + fragments + renames in one run; content intact") {
    val root = workedOver()
    val before = state(root)
    val m0 = ManifestIndex.read(spark, root,
      f"v${Layout.currentVersionNumber(spark, root)}%05d")
    assert(m0.entries.exists(_.dv.isDefined), "setup must carry DVs")
    assert(m0.byLeaf.exists(_._2.size > 3), "setup must be fragmented")
    val r = Layout.maintain(spark, root,
      Layout.MaintenancePolicy(maxFiles = 3, keepVersions = 2))
    assert(r.purgedLeaves >= 1 && r.compactedLeaves >= 1)
    assert(state(root) == before, "maintenance must not change content")
    val m1 = ManifestIndex.read(spark, root,
      f"v${Layout.currentVersionNumber(spark, root)}%05d")
    assert(m1.entries.forall(_.dv.isEmpty), "no DV survives a purge")
    assert(m1.byLeaf.forall(_._2.size <= 3), "no leaf stays fragmented")
    // stats self-healed: every live entry has fresh envelopes
    assert(m1.entries.forall(_.stats.isDefined))
    // the pending rename is still served correctly through the mapping
    assert(Layout.readCurrent(spark, root).columns.contains("value"))
  }

  test("maintain is idempotent: the second run is an all-zero no-op") {
    val root = workedOver()
    Layout.maintain(spark, root, Layout.MaintenancePolicy(maxFiles = 3))
    val vAfterFirst = Layout.currentVersionNumber(spark, root)
    val before = state(root)
    val r2 = Layout.maintain(spark, root, Layout.MaintenancePolicy(maxFiles = 3))
    assert(r2.purgedLeaves == 0 && r2.compactedLeaves == 0 &&
      r2.vacuumedVersions == 0, r2.toString)
    assert(Layout.currentVersionNumber(spark, root) == vAfterFirst,
      "an idle maintenance run must claim no version")
    assert(state(root) == before)
  }

  test("vacuum step reclaims history beyond keepVersions; live state survives") {
    val root = workedOver()
    val before = state(root)
    val r = Layout.maintain(spark, root,
      Layout.MaintenancePolicy(maxFiles = 3, keepVersions = 1))
    assert(r.vacuumedVersions >= 1)
    assert(state(root) == before)
  }

  test("policy toggles: purge/compact/vacuum can each be disabled") {
    val root = workedOver()
    val v0 = Layout.currentVersionNumber(spark, root)
    val r = Layout.maintain(spark, root, Layout.MaintenancePolicy(
      purge = false, compact = false, vacuum = false))
    assert(r == Layout.MaintenanceReport(0, 0, 0, r.livePath))
    assert(Layout.currentVersionNumber(spark, root) == v0)
    // DVs untouched when purge is off
    val m = ManifestIndex.read(spark, root, f"v$v0%05d")
    assert(m.entries.exists(_.dv.isDefined))
  }

  test("maintain compacts FLAT (unpartitioned) roots too; idle run no-ops") {
    val root = Files.createTempDirectory("graft_maint_flat").toString + "/t"
    Layout.initVersionedManifest(rows(50).drop("part").repartition(6), root, Nil)
    (1 to 3).foreach(k => Layout.appendVersionedRows(spark, root,
      Seq(((100 + k).toLong, k.toDouble)).toDF("id", "v")))
    assert(ManifestIndex.read(spark, root, "v00003").byLeaf("").size > 2)
    val before = Layout.readCurrent(spark, root)
      .select($"id", $"v").as[(Long, Double)].collect().toSet
    // tiny average file size trips the fragmentation test on the one leaf
    val r = Layout.maintain(spark, root,
      Layout.MaintenancePolicy(maxFiles = 2, keepVersions = 2))
    assert(r.compactedLeaves == 1, r.toString)
    assert(Layout.readCurrent(spark, root)
      .select($"id", $"v").as[(Long, Double)].collect().toSet == before)
    // converged: the next run claims no version
    val v = Layout.currentVersionNumber(spark, root)
    val r2 = Layout.maintain(spark, root,
      Layout.MaintenancePolicy(maxFiles = 2, keepVersions = 2))
    assert(r2.compactedLeaves == 0)
    assert(Layout.currentVersionNumber(spark, root) == v)
  }

  test("a leaf legitimately needing > maxFiles files converges, not oscillates") {
    val root = Files.createTempDirectory("graft_maint_big").toString + "/t"
    // one leaf, 6 files; pick targetBytes = bytes/3 so the rewrite yields
    // ~3 files — MORE than maxFiles=2. The old gate (count > maxFiles)
    // re-flagged the healthy 3-file leaf forever (review fix).
    val df = (1 to 600).map(i => (i.toLong, "p0", i.toDouble))
      .toDF("id", "part", "v")
    Layout.initVersionedManifest(df.repartition(6), root, Seq("part"))
    val m0 = graft.sources.ManifestIndex.read(spark, root, "v00000")
    val bytes = m0.entries.map(_.size).sum
    val policy = Layout.MaintenancePolicy(
      targetBytes = math.max(1L, bytes / 3), maxFiles = 2, keepVersions = 100)
    val r1 = Layout.maintain(spark, root, policy)
    assert(r1.compactedLeaves == 1, r1.toString)
    val v = Layout.currentVersionNumber(spark, root)
    val r2 = Layout.maintain(spark, root, policy)
    assert(r2.compactedLeaves == 0,
      s"second run must accept the first run's output: $r2")
    assert(Layout.currentVersionNumber(spark, root) == v)
  }

  /** (result of `body`, number of Spark jobs in which some task wrote
    * rows) — write jobs read off task output metrics.
    */
  private def writeJobs[T](body: => T): (T, Int) = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val jobOf = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val writing = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageIds.foreach(s => jobOf.put(s, e.jobId))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && e.taskMetrics.outputMetrics.recordsWritten > 0)
          writing.add(e.stageId)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.graft.ListenerBusSync.drain(spark.sparkContext)
      (r, writing.asScala.map(s => jobOf.get(s)).toSet.size)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("purge rewrites every DV leaf in ONE write job, sized by live bytes") {
    val root = Files.createTempDirectory("graft_maint_purge").toString + "/t"
    Layout.initVersionedManifest(spark.range(10000).select($"id",
      concat(lit("p"), ($"id" % 5).cast("string")).as("part"),
      ($"id" * 1.5).as("v"), concat(lit("pad-"), $"id".cast("string")).as("s")),
      root, Seq("part"))
    // p0 is mostly deleted; the other four leaves lose a few rows each
    Layout.deleteVersionedRows(spark, root,
      ($"part" === "p0" && $"id" % 50 =!= 0) || $"id" % 9 === 0)
    val man = ManifestIndex.read(spark, root,
      f"v${Layout.currentVersionNumber(spark, root)}%05d")
    assert(man.byLeaf.size == 5 && man.byLeaf.values.forall(_.exists(_.dv.isDefined)))
    def live(es: Seq[ManifestIndex.Entry]): Double = es.map { e =>
      val rows = e.stats.get.rows
      e.size.toDouble * (rows - e.dv.map(_.rows).getOrElse(0L)) / rows
    }.sum
    // the healthy leaves need exactly 3 files each, p0's few live rows 1
    val target = math.ceil(live(man.byLeaf("part=p1")) / 2.5).toLong
    val want = man.byLeaf.map { case (l, es) =>
      l -> math.max(1, math.ceil(live(es) / target).toInt) }
    assert(want("part=p0") == 1 && want("part=p1") == 3, want.toString)
    val before = Layout.readCurrent(spark, root).collect().toSet
    val ((_, purged), jobs) = writeJobs(Layout.purgeDeletedRows(spark, root, target))
    assert(purged == 5)
    assert(jobs == 1, s"purge of 5 DV leaves ran $jobs write jobs")
    val after = ManifestIndex.read(spark, root,
      f"v${Layout.currentVersionNumber(spark, root)}%05d")
    assert(after.entries.forall(_.dv.isEmpty))
    assert(after.byLeaf.map { case (l, es) => l -> es.size } == want)
    assert(Layout.readCurrent(spark, root).collect().toSet == before)
    // the purge output is already healthy: compaction leaves it alone and
    // a second maintenance run is an all-zero no-op
    val policy = Layout.MaintenancePolicy(targetBytes = target, maxFiles = 3)
    val r1 = Layout.maintain(spark, root, policy)
    assert(r1.purgedLeaves == 0 && r1.compactedLeaves == 0, r1.toString)
    val v = Layout.currentVersionNumber(spark, root)
    val r2 = Layout.maintain(spark, root, policy)
    assert(r2 == Layout.MaintenanceReport(0, 0, 0, r2.livePath), r2.toString)
    assert(Layout.currentVersionNumber(spark, root) == v)
    assert(Layout.readCurrent(spark, root).collect().toSet == before)
  }
}
