package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{Layout, ManifestIndex, ParquetIO}
import graft.ops.Skew

/** Scale-layout operators: partition pruning, bucketed zero-exchange joins,
  * salted skew handling (SURVEY.md §7.4(7)).
  */
class LayoutSkewSpec extends SparkSpec {
  import spark.implicits._

  test("partitioned write enables partition pruning in the scan") {
    val dir = Files.createTempDirectory("graft_part").toString
    val df = spark.read.parquet(s"${sf()}/orders.parquet")
      .withColumn("oyear", year($"o_orderdate"))
    ParquetIO.writePartitioned(df, dir, Seq("oyear"))
    val pruned = spark.read.parquet(dir).filter($"oyear" === 1996)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("oyear"))
    assert(pruned.count() ==
      df.filter(year($"o_orderdate") === 1996).count())
  }

  test("dynamic partition pruning: a dim-side filter prunes the fact scan at runtime") {
    val dir = Files.createTempDirectory("graft_dpp").toString
    val fact = spark.read.parquet(s"${sf()}/orders.parquet")
      .withColumn("oyear", year($"o_orderdate"))
    ParquetIO.writePartitioned(fact, dir, Seq("oyear"))
    // the pruning years live in DATA of a dim table on disk — a static
    // PartitionFilter cannot know them (a when()-derived tag would be
    // constant-folded straight into oyear constraints); DPP must inject
    // the subquery at runtime
    val dimDir = Files.createTempDirectory("graft_dpp_dim").toString
    fact.select($"oyear").distinct()
      .withColumn("tag", when($"oyear" === 1996, "keep").otherwise("drop"))
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val joined = spark.read.parquet(dir)
      .join(dim.filter($"tag" === "keep"), Seq("oyear"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"fact scan must carry a dynamic pruning filter:\n${plan.take(1800)}")
    assert(joined.count() == fact.filter($"oyear" === 1996).count())
  }

  test("bucketed tables join with zero shuffle exchanges") {
    Seq("graft_b_orders", "graft_b_lineitem").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // a fresh session's in-memory catalog doesn't know about leftover
      // warehouse dirs from previous runs — remove the location too
      val d = new java.io.File(s"spark-warehouse/$t")
      if (d.exists) new scala.reflect.io.Directory(d).deleteRecursively()
    }
    val o = spark.read.parquet(s"${sf()}/orders.parquet")
    val l = spark.read.parquet(s"${sf()}/lineitem.parquet")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    ParquetIO.writeBucketed(o, "graft_b_orders", "o_orderkey", 4)
    ParquetIO.writeBucketed(l, "graft_b_lineitem", "o_orderkey", 4)
    // Disable broadcast so the planner must co-locate — the property under
    // test is that bucketing removes the shuffle from a large-large join.
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_b_orders")
        .join(spark.table("graft_b_lineitem"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == o.join(l, "o_orderkey").count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("saltedAggregate matches plain aggregation") {
    val ev = spark.read.parquet(s"${sf()}/lineitem.parquet")
    val plain = ev.groupBy("l_returnflag")
      .agg(sum($"l_quantity").as("s"), count(lit(1)).as("n"))
      .orderBy("l_returnflag").collect()
    val salted = Skew.saltedAggregate(ev, Seq("l_returnflag"), salts = 8,
      partials = Seq(sum($"l_quantity").as("ps"), count(lit(1)).as("pn")),
      merges = Seq(sum($"ps").as("s"), sum($"pn").as("n")))
      .orderBy("l_returnflag").collect()
    assert(plain.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq ==
      salted.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq)
  }

  test("saltedJoin matches plain join") {
    val l = spark.read.parquet(s"${sf()}/orders.parquet")
    val r = spark.read.parquet(s"${sf()}/customer.parquet")
      .select($"c_custkey".as("o_custkey"), $"c_mktsegment")
    val plain = l.join(r, Seq("o_custkey")).count()
    val salted = Skew.saltedJoin(l, r, "o_custkey", salts = 4).count()
    assert(plain == salted)
  }

  /** An unpartitioned versioned root of `df` fragmented into `files`
    * data files, so compaction selects its one leaf.
    */
  private def fragmentedRoot(df: org.apache.spark.sql.DataFrame, tag: String,
                             files: Int): String = {
    val root = Files.createTempDirectory(tag).toString + "/t"
    Layout.initVersionedManifest(df.repartition(files), root, Nil)
    root
  }

  test("z-ordered compaction clusters a 2-D range filter into fewer files") {
    val li = spark.read.parquet(s"${sf()}/lineitem.parquet")
      .select("l_orderkey", "l_extendedprice", "l_quantity", "l_discount")
    val root = fragmentedRoot(li, "graft_z", 48)
    val bytes = ManifestIndex.read(spark, root, "v00000").entries.map(_.size).sum
    val (_, rewritten) = Layout.compactVersionedPartitioned(spark, root,
      targetBytes = (bytes + 15) / 16, maxFiles = 1,
      zOrderCols = Seq("l_extendedprice", "l_quantity"))
    assert(rewritten == 1)
    val files = ManifestIndex.read(spark, root,
      f"v${Layout.currentVersionNumber(spark, root)}%05d").entries.length
    assert(files > 8, s"the target should land ~16 clustered files, got $files")
    // Baseline: the same file count, range-laid-out on a column UNRELATED
    // to the filter dims — every file then spans the full (price, qty) box.
    val flat = Files.createTempDirectory("graft_flat").toString
    li.repartitionByRange(files, $"l_orderkey")
      .write.mode("overwrite").parquet(flat)
    def touched(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val hit = df.filter($"l_extendedprice" < 20000 && $"l_quantity" < 10)
      (hit.select(input_file_name()).distinct().count(), hit.count())
    }
    val (flatFiles, flatRows) = touched(spark.read.parquet(flat))
    val (zFiles, zRows) = touched(Layout.readCurrent(spark, root))
    assert(zRows == flatRows, "layout must not change results")
    assert(zRows > 0)
    assert(flatFiles == files, s"baseline should scatter matches (got $flatFiles)")
    assert(zFiles <= files / 2,
      s"z-order should confine the box to few files, touched $zFiles/$files")
  }

  test("versioned compaction: concurrent readers never see a missing or partial dir") {
    val root = Files.createTempDirectory("graft_vc").toString + "/t"
    val df = spark.read.parquet(s"${sf()}/orders.parquet")
    Layout.initVersionedManifest(df.repartition(40), root, Nil)
    val expectedRows = df.count()
    val bytes = ManifestIndex.read(spark, root, "v00000").entries.map(_.size).sum
    @volatile var stop = false
    @volatile var reads = 0
    @volatile var err: Option[Throwable] = None
    val reader = new Thread(() => {
      // hammer resolve+scan the whole time compactions run: every read must
      // land on a complete version with the full row count
      while (!stop && err.isEmpty) {
        try {
          val n = Layout.readCurrent(spark, root).count()
          if (n != expectedRows)
            err = Some(new AssertionError(s"reader saw $n rows, expected $expectedRows"))
          reads += 1
        } catch { case t: Throwable => err = Some(t) }
      }
    })
    reader.start()
    // three compactions of the one leaf, each still finding it fragmented:
    // 40 files → ~10 (too many) → 2–3 (too many, or too small) → 1
    try Seq(bytes / 10, bytes / 3, bytes).foreach(t =>
      Layout.compactVersionedPartitioned(spark, root, t, maxFiles = 2))
    finally { stop = true; reader.join(30000) }
    assert(err.isEmpty, s"concurrent reader failed: ${err.map(_.toString)}")
    assert(reads > 0, "reader thread never completed a read")
    // the flip landed: live version is the compacted one, content preserved
    assert(Layout.resolveCurrent(spark, root).endsWith("v00003"))
    val after = Layout.readCurrent(spark, root)
    assert(after.count() == expectedRows)
    def dsum(d: org.apache.spark.sql.DataFrame) =
      d.agg(sum($"o_totalprice".cast("decimal(38,4)"))).head().getDecimal(0)
    assert(dsum(after) == dsum(df))
    // vacuum reclaims old versions but keeps the live one
    assert(Layout.vacuumVersions(spark, root, keep = 1) == 3)
    assert(Layout.readCurrent(spark, root).count() == expectedRows)
  }

  test("versioned merge/delete: upsert by key and predicate delete flip snapshots") {
    val root = Files.createTempDirectory("graft_vm").toString + "/t"
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "tag", "v")
    // unpartitioned: the whole table is one leaf
    Layout.initVersionedManifest(base, root, Nil)
    // upsert: replace id=2, add id=4
    val updates = Seq((2L, "B", 99.0), (4L, "d", 40.0)).toDF("id", "tag", "v")
    Layout.mergeVersionedPartitioned(spark, root, updates, Seq("id"), Nil)
    val afterMerge = Layout.readCurrent(spark, root)
      .as[(Long, String, Double)].collect().toSet
    assert(afterMerge == Set((1L, "a", 10.0), (2L, "B", 99.0),
      (3L, "c", 30.0), (4L, "d", 40.0)))
    // delete: GDPR-style predicate removal, old snapshot intact until vacuum
    Layout.deleteVersionedPartitioned(spark, root, $"id" === 1L, Nil)
    val afterDelete = Layout.readCurrent(spark, root)
      .select("id").as[Long].collect().toSet
    assert(afterDelete == Set(2L, 3L, 4L))
    assert(Layout.readVersion(spark, root, 0).count() == 3) // old snapshot intact
    // vacuum is the real deletion point
    Layout.vacuumVersions(spark, root, keep = 1)
    assert(!new java.io.File(s"$root/v00000").exists())
    assert(Layout.readCurrent(spark, root).count() == 3)
  }

  test("key-pruned versioned merge/delete rewrite only matched partitions") {
    val root = Files.createTempDirectory("graft_vp").toString + "/t"
    val base = Seq((1L, "p1", 10.0), (2L, "p1", 20.0), (3L, "p2", 30.0),
      (4L, "p3", 40.0)).toDF("id", "part", "v")
    Layout.initVersionedManifest(base, root, Seq("part"))
    def entries(v: Int, leaf: String): Seq[ManifestIndex.Entry] =
      ManifestIndex.read(spark, root, f"v$v%05d").byLeaf.getOrElse(leaf, Nil)
    def readSet(v: Int): Set[(Long, String, Double)] =
      Layout.readVersion(spark, root, v).select("id", "part", "v")
        .as[(Long, String, Double)].collect().toSet

    // merge touches ONLY p1 (update id=2, insert id=5) plus a brand-new p4
    val updates = Seq((2L, "p1", 99.0), (5L, "p1", 50.0), (6L, "p4", 60.0))
      .toDF("id", "part", "v")
    Layout.mergeVersionedPartitioned(spark, root, updates, Seq("id"), "part")
    assert(readSet(1) == Set((1L, "p1", 10.0), (2L, "p1", 99.0), (5L, "p1", 50.0),
      (3L, "p2", 30.0), (4L, "p3", 40.0), (6L, "p4", 60.0)))
    // untouched partitions carried forward as the SAME files (identical
    // manifest entries), so the carry-forward moved zero data bytes
    for (leaf <- Seq("part=p2", "part=p3"))
      assert(entries(1, leaf).nonEmpty && entries(1, leaf) == entries(0, leaf),
        s"$leaf was rewritten, not carried")
    // the rewritten partition is NOT carried — it is a fresh file set
    assert(entries(0, "part=p1").map(_.path).toSet
      .intersect(entries(1, "part=p1").map(_.path).toSet).isEmpty)
    // time travel: v0 is the pre-merge world
    assert(readSet(0) ==
      Set((1L, "p1", 10.0), (2L, "p1", 20.0), (3L, "p2", 30.0), (4L, "p3", 40.0)))

    // key-pruned delete: predicate matches only p2 rows
    Layout.deleteVersionedPartitioned(spark, root, $"id" === 3L, "part")
    assert(readSet(2) == Set((1L, "p1", 10.0), (2L, "p1", 99.0), (5L, "p1", 50.0),
      (4L, "p3", 40.0), (6L, "p4", 60.0)))
    for (leaf <- Seq("part=p1", "part=p3", "part=p4"))
      assert(entries(2, leaf).nonEmpty && entries(2, leaf) == entries(1, leaf),
        s"$leaf was rewritten by an unrelated delete")
    // vacuum old versions: carried data survives, rewritten-away data goes
    assert(Layout.vacuumVersions(spark, root, keep = 1) == 2)
    intercept[IllegalArgumentException](Layout.readVersion(spark, root, 0))
    assert(!new java.io.File(s"$root/v00000/part=p1").exists())
    assert(readSet(2) ==
      Set((1L, "p1", 10.0), (2L, "p1", 99.0), (5L, "p1", 50.0),
        (4L, "p3", 40.0), (6L, "p4", 60.0)))
  }

  test("time travel: resolveVersion reads an old immutable snapshot") {
    val root = Files.createTempDirectory("graft_tt").toString + "/t"
    Layout.initVersionedManifest(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"),
      root, Nil)
    Layout.mergeVersionedPartitioned(spark, root,
      Seq((2L, 99.0)).toDF("id", "v"), Seq("id"), Nil)
    // v0 is the pre-merge world; current is post-merge
    assert(Layout.resolveVersion(spark, root, 0) == s"$root/v00000")
    val v0 = Layout.readVersion(spark, root, 0)
      .as[(Long, Double)].collect().toSet
    assert(v0 == Set((1L, 10.0), (2L, 20.0)))
    val cur = Layout.readCurrent(spark, root)
      .as[(Long, Double)].collect().toSet
    assert(cur == Set((1L, 10.0), (2L, 99.0)))
    // vacuumed / never-written versions fail fast, not silently
    intercept[IllegalArgumentException](Layout.resolveVersion(spark, root, 7))
    Layout.vacuumVersions(spark, root, keep = 1)
    intercept[IllegalArgumentException](Layout.resolveVersion(spark, root, 0))
  }

  test("z-ordered compaction degrades gracefully on all-null and constant dims") {
    def compactZ(df: org.apache.spark.sql.DataFrame, tag: String)
        : Set[(Option[Double], Option[Double])] = {
      val root = fragmentedRoot(df, tag, 2)
      assert(Layout.compactVersionedPartitioned(spark, root, targetBytes = 1L << 30,
        zOrderCols = Seq("a", "b"))._2 == 1)
      Layout.readCurrent(spark, root).select("a", "b")
        .as[(Option[Double], Option[Double])].collect().toSet
    }
    // one dim all-null: dropped from the Z-value, rows intact
    val halfNull = Seq((1.0, Option.empty[Double]), (2.0, None), (3.0, None))
      .toDF("a", "b")
    assert(compactZ(halfNull, "graft_z_null") ==
      Set((Some(1.0), None), (Some(2.0), None), (Some(3.0), None)))
    // constant dim: widened range instead of a degenerate width_bucket
    val const = Seq((1.0, 5.0), (2.0, 5.0), (3.0, 5.0)).toDF("a", "b")
    assert(compactZ(const, "graft_z_const") ==
      Set((Some(1.0), Some(5.0)), (Some(2.0), Some(5.0)), (Some(3.0), Some(5.0))))
  }
}
