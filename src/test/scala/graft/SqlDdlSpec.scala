package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.Layout

/** SQL table-lifecycle DDL (GraftDdl + GraftSqlParser): CREATE/CTAS/DROP
  * TABLE, ALTER TABLE column ops and constraints, DESCRIBE HISTORY,
  * VACUUM, OPTIMIZE — lowered onto the same Layout operations the Scala
  * API uses, with table-by-name addressing through the warehouse conf.
  */
class SqlDdlSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_ddl_$tag").toString

  test("CREATE TABLE declares schema, partitioning and inline CHECK") {
    val root = tmp("create") + "/t"
    val out = spark.sql(s"CREATE TABLE graft.`$root` " +
      "(id BIGINT, v BIGINT, part STRING, CONSTRAINT v_nonneg CHECK (v >= 0)) " +
      "PARTITIONED BY (part)")
    assert(out.columns.toSeq == Seq("version_path"))
    // empty table with the declared schema, DML-ready
    val t = Layout.readCurrent(spark, root)
    assert(t.columns.toSeq == Seq("id", "v", "part") && t.count() == 0)
    spark.sql(s"INSERT INTO graft.`$root` VALUES (1, 10, 'a'), (2, 20, 'b')")
    assert(Layout.readCurrent(spark, root).count() == 2)
    // the inline constraint is live
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$root` VALUES (3, -5, 'a')")
    }
    assert(e.getMessage.contains("v_nonneg"))
    // IF NOT EXISTS tolerates; plain CREATE refuses
    spark.sql(s"CREATE TABLE IF NOT EXISTS graft.`$root` (x INT) " +
      "PARTITIONED BY (x)")
    val e2 = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`$root` (x INT) PARTITIONED BY (x)")
    }
    assert(e2.getMessage.contains("already exists"))
  }

  test("CTAS materializes the query; DROP TABLE removes the root") {
    val root = tmp("ctas") + "/t"
    spark.range(10)
      .select($"id", concat(lit("p"), ($"id" % 2).cast("string")).as("part"))
      .createOrReplaceTempView("ddl_ctas_src")
    spark.sql(s"CREATE TABLE graft.`$root` PARTITIONED BY (part) " +
      "AS SELECT * FROM ddl_ctas_src")
    assert(Layout.readCurrent(spark, root).count() == 10)
    spark.sql(s"DROP TABLE graft.`$root`")
    assert(!new java.io.File(root).exists())
    // IF EXISTS tolerates the now-missing table; plain DROP refuses
    spark.sql(s"DROP TABLE IF EXISTS graft.`$root`")
    val e = intercept[Exception] { spark.sql(s"DROP TABLE graft.`$root`") }
    assert(e.getMessage.contains("no table"))
    // a directory that is NOT a versioned root refuses the recursive delete
    val plain = tmp("notaroot")
    val e2 = intercept[Exception] { spark.sql(s"DROP TABLE graft.`$plain`") }
    assert(e2.getMessage.contains("not a graft versioned root"))
    assert(new java.io.File(plain).exists())
  }

  test("ALTER TABLE: RENAME COLUMN, DROP COLUMN, ALTER COLUMN TYPE widen") {
    val root = tmp("alter") + "/t"
    spark.sql(s"CREATE TABLE graft.`$root` (id INT, v INT, note STRING, " +
      "part STRING) PARTITIONED BY (part)")
    spark.sql(s"INSERT INTO graft.`$root` VALUES (1, 10, 'n', 'a')")
    spark.sql(s"ALTER TABLE graft.`$root` RENAME COLUMN v TO cents")
    spark.sql(s"ALTER TABLE graft.`$root` DROP COLUMN note")
    spark.sql(s"ALTER TABLE graft.`$root` ALTER COLUMN cents TYPE BIGINT")
    val t = Layout.readCurrent(spark, root)
    assert(t.columns.toSeq == Seq("id", "cents", "part"))
    assert(t.schema("cents").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(t.select($"cents").as[Long].collect().toSeq == Seq(10L))
    // a NARROWING alter refuses (widenColumn's contract)
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$root` ALTER COLUMN cents TYPE INT")
    }
    assert(e.getMessage.contains("widening"))
    // comment/position alters refuse (NOT NULL / DEFAULT are table state
    // since r14 — ColumnMarkersSpec covers them)
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$root` ALTER COLUMN cents COMMENT 'x'")
    }
    assert(e2.getMessage.contains("comments/positions are not table state"))
  }

  test("ADD/DROP CONSTRAINT statements share the writer-enforced gate") {
    val root = tmp("constraint") + "/t"
    spark.sql(s"CREATE TABLE graft.`$root` (id BIGINT, v BIGINT, part STRING) " +
      "PARTITIONED BY (part)")
    spark.sql(s"INSERT INTO graft.`$root` VALUES (1, 5, 'a')")
    spark.sql(s"ALTER TABLE graft.`$root` ADD CONSTRAINT v_cap CHECK (v <= 100)")
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$root` VALUES (2, 500, 'a')")
    }
    assert(e.getMessage.contains("v_cap"))
    // adding a constraint existing data violates refuses
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$root` ADD CONSTRAINT v_min CHECK (v > 10)")
    }
    assert(e2.getMessage.contains("v_min"))
    spark.sql(s"ALTER TABLE graft.`$root` DROP CONSTRAINT v_cap")
    spark.sql(s"INSERT INTO graft.`$root` VALUES (2, 500, 'a')")
    assert(Layout.readCurrent(spark, root).count() == 2)
    // IF EXISTS tolerates a missing name; the plain form refuses
    spark.sql(s"ALTER TABLE graft.`$root` DROP CONSTRAINT IF EXISTS nope")
    val e3 = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$root` DROP CONSTRAINT nope")
    }
    assert(e3.getMessage.contains("no constraint"))
  }

  test("DESCRIBE HISTORY / VACUUM / OPTIMIZE statements (injected parser)") {
    val root = tmp("ops") + "/t"
    spark.sql(s"CREATE TABLE graft.`$root` (id BIGINT, v BIGINT, part STRING) " +
      "PARTITIONED BY (part)")
    (1 to 3).foreach(k =>
      spark.sql(s"INSERT INTO graft.`$root` VALUES ($k, ${k * 10}, 'a')"))
    spark.sql(s"DELETE FROM graft.`$root` WHERE id = 2")
    val hist = spark.sql(s"DESCRIBE HISTORY graft.`$root`")
    assert(hist.columns.toSeq == Seq("version", "n_files", "bytes",
      "modified", "is_current", "operation"))
    val ops = hist.orderBy($"version")
      .select($"operation").as[String].collect().toSeq
    assert(ops == Seq("CREATE", "APPEND", "APPEND", "APPEND", "DELETE ROWS"))
    // newest first; exactly one live version
    assert(hist.first().getInt(0) == 4)
    assert(hist.filter($"is_current").count() == 1)
    // OPTIMIZE compacts the accreted single-row files (parser + maintain)
    val opt = spark.sql(s"OPTIMIZE graft.`$root`").collect()(0)
    assert(opt.getInt(0) >= 1, s"expected a compacted leaf, got $opt")
    assert(Layout.readCurrent(spark, root).select($"v").as[Long]
      .collect().sorted.toSeq == Seq(10L, 30L))
    // VACUUM RETAIN 1 VERSIONS drains the history
    val vac = spark.sql(s"VACUUM graft.`$root` RETAIN 1 VERSIONS")
    assert(vac.first().getInt(0) >= 1)
    assert(Layout.readCurrent(spark, root).count() == 2)
    // non-graft statements fall through to Spark's parser untouched
    val e = intercept[Exception] { spark.sql("VACUUM somewhere.else") }
    assert(e.getMessage.contains("PARSE_SYNTAX_ERROR"))
    assert(spark.sql("SELECT 41 + 1 AS x").head().getInt(0) == 42)
  }

  test("DESCRIBE DETAIL reports live-state metadata (no data scan)") {
    val root = tmp("detail") + "/t"
    spark.sql(s"CREATE TABLE graft.`$root` (id BIGINT, v BIGINT, part STRING, " +
      "CONSTRAINT v_pos CHECK (v >= 0)) PARTITIONED BY (part)")
    spark.sql(s"INSERT INTO graft.`$root` VALUES (1, 10, 'a'), (2, 20, 'b')")
    val d = spark.sql(s"DESCRIBE DETAIL graft.`$root`").head()
    assert(d.getString(0) == "graft-manifest")
    assert(d.getString(1) == root)
    assert(d.getInt(2) == 2)             // CREATE + constraint + INSERT
    assert(d.getLong(3) >= 1L && d.getLong(4) > 0L)
    assert(d.getString(5) == "part")
    assert(d.getString(6) == "v_pos CHECK (v >= 0)")
    assert(d.getString(7) == "")               // no declared clustering
    spark.sql(s"ALTER TABLE graft.`$root` CLUSTER BY (v)")
    assert(spark.sql(s"DESCRIBE DETAIL graft.`$root`").head().getString(7)
      == "v")
  }

  test("VACUUM RETAIN n HOURS: wall-clock window plus the horizon " +
      "anchor; vacuumPlan parity (r15)") {
    val root = tmp("vach") + "/t"
    spark.sql(s"CREATE TABLE graft.`$root` (id BIGINT, v BIGINT, part STRING) " +
      "PARTITIONED BY (part)")                                       // v0
    spark.sql(s"INSERT INTO graft.`$root` VALUES (1, 10, 'a'), (2, 20, 'b')") // v1
    spark.sql(s"DELETE FROM graft.`$root` WHERE id = 2")             // v2
    spark.sql(s"UPDATE graft.`$root` SET v = 11 WHERE id = 1")       // v3
    // age the commit instants: v0 at −3h, v1 at −2h, v2 at −30min, v3 live
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val now = System.currentTimeMillis()
    Seq(0 -> 180L, 1 -> 120L, 2 -> 30L).foreach { case (v, m) =>
      fs.setTimes(graft.sources.ManifestIndex.manifestPath(root,
        f"v$v%05d"), now - m * 60 * 1000, -1)
    }
    // dry-run parity: the hours plan prices exactly the versions the
    // real sweep would drop (v0; v1 is the −1h horizon's ANCHOR)
    val planned = graft.sources.Layout.vacuumPlan(spark, root,
        graft.sources.Layout.Retention.Hours(1.0))
      .select("path").as[String].collect()
    assert(planned.exists(_.startsWith("v00000")) &&
      !planned.exists(_.startsWith("v00001")), planned.mkString(","))
    val removed = spark.sql(s"VACUUM graft.`$root` RETAIN 1 HOURS")
      .head().getInt(0)
    assert(removed == 1, s"only v0 is past the window+anchor, got $removed")
    // every timestampAsOf inside the advertised window still serves —
    // including the horizon itself, which resolves to the ANCHOR v1
    val atHorizon = graft.sources.Layout.readAsOf(spark, root,
      now - 60 * 60 * 1000)
    assert(atHorizon.count() == 2L, "horizon state (v1, pre-delete) serves")
    assert(graft.sources.Layout.readAsOf(spark, root, now - 20 * 60 * 1000)
      .count() == 1L, "in-window v2 (post-delete) serves")
    assert(graft.sources.Layout.readCurrent(spark, root)
      .select($"v").as[Long].collect().toSeq == Seq(11L))
    // the pre-anchor state is gone
    intercept[Exception] {
      graft.sources.Layout.readAsOf(spark, root, now - 150 * 60 * 1000)
        .count()
    }
    // RETAIN 0 HOURS degenerates to keep-the-live-state only (anchor =
    // the live commit); history collapses to 1
    assert(spark.sql(s"VACUUM graft.`$root` RETAIN 0 HOURS")
      .head().getInt(0) == 2)
    assert(spark.sql(s"DESCRIBE HISTORY graft.`$root`").count() == 1L)
  }

  test("RESTORE TO VERSION AS OF and SHALLOW CLONE statements") {
    val root = tmp("restore") + "/t"
    spark.sql(s"CREATE TABLE graft.`$root` (id BIGINT, v BIGINT, part STRING) " +
      "PARTITIONED BY (part)")
    spark.sql(s"INSERT INTO graft.`$root` VALUES (1, 10, 'a'), (2, 20, 'b')")
    spark.sql(s"DELETE FROM graft.`$root` WHERE id = 2") // v2
    assert(Layout.readCurrent(spark, root).count() == 1)
    // clone the PRE-DELETE version into a fresh root, zero-copy
    val cloned = tmp("clone") + "/c"
    spark.sql(s"CREATE TABLE graft.`$cloned` SHALLOW CLONE graft.`$root` " +
      "VERSION AS OF 1")
    assert(Layout.readCurrent(spark, cloned)
      .select($"id").as[Long].collect().toSet == Set(1L, 2L))
    // restore the source itself; history is preserved (restore commits)
    spark.sql(s"RESTORE TABLE graft.`$root` TO VERSION AS OF 1")
    assert(Layout.readCurrent(spark, root)
      .select($"id").as[Long].collect().toSet == Set(1L, 2L))
    assert(spark.sql(s"DESCRIBE HISTORY graft.`$root`").count() == 4)
    // default clone (no VERSION AS OF) takes the live version
    val cloned2 = tmp("clone2") + "/c"
    spark.sql(s"CREATE TABLE graft.`$cloned2` SHALLOW CLONE graft.`$root`")
    assert(Layout.readCurrent(spark, cloned2).count() == 2)
  }

  test("DEEP CLONE: self-contained backup carrying the declared state (r15)") {
    val root = tmp("deep") + "/t"
    spark.sql(s"CREATE TABLE graft.`$root` (id BIGINT, v BIGINT, part STRING, " +
      "CONSTRAINT v_pos CHECK (v >= 0)) PARTITIONED BY (part)")
    spark.sql(s"INSERT INTO graft.`$root` SELECT id, id * 10, " +
      "concat('p', CAST(id % 2 AS STRING)) FROM range(20)")
    spark.sql(s"ALTER TABLE graft.`$root` CLUSTER BY (v)")
    spark.sql(s"DELETE FROM graft.`$root` WHERE id = 7") // DV, not rewrite
    val dst = tmp("deepdst") + "/c"
    spark.sql(s"CREATE TABLE graft.`$dst` DEEP CLONE graft.`$root`")
    // content equals the live snapshot, DVs materialized away
    assert(Layout.readCurrent(spark, dst).select($"id").as[Long]
      .collect().toSet == (0L until 20L).toSet - 7L)
    // one self-owned version; no entry points into the source
    assert(spark.sql(s"DESCRIBE HISTORY graft.`$dst`").count() == 1)
    // declared state carried: the CHECK gate fires on the clone, the
    // clustering declaration reads back
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$dst` VALUES (999, -1, 'p0')")
    }
    assert(e.getMessage.contains("v_pos") || e.getMessage.contains("CHECK"))
    assert(Layout.currentManifest(spark, dst)._2.clusterColumns == Seq("v"))
    // SELF-CONTAINED: drop the source wholesale; the clone still reads
    spark.sql(s"DROP TABLE graft.`$root`")
    assert(Layout.readCurrent(spark, dst).count() == 19)
    // versioned deep clone takes the named snapshot (pre-delete)
    val root2 = tmp("deep2") + "/t"
    spark.sql(s"CREATE TABLE graft.`$root2` (id BIGINT, v BIGINT, part STRING) " +
      "PARTITIONED BY (part)")
    spark.sql(s"INSERT INTO graft.`$root2` VALUES (1, 10, 'a'), (2, 20, 'b')")
    spark.sql(s"DELETE FROM graft.`$root2` WHERE id = 2")
    val dst2 = tmp("deepdst2") + "/c"
    spark.sql(s"CREATE TABLE graft.`$dst2` DEEP CLONE graft.`$root2` " +
      "VERSION AS OF 1")
    assert(Layout.readCurrent(spark, dst2).select($"id").as[Long]
      .collect().toSet == Set(1L, 2L))
    // cloning ONTO an existing root refuses
    intercept[IllegalArgumentException] {
      Layout.deepClone(spark, root2, dst2)
    }
  }

  private def clustering(root: String): String =
    spark.sql(s"DESCRIBE DETAIL graft.`$root`").head().getString(7)

  test("RESTORE takes the clustering of the restored version: appends " +
      "keep working after restoring past ADD COLUMN + CLUSTER BY") {
    val root = tmp("restorecl") + "/t"
    spark.sql(s"CREATE TABLE graft.`$root` (id BIGINT, v BIGINT, part STRING) " +
      "PARTITIONED BY (part)")                                          // v0
    Layout.addColumn(spark, root, "z", org.apache.spark.sql.types.LongType) // v1
    spark.sql(s"ALTER TABLE graft.`$root` CLUSTER BY (z)")              // v2
    spark.sql(s"RESTORE TABLE graft.`$root` TO VERSION AS OF 0")        // v3
    assert(clustering(root) == "")
    spark.sql(s"INSERT INTO graft.`$root` VALUES (1, 10, 'a'), (2, 20, 'b')")
    assert(Layout.readCurrent(spark, root).count() == 2)
    // restoring the version that declared it brings the clustering back
    spark.sql(s"RESTORE TABLE graft.`$root` TO VERSION AS OF 2")
    assert(clustering(root) == "z")
  }

  test("SHALLOW CLONE carries the bloom and cluster declarations") {
    val root = tmp("shallowdecl") + "/t"
    Layout.initVersionedManifest(
      Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("id", "v", "part"), root,
      Seq("part"), Seq("id"))
    spark.sql(s"ALTER TABLE graft.`$root` CLUSTER BY (v)")
    val dst = tmp("shallowdecldst") + "/c"
    spark.sql(s"CREATE TABLE graft.`$dst` SHALLOW CLONE graft.`$root`")
    assert(clustering(dst) == "v")
    // the clone's own commits record per-file blooms on the declared id
    spark.sql(s"INSERT INTO graft.`$dst` VALUES (3, 30, 'a')")
    val fresh = graft.sources.ManifestIndex.read(spark, dst, "v00001")
      .entries.filter(_.path.startsWith("v00001/"))
    assert(fresh.nonEmpty && fresh.forall(_.stats.exists(
      _.cols.get("id").exists(_.bloom.isDefined))), fresh.mkString("\n"))
  }

  test("CLUSTER BY validates against the live manifest, not one left " +
      "ahead of the pointer") {
    val root = tmp("aheadcl") + "/t"
    spark.sql(s"CREATE TABLE graft.`$root` (id BIGINT, v BIGINT, part STRING) " +
      "PARTITIONED BY (part)")
    // a crashed writer's manifest ahead of the pointer, with a column z
    // the live table does not have
    val live = graft.sources.ManifestIndex.read(spark, root, "v00000")
    graft.sources.ManifestIndex.write(spark, root, "v00001",
      live.copy(dataSchema = live.dataSchema.add("z", "bigint")))
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$root` CLUSTER BY (z)")
    }
    assert(e.getMessage.contains("'z'"), e.getMessage)
    assert(clustering(root) == "")
    new org.apache.hadoop.fs.Path(root, "v00001.manifest")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(root, "v00001.manifest"), false)
    spark.sql(s"INSERT INTO graft.`$root` VALUES (1, 10, 'a')")
    assert(Layout.readCurrent(spark, root).count() == 1)
  }

  test("a DEEP CLONE VERSION AS OF n takes the declarations of version n") {
    val root = tmp("deepdecl") + "/t"
    spark.sql(s"CREATE TABLE graft.`$root` (id BIGINT, v BIGINT, part STRING) " +
      "PARTITIONED BY (part)")                                          // v0
    spark.sql(s"ALTER TABLE graft.`$root` CLUSTER BY (v)")              // v1
    spark.sql(s"ALTER TABLE graft.`$root` CLUSTER BY NONE")             // v2
    val at1 = tmp("deepdecl1") + "/c"
    spark.sql(s"CREATE TABLE graft.`$at1` DEEP CLONE graft.`$root` VERSION AS OF 1")
    assert(clustering(at1) == "v")
    val live = tmp("deepdecl2") + "/c"
    spark.sql(s"CREATE TABLE graft.`$live` DEEP CLONE graft.`$root`")
    assert(clustering(live) == "")
  }

  test("declared column names round-trip exactly, a backquoted comma included") {
    val root = tmp("commaname") + "/t"
    Layout.initVersionedManifest(
      Seq((1L, 10L, "a")).toDF("a,b", "v", "part"), root, Seq("part"),
      Seq("a,b"))
    spark.sql(s"ALTER TABLE graft.`$root` CLUSTER BY (`a,b`, v)")
    val man = Layout.currentManifest(spark, root)._2
    assert(man.bloomColumns == Seq("a,b"))
    assert(man.clusterColumns == Seq("a,b", "v"))
    // the writers act on them: a clustered append lands with its bloom
    Layout.appendVersionedRows(spark, root,
      Seq((2L, 20L, "a"), (3L, 30L, "a")).toDF("a,b", "v", "part"))
    val (live, after) = Layout.currentManifest(spark, root)
    val v = live.substring(live.lastIndexOf('/') + 1)
    val fresh = after.entries.filter(_.path.startsWith(v + "/"))
    assert(fresh.nonEmpty && fresh.forall(_.stats.exists(
      _.cols.get("a,b").exists(_.bloom.isDefined))), fresh.mkString("\n"))
    assert(Layout.readCurrent(spark, root).count() == 3)
  }

  test("tables address by NAME through spark.graft.warehouse") {
    val wh = tmp("wh")
    spark.conf.set(graft.plans.GraftPaths.WarehouseConf, wh)
    try {
      spark.sql("CREATE TABLE graft.orders_by_name " +
        "(id BIGINT, v BIGINT, part STRING) PARTITIONED BY (part)")
      assert(new java.io.File(s"$wh/orders_by_name").exists())
      spark.sql("INSERT INTO graft.orders_by_name VALUES (1, 10, 'a'), (2, 20, 'b')")
      spark.sql("UPDATE graft.orders_by_name SET v = v + 1 WHERE id = 1")
      // the whole surface resolves the same name: DML, TVFs, lifecycle
      assert(spark.sql("SELECT sum(v) AS s FROM graft_table('orders_by_name')")
        .head().getLong(0) == 31L)
      assert(spark.sql("DESCRIBE HISTORY graft.orders_by_name").count() == 3)
      spark.sql("ALTER TABLE graft.orders_by_name RENAME COLUMN v TO cents")
      Seq((2L, 99L, "b")).toDF("id", "cents", "part")
        .createOrReplaceTempView("byname_src")
      spark.sql(
        """MERGE INTO graft.orders_by_name t USING byname_src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET cents = s.cents""".stripMargin)
      assert(spark.sql("SELECT sum(cents) AS s FROM graft_table('orders_by_name')")
        .head().getLong(0) == 110L)
      spark.sql("DROP TABLE graft.orders_by_name")
      assert(!new java.io.File(s"$wh/orders_by_name").exists())
    } finally spark.conf.unset(graft.plans.GraftPaths.WarehouseConf)
  }

  test("CREATE with LOCATION persists the name mapping (redirect)") {
    val wh = tmp("whloc")
    val loc = tmp("external") + "/t"
    spark.conf.set(graft.plans.GraftPaths.WarehouseConf, wh)
    try {
      spark.sql("CREATE TABLE graft.ext_orders (id BIGINT, part STRING) " +
        s"PARTITIONED BY (part) LOCATION '$loc'")
      assert(Layout.isVersionedRoot(spark, loc))
      // every later name-addressed statement targets the LOCATION root
      spark.sql("INSERT INTO graft.ext_orders VALUES (1, 'a')")
      assert(spark.sql("SELECT count(*) FROM graft_table('ext_orders')")
        .head().getLong(0) == 1L)
      assert(Layout.readCurrent(spark, loc).count() == 1)
      // DROP removes the external root AND the redirect slot
      spark.sql("DROP TABLE graft.ext_orders")
      assert(!new java.io.File(loc).exists())
      assert(!new java.io.File(s"$wh/ext_orders").exists())
      // a PATH identifier with a DIFFERENT location refuses
      val e = intercept[Exception] {
        spark.sql(s"CREATE TABLE graft.`$loc` (id BIGINT, p STRING) " +
          "PARTITIONED BY (p) LOCATION '/somewhere/else'")
      }
      assert(e.getMessage.contains("conflicts"))
    } finally spark.conf.unset(graft.plans.GraftPaths.WarehouseConf)
  }

  test("IF NOT EXISTS re-attaches an existing LOCATION; stale redirects heal") {
    val wh = tmp("whatt")
    val loc = tmp("extatt") + "/t"
    spark.conf.set(graft.plans.GraftPaths.WarehouseConf, wh)
    try {
      spark.sql("CREATE TABLE graft.att_t (id BIGINT, p STRING) " +
        s"PARTITIONED BY (p) LOCATION '$loc'")
      spark.sql("INSERT INTO graft.att_t VALUES (1, 'a')")
      // drop BY PATH: the name's redirect cannot be cleaned from there…
      spark.sql(s"DROP TABLE graft.`$loc`")
      // …but a later by-name CREATE heals the stale redirect and lands in
      // the WAREHOUSE, never at the detached external location
      spark.sql("CREATE TABLE graft.att_t (id BIGINT, p STRING) " +
        "PARTITIONED BY (p)")
      assert(new java.io.File(s"$wh/att_t").exists())
      assert(!new java.io.File(loc).exists())
      spark.sql("DROP TABLE graft.att_t")
      // RE-ATTACH: IF NOT EXISTS over an existing external root claims
      // the name (the redirect is written on the tolerated path too)
      val loc2 = tmp("extatt2") + "/t"
      spark.sql(s"CREATE TABLE graft.`$loc2` (id BIGINT, p STRING) " +
        "PARTITIONED BY (p)")
      spark.sql(s"INSERT INTO graft.`$loc2` VALUES (7, 'a')")
      spark.sql("CREATE TABLE IF NOT EXISTS graft.att_t (id BIGINT, p STRING) " +
        s"PARTITIONED BY (p) LOCATION '$loc2'")
      assert(spark.sql("SELECT sum(id) AS s FROM graft.att_t")
        .head().getLong(0) == 7L)
      spark.sql("DROP TABLE graft.att_t")
      assert(!new java.io.File(loc2).exists())
    } finally spark.conf.unset(graft.plans.GraftPaths.WarehouseConf)
  }

  test("CREATE is atomic-by-cleanup: a failing inline constraint strands nothing") {
    val root = tmp("atomic") + "/t"
    // the inline CHECK references a column the table does not have — the
    // table inits, the constraint add fails, and the cleanup must remove
    // the half-created root so the corrected CREATE succeeds
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`$root` (id BIGINT, part STRING, " +
        "CONSTRAINT bad CHECK (nope > 0)) PARTITIONED BY (part)")
    }
    assert(e.getMessage.nonEmpty)
    assert(!Layout.isVersionedRoot(spark, root), "failed CREATE must strand nothing")
    spark.sql(s"CREATE TABLE graft.`$root` (id BIGINT, part STRING, " +
      "CONSTRAINT ok CHECK (id >= 0)) PARTITIONED BY (part)")
    spark.sql(s"INSERT INTO graft.`$root` VALUES (1, 'a')")
    assert(Layout.readCurrent(spark, root).count() == 1)
  }

  test("SHOW CREATE TABLE reconstructs the live DDL") {
    val wh = tmp("whshow")
    spark.conf.set(graft.plans.GraftPaths.WarehouseConf, wh)
    try {
      spark.sql("CREATE TABLE graft.show_t (id BIGINT, v INT, part STRING, " +
        "CONSTRAINT id_pos CHECK (id >= 0)) PARTITIONED BY (part)")
      spark.sql("ALTER TABLE graft.show_t RENAME COLUMN v TO cents")
      spark.sql("ALTER TABLE graft.show_t ALTER COLUMN cents TYPE BIGINT")
      val stmt = spark.sql("SHOW CREATE TABLE graft.show_t")
        .head().getString(0)
      // CURRENT logical names and types, constraints, partitioning
      assert(stmt.contains("CREATE TABLE graft.show_t ("), stmt)
      assert(stmt.contains("cents BIGINT"), stmt)
      assert(!stmt.contains(" v INT"), stmt)
      assert(stmt.contains("CONSTRAINT id_pos CHECK (id >= 0)"), stmt)
      assert(stmt.contains("PARTITIONED BY (part)"), stmt)
      assert(!stmt.contains("LOCATION"), stmt)
      spark.sql("DROP TABLE graft.show_t")
      // an external-LOCATION table shows its location
      val loc = tmp("showext") + "/t"
      spark.sql("CREATE TABLE graft.show_e (id BIGINT, p STRING) " +
        s"PARTITIONED BY (p) LOCATION '$loc'")
      val stmt2 = spark.sql("SHOW CREATE TABLE graft.show_e")
        .head().getString(0)
      assert(stmt2.contains(s"LOCATION '$loc'"), stmt2)
      spark.sql("DROP TABLE graft.show_e")
    } finally spark.conf.unset(graft.plans.GraftPaths.WarehouseConf)
  }

  test("graft_tables() lists the warehouse; OPTIMIZE ZORDER clusters") {
    val wh = tmp("whlist")
    val loc = tmp("extlist") + "/t"
    spark.conf.set(graft.plans.GraftPaths.WarehouseConf, wh)
    try {
      spark.sql("CREATE TABLE graft.list_a (id BIGINT, p STRING) " +
        "PARTITIONED BY (p)")
      spark.sql("CREATE TABLE graft.list_b (id BIGINT, p STRING) " +
        s"PARTITIONED BY (p) LOCATION '$loc'")
      val rows = spark.sql("SELECT * FROM graft_tables()")
        .as[(String, String, Boolean)].collect().toSeq
      assert(rows == Seq(
        ("list_a", s"$wh/list_a", false), ("list_b", loc, true)))
      // OPTIMIZE ZORDER BY parses and clusters (the compact step of
      // maintain with zOrderCols)
      (1 to 9).foreach(k =>
        spark.sql(s"INSERT INTO graft.list_a VALUES ($k, 'a')"))
      val opt = spark.sql("OPTIMIZE graft.list_a ZORDER BY (id)").head()
      assert(opt.getInt(0) >= 1)
      assert(spark.sql("SELECT sum(id) AS s FROM graft.list_a")
        .head().getLong(0) == 45L)
      spark.sql("DROP TABLE graft.list_a")
      spark.sql("DROP TABLE graft.list_b")
      assert(spark.sql("SELECT * FROM graft_tables()").count() == 0)
    } finally spark.conf.unset(graft.plans.GraftPaths.WarehouseConf)
  }

  test("refusals: unpartitioned create, props/options, non-identity parts") {
    val root = tmp("refuse") + "/t"
    val e1 = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`$root` (id BIGINT)")
    }
    assert(e1.getMessage.contains("PARTITIONED BY"))
    val e2 = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`$root` (id BIGINT, p STRING) " +
        "PARTITIONED BY (p) TBLPROPERTIES ('k' = 'v')")
    }
    assert(e2.getMessage.contains("TBLPROPERTIES"))
    val e3 = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`$root` (id BIGINT, ts TIMESTAMP) " +
        "PARTITIONED BY (days(ts))")
    }
    assert(e3.getMessage.contains("identity"))
    // non-graft DDL is untouched: the session catalog still works
    spark.sql("CREATE TABLE ddl_plain_tbl (id INT) USING parquet " +
      s"LOCATION '${tmp("plain")}/p'")
    spark.sql("DROP TABLE ddl_plain_tbl")
  }
}
