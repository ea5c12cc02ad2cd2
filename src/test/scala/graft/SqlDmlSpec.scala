package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Layout

/** SQL DML statements against path-addressed graft versioned tables:
  * DELETE / UPDATE / 3-clause MERGE lowered from the resolved plan
  * (GraftDmlResolved) onto the same Layout writers the Scala API uses.
  * Pins: value semantics ≡ the Scala calls, alias/qualifier binding, star
  * update expansion, extra source columns as clause inputs, the refusal
  * surface, and that non-graft SQL is untouched.
  */
class SqlDmlSpec extends SparkSpec {
  import spark.implicits._

  private def mkRoot(tag: String): String = {
    val root = Files.createTempDirectory(s"graft_sql_$tag").toString + "/t"
    val df = spark.range(20)
      .select($"id", ($"id" * 10).cast("long").as("v"),
        concat(lit("p"), ($"id" % 2).cast("string")).as("part"))
    Layout.initVersionedManifest(df.repartitionByRange(3, $"id"), root, Seq("part"))
    root
  }

  private def state(root: String): Map[Long, (Long, String)] =
    Layout.readCurrent(spark, root).select($"id", $"v", $"part")
      .as[(Long, Long, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap

  test("SQL DELETE takes deletion vectors; returns the new version path") {
    val root = mkRoot("del")
    val out = spark.sql(s"DELETE FROM graft.`$root` WHERE v >= 150 AND id % 2 = 1")
    assert(out.columns.toSeq == Seq("version_path"))
    assert(out.head().getString(0).contains("v00001"))
    assert(state(root).keySet == (0L until 20L).filterNot(i => i * 10 >= 150 && i % 2 == 1).toSet)
    // no data file rewritten: v1 carries v0's entries + a DV sidecar
    assert(Layout.history(spark, root).filter($"operation" === "DELETE ROWS").count() == 1L)
  }

  test("SQL UPDATE evaluates SET expressions against the matched row") {
    val root = mkRoot("upd")
    spark.sql(s"UPDATE graft.`$root` SET v = v * 2 + 1 WHERE id < 3")
    val s = state(root)
    assert(s(0L)._1 == 1L && s(1L)._1 == 21L && s(2L)._1 == 41L)
    assert(s(3L)._1 == 30L) // untouched
    // WHERE-less UPDATE touches every row
    spark.sql(s"UPDATE graft.`$root` SET v = 7")
    assert(state(root).values.forall(_._1 == 7L))
  }

  test("SQL 3-clause MERGE ≡ the Scala mergeIntoVersionedRows semantics") {
    val root = mkRoot("merge")
    // op codes ride along as clause inputs and never land in the table
    Seq((3L, -1L, "p1", "D"), (5L, 999L, "p1", "U"), (6L, 1L, "p0", "U"),
      (100L, 7L, "p0", "I"), (200L, -5L, "p0", "D"))
      .toDF("id", "v", "part", "op").createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO graft.`$root` AS t USING merge_src AS s
         |ON t.id = s.id
         |WHEN MATCHED AND s.op = 'D' THEN DELETE
         |WHEN MATCHED AND s.v > t.v THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT *
         |""".stripMargin)
    val s = state(root)
    assert(!s.contains(3L))              // deleted
    assert(s(5L) == (999L, "p1"))        // updated (incoming newer)
    assert(s(6L) == (60L, "p0"))         // matched, update cond false → kept
    assert(s(100L) == (7L, "p0"))        // inserted
    assert(!s.contains(200L))            // insert cond false
    assert(s(7L) == (70L, "p1"))         // unmatched target untouched
    assert(!Layout.readCurrent(spark, root).columns.contains("op"))
  }

  test("MERGE UPDATE SET * expands against the live table schema") {
    val root = mkRoot("star")
    Seq((4L, 444L, "p0"), (50L, 500L, "p0"))
      .toDF("id", "v", "part").createOrReplaceTempView("star_src")
    spark.sql(
      s"""MERGE INTO graft.`$root` t USING star_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |""".stripMargin)
    val s = state(root)
    assert(s(4L) == (444L, "p0"))        // star update moved the row to p0
    assert(s(50L) == (500L, "p0"))
  }

  test("MERGE source can be an inline subquery; keys can be reversed in ON") {
    val root = mkRoot("sub")
    spark.sql(
      s"""MERGE INTO graft.`$root` AS t
         |USING (SELECT id, id * 100 AS v, 'p0' AS part
         |       FROM range(18, 22)) AS s
         |ON s.id = t.id
         |WHEN MATCHED THEN UPDATE SET v = s.v + 1
         |WHEN NOT MATCHED THEN INSERT *
         |""".stripMargin)
    val s = state(root)
    assert(s(18L)._1 == 1801L && s(19L)._1 == 1901L)
    assert(s(20L) == (2000L, "p0") && s(21L) == (2100L, "p0"))
  }

  test("refusals: non-keyed ON, NOT MATCHED BY SOURCE, non-identity INSERT") {
    val root = mkRoot("guard")
    Seq((1L, 1L, "p1")).toDF("id", "v", "part").createOrReplaceTempView("g_src")
    val e1 = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$root` t USING g_src s ON t.id > s.id
           |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(e1.getMessage.contains("conjunction of key equalities"))
    val e2 = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$root` t USING g_src s ON t.id = s.id
           |WHEN NOT MATCHED BY SOURCE AND s.v > 0 THEN DELETE""".stripMargin)
    }
    // a NOT MATCHED BY SOURCE clause binds against the target alone, so
    // Spark's resolution cannot find the source column there
    assert(e2.getMessage.contains("UNRESOLVED_COLUMN") &&
      e2.getMessage.contains("`s`.`v`"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$root` t USING g_src s ON t.id = s.id
           |WHEN NOT MATCHED THEN INSERT (id, v, part) VALUES (s.id, s.v + 1, s.part)
           |""".stripMargin)
    }
    assert(e3.getMessage.contains("INSERT *"))
    // identity column list IS accepted (equivalent to INSERT *)
    Seq((300L, 3L, "p0")).toDF("id", "v", "part").createOrReplaceTempView("g_src2")
    spark.sql(
      s"""MERGE INTO graft.`$root` t USING g_src2 s ON t.id = s.id
         |WHEN NOT MATCHED THEN INSERT (id, v, part) VALUES (s.id, s.v, s.part)
         |""".stripMargin)
    assert(state(root)(300L) == (3L, "p0"))
  }

  test("MERGE refuses a type-mismatched ON key at analysis") {
    val root = mkRoot("keytype")
    Seq(("1", 1L, "p1")).toDF("id", "v", "part")
      .createOrReplaceTempView("keytype_src")
    val before = Layout.currentVersionNumber(spark, root)
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$root` t USING keytype_src s ON t.id = s.id
           |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(e.getMessage.contains("conjunction of key equalities"),
      e.getMessage)
    assert(Layout.currentVersionNumber(spark, root) == before)
  }

  test("SQL DML composes with graft_changes/graft_table reads and constraints") {
    val root = mkRoot("compose")
    Layout.addCheckConstraint(spark, root, "v_nonneg", "v >= 0")
    // a violating SQL UPDATE is rejected before any version is claimed
    val before = Layout.currentVersionNumber(spark, root)
    val e = intercept[Exception] {
      spark.sql(s"UPDATE graft.`$root` SET v = -1 WHERE id = 0")
    }
    assert(e.getMessage.contains("v_nonneg"))
    assert(Layout.currentVersionNumber(spark, root) == before)
    // a legal one lands and the change feed reads back in pure SQL
    spark.sql(s"UPDATE graft.`$root` SET v = v + 1 WHERE id = 0")
    val v = Layout.currentVersionNumber(spark, root)
    val feed = spark.sql(
      s"SELECT id, v, _change_type FROM graft_changes('$root', ${v - 1}, $v, 'id')")
      .as[(Long, Long, String)].collect().toSet
    assert(feed == Set((0L, 0L, "update_pre"), (0L, 1L, "update_post")))
  }

  test("MERGE honors SQL first-matching-clause-wins with UPDATE before DELETE") {
    val root = mkRoot("order2")
    // ids 2 and 4 match; s.v > t.v holds for id=2 only. SQL: the UPDATE
    // clause is FIRST, so id=2 updates and only id=4 falls to DELETE. The
    // engine is delete-first — before the review fix both rows deleted.
    Seq((2L, 999L, "p0"), (4L, 1L, "p0")).toDF("id", "v", "part")
      .createOrReplaceTempView("ord_src")
    spark.sql(
      s"""MERGE INTO graft.`$root` t USING ord_src s ON t.id = s.id
         |WHEN MATCHED AND s.v > t.v THEN UPDATE SET v = s.v
         |WHEN MATCHED THEN DELETE
         |""".stripMargin)
    val st = state(root)
    assert(st(2L) == (999L, "p0"), "first clause (UPDATE) must win for id=2")
    assert(!st.contains(4L), "id=4 falls through to DELETE")
  }

  test("3-part qualified refs (graft.`path`.col) and path-qualified refs resolve") {
    val root = mkRoot("qual3")
    spark.sql(s"DELETE FROM graft.`$root` WHERE graft.`$root`.id = 5")
    assert(!state(root).contains(5L))
    spark.sql(s"UPDATE graft.`$root` SET v = `$root`.v + 1 WHERE `$root`.id = 6")
    assert(state(root)(6L)._1 == 61L)
  }

  test("INSERT BY NAME maps by name, not position") {
    val root = mkRoot("byname")
    // columns deliberately permuted vs the table's (id, v, part) order
    spark.sql(s"INSERT INTO graft.`$root` BY NAME " +
      "SELECT 7L AS v, 'p1' AS part, 500L AS id")
    assert(state(root)(500L) == (7L, "p1"))
  }

  test("SQL INSERT INTO appends; column lists map positionally; guards") {
    val root = mkRoot("ins")
    spark.sql(s"INSERT INTO graft.`$root` " +
      "SELECT id + 100, id AS v, 'p0' AS part FROM range(3)")
    val s1 = state(root)
    assert(s1(100L) == (0L, "p0") && s1(101L) == (1L, "p0") && s1(102L) == (2L, "p0"))
    assert(s1.size == 23)
    // explicit column list in a DIFFERENT order maps positionally
    spark.sql(s"INSERT INTO graft.`$root` (v, part, id) VALUES (7, 'p1', 200)")
    assert(state(root)(200L) == (7L, "p1"))
    assert(Layout.history(spark, root)
      .filter($"operation" === "APPEND").count() == 2L)
    // static partitions refuse
    val e2 = intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$root` PARTITION (part='p0') SELECT 1L, 1L")
    }
    assert(e2.getMessage.contains("PARTITION"))
  }

  test("INSERT OVERWRITE replaces the table; TRUNCATE empties it; both travel") {
    val root = mkRoot("ow")
    val v0 = Layout.currentVersionNumber(spark, root)
    spark.sql(s"INSERT OVERWRITE TABLE graft.`$root` " +
      "SELECT id + 1000, id AS v, 'p0' AS part FROM range(3)")
    assert(state(root).keySet == Set(1000L, 1001L, 1002L))
    // the pre-overwrite content stays time-travelable
    assert(Layout.readVersion(spark, root, v0).count() == 20L)
    // constraints validate the REPLACEMENT before any version claims
    Layout.addCheckConstraint(spark, root, "v_small", "v < 100")
    val before = Layout.currentVersionNumber(spark, root)
    val e = intercept[Exception] {
      spark.sql(s"INSERT OVERWRITE TABLE graft.`$root` " +
        "SELECT id, id * 1000 AS v, 'p0' AS part FROM range(2)")
    }
    assert(e.getMessage.contains("v_small"))
    assert(Layout.currentVersionNumber(spark, root) == before)
    // TRUNCATE: empty table, schema + constraints intact, history intact
    spark.sql(s"TRUNCATE TABLE graft.`$root`")
    assert(Layout.readCurrent(spark, root).count() == 0)
    assert(Layout.readCurrent(spark, root).columns.toSeq ==
      Seq("id", "v", "part"))
    spark.sql(s"INSERT INTO graft.`$root` VALUES (1, 5, 'p0')")
    assert(state(root) == Map(1L -> ((5L, "p0"))))
    val e2 = intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$root` VALUES (2, 500, 'p0')")
    }
    assert(e2.getMessage.contains("v_small"), "constraints survive TRUNCATE")
    spark.sql(s"RESTORE TABLE graft.`$root` TO VERSION AS OF $v0")
    assert(state(root).size == 20)
  }

  test("MERGE accepts unaliased graft.`path` target qualifiers in ON and clauses") {
    val root = mkRoot("mq")
    Seq((5L, 555L, "p1")).toDF("id", "v", "part")
      .createOrReplaceTempView("mq_src")
    spark.sql(
      s"""MERGE INTO graft.`$root` USING mq_src s
         |ON graft.`$root`.id = s.id
         |WHEN MATCHED AND s.v > graft.`$root`.v THEN UPDATE SET v = s.v
         |""".stripMargin)
    assert(state(root)(5L)._1 == 555L)
  }

  test("graft_table AS OF a timestamp string serves the version of that instant") {
    val root = mkRoot("asof")
    Thread.sleep(1100) // manifest mtimes can be second-granular
    val mark = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    Thread.sleep(1100)
    spark.sql(s"DELETE FROM graft.`$root` WHERE id < 10")
    // the live table lost 10 rows; AS OF the pre-delete instant still has 20
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_table('$root', '$mark')")
      .head().getLong(0) == 20L)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_table('$root')")
      .head().getLong(0) == 10L)
    // typed TIMESTAMP literals are AS OF too — never misread as a version
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft_table('$root', TIMESTAMP '$mark')")
      .head().getLong(0) == 20L)
    // DATE literal: today's midnight precedes v0 -> refused as pre-history
    // (NOT misread as "version 20000-something")
    val e = intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM graft_table('$root', DATE '1995-01-01')")
        .collect()
    }
    assert(e.getMessage.contains("retained history") ||
      e.getMessage.toLowerCase.contains("before"), e.getMessage)
  }

  test("SQL WHEN NOT MATCHED BY SOURCE: full sync with clause-order masking") {
    val root = mkRoot("bysrc")
    // source: ids 0..9 (with part so INSERT * stays legal if added later)
    spark.range(10)
      .select($"id", ($"id" * 10 + 1).cast("long").as("v"),
        concat(lit("p"), ($"id" % 2).cast("string")).as("part"))
      .createOrReplaceTempView("bysrc_src")
    // UPDATE written BEFORE DELETE: SQL first-clause-wins means target
    // rows 10..14 flag (cond true) and only 15..19 fall to DELETE
    spark.sql(
      s"""MERGE INTO graft.`$root` t USING bysrc_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED BY SOURCE AND t.id < 15 THEN UPDATE SET v = t.v + 1
         |WHEN NOT MATCHED BY SOURCE THEN DELETE
         |""".stripMargin)
    val s = state(root)
    (0L until 10L).foreach(i => assert(s(i)._1 == i * 10 + 1))
    (10L until 15L).foreach(i => assert(s(i)._1 == i * 10 + 1, s"id $i flagged"))
    (15L until 20L).foreach(i => assert(!s.contains(i), s"id $i deleted"))
    assert(s.size == 15)
  }

  test("subqueries in DML conditions and SET values resolve at run time") {
    val root = mkRoot("subq")
    spark.range(5).select(($"id" + 3L).as("k")).createOrReplaceTempView("sq_keys")
    // IN (SELECT …) in DELETE
    spark.sql(s"DELETE FROM graft.`$root` WHERE id IN (SELECT k FROM sq_keys)")
    assert(state(root).keySet == (0L until 20L).toSet -- (3L until 8L))
    // scalar subquery in an UPDATE SET value and a NOT IN condition
    spark.sql(s"UPDATE graft.`$root` SET v = (SELECT max(k) FROM sq_keys) " +
      "WHERE id NOT IN (SELECT k FROM sq_keys) AND id < 2")
    assert(state(root)(0L)._1 == 7L && state(root)(1L)._1 == 7L)
    assert(state(root)(2L)._1 == 20L)
    // EXISTS with an uncorrelated body
    spark.sql(s"DELETE FROM graft.`$root` " +
      "WHERE id = 19 AND EXISTS (SELECT 1 FROM sq_keys WHERE k = 7)")
    assert(!state(root).contains(19L))
    // CORRELATED subqueries (target alias inside the body) fail loudly —
    // the alias does not exist in the run-time snapshot frame
    val e = intercept[Exception] {
      spark.sql(s"DELETE FROM graft.`$root` t " +
        "WHERE EXISTS (SELECT 1 FROM sq_keys WHERE k = t.id)")
    }
    assert(e.getMessage.nonEmpty)
  }

  test("MERGE refuses unqualified refs that exist on BOTH target and source") {
    val root = mkRoot("amb")
    // the source carries 'v' too — an unqualified 'v' in a matched clause
    // must not silently bind to the target: Spark's own resolution refuses
    // it as ambiguous (AMBIGUOUS_REFERENCE)
    Seq((2L, 999L)).toDF("id", "v").createOrReplaceTempView("amb_src")
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$root` t USING amb_src s ON t.id = s.id
           |WHEN MATCHED AND v > 0 THEN UPDATE SET v = v + 1""".stripMargin)
    }
    assert(e.getMessage.toLowerCase.contains("ambiguous"), e.getMessage)
    // the qualified form runs (SET target name is unambiguous by nature);
    // an unqualified ref to a TARGET-ONLY column (part) stays legal
    Seq((2L, 999L, "p0")).toDF("id", "v", "part")
      .createOrReplaceTempView("amb_src2")
    spark.sql(
      s"""MERGE INTO graft.`$root` t USING amb_src2 s ON t.id = s.id
         |WHEN MATCHED AND s.v > t.v THEN UPDATE SET v = s.v""".stripMargin)
    assert(state(root)(2L)._1 == 999L)
  }

  test("3-part qualified SET targets resolve (UPDATE ... SET graft.`p`.v)") {
    val root = mkRoot("settgt")
    spark.sql(s"UPDATE graft.`$root` SET graft.`$root`.v = 1 WHERE id = 2")
    assert(state(root)(2L)._1 == 1L)
    // through MERGE too
    Seq((4L, 777L, "p0")).toDF("id", "v", "part")
      .createOrReplaceTempView("settgt_src")
    spark.sql(
      s"""MERGE INTO graft.`$root` USING settgt_src s
         |ON graft.`$root`.id = s.id
         |WHEN MATCHED THEN UPDATE SET graft.`$root`.v = s.v""".stripMargin)
    assert(state(root)(4L)._1 == 777L)
    // a field of a non-struct column refuses, naming the cause (v is a
    // BIGINT, there is no field to extract)
    val e = intercept[Exception] {
      spark.sql(s"UPDATE graft.`$root` SET v.f = 1 WHERE id = 2")
    }
    assert(e.getMessage.contains("INVALID_EXTRACT_BASE_FIELD_TYPE") &&
      e.getMessage.contains("BIGINT"), e.getMessage)
  }

  test("a nested-field SET on a struct column refuses; assign the whole column") {
    val root = Files.createTempDirectory("graft_sql_nested").toString + "/t"
    Layout.initVersionedManifest(
      spark.range(3).select($"id", struct(($"id" * 2).as("f")).as("st")),
      root, Nil)
    val e = intercept[Exception] {
      spark.sql(s"UPDATE graft.`$root` SET st.f = 1 WHERE id = 2")
    }
    assert(e.getMessage.contains("nested-field"), e.getMessage)
    spark.sql(s"UPDATE graft.`$root` SET st = named_struct('f', 7L) WHERE id = 2")
    assert(Layout.readCurrent(spark, root).where($"id" === 2)
      .select($"st.f").as[Long].head() == 7L)
  }

  test("MERGE WITH SCHEMA EVOLUTION adds source columns, then merges") {
    val root = mkRoot("evolve")
    // source carries 'score', which the table lacks
    Seq((2L, 999L, "p0", 0.5), (100L, 7L, "p0", 0.9))
      .toDF("id", "v", "part", "score").createOrReplaceTempView("evo_src")
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO graft.`$root` t
         |USING evo_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val t = Layout.readCurrent(spark, root)
    assert(t.columns.toSeq == Seq("id", "v", "score", "part"))
    val got = t.select($"id", $"v", $"score")
      .as[(Long, Long, Option[Double])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(2L) == ((999L, Some(0.5)))) // matched: star update, new col set
    assert(got(100L) == ((7L, Some(0.9)))) // inserted with the new col
    assert(got(3L) == ((30L, None)))       // untouched rows read NULL
    assert(got.size == 21)
    // withOUT the keyword, an extra source column still rides as a clause
    // input and never lands in the table
    Seq((3L, 1L, "p1", 0.0, 0.1)).toDF("id", "v", "part", "score", "extra2")
      .createOrReplaceTempView("evo_src2")
    spark.sql(
      s"""MERGE INTO graft.`$root` t USING evo_src2 s ON t.id = s.id
         |WHEN MATCHED AND s.extra2 < 1.0 THEN DELETE""".stripMargin)
    assert(!Layout.readCurrent(spark, root).columns.contains("extra2"))
    assert(Layout.readCurrent(spark, root).filter($"id" === 3L).count() == 0)
  }

  test("WITH SCHEMA EVOLUTION refuses a source column named like a dropped one") {
    val root = mkRoot("evotomb")
    spark.sql(s"ALTER TABLE graft.`$root` ADD COLUMN note STRING")
    spark.sql(s"ALTER TABLE graft.`$root` DROP COLUMN note")
    // 'note' is a tombstone now: evolving it back in must refuse LOUDLY
    // (silently skipping the add would discard every source value)
    Seq((2L, 1L, "p0", "boom")).toDF("id", "v", "part", "note")
      .createOrReplaceTempView("evotomb_src")
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO graft.`$root` t
           |USING evotomb_src s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    }
    assert(e.getMessage.contains("already exists"), e.getMessage)
  }

  test("non-graft SQL is untouched by the rule") {
    // plain reads still work in the same session
    assert(spark.sql("SELECT 1 + 1 AS two").head().getInt(0) == 2)
    // DML against a non-graft relation falls through to Spark's own
    // handling (not our commands): the error is Spark's, not a graft one
    spark.range(3).createOrReplaceTempView("plain_view")
    val e = intercept[Exception] {
      spark.sql("DELETE FROM plain_view WHERE id = 1")
    }
    assert(!e.getMessage.contains("graft"))
  }
}
