package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.sources.Layout

/** Catalog-NATIVE row-level DML (GraftDmlResolved): the SqlDmlSpec matrix
  * routed through `spark.sql.catalog.graft` — targets resolved by the
  * catalog, conditions/assignments resolved by Spark's analyzer, lowering
  * from the RESOLVED plan in the post-hoc batch. Pins: value semantics ≡
  * the parse-time path, exprId-based target/source classification,
  * clause-order masking, star expansion, subqueries, `USE graft` bare
  * names, Spark-native ambiguity errors, the refusal surface (identity
  * INSERT, correlated subqueries, time-travel writes) and the evolution
  * carve-out.
  */
class CatalogDmlSpec extends SparkSpec {

  /** Isolated session: catalog registration is sticky on a session's
    * CatalogManager (the GraftCatalogSpec convention).
    */
  private lazy val cat: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    s.conf.set("spark.graft.warehouse",
      Files.createTempDirectory("graft-cdml-wh").toString)
    s
  }

  private def sql(q: String) = cat.sql(q)

  private var n = 0
  /** Fresh 20-row table (id BIGINT, v BIGINT, part STRING part0/part1). */
  private def mkTable(): String = {
    n += 1
    val t = s"cdml_$n"
    sql(s"CREATE TABLE graft.$t (id BIGINT, v BIGINT, part STRING) " +
      "PARTITIONED BY (part)")
    sql(s"INSERT INTO graft.$t SELECT id, id * 10, " +
      "concat('p', CAST(id % 2 AS STRING)) FROM range(20)")
    t
  }

  private def state(t: String): Map[Long, Long] =
    sql(s"SELECT id, v FROM graft.$t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("DELETE lowers from the resolved plan (arbitrary condition)") {
    val t = mkTable()
    sql(s"DELETE FROM graft.$t WHERE v >= 150 AND id % 2 = 1")
    assert(state(t).keySet ==
      (0L until 20L).filterNot(i => i * 10 >= 150 && i % 2 == 1).toSet)
    // the lowering reached the same Layout writer (DV commit, no rewrite)
    val root = graft.plans.GraftPaths.resolve(cat, t)
    assert(Layout.history(cat, root)
      .filter(org.apache.spark.sql.functions.col("operation") === "DELETE ROWS")
      .count() == 1L)
  }

  test("UPDATE evaluates SET against the matched row; alias accepted") {
    val t = mkTable()
    sql(s"UPDATE graft.$t SET v = v + id WHERE id % 10 = 0")
    val st = state(t)
    assert(st(0L) == 0L && st(10L) == 110L && st(7L) == 70L)
  }

  test("3-clause MERGE ≡ the Scala semantics; source via temp view") {
    val t = mkTable()
    // derived insert columns computed in the USING query (the documented
    // shape); `op` rides along as a clause input only — the INSERT is the
    // identity list over (id, v, part)
    cat.range(25).selectExpr("id", "id * 100 AS v",
      "concat('p', CAST(id % 2 AS STRING)) AS part",
      "CASE WHEN id % 5 = 0 THEN 'D' ELSE 'U' END AS op")
      .createOrReplaceTempView("cdml_src")
    sql(s"""MERGE INTO graft.$t AS t USING cdml_src AS s
      ON t.id = s.id
      WHEN MATCHED AND s.op = 'D' THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (id, v, part)
        VALUES (s.id, s.v, s.part)""")
    val st = state(t)
    // id%5==0 matched rows deleted; other matched updated to id*100;
    // 20-24 inserted except 20 (op='D')
    assert(!st.contains(0L) && !st.contains(5L) && !st.contains(10L))
    assert(st(3L) == 300L && st(19L) == 1900L)
    assert(!st.contains(20L) && st(21L) == 2100L && st(24L) == 2400L)
  }

  test("MERGE star: UPDATE SET * / INSERT * / NOT MATCHED BY SOURCE") {
    val t = mkTable()
    sql(s"""MERGE INTO graft.$t AS t
      USING (SELECT id + 18 AS id, id * 1000 AS v,
               concat('p', CAST(id % 2 AS STRING)) AS part
             FROM range(4)) AS s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *
      WHEN NOT MATCHED BY SOURCE AND t.id < 2 THEN DELETE""")
    val st = state(t)
    // matched 18/19 updated from source; 20/21 inserted; 0/1 deleted
    assert(st.get(18L).contains(0L) && st.get(19L).contains(1000L))
    assert(st.get(20L).contains(2000L) && st.get(21L).contains(3000L))
    assert(!st.contains(0L) && !st.contains(1L) && st(2L) == 20L)
  }

  test("MERGE first-matching-clause-wins: UPDATE written before DELETE") {
    val t = mkTable()
    // ids 2 and 4 match; s.v > t.v holds for id=2 only. SQL: the UPDATE
    // clause is FIRST, so id=2 updates and only id=4 falls to DELETE —
    // the same masking pin as the parse-time path, with the both-sides
    // condition (s.v > t.v) classifying by exprId here
    sql(s"""MERGE INTO graft.$t AS t
      USING (SELECT 2L AS id, 999L AS v, 'p0' AS part
             UNION ALL SELECT 4L, 1L, 'p0') AS s
      ON t.id = s.id
      WHEN MATCHED AND s.v > t.v THEN UPDATE SET v = s.v
      WHEN MATCHED THEN DELETE""")
    val st = state(t)
    assert(st(2L) == 999L, "first clause (UPDATE) must win for id=2")
    assert(!st.contains(4L), "id=4 falls through to DELETE")
    assert(st(3L) == 30L)
  }

  test("subqueries in conditions resolve; correlated refuses loudly") {
    val t = mkTable()
    cat.range(3).selectExpr("id * 2 AS kid").createOrReplaceTempView("cdml_k")
    sql(s"DELETE FROM graft.$t WHERE id IN (SELECT kid FROM cdml_k)")
    assert(state(t).keySet == (0L until 20L).toSet -- Seq(0L, 2L, 4L))
    val e = intercept[Exception] {
      sql(s"DELETE FROM graft.$t t WHERE EXISTS " +
        s"(SELECT 1 FROM cdml_k k WHERE k.kid = t.id)")
    }
    assert(e.getMessage.contains("correlated"),
      s"expected correlated-subquery refusal, got: ${e.getMessage}")
  }

  test("USE graft: bare-name targets resolve through the current catalog") {
    val t = mkTable()
    val before = cat.catalog.currentCatalog()
    try {
      sql("USE graft")
      sql(s"UPDATE $t SET v = -1 WHERE id = 5")
      assert(state(t)(5L) == -1L)
      sql(s"DELETE FROM $t WHERE id = 6")
      assert(!state(t).contains(6L))
    } finally cat.catalog.setCurrentCatalog(before)
  }

  test("ambiguity is Spark's own error, not a silent target bind") {
    val t = mkTable()
    cat.range(5).selectExpr("id", "id * 7 AS v")
      .createOrReplaceTempView("cdml_amb")
    val e = intercept[Exception] {
      sql(s"""MERGE INTO graft.$t AS t USING cdml_amb AS s
        ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET t.v = v + 1""")
    }
    // Spark's resolution raises AMBIGUOUS_REFERENCE for the bare `v`
    assert(e.getMessage.toLowerCase.contains("ambiguous"),
      s"expected Spark ambiguity error, got: ${e.getMessage}")
  }

  test("refusals: non-identity INSERT, non-keyed ON, time-travel write") {
    val t = mkTable()
    val e1 = intercept[Exception] {
      sql(s"""MERGE INTO graft.$t AS t
        USING (SELECT id, id AS nv FROM range(3)) AS s
        ON t.id = s.id
        WHEN NOT MATCHED THEN INSERT (id, v, part) VALUES (s.id, s.nv, 'x')""")
    }
    assert(e1.getMessage.contains("INSERT *"))
    val e2 = intercept[Exception] {
      sql(s"""MERGE INTO graft.$t AS t
        USING (SELECT id, id AS nv FROM range(3)) AS s
        ON t.id >= s.id
        WHEN MATCHED THEN UPDATE SET v = s.nv""")
    }
    assert(e2.getMessage.contains("conjunction of key equalities"))
    val e3 = intercept[Exception] {
      sql(s"DELETE FROM graft.$t VERSION AS OF 0 WHERE id = 1")
    }
    assert(e3.getMessage.contains("time-travel") ||
      e3.getMessage.toLowerCase.contains("version"),
      s"expected time-travel write refusal, got: ${e3.getMessage}")
  }

  test("MERGE WITH SCHEMA EVOLUTION lowers from the resolved plan") {
    val t = mkTable()
    // Routes through GraftDmlResolved (since r15): the capability is
    // withheld so Spark's positional evolution never fires; analysis
    // expands SET * against the pre-evolution schema and the lowering
    // re-expands it by NAME at execution. Were the resolved rule to miss
    // the evolution merge, CheckAnalysis would reject the unrewritten
    // MergeIntoTable outright — success IS the routing pin.
    sql(s"""MERGE WITH SCHEMA EVOLUTION INTO graft.$t AS t
      USING (SELECT id, id * 10 AS v,
               concat('p', CAST(id % 2 AS STRING)) AS part,
               CAST(id AS DOUBLE) AS score
             FROM range(22)) AS s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val rows = sql(s"SELECT id, score FROM graft.$t").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    // evolved column landed with source values for every merged row —
    // UPDATED rows (id<20, only reachable via the star re-expansion
    // against the live post-evolution schema) and INSERTED rows alike —
    // and the partition column was NOT mis-wired by positional expansion
    assert(rows(20L).contains(20.0) && rows(3L).contains(3.0))
    val parts = sql(s"SELECT DISTINCT part FROM graft.$t").collect()
      .map(_.getString(0)).toSet
    assert(parts == Set("p0", "p1"))
  }

  test("evolution merge: SET * stays a star behind analyzer coercion " +
      "casts — a type-widened column keeps its evolved values") {
    // source v is INT where the target declares BIGINT: Spark's star
    // expansion wraps the assignment in a cast, and a shape check that
    // stops at AttributeReference would silently demote the star to an
    // explicit SET — evolved `score` would stay NULL on UPDATED rows.
    // (No INSERT clause: the identity-INSERT gate refuses coercion casts
    // by documented design — compute them in the USING query.)
    val t = mkTable()
    sql(s"""MERGE WITH SCHEMA EVOLUTION INTO graft.$t AS t
      USING (SELECT id, CAST(id * 10 AS INT) AS v,
               concat('p', CAST(id % 2 AS STRING)) AS part,
               CAST(id AS DOUBLE) AS score
             FROM range(10)) AS s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *""")
    val rows = sql(s"SELECT id, v, score FROM graft.$t").collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toMap
    assert(rows(3L) == ((30L, Some(3.0))),
      s"updated row must carry the evolved column: ${rows(3L)}")
    assert(rows(15L) == ((150L, None)), "unmatched rows keep NULL")
  }

  test("evolution merge: explicit SET leaves evolved columns NULL on " +
      "updated rows; identity INSERT carries them (resolved path)") {
    val t = mkTable()
    sql(s"""MERGE WITH SCHEMA EVOLUTION INTO graft.$t AS t
      USING (SELECT id, id * 10 AS v,
               concat('p', CAST(id % 2 AS STRING)) AS part,
               id + 1000 AS extra
             FROM range(21)) AS s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v + 1
      WHEN NOT MATCHED THEN INSERT *""")
    val rows = sql(s"SELECT id, v, extra FROM graft.$t").collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap
    // the column evolved (exists for everyone), explicit SET touched only
    // v, the inserted row carries the source value — parse-time parity
    assert(rows(3L) == ((31L, None)))
    assert(rows(20L) == ((200L, Some(1020L))))
  }

  test("NOT MATCHED BY SOURCE UPDATE routes catalog-native; masking holds") {
    val t = mkTable()
    // source covers ids 0-9; rows 10+ are "not matched by source":
    // UPDATE written first masks the DELETE for ids 10-14
    sql(s"""MERGE INTO graft.$t AS t
      USING (SELECT id, id * 10 AS v,
               concat('p', CAST(id % 2 AS STRING)) AS part
             FROM range(10)) AS s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v + 1
      WHEN NOT MATCHED BY SOURCE AND t.id < 15 THEN UPDATE SET v = -1
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    val st = state(t)
    assert(st(0L) == 1L && st(9L) == 91L, "matched rows updated")
    assert(st(10L) == -1L && st(14L) == -1L,
      "by-source UPDATE wins where both clauses match")
    assert(!st.contains(15L) && !st.contains(19L),
      "unmasked by-source rows fall to DELETE")
  }

  test("UPDATE SET value may be a scalar subquery (resolved capture)") {
    val t = mkTable()
    cat.range(1).selectExpr("CAST(7 AS BIGINT) AS bump")
      .createOrReplaceTempView("cdml_bump")
    sql(s"UPDATE graft.$t SET v = v + (SELECT max(bump) FROM cdml_bump) " +
      "WHERE id = 3")
    assert(state(t)(3L) == 37L)
  }

  /** Spark jobs started while `body` runs (listener bus drained on both
    * sides, so the count is complete).
    */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = cat.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.graft.ListenerBusSync.drain(sc)
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.graft.ListenerBusSync.drain(sc)
      n.get
    } finally sc.removeSparkListener(l)
  }

  test("DML analysis launches no Spark job on a DEFAULT-bearing table") {
    val t = mkTable()
    val root = graft.plans.GraftPaths.resolve(cat, t)
    Layout.setColumnDefault(cat, root, "v", "42")
    Layout.setColumnDefault(cat, root, "part", "concat('p', '9')")
    val stmts = Seq(
      "DELETE FROM %s WHERE id = 1",
      "UPDATE %s SET v = v + 1 WHERE id = 2",
      "MERGE INTO %s t USING (SELECT 3L AS id, 5L AS v, 'p1' AS part) s " +
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED THEN INSERT *")
    // both faces build the GraftTable relation (and its DEFAULT column
    // metadata) during analysis: the catalog's loadTable, and the path
    // target in a session with no catalog registered
    stmts.foreach { q =>
      assert(jobsDuring(sql("EXPLAIN " + q.format(s"graft.$t"))) == 0,
        s"catalog: $q")
      assert(jobsDuring(spark.sql("EXPLAIN " + q.format(s"graft.`$root`"))) == 0,
        s"path: $q")
    }
    // the folded literal is the default's value (Spark's insert
    // resolution reads it back as the column's current default)
    sql(s"INSERT INTO graft.$t (id) VALUES (100)")
    assert(sql(s"SELECT v, part FROM graft.$t WHERE id = 100").head().toSeq ==
      Seq(42L, "p9"))
  }

  test("catalog DML composes with time travel reads and the change feed") {
    val t = mkTable()
    sql(s"DELETE FROM graft.$t WHERE id >= 10") // v2
    sql(s"UPDATE graft.$t SET v = -5 WHERE id = 1") // v3
    // the pre-DML snapshot still reads complete
    assert(sql(s"SELECT count(*) FROM graft.$t VERSION AS OF 1")
      .head().getLong(0) == 20L)
    assert(sql(s"SELECT count(*) FROM graft.$t").head().getLong(0) == 10L)
    val root = graft.plans.GraftPaths.resolve(cat, t)
    val changes = graft.sources.Layout.changeFeed(cat, root, 1, 3, Seq("id"))
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(changes.getOrElse("delete", 0L) == 10L)
    assert(changes.getOrElse("update_post", 0L) == 1L)
  }
}
