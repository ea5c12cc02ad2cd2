package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.plans.{GraftPaths, GraftSqlParser}
import graft.sources.Layout
import graft.streaming.StreamingOps

/** Round-13 advice-pass regressions: each test pins one fixed finding
  * from the r12 review (see ADVICE.md history).
  */
class AdviceFixSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_af_$tag").toString

  test("CREATE refuses a pre-existing non-empty LOCATION; files survive") {
    // before the fix: init claimed the dir, a later create-step failure
    // triggered the cleanup dropTable, and the PRE-EXISTING files were
    // recursively deleted with the half-created table
    val dir = tmp("noclaim")
    val keep = new java.io.File(dir, "keep.txt")
    java.nio.file.Files.write(keep.toPath, "precious".getBytes("UTF-8"))
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.af_noclaim (id INT, part STRING) " +
        s"PARTITIONED BY (part) LOCATION '$dir'")
    }
    assert(e.getMessage.contains("not empty"), e.getMessage)
    assert(keep.exists() &&
      new String(java.nio.file.Files.readAllBytes(keep.toPath)) == "precious")
    // same refusal for a PATH identifier
    val e2 = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`$dir` (id INT, part STRING) " +
        "PARTITIONED BY (part)")
    }
    assert(e2.getMessage.contains("not empty"), e2.getMessage)
    assert(keep.exists())
  }

  test("failed CREATE at a fresh location still cleans up for re-CREATE") {
    // the atomic-by-cleanup contract survives the emptiness gate: a CHECK
    // over a missing column fails AFTER init, the cleanup removes the
    // claimed root, and a corrected CREATE succeeds instead of hitting
    // 'already exists'
    val root = tmp("cleanup") + "/t"
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`$root` " +
        "(id BIGINT, part STRING, CONSTRAINT bad CHECK (no_such_col > 0)) " +
        "PARTITIONED BY (part)")
    }
    assert(!new java.io.File(root).exists(),
      s"failed create must not strand a half-built root: $e")
    spark.sql(s"CREATE TABLE graft.`$root` (id BIGINT, part STRING) " +
      "PARTITIONED BY (part)")
    assert(Layout.readCurrent(spark, root).columns.toSeq == Seq("id", "part"))
  }

  test("bare names '.', '..' and separator-bearing names are refused") {
    // before the fix: graft.`..` resolved to the warehouse's PARENT and a
    // DROP there recursively deleted the warehouse and its siblings
    for (bad <- Seq("..", ".", "a b")) {
      val e = intercept[Exception] {
        spark.sql(s"CREATE TABLE graft.`$bad` (id INT, part STRING) " +
          "PARTITIONED BY (part)")
      }
      assert(e.getMessage.contains("invalid table name"),
        s"'$bad': ${e.getMessage}")
      val e2 = intercept[Exception] { spark.sql(s"DROP TABLE graft.`$bad`") }
      assert(e2.getMessage.contains("invalid table name"),
        s"'$bad': ${e2.getMessage}")
    }
    // dots INSIDE a name stay legal (matches the documented charset)
    val wh = tmp("whdot")
    val prior = spark.conf.getOption(GraftPaths.WarehouseConf)
    spark.conf.set(GraftPaths.WarehouseConf, wh)
    try {
      spark.sql("CREATE TABLE graft.`v1.snapshot` (id INT, part STRING) " +
        "PARTITIONED BY (part)")
      spark.sql("DROP TABLE graft.`v1.snapshot`")
    } finally prior match {
      case Some(p) => spark.conf.set(GraftPaths.WarehouseConf, p)
      case None => spark.conf.unset(GraftPaths.WarehouseConf)
    }
  }

  test("startingTimestamp on a non-manifest root fails loudly, not silently") {
    // a plain parquet directory has no manifest mtime ledger: versionAsOf
    // cannot answer. Before the fix the broad catch degraded this to
    // snapshot-then-follow and deferred the real error; now the stream
    // fails at start with the manifest-root message
    val base = tmp("tsloud")
    val root = base + "/t"
    Seq((1L, "a", 10L)).toDF("id", "g", "v").write.parquet(root)
    val e = intercept[Exception] {
      StreamingOps.drainToParquet(
        spark.readStream.format("graft-changes")
          .option("path", root).option("keys", "id")
          .option("startingTimestamp", "2000-01-01 00:00:00").load(),
        base + "/out", base + "/ckpt")
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("manifest root")),
      messages(e).mkString(" | "))
  }

  test("ZORDER BY splits on commas outside backticks only") {
    assert(GraftSqlParser.splitColumnList("a, b , `c`") == Seq("a", "b", "c"))
    assert(GraftSqlParser.splitColumnList("`a,b`, c") == Seq("a,b", "c"))
    assert(GraftSqlParser.splitColumnList("") == Seq.empty)
    intercept[IllegalArgumentException] {
      GraftSqlParser.splitColumnList("`a,b")
    }
    // end-to-end: the backticked list reaches OPTIMIZE as whole names
    val root = tmp("zorder") + "/t"
    Layout.initVersionedManifest(
      (1L to 20L).map(i => (i, i % 3, s"p${i % 2}")).toDF("id", "v", "part"),
      root, Seq("part"))
    val out = spark.sql(s"OPTIMIZE graft.`$root` ZORDER BY (`id`, `v`)")
    assert(out.columns.toSeq == Seq("compacted_leaves", "version_path"))
  }
}
