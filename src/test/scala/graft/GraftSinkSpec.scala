package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.Layout
import graft.streaming.StreamingOps

/** `writeStream.format("graft-sink")` (r11): micro-batches land as table
  * versions — upsert mode (keys) vs append mode, txn idempotence across
  * drains, and the table-to-table loop with the change-feed source.
  */
class GraftSinkSpec extends SparkSpec {
  import spark.implicits._

  private def rows(rs: (Long, String, Long)*) = rs.toDF("id", "g", "v")

  private def mk(tag: String): (String, String, String) = {
    val base = Files.createTempDirectory(s"graft_sink_$tag").toString
    (base + "/t", base + "/in", base + "/ckpt")
  }

  private def state(root: String): Set[(Long, String, Long)] =
    Layout.readCurrent(spark, root).select($"id", $"g", $"v")
      .as[(Long, String, Long)].collect().toSet

  /** One AvailableNow drain of the parquet files under `inDir` (schema
    * `schema`) into `root` through the sink, with the given writer options.
    */
  private def sinkDrain(inDir: String, schema: org.apache.spark.sql.types.StructType,
                        root: String, ckpt: String, opts: (String, String)*): Unit =
    opts.foldLeft(StreamingOps.fileStream(spark, inDir, schema)
        .writeStream.format("graft-sink")
        .option("path", root).option("checkpointLocation", ckpt)) {
        case (w, (k, v)) => w.option(k, v)
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()

  private def drain(inDir: String, root: String, ckpt: String,
                    keys: Option[String]): Unit =
    sinkDrain(inDir, rows().schema, root, ckpt, keys.map("keys" -> _).toSeq: _*)

  private def pvState(root: String): Set[(Long, String, Double)] =
    Layout.readCurrent(spark, root).select("id", "part", "v")
      .as[(Long, String, Double)].collect().toSet

  test("upsert mode: micro-batches merge by key; idle drains claim no version") {
    val (root, in, ckpt) = mk("upsert")
    Layout.initVersionedManifest(rows((1L, "a", 10L), (2L, "b", 20L)), root, Seq("g"))
    new java.io.File(in).mkdirs()
    rows((1L, "a", 11L), (3L, "a", 30L)).coalesce(1)
      .write.mode("append").parquet(in)
    drain(in, root, ckpt, Some("id"))
    assert(state(root) == Set((1L, "a", 11L), (2L, "b", 20L), (3L, "a", 30L)))
    val v = Layout.currentVersionNumber(spark, root)
    // nothing new → resumed drain commits nothing
    drain(in, root, ckpt, Some("id"))
    assert(Layout.currentVersionNumber(spark, root) == v)
    // second batch resumes the checkpoint and merges on top
    rows((3L, "a", 31L)).coalesce(1).write.mode("append").parquet(in)
    drain(in, root, ckpt, Some("id"))
    assert(state(root) == Set((1L, "a", 11L), (2L, "b", 20L), (3L, "a", 31L)))
    assert(Layout.history(spark, root)
      .filter($"operation" === "UPSERT ROWS").count() >= 2L)
  }

  test("append mode (no keys): rows accumulate, duplicates allowed") {
    val (root, in, ckpt) = mk("append")
    Layout.initVersionedManifest(rows((1L, "a", 10L)), root, Seq("g"))
    new java.io.File(in).mkdirs()
    rows((1L, "a", 10L), (2L, "b", 20L)).coalesce(1)
      .write.mode("append").parquet(in)
    drain(in, root, ckpt, None)
    val all = Layout.readCurrent(spark, root).select($"id").as[Long].collect()
    assert(all.sorted.toSeq == Seq(1L, 1L, 2L)) // duplicate id=1 kept: append
    assert(Layout.history(spark, root)
      .filter($"operation" === "APPEND").count() == 1L)
  }

  test("table-to-table: change-feed source into a graft sink follows the table") {
    val (src, _, ckpt) = mk("loop")
    val derived = src + "_derived"
    Layout.initVersionedManifest(
      rows((1L, "a", 10L), (2L, "b", 20L)), src, Seq("g"))
    Layout.initVersionedManifest(rows(), derived, Seq("g"))
    def follow(): Unit = {
      val q = StreamingOps.readChangeStream(spark, src, Seq("id"))
        // keep post-images only (this derived table mirrors upserts; the
        // delete-capable path is the sink's cdc mode, the next test)
        .filter($"_change_type".isin("insert", "update_post"))
        .drop("_change_type")
        .writeStream.format("graft-sink")
        .option("path", derived).option("keys", "id")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    follow()
    assert(state(derived) == state(src))
    Layout.upsertVersionedRows(spark, src,
      rows((1L, "a", 100L), (9L, "b", 90L)), Seq("id"))
    follow()
    assert(state(derived) == state(src))
    assert(state(derived) == Set((1L, "a", 100L), (2L, "b", 20L), (9L, "b", 90L)))
  }

  test("EXACT mirror: includeVersion feed + cdc sink replicates deletes too") {
    val (src, _, ckpt) = mk("mirror")
    val derived = src + "_m"
    Layout.initVersionedManifest(
      rows((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L)), src, Seq("g"))
    Layout.initVersionedManifest(rows(), derived, Seq("g"))
    def mirror(): Unit = {
      val q = StreamingOps.readChangeStream(spark, src, Seq("id"),
          includeVersion = true)
        // feed → op codes: deletes apply as D, post-images as upserts,
        // pre-images drop; _commit_version is the CDC ordering column
        .filter($"_change_type" =!= "update_pre")
        .withColumn("op",
          when($"_change_type" === "delete", "D").otherwise("U"))
        .withColumnRenamed("_commit_version", "seq")
        .drop("_change_type")
        .writeStream.format("graft-sink")
        .option("path", derived).option("keys", "id")
        .option("mode", "cdc").option("opCol", "op").option("seqCol", "seq")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    mirror()
    assert(state(derived) == state(src))
    // a commit mix including a DELETE — the upsert-only loop cannot mirror
    // this; the cdc loop must
    Layout.deleteVersionedRows(spark, src, $"id" === 2L)
    Layout.upsertVersionedRows(spark, src,
      rows((1L, "a", 11L), (4L, "b", 40L)), Seq("id"))
    mirror()
    assert(state(derived) == state(src))
    assert(state(derived) == Set((1L, "a", 11L), (3L, "a", 30L), (4L, "b", 40L)))
    // delete-then-reinsert across commits in ONE drain: _commit_version
    // ordering must land the reinsert, not the delete
    Layout.deleteVersionedRows(spark, src, $"id" === 3L)
    Layout.upsertVersionedRows(spark, src, rows((3L, "a", 33L)), Seq("id"))
    mirror()
    assert(state(derived) == state(src))
    assert(state(derived).contains((3L, "a", 33L)))
  }

  test("upsert mode on a partitioned root: resumed drains upsert by key, " +
      "v0 stays time-travel readable") {
    val (root, in, ckpt) = mk("pupsert")
    def rows(rs: (Long, String, Double)*) = rs.toDF("id", "part", "v")
    Layout.initVersionedManifest(
      rows((1L, "p1", 10.0), (2L, "p1", 20.0), (3L, "p2", 30.0)), root, Seq("part"))
    val schema = rows((0L, "", 0.0)).schema
    // drain 1: update id=2, insert id=4 (touches p1 only)
    rows((2L, "p1", 99.0), (4L, "p1", 40.0)).write.mode("append").parquet(in)
    sinkDrain(in, schema, root, ckpt, "keys" -> "id")
    assert(pvState(root) == Set((1L, "p1", 10.0), (2L, "p1", 99.0),
      (4L, "p1", 40.0), (3L, "p2", 30.0)))
    // drain 2 RESUMES the same checkpoint: only the new file is merged,
    // including a key landing in a partition the table never had
    rows((3L, "p2", 77.0), (5L, "p3", 50.0)).write.mode("append").parquet(in)
    sinkDrain(in, schema, root, ckpt, "keys" -> "id")
    assert(pvState(root) == Set((1L, "p1", 10.0), (2L, "p1", 99.0),
      (4L, "p1", 40.0), (3L, "p2", 77.0), (5L, "p3", 50.0)))
    // the pre-stream snapshot stays readable across stream batches
    assert(Layout.readVersion(spark, root, 0).count() == 3)
  }

  test("upsert mode is merge-on-read: old images DV'd, init files carried " +
      "byte-identical, a resumed drain DVs the previous drain's images") {
    import graft.sources.ManifestIndex
    val (root, in, ckpt) = mk("mor")
    def rows(rs: (Long, String, Double)*) = rs.toDF("id", "part", "v")
    Layout.initVersionedManifest(
      rows((1L, "p1", 10.0), (2L, "p1", 20.0), (3L, "p2", 30.0)), root, Seq("part"))
    val before = ManifestIndex.read(spark, root, "v00000")
      .entries.map(e => (e.path, e.size)).toSet
    val schema = rows((0L, "", 0.0)).schema
    // drain 1: replace id=2, insert id=4
    rows((2L, "p1", 99.0), (4L, "p3", 40.0)).write.mode("append").parquet(in)
    sinkDrain(in, schema, root, ckpt, "keys" -> "id")
    assert(pvState(root) == Set((1L, "p1", 10.0), (2L, "p1", 99.0),
      (3L, "p2", 30.0), (4L, "p3", 40.0)))
    // surviving init files are byte-identical (DV'd or untouched, never
    // rewritten) and the batch arrived as appended files
    val m1 = ManifestIndex.read(spark, root, "v00001")
    val carried = m1.entries.filter(_.path.startsWith("v00000/"))
      .map(e => (e.path, e.size)).toSet
    assert(carried.subsetOf(before) && carried.nonEmpty)
    assert(m1.entries.exists(_.path.startsWith("v00001/")), "appended images")
    // drain 2 resumes the checkpoint: only the new file applies — and it
    // DVs the image drain 1 appended
    rows((4L, "p3", 44.0), (5L, "p2", 50.0)).write.mode("append").parquet(in)
    sinkDrain(in, schema, root, ckpt, "keys" -> "id")
    assert(pvState(root) == Set((1L, "p1", 10.0), (2L, "p1", 99.0),
      (3L, "p2", 30.0), (4L, "p3", 44.0), (5L, "p2", 50.0)))
    assert(Layout.readVersion(spark, root, 0).count() == 3L)
  }

  test("cdc mode: in-batch insert→update→delete chains, equal-seq ties " +
      "where the delete wins, partition moves") {
    val (root, in, ckpt) = mk("cdc")
    def base(rs: (Long, String, Double)*) = rs.toDF("id", "part", "v")
    def cdc(rs: (Long, String, Double, String, Long)*) =
      rs.toDF("id", "part", "v", "op", "seq")
    Layout.initVersionedManifest(
      base((1L, "p1", 10.0), (2L, "p1", 20.0), (3L, "p2", 30.0)), root, Seq("part"))
    val schema = cdc((0L, "", 0.0, "", 0L)).schema
    def drain(): Unit = sinkDrain(in, schema, root, ckpt,
      "keys" -> "id", "mode" -> "cdc", "opCol" -> "op", "seqCol" -> "seq")
    // drain 1: delete id=1; id=4 inserts then updates IN the same batch
    // (keep-last by seq); a delete of missing id=9 is tolerated
    cdc((1L, "p1", 10.0, "D", 1L), (4L, "p3", 40.0, "U", 2L),
      (4L, "p3", 44.0, "U", 3L), (9L, "p2", 0.0, "D", 4L))
      .write.mode("append").parquet(in)
    drain()
    assert(pvState(root) == Set((2L, "p1", 20.0), (3L, "p2", 30.0),
      (4L, "p3", 44.0)))
    // drain 2 resumes: update id=2, then a later delete for it in the same
    // batch wins (chain compaction); insert id=5
    cdc((2L, "p1", 99.0, "U", 5L), (2L, "p1", 99.0, "D", 6L),
      (5L, "p2", 50.0, "U", 7L))
      .write.mode("append").parquet(in)
    drain()
    assert(pvState(root) == Set((3L, "p2", 30.0), (4L, "p3", 44.0),
      (5L, "p2", 50.0)))
    // drain 3: an upstream PARTITION MOVE (id=4 p3 -> p1) moves the row
    cdc((4L, "p1", 45.0, "U", 8L)).write.mode("append").parquet(in)
    drain()
    assert(pvState(root) == Set((3L, "p2", 30.0), (4L, "p1", 45.0),
      (5L, "p2", 50.0)))
    // drain 4: equal-seq ties resolve deterministically to the delete — on
    // a live key (id=5 goes) and on a new key (id=6 never lands)
    cdc((5L, "p2", 55.0, "U", 9L), (5L, "p2", 55.0, "D", 9L),
      (6L, "p1", 60.0, "U", 10L), (6L, "p1", 60.0, "D", 10L))
      .write.mode("append").parquet(in)
    drain()
    assert(pvState(root) == Set((3L, "p2", 30.0), (4L, "p1", 45.0)))
    assert(Layout.readVersion(spark, root, 0).count() == 3L) // time travel
  }

  test("an empty keys option refuses instead of silently appending") {
    val (root, in, ckpt) = mk("emptyk")
    Layout.initVersionedManifest(rows((1L, "a", 1L)), root, Seq("g"))
    new java.io.File(in).mkdirs()
    rows((2L, "a", 2L)).coalesce(1).write.mode("append").parquet(in)
    val e = intercept[Exception] {
      StreamingOps.fileStream(spark, in, rows().schema)
        .writeStream.format("graft-sink")
        .option("path", root).option("keys", " , ")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    assert(e.getMessage.contains("keys") ||
      e.getCause != null && e.getCause.getMessage.contains("keys"))
  }

  test("replace mode serves outputMode=complete aggregates exactly") {
    val (root, in, ckpt) = mk("replace")
    Layout.initVersionedManifest(
      Seq((0L, "z")).toDF("n", "g").filter(lit(false)), root, Seq("g"))
    new java.io.File(in).mkdirs()
    def drain(): Unit = {
      val q = StreamingOps.fileStream(spark, in, rows().schema)
        .groupBy($"g").agg(count(lit(1)).as("n"))
        .select($"n", $"g")
        .writeStream.format("graft-sink")
        .option("path", root).option("mode", "replace")
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    rows((1L, "a", 1L), (2L, "a", 2L), (3L, "b", 3L)).coalesce(1)
      .write.mode("append").parquet(in)
    drain()
    def agg(): Map[String, Long] =
      Layout.readCurrent(spark, root).select($"g", $"n")
        .as[(String, Long)].collect().toMap
    assert(agg() == Map("a" -> 2L, "b" -> 1L))
    val v1 = Layout.currentVersionNumber(spark, root)
    // more input: the next trigger REPLACES with the recomputed whole
    rows((4L, "c", 4L), (5L, "a", 5L)).coalesce(1)
      .write.mode("append").parquet(in)
    drain()
    assert(agg() == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
    // the previous aggregate stays time-travelable
    assert(Layout.readVersion(spark, root, v1).select($"g", $"n")
      .as[(String, Long)].collect().toMap == Map("a" -> 2L, "b" -> 1L))
    // complete mode into a NON-replace sink refuses (silent divergence)
    val e = intercept[Exception] {
      StreamingOps.fileStream(spark, in, rows().schema)
        .groupBy($"g").agg(count(lit(1)).as("n")).select($"n", $"g")
        .writeStream.format("graft-sink")
        .option("path", root).option("keys", "g")
        .option("checkpointLocation", ckpt + "2")
        .outputMode("complete")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    def chain2(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ chain2(t.getCause)
    assert(chain2(e).exists(_.contains("replace")), chain2(e).mkString("|"))
    // …and the REVERSE: replace under (default) append output would
    // wholesale-replace the table with a PARTIAL batch — refuse
    val e2 = intercept[Exception] {
      StreamingOps.fileStream(spark, in, rows().schema)
        .writeStream.format("graft-sink")
        .option("path", root).option("mode", "replace")
        .option("checkpointLocation", ckpt + "3")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    assert(chain2(e2).exists(_.contains("outputMode=complete")),
      chain2(e2).mkString("|"))
  }

  test("cdc mode refuses opCol/seqCol colliding with a table column") {
    val (root, in, ckpt) = mk("collide")
    // the TABLE has a real column named 'op' — the default opCol; without
    // the guard, insert images would land the op-code string in it and
    // updates would silently skip it (ADVICE r11)
    Layout.initVersionedManifest(
      Seq((1L, "a", "keep")).toDF("id", "g", "op"), root, Seq("g"))
    new java.io.File(in).mkdirs()
    val batch = Seq((2L, "a", "U", 1L)).toDF("id", "g", "op", "seq")
    batch.coalesce(1).write.mode("append").parquet(in)
    val e = intercept[Exception] {
      StreamingOps.fileStream(spark, in, batch.schema)
        .writeStream.format("graft-sink")
        .option("path", root).option("keys", "id")
        .option("mode", "cdc").option("opCol", "op").option("seqCol", "seq")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("collides")), chain(e).mkString(" | "))
    // nothing committed: the guard fired before any version was claimed
    assert(Layout.currentVersionNumber(spark, root) == 0)
  }

  test("guards: missing path refuses; partitionBy on the stream refuses") {
    val (root, in, ckpt) = mk("guards")
    Layout.initVersionedManifest(rows((1L, "a", 1L)), root, Seq("g"))
    new java.io.File(in).mkdirs()
    rows((2L, "a", 2L)).coalesce(1).write.mode("append").parquet(in)
    val stream = StreamingOps.fileStream(spark, in, rows().schema)
    val e1 = intercept[Exception] {
      stream.writeStream.format("graft-sink")
        .option("checkpointLocation", ckpt + "1")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    assert(e1.getMessage.contains("path") ||
      e1.getCause != null && e1.getCause.getMessage.contains("path"))
    val e2 = intercept[Exception] {
      stream.writeStream.format("graft-sink").option("path", root)
        .partitionBy("g")
        .option("checkpointLocation", ckpt + "2")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    assert(e2.getMessage.contains("manifest spec") ||
      e2.getCause != null && e2.getCause.getMessage.contains("manifest spec"))
  }
}
