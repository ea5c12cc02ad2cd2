package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.StreamingOps

/** Structured Streaming re-expression of the reference's scheduled
  * micro-batch (dag_script.py:26): AvailableNow drain + keyed dedup.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("file-stream dedup drains all available input exactly once") {
    val dir = Files.createTempDirectory("graft_stream").toString
    val batch = Seq(
      (1L, "2024-01-01 00:00:01", "k1", 1.0),
      (2L, "2024-01-01 00:00:02", "k1", 2.0), // dup key within stream
      (3L, "2024-01-01 00:00:03", "k2", 3.0)
    ).toDF("id", "ts", "k", "v").withColumn("ts", $"ts".cast("timestamp"))
    batch.write.mode("overwrite").parquet(dir)

    val stream = StreamingOps.fileStream(spark, dir, batch.schema)
    val deduped = StreamingOps.dedupedStream(stream, "ts", Seq("k"))
    StreamingOps.drainToMemory(deduped, "graft_dedup_out")
    val out = spark.table("graft_dedup_out")
    assert(out.count() == 2) // one row per key survives
    assert(out.select("k").as[String].collect().toSet == Set("k1", "k2"))
  }

  test("drainToParquet ≡ drainToMemory: the file sink sees the same rows") {
    // The memory sink collects results onto the DRIVER — fine for q72's
    // window-count-bounded output, fatal for unbounded results. This pins
    // the production path (parquet sink + checkpoint) to the memory sink
    // row-for-row, so pointing big-result producers at drainToParquet is a
    // sink swap, not a semantics change.
    val dir = Files.createTempDirectory("graft_stream_eq").toString
    val batch = Seq(
      (1L, "2024-01-01 00:00:01", "k1", 1.0),
      (2L, "2024-01-01 00:05:02", "k1", 2.0),
      (3L, "2024-01-01 00:10:03", "k2", 3.0),
      (4L, "2024-01-01 00:20:04", "k2", 4.0)
    ).toDF("id", "ts", "k", "v").withColumn("ts", $"ts".cast("timestamp"))
    batch.write.mode("overwrite").parquet(dir)
    def stream() = StreamingOps.fileStream(spark, dir, batch.schema)
      .filter($"v" > 1.0).withColumn("v2", $"v" * 2)
    StreamingOps.drainToMemory(stream(), "graft_eq_mem")
    val outDir = Files.createTempDirectory("graft_eq_pq").toString + "/out"
    val ckpt = Files.createTempDirectory("graft_eq_ck").toString
    StreamingOps.drainToParquet(stream(), outDir, ckpt)
    val mem = spark.table("graft_eq_mem")
      .select("id", "ts", "k", "v", "v2").as[(Long, java.sql.Timestamp, String, Double, Double)]
      .collect().toSet
    val pq = spark.read.parquet(outDir)
      .select("id", "ts", "k", "v", "v2").as[(Long, java.sql.Timestamp, String, Double, Double)]
      .collect().toSet
    assert(pq == mem)
    assert(pq.size == 3)
  }

  test("flatMapGroupsWithState sessionization closes sessions at the gap") {
    import graft.streaming.Sessionize
    import graft.streaming.Sessionize.Event
    val dir = Files.createTempDirectory("graft_sess").toString
    val min = 60L * 1000000 // a minute in micros
    Seq(
      Event(1L, 0L, 1.0), Event(1L, 10 * min, 2.0),      // session A (2 events)
      Event(1L, 120 * min, 5.0),                         // session B (open tail)
      Event(2L, 0L, 7.0)                                 // user 2 open tail
    ).toDF.write.mode("overwrite").parquet(dir)

    val stream = StreamingOps.fileStream(spark, dir,
      Seq.empty[Event].toDS.schema).as[Event]
    val sessions = Sessionize(stream, gapMicros = 30 * min)
    StreamingOps.drainToMemory(sessions.toDF, "graft_sessions_out")
    val out = spark.table("graft_sessions_out")
      .as[Sessionize.Session].collect().toSeq
    // only user 1's first session closed within the drained batch
    assert(out == Seq(Sessionize.Session(1L, 0L, 10 * min, 2, 3.0)))
  }

  test("session boundary: an event at EXACTLY the gap continues the session " +
      "(Sessionize ≡ native session_window merge of touching windows)") {
    import graft.streaming.{Sessionize, StreamingOps}
    import graft.streaming.Sessionize.Event
    val min = 60L * 1000000
    // native convention first: [0, 30) and [30, 60) touch → MERGED (1 session);
    // an event 1µs past the gap splits (2 sessions)
    def nativeSessions(micros: Seq[Long]): Long = micros
      .toDF("us").select(expr("cast(timestamp_micros(us) as timestamp_ntz)").as("ts"))
      .groupBy(session_window(col("ts"), "30 minutes")).count().count()
    assert(nativeSessions(Seq(0L, 30 * min)) == 1)
    assert(nativeSessions(Seq(0L, 30 * min + 1)) == 2)
    // Sessionize agrees: exactly-at-gap continues; past-gap closes the first
    val dir = Files.createTempDirectory("graft_gap").toString
    Seq(Event(1L, 0L, 1.0), Event(1L, 30 * min, 2.0),   // one merged session…
        Event(1L, 120 * min, 9.0))                       // …closed by this one
      .toDF.write.mode("overwrite").parquet(dir)
    val stream = StreamingOps.fileStream(spark, dir,
      Seq.empty[Event].toDS.schema).as[Event]
    val sessions = Sessionize(stream, gapMicros = 30 * min)
    StreamingOps.drainToMemory(sessions.toDF, "graft_gap_out")
    val closed = spark.table("graft_gap_out").as[Sessionize.Session].collect().toSeq
    assert(closed == Seq(Sessionize.Session(1L, 0L, 30 * min, 2, 3.0)),
      "exactly-at-gap event must continue (and extend) the first session")
  }

  test("cleanSource deletes consumed input files after their batch commits (S10)") {
    val dir = Files.createTempDirectory("graft_clean").toString
    val ckpt = Files.createTempDirectory("graft_clean_ckpt").toString
    val out = Files.createTempDirectory("graft_clean_out").toString
    def dataFiles(): Set[String] = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getName).toSet
    val batchA = Seq((1L, "a")).toDF("id", "v")
    batchA.coalesce(1).write.mode("append").parquet(dir)
    val filesA = dataFiles()
    assert(filesA.nonEmpty)
    def drainOnce(): Unit =
      StreamingOps.drainToParquet(
        StreamingOps.fileStreamCleaning(spark, dir, batchA.schema, mode = "delete"),
        out, ckpt)
    drainOnce() // batch 0 reads A; nothing cleaned yet
    Seq((2L, "b")).toDF("id", "v").coalesce(1).write.mode("append").parquet(dir)
    drainOnce() // batch 1 reads B and triggers A's cleanup
    // the cleaner thread is async — poll briefly for the deletion
    val deadline = System.currentTimeMillis() + 20000
    var remaining = dataFiles()
    while (filesA.subsetOf(remaining) && System.currentTimeMillis() < deadline) {
      Thread.sleep(250); remaining = dataFiles()
    }
    assert(filesA.intersect(remaining).isEmpty,
      s"consumed batch-0 files must be deleted, still present: $remaining")
    // and the stream wrote every row exactly once across the two drains
    assert(spark.read.parquet(out).count() == 2)
  }

  test("streamMergeVersioned: micro-batches upsert the versioned layout by key") {
    import graft.sources.Layout
    val inDir = Files.createTempDirectory("graft_smv_in").toString
    val root = Files.createTempDirectory("graft_smv_root").toString
    val ckpt = Files.createTempDirectory("graft_smv_ckpt").toString
    def rows(rs: (Long, String, Double)*) = rs.toDF("id", "part", "v")
    Layout.initVersionedManifest(
      rows((1L, "p1", 10.0), (2L, "p1", 20.0), (3L, "p2", 30.0)), root, Seq("part"))

    // drain 1: update id=2, insert id=4 (touches p1 only)
    rows((2L, "p1", 99.0), (4L, "p1", 40.0))
      .write.mode("append").parquet(inDir)
    val schema = rows((0L, "", 0.0)).schema
    StreamingOps.streamMergeVersioned(
      StreamingOps.fileStream(spark, inDir, schema), root, Seq("id"), "part", ckpt)
    def state() = Layout.readCurrent(spark, root)
      .select("id", "part", "v").as[(Long, String, Double)].collect().toSet
    assert(state() == Set((1L, "p1", 10.0), (2L, "p1", 99.0), (4L, "p1", 40.0),
      (3L, "p2", 30.0)))

    // drain 2 RESUMES the same checkpoint: only the new file is merged
    rows((3L, "p2", 77.0), (5L, "p3", 50.0))
      .write.mode("append").parquet(inDir)
    StreamingOps.streamMergeVersioned(
      StreamingOps.fileStream(spark, inDir, schema), root, Seq("id"), "part", ckpt)
    assert(state() == Set((1L, "p1", 10.0), (2L, "p1", 99.0), (4L, "p1", 40.0),
      (3L, "p2", 77.0), (5L, "p3", 50.0)))
    // pre-stream snapshot still readable (time travel across stream batches)
    assert(Layout.readVersion(spark, root, 0).count() == 3)
  }

  test("streamMergeVersioned auto-detects a MANIFEST root (r10)") {
    import graft.sources.{Layout, ManifestIndex}
    val inDir = Files.createTempDirectory("graft_smv_min").toString
    val root = Files.createTempDirectory("graft_smv_mroot").toString
    val ckpt = Files.createTempDirectory("graft_smv_mckpt").toString
    def rows(rs: (Long, String, Double)*) = rs.toDF("id", "part", "v")
    Layout.initVersionedManifest(
      rows((1L, "p1", 10.0), (3L, "p2", 30.0)), root, Seq("part"))
    rows((2L, "p1", 99.0)).write.mode("append").parquet(inDir)
    val schema = rows((0L, "", 0.0)).schema
    StreamingOps.streamMergeVersioned(
      StreamingOps.fileStream(spark, inDir, schema), root, Seq("id"), "part", ckpt)
    assert(Layout.readCurrent(spark, root)
      .select("id", "part", "v").as[(Long, String, Double)].collect().toSet ==
      Set((1L, "p1", 10.0), (2L, "p1", 99.0), (3L, "p2", 30.0)))
    // the batch's commit carried p2 as a manifest entry
    val m = ManifestIndex.read(spark, root, "v00001")
    assert(m.byLeaf("part=p2").forall(_.path.startsWith("v00000/")))
    assert(m.byLeaf("part=p1").forall(_.path.startsWith("v00001/")))
  }

  test("streamUpsertRows: CDC apply via deletion vectors, resume across drains (r10)") {
    import graft.sources.{Layout, ManifestIndex}
    val inDir = Files.createTempDirectory("graft_sur_in").toString
    val root = Files.createTempDirectory("graft_sur_root").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_sur_ckpt").toString
    def rows(rs: (Long, String, Double)*) = rs.toDF("id", "part", "v")
    Layout.initVersionedManifest(
      rows((1L, "p1", 10.0), (2L, "p1", 20.0), (3L, "p2", 30.0)),
      root, Seq("part"))
    val before = ManifestIndex.read(spark, root, "v00000")
      .entries.map(e => (e.path, e.size)).toSet
    val schema = rows((0L, "", 0.0)).schema

    // drain 1: replace id=2, insert id=4
    rows((2L, "p1", 99.0), (4L, "p3", 40.0)).write.mode("append").parquet(inDir)
    StreamingOps.streamUpsertRows(
      StreamingOps.fileStream(spark, inDir, schema), root, Seq("id"), ckpt)
    def state() = Layout.readCurrent(spark, root)
      .select("id", "part", "v").as[(Long, String, Double)].collect().toSet
    assert(state() == Set((1L, "p1", 10.0), (2L, "p1", 99.0),
      (3L, "p2", 30.0), (4L, "p3", 40.0)))
    // merge-on-read: surviving init files are byte-identical (DV'd or
    // untouched, never rewritten) — id=2's single-row file became fully
    // deleted and correctly DROPPED from the inventory — and the batch
    // arrived as appended files
    val m1 = ManifestIndex.read(spark, root, "v00001")
    val carried = m1.entries.filter(_.path.startsWith("v00000/"))
      .map(e => (e.path, e.size)).toSet
    assert(carried.subsetOf(before) && carried.nonEmpty)
    assert(m1.entries.exists(_.path.startsWith("v00001/")), "appended images")

    // drain 2 resumes the checkpoint: only the new file applies — and it
    // DVs the image drain 1 appended (vector-on-appended-sliver path)
    rows((4L, "p3", 44.0), (5L, "p2", 50.0)).write.mode("append").parquet(inDir)
    StreamingOps.streamUpsertRows(
      StreamingOps.fileStream(spark, inDir, schema), root, Seq("id"), ckpt)
    assert(state() == Set((1L, "p1", 10.0), (2L, "p1", 99.0),
      (3L, "p2", 30.0), (4L, "p3", 44.0), (5L, "p2", 50.0)))
    // time travel across stream batches still works
    assert(Layout.readVersion(spark, root, 0).count() == 3L)
  }

  test("streamApplyCdcRows: op-coded CDC with in-batch chains and deletes (r10)") {
    import graft.sources.Layout
    val inDir = Files.createTempDirectory("graft_cdc_in").toString
    val root = Files.createTempDirectory("graft_cdc_root").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_cdc_ckpt").toString
    def base(rs: (Long, String, Double)*) = rs.toDF("id", "part", "v")
    def cdc(rs: (Long, String, Double, String, Long)*) =
      rs.toDF("id", "part", "v", "op", "seq")
    Layout.initVersionedManifest(
      base((1L, "p1", 10.0), (2L, "p1", 20.0), (3L, "p2", 30.0)),
      root, Seq("part"))
    val schema = cdc((0L, "", 0.0, "", 0L)).schema
    def state() = Layout.readCurrent(spark, root)
      .select("id", "part", "v").as[(Long, String, Double)].collect().toSet

    // drain 1: delete id=1; id=4 inserts then updates IN the same batch
    // (keep-last by seq); delete of missing id=9 tolerated
    cdc((1L, "p1", 10.0, "D", 1L), (4L, "p3", 40.0, "U", 2L),
      (4L, "p3", 44.0, "U", 3L), (9L, "p2", 0.0, "D", 4L))
      .write.mode("append").parquet(inDir)
    StreamingOps.streamApplyCdcRows(
      StreamingOps.fileStream(spark, inDir, schema), root, Seq("id"),
      "op", "seq", ckpt)
    assert(state() == Set((2L, "p1", 20.0), (3L, "p2", 30.0),
      (4L, "p3", 44.0)))

    // drain 2 resumes: update id=2, then a later delete for it in the same
    // batch wins (chain compaction); insert id=5
    cdc((2L, "p1", 99.0, "U", 5L), (2L, "p1", 99.0, "D", 6L),
      (5L, "p2", 50.0, "U", 7L))
      .write.mode("append").parquet(inDir)
    StreamingOps.streamApplyCdcRows(
      StreamingOps.fileStream(spark, inDir, schema), root, Seq("id"),
      "op", "seq", ckpt)
    assert(state() == Set((3L, "p2", 30.0), (4L, "p3", 44.0),
      (5L, "p2", 50.0)))
    // drain 3: an upstream PARTITION MOVE (id=4 p3 -> p1) must move the
    // row, not silently keep the old leaf's value
    cdc((4L, "p1", 45.0, "U", 8L)).write.mode("append").parquet(inDir)
    StreamingOps.streamApplyCdcRows(
      StreamingOps.fileStream(spark, inDir, schema), root, Seq("id"),
      "op", "seq", ckpt)
    assert(state() == Set((3L, "p2", 30.0), (4L, "p1", 45.0),
      (5L, "p2", 50.0)))
    // idempotent commits: the manifest txn watermark advanced per batch
    assert(Layout.readVersion(spark, root, 0).count() == 3L) // time travel
  }

  test("materialized view FOLLOWS a streamed table across checkpoint-resumed drains (r10)") {
    import graft.sources.Layout
    import graft.ops.Incremental
    val inDir = Files.createTempDirectory("graft_smvv_in").toString
    val root = Files.createTempDirectory("graft_smvv_root").toString
    val ckpt = Files.createTempDirectory("graft_smvv_ckpt").toString
    val viewRoot = Files.createTempDirectory("graft_smvv_view").toString + "/view"
    def rows(rs: (Long, String, Long)*) = rs.toDF("id", "part", "v")
    Layout.initVersionedManifest(
      rows((1L, "p1", 10L), (2L, "p1", 20L), (3L, "p2", 30L)), root, Seq("part"))
    Incremental.initFollowingView(spark, root, viewRoot, Seq("part"), Seq("v"))
    def view() = Layout.readCurrent(spark, viewRoot)
      .select($"part", $"n_rows", $"sum_v".cast("long"))
      .as[(String, Long, Long)].collect().toSet
    assert(view() == Set(("p1", 2L, 30L), ("p2", 1L, 30L)))

    val schema = rows((0L, "", 0L)).schema
    // drain 1: update id=2 (+79 in p1), insert id=4 in p3
    rows((2L, "p1", 99L), (4L, "p3", 40L)).write.mode("append").parquet(inDir)
    StreamingOps.streamMergeVersionedWithView(
      StreamingOps.fileStream(spark, inDir, schema), root, Seq("id"), "part",
      ckpt, viewRoot, Seq("part"), Seq("v"))
    assert(view() == Set(("p1", 2L, 109L), ("p2", 1L, 30L), ("p3", 1L, 40L)))

    // drain 2 RESUMES the same checkpoint: only the new file merges, and
    // the view advances by exactly that version range
    rows((3L, "p2", 77L)).write.mode("append").parquet(inDir)
    StreamingOps.streamMergeVersionedWithView(
      StreamingOps.fileStream(spark, inDir, schema), root, Seq("id"), "part",
      ckpt, viewRoot, Seq("part"), Seq("v"))
    assert(view() == Set(("p1", 2L, 109L), ("p2", 1L, 77L), ("p3", 1L, 40L)))

    // a stray re-refresh (replayed maintenance) no-ops on the watermark
    val (from, to) = Incremental.refreshFollowingView(
      spark, root, viewRoot, Seq("id"), Seq("part"), Seq("v"))
    assert(from == to)
    // and the view still equals a full recompute of the live table
    assert(view() == Incremental.materialize(
      Layout.readCurrent(spark, root), Seq("part"), Seq("v"))
      .select($"part", $"n_rows", $"sum_v".cast("long"))
      .as[(String, Long, Long)].collect().toSet)

    // retention loss: advance the table twice more, vacuum past the
    // watermark — refresh must fall back to a full rebuild, not fail
    Layout.mergeVersionedPartitioned(spark, root,
      rows((9L, "p1", 1L)), Seq("id"), "part")
    Layout.mergeVersionedPartitioned(spark, root,
      rows((9L, "p1", 2L)), Seq("id"), "part")
    Layout.vacuumVersions(spark, root, keep = 1)
    val (from2, to2) = Incremental.refreshFollowingView(
      spark, root, viewRoot, Seq("id"), Seq("part"), Seq("v"))
    assert(to2 > from2)
    assert(view() == Incremental.materialize(
      Layout.readCurrent(spark, root), Seq("part"), Seq("v"))
      .select($"part", $"n_rows", $"sum_v".cast("long"))
      .as[(String, Long, Long)].collect().toSet)
  }

  test("join view FOLLOWS a streamed fact table and a batch-merged dim (r10)") {
    import graft.sources.Layout
    import graft.ops.Incremental
    val inDir = Files.createTempDirectory("graft_sjv_in").toString
    val tmp = Files.createTempDirectory("graft_sjv").toString
    val (fRoot, dRoot, vRoot) = (s"$tmp/f", s"$tmp/d", s"$tmp/v")
    val ckpt = s"$tmp/ckpt"
    def facts(rs: (Long, Long, Double)*) = rs.toDF("id", "ck", "fv")
    def dims(rs: (Long, String, String)*) = rs.toDF("ck", "seg", "g")
    Layout.initVersionedManifest(
      facts((1L, 1L, 10.0), (2L, 2L, 20.0)), fRoot, Seq("ck"))
    Layout.initVersionedManifest(
      dims((1L, "a", "g1"), (2L, "b", "g1"), (3L, "c", "g2")), dRoot, Seq("g"))
    Incremental.initFollowingJoinView(spark, fRoot, dRoot, vRoot, Seq("ck"))
    val schema = facts((0L, 0L, 0.0)).schema
    def viewState() = Layout.readCurrent(spark, vRoot)
      .select($"ck", $"id", $"fv", $"seg").as[(Long, Long, Double, String)]
      .collect().toSet
    def expect() = Incremental.materializeJoin(
        Layout.readCurrent(spark, fRoot), Layout.readCurrent(spark, dRoot),
        Seq("ck"))
      .select($"ck", $"id", $"fv", $"seg").as[(Long, Long, Double, String)]
      .collect().toSet

    // drain 1: replace fact 2, insert fact 3 under dim ck=3
    facts((2L, 2L, 99.0), (3L, 3L, 30.0)).write.mode("append").parquet(inDir)
    StreamingOps.streamUpsertRowsWithJoinView(
      StreamingOps.fileStream(spark, inDir, schema), fRoot, Seq("id"), ckpt,
      dRoot, vRoot, Seq("ck"), Seq("ck"))
    assert(viewState() == expect())
    assert(viewState().map(_._2) == Set(1L, 2L, 3L))

    // a BATCH dim merge lands between triggers (seg of ck=1 changes) —
    // the next drain's refresh must fold it in, affected-key pruned
    Layout.mergeVersionedPartitioned(spark, dRoot,
      dims((1L, "z", "g1")), Seq("ck"), "g")
    facts((4L, 1L, 40.0)).write.mode("append").parquet(inDir)
    StreamingOps.streamUpsertRowsWithJoinView(
      StreamingOps.fileStream(spark, inDir, schema), fRoot, Seq("id"), ckpt,
      dRoot, vRoot, Seq("ck"), Seq("ck"))
    assert(viewState() == expect())
    assert(viewState().collect { case (1L, _, _, seg) => seg } == Set("z"))
  }

  test("windowed aggregate over a drained stream") {
    val dir = Files.createTempDirectory("graft_stream2").toString
    val batch = Seq(
      (1L, "2024-01-01 00:00:30", "click", 1.0),
      (2L, "2024-01-01 00:01:30", "click", 2.0),
      (3L, "2024-01-01 00:00:45", "view", 3.0)
    ).toDF("id", "ts", "event_type", "value")
      .withColumn("ts", $"ts".cast("timestamp"))
    batch.write.mode("overwrite").parquet(dir)

    val stream = StreamingOps.fileStream(spark, dir, batch.schema)
    val agg = StreamingOps.windowedCounts(stream, "ts", "1 minute")
    StreamingOps.drainToMemory(agg, "graft_window_out")
    // append mode emits only closed windows; with a 1h watermark over a
    // finite batch nothing closes — completeness is asserted via state, so
    // here we only require the query to run and the schema to be correct.
    val out = spark.table("graft_window_out")
    assert(out.columns.contains("window") && out.columns.contains("n"))
  }

  test("streaming heavy hitters: mg_topk keeps bounded state across micro-batches") {
    import graft.functions.expressions.MisraGries
    val dir = Files.createTempDirectory("graft_smg").toString
    // 300 hot rows / 100 tail rows spread over 3 files → 3 micro-batches
    // with maxFilesPerTrigger=1, so the sketch must MERGE across batch
    // boundaries through the state store
    (0 until 3).foreach { b =>
      (0 until 100).map(i =>
        (b * 1000 + i, if (i % 4 != 0) "hot" else s"tail-$b-$i"))
        .toDF("id", "x").repartition(1)
        .write.mode("append").parquet(dir)
    }
    val schema = Seq((0, "")).toDF("id", "x").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .groupBy().agg(MisraGries.mgTopK(col("x"), 5).as("sk"))
    val q = stream.writeStream.format("memory").queryName("graft_mg_out")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 3, "expected one progress per file batch")
    val est = spark.table("graft_mg_out")
      .select(explode(col("sk")).as("e"))
      .select(col("e.item"), col("e.est_cnt")).as[(String, Long)]
      .collect().toMap
    // n=300, cap=5 → every estimate within n/(cap+1)=50 of truth (225 hot)
    assert(est.contains("hot"), s"hot item lost across batches: $est")
    assert(est("hot") <= 225 && est("hot") >= 175, s"hot estimate ${est("hot")}")
  }

  test("stream-stream interval join matches only rows inside the time bound") {
    val ldir = Files.createTempDirectory("graft_ssl").toString
    val rdir = Files.createTempDirectory("graft_ssr").toString
    val orders = Seq(
      (10L, "k1", "2024-01-01 00:00:00"),
      (11L, "k2", "2024-01-01 00:05:00")
    ).toDF("order_id", "ok", "ots").withColumn("ots", $"ots".cast("timestamp"))
    val clicks = Seq(
      (100L, "k1", "2024-01-01 00:00:30"), // within 1 min of order 10
      (101L, "k1", "2024-01-01 00:03:00"), // same key, too late
      (102L, "k2", "2024-01-01 00:04:00"), // before the order — excluded
      (103L, "k3", "2024-01-01 00:00:10")  // no matching key
    ).toDF("click_id", "ck", "cts").withColumn("cts", $"cts".cast("timestamp"))
    orders.write.mode("overwrite").parquet(ldir)
    clicks.write.mode("overwrite").parquet(rdir)

    val joined = StreamingOps.intervalJoin(
      StreamingOps.fileStream(spark, ldir, orders.schema),
      StreamingOps.fileStream(spark, rdir, clicks.schema),
      leftKey = "ok", leftTs = "ots", rightKey = "ck", rightTs = "cts",
      within = "1 minute", watermark = "10 minutes")
    StreamingOps.drainToMemory(joined, "graft_ssjoin_out")
    val out = spark.table("graft_ssjoin_out")
      .select("order_id", "click_id").as[(Long, Long)].collect().toSet
    assert(out == Set((10L, 100L)))
  }

  test("streamDriftMonitor over the change source: a planted shift alarms " +
      "once, no-drift batches stay quiet, checkpoint resume never " +
      "double-alerts (r16)") {
    import graft.sources.Layout
    import graft.ops.Drift
    val root = Files.createTempDirectory("graft_drift_tbl").toString + "/t"
    val alertRoot = Files.createTempDirectory("graft_drift_al").toString + "/a"
    val ckpt = Files.createTempDirectory("graft_drift_ck").toString
    def rows(ids: Range, k: String, v: Int => Long) =
      ids.map(i => (i.toLong, k, v(i))).toDF("id", "k", "v")
    // reference: uniform 0..49 per key — histogram precomputed ONCE
    val ref = rows(0 until 200, "a", i => (i % 50).toLong)
      .unionByName(rows(200 until 400, "b", i => (i % 50).toLong))
    val refHist = graft.util.Caches.cache(
      Drift.referenceHistogram(ref, Seq("k"), "v", bins = 10)).toDF
    // monitored table starts as a ref-shaped snapshot
    Layout.initVersionedManifest(
      rows(0 until 100, "a", i => (i % 50).toLong)
        .unionByName(rows(100 until 200, "b", i => (i % 50).toLong)),
      root, Seq("k"))
    def monitor() = StreamingOps.streamDriftMonitor(
      StreamingOps.readChangeStream(spark, root, Seq("id")),
      refHist, Seq("k"), "v", alarmNanos = 250000000L,
      alertRoot = alertRoot, checkpoint = ckpt)
    def alerts() = Layout.readCurrent(spark, alertRoot)
      .select($"k", $"batch_id", $"psi_nano").as[(String, Long, Long)]
      .collect().toSet
    // drain 1: the snapshot batch matches the reference — quiet
    monitor()
    assert(alerts().isEmpty, s"snapshot must not alarm: ${alerts()}")
    // planted shift: key 'a' jumps to 90..99 (clamps into the top bin)
    Layout.mergeVersionedPartitioned(spark, root,
      rows(1000 until 1100, "a", i => 90L + i % 10), Seq("id"), "k")
    monitor()
    val afterShift = alerts()
    assert(afterShift.map(_._1) == Set("a"),
      s"exactly the shifted key alarms: $afterShift")
    assert(afterShift.forall(_._3 >= 250000000L))
    // no-drift follow-up: key 'b' gets more uniform values — quiet
    Layout.mergeVersionedPartitioned(spark, root,
      rows(2000 until 2100, "b", i => (i % 50).toLong), Seq("id"), "k")
    monitor()
    assert(alerts() == afterShift, "a uniform batch must not alarm")
    // resume with nothing new: no duplicate alerts
    monitor()
    assert(alerts() == afterShift)
    graft.util.Caches.releaseAll()
  }

  test("streamDriftMonitorJs: a category-mix shift alarms once, " +
      "matching-mix batches stay quiet (r16)") {
    import graft.sources.Layout
    import graft.ops.Drift
    val root = Files.createTempDirectory("graft_jsd_tbl").toString + "/t"
    val alertRoot = Files.createTempDirectory("graft_jsd_al").toString + "/a"
    val ckpt = Files.createTempDirectory("graft_jsd_ck").toString
    def rows(ids: Range, cat: Int => String) =
      ids.map(i => (i.toLong, "k", cat(i))).toDF("id", "k", "cat")
    // reference mix: four categories evenly
    val ref = rows(0 until 200, i => s"c${i % 4}")
    val refCats = graft.util.Caches.cache(
      Drift.referenceCategories(ref, Seq("k"), "cat")).toDF
    Layout.initVersionedManifest(
      rows(0 until 100, i => s"c${i % 4}"), root, Seq("k"))
    def monitor() = StreamingOps.streamDriftMonitorJs(
      StreamingOps.readChangeStream(spark, root, Seq("id")),
      refCats, Seq("k"), "cat", alarmNanos = 100000000L,
      alertRoot = alertRoot, checkpoint = ckpt)
    def alerts() = Layout.readCurrent(spark, alertRoot)
      .select($"k", $"batch_id", $"jsd_nano").as[(String, Long, Long)]
      .collect().toSet
    monitor()
    assert(alerts().isEmpty, "matching mix must not alarm")
    // shift: a batch entirely of one NEW category
    Layout.mergeVersionedPartitioned(spark, root,
      rows(1000 until 1100, _ => "c9"), Seq("id"), "k")
    monitor()
    val after = alerts()
    assert(after.size == 1 && after.head._3 >= 100000000L, s"$after")
    // back to the reference mix: quiet again
    Layout.mergeVersionedPartitioned(spark, root,
      rows(2000 until 2100, i => s"c${i % 4}"), Seq("id"), "k")
    monitor()
    assert(alerts() == after)
    graft.util.Caches.releaseAll()
  }

  test("a drift monitor re-initializes an alert root that a failed first " +
      "init left with only its format marker, and the alerts land") {
    import graft.sources.{Layout, ManifestIndex}
    import graft.ops.Drift
    val root = Files.createTempDirectory("graft_mk_tbl").toString + "/t"
    val alertRoot = Files.createTempDirectory("graft_mk_al").toString + "/a"
    val ckpt = Files.createTempDirectory("graft_mk_ck").toString
    def rows(ids: Range, cat: Int => String) =
      ids.map(i => (i.toLong, "k", cat(i))).toDF("id", "k", "cat")
    val refCats = graft.util.Caches.cache(Drift.referenceCategories(
      rows(0 until 200, i => s"c${i % 4}"), Seq("k"), "cat")).toDF
    // the monitored snapshot is one NEW category: its first batch alarms
    Layout.initVersionedManifest(rows(0 until 100, _ => "c9"), root, Seq("k"))
    // an alert-root init that died after writing its marker, before its
    // pointer flip
    ManifestIndex.writeFormatMarker(spark, alertRoot)
    assert(!Layout.isVersionedRoot(spark, alertRoot))
    StreamingOps.streamDriftMonitorJs(
      StreamingOps.readChangeStream(spark, root, Seq("id")),
      refCats, Seq("k"), "cat", alarmNanos = 100000000L,
      alertRoot = alertRoot, checkpoint = ckpt)
    val alerts = Layout.readCurrent(spark, alertRoot)
      .select($"k", $"jsd_nano").as[(String, Long)].collect().toSeq
    assert(alerts.size == 1 && alerts.head._1 == "k" &&
      alerts.head._2 >= 100000000L, s"$alerts")
    graft.util.Caches.releaseAll()
  }

  test("streamOovMonitor: a batch of out-of-vocabulary text alarms per " +
      "key with the exact unk share, in-vocab batches stay quiet, " +
      "replay never double-alerts (r18)") {
    import graft.sources.Layout
    import graft.ops.Bpe
    val root = Files.createTempDirectory("graft_oov_tbl").toString + "/t"
    val alertRoot = Files.createTempDirectory("graft_oov_al").toString + "/a"
    val ckpt = Files.createTempDirectory("graft_oov_ck").toString
    // pinned tokenizer: merges + vocabulary trained on the 'low' corpus
    // — vocabulary {e, low, r} (chars q/z/a/t never seen)
    val train = Seq((1L, "low low lower")).toDF("doc_id", "text")
    val merges = Seq(("l", "o"), ("lo", "w"))
    val vocab = graft.util.Caches.cache(
      Bpe.corpusVocab(train, "text", merges)).toDF
    def rows(ids: Range, k: String, text: String) =
      ids.map(i => (i.toLong, k, text)).toDF("doc_id", "k", "text")
    Layout.initVersionedManifest(
      rows(0 until 4, "a", "low lower"), root, Seq("k"))
    def monitor() = StreamingOps.streamOovMonitor(
      StreamingOps.readChangeStream(spark, root, Seq("doc_id")),
      "doc_id", "text", merges, vocab, keys = Seq("k"),
      alarmMicro = 500000L, alertRoot = alertRoot, checkpoint = ckpt)
    def alerts() = Layout.readCurrent(spark, alertRoot)
      .select($"k", $"batch_id", $"n_ids", $"n_oov", $"oov_micro")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    // snapshot batch is fully in-vocab — quiet
    monitor()
    assert(alerts().isEmpty, s"in-vocab snapshot must not alarm: ${alerts()}")
    // planted drift on key 'b': "qat zzz" → q,a,t,z,z,z all unk; key 'a'
    // stays in-vocab in the same batch and must NOT alert
    Layout.mergeVersionedPartitioned(spark, root,
      rows(100 until 102, "b", "qat zzz low")
        .unionByName(rows(200 until 202, "a", "low low")),
      Seq("doc_id"), "k")
    monitor()
    val after = alerts()
    // per doc "qat zzz low": ids q,a,t,z,z,z,low = 7, unk 6; two docs →
    // n_ids 14, n_oov 12, 857143 micro
    assert(after.map(t => (t._1, t._3, t._4, t._5)) ==
      Set(("b", 14L, 12L, 857143L)), s"exactly key b alarms: $after")
    // an in-vocab follow-up batch: quiet
    Layout.mergeVersionedPartitioned(spark, root,
      rows(300 until 302, "b", "lower low"), Seq("doc_id"), "k")
    monitor()
    assert(alerts() == after, "an in-vocab batch must not alarm")
    // replay with nothing new: no duplicate alerts
    monitor()
    assert(alerts() == after)
    graft.util.Caches.releaseAll()
  }
}
