package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.StreamingOps

/** Structured Streaming re-expression of the reference's scheduled
  * micro-batch (dag_script.py:26): AvailableNow drains, sessionization and
  * stateful sketches. Writes into versioned roots are GraftSinkSpec's.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

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

  test("withStatefulShuffle runs the stateful stream in a child session; " +
      "the caller's conf never changes") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val dir = Files.createTempDirectory("graft_stream_child").toString
    Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "k")
      .write.mode("overwrite").parquet(dir)
    val (during, rows, stores) = StreamingOps.withStatefulShuffle(spark) { c =>
      val q = c.readStream.schema("id BIGINT, k STRING").parquet(dir)
        .groupBy("k").count()
        .writeStream.format("memory").queryName("graft_child_counts")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      (spark.conf.get(key), c.table("graft_child_counts").count(),
        q.lastProgress.stateOperators.head.numShufflePartitions)
    }
    assert(during == before, "the caller's conf changed while the body ran")
    assert(spark.conf.get(key) == before)
    assert(rows == 2L)
    // the stream ran with the right-sized partition count, and its memory
    // table lives in the child only
    assert(stores == math.max(2, before.toInt / 4))
    assert(!spark.catalog.tableExists("graft_child_counts"))
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
}
