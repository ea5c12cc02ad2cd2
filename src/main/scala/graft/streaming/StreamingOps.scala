package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming re-expression of the reference's incremental
  * micro-batch pattern (Airflow cron '0 6,12,18 * * *' plus a
  * staging-table anti-join; the reference's `dag_script.py:26` and
  * `loading.py:141-176`).
  *
  * `Trigger.AvailableNow` reproduces batch-per-schedule semantics exactly:
  * each invocation drains all new files then stops, and the checkpoint plays
  * the role of the reference's flag file (`extraction.py:126-127`) — but
  * transactionally.
  *
  * One write path, one follow path: every streaming write into a versioned
  * root goes through `writeStream.format("graft-sink")`
  * ([[GraftSinkProvider]]: append, keyed upsert, op-coded CDC apply,
  * complete-mode replace), and a view follows a table by draining
  * [[readChangeStream]] and folding the feed with
  * [[graft.ops.Incremental.applyFeed]] (q166's shape).
  */
object StreamingOps {

  /** File-source stream of parquet dropped into `dir`, schema-pinned. */
  def fileStream(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Stream a VERSIONED ROOT as change feeds — the lakehouse-as-stream
    * read side; see [[GraftChangeSource]] for the full contract (offsets =
    * versions, snapshot-then-follow vs `startingVersion`, pinned schema,
    * retention). Drain it ([[drainToParquet]]) and fold the feed with
    * [[graft.ops.Incremental.applyFeed]] for streaming view maintenance,
    * or write it into another versioned root through `graft-sink`.
    */
  def readChangeStream(spark: SparkSession, root: String, keys: Seq[String],
                       startingVersion: Option[Int] = None,
                       includeVersion: Boolean = false): DataFrame = {
    val r0 = spark.readStream.format("graft-changes")
      .option("path", root).option("keys", keys.mkString(","))
      .option("includeVersion", includeVersion.toString)
    startingVersion.fold(r0)(v => r0.option("startingVersion", v.toString)).load()
  }

  /** Run `body` with `spark.sql.shuffle.partitions` right-sized for a
    * STATEFUL micro-batch and restore the previous value after. A
    * stateful streaming aggregate opens one state-store instance per
    * shuffle partition per batch, so a cluster-wide partition count
    * (sized for batch table scans) buys store open/commit overhead
    * instead of parallelism at micro-batch grain — the r18 driver
    * measured the 8-core bench BEATING the 32-core one on the tumbling
    * aggregate (scaling ratio 0.57). `max(2, partitions/4)` keys the
    * store count to the session's own scale — each core count the
    * driver benches derives its own value, never a local constant
    * (guide §2.2: fewer, larger partitions when per-partition fixed
    * costs dominate).
    */
  def withStatefulShuffle[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, math.max(2, prev.toInt / 4).toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Run a streaming DataFrame to a memory sink, draining everything
    * available, then stop — the AvailableNow micro-batch harness used by
    * tests.
    */
  def drainToMemory(df: DataFrame, name: String): StreamingQuery = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  /** Drain to a parquet FILE sink with an explicit checkpoint, so successive
    * drains RESUME the same stream (each drain = one scheduled micro-batch
    * of the reference's cron model; the memory sink cannot recover from a
    * checkpoint, a file sink can — and this is the production shape anyway).
    */
  def drainToParquet(df: DataFrame, outDir: String,
                     checkpoint: String): StreamingQuery = {
    val q = df.writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }
}
