package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming re-expression of the reference's incremental
  * micro-batch pattern (Airflow cron '0 6,12,18 * * *' +
  * staging-table anti-join, /root/reference/dag_script.py:26 +
  * /root/reference/loading.py:141-176).
  *
  * `Trigger.AvailableNow` reproduces batch-per-schedule semantics exactly:
  * each invocation drains all new files then stops, and the checkpoint plays
  * the role of the reference's flag file (extraction.py:126-127) — but
  * transactionally. Dedup moves from a PG anti-join to streaming
  * `dropDuplicatesWithinWatermark` state.
  */
object StreamingOps {

  /** File-source stream of parquet dropped into `dir`, schema-pinned. */
  def fileStream(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Stream a VERSIONED ROOT as change feeds — the lakehouse-as-stream
    * read side; see [[GraftChangeSource]] for the full contract (offsets =
    * versions, snapshot-then-follow vs `startingVersion`, pinned schema,
    * retention). Compose with `foreachBatch` +
    * [[graft.ops.Incremental.applyFeed]] for end-to-end streaming view
    * maintenance, or any stock streaming sink.
    */
  def readChangeStream(spark: SparkSession, root: String, keys: Seq[String],
                       startingVersion: Option[Int] = None,
                       includeVersion: Boolean = false): DataFrame = {
    val r0 = spark.readStream.format("graft-changes")
      .option("path", root).option("keys", keys.mkString(","))
      .option("includeVersion", includeVersion.toString)
    startingVersion.fold(r0)(v => r0.option("startingVersion", v.toString)).load()
  }

  /** File-source stream that CLEANS consumed input files (S10 — the
    * reference's consumed-flag-file deletion, extraction.py:126-127, made
    * transactional): `mode` = "delete" or "archive" (+ `archiveDir`).
    * Spark removes a file only AFTER the micro-batch that read it commits,
    * during a later batch's planning, on an async cleaner thread — so a
    * crash between read and commit never loses input, unlike the
    * reference's delete-then-hope flag file.
    */
  def fileStreamCleaning(spark: SparkSession, dir: String, schema: StructType,
                         mode: String = "delete",
                         archiveDir: Option[String] = None): DataFrame = {
    val reader = spark.readStream.schema(schema).option("cleanSource", mode)
    archiveDir.fold(reader)(d => reader.option("sourceArchiveDir", d)).parquet(dir)
  }

  /** Keyed dedup over a watermarked stream — late duplicates beyond the
    * watermark age out of state (bounded memory at 100 TB/day rates, unlike
    * a global dropDuplicates whose state grows forever).
    */
  def dedupedStream(events: DataFrame, tsCol: String, keys: Seq[String],
                    watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Tumbling-window aggregate with watermarking. */
  def windowedCounts(events: DataFrame, tsCol: String, width: String,
                     watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))

  /** Watermarked stream-stream INNER join on a key with a time-bound
    * (interval) condition: a right row matches a left row when it lands in
    * `[left.ts, left.ts + within]`. Both sides are watermarked — together
    * with the interval bound this lets Spark age join state out instead of
    * buffering both streams forever, the only shape that survives
    * 100 TB/day (an unbounded stream-stream join keeps every row in state).
    *
    * Column names must be disjoint apart from the join key semantics: pass
    * pre-renamed frames with (`leftKey`,`leftTs`) / (`rightKey`,`rightTs`).
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftKey: String, leftTs: String,
                   rightKey: String, rightTs: String,
                   within: String, watermark: String = "1 hour"): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        col(leftKey) === col(rightKey) &&
          col(rightTs) >= col(leftTs) &&
          col(rightTs) <= col(leftTs) + expr(s"INTERVAL $within"))

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

  /** STREAMING DRIFT MONITOR — the production shape of the reference's
    * ingest-then-validate loop (`transformation.py:52`'s emptiness check,
    * grown into a distribution test): every micro-batch of `stream`
    * (typically [[readChangeStream]] over the ingested table) scores its
    * per-key PSI against a PRECOMPUTED reference histogram
    * ([[graft.ops.Drift.referenceHistogram]] — the reference corpus is
    * scanned once at setup, never per batch), and keys whose PSI reaches
    * `alarmNanos` land as ALERT ROWS in a versioned manifest table.
    * Quiet batches (no key at threshold) append NOTHING — the alert
    * table is a true exception feed, not a readout log.
    *
    * Change-feed inputs score their POST-images only (`insert` +
    * `update_post` rows — a delete or pre-image is not new data drifting
    * in); plain streams score every row.
    *
    * Delivery: alerts append under the manifest TXN watermark keyed by
    * (checkpoint, batchId) — a batch replayed after a crash between
    * table commit and checkpoint commit no-ops instead of double-alerting
    * (exactly-once alerts over at-least-once delivery), and OCC
    * commit-retry rides out concurrent maintenance on the alert table.
    * The alert root self-initializes (empty v0, partitioned by batch_id)
    * so downstream readers/streams can attach before the first alarm.
    *
    * Scale shape: per batch, the work is the batch's own bin counts
    * (one aggregate at batch grain) joined against the broadcast-sized
    * histogram — `|keys| × bins` algebra; the reference corpus and the
    * monitored table never re-scan.
    *
    * @param refHist [[graft.ops.Drift.referenceHistogram]] output —
    *                persist/cache it; it is read every micro-batch
    * @param alarmNanos PSI threshold in 1e-9 units (industry rule of
    *                thumb: 0.25 ≈ 250000000L = action)
    * @return the drained query (AvailableNow — invoke per schedule)
    */
  def streamDriftMonitor(stream: DataFrame, refHist: DataFrame,
                         keys: Seq[String], valueCol: String,
                         alarmNanos: Long, alertRoot: String,
                         checkpoint: String, bins: Int = 10): StreamingQuery =
    monitorLoop(stream, alertRoot, checkpoint,
      emptyAlerts = refHist.select(keys.map(col): _*).limit(0)
        .withColumn("n_ref", lit(0L)).withColumn("n_cur", lit(0L))
        .withColumn("psi_nano", lit(0L)),
      score = batch => graft.ops.Drift
        .psiAgainstReference(refHist, batch, keys, valueCol, bins)
        .filter(col("psi_nano") >= alarmNanos))

  /** [[streamDriftMonitor]]'s CATEGORICAL mode: per-micro-batch
    * Jensen–Shannon divergence of a category column against a stored
    * [[graft.ops.Drift.referenceCategories]] table (language mix, source
    * mix, label mix — the shape PSI's numeric bins can't ask about).
    * Same delivery contract — ONE loop implementation serves both modes
    * ([[monitorLoop]]), so a delivery fix can never land on one monitor
    * and not the other. `alarmNanos` is JSD in 1e-9 nats (ln 2 ≈
    * 6.93e8 is the maximum).
    */
  def streamDriftMonitorJs(stream: DataFrame, refCats: DataFrame,
                           keys: Seq[String], catCol: String,
                           alarmNanos: Long, alertRoot: String,
                           checkpoint: String): StreamingQuery =
    monitorLoop(stream, alertRoot, checkpoint,
      emptyAlerts = refCats.select(keys.map(col): _*).limit(0)
        .withColumn("n_ref", lit(0L)).withColumn("n_cur", lit(0L))
        .withColumn("n_categories", lit(0L))
        .withColumn("jsd_nano", lit(0L)),
      score = batch => graft.ops.Drift
        .jsAgainstReference(refCats, batch, keys, catCol)
        .filter(col("jsd_nano") >= alarmNanos))

  /** The drift family's TOKENIZER mode: per micro-batch, encode the
    * batch's text against a PINNED vocabulary
    * ([[graft.ops.Bpe.encodeIdsWith]] — the versioned-artifact
    * discipline) and alert when any key group's out-of-vocabulary share
    * reaches `alarmMicro`. A rising OOV rate is the leading signal that
    * the live corpus has outgrown the tokenizer version every stored
    * sequence is encoded with (new script, new domain, new markup) — the
    * alarm is the "cut tokenizer version N+1" trigger. Same delivery
    * contract as [[streamDriftMonitor]]/[[streamDriftMonitorJs]]: ONE
    * loop implementation ([[monitorLoop]]), exactly-once at-threshold
    * alert rows. Empty `keys` = one global row per batch.
    */
  def streamOovMonitor(stream: DataFrame, idCol: String, textCol: String,
                       merges: Seq[(String, String)], vocab: DataFrame,
                       keys: Seq[String], alarmMicro: Long,
                       alertRoot: String,
                       checkpoint: String): StreamingQuery = {
    val spark = stream.sparkSession
    val alertSchema = StructType(
      keys.map(k => stream.schema(stream.schema.fieldIndex(k))) ++
        Seq(org.apache.spark.sql.types.StructField("n_ids",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("n_oov",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("oov_micro",
            org.apache.spark.sql.types.LongType, nullable = false)))
    val emptyAlerts = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      alertSchema)
    monitorLoop(stream, alertRoot, checkpoint, emptyAlerts,
      score = batch => {
        val ids = graft.ops.Bpe.encodeIdsWith(batch, idCol, textCol,
          merges, vocab)
        val keyed =
          if (keys.isEmpty) ids
          else ids.join(
            batch.select((idCol +: keys).distinct.map(col): _*), idCol)
        keyed.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("n_ids"),
            sum(when(col("token_id") === graft.ops.Bpe.UnkId, lit(1L))
              .otherwise(lit(0L))).as("n_oov"))
          .withColumn("oov_micro",
            floor(col("n_oov").cast("double") / col("n_ids").cast("double")
              * lit(1e6) + lit(0.5)).cast("long"))
          .filter(col("oov_micro") >= alarmMicro)
      })
  }

  /** The ONE alert-delivery loop both drift monitors run (review fix
    * r16 — the two modes were 40-line near-copies whose exactly-once
    * semantics could have diverged under a one-sided fix): self-init the
    * alert root from the empty alert schema (+ batch_id partitioning),
    * score each micro-batch's post-images, and append at-threshold rows
    * under the manifest txn watermark with OCC commit-retry. Quiet
    * batches write nothing; a replayed batch no-ops.
    */
  private def monitorLoop(stream: DataFrame, alertRoot: String,
                          checkpoint: String, emptyAlerts: DataFrame,
                          score: DataFrame => DataFrame): StreamingQuery = {
    val spark = stream.sparkSession
    // the pointer, not the `_format` marker: init writes the marker first
    // and the pointer last, so a first init that died in between left a
    // marker-only root that must be re-initialized, not appended to
    if (!graft.sources.Layout.isVersionedRoot(spark, alertRoot))
      graft.sources.Layout.initVersionedManifest(
        emptyAlerts.withColumn("batch_id", lit(0L)), alertRoot,
        Seq("batch_id"))
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val fresh =
          if (batch.columns.contains("_change_type"))
            batch.filter(col("_change_type").isin("insert", "update_post"))
          else batch
        if (!fresh.isEmpty) {
          val alerts = score(fresh).withColumn("batch_id", lit(batchId))
          if (!alerts.isEmpty)
            graft.sources.Layout.withCommitRetry() {
              graft.sources.Layout.appendVersionedRows(
                batch.sparkSession, alertRoot, alerts,
                txn = Some((checkpoint, batchId)))
            }
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  /** Streaming UPSERT into a key-pruned partitioned versioned layout
    * ([[graft.sources.Layout.mergeVersionedPartitioned]]): each micro-batch
    * merges by key, rewriting only the partitions it touches, and flips the
    * `_current` pointer atomically — batch readers of the layout always see
    * a complete pre- or post-batch snapshot. This is the streaming leg of
    * the reference's staging→anti-join load (loading.py:141-176) landed on
    * storage instead of JDBC.
    *
    * Delivery: the checkpoint makes batch REPLAY possible after a crash
    * (at-least-once). Replaying a merge with the same keys and values is a
    * no-op on the final state — the upsert is idempotent by construction —
    * so end-to-end the layout converges to exactly-once CONTENT even when
    * a batch runs twice; only the version count differs.
    *
    * Each micro-batch commits under [[graft.sources.Layout.withCommitRetry]]
    * — a concurrent maintenance job (compaction, vacuum prep, a manual
    * merge) that wins the version-claim race makes the batch re-merge
    * against the new base instead of killing the streaming query.
    */
  def streamMergeVersioned(stream: DataFrame, root: String, keys: Seq[String],
                           pcol: String, checkpoint: String): StreamingQuery = {
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.sources.Layout.withCommitRetry() {
            graft.sources.Layout.mergeVersionedPartitioned(
              batch.sparkSession, root, batch, keys, pcol)
          }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  /** [[streamMergeVersioned]]'s merge-on-read sibling: each micro-batch
    * applies through [[graft.sources.Layout.upsertVersionedRows]] — matched
    * old images DV'd by key, the batch appended — so a CDC stream whose
    * keys SCATTER across many files costs O(batch) written per trigger
    * instead of a rewrite of every touched leaf. The right choice for
    * high-frequency small batches over a huge table; pair with a scheduled
    * [[graft.sources.Layout.purgeDeletedRows]] + compaction to fold the
    * accumulated vectors and appended slivers back into fat files.
    *
    * Same delivery contract as [[streamMergeVersioned]]: checkpointed
    * at-least-once batches, content-idempotent replay (a replayed batch
    * DVs the images its first run appended and appends identical ones),
    * OCC commit-retry against concurrent maintenance.
    */
  /** Streaming CDC APPLY — the delete-capable sibling of
    * [[streamUpsertRows]]: each micro-batch carries the table's columns
    * plus an op-code column (`opCol`: `"D"` = delete, anything else =
    * upsert) and an ordering column (`seqCol`: the source's LSN /
    * sequence number), and applies as ONE conditional
    * [[graft.sources.Layout.mergeIntoVersionedRows]] per trigger — matched
    * `"D"` rows DV their live images, matched non-deletes update, unmatched
    * non-deletes insert (a delete for a missing key no-ops, the standard
    * CDC tolerance).
    *
    * The batch is first COMPACTED to its final op per key (keep-last by
    * `seqCol` — Debezium-style batches legitimately carry
    * insert→update→delete chains for one key, and MERGE requires unique
    * source keys), then committed idempotently via the manifest txn
    * watermark keyed by the checkpoint path: a replayed batch no-ops
    * WITHOUT reading its data — exactly-once commits over at-least-once
    * delivery — and OCC commit-retry rides out concurrent maintenance.
    */
  def streamApplyCdcRows(stream: DataFrame, root: String, keys: Seq[String],
                         opCol: String, seqCol: String,
                         checkpoint: String): StreamingQuery = {
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // equal-seq ties: the delete wins, deterministically (same
          // contract as the cdc sink mode — see GraftSink)
          val lastPerKey = graft.ops.Dedup.keepLast(
            batch, keys, Seq(col(seqCol).desc, col(opCol).asc))
          // partition columns are IN the update set: an upstream partition
          // move (Debezium update carrying the full new image) must move
          // the row — mergeInto DVs the old image wherever it lives and
          // the new image lands in its new leaf (review fix; excluding
          // them silently diverged from the source of truth)
          val dataCols = lastPerKey.columns.filterNot(c =>
            keys.contains(c) || c == opCol || c == seqCol)
          graft.sources.Layout.withCommitRetry() {
            graft.sources.Layout.mergeIntoVersionedRows(
              batch.sparkSession, root, lastPerKey.drop(seqCol), keys,
              whenMatchedDelete = Some(col(s"src_$opCol") === "D"),
              whenMatchedUpdate =
                if (dataCols.isEmpty) None
                else Some((col(s"src_$opCol") =!= "D",
                  dataCols.map(c => c -> col(s"src_$c")).toMap)),
              whenNotMatchedInsert = Some(col(opCol) =!= "D"),
              txn = Some((checkpoint, batchId)))
          }
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  def streamUpsertRows(stream: DataFrame, root: String, keys: Seq[String],
                       checkpoint: String): StreamingQuery = {
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.sources.Layout.withCommitRetry() {
            // the checkpoint path identifies the application, the
            // foreachBatch id the batch — a replayed batch (crash between
            // table commit and checkpoint commit) is skipped by the
            // manifest's txn watermark instead of re-applied: exactly-once
            // COMMITS, not just exactly-once content
            graft.sources.Layout.upsertVersionedRows(
              batch.sparkSession, root, batch, keys,
              txn = Some((checkpoint, batchId)))
          }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  /** [[streamMergeVersioned]] with a MATERIALIZED VIEW following the table:
    * each micro-batch (1) upserts into the versioned layout under OCC
    * retry, then (2) advances the view by the change feed of exactly the
    * version range the merge produced
    * ([[graft.ops.Incremental.refreshFollowingView]]). The view's
    * state+watermark commit atomically, so a batch REPLAYED from the
    * checkpoint after a crash re-merges idempotently and the view refresh
    * no-ops on the already-applied range — end-to-end the table AND the
    * view converge to exactly-once content.
    */
  def streamMergeVersionedWithView(stream: DataFrame, root: String,
                                   keys: Seq[String], pcol: String,
                                   checkpoint: String, viewRoot: String,
                                   viewKeys: Seq[String],
                                   sumCols: Seq[String]): StreamingQuery = {
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          graft.sources.Layout.withCommitRetry() {
            graft.sources.Layout.mergeVersionedPartitioned(
              batch.sparkSession, root, batch, keys, pcol)
          }
          // the view commit races maintenance exactly like the table
          // commit does — each retry re-resolves the view's watermark, so
          // a re-run applies only the still-unapplied range (review fix:
          // an unguarded claim race here killed the whole streaming query)
          graft.sources.Layout.withCommitRetry() {
            graft.ops.Incremental.refreshFollowingView(
              batch.sparkSession, root, viewRoot, keys, viewKeys, sumCols)
          }
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  /** Streaming facts with a materialized JOIN view following along: each
    * micro-batch (1) upserts the fact table merge-on-read (idempotent via
    * the txn watermark, like [[streamUpsertRows]]), then (2) catches the
    * join view of (facts ⋈ dims) up to BOTH tables' live versions in one
    * commit ([[graft.ops.Incremental.refreshFollowingJoinView]]) — so a
    * dim merge landed by another job between triggers folds into the view
    * on the next batch, affected-key pruned. Both commits ride OCC
    * commit-retry; a replayed batch no-ops on the table (txn watermark)
    * and the view refresh no-ops on its per-side watermarks — end to end
    * the table AND the view converge to exactly-once content.
    */
  def streamUpsertRowsWithJoinView(stream: DataFrame, factRoot: String,
                                   keys: Seq[String], checkpoint: String,
                                   dimRoot: String, viewRoot: String,
                                   rowKeysDim: Seq[String],
                                   joinKeys: Seq[String]): StreamingQuery = {
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.sources.Layout.withCommitRetry() {
            graft.sources.Layout.upsertVersionedRows(
              batch.sparkSession, factRoot, batch, keys,
              txn = Some((checkpoint, batchId)))
          }
          graft.sources.Layout.withCommitRetry() {
            graft.ops.Incremental.refreshFollowingJoinView(
              batch.sparkSession, factRoot, dimRoot, viewRoot,
              keys, rowKeysDim, joinKeys)
          }
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }
}
