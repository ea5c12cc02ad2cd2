package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.sources.Layout

/** Streaming SOURCE over a graft versioned root — the read-side of the
  * lakehouse streaming story (the write side is the `graft-sink`
  * provider, [[GraftSinkProvider]]): serve a versioned table AS a stream
  * whose micro-batches are the CHANGE FEEDS between committed versions,
  * Delta-`readChangeFeed`-shape:
  *
  * {{{
  * spark.readStream.format("graft-changes")
  *   .option("path", root).option("keys", "id")
  *   [.option("startingVersion", 0) | .option("startingTimestamp", "…")]
  *   .load()                       // …, _change_type
  * }}}
  *
  * Offsets ARE version numbers: `getOffset` reports the table's current
  * committed version (an O(1) pointer read), and batch `(from, to]` is
  * exactly [[Layout.changeFeed]] `(fromVersion, toVersion)` — leaf-identity
  * pruned, so a batch after a one-partition commit reads one partition, not
  * the table, regardless of table size. The engine checkpoints the version
  * watermark like any offset: after a crash the stream resumes from the
  * last COMMITTED batch's version, and a feed is never emitted twice
  * (exactly-once feed delivery over the engine's offset log). This is the
  * reference's 3×-daily incremental consumption loop
  * (`dag_script.py:26`, `loading.py:106`) as a principled streaming source.
  *
  * First-batch modes:
  *  - default (no `startingVersion`): SNAPSHOT-THEN-FOLLOW — the first
  *    batch is the full snapshot at the stream-start version tagged
  *    `insert`, subsequent batches are change feeds. The standard backfill
  *    shape: a downstream view initialized from batch 1 then folded with
  *    [[graft.ops.Incremental.applyFeed]] tracks the table exactly.
  *  - `startingVersion` = v: feeds only, starting EXCLUSIVE of v (batch 1
  *    is `changeFeed(v, current)`) — for consumers that already hold the
  *    v snapshot.
  *
  * Rate limiting: `maxVersionsPerBatch` (the `maxFilesPerTrigger`
  * analog) caps each micro-batch's version span, so a consumer resuming
  * behind a 10 000-commit backlog drains as bounded batches instead of
  * one unbounded feed plan. The source implements
  * [[SupportsTriggerAvailableNow]] (which extends admission control), so
  * ONE `Trigger.AvailableNow` invocation drains the whole backlog as a
  * SEQUENCE of capped micro-batches up to the target captured at query
  * start — the scheduled-catch-up semantics the reference's 3×-daily
  * cron loop wants (before r12 the V1 fallback stopped at the cap with a
  * warning). Under admission control the ENGINE supplies the start
  * offset to [[latestOffset]]; the internal watermark only backstops the
  * first call of a resumed instance.
  *
  * Contracts: `keys` must be the table's unique row identity (the
  * [[Layout.changeFeed]] contract); the SCHEMA is pinned at stream start
  * (later batches select/cast to it — a column widened or added AFTER
  * stream start fails loudly rather than silently truncating/dropping;
  * restart the stream to adopt the evolved schema); versions a
  * lagging consumer still needs must not be vacuumed (retention ≥ max lag,
  * the standard lakehouse-streaming contract).
  *
  * V1 `Source` by design: its `getBatch` returns a DataFrame, which is the
  * only streaming API that lets a batch BE a computed plan (the feed's
  * pruned two-snapshot diff) instead of a list of file splits — the same
  * choice Delta's source makes. DSv2's `MicroBatchStream` would force the
  * diff through driver-materialized InputPartitions.
  */
class GraftChangeSourceProvider extends StreamSourceProvider with DataSourceRegister {
  import GraftChangeSource._

  override def shortName(): String = "graft-changes"

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "graft-changes: the schema comes from the table; do not set one")
    (shortName(), schemaFor(sqlContext.sparkSession, rootOf(parameters),
      parameters.get("includeVersion").exists(_.trim.toBoolean)))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val root = rootOf(parameters)
    // startingTimestamp: parsed EAGERLY (a malformed option fails at
    // query start), resolved to a version LAZILY inside the source — a
    // checkpointed stream far past the timestamp must keep restarting
    // after the versions around it are vacuumed (review fix)
    val fromTsMillis = parameters.get("startingTimestamp").map(t =>
      graft.util.WallClock.millis(t,
        graft.util.WallClock.sessionZone(spark)))
    val fromV = parameters.get("startingVersion").map(_.trim.toInt)
    require(fromTsMillis.isEmpty || fromV.isEmpty,
      "graft-changes: set startingVersion OR startingTimestamp, not both")
    new GraftChangeSource(spark, root, keysOf(parameters), fromV,
      parameters.get("maxVersionsPerBatch").map(_.trim.toInt),
      parameters.get("includeVersion").exists(_.trim.toBoolean),
      fromTsMillis)
  }
}

object GraftChangeSource {
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** Custom [[ReadLimit]]: at most `versions` commits per micro-batch —
    * the unit this source rate-limits in (rows/files/bytes are not known
    * until the feed plan runs). Opaque to the engine, which just hands
    * it back to [[GraftChangeSource.latestOffset]].
    */
  case class ReadMaxVersions(versions: Int) extends ReadLimit

  private[streaming] def rootOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-changes: 'path' option (the versioned root) is required"))

  private[streaming] def keysOf(parameters: Map[String, String]): Seq[String] = {
    val keys = parameters.getOrElse("keys", throw new IllegalArgumentException(
      "graft-changes: 'keys' option (comma-separated row identity) is required"))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(keys.nonEmpty, "graft-changes: empty key list")
    keys
  }

  /** Stream schema = the table's live read schema + `_change_type`
    * (+ `_commit_version` when requested) — declared ALL-NULLABLE, and
    * every batch rebrands onto exactly this schema: the snapshot scan and
    * the feed unions produce different plan-level nullability, and a
    * stateful consumer's state-store schema check refuses a restart whose
    * key nullability differs from the one batch 1 wrote (review fix —
    * the S75 kill-resume pipeline tripped it).
    */
  private[streaming] def schemaFor(spark: SparkSession, root: String,
                                   includeVersion: Boolean = false): StructType = {
    val base = Layout.readCurrent(spark, root).schema.fields :+
      StructField(ChangeTypeCol, StringType, nullable = false)
    StructType((if (includeVersion)
      base :+ StructField(CommitVersionCol,
        org.apache.spark.sql.types.LongType, nullable = false)
    else base).map(_.copy(nullable = true)))
  }
}

class GraftChangeSource(spark: SparkSession, root: String, keys: Seq[String],
                        startingVersion: Option[Int],
                        maxVersionsPerBatch: Option[Int] = None,
                        includeVersion: Boolean = false,
                        startingTimestampMillis: Option[Long] = None)
    extends Source with SupportsTriggerAvailableNow {
  import GraftChangeSource._

  maxVersionsPerBatch.foreach(k => require(k >= 1,
    s"graft-changes: maxVersionsPerBatch must be >= 1, got $k"))

  /** The starting version, resolved ON FIRST USE only: a stream resuming
    * from a checkpoint never consults it, so vacuuming the history around
    * an old `startingTimestamp` cannot kill a restart. Semantics: feeds
    * start EXCLUSIVE of the newest version committed STRICTLY BEFORE the
    * instant — so a commit exactly AT the timestamp streams (the at-or-
    * after contract); a timestamp predating the whole history falls back
    * to snapshot-then-follow (every row arrives, as the initial snapshot).
    */
  private lazy val resolvedStart: Option[Int] =
    startingVersion.orElse(startingTimestampMillis.flatMap { ms =>
      try Some(Layout.versionAsOf(spark, root, ms - 1))
      catch {
        // ONLY the pre-history case ("no version … existed at or before")
        // falls back to snapshot-then-follow; versionAsOf's other
        // IllegalArgumentExceptions — not a manifest root, no committed
        // versions — are configuration errors and must fail loudly here,
        // not degrade silently and defer the real error to a later batch
        // (review fix)
        case e: IllegalArgumentException
            if e.getMessage != null &&
              e.getMessage.contains("existed at or before") => None
      }
    })

  override val schema: StructType = schemaFor(spark, root, includeVersion)

  // Rate limiting (the maxFilesPerTrigger analog): a consumer resuming
  // behind a LONG history would otherwise diff the whole backlog in one
  // batch — `maxVersionsPerBatch` caps each batch's version span, so a
  // 10 000-commit backlog drains as bounded micro-batches instead of one
  // unbounded feed plan. The watermark tracks the highest version already
  // served/committed (updated from BOTH getBatch and commit, which covers
  // engine restart recovery: replayed ranges and the recovered committed
  // offset both advance it before the next poll); offered offsets are
  // never below it, so they stay monotonic for the engine.
  @volatile private var highWater: Option[Int] = None
  private def floor: Option[Int] = highWater.orElse(resolvedStart)
  // Trigger.AvailableNow target: pinned ONCE at query start (the
  // SupportsTriggerAvailableNow contract — later offers must not exceed
  // it, or the one-shot run would chase a moving head forever)
  @volatile private var availableNowTarget: Option[Int] = None

  private def advance(v: Int): Unit = synchronized {
    if (!highWater.exists(_ >= v)) highWater = Some(v)
  }

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(Layout.currentVersionNumber(spark, root))

  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerBatch.map(n => GraftChangeSource.ReadMaxVersions(n))
      .getOrElse(ReadLimit.allAvailable())

  override def reportLatestOffset(): OffsetV2 =
    LongOffset(Layout.currentVersionNumber(spark, root).toLong)

  /** Admission-controlled poll: the ENGINE hands back the last batch's
    * end offset; offer at most `cap` versions past it, clamped to the
    * AvailableNow target when one is pinned. A `null` start with no
    * `startingVersion` is the snapshot batch — it spans ONE version
    * regardless of cap (a snapshot is not a backlog).
    */
  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val cur0 = Layout.currentVersionNumber(spark, root)
    val cur = availableNowTarget.fold(cur0)(t => math.min(t, cur0))
    val cap = limit match {
      case ReadMaxVersions(n) => Some(n)
      case _ => None
    }
    val from = Option(startOffset).map(versionOfAny).orElse(floor)
    val capped = (cap, from) match {
      case (Some(k), Some(f)) => math.max(f, math.min(cur, f + k))
      case _ => cur
    }
    LongOffset(capped.toLong)
  }

  // (the collapsed no-includeVersion path never carries the column; align
  // drops/demands columns per the pinned schema, so both paths agree)
  // every batch is SELECTed into the pinned stream schema: stable column
  // order across versions, a column the table no longer carries fails
  // loudly, and a TYPE change since stream start is checked explicitly —
  // a stream started BEFORE a widenColumn would otherwise cast later wide
  // values down to the narrower pinned type, which is loud only under
  // ANSI mode; with spark.sql.ansi.enabled=false the cast silently
  // overflows and the stream emits corrupt change events (ADVICE r11).
  // Only lossless up-casts (batch type narrower than pinned) pass.
  private def align(df: DataFrame): DataFrame = {
    val have = df.schema.map(f => f.name -> f.dataType).toMap
    schema.fields.foreach { f =>
      have.get(f.name).foreach { t =>
        require(t == f.dataType ||
          org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(t, f.dataType),
          s"graft-changes: column '${f.name}' changed type since stream " +
            s"start (pinned ${f.dataType.simpleString}, batch now " +
            s"${t.simpleString}) — the table was widened under a running " +
            "stream; restart the stream to pick up the widened schema")
      }
    }
    df.select(schema.fields.map(f => col(s"`${f.name}`").cast(f.dataType)
      .as(f.name)).toIndexedSeq: _*)
  }

  private def versionOf(o: OffsetV1): Int = o.json.trim.toInt
  private def versionOfAny(o: OffsetV2): Int = o.json.trim.toInt

  // kept for the V1 Source contract, but under admission control the
  // engine polls latestOffset(start, limit) instead — this plain form
  // serves only direct callers and mirrors the uncapped head
  override def getOffset: Option[OffsetV1] = {
    val cur = Layout.currentVersionNumber(spark, root)
    val capped = (maxVersionsPerBatch, floor) match {
      // never below the watermark (monotonic even if cur regressed)
      case (Some(k), Some(hw)) => math.max(hw, math.min(cur, hw + k))
      case _ => cur
    }
    Some(LongOffset(capped.toLong))
  }

  override def commit(end: OffsetV1): Unit = advance(versionOf(end))

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endV = versionOf(end)
    advance(endV)
    val batch = start.map(versionOf).orElse(resolvedStart) match {
      case None =>
        // snapshot-then-follow: first batch = the full stream-start
        // snapshot as inserts
        Layout.readVersion(spark, root, endV)
          .withColumn(ChangeTypeCol, lit("insert"))
          .withColumn(CommitVersionCol, lit(endV.toLong))
      case Some(fromV) if fromV == endV =>
        // engine replay edge (or startingVersion == current): empty batch
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      case Some(fromV) if includeVersion =>
        // per-COMMIT attribution (Delta-CDF's `_commit_version`): a batch
        // spanning several versions unions one pruned feed slice per
        // commit, each tagged — the ordering column an op-coded CDC apply
        // downstream needs (a collapsed diff cannot say which change
        // landed when). Plan count = span; cap it with
        // `maxVersionsPerBatch` on backlogged consumers.
        ((fromV + 1) to endV).map(v =>
          Layout.changeFeed(spark, root, v - 1, v, keys)
            .withColumn(CommitVersionCol, lit(v.toLong)))
          .reduce(_ unionByName _)
      case Some(fromV) =>
        Layout.changeFeed(spark, root, fromV, endV, keys)
    }
    Shim.asStreaming(align(batch), schema)
  }

  override def stop(): Unit = ()
}
