package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode

import org.apache.spark.sql.functions.col

import graft.sources.{Layout, ManifestIndex}

/** Streaming SINK into a graft versioned root — the ONE streaming write
  * path into the lakehouse, so a pipeline reads AND writes it through the
  * stock streaming API:
  *
  * {{{
  * df.writeStream.format("graft-sink")
  *   .option("path", root)
  *   .option("keys", "id")            // → merge-on-read UPSERT per batch
  *   //  no "keys"                    // → pure APPEND per batch
  *   //  + .option("mode", "cdc")     // → delete-capable op-coded apply
  *   //    .option("opCol", "op").option("seqCol", "seq")
  *   .option("checkpointLocation", ckpt)
  *   .start()
  * }}}
  *
  * `mode=replace` serves `outputMode("complete")` aggregates: every
  * trigger's batch is the WHOLE result, committed as one wholesale
  * replace (`replaceVersionedRows`) — a versioned table that always
  * equals the streaming aggregate, with history. Complete mode REFUSES
  * the other sink modes (upsert would strand vanished groups, append
  * would duplicate — both silent divergence).
  *
  * `mode=cdc` is the delete-capable apply: each batch carries the table's
  * columns plus an op code (`opCol`: `"D"` deletes, anything else
  * upserts) and an ordering column (`seqCol`); the batch compacts to its
  * final op per key (keep-last by `seqCol`) and applies as ONE
  * conditional merge. Paired
  * with the change source's `includeVersion` column this mirrors a source
  * table EXACTLY — deletes included (GraftSinkSpec pins the loop).
  *
  * Every micro-batch commits ONE table version under
  * [[Layout.withCommitRetry]] (concurrent maintenance can't kill the
  * query), idempotently via the manifest txn watermark keyed by
  * `txnAppId` (default: the checkpoint location — the identity Structured
  * Streaming already assigns the query): a batch replayed after a crash
  * between table commit and checkpoint commit no-ops instead of
  * re-applying — exactly-once COMMITS over at-least-once delivery.
  *
  * Composes with [[GraftChangeSource]] for table-to-table streaming:
  * `readChangeStream(src) → transform → writeStream.format("graft-sink")` keeps
  * a derived versioned table following a source table with nothing but
  * engine machinery (ChangeStreamSpec pins the loop).
  *
  * Named `graft-sink` (not bare `graft`): a registered batch-readable
  * short name would make Spark's ResolveSQLOnFile claim the `graft.`…``
  * SQL DML targets as direct-query-on-files BEFORE GraftDml's rule runs,
  * breaking the SQL write surface.
  *
  * V1 `Sink` by design (the micro-batch arrives as a DataFrame the layout
  * writers consume directly); the batch frame is rebased onto its computed
  * RDD first ([[Shim.asBatch]] — the ForeachBatchSink trick) because the
  * writers run several actions over it.
  */
class GraftSinkProvider extends StreamSinkProvider with DataSourceRegister {
  override def shortName(): String = "graft-sink"

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    val root = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft sink: 'path' option (the versioned root) is required"))
    val keys = parameters.get("keys")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    // a PRESENT but empty keys option must not silently flip the sink
    // into append mode (review fix) — absence selects append, emptiness
    // is a misconfiguration
    keys.foreach(ks => require(ks.nonEmpty,
      "graft sink: 'keys' is set but empty — omit it for append mode, or " +
        "name the merge keys"))
    // partitioning belongs to the TABLE (its manifest), not the stream
    require(partitionColumns.isEmpty,
      "graft sink: partitionBy is the table's manifest spec — do not set " +
        "it on the stream")
    // the idempotence watermark needs a per-QUERY identity: falling back
    // to the root would make independent queries writing the same table
    // share one watermark and silently no-op each other's batches (review
    // fix). checkpointLocation lands in these options only when set via
    // .option(...); conf-based checkpoints must name a txnAppId.
    val appId = parameters.get("txnAppId")
      .orElse(parameters.get("checkpointLocation"))
      .getOrElse(throw new IllegalArgumentException(
        "graft sink: set 'checkpointLocation' as a writer OPTION or give " +
          "an explicit 'txnAppId' — the idempotent-commit watermark needs " +
          "a per-query identity, and defaulting to the table would make " +
          "independent writers skip each other's batch ids"))
    val mode = parameters.get("mode")
    val cdc = mode match {
      case Some("cdc") =>
        require(keys.isDefined, "graft sink: mode=cdc requires 'keys'")
        Some((parameters.getOrElse("opCol", "op"),
          parameters.getOrElse("seqCol", "seq")))
      case Some(other) if other != "auto" && other != "replace" =>
        throw new IllegalArgumentException(
          s"graft sink: unknown mode '$other' (cdc, replace, or omit for " +
            "upsert/append)")
      case _ => None
    }
    val replace = mode.contains("replace")
    // OutputMode.Complete emits the WHOLE result every trigger: upsert
    // would strand groups that vanished from the aggregate and append
    // would duplicate everything — only replace semantics are correct.
    // Refuse the silent-divergence combinations in BOTH directions.
    if (outputMode == OutputMode.Complete())
      require(replace,
        "graft sink: outputMode=complete emits the whole result each " +
          "trigger — use .option(\"mode\", \"replace\") (upsert would " +
          "strand deleted groups; append would duplicate)")
    if (replace) {
      require(keys.isEmpty && cdc.isEmpty,
        "graft sink: mode=replace takes no 'keys' — each batch IS the " +
          "whole table")
      // …and the reverse direction: replace under append/update output
      // would wholesale-replace the table with a PARTIAL batch (appended
      // rows or changed groups only) — silent data loss (review fix)
      require(outputMode == OutputMode.Complete(),
        "graft sink: mode=replace requires outputMode=complete — under " +
          "append/update each batch is PARTIAL and a replace would drop " +
          "everything else")
    }
    new GraftSink(root, keys, appId, cdc, replace)
  }
}

private[streaming] class GraftSink(root: String, keys: Option[Seq[String]],
                                   appId: String,
                                   cdc: Option[(String, String)] = None,
                                   replace: Boolean = false)
    extends Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val batch = Shim.asBatch(data)
    Layout.withCommitRetry() {
      if (replace)
        // complete-mode streaming: the batch IS the whole result — one
        // wholesale replace commit per trigger (old versions stay
        // time-travelable; txn watermark makes replays no-ops)
        Layout.replaceVersionedRows(batch.sparkSession, root, batch,
          txn = Some((appId, batchId)))
      else (cdc, keys) match {
        case (Some((opCol, seqCol)), Some(ks)) =>
          // opCol/seqCol must NOT name real table columns: insert images
          // select every table column from the source, so a table column
          // named like the op code would receive the op STRING for
          // not-matched rows while being excluded from dataCols (never
          // updated) — silent divergence. A seqCol collision happened to
          // fail loudly (the column is dropped pre-merge and the
          // every-table-column check trips), but refuse both explicitly
          // like the other misconfiguration guards (ADVICE r11). Checked
          // per batch against the LIVE schema — evolution can introduce
          // the collision mid-stream.
          val man = Layout.currentManifest(batch.sparkSession, root)._2
          val tableCols = (ManifestIndex.activeSchema(man.dataSchema) ++
            man.partitionSchema).map(_.name)
          Seq("opCol" -> opCol, "seqCol" -> seqCol).foreach { case (opt, c) =>
            require(!tableCols.exists(_.equalsIgnoreCase(c)),
              s"graft sink: $opt '$c' collides with a column of the target " +
                s"table $root — rename the stream's $opt (the op/sequence " +
                "columns are sink metadata and must not shadow table data)")
          }
          // final op per key first (Debezium batches legitimately carry
          // insert→update→delete chains; MERGE requires unique source keys)
          // equal-seq ties resolve DETERMINISTICALLY: the delete wins
          // ('D' sorts before other ops ascending — the destructive final
          // state; review fix: seq alone left same-key same-seq event
          // pairs to shuffle order, so a replay could produce a different
          // table than the first attempt)
          val lastPerKey = graft.ops.Dedup.keepLast(
            batch, ks, Seq(col(seqCol).desc, col(opCol).asc))
          val dataCols = lastPerKey.columns.filterNot(c =>
            ks.contains(c) || c == opCol || c == seqCol)
          Layout.mergeIntoVersionedRows(
            batch.sparkSession, root, lastPerKey.drop(seqCol), ks,
            whenMatchedDelete = Some(col(s"src_$opCol") === "D"),
            whenMatchedUpdate =
              if (dataCols.isEmpty) None
              else Some((col(s"src_$opCol") =!= "D",
                dataCols.map(c => c -> col(s"src_$c")).toMap)),
            whenNotMatchedInsert = Some(col(opCol) =!= "D"),
            txn = Some((appId, batchId)))
        case (_, Some(ks)) =>
          Layout.upsertVersionedRows(batch.sparkSession, root, batch, ks,
            txn = Some((appId, batchId)))
        case _ =>
          Layout.appendVersionedRows(batch.sparkSession, root, batch,
            txn = Some((appId, batchId)))
      }
    }
    ()
  }

  override def toString: String = s"GraftSink[$root]"
}
