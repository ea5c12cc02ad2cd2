package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between graft's custom Catalyst expressions and the public Column
  * API. Spark 4 made the Expression↔Column converters `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`), so libraries shipping
  * native expressions expose them through a shim in the sql package
  * namespace — the standard pattern for Catalyst-extending libraries.
  */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** v2 `Column[]` → `StructType` (CatalogV2Util is `private[sql]`) — the
    * catalog's createTable(columns) overload needs the conversion.
    */
  def v2ColumnsToStructType(
      cols: Array[org.apache.spark.sql.connector.catalog.Column])
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.connector.catalog.CatalogV2Util
      .v2ColumnsToStructType(cols)

  /** A v2 connector `Literal` from a Scala or Catalyst value
    * (`LiteralValue` and the Catalyst converters are `private[sql]`) —
    * the catalog's column-DEFAULT metadata needs one.
    */
  def v2Literal(external: Any, dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.connector.expressions.Literal[_] =
    org.apache.spark.sql.connector.expressions.LiteralValue(
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .convertToCatalyst(external),
      dt)

  /** A child of `spark`: a copy of its session state (conf, temp views,
    * functions) over the same SparkContext and cache, so conf set on the
    * child never reaches `spark` (`cloneSession` is `private[sql]`).
    */
  def childSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Analyze-and-wrap a logical plan as a DataFrame (`Dataset.ofRows` went
    * `private[sql]` with the Spark 4 classic split). Used by the SQL DML
    * commands to evaluate the MERGE source plan the parser captured.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Re-brand a (lazily planned) batch DataFrame as a STREAMING one — the
    * V1 `Source.getBatch` contract requires `isStreaming = true` on the
    * returned frame (MicroBatchExecution asserts it), and a source whose
    * batches are computed plans (a change feed, not a file listing) has no
    * streaming-relation to inherit the bit from. `toRdd` is lazy: no job
    * runs until the sink consumes the batch. This is the standard shape for
    * log-replaying lakehouse sources.
    */
  def asStreaming(df: DataFrame): DataFrame = {
    val spark =
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** [[asStreaming]] with an explicitly declared schema (types must match
    * the computed rows; nullability may be RELAXED). A log-replaying
    * source whose batches come from different plan shapes (snapshot scan
    * vs feed union) must declare ONE schema across all of them — varying
    * per-batch nullability breaks downstream state-store schema checks on
    * restart (the state key written by batch 1 must match batch N's).
    */
  def asStreaming(df: DataFrame,
                  schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val spark =
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, schema, isStreaming = true)
  }

  /** Rebase a V1 `Sink.addBatch` micro-batch DataFrame onto its computed
    * RDD so downstream code can run MULTIPLE actions over it (the layout
    * writers probe emptiness, validate constraints and then write) without
    * re-triggering the incremental execution — the exact trick Spark's own
    * ForeachBatchSink uses.
    */
  def asBatch(df: DataFrame): DataFrame = {
    val spark =
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** Free the stored blocks of `rdd` (non-blocking) and drop it from the
    * context's persistent set — what `RDD.unpersist` does, minus its
    * warning for a locally checkpointed RDD, whose released blocks cannot
    * be recomputed. A caller freeing such a cut on purpose uses this
    * (`SparkContext.unpersistRDD` is `private[spark]`).
    */
  def freeBlocks(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Block until every posted listener event has been delivered, so a
    * listener's job list is complete when read (`listenerBus` is
    * `private[spark]`).
    */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Write `df` as parquet under `path` — hive leaves on `partitionColumns`,
    * the same files `df.write.partitionBy(...).parquet(path)` lays out —
    * through Spark's one file-format write path (`FileFormatWriter`, what
    * `DataFrameWriter` lowers to) with extra `statsTrackers` riding the
    * write tasks. `replace` clears `path` first (`SaveMode.Overwrite`);
    * otherwise the files are added beside what is there
    * (`SaveMode.Append`). One SQL execution, one write job.
    */
  def writeParquet(df: DataFrame, path: String, partitionColumns: Seq[String],
                   statsTrackers: Seq[org.apache.spark.sql.execution.datasources.WriteJobStatsTracker],
                   replace: Boolean): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker, FileFormatWriter, PartitioningUtils}
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val spark = ds.sparkSession
    val conf = spark.sessionState.conf
    PartitioningUtils.validatePartitionColumn(df.schema, partitionColumns,
      conf.caseSensitiveAnalysis)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val out = new Path(path)
    val fs = out.getFileSystem(hadoopConf)
    val qualified = out.makeQualified(fs.getUri, fs.getWorkingDirectory)
    if (replace && fs.exists(qualified) && !fs.delete(qualified, true))
      throw new java.io.IOException(s"cannot clear write target $qualified")
    val committer = org.apache.spark.internal.io.FileCommitProtocol.instantiate(
      conf.fileCommitProtocolClass, java.util.UUID.randomUUID().toString,
      qualified.toString)
    // the basic tracker keeps task output metrics (records/bytes written)
    // identical to a DataFrameWriter write
    val basic = new BasicWriteJobStatsTracker(
      new org.apache.spark.util.SerializableConfiguration(hadoopConf),
      BasicWriteJobStatsTracker.metrics)
    val qe = ds.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe,
      Some("write parquet")) {
      val plan = qe.executedPlan
      val output = plan.output
      FileFormatWriter.write(spark, plan,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
        committer,
        FileFormatWriter.OutputSpec(qualified.toString, Map.empty, output),
        hadoopConf,
        partitionColumns.map(c => output.find(a => conf.resolver(a.name, c)).get),
        None, basic +: statsTrackers, Map.empty)
    }
  }
}
