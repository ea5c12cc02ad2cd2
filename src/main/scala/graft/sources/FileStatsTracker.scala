package graft.sources

import scala.collection.mutable

import org.apache.datasketches.hll.{HllSketch, TgtHllType, Union}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, Literal, UnsafeProjection, UnsafeRow, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile.PercentileDigest
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types.{DataType, DateType, DoubleType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import ManifestIndex.{BloomStat, ColStats, FileStats}

/** One stats column of a manifest write: its physical name and manifest
  * type, where it sits in the written data row (`ordinal`, -1 when the
  * write does not carry it — it then reads as all-null, exactly what a
  * schema-on-read scan of the file would see), the type it is written as,
  * and whether it gets histogram fences and bloom bits.
  */
private[sources] final case class StatCol(name: String, dataType: DataType,
                                          ordinal: Int, writtenType: DataType,
                                          hist: Boolean, bloom: Boolean)

/** One data file a write task produced: its path relative to the write's
  * output directory (`leaf/part-….parquet`), its length and its stats.
  */
private[sources] final case class WrittenFile(rel: String, size: Long,
                                              stats: FileStats)

private final case class WrittenFiles(files: Seq[WrittenFile]) extends WriteTaskStats

/** Per-file [[FileStats]] collected INSIDE the write tasks (Delta's
  * `DeltaJobStatisticsTracker` shape): every row a task writes also folds
  * into its file's accumulators, so a commit's stats cost no second job
  * and no re-read of the files it just wrote. The driver-side instance
  * gathers every committed task's files ([[files]]) once the write job
  * commits; a failed task attempt's stats never arrive.
  *
  * Each stat matches what one grouped aggregate over the written file
  * (`min`/`max`/`count`/`hll_sketch_agg`/`percentile_approx`/`collect_set`)
  * would record, with the same string encodings — see
  * [[ManifestIndex.statsTracker]] for how the columns are chosen.
  * `depth` is the number of partition directories above each file.
  */
private[sources] final class FileStatsTracker(cols: Seq[StatCol], histBins: Int,
                                              depth: Int,
                                              conf: SerializableConfiguration)
    extends WriteJobStatsTracker {

  @transient private lazy val written = mutable.ArrayBuffer.empty[WrittenFile]

  /** Every file the committed write produced (driver side). */
  def files: Seq[WrittenFile] = written.toSeq

  override def newTaskInstance(): WriteTaskStatsTracker =
    new FileStatsTaskTracker(cols, histBins, depth, conf.value)

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    stats.foreach { case WrittenFiles(fs) => written ++= fs }
}

private final class FileStatsTaskTracker(cols: Seq[StatCol], histBins: Int,
                                         depth: Int, conf: Configuration)
    extends WriteTaskStatsTracker {

  private val n = cols.length
  private val histCols = cols.indices.filter(cols(_).hist).toArray
  private val percentages = (0 to histBins).map(_.toDouble / histBins).toArray
  private val orderings = cols.map(c => PhysicalDataType.ordering(c.dataType)).toArray
  private val types = cols.map(_.dataType).toArray
  private val bloomed = cols.map(_.bloom).toArray

  /** One codegen'd projection per row: the n stats-typed values, their n
    * xxhash64s (the NDV sketch input and the bloom hash — a null hashes
    * to the seed, as Catalyst's `xxhash64(null)` does), then the double
    * view of each histogram column.
    */
  private val project = {
    val values: Seq[Expression] = cols.map { c =>
      if (c.ordinal < 0) Literal(null, c.dataType)
      else {
        val b = BoundReference(c.ordinal, c.writtenType, nullable = true)
        if (c.writtenType == c.dataType) b else Cast(b, c.dataType, Some("UTC"))
      }
    }
    UnsafeProjection.create(values ++ values.map(v => new XxHash64(Seq(v))) ++
      histCols.toSeq.map(i => Cast(values(i), DoubleType)))
  }

  private final class FileAcc {
    var rows = 0L
    val nonNull = new Array[Long](n)
    val mins = new Array[Any](n)
    val maxs = new Array[Any](n)
    val ndv = Array.fill(n)(new HllSketch(ManifestIndex.NdvLgK, TgtHllType.HLL_8))
    val digests = histCols.map(_ => new PercentileDigest(1.0 / ManifestIndex.HistAccuracy))
    val blooms = bloomed.map(b => if (b) new Array[Byte](ManifestIndex.BloomBits / 8) else null)

    def add(p: UnsafeRow): Unit = {
      rows += 1
      var i = 0
      while (i < n) {
        val h = p.getLong(n + i)
        if (!p.isNullAt(i)) {
          nonNull(i) += 1
          val v = p.get(i, types(i))
          // replace only on a strict win: among equal values the first
          // one seen stays, as in Catalyst's least/greatest fold
          if (mins(i) == null || orderings(i).lt(v, mins(i))) mins(i) = own(v)
          if (maxs(i) == null || orderings(i).gt(v, maxs(i))) maxs(i) = own(v)
          // nulls stay out of the sketch: their hash (the seed) would
          // count as a phantom distinct value
          ndv(i).update(h)
        }
        if (bloomed(i))
          ManifestIndex.bloomPositions(h, ManifestIndex.BloomHashes,
            ManifestIndex.BloomBits).foreach { b =>
            blooms(i)(b >> 3) = (blooms(i)(b >> 3) | (1 << (b & 7))).toByte
          }
        i += 1
      }
      var j = 0
      while (j < histCols.length) {
        if (!p.isNullAt(2 * n + j)) digests(j).add(p.getDouble(2 * n + j))
        j += 1
      }
    }

    def result(): FileStats = {
      val b64 = java.util.Base64.getEncoder
      FileStats(rows, cols.indices.map { i =>
        // the sketch is stored union-normalized, the form every reader's
        // Union folds it into (and the form a merged aggregate emits)
        val u = new Union(ManifestIndex.NdvLgK)
        u.update(ndv(i))
        val h = histCols.indexOf(i)
        val fences =
          if (h < 0) None
          else {
            // an all-null file has no rows to histogram: no fences
            val q = digests(h).getPercentiles(percentages)
            if (q.isEmpty) None else Some(q.map(_.toString))
          }
        cols(i).name -> ColStats(encode(mins(i), types(i)),
          encode(maxs(i), types(i)), rows - nonNull(i),
          if (bloomed(i)) Some(BloomStat(ManifestIndex.BloomHashes,
            b64.encodeToString(blooms(i)))) else None,
          Some(b64.encodeToString(
            u.getResult(TgtHllType.HLL_8).toUpdatableByteArray)),
          fences)
      }.toMap)
    }
  }

  /** The projection reuses its buffer: a kept string must own its bytes. */
  private def own(v: Any): Any = v match {
    case s: UTF8String => s.clone()
    case other => other
  }

  /** Bound encoding (see [[ManifestIndex.ColStats]]): timestamps as epoch
    * micros, dates as epoch days, strings verbatim up to
    * [[ManifestIndex.MaxStringStatLen]] characters (longer → unknown),
    * everything else through Catalyst's cast to string.
    */
  private def encode(v: Any, dt: DataType): Option[String] =
    if (v == null) None
    else dt match {
      case StringType =>
        val s = v.asInstanceOf[UTF8String]
        if (s.numChars <= ManifestIndex.MaxStringStatLen) Some(s.toString) else None
      case TimestampType | DateType => Some(v.toString)
      case _ => Some(Cast(Literal(v, dt), StringType, Some("UTC")).eval().toString)
    }

  private val open = mutable.HashMap.empty[String, FileAcc]
  private val done = mutable.ArrayBuffer.empty[WrittenFile]
  private var curPath: String = _
  private var cur: FileAcc = _

  override def newPartition(partitionValues: InternalRow): Unit = ()

  override def newFile(filePath: String): Unit = {
    cur = new FileAcc
    curPath = filePath
    open(filePath) = cur
  }

  override def newRow(filePath: String, row: InternalRow): Unit = {
    if (filePath != curPath) {
      cur = open(filePath)
      curPath = filePath
    }
    cur.add(project(row))
  }

  override def closeFile(filePath: String): Unit =
    open.remove(filePath).foreach { acc =>
      val p = new Path(filePath)
      // the task-attempt path ends in the same `leaf/file` the job commit
      // publishes under the output directory
      done += WrittenFile(filePath.split('/').takeRight(depth + 1).mkString("/"),
        p.getFileSystem(conf).getFileStatus(p).getLen, acc.result())
    }

  override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
    WrittenFiles(done.toList)
}
