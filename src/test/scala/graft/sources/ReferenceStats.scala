package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{array, col, collect_set, count, hll_sketch_agg, length, lit, max, min, percentile_approx, pmod, shiftrightunsigned, unix_date, unix_micros, when, xxhash64}
import org.apache.spark.sql.types.{DateType, StringType, StructType, TimestampType}

import ManifestIndex._

/** The reference the write-time stats ([[FileStatsTracker]]) are tested
  * against: the per-file stats aggregate the manifest writers ran before
  * stats were collected inside the write tasks — write the files, then
  * re-read them in ONE aggregate grouped by `_metadata.file_path`. Kept
  * here verbatim in substance (same aggregates, same encodings) so the
  * two paths can be compared file by file.
  */
object ReferenceStats {

  /** Stats of every entry of `entries` whose path lies under `version/`,
    * keyed by entry path; `bloomCols` are PHYSICAL names.
    */
  def apply(spark: SparkSession, root: String, version: String,
            entries: Seq[Entry], dataSchema: StructType,
            bloomCols: Seq[String]): Map[String, FileStats] = {
    val fresh = entries.filter(_.path.startsWith(version + "/"))
    val statCols = activeSchema(dataSchema).fields
      .filter(f => statsEligible(f.dataType)).take(MaxStatsCols)
    if (fresh.isEmpty || statCols.isEmpty) return Map.empty
    val blooms = bloomCols.flatMap(n => statCols.find(f => physicalName(f) == n))
    val histBins = histogramBins(spark)
    val paths = fresh.map(e => new Path(root, e.path).toString)
    val df = spark.read.schema(physicalSchema(activeSchema(dataSchema)))
      .parquet(paths: _*)
    val aggs: Seq[Column] = (count(lit(1L)).as("__rows") +:
      (statCols.toSeq.zipWithIndex.flatMap { case (f, i) =>
        val c = col(s"`${physicalName(f)}`")
        def enc(x: Column): Column = f.dataType match {
          case StringType => when(length(x) <= MaxStringStatLen, x)
          case TimestampType => unix_micros(x).cast(StringType)
          case DateType => unix_date(x).cast(StringType)
          case _ => x.cast(StringType)
        }
        Seq(enc(min(c)).as(s"__min$i"), enc(max(c)).as(s"__max$i"),
          count(c).as(s"__cnt$i"),
          hll_sketch_agg(when(c.isNotNull, xxhash64(c)), lit(NdvLgK))
            .as(s"__ndv$i")) ++
          (if (histBins > 0 && histEligible(f.dataType))
            Seq(percentile_approx(c.cast("double"),
              array((0 to histBins).map(j =>
                lit(j.toDouble / histBins)): _*),
              lit(HistAccuracy)).as(s"__hist$i"))
          else Nil)
      } ++
      blooms.zipWithIndex.flatMap { case (f, j) =>
        val h = xxhash64(col(s"`${physicalName(f)}`"))
        val h1 = shiftrightunsigned(h, 32)
        val h2 = h.bitwiseAND(lit(0xffffffffL)).bitwiseOR(lit(1L))
        (0 until BloomHashes).map(i =>
          collect_set(pmod(h1 + lit(i.toLong) * h2, lit(BloomBits.toLong)))
            .as(s"__bloom${j}_$i"))
      }))
    val agg = df.groupBy(col("_metadata.file_path").as("__file"))
      .agg(aggs.head, aggs.tail: _*)
    agg.collect().map { r =>
      val rows = r.getAs[Long]("__rows")
      val bloomByName = blooms.zipWithIndex.map { case (f, j) =>
        val bytes = new Array[Byte](BloomBits / 8)
        (0 until BloomHashes).foreach { i =>
          r.getSeq[Long](r.fieldIndex(s"__bloom${j}_$i")).foreach { p =>
            bytes(p.toInt >> 3) = (bytes(p.toInt >> 3) | (1 << (p.toInt & 7))).toByte
          }
        }
        physicalName(f) -> BloomStat(BloomHashes,
          java.util.Base64.getEncoder.encodeToString(bytes))
      }.toMap
      val cols = statCols.toSeq.zipWithIndex.map { case (f, i) =>
        val hist =
          if (histBins > 0 && histEligible(f.dataType))
            Option(r.getAs[scala.collection.Seq[Double]](s"__hist$i"))
              .map(_.toSeq.map(_.toString))
          else None
        physicalName(f) -> ColStats(Option(r.getAs[String](s"__min$i")),
          Option(r.getAs[String](s"__max$i")), rows - r.getAs[Long](s"__cnt$i"),
          bloomByName.get(physicalName(f)),
          Option(r.getAs[Array[Byte]](s"__ndv$i"))
            .map(java.util.Base64.getEncoder.encodeToString),
          hist)
      }.toMap
      // _metadata.file_path is URL-encoded; entry paths are literal
      val file = literalScanPath(r.getAs[String]("__file"))
      val marker = s"/$version/"
      s"$version/${file.substring(file.lastIndexOf(marker) + marker.length)}" ->
        FileStats(rows, cols)
    }.toMap
  }
}
