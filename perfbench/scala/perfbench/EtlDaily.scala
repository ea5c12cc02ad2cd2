package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.time.{DayOfWeek, LocalDate}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.pipeline.FinancePipeline
import graft.sources.{CsvIngest, Layout, ManifestIndex}

/** The reference DAG run: read the bar history plus a fresh one-day delta
  * CSV, merge/enrich/standardize, append only the new rows to a manifest
  * serving table, then derive daily returns and a calendar aggregate.
  *
  * Inputs (from the seed): a history CSV of `Tickers` x `Days` bars with
  * planted duplicate (Date, Ticker) rows, nulls in every fillable column,
  * shuffled row order and one ticker missing from the company map; one
  * delta CSV per pass for the next business day, which also restates a few
  * history keys (the anti-join must drop them).
  */
final class EtlDaily(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._

  private val Tickers = 100
  private val Days = 80
  private val Restated = 8
  private val Start = LocalDate.of(2022, 1, 3)

  private val rawSchema = StructType(Seq(
    StructField("Date", StringType), StructField("Open", DoubleType),
    StructField("High", DoubleType), StructField("Low", DoubleType),
    StructField("Close", DoubleType), StructField("Volume", LongType),
    StructField("Dividends", DoubleType), StructField("Stock Splits", DoubleType),
    StructField("Ticker", StringType)))
  private val companySchema = StructType(Seq(
    StructField("Ticker", StringType), StructField("Company", StringType)))

  private var dir = ""
  private var historyRows = 0L
  private val deltaRows = collection.mutable.Map.empty[Int, Long]
  private var servingRows = 0L

  private def histPath = s"$dir/in/history.csv"
  private def companyPath = s"$dir/in/companies.csv"
  private def deltaPath(i: Int) = s"$dir/in/delta_$i.csv"
  private def serving = s"$dir/serving"

  def rowsPerPass: Long = historyRows + Tickers + Restated

  def sizes: String =
    s"history $historyRows bars ($Tickers tickers x $Days days + duplicates), " +
      s"delta ~${Tickers + Restated} bars per pass, " +
      f"history CSV ${new File(histPath).length() / 1e6}%.1f MB, one commit per pass"

  private def ticker(t: Int) = f"TK$t%04d"

  private def businessDay(n: Int): LocalDate = {
    var d = Start; var k = 0
    while (k < n) {
      d = d.plusDays(1)
      if (d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY) k += 1
    }
    d
  }

  private def cents(c: Long): String = {
    val s = if (c < 0) "-" else ""
    val a = math.abs(c)
    f"$s${a / 100}.${a % 100}%02d"
  }

  /** One CSV line; each fillable field is null (empty) with 1% chance. */
  private def line(rnd: Random, date: LocalDate, t: Int, volume: Long): String = {
    def maybe(s: String) = if (rnd.nextInt(100) == 0) "" else s
    val base = 1000L + t * 37L % 9000L
    val open = base + rnd.nextInt(400) - 200
    val close = open + rnd.nextInt(200) - 100
    val high = math.max(open, close) + rnd.nextInt(50)
    val low = math.min(open, close) - rnd.nextInt(50)
    val div = if (rnd.nextInt(50) == 0) "0.25" else "0.0"
    val split = if (rnd.nextInt(500) == 0) "2.0" else "0.0"
    Seq(date.toString, maybe(cents(open)), maybe(cents(high)), maybe(cents(low)),
      maybe(cents(close)), maybe(volume.toString), maybe(div), maybe(split),
      ticker(t)).mkString(",")
  }

  private def writeCsv(path: String, header: String, lines: Seq[String]): Unit = {
    new File(path).getParentFile.mkdirs()
    val w = new BufferedWriter(new FileWriter(path))
    try { w.write(header); w.newLine(); lines.foreach { l => w.write(l); w.newLine() } }
    finally w.close()
  }

  private val header = "Date,Open,High,Low,Close,Volume,Dividends,Stock Splits,Ticker"

  /** Bars for `date`: one per ticker, 1% of them duplicated with a higher
    * (never null) Volume so the keep-last winner is unambiguous.
    */
  private def dayLines(rnd: Random, date: LocalDate): Seq[String] =
    (0 until Tickers).flatMap { t =>
      val vol = 1000L + rnd.nextInt(1000000)
      val first = line(rnd, date, t, vol)
      if (rnd.nextInt(100) == 0) Seq(first, line(rnd, date, t, vol + 1 + rnd.nextInt(1000)))
      else Seq(first)
    }

  private def writeDelta(i: Int): Unit = {
    val rnd = new Random(seed * 1000003L + 17L * i + 5)
    val day = dayLines(rnd, businessDay(Days + i))
    val restated = (0 until Restated).map { _ =>
      line(rnd, businessDay(rnd.nextInt(Days)), rnd.nextInt(Tickers), 1L + rnd.nextInt(1000))
    }
    val lines = rnd.shuffle(day ++ restated)
    writeCsv(deltaPath(i), header, lines)
    deltaRows(i) = lines.length
  }

  def setup(d: String): Unit = {
    dir = d
    deltaRows.clear()
    val rnd = new Random(seed * 7919L + 1)
    val hist = rnd.shuffle((0 until Days).flatMap(n => dayLines(rnd, businessDay(n))))
    writeCsv(histPath, header, hist)
    historyRows = hist.length
    // ticker 7 has no company: enrich leaves it null, standardize fills it
    writeCsv(companyPath, "Ticker,Company",
      (0 until Tickers).filter(_ != 7).map(t => s"${ticker(t)},Company $t"))
    val h = CsvIngest.read(spark, histPath, rawSchema)
    val staged = FinancePipeline.standardize(FinancePipeline.enrich(
      FinancePipeline.mergeIncrement(h, h.limit(0)),
      CsvIngest.read(spark, companyPath, companySchema)))
    Layout.initVersionedManifest(staged, serving, Seq("Year"))
    servingRows = Tickers.toLong * Days
  }

  def pass(i: Int, rec: Recorder): Unit = {
    writeDelta(i)
    val (hist, delta) = rec.op("sources", "scan") {
      val h = CsvIngest.read(spark, histPath, rawSchema).persist(StorageLevel.MEMORY_AND_DISK)
      val d = CsvIngest.read(spark, deltaPath(i), rawSchema).persist(StorageLevel.MEMORY_AND_DISK)
      rec.check("history rows", h.count() == historyRows)
      rec.check("delta rows", d.count() == deltaRows(i))
      (h, d)
    }
    val fresh = rec.op("pipeline", "transform") {
      val staged = FinancePipeline.standardize(FinancePipeline.enrich(
        FinancePipeline.mergeIncrement(hist, delta),
        CsvIngest.read(spark, companyPath, companySchema)))
      val f = FinancePipeline.loadIncrement(staged, Layout.readCurrent(spark, serving))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val n = f.count()
      rec.check("new rows", n == Tickers, s"got $n, want $Tickers")
      f
    }
    rec.add("pipeline.new_rows", Tickers)
    rec.add("pipeline.staged_rows", Tickers.toLong * Days + Tickers)
    val before = if (rec.traced) Disk.bytes(serving) else 0L
    rec.op("Layout", "append") { Layout.appendVersionedRows(spark, serving, fresh) }
    servingRows += Tickers
    if (rec.traced) {
      rec.add("Layout.bytes_written", Disk.bytes(serving) - before)
      rec.add("Layout.rows_committed", Tickers)
    }
    val v = LakeChurn.vname(Layout.currentVersionNumber(spark, serving))
    rec.op("ManifestIndex", "read") { ManifestIndex.read(spark, serving, v) }
    if (rec.traced) rec.sample("ManifestIndex.manifest_bytes",
      Disk.bytes(ManifestIndex.manifestPath(serving, v).toUri.getPath))
    rec.op("pipeline", "report") {
      val cur = Layout.readCurrent(spark, serving)
      val r = FinancePipeline.dailyReturns(FinancePipeline.asBars(cur))
        .agg(count(lit(1)), count(col("ret"))).first()
      rec.check("returns rows", r.getLong(0) == servingRows, s"got ${r.getLong(0)}")
      val cal = cur.groupBy("Year", "Quarter").agg(count(lit(1)).as("n"), sum("Volume"))
        .collect()
      rec.check("calendar rows", cal.map(_.getLong(2)).sum == servingRows)
    }
    Seq(hist, delta, fresh).foreach(_.unpersist(false))
    checkServing(i, rec)
  }

  /** The serving table must equal an independent plain-DataFrame model of
    * every CSV loaded so far: per key, the row of the earliest batch that
    * held it (the anti-join never overwrites), keep-last (highest Volume)
    * within that batch.
    */
  private def checkServing(i: Int, rec: Recorder): Unit = {
    def raw(path: String, batch: Int) =
      spark.read.option("header", "true").schema(rawSchema).csv(path)
        .withColumn("batch", lit(-batch))
    val all = ((histPath, 0) +: (0 to i).filter(deltaRows.contains)
      .map(k => (deltaPath(k), k + 1))).map((raw _).tupled).reduce(_ unionByName _)
    val best = all.groupBy("Ticker", "Date")
      .agg(max_by(struct(col("Close"), col("Volume")),
        struct(col("batch"), col("Volume"))).as("r"))
      .select(col("Ticker"), to_date(col("Date")).as("Date"),
        coalesce(col("r.Close"), lit(0.0)).as("Close"),
        coalesce(col("r.Volume"), lit(0L)).as("Volume"))
    val companies = spark.read.option("header", "true").schema(companySchema).csv(companyPath)
    val model = best.join(companies, Seq("Ticker"), "left")
      .withColumn("Company", coalesce(col("Company"), lit("Unknown")))
    val got = digest(Layout.readCurrent(spark, serving))
    val want = digest(model)
    rec.check("serving digest", got == want, s"got $got want $want")
  }

  private def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      sum(pmod(xxhash64(col("Ticker"), col("Date"), col("Company"), col("Close"),
        col("Volume")), lit(1000000007L)))).first()
    (r.getLong(0), r.getLong(1))
  }
}
