package perfbench

import scala.collection.immutable.HashMap
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Incremental
import graft.sources.{Layout, ManifestIndex}
import graft.streaming.StreamingOps

/** A small commit on a manifest table, with reads, a stream drain and
  * maintenance beside it.
  *
  * Setup builds an orders table (`Orders` rows, per-order line quantity
  * folded in), partitioned by priority with per-file blooms on the key.
  * Every pass copies that same initial state and runs: a SQL DELETE of a
  * seeded key residue class (a deletion-vector commit, no data file
  * rewritten), a point lookup, a time-travel read of the pre-delete
  * version, a change-stream drain folded into a per-priority sum view, and
  * one `maintain` (which purges the deletion vectors). Every read is
  * checked against a driver-side model of the table.
  */
final class LakeChurn(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._
  import LakeChurn._

  private val Orders = 20000
  /** DELETE removes keys with `id % Modulus == residue`: ~Orders / Modulus rows. */
  private val Modulus = 97
  private val Pri = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Status = Array("O", "F", "P")

  private var dir = ""
  private var initial: Model = HashMap.empty
  private var residue = 0
  private var live: Model = HashMap.empty
  private var lookupId = 0L

  private def golden = s"$dir/golden"

  def rowsPerPass: Long = initial.size - live.size

  def sizes: String =
    s"$Orders rows initial, 1 SQL DELETE (${initial.size - live.size} rows) + lookup + " +
      "time travel + stream drain + maintain per pass"

  private def row(rnd: Random, pri: String): Row =
    Row(rnd.nextInt(15000).toLong, pri, Status(rnd.nextInt(3)),
      100000L + rnd.nextInt(50000000), (1 to 1 + rnd.nextInt(7)).map(_ => 1L + rnd.nextInt(50)).sum)

  private def toDf(rows: Seq[(Long, Row)]): DataFrame =
    rows.map { case (id, r) => (id, r.cust, r.pri, r.status, r.v, r.qty) }
      .toDF("id", "cust", "pri", "status", "v", "qty")

  def setup(d: String): Unit = {
    dir = d
    val rnd = new Random(seed * 104729L + 3)
    initial = HashMap.from((0 until Orders).map(id => id.toLong -> row(rnd, Pri(rnd.nextInt(5)))))
    Layout.initVersionedManifest(toDf(initial.toSeq).repartition(4), golden, Seq("pri"), Seq("id"))
    residue = rnd.nextInt(Modulus)
    live = initial.filterNot(_._1 % Modulus == residue)
    // a key the DELETE leaves live, so the lookup always has one hit
    lookupId = rnd.nextInt(Orders / Modulus).toLong * Modulus + (residue + 1) % Modulus
  }

  def pass(i: Int, rec: Recorder): Unit = {
    val pdir = s"$dir/pass_$i"
    val root = s"$pdir/t"
    Disk.copy(golden, root)
    val before = if (rec.traced) Disk.bytes(root) else 0L
    val v0 = ManifestIndex.read(spark, root, vname(0))

    rec.op("plans", "delete_sql") {
      spark.sql(s"DELETE FROM graft.`$root` WHERE id % $Modulus = $residue")
    }
    val ver = Layout.currentVersionNumber(spark, root)
    val man = rec.op("ManifestIndex", "read") { ManifestIndex.read(spark, root, vname(ver)) }
    if (rec.traced) {
      rec.add("Layout.bytes_written", Disk.bytes(root) - before)
      rec.add("Layout.rows_committed", initial.size - live.size)
      val old = v0.entries.map(_.path).toSet
      rec.sample("Layout.files_added_per_commit", man.entries.count(e => !old(e.path)))
      rec.sample("ManifestIndex.manifest_bytes",
        Disk.bytes(ManifestIndex.manifestPath(root, vname(ver)).toUri.getPath))
    }

    val got = rec.op("Layout", "lookup") {
      Layout.readCurrent(spark, root).filter(col("id") === lookupId).collect()
    }
    val want = live.get(lookupId).map(x => (lookupId, x.cust, x.pri, x.status, x.v, x.qty))
    val gotRow = got.headOption.map(g => (g.getAs[Long]("id"), g.getAs[Long]("cust"),
      g.getAs[String]("pri"), g.getAs[String]("status"), g.getAs[Long]("v"), g.getAs[Long]("qty")))
    rec.check("lookup", got.length == 1 && gotRow == want, s"id $lookupId got $gotRow want $want")
    if (rec.traced) {
      rec.drainBus()
      val scanned = rec.lastCounts("Layout", "lookup").map(_.filesRead).getOrElse(0L)
      // keys are unique in the live table: the hit lives in exactly one file
      rec.sample("ManifestIndex.files_per_lookup", scanned)
      if (scanned > 0) rec.sample("ManifestIndex.lookup_hit_frac", 1.0 / scanned)
    }

    val past = rec.op("Layout", "time_travel") { digest(Layout.readVersion(spark, root, 0)) }
    rec.check("time travel", past == digest(initial))

    val q = rec.op("streaming", "drain") {
      StreamingOps.drainToParquet(StreamingOps.readChangeStream(spark, root, Seq("id")),
        s"$pdir/feed", s"$pdir/ckpt")
    }
    val progress = q.recentProgress
    rec.add("streaming.batches", progress.count(_.numInputRows > 0))
    rec.add("streaming.rows_in", progress.map(_.numInputRows).sum)
    rec.sample("streaming.lag_versions", ver)
    val view = rec.op("ops", "applyFeed") {
      val zero = Incremental.materialize(toDf(Nil), Seq("pri"), Seq("v"))
      Incremental.applyFeed(zero, spark.read.parquet(s"$pdir/feed"), Seq("pri"), Seq("v")).collect()
    }
    val gotView = view.map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    val wantView = live.values.groupBy(_.pri)
      .map { case (p, xs) => p -> (xs.size.toLong, xs.map(_.v).sum) }
    rec.check("streamed view", gotView == wantView, s"got $gotView want $wantView")

    rec.op("Layout", "maintain") { Layout.maintain(spark, root) }
    rec.check("maintained table", digest(Layout.readCurrent(spark, root)) == digest(live))
    if (rec.traced) {
      val after = ManifestIndex.read(spark, root, vname(Layout.currentVersionNumber(spark, root)))
      val old = man.entries.map(_.path).toSet
      rec.add("Layout.maintain_bytes_rewritten",
        after.entries.filterNot(e => old(e.path)).map(_.size).sum)
      rec.sample("Layout.stored_bytes_per_row", Disk.bytes(root).toDouble / live.size)
    }
    Disk.delete(pdir)
  }

  private def digest(df: DataFrame): Seq[Long] = {
    val r = df.agg(count(lit(1)), sum(col("id")), sum(col("v")),
      sum(pmod(col("id"), lit(997L)) * col("v")), sum(col("qty"))).first()
    (0 until 5).map(k => if (r.isNullAt(k)) 0L else r.getLong(k))
  }

  private def digest(m: Model): Seq[Long] = {
    var (n, ids, v, mix, qty) = (0L, 0L, 0L, 0L, 0L)
    m.foreach { case (id, x) => n += 1; ids += id; v += x.v; mix += (id % 997) * x.v; qty += x.qty }
    Seq(n, ids, v, mix, qty)
  }
}

object LakeChurn {
  final case class Row(cust: Long, pri: String, status: String, v: Long, qty: Long)
  type Model = HashMap[Long, Row]

  def vname(v: Int): String = f"v$v%05d"
}
