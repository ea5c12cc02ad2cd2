package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark workload. `setup` builds the inputs and tables from the
  * seed under a fresh directory (it may run several times; the last one
  * stays live); `pass` is one closed-loop pass, timed through the
  * recorder's `op`s and checked against independent results.
  */
trait Workload {
  def setup(dir: String): Unit
  def pass(i: Int, rec: Recorder): Unit
  /** Input rows one pass processes, for rows_per_s. */
  def rowsPerPass: Long
  /** Input sizes, one line. */
  def sizes: String
}

/** Two workloads' passes run back to back as one pass. */
final class Sequenced(parts: Workload*) extends Workload {
  def setup(dir: String): Unit = parts.zipWithIndex.foreach { case (w, k) => w.setup(s"$dir/$k") }
  def pass(i: Int, rec: Recorder): Unit = parts.foreach(_.pass(i, rec))
  def rowsPerPass: Long = parts.map(_.rowsPerPass).sum
  def sizes: String = parts.map(_.sizes).mkString("; ")
}

/** Local-filesystem helpers for table roots. */
object Disk {
  def bytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def copy(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
  }
}

/** What one timed pass cost, and what the hygiene probe after it found. */
final case class PassResult(i: Int, traced: Boolean, ok: Boolean, passS: Double,
                            cpuS: Double, heapMb: Double, leakedRdds: Int,
                            confDelta: Int, orphanRoots: Int)

/** Runs one workload: a few setups, one warm-up pass, then timed passes
  * for the requested seconds, and writes the result JSON (end-to-end
  * metrics, or per-layer metrics in trace mode) plus a summary.
  */
object Main {
  private val SetupRepeats = 3
  private val MinPasses = 1
  /** No pass starts this late, so a run always ends within its time limit. */
  private val LastPassStartS = 110.0

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val data = a("data")
    val report = a("report")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStart = (System.currentTimeMillis() - jvmStart) / 1e3

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$data/local")
      .config("spark.sql.warehouse.dir", s"$data/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = sinceStart

    val wl: Workload = name match {
      case "ingest_churn" => new Sequenced(new EtlDaily(spark, seed), new LakeChurn(spark, seed))
      case "curation_loops" => new CurationLoops(spark, seed)
    }
    val rec = new Recorder(spark, trace)

    val setupS = (0 until SetupRepeats).map { k =>
      val t0 = System.nanoTime()
      wl.setup(s"$data/setup_$k")
      val dt = (System.nanoTime() - t0) / 1e9
      if (k > 0) Disk.delete(s"$data/setup_${k - 1}")
      dt
    }

    val tmp = new File(System.getProperty("java.io.tmpdir"))
    def tmpEntries = Option(tmp.list()).map(_.toSet).getOrElse(Set.empty[String])
    def runPass(i: Int, traced: Boolean): (Boolean, Double, Double) = {
      rec.beginPass(i, traced)
      val ok =
        try { wl.pass(i, rec); true }
        catch { case e: Throwable =>
          // a throw outside an op is a failed check of the benchmark itself
          if (!rec.opThrew) rec.failed += 1
          System.err.println(s"[perfbench] pass $i aborted: $e")
          e.printStackTrace()
          false
        }
      val (passS, cpuS) = rec.endPass()
      (ok, passS, cpuS)
    }
    def release(): Unit = rec.span("util", "release") {
      graft.util.Caches.releaseAll()
      spark.catalog.clearCache()
    }

    runPass(0, traced = false)
    release()
    val confBase = spark.conf.getAll
    val tmpBase = tmpEntries

    val passes = mutable.ArrayBuffer.empty[PassResult]
    val t0 = System.nanoTime()
    var i = 1
    while (((System.nanoTime() - t0) / 1e9 < seconds || passes.size < (if (trace) MinPasses + 1 else MinPasses)) &&
           sinceStart < LastPassStartS) {
      val traced = trace && i % 2 == 0
      val (ok, passS, cpuS) = runPass(i, traced)
      release()
      val leaked = spark.sparkContext.getPersistentRDDs.size
      val conf = spark.conf.getAll
      val confDelta = (conf.keySet ++ confBase.keySet).count(k => conf.get(k) != confBase.get(k))
      val orphans = (tmpEntries -- tmpBase).size
      val heapMb = if (!trace) 0.0 else {
        // unpersist is asynchronous: let the block removals land before the GC
        Thread.sleep(300)
        System.gc()
        System.gc()
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      }
      passes += PassResult(i, traced, ok, passS, cpuS, heapMb, leaked, confDelta, orphans)
      i += 1
    }

    val timed = passes.filter(p => p.ok && !p.traced).toSeq
    val med = (f: PassResult => Double) => Stats.median(timed.map(f))
    val passS = med(_.passS)
    val e2e = Seq(
      ("setup_s", Stats.median(setupS), "s"),
      ("pass_s", passS, "s"),
      ("cpu_s", med(_.cpuS), "s"),
      ("rows_per_s", if (passS > 0) wl.rowsPerPass / passS else 0.0, "rows/s"))
    val metrics =
      if (trace) Layers.metrics(rec, passes.toSeq, s"$report/layers.tsv", s"$report/spans.jsonl")
      else e2e

    val out = new PrintWriter(s"$report/summary.txt")
    try {
      out.println(s"workload $name seed $seed: ${wl.sizes}")
      out.println(f"session start $sessionS%.2f s; setups ${setupS.map(s => f"$s%.2f").mkString(" ")} s; " +
        s"${passes.size} timed passes (${passes.count(_.traced)} traced), ${rec.attempted} ops, ${rec.failed} failed")
      out.println("passes: " + passes.map(p => f"${p.passS}%.3f${if (p.traced) "t" else ""}").mkString(" "))
      metrics.foreach { case (k, v, u) => out.println(f"  $k%-40s $v%.6g $u") }
      out.println("op wall ms (median over every pass, warm-up included):")
      rec.opTimes.foreach { case (k, v) =>
        out.println(f"  $k%-40s ${Stats.median(v.toSeq)}%9.1f  n=${v.size}") }
    } finally out.close()

    val body = metrics.map { case (k, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$k": {"value": $x, "unit": "$u"}"""
    }.mkString(", ")
    val correct = rec.failed == 0 && passes.forall(_.ok)
    val json = s"""{"correct": $correct, "attempted": ${math.max(1L, rec.attempted)}, """ +
      s""""failed": ${rec.failed}, "metrics": {$body}}"""
    val w = new PrintWriter(a("result"))
    try w.println(json) finally w.close()
  }
}
