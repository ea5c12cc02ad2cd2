package graft.util

import java.util.concurrent.atomic.AtomicLong

/** Wall-clock accumulator for time spent inside the versioned layout's
  * WRITER entry points (init / merge / DML / maintenance commits).
  *
  * Why it exists: many registered queries build their own multi-commit
  * table history before the final read — write-path-is-the-test — and the
  * bench's single per-query number stopped separating "query engine
  * speed" from "DML setup cost" (VERDICT r10). Rather than rewriting
  * every registration into a two-phase shape, the writers self-attribute:
  * each outermost entry point adds its wall time here, the bench reads
  * and resets per sample, and `bench_full.txt` reports
  * `setup` (DML seconds) vs `query` (everything else) per run. The
  * headline JSON is untouched.
  *
  * Reentrancy: nested writer calls (maintain → purge → commit; merge →
  * commit) count ONCE, at the outermost entry — a per-thread depth guard,
  * with the sum itself global so streaming sink writers (`graft-sink`) on
  * other threads attribute too. Overhead when idle: two thread-local
  * reads per call — nothing a benchmark can see.
  */
object DmlTimer {
  private val nanos = new AtomicLong(0L)
  private val depth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  def timed[T](f: => T): T = {
    val d = depth.get()
    depth.set(d + 1)
    // Label the jobs this writer op launches (guide §1.5): the outermost
    // entry point's method name becomes the Spark job description, so a
    // job-level profile (Probe, the UI) attributes multi-action DML
    // setups op-by-op. Layout.alterManifest times every metadata DDL on
    // its public caller's behalf, so its frame is skipped. Restored (not
    // cleared) on exit so a caller's own label survives nested writer
    // calls.
    val sess =
      if (d == 0) org.apache.spark.sql.SparkSession.getActiveSession else None
    val prior = sess.map { s =>
      val p = s.sparkContext.getLocalProperty("spark.job.description")
      val op = Thread.currentThread.getStackTrace
        .drop(1).find(e => e.getClassName.startsWith("graft.") &&
          !e.getClassName.startsWith("graft.util.") &&
          e.getMethodName != "alterManifest")
        .map(e => e.getClassName.split('.').last.takeWhile(_ != '$') +
          "." + e.getMethodName)
        .getOrElse("dml")
      s.sparkContext.setJobDescription(op)
      p
    }
    val t0 = System.nanoTime()
    try f
    finally {
      depth.set(d)
      sess.foreach(s => s.sparkContext
        .setLocalProperty("spark.job.description", prior.flatMap(Option(_)).orNull))
      if (d == 0) nanos.addAndGet(System.nanoTime() - t0)
      ()
    }
  }

  /** Seconds accumulated since the last reset, and reset. */
  def readAndResetSec(): Double = nanos.getAndSet(0L) / 1e9
}
