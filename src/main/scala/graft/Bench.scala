package graft

/** Driver benchmark contract: run every registered query against
  * SPARK_GRAFT_SF_DIR and print exactly ONE JSON line with per-query and
  * total wall seconds.
  *
  * A short untimed warmup on sf0.001 runs first so timed numbers measure the
  * operators, not first-use JIT/codegen compilation (measured 4.2s cold vs
  * 0.5s warm for the same query in one JVM).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.Session.build()

    // Untimed warmup at the smallest SF: one query per heavy code path
    // (native dot + window, LSH hashing, shingle/HOF pipeline, agg/join,
    // HyperplaneBuckets + LSH verify, shingle window/df-cap, the connected-
    // components loop, and the Structured Streaming machinery — each
    // measured 2–4 s slower on first use in a fresh JVM).
    val warmupDir = "/root/testdata/sf0.001"
    Seq("q37_cosine_topk", "q34_minhash_neardup", "q20_window_sma", "q01_pricing_summary",
        "q63_text_embed_neardup", "q36_ngram_jaccard", "q70_dedup_groups",
        "q72_stream_tumbling", "q128_dedup_groups_star")
      .foreach { q =>
        try SparkEntry.queries(q)(spark, warmupDir).count()
        catch { case _: Throwable => () }
      }
    graft.util.Caches.releaseAll()
    spark.catalog.clearCache() // drop warmup persists; timed runs start cold on data

    // Min of THREE runs per query. The global sf0.001 warmup above covers
    // shared code paths, but r6→r7 showed ±1 s swings on UNTOUCHED queries
    // (q79 0.38→1.95, q06 0.12→0.72) — first runs still pay query-specific
    // JIT, page-cache faults, and GC debt from whatever ran before, and
    // with only two samples one bad run lands in the reported min half the
    // time. Run 1 doubles as the warmup but still competes for the min
    // (it can only help). Cache is cleared between runs so operator-
    // internal persists are rebuilt — the repeat measures the operator,
    // not a warm data cache.
    // A failed query reports -1 (never a small-looking elapsed time) and
    // logs to stderr — regressions must not masquerade as speedups.
    // bench_full.txt records suite POSITION and all three samples per query
    // (not just the min): when a number moves between rounds, the first
    // question is "was it late in the suite / was one sample an outlier",
    // and that evidence must exist in the artifact, not be re-derived.
    // (r8 post-mortem: 4 untouched queries regressed in the driver run but
    // were unreproducible in isolation OR a full in-suite rerun — transient
    // co-located load; position + samples would have shown it immediately.)
    // Each sample is additionally stamped with its wall-clock start time and
    // the 1-min system load (/proc/loadavg) before and after — two rounds
    // were spent re-litigating whether a slow driver run was environmental;
    // a contended run must be self-evident FROM the artifact (load ≫ the
    // bench's own CPU share at that timestamp) without a rerun.
    val samples =
      collection.mutable.LinkedHashMap.empty[String, (Int, Seq[BenchSample])]
    val results: Seq[(String, Double)] =
      SparkEntry.queries.zipWithIndex.map { case ((name, fn), idx) =>
        def once(): BenchSample = {
          val at = java.time.LocalTime.now().toString.take(12)
          val loadBefore = loadavg()
          graft.util.DmlTimer.readAndResetSec() // drop stray attribution
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).count(); true }
            catch { case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              false
            }
          val t = (System.nanoTime() - t0) / 1e9
          // seconds this run spent inside Layout WRITER entry points —
          // the "builds its own table history" cost (VERDICT r10 Wrong #2);
          // query_sec = sec − setup_sec decomposes the headline per entry
          val setup = graft.util.DmlTimer.readAndResetSec()
          graft.util.Caches.releaseAll()
          spark.catalog.clearCache()
          BenchSample(if (ok) t else -1.0, if (ok) setup else 0.0,
            at, loadBefore, loadavg())
        }
        val base = Seq(once(), once(), once())
        // Adaptive widening (r13 post-mortem: q95's "regression" was pure
        // machine contention — 1.92/4.97/3.54 under load 4.4–4.6): when
        // the three samples spread past 2× on a non-trivial query, take
        // two more and report min-of-5, so a single quiet run can rescue
        // the min and round-over-round comparisons stay trustworthy.
        // The 0.5 s floor keeps sub-second queries (where JIT/page-cache
        // jitter legitimately doubles tiny numbers) from paying 2 extra
        // runs for noise that cannot move the suite total.
        val secs = base.map(_.sec).filter(_ >= 0)
        val runs =
          if (secs.nonEmpty && secs.min > 0.5 && secs.max / secs.min > 2.0)
            base ++ Seq(once(), once())
          else base
        samples(name) = (idx, runs)
        name -> runs.map(_.sec).min
      }.toSeq
    try {
      val full = samples.map { case (k, (idx, runs)) =>
        val best = runs.minBy(_.sec)
        // query_sec clamps at 0: DmlTimer sums writer wall time across
        // THREADS, so a registration running concurrent sinks can
        // attribute more writer-seconds than wall-seconds (review fix —
        // a negative decomposition would corrupt the column's meaning)
        //
        // n= / min3= make the adaptive widening auditable (ADVICE r14):
        // min-of-N is monotonically non-increasing in N, so a round-over-
        // round comparison on a widened (n=5) query against a prior
        // round's min-of-3 carries a one-sided bias — min3 is the
        // LIKE-FOR-LIKE number (min of the first three samples, the same
        // statistic every round reports for non-widened queries)
        f"$k%-34s pos=$idx%03d n=${runs.length}%d " +
          s"min=${r3(runs.map(_.sec).min)} " +
          s"min3=${r3(runs.take(3).map(_.sec).min)} " +
          s"setup_sec=${r3(if (best.sec < 0) 0.0 else math.min(best.setupSec, best.sec))} " +
          s"query_sec=${r3(if (best.sec < 0) best.sec
            else math.max(0.0, best.sec - best.setupSec))} " +
          s"runs=${runs.map(r => r3(r.sec)).mkString(",")} " +
          s"setup=${runs.map(r => r3(r.setupSec)).mkString(",")} " +
          s"at=${runs.map(_.at).mkString(",")} " +
          s"load=${runs.map(r => s"${r.loadBefore}>${r.loadAfter}").mkString(",")}"
      }.mkString("\n")
      java.nio.file.Files.write(java.nio.file.Paths.get("target/bench_full.txt"),
        full.getBytes("UTF-8"))
      // ALSO land the full table at a TRACKED path (target/ is
      // gitignored): BENCH_r16.json carried "dropped":145 — over half the
      // registry invisible to committed round-over-round comparison
      // (VERDICT r16 Wrong #2). The driver commits uncommitted work each
      // round, so this file rides along with the headline JSON.
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.txt"),
        full.getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    // The JSON line prints AFTER spark.stop() (log level ERROR first) so no
    // executor/shutdown stderr can land after it in the driver's combined
    // capture and push it out of the 2 KB tail.
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(jsonLine(results, sfDir))
    System.out.flush()
  }

  /** One timed run: wall seconds (-1 on failure), seconds of that spent
    * inside Layout writer entry points (the per-query table-history
    * "setup" — see graft.util.DmlTimer), start-of-run wall clock, and the
    * 1-min loadavg immediately before/after — the contention evidence the
    * r8/r9 bench post-mortems had to reconstruct by rerunning.
    */
  private case class BenchSample(sec: Double, setupSec: Double, at: String,
                                 loadBefore: String, loadAfter: String)

  /** First field of /proc/loadavg (1-min run-queue average), "?" where the
    * proc filesystem is unavailable — attribution data, never a failure.
    */
  private def loadavg(): String =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").split(" ").head
    catch { case _: Throwable => "?" }

  private def r3(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** The driver-facing headline line. The driver captures only the last
    * ~2000 chars of output and parses the JSON line out of that tail, so
    * the line must (a) be bare JSON — build.sbt forks `run` with
    * `StdoutOutput` so sbt does not prefix it with "[info] " — and (b) stay
    * well under the window: qNN keys + 2-decimal seconds (~1.4 KB for 120
    * queries; 3 decimals tripped the margin at 118). Full names AND full
    * precision go to target/bench_full.txt instead. BenchFormatSpec pins
    * both properties against the real query registry. Takes an ordered Seq
    * (not a Map) so per-query keys print in registry order — a HashMap here
    * turned every round-over-round artifact diff into hash-order noise.
    */
  def jsonLine(results: Seq[(String, Double)], sfDir: String): String = {
    // Per-query values are INTEGER MILLISECONDS ("qunit":"ms", since r11).
    // Seconds at 2 decimals stopped fitting at ~165 registered queries:
    // the window is exactly 2000 chars and "q123":0.25 spends 12 of them;
    // "q123":250 spends 11 and carries MORE precision (the old 2-decimal
    // round lost 10 ms). The headline total stays seconds ("unit":"sec").
    // If the registry ever outgrows even that, the deterministic fallback
    // drops the "q" prefix from the short keys (another ~entry-count
    // chars) rather than silently truncating — BenchFormatSpec pins both
    // representations parse and fit.
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // sf prints as its basename ("sf0.1", not the full path): the driver
    // records it verbatim, and the saved chars matter for the tail window
    val sf = sfDir.stripSuffix("/").split('/').last
    def build(key: String => String): String = {
      val qs = results.map { case (k, v) =>
        "\"" + key(k.takeWhile(_ != '_')) + "\":" +
          (if (v < 0) "-1" else math.round(v * 1000).toString)
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","qunit":"ms","n_queries":${results.size},"queries":$qs,"sf":"$sf"}"""
    }
    val line = build(identity)
    if (line.length < 1950) line
    else {
      val stripped = build(_.stripPrefix("q"))
      if (stripped.length < 1950) stripped
      else {
        // final tier: the whole map cannot fit — keep the SLOWEST entries
        // (the ones a round-over-round comparison needs) and mark the
        // drop loudly rather than let the driver's tail capture truncate
        // the JSON head into a parse failure (review fix)
        val keep = results.sortBy(-_._2)
          .foldLeft((List.empty[(String, Double)], 120)) {
            case ((acc, budget), kv) =>
              if (budget > 0) (kv :: acc, budget - 1) else (acc, budget)
          }._1
        val keepSet = keep.map(_._1).toSet
        val partial = results.filter(r => keepSet(r._1))
        val dropped = results.size - partial.size
        val qs = partial.map { case (k, v) =>
          "\"" + k.takeWhile(_ != '_').stripPrefix("q") + "\":" +
            (if (v < 0) "-1" else math.round(v * 1000).toString)
        }.mkString("{", ",", "}")
        val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
        val sf2 = sfDir.stripSuffix("/").split('/').last
        s"""{"metric":"total","value":${r3(total)},"unit":"sec","qunit":"ms","n_queries":${results.size},"dropped":$dropped,"queries":$qs,"sf":"$sf2"}"""
      }
    }
  }
}
