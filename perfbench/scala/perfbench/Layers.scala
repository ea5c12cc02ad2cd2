package perfbench

import java.io.PrintWriter

import scala.collection.mutable

/** Turns a traced run's spans and listener counts into the per-layer
  * metrics, the per-layer report (one row per layer) and the span dump.
  */
object Layers {
  /** The repository's modules the benchmark calls into. */
  val Names = Seq("sources", "pipeline", "Layout", "ManifestIndex", "plans",
    "streaming", "ops", "model", "util")
  private val CommitKinds = Seq("append", "delete_sql")
  private val ReadKinds = Seq("lookup", "time_travel")

  def metrics(rec: Recorder, passes: Seq[PassResult], tsv: String,
              jsonl: String): Seq[(String, Double, String)] = {
    val traced = passes.filter(p => p.traced && p.ok)
    val tracedIds = traced.map(_.i).toSet
    val spans = rec.spans.filter(s => tracedIds(s.pass)).toSeq
    def counts(s: Span) = rec.counts.get(s.id)
    def durMs(s: Span) = (s.endNs - s.startNs) / 1e6
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(durMs).sum }
    def selfMs(s: Span) = durMs(s) - childMs.getOrElse(s.id, 0.0)
    def named(n: String) = spans.filter(_.name == n)
    def med(xs: Seq[Double]) = Stats.median(xs)
    /** Median over traced passes of a per-pass total. */
    def perPass(f: Seq[Span] => Double, of: Seq[Span]) =
      med(traced.map(p => f(of.filter(_.pass == p.i))))
    def perPassAdd(k: String) = med(rec.perPass.getOrElse(k, mutable.ArrayBuffer.empty[Double]).toSeq)
    def sampled(k: String) = med(rec.samples.getOrElse(k, mutable.ArrayBuffer.empty[Double]).toSeq)
    def ratio(num: String, den: String) = {
      val d = rec.perPass.get(den).map(_.sum).getOrElse(0.0)
      if (d > 0) rec.perPass(num).sum / d else 0.0
    }
    val commits = spans.filter(s => CommitKinds.contains(s.name))
    val reads = spans.filter(s => ReadKinds.contains(s.name))
    val (commitTailP, commitTail) = Stats.tail(commits.map(durMs))
    val (readTailP, readTail) = Stats.tail(reads.map(durMs))

    val untracedS = med(passes.filter(p => !p.traced && p.ok).map(_.passS))
    val tracedS = med(traced.map(_.passS))
    val last = passes.lastOption

    val layerRows = Names.map { l =>
      val ls = spans.filter(_.layer == l)
      val tasks = ls.flatMap(s => counts(s).taskMs).map(_.toDouble)
      l -> Seq(
        "self_ms" -> perPass(_.map(selfMs).sum, ls),
        "cpu_ms" -> perPass(_.map(counts(_).cpuNs / 1e6).sum, ls),
        "task_wait_ms" -> perPass(_.map(counts(_).waitMs.toDouble).sum, ls),
        "median_task_ms" -> med(tasks),
        "max_task_ms" -> perPass(_.flatMap(counts(_).taskMs).foldLeft(0L)(math.max).toDouble, ls),
        "spans" -> perPass(_.size.toDouble, ls),
        "jobs" -> perPass(_.map(counts(_).jobs.toDouble).sum, ls),
        "tasks" -> perPass(_.map(counts(_).tasks.toDouble).sum, ls),
        "shuffle_bytes" -> perPass(_.map(counts(_).shuffleBytes.toDouble).sum, ls),
        "spill_bytes" -> perPass(_.map(counts(_).spillBytes.toDouble).sum, ls),
        "bytes_read" -> perPass(_.map(counts(_).bytesRead.toDouble).sum, ls),
        "plan_ms" -> perPass(_.map(counts(_).planMs).sum, ls),
        "broadcast_bytes" -> perPass(_.map(counts(_).broadcastBytes.toDouble).sum, ls))
    }

    val w = new PrintWriter(tsv)
    try {
      w.println(f"# ${traced.size} traced passes; pass_s traced $tracedS%.4f untraced $untracedS%.4f; " +
        f"tracing overhead ${tracedS - untracedS}%.4f s (${if (untracedS > 0) (tracedS / untracedS - 1) * 100 else 0.0}%.1f%%); " +
        s"commit tail = p$commitTailP of ${commits.size} commits, read tail = p$readTailP of ${reads.size} reads")
      w.println(("layer" +: layerRows.head._2.map(_._1)).mkString("\t"))
      layerRows.foreach { case (l, vs) => w.println((l +: vs.map(v => f"${v._2}%.3f")).mkString("\t")) }
    } finally w.close()

    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val j = new PrintWriter(jsonl)
    try rec.spans.foreach { s =>
      val c = counts(s)
      j.println(s"""{"id": ${s.id}, "layer": "${s.layer}", "name": "${s.name}", """ +
        s""""parent": ${s.parent}, "pass": ${s.pass}, "start_ms": ${(s.startNs - t0) / 1e6}, """ +
        s""""end_ms": ${(s.endNs - t0) / 1e6}, "jobs": ${c.jobs}, "tasks": ${c.tasks}, """ +
        s""""cpu_ms": ${c.cpuNs / 1e6}, "plan_ms": ${c.planMs}, "exec_ms": ${c.execMs}, """ +
        s""""files_read": ${c.filesRead}, "broadcast_bytes": ${c.broadcastBytes}}""")
    } finally j.close()

    def spanMed(n: String, f: Span => Double) = med(named(n).map(f))
    val layerMetrics = layerRows.flatMap { case (l, vs) =>
      vs.take(5).map { case (k, v) => (s"$l.$k", v, if (k.endsWith("_ms")) "ms" else "count") }
    }
    Seq(
      ("Layout.commit_p50_ms", med(commits.map(durMs)), "ms"),
      ("Layout.commit_tail_ms", commitTail, "ms"),
      ("Layout.read_p50_ms", med(reads.map(durMs)), "ms"),
      ("Layout.read_tail_ms", readTail, "ms")) ++
    (CommitKinds :+ "maintain").map(k => (s"Layout.commit_ms.$k", spanMed(k, durMs), "ms")) ++
    Seq(
      ("Layout.jobs_per_commit", med(commits.map(counts(_).jobs.toDouble)), "count"),
      ("Layout.tasks_per_commit", med(commits.map(counts(_).tasks.toDouble)), "count"),
      ("Layout.files_added_per_commit", sampled("Layout.files_added_per_commit"), "count")) ++
    ReadKinds.map(k => (s"Layout.read_ms.$k", spanMed(k, durMs), "ms")) ++
    Seq(
      ("Layout.bytes_written", perPassAdd("Layout.bytes_written"), "B"),
      ("Layout.bytes_written_per_row", ratio("Layout.bytes_written", "Layout.rows_committed"), "B/row"),
      ("Layout.stored_bytes_per_row", sampled("Layout.stored_bytes_per_row"), "B/row"),
      ("Layout.maintain_bytes_rewritten", perPassAdd("Layout.maintain_bytes_rewritten"), "B"),
      ("ManifestIndex.read_ms", spanMed("read", durMs), "ms"),
      ("ManifestIndex.manifest_bytes", sampled("ManifestIndex.manifest_bytes"), "B"),
      ("ManifestIndex.files_per_lookup", sampled("ManifestIndex.files_per_lookup"), "count"),
      ("ManifestIndex.lookup_hit_frac", sampled("ManifestIndex.lookup_hit_frac"), "ratio"),
      ("plans.plan_ms", med(spans.filter(_.layer == "plans").map(counts(_).planMs)), "ms"),
      ("plans.exec_ms", med(spans.filter(_.layer == "plans").map(counts(_).execMs)), "ms"),
      ("streaming.drain_ms", spanMed("drain", durMs), "ms"),
      ("streaming.batches", perPassAdd("streaming.batches"), "count"),
      ("streaming.rows_in", perPassAdd("streaming.rows_in"), "count"),
      ("streaming.lag_versions", sampled("streaming.lag_versions"), "count"),
      ("ops.applyFeed_ms", spanMed("applyFeed", durMs), "ms"),
      ("sources.scan_ms", spanMed("scan", durMs), "ms"),
      ("sources.bytes_read", perPass(_.map(counts(_).bytesRead.toDouble).sum, spans), "B"),
      ("sources.files_read", perPass(_.map(counts(_).filesRead.toDouble).sum, spans), "count"),
      ("pipeline.transform_ms", spanMed("transform", durMs), "ms"),
      ("pipeline.shuffle_bytes",
        perPass(_.filter(_.layer == "pipeline").map(counts(_).shuffleBytes.toDouble).sum, spans), "B"),
      ("pipeline.spill_bytes",
        perPass(_.filter(_.layer == "pipeline").map(counts(_).spillBytes.toDouble).sum, spans), "B"),
      ("pipeline.new_rows_frac", ratio("pipeline.new_rows", "pipeline.staged_rows"), "ratio")) ++
    Seq("jaccardPairs", "dupGroups", "pageRank", "kCore").map(k => (s"ops.${k}_ms", spanMed(k, durMs), "ms")) ++
    Seq("dupGroups", "pageRank", "kCore").map(k =>
      (s"ops.${k}_jobs", spanMed(k, counts(_).jobs.toDouble), "count")) ++
    Seq(
      ("ops.shuffle_bytes",
        perPass(_.filter(_.layer == "ops").map(counts(_).shuffleBytes.toDouble).sum, spans), "B"),
      ("model.serve_ms", spanMed("serve", durMs), "ms"),
      ("model.serve_jobs", spanMed("serve", counts(_).jobs.toDouble), "count"),
      ("model.broadcast_bytes", spanMed("serve", counts(_).broadcastBytes.toDouble), "B"),
      ("model.recall_at_k", sampled("model.recall_at_k"), "ratio")) ++
    layerMetrics ++
    Seq(
      ("util.retained_heap_mb", med(passes.map(_.heapMb)), "MB"),
      ("util.leaked_rdds", last.map(_.leakedRdds.toDouble).getOrElse(0.0), "count"),
      ("util.conf_delta", last.map(_.confDelta.toDouble).getOrElse(0.0), "count"),
      ("util.orphan_roots", last.map(_.orphanRoots.toDouble).getOrElse(0.0), "count"),
      ("trace.pass_s_traced", tracedS, "s"),
      ("trace.pass_s_untraced", untracedS, "s"),
      ("trace.overhead_frac", if (untracedS > 0) tracedS / untracedS - 1 else 0.0, "ratio"))
  }
}
