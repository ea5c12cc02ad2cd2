package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => VF}
import graft.ops.{Quantize, Similarity}

/** Recall/cost SELECTION sweep over the ANN compression ladder (r18) —
  * the operational loop the served ladder was missing: every rung
  * (flat ADC, IVF-PQ, +residual, +OPQ, SQ8; each with and without exact
  * refine) serves correctly, but nothing measured which rung meets a
  * target recall at what byte cost. One call emits, per (rung, refine),
  * recall@k against
  * the EXACT inner-product top-k plus the two physical cost numbers a
  * capacity decision runs on:
  *
  *  - `code_bytes`  — quantized bytes the rung's stage-1 scan reads
  *    (flat/SQ8: one code per corpus row; IVF: only the probed cells'
  *    rows — the nprobe/nlist fraction, counted exactly);
  *  - `float_rows`  — full-precision rows stage 2 re-reads (0 without
  *    refine; the DISTINCT candidate ids with — what the static-IN
  *    pushdown physically fetches).
  *
  * Everything is exact integer algebra over replayable ranks (hits are
  * id-set intersections; recall is a micro-floored ratio of longs), so
  * the whole table is DuckDB-oracle-checkable — no float thresholds.
  * All scoring reuses the pinned [[graft.ops.Quantize]] serving shapes;
  * ties break (score DESC, nn_id) everywhere, so the candidate sets are
  * deterministic cross-engine.
  *
  * SCALE: an offline evaluation job. The only all-pairs leg is the exact
  * ground truth over the EVALUATION query set — |queries| is bounded by
  * contract (a labeled benchmark slice, not production traffic), so the
  * GT join is |corpus|·|queries| dots with the queries broadcast, the
  * [[Similarity.bruteForceTopK]] class. Candidate refine joins hash on
  * the bounded candidate-id set. Nothing here collects.
  */
object AnnSweep {

  /** Sweep the FULL quantized ladder — flat-ADC, IVF-PQ, IVF-PQ
    * +residual (IVFADC), IVF-PQ +OPQ (rotated residual), SQ8 — at
    * refine ∈ {1 (stage-1 only), `refine`} against the exact top-`k`
    * ground truth.
    *
    * @param corpus    (vec_id, embedding) float corpus
    * @param queries   the labeled evaluation slice (vec_id, embedding);
    *                  self-matches are excluded on every rung and in the
    *                  ground truth
    * @param codebooks PQ codebooks for the PQ rungs
    * @param centroids coarse cells for the IVF rungs
    * @param rotation  the OPQ rotation ([[Quantize.seededRotation]] or a
    *                  trained R) for the +OPQ rung
    * @param sqMins    SQ8 per-dimension bounds ([[Quantize.sqTrain]])
    * @return (rung, refine, hits, n_eval, recall_micro, code_bytes,
    *         float_rows) — 10 rows
    */
  def recallCostSweep(corpus: DataFrame, queries: DataFrame,
                      codebooks: Array[Array[Array[Double]]],
                      centroids: DataFrame, nprobe: Int,
                      rotation: Array[Array[Double]],
                      sqMins: Array[Double], sqMaxs: Array[Double],
                      k: Int, refine: Int): DataFrame = {
    require(k >= 1 && refine >= 2,
      "recallCostSweep: k ≥ 1 and refine ≥ 2 (refine = 1 is reported " +
        "as the stage-1 row of each rung)")
    val spark = corpus.sparkSession
    val m = codebooks.length
    val dim = sqMins.length

    val fl = corpus.select(col("vec_id").as("nn_id"),
      col("embedding").cast("array<double>").as("__ve"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("__qe"))
    val wK = Window.partitionBy("query_id")
      .orderBy(col("__s").desc, col("nn_id"))

    // EXACT inner-product top-k — the labeled ground truth every rung's
    // recall reads against (the metric the quantized scores approximate).
    // Tracked lazy persist: two downstream hit-counts read it, and the
    // frame is |queries|·k rows (bounded). Lazy, NOT an eager cut
    // (Caches.cut): the eager form forced AQE's stage-at-a-time
    // materialization, which ran the sweep's independent subtrees
    // SERIALLY (q282 per-job Probe: 36 jobs, 12 of them 1–2-task scoring
    // stages back to back); under one classic job the DAG scheduler
    // overlaps them (20 jobs, jobSum 5.0 → 0.5 s, wall 5.7 → 2.4 s).
    val exact = graft.util.Caches.cache(
      fl.join(broadcast(q), col("nn_id") =!= col("query_id"))
        .withColumn("__s", VF.dot(col("__qe"), col("__ve")))
        .withColumn("rnk", row_number().over(wK)).filter(col("rnk") <= k)
        .select("query_id", "nn_id")
        .coalesce(1))

    // stage-1 candidate lists at k·refine — the pinned serving shapes,
    // all rungs in ONE tagged frame and ONE tracked persist (the
    // 10-row assembly reads the candidates 3× — served cut, refined
    // rerank, float-rows count — and per-row checkpoints measured
    // SLOWER than the naive lazy form: 6+ serialized jobs; the union
    // runs all scoring chains' stages concurrently and is
    // ≤ 5·|q|·k·refine rows). rnk ≤ k of a list IS the unrefined rung
    // (identical ranking).
    val coded = Quantize.encode(corpus, "embedding", codebooks)
      .select(col("vec_id"), col("code"))
    val sqCoded = corpus.select(col("vec_id"),
      Quantize.sqCode(col("embedding"), sqMins, sqMaxs).as("code"))
    def tag(df: DataFrame, rung: String): DataFrame =
      df.select(lit(rung).as("rung"), col("query_id"), col("nn_id"),
        col("rnk").cast("long").as("rnk"))
    val cands = graft.util.Caches.cache(
      tag(Quantize.adcTopK(coded, queries, "vec_id", "embedding",
        codebooks, k * refine), "flat_adc")
      .unionAll(tag(Quantize.ivfPqTopK(corpus, centroids, queries,
        codebooks, nprobe, k * refine), "ivfpq"))
      .unionAll(tag(Quantize.ivfPqResidualTopK(corpus, centroids, queries,
        codebooks, nprobe, k * refine), "ivfpq_res"))
      .unionAll(tag(Quantize.ivfPqOpqTopK(corpus, centroids, queries,
        codebooks, rotation, nprobe, k * refine), "ivfpq_opq"))
      .unionAll(tag(Quantize.sqTopK(sqCoded, queries, "vec_id", "code",
        "embedding", sqMins, sqMaxs, k * refine), "sq8"))
      // ≤ 5·|q|·k·refine rows: land the cache in ONE partition so every
      // downstream reader costs one task, not one per upstream shuffle
      // partition (q287's tail read the un-coalesced cache with 33–39
      // tasks per aggregate, ~0.3 s of pure scheduling each)
      .coalesce(1))

    // ONE stage-2 exact rerank over the tagged union, per (rung, query)
    // — the eval twin of AnnIndex.exactRefine's static-IN serve path
    val refined = fl
      .join(broadcast(cands.select("rung", "query_id", "nn_id")),
        Seq("nn_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("__s", VF.dot(col("__qe"), col("__ve")))
      .withColumn("__r", row_number().over(
        Window.partitionBy("rung", "query_id")
          .orderBy(col("__s").desc, col("nn_id"))))
      .filter(col("__r") <= k)
      .select("rung", "query_id", "nn_id")

    // ONE 1-row stats frame: query/corpus counts plus the rows the IVF
    // probe physically scans (codes in the UNION of probed cells — the
    // partition-pruning fraction, counted exactly); persisted so the
    // corpus count and the IVF assignment run once, not per output row
    val cent = centroids.select(col("vec_id").as("centroid_id"),
      col("embedding").as("cent_emb"),
      VF.dot(col("embedding"), col("embedding")).as("c2"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("qdist"), col("centroid_id"))
    val probedCells = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        VF.dot(col("embedding"), col("embedding")).as("a2"))
      .crossJoin(broadcast(cent))
      .withColumn("qdist", col("a2") + col("c2") -
        lit(2.0) * VF.dot(col("q_emb"), col("cent_emb")))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select("centroid_id").distinct()
    val stats = graft.util.Caches.cache(
      queries.agg(count(lit(1)).as("n_q"))
        .crossJoin(corpus.agg(count(lit(1)).as("n_corpus")))
        .crossJoin(Similarity.ivfAssign(corpus, centroids)
          .select(col("centroid_id"))
          .join(broadcast(probedCells), Seq("centroid_id"))
          .agg(count(lit(1)).as("ivf_rows"))))

    // per-rung aggregates LEFT-joined onto the rung dimension (a groupBy
    // alone would drop a zero-hit rung's row)
    import spark.implicits._
    val rungs = Seq("flat_adc", "ivfpq", "ivfpq_res", "ivfpq_opq", "sq8")
      .toDF("rung")
    val h1 = cands.filter(col("rnk") <= k)
      .join(exact, Seq("query_id", "nn_id"))
      .groupBy("rung").agg(count(lit(1)).as("h1"))
    val hr = refined.join(exact, Seq("query_id", "nn_id"))
      .groupBy("rung").agg(count(lit(1)).as("hr"))
    val fr = cands.select("rung", "nn_id").distinct()
      .groupBy("rung").agg(count(lit(1)).as("fr"))
    val base = rungs.join(h1, Seq("rung"), "left")
      .join(hr, Seq("rung"), "left")
      .join(fr, Seq("rung"), "left")
      .crossJoin(stats)
    // the three IVF variants share the routing, so they scan the same
    // probed-cell rows — only their recall differs
    val codeBytes =
      when(col("rung") === "flat_adc", col("n_corpus") * lit(m.toLong))
        .when(col("rung").startsWith("ivfpq"),
          col("ivf_rows") * lit(m.toLong))
        .otherwise(col("n_corpus") * lit(dim.toLong))
    def outRows(refineN: Int, hits: Column, floatRows: Column): DataFrame =
      base.select(col("rung"), lit(refineN.toLong).as("refine"),
        coalesce(hits, lit(0L)).cast("long").as("hits"),
        (col("n_q") * lit(k.toLong)).cast("long").as("n_eval"),
        floor(coalesce(hits, lit(0L)).cast("double") /
          (col("n_q") * lit(k.toLong)).cast("double") * lit(1e6)
          + lit(0.5)).cast("long").as("recall_micro"),
        codeBytes.cast("long").as("code_bytes"),
        floatRows.cast("long").as("float_rows"))
    outRows(1, col("h1"), lit(0L))
      .unionAll(outRows(refine, col("hr"), coalesce(col("fr"), lit(0L))))
  }

  /** CHOOSE the cheapest ladder rung meeting a recall target — the
    * decision [[recallCostSweep]]'s table exists to drive, as a query
    * instead of an eyeball: qualify rows at `recall_micro ≥ target`,
    * price each at `code_bytes + float_rows · floatRowBytes` (stage 2
    * re-reads full-precision rows; `floatRowBytes` ≈ dim · 8 for double
    * embeddings), rank ascending. `choice_rank = 1` is the serving
    * config to deploy; ZERO rows means no rung meets the target (raise
    * `refine`, widen `nprobe`, or retrain books and re-sweep). Ties
    * break (total_bytes, rung, refine) so the choice is deterministic
    * cross-engine. The ungrouped window is the bounded-grain class: the
    * sweep is ≤ 2 · |rungs| rows by construction.
    */
  def selectRung(sweep: DataFrame, targetRecallMicro: Long,
                 floatRowBytes: Long): DataFrame =
    // the sweep table is ≤ 2·|rungs| rows by construction — pin it before
    // ranking so the selection window reads 10 materialized rows instead
    // of re-planning the whole sweep DAG under one more operator (q287
    // measured the wrapped form re-serializing the sweep's rung subtrees
    // that evaluate concurrently when the sweep is the action root)
    graft.util.Caches.cut(sweep)
      .filter(col("recall_micro") >= targetRecallMicro)
      .withColumn("total_bytes",
        col("code_bytes") + col("float_rows") * lit(floatRowBytes))
      .withColumn("choice_rank", row_number().over(
          Window.orderBy(col("total_bytes"), col("rung"), col("refine")))
        .cast("long"))
      .select("rung", "refine", "recall_micro", "total_bytes",
        "choice_rank")
}
