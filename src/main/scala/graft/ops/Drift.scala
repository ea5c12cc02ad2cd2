package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution-drift monitors between two slices of a corpus — the
  * ingest-health face of the text-analysis pillar: "did this week's
  * crawl change shape against last week's?" asked per key, answered
  * with the two standard statistics (PSI for the binned magnitude of
  * drift, Kolmogorov–Smirnov D for the sharpest distributional
  * distance), both computed from EXACT integer counts so the numbers
  * hash-check across engines.
  *
  * Reference analog: the reference pipeline's transform step recomputes
  * summary statistics per load (`transformation.py:9-21`) — these are
  * the monitors a production version of that step alarms on.
  */
object Drift {

  /** Population Stability Index per key between a REFERENCE slice and a
    * CURRENT slice: `PSI = Σ_bins (p_i − q_i) · ln(p_i / q_i)` over
    * `bins` equal-width bins whose edges come from the REFERENCE's
    * per-key [min, max] envelope (the industry convention — the monitor
    * asks how far CURRENT strayed from where REFERENCE lived; current
    * values outside the envelope clamp into the edge bins). Counts are
    * Laplace-smoothed (+0.5 per bin) so an empty bin contributes a
    * finite term instead of ±∞.
    *
    * Deterministic: bin edges are one double division of exact integer
    * bounds, every p/q is a ratio of exact integer counts, and the
    * per-bin terms are NANO-quantized to longs BEFORE the final sum —
    * integer addition commutes, so partitioning cannot reorder a double
    * accumulation (the q155 discipline). Rule of thumb: PSI < 0.1 ≈
    * stable, > 0.25 ≈ action.
    *
    * Scale shape: two scans die into (key, bin) count tables of at most
    * `|keys| × bins` rows; everything after is broadcast-sized algebra.
    * A constant reference (min = max) puts all mass in bin 0 — defined,
    * not an error (PSI then measures current's mass outside that point).
    *
    * @param ref,cur one row per observation (keys… , valueCol)
    * @return keys… , n_ref, n_cur, psi_nano (PSI in 1e-9 units; keys
    *         present only in one slice drop out — no reference, no PSI)
    */
  def psiDrift(ref: DataFrame, cur: DataFrame, keys: Seq[String],
               valueCol: String, bins: Int = 10): DataFrame =
    psiAgainstReference(referenceHistogram(ref, keys, valueCol, bins),
      cur, keys, valueCol, bins)

  /** The PRECOMPUTABLE half of [[psiDrift]]: the reference slice dies
    * into its per-(key, bin) histogram — envelope bounds, n_ref and bin
    * counts at `|keys| × bins` grain. Persist/publish THIS (it is
    * broadcast-sized) and feed [[psiAgainstReference]] per comparison:
    * a monitor that scores every incoming micro-batch then scans the
    * reference corpus ONCE at setup, not once per batch ([[psiDrift]] is
    * the one-shot composition of the two halves).
    *
    * @return keys… , __bin, __cr (bin count), __lo, __hi, n_ref — bins
    *         with no reference rows are ABSENT (the grid completes in
    *         the scoring half)
    */
  def referenceHistogram(ref: DataFrame, keys: Seq[String],
                         valueCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2, s"referenceHistogram: bins must be >= 2, got $bins")
    val k = keys.map(col)
    // reference envelope per key: exact long bounds (callers pass an
    // integer-grained value — cents, counts, micro-units)
    val env = ref.groupBy(k: _*)
      .agg(min(col(valueCol)).cast("long").as("__lo"),
        max(col(valueCol)).cast("long").as("__hi"),
        count(col(valueCol)).as("n_ref"))
    // RIGHT join: a key whose reference slice holds only NULL values has
    // an env row (n_ref = 0) but no bin counts — it must stay in the
    // histogram (null __bin/__cr row) so the scoring half still emits
    // its smoothing-only PSI row, exactly as the pre-split psiDrift did
    binAgainst(env, ref, keys, valueCol, bins, "__cr")
      .join(env, keys, "right")
  }

  private def binAgainst(env: DataFrame, df: DataFrame, keys: Seq[String],
                         valueCol: String, bins: Int,
                         nCol: String): DataFrame = {
    val k = keys.map(col)
    val w = (col("__hi") - col("__lo")).cast("double") / lit(bins)
    val raw = floor((col(valueCol).cast("double") - col("__lo")) / w)
      .cast("int")
    val b = when(col("__hi") === col("__lo"), lit(0))
      .otherwise(least(greatest(raw, lit(0)), lit(bins - 1)))
    df.join(env.select((k :+ col("__lo") :+ col("__hi")): _*), keys)
      .filter(col(valueCol).isNotNull)
      .select((k :+ b.as("__bin")): _*)
      .groupBy((k :+ col("__bin")): _*)
      .agg(count(lit(1)).as(nCol))
  }

  /** The SCORING half of [[psiDrift]]: PSI of `cur` against a stored
    * [[referenceHistogram]]. Identical algebra and output to
    * [[psiDrift]] (it IS psiDrift's second half — one implementation),
    * with the reference corpus replaced by its bounded histogram.
    */
  def psiAgainstReference(refHist: DataFrame, cur: DataFrame,
                          keys: Seq[String], valueCol: String,
                          bins: Int = 10): DataFrame = {
    require(bins >= 2, s"psiAgainstReference: bins must be >= 2, got $bins")
    val k = keys.map(col)
    val env = refHist
      .groupBy(k: _*)
      .agg(first(col("__lo")).as("__lo"), first(col("__hi")).as("__hi"),
        first(col("n_ref")).as("n_ref"))
    val rc = refHist.select((k :+ col("__bin") :+ col("__cr")): _*)
    val cc = binAgainst(env, cur, keys, valueCol, bins, "__cc")
    // the bin grid must be COMPLETE per key (an empty bin still owes its
    // smoothed term) — cross the keys with the 0..bins-1 grid
    val grid = env.select(k: _*)
      .crossJoin(broadcast(spark_range(bins).toDF("__bin")
        .select(col("__bin").cast("int").as("__bin"))))
    val nRef = env.select((k :+ col("n_ref")): _*)
    // n_cur comes from the per-bin counts already built — every non-null
    // current row landed in exactly one clamped bin, so the tiny
    // (key, bin) table carries the total and the huge current slice is
    // never re-scanned for a count (review fix)
    val nCur = cc.groupBy(k: _*).agg(sum(col("__cc")).as("n_cur"))
    val terms = grid
      .join(rc, keys :+ "__bin", "left")
      .join(cc, keys :+ "__bin", "left")
      .join(nRef, keys).join(nCur, keys)
      .select((k ++ Seq(col("n_ref"), col("n_cur"),
        ((coalesce(col("__cr"), lit(0L)).cast("double") + lit(0.5)) /
          (col("n_ref").cast("double") + lit(0.5) * bins)).as("__p"),
        ((coalesce(col("__cc"), lit(0L)).cast("double") + lit(0.5)) /
          (col("n_cur").cast("double") + lit(0.5) * bins)).as("__q"))): _*)
      // nano-quantize BEFORE summing: integer addition commutes
      .withColumn("__t", floor((col("__p") - col("__q")) *
        log(col("__p") / col("__q")) * lit(1e9) + lit(0.5)).cast("long"))
    terms.groupBy(k: _*)
      .agg(first(col("n_ref")).as("n_ref"), first(col("n_cur")).as("n_cur"),
        sum(col("__t")).as("psi_nano"))
  }

  // spark.range needs a session; build the tiny bin grid from a literal
  // sequence instead so the operator stays session-agnostic
  private def spark_range(n: Int) = {
    val s = org.apache.spark.sql.SparkSession.active
    import s.implicits._
    (0 until n).map(_.toLong).toDF("__bin")
  }

  /** Two-sample Kolmogorov–Smirnov statistic per key:
    * `D = max_v |F_ref(v) − F_cur(v)|` — the sharpest single-number
    * distributional distance, the classic "same distribution?" test the
    * binned PSI smooths over.
    *
    * EXACT: D is computed as `max |c_ref(v)·n_cur − c_cur(v)·n_ref|`
    * over the sorted union of distinct values (cumulative counts are
    * integers, the cross-multiplied numerator is an integer, and the
    * max of integers needs no tolerance); the ONE double division by
    * `n_ref · n_cur` happens after the max, micro-quantized.
    *
    * Scale shape: one union scan dies into a (key, value) count table;
    * the cumulative pass is a per-key window over DISTINCT values —
    * bounded by value cardinality, not row count — and keys partition
    * the sort.
    *
    * @return keys… , n_ref, n_cur, ks_micro (keys missing either slice
    *         drop out — D needs both samples)
    */
  def ksDrift(ref: DataFrame, cur: DataFrame, keys: Seq[String],
              valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = keys.map(col)
    def side(df: DataFrame, tag: Int) =
      df.filter(col(valueCol).isNotNull)
        .select((k :+ col(valueCol).cast("double").as("__v") :+
          lit(tag).as("__tag")): _*)
    val counts = side(ref, 0).unionByName(side(cur, 1))
      .groupBy((k :+ col("__v")): _*)
      .agg(sum(when(col("__tag") === 0, 1L).otherwise(0L)).as("__a"),
        sum(when(col("__tag") === 1, 1L).otherwise(0L)).as("__b"))
    val w = Window.partitionBy(k: _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts
      .withColumn("__ca", sum(col("__a")).over(w))
      .withColumn("__cb", sum(col("__b")).over(w))
    val tot = counts.groupBy(k: _*)
      .agg(sum(col("__a")).as("n_ref"), sum(col("__b")).as("n_cur"))
      .filter(col("n_ref") > 0 && col("n_cur") > 0)
    // the cross-products form in DECIMAL, never Long: per-key samples
    // past ~3e9 rows each (the 100 TB grain) would wrap ca·n_cur in a
    // Long and silently corrupt the max the doc promises is exact
    // (review fix)
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    cum.join(tot, keys)
      .select((k ++ Seq(col("n_ref"), col("n_cur"),
        abs(col("__ca").cast(dec) * col("n_cur").cast(dec) -
          col("__cb").cast(dec) * col("n_ref").cast(dec))
          .as("__num"))): _*)
      .groupBy(k: _*)
      .agg(first(col("n_ref")).as("n_ref"), first(col("n_cur")).as("n_cur"),
        max(col("__num")).as("__mx"))
      .withColumn("ks_micro",
        floor(col("__mx").cast("double") /
          (col("n_ref").cast(dec) * col("n_cur").cast(dec)).cast("double") *
          lit(1000000.0) + lit(0.5)).cast("long"))
      .drop("__mx")
  }

  /** EXACT 1-D Wasserstein-1 (earth mover's) distance per key — the
    * drift number with VALUE UNITS ([[ksDrift]] caps at 1 however far
    * the mass moved; W₁ says "the typical observation shifted by ~37
    * cents"): `W₁ = ∫ |F_ref − F_cur| dv`, which over a discrete sample
    * is the exact sum `Σᵢ |F_ref(vᵢ) − F_cur(vᵢ)| · (vᵢ₊₁ − vᵢ)` along
    * the sorted distinct values.
    *
    * Exact core (the [[ksDrift]] discipline): each term's numerator
    * `|ca·n_cur − cb·n_ref| · gap` forms in DECIMAL from exact integer
    * cumulatives and integer-grained value gaps (the psiDrift cents/
    * counts/micro-units contract), the terms SUM in decimal, and ONE
    * double division by `n_ref·n_cur` lands at the end — so W₁ is an
    * exactly-computed rational, micro-quantized. Keys missing either
    * slice drop.
    *
    * Scale shape: identical to [[ksDrift]] — one union scan to a
    * (key, value) count table, a per-key bounded-codomain window (plus
    * one `lead` over the same sort — no extra shuffle), a per-key
    * reduce.
    *
    * @return keys… , n_ref, n_cur, w1_micro (value units × 1e-6)
    */
  def wasserstein1(ref: DataFrame, cur: DataFrame, keys: Seq[String],
                   valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = keys.map(col)
    def side(df: DataFrame, tag: Int) =
      df.filter(col(valueCol).isNotNull)
        .select((k :+ col(valueCol).cast("long").as("__v") :+
          lit(tag).as("__tag")): _*)
    val counts = side(ref, 0).unionByName(side(cur, 1))
      .groupBy((k :+ col("__v")): _*)
      .agg(sum(when(col("__tag") === 0, 1L).otherwise(0L)).as("__a"),
        sum(when(col("__tag") === 1, 1L).otherwise(0L)).as("__b"))
    val ws = Window.partitionBy(k: _*).orderBy(col("__v"))
    val cum = counts
      .withColumn("__ca", sum(col("__a")).over(
        ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__cb", sum(col("__b")).over(
        ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__gap", lead(col("__v"), 1).over(ws) - col("__v"))
    val tot = counts.groupBy(k: _*)
      .agg(sum(col("__a")).as("n_ref"), sum(col("__b")).as("n_cur"))
      .filter(col("n_ref") > 0 && col("n_cur") > 0)
    val terms = cum.filter(col("__gap").isNotNull)
      .join(tot, keys)
      .select((k :+
        (abs(col("__ca").cast(Dec0) * col("n_cur").cast(Dec0) -
          col("__cb").cast(Dec0) * col("n_ref").cast(Dec0)) *
          col("__gap").cast(Dec0)).as("__t")): _*)
      .groupBy(k: _*)
      .agg(sum(col("__t")).as("__s"))
    // a single-distinct-value key has no gaps but a defined W₁ of 0 —
    // keep it via the totals side, never drop it
    val joined = if (keys.isEmpty) tot.crossJoin(broadcast(terms))
      else tot.join(terms, keys, "left")
    joined
      .withColumn("w1_micro",
        floor(coalesce(col("__s"), lit(0).cast(Dec0)).cast("double") /
          (col("n_ref").cast(Dec0) * col("n_cur").cast(Dec0)).cast("double") *
          lit(1000000.0) + lit(0.5)).cast("long"))
      .drop("__s")
  }

  /** Jensen–Shannon divergence between two slices' CATEGORICAL
    * distributions per key — the drift number for discrete spaces
    * ([[psiDrift]] and [[ksDrift]] cover numerics): token vocabularies
    * between corpus snapshots, event-type mixes between deploys, source
    * mixes between crawl batches. Symmetric and BOUNDED (0 ≤ JSD ≤ ln 2
    * in nats), unlike raw KL, which is infinite the moment one slice has
    * a category the other lacks — exactly the vocabulary-shift case this
    * monitors; under JSD a one-sided category contributes a finite
    * `(c/n)·ln 2` mass.
    *
    * `JSD = ½·Σ_v p·ln(p/m) + q·ln(q/m)` with `m = (p+q)/2`; a side's
    * term is 0 where its probability is 0 (the 0·ln 0 limit). Per-category
    * terms are one fixed IEEE tree each, NANO-quantized before the sum
    * (integer addition commutes — partitioning cannot reorder a double
    * accumulation), halved once at the end.
    *
    * Scale shape: each slice dies into a (key, category) count table in
    * ONE map-side-combinable aggregate; the join grain after is
    * vocabulary-sized, never corpus-sized; per-key totals derive from the
    * count tables (no re-scan). Keys present in only one slice drop — no
    * comparison, no number.
    *
    * @return keys… , n_ref, n_cur, n_categories, jsd_nano (1e-9 nats)
    */
  def jsDrift(ref: DataFrame, cur: DataFrame, keys: Seq[String],
              catCol: String): DataFrame =
    jsAgainstReference(referenceCategories(ref, keys, catCol), cur,
      keys, catCol)

  /** The PRECOMPUTABLE half of [[jsDrift]] — the categorical sibling of
    * [[referenceHistogram]]: the reference slice dies into per-(key,
    * category) counts (broadcast-sized by the bounded-categories
    * contract). Persist THIS and feed [[jsAgainstReference]] per
    * comparison — the streaming monitor's categorical mode scans the
    * reference corpus once at setup, never per micro-batch.
    *
    * @return keys… , __cat, __cr
    */
  def referenceCategories(ref: DataFrame, keys: Seq[String],
                          catCol: String): DataFrame = {
    val k = keys.map(col)
    ref.filter(col(catCol).isNotNull)
      .groupBy((k :+ col(catCol).as("__cat")): _*)
      .agg(count(lit(1)).as("__cr"))
  }

  /** The SCORING half of [[jsDrift]]: JS divergence of `cur` against a
    * stored [[referenceCategories]] table — identical algebra and
    * output (jsDrift IS this composition; q232 unchanged).
    */
  def jsAgainstReference(refCats: DataFrame, cur: DataFrame,
                         keys: Seq[String], catCol: String): DataFrame = {
    val k = keys.map(col)
    def cnt(df: DataFrame, nCol: String): DataFrame =
      df.filter(col(catCol).isNotNull)
        .groupBy((k :+ col(catCol).as("__cat")): _*)
        .agg(count(lit(1)).as(nCol))
    val rc = refCats
    val cc = cnt(cur, "__cc")
    val nRef = rc.groupBy(k: _*).agg(sum(col("__cr")).as("n_ref"))
    val nCur = cc.groupBy(k: _*).agg(sum(col("__cc")).as("n_cur"))
    // using-column full outer: Spark coalesces the join columns itself
    val joined = rc.join(cc, keys :+ "__cat", "full_outer")
      .select((k ++ Seq(col("__cat"),
        coalesce(col("__cr"), lit(0L)).as("__cr"),
        coalesce(col("__cc"), lit(0L)).as("__cc"))): _*)
    val p = col("__cr").cast("double") / col("n_ref").cast("double")
    val q = col("__cc").cast("double") / col("n_cur").cast("double")
    val m = (p + q) / lit(2.0)
    val term =
      when(col("__cr") > 0, p * log(p / m)).otherwise(lit(0.0)) +
        when(col("__cc") > 0, q * log(q / m)).otherwise(lit(0.0))
    joined
      .join(nRef, keys).join(nCur, keys)
      .withColumn("__t", floor(term * lit(1e9) + lit(0.5)).cast("long"))
      .groupBy(k: _*)
      .agg(first(col("n_ref")).as("n_ref"), first(col("n_cur")).as("n_cur"),
        count(lit(1)).as("n_categories"),
        floor(sum(col("__t")).cast("double") / lit(2.0) + lit(0.5))
          .cast("long").as("jsd_nano"))
  }

  private val Dec0 =
    org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)

  /** Mann–Whitney U test per key — the SIGNIFICANCE sibling of
    * [[ksDrift]] (KS reports the sharpest CDF gap; U asks "does one
    * slice stochastically dominate, and is the shift bigger than
    * chance"): tie-mid-rank U via the exact-integer block form
    * `2U = Σ_v c_cur(v)·(2·c_ref_below(v) + c_ref(v))` (the
    * [[graft.ops.Eval.rocAuc]] rank statistic — AUC and U are the same
    * number in different clothes), the common-language effect size
    * `CLES = U/(m·n)` (= P(cur > ref) + ½·P(tie)), and the normal
    * z-score with the standard tie-corrected variance
    * `σ² = mn/12·((N+1) − Σ(t³−t)/(N(N−1)))`.
    *
    * Exact core: all counts, 2U and Σ(t³−t) form in DECIMAL (products
    * pass Long at corpus scale); z and CLES are single fixed IEEE trees
    * of those exacts, micro-quantized. An all-tied pool has σ = 0 →
    * NULL z (no test), never a division crash. Keys missing either
    * slice drop (U needs both samples).
    *
    * Scale shape: [[ksDrift]]'s — two scans die into a (key, value)
    * count table, one per-key window over DISTINCT values
    * (bounded-codomain contract), one per-key aggregate.
    *
    * @return keys… , n_ref, n_cur, cles_micro, z_micro (z > 0 ⇔ cur
    *         tends larger)
    */
  def uTest(ref: DataFrame, cur: DataFrame, keys: Seq[String],
            valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = keys.map(col)
    def cnt(df: DataFrame, as: String): DataFrame =
      df.filter(col(valueCol).isNotNull)
        .groupBy((k :+ col(valueCol).cast("long").as("__v")): _*)
        .agg(count(lit(1)).as(as))
    val pooled = cnt(ref, "__cr").join(cnt(cur, "__cc"),
        keys :+ "__v", "full_outer")
      .select((k ++ Seq(col("__v"),
        coalesce(col("__cr"), lit(0L)).as("__cr"),
        coalesce(col("__cc"), lit(0L)).as("__cc"))): _*)
    val w = Window.partitionBy(k: _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val t = (col("__cr") + col("__cc")).cast(Dec0)
    val perKey = pooled
      .withColumn("__crb", coalesce(sum(col("__cr")).over(w), lit(0L)))
      .groupBy(k: _*)
      .agg(sum(col("__cr")).as("n_ref"), sum(col("__cc")).as("n_cur"),
        sum(col("__cc").cast(Dec0) *
          (col("__crb").cast(Dec0) * lit(2).cast(Dec0) +
            col("__cr").cast(Dec0))).as("__u2"),
        sum(t * t * t - t).as("__ties"))
      .filter(col("n_ref") > 0 && col("n_cur") > 0)
    val m = col("n_ref").cast("double")
    val n = col("n_cur").cast("double")
    val bigN = m + n
    val sigma2 = m * n / lit(12.0) *
      ((bigN + lit(1.0)) - col("__ties").cast("double") /
        (bigN * (bigN - lit(1.0))))
    val u = col("__u2").cast("double") / lit(2.0)
    def micro(c: Column, as: String) =
      floor(c * lit(1000000.0) + lit(0.5)).cast("long").as(as)
    perKey.select((k ++ Seq(col("n_ref"), col("n_cur"),
      micro(col("__u2").cast("double") / (lit(2.0) * m * n), "cles_micro"),
      micro(when(sigma2 <= 0.0, lit(null))
        .otherwise((u - m * n / lit(2.0)) / sqrt(sigma2)), "z_micro"))): _*)
  }

  /** Quantile–quantile comparison table between two slices: the EXACT
    * type-1 quantile of each slice at a shared permille grid
    * `p ∈ {i/points}` — where [[ksDrift]] reports the single worst CDF
    * gap, the QQ table shows WHERE the distributions diverge (tails vs
    * body), the plot every drift triage starts from. Integer-grained
    * values (the [[psiDrift]] contract: cents, counts, micro-units), so
    * every quantile is an exact table value, no interpolation floats.
    *
    * `q_p = min{v : cum(v) ≥ ⌈p·n⌉}` — cumulative counts over DISTINCT
    * values (the [[ksDrift]] bounded-codomain window), the ceiling in
    * exact integer arithmetic, one broadcast grid join per side.
    *
    * @return (p_permille, ref_q, cur_q, diff) — one row per grid point,
    *         ordered by the caller; empty side ⇒ no rows (a quantile of
    *         nothing is not 0)
    */
  def qqCompare(ref: DataFrame, cur: DataFrame, valueCol: String,
                points: Int = 20): DataFrame = {
    require(points >= 2, s"qqCompare: points must be >= 2, got $points")
    require(1000 % points == 0,
      s"qqCompare: points must divide 1000 (permille grid), got $points")
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    val grid = (1 to points).map(_.toLong).toDF("__i")
    def side(df: DataFrame, as: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val counts = df.filter(col(valueCol).isNotNull)
        .groupBy(col(valueCol).cast("long").as("__v"))
        .agg(count(lit(1)).as("__c"))
        .withColumn("__cum", sum(col("__c")).over(Window.orderBy(col("__v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val n = counts.agg(sum(col("__c")).as("__n"))
      // target rank ⌈i·n/points⌉ in exact decimal: floor((i·n + points−1)/points)
      counts.crossJoin(broadcast(n)).crossJoin(broadcast(grid))
        .filter(col("__cum") >= floor(
          (col("__i").cast(Dec0) * col("__n").cast(Dec0) +
            lit(points - 1).cast(Dec0)) / lit(points).cast(Dec0))
          .cast("long"))
        .groupBy(col("__i"))
        .agg(min(col("__v")).as(as))
    }
    side(ref, "ref_q").join(side(cur, "cur_q"), Seq("__i"))
      .select((col("__i") * lit(1000L / points)).as("p_permille"),
        col("ref_q"), col("cur_q"), (col("cur_q") - col("ref_q")).as("diff"))
  }
}
