package graft.ops

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.functions._
import graft.util.Num

/** Aggregation operators (SURVEY.md §2.4).
  *
  * The reference's only aggregates are emptiness counts
  * (/root/reference/transformation.py:52, loading.py:111); the full surface
  * here is the [EXT] set: hash aggregate, distinct-count sketches,
  * rollup/cube/grouping sets.
  *
  * Scale notes: groupBy().agg() gets map-side partial aggregation from
  * Catalyst automatically — the shuffle carries one row per (partition, key),
  * not per input row. Exact countDistinct on high-cardinality keys expands to
  * a two-phase aggregate; prefer a sketch ([[kmvDistinct]], constant memory
  * per group) when a few percent error is acceptable at 100 TB.
  */
object Aggregates {

  /** Money-exact sum/avg plus count per group. */
  def summarize(df: DataFrame, keys: Seq[String], value: String): DataFrame =
    df.groupBy(keys.map(col): _*).agg(
      Num.dsum(col(value)).as(s"sum_$value"),
      Num.davg(col(value)).as(s"avg_$value"),
      min(col(value)).as(s"min_$value"),
      max(col(value)).as(s"max_$value"),
      count(lit(1)).as("n"))

  /** A25 (SURVEY §2.18): K-minimum-values distinct-count sketch (Bar-Yossef et al. 2002)
    * on the PORTABLE hash — the oracle-checkable sibling of Spark's
    * `approx_count_distinct` (whose HLL bytes are engine-internal): keep the k
    * smallest distinct hash values per group; with hashes ~uniform on
    * [0, P), `est = (k-1)·P / h_(k)` (exact count when fewer than k
    * distinct hashes exist). DETERMINISTIC — same data, same estimate,
    * any partitioning — and replayable by any engine that can sort a
    * hash list.
    *
    * Scale shape: one dedupe shuffle on (group, hash) collapses repeats
    * (bounded-cardinality reduce keys), then [[TopKAgg]] keeps a k-bounded
    * buffer per group ON THE MAP SIDE — the second shuffle carries at most
    * k values per (group × map partition), never the distinct set. That
    * is the sketch property: O(k) state per group at any cardinality.
    * MERGEABLE by construction: the k smallest of a union is the k
    * smallest of the concatenated per-part k-smallest lists —
    * [[kmvMergeEstimate]] folds leaf sketches upward without re-reading
    * data (q189 pins merged ≡ direct).
    *
    * @return (keys…, n_distinct_est: double [4dp])
    */
  def kmvDistinct(df: DataFrame, keys: Seq[String], of: String,
                  k: Int = 64): DataFrame = {
    require(k >= 2, s"kmvDistinct: k must be >= 2, got $k")
    kmvEstimate(kmvSketches(df, keys, of, k), keys, k)
  }

  /** The seeded affine UNIFORMIZER over the raw polynomial hash
    * (Carter–Wegman universal hashing): raw polyHash of short strings
    * concentrates in the low range (a 5-digit id never exceeds ~1e8),
    * which wrecks the order-statistics estimator — `(A·h + B) mod P` is
    * a bijection whose image of any set spreads ~uniformly, exactly
    * minhash's permutation trick. Same seeded-literal replay scheme as
    * [[MinHashDedup.perms]] (the oracle inlines the same (A, B)).
    */
  private[graft] val KmvPerm: (Long, Long) = MinHashDedup.perms(1, seed = 188).head

  /** Per-group KMV sketch: the k smallest distinct uniformized-hash
    * values, ascending (`array<long>`), as column `kmv`. NULL values are
    * excluded — the `count(DISTINCT …)` SQL semantics the estimate
    * stands in for. The building block [[kmvDistinct]] estimates from
    * and [[kmvMergeEstimate]] merges.
    */
  def kmvSketches(df: DataFrame, keys: Seq[String], of: String,
                  k: Int): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    val (a, b) = KmvPerm
    kmvFold(df
      .filter(col(of).isNotNull)
      .select((keys.map(col) :+
        pmod(TF.polyHash(col(of).cast("string")) * lit(a) + lit(b),
          lit(TF.PolyP)).as("__h")): _*), keys, k)
  }

  /** Fold LEAF sketches (from [[kmvSketches]] at a finer grouping) up to
    * `keys` and estimate: merge = k smallest of the concatenated lists —
    * O(leaves·k) per group, no re-scan of the data. The KMV merge
    * property makes this EXACTLY the direct sketch of the union,
    * PROVIDED `k` does not exceed the k the leaf sketches were built
    * with (a leaf kept only ITS k smallest — ranks beyond that are gone).
    */
  def kmvMergeEstimate(leafSketches: DataFrame, keys: Seq[String],
                       k: Int): DataFrame = {
    require(k >= 2, s"kmvMergeEstimate: k must be >= 2, got $k")
    kmvEstimate(kmvFold(leafSketches
      .select((keys.map(col) :+ explode(col("kmv")).as("__h")): _*),
      keys, k), keys, k)
  }

  /** ROLLING-WINDOW distinct estimate per key and day — "7-day rolling
    * distinct users" — by merging the DAY-grain KMV sketches over a
    * trailing `windowDays` window. The KMV merge property (q189/q135's
    * pin: k smallest of a union = k smallest of the concatenated
    * k-smallest lists) makes the merged estimate EXACTLY the direct
    * sketch of the window's union — so the data is scanned ONCE into
    * |keys|×|days| sketches and every window is O(windowDays · k) list
    * algebra, never a re-count. The alternative every warehouse user
    * knows and dreads — `count(DISTINCT) OVER (RANGE 6 PRECEDING)` —
    * re-scans each window because distinct counts do not compose;
    * sketches do.
    *
    * Deterministic (portable uniformized hashes), so the estimates
    * hash-check. Emits one row per (keys, day PRESENT in the data);
    * windows reach back across absent days (calendar window, not
    * row window).
    *
    * @return keys… , day (timestamp), n_distinct_est
    */
  def kmvRollingDistinct(df: DataFrame, keys: Seq[String], dateCol: String,
                         of: String, windowDays: Int,
                         k: Int = 64): DataFrame = {
    require(windowDays >= 1,
      s"kmvRollingDistinct: windowDays must be >= 1, got $windowDays")
    val withDn = df.withColumn("__dn", unix_date(to_date(col(dateCol))))
    val leaf = kmvSketches(withDn, keys :+ "__dn", of, k)
    // a day's sketch contributes to the windows ENDING on each of the
    // next windowDays days — the explode is over sketches (days × k),
    // never over data rows
    val contrib = leaf.select((keys.map(col) :+
      explode(sequence(col("__dn"), col("__dn") + lit(windowDays - 1)))
        .as("__td") :+ col("kmv")): _*)
    val observed = withDn.filter(col(of).isNotNull)
      .select((keys.map(col) :+ col("__dn").as("__td")): _*).distinct()
    kmvMergeEstimate(contrib, keys :+ "__td", k)
      .join(observed, keys :+ "__td")
      .select((keys.map(col) :+
        date_add(lit(java.sql.Date.valueOf("1970-01-01")),
          col("__td").cast("int")).cast("timestamp").as("day") :+
        col("n_distinct_est")): _*)
  }

  /** Pairwise set-INTERSECTION estimates between every two groups, from
    * the same KMV sketches — "how many distinct `of` values do slices A
    * and B share?" (audience overlap between event types, document
    * overlap between corpus slices). The KMV intersection estimator
    * (Beyer et al. 2007): with M = the k smallest of S_A ∪ S_B,
    * `|A∩B| ≈ (|M ∩ S_A ∩ S_B| / |M|) · |A∪B|_est` where the union
    * estimate is the standard `(k−1)·P / h_k`; when the union has fewer
    * than k distinct hashes both sketches are complete and the
    * intersection is EXACT. Deterministic end to end (the same portable
    * uniformized hashes as [[kmvDistinct]]), so an external engine
    * replays it with list algebra.
    *
    * Scale shape: the data is touched once (the sketch build); the matrix
    * is |groups|² pairs of O(k) arrays — never data-sized, broadcast-
    * joined however large the underlying slices are.
    *
    * @return (key_a, key_b, n_common_est) for key_a < key_b
    */
  def kmvOverlapMatrix(df: DataFrame, key: String, of: String,
                       k: Int): DataFrame = {
    require(k >= 2, s"kmvOverlapMatrix: k must be >= 2, got $k")
    // the sketch build (data scan + dedupe shuffle + TopK fold) feeds
    // BOTH sides of a non-equi self-join no exchange reuse can share —
    // cache it or the data-sized work runs twice (review fix)
    val sk = graft.util.Caches.cache(kmvSketches(df, Seq(key), of, k)).toDF
    val a = sk.select(col(key).as("key_a"), col("kmv").as("kmv_a"))
    val b = sk.select(col(key).as("key_b"), col("kmv").as("kmv_b"))
    val p = graft.functions.TextFunctions.PolyP.toDouble
    a.join(b, col("key_a") < col("key_b"))
      .withColumn("m",
        slice(array_sort(array_union(col("kmv_a"), col("kmv_b"))), 1, k))
      .withColumn("msz", size(col("m")))
      .withColumn("common", size(array_intersect(
        array_intersect(col("m"), col("kmv_a")), col("kmv_b"))))
      .withColumn("n_common_est",
        when(col("msz") < k, col("common").cast("double"))
          .otherwise(round(col("common").cast("double") / lit(k.toDouble) *
            (lit((k - 1).toDouble * p) /
              greatest(element_at(col("m"), k), lit(1L))), 4)))
      .select(col("key_a"), col("key_b"), col("n_common_est"))
  }

  /** Deterministic SAMPLED quantiles: per group, the k rows whose
    * uniformized row-id hash is smallest form a uniform sample (the hash
    * rank is independent of the values — the same bottom-k-by-hash trick
    * as [[kmvSketches]], applied to ROWS), and the quantiles are exact
    * percentiles OF THE SAMPLE. This is the approximate-percentile tier
    * `percentile_approx` occupies, made a pure function of the data:
    * same rows → same sample → same estimate, any partitioning, any
    * engine — so unlike a t-digest the estimates hash-check against an
    * external oracle, and groups with ≤ k rows are EXACT.
    *
    * Scale shape: the [[TopKAgg]] buffer is map-side k-capped, so the
    * shuffle carries ≤ k (hash, value) pairs per (group × partition) —
    * the full-sort cost of exact percentiles never happens; estimator
    * error is the standard sampling bound (~1/√k on the rank).
    *
    * @param rowId a unique row identity column (hash input; values never
    *              enter the hash, so duplicates are sampled fairly)
    * @return keys… , n_sample, p<q·100>… (micro-quantized doubles)
    */
  def hashSampleQuantiles(df: DataFrame, keys: Seq[String], of: String,
                          rowId: String, k: Int,
                          qs: Seq[Double]): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    require(k >= 2, s"hashSampleQuantiles: k must be >= 2, got $k")
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"hashSampleQuantiles: quantiles must be in [0, 1], got $qs")
    // column names are p<q·100>: a non-integral percent (0.999 → "p100")
    // would LIE in the name — refuse rather than round. Tolerance-based:
    // 0.29*100 is 28.999999999999996 in IEEE double and must still count
    // as the whole percent it is (review fix)
    require(qs.forall(q => math.abs(q * 100 - math.round(q * 100)) < 1e-9),
      s"hashSampleQuantiles: quantiles must be whole percents " +
        s"(the output column is named p<q*100>), got $qs")
    val (a, b) = KmvPerm
    val h = pmod(TF.polyHash(col(rowId).cast("string")) * lit(a) + lit(b),
      lit(TF.PolyP))
    val sample = df.filter(col(of).isNotNull && col(rowId).isNotNull)
      .select((keys.map(col) :+ h.as("__h") :+
        col(of).cast("double").as("__v")): _*)
      .groupBy(keys.map(col): _*)
      // score −h: smallest hashes win; hash-collision ties break on the
      // value, mirrored by the oracle's ORDER BY (h, v)
      .agg(graft.functions.expressions.TopKAgg
        .topK(-col("__h"), col("__v"), k).as("__tk"))
      .select((keys.map(col) :+
        explode(col("__tk")).as("__p")): _*)
      .select((keys.map(col) :+ col("__p.id").as("__v")): _*)
    def pName(q: Double): String = s"p${math.round(q * 100)}"
    sample.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_sample"),
        qs.map(q => floor(expr(s"percentile(__v, $q)") * lit(1000000.0) +
          lit(0.5)).cast("long").as(pName(q) + "_micro")): _*)
  }

  /** Shared sketch tail: dedupe the (keys, __h) frame, keep the k
    * smallest per group via the bounded [[TopKAgg]] buffer, project the
    * ascending hash list as `kmv`.
    */
  private def kmvFold(hashed: DataFrame, keys: Seq[String],
                      k: Int): DataFrame =
    hashed.dropDuplicates(keys :+ "__h")
      .groupBy(keys.map(col): _*)
      .agg(graft.functions.expressions.TopKAgg
        .topK(-col("__h"), col("__h"), k).as("__tk"))
      // topK orders score (-h) DESC = h ascending; project the ids
      .select((keys.map(col) :+
        transform(col("__tk"), p => p.getField("id")).as("kmv")): _*)

  private def kmvEstimate(sketches: DataFrame, keys: Seq[String],
                          k: Int): DataFrame =
    sketches.select((keys.map(col) :+
      when(size(col("kmv")) < k, size(col("kmv")).cast("double"))
        .otherwise(round(
          lit((k - 1).toDouble * graft.functions.TextFunctions.PolyP) /
            greatest(element_at(col("kmv"), k), lit(1L)), 4))
        .as("n_distinct_est")): _*)

  def rollupCount(df: DataFrame, keys: Seq[String], value: String): DataFrame =
    df.rollup(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), Num.dsum(col(value)).as(s"sum_$value"))

  def cubeCount(df: DataFrame, keys: Seq[String]): DataFrame =
    df.cube(keys.map(col): _*).agg(count(lit(1)).as("n"))

  /** Volume-weighted average price — composes from built-ins, no UDAF
    * (SURVEY.md §2.4 A7): sum(price*vol)/sum(vol), exact accumulator.
    */
  def vwap(df: DataFrame, keys: Seq[String], price: String, volume: String): DataFrame =
    df.groupBy(keys.map(col): _*).agg(
      (Num.dsum(col(price) * col(volume)) / Num.dsum(col(volume))).as("vwap"))

  /** Pairwise Pearson correlation between every two keyed series, paired on
    * a shared time bucket — the cross-asset correlation matrix a financial
    * pipeline derives from per-ticker bars (and the redundancy signal a
    * data-mixing pipeline reads across corpus slices).
    *
    * NOT Spark's `corr` (a streaming double accumulator whose result depends
    * on partition order): moments are decimal-exact sums of per-row double
    * products, so the matrix is bit-stable across engines and parallelism —
    * the same [[Num]] discipline as `q51`'s variance. The upper triangle is
    * emitted once (`key_a < key_b`).
    *
    * Scale shape: one aggregate builds the (bucket, key) series; the pair
    * join is per-bucket — |keys|² rows per bucket, fine for asset universes
    * (thousands), and the moment aggregate keyed on (key_a, key_b) is
    * |keys|²-sized, not data-sized. A constant series (zero variance) yields
    * NULL, never a divide-by-zero (ANSI).
    */
  def pairwiseCorr(df: DataFrame, keyCol: String, bucket: Column,
                   value: String): DataFrame = {
    val series = df.groupBy(col(keyCol).as("k"), bucket.as("b"))
      .agg(Num.dsum(col(value)).as("v"))
    val pairs = series.as("x")
      .join(series.as("y"), col("x.b") === col("y.b") && col("x.k") < col("y.k"))
      .select(col("x.k").as("key_a"), col("y.k").as("key_b"),
        col("x.v").as("vx"), col("y.v").as("vy"))
    val m = pairs.groupBy("key_a", "key_b").agg(
      count(lit(1)).as("n"),
      Num.dsum(col("vx")).as("sx"), Num.dsum(col("vy")).as("sy"),
      Num.dsum(col("vx") * col("vx")).as("sxx"),
      Num.dsum(col("vy") * col("vy")).as("syy"),
      Num.dsum(col("vx") * col("vy")).as("sxy"))
    val den = sqrt(col("sxx") - col("sx") * col("sx") / col("n")) *
      sqrt(col("syy") - col("sy") * col("sy") / col("n"))
    m.select(col("key_a"), col("key_b"), col("n"),
      when(den === 0, lit(null))
        .otherwise((col("sxy") - col("sx") * col("sy") / col("n")) / den)
        .as("corr"))
  }
}
