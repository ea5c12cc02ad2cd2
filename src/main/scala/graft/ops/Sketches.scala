package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable frequency sketches. The distinct-count sketch lives in
  * [[Aggregates.kmvDistinct]] (mergeable and oracle-checked: q42, q135);
  * Spark's own `hll_sketch_agg`/`hll_union_agg`/`hll_sketch_estimate`
  * cover the HLL form without a wrapper.
  */
object Sketches {

  import graft.functions.TextFunctions

  /** Count–min sketch (Cormode & Muthukrishnan 2005) — the mergeable
    * FREQUENCY summary next to HLL's distinct summary: point-lookup
    * heavy-hitter counts over an unbounded key space in `depth·width`
    * integers. Build once per corpus slice, ADD sketches bucket-wise to
    * merge slices (plain sum — no rescan), estimate any key later.
    * Estimates only OVERcount (collisions add, never subtract): within
    * `ε·N` of truth with probability `1−δ` for `width=⌈e/ε⌉`,
    * `depth=⌈ln 1/δ⌉`. Complements [[graft.functions.expressions]]'
    * Misra–Gries top-k: MG answers "which keys are heavy", CMS answers
    * "how heavy is THIS key" for keys chosen after the scan.
    *
    * Portable tier (the D15 pattern): row `i`'s hash is the seeded
    * affine permutation `((a_i·polyHash(key) + b_i) mod P) mod width` —
    * products < 1e18 (ANSI-safe) and every bucket replays in DuckDB from
    * the same inlined `(a_i, b_i)` literals, so the whole
    * build→merge→estimate pipeline hash-oracles.
    */
  object CountMin {
    /** The depth seeded permutations — shared by build, estimate and the
      * inlined oracle literals.
      */
    def perms(depth: Int): Seq[(Long, Long)] = MinHashDedup.perms(depth, seed = 77)

    /** Build: ONE aggregate to (seed, bucket) grain — at most
      * `depth·width` rows out however large the corpus, map-side
      * combinable (the d-way row explode collapses in the partial
      * aggregate). `weight` defaults to 1 per row; pass a count column to
      * fold pre-aggregated data. NULL keys are skipped (they estimate
      * nothing).
      *
      * @return (seed, bucket, cnt) — absent (seed, bucket) pairs are
      *         zero-count (estimate treats missing as 0)
      */
    def build(df: DataFrame, key: Column, depth: Int = 4, width: Int = 512,
              weight: Column = lit(1L)): DataFrame = {
      require(depth >= 1 && width >= 2,
        s"countMin: need depth >= 1 and width >= 2, got ($depth, $width)")
      val rows = array(perms(depth).zipWithIndex.map { case ((a, b), i) =>
        struct(lit(i.toLong).as("seed"),
          pmod(pmod(col("__ph") * lit(a) + lit(b), lit(TextFunctions.PolyP)),
            lit(width.toLong)).as("bucket"))
      }: _*)
      df.filter(key.isNotNull)
        .select(TextFunctions.polyHash(key.cast("string")).as("__ph"),
          weight.as("__w"))
        .select(explode(rows).as("__h"), col("__w"))
        .groupBy(col("__h.seed").as("seed"), col("__h.bucket").as("bucket"))
        .agg(sum(col("__w")).as("cnt"))
    }

    /** Merge sketches built with the SAME (depth, width): bucket-wise
      * sum. CMS is a linear map of the input histogram, so slice sketches
      * add exactly.
      */
    def merge(sketches: DataFrame): DataFrame =
      sketches.groupBy(col("seed"), col("bucket"))
        .agg(sum(col("cnt")).as("cnt"))

    /** Point estimates for a key table: min over the depth counters.
      * The sketch (≤ depth·width rows) BROADCASTS onto the key table —
      * the corpus-sized side never shuffles. Missing buckets count 0.
      *
      * @return keys plus `est_cnt`
      */
    def estimate(sketch: DataFrame, keys: DataFrame, keyCol: String,
                 depth: Int = 4, width: Int = 512): DataFrame = {
      val rows = array(perms(depth).zipWithIndex.map { case ((a, b), i) =>
        struct(lit(i.toLong).as("seed"),
          pmod(pmod(col("__ph") * lit(a) + lit(b), lit(TextFunctions.PolyP)),
            lit(width.toLong)).as("bucket"))
      }: _*)
      keys.filter(col(keyCol).isNotNull)
        .withColumn("__ph", TextFunctions.polyHash(col(keyCol).cast("string")))
        .select(col(keyCol), explode(rows).as("__h"))
        .select(col(keyCol), col("__h.seed").as("seed"),
          col("__h.bucket").as("bucket"))
        .join(broadcast(sketch), Seq("seed", "bucket"), "left")
        .groupBy(col(keyCol))
        .agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))
    }
  }
}
