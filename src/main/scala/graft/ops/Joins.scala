package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Join operators.
  *
  * Reference semantics covered:
  *  - J1 broadcast lookup (/root/reference/extraction.py:85-94 — a 20-entry
  *    Ticker→Company dict mapped over every row): a broadcast hash join
  *    against the dimension, never a shuffle.
  *  - J2 anti join (/root/reference/loading.py:159-169) — see [[Dedup.newRows]].
  *
  * Extensions (J3-J7): thin, intention-revealing wrappers over Catalyst joins.
  * At 100 TB: dimensions under ~spark.sql.autoBroadcastJoinThreshold go
  * broadcast (explicit hint here, so plans don't regress when stats are
  * missing); large-large equi joins shuffle on the key — pre-bucket both
  * sides on the join key to eliminate the exchange entirely; skewed keys are
  * handled by AQE skew-join splitting (enabled by default in Spark 4).
  */
object Joins {

  /** J1: enrich a fact with a small dimension — broadcast, left outer so
    * unmatched facts survive (reference leaves Company null then fills
    * 'Unknown', extraction.py:94 + transformation.py:86).
    */
  def broadcastLookup(fact: DataFrame, dim: DataFrame, key: Seq[String]): DataFrame =
    fact.join(broadcast(dim), key, "left")

  def inner(l: DataFrame, r: DataFrame, keys: Seq[String]): DataFrame = l.join(r, keys, "inner")
  def left(l: DataFrame, r: DataFrame, keys: Seq[String]): DataFrame  = l.join(r, keys, "left")
  def right(l: DataFrame, r: DataFrame, keys: Seq[String]): DataFrame = l.join(r, keys, "right")
  def full(l: DataFrame, r: DataFrame, keys: Seq[String]): DataFrame  = l.join(r, keys, "full_outer")
  def semi(l: DataFrame, r: DataFrame, keys: Seq[String]): DataFrame  = l.join(r, keys, "left_semi")
  def anti(l: DataFrame, r: DataFrame, keys: Seq[String]): DataFrame  = l.join(r, keys, "left_anti")
  def cross(l: DataFrame, r: DataFrame): DataFrame = l.crossJoin(r)

  /** J5: value-in-band range join, HALF-OPEN [lo, hi) — contiguous band
    * tables assign boundary values to exactly one band (inclusive-inclusive
    * would double-count rows landing on shared boundaries). Bands are
    * expected small → broadcast, so the theta condition is evaluated as a
    * BroadcastNestedLoop over a tiny build side (O(|fact| × |bands|)
    * comparisons but zero shuffle of the fact). For large-large range
    * joins, bucketize the value into coarse grid cells and equi-join on the
    * cell first.
    */
  def bandJoin(fact: DataFrame, bands: DataFrame, value: Column,
               lo: Column, hi: Column): DataFrame =
    fact.join(broadcast(bands), value >= lo && value < hi, "inner")

  /** J5b: the LARGE-LARGE shape of [[bandJoin]] — when the band table is
    * too big to broadcast, a nested-loop over it is quadratic death; the
    * scalable plan quantizes the value axis into width-`cellWidth` grid
    * cells and equi-joins on the cell id. Each fact row lands in exactly
    * ONE cell (so no dedup pass is needed); each band replicates into
    * every cell its [lo, hi) span overlaps (span/cellWidth postings — pick
    * `cellWidth` near the typical band span so replication stays O(1) per
    * band). The exact predicate then refines the cell-collisions; the
    * possible one-cell overshoot at an exclusive upper bound is filtered
    * here too. One hash shuffle per side, AQE splits any hot cell.
    */
  def bandJoinGrid(fact: DataFrame, bands: DataFrame, value: Column,
                   lo: Column, hi: Column, cellWidth: Double): DataFrame = {
    require(cellWidth > 0, s"cellWidth must be positive, got $cellWidth")
    val factCells = fact.withColumn("__cell",
      floor(value / cellWidth).cast("long"))
    val bandCells = bands.withColumn("__cell",
      explode(sequence(floor(lo / cellWidth).cast("long"),
        floor(hi / cellWidth).cast("long"))))
    factCells.join(bandCells, Seq("__cell"))
      .filter(value >= lo && value < hi)
      .drop("__cell")
  }

  /** J10: blocked fuzzy self-join — unordered pairs of rows whose `strCol`
    * values are within `maxDist` Levenshtein edits, compared only INSIDE
    * equal `block` values. Blocking is what makes edit-distance joins
    * feasible at scale: the O(|s|²)-per-pair DP runs on candidate pairs
    * equi-joined by the block key (one keyed shuffle), never on the full
    * cross product — the same candidate-generation-then-verify shape as
    * [[SetSimJoin]], with a user-chosen cheap block (name's last token,
    * length band, phonetic key…) instead of shingle postings. A hot block
    * still costs C(|block|,2) compares; cap or sub-split blocks the way
    * SetSimJoin's dfCap does if the key distribution is skewed.
    *
    * @param block    blocking key expression over `df`'s columns
    * @param minDist  lower bound (1 excludes exact duplicates — usually
    *                 what "fuzzy" means; 0 includes them)
    * @return (id_a, id_b, s_a, s_b, dist), id_a < id_b
    */
  def fuzzyPairs(df: DataFrame, idCol: String, strCol: String, block: Column,
                 maxDist: Int, minDist: Int = 1): DataFrame = {
    require(maxDist >= minDist && minDist >= 0,
      s"need 0 <= minDist <= maxDist, got [$minDist, $maxDist]")
    val a = df.select(col(idCol).as("id_a"), col(strCol).as("s_a"), block.as("__b"))
    val b = df.select(col(idCol).as("id_b"), col(strCol).as("s_b"), block.as("__b"))
    a.join(b, Seq("__b")).filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist").between(minDist, maxDist))
      .drop("__b")
  }

  /** J11: interval OVERLAP join — pairs of half-open intervals [s, e) that
    * intersect (`ls < re && rs < le`), at large-large scale. Spark has no
    * interval join operator; the naive plan is a nested loop (or, with
    * only an equality key, one giant sort-merge group per key).
    *
    * Plan: both sides explode their interval into width-`cellWidth` grid
    * cells on the shared axis, equi-join on (keys…, cell), refine with the
    * exact overlap predicate — and DEDUPLICATE ALGEBRAICALLY: a pair
    * overlaps in every shared cell, so it is emitted only from its
    * canonical cell, the one containing `greatest(ls, rs)` (always shared:
    * for an overlapping pair, max(start) lies inside both intervals). No
    * distinct shuffle. Replication is span/cellWidth postings per row —
    * pick `cellWidth` near the typical interval span.
    *
    * Column NAMES (not exprs) keep post-join references unambiguous; the
    * two frames must not share data column names apart from `keys`
    * (guarded). Endpoints are numeric (timestamps: pass epoch micros —
    * a cast, engine-portable).
    *
    * @param keys equality keys present on both sides (optional; empty =
    *             pure time-axis join, the hardest case — cells alone
    *             spread it)
    * @return left ⨯ right matches with both frames' columns
    */
  def intervalJoinGrid(left: DataFrame, right: DataFrame,
                       lStart: String, lEnd: String, rStart: String, rEnd: String,
                       cellWidth: Double, keys: Seq[String] = Nil): DataFrame = {
    require(cellWidth > 0, s"cellWidth must be positive, got $cellWidth")
    val clash = (left.columns.toSet -- keys).intersect(right.columns.toSet -- keys)
    require(clash.isEmpty, s"ambiguous non-key columns on both sides: $clash")
    def cells(df: DataFrame, s: String, e: String) =
      df.withColumn("__cell", explode(sequence(
        floor(col(s) / cellWidth).cast("long"),
        floor(col(e) / cellWidth).cast("long"))))
    cells(left, lStart, lEnd)
      .join(cells(right, rStart, rEnd), keys :+ "__cell")
      .filter(col(lStart) < col(rEnd) && col(rStart) < col(lEnd) &&
        col("__cell") === floor(greatest(col(lStart), col(rStart)) / cellWidth).cast("long"))
      .drop("__cell")
  }
}
