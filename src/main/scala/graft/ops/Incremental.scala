package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental materialized-aggregate maintenance over a change data feed
  * — the consumer [[graft.sources.Layout.changeFeed]] exists for: keep a
  * grouped (count, sums) rollup current by processing only the CHANGED
  * rows between two versions, never re-scanning the base table. On a
  * 100 TB base with a 1-partition daily merge, the refresh cost is the
  * feed size, not the table size — the classic self-maintainable-view
  * result (counts and sums are invertible; min/max are not and need a
  * recompute or a monotonic-input contract).
  *
  * State schema: `keys…, n_rows, sum_<c>…`. Null measure values are
  * summed as 0 (invertibility needs every row's contribution to be
  * defined; a null that "becomes" a value under update must change the
  * sum by exactly that value).
  *
  * Scale shape: the delta is one hash aggregate over the FEED (tiny);
  * the merge is a keyed full-outer join against the state — broadcast
  * when the delta's key set is small (the common case), shuffle
  * otherwise. Groups whose row count reaches zero are dropped, so state
  * never accretes tombstones.
  */
object Incremental {

  /** Build the initial materialized state from a full snapshot. */
  def materialize(df: DataFrame, keys: Seq[String],
                  sumCols: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        sumCols.map(c => sum(coalesce(col(c), lit(0))).as(s"sum_$c")): _*)

  /** Fold one change feed (insert / delete / update_pre / update_post
    * rows, [[graft.sources.Layout.changeFeed]]'s shape) into the state:
    * post-images add, pre-images and deletes subtract. Applying feeds
    * v0→v1→…→vN in order yields exactly [[materialize]] of vN — the
    * invariant IncrementalSpec pins against random histories.
    */
  def applyFeed(state: DataFrame, feed: DataFrame, keys: Seq[String],
                sumCols: Seq[String]): DataFrame = {
    val sign = when(col("_change_type").isin("insert", "update_post"), 1L)
      .otherwise(-1L)
    val delta = feed.groupBy(keys.map(col): _*)
      .agg(sum(sign).as("__d_n"),
        sumCols.map(c =>
          sum(coalesce(col(c), lit(0)) * sign).as(s"__d_$c")): _*)
    val merged = state.join(delta, keys, "full_outer")
      .select(keys.map(col) ++
        Seq((coalesce(col("n_rows"), lit(0L)) + coalesce(col("__d_n"), lit(0L)))
          .as("n_rows")) ++
        sumCols.map(c =>
          (coalesce(col(s"sum_$c"), lit(0)) + coalesce(col(s"__d_$c"), lit(0)))
            .as(s"sum_$c")): _*)
    merged.filter(col("n_rows") > 0)
  }

  /** Initial per-group MOMENT state — (n, Σv, Σv², non-null count) —
    * from which mean, variance and stddev derive ([[derivedStats]]).
    * Maintained by the plain [[applyFeed]]: all three sums are
    * signed-invertible, so the moment view is self-maintainable under
    * arbitrary change feeds, unlike min/max. The extra columns are
    * `__sq_<valueCol>` and `__nn_<valueCol>`; the non-null count exists
    * so the derived stats keep SQL `avg`/`var_pop` semantics (nulls are
    * IGNORED, not zero-counted — `n_rows` counts every row).
    */
  def materializeMoments(df: DataFrame, keys: Seq[String],
                         valueCol: String): DataFrame =
    materialize(withMomentCols(df, valueCol), keys, momentCols(valueCol))

  /** Fold one change feed into a moment state; see [[materializeMoments]]. */
  def applyFeedMoments(state: DataFrame, feed: DataFrame, keys: Seq[String],
                       valueCol: String): DataFrame =
    applyFeed(state, withMomentCols(feed, valueCol), keys, momentCols(valueCol))

  private def momentCols(valueCol: String): Seq[String] =
    Seq(valueCol, s"__sq_$valueCol", s"__nn_$valueCol")

  private def withMomentCols(df: DataFrame, valueCol: String): DataFrame =
    df.withColumn(s"__sq_$valueCol", col(valueCol) * col(valueCol))
      .withColumn(s"__nn_$valueCol",
        when(col(valueCol).isNotNull, 1L).otherwise(0L))

  /** Mean / population variance / stddev derived from a moment state —
    * the read-side projection (never stored; deriving keeps the stored
    * state invertible). Matches SQL `avg`/`var_pop`/`stddev_pop` exactly:
    * nulls never contribute, and an all-null group derives null stats.
    */
  def derivedStats(state: DataFrame, valueCol: String): DataFrame = {
    val n = col(s"sum___nn_$valueCol").cast("double")
    val mean = when(n > 0, col(s"sum_$valueCol") / n)
    val varPop = when(n > 0,
      col(s"sum___sq_$valueCol") / n - mean * mean)
    // clamp tiny negative values from floating cancellation
    val v = when(varPop.isNotNull, greatest(varPop, lit(0.0)))
    state.withColumn(s"avg_$valueCol", mean)
      .withColumn(s"var_$valueCol", v)
      .withColumn(s"stddev_$valueCol", sqrt(v))
  }

  /** Initial per-group (count, min, max) state from a full snapshot.
    * Min/max ignore null values, as the aggregates do.
    */
  def materializeMinMax(df: DataFrame, keys: Seq[String],
                        valueCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        min(col(valueCol)).as(s"min_$valueCol"),
        max(col(valueCol)).as(s"max_$valueCol"))

  /** Fold one change feed into a min/max state. Min and max are NOT
    * self-maintainable under deletion (removing the extremum reveals an
    * unknown runner-up), so each group carries an implicit INVALIDATION
    * bit: a feed that removes a value at-or-beyond a group's stored
    * extremum (`removed_min ≤ stored_min` or `removed_max ≥ stored_max` —
    * duplicates make equality removal unsafe too) marks the group invalid,
    * and invalid groups alone are recomputed from `current` (the LIVE
    * snapshot the feed leads to) via a semi-join-pruned scan. Everything
    * else — inserts, and deletions strictly inside the (min, max) envelope
    * — folds incrementally: adds can only extend the envelope, interior
    * removals cannot move it.
    *
    * Scale shape: the delta is one aggregate over the feed; the recompute
    * scans only the invalidated groups' rows (partition-pruned when `keys`
    * align with the table layout), which for the typical daily-merge feed
    * is a handful of groups, not the table.
    */
  def applyFeedMinMax(state: DataFrame, feed: DataFrame, keys: Seq[String],
                      valueCol: String, current: DataFrame): DataFrame = {
    val mn = s"min_$valueCol"
    val mx = s"max_$valueCol"
    val isAdd = col("_change_type").isin("insert", "update_post")
    val delta = feed.groupBy(keys.map(col): _*).agg(
      sum(when(isAdd, 1L).otherwise(-1L)).as("__d_n"),
      min(when(isAdd, col(valueCol))).as("__add_min"),
      max(when(isAdd, col(valueCol))).as("__add_max"),
      min(when(!isAdd, col(valueCol))).as("__rm_min"),
      max(when(!isAdd, col(valueCol))).as("__rm_max"))
    // joined is consumed TWICE (the valid fold and the invalid-key set),
    // and each consumer would otherwise re-evaluate the whole state
    // subtree — chained applyFeedMinMax levels then cost 2^levels
    // evaluations of the base fold (a per-job Probe of q153 showed FOUR identical
    // 14-task jobs for a 2-level chain). One tracked persist of the
    // group-grain frame makes each level's fold run once (guide §5 —
    // reuse beats recompute when the frame is small and read twice).
    val joined = graft.util.Caches.cache(state.join(delta, keys, "full_outer")
      .withColumn("__n",
        coalesce(col("n_rows"), lit(0L)) + coalesce(col("__d_n"), lit(0L)))
      // the invalidation bit: some non-null value was removed AND the
      // group's envelope cannot prove the removal was interior
      .withColumn("__invalid", col("__rm_min").isNotNull &&
        (col(mn).isNull || col("__rm_min") <= col(mn) ||
          col("__rm_max") >= col(mx))))
    val valid = joined.filter(!col("__invalid"))
      .select(keys.map(col) ++ Seq(col("__n").as("n_rows"),
        least(col(mn), col("__add_min")).as(mn),
        greatest(col(mx), col("__add_max")).as(mx)): _*)
      .filter(col("n_rows") > 0)
    // invalidated groups are a handful by contract (extremum-touching
    // deletes) — broadcast the key set so the recompute's semi-join never
    // shuffles the live snapshot (guide §3.1)
    val invalidKeys = broadcast(joined.filter(col("__invalid"))
      .select(keys.map(col): _*))
    val recomputed = materializeMinMax(
      current.join(invalidKeys, keys, "left_semi"), keys, valueCol)
    valid.unionByName(recomputed)
  }

  /** Initial state of a materialized EQUI-JOIN view `V = A ⋈ B` (inner
    * join on `joinKeys`) from full snapshots of both sides.
    */
  def materializeJoin(a: DataFrame, b: DataFrame,
                      joinKeys: Seq[String]): DataFrame =
    a.join(b, joinKeys)

  /** Fold change feeds from BOTH sides into a join-view state by
    * AFFECTED-KEY RECOMPUTE — the standard delta-join maintenance shape
    * reduced to one rule that is correct for arbitrary multiset changes
    * (inserts, deletes, updates, on either or both sides at once): any
    * join-key value appearing in either feed has its entire slice of the
    * view recomputed from the CURRENT snapshots; every other view row is
    * untouched (neither side's rows under that key changed, so the join
    * under it cannot have). Handling the pure insert-only case via
    * `ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB` would save the recompute read but is wrong
    * the moment a delete or update appears — and the recompute here is
    * semi-join PRUNED to the affected keys, so its cost is the changed
    * keys' rows, never |A|+|B|.
    *
    * Scale shape: one distinct over the feeds (tiny), one broadcast-able
    * anti-join against the view, two semi-join-pruned snapshot reads
    * (partition-pruned further when `joinKeys` align with either table's
    * layout), one join of the pruned slices.
    *
    * @param currentA/currentB the snapshots the feeds LEAD TO (the same
    *        contract as [[applyFeedMinMax]]'s `current`)
    */
  def applyFeedJoin(view: DataFrame, feedA: DataFrame, feedB: DataFrame,
                    currentA: DataFrame, currentB: DataFrame,
                    joinKeys: Seq[String]): DataFrame = {
    val keyCols = joinKeys.map(col)
    // the touched-key set is O(feed) by the operator's contract (changed
    // keys only, never the table) — say so to the planner: without the
    // hint all three prunes plan as sort-merge joins whose exchanges cost
    // more than the keys they move (q158's initial plan carried 24
    // SortMergeJoins for a 3-commit history; guide §3.1 — pick the
    // strategy deliberately when you know a side is small). No distinct:
    // anti/semi join results are multiset-insensitive on the build side,
    // and the dedup's exchange+aggregate sat on the critical path of
    // every chained level (a feed carries ≤ 2 rows per changed key, so
    // the broadcast stays O(feed) without it).
    val touched = broadcast(feedA.select(keyCols: _*)
      .unionByName(feedB.select(keyCols: _*)))
    val kept = view.join(touched, joinKeys, "left_anti")
    val recomputed = currentA.join(touched, joinKeys, "left_semi")
      .join(currentB.join(touched, joinKeys, "left_semi"), joinKeys)
    kept.unionByName(recomputed)
  }
}
