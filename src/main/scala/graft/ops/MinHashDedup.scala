package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.TextFunctions
import graft.util.Caches, Caches.Round

/** D5 (north star): MinHash + LSH near-duplicate detection for documents.
  *
  * Pipeline: tokens → word n-gram shingles → k minhash values (min over
  * shingles of a seeded xxhash64) → group the signature into b bands of r
  * values → explode to (band_idx, band_hash) buckets → self-join within
  * buckets → distinct candidate pairs → exact Jaccard verification on the
  * shingle sets.
  *
  * Scale shape: the only wide operations are (a) the bucket self-join, which
  * shuffles by (band, hash) — tiny keys, and pairs are generated ONLY within
  * buckets (never all-pairs), and (b) the final distinct. Exactly the
  * MMDS-standard LSH layout; at 100 TB the bucket join replaces an O(n²)
  * cross join with Σ|bucket|² work. The verify step re-joins shingle sets by
  * doc id (hash shuffle) and filters on true Jaccard, bounding false
  * positives; recall is tuned by (b, r).
  */
object MinHashDedup {

  /** Seeded 64-bit hash of a shingle. */
  private def seededHash(s: Column, seed: Int): Column = xxhash64(lit(seed), s)

  /** k minhash values over a shingle array (null → empty treated as no
    * signature; docs with no shingles are dropped from dedup).
    */
  def signature(shingleCol: Column, k: Int): Column =
    array((0 until k).map(i =>
      array_min(transform(shingleCol, s => seededHash(s, i)))): _*)

  /** (band_idx, band_hash) pairs from a signature: b bands × r rows. */
  def bands(sig: Column, b: Int, r: Int): Column =
    array((0 until b).map(i =>
      struct(lit(i).as("band"),
        xxhash64((i * r until (i + 1) * r).map(j => element_at(sig, j + 1)): _*)
          .as("bh"))): _*)

  /** Seeded affine permutation constants `(a_i, b_i)` for the PORTABLE
    * signature tier — regenerate with the same seed to inline them as
    * literals in an external oracle's SQL (the [[graft.ops.Quantize]]
    * seeded-replay scheme). `a_i ∈ [1, P)`, `b_i ∈ [0, P)`.
    */
  def perms(k: Int, seed: Int = 34): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed.toLong * 104729 + 17)
    Seq.fill(k)((1L + rnd.nextInt((TextFunctions.PolyP - 1).toInt).toLong,
      rnd.nextInt(TextFunctions.PolyP.toInt).toLong))
  }

  /** PORTABLE k-minhash signature over a PRE-HASHED shingle array
    * (`array<long>` of [[TextFunctions.polyHash]] values): per permutation
    * i, `min over shingles of (a_i*h + b_i) mod P`. Products stay < 1e18
    * (ANSI-safe), and every value replays in DuckDB with the same inlined
    * `(a_i, b_i)` literals — the oracle-checkable face of [[signature]].
    * Hashing ONCE then permuting affinely is also the cheaper plan: k
    * affine maps per shingle instead of k independent hash evaluations.
    */
  def signaturePortable(hashCol: Column, k: Int, seed: Int = 34): Column =
    array(perms(k, seed).map { case (a, b) =>
      array_min(transform(hashCol,
        h => pmod(h * lit(a) + lit(b), lit(TextFunctions.PolyP)))) }: _*)

  /** PORTABLE band keys: fold `acc*131 + sig_j (mod P)` over each band's r
    * signature values — the engine-agnostic stand-in for [[bands]]'
    * xxhash64 combine. Intermediates < 1.4e11.
    */
  def bandsPortable(sig: Column, b: Int, r: Int): Column =
    array((0 until b).map { i =>
      val bh = (i * r until (i + 1) * r).foldLeft(lit(0L): Column)((acc, j) =>
        pmod(acc * lit(131L) + element_at(sig, j + 1), lit(TextFunctions.PolyP)))
      struct(lit(i).as("band"), bh.as("bh"))
    }: _*)

  /** [[nearDupPairs]] on the PORTABLE hash tier — same MMDS pipeline
    * (shingles → k-minhash → b bands → bucket join → exact-Jaccard
    * verify), every hash value replayable by an external SQL oracle (see
    * [[TextFunctions.polyHash]]). The exact-Jaccard verification gate is
    * shared, so both tiers emit only TRUE >=threshold pairs; they differ
    * only in which candidates the bands surface (recall), which the same
    * (b, r) analysis governs.
    */
  def nearDupPairsPortable(docs: DataFrame, idCol: String, textCol: String,
                           shingleN: Int = 3, k: Int = 16, b: Int = 8,
                           threshold: Double = 0.8, seed: Int = 34): DataFrame = {
    require(k % b == 0, "signature length must divide into bands")
    val r = k / b
    val withShingles = graft.util.Caches.cache(docs
      .select(col(idCol).as("id"),
        TextFunctions.shingles(TextFunctions.tokens(col(textCol)), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)).toDF
    // each intermediate materializes behind its own projection, same
    // rationale as [[nearDupPairs]]' sig: composing hashed→sig→bands as
    // one expression would duplicate the per-char polyHash fold into
    // every downstream element_at
    val hashed = withShingles.select(col("id"),
      transform(col("sh"), s => TextFunctions.polyHash(s)).as("hs"))
    val sigs = hashed.select(col("id"),
      signaturePortable(col("hs"), k, seed).as("sig"))
    val buckets = graft.util.Caches.cache(
      sigs.select(col("id"), explode(bandsPortable(col("sig"), b, r)).as("b"))
        .select(col("id"), col("b.band"), col("b.bh"))).toDF
    val candidates = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    val shA = withShingles.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val shB = withShingles.select(col("id").as("id_b"), col("sh").as("sh_b"))
    candidates.join(shA, "id_a").join(shB, "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Near-duplicate pairs (idA < idB) with exact Jaccard >= `threshold`.
    *
    * @param docs      (id, text)
    * @param idCol     unique document id column name
    * @param textCol   text column name
    * @param shingleN  word-shingle width
    * @param k         minhash signature length (= b*r)
    */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, k: Int = 16, b: Int = 8,
                   threshold: Double = 0.8): DataFrame = {
    require(k % b == 0, "signature length must divide into bands")
    val r = k / b
    // The shingle table is read three times (bucketing + both sides of the
    // verify join) and the bucket table twice (self-join) — persist both.
    // Tiny relative to the corpus: ~|doc| strings and 3 longs × bands per
    // doc; at cluster scale this is the standard LSH materialization step
    // (candidates for a checkpoint/table in a production pipeline).
    val withShingles = graft.util.Caches.cache(docs
      .select(col(idCol).as("id"),
        TextFunctions.shingles(TextFunctions.tokens(col(textCol)), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)).toDF
    // `sig` MUST be materialized behind its own alias before `bands` consumes
    // it: composing bands(signature(...)) as one expression duplicates the
    // 16-hash signature subtree into every element_at — a 16× slowdown
    // (measured 30s → 1s on sf0.01).
    val sigs = withShingles.select(col("id"), signature(col("sh"), k).as("sig"))
    val buckets = graft.util.Caches.cache(
      sigs.select(col("id"), explode(bands(col("sig"), b, r)).as("b"))
        .select(col("id"), col("b.band"), col("b.bh"))).toDF
    val candidates = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    val shA = withShingles.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val shB = withShingles.select(col("id").as("id_b"), col("sh").as("sh_b"))
    candidates.join(shA, "id_a").join(shB, "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Collapse near-dup pairs to a keep-set: every doc maps to the minimum id
    * in its duplicate group (single-link over one hop — exact ONLY when pairs
    * are complete within groups; chains A~B~C without an A~C pair split.
    * [[dupGroups]] is the transitive-closure-correct collapse).
    */
  def canonicalIds(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("id_b").as("id")).agg(min("id_a").as("canonical_id"))

  /** Connected components over a near-dup pair set (id_a, id_b): every id
    * that appears in any pair maps to the MINIMUM id reachable through the
    * pair graph — the transitive-closure-correct duplicate-group collapse
    * (chains A~B~C with no direct A~C pair land in one group).
    *
    * Iterative min-label propagation to fixpoint: each round is one
    * edge⋈label equi-join + a min aggregate — all distributed, no driver
    * data. Labels only DECREASE (min-propagation is monotone), so the
    * fixpoint check is a scalar: Σ labels (exact, decimal) strictly drops on
    * any change and is read in the same job that materializes the round —
    * no separate change-detection join. Rounds needed = graph diameter in
    * the worst case (near-dup groups are shallow in practice).
    *
    * Lineage: every round persists (tracked) and every third round is cut
    * ([[graft.util.Caches.cut]]) — cutting every round pays an extra
    * materialization job per round, and shallow dedup graphs converge in
    * 2-3 rounds, before the first cut.
    *
    * @return (id, component) — one row per distinct id in `pairs`.
    */
  def dupGroups(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    val (edges, _) = rightSized(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct())
    // The per-round groupBy shuffles are left at the session fan-out: AQE
    // (on by default) coalesces each round's near-empty reduce partitions
    // down to the graph's actual size, and the map side is already `p` tasks
    // via the right-sizing above. Overriding spark.sql.shuffle.partitions here
    // would be session-GLOBAL — any query planned concurrently on another
    // thread of the same session would silently compile with graph-sized
    // (possibly 1) shuffle width, exactly the long-lived-session hazard
    // Caches exists to avoid.

    // Exact label checksum; materializes `df`'s persist in the same job.
    // O(1) driver data — the standard Pregel-style convergence scalar.
    def checksum(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(sum(col("lbl").cast(DecimalType(38, 0)))).first()
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    // label(v) = min(v, direct neighbors) to start
    val labels0 = Caches.cache(
      edges.select(col("src").as("id"), col("dst").as("lbl"))
        .unionByName(edges.select(col("src").as("id"), col("src").as("lbl")))
        .groupBy("id").agg(min("lbl").as("lbl")))
    // Unconverged labels are not "approximate components", they are WRONG
    // (a chain deeper than maxIter splits silently), so the loop fails
    // loudly; deep graphs belong on [[dupGroupsStar]], whose round count
    // is O(log²) instead of O(diameter).
    val (labels, _) = Caches.iterate((labels0, checksum(labels0)), maxIter,
      Some(s"dupGroups did not converge in $maxIter rounds — the pair " +
        "graph is deeper than min-label propagation can close here; use " +
        "dupGroupsStar")) { case ((labels, prevSum), round) =>
      val step = labels.unionByName(
          edges.join(labels.select(col("id").as("dst"), col("lbl")), "dst")
            .select(col("src").as("id"), col("lbl")))
        .groupBy("id").agg(min("lbl").as("lbl"))
      val next = if (round % 3 == 0) Caches.cut(step) else Caches.cache(step)
      val s = checksum(next)
      Round((next, s), fixpoint = s.compareTo(prevSum) == 0)
    }
    // Every round's labels were materialized by its checksum read, so the
    // caller's action is a narrow scan of the cache, shuffling nothing.
    labels.select(col("id"), col("lbl").as("component"))
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR edge
    * rewriting (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14 — a published technique, re-expressed on DataFrames).
    * Same contract as [[dupGroups]]: every id in `pairs` → minimum
    * reachable id.
    *
    * WHY A SECOND ALGORITHM: [[dupGroups]] propagates labels one hop per
    * round — rounds = graph DIAMETER. Near-dup groups are shallow (2-3
    * hops), where that loop is optimal: measured at sf0.1, q70's loop is
    * ~1.0 s of a ~3.5 s query and finishes in 3 rounds, so a fancier
    * algorithm has nothing to win there (each star round costs MORE jobs:
    * two neighborhood aggregates + two joins vs one join + one aggregate).
    * But identity-resolution / citation / web-link graphs chain: at
    * diameter d, min-label needs d rounds (and silently CANNOT finish
    * inside maxIter for d > 25), while star rewriting contracts path
    * lengths geometrically — O(log² n) rounds in the paper's bound,
    * converging in ~5 rounds on a 200-hop chain where min-label would need
    * 200. That is the 100 TB deep-graph path.
    *
    * Each round: large-star points every node's ABOVE-u neighbors at its
    * neighborhood min (keeps the graph connected, halves long chains);
    * small-star re-points every below-u neighbor at that min (forms
    * stars). Fixpoint = the canonical edge set stops changing, detected by
    * an (edge count, Σ xxhash64(hi, lo)) checksum pair read in the same
    * job that materializes the round — O(1) driver data per round, like
    * [[dupGroups]]' label checksum. At the fixpoint every edge is
    * (member → component-min), so the mapping is one projection; ids that
    * only ever paired with themselves fold back in via one left join.
    *
    * Lineage is cut every round (see the loop for why).
    */
  def dupGroupsStar(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    val allIds = pairs.select(col("id_a").as("id"))
      .unionByName(pairs.select(col("id_b").as("id"))).distinct()
    // canonical undirected edges, self-loops dropped (re-attached at the end)
    val (edges0, p) = rightSized(pairs
      .select(greatest(col("id_a"), col("id_b")).as("hi"),
        least(col("id_a"), col("id_b")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct())

    def checksum(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("hi"), col("lo")).cast(DecimalType(38, 0)))).first()
      (r.getLong(0), if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
    }
    val (edges, _) = Caches.iterate((edges0, checksum(edges0)), maxIter,
        Some(s"dupGroupsStar did not converge in $maxIter rounds")) {
      // an empty edge set is already the fixpoint
      case (state @ (_, (0L, _)), _) => Round(state, fixpoint = true)
      case ((edges, prev), _) =>
      // Every stage below is EXPLICITLY pre-partitioned on its key at the
      // graph-sized width p: cached iterative plans execute without AQE
      // (Spark keeps a cached plan's output partitioning), so leaving the
      // shuffles at the session fan-out costs 5 × 32-task stages per round
      // on a tiny graph — measured 1.9 s/round vs 0.5 s with the explicit
      // p-width exchanges that groupBy/join then REUSE (EnsureRequirements
      // adds no second exchange over a matching hashpartitioning).
      // LARGE-STAR: for each u, m = min(N(u) ∪ {u}); every neighbor v > u
      // re-points at m. Symmetric neighborhoods, one aggregate + one join.
      val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(edges.select(col("lo").as("u"), col("hi").as("v")))
        .repartition(p, col("u"))
      val mins = sym.groupBy("u").agg(min(col("v")).as("__mv"))
        .select(col("u"), least(col("u"), col("__mv")).as("m"))
      // no distinct here: each undirected edge contributes exactly one
      // (v > u) orientation, so |large| = |edges| as a multiset and the
      // round stays a deterministic function of the edge SET after the
      // single distinct below — one shuffle saved per round
      val large = sym.filter(col("v") > col("u")).join(mins, "u")
        .select(col("v").as("hi"), col("m").as("lo"))
        .repartition(p, col("hi"))
      // SMALL-STAR on the now hi→lo directed edges: for each hi u with
      // lo-neighborhood N, m = min(N); every v ∈ N ∪ {u}, v ≠ m re-points
      // at m. (m < u always, and v > m for every emitted edge, so the
      // output is canonical hi > lo by construction.)
      val mins2 = large.groupBy("hi").agg(min(col("lo")).as("m"))
      val small = large.join(mins2, "hi")
        .select(col("lo").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo"))
        .unionByName(mins2.select(col("hi"), col("m").as("lo")))
        .repartition(p, col("hi"), col("lo"))
        .distinct()
      // Lineage is cut EVERY round, not every third like [[dupGroups]]: a
      // star round is a ~10-operator tree, and a cached-but-uncut loop
      // re-ANALYZES the whole accumulated lineage each round (measured:
      // round cost grows 2.7 → 8.9 s by round 3; with a per-round cut it
      // stays flat at ~0.9 s). The extra materialization job is tiny next
      // to the plan-compile it avoids.
      val next = Caches.cut(small)
      val s = checksum(next)
      Round((next, s), fixpoint = s == prev)
    }
    allIds.join(edges.select(col("hi").as("id"), col("lo")), Seq("id"), "left")
      .select(col("id"), coalesce(col("lo"), col("id")).as("component"))
  }

  /** Cut a pair graph's edge table once and right-size it. The pair set is
    * usually FAR smaller than the corpus that produced it (dups are the
    * exception), but it inherits the corpus's shuffle fan-out — so every
    * loop round would schedule dozens of near-empty tasks per job, and
    * scheduling dominates on small graphs (measured at sf0.1: ~2.3 s of a
    * 4.7 s query for [[dupGroups]]' 300-node graph; 10.5 s → 3 s for
    * [[dupGroupsStar]]'s q128 chain, ~5 shuffle stages a round). Off the
    * cut's exact count:
    * ~500k directed edges per partition, `coalesce` so nothing reshuffles.
    * At 100 TB the count keeps the fan-out wide.
    *
    * @return the coalesced edges and their partition count
    */
  private def rightSized(edges: DataFrame): (DataFrame, Int) = {
    val all = Caches.cut(edges)
    val n = all.count()
    val p = math.max(1L, math.min(all.rdd.getNumPartitions.toLong,
      n / 500000L + 1L)).toInt
    (all.coalesce(p), p)
  }
}
