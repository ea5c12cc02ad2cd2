package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.util.Caches, Caches.Round

/** Graph analytics over edge tables — the diagnostics a dedup/link graph
  * needs beyond [[MinHashDedup.dupGroups]]' connected components.
  */
object Graph {

  /** Bounded-iteration PageRank (Page et al. 1999) over a directed edge
    * table `(src, dst)` — centrality for the graphs a data pipeline
    * actually builds: near-dup link graphs (which document is the hub of
    * a template family), citation/reference graphs, co-purchase graphs.
    *
    * Semantics: standard damped PageRank with uniform teleport and
    * DANGLING-MASS redistribution (a node with no out-edges donates its
    * rank to everyone — dropping it would leak mass and the ranks would
    * no longer sum to 1). `iters` is a bounded driver loop over one
    * join+aggregate per round, the same contract as
    * [[Similarity.kmeansStep]] and [[MinHashDedup.dupGroups]]: each round
    * is one lineage cut (a handful of jobs: the edge shuffle, the dangling
    * aggregate, the cut itself). The only driver-side datum is N, counted
    * once per call.
    *
    * Determinism (the oracle contract): per-edge contributions divide in
    * double (same operands every engine), but SUMS run through a
    * `DECIMAL(38,12)` accumulator — addition order cannot change the
    * result, so the final doubles are bit-identical however Spark
    * partitions the shuffle. Same trick as the q119 centroid means.
    *
    * Scale shape: ranks and degrees are node-keyed DataFrames; each
    * iteration shuffles edge contributions once on `dst` (map-side
    * combinable decimal sum) and joins ranks to edges on `src` — both
    * hash-partitioned equi-joins that AQE sizes. The dangling term is a
    * one-row aggregate broadcast into the update. Nothing driver-side
    * grows with the graph.
    *
    * @return one row per node: (node, rank) — ranks sum to ~1
    */
  def pageRank(edges: DataFrame, iters: Int,
               damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "pageRank: at least one iteration")
    val (e, nodes) = walkEdges(edges)
    // N is a scalar every round reads: counted once here, it enters the
    // plan as a literal instead of a one-row aggregate re-broadcast per
    // round. The constant terms divide on the driver (the same IEEE double
    // operations; an empty graph's 1/0 never reaches a row, where a folded
    // plan-side division would throw under ANSI)
    val n = nodes.count().toDouble
    walk(e, nodes, nodes.select(col("node"), col("deg"), lit(1.0 / n).as("rank")),
      iters, damping, lit((1.0 - damping) / n), col("dangle").cast("double") / n)
  }

  /** PERSONALIZED PageRank (the random walk with restart to a SEED SET):
    * teleportation goes uniformly to `seeds` instead of to every node,
    * so the stationary mass measures proximity TO THE SEEDS — the
    * "related items" / "more like these" ranker over co-purchase,
    * citation and near-dup link graphs, where global [[pageRank]]
    * measures importance. Dangling mass restarts at the seeds too (the
    * standard PPR convention — mass must never leak back to the uniform
    * pool or the walk stops being personalized).
    *
    * Seeds outside the graph carry no edges and get no mass (they are
    * dropped by the node semi-join); an EMPTY effective seed set refuses
    * loudly — an all-zero teleport would silently rank everything 0.
    *
    * Determinism and scale shape are [[pageRank]]'s: decimal-accumulated
    * contribution sums, one edge shuffle + node joins per bounded
    * iteration, the teleport vector rides the node table as a column
    * (never driver-side), lineage cut per round.
    *
    * @param seeds one `node` column; duplicates tolerated
    * @return one row per node: (node, rank) — ranks sum to ~1
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int,
                           damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "personalizedPageRank: at least one iteration")
    val (e, nodes) = walkEdges(edges)
    val seedNodes = graft.util.Caches.cache(
      nodes.select(col("node")).join(seeds.select(col("node")).distinct(),
        Seq("node"), "left_semi"))
    val s = seedNodes.count()
    require(s > 0,
      "personalizedPageRank: no seed appears in the graph — an all-zero " +
        "teleport would rank every node 0")
    val tele = graft.util.Caches.cache(nodes
      .join(seedNodes.withColumn("__is", lit(1)), Seq("node"), "left")
      .select(col("node"), col("deg"),
        when(col("__is").isNotNull, lit(1.0 / s))
          .otherwise(lit(0.0)).as("t")))
    walk(e, tele, tele.select(col("node"), col("deg"), col("t").as("rank")),
      iters, damping, (lit(1.0) - lit(damping)) * col("t"),
      col("dangle").cast("double") * col("t"))
  }

  /** The edges a walk re-reads every round, pinned once (or their
    * derivation, often a join+distinct, re-executes per round) and
    * PRE-PARTITIONED on the per-round join key: a cached relation reports
    * its partitioning, so every round's ranks⋈edges join reuses it instead
    * of re-exchanging the edges (r17 graph-loop pass: −22% in-suite on
    * q154). With them, the node table `(node, deg)` from ONE aggregate
    * over the edges: an edge counts 1 toward its `src` and 0 toward its
    * `dst`, so duplicate edges count toward out-degree and a node with no
    * out-edge gets a null `deg` (dangling). Out-degrees ride the node
    * table as a carried column, so a round joins once, not twice.
    */
  private def walkEdges(edges: DataFrame): (DataFrame, DataFrame) = {
    val e = Caches.cache(
      edges.select(col("src"), col("dst")).repartition(col("src")))
    val deg = sum(col("out"))
    val nodes = e.select(col("src").as("node"), lit(1L).as("out"))
      .union(e.select(col("dst").as("node"), lit(0L).as("out")))
      .groupBy(col("node")).agg(when(deg > 0, deg).as("deg"))
    (e, Caches.cache(nodes))
  }

  /** The damped walk both PageRanks run: per round, dangling nodes pool
    * their rank (`dangle`), the rest split it over their out-edges `e`, and
    * each node of `nodes` takes `teleport + damping · (in_mass +
    * dangleShare)`, both terms read off `nodes` and the round's one-row
    * `dangle`.
    */
  private def walk(e: DataFrame, nodes: DataFrame,
                   init: DataFrame, iters: Int, damping: Double,
                   teleport: Column, dangleShare: Column): DataFrame = {
    val dec = DecimalType(38, 12)
    val ranks = Caches.iterate(init, iters) { (ranks, _) =>
      val dangling = ranks.filter(col("deg").isNull)
        .agg(coalesce(sum(col("rank").cast(dec)), lit(0).cast(dec))
          .as("dangle"))
      val contribs = ranks.filter(col("deg").isNotNull)
        .join(e, ranks("node") === e("src"))
        .select(col("dst").as("node"),
          (col("rank") / col("deg")).cast(dec).as("c"))
        .groupBy(col("node"))
        .agg(sum(col("c")).as("in_mass"))
      Round(Caches.cut(nodes.join(contribs, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"), col("deg"),
          (teleport + lit(damping) *
            (coalesce(col("in_mass"), lit(0).cast(dec)).cast("double") +
              dangleShare)).as("rank"))))
    }
    ranks.select(col("node"), round(col("rank"), 10).as("rank"))
  }

  /** Per-node triangle participation over an undirected edge table —
    * the clustering diagnostic for co-occurrence graphs (two parts in
    * the same order, two docs sharing a shingle): a node in many
    * triangles sits in a dense community, one in none is a bridge.
    *
    * Algorithm: degree-ordered wedge join (Cohen 2009; Suri &
    * Vassilvitskii 2011, the MR-friendly form of Schank & Wagner's
    * forward algorithm). Edges are deduped undirected (self-loops
    * dropped), then ORIENTED from the endpoint with the smaller
    * (degree, node) pair to the larger. Wedges are the self-join of
    * oriented edges on their source; a wedge (u→v, u→w) closes iff the
    * oriented edge v→w exists. Every triangle is found exactly once —
    * at its lowest-ranked corner — and exploded to all three corners
    * for the per-node counts.
    *
    * Scale shape: orientation is THE point. A raw neighbor self-join
    * pays sum(deg²) — a single celebrity node with 10M neighbors means
    * 100T wedges. Ordering by degree caps every oriented out-degree at
    * O(sqrt(m)) amortized (a node only points at NEIGHBORS AT LEAST AS
    * HIGH-DEGREE as itself), so wedge count is bounded by m^1.5
    * worst-case and far less on real graphs. All three steps are
    * hash-partitioned equi-joins on node keys that AQE sizes; nothing
    * is collected, no all-pairs anywhere.
    *
    * Determinism: counts are integers from exact joins — no float
    * accumulation, so the result is partition-order independent.
    *
    * @param edges undirected edge table `(src, dst)`, duplicates and
    *              self-loops tolerated
    * @return one row per node appearing in ≥1 triangle:
    *         (node, n_triangles)
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // canonical undirected form: (lo, hi), self-loops out, multi-edges
    // collapsed — a multi-edge would double-count every triangle it rims
    val undirected = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = undirected.select(col("a").as("node"))
      .union(undirected.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient lower (deg, node) → higher; the struct comparison gives the
    // strict total order the wedge bound needs (ties broken by node id).
    // The hi endpoint's degree RIDES ON THE EDGE: the wedge table is the
    // big intermediate (m^1.5 worst-case) and must never be joined to
    // anything node-keyed — two degree joins against it tripled the
    // shuffled bytes in the first cut (bench: 28 s → the rewrite's cost
    // is one wedge shuffle for the closing probe, nothing else)
    val da = deg.select(col("node").as("a"), col("deg").as("dega"))
    val db = deg.select(col("node").as("b"), col("deg").as("degb"))
    val ranked = undirected.join(da, "a").join(db, "b")
    val aFirst = struct(col("dega"), col("a")) < struct(col("degb"), col("b"))
    val oriented = graft.util.Caches.cache(ranked.select(
      when(aFirst, col("a")).otherwise(col("b")).as("lo"),
      when(aFirst, col("b")).otherwise(col("a")).as("hi"),
      when(aFirst, col("degb")).otherwise(col("dega")).as("hideg")))
    // wedges at the lowest corner: (u→v, u→w) with v before w in the
    // SAME orientation order — the closing edge, if any, is exactly v→w.
    // The self-join shuffles `oriented` on lo once (both sides reuse the
    // exchange); the rank filter reads only carried columns.
    val e1 = oriented.select(col("lo").as("u"), col("hi").as("v"),
      col("hideg").as("degv"))
    val e2 = oriented.select(col("lo").as("u"), col("hi").as("w"),
      col("hideg").as("degw"))
    // §2.5 SKEW GUARD on the wedge self-join: degree orientation bounds a
    // key's oriented fan-out at O(√m), but one √m-degree slot still puts
    // its n² wedges in ONE task (n=1e6 at a 1e12-edge graph ⇒ 1e12 rows
    // in one partition). One aggregate over the cached oriented table
    // prices it; keys whose fan-out SQUARED exceeds
    // graft.triangles.wedgeRowsPerTask (default 64M rows) are salted:
    // the v-side splits deterministically by hash(v), the w-side
    // replicates ONLY the hot keys' rows (replication S·n ≪ the n²
    // wedges it spreads). No key over the bound ⇒ the exact pre-guard
    // plan (TriangleSkewSpec pins both the no-op and the salted result).
    val wedgeCap = oriented.sparkSession.conf
      .getOption("graft.triangles.wedgeRowsPerTask").map { v =>
        val n = scala.util.Try(v.trim.toLong).toOption
        require(n.exists(_ > 0), "graft.triangles.wedgeRowsPerTask must " +
          s"be a positive integer, got '$v'")
        n.get
      }.getOrElse(1L << 26)
    val hot = oriented.groupBy(col("lo")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") * col("__n") > wedgeCap)
      .orderBy(col("__n").desc, col("lo"))
      .limit(8) // the top offenders; bounded driver metadata
      .collect()
    // plain boolean rank compare (codegen'd long compares; a struct
    // comparison here ran interpreted inside the join filter)
    val wedgePairs =
      if (hot.isEmpty) e1.join(e2.hint("shuffle_hash"), "u")
      else {
        val hotIds = hot.map(_.get(0)).toSeq
        val maxN = hot.map(_.getLong(1)).max
        val salts = math.min(512L,
          (maxN * maxN + wedgeCap - 1) / wedgeCap).toInt
        val isHot = col("u").isin(hotIds: _*)
        val e1s = e1.withColumn("__salt",
          when(isHot, pmod(hash(col("v")), lit(salts))).otherwise(lit(0)))
        val e2s = e2.withColumn("__salt",
          explode(when(isHot, sequence(lit(0), lit(salts - 1)))
            .otherwise(array(lit(0)))))
        e1s.join(e2s.hint("shuffle_hash"), Seq("u", "__salt"))
      }
    val wedges = wedgePairs
      .filter(col("degv") < col("degw") ||
        (col("degv") === col("degw") && col("v") < col("w")))
      .select(col("u"), col("v"), col("w"))
    // closing probe: SHUFFLE_HASH, not sort-merge — the wedge side is
    // the m^1.5 intermediate and must stream through unsorted; the edge
    // side builds a per-partition hash. Measured both alternatives at
    // sf0.1 (1.2M edges, 41M wedges): sort-merge paid two wedge sorts
    // (2/3 of the query), an explicit edge broadcast paid more than the
    // wedge shuffle it saved — and broadcasting the edge SET would cap
    // the operator at memory-sized graphs anyway.
    val triangles = wedges.join(
      oriented.select(col("lo").as("v"), col("hi").as("w"))
        .hint("shuffle_hash"), Seq("v", "w"))
      .select(col("u"), col("v"), col("w"))
    triangles
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Bounded-round k-core peeling (Seidman 1983; the Batagelj–Zaveršnik
    * peel, run data-parallel): repeatedly drop nodes with fewer than `k`
    * neighbors among the survivors. The k-core is the dense backbone a
    * link/co-occurrence graph keeps after the long tail of weakly
    * attached nodes cascades away — the community filter that pairs
    * with [[triangleCounts]]' local density.
    *
    * FIXED round count, not a convergence loop: `rounds` peels run
    * whether or not the set stabilized earlier (extra rounds on a
    * stable set are no-ops by definition), which makes the result an
    * exact replayable function of (edges, k, rounds) — the oracle
    * unrolls the same peels as chained SQL CTEs. Each round removes
    * every currently-under-k node AT ONCE, so dense cores settle in a
    * handful of rounds — but a cascade CAN expose as little as one node
    * per round (worst case O(n) rounds; the spec's seeded graph takes
    * exactly 12 at k=4), so callers needing certainty compare `rounds`
    * against `rounds + 1`: equality is the convergence certificate.
    *
    * Scale shape: each round is two equi-joins of the edge table
    * against the (node-cardinality) survivor set plus one
    * map-side-combined degree count — no wedges, no m^1.5 anywhere;
    * each round's survivors are cut ([[Caches.cut]]). Survivors only
    * shrink, so round cost is monotone non-increasing.
    *
    * @return survivors after `rounds` peels: (node, deg) — deg is the
    *         node's degree within the PREVIOUS round's survivor set,
    *         the quantity the final filter admitted it on (≥ k)
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 12): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    require(rounds >= 1, s"kCore: at least one round, got $rounds")
    // DELTA peel (the Batagelj–Zaveršnik bookkeeping, data-parallel):
    // after the one full degree count, each round only touches edges
    // INCIDENT TO THE JUST-DROPPED NODES — deg(v) −= edges(v, dropped)
    // — instead of recounting every survivor's degree. The edge table
    // is cut once and never rewritten: an edge whose endpoint
    // dropped in an earlier round can never decrement again (a node
    // drops at most once), and deltas land on the survivor frame, where
    // long-gone nodes simply don't join. Replaces two full-edge
    // recount/filter passes per round with one bounded probe (measured
    // at sf0.1: 25 s recount → 13 s shrinking-edge → ~6 s delta).
    // deg_r(v) is by construction the degree within round r−1's
    // survivor set — identical to the fixed-round recount semantics,
    // and an empty dropped set means every later round is a no-op, so
    // the early exit is bit-identical to running all `rounds`.
    val full = Caches.cut(edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    val deg0 = Caches.cut(full.select(col("a").as("node"))
      .union(full.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg")))
    Caches.iterate(deg0, rounds - 1) { (degs, _) =>
      val dropped = degs.filter(col("deg") < k).select("node")
      // SHUFFLE_HASH on the dropped side: strategy fixed regardless of
      // size estimates (a bare filter's selectivity guess misplanned
      // this join into per-round edge sorts), and scale-robust — the
      // round-one drop set can be node-sized, which a broadcast hint
      // would have to hold in every executor
      val delta = full
        .join(dropped.select(col("node").as("a")).hint("shuffle_hash"), "a")
        .select(col("b").as("node"))
        .unionAll(full
          .join(dropped.select(col("node").as("b")).hint("shuffle_hash"), "b")
          .select(col("a").as("node")))
        .groupBy("node").agg(count(lit(1)).as("minus"))
      if (dropped.isEmpty) Round(degs, fixpoint = true)
      else Round(Caches.cut(degs.filter(col("deg") >= k)
        .join(delta, Seq("node"), "left")
        .select(col("node"),
          (col("deg") - coalesce(col("minus"), lit(0L))).as("deg"))))
    }.filter(col("deg") >= k)
  }

  /** HITS hubs & authorities (Kleinberg 1999) over a DIRECTED edge set:
    * authority(v) ← Σ_{u→v} hub(u), hub(u) ← Σ_{u→v} authority(v), each
    * half-step L1-normalized. The two-sided companion to [[pageRank]]'s
    * one-score walk — on a buyer→supplier graph, hubs are the buyers
    * whose purchases concentrate on good suppliers and authorities the
    * suppliers bought by good buyers; the classic query/curation split
    * (good lists vs good pages) PageRank's single score conflates.
    *
    * L1 (not the textbook L2) normalization, deliberately: the norm is
    * then an EXACT decimal sum of the contribution masses and the only
    * float op per node per half-step is one IEEE division — the q154
    * determinism discipline, bit-stable across partitionings and
    * replayable by the oracle without sqrt parity concerns. Rankings are
    * identical under any positive rescaling, so nothing is lost.
    *
    * Scale shape: per half-step, one edge join + a decimal-accumulated
    * hash aggregate at node grain + a one-row broadcast norm — the
    * [[pageRank]] cost model exactly; fixed `iters` bounds the rounds
    * and each half-step's scores are cut ([[Caches.cut]]).
    *
    * @return one row per node: (node, hub, auth), each column L1-summing
    *         to ~1 over the graph
    */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "hits: at least one iteration")
    val dec = DecimalType(38, 12)
    // TWO pre-partitioned edge caches — the auth half joins on src, the
    // hub half on dst; giving each its own partitioning lets BOTH rounds'
    // joins reuse a cached exchange (r17 graph-loop pass). 2× the cache
    // bytes of one copy — edges are (src, dst) pairs, the cheap side of
    // that trade at any scale where the loop itself is affordable
    val eBySrc = graft.util.Caches.cache(
      edges.select(col("src"), col("dst")).repartition(col("src")))
    val eByDst = graft.util.Caches.cache(
      edges.select(col("src"), col("dst")).repartition(col("dst")))
    val nodes = graft.util.Caches.cache(eBySrc.select(col("src").as("node"))
      .union(eBySrc.select(col("dst").as("node"))).distinct())
    // initial hub mass 1 per node — the first normalization washes the
    // scale out, so no N is needed anywhere
    val hub0 = nodes.select(col("node"), lit(1.0).as("hub"))
    val auth0 = nodes.select(col("node"), lit(0.0).as("auth"))
    def half(scores: DataFrame, scoreCol: String, inCol: String,
             outCol: String, outName: String): DataFrame = {
      val e = if (inCol == "src") eBySrc else eByDst
      // raw is consumed TWICE — the tot broadcast and the normalized join
      // below — and without a cut each consumer re-ran the edge join +
      // aggregate (the whole half-step's work, measured ~2× the loop cost
      // at sf0.1; r18 perf). A TRACKED lazy persist materializes the
      // node-grain sums once for both consumers AND releases the blocks
      // via Caches.releaseAll.
      val raw = graft.util.Caches.cache(
        e.join(scores, e(inCol) === scores("node"))
          .select(col(outCol).as("node"), col(scoreCol).cast(dec).as("c"))
          .groupBy(col("node")).agg(sum(col("c")).as("raw")))
      val tot = raw.agg(sum(col("raw")).as("tot"))
      // lineage cut per HALF-step: the auth frame feeds both the next
      // hub half AND the final output, so an uncut half re-executes its
      // join+agg at every consumer — measured 6.0 s (per-half) vs 8.6 s
      // (per-round) at sf0.1; eager materialization is the cheaper side
      // of that trade at every scale where the node table fits storage
      // memory
      Caches.cut(nodes.join(raw, Seq("node"), "left")
        .crossJoin(broadcast(tot))
        .select(col("node"),
          when(col("tot").isNull || col("tot") === 0, lit(0.0))
            .otherwise(coalesce(col("raw"), lit(0).cast(dec)).cast("double") /
              col("tot").cast("double")).as(outName)))
    }
    val (hub, auth) = Caches.iterate((hub0, auth0), iters) { case ((h, _), _) =>
      val a = half(h, "hub", "src", "dst", "auth")
      Round((half(a, "auth", "dst", "src", "hub"), a))
    }
    hub.join(auth, Seq("node"))
      .select(col("node"), round(col("hub"), 10).as("hub"),
        round(col("auth"), 10).as("auth"))
  }

  /** SYNCHRONOUS label propagation (Raghavan et al. 2007) over an
    * UNDIRECTED edge set — the cheap community detector next to
    * [[connectedComponents]] (components answer "reachable at all?",
    * LPA answers "densely knit together?"): every node starts as its own
    * label (its id), and each round simultaneously adopts the most
    * frequent label among its neighbors — ties break to the SMALLEST
    * label, and an isolated node keeps its own. Fixed `iters` rounds
    * from a fixed start = deterministic and replayable (the
    * asynchronous/random-order variants of the literature are
    * deliberately not offered — they are irreproducible by design);
    * exact integer counts, no floats anywhere. Known synchronous-LPA
    * caveat, inherited deliberately: BIPARTITE structures can oscillate
    * between two label assignments round over round (the classic
    * example: an isolated edge swaps labels every round) — consumers
    * wanting a fixed point run an even/odd round pair or break ties by
    * the node's own current label; the fixed-round contract keeps either
    * choice replayable.
    *
    * Scale shape: per round, ONE edge-grain join (labels onto both
    * orientations) + one (node, label) count aggregate (map-side
    * combinable) + one argmax window partitioned BY NODE (bounded by
    * per-node degree — the [[Funnels.sequenceMatch]] class); each
    * round's labels are cut ([[Caches.cut]]). Labels-per-round state is
    * one row per node, never corpus-squared.
    *
    * @param edges (src, dst) — each undirected edge ONCE (orientation
    *              irrelevant; both are expanded internally)
    * @return (node, label) — the community label after `iters` rounds
    */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "labelPropagation: at least one iteration")
    // pre-partitioned on the per-round join key (r17 graph-loop pass)
    val e = graft.util.Caches.cache(
      edges.select(col("src").cast("long").as("a"),
          col("dst").cast("long").as("b"))
        .unionByName(edges.select(col("dst").cast("long").as("a"),
          col("src").cast("long").as("b")))
        .distinct().repartition(col("b"))).toDF
    val nodes = graft.util.Caches.cache(
      e.select(col("a").as("node")).distinct()).toDF
    val labels0 = nodes.select(col("node"), col("node").as("label"))
    Caches.iterate(labels0, iters) { (labels, _) =>
      val votes = e.join(labels, e("b") === labels("node"))
        .select(col("a").as("node"), col("label"))
        .groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("__c"))
      // argmax as ONE map-side-combinable aggregate instead of a window:
      // min over (−count, label) structs IS "most frequent, ties to the
      // smallest label" (struct ordering is field-lexicographic), and it
      // drops the window's extra (node)-repartition + sort — the
      // (node, label) grain is already grouped (r17 graph-loop pass;
      // identical adoptions by construction)
      val adopted = votes
        .groupBy(col("node"))
        .agg(min(struct((-col("__c")).as("nc"), col("label").as("l")))
          .as("__m"))
        .select(col("node"), col("__m.l").as("label"))
      Round(Caches.cut(nodes.join(adopted, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("label"), col("node")).as("label"))))
    }
  }
}
