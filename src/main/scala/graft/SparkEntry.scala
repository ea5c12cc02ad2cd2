package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables
import graft.ops._
import graft.pipeline.FinancePipeline
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.util.Num.{dsum, davg, dsumSql, davgSql}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with DuckDB-equivalent oracle SQL where the operator is
  * SQL-expressible (hash-based ops — minhash/simhash/fingerprint/LSH — are
  * registered rows-only, as the contract permits).
  *
  * Money aggregates go through the exact-decimal accumulator
  * ([[graft.util.Num]]) on BOTH sides so hashes are partitioning- and
  * engine-independent. Event timestamps are truncated ns→µs identically on
  * both sides ([[Tables.events]] / `CAST(ts AS TIMESTAMP)`).
  */
object SparkEntry {

  /** Flagship query (TPC-H Q1 shape) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    q01(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- helpers

  private def ntz(s: String): Column = lit(s).cast("timestamp_ntz")

  /** Events with (user_id, ts)-deduped clicks — shared by q10. */
  private def clicksDeduped(ev: DataFrame): DataFrame =
    Dedup.keepLast(
      ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"), col("value").as("cvalue"),
          col("event_id")),
      Seq("user_id", "cts"), Seq(col("event_id").desc))
      .drop("event_id")

  // ---------------------------------------------------------------- queries

  private def q01(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= ntz("1998-09-02 00:00:00"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        // The triple product is decimal-domain end-to-end: Spark's
        // double→decimal cast rounds the shortest string repr while DuckDB
        // rounds the exact binary value, and price*(1-d)*(1+t) lands on
        // x.xxxx5 boundaries often enough to diverge. Casting the (clean,
        // 2-4dp) INPUTS to decimal is boundary-free in both engines, and the
        // decimal multiply/sum is exact everywhere after that.
        // round(_, 4) (HALF_UP in both engines — DuckDB's decimal CAST
        // truncates on downscale, so round, don't cast) keeps the unscaled
        // value < 2^53 so both engines' decimal→double conversions agree.
        round(sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
          (lit(1).cast(DecimalType(6, 4)) - col("l_discount").cast(DecimalType(6, 4))) *
          (lit(1).cast(DecimalType(6, 4)) + col("l_tax").cast(DecimalType(6, 4)))), 4)
          .cast("double").as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))

  // ListMap: iteration = registration order, so Bench/Verify artifacts list
  // queries q01..qNN stably instead of HashMap hash order (ADVICE r9 — the
  // order noise made round-over-round artifact diffs useless). Lookup is
  // O(n) but n ≈ 140 and callers look up once per query run.
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    scala.collection.immutable.ListMap(
    // --- scans, filters, projections (S5, P1-P8) ---
    "q01_pricing_summary" -> ((s, dir) => q01(s, dir)),

    "q02_filter_project" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= ntz("1996-01-01 00:00:00") &&
          col("l_shipdate") < ntz("1997-01-01 00:00:00") &&
          col("l_discount") > 0.05 && col("l_quantity") < 10)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
          "l_discount")),

    // --- joins (J1-J7) ---
    "q03_top_orders" -> ((s, dir) => {
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    "q04_order_priority" -> ((s, dir) => {
      val bigLines = Tables.lineitem(s, dir).filter(col("l_quantity") > 45)
      Joins.semi(Tables.orders(s, dir), bigLines.select(col("l_orderkey").as("o_orderkey")),
          Seq("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    }),

    "q05_regional_revenue" -> ((s, dir) => {
      val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, dir)
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= ntz("1996-01-01 00:00:00") &&
          col("o_orderdate") < ntz("1997-01-01 00:00:00"))
      val l = Tables.lineitem(s, dir)
      val dim = broadcast(n.join(broadcast(r), col("n_regionkey") === col("r_regionkey")))
      c.join(dim, col("c_nationkey") === col("n_nationkey"))
        .join(o, col("o_custkey") === col("c_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .groupBy("n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    "q06_forecast_revenue" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= ntz("1996-01-01 00:00:00") &&
          col("l_shipdate") < ntz("1997-01-01 00:00:00") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"))),

    "q07_customers_no_orders" -> ((s, dir) =>
      Joins.anti(Tables.customer(s, dir),
          Tables.orders(s, dir)
            .filter(col("o_orderdate") >= ntz("2000-01-01 00:00:00"))
            .select(col("o_custkey").as("c_custkey")), Seq("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))),

    "q08_outer_join_fill" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
          max(col("o_orderpriority")).as("top_priority"),
          dsum(col("o_totalprice")).as("total_spend"))
        .na.fill(Map("top_priority" -> "Unknown", "total_spend" -> 0.0))
    }),

    "q09_band_join" -> ((s, dir) => {
      import s.implicits._
      val bands = Seq(("b0", 0.0, 10.0), ("b1", 10.0, 20.0), ("b2", 20.0, 30.0),
        ("b3", 30.0, 40.0), ("b4", 40.0, 100.0)).toDF("band", "lo", "hi")
      Joins.bandJoin(Tables.lineitem(s, dir), bands,
          col("l_quantity"), col("lo"), col("hi"))
        .groupBy("band")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
    }),

    "q10_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      AsOfJoin.backward(purchases, clicksDeduped(ev), "user_id", "ts", "cts",
        Seq("cts", "cvalue"))
    }),

    // --- dedup / set ops (D1-D5) ---
    "q11_dedup_keep_last" -> ((s, dir) =>
      Dedup.keepLast(Tables.events(s, dir), Seq("user_id", "event_type"),
          Seq(col("ts").desc, col("event_id").desc))
        .select("user_id", "event_type", "event_id", "ts", "value")),

    "q12_exact_dedup_docs" -> ((s, dir) => {
      // Union the corpus with a re-keyed sample of itself so the dedup has
      // actual duplicate groups to find (the synthetic corpus is dup-free).
      val d = Tables.documents(s, dir)
      val copies = d.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000)
      Dedup.unionAll(Seq(d, copies))
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
    }),

    "q13_distinct" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"), pmod(col("user_id"), lit(10)).as("user_bucket"))
        .distinct()),

    "q14_setops" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clickers = ev.filter(col("event_type") === "click").select("user_id").distinct()
      val buyers = ev.filter(col("event_type") === "purchase").select("user_id").distinct()
      clickers.except(buyers).withColumn("tag", lit("only_click"))
        .unionByName(clickers.intersect(buyers).withColumn("tag", lit("both")))
        .select("tag", "user_id")
    }),

    "q15_incremental_antijoin" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val staging = o.filter(col("o_orderkey") % 3 === 0)
      val target = o.filter(col("o_orderkey") % 2 === 0)
      Dedup.newRows(staging, target, Seq("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    }),

    // --- aggregation (A4-A7) ---
    "q16_rollup" -> ((s, dir) =>
      Aggregates.rollupCount(Tables.lineitem(s, dir),
        Seq("l_returnflag", "l_linestatus"), "l_quantity")),

    "q17_cube" -> ((s, dir) =>
      Aggregates.cubeCount(Tables.orders(s, dir), Seq("o_orderstatus", "o_orderpriority"))),

    "q18_grouping_sets" -> ((s, dir) => {
      Tables.events(s, dir).createOrReplaceTempView("graft_events")
      s.sql(s"""
        SELECT event_type, user_id % 10 AS user_bucket,
               COUNT(*) AS n, ${dsumSql("value")} AS sum_value
        FROM graft_events
        GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())
      """)
    }),

    "q19_count_distinct" -> ((s, dir) =>
      Tables.lineitem(s, dir).groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n"))),

    "q44_vwap" -> ((s, dir) =>
      Aggregates.vwap(Tables.lineitem(s, dir), Seq("l_returnflag"),
        "l_extendedprice", "l_quantity")),

    "q45_summarize" -> ((s, dir) =>
      Aggregates.summarize(Tables.events(s, dir), Seq("event_type"), "value")),

    // --- windows (§2.8) ---
    "q20_window_sma" -> ((s, dir) =>
      Windows.sma(Tables.events(s, dir).select("user_id", "event_id", "ts", "value"),
        Seq("user_id"), Seq(col("ts"), col("event_id")), "value", 5, "sma5")),

    "q21_lag_delta" -> ((s, dir) =>
      Windows.lagDelta(Tables.events(s, dir).select("user_id", "event_id", "ts", "value"),
        Seq("user_id"), Seq(col("ts"), col("event_id")), "value", "delta")),

    "q22_rank_topn" -> ((s, dir) =>
      Windows.topNPerKey(
        Tables.orders(s, dir).select("o_custkey", "o_orderkey", "o_totalprice"),
        Seq("o_custkey"), Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
        .withColumn("rn", col("rn").cast("long"))),

    "q23_running_sum" -> ((s, dir) =>
      Windows.runningSum(
        Tables.orders(s, dir).select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"),
        Seq("o_custkey"), Seq(col("o_orderdate"), col("o_orderkey")),
        "o_totalprice", "run_total")
        .select("o_custkey", "o_orderkey", "run_total")),

    // --- calendar / scalar functions (F1-F8, P6) ---
    "q24_calendar" -> ((s, dir) =>
      Cleaning.withCalendar(
          Tables.orders(s, dir).withColumn("d", to_date(col("o_orderdate"))), "d")
        .groupBy("Year", "Quarter", "Weekday")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))),

    "q25_json_extract" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("sum_k"), max(col("k")).as("max_k"),
          count(col("k")).as("n_k"))),

    "q26_string_funcs" -> ((s, dir) =>
      Tables.part(s, dir).select(
        col("p_partkey"),
        upper(col("p_name")).as("uname"),
        substring(col("p_name"), 1, 5).as("pfx"),
        length(col("p_name")).cast("long").as("name_len"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        regexp_extract(col("p_brand"), "[0-9]+", 0).as("brand_num"),
        regexp_replace(col("p_type"), " ", "_").as("type_slug"))),

    "q27_case_when" -> ((s, dir) =>
      Tables.customer(s, dir)
        .withColumn("wealth",
          when(col("c_acctbal") < 0, "debt")
            .when(col("c_acctbal") < 1000, "low")
            .when(col("c_acctbal") < 5000, "mid")
            .otherwise("high"))
        .groupBy("c_mktsegment", "wealth")
        .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("sum_bal"))),

    // NOTE: there is deliberately no q28 — a round-1 numbering gap kept
    // stable (not backfilled) so query ids diff cleanly across rounds.
    "q29_pivot" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(pmod(col("user_id"), lit(20)).as("user_bucket"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0, Seq("click", "view", "purchase", "signup", "error"))),

    // --- text analysis (north star) ---
    "q30_langid" -> ((s, dir) => {
      val toks = TF.tokens(col("text"))
      Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        TF.langId(toks, langMarkers).as("predicted"))
    }),

    "q31_quality" -> ((s, dir) => {
      val d = Tables.documents(s, dir).withColumn("toks", TF.tokens(col("text")))
      d.select(
        col("doc_id"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_m"),
        TF.avgTokenLen(col("toks")).as("avg_token_len"),
        TF.stopwordRatio(col("toks"), stopwords).as("stop_ratio"),
        TF.bpeishCount(col("text")).cast("long").as("n_bpeish"))
    }),

    "q32_token_stats" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("n_tokens", TF.tokenCount(col("text")).cast("long"))
        .withColumn("n_bpeish", TF.bpeishCount(col("text")).cast("long"))
        .groupBy("source")
        .agg(sum(col("n_tokens")).as("sum_tokens"),
          max(col("n_tokens")).as("max_tokens"),
          sum(col("n_bpeish")).as("sum_bpeish"),
          count(lit(1)).as("n_docs"))),

    // portable-hash tier (TextFunctions.polyHash): the oracle replays the
    // fold bit-exactly, so the print is hash-CHECKED, not rows-only
    "q33_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TF.fingerprintPortable(TF.tokens(col("text"))).as("fingerprint"))),

    // dfCap bounds hot-shingle skew (any index key contributes ≤ C(cap,2)
    // pairs); 64 is far above this corpus's max df (14 at sf0.1), so the
    // oracle's uncapped Jaccard matches exactly — the cap exists for the
    // 100 TB path and is behavior-tested with a planted stop-shingle corpus.
    "q36_ngram_jaccard" -> ((s, dir) =>
      SetSimJoin.jaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, threshold = 0.3, blockCol = Some("lang"),
        dfCap = Some(64L))),

    // --- hash-based dedup, PORTABLE tier: seeded affine permutations over
    //     polyHash replay in the oracle as inlined literals, so the LSH
    //     candidate sets (and therefore the verified pairs) hash-match ---
    "q34_minhash_neardup" -> ((s, dir) =>
      MinHashDedup.nearDupPairsPortable(Tables.documents(s, dir), "doc_id",
        "text", shingleN = 3, k = 16, b = 8, threshold = 0.8)),

    "q35_simhash_neardup" -> ((s, dir) =>
      SimHashDedup.nearDupPairsPortable(Tables.documents(s, dir), "doc_id",
        "text", maxDist = 3)),

    // --- similarity search (north star) ---
    "q37_cosine_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 3)
    }),

    "q38_lsh_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), k = 3, nBits = 6, nTables = 6)
    }),

    "q39_vector_neardup" -> ((s, dir) =>
      Similarity.thresholdPairs(Tables.embeddings(s, dir), threshold = 0.4)),

    "q41_ivf_assign" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfAssign(emb, emb.filter(col("vec_id") < 8))
        .select("vec_id", "centroid_id", "cdist")
    }),

    // --- multimodal plumbing (north star) ---
    "q40_multimodal_meta" -> ((s, dir) => {
      val assets = Multimodal.fromDocuments(Tables.documents(s, dir))
      Multimodal.metadataOnly(assets)
        .join(assets.select(col("asset_id"),
          octet_length(col("payload")).cast("long").as("n_bytes")), "asset_id")
    }),

    // --- approximate distinct counts (r14 flip: HLL → KMV so the oracle
    //     can hash-check it; k=128 — a tighter estimate than q188's
    //     k=64, exercising the high-precision end of the sketch) ---
    "q42_approx_distinct" -> ((s, dir) =>
      Aggregates.kmvDistinct(Tables.events(s, dir), Seq("event_type"),
        "user_id", k = 128)),

    // --- exact percentiles (A-ext) ---
    "q43_percentile" -> ((s, dir) =>
      Tables.lineitem(s, dir).groupBy("l_returnflag")
        .agg(expr("percentile(l_extendedprice, 0.5)").as("p50"),
          expr("percentile(l_extendedprice, 0.9)").as("p90"),
          min(col("l_extendedprice")).as("lo"),
          max(col("l_extendedprice")).as("hi"))),

    // --- unpivot / melt (P-ext) ---
    "q46_unpivot" -> ((s, dir) =>
      Tables.part(s, dir)
        .select(col("p_partkey"), col("p_size").cast("double").as("p_size"),
          col("p_retailprice"))
        .unpivot(Array(col("p_partkey")), Array(col("p_size"), col("p_retailprice")),
          "metric", "value")),

    // --- time-range window frame (§2.8 rangeBetween) ---
    "q47_range_frame" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("sec", expr("unix_micros(cast(ts as timestamp)) div 1000000"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("sec").rangeBetween(-60, 0)
      ev.select(col("event_id"), col("user_id"), col("sec"),
        sum(col("value").cast(graft.util.Num.Money)).over(w).cast("double").as("v60"),
        count(lit(1)).over(w).as("n60"))
    }),

    // --- map columns from JSON (F8 ext) ---
    "q48_map_funcs" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(explode(from_json(col("props"),
            org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType,
              org.apache.spark.sql.types.StringType)))
          .as(Seq("key", "value")))
        .groupBy("key")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("long")).as("sum_v"),
          min(col("value").cast("long")).as("min_v"))),

    // --- array functions over token arrays (F9 ext) ---
    "q49_array_funcs" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("toks", TF.tokens(col("text")))
      d.select(
        col("doc_id"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        concat_ws(",", slice(col("toks"), 1, 3)).as("first3"),
        element_at(col("toks"), -1).as("last_tok"),
        array_min(col("toks")).as("min_tok"),
        array_max(col("toks")).as("max_tok"))
    }),

    // --- first/last/nth window values (§2.8) ---
    "q50_first_last" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      val wFull = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_totalprice")).over(wFull).as("first_price"),
          last(col("o_totalprice")).over(wFull).as("last_price"),
          nth_value(col("o_totalprice"), 2).over(wFull).as("second_price"),
          row_number().over(w).as("rn"))
        .filter(col("rn") === 1)
        .select("o_custkey", "first_price", "last_price", "second_price")
    }),

    // --- order-independent statistical aggregates ---
    "q51_stats" -> ((s, dir) =>
      Tables.lineitem(s, dir).groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          dsum(col("l_extendedprice")).as("sx"),
          dsum(col("l_extendedprice") * col("l_extendedprice")).as("sxx"))
        .select(col("l_returnflag"), col("n"),
          (col("sx") / col("n")).as("mean"),
          ((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)).as("var_s"),
          sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)).as("std_s"))),

    // --- scalar / correlated subqueries (Catalyst decorrelation) ---
    // TPC-H Q15 shape: supplier(s) achieving the maximum revenue.
    "q52_top_supplier" -> ((s, dir) => {
      Tables.supplier(s, dir).createOrReplaceTempView("graft_supplier")
      Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
      // the scalar-subquery formulation (WHERE total_rev = (SELECT MAX ...))
      // scanned lineitem twice; the empty-frame window max reuses the single
      // rev aggregate — one fact scan, one agg shuffle, one 1-row broadcast
      s.sql(s"""
        WITH rev AS (
          SELECT l_suppkey,
                 ${dsumSql("l_extendedprice*(1.0-l_discount)")} AS total_rev
          FROM graft_lineitem GROUP BY l_suppkey),
        m AS (SELECT *, MAX(total_rev) OVER () AS max_rev FROM rev)
        SELECT s_suppkey, s_name, total_rev
        FROM graft_supplier JOIN m ON s_suppkey = l_suppkey
        WHERE total_rev = max_rev
      """)
    }),

    // TPC-H Q17 shape: small orders — below 20% of the part's average qty.
    "q53_small_orders" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
      s.sql(s"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_small,
               ${dsumSql("l_extendedprice")} AS sum_price
        FROM graft_lineitem l1
        WHERE l_quantity < (
          SELECT 0.2 * AVG(l_quantity) FROM graft_lineitem l2
          WHERE l2.l_partkey = l1.l_partkey)
      """)
    }),

    // TPC-H Q13 shape: distribution of customers by order count.
    "q54_order_distribution" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey").agg(count(col("o_orderkey")).as("n_orders"))
        .groupBy("n_orders").agg(count(lit(1)).as("n_customers"))
    }),

    // TPC-H Q22 shape: wealthy customers with no recent orders.
    "q55_wealthy_inactive" -> ((s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("graft_customer")
      Tables.orders(s, dir).createOrReplaceTempView("graft_orders")
      s.sql("""
        SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(round(SUM(CAST(c_acctbal AS DECIMAL(38,4))), 4) AS DOUBLE) AS total_bal
        FROM graft_customer
        WHERE c_acctbal > (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,4))) AS DOUBLE) / COUNT(*)
            FROM graft_customer WHERE c_acctbal > 0)
          AND NOT EXISTS (
            SELECT 1 FROM graft_orders
            WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        GROUP BY c_mktsegment
      """)
    }),

    // --- salted skew-safe aggregation (oracle = plain aggregation) ---
    "q56_salted_agg" -> ((s, dir) =>
      Skew.saltedAggregate(Tables.lineitem(s, dir), Seq("l_returnflag"), salts = 8,
        partials = Seq(sum(col("l_quantity").cast(graft.util.Num.Money)).as("pq"),
          count(lit(1)).as("pn")),
        merges = Seq(sum(col("pq")).cast("double").as("sum_qty"),
          sum(col("pn")).as("n")))),

    // --- elementwise label centroids (vector aggregation via posexplode) ---
    "q57_label_centroids" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("i", "v")))
        .groupBy("label", "i")
        .agg((sum(col("v").cast("double").cast(DecimalType(38, 8))).cast("double") /
          count(lit(1))).as("mean_v"))
        .select(col("label"), col("i").cast("long").as("i"), col("mean_v"))),

    // --- TF-IDF-style top terms (rational idf: exact cross-engine) ---
    "q58_top_terms" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("tok"))
      val nDocs = toks.select(countDistinct(col("doc_id")).as("n_docs"))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val df = toks.select("doc_id", "tok").distinct()
        .groupBy("tok").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score").desc, col("tok"))
      tf.join(df, "tok").crossJoin(broadcast(nDocs))
        .withColumn("score",
          col("tf") * (col("n_docs") + 1).cast("double") / (col("df") + 1))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("doc_id", "tok", "score", "rn")
    }),

    // --- full outer join (J3 completes) ---
    "q59_full_outer" -> ((s, dir) => {
      val c = Tables.customer(s, dir).filter(col("c_custkey") % 2 === 0)
      val o = Tables.orders(s, dir).filter(col("o_orderkey") % 3 === 0)
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      c.join(o, Seq("c_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), lit(-1L)).as("custkey"),
          when(col("c_name").isNull, "order_only")
            .when(col("n_orders").isNull, "customer_only")
            .otherwise("both").as("side"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
    }),

    // --- rank / dense_rank (§2.8 completes) ---
    "q60_rank_dense" -> ((s, dir) =>
      Windows.ranked(
        Tables.orders(s, dir).select("o_custkey", "o_orderkey", "o_totalprice"),
        Seq("o_custkey"), Seq(col("o_totalprice").desc, col("o_orderkey")))
        .filter(col("rn") <= 2)
        .select(col("o_custkey"), col("o_orderkey"),
          col("rnk").cast("long").as("rnk"),
          col("drnk").cast("long").as("drnk"),
          col("rn").cast("long").as("rn"))),

    // --- the reference's COMPLETE transform path, oracle-verified ---
    // Synthesize bar-shaped rows from orders (with planted nulls), run the
    // real FinancePipeline enrich→standardize (rename, casts, calendar,
    // dtype-driven fill, broadcast company lookup), drop only the xxhash64
    // id (not expressible in the oracle engine).
    "q61_reference_etl" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val bars = o.select(
        col("o_orderdate").cast("string").as("Date"),
        (col("o_totalprice") / 1000.0).as("Open"),
        (col("o_totalprice") / 1000.0 * 1.05).as("High"),
        (col("o_totalprice") / 1000.0 * 0.95).as("Low"),
        (col("o_totalprice") / 1000.0 * 1.01).as("Close"),
        pmod(col("o_custkey"), lit(1000)).as("Volume"),
        lit(0.0).as("Dividends"),
        when(col("o_orderkey") % 100 === 0, lit(null).cast("double"))
          .otherwise(lit(0.0)).as("Stock Splits"),
        when(col("o_orderkey") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderpriority")).as("Ticker"))
      val companies = o.select(col("o_orderpriority").as("Ticker")).distinct()
        .withColumn("Company", concat(lit("Corp "), col("Ticker")))
      FinancePipeline.standardize(FinancePipeline.enrich(bars, companies))
        .drop("id") // xxhash64 surrogate: not expressible in the oracle engine
        // DATE comparisons cross-engine are representation-fragile; the
        // proven NTZ-timestamp pattern is used for the compare surface.
        .withColumn("Date", col("Date").cast("timestamp_ntz"))
    }),

    // --- OHLC time-series resample (reference-domain companion op) ---
    "q62_ohlc_resample" -> ((s, dir) =>
      Resample.ohlc(Tables.orders(s, dir), key = "o_orderpriority",
        time = "o_orderdate", price = "o_totalprice", tiebreak = "o_orderkey",
        bucket = "month")),

    // --- text -> vector bridge: cosine near-dup over documents. PORTABLE
    //     tier: polyHash-derived embeddings + the already-seeded hyperplanes
    //     replay in the oracle, flipping this from rows-only to hash-checked.
    // threshold 0.95: the synthetic corpus shares one vocabulary, so BoW
    // cosine is high between ALL docs — only true near-dups clear 0.95.
    "q63_text_embed_neardup" -> ((s, dir) =>
      TextEmbed.cosineNearDupDocs(Tables.documents(s, dir), "doc_id", "text",
        dim = 64, threshold = 0.95, portable = true)),

    // --- deterministic train/val/test splits (md5-bucket, oracle-portable) ---
    "q64_dataset_split" -> ((s, dir) =>
      Sampling.split(Tables.documents(s, dir), col("doc_id"), 800, 100)
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"))),

    // --- distribution window functions ---
    "q65_rank_stats" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("c_mktsegment").orderBy(col("c_acctbal"), col("c_custkey"))
      Tables.customer(s, dir).select(
        col("c_mktsegment"), col("c_custkey"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        ntile(4).over(w).cast("long").as("quartile"))
    }),

    // --- bag semantics set ops ---
    "q66_setops_all" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val a = ev.filter(col("event_type").isin("click", "view"))
        .select(pmod(col("user_id"), lit(50)).as("b"))
      val b = ev.filter(col("event_type") === "click")
        .select(pmod(col("user_id"), lit(50)).as("b"))
      a.exceptAll(b).groupBy("b").agg(count(lit(1)).as("n"))
        .withColumn("op", lit("except_all"))
        .unionByName(
          a.intersectAll(b).groupBy("b").agg(count(lit(1)).as("n"))
            .withColumn("op", lit("intersect_all")))
        .select("op", "b", "n")
    }),

    // --- array predicates: exists / forall ---
    "q68_array_predicates" -> ((s, dir) => {
      val toks = TF.tokens(col("text"))
      Tables.documents(s, dir).select(
          col("lang"),
          exists(toks, t => t === "the").as("has_the"),
          forall(toks, t => length(t) < 8).as("all_short"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(when(col("has_the"), 1L).otherwise(0L)).as("n_has_the"),
          sum(when(col("all_short"), 1L).otherwise(0L)).as("n_all_short"))
    }),

    // --- batch session windows (native session_window; oracle = lag+cumsum) ---
    "q69_session_batch" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(graft.util.Num.Money)).cast("double").as("sum_value"),
          min(col("event_id")).as("first_event"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("n_events"), col("sum_value"), col("first_event"))),

    // --- calendar-spine gap detection (time-series completeness) ---
    "q67_date_gaps" -> ((s, dir) => {
      val perKey = Tables.orders(s, dir)
        .withColumn("d", to_date(col("o_orderdate")))
        .groupBy("o_orderpriority")
        .agg(min(col("d")).as("d0"), max(col("d")).as("d1"),
          countDistinct(col("d")).as("n_present"))
      perKey.select(col("o_orderpriority"),
          (datediff(col("d1"), col("d0")) + 1).cast("long").as("n_days"),
          col("n_present"))
        .withColumn("n_missing", col("n_days") - col("n_present"))
    }),

    // --- transitive dup-group collapse (connected components) ---
    // Edge set = the exact n-gram Jaccard near-dup pairs (which on this
    // corpus are isolated 2-cliques) UNION a planted deterministic 3-chain
    // per 100 doc_ids (i−i+1, i+1−i+2 with NO direct i−i+2 edge) — the
    // transitive case single-hop canonicalIds gets wrong and dupGroups must
    // resolve (component = min reachable id).
    "q70_dedup_groups" -> ((s, dir) => {
      val jac = SetSimJoin.jaccardPairs(Tables.documents(s, dir), "doc_id", "text",
          shingleN = 3, threshold = 0.1, blockCol = Some("lang"), dfCap = Some(64L))
        .select("id_a", "id_b")
      val chain = Tables.documents(s, dir)
        .filter(col("doc_id") % 100 < 2)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      MinHashDedup.dupGroups(jac.unionByName(chain))
    }),

    // --- CSV sink + fixed-schema scan, oracle-covered (S2/S3) ---
    // Parquet → CSV (header) → fixed-schema CSV read → aggregate; double
    // columns survive exactly (shortest-round-trip formatting both ways), so
    // the oracle over the ORIGINAL parquet proves the CSV round trip
    // lossless. The fixture is staged ONCE per source dir and run (testdata
    // is immutable) into a temp root the run owns, like q72's stream stage,
    // so the timed benchmark region measures the CSV SCAN, not a 600 k-row
    // rewrite per invocation.
    "q71_csv_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val path = graft.util.TempRoots.memo(s"graft_q71_$dir")(
        graft.sources.CsvIngest.write(
          Tables.lineitem(s, dir).select("l_orderkey", "l_linenumber",
            "l_returnflag", "l_quantity", "l_extendedprice"), _))
      val schema = StructType(Seq(
        StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
        StructField("l_returnflag", StringType), StructField("l_quantity", DoubleType),
        StructField("l_extendedprice", DoubleType)))
      graft.sources.CsvIngest.read(s, path, schema)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          max(col("l_linenumber")).cast("long").as("max_line"))
    }),

    // --- REAL Structured Streaming run, oracle-covered (§2.9) ---
    // readStream over the events parquet, tumbling-window aggregate,
    // complete-mode memory sink, Trigger.AvailableNow (the reference's
    // "process everything pending then stop" batch-cadence model,
    // /root/reference/dags/financial_pipeline_dag.py). Complete mode keeps
    // the result deterministic (no watermark-dropped late data).
    "q72_stream_tumbling" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      // Spark's file STREAM source requires a directory (the testdata table
      // is a single file), so stage events through the parquet sink first —
      // which also puts the normalized-ts write path under the oracle. The
      // stage is written once per source dir and run (testdata is
      // immutable) into a temp root the run owns: the timed benchmark path
      // measures the STREAM, not the workaround copy.
      val stage = graft.util.TempRoots.memo(s"graft_q72_$dir")(
        Tables.events(s, dir).write.mode("overwrite").parquet(_))
      // State-store count rides the right-sized partition count of a child
      // session (one store per shuffle partition per batch; see
      // withStatefulShuffle): the stream and its memory table live there.
      graft.streaming.StreamingOps.withStatefulShuffle(s) { c =>
        val schema = c.read.parquet(stage).schema
        val agg = c.readStream.schema(schema).parquet(stage)
          .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(graft.util.Num.Money)).cast("double").as("sum_value"))
          .select(col("w.start").as("bucket_start"), col("event_type"),
            col("n"), col("sum_value"))
        // Memory sink is safe HERE because complete-mode output is window-
        // count-bounded (96 buckets/day × event types), not corpus-sized.
        // Producers of UNBOUNDED results must use StreamingOps.drainToParquet
        // (file sink + checkpoint — the production shape; StreamingSpec pins
        // its row-for-row equivalence to the memory sink).
        agg.writeStream.format("memory").queryName("graft_q72")
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
          .awaitTermination()
        c.table("graft_q72")
      }
    }),

    // --- salted equi-join on a skewed fact side (Skew.saltedJoin) ---
    // 8-way salt bounds any hot join key's per-task rows to 1/8; the oracle
    // is the plain join (salting must be invisible in results).
    "q73_salted_join" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      Skew.saltedJoin(li, o, "l_orderkey", salts = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"), dsum(col("l_quantity")).as("sum_qty"))
    }),

    // --- LSH-tier vector near-dup (bucketed candidates + exact verify) ---
    // The scale path for thresholded similarity: candidates ONLY from
    // (table, bucket) equi-joins, true cosine verifies. The oracle mirrors
    // the deterministic seeded hyperplanes literally (they're ±1 constant
    // arrays), so the row is hash-checked, not rows-only. Recall vs the
    // exact tier is governed by (nBits, nTables) — see
    // Similarity.lshThresholdPairs; the differential test reports it.
    "q74_vector_neardup_lsh" -> ((s, dir) =>
      Similarity.lshThresholdPairs(Tables.embeddings(s, dir), threshold = 0.4,
        nBits = lshBits, nTables = lshTables, dim = 64)),

    // --- Gopher-style repetition/boilerplate quality metrics ---
    "q75_quality_repetition" -> ((s, dir) => {
      val toks = TF.tokens(col("text"))
      Tables.documents(s, dir).select(
        col("doc_id"),
        round(TF.dupNgramFraction(toks, 2), 6).as("dup_bigram_frac"),
        round(TF.dupNgramFraction(toks, 3), 6).as("dup_trigram_frac"),
        round(TF.dupLineFraction(col("text")), 6).as("dup_line_frac"))
    }),

    // --- deterministic PII scrub (emails, long digit runs) ---
    // A suffix with known matches is appended so the regexes are exercised
    // on every row (the synthetic corpus itself contains no PII).
    "q76_pii_redaction" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        TF.redactPii(concat(col("text"),
          lit(" contact: a.user+tag@example.co.uk or 12345678901"))).as("clean"))),

    // --- JSON-lines sink + fixed-schema scan round trip ---
    // Same proof shape as q71: the oracle aggregates the ORIGINAL parquet,
    // so a hash match shows the JSON round trip is lossless (doubles
    // included — shortest-repr emit and parse).
    "q77_json_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val path = graft.util.TempRoots.create("graft_q77")
      graft.sources.FormatIO.writeJson(
        Tables.lineitem(s, dir).select("l_orderkey", "l_linestatus",
          "l_quantity", "l_discount"), path)
      val schema = StructType(Seq(
        StructField("l_orderkey", LongType), StructField("l_linestatus", StringType),
        StructField("l_quantity", DoubleType), StructField("l_discount", DoubleType)))
      graft.sources.FormatIO.readJson(s, path, schema)
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("n"),
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_discount")).as("sum_disc"))
    }),

    // --- ORC sink + scan round trip ---
    "q78_orc_roundtrip" -> ((s, dir) => {
      val path = graft.util.TempRoots.create("graft_q78")
      graft.sources.FormatIO.writeOrc(
        Tables.orders(s, dir).select("o_orderkey", "o_orderpriority", "o_totalprice"),
        path)
      graft.sources.FormatIO.readOrc(s, path)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("sum_price"),
          min(col("o_orderkey")).as("min_key"))
    }),

    // --- IVF serving: probe nearest cells, exact rerank (oracle-checked:
    //     assignment, probing, and rank are all deterministic exact math) ---
    "q79_ivf_search" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfSearch(emb,
        centroids = emb.filter(col("vec_id") < 8),
        queries = emb.filter(col("vec_id") >= 10 && col("vec_id") <= 14),
        nprobe = 2, k = 3)
    }),

    // --- calendar gap-fill + forward fill (daily upsample) ---
    "q80_daily_gap_fill" -> ((s, dir) =>
      Resample.fillDailyForward(Tables.orders(s, dir), "o_orderpriority",
        "o_orderdate", dsum(col("o_totalprice")))),

    // --- document packing into fixed-token training sequences ---
    // Per-pack stats keep the oracle row small; the per-doc assignment is
    // what packDocs returns and what the window cumsum mirrors.
    "q81_doc_packing" -> ((s, dir) =>
      Sampling.packDocs(Tables.documents(s, dir), "doc_id",
          TF.tokenCount(col("text")), seqLen = 2048, shards = 8)
        .groupBy("shard", "pack_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          min(col("doc_id")).as("first_doc"))),

    // --- fixed-token-window chunking with stride (overlapping windows) ---
    // Chunk payloads travel as md5 digests so the oracle row stays compact;
    // md5-over-UTF8 is engine-portable, so the digests hash-match too.
    "q82_doc_chunking" -> ((s, dir) =>
      Chunker.chunk(Tables.documents(s, dir), "doc_id", "text",
        chunkSize = 64, stride = 48)),

    // --- benchmark decontamination (n-gram overlap vs a small eval set) ---
    // Every 50th doc plays the held-out benchmark; the rest are the corpus.
    // The benchmark shingle set is broadcast — the corpus side never
    // shuffles its text, which is the whole point at 100 TB.
    "q83_decontamination" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Decontaminate.overlapStats(
          d.filter(col("doc_id") % 50 =!= 0), d.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", shingleN = 3)
        .withColumn("overlap", round(col("overlap"), 6))
    }),

    // --- stratified deterministic sampling (per-lang fractions) ---
    "q84_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedSample(Tables.documents(s, dir), col("doc_id"),
          col("lang"), Map("en" -> 0.5, "zh" -> 0.25), default = 0.1)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"))),

    // --- incremental near-dedup: new docs vs the existing corpus ---
    // Odd doc_ids arrive as the increment, even ids are the corpus on disk.
    // dfCap=64 is far above this corpus's max per-side df (17 at sf0.1), so
    // the uncapped oracle matches exactly; the cap is the 100 TB skew guard.
    "q85_cross_corpus_neardup" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      SetSimJoin.jaccardPairsAgainst(
        d.filter(col("doc_id") % 2 === 1), d.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", shingleN = 3, threshold = 0.3, dfCap = Some(64L))
    }),

    // --- bloom-pruned join (explicit semi-join reduction) ---
    // Bloom filters have no false negatives and the real join runs after
    // the prune, so the result is EXACTLY the plain join — which is what
    // the oracle states. The filter's work shows up in the plan
    // (BloomFilterMightContain on the fact scan; PlanSpec-asserted).
    "q86_bloom_pruned_join" -> ((s, dir) =>
      BloomPrune.bloomPrunedJoin(
          Tables.orders(s, dir)
            .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"),
          Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
            .select("c_custkey"),
          factKey = "o_custkey", dimKey = "c_custkey", expectedItems = 100000L)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("sum_price"),
          min(col("o_orderkey")).as("min_key"))),

    // --- SCD2 validity intervals from a change log ---
    // events is the change log (user_id key, µs-normalized NTZ ts); ties
    // broken by event_id so intervals are total and deterministic.
    "q87_scd2_intervals" -> ((s, dir) =>
      Scd2.intervals(Tables.events(s, dir), Seq("user_id"), "ts",
          tieBreak = Seq("event_id"))
        .select(col("user_id"), col("event_id"), col("value"),
          col("valid_from"), col("valid_to"), col("is_current"))),

    // --- per-domain quota sampling (crawl balancing) ---
    // Row-level output: membership itself is hash-checked, not just counts.
    "q88_domain_quota" -> ((s, dir) =>
      Sampling.quotaPerKey(Tables.documents(s, dir), Seq("source"), "doc_id",
          n = 15)
        .select(col("doc_id"), col("source"), col("n_chars"))),

    // --- IQR (Tukey-fence) outlier gate ---
    // price×qty is right-skewed (product of uniforms), so the upper fence
    // actually fires (~1% of rows); plain l_extendedprice is uniform and
    // has no tail. Exact percentile ≡ DuckDB quantile_cont (q43-proven).
    "q89_iqr_outliers" -> ((s, dir) =>
      Outliers.summarizeIqr(
        Tables.lineitem(s, dir)
          .withColumn("gross", col("l_extendedprice") * col("l_quantity")),
        Seq("l_returnflag"), "gross")),

    // --- max drawdown per key (peak-to-trough, running max) ---
    "q90_drawdown" -> ((s, dir) =>
      Windows.maxDrawdown(Tables.events(s, dir), Seq("user_id"),
        Seq(col("ts"), col("event_id")), "value")),

    // --- pairwise correlation matrix (decimal-exact moments) ---
    "q91_pairwise_corr" -> ((s, dir) =>
      Aggregates.pairwiseCorr(Tables.events(s, dir), "event_type",
        date_trunc("day", col("ts")), "value"))

    ,
    // --- temporal join: facts against SCD2 validity intervals ---
    // Purchases are the dimension change log (deduped to one per tick),
    // Scd2 builds the interval table, and clicks join AS-OF (union-sort,
    // one shuffle — never a range join). The oracle states the SAME join
    // as half-open interval CONTAINMENT over a DuckDB-built SCD2 table, so
    // a hash match proves as-of ≡ BETWEEN semantics and that the intervals
    // tile (disjoint + exhaustive per key).
    "q92_temporal_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val tick = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "ts").orderBy(col("event_id").desc)
      val dimTicks = ev.filter(col("event_type") === "purchase")
        .withColumn("__rn", row_number().over(tick))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("ts").as("dts"), col("value").as("dim_value"))
      val scd = Scd2.intervals(dimTicks, Seq("user_id"), "dts")
        .select(col("user_id"), col("dim_value"),
          col("valid_from"), col("valid_to"))
      val facts = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      AsOfJoin.backward(facts, scd, "user_id", "ts", "valid_from",
        Seq("dim_value", "valid_from", "valid_to"))
    }),

    // --- bigram LM statistics (vocabulary + conditional probabilities) ---
    "q93_bigram_lm" -> ((s, dir) =>
      LmStats.bigramConditionals(Tables.documents(s, dir), "text",
        minCount = 3L)),

    // --- dedup end-to-end: collapse dup groups to one representative ---
    // Same pair graph as q70 (Jaccard edges + planted chains → connected
    // components); of each group keep the LONGEST doc (tie: min id), plus
    // every singleton. The full curation pipeline — candidate pairs → CC →
    // representative pick — under one oracle.
    "q94_dedup_keep_best" -> ((s, dir) => {
      val jac = SetSimJoin.jaccardPairs(Tables.documents(s, dir), "doc_id", "text",
          shingleN = 3, threshold = 0.1, blockCol = Some("lang"), dfCap = Some(64L))
        .select("id_a", "id_b")
      val chain = Tables.documents(s, dir)
        .filter(col("doc_id") % 100 < 2)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      val comp = MinHashDedup.dupGroups(jac.unionByName(chain))
      Dedup.keepRepresentative(Tables.documents(s, dir), comp, "doc_id",
          better = Seq(col("n_chars").desc, col("doc_id")))
        .select(col("component"), col("doc_id").as("kept_id"),
          col("n_chars"), col("group_size"))
    }),

    // --- crawl-increment keep set: new docs with NO near-dup in the corpus ---
    // q85's pair query answers "what matched"; this answers the question the
    // workflow actually asks — "which of the increment do we ingest". Same
    // odd/even split, same knobs, one broadcast anti-join on matched ids.
    "q95_kept_increment" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      SetSimJoin.keptIncrement(
          d.filter(col("doc_id") % 2 === 1), d.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", shingleN = 3, threshold = 0.3, dfCap = Some(64L))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),

    // --- per-doc LM cross-entropy quality gate (CCNet-style) ---
    // Bits-per-bigram under the corpus's own smoothed bigram model; the
    // per-term round(…,12)→decimal sum makes the float aggregate partition-
    // order-independent, so the whole scoring path is hash-checked.
    "q96_lm_score" -> ((s, dir) =>
      LmStats.scoreDocs(Tables.documents(s, dir), "doc_id", "text")),

    // --- per-group winsorization (clamp, don't drop) ---
    // Row-level output: the clamped value itself is hash-checked for every
    // row. gross and the exact-percentile bands are bit-identical across
    // engines (q43-proven), so no rounding is needed anywhere.
    "q97_winsorize" -> ((s, dir) =>
      Outliers.winsorize(
          Tables.lineitem(s, dir)
            .withColumn("gross", col("l_extendedprice") * col("l_quantity")),
          Seq("l_returnflag"), "gross", lo = 0.05, hi = 0.95)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("gross_w"))),

    // --- forward as-of join: each click attaches the NEXT purchase ---
    // Same dedup-to-one-per-tick shape as q92's dimension build; DuckDB's
    // ASOF with `<=` states the identical forward-nearest semantics.
    "q98_asof_forward" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val tick = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "ts").orderBy(col("event_id").desc)
      val dimTicks = ev.filter(col("event_type") === "purchase")
        .withColumn("__rn", row_number().over(tick))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("ts").as("pts"), col("value").as("next_value"))
      val facts = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      AsOfJoin.forward(facts, dimTicks, "user_id", "ts", "pts",
        Seq("next_value", "pts"))
    }),

    // --- robust z-score (median/MAD) outlier gate ---
    // The 50%-breakdown sibling of q89's quartile fences; same broadcast-tag
    // shape, two exact percentile passes, ANSI-safe zero-MAD guard.
    "q99_robust_z" -> ((s, dir) =>
      Outliers.tagRobustZ(
          Tables.lineitem(s, dir)
            .withColumn("gross", col("l_extendedprice") * col("l_quantity")),
          Seq("l_returnflag"), "gross")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"),
          first(col("med")).as("med"), first(col("mad")).as("mad"),
          max(when(col("is_outlier"), col("gross"))).as("max_outlier"))),

    // --- token-budget corpus mixing (per-source weights, in-plan fractions) ---
    // Row-level membership is hash-checked; the keep fraction for each lang
    // comes from the corpus's own token totals, computed inside the plan.
    "q100_token_mix" -> ((s, dir) =>
      Sampling.mixToBudget(Tables.documents(s, dir), "lang", "doc_id",
          TF.tokenCount(col("text")), Map("en" -> 0.6, "zh" -> 0.4),
          targetTokens = 20000L)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))),

    // --- cross-document boilerplate line removal (RefinedWeb-style) ---
    // The corpus's docs are single-line, so the query PLANTS deterministic
    // boilerplate (a global footer + a per-lang banner — hot when the lang
    // has > dfCap docs, kept when rarer) the same way q70 plants chain
    // edges; the original unique lines must survive untouched. md5 of the
    // rebuilt text hash-checks the whole strip-and-reassemble path.
    "q101_boilerplate_lines" -> ((s, dir) => {
      val d = Tables.documents(s, dir).withColumn("text_aug",
        concat(col("text"), lit("\nsubscribe to our newsletter\n"),
          concat(lit("lang "), col("lang"))))
      Boilerplate.stripBoilerplate(d, "doc_id", "text_aug", dfCap = 10L)
        .select(col("doc_id"),
          length(col("text_aug_clean")).cast("long").as("n_chars_clean"),
          md5(col("text_aug_clean")).as("clean_md5"))
    }),

    // --- multimodal frame-sampling plumbing under the oracle ---
    // The frame-INDEX layout (explode of the sampling arithmetic over
    // payload size / declared duration) is deterministic and engine-
    // mirrorable, so the plan shape that matters at scale — one row per
    // sampled frame, partitioned by asset — is hash-checked even though
    // the per-frame features stay stub/rows-only (xxhash features have no
    // DuckDB equivalent).
    "q102_frame_sample" -> ((s, dir) => {
      val assets = Multimodal.fromDocuments(Tables.documents(s, dir))
      Multimodal.sampleFrames(assets, everyNth = 16, maxFrames = 8, dim = 4)
        .select(col("asset_id"), col("frame_idx"),
          size(col("features")).cast("long").as("n_features"))
    }),

    // --- deterministic global shuffle (reproducible training order) ---
    // Every (shard, pos) coordinate is hash-checked — the full permutation,
    // not just counts, is pinned engine-independent.
    "q103_deterministic_shuffle" -> ((s, dir) =>
      Sampling.deterministicShuffle(Tables.documents(s, dir), col("doc_id"),
          shards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))),

    // --- exact EMA (recursive indicator; fold ≡ DuckDB list_reduce) ---
    "q104_ema" -> ((s, dir) =>
      Windows.ema(
          Tables.events(s, dir).filter(col("event_type") === "purchase")
            .select("user_id", "ts", "event_id", "value"),
          Seq("user_id"), Seq("ts", "event_id"), "value", alpha = 0.2)
        .select(col("user_id"), col("event_id"), col("value"), col("ema"))),

    // --- ordered funnel: view → click → purchase, strict-after semantics ---
    // Each step reduces the log to user grain before anything joins, so the
    // per-step tables are user-cardinality-sized whatever the event volume.
    "q105_funnel" -> ((s, dir) =>
      Funnels.funnel(Tables.events(s, dir), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))),

    // --- weekly cohort retention over the event log ---
    "q106_cohort_retention" -> ((s, dir) =>
      Funnels.cohortRetention(Tables.events(s, dir), "user_id", "ts", "week")),

    // --- Bollinger bands: exact-decimal rolling mean/stddev, full windows ---
    // Variance from the sum-of-squares identity on exact decimal sums — the
    // only engine-stable way to hash-check a rolling second moment.
    "q107_bollinger" -> ((s, dir) =>
      Indicators.bollinger(
          Tables.events(s, dir).filter(col("event_type") === "purchase")
            .select("user_id", "ts", "event_id", "value"),
          Seq("user_id"), Seq(col("ts"), col("event_id")), "value", n = 5)
        .select("user_id", "event_id", "value", "mid", "sd", "upper", "lower")),

    // --- RSI over trailing 5 deltas (single-division form, exact sums) ---
    "q108_rsi" -> ((s, dir) =>
      Indicators.rsi(
          Tables.events(s, dir).filter(col("event_type") === "purchase")
            .select("user_id", "ts", "event_id", "value"),
          Seq("user_id"), Seq(col("ts"), col("event_id")), "value", n = 5)
        .select("user_id", "event_id", "value", "rsi")),

    // --- whole-table column profile (the pandas describe/isnull gate) ---
    // One column-pruned aggregate pass per column, unioned; timestamps
    // profile as epoch-µs doubles so min/max stay cast-not-format.
    "q109_profile" -> ((s, dir) =>
      Profile.profile(Tables.orders(s, dir))),

    // --- blocked Levenshtein fuzzy pairs over part names ---
    // Block = the name's last token; the edit-distance DP only ever runs on
    // same-block candidates (the scalable shape — never a cross product).
    "q110_fuzzy_pairs" -> ((s, dir) =>
      Joins.fuzzyPairs(
        Tables.part(s, dir).filter(col("p_partkey") % 10 === 0),
        "p_partkey", "p_name",
        element_at(split(col("p_name"), " "), -1), maxDist = 3)),

    // --- MATCH_RECOGNIZE-lite: purchase before any error ---
    // Regex over per-user ordered event-type strings — negation + anchors
    // the step-join funnel can't express. Portable Java∩RE2 pattern.
    "q111_sequence_match" -> ((s, dir) =>
      Funnels.sequenceMatch(Tables.events(s, dir), "user_id", "ts",
        "event_id", "event_type", "^[^e]*p")),

    // --- large-large band join via grid cells (q09's scale shape) ---
    // Same bands and semantics as q09, but quantize-and-equi-join instead
    // of a broadcast nested loop — the plan that survives a band table too
    // big to broadcast. Identical oracle ⇒ the rewrite is proven lossless.
    "q112_band_join_grid" -> ((s, dir) => {
      import s.implicits._
      val bands = Seq(("b0", 0.0, 10.0), ("b1", 10.0, 20.0), ("b2", 20.0, 30.0),
        ("b3", 30.0, 40.0), ("b4", 40.0, 100.0)).toDF("band", "lo", "hi")
      Joins.bandJoinGrid(Tables.lineitem(s, dir), bands,
          col("l_quantity"), col("lo"), col("hi"), cellWidth = 10.0)
        .groupBy("band")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
    }),

    // --- interval overlap join: errors inside a purchase's 2h window ---
    // Grid-cell equi-join with algebraic dedup (canonical cell) — Spark has
    // no interval join; this is the plan that scales where a per-key
    // sort-merge group or nested loop would not. Epoch-µs endpoints.
    "q113_interval_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def win(t: String, micros: Long, idAs: String, sAs: String, eAs: String) =
        ev.filter(col("event_type") === t)
          .select(col("user_id"), col("event_id").as(idAs),
            unix_micros(col("ts").cast("timestamp")).as(sAs),
            (unix_micros(col("ts").cast("timestamp")) + micros).as(eAs))
      val purchases = win("purchase", 2L * 3600 * 1000000, "p_id", "ps", "pe")
      val errors = win("error", 30L * 60 * 1000000, "e_id", "es", "ee")
      Joins.intervalJoinGrid(purchases, errors, "ps", "pe", "es", "ee",
          cellWidth = 2.0 * 3600 * 1000000, keys = Seq("user_id"))
        .select(col("user_id"), col("p_id"), col("e_id"),
          (least(col("pe"), col("ee")) - greatest(col("ps"), col("es"))).as("overlap_us"))
    }),

    // --- equal-frequency quantile binning (feature discretization) ---
    // Fences = one percentile-ARRAY aggregate per group, broadcast back;
    // bin = HOF fold counting fences ≤ value. Exact ≡ quantile_cont (q43's
    // parity); approx knob is the 100 TB path.
    "q114_quantile_bins" -> ((s, dir) =>
      Binning.equalFrequency(
          Tables.lineitem(s, dir).select("l_returnflag", "l_extendedprice"),
          Seq("l_returnflag"), "l_extendedprice", nBins = 4)
        .groupBy("l_returnflag", "bin")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))),

    // --- growth accounting: new / retained / resurrected / churned ---
    "q115_growth_accounting" -> ((s, dir) =>
      Funnels.growthAccounting(Tables.events(s, dir), "user_id", "ts", "week")),

    // --- Markov transitions: P(next event type | current) ---
    "q116_event_transitions" -> ((s, dir) =>
      Funnels.transitions(Tables.events(s, dir), "user_id", "ts",
        "event_id", "event_type")),

    // --- A/B analysis: Welch t per event type (arm = user id parity) ---
    // One conditional aggregate pass; exact decimal moments make the t
    // statistic hash-checkable — no order-dependent variance accumulation.
    "q117_ab_welch" -> ((s, dir) =>
      Experiments.welchT(Tables.events(s, dir), Seq("event_type"),
        col("user_id") % 2 === 0, "value")),

    // --- funnel latency: p50/p90 seconds between adjacent funnel steps ---
    "q118_funnel_latency" -> ((s, dir) =>
      Funnels.funnelLatency(Tables.events(s, dir), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"))),

    // --- BLEU (r16): generation eval over adjacent-doc pairs — clipped
    //     n-gram precisions, brevity penalty, geometric mean; NULL where
    //     an order has no grams or a precision is 0 (no silent smoothing) ---
    "q262_bleu" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .filter(col("text").isNotNull).select(col("doc_id"), col("text"))
      val pairs = d.as("a").join(d.as("b"),
          col("a.doc_id") + 1 === col("b.doc_id"))
        .select(col("a.doc_id").as("id"), col("a.text").as("cand"),
          col("b.text").as("ref"))
      GenMetrics.bleu(pairs, "id", "cand", "ref")
    }),

    // --- ROUGE-2 (r16): the recall-oriented companion over the same
    //     pairs — clipped bigram matches over reference/candidate totals ---
    "q263_rouge2" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .filter(col("text").isNotNull).select(col("doc_id"), col("text"))
      val pairs = d.as("a").join(d.as("b"),
          col("a.doc_id") + 1 === col("b.doc_id"))
        .select(col("a.doc_id").as("id"), col("a.text").as("cand"),
          col("b.text").as("ref"))
      GenMetrics.rougeN(pairs, "id", "cand", "ref", n = 2)
    }),


    // --- chrF (r16): the character-level member of the generation trio —
    //     tokenizer-free F_2 over char n-gram orders 1..6, whitespace
    //     removed (the Popović convention) ---
    "q265_chrf" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .filter(col("text").isNotNull).select(col("doc_id"), col("text"))
      val pairs = d.as("a").join(d.as("b"),
          col("a.doc_id") + 1 === col("b.doc_id"))
        .select(col("a.doc_id").as("id"), col("a.text").as("cand"),
          col("b.text").as("ref"))
      GenMetrics.chrF(pairs, "id", "cand", "ref")
    }),

    // --- one-way ANOVA F (r16): does ANY event_type's value mean differ
    //     — the k-arm gate before pairwise t-tests eat the α budget;
    //     exact moments, one (arm) aggregate ---
    "q260_anova_f" -> ((s, dir) =>
      Experiments.anovaF(
        Tables.events(s, dir).filter(col("value").isNotNull)
          .select(col("event_type"),
            round(col("value") * 100).cast("long").as("vc")),
        Seq.empty, "event_type", "vc")),

    // --- Kruskal–Wallis H (r16): the rank-based k-arm sibling — heavy
    //     tails can't fake or mask the shift; doubled mid-ranks exact ---
    "q261_kruskal_wallis" -> ((s, dir) =>
      Experiments.kruskalWallis(
        Tables.events(s, dir).filter(col("value").isNotNull)
          .select(col("event_type"),
            round(col("value") * 100).cast("long").as("vc")),
        Seq.empty, "event_type", "vc")),

    // --- one k-means Lloyd iteration over the embedding corpus ---
    // Composes q41's argmin assignment with q57's exact-decimal means —
    // the trainable-clustering step behind the IVF serving path, under
    // one oracle.
    "q119_kmeans_step" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.kmeansStep(emb, emb.filter(col("vec_id") < 8))
    }),

    // --- post-load integrity audit: FK orphans, uniqueness, ranges ---
    // The dbt-test/Great-Expectations report as one declarative query the
    // pipeline can gate on. All-zero on this (referentially intact) data;
    // the spec plants violations to prove each check fires.
    "q120_integrity_audit" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      Audit.report(Seq(
        "lineitem_orderkey_fk" ->
          Audit.fkOrphans(li, "l_orderkey", o, "o_orderkey")
            .agg(count(lit(1)).as("n")),
        "orders_custkey_fk" ->
          Audit.fkOrphans(o, "o_custkey", c, "c_custkey")
            .agg(count(lit(1)).as("n")),
        "orders_key_unique" -> Audit.duplicateKeyCount(o, Seq("o_orderkey")),
        "lineitem_qty_range" ->
          Audit.violationCount(li, col("l_quantity") > 0 && col("l_quantity") <= 50),
        "orders_price_positive" ->
          Audit.violationCount(o, col("o_totalprice") > 0)))
    }),

    // --- rolling autocorrelation (lag-1) of purchase values per user ---
    // Five exact decimal window moments → one fixed double sequence; the
    // windowed sibling of q91's pairwise corr, same no-native-corr rule.
    "q121_rolling_corr" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Indicators.rollingCorr(
          Tables.events(s, dir).filter(col("event_type") === "purchase")
            .select("user_id", "ts", "event_id", "value")
            .withColumn("prev_value", lag(col("value"), 1).over(w)),
          Seq("user_id"), Seq(col("ts"), col("event_id")),
          "value", "prev_value", n = 5)
        .select("user_id", "event_id", "value", "corr")
    }),

    // --- top user journeys: most common full event paths ---
    "q122_top_paths" -> ((s, dir) =>
      Funnels.topPaths(Tables.events(s, dir), "user_id", "ts", "event_id",
        "event_type", k = 10)),

    // --- CUPED: variance-reduced experiment readout vs the raw t ---
    // Pre-period spend per user is the covariate; one row comparing the
    // raw Welch t (q117's machinery at user grain) with the CUPED-
    // adjusted t on the same effect.
    "q123_cuped" -> ((s, dir) => {
      val cutoff = lit("2024-01-16").cast("timestamp_ntz")
      val unit = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(
          coalesce(dsum(when(col("ts") < cutoff, col("value"))), lit(0.0)).as("x"),
          coalesce(dsum(when(col("ts") >= cutoff, col("value"))), lit(0.0)).as("y"))
      val arm = col("user_id") % 2 === 0
      val raw = Experiments.welchT(unit, Nil, arm, "y")
        .select(col("n_a"), col("n_b"), col("t").as("t_raw"))
      val adj = Experiments.welchT(
          Experiments.cuped(unit, Nil, "y", "x"), Nil, arm, "y_cuped")
        .select(col("t").as("t_cuped"))
      raw.crossJoin(adj)
    }),

    // --- TWAP per user-day (time-weighted; q44's VWAP is volume-weighted) ---
    "q124_twap" -> ((s, dir) =>
      Indicators.twap(
        Tables.events(s, dir).filter(col("event_type") === "purchase")
          .select("user_id", "ts", "event_id", "value"),
        "user_id", "ts", "value", "event_id", bucket = "day")),

    // --- longest underwater stretch (drawdown DURATION; q90 is depth) ---
    "q125_underwater" -> ((s, dir) =>
      Windows.maxUnderwater(
        Tables.events(s, dir).filter(col("event_type") === "purchase")
          .select("user_id", "ts", "event_id", "value"),
        Seq("user_id"), "ts", "event_id", "value")),

    // --- revenue concentration: decile shares without a global sort ---
    "q126_concentration" -> ((s, dir) =>
      Binning.concentration(
        Tables.orders(s, dir).groupBy("o_custkey")
          .agg(dsum(col("o_totalprice")).as("rev")),
        "rev", nBins = 10)),

    // --- native bounded top-k aggregate (map-side partial top-k) ---
    // The window form shuffles every row; TopKAgg's shuffle carries ≤ k
    // pairs per (group × map partition). Identical results (total tie
    // order), proven against the row_number oracle.
    "q127_native_topk" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .agg(graft.functions.expressions.TopKAgg.topK(
          col("o_totalprice"), col("o_orderkey"), 3).as("top"))
        .select(col("o_orderpriority"), posexplode(col("top")).as(Seq("i", "t")))
        .select(col("o_orderpriority"), (col("i") + 1).cast("int").as("rnk"),
          col("t.id").as("o_orderkey"), col("t.score").as("o_totalprice"))),

    // --- deep-graph connected components via star rewriting ---
    // Synthetic 11-node chains bridged into longer components: diameter
    // ~10, where min-label propagation would need ~10 rounds but
    // large-star/small-star contracts in O(log²). Same min-reachable-id
    // contract as q70, checked against the same recursive-CTE oracle.
    "q128_dedup_groups_star" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"))
      val chain = d.filter(col("doc_id") % 50 < 10)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      val bridge = d.filter(col("doc_id") % 250 === 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 50).as("id_b"))
      MinHashDedup.dupGroupsStar(chain.unionByName(bridge))
    }),

    // --- type-generalized native top-k: (decimal score, string id) ---
    // Same bounded-shuffle aggregate as q127 with non-primitive input
    // types: interpreted orderings must match the engine's ORDER BY
    // (price DESC, item_id ASC) exactly, including decimal scale and
    // string tie order.
    "q129_topk_typed" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("item_id"),
          round(col("l_extendedprice"), 2).cast("decimal(12,2)").as("price"))
        .groupBy("l_returnflag")
        .agg(graft.functions.expressions.TopKAgg.topK(
          col("price"), col("item_id"), 3).as("top"))
        .select(col("l_returnflag"), posexplode(col("top")).as(Seq("i", "t")))
        .select(col("l_returnflag"), (col("i") + 1).cast("int").as("rnk"),
          col("t.id").as("item_id"), col("t.score").as("price"))),

    // --- exact heavy hitters (φ = 1/k frequent items) ---
    // One hash aggregate per distinct item; the scalar total reuses the
    // same exchange (ReusedExchange), so the corpus is scanned once.
    "q130_heavy_hitters" -> ((s, dir) =>
      Frequency.heavyHitters(Tables.documents(s, dir), col("lang"), k = 8)),

    // --- sketched heavy hitters: MG candidates + exact verify ---
    // The Misra-Gries candidate set is order-dependent, but it is a
    // GUARANTEED SUPERSET of the true heavy hitters (capacity >= k-1), and
    // the verify pass recounts candidates exactly — so the output equals
    // q130's row-for-row and shares its oracle. O(capacity) aggregate
    // state regardless of item cardinality: the 100 TB path for URL/
    // n-gram-sized item spaces where q130's per-distinct-item shuffle
    // is itself the bottleneck.
    "q131_heavy_hitters_sketched" -> ((s, dir) =>
      Frequency.heavyHittersSketched(Tables.documents(s, dir), col("lang"),
        k = 8, capacity = 32)),

    // --- weighted sampling (Efraimidis-Spirakis exponential race) ---
    // Deterministic md5 uniforms make the race re-derivable by any
    // engine; TakeOrderedAndProject keeps it bounded (no global sort).
    "q132_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSample(
        Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
        col("doc_id"), col("n_chars"), n = 50)),

    // --- per-group weighted sample over the native top-k aggregate ---
    // Same race per language; the TopKAgg shuffle carries <= n pairs per
    // (stratum x map partition) instead of every candidate row.
    "q133_weighted_sample_per_key" -> ((s, dir) =>
      Sampling.weightedSamplePerKey(Tables.documents(s, dir),
        col("lang"), col("doc_id"), col("n_chars"), n = 5)),

    // --- sketch rollup (distinct counts that re-aggregate; r14 flip:
    //     HLL → KMV so the oracle can hash-check it). Build per-
    //     (event_type, day) leaf sketches in ONE scan, then fold them up
    //     to DAY (the orthogonal axis to q189's event_type rollup) —
    //     never rescanning events. The KMV merge property makes the
    //     merged estimate EXACTLY the direct per-day sketch, which is
    //     what the oracle computes — equality IS the merge check. ---
    "q135_distinct_rollup" -> ((s, dir) => {
      val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
      Aggregates.kmvMergeEstimate(
        Aggregates.kmvSketches(ev, Seq("event_type", "day"), "user_id", 64),
        Seq("day"), 64)
        // DATE → TIMESTAMP for the driver compare (the q80 convention)
        .withColumn("day", col("day").cast("timestamp"))
    }),

    // --- MACD: recursive indicator stack on the exact EMA fold ---
    // Exact-binary alphas (1/4, 1/16, 1/2) keep the whole recursive
    // series engine-identical; one collect, three folds, no window.
    "q137_macd" -> ((s, dir) =>
      Indicators.macd(
        Tables.events(s, dir).filter(col("event_type") === "purchase")
          .select("user_id", "ts", "event_id", "value"),
        Seq("user_id"), Seq("ts", "event_id"), "value")
        .select(col("user_id"), col("event_id"), col("value"),
          col("macd"), col("signal"))),

    // --- rolling beta (cov/var) from the q121 moment machinery ---
    "q138_rolling_beta" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Indicators.rollingBeta(
          Tables.events(s, dir).filter(col("event_type") === "purchase")
            .select("user_id", "ts", "event_id", "value")
            .withColumn("prev_value", lag(col("value"), 1).over(w)),
          Seq("user_id"), Seq(col("ts"), col("event_id")),
          "prev_value", "value", n = 5)
        .select("user_id", "event_id", "value", "beta")
    }),

    // --- digest-based reconciliation with planted drift ---
    // One row dropped from the "replica" side; reconcile must localize
    // the drift to exactly that row's group, with both sides' counts and
    // digests. DuckDB mirrors the whole two-table digest compare.
    "q136_reconcile_drift" -> ((s, dir) => {
      def canon(df: DataFrame) = df
        .withColumn("o_totalprice",
          round(col("o_totalprice"), 2).cast("decimal(12,2)"))
        .withColumn("o_orderdate", col("o_orderdate").cast("date"))
      val a = canon(Tables.orders(s, dir))
      val b = a.filter(col("o_orderkey") =!= 7L)
      Audit.reconcile(a, b, Seq("o_orderpriority"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate"))
        .select(col("o_orderpriority"),
          col("n_rows_a"), col("n_rows_b"),
          col("digest_a").cast("string").as("digest_a"),
          col("digest_b").cast("string").as("digest_b"))
    }),

    // --- order-independent table digest (reconciliation primitive) ---
    // The oracle PASS here is literally two engines computing the same
    // 60-bit-summed content digest over every row — the property the
    // operator exists to provide. Floats are canonicalized to decimal
    // and timestamps to date BEFORE digesting (engines disagree on
    // float/fractional-second spelling; see Audit.tableDigest).
    "q134_table_digest" -> ((s, dir) =>
      Audit.tableDigest(
        Tables.orders(s, dir)
          .withColumn("o_totalprice",
            round(col("o_totalprice"), 2).cast("decimal(12,2)"))
          .withColumn("o_orderdate", col("o_orderdate").cast("date")),
        groupCols = Seq("o_orderpriority"),
        digestCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate"))
        // ship the decimal digest as a string: pandas/fetchdf coerce
        // DECIMAL(38,0) to lossy float64, and a 60-bit-sum digest is
        // exactly the value a float round-trip can corrupt
        .withColumn("content_digest", col("content_digest").cast("string"))),

    // --- incremental materialized-view maintenance under the oracle ---
    // (S24, r10: the one r9 operator family verified only by ScalaTest.)
    // Build a deterministic 3-version MANIFEST-mode history from orders
    // (v0 = snapshot, v1 = merge bumping every key%7==0 price by 1000
    // cents, v2 = delete of every key%11==0), then maintain the per-
    // priority (count, sum) rollup INCREMENTALLY: materialize(v0) +
    // applyFeed(v0->v1) + applyFeed(v1->v2). The oracle computes the
    // final state directly — incremental ≡ recompute is exactly the
    // self-maintainable-view claim, now hash-checked cross-engine, and
    // the feeds flow through the round-10 manifest layer.
    "q139_incremental_view" -> ((s, dir) => {
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("id"), col("o_orderpriority").as("g"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      val root = graft.util.TempRoots.create("graft_q139") + "/t"
      graft.sources.Layout.initVersionedManifest(base, root, Seq("g"))
      graft.sources.Layout.mergeVersionedPartitioned(s, root,
        base.filter(col("id") % 7 === 0).withColumn("v", col("v") + 1000L),
        Seq("id"), "g")
      graft.sources.Layout.deleteVersionedPartitioned(s, root,
        col("id") % 11 === 0, "g")
      val v0 = graft.sources.Layout.readVersion(s, root, 0)
      val s0 = Incremental.materialize(v0, Seq("g"), Seq("v"))
      val s1 = Incremental.applyFeed(s0,
        graft.sources.Layout.changeFeed(s, root, 0, 1, Seq("id")), Seq("g"), Seq("v"))
      Incremental.applyFeed(s1,
        graft.sources.Layout.changeFeed(s, root, 1, 2, Seq("id")), Seq("g"), Seq("v"))
        .select(col("g"), col("n_rows"), col("sum_v").cast("long").as("sum_v"))
    }),

    // --- per-group sketched heavy hitters: tokens per language ---
    // The corpus-stats query a training pipeline runs per language: every
    // token claiming > n(lang)/40 of its language's token mass. Sketch
    // tier (one MG per group + exact verify) ≡ the exact tier ≡ the
    // DuckDB oracle — three-way agreement, and the aggregation state is
    // O(capacity) per language no matter the vocabulary size.
    "q140_heavy_hitters_by_lang" -> ((s, dir) =>
      Frequency.heavyHittersSketchedByKey(
        Tables.documents(s, dir)
          .select(col("lang"), explode(TF.tokens(col("text"))).as("tok")),
        Seq("lang"), col("tok"), k = 40, capacity = 160)
        .select(col("lang"), col("item"), col("cnt"))),

    // --- manifest data skipping, end-to-end under the oracle ---
    // lineitem lands in a manifest table (8 range-disjoint files per
    // l_returnflag leaf, per-file l_orderkey envelopes in the manifest)
    // and the aggregate reads back through a scan that PLANS only the
    // files whose envelope intersects `l_orderkey < 1200` — 1 of 8 per
    // leaf. ManifestStatsSpec pins the planned-file counts; this row
    // pins that the skipped scan still returns the exact answer.
    "q141_stats_skipped_scan" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      val root = graft.util.TempRoots.create("graft_q141") + "/t"
      graft.sources.Layout.initVersionedManifest(
        li.repartitionByRange(8, col("l_orderkey")), root, Seq("l_returnflag"))
      graft.sources.Layout.readCurrent(s, root)
        .filter(col("l_orderkey") < 1200L)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))
    }),

    // --- deletion vectors (merge-on-read deletes), end-to-end ---
    // lineitem lands in a manifest table; two successive ROW deletes write
    // only (file, row_index) sidecars — no data file is rewritten — and the
    // aggregate reads back through the DV anti-join. The oracle is the
    // direct aggregate over the surviving rows: merge-on-read must be
    // indistinguishable from copy-on-write in the answer. Accumulation is
    // under test too: the second delete folds the first delete's positions
    // forward.
    "q142_dv_delete" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"), col("l_extendedprice"))
      val root = graft.util.TempRoots.create("graft_q142") + "/t"
      graft.sources.Layout.initVersionedManifest(
        li.repartition(4), root, Seq("l_returnflag"))
      graft.sources.Layout.deleteVersionedRows(s, root, col("l_quantity") >= 45.0)
      graft.sources.Layout.deleteVersionedRows(s, root, col("l_orderkey") % 10 === 3)
      graft.sources.Layout.readCurrent(s, root)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("l_extendedprice")).as("sum_price"))
    }),

    // --- merge-on-read UPDATE + DELETE composed ---
    // A row-level UPDATE (old images DV'd, new images appended — no file
    // rewritten) followed by a row-level DELETE that must see the updated
    // values and fold the update's positions forward. Oracle: CASE the
    // update, WHERE the delete — merge-on-read DML must be invisible in
    // the answer. `+ 5.0` keeps the arithmetic exactly representable so
    // the decimal sums hash-match cross-engine.
    "q143_dv_update" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"))
      val root = graft.util.TempRoots.create("graft_q143") + "/t"
      graft.sources.Layout.initVersionedManifest(
        li.repartition(4), root, Seq("l_returnflag"))
      graft.sources.Layout.updateVersionedRows(s, root,
        col("l_quantity") >= 40.0,
        Map("l_quantity" -> (col("l_quantity") + 5.0)))
      graft.sources.Layout.deleteVersionedRows(s, root,
        col("l_orderkey") % 7 === 0)
      graft.sources.Layout.readCurrent(s, root)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))
    }),

    // --- per-file bloom filters: point-lookup skipping under the oracle ---
    // Files are laid out so l_orderkey INTERLEAVES across every file of a
    // leaf (repartition by orderkey mod 8): each file's [min, max]
    // envelope spans the whole key range, so envelope skipping keeps
    // everything and only the per-file blooms (declared on l_orderkey at
    // init) prune the IN-list probe — ManifestStatsSpec pins the planned
    // file counts; this row pins that the bloom-pruned scan still returns
    // the exact answer.
    "q144_bloom_skipped_scan" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"))
      val root = graft.util.TempRoots.create("graft_q144") + "/t"
      graft.sources.Layout.initVersionedManifest(
        li.repartitionByRange(8, pmod(col("l_orderkey"), lit(8L))),
        root, Seq("l_returnflag"), Seq("l_orderkey"))
      graft.sources.Layout.readCurrent(s, root)
        .filter(col("l_orderkey").isin(1L, 7L, 40L, 100L, 555L, 1200L))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("l_extendedprice")).as("sum_price"))
    }),

    // --- column mapping: rename without rewrite, then write through it ---
    // l_quantity is RENAMED to qty (metadata-only — no file rewritten),
    // then a merge updates rows UNDER THE NEW NAME, writing new files whose
    // footers still spell the physical name. The final aggregate reads
    // pre-rename footers and post-rename footers through one mapped scan;
    // the oracle computes the same answer from the raw table with a CASE —
    // column mapping must be invisible in the values.
    "q145_rename_column" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"))
      val root = graft.util.TempRoots.create("graft_q145") + "/t"
      graft.sources.Layout.initVersionedManifest(
        li.repartition(4), root, Seq("l_returnflag"))
      graft.sources.Layout.renameColumn(s, root, "l_quantity", "qty")
      graft.sources.Layout.mergeVersionedPartitioned(s, root,
        graft.sources.Layout.readCurrent(s, root)
          .filter(col("l_orderkey") % 13 === 0)
          .withColumn("qty", col("qty") + 1.0),
        Seq("l_orderkey", "l_linenumber"), "l_returnflag")
      graft.sources.Layout.readCurrent(s, root)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("qty")).as("sum_qty"))
    }),

    // --- column drop: tombstone, then keep writing through the table ---
    // l_tax is DROPPED (metadata-only: files untouched, bytes never read
    // again), then a merge doubles some quantities — its new files simply
    // don't have the column while carried files still do. The aggregate
    // over the mixed footers must match DuckDB computing the same thing on
    // the raw table, never seeing l_tax at all.
    "q146_drop_column" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"), col("l_tax"))
      val root = graft.util.TempRoots.create("graft_q146") + "/t"
      graft.sources.Layout.initVersionedManifest(
        li.repartition(4), root, Seq("l_returnflag"))
      graft.sources.Layout.dropColumn(s, root, "l_tax")
      graft.sources.Layout.mergeVersionedPartitioned(s, root,
        graft.sources.Layout.readCurrent(s, root)
          .filter(col("l_orderkey") % 17 === 0)
          .withColumn("l_quantity", col("l_quantity") * 2.0),
        Seq("l_orderkey", "l_linenumber"), "l_returnflag")
      graft.sources.Layout.readCurrent(s, root)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))
    }),

    // --- RESTORE under the oracle ---
    // A destructive row delete followed by a restore to v0: the aggregate
    // over the restored table must equal DuckDB's aggregate over the RAW
    // table — rollback has to be byte-faithful, not approximately undone.
    "q147_restore" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"))
      val root = graft.util.TempRoots.create("graft_q147") + "/t"
      graft.sources.Layout.initVersionedManifest(
        li.repartition(4), root, Seq("l_returnflag"))
      graft.sources.Layout.deleteVersionedRows(s, root,
        col("l_quantity") < 25.0)
      graft.sources.Layout.restoreVersion(s, root, 0)
      graft.sources.Layout.readCurrent(s, root)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))
    }),

    // --- metadata-only table profile under the oracle ---
    // lineitem lands in a manifest table, a keyed MERGE bumps one
    // partition's quantities (rewritten leaves get fresh envelopes,
    // untouched leaves CARRY their init-time stats), and the result is the
    // manifest-only profile: exact row count + per-column null counts and
    // decoded min/max bounds — zero data files read by the profiled query
    // (O(#files) driver metadata, DESCRIBE DETAIL priced like a directory
    // listing at 100 TB). The oracle recomputes the same numbers the hard
    // way, over the post-merge table: the fold across carried + fresh
    // envelopes must equal a full scan.
    "q148_metadata_profile" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"))
      val root = graft.util.TempRoots.create("graft_q148") + "/t"
      graft.sources.Layout.initVersionedManifest(
        li.repartition(4), root, Seq("l_returnflag"))
      graft.sources.Layout.mergeVersionedPartitioned(s, root,
        li.filter(col("l_returnflag") === "A")
          .withColumn("l_quantity", col("l_quantity") + 100.0),
        Seq("l_orderkey", "l_linenumber"), "l_returnflag")
      val nRows = graft.sources.Layout.countRows(s, root)
        .getOrElse(sys.error("q148: manifest lost its stats"))
      graft.sources.Layout.columnStats(s, root)
        .filter(col("column").isin("l_orderkey", "l_quantity"))
        .select(col("column"), col("nulls"),
          col("min").cast("double").as("min_v"),
          col("max").cast("double").as("max_v"),
          lit(nRows).as("n_rows"))
    }),

    // --- SemDeDup: cluster-then-dedup semantic near-dup pruning ---
    // The LLM-corpus shape (Abbas et al. 2023): coarse k-means cells
    // (deterministic centroids, broadcast) confine the quadratic cosine
    // compare to WITHIN each cell, then every vector with a lower-id
    // near-duplicate in its cell is dropped. Exercises the same argmin
    // assignment as q119 and the same dot/norm parity as q39, composed
    // into the end-to-end dedup decision.
    "q149_semantic_dedup" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.semanticDedup(emb, emb.filter(col("vec_id") < 8),
        threshold = 0.4)
    }),

    // --- type widening: ALTER COLUMN TYPE as one manifest line ---
    // lineitem lands with a 32-bit order key; widenColumn promotes it to
    // BIGINT without rewriting a file (old int32 footers are decoded
    // natively under the wide schema), and a post-widen merge inserts
    // keys no int can hold. The final aggregate reads narrow and wide
    // footers through ONE scan; the oracle computes the same totals from
    // the raw table + the offset inserts — the widening must be invisible
    // in the values, which is the entire point of doing it as metadata.
    "q150_widened_merge" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey").cast("int").as("l_orderkey"),
        col("l_linenumber"), col("l_returnflag"), col("l_quantity"))
      val root = graft.util.TempRoots.create("graft_q150") + "/t"
      graft.sources.Layout.initVersionedManifest(
        li.repartition(4), root, Seq("l_returnflag"))
      graft.sources.Layout.widenColumn(s, root, "l_orderkey",
        org.apache.spark.sql.types.LongType)
      graft.sources.Layout.mergeVersionedPartitioned(s, root,
        li.filter(col("l_orderkey") % 50 === 0)
          .withColumn("l_orderkey",
            col("l_orderkey").cast("long") + lit(10000000000L)),
        Seq("l_orderkey", "l_linenumber"), "l_returnflag")
      graft.sources.Layout.readCurrent(s, root)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_orderkey")).as("sum_key"),
          dsum(col("l_quantity")).as("sum_qty"))
    }),

    // --- temperature-reweighted multilingual mix ---
    // q100's budget mixer with the weights DERIVED from the corpus:
    // w_lang ∝ tokens_lang^0.3 (the multinomial temperature rule that
    // lifts low-resource languages without drowning the head). The
    // alpha-power normalization runs on the per-lang aggregate (a handful
    // of rows), never the corpus; membership is the same nested md5
    // bucket as every sampler here.
    "q151_temperature_mix" -> ((s, dir) =>
      Sampling.temperatureMix(Tables.documents(s, dir), "lang", "doc_id",
          TF.tokenCount(col("text")), alpha = 0.3, targetTokens = 15000L)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))),

    // --- min/max incremental view maintenance under the oracle ---
    // q139's sibling for the NON-self-maintainable aggregates: the same
    // merge + delete history folds into a min/max state where interior
    // changes apply incrementally and a deletion at-or-beyond a group's
    // extremum flips that group's invalidation bit → semi-join-pruned
    // recompute from the snapshot. The fold must equal DuckDB's direct
    // min/max of the final version — closing the one operator family that
    // was verified by ScalaTest alone.
    "q153_incremental_minmax" -> ((s, dir) => {
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("id"), col("o_orderpriority").as("g"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      val root = graft.util.TempRoots.create("graft_q153") + "/t"
      graft.sources.Layout.initVersionedManifest(base, root, Seq("g"))
      graft.sources.Layout.mergeVersionedPartitioned(s, root,
        base.filter(col("id") % 7 === 0).withColumn("v", col("v") + 1000L),
        Seq("id"), "g")
      graft.sources.Layout.deleteVersionedPartitioned(s, root,
        col("id") % 11 === 0, "g")
      val s0 = Incremental.materializeMinMax(
        graft.sources.Layout.readVersion(s, root, 0), Seq("g"), "v")
      val s1 = Incremental.applyFeedMinMax(s0,
        graft.sources.Layout.changeFeed(s, root, 0, 1, Seq("id")),
        Seq("g"), "v", graft.sources.Layout.readVersion(s, root, 1))
      Incremental.applyFeedMinMax(s1,
        graft.sources.Layout.changeFeed(s, root, 1, 2, Seq("id")),
        Seq("g"), "v", graft.sources.Layout.readVersion(s, root, 2))
        .select(col("g"), col("n_rows"), col("min_v"), col("max_v"))
    }),

    // --- the pure-SQL surface under the oracle ---
    // A manifest table takes a row-level DELETE (deletion vectors) and a
    // column RENAME (metadata-only), then the final aggregate runs as a
    // plain SQL string over the graft_table TVF — the answer must match
    // DuckDB computing the same thing from the raw table. Pins that the
    // SQL surface serves the exact same plans (DV anti-join, column
    // mapping, decimal sums) as the Scala API the other lakehouse rows
    // exercise.
    "q156_sql_surface" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"))
      val root = graft.util.TempRoots.create("graft_q156") + "/t"
      graft.sources.Layout.initVersionedManifest(
        li.repartition(4), root, Seq("l_returnflag"))
      graft.sources.Layout.deleteVersionedRows(s, root,
        col("l_quantity") < 10.0)
      graft.sources.Layout.renameColumn(s, root, "l_quantity", "qty")
      s.sql(s"""
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(SUM(CAST(qty AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty
        FROM graft_table('$root')
        GROUP BY l_returnflag""")
    }),

    // --- incremental JOIN-view maintenance under the oracle ---
    // Two versioned tables (orders facts keyed by id, customer dims keyed
    // by ck) each take DML (fact merge + fact delete; dim delete), and the
    // materialized inner-join view follows BOTH through change feeds:
    // affected-key recompute (applyFeedJoin) after each commit. The digest
    // of the final view state must equal DuckDB joining the final
    // snapshots directly — delta-maintained ≡ recomputed, for the join
    // shape q139 proved for aggregates.
    "q158_incremental_join_view" -> ((s, dir) => {
      val factsBase = Tables.orders(s, dir).select(
        col("o_orderkey").as("id"), col("o_custkey").as("ck"),
        col("o_orderpriority").as("pri"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      val dimsBase = Tables.customer(s, dir).select(
        col("c_custkey").as("ck"), col("c_mktsegment").as("seg"),
        round(col("c_acctbal") * 100).cast("long").as("bal"))
      val tmp = graft.util.TempRoots.create("graft_q158")
      val fRoot = s"$tmp/facts"; val dRoot = s"$tmp/dims"
      graft.sources.Layout.initVersionedManifest(factsBase, fRoot, Seq("pri"))
      graft.sources.Layout.initVersionedManifest(dimsBase, dRoot, Seq("seg"))
      def feedF(a: Int, b: Int) =
        graft.sources.Layout.changeFeed(s, fRoot, a, b, Seq("id"))
      def feedD(a: Int, b: Int) =
        graft.sources.Layout.changeFeed(s, dRoot, a, b, Seq("ck"))
      def snapF(n: Int) = graft.sources.Layout.readVersion(s, fRoot, n)
      def snapD(n: Int) = graft.sources.Layout.readVersion(s, dRoot, n)
      val empty = (d: org.apache.spark.sql.DataFrame) =>
        d.filter(lit(false)).withColumn("_change_type", lit(""))
      val v0 = Incremental.materializeJoin(snapF(0), snapD(0), Seq("ck"))
      // commit 1: fact merge (id%7 rows get v+1000)
      graft.sources.Layout.mergeVersionedPartitioned(s, fRoot,
        factsBase.filter(col("id") % 7 === 0).withColumn("v", col("v") + 1000L),
        Seq("id"), "pri")
      val v1 = Incremental.applyFeedJoin(v0, feedF(0, 1), empty(snapD(0)),
        snapF(1), snapD(0), Seq("ck"))
      // commit 2: dim delete (every 13th customer leaves, orphaning facts)
      graft.sources.Layout.deleteVersionedPartitioned(s, dRoot,
        col("ck") % 13 === 0, "seg")
      val v2 = Incremental.applyFeedJoin(v1, empty(snapF(1)), feedD(0, 1),
        snapF(1), snapD(1), Seq("ck"))
      // commit 3: fact delete
      graft.sources.Layout.deleteVersionedPartitioned(s, fRoot,
        col("id") % 11 === 0, "pri")
      Incremental.applyFeedJoin(v2, feedF(1, 2), empty(snapD(1)),
        snapF(2), snapD(1), Seq("ck"))
        .groupBy(col("pri"), col("seg"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("v")).as("sum_v"), sum(col("bal")).as("sum_bal"))
    }),

    // --- product quantization ANN (ADC over PQ codes) ---
    // The corpus is PQ-encoded (4 subspaces x 8 seeded centroids — codes,
    // not floats, are what a 100 TB ANN corpus stores) and 5 queries rank
    // it by asymmetric distance: per-subspace LUT dot products summed,
    // never touching the original vectors. DuckDB replays the seeded
    // codebooks as inline literals (the q38 hyperplane scheme), re-derives
    // every code and CASE-selects the same LUT entries — encode AND
    // scoring pinned cross-engine. The trained-codebook path (Lloyd) is
    // differential-tested in QuantizeSpec.
    "q160_pq_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = Quantize.seededCodebooks(m = 4, k = 8, subDim = 16, seed = 7)
      Quantize.adcTopK(Quantize.encode(emb, "embedding", cb),
        emb.filter(col("vec_id") < 5), "vec_id", "embedding", cb, topK = 5)
    }),

    // --- PERSISTED ANN artifacts (r16): build-once / probe-many — the
    //     codebooks AND the encoded corpus publish into versioned roots
    //     (atomic pointer flip, metadata rides the version dir), then
    //     serving loads the stored books as literals and scans ONLY the
    //     codes table: zero corpus floats, zero training scans in the
    //     probe plan (AnnArtifactSpec pins both). Stored == seeded here,
    //     so the oracle replays the same literals as q160 ---
    // All artifact builders MEMOIZE their roots per (query, sf-dir) for
    // the JVM's lifetime (ADVICE r16): the bench samples each query 3–5×,
    // and the offline build/publish must be paid ONCE so the timed
    // samples charge the probe-many SERVE path being advertised.
    "q248_ann_artifact" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = Quantize.seededCodebooks(m = 4, k = 8, subDim = 16, seed = 7)
      val root = graft.util.TempRoots.memo(s"graft_q248_$dir") { r =>
        graft.model.AnnIndex.publishCodebooks(s, r + "/books", cb,
          extraMeta = Map("seed" -> "7"))
        graft.model.AnnIndex.publishCodes(s, r + "/codes",
          Quantize.encode(emb, "embedding", cb), "vec_id", booksVersion = 0)
      }
      graft.model.AnnIndex.serveAdcTopK(s, root + "/books", root + "/codes",
        emb.filter(col("vec_id") >= 20 && col("vec_id") <= 24),
        "vec_id", "embedding", topK = 5)
    }),


    // --- PERSISTED IVF-PQ artifacts (r16): the full billion-scale index
    //     layout published once — cell-partitioned codes (centroid_id
    //     partitions → probe pruning is PARTITION pruning), books + cells
    //     versioned; serving collects the bounded probe-cell list, pushes
    //     a static IN filter, and reads nprobe/nlist of the index with
    //     zero corpus floats and zero assignment/training scans ---
    "q266_ivfpq_artifact" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = Quantize.seededCodebooks(m = 4, k = 8, subDim = 16, seed = 7)
      val cents = emb.filter(col("vec_id") < 8)
      val root = graft.util.TempRoots.memo(s"graft_q266_$dir") { r =>
        graft.model.AnnIndex.publishCodebooks(s, r + "/books", cb)
        graft.model.AnnIndex.publishCentroids(s, r + "/cents", cents)
        graft.model.AnnIndex.publishIvfPqCodes(s, r + "/codes", emb,
          cents, cb)
      }
      graft.model.AnnIndex.serveIvfPqTopK(s, root + "/codes",
        root + "/books", root + "/cents",
        emb.filter(col("vec_id") >= 15 && col("vec_id") <= 19),
        nprobe = 3, topK = 5)
    }),


    // --- residual IVF-PQ artifacts (r16): the IVFADC quality tier from
    //     the stored layout — codes quantize v − c(cell) at build, the
    //     coarse q·c term re-enters at serve; same cell-pruned plan ---
    "q267_ivfadc_artifact" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = Quantize.seededCodebooks(m = 4, k = 8, subDim = 16, seed = 7)
      val cents = emb.filter(col("vec_id") < 8)
      val root = graft.util.TempRoots.memo(s"graft_q267_$dir") { r =>
        graft.model.AnnIndex.publishCodebooks(s, r + "/books", cb)
        graft.model.AnnIndex.publishCentroids(s, r + "/cents", cents)
        graft.model.AnnIndex.publishIvfPqCodes(s, r + "/codes", emb,
          cents, cb, residual = true)
      }
      graft.model.AnnIndex.serveIvfPqTopK(s, root + "/codes",
        root + "/books", root + "/cents",
        emb.filter(col("vec_id") >= 20 && col("vec_id") <= 24),
        nprobe = 3, topK = 5, residual = true)
    }),


    // --- OPQ artifact serving (r17): the rotation matrix joins the
    //     persisted ladder — books + rotation + rotated-residual codes
    //     all versioned, serve loads the stored R (d bounded rows) and
    //     rotates only the broadcast queries; skew in EITHER books or
    //     rotation version is refused at serve time ---
    "q268_opq_artifact" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = Quantize.seededCodebooks(m = 4, k = 8, subDim = 16, seed = 7)
      val rot = Quantize.seededRotation(64, seed = 11)
      val cents = emb.filter(col("vec_id") < 8)
      val root = graft.util.TempRoots.memo(s"graft_q268_$dir") { r =>
        graft.model.AnnIndex.publishCodebooks(s, r + "/books", cb)
        graft.model.AnnIndex.publishRotation(s, r + "/rot", rot)
        graft.model.AnnIndex.publishCentroids(s, r + "/cents", cents)
        graft.model.AnnIndex.publishIvfPqCodes(s, r + "/codes", emb,
          cents, cb, residual = true, rotation = Some(rot),
          rotationVersion = Some(0))
      }
      graft.model.AnnIndex.serveIvfPqOpqTopK(s, root + "/codes",
        root + "/books", root + "/rot", root + "/cents",
        emb.filter(col("vec_id") >= 25 && col("vec_id") <= 29),
        nprobe = 3, topK = 5)
    }),


    // --- SQ8 artifact serving (r17): the last in-plan-trained rung of
    //     the compression ladder persisted — per-dim bounds (d rows) +
    //     byte codes versioned; serve loads bounds as literals and scans
    //     codes only (a quarter of the float bytes); a bounds retrain
    //     without re-encode is refused ---
    "q269_sq8_artifact" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val root = graft.util.TempRoots.memo(s"graft_q269_$dir") { r =>
        val (mins, maxs) = Quantize.sqTrain(emb, "embedding", 64)
        graft.model.AnnIndex.publishSqBounds(s, r + "/bounds", mins, maxs)
        graft.model.AnnIndex.publishSqCodes(s, r + "/codes",
          emb.select(col("vec_id"),
            Quantize.sqCode(col("embedding"), mins, maxs).as("code")),
          "vec_id", boundsVersion = 0)
      }
      graft.model.AnnIndex.serveSqTopK(s, root + "/bounds", root + "/codes",
        emb.filter(col("vec_id") >= 30 && col("vec_id") <= 34),
        "vec_id", "embedding", topK = 5)
    }),


    // --- two-stage exact-refine serving (r17): stage 1 = the cell-pruned
    //     float-free ADC plan cut at topK·refine; stage 2 = the BOUNDED
    //     candidate id set (|q|·k·r — driver metadata) pushes down as a
    //     static IN filter on the float corpus, and ONLY those rows
    //     exact-rerank — the standard recall lift at k·r float rows per
    //     query, never a full float scan ---
    "q270_ann_refined" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = Quantize.seededCodebooks(m = 4, k = 8, subDim = 16, seed = 7)
      val cents = emb.filter(col("vec_id") < 8)
      val root = graft.util.TempRoots.memo(s"graft_q270_$dir") { r =>
        graft.model.AnnIndex.publishCodebooks(s, r + "/books", cb)
        graft.model.AnnIndex.publishCentroids(s, r + "/cents", cents)
        graft.model.AnnIndex.publishIvfPqCodes(s, r + "/codes", emb,
          cents, cb)
      }
      graft.model.AnnIndex.serveIvfPqTopKRefined(s, root + "/codes",
        root + "/books", root + "/cents", emb, "vec_id", "embedding",
        emb.filter(col("vec_id") >= 35 && col("vec_id") <= 39),
        nprobe = 3, topK = 5, refine = 3)
    }),


    // --- incremental index maintenance (r17): the daily-ingest loop —
    //     v0 indexes the even half, ONE append commit encodes the odd
    //     half with the LIVE books (skew-checked) into the same
    //     cell-partitioned root, O(batch) written; the served answer is
    //     bit-for-bit the full-rebuild answer (per-row encoding cannot
    //     diverge), which is exactly what the oracle replays ---
    "q271_ann_incremental" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = Quantize.seededCodebooks(m = 4, k = 8, subDim = 16, seed = 7)
      val cents = emb.filter(col("vec_id") < 8)
      val root = graft.util.TempRoots.memo(s"graft_q271_$dir") { r =>
        graft.model.AnnIndex.publishCodebooks(s, r + "/books", cb)
        graft.model.AnnIndex.publishCentroids(s, r + "/cents", cents)
        graft.model.AnnIndex.publishIvfPqCodes(s, r + "/codes",
          emb.filter(col("vec_id") % 2 === 0), cents, cb, residual = true)
        graft.model.AnnIndex.appendIvfPqCodes(s, r + "/codes", r + "/books",
          r + "/cents", emb.filter(col("vec_id") % 2 === 1))
      }
      graft.model.AnnIndex.serveIvfPqTopK(s, root + "/codes",
        root + "/books", root + "/cents",
        emb.filter(col("vec_id") >= 40 && col("vec_id") <= 44),
        nprobe = 3, topK = 5, residual = true)
    }),


    // --- BPE-budgeted sequence packing (r17): q81's greedy shard-cumsum
    //     packer fed by REAL tokenizer counts instead of whitespace
    //     counts — the composition a training-data pipeline actually
    //     runs (pack to the model's context length in ITS tokens);
    //     zero-token docs drop with the counts frame ---
    "q277_bpe_packing" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val root = graft.util.TempRoots.memo(s"graft_q277_$dir") { r =>
        graft.ops.Bpe.publishMerges(s, r + "/merges",
          graft.ops.Bpe.trainMerges(docs, "text", rounds = 6))
      }
      val merges = graft.ops.Bpe.loadMerges(s, root + "/merges")
      val counts = graft.ops.Bpe.bpeTokenCounts(docs, "doc_id", "text",
        merges)
      Sampling.packDocs(counts, "doc_id", col("n_bpe_tokens"),
          seqLen = 512, shards = 8)
        .groupBy("shard", "pack_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          min(col("doc_id")).as("first_doc"))
    }),


    // --- two-stage refine on the FLAT ADC artifact (r17): same recall
    //     lift as q270 over the q248-style index — stage 1 ADC at k·r
    //     over the whole codes table, stage 2 candidate-bounded exact
    //     rerank ---
    "q276_adc_refined" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = Quantize.seededCodebooks(m = 4, k = 8, subDim = 16, seed = 7)
      val root = graft.util.TempRoots.memo(s"graft_q276_$dir") { r =>
        graft.model.AnnIndex.publishCodebooks(s, r + "/books", cb)
        graft.model.AnnIndex.publishCodes(s, r + "/codes",
          Quantize.encode(emb, "embedding", cb), "vec_id", booksVersion = 0)
      }
      graft.model.AnnIndex.serveAdcTopKRefined(s, root + "/books",
        root + "/codes", emb, "vec_id", "embedding",
        emb.filter(col("vec_id") >= 45 && col("vec_id") <= 49),
        topK = 5, refine = 3)
    }),


    // --- SQ8 exact-refine (r17): the refine tier completed across every
    //     quantized layout — dequantized-code candidates at k·r, then
    //     the candidate-bounded exact rerank ---
    "q279_sq8_refined" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val root = graft.util.TempRoots.memo(s"graft_q279_$dir") { r =>
        val (mins, maxs) = Quantize.sqTrain(emb, "embedding", 64)
        graft.model.AnnIndex.publishSqBounds(s, r + "/bounds", mins, maxs)
        graft.model.AnnIndex.publishSqCodes(s, r + "/codes",
          emb.select(col("vec_id"),
            Quantize.sqCode(col("embedding"), mins, maxs).as("code")),
          "vec_id", boundsVersion = 0)
      }
      graft.model.AnnIndex.serveSqTopKRefined(s, root + "/bounds",
        root + "/codes", emb, "vec_id", "embedding",
        emb.filter(col("vec_id") >= 50 && col("vec_id") <= 54),
        topK = 5, refine = 3)
    }),


    // --- BPE merge-table TRAINING (r17): the tokenizer-construction
    //     operator — 6 merge rounds over the word-frequency table
    //     (vocabulary-bounded work; the corpus is tokenized ONCE), each
    //     round one freq-weighted pair count + a 1-row argmax + a
    //     window-resolved greedy merge pass; ties break (count DESC,
    //     lhs, rhs) so the oracle's unrolled CTEs replay bit-for-bit ---
    "q272_bpe_train" -> ((s, dir) =>
      graft.ops.Bpe.trainMerges(Tables.documents(s, dir), "text",
        rounds = 6)),


    // --- BPE with the END-OF-WORD marker (r17): Sennrich's `</w>`
    //     appended as a round-0 symbol — word-final subwords become
    //     distinct vocabulary ("er" inside a word vs "er</w>" closing
    //     one), the property a detokenizer needs to reconstruct word
    //     boundaries; the learned table visibly diverges from q272's ---
    "q278_bpe_eow" -> ((s, dir) =>
      graft.ops.Bpe.trainMerges(Tables.documents(s, dir), "text",
        rounds = 6, eow = true)),


    // --- BPE tokenizer APPLICATION (r17): the trained merge table
    //     publishes as a versioned artifact (tokenizers are models — a
    //     drifting tokenizer silently changes every downstream token
    //     count), loads back in training order, and re-segments the
    //     corpus: per-doc whitespace vs BPE token counts — the number a
    //     packing/mixing pipeline actually budgets with ---
    "q273_bpe_tokenize" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val root = graft.util.TempRoots.memo(s"graft_q273_$dir") { r =>
        graft.ops.Bpe.publishMerges(s, r + "/merges",
          graft.ops.Bpe.trainMerges(docs, "text", rounds = 6))
      }
      val merges = graft.ops.Bpe.loadMerges(s, root + "/merges")
      graft.ops.Bpe.bpeTokenCounts(docs, "doc_id", "text", merges)
    }),


    // --- cross-corpus tokenizer TRANSFER (r17): merges train on the
    //     EVEN half, the frozen table applies to the ODD half (chars
    //     segment any OOV word — no unk holes), and per-language
    //     fertility (BPE tokens per word) reads out where the tokenizer
    //     fragments — the multilingual mixture-budget number ---
    "q275_bpe_transfer" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val root = graft.util.TempRoots.memo(s"graft_q275_$dir") { r =>
        graft.ops.Bpe.publishMerges(s, r + "/merges",
          graft.ops.Bpe.trainMerges(docs.filter(col("doc_id") % 2 === 0),
            "text", rounds = 6))
      }
      val merges = graft.ops.Bpe.loadMerges(s, root + "/merges")
      graft.ops.Bpe.fertility(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", "lang", merges)
    }),


    // --- DRIVER-SIDE BPE training (r18): the production-merge-count
    //     trainer — the word-frequency table collects ONCE
    //     (vocabulary-bounded driver metadata, the file's own scale
    //     contract) and the classic in-memory algorithm (incremental
    //     pair counts + lazy-deletion heap) learns the IDENTICAL merge
    //     table to q272's per-round job loop, at ~3 orders of magnitude
    //     more merges/sec (SCALE.md receipt; BpeSpec pins ≡ plain and
    //     eow). Oracle: q272's unrolled chain, unchanged ---
    "q280_bpe_train_local" -> ((s, dir) =>
      graft.ops.Bpe.trainMergesLocal(Tables.documents(s, dir), "text",
        rounds = 6)),


    // --- CHAR-LEVEL round-0 fallback for unsegmented scripts (r18): a
    //     corpus slice with CJK-like unsegmented runs (ascii words
    //     deterministically transliterated into CJK codepoints, spaces
    //     removed — replayable in both engines) tokenizes with every
    //     CJK char its OWN token (BERT's WordPiece normalization), so
    //     the vocabulary table stays charset-bounded instead of
    //     sentence-bounded and token budgets for those scripts are
    //     honest; merges train on the SAME mode and re-segment per doc ---
    "q281_bpe_cjk" -> ((s, dir) => {
      val mixed = cjkMixedDocs(Tables.documents(s, dir))
      val merges = graft.ops.Bpe.trainMergesLocal(mixed, "text",
          rounds = 4, cjkCharSplit = true)
        .select(col("round"), col("lhs"), col("rhs"))
        .collect().sortBy(_.getLong(0)) // rounds rows — bounded metadata
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.ops.Bpe.bpeTokenCounts(mixed, "doc_id", "text", merges,
        cjkCharSplit = true)
    }),


    // --- TOKEN-ID sequences (r18): the terminal artifact a pretraining
    //     pipeline materializes — the vocabulary (round-0 chars + merged
    //     subwords, dense ids in code-point order) turns the merge table
    //     into a model-ready encoder, and every doc becomes its ordered
    //     id stream; one tokenize + two vocabulary-bounded broadcast
    //     joins, per-doc stream positions ---
    "q284_bpe_token_ids" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = graft.ops.Bpe.trainMergesLocal(docs, "text", rounds = 6)
        .select(col("round"), col("lhs"), col("rhs"))
        .collect().sortBy(_.getLong(0)) // rounds rows — bounded metadata
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.ops.Bpe.encodeIds(docs, "doc_id", "text", merges)
    }),


    // --- PACKED token-id batches (r18): the pipeline's terminal
    //     composition — merges train (driver-side), docs encode to id
    //     streams, and the id-counted docs pack to the 512-token budget
    //     (q81's shard-cumsum greedy fill); sum_ids is the content
    //     checksum proving the ids rode into the packs, all exact longs ---
    "q285_bpe_packed_ids" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = graft.ops.Bpe.trainMergesLocal(docs, "text", rounds = 6)
        .select(col("round"), col("lhs"), col("rhs"))
        .collect().sortBy(_.getLong(0)) // rounds rows — bounded metadata
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val perDoc = graft.ops.Bpe.encodeIds(docs, "doc_id", "text", merges)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_ids"), sum(col("token_id")).as("id_sum"))
      // packDocs normalizes the size column to n_tokens and keeps only
      // the packing columns — the id checksum joins back on doc_id
      Sampling.packDocs(perDoc, "doc_id", col("n_ids"),
          seqLen = 512, shards = 8)
        .join(perDoc.select(col("doc_id"), col("id_sum")), "doc_id")
        .groupBy("shard", "pack_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_len"),
          sum(col("id_sum")).as("sum_ids"),
          min(col("doc_id")).as("first_doc"))
    }),


    // --- FIXED-vocab encoding + OOV (r18): publishVocab gets its
    //     CONSUMER — a NEW corpus encodes against the versioned id map
    //     (q284 derives ids from the corpus being encoded, correct at
    //     train time but id-unstable across corpora/retrains), and
    //     symbols OUTSIDE the vocabulary id as the reserved unk (-1)
    //     via a left join — an inner join would silently drop them and
    //     shift every later stream position. Train + vocab on the plain
    //     corpus, apply to q281's CJK-transliterated slice: every
    //     transliterated char is honest OOV; per-doc oov_micro is the
    //     tokenizer-drift gauge ---
    "q286_bpe_fixed_vocab" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val root = graft.util.TempRoots.memo(s"graft_q286_$dir") { r =>
        graft.ops.Bpe.publishMerges(s, r + "/merges",
          graft.ops.Bpe.trainMergesLocal(docs, "text", rounds = 6))
        graft.ops.Bpe.publishVocab(s, r + "/vocab",
          graft.ops.Bpe.corpusVocab(docs, "text",
            graft.ops.Bpe.loadMerges(s, r + "/merges")))
      }
      val merges = graft.ops.Bpe.loadMerges(s, root + "/merges")
      val vocab = graft.ops.Bpe.loadVocab(s, root + "/vocab")
      graft.ops.Bpe.oovStats(
        graft.ops.Bpe.encodeIdsWith(cjkMixedDocs(docs), "doc_id", "text",
          merges, vocab, cjkCharSplit = true), "doc_id")
    }),


    // --- ANN rung auto-SELECTION (r18): the sweep's decision step as a
    //     query — qualify rungs at a recall floor, price stage-2 float
    //     rows at dim·8 = 512 bytes, rank by total bytes; choice_rank 1
    //     is the config to deploy (at this corpus size SQ8 stage-1 wins:
    //     refine's 512-byte float rows swamp the small PQ scans) ---
    "q287_ann_select_rung" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = Quantize.seededCodebooks(m = 4, k = 8, subDim = 16, seed = 7)
      val rot = Quantize.seededRotation(64, seed = 11)
      val (mins, maxs) = Quantize.sqTrain(emb, "embedding", 64)
      graft.model.AnnSweep.selectRung(
        graft.model.AnnSweep.recallCostSweep(emb,
          emb.filter(col("vec_id") >= 60 && col("vec_id") <= 64),
          cb, emb.filter(col("vec_id") < 8), nprobe = 3, rot,
          mins, maxs, k = 5, refine = 3),
        targetRecallMicro = 150000L, floatRowBytes = 512L)
    }),


    // --- PACK capacity accounting (r18): how full the greedy
    //     shard-cumsum packs actually are — per shard: packs, docs,
    //     token sum, min/max pack length, straddle overflow beyond the
    //     512 budget, and fill vs n_packs·512. Straddle assignment (a
    //     doc belongs to the pack where its running sum starts) lets a
    //     pack exceed the budget by one doc's tail; this prices that
    //     choice ---
    "q288_pack_stats" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // shares q277's memoized merge artifact — same training, one
      // publish per bench JVM
      val root = graft.util.TempRoots.memo(s"graft_q277_$dir") { r =>
        graft.ops.Bpe.publishMerges(s, r + "/merges",
          graft.ops.Bpe.trainMerges(docs, "text", rounds = 6))
      }
      val merges = graft.ops.Bpe.loadMerges(s, root + "/merges")
      Sampling.packStats(
        Sampling.packDocs(
          graft.ops.Bpe.bpeTokenCounts(docs, "doc_id", "text", merges),
          "doc_id", col("n_bpe_tokens"), seqLen = 512, shards = 8),
        seqLen = 512)
    }),


    // --- VOCABULARY coverage curve (r18): per symbol, corpus frequency,
    //     frequency rank, and the cumulative share of all token
    //     occurrences covered by ranks ≤ this one — the diagnostic that
    //     CHOOSES a vocab size (stop where the curve flattens);
    //     vocabulary-grain windows, the corpus touched once ---
    "q289_vocab_coverage" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = graft.ops.Bpe.trainMergesLocal(docs, "text", rounds = 6)
        .select(col("round"), col("lhs"), col("rhs"))
        .collect().sortBy(_.getLong(0)) // rounds rows — bounded metadata
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.ops.Bpe.vocabCoverage(docs, "text", merges)
    }),


    // --- ANN recall/cost SELECTION sweep (r18): the FULL ladder
    //     (flat ADC / IVF-PQ / +residual / +OPQ / SQ8, each ± exact
    //     refine) measured in one call against the exact inner-product
    //     top-k — recall@k plus the physical code-bytes / float-rows
    //     cost, all exact integer algebra over replayable ranks, so a
    //     rung can be CHOSEN for a target recall instead of just served ---
    "q282_ann_recall_sweep" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = Quantize.seededCodebooks(m = 4, k = 8, subDim = 16, seed = 7)
      val rot = Quantize.seededRotation(64, seed = 11)
      val (mins, maxs) = Quantize.sqTrain(emb, "embedding", 64)
      graft.model.AnnSweep.recallCostSweep(emb,
        emb.filter(col("vec_id") >= 60 && col("vec_id") <= 64),
        cb, emb.filter(col("vec_id") < 8), nprobe = 3, rot,
        mins, maxs, k = 5, refine = 3)
    }),


    // --- BLOOM-PRUNED refine corpus (r18): the stage-2 float corpus
    //     published as a manifest root, range-clustered on vec_id with
    //     per-file id BLOOMS — exactRefine's static candidate IN(…)
    //     becomes file-level point-lookup pruning (AnnArtifactSpec pins
    //     the planned-file drop vs a raw-parquet twin); results are
    //     bit-identical to serving the refine against raw floats ---
    "q283_refine_bloom" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = Quantize.seededCodebooks(m = 4, k = 8, subDim = 16, seed = 7)
      val root = graft.util.TempRoots.memo(s"graft_q283_$dir") { r =>
        graft.model.AnnIndex.publishCodebooks(s, r + "/books", cb)
        graft.model.AnnIndex.publishCodes(s, r + "/codes",
          Quantize.encode(emb, "embedding", cb), "vec_id", booksVersion = 0)
        graft.model.AnnIndex.publishRefineCorpus(s, r + "/floats", emb,
          "vec_id", "embedding", files = 16)
      }
      graft.model.AnnIndex.serveAdcTopKRefined(s, root + "/books",
        root + "/codes",
        graft.sources.Layout.readCurrent(s, root + "/floats"),
        "vec_id", "embedding",
        emb.filter(col("vec_id") >= 55 && col("vec_id") <= 59),
        topK = 5, refine = 3)
    }),

    // --- incremental MOMENT view (avg/variance) under the oracle ---
    // q139's history replayed into the (n, Σv, Σv², non-null) state; the
    // derived mean/var_pop of the folded state must equal DuckDB's direct
    // aggregates of the final version. v stays small (cents % 1000, +1000
    // on merged ids) so Σv² folds exactly in longs; the derived doubles
    // are single divisions of exact integers — engine-independent.
    "q163_incremental_moments" -> ((s, dir) => {
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("id"), col("o_orderpriority").as("g"),
        (round(col("o_totalprice")).cast("long") % 1000L).as("v"))
      val root = graft.util.TempRoots.create("graft_q163") + "/t"
      graft.sources.Layout.initVersionedManifest(base, root, Seq("g"))
      graft.sources.Layout.mergeVersionedPartitioned(s, root,
        base.filter(col("id") % 7 === 0).withColumn("v", col("v") + 1000L),
        Seq("id"), "g")
      graft.sources.Layout.deleteVersionedPartitioned(s, root,
        col("id") % 11 === 0, "g")
      val s0 = Incremental.materializeMoments(
        graft.sources.Layout.readVersion(s, root, 0), Seq("g"), "v")
      val s1 = Incremental.applyFeedMoments(s0,
        graft.sources.Layout.changeFeed(s, root, 0, 1, Seq("id")), Seq("g"), "v")
      val s2 = Incremental.applyFeedMoments(s1,
        graft.sources.Layout.changeFeed(s, root, 1, 2, Seq("id")), Seq("g"), "v")
      Incremental.derivedStats(s2, "v")
        .select(col("g"), col("n_rows"),
          col("sum_v").cast("long").as("sum_v"),
          col("sum___sq_v").cast("long").as("sum_sq"),
          round(col("avg_v"), 6).as("avg_v"),
          round(col("var_v"), 6).as("var_v"))
    }),

    // --- the change feed under the oracle, via pure SQL ---
    // A manifest table takes a keyed merge (+1000 cents on every 7th id)
    // then a delete (every 11th id), and the v0→v2 feed is read back
    // through the graft_changes TVF: deletes carry the v0 image,
    // update_pre/update_post carry the before/after pair. DuckDB mirrors
    // the expected feed algebra directly from the base table.
    "q162_sql_change_feed" -> ((s, dir) => {
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("id"), col("o_orderpriority").as("pri"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      val root = graft.util.TempRoots.create("graft_q162") + "/t"
      graft.sources.Layout.initVersionedManifest(base, root, Seq("pri"))
      graft.sources.Layout.mergeVersionedPartitioned(s, root,
        base.filter(col("id") % 7 === 0).withColumn("v", col("v") + 1000L),
        Seq("id"), "pri")
      graft.sources.Layout.deleteVersionedPartitioned(s, root,
        col("id") % 11 === 0, "pri")
      s.sql(s"""
        SELECT _change_type, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(v) AS BIGINT) AS sum_v
        FROM graft_changes('$root', 0, 2, 'id')
        GROUP BY _change_type""")
    }),

    // --- IVF-PQ: coarse cells + PQ codes + ADC within probed cells ---
    // q79's routing composed with q160's quantization — the standard
    // billion-scale serving layout, deterministic end to end: cell argmin,
    // code argmin and LUT sums all tie-break on ids and fold in fixed
    // order, so DuckDB reproduces the full approximate index exactly.
    "q161_ivfpq_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = Quantize.seededCodebooks(m = 4, k = 8, subDim = 16, seed = 7)
      Quantize.ivfPqTopK(emb,
        centroids = emb.filter(col("vec_id") < 8),
        queries = emb.filter(col("vec_id") >= 10 && col("vec_id") <= 14),
        cb, nprobe = 3, topK = 5)
    }),

    // --- conditional MERGE INTO (three clauses, merge-on-read) ---
    // One MERGE against a manifest table where every clause fires on a
    // disjoint slice: matched ids divisible by 10 delete, matched rows
    // with a newer incoming value update (older incoming values leave the
    // target untouched — the no-clause path), unmatched source rows with
    // even cents insert. DuckDB mirrors the clause algebra with a left
    // join + CASE; the DV'd/appended result must be indistinguishable.
    "q159_merge_into" -> ((s, dir) => {
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("id"), col("o_orderpriority").as("pri"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      val root = graft.util.TempRoots.create("graft_q159") + "/t"
      graft.sources.Layout.initVersionedManifest(base, root, Seq("pri"))
      val srcMatched = base.filter(col("id") % 5 === 0)
        .withColumn("v", col("v") +
          when(col("id") % 2 === 0, 500L).otherwise(-500L))
      // fresh keys = -(id+1): disjoint from the non-negative key space at
      // ANY scale factor (a fixed +10M shift collides once orderkeys pass
      // it — review fix); the oracle never references the synthetic ids
      val srcNew = base.filter(col("id") % 9 === 0)
        .withColumn("id", -(col("id") + 1L))
      graft.sources.Layout.mergeIntoVersionedRows(s, root,
        srcMatched.unionByName(srcNew), Seq("id"),
        whenMatchedDelete = Some(col("id") % 10 === 0),
        whenMatchedUpdate = Some((col("src_v") > col("v"),
          Map("v" -> col("src_v")))),
        whenNotMatchedInsert = Some(col("v") % 2 === 0))
      graft.sources.Layout.readCurrent(s, root)
        .groupBy("pri")
        .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))
    }),

    // --- exact-substring duplication spans (Lee et al. 2022 mark phase) ---
    // Every length-20 token window occurring >= 2 times corpus-wide marks
    // its [pos, pos+20) interval; per-doc interval union = the maximal
    // duplicated regions. Spark ships (xxhash64, doc, pos) — the text
    // never shuffles; the oracle compares gram TEXT, so a hash collision
    // would surface as a mismatch (none at this scale by birthday bound).
    "q157_substring_dedup" -> ((s, dir) =>
      SubstringDedup.duplicatedSpans(Tables.documents(s, dir),
        "doc_id", "text", gramLen = 20)),

    // --- BM25 ranked retrieval over the document corpus ---
    // The targeted-decontamination / corpus-search primitive: rank every
    // document against a bag of query terms with Okapi BM25 (house
    // tokenizer, always-positive idf). Term stats broadcast; the corpus
    // shuffles once on doc_id; the top-k cut is TakeOrderedAndProject
    // with ties broken on raw doubles then id, so the set is stable.
    "q155_bm25" -> ((s, dir) =>
      Retrieval.bm25(Tables.documents(s, dir), "doc_id", "text",
        Seq("data", "query", "stream", "table"), topK = 25)),

    // --- PageRank over the customer<->supplier co-purchase graph ---
    // Graph centrality for the link graphs a pipeline builds (near-dup
    // hubs, reference graphs). Nodes namespace customers as 2k and
    // suppliers as 2k+1; symmetric edges (every co-purchase both ways)
    // give a connected bipartite graph with no dangling nodes — the
    // dangling term then contributes exactly 0.0 and the oracle can
    // unroll three iterations in plain SQL. Decimal-accumulated sums
    // make the double ranks partitioning- and engine-independent.
    "q154_pagerank" -> ((s, dir) => {
      val pairs = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("c"),
          (col("l_suppkey") * 2 + 1).as("p"))
        .distinct()
      val edges = pairs.select(col("c").as("src"), col("p").as("dst"))
        .unionByName(pairs.select(col("p").as("src"), col("c").as("dst")))
      Graph.pageRank(edges, iters = 3, damping = 0.85)
    }),

    // --- merge-on-read UPSERT: keyed MERGE via deletion vectors ---
    // One batch mixes in-place replacements (quantity bumped for existing
    // keys) and brand-new keys; matched old images are DV'd out of their
    // files and every incoming row is appended — no data file rewritten,
    // O(batch) bytes written however many files the keys scatter across.
    // The aggregate must be indistinguishable from the copy-on-write
    // answer, which is what the oracle computes.
    "q152_row_upsert" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"))
      val root = graft.util.TempRoots.create("graft_q152") + "/t"
      graft.sources.Layout.initVersionedManifest(
        li.repartition(4), root, Seq("l_returnflag"))
      val batch = li.filter(col("l_orderkey") % 10 === 1)
        .withColumn("l_quantity", col("l_quantity") + 7.0)
        .unionByName(li.filter(col("l_orderkey") % 50 === 0)
          // fresh keys scale-safely (see q159)
          .withColumn("l_orderkey", -(col("l_orderkey") + lit(1L))))
      graft.sources.Layout.upsertVersionedRows(s, root, batch,
        Seq("l_orderkey", "l_linenumber"))
      graft.sources.Layout.readCurrent(s, root)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))
    }),

    // --- SQL MERGE INTO (r11): q159's three-clause merge in pure SQL ---
    // The same clause algebra as q159, but driven through the SQL surface:
    // Spark's parser produces the MergeIntoTable plan, GraftDml lowers it
    // onto mergeIntoVersionedRows (see plans/GraftDml.scala), and the
    // final state must be indistinguishable — same oracle as q159. This is
    // the reference's own load shape (loading.py:159-169 pushes
    // MERGE-style upsert SQL into PostgreSQL), now against the lakehouse.
    "q164_sql_merge" -> ((s, dir) => {
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("id"), col("o_orderpriority").as("pri"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      val root = graft.util.TempRoots.create("graft_q164") + "/t"
      graft.sources.Layout.initVersionedManifest(base, root, Seq("pri"))
      base.filter(col("id") % 5 === 0)
        .withColumn("v", col("v") +
          when(col("id") % 2 === 0, 500L).otherwise(-500L))
        .unionByName(base.filter(col("id") % 9 === 0)
          // fresh keys scale-safely (see q159)
          .withColumn("id", -(col("id") + 1L)))
        .createOrReplaceTempView("q164_src")
      s.sql(s"""
        MERGE INTO graft.`$root` AS t USING q164_src AS src
        ON t.id = src.id
        WHEN MATCHED AND t.id % 10 = 0 THEN DELETE
        WHEN MATCHED AND src.v > t.v THEN UPDATE SET v = src.v
        WHEN NOT MATCHED AND src.v % 2 = 0 THEN INSERT *""")
      graft.sources.Layout.readCurrent(s, root)
        .groupBy("pri")
        .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))
    }),

    // --- SQL UPDATE + DELETE (r11): row-level DML statements ---
    // A SQL UPDATE (SET expression over the matched row) then a SQL DELETE
    // that must see the updated values — both lowered onto the DV writers
    // (GraftDml), so no data file is rewritten. Oracle: CASE the update,
    // WHERE the delete. `+ 5.0` keeps the arithmetic exactly representable
    // for the decimal sum.
    "q165_sql_update_delete" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"))
      val root = graft.util.TempRoots.create("graft_q165") + "/t"
      graft.sources.Layout.initVersionedManifest(
        li.repartition(4), root, Seq("l_returnflag"))
      s.sql(s"UPDATE graft.`$root` SET l_quantity = l_quantity + 5.0 " +
        "WHERE l_orderkey % 7 = 0")
      s.sql(s"DELETE FROM graft.`$root` WHERE l_quantity >= 48.0")
      graft.sources.Layout.readCurrent(s, root)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))
    }),

    // --- streaming READ of a versioned table (r11) ---
    // The lakehouse-as-stream pattern end to end: a manifest table is
    // served AS a stream (GraftChangeSource — offsets are versions,
    // micro-batches are change feeds), drained snapshot-then-follow across
    // two AvailableNow runs sharing one checkpoint (run 1 = the v0
    // snapshot as inserts; run 2 = the collapsed v0→v2 feed after a merge
    // and a delete committed between drains). The STREAMED events replay
    // into a sum view with one applyFeed fold over a zero state — and that
    // view must equal DuckDB's direct aggregate of the final snapshot:
    // the stream carries exactly the table's deltas, no more, no less.
    "q166_stream_change_view" -> ((s, dir) => {
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("id"), col("o_orderpriority").as("g"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      val tmp = graft.util.TempRoots.create("graft_q166")
      val (root, out, ckpt) = (tmp + "/t", tmp + "/out", tmp + "/ckpt")
      graft.sources.Layout.initVersionedManifest(base, root, Seq("g"))
      def drain(): Unit = {
        graft.streaming.StreamingOps.drainToParquet(
          graft.streaming.StreamingOps.readChangeStream(s, root, Seq("id")),
          out, ckpt)
        ()
      }
      drain()
      graft.sources.Layout.mergeVersionedPartitioned(s, root,
        base.filter(col("id") % 7 === 0).withColumn("v", col("v") + 1000L),
        Seq("id"), "g")
      graft.sources.Layout.deleteVersionedPartitioned(s, root,
        col("id") % 11 === 0, "g")
      drain()
      val zero = Incremental.materialize(
        base.filter(lit(false)), Seq("g"), Seq("v"))
      Incremental.applyFeed(zero, s.read.parquet(out), Seq("g"), Seq("v"))
        .select(col("g"), col("n_rows"), col("sum_v").cast("long").as("sum_v"))
    }),

    // --- IVF-PQ with RESIDUAL encoding (true IVFADC, r11) ---
    // q161's serving layout upgraded to Jégou §V.A: codes quantize the
    // residual v − c(cell), and the score decomposes as q·c + ADC over the
    // residual code. DuckDB replays the residual subtraction element-wise
    // (list_transform) and the same code/LUT folds, so the full
    // approximate index — cells, residual codes, scores, ranks — agrees
    // exactly. Recall ≥ the raw-vector variant is pinned in QuantizeSpec.
    "q167_ivfpq_residual" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = Quantize.seededCodebooks(m = 4, k = 8, subDim = 16, seed = 7)
      Quantize.ivfPqResidualTopK(emb,
        centroids = emb.filter(col("vec_id") < 8),
        queries = emb.filter(col("vec_id") >= 10 && col("vec_id") <= 14),
        cb, nprobe = 3, topK = 5)
    }),

    // --- batch BM25: a query TABLE through one corpus pass (r11) ---
    // The decontamination-at-scale shape: three query bags ranked at once
    // — the corpus tokenizes and shuffles ONCE, df/idf are shared across
    // queries, the term→query fan-out is a broadcast, and the per-query
    // cut is the native bounded TopKAgg (shuffle carries O(queries × k)
    // pairs). Each query's ranking must equal a standalone bm25 call —
    // RetrievalSpec pins that; the oracle mirrors the full batch.
    "q168_bm25_batch" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq((1L, "data query stream table"),
        (2L, "filter scan column"), (3L, "window batch the"))
        .toDF("query_id", "qtext")
      Retrieval.bm25All(Tables.documents(s, dir), "doc_id", "text",
        qs, "query_id", "qtext", topK = 10)
    }),

    // --- writer-enforced CHECK constraints under the oracle (r11) ---
    // S39 graduates from ScalaTest-only to the driver gate: a manifest
    // table declares `1 ≤ l_quantity ≤ 60`; a batch that would push some
    // rows past 60 is REJECTED whole (the failed upsert claims no version
    // — if enforcement ever silently passed, the final state would
    // diverge and the oracle would catch it), and the constraint-filtered
    // remainder commits. DuckDB mirrors the surviving-rows algebra with
    // the same CASE/WHERE.
    "q169_constraint_gated_merge" -> ((s, dir) => {
      // the synthetic lineitem is NOT unique on (orderkey, linenumber) —
      // reduce to a deterministic unique-keyed base first (the upsert
      // contract requires unique keys; the oracle mirrors the GROUP BY)
      val li = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(max(col("l_returnflag")).as("l_returnflag"),
          max(col("l_quantity")).as("l_quantity"))
      val root = graft.util.TempRoots.create("graft_q169") + "/t"
      graft.sources.Layout.initVersionedManifest(
        li.repartition(4), root, Seq("l_returnflag"))
      graft.sources.Layout.addCheckConstraint(s, root, "qty_bounds",
        "l_quantity >= 1.0 AND l_quantity <= 60.0")
      val bumped = li.filter(col("l_orderkey") % 4 === 1)
        .withColumn("l_quantity", col("l_quantity") + 20.0)
      // the raw batch carries violations (quantities up to 70) — the
      // commit must reject BEFORE any version is claimed
      try {
        graft.sources.Layout.upsertVersionedRows(s, root, bumped,
          Seq("l_orderkey", "l_linenumber"))
      } catch { case _: IllegalArgumentException => () }
      // the gated remainder commits
      graft.sources.Layout.upsertVersionedRows(s, root,
        bumped.filter(col("l_quantity") <= 60.0),
        Seq("l_orderkey", "l_linenumber"))
      graft.sources.Layout.readCurrent(s, root)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))
    }),

    // --- SQL INSERT INTO: pure append through the statement surface ---
    // Positional mapping (standard INSERT semantics — the SELECT's output
    // lands on the table's declared column order), lowered onto
    // appendVersionedRows: one O(batch) commit, no matching, no DVs.
    // Oracle: the table ≡ base UNION ALL the inserted slice.
    "q170_sql_insert" -> ((s, dir) => {
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("id"), col("o_orderpriority").as("pri"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      val root = graft.util.TempRoots.create("graft_q170") + "/t"
      graft.sources.Layout.initVersionedManifest(base, root, Seq("pri"))
      base.filter(col("id") % 6 === 0).createOrReplaceTempView("q170_src")
      // table column order is (id, v, pri); the SELECT maps positionally
      s.sql(s"INSERT INTO graft.`$root` " +
        "SELECT -(id + 1), v + 1, pri FROM q170_src")
      graft.sources.Layout.readCurrent(s, root)
        .groupBy("pri")
        .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))
    }),

    // --- exact table replication via the streaming surface (r11) ---
    // The full loop under the oracle: a source table takes a merge AND a
    // delete; the change stream (per-commit `_commit_version` slices) maps
    // feed events to op codes and a cdc-mode graft sink applies them to a
    // DERIVED table — deletes included, commit order preserved. The
    // derived table's aggregate must equal DuckDB's direct algebra of the
    // source's final state: replication added nothing, lost nothing.
    "q171_cdc_mirror" -> ((s, dir) => {
      // a third of orders: the replication cost IS the corpus size (the
      // snapshot batch merges every row into the replica), and a slice
      // exercises identical semantics for a third of the bench bill
      val base = Tables.orders(s, dir).filter(col("o_orderkey") % 3 === 0)
        .select(
        col("o_orderkey").as("id"), col("o_orderpriority").as("pri"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      val tmp = graft.util.TempRoots.create("graft_q171")
      val (src, derived, ckpt) = (tmp + "/src", tmp + "/derived", tmp + "/ckpt")
      graft.sources.Layout.initVersionedManifest(base, src, Seq("pri"))
      graft.sources.Layout.initVersionedManifest(
        base.filter(lit(false)), derived, Seq("pri"))
      def mirror(): Unit = {
        val q = graft.streaming.StreamingOps
          .readChangeStream(s, src, Seq("id"), includeVersion = true)
          .filter(col("_change_type") =!= "update_pre")
          .withColumn("op",
            when(col("_change_type") === "delete", "D").otherwise("U"))
          .withColumnRenamed("_commit_version", "seq")
          .drop("_change_type")
          .writeStream.format("graft-sink")
          .option("path", derived).option("keys", "id")
          .option("mode", "cdc").option("opCol", "op").option("seqCol", "seq")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
        ()
      }
      mirror() // snapshot
      graft.sources.Layout.mergeVersionedPartitioned(s, src,
        base.filter(col("id") % 7 === 0).withColumn("v", col("v") + 1000L),
        Seq("id"), "pri")
      graft.sources.Layout.deleteVersionedPartitioned(s, src,
        col("id") % 11 === 0, "pri")
      mirror() // the two commits, per-version slices, one drain
      graft.sources.Layout.readCurrent(s, derived)
        .groupBy("pri")
        .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))
    }),

    // --- one-call maintenance is content-invariant (r11) ---
    // S60 under the driver gate: a worked-over table (fragment-accreting
    // upserts + a DV delete + a pending rename) goes through ONE
    // maintain() — purge, compact, vacuum — and its aggregate must equal
    // DuckDB's direct algebra of the logical state. Maintenance that
    // changed any answer would fail the hash here.
    "q172_maintain_invariance" -> ((s, dir) => {
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("id"), col("o_orderpriority").as("pri"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      val root = graft.util.TempRoots.create("graft_q172") + "/t"
      graft.sources.Layout.initVersionedManifest(base, root, Seq("pri"))
      // three sliver-appending upserts fragment the leaves
      (1 to 3).foreach(k =>
        graft.sources.Layout.upsertVersionedRows(s, root,
          base.filter(col("id") % 13 === k)
            .withColumn("v", col("v") + lit(k.toLong)), Seq("id")))
      graft.sources.Layout.deleteVersionedRows(s, root, col("id") % 11 === 0)
      graft.sources.Layout.renameColumn(s, root, "v", "cents")
      graft.sources.Layout.maintain(s, root,
        graft.sources.Layout.MaintenancePolicy(maxFiles = 2, keepVersions = 1))
      graft.sources.Layout.readCurrent(s, root)
        .groupBy("pri")
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
    }),

    // --- SQL full-sync MERGE: WHEN NOT MATCHED BY SOURCE (r12) ---
    // The standard full-sync idiom lands: target rows ABSENT from the
    // source are deleted (stale, v % 3 = 0) or flagged (v + 7), while
    // matched rows refresh and fresh source keys insert — five clause
    // slots in one statement, lowered onto the same DV merge. The
    // by-source anti-join is keys-only (broadcastable) and writes are
    // O(affected); the oracle replays the clause algebra directly.
    "q173_sql_merge_full_sync" -> ((s, dir) => {
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("id"), col("o_orderpriority").as("pri"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      val root = graft.util.TempRoots.create("graft_q173") + "/t"
      graft.sources.Layout.initVersionedManifest(base, root, Seq("pri"))
      base.filter(col("id") % 4 === 0).withColumn("v", col("v") + 100L)
        .unionByName(base.filter(col("id") % 4 === 0)
          // fresh keys scale-safely (see q159)
          .withColumn("id", -(col("id") + 1L))
          .withColumn("v", col("v") + 100L))
        .createOrReplaceTempView("q173_src")
      s.sql(s"""
        MERGE INTO graft.`$root` AS t USING q173_src AS src
        ON t.id = src.id
        WHEN MATCHED THEN UPDATE SET v = src.v
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE AND t.v % 3 = 0 THEN DELETE
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = t.v + 7""")
      graft.sources.Layout.readCurrent(s, root)
        .groupBy("pri")
        .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))
    }),

    // --- SQL DELETE with an IN-subquery condition (r12) ---
    // The captured condition resolves at run time with the session
    // catalog in scope, so `WHERE k IN (SELECT …)` plans as a left-semi
    // join against the snapshot (broadcast when the key list is small)
    // and the delete still takes DVs only — no file rewrites. Oracle:
    // the same anti-join algebra in DuckDB.
    "q174_sql_delete_subquery" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"))
      val root = graft.util.TempRoots.create("graft_q174") + "/t"
      graft.sources.Layout.initVersionedManifest(
        li.repartition(4), root, Seq("l_returnflag"))
      Tables.orders(s, dir).createOrReplaceTempView("q174_orders")
      s.sql(s"DELETE FROM graft.`$root` WHERE l_orderkey IN " +
        "(SELECT o_orderkey FROM q174_orders WHERE o_orderpriority = '1-URGENT')")
      graft.sources.Layout.readCurrent(s, root)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))
    }),

    // --- exact-substring dedup REMOVAL (Lee et al. 2022, r12) ---
    // q157's mark phase completed into the paper's actual dedup step: the
    // marked token regions are EXCISED (all copies — the released tool's
    // policy) and each document re-joins its survivors. The rewrite is a
    // per-document codegen'd HOF over the token array; the corpus text
    // never shuffles (spans join back by id). Oracle: DuckDB replays the
    // mark algebra by gram TEXT, cuts the covered positions, and the
    // cleaned text must agree md5-for-md5.
    "q175_substring_removal" -> ((s, dir) =>
      SubstringDedup.removeSpans(Tables.documents(s, dir),
          "doc_id", "text", gramLen = 20)
        .select(col("doc_id"), col("n_tokens"), col("n_kept"),
          md5(col("clean_text")).as("clean_md5"))
        // always-true, but anchors the computed column under COUNT(*)
        // pruning: without it Catalyst ELIMINATES the spans left-join for
        // the bench's count() (unique-keyed right side) and the bench
        // would measure a bare corpus scan, not the removal
        .filter(col("n_kept") >= 0L)),

    // --- pure-SQL table lifecycle (r12) ---
    // The reference's DDL-then-load shape (loading.py:44-65) end to end
    // in statements only: CREATE TABLE (schema + partitioning + inline
    // CHECK) → INSERT → RENAME COLUMN → UPDATE → DELETE → OPTIMIZE →
    // VACUUM, read back through graft_table. OPTIMIZE and VACUUM are
    // content-invariant (the oracle would hash-catch any change);
    // VACUUM RETAIN 1 leaves exactly one DESCRIBE HISTORY row, folded in
    // as a column so the ledger surface is under the gate too.
    "q176_sql_lifecycle" -> ((s, dir) => {
      val root = graft.util.TempRoots.create("graft_q176") + "/t"
      Tables.orders(s, dir).createOrReplaceTempView("q176_orders")
      // the constraint guards a column the rename does NOT touch —
      // renameColumn refuses renames of constraint-referenced columns
      s.sql(s"CREATE TABLE graft.`$root` (id BIGINT, v BIGINT, pri STRING, " +
        "CONSTRAINT id_pos CHECK (id >= 0)) PARTITIONED BY (pri)")
      s.sql(s"INSERT INTO graft.`$root` SELECT o_orderkey, " +
        "CAST(round(o_totalprice * 100) AS BIGINT), o_orderpriority " +
        "FROM q176_orders")
      s.sql(s"ALTER TABLE graft.`$root` RENAME COLUMN v TO cents")
      s.sql(s"UPDATE graft.`$root` SET cents = cents + 7 WHERE id % 5 = 0")
      s.sql(s"DELETE FROM graft.`$root` WHERE id % 11 = 0")
      s.sql(s"OPTIMIZE graft.`$root`")
      s.sql(s"VACUUM graft.`$root` RETAIN 1 VERSIONS")
      val nHist = s.sql(s"DESCRIBE HISTORY graft.`$root`").count()
      s.sql(s"SELECT pri, CAST(count(*) AS BIGINT) AS n_rows, " +
        s"sum(cents) AS sum_cents FROM graft_table('$root') GROUP BY pri")
        .withColumn("n_history", lit(nHist))
    }),

    // --- MERGE WITH SCHEMA EVOLUTION (r12) ---
    // The source carries a column the table lacks (`score`); the evolving
    // merge ADDs it first (nullable, metadata-only — no file rewritten),
    // then the star clauses land it: matched rows update into it, fresh
    // keys insert with it, untouched rows read NULL. Score values are
    // exactly-representable (integers and halves) so the double sum is
    // order-independent under the oracle hash.
    "q177_sql_merge_evolution" -> ((s, dir) => {
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("id"), col("o_orderpriority").as("pri"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      val root = graft.util.TempRoots.create("graft_q177") + "/t"
      graft.sources.Layout.initVersionedManifest(base, root, Seq("pri"))
      val slice = base.filter(col("id") % 6 === 0)
        .withColumn("v", col("v") + 50L)
      slice.withColumn("score", (col("id") % 8).cast("double"))
        .unionByName(slice
          // fresh keys scale-safely (see q159)
          .withColumn("id", -(col("id") + 1L))
          .withColumn("score", lit(1.5)))
        .createOrReplaceTempView("q177_src")
      s.sql(s"""
        MERGE WITH SCHEMA EVOLUTION INTO graft.`$root` AS t
        USING q177_src AS src
        ON t.id = src.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      graft.sources.Layout.readCurrent(s, root)
        .groupBy("pri")
        .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"),
          sum(coalesce(col("score"), lit(0.0))).as("sum_score"))
    }),

    // --- OPQ-rotated residual IVF-PQ (r12) ---
    // q167's IVFADC with the optimized-product-quantization rotation (Ge
    // 2013, RR variant): residuals rotate through a seeded orthogonal R
    // before coding, queries rotate once on the broadcast side, and the
    // exact decomposition q·v = q·c + (R·q)·(R·res) keeps scoring
    // zero-extra-cost per corpus row. DuckDB replays the rotation as
    // inlined literal rows — cells, rotated codes, scores and ranks must
    // agree exactly. The recall lift at a fixed bit budget is pinned in
    // QuantizeSpec (trained books, anisotropic corpus).
    "q178_ivfpq_opq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = Quantize.seededCodebooks(m = 4, k = 8, subDim = 16, seed = 7)
      val rot = Quantize.seededRotation(64, seed = 11)
      Quantize.ivfPqOpqTopK(emb,
        centroids = emb.filter(col("vec_id") < 8),
        queries = emb.filter(col("vec_id") >= 10 && col("vec_id") <= 14),
        cb, rot, nprobe = 3, topK = 5)
    }),

    // --- plain-SQL reads: by-name relations + time travel (r12) ---
    // The read side of the by-name story under the oracle: CTAS by NAME,
    // a DELETE commit, then ONE statement joining the LIVE relation with
    // `VERSION AS OF 0` — no TVF, no path. The v0 leg must see the
    // pre-delete counts and the live leg the post-delete counts, per
    // priority, in the same plan.
    "q179_sql_read_time_travel" -> ((s, dir) => {
      val wh = graft.util.TempRoots.create("graft_q179")
      s.conf.set(graft.plans.GraftPaths.WarehouseConf, wh)
      try {
        Tables.orders(s, dir).select(
            col("o_orderkey").as("id"), col("o_orderpriority").as("pri"),
            round(col("o_totalprice") * 100).cast("long").as("v"))
          .createOrReplaceTempView("q179_src")
        s.sql("CREATE TABLE graft.q179_orders PARTITIONED BY (pri) " +
          "AS SELECT * FROM q179_src")
        s.sql("DELETE FROM graft.q179_orders WHERE id % 7 = 0")
        s.sql("""
          SELECT live.pri, live.n_live, live.sum_v_live, v0.n_v0
          FROM (SELECT pri, CAST(count(*) AS BIGINT) AS n_live,
                  CAST(sum(v) AS BIGINT) AS sum_v_live
                FROM graft.q179_orders GROUP BY pri) live
          JOIN (SELECT pri, CAST(count(*) AS BIGINT) AS n_v0
                FROM graft.q179_orders VERSION AS OF 0 GROUP BY pri) v0
            ON live.pri = v0.pri""")
      } finally s.conf.unset(graft.plans.GraftPaths.WarehouseConf)
    }),

    // --- fastText-shape quality-classifier inference (r12) ---
    // The CCNet/LLaMA corpus-gating primitive: a LINEAR bag-of-features
    // model (unigrams + adjacent bigrams, broadcast weight table, OOV
    // dilutes at weight 0) scores every document as sigmoid(bias + mean
    // feature weight). Corpus tokenizes once, model broadcasts, one
    // map-side-combined decimal aggregate per doc — training is offline,
    // THIS is the 100 TB job. Oracle: DuckDB replays features, weights
    // and the sigmoid exactly.
    "q180_quality_classifier" -> ((s, dir) => {
      import s.implicits._
      val w = Seq(("data", 1.25), ("query", -0.75), ("the", 0.5),
        ("stream", 0.25), ("table", 1.0), ("data_query", 2.0),
        ("the_data", -1.5)).toDF("term", "wt")
      TextClassifier.scoreLinear(Tables.documents(s, dir), "doc_id", "text",
        w, "term", "wt", bias = -0.5)
    }),

    // --- INSERT OVERWRITE: wholesale replace as one commit (r12) ---
    // The reload idiom: the table's content is REPLACED by the query in
    // one O(new content) commit (no carry-forward — the manifest names
    // only the fresh files), previous versions stay time-travelable, and
    // row-level DML composes on the replaced state (the DELETE after).
    "q181_sql_overwrite" -> ((s, dir) => {
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("id"), col("o_orderpriority").as("pri"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      val root = graft.util.TempRoots.create("graft_q181") + "/t"
      graft.sources.Layout.initVersionedManifest(base, root, Seq("pri"))
      base.createOrReplaceTempView("q181_src")
      // table column order is (id, v, pri): positional mapping
      s.sql(s"INSERT OVERWRITE TABLE graft.`$root` " +
        "SELECT id, v + 9, pri FROM q181_src WHERE id % 3 = 0")
      s.sql(s"DELETE FROM graft.`$root` WHERE id % 5 = 0")
      graft.sources.Layout.readCurrent(s, root)
        .groupBy("pri")
        .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))
    }),

    // --- DSv2 catalog lifecycle (r14) ---
    // q176's algebra routed through the REGISTERED GraftCatalog instead of
    // the parse-time lowering: CREATE (catalog createTable + TableInfo
    // CHECK constraint), INSERT (genuine DSv2 write, V1 fallback), ALTER
    // RENAME COLUMN (catalog TableChange), UPDATE/DELETE (parser-lowered
    // DML in catalog mode), a self-referential INSERT OVERWRITE (the v2
    // overwrite path reading the table's own previous version), and a
    // catalog-resolved read with SHOW TABLES/DESCRIBE HISTORY pinned as
    // scalar columns. Runs in a newSession so catalog registration never
    // leaks into the shared Verify session.
    "q182_catalog_lifecycle" -> ((s0, dir) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
      s.conf.set("spark.graft.warehouse",
        graft.util.TempRoots.create("graft_q182_wh"))
      Tables.orders(s, dir).createOrReplaceTempView("q182_orders")
      s.sql("CREATE TABLE graft.cat182 (id BIGINT, v BIGINT, pri STRING, " +
        "CONSTRAINT id_pos CHECK (id >= 0)) PARTITIONED BY (pri)")
      s.sql("INSERT INTO graft.cat182 SELECT o_orderkey, " +
        "CAST(round(o_totalprice * 100) AS BIGINT), o_orderpriority " +
        "FROM q182_orders")
      s.sql("ALTER TABLE graft.cat182 RENAME COLUMN v TO cents")
      s.sql("UPDATE graft.cat182 SET cents = cents + 7 WHERE id % 5 = 0")
      s.sql("DELETE FROM graft.cat182 WHERE id % 11 = 0")
      s.sql("INSERT OVERWRITE graft.cat182 " +
        "SELECT * FROM graft.cat182 WHERE id % 3 <> 0")
      val nTables = s.sql("SHOW TABLES IN graft").count()
      val nHist = s.sql("DESCRIBE HISTORY graft.cat182").count()
      s.sql("SELECT pri, CAST(count(*) AS BIGINT) AS n_rows, " +
        "sum(cents) AS sum_cents FROM graft.cat182 GROUP BY pri")
        .withColumn("n_history", lit(nHist))
        .withColumn("n_tables", lit(nTables))
    }),

    // --- perceptual hashes over the binary payload (r14) ---
    // The multimodal pillar's byte-level prints: one codegen'd pass per
    // hash over the payload bytes (PerceptualHash), exact integer cell
    // means — the oracle replays them from the ASCII stand-in corpus
    // character-by-character.
    "q183_phash" -> ((s, dir) =>
      Multimodal.phashes(Multimodal.fromDocuments(Tables.documents(s, dir)))),

    // --- byte-level near-dup assets via dHash hamming banding (r14) ---
    // SimHashDedup's 4x16-bit chunk pigeonhole applied to the perceptual
    // print: candidates from a plain equi-join on chunk values (never
    // all-pairs), exact bit_count verification. The corpus pairs each
    // asset with a deterministic NOISED copy (every 17th byte +5, clamped
    // ASCII) — the re-encoded/noised-image scenario perceptual hashing
    // exists for; text-level near-dups shift bytes and are (correctly)
    // far under a byte-grid print, which is MinHash's job (q34).
    "q184_phash_neardup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val perturbed = docs.select((col("doc_id") + 100000L).as("doc_id"),
        array_join(transform(split(col("text"), ""),
          (c, i) => when(i % 17 === 0,
            chr(least(ascii(c) + lit(5), lit(126)).cast("long")))
            .otherwise(c)), "").as("text"))
      Multimodal.phashNearDupPairs(
        Multimodal.fromDocuments(docs.unionByName(perturbed)), maxDist = 3)
    }),

    // --- NOT NULL / DEFAULT / GENERATED identity lifecycle (r14) ---
    // The column-marker surface end-to-end: identity ids are GENERATED
    // (insert omits the column; values land above the committed
    // high-water, unique across batches — asserted as invariant columns
    // the oracle pins to literals, since the id VALUES are
    // gap-bearing by design and not oracle-replayable), the DEFAULT
    // fills the omitted tag column, and the NOT NULL gate is part of the
    // write path that produced every surviving row.
    "q185_column_markers" -> ((s, dir) => {
      val root = graft.util.TempRoots.create("graft_q185") + "/t"
      s.sql(s"CREATE TABLE graft.`$root` (id BIGINT, v BIGINT, " +
        "tag STRING, pri STRING) PARTITIONED BY (pri)")
      s.sql(s"ALTER TABLE graft.`$root` ALTER COLUMN v SET NOT NULL")
      s.sql(s"ALTER TABLE graft.`$root` ALTER COLUMN tag SET DEFAULT 'unk'")
      graft.sources.Layout.setIdentityColumn(s, root, "id")
      Tables.orders(s, dir).createOrReplaceTempView("q185_orders")
      // id omitted → generated; tag omitted → 'unk'
      s.sql(s"INSERT INTO graft.`$root` (v, pri) " +
        "SELECT CAST(round(o_totalprice * 100) AS BIGINT), o_orderpriority " +
        "FROM q185_orders")
      // second batch continues above the first's high-water
      s.sql(s"INSERT INTO graft.`$root` (v, tag, pri) " +
        "SELECT CAST(round(o_totalprice * 100) AS BIGINT) + 11, 'b2', " +
        "o_orderpriority FROM q185_orders WHERE o_orderkey % 4 = 0")
      val t = graft.sources.Layout.readCurrent(s, root)
      // generated-id invariants ride as broadcast scalar columns: the id
      // VALUES are gap-bearing by design (distributed generation) so the
      // oracle pins the INVARIANTS to literal TRUE instead
      val inv = t.agg(
        (count(col("id")) === countDistinct(col("id"))).as("ids_unique"),
        (min(col("id")) >= 1L).as("ids_positive"))
      t.groupBy("pri", "tag")
        .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))
        .crossJoin(broadcast(inv))
    }),

    // --- COPY INTO: idempotent file ingest (r14) ---
    // Two drop-zone batches land; the first zone is copied TWICE — the
    // ingest ledger makes the replay a no-op, so the oracle's plain union
    // (each batch once) only matches if exactly-once held.
    "q186_copy_into" -> ((s, dir) => {
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("id"),
        round(col("o_totalprice") * 100).cast("long").as("v"),
        col("o_orderpriority").as("pri"))
      val tmp = graft.util.TempRoots.create("graft_q186")
      val root = tmp + "/t"
      base.limit(0).write.parquet(tmp + "/seed") // schema-only seed dir
      s.sql(s"CREATE TABLE graft.`$root` (id BIGINT, v BIGINT, pri STRING) " +
        "PARTITIONED BY (pri)")
      base.filter(col("id") % 2 === 0).coalesce(2)
        .write.mode("append").parquet(tmp + "/zone1")
      base.filter(col("id") % 2 === 1 && col("id") % 3 === 0).coalesce(1)
        .write.mode("append").parquet(tmp + "/zone2")
      s.sql(s"COPY INTO graft.`$root` FROM '$tmp/zone1'")
      s.sql(s"COPY INTO graft.`$root` FROM '$tmp/zone2'")
      // the replay: MUST be a no-op or counts double
      s.sql(s"COPY INTO graft.`$root` FROM '$tmp/zone1'")
      graft.sources.Layout.readCurrent(s, root)
        .groupBy("pri")
        .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))
    }),

    // --- incremental corpus dedup: bloom-gated anti-join (r14) ---
    // A fresh batch (new docs + replays of already-ingested ones) dedupes
    // against the existing corpus by portable fingerprint: the bloom
    // prefilter keeps the join to the hit fraction, the anti-join makes
    // the answer EXACT — so the oracle is the plain NOT IN algebra and
    // only matches if the sketch lost nothing.
    "q187_incremental_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      def fp(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
        TF.fingerprintPortable(TF.tokens(col("text"))).as("fp"))
      val corpus = fp(docs.filter(col("doc_id") < 300))
      val fresh = fp(docs.filter(col("doc_id") >= 300)
        .select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") < 300 && col("doc_id") % 7 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text"))))
      Dedup.incrementalNew(fresh, corpus, "fp")
    }),

    // --- KMV distinct-count sketch (r14): the oracle-checkable sibling
    //     of q42's HLL — deterministic, O(k) state per group, portable ---
    "q188_kmv_distinct" -> ((s, dir) =>
      Aggregates.kmvDistinct(Tables.events(s, dir), Seq("event_type"),
        "user_id", k = 64)),

    // --- KMV sketch MERGE (r14): leaf sketches per (event_type, day)
    //     fold up to event_type without re-reading data; the KMV merge
    //     property makes the result EXACTLY the direct sketch — the
    //     oracle computes the direct form, so equality IS the check ---
    "q189_kmv_rollup" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("day", to_date(col("ts")))
      Aggregates.kmvMergeEstimate(
        Aggregates.kmvSketches(ev, Seq("event_type", "day"), "user_id", 64),
        Seq("event_type"), 64)
    }),

    // --- SQ8 scalar-quantized ANN (r14): the compression-ladder rung
    //     below PQ — per-dim [min,max] trained in ONE aggregate, 1-byte
    //     codes, asymmetric scoring against the dequantized corpus ---
    "q190_sq8_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (mins, maxs) = Quantize.sqTrain(emb, "embedding", 64)
      val coded = emb.select(col("vec_id"),
        Quantize.sqCode(col("embedding"), mins, maxs).as("code"))
      Quantize.sqTopK(coded, emb.filter(col("vec_id") < 5), "vec_id",
        "code", "embedding", mins, maxs, k = 5)
    }),

    // --- triangle counting (r14): clustering structure of the
    //     co-purchase graph — parts linked when one order holds both.
    //     Degree-ordered wedge join (Suri & Vassilvitskii 2011): every
    //     triangle found once at its lowest-degree corner, oriented
    //     out-degrees bounded ~O(sqrt(m)) so no celebrity-node wedge
    //     explosion; the per-order pair fan-out is bounded by order size ---
    "q191_triangles" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val r = li.select(col("ok"), col("pk").as("pk2"))
      val edges = li.join(r, "ok")
        .filter(col("pk") < col("pk2"))
        .select(col("pk").as("src"), col("pk2").as("dst"))
      Graph.triangleCounts(edges)
    }),

    // --- Holt linear-trend smoothing (r14): the trend-aware sibling of
    //     q104's EMA — level+trend recurrences are COUPLED, so this runs
    //     the native HoltScan expression (one O(series) pass per key);
    //     the oracle replays the identical IEEE op sequence via a
    //     recursive CTE. Outputs quantized to micro-units with
    //     floor(x·1e6 + 0.5) — NOT round(x, 6), whose half-boundary
    //     mechanics differ between engines (the one-row q192 lesson) ---
    "q192_holt_forecast" -> ((s, dir) => {
      def micro(c: org.apache.spark.sql.Column, as: String) =
        floor(c * lit(1000000.0) + lit(0.5)).cast("long").as(as)
      Windows.holt(
          Tables.events(s, dir).filter(col("event_type") === "purchase")
            .select("user_id", "ts", "event_id", "value"),
          Seq("user_id"), Seq("ts", "event_id"), "value",
          alpha = 0.3, beta = 0.1)
        .select(col("user_id"), col("event_id"), col("value"),
          micro(col("level"), "level_micro"),
          micro(col("trend"), "trend_micro"),
          micro(col("forecast"), "forecast_micro"))
    }),

    // --- audio silence profile (r14): the audio tier of the multimodal
    //     pillar — payload bytes as stand-in 8-bit PCM, one codegen'd
    //     FrameEnergy pass, gaps-and-islands silence runs; every output
    //     an exact integer. Threshold 60000 ≈ mean-square 1875 × 32
    //     samples — the corpus' empirical quiet/loud split ---
    "q193_audio_silence" -> ((s, dir) =>
      Multimodal.silenceProfile(
        Multimodal.fromDocuments(Tables.documents(s, dir)),
        frameLen = 32, threshold = 60000L)),

    // --- GENERATED ALWAYS AS columns (r14): insert-omitted → filled from
    //     the row's base columns; provided → equality-enforced by the
    //     writer gate (writerChecks), so the UPDATE below must re-derive
    //     the column or be refused — every surviving row passed the
    //     invariant, which is what the oracle's plain algebra checks ---
    "q194_generated_columns" -> ((s, dir) => {
      val root = graft.util.TempRoots.create("graft_q194") + "/t"
      s.sql(s"CREATE TABLE graft.`$root` (id BIGINT, v BIGINT, " +
        "twice BIGINT, pri STRING) PARTITIONED BY (pri)")
      graft.sources.Layout.setGeneratedColumn(s, root, "twice", "v * 2 + 1")
      Tables.orders(s, dir).createOrReplaceTempView("q194_orders")
      // omitted → generated from v
      s.sql(s"INSERT INTO graft.`$root` (id, v, pri) " +
        "SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT), " +
        "o_orderpriority FROM q194_orders")
      // provided-and-correct full-schema insert passes the equality gate
      s.sql(s"INSERT INTO graft.`$root` " +
        "SELECT o_orderkey + 10000000, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) + 7, " +
        "(CAST(round(o_totalprice * 100) AS BIGINT) + 7) * 2 + 1, " +
        "o_orderpriority FROM q194_orders WHERE o_orderkey % 5 = 0")
      // SET expressions see the OLD row, so the re-derivation tracks the
      // assignment — dropping the `twice` assignment here is REFUSED by
      // the writer probe (pinned in GeneratedColumnSpec)
      s.sql(s"UPDATE graft.`$root` SET v = v + 3, twice = (v + 3) * 2 + 1 " +
        "WHERE id % 7 = 0")
      graft.sources.Layout.readCurrent(s, root)
        .groupBy("pri")
        .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"),
          sum(col("twice")).as("sum_twice"))
    }),

    // --- UNIQUE constraint ingest (r14): the PK-enforced flow — a replay
    //     batch is REFUSED wholesale (asserted, so the oracle's plain
    //     union only matches if nothing landed), then a keyed upsert
    //     updates in place and inserts fresh ids; the final table is
    //     unique-by-id because every write path proved it ---
    "q195_unique_ingest" -> ((s, dir) => {
      val root = graft.util.TempRoots.create("graft_q195") + "/t"
      s.sql(s"CREATE TABLE graft.`$root` (id BIGINT, v BIGINT, pri STRING) " +
        "PARTITIONED BY (pri)")
      graft.sources.Layout.addUniqueConstraint(s, root, "pk", Seq("id"))
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("id"),
        round(col("o_totalprice") * 100).cast("long").as("v"),
        col("o_orderpriority").as("pri"))
      graft.sources.Layout.appendVersionedRows(s, root, base)
      // at-least-once delivery replays a slice: the gate must refuse it
      // WHOLESALE or the oracle counts double
      val refused =
        try {
          graft.sources.Layout.appendVersionedRows(s, root,
            base.filter(col("id") % 3 === 0))
          false
        } catch { case _: IllegalArgumentException => true }
      require(refused, "q195: duplicate replay batch was NOT refused")
      // keyed upsert: updates keep ids, inserts bring fresh ones
      val ups = base.filter(col("id") % 5 === 0)
        .select(col("id"), (col("v") + 7L).as("v"), col("pri"))
        .unionByName(base.filter(col("id") % 4 === 0)
          .select((col("id") + 10000000L).as("id"), (col("v") + 11L).as("v"),
            col("pri")))
      graft.sources.Layout.upsertVersionedRows(s, root, ups, keys = Seq("id"))
      graft.sources.Layout.readCurrent(s, root)
        .groupBy("pri")
        .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))
    }),

    // --- blocklist screening (r14): which of N phrases occur per doc,
    //     ONE Aho–Corasick pass over the text whatever N is (the rlike
    //     alternation / per-pattern contains alternatives scan N times);
    //     overlapping patterns ("data"/"at", "the"/"he") exercise the
    //     failure links the oracle's per-pattern contains cannot get wrong ---
    "q196_blocklist_screen" -> ((s, dir) =>
      // two-step select: the hit ARRAY computes once (CollapseProject
      // keeps the non-cheap automaton single-eval), n_hits comes from
      // size() of the array — never from re-splitting the joined string,
      // which would miscount the day a pattern carries a comma (review
      // fix); the scalar join is for the driver's row hash (array<string>
      // broke the r13 run)
      Tables.documents(s, dir).select(col("doc_id"),
          TF.blocklistHits(col("text"), BlocklistPatterns).as("hit_arr"))
        .select(col("doc_id"),
          array_join(col("hit_arr"), ",").as("hits"),
          size(col("hit_arr")).cast("long").as("n_hits"))),

    // --- seasonal decomposition (r14): trend / day-of-week / residual
    //     over per-priority daily revenue — the ingest-anomaly split
    //     ("is volume low, or is it just Sunday?"). Window sums and dow
    //     deviations stay in EXACT longs; only the three final divisions
    //     are doubles, micro-quantized ---
    "q197_seasonal_decompose" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority").as("pri"),
          to_date(col("o_orderdate")).as("d"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      Seasonal.decomposeDaily(daily, Seq("pri"), "d", "cents")
        // DATE → TIMESTAMP for the driver compare (the q80 convention)
        .withColumn("day", col("day").cast("timestamp"))
    }),

    // --- k-core backbone (r14): bounded-round peeling of the
    //     co-purchase graph — drop parts with < k surviving co-purchase
    //     partners until the dense backbone remains. Fixed 12 rounds =
    //     exact replayable function (the oracle unrolls the same peels);
    //     the spec pins that 12 rounds IS the fixpoint here ---
    "q198_kcore" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val r = li.select(col("ok"), col("pk").as("pk2"))
      val edges = li.join(r, "ok")
        .filter(col("pk") < col("pk2"))
        .select(col("pk").as("src"), col("pk2").as("dst"))
      Graph.kCore(edges, k = 80, rounds = 12)
    }),

    // --- energy-envelope shot detection (r14): the video-framing face
    //     of the FrameEnergy grid — a boundary wherever consecutive
    //     frame energies jump past the threshold (hard-cut detection),
    //     shots = islands between boundaries. Threshold 12000 ≈ the
    //     corpus' p80 delta ---
    "q199_energy_shots" -> ((s, dir) =>
      Multimodal.energyShots(
        Multimodal.fromDocuments(Tables.documents(s, dir)),
        frameLen = 32, threshold = 12000L)),

    // --- CUSUM drift statistic (r14): the change-point detector over
    //     per-priority daily revenue — q197 explains the rhythm, this
    //     flags the level shift. Native scan (the max/add recurrence
    //     has no linear fold); exact-decimal mean; micro-quantized ---
    "q200_cusum_drift" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority").as("pri"),
          to_date(col("o_orderdate")).as("d"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      Windows.cusum(daily, Seq("pri"), Seq("d"), "cents", slack = 50000.0)
        .select(col("pri"), col("d").cast("timestamp").as("day"),
          col("cents"),
          floor(col("cusum") * lit(1000000.0) + lit(0.5)).cast("long")
            .as("cusum_micro"))
    }),

    // --- burstiness / Fano factor (r14): the bot-and-scraper screen —
    //     variance/mean of each user's daily event counts, exact
    //     integer moments, one double division, micro-quantized ---
    "q201_burstiness" -> ((s, dir) =>
      Frequency.burstiness(Tables.events(s, dir), Seq("user_id"),
        to_date(col("ts")))),

    // --- catalog-NATIVE row-level MERGE (r15): q164's exact algebra, but
    //     the target is a catalog table and the statement lowers from the
    //     RESOLVED plan (GraftDmlResolved) — Spark's own resolution binds
    //     the clauses, the post-hoc rule lowers onto the same keyed
    //     merge-on-read writer. Same oracle as q164 ---
    "q202_catalog_merge" -> ((s0, dir) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
      s.conf.set("spark.graft.warehouse",
        graft.util.TempRoots.create("graft_q202_wh"))
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("id"), col("o_orderpriority").as("pri"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      base.createOrReplaceTempView("q202_base")
      s.sql("CREATE TABLE graft.cat202 (id BIGINT, v BIGINT, pri STRING) " +
        "PARTITIONED BY (pri)")
      s.sql("INSERT INTO graft.cat202 SELECT id, v, pri FROM q202_base")
      base.filter(col("id") % 5 === 0)
        .withColumn("v", col("v") +
          when(col("id") % 2 === 0, 500L).otherwise(-500L))
        .unionByName(base.filter(col("id") % 9 === 0)
          .withColumn("id", -(col("id") + 1L)))
        .createOrReplaceTempView("q202_src")
      s.sql("""
        MERGE INTO graft.cat202 AS t USING q202_src AS src
        ON t.id = src.id
        WHEN MATCHED AND t.id % 10 = 0 THEN DELETE
        WHEN MATCHED AND src.v > t.v THEN UPDATE SET v = src.v
        WHEN NOT MATCHED AND src.v % 2 = 0 THEN INSERT *""")
      s.sql("SELECT pri, CAST(count(*) AS BIGINT) AS n_rows, " +
        "sum(v) AS sum_v FROM graft.cat202 GROUP BY pri")
    }),

    // --- hybrid retrieval via reciprocal-rank fusion (r15): the standard
    //     lexical+vector stack — BM25 top-50 and cosine-over-hashed-
    //     embeddings top-50 fused by rank (no score calibration), exactly
    //     how production retrieval combines the two signals. Both
    //     rankings and the fuse are deterministic and oracle-replayable ---
    "q203_hybrid_rrf" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val qText = "data stream window batch"
      val lex = Retrieval.bm25All(docs, "doc_id", "text",
          Seq((0L, qText)).toDF("qid", "qtext"), "qid", "qtext", topK = 50)
        .select(col("doc_id"), col("rnk"))
      val emb = TextEmbed.hashEmbed(docs, "doc_id", "text", 64,
          portable = true)
        .select(col("doc_id").as("vec_id"), col("embedding"))
      val qv = TextEmbed.hashEmbed(Seq((-1L, qText)).toDF("vec_id", "text"),
        "vec_id", "text", 64, portable = true)
      val vec = Similarity.bruteForceTopK(emb, qv, k = 50)
        .select(col("nn_id").as("doc_id"), col("rnk"))
      Retrieval.rrfFuse(Seq(lex, vec), "doc_id", "rnk", k0 = 60, topK = 25)
    }),

    // --- Jaccard-containment join (r15): the sub-document detector —
    //     a short quote inside a long doc has vanishing symmetric Jaccard
    //     (q36) but containment ≈ 1; directed |A∩B|/|A| over the same
    //     inverted-index machinery catches near-verbatim-but-reordered
    //     inclusion the byte-substring family (q157/q175) cannot ---
    "q204_containment_join" -> ((s, dir) =>
      SetSimJoin.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, threshold = 0.5, blockCol = Some("lang"),
        dfCap = Some(64L))),

    // --- KMV slice-overlap matrix (r15): pairwise distinct-user overlap
    //     between event types from the SAME O(k) sketches q42/q188 build —
    //     "which audiences share users" / "which corpus slices share
    //     documents" without ever joining data-sized sets. Deterministic
    //     (portable hashes), so the estimates hash-check ---
    "q205_kmv_overlap" -> ((s, dir) =>
      Aggregates.kmvOverlapMatrix(Tables.events(s, dir), "event_type",
        "user_id", k = 64)),

    // --- char-entropy quality screen (r15): one scan flags BOTH junk
    //     tails — repetitive generator spam sits far below natural text's
    //     entropy band, base64/compressed blobs far above it ---
    "q206_char_entropy" -> ((s, dir) =>
      LmStats.charEntropy(Tables.documents(s, dir), "doc_id", "text")),

    // --- crop-resistant quadrant-print matching (r15): each doc pairs
    //     with a REGION-EDITED copy (last quarter replaced wholesale) —
    //     the edit flips far more than 3 bits of the whole-payload dHash,
    //     so q184's radius correctly misses it; the per-quadrant prints
    //     still agree on the untouched 3 quarters. printCap=64 is the
    //     hot-bucket guard: every edited doc's fourth quadrant is the
    //     same 'zzz…' fill (a constant region always prints 0), so
    //     without the cap that ONE (q, print) bucket holds the whole
    //     edited corpus and the self-join goes quadratic on it —
    //     C(|docs|, 2) candidate pairs from a degenerate region that is
    //     pure noise (those pairs share 1 quadrant < minShared anyway) ---
    "q207_quadrant_match" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val edited = docs.select((col("doc_id") + 100000L).as("doc_id"),
        expr("rpad(substring(text, 1, 3 * (length(text) div 4)), " +
          "length(text), 'z')").as("text"))
      Multimodal.quadrantMatches(
        Multimodal.fromDocuments(docs.unionByName(edited)),
        quads = 4, minShared = 2, printCap = Some(64L))
    }),

    // --- deterministic sampled quantiles (r15): the percentile_approx
    //     tier made a pure function of the data — bottom-k-by-hash row
    //     sample, exact percentiles of the sample, hash-checkable ---
    "q209_sampled_quantiles" -> ((s, dir) =>
      Aggregates.hashSampleQuantiles(Tables.events(s, dir),
        Seq("event_type"), "value", "event_id", k = 256,
        qs = Seq(0.5, 0.9, 0.99))),

    // --- DEEP CLONE lifecycle (r15): DML history → self-contained
    //     backup → DROP the source — the aggregate must read from the
    //     clone alone, with exactly one self-owned version ---
    "q212_deep_clone" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"))
      val root = graft.util.TempRoots.create("graft_q212") + "/t"
      graft.sources.Layout.initVersionedManifest(
        li.repartition(4), root, Seq("l_returnflag"))
      s.sql(s"UPDATE graft.`$root` SET l_quantity = l_quantity + 5.0 " +
        "WHERE l_orderkey % 7 = 0")
      s.sql(s"DELETE FROM graft.`$root` WHERE l_quantity >= 48.0")
      val dst = graft.util.TempRoots.create("graft_q212c") + "/c"
      graft.sources.Layout.deepClone(s, root, dst)
      s.sql(s"DROP TABLE graft.`$root`")
      val nHist = graft.sources.Layout.history(s, dst).count()
      graft.sources.Layout.readCurrent(s, dst)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))
        .withColumn("n_history", lit(nHist))
    }),

    // --- personalized PageRank (r15): random walk with restart to a
    //     seed set — "related to THESE items" over the co-purchase
    //     graph, where q154's global walk measures importance ---
    "q211_ppr" -> ((s, dir) => {
      val pairs = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("c"),
          (col("l_suppkey") * 2 + 1).as("p"))
        .distinct()
      val edges = pairs.select(col("c").as("src"), col("p").as("dst"))
        .unionByName(pairs.select(col("p").as("src"), col("c").as("dst")))
      val seeds = Tables.customer(s, dir)
        .filter(col("c_custkey") % 97 === 0)
        .select((col("c_custkey") * 2).as("node"))
      Graph.personalizedPageRank(edges, seeds, iters = 3, damping = 0.85)
    }),

    // --- cross-corpus LM novelty (r15): odd docs scored under the
    //     bigram LM of the EVEN half — high bits/bigram = content the
    //     reference has not seen; the fresh-crawl triage / distribution-
    //     shift probe (and, against an eval set, a contamination score) ---
    "q210_novelty_score" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      LmStats.scoreDocsAgainst(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        docs.filter(col("doc_id") % 2 === 0), "text")
    }),

    // --- Theil–Sen robust trend (r15): the outlier-proof drift monitor
    //     over per-priority daily revenue — one corrupted ingest day
    //     drags OLS arbitrarily far, moves the slope median one rank ---
    "q208_theil_sen" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority").as("pri"),
          to_date(col("o_orderdate")).as("d"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      Seasonal.theilSen(daily, Seq("pri"), "d", "cents")
    }),

    // --- catalog-native MERGE WITH SCHEMA EVOLUTION (r15): q177's exact
    //     algebra, but the target is a catalog table and the statement
    //     lowers from the RESOLVED plan — the capability stays withheld,
    //     so Spark's positional evolution never fires; GraftDmlResolved
    //     detects the analyzer's pre-evolution star expansion by NAME and
    //     re-expands it at execution against the evolved schema. Same
    //     oracle as q177 ---
    "q213_catalog_evolution" -> ((s0, dir) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
      s.conf.set("spark.graft.warehouse",
        graft.util.TempRoots.create("graft_q213_wh"))
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("id"), col("o_orderpriority").as("pri"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      base.createOrReplaceTempView("q213_base")
      s.sql("CREATE TABLE graft.cat213 (id BIGINT, v BIGINT, pri STRING) " +
        "PARTITIONED BY (pri)")
      s.sql("INSERT INTO graft.cat213 SELECT id, v, pri FROM q213_base")
      val slice = base.filter(col("id") % 6 === 0)
        .withColumn("v", col("v") + 50L)
      slice.withColumn("score", (col("id") % 8).cast("double"))
        .unionByName(slice
          .withColumn("id", -(col("id") + 1L))
          .withColumn("score", lit(1.5)))
        .createOrReplaceTempView("q213_src")
      s.sql("""
        MERGE WITH SCHEMA EVOLUTION INTO graft.cat213 AS t
        USING q213_src AS src
        ON t.id = src.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      s.sql("SELECT pri, CAST(count(*) AS BIGINT) AS n_rows, " +
        "sum(v) AS sum_v, CAST(sum(coalesce(score, 0.0)) AS DOUBLE) " +
        "AS sum_score FROM graft.cat213 GROUP BY pri")
    }),

    // --- BATCH reciprocal-rank fusion (r15): rrfFuse for a TABLE of
    //     queries — the serving shape where N workloads ride one corpus
    //     pass and the fuse is one plan (full-outer on (query, id) + a
    //     TopKAgg cut), not a per-query driver loop. The two rankings
    //     here are exact-integer (micro-cents / counts), so every rank is
    //     deterministic and the fused list hash-checks ---
    "q214_batch_rrf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val per = Tables.events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(round(col("value") * 1000000).cast("long")).as("sv"),
          count(lit(1)).as("cnt"))
      val byVal = per.withColumn("rnk", row_number().over(Window
          .partitionBy("event_type")
          .orderBy(col("sv").desc, col("user_id"))))
        .filter(col("rnk") <= 50).select("event_type", "user_id", "rnk")
      val byCnt = per.withColumn("rnk", row_number().over(Window
          .partitionBy("event_type")
          .orderBy(col("cnt").desc, col("user_id"))))
        .filter(col("rnk") <= 50).select("event_type", "user_id", "rnk")
      Retrieval.rrfFuseAll(Seq(byVal, byCnt), "event_type", "user_id",
        "rnk", k0 = 60, topK = 10)
    }),

    // --- PSI ingest-drift monitor (r15): "did this slice's value
    //     distribution change shape?" — even-day reference vs odd-day
    //     current per event_type, 10 reference-envelope bins, Laplace
    //     smoothing; per-bin terms nano-quantized BEFORE the sum so
    //     partitioning cannot reorder a double accumulation ---
    "q215_psi_drift" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("event_type"),
          round(col("value") * 1000000).cast("long").as("vm"),
          (unix_date(to_date(col("ts"))) % 2).as("par"))
      Drift.psiDrift(ev.filter(col("par") === 0), ev.filter(col("par") === 1),
        Seq("event_type"), "vm", bins = 10)
    }),

    // --- classical OLS trend (r15): theilSen's least-squares sibling —
    //     slope/intercept/R² from five exact DECIMAL moment sums, ONE
    //     aggregate, no pair join; monitors alarm when OLS and Theil–Sen
    //     DISAGREE (that disagreement IS the outlier signal) ---
    "q216_ols_trend" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority").as("pri"),
          to_date(col("o_orderdate")).as("d"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      Seasonal.olsTrend(daily, Seq("pri"), "d", "cents")
    }),

    // --- two-sample KS drift (r15): the sharpest single-number
    //     distributional distance — max CDF gap over the value union,
    //     EXACT (integer cross-multiplied numerator, one double division
    //     after the max); the unbinned check PSI's bins smooth over ---
    "q217_ks_drift" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("event_type"),
          round(col("value") * 1000000).cast("long").as("vm"),
          (unix_date(to_date(col("ts"))) % 2).as("par"))
      Drift.ksDrift(ev.filter(col("par") === 0), ev.filter(col("par") === 1),
        Seq("event_type"), "vm")
    }),


    // --- exact 1-D Wasserstein drift (r16): the drift number in VALUE
    //     units — Σ |CDF gap| × value gap along sorted distinct values,
    //     decimal terms, ONE division; q217's slices replayed ---
    "q264_wasserstein" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("event_type"),
          round(col("value") * 1000000).cast("long").as("vm"),
          (unix_date(to_date(col("ts"))) % 2).as("par"))
      Drift.wasserstein1(ev.filter(col("par") === 0),
        ev.filter(col("par") === 1), Seq("event_type"), "vm")
    }),

    // --- Mann–Whitney U drift (r16): the q217 slices under the rank
    //     test — tie-mid-rank 2U in exact decimal, common-language
    //     effect size, tie-corrected z ---
    "q259_u_test" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("event_type"),
          round(col("value") * 1000000).cast("long").as("vm"),
          (unix_date(to_date(col("ts"))) % 2).as("par"))
      Drift.uTest(ev.filter(col("par") === 0), ev.filter(col("par") === 1),
        Seq("event_type"), "vm")
    }),

    // --- rolling-window distinct users (r15): 7-day trailing distinct
    //     per event_type by MERGING day-grain KMV sketches — one scan
    //     into day sketches, every window O(7k) list algebra; the
    //     count(DISTINCT) OVER (RANGE 6 PRECEDING) that warehouses
    //     re-scan per window, made compositional ---
    "q218_rolling_distinct" -> ((s, dir) =>
      Aggregates.kmvRollingDistinct(Tables.events(s, dir),
        Seq("event_type"), "ts", "user_id", windowDays = 7, k = 64)),

    // --- leakage-safe train/val/test split (r15): the split keyed by
    //     the near-dup GROUP representative, so paraphrase/boilerplate
    //     clusters can never straddle the train/test boundary — the
    //     guard a per-document split structurally cannot give; composes
    //     q70's connected components with q64's md5 bucket ---
    "q219_leakage_safe_split" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val jac = SetSimJoin.jaccardPairs(docs, "doc_id", "text",
          shingleN = 3, threshold = 0.1, blockCol = Some("lang"),
          dfCap = Some(64L))
        .select("id_a", "id_b")
      val chain = docs.filter(col("doc_id") % 100 < 2)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      val groups = MinHashDedup.dupGroups(jac.unionByName(chain))
      Sampling.groupAwareSplit(docs, "doc_id", groups,
          trainPerMille = 800, valPerMille = 100)
        .select(col("doc_id"), col("group_rep"), col("split"))
    }),

    // --- HITS hubs & authorities (r15): the two-sided ranking over the
    //     DIRECTED buyer→supplier graph — hubs are buyers concentrating
    //     on good suppliers, authorities the suppliers good buyers pick;
    //     L1-normalized halves keep the q154 decimal determinism ---
    "q220_hits" -> ((s, dir) => {
      val edges = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      Graph.hits(edges, iters = 2)
    }),

    // --- classifier audit (r15): per-class precision/recall/F1 of the
    //     q30 language-ID gate against the corpus labels — the
    //     evaluation half of every inference pipeline; one count-matrix
    //     aggregate, broadcast-sized algebra after ---
    "q221_class_report" -> ((s, dir) => {
      val toks = TF.tokens(col("text"))
      val preds = Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        TF.langId(toks, langMarkers).as("predicted"))
      Eval.classReport(preds, "lang", "predicted")
    }),

    // --- calibration bins (r15): the reliability diagram of the q180
    //     quality classifier against a deterministic truth column — the
    //     confidently-wrong-gate audit, one bin-grain aggregate with the
    //     per-bin |accuracy − confidence| ECE term ---
    "q222_calibration" -> ((s, dir) => {
      import s.implicits._
      val w = Seq(("data", 1.25), ("query", -0.75), ("the", 0.5),
        ("stream", 0.25), ("table", 1.0), ("data_query", 2.0),
        ("the_data", -1.5)).toDF("term", "wt")
      val docs = Tables.documents(s, dir)
      val scores = TextClassifier.scoreLinear(docs, "doc_id", "text",
        w, "term", "wt", bias = -0.5)
      val labeled = scores.join(
        docs.select(col("doc_id"),
          col("text").contains("data").as("label")), Seq("doc_id"))
      Eval.calibration(labeled, "score", "label", bins = 10)
    }),

    // --- sessionization (r15): gap-based session assignment + session
    //     rollup over the event log — ONE entity-grain shuffle, the lag
    //     and the running flag-sum share a single Window node; 8 h gap
    //     splits near this corpus's median inter-event gap (~7.3 h) ---
    "q223_sessionize" -> ((s, dir) =>
      Sessionize.sessionStats(Tables.events(s, dir), "user_id", "ts",
        gapSeconds = 8L * 3600)),

    // --- ROC curve (r15): language-ID marker-count score vs the 'en'
    //     truth — thresholds are exact small-integer scores (engine-stable
    //     group keys); one score-grain aggregate + one bounded window ---
    "q224_roc_curve" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = docs.select(
        TF.markerHits(TF.tokens(col("text")), Seq("the", "a"))
          .cast("double").as("score"),
        (col("lang") === "en").as("label"))
      Eval.rocCurve(scored, "score", "label")
    }),

    // --- exact ROC-AUC (r15): the Mann–Whitney rank statistic with tie
    //     mid-rank correction over the same scored set — products form in
    //     DECIMAL(38,0) (the ksDrift overflow class), one division out ---
    "q225_roc_auc" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = docs.select(
        TF.markerHits(TF.tokens(col("text")), Seq("the", "a"))
          .cast("double").as("score"),
        (col("lang") === "en").as("label"))
      Eval.rocAuc(scored, "score", "label")
    }),

    // --- QQ comparison (r16): exact type-1 quantiles of the even/odd
    //     order-key slices at the 5%-grid — WHERE the distributions
    //     diverge, ksDrift's triage companion ---
    "q256_qq_compare" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      Drift.qqCompare(o.filter(col("o_orderkey") % 2 === 0),
        o.filter(col("o_orderkey") % 2 === 1), "cents", points = 20)
    }),

    // --- Fleiss' kappa (r16): three deterministic heuristic "raters"
    //     vote pos/neg per document — the multi-annotator agreement
    //     number a labeling campaign gates on ---
    "q257_fleiss" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      def rater(c: org.apache.spark.sql.Column) =
        docs.select(col("doc_id").as("item"),
          when(c, "pos").otherwise("neg").as("cat"))
      Eval.fleissKappa(
        rater(col("text").contains("data"))
          .unionByName(rater(col("text").contains("the")))
          .unionByName(rater(size(TF.tokens(col("text"))) > 40)),
        "item", "cat")
    }),

    // --- label propagation (r16): 2 synchronous rounds over the
    //     buyer–supplier graph (q220's edge set, undirected) — exact
    //     integer votes, smallest-label ties, fixed rounds replayed ---
    "q258_label_prop" -> ((s, dir) => {
      val edges = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      Graph.labelPropagation(edges, iters = 2)
    }),

    // --- PR curve (r16): rocCurve's class-imbalance-honest sibling over
    //     the same scorer — score-grain sweep, exact counts, micro
    //     precision/recall ---
    "q250_pr_curve" -> ((s, dir) => {
      val scored = Tables.documents(s, dir).select(
        TF.markerHits(TF.tokens(col("text")), Seq("the", "a"))
          .cast("double").as("score"),
        (col("lang") === "en").as("label"))
      Eval.prCurve(scored, "score", "label")
    }),

    // --- Brier + Murphy decomposition (r16): the calibration audit's
    //     scalar summary over the q222 scorer — reliability − resolution
    //     + uncertainty, bin terms nano-floored, exact direct mean too ---
    "q251_brier" -> ((s, dir) => {
      import s.implicits._
      val w = Seq(("data", 1.25), ("query", -0.75), ("the", 0.5),
        ("stream", 0.25), ("table", 1.0), ("data_query", 2.0),
        ("the_data", -1.5)).toDF("term", "wt")
      val docs = Tables.documents(s, dir)
      val labeled = TextClassifier.scoreLinear(docs, "doc_id", "text",
        w, "term", "wt", bias = -0.5)
        .join(docs.select(col("doc_id"),
          col("text").contains("data").as("label")), Seq("doc_id"))
      Eval.brierDecomposition(labeled, "score", "label", bins = 10)
    }),

    // --- log-loss (r16): the unbounded proper-scoring companion — the
    //     q222 scorer's cross-entropy, clamped to replayable literals ---
    "q252_log_loss" -> ((s, dir) => {
      import s.implicits._
      val w = Seq(("data", 1.25), ("query", -0.75), ("the", 0.5),
        ("stream", 0.25), ("table", 1.0), ("data_query", 2.0),
        ("the_data", -1.5)).toDF("term", "wt")
      val docs = Tables.documents(s, dir)
      val labeled = TextClassifier.scoreLinear(docs, "doc_id", "text",
        w, "term", "wt", bias = -0.5)
        .join(docs.select(col("doc_id"),
          col("text").contains("data").as("label")), Seq("doc_id"))
      Eval.logLoss(labeled, "score", "label")
    }),

    // --- Cohen's kappa (r16): chance-corrected agreement over the q221
    //     langid predictions — the skew-honest accuracy ---
    "q253_kappa" -> ((s, dir) => {
      val preds = Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        TF.langId(TF.tokens(col("text")), langMarkers).as("predicted"))
      Eval.cohenKappa(preds, "lang", "predicted")
    }),

    // --- chi-square association + Cramér's V (r16): are priority and
    //     status entangled — the stratification-trust audit ---
    "q254_chi2_assoc" -> ((s, dir) =>
      Audit.chiSquareAssociation(Tables.orders(s, dir),
        "o_orderpriority", "o_orderstatus")),

    // --- the analytics-TVF SQL face under the oracle (r16): q225's AUC
    //     driven through PURE SQL — the scored view registers, then
    //     `SELECT * FROM graft_roc_auc(...)` plans the IDENTICAL Eval
    //     tree (one arithmetic implementation, two entry points) ---
    // --- pure-SQL event analytics (r17): the sessionize face drives the
    //     whole path through the TVF — same plan the Scala surface builds
    //     (AnalyticsTvfSpec ≡-pins all five event faces); 6 h gap
    //     distinguishes it from q223's 8 h Scala-driven entry ---
    "q274_sql_sessionize" -> ((s, dir) => {
      Tables.events(s, dir).createOrReplaceTempView("q274_events")
      s.sql("SELECT * FROM graft_sessionize('q274_events', 'user_id', " +
        "'ts', 21600)")
    }),

    "q249_sql_roc_auc" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        TF.markerHits(TF.tokens(col("text")), Seq("the", "a"))
          .cast("double").as("score"),
        (col("lang") === "en").as("label"))
        .createOrReplaceTempView("q249_scored")
      s.sql("SELECT * FROM graft_roc_auc('q249_scored', 'score', 'label')")
    }),

    // --- average precision (r15): the class-imbalance-honest companion
    //     to q225 over the same scored set — block-tie AP, nano-quantized
    //     per-block terms summed in decimal ---
    "q227_avg_precision" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = docs.select(
        TF.markerHits(TF.tokens(col("text")), Seq("the", "a"))
          .cast("double").as("score"),
        (col("lang") === "en").as("label"))
      Eval.averagePrecision(scored, "score", "label")
    }),

    // --- embedding covariance (r15): exact raw-moment matrix, ONE
    //     aggregate (d² accumulators after partial combine) ---
    "q233_embed_cov" -> ((s, dir) =>
      Pca.covariance(Tables.embeddings(s, dir), "embedding")
        .select(col("i"), col("j"), col("n"),
          floor(col("cov") * lit(1e9) + lit(0.5)).cast("long")
            .as("cov_nano"))),

    // --- dominant direction (r15): 8 fixed power-iteration rounds over
    //     the d² covariance table — corpus-free after the one stats scan;
    //     anisotropy readout for the embedding space ---
    "q234_dominant_direction" -> ((s, dir) => {
      val cov = Pca.covariance(Tables.embeddings(s, dir), "embedding")
      Pca.topDirection(cov, dim = 64)
        .select(col("i"),
          floor(col("v") * lit(1000000.0) + lit(0.5)).cast("long")
            .as("v_micro"))
    }),

    // --- all-but-the-top (r15): remove the dominant direction from every
    //     embedding — one broadcast array, one corpus scan, no shuffle ---
    "q241_debias_embeddings" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val direction = Pca.topDirection(Pca.covariance(emb, "embedding"),
        dim = 64)
      Pca.removeDominant(emb, "vec_id", "embedding", direction)
    }),

    // --- Zipf fit (r15): rank-frequency law over the token table — the
    //     corpus-health readout; top-200 cut, nano-ln moment OLS ---
    "q242_zipf" -> ((s, dir) => {
      val counts = Tables.documents(s, dir)
        .select(explode(TF.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
      Frequency.zipfFit(counts, "tok", "n", topN = 200)
    }),

    // --- Gini concentration (r15): token-mass balance across sources —
    //     the mix-skew number before a training recipe freezes ---
    "q243_gini_sources" -> ((s, dir) => {
      val mass = Tables.documents(s, dir)
        .filter(col("source").isNotNull)
        .groupBy("source")
        .agg(sum(TF.tokenCount(col("text")).cast("long")).as("tok_mass"))
      Frequency.gini(mass, "tok_mass")
    }),

    // --- Platt scaling (r15): the calibration FIX after q222's audit —
    //     clipped fixed-round Newton refit of the q180-style gate ---
    "q246_platt_fit" -> ((s, dir) => {
      import s.implicits._
      val w = Seq(("data", 1.25), ("query", -0.75), ("the", 0.5),
        ("stream", 0.25), ("table", 1.0), ("data_query", 2.0),
        ("the_data", -1.5)).toDF("term", "wt")
      val docs = Tables.documents(s, dir)
      val scores = TextClassifier.scoreLinear(docs, "doc_id", "text",
        w, "term", "wt", bias = -0.5)
      val labeled = scores.join(
        docs.select(col("doc_id"),
          col("text").contains("data").as("label")), Seq("doc_id"))
      Eval.plattFit(labeled, "score", "label")
    }),

    // --- Kaplan–Meier (r15): time-to-first-purchase WITH administrative
    //     censoring at a 7-day window — a user who hasn't converted by
    //     day 7 is at-risk mass, not a never-converter ---
    "q245_kaplan_meier" -> ((s, dir) => {
      val spans = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .groupBy("user_id")
        .agg(min(to_date(col("ts"))).as("__f"),
          max(to_date(col("ts"))).as("__l"),
          min(when(col("event_type") === "purchase", to_date(col("ts"))))
            .as("__fp"))
      val off = datediff(col("__fp"), col("__f"))
      val observed = col("__fp").isNotNull && off <= 7
      val subjects = spans.select(
        when(observed, off)
          .otherwise(least(datediff(col("__l"), col("__f")), lit(7)))
          .cast("long").as("dur"),
        observed.as("event"))
      Survival.kaplanMeier(subjects, "dur", "event")
    }),

    // --- Heaps' law (r15): vocabulary-growth fit via token first-
    //     occurrence positions — no running-distinct scan ---
    "q244_heaps" -> ((s, dir) =>
      Frequency.heapsFit(Tables.documents(s, dir), "doc_id", "text")),

    // --- ACF (r15): seasonality detector over daily event counts per
    //     type — |lags| keyed self-joins at series grain ---
    "q239_acf" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .filter(col("event_type").isNotNull && col("ts").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      Seasonal.autoCorrelation(daily, Seq("event_type"), "day", "n",
        maxLag = 7)
    }),

    // --- lead–lag CCF (r15): does click activity anticipate purchases —
    //     the classic cross-series diagnostic, exact decimal moments ---
    "q240_ccf_leadlag" -> ((s, dir) => {
      def daily(t: String) = Tables.events(s, dir)
        .filter(col("event_type") === t && col("ts").isNotNull)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      Seasonal.crossCorrelation(daily("click"), daily("purchase"),
        "day", "n", maxLag = 5)
    }),

    // --- retrieval eval (r15): MRR/NDCG/P@k/recall of the exact cosine
    //     kNN run against same-label judgments — the numbers that decide
    //     whether a retrieval-stack change helped ---
    "q237_rank_metrics" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val runs = Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") < 10), k = 5)
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("label").as("__ql"))
      val qrels = q.join(
        emb.select(col("vec_id").as("nn_id"), col("label").as("__dl")),
        col("nn_id") =!= col("query_id"))
        .select(col("query_id"), col("nn_id"),
          when(col("__ql") === col("__dl"), lit(1.0)).otherwise(lit(0.0))
            .as("rel"))
      Eval.rankMetrics(runs, qrels, "query_id", "nn_id", "rnk", "rel", k = 5)
    }),

    // --- PMI collocations (r15): phrase mining over the corpus — one
    //     tokenize scan, vocab-grain joins, TakeOrderedAndProject cut ---
    "q238_pmi_collocations" -> ((s, dir) =>
      Keywords.pmiCollocations(Tables.documents(s, dir), "text",
        minCount = 5, topK = 20)),

    // --- variance share (r15): Rayleigh quotient of the dominant
    //     direction over trace — the anisotropy number ---
    "q235_variance_share" -> ((s, dir) => {
      val cov = graft.util.Caches.cache(
        Pca.covariance(Tables.embeddings(s, dir), "embedding")).toDF
      Pca.dominantShare(cov, Pca.topDirection(cov, dim = 64))
    }),

    // --- rendezvous sharding (r15): highest-random-weight routing —
    //     growing the shard count moves only the new shard's keys ---
    "q236_rendezvous" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TF.polyHash(col("doc_id").cast("string")).as("__h"))
        .select(col("doc_id"),
          Sampling.rendezvousShard(col("__h"), 5).as("shard5"),
          Sampling.rendezvousShard(col("__h"), 6).as("shard6"))
        .withColumn("moved", col("shard5") =!= col("shard6"))),

    // --- mutual kNN (r15): the reciprocal filter over a kNN edge table —
    //     one semi-join at edge grain, hub artifacts drop. EXACT tier:
    //     O(n²) edge build — the bounded differential anchor for q247 ---
    "q230_mutual_knn" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.mutualPairs(
        Similarity.bruteForceTopK(emb, emb, k = 5), "query_id", "nn_id")
    }),

    // --- mutual kNN, LSH tier (r16): the SCALE path — edges from the
    //     bucket self-join kNN graph (sub-quadratic: Σ|bucket|² candidate
    //     pairs, no broadcast of the corpus), the same reciprocal
    //     semi-join on top. Seeded hyperplanes replay in DuckDB (the q38
    //     scheme), so the full approximate composition is hash-checked ---
    "q247_mutual_knn_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.mutualPairs(
        Similarity.lshKnnEdges(emb, k = 5, nBits = 6, nTables = 6),
        "query_id", "nn_id")
    }),

    // --- Benford first-digit audit (r15): the forensic screen on the
    //     money column — exact cents, string first digit (no float
    //     log10 binning), inlined Benford expectation literals ---
    "q231_benford" -> ((s, dir) =>
      Audit.benford(Tables.orders(s, dir),
        round(col("o_totalprice") * 100).cast("long"))),

    // --- vocabulary JSD (r15): token-distribution drift between the
    //     even- and odd-id document slices per language — the categorical
    //     companion of q215's PSI / q217's KS ---
    "q232_jsd_vocab" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("lang").isNotNull)
      def toks(f: Column) = docs.filter(f)
        .select(col("lang"), explode(TF.tokens(col("text"))).as("tok"))
      Drift.jsDrift(toks(col("doc_id") % 2 === 0),
        toks(col("doc_id") % 2 === 1), Seq("lang"), "tok")
    }),

    // --- MMR diversity re-rank (r15): greedy λ·rel − (1−λ)·max-sim over a
    //     bounded candidate pool (the post-retrieval stage); k−1 rounds of
    //     (query, candidate)-grain joins, the corpus never appears ---
    "q229_mmr_rerank" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val pool = emb.filter(col("vec_id") < 40)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val qs = emb.filter(col("vec_id").isin(1L, 2L, 3L))
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      val cands = pool.join(broadcast(qs), col("id") =!= col("query_id"))
        .withColumn("rel", VF.cosine(col("q_emb"), col("vec")))
      Similarity.mmrSelect(cands, "query_id", "id", "rel", "vec",
        k = 4, lambda = 0.75)
    }),

    // --- c-TF-IDF cluster keywords (r15): which terms are DISCRIMINATIVE
    //     per language slice — one tokenize scan, one (class, term)
    //     shuffle, broadcast class totals, TopKAgg cut ---
    "q228_ctfidf_keywords" -> ((s, dir) =>
      Keywords.cTfIdf(Tables.documents(s, dir), "lang", "text", topK = 8)),

    // --- count–min sketch (r15): token-frequency summary in 4×512
    //     integers built in ONE aggregate, point estimates for a probe
    //     list via min-over-seeds against the BROADCAST sketch; portable
    //     seeded hashes (D15 tier) so build→estimate hash-oracles ---
    "q226_count_min" -> ((s, dir) => {
      import s.implicits._
      val toks = Tables.documents(s, dir)
        .select(explode(TF.tokens(col("text"))).as("tok"))
      val sk = Sketches.CountMin.build(toks, col("tok"),
        depth = cmDepth, width = cmWidth)
      Sketches.CountMin.estimate(sk, cmProbes.toDF("term"), "term",
        depth = cmDepth, width = cmWidth)
    })
  )

  /** q226 CMS knobs + probe terms — shared by the registration and the
    * inlined oracle literals. Probes mix heavy tokens, rare ones and one
    * guaranteed-absent key (estimates 0 unless all 4 rows collide).
    */
  private val cmDepth = 4
  private val cmWidth = 512
  private val cmProbes = Seq("data", "the", "query", "stream", "xyzzy-nope")

  /** q196's screen list — shared by the registration and the oracle;
    * includes overlapping patterns and one guaranteed-absent probe.
    */
  private val BlocklistPatterns = Seq("data", "at", "stream", "query",
    "the", "he", "batch window", "xyzzy-nope")

  /** q74 LSH knobs — shared by the registration and the mirrored oracle. */
  private val lshBits = 6
  private val lshTables = 8

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en"     -> Seq("the", "a"),
    "query"  -> Seq("query", "scan", "filter"),
    "data"   -> Seq("data", "table", "column"),
    "stream" -> Seq("stream", "batch", "window"))

  private val stopwords = Seq("the", "a", "value", "key")

  // ---------------------------------------------------------------- oracle

  /** DuckDB equivalents. Notes:
    *  - `CAST(ts AS TIMESTAMP)` truncates events' ns to µs, matching
    *    [[Tables.events]].
    *  - decimal-exact sums via [[graft.util.Num.dsumSql]].
    */
  def oracleSql: Map[String, String] = {
    val disc = "l_extendedprice*(1.0-l_discount)"
    Map(
      "q01_pricing_summary" -> s"""
        SELECT l_returnflag, l_linestatus,
          ${dsumSql("l_quantity")} AS sum_qty,
          ${dsumSql("l_extendedprice")} AS sum_base_price,
          ${dsumSql(disc)} AS sum_disc_price,
          CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
            (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4))) *
            (CAST(1 AS DECIMAL(6,4)) + CAST(l_tax AS DECIMAL(6,4)))), 4) AS DOUBLE) AS sum_charge,
          ${davgSql("l_quantity")} AS avg_qty,
          ${davgSql("l_extendedprice")} AS avg_price,
          ${davgSql("l_discount")} AS avg_disc,
          COUNT(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus""",

      "q02_filter_project" -> """
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount > 0.05 AND l_quantity < 10""",

      "q03_top_orders" -> s"""
        SELECT o_orderkey, o_orderdate, ${dsumSql(disc)} AS revenue
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderkey LIMIT 10""",

      "q04_order_priority" -> """
        SELECT o_orderpriority, COUNT(*) AS n
        FROM orders WHERE EXISTS (
          SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        GROUP BY o_orderpriority""",

      "q05_regional_revenue" -> s"""
        SELECT n_name, ${dsumSql(disc)} AS revenue, COUNT(*) AS n_lines
        FROM region JOIN nation ON n_regionkey = r_regionkey
                    JOIN customer ON c_nationkey = n_nationkey
                    JOIN orders ON o_custkey = c_custkey
                    JOIN lineitem ON l_orderkey = o_orderkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name""",

      "q06_forecast_revenue" -> s"""
        SELECT ${dsumSql("l_extendedprice*l_discount")} AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""",

      "q07_customers_no_orders" -> """
        SELECT c_mktsegment, COUNT(*) AS n_customers
        FROM customer WHERE NOT EXISTS (
          SELECT 1 FROM orders WHERE o_custkey = c_custkey
            AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        GROUP BY c_mktsegment""",

      "q08_outer_join_fill" -> s"""
        SELECT c_custkey,
          COUNT(o_orderkey) AS n_orders,
          COALESCE(MAX(o_orderpriority), 'Unknown') AS top_priority,
          COALESCE(${dsumSql("o_totalprice")}, 0.0) AS total_spend
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        GROUP BY c_custkey""",

      "q09_band_join" -> s"""
        SELECT band, COUNT(*) AS n, ${dsumSql("l_extendedprice")} AS sum_price
        FROM lineitem JOIN (VALUES ('b0',0.0,10.0),('b1',10.0,20.0),('b2',20.0,30.0),
          ('b3',30.0,40.0),('b4',40.0,100.0)) AS bands(band, lo, hi)
          ON l_quantity >= lo AND l_quantity < hi
        GROUP BY band""",

      "q10_asof_join" -> """
        WITH clicks0 AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS cts, value AS cvalue,
                 ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP)
                                    ORDER BY event_id DESC) AS rn
          FROM events WHERE event_type = 'click'),
        cd AS (SELECT user_id, cts, cvalue FROM clicks0 WHERE rn = 1),
        p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
              FROM events WHERE event_type = 'purchase')
        SELECT p.event_id, p.user_id, p.ts, p.value,
               cd.cts AS asof_cts, cd.cvalue AS asof_cvalue
        FROM p ASOF LEFT JOIN cd
          ON p.user_id = cd.user_id AND cd.cts <= p.ts""",

      "q11_dedup_keep_last" -> """
        SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts, value
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
              FROM events) WHERE rn = 1""",

      "q12_exact_dedup_docs" -> """
        WITH u AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000 AS doc_id, text FROM documents
          WHERE doc_id % 5 = 0)
        SELECT md5(text) AS text_hash, MIN(doc_id) AS canonical_id,
               COUNT(*) AS n_copies
        FROM u GROUP BY md5(text)""",

      "q13_distinct" -> """
        SELECT DISTINCT event_type, user_id % 10 AS user_bucket FROM events""",

      "q14_setops" -> """
        SELECT 'only_click' AS tag, user_id FROM (
          SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
          EXCEPT
          SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        UNION ALL
        SELECT 'both' AS tag, user_id FROM (
          SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
          INTERSECT
          SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')""",

      "q15_incremental_antijoin" -> """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders s
        WHERE s.o_orderkey % 3 = 0 AND NOT EXISTS (
          SELECT 1 FROM orders t
          WHERE t.o_orderkey % 2 = 0 AND t.o_orderkey = s.o_orderkey)""",

      "q16_rollup" -> s"""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               ${dsumSql("l_quantity")} AS sum_l_quantity
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""",

      "q17_cube" -> """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""",

      "q18_grouping_sets" -> s"""
        SELECT event_type, user_id % 10 AS user_bucket, COUNT(*) AS n,
               ${dsumSql("value")} AS sum_value
        FROM (SELECT event_type, user_id, value FROM events)
        GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())""",

      "q19_count_distinct" -> """
        SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
               COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag""",

      "q44_vwap" -> s"""
        SELECT l_returnflag,
          ${dsumSql("l_extendedprice*l_quantity")} / ${dsumSql("l_quantity")} AS vwap
        FROM lineitem GROUP BY l_returnflag""",

      "q45_summarize" -> s"""
        SELECT event_type,
          ${dsumSql("value")} AS sum_value,
          ${davgSql("value")} AS avg_value,
          MIN(value) AS min_value, MAX(value) AS max_value, COUNT(*) AS n
        FROM events GROUP BY event_type""",

      "q20_window_sma" -> s"""
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
          CAST(SUM(CAST(value AS DECIMAL(38,4))) OVER w AS DOUBLE) / COUNT(*) OVER w AS sma5
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""",

      "q21_lag_delta" -> """
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
          value - LAG(value, 1) OVER (PARTITION BY user_id
            ORDER BY CAST(ts AS TIMESTAMP), event_id) AS delta
        FROM events""",

      "q22_rank_topn" -> """
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) WHERE rn <= 3""",

      "q23_running_sum" -> """
        SELECT o_custkey, o_orderkey,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_total
        FROM orders""",

      "q24_calendar" -> s"""
        SELECT CAST(year(d) AS INT) AS Year, CAST(quarter(d) AS INT) AS Quarter,
               dayname(d) AS Weekday,
               COUNT(*) AS n, ${dsumSql("o_totalprice")} AS sum_price
        FROM (SELECT CAST(o_orderdate AS DATE) AS d, o_totalprice FROM orders)
        GROUP BY year(d), quarter(d), dayname(d)""",

      "q25_json_extract" -> """
        SELECT event_type,
          CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
          COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k
        FROM events GROUP BY event_type""",

      "q26_string_funcs" -> """
        SELECT p_partkey, upper(p_name) AS uname, substring(p_name, 1, 5) AS pfx,
               length(p_name) AS name_len,
               concat_ws('|', p_brand, p_type) AS brand_type,
               regexp_extract(p_brand, '[0-9]+') AS brand_num,
               replace(p_type, ' ', '_') AS type_slug
        FROM part""",

      "q27_case_when" -> s"""
        SELECT c_mktsegment,
          CASE WHEN c_acctbal < 0 THEN 'debt' WHEN c_acctbal < 1000 THEN 'low'
               WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS wealth,
          COUNT(*) AS n, ${dsumSql("c_acctbal")} AS sum_bal
        FROM customer GROUP BY 1, 2""",

      "q29_pivot" -> """
        SELECT user_id % 20 AS user_bucket,
          COUNT(*) FILTER (WHERE event_type = 'click') AS "click",
          COUNT(*) FILTER (WHERE event_type = 'view') AS "view",
          COUNT(*) FILTER (WHERE event_type = 'purchase') AS "purchase",
          COUNT(*) FILTER (WHERE event_type = 'signup') AS "signup",
          COUNT(*) FILTER (WHERE event_type = 'error') AS "error"
        FROM events GROUP BY user_id % 20""",

      "q30_langid" -> """
        WITH t AS (SELECT doc_id, lang,
          len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              x -> x IN ('the','a'))) AS s0,
          len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              x -> x IN ('query','scan','filter'))) AS s1,
          len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              x -> x IN ('data','table','column'))) AS s2,
          len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              x -> x IN ('stream','batch','window'))) AS s3
          FROM documents)
        SELECT doc_id, lang,
          CASE WHEN s0 >= s1 AND s0 >= s2 AND s0 >= s3 AND s0 > 0 THEN 'en'
               WHEN s1 > s0 AND s1 >= s2 AND s1 >= s3 AND s1 > 0 THEN 'query'
               WHEN s2 > s0 AND s2 > s1 AND s2 >= s3 AND s2 > 0 THEN 'data'
               WHEN s3 > s0 AND s3 > s1 AND s3 > s2 AND s3 > 0 THEN 'stream'
               ELSE 'und' END AS predicted
        FROM t""",

      "q31_quality" -> """
        WITH t AS (SELECT doc_id, text,
            string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents)
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END AS n_tokens,
          length(text) AS n_chars_m,
          CASE WHEN len(toks) = 0 THEN 0.0
               ELSE CAST(list_aggregate(list_transform(toks, x -> CAST(length(x) AS BIGINT)), 'sum') AS DOUBLE) / len(toks)
          END AS avg_token_len,
          CASE WHEN len(toks) = 0 THEN 0.0
               ELSE CAST(len(list_filter(toks, x -> x IN ('the','a','value','key'))) AS DOUBLE) / len(toks)
          END AS stop_ratio,
          len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpeish
        FROM t""",

      "q32_token_stats" -> """
        WITH t AS (SELECT source,
            CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS n_tokens,
            len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpeish
          FROM documents)
        SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
               MAX(n_tokens) AS max_tokens,
               CAST(SUM(n_bpeish) AS BIGINT) AS sum_bpeish, COUNT(*) AS n_docs
        FROM t GROUP BY source""",

      "q36_ngram_jaccard" -> """
        WITH t AS (SELECT doc_id, lang,
            string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        s AS (SELECT doc_id, lang,
            CASE WHEN len(toks) < 3 THEN [] ELSE list_distinct(
              list_transform(range(0, len(toks) - 2),
                i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
            END AS sh
          FROM t)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
            (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE len(a.sh) > 0 AND len(b.sh) > 0
          AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
            (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.3""",

      "q37_cosine_topk" -> """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
        scored AS (
          SELECT q.query_id, v.vec_id AS nn_id,
            list_dot_product(v.e, q.qe) /
              (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(q.qe, q.qe))) AS s
          FROM v JOIN q ON v.vec_id <> q.query_id),
        ranked AS (
          SELECT query_id, nn_id, round(s, 6) AS score,
            ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, nn_id) AS rnk
          FROM scored)
        SELECT query_id, nn_id, score, rnk FROM ranked WHERE rnk <= 3""",

      "q39_vector_neardup" -> """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          round(list_dot_product(a.e, b.e) /
            (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS score
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.e, b.e) /
            (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.4""",

      // r14 flip: KMV (k=128) replaces HLL — deterministic, hash-checkable
      "q42_approx_distinct" -> duckKmv("event_type", "event_type", 128),

      // r14 flip: day-axis KMV rollup; the engine merges (event_type, day)
      // leaves up to day — the merge property makes that the direct form
      "q135_distinct_rollup" ->
        duckKmv("CAST(CAST(ts AS DATE) AS TIMESTAMP)", "day", 64),

      "q43_percentile" -> """
        SELECT l_returnflag,
          quantile_cont(l_extendedprice, 0.5) AS p50,
          quantile_cont(l_extendedprice, 0.9) AS p90,
          MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
        FROM lineitem GROUP BY l_returnflag""",

      "q46_unpivot" -> """
        SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value
        FROM part
        UNION ALL
        SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value
        FROM part""",

      "q47_range_frame" -> """
        WITH e AS (SELECT event_id, user_id, value,
            epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS sec FROM events)
        SELECT event_id, user_id, sec,
          CAST(SUM(CAST(value AS DECIMAL(38,4))) OVER w AS DOUBLE) AS v60,
          COUNT(*) OVER w AS n60
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY sec
                     RANGE BETWEEN 60 PRECEDING AND CURRENT ROW)""",

      "q48_map_funcs" -> """
        WITH t AS (SELECT unnest(json_keys(props)) AS key, props FROM events)
        SELECT key, COUNT(*) AS n,
               CAST(SUM(CAST(json_extract_string(props, key) AS BIGINT)) AS BIGINT) AS sum_v,
               MIN(CAST(json_extract_string(props, key) AS BIGINT)) AS min_v
        FROM t GROUP BY key""",

      "q49_array_funcs" -> """
        WITH t AS (SELECT doc_id,
            string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents)
        SELECT doc_id,
          CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
          array_to_string(toks[1:3], ',') AS first3,
          toks[-1] AS last_tok,
          list_aggregate(toks, 'min') AS min_tok,
          list_aggregate(toks, 'max') AS max_tok
        FROM t""",

      "q50_first_last" -> """
        SELECT o_custkey, first_price, last_price, second_price FROM (
          SELECT o_custkey,
            FIRST_VALUE(o_totalprice) OVER wf AS first_price,
            LAST_VALUE(o_totalprice) OVER wf AS last_price,
            NTH_VALUE(o_totalprice, 2) OVER wf AS second_price,
            ROW_NUMBER() OVER w AS rn
          FROM orders
          WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                 wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        WHERE rn = 1""",

      "q52_top_supplier" -> s"""
        WITH rev AS (
          SELECT l_suppkey,
                 ${dsumSql("l_extendedprice*(1.0-l_discount)")} AS total_rev
          FROM lineitem GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_rev
        FROM supplier JOIN rev ON s_suppkey = l_suppkey
        WHERE total_rev = (SELECT MAX(total_rev) FROM rev)""",

      "q53_small_orders" -> s"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_small,
               ${dsumSql("l_extendedprice")} AS sum_price
        FROM lineitem l1
        WHERE l_quantity < (
          SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = l1.l_partkey)""",

      "q54_order_distribution" -> """
        WITH per_cust AS (
          SELECT c_custkey, COUNT(o_orderkey) AS n_orders
          FROM customer LEFT JOIN orders ON o_custkey = c_custkey
          GROUP BY c_custkey)
        SELECT n_orders, COUNT(*) AS n_customers
        FROM per_cust GROUP BY n_orders""",

      "q55_wealthy_inactive" -> """
        SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(round(SUM(CAST(c_acctbal AS DECIMAL(38,4))), 4) AS DOUBLE) AS total_bal
        FROM customer
        WHERE c_acctbal > (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,4))) AS DOUBLE) / COUNT(*)
            FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        GROUP BY c_mktsegment""",

      "q56_salted_agg" -> s"""
        SELECT l_returnflag, ${dsumSql("l_quantity")} AS sum_qty, COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag""",

      "q57_label_centroids" -> """
        WITH t AS (SELECT label,
            unnest(CAST(embedding AS DOUBLE[])) AS v,
            unnest(range(0, len(embedding))) AS i
          FROM embeddings)
        SELECT label, i,
          CAST(SUM(CAST(v AS DECIMAL(38,8))) AS DOUBLE) / COUNT(*) AS mean_v
        FROM t GROUP BY label, i""",

      "q58_top_terms" -> """
        WITH toks AS (SELECT doc_id,
            unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
          FROM documents),
        nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM toks),
        tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
        df AS (SELECT tok, COUNT(*) AS df
               FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok)
        SELECT doc_id, tok,
               tf * CAST(n_docs + 1 AS DOUBLE) / (df + 1) AS score, rn
        FROM (SELECT tf.doc_id, tf.tok, tf.tf, df.df, nd.n_docs,
                ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                  ORDER BY tf.tf * CAST(nd.n_docs + 1 AS DOUBLE) / (df.df + 1) DESC,
                           tf.tok) AS rn
              FROM tf, df, nd WHERE tf.tok = df.tok)
        WHERE rn <= 3""",

      "q59_full_outer" -> """
        WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 2 = 0),
        o AS (SELECT o_custkey AS ok, COUNT(*) AS n_orders
              FROM orders WHERE o_orderkey % 3 = 0 GROUP BY o_custkey)
        SELECT COALESCE(c.c_custkey, o.ok, -1) AS custkey,
          CASE WHEN c.c_name IS NULL THEN 'order_only'
               WHEN o.n_orders IS NULL THEN 'customer_only'
               ELSE 'both' END AS side,
          COALESCE(o.n_orders, 0) AS n_orders
        FROM c FULL JOIN o ON c.c_custkey = o.ok""",

      "q65_rank_stats" -> """
        SELECT c_mktsegment, c_custkey,
          PERCENT_RANK() OVER w AS pr,
          CUME_DIST() OVER w AS cd,
          NTILE(4) OVER w AS quartile
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)""",

      "q66_setops_all" -> """
        WITH a AS (SELECT user_id % 50 AS b FROM events
                   WHERE event_type IN ('click','view')),
        bb AS (SELECT user_id % 50 AS b FROM events WHERE event_type = 'click'),
        ex AS (SELECT b FROM a EXCEPT ALL SELECT b FROM bb),
        ia AS (SELECT b FROM a INTERSECT ALL SELECT b FROM bb)
        SELECT 'except_all' AS op, b, COUNT(*) AS n FROM ex GROUP BY b
        UNION ALL
        SELECT 'intersect_all' AS op, b, COUNT(*) AS n FROM ia GROUP BY b""",

      "q68_array_predicates" -> """
        WITH t AS (SELECT lang,
            string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents)
        SELECT lang, COUNT(*) AS n,
          CAST(SUM(CASE WHEN len(list_filter(toks, x -> x = 'the')) > 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_has_the,
          CAST(SUM(CASE WHEN len(list_filter(toks, x -> length(x) >= 8)) = 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_all_short
        FROM t GROUP BY lang""",

      "q69_session_batch" -> """
        WITH e AS (SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts
                   FROM events),
        flagged AS (SELECT *,
            CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                   OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sessioned AS (SELECT *,
            SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM flagged)
        SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value,
               MIN(event_id) AS first_event
        FROM sessioned GROUP BY user_id, sid""",

      "q67_date_gaps" -> """
        WITH t AS (SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS d FROM orders),
        k AS (SELECT o_orderpriority, MIN(d) AS d0, MAX(d) AS d1,
                     COUNT(DISTINCT d) AS n_present
              FROM t GROUP BY o_orderpriority)
        SELECT o_orderpriority,
               CAST(date_diff('day', d0, d1) + 1 AS BIGINT) AS n_days,
               n_present,
               CAST(date_diff('day', d0, d1) + 1 AS BIGINT) - n_present AS n_missing
        FROM k""",

      "q64_dataset_split" -> """
        WITH t AS (SELECT doc_id, n_chars,
            CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % 1000 AS b
          FROM documents)
        SELECT CASE WHEN b < 800 THEN 'train'
                    WHEN b < 900 THEN 'val' ELSE 'test' END AS split,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               MIN(doc_id) AS min_id
        FROM t GROUP BY 1""",

      "q62_ohlc_resample" -> s"""
        SELECT o_orderpriority,
          CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS bucket,
          struct_extract(min(struct_pack(
            t := o_orderdate, k := o_orderkey, p := o_totalprice)), 'p') AS open,
          MAX(o_totalprice) AS high,
          MIN(o_totalprice) AS low,
          struct_extract(max(struct_pack(
            t := o_orderdate, k := o_orderkey, p := o_totalprice)), 'p') AS close,
          COUNT(*) AS n_bars,
          ${dsumSql("o_totalprice")} AS turnover
        FROM orders
        GROUP BY o_orderpriority, date_trunc('month', o_orderdate)""",

      "q61_reference_etl" -> """
        SELECT CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS Date,
          CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS Year,
          CAST(month(CAST(o_orderdate AS DATE)) AS INT) AS Month,
          CAST(day(CAST(o_orderdate AS DATE)) AS INT) AS Day,
          CAST(quarter(CAST(o_orderdate AS DATE)) AS INT) AS Quarter,
          dayname(CAST(o_orderdate AS DATE)) AS Weekday,
          CASE WHEN o_orderkey % 7 = 0 THEN 'Unknown' ELSE o_orderpriority END AS Ticker,
          CASE WHEN o_orderkey % 7 = 0 THEN 'Unknown'
               ELSE 'Corp ' || o_orderpriority END AS Company,
          o_totalprice / 1000.0 AS Open,
          o_totalprice / 1000.0 * 1.05 AS High,
          o_totalprice / 1000.0 * 0.95 AS Low,
          o_totalprice / 1000.0 * 1.01 AS Close,
          o_custkey % 1000 AS Volume,
          0.0 AS Dividends,
          0.0 AS stock_splits
        FROM orders""",

      "q60_rank_dense" -> """
        SELECT o_custkey, o_orderkey, rnk, drnk, rn FROM (
          SELECT o_custkey, o_orderkey,
            RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk,
            ROW_NUMBER() OVER w AS rn
          FROM orders
          WINDOW w AS (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey))
        WHERE rn <= 2""",

      "q51_stats" -> s"""
        WITH t AS (
          SELECT l_returnflag, COUNT(*) AS n,
            ${dsumSql("l_extendedprice")} AS sx,
            ${dsumSql("l_extendedprice*l_extendedprice")} AS sxx
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, n, sx / n AS mean,
          (sxx - sx * sx / n) / (n - 1) AS var_s,
          sqrt((sxx - sx * sx / n) / (n - 1)) AS std_s
        FROM t""",

      "q40_multimodal_meta" -> """
        SELECT doc_id AS asset_id, 'image' AS kind,
          CAST(length(text) % 640 + 1 AS INT) AS width,
          CAST(length(text) % 480 + 1 AS INT) AS height,
          'stub' AS codec,
          octet_length(encode(text)) AS n_bytes
        FROM documents""",

      "q70_dedup_groups" -> """
        WITH RECURSIVE t AS (SELECT doc_id, lang,
            string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        s AS (SELECT doc_id, lang,
            CASE WHEN len(toks) < 3 THEN [] ELSE list_distinct(
              list_transform(range(0, len(toks) - 2),
                i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
            END AS sh
          FROM t),
        jac AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
          WHERE len(a.sh) > 0 AND len(b.sh) > 0
            AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.1),
        chain AS (SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents
                  WHERE doc_id % 100 < 2),
        p AS (SELECT id_a, id_b FROM jac UNION SELECT id_a, id_b FROM chain),
        e AS (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),
        reach(id, r) AS (SELECT s, s FROM e
          UNION SELECT e.d, reach.r FROM reach JOIN e ON e.s = reach.id)
        SELECT id, MIN(r) AS component FROM reach GROUP BY id""",

      "q71_csv_roundtrip" -> s"""
        SELECT l_returnflag, COUNT(*) AS n,
          ${dsumSql("l_quantity")} AS sum_qty,
          ${dsumSql("l_extendedprice")} AS sum_price,
          CAST(MAX(l_linenumber) AS BIGINT) AS max_line
        FROM lineitem GROUP BY l_returnflag""",

      "q72_stream_tumbling" -> s"""
        SELECT time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP)) AS bucket_start,
          event_type, COUNT(*) AS n, ${dsumSql("value")} AS sum_value
        FROM events GROUP BY 1, 2""",

      "q73_salted_join" -> s"""
        SELECT o_orderpriority, COUNT(*) AS n_lines, ${dsumSql("l_quantity")} AS sum_qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority""",

      "q74_vector_neardup_lsh" -> {
        // one UNION ALL branch per hash table, each bucket a literal-plane
        // sign sum — bit-identical to Similarity.lshThresholdPairs
        val buckets = (0 until lshTables).map(t =>
          s"SELECT vec_id, $t AS tbl, ${duckBucket(lshBits, t, 64)} AS bkt FROM v")
          .mkString("\n          UNION ALL ")
        s"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        b AS ($buckets),
        cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
          FROM b x JOIN b y
            ON x.tbl = y.tbl AND x.bkt = y.bkt AND x.vec_id < y.vec_id),
        sc AS (SELECT c.id_a, c.id_b,
            CASE WHEN sqrt(list_dot_product(a.e, a.e)) *
                      sqrt(list_dot_product(w.e, w.e)) = 0 THEN 0
                 ELSE list_dot_product(a.e, w.e) /
                   (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(w.e, w.e)))
            END AS s
          FROM cand c JOIN v a ON a.vec_id = c.id_a JOIN v w ON w.vec_id = c.id_b)
        SELECT id_a, id_b, round(s, 6) AS score FROM sc WHERE s >= 0.4"""
      },

      // portable-hash tier replays: polyHash (per-char fold) and the seeded
      // affine permutations / bit planes inline as literals, so the LSH
      // candidate sets — and therefore the exact-verified outputs — match
      // the engine bit-for-bit (the q160/q178 seeded-replay scheme applied
      // to the text-hash family).
      "q33_fingerprint" -> s"""
        WITH t AS (SELECT doc_id,
            string_split_regex(trim(lower(text)), '\\s+') AS toks
          FROM documents),
        h AS (SELECT doc_id,
            list_transform(toks, tk -> ${duckPolyHash("tk")}) AS hs FROM t)
        SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
          (acc, x) -> (acc * 1000003 + x) % 1000000007) AS fingerprint
        FROM h""",

      "q34_minhash_neardup" -> {
        s"""
        WITH t AS (SELECT doc_id,
            string_split_regex(trim(lower(text)), '\\s+') AS toks
          FROM documents),
        g AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN []
            ELSE list_distinct(list_transform(range(0, len(toks) - 2),
              i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) END AS sh
          FROM t),
        d AS (SELECT doc_id, sh FROM g WHERE len(sh) > 0),
        hs AS (SELECT doc_id, list_transform(sh, s -> ${duckPolyHash("s")})
            AS h FROM d),
        sg AS (SELECT doc_id, ${duckMinhashSig(16, 34)} AS sig FROM hs),
        b AS (${duckMinhashBands(8, 2, "sg")}),
        cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
          FROM b x JOIN b y
            ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
        j AS (SELECT c.id_a, c.id_b,
            len(list_intersect(a.sh, w.sh)) AS inter,
            len(a.sh) AS na, len(w.sh) AS nb
          FROM cand c JOIN d a ON a.doc_id = c.id_a
            JOIN d w ON w.doc_id = c.id_b)
        SELECT id_a, id_b,
          round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
        FROM j WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8"""
      },

      "q35_simhash_neardup" -> {
        val planes = SimHashDedup.bitPlanes(35)
        val votes = planes.zipWithIndex.map { case ((a, b), j) =>
          s"sum(CASE WHEN ((h * $a + $b) % 1000000007) % 2 = 1 " +
            s"THEN cnt ELSE -cnt END) AS v$j"
        }.mkString(",\n            ")
        val pack = planes.indices.map(j =>
          s"(CASE WHEN v$j >= 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
        val chunks = (0 until 4).map(i =>
          s"SELECT doc_id, sh, $i AS ci, (sh // ${1L << (15 * i)}) % 32768 " +
            s"AS cv FROM p").mkString("\n          UNION ALL ")
        s"""
        WITH t AS (SELECT doc_id,
            string_split_regex(trim(lower(text)), '\\s+') AS toks
          FROM documents),
        tok AS (SELECT doc_id, unnest(toks) AS tk FROM t),
        hh AS (SELECT doc_id, ${duckPolyHash("tk")} AS h FROM tok),
        c AS (SELECT doc_id, h, CAST(count(*) AS BIGINT) AS cnt
          FROM hh GROUP BY 1, 2),
        v AS (SELECT doc_id,
            $votes
          FROM c GROUP BY 1),
        p AS (SELECT doc_id, $pack AS sh FROM v),
        ch AS ($chunks),
        cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
            x.sh AS sa, y.sh AS sb
          FROM ch x JOIN ch y
            ON x.ci = y.ci AND x.cv = y.cv AND x.doc_id < y.doc_id)
        SELECT id_a, id_b,
          CAST(bit_count(xor(sa, sb)) AS INTEGER) AS dist
        FROM cand WHERE bit_count(xor(sa, sb)) <= 3"""
      },

      "q63_text_embed_neardup" -> {
        val buckets = (0 until 24).map(t =>
          s"SELECT vec_id, $t AS tbl, ${duckBucket(16, t, 64)} AS bkt FROM v")
          .mkString("\n          UNION ALL ")
        s"""
        WITH t AS (SELECT doc_id,
            string_split_regex(trim(lower(text)), '\\s+') AS toks
          FROM documents),
        tok AS (SELECT doc_id, unnest(toks) AS tk FROM t),
        hh AS (SELECT doc_id, ${duckPolyHash("tk")} AS h FROM tok),
        w AS (SELECT doc_id, CAST(h % 64 AS INTEGER) AS pos,
            CASE WHEN (h // 64) % 2 = 1 THEN 1.0 ELSE -1.0 END AS sgn
          FROM hh),
        agg AS (SELECT doc_id, pos, sum(sgn) AS wt FROM w GROUP BY 1, 2),
        ps AS (SELECT doc_id, list(struct_pack(k := pos, v := wt)) AS kv
          FROM agg GROUP BY 1),
        v AS (SELECT doc_id AS vec_id,
            list_transform(range(0, 64), i -> coalesce(
              list_sum(list_transform(list_filter(kv, q -> q.k = i),
                q -> q.v)), 0.0)) AS e
          FROM ps),
        b AS ($buckets),
        cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
          FROM b x JOIN b y
            ON x.tbl = y.tbl AND x.bkt = y.bkt AND x.vec_id < y.vec_id),
        sc AS (SELECT c.id_a, c.id_b,
            CASE WHEN sqrt(list_dot_product(a.e, a.e)) *
                      sqrt(list_dot_product(w2.e, w2.e)) = 0 THEN 0
                 ELSE list_dot_product(a.e, w2.e) /
                   (sqrt(list_dot_product(a.e, a.e)) *
                    sqrt(list_dot_product(w2.e, w2.e)))
            END AS s
          FROM cand c JOIN v a ON a.vec_id = c.id_a
            JOIN v w2 ON w2.vec_id = c.id_b)
        SELECT id_a, id_b, round(s, 6) AS score FROM sc WHERE s >= 0.95"""
      },

      "q75_quality_repetition" -> """
        WITH t AS (SELECT doc_id, text,
            string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        g AS (SELECT doc_id,
            CASE WHEN len(toks) < 2 THEN [] ELSE
              list_transform(range(0, len(toks) - 1),
                i -> toks[i+1] || ' ' || toks[i+2]) END AS g2,
            CASE WHEN len(toks) < 3 THEN [] ELSE
              list_transform(range(0, len(toks) - 2),
                i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) END AS g3,
            list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
              l -> len(l) > 0) AS ls
          FROM t)
        SELECT doc_id,
          round(CASE WHEN len(g2) = 0 THEN 0
            ELSE CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2) END, 6)
            AS dup_bigram_frac,
          round(CASE WHEN len(g3) = 0 THEN 0
            ELSE CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3) END, 6)
            AS dup_trigram_frac,
          round(CASE WHEN len(ls) = 0 THEN 0
            ELSE CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE) / len(ls) END, 6)
            AS dup_line_frac
        FROM g""",

      "q76_pii_redaction" -> """
        SELECT doc_id,
          regexp_replace(
            regexp_replace(text || ' contact: a.user+tag@example.co.uk or 12345678901',
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\b\d{7,}\b', '<NUM>', 'g') AS clean
        FROM documents""",

      "q77_json_roundtrip" -> s"""
        SELECT l_linestatus, COUNT(*) AS n,
          ${dsumSql("l_quantity")} AS sum_qty,
          ${dsumSql("l_discount")} AS sum_disc
        FROM lineitem GROUP BY l_linestatus""",

      "q78_orc_roundtrip" -> s"""
        SELECT o_orderpriority, COUNT(*) AS n,
          ${dsumSql("o_totalprice")} AS sum_price,
          MIN(o_orderkey) AS min_key
        FROM orders GROUP BY o_orderpriority""",

      // q38: the LSH-ANN path is hash-checked the same way as q74 — the
      // seeded ±1 hyperplanes are deterministic literals, so DuckDB can
      // reproduce the buckets bit-exactly and the rest is exact math.
      "q38_lsh_ann" -> {
        val buckets = (0 until 6).map(t =>
          s"SELECT vec_id, $t AS tbl, ${duckBucket(6, t, 64)} AS bkt FROM v")
          .mkString("\n          UNION ALL ")
        s"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        b AS ($buckets),
        cand AS (SELECT DISTINCT y.vec_id AS query_id, x.vec_id AS nn_id
          FROM b x JOIN b y
            ON x.tbl = y.tbl AND x.bkt = y.bkt AND x.vec_id <> y.vec_id
          WHERE y.vec_id < 10),
        scored AS (SELECT c.query_id, c.nn_id,
            CASE WHEN sqrt(list_dot_product(a.e, a.e)) *
                      sqrt(list_dot_product(q.e, q.e)) = 0 THEN 0
                 ELSE list_dot_product(a.e, q.e) /
                   (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(q.e, q.e)))
            END AS s
          FROM cand c JOIN v a ON a.vec_id = c.nn_id
                      JOIN v q ON q.vec_id = c.query_id)
        SELECT query_id, nn_id, score, rnk FROM (
          SELECT query_id, nn_id, round(s, 6) AS score,
            ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, nn_id) AS rnk
          FROM scored) WHERE rnk <= 3"""
      },

      // q41: IVF assignment is exact argmin math — fully oracle-expressible.
      "q41_ivf_assign" -> """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        cent AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8)
        SELECT vec_id, centroid_id, cdist FROM (
          SELECT v.vec_id, c.cid AS centroid_id,
            round(list_dot_product(v.e, v.e) + list_dot_product(c.ce, c.ce)
              - 2.0 * list_dot_product(v.e, c.ce), 6) AS cdist,
            ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
              list_dot_product(v.e, v.e) + list_dot_product(c.ce, c.ce)
                - 2.0 * list_dot_product(v.e, c.ce), c.cid) AS rn
          FROM v CROSS JOIN cent c) WHERE rn = 1""",

      "q79_ivf_search" -> """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        cent AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
        assigned AS (SELECT nn_id, c_emb, centroid_id FROM (
          SELECT v.vec_id AS nn_id, v.e AS c_emb, c.cid AS centroid_id,
            ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
              list_dot_product(v.e, v.e) + list_dot_product(c.ce, c.ce)
                - 2.0 * list_dot_product(v.e, c.ce), c.cid) AS rn
          FROM v CROSS JOIN cent c) WHERE rn = 1),
        probes AS (SELECT query_id, q_emb, centroid_id FROM (
          SELECT q.vec_id AS query_id, q.e AS q_emb, c.cid AS centroid_id,
            ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
              list_dot_product(q.e, q.e) + list_dot_product(c.ce, c.ce)
                - 2.0 * list_dot_product(q.e, c.ce), c.cid) AS pr
          FROM v q CROSS JOIN cent c
          WHERE q.vec_id >= 10 AND q.vec_id <= 14) WHERE pr <= 2),
        scored AS (SELECT p.query_id, a.nn_id, a.centroid_id,
            CASE WHEN sqrt(list_dot_product(a.c_emb, a.c_emb)) *
                      sqrt(list_dot_product(p.q_emb, p.q_emb)) = 0 THEN 0
                 ELSE list_dot_product(a.c_emb, p.q_emb) /
                   (sqrt(list_dot_product(a.c_emb, a.c_emb)) *
                    sqrt(list_dot_product(p.q_emb, p.q_emb))) END AS s
          FROM assigned a JOIN probes p ON a.centroid_id = p.centroid_id
          WHERE a.nn_id <> p.query_id)
        SELECT query_id, nn_id, centroid_id, score, rnk FROM (
          SELECT query_id, nn_id, centroid_id, round(s, 6) AS score,
            ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, nn_id) AS rnk
          FROM scored) WHERE rnk <= 3""",

      "q80_daily_gap_fill" -> s"""
        WITH daily AS (SELECT o_orderpriority,
            CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS d,
            ${dsumSql("o_totalprice")} AS v
          FROM orders GROUP BY 1, 2),
        spans AS (SELECT o_orderpriority, MIN(d) AS d0, MAX(d) AS d1
          FROM daily GROUP BY o_orderpriority),
        spine AS (SELECT o_orderpriority,
            unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS d
          FROM spans),
        j AS (SELECT s.o_orderpriority, s.d, daily.v
          FROM spine s LEFT JOIN daily
            ON daily.o_orderpriority = s.o_orderpriority AND daily.d = s.d)
        SELECT o_orderpriority, d AS day,
          LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY o_orderpriority ORDER BY d
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
          v IS NULL AS is_gap
        FROM j""",

      "q81_doc_packing" -> """
        WITH t AS (SELECT doc_id,
            CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS BIGINT)
              AS n_tokens,
            doc_id % 8 AS shard
          FROM documents),
        packed AS (SELECT doc_id, shard, n_tokens,
            CAST((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
              // 2048 AS BIGINT) AS pack_id
          FROM t)
        SELECT shard, pack_id, COUNT(*) AS n_docs,
          CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
          MIN(doc_id) AS first_doc
        FROM packed GROUP BY shard, pack_id""",

      "q82_doc_chunking" -> """
        WITH t AS (SELECT doc_id,
            string_split_regex(trim(lower(text)), '\s+') AS toks,
            CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS BIGINT)
              AS n
          FROM documents),
        d AS (SELECT * FROM t WHERE n > 0),
        c AS (SELECT doc_id, n, toks,
            unnest(range(0, CAST(ceil(greatest(n - 64, 0) / 48.0) AS BIGINT) + 1))
              AS chunk_ix
          FROM d)
        SELECT doc_id, chunk_ix, chunk_ix * 48 AS chunk_start,
          least(64, n - chunk_ix * 48) AS n_chunk_tokens,
          md5(array_to_string(
            list_slice(toks, chunk_ix * 48 + 1, chunk_ix * 48 + 64), ' '))
            AS chunk_md5
        FROM c""",

      "q83_decontamination" -> """
        WITH t AS (SELECT doc_id,
            string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        s AS (SELECT doc_id,
            CASE WHEN len(toks) < 3 THEN [] ELSE list_distinct(
              list_transform(range(0, len(toks) - 2),
                i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
            END AS sh
          FROM t),
        b AS (SELECT list(DISTINCT tok) AS bl
          FROM (SELECT unnest(sh) AS tok FROM s WHERE doc_id % 50 = 0)),
        d AS (SELECT doc_id, sh FROM s WHERE doc_id % 50 <> 0 AND len(sh) > 0)
        SELECT d.doc_id, CAST(len(d.sh) AS BIGINT) AS n_shingles,
          CAST(len(list_intersect(d.sh, b.bl)) AS BIGINT) AS n_hit,
          round(CAST(len(list_intersect(d.sh, b.bl)) AS DOUBLE) / len(d.sh), 6)
            AS overlap
        FROM d, b""",

      "q84_stratified_sample" -> """
        WITH t AS (SELECT doc_id, lang, n_chars,
            CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % 1000000 AS b
          FROM documents)
        SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
          MIN(doc_id) AS min_id
        FROM t
        WHERE b < CASE lang WHEN 'en' THEN 500000 WHEN 'zh' THEN 250000
                  ELSE 100000 END
        GROUP BY lang""",

      "q85_cross_corpus_neardup" -> """
        WITH t AS (SELECT doc_id,
            string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        s AS (SELECT doc_id,
            CASE WHEN len(toks) < 3 THEN [] ELSE list_distinct(
              list_transform(range(0, len(toks) - 2),
                i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
            END AS sh
          FROM t)
        SELECT a.doc_id AS new_id, b.doc_id AS old_id,
          CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
            (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        FROM s a JOIN s b ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        WHERE len(a.sh) > 0 AND len(b.sh) > 0
          AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
            (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.3""",

      "q86_bloom_pruned_join" -> s"""
        SELECT o_orderpriority, COUNT(*) AS n,
          ${dsumSql("o_totalprice")} AS sum_price,
          MIN(o_orderkey) AS min_key
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderpriority""",

      "q87_scd2_intervals" -> """
        WITH t AS (SELECT user_id, event_id, value,
            CAST(ts AS TIMESTAMP) AS valid_from,
            lead(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
              ORDER BY CAST(ts AS TIMESTAMP), event_id) AS valid_to
          FROM events)
        SELECT user_id, event_id, value, valid_from, valid_to,
          valid_to IS NULL AS is_current
        FROM t""",

      "q88_domain_quota" -> """
        WITH t AS (SELECT doc_id, source, n_chars,
            ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM documents)
        SELECT doc_id, source, n_chars FROM t WHERE rk <= 15""",

      "q89_iqr_outliers" -> """
        WITH t AS (SELECT l_returnflag, l_extendedprice*l_quantity AS gross
            FROM lineitem),
        f AS (SELECT l_returnflag,
            quantile_cont(gross, 0.25) - 1.5*(quantile_cont(gross, 0.75) -
              quantile_cont(gross, 0.25)) AS lo,
            quantile_cont(gross, 0.75) + 1.5*(quantile_cont(gross, 0.75) -
              quantile_cont(gross, 0.25)) AS hi
          FROM t GROUP BY l_returnflag)
        SELECT t.l_returnflag, COUNT(*) AS n_rows,
          CAST(COUNT(*) FILTER (gross < lo OR gross > hi) AS BIGINT) AS n_outliers,
          MIN(lo) AS lo, MIN(hi) AS hi,
          MIN(gross) FILTER (gross < lo OR gross > hi) AS min_outlier,
          MAX(gross) FILTER (gross < lo OR gross > hi) AS max_outlier
        FROM t JOIN f USING (l_returnflag)
        GROUP BY t.l_returnflag""",

      "q90_drawdown" -> """
        WITH t AS (SELECT user_id, value,
            max(value) OVER (PARTITION BY user_id
              ORDER BY CAST(ts AS TIMESTAMP), event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
          FROM events)
        SELECT user_id,
          MIN(CASE WHEN peak <= 0 THEN NULL
                   ELSE (value - peak) / peak END) AS max_drawdown,
          MAX(value) AS peak
        FROM t GROUP BY user_id""",

      "q91_pairwise_corr" -> s"""
        WITH s AS (SELECT event_type AS k,
            date_trunc('day', CAST(ts AS TIMESTAMP)) AS b,
            ${dsumSql("value")} AS v
          FROM events GROUP BY 1, 2),
        p AS (SELECT x.k AS key_a, y.k AS key_b, x.v AS vx, y.v AS vy
          FROM s x JOIN s y ON x.b = y.b AND x.k < y.k),
        m AS (SELECT key_a, key_b, COUNT(*) AS n,
            ${dsumSql("vx")} AS sx, ${dsumSql("vy")} AS sy,
            ${dsumSql("vx*vx")} AS sxx, ${dsumSql("vy*vy")} AS syy,
            ${dsumSql("vx*vy")} AS sxy
          FROM p GROUP BY 1, 2)
        SELECT key_a, key_b, n,
          CASE WHEN sqrt(sxx - sx*sx/n) * sqrt(syy - sy*sy/n) = 0 THEN NULL
               ELSE (sxy - sx*sy/n) / (sqrt(sxx - sx*sx/n) * sqrt(syy - sy*sy/n))
          END AS corr
        FROM m""",

      "q92_temporal_join" -> """
        WITH p0 AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS dts, value,
            ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP)
                               ORDER BY event_id DESC) AS rn
          FROM events WHERE event_type = 'purchase'),
        d AS (SELECT user_id, dts, value FROM p0 WHERE rn = 1),
        scd AS (SELECT user_id, value AS dim_value, dts AS valid_from,
            lead(dts) OVER (PARTITION BY user_id ORDER BY dts) AS valid_to
          FROM d),
        f AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'click')
        SELECT f.event_id, f.user_id, f.ts,
          s.dim_value AS asof_dim_value,
          s.valid_from AS asof_valid_from,
          s.valid_to AS asof_valid_to
        FROM f LEFT JOIN scd s ON f.user_id = s.user_id
          AND f.ts >= s.valid_from
          AND (s.valid_to IS NULL OR f.ts < s.valid_to)""",

      "q93_bigram_lm" -> """
        WITH t AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS toks
          FROM documents),
        g AS (SELECT unnest(list_transform(range(0, len(toks) - 1),
            i -> toks[i+1] || ' ' || toks[i+2])) AS bg
          FROM t WHERE len(toks) >= 2),
        c AS (SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2,
            COUNT(*) AS c12
          FROM g GROUP BY 1, 2),
        w AS (SELECT w1, w2, c12,
            CAST(SUM(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1
          FROM c)
        SELECT w1, w2, c12, c1, CAST(c12 AS DOUBLE) / c1 AS p
        FROM w WHERE c12 >= 3""",

      "q94_dedup_keep_best" -> """
        WITH RECURSIVE t AS (SELECT doc_id, lang,
            string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        s AS (SELECT doc_id, lang,
            CASE WHEN len(toks) < 3 THEN [] ELSE list_distinct(
              list_transform(range(0, len(toks) - 2),
                i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
            END AS sh
          FROM t),
        jac AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
          WHERE len(a.sh) > 0 AND len(b.sh) > 0
            AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.1),
        chain AS (SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents
                  WHERE doc_id % 100 < 2),
        p AS (SELECT id_a, id_b FROM jac UNION SELECT id_a, id_b FROM chain),
        e AS (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),
        reach(id, r) AS (SELECT s, s FROM e
          UNION SELECT e.d, reach.r FROM reach JOIN e ON e.s = reach.id),
        comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
        j AS (SELECT d.doc_id, d.n_chars,
            COALESCE(c.component, d.doc_id) AS component
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
        g AS (SELECT component, doc_id, n_chars,
            CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS group_size,
            ROW_NUMBER() OVER (PARTITION BY component
                               ORDER BY n_chars DESC, doc_id) AS rn
          FROM j)
        SELECT component, doc_id AS kept_id, n_chars, group_size
        FROM g WHERE rn = 1""",

      "q95_kept_increment" -> """
        WITH t AS (SELECT doc_id,
            string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        s AS (SELECT doc_id,
            CASE WHEN len(toks) < 3 THEN [] ELSE list_distinct(
              list_transform(range(0, len(toks) - 2),
                i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
            END AS sh
          FROM t),
        matched AS (SELECT DISTINCT a.doc_id AS new_id
          FROM s a JOIN s b ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
          WHERE len(a.sh) > 0 AND len(b.sh) > 0
            AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.3)
        SELECT doc_id, lang, source, n_chars FROM documents
        WHERE doc_id % 2 = 1
          AND doc_id NOT IN (SELECT new_id FROM matched)""",

      "q96_lm_score" -> """
        WITH t AS (SELECT doc_id,
            string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        g AS (SELECT doc_id, unnest(list_transform(range(0, len(toks) - 1),
            i -> toks[i+1] || ' ' || toks[i+2])) AS bg
          FROM t WHERE len(toks) >= 2),
        b AS (SELECT doc_id, string_split(bg, ' ')[1] AS w1,
            string_split(bg, ' ')[2] AS w2 FROM g),
        c AS (SELECT w1, w2, COUNT(*) AS c12 FROM b GROUP BY 1, 2),
        w AS (SELECT w1, w2, c12,
            CAST(SUM(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1 FROM c),
        v AS (SELECT COUNT(DISTINCT w2) AS v FROM c)
        SELECT b.doc_id, COUNT(*) AS n_bigrams,
          round(CAST(SUM(CAST(round(-log2((c12 + 0.5) / (c1 + 0.5 * v)), 12)
              AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*), 6) AS bits_per_bigram
        FROM b JOIN w USING (w1, w2) CROSS JOIN v
        GROUP BY b.doc_id""",

      "q97_winsorize" -> """
        WITH t AS (SELECT l_orderkey, l_linenumber, l_returnflag,
            l_extendedprice * l_quantity AS gross FROM lineitem),
        f AS (SELECT l_returnflag,
            quantile_cont(gross, 0.05) AS plo,
            quantile_cont(gross, 0.95) AS phi
          FROM t GROUP BY l_returnflag)
        SELECT t.l_orderkey, t.l_linenumber, t.l_returnflag,
          least(greatest(gross, plo), phi) AS gross_w
        FROM t JOIN f USING (l_returnflag)""",

      "q98_asof_forward" -> """
        WITH d AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS pts, value,
            ROW_NUMBER() OVER (PARTITION BY user_id, ts
                               ORDER BY event_id DESC) AS rn
          FROM events WHERE event_type = 'purchase'),
        dim AS (SELECT user_id, pts, value FROM d WHERE rn = 1),
        f AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'click')
        SELECT f.event_id, f.user_id, f.ts,
          dim.value AS asof_next_value, dim.pts AS asof_pts
        FROM f ASOF LEFT JOIN dim
          ON f.user_id = dim.user_id AND f.ts <= dim.pts""",

      "q99_robust_z" -> """
        WITH t AS (SELECT l_returnflag, l_extendedprice*l_quantity AS gross
            FROM lineitem),
        m AS (SELECT l_returnflag, quantile_cont(gross, 0.5) AS med
          FROM t GROUP BY 1),
        d AS (SELECT t.l_returnflag, gross, med, abs(gross - med) AS dev
          FROM t JOIN m USING (l_returnflag)),
        md AS (SELECT l_returnflag, quantile_cont(dev, 0.5) AS mad
          FROM d GROUP BY 1),
        s AS (SELECT d.l_returnflag, gross, med, mad,
            CASE WHEN mad = 0 THEN NULL
                 ELSE abs(gross - med) / (1.4826 * mad) END AS rz
          FROM d JOIN md USING (l_returnflag))
        SELECT l_returnflag, COUNT(*) AS n_rows,
          CAST(COUNT(*) FILTER (rz > 3.5) AS BIGINT) AS n_outliers,
          MIN(med) AS med, MIN(mad) AS mad,
          MAX(gross) FILTER (rz > 3.5) AS max_outlier
        FROM s GROUP BY l_returnflag""",

      "q100_token_mix" -> """
        WITH t AS (SELECT doc_id, lang, source, n_chars,
            CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(lower(text)), '\s+'))
            END AS tok,
            CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % 1000000 AS b
          FROM documents),
        tot AS (SELECT lang, CAST(SUM(tok) AS BIGINT) AS total
          FROM t GROUP BY lang),
        f AS (SELECT lang, CASE WHEN total <= 0 THEN 0.0 ELSE
            least(1.0, CASE lang WHEN 'en' THEN 0.6 WHEN 'zh' THEN 0.4
                       ELSE 0.0 END * 20000.0 / total) END AS frac
          FROM tot)
        SELECT doc_id, lang, source, n_chars
        FROM t JOIN f USING (lang)
        WHERE b < frac * 1000000.0""",

      "q101_boilerplate_lines" -> """
        WITH t AS (SELECT doc_id,
            string_split(text || chr(10) || 'subscribe to our newsletter'
              || chr(10) || 'lang ' || lang, chr(10)) AS ls
          FROM documents),
        l AS (SELECT doc_id, generate_subscripts(ls, 1) AS pos,
            unnest(ls) AS line FROM t),
        hot AS (SELECT line FROM (
            SELECT line, COUNT(DISTINCT doc_id) AS df FROM l
            WHERE length(trim(line)) > 0 GROUP BY line) WHERE df > 10),
        k AS (SELECT doc_id, pos, line FROM l
          WHERE line NOT IN (SELECT line FROM hot)),
        r AS (SELECT doc_id,
            array_to_string(list(line ORDER BY pos), chr(10)) AS clean
          FROM k GROUP BY doc_id)
        SELECT d.doc_id,
          CAST(length(COALESCE(r.clean, '')) AS BIGINT) AS n_chars_clean,
          md5(COALESCE(r.clean, '')) AS clean_md5
        FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id""",

      "q102_frame_sample" -> """
        WITH a AS (SELECT doc_id AS asset_id,
            octet_length(encode(text)) AS nbytes FROM documents),
        f AS (SELECT asset_id,
            unnest(range(0,
              least(CAST(floor(nbytes / 16) AS BIGINT), 7) + 1)) AS frame_idx
          FROM a)
        SELECT asset_id, frame_idx, CAST(4 AS BIGINT) AS n_features FROM f""",

      "q103_deterministic_shuffle" -> """
        WITH t AS (SELECT doc_id,
            CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % 8 AS shard,
            md5(CAST(doc_id AS VARCHAR)) AS mk
          FROM documents)
        SELECT doc_id, shard,
          CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY mk, doc_id)
            AS BIGINT) AS pos
        FROM t""",

      "q104_ema" -> """
        WITH t AS (SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'purchase'),
        s AS (SELECT user_id,
            list(event_id ORDER BY ts, event_id) AS ids,
            list(value ORDER BY ts, event_id) AS vals
          FROM t GROUP BY user_id),
        e AS (SELECT user_id, unnest(ids) AS event_id,
            generate_subscripts(ids, 1) AS k, vals
          FROM s)
        SELECT user_id, event_id, vals[k] AS value,
          round(list_reduce(vals[1:k], (acc, x) -> 0.2*x + 0.8*acc), 6) AS ema
        FROM e""",

      "q105_funnel" -> """
        WITH s1 AS (SELECT user_id AS u, min(ts) AS t FROM events
            WHERE event_type = 'view' GROUP BY 1),
        s2 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e
            JOIN s1 ON e.user_id = s1.u
            WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
        s3 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e
            JOIN s2 ON e.user_id = s2.u
            WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1),
        c AS (SELECT 1 AS step, 'view' AS step_name, count(*) AS n_users FROM s1
          UNION ALL SELECT 2, 'click', count(*) FROM s2
          UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
        SELECT step, step_name, n_users,
          CAST(n_users AS DOUBLE) / (SELECT n_users FROM c WHERE step = 1) AS conv
        FROM c""",

      "q106_cohort_retention" -> """
        WITH a AS (SELECT DISTINCT user_id AS u, date_trunc('week', ts) AS w
            FROM events),
        c AS (SELECT u, min(w) AS cw FROM a GROUP BY 1),
        r AS (SELECT cw AS cohort,
            CAST(date_diff('day', cw, w) / 7 AS INT) AS period_offset,
            count(*) AS n_users
          FROM a JOIN c USING (u) GROUP BY 1, 2),
        b AS (SELECT cohort, n_users AS n0 FROM r WHERE period_offset = 0)
        SELECT r.cohort, r.period_offset, r.n_users,
          CAST(r.n_users AS DOUBLE) / b.n0 AS retention
        FROM r JOIN b USING (cohort)""",

      "q107_bollinger" -> """
        WITH t AS (SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'purchase'),
        w AS (SELECT user_id, event_id, value,
            count(value) OVER win AS cnt,
            CAST(count(value) OVER win AS DOUBLE) AS nn,
            CAST(sum(CAST(value AS DECIMAL(38,4))) OVER win AS DOUBLE) AS s1,
            CAST(sum(CAST(value * value AS DECIMAL(38,6))) OVER win AS DOUBLE) AS s2
          FROM t
          WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
        SELECT user_id, event_id, value,
          CASE WHEN cnt = 5 THEN round(s1 / nn, 6) END AS mid,
          CASE WHEN cnt = 5 THEN
            round(sqrt(greatest((s2 - s1 * s1 / nn) / (nn - 1.0), 0.0)), 6) END AS sd,
          CASE WHEN cnt = 5 THEN round(s1 / nn +
            2.0 * sqrt(greatest((s2 - s1 * s1 / nn) / (nn - 1.0), 0.0)), 6) END AS upper,
          CASE WHEN cnt = 5 THEN round(s1 / nn -
            2.0 * sqrt(greatest((s2 - s1 * s1 / nn) / (nn - 1.0), 0.0)), 6) END AS lower
        FROM w""",

      "q108_rsi" -> """
        WITH t AS (SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'purchase'),
        d AS (SELECT user_id, event_id, value, ts,
            value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
          FROM t),
        s AS (SELECT user_id, event_id, value,
            count(delta) OVER win AS nd,
            CAST(sum(CAST(CASE WHEN delta IS NOT NULL
              THEN greatest(delta, 0.0) END AS DECIMAL(38,4))) OVER win AS DOUBLE) AS sg,
            CAST(sum(CAST(CASE WHEN delta IS NOT NULL
              THEN greatest(-delta, 0.0) END AS DECIMAL(38,4))) OVER win AS DOUBLE) AS sl
          FROM d
          WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
        SELECT user_id, event_id, value,
          CASE WHEN nd = 5 AND sg + sl > 0
            THEN round(100.0 * sg / (sg + sl), 6) END AS rsi
        FROM s""",

      "q109_profile" -> """
        SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
          count(*) - count(o_orderkey) AS n_nulls,
          count(DISTINCT o_orderkey) AS n_distinct,
          CAST(min(o_orderkey) AS DOUBLE) AS min_num,
          CAST(max(o_orderkey) AS DOUBLE) AS max_num,
          CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        FROM orders
        UNION ALL
        SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
          count(DISTINCT o_custkey),
          CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE),
          NULL, NULL
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
          count(DISTINCT o_orderstatus), NULL, NULL,
          min(o_orderstatus), max(o_orderstatus)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
          count(DISTINCT o_totalprice),
          CAST(min(o_totalprice) AS DOUBLE), CAST(max(o_totalprice) AS DOUBLE),
          NULL, NULL
        FROM orders
        UNION ALL
        SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
          count(DISTINCT o_orderdate),
          CAST(epoch_us(min(o_orderdate)) AS DOUBLE),
          CAST(epoch_us(max(o_orderdate)) AS DOUBLE),
          NULL, NULL
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
          count(DISTINCT o_orderpriority), NULL, NULL,
          min(o_orderpriority), max(o_orderpriority)
        FROM orders""",

      "q110_fuzzy_pairs" -> """
        WITH p AS (SELECT p_partkey, p_name,
            (string_split(p_name, ' '))[-1] AS blk
          FROM part WHERE p_partkey % 10 = 0)
        SELECT x.p_partkey AS id_a, y.p_partkey AS id_b,
          x.p_name AS s_a, y.p_name AS s_b,
          levenshtein(x.p_name, y.p_name) AS dist
        FROM p x JOIN p y ON x.blk = y.blk AND x.p_partkey < y.p_partkey
        WHERE levenshtein(x.p_name, y.p_name) BETWEEN 1 AND 3""",

      "q111_sequence_match" -> """
        WITH s AS (SELECT user_id,
            string_agg(left(event_type, 1), '' ORDER BY ts, event_id) AS seq,
            count(*) AS n_events
          FROM events GROUP BY user_id)
        SELECT user_id, seq, CAST(n_events AS INT) AS n_events
        FROM s WHERE regexp_matches(seq, '^[^e]*p')""",

      "q112_band_join_grid" -> s"""
        SELECT band, COUNT(*) AS n, ${dsumSql("l_extendedprice")} AS sum_price
        FROM lineitem JOIN (VALUES ('b0',0.0,10.0),('b1',10.0,20.0),('b2',20.0,30.0),
          ('b3',30.0,40.0),('b4',40.0,100.0)) AS bands(band, lo, hi)
          ON l_quantity >= lo AND l_quantity < hi
        GROUP BY band""",

      "q113_interval_join" -> """
        WITH p AS (SELECT user_id, event_id AS p_id, epoch_us(ts) AS ps,
            epoch_us(ts) + 7200000000 AS pe
          FROM events WHERE event_type = 'purchase'),
        e AS (SELECT user_id, event_id AS e_id, epoch_us(ts) AS es,
            epoch_us(ts) + 1800000000 AS ee
          FROM events WHERE event_type = 'error')
        SELECT p.user_id, p_id, e_id,
          least(pe, ee) - greatest(ps, es) AS overlap_us
        FROM p JOIN e ON p.user_id = e.user_id AND ps < ee AND es < pe""",

      "q114_quantile_bins" -> s"""
        WITH f AS (SELECT l_returnflag,
            quantile_cont(l_extendedprice, [0.25, 0.5, 0.75]) AS fences
          FROM lineitem GROUP BY 1),
        b AS (SELECT l.l_returnflag, l.l_extendedprice,
            len(list_filter(f.fences, x -> l.l_extendedprice >= x)) AS bin
          FROM lineitem l JOIN f USING (l_returnflag))
        SELECT l_returnflag, bin, COUNT(*) AS n,
          ${dsumSql("l_extendedprice")} AS sum_price
        FROM b GROUP BY 1, 2""",

      "q115_growth_accounting" -> """
        WITH a AS (SELECT DISTINCT user_id AS u, date_trunc('week', ts) AS w
            FROM events),
        f AS (SELECT u, min(w) AS fw FROM a GROUP BY 1),
        p AS (SELECT u, w + INTERVAL 7 DAY AS w FROM a),
        mx AS (SELECT max(w) AS mw FROM a),
        s AS (SELECT a.w AS period,
            CAST(sum(CASE WHEN a.w = f.fw THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
            CAST(sum(CASE WHEN a.w <> f.fw AND p.u IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_retained,
            CAST(sum(CASE WHEN a.w <> f.fw AND p.u IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_resurrected
          FROM a JOIN f USING (u) LEFT JOIN p ON a.u = p.u AND a.w = p.w
          GROUP BY 1),
        c AS (SELECT p.w AS period, count(*) AS n_churned
          FROM p LEFT JOIN a ON p.u = a.u AND p.w = a.w CROSS JOIN mx
          WHERE a.u IS NULL AND p.w <= mx.mw
          GROUP BY 1)
        SELECT coalesce(s.period, c.period) AS period,
          coalesce(n_new, 0) AS n_new,
          coalesce(n_retained, 0) AS n_retained,
          coalesce(n_resurrected, 0) AS n_resurrected,
          coalesce(n_churned, 0) AS n_churned
        FROM s FULL JOIN c ON s.period = c.period""",

      "q116_event_transitions" -> """
        WITH t AS (SELECT user_id, event_type,
            lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              AS prev
          FROM events),
        c AS (SELECT prev AS from_type, event_type AS to_type, count(*) AS n
          FROM t WHERE prev IS NOT NULL GROUP BY 1, 2)
        SELECT from_type, to_type, n,
          CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type) AS p
        FROM c""",

      "q117_ab_welch" -> """
        WITH g AS (SELECT event_type,
            count(CASE WHEN user_id % 2 = 0 THEN value END) AS n_a,
            count(CASE WHEN user_id % 2 <> 0 THEN value END) AS n_b,
            CAST(sum(CAST(CASE WHEN user_id % 2 = 0 THEN value END
              AS DECIMAL(38,4))) AS DOUBLE) AS sa,
            CAST(sum(CAST(CASE WHEN user_id % 2 <> 0 THEN value END
              AS DECIMAL(38,4))) AS DOUBLE) AS sb,
            CAST(sum(CAST(CASE WHEN user_id % 2 = 0 THEN value * value END
              AS DECIMAL(38,6))) AS DOUBLE) AS qa,
            CAST(sum(CAST(CASE WHEN user_id % 2 <> 0 THEN value * value END
              AS DECIMAL(38,6))) AS DOUBLE) AS qb
          FROM events GROUP BY 1)
        SELECT event_type, n_a, n_b,
          CASE WHEN n_a > 0 THEN round(sa / CAST(n_a AS DOUBLE), 6) END AS mean_a,
          CASE WHEN n_b > 0 THEN round(sb / CAST(n_b AS DOUBLE), 6) END AS mean_b,
          CASE WHEN n_a >= 2 AND n_b >= 2 AND
              greatest((qa - sa * sa / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0), 0.0)
                / CAST(n_a AS DOUBLE) +
              greatest((qb - sb * sb / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0), 0.0)
                / CAST(n_b AS DOUBLE) > 0
            THEN round((sa / CAST(n_a AS DOUBLE) - sb / CAST(n_b AS DOUBLE)) / sqrt(
              greatest((qa - sa * sa / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0), 0.0)
                / CAST(n_a AS DOUBLE) +
              greatest((qb - sb * sb / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0), 0.0)
                / CAST(n_b AS DOUBLE)), 6) END AS t
        FROM g""",

      "q118_funnel_latency" -> """
        WITH s1 AS (SELECT user_id AS u, min(ts) AS t FROM events
            WHERE event_type = 'view' GROUP BY 1),
        s2 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e
            JOIN s1 ON e.user_id = s1.u
            WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
        s3 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e
            JOIN s2 ON e.user_id = s2.u
            WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1),
        d2 AS (SELECT CAST(epoch_us(s2.t) - epoch_us(s1.t) AS DOUBLE) / 1e6 AS d
          FROM s2 JOIN s1 USING (u)),
        d3 AS (SELECT CAST(epoch_us(s3.t) - epoch_us(s2.t) AS DOUBLE) / 1e6 AS d
          FROM s3 JOIN s2 USING (u))
        SELECT 2 AS step, 'click' AS step_name, count(*) AS n_users,
          round(quantile_cont(d, 0.5), 6) AS p50_s,
          round(quantile_cont(d, 0.9), 6) AS p90_s FROM d2
        UNION ALL
        SELECT 3, 'purchase', count(*),
          round(quantile_cont(d, 0.5), 6), round(quantile_cont(d, 0.9), 6)
        FROM d3""",

      "q119_kmeans_step" -> """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        cent AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
        a AS (SELECT vec_id, e, centroid_id FROM (
          SELECT v.vec_id, v.e, c.cid AS centroid_id,
            ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
              list_dot_product(v.e, v.e) + list_dot_product(c.ce, c.ce)
                - 2.0 * list_dot_product(v.e, c.ce), c.cid) AS rn
          FROM v CROSS JOIN cent c) WHERE rn = 1),
        t AS (SELECT centroid_id, unnest(e) AS x,
            unnest(range(0, len(e))) AS i
          FROM a)
        SELECT centroid_id, i,
          CAST(SUM(CAST(x AS DECIMAL(38,8))) AS DOUBLE) / COUNT(*) AS mean_v,
          COUNT(*) AS n_members
        FROM t GROUP BY 1, 2""",

      "q120_integrity_audit" -> """
        SELECT 'lineitem_orderkey_fk' AS check, (SELECT count(*) FROM lineitem l
          WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS
            (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
          AS n_violations
        UNION ALL
        SELECT 'orders_custkey_fk', (SELECT count(*) FROM orders o
          WHERE o.o_custkey IS NOT NULL AND NOT EXISTS
            (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        UNION ALL
        SELECT 'orders_key_unique', (SELECT coalesce(CAST(sum(c - 1) AS BIGINT), 0)
          FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey))
        UNION ALL
        SELECT 'lineitem_qty_range', (SELECT CAST(sum(CASE WHEN coalesce(
            l_quantity > 0 AND l_quantity <= 50, FALSE) THEN 0 ELSE 1 END)
          AS BIGINT) FROM lineitem)
        UNION ALL
        SELECT 'orders_price_positive', (SELECT CAST(sum(CASE WHEN coalesce(
            o_totalprice > 0, FALSE) THEN 0 ELSE 1 END) AS BIGINT) FROM orders)""",

      "q121_rolling_corr" -> """
        WITH t AS (SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'purchase'),
        d AS (SELECT user_id, event_id, value, ts,
            lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv
          FROM t),
        s AS (SELECT user_id, event_id, value,
            CAST(count(CASE WHEN value IS NOT NULL AND pv IS NOT NULL
              THEN 1 END) OVER win AS DOUBLE) AS cnt,
            CAST(sum(CAST(CASE WHEN value IS NOT NULL AND pv IS NOT NULL
              THEN value END AS DECIMAL(38,4))) OVER win AS DOUBLE) AS sx,
            CAST(sum(CAST(CASE WHEN value IS NOT NULL AND pv IS NOT NULL
              THEN pv END AS DECIMAL(38,4))) OVER win AS DOUBLE) AS sy,
            CAST(sum(CAST(CASE WHEN value IS NOT NULL AND pv IS NOT NULL
              THEN value * pv END AS DECIMAL(38,6))) OVER win AS DOUBLE) AS sxy,
            CAST(sum(CAST(CASE WHEN value IS NOT NULL AND pv IS NOT NULL
              THEN value * value END AS DECIMAL(38,6))) OVER win AS DOUBLE) AS sxx,
            CAST(sum(CAST(CASE WHEN value IS NOT NULL AND pv IS NOT NULL
              THEN pv * pv END AS DECIMAL(38,6))) OVER win AS DOUBLE) AS syy
          FROM d
          WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
        SELECT user_id, event_id, value,
          CASE WHEN cnt = 5
              AND greatest(cnt * sxx - sx * sx, 0.0) > 0
              AND greatest(cnt * syy - sy * sy, 0.0) > 0
            THEN round((cnt * sxy - sx * sy) / sqrt(
              greatest(cnt * sxx - sx * sx, 0.0) *
              greatest(cnt * syy - sy * sy, 0.0)), 6) END AS corr
        FROM s""",

      "q122_top_paths" -> """
        WITH s AS (SELECT user_id,
            string_agg(left(event_type, 1), '' ORDER BY ts, event_id) AS seq
          FROM events GROUP BY user_id),
        c AS (SELECT seq, count(*) AS n_users FROM s GROUP BY seq)
        SELECT seq, n_users, CAST(rnk AS INT) AS rnk FROM (
          SELECT seq, n_users,
            row_number() OVER (ORDER BY n_users DESC, seq) AS rnk
          FROM c) WHERE rnk <= 10""",

      "q123_cuped" -> """
        WITH unit AS (SELECT user_id,
            coalesce(CAST(SUM(CAST(CASE WHEN ts < TIMESTAMP '2024-01-16'
              THEN value END AS DECIMAL(38,4))) AS DOUBLE), 0.0) AS x,
            coalesce(CAST(SUM(CAST(CASE WHEN ts >= TIMESTAMP '2024-01-16'
              THEN value END AS DECIMAL(38,4))) AS DOUBLE), 0.0) AS y
          FROM events GROUP BY user_id),
        m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
            CAST(SUM(CAST(x AS DECIMAL(38,4))) AS DOUBLE) AS sx,
            CAST(SUM(CAST(y AS DECIMAL(38,4))) AS DOUBLE) AS sy,
            CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
            CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx
          FROM unit),
        adj AS (SELECT user_id,
            y - (CASE WHEN m.n * m.sxx - m.sx * m.sx > 0
                 THEN (m.n * m.sxy - m.sx * m.sy) / (m.n * m.sxx - m.sx * m.sx)
                 ELSE 0.0 END) * (x - m.sx / m.n) AS yc
          FROM unit CROSS JOIN m),
        raw AS (SELECT
            count(CASE WHEN user_id % 2 = 0 THEN y END) AS n_a,
            count(CASE WHEN user_id % 2 <> 0 THEN y END) AS n_b,
            CAST(sum(CAST(CASE WHEN user_id % 2 = 0 THEN y END
              AS DECIMAL(38,4))) AS DOUBLE) AS sa,
            CAST(sum(CAST(CASE WHEN user_id % 2 <> 0 THEN y END
              AS DECIMAL(38,4))) AS DOUBLE) AS sb,
            CAST(sum(CAST(CASE WHEN user_id % 2 = 0 THEN y * y END
              AS DECIMAL(38,6))) AS DOUBLE) AS qa,
            CAST(sum(CAST(CASE WHEN user_id % 2 <> 0 THEN y * y END
              AS DECIMAL(38,6))) AS DOUBLE) AS qb
          FROM unit),
        cu AS (SELECT
            count(CASE WHEN user_id % 2 = 0 THEN yc END) AS n_a,
            count(CASE WHEN user_id % 2 <> 0 THEN yc END) AS n_b,
            CAST(sum(CAST(CASE WHEN user_id % 2 = 0 THEN yc END
              AS DECIMAL(38,4))) AS DOUBLE) AS sa,
            CAST(sum(CAST(CASE WHEN user_id % 2 <> 0 THEN yc END
              AS DECIMAL(38,4))) AS DOUBLE) AS sb,
            CAST(sum(CAST(CASE WHEN user_id % 2 = 0 THEN yc * yc END
              AS DECIMAL(38,6))) AS DOUBLE) AS qa,
            CAST(sum(CAST(CASE WHEN user_id % 2 <> 0 THEN yc * yc END
              AS DECIMAL(38,6))) AS DOUBLE) AS qb
          FROM adj),
        tstat AS (SELECT * FROM (
          SELECT 'raw' AS which, n_a, n_b, sa, sb, qa, qb FROM raw
          UNION ALL
          SELECT 'cu', n_a, n_b, sa, sb, qa, qb FROM cu)),
        ts2 AS (SELECT which, n_a, n_b,
            CASE WHEN n_a >= 2 AND n_b >= 2 AND
                greatest((qa - sa * sa / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0), 0.0)
                  / CAST(n_a AS DOUBLE) +
                greatest((qb - sb * sb / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0), 0.0)
                  / CAST(n_b AS DOUBLE) > 0
              THEN round((sa / CAST(n_a AS DOUBLE) - sb / CAST(n_b AS DOUBLE)) / sqrt(
                greatest((qa - sa * sa / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0), 0.0)
                  / CAST(n_a AS DOUBLE) +
                greatest((qb - sb * sb / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0), 0.0)
                  / CAST(n_b AS DOUBLE)), 6) END AS t
          FROM tstat)
        SELECT r.n_a, r.n_b, r.t AS t_raw, c.t AS t_cuped
        FROM (SELECT * FROM ts2 WHERE which = 'raw') r
        CROSS JOIN (SELECT * FROM ts2 WHERE which = 'cu') c""",

      "q124_twap" -> """
        WITH t AS (SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts,
            date_trunc('day', ts) AS b
          FROM events WHERE event_type = 'purchase'),
        d AS (SELECT user_id, b, value,
            epoch_us(coalesce(
              lead(ts) OVER (PARTITION BY user_id, b ORDER BY ts, event_id),
              b + INTERVAL 1 DAY)) - epoch_us(ts) AS dt
          FROM t)
        SELECT user_id, b AS bucket,
          round(CAST(SUM(CAST(value * dt AS DECIMAL(38,6))) AS DOUBLE) /
            CAST(SUM(CAST(dt AS DECIMAL(38,4))) AS DOUBLE), 6) AS twap,
          count(*) AS n_ticks
        FROM d GROUP BY 1, 2""",

      "q125_underwater" -> """
        WITH t AS (SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'purchase'),
        u AS (SELECT user_id, event_id, value, ts,
            value < max(value) OVER w AS under
          FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        g AS (SELECT user_id, ts, under,
            sum(CASE WHEN under THEN 0 ELSE 1 END) OVER w2 AS grp
          FROM u WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        r AS (SELECT user_id, grp, count(*) AS n,
            epoch_us(max(ts)) - epoch_us(min(ts)) AS us
          FROM g WHERE under GROUP BY 1, 2),
        agg AS (SELECT user_id, max(n) AS max_underwater_n,
            max(us) AS max_underwater_us
          FROM r GROUP BY 1)
        SELECT k.user_id, coalesce(agg.max_underwater_n, 0) AS max_underwater_n,
          agg.max_underwater_us
        FROM (SELECT DISTINCT user_id FROM t) k
        LEFT JOIN agg ON k.user_id = agg.user_id""",

      "q126_concentration" -> s"""
        WITH u AS (SELECT o_custkey, ${dsumSql("o_totalprice")} AS rev
          FROM orders GROUP BY 1),
        f AS (SELECT quantile_cont(rev,
            [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS fences FROM u),
        b AS (SELECT rev, len(list_filter(f.fences, x -> rev >= x)) AS bin
          FROM u CROSS JOIN f),
        p AS (SELECT bin, count(*) AS n_units, ${dsumSql("rev")} AS value_sum
          FROM b GROUP BY 1),
        t AS (SELECT CAST(SUM(CAST(value_sum AS DECIMAL(38,4))) AS DOUBLE)
            AS tot FROM p)
        SELECT bin, n_units, value_sum,
          CASE WHEN tot <> 0 THEN round(value_sum / tot, 6) END AS share,
          CASE WHEN tot <> 0 THEN round(
            CAST(SUM(CAST(value_sum AS DECIMAL(38,4)))
              OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND
                CURRENT ROW) AS DOUBLE) / tot, 6) END AS cum_share
        FROM p CROSS JOIN t""",

      "q127_native_topk" -> """
        SELECT o_orderpriority, CAST(rn AS INT) AS rnk, o_orderkey,
          o_totalprice
        FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
            row_number() OVER (PARTITION BY o_orderpriority
              ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) WHERE rn <= 3""",

      "q128_dedup_groups_star" -> """
        WITH RECURSIVE
        chain AS (SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents
                  WHERE doc_id % 50 < 10),
        bridge AS (SELECT doc_id AS id_a, doc_id + 50 AS id_b FROM documents
                   WHERE doc_id % 250 = 0),
        p AS (SELECT id_a, id_b FROM chain UNION SELECT id_a, id_b FROM bridge),
        e AS (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),
        reach(id, r) AS (SELECT s, s FROM e
          UNION SELECT e.d, reach.r FROM reach JOIN e ON e.s = reach.id)
        SELECT id, MIN(r) AS component FROM reach GROUP BY id""",

      "q129_topk_typed" -> """
        SELECT l_returnflag, CAST(rn AS INT) AS rnk, item_id, price
        FROM (SELECT l_returnflag, item_id, price,
            row_number() OVER (PARTITION BY l_returnflag
              ORDER BY price DESC, item_id) AS rn
          FROM (SELECT l_returnflag,
              l_orderkey || '-' || l_linenumber AS item_id,
              CAST(round(l_extendedprice, 2) AS DECIMAL(12,2)) AS price
            FROM lineitem)) WHERE rn <= 3""",
      "q130_heavy_hitters" -> """
        SELECT lang AS item, count(*) AS cnt
        FROM documents WHERE lang IS NOT NULL GROUP BY 1
        HAVING count(*) * 8 > (SELECT count(*) FROM documents
                               WHERE lang IS NOT NULL)""",
      // the sketched pipeline verifies candidates exactly, so its contract
      // is the SAME SQL as q130 — the oracle proves the sketch tier is
      // invisible in the answer
      "q131_heavy_hitters_sketched" -> """
        SELECT lang AS item, count(*) AS cnt
        FROM documents WHERE lang IS NOT NULL GROUP BY 1
        HAVING count(*) * 8 > (SELECT count(*) FROM documents
                               WHERE lang IS NOT NULL)""",
      "q132_weighted_sample" -> """
        WITH t AS (SELECT doc_id, n_chars,
            round(-ln((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) + 0.5) / 4294967296.0) / n_chars, 9) AS priority
          FROM documents WHERE n_chars > 0)
        SELECT doc_id, n_chars, priority FROM t
        ORDER BY priority, doc_id LIMIT 50""",
      "q133_weighted_sample_per_key" -> """
        WITH t AS (SELECT lang AS stratum, doc_id AS id,
            round(-ln((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) + 0.5) / 4294967296.0) / n_chars, 9) AS priority
          FROM documents WHERE n_chars > 0)
        SELECT stratum, CAST(rn AS INT) AS rnk, id, priority
        FROM (SELECT stratum, id, priority,
            row_number() OVER (PARTITION BY stratum
              ORDER BY priority, id) AS rn FROM t)
        WHERE rn <= 5""",
      "q137_macd" -> """
        WITH t AS (SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'purchase'),
        s AS (SELECT user_id,
            list(event_id ORDER BY ts, event_id) AS ids,
            list(value ORDER BY ts, event_id) AS vals
          FROM t GROUP BY user_id),
        m AS (SELECT user_id, ids, vals,
            list_transform(generate_series(1, len(vals)), j ->
              list_reduce(vals[1:j], (acc, x) -> 0.25*x + 0.75*acc) -
              list_reduce(vals[1:j], (acc, x) -> 0.0625*x + 0.9375*acc)) AS macds
          FROM s),
        e AS (SELECT user_id, unnest(ids) AS event_id,
            generate_subscripts(ids, 1) AS k, vals, macds
          FROM m)
        SELECT user_id, event_id, vals[k] AS value,
          round(macds[k], 6) AS macd,
          round(list_reduce(macds[1:k], (acc, x) -> 0.5*x + 0.5*acc), 6) AS signal
        FROM e""",
      "q138_rolling_beta" -> """
        WITH t AS (SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'purchase'),
        d AS (SELECT user_id, event_id, value, ts,
            lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv
          FROM t),
        s AS (SELECT user_id, event_id, value,
            CAST(count(CASE WHEN pv IS NOT NULL AND value IS NOT NULL
              THEN 1 END) OVER win AS DOUBLE) AS cnt,
            CAST(sum(CAST(CASE WHEN pv IS NOT NULL AND value IS NOT NULL
              THEN pv END AS DECIMAL(38,4))) OVER win AS DOUBLE) AS sx,
            CAST(sum(CAST(CASE WHEN pv IS NOT NULL AND value IS NOT NULL
              THEN value END AS DECIMAL(38,4))) OVER win AS DOUBLE) AS sy,
            CAST(sum(CAST(CASE WHEN pv IS NOT NULL AND value IS NOT NULL
              THEN pv * value END AS DECIMAL(38,6))) OVER win AS DOUBLE) AS sxy,
            CAST(sum(CAST(CASE WHEN pv IS NOT NULL AND value IS NOT NULL
              THEN pv * pv END AS DECIMAL(38,6))) OVER win AS DOUBLE) AS sxx
          FROM d
          WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
        SELECT user_id, event_id, value,
          CASE WHEN cnt = 5 AND greatest(cnt * sxx - sx * sx, 0.0) > 0
            THEN round((cnt * sxy - sx * sy) /
              greatest(cnt * sxx - sx * sx, 0.0), 6) END AS beta
        FROM s""",
      "q136_reconcile_drift" -> """
        WITH rh AS (SELECT o_orderpriority, o_orderkey,
            CAST(CAST(('0x' || substring(md5(
              coalesce(CAST(o_orderkey AS VARCHAR), chr(0)) || chr(1) ||
              coalesce(CAST(o_custkey AS VARCHAR), chr(0)) || chr(1) ||
              coalesce(o_orderstatus, chr(0)) || chr(1) ||
              coalesce(CAST(CAST(round(o_totalprice, 2) AS DECIMAL(12,2))
                       AS VARCHAR), chr(0)) || chr(1) ||
              coalesce(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), chr(0))
            ), 1, 15)) AS BIGINT) AS DECIMAL(38,0)) AS h
          FROM orders),
        da AS (SELECT o_orderpriority, count(*) AS n_rows_a,
            CAST(sum(h) AS DECIMAL(38,0)) AS digest_a
          FROM rh GROUP BY 1),
        db AS (SELECT o_orderpriority, count(*) AS n_rows_b,
            CAST(sum(h) AS DECIMAL(38,0)) AS digest_b
          FROM rh WHERE o_orderkey <> 7 GROUP BY 1)
        SELECT o_orderpriority, n_rows_a, n_rows_b,
          CAST(digest_a AS VARCHAR) AS digest_a,
          CAST(digest_b AS VARCHAR) AS digest_b
        FROM da FULL OUTER JOIN db USING (o_orderpriority)
        WHERE n_rows_a IS DISTINCT FROM n_rows_b
           OR digest_a IS DISTINCT FROM digest_b""",
      "q134_table_digest" -> """
        SELECT o_orderpriority, count(*) AS n_rows,
          CAST(sum(CAST(CAST(('0x' || substring(md5(
              coalesce(CAST(o_orderkey AS VARCHAR), chr(0)) || chr(1) ||
              coalesce(CAST(o_custkey AS VARCHAR), chr(0)) || chr(1) ||
              coalesce(o_orderstatus, chr(0)) || chr(1) ||
              coalesce(CAST(CAST(round(o_totalprice, 2) AS DECIMAL(12,2))
                       AS VARCHAR), chr(0)) || chr(1) ||
              coalesce(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), chr(0))
            ), 1, 15)) AS BIGINT) AS DECIMAL(38,0)))
            AS VARCHAR) AS content_digest
        FROM orders GROUP BY 1""",
      // direct aggregate of the FINAL version: survivors of the v2 delete,
      // at their post-v1-merge values — what the incremental fold must equal
      "q139_incremental_view" -> """
        SELECT o_orderpriority AS g,
          CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT) +
            CASE WHEN o_orderkey % 7 = 0 THEN 1000 ELSE 0 END) AS BIGINT) AS sum_v
        FROM orders
        WHERE o_orderkey % 11 <> 0
        GROUP BY 1""",
      // exact per-language heavy hitters — the sketched pipeline must
      // reproduce this exactly (candidates-then-verify, no sketch error)
      "q140_heavy_hitters_by_lang" -> """
        WITH toks AS (SELECT lang,
            unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
          FROM documents),
        c AS (SELECT lang, tok, count(*) AS cnt FROM toks GROUP BY 1, 2)
        SELECT lang, tok AS item, cnt
        FROM (SELECT lang, tok, cnt,
                sum(cnt) OVER (PARTITION BY lang) AS n FROM c) t
        WHERE cnt * 40 > n""",
      "q141_stats_skipped_scan" -> s"""
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
          ${dsumSql("l_quantity")} AS sum_qty
        FROM lineitem WHERE l_orderkey < 1200 GROUP BY 1""",
      "q142_dv_delete" -> s"""
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
          ${dsumSql("l_extendedprice")} AS sum_price
        FROM lineitem
        WHERE NOT (l_quantity >= 45.0) AND NOT (l_orderkey % 10 = 3)
        GROUP BY 1""",
      "q143_dv_update" -> s"""
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
          ${dsumSql("CASE WHEN l_quantity >= 40.0 THEN l_quantity + 5.0 ELSE l_quantity END")} AS sum_qty
        FROM lineitem
        WHERE NOT (l_orderkey % 7 = 0)
        GROUP BY 1""",
      "q144_bloom_skipped_scan" -> s"""
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
          ${dsumSql("l_extendedprice")} AS sum_price
        FROM lineitem
        WHERE l_orderkey IN (1, 7, 40, 100, 555, 1200)
        GROUP BY 1""",
      "q145_rename_column" -> s"""
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
          ${dsumSql("CASE WHEN l_orderkey % 13 = 0 THEN l_quantity + 1.0 ELSE l_quantity END")} AS sum_qty
        FROM lineitem
        GROUP BY 1""",
      "q146_drop_column" -> s"""
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
          ${dsumSql("CASE WHEN l_orderkey % 17 = 0 THEN l_quantity * 2.0 ELSE l_quantity END")} AS sum_qty
        FROM lineitem
        GROUP BY 1""",
      "q147_restore" -> s"""
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
          ${dsumSql("l_quantity")} AS sum_qty
        FROM lineitem
        GROUP BY 1""",
      "q148_metadata_profile" -> """
        WITH t AS (SELECT l_orderkey,
            CASE WHEN l_returnflag = 'A' THEN l_quantity + 100.0
                 ELSE l_quantity END AS q
          FROM lineitem)
        SELECT 'l_orderkey' AS column,
          CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS nulls,
          CAST(MIN(l_orderkey) AS DOUBLE) AS min_v,
          CAST(MAX(l_orderkey) AS DOUBLE) AS max_v,
          CAST(count(*) AS BIGINT) AS n_rows
        FROM t
        UNION ALL
        SELECT 'l_quantity',
          CAST(sum(CASE WHEN q IS NULL THEN 1 ELSE 0 END) AS BIGINT),
          CAST(MIN(q) AS DOUBLE), CAST(MAX(q) AS DOUBLE),
          CAST(count(*) AS BIGINT)
        FROM t""",
      "q149_semantic_dedup" -> """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        cent AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
        a AS (SELECT vec_id, e, centroid_id FROM (
          SELECT v.vec_id, v.e, c.cid AS centroid_id,
            ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
              list_dot_product(v.e, v.e) + list_dot_product(c.ce, c.ce)
                - 2.0 * list_dot_product(v.e, c.ce), c.cid) AS rn
          FROM v CROSS JOIN cent c) WHERE rn = 1),
        shadowed AS (SELECT DISTINCT y.vec_id
          FROM a x JOIN a y
            ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
          WHERE list_dot_product(x.e, y.e) /
            (sqrt(list_dot_product(x.e, x.e)) *
             sqrt(list_dot_product(y.e, y.e))) >= 0.4)
        SELECT vec_id, centroid_id FROM a
        WHERE vec_id NOT IN (SELECT vec_id FROM shadowed)""",
      "q150_widened_merge" -> s"""
        WITH t AS (
          SELECT l_orderkey, l_returnflag, l_quantity FROM lineitem
          UNION ALL
          SELECT l_orderkey + 10000000000, l_returnflag, l_quantity
          FROM lineitem WHERE l_orderkey % 50 = 0)
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(l_orderkey) AS BIGINT) AS sum_key,
          ${dsumSql("l_quantity")} AS sum_qty
        FROM t GROUP BY 1""",
      "q151_temperature_mix" -> """
        WITH t AS (SELECT doc_id, lang, source, n_chars,
            CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(lower(text)), '\s+'))
            END AS tok,
            CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % 1000000 AS b
          FROM documents),
        tot AS (SELECT lang, CAST(SUM(tok) AS BIGINT) AS total
          FROM t GROUP BY lang),
        pw AS (SELECT lang, total,
            CASE WHEN total <= 0 THEN 0.0
                 ELSE pow(CAST(total AS DOUBLE), 0.3) END AS p
          FROM tot),
        f AS (SELECT lang, CASE WHEN total <= 0 OR z <= 0 THEN 0.0
              ELSE least(1.0, p / z * 15000.0 / total) END AS frac
          FROM (SELECT lang, total, p, SUM(p) OVER () AS z FROM pw))
        SELECT doc_id, lang, source, n_chars
        FROM t JOIN f USING (lang)
        WHERE b < frac * 1000000.0""",
      "q152_row_upsert" -> s"""
        WITH t AS (
          SELECT l_returnflag,
            CASE WHEN l_orderkey % 10 = 1 THEN l_quantity + 7.0
                 ELSE l_quantity END AS q
          FROM lineitem
          UNION ALL
          SELECT l_returnflag, l_quantity FROM lineitem
          WHERE l_orderkey % 50 = 0)
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
          ${dsumSql("q")} AS sum_qty
        FROM t GROUP BY 1""",
      "q153_incremental_minmax" -> """
        WITH t AS (SELECT o_orderpriority AS g,
            CAST(round(o_totalprice * 100) AS BIGINT) +
              CASE WHEN o_orderkey % 7 = 0 THEN 1000 ELSE 0 END AS v
          FROM orders WHERE o_orderkey % 11 <> 0)
        SELECT g, CAST(count(*) AS BIGINT) AS n_rows,
          MIN(v) AS min_v, MAX(v) AS max_v
        FROM t GROUP BY 1""",
      "q154_pagerank" -> {
        // one damped-update round; in_mass decimal-sums r/deg over edges
        def iter(prev: String, out: String) = s"""
        $out AS (SELECT nd.node,
            (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
              + CAST(0.85 AS DOUBLE) *
                (COALESCE(m.in_mass, CAST(0 AS DOUBLE)) + CAST(0 AS DOUBLE) / nn.n)
              AS rank
          FROM nodes nd CROSS JOIN n nn LEFT JOIN (
            SELECT e.dst AS node,
              CAST(SUM(CAST(r.rank / d.deg AS DECIMAL(38,12))) AS DOUBLE)
                AS in_mass
            FROM $prev r JOIN deg d ON r.node = d.node
                         JOIN e ON e.src = r.node
            GROUP BY 1) m ON nd.node = m.node)"""
        s"""
        WITH base AS (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS p
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        e AS (SELECT c AS src, p AS dst FROM base
              UNION ALL SELECT p, c FROM base),
        nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
        deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
          FROM e GROUP BY 1),
        r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS rank
          FROM nodes CROSS JOIN n nn),
        ${iter("r0", "r1")},
        ${iter("r1", "r2")},
        ${iter("r2", "r3")}
        SELECT node, round(rank, 10) AS rank FROM r3"""
      },
      // the q165 algebra read FROM THE CLONE, plus the self-owned history
      "q212_deep_clone" -> s"""
        WITH u AS (SELECT l_returnflag,
            l_quantity + CASE WHEN l_orderkey % 7 = 0 THEN 5.0 ELSE 0 END AS q
          FROM lineitem)
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
          ${dsumSql("q")} AS sum_qty, CAST(1 AS BIGINT) AS n_history
        FROM u WHERE q < 48.0 GROUP BY 1""",

      "q211_ppr" -> {
        // one PPR round: teleport to seeds (node % 194 = 0 in node space
        // — even customer nodes whose custkey % 97 = 0), dangling mass 0
        // on the symmetric bipartite graph (every node has out-edges)
        def iter(prev: String, out: String) = s"""
        $out AS (SELECT nd.node,
            (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * nd.t
              + CAST(0.85 AS DOUBLE) *
                (COALESCE(m.in_mass, CAST(0 AS DOUBLE))
                  + CAST(0 AS DOUBLE) * nd.t)
              AS rank
          FROM tele nd LEFT JOIN (
            SELECT e.dst AS node,
              CAST(SUM(CAST(r.rank / d.deg AS DECIMAL(38,12))) AS DOUBLE)
                AS in_mass
            FROM $prev r JOIN deg d ON r.node = d.node
                         JOIN e ON e.src = r.node
            GROUP BY 1) m ON nd.node = m.node)"""
        s"""
        WITH base AS (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS p
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        e AS (SELECT c AS src, p AS dst FROM base
              UNION ALL SELECT p, c FROM base),
        nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        s AS (SELECT CAST(COUNT(*) AS BIGINT) AS s FROM nodes
          WHERE node % 194 = 0),
        deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
          FROM e GROUP BY 1),
        tele AS (SELECT node,
            CASE WHEN node % 194 = 0 THEN CAST(1.0 AS DOUBLE) / ss.s
                 ELSE CAST(0.0 AS DOUBLE) END AS t
          FROM nodes CROSS JOIN s ss),
        r0 AS (SELECT node, t AS rank FROM tele),
        ${iter("r0", "r1")},
        ${iter("r1", "r2")},
        ${iter("r2", "r3")}
        SELECT node, round(rank, 10) AS rank FROM r3"""
      },

      "q155_bm25" -> """
        WITH toks AS (SELECT doc_id,
            unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
          FROM documents),
        tt AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
        dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
          FROM tt GROUP BY 1),
        stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
        tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM tt
          WHERE tok IN ('data', 'query', 'stream', 'table') GROUP BY 1, 2),
        idf AS (SELECT tok,
            ln(CAST(1.0 AS DOUBLE) +
              (s.n_docs - df + CAST(0.5 AS DOUBLE)) /
              (df + CAST(0.5 AS DOUBLE))) AS idf
          FROM (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
                FROM tf GROUP BY 1) CROSS JOIN stats s),
        sc AS (SELECT tf.doc_id,
            CAST(SUM(CAST(
              idf.idf * (tf.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))) /
              (tf.tf + CAST(1.2 AS DOUBLE) *
                (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) +
                 CAST(0.75 AS DOUBLE) * dl.dl /
                   (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
              AS DECIMAL(38,12))) AS DOUBLE) AS raw
          FROM tf JOIN dl ON tf.doc_id = dl.doc_id
                  JOIN idf ON tf.tok = idf.tok
                  CROSS JOIN stats s
          GROUP BY 1)
        SELECT doc_id, round(raw, 6) AS score FROM sc
        ORDER BY raw DESC, doc_id LIMIT 25""",
      "q156_sql_surface" -> s"""
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
          ${dsumSql("l_quantity")} AS sum_qty
        FROM lineitem
        WHERE NOT coalesce(l_quantity < 10.0, FALSE)
        GROUP BY 1""",

      // direct join of the FINAL table states — what the delta-maintained
      // view must equal
      "q158_incremental_join_view" -> """
        WITH f AS (SELECT o_orderkey AS id, o_custkey AS ck,
            o_orderpriority AS pri,
            CAST(round(o_totalprice * 100) AS BIGINT) +
              CASE WHEN o_orderkey % 7 = 0 THEN 1000 ELSE 0 END AS v
          FROM orders WHERE o_orderkey % 11 <> 0),
        d AS (SELECT c_custkey AS ck, c_mktsegment AS seg,
            CAST(round(c_acctbal * 100) AS BIGINT) AS bal
          FROM customer WHERE c_custkey % 13 <> 0)
        SELECT pri, seg, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(v) AS BIGINT) AS sum_v,
          CAST(sum(bal) AS BIGINT) AS sum_bal
        FROM f JOIN d USING (ck)
        GROUP BY 1, 2""",

      // direct aggregates of the FINAL version, sums exact in BIGINT, the
      // derived doubles mirroring derivedStats' arithmetic term for term
      "q163_incremental_moments" -> """
        WITH base AS (SELECT o_orderkey AS id, o_orderpriority AS g,
            CAST(round(o_totalprice) AS BIGINT) % 1000 AS v FROM orders),
        fin AS (SELECT g,
            v + CASE WHEN id % 7 = 0 THEN 1000 ELSE 0 END AS v
          FROM base WHERE id % 11 <> 0)
        SELECT g, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(v) AS BIGINT) AS sum_v,
          CAST(sum(v * v) AS BIGINT) AS sum_sq,
          round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS avg_v,
          round(greatest(
            CAST(sum(v * v) AS DOUBLE) / count(*) -
              (CAST(sum(v) AS DOUBLE) / count(*)) *
              (CAST(sum(v) AS DOUBLE) / count(*)), 0), 6) AS var_v
        FROM fin GROUP BY 1""",

      // the expected v0→v2 feed, derived from the base table: deletes
      // carry v0 images; surviving merged ids carry a pre/post pair
      "q162_sql_change_feed" -> """
        WITH base AS (SELECT o_orderkey AS id,
            CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        fe AS (
          SELECT 'delete' AS _change_type, v FROM base WHERE id % 11 = 0
          UNION ALL
          SELECT 'update_pre', v FROM base WHERE id % 7 = 0 AND id % 11 <> 0
          UNION ALL
          SELECT 'update_post', v + 1000 FROM base
          WHERE id % 7 = 0 AND id % 11 <> 0)
        SELECT _change_type, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(v) AS BIGINT) AS sum_v
        FROM fe GROUP BY 1""",

      "q161_ivfpq_ann" -> s"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        cent AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
        assigned AS (SELECT nn_id, c_emb, centroid_id FROM (
          SELECT v.vec_id AS nn_id, v.e AS c_emb, c.cid AS centroid_id,
            ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
              list_dot_product(v.e, v.e) + list_dot_product(c.ce, c.ce)
                - 2.0 * list_dot_product(v.e, c.ce), c.cid) AS rn
          FROM v CROSS JOIN cent c) WHERE rn = 1),
        coded AS (SELECT nn_id, centroid_id, ${duckPqCode(4, 8, 16, 7)} AS code
          FROM (SELECT nn_id, centroid_id, c_emb AS e FROM assigned) t),
        probes AS (SELECT query_id, qe, centroid_id FROM (
          SELECT q.vec_id AS query_id, q.e AS qe, c.cid AS centroid_id,
            ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
              list_dot_product(q.e, q.e) + list_dot_product(c.ce, c.ce)
                - 2.0 * list_dot_product(q.e, c.ce), c.cid) AS pr
          FROM v q CROSS JOIN cent c
          WHERE q.vec_id >= 10 AND q.vec_id <= 14) WHERE pr <= 3),
        scored AS (SELECT p.query_id, c.nn_id, c.centroid_id,
            ${duckPqScore(4, 8, 16, 7)} AS s
          FROM coded c JOIN probes p ON c.centroid_id = p.centroid_id
          WHERE c.nn_id <> p.query_id)
        SELECT query_id, nn_id, centroid_id, score, rnk FROM (
          SELECT query_id, nn_id, centroid_id, round(s, 6) AS score,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY s DESC, nn_id) AS rnk
          FROM scored) WHERE rnk <= 5""",

      // artifact-served IVF-PQ: the q161 replay over the stored layout
      "q266_ivfpq_artifact" -> s"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        cent AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
        assigned AS (SELECT nn_id, c_emb, centroid_id FROM (
          SELECT v.vec_id AS nn_id, v.e AS c_emb, c.cid AS centroid_id,
            ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
              list_dot_product(v.e, v.e) + list_dot_product(c.ce, c.ce)
                - 2.0 * list_dot_product(v.e, c.ce), c.cid) AS rn
          FROM v CROSS JOIN cent c) WHERE rn = 1),
        coded AS (SELECT nn_id, centroid_id, ${duckPqCode(4, 8, 16, 7)} AS code
          FROM (SELECT nn_id, centroid_id, c_emb AS e FROM assigned) t),
        probes AS (SELECT query_id, qe, centroid_id FROM (
          SELECT q.vec_id AS query_id, q.e AS qe, c.cid AS centroid_id,
            ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
              list_dot_product(q.e, q.e) + list_dot_product(c.ce, c.ce)
                - 2.0 * list_dot_product(q.e, c.ce), c.cid) AS pr
          FROM v q CROSS JOIN cent c
          WHERE q.vec_id >= 15 AND q.vec_id <= 19) WHERE pr <= 3),
        scored AS (SELECT p.query_id, c.nn_id, c.centroid_id,
            ${duckPqScore(4, 8, 16, 7)} AS s
          FROM coded c JOIN probes p ON c.centroid_id = p.centroid_id
          WHERE c.nn_id <> p.query_id)
        SELECT query_id, nn_id, centroid_id, score, rnk FROM (
          SELECT query_id, nn_id, centroid_id, round(s, 6) AS score,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY s DESC, nn_id) AS rnk
          FROM scored) WHERE rnk <= 5""",

      "q160_pq_ann" -> s"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        coded AS (SELECT vec_id, ${duckPqCode(4, 8, 16, 7)} AS code FROM v),
        q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 5),
        scored AS (SELECT q.query_id, c.vec_id AS nn_id,
            ${duckPqScore(4, 8, 16, 7)} AS s
          FROM coded c JOIN q ON c.vec_id <> q.query_id),
        ranked AS (SELECT query_id, nn_id, round(s, 6) AS score,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY s DESC, nn_id) AS rnk
          FROM scored)
        SELECT query_id, nn_id, score, rnk FROM ranked WHERE rnk <= 5""",

      // artifact-served ADC: the stored codebooks equal the seeded ones
      // (the publish→load roundtrip is exact — AnnArtifactSpec), so the
      // replay is q160's literal scheme over the probe query slice
      "q248_ann_artifact" -> s"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        coded AS (SELECT vec_id, ${duckPqCode(4, 8, 16, 7)} AS code FROM v),
        q AS (SELECT vec_id AS query_id, e AS qe FROM v
          WHERE vec_id BETWEEN 20 AND 24),
        scored AS (SELECT q.query_id, c.vec_id AS nn_id,
            ${duckPqScore(4, 8, 16, 7)} AS s
          FROM coded c JOIN q ON c.vec_id <> q.query_id),
        ranked AS (SELECT query_id, nn_id, round(s, 6) AS score,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY s DESC, nn_id) AS rnk
          FROM scored)
        SELECT query_id, nn_id, score, rnk FROM ranked WHERE rnk <= 5""",

      // the clause algebra as a left join + CASE over the final state
      "q159_merge_into" -> """
        WITH base AS (SELECT o_orderkey AS id, o_orderpriority AS pri,
            CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        m AS (SELECT id, v + CASE WHEN id % 2 = 0 THEN 500 ELSE -500 END AS sv
          FROM base WHERE id % 5 = 0),
        survivors AS (SELECT b.pri,
            CASE WHEN m.id IS NOT NULL AND b.id % 10 <> 0 AND m.sv > b.v
              THEN m.sv ELSE b.v END AS v
          FROM base b LEFT JOIN m ON b.id = m.id
          WHERE m.id IS NULL OR b.id % 10 <> 0),
        inserted AS (SELECT pri, v FROM base WHERE id % 9 = 0 AND v % 2 = 0),
        final AS (SELECT pri, v FROM survivors
          UNION ALL SELECT pri, v FROM inserted)
        SELECT pri, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(v) AS BIGINT) AS sum_v
        FROM final GROUP BY 1""",

      // grams compared by TEXT here (Spark compares by xxhash64 — identical
      // answers absent a 64-bit collision); islands merged by interval
      // union via the same gaps-and-islands window
      "q157_substring_dedup" -> """
        WITH t AS (SELECT doc_id,
            string_split_regex(trim(lower(text)), '\s+') AS toks
          FROM documents),
        d AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens
          FROM t WHERE len(toks) >= 20),
        g AS (SELECT doc_id, n_tokens, toks,
            unnest(range(0, n_tokens - 20 + 1)) AS pos FROM d),
        gh AS (SELECT doc_id, n_tokens, pos,
            array_to_string(list_slice(toks, pos + 1, pos + 20), ' ') AS gram
          FROM g),
        c AS (SELECT gram FROM gh GROUP BY gram HAVING count(*) >= 2),
        dup AS (SELECT gh.doc_id, gh.n_tokens, gh.pos
          FROM gh JOIN c USING (gram)),
        heads AS (SELECT doc_id, n_tokens, pos,
            CASE WHEN pos > coalesce(max(pos + 20) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS head
          FROM dup),
        isl AS (SELECT doc_id, n_tokens, pos,
            sum(head) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS UNBOUNDED PRECEDING) AS island
          FROM heads),
        sp AS (SELECT doc_id, n_tokens, island,
            count(*) AS grams, min(pos) AS s, max(pos) + 20 AS e
          FROM isl GROUP BY 1, 2, 3)
        SELECT doc_id, n_tokens,
          CAST(sum(grams) AS BIGINT) AS n_dup_grams,
          CAST(count(*) AS BIGINT) AS n_spans,
          CAST(sum(e - s) AS BIGINT) AS n_dup_tokens,
          round(CAST(sum(e - s) AS DOUBLE) / any_value(n_tokens), 6)
            AS dup_frac
        FROM sp GROUP BY 1, 2""",

      // identical algebra to q159 — the SQL statement must land exactly
      // where the Scala API call does
      "q164_sql_merge" -> mergeAlgebraOracle,

      // the catalog-native resolved lowering must land on the SAME algebra
      "q202_catalog_merge" -> mergeAlgebraOracle,

      // BM25 replay (q155's CTEs) + hashed-embedding cosine replay (q63's
      // CTEs, applied to corpus AND query text) + the rank fusion — every
      // stage deterministic, so the fused list hash-checks end to end
      "q203_hybrid_rrf" -> s"""
        WITH toks AS (SELECT doc_id,
            unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
          FROM documents),
        tt AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
        dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
          FROM tt GROUP BY 1),
        stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
        tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM tt
          WHERE tok IN ('data', 'stream', 'window', 'batch') GROUP BY 1, 2),
        idf AS (SELECT tok,
            ln(CAST(1.0 AS DOUBLE) +
              (s.n_docs - df + CAST(0.5 AS DOUBLE)) /
              (df + CAST(0.5 AS DOUBLE))) AS idf
          FROM (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
                FROM tf GROUP BY 1) CROSS JOIN stats s),
        sc AS (SELECT tf.doc_id,
            CAST(SUM(CAST(
              idf.idf * (tf.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))) /
              (tf.tf + CAST(1.2 AS DOUBLE) *
                (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) +
                 CAST(0.75 AS DOUBLE) * dl.dl /
                   (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
              AS DECIMAL(38,12))) AS DOUBLE) AS raw
          FROM tf JOIN dl ON tf.doc_id = dl.doc_id
                  JOIN idf ON tf.tok = idf.tok
                  CROSS JOIN stats s
          GROUP BY 1),
        lexr AS (SELECT doc_id,
            ROW_NUMBER() OVER (ORDER BY raw DESC, doc_id) AS r FROM sc),
        hh AS (SELECT doc_id, ${duckPolyHash("tok")} AS h FROM tt),
        w AS (SELECT doc_id, CAST(h % 64 AS INTEGER) AS pos,
            CASE WHEN (h // 64) % 2 = 1 THEN 1.0 ELSE -1.0 END AS sgn
          FROM hh),
        agg AS (SELECT doc_id, pos, sum(sgn) AS wt FROM w GROUP BY 1, 2),
        ps AS (SELECT doc_id, list(struct_pack(k := pos, v := wt)) AS kv
          FROM agg GROUP BY 1),
        v AS (SELECT doc_id AS vec_id,
            list_transform(range(0, 64), i -> coalesce(
              list_sum(list_transform(list_filter(kv, q -> q.k = i),
                q -> q.v)), 0.0)) AS e
          FROM ps),
        qtok AS (SELECT unnest(string_split_regex(trim(lower(
            'data stream window batch')), '\\s+')) AS tok),
        qh AS (SELECT ${duckPolyHash("tok")} AS h FROM qtok WHERE tok <> ''),
        qw AS (SELECT CAST(h % 64 AS INTEGER) AS pos,
            CASE WHEN (h // 64) % 2 = 1 THEN 1.0 ELSE -1.0 END AS sgn
          FROM qh),
        qagg AS (SELECT pos, sum(sgn) AS wt FROM qw GROUP BY 1),
        qps AS (SELECT list(struct_pack(k := pos, v := wt)) AS kv FROM qagg),
        qv AS (SELECT list_transform(range(0, 64), i -> coalesce(
            list_sum(list_transform(list_filter(kv, q -> q.k = i),
              q -> q.v)), 0.0)) AS qe FROM qps),
        cos AS (SELECT v.vec_id,
            CASE WHEN sqrt(list_dot_product(v.e, v.e)) *
                      sqrt(list_dot_product(qv.qe, qv.qe)) = 0 THEN 0
                 ELSE list_dot_product(v.e, qv.qe) /
                   (sqrt(list_dot_product(v.e, v.e)) *
                    sqrt(list_dot_product(qv.qe, qv.qe)))
            END AS s
          FROM v CROSS JOIN qv),
        vecr AS (SELECT vec_id AS doc_id,
            ROW_NUMBER() OVER (ORDER BY s DESC, vec_id) AS r FROM cos),
        fused AS (SELECT doc_id,
            coalesce(CAST(1.0 AS DOUBLE) / (60 + l.r), 0) +
            coalesce(CAST(1.0 AS DOUBLE) / (60 + x.r), 0) AS fs
          FROM (SELECT doc_id, r FROM lexr WHERE r <= 50) l
          FULL JOIN (SELECT doc_id, r FROM vecr WHERE r <= 50) x
            USING (doc_id))
        SELECT doc_id,
          CAST(floor(fs * 1000000.0 + 0.5) AS BIGINT) AS rrf_micro
        FROM fused ORDER BY fs DESC, doc_id LIMIT 25""",

      // batch RRF: two exact-integer per-type rankings, full join on
      // (type, user), Σ 1/(60+r), top-10 per type with ties on user_id
      "q214_batch_rrf" -> """
        WITH per AS (SELECT event_type, user_id,
            CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
              AS sv,
            CAST(count(*) AS BIGINT) AS cnt
          FROM events GROUP BY 1, 2),
        a AS (SELECT event_type, user_id,
            ROW_NUMBER() OVER (PARTITION BY event_type
              ORDER BY sv DESC, user_id) AS r FROM per),
        b AS (SELECT event_type, user_id,
            ROW_NUMBER() OVER (PARTITION BY event_type
              ORDER BY cnt DESC, user_id) AS r FROM per),
        fused AS (SELECT event_type, user_id,
            coalesce(CAST(1.0 AS DOUBLE) / (60 + a.r), 0) +
            coalesce(CAST(1.0 AS DOUBLE) / (60 + b.r), 0) AS fs
          FROM (SELECT * FROM a WHERE r <= 50) a
          FULL JOIN (SELECT * FROM b WHERE r <= 50) b
            USING (event_type, user_id)),
        ranked AS (SELECT event_type, user_id,
            CAST(floor(fs * 1000000.0 + 0.5) AS BIGINT) AS rrf_micro,
            CAST(ROW_NUMBER() OVER (PARTITION BY event_type
              ORDER BY fs DESC, user_id) AS BIGINT) AS rnk
          FROM fused)
        SELECT event_type, user_id, rrf_micro, rnk
        FROM ranked WHERE rnk <= 10""",

      // q180's scorer replay + the reliability binning: decimal score
      // sums, exact positive counts, one division per ratio
      "q222_calibration" -> """
        WITH w AS (SELECT * FROM (VALUES ('data', 1.25), ('query', -0.75),
            ('the', 0.5), ('stream', 0.25), ('table', 1.0),
            ('data_query', 2.0), ('the_data', -1.5)) AS w(term, wt)),
        t AS (SELECT doc_id,
            string_split_regex(trim(lower(text)), '\s+') AS toks
          FROM documents),
        d AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 1),
        uni AS (SELECT doc_id, unnest(toks) AS f FROM d),
        bi AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
            i -> toks[i] || '_' || toks[i + 1])) AS f
          FROM d WHERE len(toks) >= 2),
        feats AS (SELECT doc_id, f FROM uni
          UNION ALL SELECT doc_id, f FROM bi),
        sc AS (SELECT feats.doc_id, CAST(count(*) AS BIGINT) AS n_features,
            CAST(SUM(CAST(coalesce(w.wt, 0) AS DECIMAL(38,12))) AS DOUBLE)
              AS sw
          FROM feats LEFT JOIN w ON feats.f = w.term GROUP BY 1),
        scored AS (SELECT doc_id,
            round(1.0 / (1.0 + exp(-(-0.5 + sw / n_features))), 6) AS score
          FROM sc),
        lab AS (SELECT s.doc_id, s.score,
            CASE WHEN contains(doc.text, 'data') THEN 1 ELSE 0 END AS y
          FROM scored s JOIN documents doc ON s.doc_id = doc.doc_id),
        g AS (SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS bin,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(y) AS BIGINT) AS n_pos,
            CAST(sum(CAST(score AS DECIMAL(38,12))) AS DOUBLE) AS ss
          FROM lab GROUP BY 1)
        SELECT bin, n, n_pos,
          CAST(floor(ss / n * 1000000.0 + 0.5) AS BIGINT) AS conf_micro,
          CAST(floor(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) *
            1000000.0 + 0.5) AS BIGINT) AS acc_micro,
          CAST(floor(abs(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) -
            ss / n) * 1000000.0 + 0.5) AS BIGINT) AS gap_micro
        FROM g""",

      // q30's langid replay + the confusion-matrix algebra: per-class
      // counts exact, one double division per ratio, micro-quantized;
      // prediction-only classes report with zero support, undefined
      // ratios NULL
      "q221_class_report" -> """
        WITH t AS (SELECT doc_id, lang,
          len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              x -> x IN ('the','a'))) AS s0,
          len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              x -> x IN ('query','scan','filter'))) AS s1,
          len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              x -> x IN ('data','table','column'))) AS s2,
          len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              x -> x IN ('stream','batch','window'))) AS s3
          FROM documents),
        preds AS (SELECT doc_id, lang,
          CASE WHEN s0 >= s1 AND s0 >= s2 AND s0 >= s3 AND s0 > 0 THEN 'en'
               WHEN s1 > s0 AND s1 >= s2 AND s1 >= s3 AND s1 > 0 THEN 'query'
               WHEN s2 > s0 AND s2 > s1 AND s2 >= s3 AND s2 > 0 THEN 'data'
               WHEN s3 > s0 AND s3 > s1 AND s3 > s2 AND s3 > 0 THEN 'stream'
               ELSE 'und' END AS predicted
          FROM t WHERE lang IS NOT NULL),
        m AS (SELECT lang AS label, predicted,
            CAST(count(*) AS BIGINT) AS n
          FROM preds GROUP BY 1, 2),
        cls AS (SELECT label AS cls FROM m
                UNION SELECT predicted FROM m),
        nt AS (SELECT label AS cls, CAST(sum(n) AS BIGINT) AS n_true
          FROM m GROUP BY 1),
        np AS (SELECT predicted AS cls, CAST(sum(n) AS BIGINT) AS n_pred
          FROM m GROUP BY 1),
        tp AS (SELECT label AS cls, n AS n_correct FROM m
          WHERE label = predicted),
        b AS (SELECT cls.cls,
            coalesce(nt.n_true, 0) AS n_true,
            coalesce(np.n_pred, 0) AS n_pred,
            coalesce(tp.n_correct, 0) AS n_correct
          FROM cls LEFT JOIN nt ON cls.cls = nt.cls
                   LEFT JOIN np ON cls.cls = np.cls
                   LEFT JOIN tp ON cls.cls = tp.cls),
        r AS (SELECT cls, n_true, n_pred, n_correct,
            CASE WHEN n_pred = 0 THEN NULL
                 ELSE CAST(n_correct AS DOUBLE) / CAST(n_pred AS DOUBLE)
            END AS p,
            CASE WHEN n_true = 0 THEN NULL
                 ELSE CAST(n_correct AS DOUBLE) / CAST(n_true AS DOUBLE)
            END AS rr
          FROM b)
        SELECT cls, n_true, n_pred, n_correct,
          CAST(floor(p * 1000000.0 + 0.5) AS BIGINT) AS precision_micro,
          CAST(floor(rr * 1000000.0 + 0.5) AS BIGINT) AS recall_micro,
          CAST(floor(CASE WHEN p IS NULL OR rr IS NULL OR p + rr = 0
            THEN NULL ELSE 2.0 * p * rr / (p + rr) END * 1000000.0 + 0.5)
            AS BIGINT) AS f1_micro
        FROM r""",

      // HITS unrolled: two L1-normalized half-steps per round, DECIMAL
      // contribution sums, one double division per node — q154's replay
      // discipline on the two-sided walk
      "q220_hits" -> {
        def halfStep(prev: String, joinCol: String, outCol: String,
                     out: String) = s"""
        ${out}r AS (SELECT b.$outCol AS node,
            SUM(CAST(h.s AS DECIMAL(38,12))) AS raw
          FROM base b JOIN $prev h ON b.$joinCol = h.node GROUP BY 1),
        ${out}t AS (SELECT SUM(raw) AS tot FROM ${out}r),
        $out AS (SELECT n.node,
            CASE WHEN t.tot IS NULL OR t.tot = 0 THEN CAST(0.0 AS DOUBLE)
                 ELSE CAST(COALESCE(r.raw, CAST(0 AS DECIMAL(38,12)))
                     AS DOUBLE) / CAST(t.tot AS DOUBLE)
            END AS s
          FROM nodes n LEFT JOIN ${out}r r ON n.node = r.node
          CROSS JOIN ${out}t t)"""
        s"""
        WITH base AS (SELECT DISTINCT o_custkey * 2 AS src,
            l_suppkey * 2 + 1 AS dst
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        nodes AS (SELECT src AS node FROM base UNION SELECT dst FROM base),
        h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS s FROM nodes),
        ${halfStep("h0", "src", "dst", "a1")},
        ${halfStep("a1", "dst", "src", "h1")},
        ${halfStep("h1", "src", "dst", "a2")},
        ${halfStep("a2", "dst", "src", "h2")}
        SELECT h2.node, round(h2.s, 10) AS hub, round(a2.s, 10) AS auth
        FROM h2 JOIN a2 ON h2.node = a2.node"""
      },

      // the KMV merge property makes the rolling merge ≡ a direct sketch
      // of each trailing 7-day union — the oracle computes the direct form
      "q218_rolling_distinct" -> s"""
        WITH h AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS d,
            (${duckPolyHash("CAST(user_id AS VARCHAR)")} *
              ${Aggregates.KmvPerm._1} + ${Aggregates.KmvPerm._2})
              % 1000000007 AS ph
          FROM events WHERE user_id IS NOT NULL),
        days AS (SELECT DISTINCT event_type, d FROM h),
        win AS (SELECT DISTINCT days.event_type, days.d, x.ph
          FROM days JOIN h x ON x.event_type = days.event_type
            AND x.d <= days.d AND x.d > days.d - 7),
        s AS (SELECT event_type, d, list_sort(list(ph)) AS ls,
            CAST(count(*) AS BIGINT) AS nd FROM win GROUP BY 1, 2)
        SELECT event_type, CAST(d AS TIMESTAMP) AS day,
          CASE WHEN nd < 64 THEN CAST(nd AS DOUBLE)
               ELSE round(63.0 * 1000000007 / greatest(ls[64], 1), 4)
          END AS n_distinct_est
        FROM s""",

      // q70's recursive components + q64's md5 bucket, keyed by the
      // group representative — one split label per near-dup cluster
      "q219_leakage_safe_split" -> """
        WITH RECURSIVE t AS (SELECT doc_id, lang,
            string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        s AS (SELECT doc_id, lang,
            CASE WHEN len(toks) < 3 THEN [] ELSE list_distinct(
              list_transform(range(0, len(toks) - 2),
                i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
            END AS sh
          FROM t),
        jac AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
          WHERE len(a.sh) > 0 AND len(b.sh) > 0
            AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.1),
        chain AS (SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents
                  WHERE doc_id % 100 < 2),
        p AS (SELECT id_a, id_b FROM jac UNION SELECT id_a, id_b FROM chain),
        e AS (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),
        reach(id, r) AS (SELECT s, s FROM e
          UNION SELECT e.d, reach.r FROM reach JOIN e ON e.s = reach.id),
        comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
        lab AS (SELECT d.doc_id,
            coalesce(c.component, d.doc_id) AS group_rep
          FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
        b AS (SELECT doc_id, group_rep,
            CAST(('0x' || substring(md5(CAST(group_rep AS VARCHAR)), 1, 8))
              AS BIGINT) % 1000 AS bkt
          FROM lab)
        SELECT doc_id, group_rep,
          CASE WHEN bkt < 800 THEN 'train'
               WHEN bkt < 900 THEN 'val' ELSE 'test' END AS split
        FROM b""",

      // PSI over 10 reference-envelope bins, Laplace +0.5, per-bin terms
      // nano-quantized before the integer sum — the Spark algebra replayed
      "q215_psi_drift" -> """
        WITH e AS (SELECT event_type,
            CAST(round(value * 1000000) AS BIGINT) AS vm,
            date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 2 AS par
          FROM events WHERE value IS NOT NULL),
        env AS (SELECT event_type, min(vm) AS lo, max(vm) AS hi,
            CAST(count(*) AS BIGINT) AS n_ref
          FROM e WHERE par = 0 GROUP BY 1),
        nc AS (SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_cur
          FROM e JOIN env USING (event_type) WHERE par = 1 GROUP BY 1),
        binned AS (SELECT e.event_type, par,
            CASE WHEN hi = lo THEN 0
                 ELSE least(greatest(CAST(floor(
                   (CAST(vm AS DOUBLE) - CAST(lo AS DOUBLE)) /
                   (CAST(hi - lo AS DOUBLE) / 10.0)) AS INTEGER), 0), 9)
            END AS b
          FROM e JOIN env USING (event_type)),
        cr AS (SELECT event_type, b, CAST(count(*) AS BIGINT) AS c
          FROM binned WHERE par = 0 GROUP BY 1, 2),
        cc AS (SELECT event_type, b, CAST(count(*) AS BIGINT) AS c
          FROM binned WHERE par = 1 GROUP BY 1, 2),
        grid AS (SELECT event_type, CAST(unnest(range(0, 10)) AS INTEGER)
            AS b FROM env),
        terms AS (SELECT g.event_type, n_ref, n_cur,
            CAST(floor((p - q) * ln(p / q) * 1e9 + 0.5) AS BIGINT) AS t
          FROM (SELECT g.event_type, g.b,
              (coalesce(cr.c, 0) + 0.5) /
                (CAST(env.n_ref AS DOUBLE) + 5.0) AS p,
              (coalesce(cc.c, 0) + 0.5) /
                (CAST(nc.n_cur AS DOUBLE) + 5.0) AS q
            FROM grid g
            LEFT JOIN cr ON g.event_type = cr.event_type AND g.b = cr.b
            LEFT JOIN cc ON g.event_type = cc.event_type AND g.b = cc.b
            JOIN env ON g.event_type = env.event_type
            JOIN nc ON g.event_type = nc.event_type) g
          JOIN env ON g.event_type = env.event_type
          JOIN nc ON g.event_type = nc.event_type)
        SELECT event_type, n_ref, n_cur,
          CAST(sum(t) AS BIGINT) AS psi_nano
        FROM terms GROUP BY 1, 2, 3""",

      // five exact HUGEINT moment sums → the identical closed-form double
      // tree (slope, intercept, R²), micro-quantized; NULL on degenerate
      "q216_ols_trend" -> """
        WITH daily AS (SELECT o_orderpriority AS pri,
            CAST(o_orderdate AS DATE) AS d,
            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
              AS cents
          FROM orders GROUP BY 1, 2),
        m AS (SELECT pri, CAST(count(*) AS BIGINT) AS n_days,
            sum(CAST(date_diff('day', DATE '1970-01-01', d) AS HUGEINT))
              AS sx,
            sum(CAST(cents AS HUGEINT)) AS sy,
            sum(CAST(date_diff('day', DATE '1970-01-01', d) AS HUGEINT) *
              CAST(cents AS HUGEINT)) AS sxy,
            sum(CAST(date_diff('day', DATE '1970-01-01', d) AS HUGEINT) *
              CAST(date_diff('day', DATE '1970-01-01', d) AS HUGEINT))
              AS sxx,
            sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS syy
          FROM daily GROUP BY 1),
        g AS (SELECT pri, n_days,
            CAST(CAST(n_days AS HUGEINT) * sxx - sx * sx AS DOUBLE) AS dxx,
            CAST(CAST(n_days AS HUGEINT) * syy - sy * sy AS DOUBLE) AS dyy,
            CAST(CAST(n_days AS HUGEINT) * sxy - sx * sy AS DOUBLE) AS num,
            CAST(n_days AS DOUBLE) AS n, CAST(sx AS DOUBLE) AS dsx,
            CAST(sy AS DOUBLE) AS dsy
          FROM m),
        h AS (SELECT pri, n_days,
            CASE WHEN dxx = 0 THEN NULL ELSE num / dxx END AS slope,
            dxx, dyy, num, n, dsx, dsy
          FROM g)
        SELECT pri, n_days,
          CAST(floor(slope * 1000000.0 + 0.5) AS BIGINT) AS slope_micro,
          CAST(floor((dsy - slope * dsx) / n * 1000000.0 + 0.5) AS BIGINT)
            AS intercept_micro,
          CAST(floor(CASE WHEN dxx = 0 OR dyy = 0 THEN NULL
            ELSE num * num / (dxx * dyy) END * 1000000.0 + 0.5) AS BIGINT)
            AS r2_micro
        FROM h""",

      // exact KS: integer cross-multiplied CDF gap maxed over the value
      // union, ONE double division after the max
      "q217_ks_drift" -> """
        WITH e AS (SELECT event_type,
            CAST(CAST(round(value * 1000000) AS BIGINT) AS DOUBLE) AS v,
            date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 2 AS par
          FROM events WHERE value IS NOT NULL),
        c AS (SELECT event_type, v,
            CAST(sum(CASE WHEN par = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
            CAST(sum(CASE WHEN par = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b
          FROM e GROUP BY 1, 2),
        cum AS (SELECT event_type, v, a, b,
            CAST(sum(a) OVER (PARTITION BY event_type ORDER BY v
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ca,
            CAST(sum(b) OVER (PARTITION BY event_type ORDER BY v
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cb
          FROM c),
        tot AS (SELECT event_type, CAST(sum(a) AS BIGINT) AS n_ref,
            CAST(sum(b) AS BIGINT) AS n_cur
          FROM c GROUP BY 1 HAVING sum(a) > 0 AND sum(b) > 0),
        mx AS (SELECT cum.event_type, n_ref, n_cur,
            max(abs(CAST(ca AS HUGEINT) * CAST(n_cur AS HUGEINT) -
              CAST(cb AS HUGEINT) * CAST(n_ref AS HUGEINT))) AS m
          FROM cum JOIN tot USING (event_type) GROUP BY 1, 2, 3)
        SELECT event_type, n_ref, n_cur,
          CAST(floor(CAST(m AS DOUBLE) /
            CAST(CAST(n_ref AS HUGEINT) * CAST(n_cur AS HUGEINT) AS DOUBLE) *
            1000000.0 + 0.5) AS BIGINT) AS ks_micro
        FROM mx""",

      // Mann-Whitney U over the same slices: 2U block form in HUGEINT,
      // tie-corrected variance, identical z/CLES trees
      "q259_u_test" -> """
        WITH e AS (SELECT event_type,
            CAST(round(value * 1000000) AS BIGINT) AS v,
            date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 2 AS par
          FROM events WHERE value IS NOT NULL),
        c AS (SELECT event_type, v,
            CAST(sum(CASE WHEN par = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cr,
            CAST(sum(CASE WHEN par = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cc
          FROM e GROUP BY 1, 2),
        cum AS (SELECT event_type, v, cr, cc,
            CAST(coalesce(sum(cr) OVER (PARTITION BY event_type ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS crb
          FROM c),
        agg AS (SELECT event_type,
            CAST(sum(cr) AS BIGINT) AS n_ref,
            CAST(sum(cc) AS BIGINT) AS n_cur,
            sum(CAST(cc AS HUGEINT) * (CAST(crb AS HUGEINT) * 2 +
              CAST(cr AS HUGEINT))) AS u2,
            sum(CAST(cr + cc AS HUGEINT) * CAST(cr + cc AS HUGEINT) *
              CAST(cr + cc AS HUGEINT) - CAST(cr + cc AS HUGEINT)) AS ties
          FROM cum GROUP BY 1 HAVING sum(cr) > 0 AND sum(cc) > 0),
        sg AS (SELECT *,
            CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE) / 12.0 *
              ((CAST(n_ref AS DOUBLE) + CAST(n_cur AS DOUBLE) + 1.0) -
                CAST(ties AS DOUBLE) /
                ((CAST(n_ref AS DOUBLE) + CAST(n_cur AS DOUBLE)) *
                 (CAST(n_ref AS DOUBLE) + CAST(n_cur AS DOUBLE) - 1.0)))
              AS sig2
          FROM agg)
        SELECT event_type, n_ref, n_cur,
          CAST(floor(CAST(u2 AS DOUBLE) /
            (2.0 * CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE))
            * 1000000.0 + 0.5) AS BIGINT) AS cles_micro,
          CAST(floor(CASE WHEN sig2 <= 0.0 THEN NULL
            ELSE (CAST(u2 AS DOUBLE) / 2.0 -
              CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE) / 2.0)
              / sqrt(sig2) END * 1000000.0 + 0.5) AS BIGINT) AS z_micro
        FROM sg""",

      // Wasserstein-1: the q217 cumulative machinery + lead gaps, decimal
      // term products, one division — W1 in micro-value units
      "q264_wasserstein" -> """
        WITH e AS (SELECT event_type,
            CAST(round(value * 1000000) AS BIGINT) AS v,
            date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 2 AS par
          FROM events WHERE value IS NOT NULL),
        c AS (SELECT event_type, v,
            CAST(sum(CASE WHEN par = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
            CAST(sum(CASE WHEN par = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b
          FROM e GROUP BY 1, 2),
        cum AS (SELECT event_type, v, a, b,
            CAST(sum(a) OVER w AS BIGINT) AS ca,
            CAST(sum(b) OVER w AS BIGINT) AS cb,
            lead(v) OVER (PARTITION BY event_type ORDER BY v) - v AS gap
          FROM c WINDOW w AS (PARTITION BY event_type ORDER BY v
            ROWS UNBOUNDED PRECEDING)),
        tot AS (SELECT event_type, CAST(sum(a) AS BIGINT) AS n_ref,
            CAST(sum(b) AS BIGINT) AS n_cur
          FROM c GROUP BY 1 HAVING sum(a) > 0 AND sum(b) > 0),
        terms AS (SELECT cum.event_type,
            sum(abs(CAST(ca AS HUGEINT) * CAST(n_cur AS HUGEINT) -
              CAST(cb AS HUGEINT) * CAST(n_ref AS HUGEINT)) *
              CAST(gap AS HUGEINT)) AS s
          FROM cum JOIN tot USING (event_type)
          WHERE gap IS NOT NULL GROUP BY 1)
        SELECT tot.event_type, n_ref, n_cur,
          CAST(floor(CAST(coalesce(s, 0) AS DOUBLE) /
            CAST(CAST(n_ref AS HUGEINT) * CAST(n_cur AS HUGEINT) AS DOUBLE) *
            1000000.0 + 0.5) AS BIGINT) AS w1_micro
        FROM tot LEFT JOIN terms ON tot.event_type = terms.event_type""",

      // one-way ANOVA: per-arm exact decimal moments, the sum-of-squares
      // identity with the explained term nano-floored per arm, the same
      // F tree and NULL guards
      "q260_anova_f" -> """
        WITH e AS (SELECT event_type AS arm,
            CAST(round(value * 100) AS BIGINT) AS vc
          FROM events WHERE value IS NOT NULL),
        pa AS (SELECT arm, CAST(count(*) AS BIGINT) AS na,
            sum(CAST(vc AS DECIMAL(38,4))) AS sa,
            sum(CAST(vc * vc AS DECIMAL(38,6))) AS qa
          FROM e GROUP BY 1),
        pg AS (SELECT CAST(count(*) AS BIGINT) AS k,
            CAST(sum(na) AS BIGINT) AS n,
            CAST(sum(sa) AS DOUBLE) AS s,
            CAST(sum(qa) AS DOUBLE) AS q,
            sum(CAST(floor(CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) /
              CAST(na AS DOUBLE) * 1000000.0 + 0.5) AS HUGEINT)) AS sbn
          FROM pa),
        r AS (SELECT k, n,
            CAST(sbn AS DOUBLE) / 1000000.0 AS expl, s, q FROM pg),
        r2 AS (SELECT k, n,
            expl - s * s / CAST(n AS DOUBLE) AS ssb,
            greatest(q - expl, 0.0) AS ssw FROM r)
        SELECT k, n,
          CAST(floor(ssb * 1000000.0 + 0.5) AS BIGINT) AS ssb_micro,
          CAST(floor(ssw * 1000000.0 + 0.5) AS BIGINT) AS ssw_micro,
          CAST(floor(CASE WHEN k < 2 OR n <= k OR ssw = 0.0 THEN NULL
            ELSE (ssb / (CAST(k AS DOUBLE) - 1.0)) /
              (ssw / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))) END
            * 1000000.0 + 0.5) AS BIGINT) AS f_micro
        FROM r2""",

      // Kruskal-Wallis: doubled mid-ranks (2 x below + t + 1, exact
      // longs), rank-sum identity over HUGEINT, tie correction, the 12
      // folded to 3 by the doubling
      "q261_kruskal_wallis" -> """
        WITH e AS (SELECT event_type AS arm,
            CAST(round(value * 100) AS BIGINT) AS vc
          FROM events WHERE value IS NOT NULL),
        cells AS (SELECT arm, vc AS v, CAST(count(*) AS BIGINT) AS c
          FROM e GROUP BY 1, 2),
        vals AS (SELECT v, t,
            CAST(coalesce(b, 0) AS BIGINT) * 2 + t + 1 AS r2
          FROM (SELECT v, CAST(sum(c) AS BIGINT) AS t,
              sum(sum(c)) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS b
            FROM cells GROUP BY 1)),
        pa AS (SELECT arm, CAST(sum(c) AS BIGINT) AS na,
            sum(CAST(c AS HUGEINT) * CAST(r2 AS HUGEINT)) AS r2a
          FROM cells JOIN vals ON cells.v = vals.v GROUP BY 1),
        pg AS (SELECT CAST(count(*) AS BIGINT) AS k,
            CAST(sum(na) AS BIGINT) AS n,
            sum(CAST(floor(CAST(r2a AS DOUBLE) * CAST(r2a AS DOUBLE) /
              CAST(na AS DOUBLE) * 1000000.0 + 0.5) AS HUGEINT)) AS rr
          FROM pa),
        tsum AS (SELECT sum(CAST(t AS HUGEINT) * CAST(t AS HUGEINT) *
            CAST(t AS HUGEINT) - CAST(t AS HUGEINT)) AS ties FROM vals),
        r AS (SELECT k, n,
            3.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) *
              (CAST(rr AS DOUBLE) / 1000000.0) -
              3.0 * (CAST(n AS DOUBLE) + 1.0) AS hraw,
            1.0 - CAST(ties AS DOUBLE) /
              (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) -
                CAST(n AS DOUBLE)) AS corr
          FROM pg CROSS JOIN tsum)
        SELECT k, n,
          CAST(floor(CASE WHEN k < 2 OR n < 2 OR corr <= 0.0 THEN NULL
            ELSE hraw / corr END * 1000000.0 + 0.5) AS BIGINT) AS h_micro
        FROM r""",

      // BLEU: per-order gram tables unrolled (the q93 n-gram precedent),
      // clipped matches, the same pn/bp/geometric-mean trees with the
      // no-smoothing NULL semantics
      "q262_bleu" -> """
        WITH d AS (SELECT doc_id, text FROM documents
          WHERE text IS NOT NULL),
        pairs AS (SELECT a.doc_id AS id, a.text AS cand, b.text AS ref
          FROM d a JOIN d b ON a.doc_id + 1 = b.doc_id),
        base AS (SELECT id,
            string_split_regex(trim(lower(cand)), '\s+') AS ct,
            string_split_regex(trim(lower(ref)), '\s+') AS rt
          FROM pairs),
        cg0 AS (SELECT id, 1 AS nn, unnest(ct) AS g FROM base
          UNION ALL SELECT id, 2 AS nn, unnest(list_transform(range(1, greatest(len(ct) - 2 + 2, 1)), i -> ct[i] || ' ' || ct[i+1])) AS g FROM base
          UNION ALL SELECT id, 3 AS nn, unnest(list_transform(range(1, greatest(len(ct) - 3 + 2, 1)), i -> ct[i] || ' ' || ct[i+1] || ' ' || ct[i+2])) AS g FROM base
          UNION ALL SELECT id, 4 AS nn, unnest(list_transform(range(1, greatest(len(ct) - 4 + 2, 1)), i -> ct[i] || ' ' || ct[i+1] || ' ' || ct[i+2] || ' ' || ct[i+3])) AS g FROM base),
        rg0 AS (SELECT id, 1 AS nn, unnest(rt) AS g FROM base
          UNION ALL SELECT id, 2 AS nn, unnest(list_transform(range(1, greatest(len(rt) - 2 + 2, 1)), i -> rt[i] || ' ' || rt[i+1])) AS g FROM base
          UNION ALL SELECT id, 3 AS nn, unnest(list_transform(range(1, greatest(len(rt) - 3 + 2, 1)), i -> rt[i] || ' ' || rt[i+1] || ' ' || rt[i+2])) AS g FROM base
          UNION ALL SELECT id, 4 AS nn, unnest(list_transform(range(1, greatest(len(rt) - 4 + 2, 1)), i -> rt[i] || ' ' || rt[i+1] || ' ' || rt[i+2] || ' ' || rt[i+3])) AS g FROM base),
        cg AS (SELECT id, nn, g, CAST(count(*) AS BIGINT) AS cc
          FROM cg0 GROUP BY 1, 2, 3),
        rg AS (SELECT id, nn, g, CAST(count(*) AS BIGINT) AS rc
          FROM rg0 GROUP BY 1, 2, 3),
        po AS (SELECT cg.id, cg.nn,
            CAST(sum(least(cc, coalesce(rc, 0))) AS BIGINT) AS m,
            CAST(sum(cc) AS BIGINT) AS t
          FROM cg LEFT JOIN rg ON cg.id = rg.id AND cg.nn = rg.nn
            AND cg.g = rg.g
          GROUP BY 1, 2),
        pv AS (SELECT id,
            sum(CASE WHEN nn = 1 THEN m END) AS m1,
            sum(CASE WHEN nn = 1 THEN t END) AS t1,
            sum(CASE WHEN nn = 2 THEN m END) AS m2,
            sum(CASE WHEN nn = 2 THEN t END) AS t2,
            sum(CASE WHEN nn = 3 THEN m END) AS m3,
            sum(CASE WHEN nn = 3 THEN t END) AS t3,
            sum(CASE WHEN nn = 4 THEN m END) AS m4,
            sum(CASE WHEN nn = 4 THEN t END) AS t4
          FROM po GROUP BY 1),
        lens AS (SELECT id, CAST(len(ct) AS BIGINT) AS c_len,
            CAST(len(rt) AS BIGINT) AS r_len FROM base),
        rates AS (SELECT lens.id, c_len, r_len,
            CASE WHEN t1 IS NULL OR t1 = 0 THEN NULL
              ELSE CAST(coalesce(m1, 0) AS DOUBLE) / CAST(t1 AS DOUBLE) END AS p1,
            CASE WHEN t2 IS NULL OR t2 = 0 THEN NULL
              ELSE CAST(coalesce(m2, 0) AS DOUBLE) / CAST(t2 AS DOUBLE) END AS p2,
            CASE WHEN t3 IS NULL OR t3 = 0 THEN NULL
              ELSE CAST(coalesce(m3, 0) AS DOUBLE) / CAST(t3 AS DOUBLE) END AS p3,
            CASE WHEN t4 IS NULL OR t4 = 0 THEN NULL
              ELSE CAST(coalesce(m4, 0) AS DOUBLE) / CAST(t4 AS DOUBLE) END AS p4,
            CASE WHEN CAST(c_len AS DOUBLE) >= CAST(r_len AS DOUBLE) THEN 1.0
              ELSE exp(1.0 - CAST(r_len AS DOUBLE) / CAST(c_len AS DOUBLE))
            END AS bp
          FROM lens LEFT JOIN pv ON lens.id = pv.id)
        SELECT id, c_len, r_len,
          CAST(floor(p1 * 1000000.0 + 0.5) AS BIGINT) AS p1_micro,
          CAST(floor(p2 * 1000000.0 + 0.5) AS BIGINT) AS p2_micro,
          CAST(floor(p3 * 1000000.0 + 0.5) AS BIGINT) AS p3_micro,
          CAST(floor(p4 * 1000000.0 + 0.5) AS BIGINT) AS p4_micro,
          CAST(floor(bp * 1000000.0 + 0.5) AS BIGINT) AS bp_micro,
          CAST(floor(CASE WHEN p1 IS NULL OR p1 <= 0.0 OR p2 IS NULL
              OR p2 <= 0.0 OR p3 IS NULL OR p3 <= 0.0 OR p4 IS NULL
              OR p4 <= 0.0 THEN NULL
            ELSE bp * exp((ln(p1) + ln(p2) + ln(p3) + ln(p4)) / 4.0) END
            * 1000000.0 + 0.5) AS BIGINT) AS bleu_micro
        FROM rates""",

      // ROUGE-2: the same pair table, clipped bigram overlap over a
      // full outer gram join, recall/precision/F1 with the NULL sides
      "q263_rouge2" -> """
        WITH d AS (SELECT doc_id, text FROM documents
          WHERE text IS NOT NULL),
        pairs AS (SELECT a.doc_id AS id, a.text AS cand, b.text AS ref
          FROM d a JOIN d b ON a.doc_id + 1 = b.doc_id),
        base AS (SELECT id,
            string_split_regex(trim(lower(cand)), '\s+') AS ct,
            string_split_regex(trim(lower(ref)), '\s+') AS rt
          FROM pairs),
        cg AS (SELECT id, g, CAST(count(*) AS BIGINT) AS cc FROM
          (SELECT id, unnest(list_transform(range(1, greatest(len(ct) - 2 + 2, 1)), i -> ct[i] || ' ' || ct[i+1])) AS g FROM base) GROUP BY 1, 2),
        rg AS (SELECT id, g, CAST(count(*) AS BIGINT) AS rc FROM
          (SELECT id, unnest(list_transform(range(1, greatest(len(rt) - 2 + 2, 1)), i -> rt[i] || ' ' || rt[i+1])) AS g FROM base) GROUP BY 1, 2),
        j AS (SELECT coalesce(cg.id, rg.id) AS id,
            CAST(sum(least(coalesce(cc, 0), coalesce(rc, 0))) AS BIGINT)
              AS n_match,
            CAST(sum(coalesce(cc, 0)) AS BIGINT) AS n_cand,
            CAST(sum(coalesce(rc, 0)) AS BIGINT) AS n_ref
          FROM cg FULL OUTER JOIN rg ON cg.id = rg.id AND cg.g = rg.g
          GROUP BY 1),
        f AS (SELECT base.id,
            coalesce(n_match, 0) AS n_match,
            coalesce(n_cand, 0) AS n_cand,
            coalesce(n_ref, 0) AS n_ref
          FROM base LEFT JOIN j ON base.id = j.id),
        rr AS (SELECT id, n_match, n_cand, n_ref,
            CASE WHEN n_ref = 0 THEN NULL
              ELSE CAST(n_match AS DOUBLE) / CAST(n_ref AS DOUBLE) END AS r,
            CASE WHEN n_cand = 0 THEN NULL
              ELSE CAST(n_match AS DOUBLE) / CAST(n_cand AS DOUBLE) END AS p
          FROM f)
        SELECT id, n_match, n_cand, n_ref,
          CAST(floor(r * 1000000.0 + 0.5) AS BIGINT) AS recall_micro,
          CAST(floor(p * 1000000.0 + 0.5) AS BIGINT) AS precision_micro,
          CAST(floor(CASE WHEN r IS NULL OR p IS NULL OR (r + p) = 0.0
            THEN NULL ELSE 2.0 * r * p / (r + p) END
            * 1000000.0 + 0.5) AS BIGINT) AS f1_micro
        FROM rr""",

      // chrF: char grams per order (range() is empty below n in DuckDB —
      // no junk-gram hazard), nano-floored per-order rates, the same
      // beta=2 F tree
      "q265_chrf" -> """
        WITH d AS (SELECT doc_id, text FROM documents
          WHERE text IS NOT NULL),
        pairs AS (SELECT a.doc_id AS id, a.text AS cand, b.text AS ref
          FROM d a JOIN d b ON a.doc_id + 1 = b.doc_id),
        base AS (SELECT id,
            regexp_replace(lower(trim(cand)), '\s+', '', 'g') AS cs,
            regexp_replace(lower(trim(ref)), '\s+', '', 'g') AS rs
          FROM pairs),
        cg0 AS (SELECT id, 1 AS nn, unnest(list_transform(range(1, greatest(len(cs) - 1 + 2, 1)), i -> substr(cs, i, 1))) AS g FROM base
          UNION ALL SELECT id, 2 AS nn, unnest(list_transform(range(1, greatest(len(cs) - 2 + 2, 1)), i -> substr(cs, i, 2))) AS g FROM base
          UNION ALL SELECT id, 3 AS nn, unnest(list_transform(range(1, greatest(len(cs) - 3 + 2, 1)), i -> substr(cs, i, 3))) AS g FROM base
          UNION ALL SELECT id, 4 AS nn, unnest(list_transform(range(1, greatest(len(cs) - 4 + 2, 1)), i -> substr(cs, i, 4))) AS g FROM base
          UNION ALL SELECT id, 5 AS nn, unnest(list_transform(range(1, greatest(len(cs) - 5 + 2, 1)), i -> substr(cs, i, 5))) AS g FROM base
          UNION ALL SELECT id, 6 AS nn, unnest(list_transform(range(1, greatest(len(cs) - 6 + 2, 1)), i -> substr(cs, i, 6))) AS g FROM base),
        rg0 AS (SELECT id, 1 AS nn, unnest(list_transform(range(1, greatest(len(rs) - 1 + 2, 1)), i -> substr(rs, i, 1))) AS g FROM base
          UNION ALL SELECT id, 2 AS nn, unnest(list_transform(range(1, greatest(len(rs) - 2 + 2, 1)), i -> substr(rs, i, 2))) AS g FROM base
          UNION ALL SELECT id, 3 AS nn, unnest(list_transform(range(1, greatest(len(rs) - 3 + 2, 1)), i -> substr(rs, i, 3))) AS g FROM base
          UNION ALL SELECT id, 4 AS nn, unnest(list_transform(range(1, greatest(len(rs) - 4 + 2, 1)), i -> substr(rs, i, 4))) AS g FROM base
          UNION ALL SELECT id, 5 AS nn, unnest(list_transform(range(1, greatest(len(rs) - 5 + 2, 1)), i -> substr(rs, i, 5))) AS g FROM base
          UNION ALL SELECT id, 6 AS nn, unnest(list_transform(range(1, greatest(len(rs) - 6 + 2, 1)), i -> substr(rs, i, 6))) AS g FROM base),
        cg AS (SELECT id, nn, g, CAST(count(*) AS BIGINT) AS cc
          FROM cg0 GROUP BY 1, 2, 3),
        rg AS (SELECT id, nn, g, CAST(count(*) AS BIGINT) AS rc
          FROM rg0 GROUP BY 1, 2, 3),
        po AS (SELECT coalesce(cg.id, rg.id) AS id,
            coalesce(cg.nn, rg.nn) AS nn,
            CAST(sum(least(coalesce(cc, 0), coalesce(rc, 0))) AS BIGINT) AS m,
            CAST(sum(coalesce(cc, 0)) AS BIGINT) AS tc,
            CAST(sum(coalesce(rc, 0)) AS BIGINT) AS tr
          FROM cg FULL OUTER JOIN rg ON cg.id = rg.id AND cg.nn = rg.nn
            AND cg.g = rg.g
          GROUP BY 1, 2),
        rates AS (SELECT id,
            sum(CASE WHEN tc > 0 THEN CAST(floor(
              CAST(m AS DOUBLE) / CAST(tc AS DOUBLE) * 1.0E9 + 0.5)
              AS HUGEINT) END) AS ps,
            CAST(count(CASE WHEN tc > 0 THEN 1 END) AS BIGINT) AS pn,
            sum(CASE WHEN tr > 0 THEN CAST(floor(
              CAST(m AS DOUBLE) / CAST(tr AS DOUBLE) * 1.0E9 + 0.5)
              AS HUGEINT) END) AS rrs,
            CAST(count(CASE WHEN tr > 0 THEN 1 END) AS BIGINT) AS rn
          FROM po GROUP BY 1),
        fin AS (SELECT base.id,
            CAST(len(cs) AS BIGINT) AS c_chars,
            CAST(len(rs) AS BIGINT) AS r_chars,
            CASE WHEN pn = 0 OR pn IS NULL THEN NULL
              ELSE CAST(ps AS DOUBLE) / 1.0E9 / CAST(pn AS DOUBLE) END AS pbar,
            CASE WHEN rn = 0 OR rn IS NULL THEN NULL
              ELSE CAST(rrs AS DOUBLE) / 1.0E9 / CAST(rn AS DOUBLE) END AS rbar
          FROM base LEFT JOIN rates ON base.id = rates.id)
        SELECT id, c_chars, r_chars,
          CAST(floor(pbar * 1000000.0 + 0.5) AS BIGINT) AS pbar_micro,
          CAST(floor(rbar * 1000000.0 + 0.5) AS BIGINT) AS rbar_micro,
          CAST(floor(CASE WHEN pbar IS NULL OR rbar IS NULL
              OR (4.0 * pbar + rbar) = 0.0 THEN NULL
            ELSE (1.0 + 4.0) * pbar * rbar / (4.0 * pbar + rbar) END
            * 1000000.0 + 0.5) AS BIGINT) AS chrf_micro
        FROM fin""",

      // directed containment over the same distinct-shingle algebra as q36
      "q204_containment_join" -> """
        WITH t AS (SELECT doc_id, lang,
            string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        s AS (SELECT doc_id, lang,
            CASE WHEN len(toks) < 3 THEN [] ELSE list_distinct(
              list_transform(range(0, len(toks) - 2),
                i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
            END AS sh
          FROM t)
        SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
          CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh)
            AS containment
        FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id <> b.doc_id
        WHERE len(a.sh) > 0 AND len(b.sh) > 0
          AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh)
            >= 0.5""",

      // the Beyer et al. KMV intersection estimator replayed with list
      // algebra over the same uniformized hashes
      "q205_kmv_overlap" -> s"""
        WITH h AS (SELECT DISTINCT event_type,
            (${duckPolyHash("CAST(user_id AS VARCHAR)")} *
              ${Aggregates.KmvPerm._1} + ${Aggregates.KmvPerm._2})
              % 1000000007 AS ph FROM events WHERE user_id IS NOT NULL),
        s AS (SELECT event_type, list_sort(list(ph))[1:64] AS kmv
          FROM h GROUP BY 1),
        p AS (SELECT a.event_type AS key_a, b.event_type AS key_b,
            a.kmv AS ka, b.kmv AS kb,
            list_sort(list_distinct(list_concat(a.kmv, b.kmv)))[1:64] AS mg
          FROM s a JOIN s b ON a.event_type < b.event_type)
        SELECT key_a, key_b,
          CASE WHEN len(mg) < 64
            THEN CAST(len(list_intersect(list_intersect(mg, ka), kb)) AS DOUBLE)
            ELSE round(
              CAST(len(list_intersect(list_intersect(mg, ka), kb)) AS DOUBLE)
                / 64 * (63.0 * 1000000007 / greatest(mg[64], 1)), 4)
          END AS n_common_est
        FROM p""",

      // H = ln(n) − (Σ c·ln c)/n over exact char counts; the term sum
      // rides the DECIMAL(38,12) accumulator (the BM25 discipline)
      "q206_char_entropy" -> """
        WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
          FROM documents),
        cc AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c FROM ch
          WHERE ch <> '' GROUP BY 1, 2),
        ag AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
            CAST(sum(CAST(c * ln(CAST(c AS DOUBLE)) AS DECIMAL(38,12)))
              AS DOUBLE) AS s
          FROM cc GROUP BY 1)
        SELECT doc_id, n AS n_chars,
          CAST(floor((ln(CAST(n AS DOUBLE)) - s / n) * 1000000.0 + 0.5)
            AS BIGINT) AS entropy_micro
        FROM ag""",

      // per-quadrant dHash replay (the q183 byte algebra over each
      // quarter), pairs sharing >= 2 byte-identical quadrant prints;
      // the hot-print cap (df > 64 buckets dropped) mirrors the Spark
      // side's printCap guard exactly
      "q207_quadrant_match" -> s"""
        WITH edited AS (SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 100000,
            rpad(text[1:3 * (length(text) // 4)],
              CAST(length(text) AS INTEGER), 'z')
          FROM documents),
        by AS (SELECT doc_id AS asset_id,
            list_transform(string_split(text, ''),
              ch -> CAST(ascii(ch) AS BIGINT)) AS b,
            length(text) // 4 AS qn
          FROM edited WHERE length(text) // 4 >= 65),
        qb AS (SELECT asset_id, q, qn,
            list_slice(b, q * qn + 1, (q + 1) * qn) AS bq
          FROM by CROSS JOIN (SELECT unnest(range(0, 4)) AS q)),
        qg AS (SELECT asset_id, q, qn,
            list_transform(range(0, 65), c -> coalesce(
              list_sum(list_slice(bq, (c*qn)//65 + 1, ((c+1)*qn)//65)), 0))
              AS s65q
          FROM qb),
        qp AS (SELECT asset_id, q,
            CAST(${duckDHashBitsOver("s65q", "qn")} AS BIGINT) AS p
          FROM qg),
        hot AS (SELECT q, p FROM qp GROUP BY q, p HAVING count(*) > 64),
        qk AS (SELECT qp.* FROM qp ANTI JOIN hot
          ON qp.q = hot.q AND qp.p = hot.p),
        pairs AS (SELECT x.asset_id AS id_a, y.asset_id AS id_b,
            CAST(count(DISTINCT x.q) AS BIGINT) AS n_shared
          FROM qk x JOIN qk y
            ON x.q = y.q AND x.p = y.p AND x.asset_id < y.asset_id
          GROUP BY 1, 2)
        SELECT id_a, id_b, n_shared FROM pairs WHERE n_shared >= 2""",

      // median of pairwise slopes over exact integer operands; the same
      // quantile_cont parity as q43
      "q208_theil_sen" -> """
        WITH daily AS (SELECT o_orderpriority AS pri,
            CAST(o_orderdate AS DATE) AS d,
            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
              AS cents
          FROM orders GROUP BY 1, 2),
        dd AS (SELECT pri, date_diff('day', DATE '1970-01-01', d) AS dn,
            cents FROM daily),
        sl AS (SELECT a.pri,
            CAST(b.cents - a.cents AS DOUBLE) / (b.dn - a.dn) AS s
          FROM dd a JOIN dd b ON a.pri = b.pri AND a.dn < b.dn)
        SELECT pri, CAST(count(*) AS BIGINT) AS n_pairs,
          CAST(floor(quantile_cont(s, 0.5) * 1000000.0 + 0.5) AS BIGINT)
            AS slope_micro
        FROM sl GROUP BY 1""",

      // bottom-256-by-hash row sample per type, exact percentiles of the
      // sample — the estimator is a pure function of the data
      "q209_sampled_quantiles" -> s"""
        WITH h AS (SELECT event_type, value AS v,
            (${duckPolyHash("CAST(event_id AS VARCHAR)")} *
              ${Aggregates.KmvPerm._1} + ${Aggregates.KmvPerm._2})
              % 1000000007 AS hh
          FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL),
        r AS (SELECT event_type, v,
            ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hh, v) AS rn
          FROM h)
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_sample,
          CAST(floor(quantile_cont(v, 0.5) * 1000000.0 + 0.5) AS BIGINT)
            AS p50_micro,
          CAST(floor(quantile_cont(v, 0.9) * 1000000.0 + 0.5) AS BIGINT)
            AS p90_micro,
          CAST(floor(quantile_cont(v, 0.99) * 1000000.0 + 0.5) AS BIGINT)
            AS p99_micro
        FROM r WHERE rn <= 256 GROUP BY 1""",

      // the q96 replay split across corpora: LM counts from the even
      // half, odd docs score with the two-level unseen backoff
      "q210_novelty_score" -> """
        WITH t AS (SELECT doc_id,
            string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        g AS (SELECT doc_id, unnest(list_transform(range(0, len(toks) - 1),
            i -> toks[i+1] || ' ' || toks[i+2])) AS bg
          FROM t WHERE len(toks) >= 2),
        b AS (SELECT doc_id, string_split(bg, ' ')[1] AS w1,
            string_split(bg, ' ')[2] AS w2 FROM g),
        rb AS (SELECT w1, w2 FROM b WHERE doc_id % 2 = 0),
        c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
          FROM rb GROUP BY 1, 2),
        cx AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM rb GROUP BY 1),
        v AS (SELECT COUNT(DISTINCT w2) AS v FROM rb),
        sb AS (SELECT doc_id, w1, w2 FROM b WHERE doc_id % 2 = 1)
        SELECT sb.doc_id, COUNT(*) AS n_bigrams,
          round(CAST(SUM(CAST(round(-log2(
              (coalesce(c12, 0) + 0.5) / (coalesce(c1, 0) + 0.5 * v)), 12)
              AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*), 6) AS bits_per_bigram
        FROM sb LEFT JOIN c USING (w1, w2) LEFT JOIN cx USING (w1)
          CROSS JOIN v
        GROUP BY sb.doc_id""",

      "q165_sql_update_delete" -> s"""
        WITH u AS (SELECT l_returnflag,
            l_quantity + CASE WHEN l_orderkey % 7 = 0 THEN 5.0 ELSE 0 END AS q
          FROM lineitem)
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
          ${dsumSql("q")} AS sum_qty
        FROM u WHERE q < 48.0 GROUP BY 1""",

      // the view folded from the STREAMED feed must equal the direct
      // aggregate of the final snapshot (same algebra as q139)
      "q166_stream_change_view" -> """
        SELECT o_orderpriority AS g,
          CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT) +
            CASE WHEN o_orderkey % 7 = 0 THEN 1000 ELSE 0 END) AS BIGINT) AS sum_v
        FROM orders
        WHERE o_orderkey % 11 <> 0
        GROUP BY 1""",

      // q161's oracle with the residual step: codes quantize e_res =
      // c_emb − ce (element-wise replay), scores add list_dot_product(qe,
      // ce) before the PARENTHESIZED ADC sum — the same left-to-right
      // grouping the engine's `qdotc + reduce(_+_)` produces
      "q167_ivfpq_residual" -> s"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        cent AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
        assigned AS (SELECT nn_id, c_emb, centroid_id FROM (
          SELECT v.vec_id AS nn_id, v.e AS c_emb, c.cid AS centroid_id,
            ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
              list_dot_product(v.e, v.e) + list_dot_product(c.ce, c.ce)
                - 2.0 * list_dot_product(v.e, c.ce), c.cid) AS rn
          FROM v CROSS JOIN cent c) WHERE rn = 1),
        resid AS (SELECT a.nn_id, a.centroid_id,
            list_transform(range(1, len(a.c_emb) + 1),
              i -> a.c_emb[i] - c.ce[i]) AS e
          FROM assigned a JOIN cent c ON a.centroid_id = c.cid),
        coded AS (SELECT nn_id, centroid_id, ${duckPqCode(4, 8, 16, 7)} AS code
          FROM resid),
        probes AS (SELECT query_id, qe, centroid_id, ce FROM (
          SELECT q.vec_id AS query_id, q.e AS qe, c.cid AS centroid_id,
            c.ce AS ce,
            ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
              list_dot_product(q.e, q.e) + list_dot_product(c.ce, c.ce)
                - 2.0 * list_dot_product(q.e, c.ce), c.cid) AS pr
          FROM v q CROSS JOIN cent c
          WHERE q.vec_id >= 10 AND q.vec_id <= 14) WHERE pr <= 3),
        scored AS (SELECT p.query_id, c.nn_id, c.centroid_id,
            list_dot_product(p.qe, p.ce) + (${duckPqScore(4, 8, 16, 7)}) AS s
          FROM coded c JOIN probes p ON c.centroid_id = p.centroid_id
          WHERE c.nn_id <> p.query_id)
        SELECT query_id, nn_id, centroid_id, score, rnk FROM (
          SELECT query_id, nn_id, centroid_id, round(s, 6) AS score,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY s DESC, nn_id) AS rnk
          FROM scored) WHERE rnk <= 5""",

      // artifact-served IVFADC: the q167 replay over the stored layout
      "q267_ivfadc_artifact" -> s"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        cent AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
        assigned AS (SELECT nn_id, c_emb, centroid_id FROM (
          SELECT v.vec_id AS nn_id, v.e AS c_emb, c.cid AS centroid_id,
            ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
              list_dot_product(v.e, v.e) + list_dot_product(c.ce, c.ce)
                - 2.0 * list_dot_product(v.e, c.ce), c.cid) AS rn
          FROM v CROSS JOIN cent c) WHERE rn = 1),
        resid AS (SELECT a.nn_id, a.centroid_id,
            list_transform(range(1, len(a.c_emb) + 1),
              i -> a.c_emb[i] - c.ce[i]) AS e
          FROM assigned a JOIN cent c ON a.centroid_id = c.cid),
        coded AS (SELECT nn_id, centroid_id, ${duckPqCode(4, 8, 16, 7)} AS code
          FROM resid),
        probes AS (SELECT query_id, qe, centroid_id, ce FROM (
          SELECT q.vec_id AS query_id, q.e AS qe, c.cid AS centroid_id,
            c.ce AS ce,
            ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
              list_dot_product(q.e, q.e) + list_dot_product(c.ce, c.ce)
                - 2.0 * list_dot_product(q.e, c.ce), c.cid) AS pr
          FROM v q CROSS JOIN cent c
          WHERE q.vec_id >= 20 AND q.vec_id <= 24) WHERE pr <= 3),
        scored AS (SELECT p.query_id, c.nn_id, c.centroid_id,
            list_dot_product(p.qe, p.ce) + (${duckPqScore(4, 8, 16, 7)}) AS s
          FROM coded c JOIN probes p ON c.centroid_id = p.centroid_id
          WHERE c.nn_id <> p.query_id)
        SELECT query_id, nn_id, centroid_id, score, rnk FROM (
          SELECT query_id, nn_id, centroid_id, round(s, 6) AS score,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY s DESC, nn_id) AS rnk
          FROM scored) WHERE rnk <= 5""",

      // OPQ artifact serving: stored rotation == seeded rotation (the
      // publish→load roundtrip is exact doubles), so the replay is
      // q178's literal scheme over the artifact query slice
      "q268_opq_artifact" -> s"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        cent AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
        assigned AS (SELECT nn_id, c_emb, centroid_id FROM (
          SELECT v.vec_id AS nn_id, v.e AS c_emb, c.cid AS centroid_id,
            ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
              list_dot_product(v.e, v.e) + list_dot_product(c.ce, c.ce)
                - 2.0 * list_dot_product(v.e, c.ce), c.cid) AS rn
          FROM v CROSS JOIN cent c) WHERE rn = 1),
        resid AS (SELECT a.nn_id, a.centroid_id,
            list_transform(range(1, len(a.c_emb) + 1),
              i -> a.c_emb[i] - c.ce[i]) AS e
          FROM assigned a JOIN cent c ON a.centroid_id = c.cid),
        rre AS (SELECT nn_id, centroid_id, ${duckRotate(64, 11, "e")} AS e
          FROM resid),
        coded AS (SELECT nn_id, centroid_id, ${duckPqCode(4, 8, 16, 7)} AS code
          FROM rre),
        probes AS (SELECT query_id, qraw, centroid_id, ce,
            ${duckRotate(64, 11, "qraw")} AS qe FROM (
          SELECT q.vec_id AS query_id, q.e AS qraw, c.cid AS centroid_id,
            c.ce AS ce,
            ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
              list_dot_product(q.e, q.e) + list_dot_product(c.ce, c.ce)
                - 2.0 * list_dot_product(q.e, c.ce), c.cid) AS pr
          FROM v q CROSS JOIN cent c
          WHERE q.vec_id >= 25 AND q.vec_id <= 29) WHERE pr <= 3),
        scored AS (SELECT p.query_id, c.nn_id, c.centroid_id,
            list_dot_product(p.qraw, p.ce) + (${duckPqScore(4, 8, 16, 7)}) AS s
          FROM coded c JOIN probes p ON c.centroid_id = p.centroid_id
          WHERE c.nn_id <> p.query_id)
        SELECT query_id, nn_id, centroid_id, score, rnk FROM (
          SELECT query_id, nn_id, centroid_id, round(s, 6) AS score,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY s DESC, nn_id) AS rnk
          FROM scored) WHERE rnk <= 5""",

      // SQ8 artifact serving: stored bounds == trained bounds (exact
      // min/max doubles roundtrip), so the replay is q190's scheme over
      // the artifact query slice
      "q269_sq8_artifact" -> """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        b AS (SELECT i, min(e[i+1]) AS mn, max(e[i+1]) AS mx
          FROM v, range(0, 64) t(i) GROUP BY i),
        bl AS (SELECT list(mn ORDER BY i) AS mins,
            list(CASE WHEN mx > mn THEN mx - mn ELSE 0 END ORDER BY i)
              AS spans
          FROM b),
        coded AS (SELECT vec_id,
            list_transform(range(0, 64), i -> CASE WHEN spans[i+1] = 0
              THEN 0 ELSE CAST(least(greatest(
                floor((e[i+1] - mins[i+1]) * 255.0 / spans[i+1] + 0.5),
                0.0), 255.0) AS INTEGER) END) AS code
          FROM v, bl),
        deq AS (SELECT vec_id,
            list_transform(range(0, 64),
              i -> code[i+1] * spans[i+1] / 255.0 + mins[i+1]) AS de
          FROM coded, bl),
        q AS (SELECT vec_id AS query_id, e AS qe FROM v
          WHERE vec_id BETWEEN 30 AND 34),
        scored AS (SELECT q.query_id, d.vec_id AS nn_id,
            list_dot_product(q.qe, d.de) AS s
          FROM deq d JOIN q ON d.vec_id <> q.query_id),
        ranked AS (SELECT query_id, nn_id, round(s, 6) AS score,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY s DESC, nn_id) AS rnk
          FROM scored)
        SELECT query_id, nn_id, score, rnk FROM ranked WHERE rnk <= 5""",

      // SQ8 refine: q269's dequantized chain cut at 15 candidates →
      // exact rerank to 5 over only those ids
      "q279_sq8_refined" -> """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        b AS (SELECT i, min(e[i+1]) AS mn, max(e[i+1]) AS mx
          FROM v, range(0, 64) t(i) GROUP BY i),
        bl AS (SELECT list(mn ORDER BY i) AS mins,
            list(CASE WHEN mx > mn THEN mx - mn ELSE 0 END ORDER BY i)
              AS spans
          FROM b),
        coded AS (SELECT vec_id,
            list_transform(range(0, 64), i -> CASE WHEN spans[i+1] = 0
              THEN 0 ELSE CAST(least(greatest(
                floor((e[i+1] - mins[i+1]) * 255.0 / spans[i+1] + 0.5),
                0.0), 255.0) AS INTEGER) END) AS code
          FROM v, bl),
        deq AS (SELECT vec_id,
            list_transform(range(0, 64),
              i -> code[i+1] * spans[i+1] / 255.0 + mins[i+1]) AS de
          FROM coded, bl),
        q AS (SELECT vec_id AS query_id, e AS qe FROM v
          WHERE vec_id BETWEEN 50 AND 54),
        scored AS (SELECT q.query_id, d.vec_id AS nn_id,
            list_dot_product(q.qe, d.de) AS s
          FROM deq d JOIN q ON d.vec_id <> q.query_id),
        cand AS (SELECT query_id, nn_id FROM (
          SELECT query_id, nn_id,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY s DESC, nn_id) AS rnk
          FROM scored) WHERE rnk <= 15),
        ex AS (SELECT cd.query_id, cd.nn_id,
            list_dot_product(qv.e, n.e) AS s
          FROM cand cd JOIN v qv ON qv.vec_id = cd.query_id
          JOIN v n ON n.vec_id = cd.nn_id)
        SELECT query_id, nn_id, score, rnk FROM (
          SELECT query_id, nn_id, round(s, 6) AS score,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY s DESC, nn_id) AS rnk
          FROM ex) WHERE rnk <= 5""",

      // two-stage refine: q266's ADC chain cut at topK·refine = 15
      // candidates, then the EXACT inner product over only those ids,
      // reranked to 5 — the oracle replays both stages
      "q270_ann_refined" -> s"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        cent AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
        assigned AS (SELECT nn_id, c_emb, centroid_id FROM (
          SELECT v.vec_id AS nn_id, v.e AS c_emb, c.cid AS centroid_id,
            ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
              list_dot_product(v.e, v.e) + list_dot_product(c.ce, c.ce)
                - 2.0 * list_dot_product(v.e, c.ce), c.cid) AS rn
          FROM v CROSS JOIN cent c) WHERE rn = 1),
        coded AS (SELECT nn_id, centroid_id, ${duckPqCode(4, 8, 16, 7)} AS code
          FROM (SELECT nn_id, centroid_id, c_emb AS e FROM assigned) t),
        probes AS (SELECT query_id, qe, centroid_id FROM (
          SELECT q.vec_id AS query_id, q.e AS qe, c.cid AS centroid_id,
            ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
              list_dot_product(q.e, q.e) + list_dot_product(c.ce, c.ce)
                - 2.0 * list_dot_product(q.e, c.ce), c.cid) AS pr
          FROM v q CROSS JOIN cent c
          WHERE q.vec_id >= 35 AND q.vec_id <= 39) WHERE pr <= 3),
        adc AS (SELECT p.query_id, c.nn_id,
            ${duckPqScore(4, 8, 16, 7)} AS s
          FROM coded c JOIN probes p ON c.centroid_id = p.centroid_id
          WHERE c.nn_id <> p.query_id),
        cand AS (SELECT query_id, nn_id FROM (
          SELECT query_id, nn_id,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY s DESC, nn_id) AS rnk
          FROM adc) WHERE rnk <= 15),
        ex AS (SELECT cd.query_id, cd.nn_id,
            list_dot_product(q.e, n.e) AS s
          FROM cand cd JOIN v q ON q.vec_id = cd.query_id
          JOIN v n ON n.vec_id = cd.nn_id)
        SELECT query_id, nn_id, score, rnk FROM (
          SELECT query_id, nn_id, round(s, 6) AS score,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY s DESC, nn_id) AS rnk
          FROM ex) WHERE rnk <= 5""",

      // incremental append: even-half build + odd-half append ≡ the full
      // rebuild (per-row encoding cannot diverge), so the oracle replays
      // q267's residual chain over the WHOLE corpus
      "q271_ann_incremental" -> s"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        cent AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
        assigned AS (SELECT nn_id, c_emb, centroid_id FROM (
          SELECT v.vec_id AS nn_id, v.e AS c_emb, c.cid AS centroid_id,
            ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
              list_dot_product(v.e, v.e) + list_dot_product(c.ce, c.ce)
                - 2.0 * list_dot_product(v.e, c.ce), c.cid) AS rn
          FROM v CROSS JOIN cent c) WHERE rn = 1),
        resid AS (SELECT a.nn_id, a.centroid_id,
            list_transform(range(1, len(a.c_emb) + 1),
              i -> a.c_emb[i] - c.ce[i]) AS e
          FROM assigned a JOIN cent c ON a.centroid_id = c.cid),
        coded AS (SELECT nn_id, centroid_id, ${duckPqCode(4, 8, 16, 7)} AS code
          FROM resid),
        probes AS (SELECT query_id, qe, centroid_id, ce FROM (
          SELECT q.vec_id AS query_id, q.e AS qe, c.cid AS centroid_id,
            c.ce AS ce,
            ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
              list_dot_product(q.e, q.e) + list_dot_product(c.ce, c.ce)
                - 2.0 * list_dot_product(q.e, c.ce), c.cid) AS pr
          FROM v q CROSS JOIN cent c
          WHERE q.vec_id >= 40 AND q.vec_id <= 44) WHERE pr <= 3),
        scored AS (SELECT p.query_id, c.nn_id, c.centroid_id,
            list_dot_product(p.qe, p.ce) + (${duckPqScore(4, 8, 16, 7)}) AS s
          FROM coded c JOIN probes p ON c.centroid_id = p.centroid_id
          WHERE c.nn_id <> p.query_id)
        SELECT query_id, nn_id, centroid_id, score, rnk FROM (
          SELECT query_id, nn_id, centroid_id, round(s, 6) AS score,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY s DESC, nn_id) AS rnk
          FROM scored) WHERE rnk <= 5""",

      // BPE training: six unrolled merge rounds — pair counts, (count
      // DESC, a, b) argmax, window-resolved greedy merge — identical
      // algebra to the engine's per-round loop
      "q272_bpe_train" -> s"""
        WITH ${duckBpeCtes(6)}
        SELECT round, lhs, rhs, lhs || rhs AS merged, pair_count FROM (
          SELECT CAST(1 AS BIGINT) AS round, a AS lhs, b AS rhs,
            c AS pair_count FROM best1
          UNION ALL SELECT 2, a, b, c FROM best2
          UNION ALL SELECT 3, a, b, c FROM best3
          UNION ALL SELECT 4, a, b, c FROM best4
          UNION ALL SELECT 5, a, b, c FROM best5
          UNION ALL SELECT 6, a, b, c FROM best6)""",

      // driver-side trainer ≡ the distributed per-round loop (BpeSpec
      // pins it), so the oracle is q272's unrolled chain verbatim
      "q280_bpe_train_local" -> s"""
        WITH ${duckBpeCtes(6)}
        SELECT round, lhs, rhs, lhs || rhs AS merged, pair_count FROM (
          SELECT CAST(1 AS BIGINT) AS round, a AS lhs, b AS rhs,
            c AS pair_count FROM best1
          UNION ALL SELECT 2, a, b, c FROM best2
          UNION ALL SELECT 3, a, b, c FROM best3
          UNION ALL SELECT 4, a, b, c FROM best4
          UNION ALL SELECT 5, a, b, c FROM best5
          UNION ALL SELECT 6, a, b, c FROM best6)""",

      // char-split fallback: the mixed corpus derives deterministically
      // (transliterated unsegmented runs), the tokenizer injects spaces
      // around every CJK char before the whitespace split, and the
      // 4-round train + per-doc BPE counts replay q273's shape over it
      "q281_bpe_cjk" -> s"""
        WITH ${duckBpeCtes(4, from = duckCjkMixedFrom,
          textExpr = duckCjkTok)},
        toks AS (SELECT doc_id,
            unnest(string_split_regex($duckCjkTok, '\\s+')) AS word
          FROM $duckCjkMixedFrom),
        tw AS (SELECT doc_id, word FROM toks WHERE word <> ''),
        wn AS (SELECT word, CAST(len(syms) AS BIGINT) AS n FROM seg4)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          CAST(sum(n) AS BIGINT) AS n_bpe_tokens
        FROM tw JOIN wn USING (word) GROUP BY 1""",

      // token-id sequences: the trained chain's segmentation, the
      // vocabulary id'd by ROW_NUMBER in binary string order, and the
      // per-doc stream position over (word pos, symbol pos)
      "q284_bpe_token_ids" -> s"""
        WITH ${duckBpeCtes(6)},
        dt AS (SELECT doc_id,
            string_split_regex(trim(lower(text)), '\\s+') AS toks
          FROM documents),
        dtoks AS (SELECT doc_id, p AS wpos, toks[p] AS word
          FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS p
            FROM dt)),
        tw AS (SELECT doc_id, wpos, word FROM dtoks WHERE word <> ''),
        vocab AS (SELECT symbol,
            CAST(ROW_NUMBER() OVER (ORDER BY symbol) - 1 AS BIGINT)
              AS token_id
          FROM (SELECT DISTINCT unnest(syms) AS symbol FROM seg6)),
        sy AS (SELECT word, p AS spos, syms[p] AS symbol
          FROM (SELECT word, syms, unnest(range(1, len(syms) + 1)) AS p
            FROM seg6)),
        ids AS (SELECT t.doc_id, t.wpos, s.spos, v.token_id
          FROM tw t JOIN sy s USING (word) JOIN vocab v USING (symbol))
        SELECT doc_id,
          CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY wpos, spos) - 1 AS BIGINT) AS pos,
          token_id
        FROM ids""",

      // packed id batches: q284's id algebra reduced to per-doc
      // (count, id-sum), then q277's shard-cumsum greedy fill at 512
      "q285_bpe_packed_ids" -> s"""
        WITH ${duckBpeCtes(6)},
        dt AS (SELECT doc_id,
            string_split_regex(trim(lower(text)), '\\s+') AS toks
          FROM documents),
        dtoks AS (SELECT doc_id, toks[p] AS word
          FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS p
            FROM dt)),
        tw AS (SELECT doc_id, word FROM dtoks WHERE word <> ''),
        vocab AS (SELECT symbol,
            CAST(ROW_NUMBER() OVER (ORDER BY symbol) - 1 AS BIGINT)
              AS token_id
          FROM (SELECT DISTINCT unnest(syms) AS symbol FROM seg6)),
        sy AS (SELECT word, syms[p] AS symbol
          FROM (SELECT word, syms, unnest(range(1, len(syms) + 1)) AS p
            FROM seg6)),
        idr AS (SELECT t.doc_id, v.token_id
          FROM tw t JOIN sy s USING (word) JOIN vocab v USING (symbol)),
        perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ids,
            CAST(sum(token_id) AS BIGINT) AS id_sum
          FROM idr GROUP BY 1),
        packed AS (SELECT doc_id, doc_id % 8 AS shard, n_ids, id_sum,
            CAST((SUM(n_ids) OVER (PARTITION BY doc_id % 8
              ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_ids)
              // 512 AS BIGINT) AS pack_id
          FROM perdoc)
        SELECT shard, pack_id, COUNT(*) AS n_docs,
          CAST(SUM(n_ids) AS BIGINT) AS sum_len,
          CAST(SUM(id_sum) AS BIGINT) AS sum_ids,
          MIN(doc_id) AS first_doc
        FROM packed GROUP BY 1, 2""",

      // fixed-vocab encode + OOV: train + vocabulary on the PLAIN corpus
      // (q284's chain), APPLY with the apply-only rounds to the
      // CJK-mixed corpus (q281's slice, CJK-split tokenization); symbols
      // outside the published vocabulary id as -1 (unk) via a LEFT join
      "q286_bpe_fixed_vocab" -> s"""
        WITH ${duckBpeCtes(6)},
        vocab AS MATERIALIZED (SELECT symbol,
            CAST(ROW_NUMBER() OVER (ORDER BY symbol) - 1 AS BIGINT)
              AS token_id
          FROM (SELECT DISTINCT unnest(syms) AS symbol FROM seg6)),
        mtoks AS (SELECT doc_id,
            unnest(string_split_regex($duckCjkTok, '\\s+')) AS word
          FROM $duckCjkMixedFrom),
        mtw AS (SELECT doc_id, word FROM mtoks WHERE word <> ''),
        aseg0 AS MATERIALIZED (SELECT word,
            list_transform(range(1, length(word) + 1),
              i -> substr(word, CAST(i AS INTEGER), 1)) AS syms
          FROM (SELECT DISTINCT word FROM mtw)),
        ${duckBpeApplyCtes(6)},
        sy AS (SELECT word, unnest(syms) AS symbol FROM aseg6),
        ids AS (SELECT t.doc_id,
            COALESCE(v.token_id, CAST(-1 AS BIGINT)) AS token_id
          FROM mtw t JOIN sy s USING (word)
          LEFT JOIN vocab v USING (symbol))
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ids,
          CAST(sum(CASE WHEN token_id = -1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_oov,
          CAST(floor(CAST(sum(CASE WHEN token_id = -1 THEN 1 ELSE 0 END)
              AS DOUBLE) / CAST(count(*) AS DOUBLE) * 1000000.0 + 0.5)
            AS BIGINT) AS oov_micro
        FROM ids GROUP BY 1""",

      // rung selection: q282's sweep body VERBATIM as a subquery, then
      // the decision algebra — recall floor, stage-2 float rows priced
      // at dim·8 = 512 bytes, deterministic (total_bytes, rung, refine)
      // rank
      "q287_ann_select_rung" -> s"""
        WITH sweep AS MATERIALIZED ($duckSweepSql)
        SELECT rung, refine, recall_micro, total_bytes,
          CAST(ROW_NUMBER() OVER (ORDER BY total_bytes, rung, refine)
            AS BIGINT) AS choice_rank
        FROM (SELECT rung, refine, recall_micro,
            code_bytes + float_rows * 512 AS total_bytes
          FROM sweep WHERE recall_micro >= 150000)""",

      // pack capacity: q277's cumsum replay, reduced per pack then per
      // shard — straddle overflow counts tokens past the 512 budget
      "q288_pack_stats" -> s"""
        WITH ${duckBpeCtes(6)},
        toks AS (SELECT doc_id,
            unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
          FROM documents),
        tw AS (SELECT doc_id, word FROM toks WHERE word <> ''),
        wn AS (SELECT word, CAST(len(syms) AS BIGINT) AS n FROM seg6),
        perdoc AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens
          FROM tw JOIN wn USING (word) GROUP BY 1),
        packed AS (SELECT doc_id, doc_id % 8 AS shard, n_tokens,
            CAST((SUM(n_tokens) OVER (PARTITION BY doc_id % 8
              ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
              // 512 AS BIGINT) AS pack_id
          FROM perdoc),
        perpack AS (SELECT shard, pack_id,
            CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n_tokens) AS BIGINT) AS pack_len
          FROM packed GROUP BY 1, 2)
        SELECT shard, CAST(count(*) AS BIGINT) AS n_packs,
          CAST(sum(n_docs) AS BIGINT) AS n_docs,
          CAST(sum(pack_len) AS BIGINT) AS sum_tokens,
          CAST(min(pack_len) AS BIGINT) AS min_pack_len,
          CAST(max(pack_len) AS BIGINT) AS max_pack_len,
          CAST(sum(CASE WHEN pack_len > 512 THEN pack_len - 512
            ELSE 0 END) AS BIGINT) AS overflow_tokens,
          CAST(floor(CAST(sum(pack_len) AS DOUBLE) /
            (count(*) * 512.0) * 1000000.0 + 0.5) AS BIGINT) AS fill_micro
        FROM perpack GROUP BY 1""",

      // vocabulary coverage: symbol frequencies from the trained
      // segmentation × word counts, ranked with the cumulative share
      "q289_vocab_coverage" -> s"""
        WITH ${duckBpeCtes(6)},
        symf AS (SELECT symbol, CAST(sum(freq) AS BIGINT) AS freq
          FROM (SELECT freq, unnest(syms) AS symbol FROM seg6)
          GROUP BY 1),
        tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM symf)
        SELECT symbol, freq,
          CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, symbol) AS BIGINT)
            AS rank,
          CAST(floor(CAST(SUM(freq) OVER (ORDER BY freq DESC, symbol
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE) / CAST((SELECT total FROM tot) AS DOUBLE)
              * 1000000.0 + 0.5) AS BIGINT) AS cum_micro
        FROM symf""",

      // the recall/cost sweep: every rung's candidate chain is the
      // corresponding serving oracle (q160 flat ADC / q270 IVF probe /
      // q279 SQ8) cut at k·refine = 15, the refined variants exact-rerank
      // those candidates, and each rung's hits count against the exact
      // inner-product top-5; costs are exact counts (corpus rows × code
      // width; probed-cell rows; distinct candidate ids)
      "q282_ann_recall_sweep" -> duckSweepSql,

      // bloom-root refine: the manifest-stored float corpus serves the
      // SAME bytes as raw parquet (storage is invisible to results —
      // AnnArtifactSpec pins the planned-file drop), so the oracle is
      // q276's two-stage chain over the 55–59 query slice
      "q283_refine_bloom" -> s"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        coded AS (SELECT vec_id, ${duckPqCode(4, 8, 16, 7)} AS code FROM v),
        q AS (SELECT vec_id AS query_id, e AS qe FROM v
          WHERE vec_id BETWEEN 55 AND 59),
        scored AS (SELECT q.query_id, c.vec_id AS nn_id,
            ${duckPqScore(4, 8, 16, 7)} AS s
          FROM coded c JOIN q ON c.vec_id <> q.query_id),
        cand AS (SELECT query_id, nn_id FROM (
          SELECT query_id, nn_id,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY s DESC, nn_id) AS rnk
          FROM scored) WHERE rnk <= 15),
        ex AS (SELECT cd.query_id, cd.nn_id,
            list_dot_product(qv.e, n.e) AS s
          FROM cand cd JOIN v qv ON qv.vec_id = cd.query_id
          JOIN v n ON n.vec_id = cd.nn_id)
        SELECT query_id, nn_id, score, rnk FROM (
          SELECT query_id, nn_id, round(s, 6) AS score,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY s DESC, nn_id) AS rnk
          FROM ex) WHERE rnk <= 5""",

      // end-of-word-marker training: seg0 appends '</w>' as its own
      // symbol; the unrolled rounds are otherwise q272's chain
      "q278_bpe_eow" -> s"""
        WITH ${duckBpeCtes(6, eow = true)}
        SELECT round, lhs, rhs, lhs || rhs AS merged, pair_count FROM (
          SELECT CAST(1 AS BIGINT) AS round, a AS lhs, b AS rhs,
            c AS pair_count FROM best1
          UNION ALL SELECT 2, a, b, c FROM best2
          UNION ALL SELECT 3, a, b, c FROM best3
          UNION ALL SELECT 4, a, b, c FROM best4
          UNION ALL SELECT 5, a, b, c FROM best5
          UNION ALL SELECT 6, a, b, c FROM best6)""",

      // BPE application: the final segmentation's per-word symbol count
      // joined back to the token stream — per-doc whitespace vs BPE
      // token totals
      "q273_bpe_tokenize" -> s"""
        WITH ${duckBpeCtes(6)},
        toks AS (SELECT doc_id,
            unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
          FROM documents),
        tw AS (SELECT doc_id, word FROM toks WHERE word <> ''),
        wn AS (SELECT word, CAST(len(syms) AS BIGINT) AS n FROM seg6)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          CAST(sum(n) AS BIGINT) AS n_bpe_tokens
        FROM tw JOIN wn USING (word) GROUP BY 1""",

      // tokenizer transfer: the train chain runs on the EVEN half only;
      // the apply-only chain replays best1..best6 over the ODD half's
      // vocabulary (chars segment OOV words); fertility is a
      // micro-floored ratio of exact longs per language
      "q275_bpe_transfer" -> s"""
        WITH ${duckBpeCtes(6, "WHERE doc_id % 2 = 0")},
        otoks AS (SELECT doc_id,
            unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
          FROM documents WHERE doc_id % 2 = 1),
        otw AS (SELECT doc_id, word FROM otoks WHERE word <> ''),
        aseg0 AS MATERIALIZED (SELECT word,
            list_transform(range(1, length(word) + 1),
              i -> substr(word, CAST(i AS INTEGER), 1)) AS syms
          FROM (SELECT DISTINCT word FROM otw)),
        ${duckBpeApplyCtes(6)},
        wn AS (SELECT word, CAST(len(syms) AS BIGINT) AS n FROM aseg6),
        perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
            CAST(sum(n) AS BIGINT) AS n_bpe
          FROM otw JOIN wn USING (word) GROUP BY 1)
        SELECT d.lang, CAST(sum(p.n_tokens) AS BIGINT) AS n_words,
          CAST(sum(p.n_bpe) AS BIGINT) AS n_bpe_tokens,
          CAST(floor(CAST(sum(p.n_bpe) AS DOUBLE) /
            CAST(sum(p.n_tokens) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
            AS fertility_micro
        FROM perdoc p JOIN documents d USING (doc_id) GROUP BY 1""",

      // BPE-budgeted packing: the q273 per-doc BPE counts feed q81's
      // shard-cumsum greedy fill at a 512-token budget
      "q277_bpe_packing" -> s"""
        WITH ${duckBpeCtes(6)},
        toks AS (SELECT doc_id,
            unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
          FROM documents),
        tw AS (SELECT doc_id, word FROM toks WHERE word <> ''),
        wn AS (SELECT word, CAST(len(syms) AS BIGINT) AS n FROM seg6),
        perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
            CAST(sum(n) AS BIGINT) AS n_tokens
          FROM tw JOIN wn USING (word) GROUP BY 1),
        packed AS (SELECT doc_id, doc_id % 8 AS shard, n_tokens,
            CAST((SUM(n_tokens) OVER (PARTITION BY doc_id % 8
              ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
              // 512 AS BIGINT) AS pack_id
          FROM perdoc)
        SELECT shard, pack_id, COUNT(*) AS n_docs,
          CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
          MIN(doc_id) AS first_doc
        FROM packed GROUP BY shard, pack_id""",

      // flat-ADC refine: q248's chain cut at 15 candidates → exact
      // rerank to 5 over only those ids
      "q276_adc_refined" -> s"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        coded AS (SELECT vec_id, ${duckPqCode(4, 8, 16, 7)} AS code FROM v),
        q AS (SELECT vec_id AS query_id, e AS qe FROM v
          WHERE vec_id BETWEEN 45 AND 49),
        scored AS (SELECT q.query_id, c.vec_id AS nn_id,
            ${duckPqScore(4, 8, 16, 7)} AS s
          FROM coded c JOIN q ON c.vec_id <> q.query_id),
        cand AS (SELECT query_id, nn_id FROM (
          SELECT query_id, nn_id,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY s DESC, nn_id) AS rnk
          FROM scored) WHERE rnk <= 15),
        ex AS (SELECT cd.query_id, cd.nn_id,
            list_dot_product(qv.e, n.e) AS s
          FROM cand cd JOIN v qv ON qv.vec_id = cd.query_id
          JOIN v n ON n.vec_id = cd.nn_id)
        SELECT query_id, nn_id, score, rnk FROM (
          SELECT query_id, nn_id, round(s, 6) AS score,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY s DESC, nn_id) AS rnk
          FROM ex) WHERE rnk <= 5""",

      // q155's oracle generalized to the query-table fan-out: shared
      // df/idf over the union of query terms, per-(query, doc) decimal
      // fold, per-query ROW_NUMBER cut
      "q168_bm25_batch" -> """
        WITH qrs AS (SELECT * FROM (VALUES
            (1, 'data query stream table'),
            (2, 'filter scan column'),
            (3, 'window batch the')) AS q(query_id, qtext)),
        qterms AS (SELECT DISTINCT query_id, tok FROM (
            SELECT query_id,
              unnest(string_split_regex(trim(lower(qtext)), '\s+')) AS tok
            FROM qrs) WHERE tok <> ''),
        toks AS (SELECT doc_id,
            unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
          FROM documents),
        tt AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
        dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
          FROM tt GROUP BY 1),
        stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
        tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM tt
          WHERE tok IN (SELECT DISTINCT tok FROM qterms) GROUP BY 1, 2),
        idf AS (SELECT tok,
            ln(CAST(1.0 AS DOUBLE) +
              (s.n_docs - df + CAST(0.5 AS DOUBLE)) /
              (df + CAST(0.5 AS DOUBLE))) AS idf
          FROM (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
                FROM tf GROUP BY 1) CROSS JOIN stats s),
        sc AS (SELECT qt.query_id, tf.doc_id,
            CAST(SUM(CAST(
              idf.idf * (tf.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))) /
              (tf.tf + CAST(1.2 AS DOUBLE) *
                (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) +
                 CAST(0.75 AS DOUBLE) * dl.dl /
                   (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
              AS DECIMAL(38,12))) AS DOUBLE) AS raw
          FROM tf JOIN dl ON tf.doc_id = dl.doc_id
                  JOIN idf ON tf.tok = idf.tok
                  JOIN qterms qt ON tf.tok = qt.tok
                  CROSS JOIN stats s
          GROUP BY 1, 2)
        SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
          round(raw, 6) AS score, rnk FROM (
          SELECT query_id, doc_id, raw,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY raw DESC, doc_id) AS rnk
          FROM sc) WHERE rnk <= 10""",

      "q169_constraint_gated_merge" -> s"""
        WITH base AS (SELECT l_orderkey, max(l_returnflag) AS l_returnflag,
            max(l_quantity) AS q0
          FROM lineitem GROUP BY l_orderkey, l_linenumber),
        u AS (SELECT l_returnflag,
            CASE WHEN l_orderkey % 4 = 1 AND q0 + 20.0 <= 60.0
                 THEN q0 + 20.0 ELSE q0 END AS q
          FROM base)
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
          ${dsumSql("q")} AS sum_qty
        FROM u GROUP BY 1""",

      "q170_sql_insert" -> """
        WITH base AS (SELECT o_orderkey AS id, o_orderpriority AS pri,
            CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        ins AS (SELECT -(id + 1) AS id, pri, v + 1 AS v
          FROM base WHERE id % 6 = 0),
        final AS (SELECT pri, v FROM base
          UNION ALL SELECT pri, v FROM ins)
        SELECT pri, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(v) AS BIGINT) AS sum_v
        FROM final GROUP BY 1""",

      // the REPLICA's state ≡ the source's final state, computed directly
      // (q139/q162's history algebra)
      "q171_cdc_mirror" -> """
        SELECT o_orderpriority AS pri,
          CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT) +
            CASE WHEN o_orderkey % 7 = 0 THEN 1000 ELSE 0 END) AS BIGINT) AS sum_v
        FROM orders
        WHERE o_orderkey % 3 = 0 AND o_orderkey % 11 <> 0
        GROUP BY 1""",

      // upserts bump every id%13∈{1,2,3} by its k; the delete then drops
      // id%11=0; maintenance must not change a single value
      "q172_maintain_invariance" -> """
        SELECT o_orderpriority AS pri,
          CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT) +
            CASE WHEN o_orderkey % 13 IN (1, 2, 3)
                 THEN o_orderkey % 13 ELSE 0 END) AS BIGINT) AS sum_cents
        FROM orders
        WHERE o_orderkey % 11 <> 0
        GROUP BY 1""",

      // full-sync clause algebra: matched (id%4=0) refresh to v+100;
      // by-source rows delete when v%3=0 else flag v+7; fresh negative
      // keys insert with v+100
      "q173_sql_merge_full_sync" -> """
        WITH base AS (SELECT o_orderkey AS id, o_orderpriority AS pri,
            CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        kept AS (SELECT pri,
            CASE WHEN id % 4 = 0 THEN v + 100 ELSE v + 7 END AS v
          FROM base WHERE id % 4 = 0 OR v % 3 <> 0),
        ins AS (SELECT pri, v + 100 AS v FROM base WHERE id % 4 = 0),
        final AS (SELECT pri, v FROM kept
          UNION ALL SELECT pri, v FROM ins)
        SELECT pri, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(v) AS BIGINT) AS sum_v
        FROM final GROUP BY 1""",

      "q174_sql_delete_subquery" -> s"""
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
          ${dsumSql("l_quantity")} AS sum_qty
        FROM lineitem
        WHERE l_orderkey NOT IN
          (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        GROUP BY 1""",

      // q157's mark CTEs (gram TEXT as the key), then: covered = the
      // union of marked [pos, pos+20) windows, kept = tokens at
      // uncovered positions (zipped unnest pairs each token with its
      // 0-based position), cleaned text re-joined in position order
      "q175_substring_removal" -> """
        WITH t AS (SELECT doc_id, trim(lower(text)) AS lt,
            string_split_regex(trim(lower(text)), '\s+') AS toks
          FROM documents),
        d AS (SELECT doc_id, toks,
            CAST(CASE WHEN lt = '' THEN 0 ELSE len(toks) END AS BIGINT)
              AS n_tokens
          FROM t),
        g AS (SELECT doc_id, toks, n_tokens,
            unnest(range(0, n_tokens - 20 + 1)) AS pos
          FROM d WHERE n_tokens >= 20),
        gh AS (SELECT doc_id, pos,
            array_to_string(list_slice(toks, pos + 1, pos + 20), ' ') AS gram
          FROM g),
        c AS (SELECT gram FROM gh GROUP BY gram HAVING count(*) >= 2),
        dup AS (SELECT gh.doc_id, gh.pos FROM gh JOIN c USING (gram)),
        cov AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 20)) AS p
          FROM dup),
        tp AS (SELECT doc_id, unnest(range(0, n_tokens)) AS p,
            unnest(toks) AS tok
          FROM d WHERE n_tokens > 0),
        kept AS (SELECT tp.doc_id, tp.p, tp.tok
          FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.p = cov.p
          WHERE cov.p IS NULL),
        ck AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
            array_to_string(list(tok ORDER BY p), ' ') AS ctext
          FROM kept GROUP BY 1)
        SELECT d.doc_id, d.n_tokens,
          coalesce(ck.n_kept, 0) AS n_kept,
          md5(coalesce(ck.ctext, '')) AS clean_md5
        FROM d LEFT JOIN ck USING (doc_id)""",

      // the lifecycle's net data effect: +7 cents on id%5=0, id%11=0
      // deleted; OPTIMIZE/VACUUM must not change a value, and the
      // post-vacuum ledger holds exactly the one live version
      "q176_sql_lifecycle" -> """
        SELECT o_orderpriority AS pri,
          CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT) +
            CASE WHEN o_orderkey % 5 = 0 THEN 7 ELSE 0 END) AS BIGINT)
            AS sum_cents,
          CAST(1 AS BIGINT) AS n_history
        FROM orders
        WHERE o_orderkey % 11 <> 0
        GROUP BY 1""",

      // matched (id%6=0) refresh to v+50 and take score id%8; fresh
      // negative keys insert with score 1.5; untouched rows score NULL
      "q177_sql_merge_evolution" -> """
        WITH base AS (SELECT o_orderkey AS id, o_orderpriority AS pri,
            CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        merged AS (SELECT pri,
            CASE WHEN id % 6 = 0 THEN v + 50 ELSE v END AS v,
            CASE WHEN id % 6 = 0 THEN CAST(id % 8 AS DOUBLE) ELSE NULL END
              AS score
          FROM base),
        ins AS (SELECT pri, v + 50 AS v, CAST(1.5 AS DOUBLE) AS score
          FROM base WHERE id % 6 = 0),
        final AS (SELECT pri, v, score FROM merged
          UNION ALL SELECT pri, v, score FROM ins)
        SELECT pri, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(v) AS BIGINT) AS sum_v,
          CAST(sum(coalesce(score, 0)) AS DOUBLE) AS sum_score
        FROM final GROUP BY 1""",

      // q177's algebra verbatim — the catalog-resolved evolution merge
      // must land on the identical final state
      "q213_catalog_evolution" -> """
        WITH base AS (SELECT o_orderkey AS id, o_orderpriority AS pri,
            CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        merged AS (SELECT pri,
            CASE WHEN id % 6 = 0 THEN v + 50 ELSE v END AS v,
            CASE WHEN id % 6 = 0 THEN CAST(id % 8 AS DOUBLE) ELSE NULL END
              AS score
          FROM base),
        ins AS (SELECT pri, v + 50 AS v, CAST(1.5 AS DOUBLE) AS score
          FROM base WHERE id % 6 = 0),
        final AS (SELECT pri, v, score FROM merged
          UNION ALL SELECT pri, v, score FROM ins)
        SELECT pri, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(v) AS BIGINT) AS sum_v,
          CAST(sum(coalesce(score, 0)) AS DOUBLE) AS sum_score
        FROM final GROUP BY 1""",

      // q167's oracle with the OPQ rotation: residuals rotate through the
      // inlined literal R before coding, the query rotates once in the
      // probe set, and the coarse q·c term stays UNROTATED — the same
      // decomposition and parenthesization the engine pins
      "q178_ivfpq_opq" -> s"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        cent AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
        assigned AS (SELECT nn_id, c_emb, centroid_id FROM (
          SELECT v.vec_id AS nn_id, v.e AS c_emb, c.cid AS centroid_id,
            ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
              list_dot_product(v.e, v.e) + list_dot_product(c.ce, c.ce)
                - 2.0 * list_dot_product(v.e, c.ce), c.cid) AS rn
          FROM v CROSS JOIN cent c) WHERE rn = 1),
        resid AS (SELECT a.nn_id, a.centroid_id,
            list_transform(range(1, len(a.c_emb) + 1),
              i -> a.c_emb[i] - c.ce[i]) AS e
          FROM assigned a JOIN cent c ON a.centroid_id = c.cid),
        rre AS (SELECT nn_id, centroid_id, ${duckRotate(64, 11, "e")} AS e
          FROM resid),
        coded AS (SELECT nn_id, centroid_id, ${duckPqCode(4, 8, 16, 7)} AS code
          FROM rre),
        probes AS (SELECT query_id, qraw, centroid_id, ce,
            ${duckRotate(64, 11, "qraw")} AS qe FROM (
          SELECT q.vec_id AS query_id, q.e AS qraw, c.cid AS centroid_id,
            c.ce AS ce,
            ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
              list_dot_product(q.e, q.e) + list_dot_product(c.ce, c.ce)
                - 2.0 * list_dot_product(q.e, c.ce), c.cid) AS pr
          FROM v q CROSS JOIN cent c
          WHERE q.vec_id >= 10 AND q.vec_id <= 14) WHERE pr <= 3),
        scored AS (SELECT p.query_id, c.nn_id, c.centroid_id,
            list_dot_product(p.qraw, p.ce) + (${duckPqScore(4, 8, 16, 7)}) AS s
          FROM coded c JOIN probes p ON c.centroid_id = p.centroid_id
          WHERE c.nn_id <> p.query_id)
        SELECT query_id, nn_id, centroid_id, score, rnk FROM (
          SELECT query_id, nn_id, centroid_id, round(s, 6) AS score,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY s DESC, nn_id) AS rnk
          FROM scored) WHERE rnk <= 5""",

      // live leg = post-delete (id%7<>0), v0 leg = everything
      "q179_sql_read_time_travel" -> """
        WITH base AS (SELECT o_orderkey AS id, o_orderpriority AS pri,
            CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders)
        SELECT pri,
          CAST(count(CASE WHEN id % 7 <> 0 THEN 1 END) AS BIGINT) AS n_live,
          CAST(sum(CASE WHEN id % 7 <> 0 THEN v END) AS BIGINT) AS sum_v_live,
          CAST(count(*) AS BIGINT) AS n_v0
        FROM base GROUP BY 1""",

      // same features (unigrams + '_'-joined bigrams), same decimal
      // weight fold, same sigmoid
      "q180_quality_classifier" -> """
        WITH w AS (SELECT * FROM (VALUES ('data', 1.25), ('query', -0.75),
            ('the', 0.5), ('stream', 0.25), ('table', 1.0),
            ('data_query', 2.0), ('the_data', -1.5)) AS w(term, wt)),
        t AS (SELECT doc_id,
            string_split_regex(trim(lower(text)), '\s+') AS toks
          FROM documents),
        d AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 1),
        uni AS (SELECT doc_id, unnest(toks) AS f FROM d),
        bi AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
            i -> toks[i] || '_' || toks[i + 1])) AS f
          FROM d WHERE len(toks) >= 2),
        feats AS (SELECT doc_id, f FROM uni
          UNION ALL SELECT doc_id, f FROM bi),
        sc AS (SELECT feats.doc_id, CAST(count(*) AS BIGINT) AS n_features,
            CAST(SUM(CAST(coalesce(w.wt, 0) AS DECIMAL(38,12))) AS DOUBLE)
              AS sw
          FROM feats LEFT JOIN w ON feats.f = w.term GROUP BY 1)
        SELECT doc_id, n_features,
          round(1.0 / (1.0 + exp(-(-0.5 + sw / n_features))), 6) AS score
        FROM sc""",

      // overwrite keeps id%3=0 with v+9; the DELETE then drops id%5=0
      "q181_sql_overwrite" -> """
        SELECT o_orderpriority AS pri,
          CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT) + 9) AS BIGINT)
            AS sum_v
        FROM orders
        WHERE o_orderkey % 3 = 0 AND o_orderkey % 5 <> 0
        GROUP BY 1""",

      // the catalog-routed lifecycle must land exactly where q176's
      // lowered statements do: update (+7 on id%5), delete (id%11),
      // overwrite keeping id%3<>0. n_history pins the commit ledger
      // (create, CHECK metadata commit, insert, RENAME metadata commit,
      // update, delete, overwrite = 7), n_tables the SHOW TABLES listing.
      "q182_catalog_lifecycle" -> """
        WITH base AS (SELECT o_orderkey AS id,
            CAST(round(o_totalprice * 100) AS BIGINT) AS v,
            o_orderpriority AS pri FROM orders),
        u AS (SELECT id, v + CASE WHEN id % 5 = 0 THEN 7 ELSE 0 END AS cents,
            pri FROM base WHERE id % 11 <> 0),
        o AS (SELECT * FROM u WHERE id % 3 <> 0)
        SELECT pri, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(cents) AS BIGINT) AS sum_cents,
          CAST(7 AS BIGINT) AS n_history, CAST(1 AS BIGINT) AS n_tables
        FROM o GROUP BY 1""",

      // PerceptualHash replay: the ASCII stand-in payload's byte k is the
      // codepoint of character k+1, and every cell mean compares in EXACT
      // integer arithmetic, so both prints reproduce bit-for-bit.
      "q183_phash" -> s"""
        ${duckPhashCtes("documents")}
        SELECT asset_id, CAST($duckAHashBits AS BIGINT) AS ahash,
          CAST($duckDHashBits AS BIGINT) AS dhash
        FROM g""",

      "q184_phash_neardup" -> {
        val chunks = (0 until 4).map(i =>
          s"SELECT asset_id, dh, $i AS ci, (dh >> ${16 * i}) & 65535 AS cv " +
            "FROM p").mkString("\n          UNION ALL ")
        s"""
        WITH noised AS (SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 100000,
            array_to_string(list_transform(range(0, length(text)),
              i -> CASE WHEN i % 17 = 0
                THEN chr(CAST(least(ascii(text[i+1]) + 5, 126) AS INTEGER))
                ELSE text[i+1] END), '')
          FROM documents),
        ${duckPhashCtes("noised", withKeyword = false)},
        p AS (SELECT asset_id, CAST($duckDHashBits AS BIGINT) AS dh FROM g),
        ch AS ($chunks),
        cand AS (SELECT DISTINCT x.asset_id AS id_a, y.asset_id AS id_b,
            x.dh AS da, y.dh AS db
          FROM ch x JOIN ch y
            ON x.ci = y.ci AND x.cv = y.cv AND x.asset_id < y.asset_id)
        SELECT id_a, id_b, CAST(bit_count(xor(da, db)) AS INTEGER) AS dist
        FROM cand WHERE bit_count(xor(da, db)) <= 3"""
      },

      // the marker lifecycle's data algebra (defaults + both inserts);
      // generated-id invariants pinned as literals (see the registration)
      "q185_column_markers" -> """
        WITH b1 AS (SELECT o_orderpriority AS pri, 'unk' AS tag,
            CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        b2 AS (SELECT o_orderpriority AS pri, 'b2' AS tag,
            CAST(round(o_totalprice * 100) AS BIGINT) + 11 AS v
          FROM orders WHERE o_orderkey % 4 = 0),
        u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
        SELECT pri, tag, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(v) AS BIGINT) AS sum_v,
          TRUE AS ids_unique, TRUE AS ids_positive
        FROM u GROUP BY 1, 2""",

      // each zone exactly once — the replayed zone1 copy must not double
      "q186_copy_into" -> """
        WITH rows_in AS (SELECT o_orderkey AS id,
            CAST(round(o_totalprice * 100) AS BIGINT) AS v,
            o_orderpriority AS pri
          FROM orders
          WHERE o_orderkey % 2 = 0
            OR (o_orderkey % 2 = 1 AND o_orderkey % 3 = 0))
        SELECT pri, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(v) AS BIGINT) AS sum_v
        FROM rows_in GROUP BY 1""",

      // the bloom is invisible in the ANSWER: plain anti-join algebra
      "q187_incremental_dedup" -> s"""
        WITH t AS (SELECT doc_id,
            string_split_regex(trim(lower(text)), '\\s+') AS toks
          FROM documents),
        f AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(toks, tk -> ${duckPolyHash("tk")})),
            (acc, x) -> (acc * 1000003 + x) % 1000000007) AS fp FROM t),
        corpus AS (SELECT fp FROM f WHERE doc_id < 300),
        fresh AS (SELECT doc_id, fp FROM f WHERE doc_id >= 300
          UNION ALL
          SELECT doc_id + 100000, fp FROM f
          WHERE doc_id < 300 AND doc_id % 7 = 0)
        SELECT doc_id, fp FROM fresh
        WHERE fp NOT IN (SELECT fp FROM corpus)""",

      // KMV estimate replay: distinct portable hashes per group, k-th
      // smallest drives (k-1)·P/h_k; the oracle can afford the full
      // sorted list at sf0.01 (the ENGINE keeps O(k) state)
      "q188_kmv_distinct" -> duckKmvDirect,

      // the MERGE property: folded leaf sketches ≡ the direct sketch, so
      // the oracle is the SAME direct algebra as q188 (one shared
      // definition — a hash/estimator tweak cannot desync the pair)
      "q189_kmv_rollup" -> duckKmvDirect,

      // SQ8 replay: bounds are data-dependent but EXACT (min/max of the
      // same doubles), codes/dequant are explicit floor(x+0.5) integer
      // arithmetic, scores fold left-to-right like the native dot
      "q190_sq8_ann" -> """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        b AS (SELECT i, min(e[i+1]) AS mn, max(e[i+1]) AS mx
          FROM v, range(0, 64) t(i) GROUP BY i),
        bl AS (SELECT list(mn ORDER BY i) AS mins,
            list(CASE WHEN mx > mn THEN mx - mn ELSE 0 END ORDER BY i)
              AS spans
          FROM b),
        coded AS (SELECT vec_id,
            list_transform(range(0, 64), i -> CASE WHEN spans[i+1] = 0
              THEN 0 ELSE CAST(least(greatest(
                floor((e[i+1] - mins[i+1]) * 255.0 / spans[i+1] + 0.5),
                0.0), 255.0) AS INTEGER) END) AS code
          FROM v, bl),
        deq AS (SELECT vec_id,
            list_transform(range(0, 64),
              i -> code[i+1] * spans[i+1] / 255.0 + mins[i+1]) AS de
          FROM coded, bl),
        q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 5),
        scored AS (SELECT q.query_id, d.vec_id AS nn_id,
            list_dot_product(q.qe, d.de) AS s
          FROM deq d JOIN q ON d.vec_id <> q.query_id),
        ranked AS (SELECT query_id, nn_id, round(s, 6) AS score,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY s DESC, nn_id) AS rnk
          FROM scored)
        SELECT query_id, nn_id, score, rnk FROM ranked WHERE rnk <= 5""",

      // canonical a<b<c enumeration — the oracle affords the plain
      // 3-way self-join at sf0.01; the ENGINE orients by degree so the
      // same answer arrives without the wedge blowup
      "q191_triangles" -> """
        WITH e0 AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM e0 e1 JOIN e0 e2 ON e1.b = e2.a
          JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b)
        SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        FROM (SELECT unnest([x, y, z]) AS node FROM tri)
        GROUP BY 1""",

      // Holt replay: the recursive CTE computes the SAME left-to-right
      // IEEE sequence as HoltOps.scan — level inlined twice in the trend
      // update because SQL can't name it, identical operand order
      "q192_holt_forecast" -> """
        WITH RECURSIVE t AS (SELECT user_id, event_id, value,
            CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'purchase'),
        s AS (SELECT user_id,
            list(event_id ORDER BY ts, event_id) AS ids,
            list(value ORDER BY ts, event_id) AS vals
          FROM t GROUP BY user_id),
        r AS (
          SELECT user_id, 1 AS k, ids, vals,
            vals[1] AS level, CAST(0 AS DOUBLE) AS trend
          FROM s
          UNION ALL
          SELECT user_id, k + 1, ids, vals,
            0.3*vals[k+1] + (1-0.3)*(level+trend) AS level,
            0.1*((0.3*vals[k+1] + (1-0.3)*(level+trend)) - level)
              + (1-0.1)*trend AS trend
          FROM r WHERE k < len(vals))
        SELECT user_id, ids[k] AS event_id, vals[k] AS value,
          CAST(floor(level * 1000000.0 + 0.5) AS BIGINT) AS level_micro,
          CAST(floor(trend * 1000000.0 + 0.5) AS BIGINT) AS trend_micro,
          CAST(floor((level + trend) * 1000000.0 + 0.5) AS BIGINT)
            AS forecast_micro
        FROM r""",

      // audio replay: ASCII stand-in payload byte k = codepoint of
      // character k+1 (the q183 convention); frame sums are exact
      // integers, runs the same gaps-and-islands algebra as the engine
      "q193_audio_silence" -> """
        WITH b AS (SELECT doc_id,
            list_transform(range(0, length(text)), i -> ascii(text[i+1]) - 128)
              AS v
          FROM documents WHERE text IS NOT NULL),
        el AS (SELECT doc_id, list_transform(range(0, len(v) // 32),
            i -> list_sum(list_transform(
              v[CAST(i*32+1 AS INT) : CAST(i*32+32 AS INT)],
              x -> CAST(x*x AS BIGINT)))) AS es FROM b),
        fr AS (SELECT doc_id,
            CAST(generate_subscripts(es, 1) - 1 AS BIGINT) AS frame_no,
            CAST(unnest(es) AS BIGINT) AS energy FROM el),
        m AS (SELECT doc_id, frame_no, energy, energy < 60000 AS silent,
            count(*) FILTER (WHERE energy >= 60000)
              OVER (PARTITION BY doc_id ORDER BY frame_no) AS grp FROM fr),
        runs AS (SELECT doc_id, grp, count(*) AS rl FROM m
          WHERE silent GROUP BY 1, 2),
        ra AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_runs,
            CAST(max(rl) AS BIGINT) AS longest FROM runs GROUP BY 1),
        pa AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
            CAST(count(*) FILTER (WHERE silent) AS BIGINT) AS n_silent,
            CAST(sum(energy) AS BIGINT) AS sum_energy FROM m GROUP BY 1)
        SELECT pa.doc_id AS asset_id, n_frames, n_silent,
          COALESCE(n_runs, 0) AS n_silence_runs,
          COALESCE(longest, 0) AS longest_silence, sum_energy
        FROM pa LEFT JOIN ra ON pa.doc_id = ra.doc_id""",

      // the generated column is v*2+1 in EVERY surviving row — fill,
      // provided-insert, and re-deriving update all preserve it
      "q194_generated_columns" -> """
        WITH base AS (SELECT o_orderkey AS id,
            CAST(round(o_totalprice * 100) AS BIGINT) AS v,
            o_orderpriority AS pri FROM orders),
        b1 AS (SELECT id, v, v * 2 + 1 AS twice, pri FROM base),
        b2 AS (SELECT id + 10000000 AS id, v + 7 AS v,
            (v + 7) * 2 + 1 AS twice, pri FROM base WHERE id % 5 = 0),
        u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2),
        upd AS (SELECT id,
            CASE WHEN id % 7 = 0 THEN v + 3 ELSE v END AS v,
            CASE WHEN id % 7 = 0 THEN (v + 3) * 2 + 1 ELSE twice END AS twice,
            pri FROM u)
        SELECT pri, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(v) AS BIGINT) AS sum_v,
          CAST(sum(twice) AS BIGINT) AS sum_twice
        FROM upd GROUP BY 1""",

      // the refused replay contributes NOTHING; upsert = update-in-place
      // for id%5, plus fresh inserted ids for id%4
      "q195_unique_ingest" -> """
        WITH base AS (SELECT o_orderkey AS id,
            CAST(round(o_totalprice * 100) AS BIGINT) AS v,
            o_orderpriority AS pri FROM orders),
        u AS (SELECT id, CASE WHEN id % 5 = 0 THEN v + 7 ELSE v END AS v,
            pri FROM base
          UNION ALL
          SELECT id + 10000000, v + 11, pri FROM base WHERE id % 4 = 0)
        SELECT pri, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(v) AS BIGINT) AS sum_v
        FROM u GROUP BY 1""",

      // declaration-order distinct-hit replay: one contains per pattern
      // (the oracle affords N scans; the ENGINE pays one)
      "q196_blocklist_screen" -> {
        val arr = BlocklistPatterns.map(p => s"'$p'").mkString("[", ", ", "]")
        s"""
        WITH h AS (SELECT doc_id,
            list_filter($arr, p -> contains(text, p)) AS hit_list
          FROM documents)
        SELECT doc_id, coalesce(array_to_string(hit_list, ','), '') AS hits,
          CAST(len(hit_list) AS BIGINT) AS n_hits FROM h"""
      },

      // exact-integer core (sum7, 7x−sum7 deviations), three fixed-order
      // double divisions micro-quantized; dow = epoch_days mod 7 (the
      // 0/1-based dayofweek builtins differ between engines)
      "q197_seasonal_decompose" -> """
        WITH daily AS (SELECT o_orderpriority AS pri,
            CAST(o_orderdate AS DATE) AS d,
            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
              AS cents
          FROM orders GROUP BY 1, 2),
        t AS (SELECT pri, d, cents,
            date_diff('day', DATE '1970-01-01', d) % 7 AS dow,
            CASE WHEN count(cents) OVER w = 7
              THEN CAST(sum(cents) OVER w AS BIGINT) END AS sum7
          FROM daily
          WINDOW w AS (PARTITION BY pri ORDER BY d
            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        dev AS (SELECT pri, dow,
            CAST(sum(7 * cents - sum7) AS BIGINT) AS sdev,
            count(*) AS n
          FROM t WHERE sum7 IS NOT NULL GROUP BY 1, 2)
        SELECT t.pri, CAST(t.d AS TIMESTAMP) AS day, t.cents,
          CAST(floor(t.sum7 / 7.0 * 1000000.0 + 0.5) AS BIGINT)
            AS trend_micro,
          CAST(floor(dev.sdev / (7.0 * dev.n) * 1000000.0 + 0.5) AS BIGINT)
            AS seasonal_micro,
          CAST(floor((t.cents - t.sum7 / 7.0 - dev.sdev / (7.0 * dev.n))
            * 1000000.0 + 0.5) AS BIGINT) AS resid_micro
        FROM t LEFT JOIN dev ON t.pri = dev.pri AND t.dow = dev.dow""",

      // the same 12 peels, unrolled as MATERIALIZED CTEs (inlined, the
      // triple self-reference explodes 3^12); deg = the admitting count
      "q198_kcore" -> {
        val k = 80
        val rounds = 12
        val peels = (1 to rounds).map { i =>
          val p = s"s${i - 1}"
          s"""s$i AS MATERIALIZED (
          SELECT x AS n, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT e0.a AS x FROM e0
              JOIN $p p1 ON e0.a = p1.n JOIN $p p2 ON e0.b = p2.n
            UNION ALL
            SELECT e0.b FROM e0
              JOIN $p p1 ON e0.a = p1.n JOIN $p p2 ON e0.b = p2.n
          ) GROUP BY x HAVING count(*) >= $k)"""
        }.mkString(",\n        ")
        s"""
        WITH e0 AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS a,
            b.l_partkey AS b
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        s0 AS MATERIALIZED (SELECT a AS n FROM e0 UNION SELECT b FROM e0),
        $peels
        SELECT n AS node, d AS deg FROM s$rounds"""
      },

      // same frame grid as q193; boundaries from lag deltas, shots =
      // running boundary count islands — exact integers end to end
      "q199_energy_shots" -> """
        WITH b AS (SELECT doc_id,
            list_transform(range(0, length(text)), i -> ascii(text[i+1]) - 128)
              AS v
          FROM documents WHERE text IS NOT NULL),
        el AS (SELECT doc_id, list_transform(range(0, len(v) // 32),
            i -> list_sum(list_transform(
              v[CAST(i*32+1 AS INT) : CAST(i*32+32 AS INT)],
              x -> CAST(x*x AS BIGINT)))) AS es FROM b),
        fr AS (SELECT doc_id,
            CAST(generate_subscripts(es, 1) - 1 AS BIGINT) AS f,
            CAST(unnest(es) AS BIGINT) AS e FROM el),
        m AS (SELECT doc_id, f, e,
            CASE WHEN abs(e - lag(e) OVER w) > 12000 THEN 1 ELSE 0 END AS bd
          FROM fr WINDOW w AS (PARTITION BY doc_id ORDER BY f)),
        sh AS (SELECT doc_id, f,
            sum(bd) OVER (PARTITION BY doc_id ORDER BY f) AS shot
          FROM m),
        runs AS (SELECT doc_id, shot, CAST(count(*) AS BIGINT) AS len
          FROM sh GROUP BY 1, 2)
        SELECT doc_id AS asset_id, CAST(sum(len) AS BIGINT) AS n_frames,
          CAST(count(*) AS BIGINT) AS n_shots,
          CAST(max(len) AS BIGINT) AS longest_shot
        FROM runs GROUP BY 1""",

      // CUSUM replay: exact BIGINT daily sums, one double division for
      // the mean, then the identical left-to-right max/add recursion
      "q200_cusum_drift" -> """
        WITH RECURSIVE daily AS (SELECT o_orderpriority AS pri,
            CAST(o_orderdate AS DATE) AS d,
            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
              AS cents
          FROM orders GROUP BY 1, 2),
        s AS (SELECT pri,
            list(d ORDER BY d) AS ds,
            list(cents ORDER BY d) AS vals,
            CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu
          FROM daily GROUP BY pri),
        r AS (
          SELECT pri, 1 AS k, ds, vals, mu,
            greatest(CAST(0 AS DOUBLE),
              (CAST(vals[1] AS DOUBLE) - mu) - 50000.0) AS c
          FROM s
          UNION ALL
          SELECT pri, k + 1, ds, vals, mu,
            greatest(CAST(0 AS DOUBLE),
              c + ((CAST(vals[k+1] AS DOUBLE) - mu) - 50000.0)) AS c
          FROM r WHERE k < len(vals))
        SELECT pri, CAST(ds[k] AS TIMESTAMP) AS day, vals[k] AS cents,
          CAST(floor(c * 1000000.0 + 0.5) AS BIGINT) AS cusum_micro
        FROM r""",

      // exact integer moments (n·Q − S², n·S), one double division
      "q201_burstiness" -> """
        WITH c AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS b,
            CAST(count(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2)
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_buckets,
          CAST(sum(c) AS BIGINT) AS n_events,
          CAST(floor(CAST(count(*) * sum(c*c) - sum(c) * sum(c) AS DOUBLE)
            * 1000000.0 / CAST(count(*) * sum(c) AS DOUBLE) + 0.5) AS BIGINT)
            AS fano_micro
        FROM c GROUP BY 1""",

      // gap-based sessionization replay: lag → start flag → running sum;
      // ties cannot split a session (gap 0), so the (entity, session_seq)
      // key is engine-stable however the tie sorts
      "q223_sessionize" -> """
        WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        g AS (SELECT user_id, ts,
            CASE WHEN lag(ts) OVER w IS NULL OR epoch_us(ts) -
              epoch_us(lag(ts) OVER w) > 28800000000 THEN 1 ELSE 0 END AS ns
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (SELECT user_id, ts, CAST(sum(ns) OVER (PARTITION BY user_id
            ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
          FROM g)
        SELECT user_id, session_seq, CAST(count(*) AS BIGINT) AS n_events,
          min(ts) AS start_ts, max(ts) AS end_ts,
          epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
        FROM s GROUP BY 1, 2""",

      // the TVF face plans the identical tree — q223's algebra at a 6 h
      // (21600000000 µs) gap
      "q274_sql_sessionize" -> """
        WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        g AS (SELECT user_id, ts,
            CASE WHEN lag(ts) OVER w IS NULL OR epoch_us(ts) -
              epoch_us(lag(ts) OVER w) > 21600000000 THEN 1 ELSE 0 END AS ns
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (SELECT user_id, ts, CAST(sum(ns) OVER (PARTITION BY user_id
            ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
          FROM g)
        SELECT user_id, session_seq, CAST(count(*) AS BIGINT) AS n_events,
          min(ts) AS start_ts, max(ts) AS end_ts,
          epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
        FROM s GROUP BY 1, 2""",

      // ROC curve: integer marker-count scores (engine-stable group
      // keys), exact cumulative counts, one division per rate
      "q224_roc_curve" -> """
        WITH t AS (SELECT CAST(len(list_filter(
              string_split_regex(trim(lower(text)), '\s+'),
              x -> x IN ('the', 'a'))) AS DOUBLE) AS score,
            (lang = 'en') AS y
          FROM documents),
        f AS (SELECT score, y FROM t
          WHERE score IS NOT NULL AND y IS NOT NULL),
        g AS (SELECT score,
            CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos_at,
            CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg_at
          FROM f GROUP BY 1),
        c AS (SELECT score, pos_at, neg_at,
            CAST(sum(pos_at) OVER w AS BIGINT) AS cum_pos,
            CAST(sum(neg_at) OVER w AS BIGINT) AS cum_neg
          FROM g WINDOW w AS (ORDER BY score ROWS UNBOUNDED PRECEDING)),
        tot AS (SELECT CAST(sum(pos_at) AS BIGINT) AS p,
            CAST(sum(neg_at) AS BIGINT) AS n FROM g)
        SELECT score AS threshold,
          p - cum_pos + pos_at AS tp,
          n - cum_neg + neg_at AS fp,
          CAST(floor(CASE WHEN p = 0 THEN NULL
            ELSE CAST(p - cum_pos + pos_at AS DOUBLE) / CAST(p AS DOUBLE) END
            * 1000000.0 + 0.5) AS BIGINT) AS tpr_micro,
          CAST(floor(CASE WHEN n = 0 THEN NULL
            ELSE CAST(n - cum_neg + neg_at AS DOUBLE) / CAST(n AS DOUBLE) END
            * 1000000.0 + 0.5) AS BIGINT) AS fpr_micro
        FROM c CROSS JOIN tot""",

      // Mann–Whitney with tie mid-ranks: U·2 forms in HUGEINT (the
      // DECIMAL(38,0) mirror), ONE double division, micro-quantized
      "q225_roc_auc" -> """
        WITH t AS (SELECT CAST(len(list_filter(
              string_split_regex(trim(lower(text)), '\s+'),
              x -> x IN ('the', 'a'))) AS DOUBLE) AS score,
            (lang = 'en') AS y
          FROM documents),
        f AS (SELECT score, y FROM t
          WHERE score IS NOT NULL AND y IS NOT NULL),
        g AS (SELECT score,
            CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos_at,
            CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg_at
          FROM f GROUP BY 1),
        c AS (SELECT score, pos_at, neg_at,
            CAST(sum(neg_at) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum_neg
          FROM g)
        SELECT CAST(sum(pos_at) AS BIGINT) AS n_pos,
          CAST(sum(neg_at) AS BIGINT) AS n_neg,
          CAST(floor(CAST(sum(CAST(pos_at AS HUGEINT) *
              (2 * CAST(cum_neg - neg_at AS HUGEINT) + neg_at)) AS DOUBLE) /
            (2.0 * CAST(sum(pos_at) AS DOUBLE) * CAST(sum(neg_at) AS DOUBLE))
            * 1000000.0 + 0.5) AS BIGINT) AS auc_micro
        FROM c""",

      // the SQL-face replay IS q225's: same scorer, same Mann-Whitney
      // algebra -- the TVF plans the identical Eval tree
      "q249_sql_roc_auc" -> """
        WITH t AS (SELECT CAST(len(list_filter(
              string_split_regex(trim(lower(text)), '\s+'),
              x -> x IN ('the', 'a'))) AS DOUBLE) AS score,
            (lang = 'en') AS y
          FROM documents),
        f AS (SELECT score, y FROM t
          WHERE score IS NOT NULL AND y IS NOT NULL),
        g AS (SELECT score,
            CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos_at,
            CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg_at
          FROM f GROUP BY 1),
        c AS (SELECT score, pos_at, neg_at,
            CAST(sum(neg_at) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum_neg
          FROM g)
        SELECT CAST(sum(pos_at) AS BIGINT) AS n_pos,
          CAST(sum(neg_at) AS BIGINT) AS n_neg,
          CAST(floor(CAST(sum(CAST(pos_at AS HUGEINT) *
              (2 * CAST(cum_neg - neg_at AS HUGEINT) + neg_at)) AS DOUBLE) /
            (2.0 * CAST(sum(pos_at) AS DOUBLE) * CAST(sum(neg_at) AS DOUBLE))
            * 1000000.0 + 0.5) AS BIGINT) AS auc_micro
        FROM c""",

      // PR curve: the q224 grain with precision/recall rates; precision's
      // denominator is the at-or-above count (never 0 at an observed
      // threshold), recall NULL-guards the positives-free corpus
      "q250_pr_curve" -> """
        WITH t AS (SELECT CAST(len(list_filter(
              string_split_regex(trim(lower(text)), '\s+'),
              x -> x IN ('the', 'a'))) AS DOUBLE) AS score,
            (lang = 'en') AS y
          FROM documents),
        f AS (SELECT score, y FROM t
          WHERE score IS NOT NULL AND y IS NOT NULL),
        g AS (SELECT score,
            CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos_at,
            CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg_at
          FROM f GROUP BY 1),
        c AS (SELECT score, pos_at, neg_at,
            CAST(sum(pos_at) OVER w AS BIGINT) AS cum_pos,
            CAST(sum(neg_at) OVER w AS BIGINT) AS cum_neg
          FROM g WINDOW w AS (ORDER BY score ROWS UNBOUNDED PRECEDING)),
        tot AS (SELECT CAST(sum(pos_at) AS BIGINT) AS p,
            CAST(sum(neg_at) AS BIGINT) AS n FROM g)
        SELECT score AS threshold,
          p - cum_pos + pos_at AS tp,
          n - cum_neg + neg_at AS fp,
          CAST(floor(CAST(p - cum_pos + pos_at AS DOUBLE) /
            CAST((p - cum_pos + pos_at) + (n - cum_neg + neg_at) AS DOUBLE)
            * 1000000.0 + 0.5) AS BIGINT) AS precision_micro,
          CAST(floor(CASE WHEN p = 0 THEN NULL
            ELSE CAST(p - cum_pos + pos_at AS DOUBLE) / CAST(p AS DOUBLE) END
            * 1000000.0 + 0.5) AS BIGINT) AS recall_micro
        FROM c CROSS JOIN tot""",

      // QQ table: exact type-1 quantiles per slice via distinct-value
      // cumulatives and the integer ceiling rank, 5%-grid join
      "q256_qq_compare" -> """
        WITH o AS (SELECT o_orderkey,
            CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        grid AS (SELECT CAST(unnest(range(1, 21)) AS BIGINT) AS i),
        rcnt AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM o
          WHERE o_orderkey % 2 = 0 GROUP BY 1),
        rcum AS (SELECT v, CAST(sum(c) OVER (ORDER BY v
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM rcnt),
        rn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM rcnt),
        rq AS (SELECT i, min(v) AS ref_q
          FROM rcum CROSS JOIN rn CROSS JOIN grid
          WHERE cum >= (i * n + 19) // 20 GROUP BY 1),
        ccnt AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM o
          WHERE o_orderkey % 2 = 1 GROUP BY 1),
        ccum AS (SELECT v, CAST(sum(c) OVER (ORDER BY v
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM ccnt),
        cn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM ccnt),
        cq AS (SELECT i, min(v) AS cur_q
          FROM ccum CROSS JOIN cn CROSS JOIN grid
          WHERE cum >= (i * n + 19) // 20 GROUP BY 1)
        SELECT CAST(i * 50 AS BIGINT) AS p_permille, ref_q, cur_q,
          cur_q - ref_q AS diff
        FROM rq JOIN cq USING (i)""",

      // Fleiss: three deterministic raters replayed, per-item agreement
      // nano-floored before the item sum, category shares squared
      "q257_fleiss" -> """
        WITH d AS (SELECT doc_id, text,
            len(string_split_regex(trim(lower(text)), '\s+')) AS ntok
          FROM documents),
        votes AS (
          SELECT doc_id AS item,
            CASE WHEN contains(text, 'data') THEN 'pos' ELSE 'neg' END AS cat
          FROM d
          UNION ALL SELECT doc_id,
            CASE WHEN contains(text, 'the') THEN 'pos' ELSE 'neg' END FROM d
          UNION ALL SELECT doc_id,
            CASE WHEN ntok > 40 THEN 'pos' ELSE 'neg' END FROM d),
        cells AS (SELECT item, cat, CAST(count(*) AS BIGINT) AS nij
          FROM votes WHERE item IS NOT NULL AND cat IS NOT NULL
          GROUP BY 1, 2),
        items AS (SELECT item, CAST(sum(nij) AS BIGINT) AS n,
            sum(CAST(nij AS HUGEINT) * CAST(nij AS HUGEINT)) AS sq
          FROM cells GROUP BY 1),
        panel AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
            CAST(min(n) AS BIGINT) AS nmin,
            CAST(max(n) AS BIGINT) AS nmax FROM items),
        pbar AS (SELECT coalesce(sum(CAST(floor(
              (CAST(sq AS DOUBLE) - CAST(n AS DOUBLE)) /
              (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
              * 1.0E9 + 0.5) AS HUGEINT)), 0) AS pn,
            CAST(count(*) AS BIGINT) AS pc
          FROM items CROSS JOIN panel WHERE n = nmax AND nmax > 1),
        tot AS (SELECT CAST(sum(nij) AS BIGINT) AS t FROM cells),
        pe AS (SELECT coalesce(sum(CAST(floor(
              (CAST(cj AS DOUBLE) / CAST(t AS DOUBLE)) *
              (CAST(cj AS DOUBLE) / CAST(t AS DOUBLE)) * 1.0E9 + 0.5)
              AS HUGEINT)), 0) AS pen
          FROM (SELECT cat, CAST(sum(nij) AS BIGINT) AS cj FROM cells
            GROUP BY 1) CROSS JOIN tot),
        r AS (SELECT n_items, nmax, nmin,
            CASE WHEN pc = 0 THEN NULL
              ELSE CAST(pn AS DOUBLE) / 1.0E9 / CAST(pc AS DOUBLE) END
              AS pbarv,
            CAST(pen AS DOUBLE) / 1.0E9 AS pev
          FROM panel CROSS JOIN pbar CROSS JOIN pe)
        SELECT n_items, nmax AS n_raters, (nmin = nmax) AS raters_constant,
          CAST(floor(pbarv * 1000000.0 + 0.5) AS BIGINT) AS pbar_micro,
          CAST(floor(pev * 1000000.0 + 0.5) AS BIGINT) AS pe_micro,
          CAST(floor(CASE WHEN nmin <> nmax OR nmax <= 1 OR pev = 1.0
            THEN NULL ELSE (pbarv - pev) / (1.0 - pev) END
            * 1000000.0 + 0.5) AS BIGINT) AS kappa_micro
        FROM r""",

      // LPA: 2 synchronous rounds unrolled over the undirected
      // buyer-supplier graph — exact votes, (count desc, label) argmax
      "q258_label_prop" -> """
        WITH e0 AS (SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS src,
            CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        e AS (SELECT src AS a, dst AS b FROM e0
          UNION SELECT dst, src FROM e0),
        nodes AS (SELECT DISTINCT a AS node FROM e),
        l0 AS (SELECT node, node AS label FROM nodes),
        v1 AS (SELECT e.a AS node, l0.label, CAST(count(*) AS BIGINT) AS c
          FROM e JOIN l0 ON e.b = l0.node GROUP BY 1, 2),
        a1 AS (SELECT node, label FROM (SELECT node, label,
            ROW_NUMBER() OVER (PARTITION BY node
              ORDER BY c DESC, label) AS rn FROM v1) WHERE rn = 1),
        l1 AS (SELECT nodes.node, coalesce(a1.label, nodes.node) AS label
          FROM nodes LEFT JOIN a1 ON nodes.node = a1.node),
        v2 AS (SELECT e.a AS node, l1.label, CAST(count(*) AS BIGINT) AS c
          FROM e JOIN l1 ON e.b = l1.node GROUP BY 1, 2),
        a2 AS (SELECT node, label FROM (SELECT node, label,
            ROW_NUMBER() OVER (PARTITION BY node
              ORDER BY c DESC, label) AS rn FROM v2) WHERE rn = 1),
        l2 AS (SELECT nodes.node, coalesce(a2.label, nodes.node) AS label
          FROM nodes LEFT JOIN a2 ON nodes.node = a2.node)
        SELECT node, label FROM l2""",

      // Brier + Murphy decomposition: the q222 scorer replay, per-row
      // squared-error nano-floored, bin terms nano-floored over the
      // same DECIMAL(38,12) score sums as q222's conf
      "q251_brier" -> """
        WITH w AS (SELECT * FROM (VALUES ('data', 1.25), ('query', -0.75),
            ('the', 0.5), ('stream', 0.25), ('table', 1.0),
            ('data_query', 2.0), ('the_data', -1.5)) AS w(term, wt)),
        t AS (SELECT doc_id,
            string_split_regex(trim(lower(text)), '\s+') AS toks
          FROM documents),
        d AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 1),
        uni AS (SELECT doc_id, unnest(toks) AS f FROM d),
        bi AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
            i -> toks[i] || '_' || toks[i + 1])) AS f
          FROM d WHERE len(toks) >= 2),
        feats AS (SELECT doc_id, f FROM uni
          UNION ALL SELECT doc_id, f FROM bi),
        sc AS (SELECT feats.doc_id, CAST(count(*) AS BIGINT) AS n_features,
            CAST(SUM(CAST(coalesce(w.wt, 0) AS DECIMAL(38,12))) AS DOUBLE)
              AS sw
          FROM feats LEFT JOIN w ON feats.f = w.term GROUP BY 1),
        scored AS (SELECT doc_id,
            round(1.0 / (1.0 + exp(-(-0.5 + sw / n_features))), 6) AS score
          FROM sc),
        lab AS (SELECT s.doc_id, s.score,
            CASE WHEN contains(doc.text, 'data') THEN 1 ELSE 0 END AS y
          FROM scored s JOIN documents doc ON s.doc_id = doc.doc_id),
        g AS (SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS b,
            CAST(count(*) AS BIGINT) AS nb,
            CAST(sum(y) AS BIGINT) AS pb,
            CAST(sum(CAST(score AS DECIMAL(38,12))) AS DOUBLE) AS ssb,
            sum(CAST(floor((score - y) * (score - y) * 1.0E9 + 0.5)
              AS HUGEINT)) AS sq
          FROM lab GROUP BY 1),
        tot AS (SELECT CAST(sum(nb) AS BIGINT) AS n,
            CAST(sum(pb) AS BIGINT) AS p FROM g),
        terms AS (SELECT nb, sq,
            CAST(floor(CAST(nb AS DOUBLE) *
              ((ssb / CAST(nb AS DOUBLE)) - (CAST(pb AS DOUBLE) / CAST(nb AS DOUBLE))) *
              ((ssb / CAST(nb AS DOUBLE)) - (CAST(pb AS DOUBLE) / CAST(nb AS DOUBLE)))
              * 1.0E9 + 0.5) AS HUGEINT) AS rel,
            CAST(floor(CAST(nb AS DOUBLE) *
              ((CAST(pb AS DOUBLE) / CAST(nb AS DOUBLE)) - (CAST(p AS DOUBLE) / CAST(n AS DOUBLE))) *
              ((CAST(pb AS DOUBLE) / CAST(nb AS DOUBLE)) - (CAST(p AS DOUBLE) / CAST(n AS DOUBLE)))
              * 1.0E9 + 0.5) AS HUGEINT) AS res,
            n, p
          FROM g CROSS JOIN tot)
        SELECT CAST(max(n) AS BIGINT) AS n, CAST(max(p) AS BIGINT) AS n_pos,
          CAST(floor(CAST(sum(sq) AS DOUBLE) / CAST(max(n) AS DOUBLE) + 0.5)
            AS BIGINT) AS brier_nano,
          CAST(floor(CAST(sum(rel) AS DOUBLE) / CAST(max(n) AS DOUBLE) + 0.5)
            AS BIGINT) AS reliability_nano,
          CAST(floor(CAST(sum(res) AS DOUBLE) / CAST(max(n) AS DOUBLE) + 0.5)
            AS BIGINT) AS resolution_nano,
          CAST(max(CAST(floor((CAST(p AS DOUBLE) / CAST(n AS DOUBLE)) *
            (1.0 - (CAST(p AS DOUBLE) / CAST(n AS DOUBLE))) * 1.0E9 + 0.5)
            AS BIGINT)) AS BIGINT) AS uncertainty_nano
        FROM terms""",

      // log-loss: the q222 scorer replay, clamped to the same literals,
      // per-row nats nano-floored before the sum
      "q252_log_loss" -> """
        WITH w AS (SELECT * FROM (VALUES ('data', 1.25), ('query', -0.75),
            ('the', 0.5), ('stream', 0.25), ('table', 1.0),
            ('data_query', 2.0), ('the_data', -1.5)) AS w(term, wt)),
        t AS (SELECT doc_id,
            string_split_regex(trim(lower(text)), '\s+') AS toks
          FROM documents),
        d AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 1),
        uni AS (SELECT doc_id, unnest(toks) AS f FROM d),
        bi AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
            i -> toks[i] || '_' || toks[i + 1])) AS f
          FROM d WHERE len(toks) >= 2),
        feats AS (SELECT doc_id, f FROM uni
          UNION ALL SELECT doc_id, f FROM bi),
        sc AS (SELECT feats.doc_id, CAST(count(*) AS BIGINT) AS n_features,
            CAST(SUM(CAST(coalesce(w.wt, 0) AS DECIMAL(38,12))) AS DOUBLE)
              AS sw
          FROM feats LEFT JOIN w ON feats.f = w.term GROUP BY 1),
        scored AS (SELECT doc_id,
            round(1.0 / (1.0 + exp(-(-0.5 + sw / n_features))), 6) AS score
          FROM sc),
        lab AS (SELECT s.doc_id, s.score,
            CASE WHEN contains(doc.text, 'data') THEN 1 ELSE 0 END AS y
          FROM scored s JOIN documents doc ON s.doc_id = doc.doc_id),
        cl AS (SELECT least(greatest(score, 1e-15), 1.0 - 1e-15) AS p, y
          FROM lab)
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(y) AS BIGINT) AS n_pos,
          CAST(floor(CAST(sum(CAST(floor(-(CAST(y AS DOUBLE) * ln(p) +
              CAST(1 - y AS DOUBLE) * ln(1.0 - p)) * 1.0E9 + 0.5)
              AS HUGEINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) + 0.5)
            AS BIGINT) AS logloss_nano
        FROM cl""",

      // Cohen's kappa: the q221 langid replay, margins x margins chance
      // agreement in HUGEINT, the same (po - pe)/(1 - pe) tree
      "q253_kappa" -> """
        WITH t AS (SELECT doc_id, lang,
          len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              x -> x IN ('the','a'))) AS s0,
          len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              x -> x IN ('query','scan','filter'))) AS s1,
          len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              x -> x IN ('data','table','column'))) AS s2,
          len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              x -> x IN ('stream','batch','window'))) AS s3
          FROM documents),
        preds AS (SELECT doc_id, lang,
          CASE WHEN s0 >= s1 AND s0 >= s2 AND s0 >= s3 AND s0 > 0 THEN 'en'
               WHEN s1 > s0 AND s1 >= s2 AND s1 >= s3 AND s1 > 0 THEN 'query'
               WHEN s2 > s0 AND s2 > s1 AND s2 >= s3 AND s2 > 0 THEN 'data'
               WHEN s3 > s0 AND s3 > s1 AND s3 > s2 AND s3 > 0 THEN 'stream'
               ELSE 'und' END AS predicted
          FROM t WHERE lang IS NOT NULL),
        m AS (SELECT lang AS label, predicted,
            CAST(count(*) AS BIGINT) AS n
          FROM preds GROUP BY 1, 2),
        nt AS (SELECT label AS cls, CAST(sum(n) AS BIGINT) AS r FROM m
          GROUP BY 1),
        np AS (SELECT predicted AS cls, CAST(sum(n) AS BIGINT) AS c FROM m
          GROUP BY 1),
        dg AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS d FROM m
          WHERE label = predicted),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM m),
        pen AS (SELECT coalesce(sum(CAST(nt.r AS HUGEINT) *
            CAST(np.c AS HUGEINT)), 0) AS penum
          FROM nt JOIN np ON nt.cls = np.cls),
        rates AS (SELECT nn,
            CAST(d AS DOUBLE) / CAST(nn AS DOUBLE) AS po,
            CAST(penum AS DOUBLE) /
              (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)) AS pe
          FROM tot CROSS JOIN dg CROSS JOIN pen)
        SELECT nn AS n,
          CAST(floor(po * 1000000.0 + 0.5) AS BIGINT) AS po_micro,
          CAST(floor(pe * 1000000.0 + 0.5) AS BIGINT) AS pe_micro,
          CAST(floor(CASE WHEN pe = 1.0 THEN NULL
            ELSE (po - pe) / (1.0 - pe) END * 1000000.0 + 0.5)
            AS BIGINT) AS kappa_micro
        FROM rates""",

      // chi-square independence + Cramer's V: complete R x C grid from
      // crossed margins (absent cells owe e), HUGEINT margin products,
      // per-cell terms nano-floored, the same sqrt tree
      "q254_chi2_assoc" -> """
        WITH cells AS (SELECT o_orderpriority AS a, o_orderstatus AS b,
            CAST(count(*) AS BIGINT) AS nij
          FROM orders
          WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
          GROUP BY 1, 2),
        ra AS (SELECT a, CAST(sum(nij) AS BIGINT) AS r FROM cells GROUP BY 1),
        cb AS (SELECT b, CAST(sum(nij) AS BIGINT) AS c FROM cells GROUP BY 1),
        tot AS (SELECT CAST(sum(r) AS BIGINT) AS n,
            CAST(count(*) AS BIGINT) AS n_a FROM ra),
        totb AS (SELECT CAST(count(*) AS BIGINT) AS n_b FROM cb),
        grid AS (SELECT ra.r, cb.c, coalesce(cells.nij, 0) AS nij
          FROM ra CROSS JOIN cb
          LEFT JOIN cells ON ra.a = cells.a AND cb.b = cells.b),
        terms AS (SELECT CAST(floor(
            (CAST(nij AS DOUBLE) - e) * (CAST(nij AS DOUBLE) - e) / e
            * 1.0E9 + 0.5) AS HUGEINT) AS t
          FROM (SELECT nij,
              CAST(CAST(r AS HUGEINT) * CAST(c AS HUGEINT) AS DOUBLE) /
                CAST(n AS DOUBLE) AS e
            FROM grid CROSS JOIN tot)),
        -- GLOBAL aggregate (no GROUP BY) + cross join, mirroring the Scala
        -- crossJoin shape: an empty input must still yield ONE row
        -- (n NULL, counts 0, chi2 0) — the impl's r16 contract (ADVICE r16)
        chi AS (SELECT CAST(coalesce(sum(t), 0) AS BIGINT) AS chi2_nano
          FROM terms)
        SELECT n, n_a, n_b, chi2_nano,
          CAST(floor(CASE WHEN least(n_a, n_b) <= 1 THEN NULL
            ELSE sqrt((CAST(chi2_nano AS DOUBLE) / 1.0E9) /
              (CAST(n AS DOUBLE) * (CAST(least(n_a, n_b) AS DOUBLE) - 1.0)))
            END * 1000000.0 + 0.5) AS BIGINT) AS cramers_v_micro
        FROM tot CROSS JOIN totb CROSS JOIN chi""",

      // block-tie AP replay: descending-cut cumulatives, per-block term
      // nano-quantized BEFORE the sum, one division by P at the end
      "q227_avg_precision" -> """
        WITH t AS (SELECT CAST(len(list_filter(
              string_split_regex(trim(lower(text)), '\s+'),
              x -> x IN ('the', 'a'))) AS DOUBLE) AS score,
            (lang = 'en') AS y
          FROM documents),
        f AS (SELECT score, y FROM t
          WHERE score IS NOT NULL AND y IS NOT NULL),
        g AS (SELECT score,
            CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos_at,
            CAST(count(*) AS BIGINT) AS n_at
          FROM f GROUP BY 1),
        c AS (SELECT score, pos_at, n_at,
            CAST(sum(pos_at) OVER w AS BIGINT) AS cum_tp,
            CAST(sum(n_at) OVER w AS BIGINT) AS cum_n
          FROM g WINDOW w AS (ORDER BY score DESC ROWS UNBOUNDED PRECEDING))
        SELECT CAST(sum(pos_at) AS BIGINT) AS n_pos,
          CAST(sum(n_at) - sum(pos_at) AS BIGINT) AS n_neg,
          CAST(floor(CAST(sum(CAST(floor(CAST(pos_at AS DOUBLE) *
              (CAST(cum_tp AS DOUBLE) / CAST(cum_n AS DOUBLE)) *
              1000000000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 1000000000.0 /
            CAST(sum(pos_at) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
            AS ap_micro
        FROM c""",

      // exact covariance replay: same decimal moment sums (double→decimal
      // casts round to nearest in both engines; dyadic doubles can never
      // tie at scale 12, so the tie rule is unreachable), same IEEE tree
      "q233_embed_cov" -> """
        WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings
          WHERE embedding IS NOT NULL),
        idx AS (SELECT unnest(range(64)) AS k),
        p AS (SELECT a.k AS i, b.k AS j, e[a.k + 1] AS xi, e[b.k + 1] AS xj
          FROM v CROSS JOIN idx a CROSS JOIN idx b),
        g AS (SELECT i, j, CAST(count(*) AS BIGINT) AS n,
            sum(CAST(floor(xi * xj * 1.0E12 + 0.5) AS BIGINT)) AS sij,
            sum(CAST(floor(xi * 1.0E12 + 0.5) AS BIGINT)) AS si,
            sum(CAST(floor(xj * 1.0E12 + 0.5) AS BIGINT)) AS sj
          FROM p GROUP BY 1, 2)
        SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, n,
          CAST(floor((CAST(sij AS DOUBLE) / 1.0E12 / CAST(n AS DOUBLE)
            - (CAST(si AS DOUBLE) / 1.0E12 / CAST(n AS DOUBLE))
              * (CAST(sj AS DOUBLE) / 1.0E12 / CAST(n AS DOUBLE)))
            * 1.0E9 + 0.5) AS BIGINT) AS cov_nano
        FROM g""",

      // power iteration unrolled to 8 rounds (the q220/q229 pattern):
      // identical nano-floored in-round sums, identical norm/guard tree
      "q234_dominant_direction" -> {
        val rounds = (1 to 8).map { t =>
          s"""w$t AS (SELECT c.i,
            CAST(sum(CAST(floor(c.cov * v${t - 1}.val * 1.0E9 + 0.5)
              AS BIGINT)) AS DOUBLE) / 1.0E9 AS w
          FROM cov c JOIN v${t - 1} ON c.j = v${t - 1}.i GROUP BY c.i),
        n$t AS (SELECT sqrt(CAST(sum(CAST(floor(w * w * 1.0E9 + 0.5)
            AS BIGINT)) AS DOUBLE) / 1.0E9) AS nrm FROM w$t),
        v$t AS (SELECT i, CASE WHEN nrm = 0 THEN 0.0 ELSE w / nrm END AS val
          FROM w$t CROSS JOIN n$t)"""
        }.mkString(",\n        ")
        s"""
        WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings
          WHERE embedding IS NOT NULL),
        idx AS (SELECT unnest(range(64)) AS k),
        p AS (SELECT a.k AS i, b.k AS j, e[a.k + 1] AS xi, e[b.k + 1] AS xj
          FROM v CROSS JOIN idx a CROSS JOIN idx b),
        g AS (SELECT i, j, CAST(count(*) AS BIGINT) AS n,
            sum(CAST(floor(xi * xj * 1.0E12 + 0.5) AS BIGINT)) AS sij,
            sum(CAST(floor(xi * 1.0E12 + 0.5) AS BIGINT)) AS si,
            sum(CAST(floor(xj * 1.0E12 + 0.5) AS BIGINT)) AS sj
          FROM p GROUP BY 1, 2),
        cov AS (SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
            CAST(sij AS DOUBLE) / 1.0E12 / CAST(n AS DOUBLE)
              - (CAST(si AS DOUBLE) / 1.0E12 / CAST(n AS DOUBLE))
                * (CAST(sj AS DOUBLE) / 1.0E12 / CAST(n AS DOUBLE)) AS cov
          FROM g),
        v0 AS (SELECT unnest(range(64)) AS i, 0.125 AS val),
        $rounds
        SELECT CAST(i AS BIGINT) AS i,
          CAST(floor(val * 1000000.0 + 0.5) AS BIGINT) AS v_micro
        FROM v8"""
      },

      // all-but-the-top: the q234 unroll feeds a list-assembled direction;
      // per row one dot + per dim x − proj·v, micro-quantized
      "q241_debias_embeddings" -> {
        val rounds = (1 to 8).map { t =>
          s"""w$t AS (SELECT c.i,
            CAST(sum(CAST(floor(c.cov * v${t - 1}.val * 1.0E9 + 0.5)
              AS BIGINT)) AS DOUBLE) / 1.0E9 AS w
          FROM cov c JOIN v${t - 1} ON c.j = v${t - 1}.i GROUP BY c.i),
        n$t AS (SELECT sqrt(CAST(sum(CAST(floor(w * w * 1.0E9 + 0.5)
            AS BIGINT)) AS DOUBLE) / 1.0E9) AS nrm FROM w$t),
        v$t AS (SELECT i, CASE WHEN nrm = 0 THEN 0.0 ELSE w / nrm END AS val
          FROM w$t CROSS JOIN n$t)"""
        }.mkString(",\n        ")
        s"""
        WITH ve AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings WHERE embedding IS NOT NULL),
        v AS (SELECT e FROM ve),
        idx AS (SELECT unnest(range(64)) AS k),
        p AS (SELECT a.k AS i, b.k AS j, e[a.k + 1] AS xi, e[b.k + 1] AS xj
          FROM v CROSS JOIN idx a CROSS JOIN idx b),
        g AS (SELECT i, j, CAST(count(*) AS BIGINT) AS n,
            sum(CAST(floor(xi * xj * 1.0E12 + 0.5) AS BIGINT)) AS sij,
            sum(CAST(floor(xi * 1.0E12 + 0.5) AS BIGINT)) AS si,
            sum(CAST(floor(xj * 1.0E12 + 0.5) AS BIGINT)) AS sj
          FROM p GROUP BY 1, 2),
        cov AS (SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
            CAST(sij AS DOUBLE) / 1.0E12 / CAST(n AS DOUBLE)
              - (CAST(si AS DOUBLE) / 1.0E12 / CAST(n AS DOUBLE))
                * (CAST(sj AS DOUBLE) / 1.0E12 / CAST(n AS DOUBLE)) AS cov
          FROM g),
        v0 AS (SELECT unnest(range(64)) AS i, 0.125 AS val),
        $rounds,
        dir AS (SELECT list(val ORDER BY i) AS dv FROM v8),
        pr AS (SELECT vec_id, e, list_dot_product(e, dv) AS proj, dv
          FROM ve CROSS JOIN dir)
        SELECT vec_id, CAST(k AS BIGINT) AS i,
          CAST(floor((e[k + 1] - proj * dv[k + 1]) * 1000000.0 + 0.5)
            AS BIGINT) AS v_micro
        FROM pr CROSS JOIN idx"""
      },

      // Zipf: identical top-200 cut (count desc, token asc), nano-floored
      // lns, HUGEINT moments, the olsTrend discriminant discipline
      "q242_zipf" -> """
        WITH t AS (SELECT unnest(string_split_regex(trim(lower(text)),
            '\s+')) AS tok FROM documents WHERE text IS NOT NULL),
        c AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1),
        top AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS r
          FROM c WHERE n > 0),
        xy AS (SELECT CAST(floor(ln(CAST(r AS DOUBLE)) * 1.0E9 + 0.5)
              AS HUGEINT) AS x,
            CAST(floor(ln(CAST(n AS DOUBLE)) * 1.0E9 + 0.5) AS HUGEINT) AS y
          FROM top WHERE r <= 200),
        m AS (SELECT CAST(count(*) AS BIGINT) AS nf,
            sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
            sum(x * x) AS sxx, sum(y * y) AS syy
          FROM xy)
        SELECT nf AS n_fit,
          CAST(floor(CASE WHEN (nf * sxx - sx * sx) = 0 THEN NULL
            ELSE -(CAST(nf * sxy - sx * sy AS DOUBLE)
              / CAST(nf * sxx - sx * sx AS DOUBLE)) END * 1000000.0 + 0.5)
            AS BIGINT) AS alpha_micro,
          CAST(floor(CASE WHEN (nf * sxx - sx * sx) = 0
              OR (nf * syy - sy * sy) = 0 THEN NULL
            ELSE CAST(nf * sxy - sx * sy AS DOUBLE)
              * CAST(nf * sxy - sx * sy AS DOUBLE)
              / (CAST(nf * sxx - sx * sx AS DOUBLE)
                * CAST(nf * syy - sy * sy AS DOUBLE)) END
            * 1000000.0 + 0.5) AS BIGINT) AS r2_micro
        FROM m""",

      // Gini: rank-weighted exact numerator over source token masses
      "q243_gini_sources" -> """
        WITH m AS (SELECT source, CAST(sum(CASE WHEN len(trim(text)) = 0
              THEN 0 ELSE len(string_split_regex(trim(lower(text)),
                '\s+')) END) AS BIGINT) AS mass
          FROM documents WHERE source IS NOT NULL GROUP BY 1),
        r AS (SELECT mass, ROW_NUMBER() OVER (ORDER BY mass) AS rk
          FROM m WHERE mass IS NOT NULL AND mass >= 0)
        SELECT CAST(count(*) AS BIGINT) AS n_groups,
          CAST(sum(mass) AS BIGINT) AS total,
          CAST(floor(CASE WHEN sum(mass) = 0 THEN NULL
            ELSE CAST(sum((2 * CAST(rk AS HUGEINT) - 1) * mass)
                - count(*) * CAST(sum(mass) AS HUGEINT) AS DOUBLE)
              / (CAST(count(*) AS DOUBLE) * CAST(sum(mass) AS DOUBLE)) END
            * 1000000.0 + 0.5) AS BIGINT) AS gini_micro
        FROM r""",

      // Platt: the q222 scorer replay to score grain, then 8 clipped
      // Newton rounds unrolled — identical clamp literals, identical
      // nano-floored gradient/Hessian sums, identical 2×2 solve tree
      "q246_platt_fit" -> {
        val hi = s"${1.0 - 1e-15}"
        val pEx = s"least(greatest(1.0 / (1.0 + exp(-(r.a * g.s + r.b)))," +
          s" 1e-15), $hi)"
        val rounds = (1 to 8).map { t =>
          s"""sd$t AS (SELECT
            CAST(sum(CAST(floor((P * n - y) * 1.0E9 + 0.5) AS BIGINT))
              AS DOUBLE) / 1.0E9 AS g1,
            CAST(sum(CAST(floor(g.s * (P * n - y) * 1.0E9 + 0.5) AS BIGINT))
              AS DOUBLE) / 1.0E9 AS g2,
            CAST(sum(CAST(floor(n * P * (1.0 - P) * 1.0E9 + 0.5) AS BIGINT))
              AS DOUBLE) / 1.0E9 AS h11,
            CAST(sum(CAST(floor(g.s * (n * P * (1.0 - P)) * 1.0E9 + 0.5)
              AS BIGINT)) AS DOUBLE) / 1.0E9 AS h12,
            CAST(sum(CAST(floor(g.s * g.s * (n * P * (1.0 - P)) * 1.0E9
              + 0.5) AS BIGINT)) AS DOUBLE) / 1.0E9 AS h22
          FROM (SELECT g.s, CAST(g.n AS DOUBLE) AS n, CAST(g.y AS DOUBLE)
              AS y, $pEx AS P
            FROM g CROSS JOIN r${t - 1} r) g),
        r$t AS (SELECT
            CASE WHEN abs(h11 * h22 - h12 * h12) > 1e-12
              THEN a - least(greatest((g2 * h11 - g1 * h12)
                / (h11 * h22 - h12 * h12), -1.0), 1.0)
              ELSE a END AS a,
            CASE WHEN abs(h11 * h22 - h12 * h12) > 1e-12
              THEN b - least(greatest((g1 * h22 - g2 * h12)
                / (h11 * h22 - h12 * h12), -1.0), 1.0)
              ELSE b END AS b
          FROM r${t - 1} CROSS JOIN sd$t)"""
        }.mkString(",\n        ")
        s"""
        WITH w AS (SELECT * FROM (VALUES ('data', 1.25), ('query', -0.75),
            ('the', 0.5), ('stream', 0.25), ('table', 1.0),
            ('data_query', 2.0), ('the_data', -1.5)) AS w(term, wt)),
        t AS (SELECT doc_id,
            string_split_regex(trim(lower(text)), '\\s+') AS toks
          FROM documents),
        d AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 1),
        uni AS (SELECT doc_id, unnest(toks) AS f FROM d),
        bi AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
            i -> toks[i] || '_' || toks[i + 1])) AS f
          FROM d WHERE len(toks) >= 2),
        feats AS (SELECT doc_id, f FROM uni
          UNION ALL SELECT doc_id, f FROM bi),
        sc AS (SELECT feats.doc_id, CAST(count(*) AS BIGINT) AS n_features,
            CAST(SUM(CAST(coalesce(w.wt, 0) AS DECIMAL(38,12))) AS DOUBLE)
              AS sw
          FROM feats LEFT JOIN w ON feats.f = w.term GROUP BY 1),
        scored AS (SELECT doc_id,
            round(1.0 / (1.0 + exp(-(-0.5 + sw / n_features))), 6) AS score
          FROM sc),
        g AS (SELECT s.score AS s, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CASE WHEN contains(doc.text, 'data') THEN 1 ELSE 0
              END) AS BIGINT) AS y
          FROM scored s JOIN documents doc ON s.doc_id = doc.doc_id
          GROUP BY 1),
        r0 AS (SELECT 0.0 AS a, 0.0 AS b),
        $rounds,
        fin AS (SELECT
            CAST(sum(CAST(floor(-(CAST(g.y AS DOUBLE) * ln(P)
              + CAST(g.n - g.y AS DOUBLE) * ln(1.0 - P)) * 1.0E9 + 0.5)
              AS BIGINT)) AS DOUBLE) AS nllsum
          FROM (SELECT g.n, g.y, $pEx AS P FROM g CROSS JOIN r8 r) g)
        SELECT (SELECT CAST(sum(n) AS BIGINT) FROM g) AS n,
          (SELECT CAST(sum(y) AS BIGINT) FROM g) AS n_pos,
          CAST(floor(a * 1000000.0 + 0.5) AS BIGINT) AS a_micro,
          CAST(floor(b * 1000000.0 + 0.5) AS BIGINT) AS b_micro,
          (SELECT CAST(floor(nllsum /
            CAST((SELECT sum(n) FROM g) AS DOUBLE) + 0.5) AS BIGINT)
            FROM fin) AS nll_nano
        FROM r8"""
      },

      // Kaplan–Meier: reverse-cumulative at-risk, nano-floored ln terms,
      // ascending cumulative, absorption flag — exp once per output row
      "q245_kaplan_meier" -> """
        WITH spans AS (SELECT user_id,
            min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS f,
            max(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS l,
            min(CASE WHEN event_type = 'purchase'
              THEN CAST(CAST(ts AS TIMESTAMP) AS DATE) END) AS fp
          FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
          GROUP BY 1),
        subj AS (SELECT
            CAST(CASE WHEN fp IS NOT NULL AND fp - f <= 7 THEN fp - f
              ELSE least(l - f, 7) END AS BIGINT) AS t,
            CASE WHEN fp IS NOT NULL AND fp - f <= 7 THEN 1 ELSE 0 END AS e
          FROM spans),
        byt AS (SELECT t, CAST(count(*) AS BIGINT) AS alln,
            CAST(sum(e) AS BIGINT) AS n_events
          FROM subj GROUP BY 1),
        risky AS (SELECT t, n_events,
            CAST(sum(alln) OVER (ORDER BY t DESC
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
          FROM byt),
        terms AS (SELECT t, n_events, n_risk,
            (n_events = n_risk) AS dd,
            CASE WHEN n_events = n_risk OR n_events = 0 THEN 0
              ELSE CAST(floor(ln(1.0 - CAST(n_events AS DOUBLE)
                / CAST(n_risk AS DOUBLE)) * 1.0E9 + 0.5) AS BIGINT)
            END AS trm
          FROM risky),
        cum AS (SELECT t, n_events, n_risk,
            CAST(sum(trm) OVER w AS BIGINT) AS c,
            max(CASE WHEN dd THEN 1 ELSE 0 END) OVER w = 1 AS anydead
          FROM terms WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING))
        SELECT t, n_risk, n_events,
          CASE WHEN anydead THEN 0
            ELSE CAST(floor(exp(CAST(c AS DOUBLE) / 1.0E9) * 1000000.0
              + 0.5) AS BIGINT) END AS surv_micro
        FROM cum WHERE n_events > 0""",

      // Heaps: first-occurrence ranks, geometric checkpoints + the final
      // count, nano-ln HUGEINT moments — the q242 fit core
      "q244_heaps" -> """
        WITH d AS (SELECT doc_id,
            string_split_regex(trim(lower(text)), '\s+') AS toks
          FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
        r AS (SELECT toks, ROW_NUMBER() OVER (ORDER BY doc_id) AS rk FROM d),
        fs AS (SELECT tok, CAST(min(rk) AS BIGINT) AS first FROM
          (SELECT rk, unnest(toks) AS tok FROM r) GROUP BY 1),
        nd AS (SELECT CAST(max(rk) AS BIGINT) AS n FROM r),
        cps AS (SELECT DISTINCT least(CAST(pow(2.0, k) AS BIGINT), n) AS cp
            FROM nd, unnest(range(1, greatest(CAST(floor(log2(
              CAST(n AS DOUBLE))) AS BIGINT), 1) + 1)) AS t(k)
          UNION SELECT n FROM nd),
        g AS (SELECT cp, CAST(count(*) AS BIGINT) AS v
          FROM fs CROSS JOIN cps WHERE first <= cp GROUP BY 1),
        xy AS (SELECT
            CAST(floor(ln(CAST(cp AS DOUBLE)) * 1.0E9 + 0.5) AS HUGEINT)
              AS x,
            CAST(floor(ln(CAST(v AS DOUBLE)) * 1.0E9 + 0.5) AS HUGEINT)
              AS y
          FROM g),
        m AS (SELECT CAST(count(*) AS BIGINT) AS nf,
            sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
            sum(x * x) AS sxx, sum(y * y) AS syy
          FROM xy)
        SELECT (SELECT n FROM nd) AS n_docs, nf AS n_checkpoints,
          CAST(floor(CASE WHEN (nf * sxx - sx * sx) = 0 THEN NULL
            ELSE CAST(nf * sxy - sx * sy AS DOUBLE)
              / CAST(nf * sxx - sx * sx AS DOUBLE) END
            * 1000000.0 + 0.5) AS BIGINT) AS beta_micro,
          CAST(floor(CASE WHEN (nf * sxx - sx * sx) = 0
              OR (nf * syy - sy * sy) = 0 THEN NULL
            ELSE CAST(nf * sxy - sx * sy AS DOUBLE)
              * CAST(nf * sxy - sx * sy AS DOUBLE)
              / (CAST(nf * sxx - sx * sx AS DOUBLE)
                * CAST(nf * syy - sy * sy AS DOUBLE)) END
            * 1000000.0 + 0.5) AS BIGINT) AS r2_micro
        FROM m""",

      // ACF: HUGEINT moments per (type, lag), exact discriminants, one
      // sqrt·sqrt division — the olsTrend arithmetic discipline
      "q239_acf" -> """
        WITH daily AS (SELECT event_type,
            CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
            CAST(count(*) AS BIGINT) AS n
          FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
          GROUP BY 1, 2),
        lags AS (SELECT unnest(range(1, 8)) AS lag),
        p AS (SELECT a.event_type, l.lag, a.n AS va, b.n AS vb
          FROM daily a CROSS JOIN lags l
          JOIN daily b ON b.event_type = a.event_type
            AND b.day = a.day + CAST(l.lag AS INT)),
        g AS (SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n_pairs,
            sum(CAST(va AS HUGEINT)) AS sa, sum(CAST(vb AS HUGEINT)) AS sb,
            sum(CAST(va AS HUGEINT) * vb) AS sab,
            sum(CAST(va AS HUGEINT) * va) AS saa,
            sum(CAST(vb AS HUGEINT) * vb) AS sbb
          FROM p GROUP BY 1, 2)
        SELECT event_type, lag, n_pairs,
          CAST(floor(CASE WHEN n_pairs < 2
              OR (n_pairs * saa - sa * sa) = 0
              OR (n_pairs * sbb - sb * sb) = 0 THEN NULL
            ELSE CAST(n_pairs * sab - sa * sb AS DOUBLE) /
              (sqrt(CAST(n_pairs * saa - sa * sa AS DOUBLE))
                * sqrt(CAST(n_pairs * sbb - sb * sb AS DOUBLE))) END
            * 1000000.0 + 0.5) AS BIGINT) AS corr_micro
        FROM g""",

      // CCF: the same moment core over two series, lags −5..5
      "q240_ccf_leadlag" -> """
        WITH a AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
            CAST(count(*) AS BIGINT) AS n
          FROM events WHERE event_type = 'click' AND ts IS NOT NULL
          GROUP BY 1),
        b AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
            CAST(count(*) AS BIGINT) AS n
          FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
          GROUP BY 1),
        lags AS (SELECT unnest(range(-5, 6)) AS lag),
        p AS (SELECT l.lag, a.n AS va, b.n AS vb
          FROM a CROSS JOIN lags l
          JOIN b ON b.day = a.day + CAST(l.lag AS INT)),
        g AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
            sum(CAST(va AS HUGEINT)) AS sa, sum(CAST(vb AS HUGEINT)) AS sb,
            sum(CAST(va AS HUGEINT) * vb) AS sab,
            sum(CAST(va AS HUGEINT) * va) AS saa,
            sum(CAST(vb AS HUGEINT) * vb) AS sbb
          FROM p GROUP BY 1)
        SELECT lag, n_pairs,
          CAST(floor(CASE WHEN n_pairs < 2
              OR (n_pairs * saa - sa * sa) = 0
              OR (n_pairs * sbb - sb * sb) = 0 THEN NULL
            ELSE CAST(n_pairs * sab - sa * sb AS DOUBLE) /
              (sqrt(CAST(n_pairs * saa - sa * sa AS DOUBLE))
                * sqrt(CAST(n_pairs * sbb - sb * sb AS DOUBLE))) END
            * 1000000.0 + 0.5) AS BIGINT) AS corr_micro
        FROM g""",

      // ranking metrics: q37's cosine run at k=5, same-label judgments,
      // nano-floored DCG/IDCG terms with ln/ln2 (the inlined-constant
      // log2 — native log2 may differ from ln/ln2 by an ulp)
      "q237_rank_metrics" -> s"""
        WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        q AS (SELECT vec_id AS qid, label AS ql, e AS qe FROM v
          WHERE vec_id < 10),
        scored AS (SELECT q.qid, c.vec_id AS nid,
            list_dot_product(c.e, q.qe) / (sqrt(list_dot_product(c.e, c.e))
              * sqrt(list_dot_product(q.qe, q.qe))) AS s
          FROM v c JOIN q ON c.vec_id <> q.qid),
        knn AS (SELECT qid, nid, rn AS rnk FROM (SELECT qid, nid,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rn
          FROM scored) WHERE rn <= 5),
        rel AS (SELECT q.qid, c.vec_id AS nid FROM v c
          JOIN q ON c.vec_id <> q.qid WHERE c.label = q.ql),
        nrel AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_rel
          FROM rel GROUP BY 1),
        idcg AS (SELECT qid, CAST(sum(CASE WHEN ir <= 5 THEN
              CAST(floor(1.0 / (ln(ir + 1.0) / ${math.log(2.0)})
                * 1.0E9 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS inano
          FROM (SELECT qid, ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY nid) AS ir FROM rel) GROUP BY 1),
        run AS (SELECT k.qid, k.rnk,
            CASE WHEN r.nid IS NOT NULL THEN 1.0 ELSE 0.0 END AS rr
          FROM knn k LEFT JOIN rel r ON k.qid = r.qid AND k.nid = r.nid),
        g AS (SELECT qid,
            CAST(sum(CAST(floor(rr / (ln(rnk + 1.0) / ${math.log(2.0)})
              * 1.0E9 + 0.5) AS BIGINT)) AS BIGINT) AS dnano,
            CAST(sum(CASE WHEN rr > 0 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_hits,
            min(CASE WHEN rr > 0 THEN rnk END) AS fh
          FROM run GROUP BY 1)
        SELECT g.qid AS query_id, coalesce(nrel.n_rel, 0) AS n_rel, n_hits,
          CAST(floor(CASE WHEN fh IS NULL THEN 0.0
            ELSE 1.0 / CAST(fh AS DOUBLE) END * 1000000.0 + 0.5) AS BIGINT)
            AS mrr_micro,
          CAST(floor(CASE WHEN idcg.inano IS NULL OR idcg.inano = 0
            THEN NULL ELSE CAST(g.dnano AS DOUBLE)
              / CAST(idcg.inano AS DOUBLE) END * 1000000.0 + 0.5) AS BIGINT)
            AS ndcg_micro,
          CAST(floor(CAST(n_hits AS DOUBLE) / 5.0 * 1000000.0 + 0.5)
            AS BIGINT) AS p_at_k_micro,
          CAST(floor(CASE WHEN coalesce(nrel.n_rel, 0) = 0 THEN NULL
            ELSE CAST(n_hits AS DOUBLE) / CAST(nrel.n_rel AS DOUBLE) END
            * 1000000.0 + 0.5) AS BIGINT) AS recall_micro
        FROM g LEFT JOIN nrel ON g.qid = nrel.qid
          LEFT JOIN idcg ON g.qid = idcg.qid""",

      // PMI: exact unigram/bigram counts, one ln per pair, raw-PMI cut
      "q238_pmi_collocations" -> """
        WITH t AS (SELECT string_split_regex(trim(lower(text)), '\s+')
            AS toks FROM documents WHERE text IS NOT NULL),
        d AS (SELECT toks FROM t WHERE len(toks) >= 1),
        uni AS (SELECT unnest(toks) AS w FROM d),
        cu AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM uni GROUP BY 1),
        nu AS (SELECT CAST(sum(cw) AS BIGINT) AS n FROM cu),
        bi AS (SELECT
            unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
            unnest(list_transform(range(1, len(toks)), i -> toks[i + 1]))
              AS w2
          FROM d WHERE len(toks) >= 2),
        cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS np
          FROM bi GROUP BY 1, 2),
        nb AS (SELECT CAST(sum(np) AS BIGINT) AS n FROM cb),
        s AS (SELECT cb.w1, cb.w2, cb.np,
            ln((CAST(np AS DOUBLE) / CAST(nb.n AS DOUBLE)) /
              ((CAST(c1.cw AS DOUBLE) / CAST(nu.n AS DOUBLE))
                * (CAST(c2.cw AS DOUBLE) / CAST(nu.n AS DOUBLE)))) AS pmi
          FROM cb JOIN cu c1 ON cb.w1 = c1.w JOIN cu c2 ON cb.w2 = c2.w
          CROSS JOIN nu CROSS JOIN nb
          WHERE cb.np >= 5)
        SELECT w1, w2, np AS n_pair,
          CAST(floor(pmi * 1000000.0 + 0.5) AS BIGINT) AS pmi_micro
        FROM s ORDER BY pmi DESC, w1, w2 LIMIT 20""",

      // variance share: the q234 unroll + Rayleigh/trace nano sums
      "q235_variance_share" -> {
        val rounds = (1 to 8).map { t =>
          s"""w$t AS (SELECT c.i,
            CAST(sum(CAST(floor(c.cov * v${t - 1}.val * 1.0E9 + 0.5)
              AS BIGINT)) AS DOUBLE) / 1.0E9 AS w
          FROM cov c JOIN v${t - 1} ON c.j = v${t - 1}.i GROUP BY c.i),
        n$t AS (SELECT sqrt(CAST(sum(CAST(floor(w * w * 1.0E9 + 0.5)
            AS BIGINT)) AS DOUBLE) / 1.0E9) AS nrm FROM w$t),
        v$t AS (SELECT i, CASE WHEN nrm = 0 THEN 0.0 ELSE w / nrm END AS val
          FROM w$t CROSS JOIN n$t)"""
        }.mkString(",\n        ")
        s"""
        WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings
          WHERE embedding IS NOT NULL),
        idx AS (SELECT unnest(range(64)) AS k),
        p AS (SELECT a.k AS i, b.k AS j, e[a.k + 1] AS xi, e[b.k + 1] AS xj
          FROM v CROSS JOIN idx a CROSS JOIN idx b),
        g AS (SELECT i, j, CAST(count(*) AS BIGINT) AS n,
            sum(CAST(floor(xi * xj * 1.0E12 + 0.5) AS BIGINT)) AS sij,
            sum(CAST(floor(xi * 1.0E12 + 0.5) AS BIGINT)) AS si,
            sum(CAST(floor(xj * 1.0E12 + 0.5) AS BIGINT)) AS sj
          FROM p GROUP BY 1, 2),
        cov AS (SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
            CAST(sij AS DOUBLE) / 1.0E12 / CAST(n AS DOUBLE)
              - (CAST(si AS DOUBLE) / 1.0E12 / CAST(n AS DOUBLE))
                * (CAST(sj AS DOUBLE) / 1.0E12 / CAST(n AS DOUBLE)) AS cov
          FROM g),
        v0 AS (SELECT unnest(range(64)) AS i, 0.125 AS val),
        $rounds,
        lam AS (SELECT CAST(sum(CAST(floor(c.cov * a.val * b.val * 1.0E9
              + 0.5) AS BIGINT)) AS BIGINT) AS l
          FROM cov c JOIN v8 a ON c.i = a.i JOIN v8 b ON c.j = b.i),
        tr AS (SELECT CAST(sum(CAST(floor(cov * 1.0E9 + 0.5) AS BIGINT))
            AS BIGINT) AS t
          FROM cov WHERE i = j)
        SELECT l AS lambda_nano, t AS trace_nano,
          CAST(floor(CASE WHEN t = 0 THEN NULL
            ELSE CAST(l AS DOUBLE) / CAST(t AS DOUBLE) END
            * 1000000.0 + 0.5) AS BIGINT) AS share_micro
        FROM lam CROSS JOIN tr"""
      },

      // rendezvous: the same seeded affine hashes inlined; argmax =
      // ROW_NUMBER over (h DESC, s DESC) — the max-struct tie order
      "q236_rendezvous" -> {
        val perms = MinHashDedup.perms(6, seed = 53).zipWithIndex
        def vals(n: Int) = perms.take(n)
          .map { case ((a, b), s) => s"($s, $a, $b)" }.mkString(", ")
        def arg(n: Int, name: String) =
          s"""$name AS (SELECT doc_id, s FROM (
          SELECT doc_id, s, ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY (ph * a + b) % 1000000007 DESC, s DESC) AS rn
          FROM h CROSS JOIN (VALUES ${vals(n)}) AS p$n(s, a, b)) WHERE rn = 1)"""
        s"""
        WITH h AS (SELECT doc_id,
            ${duckPolyHash("CAST(doc_id AS VARCHAR)")} AS ph FROM documents),
        ${arg(5, "s5")},
        ${arg(6, "s6")}
        SELECT h.doc_id, CAST(s5.s AS BIGINT) AS shard5,
          CAST(s6.s AS BIGINT) AS shard6, (s5.s <> s6.s) AS moved
        FROM h JOIN s5 ON h.doc_id = s5.doc_id
          JOIN s6 ON h.doc_id = s6.doc_id"""
      },

      // mutual kNN: the q37 cosine-ranking replay at k=5, then the
      // reciprocal self-join, each unordered pair once
      "q230_mutual_knn" -> """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        scored AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
            list_dot_product(c.e, q.e) / (sqrt(list_dot_product(c.e, c.e))
              * sqrt(list_dot_product(q.e, q.e))) AS s
          FROM v c JOIN v q ON c.vec_id <> q.vec_id),
        knn AS (SELECT qid, nid FROM (SELECT qid, nid,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rn
          FROM scored) WHERE rn <= 5)
        SELECT a.qid AS id_a, a.nid AS id_b
        FROM knn a JOIN knn b ON a.qid = b.nid AND a.nid = b.qid
        WHERE a.qid < a.nid""",

      // mutual kNN over the LSH tier: the q38 seeded-hyperplane bucket
      // replay generates candidates (self-join, both orientations), exact
      // cosine + per-query top-5 rebuilds the approximate edge table
      // bit-for-bit, then the same reciprocal join as q230
      "q247_mutual_knn_lsh" -> {
        val buckets = (0 until 6).map(t =>
          s"SELECT vec_id, $t AS tbl, ${duckBucket(6, t, 64)} AS bkt FROM v")
          .mkString("\n          UNION ALL ")
        s"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        b AS ($buckets),
        cand AS (SELECT DISTINCT y.vec_id AS qid, x.vec_id AS nid
          FROM b x JOIN b y
            ON x.tbl = y.tbl AND x.bkt = y.bkt AND x.vec_id <> y.vec_id),
        scored AS (SELECT c.qid, c.nid,
            CASE WHEN sqrt(list_dot_product(a.e, a.e)) *
                      sqrt(list_dot_product(q.e, q.e)) = 0 THEN 0
                 ELSE list_dot_product(a.e, q.e) /
                   (sqrt(list_dot_product(a.e, a.e)) *
                    sqrt(list_dot_product(q.e, q.e))) END AS s
          FROM cand c JOIN v a ON a.vec_id = c.nid
                      JOIN v q ON q.vec_id = c.qid),
        knn AS (SELECT qid, nid FROM (SELECT qid, nid,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rn
          FROM scored) WHERE rn <= 5)
        SELECT a.qid AS id_a, a.nid AS id_b
        FROM knn a JOIN knn b ON a.qid = b.nid AND a.nid = b.qid
        WHERE a.qid < a.nid"""
      },

      // Benford replay: identical exact-cents derivation (q179's), string
      // first digit, the same inlined log10 expectation literals
      "q231_benford" -> {
        val pexp = (1 to 9)
          .map(d => s"($d, ${math.log10(1.0 + 1.0 / d)})").mkString(", ")
        s"""
        WITH m AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
          FROM orders),
        obs AS (SELECT CAST(substring(CAST(v AS VARCHAR), 1, 1) AS INT)
              AS digit, CAST(count(*) AS BIGINT) AS n
          FROM m WHERE v > 0 GROUP BY 1),
        grid AS (SELECT * FROM (VALUES $pexp) AS g(digit, p_exp)),
        tot AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS nn FROM obs)
        SELECT g.digit, CAST(coalesce(o.n, 0) AS BIGINT) AS n,
          CAST(floor(CASE WHEN nn = 0 THEN NULL
            ELSE CAST(coalesce(o.n, 0) AS DOUBLE) / CAST(nn AS DOUBLE) END
            * 1000000.0 + 0.5) AS BIGINT) AS p_obs_micro,
          CAST(floor(p_exp * 1000000.0 + 0.5) AS BIGINT) AS p_exp_micro,
          CAST(floor(CASE WHEN nn = 0 THEN NULL ELSE
            (CAST(coalesce(o.n, 0) AS DOUBLE) - CAST(nn AS DOUBLE) * p_exp)
            * (CAST(coalesce(o.n, 0) AS DOUBLE) - CAST(nn AS DOUBLE) * p_exp)
            / (CAST(nn AS DOUBLE) * p_exp) END
            * 1000000.0 + 0.5) AS BIGINT) AS chi_micro
        FROM grid g LEFT JOIN obs o ON g.digit = o.digit CROSS JOIN tot"""
      },

      // vocabulary JSD replay: per-slice token counts, full-outer vocab
      // join, the identical guarded p·ln(p/m)+q·ln(q/m) tree nano-floored
      // per term, halved once
      "q232_jsd_vocab" -> """
        WITH base AS (SELECT doc_id, lang,
            string_split_regex(trim(lower(text)), '\s+') AS toks
          FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
        r AS (SELECT lang, unnest(toks) AS tok FROM base WHERE doc_id % 2 = 0),
        c AS (SELECT lang, unnest(toks) AS tok FROM base WHERE doc_id % 2 = 1),
        rc AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS cr
          FROM r GROUP BY 1, 2),
        cc AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS ccnt
          FROM c GROUP BY 1, 2),
        nr AS (SELECT lang, CAST(sum(cr) AS BIGINT) AS n_ref
          FROM rc GROUP BY 1),
        ncur AS (SELECT lang, CAST(sum(ccnt) AS BIGINT) AS n_cur
          FROM cc GROUP BY 1),
        j AS (SELECT coalesce(rc.lang, cc.lang) AS lang,
            coalesce(cr, 0) AS cr, coalesce(ccnt, 0) AS ccnt
          FROM rc FULL JOIN cc ON rc.lang = cc.lang AND rc.tok = cc.tok),
        probs AS (SELECT j.lang, cr, ccnt, n_ref, n_cur,
            CAST(cr AS DOUBLE) / CAST(n_ref AS DOUBLE) AS p,
            CAST(ccnt AS DOUBLE) / CAST(n_cur AS DOUBLE) AS q
          FROM j JOIN nr ON j.lang = nr.lang JOIN ncur ON j.lang = ncur.lang),
        t AS (SELECT lang, n_ref, n_cur,
            CAST(floor((CASE WHEN cr > 0
                THEN p * ln(p / ((p + q) / 2.0)) ELSE 0.0 END +
              CASE WHEN ccnt > 0
                THEN q * ln(q / ((p + q) / 2.0)) ELSE 0.0 END)
              * 1000000000.0 + 0.5) AS BIGINT) AS tn
          FROM probs)
        SELECT lang, CAST(max(n_ref) AS BIGINT) AS n_ref,
          CAST(max(n_cur) AS BIGINT) AS n_cur,
          CAST(count(*) AS BIGINT) AS n_categories,
          CAST(floor(CAST(sum(tn) AS DOUBLE) / 2.0 + 0.5) AS BIGINT)
            AS jsd_nano
        FROM t GROUP BY 1""",

      // greedy MMR unrolled to k=4 steps (the q220 unroll pattern):
      // identical cosine trees, identical 0.75·rel − 0.25·div ordering
      // expressions (argmax on the PRODUCT, as the engine orders), ties
      // on id; micro-quantized output only
      "q229_mmr_rerank" -> {
        def cos(a: String, b: String) =
          s"CASE WHEN sqrt(list_dot_product($a, $a)) * " +
            s"sqrt(list_dot_product($b, $b)) = 0 THEN 0.0 " +
            s"ELSE list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a))" +
            s" * sqrt(list_dot_product($b, $b))) END"
        val steps = (2 to 4).map { i =>
          val prev = (1 until i).map(j => s"SELECT qid, id FROM s$j")
            .mkString(" UNION ALL ")
          s"""selu$i AS ($prev),
        r$i AS (SELECT c.qid, c.id, c.rel, c.e FROM cand c
          WHERE NOT EXISTS (SELECT 1 FROM selu$i u
            WHERE u.qid = c.qid AND u.id = c.id)),
        d$i AS (SELECT r.qid, r.id, max(${cos("r.e", "sv.e")}) AS dv
          FROM r$i r JOIN (SELECT u.qid, u.id, c.e FROM selu$i u
            JOIN cand c ON u.qid = c.qid AND u.id = c.id) sv
            ON r.qid = sv.qid
          GROUP BY r.qid, r.id),
        s$i AS (SELECT qid, id, mmr FROM (
            SELECT d.qid, d.id, 0.75 * c.rel - 0.25 * d.dv AS mmr,
              ROW_NUMBER() OVER (PARTITION BY d.qid
                ORDER BY 0.75 * c.rel - 0.25 * d.dv DESC, d.id) AS rn
            FROM d$i d JOIN cand c ON d.qid = c.qid AND d.id = c.id)
          WHERE rn = 1)"""
        }.mkString(",\n        ")
        val out = (1 to 4).map(i =>
          s"SELECT qid AS query_id, id, CAST($i AS BIGINT) AS step, " +
            s"CAST(floor(mmr * 1000000.0 + 0.5) AS BIGINT) AS mmr_micro " +
            s"FROM s$i").mkString("\n        UNION ALL ")
        s"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        p AS (SELECT vec_id AS id, e FROM v WHERE vec_id < 40),
        q AS (SELECT vec_id AS qid, e AS qe FROM v
          WHERE vec_id IN (1, 2, 3)),
        cand AS (SELECT q.qid, p.id, ${cos("q.qe", "p.e")} AS rel, p.e
          FROM p JOIN q ON p.id <> q.qid),
        s1 AS (SELECT qid, id, 0.75 * rel AS mmr FROM (
            SELECT qid, id, rel, ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY 0.75 * rel DESC, id) AS rn FROM cand)
          WHERE rn = 1),
        $steps
        $out"""
      },

      // c-TF-IDF replay: exact (class, term) counts, the fixed IEEE score
      // tree (two divisions, one ln, one multiply), raw-double-then-term
      // rank discipline, micro-quantized output
      "q228_ctfidf_keywords" -> """
        WITH tok AS (SELECT lang AS cls,
            unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
          FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
        ntc AS (SELECT cls, term, CAST(count(*) AS BIGINT) AS n_tc
          FROM tok GROUP BY 1, 2),
        nc AS (SELECT cls, CAST(sum(n_tc) AS BIGINT) AS n_c
          FROM ntc GROUP BY 1),
        ft AS (SELECT term, CAST(sum(n_tc) AS BIGINT) AS f_t
          FROM ntc GROUP BY 1),
        a AS (SELECT CAST(sum(n_c) AS BIGINT) AS tot,
            CAST(count(*) AS BIGINT) AS k FROM nc),
        s AS (SELECT ntc.cls, ntc.term,
            (CAST(n_tc AS DOUBLE) / CAST(n_c AS DOUBLE)) *
              ln(1.0 + (CAST(tot AS DOUBLE) / CAST(k AS DOUBLE))
                / CAST(f_t AS DOUBLE)) AS raw
          FROM ntc JOIN nc USING (cls) JOIN ft USING (term) CROSS JOIN a),
        r AS (SELECT cls, term, raw, ROW_NUMBER() OVER (PARTITION BY cls
            ORDER BY raw DESC, term) AS rnk FROM s)
        SELECT cls, term,
          CAST(floor(raw * 1000000.0 + 0.5) AS BIGINT) AS score_micro,
          CAST(rnk AS BIGINT) AS rnk
        FROM r WHERE rnk <= 8""",

      // count–min replay: polyHash per token occurrence, the 4 seeded
      // affine buckets inlined as literals, bucket counts, min-of-rows
      "q226_count_min" -> {
        val perms = Sketches.CountMin.perms(cmDepth).zipWithIndex
        val buildRows = perms.map { case ((a, b), i) =>
          s"SELECT $i AS seed, ((ph * $a + $b) % 1000000007) % $cmWidth" +
            s" AS bucket FROM h"
        }.mkString("\n          UNION ALL ")
        val probeRows = perms.map { case ((a, b), i) =>
          s"SELECT term, $i AS seed, ((ph * $a + $b) % 1000000007) %" +
            s" $cmWidth AS bucket FROM hp"
        }.mkString("\n          UNION ALL ")
        val probeVals = cmProbes.map(t => s"('$t')").mkString(", ")
        s"""
        WITH tok AS (SELECT unnest(string_split_regex(trim(lower(text)),
            '\\s+')) AS tk FROM documents),
        h AS (SELECT ${duckPolyHash("tk")} AS ph FROM tok),
        bk AS ($buildRows),
        sk AS (SELECT seed, bucket, CAST(count(*) AS BIGINT) AS cnt
          FROM bk GROUP BY 1, 2),
        probes AS (SELECT term FROM (VALUES $probeVals) AS p(term)),
        hp AS (SELECT term, ${duckPolyHash("term")} AS ph FROM probes),
        pb AS ($probeRows)
        SELECT term, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est_cnt
        FROM pb LEFT JOIN sk USING (seed, bucket) GROUP BY 1"""
      }
    )
  }

  /** Shared CTEs for the perceptual-hash oracles: payload bytes from the
    * ASCII text, per-cell sums for the 64-cell (aHash) and 65-cell
    * (dHash) grids — the same `floor(c·n/cells)` ranges
    * [[graft.functions.expressions.PerceptualHash]] uses.
    */
  private def duckPhashCtes(from: String,
                            withKeyword: Boolean = true): String =
    (if (withKeyword) "WITH " else "") + s"""by AS (SELECT doc_id AS asset_id,
            list_transform(string_split(text, ''),
              ch -> CAST(ascii(ch) AS BIGINT)) AS b,
            CAST(length(text) AS BIGINT) AS n
          FROM $from WHERE length(text) >= 65),
        g AS (SELECT asset_id, n, list_sum(b) AS tot,
            list_transform(range(0, 64), c -> coalesce(
              list_sum(list_slice(b, (c*n)//64 + 1, ((c+1)*n)//64)), 0)) AS s64,
            list_transform(range(0, 65), c -> coalesce(
              list_sum(list_slice(b, (c*n)//65 + 1, ((c+1)*n)//65)), 0)) AS s65
          FROM by)"""

  private def duckPow2(c: Int): String =
    if (c == 63) "(-9223372036854775807 - 1)" else (1L << c).toString

  /** aHash bit c: `sum_c · n > total · len_c` (exact integers). */
  private def duckAHashBits: String = (0 until 64).map { c =>
    s"(CASE WHEN s64[${c + 1}] * n > tot * " +
      s"((${c + 1}*n)//64 - (${c}*n)//64) THEN ${duckPow2(c)} ELSE 0 END)"
  }.mkString(" + ")

  /** dHash bit c: `sum_{c+1} · len_c > sum_c · len_{c+1}`, over the
    * given s65-list / length column names (q207 replays it per quadrant).
    */
  private def duckDHashBitsOver(s65: String, n: String): String =
    (0 until 64).map { c =>
      val lc = s"((${c + 1}*$n)//65 - (${c}*$n)//65)"
      val lc1 = s"((${c + 2}*$n)//65 - (${c + 1}*$n)//65)"
      s"(CASE WHEN $s65[${c + 2}] * $lc > $s65[${c + 1}] * $lc1 " +
        s"THEN ${duckPow2(c)} ELSE 0 END)"
    }.mkString(" + ")

  private def duckDHashBits: String = duckDHashBitsOver("s65", "n")

  /** DuckDB expression computing
    * [[graft.functions.VectorFunctions.hyperplaneBucket]] bit-identically:
    * the seeded ±1 hyperplanes are regenerated with the SAME RNG stream and
    * inlined as literal arrays (list_dot_product folds left-to-right like the
    * native DotProduct, so the sign decisions agree exactly).
    */
  /** DuckDB expression computing [[graft.ops.Quantize.encode]]'s PQ code
    * array bit-identically: the seeded codebooks are regenerated with the
    * SAME RNG stream and inlined as literal arrays; the argmin key
    * (−2·x·c + c·c) and its left-to-right `list_dot_product` folds mirror
    * the native DotProduct exactly, so the chosen centroid indices agree.
    */
  private def duckPqCode(m: Int, k: Int, subDim: Int, seed: Int): String = {
    val cb = Quantize.seededCodebooks(m, k, subDim, seed)
    (0 until m).map { j =>
      val dl = cb(j).map { c =>
        val lit = c.mkString("[", ",", "]")
        s"(-2 * list_dot_product(list_slice(e, ${j * subDim + 1}, " +
          s"${(j + 1) * subDim}), $lit) + list_dot_product($lit, $lit))"
      }.mkString("[", ", ", "]")
      s"(list_position($dl, list_min($dl)) - 1)"
    }.mkString("[", ", ", "]")
  }

  /** DuckDB expression for [[graft.ops.Quantize.adcTopK]]'s ADC score:
    * per subspace, a CASE over the code picks the centroid and dots it
    * with the query's subvector — the same doubles the engine's per-row
    * LUT produces (it computes all k dots and indexes; each dot is
    * fold-identical, so the selected value matches).
    */
  /** DuckDB expression computing [[graft.ops.Quantize.rotate]]'s `R·v`
    * bit-identically: the seeded orthogonal rotation regenerates with the
    * SAME Gram-Schmidt stream and inlines as literal rows; each output
    * dimension is one `list_dot_product` (left-to-right fold, matching
    * the native DotProduct).
    */
  private def duckRotate(dim: Int, seed: Int, colName: String): String = {
    val r = Quantize.seededRotation(dim, seed)
    r.map(row =>
      s"list_dot_product($colName, ${row.mkString("[", ",", "]")})")
      .mkString("[", ", ", "]")
  }

  /** The q281 corpus slice: the first 24 chars of each doc stay
    * whitespace-segmented ascii; the NEXT 16 chars transliterate (letters
    * only, other chars dropped) into CJK codepoints via a fixed 26-char
    * alphabet — a deterministic, both-engine-replayable way to
    * manufacture UNSEGMENTED runs from the house corpus without
    * synthesizing data.
    */
  private val CjkAlphabet =
    "一二三四五六七八九十百千万上下左右中大小山川日月水火"
  private def cjkMixedDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(
        substring(lower(col("text")), 1, 24), lit(" "),
        translate(
          regexp_replace(substring(lower(col("text")), 25, 16),
            "[^a-z]", ""),
          "abcdefghijklmnopqrstuvwxyz", CjkAlphabet)).as("text"))

  /** [[cjkMixedDocs]] as a DuckDB FROM-clause subquery. */
  private val duckCjkMixedFrom =
    "(SELECT doc_id, substr(lower(text), 1, 24) || ' ' || " +
      "translate(regexp_replace(substr(lower(text), 25, 16), '[^a-z]', " +
      "'', 'g'), 'abcdefghijklmnopqrstuvwxyz', '" + CjkAlphabet +
      "') AS text FROM documents) mixed_docs"

  /** [[graft.functions.TextFunctions.tokensCjkSplit]]'s pre-split text
    * expression in DuckDB (RE2 `\x{…}` ranges; the engine side uses the
    * same BMP blocks as Java ranges).
    */
  private val duckCjkTok =
    "trim(regexp_replace(lower(text), " +
      "'([\\x{3040}-\\x{30ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}" +
      "\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'))"

  private def duckPqScore(m: Int, k: Int, subDim: Int, seed: Int): String = {
    val cb = Quantize.seededCodebooks(m, k, subDim, seed)
    (0 until m).map { j =>
      val arms = cb(j).zipWithIndex.map { case (c, i) =>
        s"WHEN $i THEN list_dot_product(list_slice(qe, ${j * subDim + 1}, " +
          s"${(j + 1) * subDim}), ${c.mkString("[", ",", "]")})"
      }.mkString(" ")
      s"(CASE code[${j + 1}] $arms END)"
    }.mkString(" + ")
  }

  /** DuckDB CTE chain replaying [[graft.ops.Bpe.trainMerges]] for
    * `rounds` unrolled rounds (the q220/q229 unrolled-loop oracle
    * pattern): seg0 = per-word char lists over the house tokens, then per
    * round — freq-weighted adjacent-pair counts, the (count DESC, a, b)
    * argmax as a 1-row CTE, and the greedy non-overlapping merge apply
    * resolved with the SAME window algebra as the engine (runs of
    * consecutive match positions take every other position from the run
    * start; a taken position emits a||b and consumes its right
    * neighbor). Returns the chain WITHOUT the `WITH` keyword; the caller
    * selects from `best1..best$rounds` (the merge table) or
    * `seg$rounds` (the final segmentation). When training goes DRY
    * before round i (best$i empty — every word fully merged), seg$i
    * falls back to seg$(i-1) via the LEFT JOIN ON TRUE (ADVICE r17: a
    * CROSS JOIN emptied every later seg CTE, so seg$rounds-consuming
    * oracles returned zero rows on a low-vocabulary corpus while the
    * engine kept segmenting with the merges it did learn).
    */

  /** q282's full sweep oracle body — shared VERBATIM with q287, whose
    * selection step wraps it as a subquery (the choice must be made
    * over exactly the table the sweep serves, or the two oracles could
    * drift). */
  private lazy val duckSweepSql: String = s"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        q AS (SELECT vec_id AS query_id, e AS qe FROM v
          WHERE vec_id BETWEEN 60 AND 64),
        exact AS MATERIALIZED (SELECT query_id, nn_id FROM (
          SELECT q.query_id, c.vec_id AS nn_id,
            ROW_NUMBER() OVER (PARTITION BY q.query_id
              ORDER BY list_dot_product(q.qe, c.e) DESC, c.vec_id) AS rnk
          FROM v c JOIN q ON c.vec_id <> q.query_id) WHERE rnk <= 5),
        coded AS (SELECT vec_id, ${duckPqCode(4, 8, 16, 7)} AS code FROM v),
        adcs AS (SELECT q.query_id, c.vec_id AS nn_id,
            ${duckPqScore(4, 8, 16, 7)} AS s
          FROM coded c JOIN q ON c.vec_id <> q.query_id),
        adck AS MATERIALIZED (SELECT query_id, nn_id, rnk FROM (
          SELECT query_id, nn_id,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY s DESC, nn_id) AS rnk
          FROM adcs) WHERE rnk <= 15),
        cent AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
        assigned AS MATERIALIZED (SELECT nn_id, c_emb, centroid_id FROM (
          SELECT v.vec_id AS nn_id, v.e AS c_emb, c.cid AS centroid_id,
            ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
              list_dot_product(v.e, v.e) + list_dot_product(c.ce, c.ce)
                - 2.0 * list_dot_product(v.e, c.ce), c.cid) AS rn
          FROM v CROSS JOIN cent c) WHERE rn = 1),
        icoded AS (SELECT nn_id, centroid_id, ${duckPqCode(4, 8, 16, 7)}
            AS code
          FROM (SELECT nn_id, centroid_id, c_emb AS e FROM assigned) t),
        probes AS MATERIALIZED (SELECT query_id, qe, ce, centroid_id,
            ${duckRotate(64, 11, "qe")} AS qeo FROM (
          SELECT q.vec_id AS query_id, q.e AS qe, c.ce AS ce,
            c.cid AS centroid_id,
            ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
              list_dot_product(q.e, q.e) + list_dot_product(c.ce, c.ce)
                - 2.0 * list_dot_product(q.e, c.ce), c.cid) AS pr
          FROM v q CROSS JOIN cent c
          WHERE q.vec_id BETWEEN 60 AND 64) WHERE pr <= 3),
        ivfs AS (SELECT p.query_id, c.nn_id,
            ${duckPqScore(4, 8, 16, 7)} AS s
          FROM icoded c JOIN probes p ON c.centroid_id = p.centroid_id
          WHERE c.nn_id <> p.query_id),
        ivfk AS MATERIALIZED (SELECT query_id, nn_id, rnk FROM (
          SELECT query_id, nn_id,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY s DESC, nn_id) AS rnk
          FROM ivfs) WHERE rnk <= 15),
        resid AS (SELECT a.nn_id, a.centroid_id,
            list_transform(range(1, len(a.c_emb) + 1),
              i -> a.c_emb[i] - c.ce[i]) AS e
          FROM assigned a JOIN cent c ON a.centroid_id = c.cid),
        rcoded AS (SELECT nn_id, centroid_id,
            ${duckPqCode(4, 8, 16, 7)} AS code
          FROM resid),
        ress AS (SELECT p.query_id, c.nn_id,
            list_dot_product(p.qe, p.ce) +
              (${duckPqScore(4, 8, 16, 7)}) AS s
          FROM rcoded c JOIN probes p ON c.centroid_id = p.centroid_id
          WHERE c.nn_id <> p.query_id),
        resk AS MATERIALIZED (SELECT query_id, nn_id, rnk FROM (
          SELECT query_id, nn_id,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY s DESC, nn_id) AS rnk
          FROM ress) WHERE rnk <= 15),
        rre AS (SELECT nn_id, centroid_id,
            ${duckRotate(64, 11, "e")} AS e
          FROM resid),
        ocoded AS (SELECT nn_id, centroid_id,
            ${duckPqCode(4, 8, 16, 7)} AS code
          FROM rre),
        opqs AS (SELECT p.query_id, c.nn_id,
            list_dot_product(p.qraw, p.ce) +
              (${duckPqScore(4, 8, 16, 7)}) AS s
          FROM ocoded c JOIN (SELECT query_id, centroid_id, ce,
            qe AS qraw, qeo AS qe FROM probes) p
            ON c.centroid_id = p.centroid_id
          WHERE c.nn_id <> p.query_id),
        opqk AS MATERIALIZED (SELECT query_id, nn_id, rnk FROM (
          SELECT query_id, nn_id,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY s DESC, nn_id) AS rnk
          FROM opqs) WHERE rnk <= 15),
        b AS (SELECT i, min(e[i+1]) AS mn, max(e[i+1]) AS mx
          FROM v, range(0, 64) t(i) GROUP BY i),
        bl AS (SELECT list(mn ORDER BY i) AS mins,
            list(CASE WHEN mx > mn THEN mx - mn ELSE 0 END ORDER BY i)
              AS spans
          FROM b),
        sqcoded AS (SELECT vec_id,
            list_transform(range(0, 64), i -> CASE WHEN spans[i+1] = 0
              THEN 0 ELSE CAST(least(greatest(
                floor((e[i+1] - mins[i+1]) * 255.0 / spans[i+1] + 0.5),
                0.0), 255.0) AS INTEGER) END) AS code
          FROM v, bl),
        deq AS (SELECT vec_id,
            list_transform(range(0, 64),
              i -> code[i+1] * spans[i+1] / 255.0 + mins[i+1]) AS de
          FROM sqcoded, bl),
        sqs AS (SELECT q.query_id, d.vec_id AS nn_id,
            list_dot_product(q.qe, d.de) AS s
          FROM deq d JOIN q ON d.vec_id <> q.query_id),
        sqk AS MATERIALIZED (SELECT query_id, nn_id, rnk FROM (
          SELECT query_id, nn_id,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY s DESC, nn_id) AS rnk
          FROM sqs) WHERE rnk <= 15),
        adcr AS (SELECT query_id, nn_id FROM (
          SELECT cd.query_id, cd.nn_id,
            ROW_NUMBER() OVER (PARTITION BY cd.query_id
              ORDER BY list_dot_product(qv.e, n.e) DESC, cd.nn_id) AS rnk
          FROM adck cd JOIN v qv ON qv.vec_id = cd.query_id
          JOIN v n ON n.vec_id = cd.nn_id) WHERE rnk <= 5),
        ivfr AS (SELECT query_id, nn_id FROM (
          SELECT cd.query_id, cd.nn_id,
            ROW_NUMBER() OVER (PARTITION BY cd.query_id
              ORDER BY list_dot_product(qv.e, n.e) DESC, cd.nn_id) AS rnk
          FROM ivfk cd JOIN v qv ON qv.vec_id = cd.query_id
          JOIN v n ON n.vec_id = cd.nn_id) WHERE rnk <= 5),
        resr AS (SELECT query_id, nn_id FROM (
          SELECT cd.query_id, cd.nn_id,
            ROW_NUMBER() OVER (PARTITION BY cd.query_id
              ORDER BY list_dot_product(qv.e, n.e) DESC, cd.nn_id) AS rnk
          FROM resk cd JOIN v qv ON qv.vec_id = cd.query_id
          JOIN v n ON n.vec_id = cd.nn_id) WHERE rnk <= 5),
        opqr AS (SELECT query_id, nn_id FROM (
          SELECT cd.query_id, cd.nn_id,
            ROW_NUMBER() OVER (PARTITION BY cd.query_id
              ORDER BY list_dot_product(qv.e, n.e) DESC, cd.nn_id) AS rnk
          FROM opqk cd JOIN v qv ON qv.vec_id = cd.query_id
          JOIN v n ON n.vec_id = cd.nn_id) WHERE rnk <= 5),
        sqr AS (SELECT query_id, nn_id FROM (
          SELECT cd.query_id, cd.nn_id,
            ROW_NUMBER() OVER (PARTITION BY cd.query_id
              ORDER BY list_dot_product(qv.e, n.e) DESC, cd.nn_id) AS rnk
          FROM sqk cd JOIN v qv ON qv.vec_id = cd.query_id
          JOIN v n ON n.vec_id = cd.nn_id) WHERE rnk <= 5),
        nq AS (SELECT CAST(count(*) AS BIGINT) AS n_q FROM q),
        nc AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM v),
        ivfrows AS (SELECT CAST(count(*) AS BIGINT) AS ivf_rows
          FROM assigned WHERE centroid_id IN
            (SELECT DISTINCT centroid_id FROM probes)),
        fa AS (SELECT CAST(count(DISTINCT nn_id) AS BIGINT) AS fr
          FROM adck),
        fi AS (SELECT CAST(count(DISTINCT nn_id) AS BIGINT) AS fr
          FROM ivfk),
        fres AS (SELECT CAST(count(DISTINCT nn_id) AS BIGINT) AS fr
          FROM resk),
        fopq AS (SELECT CAST(count(DISTINCT nn_id) AS BIGINT) AS fr
          FROM opqk),
        fs AS (SELECT CAST(count(DISTINCT nn_id) AS BIGINT) AS fr
          FROM sqk),
        h AS (
          SELECT 'flat_adc' AS rung, CAST(1 AS BIGINT) AS refine,
            (SELECT CAST(count(*) AS BIGINT) FROM adck s
              JOIN exact USING (query_id, nn_id) WHERE s.rnk <= 5) AS hits,
            (SELECT n_corpus * 4 FROM nc) AS code_bytes,
            CAST(0 AS BIGINT) AS float_rows
          UNION ALL
          SELECT 'flat_adc', 3,
            (SELECT CAST(count(*) AS BIGINT) FROM adcr
              JOIN exact USING (query_id, nn_id)),
            (SELECT n_corpus * 4 FROM nc), (SELECT fr FROM fa)
          UNION ALL
          SELECT 'ivfpq', 1,
            (SELECT CAST(count(*) AS BIGINT) FROM ivfk s
              JOIN exact USING (query_id, nn_id) WHERE s.rnk <= 5),
            (SELECT ivf_rows * 4 FROM ivfrows), CAST(0 AS BIGINT)
          UNION ALL
          SELECT 'ivfpq', 3,
            (SELECT CAST(count(*) AS BIGINT) FROM ivfr
              JOIN exact USING (query_id, nn_id)),
            (SELECT ivf_rows * 4 FROM ivfrows), (SELECT fr FROM fi)
          UNION ALL
          SELECT 'ivfpq_res', 1,
            (SELECT CAST(count(*) AS BIGINT) FROM resk s
              JOIN exact USING (query_id, nn_id) WHERE s.rnk <= 5),
            (SELECT ivf_rows * 4 FROM ivfrows), CAST(0 AS BIGINT)
          UNION ALL
          SELECT 'ivfpq_res', 3,
            (SELECT CAST(count(*) AS BIGINT) FROM resr
              JOIN exact USING (query_id, nn_id)),
            (SELECT ivf_rows * 4 FROM ivfrows), (SELECT fr FROM fres)
          UNION ALL
          SELECT 'ivfpq_opq', 1,
            (SELECT CAST(count(*) AS BIGINT) FROM opqk s
              JOIN exact USING (query_id, nn_id) WHERE s.rnk <= 5),
            (SELECT ivf_rows * 4 FROM ivfrows), CAST(0 AS BIGINT)
          UNION ALL
          SELECT 'ivfpq_opq', 3,
            (SELECT CAST(count(*) AS BIGINT) FROM opqr
              JOIN exact USING (query_id, nn_id)),
            (SELECT ivf_rows * 4 FROM ivfrows), (SELECT fr FROM fopq)
          UNION ALL
          SELECT 'sq8', 1,
            (SELECT CAST(count(*) AS BIGINT) FROM sqk s
              JOIN exact USING (query_id, nn_id) WHERE s.rnk <= 5),
            (SELECT n_corpus * 64 FROM nc), CAST(0 AS BIGINT)
          UNION ALL
          SELECT 'sq8', 3,
            (SELECT CAST(count(*) AS BIGINT) FROM sqr
              JOIN exact USING (query_id, nn_id)),
            (SELECT n_corpus * 64 FROM nc), (SELECT fr FROM fs))
        SELECT rung, refine, hits,
          (SELECT n_q * 5 FROM nq) AS n_eval,
          CAST(floor(CAST(hits AS DOUBLE) /
            CAST((SELECT n_q * 5 FROM nq) AS DOUBLE) * 1000000.0 + 0.5)
            AS BIGINT) AS recall_micro,
          code_bytes, float_rows
        FROM h"""

  private def duckBpeCtes(rounds: Int, where: String = "",
                          eow: Boolean = false,
                          from: String = "documents",
                          textExpr: String = "trim(lower(text))"): String = {
    // every multiply-referenced CTE is AS MATERIALIZED: DuckDB inlines
    // CTEs by default, and with each round referencing the previous
    // round's segmentation 2–4 times the inlined plan grows ~4^rounds —
    // the 6-round chain never finishes without materialization
    val chars = "list_transform(range(1, length(word) + 1), " +
      "i -> substr(word, CAST(i AS INTEGER), 1))"
    val syms0 = if (eow) s"list_append($chars, '</w>')" else chars
    val head = s"""
        t AS (SELECT unnest(string_split_regex($textExpr, '\\s+'))
            AS word FROM $from $where),
        wc AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM t
          WHERE word <> '' GROUP BY 1),
        seg0 AS MATERIALIZED (SELECT word, freq, $syms0 AS syms
          FROM wc)"""
    val steps = (1 to rounds).map { i =>
      val p = i - 1
      s"""
        pr$i AS (SELECT freq, syms[p] AS a, syms[p + 1] AS b
          FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS p
            FROM seg$p)),
        best$i AS MATERIALIZED (SELECT a, b, c FROM (SELECT a, b,
            CAST(sum(freq) AS BIGINT) AS c
          FROM pr$i GROUP BY 1, 2 ORDER BY c DESC, a, b LIMIT 1)),
        e$i AS MATERIALIZED (SELECT word, freq, p AS pos, syms[p] AS sym,
            CASE WHEN p < len(syms) THEN syms[p + 1] END AS nxt
          FROM (SELECT word, freq, syms,
              unnest(range(1, len(syms) + 1)) AS p
            FROM seg$p)),
        h$i AS (SELECT e.word, e.pos, e.pos - row_number()
              OVER (PARTITION BY e.word ORDER BY e.pos) AS grp
          FROM e$i e, best$i bb WHERE e.sym = bb.a AND e.nxt = bb.b),
        tk$i AS MATERIALIZED (SELECT word, pos FROM (SELECT word, pos,
            min(pos) OVER (PARTITION BY word, grp) AS st FROM h$i)
          WHERE (pos - st) % 2 = 0),
        seg$i AS MATERIALIZED (SELECT e.word, e.freq,
            list(CASE WHEN tkn.pos IS NOT NULL THEN bb.a || bb.b
              ELSE e.sym END ORDER BY e.pos) AS syms
          FROM e$i e
          LEFT JOIN best$i bb ON TRUE
          LEFT JOIN tk$i tkn ON e.word = tkn.word AND e.pos = tkn.pos
          LEFT JOIN tk$i cns ON e.word = cns.word AND e.pos = cns.pos + 1
          WHERE cns.pos IS NULL
          GROUP BY e.word, e.freq)"""
    }
    (head +: steps).mkString(",")
  }

  /** APPLY-only unrolled rounds: replay `best1..best$rounds` (from a
    * [[duckBpeCtes]] chain in the same WITH) over a DIFFERENT vocabulary
    * — the caller defines `aseg0` (word, syms) and reads `aseg$rounds`.
    * This is the cross-corpus tokenizer-transfer replay: merges learned
    * on one slice, segmentation applied to another (q275).
    */
  private def duckBpeApplyCtes(rounds: Int): String =
    (1 to rounds).map { i =>
      val p = i - 1
      s"""
        ae$i AS MATERIALIZED (SELECT word, p AS pos, syms[p] AS sym,
            CASE WHEN p < len(syms) THEN syms[p + 1] END AS nxt
          FROM (SELECT word, syms, unnest(range(1, len(syms) + 1)) AS p
            FROM aseg$p)),
        ah$i AS (SELECT e.word, e.pos, e.pos - row_number()
              OVER (PARTITION BY e.word ORDER BY e.pos) AS grp
          FROM ae$i e, best$i bb WHERE e.sym = bb.a AND e.nxt = bb.b),
        atk$i AS MATERIALIZED (SELECT word, pos FROM (SELECT word, pos,
            min(pos) OVER (PARTITION BY word, grp) AS st FROM ah$i)
          WHERE (pos - st) % 2 = 0),
        aseg$i AS MATERIALIZED (SELECT e.word,
            list(CASE WHEN tkn.pos IS NOT NULL THEN bb.a || bb.b
              ELSE e.sym END ORDER BY e.pos) AS syms
          FROM ae$i e
          LEFT JOIN best$i bb ON TRUE
          LEFT JOIN atk$i tkn ON e.word = tkn.word AND e.pos = tkn.pos
          LEFT JOIN atk$i cns ON e.word = cns.word AND e.pos = cns.pos + 1
          WHERE cns.pos IS NULL
          GROUP BY e.word)"""
    }.mkString(",")

  private def duckBucket(nBits: Int, seed: Int, dim: Int): String =
    (0 until nBits).map { j =>
      val rnd = new scala.util.Random(seed.toLong * 7919 + j)
      val plane = Seq.fill(dim)(if (rnd.nextBoolean()) "1.0" else "-1.0")
        .mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product(e, $plane) >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  /** The keyed-merge outcome q164 (parse-time lowering, path target) and
    * q202 (catalog-native resolved lowering, named table) both replay —
    * delete id%10, update on src.v > v, insert even fresh keys.
    */
  private def mergeAlgebraOracle: String = """
        WITH base AS (SELECT o_orderkey AS id, o_orderpriority AS pri,
            CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        m AS (SELECT id, v + CASE WHEN id % 2 = 0 THEN 500 ELSE -500 END AS sv
          FROM base WHERE id % 5 = 0),
        survivors AS (SELECT b.pri,
            CASE WHEN m.id IS NOT NULL AND b.id % 10 <> 0 AND m.sv > b.v
              THEN m.sv ELSE b.v END AS v
          FROM base b LEFT JOIN m ON b.id = m.id
          WHERE m.id IS NULL OR b.id % 10 <> 0),
        inserted AS (SELECT pri, v FROM base WHERE id % 9 = 0 AND v % 2 = 0),
        final AS (SELECT pri, v FROM survivors
          UNION ALL SELECT pri, v FROM inserted)
        SELECT pri, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(v) AS BIGINT) AS sum_v
        FROM final GROUP BY 1"""

  /** The direct KMV estimate the whole sketch family replays — q188/q189
    * (event_type, k=64), q42 (event_type, k=128), q135 (day, k=64, via
    * leaf merge). The merged engine paths (q189/q135) compute it VIA
    * leaf-sketch fold — equality with the direct form IS the merge-
    * property check. NULLs excluded on both sides: the engine's sketch
    * skips null hashes (count-DISTINCT semantics).
    */
  private def duckKmv(groupSql: String, groupAlias: String, k: Int): String =
    s"""
        WITH h AS (SELECT DISTINCT $groupSql AS $groupAlias,
            (${duckPolyHash("CAST(user_id AS VARCHAR)")} *
              ${Aggregates.KmvPerm._1} + ${Aggregates.KmvPerm._2})
              % 1000000007 AS ph FROM events WHERE user_id IS NOT NULL),
        s AS (SELECT $groupAlias, list_sort(list(ph)) AS ls,
            CAST(count(*) AS BIGINT) AS nd FROM h GROUP BY 1)
        SELECT $groupAlias,
          CASE WHEN nd < $k THEN CAST(nd AS DOUBLE)
               ELSE round(${k - 1}.0 * 1000000007 / greatest(ls[$k], 1), 4)
          END AS n_distinct_est
        FROM s"""

  private def duckKmvDirect: String = duckKmv("event_type", "event_type", 64)

  /** DuckDB expression computing [[graft.functions.TextFunctions.polyHash]]
    * bit-exactly: the same per-character `h*31 + codepoint (mod P)` fold.
    */
  private def duckPolyHash(c: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(" +
      s"string_split($c, ''), ch -> CAST(ascii(ch) AS BIGINT))), " +
      s"(h, ch) -> (h * 31 + ch) % 1000000007)"

  /** The 16 portable minhash signature components as DuckDB exprs over a
    * hash array column `h` — SAME seeded `(a_i, b_i)` stream as
    * [[graft.ops.MinHashDedup.signaturePortable]], inlined as literals.
    */
  private def duckMinhashSig(k: Int, seed: Int): String =
    MinHashDedup.perms(k, seed).map { case (a, b) =>
      s"list_min(list_transform(h, x -> (x * $a + $b) % 1000000007))"
    }.mkString("[", ", ", "]")

  /** One UNION ALL branch per band: the portable band fold
    * `acc*131 + sig_j (mod P)` mirrored from
    * [[graft.ops.MinHashDedup.bandsPortable]].
    */
  private def duckMinhashBands(b: Int, r: Int, from: String): String =
    (0 until b).map { i =>
      val bh = (i * r until (i + 1) * r).foldLeft("CAST(0 AS BIGINT)")(
        (acc, j) => s"(($acc) * 131 + sig[${j + 1}]) % 1000000007")
      s"SELECT doc_id, $i AS band, $bh AS bh FROM $from"
    }.mkString("\n          UNION ALL ")
}
