package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import graft.functions.expressions.{DotProduct, EmaScan, HyperplaneBuckets, MisraGries, TopKAgg}

/** SparkSessionExtensions entry point: registers graft's native expressions
  * with the SQL function registry so pure-SQL users get them too:
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions)...
  * // or: spark.sql.extensions=graft.plans.GraftExtensions
  * spark.sql("SELECT dot_product(a.embedding, b.embedding) FROM ...")
  * }}}
  *
  * This is extension tier (b)/(c) of the build guidance: scalar work ships
  * as native expressions (DotProduct — codegen'd, see
  * functions/expressions/DotProduct.scala); whole-operator semantics
  * (as-of join, LSH dedup) are COMPOSED from stock operators
  * (ops/AsOfJoin.scala, ops/MinHashDedup.scala) because Catalyst plans them
  * well — a custom SparkPlan would duplicate exchange/sort machinery for no
  * plan improvement (SURVEY.md §4).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // SQL INSERT [OVERWRITE] INTO `graft.`…``: Spark's own parser
    // produces the plan; this rule lowers it to the Layout append. See
    // GraftDml for the full DML surface contract.
    ext.injectResolutionRule(session => GraftDml.GraftDmlRule(session))
    // plain-SQL READS of graft tables (SELECT … FROM graft.x, VERSION/
    // TIMESTAMP AS OF) resolve to the Layout read plan; a DELETE/UPDATE/
    // MERGE target resolves to the GraftTable relation instead, and an
    // INSERT target stays for the rule above. See GraftRead.
    ext.injectResolutionRule(session => GraftRead.GraftReadRule(session))
    // a GraftTable relation read by a query (the catalog resolved it)
    // substitutes with the same Layout read plan — see GraftV2Read for
    // the exprId-preserving contract and the write-target protection
    // (row-level DML and INSERT targets stay relations).
    ext.injectResolutionRule(session => GraftV2Read.GraftV2ReadRule(session))
    // row-level DML (MERGE/UPDATE/DELETE) on every graft target — path,
    // warehouse name or catalog: lowers from the fully RESOLVED plan in
    // the post-hoc batch — after Spark's scoping and star expansion,
    // before CheckAnalysis rejects the scanless v2 relation. See
    // GraftDmlResolved.
    ext.injectPostHocResolutionRule(_ => GraftDmlResolved.GraftDmlResolvedRule)
    // SQL table-lifecycle DDL (CREATE/DROP TABLE, ALTER TABLE …) lowers
    // at PARSE time inside the delegating parser (ResolveSessionCatalog
    // would claim the identifiers before a resolution rule could — see
    // GraftDdl.lower); the parser also grammars DESCRIBE HISTORY /
    // VACUUM / OPTIMIZE, the three statements Spark's parser lacks.
    ext.injectParser((session, delegate) => new GraftSqlParser(session, delegate))
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    // hyperplane_buckets(vec, nBits, nTables, dim) — knobs must be integer
    // literals (they parameterize the generated plane matrix)
    ext.injectFunction((
      new FunctionIdentifier("hyperplane_buckets"),
      new ExpressionInfo(classOf[HyperplaneBuckets].getName, "hyperplane_buckets"),
      (children: Seq[Expression]) => {
        def intLit(e: Expression, name: String): Int = e match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"hyperplane_buckets: $name must be an integer literal, got $other")
        }
        HyperplaneBuckets(children(0), intLit(children(1), "nBits"),
          intLit(children(2), "nTables"), intLit(children(3), "dim"))
      }))
    // Spark's own bloom sketch pair, which core builds for its AQE runtime-
    // filter rule but never registers for users. Exposed so SQL pipelines
    // can pin an explicit semi-join reduction (ops/BloomPrune is the
    // DataFrame-side wrapper): bloom_filter_agg(xxhash64(k), [items[,bits]])
    // builds the filter, might_contain(<constant/scalar-subquery>, xxhash64(k))
    // probes it.
    ext.injectFunction((
      new FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "bloom_filter_agg"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => new BloomFilterAggregate(c)
        case Seq(c, n) => new BloomFilterAggregate(c, n)
        case Seq(c, n, b) => new BloomFilterAggregate(c, n, b)
        case other => throw new IllegalArgumentException(
          s"bloom_filter_agg takes 1-3 arguments, got ${other.size}")
      }))
    ext.injectFunction((
      new FunctionIdentifier("might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, "might_contain"),
      (children: Seq[Expression]) => BloomFilterMightContain(children(0), children(1))))
    // graft's native aggregates, for pure-SQL pipelines. k/capacity
    // parameterize buffer sizes, so they must be integer literals.
    def intLit(e: Expression, fn: String, name: String): Int = e match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$fn: $name must be an integer literal, got $other")
    }
    ext.injectFunction((
      new FunctionIdentifier("top_k"),
      new ExpressionInfo(classOf[TopKAgg].getName, "top_k"),
      (children: Seq[Expression]) => TopKAgg(children(0), children(1),
        intLit(children(2), "top_k", "k")).toAggregateExpression()))
    // ema_scan(array<double>, alpha) — alpha parameterizes plan-time
    // constants (1−α), so it must be a double literal
    ext.injectFunction((
      new FunctionIdentifier("ema_scan"),
      new ExpressionInfo(classOf[EmaScan].getName, "ema_scan"),
      (children: Seq[Expression]) => EmaScan(children(0), children(1) match {
        case Literal(v: Double, _) => v
        case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
        case other => throw new IllegalArgumentException(
          s"ema_scan: alpha must be a double literal, got $other")
      })))
    ext.injectFunction((
      new FunctionIdentifier("mg_topk"),
      new ExpressionInfo(classOf[MisraGries].getName, "mg_topk"),
      (children: Seq[Expression]) => MisraGries(children(0),
        intLit(children(1), "mg_topk", "capacity")).toAggregateExpression()))
    def dblLit(e: Expression, fn: String, name: String): Double = e match {
      case Literal(v: Double, _) => v
      case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
      case other => throw new IllegalArgumentException(
        s"$fn: $name must be a double literal, got $other")
    }
    // the r14 scan/screen expressions, for pure-SQL pipelines — same
    // literal-parameter contract as ema_scan (knobs parameterize
    // plan-time state)
    ext.injectFunction((
      new FunctionIdentifier("holt_scan"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.HoltScan].getName, "holt_scan"),
      (children: Seq[Expression]) => graft.functions.expressions.HoltScan(
        children(0), dblLit(children(1), "holt_scan", "alpha"),
        dblLit(children(2), "holt_scan", "beta"))))
    ext.injectFunction((
      new FunctionIdentifier("cusum_scan"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.CusumScan].getName, "cusum_scan"),
      (children: Seq[Expression]) =>
        graft.functions.expressions.CusumScan(children(0))))
    ext.injectFunction((
      new FunctionIdentifier("frame_energy"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.FrameEnergy].getName,
        "frame_energy"),
      (children: Seq[Expression]) => graft.functions.expressions.FrameEnergy(
        children(0), intLit(children(1), "frame_energy", "frameLen"))))
    // multi_contains(text, 'p1', 'p2', …) — variadic string-literal
    // patterns (they build the automaton, a plan-time object)
    ext.injectFunction((
      new FunctionIdentifier("multi_contains"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.MultiContains].getName,
        "multi_contains"),
      (children: Seq[Expression]) => {
        require(children.size >= 2,
          "multi_contains takes (text, pattern...), got " + children.size)
        graft.functions.expressions.MultiContains(children.head,
          children.tail.map(e =>
            strLit(Some(e), "multi_contains", "pattern")))
      }))
    ext.injectFunction((
      new FunctionIdentifier("a_hash"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.PerceptualHash].getName, "a_hash"),
      (children: Seq[Expression]) => graft.functions.expressions
        .PerceptualHash(children(0), dMode = false)))
    ext.injectFunction((
      new FunctionIdentifier("d_hash"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.PerceptualHash].getName, "d_hash"),
      (children: Seq[Expression]) => graft.functions.expressions
        .PerceptualHash(children(0), dMode = true)))
    // graft_table('/root'[, version | 'timestamp']) — table-valued access
    // to a versioned layout for pure-SQL
    // pipelines:
    //   SELECT * FROM graft_table('/data/orders')            -- live
    //   SELECT * FROM graft_table('/data/orders', 3)         -- version
    //   SELECT * FROM graft_table('/data/orders',
    //     '2026-08-14 12:00:00')                             -- AS OF time
    // The builder returns the SAME logical plan Layout.readCurrent/
    // readVersion/readAsOf produce, so deletion vectors, column mapping,
    // stats and bloom skipping all apply identically in SQL.
    ext.injectTableFunction((
      new FunctionIdentifier("graft_table"),
      new ExpressionInfo(graft.sources.Layout.getClass.getName, "graft_table"),
      (children: Seq[Expression]) => {
        val root = children.headOption match {
          case Some(Literal(s: org.apache.spark.unsafe.types.UTF8String, _)) =>
            s.toString
          case other => throw new IllegalArgumentException(
            s"graft_table: first argument must be a string literal path, got $other")
        }
        val spark = org.apache.spark.sql.SparkSession.active
        val rootR = GraftPaths.resolve(spark, root)
        val df = children match {
          case Seq(_) => graft.sources.Layout.readCurrent(spark, rootR)
          // typed DATE/TIMESTAMP literals are AS OF, never versions — a
          // DateType literal stores days-since-epoch as Int and would
          // otherwise be silently read as "version 20678" (review fix)
          case Seq(_, Literal(days: Int, org.apache.spark.sql.types.DateType)) =>
            val zone = java.time.ZoneId.of(
              spark.sessionState.conf.sessionLocalTimeZone)
            graft.sources.Layout.readAsOf(spark, rootR,
              java.time.LocalDate.ofEpochDay(days.toLong).atStartOfDay(zone)
                .toInstant.toEpochMilli)
          case Seq(_, Literal(us: Long, org.apache.spark.sql.types.TimestampType)) =>
            graft.sources.Layout.readAsOf(spark, rootR,
              Math.floorDiv(us, 1000L))
          case Seq(_, Literal(ts: org.apache.spark.unsafe.types.UTF8String, _)) =>
            // wall-clock AS OF (S37's SQL face): the string is read in the
            // SESSION time zone (not the JVM default — the driver sessions
            // pin UTC) → the newest version committed at or before it
            graft.sources.Layout.readAsOf(spark, rootR,
              graft.util.WallClock.millis(ts.toString,
                graft.util.WallClock.sessionZone(spark)))
          case Seq(_, v) => graft.sources.Layout.readVersion(spark, rootR,
            intLit(v, "graft_table", "version"))
          case other => throw new IllegalArgumentException(
            s"graft_table takes 1-2 arguments, got ${other.size}")
        }
        df.queryExecution.logical
      }))
    // graft_history('/root') — the operation ledger as a table, and
    // graft_vacuum_plan('/root'[, keep]) — what a vacuum WOULD delete:
    // the observability trio (with graft_table) that makes the layout
    // inspectable from pure SQL without a Scala entry point.
    ext.injectTableFunction((
      new FunctionIdentifier("graft_history"),
      new ExpressionInfo(graft.sources.Layout.getClass.getName, "graft_history"),
      (children: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        graft.sources.Layout.history(spark, GraftPaths.resolve(spark,
          strLit(children.headOption, "graft_history", "root")))
          .queryExecution.logical
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("graft_vacuum_plan"),
      new ExpressionInfo(graft.sources.Layout.getClass.getName, "graft_vacuum_plan"),
      (children: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val root = strLit(children.headOption, "graft_vacuum_plan", "root")
        val keep = children match {
          case Seq(_) => 2
          case Seq(_, k) => intLit(k, "graft_vacuum_plan", "keep")
          case other => throw new IllegalArgumentException(
            s"graft_vacuum_plan takes 1-2 arguments, got ${other.size}")
        }
        graft.sources.Layout.vacuumPlan(spark,
          GraftPaths.resolve(spark, root), keep)
          .queryExecution.logical
      }))
    // graft_tables() — the WAREHOUSE listing (by-name observability):
    // one row per name under spark.graft.warehouse, with its resolved
    // location and whether it is an external-LOCATION redirect. Driver
    // metadata (one directory listing), never a data scan.
    ext.injectTableFunction((
      new FunctionIdentifier("graft_tables"),
      new ExpressionInfo(GraftPaths.getClass.getName, "graft_tables"),
      (children: Seq[Expression]) => {
        require(children.isEmpty, "graft_tables takes no arguments")
        val spark = org.apache.spark.sql.SparkSession.active
        GraftPaths.listTables(spark).queryExecution.logical
      }))
    // graft_changes('/root', from, to, 'k1[,k2,…]') — the change data feed
    // between two committed versions as a table (insert / delete /
    // update_pre / update_post rows keyed by the given row identity):
    //   SELECT _change_type, count(*) FROM
    //     graft_changes('/data/orders', 0, 2, 'id') GROUP BY 1
    // Completes the pure-SQL observability surface: state (graft_table),
    // history (graft_history), pending deletion (graft_vacuum_plan), and
    // now the delta between any two snapshots — same leaf-identity pruning
    // as the Scala API (the plan IS Layout.changeFeed's).
    ext.injectTableFunction((
      new FunctionIdentifier("graft_changes"),
      new ExpressionInfo(graft.sources.Layout.getClass.getName, "graft_changes"),
      (children: Seq[Expression]) => {
        require(children.size == 4,
          s"graft_changes takes (root, from, to, keys), got ${children.size} args")
        val spark = org.apache.spark.sql.SparkSession.active
        val root = strLit(children.headOption, "graft_changes", "root")
        val keys = strLit(Some(children(3)), "graft_changes", "keys")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(keys.nonEmpty, "graft_changes: empty key list")
        graft.sources.Layout.changeFeed(spark,
          GraftPaths.resolve(spark, root),
          intLit(children(1), "graft_changes", "from"),
          intLit(children(2), "graft_changes", "to"), keys)
          .queryExecution.logical
      }))
    injectAnalytics(ext)
  }

  /** Analytics TVFs — SQL faces for the high-traffic evaluation / drift /
    * concentration / survival operators (r16, the r15 verdict's item 5).
    * Each takes TABLE NAMES as string literals (temp views or catalog
    * tables, resolved through the session catalog at plan-build time) plus
    * column-name literals, and returns the EXACT logical plan the Scala
    * surface builds — one arithmetic tree, two entry points, so the SQL
    * face can never drift from the oracled Scala face:
    *
    *   SELECT * FROM graft_roc_auc('scored', 'score', 'label')
    *   SELECT * FROM graft_calibration('scored', 'score', 'label', 10)
    *   SELECT * FROM graft_drift_psi('ref', 'cur', 'k1,k2', 'v', 10)
    *   SELECT * FROM graft_drift_ks('ref', 'cur', '', 'v')
    *   SELECT * FROM graft_drift_js('ref', 'cur', 'lang', 'tok')
    *   SELECT * FROM graft_kaplan_meier('cohort', 'dur', 'event')
    *   SELECT * FROM graft_gini('grouped', 'measure')
    *
    * Key lists follow the graft_changes comma convention; an EMPTY key
    * string means ungrouped (one global row).
    */
  private def injectAnalytics(ext: SparkSessionExtensions): Unit = {
    def table(name: String): org.apache.spark.sql.DataFrame =
      org.apache.spark.sql.SparkSession.active.table(name)
    def keysOf(s: String): Seq[String] =
      s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    def tvf(name: String, arity: Range)(
        build: Seq[String] => org.apache.spark.sql.DataFrame): Unit =
      ext.injectTableFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(graft.ops.Eval.getClass.getName, name),
        (children: Seq[Expression]) => {
          require(arity.contains(children.size),
            s"$name takes ${arity.min}-${arity.max} arguments, " +
              s"got ${children.size}")
          // trailing INT knobs pass through as literal strings too
          val args = children.zipWithIndex.map {
            case (Literal(s: org.apache.spark.unsafe.types.UTF8String, _), _) =>
              s.toString
            case (Literal(i: Int, org.apache.spark.sql.types.IntegerType), _) =>
              i.toString
            case (other, i) => throw new IllegalArgumentException(
              s"$name: argument ${i + 1} must be a string or int literal, " +
                s"got $other")
          }
          build(args).queryExecution.logical
        }))
    tvf("graft_roc_auc", 3 to 3) { a =>
      graft.ops.Eval.rocAuc(table(a(0)), a(1), a(2)) }
    tvf("graft_roc_curve", 3 to 3) { a =>
      graft.ops.Eval.rocCurve(table(a(0)), a(1), a(2)) }
    tvf("graft_calibration", 3 to 4) { a =>
      graft.ops.Eval.calibration(table(a(0)), a(1), a(2),
        if (a.size > 3) a(3).toInt else 10) }
    tvf("graft_drift_psi", 4 to 5) { a =>
      graft.ops.Drift.psiDrift(table(a(0)), table(a(1)), keysOf(a(2)), a(3),
        if (a.size > 4) a(4).toInt else 10) }
    tvf("graft_drift_ks", 4 to 4) { a =>
      graft.ops.Drift.ksDrift(table(a(0)), table(a(1)), keysOf(a(2)), a(3)) }
    tvf("graft_drift_js", 4 to 4) { a =>
      graft.ops.Drift.jsDrift(table(a(0)), table(a(1)), keysOf(a(2)), a(3)) }
    tvf("graft_kaplan_meier", 3 to 3) { a =>
      graft.ops.Survival.kaplanMeier(table(a(0)), a(1), a(2)) }
    tvf("graft_gini", 2 to 2) { a =>
      graft.ops.Frequency.gini(table(a(0)), a(1)) }
    tvf("graft_pr_curve", 3 to 3) { a =>
      graft.ops.Eval.prCurve(table(a(0)), a(1), a(2)) }
    tvf("graft_log_loss", 3 to 3) { a =>
      graft.ops.Eval.logLoss(table(a(0)), a(1), a(2)) }
    tvf("graft_brier", 3 to 4) { a =>
      graft.ops.Eval.brierDecomposition(table(a(0)), a(1), a(2),
        if (a.size > 3) a(3).toInt else 10) }
    tvf("graft_cohen_kappa", 3 to 3) { a =>
      graft.ops.Eval.cohenKappa(table(a(0)), a(1), a(2)) }
    tvf("graft_fleiss_kappa", 3 to 3) { a =>
      graft.ops.Eval.fleissKappa(table(a(0)), a(1), a(2)) }
    tvf("graft_chi2_assoc", 3 to 3) { a =>
      graft.ops.Audit.chiSquareAssociation(table(a(0)), a(1), a(2)) }
    tvf("graft_u_test", 4 to 4) { a =>
      graft.ops.Drift.uTest(table(a(0)), table(a(1)), keysOf(a(2)), a(3)) }
    tvf("graft_qq", 3 to 4) { a =>
      graft.ops.Drift.qqCompare(table(a(0)), table(a(1)), a(2),
        if (a.size > 3) a(3).toInt else 20) }
    tvf("graft_anova_f", 4 to 4) { a =>
      graft.ops.Experiments.anovaF(table(a(0)), keysOf(a(1)), a(2), a(3)) }
    tvf("graft_kruskal_wallis", 4 to 4) { a =>
      graft.ops.Experiments.kruskalWallis(table(a(0)), keysOf(a(1)),
        a(2), a(3)) }
    tvf("graft_wasserstein", 4 to 4) { a =>
      graft.ops.Drift.wasserstein1(table(a(0)), table(a(1)),
        keysOf(a(2)), a(3)) }
    tvf("graft_bleu", 4 to 5) { a =>
      graft.ops.GenMetrics.bleu(table(a(0)), a(1), a(2), a(3),
        if (a.size > 4) a(4).toInt else 4) }
    tvf("graft_rouge", 5 to 5) { a =>
      graft.ops.GenMetrics.rougeN(table(a(0)), a(1), a(2), a(3),
        a(4).toInt) }
    tvf("graft_chrf", 4 to 5) { a =>
      graft.ops.GenMetrics.chrF(table(a(0)), a(1), a(2), a(3),
        if (a.size > 4) a(4).toInt else 6) }
    // event-analytics family (r17, the r16 verdict's item 8): sessionize /
    // funnel / retention / growth accounting get the same pure-SQL faces —
    // step lists ride the comma convention, gap/within/periods are int
    // literals
    tvf("graft_sessionize", 4 to 4) { a =>
      graft.ops.Sessionize.sessionStats(table(a(0)), a(1), a(2),
        a(3).toLong) }
    tvf("graft_funnel", 5 to 6) { a =>
      graft.ops.Funnels.funnel(table(a(0)), a(1), a(2), a(3), keysOf(a(4)),
        if (a.size > 5) Some(a(5).toLong) else None) }
    tvf("graft_funnel_latency", 5 to 6) { a =>
      graft.ops.Funnels.funnelLatency(table(a(0)), a(1), a(2), a(3),
        keysOf(a(4)), if (a.size > 5) Some(a(5).toLong) else None) }
    tvf("graft_retention", 3 to 4) { a =>
      graft.ops.Funnels.cohortRetention(table(a(0)), a(1), a(2),
        if (a.size > 3) a(3) else "week") }
    tvf("graft_growth", 3 to 4) { a =>
      graft.ops.Funnels.growthAccounting(table(a(0)), a(1), a(2),
        if (a.size > 3) a(3) else "week") }
    // tokenizer application from SQL: counts per doc under the merge
    // table stored at the given artifact root (the versioned-tokenizer
    // contract — the root pins WHICH tokenizer budgeted these numbers)
    tvf("graft_bpe_tokens", 4 to 4) { a =>
      val spark = org.apache.spark.sql.SparkSession.active
      graft.ops.Bpe.bpeTokenCounts(table(a(0)), a(1), a(2),
        graft.ops.Bpe.loadMerges(spark, GraftPaths.resolve(spark, a(3)))) }
    // model-ready id sequences from SQL (r18): the doc's ordered
    // (pos, token_id) stream under the merge table stored at the given
    // root — the same versioned-tokenizer contract as graft_bpe_tokens.
    // The optional 5th argument is a PUBLISHED vocabulary root: ids then
    // come from that pinned artifact (stable across corpora/retrains),
    // with out-of-vocabulary symbols as Bpe.UnkId instead of per-call
    // corpus-local ids
    tvf("graft_bpe_ids", 4 to 5) { a =>
      val spark = org.apache.spark.sql.SparkSession.active
      val merges =
        graft.ops.Bpe.loadMerges(spark, GraftPaths.resolve(spark, a(3)))
      if (a.size == 4) graft.ops.Bpe.encodeIds(table(a(0)), a(1), a(2),
        merges)
      else graft.ops.Bpe.encodeIdsWith(table(a(0)), a(1), a(2), merges,
        graft.ops.Bpe.loadVocab(spark, GraftPaths.resolve(spark, a(4)))) }
  }

  private def strLit(e: Option[Expression], fn: String, arg: String): String =
    e match {
      case Some(Literal(s: org.apache.spark.unsafe.types.UTF8String, _)) =>
        s.toString
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be a string literal path, got $other")
    }
}
