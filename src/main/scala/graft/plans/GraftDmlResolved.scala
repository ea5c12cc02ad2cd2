package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualTo, ExprId, Expression, Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{coalesce, lit}
import org.apache.spark.sql.graft.Shim

/** THE lowering of row-level DML: every `MERGE` / `UPDATE` / `DELETE`
  * whose target is a [[GraftTable]] relation lowers HERE, from the fully
  * RESOLVED plan, as a post-hoc resolution rule. The target reaches that
  * shape by either face: the registered catalog's `loadTable`, or
  * [[GraftRead.GraftReadRule]] for a path or warehouse name
  * (`graft.`/p``, `graft.orders`) with no catalog registered.
  *
  * Why post-hoc (not the resolution fixed point): the plan must be DONE
  * resolving — conditions, assignments and star expansions all bound by
  * Spark's own scoping rules — and must be lowered BEFORE CheckAnalysis,
  * which rejects an unrewritten row-level command on a table that exposes
  * no batch scan. The post-hoc batch is exactly that window.
  *
  * What lowering from the resolved plan buys:
  *  - target/source references classify by ExprId, not by textual alias
  *    matching — `t.v`, `v`, `graft.`p`.v` and a struct field that
  *    happens to share an alias name can never be confused;
  *  - ambiguous unqualified references error in Spark's OWN resolution
  *    (`AMBIGUOUS_REFERENCE`);
  *  - `UPDATE SET *` / `INSERT *` arrive pre-expanded against the real
  *    schemas.
  *
  * `MERGE … WITH SCHEMA EVOLUTION` lowers HERE too (since r15): the
  * AUTOMATIC_SCHEMA_EVOLUTION capability stays withheld (Spark's own
  * ResolveMergeIntoSchemaEvolution expands star actions positionally
  * against a schema it assumes appends new columns LAST, which graft's
  * data-before-partition column order breaks), so analysis carries the
  * flag inert and expands `SET *` / `INSERT *` against the PRE-evolution
  * schema; the lowering detects the star shape by name and re-expands it
  * at execution against the live post-evolution schema — name-based, not
  * positional, so the partition column can never mis-wire.
  *
  * The lowering target is the command trio
  * ([[GraftDml.GraftDeleteCommand]]/[[GraftDml.GraftUpdateCommand]]/
  * [[GraftDml.GraftMergeCommand]]) — resolved expressions are re-expressed
  * as name-based trees (target column `v` → `v`, merge-source column `v` →
  * `src_v`, the joined-frame contract `Layout.mergeIntoVersionedRows`
  * documents) and re-resolve at execution time against the live snapshot,
  * exactly like the Scala API's `Column` arguments. Semantics (one clause
  * per kind, first-matching-clause-wins masking, keyed ON conjunctions,
  * identity-only merge INSERT) are the surface contract [[GraftDml]]
  * documents; refusals are loud and name the unsupported shape.
  *
  * Correlated subqueries in conditions refuse loudly (the captured tree
  * re-resolves against the live snapshot, where the outer scope no longer
  * exists).
  */
object GraftDmlResolved {

  /** The DML target through its alias chain: the [[GraftTable]]
    * relation (kept a relation by [[GraftV2Read]]'s write-target
    * protection) and its output attributes.
    */
  private object TargetV2 {
    def unapply(plan: LogicalPlan): Option[(GraftTable, Seq[Attribute])] =
      plan match {
        case SubqueryAlias(_, child) => unapply(child)
        case r: DataSourceV2Relation => r.table match {
          case g: GraftTable => Some((g, r.output))
          case _ => None
        }
        case _ => None
      }
  }

  object GraftDmlResolvedRule extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan match {
      case d @ DeleteFromTable(TargetV2(g, out), cond) if d.resolved =>
        refuseTravel(g, "DELETE")
        GraftDml.GraftDeleteCommand(g.root,
          toNames(cond, byId(out), Map.empty, "DELETE WHERE"))

      case u @ UpdateTable(TargetV2(g, out), assignments, cond)
          if u.resolved =>
        refuseTravel(g, "UPDATE")
        val tgt = byId(out)
        val set = assignments.map(a => keyName(a.key, tgt) ->
          toNames(a.value, tgt, Map.empty, "UPDATE SET")).toMap
        require(set.size == assignments.size,
          "graft SQL UPDATE: duplicate assignment targets")
        GraftDml.GraftUpdateCommand(g.root,
          cond.map(toNames(_, tgt, Map.empty, "UPDATE WHERE"))
            .getOrElse(lit(true)), set)

      case m: MergeIntoTable if m.resolved =>
        m.targetTable match {
          case TargetV2(g, out) => lowerMerge(m, g, out)
          case _ => plan
        }

      case _ => plan
    }
  }

  private def refuseTravel(g: GraftTable, stmt: String): Unit =
    require(g.pinnedVersion.isEmpty && g.pinnedTsMillis.isEmpty,
      s"graft SQL $stmt: cannot write to a time-travel snapshot of " +
        g.name())

  private def byId(out: Seq[Attribute]): Map[ExprId, String] =
    out.map(a => a.exprId -> a.name).toMap

  /** Assignment target → column name. Nested-field assignment refuses
    * (assign the whole column).
    */
  private def keyName(key: Expression, tgt: Map[ExprId, String]): String =
    key match {
      case a: AttributeReference if tgt.contains(a.exprId) => tgt(a.exprId)
      case other => throw new IllegalArgumentException(
        s"graft SQL DML: unsupported assignment target $other — nested-" +
          "field assignment is not supported; assign the whole column")
    }

  /** Re-express a RESOLVED expression as the name-based tree the layout
    * writers re-resolve at execution time: target attrs → plain names,
    * merge-source attrs → `src_`-prefixed names (the joined-frame
    * contract), any OTHER attribute refuses (it references a scope that
    * will not exist at execution). Correlated subqueries refuse for the
    * same reason; self-contained (uncorrelated) subqueries pass through
    * already-resolved and re-analyze fine.
    */
  private def toNames(e: Expression, tgt: Map[ExprId, String],
                      src: Map[ExprId, String], where: String): Column = {
    e.foreach {
      case s: SubqueryExpression if s.isCorrelated =>
        throw new IllegalArgumentException(
          s"graft SQL $where: correlated subqueries are not supported — " +
            "the condition re-resolves against the live snapshot, where " +
            "the outer scope no longer exists")
      case _ => ()
    }
    Shim.column(e.transformUp {
      case a: AttributeReference if src.contains(a.exprId) =>
        UnresolvedAttribute(Seq("src_" + src(a.exprId)))
      case a: AttributeReference if tgt.contains(a.exprId) =>
        UnresolvedAttribute(Seq(tgt(a.exprId)))
      case a: AttributeReference =>
        throw new IllegalArgumentException(
          s"graft SQL $where: reference '${a.name}' binds outside the " +
            "statement's target/source scope")
    })
  }

  /** Source-side-only conversion (merge NOT MATCHED clauses evaluate
    * against the source frame alone): source attrs → plain names, target
    * attrs refuse.
    */
  private def toSourceNames(e: Expression, tgt: Map[ExprId, String],
                            src: Map[ExprId, String], where: String): Column =
    toNames(e.transformUp {
      case a: AttributeReference if tgt.contains(a.exprId) =>
        throw new IllegalArgumentException(
          s"graft SQL MERGE: $where references the target " +
            s"(${tgt(a.exprId)}) — only source columns exist there")
      case other => other
    }, src, Map.empty, where)

  /** Target-side-only conversion (NOT MATCHED BY SOURCE clauses): target
    * attrs → plain names, source attrs refuse.
    */
  private def toTargetNames(e: Expression, tgt: Map[ExprId, String],
                            src: Map[ExprId, String], where: String): Column =
    toNames(e.transformUp {
      case a: AttributeReference if src.contains(a.exprId) =>
        throw new IllegalArgumentException(
          s"graft SQL MERGE: $where references the source " +
            s"(${src(a.exprId)}) — only target columns exist there")
      case other => other
    }, tgt, Map.empty, where)

  /** `ON` → merge keys: a conjunction of resolved `t.k = s.k` equalities
    * on same-named columns (any side order) — the only shape the layout's
    * keyed merge supports. A type-mismatched key arrives cast-wrapped and
    * refuses with the same message.
    */
  private def keysOf(cond: Expression, tgt: Map[ExprId, String],
                     src: Map[ExprId, String]): Seq[String] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def refusal(what: Any): String =
      "graft SQL MERGE: ON must be a conjunction of key equalities " +
        s"(t.k = s.k, same name and type both sides) — the layout merge " +
        s"is keyed; got $what"
    conjuncts(cond).map {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        val pair = (tgt.get(a.exprId), src.get(b.exprId),
          src.get(a.exprId), tgt.get(b.exprId))
        pair match {
          case (Some(tk), Some(sk), _, _) if tk.equalsIgnoreCase(sk) => tk
          case (_, _, Some(sk), Some(tk)) if tk.equalsIgnoreCase(sk) => tk
          case _ => throw new IllegalArgumentException(
            refusal(s"${a.name} = ${b.name}"))
        }
      case other => throw new IllegalArgumentException(refusal(other))
    }
  }

  private def lowerMerge(m: MergeIntoTable, g: GraftTable,
                         out: Seq[Attribute]): LogicalPlan = {
    refuseTravel(g, "MERGE")
    val tgt = byId(out)
    val src = byId(m.sourceTable.output)
    val keys = keysOf(m.mergeCondition, tgt, src)

    def joined(e: Expression, where: String): Column =
      toNames(e, tgt, src, where)

    // one clause per kind + first-matching-clause-wins masking: SQL says
    // the FIRST matching clause wins, but the layout merge evaluates
    // delete-first (Delta's fixed clause order). DELETE-before-UPDATE
    // coincides (the engine updates only !delCond rows); UPDATE-before-
    // DELETE must mask the delete with the update's condition, or every
    // matched row satisfying both clauses would be deleted when SQL says
    // update
    var del: Option[Column] = None
    var upd: Option[(Column, Option[Map[String, Column]])] = None
    var updFirst = false
    m.matchedActions.foreach {
      case DeleteAction(c) =>
        require(del.isEmpty, "graft SQL MERGE: one DELETE clause only")
        updFirst = upd.isDefined
        del = Some(joined(c.getOrElse(Literal.TrueLiteral), "MERGE DELETE"))
      case UpdateAction(c, assigns, _) =>
        require(upd.isEmpty, "graft SQL MERGE: one UPDATE clause only")
        val set = assigns.map(a => keyName(a.key, tgt) ->
          joined(a.value, "MERGE UPDATE SET")).toMap
        // `UPDATE SET *` under WITH SCHEMA EVOLUTION: analysis expanded
        // the star against the PRE-evolution target schema (the evolved
        // columns do not exist yet — the capability is withheld, so
        // Spark's own evolution never fired). A star-shaped SET (every
        // target column ← the same-named source column, possibly behind
        // the coercion casts the analyzer inserts for type-mismatched
        // columns — a cast-wrapped star is still a star, or a widened
        // column would silently lose its evolved values) is converted
        // back to an execution-time star, which GraftMergeCommand
        // re-expands against the LIVE post-evolution schema — evolved
        // columns land with source values on updated rows, the Delta
        // star semantics. An explicit (non-star) SET passes through as
        // written: evolved columns stay NULL on updated rows. CAVEAT,
        // documented: an explicit SET that lists every target column as
        // its same-named source column is textually indistinguishable
        // from the star AFTER resolution (Spark's expansion produces the
        // identical tree), so it gets star semantics too — write derived
        // values or omit a column to opt out.
        def stripCasts(e: Expression): Expression = e match {
          case c: org.apache.spark.sql.catalyst.expressions.Cast =>
            stripCasts(c.child)
          case other => other
        }
        val starShaped = assigns.length == out.length &&
          assigns.forall { a =>
            stripCasts(a.value) match {
              case ar: AttributeReference => src.get(ar.exprId)
                .exists(_.equalsIgnoreCase(keyName(a.key, tgt)))
              case _ => false
            }
          }
        val setOpt =
          if (m.withSchemaEvolution && starShaped) None else Some(set)
        upd = Some((joined(c.getOrElse(Literal.TrueLiteral), "MERGE UPDATE"),
          setOpt))
      case other => throw new IllegalArgumentException(
        s"graft SQL MERGE: unsupported matched action $other")
    }
    if (updFirst) {
      val uc = upd.get._1
      del = del.map(dc => dc && !coalesce(uc, lit(false)))
    }

    val ins: Option[Column] = {
      require(m.notMatchedActions.length <= 1,
        "graft SQL MERGE: one INSERT clause only")
      m.notMatchedActions.headOption.map {
        case InsertAction(c, assigns) =>
          // the layout inserts the SOURCE ROW: only the identity shape
          // (each target column ← the same-named source column, as
          // `INSERT *` expands to) is equivalent; anything else — computed
          // values, literals, cross-wired columns, a cast the analyzer
          // inserted for a type mismatch — refuses rather than silently
          // permuting
          val offending = assigns.filterNot { a =>
            a.value match {
              case ar: AttributeReference => src.get(ar.exprId)
                .exists(_.equalsIgnoreCase(keyName(a.key, tgt)))
              case _ => false
            }
          }
          require(offending.isEmpty,
            "graft SQL MERGE: INSERT must be `INSERT *` (or the identity " +
              "column list, types matching) — the layout inserts the " +
              "source row; compute derived columns in the USING query " +
              s"(offending: ${offending.mkString(", ")})")
          toSourceNames(c.getOrElse(Literal.TrueLiteral), tgt, src,
            "MERGE INSERT")
        case other => throw new IllegalArgumentException(
          s"graft SQL MERGE: unsupported not-matched action $other")
      }
    }

    var bsDel: Option[Column] = None
    var bsUpd: Option[(Column, Option[Map[String, Column]])] = None
    var bsUpdFirst = false
    m.notMatchedBySourceActions.foreach {
      case DeleteAction(c) =>
        require(bsDel.isEmpty,
          "graft SQL MERGE: one NOT MATCHED BY SOURCE DELETE clause only")
        bsUpdFirst = bsUpd.isDefined
        bsDel = Some(toTargetNames(c.getOrElse(Literal.TrueLiteral), tgt,
          src, "NOT MATCHED BY SOURCE DELETE"))
      case UpdateAction(c, assigns, _) =>
        require(bsUpd.isEmpty,
          "graft SQL MERGE: one NOT MATCHED BY SOURCE UPDATE clause only")
        val set = assigns.map(a => keyName(a.key, tgt) ->
          toTargetNames(a.value, tgt, src,
            "NOT MATCHED BY SOURCE UPDATE SET")).toMap
        bsUpd = Some((toTargetNames(c.getOrElse(Literal.TrueLiteral), tgt,
          src, "NOT MATCHED BY SOURCE UPDATE"), Some(set)))
      case other => throw new IllegalArgumentException(
        s"graft SQL MERGE: unsupported not-matched-by-source action $other")
    }
    if (bsUpdFirst) {
      val uc = bsUpd.get._1
      bsDel = bsDel.map(dc => dc && !coalesce(uc, lit(false)))
    }

    // withSchemaEvolution rides through to GraftMergeCommand, whose
    // layout-aware skip-if-present evolution runs at execution (adds each
    // missing source column nullable, source order, before the merge) —
    // see the UpdateAction star re-expansion above for how SET * reaches
    // the evolved columns.
    GraftDml.GraftMergeCommand(g.root, m.sourceTable, keys, del, upd, ins,
      bsDel, bsUpd, m.withSchemaEvolution)
  }
}
