package graft.plans

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types.StringType

import graft.sources.{Layout, ManifestIndex}

/** SQL DML statements against graft versioned tables — the write-side twin
  * of the `graft_table`/`graft_changes` read TVFs. The reference's load
  * step IS SQL DML (`loading.py:159-169` pushes MERGE-shaped upsert SQL
  * into PostgreSQL); a SQL-first user of this engine expects the same
  * against the lakehouse layout:
  *
  * {{{
  * DELETE FROM graft.`/data/orders` WHERE o_status = 'X'
  * UPDATE graft.`/data/orders` SET price = price * 2 WHERE id % 10 = 0
  * INSERT INTO graft.`/data/orders` SELECT ... -- positional; BY NAME works
  * MERGE INTO graft.`/data/orders` AS t USING updates AS s
  *   ON t.id = s.id
  *   WHEN MATCHED AND s.op = 'D' THEN DELETE
  *   WHEN MATCHED THEN UPDATE SET v = s.v
  *   WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT *
  * }}}
  *
  * MERGE keeps SQL's first-matching-clause-wins semantics regardless of
  * how the user orders the matched clauses: the layout merge is
  * delete-first, so an UPDATE written before a DELETE masks the delete
  * condition with its own (a matched row both clauses accept updates, as
  * SQL requires).
  *
  * Spark-first design: NO parser is injected. Spark's own parser already
  * produces `DeleteFromTable` / `UpdateTable` / `MergeIntoTable` plans for
  * these statements; the target `graft.`…`` parses as an
  * `UnresolvedRelation(["graft", path])` that no catalog claims. A
  * resolution rule ([[GraftDmlRule]], injected by
  * [[GraftExtensions]]) recognizes that shape and lowers the plan to a
  * [[LeafRunnableCommand]] invoking the SAME Layout writers the Scala API
  * uses — `deleteVersionedRows` / `updateVersionedRows` /
  * `mergeIntoVersionedRows` — so SQL and Scala writes share one
  * implementation: deletion vectors, CHECK constraints, OCC retry, txn
  * idempotence, stats and change feeds behave identically. (The
  * alternative — a DSv2 catalog with SupportsRowLevelOperations — would
  * re-implement merge-on-read planning Spark-side for no behavioral gain
  * at this surface; Delta ships the command-lowering shape too.)
  *
  * Conditions and assignments are captured as UNRESOLVED column trees and
  * resolved at execution time against the live snapshot/source DataFrames
  * (by-name, exactly like the Scala API's `Column` arguments) — the rule
  * only rewrites QUALIFIERS: in MERGE clauses the target alias drops
  * (target columns are plain in the joined shape) and the source alias
  * becomes the `src_` prefix `mergeIntoVersionedRows` documents; in the
  * NOT MATCHED clause source columns are plain (evaluated against the
  * source frame itself).
  *
  * Surface limits (each refused loudly, never silently misread):
  * `MERGE … ON` must be a conjunction of `t.k = s.k` equalities (the
  * layout's merge is keyed); merge inserts are `INSERT *` (or the
  * trivially equivalent full-identity column list); static `PARTITION`
  * clauses are not supported (`INSERT OVERWRITE` replaces the WHOLE
  * table — per-partition overwrite would need a spec clause). `MERGE … WITH
  * SCHEMA EVOLUTION` adds every source column the table lacks before
  * merging (nullable, metadata-only ADD COLUMN commits) — note it
  * therefore consumes the extra-column channel: op codes that normally
  * ride along as clause inputs would land in the table; drop them in
  * the USING query when evolving. UNCORRELATED subqueries in DML
  * conditions and SET values (`WHERE id IN (SELECT …)`, scalar
  * subqueries, `EXISTS`) resolve at run time like any other captured
  * expression — the condition analyzes against the live snapshot with
  * the session catalog in scope; CORRELATED subqueries referencing the
  * target alias fail loudly at resolution (the alias does not exist in
  * the run-time frame).
  */
object GraftDml {
  private[plans] val Namespace = "graft"

  /** Whether this session runs with the DSv2 [[GraftCatalog]] registered
    * (`spark.sql.catalog.graft`). In catalog mode Spark's own resolution
    * owns the `graft.` namespace for DDL/reads/INSERT, so the parse-time
    * DDL lowering steps aside and DML lowers from the resolved plan
    * ([[GraftDmlResolved]]) instead of this file's unresolved capture —
    * see [[GraftCatalog]]'s division of labor.
    */
  private[plans] def catalogMode(
      spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.conf.getOption(s"spark.sql.catalog.$Namespace").isDefined

  /** Match `graft.`path`` targets through an optional alias, yielding
    * (root path, lower-cased alias qualifiers).
    */
  private object Target {
    def unapply(plan: LogicalPlan): Option[(String, Set[String])] = plan match {
      case SubqueryAlias(id, child) =>
        unapply(child).map { case (root, qs) => (root, qs + id.name.toLowerCase) }
      case r: UnresolvedRelation
          if r.multipartIdentifier.length == 2 &&
            r.multipartIdentifier.head.equalsIgnoreCase(Namespace) =>
        Some((r.multipartIdentifier(1), Set.empty))
      case _ => None
    }
  }

  /** Qualifiers a clause expression may use for the SOURCE side: every
    * alias wrapped around the source root, or the bare table name.
    */
  private def sourceQuals(plan: LogicalPlan): Set[String] = plan match {
    case SubqueryAlias(id, child) => sourceQuals(child) + id.name.toLowerCase
    case r: UnresolvedRelation => Set(r.multipartIdentifier.last.toLowerCase)
    case _ => Set.empty
  }

  /** Rewrite qualified refs for the JOINED merge shape: source-qualified
    * `s.v` → `src_v`, target-qualified `t.v` → `v`. Unqualified names pass
    * through (they resolve against the joined frame, where target columns
    * are plain — the SQL-standard reading for a target ref; an unqualified
    * SOURCE ref fails loudly at resolution, as it must, since `src_`
    * prefixing is how the join disambiguates).
    */
  private def toJoined(e: Expression, tgt: Set[String], src: Set[String]): Expression =
    e.transformUp {
      case a: UnresolvedAttribute if a.nameParts.length >= 2 &&
          src.contains(a.nameParts.head.toLowerCase) =>
        UnresolvedAttribute(("src_" + a.nameParts(1)) +: a.nameParts.drop(2))
      case a: UnresolvedAttribute if a.nameParts.length >= 2 &&
          tgt.contains(a.nameParts.head.toLowerCase) =>
        UnresolvedAttribute(a.nameParts.tail)
    }

  /** Rewrite refs for clauses evaluated against the TARGET side alone
    * (NOT MATCHED BY SOURCE): target qualifier drops; source refs are
    * illegal there (no source row exists for those target rows) and
    * refuse. Unqualified names pass through — only the target frame
    * exists on that side, so they are unambiguous.
    */
  private def toTarget(e: Expression, tgt: Set[String], src: Set[String]): Expression =
    e.transformUp {
      case a: UnresolvedAttribute if a.nameParts.length >= 2 &&
          tgt.contains(a.nameParts.head.toLowerCase) =>
        UnresolvedAttribute(a.nameParts.tail)
      case a: UnresolvedAttribute if a.nameParts.length >= 2 &&
          src.contains(a.nameParts.head.toLowerCase) =>
        throw new IllegalArgumentException(
          s"graft SQL MERGE: NOT MATCHED BY SOURCE clause references the " +
            s"source (${a.nameParts.mkString(".")}) — only target columns " +
            "exist there")
    }

  /** Rewrite refs for clauses evaluated against the SOURCE frame alone
    * (NOT MATCHED): source qualifier drops; target refs are illegal there
    * and refuse.
    */
  private def toSource(e: Expression, tgt: Set[String], src: Set[String]): Expression =
    e.transformUp {
      case a: UnresolvedAttribute if a.nameParts.length >= 2 &&
          src.contains(a.nameParts.head.toLowerCase) =>
        UnresolvedAttribute(a.nameParts.tail)
      case a: UnresolvedAttribute if a.nameParts.length >= 2 &&
          tgt.contains(a.nameParts.head.toLowerCase) =>
        throw new IllegalArgumentException(
          s"graft SQL MERGE: NOT MATCHED clause references the target " +
            s"(${a.nameParts.mkString(".")}) — only source columns exist there")
    }

  /** Collapse the 3-part `graft`.`/path`.col prefix to the 2-part
    * `/path`.col form — the path stays as THE qualifier (it is in every
    * qualifier set), so the downstream rewrites (key extraction, joined/
    * source/unqualified) see the same shape an aliased ref has. Shared by
    * DELETE/UPDATE and the MERGE target side.
    */
  private def collapseTargetPrefix(e: Expression, root: String): Expression =
    e.transformUp {
      case a: UnresolvedAttribute if a.nameParts.length >= 3 &&
          a.nameParts.head.equalsIgnoreCase(Namespace) &&
          a.nameParts(1).toLowerCase == root.toLowerCase =>
        UnresolvedAttribute(a.nameParts.tail)
    }

  /** Strip the (single) relation's qualifiers for DELETE/UPDATE conditions:
    * `t.v`, `/path`.v and (via [[collapseTargetPrefix]]) the 3-part
    * `graft`.`/path`.v all become `v`. EXACTLY one part strips per
    * attribute here — a loop over arbitrary qualifier-set runs would eat
    * a struct column that happens to share the alias name (`t.t.f` must
    * resolve struct `t`'s field, not column `f` — review fix).
    */
  private def unqualify(e: Expression, quals: Set[String]): Expression =
    e.transformUp {
      case a: UnresolvedAttribute if a.nameParts.length >= 2 &&
          quals.contains(a.nameParts.head.toLowerCase) =>
        UnresolvedAttribute(a.nameParts.tail)
    }

  /** `ON` → merge keys: a conjunction of `t.k = s.k` (any order, any
    * aliases), the only shape the layout's keyed merge supports.
    */
  private def keysOf(cond: Expression, tgt: Set[String], src: Set[String]): Seq[String] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def side(a: UnresolvedAttribute): (String, String) = {
      require(a.nameParts.length == 2, refusal(a))
      val q = a.nameParts.head.toLowerCase
      if (src.contains(q)) ("s", a.nameParts(1))
      else if (tgt.contains(q)) ("t", a.nameParts(1))
      else throw new IllegalArgumentException(refusal(a))
    }
    def refusal(what: Any): String =
      "graft SQL MERGE: ON must be a conjunction of qualified key " +
        s"equalities (t.k = s.k) — the layout merge is keyed; got $what"
    conjuncts(cond).map {
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
        (side(a), side(b)) match {
          case (("t", k1), ("s", k2)) if k1.equalsIgnoreCase(k2) => k1
          case (("s", k1), ("t", k2)) if k1.equalsIgnoreCase(k2) => k2
          case other => throw new IllegalArgumentException(refusal(other))
        }
      case other => throw new IllegalArgumentException(refusal(other))
    }
  }

  private def assignmentName(a: Assignment, tgt: Set[String],
                             root: String): String = {
    // the 3-part `graft`.`/path`.col prefix collapses on assignment
    // TARGETS too, not just values/conditions — without this, `SET
    // graft.`p`.v = 1` stripped only 'graft' and refused with a
    // misleading nested-field message (ADVICE r11)
    val parts = collapseTargetPrefix(a.key, root) match {
      case u: UnresolvedAttribute =>
        if (u.nameParts.length >= 2 && tgt.contains(u.nameParts.head.toLowerCase))
          u.nameParts.tail
        else u.nameParts
      case ar: AttributeReference => Seq(ar.name)
      case other => throw new IllegalArgumentException(
        s"graft SQL DML: unsupported assignment target $other")
    }
    require(parts.length == 1,
      s"graft SQL DML: nested-field assignment ${parts.mkString(".")} is not " +
        "supported — assign the whole column")
    parts.head
  }

  /** The analyzer rule. Fires inside the resolution fixed point, before
    * CheckAnalysis would reject the never-resolving `graft.` relation.
    */
  case class GraftDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan match {
      case DeleteFromTable(Target((root, quals)), cond) =>
        GraftDeleteCommand(root, Shim.column(unqualify(
          collapseTargetPrefix(cond, root),
          quals + Namespace + root.toLowerCase)))

      case UpdateTable(Target((root, quals)), assignments, cond) =>
        val qs = quals + Namespace + root.toLowerCase
        val set = assignments.map(a => assignmentName(a, qs, root) ->
          Shim.column(unqualify(collapseTargetPrefix(a.value, root), qs))).toMap
        require(set.size == assignments.size,
          "graft SQL UPDATE: duplicate assignment targets")
        GraftUpdateCommand(root,
          cond.map(c => Shim.column(unqualify(collapseTargetPrefix(c, root), qs)))
            .getOrElse(lit(true)), set)

      case i: InsertIntoStatement =>
        i.table match {
          case Target((root, _)) =>
            require(i.partitionSpec.isEmpty,
              "graft SQL INSERT: static PARTITION clauses are not " +
                "supported — partition values ride in the rows")
            require(!(i.byName && i.userSpecifiedCols.nonEmpty),
              "graft SQL INSERT: BY NAME takes no column list")
            GraftInsertCommand(root, i.query, i.userSpecifiedCols, i.byName,
              i.overwrite)
          case _ => plan
        }

      case m: MergeIntoTable =>
        m.targetTable match {
          case Target((root, tAliases)) =>
            val tgt = tAliases + Namespace + root.toLowerCase
            val src = sourceQuals(m.sourceTable)
            def collapse(e: Expression): Expression =
              collapseTargetPrefix(e, root)
            val keys = keysOf(collapse(m.mergeCondition), tgt, src)
            // names the USER wrote unqualified in matched-clause
            // expressions, recorded BEFORE toJoined rewrites qualifiers
            // away — the run-time ambiguity check (both-sides columns)
            // needs to tell these apart from rewritten `t.v` refs
            var bareRefs = Set.empty[String]
            def recordBare(e: Expression): Expression = {
              bareRefs ++= e.collect {
                case a: UnresolvedAttribute if a.nameParts.length == 1 =>
                  a.nameParts.head
              }
              e
            }
            var del: Option[Column] = None
            var upd: Option[(Column, Option[Map[String, Column]])] = None
            var updFirst = false // UPDATE clause written before DELETE?
            m.matchedActions.foreach {
              case DeleteAction(c) =>
                require(del.isEmpty, "graft SQL MERGE: one DELETE clause only")
                updFirst = upd.isDefined
                del = Some(Shim.column(toJoined(
                  recordBare(collapse(c.getOrElse(Literal(true)))), tgt, src)))
              case UpdateAction(c, assigns, _) =>
                require(upd.isEmpty, "graft SQL MERGE: one UPDATE clause only")
                val set = assigns.map(a => assignmentName(a, tgt, root) ->
                  Shim.column(toJoined(
                    recordBare(collapse(a.value)), tgt, src))).toMap
                upd = Some((Shim.column(toJoined(
                  recordBare(collapse(c.getOrElse(Literal(true)))), tgt, src)),
                  Some(set)))
              case UpdateStarAction(c) =>
                require(upd.isEmpty, "graft SQL MERGE: one UPDATE clause only")
                upd = Some((Shim.column(toJoined(
                  recordBare(collapse(c.getOrElse(Literal(true)))), tgt, src)),
                  None))
              case other => throw new IllegalArgumentException(
                s"graft SQL MERGE: unsupported matched action $other")
            }
            // SQL semantics are FIRST-matching-clause-wins, but the layout
            // merge evaluates delete-first (Delta's fixed clause order).
            // DELETE-before-UPDATE coincides (the engine updates only
            // !delCond rows); UPDATE-before-DELETE must mask the delete
            // with the update's condition or every matched row satisfying
            // both clauses would be deleted when SQL says update (review
            // fix — silent wrong data otherwise).
            if (updFirst) {
              val uc = upd.get._1
              del = del.map(dc => dc && !coalesce(uc, lit(false)))
            }
            val ins: Option[Column] = {
              val actions = m.notMatchedActions
              require(actions.length <= 1,
                "graft SQL MERGE: one INSERT clause only")
              actions.headOption.map {
                case InsertStarAction(c) =>
                  Shim.column(toSource(c.getOrElse(Literal(true)), tgt, src))
                case InsertAction(c, assigns) =>
                  // only the identity list (INSERT (a,b,…) VALUES (s.a,s.b,…))
                  // is equivalent to the layout's insert-the-source-row; any
                  // other shape would silently permute/compute columns
                  val identity = assigns.forall { a =>
                    val k = assignmentName(a, tgt, root)
                    toSource(a.value, tgt, src) match {
                      case u: UnresolvedAttribute =>
                        u.nameParts == Seq(k)
                      case _ => false
                    }
                  }
                  require(identity,
                    "graft SQL MERGE: INSERT must be `INSERT *` (or the " +
                      "identity column list) — the layout inserts the " +
                      "source row; compute derived columns in the USING query")
                  Shim.column(toSource(c.getOrElse(Literal(true)), tgt, src))
                case other => throw new IllegalArgumentException(
                  s"graft SQL MERGE: unsupported not-matched action $other")
              }
            }
            // WHEN NOT MATCHED BY SOURCE: target-side clauses, same
            // first-matching-clause-wins masking as the matched pair
            var bsDel: Option[Column] = None
            var bsUpd: Option[(Column, Option[Map[String, Column]])] = None
            var bsUpdFirst = false
            m.notMatchedBySourceActions.foreach {
              case DeleteAction(c) =>
                require(bsDel.isEmpty,
                  "graft SQL MERGE: one NOT MATCHED BY SOURCE DELETE clause only")
                bsUpdFirst = bsUpd.isDefined
                bsDel = Some(Shim.column(
                  toTarget(collapse(c.getOrElse(Literal(true))), tgt, src)))
              case UpdateAction(c, assigns, _) =>
                require(bsUpd.isEmpty,
                  "graft SQL MERGE: one NOT MATCHED BY SOURCE UPDATE clause only")
                val set = assigns.map(a => assignmentName(a, tgt, root) ->
                  Shim.column(toTarget(collapse(a.value), tgt, src))).toMap
                bsUpd = Some((Shim.column(
                  toTarget(collapse(c.getOrElse(Literal(true))), tgt, src)),
                  Some(set)))
              case other => throw new IllegalArgumentException(
                s"graft SQL MERGE: unsupported not-matched-by-source action " +
                  s"$other (UPDATE SET * has no source row to expand from)")
            }
            if (bsUpdFirst) {
              val uc = bsUpd.get._1
              bsDel = bsDel.map(dc => dc && !coalesce(uc, lit(false)))
            }
            GraftMergeCommand(root, m.sourceTable, keys, del, upd, ins,
              bareRefs, bsDel, bsUpd, m.withSchemaEvolution)
          case _ => plan
        }

      case _ => plan
    }
  }

  private def pathAttr: Seq[Attribute] =
    Seq(AttributeReference("version_path", StringType, nullable = false)())

  /** `DELETE FROM graft.`root` WHERE …` → merge-on-read deletion vectors. */
  case class GraftDeleteCommand(root: String, cond: Column)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = pathAttr
    override def run(session: SparkSession): Seq[Row] =
      Seq(Row(Layout.deleteVersionedRows(session,
        GraftPaths.resolve(session, root), cond)))
  }

  /** `UPDATE graft.`root` SET … WHERE …` → merge-on-read row update. */
  case class GraftUpdateCommand(root: String, cond: Column,
                                set: Map[String, Column])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = pathAttr
    override def run(session: SparkSession): Seq[Row] =
      Seq(Row(Layout.updateVersionedRows(session,
        GraftPaths.resolve(session, root), cond, set)))
  }

  /** `INSERT [OVERWRITE] [TABLE] graft.`root` [(cols)] SELECT …` → pure
    * append, or (OVERWRITE) a wholesale content replace
    * ([[Layout.appendVersionedRows]]: no matching, no DVs, O(batch)
    * written). A column list maps the query's output POSITIONALLY onto
    * those names (standard INSERT semantics); with no list the query's
    * own column names must match the table (checked by the writer).
    */
  case class GraftInsertCommand(root: String, query: LogicalPlan,
                                userCols: Seq[String], byName: Boolean,
                                overwrite: Boolean = false)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = pathAttr
    override def run(session: SparkSession): Seq[Row] = {
      val rootR = GraftPaths.resolve(session, root)
      val df0 = Shim.ofRows(session, query)
      // standard SQL INSERT is POSITIONAL: with no column list the query's
      // output maps onto the table's declared column order (names the
      // query happened to produce are irrelevant — `SELECT id + 100, …`
      // must land); an explicit list names the positions instead; and
      // `INSERT … BY NAME` passes the query's own names through to the
      // writer's by-name schema check (review fix: byName was silently
      // mapped positionally, permuting same-typed columns)
      val df =
        if (byName) df0
        else {
          val target =
            if (userCols.nonEmpty) userCols
            else Layout.readCurrent(session, rootR).columns.toSeq
          require(target.length == df0.columns.length,
            s"graft SQL INSERT: ${target.length} target columns but the " +
              s"query produces ${df0.columns.length}")
          df0.toDF(target: _*)
        }
      // columns the list omitted fill with their declared DEFAULT, the
      // GENERATED identity column's next values, or NULL — standard
      // INSERT column-list semantics (Layout.completeInsertColumns; the
      // identity high-water rides extraProps into the same commit)
      val (completed, extraProps) =
        Layout.completeInsertColumns(session, rootR, df)
      // INSERT OVERWRITE replaces the WHOLE table content as one commit
      // (replaceVersionedRows — previous versions stay time-travelable);
      // plain INSERT is the pure append
      Seq(Row(
        if (overwrite) Layout.replaceVersionedRows(session, rootR, completed,
          extraProps = extraProps)
        else Layout.appendVersionedRows(session, rootR, completed,
          extraProps = extraProps)))
    }
  }

  /** `MERGE INTO graft.`root` USING …` → keyed merge-on-read merge. The
    * captured source plan analyzes at run time (temp views, inline
    * subqueries, even another `graft_table` TVF all work); a star update
    * expands against the LIVE table schema here, not at parse time.
    */
  case class GraftMergeCommand(root: String, source: LogicalPlan,
                               keys: Seq[String], del: Option[Column],
                               upd: Option[(Column, Option[Map[String, Column]])],
                               ins: Option[Column],
                               bareRefs: Set[String] = Set.empty,
                               bsDel: Option[Column] = None,
                               bsUpd: Option[(Column, Option[Map[String, Column]])] = None,
                               withSchemaEvolution: Boolean = false)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = pathAttr
    override def run(session: SparkSession): Seq[Row] = {
      val rootR = GraftPaths.resolve(session, root)
      val sourceDf = Shim.ofRows(session, source)
      if (withSchemaEvolution) {
        // WITH SCHEMA EVOLUTION: every source column the table lacks is
        // ADDED first (one metadata commit each, nullable, source order —
        // the Delta semantics for star-shaped merges; this engine's merge
        // inserts ARE star-shaped). NOTE this consumes the extra-column
        // channel: op codes/sequence numbers that normally ride along as
        // clause inputs would land in the table under evolution — drop
        // them in the USING query when evolving. Skip-if-present makes a
        // replayed merge idempotent across the evolution commits.
        val man0 = ManifestIndex.read(session, rootR,
          f"v${Layout.currentVersionNumber(session, rootR)}%05d")
        // ACTIVE schema only: a source column named like a DROPPED
        // column's tombstone must reach addColumn and refuse LOUDLY
        // there — a full-dataSchema set would skip it silently and the
        // merge would discard its values (review fix)
        val have = (ManifestIndex.activeSchema(man0.dataSchema).fieldNames ++
          man0.partitionSchema.fieldNames).map(_.toLowerCase).toSet
        sourceDf.schema.filterNot(f => have(f.name.toLowerCase))
          .foreach(f => Layout.addColumn(session, rootR, f.name, f.dataType))
      }
      val man = ManifestIndex.read(session, rootR,
        f"v${Layout.currentVersionNumber(session, rootR)}%05d")
      val tableFields =
        ManifestIndex.activeSchema(man.dataSchema) ++ man.partitionSchema
      // SQL-standard ambiguity: a ref the USER wrote unqualified in a
      // matched-clause expression (`bareRefs`, recorded by the rule BEFORE
      // qualifier rewriting) that names a column present on BOTH target
      // and source would silently bind to the target in the joined shape
      // (target columns are plain, source ones are src_-prefixed) —
      // Spark's own MERGE resolution raises an error there, so must we
      // (ADVICE r11). Checked here, where both schemas are known. The
      // Scala API keeps its documented plain-target/src_-prefix contract.
      val tableLc = tableFields.map(_.name.toLowerCase).toSet
      val srcLc = sourceDf.columns.map(_.toLowerCase).toSet
      val amb = bareRefs.filter(n =>
        tableLc(n.toLowerCase) && srcLc(n.toLowerCase)).toSeq.sorted
      require(amb.isEmpty, s"graft SQL MERGE: unqualified reference(s) " +
        s"${amb.mkString(", ")} in matched-clause expressions exist on " +
        "BOTH the target table and the source — qualify with the target " +
        "or source alias")
      val updSet = upd.map { case (c, setOpt) =>
        val set = setOpt.getOrElse {
          // UPDATE SET * — every current table column from the source side
          tableFields.map(f => f.name -> col(s"`src_${f.name}`")).toMap
        }
        (c, set)
      }
      val bsUpdSet = bsUpd.map { case (c, setOpt) =>
        (c, setOpt.getOrElse(throw new IllegalStateException(
          "by-source UPDATE always carries an explicit SET")))
      }
      Seq(Row(Layout.mergeIntoVersionedRows(session, rootR, sourceDf, keys,
        whenMatchedDelete = del, whenMatchedUpdate = updSet,
        whenNotMatchedInsert = ins,
        whenNotMatchedBySourceDelete = bsDel,
        whenNotMatchedBySourceUpdate = bsUpdSet)))
    }
  }
}
