package graft.plans

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{InsertIntoStatement, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.col
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
  * produces `DeleteFromTable` / `UpdateTable` / `MergeIntoTable` /
  * `InsertIntoStatement` plans for these statements; the target
  * `graft.`…`` parses as an `UnresolvedRelation(["graft", path])`.
  * Each statement lowers to a [[LeafRunnableCommand]] invoking the SAME
  * Layout writers the Scala API uses — `deleteVersionedRows` /
  * `updateVersionedRows` / `mergeIntoVersionedRows` /
  * `appendVersionedRows` — so SQL and Scala writes share one
  * implementation: deletion vectors, CHECK constraints, OCC retry, txn
  * idempotence, stats and change feeds behave identically. (The
  * alternative — SupportsRowLevelOperations on the DSv2 table — would
  * re-implement merge-on-read planning Spark-side for no behavioral gain
  * at this surface; Delta ships the command-lowering shape too.)
  *
  * DELETE / UPDATE / MERGE have ONE lowering, whatever names the target
  * (path, warehouse name, or the registered `graft` catalog):
  * [[GraftRead.GraftReadRule]] (or the catalog) resolves the target to a
  * [[GraftTable]] relation, Spark's analyzer binds every condition and
  * assignment, and [[GraftDmlResolved]] lowers the RESOLVED plan onto the
  * command trio below. Name binding, star expansion and ambiguity errors
  * are therefore Spark's own. Only INSERT lowers here
  * ([[GraftDmlRule]]), from the unresolved target, because the path
  * INSERT fills GENERATED identity and DEFAULT columns the DSv2 insert
  * path cannot.
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
  * subqueries, `EXISTS`) work; CORRELATED subqueries refuse (see
  * [[GraftDmlResolved]]).
  */
object GraftDml {
  private[plans] val Namespace = "graft"

  /** Whether this session runs with the DSv2 [[GraftCatalog]] registered
    * (`spark.sql.catalog.graft`). In catalog mode Spark's own resolution
    * owns the `graft.` namespace for DDL/reads/INSERT, so the parse-time
    * DDL lowering steps aside — see [[GraftCatalog]]'s division of labor.
    */
  private[plans] def catalogMode(
      spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.conf.getOption(s"spark.sql.catalog.$Namespace").isDefined

  /** `graft.x` → `x`: the unresolved 2-part relation no catalog claimed,
    * which [[GraftDmlRule]] and [[GraftRead.GraftReadRule]] key on.
    */
  private[plans] object GraftIdent {
    def unapply(plan: LogicalPlan): Option[String] = plan match {
      case r: UnresolvedRelation if r.multipartIdentifier.length == 2 &&
          r.multipartIdentifier.head.equalsIgnoreCase(Namespace) =>
        Some(r.multipartIdentifier(1))
      case _ => None
    }
  }

  /** `INSERT [OVERWRITE] INTO graft.`path`` → [[GraftInsertCommand]].
    * Fires inside the resolution fixed point, before CheckAnalysis would
    * reject the never-resolving `graft.` relation (which
    * [[GraftRead.GraftReadRule]] leaves unresolved under an INSERT).
    */
  case class GraftDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan match {
      case i @ InsertIntoStatement(GraftIdent(root), _, _, _, _, _, _) =>
        require(i.partitionSpec.isEmpty,
          "graft SQL INSERT: static PARTITION clauses are not " +
            "supported — partition values ride in the rows")
        require(!(i.byName && i.userSpecifiedCols.nonEmpty),
          "graft SQL INSERT: BY NAME takes no column list")
        GraftInsertCommand(root, i.query, i.userSpecifiedCols, i.byName,
          i.overwrite)
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
                                overwrite: Boolean)
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

  /** `MERGE INTO graft.`root` USING …` → keyed merge-on-read merge of
    * the (already resolved) source plan. A `None` SET is a star update,
    * expanded here against the LIVE table schema — after any WITH SCHEMA
    * EVOLUTION columns landed.
    */
  case class GraftMergeCommand(root: String, source: LogicalPlan,
                               keys: Seq[String], del: Option[Column],
                               upd: Option[(Column, Option[Map[String, Column]])],
                               ins: Option[Column],
                               bsDel: Option[Column],
                               bsUpd: Option[(Column, Option[Map[String, Column]])],
                               withSchemaEvolution: Boolean)
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
        val man0 = Layout.currentManifest(session, rootR)._2
        // ACTIVE schema only: a source column named like a DROPPED
        // column's tombstone must reach addColumn and refuse LOUDLY
        // there — a full-dataSchema set would skip it silently and the
        // merge would discard its values (review fix)
        val have = (ManifestIndex.activeSchema(man0.dataSchema).fieldNames ++
          man0.partitionSchema.fieldNames).map(_.toLowerCase).toSet
        sourceDf.schema.filterNot(f => have(f.name.toLowerCase))
          .foreach(f => Layout.addColumn(session, rootR, f.name, f.dataType))
      }
      val man = Layout.currentManifest(session, rootR)._2
      val tableFields =
        ManifestIndex.activeSchema(man.dataSchema) ++ man.partitionSchema
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
