package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{DateType, StringType, TimestampType}

import graft.plans.GraftDml.GraftIdent
import graft.sources.Layout

/** Plain-SQL READS of graft tables — the last piece of the by-name story:
  * after `CREATE TABLE graft.orders …`, a SQL-first user writes
  *
  * {{{
  * SELECT * FROM graft.orders
  * SELECT * FROM graft.orders VERSION AS OF 3
  * SELECT * FROM graft.orders TIMESTAMP AS OF '2026-01-01 00:00:00'
  * SELECT … FROM graft.a JOIN graft.b ON …        -- relations compose
  * }}}
  *
  * without reaching for the `graft_table(…)` TVF (which remains the
  * explicit-path/power form — AS OF by arbitrary expression, etc.).
  *
  * A resolution rule, not a catalog: the unclaimed `[graft, x]`
  * `UnresolvedRelation` (the shape the INSERT rule keys on too) rewrites
  * to the SAME logical plan `Layout.readCurrent` produces — deletion
  * vectors, column mapping, stats/bloom skipping and manifest pruning all
  * apply identically, and `RelationTimeTravel` maps onto
  * `readVersion`/`readAsOf` (version numbers, typed date/timestamp
  * literals, or wall-clock strings read in the SESSION time zone).
  *
  * Row-level DML targets (`DELETE FROM` / `UPDATE` / `MERGE INTO`
  * graft.x) resolve here too, but to the catalog's relation instead of a
  * scan: `SubqueryAlias(graft.x, DataSourceV2Relation(GraftTable))`, the
  * same [[GraftTable]] `GraftCatalog.loadTable` builds. Spark then binds
  * conditions and assignments against it and [[GraftDmlResolved]] lowers
  * the statement from the resolved plan, so path, warehouse-name and
  * catalog targets share one lowering. An INSERT target stays an
  * `UnresolvedRelation` for [[GraftDml.GraftDmlRule]] (identity and
  * DEFAULT fill, which the DSv2 insert path lacks); every OTHER graft
  * relation resolves to a scan, including the sources of DML (`MERGE …
  * USING graft.y`, `WHERE id IN (SELECT … FROM graft.z)`) and of a
  * non-graft-target INSERT (`INSERT INTO parquet_t SELECT … FROM
  * graft.x`). A path INSERT's query is captured unresolved and re-enters
  * analysis at command RUN time, where this rule resolves the graft
  * relations it references.
  */
object GraftRead {

  /** The relation under a DML statement's TARGET (through aliases). */
  private def targetRelOf(plan: LogicalPlan): Option[UnresolvedRelation] =
    plan match {
      case SubqueryAlias(_, child) => targetRelOf(child)
      case r: UnresolvedRelation => Some(r)
      case _ => None
    }

  case class GraftReadRule(spark: SparkSession) extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = {
      def identitySet() = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[UnresolvedRelation, java.lang.Boolean]())
      val insertTargets, rowLevelTargets = identitySet()
      plan.foreach {
        case d: DeleteFromTable => targetRelOf(d.table).foreach(rowLevelTargets.add)
        case u: UpdateTable => targetRelOf(u.table).foreach(rowLevelTargets.add)
        case m: MergeIntoTable =>
          targetRelOf(m.targetTable).foreach(rowLevelTargets.add)
        case i: InsertIntoStatement =>
          targetRelOf(i.table).foreach(insertTargets.add)
        case _ =>
      }
      plan.resolveOperatorsUp {
        case tt: RelationTimeTravel =>
          tt.relation match {
            case r @ GraftIdent(x) if !insertTargets.contains(r) =>
              travel(x, tt)
            case _ => tt
          }
        case r @ GraftIdent(x) if rowLevelTargets.contains(r) =>
          SubqueryAlias(Seq(GraftDml.Namespace, x),
            DataSourceV2Relation.create(
              GraftTable(x, GraftPaths.resolve(spark, x)), None,
              Some(Identifier.of(Array.empty, x))))
        case r @ GraftIdent(x) if !insertTargets.contains(r) =>
          Layout.readCurrent(spark, GraftPaths.resolve(spark, x))
            .queryExecution.logical
      }
    }

    private def travel(ident: String, tt: RelationTimeTravel): LogicalPlan = {
      val root = GraftPaths.resolve(spark, ident)
      val zone = graft.util.WallClock.sessionZone(spark)
      val df = (tt.version, tt.timestamp) match {
        case (Some(v), _) =>
          // toIntOption also bounds the range — an all-digit string past
          // Int.MaxValue must refuse with THIS message, not a raw
          // NumberFormatException (review fix)
          val n = v.toIntOption.getOrElse(throw new IllegalArgumentException(
            s"graft SQL read: VERSION AS OF takes a version number, got '$v'"))
          Layout.readVersion(spark, root, n)
        case (_, Some(Literal(days: Int, DateType))) =>
          Layout.readAsOf(spark, root,
            java.time.LocalDate.ofEpochDay(days.toLong).atStartOfDay(zone)
              .toInstant.toEpochMilli)
        case (_, Some(Literal(us: Long, TimestampType))) =>
          Layout.readAsOf(spark, root, Math.floorDiv(us, 1000L))
        case (_, Some(Literal(s: org.apache.spark.unsafe.types.UTF8String,
            StringType))) =>
          // wall-clock AS OF in the SESSION zone — graft_table's contract
          Layout.readAsOf(spark, root,
            graft.util.WallClock.millis(s.toString, zone))
        case (_, ts) => throw new IllegalArgumentException(
          s"graft SQL read: TIMESTAMP AS OF takes a date/timestamp/string " +
            s"literal, got $ts")
      }
      df.queryExecution.logical
    }
  }
}
