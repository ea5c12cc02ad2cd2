package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, InsertIntoStatement, LogicalPlan, MergeIntoTable, Project, SubqueryAlias, UpdateTable, V2WriteCommand}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** READ substitution: a [[GraftTable]] relation read by a query (the
  * catalog resolved `SELECT … FROM graft.x`, `… VERSION AS OF n`, a MERGE
  * source, a subquery) rewrites to the SAME logical plan `Layout.readCurrent` /
  * `readVersion` / `readAsOf` produce — deletion vectors, column mapping,
  * stats/bloom skipping and manifest pruning apply identically, and
  * `sizeInBytes` flows from `ManifestFileIndex` so broadcast planning
  * works. This is the relation-conversion pattern lakehouse extensions
  * standardly use instead of re-implementing the custom read machinery as
  * a DSv2 `Scan`.
  *
  * Attribute identity: the substituted plan's output attributes get
  * re-aliased under the RELATION's exprIds (a straight child swap would
  * orphan every reference the analyzer already resolved against the v2
  * relation's output).
  *
  * Write-target protection: the relation under a `V2WriteCommand`
  * (AppendData / OverwriteByExpr — the DSv2 INSERT path) must stay a v2
  * relation for the write exec, and the one under a DELETE / UPDATE /
  * MERGE for [[GraftDmlResolved]]; every OTHER occurrence (including the
  * SOURCE of such a write) rewrites.
  */
object GraftV2Read {

  case class GraftV2ReadRule(spark: SparkSession) extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = {
      val protectedRels =
        java.util.Collections.newSetFromMap(
          new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
      def targetRelOf(p: LogicalPlan): Option[LogicalPlan] = p match {
        case SubqueryAlias(_, child) => targetRelOf(child)
        case r: DataSourceV2Relation => Some(r)
        case _ => None
      }
      plan.foreach {
        case w: V2WriteCommand => protectedRels.add(w.table)
        // an InsertIntoStatement's target resolves to a v2 relation one
        // fixed-point pass BEFORE ResolveInsertInto converts the whole
        // statement to AppendData/Overwrite (which needs the query side
        // resolved too) — rewriting it in that window would strand the
        // INSERT unresolvable (the same review-fix contract as
        // GraftRead.GraftReadRule's target protection)
        case i: InsertIntoStatement =>
          targetRelOf(i.table).foreach(protectedRels.add)
        // row-level DML targets stay v2 relations — whether the catalog
        // or GraftRead.GraftReadRule (path and warehouse-name targets)
        // resolved them — so the post-hoc lowering (GraftDmlResolved) can
        // read the GraftTable's root + output exprIds off the relation.
        // Conditions/assignments resolve against the relation's output
        // identically either way.
        case d: DeleteFromTable => targetRelOf(d.table).foreach(protectedRels.add)
        case u: UpdateTable => targetRelOf(u.table).foreach(protectedRels.add)
        case m: MergeIntoTable =>
          targetRelOf(m.targetTable).foreach(protectedRels.add)
        case _ =>
      }
      plan.resolveOperatorsUp {
        case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] &&
            !protectedRels.contains(r) =>
          val child = r.table.asInstanceOf[GraftTable]
            .readPlan().queryExecution.analyzed
          val byName = child.output.map(a => a.name.toLowerCase -> a).toMap
          Project(r.output.map { o =>
            val src = byName.getOrElse(o.name.toLowerCase,
              throw new IllegalStateException(
                s"graft catalog read: column '${o.name}' resolved against " +
                  s"the catalog schema is missing from the layout read of " +
                  s"${r.table.name()} — concurrent schema change?"))
            Alias(src, o.name)(exprId = o.exprId)
          }, child)
      }
    }
  }
}
