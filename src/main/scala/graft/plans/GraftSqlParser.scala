package graft.plans

import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

/** The lakehouse statements Spark's grammar lacks, injected as a
  * delegating parser (the standard extension shape — Delta ships its SQL
  * the same way):
  *
  * {{{
  * DESCRIBE HISTORY graft.`/path` | graft.name
  * DESCRIBE DETAIL graft.`/path` | graft.name
  * VACUUM graft.`/path` [RETAIN n VERSIONS]
  * OPTIMIZE graft.`/path` [ZORDER BY (c1, c2, …)]
  * RESTORE [TABLE] graft.`/path` TO VERSION AS OF n
  * CREATE TABLE graft.dst SHALLOW|DEEP CLONE graft.src [VERSION AS OF n]
  * ALTER TABLE graft.x CLUSTER BY (c1, c2, …) | CLUSTER BY NONE
  * }}}
  *
  * CLUSTER BY and CLUSTER BY NONE each commit one version
  * ([[graft.sources.Layout.setClusterColumns]]), so the declaration is
  * time-travelled, restored and cloned with the rest of the table state.
  *
  * Everything that DOESN'T match these shapes — including every
  * other DESCRIBE/VACUUM-looking string — falls through to the session
  * parser verbatim, so the extension is invisible outside its grammar.
  * (All standard-grammar graft DDL — CREATE/DROP TABLE, ALTER TABLE … —
  * parses with the session grammar; this parser then hands the parsed
  * plan to [[GraftDdl.lower]].) The three statements parse straight to the
  * commands; identifier resolution (name → warehouse path) stays in the
  * commands, shared with the rule-lowered surface.
  */
class GraftSqlParser(session: org.apache.spark.sql.SparkSession,
                     delegate: ParserInterface) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlParser.parseGraftStatement(sqlText).getOrElse {
      val plan = delegate.parsePlan(sqlText)
      if (GraftDml.catalogMode(session)) {
        // CATALOG mode (spark.sql.catalog.graft registered): Spark's own
        // grammar + GraftCatalog resolution carry DDL, reads and INSERT,
        // and MERGE/UPDATE/DELETE lower from the resolved plan
        // (GraftDmlResolved); only the two DDL statements below lower here
        plan match {
          case acc: org.apache.spark.sql.catalyst.plans.logical.AddCheckConstraint =>
            // the DDL statements that lower in catalog mode too — see
            // GraftDdl.lowerAddConstraint / lowerAlterColumnMarkers for why
            GraftDdl.lowerAddConstraint(acc).getOrElse(plan)
          case ac: org.apache.spark.sql.catalyst.plans.logical.AlterColumns =>
            GraftDdl.lowerAlterColumnMarkers(ac).getOrElse(plan)
          case _ => plan
        }
      } else {
        // graft-addressed standard-grammar DDL lowers HERE, at parse
        // time — Spark's ResolveSessionCatalog would otherwise claim the
        // identifier before any injected resolution rule fires (see
        // GraftDdl.lower). Everything else passes through untouched.
        GraftDdl.lower(plan).getOrElse(plan)
      }
    }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {
  // graft.`quoted path` or graft.bare_name — two capture groups per use
  private val Id = "graft\\s*\\.\\s*(?:`([^`]+)`|([A-Za-z0-9_]+))"
  private val DescribeHistory =
    ("(?is)^\\s*DESC(?:RIBE)?\\s+HISTORY\\s+" + Id + "\\s*;?\\s*$").r
  private val DescribeDetail =
    ("(?is)^\\s*DESC(?:RIBE)?\\s+DETAIL\\s+" + Id + "\\s*;?\\s*$").r
  private val Vacuum =
    ("(?is)^\\s*VACUUM\\s+" + Id +
      "(?:\\s+RETAIN\\s+(\\d+)\\s+(VERSIONS|HOURS))?\\s*;?\\s*$").r
  private val Optimize =
    ("(?is)^\\s*OPTIMIZE\\s+" + Id +
      "(?:\\s+ZORDER\\s+BY\\s*\\(([^)]*)\\))?\\s*;?\\s*$").r
  private val Restore =
    ("(?is)^\\s*RESTORE\\s+(?:TABLE\\s+)?" + Id +
      "\\s+TO\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)\\s*;?\\s*$").r
  private val Clone =
    ("(?is)^\\s*CREATE\\s+TABLE\\s+" + Id + "\\s+(SHALLOW|DEEP)\\s+CLONE\\s+" +
      Id + "(?:\\s+VERSION\\s+AS\\s+OF\\s+(\\d+))?\\s*;?\\s*$").r
  private val CopyInto =
    ("(?is)^\\s*COPY\\s+INTO\\s+" + Id + "\\s+FROM\\s+'([^']+)'" +
      "(?:\\s+FILEFORMAT\\s*=\\s*(PARQUET|CSV|JSON))?\\s*;?\\s*$").r
  private val ClusterBy =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+" + Id +
      "\\s+CLUSTER\\s+BY\\s*(?:\\(([^)]*)\\)|(NONE))\\s*;?\\s*$").r

  private def ident(quoted: String, bare: String): String =
    Option(quoted).getOrElse(bare)

  /** Split a ZORDER column list on commas OUTSIDE backticks, so a legal
    * backquoted name containing a comma survives intact instead of being
    * silently split into two wrong names (review fix).
    */
  private[graft] def splitColumnList(s: String): Seq[String] = {
    val parts = scala.collection.mutable.ArrayBuffer(new StringBuilder)
    var inTick = false
    s.foreach { c =>
      if (c == '`') { inTick = !inTick; parts.last += c }
      else if (c == ',' && !inTick) parts += new StringBuilder
      else parts.last += c
    }
    require(!inTick,
      s"graft SQL: unterminated backtick in ZORDER BY column list ($s)")
    parts.toSeq.map(_.toString.trim.stripPrefix("`").stripSuffix("`"))
      .filter(_.nonEmpty)
  }

  private[graft] def parseGraftStatement(sql: String): Option[LogicalPlan] =
    sql match {
      case DescribeHistory(q, b) =>
        Some(GraftDdl.GraftDescribeHistoryCommand(ident(q, b)))
      case DescribeDetail(q, b) =>
        Some(GraftDdl.GraftDescribeDetailCommand(ident(q, b)))
      case Vacuum(q, b, n, unit) =>
        val ret = (Option(n), Option(unit).map(_.toUpperCase)) match {
          case (Some(v), Some("HOURS")) =>
            graft.sources.Layout.Retention.Hours(v.toDouble)
          case (Some(v), _) =>
            graft.sources.Layout.Retention.Versions(v.toInt)
          case _ => graft.sources.Layout.Retention.Versions(2)
        }
        Some(GraftDdl.GraftVacuumCommand(ident(q, b), ret))
      case Optimize(q, b, cols) =>
        Some(GraftDdl.GraftOptimizeCommand(ident(q, b),
          Option(cols).toSeq.flatMap(splitColumnList)))
      case Restore(q, b, v) =>
        Some(GraftDdl.GraftRestoreCommand(ident(q, b), v.toInt))
      case Clone(dq, db, depth, sq, sb, v) =>
        Some(GraftDdl.GraftCloneCommand(ident(dq, db), ident(sq, sb),
          Option(v).map(_.toInt), deep = depth.equalsIgnoreCase("DEEP")))
      case CopyInto(q, b, path, fmt) =>
        Some(GraftDdl.GraftCopyIntoCommand(ident(q, b), path,
          Option(fmt).map(_.toLowerCase).getOrElse("parquet")))
      case ClusterBy(q, b, cols, none) =>
        // ONLY the NONE keyword drops the declaration; an empty column
        // group `CLUSTER BY ()` (a templating bug's favorite rendering)
        // must refuse loudly, never silently decluster (review fix)
        val parsed =
          if (none != null) Nil
          else {
            val cs = splitColumnList(Option(cols).getOrElse(""))
            require(cs.nonEmpty,
              "graft SQL: CLUSTER BY () has no columns — write CLUSTER " +
                "BY NONE to drop the declaration")
            cs
          }
        Some(GraftDdl.GraftClusterByCommand(ident(q, b), parsed))
      case _ => None
    }
}
