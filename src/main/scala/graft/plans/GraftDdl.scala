package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedFieldName, UnresolvedIdentifier, UnresolvedRelation, UnresolvedTable}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, CheckConstraint}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructType}

import graft.sources.Layout

/** Table-by-NAME addressing for the SQL surface. A graft identifier that
  * LOOKS like a path (contains `/` or a scheme) is used verbatim; a bare
  * name resolves under the session's graft warehouse directory
  * (`spark.graft.warehouse`, default `<java.io.tmpdir>/graft-warehouse`),
  * so a SQL-first user writes `CREATE TABLE graft.orders …` then
  * `MERGE INTO graft.orders …` without ever handling a filesystem path —
  * the same name-vs-location split a Hive/Delta warehouse dir gives.
  * Resolution happens at COMMAND RUN time, so the conf is read per
  * statement (a session can repoint its warehouse mid-stream).
  */
object GraftPaths {
  val WarehouseConf = "spark.graft.warehouse"
  private val LocationFile = "_location"

  def isPath(ident: String): Boolean =
    ident.contains("/") || ident.contains("://")

  /** Bare-name validity: a warehouse slot is EXACTLY ONE directory level
    * under the warehouse. '.', '..', empty, or separator-bearing "names"
    * would resolve OUTSIDE it — ``DROP TABLE graft.`..` `` would then
    * recursively delete the warehouse's PARENT directory (review fix).
    */
  private[plans] def isValidName(ident: String): Boolean =
    ident != "." && ident != ".." && ident.matches("[A-Za-z0-9_.-]+")

  private def warehouseDir(spark: SparkSession, ident: String): String = {
    require(isValidName(ident),
      s"graft SQL: invalid table name '$ident' — a bare name must match " +
        "[A-Za-z0-9_.-]+ and may not be '.' or '..' (use a `/path` " +
        "identifier to address a table by location)")
    val wh = spark.conf.get(WarehouseConf,
      sys.props("java.io.tmpdir").stripSuffix("/") + "/graft-warehouse")
    s"${wh.stripSuffix("/")}/$ident"
  }

  /** The warehouse SLOT directory for a bare name (redirect marker and
    * all) — the unit [[GraftCatalog.renameTable]] moves. Validates like
    * every other resolve.
    */
  private[plans] def slotDir(spark: SparkSession, ident: String): String =
    warehouseDir(spark, ident)

  /** A name created with an external LOCATION persists the mapping as a
    * `_location` redirect under the warehouse slot — EVERY later
    * name-addressed statement (DML, DDL, TVFs) must target the same root
    * (review fix: an unpersisted mapping silently re-addressed the
    * warehouse slot, up to and including DROP TABLE deleting an
    * unrelated table). One metadata read per resolve.
    */
  def resolve(spark: SparkSession, ident: String): String =
    if (isPath(ident)) ident
    else {
      val dir = warehouseDir(spark, ident)
      val marker = new org.apache.hadoop.fs.Path(dir, LocationFile)
      val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(marker)) {
        val in = fs.open(marker)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      } else dir
    }

  /** Whether `name` has an external-LOCATION redirect marker — THE
    * definition of a redirected name (string-comparing resolved paths
    * breaks under Path normalization; review fix).
    */
  private[plans] def hasRedirect(spark: SparkSession, ident: String): Boolean = {
    if (isPath(ident)) return false
    val marker = new org.apache.hadoop.fs.Path(
      warehouseDir(spark, ident), LocationFile)
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(marker)
  }

  private[plans] def writeRedirect(spark: SparkSession, ident: String,
                                   target: String): Unit = {
    val marker = new org.apache.hadoop.fs.Path(
      warehouseDir(spark, ident), LocationFile)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(marker, true)
    try out.write(target.getBytes("UTF-8")) finally out.close()
  }

  /** Drop a name's redirect when its target is no longer a versioned
    * root — the leak a DROP-by-PATH leaves behind (it cannot reverse-map
    * the path to the name). Called by CREATE before resolution so a
    * recreated name lands in the warehouse, not at the stale location.
    */
  private[plans] def healStaleRedirect(spark: SparkSession,
                                       ident: String): Unit = {
    if (isPath(ident)) return
    val dir = warehouseDir(spark, ident)
    val marker = new org.apache.hadoop.fs.Path(dir, LocationFile)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker) &&
        !graft.sources.Layout.isVersionedRoot(spark, resolve(spark, ident)))
      removeRedirect(spark, ident)
  }

  /** One row per NAME under the warehouse: (name, location, is_redirect).
    * Names are dirs that are versioned roots themselves or hold a
    * `_location` redirect; anything else in the warehouse dir is ignored.
    */
  def listTables(spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import scala.jdk.CollectionConverters._
    val wh = new org.apache.hadoop.fs.Path(
      warehouseDir(spark, "x")).getParent
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows: Seq[org.apache.spark.sql.Row] =
      if (!fs.exists(wh)) Seq.empty
      else fs.listStatus(wh).filter(_.isDirectory).toSeq
        .filter(st => isValidName(st.getPath.getName)).flatMap { st =>
        val name = st.getPath.getName
        val target = resolve(spark, name)
        if (graft.sources.Layout.isVersionedRoot(spark, target))
          Some(org.apache.spark.sql.Row(name, target,
            hasRedirect(spark, name)))
        else None
      }.sortBy(_.getString(0))
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("name", StringType,
          nullable = false),
        org.apache.spark.sql.types.StructField("location", StringType,
          nullable = false),
        org.apache.spark.sql.types.StructField("is_redirect",
          org.apache.spark.sql.types.BooleanType, nullable = false))))
  }

  /** Remove a name's redirect slot (no-op when the name has none). */
  private[plans] def removeRedirect(spark: SparkSession, ident: String): Unit = {
    if (isPath(ident)) return
    val dir = new org.apache.hadoop.fs.Path(warehouseDir(spark, ident))
    val marker = new org.apache.hadoop.fs.Path(dir, LocationFile)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) {
      fs.delete(marker, false)
      // the slot held only the redirect; reclaim it if now empty
      if (fs.listStatus(dir).isEmpty) fs.delete(dir, false)
    }
    ()
  }
}

/** SQL table-lifecycle DDL against graft versioned tables — the management
  * face of the DML surface ([[GraftDml]]). The reference's load step ships
  * DDL the same way (`loading.py:44-65` executes CREATE TABLE statements
  * before its upserts):
  *
  * {{{
  * CREATE TABLE graft.orders (id BIGINT, v INT, part STRING,
  *   CONSTRAINT v_nonneg CHECK (v >= 0)) PARTITIONED BY (part)
  * CREATE TABLE graft.dst PARTITIONED BY (part) AS SELECT …   -- CTAS
  * ALTER TABLE graft.orders RENAME COLUMN v TO cents
  * ALTER TABLE graft.orders ADD COLUMN score DOUBLE
  * ALTER TABLE graft.orders DROP COLUMN note
  * ALTER TABLE graft.orders ALTER COLUMN cents TYPE BIGINT     -- widen INT
  * ALTER TABLE graft.orders ADD CONSTRAINT c CHECK (cents >= 0)
  * ALTER TABLE graft.orders DROP CONSTRAINT c
  * DROP TABLE graft.orders
  * DESCRIBE HISTORY graft.orders                               -- parser ext
  * VACUUM graft.orders RETAIN 3 VERSIONS                       -- parser ext
  * OPTIMIZE graft.orders [ZORDER BY (c1, c2)]                  -- parser ext
  * }}}
  *
  * Spark-first shape, same as the DML rule: Spark's parser already
  * produces `CreateTable` / `DropTable` / `RenameColumn` / `DropColumns` /
  * `AlterColumns` / `AddCheckConstraint` / `DropConstraint` plans whose
  * identifier is the unclaimed `[graft, name]` pair; [[GraftDdl.lower]]
  * (invoked from the injected parser, see its scaladoc for why parse
  * time) lowers them onto the SAME Layout operations the Scala API
  * exposes
  * (`initVersionedManifest`, `renameColumn`, `dropColumn`, `widenColumn`,
  * `addCheckConstraint`, …), so SQL and Scala lifecycle calls share one
  * implementation. Only the statements Spark's grammar lacks
  * (DESCRIBE HISTORY, VACUUM, OPTIMIZE, RESTORE, SHALLOW CLONE) ride
  * the injected [[GraftSqlParser]].
  *
  * Surface limits, refused loudly: partitioning must be identity columns
  * (the layout's leaves are literal partition dirs); `CREATE TABLE`
  * requires `PARTITIONED BY` (an unpartitioned table is ONE leaf, which
  * every key-pruned commit would rewrite whole);
  * table properties / options / serde / collation / EXTERNAL are not
  * supported; `ALTER COLUMN` supports TYPE widening only (nullability,
  * comments, positions and defaults are not table state here);
  * `DROP TABLE … PURGE` and `DROP CONSTRAINT … CASCADE` have no distinct
  * meaning and refuse rather than silently equal the plain forms.
  */
object GraftDdl {

  /** `[graft, x]` create-style identifier (CREATE/DROP TABLE). */
  private object Ident {
    def unapply(plan: LogicalPlan): Option[String] = plan match {
      case UnresolvedIdentifier(Seq(ns, x), _)
          if ns.equalsIgnoreCase(GraftDml.Namespace) => Some(x)
      case _ => None
    }
  }

  /** `[graft, x]` ALTER-style identifier (UnresolvedTable child). */
  private object Tbl {
    def unapply(plan: LogicalPlan): Option[String] = plan match {
      case UnresolvedTable(Seq(ns, x), _, _)
          if ns.equalsIgnoreCase(GraftDml.Namespace) => Some(x)
      case _ => None
    }
  }

  /** The graft relation under ADD CONSTRAINT's validation-scan child. */
  private object Rel {
    def unapply(plan: LogicalPlan): Option[String] = plan.collectFirst {
      case r: UnresolvedRelation
          if r.multipartIdentifier.length == 2 &&
            r.multipartIdentifier.head.equalsIgnoreCase(GraftDml.Namespace) =>
        r.multipartIdentifier(1)
    }
  }

  private def fieldName(f: org.apache.spark.sql.catalyst.analysis.FieldName,
                        what: String): String = f match {
    case UnresolvedFieldName(Seq(n)) => n
    case other => throw new IllegalArgumentException(
      s"graft SQL DDL: $what must be a top-level column, got $other")
  }

  private def identityCols(
      partitioning: Seq[org.apache.spark.sql.connector.expressions.Transform])
      : Seq[String] = partitioning.map { t =>
    require(t.name == "identity",
      "graft SQL DDL: only identity PARTITIONED BY columns are supported " +
        s"(the layout's leaves are literal partition dirs), got $t")
    val refs = t.references()
    require(refs.length == 1, s"graft SQL DDL: malformed partition ref $t")
    val parts = refs(0).fieldNames()
    require(parts.length == 1,
      s"graft SQL DDL: nested partition reference ${parts.mkString(".")}")
    parts.head
  }

  /** Refuse every table-spec knob the layout has no representation for —
    * silently dropping a TBLPROPERTIES or LOCATION-vs-name conflict would
    * diverge from what the user declared. Returns (location, constraints).
    */
  private def specOf(spec: TableSpecBase)
      : (Option[String], Seq[CheckConstraint],
         Seq[org.apache.spark.sql.catalyst.expressions.UniqueConstraint]) =
    spec match {
    case u: UnresolvedTableSpec =>
      require(u.properties.isEmpty,
        "graft SQL DDL: TBLPROPERTIES are not supported")
      require(u.optionExpression.options.isEmpty,
        "graft SQL DDL: OPTIONS are not supported")
      require(u.provider.forall(_.equalsIgnoreCase(GraftDml.Namespace)),
        s"graft SQL DDL: USING ${u.provider.get} on a graft.` ` target — " +
          "omit USING or write USING graft")
      require(u.serde.isEmpty && u.collation.isEmpty,
        "graft SQL DDL: serde/collation clauses are not supported")
      require(!u.external,
        "graft SQL DDL: EXTERNAL has no meaning here — every graft table " +
          "lives at its root path; use LOCATION to choose it")
      val checks = u.constraints.collect { case c: CheckConstraint => c }
      val uniques = u.constraints.collect {
        case uq: org.apache.spark.sql.catalyst.expressions.UniqueConstraint =>
          uq
      }
      u.constraints.foreach {
        case _: CheckConstraint => ()
        case _: org.apache.spark.sql.catalyst.expressions.UniqueConstraint => ()
        case other => throw new IllegalArgumentException(
          "graft SQL DDL: only CHECK and UNIQUE constraints are " +
            "supported, got " + other)
      }
      (u.location, checks, uniques)
    case other => throw new IllegalArgumentException(
      s"graft SQL DDL: unsupported table spec $other")
  }

  /** Lower a graft-addressed DDL plan onto Layout ops; None = not ours.
    *
    * Called from [[GraftSqlParser.parsePlan]] right after delegation —
    * NOT from a resolution rule: Spark's built-in ResolveSessionCatalog
    * claims `CREATE/ALTER TABLE` identifiers in the same fixed-point
    * iteration BEFORE any injected resolution rule runs (observed:
    * `UNSUPPORTED_FEATURE.TABLE_OPERATION` against
    * `spark_catalog.graft…`), so the DDL surface must intercept at parse
    * time. The DML rule stays a resolution rule because its
    * `UnresolvedRelation` target is never claimed by a built-in rule.
    */
  def lower(plan: LogicalPlan): Option[LogicalPlan] = {
    // CATALOG-mode gating lives at the ONLY call site
    // (GraftSqlParser.parsePlan, which holds the parsing session): there
    // Spark's grammar + GraftCatalog resolution own these statements and
    // this method is never consulted. Re-checking here via
    // SparkSession.active would consult a possibly-DIFFERENT session in a
    // multi-session application (review fix — the duplicate check was
    // dead from the real call site and wrong from any other).
    Some(plan match {
      case ct: CreateTable =>
        ct.name match {
          case Ident(x) =>
            val (loc, checks, uniques) = specOf(ct.tableSpec)
            GraftCreateTableCommand(x, loc, ct.tableSchema,
              identityCols(ct.partitioning),
              checks.map(c => c.name -> c.condition),
              ct.ignoreIfExists, query = None,
              uniques = uniques.map(u => u.name -> u.columns))
          case _ => return None
        }

      case ctas: CreateTableAsSelect =>
        ctas.name match {
          case Ident(x) =>
            val (loc, checks, uniques) = specOf(ctas.tableSpec)
            GraftCreateTableCommand(x, loc, new StructType(),
              identityCols(ctas.partitioning),
              checks.map(c => c.name -> c.condition),
              ctas.ignoreIfExists, query = Some(ctas.query),
              uniques = uniques.map(u => u.name -> u.columns))
          case _ => return None
        }

      // `ALTER TABLE … ADD CONSTRAINT n UNIQUE (cols)` — CHECK arrives as
      // the distinct AddCheckConstraint plan (validation-scan child, see
      // lowerAddConstraint); every other constraint family lands here
      case ac: org.apache.spark.sql.catalyst.plans.logical.AddConstraint =>
        (ac.child, ac.tableConstraint) match {
          case (Tbl(x),
              u: org.apache.spark.sql.catalyst.expressions.UniqueConstraint) =>
            GraftAddUniqueCommand(x, u.name, u.columns)
          case (Tbl(_), other) => throw new IllegalArgumentException(
            "graft SQL DDL: only CHECK and UNIQUE constraints are " +
              "supported, got " + other)
          case _ => return None
        }

      case dt: DropTable =>
        dt.child match {
          case Ident(x) =>
            require(!dt.purge,
              "graft SQL DDL: DROP TABLE … PURGE has no distinct meaning " +
                "(the drop removes the whole root) — use plain DROP TABLE")
            GraftDropTableCommand(x, dt.ifExists)
          case _ => return None
        }

      case rc: RenameColumn =>
        rc.table match {
          case Tbl(x) => GraftRenameColumnCommand(x,
            fieldName(rc.column, "RENAME COLUMN"), rc.newName)
          case _ => return None
        }

      case dc: DropColumns =>
        dc.table match {
          case Tbl(x) =>
            require(dc.columnsToDrop.length == 1,
              "graft SQL DDL: drop one column per statement (each drop is " +
                "one metadata commit)")
            require(!dc.ifExists,
              "graft SQL DDL: DROP COLUMN IF EXISTS is not supported — " +
                "the layout refuses unknown columns loudly")
            GraftDropColumnCommand(x,
              fieldName(dc.columnsToDrop.head, "DROP COLUMN"))
          case _ => return None
        }

      case ac: AlterColumns =>
        ac.table match {
          case Tbl(x) =>
            lowerAlterColumnMarkers(ac).getOrElse {
              require(ac.specs.length == 1,
                "graft SQL DDL: alter one column per statement")
              val s = ac.specs.head
              require(s.newComment.isEmpty && s.newPosition.isEmpty,
                "graft SQL DDL: comments/positions are not table state here")
              val name = fieldName(s.column, "ALTER COLUMN")
              (s.newDataType, s.newNullability, s.newDefaultExpression,
                s.dropDefault) match {
                case (Some(dt), None, None, false) =>
                  GraftWidenColumnCommand(x, name, dt)
                case _ => throw new IllegalArgumentException(
                  "graft SQL DDL: ALTER COLUMN takes ONE alteration per " +
                    "statement — TYPE widening, SET/DROP NOT NULL, or " +
                    "SET/DROP DEFAULT")
              }
            }
          case _ => return None
        }

      case ac: AddColumns =>
        ac.table match {
          case Tbl(x) =>
            require(ac.columnsToAdd.length == 1,
              "graft SQL DDL: add one column per statement (each add is " +
                "one metadata commit)")
            val c = ac.columnsToAdd.head
            require(c.path.isEmpty,
              "graft SQL DDL: nested-field ADD COLUMN is not supported")
            require(c.comment.isEmpty && c.position.isEmpty,
              "graft SQL DDL: ADD COLUMN takes name and type only — " +
                "comments/positions are not table state here")
            require(c.nullable,
              "graft SQL DDL: an added column must be nullable — every " +
                "row that predates it reads as NULL")
            GraftAddColumnCommand(x, c.colName, c.dataType)
          case _ => return None
        }

      case acc: AddCheckConstraint =>
        lowerAddConstraint(acc) match {
          case Some(cmd) => cmd
          case None => return None
        }

      case sct: ShowCreateTable =>
        sct.child match {
          case v: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView
              if v.multipartIdentifier.length == 2 &&
                v.multipartIdentifier.head
                  .equalsIgnoreCase(GraftDml.Namespace) =>
            GraftShowCreateTableCommand(v.multipartIdentifier(1))
          case _ => return None
        }

      case tt: TruncateTable =>
        tt.table match {
          case Tbl(x) => GraftTruncateCommand(x)
          case _ => return None
        }

      case dcst: DropConstraint =>
        dcst.table match {
          case Tbl(x) =>
            require(!dcst.cascade,
              "graft SQL DDL: DROP CONSTRAINT … CASCADE has no distinct " +
                "meaning — use the plain form")
            GraftDropConstraintCommand(x, dcst.name, dcst.ifExists)
          case _ => return None
        }

      case _ => return None
    })
  }

  /** `ALTER TABLE … ADD CONSTRAINT … CHECK` lowers at parse time in BOTH
    * modes (the one statement that does): its plan embeds a validation
    * SCAN of the target, and in catalog mode Spark's own
    * ResolveSessionCatalog dereferences that scan's v2 relation after the
    * read-substitution rule has (correctly) rewritten it — a None.get.
    * The lowered command validates at RUN time against the same
    * Layout.readCurrent plan, catalog or not.
    */
  private[plans] def lowerAddConstraint(
      acc: AddCheckConstraint): Option[LogicalPlan] = acc.child match {
    case Rel(x) => Some(GraftAddConstraintCommand(x, acc.checkConstraint.name,
      acc.checkConstraint.condition))
    case _ => None
  }

  /** The ALTER COLUMN marker statements (SET/DROP NOT NULL, SET/DROP
    * DEFAULT) lower at parse time in BOTH modes: in catalog mode Spark
    * refuses `SET NOT NULL` against a nullable reported schema outright
    * ("Cannot change nullable column to non-nullable" — the analyzer
    * cannot know the connector validates the data), and `SET DEFAULT`
    * demands a catalog capability that drags the whole column-default
    * metadata surface in. TYPE widening stays catalog-native
    * (`UpdateColumnType` works as-is), so this returns None for it.
    */
  private[plans] def lowerAlterColumnMarkers(
      ac: AlterColumns): Option[LogicalPlan] = ac.table match {
    case Tbl(x) if ac.specs.length == 1 =>
      val s = ac.specs.head
      if (s.newComment.nonEmpty || s.newPosition.nonEmpty) return None
      val name = fieldName(s.column, "ALTER COLUMN")
      (s.newDataType, s.newNullability, s.newDefaultExpression,
        s.dropDefault) match {
        case (None, Some(false), None, false) =>
          Some(GraftSetNotNullCommand(x, name))
        case (None, Some(true), None, false) =>
          Some(GraftDropNotNullCommand(x, name))
        case (None, None, Some(d), false) =>
          Some(GraftSetDefaultCommand(x, name, d.originalSQL))
        case (None, None, None, true) =>
          Some(GraftDropDefaultCommand(x, name))
        case _ => None
      }
    case _ => None
  }

  private def pathAttr: Seq[Attribute] =
    Seq(AttributeReference("version_path", StringType, nullable = false)())

  /** `CREATE TABLE graft.`x`` — empty (declared schema) or AS SELECT. An
    * existing root refuses unless IF NOT EXISTS (which then no-ops
    * WITHOUT schema comparison — the standard semantics). Inline CHECK
    * constraints land as v1+ metadata commits after the init.
    */
  case class GraftCreateTableCommand(ident: String, location: Option[String],
                                     declared: StructType, pcols: Seq[String],
                                     checks: Seq[(String, String)],
                                     ignoreIfExists: Boolean,
                                     query: Option[LogicalPlan],
                                     uniques: Seq[(String, Seq[String])] = Nil)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = pathAttr
    override def run(session: SparkSession): Seq[Row] = {
      // a LOCATION on a PATH identifier must agree with it (two different
      // paths would re-address every later statement); on a bare NAME it
      // persists as a warehouse redirect below
      location.foreach(loc => if (GraftPaths.isPath(ident))
        require(loc == ident,
          s"graft SQL DDL: LOCATION '$loc' conflicts with the path " +
            s"identifier '$ident' — use one, or address the table by NAME"))
      // a redirect whose target was dropped BY PATH (so the name's slot
      // could not be cleaned) is STALE: creating through it would land
      // the new "warehouse" table at the old external location — and a
      // later DROP would delete there (review fix). Heal it on create.
      if (location.isEmpty) GraftPaths.healStaleRedirect(session, ident)
      val resolved = GraftPaths.resolve(session, ident)
      val root = location.getOrElse(resolved)
      if (root != resolved && Layout.isVersionedRoot(session, resolved))
        throw new IllegalArgumentException(
          s"graft SQL DDL: name '$ident' already resolves to a table at " +
            s"$resolved — drop it before re-creating with a LOCATION")
      if (Layout.isVersionedRoot(session, root)) {
        if (ignoreIfExists) {
          // the RE-ATTACH idiom: IF NOT EXISTS over an existing external
          // root still claims the NAME (review fix — returning without
          // the redirect left the name pointing at the empty warehouse
          // slot while reporting success)
          if (root != resolved) GraftPaths.writeRedirect(session, ident, root)
          return Seq(Row(Layout.resolveCurrent(session, root)))
        }
        throw new IllegalArgumentException(
          s"graft SQL DDL: table already exists at $root (CREATE TABLE IF " +
            "NOT EXISTS to tolerate)")
      }
      // a pre-existing NON-EMPTY directory is refused BEFORE any write:
      // initVersionedManifest would otherwise make it a versioned root,
      // and the failed-create cleanup below would then recursively delete
      // the pre-existing unrelated files along with it (review fix — the
      // emptiness gate is what makes the cleanup's dropTable safe: it can
      // only ever remove artifacts this command created)
      locally {
        val p = new org.apache.hadoop.fs.Path(root)
        val fs = p.getFileSystem(session.sparkContext.hadoopConfiguration)
        if (fs.exists(p) && fs.listStatus(p).nonEmpty)
          throw new IllegalArgumentException(
            s"graft SQL DDL: CREATE TABLE location $root exists and is " +
              "not empty — refusing to claim it (a failed create must " +
              "never delete pre-existing data)")
      }
      require(pcols.nonEmpty,
        "graft SQL DDL: CREATE TABLE graft.` ` requires PARTITIONED BY — " +
          "key-pruned commits rewrite only touched leaves, and an " +
          "unpartitioned table is one leaf every commit would rewrite")
      val df = query.map(q => Shim.ofRows(session, q)).getOrElse(
        session.createDataFrame(
          session.sparkContext.emptyRDD[Row], declared))
      pcols.foreach(p => require(df.columns.exists(_.equalsIgnoreCase(p)),
        s"graft SQL DDL: partition column '$p' is not in the table schema"))
      // atomic-by-cleanup: a failed inline constraint (CTAS data that
      // violates it, a CHECK over a missing column) must not strand a
      // half-created constraint-less table that then refuses re-CREATE
      // (review fix); the redirect writes LAST, once the table is whole
      try {
        val path = Layout.initVersionedManifest(df, root, pcols)
        checks.foreach { case (n, sql) =>
          Layout.addCheckConstraint(session, root, n, sql) }
        uniques.foreach { case (n, cols) =>
          Layout.addUniqueConstraint(session, root, n, cols) }
        if (root != resolved) GraftPaths.writeRedirect(session, ident, root)
        Seq(Row(path))
      } catch { case e: Throwable =>
        try Layout.dropTable(session, root, ifExists = true)
        catch { case _: Throwable => () }
        throw e
      }
    }
  }

  /** `DROP TABLE graft.`x`` — removes the WHOLE versioned root (data,
    * manifests, history). Refuses on a directory that is not a versioned
    * root: a mistyped path must never recursively delete arbitrary data.
    */
  case class GraftDropTableCommand(ident: String, ifExists: Boolean)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(AttributeReference("dropped", StringType, nullable = false)())
    override def run(session: SparkSession): Seq[Row] = {
      val root = GraftPaths.resolve(session, ident)
      val dropped = Layout.dropTable(session, root, ifExists)
      // the name's redirect slot (if any) dies with the table
      GraftPaths.removeRedirect(session, ident)
      if (!dropped) return Seq.empty
      Seq(Row(root))
    }
  }

  /** `SHOW CREATE TABLE graft.`x``: reconstruct the DDL from the live
    * manifest — columns with their CURRENT logical names and types,
    * declared CHECK constraints, partitioning, and the location when the
    * table does not live at its warehouse slot. One manifest read.
    */
  case class GraftShowCreateTableCommand(ident: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(AttributeReference("createtab_stmt", StringType, nullable = false)())
    override def run(session: SparkSession): Seq[Row] = {
      val root = GraftPaths.resolve(session, ident)
      val man = Layout.currentManifest(session, root)._2
      val cols =
        (graft.sources.ManifestIndex.activeSchema(man.dataSchema) ++
          man.partitionSchema)
          .map { f =>
            // column markers re-emit as real DDL so the statement
            // round-trips the table's writer-enforced state
            val markers =
              (if (man.notNullCols.contains(f.name)) " NOT NULL" else "") +
              man.defaults.get(f.name).map(d => s" DEFAULT $d").getOrElse("") +
              (if (man.identity.exists(_._1 == f.name))
                " GENERATED ALWAYS AS IDENTITY" else "") +
              man.generatedCols.get(f.name)
                .map(g => s" GENERATED ALWAYS AS ($g)").getOrElse("")
            s"  ${f.name} ${f.dataType.sql}$markers"
          }
      val checks = man.constraints.toSeq.sortBy(_._1)
        .map { case (n, sql) => s"  CONSTRAINT $n CHECK ($sql)" } ++
        man.uniqueConstraints.toSeq.sortBy(_._1)
          .map { case (n, cs) =>
            s"  CONSTRAINT $n UNIQUE (${cs.mkString(", ")})" }
      val target =
        if (GraftPaths.isPath(ident)) s"graft.`$ident`" else s"graft.$ident"
      // external iff the name carries a redirect marker — a location
      // whose last segment happens to equal the table name must still
      // print its LOCATION (review fix)
      val locLine =
        if (GraftPaths.hasRedirect(session, ident)) s"\nLOCATION '$root'"
        else ""
      Seq(Row(
        s"CREATE TABLE $target (\n${(cols ++ checks).mkString(",\n")}\n) " +
          s"PARTITIONED BY (${man.partitionSchema.fieldNames.mkString(", ")})" +
          locLine))
    }
  }

  /** `TRUNCATE TABLE graft.`x`` → an empty replace commit: the table
    * reads empty, the schema/partitioning/constraints stay, and every
    * previous version remains time-travelable until vacuumed.
    */
  case class GraftTruncateCommand(ident: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = pathAttr
    override def run(session: SparkSession): Seq[Row] = {
      val root = GraftPaths.resolve(session, ident)
      // schema-only empty frame: filter(lit(false)) over readCurrent
      // would still PLAN the full DV-applied scan for the emptiness
      // probes (review fix)
      val empty = session.createDataFrame(
        session.sparkContext.emptyRDD[Row],
        Layout.readCurrent(session, root).schema)
      Seq(Row(Layout.replaceVersionedRows(session, root, empty)))
    }
  }

  case class GraftRenameColumnCommand(ident: String, from: String, to: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = pathAttr
    override def run(session: SparkSession): Seq[Row] =
      Seq(Row(Layout.renameColumn(session,
        GraftPaths.resolve(session, ident), from, to)))
  }

  case class GraftDropColumnCommand(ident: String, name: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = pathAttr
    override def run(session: SparkSession): Seq[Row] =
      Seq(Row(Layout.dropColumn(session,
        GraftPaths.resolve(session, ident), name)))
  }

  case class GraftWidenColumnCommand(ident: String, name: String,
                                     to: DataType)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = pathAttr
    override def run(session: SparkSession): Seq[Row] =
      Seq(Row(Layout.widenColumn(session,
        GraftPaths.resolve(session, ident), name, to)))
  }

  case class GraftAddColumnCommand(ident: String, name: String,
                                   dataType: DataType)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = pathAttr
    override def run(session: SparkSession): Seq[Row] =
      Seq(Row(Layout.addColumn(session,
        GraftPaths.resolve(session, ident), name, dataType)))
  }

  case class GraftSetNotNullCommand(ident: String, name: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = pathAttr
    override def run(session: SparkSession): Seq[Row] =
      Seq(Row(Layout.setNotNull(session,
        GraftPaths.resolve(session, ident), name)))
  }

  case class GraftDropNotNullCommand(ident: String, name: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = pathAttr
    override def run(session: SparkSession): Seq[Row] =
      Seq(Row(Layout.dropNotNull(session,
        GraftPaths.resolve(session, ident), name)))
  }

  case class GraftSetDefaultCommand(ident: String, name: String,
                                    defaultSql: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = pathAttr
    override def run(session: SparkSession): Seq[Row] =
      Seq(Row(Layout.setColumnDefault(session,
        GraftPaths.resolve(session, ident), name, defaultSql)))
  }

  case class GraftDropDefaultCommand(ident: String, name: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = pathAttr
    override def run(session: SparkSession): Seq[Row] =
      Seq(Row(Layout.dropColumnDefault(session,
        GraftPaths.resolve(session, ident), name)))
  }

  case class GraftAddConstraintCommand(ident: String, name: String,
                                       conditionSql: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = pathAttr
    override def run(session: SparkSession): Seq[Row] =
      Seq(Row(Layout.addCheckConstraint(session,
        GraftPaths.resolve(session, ident), name, conditionSql)))
  }

  case class GraftDropConstraintCommand(ident: String, name: String,
                                        ifExists: Boolean)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = pathAttr
    override def run(session: SparkSession): Seq[Row] = {
      val root = GraftPaths.resolve(session, ident)
      // one namespace for both families, like the SQL statement itself
      if (Layout.hasUniqueConstraint(session, root, name))
        return Seq(Row(Layout.dropUniqueConstraint(session, root, name)))
      if (ifExists && !Layout.hasCheckConstraint(session, root, name))
        return Seq(Row(Layout.resolveCurrent(session, root)))
      Seq(Row(Layout.dropCheckConstraint(session, root, name)))
    }
  }

  /** `ALTER TABLE graft.`x` ADD CONSTRAINT n UNIQUE (cols)` — the
    * writer-enforced uniqueness gate (Layout.addUniqueConstraint:
    * existing data validated at declaration, every later write proves
    * preservation or refuses).
    */
  case class GraftAddUniqueCommand(ident: String, name: String,
                                   cols: Seq[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = pathAttr
    override def run(session: SparkSession): Seq[Row] =
      Seq(Row(Layout.addUniqueConstraint(session,
        GraftPaths.resolve(session, ident), name, cols)))
  }

  /** `DESCRIBE HISTORY graft.`x`` (parser-injected): the operation ledger,
    * newest first — version, file/byte counts, commit time, the live
    * marker and the recorded operation. O(#versions) driver metadata, the
    * same class as [[Layout.history]] itself.
    */
  case class GraftDescribeHistoryCommand(ident: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      AttributeReference("version", IntegerType, nullable = false)(),
      AttributeReference("n_files", org.apache.spark.sql.types.LongType,
        nullable = false)(),
      AttributeReference("bytes", org.apache.spark.sql.types.LongType,
        nullable = false)(),
      AttributeReference("modified", org.apache.spark.sql.types.TimestampType,
        nullable = false)(),
      AttributeReference("is_current", org.apache.spark.sql.types.BooleanType,
        nullable = false)(),
      AttributeReference("operation", StringType, nullable = true)())
    override def run(session: SparkSession): Seq[Row] =
      // O(#versions) driver METADATA by contract — history() itself
      // builds these rows driver-side from the manifest listing; this is
      // the ledger, never table data
      Layout.history(session, GraftPaths.resolve(session, ident))
        .orderBy(org.apache.spark.sql.functions.col("version").desc)
        .collect().toSeq
  }

  /** `DESCRIBE DETAIL graft.`x`` (parser-injected): one row of live-state
    * metadata — format tag, resolved location, current version, file and
    * byte counts, partition columns and declared CHECK constraints. All
    * driver metadata (one manifest read), never a data scan.
    */
  case class GraftDescribeDetailCommand(ident: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      AttributeReference("format", StringType, nullable = false)(),
      AttributeReference("location", StringType, nullable = false)(),
      AttributeReference("version", IntegerType, nullable = false)(),
      AttributeReference("n_files", org.apache.spark.sql.types.LongType,
        nullable = false)(),
      AttributeReference("bytes", org.apache.spark.sql.types.LongType,
        nullable = false)(),
      AttributeReference("partition_columns", StringType, nullable = false)(),
      AttributeReference("check_constraints", StringType, nullable = false)(),
      AttributeReference("cluster_columns", StringType, nullable = false)())
    override def run(session: SparkSession): Seq[Row] = {
      val root = GraftPaths.resolve(session, ident)
      val (live, man) = Layout.currentManifest(session, root)
      val cur = live.substring(live.lastIndexOf("/v") + 2).toInt
      Seq(Row("graft-manifest", root, cur,
        man.entries.length.toLong, man.entries.map(_.size).sum,
        man.partitionSchema.fieldNames.mkString(","),
        man.constraints.toSeq.sortBy(_._1)
          .map { case (n, sql) => s"$n CHECK ($sql)" }.mkString("; "),
        // S80 observability: the declared write-time clustering, "" if none
        man.clusterColumns.mkString(",")))
    }
  }

  /** `RESTORE [TABLE] graft.`x` TO VERSION AS OF n` (parser-injected):
    * time travel made live — a new version re-pointing at the old state
    * (history is preserved; the restore itself is an audited commit).
    */
  case class GraftRestoreCommand(ident: String, version: Int)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = pathAttr
    override def run(session: SparkSession): Seq[Row] =
      Seq(Row(Layout.restoreVersion(session,
        GraftPaths.resolve(session, ident), version)))
  }

  /** `CREATE TABLE graft.dst SHALLOW CLONE graft.src [VERSION AS OF n]`
    * (parser-injected): a zero-copy manifest clone whose entries point
    * into the source root — the Delta shallow-clone shape. The clone's
    * bytes stay OWNED by the source (compact the clone to re-home before
    * vacuuming the source — [[Layout.cloneVersion]] documents the
    * contract).
    */
  case class GraftCloneCommand(destIdent: String, srcIdent: String,
                               version: Option[Int], deep: Boolean = false)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = pathAttr
    override def run(session: SparkSession): Seq[Row] = {
      val src = GraftPaths.resolve(session, srcIdent)
      val dst = GraftPaths.resolve(session, destIdent)
      Seq(Row(
        if (deep) Layout.deepClone(session, src, dst, version)
        else Layout.cloneVersion(session, src,
          version.getOrElse(Layout.currentVersionNumber(session, src)), dst)))
    }
  }

  /** `COPY INTO graft.`x` FROM '<path>' [FILEFORMAT = PARQUET|CSV|JSON]`
    * (parser-injected — Spark's grammar lacks it): idempotent file
    * ingest; see [[Layout.copyInto]] for the exactly-once ledger
    * contract. The grammar's doc of record also updates
    * [[GraftSqlParser]].
    */
  case class GraftCopyIntoCommand(ident: String, source: String,
                                  format: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      AttributeReference("version_path", StringType, nullable = false)(),
      AttributeReference("n_files_ingested", IntegerType, nullable = false)())
    override def run(session: SparkSession): Seq[Row] = {
      val (path, n) = Layout.copyInto(session,
        GraftPaths.resolve(session, ident), source, format)
      Seq(Row(path, n))
    }
  }

  /** `ALTER TABLE graft.x CLUSTER BY (a, b)` / `CLUSTER BY NONE`
    * (parser-injected): declare — or drop — the table's S80 write-time
    * clustering, one metadata commit ([[Layout.setClusterColumns]]) whose
    * manifest records the declaration, so RESTORE, time travel and both
    * clones take the clustering of their version. Once declared, every
    * image-appending write (append / replace / upsert / merge)
    * range-places its fresh batch on the z-value of these columns, and
    * OPTIMIZE without an explicit ZORDER list re-clusters to them. NONE
    * drops the declaration; existing file layout is untouched either way
    * (OPTIMIZE rewrites).
    */
  case class GraftClusterByCommand(ident: String, cols: Seq[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(AttributeReference("cluster_columns", StringType,
        nullable = false)())
    override def run(session: SparkSession): Seq[Row] = {
      Layout.setClusterColumns(session, GraftPaths.resolve(session, ident), cols)
      Seq(Row(cols.mkString(",")))
    }
  }

  /** `VACUUM graft.`x` [RETAIN n VERSIONS | RETAIN n HOURS]`
    * (parser-injected). The HOURS form is the wall-clock policy —
    * [[Layout.Retention.Hours]] documents the window-plus-anchor rule
    * that keeps every in-window `timestampAsOf` serveable.
    */
  case class GraftVacuumCommand(ident: String, ret: Layout.Retention)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(AttributeReference("vacuumed_versions", IntegerType,
        nullable = false)())
    override def run(session: SparkSession): Seq[Row] =
      Seq(Row(Layout.vacuumRetain(session,
        GraftPaths.resolve(session, ident), ret)))
  }

  /** `OPTIMIZE graft.`x` [ZORDER BY (c1, …)]` (parser-injected): the
    * compaction (+ stats/bloom self-heal) step of [[Layout.maintain]],
    * WITHOUT the purge and vacuum steps — Delta's OPTIMIZE scope.
    */
  case class GraftOptimizeCommand(ident: String, zOrderCols: Seq[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      AttributeReference("compacted_leaves", IntegerType, nullable = false)(),
      AttributeReference("version_path", StringType, nullable = false)())
    override def run(session: SparkSession): Seq[Row] = {
      val r = Layout.maintain(session, GraftPaths.resolve(session, ident),
        Layout.MaintenancePolicy(zOrderCols = zOrderCols,
          purge = false, vacuum = false))
      Seq(Row(r.compactedLeaves, r.livePath))
    }
  }
}
