package graft.plans

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.constraints.{Check, Constraint}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.Layout

/** DataSource-V2 `TableCatalog` for graft versioned tables — the
  * catalog-NATIVE face of the by-name surface:
  *
  * {{{
  * spark.sql.catalog.graft = graft.plans.GraftCatalog   // session conf
  *
  * CREATE TABLE graft.orders (id BIGINT, v INT, part STRING,
  *   CONSTRAINT v_ok CHECK (v >= 0)) PARTITIONED BY (part)
  * INSERT INTO graft.orders SELECT …       -- DSv2 write (V1 fallback)
  * SELECT * FROM graft.orders              -- catalog-resolved read
  * ALTER TABLE graft.orders ADD COLUMN score DOUBLE
  * SHOW TABLES IN graft                    -- warehouse listing
  * USE graft; SELECT * FROM orders         -- current-catalog resolution
  * DROP TABLE graft.orders
  * }}}
  *
  * With the catalog registered, Spark's OWN grammar + catalog resolution
  * carry every standard-grammar statement — `ResolveSessionCatalog` never
  * sees the identifier, so the parse-time lowering ([[GraftDdl.lower]])
  * steps aside (it checks for a registered `graft` catalog and returns
  * None), retiring its documented fragility for exactly the statements a
  * catalog can own. The catalog's ops delegate to the SAME
  * [[graft.sources.Layout]] operations as the Scala API and the
  * non-catalog SQL surface — one implementation, three faces.
  *
  * Division of labor in catalog mode:
  *  - DDL (CREATE [AS SELECT] / ALTER / DROP / SHOW TABLES / RENAME):
  *    catalog methods below. CHECK constraints ride the Spark-4
  *    `TableInfo`/`AddConstraint` surface (capability
  *    `SUPPORT_TABLE_CONSTRAINT`).
  *  - Reads: `loadTable` → [[GraftTable]] → the
  *    [[GraftV2Read.GraftV2ReadRule]] resolution rule substitutes the
  *    relation with `Layout.readCurrent`'s plan (deletion vectors, column
  *    mapping, stats/bloom skipping apply identically) — the
  *    relation-conversion pattern lakehouse extensions standardly use, so
  *    the custom read machinery is not re-implemented as a `Scan`.
  *  - INSERT INTO / INSERT OVERWRITE / TRUNCATE: genuine DSv2 writes —
  *    [[GraftTable]] is a `SupportsWrite` whose `V1Write` fallback lands
  *    on `appendVersionedRows`/`replaceVersionedRows`, and a
  *    `TruncatableTable`. Spark's own `ResolveOutputRelation` does the
  *    column alignment/casting, replacing the hand-rolled insert paths.
  *  - MERGE / UPDATE / DELETE: lowered from the RESOLVED plan by
  *    [[GraftDmlResolved]] — the one lowering, which non-catalog path
  *    and warehouse-name targets reach through [[GraftRead]] too.
  *  - DESCRIBE HISTORY / VACUUM / OPTIMIZE / RESTORE / SHALLOW CLONE:
  *    unchanged on the injected parser (Spark has no grammar for them).
  *
  * The namespace is FLAT (tables live directly under the catalog name,
  * mirroring the warehouse directory): `listNamespaces` is empty and any
  * non-empty namespace refuses. Identifiers resolve exactly like the
  * non-catalog surface — bare names under `spark.graft.warehouse` (with
  * `_location` redirects honored), `/`-bearing names verbatim as paths.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces {
  private var catName = "graft"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catName = name
  override def name(): String = catName

  override def capabilities(): util.Set[TableCatalogCapability] =
    Set(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE).asJava

  private def spark = SparkSession.active

  private def nameOf(ident: Identifier): String = {
    if (ident.namespace().nonEmpty)
      throw new NoSuchTableException(ident)
    ident.name()
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (namespace.nonEmpty) throw new NoSuchNamespaceException(namespace)
    // driver METADATA (one warehouse directory listing) by listTables'
    // contract — never a data scan
    GraftPaths.listTables(spark).select("name").collect()
      .map(r => Identifier.of(Array.empty, r.getString(0)))
  }

  override def loadTable(ident: Identifier): Table =
    GraftTable(nameOf(ident), resolvedRootOf(ident))

  /** `VERSION AS OF n` — catalog-native time travel. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = version.toIntOption.getOrElse(throw new IllegalArgumentException(
      s"graft catalog: VERSION AS OF takes a version number, got '$version'"))
    GraftTable(nameOf(ident), resolvedRootOf(ident), pinnedVersion = Some(v))
  }

  /** `TIMESTAMP AS OF ts` — micros from Spark, millis to the layout. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    GraftTable(nameOf(ident), resolvedRootOf(ident),
      pinnedTsMillis = Some(Math.floorDiv(timestampMicros, 1000L)))

  private def resolvedRootOf(ident: Identifier): String = {
    val n = nameOf(ident)
    val root =
      try GraftPaths.resolve(spark, n)
      catch { case _: IllegalArgumentException =>
        throw new NoSuchTableException(ident) }
    if (!Layout.isVersionedRoot(spark, root)) throw new NoSuchTableException(ident)
    root
  }

  override def tableExists(ident: Identifier): Boolean =
    try { resolvedRootOf(ident); true }
    catch { case _: NoSuchTableException => false }

  override def createTable(ident: Identifier, columns: Array[Column],
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    doCreate(ident, columns, partitions, properties, Array.empty)

  override def createTable(ident: Identifier, info: TableInfo): Table =
    doCreate(ident, info.columns(), info.partitions(), info.properties(),
      info.constraints())

  /** Shared create: validates the spec the same way the non-catalog
    * surface does (only knobs the layout can represent), then runs the
    * SAME command `CREATE TABLE graft.x` lowers to — warehouse-redirect
    * persistence, pre-existing-location refusal and atomic-by-cleanup
    * semantics included.
    */
  private def doCreate(ident: Identifier, columns: Array[Column],
                       partitions: Array[Transform],
                       properties: util.Map[String, String],
                       constraints: Array[Constraint]): Table = {
    val n = nameOf(ident)
    // the schema stored in the manifest is CLEAN name/type/nullability;
    // column DEFAULTs (capability SUPPORT_COLUMN_DEFAULT_VALUE) land as
    // the same manifest markers ALTER COLUMN SET DEFAULT writes — one
    // representation, every INSERT face (catalog, path-SQL, Scala) reads
    // it. Identity/generation specs have no catalog-mode insert path
    // (see newWriteBuilder) and refuse at create.
    columns.foreach { c =>
      require(c.identityColumnSpec() == null && c.generationExpression() == null,
        s"graft catalog: identity/generated column '${c.name()}' — declare " +
          "identity via Layout.setIdentityColumn (no catalog-mode INSERT " +
          "path exists for generated values)")
      require(c.comment() == null,
        "graft catalog: column comments are not table state here")
    }
    val schema = StructType(columns.map(c =>
      org.apache.spark.sql.types.StructField(c.name(), c.dataType(),
        c.nullable())))
    val defaults = columns.toSeq.flatMap(c =>
      Option(c.defaultValue()).map(dv => c.name() -> dv.getSql))
    // Spark auto-injects provider/owner; location is ours; anything ELSE
    // (TBLPROPERTIES, OPTIONS via the option. prefix, comments) has no
    // layout representation and must refuse loudly, mirroring specOf
    val allowed = Set(TableCatalog.PROP_LOCATION, TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_TABLE_TYPE,
      TableCatalog.PROP_IS_MANAGED_LOCATION)
    val extra = properties.keySet().asScala.filterNot(allowed)
    require(extra.isEmpty,
      s"graft catalog: unsupported table properties ${extra.mkString(", ")}" +
        " — the layout represents location and partitioning only")
    val provider = Option(properties.get(TableCatalog.PROP_PROVIDER))
    require(provider.forall(p => p.equalsIgnoreCase("graft") ||
        p.equalsIgnoreCase(spark.sessionState.conf.defaultDataSourceName)),
      s"graft catalog: USING ${provider.get} on a graft.` ` target — omit " +
        "USING or write USING graft")
    val pcols = partitions.map { t =>
      require(t.name == "identity",
        "graft catalog: only identity PARTITIONED BY columns are supported " +
          s"(the layout's leaves are literal partition dirs), got $t")
      val refs = t.references()
      require(refs.length == 1 && refs(0).fieldNames().length == 1,
        s"graft catalog: malformed partition ref $t")
      refs(0).fieldNames().head
    }.toSeq
    val checks = constraints.toSeq.collect {
      case c: Check =>
        require(c.enforced(),
          s"graft catalog: NOT ENFORCED constraints are not supported ($c)")
        c.name() -> c.predicateSql()
    }
    // UNIQUE is accepted whatever Spark's enforced flag says — the
    // layout's writer gates genuinely enforce it (Spark itself treats
    // UNIQUE as informational, so the flag arrives false)
    val uniques = constraints.toSeq.collect {
      case u: org.apache.spark.sql.connector.catalog.constraints.Unique =>
        u.name() -> u.columns().toSeq.map { r =>
          require(r.fieldNames().length == 1,
            s"graft catalog: nested-field UNIQUE column $r")
          r.fieldNames().head
        }
    }
    constraints.foreach {
      case _: Check => ()
      case _: org.apache.spark.sql.connector.catalog.constraints.Unique => ()
      case other => throw new IllegalArgumentException(
        s"graft catalog: only CHECK and UNIQUE constraints are " +
          s"supported, got $other")
    }
    GraftDdl.GraftCreateTableCommand(n,
      Option(properties.get(TableCatalog.PROP_LOCATION)), schema, pcols,
      checks, ignoreIfExists = false, query = None,
      uniques = uniques).run(spark)
    val root = GraftPaths.resolve(spark, n)
    defaults.foreach { case (c, sql) =>
      Layout.setColumnDefault(spark, root, c, sql) }
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val n = nameOf(ident)
    val root = resolvedRootOf(ident)
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          "graft catalog: nested-field ADD COLUMN is not supported")
        require(a.isNullable,
          "graft catalog: an added column must be nullable — every row " +
            "that predates it reads as NULL")
        require(a.defaultValue() == null,
          "graft catalog: ADD COLUMN DEFAULT is not supported")
        // refuse-loudly convention: silently appending a column the user
        // positioned FIRST/AFTER (or commented) would drop their stated
        // intent (review fix)
        require(a.position() == null,
          "graft catalog: ADD COLUMN FIRST/AFTER is not supported — " +
            "columns append at the end")
        require(a.comment() == null,
          "graft catalog: column comments are not table state here")
        Layout.addColumn(spark, root, a.fieldNames().head, a.dataType())
      case r: TableChange.RenameColumn =>
        require(r.fieldNames().length == 1,
          "graft catalog: nested-field RENAME COLUMN is not supported")
        Layout.renameColumn(spark, root, r.fieldNames().head, r.newName())
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames().length == 1,
          "graft catalog: nested-field DROP COLUMN is not supported")
        Layout.dropColumn(spark, root, d.fieldNames().head)
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames().length == 1,
          "graft catalog: nested-field ALTER COLUMN is not supported")
        Layout.widenColumn(spark, root, u.fieldNames().head, u.newDataType())
      case nn: TableChange.UpdateColumnNullability =>
        require(nn.fieldNames().length == 1,
          "graft catalog: nested-field ALTER COLUMN is not supported")
        if (nn.nullable()) Layout.dropNotNull(spark, root, nn.fieldNames().head)
        else Layout.setNotNull(spark, root, nn.fieldNames().head)
      case dv: TableChange.UpdateColumnDefaultValue =>
        require(dv.fieldNames().length == 1,
          "graft catalog: nested-field ALTER COLUMN is not supported")
        val sql = dv.newDefaultValue()
        if (sql == null || sql.isEmpty)
          Layout.dropColumnDefault(spark, root, dv.fieldNames().head)
        else Layout.setColumnDefault(spark, root, dv.fieldNames().head, sql)
      case ac: TableChange.AddConstraint =>
        ac.constraint() match {
          case c: Check =>
            Layout.addCheckConstraint(spark, root, c.name(), c.predicateSql())
          case u: org.apache.spark.sql.connector.catalog.constraints.Unique =>
            Layout.addUniqueConstraint(spark, root, u.name(),
              u.columns().toSeq.map { r =>
                require(r.fieldNames().length == 1,
                  s"graft catalog: nested-field UNIQUE column $r")
                r.fieldNames().head
              })
          case other => throw new IllegalArgumentException(
            s"graft catalog: only CHECK and UNIQUE constraints are " +
              s"supported, got $other")
        }
      case dc: TableChange.DropConstraint =>
        require(dc.mode() != TableChange.DropConstraint.Mode.CASCADE,
          "graft catalog: DROP CONSTRAINT … CASCADE has no distinct " +
            "meaning — use the plain form")
        // one namespace for both families, like the SQL statement
        if (Layout.hasUniqueConstraint(spark, root, dc.name()))
          Layout.dropUniqueConstraint(spark, root, dc.name())
        else if (!(dc.ifExists() && !Layout.hasCheckConstraint(spark, root, dc.name())))
          Layout.dropCheckConstraint(spark, root, dc.name())
      case other => throw new IllegalArgumentException(
        s"graft catalog: unsupported ALTER TABLE change $other — the " +
          "layout supports add/rename/drop/widen columns and CHECK " +
          "constraints")
    }
    GraftTable(n, root)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val n = nameOf(ident)
    val root =
      try GraftPaths.resolve(spark, n)
      catch { case _: IllegalArgumentException => return false }
    val dropped = Layout.dropTable(spark, root, ifExists = true)
    if (dropped) GraftPaths.removeRedirect(spark, n)
    dropped
  }

  /** `ALTER TABLE graft.a RENAME TO graft.b` — a warehouse-slot directory
    * rename: one fs.rename, version history and any `_location` redirect
    * marker move with the slot. Path identifiers refuse (renaming an
    * external root would re-home data the name does not own).
    */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = nameOf(oldIdent)
    // `RENAME TO graft.x` ships the catalog name as the new identifier's
    // namespace (Spark does not re-resolve the target against the
    // catalog) — strip it FIRST; any OTHER namespace is a real (refused)
    // one. Every later check must use the STRIPPED identifier: probing
    // tableExists with the namespace-bearing original always answers
    // false (nameOf throws inside it), which silently disarmed the
    // target-exists guard and let a rename land INSIDE an existing
    // table's slot (review fix).
    val strippedNew =
      if (newIdent.namespace().sameElements(Array(catName)))
        Identifier.of(Array.empty, newIdent.name())
      else newIdent
    val to = nameOf(strippedNew)
    require(!GraftPaths.isPath(from) && !GraftPaths.isPath(to),
      "graft catalog: RENAME works on warehouse NAMES — a path-addressed " +
        "table is already at its location")
    resolvedRootOf(oldIdent) // existence check (throws NoSuchTable)
    if (tableExists(strippedNew))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(strippedNew)
    val src = new org.apache.hadoop.fs.Path(GraftPaths.slotDir(spark, from))
    val dst = new org.apache.hadoop.fs.Path(GraftPaths.slotDir(spark, to))
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.rename(src, dst),
      s"graft catalog: rename $src → $dst failed")
  }

  // --- flat namespace ---
  override def defaultNamespace(): Array[String] = Array.empty
  override def listNamespaces(): Array[Array[String]] = Array.empty
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.nonEmpty) throw new NoSuchNamespaceException(namespace)
    Array.empty
  }
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty
  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (namespace.nonEmpty) throw new NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }
  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: the namespace is flat — tables live directly under " +
        s"$catName")
  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: the namespace is flat and immutable")
  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(
      "graft catalog: the namespace is flat and immutable")
}

/** A graft versioned root as a DSv2 `Table` — built by the catalog's
  * `loadTable`, and by [[GraftRead.GraftReadRule]] for a path or
  * warehouse-name DELETE/UPDATE/MERGE target. Reads are substituted by
  * [[GraftV2Read.GraftV2ReadRule]]; row-level DML lowers through
  * [[GraftDmlResolved]] (see [[GraftCatalog]]'s division of labor);
  * INSERT and TRUNCATE are genuine DSv2 — `V1Write` fallback onto the layout's
  * append/replace commits, `TruncatableTable` onto an empty replace.
  * `pinnedVersion`/`pinnedTsMillis` carry time travel from the catalog's
  * `loadTable(ident, version/timestamp)` overloads to the read rule.
  */
case class GraftTable(ident: String, root: String,
                      pinnedVersion: Option[Int] = None,
                      pinnedTsMillis: Option[Long] = None)
    extends Table with SupportsWrite with TruncatableTable {

  private def spark = SparkSession.active

  /** The read plan this table stands for — also the schema source. */
  private[plans] def readPlan(): org.apache.spark.sql.DataFrame =
    (pinnedVersion, pinnedTsMillis) match {
      case (Some(v), _) => Layout.readVersion(spark, root, v)
      case (_, Some(ms)) => Layout.readAsOf(spark, root, ms)
      case _ => Layout.readCurrent(spark, root)
    }

  override def name(): String = s"graft.$ident"

  override lazy val schema: StructType = readPlan().schema

  private lazy val manifestState: graft.sources.ManifestIndex.TableManifest =
    Layout.currentManifest(spark, root)._2

  /** Column DEFAULTs surface as v2 column metadata (capability
    * `SUPPORT_COLUMN_DEFAULT_VALUE` on the catalog), so Spark's OWN
    * insert resolution fills an omitted column with its declared default
    * — the catalog INSERT face of [[Layout.completeInsertColumns]]. The
    * literal value is the default folded NOW on the driver: defaults are
    * column-free by [[Layout.setColumnDefault]]'s contract, so the
    * optimized probe projection is one constant and no Spark job runs
    * (Spark builds this relation for every statement that names the
    * table, DML analysis included).
    */
  override def columns(): Array[org.apache.spark.sql.connector.catalog.Column] = {
    val dfts = manifestState.defaults
    schema.fields.map { f =>
      dfts.get(f.name) match {
        case Some(sql) =>
          // the optimized probe's one projection: Alias(v) over the
          // constant-folded default
          val value = spark.range(1).select()
            .select(org.apache.spark.sql.functions.expr(sql)
              .cast(f.dataType).as("v")).queryExecution.optimizedPlan
            .expressions.head.eval()
          org.apache.spark.sql.connector.catalog.Column.create(
            f.name, f.dataType, f.nullable, null,
            new ColumnDefaultValue(sql,
              org.apache.spark.sql.graft.Shim.v2Literal(value, f.dataType)),
            null)
        case None =>
          org.apache.spark.sql.connector.catalog.Column.create(
            f.name, f.dataType, f.nullable)
      }
    }
  }

  override def partitioning(): Array[Transform] =
    Layout.partitionColumns(spark, root).map(Expressions.identity).toArray

  override def properties(): util.Map[String, String] =
    Map(TableCatalog.PROP_LOCATION -> root,
      TableCatalog.PROP_PROVIDER -> "graft").asJava

  override def constraints(): Array[Constraint] =
    manifestState.constraints.toSeq.sortBy(_._1).map { case (n, sql) =>
      Constraint.check(n).predicateSql(sql).build(): Constraint
    }.toArray

  override def capabilities(): util.Set[TableCapability] =
    // NO AUTOMATIC_SCHEMA_EVOLUTION: Spark's ResolveMergeIntoSchemaEvolution
    // expands star actions POSITIONALLY against a table schema it assumes
    // appends new columns at the END — graft appends data columns BEFORE
    // the partition columns, so the transition pass mis-wires assignments
    // (measured: `part ← cast(part as double)` on a PARTITIONED BY (part)
    // table). With the capability withheld the analyzer carries the
    // evolution flag inert, and GraftDmlResolved lowers the merge from
    // the resolved plan with NAME-based star re-expansion —
    // GraftMergeCommand's own skip-if-present evolution is
    // partition-layout-aware.
    Set(TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty && pinnedTsMillis.isEmpty,
      s"graft catalog: cannot write to a time-travel snapshot of $ident")
    // a GENERATED identity column cannot ride the DSv2 insert path: Spark
    // materializes every target column (NULL-filling an omitted one), so
    // by the time insert() sees the frame the column is present and the
    // writer's replay-safety gate must refuse it — fail HERE with the
    // actionable message instead (review fix: the gate's message talks
    // about completeInsertColumns, which a catalog SQL user cannot reach)
    manifestState.identity.foreach { case (c, _) =>
      throw new IllegalArgumentException(
        s"graft catalog: '$c' is a GENERATED identity column — catalog-" +
          "mode INSERT cannot omit it (Spark fills every target column); " +
          "use the path-addressed INSERT surface or the Scala API, which " +
          "generate the ids")
    }
    new WriteBuilder with SupportsTruncate {
      private var replaceAll = false
      override def truncate(): WriteBuilder = { replaceAll = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.Dataset[
                org.apache.spark.sql.Row], overwrite: Boolean): Unit = {
              // Spark's ResolveOutputRelation already aligned/cast the
              // query to the table schema; the layout writer re-validates
              // (constraint gate, partition-column presence) and commits
              if (replaceAll || overwrite)
                Layout.replaceVersionedRows(data.sparkSession, root, data.toDF())
              else Layout.appendVersionedRows(data.sparkSession, root, data.toDF())
              ()
            }
          }
      }
    }
  }

  /** v2 `TRUNCATE TABLE` — the same empty replace commit the non-catalog
    * surface uses: schema/partitioning/constraints stay, every previous
    * version stays time-travelable until vacuumed.
    */
  override def truncateTable(): Boolean = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Layout.readCurrent(spark, root).schema)
    Layout.replaceVersionedRows(spark, root, empty)
    true
  }
}
