package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, EqualNullSafe, EqualTo, Expression, GenericInternalRow, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Not, Or, Predicate, StartsWith}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, DateType, DecimalType, DoubleType, FloatType, IntegerType, LongType, NumericType, ShortType, StringType, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String
import org.json4s.{JArray, JInt, JLong, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods

/** Storage for [[Layout]]'s versioned roots: a version is a FILE LIST,
  * not a directory tree.
  *
  * `root/vNNNNN.manifest` records, for version N, the table's data schema,
  * partition schema (empty for an unpartitioned root, whose entries all
  * sit in the leaf `""`), table properties, and one (leaf, path, size)
  * entry per data file — where `path` is either relative to `root`
  * (normal case) or absolute (zero-copy clones referencing another root).
  * Carry-forward of an untouched partition is a MANIFEST ENTRY COPY: zero
  * filesystem operations, on object stores too. Change-feed pruning
  * compares manifests — file paths are immutable once written, so equal
  * entry sets prove equal bytes without stat-ing anything.
  *
  * The read path is a custom [[FileIndex]] over the manifest (the
  * Delta/Iceberg integration shape): ONE parquet scan node for the whole
  * snapshot, partition pruning evaluated against manifest-derived partition
  * values — no directory listing, no footer sampling for schema (the
  * manifest's data schema is authoritative, so files written before a
  * schema-evolving merge null-fill the added columns by name).
  */
object ManifestIndex {

  val FormatTag = "graft-manifest-v1"
  /** v2 = v1 plus one properties-JSON line between the tag and the
    * schemas (table properties: the per-commit operation, CHECK
    * constraints, future knobs). Since every Layout commit stamps its
    * operation, every NEW commit is v2; the v1 write branch remains for
    * raw [[write]] callers with empty properties, and the read path
    * accepts both forever.
    */
  val FormatTagV2 = "graft-manifest-v2"

  /** One data file of a version: hive leaf fragment (`a=1/b=2`), path
    * (root-relative, or absolute for cross-root clone references), exact
    * length in bytes (the parquet reader trusts it for footer location),
    * optional per-column min/max/null-count statistics for FILE-LEVEL
    * DATA SKIPPING (the Delta/Iceberg prune: a pushed predicate that
    * cannot hold anywhere in a file's [min, max] envelope drops the file
    * before a task is ever scheduled for it — parquet row-group skipping
    * still needs a footer read per file; this doesn't), and an optional
    * DELETION VECTOR reference — rows of this file marked deleted without
    * rewriting the file (merge-on-read; see [[DvRef]]).
    */
  case class Entry(leaf: String, path: String, size: Long,
                   stats: Option[FileStats] = None,
                   dv: Option[DvRef] = None)

  /** Deletion-vector reference: `path` is a parquet dataset (root-relative,
    * or absolute for clone references) holding `(path: string, pos: long)`
    * rows — `path` being the [[dvKey]] of a data file and `pos` a 0-based
    * parquet row index within it — and `rows` the number of positions that
    * apply to THIS entry's file. The read path drops these positions with
    * one broadcast anti-join on `(_metadata.file_path, _metadata.row_index)`
    * — a DELETE costs O(matched rows) written, not a rewrite of every
    * touched file, which at 100 TB is the difference between a metadata
    * operation and a table copy. One DV dataset per commit is shared by
    * every entry that commit touched.
    */
  case class DvRef(path: String, rows: Long)

  /** Stable identity of a data file across clone re-pointing: the suffix of
    * its path from the last `vNNNNN` segment on (`v00003/a=1/part-x.parquet`).
    * [[cloneVersion]] absolutizes entry paths (`/src/root/v00003/...`), but
    * the version-dir-relative suffix never changes — data files are
    * immutable and never re-homed within a root (a rewrite is a NEW file
    * and drops the DV) — so DV datasets key on this suffix and survive
    * cloning without rewriting a single position.
    */
  def dvKey(path: String): String = {
    val segs = path.split('/')
    val i = segs.lastIndexWhere(_.matches("v\\d{5}"))
    if (i < 0) path else segs.drop(i).mkString("/")
  }

  /** `min`/`max` are string-encoded bounds (see [[FileStatsTracker]] for the
    * per-type encoding); ABSENT means unknown (over-long string, or a
    * column added after this file was written), NOT all-null — all-null is
    * `nulls == FileStats.rows`. Skipping must treat a missing bound as
    * unbounded on that side. `bloom` is an optional per-file Bloom filter
    * over the column's values (see [[BloomStat]]) for POINT-LOOKUP
    * skipping where a [min, max] envelope is useless — a high-cardinality
    * id column's envelope spans nearly every file, but `id = X` can only
    * match files whose bloom holds X's bits.
    */
  case class ColStats(min: Option[String], max: Option[String], nulls: Long,
                      bloom: Option[BloomStat] = None,
                      ndv: Option[String] = None,
                      hist: Option[Seq[String]] = None)

  /** Per-file Bloom filter: `bits` = base64 of an m-bit bitset (m =
    * decoded-length × 8), `k` = hash count. Positions are derived
    * Kirsch–Mitzenmacher style from ONE `xxhash64` of the value —
    * `h1 = h >>> 32`, `h2 = (h & 0xffffffff) | 1`, `pos_i = (h1 + i·h2)
    * mod m` — so the literal side can recompute them exactly with the
    * same Catalyst hash. A set bit can lie (false positive → keep the
    * file); a missing bit cannot (the value was never inserted → prune).
    */
  case class BloomStat(k: Int, bits: String)

  /** Per-file NDV sketch width: DataSketches HLL at lgK=8 (256 buckets,
    * ~6.5% relative error) — a compact sketch is ≲200 B base64 per
    * (file, column), the same storage class as the bloom bits, and
    * MERGEABLE: [[planStatsTable]] unions the per-file sketches across
    * kept entries driver-side, so the TABLE-level `distinctCount` the CBO
    * sees is the estimate over the union (per-file NDVs would double-count
    * keys repeated across files).
    */
  private[sources] val NdvLgK = 8

  /** Equi-height histogram bins per NUMERIC column (S82): the write-time
    * stats ([[FileStatsTracker]]) record `HistBins + 1` quantile fences
    * per file (a percentile_approx digest beside the min/max/NDV
    * accumulators), and [[planStatsTable]] merges them into the table-level
    * `CatalogColumnStat.histogram` by summing the per-file piecewise-
    * linear CDFs (row-count weighted) and inverting at the global
    * equi-height targets — the selectivity half of the CBO feed S79's NDV
    * left open: a range predicate on a SKEWED column estimates from where
    * the rows actually sit, not from uniform min/max interpolation.
    * `spark.graft.stats.histogramBins` (write-time; 0 disables) overrides.
    */
  private[sources] val HistBins = 16

  /** percentile_approx accuracy of the per-file fences (relative error
    * 1/2500).
    */
  private[sources] val HistAccuracy = 2500

  case class FileStats(rows: Long, cols: Map[String, ColStats])

  case class TableManifest(dataSchema: StructType, partitionSchema: StructType,
                           entries: Seq[Entry],
                           properties: Map[String, String] = Map.empty) {
    def leaves: Set[String] = entries.iterator.map(_.leaf).toSet
    /** Entries grouped per leaf — the unit of carry-forward and pruning. */
    def byLeaf: Map[String, Seq[Entry]] = entries.groupBy(_.leaf)
    /** name -> SQL predicate of the table's CHECK constraints (keys strip
      * the `constraint.` property prefix).
      */
    def constraints: Map[String, String] = properties.collect {
      case (k, v) if k.startsWith(ConstraintPrefix) =>
        k.substring(ConstraintPrefix.length) -> v
    }
    /** Columns declared NOT NULL (writer-enforced, like CHECKs). */
    def notNullCols: Set[String] = properties.collect {
      case (k, _) if k.startsWith(NotNullPrefix) =>
        k.substring(NotNullPrefix.length)
    }.toSet
    /** Everything the WRITERS must validate per batch: declared CHECKs,
      * each NOT NULL column as a synthesized null probe (`IS NOT NULL`
      * never evaluates to SQL-NULL, so the CHECK gate's NULL-passes
      * semantics cannot leak a null through), and a probe per column the
      * STORED SCHEMA declares non-nullable — without it a NULL written
      * into such a column is silently coerced to the type's zero by the
      * physical write (the InternalRow primitive read), which is data
      * corruption, not a refusal.
      */
    def writerChecks: Map[String, String] = constraints ++
      notNullCols.map(c => s"__not_null_$c" -> s"`$c` IS NOT NULL") ++
      (activeSchema(dataSchema) ++ partitionSchema).collect {
        case f if !f.nullable =>
          s"__schema_not_null_${f.name}" -> s"`${f.name}` IS NOT NULL"
      } ++
      // a GENERATED column must EQUAL its expression in every committed
      // row, whichever write path produced it — null-safe equality, so
      // the CHECK gate's NULL-passes semantics cannot leak a drifted
      // value through, and an UPDATE/MERGE that breaks the invariant is
      // refused loudly instead of committing silent staleness
      generatedCols.map { case (c, e) =>
        s"__generated_$c" -> s"`$c` <=> ($e)"
      }
    /** column -> DEFAULT expression SQL, applied when an INSERT omits
      * the column.
      */
    def defaults: Map[String, String] = properties.collect {
      case (k, v) if k.startsWith(DefaultPrefix) =>
        k.substring(DefaultPrefix.length) -> v
    }
    /** The GENERATED identity column and its committed high-water mark,
      * if declared (at most one per table).
      */
    def identity: Option[(String, Long)] = properties.collectFirst {
      case (k, v) if k.startsWith(IdentityPrefix) =>
        k.substring(IdentityPrefix.length) -> v.toLong
    }
    /** column -> generation expression SQL (GENERATED ALWAYS AS):
      * filled when an INSERT omits the column, equality-enforced by
      * [[writerChecks]] when any write provides it.
      */
    def generatedCols: Map[String, String] = properties.collect {
      case (k, v) if k.startsWith(GeneratedPrefix) =>
        k.substring(GeneratedPrefix.length) -> v
    }
    /** name -> columns of the table's UNIQUE constraints (writer-enforced
      * — see Layout.addUniqueConstraint for the per-path contract).
      */
    def uniqueConstraints: Map[String, Seq[String]] = properties.collect {
      case (k, v) if k.startsWith(UniquePrefix) =>
        k.substring(UniquePrefix.length) -> v.split(",").toSeq
    }
    /** Columns that get per-file Bloom filters on every commit's new
      * files (see [[BloomKey]]); empty when none are declared.
      */
    def bloomColumns: Seq[String] = columnList(properties, BloomKey)
    /** The declared write-time clustering (see [[ClusterKey]]); empty
      * when none is declared.
      */
    def clusterColumns: Seq[String] = columnList(properties, ClusterKey)
    /** This manifest with the column list under `key` set to `cols`, or
      * removed when `cols` is empty.
      */
    def withColumnList(key: String, cols: Seq[String]): TableManifest =
      copy(properties =
        if (cols.isEmpty) properties - key
        else properties + (key -> JsonMethods.compact(
          JArray(cols.map(c => JString(c): JValue).toList))))
  }

  /** Property-key prefix under which CHECK constraints live. */
  val ConstraintPrefix = "constraint."

  /** Property-key prefix for NOT NULL column markers (value unused). */
  val NotNullPrefix = "notnull."

  /** Property-key prefix for column DEFAULT expressions (value = SQL). */
  val DefaultPrefix = "default."

  /** Property-key prefix of the COPY INTO ingest ledger: `ingest.<path>`
    * -> the version that ingested the file. Committed in the SAME
    * manifest write as the rows (extraProps), so a file can never be
    * half-ingested: a crash before the commit leaves it unmarked and the
    * retry re-ingests it whole. The ledger is carried in every manifest;
    * at very large ingested-file counts compact it to per-directory
    * watermarks (the property line is one JSON object — millions of keys
    * would dominate manifest bytes).
    */
  val IngestPrefix = "ingest."

  /** Property-key prefix for UNIQUE constraints (`unique.<name>` ->
    * comma-joined column list). Writer-enforced like CHECKs but NOT a
    * row-local predicate, so enforcement lives in each write path's own
    * gate rather than [[TableManifest.writerChecks]].
    */
  val UniquePrefix = "unique."

  /** Property-key prefix for expression-GENERATED columns
    * (`generatedcol.<col>` -> generation expression SQL). Distinct from
    * [[IdentityPrefix]]: identity is value-assigning state (a high-water
    * mark), this is a pure function of the row's other columns.
    */
  val GeneratedPrefix = "generatedcol."

  /** Property-key prefix for the identity column high-water mark
    * (`identity.<col>` -> highest value ever GENERATED; values above it
    * are free). Committed in the SAME manifest write as the rows that
    * consumed them, so a crash can never replay an id.
    */
  val IdentityPrefix = "identity."

  /** Property-key prefix for idempotent-writer watermarks: `txn.<appId>`
    * holds the highest batch id that application has committed. A writer
    * presenting `(appId, batchId)` with `batchId <=` the stored watermark
    * is a REPLAY and must no-op — the Delta `txn` shape that turns
    * at-least-once batch delivery into exactly-once commits.
    */
  val TxnPrefix = "txn."

  /** Property naming the operation that produced this version (MERGE,
    * DELETE ROWS, COMPACT, ...) — overwritten on every commit, so each
    * manifest records its own (the DESCRIBE HISTORY surface).
    */
  val OperationKey = "commit.operation"

  /** Property-key prefix of the metadata a `Layout.publishVersion` commit
    * records (`publish.<name>` -> value) — replaced wholesale by every
    * publish, so a key holds exactly what that version's publish wrote.
    */
  val PublishPrefix = "publish."

  /** Property naming the columns whose per-file Bloom filters every
    * commit's NEW files record (a JSON array of logical names, so any
    * name round-trips exactly). Files written before the declaration
    * keep no bloom — absent blooms never prune, so the table stays
    * correct and tightens as it rewrites.
    */
  val BloomKey = "bloom.columns"

  /** Property naming the declared write-time clustering (S80; a JSON
    * array of logical names): once declared, EVERY image-appending write
    * (append, replace, upsert, merge) range-places its fresh batch on the
    * z-value of these columns before landing, so per-file min/max
    * envelopes stay tight without waiting for an OPTIMIZE ZORDER pass,
    * and OPTIMIZE without an explicit list re-clusters to them. Explicit
    * `zOrderCols` arguments on append/replace/compact override the
    * declaration for that call.
    */
  val ClusterKey = "cluster.columns"

  private def columnList(properties: Map[String, String],
                         key: String): Seq[String] =
    properties.get(key).fold(Seq.empty[String]) { v =>
      JsonMethods.parse(v) match {
        case JArray(names) => names.map {
          case JString(n) => n
          case other => throw new IllegalArgumentException(
            s"malformed $key property: $other")
        }
        case other => throw new IllegalArgumentException(
          s"malformed $key property: $other")
      }
    }

  // ------------------------------------------------------------- file format

  def manifestPath(root: String, version: String) = new Path(root, s"$version.manifest")

  /** TSV body after a tag line and two one-line schema JSONs. Written to a
    * temp name then renamed so a crashed writer never leaves a torn
    * manifest where a reader (or vacuum) could trust it.
    */
  def write(spark: SparkSession, root: String, version: String,
            m: TableManifest): Unit = {
    // physical names are the on-disk identity — a duplicate (e.g. schema
    // evolution adding a column spelled like a renamed column's PHYSICAL
    // name) would make footer resolution ambiguous; refuse at the single
    // commit choke point
    val phys = m.dataSchema.map(physicalName)
    require(phys.distinct.length == phys.length,
      s"duplicate physical column names ${phys.mkString(",")} — an added " +
        "column may not reuse a renamed column's physical name")
    val sb = new StringBuilder
    // v1 manifests (no properties line) are still written when there is
    // nothing to record, so pre-v2 readers of plain tables keep working
    if (m.properties.isEmpty) sb.append(FormatTag).append('\n')
    else {
      sb.append(FormatTagV2).append('\n')
      sb.append(JsonMethods.compact(JObject(m.properties.toList.sortBy(_._1)
        .map { case (k, v) => k -> (JString(v): JValue) }))).append('\n')
    }
    sb.append(m.dataSchema.json).append('\n')
    sb.append(m.partitionSchema.json).append('\n')
    m.entries.foreach { e =>
      sb.append(e.leaf).append('\t').append(e.path).append('\t').append(e.size)
      // optional tail fields, each one-line JSON (Jackson escapes control
      // chars, so a value can never contain a literal tab or newline):
      // bare `{...}` = stats (the pre-DV format, kept for back-compat),
      // `dv:{...}` = deletion-vector reference
      e.stats.foreach(s => sb.append('\t').append(statsToJson(s)))
      e.dv.foreach(d => sb.append('\t').append("dv:").append(JsonMethods.compact(
        JObject("path" -> (JString(d.path): JValue),
          "rows" -> (JLong(d.rows): JValue)))))
      sb.append('\n')
    }
    val dst = manifestPath(root, version)
    val tmp = new Path(root, s"$version.manifest.tmp")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    try out.write(sb.toString.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"manifest commit rename failed: $dst")
  }

  def read(spark: SparkSession, root: String, version: String): TableManifest = {
    val p = manifestPath(root, version)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the one check that a root is a table: every reader and writer
    // resolves its manifest through here
    require(fs.exists(p), s"$root holds no manifest for $version — not a " +
      "manifest root, or the version was never committed or is already " +
      "vacuumed")
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    val lines = text.split('\n')
    require(lines.nonEmpty && (lines(0) == FormatTag || lines(0) == FormatTagV2),
      s"$p is not a $FormatTag/$FormatTagV2 manifest")
    // v2 inserts ONE properties-JSON line between the tag and the schemas
    val (properties, off) =
      if (lines(0) == FormatTag) (Map.empty[String, String], 1)
      else (JsonMethods.parse(lines(1)) match {
        case JObject(fields) => fields.collect {
          case (k, JString(v)) => k -> v
        }.toMap
        case other => throw new IllegalArgumentException(
          s"malformed properties line in $p: $other")
      }, 2)
    val dataSchema = DataType.fromJson(lines(off)).asInstanceOf[StructType]
    val partitionSchema = DataType.fromJson(lines(off + 1)).asInstanceOf[StructType]
    val entries = lines.iterator.drop(off + 2).filter(_.nonEmpty).map { l =>
      // 3 positional fields, then optional tagged tails: bare JSON = stats
      // (also the whole of the pre-DV 4-field format), `dv:` = DV reference
      val fields = l.split('\t')
      require(fields.length >= 3,
        s"malformed manifest line (${fields.length} fields): $l")
      var e = Entry(fields(0), fields(1), fields(2).toLong)
      fields.iterator.drop(3).foreach { f =>
        if (f.startsWith("dv:")) {
          val j = JsonMethods.parse(f.substring(3))
          val path = (j \ "path") match {
            case JString(p) => p
            case other => throw new IllegalArgumentException(
              s"malformed dv reference in manifest line: $l ($other)")
          }
          e = e.copy(dv = Some(DvRef(path, jLong(j \ "rows"))))
        } else e = e.copy(stats = Some(statsFromJson(f)))
      }
      e
    }.toSeq
    TableManifest(dataSchema, partitionSchema, entries, properties)
  }

  def exists(spark: SparkSession, root: String, version: String): Boolean = {
    val p = manifestPath(root, version)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  // -------------------------------------------------------- per-file stats

  /** Stats are collected for at most this many leading eligible data
    * columns (Delta's `dataSkippingNumIndexedCols` shape — wide tables
    * would otherwise pay stats collection and manifest bytes for columns
    * nobody filters on).
    */
  val MaxStatsCols = 32

  /** String min/max longer than this are dropped (bound → unknown) rather
    * than bloating the manifest with document-sized values.
    */
  val MaxStringStatLen = 64

  /** Bloom sizing: 16384 bits = 2 KiB base64 per (file, column). At the
    * Delta-style default of ~10 bits/distinct value this targets ~1.6k
    * distinct values per file at ~1% false positives; denser files degrade
    * gracefully toward "keep everything" (a saturated bloom never prunes
    * wrongly). Choose bloom columns accordingly: high-cardinality ids
    * queried by equality, on tables whose files are reasonably clustered
    * by that id (write order, Z-order, or bucketing).
    */
  val BloomBits = 16384
  val BloomHashes = 4

  /** Every declared bloom column must be stats-indexed: exist (actively),
    * carry an eligible type, and fall within the first [[MaxStatsCols]]
    * eligible columns — otherwise the write-time stats could never record
    * its bloom and the declaration would be a silent no-op.
    */
  def validateBloomColumns(cols: Seq[String], dataSchema: StructType): Unit = {
    val eligible = activeSchema(dataSchema).fields
      .filter(f => statsEligible(f.dataType)).take(MaxStatsCols)
      .map(_.name).toSet
    cols.foreach(c => require(eligible.contains(c),
      s"bloom column '$c' is not stats-indexed (must exist, have an " +
        s"eligible type, and be within the first $MaxStatsCols eligible " +
        s"columns); indexable: ${eligible.toSeq.sorted.mkString(",")}"))
  }

  /** Cluster columns must be active NUMERIC data columns: the z-value
    * interleave works on [min, max]-normalized doubles, and a partition
    * column already splits the leaves.
    */
  def validateClusterColumns(cols: Seq[String], dataSchema: StructType,
                             partitionSchema: StructType): Unit = {
    val numeric = activeSchema(dataSchema).fields
      .filter(_.dataType.isInstanceOf[NumericType]).map(_.name).toSet
    cols.foreach { c =>
      require(!partitionSchema.fieldNames.contains(c),
        s"cluster column '$c' is a partition column — the leaves already " +
          "split on it")
      require(numeric.contains(c),
        s"cluster column '$c' must be an active numeric data column; " +
          s"eligible: ${numeric.toSeq.sorted.mkString(",")}")
    }
  }

  /** Kirsch–Mitzenmacher positions of one xxhash64 value — the ONE
    * definition both the writer ([[FileStatsTracker]]) and the literal-side
    * checks use, so a check probes exactly the bits the writer set.
    */
  private[sources] def bloomPositions(h: Long, k: Int, m: Int): Seq[Int] = {
    val h1 = h >>> 32
    val h2 = (h & 0xffffffffL) | 1L
    (0 until k).map(i => (((h1 + i * h2) % m + m) % m).toInt)
  }

  /** Types whose bounds are collected. Encoding is chosen so the string
    * round-trips EXACTLY and session-independently: timestamps as epoch
    * micros and dates as epoch days (a `CAST(ts AS STRING)` would bake the
    * writer's session zone into the manifest and decode differently under
    * a reader zone); numerics/booleans/strings via string cast (Java
    * shortest-round-trip for float/double, `Infinity`/`NaN` specials
    * included).
    */
  private[sources] def statsEligible(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | DateType | TimestampType | BooleanType => true
    case _ => false
  }

  /** Columns that carry equi-height quantile fences (and whose bounds
    * [[planStatsTable]] encodes for the CBO): plain numerics. Catalyst's
    * `Histogram` speaks doubles, so the fences cast through double — the
    * lossy-above-2⁵³ long corner is acceptable for an ESTIMATOR (bounds
    * and NDV stay exact-typed).
    */
  private[sources] def histEligible(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | _: DecimalType => true
    case _ => false
  }

  private def statsToJson(s: FileStats): String = {
    val cols = JObject(s.cols.toList.sortBy(_._1).map { case (n, c) =>
      n -> (JObject(List("nulls" -> (JLong(c.nulls): JValue)) ++
        c.min.map(v => "min" -> (JString(v): JValue)) ++
        c.max.map(v => "max" -> (JString(v): JValue)) ++
        c.ndv.map(v => "ndv" -> (JString(v): JValue)) ++
        c.hist.map(h => "hist" ->
          (JArray(h.toList.map(JString(_): JValue)): JValue)) ++
        c.bloom.map(b => "bloom" -> (JObject(
          "k" -> (JInt(b.k): JValue),
          "bits" -> (JString(b.bits): JValue)): JValue))): JValue)
    })
    JsonMethods.compact(
      JObject("rows" -> (JLong(s.rows): JValue), "cols" -> (cols: JValue)))
  }

  private def jLong(j: JValue): Long = j match {
    case JLong(n) => n
    case JInt(n) => n.toLong
    case other => throw new IllegalArgumentException(s"expected number, got $other")
  }

  private def statsFromJson(s: String): FileStats = {
    val j = JsonMethods.parse(s)
    val cols = (j \ "cols") match {
      case JObject(fields) => fields.map { case (name, c) =>
        def str(k: String): Option[String] = (c \ k) match {
          case JString(v) => Some(v)
          case _ => None
        }
        val bloom = (c \ "bloom") match {
          case b: JObject => (b \ "bits") match {
            case JString(bits) => Some(BloomStat(jLong(b \ "k").toInt, bits))
            case _ => None
          }
          case _ => None
        }
        val hist = (c \ "hist") match {
          case JArray(vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[JString]) =>
            Some(vs.map(_.asInstanceOf[JString].s))
          case _ => None
        }
        name -> ColStats(str("min"), str("max"), jLong(c \ "nulls"), bloom,
          str("ndv"), hist)
      }.toMap
      case _ => Map.empty[String, ColStats]
    }
    FileStats(jLong(j \ "rows"), cols)
  }

  /** Histogram bins for the stats of a write: `spark.graft.stats.histogramBins`
    * when set (0 disables the fences), else [[HistBins]]. A malformed value
    * fails the write loudly instead of silently falling back to the
    * default.
    */
  private[sources] def histogramBins(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.stats.histogramBins") match {
      case None => HistBins
      case Some(s) =>
        val n = scala.util.Try(s.trim.toInt).toOption
        require(n.exists(_ >= 0),
          s"spark.graft.stats.histogramBins must be a non-negative integer, got '$s'")
        n.get
    }

  /** The write-time collector of [[FileStats]] for one manifest write
    * ([[FileStatsTracker]]): stats cover the first [[MaxStatsCols]]
    * eligible ACTIVE columns of `dataSchema`, recorded under their
    * PHYSICAL names (what the files and every later reader speak); bloom
    * bits for the declared `bloomCols` (logical names) among them;
    * histogram fences for the numeric ones. `written` is the data schema
    * the write emits (physical names, partition columns excluded) and
    * `depth` the number of partition directories above each file.
    * Carried entries keep the stats they were born with, so the stats
    * cost of a commit tracks the data it writes, never the table.
    */
  private[sources] def statsTracker(spark: SparkSession, dataSchema: StructType,
                                    bloomCols: Seq[String], written: StructType,
                                    depth: Int): FileStatsTracker = {
    val statCols = activeSchema(dataSchema).fields
      .filter(f => statsEligible(f.dataType)).take(MaxStatsCols)
    // bloom columns must be within the stats-indexed set — matched by
    // PHYSICAL name, the stable identity renames never touch
    val bloomPhys = bloomCols.map(n =>
      dataSchema.find(_.name == n).map(physicalName).getOrElse(n)).toSet
    val histBins = histogramBins(spark)
    val cols = statCols.toSeq.map { f =>
      val p = physicalName(f)
      val exact = written.fieldNames.indexOf(p)
      val ord =
        if (exact >= 0) exact else written.fieldNames.indexWhere(_.equalsIgnoreCase(p))
      StatCol(p, f.dataType, ord,
        if (ord < 0) f.dataType else written(ord).dataType,
        histBins > 0 && histEligible(f.dataType), bloomPhys.contains(p))
    }
    new FileStatsTracker(cols, histBins, depth,
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()))
  }

  /** Decoded, directly-comparable form of [[ColStats]]: Catalyst-internal
    * min/max values for the column's type (UTF8String for strings, micros
    * for timestamps, ...), ready for the ordering-based envelope checks in
    * [[ManifestFileIndex.mightMatch]].
    */
  private[sources] case class ColSkip(min: Option[Any], max: Option[Any],
                                      nulls: Long, dataType: DataType,
                                      bloom: Option[(Int, Array[Byte])] = None)
  private[sources] case class FileSkip(rows: Long, cols: Map[String, ColSkip])

  private def decodeBound(s: String, dt: DataType, zone: String): Any = dt match {
    case TimestampType => s.toLong // epoch micros = the internal value
    case DateType => s.toInt // epoch days = the internal value
    case _ =>
      Cast(Literal(UTF8String.fromString(s), StringType), dt, Option(zone)).eval()
  }

  /** The LOSSLESS type widenings [[graft.sources.Layout.widenColumn]]
    * accepts as metadata-only schema changes: exactly the promotions
    * Spark 4's parquet readers (vectorized and parquet-mr) serve natively
    * — a footer written with the narrow physical type is decoded straight
    * into the wide logical vector, so not one data file is rewritten.
    * long → double is deliberately ABSENT (longs above 2⁵³ don't survive
    * the trip), as is date → timestamp (a zone-semantics change, not a
    * widening).
    */
  def isWidening(from: DataType, to: DataType): Boolean = (from, to) match {
    case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
    case (ShortType, IntegerType | LongType | DoubleType) => true
    case (IntegerType, LongType | DoubleType) => true
    case (FloatType, DoubleType) => true
    case (f: DecimalType, t: DecimalType) =>
      t.scale == f.scale && t.precision > f.precision
    case _ => false
  }

  /** Re-encode a stats bound across a widening: decode under the NARROW
    * type the file was profiled with, widen the VALUE, re-encode under the
    * wide type — the same Catalyst casts [[FileStatsTracker]] encodes with, so
    * the round trip is bit-exact. This is not cosmetic: a float bound
    * "0.1" re-read as double would be 0.1d, but the file's actual values
    * widen to 0.10000000149…d — ABOVE the envelope — and skipping would
    * wrongly prune. `None` (unknown bound, never skips) if anything about
    * the stored string fails to decode.
    */
  private[sources] def reencodeBound(s: String, from: DataType, to: DataType,
                                     zone: String): Option[String] = {
    val widened = Cast(Cast(Literal(UTF8String.fromString(s), StringType),
      from, Option(zone)), to, Option(zone))
    Option(Cast(widened, StringType, Option(zone)).eval()).map(_.toString)
  }

  private def decodeStats(s: FileStats, dataSchema: StructType,
                          partitionSchema: StructType, zone: String): FileSkip = {
    // stats (and the pushed filters they are checked against) live in
    // PHYSICAL names — resolve the type through the mapping. Partition
    // columns resolve too: after a repartitionTable a column that moved
    // into the partition spec still has stats envelopes on OLD-spec files
    // (where it was payload), and predicates on it must keep stat-skipping
    // those files (ADVICE r10). Spec columns are physical-identity by
    // construction, so the one find covers both.
    val fields = activeSchema(dataSchema).fields ++ partitionSchema.fields
    val cols = s.cols.flatMap { case (name, c) =>
      fields.find(f => physicalName(f) == name).map { f =>
        name -> ColSkip(c.min.map(decodeBound(_, f.dataType, zone)),
          c.max.map(decodeBound(_, f.dataType, zone)), c.nulls, f.dataType,
          c.bloom.map(b => (b.k, java.util.Base64.getDecoder.decode(b.bits))))
      }
    }
    FileSkip(s.rows, cols)
  }

  /** Metadata-only EXACT row count: Σ per-file rows − Σ DV'd positions,
    * when every entry carries stats (DV counts are exact by
    * construction); `None` otherwise. O(#files) driver work, zero data
    * read — `COUNT(*)` on a 100 TB table priced like a directory listing.
    */
  def rowCount(m: TableManifest): Option[Long] =
    if (m.entries.forall(_.stats.isDefined))
      Some(m.entries.iterator
        .map(e => e.stats.get.rows - e.dv.map(_.rows).getOrElse(0L)).sum)
    else None

  /** Metadata-only per-column profile folded from the manifest's file
    * envelopes: `(column, data_type, nulls, min, max, exact)`. A file
    * written before a column existed contributes its full row count as
    * nulls (the read null-fills by name); a bound a file could not record
    * (over-long string) nulls that bound. `exact = false` when any entry
    * lacks stats (then nulls/min/max are all null — half a table is not a
    * profile) or when deletion vectors are outstanding (envelopes and
    * null counts describe PRE-delete rows — still a superset, never
    * wrong, but not exact). min/max are the manifest's string encodings
    * (timestamps = epoch micros, dates = epoch days).
    */
  def columnProfile(spark: SparkSession, m: TableManifest): DataFrame = {
    import scala.jdk.CollectionConverters._
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    val allStats = m.entries.forall(_.stats.isDefined)
    val exact = allStats && !m.entries.exists(_.dv.isDefined)
    val out = activeSchema(m.dataSchema).map { f =>
      val phys = physicalName(f)
      if (!allStats)
        org.apache.spark.sql.Row(f.name, f.dataType.simpleString,
          null, null, null, false)
      else {
        val ord = TypeUtils.getInterpretedOrdering(f.dataType)
        var nulls = 0L
        var minEnc: Option[String] = None; var minVal: Option[Any] = None
        var maxEnc: Option[String] = None; var maxVal: Option[Any] = None
        var boundUnknown = false
        m.entries.foreach { e =>
          val s = e.stats.get
          s.cols.get(phys) match {
            case Some(c) =>
              nulls += c.nulls
              val hasValues = c.nulls < s.rows
              (c.min, c.max) match {
                case (Some(lo), Some(hi)) =>
                  val vLo = decodeBound(lo, f.dataType, zone)
                  val vHi = decodeBound(hi, f.dataType, zone)
                  if (minVal.forall(ord.lt(vLo, _))) { minVal = Some(vLo); minEnc = Some(lo) }
                  if (maxVal.forall(ord.gt(vHi, _))) { maxVal = Some(vHi); maxEnc = Some(hi) }
                case _ => if (hasValues) boundUnknown = true
              }
            case None => nulls += s.rows // column born after this file
          }
        }
        org.apache.spark.sql.Row(f.name, f.dataType.simpleString,
          nulls: java.lang.Long,
          if (boundUnknown) null else minEnc.orNull,
          if (boundUnknown) null else maxEnc.orNull,
          exact)
      }
    }
    spark.createDataFrame(out.asJava, StructType(Seq(
      org.apache.spark.sql.types.StructField("column", StringType, false),
      org.apache.spark.sql.types.StructField("data_type", StringType, false),
      org.apache.spark.sql.types.StructField("nulls",
        org.apache.spark.sql.types.LongType, true),
      org.apache.spark.sql.types.StructField("min", StringType, true),
      org.apache.spark.sql.types.StructField("max", StringType, true),
      org.apache.spark.sql.types.StructField("exact", BooleanType, false))))
  }

  // --------------------------------------------------------------- read path

  /** Names of the file-lineage columns [[dataFrame]] exposes when asked
    * (`lineage = true`): the scan file's path and the row's 0-based parquet
    * row index — the coordinates deletion vectors address rows by.
    */
  val FileCol = "__graft_file"
  val PosCol = "__graft_pos"

  // ------------------------------------------------------ column mapping

  /** StructField metadata key holding a column's PHYSICAL name — the name
    * it was born with and the one every parquet footer (and every stats /
    * bloom entry) uses forever. A RENAME changes only the logical name in
    * the manifest schema; files are never rewritten (Delta's
    * column-mapping shape). Absent metadata means logical = physical.
    */
  val PhysicalKey = "graft.physical"

  def physicalName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  /** StructField metadata key marking a DROPPED column. The field stays in
    * the manifest schema as a TOMBSTONE — invisible to reads and writers —
    * so its physical name remains claimed forever: re-adding a column with
    * that name would otherwise resolve against old footers and silently
    * resurrect the dropped values. The write-time physical-collision guard
    * turns that corruption into a loud rejection.
    */
  val DroppedKey = "graft.dropped"

  def isDropped(f: org.apache.spark.sql.types.StructField): Boolean =
    f.metadata.contains(DroppedKey) && f.metadata.getBoolean(DroppedKey)

  /** The live (non-tombstone) fields — what reads project and writers emit. */
  def activeSchema(s: StructType): StructType =
    StructType(s.filterNot(isDropped))

  /** Schema as the FILES spell it (physical names, metadata dropped). */
  def physicalSchema(s: StructType): StructType =
    StructType(s.map(f =>
      org.apache.spark.sql.types.StructField(physicalName(f), f.dataType,
        f.nullable)))

  private def hasRenames(s: StructType): Boolean =
    s.exists(f => physicalName(f) != f.name)

  /** Rename `df`'s logical data columns to their physical names before a
    * file write — every manifest-root writer funnels through this so new
    * files always agree with old footers.
    */
  def toPhysical(df: DataFrame, dataSchema: StructType): DataFrame =
    dataSchema.foldLeft(df) { (d, f) =>
      val p = physicalName(f)
      if (p != f.name && d.columns.contains(f.name))
        d.withColumnRenamed(f.name, p)
      else d
    }

  /** Carry physical-name metadata from `prior` onto same-named fields of
    * `next` — a merge/evolution recomputes the data schema from a
    * DataFrame whose fields lost their metadata; without this a rename
    * would silently detach from its physical column on the next commit.
    */
  def carryPhysical(next: StructType, prior: StructType): StructType =
    StructType(next.map { f =>
      prior.find(_.name == f.name) match {
        case Some(p) if p.metadata.contains(PhysicalKey) =>
          org.apache.spark.sql.types.StructField(f.name, f.dataType,
            f.nullable, p.metadata)
        case _ => f
      }
    })

  private[sources] def absEntryPath(root: String, p: String): Path =
    if (p.startsWith("/") || p.contains("://")) new Path(p) else new Path(root, p)

  /** The URL-ENCODED form `_metadata.file_path` reports for an entry's
    * absolute path — the ONE canonical key for joining scan lineage
    * against manifest entries. Hive leaf names may contain characters
    * (space, `%`, …) that Spark's `SparkPath` URL-encodes in the metadata
    * column while `Path.toString` keeps them literal; comparing the two
    * forms directly silently drops every match under such a partition
    * value (found as missed MERGE deletes under `pri=4-NOT SPECIFIED`).
    */
  private[sources] def scanPathOf(root: String, p: String): String =
    org.apache.spark.paths.SparkPath.fromPath(absEntryPath(root, p)).urlEncoded

  /** Inverse of the encoding above: the literal path of a
    * `_metadata.file_path` value, comparable to entry paths. */
  private[sources] def literalScanPath(urlEncoded: String): String =
    org.apache.spark.paths.SparkPath.fromUrlString(urlEncoded).toPath.toString

  /** Snapshot DataFrame over a manifest (optionally restricted to a leaf
    * subset): one [[HadoopFsRelation]] scan with partition values decoded
    * from leaf names. Output columns = data schema ++ partition schema,
    * the same shape as a hive-discovered read of the leaf dirs.
    *
    * Entries carrying a deletion-vector reference get their deleted
    * positions dropped by ONE broadcast anti-join against the referenced DV
    * datasets, keyed on `(_metadata.file_path, _metadata.row_index)` — the
    * join's build side is O(deleted rows), and data filters still push
    * through the anti-join into the scan (file skipping and partition
    * pruning are unaffected; envelopes stay conservative supersets of the
    * live rows). When NO kept entry has a DV, the plan is exactly the bare
    * scan — zero overhead on DV-free tables.
    *
    * `lineage = true` appends [[FileCol]]/[[PosCol]] columns (post-DV) —
    * the row-delete writer uses this to address the rows a predicate
    * matched.
    */
  /** The partition COLUMN NAMES a leaf path dir-encodes, in dir order —
    * every entry is self-describing (`a=1/b=2` ⇒ Seq(a, b)), which is what
    * lets [[graft.sources.Layout.repartitionTable]] be metadata-only: the
    * manifest never records a per-entry spec id, the leaf IS the spec.
    */
  private[sources] def leafSpec(leaf: String): Seq[String] =
    if (leaf.isEmpty) Nil
    else leaf.split('/').toSeq.map { seg =>
      val i = seg.indexOf('=')
      require(i > 0, s"malformed hive leaf segment '$seg' in '$leaf'")
      ExternalCatalogUtils.unescapePathName(seg.substring(0, i))
    }

  /** Synthesize plan-level statistics from the kept entries' per-file
    * stats, as the `CatalogTable` a `LogicalRelation` reads them from —
    * the S74 ANALYZE-free CBO feed: `rowCount` (Σ per-file rows — the
    * SCAN's count; deletion-vector filters sit above it and estimate
    * down from there), per-NUMERIC-column null counts and [min, max]
    * envelopes (numeric bounds encode as plain decimal strings on both
    * sides; string/date/timestamp bounds use layout-specific encodings
    * `CatalogColumnStat` would misparse, so they stay out). Zero extra
    * IO — the numbers are already in the manifest — and inert unless
    * `spark.sql.cbo.enabled` / plan-stats is on (`toPlanStats` then
    * feeds join reorder and build-side choice); with CBO off the
    * statistics degrade to the same sizeInBytes the FileIndex reports.
    * Returns None when any kept entry lacks stats (pre-stats files: an
    * unknown subset makes every aggregate a lie).
    */
  /** Merge per-file equi-height fences into ONE table-level equi-height
    * [[org.apache.spark.sql.catalyst.plans.logical.Histogram]] (S82).
    *
    * Each file's fences define a piecewise-linear CDF (mass `n_i / k` per
    * bin, uniform within; a zero-width bin is a point mass). The merged
    * CDF is their row-count-weighted sum — built as a slope/jump sweep
    * over the sorted union of fences, O(F log F) in total fence count,
    * never per-row — and the global fences come from inverting it at the
    * equi-height targets `j·N/bins`. Per-bin NDV is the crude
    * proportional split `max(1, ndv/bins)` (the exact per-bin count needs
    * a per-bin pass ANALYZE pays and a write-time stats pass cannot);
    * range estimates read bin BOUNDARIES, so the approximation costs
    * little where histograms matter most.
    */
  private def mergeHistogram(files: Seq[(Long, Seq[Double])], ndv: Long)
      : Option[org.apache.spark.sql.catalyst.plans.logical.Histogram] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Histogram, HistogramBin}
    if (files.isEmpty ||
        files.exists { case (_, f) =>
          f.length < 2 || f.exists(d => d.isNaN || d.isInfinite) ||
            f.zip(f.tail).exists { case (a, b) => a > b } })
      return None
    val n = files.map(_._1).sum.toDouble
    // sweep events: slope changes at linear-bin edges, jumps at point masses
    val slopeAt = scala.collection.mutable.Map.empty[Double, Double]
    val jumpAt = scala.collection.mutable.Map.empty[Double, Double]
    files.foreach { case (ni, f) =>
      val mass = ni.toDouble / (f.length - 1)
      f.zip(f.tail).foreach { case (lo, hi) =>
        if (hi > lo) {
          slopeAt(lo) = slopeAt.getOrElse(lo, 0.0) + mass / (hi - lo)
          slopeAt(hi) = slopeAt.getOrElse(hi, 0.0) - mass / (hi - lo)
        } else jumpAt(lo) = jumpAt.getOrElse(lo, 0.0) + mass
      }
    }
    val knots = (slopeAt.keySet ++ jumpAt.keySet).toArray.sorted
    // one sweep records, per knot: the CDF just after its jump and the
    // slope of the segment leaving it
    val cumAfter = new Array[Double](knots.length)
    val slopeOut = new Array[Double](knots.length)
    var cum = 0.0; var slope = 0.0
    knots.zipWithIndex.foreach { case (x, i) =>
      if (i > 0) cum += slope * (x - knots(i - 1))
      cum += jumpAt.getOrElse(x, 0.0)
      slope += slopeAt.getOrElse(x, 0.0)
      cumAfter(i) = cum
      slopeOut(i) = slope
    }
    def invert(t: Double): Double = {
      var i = java.util.Arrays.binarySearch(cumAfter, t)
      if (i < 0) i = -i - 1 // first index with cumAfter >= t
      if (i <= 0) knots.head
      else if (i >= knots.length) knots.last
      else {
        val c0 = cumAfter(i - 1)
        val cBeforeJump = c0 + slopeOut(i - 1) * (knots(i) - knots(i - 1))
        if (t >= cBeforeJump) knots(i)
        else knots(i - 1) +
          (knots(i) - knots(i - 1)) * (t - c0) / (cBeforeJump - c0)
      }
    }
    // global fences: knots.head, the monotonized equi-height inversions,
    // knots.last
    val inner = (1 until HistBins).map(j => invert(n * j / HistBins))
      .scanLeft(knots.head)(math.max).tail
    val all = (knots.head +: inner :+ knots.last).toArray
    val binNdv = math.max(1L, math.round(ndv.toDouble / HistBins))
    val bins = (0 until HistBins).map(j =>
      HistogramBin(all(j), all(j + 1), binNdv)).toArray
    Some(Histogram(n / HistBins, bins))
  }

  private def planStatsTable(m: TableManifest, kept: Seq[Entry])
      : Option[org.apache.spark.sql.catalyst.catalog.CatalogTable] = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog._
    if (kept.isEmpty || kept.exists(_.stats.isEmpty)) return None
    val stats = kept.map(_.stats.get)
    val rowCount = stats.map(_.rows).sum
    val size = math.max(1L, kept.map(_.size).sum)
    val active = activeSchema(m.dataSchema)
    val colStats: Map[String, CatalogColumnStat] = active.fields.flatMap { f =>
      val phys = physicalName(f)
      val numeric = f.dataType match {
        case ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType | _: DecimalType => true
        case _ => false
      }
      val per = stats.map(_.cols.get(phys))
      if (per.exists(_.isEmpty)) None
      else {
        val cs = per.map(_.get)
        def bound(sel: ColStats => Option[String],
                  pickMin: Boolean): Option[String] = {
          val bs = cs.map(sel)
          if (bs.exists(_.isEmpty)) None
          else {
            // double/float bounds can be "NaN"/"Infinity" (min/max order
            // NaN above every double) — not BigDecimal-parsable; an
            // unparsable bound means NO envelope, never a crash during
            // read-plan construction (review fix)
            val ds = bs.map(s => scala.util.Try(BigDecimal(s.get)))
            if (ds.exists(_.isFailure)) None
            else {
              val vs = ds.map(_.get)
              Some((if (pickMin) vs.min else vs.max).bigDecimal.toPlainString)
            }
          }
        }
        // distinctCount (S79): driver-side UNION of the per-file HLL
        // sketches — estimates the union's cardinality, never the sum of
        // per-file counts (keys repeat across files). Any entry missing a
        // sketch (pre-S79 file) → no NDV for that column; min/max/nulls
        // still feed. Clamped to the non-null row count (an estimator can
        // legally wobble above it; the CBO treats ndv > rows as garbage).
        val ndv: Option[BigInt] =
          if (cs.exists(_.ndv.isEmpty)) None
          else scala.util.Try {
            val u = new org.apache.datasketches.hll.Union(NdvLgK)
            cs.foreach { c =>
              u.update(org.apache.datasketches.hll.HllSketch.heapify(
                java.util.Base64.getDecoder.decode(c.ndv.get)))
            }
            val nonNull = rowCount - cs.map(_.nulls).sum
            BigInt(math.max(0L,
              math.min(math.round(u.getResult.getEstimate), nonNull)))
          }.toOption
        val minB = if (numeric) bound(_.min, pickMin = true) else None
        val maxB = if (numeric) bound(_.max, pickMin = false) else None
        // equi-height histogram (S82): merged from the per-file fences
        // when EVERY row-bearing entry carries them (pre-S82 files → no
        // histogram; min/max/NDV still feed) — and only alongside a full
        // [min, max] envelope, which the estimator reads in tandem
        val histogram =
          if (minB.isEmpty || maxB.isEmpty || ndv.isEmpty) None
          else {
            val pairs = stats.zip(cs).map { case (fss, c) =>
              (fss.rows - c.nulls, c.hist) }
            val bearing = pairs.filter(_._1 > 0)
            if (bearing.isEmpty || bearing.exists(_._2.isEmpty)) None
            else scala.util.Try(mergeHistogram(
              bearing.map { case (nn, h) =>
                (nn, h.get.map(_.toDouble)) }, ndv.get.toLong))
              .toOption.flatten
          }
        // numeric columns carry bounds; the rest (string/date/timestamp/
        // boolean — layout-specific bound encodings CatalogColumnStat
        // would misparse) still carry nullCount + distinctCount, which is
        // what join-reorder cardinality needs on key columns
        if (!numeric && ndv.isEmpty) None
        else Some(phys -> CatalogColumnStat(
          distinctCount = ndv,
          min = minB,
          max = maxB,
          nullCount = Some(BigInt(cs.map(_.nulls).sum)),
          avgLen = None, maxLen = None,
          histogram = histogram))
      }
    }.toMap
    Some(CatalogTable(
      identifier = TableIdentifier("graft_snapshot"),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty,
      schema = StructType(physicalSchema(active) ++ m.partitionSchema),
      provider = Some("parquet"),
      stats = Some(CatalogStatistics(BigInt(size), Some(BigInt(rowCount)),
        colStats))))
  }

  def dataFrame(spark: SparkSession, root: String, m: TableManifest,
                onlyLeaves: Option[Set[String]] = None,
                lineage: Boolean = false): DataFrame = {
    val kept = onlyLeaves match {
      case Some(ls) => m.entries.filter(e => ls.contains(e.leaf))
      case None => m.entries
    }
    val currentSpec = m.partitionSchema.fieldNames.toSeq
    if (kept.exists(e => leafSpec(e.leaf) != currentSpec))
      return mixedSpecDataFrame(spark, root, m, kept, lineage)
    val skipByPath = skipMapOf(spark, root, m, kept)
    val active = activeSchema(m.dataSchema)
    val index = new ManifestFileIndex(new Path(root), m.partitionSchema,
      partitionDirectories(spark, root, m.partitionSchema, kept), skipByPath)
    // the SCAN speaks physical names (what the footers, stats and blooms
    // use) and reads only ACTIVE columns (a dropped column's bytes are
    // never fetched); renamed columns are aliased back to their logical
    // names above it — a pure Project that filters still push through
    val relation = HadoopFsRelation(index, m.partitionSchema,
      physicalSchema(active),
      None, new ParquetFileFormat, Map.empty)(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    val base1 = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(relation)
    // plan stats ride a synthetic CatalogTable on the LogicalRelation —
    // aliases above propagate them, so renames cost nothing (S74). Built
    // ONLY when the cost model would read them: with CBO/plan-stats off,
    // toPlanStats discards everything but sizeInBytes (which the
    // FileIndex already reports), so paying per-entry bound parses on
    // every read would buy nothing (review fix)
    val statsWanted =
      spark.conf.get("spark.sql.cbo.enabled", "false").toBoolean ||
        spark.conf.get("spark.sql.cbo.planStats.enabled", "false").toBoolean
    val base0 = (if (statsWanted) planStatsTable(m, kept) else None) match {
      case Some(ct) => base1.queryExecution.logical match {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          org.apache.spark.sql.graft.Shim.ofRows(spark,
            lr.copy(catalogTable = Some(ct)))
        case _ => base1
      }
      case None => base1
    }
    val base =
      if (!hasRenames(active)) base0
      else base0.select(
        active.map(f => col(s"`${physicalName(f)}`").as(f.name)) ++
          m.partitionSchema.map(f => col(s"`${f.name}`")): _*)
    val dvEntries = kept.filter(_.dv.isDefined)
    if (dvEntries.isEmpty && !lineage) return base
    val withLin = base.select(base.columns.map(col) ++ Seq(
      col(s"_metadata.file_path").as(FileCol),
      col(s"_metadata.row_index").as(PosCol)): _*)
    val applied = applyDvAntiJoin(spark, root, dvEntries, withLin)
    if (lineage) applied else applied.drop(FileCol, PosCol)
  }

  /** One broadcast anti-join dropping every (file, position) the given
    * entries' deletion vectors name; `df` must already carry
    * [[FileCol]]/[[PosCol]]. SHARED by the uniform and mixed-spec read
    * paths — DV semantics (and the URL-encoded-path keying) must never
    * diverge between them.
    */
  private def applyDvAntiJoin(spark: SparkSession, root: String,
                              dvEntries: Seq[Entry], df: DataFrame): DataFrame = {
    if (dvEntries.isEmpty) return df
    // dvKey → absolute scan path for the kept DV-bearing entries; the
    // DV datasets key on dvKey, the scan reports absolute paths
    val keyToAbs = dvEntries.map(e =>
      (dvKey(e.path), scanPathOf(root, e.path)))
    require(keyToAbs.map(_._1).distinct.size == keyToAbs.size,
      "dvKey collision: two DV-bearing entries share a version-relative " +
        "suffix (multi-source clone) — compact to re-home before reading")
    val mapDf = spark.createDataFrame(keyToAbs).toDF("__dv_key", "__dv_file")
    val dirs = dvEntries.flatMap(_.dv.map(d =>
      absEntryPath(root, d.path).toString)).distinct
    val dv = readDv(spark, dirs)
      .join(mapDf, col("path") === col("__dv_key"))
      .select(col("__dv_file"), col("pos").as("__dv_pos"))
    df.join(broadcast(dv),
      col(FileCol) === col("__dv_file") && col(PosCol) === col("__dv_pos"),
      "left_anti")
  }

  /** Per-file skip envelopes keyed by literal absolute path — shared by
    * both read paths (the keys must match the FileStatus paths the
    * manifest index synthesizes, not the URL-encoded scan form).
    */
  private def skipMapOf(spark: SparkSession, root: String, m: TableManifest,
                        kept: Seq[Entry]): Map[String, FileSkip] = {
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    kept.flatMap { e =>
      e.stats.map(s =>
        absEntryPath(root, e.path).toString ->
          decodeStats(s, m.dataSchema, m.partitionSchema, zone))
    }.toMap
  }

  /** Read path for a table whose entries span MORE THAN ONE partition
    * spec — the state a metadata-only [[graft.sources.Layout.repartitionTable]]
    * leaves behind until compaction re-specs old leaves. One scan branch
    * per spec: each branch's dir-encoded columns come from its leaf names
    * and everything else from its files' payload (schema-on-read
    * null-fills columns added after the file was written), and the
    * branches union behind one canonical projection (active logical
    * columns ++ current partition columns). Catalyst pushes data filters
    * into every union branch; a predicate on a column dir-encoded in one
    * branch and payload in another partition-prunes the former and
    * file-skips (stats envelopes) the latter. Uniform-spec tables never
    * reach this path — they keep [[dataFrame]]'s single-relation plan
    * bit-for-bit.
    */
  private def mixedSpecDataFrame(spark: SparkSession, root: String,
                                 m: TableManifest, kept: Seq[Entry],
                                 lineage: Boolean): DataFrame = {
    val skipByPath = skipMapOf(spark, root, m, kept)
    val active = activeSchema(m.dataSchema)
    val fieldBy = (active ++ m.partitionSchema).map(f => f.name -> f).toMap
    val needLin = lineage || kept.exists(_.dv.isDefined)
    val branches = kept.groupBy(e => leafSpec(e.leaf)).toSeq
      .sortBy(_._1.mkString("/"))
      .map { case (spec, es) =>
        val pSchema = StructType(spec.map { n =>
          val f = fieldBy.getOrElse(n, throw new IllegalStateException(
            s"leaf spec column '$n' is not a live table column — the " +
              "dropColumn/renameColumn dir-encoded guards should have " +
              "refused the commit that caused this"))
          org.apache.spark.sql.types.StructField(f.name, f.dataType,
            nullable = true)
        })
        val payload = StructType((active ++ m.partitionSchema)
          .filterNot(f => spec.contains(f.name)))
        val index = new ManifestFileIndex(new Path(root), pSchema,
          partitionDirectories(spark, root, pSchema, es), skipByPath)
        val relation = HadoopFsRelation(index, pSchema,
          physicalSchema(payload), None, new ParquetFileFormat, Map.empty)(
          spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
        val b0 = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          .baseRelationToDataFrame(relation)
        val cols = (active ++ m.partitionSchema).map { f =>
          if (spec.contains(f.name)) col(s"`${f.name}`")
          else col(s"`${physicalName(f)}`").as(f.name)
        } ++ (if (needLin) Seq(col(s"_metadata.file_path").as(FileCol),
          col(s"_metadata.row_index").as(PosCol)) else Nil)
        b0.select(cols: _*)
      }
    val base = branches.reduce(_ unionByName _)
    val applied = applyDvAntiJoin(spark, root, kept.filter(_.dv.isDefined), base)
    if (lineage) applied
    else if (needLin) applied.drop(FileCol, PosCol)
    else applied
  }

  /** Schema of a deletion-vector dataset; see [[DvRef]]. */
  val DvSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("path", StringType, nullable = false),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** The `(path, pos)` rows of the deletion-vector sidecars in `dirs`
    * (`vNNNNN/_dv`), read by their part files: handed the directories
    * themselves, Spark treats the leading `_` as hidden and logs "All
    * paths were ignored" on every read.
    */
  private[sources] def readDv(spark: SparkSession, dirs: Seq[String]): DataFrame = {
    val files = dirs.flatMap { d =>
      val dir = new Path(d)
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(dir)
        .map(_.getPath)
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(_.toString)
    }
    spark.read.schema(DvSchema).parquet(files: _*)
  }

  private def partitionDirectories(spark: SparkSession, root: String,
                                   partitionSchema: StructType,
                                   entries: Seq[Entry])
      : Seq[(InternalRow, Seq[FileStatusWithMetadata])] = {
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    entries.groupBy(_.leaf).toSeq.sortBy(_._1).map { case (leaf, es) =>
      val values = parseLeaf(leaf, partitionSchema, zone)
      val files = es.map(e => FileStatusWithMetadata(
        new FileStatus(e.size, false, 0, 0, 0L, absEntryPath(root, e.path)),
        Map.empty))
      (values, files)
    }
  }

  /** Decode `a=1/b=2` into an InternalRow ordered by `partitionSchema` —
    * hive escaping and the null sentinel handled exactly as the writer
    * produced them, values cast to the ORIGINAL column types the manifest
    * preserved (so no int/long narrowing round-trip, unlike partition
    * inference).
    */
  private[sources] def parseLeaf(leaf: String, partitionSchema: StructType,
                                 zone: String): InternalRow = {
    if (partitionSchema.isEmpty) return InternalRow.empty
    val kv = leaf.split('/').map { seg =>
      val i = seg.indexOf('=')
      require(i > 0, s"malformed hive leaf segment '$seg' in '$leaf'")
      ExternalCatalogUtils.unescapePathName(seg.substring(0, i)) ->
        seg.substring(i + 1)
    }.toMap
    val values = partitionSchema.fields.map { f =>
      val raw = kv.getOrElse(f.name,
        throw new IllegalArgumentException(
          s"leaf '$leaf' missing partition column ${f.name}"))
      if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
      else {
        val s = ExternalCatalogUtils.unescapePathName(raw)
        Cast(Literal(UTF8String.fromString(s), StringType), f.dataType,
          Option(zone)).eval()
      }
    }
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }
}

/** Manifest-backed [[FileIndex]]: the per-leaf file lists and partition
  * values are fixed at construction (a snapshot is immutable), so `listFiles`
  * is pure in-memory partition pruning — the same bound-predicate filter
  * `InMemoryFileIndex` applies after its directory crawl, minus the crawl —
  * PLUS file-level data skipping: each surviving partition's files are
  * checked against the pushed data filters using the manifest's per-file
  * min/max/null-count envelopes, and files where a conjunct provably holds
  * for no row are dropped before task planning. Parquet's own row-group
  * pruning would reject the same files, but only after a footer read and a
  * scheduled task per file — at 100 TB the difference is the job.
  */
final class ManifestFileIndex(
    root: Path,
    override val partitionSchema: StructType,
    partitions: Seq[(InternalRow, Seq[FileStatusWithMetadata])],
    skipByPath: Map[String, ManifestIndex.FileSkip] = Map.empty)
  extends FileIndex {

  import ManifestIndex.{ColSkip, FileSkip}

  override def rootPaths: Seq[Path] = Seq(root)

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val selected =
      if (partitionFilters.isEmpty || partitionSchema.isEmpty) partitions
      else {
        val bound = Predicate.createInterpreted(
          partitionFilters.reduce(And).transform {
            case a: AttributeReference =>
              val i = partitionSchema.fieldIndex(a.name)
              BoundReference(i, partitionSchema(i).dataType, nullable = true)
          })
        partitions.filter { case (values, _) => bound.eval(values) }
      }
    val skipped =
      if (dataFilters.isEmpty || skipByPath.isEmpty) selected
      else selected.map { case (values, files) =>
        (values, files.filter(f => skipByPath.get(f.getPath.toString).forall(
          st => dataFilters.forall(p => mightMatch(p, st)))))
      }
    skipped.map { case (values, files) => PartitionDirectory(values, files) }
  }

  /** Conservative three-valued skipping: `false` ONLY when the predicate
    * provably holds for no row of the file given its envelope; any
    * unrecognized shape, type mismatch, or missing bound returns `true`
    * (keep the file). Comparison/equality conjuncts are null-rejecting, so
    * an all-null column (nulls == rows) prunes them outright; a missing
    * bound (over-long string, column added after the file was written)
    * only un-bounds its own side.
    */
  private def mightMatch(e: Expression, f: FileSkip): Boolean = e match {
    case And(l, r) => mightMatch(l, f) && mightMatch(r, f)
    case Or(l, r) => mightMatch(l, f) || mightMatch(r, f)
    case EqualTo(a: AttributeReference, Literal(v, dt)) => eqMight(a, v, dt, f)
    case EqualTo(Literal(v, dt), a: AttributeReference) => eqMight(a, v, dt, f)
    case EqualNullSafe(a: AttributeReference, Literal(v, dt)) =>
      if (v == null) nullMight(a, f) else eqMight(a, v, dt, f)
    case EqualNullSafe(Literal(v, dt), a: AttributeReference) =>
      if (v == null) nullMight(a, f) else eqMight(a, v, dt, f)
    case LessThan(a: AttributeReference, Literal(v, dt)) =>
      cmpMight(a, v, dt, f)((ord, lo, _) => lo.forall(ord.lt(_, v)))
    case LessThan(Literal(v, dt), a: AttributeReference) =>
      cmpMight(a, v, dt, f)((ord, _, hi) => hi.forall(ord.gt(_, v)))
    case LessThanOrEqual(a: AttributeReference, Literal(v, dt)) =>
      cmpMight(a, v, dt, f)((ord, lo, _) => lo.forall(ord.lteq(_, v)))
    case LessThanOrEqual(Literal(v, dt), a: AttributeReference) =>
      cmpMight(a, v, dt, f)((ord, _, hi) => hi.forall(ord.gteq(_, v)))
    case GreaterThan(a: AttributeReference, Literal(v, dt)) =>
      cmpMight(a, v, dt, f)((ord, _, hi) => hi.forall(ord.gt(_, v)))
    case GreaterThan(Literal(v, dt), a: AttributeReference) =>
      cmpMight(a, v, dt, f)((ord, lo, _) => lo.forall(ord.lt(_, v)))
    case GreaterThanOrEqual(a: AttributeReference, Literal(v, dt)) =>
      cmpMight(a, v, dt, f)((ord, _, hi) => hi.forall(ord.gteq(_, v)))
    case GreaterThanOrEqual(Literal(v, dt), a: AttributeReference) =>
      cmpMight(a, v, dt, f)((ord, lo, _) => lo.forall(ord.lteq(_, v)))
    case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      vs.exists { case Literal(v, dt) => eqMight(a, v, dt, f) }
    case InSet(a: AttributeReference, vs) =>
      vs.exists(v => eqMight(a, v, a.dataType, f))
    case IsNull(a: AttributeReference) => nullMight(a, f)
    case IsNotNull(a: AttributeReference) =>
      f.cols.get(a.name).forall(c => c.nulls < f.rows)
    case Not(IsNull(a: AttributeReference)) =>
      f.cols.get(a.name).forall(c => c.nulls < f.rows)
    case Not(IsNotNull(a: AttributeReference)) => nullMight(a, f)
    case StartsWith(a: AttributeReference, Literal(p: UTF8String, StringType)) =>
      prefixMight(a, p, f)
    case _ => true
  }

  private def nullMight(a: AttributeReference, f: FileSkip): Boolean =
    f.cols.get(a.name).forall(_.nulls > 0)

  /** Shared preamble for the null-rejecting comparisons: no stats or type
    * mismatch → keep; all-null column → prune; else delegate to the bound
    * check (each side independently optional).
    */
  private def cmpMight(a: AttributeReference, v: Any, dt: DataType, f: FileSkip)(
      check: (Ordering[Any], Option[Any], Option[Any]) => Boolean): Boolean =
    f.cols.get(a.name) match {
      case Some(c) if c.dataType == dt =>
        if (v == null) true // `col < NULL` never matches, but Catalyst
                            // folds it away — don't reason about it here
        else if (c.nulls == f.rows) false
        else check(TypeUtils.getInterpretedOrdering(dt), c.min, c.max)
      case _ => true
    }

  private def eqMight(a: AttributeReference, v: Any, dt: DataType,
                      f: FileSkip): Boolean =
    cmpMight(a, v, dt, f) { (ord, lo, hi) =>
      lo.forall(ord.lteq(_, v)) && hi.forall(ord.gteq(_, v))
    } && bloomMight(a, v, dt, f)

  /** Point-lookup bloom check: the file can hold `v` only if all k of v's
    * bit positions are set. Bits were built from the SAME xxhash64 + KM
    * derivation over the column, so a clear bit proves absence; any stats
    * gap (no bloom, type mismatch, null literal) keeps the file.
    */
  private def bloomMight(a: AttributeReference, v: Any, dt: DataType,
                         f: FileSkip): Boolean =
    f.cols.get(a.name) match {
      case Some(c) if c.dataType == dt && v != null && c.bloom.isDefined =>
        val (k, bytes) = c.bloom.get
        val h = new org.apache.spark.sql.catalyst.expressions.XxHash64(
          Seq(Literal(v, dt))).eval(null).asInstanceOf[Long]
        ManifestIndex.bloomPositions(h, k, bytes.length * 8).forall(p =>
          (bytes(p >> 3) & (1 << (p & 7))) != 0)
      case _ => true
    }

  /** `startsWith(p)` via prefix-truncation monotonicity (u <= v implies
    * u.take(n) <= v.take(n) in code-point order, which is UTF8String's
    * binary order): the file can hold a match only if p lies between the
    * length-|p| truncations of min and max.
    */
  private def prefixMight(a: AttributeReference, p: UTF8String,
                          f: FileSkip): Boolean =
    f.cols.get(a.name) match {
      case Some(c) if c.dataType == StringType =>
        if (c.nulls == f.rows) false
        else {
          val n = p.numChars()
          val loOk = c.min.forall(m =>
            m.asInstanceOf[UTF8String].substring(0, n).compareTo(p) <= 0)
          val hiOk = c.max.forall(m =>
            m.asInstanceOf[UTF8String].substring(0, n).compareTo(p) >= 0)
          loOk && hiOk
        }
      case _ => true
    }

  override def inputFiles: Array[String] =
    partitions.flatMap(_._2.map(_.getPath.toString)).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = partitions.flatMap(_._2.map(_.getLen)).sum
}
